"""Execution-shape robustness probe: re-run the DuckDB-oracle compare
under a runtime configuration a 1000-executor deployment would
actually present — and local[32] never does.

Each axis needs its OWN SparkSession conf, and a session is a
per-process singleton, so this runs one axis per process:

    python -m tests.shape_probe partitions7           # 7-way parallelism + shuffle
    python -m tests.shape_probe aqe_off               # no runtime re-planning
    python -m tests.shape_probe no_codegen            # interpreted expression engine
    python -m tests.shape_probe arrow137              # hostile Arrow batches + splits
    python -m tests.shape_probe rocksdb               # RocksDB state store (streaming)
    python -m tests.shape_probe no_vectorized_reader  # row-based parquet decode

A result that changes under any axis is a real bug (fold-order
dependence, cross-batch kernel state, engine-divergent expressions,
provider-dependent state semantics, reader-dependent decode). The
round-12 baseline: all six axes green over the full registry (see
ARCHITECTURE.md round 12).

``tests/test_execution_shape_gate.py`` wraps these as opt-in pytest
params (SPARK_GRAFT_SHAPE_GATE=1).
"""

from __future__ import annotations

import inspect
import os
import sys

AXES: dict[str, dict[str, str]] = {
    "partitions7": {},  # via SPARK_GRAFT_CPUS below, not session conf
    "aqe_off": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    },
    "no_codegen": {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    },
    "arrow137": {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "137",
        "spark.sql.files.maxPartitionBytes": "262144",
    },
    "rocksdb": {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    },
    # Row-based parquet reader: the fallback path for schemas the
    # vectorized reader can't handle (and a distinct decode engine —
    # reader bugs are a real class).
    "no_vectorized_reader": {
        "spark.sql.parquet.enableVectorizedReader": "false",
    },
}

# Narrow axes: the failure mode only exists on a subset, so don't pay
# the full 536-query sweep for them.
_PANDAS_TAGS = ("pandas_udf", "apply_in_pandas", "map_in_pandas", "udtf",
                "arrow", "multimodal", "pandas")
# Python element kernels: the pandas UDF family, plus the pipeline API's
# per-element row ops, which run on one mapInArrow kernel.
_PANDAS_SRC = ("mapInPandas", "applyInPandas", "pandas_udf", "udtf",
               "mapInArrow", "map_rows", "flat_map_rows", "_opaque(")


def _axis_names(axis: str, registry) -> list[str]:
    if axis == "rocksdb":
        return [n for n, q in registry.items() if "streaming" in q.tags]
    if axis == "arrow137":
        names = []
        for n, q in registry.items():
            if any(any(h in t for h in _PANDAS_TAGS) for t in q.tags):
                names.append(n)
                continue
            try:
                src = inspect.getsource(q.fn)
            except OSError:
                continue
            if any(h.lower() in src.lower() for h in _PANDAS_SRC):
                names.append(n)
        return names
    return list(registry)


def main(axis: str) -> int:
    if axis not in AXES:
        print(f"unknown axis {axis!r}; one of {sorted(AXES)}")
        return 2
    if axis == "partitions7":
        os.environ["SPARK_GRAFT_CPUS"] = "7"

    import duckdb

    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.session import get_spark
    from beam_pyspark_runner_spark.sources.readers import TABLES
    from tests import oracle_check as oc

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    names = _axis_names(axis, REGISTRY)
    print(f"axis={axis}: {len(names)} queries at {sf_dir}", flush=True)
    spark = get_spark(app_name=f"shape-{axis}", extra_conf=AXES[axis])
    for key, want in AXES[axis].items():
        assert spark.conf.get(key) == want, key
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    fails = []
    for n in names:
        q = REGISTRY[n]
        try:
            r = oc.compare(spark, con, n, q.fn, q.oracle, sf_dir)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            print("ERROR", n, repr(ex)[:200], flush=True)
            fails.append(n)
            continue
        if r.get("status") not in ("MATCH", "rows_only"):
            print(n, r, flush=True)
            fails.append(n)
    print(f"{len(names) - len(fails)}/{len(names)} ok; FAILS: {fails}", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else ""))
