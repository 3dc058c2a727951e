"""The job mixes of the two workloads, and their oracles.

A ``Job`` has a timed ``execute`` (plan build plus the action that
materializes what the user receives), an untimed ``observe`` that turns
the result into rows to check, and an oracle: DuckDB SQL over the same
input files, evaluated once per run before timing starts.

Registered queries run their ``fn(spark, data_dir)`` from the query
registry; their oracle is the registry's own DuckDB SQL. The
``beam_dofn`` pipelines are written here against
``operators.pipeline`` with Python user functions, the way a Beam user
would write them.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import functions as F

# (query, module, tables it reads)
CATALYST = [
    ("q1_pricing_summary", "relational", ("lineitem",)),
    ("q3_shipping_priority", "joins", ("customer", "orders", "lineitem")),
    ("q18_large_orders", "tpch", ("customer", "orders", "lineitem")),
    ("dedup_exact", "dedup", ("documents",)),
    ("quality_filter", "text", ("documents",)),
]
# Traced runs only: one replayed stream measures the streaming.runner
# layer. A warm pass of it costs about as much as three other jobs and
# its first run ~7 s, more than the untraced runs' time budget allows.
BEAM_TRACED_STREAMS = [
    ("stream_tumbling_agg", "streaming", ("events",)),
]
# Jobs whose action folds a custom CombineFn.
COMBINE_FN_JOBS = {"kv_combine_fn"}


@dataclass
class Ctx:
    """What a job needs at run time."""

    spark: Any
    tracer: Any
    tables_dir: str
    beam_dir: str
    sink_dir: str
    on_cached: Callable[[], None] = lambda: None


@dataclass
class Observed:
    cols: list[str]
    rows: list[tuple]
    kinds: dict[str, str] | None = None
    extra: dict[str, int] = field(default_factory=dict)


@dataclass
class Job:
    name: str
    module: str
    inputs: tuple[str, ...]
    execute: Callable[[Ctx], Any]
    observe: Callable[[Ctx, Any], Observed]
    oracle: Callable[[Any, str, str], dict]  # (duckdb conn, tables_dir, beam_dir)
    cleanup: Callable[[Ctx], None] = lambda ctx: None

    @property
    def layer(self) -> str:
        """Layer whose code runs in the job outside any narrower span."""
        return "operators.pipeline" if self.module == "pipeline" else "queries"


# --- checking --------------------------------------------------------------


def digest(cols: list[str], rows: list[tuple]) -> dict:
    from tests.oracle_check import _hash_rows

    n, h = _hash_rows(list(cols), rows)
    return {"cols": sorted(cols), "n": n, "hash": h}


def verify(obs: Observed, expected: dict) -> str | None:
    """None when ``obs`` matches the oracle digest, else the mismatch kind."""
    if sorted(obs.cols) != expected["cols"]:
        return f"SCHEMA_MISMATCH {sorted(obs.cols)} != {expected['cols']}"
    if expected.get("kinds") is not None and obs.kinds != expected["kinds"]:
        return f"TYPE_MISMATCH {obs.kinds} != {expected['kinds']}"
    got = digest(obs.cols, obs.rows)
    if got["n"] != expected["n"]:
        return f"ROWCOUNT_MISMATCH {got['n']} != {expected['n']}"
    if got["hash"] != expected["hash"]:
        return "VALUE_MISMATCH"
    if got["n"] == 0:
        return "EMPTY"
    for key, want in expected.get("extra", {}).items():
        if obs.extra.get(key) != want:
            return f"EXTRA_MISMATCH {key}: {obs.extra.get(key)} != {want}"
    return None


def _registered_oracle(name: str):
    def oracle(con, tables_dir: str, beam_dir: str) -> dict:
        from beam_pyspark_runner_spark.queries import REGISTRY
        from tests.oracle_check import _duck_kinds

        rel = con.sql(REGISTRY[name].oracle)
        cols = [d[0] for d in rel.description]
        out = digest(cols, rel.fetchall())
        out["kinds"] = _duck_kinds(rel)
        return out

    return oracle


def _sql_oracle(sql: str, extra: dict[str, str] | None = None):
    def oracle(con, tables_dir: str, beam_dir: str) -> dict:
        rel = con.sql(sql.format(beam=beam_dir))
        out = digest([d[0] for d in rel.description], rel.fetchall())
        out["extra"] = {
            k: int(con.sql(q.format(beam=beam_dir)).fetchone()[0])
            for k, q in (extra or {}).items()
        }
        return out

    return oracle


def _observe_df(ctx: Ctx, res) -> Observed:
    from tests.oracle_check import _spark_kinds

    df, rows = res
    return Observed(df.columns, [tuple(r) for r in rows], _spark_kinds(df))


def _drop_stream_views(ctx: Ctx) -> None:
    """Release memory-sink results once the user has received them."""
    for t in ctx.spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("stream_result_"):
            ctx.spark.catalog.dropTempView(t.name)


# --- registered queries ----------------------------------------------------


def registered_batch(name: str, module: str, tables: tuple[str, ...]) -> Job:
    def execute(ctx: Ctx):
        from beam_pyspark_runner_spark.queries import REGISTRY

        with ctx.tracer.span("queries.plan"):
            df = REGISTRY[name].fn(ctx.spark, ctx.tables_dir)
        with ctx.tracer.span("queries.action", module=module):
            rows = df.collect()
        return df, rows

    return Job(name, module, tables, execute, _observe_df, _registered_oracle(name))


def registered_stream(name: str, module: str, tables: tuple[str, ...]) -> Job:
    def execute(ctx: Ctx):
        from beam_pyspark_runner_spark.queries import REGISTRY

        with ctx.tracer.span("streaming.runner.run"):
            df = REGISTRY[name].fn(ctx.spark, ctx.tables_dir)
        with ctx.tracer.span("queries.action", module=module):
            rows = df.collect()
        return df, rows

    return Job(name, module, tables, execute, _observe_df, _registered_oracle(name),
               cleanup=_drop_stream_views)


# --- beam_dofn pipelines ---------------------------------------------------


def _pipeline(ctx: Ctx):
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    return Pipeline(ctx.spark)


def _collect(ctx: Ctx, pcol):
    with ctx.tracer.span("plans.dag.lower"):
        df = pcol.to_df()
    with ctx.tracer.span("operators.pipeline.action"):
        return df, df.collect()


def _observe_rows(ctx: Ctx, res) -> Observed:
    df, rows = res
    return Observed(df.columns, [tuple(r) for r in rows])


def wordcount(ctx: Ctx):
    """README wordcount: read_text → flat_map_rows → count_per_element → write_text."""
    p = _pipeline(ctx)
    lines = p.counter("wordcount", "lines")

    def split(row):
        lines.inc()
        return row[0].split(" ")

    counts = (
        p.read_text(os.path.join(ctx.beam_dir, "corpus"))
        .flat_map_rows(split, "value string")
        .count_per_element()
    )
    with ctx.tracer.span("plans.dag.lower"):
        counts.to_df()
    out = os.path.join(ctx.sink_dir, "wordcount")
    with ctx.tracer.span("sources.writers.write"):
        counts.write_text(out)
    with ctx.tracer.span("operators.metrics.query"):
        metrics = p.metrics.query()
    return out, metrics[("wordcount", "lines")]


def _observe_wordcount(ctx: Ctx, res) -> Observed:
    out, n_lines = res
    rows = []
    for path in glob.glob(os.path.join(out, "part-*")):
        with open(path) as fh:
            for line in fh:
                word, n = line.rstrip("\n").rsplit(",", 1)
                rows.append((word, int(n)))
    return Observed(["key", "value"], rows, extra={"lines": n_lines})


def kv_combine_fn(ctx: Ctx):
    """Python map_rows, then combine_per_key with a custom CombineFn."""
    from beam_pyspark_runner_spark.operators.combiners import CombineFn

    p = _pipeline(ctx)
    summed = (
        p.read_parquet(os.path.join(ctx.beam_dir, "kv.parquet"))
        .map_rows(lambda r: (r[0], r[1] * 3 + 1), "key bigint, value bigint")
        .combine_per_key(CombineFn(
            create=lambda: 0,
            add=lambda acc, v: acc + v,
            merge=lambda a, b: a + b,
            output_type="bigint",
        ))
    )
    return _collect(ctx, summed)


def kv_group_by_key(ctx: Ctx):
    """GroupByKey over Zipf keys; the grouped rows are collected."""
    p = _pipeline(ctx)
    return _collect(ctx, p.read_parquet(os.path.join(ctx.beam_dir, "kv.parquet")).group_by_key())


def _observe_gbk(ctx: Ctx, res) -> Observed:
    _df, rows = res
    return Observed(["key", "n", "total"],
                    [(r["key"], len(r["values"]), sum(r["values"])) for r in rows])


def side_input_as_dict(ctx: Ctx):
    """Enrich through an ``as_dict`` side input captured by a Python map."""
    p = _pipeline(ctx)
    with ctx.tracer.span("operators.pipeline.side_input"):
        labels = p.read_parquet(os.path.join(ctx.beam_dir, "dim.parquet")).as_dict()
    enriched = (
        p.read_parquet(os.path.join(ctx.beam_dir, "kv.parquet"))
        .map_rows(lambda r: (labels[r[0]], r[1]), "key string, value bigint")
        .combine_per_key("sum")
    )
    return _collect(ctx, enriched)


def partition_write_readback(ctx: Ctx):
    """Python map, two-way partition lowered together (the shared node is
    persisted), one parquet sink per branch, then both read back."""
    from beam_pyspark_runner_spark.sources.writers import write_parquet

    p = _pipeline(ctx)
    mapped = p.read_parquet(os.path.join(ctx.beam_dir, "kv.parquet")).map_rows(
        lambda r: (r[0], (r[1] * 7 + r[0]) % 1000), "key bigint, value bigint"
    )
    low, high = mapped.partition(F.col("value") < 500)
    with ctx.tracer.span("plans.dag.lower"):
        low_df, high_df = p.ctx.lower(low.node, high.node)
    paths = [os.path.join(ctx.sink_dir, f"partition_{b}") for b in ("low", "high")]
    try:
        with ctx.tracer.span("sources.writers.write"):
            write_parquet(low_df, paths[0])
            write_parquet(high_df, paths[1])
        ctx.on_cached()
    finally:
        p.ctx.unpersist_all()
    back = (
        p.read_parquet(paths[0])
        .flatten(p.read_parquet(paths[1]))
        .map(F.expr("value div 100"))
        .count_per_element()
    )
    return _collect(ctx, back)


_KV = "read_parquet('{beam}/kv.parquet')"
_DIM = "read_parquet('{beam}/dim.parquet')"
_LABEL_SUMS = f"SELECT d.label AS key, SUM(k.value) AS value FROM {_KV} k JOIN {_DIM} d USING (key) GROUP BY d.label"

BEAM_GENERATED = [
    Job("wordcount", "pipeline", ("corpus",), wordcount, _observe_wordcount, _sql_oracle(
        "SELECT w AS key, COUNT(*) AS value FROM (SELECT unnest(string_split_regex("
        "content, '[ \\n]')) AS w FROM read_text('{beam}/corpus/*.txt')) WHERE w <> '' GROUP BY w",
        extra={"lines": "SELECT COUNT(*) FROM read_csv('{beam}/corpus/*.txt', header=false, "
                        "columns={{'line': 'VARCHAR'}}, delim='\\t', quote='', escape='')"},
    )),
    Job("kv_combine_fn", "pipeline", ("kv",), kv_combine_fn, _observe_rows, _sql_oracle(
        f"SELECT key, SUM(value * 3 + 1) AS value FROM {_KV} GROUP BY key")),
    Job("kv_group_by_key", "pipeline", ("kv",), kv_group_by_key, _observe_gbk, _sql_oracle(
        f"SELECT key, COUNT(*) AS n, SUM(value) AS total FROM {_KV} GROUP BY key")),
    Job("side_input_as_dict", "pipeline", ("kv", "dim"), side_input_as_dict, _observe_rows,
        _sql_oracle(_LABEL_SUMS)),
    Job("partition_write_readback", "pipeline", ("kv", "kv"), partition_write_readback,
        _observe_rows, _sql_oracle(
            f"SELECT ((value * 7 + key) % 1000) // 100 AS key, COUNT(*) AS value FROM {_KV} GROUP BY 1")),
]


def workload_jobs(workload: str, traced: bool = True) -> list[Job]:
    """The workload's job mix; ``traced`` adds the jobs only traced runs make."""
    if workload == "catalyst_batch":
        return [registered_batch(*spec) for spec in CATALYST]
    if workload == "beam_dofn":
        streams = BEAM_TRACED_STREAMS if traced else []
        return BEAM_GENERATED + [registered_stream(*spec) for spec in streams]
    raise ValueError(f"unknown workload {workload!r}")
