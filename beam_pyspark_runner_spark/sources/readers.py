"""Readers for the engine.

The reference supports exactly one source, line-oriented text
(``/root/reference/beam_pyspark_runner/transform_evaluators.py:22-26``);
here we provide the full Spark source surface (text/csv/json/parquet/orc)
plus loaders for the driver's TPC-H-ish parquet testdata.

All readers return plain DataFrames so Catalyst keeps pushdown/pruning.
"""

from __future__ import annotations

import glob
import os
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Source metadata (parquet schemas and row counts, scan widths) is
# cached per path (or plan) together with the stat signature of its
# files: metadata only, never rows or results. A path that is rewritten,
# even in place, gets a new signature and so a fresh read, which
# replaces its entry: each cache holds one entry per path. Paths that
# cannot be stat'ed locally (remote URIs, globs, missing paths) have no
# signature and are never cached.
def _cached(cache: dict, key, sig, compute):
    """The value cached under ``key`` when it was computed for the files
    with stat signature ``sig``; else ``compute()``, which becomes the
    entry of ``key``. A ``sig`` of None bypasses the cache."""
    if sig is None:
        return compute()
    hit = cache.get(key)
    if hit is None or hit[0] != sig:
        hit = cache[key] = (sig, compute())
    return hit[1]


def _stat_signature(path: str) -> tuple | None:
    """(size, mtime_ns, inode) of a file, or of every file below a
    directory with its relative name; None when there is no local path
    to stat."""
    if "://" in path or glob.has_magic(path):
        return None
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (os.path.abspath(path), st.st_size, st.st_mtime_ns, st.st_ino)
        files = []
        for root, dirs, names in os.walk(path, onerror=_raise):
            dirs.sort()
            for name in sorted(names):
                full = os.path.join(root, name)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size,
                              st.st_mtime_ns, st.st_ino))
    except OSError:
        return None
    return (os.path.abspath(path), tuple(files))


def _raise(err: OSError) -> None:
    raise err


def _local_path(uri: str) -> str:
    """The local path of a ``file:`` URI as ``inputFiles()`` reports it;
    any other URI unchanged."""
    parsed = urllib.parse.urlparse(uri)
    return urllib.request.url2pathname(parsed.path) if parsed.scheme == "file" else uri


# Session confs that change what parquet schema inference returns: a
# schema inferred under one value is never served under another.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)

# Without it every parquet read runs a schema-inference job (about 75 ms
# on a warm local session) for a schema the process already knows; a
# metastore or Iceberg catalog provides exactly this in production.
_SCHEMA_CACHE: dict[tuple, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, given the schema Spark inferred for
    the same files under the same inference confs when one is cached, so
    the read runs no inference job."""
    sig = _stat_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in _PARQUET_INFERENCE_CONFS))
    schema = _cached(_SCHEMA_CACHE, key, sig, lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


# Parquet ROWCOUNT cache (footer statistic, per path and signature):
# used only for plan-gate decisions (e.g. "is this dimension
# broadcastable"), never as a query result. Reading the footer via
# pyarrow avoids a per-call Spark job.
_ROWCOUNT_CACHE: dict[str, tuple[tuple, int]] = {}


def parquet_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of one testdata table from parquet footer
    metadata — a metadata read, not a data scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")

    def count() -> int:
        try:
            import pyarrow.parquet as pq

            return pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return load_table(spark, sf_dir, name).count()

    return _cached(_ROWCOUNT_CACHE, os.path.abspath(path), _stat_signature(path), count)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (columnar scan; filters/projections push down).

    ``events.ts`` has shipped in two fixture encodings across driver
    rounds: parquet TIMESTAMP(NANOS) (arrives as raw-nanos BIGINT under
    the session's ``nanosAsLong`` flag) and plain TIMESTAMP(MICROS)
    (arrives as TIMESTAMP_NTZ under Spark 4's NTZ inference). Normalize
    both to session-zoned TimestampType here so every downstream query —
    windows, watermarks, the DuckDB oracle compare — sees one stable
    type. The session timezone is UTC (session.py), so the NTZ→TS cast
    is a pure re-tag of the same wall-clock instant, byte-identical to
    DuckDB's naive-timestamp reading.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Fallback for sessions not built by session.get_spark (the
        # external driver passes its own): a TIMESTAMP(NANOS) fixture
        # fails the scan outright without nanosAsLong. Idempotent — and
        # a no-op for micros-encoded fixtures.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→TimestampType re-tag below is only identity when the
        # session timezone is UTC. Sessions built by session.get_spark
        # already are; the external driver supplies its own session, so
        # pin it here too — otherwise every instant (and hour-window
        # boundary) would shift relative to the DuckDB naive-ts oracle.
        if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = read_parquet(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanos-as-long fixture: lossless floor to micros (the
            # fixture's instants are exactly microsecond-granular).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(ts_type, T.TimestampType):
            # TIMESTAMP_NTZ (or anything else timestamp-like): re-tag as
            # session-zoned. Session tz is UTC, so values are unchanged.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, path)


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register testdata tables as temp views for spark.sql queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text source: one row per line, column ``value: string``.

    Reference parity: ``ReadFromText`` (transform_evaluators.py:22-26);
    globs are handled natively by Spark's file index.
    """
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


_SPREAD_PROBE_CACHE: dict[tuple, tuple[tuple, int]] = {}
# Session confs that change how a scan splits its files.
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    Use before CPU-heavy narrow transforms (shingling, per-vector math):
    the testdata parquet files are single-row-group, so Spark cannot split
    them below one task per file and a heavy map stage would run on 1-3
    cores. The round-robin shuffle moves only the compact input rows and
    buys full parallelism for the expensive compute that follows. At
    production scale the same helper is a no-op decision: sources with
    many splits already saturate the cluster, and the guard below skips
    the shuffle when the input is already wide enough.

    The width probe (``df.rdd.getNumPartitions()``) materializes the
    physical plan on the driver — cheap for a parquet scan, but a real
    cost when called mid-pipeline on a wide plan. On a cluster, set
    ``spark.graft.spread=off`` (sources there split properly, the helper
    is pure overhead) or ``spark.graft.spread=force`` to skip the probe
    and always reshuffle.
    """
    mode = df.sparkSession.conf.get("spark.graft.spread", "auto")
    if mode == "off":
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if mode != "force":
        # Probe-result cache: the physical-plan materialization behind
        # getNumPartitions costs ~50-70 ms per call even when the file
        # index is warm. A plan's partition count is a pure function of
        # the canonical plan, the files it scans, the session parallelism
        # and the split confs, so the probe result is cached per plan
        # (its semantic hash, which covers the scanned paths but not the
        # file names), parallelism and confs, together with the stat
        # signature of each file (metadata only; repeated bench/gate
        # invocations of the same query stop re-paying the plan walk,
        # and a rewritten file set is probed again and replaces the
        # entry). Files without a local stat are never cached.
        try:
            files = sorted(df.inputFiles())
        except Exception:
            files = []
        sigs = tuple(_stat_signature(_local_path(f)) for f in files)
        # non-file-backed plans all report no files, which would collide
        key = sig = None
        if files and None not in sigs:
            confs = tuple(df.sparkSession.conf.get(c) for c in _SPLIT_CONFS)
            key, sig = (df.semanticHash(), target, confs), sigs
        width = _cached(_SPREAD_PROBE_CACHE, key, sig, df.rdd.getNumPartitions)
        if width >= target:
            return df
    return df.repartition(target)
