"""Source metadata caches (sources/readers.py): parquet schemas and
spread's scan widths, keyed by the stat signature of the files (and,
for a width, by the plan).

A warm parquet read runs no Spark job. A rewritten file set, a changed
inference or split conf, a remote URI and a glob never get a cached
answer. Jobs are counted under a job group, after the listener bus has
drained.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beam_pyspark_runner_spark.operators import Pipeline
from beam_pyspark_runner_spark.session import drain_listener_bus
from beam_pyspark_runner_spark.sources import readers
from beam_pyspark_runner_spark.sources.readers import load_table, read_parquet, spread

from tests.conftest import SF_SMOKE


def _entries(cache: dict, path: str) -> int:
    """How many entries of a source-metadata cache name ``path``."""
    return sum(path in repr(entry) for entry in cache.items())


def _jobs(spark, fn):
    """``(fn(), number of Spark jobs fn ran)``."""
    sc = spark.sparkContext
    group = f"source-metadata-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    drain_listener_bus(spark)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextmanager
def _confs(spark, **confs):
    before = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_warm_pipeline_read_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(20).withColumn("s", F.col("id").cast("string")).write.parquet(path)
    p = Pipeline(spark)
    cold, cold_jobs = _jobs(spark, lambda: p.read_parquet(path).to_df())
    warm, warm_jobs = _jobs(spark, lambda: p.read_parquet(path).to_df())
    assert cold_jobs >= 1 and warm_jobs == 0
    assert warm.schema == cold.schema == spark.read.parquet(path).schema
    assert _rows(warm) == _rows(cold)


def test_load_table_hits_the_cache(spark):
    load_table(spark, SF_SMOKE, "nation")
    for name in ("nation", "events"):  # events reads under nanosAsLong
        load_table(spark, SF_SMOKE, name)
        df, jobs = _jobs(spark, lambda n=name: load_table(spark, SF_SMOKE, n))
        assert jobs == 0
        assert df.schema == load_table(spark, SF_SMOKE, name).schema
    assert df.schema["ts"].dataType == T.TimestampType()


def test_overwritten_directory_returns_its_new_schema(spark, tmp_path):
    """Each overwrite is read with its new schema, and replaces the
    path's one cache entry (new file names, so a new signature each)."""
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    for name in ("name", "label", "tag"):
        spark.range(3).select(F.col("id").cast("string").alias(name)).write.mode(
            "overwrite").parquet(path)
        back = read_parquet(spark, path)
        assert back.schema == T.StructType([T.StructField(name, T.StringType())])
        assert _rows(back) == [("0",), ("1",), ("2",)]
    assert _entries(readers._SCHEMA_CACHE, path) == 1


def test_partitioned_sink_read_back_keeps_partition_columns(spark, tmp_path):
    path = str(tmp_path / "by_part")
    p = Pipeline(spark)
    p.create([(i, i % 3) for i in range(9)], schema="value bigint, part int").write_parquet(
        path, partition_by=["part"])
    inferred = spark.read.parquet(path)
    read_parquet(spark, path)
    warm, jobs = _jobs(spark, lambda: p.read_parquet(path).to_df())
    assert jobs == 0
    assert warm.columns == ["value", "part"]
    assert warm.schema == inferred.schema
    assert _rows(warm) == _rows(inferred)


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    """A schema inferred under one conf is never served under another:
    nanosAsLong off must fail as Spark's own inference does, and
    binaryAsString flips the type both ways."""
    path = str(tmp_path / "n.parquet")
    pq.write_table(pa.table({"ts": pa.array([1000], pa.timestamp("ns")),
                             "b": pa.array([b"x"], pa.binary())}), path)
    with _confs(spark, **{"spark.sql.legacy.parquet.nanosAsLong": "true",
                          "spark.sql.parquet.binaryAsString": "false"}):
        assert [f.dataType for f in read_parquet(spark, path).schema] == [
            T.LongType(), T.BinaryType()]
        with _confs(spark, **{"spark.sql.legacy.parquet.nanosAsLong": "false"}):
            with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                read_parquet(spark, path)
        with _confs(spark, **{"spark.sql.parquet.binaryAsString": "true"}):
            assert read_parquet(spark, path).schema["b"].dataType == T.StringType()
        df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0 and df.schema["b"].dataType == T.BinaryType()


class _FakeReader:
    def __init__(self, calls: list) -> None:
        self.calls = calls

    def parquet(self, path):
        self.calls.append(path)
        return "df"

    def schema(self, schema):
        raise AssertionError("a remote read must infer its schema")


class _FakeSpark:
    def __init__(self) -> None:
        self.calls: list = []
        self.read = _FakeReader(self.calls)


def test_remote_uri_bypasses_the_cache():
    fake = _FakeSpark()
    uri = "s3a://bucket/warehouse/t.parquet"
    assert readers._stat_signature(uri) is None
    assert [read_parquet(fake, uri) for _ in range(2)] == ["df", "df"]
    assert fake.calls == [uri, uri]


def test_glob_and_missing_paths_bypass_the_cache(spark, tmp_path):
    spark.range(4).write.parquet(str(tmp_path / "a"))
    pattern = str(tmp_path / "*")
    assert readers._stat_signature(pattern) is None
    assert readers._stat_signature(str(tmp_path / "missing")) is None
    before = dict(readers._SCHEMA_CACHE)
    assert _jobs(spark, lambda: read_parquet(spark, pattern))[1] >= 1
    assert _jobs(spark, lambda: read_parquet(spark, pattern))[1] >= 1
    assert readers._SCHEMA_CACHE == before
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing"))


def test_spread_probes_a_rewritten_file_again(spark, tmp_path):
    """spread's width probe is cached per plan with the stat signature of
    the files, so a file rewritten at the same path is probed again, and
    so is a file that replaced it under a new name (as a Spark overwrite
    does); each rewrite replaces the plan's one entry."""
    path = str(tmp_path / "d")
    os.mkdir(path)

    def publish(n_rows: int, name: str = "f.parquet") -> None:
        table = pa.table({"b": [os.urandom(1024) for _ in range(n_rows)]})
        pq.write_table(table, os.path.join(path, ".tmp"), compression="none")
        for old in os.listdir(path):
            if old != ".tmp":
                os.remove(os.path.join(path, old))
        os.replace(os.path.join(path, ".tmp"), os.path.join(path, name))

    target = spark.sparkContext.defaultParallelism
    with _confs(spark, **{"spark.sql.files.maxPartitionBytes": "65536"}):
        publish(4)
        small = spark.read.parquet(path)
        assert small.rdd.getNumPartitions() < target
        assert spread(small) is not small
        publish(64 * target)  # 64 KiB splits: 64 * target KiB is `target` of them
        big = spark.read.parquet(path)
        assert big.rdd.getNumPartitions() >= target
        assert spread(big) is big
        publish(4, "g.parquet")
        small = spark.read.parquet(path)
        assert spread(small) is not small
    assert _entries(readers._SPREAD_PROBE_CACHE, path) == 1


def test_spread_width_is_cached_per_plan(spark, tmp_path):
    """Two plans over the same files can differ in width: a wide plan's
    probe is never served to a narrow scan, which still gets spread."""
    path = str(tmp_path / "t")
    spark.range(100).coalesce(1).write.parquet(path)
    target = spark.sparkContext.defaultParallelism
    wide = spark.read.parquet(path).repartition(2 * target)
    assert spread(wide) is wide
    narrow = spark.read.parquet(path)
    assert narrow.rdd.getNumPartitions() == 1
    assert spread(narrow).rdd.getNumPartitions() == target
