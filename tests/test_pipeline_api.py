"""E2E tests of the fluent pipeline API, mirroring the reference's own
test suite (/root/reference/tests/pyspark_runner_test.py:15-154) case
for case — Create, branching DAG, FlatMap, Map, global combine,
GroupByKey, text-sink round-trip, AsDict side input — plus the fixes we
make to its documented bugs (SURVEY.md §2.5).

Comparisons are multisets: PCollections are unordered.
"""

from __future__ import annotations

import math
import pickle
from collections import Counter
from contextlib import contextmanager
from datetime import datetime, timedelta
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.operators import CombineFn, Pipeline
from beam_pyspark_runner_spark.operators.arrow_rows import columns, to_batch


def as_multiset(rows):
    return Counter(tuple(r) for r in rows)


# reference: test_create (pyspark_runner_test.py:53-56)
def test_create(spark):
    p = Pipeline(spark)
    got = p.create([1]).collect()
    assert as_multiset(got) == as_multiset([(1,)])


# reference: test_create_and_map_and_branching (pyspark_runner_test.py:58-70)
def test_branching_dag(spark):
    p = Pipeline(spark)
    base = p.create([1, 2, 3, 4]).map(F.col("value") * 4)
    b1 = base.map(F.col("value") + 1)
    b2 = base.map(F.col("value") + 3)  # dangling leaf also evaluates
    assert as_multiset(b1.collect()) == as_multiset([(5,), (9,), (13,), (17,)])
    assert as_multiset(b2.collect()) == as_multiset([(7,), (11,), (15,), (19,)])


# reference: test_create_and_flat_map (pyspark_runner_test.py:72-77)
def test_flat_map(spark):
    p = Pipeline(spark)
    got = p.create([[1], [3, 4]], schema="value array<bigint>").flat_map(
        F.col("value")
    ).collect()
    assert as_multiset(got) == as_multiset([(1,), (3,), (4,)])


# reference: test_create_and_map (pyspark_runner_test.py:79-82)
def test_map_python_rows(spark):
    p = Pipeline(spark)
    got = (
        p.create([1, 2, 3, 4])
        .map_rows(lambda row: row[0] * 10, "value bigint")
        .collect()
    )
    assert as_multiset(got) == as_multiset([(10,), (20,), (30,), (40,)])


# reference: test_create_and_reduce (pyspark_runner_test.py:84-95) — a
# custom CombineFn (sum via lambdas) applied globally
def test_combine_globally_custom(spark):
    p = Pipeline(spark)
    fn = CombineFn(
        create=lambda: 0,
        add=lambda acc, v: acc + v,
        merge=lambda a, b: a + b,
        output_type="bigint",
    )
    got = p.create([1, 2, 3, 4, 10]).combine_globally(fn, out="total").collect()
    assert got == [(20,)]


def test_combine_globally_builtin(spark):
    p = Pipeline(spark)
    got = p.create([1, 2, 3, 4, 10]).combine_globally("sum", out="total").collect()
    assert got == [(20,)]


# reference: test_create_map_and_groupby (pyspark_runner_test.py:97-103)
def test_group_by_key(spark):
    p = Pipeline(spark)
    got = (
        p.create([1, 2], schema="value bigint")
        .map_kv(F.col("value") * 2, F.col("value"))
        .group_by_key()
        .collect()
    )
    assert {(r[0], tuple(sorted(r[1]))) for r in got} == {(2, (1,)), (4, (2,))}


# reference: test_write_to_text (pyspark_runner_test.py:105-133)
def test_write_text_roundtrip(spark, tmp_path):
    p = Pipeline(spark)
    out = str(tmp_path / "sink")
    (
        p.create([1, 2], schema="value bigint")
        .map_kv(F.col("value") * 2, F.col("value"))
        .write_text(out)
    )
    lines = {r.value for r in spark.read.text(out).collect()}
    assert lines == {"2,1", "4,2"}


# reference: test_pardo_side_input (pyspark_runner_test.py:135-154) — the
# AsDict multimap side input, plus the scalable broadcast-join form
def test_as_dict_side_input(spark):
    p = Pipeline(spark)
    side = p.create(
        [("key1", ["value1a", "value1b"]), ("key2", ["value2a"])],
        schema="key string, value array<string>",
    )
    lookup = side.as_dict()
    assert lookup == {"key1": ["value1a", "value1b"], "key2": ["value2a"]}
    main = p.create(["key1", "key2"], schema="value string")
    got = main.map_rows(lambda row: (row[0], len(lookup[row[0]])), "key string, n bigint")
    assert as_multiset(got.collect()) == as_multiset([("key1", 2), ("key2", 1)])


def test_broadcast_join_side_input(spark):
    p = Pipeline(spark)
    side = p.create(
        [("key1", 10), ("key2", 20)], schema="key string, factor bigint"
    )
    main = p.create([("key1", 1), ("key2", 2), ("key3", 3)], schema="key string, value bigint")
    got = main.broadcast_join(side, "key").to_df().select("key", F.col("value") * F.col("factor"))
    assert as_multiset(got.collect()) == as_multiset([("key1", 10), ("key2", 40)])


# side-input view semantics (reference transform_evaluators.py:39-48)
def test_as_singleton_and_list(spark):
    p = Pipeline(spark)
    assert p.create([42]).as_singleton() == 42
    with pytest.raises(ValueError):
        p.create([1, 2]).as_singleton()
    assert sorted(p.create([3, 1, 2]).as_list()) == [1, 2, 3]


# flatten (reference eval_Flatten, transform_evaluators.py:81-82)
def test_flatten(spark):
    p = Pipeline(spark)
    a = p.create([1, 2])
    b = p.create([2, 3])
    got = a.flatten(b).collect()
    assert as_multiset(got) == as_multiset([(1,), (2,), (2,), (3,)])  # duplicates kept


# multi-output ParDo — reference bug §2.5#4, fixed here
def test_partition_multi_output(spark):
    p = Pipeline(spark)
    parts = p.create([1, 2, 3, 4, 5]).partition(
        F.col("value") <= 2, F.col("value") == 3
    )
    assert as_multiset(parts[0].collect()) == as_multiset([(1,), (2,)])
    assert as_multiset(parts[1].collect()) == as_multiset([(3,)])
    assert as_multiset(parts[2].collect()) == as_multiset([(4,), (5,)])


# yield-None emits nothing — reference bug §2.5#1, fixed here
def test_flat_map_rows_none_yields_nothing(spark):
    p = Pipeline(spark)
    got = (
        p.create([1, 2, 3])
        .flat_map_rows(
            lambda row: [row[0]] if row[0] % 2 else [None], "value bigint"
        )
        .collect()
    )
    assert as_multiset(got) == as_multiset([(1,), (3,)])


# combine_per_key with custom + builtin fns
def test_combine_per_key(spark):
    p = Pipeline(spark)
    data = p.create(
        [("a", 1), ("a", 2), ("b", 5)], schema="key string, value bigint"
    )
    got = data.combine_per_key("sum", out="total").collect()
    assert as_multiset(got) == as_multiset([("a", 3), ("b", 5)])

    fn = CombineFn(
        create=lambda: 1.0,
        add=lambda acc, v: acc * v,
        merge=lambda a, b: a * b,
        output_type="double",
    )
    got = data.combine_per_key(fn, out="product").collect()
    assert as_multiset(got) == as_multiset([("a", 2.0), ("b", 5.0)])


def test_cogroup_by_key(spark):
    p = Pipeline(spark)
    left = p.create([("k1", 1), ("k1", 2)], schema="key string, value bigint")
    right = p.create([("k1", 9), ("k2", 7)], schema="key string, value bigint")
    got = {
        (r["key"], tuple(sorted(r["left_values"])), tuple(sorted(r["right_values"])))
        for r in left.co_group_by_key(right).collect()
    }
    assert got == {("k1", (1, 2), (9,)), ("k2", (), (7,))}


def test_unknown_combiner_raises(spark):
    p = Pipeline(spark)
    with pytest.raises(ValueError, match="unknown builtin combiner"):
        p.create([("a", 1)], schema="key string, value bigint").combine_per_key(
            "not_a_combiner"
        ).collect()


def test_count_per_element_top_distinct(spark):
    p = Pipeline(spark)
    words = p.create(["a", "b", "a", "c", "a", "b"], schema="value string")
    counts = words.count_per_element().collect()
    assert as_multiset(counts) == as_multiset([("a", 3), ("b", 2), ("c", 1)])
    top = words.count_per_element().top(1, by="value")
    assert top.collect() == [("a", 3)]
    assert as_multiset(words.distinct().collect()) == as_multiset([("a",), ("b",), ("c",)])


# wordcount — the reference README's own demo (README.md:50-55)
def test_wordcount_end_to_end(spark, tmp_path):
    src = tmp_path / "input.txt"
    src.write_text("the quick brown fox\nthe lazy dog\n")
    p = Pipeline(spark)
    got = (
        p.read_text(str(src))
        .flat_map(F.split(F.col("value"), " "))
        .count_per_element()
        .collect()
    )
    expected = [("the", 2), ("quick", 1), ("brown", 1), ("fox", 1), ("lazy", 1), ("dog", 1)]
    assert as_multiset(got) == as_multiset(expected)


def test_fanout_persist(spark):
    """A node consumed by >1 downstream gets persisted exactly once."""
    p = Pipeline(spark)
    base = p.create(list(range(100))).map(F.col("value") * 2)
    b1 = base.combine_globally("sum", out="v")
    b2 = base.combine_globally("count", out="v")
    df1, df2 = p.ctx.lower(b1.node, b2.node)
    assert len(p.ctx._persisted) == 1
    assert df1.collect()[0][0] == sum(range(100)) * 2
    assert df2.collect()[0][0] == 100
    p.ctx.unpersist_all()


def test_fanout_counts_terminal_that_is_an_ancestor_once():
    """Off Spark: lowering ``src → a → b`` with both ``a`` and ``b`` as
    terminals gives every node one consumer, so nothing is persisted;
    a real fan-out (two branches over ``a``) still persists ``a``."""
    from beam_pyspark_runner_spark.plans.dag import Node, PlanContext

    class FakeDF:
        def __init__(self, label):
            self.label, self.persisted = label, False

        def persist(self, _level):
            self.persisted = True
            return self

    def node(label, *inputs):
        return Node(build=lambda _ins: FakeDF(label), inputs=list(inputs), label=label)

    src = node("src")
    a = node("a", src)
    b = node("b", a)
    ctx = PlanContext()
    assert ctx._consumer_counts([a, b]) == {src.id: 1, a.id: 1}
    assert ctx._consumer_counts([b, a, b]) == {src.id: 1, a.id: 1}
    ctx.lower(a, b)
    assert ctx._persisted == []

    c = node("c", a)
    ctx = PlanContext()
    assert ctx._consumer_counts([b, c]) == {src.id: 1, a.id: 2}
    ctx.lower(b, c)
    assert [df.label for df in ctx._persisted] == ["a"]


# metrics/counters — the surface the reference leaves unimplemented
# (reference pyspark_runner.py:30-31: metrics() raises NotImplementedError)
def test_metrics_counters_and_distribution(spark):
    p = Pipeline(spark)
    seen = p.counter("t", "rows_seen")
    odd = p.counter("t", "odd_rows")
    dist = p.distribution("t", "values")

    def kernel(batches):
        for pdf in batches:
            seen.inc(len(pdf))
            odd.inc(int((pdf["value"] % 2 == 1).sum()))
            for v in pdf["value"]:
                dist.update(int(v))
            yield pdf

    out = p.create(list(range(10))).par_do(kernel, "value bigint")
    assert out.to_df().count() == 10
    q = p.metrics.query()
    assert q[("t", "rows_seen")] == 10
    assert q[("t", "odd_rows")] == 5
    assert q[("t", "values")] == {"count": 10, "sum": 45, "min": 0, "max": 9}


def test_metrics_observe_no_extra_job(spark):
    p = Pipeline(spark)
    pc = (
        p.create(list(range(20)))
        .observe("t", "scan", F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .filter(F.col("value") >= 10)
    )
    assert pc.to_df().count() == 10
    got = p.metrics.query()[("t", "scan")]
    assert got == {"n": 20, "total": 190}


def test_metrics_to_df_snapshot(spark):
    p = Pipeline(spark)
    c = p.counter("ns", "c1")

    def kernel(batches):
        for pdf in batches:
            c.inc(len(pdf))
            yield pdf

    p.create([1, 2, 3]).par_do(kernel, "value bigint").to_df().count()
    rows = {(r.namespace, r.metric): r.value for r in p.metrics.to_df().collect()}
    assert rows == {("ns", "c1"): 3.0}


class _Reading:
    """Deliberately schema-less user type for the opaque escape hatch."""

    def __init__(self, sensor, values):
        self.sensor = sensor
        self.values = values

    def scaled(self, k):
        return _Reading(self.sensor, [v * k for v in self.values])


def test_opaque_elements_roundtrip_and_transform(spark):
    """Arbitrary Python objects ride a pickled blob column end to end:
    create → map (method call) → flat_map (1→N) → collect, and the
    boundary back to schema-ful land via map_rows."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    readings = [_Reading("a", [1, 2]), _Reading("b", [3])]
    pc = (
        p.create_opaque(readings)
        .map_opaque(lambda r: r.scaled(10))
        .flat_map_opaque(lambda r: [(r.sensor, v) for v in r.values])
    )
    assert sorted(pc.collect_opaque()) == [("a", 10), ("a", 20), ("b", 30)]
    # cross back into schema-ful land
    back = (
        pc.map_opaque(lambda t: t)  # still opaque
        .flat_map_opaque(lambda t: [t])
        .collect_opaque()
    )
    assert sorted(back) == [("a", 10), ("a", 20), ("b", 30)]


def test_opaque_skips_none_in_flat_map(spark):
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    out = (
        p.create_opaque([1, 2, 3])
        .flat_map_opaque(lambda x: [x, None, -x])
        .collect_opaque()
    )
    assert sorted(out) == [-3, -2, -1, 1, 2, 3]


def test_par_do_full_dofn_lifecycle(spark, tmp_path):
    """All four DoFn hooks fire with correct cardinality and ordering:
    setup once per task, start_bundle/finish_bundle once per Arrow batch
    (bundle == batch), teardown once per task after the last bundle.
    The hooks share the setup() state via the pickled closure graph, so
    each task's output row carries its own observed counts."""
    import pandas as pd

    marker_dir = tmp_path / "teardown"
    marker_dir.mkdir()
    shared = {"setup": 0, "sb": 0, "fb": 0}

    def setup():
        shared["setup"] += 1
        return shared

    def start_bundle(s):
        assert s is shared
        s["sb"] += 1

    def finish_bundle(s):
        # ordering: every finish follows its start
        assert s["sb"] == s["fb"] + 1
        s["fb"] += 1

    def teardown(s):
        import os
        import uuid

        (
            open(os.path.join(str(marker_dir), uuid.uuid4().hex), "w")
        ).write(f"{s['setup']},{s['sb']},{s['fb']}")

    def fn(batches):
        rows = 0
        for pdf in batches:
            assert shared["sb"] == shared["fb"] + 1  # inside a bundle
            rows += len(pdf)
        yield pd.DataFrame(
            {
                "rows": [rows],
                "setups": [shared["setup"]],
                "sb": [shared["sb"]],
                "fb": [shared["fb"]],
            }
        )

    p = Pipeline(spark)
    out = (
        p.create(list(range(1000)))
        .par_do(
            fn,
            "rows bigint, setups bigint, sb bigint, fb bigint",
            setup=setup,
            teardown=teardown,
            start_bundle=start_bundle,
            finish_bundle=finish_bundle,
        )
        .collect()
    )
    assert sum(r["rows"] for r in out) == 1000
    for r in out:
        assert r["setups"] == 1  # setup once per task
        assert r["sb"] == r["fb"]  # every bundle started was finished
        assert (r["rows"] == 0) or r["sb"] >= 1
    # teardown ran once per task, after the final finish_bundle
    markers = list(marker_dir.iterdir())
    assert len(markers) == len(out)
    for m in markers:
        setups, sb, fb = map(int, m.read_text().split(","))
        assert setups == 1 and sb == fb


# reference bug §2.5#2: WindowInto was a silent NoOp; here it has semantics
def test_window_into_fixed(spark):
    """Fixed 1h windows: combine_per_key groups per (key, window)."""
    rows = [
        ("a", "2024-01-01 00:10:00", 1.0),
        ("a", "2024-01-01 00:50:00", 2.0),
        ("a", "2024-01-01 01:10:00", 4.0),
        ("b", "2024-01-01 00:20:00", 8.0),
    ]
    p = Pipeline(spark)
    col = (
        p.from_df(
            spark.createDataFrame(rows, "key string, ts string, value double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        .window_into(size="1 hour")
        .combine_per_key("sum")
    )
    got = {(r["key"], str(r["window_start"])[11:13]): r["value"] for r in col.collect()}
    assert got == {("a", "00"): 3.0, ("a", "01"): 4.0, ("b", "00"): 8.0}


def test_window_into_sliding_multiplies_elements(spark):
    """Sliding 1h/30m: each element lands in 2 windows (Beam's model)."""
    rows = [("a", "2024-01-01 00:40:00", 1.0)]
    p = Pipeline(spark)
    col = (
        p.from_df(
            spark.createDataFrame(rows, "key string, ts string, value double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        .window_into(size="1 hour", slide="30 minutes")
        .combine_per_key("count")
    )
    out = col.collect()
    assert len(out) == 2  # windows [00:00,01:00) and [00:30,01:30)
    assert all(r["value"] == 1 for r in out)


def test_window_into_session_gap(spark):
    """Session windows (30m gap) merge at grouping time; a >gap pause
    splits sessions. global_windows() afterwards restores global groups."""
    rows = [
        ("a", "2024-01-01 00:00:00", 1.0),
        ("a", "2024-01-01 00:20:00", 1.0),  # same session (20m < 30m)
        ("a", "2024-01-01 02:00:00", 1.0),  # new session
    ]
    df = spark.createDataFrame(rows, "key string, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    p = Pipeline(spark)
    sessions = (
        p.from_df(df).window_into(gap="30 minutes", ts="ts").combine_per_key("count")
    )
    out = sorted(
        (r["key"], str(r["window_start"]), r["value"]) for r in sessions.collect()
    )
    assert [v for _, _, v in out] == [2, 1]
    assert out[0][1].startswith("2024-01-01 00:00")

    windowed = p.from_df(df).window_into(size="1 hour")
    total = windowed.global_windows().combine_per_key("count").collect()
    assert [(r["key"], r["value"]) for r in total] == [("a", 3)]


def test_window_into_assignment_invariants(spark):
    """Window-assignment laws over 500 seeded-random timestamps: every
    element's window contains its ts, fixed windows are size-exact and
    epoch-aligned, and sliding assignment emits exactly size/slide rows
    per element, each window containing the ts."""
    import random

    rng = random.Random(42)
    base = 1_700_000_000  # 2023-11-14T22:13:20Z
    rows = [(i, base + rng.randrange(0, 7 * 24 * 3600)) for i in range(500)]
    df = spark.createDataFrame(rows, "key long, epoch long").select(
        "key", F.timestamp_seconds("epoch").alias("ts")
    )
    p = Pipeline(spark)

    fixed = p.from_df(df).window_into(size="1 hour").to_df().collect()
    assert len(fixed) == 500
    for r in fixed:
        assert r["window_start"] <= r["ts"] < r["window_end"]
        delta = r["window_end"] - r["window_start"]
        assert delta.total_seconds() == 3600
        assert r["window_start"].minute == 0 and r["window_start"].second == 0

    sliding = (
        p.from_df(df).window_into(size="1 hour", slide="20 minutes").to_df().collect()
    )
    assert len(sliding) == 500 * 3  # size/slide = 3 windows per element
    per_key = {}
    for r in sliding:
        assert r["window_start"] <= r["ts"] < r["window_end"]
        per_key.setdefault(r["key"], set()).add(r["window_start"])
    assert all(len(ws) == 3 for ws in per_key.values())


def test_windowed_custom_combinefn_fixed(spark):
    """WindowInto + CombinePerKey(custom fn) — the reference's
    bread-and-butter composition (overrides.py:58-75 +
    transform_evaluators.py:89-100). Custom fold must group per
    (key, window) exactly like a builtin."""
    rows = [
        ("a", "2024-01-01 00:10:00", 1.0),
        ("a", "2024-01-01 00:50:00", 2.0),
        ("a", "2024-01-01 01:10:00", 4.0),
        ("b", "2024-01-01 00:20:00", 8.0),
    ]
    # product-combiner: not expressible as any builtin
    fn = CombineFn(
        create=lambda: 1.0,
        add=lambda acc, v: acc * v,
        merge=lambda a, b: a * b,
    )
    p = Pipeline(spark)
    col = (
        p.from_df(
            spark.createDataFrame(rows, "key string, ts string, value double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        .window_into(size="1 hour")
        .combine_per_key(fn)
    )
    got = {(r["key"], str(r["window_start"])[11:13]): r["value"] for r in col.collect()}
    assert got == {("a", "00"): 2.0, ("a", "01"): 4.0, ("b", "00"): 8.0}


def test_windowed_custom_combinefn_session(spark):
    """Custom CombineFn under session windows: merged-session grouping
    with the same [first_ts, last_ts + gap) bounds F.session_window
    assigns for builtins."""
    rows = [
        ("a", "2024-01-01 00:00:00", 2.0),
        ("a", "2024-01-01 00:20:00", 3.0),   # same session
        ("a", "2024-01-01 02:00:00", 5.0),   # new session (>30m gap)
        ("b", "2024-01-01 00:05:00", 7.0),
    ]
    fn = CombineFn(
        create=lambda: 1.0,
        add=lambda acc, v: acc * v,
        merge=lambda a, b: a * b,
    )
    df = spark.createDataFrame(rows, "key string, ts string, value double").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    p = Pipeline(spark)
    custom = (
        p.from_df(df).window_into(gap="30 minutes", ts="ts").combine_per_key(fn)
    )
    got = sorted(
        (r["key"], str(r["window_start"]), str(r["window_end"]), r["value"])
        for r in custom.collect()
    )
    # builtin twin pins the window bounds custom must reproduce
    builtin = (
        p.from_df(df).window_into(gap="30 minutes", ts="ts").combine_per_key("sum")
    )
    want_bounds = sorted(
        (r["key"], str(r["window_start"]), str(r["window_end"]))
        for r in builtin.collect()
    )
    assert [(k, s, e) for k, s, e, _ in got] == want_bounds
    assert [v for *_, v in got] == [6.0, 5.0, 7.0]


def test_windowed_custom_combine_globally(spark):
    """CombineGlobally on a windowed PCollection: one value per window."""
    rows = [
        ("2024-01-01 00:10:00", 1.0),
        ("2024-01-01 00:50:00", 2.0),
        ("2024-01-01 01:10:00", 4.0),
    ]
    fn = CombineFn(
        create=lambda: 0.0,
        add=lambda acc, v: acc + v * v,
        merge=lambda a, b: a + b,
    )
    p = Pipeline(spark)
    col = (
        p.from_df(
            spark.createDataFrame(rows, "ts string, value double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        .window_into(size="1 hour")
        .combine_globally(fn)
    )
    got = {str(r["window_start"])[11:13]: r["value"] for r in col.collect()}
    assert got == {"00": 5.0, "01": 16.0}


def test_rewindowing_replaces_prior_assignment(spark):
    """window_into on an already-windowed PCol replaces the assignment
    (no duplicate window_start/window_end columns)."""
    rows = [("a", "2024-01-01 00:40:00", 1.0)]
    p = Pipeline(spark)
    col = (
        p.from_df(
            spark.createDataFrame(rows, "key string, ts string, value double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        .window_into(size="15 minutes")
        .window_into(size="1 hour")
        .combine_per_key("count")
    )
    out = col.collect()
    assert len(out) == 1
    assert str(out[0]["window_start"]).endswith("00:00:00")


def test_session_spec_cleared_after_grouping(spark):
    """A second grouping on an aggregated (session-windowed) PCol groups
    on the materialized window columns — it must not try to re-inject
    F.session_window on the long-gone ts column."""
    rows = [
        ("a", "2024-01-01 00:00:00", 1.0),
        ("a", "2024-01-01 00:10:00", 2.0),
        ("a", "2024-01-01 02:00:00", 4.0),
    ]
    p = Pipeline(spark)
    sessions = (
        p.from_df(
            spark.createDataFrame(rows, "key string, ts string, value double")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        .window_into(gap="30 minutes", ts="ts")
        .combine_per_key("sum")
    )
    # second grouping: total per key across its sessions
    total = sessions.global_windows().combine_per_key("sum")
    assert [(r["key"], r["value"]) for r in total.collect()] == [("a", 7.0)]


# --- windowing x keyed-op matrix: one layout, one dispatch ----------------
# (key, minute after 2024-01-01 00:00, value). Powers of two make every
# sum name its set of elements. Gaps between neighbours (per key and
# overall) are either under or over the 30-minute session gap, never
# equal to it, and no element sits on a window edge.
_MATRIX_ROWS = [
    ("a", 5, 1), ("a", 20, 2), ("a", 40, 4), ("a", 95, 8), ("a", 130, 16),
    ("b", 10, 32), ("b", 65, 64), ("b", 80, 128),
]
_WINDOWINGS = {
    "none": lambda pc: pc,
    "fixed": lambda pc: pc.window_into(size="1 hour"),
    "sliding": lambda pc: pc.window_into(size="1 hour", slide="30 minutes"),
    "session": lambda pc: pc.window_into(gap="30 minutes", ts="ts"),
}
_SUM_FN = CombineFn(
    create=lambda: 0, add=lambda acc, v: acc + v, merge=lambda a, b: a + b,
    output_type="bigint",
)


def _minute_ts(minute):
    return str(datetime(2024, 1, 1) + timedelta(minutes=minute))


def _reference_windows(windowing, elems):
    """Pure-Python window assignment: {(start, end) minutes: [values]}
    for one group's ``(minute, value)`` elements (``()`` unwindowed)."""
    if windowing == "session":
        sessions = []  # [first minute, last minute, values]
        for m, v in sorted(elems):
            if sessions and m < sessions[-1][1] + 30:
                sessions[-1][1] = m
                sessions[-1][2].append(v)
            else:
                sessions.append([m, m, [v]])
        return {(first, last + 30): vals for first, last, vals in sessions}
    out = {}
    for m, v in elems:
        if windowing == "none":
            wins = [()]
        elif windowing == "fixed":
            wins = [(m // 60 * 60, m // 60 * 60 + 60)]
        else:
            wins = [(s, s + 60) for s in (m // 30 * 30 - 30, m // 30 * 30)]
        for w in wins:
            out.setdefault(w, []).append(v)
    return out


def _reference_rows(windowing, per_key, reduce, fan=1):
    """Expected rows ``(key?, window_start?, window_end?, reduce(values))``
    with the window bounds as the strings ``str(datetime)`` collects to;
    ``fan`` repeats every element, as a 1→N element op would."""
    groups = {}
    for k, m, v in _MATRIX_ROWS:
        groups.setdefault(k if per_key else None, []).extend([(m, v)] * fan)
    rows = []
    for k, elems in groups.items():
        for win, vals in _reference_windows(windowing, elems).items():
            rows.append((*((k,) if per_key else ()),
                         *(_minute_ts(b) for b in win), reduce(vals)))
    return Counter(rows)


def _matrix_source(spark, windowing):
    df = spark.createDataFrame(
        [(k, _minute_ts(m), v) for k, m, v in _MATRIX_ROWS],
        "key string, ts string, value bigint",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return _WINDOWINGS[windowing](Pipeline(spark).from_df(df))


def _window_cols(windowing):
    return [] if windowing == "none" else ["window_start", "window_end"]


def _collected(pcol):
    """(column names, multiset of rows) with timestamps as strings and
    grouped values as sorted tuples."""
    df = pcol.to_df()

    def norm(x):
        if isinstance(x, datetime):
            return str(x)
        return tuple(sorted(x)) if isinstance(x, list) else x

    return df.columns, Counter(tuple(norm(x) for x in r) for r in df.collect())


@pytest.mark.parametrize("windowing", list(_WINDOWINGS))
def test_keyed_matrix_group_by_key(spark, windowing):
    """GroupByKey under every windowing: (key, window_start, window_end,
    values), the windows and groups of a pure-Python assignment."""
    cols, rows = _collected(_matrix_source(spark, windowing).group_by_key())
    assert cols == ["key", *_window_cols(windowing), "values"]
    assert rows == _reference_rows(windowing, True, lambda vs: tuple(sorted(vs)))


@pytest.mark.parametrize("op", ["combine_per_key", "combine_globally"])
@pytest.mark.parametrize("windowing", list(_WINDOWINGS))
def test_keyed_matrix_builtin_and_combinefn_agree(spark, windowing, op):
    """A builtin and a CombineFn computing the same sum give the same
    rows in the same column order — (key, window_start, window_end, out),
    no key for a global combine — under every windowing, and both match
    a pure-Python reference."""
    src = _matrix_source(spark, windowing)
    builtin = _collected(getattr(src, op)("sum", out="total"))
    custom = _collected(getattr(src, op)(_SUM_FN, out="total"))
    per_key = op == "combine_per_key"
    want_cols = [*(["key"] if per_key else []), *_window_cols(windowing), "total"]
    assert builtin[0] == want_cols
    assert custom[0] == want_cols
    want_rows = _reference_rows(windowing, per_key, sum)
    assert builtin[1] == want_rows
    assert custom[1] == want_rows


@pytest.mark.parametrize("op", ["combine_per_key", "combine_globally"])
@pytest.mark.parametrize("windowing", list(_WINDOWINGS))
def test_keyed_matrix_unknown_builtin_raises_value_error(spark, windowing, op):
    src = _matrix_source(spark, windowing)
    with pytest.raises(ValueError, match="unknown builtin combiner 'nope'"):
        getattr(src, op)("nope").to_df()


# --- element ops between window_into and a keyed op keep the window -------
_KV = "key string, value bigint"


def _kv_struct():
    return F.struct("key", "value")


def _unpack_kv(pc):
    return pc.map_kv(F.col("kv.key"), F.col("kv.value"))


# op -> (PCol transform yielding (key, value) elements, outputs per input).
# The Python ops read the input row positionally, (key, ts, value, ...).
_ELEMENT_OPS = {
    "map_kv": (lambda pc: pc.map_kv(F.col("key"), F.col("value")), 1),
    "map": (lambda pc: _unpack_kv(pc.map(_kv_struct(), out="kv")), 1),
    "flat_map": (
        lambda pc: _unpack_kv(pc.flat_map(F.array(_kv_struct(), _kv_struct()), out="kv")),
        2,
    ),
    "map_rows": (lambda pc: pc.map_rows(lambda r: (r[0], r[2]), _KV), 1),
    "flat_map_rows": (
        lambda pc: pc.flat_map_rows(lambda r: [(r[0], r[2]), None, (r[0], r[2])], _KV),
        2,
    ),
    "map_rows_ok": (
        lambda pc: pc.map_rows_with_exception_handling(lambda r: (r[0], r[2]), _KV)[0],
        1,
    ),
}


@pytest.mark.parametrize("keyed", ["group_by_key", "combine_per_key", "combine_globally"])
@pytest.mark.parametrize("element_op", list(_ELEMENT_OPS))
@pytest.mark.parametrize("windowing", ["fixed", "sliding", "session"])
def test_keyed_matrix_after_element_op(spark, windowing, element_op, keyed):
    """An element op between window_into and a keyed op keeps every
    element's window (Beam: a ParDo preserves windows), so grouping is
    still per window, and session proto-windows still merge — for a
    builtin and for a CombineFn, against the pure-Python reference."""
    op, fan = _ELEMENT_OPS[element_op]
    src = op(_matrix_source(spark, windowing))
    if keyed == "group_by_key":
        cols, rows = _collected(src.group_by_key())
        assert cols == ["key", *_window_cols(windowing), "values"]
        assert rows == _reference_rows(
            windowing, True, lambda vs: tuple(sorted(vs)), fan
        )
        return
    per_key = keyed == "combine_per_key"
    want = ([*(["key"] if per_key else []), *_window_cols(windowing), "total"],
            _reference_rows(windowing, per_key, sum, fan))
    assert _collected(getattr(src, keyed)("sum", out="total")) == want
    assert _collected(getattr(src, keyed)(_SUM_FN, out="total")) == want


@pytest.mark.parametrize("fn", ["sum", _SUM_FN], ids=["builtin", "combinefn"])
def test_session_elements_exactly_gap_apart_share_a_session(spark, fn):
    """Proto-windows [ts, ts + gap) that touch merge: elements exactly
    ``gap`` apart share a session (Spark's session_window rule; Beam's
    IntervalWindow would split them), one minute more splits it."""
    df = spark.createDataFrame(
        [("a", _minute_ts(m), v) for m, v in [(0, 1), (30, 2), (91, 4)]],
        "key string, ts string, value bigint",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    sessions = (
        Pipeline(spark).from_df(df)
        .window_into(gap="30 minutes", ts="ts")
        .map_kv(F.col("key"), F.col("value"))
        .combine_per_key(fn)
    )
    assert _collected(sessions)[1] == Counter([
        ("a", _minute_ts(0), _minute_ts(60), 3),
        ("a", _minute_ts(91), _minute_ts(121), 4),
    ])


def test_dead_letters_keep_their_window(spark):
    """Under windowing both outputs of map_rows_with_exception_handling
    keep each element's window: the ok branch groups per window without
    the failed element, and dead letters carry the window they failed in."""

    def fn(r):
        if r[2] == 16:
            raise ValueError("bad")
        return r[0], r[2]

    ok, errors = _matrix_source(spark, "fixed").map_rows_with_exception_handling(fn, _KV)
    # 16 is alone in a's window [02:00, 03:00), which therefore vanishes
    assert _collected(ok.combine_per_key("sum"))[1] == _reference_rows(
        "fixed", True, sum
    ) - Counter([("a", _minute_ts(120), _minute_ts(180), 16)])
    cols, dead = _collected(errors)
    assert cols == ["element", "error", "window_start", "window_end"]
    assert [(e[1], e[2], e[3]) for e in dead] == [
        ("ValueError: bad", _minute_ts(120), _minute_ts(180))
    ]


@pytest.mark.parametrize(
    "label, op",
    [
        pytest.param(label, op, id=label) for label, op in [
            ("MapKV", lambda pc: pc.map_kv(F.col("key"), F.col("value"))),
            ("Map", lambda pc: pc.map(F.col("value"))),
            ("MapRows", lambda pc: pc.map_rows(lambda r: r, _KV)),
            ("CombinePerKey", lambda pc: pc.combine_per_key("sum")),
        ]
    ],
)
def test_window_columns_projected_away_raise(spark, label, op):
    """An element or keyed op on a windowed PCol whose window columns a
    raw select dropped raises, naming the op and global_windows(),
    instead of silently grouping globally; global_windows() is the way
    out."""
    projected = _matrix_source(spark, "fixed").select("key", "value")
    with pytest.raises(ValueError, match=rf"^{label} on a windowed PCol.*global_windows\(\)"):
        op(projected).to_df()
    assert op(projected.global_windows()).to_df().count() > 0


def test_par_do_on_windowed_pcol_must_declare_windows(spark):
    """par_do hands fn pandas batches, so it cannot carry windows for the
    user: on a windowed PCol its schema must name both window columns."""
    windowed = _matrix_source(spark, "fixed")
    with pytest.raises(ValueError, match="window_start and window_end"):
        windowed.par_do(lambda bs: (b[["key", "value"]] for b in bs), _KV)
    with pytest.raises(ValueError, match="window_start and window_end"):
        windowed.par_do(lambda bs: bs, _KV + ", window_start timestamp")
    cols = ["key", "value", "window_start", "window_end"]
    kept = windowed.par_do(
        lambda bs: (b[cols] for b in bs),
        _KV + ", window_start timestamp, window_end timestamp",
    )
    assert _collected(kept.combine_per_key("sum")) == (
        ["key", "window_start", "window_end", "value"],
        _reference_rows("fixed", True, sum),
    )
    unwindowed = _matrix_source(spark, "none").par_do(lambda bs: bs, _KV + ", ts timestamp")
    assert unwindowed.to_df().count() == len(_MATRIX_ROWS)


def test_par_do_result_rules(spark):
    """The output rules ``mapInPandas`` had, kept on ``mapInArrow``:
    columns by name, extra ones after them ignored; by position when no
    label is a string; a frame without columns yields no rows; a missing
    column raises."""
    import pandas as pd

    src = Pipeline(spark).create([1, 2, 3])

    def run(make, schema="value bigint, twice bigint"):
        return sorted(tuple(r) for r in src.par_do(
            lambda bs: (make(b) for b in bs), schema).collect())

    want = [(1, 2), (2, 4), (3, 6)]
    assert run(lambda b: b.assign(twice=b.value * 2, extra="x")) == want
    assert run(lambda b: pd.DataFrame({0: b.value, 1: b.value * 2, 2: b.value})) == want
    assert run(lambda b: pd.DataFrame()) == []
    with pytest.raises(Exception, match="twice"):
        run(lambda b: b)


def test_par_do_nullable_int_dofn_idiom(spark):
    """A nullable int column arrives as ``Int64`` holding ``pd.NA``
    whatever the batching, and the DoFn idiom
    ``pdf.value.fillna(0).astype(int)`` still gives plain ints."""
    src = Pipeline(spark).create([1, None, 3], "value bigint")

    def fn(batches):
        for pdf in batches:
            assert str(pdf.value.dtype) == "Int64"
            yield pdf.assign(value=pdf.value.fillna(0).astype(int))

    assert sorted(r.value for r in src.par_do(fn, "value bigint").collect()) == [0, 1, 3]


def test_flatten_requires_matching_windowing(spark):
    """Flatten of differently windowed PCols raises (Beam's Flatten
    does too) instead of giving one side NULL windows that a keyed op
    then groups silently; alike-windowed inputs flatten and group per
    window."""
    none, fixed, session = (_matrix_source(spark, w) for w in ("none", "fixed", "session"))
    for a, b in [(fixed, none), (none, fixed), (fixed, session)]:
        with pytest.raises(ValueError, match="different windowing"):
            a.flatten(b)
    both = fixed.flatten(_matrix_source(spark, "fixed")).combine_per_key("sum")
    assert _collected(both)[1] == _reference_rows("fixed", True, sum, fan=2)


@pytest.mark.parametrize("windowing", list(_WINDOWINGS))
def test_count_per_element_counts_per_window(spark, windowing):
    """Count.PerElement counts each element per window (sessions merge per
    element value), against the pure-Python reference; unwindowed it is
    the global count."""
    counts = _matrix_source(spark, windowing).map(F.col("key")).count_per_element()
    cols, rows = _collected(counts)
    assert cols == ["key", *_window_cols(windowing), "value"]
    assert rows == _reference_rows(windowing, True, len)


@pytest.mark.parametrize("windowing", ["none", "fixed", "sliding"])
def test_co_group_by_key_groups_per_window(spark, windowing):
    """CoGroupByKey groups both sides per (key, window) under fixed and
    sliding windows; a (key, window) only one side has gets an empty list
    on the other, as in the unwindowed full outer join."""
    left = _matrix_source(spark, windowing).map_kv(F.col("key"), F.col("value"))
    right = (
        _matrix_source(spark, windowing)
        .filter(F.col("key") == "a")
        .map_kv(F.col("key"), F.col("value") * 1000)
    )
    cols, rows = _collected(left.co_group_by_key(right))
    assert cols == ["key", *_window_cols(windowing), "left_values", "right_values"]
    by_window = _reference_rows(windowing, True, lambda vs: tuple(sorted(vs)))
    right_by_window = {r[:-1]: tuple(v * 1000 for v in r[-1])
                       for r in by_window if r[0] == "a"}
    assert rows == Counter(
        {r + (right_by_window.get(r[:-1], ()),): n for r, n in by_window.items()}
    )


def test_co_group_by_key_rejects_sessions_and_mixed_windowing(spark):
    none, fixed, session = (_matrix_source(spark, w) for w in ("none", "fixed", "session"))
    with pytest.raises(ValueError, match="session-windowed"):
        session.co_group_by_key(_matrix_source(spark, "session"))
    for a, b in [(fixed, none), (none, fixed), (fixed, session)]:
        with pytest.raises(ValueError, match="different windowing"):
            a.co_group_by_key(b)


def test_composite_transform_apply_and_pipe(spark):
    """Beam composite parity: a reusable PCol→PCol callable applies via
    .apply() and the | operator, composing into one flat plan."""
    import pyspark.sql.functions as F

    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    def count_words(pcol):  # a "composite PTransform"
        return (
            pcol.flat_map(F.split(F.col("value"), " "), out="word")
            .map_kv(F.col("word"), F.lit(1))
            .combine_per_key("sum", out="n")
        )

    p = Pipeline(spark)
    src = p.create([("a b a",), ("b c",)], schema="value string")
    via_apply = {tuple(r) for r in src.apply(count_words).collect()}
    via_pipe = {tuple(r) for r in (src | count_words).collect()}
    assert via_apply == via_pipe == {("a", 2), ("b", 2), ("c", 1)}

    import pytest

    with pytest.raises(TypeError):
        src.apply(lambda pc: 42)


def test_map_rows_with_exception_handling_partitions_exactly(spark):
    """Every element lands in exactly one of (ok, dead-letter); error
    rows carry the element repr and 'ExcType: message'."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    src = p.create([(i,) for i in range(20)], schema="k long")
    ok, err = src.map_rows_with_exception_handling(
        lambda row: (row[0], 100 // (row[0] % 4)), schema="k long, q long"
    )
    ok_rows = ok.collect()
    err_rows = err.collect()
    assert len(ok_rows) + len(err_rows) == 20
    assert {r["k"] for r in ok_rows} == {i for i in range(20) if i % 4}
    assert all(
        r["error"].startswith("ZeroDivisionError:") for r in err_rows
    )
    assert all(r["element"] == f"({int(r['element'][1:-2])},)" for r in err_rows)

    # A NULL element is None, so arithmetic on it dead-letters; it must
    # not arrive as nan, succeed, and be written back as NULL unseen.
    nulls = p.create([(1, 1), (2, None), (3, 3)], schema="k long, v long")
    ok, err = nulls.map_rows_with_exception_handling(
        lambda row: (row[0], row[1] + 0), schema="k long, v long"
    )
    assert sorted(tuple(r) for r in ok.collect()) == [(1, 1), (3, 3)]
    assert [tuple(r) for r in err.collect()] == [
        ("(2, None)",
         "TypeError: unsupported operand type(s) for +: 'NoneType' and 'int'"),
    ]


def test_map_rows_exception_handling_wrong_arity_dead_letters(spark):
    """A wrong-arity tuple (or a list) return from fn must dead-letter
    THAT element with a descriptive error instead of mis-shaping the
    whole Arrow batch into an opaque column-count failure (ADVICE r5)."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    src = p.create([(i,) for i in range(6)], schema="k long")

    def fn(row):
        if row[0] == 2:
            return (row[0],)  # one field short of the declared schema
        if row[0] == 4:
            return [row[0], row[0] * 10]  # a list is not a tuple
        return (row[0], row[0] * 10)

    ok, err = src.map_rows_with_exception_handling(fn, schema="k long, q long")
    ok_rows = ok.collect()
    err_rows = err.collect()
    assert {r["k"] for r in ok_rows} == {0, 1, 3, 5}
    assert len(err_rows) == 2
    assert all(r["error"].startswith("ValueError:") for r in err_rows)
    assert any("1 fields" in r["error"] for r in err_rows)


def test_as_multimap_groups_duplicate_keys(spark):
    """AsMultimap (Beam view the reference NotImplementedErrors on):
    duplicate keys accumulate into lists; singleton keys get 1-lists."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    src = p.create(
        [("a", 1), ("b", 2), ("a", 3), ("c", 4)], schema="k string, v long"
    )
    mm = src.as_multimap()
    assert {k: sorted(v) for k, v in mm.items()} == {
        "a": [1, 3], "b": [2], "c": [4]
    }


def test_combine_per_key_partition_fold_many_keys(spark):
    """Round-13 internals pin: the custom-CombineFn path folds per
    PARTITION (a mapInArrow kernel over a key-hash repartition), holding
    one accumulator per key in a dict. Many keys sharing a partition, keys
    split across Arrow batches, and a null key must each fold
    independently and exactly once."""
    from beam_pyspark_runner_spark.operators.combiners import combine_per_key

    n_keys, per_key = 97, 5  # 97 keys >> 32 shuffle partitions: keys share partitions
    rows = [(f"k{i:02d}", j + 1) for i in range(n_keys) for j in range(per_key)]
    rows += [(None, 100), (None, 1)]  # null key is a group of its own
    df = spark.createDataFrame(rows, "key string, value bigint")

    trace = []  # extract sees exactly one acc per key
    fn = CombineFn(
        create=lambda: 0,
        add=lambda acc, v: acc + int(v),
        merge=lambda a, b: a + b,
        extract=lambda acc: trace.append(acc) or float(acc * 2),
        output_type="double",
    )
    got = dict(
        (r["key"], r["total"])
        for r in combine_per_key(df, "key", "value", fn, out="total").collect()
    )
    want = {f"k{i:02d}": 2.0 * sum(range(1, per_key + 1)) for i in range(n_keys)}
    want[None] = 2.0 * 101
    assert got == want


# --- element-type matrix: one contract for every per-element Python op ----
# (value type, non-null values). Each case runs 300 rows ``(id, v)``:
# rows below 150 are never NULL and every third row from 150 on is, so
# both batch sizes below produce batches with and without a NULL.
_ELEMENT_TYPES = {
    "bigint": ("bigint", [1, 3, -4]),
    "bigint_2p53": ("bigint", [2**53 + 1, -(2**53) - 1]),
    "double": ("double", [1.5, -0.25, 1e300]),
    "double_nan": ("double", [float("nan"), 2.5]),
    "int": ("int", [7, -(2**31)]),
    "boolean": ("boolean", [True, False]),
    "string": ("string", ["a", ""]),
    "decimal": ("decimal(38,18)", [Decimal("1.123456789012345678"),
                                   Decimal("-12345678901234567890")]),
    "timestamp": ("timestamp", [datetime(2020, 1, 1, 12, 30, 0, 123456),
                                datetime(1999, 12, 31)]),
    "binary": ("binary", [b"\x00\xff", b""]),
    "array": ("array<bigint>", [[1, None, 2**53 + 1], []]),
    "map": ("map<string,bigint>", [{"a": 1, "b": None}, {}]),
    "struct": ("struct<a:bigint,b:string>", [(2**53 + 1, "x"), (None, None)]),
}


def _typed(v):
    """A value with the type of every scalar in it, for exact comparison
    (``1 == 1.0`` in Python, so equality alone hides a widened int).
    ``collect()`` returns binary as bytearray; compared as bytes, and a
    struct as a Row; compared as the dict a Python fn sees. NaN is
    compared by name (``nan != nan``)."""
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, float) and math.isnan(v):
        return ("float", "nan")
    if isinstance(v, (list, tuple)):
        return [_typed(x) for x in v]
    if isinstance(v, dict):
        return {k: _typed(x) for k, x in v.items()}
    if isinstance(v, bytearray):
        v = bytes(v)
    return (type(v).__name__, v)


@contextmanager
def _arrow_batch(spark, n: int):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def _seen_by_each_op(spark, df) -> dict[str, dict]:
    """``{op: {id: the v its Python fn saw}}`` for ``map_rows``,
    ``flat_map_rows`` and the CombineFn fold; each fn pickles its
    element back so the driver gets exactly the object the fn held."""
    p = Pipeline(spark)
    src = p.from_df(df)
    seen = CombineFn(create=list, add=lambda acc, v: acc + [v],
                     merge=lambda a, b: a + b,
                     extract=lambda acc: pickle.dumps(acc[0]),
                     output_type="binary")
    outs = {
        "map_rows": src.map_rows(
            lambda r: (r[0], pickle.dumps(r[1])), "id bigint, seen binary"),
        "flat_map_rows": src.flat_map_rows(
            lambda r: [None, (r[0], pickle.dumps(r[1]))], "id bigint, seen binary"),
        "combine_fn": src.combine_per_key(seen, key="id", value="v", out="seen"),
    }
    return {op: {r[0]: pickle.loads(r[1]) for r in pc.collect()}
            for op, pc in outs.items()}


def _par_do_identity(spark, df, ddl: str) -> tuple[dict, set[str]]:
    """What an identity ``par_do`` returns, ``{id: v}``, and the dtypes
    its fn saw for ``v`` across all batches."""
    out = Pipeline(spark).from_df(df).par_do(
        lambda bs: (b.assign(dtype=str(b["v"].dtype)) for b in bs),
        f"id bigint, v {ddl}, dtype string")
    rows = out.collect()
    return {r.id: r.v for r in rows}, {r.dtype for r in rows}


@pytest.mark.parametrize("case", sorted(_ELEMENT_TYPES))
def test_element_types_match_collect_under_any_batching(spark, case):
    """The element a per-element Python fn sees equals what
    ``df.collect()`` returns for that row — None for NULL, ints stay
    ints, decimals exact — and does not depend on the Arrow batch size
    (the pandas round trip widened a batch's nullable bigint column to
    float64: 1.0 and nan, and 2**53+1 became 9007199254740992.0).
    An identity ``par_do`` returns exactly ``df.collect()``, and the
    dtype its fn sees is the same whatever the batching (under
    ``mapInPandas`` NaN came back NULL and nested ints went through
    float64).

    Deliberately different (operators/arrow_rows.py): a timestamp
    arrives tz-aware, the same instant ``collect()`` returns naive in the
    local zone."""
    ddl, values = _ELEMENT_TYPES[case]
    rows = [(i, None if i >= 150 and i % 3 == 0 else values[i % len(values)])
            for i in range(300)]
    df = spark.createDataFrame(rows, f"id bigint, v {ddl}")
    want = {r[0]: _typed(r[1]) for r in df.collect()}
    by_size, par_do_dtypes = {}, {}
    for n in (2, 137):
        with _arrow_batch(spark, n):
            by_size[n] = _seen_by_each_op(spark, df)
            identity, par_do_dtypes[n] = _par_do_identity(spark, df, ddl)
        assert {i: _typed(v) for i, v in identity.items()} == want, (n, "par_do")
        assert len(par_do_dtypes[n]) == 1, par_do_dtypes[n]
    for n, per_op in by_size.items():
        for op, got in per_op.items():
            if ddl == "timestamp":
                assert all(v is None or v.tzinfo is not None for v in got.values())
                got = {i: v and v.astimezone().replace(tzinfo=None)
                       for i, v in got.items()}
            assert {i: _typed(v) for i, v in got.items()} == want, (n, op)
    assert _typed(by_size[2]) == _typed(by_size[137])
    assert par_do_dtypes[2] == par_do_dtypes[137]


def test_element_ops_on_empty_input(spark):
    """Empty input — no batches, or zero-row ones — yields empty output
    from every per-element op, and the shared reader and writer handle
    a zero-row batch."""
    df = spark.createDataFrame([], "id bigint, v bigint")
    for n in (2, 137):
        with _arrow_batch(spark, n):
            assert _seen_by_each_op(spark, df) == {
                "map_rows": {}, "flat_map_rows": {}, "combine_fn": {}
            }
            assert _par_do_identity(spark, df, "bigint") == ({}, set())
    empty = pa.record_batch([pa.array([], pa.int64()), pa.array([], pa.string())],
                            names=["id", "v"])
    assert columns(empty) == [[], []]
    struct = pa.struct([("id", pa.int64()), ("v", pa.string())])
    assert to_batch([], struct).num_rows == 0


def test_operators_cross_into_python_only_on_arrow():
    """Every Python op in ``operators/`` crosses on ``mapInArrow``, whose
    type rules ``operators/arrow_rows.py`` owns: a ``mapInPandas`` or
    ``applyInPandas`` call there would bring back Spark's second set of
    pandas type rules."""
    import glob
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "beam_pyspark_runner_spark"
    offenders = []
    for path in glob.glob(str(root / "operators" / "*.py")):
        for lineno, line in enumerate(open(path).read().splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".mapInPandas(" in code or ".applyInPandas(" in code:
                offenders.append(f"{path}:{lineno}")
    assert not offenders, offenders
