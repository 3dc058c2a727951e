"""Structured Streaming semantics: sinks, watermark late-data, AQE skew.

These pin behaviors the queries rely on but don't surface directly:
foreachBatch as the programmable sink, watermark-based late-row
dropping in append mode, and AQE's skew-join splitting (thresholds
lowered so the local fixture triggers the 100 TB code path).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from beam_pyspark_runner_spark.sources.readers import load_table

from tests.conftest import SF_SMOKE


def test_foreachbatch_parquet_sink(spark, tmp_path):
    """foreachBatch: each micro-batch lands as parquet via the batch
    writer — the programmable-sink path (idempotent by batch_id)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    events.repartition(3).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    seen_batches = []

    def sink(batch_df, batch_id):
        seen_batches.append(batch_id)
        batch_df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen_batches, "no micro-batches executed"
    assert spark.read.parquet(out).count() == events.count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with watermark: a row arriving in a later
    micro-batch with an event time far behind the advanced watermark is
    dropped — its window never materializes, while on-time windows emit
    once the watermark passes them."""
    import time

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    os.makedirs(src)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "id long, ts_s string").withColumn(
            "ts", F.col("ts_s").cast("timestamp")
        ).drop("ts_s").write.parquet(f"{src}/{name}")
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    # b1: fresh 12:00 events (watermark advances to 11:50 after this batch)
    write_batch("b1", [(i, "2024-01-01 12:00:00") for i in range(10)])
    # b2: straggler 2h behind the watermark — must be dropped
    write_batch("b2", [(99, "2024-01-01 10:00:00")])
    # b3: 12:30 events push the watermark past the 12:00 window's end
    write_batch("b3", [(i, "2024-01-01 12:30:00") for i in range(3)])

    stream = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch, in order
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = {(r["ws"].hour, r["ws"].minute): r["n"] for r in spark.sql(
        "SELECT * FROM wm_test"
    ).collect()}
    assert emitted.get((12, 0)) == 10, emitted  # on-time window emitted intact
    assert (10, 0) not in emitted, emitted  # late straggler dropped


def test_aqe_splits_skewed_join(spark, tmp_path):
    """AQE skew-join: with one hot key dominating the left side, the
    skewed partition is split into subpartitions at runtime. Thresholds
    are lowered so the fixture-size data triggers the same code path a
    100 TB skewed key would."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(0, 200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        )
        tail = spark.range(0, 1000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("payload")
        )
        left = hot.unionAll(tail)
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        # No aggregation downstream: a consumer that reuses the join's
        # partitioning would make AQE decline the split (it avoids adding
        # a shuffle); a pure join output is the splittable case.
        joined = left.join(right, "k")
        # collect() (not count()) so THIS plan executes and AQE finalizes it
        assert len(joined.collect()) == 200_000 + 1_000  # every row matched once
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)


def test_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Exactly-once via checkpointing: restarting a foreachBatch stream
    with the same checkpoint processes only files added since the last
    run — already-committed batches are never re-delivered."""
    src = str(tmp_path / "cp_src")
    out = str(tmp_path / "cp_out")
    ckpt = str(tmp_path / "cp_ckpt")
    os.makedirs(src)

    def run_once():
        stream = spark.readStream.schema("id long").parquet(src + "/*")
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.range(0, 100).write.parquet(src + "/f1")
    run_once()
    assert spark.read.parquet(out).count() == 100

    spark.range(100, 150).write.parquet(src + "/f2")
    run_once()  # same checkpoint: must deliver ONLY f2
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(150)), f"duplicates or gaps: {len(got)} rows"


def test_session_timeout_state_machine(spark):
    """stream_session_timeout_state invariants: per-user sessions are
    disjoint, separated by more than the gap, internally gap-free at the
    session level (end-start bounds), each user's final session is
    excluded, and every emitted session is unique."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.queries.events import SESSION_GAP_MINUTES

    rows = REGISTRY["stream_session_timeout_state"].fn(spark, SF_SMOKE).collect()
    assert rows, "no sessions emitted"
    gap_s = SESSION_GAP_MINUTES * 60
    by_user = {}
    seen = set()
    for r in rows:
        key = (r["user_id"], r["session_start"])
        assert key not in seen, f"duplicate session emission: {key}"
        seen.add(key)
        assert r["session_start"] <= r["session_end"]
        assert r["n_events"] >= 1
        by_user.setdefault(r["user_id"], []).append(r)
    max_ts = {
        r["user_id"]: r["m"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("m"))
        .collect()
    }
    for uid, sess in by_user.items():
        sess.sort(key=lambda r: r["session_start"])
        for a, b in zip(sess, sess[1:]):
            # strictly separated by more than the session gap
            assert (
                b["session_start"] - a["session_end"]
            ).total_seconds() > gap_s, (uid, a, b)
        # the user's open final session is never emitted
        assert sess[-1]["session_end"] < max_ts[uid]


def test_rocksdb_state_store_provider(spark, tmp_path):
    """Stateful streaming must run unchanged on the RocksDB state store —
    the provider production clusters use for state that outgrows JVM
    heap (bounded memory + native spill). Same input, same results as
    the default provider."""
    src = str(tmp_path / "src")
    events = load_table(spark, SF_SMOKE, "events").select("user_id", "event_id")
    events.repartition(3).write.mode("overwrite").parquet(src)

    def run(provider: str | None):
        key = "spark.sql.streaming.stateStore.providerClass"
        saved = spark.conf.get(key, None)
        if provider:
            spark.conf.set(key, provider)
        try:
            s = spark.readStream.schema(events.schema).option(
                "maxFilesPerTrigger", 1
            ).parquet(src)
            name = f"rocks_{abs(hash(provider)) % 10_000}"
            q = (
                s.groupBy("user_id")
                .count()
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(180)
            return sorted(map(tuple, spark.table(name).collect()))
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)

    rocks = run(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    default = run(None)
    assert rocks == default and len(rocks) > 0


def test_staged_cache_invalidates_on_fixture_change(spark, tmp_path):
    """Round-3 failure class: the driver re-ships a changed events.parquet
    at the same path. The staged multi-file stream copy is keyed by the
    fixture's content fingerprint (size+mtime), so the change must force
    a re-stage — never a silent replay of the stale copy."""
    import shutil

    from beam_pyspark_runner_spark.queries.streaming import _stage_events

    sf = tmp_path / "sf_mut"
    sf.mkdir()
    shutil.copy(os.path.join(SF_SMOKE, "events.parquet"), sf / "events.parquet")

    dir1 = _stage_events(spark, str(sf))
    n1 = spark.read.parquet(dir1).count()
    assert n1 > 0

    # Unchanged fixture → cache hit (same dir, no rewrite).
    assert _stage_events(spark, str(sf)) == dir1

    # Re-ship changed content at the SAME path: half the rows.
    full = spark.read.parquet(str(sf / "events.parquet"))
    half = full.limit(n1 // 2).toPandas()
    (sf / "events.parquet").unlink()
    spark.createDataFrame(half).coalesce(1).write.mode("overwrite").parquet(
        str(sf / "_tmp_half")
    )
    part = next(p for p in os.listdir(sf / "_tmp_half") if p.startswith("part-"))
    shutil.move(str(sf / "_tmp_half" / part), str(sf / "events.parquet"))
    shutil.rmtree(sf / "_tmp_half")

    dir2 = _stage_events(spark, str(sf))
    assert dir2 != dir1, "content change did not change the staged dir"
    assert spark.read.parquet(dir2).count() == n1 // 2
    # The stale copy was swept — nothing left to replay from.
    assert not os.path.exists(dir1)


def test_scratch_dir_concurrent_runs_survive(tmp_path, monkeypatch):
    """The per-run pid nonce (r5 verdict ask #3): a sibling scratch dir
    owned by a LIVE other process survives our allocation's sweep; dead
    owners, our own stale keys, and aged legacy-format dirs are swept."""
    import os
    import subprocess
    import time

    import beam_pyspark_runner_spark.queries.streaming as stm

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    sf_dir = "/root/testdata/sf0.001"
    tag = stm._sf_tag(sf_dir)
    live_pid = os.getppid()  # alive for the duration of the test
    proc = subprocess.Popen(["true"])  # a pid guaranteed dead (reaped)
    proc.wait()
    dead_pid = proc.pid if not stm._pid_alive(proc.pid) else 999999999

    live = tmp_path / f"bprs_x_{tag}_p{live_pid}_k1"
    dead = tmp_path / f"bprs_x_{tag}_p{dead_pid}_k2"
    own_stale = tmp_path / f"bprs_x_{tag}_p{os.getpid()}_oldkey"
    legacy_new = tmp_path / f"bprs_x_{tag}_legacykey"
    legacy_old = tmp_path / f"bprs_x_{tag}_ancient"
    for d in (live, dead, own_stale, legacy_new, legacy_old):
        d.mkdir()
    old = time.time() - 7200
    os.utime(legacy_old, (old, old))

    want = stm._scratch_dir("bprs_x", sf_dir, "mykey")
    assert want.endswith(f"bprs_x_{tag}_p{os.getpid()}_mykey")
    assert live.exists(), "live concurrent run's dir must survive"
    assert legacy_new.exists(), "recent legacy dir is left alone"
    assert not dead.exists(), "dead owner's leftovers swept"
    assert not own_stale.exists(), "our own stale key swept"
    assert not legacy_old.exists(), "aged legacy dir swept"


def _analyzed_node_names(df):
    tree = df._jdf.queryExecution().analyzed().treeString()
    names = []
    for line in tree.splitlines():
        name = line.lstrip(" :+-~'").split(" ")[0].split("[")[0]
        if name:
            names.append(name)
    return names


def test_tumbling_agg_source_agnostic_rate_parity(spark):
    """Source-agnostic streaming proof (r5 verdict ask #6): the SAME
    _tumbling_transform graph applied to (a) the file-replay stream and
    (b) a rate source adapted to the events shape produces an identical
    analyzed plan above the source adapter — the watermark, windowed
    aggregate, and projection nodes match 1:1, which is the substance of
    the 'runs unchanged against Kafka' claim. The rate variant is then
    actually RUN for a couple of micro-batches and must emit windowed
    rows with the contract schema."""
    import time

    import beam_pyspark_runner_spark.queries.streaming as stm

    file_e = stm._events_stream(spark, "/root/testdata/sf0.001")
    file_agg = stm._tumbling_transform(file_e)

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.when(F.col("value") % 3 == 0, "view")
            .when(F.col("value") % 3 == 1, "click")
            .otherwise("purchase")
            .alias("event_type"),
            (F.col("value") % 100).cast("double").alias("value"),
        )
    )
    rate_agg = stm._tumbling_transform(rate)

    def above_watermark(names):
        return names[: names.index("EventTimeWatermark") + 1]

    f_names = _analyzed_node_names(file_agg)
    r_names = _analyzed_node_names(rate_agg)
    assert "EventTimeWatermark" in f_names and "EventTimeWatermark" in r_names
    assert above_watermark(f_names) == above_watermark(r_names), (f_names, r_names)
    # names + types must match; nullability is a property of the source
    # (the rate adapter's CASE is provably non-null), not of the graph
    assert [(f.name, f.dataType) for f in file_agg.schema] == [
        (f.name, f.dataType) for f in rate_agg.schema
    ]

    q = (
        rate_agg.writeStream.format("memory")
        .queryName("rate_parity_sink")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline:
            time.sleep(2)
            q.processAllAvailable()
            rows = spark.table("rate_parity_sink").collect()
            if rows:
                break
    finally:
        q.stop()
    assert rows, "rate-source stream produced no windowed rows"
    assert set(rows[0].asDict()) == {
        "window_start", "event_type", "n_events", "total_value"
    }


def test_exactly_once_sink_replay_idempotent(spark, tmp_path):
    """Round-12: the epoch-keyed OVERWRITE sink is idempotent under
    at-least-once re-delivery — re-invoking the sink with the same
    (batch, batch_id) leaves the sink contents unchanged — while the
    naive append sink double-counts the replayed epoch (why
    stream_foreach_batch_exactly_once certifies overwrite, not append)."""
    src = str(tmp_path / "xsrc")
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "value")
    events.repartition(2).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    outs = {"idem": str(tmp_path / "idem"), "naive": str(tmp_path / "naive")}
    delivered = []

    def idem_sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(
            f"{outs['idem']}/epoch={batch_id}"
        )
        delivered.append(batch_id)

    def naive_sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(outs["naive"])

    for name, sink in (("idem", idem_sink), ("naive", naive_sink)):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    assert delivered, "no micro-batches executed"
    n = events.count()
    # replay the last epoch through both sinks, as recovery would
    last = max(delivered)
    buf = str(tmp_path / "buf")
    spark.read.parquet(f"{outs['idem']}/epoch={last}").write.parquet(buf)
    replay = spark.read.parquet(buf)
    idem_sink(replay, last)
    naive_sink(replay, last)

    assert spark.read.parquet(outs["idem"]).count() == n  # unchanged
    assert spark.read.parquet(outs["naive"]).count() == n + replay.count()


def test_watermark_propagates_through_stream_static_join(spark, tmp_path):
    """Round-12: a watermark applied BEFORE a stream-static join still
    governs the downstream append-mode windowed agg — the static side
    holds no event time, so finalized windows emit and stragglers drop
    exactly as in the unjoined case (the contract
    stream_static_enrich_watermarked builds on)."""
    import time

    src = str(tmp_path / "jsrc")
    os.makedirs(src)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "uid long, ts_s string").withColumn(
            "ts", F.col("ts_s").cast("timestamp")
        ).drop("ts_s").write.parquet(f"{src}/{name}")
        time.sleep(1.1)

    write_batch("b1", [(i % 2, "2024-01-01 12:00:00") for i in range(10)])
    write_batch("b2", [(0, "2024-01-01 10:00:00")])  # late; would join fine
    write_batch("b3", [(0, "2024-01-01 12:30:00") for _ in range(3)])

    dim = spark.createDataFrame([(0, "a"), (1, "b")], "uid long, seg string")
    stream = (
        spark.readStream.schema("uid long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .join(dim, "uid", "inner")
        .groupBy(F.window("ts", "5 minutes"), "seg")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "seg", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_join_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "jckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emitted = {
        (r["ws"].hour, r["ws"].minute, r["seg"]): r["n"]
        for r in spark.sql("SELECT * FROM wm_join_test").collect()
    }
    assert emitted.get((12, 0, "a")) == 5, emitted
    assert emitted.get((12, 0, "b")) == 5, emitted
    assert not any(k[0] == 10 for k in emitted), emitted  # straggler dropped


def test_restart_resumes_wal_pending_batch(spark, tmp_path):
    """Round-13 (round-12 verdict #3): a stream that FAILS mid-source
    and restarts from the same checkpoint must (a) never re-deliver the
    committed batch, (b) first re-execute the WAL-pending batch with
    its ORIGINAL batch_id and file slice, then (c) latch the rest — the
    write-ahead protocol stream_checkpoint_restart_resume certifies
    over the events fixture. Distinct from
    test_checkpoint_recovery_no_reprocessing, which only restarts a
    GRACEFULLY completed stream on new files."""
    src = str(tmp_path / "rsrc")
    os.makedirs(src)
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )

    ckpt = str(tmp_path / "rckpt")
    seen: list[tuple[int, int]] = []

    def run(fail_at):
        def sink(batch_df, batch_id):
            if fail_at is not None and batch_id >= fail_at:
                raise RuntimeError(f"boom at {batch_id}")
            seen.append((batch_id, batch_df.count()))

        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            if q.isActive:
                q.stop()

    with pytest.raises(Exception, match="boom at 1"):
        run(fail_at=1)
    assert [b for b, _ in seen] == [0]

    run(fail_at=None)  # same checkpoint: resume, not reread
    ids = [b for b, _ in seen]
    assert ids == [0, 1, 2], ids  # 0 once; 1 re-executed; 2 fresh
    assert sum(n for _, n in seen) == 300  # no loss, no duplication


class _FakeGroupState:
    """Minimal GroupState double for driving kernels off-Spark."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(int(x) for x in v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = int(ms)


def test_session_timeout_kernel_vectorized_equivalence():
    """The vectorized _session_timeout_fn (round-14: np.diff gap
    detection over the sorted ts array, array-built emission frame)
    must replay identically to the reference per-event state machine —
    emitted (start, end, n) frames, carried state tuple, and timeout
    timestamp — across randomized multi-batch streams with timestamp
    ties, exact-gap boundaries, and the timeout path."""
    import numpy as np
    import pandas as pd

    from beam_pyspark_runner_spark.queries.events import SESSION_GAP_MINUTES
    from beam_pyspark_runner_spark.queries.streaming import _session_timeout_fn

    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    def reference(key, pdf_iter, state):
        # The pre-round-14 per-event loop, kept verbatim as the spec.
        def frame(sessions):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in sessions
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in sessions
                    ],
                    "n_events": [n for _, _, n in sessions],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield frame([(start_us, last_us, n)])
            return
        rows = pd.concat(list(pdf_iter), ignore_index=True).sort_values("ts")
        start_us, last_us, n = state.get if state.exists else (None, None, 0)
        closed = []
        for us in (rows["ts"].astype("int64") // 1000).tolist():
            if last_us is not None and us - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us, n = None, 0
            if start_us is None:
                start_us = us
            last_us = us
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(
            last_us // 1000 + SESSION_GAP_MINUTES * 60 * 1000
        )
        if closed:
            yield frame(closed)

    def replay(kernel, batches, do_timeout):
        st = _FakeGroupState()
        frames = []
        for b in batches:
            pdf = pd.DataFrame(
                {"ts": pd.to_datetime(np.asarray(b, dtype="int64") * 1000)}
            )
            chunks = (
                [pdf.iloc[: len(pdf) // 2], pdf.iloc[len(pdf) // 2 :]]
                if len(pdf) > 1
                else [pdf]
            )
            frames.extend(list(kernel((123,), iter(chunks), st)))
        if do_timeout and st.exists:
            st.hasTimedOut = True
            frames.extend(list(kernel((123,), iter([]), st)))
        if not frames:
            return None, st._v, st.timeout_ms
        out = (
            pd.concat(frames, ignore_index=True)
            .sort_values(["session_start", "session_end"])
            .reset_index(drop=True)
        )
        return out, st._v, st.timeout_ms

    rng = np.random.default_rng(20260818)
    for _ in range(200):
        n = int(rng.integers(1, 50))
        steps = rng.choice(
            [0, 1, 10_000_000, gap_us, gap_us + 1, 3 * gap_us],
            size=n,
            p=[0.15, 0.2, 0.3, 0.1, 0.15, 0.1],
        )
        ts = 1_600_000_000_000_000 + np.cumsum(steps)
        n_cuts = int(min(rng.integers(0, 4), n - 1))
        cuts = (
            np.sort(rng.choice(np.arange(1, n), size=n_cuts, replace=False))
            if n > 1
            else []
        )
        batches = [b.tolist() for b in np.split(ts, cuts)]
        do_timeout = bool(rng.integers(0, 2))
        ref, ref_state, ref_tmo = replay(reference, batches, do_timeout)
        got, got_state, got_tmo = replay(_session_timeout_fn, batches, do_timeout)
        assert (ref is None) == (got is None)
        if ref is not None:
            pd.testing.assert_frame_equal(ref, got)
        assert ref_state == got_state
        assert ref_tmo == got_tmo


def _ts_chunk(us_values):
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {"ts": pd.to_datetime(np.asarray(us_values, dtype="int64") * 1000)}
    )


def test_session_timeout_kernel_zero_row_call_rearms_state():
    """A non-timeout call with no rows emits nothing and keeps the open
    session armed (state and timeout unchanged) instead of crashing on
    an empty timestamp array; with no state it stays stateless."""
    from beam_pyspark_runner_spark.queries.streaming import _session_timeout_fn

    st = _FakeGroupState()
    assert list(_session_timeout_fn((7,), iter([]), st)) == []
    assert not st.exists and st.timeout_ms is None

    list(_session_timeout_fn((7,), iter([_ts_chunk([1_000_000, 2_000_000])]), st))
    armed = (st._v, st.timeout_ms)
    assert armed[0] == (1_000_000, 2_000_000, 2)
    st.timeout_ms = None  # a call that does not set it clears it
    for empty in ([], [_ts_chunk([])]):
        assert list(_session_timeout_fn((7,), iter(empty), st)) == []
        assert (st._v, st.timeout_ms) == armed


def test_session_timeout_kernel_rejects_out_of_order_batch():
    """The carried-session merge assumes a batch never starts before the
    open session's last event; a source that breaks that order fails
    loudly instead of merging sessions wrongly."""
    from beam_pyspark_runner_spark.queries.streaming import _session_timeout_fn

    st = _FakeGroupState()
    list(_session_timeout_fn((7,), iter([_ts_chunk([5_000_000])]), st))
    list(_session_timeout_fn((7,), iter([_ts_chunk([5_000_000])]), st))  # a tie is in order
    with pytest.raises(ValueError, match="precedes the open session"):
        list(_session_timeout_fn((7,), iter([_ts_chunk([4_999_999])]), st))


def test_stream_width_python_stateful_vs_jvm(spark):
    """run_stream_to_df's state-partition default: Python-stateful
    streams derive a wider width (defaultParallelism // 2, floor 4 —
    their cost is per-key Python protocol, which parallelizes across
    workers), JVM-stateful streams keep the maintenance floor of 4, and
    the explicit spark.graft.stream.partitions knob overrides both."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from beam_pyspark_runner_spark.queries.streaming import (
        _events_stream,
        _session_timeout_fn,
    )
    from beam_pyspark_runner_spark.streaming.runner import run_stream_to_df

    def state_stage():
        e = _events_stream(spark, SF_SMOKE, max_files_per_trigger=2)
        return (
            e.withWatermark("ts", "1 hour")
            .select("user_id", "ts")
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_timeout_fn,
                outputStructType=(
                    "user_id bigint, session_start timestamp, "
                    "session_end timestamp, n_events bigint"
                ),
                stateStructType="start_us bigint, last_us bigint, n bigint",
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def jvm_stage():
        e = _events_stream(spark, SF_SMOKE, max_files_per_trigger=2)
        return (
            e.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"))
            .count()
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    expected_py = min(
        int(saved), max(4, spark.sparkContext.defaultParallelism // 2)
    )

    # The runner sets the width, starts the stream, then restores the
    # session default — spy on conf.set and assert the set-then-restore
    # sequence, whose first element is the chosen width.
    sets = []
    orig_set = spark.conf.set

    def spy_set(k, v):
        if k == "spark.sql.shuffle.partitions":
            sets.append(v)
        return orig_set(k, v)

    spark.conf.set = spy_set
    try:
        run_stream_to_df(state_stage(), output_mode="update")
        assert sets == [str(expected_py), saved], sets
        sets.clear()
        run_stream_to_df(jvm_stage(), output_mode="complete")
        assert sets == ["4", saved], sets
        orig_set("spark.graft.stream.partitions", "7")
        try:
            sets.clear()
            run_stream_to_df(state_stage(), output_mode="update")
            assert sets == ["7", saved], sets
        finally:
            spark.conf.unset("spark.graft.stream.partitions")
    finally:
        spark.conf.set = orig_set


def test_stream_width_capped_at_narrowed_session(spark):
    """A session narrowed on purpose (shuffle.partitions=2) is respected:
    the Python-stateful stream's derived width — otherwise at least 4 —
    is capped at it, as the stream's state-store count shows."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener
    from pyspark.sql.streaming.state import GroupStateTimeout

    from beam_pyspark_runner_spark.queries.streaming import (
        _events_stream,
        _session_timeout_fn,
    )
    from beam_pyspark_runner_spark.streaming.runner import run_stream_to_df

    class StoreCounts(StreamingQueryListener):
        def __init__(self):
            self.stores = set()
            self.done = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            for op in event.progress.stateOperators or []:
                self.stores.add(op.numStateStoreInstances)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    stream = (
        _events_stream(spark, SF_SMOKE, max_files_per_trigger=2)
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_fn,
            outputStructType=(
                "user_id bigint, session_start timestamp, "
                "session_end timestamp, n_events bigint"
            ),
            stateStructType="start_us bigint, last_us bigint, n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    counts = StoreCounts()
    spark.streams.addListener(counts)
    spark.conf.set(key, "2")
    try:
        run_stream_to_df(stream, output_mode="update")
        assert spark.conf.get(key) == "2"
        assert counts.done.wait(60)
    finally:
        spark.conf.set(key, saved)
        spark.streams.removeListener(counts)
    assert counts.stores == {2}, counts.stores


def test_stream_result_view_dropped_and_rows_kept(spark, tmp_path):
    """run_stream_to_df unregisters its memory-sink view once the result
    is bound, so no stream result stays pinned for the session's life;
    the bound result still collects the same rows, again and again."""
    from beam_pyspark_runner_spark.streaming.runner import (
        read_parquet_stream,
        run_stream_to_df,
    )

    src = str(tmp_path / "src")
    rows = spark.range(40).select((F.col("id") % 4).alias("k"), "id")
    rows.repartition(4).write.parquet(src)
    stream = read_parquet_stream(spark, src, rows.schema).groupBy("k").count()
    result = run_stream_to_df(stream)

    assert not [t.name for t in spark.catalog.listTables()
                if t.isTemporary and t.name.startswith("stream_result_")]
    first = sorted(result.collect())
    assert first == [(k, 10) for k in range(4)]
    assert sorted(result.collect()) == first
