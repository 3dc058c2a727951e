"""Streaming execution helpers.

``run_available_now`` is the one stream-run scaffold: it runs a stream
to completion with ``Trigger.AvailableNow`` (process-everything-then-
stop) into any sink, at the state-store width of
``state_store_partitions``. ``run_stream_to_df`` uses it with a named
memory sink and returns the result as a batch DataFrame. This makes
every streaming query oracle-checkable: the same event-time logic must
produce the same result whether the input arrives as one batch or as a
replayed stream — which is exactly Structured Streaming's contract.

On a real cluster the memory sink would be a Delta/Kafka/parquet sink;
nothing else changes — the transformation graph is identical.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

_sink_counter = itertools.count()
_WIDTH = "spark.sql.shuffle.partitions"


def read_parquet_stream(
    spark: SparkSession, path: str, schema: T.StructType, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a parquet path (schema must be explicit —
    streaming sources don't infer). ``maxFilesPerTrigger`` forces multi-
    batch execution so stateful operators actually exercise state."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def state_store_partitions(streaming_df: DataFrame) -> str:
    """The shuffle width a stateful stream starts with — the one rule.

    A stateful stream instantiates one state-store per shuffle
    partition, and that count is FROZEN into the checkpoint at stream
    start — so it must be sized to key cardinality and throughput, not
    inherited from the batch default. The local replay harness holds
    thousands of keys, where 32 store instances' per-batch maintenance
    dominates wall-clock (measured 3.7 s → 2.1 s at 8 on the tumbling
    bench; round-13 re-measure: 8 → 4 roughly halves it again — p8
    [2.6..3.5] vs p4 [1.5..1.7] — and 2 is no better than 4, so 4 is the
    local floor where maintenance stops dominating); production streams
    set ``spark.graft.stream.partitions`` explicitly (hundreds, for
    millions of keys). Partition count never affects results — only
    where state lives.

    Python-stateful streams (applyInPandasWithState) get a WIDER default
    (round-14, guide §4/§2.2): their per-partition cost is dominated not
    by store maintenance but by the per-key Python protocol (per-key
    Arrow slice→pandas conversion, GroupState construct, json+pickle
    state round-trip — pyspark's serializer, ~ms/key), which parallelizes
    one Python worker per partition. Measured on the session-timeout
    state stage at sf0.1/local[32], interleaved min-of-4: p4 5.44 s,
    p8 4.42, p16 3.77, p32 4.48 (maintenance overtakes) — optimum at
    half the task slots, so the default derives from defaultParallelism
    rather than a local constant (8-core hosts derive 4, unchanged).
    JVM-stateful streams keep the maintenance floor of 4. Neither default
    exceeds the session's ``spark.sql.shuffle.partitions``, so a session
    narrowed on purpose stays narrow."""
    spark = streaming_df.sparkSession
    target = spark.conf.get("spark.graft.stream.partitions", "")
    if target:
        return target
    width = int(spark.conf.get(_WIDTH))
    try:
        analyzed = streaming_df._jdf.queryExecution().analyzed().toString()
        py_stateful = "FlatMapGroupsInPandasWithState" in analyzed
    except Exception:  # noqa: BLE001 — plan introspection is best-effort
        py_stateful = False
    if py_stateful:
        return str(min(width, max(4, spark.sparkContext.defaultParallelism // 2)))
    return str(min(4, width))


def run_available_now(
    streaming_df: DataFrame,
    sink: Callable[[DataStreamWriter], DataStreamWriter],
    label: str,
    timeout_sec: int = 300,
    size_state: bool = True,
) -> None:
    """The one stream-run scaffold: start ``sink(streaming_df.writeStream)``
    with ``Trigger.AvailableNow``, wait until it has drained its source,
    and stop it. A stream failure propagates unchanged; a stream still
    running after ``timeout_sec`` raises ``TimeoutError``.

    ``size_state`` starts the stream at ``state_store_partitions``; the
    stream captures the conf at start(), so the session width is
    restored right after and concurrent/subsequent batch plans keep the
    session default. A stateless ``foreachBatch`` sink passes False:
    its micro-batches then plan at the session width."""
    spark = streaming_df.sparkSession
    saved = spark.conf.get(_WIDTH)
    if size_state:
        spark.conf.set(_WIDTH, state_store_partitions(streaming_df))
    try:
        query = sink(streaming_df.writeStream).trigger(availableNow=True).start()
    finally:
        if size_state:
            spark.conf.set(_WIDTH, saved)
    try:
        if not query.awaitTermination(timeout_sec):
            raise TimeoutError(f"{label} did not finish in {timeout_sec}s")
    finally:
        if query.isActive:
            query.stop()


def run_stream_to_df(
    streaming_df: DataFrame, output_mode: str = "complete", timeout_sec: int = 300
) -> DataFrame:
    """Run a streaming DataFrame to exhaustion (AvailableNow) into a
    memory sink, sized by ``state_store_partitions``, and return the
    final table as a batch DataFrame."""
    name = f"stream_result_{next(_sink_counter)}"
    run_available_now(
        streaming_df,
        lambda w: w.format("memory").queryName(name).outputMode(output_mode),
        f"streaming query {name}",
        timeout_sec,
    )
    # The bound DataFrame keeps the sink's rows; the view would pin them
    # for the life of the session, one per stream run.
    spark = streaming_df.sparkSession
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result
