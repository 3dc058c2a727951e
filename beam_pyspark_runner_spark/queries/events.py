"""Event-table queries: JSON extraction, event-time windows, sessionization.

The reference has zero streaming/windowing (SURVEY.md §2.4: WindowInto is
a silent NoOp, timestamps are stripped). These queries implement the
batch/event-time semantics; queries/streaming.py runs the same logic
through Structured Streaming and must agree with these results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from beam_pyspark_runner_spark.functions.numeric import davg, davg_sql, dsum, dsum_sql
from beam_pyspark_runner_spark.plans.audit import checkpoint_audited
from beam_pyspark_runner_spark.queries.registry import register
from beam_pyspark_runner_spark.sources.readers import load_table

# 30-minute inactivity gap used by both session queries and the oracle.
SESSION_GAP_MINUTES = 30


@register(
    "json_extraction",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events WHERE event_type IN ('purchase', 'signup')
    """,
    tags=("json", "scalar_fns"),
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction stays JVM-side via get_json_object — the
    reference would need a Python DoFn with json.loads per element."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_value"),
    )


@register(
    "tumbling_window_agg",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("event_time", "tumbling_window"),
    bench=True,
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window via F.window; window.start equals the
    oracle's time_bucket for epoch-aligned 1h windows."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "pipeline_windowed_count",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
    tags=("pipeline_api", "window_into", "event_time", "tumbling_window"),
)
def pipeline_windowed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WindowInto through the Beam-style pipeline API — the operator the
    reference silently NoOps (SURVEY.md §2.5 bug #2, WindowInto →
    transform_evaluators.py:118): fixed 1h windows assigned element-wise,
    then combine_per_key groups per (event_type, window). Lowers to the
    identical single-shuffle windowed HashAggregate as the plain
    DataFrame twin (tumbling_window_agg)."""
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    p = Pipeline(spark)
    return (
        p.from_df(load_table(spark, sf_dir, "events").select("event_type", "ts"))
        .window_into(size="1 hour", ts="ts")
        .combine_per_key("count", key="event_type", value="ts", out="n_events")
        .select("window_start", F.col("event_type"), F.col("n_events"))
        .to_df()
    )


@register(
    "pipeline_windowed_custom_combine",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           {dsum_sql('value * value')} AS sum_sq
    FROM events GROUP BY 1, 2
    """,
    tags=("pipeline_api", "window_into", "combine_fn", "custom_combiner"),
)
def pipeline_windowed_custom_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WindowInto + CombinePerKey(custom CombineFn) — the composition the
    reference runs every day (``overrides.py:58-75`` +
    ``transform_evaluators.py:89-100``, modulo its NoOp-window bug) and
    the one shape this engine refused until round 5. The custom fold
    (sum of squares) runs in one ``mapInArrow`` pass per partition over
    a hash repartition on (event_type, window_start, window_end): one
    shuffle, Arrow-batched, no per-row pickling. The accumulator mirrors
    functions/numeric.dsum in Python Decimal (exact, order-independent)
    so the result value-hashes against DuckDB's decimal accumulation
    bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    from beam_pyspark_runner_spark.operators.combiners import CombineFn
    from beam_pyspark_runner_spark.operators.pipeline import Pipeline

    q10 = Decimal("1e-10")
    q2 = Decimal("0.01")
    fn = CombineFn(
        create=lambda: Decimal(0),
        # row-level double multiply (IEEE, same in both engines), then
        # exact decimal accumulation — dsum's contract, in Python
        add=lambda acc, v: acc
        + Decimal(float(v) * float(v)).quantize(q10, ROUND_HALF_UP),
        merge=lambda a, b: a + b,
        extract=lambda acc: float(acc.quantize(q2, ROUND_HALF_UP)),
        output_type="double",
    )
    p = Pipeline(spark)
    return (
        p.from_df(load_table(spark, sf_dir, "events").select("event_type", "ts", "value"))
        .window_into(size="1 hour", ts="ts")
        .combine_per_key(fn, key="event_type", value="value", out="sum_sq")
        .select("window_start", "event_type", "sum_sq")
        .to_df()
    )


@register(
    "sliding_window_agg",
    oracle=f"""
    WITH offsets(off) AS (VALUES (0), (30)),
    starts AS (
        SELECT time_bucket(INTERVAL '1 hour', ts - to_minutes(off)) + to_minutes(off) AS window_start,
               value
        FROM events, offsets
    )
    SELECT window_start, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM starts GROUP BY 1
    """,
    tags=("event_time", "sliding_window"),
)
def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h size, 30m slide): each event lands in 2 windows.
    The oracle replays Spark's window-assignment rule (one bucket per
    slide offset)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "sessionization",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '{SESSION_GAP_MINUTES} minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           {dsum_sql('value')} AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
    tags=("event_time", "session_window", "gaps_and_islands"),
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-minute gap): lag + cumulative-sum
    gaps-and-islands. One shuffle on user_id; both window passes reuse
    the same partitioning (single sort). The streaming twin is
    F.session_window in queries/streaming.py."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = SESSION_GAP_MINUTES * 60
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > gap_sec)
    ).cast("long")
    return (
        e.select("user_id", "ts", "event_id", "value", new_session.alias("new_session"))
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            dsum("value").alias("session_value"),
        )
    )


@register(
    "event_type_pivot",
    oracle=f"""
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           {dsum_sql("CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END")} AS purchase_value
    FROM events GROUP BY user_id
    """,
    tags=("pivot", "aggregate"),
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list → single-pass aggregate, no extra
    shuffle and no distinct-values pre-scan (which an open pivot needs)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_view"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("purchase_value"),
    )


@register(
    "funnel_stages",
    oracle=f"""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
          GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
    tags=("event_time", "funnel", "multi_stage"),
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage keeps
    users whose stage event occurs at/after their previous stage's first
    event. Three narrow per-user aggregations chained by broadcast-sized
    joins (each stage output is one row per user, shrinking monotonically)
    — at 100 TB only the first stage scans the fact table; later stages
    join pre-aggregated user rows."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    )


@register(
    "cohort_retention",
    oracle=f"""
    WITH weekly AS (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '7 days', ts, TIMESTAMP '1970-01-01') AS week
        FROM events
    ),
    cohorts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    )
    SELECT c.cohort_week, w.week AS activity_week, COUNT(*) AS n_active_users
    FROM weekly w JOIN cohorts c ON c.user_id = w.user_id
    GROUP BY c.cohort_week, w.week
    """,
    tags=("event_time", "cohort", "retention", "aggregate"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active week, counted in
    every week they return. Two aggregations over the deduplicated
    (user, week) grid plus one join back — the grid is tiny relative to
    raw events, so at 100 TB only the initial distinct touches the fact
    table; everything after runs on |users|×|weeks| rows.

    Window alignment: Spark's F.window buckets from the epoch, so the
    oracle pins time_bucket's origin to 1970-01-01 (DuckDB's default
    7-day origin is Monday 2000-01-03, off by 3 days)."""
    e = load_table(spark, sf_dir, "events")
    weekly = (
        e.select("user_id", F.window("ts", "7 days").start.alias("week")).distinct()
    )
    cohorts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohorts, "user_id")
        .groupBy("cohort_week", F.col("week").alias("activity_week"))
        .agg(F.count("*").alias("n_active_users"))
    )


@register(
    "top_sessions",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '{SESSION_GAP_MINUTES} minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, session_id, MIN(ts) AS session_start,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, n_events, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY n_events DESC, session_start) AS rnk
        FROM per_session
    ) WHERE rnk <= 2
    """,
    tags=("event_time", "session_window", "top_k_per_key", "window"),
)
def top_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's 2 busiest sessions: sessionization (gap rule via lag +
    running flag-sum) composed with a per-key top-k window — the
    session assignment and both rankings share one user-partitioned sort."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), 1
    ).otherwise(0)
    sessions = e.withColumn(
        "session_id",
        F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.count("*").alias("n_events")
    )
    w_rank = W.partitionBy("user_id").orderBy(
        F.col("n_events").desc(), F.col("session_start")
    )
    return (
        per_session.withColumn("rnk", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select("user_id", "session_start", "n_events", "rnk")
    )


@register(
    "variant_extract",
    oracle="""
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS total,
           o_orderpriority AS first_tag
    FROM orders
    """,
    tags=("json", "variant", "semi_structured", "scalar_fns"),
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path: nested JSON built from order columns →
    parse_json → VariantType → typed variant_get extraction at depth
    ($.meta.status, $.tags[0]). VARIANT keeps the binary-encoded value
    columnar and lets the engine shred paths without a schema — the
    modern replacement for get_json_object string re-parsing on every
    access. The oracle is the original columns, so the construct→parse→
    extract loop must be lossless (doubles survive because to_json emits
    shortest-round-trip literals)."""
    o = load_table(spark, sf_dir, "orders")
    jstr = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
            ).alias("meta"),
            F.array(F.col("o_orderpriority")).alias("tags"),
        )
    )
    v = F.parse_json(jstr)
    return o.select(
        F.variant_get(v, "$.id", "bigint").alias("id"),
        F.variant_get(v, "$.meta.status", "string").alias("status"),
        F.variant_get(v, "$.meta.total", "double").alias("total"),
        F.variant_get(v, "$.tags[0]", "string").alias("first_tag"),
    )


@register(
    "session_window_batch",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL '{SESSION_GAP_MINUTES} minutes'
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS session_value
    FROM sessions GROUP BY user_id, session_id
    """,
    tags=("event_time", "session_window", "aggregate"),
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window in BATCH mode: Spark merges overlapping
    [ts, ts+gap) intervals inside an ordinary aggregate — one shuffle on
    (user_id, session), no global sort, no window function pass. The
    gaps-and-islands twin (sessionization) and the streaming twin
    (stream_session_window) share this oracle family; all three must
    agree. window.end is last-event + gap, so session_end subtracts the
    gap back to align with the oracle's MAX(ts)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), dsum("value").alias("session_value"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            (
                F.col("session_window.end")
                - F.expr(f"INTERVAL {SESSION_GAP_MINUTES} MINUTES")
            ).alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "resample_fill_gaps",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
               COUNT(*) AS n, {dsum_sql('value')} AS total
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT MIN(time_bucket(INTERVAL '1 hour', ts)) AS mn,
               MAX(time_bucket(INTERVAL '1 hour', ts)) AS mx
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events)
    SELECT t.event_type, s.h AS hour_start,
           COALESCE(n, 0) AS n_events,
           CAST(COALESCE(total, 0) AS DOUBLE) AS total_value
    FROM types t CROSS JOIN spine s
    LEFT JOIN hourly ON hourly.event_type = t.event_type AND hourly.h = s.h
    """,
    tags=("event_time", "resample", "gap_fill", "time_spine"),
)
def resample_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: a complete hourly spine
    (min..max hour, F.sequence with an interval step) crossed with the
    event-type domain, left-joined to hourly aggregates, missing cells
    filled with zero — the standard densify step before charting,
    forecasting, or window features (a LAG over sparse buckets silently
    skips the gaps). Spine and type dimension are tiny and broadcast;
    the fact side aggregates BEFORE the join, so the left join touches
    one row per (type, hour), never raw events."""
    e = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(F.col("event_type"), hour.alias("h")).agg(
        F.count("*").alias("n"), dsum("value").alias("total")
    )
    bounds = e.agg(F.min(hour).alias("mn"), F.max(hour).alias("mx"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = e.select("event_type").distinct()
    grid = F.broadcast(types).crossJoin(F.broadcast(spine))
    return (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.col("h").alias("hour_start"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("total", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "xml_roundtrip",
    oracle="""
    SELECT o_orderkey AS id,
           o_orderstatus AS status,
           o_totalprice AS total
    FROM orders WHERE o_totalprice > 250000
    """,
    tags=("xml", "semi_structured", "scalar_fns", "io"),
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 native XML: order columns serialized with to_xml, parsed
    back with a schema'd from_xml, typed fields extracted — the
    construct→serialize→parse→extract loop must be lossless against the
    original columns (same proof pattern as variant_extract, on the XML
    codec). Both functions are JVM expression-level — per-row XML
    handling without a file-format detour or a Python UDF."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    xml = F.to_xml(
        F.struct(
            F.col("o_orderkey").alias("id"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("total"),
        )
    )
    parsed = o.select(xml.alias("xml")).select(
        F.from_xml("xml", "id bigint, status string, total double").alias("r")
    )
    return parsed.select("r.id", "r.status", "r.total")


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ),
    r AS (SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS row_total
          FROM t GROUP BY prev_type)
    SELECT t.prev_type, t.next_type, t.n_transitions,
           CAST(t.n_transitions AS DOUBLE) / CAST(r.row_total AS DOUBLE)
               AS transition_prob
    FROM t JOIN r ON t.prev_type = r.prev_type
    """,
    tags=("event_time", "markov", "transition", "sequence"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | current event type), the building block of
    user-journey and next-action models.

    Scale notes (100 TB): one window pass keyed by user (the natural
    sessionization partitioning — no global sort), then a transition-
    keyed agg whose cardinality is |event_types|² regardless of corpus
    size. Probabilities are count ratios (single IEEE division) so they
    value-hash exactly.
    """
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n_transitions")
    )
    r = t.groupBy("prev_type").agg(
        F.sum("n_transitions").cast("bigint").alias("row_total")
    )
    return t.join(F.broadcast(r), "prev_type").select(
        "prev_type", "next_type", "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.col("row_total").cast("double")
        ).alias("transition_prob"),
    )


@register(
    "value_outliers",
    oracle=f"""
    WITH stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               {dsum_sql('value')} AS sx,
               {dsum_sql('value * value')} AS sxx
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT event_type, n,
               sx / CAST(n AS DOUBLE) AS mean,
               sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))
                   AS std
        FROM stats WHERE n > 1
    )
    SELECT e.event_type, z.mean, z.std,
           CAST(SUM(CASE WHEN abs(e.value - z.mean) > 3 * z.std
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           COUNT(*) AS n_events
    FROM events e JOIN z ON e.event_type = z.event_type
    GROUP BY e.event_type, z.mean, z.std
    """,
    tags=("event_time", "outlier", "zscore", "aggregate"),
)
def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 3-sigma outlier counts with *deterministic* moments.

    Spark's stddev (Welford) and DuckDB's accumulate in partition order
    — same data, different last bits. Instead both engines compute the
    two decimal-exact power sums (Σx, Σx², functions/numeric.py
    discipline) and derive variance with identical IEEE double steps, so
    mean/std/outlier counts value-hash bit-for-bit and are independent
    of partitioning — on 32 cores or 1000 executors.

    Scale notes: two passes over events (moments, then flagging), both
    type-keyed partial aggs; the per-type stats broadcast into the
    flagging pass.
    """
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum("value").alias("sx"),
        dsum(F.col("value") * F.col("value")).alias("sxx"),
    )
    z = stats.filter(F.col("n") > 1).select(
        "event_type",
        (F.col("sx") / F.col("n").cast("double")).alias("mean"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n").cast("double"))
            / (F.col("n") - 1).cast("double")
        ).alias("std"),
    )
    return (
        e.join(F.broadcast(z), "event_type")
        .groupBy("event_type", "mean", "std")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mean")) > 3 * F.col("std"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
            F.count("*").alias("n_events"),
        )
        .select("event_type", "mean", "std", "n_outliers", "n_events")
    )


@register(
    "ewma_user_value",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               list_transform(
                   list_sort(list(ROW(ts, event_id, value))),
                   r -> r[3]
               ) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(vals, (acc, x) -> acc * 0.5 + x * 0.5) AS ewma_value
    FROM ordered
    """,
    tags=("event_time", "ewma", "time_series", "fold"),
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (α = 0.5):
    s₁ = x₁, sₜ = ½·sₜ₋₁ + ½·xₜ over the time-ordered event stream —
    the classic streaming smoother, computed batch-side.

    Determinism by construction: α = ½ makes every decay multiply an
    exact exponent shift (no rounding), so the fold's only roundings are
    the additions, which both engines perform in identical event-time
    order (in-group sort by (ts, event_id, value), then an index-order
    left fold: Spark `F.aggregate`, DuckDB `list_reduce`, both seeded
    with the first element). Result: bit-identical EWMA regardless of
    partitioning.

    Scale notes (100 TB): one shuffle keyed by user; the fold runs
    inside the group (codegen HOF, no Python, no window-function state).
    Per-user history must fit a row — true for session-scale keys; an
    unbounded key would use the streaming state-machine form
    (queries/streaming.py) instead.
    """
    e = load_table(spark, sf_dir, "events")
    ordered = e.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda r: r["value"],
        ).alias("vals")
    )
    fold = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.size("vals") - 1, F.lit(0))),
        F.element_at("vals", 1),
        lambda acc, x: acc * F.lit(0.5) + x * F.lit(0.5),
    )
    return ordered.select(
        "user_id",
        F.size("vals").cast("bigint").alias("n_events"),
        fold.alias("ewma_value"),
    )


@register(
    "first_touch_attribution",
    oracle="""
    WITH tagged AS (
        SELECT user_id, ts, event_type, value,
               MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_view_ts
        FROM events
    )
    SELECT
        CASE WHEN last_view_ts IS NOT NULL
                  AND ts - last_view_ts <= INTERVAL '30 minutes'
             THEN 'view_attributed' ELSE 'unattributed' END AS attribution,
        COUNT(*) AS n_purchases,
        CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS attributed_value
    FROM tagged
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("events", "attribution", "window", "asof_within_table"),
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style attribution: each purchase is credited to the
    user's most recent preceding 'view' within a 30-minute lookback —
    an as-of join of a table AGAINST ITSELF expressed as one analytic
    pass instead of a join: the running MAX over a CASE projects the
    last qualifying timestamp forward, so no second shuffle, no
    range-join explosion, and per-user ordering is the only sort. The
    same shape at 100 TB: one hash partition by user, one in-partition
    sort, streaming window evaluation with O(1) state per row.

    Purchases with no view in the lookback fall into 'unattributed';
    sums accumulate in exact decimal (functions/numeric.py)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    tagged = e.withColumn(
        "last_view_ts",
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    attributed = F.when(
        F.col("last_view_ts").isNotNull()
        & (
            F.col("ts").cast("long") - F.col("last_view_ts").cast("long")
            <= 30 * 60
        ),
        F.lit("view_attributed"),
    ).otherwise(F.lit("unattributed"))
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(attributed.alias("attribution"))
        .agg(
            F.count("*").alias("n_purchases"),
            dsum(F.col("value")).alias("attributed_value"),
        )
    )


@register(
    "dead_letter_split",
    oracle="""
    WITH raw AS (
        SELECT event_id,
               CASE WHEN event_id % 97 = 0 THEN '{"k": "oops"' ELSE props END
                   AS props
        FROM events
    ),
    parsed AS (
        -- DuckDB's json_extract throws on malformed input where Spark's
        -- get_json_object yields NULL; json_valid aligns the semantics.
        SELECT event_id,
               CASE WHEN json_valid(props)
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k
        FROM raw
    )
    SELECT CASE WHEN k IS NULL THEN 'dead_letter' ELSE 'ok' END AS route,
           COUNT(*) AS n_events,
           MIN(event_id) AS first_event_id
    FROM parsed
    GROUP BY 1
    """,
    tags=("events", "dead_letter", "error_routing", "pipeline_pattern"),
)
def dead_letter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Beam dead-letter pattern: records whose payload fails to
    parse are ROUTED, not raised — a DoFn with a try/except emitting to
    a side output in the reference's world (its ParDo gives no
    multi-output hook: SURVEY.md §2.5; our pipeline API's ``partition``
    covers that form). Here the whole split stays declarative: try_-
    family expressions turn per-record parse failures into NULLs inside
    whole-stage codegen — no Python, no exception unwinding per row —
    and the router is a CASE over the NULL. At 100 TB the two routes
    are written with partitionBy('route') so the dead-letter queue is
    its own prunable partition; the query returns per-route counts plus
    the first offending id for triage."""
    e = load_table(spark, sf_dir, "events").withColumn(
        # Deterministic corruption of ~1% of payloads (the fixture's
        # props always parse): simulates the malformed-producer records
        # the pattern exists for, identically in both engines.
        "props",
        F.when(F.col("event_id") % 97 == 0, F.lit('{"k": "oops"'))
        .otherwise(F.col("props")),
    )
    parsed = e.select(
        "event_id",
        F.try_to_number(
            F.get_json_object("props", "$.k"), F.lit("999999999")
        ).cast("long").alias("k"),
    )
    return (
        parsed.groupBy(
            F.when(F.col("k").isNull(), F.lit("dead_letter"))
            .otherwise(F.lit("ok"))
            .alias("route")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("first_event_id"),
        )
    )


@register(
    "cuped_variance_reduction",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,10)))
                     FILTER (WHERE ts < TIMESTAMP '2024-01-15'), 0) AS DOUBLE) AS x,
               CAST(COALESCE(SUM(CAST(value AS DECIMAL(38,10)))
                     FILTER (WHERE ts >= TIMESTAMP '2024-01-15'), 0) AS DOUBLE) AS y
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 2) AS DOUBLE) AS sx,
               CAST(ROUND(SUM(CAST(y AS DECIMAL(38,10))), 2) AS DOUBLE) AS sy,
               CAST(ROUND(SUM(CAST(x * x AS DECIMAL(38,10))), 2) AS DOUBLE) AS sxx,
               CAST(ROUND(SUM(CAST(y * y AS DECIMAL(38,10))), 2) AS DOUBLE) AS syy,
               CAST(ROUND(SUM(CAST(x * y AS DECIMAL(38,10))), 2) AS DOUBLE) AS sxy
        FROM per_user
    )
    SELECT n,
           (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
           (syy - sy * sy / n) / n AS var_y,
           ((syy - sy * sy / n) - POW(sxy - sx * sy / n, 2) / (sxx - sx * sx / n)) / n
               AS var_y_adj
    FROM p
    """,
    tags=("events", "experimentation", "cuped", "variance_reduction"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al., WSDM'13): reduce an experiment metric's
    variance with a pre-period covariate — y′ = y − θ(x − x̄),
    θ = cov(x,y)/var(x) — the standard trick that cuts A/B test
    durations. Per-user pre/post sums come from ONE conditional
    aggregate pass (exact decimal, both period filters in one scan);
    θ and the adjusted variance come from the five global power sums —
    a second, 1-row aggregate. Nothing iterates, nothing joins: the
    entire estimator is two partial-agg shuffles regardless of scale.

    var(y′) = var(y) − cov²/var(x) in population form; every sum is
    decimal-exact before the final double arithmetic, so the statistics
    hash identically (the price_quantity_corr rationale)."""
    cutoff = F.lit("2024-01-15").cast("timestamp")
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    dec = "decimal(38,10)"
    per_user = e.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts") < cutoff, F.col("value")).cast(dec)),
            F.lit(0).cast(dec),
        ).cast("double").alias("x"),
        F.coalesce(
            F.sum(F.when(F.col("ts") >= cutoff, F.col("value")).cast(dec)),
            F.lit(0).cast(dec),
        ).cast("double").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    p = per_user.agg(
        F.count("*").alias("n"),
        F.sum(x.cast(dec)).cast("decimal(38,2)").cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("decimal(38,2)").cast("double").alias("sy"),
        F.sum((x * x).cast(dec)).cast("decimal(38,2)").cast("double").alias("sxx"),
        F.sum((y * y).cast(dec)).cast("decimal(38,2)").cast("double").alias("syy"),
        F.sum((x * y).cast(dec)).cast("decimal(38,2)").cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vary = F.col("syy") - F.col("sy") * F.col("sy") / n
    return p.select(
        "n",
        (cov / varx).alias("theta"),
        (vary / n).alias("var_y"),
        ((vary - F.pow(cov, F.lit(2.0)) / varx) / n).alias("var_y_adj"),
    )


@register(
    "golden_record_survivorship",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_type, props, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ),
    agg AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               MIN(ts) AS first_seen,
               CAST(MAX(value) AS DOUBLE) AS max_value
        FROM events GROUP BY user_id
    )
    SELECT a.user_id, a.n_events, a.first_seen, a.max_value,
           l.event_type AS last_event_type,
           TRY_CAST(json_extract_string(l.props, '$.k') AS BIGINT) AS last_k
    FROM agg a JOIN latest l ON l.user_id = a.user_id AND l.rn = 1
    """,
    tags=("events", "survivorship", "golden_record", "max_by", "mdm"),
)
def golden_record_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Master-data-management survivorship: collapse each user's event
    history into one golden record by per-attribute rules — earliest
    sighting, historical max, and latest-wins attributes. The
    latest-wins rule is ``max_by(attr, struct(ts, event_id))`` — an
    ORDERED-ARGMAX AGGREGATE, not a window: one shuffle, map-side
    partial argmax state of one row per key, no per-user sort. (The
    oracle emulates the struct tie-break with a ROW_NUMBER window —
    DuckDB's arg_max can't take a composite key — which is exactly the
    plan shape this formulation avoids at scale.) Tie order is total
    (event_id unique), so the golden record is deterministic."""
    e = load_table(spark, sf_dir, "events")
    ordkey = F.struct("ts", "event_id")
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_seen"),
        F.max("value").cast("double").alias("max_value"),
        F.max_by("event_type", ordkey).alias("last_event_type"),
        F.try_to_number(
            F.get_json_object(F.max_by("props", ordkey), "$.k"),
            F.lit("999999999"),
        ).cast("long").alias("last_k"),
    )


@register(
    "entry_path_analysis",
    oracle="""
    WITH paths AS (
        SELECT user_id,
               array_to_string(
                   list(event_type ORDER BY ts, event_id)[1:3], '>'
               ) AS entry_path
        FROM events GROUP BY user_id
    )
    SELECT entry_path, COUNT(*) AS n_users
    FROM paths GROUP BY entry_path
    HAVING COUNT(*) >= 2
    """,
    tags=("events", "path_analysis", "ordered_collect", "product_analytics"),
)
def entry_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-path analysis: each user's first three event types joined
    into a path signature, then path frequencies — the onboarding-
    funnel question every product-analytics engine answers. The ordered
    collect is ``array_sort(collect_list(struct(ts, event_id, type)))``
    sliced to 3 in the aggregate projection. Honest scale caveat:
    collect_list's partial state holds the full per-user history, so a
    pathological user bounds executor memory — at 100 TB pre-filter to
    each user's first-k events with a windowed row_number (or a
    min-k-by-key aggregate) before the collect; the fixture's bounded
    per-user cardinality doesn't need the extra pass. Order is total
    (event_id unique) → deterministic paths."""
    e = load_table(spark, sf_dir, "events")
    paths = e.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    1,
                    3,
                ),
                lambda s: s.event_type,
            ),
        ).alias("entry_path")
    )
    return (
        paths.groupBy("entry_path")
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") >= 2)
    )


@register(
    "wow_growth",
    oracle="""
    WITH weekly AS (
        SELECT event_type,
               time_bucket(INTERVAL '7 days', ts, TIMESTAMP '2024-01-01')
                   AS week_start,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_start, n_events,
           LAG(n_events) OVER (
               PARTITION BY event_type ORDER BY week_start
           ) AS prev_week,
           CAST(n_events AS DOUBLE)
               / LAG(n_events) OVER (PARTITION BY event_type ORDER BY week_start)
               - 1.0 AS wow_pct
    FROM weekly
    """,
    tags=("events", "trend", "wow_growth", "lag"),
)
def wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: tumbling 7-day counts, then
    LAG for the previous week and a ratio — the default trend metric of
    any analytics dashboard. The growth rate is one division of two
    BIGINTs (no libm), so it hashes exactly; the first week's rate is
    NULL by construction. The window runs over the week×type aggregate
    (constant-size), never raw events — at 100 TB the only full-data
    work is the one windowed-count shuffle."""
    e = load_table(spark, sf_dir, "events")
    weekly = (
        e.groupBy(
            "event_type",
            # epoch (a Thursday) + 4 days aligns the 7-day buckets to
            # Monday 2024-01-01, matching the oracle's time_bucket origin
            F.window("ts", "7 days", startTime="4 days").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select("event_type", F.col("w.start").alias("week_start"), "n_events")
    )
    win = W.partitionBy("event_type").orderBy("week_start")
    prev = F.lag("n_events").over(win)
    return weekly.select(
        "event_type", "week_start", "n_events",
        prev.alias("prev_week"),
        (F.col("n_events").cast("double") / prev - 1.0).alias("wow_pct"),
    )


@register(
    "id_gap_islands",
    oracle="""
    WITH c AS (
        SELECT event_id,
               event_id - ROW_NUMBER() OVER (ORDER BY event_id) AS grp
        FROM events WHERE event_type = 'click'
    )
    SELECT MIN(event_id) AS island_start,
           MAX(event_id) AS island_end,
           COUNT(*) AS island_len
    FROM c GROUP BY grp
    HAVING COUNT(*) >= 3
    """,
    tags=("bounded_window", "events", "gaps_islands", "sequence_integrity", "window"),
)
def id_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous event_id runs within the 'click'
    subset (id − ROW_NUMBER is constant inside a run — the classic
    Tabibitosan trick), reporting islands of length ≥ 3. The sequence-
    integrity check a pipeline runs to find dropped id ranges after an
    ingest. The global row_number comes from bucketed_order_scan
    (functions/ordered.py): id-range buckets rank in parallel, a tiny
    per-bucket offset table broadcasts back — identical ranks, no
    single-task WindowExec over the fact table. Bucket width 2^16 keeps
    the offset table at |id_range|/65536 rows (a few thousand even at
    10^12 ids)."""
    from beam_pyspark_runner_spark.functions.ordered import (
        bucketed_order_scan,
    )

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id")
    )
    ranked = bucketed_order_scan(
        e,
        F.floor(F.col("event_id") / F.lit(65536)).cast("long"),
        [F.col("event_id")],
        rank_name="rk",
    )
    c = ranked.select(
        "event_id",
        (F.col("event_id") - F.col("rk")).alias("grp"),
    )
    return (
        c.groupBy("grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count("*").alias("island_len"),
        )
        .filter(F.col("island_len") >= 3)
        .drop("grp")
    )


@register(
    "user_feature_matrix",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS f_events,
           COUNT(DISTINCT event_type) AS f_type_diversity,
           COUNT(DISTINCT CAST(ts AS DATE)) AS f_active_days,
           {dsum_sql('value')} AS f_total_value,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               / COUNT(*) AS f_purchase_rate
    FROM events GROUP BY user_id
    """,
    tags=("events", "feature_engineering", "ml_features"),
)
def user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ML feature assembly — the feature-store materialization
    step: activity counts, type diversity, active days, decimal-exact
    monetary total, and a behavior ratio, all from ONE conditional
    aggregate over one scan (five features cost the same shuffle as
    one). Distinct-counts are exact here; at extreme cardinality swap
    the HLL/bitmap sketches in the same agg slot. The ratio is a
    count/count division → hashes exactly."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count("*").alias("f_events"),
        F.countDistinct("event_type").alias("f_type_diversity"),
        F.countDistinct(F.col("ts").cast("date")).alias("f_active_days"),
        dsum("value").alias("f_total_value"),
        (
            F.count(F.when(F.col("event_type") == "purchase", 1)).cast("double")
            / F.count("*")
        ).alias("f_purchase_rate"),
    )


@register(
    "ab_assignment_srm",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    armed AS (
        SELECT user_id,
               CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':exp42'), 1, 8))::BIGINT) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm
        FROM users
    ),
    counts AS (
        SELECT COUNT(*) FILTER (WHERE arm = 'control') AS n_control,
               COUNT(*) FILTER (WHERE arm = 'treatment') AS n_treatment,
               COUNT(*) AS n
        FROM armed
    )
    SELECT n_control, n_treatment,
           POW(CAST(n_control AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2)
               / (CAST(n AS DOUBLE) / 2)
           + POW(CAST(n_treatment AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2)
               / (CAST(n AS DOUBLE) / 2) AS chi_sq,
           (POW(CAST(n_control AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2)
               / (CAST(n AS DOUBLE) / 2)
           + POW(CAST(n_treatment AS DOUBLE) - CAST(n AS DOUBLE) / 2, 2)
               / (CAST(n AS DOUBLE) / 2)) <= 3.841 AS srm_ok
    FROM counts
    """,
    tags=("events", "experimentation", "ab_assignment", "srm", "hash_bucketing"),
)
def ab_assignment_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment assignment + the sample-ratio-mismatch guard — the
    two ops every A/B platform runs before CUPED ever matters:
    (1) units hash into arms via md5(user:salt) — deterministic,
    stateless, stable across sessions and engines, the property that
    makes re-computation and holdout audits possible (a random()
    assignment is neither reproducible nor joinable); (2) the χ²
    1-degree SRM test against the 50/50 design — pure rational
    arithmetic (no libm), compared to the 3.841 critical value as a
    boolean. A real platform stores the salt per experiment; the
    assignment scales as one map-side expression, the SRM check as
    one conditional aggregate."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    armed = users.select(
        F.when(
            h32(F.concat(F.col("user_id").cast("string"), F.lit(":exp42"))) % 2
            == 0,
            "control",
        )
        .otherwise("treatment")
        .alias("arm")
    )
    counts = armed.agg(
        F.count(F.when(F.col("arm") == "control", 1)).alias("n_control"),
        F.count(F.when(F.col("arm") == "treatment", 1)).alias("n_treatment"),
        F.count("*").alias("n"),
    )
    half = F.col("n").cast("double") / 2
    chi = (
        F.pow(F.col("n_control").cast("double") - half, F.lit(2.0)) / half
        + F.pow(F.col("n_treatment").cast("double") - half, F.lit(2.0)) / half
    )
    return counts.select(
        "n_control", "n_treatment",
        chi.alias("chi_sq"),
        (chi <= 3.841).alias("srm_ok"),
    )


@register(
    "chi_square_independence",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               ((date_diff('day', TIMESTAMP '1970-01-01',
                           time_bucket(INTERVAL '1 day', ts)) + 4) % 7) IN (0, 6)
                   AS is_weekend,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    margins AS (
        SELECT c.event_type, c.is_weekend, c.o,
               SUM(c.o) OVER (PARTITION BY c.event_type) AS row_total,
               SUM(c.o) OVER (PARTITION BY c.is_weekend) AS col_total,
               SUM(c.o) OVER () AS grand
        FROM cells c
    )
    SELECT event_type, is_weekend, o AS observed,
           CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
               / CAST(grand AS DOUBLE) AS expected,
           POW(CAST(o AS DOUBLE) - CAST(row_total AS DOUBLE)
                   * CAST(col_total AS DOUBLE) / CAST(grand AS DOUBLE), 2)
               / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE)
                   / CAST(grand AS DOUBLE)) AS chi_term
    FROM margins
    """,
    tags=("events", "chi_square", "independence", "statistics"),
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence for the event_type × weekend contingency
    table — 'does behavior differ on weekends' answered properly, per
    cell: observed, expected under independence (row·col/grand), and
    the cell's χ² contribution. Everything is rational arithmetic over
    integer counts (weekend via the engine-proof (epoch+4)%7 — cf.
    date_dimension_rollup), so the statistic hashes exactly; summing
    chi_term and comparing to the critical value is a client-side
    one-liner. Shape: ONE conditional aggregate builds the |types|×2
    cell table; margins are windows over that constant-size table —
    the fact table is scanned once."""
    e = load_table(spark, sf_dir, "events")
    epoch_days = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
    cells = e.groupBy(
        "event_type",
        ((epoch_days + 4) % 7).isin(0, 6).alias("is_weekend"),
    ).agg(F.count("*").alias("o"))
    row_t = F.sum("o").over(W.partitionBy("event_type"))
    col_t = F.sum("o").over(W.partitionBy("is_weekend"))
    grand = F.sum("o").over(W.partitionBy())
    expected = row_t.cast("double") * col_t.cast("double") / grand.cast("double")
    return cells.select(
        "event_type",
        "is_weekend",
        F.col("o").alias("observed"),
        expected.alias("expected"),
        (
            F.pow(F.col("o").cast("double") - expected, F.lit(2.0)) / expected
        ).alias("chi_term"),
    )


@register(
    "event_run_length_encode",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS grp
        FROM events
    ),
    runs AS (
        SELECT user_id, event_type, COUNT(*) AS run_len
        FROM seq GROUP BY user_id, event_type, grp
    )
    SELECT event_type,
           COUNT(*) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           CAST(SUM(run_len) AS BIGINT) AS total_events
    FROM runs GROUP BY event_type
    """,
    tags=("events", "run_length", "sequence_compression", "tabibitosan"),
)
def event_run_length_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of per-user event streams — consecutive
    same-type events collapse into runs (the double-ROW_NUMBER
    Tabibitosan: global minus per-type rank is constant within a run).
    Long runs are themselves a signal (rage-clicks, retry storms,
    sensor stutter) and RLE is the first step of sequence compression
    for session storage. Two in-partition window ranks + two
    aggregates; the only shuffle keys are (user) then (type) — run
    state never exceeds the group."""
    e = load_table(spark, sf_dir, "events")
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_type)).alias("grp"),
    )
    runs = seq.groupBy("user_id", "event_type", "grp").agg(
        F.count("*").alias("run_len")
    )
    return runs.groupBy("event_type").agg(
        F.count("*").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum("run_len").cast("long").alias("total_events"),
    )


@register(
    "growth_accounting",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, time_bucket(INTERVAL '1 day', ts) AS d
        FROM events
    ),
    flagged AS (
        SELECT user_id, d,
               MIN(d) OVER (PARTITION BY user_id) AS first_d,
               LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
        FROM ud
    )
    SELECT d AS day,
           COUNT(*) FILTER (WHERE d = first_d) AS new_users,
           COUNT(*) FILTER (WHERE d <> first_d
                            AND prev_d = d - INTERVAL '1 day') AS retained,
           COUNT(*) FILTER (WHERE d <> first_d
                            AND prev_d < d - INTERVAL '1 day') AS resurrected
    FROM flagged
    GROUP BY d
    """,
    tags=("events", "growth_accounting", "retention", "product_analytics"),
)
def growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — every active user-day classified NEW (first
    day ever), RETAINED (also active yesterday), or RESURRECTED
    (returning after a gap): the decomposition behind every DAU chart
    that means anything (churn is the complement, computable from
    these three). One distinct (user, day) reduction, one per-user
    window pass for first/previous day, one day-keyed conditional
    aggregate — the fact table is touched once and the window runs
    over active-days, not raw events."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    w_u = W.partitionBy("user_id")
    w_seq = W.partitionBy("user_id").orderBy("d")
    flagged = ud.select(
        "d",
        F.min("d").over(w_u).alias("first_d"),
        F.lag("d").over(w_seq).alias("prev_d"),
    )
    day_ago = F.col("d") - F.expr("interval 1 day")
    return flagged.groupBy(F.col("d").alias("day")).agg(
        F.count(F.when(F.col("d") == F.col("first_d"), 1)).alias("new_users"),
        F.count(
            F.when(
                (F.col("d") != F.col("first_d")) & (F.col("prev_d") == day_ago), 1
            )
        ).alias("retained"),
        F.count(
            F.when(
                (F.col("d") != F.col("first_d")) & (F.col("prev_d") < day_ago), 1
            )
        ).alias("resurrected"),
    )


@register(
    "distribution_drift_chisq",
    oracle="""
    WITH counts AS (
        SELECT event_type,
               COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24') AS cur,
               COUNT(*) FILTER (WHERE ts <  TIMESTAMP '2024-01-24') AS ref
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT SUM(cur) AS tc, SUM(ref) AS tr FROM counts
    )
    SELECT c.event_type, c.cur AS current_count, c.ref AS reference_count,
           CAST(c.ref AS DOUBLE) * CAST(t.tc AS DOUBLE) / CAST(t.tr AS DOUBLE)
               AS expected_count,
           POW(CAST(c.cur AS DOUBLE) - CAST(c.ref AS DOUBLE)
                   * CAST(t.tc AS DOUBLE) / CAST(t.tr AS DOUBLE), 2)
               / (CAST(c.ref AS DOUBLE) * CAST(t.tc AS DOUBLE)
                   / CAST(t.tr AS DOUBLE)) AS drift_term
    FROM counts c CROSS JOIN tot t
    """,
    tags=("events", "drift_detection", "chi_square", "mlops"),
)
def distribution_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the current window's event-type mix
    tested against the reference period, per-category expected counts
    and χ² drift contributions — the input-data health check an ML
    serving pipeline runs before trusting a model trained on the
    reference distribution (PSI is the textbook alternative, but its
    ln() would break cross-engine hashing — χ² ranks drift the same
    way in pure rational arithmetic, cf. source_gini_diversity's
    log-avoidance). One conditional aggregate builds both period
    counts in ONE scan; the drift math runs on the |categories|-row
    table."""
    cutoff = F.lit("2024-01-24").cast("timestamp")
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(
        F.count(F.when(F.col("ts") >= cutoff, 1)).alias("cur"),
        F.count(F.when(F.col("ts") < cutoff, 1)).alias("ref"),
    )
    tot = counts.agg(
        F.sum("cur").alias("tc"), F.sum("ref").alias("tr")
    )
    expected = (
        F.col("ref").cast("double")
        * F.col("tc").cast("double")
        / F.col("tr").cast("double")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("cur").alias("current_count"),
        F.col("ref").alias("reference_count"),
        expected.alias("expected_count"),
        (
            F.pow(F.col("cur").cast("double") - expected, F.lit(2.0)) / expected
        ).alias("drift_term"),
    )


@register(
    "temporal_group_split",
    oracle="""
    WITH base AS (
        -- every 13th user "signs up" in the val period: their history
        -- is excluded so the cold-start class actually exercises
        SELECT * FROM events
        WHERE NOT (user_id % 13 = 0 AND ts < TIMESTAMP '2024-01-24')
    ),
    train_users AS (
        SELECT DISTINCT user_id FROM base
        WHERE ts < TIMESTAMP '2024-01-24'
    ),
    classified AS (
        SELECT e.event_id,
               CASE WHEN e.ts < TIMESTAMP '2024-01-24' THEN 'train'
                    WHEN t.user_id IS NOT NULL THEN 'val_warm'
                    ELSE 'val_cold' END AS split
        FROM base e
        LEFT JOIN train_users t ON t.user_id = e.user_id
    )
    SELECT split, COUNT(*) AS n_events
    FROM classified GROUP BY split
    """,
    tags=("events", "ml_split", "temporal", "leakage", "training_data"),
)
def temporal_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/validation split with LEAKAGE ACCOUNTING: train is
    strictly before the cutoff, and validation events are classified
    warm (user seen in train — evaluates ranking) vs cold (user unseen
    — evaluates cold-start). Random splits leak future into past and
    overstate every temporal model; this split is the honest one, and
    the warm/cold decomposition is the report reviewers ask for.
    Shape: the train-user set is a distinct reduction on ids; the
    classification is one flag-join against it (broadcast for
    dimension-sized user sets, hash join beyond) — the fact table
    scans once, both the cutoff predicate and the id projection reach
    the parquet reader."""
    cutoff = F.lit("2024-01-24").cast("timestamp")
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # simulate late signups (see oracle comment) so val_cold is non-empty
    e = e.filter(
        ~((F.col("user_id") % 13 == 0) & (F.col("ts") < cutoff))
    )
    train_users = (
        e.filter(F.col("ts") < cutoff).select("user_id").distinct()
        .withColumnRenamed("user_id", "tu")
    )
    # train_users is user-grain (grows with the corpus) — no broadcast
    # hint (round-10, verdict #1); the docstring's "broadcast for
    # dimension-sized user sets, hash join beyond" is now literally
    # the planner's size gate rather than a hint that removed the
    # "beyond".
    classified = e.join(
        train_users, e.user_id == F.col("tu"), "left"
    ).select(
        F.when(F.col("ts") < cutoff, "train")
        .when(F.col("tu").isNotNull(), "val_warm")
        .otherwise("val_cold")
        .alias("split")
    )
    return classified.groupBy("split").agg(F.count("*").alias("n_events"))


@register(
    "smoothed_ctr",
    oracle="""
    WITH peruser AS (
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'view') AS views,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases
        FROM events GROUP BY user_id
    )
    SELECT user_id, views, purchases,
           CASE WHEN views > 0
                THEN CAST(purchases AS DOUBLE) / CAST(views AS DOUBLE) END
               AS raw_ctr,
           (CAST(purchases AS DOUBLE) + 1.0)
               / (CAST(views AS DOUBLE) + 20.0) AS smoothed_ctr
    FROM peruser
    """,
    tags=("events", "ctr", "bayesian_smoothing", "recsys"),
)
def smoothed_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-smoothed conversion rate: Beta(1,19) prior pulls
    low-volume users toward the ~5% base rate, so a 1-view-1-purchase
    user doesn't outrank a 1000-view-high-converter — the smoothing
    every CTR-ranked surface applies before sorting by rate (raw CTR
    is reported beside it, NULL when views = 0, which is exactly the
    case the prior exists to handle). One conditional aggregate;
    the smoothing is two additions and one division of counts —
    rational, hashable, and at 100 TB the per-key state is two
    counters."""
    e = load_table(spark, sf_dir, "events")
    peruser = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
    )
    return peruser.select(
        "user_id", "views", "purchases",
        F.when(
            F.col("views") > 0,
            F.col("purchases").cast("double") / F.col("views").cast("double"),
        ).alias("raw_ctr"),
        (
            (F.col("purchases").cast("double") + 1.0)
            / (F.col("views").cast("double") + 20.0)
        ).alias("smoothed_ctr"),
    )


@register(
    "user_survival_curve",
    oracle="""
    WITH spans AS (
        SELECT user_id,
               date_diff('day', MIN(ts), MAX(ts)) AS lifespan_days
        FROM events GROUP BY user_id
    ),
    hist AS (
        SELECT lifespan_days, COUNT(*) AS n FROM spans GROUP BY 1
    ),
    total AS (SELECT COUNT(*) AS tot FROM spans)
    SELECT h.lifespan_days AS day_k,
           CAST(SUM(h2.n) AS BIGINT) AS n_surviving,
           CAST(SUM(h2.n) AS DOUBLE) / CAST(t.tot AS DOUBLE) AS survival
    FROM hist h
    JOIN hist h2 ON h2.lifespan_days >= h.lifespan_days
    CROSS JOIN total t
    GROUP BY h.lifespan_days, t.tot
    """,
    tags=("bounded_window", "events", "survival_analysis", "retention", "lifespan"),
)
def user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve over user lifespans: S(k) = fraction of users
    whose observed activity span reaches k days — the
    Kaplan–Meier-style view behind every retention deck (here without
    censoring: the fixture's window closes for everyone at once, so
    the empirical curve IS the estimator). Lifespans reduce per user
    (one agg); the curve computes on the LIFESPAN HISTOGRAM — at most
    |distinct days| rows — via a descending cumulative sum, so the
    fact table is scanned once and the quadratic-looking tail-sum
    runs over a few dozen histogram rows, never users. Survival
    fractions are count ratios → exact."""
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("lifespan_days")
    )
    hist = spans.groupBy("lifespan_days").agg(F.count("*").alias("n"))
    w = (
        W.orderBy(F.col("lifespan_days").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    total = F.sum("n").over(W.partitionBy())
    return hist.select(
        F.col("lifespan_days").cast("long").alias("day_k"),
        F.sum("n").over(w).cast("long").alias("n_surviving"),
        (F.sum("n").over(w).cast("double") / total.cast("double")).alias(
            "survival"
        ),
    )


@register(
    "changepoint_detector",
    oracle="""
    WITH incident AS (
        -- synthesize a deterministic outage: 60% of click traffic
        -- vanishes from Jan 20 on (flat synthetic traffic has no
        -- natural level shift to detect)
        SELECT * FROM events
        WHERE NOT (event_type = 'click'
                   AND ts >= TIMESTAMP '2024-01-20'
                   AND event_id % 5 < 3)
    ),
    daily AS (
        SELECT event_type, time_bucket(INTERVAL '1 day', ts) AS d,
               COUNT(*) AS n
        FROM incident GROUP BY 1, 2
    ),
    ctx AS (
        SELECT event_type, d, n,
               AVG(CAST(n AS DOUBLE)) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
               ) AS before_avg,
               AVG(CAST(n AS DOUBLE)) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING
               ) AS after_avg,
               COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
               ) AS nb,
               COUNT(*) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING
               ) AS na
        FROM daily
    )
    SELECT event_type, d AS day, n AS day_count,
           after_avg / before_avg - 1.0 AS shift_ratio
    FROM ctx
    WHERE nb = 3 AND na = 3
      AND abs(after_avg / before_avg - 1.0) > 0.25
    """,
    tags=("events", "changepoint", "anomaly", "monitoring"),
)
def changepoint_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point screen: days where the mean volume of the following
    3 days shifts >25% against the preceding 3 — the
    two-sided-window detector that catches level shifts a global
    3-sigma test smears out (value_outliers is the point-anomaly
    sibling). Both context means are frames over the per-day aggregate
    (constant size per type); edge days with incomplete context are
    excluded by the frame-count guard rather than silently compared
    against shorter windows. AVG of integer counts divides once per
    frame — deterministic."""
    e = load_table(spark, sf_dir, "events")
    # synthesized outage (see oracle comment): the detector needs a
    # level shift to find in the flat synthetic traffic
    e = e.filter(
        ~(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.lit("2024-01-20").cast("timestamp"))
            & (F.col("event_id") % 5 < 3)
        )
    )
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(F.count("*").alias("n"))
    base = W.partitionBy("event_type").orderBy("d")
    before = base.rowsBetween(-3, -1)
    after = base.rowsBetween(1, 3)
    ctx = daily.select(
        "event_type", "d", "n",
        F.avg(F.col("n").cast("double")).over(before).alias("before_avg"),
        F.avg(F.col("n").cast("double")).over(after).alias("after_avg"),
        F.count("*").over(before).alias("nb"),
        F.count("*").over(after).alias("na"),
    )
    shift = F.col("after_avg") / F.col("before_avg") - 1.0
    return (
        ctx.filter((F.col("nb") == 3) & (F.col("na") == 3))
        .filter(F.abs(shift) > 0.25)
        .select(
            "event_type",
            F.col("d").alias("day"),
            F.col("n").alias("day_count"),
            shift.alias("shift_ratio"),
        )
    )


@register(
    "cohorted_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(ts) FILTER (WHERE event_type = 'signup') AS signup_ts,
               MIN(ts) FILTER (WHERE event_type = 'view') AS first_view,
               MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
        FROM events GROUP BY user_id
    ),
    cohorted AS (
        SELECT time_bucket(INTERVAL '7 days', signup_ts,
                           TIMESTAMP '2024-01-01') AS cohort_week,
               signup_ts IS NOT NULL AS signed_up,
               first_view > signup_ts AS viewed_after,
               first_purchase > first_view
                   AND first_view > signup_ts AS purchased_after
        FROM firsts
        WHERE signup_ts IS NOT NULL
    )
    SELECT cohort_week,
           COUNT(*) AS n_signups,
           COUNT(*) FILTER (WHERE viewed_after) AS n_viewed_after,
           COUNT(*) FILTER (WHERE purchased_after) AS n_full_funnel
    FROM cohorted GROUP BY cohort_week
    """,
    tags=("events", "cohorted_funnel", "conversion", "product_analytics"),
)
def cohorted_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorted funnel: signup → first view after signup → first
    purchase after that view, reported per weekly signup cohort — the
    ordered-milestone conversion matrix (funnel_stages is the global
    single-row funnel; this adds cohort time and STRICT event
    ordering, which 'has both events' funnels silently fake). All
    milestone timestamps come from ONE conditional min-aggregate per
    user — no joins, no per-step passes; the ordering test is then
    pure column comparison, and the weekly rollup runs on one row per
    signed-up user. Week buckets share the wow_growth 2024-01-01
    origin arithmetic."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        ),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    cohorted = firsts.filter(F.col("signup_ts").isNotNull()).select(
        F.window("signup_ts", "7 days", startTime="4 days").alias("w"),
        (F.col("first_view") > F.col("signup_ts")).alias("viewed_after"),
        (
            (F.col("first_purchase") > F.col("first_view"))
            & (F.col("first_view") > F.col("signup_ts"))
        ).alias("purchased_after"),
    )
    return cohorted.groupBy(F.col("w.start").alias("cohort_week")).agg(
        F.count("*").alias("n_signups"),
        F.count(F.when(F.col("viewed_after"), 1)).alias("n_viewed_after"),
        F.count(F.when(F.col("purchased_after"), 1)).alias("n_full_funnel"),
    )


@register(
    "wilson_lower_bound_ranking",
    oracle="""
    WITH peruser AS (
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'view') AS views,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchases
        FROM events GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, views, purchases,
               views + purchases AS trials,
               CAST(purchases AS DOUBLE) / (views + purchases) AS p
        FROM peruser WHERE views + purchases > 0
    )
    SELECT user_id, views, purchases,
           (p + 3.8416 / (2 * trials)
              - 1.96 * sqrt((p * (1 - p) + 3.8416 / (4 * trials)) / trials))
           / (1 + 3.8416 / trials) AS wilson_lb
    FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY
            (p + 3.8416 / (2 * trials)
               - 1.96 * sqrt((p * (1 - p) + 3.8416 / (4 * trials)) / trials))
            / (1 + 3.8416 / trials) DESC, user_id) AS rn
        FROM scored
    ) WHERE rn <= 10
    """,
    tags=("events", "wilson_interval", "ranking", "rate_confidence"),
)
def wilson_lower_bound_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking (the Reddit/Evan Miller
    formula): rank by the LOWER confidence limit of the conversion
    rate (purchase share of view+purchase interactions, a proper
    proportion), so 2/2 never outranks 180/200 — the statistically
    honest 'sort by rating'. The smoothed_ctr Beta prior shrinks toward a
    base rate; Wilson instead widens uncertainty with 1/n, needing no
    prior choice. z²=3.8416 is a literal; sqrt is correctly rounded
    IEEE in both engines (the sqrt-yes/log-no determinism line this
    repo draws). One conditional aggregate + a top-10 over the
    user-level table via orderBy+limit — TakeOrderedAndProject's
    per-partition heaps, never a global rank window over users."""
    e = load_table(spark, sf_dir, "events")
    peruser = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
    ).filter((F.col("views") + F.col("purchases")) > 0)
    n = (F.col("views") + F.col("purchases")).cast("double")
    p = F.col("purchases").cast("double") / n
    z2 = 3.8416
    lb = (
        p + z2 / (2 * n)
        - 1.96 * F.sqrt((p * (1 - p) + z2 / (4 * n)) / n)
    ) / (1 + z2 / n)
    return (
        peruser.withColumn("wilson_lb", lb)
        .orderBy(F.col("wilson_lb").desc(), "user_id")
        .limit(10)
        .select("user_id", "views", "purchases", "wilson_lb")
    )


@register(
    "seasonality_index",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               ((date_diff('day', TIMESTAMP '1970-01-01',
                           time_bucket(INTERVAL '1 day', ts)) + 4) % 7) AS dow,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    typ AS (
        SELECT event_type, SUM(n) AS tot, COUNT(*) AS n_dows
        FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.dow, d.n AS n_events,
           CAST(d.n AS DOUBLE) * t.n_dows / t.tot AS seasonal_index
    FROM daily d JOIN typ t USING (event_type)
    """,
    tags=("events", "seasonality", "dow_index", "forecasting"),
)
def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index — volume relative to the type's
    flat-week expectation (index 1.0 = no effect): the multiplicative
    factor a forecast multiplies in and a capacity plan staffs by
    (chi_square_independence tests WHETHER the effect exists; this
    sizes it). Day-of-week by the engine-proof (epoch+4)%7; the index
    is n · n_dows / total — pure counts, one fact scan, arithmetic on
    the |types|×7 table."""
    e = load_table(spark, sf_dir, "events")
    epoch_days = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    daily = e.groupBy(
        "event_type", ((epoch_days + 4) % 7).alias("dow")
    ).agg(F.count("*").alias("n"))
    typ = daily.groupBy("event_type").agg(
        F.sum("n").alias("tot"), F.count("*").alias("n_dows")
    )
    return daily.join(F.broadcast(typ), "event_type").select(
        "event_type", F.col("dow").cast("long").alias("dow"),
        F.col("n").alias("n_events"),
        (
            F.col("n").cast("double") * F.col("n_dows") / F.col("tot")
        ).alias("seasonal_index"),
    )


@register(
    "interarrival_burstiness",
    oracle="""
    WITH gaps AS (
        -- integer microseconds: date_diff('second') truncates where
        -- Spark's micros keep the fraction — micros are exact in both
        SELECT event_type,
               CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               )) AS DOUBLE) AS gap_s
        FROM events
    ),
    moments AS (
        -- gaps are INTEGER micros: scale-0 decimal sums are exact, and
        -- n·s2 − s1² is an exact integer — CV = sqrt(n·s2 − s1²)/s1
        -- needs no intermediate float variance (whose a−b·c shape is
        -- FMA-fusible and drifted 1 ulp between engines)
        SELECT event_type,
               COUNT(gap_s) AS n,
               SUM(CAST(gap_s AS DECIMAL(38,0))) AS s1,
               SUM(CAST(gap_s AS DECIMAL(19,0)) * CAST(gap_s AS DECIMAL(19,0)))
                   AS s2
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(s1 AS DOUBLE) / n / 1000000.0 AS mean_gap_s,
           sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / CAST(s1 AS DOUBLE)
               AS coeff_of_variation
    FROM moments
    """,
    tags=("events", "burstiness", "interarrival", "poisson_check"),
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness: the coefficient of variation of gaps
    between consecutive events per type — CV ≈ 1 is Poisson (memoryless
    traffic), CV ≫ 1 is bursty (retry storms, batch uploads), CV ≪ 1
    is scheduled — the one number that says whether rate limits and
    capacity can assume smooth arrivals. Gaps from one per-type window
    pass; mean and CV from decimal-exact power sums (the
    value_outliers discipline — population moments, no Welford
    partition-order drift); sqrt is the IEEE-exact side of the
    determinism line."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n"),
        F.sum(F.col("gap_us").cast("decimal(38,0)")).alias("s1"),
        F.sum(
            F.col("gap_us").cast("decimal(19,0)")
            * F.col("gap_us").cast("decimal(19,0)")
        ).alias("s2"),
    )
    var_num = (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "double"
    )
    s1d = F.col("s1").cast("double")
    return m.select(
        "event_type", "n",
        (s1d / F.col("n") / 1000000.0).alias("mean_gap_s"),
        (F.sqrt(var_num) / s1d).alias("coeff_of_variation"),
    )


def _boot_weight_sql(b: int) -> str:
    h = f"(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':b{b}'), 1, 8))::BIGINT) % 10000"
    return (f"CASE WHEN {h} < 3679 THEN 0 WHEN {h} < 7358 THEN 1 "
            f"WHEN {h} < 9197 THEN 2 ELSE 3 END")


_N_BOOT = 20


@register(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH p AS (SELECT event_id, value FROM events
               WHERE event_type = 'purchase'),
    reps AS (
        SELECT
          CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE)
              / COUNT(*) AS point_mean,
          {", ".join(
            f'''CAST(ROUND(SUM(CAST(value * ({_boot_weight_sql(b)})
                 AS DECIMAL(38,10))), 2) AS DOUBLE)
               / NULLIF(SUM({_boot_weight_sql(b)}), 0) AS m{b}'''
            for b in range(_N_BOOT))}
        FROM p
    )
    SELECT point_mean,
           LEAST({", ".join(f"m{b}" for b in range(_N_BOOT))}) AS boot_min,
           GREATEST({", ".join(f"m{b}" for b in range(_N_BOOT))}) AS boot_max,
           CAST({_N_BOOT} AS BIGINT) AS n_replicates
    FROM reps
    """,
    tags=("events", "bootstrap", "confidence_interval", "poisson_bootstrap"),
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012): every replicate
    reweights each row by an independent Poisson(1) draw — so ALL
    replicates compute in ONE pass as conditional sums, no resampled
    copies of the data, which is the only bootstrap that works on
    100 TB. The draws are md5-hash lookups against the Poisson(1) CDF
    (p₀=.3679, p₁=.7358, p₂=.9197, else 3) — deterministic, identical
    in both engines, reproducible across retries where RNG bootstraps
    aren't. Reported: the point mean and the replicate min/max
    envelope (the CI reading for B=20; production raises B by adding
    columns, not passes). Weighted sums stay decimal-exact; weights
    are small ints."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "value")

    def weight(b: int):
        h = F.pmod(
            h32(F.concat(F.col("event_id").cast("string"), F.lit(f":b{b}"))),
            F.lit(10000),
        )
        return (
            F.when(h < 3679, 0).when(h < 7358, 1).when(h < 9197, 2).otherwise(3)
        )

    aggs = [
        (
            F.sum((F.col("value") * weight(b)).cast("decimal(38,10)"))
            .cast("decimal(38,2)").cast("double")
            / F.nullif(F.sum(weight(b)), F.lit(0))
        ).alias(f"m{b}")
        for b in range(_N_BOOT)
    ]
    reps = e.agg(
        (
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("decimal(38,2)").cast("double")
            / F.count("*")
        ).alias("point_mean"),
        *aggs,
    )
    ms = [F.col(f"m{b}") for b in range(_N_BOOT)]
    return reps.select(
        "point_mean",
        F.least(*ms).alias("boot_min"),
        F.greatest(*ms).alias("boot_max"),
        F.lit(_N_BOOT).cast("long").alias("n_replicates"),
    )


_N_PERM = 19


@register(
    "permutation_test_diff",
    oracle=f"""
    WITH base AS (
        SELECT event_id, value,
               event_type = 'purchase' AS grp
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    stats AS (
        SELECT
          CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)))
               FILTER (WHERE grp), 2) AS DOUBLE)
            / COUNT(*) FILTER (WHERE grp)
          - CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)))
               FILTER (WHERE NOT grp), 2) AS DOUBLE)
            / COUNT(*) FILTER (WHERE NOT grp) AS observed,
          {", ".join(
            f'''CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))) FILTER (
                  WHERE (('0x' || substr(md5(CAST(event_id AS VARCHAR)
                       || ':p{p}'), 1, 8))::BIGINT) % 2 = 0), 2) AS DOUBLE)
                / COUNT(*) FILTER (
                  WHERE (('0x' || substr(md5(CAST(event_id AS VARCHAR)
                       || ':p{p}'), 1, 8))::BIGINT) % 2 = 0)
              - CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))) FILTER (
                  WHERE (('0x' || substr(md5(CAST(event_id AS VARCHAR)
                       || ':p{p}'), 1, 8))::BIGINT) % 2 = 1), 2) AS DOUBLE)
                / COUNT(*) FILTER (
                  WHERE (('0x' || substr(md5(CAST(event_id AS VARCHAR)
                       || ':p{p}'), 1, 8))::BIGINT) % 2 = 1) AS d{p}'''
            for p in range(_N_PERM))}
        FROM base
    )
    SELECT observed,
           CAST({" + ".join(
             f"CASE WHEN abs(d{p}) >= abs(observed) THEN 1 ELSE 0 END"
             for p in range(_N_PERM))} AS BIGINT) AS n_as_extreme,
           CAST({_N_PERM} AS BIGINT) AS n_permutations
    FROM stats
    """,
    tags=("events", "permutation_test", "significance", "resampling"),
)
def permutation_test_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the purchase-vs-view mean-value difference —
    the nonparametric significance test, made one-pass the same way as
    poisson_bootstrap_ci: every permutation relabels rows by a salted
    md5 coin, so all {_N_PERM} permuted differences are conditional
    aggregates over ONE scan (a shuffle-the-labels implementation
    would materialize the dataset per permutation). Reported: the
    observed difference and the INTEGER count of permutations at least
    as extreme — the p-value's numerator, exact and hashable where the
    ratio itself is just a division the reader can do. Deterministic
    permutations also mean the test replays identically on retry."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        "event_id", "value", (F.col("event_type") == "purchase").alias("grp")
    )
    dec = "decimal(38,10)"

    def mean_where(cond):
        return (
            F.sum(F.when(cond, F.col("value")).cast(dec))
            .cast("decimal(38,2)").cast("double")
            / F.count(F.when(cond, 1))
        )

    def coin(p: int):
        return (
            F.pmod(
                h32(F.concat(F.col("event_id").cast("string"), F.lit(f":p{p}"))),
                F.lit(2),
            )
            == 0
        )

    aggs = [
        (mean_where(coin(p)) - mean_where(~coin(p))).alias(f"d{p}")
        for p in range(_N_PERM)
    ]
    stats = e.agg(
        (mean_where(F.col("grp")) - mean_where(~F.col("grp"))).alias("observed"),
        *aggs,
    )
    n_extreme = sum(
        F.when(F.abs(F.col(f"d{p}")) >= F.abs(F.col("observed")), 1).otherwise(0)
        for p in range(_N_PERM)
    )
    return stats.select(
        "observed",
        n_extreme.cast("long").alias("n_as_extreme"),
        F.lit(_N_PERM).cast("long").alias("n_permutations"),
    )


@register(
    "mann_whitney_u",
    oracle="""
    WITH base AS (
        SELECT value, event_type = 'purchase' AS grp
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    vals AS (
        SELECT value,
               COUNT(*) FILTER (WHERE grp) AS c1,
               COUNT(*) FILTER (WHERE NOT grp) AS c0
        FROM base GROUP BY value
    ),
    ranked AS (
        SELECT value, c1, c0,
               COALESCE(SUM(c1 + c0) OVER (
                   ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS below,
               c1 + c0 AS c
        FROM vals
    )
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(c0) AS BIGINT) AS n0,
           CAST(SUM(c1 * (below + (c + 1) / 2.0)) AS DOUBLE) AS rank_sum_1,
           CAST(SUM(c1 * (below + (c + 1) / 2.0))
                - SUM(c1) * (SUM(c1) + 1) / 2.0 AS DOUBLE) AS u_statistic
    FROM ranked
    """,
    tags=("bounded_window", "events", "mann_whitney", "rank_sum", "nonparametric"),
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) for purchase vs view values — the
    nonparametric location test that doesn't care about the value
    distribution's tails (the t-test family assumes what heavy-tailed
    money columns violate). The scalable formulation: ranks are
    MIDRANKS computed on the DISTINCT-VALUE table (per-value group
    counts + a running prefix over values), so the sort touches
    |distinct values| rows, never raw rows — ties handled exactly by
    construction, and U = R₁ − n₁(n₁+1)/2 is half-integer arithmetic
    that hashes. One conditional aggregate + one window over the
    value table; the normal approximation for the p-value is a
    client-side formula away."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select("value", (F.col("event_type") == "purchase").alias("grp"))
    vals = e.groupBy("value").agg(
        F.count(F.when(F.col("grp"), 1)).alias("c1"),
        F.count(F.when(~F.col("grp"), 1)).alias("c0"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, -1)
    ranked = vals.select(
        "c1", "c0",
        F.coalesce(
            F.sum(F.col("c1") + F.col("c0")).over(w), F.lit(0)
        ).alias("below"),
        (F.col("c1") + F.col("c0")).alias("c"),
    )
    midrank = F.col("below") + (F.col("c") + 1) / 2.0
    agg = ranked.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c0").cast("long").alias("n0"),
        F.sum(F.col("c1") * midrank).cast("double").alias("rank_sum_1"),
    )
    return agg.select(
        "n1", "n0", "rank_sum_1",
        (
            F.col("rank_sum_1")
            - F.col("n1").cast("double") * (F.col("n1") + 1) / 2.0
        ).alias("u_statistic"),
    )


@register(
    "time_weighted_average",
    oracle=f"""
    WITH seg AS (
        SELECT user_id,
               value * date_diff('second', ts,
                   LEAD(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS term,
               date_diff('second', ts,
                   LEAD(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS dur_s
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(dur_s) AS BIGINT) AS n_segments,
           CAST(SUM(dur_s) AS BIGINT) AS total_s,
           {dsum_sql('term')} / CAST(SUM(dur_s) AS DOUBLE) AS twa_value
    FROM seg
    GROUP BY user_id
    HAVING SUM(dur_s) > 0
    """,
    tags=("events", "time_weighted", "irregular_timeseries", "locf"),
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average value over an IRREGULARLY sampled
    event stream — each observation holds (last-observation-carried-
    forward) until the next one, so its weight is the seconds until that
    next event, not 1. The plain AVG over-weights chatty periods; TWA is
    what sensor/price/telemetry pipelines actually need (TimescaleDB's
    ``time_weight``; Flink's temporal LOCF joins do the same implicitly).

    Determinism: durations are integer seconds (identical in both
    engines), each row's term ``value·dur`` is one IEEE double multiply,
    and the per-user sum runs through exact decimal accumulation (dsum),
    so no partition order can perturb the result. Ties at the same
    timestamp are ordered by event_id — the earlier row gets a
    zero-length (weightless) segment in both engines.

    Scale: one shuffle on user_id; window parallelism = number of users.
    Each user's last observation has no successor and drops out of both
    numerator and denominator (open-ended tails need a query-time
    horizon to be weighable — a policy choice, not a default)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dur = F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
    seg = e.select(
        "user_id",
        (F.col("value") * dur.cast("double")).alias("term"),
        dur.alias("dur_s"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("dur_s").alias("n_segments"),
            F.sum("dur_s").alias("total_s"),
            (dsum(F.col("term")) / F.sum("dur_s").cast("double")).alias(
                "twa_value"
            ),
        )
        .filter(F.col("total_s") > 0)
    )


_MOTIFS: list[tuple[str, str]] = [
    # (motif name, regex over per-user event-initial sequences:
    #  c=click e=error p=purchase s=signup v=view)
    ("view_then_purchase_adjacent", "vp"),
    ("error_anywhere_before_purchase", "e.*p"),
    ("signup_first_event", "^s"),
    ("click_burst_3plus", "ccc"),
    ("purchase_error_purchase", "pe+p"),
]


@register(
    "event_sequence_motifs",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               string_agg(substring(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    ),
    flags AS (
        SELECT
            {", ".join(
                f"COUNT(*) FILTER (WHERE regexp_matches(s, '{rx}')) AS m{i}"
                for i, (_, rx) in enumerate(_MOTIFS)
            )},
            COUNT(*) AS total
        FROM seq
    )
    SELECT motif, n_users, total_users,
           CAST(n_users AS DOUBLE) / CAST(total_users AS DOUBLE) AS share
    FROM (
        {" UNION ALL ".join(
            f"SELECT '{name}' AS motif, CAST(m{i} AS BIGINT) AS n_users, "
            f"CAST(total AS BIGINT) AS total_users FROM flags"
            for i, (name, _) in enumerate(_MOTIFS)
        )}
    )
    """,
    tags=("events", "sequence", "motif", "match_recognize"),
)
def event_sequence_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence-motif detection — the MATCH_RECOGNIZE-shaped
    question ("which users error before purchasing? bounce after
    signup? burst-click?") answered without the operator Spark lacks:
    each user's event stream is folded into an ordered initial-letter
    string ONCE (one shuffle, per-user payload bounded by that user's
    activity), and every motif is then a regex over that string —
    pattern matching runs JVM-side in whole-stage codegen, and adding a
    motif costs one conditional aggregate, not a rescan.

    Determinism: the fold orders by (ts, event_id) — a total order both
    engines agree on; the regexes use only concatenation/closure/anchor
    constructs whose semantics coincide in Java regex and RE2.

    Scale: the sequence table is users-sized; the motif scan is one
    pass over it. For entities whose lifetime exceeds memory the fold
    chunks naturally by (user, period) — the same bounded-payload
    argument as session assembly."""
    e = load_table(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts"),
                                F.col("event_id"),
                                F.substring("event_type", 1, 1).alias("ini"),
                            )
                        )
                    ),
                    lambda x: x["ini"],
                ),
            ).alias("s")
        )
    )
    flags = seq.agg(
        *[
            F.count(F.when(F.col("s").rlike(rx), 1)).alias(f"m{i}")
            for i, (_, rx) in enumerate(_MOTIFS)
        ],
        F.count("*").alias("total"),
    )
    legs = [
        flags.select(
            F.lit(name).alias("motif"),
            F.col(f"m{i}").cast("long").alias("n_users"),
            F.col("total").cast("long").alias("total_users"),
        )
        for i, (name, _) in enumerate(_MOTIFS)
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.withColumn(
        "share",
        F.col("n_users").cast("double") / F.col("total_users").cast("double"),
    )


@register(
    "winsorized_mean",
    oracle=f"""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.1) AS lo,
               quantile_cont(value, 0.9) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MAX(q.lo) AS lo,
           MAX(q.hi) AS hi,
           {davg_sql('e.value')} AS mean_raw,
           {davg_sql('GREATEST(q.lo, LEAST(q.hi, e.value))')}
               AS mean_winsorized
    FROM events e JOIN q ON q.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("events", "statistics", "robust", "winsorize"),
)
def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% winsorized mean of value per event type — the robust
    location estimate that clips (not drops) the tails at the exact
    p10/p90 before averaging, so a handful of fat-finger values can't
    move the metric the way they move the raw mean (reported beside it
    so the gap is visible). Trimming drops information; winsorizing
    keeps the row count — the right default for monitoring metrics.

    Two passes over events (percentiles, then clipped aggregate) with
    the 5-row quantile table broadcast into the second — the clamp is
    GREATEST/LEAST in codegen, and the clipped mean goes through exact
    decimal accumulation. Exact interpolated percentiles sort within
    each type's partition; at extreme cardinality the approx-sketch
    variant (`approx_percentile_bounds`) supplies lo/hi instead and
    pass one becomes mergeable state."""
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.1)).alias("lo"),
        F.percentile("value", F.lit(0.9)).alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            davg(F.col("value")).alias("mean_raw"),
            davg(clamped).alias("mean_winsorized"),
        )
    )


_FEAT_TYPES = ["click", "error", "purchase", "signup", "view"]
_FEAT_PAIRS = [
    (a, b)
    for i, a in enumerate(_FEAT_TYPES)
    for b in _FEAT_TYPES[i + 1 :]
]


def _corr_leg_sql(a: str, b: str) -> str:
    nd = "CAST(n AS DOUBLE)"
    sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
    qa, qb = f"CAST(q_{a} AS DOUBLE)", f"CAST(q_{b} AS DOUBLE)"
    pab = f"CAST(p_{a}_{b} AS DOUBLE)"
    return f"""
        SELECT '{a}' AS feat_a, '{b}' AS feat_b,
               CAST(n AS BIGINT) AS n_users,
               ({nd} * {pab} - {sa} * {sb})
               / sqrt(({nd} * {qa} - {sa} * {sa})
                      * ({nd} * {qb} - {sb} * {sb})) AS pearson_r
        FROM s"""


@register(
    "feature_correlation_matrix",
    oracle=f"""
    WITH f AS (
        SELECT user_id,
               {", ".join(
                   f"COUNT(*) FILTER (WHERE event_type = '{t}') AS c_{t}"
                   for t in _FEAT_TYPES
               )}
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT COUNT(*) AS n,
               {", ".join(f"SUM(c_{t}) AS s_{t}" for t in _FEAT_TYPES)},
               {", ".join(f"SUM(c_{t} * c_{t}) AS q_{t}" for t in _FEAT_TYPES)},
               {", ".join(
                   f"SUM(c_{a} * c_{b}) AS p_{a}_{b}" for a, b in _FEAT_PAIRS
               )}
        FROM f
    )
    {" UNION ALL ".join(_corr_leg_sql(a, b) for a, b in _FEAT_PAIRS)}
    """,
    tags=("events", "statistics", "correlation_matrix", "features"),
)
def feature_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of per-user activity features (the
    5 event-type counts) — the co-engagement / feature-redundancy
    matrix an ML-feature pipeline screens before training (|r| ≈ 1 →
    drop one column). Two aggregations total: raw events → per-user
    count vector (one shuffle), then ALL 10 pairs' power sums in ONE
    global aggregate over the user table — adding a feature adds
    columns, never passes.

    Determinism: features are integer counts, so every power sum is
    exact int64 (magnitudes < 2^53 cast losslessly); r is derived with
    the identical IEEE steps in both engines (sqrt is correctly
    rounded per IEEE-754 — the price_quantity_corr discipline, here
    with no decimals needed at all)."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"c_{t}")
            for t in _FEAT_TYPES
        ]
    )
    s = f.agg(
        F.count("*").alias("n"),
        *[F.sum(f"c_{t}").alias(f"s_{t}") for t in _FEAT_TYPES],
        *[
            F.sum(F.col(f"c_{t}") * F.col(f"c_{t}")).alias(f"q_{t}")
            for t in _FEAT_TYPES
        ],
        *[
            F.sum(F.col(f"c_{a}") * F.col(f"c_{b}")).alias(f"p_{a}_{b}")
            for a, b in _FEAT_PAIRS
        ],
    )

    def leg(a: str, b: str) -> DataFrame:
        nd = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        qa, qb = F.col(f"q_{a}").cast("double"), F.col(f"q_{b}").cast("double")
        pab = F.col(f"p_{a}_{b}").cast("double")
        r = (nd * pab - sa * sb) / F.sqrt(
            (nd * qa - sa * sa) * (nd * qb - sb * sb)
        )
        return s.select(
            F.lit(a).alias("feat_a"),
            F.lit(b).alias("feat_b"),
            F.col("n").cast("long").alias("n_users"),
            r.alias("pearson_r"),
        )

    out = leg(*_FEAT_PAIRS[0])
    for a, b in _FEAT_PAIRS[1:]:
        out = out.unionAll(leg(a, b))
    return out


_WM_THRESHOLDS_S = [3600, 10800, 21600]  # 1h / 3h / 6h candidates


@register(
    "watermark_lateness_advisor",
    oracle=f"""
    WITH arr AS (
        SELECT ts,
               MAX(ts) OVER (
                   ORDER BY date_trunc('day', ts),
                            ('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                            1, 8))::BIGINT,
                            event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS wm
        FROM events
    ),
    lat AS (
        SELECT CASE WHEN wm > ts THEN date_diff('second', ts, wm)
                    ELSE 0 END AS late_s
        FROM arr
    ),
    s AS (
        SELECT COUNT(*) AS n,
               COUNT(*) FILTER (WHERE late_s > 0) AS n_late,
               {", ".join(
                   f"COUNT(*) FILTER (WHERE late_s > {t}) AS d_{t}"
                   for t in _WM_THRESHOLDS_S
               )}
        FROM lat
    )
    {" UNION ALL ".join(
        f'''SELECT CAST({t} AS BIGINT) AS watermark_s,
               CAST(n AS BIGINT) AS n_events,
               CAST(n_late AS BIGINT) AS n_late,
               CAST(d_{t} AS BIGINT) AS n_dropped,
               CAST(d_{t} AS DOUBLE) / CAST(n AS DOUBLE) AS drop_rate
        FROM s'''
        for t in _WM_THRESHOLDS_S
    )}
    """,
    tags=("bounded_window", "events", "streaming_design", "watermark", "lateness"),
)
def watermark_lateness_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choose a streaming watermark from BATCH history: replay the
    events in arrival order, track the running high watermark, measure
    each event's lateness against it, and report how many events each
    candidate watermark delay (1 h / 3 h / 6 h) would DROP — the
    watermark-sizing question every Structured Streaming deployment
    answers by guesswork, answered from data. (The fixture records no
    arrival order — it is synthesized as a deterministic within-day
    md5 shuffle of event ids, the "files land per day, unordered
    within the day" model; swap in a real arrival column when one
    exists.)

    The running high watermark is a GLOBAL prefix-max over arrival
    order — the third member of the bucketed-prefix family
    (global_rank_bucketed: prefix count; max_concurrent_intervals:
    prefix sum): per-day local prefix-max in parallel + prior-day
    maxima from the tiny day table, composed with GREATEST. All three
    thresholds come from one conditional aggregate."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        F.date_trunc("day", "ts").alias("day"),
        h32(F.col("event_id").cast("string")).alias("h"),
    )
    wloc = (
        W.partitionBy("day")
        .orderBy("h", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = e.select(
        "ts", "day", F.max("ts").over(wloc).alias("loc_max")
    )
    daymax = e.groupBy("day").agg(F.max("ts").alias("dmax"))
    prior = daymax.select(
        "day",
        F.max("dmax")
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, -1))
        .alias("prior_max"),
    )
    wm = F.greatest(
        F.coalesce("loc_max", F.to_timestamp(F.lit("1900-01-01"))),
        F.coalesce("prior_max", F.to_timestamp(F.lit("1900-01-01"))),
    )
    late_s = F.when(
        wm > F.col("ts"),
        F.unix_timestamp(wm) - F.unix_timestamp("ts"),
    ).otherwise(F.lit(0))
    s = (
        local.join(F.broadcast(prior), "day")
        .select(late_s.alias("late_s"))
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("late_s") > 0, 1)).alias("n_late"),
            *[
                F.count(F.when(F.col("late_s") > t, 1)).alias(f"d_{t}")
                for t in _WM_THRESHOLDS_S
            ],
        )
    )
    legs = [
        s.select(
            F.lit(t).cast("long").alias("watermark_s"),
            F.col("n").cast("long").alias("n_events"),
            F.col("n_late").cast("long").alias("n_late"),
            F.col(f"d_{t}").cast("long").alias("n_dropped"),
            (F.col(f"d_{t}").cast("double") / F.col("n").cast("double")).alias(
                "drop_rate"
            ),
        )
        for t in _WM_THRESHOLDS_S
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


@register(
    "diff_in_diff",
    oracle=f"""
    WITH base AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':exp42'),
                               1, 8))::BIGINT % 2 = 1 AS treated,
               ts >= TIMESTAMP '2024-01-16' AS post,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    cells AS (
        SELECT
            {davg_sql("CASE WHEN treated AND post THEN value END")} AS t_post,
            {davg_sql("CASE WHEN treated AND NOT post THEN value END")} AS t_pre,
            {davg_sql("CASE WHEN NOT treated AND post THEN value END")} AS c_post,
            {davg_sql("CASE WHEN NOT treated AND NOT post THEN value END")} AS c_pre,
            CAST(COUNT(*) AS BIGINT) AS n
        FROM base
    )
    SELECT n, t_pre, t_post, c_pre, c_post,
           (t_post - t_pre) - (c_post - c_pre) AS did_estimate
    FROM cells
    """,
    tags=("events", "causal", "diff_in_diff", "experiment"),
)
def diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the 2×2 (treated × pre/post) cell
    means of purchase value and the DiD estimate (T_post − T_pre) −
    (C_post − C_pre) — the causal-inference workhorse when you have a
    before/after boundary but no randomized holdout; the control arm's
    delta subtracts out the secular trend both arms share. Arms come
    from the same salted md5 assignment as `ab_assignment_srm`; the
    period boundary is a fixed calendar instant.

    The entire estimator is ONE conditional aggregate over one scan —
    four decimal-exact conditional means and three IEEE subtractions —
    the same constant-state shape at any scale. (Parallel-trends
    diagnostics = the identical query with the boundary shifted into
    the pre-period.)"""
    from beam_pyspark_runner_spark.functions.hashing import h32

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = e.select(
        (
            h32(F.concat(F.col("user_id").cast("string"), F.lit(":exp42"))) % 2
            == 1
        ).alias("treated"),
        (F.col("ts") >= F.to_timestamp(F.lit("2024-01-16"))).alias("post"),
        "value",
    )

    def cell(t: bool, p: bool):
        cond = (F.col("treated") == t) & (F.col("post") == p)
        return davg(F.when(cond, F.col("value")))

    cells = base.agg(
        cell(True, True).alias("t_post"),
        cell(True, False).alias("t_pre"),
        cell(False, True).alias("c_post"),
        cell(False, False).alias("c_pre"),
        F.count("*").cast("long").alias("n"),
    )
    return cells.select(
        "n",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did_estimate"),
    )


@register(
    "seasonal_adjusted_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               CAST((epoch(date_trunc('day', o_orderdate))::BIGINT
                     / 86400 + 4) % 7 AS BIGINT) AS dow,
               {dsum_sql('o_totalprice')} AS rev
        FROM orders GROUP BY 1, 2
    ),
    dowavg AS (
        SELECT dow, {davg_sql('rev')} AS dow_avg FROM daily GROUP BY dow
    ),
    overall AS (SELECT {davg_sql('rev')} AS all_avg FROM daily),
    adj AS (
        SELECT day, dow, rev,
               dow_avg / all_avg AS factor,
               rev / (dow_avg / all_avg) AS adjusted
        FROM daily JOIN dowavg USING (dow) CROSS JOIN overall
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql('adjusted')} AS s1,
               {dsum_sql('adjusted * adjusted')} AS s2
        FROM adj
    )
    SELECT day, dow, rev, factor, adjusted,
           abs(adjusted - s1 / n)
             > 2.0 * sqrt((n * s2 - s1 * s1) / n / n) AS is_anomaly
    FROM adj CROSS JOIN stats
    """,
    tags=("events", "anomaly", "seasonality", "timeseries"),
)
def seasonal_adjusted_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly screen over daily revenue: divide
    each day by its day-of-week factor (Mondays compared to a Monday
    baseline — raw thresholds would page the on-call every weekend),
    then flag days whose adjusted value sits >2σ from the adjusted
    mean. Composes `seasonality_index`'s factors with the decimal-exact
    power-sum variance of `value_outliers`, as one operator.

    All aggregates (daily revenue, per-dow means, overall mean,
    moment sums) run through exact decimal accumulation; day-of-week
    is the engine-neutral (epoch_days + 4) % 7; the remaining ops are
    single IEEE divides/multiplies/sqrt — bit-identical across engines
    and partitionings. Scale: one scan → day-keyed partial agg; every
    later stage works on the days-sized table with broadcast factor
    and moment tables."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day"),
        (
            (
                (
                    F.unix_timestamp(F.date_trunc("day", "o_orderdate"))
                    / 86400
                ).cast("long")
                + 4
            )
            % 7
        ).alias("dow"),
    ).agg(dsum(F.col("o_totalprice")).alias("rev"))
    dowavg = daily.groupBy("dow").agg(davg(F.col("rev")).alias("dow_avg"))
    overall = daily.agg(davg(F.col("rev")).alias("all_avg"))
    adj = (
        daily.join(F.broadcast(dowavg), "dow")
        .crossJoin(F.broadcast(overall))
        .select(
            "day",
            "dow",
            "rev",
            (F.col("dow_avg") / F.col("all_avg")).alias("factor"),
            (F.col("rev") / (F.col("dow_avg") / F.col("all_avg"))).alias(
                "adjusted"
            ),
        )
    )
    stats = adj.agg(
        F.count("*").cast("long").alias("n"),
        dsum(F.col("adjusted")).alias("s1"),
        dsum(F.col("adjusted") * F.col("adjusted")).alias("s2"),
    )
    return adj.crossJoin(F.broadcast(stats)).select(
        "day",
        "dow",
        "rev",
        "factor",
        "adjusted",
        (
            F.abs(F.col("adjusted") - F.col("s1") / F.col("n"))
            > 2.0
            * F.sqrt(
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                / F.col("n")
                / F.col("n")
            )
        ).alias("is_anomaly"),
    )


@register(
    "expected_shortfall",
    oracle=f"""
    WITH q AS (
        SELECT event_type, quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           MAX(q.p95) AS p95,
           CAST(COUNT(CASE WHEN e.value >= q.p95 THEN 1 END) AS BIGINT)
               AS n_tail,
           {davg_sql('CASE WHEN e.value >= q.p95 THEN e.value END')}
               AS expected_shortfall
    FROM events e JOIN q ON q.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("events", "statistics", "tail_risk", "cvar"),
)
def expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR): the mean of the worst 5% of values
    per event type — the coherent tail-risk metric (Basel/actuarial
    standard) that answers "WHEN we exceed p95, how bad is it?", which
    the quantile alone cannot (two distributions can share a p95 and
    have wildly different tails). Complements `winsorized_mean` (which
    discards the tail's influence; this measures it) on the same
    two-pass broadcast-quantile plan: exact p95 per group, 5-row table
    broadcast into one conditional decimal-exact aggregate."""
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.95)).alias("p95")
    )
    tail = F.when(F.col("value") >= F.col("p95"), F.col("value"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("p95").alias("p95"),
            F.count(tail).cast("long").alias("n_tail"),
            davg(tail).alias("expected_shortfall"),
        )
    )


@register(
    "cumulative_distinct_curve",
    oracle="""
    WITH first_day AS (
        SELECT user_id,
               MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
        FROM events GROUP BY user_id
    ),
    daily_new AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_day GROUP BY day
    ),
    days AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    )
    SELECT d.day,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (ORDER BY d.day)
                AS BIGINT) AS cum_users
    FROM days d LEFT JOIN daily_new n ON n.day = d.day
    """,
    tags=("bounded_window", "events", "cumulative_distinct", "growth", "curve"),
)
def cumulative_distinct_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-users-to-date curve: cumulative distinct users per day —
    the top-line growth chart. Cumulative DISTINCT is not a window
    aggregate (distinct can't re-count per frame); the scalable
    identity: a user contributes to the cumulative count from their
    FIRST active day onward, so one user-keyed aggregate (min day) +
    one days-sized running sum over daily first-appearance counts
    gives the exact curve — raw events are scanned once, never
    per-day. Zero-new days keep a row (left join against the day
    spine) so the curve is gapless. The running sum is a window over
    the days-sized table (bucket by month via the bucketed-prefix
    family when the spine itself is huge)."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    first_day = e.groupBy("user_id").agg(F.min(day).alias("day"))
    daily_new = first_day.groupBy("day").agg(
        F.count("*").cast("long").alias("new_users")
    )
    days = e.select(day.alias("day")).distinct()
    joined = days.join(daily_new, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    return joined.select(
        "day",
        "new_users",
        F.sum("new_users")
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_users"),
    )


@register(
    "ks_statistic_drift",
    oracle="""
    WITH base AS (
        SELECT value, event_type = 'purchase' AS grp
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    vals AS (
        SELECT value,
               COUNT(*) FILTER (WHERE grp) AS c1,
               COUNT(*) FILTER (WHERE NOT grp) AS c0
        FROM base GROUP BY value
    ),
    tot AS (
        SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0
        FROM vals
    ),
    cdf AS (
        SELECT value,
               CAST(SUM(c1) OVER (ORDER BY value) AS DOUBLE)
                   / CAST(tot.n1 AS DOUBLE) AS f1,
               CAST(SUM(c0) OVER (ORDER BY value) AS DOUBLE)
                   / CAST(tot.n0 AS DOUBLE) AS f0
        FROM vals, tot
    ),
    d AS (SELECT value, abs(f1 - f0) AS gap FROM cdf),
    m AS (SELECT MAX(gap) AS ks FROM d)
    SELECT tot.n1, tot.n0, m.ks,
           (SELECT MIN(value) FROM d WHERE d.gap = m.ks) AS ks_at_value
    FROM tot, m
    """,
    tags=("bounded_window", "events", "kolmogorov_smirnov", "drift", "distribution_compare",
          "nonparametric"),
)
def ks_statistic_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the purchase and
    view value distributions: D = max over values of |F̂₁(v) − F̂₂(v)|,
    with the value attaining it (min such value, for determinism).
    Where chi-square drift (distribution_drift_chisq) needs binning and
    a bin-sensitivity story, KS is binning-free — the standard monitor
    for "did this feature's distribution move" in training-data QA.
    Computed exactly on the DISTINCT-VALUE table: per-value group
    counts, one running sum per side, one division each — so the sort
    touches |distinct values| rows, never raw rows (the mann_whitney_u
    discipline; at 100 TB the value table for a monitored feature is
    millions of rows, and a t-digest sketch replaces this only when it
    isn't). All arithmetic is integer sums + IEEE division: D and its
    argmax value-hash exactly."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    ).select("value", (F.col("event_type") == "purchase").alias("grp"))
    vals = e.groupBy("value").agg(
        F.count(F.when(F.col("grp"), 1)).alias("c1"),
        F.count(F.when(~F.col("grp"), 1)).alias("c0"),
    )
    w = W.orderBy("value").rowsBetween(W.unboundedPreceding, 0)
    tot = vals.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c0").cast("long").alias("n0"),
    )
    cdf = vals.crossJoin(F.broadcast(tot)).select(
        "value",
        "n1",
        "n0",
        (
            F.sum("c1").over(w).cast("double") / F.col("n1").cast("double")
        ).alias("f1"),
        (
            F.sum("c0").over(w).cast("double") / F.col("n0").cast("double")
        ).alias("f0"),
    )
    d = cdf.select(
        "value", "n1", "n0", F.abs(F.col("f1") - F.col("f0")).alias("gap")
    )
    m = d.groupBy("n1", "n0").agg(F.max("gap").alias("ks"))
    return (
        d.join(F.broadcast(m), ["n1", "n0"])
        .filter(F.col("gap") == F.col("ks"))
        .groupBy("n1", "n0", "ks")
        .agg(F.min("value").alias("ks_at_value"))
        .select("n1", "n0", "ks", "ks_at_value")
    )


MARKOV_STEPS = 6  # bounded conversion horizon (transitions)
_MARKOV_CHANNELS = ("click", "error", "signup", "view")


def _markov_iter_sql(prev: str, curr: str, absorbed: str) -> str:
    """One Markov step: split the (variant, state) mass vector into the
    purchase-absorbed slice and the next transient vector — the
    pagerank _iter_sql recipe (decimal-exact sums) over variants."""
    return f"""
    {curr}_c AS (
        SELECT v.variant, t.to_state,
               CAST(SUM(CAST(t.p * v.r AS DECIMAL(38,10))) AS DOUBLE) AS r
        FROM {prev} v
        JOIN tv t ON t.variant = v.variant AND t.from_state = v.state
        GROUP BY v.variant, t.to_state
    ),
    {absorbed} AS (
        SELECT variant, r FROM {curr}_c WHERE to_state = 'purchase'
    ),
    {curr} AS (
        SELECT variant, to_state AS state, r FROM {curr}_c
        WHERE to_state <> 'purchase'
    )"""


def _markov_oracle() -> str:
    steps = []
    absorbs = []
    for k in range(1, MARKOV_STEPS + 1):
        steps.append(_markov_iter_sql(f"v{k - 1}", f"v{k}", f"a{k}"))
        absorbs.append(f"SELECT variant, r FROM a{k}")
    union = " UNION ALL ".join(absorbs)
    chans = ", ".join(f"('{c}')" for c in _MARKOV_CHANNELS)
    return f"""
    WITH ordered AS (
        SELECT user_id, event_type,
               COALESCE(LAG(event_type) OVER w, 'start') AS from_state,
               COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS purchases_before
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pairs AS (
        SELECT from_state, event_type AS to_state FROM ordered
        WHERE purchases_before = 0
    ),
    t AS (
        SELECT from_state, to_state,
               CAST(COUNT(*) AS DOUBLE)
                   / CAST(SUM(COUNT(*)) OVER (PARTITION BY from_state)
                          AS DOUBLE) AS p
        FROM pairs GROUP BY from_state, to_state
    ),
    variants AS (SELECT 'none' AS variant UNION ALL
                 SELECT v FROM (VALUES {chans}) x(v)),
    tv AS (
        SELECT va.variant, t.from_state, t.to_state, t.p
        FROM t, variants va
        WHERE t.from_state <> va.variant
    ),
    v0 AS (SELECT variant, 'start' AS state, 1.0 AS r FROM variants),
    {','.join(steps)},
    conv AS (
        SELECT variant,
               CAST(SUM(CAST(r AS DECIMAL(38,10))) AS DOUBLE) AS p_conv
        FROM ({union}) GROUP BY variant
    ),
    eff AS (
        SELECT c.variant AS channel,
               1.0 - c.p_conv / f.p_conv AS removal_effect
        FROM conv c, (SELECT p_conv FROM conv WHERE variant = 'none') f
        WHERE c.variant <> 'none'
    )
    SELECT channel, removal_effect,
           removal_effect
             / CAST((SELECT SUM(CAST(removal_effect AS DECIMAL(38,10)))
                     FROM eff) AS DOUBLE) AS attribution_share
    FROM eff
    """


@register(
    "markov_removal_attribution",
    oracle=_markov_oracle(),
    tags=("events", "attribution", "markov", "iterative", "removal_effect"),
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov REMOVAL-EFFECT attribution (Anderl et al. 2014) — the
    principled successor to first/last-touch: build the first-order
    journey chain (paths truncated at first purchase), then for each
    channel ask how much conversion probability DISAPPEARS when that
    channel absorbs its visitors (its outgoing transitions removed);
    attribution share = each channel's removal effect over the total.
    Conversion probability is the {MARKOV_STEPS}-step bounded-horizon
    absorption into 'purchase', iterated with the pagerank recipe:
    every per-step sum is decimal-exact, so the doubles hash across
    engines. ALL FIVE chain variants (full + 4 removals) ride ONE
    iteration lineage keyed by variant — the corpus is touched exactly
    once (the transition-pair count, one shuffle); everything after is
    |variants|×|states|-sized (≤ 25 rows) with broadcast joins, so at
    100 TB the attribution costs one aggregate no matter how many
    what-if variants run beside it."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    before = F.coalesce(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
            w.rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    pairs = (
        e.select(
            "user_id",
            F.col("event_type").alias("to_state"),
            F.lag("event_type", 1, "start").over(w).alias("from_state"),
            before.alias("purchases_before"),
        )
        .filter(F.col("purchases_before") == 0)
        .select("from_state", "to_state")
    )
    cnt = pairs.groupBy("from_state", "to_state").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("from_state").agg(F.sum("c").alias("tot"))
    t = cnt.join(F.broadcast(tot), "from_state").select(
        "from_state",
        "to_state",
        (F.col("c").cast("double") / F.col("tot").cast("double")).alias("p"),
    )
    # VALUES, not createDataFrame: plans as a LocalRelation the audit
    # can prove bounded (createDataFrame leaves an opaque LogicalRDD).
    variants = spark.sql(
        "SELECT * FROM VALUES ('none'), "
        + ", ".join(f"('{c}')" for c in _MARKOV_CHANNELS)
        + " AS variants(variant)"
    )
    # Pin the per-variant transition table ONCE (the k_core /
    # connected_components discipline): tv is ≤ |states|²×|variants|
    # rows but its lineage contains the corpus-sized pair count — left
    # unpinned, each of the 6 unrolled steps × 5 variants re-derives
    # that scan (measured at sf0.1: 11.7 s / 700 KB plan unpinned).
    tv = checkpoint_audited(t.crossJoin(F.broadcast(variants)).filter(
        F.col("from_state") != F.col("variant")
    ))
    acc = "decimal(38,10)"

    def dsum_d(col):
        return F.sum(col.cast(acc)).cast("double")

    v = variants.select(
        "variant", F.lit("start").alias("state"), F.lit(1.0).alias("r")
    )
    # The iteration shuffles ≤25-row vectors: at the session default of
    # 32 shuffle partitions each pinned step schedules 32 near-empty
    # tasks × 6 steps. Narrow the tiny stages to 1 partition for the
    # loop's duration — the corpus-sized pair count was already
    # materialized into tv above, under the session default. (Measured
    # at sf0.1: 11.7 s unpinned → 6.5 s with tv+step pinning and
    # 1-partition tiny stages; the 2.5 s floor is the corpus window.)
    shuffle_key = "spark.sql.shuffle.partitions"
    saved_parts = spark.conf.get(shuffle_key)
    spark.conf.set(shuffle_key, "1")
    absorbed = []
    # localCheckpoint is eager, so a mid-loop job failure would
    # otherwise leave the SHARED session at 1 shuffle partition —
    # always restore.
    try:
        for _ in range(MARKOV_STEPS):
            contrib = v.alias("v").join(
                F.broadcast(tv.alias("t")),
                (F.col("v.variant") == F.col("t.variant"))
                & (F.col("v.state") == F.col("t.from_state")),
            ).select(
                F.col("t.variant").alias("variant"),
                F.col("t.to_state").alias("to_state"),
                (F.col("t.p") * F.col("v.r")).alias("pr"),
            )
            # Pin each step's ≤25-row vector too: the absorbed-mass
            # legs union one slice per step, and without
            # materialization step k's lineage re-executes steps
            # 1..k-1 (quadratic tiny-stage count — the 10 s was ~21
            # re-run shuffle stages, not data).
            stepped = checkpoint_audited(
                contrib.groupBy("variant", "to_state").agg(
                    dsum_d(F.col("pr")).alias("r")
                ),
                adjudicated="broadcasts tv, the checkpoint of the "
                "<=|states|^2 x |variants| transition table (bounded at "
                "its own construction above)",
            )
            absorbed.append(
                stepped.filter(F.col("to_state") == "purchase").select(
                    "variant", "r"
                )
            )
            v = stepped.filter(F.col("to_state") != "purchase").select(
                "variant", F.col("to_state").alias("state"), "r"
            )
    finally:
        spark.conf.set(shuffle_key, saved_parts)
    allabs = absorbed[0]
    for a in absorbed[1:]:
        allabs = allabs.unionAll(a)
    conv = allabs.groupBy("variant").agg(dsum_d(F.col("r")).alias("p_conv"))
    full = conv.filter(F.col("variant") == "none").select(
        F.col("p_conv").alias("p_full")
    )
    eff = (
        conv.filter(F.col("variant") != "none")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("variant").alias("channel"),
            (F.lit(1.0) - F.col("p_conv") / F.col("p_full")).alias(
                "removal_effect"
            ),
        )
    )
    tot_eff = eff.agg(dsum_d(F.col("removal_effect")).alias("s"))
    return eff.crossJoin(F.broadcast(tot_eff)).select(
        "channel",
        "removal_effect",
        (F.col("removal_effect") / F.col("s")).alias("attribution_share"),
    )


SLO_TARGET_MILLI = 800  # error-rate SLO: at most 800/1000 ... see docstring
SLO_BAD_PER_MILLE = 220  # alert when daily error share exceeds 22.0%


@register(
    "slo_error_budget_burn",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_total,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
        FROM events GROUP BY 1
    ),
    rates AS (
        SELECT day, CAST(n_total AS BIGINT) AS n_total,
               CAST(n_error AS BIGINT) AS n_error,
               CAST(n_error AS DOUBLE) / CAST(n_total AS DOUBLE) AS error_rate,
               (CAST(n_error AS DOUBLE) / CAST(n_total AS DOUBLE))
                   / ({SLO_BAD_PER_MILLE} / 1000.0) AS burn_rate,
               n_error * 1000 > n_total * {SLO_BAD_PER_MILLE} AS alert
        FROM daily
    )
    SELECT day, n_total, n_error, error_rate, burn_rate, alert,
           CAST(SUM(n_error) OVER (ORDER BY day) AS BIGINT)
               AS cum_errors,
           CAST(SUM(n_error) OVER (ORDER BY day) AS DOUBLE)
               / (CAST(SUM(n_total) OVER (ORDER BY day) AS DOUBLE)
                  * ({SLO_BAD_PER_MILLE} / 1000.0)) AS budget_consumed
    FROM rates
    """,
    tags=("bounded_window", "events", "slo", "error_budget", "burn_rate", "reliability"),
)
def slo_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO ERROR-BUDGET accounting (the SRE burn-rate method): daily
    error share against a {SLO_BAD_PER_MILLE}/1000 objective, the
    burn-rate multiple (1.0 = exactly on budget; alerting policies
    page at sustained multiples), a threshold alert computed in
    INTEGER cross-multiplication (n_error·1000 > n_total·threshold —
    no float boundary), and the running fraction of the period's
    budget consumed. This is the reliability twin of the drift
    monitors (ks_statistic_drift / distribution_drift_chisq): same
    one-scan conditional aggregate, days-sized running windows, exact
    integer counts with one division per ratio. At 100 TB of logs the
    daily rollup is the only corpus-sized stage; everything after
    operates on |days| rows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_error"),
    )
    target = SLO_BAD_PER_MILLE / 1000.0
    rate = F.col("n_error").cast("double") / F.col("n_total").cast("double")
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_error").cast("long").alias("n_error"),
        rate.alias("error_rate"),
        (rate / target).alias("burn_rate"),
        (F.col("n_error") * 1000 > F.col("n_total") * SLO_BAD_PER_MILLE).alias(
            "alert"
        ),
        F.sum("n_error").over(wd).cast("long").alias("cum_errors"),
        (
            F.sum("n_error").over(wd).cast("double")
            / (F.sum("n_total").over(wd).cast("double") * target)
        ).alias("budget_consumed"),
    )


# --- batch MATCH_RECOGNIZE-style sequence regex (round 7) --------------------
@register(
    "batch_match_recognize",
    oracle="""
    WITH s AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS BIGINT)
               AS n_view_to_purchase,
           CAST(COALESCE(list_max(list_transform(
                regexp_extract_all(seq, 'e+'), x -> len(x))), 0) AS BIGINT)
               AS max_error_burst
    FROM s
    """,
    tags=("events", "sequence", "match_recognize", "regex"),
)
def batch_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MATCH_RECOGNIZE (the Trino/Flink row-pattern operator,
    SQL:2016): encode each user's event history as a character sequence
    (one initial per event, event-time order) and run row patterns as
    ordinary regexes over it — 'v[^p]*p' counts view→purchase
    conversions (non-overlapping, first-purchase semantics exactly like
    MATCH_RECOGNIZE's AFTER MATCH SKIP PAST LAST ROW), 'e+' measures
    the longest error burst. The encode step is ONE groupBy per user
    with an ordered in-group concat; per-user history length is the
    only state, the regex engine runs inside codegen, and no self-join
    or window cascade touches the corpus — the 100 TB-safe way to ask
    ordered-pattern questions the funnel/CEP family (funnel_stages,
    stream_cep_error_then_purchase) answers with joins. Reference has
    no sequence surface."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("ch")).alias(
                "x"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("x")), lambda p: p["ch"]),
                "",
            ).alias("seq")
        )
    )
    return s.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("v[^p]*p"), 0))
        .cast("long")
        .alias("n_view_to_purchase"),
        F.coalesce(
            F.array_max(
                F.transform(
                    F.regexp_extract_all(F.col("seq"), F.lit("e+"), 0),
                    lambda x: F.length(x),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("max_error_burst"),
    )


# --- UDTF with TABLE argument + PARTITION BY (round 7) -----------------------
UDTF_SESSION_GAP_S = 1800  # 30-minute session gap


@register(
    "udtf_table_arg_sessions",
    oracle=f"""
    WITH o AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS pts
        FROM events
    ),
    m AS (
        SELECT user_id, ts,
               CASE WHEN pts IS NULL
                      OR ts > pts + INTERVAL {UDTF_SESSION_GAP_S} SECONDS
                    THEN 1 ELSE 0 END AS is_new
        FROM o
    ),
    s AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    ),
    g AS (SELECT user_id, sid, COUNT(*) AS n FROM s GROUP BY 1, 2)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM g GROUP BY user_id
    """,
    tags=("udtf", "table_argument", "sessionization", "spark4"),
)
def udtf_table_arg_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic UDTF over a TABLE argument (Spark 4, SPARK-44749):
    the function consumes `TABLE(events) PARTITION BY user_id ORDER BY
    ts`, so the ENGINE shuffles and orders each user's history and the
    Python class sees one clean partition stream — the API that turns
    'per-key ordered walk' logic (sessionization here: 30-min gap,
    session count + largest session) into a reusable SQL table
    function. This is the imperative twin of the pure-SQL
    sessionization family (sessionization, session_window_batch): same
    semantics — the oracle IS that SQL — but the walk runs in Python
    where a real pipeline would put unexpressible per-row logic
    (tokenizers, device parsers). One engine-managed shuffle on the
    partition key; state is one user's scalars, never the corpus.
    Reference analogue: a stateful DoFn over GroupByKey output
    (transform_evaluators.py:62-68), minus the engine-ordered input
    guarantee."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, n_sessions bigint, max_session_events bigint"
    )
    class SessionSummary:
        def __init__(self):
            self._user = None
            self._last = None
            self._sessions = 0
            self._cur = 0
            self._best = 0

        def eval(self, row):
            self._user = row.user_id
            ts = row.ts
            if (
                self._last is None
                or (ts - self._last).total_seconds() > UDTF_SESSION_GAP_S
            ):
                self._sessions += 1
                if self._cur > self._best:
                    self._best = self._cur
                self._cur = 1
            else:
                self._cur += 1
            self._last = ts

        def terminate(self):
            if self._user is not None:
                if self._cur > self._best:
                    self._best = self._cur
                yield self._user, self._sessions, self._best

    spark.udtf.register("bprs_session_summary", SessionSummary)
    load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).createOrReplaceTempView("bprs_udtf_events")
    try:
        return spark.sql(
            """
            SELECT s.user_id, s.n_sessions, s.max_session_events
            FROM bprs_session_summary(
                TABLE(bprs_udtf_events)
                PARTITION BY user_id ORDER BY (ts, event_id)) s
            """
        )
    finally:
        spark.catalog.dropTempView("bprs_udtf_events")


# --- quantile treatment effect (round 7) -------------------------------------
@register(
    "quantile_treatment_effect",
    oracle="""
    WITH a AS (
        SELECT CASE WHEN (('0x' || substr(md5('qte-' || user_id), 1, 8))
                          ::BIGINT) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS variant,
               value, event_id
        FROM events
    ),
    r AS (
        SELECT variant, value,
               ROW_NUMBER() OVER (PARTITION BY variant
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY variant) AS n
        FROM a
    ),
    d AS (SELECT unnest(range(1, 10)) AS decile),
    q AS (
        SELECT d.decile, r.variant, r.value
        FROM r JOIN d ON r.rn = (d.decile * r.n + 9) // 10
    )
    SELECT t.decile AS decile,
           t.value AS q_treatment,
           c.value AS q_control,
           t.value - c.value AS qte
    FROM (SELECT decile, value FROM q WHERE variant = 'treatment') t
    JOIN (SELECT decile, value FROM q WHERE variant = 'control') c
      ON t.decile = c.decile
    """,
    tags=("ab_testing", "bounded_broadcast", "quantile", "treatment_effect",
          "statistics"),
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-decile difference between the
    treatment and control value distributions (hash-assigned variants,
    the stream_ab_metrics convention) — the distributional view that
    mean-based readouts (diff_in_diff, cuped_variance_reduction) cannot
    give: a treatment that helps the p90 while hurting the p10 nets to
    zero in a t-test and shows up immediately here (Koenker's quantile
    regression, evaluated nonparametrically). Every decile is ONE exact
    order statistic (rank = ⌈d·n/10⌉, integer arithmetic, event_id
    tie-break) — no interpolation, hash-stable. Cost: one rank window
    per variant over the metric column, then a 9-row join; at 100 TB
    swap the exact rank for the two_phase_global_quantiles bucket walk
    per variant.

    bounded_broadcast: the hinted build side is the 10-row decile
    table from a rank-probe join against the literal decile spine —
    bounded by construction, not provable from plan structure."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    a = load_table(spark, sf_dir, "events").select(
        F.when(
            h32(F.concat_ws("-", F.lit("qte"), F.col("user_id"))) % 2 == 0,
            F.lit("control"),
        )
        .otherwise(F.lit("treatment"))
        .alias("variant"),
        "value",
        "event_id",
    )
    r = a.select(
        "variant",
        "value",
        F.row_number()
        .over(W.partitionBy("variant").orderBy("value", "event_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("variant")).alias("n"),
    )
    d = spark.range(1, 10).select(F.col("id").cast("long").alias("decile"))
    q = r.join(
        F.broadcast(d),
        F.col("rn") == F.expr("(decile * n + 9) div 10"),
    ).select("decile", "variant", "value")
    t = q.filter(F.col("variant") == "treatment").select(
        "decile", F.col("value").alias("q_treatment")
    )
    c = q.filter(F.col("variant") == "control").select(
        F.col("decile").alias("c_decile"), F.col("value").alias("q_control")
    )
    return (
        t.join(F.broadcast(c), F.col("decile") == F.col("c_decile"))
        .select(
            "decile",
            "q_treatment",
            "q_control",
            (F.col("q_treatment") - F.col("q_control")).alias("qte"),
        )
    )



# --- two-proportion z-test (round 7) ------------------------------------------
@register(
    "two_proportion_ztest",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CASE WHEN MAX(CASE WHEN event_type = 'purchase'
                                  THEN value END) > 150
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    armed AS (
        SELECT CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':exp42'), 1, 8))::BIGINT)
                         % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               converted
        FROM u
    ),
    agg AS (
        SELECT
            CAST(COUNT(*) FILTER (WHERE arm = 'control') AS BIGINT) AS n_c,
            CAST(SUM(converted) FILTER (WHERE arm = 'control') AS BIGINT)
                AS x_c,
            CAST(COUNT(*) FILTER (WHERE arm = 'treatment') AS BIGINT) AS n_t,
            CAST(SUM(converted) FILTER (WHERE arm = 'treatment') AS BIGINT)
                AS x_t
        FROM armed
    )
    SELECT n_c AS n_control, x_c AS conv_control,
           n_t AS n_treatment, x_t AS conv_treatment,
           CAST(x_c AS DOUBLE) / n_c AS p_control,
           CAST(x_t AS DOUBLE) / n_t AS p_treatment,
           (CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
             / sqrt((CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                    * (1.0 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                    * (1.0 / n_c + 1.0 / n_t)) AS z_score
    FROM agg
    """,
    tags=("events", "ab_testing", "hypothesis_test", "proportion"),
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test on USER-level conversion (a purchase
    above $150) between the
    standard salted-md5 experiment arms (the stream_ab_metrics /
    ab_assignment_srm assignment expression) — the readout that turns
    the A/B dashboard's counts into a significance statement. The unit
    of analysis is the user, not the event (event-level proportions
    violate independence — the classic A/B mistake), so the corpus
    first collapses to one converted-flag row per user. Every input to
    the z formula is an exact integer; the final expression is
    fixed-order scalar IEEE + one sqrt, so it value-hashes. The
    p-value is one erf() away client-side (libm, the repo-wide
    log/erf-no line).

    Scale notes (100 TB): one user-keyed partial agg (map-side
    combinable max), one 2-row conditional aggregate. Nothing else."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.when(
            F.max(F.when(F.col("event_type") == "purchase", F.col("value")))
            > 150,
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    arm = (
        F.when(
            h32(F.concat(F.col("user_id").cast("string"), F.lit(":exp42")))
            % 2
            == 0,
            "control",
        )
        .otherwise("treatment")
        .alias("arm")
    )
    agg = u.select(arm, "converted").agg(
        F.count(F.when(F.col("arm") == "control", 1))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("arm") == "control", F.col("converted")))
        .cast("long")
        .alias("x_c"),
        F.count(F.when(F.col("arm") == "treatment", 1))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("arm") == "treatment", F.col("converted")))
        .cast("long")
        .alias("x_t"),
    )
    p_c = F.col("x_c").cast("double") / F.col("n_c")
    p_t = F.col("x_t").cast("double") / F.col("n_t")
    pool = (F.col("x_c") + F.col("x_t")).cast("double") / (
        F.col("n_c") + F.col("n_t")
    )
    return agg.select(
        F.col("n_c").alias("n_control"),
        F.col("x_c").alias("conv_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("x_t").alias("conv_treatment"),
        p_c.alias("p_control"),
        p_t.alias("p_treatment"),
        (
            (p_t - p_c)
            / F.sqrt(
                pool * (1.0 - pool) * (1.0 / F.col("n_c") + 1.0 / F.col("n_t"))
            )
        ).alias("z_score"),
    )


# --- exact Shapley channel attribution (round 7) ---------------------------------
@register(
    "shapley_channel_attribution",
    oracle="""
    WITH fp AS (
        SELECT user_id, MIN(ts) AS fp_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    masks AS (
        SELECT e.user_id,
               MAX(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END)
             + 2 * MAX(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
             + 4 * MAX(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END)
                   AS mask
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.ts < fp.fp_ts
        GROUP BY e.user_id
    ),
    cnt AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM masks
            WHERE mask > 0 GROUP BY mask),
    subsets AS (SELECT unnest(range(0, 8)) AS s),
    v AS (
        SELECT s.s, CAST(COALESCE(SUM(cnt.c), 0) AS BIGINT) AS v
        FROM subsets s LEFT JOIN cnt ON (cnt.mask | s.s) = s.s
        GROUP BY s.s
    ),
    chans AS (SELECT * FROM (VALUES (0, 'view'), (1, 'click'),
                                    (2, 'signup')) AS t(b, channel)),
    terms AS (
        SELECT ch.channel,
               CAST(SUM((CASE WHEN bit_count(sv.s) = 0 THEN 2
                              WHEN bit_count(sv.s) = 1 THEN 1
                              ELSE 2 END)
                        * (svb.v - sv.v)) AS BIGINT) AS phi_x6
        FROM chans ch
        JOIN v sv ON (sv.s & (1 << ch.b)) = 0
        JOIN v svb ON svb.s = (sv.s | (1 << ch.b))
        GROUP BY ch.channel
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conv FROM masks
            WHERE mask > 0)
    SELECT channel, phi_x6,
           CAST(phi_x6 AS DOUBLE) / 6.0 AS shapley_conversions,
           CAST(phi_x6 AS DOUBLE) / (6.0 * n_conv) AS shapley_share,
           n_conv
    FROM terms, tot
    """,
    tags=("events", "attribution", "shapley", "marketing"),
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value channel attribution — the game-theoretic
    member of the attribution trio (first_touch_attribution's
    heuristic, markov_removal_attribution's chain counterfactual, and
    this: each conversion's credit split by every channel's average
    marginal contribution across all join orders). Characteristic
    function v(S) = conversions whose pre-purchase touchpoint set ⊆ S;
    with 3 channels the 8 coalition values come from ONE mask
    histogram, and the Shapley weights (|S|!(n−|S|−1)!/n! → 2,1,2
    after ×6 scaling) make every φ an exact INTEGER sixth — no
    sampling, no float accumulation (φ_x6 hashes; the shares are one
    division each). The n-channel cost is 2^n coalition rows — the
    standard exact-Shapley regime (≤ ~20 channels); beyond that,
    permutation sampling replaces the subset table, same mask
    histogram.

    Scale notes (100 TB): one corpus scan builds per-user first-
    purchase times (partial-agg min), one join + conditional agg
    builds the 8-row mask histogram; everything after is constant
    size."""
    e = load_table(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
    )
    masks = (
        e.join(fp, "user_id")
        .filter(F.col("ts") < F.col("fp_ts"))
        .groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when(F.col("event_type") == "view", 1).otherwise(0)
                )
                + 2
                * F.max(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                + 4
                * F.max(
                    F.when(F.col("event_type") == "signup", 1).otherwise(0)
                )
            ).alias("mask")
        )
        .filter(F.col("mask") > 0)
    )
    cnt = masks.groupBy("mask").agg(F.count("*").cast("long").alias("c"))
    subsets = spark.range(0, 8).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(cnt),
            (F.col("mask").bitwiseOR(F.col("s")) == F.col("s")),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("v"))
    )
    chans = spark.createDataFrame(
        [(0, "view"), (1, "click"), (2, "signup")], "b int, channel string"
    )
    sv = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    svb = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    weight = (
        F.when(F.bit_count(F.col("s0")) == 0, 2)
        .when(F.bit_count(F.col("s0")) == 1, 1)
        .otherwise(2)
    )
    terms = (
        chans.join(
            F.broadcast(sv),
            (F.col("s0").bitwiseAND(F.expr("shiftleft(1, b)")) == 0),
        )
        .join(
            F.broadcast(svb),
            F.col("s1") == F.col("s0").bitwiseOR(F.expr("shiftleft(1, b)")),
        )
        .groupBy("channel")
        .agg(
            F.sum(weight * (F.col("v1") - F.col("v0")))
            .cast("long")
            .alias("phi_x6")
        )
    )
    tot = masks.agg(F.count("*").cast("long").alias("n_conv"))
    return terms.crossJoin(F.broadcast(tot)).select(
        "channel",
        "phi_x6",
        (F.col("phi_x6").cast("double") / 6.0).alias("shapley_conversions"),
        (F.col("phi_x6").cast("double") / (6.0 * F.col("n_conv"))).alias(
            "shapley_share"
        ),
        "n_conv",
    )



# --- log-rank survival test (round 7) ----------------------------------------------
@register(
    "logrank_test",
    oracle="""
    WITH spans AS (
        SELECT CASE WHEN (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':exp42'), 1, 8))::BIGINT)
                         % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               date_diff('day', MIN(ts), MAX(ts)) AS t
        FROM events GROUP BY user_id
    ),
    hist AS (
        SELECT arm, t, CAST(COUNT(*) AS BIGINT) AS d
        FROM spans GROUP BY arm, t
    ),
    times AS (SELECT DISTINCT t FROM hist),
    atrisk AS (
        SELECT tm.t,
               CAST(COALESCE(SUM(CASE WHEN h.arm = 'A' THEN h.d END), 0)
                    AS BIGINT) AS n1,
               CAST(COALESCE(SUM(h.d), 0) AS BIGINT) AS n,
               CAST(COALESCE(SUM(CASE WHEN h.arm = 'A' AND h.t = tm.t
                                      THEN h.d END), 0) AS BIGINT) AS d1,
               CAST(COALESCE(SUM(CASE WHEN h.t = tm.t THEN h.d END), 0)
                    AS BIGINT) AS d
        FROM times tm JOIN hist h ON h.t >= tm.t
        GROUP BY tm.t
    ),
    terms AS (
        SELECT t, d1,
               CAST(d AS DOUBLE) * n1 / n AS e1,
               CASE WHEN n > 1 THEN
                    CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                      * (1.0 - CAST(n1 AS DOUBLE) / n)
                      * (n - d) / (n - 1)
               ELSE 0.0 END AS v
        FROM atrisk WHERE d > 0
    ),
    folded AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
               CAST(SUM(d1) AS BIGINT) AS o1,
               (SELECT list_reduce(list(e1 ORDER BY t), (a, b) -> a + b)
                FROM terms) AS e1_sum,
               (SELECT list_reduce(list(v ORDER BY t), (a, b) -> a + b)
                FROM terms) AS v_sum
        FROM terms
    )
    SELECT n_times, o1, e1_sum, v_sum,
           (o1 - e1_sum) / sqrt(v_sum) AS z_score
    FROM folded
    """,
    tags=("events", "survival_analysis", "logrank", "hypothesis_test"),
)
def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK test comparing user lifespan (activity span) survival
    between the standard md5 experiment arms — the survival-analysis
    member of the A/B readout family (two_proportion_ztest compares a
    point conversion; this compares the WHOLE time-to-churn curve,
    weighting each distinct event time by its hypergeometric
    expectation E₁ₜ = dₜ·n₁ₜ/nₜ and variance). Computed entirely on
    the (arm × lifespan-day) HISTOGRAM: at-risk counts are tail sums
    over ≤|distinct days| rows (the user_survival_curve shape), and
    the per-time expectation/variance terms — deterministic doubles —
    fold in EVENT-TIME ORDER on both engines (the anova discipline),
    so O₁, E₁, V and the z statistic all value-hash. The p-value is
    one erf() away client-side (the repo-wide log/erf-no line).

    Scale notes (100 TB): one user agg, one tiny histogram,
    histogram-sized joins — nothing scales with events."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    e = load_table(spark, sf_dir, "events")
    arm = (
        F.when(
            h32(F.concat(F.col("user_id").cast("string"), F.lit(":exp42")))
            % 2
            == 0,
            "A",
        )
        .otherwise("B")
        .alias("arm")
    )
    spans = e.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("t")
    ).select(arm, "t")
    hist = spans.groupBy("arm", "t").agg(F.count("*").cast("long").alias("d"))
    times = hist.select("t").distinct().select(F.col("t").alias("tt"))
    atrisk = (
        times.join(F.broadcast(hist), F.col("t") >= F.col("tt"))
        .groupBy("tt")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("arm") == "A", F.col("d"))), F.lit(0)
            )
            .cast("long")
            .alias("n1"),
            F.sum("d").cast("long").alias("n"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("arm") == "A") & (F.col("t") == F.col("tt")),
                        F.col("d"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("d1"),
            F.coalesce(
                F.sum(F.when(F.col("t") == F.col("tt"), F.col("d"))),
                F.lit(0),
            )
            .cast("long")
            .alias("dt"),
        )
    )
    n1d = F.col("n1").cast("double")
    nd = F.col("n").cast("double")
    terms = atrisk.filter(F.col("dt") > 0).select(
        F.col("tt").alias("t"),
        "d1",
        (F.col("dt").cast("double") * F.col("n1") / F.col("n")).alias("e1"),
        F.when(
            F.col("n") > 1,
            F.col("dt").cast("double")
            * (n1d / nd)
            * (1.0 - n1d / nd)
            * (F.col("n") - F.col("dt"))
            / (F.col("n") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
    )
    folded = terms.agg(
        F.count("*").cast("long").alias("n_times"),
        F.sum("d1").cast("long").alias("o1"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("t"), F.col("e1").alias("x")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["x"],
        ).alias("e1_sum"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("t"), F.col("v").alias("x")))
            ),
            F.lit(0.0),
            lambda a, x: a + x["x"],
        ).alias("v_sum"),
    )
    return folded.select(
        "n_times",
        "o1",
        "e1_sum",
        "v_sum",
        ((F.col("o1") - F.col("e1_sum")) / F.sqrt(F.col("v_sum"))).alias(
            "z_score"
        ),
    )


# --- index of dispersion (round 7) ----------------------------------------------
@register(
    "dispersion_index",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(sx AS DOUBLE) / n AS mean_daily,
           CAST(n * sxx - sx * sx AS DOUBLE) / ((n - 1.0) * sx)
               AS dispersion_index,
           CAST(n * sxx - sx * sx AS DOUBLE) / ((n - 1.0) * sx) > 1.0
               AS overdispersed
    FROM s
    """,
    tags=("events", "statistics", "poisson", "overdispersion"),
)
def dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX OF DISPERSION (variance-to-mean ratio of daily counts) per
    event type — the one-number Poisson-assumption audit: D≈1 means
    arrivals are Poisson (capacity math and Poisson-based anomaly
    thresholds apply); D>1 means burst clustering
    (interarrival_burstiness sees the same phenomenon in gap space;
    poisson_bootstrap_ci RELIES on the assumption this query checks).
    D = (nΣx² − (Σx)²)/((n−1)·Σx) — exact integer sufficient
    statistics, one fixed-order division, and even the verdict boolean
    hashes.

    Scale notes (100 TB): one (type, day) partial agg, one tiny
    rollup; nothing else."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    s = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    d_idx = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / ((F.col("n") - 1.0) * F.col("sx"))
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        (F.col("sx").cast("double") / F.col("n")).alias("mean_daily"),
        d_idx.alias("dispersion_index"),
        (d_idx > 1.0).alias("overdispersed"),
    )


# --- capture-recapture population estimate (round 7) --------------------------------
@register(
    "capture_recapture_estimate",
    oracle="""
    WITH mx AS (SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events),
    flags AS (
        SELECT e.user_id,
               MAX(CASE WHEN e.ts < mx.lo + (mx.hi - mx.lo) / 2
                        THEN 1 ELSE 0 END) AS s1,
               MAX(CASE WHEN e.ts >= mx.lo + (mx.hi - mx.lo) / 2
                        THEN 1 ELSE 0 END) AS s2
        FROM events e, mx GROUP BY e.user_id
    ),
    c AS (
        SELECT CAST(SUM(s1) AS BIGINT) AS n1,
               CAST(SUM(s2) AS BIGINT) AS n2,
               CAST(SUM(s1 * s2) AS BIGINT) AS m,
               CAST(COUNT(*) AS BIGINT) AS observed
        FROM flags
    )
    SELECT n1, n2, m, observed,
           CAST(n1 AS DOUBLE) * n2 / m AS lincoln_petersen,
           (CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0 AS chapman
    FROM c
    """,
    tags=("events", "statistics", "capture_recapture", "population"),
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE (Lincoln-Petersen + Chapman) population
    estimation: treat the first and second halves of the observation
    window as two independent sightings of the user population; the
    overlap rate estimates the UNSEEN remainder — N̂ = n₁n₂/m. The
    ecology estimator is exactly what a data platform uses to answer
    "how many distinct entities exist, not just how many we saw"
    (dedup completeness, total-audience sizing — the model-based
    counterpart of the sketch family's exact-observed counts). Both
    estimators are single fixed-order divisions over exact integers;
    observed ≤ N̂ is the sanity invariant.

    Scale notes (100 TB): one per-user conditional agg (the window
    midpoint broadcasts), one 1-row rollup."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    mid = F.col("lo") + ((F.col("hi") - F.col("lo")) / 2)
    flags = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("ts") < mid, 1).otherwise(0)).alias("s1"),
            F.max(F.when(F.col("ts") >= mid, 1).otherwise(0)).alias("s2"),
        )
    )
    c = flags.agg(
        F.sum("s1").cast("long").alias("n1"),
        F.sum("s2").cast("long").alias("n2"),
        F.sum(F.col("s1") * F.col("s2")).cast("long").alias("m"),
        F.count("*").cast("long").alias("observed"),
    )
    return c.select(
        "n1",
        "n2",
        "m",
        "observed",
        (F.col("n1").cast("double") * F.col("n2") / F.col("m")).alias(
            "lincoln_petersen"
        ),
        (
            ((F.col("n1") + 1).cast("double") * (F.col("n2") + 1))
            / (F.col("m") + 1)
            - 1.0
        ).alias("chapman"),
    )


# --- survival concordance index (round 7) -------------------------------------------
CIDX_BINS = 10


@register(
    "concordance_index",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               date_diff('day', MIN(ts), MAX(ts)) AS t,
               CAST(COUNT(*) AS BIGINT) AS activity
        FROM events GROUP BY user_id
    ),
    binned AS (
        SELECT t,
               CAST(LEAST(FLOOR(activity * {CIDX_BINS} /
                                (1 + (SELECT MAX(activity) FROM u))),
                          {CIDX_BINS - 1}) AS BIGINT) AS s
        FROM u
    ),
    cells AS (SELECT s, t, CAST(COUNT(*) AS BIGINT) AS m
              FROM binned GROUP BY s, t),
    tvals AS (SELECT DISTINCT t FROM cells),
    dense AS (
        SELECT b.s, tv.t,
               CAST(COALESCE(SUM(c.m), 0) AS BIGINT) AS cum_lt
        FROM (SELECT unnest(range(0, {CIDX_BINS})) AS s) b
        CROSS JOIN tvals tv
        LEFT JOIN cells c ON c.s = b.s AND c.t < tv.t
        GROUP BY b.s, tv.t
    ),
    conc AS (
        SELECT CAST(SUM(ce.m * d.cum_lt) AS BIGINT) AS c_pairs
        FROM cells ce JOIN dense d ON d.t = ce.t AND d.s < ce.s
    ),
    disc AS (
        SELECT CAST(SUM(ce.m * d.cum_lt) AS BIGINT) AS d_pairs
        FROM cells ce JOIN dense d ON d.t = ce.t AND d.s > ce.s
    ),
    ties AS (
        SELECT CAST(SUM(ce.m * d.cum_lt) AS BIGINT) AS t_pairs
        FROM cells ce JOIN dense d ON d.t = ce.t AND d.s = ce.s
    )
    SELECT (SELECT CAST(SUM(m) AS BIGINT) FROM cells) AS n_users,
           c_pairs, d_pairs, t_pairs AS tied_score_pairs,
           CAST(c_pairs - d_pairs AS DOUBLE)
             / (c_pairs + d_pairs + t_pairs) AS somers_d,
           (c_pairs + 0.5 * t_pairs)
             / CAST(c_pairs + d_pairs + t_pairs AS DOUBLE) AS c_index
    FROM conc, disc, ties
    """,
    tags=("events", "survival_analysis", "concordance", "ml_eval"),
)
def concordance_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival CONCORDANCE INDEX (Harrell's C) of activity as a
    longevity predictor: among user pairs with different lifespans,
    how often does the more-active user live longer? C = (conc +
    ½·score-ties)/(comparable); Somers' D = (C−D)/(comparable) rides
    along. Scores are DECILE-BINNED ({CIDX_BINS} levels, documented
    quantization — the standard trick that turns the O(n²) pairwise
    definition into contingency-table arithmetic): concordant /
    discordant / tied masses come from the (bin × lifespan) cell table
    joined against per-bin cumulative-below-t counts — every count an
    exact integer, sort cost bounded by |bins|·|distinct lifespans|,
    never user pairs. Time-tied pairs are non-comparable and excluded
    by the strict t' < t cumulative, exactly per Harrell.

    Scale notes (100 TB): one user agg, one bounded dense grid
    ({CIDX_BINS}·|t|), three cell joins on (t, bin) — the c-index for
    a billion users costs the same tail as for a thousand."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("t"),
        F.count("*").cast("long").alias("activity"),
    )
    mx = u.agg(F.max("activity").alias("mx"))
    binned = u.crossJoin(F.broadcast(mx)).select(
        "t",
        F.least(
            F.floor(F.col("activity") * CIDX_BINS / (1 + F.col("mx"))),
            F.lit(CIDX_BINS - 1).cast("long"),
        )
        .cast("long")
        .alias("s"),
    )
    cells = binned.groupBy("s", "t").agg(F.count("*").cast("long").alias("m"))
    tvals = cells.select("t").distinct()
    bins = spark.range(0, CIDX_BINS).select(F.col("id").alias("s"))
    dense = (
        bins.crossJoin(tvals.withColumnRenamed("t", "tv"))
        .join(
            cells.select(
                F.col("s").alias("cs"), F.col("t").alias("ct"), "m"
            ),
            (F.col("cs") == F.col("s")) & (F.col("ct") < F.col("tv")),
            "left",
        )
        .groupBy("s", "tv")
        .agg(F.coalesce(F.sum("m"), F.lit(0)).cast("long").alias("cum_lt"))
    )

    def mass(cond):
        return (
            cells.join(
                dense.select(
                    F.col("s").alias("ds"),
                    F.col("tv"),
                    F.col("cum_lt"),
                ),
                (F.col("tv") == F.col("t")) & cond,
            )
            .agg(F.sum(F.col("m") * F.col("cum_lt")).cast("long"))
        )

    c_pairs = mass(F.col("ds") < F.col("s")).withColumnRenamed(
        "CAST(sum((m * cum_lt)) AS BIGINT)", "c_pairs"
    )
    d_pairs = mass(F.col("ds") > F.col("s")).withColumnRenamed(
        "CAST(sum((m * cum_lt)) AS BIGINT)", "d_pairs"
    )
    t_pairs = mass(F.col("ds") == F.col("s")).withColumnRenamed(
        "CAST(sum((m * cum_lt)) AS BIGINT)", "t_pairs"
    )
    n_users = cells.agg(F.sum("m").cast("long").alias("n_users"))
    all1 = (
        n_users.crossJoin(F.broadcast(c_pairs))
        .crossJoin(F.broadcast(d_pairs))
        .crossJoin(F.broadcast(t_pairs))
    )
    comparable = (
        F.col("c_pairs") + F.col("d_pairs") + F.col("t_pairs")
    ).cast("double")
    return all1.select(
        "n_users",
        "c_pairs",
        "d_pairs",
        F.col("t_pairs").alias("tied_score_pairs"),
        (
            (F.col("c_pairs") - F.col("d_pairs")).cast("double") / comparable
        ).alias("somers_d"),
        ((F.col("c_pairs") + 0.5 * F.col("t_pairs")) / comparable).alias(
            "c_index"
        ),
    )


# --- propensity-stratified ATE (round 7, session 4) -------------------------
# Deterministic confounded exposure: treatment probability rises with
# account balance (the md5 coin is compared against 200 + idx(acctbal)
# out of 1000), so the naive treated-vs-control difference is biased by
# balance and stratifying on the (known) propensity index removes
# exactly that bias — Rosenbaum & Rubin (1983) subclassification.
_ATE_STRATA = 5


@register(
    "propensity_stratified_ate",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               LEAST(GREATEST((CAST(round(c_acctbal * 100) AS BIGINT)
                                   + 100000) // 2200, 0), 500) AS idx
        FROM customer
    ),
    spend AS (
        SELECT c.c_custkey, c.idx,
               CASE WHEN (('0x' || substr(md5('trt-' || c.c_custkey), 1, 8))::BIGINT)
                        % 1000 < 200 + c.idx THEN 1 ELSE 0 END AS t,
               COALESCE(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                   AS y_cents
        FROM cust c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.idx
    ),
    strat AS (
        SELECT LEAST(idx // 100, 4) AS stratum, t, y_cents FROM spend
    ),
    per_s AS (
        SELECT stratum,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(t) AS BIGINT) AS n_treat,
               CAST(COUNT(*) - SUM(t) AS BIGINT) AS n_control,
               CAST(SUM(CASE WHEN t = 1 THEN y_cents ELSE 0 END) AS DOUBLE)
                   / (100.0 * SUM(t)) AS mean_treat,
               CAST(SUM(CASE WHEN t = 0 THEN y_cents ELSE 0 END) AS DOUBLE)
                   / (100.0 * (COUNT(*) - SUM(t))) AS mean_control
        FROM strat GROUP BY stratum
        HAVING SUM(t) > 0 AND SUM(t) < COUNT(*)
    ),
    g AS (
        SELECT CAST(ROUND(SUM(CAST(n_total * (mean_treat - mean_control)
                                    AS DECIMAL(38,10))), 2) AS DOUBLE)
                   / CAST(SUM(n_total) AS DOUBLE) AS ate
        FROM per_s
    )
    SELECT CAST(p.stratum AS BIGINT) AS stratum, p.n_total, p.n_treat,
           p.n_control, p.mean_treat, p.mean_control,
           p.mean_treat - p.mean_control AS diff, g.ate AS ate
    FROM per_s p, g
    """,
    tags=("events", "causal", "propensity", "stratified_ate",
          "observational"),
)
def propensity_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect by propensity-score subclassification
    (Rosenbaum–Rubin) — the observational-causal estimator the existing
    family (diff_in_diff, cuped_variance_reduction,
    quantile_treatment_effect) lacks: exposure here is deliberately
    CONFOUNDED with account balance, and the estimator removes the bias
    by comparing treated vs control only WITHIN strata of the propensity
    index, then weighting strata by population share. Propensity is a
    fixed linear index of the covariate (the linear_classifier_inference
    'pretrained weights' pattern — scoring is a broadcast-free map
    expression, no model fit in the hot path); strata are fixed-width
    index bands, so assignment is pure integer arithmetic. Strata
    missing either arm drop out with weights renormalized (the standard
    common-support rule), enforced by HAVING on both arm counts.
    Outcome sums stay in integer cents; stratum means are single double
    divisions; the ATE's {_ATE_STRATA}-term weighted sum goes through
    exact decimal with the dsum 2-decimal re-round (its unscaled value
    tops 2^53, the documented 1-ulp conversion trap) so engine
    summation order and final conversion cannot differ. Scale: one
    orders→customer aggregate (shuffle on custkey), a 5-group reduce,
    and a broadcast of the 1-row ATE back onto the stratum table."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.least(
            F.greatest(
                F.expr(
                    "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000)"
                    " div 2200"
                ),
                F.lit(0),
            ),
            F.lit(500),
        ).alias("idx"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "idx")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("y_cents"))
        .select(
            "idx",
            (
                h32(F.concat_ws("-", F.lit("trt"), F.col("c_custkey"))) % 1000
                < 200 + F.col("idx")
            )
            .cast("int")
            .alias("t"),
            "y_cents",
        )
    )
    strat = spend.select(
        F.least(F.expr("idx div 100"), F.lit(4)).cast("long").alias("stratum"),
        "t",
        "y_cents",
    )
    per_s = (
        strat.groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum("t").cast("long").alias("n_treat"),
            (F.count("*") - F.sum("t")).cast("long").alias("n_control"),
            (
                F.sum(F.when(F.col("t") == 1, F.col("y_cents")).otherwise(0))
                .cast("double")
                / (100.0 * F.sum("t"))
            ).alias("mean_treat"),
            (
                F.sum(F.when(F.col("t") == 0, F.col("y_cents")).otherwise(0))
                .cast("double")
                / (100.0 * (F.count("*") - F.sum("t")))
            ).alias("mean_control"),
        )
        .filter((F.col("n_treat") > 0) & (F.col("n_control") > 0))
    )
    g = per_s.agg(
        (
            dsum(
                F.col("n_total")
                * (F.col("mean_treat") - F.col("mean_control"))
            )
            / F.sum("n_total").cast("double")
        ).alias("ate")
    )
    return per_s.crossJoin(F.broadcast(g)).select(
        "stratum",
        "n_total",
        "n_treat",
        "n_control",
        "mean_treat",
        "mean_control",
        (F.col("mean_treat") - F.col("mean_control")).alias("diff"),
        "ate",
    )


# --- off-policy evaluation via IPS / SNIPS (round 7, session 4) -------------
_IPS_COHORTS = 16


@register(
    "offpolicy_ips_evaluation",
    oracle=f"""
    WITH ev AS (
        SELECT user_id % {_IPS_COHORTS} AS cohort, event_type AS action,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
    prop AS (
        SELECT action, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ev GROUP BY action
    ),
    best AS (
        SELECT cohort, action AS pi_action FROM (
            SELECT cohort, action,
                   ROW_NUMBER() OVER (
                       PARTITION BY cohort
                       ORDER BY CAST(SUM(cents) AS DOUBLE)
                                    / COUNT(*) DESC, action) AS rn
            FROM ev GROUP BY cohort, action
        ) WHERE rn = 1
    ),
    w AS (
        SELECT e.cents, p.cnt,
               CASE WHEN e.action = b.pi_action THEN 1 ELSE 0 END AS m
        FROM ev e
        JOIN best b ON b.cohort = e.cohort
        JOIN prop p ON p.action = e.action
    )
    SELECT n.n AS n_logged,
           CAST(SUM(m) AS BIGINT) AS n_matched,
           CAST(SUM(CAST(cents AS DECIMAL(38,10))) AS DOUBLE)
               / (100.0 * n.n) AS logged_mean_value,
           CAST(SUM(CAST(m * cents / (100.0 * cnt) AS DECIMAL(38,10)))
                AS DOUBLE) AS ips_value_estimate,
           CAST(SUM(CAST(m * cents / (100.0 * cnt) AS DECIMAL(38,10)))
                AS DOUBLE)
               / (CAST(SUM(CAST(m * 1.0 / cnt AS DECIMAL(38,10)))
                       AS DOUBLE) / n.n)
               / n.n AS snips_value_estimate
    FROM w, n GROUP BY n.n
    """,
    tags=("events", "causal", "off_policy", "ips", "bandit_replay"),
)
def offpolicy_ips_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from
    logged interaction data — inverse-propensity scoring (Horvitz–
    Thompson; Li et al. WSDM'11 bandit replay) plus its self-normalized
    variant (SNIPS, Swaminathan & Joachims NeurIPS'15): the estimator a
    recommendation/curation team runs over petabytes of logs to score a
    NEW policy without deploying it. Logged actions are the observed
    event types with propensities taken as their empirical log shares
    (estimated-propensity IPS); the target policy is 'play each
    cohort's historically best-mean-value action' (cohort = user_id mod
    {_IPS_COHORTS}), fitted in a first aggregate and broadcast back as
    a {_IPS_COHORTS}-row map — policy evaluation as two aggregates and
    two broadcast joins, no per-row Python. Rewards stay in integer
    cents; per-row IPS terms are single exact double expressions
    (cents/(100·cnt)) accumulated through full-scale decimal so
    summation order cannot differ; SNIPS divides the same sums once at
    the end. IPS < logged mean here is informative, not a bug: the
    logged value IS the behavior policy's value, the target policy
    matches only Σ_a p̂(a)·1[a=π] of the logs, and SNIPS corrects
    IPS's weight-mass deficit — all three numbers in one row is
    exactly the report an off-policy gate wants."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % _IPS_COHORTS).alias("cohort"),
        F.col("event_type").alias("action"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    n = ev.agg(F.count("*").cast("long").alias("n"))
    prop = ev.groupBy("action").agg(F.count("*").cast("long").alias("cnt"))
    wrn = W.partitionBy("cohort").orderBy(
        (F.sum("cents").cast("double") / F.count("*")).desc(), F.col("action")
    )
    # window-over-aggregate: rank cohort actions by mean value
    best = (
        ev.groupBy("cohort", "action")
        .agg(
            F.sum("cents").alias("sc"),
            F.count("*").alias("nc"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("cohort").orderBy(
                    (F.col("sc").cast("double") / F.col("nc")).desc(),
                    F.col("action"),
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cohort", F.col("action").alias("pi_action"))
    )
    w = (
        ev.join(F.broadcast(best), "cohort")
        .join(F.broadcast(prop), "action")
        .select(
            "cents",
            "cnt",
            (F.col("action") == F.col("pi_action")).cast("int").alias("m"),
        )
    )

    def _decsum(col):
        return F.sum(col.cast("decimal(38,10)")).cast("double")

    ips_term = F.col("m") * F.col("cents") / (100.0 * F.col("cnt"))
    wgt_term = F.col("m") * 1.0 / F.col("cnt")
    agg = w.crossJoin(F.broadcast(n)).groupBy("n").agg(
        F.sum("m").cast("long").alias("n_matched"),
        (_decsum(F.col("cents")) / (100.0 * F.col("n"))).alias(
            "logged_mean_value"
        ),
        _decsum(ips_term).alias("ips_value_estimate"),
        (
            _decsum(ips_term)
            / (_decsum(wgt_term) / F.col("n"))
            / F.col("n")
        ).alias("snips_value_estimate"),
    )
    return agg.select(
        F.col("n").alias("n_logged"),
        "n_matched",
        "logged_mean_value",
        "ips_value_estimate",
        "snips_value_estimate",
    )


# --- differentially-private counts, geometric mechanism (round 7, s4) -------
# Two-sided geometric (discrete Laplace) noise with eps = 1, sens = 1:
# P(k) ∝ alpha^|k|, alpha = e^-1. The inverse CDF is precomputed in
# Python as 32-bit integer thresholds (truncated at |k| <= 20, whose
# excluded tail mass < 4e-9 — the standard bounded-geometric variant),
# so the draw is ONE md5 + integer comparisons, bit-identical in both
# engines; no transcendental function appears in either plan.
import math as _math

_DP_EPS = 1.0
_DP_K = 20


def _dp_thresholds() -> list[tuple[int, int]]:
    a = _math.exp(-_DP_EPS)
    ks = list(range(-_DP_K, _DP_K + 1))
    mass = [(1 - a) / (1 + a) * a ** abs(k) for k in ks]
    total = sum(mass)
    cum = 0.0
    out = []
    for k, m in zip(ks, mass):
        cum += m / total
        out.append((k, min(int(_math.ceil(cum * 4294967296.0)), 4294967296)))
    out[-1] = (ks[-1], 4294967296)
    return out


_DP_CASE_ARMS = " ".join(
    f"WHEN {{h}} < {t} THEN {k}" for k, t in _dp_thresholds()
)


def _dp_noise(h_expr: str) -> str:
    return f"(CASE {_DP_CASE_ARMS.format(h=h_expr)} ELSE {_DP_K} END)"


@register(
    "dp_geometric_noise_counts",
    oracle=f"""
    WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY event_type
    )
    SELECT event_type, true_count,
           CAST({_dp_noise("(('0x' || substr(md5('dp-' || event_type), 1, 8))::BIGINT)")}
                AS BIGINT) AS noise,
           true_count
               + {_dp_noise("(('0x' || substr(md5('dp-' || event_type), 1, 8))::BIGINT)")}
               AS noisy_count
    FROM c
    """,
    tags=("events", "privacy", "differential_privacy",
          "geometric_mechanism"),
)
def dp_geometric_noise_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private event-type counts via the (bounded)
    two-sided geometric mechanism (Ghosh–Roughgarden–Sundararajan
    2009 — the discrete, utility-optimal counterpart of Laplace noise
    for counting queries): completes the privacy family
    (k_anonymity_audit / l_diversity_audit / t_closeness_audit audit
    the DATA; this protects the RELEASE). The geometric draw costs one
    md5 and a ladder of integer threshold comparisons — the inverse
    CDF lives in {2 * _DP_K + 1} Python-precomputed 32-bit literals
    shared by both engines, so no exp/log/random() enters either plan
    and the released counts value-hash exactly. Per-release noise is
    keyed on a release nonce + category ('dp-' || event_type here), the
    seeded-noise reproducibility a production DP pipeline wants for
    replayable releases. The audit deliberately emits true_count AND
    noise beside noisy_count — this query certifies the MECHANISM;
    a real release ships only noisy_count. Truncation at ±{_DP_K}
    excludes < 4e-9 probability mass. Scale: one partial-aggregated
    groupBy; noise is applied to the 5-row aggregate, not the corpus."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("true_count"))
    )
    h = "conv(substr(md5(concat('dp-', event_type)), 1, 8), 16, 10)"
    noise = F.expr(_dp_noise(f"CAST({h} AS BIGINT)")).cast("long")
    return c.select(
        "event_type",
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).alias("noisy_count"),
    )


# --- revenue-recognition proration (round 7, session 4) ---------------------
@register(
    "revenue_recognition_proration",
    oracle=f"""
    WITH li AS (
        SELECT CAST(o.o_orderdate AS DATE) AS d0,
               CAST(l.l_shipdate AS DATE) AS d1,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ),
    m AS (
        SELECT d0, d1, cents,
               CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS total_days,
               unnest(generate_series(date_trunc('month', d0),
                                      date_trunc('month', d1),
                                      INTERVAL 1 MONTH)) AS month_start
        FROM li
    ),
    o AS (
        SELECT CAST(month_start AS DATE) AS month, cents, total_days,
               CAST(date_diff('day',
                        GREATEST(CAST(month_start AS DATE), d0),
                        LEAST(CAST(month_start + INTERVAL 1 MONTH AS DATE),
                              d1 + 1)) AS BIGINT) AS overlap_days
        FROM m
    )
    SELECT month,
           CAST(COUNT(*) AS BIGINT) AS n_line_months,
           CAST(SUM(CAST(cents * overlap_days AS DECIMAL(38,10))
                    / total_days) AS DECIMAL(38,2))::DOUBLE / 100.0
               AS recognized_revenue
    FROM o GROUP BY month
    """,
    tags=("events", "finance", "proration", "interval_explode",
          "revenue_recognition"),
)
def revenue_recognition_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deferred-revenue recognition schedule (ASC 606-style straight-
    line proration): each line item's discounted price is earned evenly
    over the days from order to ship, and the monthly P&L recognizes
    each month's day-share — the interval-to-calendar allocation every
    subscription/fulfillment ledger needs, which no single GROUP BY can
    express because one row funds MANY months. The month explode is
    sequence() over month starts (bounded fan-out ≈ service-period
    months, typically 1-4 here — not a day-level explode), overlap days
    are pure integer date arithmetic, and each line-month's share is
    ONE double division (cents·overlap exact in BIGINT) accumulated
    through exact decimal with the 2-decimal re-round — so the monthly
    ledger value-hashes despite summing hundreds of thousands of
    fractional terms. Conservation (Σ months = Σ cents) holds to the
    decimal rounding and is what the oracle certifies row by row.
    Scale: one orders⋈lineitem join (orderkey-partitioned), ~3× row
    expansion, one month-keyed partial agg."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderdate").cast("date").alias("d0"),
            F.col("l_shipdate").cast("date").alias("d1"),
            F.expr(
                "CAST(round(l_extendedprice * (1 - l_discount) * 100)"
                " AS BIGINT)"
            ).alias("cents"),
        )
    )
    m = li.select(
        "d0",
        "d1",
        "cents",
        (F.datediff(F.col("d1"), F.col("d0")) + 1)
        .cast("long")
        .alias("total_days"),
        F.explode(
            F.sequence(
                F.date_trunc("month", F.col("d0")).cast("date"),
                F.date_trunc("month", F.col("d1")).cast("date"),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month_start"),
    )
    o = m.select(
        F.col("month_start").alias("month"),
        "cents",
        "total_days",
        F.datediff(
            F.least(
                F.add_months(F.col("month_start"), 1),
                F.date_add(F.col("d1"), 1),
            ),
            F.greatest(F.col("month_start"), F.col("d0")),
        )
        .cast("long")
        .alias("overlap_days"),
    )
    return o.groupBy("month").agg(
        F.count("*").cast("long").alias("n_line_months"),
        (
            F.sum(
                (F.col("cents") * F.col("overlap_days")).cast(
                    "decimal(38,10)"
                )
                / F.col("total_days")
            )
            .cast("decimal(38,2)")
            .cast("double")
            / 100.0
        ).alias("recognized_revenue"),
    )


# --- frequent sequential patterns, length 2 (round 7, session 4) ------------
_SEQ_MIN_SUPPORT = 50  # pattern must hold for at least this many users


@register(
    "frequent_sequence_pairs",
    oracle=f"""
    WITH ut AS (
        SELECT user_id, event_type,
               MIN(ts) AS first_ts, MAX(ts) AS last_ts
        FROM events GROUP BY user_id, event_type
    ),
    users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM events),
    pat AS (
        SELECT a.event_type AS first_type, b.event_type AS then_type,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id
         AND a.event_type <> b.event_type
         AND a.first_ts < b.last_ts
        GROUP BY 1, 2
    )
    SELECT p.first_type, p.then_type, p.support, u.n_users,
           CAST(p.support AS DOUBLE) / CAST(u.n_users AS DOUBLE)
               AS support_ratio
    FROM pat p, users u
    WHERE p.support >= {_SEQ_MIN_SUPPORT}
    """,
    tags=("events", "sequential_patterns", "prefixspan", "behavioral"),
)
def frequent_sequence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent length-2 SEQUENTIAL patterns — 'A, then later B' support
    across users (the GSP/PrefixSpan counting step, Srikant & Agrawal
    1996): unlike event_transition_matrix (ADJACENT transitions only),
    a pattern here allows any gap, which is what behavioral mining
    means by 'then' — error then purchase counts even with views in
    between. The trick that keeps it linear: 'some A occurs before
    some B' ⟺ min(ts of A) < max(ts of B), so the per-user sequence
    reduces to ONE (user, type) aggregate carrying first/last
    timestamps, and pattern support is a |types|²-bounded self-join on
    user — no sequence enumeration, no per-user Python, no quadratic
    event pairing. Support threshold {_SEQ_MIN_SUPPORT} mirrors the
    min-support pruning an Apriori pass would push down. Scale: one
    user×type aggregate (the corpus shuffle), then joins on user_id
    with ≤|types| rows per side."""
    ut = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
    )
    users = load_table(spark, sf_dir, "events").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    a = ut.select(
        "user_id",
        F.col("event_type").alias("first_type"),
        F.col("first_ts"),
    )
    b = ut.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("then_type"),
        F.col("last_ts"),
    )
    pat = (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("first_type") != F.col("then_type"))
            & (F.col("first_ts") < F.col("last_ts")),
        )
        .groupBy("first_type", "then_type")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= _SEQ_MIN_SUPPORT)
    )
    return pat.crossJoin(F.broadcast(users)).select(
        "first_type",
        "then_type",
        "support",
        "n_users",
        (
            F.col("support").cast("double") / F.col("n_users").cast("double")
        ).alias("support_ratio"),
    )


# --- propensity nearest-neighbor matching ATT (round 7, session 4) ----------
@register(
    "propensity_nn_matching_att",
    oracle="""
    WITH cust AS (
        SELECT c_custkey,
               LEAST(GREATEST((CAST(round(c_acctbal * 100) AS BIGINT)
                                   + 100000) // 2200, 0), 500) AS idx
        FROM customer
    ),
    spend AS (
        SELECT c.c_custkey, c.idx,
               CASE WHEN (('0x' || substr(md5('trt-' || c.c_custkey), 1, 8))::BIGINT)
                        % 1000 < 200 + c.idx THEN 1 ELSE 0 END AS t,
               COALESCE(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)), 0)
                   AS y_cents
        FROM cust c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.idx
    ),
    cmean AS (
        SELECT idx, CAST(COUNT(*) AS BIGINT) AS n_c,
               CAST(SUM(y_cents) AS BIGINT) AS s_c
        FROM spend WHERE t = 0 GROUP BY idx
    ),
    tidx AS (SELECT DISTINCT idx FROM spend WHERE t = 1),
    nearest AS (
        SELECT idx, c_idx FROM (
            SELECT t.idx, c.idx AS c_idx,
                   ROW_NUMBER() OVER (
                       PARTITION BY t.idx
                       ORDER BY abs(t.idx - c.idx), c.idx) AS rn
            FROM tidx t, cmean c
        ) WHERE rn = 1
    ),
    matched AS (
        SELECT s.y_cents,
               CAST(cm.s_c AS DOUBLE) / cm.n_c AS ctrl_mean,
               abs(s.idx - nn.c_idx) AS gap
        FROM spend s
        JOIN nearest nn ON nn.idx = s.idx
        JOIN cmean cm ON cm.idx = nn.c_idx
        WHERE s.t = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
           (SELECT CAST(SUM(n_c) AS BIGINT) FROM cmean) AS n_controls,
           CAST(SUM(y_cents) AS DOUBLE) / (100.0 * COUNT(*))
               AS mean_treated,
           CAST(ROUND(SUM(CAST(ctrl_mean AS DECIMAL(38,10))), 2) AS DOUBLE)
               / (100.0 * COUNT(*)) AS mean_matched_control,
           CAST(SUM(y_cents) AS DOUBLE) / (100.0 * COUNT(*))
               - CAST(ROUND(SUM(CAST(ctrl_mean AS DECIMAL(38,10))), 2)
                      AS DOUBLE) / (100.0 * COUNT(*)) AS att,
           CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS avg_match_gap
    FROM matched
    """,
    tags=("events", "causal", "propensity", "matching", "att",
          "observational"),
)
def propensity_nn_matching_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average treatment effect on the TREATED by nearest-neighbor
    propensity matching (with replacement) — the matching estimator
    beside propensity_stratified_ate's subclassification, sharing the
    SAME confounded-exposure setup so the two deconfounders can be
    compared head-to-head. The scale trick: matching is NOT a per-unit
    nearest-neighbor search over units — treated units at the same
    propensity index match identically, so the search runs over the
    ≤501-row DISTINCT-index tables (a broadcast-sized cross join +
    argmin), and each treated unit is matched to the MEAN control
    outcome at the matched index (exact-match radius form of 1-NN
    with replacement, deterministic by construction — no tie-broken
    unit sampling to replicate across engines). Outcome sums stay in
    integer cents; the per-treated control means accumulate through
    dsum's decimal discipline. avg_match_gap reports the propensity
    distance actually paid — the common-support diagnostic."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.least(
            F.greatest(
                F.expr(
                    "(CAST(round(c_acctbal * 100) AS BIGINT) + 100000)"
                    " div 2200"
                ),
                F.lit(0),
            ),
            F.lit(500),
        ).alias("idx"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "idx")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("y_cents"))
        .select(
            "idx",
            (
                h32(F.concat_ws("-", F.lit("trt"), F.col("c_custkey"))) % 1000
                < 200 + F.col("idx")
            )
            .cast("int")
            .alias("t"),
            "y_cents",
        )
    )
    cmean = (
        spend.filter(F.col("t") == 0)
        .groupBy("idx")
        .agg(
            F.count("*").cast("long").alias("n_c"),
            F.sum("y_cents").cast("long").alias("s_c"),
        )
    )
    tidx = spend.filter(F.col("t") == 1).select("idx").distinct()
    nearest = (
        tidx.crossJoin(
            F.broadcast(cmean.select(F.col("idx").alias("c_idx")))
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("idx").orderBy(
                    F.abs(F.col("idx") - F.col("c_idx")), F.col("c_idx")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("idx", "c_idx")
    )
    matched = (
        spend.filter(F.col("t") == 1)
        .join(F.broadcast(nearest), "idx")
        .join(
            F.broadcast(
                cmean.select(
                    F.col("idx").alias("c_idx"),
                    (F.col("s_c").cast("double") / F.col("n_c")).alias(
                        "ctrl_mean"
                    ),
                )
            ),
            "c_idx",
        )
        .select(
            "y_cents",
            "ctrl_mean",
            F.abs(F.col("idx") - F.col("c_idx")).alias("gap"),
        )
    )
    n_controls = cmean.agg(F.sum("n_c").cast("long").alias("n_controls"))
    mt = F.sum("y_cents").cast("double") / (100.0 * F.count("*"))
    mc = dsum("ctrl_mean") / (100.0 * F.count("*"))
    return (
        matched.crossJoin(F.broadcast(n_controls))
        .groupBy("n_controls")
        .agg(
            F.count("*").cast("long").alias("n_treated"),
            mt.alias("mean_treated"),
            mc.alias("mean_matched_control"),
            (mt - mc).alias("att"),
            (F.sum("gap").cast("double") / F.count("*")).alias(
                "avg_match_gap"
            ),
        )
        .select(
            "n_treated",
            "n_controls",
            "mean_treated",
            "mean_matched_control",
            "att",
            "avg_match_gap",
        )
    )


# --- cumulative gains / lift by model-score decile (round 8) -----------------
@register(
    "lift_gains_by_decile",
    oracle="""
    WITH peruser AS (
        SELECT user_id,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
                   AS views,
               CAST(CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase')
                              > 0 THEN 1 ELSE 0 END AS BIGINT) AS responder
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT responder,
               ROW_NUMBER() OVER (ORDER BY views DESC, user_id) AS rk,
               COUNT(*) OVER () AS n
        FROM peruser
    ),
    deciles AS (
        SELECT CAST((10 * rk + n - 1) // n AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(responder) AS BIGINT) AS n_responders
        FROM ranked GROUP BY 1
    ),
    cum AS (
        SELECT decile, n_users, n_responders,
               SUM(n_users) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_users,
               SUM(n_responders) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_responders,
               SUM(n_users) OVER () AS tot_users,
               SUM(n_responders) OVER () AS tot_responders
        FROM deciles
    )
    SELECT decile, n_users, n_responders,
           CAST(n_responders AS DOUBLE) / CAST(n_users AS DOUBLE)
               AS response_rate,
           CAST(cum_responders AS DOUBLE) / CAST(tot_responders AS DOUBLE)
               AS cum_gain,
           (CAST(cum_responders AS DOUBLE) / CAST(cum_users AS DOUBLE))
           / (CAST(tot_responders AS DOUBLE) / CAST(tot_users AS DOUBLE))
               AS cum_lift
    FROM cum
    """,
    tags=("events", "model_scoring", "lift", "gains", "deciles",
          "bounded_window"),
)
def lift_gains_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains & lift table by score decile — the targeting
    report every propensity model ships with ('the top decile captures
    X% of responders at Y× lift'). Score = per-user view count (the
    stand-in propensity), response = any purchase. The global decile
    assignment needs a corpus-wide rank over users: it comes from
    bucketed_order_scan (score-value buckets rank in parallel, tiny
    offset table broadcasts back — for tie-heavy integer scores the
    id-range sub-bucket trick from id_gap_islands composes on top),
    NEVER a single-task window; decile = ⌈10·rank/N⌉ in pure integer
    arithmetic. The cumulative sweep then runs over the 10-row decile
    table (bounded_window). Rates and lifts are single divisions of
    exact BIGINTs."""
    from beam_pyspark_runner_spark.functions.ordered import (
        bucketed_order_scan,
    )

    e = load_table(spark, sf_dir, "events")
    peruser = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("long")
        .alias("views"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("responder"),
    )
    ranked = bucketed_order_scan(
        peruser,
        F.col("views"),
        [F.col("views").desc(), F.col("user_id")],
        rank_name="rk",
        descending_bucket=True,
    )
    n = peruser.agg(F.count("*").cast("long").alias("n"))
    deciles = (
        ranked.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("(10 * rk + n - 1) div n").cast("long").alias("decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("responder").cast("long").alias("n_responders"),
        )
    )
    wd = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    cum = deciles.select(
        "decile",
        "n_users",
        "n_responders",
        F.sum("n_users").over(wd).alias("cum_users"),
        F.sum("n_responders").over(wd).alias("cum_responders"),
        F.sum("n_users").over(wall).alias("tot_users"),
        F.sum("n_responders").over(wall).alias("tot_responders"),
    )
    return cum.select(
        "decile",
        "n_users",
        "n_responders",
        (
            F.col("n_responders").cast("double")
            / F.col("n_users").cast("double")
        ).alias("response_rate"),
        (
            F.col("cum_responders").cast("double")
            / F.col("tot_responders").cast("double")
        ).alias("cum_gain"),
        (
            (
                F.col("cum_responders").cast("double")
                / F.col("cum_users").cast("double")
            )
            / (
                F.col("tot_responders").cast("double")
                / F.col("tot_users").cast("double")
            )
        ).alias("cum_lift"),
    )


# --- semi-additive last-balance with forward fill (round 8) -----------------
@register(
    "semi_additive_last_balance",
    oracle="""
    WITH pts AS (
        SELECT user_id, ts, event_id, value,
               date_trunc('day', ts) AS day
        FROM events
    ),
    last_in_month AS (
        SELECT user_id, day, value AS bal FROM (
            SELECT user_id, day, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, day
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM pts
        ) WHERE rn = 1
    ),
    days AS (SELECT DISTINCT day FROM pts),
    users AS (SELECT DISTINCT user_id FROM pts),
    spine AS (SELECT u.user_id, d.day FROM users u CROSS JOIN days d),
    filled AS (
        SELECT s.user_id, s.day,
               LAST_VALUE(l.bal IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS bal
        FROM spine s LEFT JOIN last_in_month l
          ON l.user_id = s.user_id AND l.day = s.day
    )
    SELECT CAST(day AS DATE) AS day,
           CAST(COUNT(bal) AS BIGINT) AS n_users_known,
           CAST(ROUND(SUM(CAST((bal) AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS total_balance
    FROM filled GROUP BY day
    """,
    tags=("events", "semi_additive", "forward_fill", "spine", "window"),
)
def semi_additive_last_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure done right: per-user LAST observed value in
    each month (row_number, ties broken by event_id), forward-filled
    across the day spine (LAST_VALUE IGNORE NULLS per user), then a
    per-day company total — the balance/inventory pattern where SUM
    across time is wrong but SUM across users at a point in time is
    the answer. Every window is PARTITIONED by user (parallel at any
    scale); the user×day spine is the standard densification grain
    (at 100 TB it is periodic-snapshot-fact-sized, not event-sized).
    The per-month float total goes through exact decimal (dsum
    semantics inlined in SQL)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value",
        F.date_trunc("day", "ts").alias("day"),
    )
    wlast = W.partitionBy("user_id", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last_in_month = (
        e.withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", F.col("value").alias("bal"))
    )
    days = e.select("day").distinct()
    users = e.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(days))
    wff = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = spine.join(last_in_month, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.last("bal", ignorenulls=True).over(wff).alias("bal"),
    )
    return filled.groupBy(F.col("day").cast("date").alias("day")).agg(
        F.count("bal").cast("long").alias("n_users_known"),
        dsum("bal").alias("total_balance"),
    )


# --- Allen interval-relation census (round 8) --------------------------------
_ALLEN_CASE = """CASE
    WHEN s1 = s2 AND e1 = e2 THEN 'equals'
    WHEN s1 = s2 AND e1 < e2 THEN 'starts'
    WHEN s1 = s2 AND e1 > e2 THEN 'started_by'
    WHEN e1 = e2 AND s1 > s2 THEN 'finishes'
    WHEN e1 = e2 AND s1 < s2 THEN 'finished_by'
    WHEN e1 = s2 THEN 'meets'
    WHEN e2 = s1 THEN 'met_by'
    WHEN e1 < s2 THEN 'precedes'
    WHEN e2 < s1 THEN 'preceded_by'
    WHEN s1 > s2 AND e1 < e2 THEN 'during'
    WHEN s1 < s2 AND e1 > e2 THEN 'contains'
    WHEN s1 < s2 THEN 'overlaps'
    ELSE 'overlapped_by' END"""


@register(
    "allen_interval_relations",
    oracle=f"""
    WITH spans AS (
        SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e
        FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
        FROM spans a JOIN spans b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
    )
    SELECT {_ALLEN_CASE} AS relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY relation
    """,
    tags=("events", "intervals", "allen_relations", "temporal_join"),
)
def allen_interval_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of Allen's 13 interval relations (Allen CACM'83) between
    per-user activity spans of different event types — the temporal-
    taxonomy report behind interval QA ('do sessions strictly precede
    purchases? does browsing CONTAIN checkout?'). Spans reduce per
    (user, type); the pair table is a user-keyed self-join
    (co-partitioned shuffle, never cross-user), and the relation is
    one fixed-order CASE over four timestamp comparisons, written
    identically in both engines (equality cases first so the
    classification is total and unambiguous). Output is the 13-way
    histogram. Scale: one agg + one keyed join; pairs per user are
    C(#types, 2) ≤ 10."""
    spans = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    a = spans.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("s1"),
        F.col("e").alias("e1"),
    )
    b = spans.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("s2"),
        F.col("e").alias("e2"),
    )
    pairs = a.join(b, "user_id").filter(F.col("type_a") < F.col("type_b"))
    return (
        pairs.select(F.expr(_ALLEN_CASE).alias("relation"))
        .groupBy("relation")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# --- time-decay multi-touch attribution (round 8) ----------------------------
_TD_WINDOW_DAYS = 28
_TD_HALFLIFE_SECONDS = 604800  # one week
_TD_HALFLIFE_US = _TD_HALFLIFE_SECONDS * 1_000_000


@register(
    "time_decay_attribution",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS pid, user_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT user_id, ts,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                   AS channel
        FROM events WHERE event_type = 'view'
    ),
    touches AS (
        SELECT p.pid, p.cents, v.channel,
               1.0 / CAST(1 << CAST((epoch_us(p.ts) - epoch_us(v.ts))
                                    // {_TD_HALFLIFE_US}
                                    AS BIGINT)
                          AS DOUBLE) AS w
        FROM p JOIN v
          ON v.user_id = p.user_id
         AND v.ts <= p.ts
         AND v.ts > p.ts - INTERVAL {_TD_WINDOW_DAYS} DAY
    ),
    norm AS (
        SELECT pid, cents,
               SUM(1.0) OVER () * 0 + SUM(w) OVER (PARTITION BY pid) AS tw,
               channel, w
        FROM touches
    ),
    credit AS (
        SELECT channel,
               (w / tw) AS frac,
               (w / tw) * CAST(cents AS DOUBLE) / 100.0 AS revenue_credit
        FROM norm
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(ROUND(SUM(CAST((frac) AS DECIMAL(38,10))), 2) AS DOUBLE)
               AS attributed_conversions,
           CAST(ROUND(SUM(CAST((revenue_credit) AS DECIMAL(38,10))), 2)
                AS DOUBLE) AS attributed_revenue
    FROM credit GROUP BY channel
    """,
    tags=("events", "attribution", "time_decay", "marketing", "json"),
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution with a weekly half-life:
    every view touch within {_TD_WINDOW_DAYS} days of a purchase earns
    weight 2^-(weeks since touch), weights normalize per purchase, and
    credit (conversions + revenue) rolls up by channel — the model
    between first_touch_attribution's all-or-nothing and
    markov_removal_attribution's counterfactual. Channel is the JSON
    props key modulo 10 (the cross-engine JSON idiom). Determinism by
    construction: the decay is 1/(1<<k) with integer k over
    MICROSECOND-exact epoch differences (unix_micros / epoch_us — a
    seconds-truncating difference flips k at week boundaries between
    engines), giving exact powers of two with no libm pow; the
    per-purchase normalizer is a partitioned window sum whose
    summands are exact binaries, and the driver-visible channel
    totals go through exact decimal (dsum). Scale: purchase×view
    join is user-keyed (co-partitioned shuffle + range filter),
    windows partition by purchase id."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("vts"),
        (
            F.get_json_object("props", "$.k").cast("long") % 10
        ).alias("channel"),
    )
    touches = p.join(v, "user_id").filter(
        (F.col("vts") <= F.col("pts"))
        & (
            F.col("vts")
            > F.col("pts") - F.expr(f"INTERVAL {_TD_WINDOW_DAYS} DAY")
        )
    )
    weighted = touches.select(
        "pid",
        "cents",
        "channel",
        (
            F.lit(1.0)
            / F.expr(
                "cast(shiftleft(1L, cast((unix_micros(pts)"
                f" - unix_micros(vts)) div {_TD_HALFLIFE_US}L"
                " as int)) as double)"
            )
        ).alias("w"),
    )
    tw = F.sum("w").over(W.partitionBy("pid"))
    credit = weighted.select(
        "channel",
        (F.col("w") / tw).alias("frac"),
        ((F.col("w") / tw) * F.col("cents").cast("double") / 100.0).alias(
            "revenue_credit"
        ),
    )
    return credit.groupBy("channel").agg(
        F.count("*").cast("long").alias("n_touches"),
        dsum("frac").alias("attributed_conversions"),
        dsum("revenue_credit").alias("attributed_revenue"),
    )


# --- consecutive-day activity streak histogram (round 8) ---------------------
@register(
    "user_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    runs AS (
        SELECT user_id,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INTEGER) AS grp
        FROM days
    ),
    streaks AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS streak_len
        FROM runs GROUP BY user_id, grp
    )
    SELECT streak_len,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM streaks GROUP BY streak_len
    """,
    tags=("events", "streaks", "gaps_and_islands", "retention"),
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user (the engagement metric
    behind 'N-day streak' product features and retention-risk flags),
    reported as a streak-length histogram with the distinct-user reach
    of each length. The Tabibitosan trick runs PER USER — day minus the
    user's day-sequence row_number is constant within a run — so every
    window partitions by user_id and parallelizes at any scale (the
    global-id variant is id_gap_islands; this is the partitioned
    family member). Distinct-day dedup first makes multi-event days
    count once. Integer everything."""
    days = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    wu = W.partitionBy("user_id").orderBy("day")
    runs = days.select(
        "user_id",
        F.date_sub(F.col("day"), F.row_number().over(wu)).alias("grp"),
    )
    streaks = runs.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("streak_len")
    )
    return streaks.groupBy("streak_len").agg(
        F.count("*").cast("long").alias("n_streaks"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --- Qini uplift curve by score decile (round 8) ------------------------------
@register(
    "qini_uplift_curve",
    oracle="""
    WITH peruser AS (
        SELECT user_id,
               (('0x' || substr(md5('up-' || user_id), 1, 8))::BIGINT) % 2
                   AS treated,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
                   AS views,
               CAST(CASE WHEN COUNT(*) FILTER (WHERE event_type = 'purchase')
                              > 0 THEN 1 ELSE 0 END AS BIGINT) AS responder
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT treated, responder,
               ROW_NUMBER() OVER (ORDER BY views DESC, user_id) AS rk,
               COUNT(*) OVER () AS n
        FROM peruser
    ),
    deciles AS (
        SELECT CAST((10 * rk + n - 1) // n AS BIGINT) AS decile,
               CAST(SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_t,
               CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_c,
               CAST(SUM(CASE WHEN treated = 1 THEN responder ELSE 0 END)
                    AS BIGINT) AS r_t,
               CAST(SUM(CASE WHEN treated = 0 THEN responder ELSE 0 END)
                    AS BIGINT) AS r_c
        FROM ranked GROUP BY 1
    ),
    cum AS (
        SELECT decile, n_t, n_c, r_t, r_c,
               SUM(n_t) OVER w AS cnt, SUM(n_c) OVER w AS cnc,
               SUM(r_t) OVER w AS crt, SUM(r_c) OVER w AS crc
        FROM deciles
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n_t, n_c, r_t, r_c,
           CAST(crt AS BIGINT) AS cum_resp_treated,
           CAST(crc AS BIGINT) AS cum_resp_control,
           CAST(crt AS DOUBLE)
           - CAST(crc AS DOUBLE) * CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE)
               AS qini
    FROM cum
    """,
    tags=("events", "uplift", "qini", "causal", "model_scoring",
          "bounded_window"),
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve for an uplift model: users rank by score (view count)
    across BOTH arms, and at each decile the curve reports incremental
    responders Q(d) = R_T(d) − R_C(d)·N_T(d)/N_C(d) — the
    causal-targeting twin of lift_gains_by_decile (which a randomized
    holdout turns from correlation into incrementality). Treatment is
    a deterministic md5 coin on user_id. The corpus-wide rank comes
    from bucketed_order_scan (no single-task window); the cumulative
    sweep runs over the 10-row decile table (bounded_window); Q is
    exact BIGINTs until one multiply-divide in fixed order. Scale: one
    per-user agg, rank decomposition, constant tail."""
    from beam_pyspark_runner_spark.functions.hashing import h32
    from beam_pyspark_runner_spark.functions.ordered import (
        bucketed_order_scan,
    )

    e = load_table(spark, sf_dir, "events")
    peruser = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("long")
        .alias("views"),
        F.when(
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("responder"),
    ).select(
        "*",
        (
            F.pmod(
                h32(F.concat_ws("-", F.lit("up"), F.col("user_id"))),
                F.lit(2),
            )
        ).cast("long").alias("treated"),
    )
    ranked = bucketed_order_scan(
        peruser,
        F.col("views"),
        [F.col("views").desc(), F.col("user_id")],
        rank_name="rk",
        descending_bucket=True,
    )
    n = peruser.agg(F.count("*").cast("long").alias("n"))
    deciles = (
        ranked.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("(10 * rk + n - 1) div n").cast("long").alias("decile")
        )
        .agg(
            F.sum(F.when(F.col("treated") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_t"),
            F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_c"),
            F.sum(F.when(F.col("treated") == 1, F.col("responder")).otherwise(0))
            .cast("long")
            .alias("r_t"),
            F.sum(F.when(F.col("treated") == 0, F.col("responder")).otherwise(0))
            .cast("long")
            .alias("r_c"),
        )
    )
    wd = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = deciles.select(
        "decile", "n_t", "n_c", "r_t", "r_c",
        F.sum("n_t").over(wd).alias("cnt"),
        F.sum("n_c").over(wd).alias("cnc"),
        F.sum("r_t").over(wd).alias("crt"),
        F.sum("r_c").over(wd).alias("crc"),
    )
    return cum.select(
        "decile", "n_t", "n_c", "r_t", "r_c",
        F.col("crt").cast("long").alias("cum_resp_treated"),
        F.col("crc").cast("long").alias("cum_resp_control"),
        (
            F.col("crt").cast("double")
            - F.col("crc").cast("double")
            * F.col("cnt").cast("double")
            / F.col("cnc").cast("double")
        ).alias("qini"),
    )


# --- seasonal-naive MASE forecast evaluation (round 8) -----------------------
_MASE_SEASON = 7  # weekly seasonality at day grain


@register(
    "seasonal_naive_mase",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS y_naive,
               LAG(y, {_MASE_SEASON}) OVER (ORDER BY day) AS y_snaive
        FROM daily
    )
    SELECT CAST(COUNT(y_snaive) AS BIGINT) AS n_scored_days,
           CAST(SUM(abs(y - y_snaive)) AS BIGINT) AS snaive_abs_err,
           CAST(SUM(CASE WHEN y_snaive IS NOT NULL
                         THEN abs(y - y_naive) END) AS BIGINT)
               AS naive_abs_err,
           CAST(SUM(abs(y - y_snaive)) AS DOUBLE)
               / CAST(SUM(CASE WHEN y_snaive IS NOT NULL
                               THEN abs(y - y_naive) END) AS DOUBLE)
               AS mase
    FROM lagged
    """,
    tags=("events", "forecasting", "mase", "evaluation", "time_series",
          "bounded_window"),
)
def seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (Hyndman & Koehler 2006) for the seasonal-naive forecast of
    daily event volume: mean |y_t − y_{{t−{_MASE_SEASON}}}| scaled by the
    one-step naive error on the SAME days — the scale-free forecast
    metric every baseline comparison should report before trusting a
    fancier model (MASE < 1 beats naive; percentage errors blow up on
    low-volume days, MASE doesn't). Errors are exact integer counts;
    the LAG windows run over the DAY table (calendar-bounded —
    bounded_window; at 100 TB the only corpus-sized stage is the daily
    rollup); one final division."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    wd = W.orderBy("day")
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(wd).alias("y_naive"),
        F.lag("y", _MASE_SEASON).over(wd).alias("y_snaive"),
    )
    scored_naive = F.sum(
        F.when(
            F.col("y_snaive").isNotNull(),
            F.abs(F.col("y") - F.col("y_naive")),
        )
    ).cast("long")
    return lagged.agg(
        F.count("y_snaive").cast("long").alias("n_scored_days"),
        F.sum(F.abs(F.col("y") - F.col("y_snaive")))
        .cast("long")
        .alias("snaive_abs_err"),
        scored_naive.alias("naive_abs_err"),
        (
            F.sum(F.abs(F.col("y") - F.col("y_snaive"))).cast("double")
            / scored_naive.cast("double")
        ).alias("mase"),
    )


# --- Wald SPRT early-stopping monitor (round 8) --------------------------------
# H0: purchase share p0 = 0.15 vs H1: p1 = 0.20, alpha = beta = 0.05.
# Per-observation log-likelihood-ratio increments and the decision
# boundaries +/- ln((1-beta)/alpha) = ln 19, precomputed ONCE in Python
# as 1e-9 fixed-point INTEGERS (no data-dependent libm logs, and integer
# cumulative sums are association-free — double window sums are not:
# DuckDB aggregates window frames through a segment tree whose rounding
# order differs from a left-to-right running sum).
SPRT_C1 = 287682072      # round(1e9 * ln(p1/p0))
SPRT_C2 = -60624622      # round(1e9 * ln((1-p1)/(1-p0)))
SPRT_BOUND = 2944438979  # round(1e9 * ln(19))


@register(
    "sprt_sequential_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    walk AS (
        SELECT d, k, n,
               SUM(k * CAST({SPRT_C1} AS BIGINT)
                   + (n - k) * CAST({SPRT_C2} AS BIGINT))
                   OVER (ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS llr9
        FROM daily
    ),
    hit AS (
        SELECT d, llr9,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM walk
        WHERE llr9 >= {SPRT_BOUND} OR llr9 <= -{SPRT_BOUND}
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(MAX(llr9) AS BIGINT) AS last_llr9
            FROM walk)
    SELECT t.n_days,
           CASE WHEN h.d IS NULL THEN 'continue'
                WHEN h.llr9 >= {SPRT_BOUND} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           h.d AS decision_day,
           CAST(h.llr9 AS DOUBLE) / CAST('1000000000' AS DOUBLE)
               AS llr_at_decision
    FROM tot t LEFT JOIN hit h ON h.rn = 1
    """,
    tags=("statistics", "sprt", "sequential_analysis", "ab_testing",
          "bounded_window"),
)
def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test (Wald 1945) monitoring
    the purchase share day by day: H0 p=0.15 vs H1 p=0.20 at
    α=β=0.05, stop the experiment the first day the cumulative
    binomial log-likelihood ratio leaves (−ln19, +ln19). This is the
    EARLY-STOPPING machinery two_proportion_ztest (fixed-horizon) and
    cusum_drift_detector (change detection) don't provide: a decision
    rule valid at every interim look. LLR increments and boundaries
    are Python-precomputed 1e-9 fixed-point INTEGER literals, so the
    cumulative walk is exact integer arithmetic — immune to the
    segment-tree-vs-running-sum association difference that makes
    double window sums engine-dependent. The walk runs on the
    DATE-GRAIN table (bounded_window); one map-side-combinable daily
    rollup is the only corpus scan."""
    daily = load_table(spark, sf_dir, "events").groupBy(
        F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
        F.count("*").cast("long").alias("n"),
    )
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    walk = daily.select(
        "d", "k", "n",
        F.sum(
            F.col("k") * F.lit(SPRT_C1).cast("long")
            + (F.col("n") - F.col("k")) * F.lit(SPRT_C2).cast("long")
        ).over(wd).alias("llr9"),
    )
    hit = (
        walk.filter(
            (F.col("llr9") >= SPRT_BOUND) | (F.col("llr9") <= -SPRT_BOUND)
        )
        .select(
            "d", "llr9", F.row_number().over(W.orderBy("d")).alias("rn")
        )
        .filter(F.col("rn") == 1)
    )
    tot = walk.agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("llr9").cast("long").alias("last_llr9"),
    )
    return tot.join(F.broadcast(hit), F.lit(True), "left").select(
        "n_days",
        F.when(F.col("d").isNull(), "continue")
        .when(F.col("llr9") >= SPRT_BOUND, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
        F.col("d").alias("decision_day"),
        (
            F.col("llr9").cast("double")
            / F.lit("1000000000").cast("double")
        ).alias("llr_at_decision"),
    )


# --- Page-Hinkley drift detector (round 9) --------------------------------------
PH_DELTA_CENTS = 50       # tolerated per-day drift below the series mean
PH_LAMBDA_CENTS = 200_000  # alarm when cumulative excess tops $2,000


@register(
    "page_hinkley_drift",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sv
           FROM daily),
    walk AS (
        SELECT d.d, st.n,
               SUM(CAST(st.n * d.v - st.sv - st.n * {PH_DELTA_CENTS}
                        AS HUGEINT))
                   OVER (ORDER BY d.d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS w
        FROM daily d CROSS JOIN st
    ),
    ph AS (
        -- textbook PH: the running minimum includes the walk's m_0 = 0
        -- baseline (round-10 ADVICE fix; the property test's reference
        -- recursion always seeded it)
        SELECT d, n, w,
               w - LEAST(CAST(0 AS HUGEINT),
                         MIN(w) OVER (ORDER BY d
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)) AS ph
        FROM walk
    ),
    alarm AS (
        SELECT d, ph, ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM ph WHERE ph > n * CAST({PH_LAMBDA_CENTS} AS HUGEINT)
    ),
    tot AS (SELECT CAST(MAX(n) AS BIGINT) AS n_days,
                   CAST(MAX(ph) AS HUGEINT) AS mx,
                   CAST(MAX(n) AS HUGEINT) AS nh
            FROM ph)
    SELECT t.n_days,
           CAST(t.mx // t.nh AS BIGINT) AS ph_max_cents,
           a.d AS alarm_day,
           CASE WHEN a.d IS NULL THEN 'in_control' ELSE 'drift' END AS decision
    FROM tot t LEFT JOIN alarm a ON a.rn = 1
    """,
    tags=("events", "drift", "page_hinkley", "sequential", "statistics",
          "bounded_window"),
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley test (Page 1954; the PH variant Gama et al. 2014
    survey as THE streaming-drift baseline) on daily event value: track
    the cumulative deviation from the series mean and alarm when it
    rises more than lambda above its own running MINIMUM — an upward
    mean-shift detector that, unlike cusum_drift_detector's
    reset-to-zero recursion, needs no per-step clamp (so the walk is a
    plain window cumsum + running min, not a recursive fold) and,
    unlike sprt_sequential_test, assumes no parametric H0/H1 pair.
    The mean folds in exactly by n-scaling (terms n*v_t - S - n*delta
    are INTEGERS, so cumsum and running-min are association-free);
    the only divisions are the final PH/n downshift back to cents.

    Scale (100 TB): one map-side-combinable daily rollup is the only
    corpus stage; every window runs on the calendar-bounded date spine
    (bounded_window). n*v products at 1e12-row corpora ride
    DECIMAL(38,0)/HUGEINT."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    st = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    dec = "decimal(38,0)"
    wd = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    walk = daily.crossJoin(F.broadcast(st)).select(
        "d",
        "n",
        F.sum(
            (
                F.col("n") * F.col("v")
                - F.col("sv")
                - F.col("n") * F.lit(PH_DELTA_CENTS)
            ).cast(dec)
        ).over(wd).alias("w"),
    )
    # textbook PH: the running minimum includes the walk's 0 start
    # (round-10 ADVICE fix — without it a walk that opens positive
    # reports PH relative to its first step instead of the baseline)
    ph = walk.select(
        "d",
        "n",
        (
            F.col("w")
            - F.least(F.lit(0).cast(dec), F.min("w").over(wd))
        ).alias("ph"),
    )
    alarm = (
        ph.filter(
            F.col("ph") > F.col("n").cast(dec) * F.lit(PH_LAMBDA_CENTS)
        )
        .select("d", F.row_number().over(W.orderBy("d")).alias("rn"))
        .filter(F.col("rn") == 1)
    )
    tot = ph.agg(
        F.max("n").cast("long").alias("n_days"),
        F.max("ph").alias("mx"),
        F.max("n").cast(dec).alias("nh"),
    )
    return tot.join(F.broadcast(alarm), F.lit(True), "left").select(
        "n_days",
        F.expr("CAST(mx div nh AS BIGINT)").alias("ph_max_cents"),
        F.col("d").alias("alarm_day"),
        F.when(F.col("d").isNull(), "in_control")
        .otherwise("drift")
        .alias("decision"),
    )


# --- Granger causality, one lag (round 9) ----------------------------------------
@register(
    "granger_causality_lag1",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS v,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS p
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT p AS y,
               LAG(p) OVER (ORDER BY d) AS y1,
               LAG(v) OVER (ORDER BY d) AS x1
        FROM daily
        QUALIFY y1 IS NOT NULL
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(y1) AS BIGINT) AS sy1,
                  CAST(SUM(x1) AS BIGINT) AS sx1
           FROM lagged),
    cent AS (
        SELECT st.m,
               CAST(st.m * l.y - st.sy AS HUGEINT) AS cy,
               CAST(st.m * l.y1 - st.sy1 AS HUGEINT) AS cy1,
               CAST(st.m * l.x1 - st.sx1 AS HUGEINT) AS cx1
        FROM lagged l CROSS JOIN st
    ),
    sums AS (
        SELECT MAX(m) AS m,
               SUM(cy1 * cy1) AS s11, SUM(cx1 * cx1) AS s22,
               SUM(cy1 * cx1) AS s12, SUM(cy1 * cy) AS s1y,
               SUM(cx1 * cy) AS s2y
        FROM cent
    ),
    coefs AS (
        SELECT m,
               ((s1y * s22 - s2y * s12) * 1000000)
                 // (s11 * s22 - s12 * s12) AS b_e6,
               ((s2y * s11 - s1y * s12) * 1000000)
                 // (s11 * s22 - s12 * s12) AS c_e6,
               (s1y * 1000000) // s11 AS br_e6
        FROM sums
    ),
    rss AS (
        SELECT MAX(co.m) AS m, MAX(co.b_e6) AS b_e6, MAX(co.c_e6) AS c_e6,
               SUM((ce.cy * 1000000 - co.b_e6 * ce.cy1 - co.c_e6 * ce.cx1)
                   * (ce.cy * 1000000 - co.b_e6 * ce.cy1 - co.c_e6 * ce.cx1))
                   AS rss_u,
               SUM((ce.cy * 1000000 - co.br_e6 * ce.cy1)
                   * (ce.cy * 1000000 - co.br_e6 * ce.cy1)) AS rss_r
        FROM cent ce CROSS JOIN coefs co
    )
    SELECT CAST(m AS BIGINT) AS n_scored_days,
           CAST(b_e6 AS BIGINT) AS ar_coef_e6,
           CAST(c_e6 AS BIGINT) AS granger_coef_e6,
           CAST(((rss_r - rss_u) * (m - 3) * 1000000) // rss_u AS BIGINT)
               AS f_stat_e6
    FROM rss
    """,
    tags=("events", "statistics", "granger", "causality", "time_series",
          "bounded_window"),
)
def granger_causality_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality at lag 1 (Granger 1969): does yesterday's VIEW
    volume predict today's PURCHASE volume beyond what yesterday's
    purchases already do? Unrestricted model y_t ~ y_(t-1) + x_(t-1)
    vs restricted y_t ~ y_(t-1), compared by the F statistic
    (RSS_r - RSS_u)(m-3)/RSS_u — the lead-lag screen a marketing
    pipeline runs before attributing conversions to upper-funnel
    volume (time_decay_attribution ASSUMES the lag structure; this
    tests it). Exactness: both regressions center by m-scaling (every
    centered value m*z - S is an INTEGER), the 2x2 normal equations
    solve in closed form by Cramer's rule over exact integer power
    sums, coefficients quantize at 1e-6 (truncation identical in both
    engines), and each RSS is a sum of exact integer squares AT the
    quantized coefficients — so even the F numerator's near-cancellation
    is bit-reproducible.

    Scale (100 TB): one map-side-combinable daily rollup; everything
    after runs on the calendar-bounded spine (bounded_window) against
    broadcast 1-row scalar tables. Centered products at 1e12-row
    corpora stay inside DECIMAL(38,0)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("p"),
        )
    )
    wd = W.orderBy("d")
    lagged = daily.select(
        F.col("p").alias("y"),
        F.lag("p").over(wd).alias("y1"),
        F.lag("v").over(wd).alias("x1"),
    ).filter(F.col("y1").isNotNull())
    st = lagged.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("y1").cast("long").alias("sy1"),
        F.sum("x1").cast("long").alias("sx1"),
    )
    dec = "decimal(38,0)"
    cent = lagged.crossJoin(F.broadcast(st)).select(
        "m",
        (F.col("m") * F.col("y") - F.col("sy")).cast(dec).alias("cy"),
        (F.col("m") * F.col("y1") - F.col("sy1")).cast(dec).alias("cy1"),
        (F.col("m") * F.col("x1") - F.col("sx1")).cast(dec).alias("cx1"),
    )
    sums = cent.agg(
        F.max("m").alias("m"),
        F.sum(F.col("cy1") * F.col("cy1")).alias("s11"),
        F.sum(F.col("cx1") * F.col("cx1")).alias("s22"),
        F.sum(F.col("cy1") * F.col("cx1")).alias("s12"),
        F.sum(F.col("cy1") * F.col("cy")).alias("s1y"),
        F.sum(F.col("cx1") * F.col("cy")).alias("s2y"),
    )
    coefs = sums.select(
        "m",
        F.expr(
            "((s1y * s22 - s2y * s12) * 1000000)"
            " div (s11 * s22 - s12 * s12)"
        ).alias("b_e6"),
        F.expr(
            "((s2y * s11 - s1y * s12) * 1000000)"
            " div (s11 * s22 - s12 * s12)"
        ).alias("c_e6"),
        F.expr("(s1y * 1000000) div s11").alias("br_e6"),
    )
    rss = cent.select("cy", "cy1", "cx1").crossJoin(F.broadcast(coefs)).agg(
        F.max("m").alias("m"),
        F.max("b_e6").alias("b_e6"),
        F.max("c_e6").alias("c_e6"),
        F.sum(
            F.expr(
                "(cy * 1000000 - b_e6 * cy1 - c_e6 * cx1)"
                " * (cy * 1000000 - b_e6 * cy1 - c_e6 * cx1)"
            )
        ).alias("rss_u"),
        F.sum(
            F.expr(
                "(cy * 1000000 - br_e6 * cy1)"
                " * (cy * 1000000 - br_e6 * cy1)"
            )
        ).alias("rss_r"),
    )
    return rss.select(
        F.col("m").cast("long").alias("n_scored_days"),
        F.col("b_e6").cast("long").alias("ar_coef_e6"),
        F.col("c_e6").cast("long").alias("granger_coef_e6"),
        F.expr(
            "CAST(((rss_r - rss_u) * (m - 3) * 1000000) div rss_u AS BIGINT)"
        ).alias("f_stat_e6"),
    )


# --- Grubbs maximum studentized deviate (round 10) --------------------------------
@register(
    "grubbs_max_deviate",
    oracle="""
    WITH v AS (SELECT event_type,
                      CAST(ROUND(value*100) AS BIGINT) AS v FROM events),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(CAST(v AS HUGEINT)*v) AS HUGEINT) AS sxx,
             MAX(v) AS vmax, MIN(v) AS vmin
      FROM v GROUP BY 1)
    SELECT event_type, n,
      CAST(CASE WHEN CAST(n AS HUGEINT)*vmax - s
                     >= s - CAST(n AS HUGEINT)*vmin
                THEN vmax ELSE vmin END AS DOUBLE)/100.0 AS suspect_value,
      CAST(GREATEST(CAST(n AS HUGEINT)*vmax - s,
                    s - CAST(n AS HUGEINT)*vmin) AS DOUBLE)
        / SQRT(CAST(CAST(n AS HUGEINT)
                    * (CAST(n AS HUGEINT)*sxx
                       - CAST(s AS HUGEINT)*s) AS DOUBLE)
               / CAST(n-1 AS DOUBLE)) AS g_statistic
    FROM st
    """,
    tags=("events", "statistics", "outlier", "grubbs", "data_quality"),
)
def grubbs_max_deviate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum studentized deviate per event type: the single
    most extreme value's distance from its group mean in sample-sd
    units, G = max|x − x̄|/s — the classical single-outlier screen
    (Grubbs 1950) that complements hampel_filter (which flags MANY
    outliers against a rolling median) by answering the triage
    question 'does this group contain even one impossible value, and
    which one?'. The critical threshold is a t-quantile the caller
    applies; the query ships the exact statistic and the suspect.

    Determinism: G² folds entirely in integers — with S = Σv,
    Sxx = Σv² (exact cents), max|n·x − S| and n(n·Sxx − S²) are exact,
    so G = max|n·x−S| / √(n(n·Sxx−S²)/(n−1)) is one fixed-order double
    formula over integer inputs.

    Scale (100 TB): one map-side-combinable groupBy to |event_type|
    rows carrying five sufficient statistics. Nothing else."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    dec = "decimal(38,0)"
    st = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum((F.col("v").cast(dec) * F.col("v")).cast(dec)).cast(dec).alias("sxx"),
        F.max("v").cast("long").alias("vmax"),
        F.min("v").cast("long").alias("vmin"),
    )
    dev_hi = (F.col("n").cast(dec) * F.col("vmax") - F.col("s")).cast(dec)
    dev_lo = (F.col("s") - F.col("n").cast(dec) * F.col("vmin")).cast(dec)
    return st.select(
        "event_type",
        "n",
        (
            F.when(dev_hi >= dev_lo, F.col("vmax"))
            .otherwise(F.col("vmin"))
            .cast("double")
            / 100.0
        ).alias("suspect_value"),
        (
            F.greatest(dev_hi, dev_lo).cast("double")
            / F.sqrt(
                (
                    F.col("n").cast(dec)
                    * (
                        F.col("n").cast(dec) * F.col("sxx")
                        - F.col("s").cast(dec) * F.col("s")
                    )
                ).cast("double")
                / (F.col("n") - 1).cast("double")
            )
        ).alias("g_statistic"),
    )


# --- Welch's unequal-variance t-test (round 11) ------------------------------------
@register(
    "welch_t_test",
    oracle="""
    WITH v AS (
      SELECT CASE WHEN (('0x' || substr(md5(user_id || ':welch'), 1, 8))
                        ::BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS arm,
             CAST(ROUND(value*100) AS BIGINT) AS v
      FROM events),
    st AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN arm = 0 THEN v ELSE 0 END) AS BIGINT) AS s0,
        SUM(CASE WHEN arm = 0 THEN CAST(v AS HUGEINT)*v ELSE 0 END) AS sxx0,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN arm = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
        SUM(CASE WHEN arm = 1 THEN CAST(v AS HUGEINT)*v ELSE 0 END) AS sxx1
      FROM v),
    d AS (
      SELECT n0, n1, s0, s1,
        CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100.0 AS mean_control,
        CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS mean_treatment,
        CAST(CAST(n0 AS HUGEINT)*sxx0 - CAST(s0 AS HUGEINT)*s0 AS DOUBLE)
          / CAST(CAST(n0 AS HUGEINT)*n0*(n0-1) AS DOUBLE) AS se2_0,
        CAST(CAST(n1 AS HUGEINT)*sxx1 - CAST(s1 AS HUGEINT)*s1 AS DOUBLE)
          / CAST(CAST(n1 AS HUGEINT)*n1*(n1-1) AS DOUBLE) AS se2_1
      FROM st)
    SELECT n0 AS n_control, n1 AS n_treatment, mean_control, mean_treatment,
      ((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
       - (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
        / SQRT(se2_0 + se2_1) AS t_stat,
      ((se2_0 + se2_1) * (se2_0 + se2_1))
        / (se2_0 * se2_0 / CAST(n0 - 1 AS DOUBLE)
           + se2_1 * se2_1 / CAST(n1 - 1 AS DOUBLE)) AS welch_df
    FROM d
    """,
    tags=("events", "statistics", "ab_testing", "welch", "t_test"),
)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between md5-hashed
    experiment arms — the workhorse significance test the A/B family
    was missing: mann_whitney_u is the rank (distribution-free) test,
    two_proportion_ztest tests binary rates, permutation_test_diff is
    the resampling check; Welch is THE parametric mean test reviewers
    expect first (and, per Welch 1947 / Satterthwaite 1946, the form
    that stays valid when arm variances differ — the equal-variance
    Student pooling is never safe on real traffic). Ships the t
    statistic and the Welch–Satterthwaite effective df; the caller
    applies the t-quantile.

    Determinism: each arm reduces to exact integer moments (n, Σv,
    Σv² in HUGEINT/DECIMAL(38,0) cents); per-arm standard errors
    se² = (nΣv²−(Σv)²)/(n·n·(n−1)) are single divisions of exact
    integers, and t / df are one fixed-order double tree over them —
    no float accumulation anywhere.

    Scale (100 TB): the assignment is one stateless map-side md5; the
    whole test is ONE global conditional aggregate (map-side combined
    to six numbers per partition). Nothing shuffles but 6 integers."""
    from beam_pyspark_runner_spark.functions.hashing import h32

    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events").select(
        (
            h32(F.concat(F.col("user_id").cast("string"), F.lit(":welch"))) % 2
        ).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    arm0 = F.col("arm") == 0
    arm1 = F.col("arm") == 1
    st = e.agg(
        F.sum(F.when(arm0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(arm0, F.col("v")).otherwise(0)).cast("long").alias("s0"),
        F.sum(
            F.when(arm0, F.col("v").cast(dec) * F.col("v")).otherwise(0).cast(dec)
        ).alias("sxx0"),
        F.sum(F.when(arm1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(arm1, F.col("v")).otherwise(0)).cast("long").alias("s1"),
        F.sum(
            F.when(arm1, F.col("v").cast(dec) * F.col("v")).otherwise(0).cast(dec)
        ).alias("sxx1"),
    )
    se2_0 = (
        (F.col("n0").cast(dec) * F.col("sxx0") - F.col("s0").cast(dec) * F.col("s0"))
        .cast("double")
        / (F.col("n0").cast(dec) * F.col("n0") * (F.col("n0") - 1)).cast("double")
    )
    se2_1 = (
        (F.col("n1").cast(dec) * F.col("sxx1") - F.col("s1").cast(dec) * F.col("s1"))
        .cast("double")
        / (F.col("n1").cast(dec) * F.col("n1") * (F.col("n1") - 1)).cast("double")
    )
    d = st.select(
        "n0",
        "n1",
        "s0",
        "s1",
        (F.col("s0").cast("double") / F.col("n0").cast("double") / 100.0).alias(
            "mean_control"
        ),
        (F.col("s1").cast("double") / F.col("n1").cast("double") / 100.0).alias(
            "mean_treatment"
        ),
        se2_0.alias("se2_0"),
        se2_1.alias("se2_1"),
    )
    return d.select(
        F.col("n0").alias("n_control"),
        F.col("n1").alias("n_treatment"),
        "mean_control",
        "mean_treatment",
        (
            (
                F.col("s0").cast("double") / F.col("n0").cast("double")
                - F.col("s1").cast("double") / F.col("n1").cast("double")
            )
            / F.sqrt(F.col("se2_0") + F.col("se2_1"))
        ).alias("t_stat"),
        (
            (F.col("se2_0") + F.col("se2_1")) * (F.col("se2_0") + F.col("se2_1"))
            / (
                F.col("se2_0") * F.col("se2_0") / (F.col("n0") - 1).cast("double")
                + F.col("se2_1") * F.col("se2_1") / (F.col("n1") - 1).cast("double")
            )
        ).alias("welch_df"),
    )


# --- Generalized ESD (3-round iterative outlier screen, round 11) ------------------
_ESD_ROUNDS = 3


def _esd_round_sql(prev: str, curr: str, r: int, carry: str = "") -> str:
    """One unrolled ESD round: pick the larger studentized extreme from
    the CURRENT moments, emit its G statistic, then remove ONE instance
    of the suspect value from the sufficient statistics."""
    return f"""
    {curr} AS (
      SELECT event_type, hi1, hi2, hi3, lo1, lo2, lo3,
             n, s, sxx, hiu, lou, {carry}
             CASE WHEN dev_hi >= dev_lo THEN cur_hi ELSE cur_lo END AS rem{r},
             CAST(GREATEST(dev_hi, dev_lo) AS DOUBLE)
               / SQRT(CAST(n * (n*sxx - s*s) AS DOUBLE)
                      / CAST(n - 1 AS DOUBLE)) AS g{r},
             CASE WHEN dev_hi >= dev_lo THEN hiu + 1 ELSE hiu END AS hiu{r},
             CASE WHEN dev_hi >= dev_lo THEN lou ELSE lou + 1 END AS lou{r},
             n - 1 AS n{r},
             s - (CASE WHEN dev_hi >= dev_lo THEN cur_hi ELSE cur_lo END)
               AS s{r},
             sxx - CAST(CASE WHEN dev_hi >= dev_lo THEN cur_hi ELSE cur_lo END
                        AS HUGEINT)
                   * (CASE WHEN dev_hi >= dev_lo THEN cur_hi ELSE cur_lo END)
               AS sxx{r}
      FROM (
        SELECT *,
               n * cur_hi - s AS dev_hi,
               s - n * cur_lo AS dev_lo
        FROM (
          SELECT *,
                 CASE hiu WHEN 0 THEN hi1 WHEN 1 THEN hi2 ELSE hi3 END
                     AS cur_hi,
                 CASE lou WHEN 0 THEN lo1 WHEN 1 THEN lo2 ELSE lo3 END
                     AS cur_lo
          FROM {prev})
      )
    )"""


@register(
    "generalized_esd_outliers",
    oracle=f"""
    WITH v AS (SELECT event_type,
                      CAST(ROUND(value*100) AS BIGINT) AS v FROM events),
    ranked AS (
      SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v DESC) AS rd,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY v ASC) AS ra
      FROM v),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS sxx
      FROM v GROUP BY 1),
    ext AS (
      SELECT event_type,
             MAX(CASE WHEN rd = 1 THEN v END) AS hi1,
             MAX(CASE WHEN rd = 2 THEN v END) AS hi2,
             MAX(CASE WHEN rd = 3 THEN v END) AS hi3,
             MAX(CASE WHEN ra = 1 THEN v END) AS lo1,
             MAX(CASE WHEN ra = 2 THEN v END) AS lo2,
             MAX(CASE WHEN ra = 3 THEN v END) AS lo3
      FROM ranked WHERE rd <= 3 OR ra <= 3 GROUP BY 1),
    r0 AS (
      SELECT st.event_type, hi1, hi2, hi3, lo1, lo2, lo3,
             n, s, sxx, 0 AS hiu, 0 AS lou
      FROM st JOIN ext ON ext.event_type = st.event_type),
    {_esd_round_sql('r0', 'e1', 1)},
    e1n AS (SELECT event_type, hi1, hi2, hi3, lo1, lo2, lo3,
                   n1 AS n, s1 AS s, sxx1 AS sxx, hiu1 AS hiu, lou1 AS lou,
                   rem1, g1 FROM e1),
    {_esd_round_sql('e1n', 'e2', 2, carry='rem1, g1,')},
    e2n AS (SELECT event_type, hi1, hi2, hi3, lo1, lo2, lo3,
                   n2 AS n, s2 AS s, sxx2 AS sxx, hiu2 AS hiu, lou2 AS lou,
                   rem1, g1, rem2, g2 FROM e2),
    {_esd_round_sql('e2n', 'e3', 3, carry='rem1, g1, rem2, g2,')}
    SELECT event_type, CAST(1 AS BIGINT) AS esd_round,
           CAST(rem1 AS DOUBLE)/100.0 AS removed_value, g1 AS g_stat
    FROM e3
    UNION ALL
    SELECT event_type, CAST(2 AS BIGINT),
           CAST(rem2 AS DOUBLE)/100.0, g2 FROM e3
    UNION ALL
    SELECT event_type, CAST(3 AS BIGINT),
           CAST(rem3 AS DOUBLE)/100.0, g3 FROM e3
    """,
    tags=("events", "statistics", "outlier", "esd", "iterative",
          "data_quality"),
)
def generalized_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized extreme studentized deviate (Rosner 1983) — the
    MULTI-outlier extension of grubbs_max_deviate and the statistical
    core of the seasonal-hybrid ESD detector production anomaly
    systems popularized: Grubbs masks when two outliers shadow each
    other, ESD re-studentizes after each removal, so round r's G
    statistic is computed on the sample with rounds 1..r-1 removed.
    Ships {_ESD_ROUNDS} rounds of (removed value, G) per event type;
    the caller applies the per-round t-critical lambda_r.

    The kernel never touches row identity: removing 'one instance of
    the suspect value' is pure sufficient-statistic arithmetic
    (n-1, S-x, Sxx-x^2), and the only row-level work is extracting the
    top/bottom {_ESD_ROUNDS} value INSTANCES per group (ESD only ever
    removes a current extreme). Ties are benign: equal-valued
    instances are interchangeable in every statistic.

    Determinism: all moments and deviates are exact integers
    (HUGEINT / DECIMAL(38,0) cents); each G is the grubbs double
    formula over exact integers.

    Scale (100 TB): one map-side-combinable groupBy for moments, one
    per-type TakeOrdered-style window pair for the 6 extreme instances
    (WindowGroupLimit pushes rank<=3 map-side), then all three rounds
    fold in a CONSTANT-width expression tree over |event_type| rows."""
    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    # two SEPARATE rank pipelines, each filtered on its own rank: a
    # single pipeline with `(rd <= 3) OR (ra <= 3)` defeats the
    # WindowGroupLimit rank pushdown (verified in the executed plan),
    # leaving two full per-type sorts of the corpus — split, each
    # window carries its map-side top-3 limit
    rhi = e.select(
        "event_type",
        "v",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(F.col("v").desc()))
        .alias("rd"),
    ).filter(F.col("rd") <= 3)
    rlo = e.select(
        "event_type",
        "v",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(F.col("v").asc()))
        .alias("ra"),
    ).filter(F.col("ra") <= 3)
    ext = rhi.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("rd") == i, F.col("v"))).alias(f"hi{i}")
            for i in (1, 2, 3)
        ]
    ).join(
        rlo.groupBy("event_type").agg(
            *[
                F.max(F.when(F.col("ra") == i, F.col("v"))).alias(f"lo{i}")
                for i in (1, 2, 3)
            ]
        ),
        "event_type",
    )
    st = e.groupBy("event_type").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("v").cast(dec).alias("s"),
        F.sum((F.col("v").cast(dec) * F.col("v")).cast(dec)).cast(dec).alias("sxx"),
    )
    cur = st.join(ext, "event_type").withColumns(
        {"hiu": F.lit(0), "lou": F.lit(0)}
    )
    outs = []
    for r in (1, 2, 3):
        cur_hi = (
            F.when(F.col("hiu") == 0, F.col("hi1"))
            .when(F.col("hiu") == 1, F.col("hi2"))
            .otherwise(F.col("hi3"))
        )
        cur_lo = (
            F.when(F.col("lou") == 0, F.col("lo1"))
            .when(F.col("lou") == 1, F.col("lo2"))
            .otherwise(F.col("lo3"))
        )
        cur = cur.withColumns({"cur_hi": cur_hi, "cur_lo": cur_lo}).withColumns(
            {
                "dev_hi": F.col("n") * F.col("cur_hi") - F.col("s"),
                "dev_lo": F.col("s") - F.col("n") * F.col("cur_lo"),
            }
        )
        pick_hi = F.col("dev_hi") >= F.col("dev_lo")
        rem = F.when(pick_hi, F.col("cur_hi")).otherwise(F.col("cur_lo"))
        g = F.greatest(F.col("dev_hi"), F.col("dev_lo")).cast("double") / F.sqrt(
            (F.col("n") * (F.col("n") * F.col("sxx") - F.col("s") * F.col("s")))
            .cast("double")
            / (F.col("n") - 1).cast("double")
        )
        cur = cur.withColumns({f"rem{r}": rem, f"g{r}": g}).withColumns(
            {
                "hiu": F.when(pick_hi, F.col("hiu") + 1).otherwise(F.col("hiu")),
                "lou": F.when(pick_hi, F.col("lou")).otherwise(F.col("lou") + 1),
                "n": F.col("n") - 1,
                "s": F.col("s") - F.col(f"rem{r}"),
                "sxx": (
                    F.col("sxx")
                    - (F.col(f"rem{r}").cast(dec) * F.col(f"rem{r}")).cast(dec)
                ).cast(dec),
            }
        ).drop("cur_hi", "cur_lo", "dev_hi", "dev_lo")
        outs.append(
            (
                F.lit(r).cast("long"),
                F.col(f"rem{r}").cast("double") / 100.0,
                F.col(f"g{r}"),
            )
        )
    rounds = cur.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        rnd.alias("esd_round"),
                        rv.alias("removed_value"),
                        gs.alias("g_stat"),
                    )
                    for rnd, rv, gs in outs
                ]
            )
        ).alias("o"),
    )
    return rounds.select(
        "event_type", "o.esd_round", "o.removed_value", "o.g_stat"
    )


# --- Benjamini-Hochberg FDR over per-type one-vs-rest tests (round 11) -------------
_BH_ALPHA = "0.2"


@register(
    "benjamini_hochberg_fdr",
    oracle=f"""
    WITH v AS (SELECT event_type,
                      CAST(ROUND(value*100) AS BIGINT) AS v FROM events),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS sxx
      FROM v GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(s) AS BIGINT) AS ts,
             SUM(sxx) AS tsxx
      FROM st),
    z AS (
      SELECT event_type,
             (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
              - CAST(ts - s AS DOUBLE) / CAST(tn - n AS DOUBLE))
             / SQRT(
                 CAST(CAST(n AS HUGEINT)*sxx
                      - CAST(s AS HUGEINT)*s AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT)*n*(n-1) AS DOUBLE)
                 + CAST(CAST(tn - n AS HUGEINT)*(tsxx - sxx)
                        - CAST(ts - s AS HUGEINT)*(ts - s) AS DOUBLE)
                   / CAST(CAST(tn - n AS HUGEINT)*(tn - n)*(tn - n - 1)
                          AS DOUBLE)) AS z_stat
      FROM st, tot),
    p AS (
      SELECT event_type, z_stat,
             CASE WHEN z_stat * z_stat <= 1.0 THEN 1.0
                  ELSE 1.0 / (z_stat * z_stat) END AS p_bound,
             CAST(COUNT(*) OVER () AS BIGINT) AS m
      FROM z),
    k AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_bound, event_type)
                     AS BIGINT) AS p_rank
      FROM p),
    kk AS (
      SELECT *, MAX(CASE WHEN p_bound <= CAST(p_rank AS DOUBLE)
                                         * {_BH_ALPHA}
                                         / CAST(m AS DOUBLE)
                         THEN p_rank ELSE 0 END) OVER () AS kmax
      FROM k)
    SELECT event_type, z_stat, p_bound, p_rank,
           p_rank <= kmax AS rejected
    FROM kk
    """,
    tags=("events", "statistics", "multiple_testing", "fdr",
          "bounded_window"),
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (B&H 1995) over the
    per-event-type battery of one-vs-rest mean tests — the
    MULTIPLE-TESTING layer every per-segment monitor in this repo
    implicitly needs (chi_square_independence, two_proportion_ztest,
    distribution_drift_chisq all test many segments at once; testing m
    segments at alpha inflates family-wise false alarms, and BH is the
    standard correction that still scales to thousands of segments
    where Bonferroni over-kills). Rejects the k* smallest p-values
    where k* = max k with p_(k) <= k*alpha/m.

    Each test: Welch-style z for 'this type's mean value differs from
    the rest of the corpus', from exact integer moments. The p-values
    are the distribution-free CHEBYSHEV tail bounds p = min(1, 1/z^2)
    — deliberately, for two reasons: (1) running BH on an UPPER BOUND
    of each p-value keeps the FDR guarantee (rejections can only
    shrink — conservative, still valid); (2) a normal/t CDF needs
    exp/ln, which this repo bans cross-engine (IEEE libm differs by
    ulps between the JVM and DuckDB — the dsir/zipf discipline), while
    1/z^2 is one exact division. alpha = {_BH_ALPHA} (looser than the
    usual 0.05 because Chebyshev bounds are ~5-10x conservative in the
    normal regime — documented contract, not a tuning knob). The
    step-up SELECTION logic is exercised with real signal by the
    hypothesis property test (test_properties), where the fixtures —
    uniform by construction — are honestly all-null.

    Scale (100 TB): one map-side-combinable groupBy to m =
    |event_type| rows of exact integer moments + one global-scalar
    cross join; p-bounds, the ordered rank and the step-up max run on
    those m rows (bounded_window: the ordered window is over the
    enum-bounded test table)."""
    dec = "decimal(38,0)"
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    st = e.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum((F.col("v").cast(dec) * F.col("v")).cast(dec)).cast(dec).alias("sxx"),
    )
    tot = st.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("s").cast("long").alias("ts"),
        F.sum("sxx").cast(dec).alias("tsxx"),
    )
    nr = (F.col("tn") - F.col("n")).cast(dec)
    se2_g = (
        (F.col("n").cast(dec) * F.col("sxx") - F.col("s").cast(dec) * F.col("s"))
        .cast("double")
        / (F.col("n").cast(dec) * F.col("n") * (F.col("n") - 1)).cast("double")
    )
    se2_r = (
        (
            nr * (F.col("tsxx") - F.col("sxx"))
            - (F.col("ts") - F.col("s")).cast(dec) * (F.col("ts") - F.col("s"))
        ).cast("double")
        / (nr * (F.col("tn") - F.col("n")) * (F.col("tn") - F.col("n") - 1)).cast(
            "double"
        )
    )
    z = st.crossJoin(F.broadcast(tot)).select(
        "event_type",
        (
            (
                F.col("s").cast("double") / F.col("n").cast("double")
                - (F.col("ts") - F.col("s")).cast("double")
                / (F.col("tn") - F.col("n")).cast("double")
            )
            / F.sqrt(se2_g + se2_r)
        ).alias("z_stat"),
    )
    p = z.select(
        "event_type",
        "z_stat",
        F.when(F.col("z_stat") * F.col("z_stat") <= 1.0, F.lit(1.0))
        .otherwise(F.lit(1.0) / (F.col("z_stat") * F.col("z_stat")))
        .alias("p_bound"),
        F.count("*").over(W.partitionBy()).cast("long").alias("m"),
    )
    k = p.withColumn(
        "p_rank",
        F.row_number().over(W.orderBy("p_bound", "event_type")).cast("long"),
    )
    kk = k.withColumn(
        "kmax",
        F.max(
            F.when(
                F.col("p_bound")
                <= F.col("p_rank").cast("double")
                * float(_BH_ALPHA)
                / F.col("m").cast("double"),
                F.col("p_rank"),
            ).otherwise(F.lit(0).cast("long"))
        ).over(W.partitionBy()),
    )
    return kk.select(
        "event_type",
        "z_stat",
        "p_bound",
        "p_rank",
        (F.col("p_rank") <= F.col("kmax")).alias("rejected"),
    )

# --- Hurst rescaled-range analysis (round 11) ---------------------------------------
_HURST_BLOCKS = (8, 16, 32)


@register(
    "hurst_rescaled_range",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1),
    idx AS (
      SELECT cnt, CAST(ROW_NUMBER() OVER (ORDER BY h) - 1 AS BIGINT) AS i
      FROM hourly),
    cells AS (
      SELECT n, cnt, i // n AS blk, i % n AS k
      FROM idx, (SELECT unnest(ARRAY{list(_HURST_BLOCKS)}) AS n)),
    walk AS (
      SELECT n, blk, k, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY n, blk ORDER BY k
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csum,
             CAST(SUM(cnt) OVER (PARTITION BY n, blk) AS BIGINT) AS sb,
             SUM(CAST(cnt AS HUGEINT) * cnt)
                 OVER (PARTITION BY n, blk) AS sxxb,
             CAST(COUNT(*) OVER (PARTITION BY n, blk) AS BIGINT) AS nb
      FROM cells),
    blocks AS (
      SELECT n, blk,
             MAX(n * csum - (k + 1) * sb) AS devmax,
             MIN(n * csum - (k + 1) * sb) AS devmin,
             MAX(CAST(n AS HUGEINT) * sxxb - CAST(sb AS HUGEINT) * sb)
                 AS var_n2
      FROM walk WHERE nb = n
      GROUP BY 1, 2),
    rs AS (
      SELECT n, blk,
             CAST(devmax - devmin AS DOUBLE)
               / SQRT(CAST(var_n2 AS DOUBLE)) AS rs
      FROM blocks WHERE var_n2 > 0),
    agg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(CAST(rs AS DECIMAL(38,10))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_rs
      FROM rs GROUP BY 1)
    SELECT CAST(a.n AS BIGINT) AS block_size, a.n_blocks, a.mean_rs,
           (SELECT MAX(CASE WHEN n = {_HURST_BLOCKS[-1]}
                            THEN mean_rs END) FROM agg)
             / (SELECT MAX(CASE WHEN n = {_HURST_BLOCKS[0]}
                               THEN mean_rs END) FROM agg)
             AS rs_ratio_hi_lo
    FROM agg a
    """,
    tags=("events", "time_series", "hurst", "long_range_dependence",
          "statistics", "bounded_window"),
)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst rescaled-range (R/S) analysis of the hourly event-arrival
    series (Hurst 1951 / Mandelbrot-Wallis): for block sizes n in
    {_HURST_BLOCKS}, split the hour-indexed count series into blocks,
    compute each block's range of cumulative mean-deviations R over
    its standard deviation S, and average R/S per n. Long-range-
    dependent (bursty, self-similar) traffic makes R/S grow like n^H
    with H > 0.5; independent arrivals give H = 0.5 — the classical
    memory diagnostic complementing interarrival_burstiness (a static
    dispersion ratio) and acf_lags (fixed-lag linear correlation).
    The caller recovers H = log2(rs_ratio_hi_lo) / log2({_HURST_BLOCKS[-1]}
    / {_HURST_BLOCKS[0]}); the RATIO ships instead of H itself because
    ln/log are banned cross-engine (IEEE libm ulp drift — the
    dsir/zipf discipline) while the ratio is one exact division.

    Determinism: everything up to each block's R/S is exact integer
    arithmetic — n*csum - (k+1)*S_b is the n-scaled cumulative
    deviation, devmax-devmin the n-scaled range, and n*Sxx - S^2 the
    n^2-scaled variance, so R/S = (devmax-devmin)/sqrt(n*Sxx - S^2)
    cancels both scalings in one double step; per-n means accumulate
    through exact DECIMAL(38,10) (the dsum discipline).

    Scale (100 TB): the ONLY corpus-size pass is the calendar-grain
    hourly rollup (map-side combinable); the walk windows partition by
    (n, block) over the <= |hours| x {len(_HURST_BLOCKS)} cell table,
    and the hour-index ordering window is over the calendar-bounded
    hourly table (bounded_window)."""
    dec = "decimal(38,0)"
    acc = "decimal(38,10)"
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    idx = hourly.select(
        "cnt", (F.row_number().over(W.orderBy("h")) - 1).cast("long").alias("i")
    )
    sizes = F.explode(
        F.array(*[F.lit(n).cast("long") for n in _HURST_BLOCKS])
    ).alias("n")
    cells = idx.select("cnt", "i", sizes).select(
        "n",
        "cnt",
        F.expr("i div n").alias("blk"),
        (F.col("i") % F.col("n")).alias("k"),
    )
    wblk = W.partitionBy("n", "blk")
    walk = cells.select(
        "n",
        "blk",
        "k",
        F.sum("cnt")
        .over(wblk.orderBy("k").rowsBetween(W.unboundedPreceding, 0))
        .cast("long")
        .alias("csum"),
        F.sum("cnt").over(wblk).cast("long").alias("sb"),
        F.sum((F.col("cnt").cast(dec) * F.col("cnt")).cast(dec))
        .over(wblk)
        .cast(dec)
        .alias("sxxb"),
        F.count("*").over(wblk).cast("long").alias("nb"),
    )
    dev = F.col("n") * F.col("csum") - (F.col("k") + 1) * F.col("sb")
    blocks = (
        walk.filter(F.col("nb") == F.col("n"))
        .groupBy("n", "blk")
        .agg(
            F.max(dev).alias("devmax"),
            F.min(dev).alias("devmin"),
            F.max(
                (
                    F.col("n").cast(dec) * F.col("sxxb")
                    - F.col("sb").cast(dec) * F.col("sb")
                ).cast(dec)
            ).alias("var_n2"),
        )
    )
    rs = blocks.filter(F.col("var_n2") > 0).select(
        "n",
        (
            (F.col("devmax") - F.col("devmin")).cast("double")
            / F.sqrt(F.col("var_n2").cast("double"))
        ).alias("rs"),
    )
    agg = rs.groupBy("n").agg(
        F.count("*").cast("long").alias("n_blocks"),
        (
            F.sum(F.col("rs").cast(acc)).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_rs"),
    )
    hi = F.max(
        F.when(F.col("n") == _HURST_BLOCKS[-1], F.col("mean_rs"))
    ).over(W.partitionBy())
    lo = F.max(
        F.when(F.col("n") == _HURST_BLOCKS[0], F.col("mean_rs"))
    ).over(W.partitionBy())
    return agg.select(
        F.col("n").alias("block_size"),
        "n_blocks",
        "mean_rs",
        (hi / lo).alias("rs_ratio_hi_lo"),
    )

# --- Bass diffusion model fit (round 11) --------------------------------------------
_BASS_Q = 1000  # adoption-share quantization (1e-3 resolution)


@register(
    "bass_diffusion_fit",
    oracle=f"""
    WITH firsts AS (
      SELECT o_custkey, MIN(year(o_orderdate) * 12 + month(o_orderdate))
                 AS m0 FROM orders GROUP BY 1),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS u FROM firsts),
    monthly AS (
      SELECT CAST(m0 AS BIGINT) AS mth, CAST(COUNT(*) AS BIGINT) AS a
      FROM firsts GROUP BY 1),
    walk AS (
      SELECT mth, a,
             CAST(SUM(a) OVER (ORDER BY mth ROWS UNBOUNDED PRECEDING) - a
                  AS BIGINT) AS cprev
      FROM monthly),
    cells AS (
      SELECT a AS y,
             (cprev * {_BASS_Q}) // u AS s
      FROM walk, tot),
    m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS m0,
             CAST(SUM(s) AS HUGEINT) AS m1,
             SUM(CAST(s AS HUGEINT) * s) AS m2,
             SUM(CAST(s AS HUGEINT) * s * s) AS m3,
             SUM(CAST(s AS HUGEINT) * s * s * s) AS m4,
             CAST(SUM(y) AS HUGEINT) AS r0,
             SUM(CAST(y AS HUGEINT) * s) AS r1,
             SUM(CAST(y AS HUGEINT) * s * s) AS r2
      FROM cells),
    det AS (
      SELECT m0, r0, u,
             m0*(m2*m4 - m3*m3) - m1*(m1*m4 - m2*m3) + m2*(m1*m3 - m2*m2)
                 AS dd,
             r0*(m2*m4 - m3*m3) - m1*(r1*m4 - r2*m3) + m2*(r1*m3 - r2*m2)
                 AS d0,
             m0*(r1*m4 - r2*m3) - r0*(m1*m4 - m2*m3) + m2*(m1*r2 - m2*r1)
                 AS d1,
             m0*(m2*r2 - m3*r1) - m1*(m1*r2 - m2*r1) + r0*(m1*m3 - m2*m2)
                 AS d2
      FROM m, tot),
    q AS (
      SELECT CAST(m0 AS BIGINT) AS n_periods, u,
             d0 // (dd // 1000000) AS b0_e6,
             d1 // (dd // 1000000000) AS b1_e9,
             d2 // (dd // 1000000000000) AS b2_e12
      FROM det WHERE dd >= 1000000000000)
    SELECT n_periods, u AS n_adopters,
           CAST(b0_e6 AS BIGINT) AS b0_e6,
           CAST(b1_e9 AS BIGINT) AS b1_e9,
           CAST(b2_e12 AS BIGINT) AS b2_e12,
           CAST((b0_e6 * 1000) // u AS BIGINT) AS p_hat_e9,
           CAST(-((b2_e12 * 1000) // u) AS BIGINT) AS q_hat_e9
    FROM q
    """,
    tags=("events", "forecasting", "bass_diffusion", "regression",
          "statistics", "bounded_window"),
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit (Bass 1969) by the classical discrete
    OLS on the customer FIRST-PURCHASE adoption curve: monthly new
    adopters n_t regressed on the prior cumulative adoption share,
    n_t = b0 + b1*C' + b2*C'^2, whose coefficients map to the
    innovation rate p = b0/U and imitation rate q = -b2*U — the
    analogue regression every product/growth team runs on launch
    curves (complements clv_btyd_model_inputs: BTYD models repeat
    behavior, Bass models FIRST adoption; U here is the eventual
    adopter count inside the observation window, the standard
    discretization). C' is the cumulative share quantized to
    1/{_BASS_Q} so every regression moment is an exact integer; the
    3x3 normal equations solve by Cramer's rule with determinants
    expanded in 128-bit-class integers (HUGEINT / DECIMAL(38,0)) —
    the multivariate step up from ols_trend_per_group (simple OLS)
    and yule_walker_ar2 (2x2 Toeplitz). The coefficients ship as
    INTEGER-quantized ratios (b0_e6 = d0 // (dd // 1e6), ...): a
    128-bit determinant cast to double rounds DIFFERENTLY in the two
    engines once past 2^53 (the pagerank family's conversion rule),
    while nested truncating division is exact everywhere. Every
    truncating division on a DECIMAL(38,0) operand runs as
    CAST((x - x % y) / y AS DECIMAL(38,0)) — decimal-exact trunc
    toward zero, matching DuckDB's HUGEINT ``//`` for either sign of
    x — NOT Spark's ``div``, whose IntegralDivide returns a 64-bit
    LONG that silently WRAPS once the quotient passes 2^63 (dd div
    1e6 wraps for dd > ~9.2e24, well inside the documented ~1e37
    determinant bound; round-11 ADVICE finding). The quotient
    dd // 1e6 <= 1e31 has <= 32 integer digits, so Spark's
    DECIMAL(38,6) division result is exact before the scale-0 cast.
    The divisor shrink loses at most 1e-6 relative where dd >= 1e12
    (the WHERE guard; any non-degenerate multi-year fit clears it);
    the final coefficient quotients are coefficient-scale (bounded
    by the per-month adopter counts times 1e12) and fit BIGINT with
    wide margin.
    Determinant magnitudes stay under ~1e37 for corpora up to ~1e18
    adopters over a decade of months (documented bound: {_BASS_Q}^4
    per pure moment times the period count, adopter totals in the
    response moments).

    Scale (100 TB): first-touch reduction per customer (map-side
    combinable), a calendar-grain monthly rollup, a bounded_window
    cumulative walk over the month spine, one global moment
    aggregate."""
    dec = "decimal(38,0)"
    firsts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.min(
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).alias("m0")
        )
    )
    tot = firsts.agg(F.count("*").cast("long").alias("u"))
    monthly = firsts.groupBy(F.col("m0").cast("long").alias("mth")).agg(
        F.count("*").cast("long").alias("a")
    )
    walk = monthly.select(
        "mth",
        "a",
        (
            F.sum("a").over(
                W.orderBy("mth").rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("a")
        )
        .cast("long")
        .alias("cprev"),
    )
    cells = walk.crossJoin(F.broadcast(tot)).select(
        F.col("a").alias("y"),
        F.expr(f"(cprev * {_BASS_Q}) div u").alias("s"),
        "u",
    )
    sd = F.col("s").cast(dec)
    yd = F.col("y").cast(dec)
    m = cells.groupBy("u").agg(
        F.count("*").cast(dec).alias("m0"),
        F.sum("s").cast(dec).alias("m1"),
        F.sum((sd * F.col("s")).cast(dec)).cast(dec).alias("m2"),
        F.sum(((sd * F.col("s")).cast(dec) * F.col("s")).cast(dec))
        .cast(dec)
        .alias("m3"),
        F.sum(
            (((sd * F.col("s")).cast(dec) * F.col("s")).cast(dec) * F.col("s")).cast(
                dec
            )
        )
        .cast(dec)
        .alias("m4"),
        F.sum("y").cast(dec).alias("r0"),
        F.sum((yd * F.col("s")).cast(dec)).cast(dec).alias("r1"),
        F.sum(((yd * F.col("s")).cast(dec) * F.col("s")).cast(dec))
        .cast(dec)
        .alias("r2"),
    )

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        def mul(x, y):
            return (x * y).cast(dec)

        return (
            mul(a1, (mul(b2, c3) - mul(b3, c2)).cast(dec))
            - mul(a2, (mul(b1, c3) - mul(b3, c1)).cast(dec))
            + mul(a3, (mul(b1, c2) - mul(b2, c1)).cast(dec))
        ).cast(dec)

    c = {k: F.col(k) for k in ("m0", "m1", "m2", "m3", "m4", "r0", "r1", "r2")}
    det = m.select(
        "u",
        F.col("m0"),
        det3(
            c["m0"], c["m1"], c["m2"],
            c["m1"], c["m2"], c["m3"],
            c["m2"], c["m3"], c["m4"],
        ).alias("dd"),
        det3(
            c["r0"], c["m1"], c["m2"],
            c["r1"], c["m2"], c["m3"],
            c["r2"], c["m3"], c["m4"],
        ).alias("d0"),
        det3(
            c["m0"], c["r0"], c["m2"],
            c["m1"], c["r1"], c["m3"],
            c["m2"], c["r2"], c["m4"],
        ).alias("d1"),
        det3(
            c["m0"], c["m1"], c["r0"],
            c["m1"], c["m2"], c["r1"],
            c["m2"], c["m3"], c["r2"],
        ).alias("d2"),
    )
    def truncdiv(num: str, den: str) -> str:
        # Decimal-exact trunc-toward-zero division (== DuckDB HUGEINT
        # //). Spark `div` would wrap at 2^63 (see docstring).
        return f"CAST((({num}) - ({num}) % ({den})) / ({den}) AS DECIMAL(38,0))"

    q = det.filter(F.col("dd") >= 1_000_000_000_000).select(
        F.col("m0").cast("long").alias("n_periods"),
        "u",
        F.expr(truncdiv("d0", truncdiv("dd", "1000000"))).alias("b0_e6"),
        F.expr(truncdiv("d1", truncdiv("dd", "1000000000"))).alias("b1_e9"),
        F.expr(truncdiv("d2", truncdiv("dd", "1000000000000"))).alias(
            "b2_e12"
        ),
    )
    return q.select(
        "n_periods",
        F.col("u").alias("n_adopters"),
        F.col("b0_e6").cast("long").alias("b0_e6"),
        F.col("b1_e9").cast("long").alias("b1_e9"),
        F.col("b2_e12").cast("long").alias("b2_e12"),
        F.expr("CAST((b0_e6 * 1000) div u AS BIGINT)").alias("p_hat_e9"),
        F.expr("CAST(-((b2_e12 * 1000) div u) AS BIGINT)").alias("q_hat_e9"),
    )
