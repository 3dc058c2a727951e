"""Scale-hardening pattern tests (SURVEY.md §7 M8).

These verify the *plan shapes* that matter at 100 TB, not just results:
bucketed co-located joins must not shuffle, partitioned writes must
prune at read time, and the skew-salting helper must be bit-identical
to the direct aggregation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from beam_pyspark_runner_spark.functions.numeric import dsum
from beam_pyspark_runner_spark.functions.skew import salted_decimal_sum
from beam_pyspark_runner_spark.sources.readers import load_table, spread

from tests.conftest import SF_CORRECT


def _executed_plan(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Both sides bucketed on the join key → SortMergeJoin with zero
    Exchange: the co-location contract a 100 TB fact-fact join needs."""
    o = load_table(spark, SF_CORRECT, "orders")
    li = load_table(spark, SF_CORRECT, "lineitem")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "bkt_orders"))
        .mode("overwrite").saveAsTable("bkt_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "bkt_lineitem"))
        .mode("overwrite").saveAsTable("bkt_lineitem")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("bkt_lineitem")
            .join(
                spark.table("bkt_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = _executed_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert "SortMergeJoin" in plan
    assert "SelectedBucketsCount: 8 out of 8" in plan
    # result sanity vs direct join
    direct = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, direct.collect()))
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_partitioned_write_prunes_at_read(spark, tmp_path):
    """Hive-partitioned parquet layout: a filter on the partition column
    must prune directories (PartitionFilters), not scan-and-discard."""
    path = str(tmp_path / "li_by_flag")
    li = load_table(spark, SF_CORRECT, "lineitem")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    plan = back.queryExecution().executedPlan().toString() if hasattr(back, "queryExecution") else back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:200]
    expected = li.filter(F.col("l_returnflag") == "R").count()
    assert back.count() == expected


def test_salted_sum_bit_identical(spark):
    li = load_table(spark, SF_CORRECT, "lineitem")
    salted = salted_decimal_sum(
        li, ["l_returnflag"], "l_quantity", "s", n_salts=16, salt_on="l_orderkey"
    )
    direct = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("s"), F.count("*").alias("s_count")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, direct.collect()))


def test_spread_guard_skips_wide_inputs(spark):
    """spread() must be a no-op when the input already has >= default
    parallelism partitions (production sources are pre-split)."""
    df = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism * 2)
    assert spread(df) is df
    narrow = spark.range(0, 1000, 1, 1)
    assert spread(narrow).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def _plan_of(spark, name: str) -> str:
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF_CORRECT)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_push_to_scan(spark):
    """All four Q6 predicates must reach the parquet scan (PushedFilters)
    and the scan must read only the four referenced columns."""
    plan = _plan_of(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" in schema
    assert "l_returnflag" not in schema  # column pruning


def test_q1_single_aggregate_exchange(spark):
    """Q1 is partial+final HashAggregate with exactly one shuffle."""
    plan = _plan_of(spark, "q1_pricing_summary")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan  # map-side combine present


def test_q5_dimensions_broadcast(spark):
    """At sf0.01 every q5 join is a broadcast join — no sort-merge of the
    fact table against dimensions."""
    plan = _plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_minhash_no_fact_self_join(spark):
    """The LSH candidate plan must contain no join at all (bucket groupBy
    + in-bucket pair expansion), so the shingle lineage is scanned once."""
    plan = _plan_of(spark, "minhash_lsh_candidates")
    assert "Join" not in plan
    # one signature agg + one bucket agg + one distinct = 3 shuffles max
    assert plan.count("Exchange hashpartitioning") <= 3


def test_every_survey_category_has_a_query(spark):
    """Registry self-check: each north-star / §2.4 capability area keeps
    at least one registered query."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    required_tags = {
        "aggregate", "join", "window", "distinct", "sample", "grouping_sets",
        "streaming", "stateful", "dedup", "near_dedup", "minhash",
        "connected_components", "similarity", "ann", "multimodal",
        "text_analysis", "pandas_udf", "tpch", "skew", "approx",
        "event_time", "session_window", "top_k",
    }
    have = {t for q in REGISTRY.values() for t in q.tags}
    missing = required_tags - have
    assert not missing, f"capability areas without a query: {sorted(missing)}"


def _executed_plan_of(spark, name: str) -> str:
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF_CORRECT)
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_joins_all_broadcast(spark):
    """IVF search must never shuffle the corpus for a join: centroids and
    probe lists ride broadcasts (BroadcastHashJoin / broadcast NLJ), the
    corpus streams once. A SortMergeJoin or non-broadcast cartesian here
    means the 100 TB plan shuffles embeddings — a regression."""
    for name in ("ivf_topk_search", "ivf_centroid_assign"):
        plan = _executed_plan_of(spark, name)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    assert "BroadcastHashJoin" in _executed_plan_of(spark, "ivf_topk_search")


def test_lsh_family_join_free(spark):
    """Sign-hyperplane LSH and embedding near-dup build candidate pairs by
    bucket groupBy + in-bucket HOF expansion — no join, no self-join, so
    the embedding lineage is scanned exactly once."""
    for name in ("ann_lsh_buckets", "embedding_near_dup"):
        plan = _executed_plan_of(spark, name)
        assert "Join" not in plan, name
        assert plan.count("Exchange hashpartitioning") <= 2, name


def test_connected_components_converges_and_labels(spark):
    """Min-label propagation on a known graph: two chains + an isolate.
    Chains exercise multi-round propagation (diameter > 1)."""
    from beam_pyspark_runner_spark.queries.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)]
    sym = spark.createDataFrame(
        [(a, b) for a, b in edges] + [(b, a) for a, b in edges], "src long, dst long"
    )
    labels = {r.id: r.comp for r in connected_components(sym).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable_checkpoint_dir switches localCheckpoint -> checkpoint()
    (survives executor loss at scale); results must be identical."""
    from beam_pyspark_runner_spark.queries.dedup import connected_components

    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    labels = {
        r.id: r.comp
        for r in connected_components(
            sym, reliable_checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1}
    assert any((tmp_path / "ckpt").iterdir())  # checkpoints actually landed


def test_connected_components_iteration_cap(spark):
    """The cap fails loudly rather than looping forever."""
    import pytest as _pytest

    from beam_pyspark_runner_spark.queries.dedup import connected_components

    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(sym, max_iterations=1)


def test_bucketed_join_query_no_join_shuffle(spark):
    """The registered bucketed_join_colocated query must join without a
    shuffle on either fact side: the only Exchange allowed in the plan is
    the final groupBy's (and AQE may remove even that). Bucket scans must
    be active on both sides."""
    plan = _executed_plan_of(spark, "bucketed_join_colocated")
    assert "SelectedBucketsCount: 8 out of 8" in plan
    join_free = plan.split("HashAggregate")[-1]  # below the partial agg
    assert "Exchange hashpartitioning" not in join_free


def test_salted_join_spreads_hot_keys(spark):
    """salted_join must join on (key, salt): the shuffle partitioning of
    the fact side has to include the salt column, otherwise the hot key
    still lands on one reducer and the whole point is lost."""
    from beam_pyspark_runner_spark.functions.skew import salted_join

    e = load_table(spark, SF_CORRECT, "events").select("event_id", "user_id", "value")
    c = load_table(spark, SF_CORRECT, "customer").select("c_custkey", "c_mktsegment")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(e, c, "user_id", "c_custkey", salt_on="event_id")
        plan = _executed_plan(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts and all("_salt" in p for p in parts), parts


def test_partitioned_write_prune_actually_prunes(spark):
    """The partitioned-write query's read side must carry the status
    predicate as a PartitionFilter on the scan (directory pruning), not
    as a row-level PushedFilter over a full scan."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["partitioned_write_prune"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "o_orderstatus" in pf.group(1), plan[:2000]


def test_dedup_latest_uses_window_group_limit(spark):
    """Keep-newest dedup must get Spark's WindowGroupLimit rewrite with a
    Partial (map-side) phase: each input partition forwards only its own
    top-1 per key, so the shuffle carries at most one row per (partition,
    key) — the property that makes rank-filter dedup viable at 100 TB.
    A plain Window sort would shuffle every row."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["dedup_latest_by_key"].fn(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit", 1)[1].split("\n")[0] or \
        plan.count("WindowGroupLimit") >= 2


def test_merge_upsert_broadcasts_small_delta(spark):
    """merge_upsert with broadcast_updates=True must plan the anti join
    as a broadcast (map-side pass over base), not a shuffle."""
    plan = _executed_plan_of(spark, "merge_upsert_orders")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    before_union = plan.split("Union")[-1]
    assert "Exchange hashpartitioning" not in before_union


def test_tfidf_shuffle_budget(spark):
    """tfidf is single-pass: exactly three keyed shuffles — (doc, term)
    for tf, term for the df count window, doc for the top-3 rank — and
    no join. The join formulation recomputes the token-explode lineage
    twice; this budget keeps it out. (The AQE plan string repeats each
    exchange in its initial-plan section, so count distinct keys.)"""
    import re

    plan = _executed_plan_of(spark, "tfidf_top_terms")
    keys = set(re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan))
    assert len(keys) <= 3, keys
    assert "Join" not in plan


def test_global_rank_no_single_partition_window_over_data(spark):
    """global_rank_bucketed must rank inside 256 key-prefix buckets and
    broadcast the offsets — the only SinglePartition exchange allowed is
    the one over the 256-row bucket-count table."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["global_rank_bucketed"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # The data-side window partitions by bucket (parallel), never empty.
    assert "windowspecdefinition(bucket" in plan
    # Count exchanges that single-partition the *orders scan* lineage:
    # the full-data window must be hash-partitioned, not SinglePartition.
    data_side = plan.split("BroadcastExchange")[0]
    assert "Exchange SinglePartition" not in data_side


def test_global_rank_prefix_len_scales_fanout(spark):
    """prefix_len parameterizes bucket fan-out (2 → 256, 4 → 65 536 for
    100 TB inputs). Both widths keep the same plan shape (per-bucket
    window + broadcast offsets) and produce the identical global order —
    the rank is a pure function of the md5 key, not the bucketing."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    fn = REGISTRY["global_rank_bucketed"].fn
    wide = fn(spark, SF_CORRECT, prefix_len=4)
    plan = wide._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(bucket" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    data_side = plan.split("BroadcastExchange")[0]
    assert "Exchange SinglePartition" not in data_side

    narrow_rows = {tuple(r) for r in fn(spark, SF_CORRECT, prefix_len=2).collect()}
    wide_rows = {tuple(r) for r in wide.collect()}
    assert narrow_rows == wide_rows


def test_pagerank_rank_vector_broadcast(spark):
    """Each power iteration joins the edge list against the rank vector;
    the rank vector (node cardinality) must broadcast — a shuffle of the
    edge list per iteration is the 100 TB killer."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["pagerank_3iter"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 3  # one rank vector per iteration


def test_pagerank_broadcast_size_gated(spark):
    """Billion-node graphs must NOT broadcast the rank vector: with the
    threshold forced to 0 the per-iteration join falls back to a shuffle
    join (no broadcast hint on the rank lineage), and the result is
    unchanged."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    # Kill Spark's size-based auto-broadcast so the only possible
    # BroadcastExchange comes from our explicit hint — then the gate's
    # effect on the plan is directly observable at fixture scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.conf.set("spark.graft.pagerank.broadcastNodes", "0")
        df = REGISTRY["pagerank_3iter"].fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan  # shuffle-join fallback
        gated = {(r["supplier"], round(r["pagerank"], 9)) for r in df.collect()}

        spark.conf.unset("spark.graft.pagerank.broadcastNodes")
        df = REGISTRY["pagerank_3iter"].fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastExchange") >= 3  # hint overrides -1
        base = {(r["supplier"], round(r["pagerank"], 9)) for r in df.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.graft.pagerank.broadcastNodes")
    assert gated == base


def test_pagerank_reuses_edge_exchange(spark):
    """The unrolled 3-iteration lineage references the edge build ~7
    times; the executed plan must dedup those into ReusedExchange nodes
    so the lineitem self-join physically runs once — the property that
    makes unrolled iteration viable at 100 TB without persist()."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["pagerank_3iter"].fn(spark, SF_CORRECT)
    df.collect()  # AQE-final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_quantile_sketch_histogram_is_partial_agg(spark):
    """The fixed-bin histogram must partial-aggregate map-side: two
    HashAggregates around one Exchange, and the window runs over the
    <=24-row histogram only."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["quantile_bin_sketch"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n_rows"] > 0


def test_zorder_key_narrow_plan(spark):
    """Morton-key computation is map-only: no Exchange in the plan."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["zorder_key"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pii_and_repetition_filters_narrow(spark):
    """The corpus compliance + quality passes must stay shuffle-free."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    for name in ("pii_redact", "repetition_filter"):
        df = REGISTRY[name].fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, name


def test_partsupp_synthesis_no_shuffle(spark):
    """synth_partsupp must be shuffle-free: part scan × broadcast 4-row
    sequence × broadcast 1-row supplier count, all codegen."""
    from beam_pyspark_runner_spark.queries.partsupp import synth_partsupp

    plan = synth_partsupp(spark, SF_CORRECT)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2


def test_q9_fact_shuffles_and_broadcasts(spark):
    """Q9's only hash shuffles are the two fact joins (partkey+suppkey,
    orderkey) plus the final group-by; part/supplier/nation broadcast."""
    import re

    plan = _plan_of(spark, "q9_product_profit")
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"l_partkey", "ps_partkey", "l_orderkey", "o_orderkey", "nation", "n_name"}, keys
    assert plan.count("BroadcastExchange") >= 3


def test_dynamic_partition_pruning(spark, tmp_path):
    """A date-partitioned fact joined to a filtered dim on the partition
    column must prune partitions at runtime (DPP): the scan carries a
    dynamicpruning subquery instead of reading every partition — at
    100 TB this is the difference between scanning one day and a year."""
    path = str(tmp_path / "li_by_year")
    li = load_table(spark, SF_CORRECT, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    li.write.partitionBy("ship_year").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, SF_CORRECT, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.year("o_orderdate").alias("y"))
        .distinct()
    )
    j = fact.join(dim, fact.ship_year == dim.y).groupBy("ship_year").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_join(spark):
    """With a selective non-broadcast join, Spark's runtime bloom filter
    must pre-filter the probe-side scan (BloomFilterMightContain) so the
    big side drops non-joining rows before the shuffle — the runtime
    analogue of predicate pushdown for join keys. Thresholds are forced
    because the local fixture is below the production defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1000GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_CORRECT, "lineitem")
        sel = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(sel, li.l_orderkey == sel.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloomfiltermightcontain" in plan.lower() or "bloom_filter" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_python_datasource_split_parallelism(spark):
    """The custom Python DataSource must expose its declared splits as
    real scan partitions (the unit of executor parallelism), not a
    single driver-side iterator."""
    from beam_pyspark_runner_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_rows")
        .option("rows", "10000")
        .option("parts", "8")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 10000


def test_kmeans_step_no_corpus_shuffle_join(spark):
    """kmeans_lloyd_step must assign via broadcast centroids (no
    sort-merge join of the corpus) and shuffle only the per-vector
    argmax + the KxDIM partial sums."""
    plan = _plan_of(spark, "kmeans_lloyd_step")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # corpus x broadcast centroids
    import re

    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"vec_id", "centroid_id"}, keys


def test_salted_join_beats_plain_on_hot_key(spark):
    """Demonstrated skew protection, not just capability: a manufactured
    hot-key join (95% of 600k sf0.1 fact rows on one key, 1000-key dim,
    broadcast disabled to emulate a dim too big to broadcast, AQE's skew
    split not triggering — local partitions sit far under its 256 MB
    threshold, the documented 'runtime stats miss it' case) where the
    post-join work fuses into the join stage. Plain: the hot reducer
    computes ~95% of the fused work on one core. salted_join spreads it
    over n_salts reducers. Measured this session (best-of-2 each):
    plain ~1.5 s vs salted ~1.0 s (ratio ~1.5; first-trial cold ratio
    ~2.5). Both variants run same-session, interleaved, best-of-2, so
    JIT/cache warmup cancels."""
    import os
    import time

    from beam_pyspark_runner_spark.functions.skew import salted_join

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    li = load_table(spark, sf, "lineitem")
    fact = li.select(
        F.when(F.pmod(F.col("l_orderkey"), 20) != 0, F.lit(0))
        .otherwise(F.pmod(F.col("l_partkey"), 1000))
        .cast("long")
        .alias("k"),
        F.col("l_orderkey"),
        F.concat_ws("-", "l_orderkey", "l_partkey", "l_suppkey").alias("payload"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("dk"), F.repeat(F.lit("d"), 32).alias("dpay")
    )

    def work(j):
        h = F.sha2(F.concat("payload", "dpay"), 256)
        for _ in range(2):
            h = F.sha2(F.concat(h, "payload"), 256)
        return j.agg(F.count("*").alias("c"), F.max(h).alias("m"))

    def run(mode):
        t0 = time.time()
        if mode == "plain":
            j = fact.join(dim, fact["k"] == dim["dk"])
        else:
            j = salted_join(fact, dim, "k", "dk", salt_on="l_orderkey", n_salts=8)
        row = work(j).collect()[0]
        return time.time() - t0, (row["c"], row["m"])

    for key in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        spark.conf.set(key, "-1")
    try:
        run("plain")  # warmup: JIT + page cache, outside the measurement
        times = {"plain": [], "salted": []}
        results = {}
        for _ in range(3):
            for mode in ("plain", "salted"):
                dt, res = run(mode)
                times[mode].append(dt)
                results.setdefault(mode, res)
    finally:
        for key in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        ):
            spark.conf.unset(key)

    # identical result multiset (count + order-free max witness) — HARD
    assert results["plain"] == results["salted"]
    # Wall-clock comparison is an ADVISORY (r5 verdict ask #7): on a
    # loaded shared host even best-of-3 can invert; a lost race is a
    # warning, not a failure. Only a gross inversion (salted ≥ 2×
    # plain, i.e. the salting itself became the bottleneck) fails hard.
    plain, salted = min(times["plain"]), min(times["salted"])
    print(f"skew A/B: plain={plain:.2f}s salted={salted:.2f}s")
    if salted >= plain:
        import warnings

        warnings.warn(
            f"skew A/B advisory: salted did not win this run "
            f"(plain={plain:.2f}s salted={salted:.2f}s) — host load?",
            stacklevel=1,
        )
    assert salted < 2.0 * plain, (
        f"salted join grossly regressed: plain={plain:.2f}s salted={salted:.2f}s"
    )


def test_cdc_merge_upsert_broadcasts_delta(spark):
    """Pin the CDC foreachBatch merge shape (queries/streaming.py
    stream_cdc_upsert → operators/merge.py merge_upsert with
    broadcast_updates=True): the per-batch delta must join the base via
    BroadcastHashJoin LeftAnti — one map-side pass over the base, no
    shuffle of the (large) base table. If this regresses to a
    sort-merge anti join, every micro-batch would re-shuffle the whole
    state table."""
    from beam_pyspark_runner_spark.operators.merge import merge_upsert

    base = spark.range(10_000).select(
        F.col("id").alias("user_id"), F.lit(1).alias("v")
    )
    delta = spark.range(50).select(
        F.col("id").alias("user_id"), F.lit(2).alias("v")
    )
    merged = merge_upsert(base, delta, ["user_id"], broadcast_updates=True)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # semantics witness: updates win, inserts land, survivors pass
    assert merged.count() == 10_000
    assert merged.filter(F.col("v") == 2).count() == 50


def _query_plan(spark, name: str) -> str:
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY[name].fn(spark, SF_CORRECT)
    return df._jdf.queryExecution().executedPlan().toString()


def test_semantic_dedup_plan_shape(spark):
    """semantic_dedup at scale: centroids broadcast into the assignment
    crossJoin (corpus streams once), and the intra-cluster pair stage is
    a keyed join on cluster id — never an unkeyed cartesian over the
    corpus."""
    plan = _query_plan(spark, "semantic_dedup")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_count_plan_shape(spark):
    """triangle_count: degree lookups ride broadcast joins (degree table
    is node-cardinality), every other join is keyed; no cartesian
    anywhere, and the closure check is a semi join (pairs never
    materialize past it)."""
    plan = _query_plan(spark, "triangle_count")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_bpe_pair_counts_stays_jvm_side(spark):
    """bpe_pair_counts is pure codegen: tokenize/expand/count without any
    Python evaluation node — the corpus-wide stage must not pay the
    interpreter."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["bpe_pair_counts"].fn(spark, SF_CORRECT)
    df.collect()  # execute THIS plan so AQE finalizes and codegen spans show
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan
    # AQE's finalized plan marks whole-stage-codegen spans as "*(n)"
    assert "isFinalPlan=true" in plan and "*(" in plan, plan


def test_pq_plans_broadcast_codebook_no_cartesian(spark):
    """PQ at scale: the codebook / LUT sides ride broadcast joins (both
    are K×M-sized, corpus-independent) and the corpus streams once —
    no cartesian product, no shuffle keyed on anything wider than
    (vec_id, m) / (query_id, vec_id)."""
    for name in ("pq_encode", "pq_adc_topk"):
        plan = _query_plan(spark, name)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "Python" not in plan, (name, plan)  # HOF kernel stays JVM-side


def test_recursive_cte_executes_as_union_loop(spark):
    """Spark 4 recursive CTEs must resolve (no analysis error) and the
    hierarchy walk must prune the anchor scan to the supplier columns it
    needs."""
    plan = _query_plan(spark, "recursive_cte_hierarchy")
    assert "UnionLoop" in plan or "Recursion" in plan or "CTE" in plan, plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The engine-owned skew path: AQE's OptimizeSkewedJoin must split a
    hot partition at runtime once its size crosses the skew threshold —
    the mitigation that needs no query rewrite. Thresholds are lowered
    to fire at local data sizes; on a production cluster the same rule
    fires at the 256 MB default. The finalized plan must mark the
    sort-merge join's skewed side (``skew=true``) and results must be
    identical to the non-AQE answer.

    Two documented boundaries of the engine-owned path (both hit while
    building this test, both are exactly where functions/skew.py's
    salted_join remains necessary):
    - split granularity is per MAP OUTPUT: a hot reducer partition fed
      by a single mapper (here: one 20 MB parquet file = one scan task)
      cannot be split at all — hence the repartition(16) below;
    - a downstream distribution requirement on the join key (e.g.
      groupBy(k)) suppresses the split unless
      spark.sql.adaptive.forceOptimizeSkewedJoin accepts the extra
      shuffle."""
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    li = load_table(spark, sf, "lineitem").repartition(16)
    fact = li.select(
        F.when(F.pmod(F.col("l_orderkey"), 20) != 0, F.lit(0))
        .otherwise(F.pmod(F.col("l_partkey"), 1000))
        .cast("long")
        .alias("k"),
        F.concat_ws("-", "l_orderkey", "l_partkey", "l_suppkey").alias("payload"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("dk"), F.repeat(F.lit("d"), 32).alias("dpay")
    )
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # NOTE: a groupBy on the join key would inhibit the split — AQE
        # keeps a skewed SMJ intact when its output partitioning feeds a
        # downstream distribution requirement (splitting would force an
        # extra shuffle; spark.sql.adaptive.forceOptimizeSkewedJoin
        # overrides). A global agg imposes no such requirement.
        j = fact.join(dim, fact["k"] == dim["dk"]).agg(
            F.count("*").alias("c"), F.max("payload").alias("m")
        )
        # collect() (not first(): limit plans execute separately) so the
        # captured plan is the finalized AQE plan that actually ran
        row = j.collect()[0]
        got = (row["c"], row["m"])
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan, plan
    # correctness unchanged: compare against the default-conf answer
    exp = fact.join(dim, fact["k"] == dim["dk"]).agg(
        F.count("*").alias("c"), F.max("payload").alias("m")
    ).collect()[0]
    assert got == (exp["c"], exp["m"])


def test_label_prop_broadcasts_label_vector(spark):
    """label_prop_weighted: both unrolled rounds join the node-sized
    label vector into the edge list as a broadcast (the pagerank gate),
    and the argmax is an aggregate — no per-node window sort, no
    cartesian."""
    plan = _query_plan(spark, "label_prop_weighted")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_skyline_window_runs_on_levels(spark):
    """skyline_pareto: the per-nation window must evaluate over the
    aggregated balance-LEVEL table (post-groupBy), not raw customers —
    that containment is the whole scale story. Pinned by checking the
    Window's child aggregates on (c_nationkey, c_acctbal); the
    level/nation joins ride broadcasts."""
    plan = _query_plan(spark, "skyline_pareto")
    assert "Window" in plan, plan
    # the frontier filter joins levels+nation back via broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan
    window_pos = plan.index("Window")
    # children print below their parent: the Window's input subtree must
    # contain the level-building HashAggregate
    assert "HashAggregate" in plan[window_pos:], plan
    assert "CartesianProduct" not in plan, plan


def test_bitmap_intersect_single_bucket_shuffle(spark):
    """bitmap_intersect_exact: one pass over events, ONE hash exchange
    (keyed by bitmap bucket) before the scalar combine — raw user ids
    must never shuffle."""
    plan = _query_plan(spark, "bitmap_intersect_exact")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(user_id" not in plan, plan


def test_scalar_quantize_broadcasts_calibration(spark):
    """embedding_scalar_quantize: the 64-row per-dimension calibration
    table broadcasts into the encode join; corpus rows shuffle only on
    vec_id for reassembly."""
    plan = _query_plan(spark, "embedding_scalar_quantize")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dead_letter_split_stays_jvm_side(spark):
    """dead_letter_split: the whole parse-or-route pipeline is codegen —
    no Python evaluation node anywhere (the point of try_-family routing
    vs a DoFn with try/except)."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["dead_letter_split"].fn(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_no_row_python_anywhere_in_registry(spark):
    """Registry-wide anti-pattern audit, pinned: NO query plan may
    contain a row-at-a-time Python node (BatchEvalPython*). Arrow-
    batched crossings (ArrowEvalPython, MapInPandas/Arrow, FlatMap*
    InPandas) are the only sanctioned Python surfaces. With the
    session-level Arrow-UDTF flag even the UDTF queries comply; a new
    query sneaking in F.udf or a non-Arrow UDTF fails here by name."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    offenders = {}
    for name, q in sorted(REGISTRY.items()):
        if "streaming" in q.tags:
            continue  # streaming plans form at query start; covered by
            # the oracle gate + their own semantics tests
        df = q.fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders[name] = [
                l.strip()[:80] for l in plan.splitlines() if "BatchEvalPython" in l
            ][:1]
    assert not offenders, offenders


def test_incremental_merge_delta_scan_is_pruned(spark):
    """incremental_agg_merge: both state legs must push their ts
    predicate into the parquet scan (at 100 TB the 'read only the new
    partition' leg is the entire value proposition)."""
    plan = _query_plan(spark, "incremental_agg_merge")
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("GreaterThanOrEqual(ts" in p for p in pushed), pushed
    assert any("LessThan(ts" in p for p in pushed), pushed


def test_dq_contract_two_fact_scans_only(spark):
    """dq_contract_check folds all per-table rules into one conditional
    aggregate per scan: orders contributes the agg scan + the orphan
    check's key-only scan, lineitem exactly one — a per-rule-per-pass
    design would show one scan per rule."""
    plan = _query_plan(spark, "dq_contract_check")
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert plan.count("orders.parquet") == 2, plan.count("orders.parquet")


def test_daily_close_prunes_and_antijoins(spark):
    """incremental_daily_close: both history/batch legs push the ts
    predicate to the scan, the redelivery dedup is a LeftAnti join on
    event_id (ids only), and nothing cartesians except the broadcast
    1-row audit."""
    plan = _query_plan(spark, "incremental_daily_close")
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("GreaterThanOrEqual(ts" in p for p in pushed), pushed
    assert any("LessThan(ts" in p for p in pushed), pushed
    assert "LeftAnti" in plan, plan


def test_hll_datasketch_partial_agg(spark):
    """hll_datasketch_union: sketch construction must be a two-phase
    (partial/final) aggregate — constant-size sketch state merges
    map-side, raw user_ids never reach the final exchange as rows."""
    plan = _query_plan(spark, "hll_datasketch_union")
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan
    assert "partial" in plan.lower(), plan


def test_record_linkage_join_is_blocked(spark):
    """record_linkage_score: the candidate join must be keyed on the
    block (hash join on nation+mod-block), never a cartesian — blocking
    IS the entity-resolution scale story."""
    plan = _query_plan(spark, "record_linkage_score")
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_diversified_topk_prunes_groups_before_global_sort(spark):
    """diversified_topk: per-group cap runs as WindowGroupLimit (prunes
    to 2 per nation map-side) and the final 10 come from
    TakeOrderedAndProject — the global sort must never materialize."""
    plan = _query_plan(spark, "diversified_topk")
    assert "WindowGroupLimit" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_keyset_pagination_no_global_sort_materialization(spark):
    """keyset_pagination: both the anchor derivation and the page fetch
    end in TakeOrderedAndProject (bounded heaps), not a full sort."""
    plan = _query_plan(spark, "keyset_pagination")
    assert plan.count("TakeOrderedAndProject") >= 1, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_resampling_family_is_single_scan(spark):
    """poisson_bootstrap_ci / permutation_test_diff: ALL replicates are
    conditional aggregates over ONE scan — the plan must contain no
    per-replicate passes: a single parquet scan of events, no
    hash-keyed exchange (global agg only), no Python."""
    for name in ("poisson_bootstrap_ci", "permutation_test_diff"):
        plan = _query_plan(spark, name)
        assert plan.count("events.parquet") == 1, (name, plan.count("events.parquet"))
        assert "Exchange hashpartitioning" not in plan, name
        assert "Python" not in plan, name


def test_mann_whitney_ranks_distinct_values_only(spark):
    """mann_whitney_u: the rank window's input must be the per-VALUE
    aggregate (HashAggregate below the Window) — ranking raw rows is
    the unscalable formulation this query exists to avoid."""
    plan = _query_plan(spark, "mann_whitney_u")
    assert "Window" in plan, plan
    wpos = plan.index("Window")
    assert "HashAggregate" in plan[wpos:], plan


def test_sweep_line_window_is_month_partitioned(spark):
    """max_concurrent_intervals: the running sum over per-ts deltas must
    be partitioned by the month bucket (parallel), with the offsets
    joined back by broadcast — never one global-orderBy window over the
    whole timeline."""
    plan = _query_plan(spark, "max_concurrent_intervals")
    assert "windowspecdefinition(month" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_ppjoin_candidates_are_equi_joined(spark):
    """ppjoin_prefix_filter: candidate generation must be an equi-join
    on the prefix token — any nested-loop/cartesian shape means the
    prefix filter degenerated into all-pairs."""
    plan = _query_plan(spark, "ppjoin_prefix_filter")
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan


def test_merkle_diff_is_single_scan_no_join(spark):
    """merkle_bucket_diff: both versions' digests come from ONE scan of
    orders (the drift is synthesized in-expression) and the comparison
    is per-bucket aggregate state — no join anywhere."""
    plan = _query_plan(spark, "merkle_bucket_diff")
    assert plan.count("orders.parquet") == 1, plan.count("orders.parquet")
    assert "Join" not in plan, plan


def test_time_weighted_window_per_user(spark):
    """time_weighted_average: the LOCF segment window must be
    partitioned by user_id — parallelism = users, no global sort."""
    plan = _query_plan(spark, "time_weighted_average")
    assert "windowspecdefinition(user_id" in plan, plan


def test_vocab_coverage_ranks_types_not_corpus(spark):
    """vocab_coverage_curve: the ranking window's input must be the
    bigram-TYPE aggregate (HashAggregate below Window), never raw
    corpus occurrences."""
    plan = _query_plan(spark, "vocab_coverage_curve")
    assert "Window" in plan, plan
    wpos = plan.index("Window")
    assert "HashAggregate" in plan[wpos:], plan


def test_ols_trend_broadcasts_dim_and_windows_state(spark):
    """ols_trend_per_group: customer joins in by broadcast; the per-key
    window runs over the month-cell aggregate, not raw orders."""
    plan = _query_plan(spark, "ols_trend_per_group")
    assert "BroadcastHashJoin" in plan, plan
    wpos = plan.index("windowspecdefinition(nationkey")
    assert "HashAggregate" in plan[wpos:], plan


def test_sliding_distinct_merge_reads_state_not_events(spark):
    """sliding_distinct_bitmap: the 7-day OR-merge and the daily counts
    must read the pinned bitmap-state table, not re-derive the raw event
    scan per leg — the executed plan contains no events scan at all
    (state is checkpointed once)."""
    plan = _query_plan(spark, "sliding_distinct_bitmap")
    assert plan.count("events.parquet") == 0, plan.count("events.parquet")


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on the join
    key must be pruned at RUNTIME by the dim-side filter — the plan
    carries a dynamicpruning subquery on the partition column. At 100 TB
    this is the difference between scanning 7 years and scanning the
    months a filtered dimension actually selects."""
    o = load_table(spark, SF_CORRECT, "orders")
    fact_path = str(tmp_path / "orders_by_status")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("F", "finished")], ["status", "label"]
    )
    key = "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        joined = fact.join(
            dim.filter(F.col("label") == "finished"),
            fact.o_orderstatus == dim.status,
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
        n = joined.collect()[0]["n"]
        expected = o.filter(F.col("o_orderstatus") == "F").count()
        assert n == expected
    finally:
        spark.conf.set(key, prev)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE partition coalescing: a tiny aggregate must not run 32
    reduce tasks — the executed plan's shuffle read coalesces to fewer
    partitions than spark.sql.shuffle.partitions. The runtime fix for
    the over-partitioned-small-stage tax every static plan pays."""
    o = load_table(spark, SF_CORRECT, "orders")
    agg = o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan


def test_retrieval_queries_broadcast_query_side(spark):
    """triplet_mining / hybrid_search_rrf: the query side must reach the
    corpus via broadcast (no shuffle of the corpus against an 8-row /
    1-row table), and no per-row Python anywhere."""
    for name in ("triplet_mining", "hybrid_search_rrf"):
        plan = _query_plan(spark, name)
        assert "BroadcastExchange" in plan, name
        assert "Python" not in plan, name


def test_runtime_bloom_filter_join_injection(spark, tmp_path):
    """Runtime row-level filtering: with a selective dim-side filter,
    Spark injects a bloom filter built from the dim side into the fact
    scan (BloomFilterMightContain) — rows that cannot join are dropped
    BEFORE the shuffle. The row-level sibling of dynamic partition
    pruning, and at 100 TB the difference between shuffling the fact
    table and shuffling the matching sliver."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # fixture scans are far below the 10GB production default — the
        # whole point of the threshold is to skip tiny scans, so lower it
        # to demonstrate the injection mechanics at fixture scale
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_CORRECT, "lineitem")
        o = load_table(spark, SF_CORRECT, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        joined = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count("*").alias("n")
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower() or "BloomFilterMightContain" in plan, plan
        joined.collect()
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_ppjoin_plan_shape(spark):
    """ppjoin_prefix_filter (r5 verdict ask #4): the lossless set-
    similarity self-join must never degrade to a cartesian, must
    exchange ONLY on the shingle/prefix token and doc-id keys (the pair
    space stays bounded by prefix-token df², the completeness argument
    in dedup.py), and the shared shingle groupBy must be reused across
    its three consumers rather than recomputed."""
    import re

    plan = _executed_plan_of(spark, "ppjoin_prefix_filter")
    assert "CartesianProduct" not in plan, plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"s", "doc_id", "doc_a", "doc_b"}, keys
    assert "ReusedExchange" in plan, plan


def test_label_prop_plan_shape(spark):
    """label_prop_weighted (r5 verdict ask #4): the weighted-vote
    iteration must stay keyed on graph keys (src/dst/node + the
    co-occurrence build's l_orderkey) with the pair exchange reused
    across iterations — no cartesian, no unkeyed recompute per step."""
    import re

    plan = _executed_plan_of(spark, "label_prop_weighted")
    assert "CartesianProduct" not in plan, plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"src", "dst", "node", "l_orderkey"}, keys
    assert "ReusedExchange" in plan, plan


def test_dsir_and_novelty_stay_jvm_with_bounded_shuffles(spark):
    """The two new corpus-wide text ops must be pure codegen (no Python
    node) and shuffle only on their aggregation keys — the wordcount
    discipline that makes them two-pass at 100 TB."""
    import re

    for name, allowed in (
        ("dsir_importance_weights", {"b", "doc_id"}),
        ("ngram_novelty_rate", {"s", "doc_id", "first_doc"}),
    ):
        plan = _executed_plan_of(spark, name)
        assert "Python" not in plan, (name, plan[:500])
        assert "CartesianProduct" not in plan, name
        keys = {
            k.split(",")[0].split("#")[0].strip()
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        }
        assert keys <= allowed, (name, keys)


def test_ann_recall_exact_side_broadcasts_queries(spark):
    """ann_recall_at_k: the brute-force certification side must broadcast
    the query set over one corpus stream (BroadcastNestedLoopJoin), never
    a corpus-quadratic CartesianProduct; the IVF side keeps its own
    pinned shape."""
    plan = _executed_plan_of(spark, "ann_recall_at_k")
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan


def test_k_core_rounds_are_checkpoint_pinned(spark):
    """k_core_decomposition: each peel round materializes via
    localCheckpoint, so the executed plan is LINEAR — a logical-RDD scan
    plus one degree aggregate — instead of the exponential re-derivation
    of the base self-join (which measured 27 s / 1.3 MB plan at sf0.1)."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["k_core_decomposition"].fn(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
    assert "Scan ExistingRDD" in plan, plan


def test_round6_join_family_plan_shapes(spark):
    """grid_radius_join / bitemporal_asof_join / linear_classifier_
    inference: keyed or broadcast joins only — no cartesian, no Python,
    and exchanges confined to their aggregation keys."""
    import re

    for name, allowed in (
        ("grid_radius_join", {"cx", "cy", "id"}),
        ("bitemporal_asof_join", {"event_id", "o_custkey", "_groupingexpression"}),
        ("linear_classifier_inference", {"doc_id", "b"}),
    ):
        plan = _executed_plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Python" not in plan, name
        keys = {
            k.split(",")[0].split("#")[0].strip()
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        }
        assert keys <= allowed, (name, keys)


def test_markov_iteration_is_checkpoint_pinned(spark):
    """markov_removal_attribution: the transition table and each step's
    ≤25-row vector are localCheckpoint-pinned, so the final plan reads
    materialized RDDs (linear, small) instead of re-deriving the corpus
    pair count per step per variant (the 700 KB-plan failure mode)."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["markov_removal_attribution"].fn(spark, SF_CORRECT)
    rows = {r["channel"]: r for r in df.collect()}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 60_000, f"plan blew up: {len(plan)} chars"
    assert "Scan ExistingRDD" in plan
    # attribution shares are a probability split over the 4 channels
    assert set(rows) == {"click", "error", "signup", "view"}
    total = sum(r["attribution_share"] for r in rows.values())
    assert abs(total - 1.0) < 1e-9
    # conf restored after the narrowed tiny stages
    assert spark.conf.get("spark.sql.shuffle.partitions") != "1"


def test_markov_conf_restored_on_midloop_failure(spark, monkeypatch):
    """ADVICE-r6: markov_removal_attribution narrows
    spark.sql.shuffle.partitions to 1 for its tiny iteration stages;
    localCheckpoint is EAGER, so a mid-loop job failure used to leave
    the shared session serialized at 1 partition. Inject a failure on
    the first IN-LOOP localCheckpoint (the transition-table pin runs
    before the conf is narrowed) and assert the finally restores the
    session default."""
    # patch the CONCRETE class: in PySpark 4 pyspark.sql.DataFrame is
    # the abstract base; classic sessions instantiate the subclass.
    from pyspark.sql.classic.dataframe import DataFrame

    from beam_pyspark_runner_spark.queries import REGISTRY

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "1"
    real_lcp = DataFrame.localCheckpoint
    calls = {"n": 0}

    def exploding_lcp(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:  # call 1 = tv pin (pre-narrowing)
            raise RuntimeError("injected mid-loop failure")
        return real_lcp(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", exploding_lcp)
    with pytest.raises(RuntimeError, match="injected"):
        REGISTRY["markov_removal_attribution"].fn(spark, SF_CORRECT)
    monkeypatch.undo()
    assert calls["n"] >= 2, "injection never reached the loop"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_sql_scripting_restores_session_state(spark):
    """ADVICE-r6: sql_scripting_threshold_walk must not leak
    spark.sql.scripting.enabled or its bprs_script_* temp views into
    the shared session (state no other registered query mutates). The
    returned DataFrame is localCheckpoint-pinned so it stays collectable
    after the views are dropped."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    saved = spark.conf.get("spark.sql.scripting.enabled", None)
    df = REGISTRY["sql_scripting_threshold_walk"].fn(spark, SF_CORRECT)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["above_fraction"] >= 0.2
    assert spark.conf.get("spark.sql.scripting.enabled", None) == saved
    existing = {t.name for t in spark.catalog.listTables()}
    assert "bprs_script_orders" not in existing
    assert "bprs_script_bands" not in existing


def test_two_phase_quantiles_has_no_global_sort(spark):
    """two_phase_global_quantiles (round-6 verdict #5): the whole point
    is EXACT order statistics without ORDER BY over the corpus. Pin it:
    no range-partitioning exchange anywhere in the executed plan (that
    is what a global sort compiles to), data exchanges confined to the
    histogram bucket key / the pct window key, and the only
    single-partition exchange feeds the bucket-histogram walk — never
    corpus rows."""
    import re

    plan = _executed_plan_of(spark, "two_phase_global_quantiles")
    assert "rangepartitioning" not in plan, plan[:800]
    assert "CartesianProduct" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"b", "pct"}, keys


def test_winnowed_contamination_exchanges_confined_to_keys(spark):
    """substring_contamination_winnowed (round-6 verdict #5): the
    MOSS-style pass must stay a keyed pipeline — fingerprint/doc keys
    only. No cartesian, no Python, no range partitioning; every hash
    exchange is on the (doc_id, fp) dedup, the fp-keyed df-cap/join,
    or the final (train_doc, bench_doc) pair count."""
    import re

    plan = _executed_plan_of(spark, "substring_contamination_winnowed")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "rangepartitioning" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"doc_id", "fp", "train_doc", "bench_doc"}, keys


def test_round7_new_query_plan_shapes(spark):
    """Round-7 additions keep their 100 TB contracts: bm25 joins its
    statistics on (token, doc_id) keys only — no Cartesian blowup, no
    Python in the plan (round-10: the vocabulary-grain dfreq table
    lost its forced-broadcast hint, so the planner may legitimately
    pick a shuffle join for it; the pin is the join KEYS, not the
    physical strategy) — the covariance matrix contains NO join over
    corpus rows (dimension-keyed aggregation only, the broadcasts are
    d-row), and the binned interval join is a keyed equi-join — no
    BroadcastNestedLoopJoin, which is what the raw BETWEEN predicate
    would have compiled to."""
    import re

    plan = _executed_plan_of(spark, "bm25_topk")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"token", "doc_id"}, keys

    plan = _executed_plan_of(spark, "embedding_covariance_matrix")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    # only dimension-keyed aggregation (dim_i/dim_j since round 10)
    assert keys <= {"dim_i", "dim_j"}, keys

    plan = _executed_plan_of(spark, "binned_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"bin", "d", "order_date"}, keys


def test_round7_session_additions_plan_shapes(spark):
    """The round-7 session-2 additions keep their 100 TB contracts:
    matryoshka scores every truncation dim in ONE broadcast-nested-loop
    pass (no cartesian, no per-dim corpus rescan exchange); priority
    sampling's tau/truth joins ride broadcasts; balanced_range_bounds
    sorts only the 1-in-20 SAMPLE (any range exchange must be fed by
    the sample filter, and the full-table pass is exchange-free up to
    the 8-row bucket agg); the cardinality audit's rank window runs on
    the per-key frame, not data rows."""
    import re

    plan = _executed_plan_of(spark, "matryoshka_recall_curve")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"query_id", "dim"}, keys

    plan = _executed_plan_of(spark, "priority_sample_sources")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # tau + truth joins broadcast
    assert "Python" not in plan

    plan = _executed_plan_of(spark, "balanced_range_bounds")
    assert "CartesianProduct" not in plan
    # the FULL-table bucket assignment must never global-sort: no
    # rangepartitioning exchange anywhere, and every Sort node is a
    # non-global (within-partition) sort — the only sorts in the plan
    # belong to the ntile window over the 1-in-20 md5 sample, which
    # rides an Exchange SinglePartition of sample-sized input
    assert "rangepartitioning" not in plan, plan[:800]
    for line in plan.splitlines():
        if line.strip().startswith(("Sort [", "+- Sort [", "*(")) and "Sort [" in line:
            assert "], false, 0" in line, line
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"tile", "bucket"}, keys

    plan = _executed_plan_of(spark, "join_cardinality_estimate")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"user_id"}, keys


def test_round7_ml_and_sweep_plan_shapes(spark):
    """lsh_band_sweep must feed all three band configs from ONE
    signature aggregation (exchanges on the shingle/bucket/pair keys
    only — a per-config re-aggregation would show extra doc_id
    exchanges); ALS solves in codegen (no Python) and joins only on
    its rating/factor keys (round-10: the item-grain factor table lost
    its forced-broadcast hint — the planner picks the strategy, the
    pin is the join KEYS); the stump evaluates every split without any
    corpus-row window (its only exchanges build the month histogram
    and the single-partition 84-row prefix frame)."""
    import re

    plan = _executed_plan_of(spark, "lsh_band_sweep")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan

    plan = _executed_plan_of(spark, "als_user_factor_solve")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"user_id", "item_id", "o_custkey", "o_orderkey", "l_orderkey"}, keys

    plan = _executed_plan_of(spark, "regression_stump_train")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"m", "_groupingexpression"}, keys  # month expr key


def test_dynamic_partition_pruning_in_fact_scan(spark):
    """dynamic_partition_prune_join must carry a dynamicpruning
    PartitionFilter on the fact scan — the dim's quarter filter becomes
    a runtime partition list, so only ~3 of ~80 month directories are
    read. Without it the staged fact is a full scan at any scale."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["dynamic_partition_prune_join"].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_injected_and_confs_restored(spark):
    """With the BLOOM_CONFS thresholds live, the fact side of the forced
    shuffle join must be pre-filtered by bloom_filter_might_contain
    (the 100 TB shuffle-reduction mechanism), and the query itself must
    leave every session conf exactly as it found it."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.queries.io import BLOOM_CONFS, _bloom_join

    saved = {k: spark.conf.get(k, None) for k in BLOOM_CONFS}
    for k, v in BLOOM_CONFS.items():
        spark.conf.set(k, v)
    try:
        df = _bloom_join(spark, SF_CORRECT)
        # Pin the pre-execution physical plan: the injected filter lives
        # in the probe-side scan stage; AQE's final-plan rendering elides
        # the already-executed subquery stages.
        plan = df._jdf.queryExecution().executedPlan().toString()
        # physical rendering: Filter might_contain(Subquery ..., xxhash64(key))
        # fed by a bloom_filter_agg creation-side subquery
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # The registered query restores all five confs on the happy path.
    REGISTRY["runtime_bloom_filter_join"].fn(spark, SF_CORRECT).collect()
    for k, v in saved.items():
        assert spark.conf.get(k, None) == v, k


def test_round7_session3_plan_shapes(spark):
    """Session-3 additions keep their 100 TB contracts: the binary-
    quantized retrieval and its eval/classifier siblings broadcast the
    query set and never cartesian or drop to Python; span corruption
    exchanges only on doc_id (window-parallel by document); the rank
    statistics exchange only on their group/value keys and never
    range-partition (no global raw-row sort)."""
    import re

    for name in (
        "binary_hamming_topk",
        "retrieval_eval_map",
        "knn_classify_embeddings",
    ):
        plan = _executed_plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Python" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name

    plan = _executed_plan_of(spark, "span_corruption_targets")
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"doc_id"}, keys
    assert "Exchange rangepartitioning" not in plan

    for name, allowed in (
        ("spearman_rank_corr", {"grp"}),
        ("kruskal_wallis_test", {"grp", "v"}),
        ("roc_auc_exact", {"score"}),
    ):
        plan = _executed_plan_of(spark, name)
        assert "Python" not in plan, name
        keys = {
            k.split(",")[0].split("#")[0].strip()
            for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        }
        assert keys <= allowed, (name, keys)
        # global-sort guard: any rangepartitioning exchange must not be
        # feeding raw corpus rows — these plans should have none at all,
        # except spearman's per-group window sort (partitioned, not global)
        if name != "spearman_rank_corr":
            assert "Exchange rangepartitioning" not in plan, name


def test_round7_session3_wave2_plan_shapes(spark):
    """Wave-2 session-3 additions: all constant-size analytic tails ride
    broadcasts (never a shuffle keyed on a scalar), no Python, no
    cartesian products anywhere, and the iterative Weiszfeld plan's
    exchanges stay on the group key."""
    import re

    for name in (
        "shapley_channel_attribution",
        "mmd_quadratic_drift",
        "logrank_test",
        "degree_assortativity",
        "eb_shrunk_conversion",
        "boosting_residual_round",
    ):
        plan = _executed_plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "Python" not in plan, name

    plan = _executed_plan_of(spark, "weiszfeld_geometric_median")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"n_name"}, keys


def test_session4_plan_shapes(spark):
    """Round-7 session-4 additions hold their scale shapes:
    random_projection_recall broadcasts the 8-query set over one corpus
    stream (no cartesian, literal projection matrix — no Python, no
    hash calls in the scan); uncertainty_margin_sample's global
    bottom-N never materializes a full sort of the corpus aggregate
    (window group limit / top-k shape); hilbert_curve_key is one
    narrow codegen map — zero exchanges at all."""
    plan = _executed_plan_of(spark, "random_projection_recall")
    assert "CartesianProduct" not in plan, plan[:800]
    assert "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan
    assert "md5" not in plan  # matrix baked as literals, not hashed per row

    plan = _executed_plan_of(spark, "uncertainty_margin_sample")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    # the global bottom-N runs as a top-k heap (TakeOrderedAndProject
    # limit=25) with the rank window applied to the 25 survivors — the
    # corpus aggregate is never fully sorted
    assert "TakeOrderedAndProject(limit=25" in plan, plan[:1200]

    plan = _executed_plan_of(spark, "hilbert_curve_key")
    assert "Exchange" not in plan, plan[:1200]
    assert "Python" not in plan


def test_kcenter_rounds_checkpoint_pinned_no_full_sort(spark):
    """kcenter_coreset_greedy: each greedy round re-materializes the
    running min-distance table (localCheckpoint), so the final plan is
    linear over materialized RDDs, and the per-round global argmax is
    TakeOrdered (heap top-1), never a full Sort+collect of the corpus."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    df = REGISTRY["kcenter_coreset_greedy"].fn(spark, SF_CORRECT)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
    assert "Scan ExistingRDD" in plan, plan[:1200]


def test_safety_stock_topk_is_takeordered(spark):
    """safety_stock_reorder_points (round-7 verdict #3): the global
    top-25-by-volume must run as a distributed top-k heap
    (TakeOrderedAndProject), not an unpartitioned row_number window
    over the full part-grain stats table. The only window in the plan
    ranks the bounded 25-row heap result."""
    plan = _executed_plan_of(spark, "safety_stock_reorder_points")
    assert "TakeOrderedAndProject(limit=25" in plan, plan[:1200]
    # the rank window's input must be the heap output, not a corpus
    # exchange: no single-partition exchange feeding part-grain rows
    import re

    win_idx = plan.find("Window ")
    heap_idx = plan.find("TakeOrderedAndProject")
    assert win_idx != -1 and heap_idx != -1
    assert win_idx < heap_idx, "window must sit above the heap"
    assert "Python" not in plan


# --- unpartitioned-window governance (round-8 verdict #4) -------------------
# A Window with ORDER BY but no PARTITION BY funnels its whole input
# through one task. Every such window left in the repo is over a
# bounded-by-design input (bucket/offset tables, distinct-value tables,
# date spines, histograms, or TakeOrdered heap results) and its query
# carries the `bounded_window` tag. The audit below re-derives the set
# from the optimized plans so an untagged single-task window can't land
# silently.


# Moved into the package in round 10 (plans/audit.py) so
# checkpoint_audited can run the same detector on pinned segments at
# construction time; this alias keeps the test-local name.
from beam_pyspark_runner_spark.plans.audit import (  # noqa: E402
    unpartitioned_ordered_windows as _unpartitioned_ordered_windows,
)


def test_window_detector_positive_and_negative(spark):
    """The detector itself: flags a global ordered window, passes a
    partitioned one and a partitioned-unordered one."""
    df = load_table(spark, SF_CORRECT, "nation")
    from pyspark.sql import Window as W

    bad = df.withColumn(
        "rn", F.row_number().over(W.orderBy("n_nationkey"))
    )
    assert _unpartitioned_ordered_windows(
        bad._jdf.queryExecution().optimizedPlan().toString()
    )
    good = df.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("n_regionkey").orderBy("n_nationkey")
        ),
    )
    assert not _unpartitioned_ordered_windows(
        good._jdf.queryExecution().optimizedPlan().toString()
    )
    unordered = df.withColumn(
        "c", F.count("*").over(W.partitionBy("n_regionkey"))
    )
    assert not _unpartitioned_ordered_windows(
        unordered._jdf.queryExecution().optimizedPlan().toString()
    )


def test_retired_entity_grain_windows_stay_retired(spark):
    """The round-8 retirements: these queries used to put an
    unpartitioned ordered window over fact/entity-grain input. Their
    plans must now contain either NO unpartitioned ordered window, or
    only ones whose input is a bounded aggregate (pinned via the
    bounded_window tag + the gated full audit). hybrid_search_rrf,
    trending_terms_rankshift and kmv_theta_sketch_ops must be fully
    window-free."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    for name in (
        "hybrid_search_rrf",
        "trending_terms_rankshift",
        "kmv_theta_sketch_ops",
    ):
        df = REGISTRY[name].fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert not _unpartitioned_ordered_windows(plan), (name, plan[:800])


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SCALE_GATE", "0") != "1",
    reason="full-registry plan audit is opt-in: set SPARK_GRAFT_SCALE_GATE=1",
)
def test_all_unpartitioned_ordered_windows_are_tagged_bounded(spark):
    """Full-registry governance: every query whose optimized plan
    contains an unpartitioned ordered window must carry the
    bounded_window tag — the human adjudication that its windowed
    input is aggregate-grain (bucket offsets, distinct values, date
    spines, histograms, or a TakeOrdered heap result), never
    fact/entity grain."""
    from beam_pyspark_runner_spark.queries import REGISTRY

    offenders = {}
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        hits = _unpartitioned_ordered_windows(plan)
        if hits and "bounded_window" not in q.tags:
            offenders[name] = hits
    assert not offenders, offenders


# --- round 8: new-query plan pins ---------------------------------------------
def test_croston_windows_are_part_partitioned(spark):
    """croston_intermittent_demand: every window must be partitioned by
    l_partkey (entity-grain) — no single-task global window anywhere —
    and the only exchanges are the part(+week) rollup keys."""
    plan = _plan_of(spark, "croston_intermittent_demand")
    assert "SinglePartition" not in plan, plan[:800]
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.split(",")[0].strip().startswith("l_partkey"), spec


def test_benford_spine_join_broadcasts(spark):
    """benford_law_audit: the 9-row digit spine and the 1-row totals /
    chi-square frames must broadcast — the only hash exchange is the
    digit groupBy."""
    plan = _plan_of(spark, "benford_law_audit")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fk_orphan_audit_anti_joins_stay_keyed(spark):
    """fk_orphan_audit: each edge must compile to a keyed anti-join
    (broadcast or shuffled-hash/sort-merge on the key) — never a
    nested-loop over child rows."""
    plan = _plan_of(spark, "fk_orphan_audit")
    assert "CartesianProduct" not in plan
    assert plan.count("LeftAnti") >= 5


def test_stratified_kfold_window_is_stratum_partitioned(spark):
    """stratified_kfold_assignment: the fold-dealing row_number must be
    partitioned by the stratum (lang), not global."""
    plan = _plan_of(spark, "stratified_kfold_assignment")
    assert "SinglePartition" not in plan, plan[:800]
    assert "windowspecdefinition(lang" in plan


def test_hodges_lehmann_pairs_are_aggregate_grain(spark):
    """hodges_lehmann_location_shift: the pairwise-difference cross join
    must consume DAY-GRAIN AGGREGATES (calendar²-bounded), never raw
    lineitem rows — i.e. an aggregate sits below the nested-loop join on
    both sides, and no Python touches the plan."""
    plan = _plan_of(spark, "hodges_lehmann_location_shift")
    assert "Python" not in plan
    bnl = plan.find("BroadcastNestedLoopJoin")
    assert bnl != -1, plan[:800]
    below = plan[bnl:]
    assert "HashAggregate" in below, "cross join must sit above the daily rollup"


def test_sprt_walk_runs_on_date_grain(spark):
    """sprt_sequential_test: the LLR walk's ordered window must consume
    the daily rollup (an aggregate below the window), and the walk's
    arithmetic must stay integer (no doubles shuffle until the final
    1-row projection)."""
    plan = _plan_of(spark, "sprt_sequential_test")
    win = plan.find("Window ")
    assert win != -1
    assert "HashAggregate" in plan[win:], "window must sit above the daily rollup"
    assert "Python" not in plan


def test_mmr_pairwise_stage_never_rescans_embeddings(spark):
    """mmr_diversified_topk (round-8 defect, round-9 fix): the C×C
    pairwise-similarity stage used to broadcast the FULL embeddings
    table; the pool now carries its embeddings through the TakeOrdered
    checkpoint, so the pairwise lineage must contain NO parquet scan at
    all — its one BroadcastExchange ships only the ≤C-row checkpointed
    pool. (The shared helper is the same code path the registered query
    executes, so this pin cannot drift.)"""
    from beam_pyspark_runner_spark.queries.similarity import (
        _MMR_C,
        _mmr_cands_sims,
    )

    cands, sims_lazy = _mmr_cands_sims(spark, SF_CORRECT)
    assert cands.count() == _MMR_C
    plan = sims_lazy._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "BatchScan" not in plan, plan[:1200]
    assert "parquet" not in plan.lower(), plan[:1200]
    assert "BroadcastExchange" in plan  # the bounded pool side
    assert "Python" not in plan


# --- hinted-broadcast governance (round-9, verdict #3) ------------------------
# The twin of the unpartitioned-window audit above: `F.broadcast()` of a
# table that grows with the corpus is invisible at sf0.1 and an OOM at
# 100× (the round-8 mmr_diversified_topk defect). Planner-chosen
# broadcasts are size-gated by Spark itself; only HINT-forced ones
# override the gate, so the audit walks every hinted build side in the
# optimized logical plan and requires its subtree to be bounded by
# construction (aggregate / limit / literal / constant-dim / probe
# filter — see plans/audit.py) or the query to carry the
# `bounded_broadcast` adjudication tag.


def test_broadcast_detector_positive_and_negative(spark):
    """The detector itself: flags a hinted broadcast of a corpus-grain
    table (either hint side), passes limit-bounded, aggregate-bounded
    and constant-dim (nation) build sides."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts

    def bad_sides(df):
        return unbounded_hinted_broadcasts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    o = load_table(spark, SF_CORRECT, "orders")
    c = load_table(spark, SF_CORRECT, "customer")
    n = load_table(spark, SF_CORRECT, "nation")

    assert bad_sides(o.join(F.broadcast(c), o.o_custkey == c.c_custkey))
    assert bad_sides(F.broadcast(c).join(o, o.o_custkey == c.c_custkey))
    assert not bad_sides(
        o.join(F.broadcast(c.limit(100)), o.o_custkey == c.c_custkey)
    )
    assert not bad_sides(
        c.join(F.broadcast(c.groupBy("c_nationkey").count()), "c_nationkey")
    )
    assert not bad_sides(c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey))

    # Round-10 tightening (verdict #2): an Aggregate bounds only when
    # its grouping keys are provably low-cardinality. A hinted
    # broadcast of an ENTITY-grain aggregate — the degree-table /
    # distinct-user shape — grows linearly with the corpus and must
    # flag; a literal-modulus bucket aggregate and a calendar-grain
    # rollup must still pass.
    deg = o.groupBy("o_custkey").agg(F.count("*").alias("d"))
    assert bad_sides(o.join(F.broadcast(deg), "o_custkey"))
    buckets = o.groupBy(
        F.pmod(F.hash("o_custkey"), F.lit(32)).alias("band")
    ).count()
    assert not bad_sides(
        o.withColumn("band", F.pmod(F.hash("o_custkey"), F.lit(32))).join(
            F.broadcast(buckets), "band"
        )
    )
    days = o.groupBy(F.col("o_orderdate").alias("day")).count()
    assert not bad_sides(
        o.join(F.broadcast(days), o.o_orderdate == days.day)
    )
    # a checkpointed segment (LogicalRDD) carries no size evidence:
    # hint-broadcasting it must flag even though the segment happens
    # to be tiny here
    pinned = o.limit(50).localCheckpoint()
    assert bad_sides(o.join(F.broadcast(pinned), "o_orderkey"))


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SCALE_GATE", "0") != "1",
    reason="full-registry plan audit is opt-in: set SPARK_GRAFT_SCALE_GATE=1",
)
def test_all_hinted_broadcasts_are_bounded_or_tagged(spark):
    """Full-registry governance: every query whose optimized plan
    contains a hint-forced broadcast of a subtree NOT bounded by
    construction must carry the bounded_broadcast tag — the human
    adjudication that the build side's cardinality is independent of
    corpus size (mirrors the bounded_window discipline)."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts

    offenders = {}
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        hits = unbounded_hinted_broadcasts(plan)
        if hits and "bounded_broadcast" not in q.tags:
            offenders[name] = hits
    assert not offenders, offenders


# --- round 9: new-query plan pins ----------------------------------------------
def test_round9_stats_queries_stay_jvm_side(spark):
    """None of the round-9 statistics/warehouse/graph queries may fall
    out of codegen into Python — every one is built from exact integer
    aggregates and bounded windows."""
    for name in (
        "ljung_box_test",
        "durbin_watson_statistic",
        "granger_causality_lag1",
        "page_hinkley_drift",
        "jarque_bera_test",
        "huber_m_estimator_irls",
        "goodman_kruskal_gamma",
        "bridge_table_weighted_rollup",
        "edge_triangle_support",
        "simplified_silhouette",
    ):
        assert "Python" not in _plan_of(spark, name), name


def test_round9_partitioned_windows(spark):
    """ljung_box windows must partition by n_name and bridge-rollup
    windows by ps_partkey (entity grain) — no single-task window over
    corpus-grain input anywhere in either plan."""
    import re

    for name, key in (
        ("ljung_box_test", "n_name"),
        ("bridge_table_weighted_rollup", "ps_partkey"),
    ):
        plan = _plan_of(spark, name)
        # (bridge's synth_partsupp carries one legitimate SinglePartition
        # exchange: the 1-row supplier-count scalar aggregate)
        for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
            assert spec.split(",")[0].strip().startswith(key), (name, spec)


def test_round9_date_walks_run_on_daily_rollup(spark):
    """durbin_watson / page_hinkley / granger: the sequential walk must
    sit ABOVE the daily HashAggregate rollup (the sprt discipline) —
    the only corpus-sized stage is the map-side-combinable groupBy."""
    for name in (
        "durbin_watson_statistic",
        "page_hinkley_drift",
        "granger_causality_lag1",
    ):
        plan = _plan_of(spark, name)
        win = plan.find("Window ")
        assert win != -1, name
        assert "HashAggregate" in plan[win:], name


def test_huber_and_moment_queries_are_window_free(spark):
    """huber IRLS, jarque_bera and goodman_kruskal_gamma are pure
    aggregate pipelines: a Window operator appearing in any of them
    means a global sort snuck in."""
    for name in (
        "huber_m_estimator_irls",
        "jarque_bera_test",
        "goodman_kruskal_gamma",
    ):
        assert "Window" not in _plan_of(spark, name), name


def test_cross_join_detector_positive_and_negative(spark):
    """The cross-join auditor: flags corpus×corpus Cartesian products,
    passes corpus×aggregate and corpus×literal decorations."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_cross_joins

    def bad(df):
        return unbounded_cross_joins(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    o = load_table(spark, SF_CORRECT, "orders")
    c = load_table(spark, SF_CORRECT, "customer")
    assert bad(o.crossJoin(c.select("c_custkey")))
    assert not bad(o.crossJoin(c.agg(F.count("*").alias("n"))))
    assert not bad(o.crossJoin(spark.range(4)))


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SCALE_GATE", "0") != "1",
    reason="full-registry plan audit is opt-in: set SPARK_GRAFT_SCALE_GATE=1",
)
def test_all_cross_joins_have_a_bounded_side_or_tag(spark):
    """Full-registry governance, third class: every Cartesian join must
    have at least one bounded-by-construction side (an unbounded×
    unbounded cross join is quadratic at 100 TB regardless of the
    physical strategy) or the query carries the bounded_cross tag."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.plans.audit import unbounded_cross_joins

    offenders = {}
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        hits = unbounded_cross_joins(plan)
        if hits and "bounded_cross" not in q.tags:
            offenders[name] = hits
    assert not offenders, offenders


# --- round 10: checkpoint governance (verdict #3) ------------------------------
# A localCheckpoint cuts lineage, so whatever executed inside the pinned
# segment — hinted broadcasts, Cartesian joins, single-task windows — is
# invisible to every post-hoc plan audit (round-9 finding: k_core ran six
# broadcast joins no audit could see). The mandated route is
# plans.audit.checkpoint_audited, which runs all three auditors on the
# segment's optimized plan BEFORE materializing.


def test_query_code_never_checkpoints_directly():
    """Every checkpoint in query code must go through checkpoint_audited
    (or carry a site-recorded adjudication through it) — a direct
    .localCheckpoint()/.checkpoint() call silently exempts its segment
    from plan governance."""
    import glob
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent / "beam_pyspark_runner_spark"
    offenders = []
    for path in glob.glob(str(root / "queries" / "*.py")) + glob.glob(
        str(root / "streaming" / "*.py")
    ):
        src = open(path).read()
        for lineno, line in enumerate(src.splitlines(), 1):
            code = line.split("#", 1)[0]
            if ".localCheckpoint(" in code or ".checkpoint(" in code:
                offenders.append(f"{path}:{lineno}")
    assert not offenders, offenders


def test_checkpoint_audited_rejects_corpus_grain_broadcast(spark):
    """The construction-time audit must reproduce the k_core bug class:
    pinning a segment that hint-broadcasts an entity-grain aggregate
    raises; the same segment passes once adjudicated, and a governed
    segment pins clean."""
    import pytest as _pytest

    from beam_pyspark_runner_spark.plans.audit import checkpoint_audited

    o = load_table(spark, SF_CORRECT, "orders")
    deg = o.groupBy("o_custkey").agg(F.count("*").alias("d"))
    bad = o.join(F.broadcast(deg), "o_custkey")
    with _pytest.raises(RuntimeError, match="plan governance"):
        checkpoint_audited(bad)
    # single-task ordered window inside the segment must also raise
    from pyspark.sql import Window as _W

    ranked = o.withColumn("rn", F.row_number().over(_W.orderBy("o_orderkey")))
    with _pytest.raises(RuntimeError, match="unpartitioned ordered window"):
        checkpoint_audited(ranked)
    # the recorded-adjudication escape hatch and the governed path both pin
    assert checkpoint_audited(bad, adjudicated="detector test").count() > 0
    good = o.join(F.broadcast(deg.limit(10)), "o_custkey")
    assert checkpoint_audited(good).count() >= 0


# --- round 10: new-query plan pins ----------------------------------------------
def test_round10_queries_stay_jvm_side(spark):
    """None of the round-10 queries may fall out of codegen into
    Python — every one is built from exact integer aggregates, bounded
    windows, and built-in functions."""
    for name in (
        "mann_kendall_trend",
        "cochran_armitage_trend",
        "sax_symbolization",
        "rank_biased_overlap",
        "grubbs_max_deviate",
        "mahalanobis_diag_outliers",
        "rocchio_centroid_classify",
    ):
        assert "Python" not in _plan_of(spark, name), name


def test_round10_pairwise_stages_are_calendar_bounded(spark):
    """mann_kendall's pairwise sign stage must join two DATE-grain
    aggregates (days² pairs, corpus-independent) — both join inputs sit
    above the daily HashAggregate, never on raw lineitem rows."""
    plan = _executed_plan_of(spark, "mann_kendall_trend")
    assert "CartesianProduct" not in plan
    # the only corpus-sized exchanges build the daily rollup
    import re

    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"d", "v", "d1", "d2", "_groupingexpression"}, keys


def test_round10_aggregate_only_shapes_are_window_free(spark):
    """cochran_armitage and grubbs are pure aggregate pipelines: a
    Window operator appearing in either means a global sort snuck in."""
    for name in ("cochran_armitage_trend", "grubbs_max_deviate"):
        assert "Window" not in _plan_of(spark, name), name


def test_round10_entity_partitioned_windows(spark):
    """rocchio's argmax window must partition by vec_id (entity grain);
    sax is window-free (groupBy + ordered-array fold only)."""
    import re

    plan = _plan_of(spark, "rocchio_centroid_classify")
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.split(",")[0].strip().startswith("vec_id"), spec
    assert "Window" not in _plan_of(spark, "sax_symbolization")


def test_round10_topk_uses_takeordered(spark):
    """mahalanobis' top-10 must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort."""
    plan = _executed_plan_of(spark, "mahalanobis_diag_outliers")
    assert "TakeOrderedAndProject" in plan


def test_round10_contamination_join_is_gram_keyed(spark):
    """ngram_contamination_audit must stay an equi-join on the gram key
    (plus the doc-grain rollup) — never Cartesian, never Python."""
    import re

    plan = _executed_plan_of(spark, "ngram_contamination_audit")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"s", "doc_id"}, keys


# --- round 10 (session 2): nn-descent + cooks distance pins ---------------------
def test_nn_descent_plan_is_vec_id_keyed_and_jvm_side(spark):
    """nn_descent_round_recall: every exchange is vec_id-keyed (the
    expansion/scoring equi-joins), every window is vec_id-partitioned,
    and nothing falls to Python or a Cartesian product — the only
    nested-loop joins are 1-row scalar (corpus count) and literal
    probe-set broadcasts."""
    import re

    plan = _executed_plan_of(spark, "nn_descent_round_recall")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"vec_id", "nbr"}, keys
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.split(",")[0].strip().startswith("vec_id"), spec


def test_cooks_distance_windows_are_nation_partitioned(spark):
    """cooks_distance_influence: the SSE and top-3 windows partition by
    nationkey (dimension grain above the calendar rollup) and the plan
    stays JVM-side with customer-key/nation-key exchanges only."""
    import re

    plan = _executed_plan_of(spark, "cooks_distance_influence")
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    keys = {
        k.split(",")[0].split("#")[0].strip()
        for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    }
    assert keys <= {"c_nationkey", "nationkey", "o_custkey", "c_custkey", "x"}, keys
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.split(",")[0].strip().startswith("nationkey"), spec


def test_broadcast_detector_multiplies_composite_caps(spark):
    """Round-10 session-2 tightening: boundedness caps MULTIPLY across
    grouping keys. A hinted broadcast of a nation x balance-domain
    composite level table (25 x 1.1M = 27.5M rows — the skyline shape)
    must flag even though each key alone is bounded; the single-key
    balance histogram (1.1M cap) still passes; a raw o_totalprice level
    table (6e7-value domain, past AGG_CARD_CAP by itself) flags; and
    grouping by scalars carried off a global aggregate (the huber IRLS
    chain) resolves to ONE row and passes."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts

    def bad_sides(df):
        return unbounded_hinted_broadcasts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    o = load_table(spark, SF_CORRECT, "orders")
    c = load_table(spark, SF_CORRECT, "customer")

    levels = c.groupBy("c_nationkey", "c_acctbal").agg(
        F.count("*").alias("m")
    )
    assert bad_sides(
        c.join(F.broadcast(levels), ["c_nationkey", "c_acctbal"])
    )
    hist = c.groupBy("c_acctbal").agg(F.count("*").alias("m"))
    assert not bad_sides(c.join(F.broadcast(hist), "c_acctbal"))
    tp_levels = o.groupBy("o_totalprice").agg(F.count("*").alias("m"))
    assert bad_sides(o.join(F.broadcast(tp_levels), "o_totalprice"))

    scalars = o.agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
    )
    step = (
        o.crossJoin(F.broadcast(scalars))
        .groupBy("n", "s")
        .agg(F.avg("o_totalprice").alias("m1"))
    )
    assert not bad_sides(o.crossJoin(F.broadcast(step)))


def test_broadcast_detector_window_outputs_and_entity_probes(spark):
    """Round-11 tightening — the two corners the round-10 verdict
    confirmed live, as detector negatives:

    (a) a Window OUTPUT must not inherit a cap from its spec columns:
    ``row_number() OVER (ORDER BY l_quantity)`` takes partition-size
    many values, not 50 — a hinted broadcast of a
    ``groupBy(row_number_output).count()`` over a corpus scan flags;
    ``ntile(n)`` caps at its literal n and a windowed ``min`` of a
    capped column at that column's domain, so both still pass.

    (b) a key-equality-to-literal probe certifies only keys with
    model-bounded per-key multiplicity: ``events.user_id = <lit>``
    selects one user's whole history — which grows with corpus TIME —
    so a hinted broadcast of that slice flags; a ``vec_id`` (embeddings
    PK) probe still passes."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts
    from pyspark.sql import Window as W

    def bad_sides(df):
        return unbounded_hinted_broadcasts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    li = load_table(spark, SF_CORRECT, "lineitem")
    e = load_table(spark, SF_CORRECT, "events")
    emb = load_table(spark, SF_CORRECT, "embeddings")

    # (a) positive: row_number inherits NO cap from ORDER BY l_quantity
    rn_agg = li.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("l_orderkey").orderBy("l_quantity")
        ),
    ).groupBy("rn").count()
    assert bad_sides(
        li.withColumn("rn", F.lit(1)).join(F.broadcast(rn_agg), "rn")
    )
    # (a) negatives: ntile(4) caps at 4; windowed min passes its
    # argument's value domain (l_quantity: 50) through
    nt_agg = li.withColumn(
        "q4",
        F.ntile(4).over(W.partitionBy("l_orderkey").orderBy("l_quantity")),
    ).groupBy("q4").count()
    assert not bad_sides(
        li.withColumn("q4", F.lit(1)).join(F.broadcast(nt_agg), "q4")
    )
    mn_agg = li.withColumn(
        "mn",
        F.min("l_quantity").over(W.partitionBy("l_orderkey")),
    ).groupBy("mn").count()
    assert not bad_sides(
        li.withColumn("mn", F.col("l_quantity")).join(
            F.broadcast(mn_agg), "mn"
        )
    )

    # (b) positive: one user's history is not a bounded row set
    probe = e.filter(F.col("user_id") == 42)
    assert bad_sides(e.join(F.broadcast(probe), "user_id"))
    # (b) negative: embeddings PK probe selects a fixed row batch
    q = emb.filter(F.col("vec_id") < 8).select("vec_id", "label")
    assert not bad_sides(emb.join(F.broadcast(q.select("vec_id")), "vec_id"))

    # round-11 self-probe hardening: a probe equality certifies only as
    # a plain CONJUNCT — under NOT it selects the COMPLEMENT
    # (everything but one row) and inside an OR it is one leg of a
    # union that can be corpus-sized regardless of print order.
    docs = load_table(spark, SF_CORRECT, "documents")
    comp = docs.filter(~(F.col("doc_id") == 3)).select("doc_id")
    assert bad_sides(docs.join(F.broadcast(comp), "doc_id"))
    disj = docs.filter(
        (F.col("doc_id") == 3) | (F.col("lang") == "en")
    ).select("doc_id")
    assert bad_sides(docs.join(F.broadcast(disj), "doc_id"))
    conj = emb.filter(
        (F.col("vec_id") == 3) & (F.col("label") >= 0)
    ).select("vec_id")
    assert not bad_sides(emb.join(F.broadcast(conj), "vec_id"))

    # a probe over a CHECKPOINTED segment must not certify: the pinned
    # plan can be an equi-join fan-out carrying corpus-scale rows per
    # key under the probe column's name — LogicalRDD leaves carry no
    # multiplicity evidence (round-11 self-probe hardening)
    pinned = docs.select("doc_id", "lang").localCheckpoint()
    pk = pinned.filter(F.col("doc_id") == 3)
    assert bad_sides(docs.join(F.broadcast(pk), "doc_id"))


def test_broadcast_detector_round12_advice_rules(spark):
    """Round-12 tightening — the three round-11 ADVICE audit findings,
    as detector positives/negatives:

    (a) _agg_image_cap is ALLOWLIST-polarity: an aggregate the growing
    regex does not name (bitmap_construct_agg escapes ``bit_\\w+``)
    must NOT certify at its argument-domain cap — its image grows with
    group content. Value-passing min and grouping-KEY expressions under
    an unbounded co-key still certify.

    (b) lag/lead image includes the DEFAULT argument: an
    attribute default with uncapped domain un-certifies the output;
    the absent-default (NULL) form still caps at domain+1, as does
    nth_value.

    (c) the hex-substring cap applies only to fixed-width digests:
    ``substring(hex(id), 1, 4)`` (variable-length producer) and an
    out-of-digest md5 slice fall back to image-of-domain; an in-digest
    md5 prefix still certifies 16^len."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts
    from pyspark.sql import Window as W

    def bad_sides(df):
        return unbounded_hinted_broadcasts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    li = load_table(spark, SF_CORRECT, "lineitem")
    docs = load_table(spark, SF_CORRECT, "documents")

    # (a) positive: bitmap_construct_agg image grows with group content
    bm = li.groupBy("l_orderkey").agg(
        F.expr("bitmap_construct_agg(cast(l_quantity % 8 as int))").alias("bm")
    )
    assert bad_sides(bm.join(F.broadcast(bm.groupBy("bm").count()), "bm"))
    # (a) negatives: value-passing min certifies at its argument's
    # domain; a grouping-KEY expression certifies by image even when
    # the co-key makes the grain unbounded
    mn = li.groupBy("l_orderkey").agg(F.min("l_quantity").alias("mn"))
    assert not bad_sides(mn.join(F.broadcast(mn.groupBy("mn").count()), "mn"))
    g3 = li.groupBy(
        "l_orderkey", (F.col("l_quantity") % 5).alias("qb")
    ).agg(F.count("*").alias("c"))
    assert not bad_sides(g3.join(F.broadcast(g3.groupBy("qb").count()), "qb"))

    # (b) positive: lag DEFAULT is an uncapped attribute
    lag_bad = li.withColumn(
        "lg",
        F.expr(
            "lag(l_quantity, 1, cast(l_suppkey as double)) over "
            "(partition by l_orderkey order by l_linenumber)"
        ),
    ).groupBy("lg").count()
    assert bad_sides(
        li.withColumn("lg", F.lit(1.0)).join(F.broadcast(lag_bad), "lg")
    )
    # (b) negatives: absent default (NULL edge) caps at domain+1;
    # nth_value caps at domain+1
    lag_ok = li.withColumn(
        "lg",
        F.lag("l_quantity", 1).over(
            W.partitionBy("l_orderkey").orderBy("l_linenumber")
        ),
    ).groupBy("lg").count()
    assert not bad_sides(
        li.withColumn("lg", F.col("l_quantity")).join(
            F.broadcast(lag_ok), "lg"
        )
    )
    nth_ok = li.withColumn(
        "nv",
        F.nth_value("l_quantity", 3).over(
            W.partitionBy("l_orderkey").orderBy("l_linenumber")
        ),
    ).groupBy("nv").count()
    assert not bad_sides(
        li.withColumn("nv", F.col("l_quantity")).join(
            F.broadcast(nth_ok), "nv"
        )
    )

    # (c) positive: hex(...) is variable-length — no 16^len cap
    hx = docs.groupBy(
        F.expr("substring(hex(doc_id), 1, 4)").alias("hk")
    ).agg(F.count("*").alias("c"))
    assert bad_sides(docs.crossJoin(F.broadcast(hx)))
    # (c) positive: md5 slice past the 32-char digest end
    over = docs.groupBy(
        F.expr("substring(md5(cast(doc_id as string)), 29, 8)").alias("hk")
    ).agg(F.count("*").alias("c"))
    assert bad_sides(docs.crossJoin(F.broadcast(over)))
    # (c) negative: in-digest md5 prefix still certifies 16^4
    pref = docs.groupBy(
        F.expr("substring(md5(cast(doc_id as string)), 1, 4)").alias("hk")
    ).agg(F.count("*").alias("c"))
    assert not bad_sides(docs.crossJoin(F.broadcast(pref)))


def test_broadcast_detector_round12_self_probes(spark):
    """Round-12 adversarial self-probe (verdict #5), pinned:

    (a) RENAMED-ALIAS PROBE: a Filter on a column renamed to a
    probe-key name, held above the renaming Project by a
    nondeterministic sibling (rand blocks predicate pushdown), must
    not certify — the probed name is evidence only when it is the
    relation's own column (no in-plan definition).

    (b) UNBALANCED VALUE-PASSING CAPTURE: ``max(a) + max_by(b, c)``
    matches ``^max\\((.*)\\)$`` with a paren-unbalanced pseudo-argument;
    the balance gate must push it to the composite path, where the
    unrecognized max_by head keeps the None default. The balanced
    composite of recognized maxes (the shapley bitmask shape) still
    certifies.

    (c) COMPOSITE CALENDAR HEAD: datediff over value-passing maxes
    (the logrank lifespan shape) stays certified — the outermost
    calendar head bounds the image regardless of aggregate args."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts

    def bad_sides(df):
        return unbounded_hinted_broadcasts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    e = load_table(spark, SF_CORRECT, "events")
    li = load_table(spark, SF_CORRECT, "lineitem")

    # (a) positive: renamed probe above a pushdown-blocking Project
    e2 = e.select(F.col("user_id").alias("fake_custkey"), F.rand().alias("r"))
    probe = e2.filter(F.col("fake_custkey") == 42)
    j = e2.join(F.broadcast(probe), "fake_custkey")
    plan = j._jdf.queryExecution().optimizedPlan().toString()
    assert any(  # the adversarial shape actually materialized…
        "Filter" in ln and "fake_custkey" in ln and "= 42" in ln
        for ln in plan.splitlines()
    ), plan
    assert unbounded_hinted_broadcasts(plan)  # …and is rejected

    # (b) positive: unbalanced capture falls to the composite path,
    # where the unknown max_by head keeps None
    z = li.groupBy("l_orderkey").agg(
        (F.max("l_quantity") + F.expr("max_by(l_tax, l_quantity)")).alias("z")
    )
    assert bad_sides(z.join(F.broadcast(z.groupBy("z").count()), "z"))
    # (b) negative: balanced composite of recognized maxes certifies
    # (50 * 9 image product — the shapley bitmask shape)
    z2 = li.groupBy("l_orderkey").agg(
        (F.max("l_quantity") + F.lit(100) * F.max("l_tax")).alias("z2")
    )
    assert not bad_sides(z2.join(F.broadcast(z2.groupBy("z2").count()), "z2"))

    # (c) negative: calendar head over aggregates stays certified
    span = e.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).alias("t")
    )
    hist = span.groupBy("t").agg(F.count("*").alias("d"))
    assert not bad_sides(span.join(F.broadcast(hist), "t"))


def test_broadcast_detector_aggregate_image_and_alias_rules(spark):
    """Round-11 tightening (round-10 ADVICE #1/#4 follow-through):

    (1) image-of-domain reasoning stops at growing aggregates — a
    per-entity ``count(*)`` / ``sum(capped_col)`` level table flags
    (count(1) must not read as a pure literal, sum(l_quantity) must
    not read as 50) while ``min(l_quantity)`` still passes its
    argument's domain through;

    (2) a visible definition beats the name cap in BOTH directions: a
    ``pmod(x, 1000000)`` aliased to a trusted bucket name carries its
    provable 1e6 image (so x25 nation composite = 25M > AGG_CARD_CAP
    flags), and a corpus-grain expression aliased ``label`` no longer
    certifies by name — while an honest all-literal CASE label still
    does."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_hinted_broadcasts

    def bad_sides(df):
        return unbounded_hinted_broadcasts(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    o = load_table(spark, SF_CORRECT, "orders")
    li = load_table(spark, SF_CORRECT, "lineitem")
    e = load_table(spark, SF_CORRECT, "events")

    # (1) growing-aggregate images
    cnt_levels = (
        o.groupBy("o_custkey").agg(F.count("*").alias("c"))
        .groupBy("c").count()
    )
    assert bad_sides(
        o.withColumn("c", F.lit(1)).join(F.broadcast(cnt_levels), "c")
    )
    sum_levels = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
        .groupBy("s").count()
    )
    assert bad_sides(
        li.withColumn("s", F.lit(1)).join(F.broadcast(sum_levels), "s")
    )
    min_levels = (
        li.groupBy("l_orderkey").agg(F.min("l_quantity").alias("mn"))
        .groupBy("mn").count()
    )
    assert not bad_sides(
        li.withColumn("mn", F.col("l_quantity")).join(
            F.broadcast(min_levels), "mn"
        )
    )

    # (2) definition-over-name in both directions
    wide_bucket = li.select(
        F.pmod(F.hash("l_partkey"), F.lit(1_000_000)).alias("price_bucket"),
        (F.col("l_suppkey") % 25).alias("nk"),
    ).groupBy("price_bucket", "nk").count()
    assert bad_sides(
        li.withColumn("price_bucket", F.lit(1))
        .withColumn("nk", F.lit(1))
        .join(F.broadcast(wide_bucket), ["price_bucket", "nk"])
    )
    alias_label = e.select(
        F.concat(F.col("user_id").cast("string"), F.lit("_x")).alias("label")
    ).groupBy("label").count()
    assert bad_sides(
        e.withColumn("label", F.lit("a")).join(
            F.broadcast(alias_label), "label"
        )
    )
    case_label = e.select(
        F.when(F.col("value") > 50, F.lit("hi"))
        .when(F.col("value") > 10, F.lit("mid"))
        .otherwise(F.lit("lo"))
        .alias("label")
    ).groupBy("label").count()
    assert not bad_sides(
        e.withColumn("label", F.lit("a")).join(
            F.broadcast(case_label), "label"
        )
    )


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SCALE_GATE", "0") != "1",
    reason="full-registry plan audit is opt-in: set SPARK_GRAFT_SCALE_GATE=1",
)
def test_no_stale_adjudication_tags(spark):
    """Full-registry governance, converse direction: every bounded_*
    adjudication tag must still FIRE its auditor. A tag whose audit
    finds nothing is stale — it documents a hazard that no longer
    exists and would silently absorb a FUTURE regression of the same
    class (the tag eats the new hit). When the audit learns to prove a
    site bounded, the tag must come off."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.plans.audit import (
        unbounded_cross_joins,
        unbounded_hinted_broadcasts,
        unpartitioned_ordered_windows,
    )

    auditors = {
        "bounded_broadcast": unbounded_hinted_broadcasts,
        "bounded_cross": unbounded_cross_joins,
        "bounded_window": unpartitioned_ordered_windows,
    }
    stale = {}
    for name, q in REGISTRY.items():
        rel = set(q.tags) & set(auditors)
        if not rel:
            continue
        df = q.fn(spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for t in rel:
            if not auditors[t](plan):
                stale[f"{name}:{t}"] = True
    assert not stale, stale


# --- round 11: new-query plan pins ----------------------------------------------
def test_round11_queries_stay_jvm_side(spark):
    """None of the round-11 statistics/graph/recursive queries may fall
    out of codegen into Python — every one is exact integer aggregates,
    partitioned/bounded windows and built-in functions. (The one
    deliberate exception, video_keyframe_delta_stub's decode kernel,
    has its own pin below.)"""
    for name in (
        "welch_t_test",
        "generalized_esd_outliers",
        "benjamini_hochberg_fdr",
        "hurst_rescaled_range",
        "bass_diffusion_fit",
        "hoover_index_decomposition",
        "hnsw_level_assignment",
        "betweenness_centrality_sampled",
        "recursive_cte_cycle_guard",
    ):
        assert "Python" not in _plan_of(spark, name), name


def test_round11_aggregate_only_shapes_are_window_free(spark):
    """welch, hoover and hnsw are pure aggregate/map pipelines: a
    Window operator in any of them means a global sort snuck in."""
    for name in (
        "welch_t_test",
        "hoover_index_decomposition",
        "hnsw_level_assignment",
    ):
        assert "Window" not in _plan_of(spark, name), name


def test_round11_partitioned_windows(spark):
    """The round-11 windows that run over corpus-grain rows must be
    PARTITIONED: ESD's extreme-instance ranks by event_type, hurst's
    block walks by (n, blk), keyframe's lag by doc_id. (BH / hurst-index
    / bass also carry bounded_window-tagged walks over enum- or
    calendar-bounded aggregates — covered by the tag gate.)"""
    import re

    for name, lead in (
        ("generalized_esd_outliers", "event_type"),
        ("video_keyframe_delta_stub", "doc_id"),
    ):
        plan = _plan_of(spark, name)
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, name
        for spec in specs:
            assert spec.split(",")[0].split("#")[0].strip() == lead, (name, spec)
    # ESD's two extreme-instance ranks must keep their map-side top-3
    # pushdown (an OR across both ranks defeats it — found live)
    assert _plan_of(spark, "generalized_esd_outliers").count(
        "WindowGroupLimit"
    ) >= 2
    plan = _plan_of(spark, "hurst_rescaled_range")
    parted = [
        s
        for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if s.split(",")[0].split("#")[0].strip() == "n"
    ]
    assert parted, "hurst block walks must partition by (n, blk)"


def test_round11_walks_run_above_calendar_rollup(spark):
    """hurst (hourly) and bass (monthly): the sequential walk must sit
    ABOVE the calendar-grain HashAggregate rollup — the only
    corpus-sized stage is the map-side-combinable groupBy (the
    durbin/sprt discipline)."""
    for name in ("hurst_rescaled_range", "bass_diffusion_fit"):
        plan = _plan_of(spark, name)
        win = plan.find("Window")
        assert win != -1, name
        assert "HashAggregate" in plan[win:], name


def test_round11_betweenness_has_no_cartesian_and_bounded_state(spark):
    """Brandes must stay frontier-shaped: no CartesianProduct anywhere
    (the naive all-pairs betweenness), no Python, and the backward pass
    accumulates through exact decimal sums (plan shows decimal(38,10)
    accumulators)."""
    plan = _plan_of(spark, "betweenness_centrality_sampled")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan
    assert "decimal(38,10)" in plan


def test_round11_keyframe_decision_is_jvm_side(spark):
    """video_keyframe_delta_stub: exactly ONE Arrow hop (the decode
    kernel); the lag window and keyframe filter run JVM-side above it."""
    plan = _plan_of(spark, "video_keyframe_delta_stub")
    assert plan.count("MapInPandas") == 1, "decode kernel is the one Arrow hop"
    win = plan.find("Window")
    assert win != -1 and "MapInPandas" in plan[win:], (
        "keyframe lag window must sit above the decode kernel"
    )


def test_round11_cycle_guard_terminates_and_is_exact(spark):
    """recursive_cte_cycle_guard must terminate under the engine
    recursion cap (the guard, not the cap, ends every trajectory) and
    reproduce Pollard's rho decomposition exactly: rho = tail + cycle
    for every node, verified against a plain-Python walk."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.queries.recursive import _RHO_N

    rows = {
        r["node"]: (r["rho_len"], r["tail_len"], r["cycle_len"])
        for r in REGISTRY["recursive_cte_cycle_guard"]
        .fn(spark, SF_CORRECT)
        .collect()
    }
    assert len(rows) == _RHO_N
    for k in range(_RHO_N):
        seen = {k: 0}
        cur, d = k, 0
        while True:
            nxt = (cur * cur + 1) % _RHO_N
            if nxt in seen:
                expect = (d + 1, seen[nxt], d + 1 - seen[nxt])
                break
            d += 1
            seen[nxt] = d
            cur = nxt
        assert rows[k] == expect, (k, rows[k], expect)


def test_agg_image_cap_composite_unit_edges():
    """Spark-free unit pins for _agg_image_cap's round-12 composite
    path — the shapes the detector tests exercise through full plans,
    held here at the function level so a refactor that drifts any one
    of them fails in milliseconds:

    - a CASE whose THEN carries a value-passing max caps at
      branch-count x the max argument's domain;
    - a literal output caps at 1; an unknown aggregate head
      (histogram_numeric) keeps None;
    - a paren-unbalanced top-level capture (max + max_by) keeps None;
    - a balanced bitmask composite multiplies its maxes' images;
    - an outermost calendar head bounds datediff-of-maxes at the
      signed day spine; a growing aggregate inside a value-passing
      argument keeps None."""
    from beam_pyspark_runner_spark.plans.audit import (
        _agg_image_cap,
        _balanced,
    )

    node = (
        "Aggregate [user_id#1L], [user_id#1L, CASE WHEN (x#2 = 1) "
        "THEN max(l_quantity#3) ELSE 0 END AS z#9]"
    )
    sub = [(0, node)]

    def cap(defn):
        return _agg_image_cap(defn, node, sub, 0)

    assert cap(
        "CASE WHEN (x#2 = 1) THEN max(l_quantity#3) ELSE 0 END"
    ) == 100  # 2 branches x 50-value domain
    assert cap("1") == 1
    assert cap("histogram_numeric(l_quantity#3, 3)") is None
    assert cap("max(l_tax#4) + max_by(l_tax#4, l_quantity#3)") is None
    assert cap("(max(l_tax#4) + (2 * max(l_tax#4)))") == 81  # 9 x 9
    assert cap(
        "datediff(cast(max(ts#5) as date), cast(min(ts#5) as date))"
    ) == 8192  # 2 x calendar spine
    assert cap("max(sum(x#2))") is None
    assert not _balanced("a#1) + max_by(b#2, c#3")
    assert _balanced("coalesce(a#1, b#2)")
    # round-13 probe: Catalyst prints regex/string literals BARE with
    # backslash-escaped parens — pattern characters, not call structure
    assert _balanced(r"regexp_extract(text#1, \((\d+), 1)")
    assert _balanced(r"split(s#1, \), -1)")
    # a bare unescaped paren inside a literal (char class) stays
    # conservative — unbalanced, falls to the composite path
    assert not _balanced(r"regexp_extract(s#1, [(], 1)")


def test_window_image_cap_unit_edges():
    """Spark-free unit pins for _window_image_cap's round-12 lag/lead
    default handling (ADVICE #3) and its balance gate: NULL and literal
    defaults add one image value, an attribute default adds its own
    domain cap (None when uncapped), nth_value gets its
    short-partition NULL, ntile/min/row_number keep their round-11
    semantics, a growing aggregate inside lag keeps None, and a FILTER
    clause (paren-unbalanced capture) keeps None."""
    from beam_pyspark_runner_spark.plans.audit import _window_image_cap

    node = (
        "Window [lag(l_quantity#3, 1, null) windowspecdefinition(...) "
        "AS lg#9], [l_orderkey#1L], [l_linenumber#2 ASC NULLS FIRST]"
    )
    sub = [(0, node)]

    def cap(defn):
        return _window_image_cap(defn + " windowspecdefinition(x)", sub, 0)

    assert cap("lag(l_quantity#3, 1, null)") == 51       # domain + NULL
    assert cap("lag(l_quantity#3, 1, 0)") == 51          # domain + literal
    assert cap("lag(l_quantity#3, 1, l_tax#4)") == 59    # domain + domain
    assert cap("lag(l_quantity#3, 1, o_custkey#5L)") is None  # uncapped dflt
    assert cap("nth_value(l_quantity#3, 3, false)") == 51
    assert cap("ntile(4)") == 4
    assert cap("min(l_quantity#3)") == 50                # pure pass-through
    assert cap("row_number()") is None
    assert cap("lag(sum(x#6), 1, null)") is None         # growing inside
    assert cap("max(l_quantity#3) FILTER (WHERE (a#7 = 1))") is None


def test_cross_join_detector_cartesian_class(spark):
    """Round-12 self-probe: the cross-join audit must catch the whole
    CARTESIAN CLASS, not just the ``Join Cross`` spelling —
    a conditionless ``a.join(b)`` and a trivially-true condition both
    print ``Join Inner`` with no condition and execute as the same
    cartesian, and a pure theta join (no equi-conjunct) plans as a
    nested-loop scan of one side per row of the other. Equi joins,
    bounded-side crosses, and banded range joins (equi conjunct +
    range refine) stay unflagged."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_cross_joins

    def hits(df):
        return unbounded_cross_joins(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    e = load_table(spark, SF_CORRECT, "events")
    d = load_table(spark, SF_CORRECT, "documents")

    assert hits(e.join(d))  # conditionless
    assert hits(e.join(d, F.lit(1) == F.lit(1)))  # folded-away condition
    assert hits(e.join(d, F.col("user_id") < F.col("doc_id")))  # theta
    assert not hits(e.join(d, F.col("user_id") == F.col("doc_id")))
    tot = d.agg(F.count("*").alias("n"))
    assert not hits(e.crossJoin(F.broadcast(tot)))  # bounded side
    assert not hits(  # banded range join: equi conjunct + range refine
        e.join(
            d,
            (F.col("user_id") == F.col("doc_id"))
            & (F.col("value") < F.col("n_chars")),
        )
    )


def test_cross_join_detector_conjunct_granularity(spark):
    """Round-13 (round-12 verdict corner + ADVICE): the equi test must
    work at top-level AND-conjunct granularity and on EVERY join type.
    ``(a = b) OR (c < d)`` contains ' = ' but Spark nested-loops it;
    ``NOT (a = b)`` likewise; an outer/semi pure theta join is the
    same quadratic scan as an Inner one; an equality against a literal
    inside an outer-join condition is a filter, not a hash key."""
    from beam_pyspark_runner_spark.plans.audit import unbounded_cross_joins

    def hits(df):
        return unbounded_cross_joins(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    e = load_table(spark, SF_CORRECT, "events")
    d = load_table(spark, SF_CORRECT, "documents")
    eq = F.col("user_id") == F.col("doc_id")
    theta = F.col("value") < F.col("n_chars")

    # OR-disjunct evasion: ' = ' present, not extractable -> flag
    assert hits(e.join(d, eq | theta))
    # negated equality: ' = ' present inside NOT -> flag
    assert hits(e.join(d, ~eq))
    # pure theta on non-Inner types (ADVICE): same nested-loop scan
    assert hits(e.join(d, theta, "left"))
    assert hits(e.join(d, theta, "full"))
    assert hits(e.join(d, theta, "left_semi"))
    # genuine AND-conjunct equi stays clean on every type
    assert not hits(e.join(d, eq & theta, "left"))
    assert not hits(e.join(d, eq & theta, "left_semi"))
    # (a = b) AND ((c < d) OR (e = f)): extractable equi conjunct -> clean
    assert not hits(
        e.join(d, eq & (theta | (F.col("event_id") == F.col("doc_id"))))
    )
    # literal equality in an outer-join condition is a filter, not a key
    assert hits(e.join(d, F.col("lang") == F.lit("en"), "left"))


def test_equi_conjunct_analysis_unit_edges():
    """Spark-free unit pins for the round-13 conjunct-level equi test
    (round-12 verdict corner + ADVICE #1/#2) — the shapes
    test_cross_join_detector_conjunct_granularity exercises through
    full plans, held at the function level:

    - an equality under a top-level OR is NOT an extractable hash key;
    - a negated equality (``NOT (a = b)``) is NOT;
    - nested AND wrapping still flattens to its conjuncts;
    - a literal-side equality (``b_flag = true``) is a filter, not a
      key; an attribute-both-sides equality (including expression
      keys and null-safe ``<=>``) is;
    - the join-type prefix parser accepts multi-word types
      (``ExistenceJoin(exists#1)``) so their conditions are analyzed
      rather than skipped."""
    from beam_pyspark_runner_spark.plans.audit import (
        _JOIN_TYPE_RE,
        _and_conjuncts,
        _has_equi_conjunct,
    )

    assert _has_equi_conjunct("(a#1 = b#2)")
    assert _has_equi_conjunct("((a#1 = b#2) AND (c#3 < d#4))")
    assert not _has_equi_conjunct("((a#1 = b#2) OR (c#3 < d#4))")
    assert not _has_equi_conjunct("NOT (a#1 = b#2)")
    assert not _has_equi_conjunct("(NOT (a#1 = b#2))")
    assert _has_equi_conjunct("(NOT (a#1 = b#2) AND (c#3 = d#4))")
    assert _has_equi_conjunct("(((a#1 = b#2) AND (c#3 = d#4)) AND (e#5 < f#6))")
    assert not _has_equi_conjunct("(b_flag#3 = true)")
    assert _has_equi_conjunct("(least(b#1, c#2) = cu#3)")
    assert _has_equi_conjunct("(a#1 <=> b#2)")
    assert not _has_equi_conjunct("(a#1 < b#2)")
    assert not _has_equi_conjunct(
        "((a#1 = b#2) OR ((c#3 = d#4) AND (e#5 = f#6)))"
    )
    assert _and_conjuncts("(((a) AND (b)) AND (c))") == ["a", "b", "c"]

    m = _JOIN_TYPE_RE.match("ExistenceJoin(exists#1), (a#1 = b#2)")
    assert m.group(1) == "ExistenceJoin"
    assert m.group(2) == "(exists#1)"
    assert _JOIN_TYPE_RE.match("LeftSemi, (a#1 < b#2)").group(1) == "LeftSemi"

    # round-13 physical cross-check catch, pinned at the unit level:
    # with child attribution, a side that MIXES children (decile from
    # the right spine, n from the left stream) has no hash key even
    # though both sides carry attr refs — while a clean cross-side
    # equality still certifies, including flipped orientation.
    qte = "(cast(rn#9 as bigint) = (((decile#14L * n#10L) + 9) div 10))"
    L, R = {"9", "10"}, {"14"}
    assert _has_equi_conjunct(qte)  # bare-string mode: attrs both sides
    assert not _has_equi_conjunct(qte, L, R)  # attribution: mixed side
    assert _has_equi_conjunct("(a#1 = b#2)", {"1"}, {"2"})
    assert _has_equi_conjunct("(a#1 = b#2)", {"2"}, {"1"})  # flipped
    assert not _has_equi_conjunct("(a#1 = b#2)", {"1", "2"}, {"3"})


def test_hex_substring_cap_counts_null_edge():
    """Round-13 ADVICE #3: md5/sha of a NULL input is NULL, so an
    in-digest hex-substring image is 16^width + 1 — consistent with
    the NULL-edge accounting of CASE-without-ELSE and lag/lead."""
    from beam_pyspark_runner_spark.plans.audit import _expr_cap

    node = "Project [substring(md5(cast(doc_id#1L as string)), 1, 4) AS hk#9]"
    sub = [(0, node)]
    cap = _expr_cap("substring(md5(cast(doc_id#1L as string)), 1, 4)", sub)
    assert cap == 16**4 + 1


def test_physical_nested_loop_detector(spark):
    """Round-13: the physical-layer ground-truth detector — Spark's own
    strategy choice — fires on BroadcastNestedLoopJoin and
    CartesianProduct operators and stays silent on hash/sort-merge equi
    joins, and the textual cartesian_class_joins detection agrees on
    each (the invariant the full-registry cross-check enforces)."""
    from beam_pyspark_runner_spark.plans.audit import (
        cartesian_class_joins,
        physical_nested_loop_joins,
    )

    e = load_table(spark, SF_CORRECT, "events")
    d = load_table(spark, SF_CORRECT, "documents")

    def phys(df):
        return physical_nested_loop_joins(
            df._jdf.queryExecution().executedPlan().toString()
        )

    def logical(df):
        return cartesian_class_joins(
            df._jdf.queryExecution().optimizedPlan().toString()
        )

    theta = e.join(d, F.col("value") < F.col("n_chars"))
    assert phys(theta) and logical(theta)
    nl_outer = e.join(d, ~(F.col("user_id") == F.col("doc_id")), "left")
    assert phys(nl_outer) and logical(nl_outer)
    equi = e.join(d, F.col("user_id") == F.col("doc_id"))
    assert not phys(equi) and not logical(equi)


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_SCALE_GATE", "0") != "1",
    reason="full-registry plan audit is opt-in: set SPARK_GRAFT_SCALE_GATE=1",
)
def test_physical_nested_loops_all_textually_detected(spark):
    """Full-registry governance, round-13 cross-check: every join the
    PLANNER nested-loops (BroadcastNestedLoopJoin / CartesianProduct in
    the executed plan — ground truth, no text parsing of conditions)
    must be SEEN by the textual cartesian_class_joins detection on the
    optimized plan. This converts the logical rule's two documented
    plan-text residuals (same-child attribute equality; literal text
    mimicking an attr reference) from 'adversarial-only, unreachable'
    claims into a checked invariant: a textual false negative would
    surface here as a physical hit with zero logical detections."""
    from beam_pyspark_runner_spark.queries import REGISTRY
    from beam_pyspark_runner_spark.plans.audit import (
        cartesian_class_joins,
        physical_nested_loop_joins,
    )

    missed = {}
    for name, q in REGISTRY.items():
        df = q.fn(spark, SF_CORRECT)
        qe = df._jdf.queryExecution()
        phys = physical_nested_loop_joins(qe.executedPlan().toString())
        if not phys:
            continue
        if not cartesian_class_joins(qe.optimizedPlan().toString()):
            missed[name] = phys
    assert not missed, missed
