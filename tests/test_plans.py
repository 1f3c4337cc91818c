"""Pin the headline queries to the physical plans they are designed
for (the 100 TB stance made testable): filters pushed into parquet
scans, dimension joins broadcast, aggregations map-side partial, global
top-k as TakeOrderedAndProject, and never an accidental cartesian
product.

These mirror the reference's plan-level guarantees (partition pruning
`/root/reference/src/padawan/sliced_dataset.py:41-77`, co-partitioned
joins `/root/reference/src/padawan/joined_dataset.py:33-34`) in their
Catalyst form.
"""

from __future__ import annotations

import pytest

from padawan_spark.plans import audit
from padawan_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from padawan_spark import get_spark
    s = get_spark()
    s.sparkContext.setLogLevel("ERROR")
    return s


def plan_of(spark, name):
    return audit(QUERIES[name](spark, SF))


def test_q1_scan_pushdown_and_partial_agg(spark):
    a = plan_of(spark, "q1_pricing_summary")
    assert a.pushed("l_shipdate"), a.plan
    assert a.has_partial_agg, a.plan
    assert not a.has_cartesian


def test_q3_broadcast_dims_and_topk(spark):
    a = plan_of(spark, "q3_shipping_priority")
    assert a.has_broadcast_join, a.plan
    assert a.take_ordered, a.plan          # limit-10 never global-sorts
    assert a.pushed("c_mktsegment"), a.plan
    assert not a.has_cartesian


def test_q6_whole_where_clause_pushed(spark):
    a = plan_of(spark, "q6_forecast_revenue")
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert a.pushed(col), (col, a.pushed_filters)
    assert not a.has_cartesian


def test_q9_five_way_join_broadcasts_dims(spark):
    a = plan_of(spark, "q9_product_profit")
    assert a.broadcast_joins >= 3, a.plan  # part, supplier, nation
    assert a.has_partial_agg, a.plan
    assert not a.has_cartesian


def test_q21_decorrelated_single_lineitem_shuffle(spark):
    a = plan_of(spark, "q21_waiting_suppliers")
    assert not a.has_cartesian
    # the EXISTS/NOT-EXISTS pair is one aggregation, not two self-joins:
    # lineitem appears 3 times (l1, semi-join probe, stats input) —
    # the naive translation would add two more full lineitem branches
    assert len(a.scans) <= 8, a.scans


def test_q22_in_plan_scalar_via_broadcast(spark):
    a = plan_of(spark, "q22_idle_customers")
    # the global-average comparison stays in-plan as a broadcast
    # nested-loop (1-row side), never a CartesianProduct
    assert not a.has_cartesian, a.plan


def test_global_topk_is_take_ordered(spark):
    a = plan_of(spark, "ana_topk_global")
    assert a.take_ordered, a.plan


def test_slice_pushes_index_predicate(spark):
    a = plan_of(spark, "op_slice_range")
    assert a.has_pushed_filters, a.pushed_filters


def test_knn_broadcasts_query_side(spark):
    a = plan_of(spark, "sim_knn_bruteforce")
    # tiny query side broadcast; candidate join must not be cartesian
    assert not a.has_cartesian, a.plan


def test_codegen_present_on_scan_agg(spark):
    # codegen ids only materialize once AQE finalizes the plan, so
    # execute first and audit the final plan
    df = QUERIES["q1_pricing_summary"](spark, SF)
    df.collect()
    a = audit(df)
    assert "isFinalPlan=true" in a.plan
    assert a.codegen_stages >= 1, a.plan


def test_partitioned_write_prunes_partitions(spark):
    a = plan_of(spark, "scale_partitioned_write")
    assert any("o_year" in p for p in a.partition_filters), (
        a.partition_filters or a.plan)


def test_bucketed_join_no_exchange(spark):
    # at test SF the tables are broadcast-sized, which would bypass the
    # property under test — disable broadcast so the planner must pick
    # the sort-merge path over the bucketed layout
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = plan_of(spark, "scale_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # bucketBy pre-shuffled both sides at write time: the join itself
    # must not add a shuffle exchange
    assert a.shuffle_joins >= 1, a.plan
    assert a.exchanges <= 1, a.plan  # ≤1: only the final groupBy moves data


def test_bucketed_layout_one_file_per_bucket_per_core(spark):
    """Both bucketed tables have one bucket per core, and the
    repartition before the bucketed write leaves at most one data file
    per bucket."""
    import os
    import re
    from urllib.parse import urlparse

    from padawan_spark.queries.scale import _ensure_bucketed
    nb = spark.sparkContext.defaultParallelism
    for t in _ensure_bucketed(spark, SF):
        info = {r.col_name: r.data_type for r in
                spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()}
        assert info["Num Buckets"] == str(nb), (t, info)
        loc = urlparse(info["Location"]).path
        files = [f for f in os.listdir(loc) if not f.startswith(("_", "."))]
        # a bucket file is part-<task>-<uuid>_<bucket id>.c<n>...
        buckets = [int(re.search(r"_(\d+)\.c\d+", f).group(1))
                   for f in files]
        assert len(buckets) == len(set(buckets)), (t, files)
        assert all(0 <= b < nb for b in buckets), (t, files)


def test_profile_summary_single_scan(spark):
    a = plan_of(spark, "adv_profile_summary")
    assert len(a.scans) == 1, a.scans      # all metrics from ONE pass
    assert a.has_partial_agg, a.plan
    assert not a.has_cartesian


def test_union_evolved_no_shuffle(spark):
    a = plan_of(spark, "adv_union_evolved")
    assert a.exchanges == 0, a.plan        # by-name union is a partition concat
    assert a.shuffle_joins == 0 and not a.has_cartesian


def test_filtered_agg_one_scan_one_agg(spark):
    a = plan_of(spark, "ana_filtered_agg")
    assert len(a.scans) == 1, a.scans      # stacked metrics share the scan
    assert a.has_partial_agg, a.plan


def test_tfidf_broadcasts_df_side(spark):
    a = plan_of(spark, "text_tfidf")
    assert a.has_broadcast_join, a.plan    # vocabulary df table broadcast
    assert not a.has_cartesian or a.broadcast_nested_loop >= 0


def test_merge_upsert_joins_on_key(spark):
    a = plan_of(spark, "adv_merge_upsert")
    assert not a.has_cartesian, a.plan
    assert a.broadcast_joins + a.shuffle_joins >= 1, a.plan


def test_corpus_curation_single_scan_pipeline(spark):
    a = plan_of(spark, "pipe_corpus_curation")
    assert len(a.scans) == 1, a.scans      # score/filter/sample fuse into scan
    assert not a.has_cartesian, a.plan
    assert a.has_partial_agg, a.plan


def test_join_strategy_hints_are_honored(spark):
    """Join-strategy hints — the manual override when AQE's choice is
    wrong at scale (e.g. forcing a shuffle-hash join for a medium dim
    that broadcast would OOM on)."""
    from pyspark.sql import functions as F

    from padawan_spark.plans import audit as plan_audit
    from padawan_spark.queries.registry import load

    o = load(spark, SF, "orders")
    c = load(spark, SF, "customer")
    j_b = o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey)
    a = plan_audit(j_b.groupBy("c_mktsegment").agg(F.count(F.lit(1))))
    assert a.has_broadcast_join and a.shuffle_joins == 0, a.plan

    j_m = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    a2 = plan_audit(j_m.groupBy("c_mktsegment").agg(F.count(F.lit(1))))
    assert a2.shuffle_joins >= 1 and not a2.has_broadcast_join, a2.plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Dynamic partition pruning: joining a hive-partitioned fact to a
    filtered dim injects the dim's surviving keys into the fact scan's
    PartitionFilters at runtime — at 100 TB this is the difference
    between scanning 2 partitions and scanning all of them."""
    from pyspark.sql import functions as F

    from padawan_spark.plans.audit import physical_plan
    from padawan_spark.queries.registry import load

    t = str(tmp_path / "dpp_orders")
    o = load(spark, SF, "orders")
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(t)
    fact = spark.read.parquet(t)
    dim = (spark.createDataFrame([("1-URGENT", 1.0), ("2-HIGH", 0.5)],
                                 "pri string, w double")
           .where(F.col("w") > 0.7))
    j = (fact.join(dim, fact.o_orderpriority == dim.pri)
         .groupBy("pri").agg(F.count(F.lit(1)).alias("n")))
    plan = physical_plan(j)
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_runtime_bloom_filter_injects(spark):
    """Runtime Bloom-filter join pruning: a selective filter on one join
    side injects a bloom_filter_agg that pre-filters the big side's
    shuffle — at 100 TB the default size thresholds trigger this
    automatically; here they are scaled down to the test data so the
    optimizer path itself is exercised."""
    from pyspark.sql import functions as F

    from padawan_spark.plans.audit import physical_plan
    from padawan_spark.queries.registry import load

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = load(spark, SF, "lineitem")
        o = (load(spark, SF, "orders")
             .where(F.col("o_orderpriority") == "1-URGENT"))
        j = (l.join(o.hint("merge"), l.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").count())
        assert "bloom_filter_agg" in physical_plan(j)
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_chunk_windows_scan_and_generate_only(spark):
    a = plan_of(spark, "text_chunk_windows")
    assert len(a.scans) == 1, a.scans
    # exactly ONE exchange: the deliberate spread() round-robin that
    # decouples compute width from a single-row-group scan; the explode
    # itself fuses — no further shuffle
    assert a.exchanges <= 1, a.plan
    assert not a.has_cartesian


def test_hash_split_single_scan_partial_agg(spark):
    a = plan_of(spark, "pipe_hash_split")
    assert len(a.scans) == 1, a.scans
    assert a.has_partial_agg, a.plan
    assert not a.has_cartesian


def test_sequence_packing_window_partitioned_by_source(spark):
    # the packing window must hash-partition by source (parallel per
    # shard), never collapse to a single global sort partition
    a = plan_of(spark, "pipe_sequence_packing")
    assert "hashpartitioning(source" in a.plan.lower(), a.plan
    assert not a.has_cartesian


def test_pagerank_round_join_agg_no_cartesian(spark):
    # one unrolled rank round (pre-checkpoint): rank×edges join keyed on
    # src + partial/final agg on dst; the 1-row vertex-count side rides
    # a broadcast nested loop — fine; a CartesianProduct would mean the
    # rank-edge join lost its key
    from pyspark.sql import functions as F
    from padawan_spark.queries.graph import _edges_spark
    edges = _edges_spark(spark, SF)
    verts = (edges.select(F.col("src").alias("v"))
             .union(edges.select("dst")).distinct())
    nv = verts.agg(F.count(F.lit(1)).cast("double").alias("n"))
    r = (verts.crossJoin(F.broadcast(nv))
         .select("v", (F.lit(1.0) / F.col("n")).alias("r")))
    contrib = (r.join(edges, r.v == edges.src)
               .groupBy(F.col("dst").alias("v"))
               .agg(F.sum(F.col("r") * F.col("weight")).alias("s")))
    a = audit(contrib)
    assert not a.has_cartesian, a.plan
    assert a.has_partial_agg, a.plan


def test_pagerank_users_round_shuffles_on_vertex_key(spark):
    # scale-honest variant: one unrolled round over the user graph must
    # hash-shuffle on the vertex key only (src-keyed join, dst-keyed
    # agg) and never degrade to a cartesian product
    from pyspark.sql import functions as F
    from padawan_spark.queries.graph import _user_edges_spark
    edges = _user_edges_spark(spark, SF)
    r = edges.select(F.col("src").alias("v"), F.lit(0.1).alias("r")).distinct()
    contrib = (r.join(edges, r.v == edges.src)
               .groupBy(F.col("dst").alias("v"))
               .agg(F.sum(F.col("r") * F.col("weight")).alias("s")))
    a = audit(contrib)
    assert not a.has_cartesian, a.plan
    assert a.has_partial_agg, a.plan
    low = a.plan.lower()
    assert "hashpartitioning(src" in low or "hashpartitioning(v" in low, a.plan


@pytest.mark.slow
def test_iterative_loops_truncate_lineage(spark):
    # lineage hygiene (interval-based): iterative loops truncate
    # through localCheckpoint at least every _CKPT_EVERY rounds, so the
    # RETURNED plan is bounded by O(interval) rounds over materialized
    # RDD leaves — it cannot grow with the TOTAL iteration count (the
    # driver-plan blowup failure mode at real round counts).  PageRank
    # runs 3 rounds < interval, so its plan holds 3 rounds over the
    # checkpointed edge/vertex RDDs; dedup_clusters still checkpoints
    # per round (its label table is referenced twice per round).
    from padawan_spark.queries.graph import _CKPT_EVERY, _ITERS
    assert 1 <= _CKPT_EVERY <= 10          # the policy itself is pinned
    per_round_budget = 4000                # chars of plan per round
    for name, rounds in (("graph_pagerank", min(_ITERS, _CKPT_EVERY)),
                         ("scale_dedup_clusters", 1)):
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().toString()
        assert "LogicalRDD" in plan or "ExistingRDD" in plan, (name, plan)
        assert len(plan) < 4000 + per_round_budget * rounds, \
            (name, len(plan))
        assert df.count() > 0


def test_cms_probe_broadcasts_counters(spark):
    a = plan_of(spark, "scale_cms_topk")
    assert a.has_broadcast_join, a.plan    # (depth x width) cells are tiny
    assert not a.has_cartesian


@pytest.mark.slow
def test_engine_wide_plan_guarantees_anywhere(spark):
    """Engine-wide guarantees, checked in one pass that builds each
    registered query once:

    - no CartesianProduct in the physical plan, the one operator that
      cannot survive a 100 TB input (broadcast nested-loop joins against
      1-row/constant sides are fine; queries whose terminal DataFrame is
      checkpoint-backed audit their materialized plan, and their
      per-round shapes are pinned by the tests above);
    - a scalar-typed output schema: external correctness harnesses
      canonicalize results with pandas sort_values/hash, which rejects
      array/map/struct cells, so a query that computes collections
      serializes them (to_json / fixed-point concat_ws);
    - Python runs Arrow-batched (ArrowEvalPython / MapInPandas /
      FlatMapGroupsInPandas), never row-at-a-time BatchEvalPython, the
      10-100x slow path at scale.  Sole exception: udf_table_function
      demonstrates the SQL-registered @udtf API, whose eval is
      row-generating by definition.

    A query that fails to build is its own offender in every list."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    cartesian, unhashable, row_udf = [], [], []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, SF)
            a = audit(df)
        except Exception as e:
            failed = (name, f"build failed: {type(e).__name__}: {e}")
            for offenders in (cartesian, unhashable, row_udf):
                offenders.append(failed)
            continue
        if a.has_cartesian:
            cartesian.append((name, "CartesianProduct in plan"))
        unhashable += [(name, f"{f.name}: {f.dataType.simpleString()}")
                       for f in df.schema.fields
                       if isinstance(f.dataType,
                                     (ArrayType, MapType, StructType))]
        if name != "udf_table_function" and "BatchEvalPython" in a.plan:
            row_udf.append((name, "BatchEvalPython"))
    assert not (cartesian or unhashable or row_udf), \
        {"cartesian": cartesian, "unhashable": unhashable,
         "row_udf": row_udf}


@pytest.mark.slow
def test_aqe_skew_join_split_fires(spark):
    """The 100 TB skew story made testable: a hot key whose shuffle
    partition dwarfs the median must be SPLIT by AQE's skew-join
    optimization (SortMergeJoin(skew=true) + 'skewed' AQEShuffleRead)
    rather than serializing the join onto one straggler task.
    Thresholds are scaled down so a local fixture exhibits the same
    behavior production sizes trigger at defaults."""
    from pyspark.sql import functions as F
    fact = (spark.range(0, 220000)
            .withColumn("k", F.when(F.col("id") < 200000, 0)
                        .otherwise((F.col("id") % 99) + 1))
            .withColumn("pad", F.md5(F.col("id").cast("string"))))
    dim = spark.range(0, 100).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("w"))
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = fact.join(dim, "k")
        assert j.count() == 220000
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, plan
    assert "skewed" in plan, plan   # AQEShuffleRead split the hot partition


def test_aqe_promotes_smj_to_broadcast(spark):
    """AQE runtime re-planning: a join the static planner sizes as
    shuffle-worthy (selective filter, unknowable selectivity) must be
    PROMOTED to a broadcast-hash join once runtime shuffle stats reveal
    the small side — the mechanism that saves mis-estimated joins at
    scale without manual hints."""
    from pyspark.sql import functions as F

    from padawan_spark.queries.registry import load
    o = load(spark, SF, "orders")
    # selective filter on a non-partition column: static estimate stays
    # near full-table, runtime output is tiny
    dim = o.where(F.col("o_orderkey") % 1000 == 1).select(
        "o_orderkey", "o_orderpriority")
    fact = load(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    j = fact.join(dim, fact.l_orderkey == dim.o_orderkey)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan, plan


def test_triangle_count_no_cartesian_two_phase_join(spark):
    """Degree-oriented triangle counting must stay hash-equi-join-shaped:
    wedge join + closing semi-join, never a cartesian, with map-side
    partial aggregation on the per-vertex count."""
    a = plan_of(spark, "graph_triangle_count")
    assert not a.has_cartesian, a.plan
    assert a.has_partial_agg, a.plan


def test_pq_adc_broadcasts_lut_and_codebook(spark):
    """PQ scoring must broadcast the tiny per-query lookup table (and the
    codebook into encoding) — the scan side is the codes table; a
    shuffle join here would defeat the entire ADC design."""
    a = plan_of(spark, "sim_pq_adc_topk")
    assert a.has_broadcast_join, a.plan
    assert not a.has_cartesian, a.plan


def test_session_concurrency_sweep_partitions_by_day(spark):
    """The +1/-1 interval sweep must run in a day-partitioned window —
    a global (empty-partition-spec) running sum would serialize the
    sweep onto one task at scale."""
    import re
    from padawan_spark.plans.audit import physical_plan
    p = physical_plan(QUERIES["ev_session_concurrency"](spark, SF),
                      mode="simple")
    # every running-sum Window node over the sweep orders by pt and must
    # carry a non-empty partition spec mentioning day
    for m in re.finditer(r"Window \[[^\]]*sum\(delta\)[^\]]*\], \[([^\]]*)\]",
                         p):
        spec = m.group(1)
        assert "day" in spec, (spec, p)


def test_segment_dedup_no_broadcast_of_corpus_freq(spark):
    # the segment-frequency table scales with the corpus: at real scale
    # the filter join must degrade to a shuffle equi-join keyed on the
    # segment (at test SF the planner rightly broadcasts the tiny freq
    # table, so disable broadcast to expose the scale path)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = plan_of(spark, "dedup_segments")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert not a.has_cartesian
    assert a.broadcast_nested_loop == 0, a.plan
    assert a.shuffle_joins >= 1, a.plan
    assert a.has_partial_agg, a.plan      # frequency count combines map-side


def test_semantic_dedup_pairs_blocked_by_label(spark):
    a = plan_of(spark, "dedup_semantic")
    assert not a.has_cartesian
    # the candidate self-join is an equi-join on the cluster label
    assert a.broadcast_joins + a.shuffle_joins >= 1, a.plan


def test_ivfpq_broadcasts_probe_side_never_cartesian(spark):
    a = plan_of(spark, "sim_ann_ivfpq")
    assert not a.has_cartesian
    # centroids, probes, and the per-query LUT are all broadcast-sized
    assert a.broadcast_joins >= 2, a.plan


def test_cooccurrence_vocab_broadcast_bounds_fanout(spark):
    a = plan_of(spark, "text_cooccurrence")
    assert not a.has_cartesian
    assert a.has_broadcast_join, a.plan   # top-K vocab is the broadcast side


def test_bfs_rounds_are_equi_joins(spark):
    # the edge table is checkpoint-truncated in the returned plan (so
    # it does not surface the edge-builder's joins): audit ONE
    # unrolled expansion round: frontier-edge equi-join + anti-join
    # against visited, never cartesian
    from pyspark.sql import functions as F
    from padawan_spark.queries.graph import _user_edges_spark
    edges = _user_edges_spark(spark, SF).select("src", "dst")
    seeds = (edges.where(F.col("src") % 97 == 0)
             .select(F.col("src").alias("v")).distinct())
    dist = seeds.select("v", F.lit(0).alias("d"))
    nxt = (seeds.join(edges, seeds.v == edges.src)
           .select(F.col("dst").alias("v"))
           .distinct()
           .join(dist, "v", "left_anti")
           .select("v", F.lit(1).alias("d")))
    a = audit(nxt)
    assert not a.has_cartesian
    assert a.shuffle_joins + a.broadcast_joins >= 2, a.plan
    # and the full query stays cartesian-free
    assert not plan_of(spark, "graph_bfs_distance").has_cartesian


def test_dataset_card_single_scan(spark):
    a = plan_of(spark, "pipe_dataset_card")
    assert len(a.scans) == 1, a.scans
    assert a.has_partial_agg, a.plan


def test_lpa_rounds_vertex_keyed_no_cartesian(spark):
    # the returned labels plan is checkpoint-truncated, so audit ONE
    # unrolled round: neighbor-label join keyed on the vertex + a
    # (vertex, label) histogram with map-side combine, never cartesian
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from padawan_spark.queries.graph import _user_edges_spark
    e = _user_edges_spark(spark, SF).select("src", "dst")
    ue = (e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
          .union(e.select(F.col("dst").alias("u"), F.col("src").alias("v")))
          .distinct())
    labels = (ue.select(F.col("u").alias("vtx")).distinct()
              .withColumn("lbl", F.col("vtx")))
    hist = (ue.join(labels, ue.u == labels.vtx)
            .groupBy(F.col("v").alias("vtx"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt")))
    # the round's shape: argmax as min(struct(-cnt, lbl)), not a window
    rnd = (hist.groupBy("vtx")
           .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                               F.col("lbl"))).alias("m"))
           .select("vtx", F.col("m.lbl").alias("lbl")))
    a = audit(rnd)
    assert not a.has_cartesian, a.plan
    assert a.broadcast_nested_loop == 0, a.plan
    assert a.has_partial_agg, a.plan      # histogram combines map-side
    # the argmax is an aggregate with a map-side partial now, not a
    # window (the edge BUILDER legitimately contains windows, so don't
    # assert on the whole plan)
    assert "partial_min(" in a.plan, a.plan


def test_sql_udf_inlines_into_plan(spark):
    # the SQL-defined function must dissolve at analysis time: scan
    # pushdown intact, partial aggregation present, and no Python
    # evaluation node anywhere (that is the whole point vs a Python UDF)
    a = plan_of(spark, "sql_scalar_udf")
    assert a.pushed("l_quantity"), a.pushed_filters
    assert a.has_partial_agg, a.plan
    assert "EvalPython" not in a.plan, a.plan


def test_feature_hashing_partial_agg_single_scan(spark):
    a = plan_of(spark, "pipe_feature_hashing")
    assert len(a.scans) == 1, a.scans
    assert a.has_partial_agg, a.plan       # token fan-out combines map-side
    assert not a.has_cartesian


def test_lttb_no_flat_series_window(spark):
    # the rank must come from the two-level (series, day) window — a flat
    # partitionBy(event_type) sort would serialize each series onto one
    # task.  Every row_number window of the query partitions by more
    # than the series, and the rank's partitions by (event_type, day).
    import re
    from padawan_spark.plans.audit import physical_plan
    p = physical_plan(QUERIES["ev_downsample_lttb"](spark, SF),
                      mode="simple")
    specs = [[c.split("#")[0] for c in spec.split(", ")]
             for spec in re.findall(
                 r"Window \[row_number\(\).*?\], \[([^\]]*)\]", p)]
    assert ["event_type", "day"] in specs, specs
    assert ["event_type"] not in specs, specs
    assert not plan_of(spark, "ev_downsample_lttb").has_cartesian


def test_constraint_audit_fk_check_is_anti_join(spark):
    # the audit runs eagerly (driver scalars) and returns a local table;
    # pin the FK check's plan directly instead
    from pyspark.sql import functions as F
    from padawan_spark.queries.registry import load
    o = load(spark, SF, "orders")
    l = load(spark, SF, "lineitem")
    j = l.join(o.select("o_orderkey"), l.l_orderkey == o.o_orderkey,
               "left_anti")
    a = audit(j)
    assert not a.has_cartesian
    assert a.broadcast_nested_loop == 0, a.plan


def test_semantic_dedup_cell_cap_bounds_fanout(spark):
    """Within-cell pair generation must be CELL-CAPPED —
    a degenerate hot cluster may cost at most _CELL_CAP × |cell|
    comparisons, never |cell|² (the _DF_CAP discipline applied to the
    SemDeDup / embedding-cosine pair joins)."""
    from padawan_spark.queries.dedup import _CELL_CAP, _cell_capped_pairs

    n = 4 * _CELL_CAP           # one hot cell, 4× over the cap
    rows = [(i, 0, [1.0, 0.0], 1.0) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label bigint, emb array<double>, nrm double")
    cnt = _cell_capped_pairs(df).count()
    # exact bound: rep i (rank i+1) pairs with every higher vec_id
    assert cnt == sum(n - 1 - i for i in range(_CELL_CAP))
    assert cnt <= _CELL_CAP * n          # linear in cell size
    assert cnt < n * (n - 1) // 2        # quadratic path impossible


@pytest.mark.slow
def test_dedup_clusters_one_job_per_round(spark, sf_dir, monkeypatch):
    """The iterative CC loop folds convergence detection
    into each round's checkpoint job via an Observation — no separate
    per-round DataFrame.count() probe may run while the query builds."""
    from pyspark.sql import DataFrame

    from padawan_spark.queries import QUERIES

    counts = []
    orig = DataFrame.count

    def spy(self):
        counts.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    res = QUERIES["scale_dedup_clusters"](spark, sf_dir)
    assert counts == []          # loop ran to convergence, zero count jobs
    monkeypatch.undo()
    assert res.count() > 0


def test_importance_resampling_broadcasts_ratio_table(spark):
    """The DSIR scoring scan must consume the per-token ratio table and
    the 1-row totals via broadcast (vocabulary-sized sides never
    shuffle the corpus-sized token scan)."""
    a = plan_of(spark, "pipe_importance_resampling")
    assert a.has_broadcast_join, a.plan       # llr table broadcast to scan
    assert not a.has_cartesian, a.plan


def test_hard_negatives_bucket_blocked(spark):
    """Hard-negative mining joins anchors to candidates on the sign-LSH
    bucket key — an equi-join, never a cartesian — and the per-anchor
    argmax is a window, not a global sort."""
    a = plan_of(spark, "sim_hard_negatives")
    assert not a.has_cartesian, a.plan
    assert a.broadcast_joins + a.shuffle_joins >= 1, a.plan


def test_quality_floor_single_scan_per_source_window(spark):
    """Per-source quartile filter: one scan, windows keyed on source —
    no self-join, no cartesian."""
    a = plan_of(spark, "pipe_quality_floor")
    assert len(a.scans) == 1, a.scans
    assert not a.has_cartesian, a.plan


def test_bm25_broadcasts_stats_and_partial_aggs(spark):
    """text_bm25_topk: df/corpus-stat sides broadcast, tf aggregation
    map-side partial, final ranking a TakeOrderedAndProject (top-15
    without a global sort)."""
    a = plan_of(spark, "text_bm25_topk")
    assert a.has_broadcast_join
    assert a.has_partial_agg
    assert a.take_ordered
    assert not a.has_cartesian


def test_exact_substring_single_preagg_no_pairs(spark):
    """dedup_exact_substring: the window explode feeds ONE (doc, hash)
    partial aggregation; every join is an equi-join (shuffle or
    broadcast), never a cartesian/pairwise expansion."""
    a = plan_of(spark, "dedup_exact_substring")
    assert a.has_partial_agg
    assert not a.has_cartesian
    assert a.broadcast_nested_loop == 0


def test_hybrid_rrf_take_ordered_both_sides(spark):
    """sim_hybrid_rrf: candidate generation on each side plans as
    TakeOrderedAndProject (distributed top-k, no global sort), and the
    single-row query vector is broadcast."""
    a = plan_of(spark, "sim_hybrid_rrf")
    assert a.take_ordered
    assert a.has_broadcast_join
    assert not a.has_cartesian


def test_pruned_scan_read_prunes_before_scan(spark):
    """op_pruned_scan_read: the data scan must read only the surviving
    manifest files — the scan list is file-pruned, and the residual
    slice predicate is pushed into the parquet reader."""
    a = plan_of(spark, "op_pruned_scan_read")
    assert a.pushed("o_orderdate")
    assert not a.has_cartesian


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh", "dedup_blocking_stats", "dedup_incremental",
    "dedup_funnel", "scale_dedup_clusters", "dedup_simhash_pairs",
    "dedup_minhash_estimate", "graph_triangle_count", "sim_pq_adc_topk",
    "sim_ann_ivfpq"])
def test_query_leaves_no_cache_manager_entry(spark, name):
    """Queries that read one subtree from several places share it through
    exchange reuse or a per-call localCheckpoint, never through the
    session-wide CacheManager: its entries outlive the call, and the
    next call of the same plan reads them warm."""
    spark.catalog.clearCache()
    QUERIES[name](spark, SF).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name


def test_load_infers_schema_once_per_file(spark, tmp_path, count_jobs):
    """``load`` runs Spark's footer-inference job on the first read of a
    file only, and infers again once the file is rewritten."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from padawan_spark.queries.registry import load

    path = tmp_path / "nation.parquet"
    shutil.copy(f"{SF}/nation.parquet", path)

    first, first_jobs = count_jobs(load, spark, str(tmp_path), "nation")
    second, second_jobs = count_jobs(load, spark, str(tmp_path), "nation")
    assert (first_jobs, second_jobs) == (1, 0)
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())

    t = pq.read_table(path)
    pq.write_table(t.append_column("n_extra", pa.array(range(t.num_rows))),
                   path)
    third, third_jobs = count_jobs(load, spark, str(tmp_path), "nation")
    assert third_jobs == 1
    assert third.columns == first.columns + ["n_extra"]
    assert third.count() == t.num_rows


def test_registry_head_is_fixed_and_import_reads_no_outside_file():
    """Correctness harnesses check the first 50 registry entries, so
    they are a fixed list, and importing the registry opens or globs no
    file outside the package (the interpreter's own libraries aside)."""
    import json
    import os
    import subprocess
    import sys
    import sysconfig
    import textwrap

    import padawan_spark
    from padawan_spark.queries import _HEAD

    probe = textwrap.dedent("""
        import json, os, sys
        seen = []
        def hook(event, args):
            if event in ("open", "glob.glob") and isinstance(
                    args[0], (str, bytes)):
                seen.append(os.path.abspath(os.fsdecode(args[0])))
        sys.addaudithook(hook)
        from padawan_spark.queries import QUERIES
        print(json.dumps({"paths": seen, "names": list(QUERIES)}))
    """)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = json.loads(subprocess.run(
        [sys.executable, "-c", probe], cwd=repo, check=True,
        capture_output=True, text=True).stdout.splitlines()[-1])
    allowed = [os.path.dirname(os.path.abspath(padawan_spark.__file__))] + [
        os.path.abspath(sysconfig.get_paths()[k])
        for k in ("stdlib", "platstdlib", "purelib", "platlib")]
    outside = [p for p in out["paths"]
               if "zoneinfo" not in p.split(os.sep)
               and not any(p == a or p.startswith(a + os.sep)
                           for a in allowed)]
    assert outside == []
    assert out["names"][:50] == list(_HEAD)
    assert len(set(out["names"])) == len(out["names"]) == len(QUERIES)


@pytest.mark.slow
def test_incremental_mv_fold_never_shuffles_the_mv(spark, tmp_path):
    """fold_changes_into_aggregate must join the delta against the
    MV via broadcast (semi filter + broadcast outer join) — a
    SortMergeJoin here means the whole MV shuffles on group keys for a
    one-window change set."""
    from padawan_spark.dataset import (Dataset, delete_rows,
                                       read_changes, refresh_aggregate)
    src, mv = str(tmp_path / "s"), str(tmp_path / "m")
    Dataset(spark, spark.range(400).selectExpr("id as k", "id % 7 as g"),
            index_columns=("k",)).repartition(4).write_parquet(src)
    refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    delete_rows(spark, src, (10,), (30,), inclusive="both")
    changes = read_changes(spark, src, 1)
    # the fold localCheckpoints its result before merging (so the
    # merge's jobs share one materialization), which erases the join
    # plan downstream — intercept the checkpoint call itself and pin
    # the plan of the frame being materialized: the fold's checkpoint
    # is the first one fired
    from pyspark.sql.classic.dataframe import DataFrame as _DF
    import padawan_spark.dataset as dsmod
    captured = {}
    real_ckpt = _DF.localCheckpoint

    def spy(self, eager=True):
        captured.setdefault(
            "plan", self._jdf.queryExecution().executedPlan().toString())
        return real_ckpt(self, eager=eager)

    _DF.localCheckpoint = spy
    try:
        dsmod.fold_changes_into_aggregate(spark, mv, changes,
                                          keys=("g",), sum_cols=("k",))
    finally:
        _DF.localCheckpoint = real_ckpt
    plan = captured["plan"]
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_hudi_mor_merge_plan_shape(spark, tmp_path):
    """When logs touch few keys the
    base table must NOT shuffle — untouched base rows pass through a
    broadcast left-anti join with ZERO exchanges on their branch, and
    the ONLY shuffle in the whole merge is the latest-wins window
    over (touched base rows ∪ log rows)."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.hudi import (read_hudi,
                                              write_hudi_delta_fixture,
                                              write_hudi_fixture)
    from padawan_spark.plans import audit
    t = str(tmp_path / "morplan")
    df = spark.range(200).select(
        SF_.col("id").alias("k"),
        (SF_.col("id") % 4).cast("bigint").alias("g"),
        (SF_.col("id") * 2).alias("v"))
    write_hudi_fixture(spark, df, t, partition_field="g")
    write_hudi_delta_fixture(
        spark, t, upserts=df.where(SF_.col("k") % 50 == 0)
        .withColumn("v", SF_.lit(1).cast("bigint")),
        partition_field="g")
    a = audit(read_hudi(spark, t))
    assert not a.has_cartesian, a.plan
    assert a.broadcast_nested_loop == 0, a.plan
    import re as _re
    assert len(_re.findall(r"^\(\d+\) Window\s*$", a.plan,
                           _re.MULTILINE)) == 1, a.plan
    # base pass-through (anti) + touched-base select (semi), both
    # broadcast hash joins against the log-key set
    assert a.broadcast_joins >= 2, a.plan
    assert a.shuffle_joins == 0, a.plan
    # the single shuffle: window partitioning of touched ∪ log rows
    assert a.exchanges <= 1, a.plan


@pytest.mark.slow
def test_hudi_mor_per_slice_scan_restriction(spark, tmp_path):
    """The merge is PER FILE SLICE — base files
    of groups with no logs union straight into the output with no
    join, and the anti/semi key-split branches scan ONLY the touched
    groups' base files.  Pinned by the scan locations: touching 1 of
    4 groups must plan one 3-path join-free scan and 1-path scans on
    the join branches — never a 4-path scan anywhere."""
    import re as _re

    import pyspark.sql.functions as SF_
    from padawan_spark.functions.hudi import (read_hudi,
                                              write_hudi_delta_fixture,
                                              write_hudi_fixture)
    t = str(tmp_path / "morslice")
    df = spark.range(100).select(
        SF_.col("id").alias("k"),
        (SF_.col("id") % 4).cast("bigint").alias("g"),
        (SF_.col("id") * 2).alias("v"))
    write_hudi_fixture(spark, df, t, partition_field="g")
    write_hudi_delta_fixture(
        spark, t,
        upserts=df.where((SF_.col("g") == 1) & (SF_.col("k") < 10))
        .withColumn("v", SF_.lit(9).cast("bigint")),
        partition_field="g")
    out = read_hudi(spark, t)
    plan = out._jdf.queryExecution().executedPlan().toString()
    counts = sorted(
        int(m) for m in _re.findall(
            r"Location: InMemoryFileIndex\((\d+) paths?\)", plan))
    assert counts == [1, 1, 3], (counts, plan[:2000])
    # and the merge is still value-correct
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {k: (9 if k % 4 == 1 and k < 10 else k * 2)
                    for k in range(100)}
    # per-slice semantics: the same record key living in TWO file
    # groups merges within its own group only — a log touching the
    # key in group A must not consume group B's base row
    t2 = str(tmp_path / "morslice2")
    a_ = spark.createDataFrame([(7, 70)], "k long, v long")
    b_ = spark.createDataFrame([(7, 700)], "k long, v long")
    write_hudi_fixture(spark, a_.withColumn(
        "g", SF_.lit(0).cast("bigint")), t2, partition_field="g")
    write_hudi_fixture(spark, b_.withColumn(
        "g", SF_.lit(1).cast("bigint")), t2, partition_field="g")
    write_hudi_delta_fixture(
        spark, t2, upserts=spark.createDataFrame(
            [(7, -1, 0)], "k long, v long, g long"),
        partition_field="g")
    rows2 = sorted((r["g"], r["v"])
                   for r in read_hudi(spark, t2).collect())
    assert rows2 == [(0, -1), (1, 700)], rows2


@pytest.mark.slow
def test_hudi_mor_duplicate_base_keys_pass_through_both_paths(
        spark, tmp_path):
    """Duplicate-key base rows (a bulk insert without dedup) pass
    through VERBATIM when no log touches their key, and collapse to
    one latest-wins row when a log does — IDENTICALLY in the
    broadcast and shuffle-join size regimes (the shuffle-join fallback
    must not dedup every base row)."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.hudi import (read_hudi,
                                              write_hudi_delta_fixture,
                                              write_hudi_fixture)
    t = str(tmp_path / "mordup")
    base = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30)],
        "k long, v long")
    write_hudi_fixture(spark, base, t)
    write_hudi_delta_fixture(
        spark, t, upserts=spark.createDataFrame([(2, 99)],
                                                "k long, v long"))
    for limit in (4_000_000, 0):        # broadcast vs shuffle joins
        rows = sorted(
            tuple(r) for r in
            read_hudi(spark, t, log_key_limit=limit).collect())
        assert rows == [(1, 10), (1, 11), (2, 99), (3, 30)], (
            limit, rows)


@pytest.mark.slow
def test_hudi_mor_full_shuffle_fallback_still_correct(spark,
                                                      tmp_path):
    """The documented huge-log-backlog fallback (log_key_limit
    exceeded → shuffle joins instead of the broadcast hint) must
    return the same rows as the broadcast merge."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.hudi import (read_hudi,
                                              write_hudi_delta_fixture,
                                              write_hudi_fixture)
    t = str(tmp_path / "morfall")
    df = spark.range(60).select(
        SF_.col("id").alias("k"), (SF_.col("id") * 3).alias("v"))
    write_hudi_fixture(spark, df, t)
    write_hudi_delta_fixture(
        spark, t,
        upserts=df.where(SF_.col("k") < 10)
        .withColumn("v", SF_.lit(-1).cast("bigint")),
        deletes=["59"])
    fast = {tuple(r) for r in read_hudi(spark, t).collect()}
    slow = {tuple(r) for r in
            read_hudi(spark, t, log_key_limit=0).collect()}
    assert fast == slow and len(fast) == 59
    assert all(v == -1 for k, v in fast if k < 10)


def test_iceberg_position_delete_arrow_path_only_targeted_files(
        spark, tmp_path):
    """ORC/AVRO position deletes route ONLY the targeted files
    through the position-deriving task scan — the untargeted files of
    the same format stay on their normal source.  Pinned by the plan:
    with two ORC files and one targeted, the native ORC scan covers
    exactly the 1 untargeted path and exactly one MapInPandas feeds
    positions from the 1 targeted file."""
    import re as _re

    import pyspark.sql.functions as SF_
    from padawan_spark.functions.iceberg import (read_iceberg,
                                                 write_iceberg_fixture)
    t = str(tmp_path / "iorcpos")
    df = spark.range(10).select(SF_.col("id").alias("k"),
                                (SF_.col("id") % 2).alias("g"))
    write_iceberg_fixture(spark, df, t, partition_by=("g",),
                          file_format="orc", order_by=("k",))
    write_iceberg_fixture(spark, None, t, partition_by=("g",),
                          delete_positions={"data/snap1-0.orc": [0]})
    out = read_iceberg(spark, t)
    plan = out._jdf.queryExecution().executedPlan().toString()
    orc_scans = _re.findall(
        r"FileScan orc .*?Location: InMemoryFileIndex\((\d+) paths?\)",
        plan)
    assert orc_scans == ["1"], (orc_scans, plan[:1500])
    assert plan.count("MapInPandas") >= 1, plan[:1500]
    rows = sorted(r["k"] for r in out.collect())
    assert rows == [1, 2, 3, 4, 5, 6, 7, 8, 9]


def test_delta_scan_count_independent_of_partition_values(spark,
                                                          tmp_path):
    """The Delta read plans ONE parquet scan per
    physical layout, never per partition tuple — partition values
    re-attach via a broadcast file→values join, so plan width stays
    flat as partitions grow."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.delta import (read_delta,
                                               write_delta_fixture)
    from padawan_spark.plans import audit
    t = str(tmp_path / "dscan")
    df = spark.range(120).select(
        SF_.col("id").alias("k"),
        (SF_.col("id") % 10).cast("bigint").alias("g"))
    write_delta_fixture(spark, df, t, partition_by=("g",))
    out = read_delta(spark, t)
    a = audit(out)
    assert a.scans.count("parquet") == 1, a.scans
    assert a.broadcast_joins >= 1, a.plan      # the attach map
    assert a.exchanges == 0, a.plan
    got = {(r["k"], r["g"]) for r in out.collect()}
    assert got == {(k, k % 10) for k in range(120)}


@pytest.mark.slow
def test_delta_partition_filters_prune_file_list(spark, tmp_path):
    """read_delta(filters=...) prunes the planned FILE LIST on
    the driver through the add actions' partitionValues — a point
    lookup plans only that partition's files — and non-partition
    filters fall through to exact row predicates."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.delta import (read_delta,
                                               write_delta_fixture)
    from padawan_spark.plans import physical_plan
    t = str(tmp_path / "dprune")
    df = spark.range(60).select(
        SF_.col("id").alias("k"),
        (SF_.col("id") % 6).cast("bigint").alias("g"))
    write_delta_fixture(spark, df, t, partition_by=("g",))
    out = read_delta(spark, t, filters={"g": 2})
    plan = physical_plan(out)
    # exactly one of the six partition files enters the plan
    import re as _re
    assert len(_re.findall(r"g=2/", plan)) >= 1
    for g in (0, 1, 3, 4, 5):
        assert f"g={g}/" not in plan, plan
    got = {r["k"] for r in out.collect()}
    assert got == {k for k in range(60) if k % 6 == 2}
    # non-partition filter: no pruning, exact rows
    assert read_delta(spark, t, filters={"k": 7}).count() == 1
    # empty partition: empty frame, schema intact
    e = read_delta(spark, t, filters={"g": 99})
    assert e.columns == ["k", "g"] and e.count() == 0
    # column-mapped table prunes through physical partition keys
    t2 = str(tmp_path / "dprunecm")
    write_delta_fixture(spark, df, t2, partition_by=("g",),
                        column_mapping=True)
    got2 = {r["k"] for r in
            read_delta(spark, t2, filters={"g": 2}).collect()}
    assert got2 == got


def test_hudi_partition_pruning(spark, tmp_path):
    """read_hudi(partitions=[...]) restricts the read to those
    partitions' file slices — untouched partitions' base files never
    enter the plan."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.hudi import (live_hudi_slices,
                                              read_hudi,
                                              write_hudi_delta_fixture,
                                              write_hudi_fixture)
    from padawan_spark.plans import physical_plan
    import os as _os
    t = str(tmp_path / "hprune")
    df = spark.range(40).select(
        SF_.col("id").alias("k"),
        (SF_.col("id") % 4).cast("bigint").alias("g"),
        (SF_.col("id") * 2).alias("v"))
    write_hudi_fixture(spark, df, t, partition_field="g")
    write_hudi_delta_fixture(
        spark, t, upserts=df.where(SF_.col("g") == 1).limit(2)
        .withColumn("v", SF_.lit(-1).cast("bigint")),
        partition_field="g")
    out = read_hudi(spark, t, partitions=["1"])
    plan = physical_plan(out)
    for fid, s in live_hudi_slices(t).items():
        in_plan = _os.path.basename(s["base"]) in plan
        assert in_plan == (s["part"] == "1"), (fid, plan)
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert set(rows) == {k for k in range(40) if k % 4 == 1}
    assert sum(1 for v in rows.values() if v == -1) == 2


def test_iceberg_scan_count_independent_of_partition_values(
        spark, tmp_path):
    """Same pin as the Delta test — one scan per layout,
    identity partition values via the broadcast attach map."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.iceberg import (read_iceberg,
                                                 write_iceberg_fixture)
    from padawan_spark.plans import audit
    t = str(tmp_path / "iscan")
    df = spark.range(120).select(
        SF_.col("id").alias("k"),
        (SF_.col("id") % 10).alias("g"))
    write_iceberg_fixture(spark, df, t, partition_by=("g",))
    out = read_iceberg(spark, t)
    a = audit(out)
    assert a.scans.count("parquet") == 1, a.scans
    assert a.broadcast_joins >= 1, a.plan
    assert a.exchanges == 0, a.plan
    got = {(r["k"], r["g"]) for r in out.collect()}
    assert got == {(k, k % 10) for k in range(120)}


def test_delta_dv_anti_join_broadcasts(spark, tmp_path):
    """The distributed DV anti-join finalizes as a
    broadcast hash join under AQE (position sets are small relative
    to data) — never a cartesian/nested-loop pair explosion."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.delta import (add_dv_fixture,
                                               read_delta,
                                               replay_delta_log,
                                               write_delta_fixture)
    t = str(tmp_path / "dvplan")
    df = spark.range(2000).select(SF_.col("id").alias("k"),
                                  (SF_.col("id") % 4).alias("g"))
    write_delta_fixture(spark, df, t, order_by=("k",))
    _s, _p, files, _mm = replay_delta_log(t)
    add_dv_fixture(t, {files[0][0]: [5, 10, 15]})
    out = read_delta(spark, t)
    assert len(out.collect()) == 1997    # let AQE finalize the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_iceberg_eq_delete_anti_join_broadcasts(spark, tmp_path):
    """The equality-delete anti-join must run as a broadcast hash
    join under AQE (delete sets are small relative to data), never a
    cartesian/nested-loop pair explosion."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.iceberg import (read_iceberg,
                                                 write_iceberg_fixture)
    t = str(tmp_path / "iceplan")
    df = spark.range(2000).select(SF_.col("id").alias("k"),
                                  (SF_.col("id") % 4).alias("g"))
    write_iceberg_fixture(spark, df, t, partition_by=("g",))
    write_iceberg_fixture(spark, None, t, partition_by=("g",),
                          delete_equality=(["k"], [(5,), (10,)]))
    out = read_iceberg(spark, t)
    out.collect()                        # let AQE finalize the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_iceberg_transform_pruning_is_driver_metadata_work(spark,
                                                           tmp_path):
    """A point filter through bucket/date transforms prunes the
    FILE LIST before any Spark job — the scan the filtered read plans
    must touch strictly fewer files than the table holds."""
    import pyspark.sql.functions as SF_
    from padawan_spark.functions.iceberg import (live_data_files,
                                                 prune_partition_files,
                                                 read_iceberg,
                                                 write_iceberg_fixture)
    from padawan_spark.plans import audit
    t = str(tmp_path / "icetrplan")
    df = spark.range(400).select(
        SF_.col("id").alias("k"),
        SF_.expr("timestamp'1996-01-01' + make_interval(0,0,0,0,"
                 "id,0,0)").alias("ts"))
    write_iceberg_fixture(spark, df, t,
                          partition_by=("bucket(4, k)", "day(ts)"))
    fields, specs, files, _d = live_data_files(t)
    kept = prune_partition_files(files, specs, dict(fields), {"k": 7})
    assert 0 < len(kept) < len(files)
    a = audit(read_iceberg(spark, t, filters={"k": 7}))
    # the planned scan unions exactly the pruned groups, and the
    # residual k=7 predicate pushes into those parquet scans
    assert a.pushed("k"), a.plan
    assert len(a.scans) <= len(kept), (a.scans, len(kept))
