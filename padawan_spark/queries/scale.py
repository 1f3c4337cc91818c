"""Scale-pattern queries: the partitioning strategies that decide whether
a plan survives 100 TB.

- ``scale_bucketed_join``: bucketBy both fact tables on the join key →
  the sort-merge join runs with ZERO exchange (verified by plan test).
  This is the production answer to padawan's co-partitioned index join
  (``/root/reference/src/padawan/joined_dataset.py``): pre-shuffle once
  at write time, join shuffle-free forever after.  The bucket count is
  the session's core count (``defaultParallelism``): each bucket is one
  write task, one file and one join task, so that is the fewest buckets
  that keep every core busy, and more buckets only add tiny files and
  per-task overhead (padawan sizes partitions from the data and ships
  ``collate`` for the same reason).
- ``scale_dedup_clusters``: connected components over the MinHash-LSH
  candidate graph (iterative min-label propagation — each round is a
  join + groupBy, the standard large-scale CC shape), producing a
  canonical doc per near-dup cluster.  Oracle: recursive CTE closure.
- ``scale_rollup_compose``: materialized hourly rollup re-aggregated to
  daily equals the direct daily aggregate EXACTLY — possible only
  because rollup totals are stored as DECIMAL (doubles would drift at
  re-aggregation scale); the timeseries-hypertable continuous-aggregate
  pattern.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .dedup import _DUCK_MINHASH, _minhash_spark
from .registry import DEC, dsum, load, query, scratch, sql_dsum


# ---------------------------------------------------------------------------

_BUCKETED_DONE: dict[str, tuple] = {}


def _source_fingerprint(sf_dir) -> tuple:
    """(mtime_ns, size) of the source parquet files — detects testdata
    regenerated in place under the same path."""
    fps = []
    for t in ("lineitem", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            fps.append((t, st.st_mtime_ns, st.st_size))
        except OSError:
            fps.append((t, None, None))
    return tuple(fps)


def _drop_orphan_locations(spark, tables) -> None:
    """Make ``saveAsTable(mode="overwrite")`` safe against a stale managed
    location: drop the catalog entry if present (overwrite handles a live
    table fine, but a catalog-absent leftover directory makes Spark refuse
    with LOCATION_ALREADY_EXISTS), then remove the on-disk directory when
    the catalog does NOT own it."""
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    for t in tables:
        if spark.catalog.tableExists(t):
            continue  # catalog owns it; mode("overwrite") replaces cleanly
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        if wh:
            loc = os.path.join(wh, t.lower())
            if os.path.isdir(loc):
                shutil.rmtree(loc, ignore_errors=True)


def _bucketed_names(sf_dir) -> tuple[str, str]:
    """The bucketed lineitem/orders table names for ``sf_dir``, from
    its basename (so different scale factors coexist)."""
    import re
    suffix = re.sub(r"\W+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return f"b_lineitem_{suffix}", f"b_orders_{suffix}"


def _ensure_bucketed(spark, sf_dir) -> tuple[str, str]:
    """Materialize the bucketed lineitem/orders tables for ``sf_dir`` once
    (suffix-keyed so different scale factors coexist).  This is the
    pre-shuffle investment: pay the bucketed write once, every subsequent
    join on the bucket key runs with zero exchange.

    Staleness guards (not just an in-process memo): the tables live in
    the SESSION catalog, so a fresh SparkSession in the same process must
    rebuild (``spark.catalog.tableExists``), and testdata regenerated in
    place under the same path must invalidate (source-file fingerprint).

    Orphan-location guard: a fresh metastore (new Derby/in-memory catalog)
    paired with a PERSISTENT warehouse directory — exactly what a
    per-query subprocess harness produces — leaves the table directory on
    disk with no catalog entry, and ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS rather than overwriting.  When the catalog
    doesn't know the table, drop any leftover location first."""
    tl, to = _bucketed_names(sf_dir)
    fp = _source_fingerprint(sf_dir)
    if (_BUCKETED_DONE.get(sf_dir) != fp
            or not spark.catalog.tableExists(tl)
            or not spark.catalog.tableExists(to)):
        # the names come from the basename alone, so another data
        # directory with the same basename may have built these tables:
        # forget it, or its next call would join this directory's rows
        for d in [d for d in _BUCKETED_DONE
                  if d != sf_dir and _bucketed_names(d) == (tl, to)]:
            del _BUCKETED_DONE[d]
        _drop_orphan_locations(spark, (tl, to))
        # One bucket per core: bucketing is the join's exchange done at
        # write time, so each bucket is one write task and one join task
        # and this width keeps every core busy with the fewest files.
        # At cluster scale size it instead so each bucket's share of the
        # fact table fits an executor's shuffle-free read
        # (hundreds-to-thousands of buckets).
        nb = spark.sparkContext.defaultParallelism
        # repartition on the bucket key to the bucket count BEFORE the
        # bucketed write: repartition's hash (Murmur3 pmod n) matches the
        # bucketing hash, so each task holds exactly one bucket → one
        # file per bucket, written bucket-parallel.  Without it a
        # single-task source (1-row-group parquet here; one giant file
        # at ingest scale) writes every bucket serially, and a many-task
        # source scatters tasks×buckets small files.
        l = (load(spark, sf_dir, "lineitem")
             .select("l_orderkey", "l_extendedprice")
             .repartition(nb, "l_orderkey"))
        o = (load(spark, sf_dir, "orders")
             .select("o_orderkey", "o_orderpriority")
             .repartition(nb, "o_orderkey"))
        (l.write.bucketBy(nb, "l_orderkey").sortBy("l_orderkey")
         .mode("overwrite").saveAsTable(tl))
        (o.write.bucketBy(nb, "o_orderkey").sortBy("o_orderkey")
         .mode("overwrite").saveAsTable(to))
        _BUCKETED_DONE[sf_dir] = fp
    return tl, to


_BUCKETED_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('l_extendedprice', 'total')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def _bucketed_join(spark, tl: str, to: str):
    bl, bo = spark.table(tl), spark.table(to)
    return (bl.join(bo, bl.l_orderkey == bo.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("l_extendedprice"), "total")))


@query("scale_bucketed_join", oracle=_BUCKETED_ORACLE)
def scale_bucketed_join(spark, sf_dir):
    """Write + join: measures the full pre-shuffle investment."""
    tl, to = _ensure_bucketed(spark, sf_dir)
    return _bucketed_join(spark, tl, to)


@query("scale_bucketed_join_read", oracle=_BUCKETED_ORACLE)
def scale_bucketed_join_read(spark, sf_dir):
    """Join only (tables materialized if absent, amortized across the
    session): the steady-state zero-exchange sort-merge join the bucketed
    layout buys — what the bench headline should measure."""
    tl, to = _ensure_bucketed(spark, sf_dir)
    return _bucketed_join(spark, tl, to)


# ---------------------------------------------------------------------------

@query("scale_dedup_clusters", oracle=f"""
WITH RECURSIVE mh AS ({_DUCK_MINHASH}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2*b} || h{2*b+1} AS key FROM mh"
      for b in range(4))}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(s, t) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
)
SELECT d.doc_id,
  CAST(LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN reach r ON d.doc_id = r.s
GROUP BY d.doc_id
""")
def scale_dedup_clusters(spark, sf_dir):
    # candidate edges from the same MinHash-LSH pipeline as dedup_minhash_lsh
    from .dedup import _bands_spark
    bands = _bands_spark(spark, sf_dir)
    a, bb = bands.alias("a"), bands.alias("b")
    pairs = (a.join(bb, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
             .distinct())
    # every round's job reads edges: pinned so the rounds do not rerun
    # the minhash -> bands -> pairs pipeline
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)

    # The loop runs over the CONNECTED SUBGRAPH only: a document with no
    # candidate edge keeps cluster_id = doc_id forever, and near-dup
    # candidate graphs are sparse (a few % of the corpus), so iterating
    # the full label table would shuffle mostly-inert rows every round —
    # at 10^9 docs that is the difference between joining 10^7 and 10^9
    # rows per iteration.  Isolated docs are unioned back at the end.
    #
    # Iterative min-label propagation: each round one join + groupBy
    # (bounded rounds = graph diameter; candidate clusters are tiny).
    # Lineage hygiene: every round localCheckpoints the new label table
    # (truncates the plan to a scan of materialized partitions, so plan
    # depth stays O(1) over any number of rounds instead of growing
    # linearly — THE failure mode of iterative DataFrame loops at scale)
    # and the superseded round's checkpoint storage is reclaimed by the
    # ContextCleaner once the Python reference drops.
    docs = load(spark, sf_dir, "documents").select("doc_id")
    # localCheckpoint, not cache: the isolated-docs anti-join below
    # re-references this after the loop, and a cache would still embed
    # the whole minhash->bands->pairs lineage in the returned plan
    active = (edges.select(F.col("a").alias("doc_id")).distinct()
              .localCheckpoint(eager=True))
    labels = active.withColumn("label", F.col("doc_id"))
    # Convergence detection is FOLDED into the round's own job: an
    # Observation (CollectMetrics) node counts changed labels while the
    # eager localCheckpoint materializes the round, so each round costs
    # exactly ONE job dispatch — not a checkpoint job plus a separate
    # join+count probe (at real round counts the probe doubled
    # dispatches).
    from pyspark.sql import Observation
    for rnd in range(10):
        nbr = (edges.join(labels, edges.a == labels.doc_id)
               .groupBy(F.col("b").alias("doc_id"))
               .agg(F.min("label").alias("nbr_label")))
        obs = Observation(f"cc_changed_{rnd}")
        new = (labels.withColumnRenamed("label", "old_label")
               .join(nbr, "doc_id", "left")
               .select("doc_id", "old_label",
                       F.least("old_label",
                               F.coalesce("nbr_label", "old_label"))
                       .alias("label"))
               .observe(obs, F.count(F.when(F.col("label")
                                            != F.col("old_label"), 1))
                        .alias("changed"))
               .select("doc_id", "label")
               .localCheckpoint(eager=True))
        labels = new
        if obs.get["changed"] == 0:
            break
    isolated = (docs.join(active, "doc_id", "left_anti")
                .withColumn("label", F.col("doc_id")))
    return (labels.unionByName(isolated)
            .select("doc_id", F.col("label").cast("bigint").alias("cluster_id")))


# ---------------------------------------------------------------------------

@query("scale_rollup_compose", oracle=f"""
SELECT time_bucket(INTERVAL '1 day', ts) AS day, event_type,
       COUNT(*) AS n, {sql_dsum('value', 'total_value')}
FROM events GROUP BY 1, 2
""")
def scale_rollup_compose(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    hourly = (e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   # stored as DECIMAL so re-aggregation stays exact
                   F.sum(F.col("value").cast(DEC)).alias("total_dec")))
    target = os.path.join(scratch("padawan_rollup_"), "hourly")
    hourly.write.mode("overwrite").parquet(target)
    mat = spark.read.parquet(target)
    return (mat.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
            .agg(F.sum("n").alias("n"),
                 F.sum("total_dec").cast("double").alias("total_value")))


# ---------------------------------------------------------------------------

@query("scale_partitioned_write", oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1997, 1998)
GROUP BY o_orderstatus
""")
def scale_partitioned_write(spark, sf_dir):
    """Hive-layout partitioned sink + partition-pruned source: orders
    written partitionBy(year), read back filtered to two years — the
    scan touches only those directories (PartitionFilters in the plan,
    asserted by tests/test_plans.py). At 100 TB this layout is what
    turns a full-table scan into a two-partition read."""
    o = load(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    target = os.path.join(scratch("padawan_part_"), "orders")
    o.write.partitionBy("o_year").mode("overwrite").parquet(target)
    back = spark.read.parquet(target)
    return (back.where(F.col("o_year").isin(1997, 1998))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


# ---------------------------------------------------------------------------

@query("scale_hash_sample", oracle=f"""
SELECT COUNT(*) AS n, {sql_dsum('l_extendedprice', 'total')}
FROM lineitem
WHERE CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                               CAST(l_linenumber AS VARCHAR)), 1, 8))
           AS BIGINT) % 100 < 5
""")
def scale_hash_sample(spark, sf_dir):
    """Reproducible 5% sample by key hash — the scale replacement for
    seeded random sampling (padawan samples per partition with
    deterministic seeds, repartitioned_dataset.py:104-105): hash of the
    business key is stable across runs, partitionings, and engines, so
    downstream jobs can re-derive the exact same sample without storing
    it. md5 prefix parity Spark<->DuckDB is part of the determinism
    policy."""
    l = load(spark, sf_dir, "lineitem")
    bucket = (F.conv(F.substring(F.md5(F.concat_ws(
        "-", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"))), 1, 8), 16, 10)
        .cast("bigint") % 100)
    return (l.where(bucket < 5)
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("l_extendedprice"), "total")))


# ---------------------------------------------------------------------------

@query("scale_zorder_layout", oracle="""
WITH bits AS (
  SELECT o_orderkey,
    CAST(o_custkey % 65536 AS BIGINT) AS xk,
    CAST(EXTRACT(EPOCH FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
      // 86400 % 65536 AS yk
  FROM orders WHERE o_orderkey <= 2000)
SELECT o_orderkey, xk, yk,
  CAST((SELECT SUM(((xk >> i) & 1) * POWER(2, 2 * i)
             + ((yk >> i) & 1) * POWER(2, 2 * i + 1))
        FROM range(16) t(i)) AS BIGINT) AS zval
FROM bits
""")
def scale_zorder_layout(spark, sf_dir):
    """Z-order (Morton) interleaving of customer key and order day —
    the multi-dimensional clustering layout: writing sorted by zval
    co-locates rows close in BOTH dimensions, so min/max row-group
    stats prune 2-D range predicates (the Delta/Iceberg OPTIMIZE ZORDER
    technique, expressed as plain bit arithmetic)."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    xk = (F.col("o_custkey") % 65536).cast("bigint")
    yk = ((F.col("o_orderdate").cast("timestamp").cast("long") / 86400)
          .cast("bigint") % 65536)
    z = None
    for i in range(16):
        xbit = F.shiftleft(F.shiftright(F.col("xk"), i).bitwiseAND(1), 2 * i)
        ybit = F.shiftleft(F.shiftright(F.col("yk"), i).bitwiseAND(1),
                           2 * i + 1)
        term = xbit + ybit
        z = term if z is None else z + term
    return (o.select("o_orderkey", xk.alias("xk"), yk.alias("yk"))
            .withColumn("zval", z.cast("bigint")))


# ---------------------------------------------------------------------------

@query("scale_stratified_sample", oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
           AS BIGINT) % 100
      < CASE o_orderpriority WHEN '1-URGENT' THEN 50
                             WHEN '2-HIGH' THEN 20 ELSE 5 END
GROUP BY o_orderpriority
""")
def scale_stratified_sample(spark, sf_dir):
    """Stratified sampling with per-stratum rates (the deterministic
    ``sampleBy``): rare strata are kept at a higher rate than common
    ones, the standard trick for building balanced training subsets
    from skewed corpora.  The keep decision is a pure function of the
    business key's md5 — stable across runs, partitionings, and
    engines, so the sample is reproducible without persisting it.
    One scan, one partial+final agg; no shuffle of the unsampled data."""
    o = load(spark, sf_dir, "orders")
    bucket = (F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")),
                                 1, 8), 16, 10).cast("bigint") % 100)
    rate = (F.when(F.col("o_orderpriority") == "1-URGENT", 50)
            .when(F.col("o_orderpriority") == "2-HIGH", 20)
            .otherwise(5))
    return (o.where(bucket < rate)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


# ---------------------------------------------------------------------------

@query("scale_incremental_rollup", oracle=f"""
SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
       COUNT(*) AS n, {sql_dsum('value', 'total_value')}
FROM events GROUP BY 1, 2
""")
def scale_incremental_rollup(spark, sf_dir):
    """Incremental materialized-view maintenance: the weekly rollup is
    computed by MERGING daily partial aggregate states (count + exact
    decimal sum), never by re-reading raw events.  Because the partial
    states are associative, merging day partials equals the direct
    weekly aggregate bit-for-bit — the pattern that keeps a 100 TB
    metrics table incrementally updatable (each new day only touches
    its own partial; the weekly view is a cheap re-merge of ~7 rows
    per key).  The oracle computes the weekly aggregate directly,
    proving partial-merge == full recompute."""
    e = load(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.count(F.lit(1)).alias("pn"),
                  F.sum(F.col("value").cast(DEC)).alias("ptotal")))
    return (daily.groupBy(F.date_trunc("week", "day").alias("week"),
                          "event_type")
            .agg(F.sum("pn").alias("n"),
                 F.sum("ptotal").cast("double").alias("total_value")))


# ---------------------------------------------------------------------------

@query("scale_sketch_rollup", oracle="""
SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merged_in_bound, TRUE AS direct_in_bound
FROM events GROUP BY 1, 2
""")
def scale_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup: per-day HLL sketches of distinct users
    are UNIONED into weekly estimates without touching raw events again
    — the pattern that makes distinct-count dashboards incrementally
    maintainable over 100 TB (store tiny daily sketches, merge on
    read; an exact distinct would re-shuffle all raw keys every
    refresh).  Sketch values are engine-specific AND the HIP estimator
    is not merge-invariant (a merged sketch can estimate slightly
    differently than a direct one once registers densify — surfaced by
    the sf0.1 sweep), so the oracle checks the exact distinct column
    plus in-query error-bound assertions: both the merged and the
    direct estimate must land within 5% (or ±5) of the exact count."""
    e = load(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.hll_sketch_agg("user_id").alias("sk")))
    weekly = (daily.groupBy(F.date_trunc("week", "day").alias("week"),
                            "event_type")
              .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                   .alias("merged_est")))
    direct = (e.groupBy(F.date_trunc("week", "ts").alias("week"),
                        "event_type")
              .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
                   .alias("direct_est"),
                   F.countDistinct("user_id").alias("exact_users")))
    tol = F.greatest(F.lit(5.0), F.col("exact_users") * 0.05)
    return (weekly.join(direct, ["week", "event_type"])
            .select("week", "event_type", "exact_users",
                    (F.abs(F.col("merged_est") - F.col("exact_users"))
                     <= tol).alias("merged_in_bound"),
                    (F.abs(F.col("direct_est") - F.col("exact_users"))
                     <= tol).alias("direct_in_bound")))


# ---------------------------------------------------------------------------
# Count-min sketch: mergeable frequency estimation with a deterministic
# portable hash, so the FULL sketch arithmetic is value-checked by the
# oracle (not just an error-bound assertion like the HLL rollup).
# ---------------------------------------------------------------------------

_CMS_DEPTH, _CMS_WIDTH = 4, 64

_SPARK_CMS_H = ("conv(substring(md5(concat(cast({row} as string), ':', "
                "cast(user_id as string))), 1, 8), 16, 10) "
                f"% {_CMS_WIDTH}")
_DUCK_CMS_H = ("CAST(('0x' || substr(md5(CAST({row} AS VARCHAR) || ':' || "
               "CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) "
               f"% {_CMS_WIDTH}")


@query("scale_cms_topk", oracle=f"""
WITH counters AS (
  SELECT r.rw, {_DUCK_CMS_H.format(row='r.rw')} AS bucket, COUNT(*) AS c
  FROM events, unnest(range(0, {_CMS_DEPTH})) AS r(rw)
  GROUP BY 1, 2),
truth AS (
  SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY user_id),
probes AS (
  SELECT user_id, true_n FROM truth ORDER BY true_n DESC, user_id LIMIT 10),
est AS (
  SELECT p.user_id, p.true_n, MIN(c.c) AS cms_n
  FROM probes p, unnest(range(0, {_CMS_DEPTH})) AS r(rw)
  JOIN counters c
    ON c.rw = r.rw AND c.bucket = {_DUCK_CMS_H.format(row='r.rw')
       .replace('user_id', 'p.user_id')}
  GROUP BY p.user_id, p.true_n)
SELECT user_id, CAST(true_n AS BIGINT) AS true_n,
       CAST(cms_n AS BIGINT) AS cms_n,
       cms_n >= true_n AS never_undercounts
FROM est
""")
def scale_cms_topk(spark, sf_dir):
    """Count-min sketch (depth 4 × width 64) of per-user event counts:
    the mergeable heavy-hitter structure for streaming frequency
    estimation.  The sketch build is one explode(depth) + groupBy —
    counters are (depth × width) cells regardless of key cardinality,
    so the state is O(1) at any corpus size and cells merge by
    addition across shards/windows.  The top-10 true heavy hitters are
    then probed: estimate = min over rows of the hashed cell, with the
    CMS guarantee (never undercounts) asserted in-query and the exact
    cell arithmetic value-checked by the oracle (md5-derived hashes
    are engine-portable)."""
    e = load(spark, sf_dir, "events")
    rows = F.explode(F.expr(f"sequence(0, {_CMS_DEPTH - 1})")).alias("rw")
    cells = (e.select("user_id", rows)
             .select("rw", F.expr(_SPARK_CMS_H.format(row="rw"))
                     .alias("bucket"))
             .groupBy("rw", "bucket").agg(F.count(F.lit(1)).alias("c")))
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    probes = truth.orderBy(F.desc("true_n"), "user_id").limit(10)
    probed = (probes.select("user_id", "true_n", rows)
              .withColumn("bucket", F.expr(_SPARK_CMS_H.format(row="rw"))))
    est = (probed.join(F.broadcast(cells), ["rw", "bucket"])
           .groupBy("user_id", "true_n")
           .agg(F.min("c").alias("cms_n")))
    return est.select("user_id", F.col("true_n").cast("bigint"),
                      F.col("cms_n").cast("bigint"),
                      (F.col("cms_n") >= F.col("true_n"))
                      .alias("never_undercounts"))


@query("scale_skew_metrics", oracle="""
WITH g AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       CAST(quantile_disc(cnt, 0.5) AS BIGINT) AS p50_cnt,
       CAST(quantile_disc(cnt, 0.99) AS BIGINT) AS p99_cnt,
       CAST(MAX(cnt) * COUNT(*) AS DOUBLE) / SUM(cnt) AS skew_ratio
FROM g
""")
def scale_skew_metrics(spark, sf_dir):
    """Key-skew profiler — the diagnostic run BEFORE a big join/groupBy
    decides its strategy at 100 TB: per-key group sizes reduced to key
    count, max, median, p99, and skew ratio (max/avg).  A skew_ratio
    near 1 means hash partitioning balances; large means the top key
    dominates a partition → salt it or let AQE split it.  Two
    aggregations (key-hash shuffle, then 5-row reduce); the ratio is
    exact-integer max·n/sum in ONE double division — engine-exact, and
    percentile_disc picks actual data values (validated convention
    match with DuckDB's quantile_disc in adv_percentile_disc)."""
    e = load(spark, sf_dir, "events")
    e.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")) \
        .createOrReplaceTempView("v_skew_g")
    return spark.sql("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cnt)
                    AS BIGINT) AS p50_cnt,
               CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cnt)
                    AS BIGINT) AS p99_cnt,
               CAST(MAX(cnt) * COUNT(*) AS DOUBLE) / SUM(cnt) AS skew_ratio
        FROM v_skew_g""")


@query("scale_approx_topk", oracle="""
SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
""")
def scale_approx_topk(spark, sf_dir):
    """Native frequent-items sketch (Spark 4 ``approx_top_k``): one
    partial-aggregating pass builds a bounded-memory top-k summary —
    at 100 TB this replaces the full (item, count) shuffle a naive
    top-k needs with a merge of fixed-size sketches.  Exactness
    window: with k >= the true item cardinality (5 event types) the
    sketch degenerates to exact counts, so the oracle checks values;
    beyond that window only count-within-bound holds (the CMS query
    demonstrates the portable-arithmetic alternative)."""
    e = load(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 5)").alias("t"))
    return (topk.select(F.explode("t").alias("x"))
            .select(F.col("x.item").alias("event_type"),
                    F.col("x.count").alias("cnt")))


@query("scale_theta_rollup", oracle="""
SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS merged_exact
FROM events GROUP BY 1, 2
""")
def scale_theta_rollup(spark, sf_dir):
    """Theta-sketch rollup (Spark 4 ``theta_sketch_agg`` /
    ``theta_union_agg`` — the DataSketches family next to HLL): daily
    distinct-user sketches union into weekly estimates without
    re-touching raw events.  Theta's extra power over HLL is SET
    ALGEBRA (union/intersection/difference between sketches); here the
    union path is asserted EXACT in-query — below the sketch's k=4096
    retention threshold a theta sketch stores every hash, so daily→
    weekly merges must reproduce the exact distinct count (true up to
    ~4k distinct users per group; beyond that the assertion would relax
    to an error bound, the HLL-rollup pattern)."""
    e = load(spark, sf_dir, "events")
    daily = (e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.expr("theta_sketch_agg(user_id)").alias("sk")))
    weekly = (daily.groupBy(F.date_trunc("week", "day").alias("week"),
                            "event_type")
              .agg(F.expr("theta_sketch_estimate(theta_union_agg(sk))")
                   .alias("merged_est")))
    direct = (e.groupBy(F.date_trunc("week", "ts").alias("week"),
                        "event_type")
              .agg(F.countDistinct("user_id").alias("exact_users")))
    return (weekly.join(direct, ["week", "event_type"])
            .select("week", "event_type", "exact_users",
                    (F.col("merged_est") == F.col("exact_users"))
                    .alias("merged_exact")))


@query("scale_theta_retention", oracle="""
WITH weeks AS (
  SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, user_id
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT a.week AS week_a, b.week AS week_b,
         COUNT(*) AS exact_retained
  FROM weeks a JOIN weeks b
    ON a.user_id = b.user_id AND b.week = a.week + INTERVAL 7 DAY
  GROUP BY 1, 2)
SELECT week_a, week_b, exact_retained, TRUE AS sketch_exact
FROM pairs
""")
def scale_theta_retention(spark, sf_dir):
    """Week-over-week retention via theta-sketch SET ALGEBRA: the
    distinct-user sketch of week N is INTERSECTED with week N+1's and
    the estimate read off — no raw user_id re-shuffle once the weekly
    sketches are stored, which is why dashboards over 100 TB of events
    keep sketches, not users.  HLL cannot do this (no intersection);
    it is theta's distinguishing capability.  Below the k=4096
    retention threshold theta sketches are lossless, so the estimate
    is asserted EXACTLY equal to the raw-data overlap the oracle
    computes; beyond it the assertion relaxes to inclusion-exclusion
    error bounds."""
    e = load(spark, sf_dir, "events")
    weekly = (e.groupBy(F.date_trunc("week", "ts").alias("week"))
              .agg(F.expr("theta_sketch_agg(user_id)").alias("sk")))
    a = weekly.select(F.col("week").alias("week_a"), F.col("sk").alias("ska"))
    b = weekly.select(F.col("week").alias("week_b"), F.col("sk").alias("skb"))
    est = (a.join(b, F.col("week_b") == F.col("week_a") + F.expr("INTERVAL 7 DAY"))
           .select("week_a", "week_b",
                   F.expr("theta_sketch_estimate("
                          "theta_intersection(ska, skb))").cast("bigint")
                   .alias("sketch_retained")))
    exact = (e.select(F.date_trunc("week", "ts").alias("week"), "user_id")
             .distinct())
    ea = exact.select(F.col("week").alias("week_a"), "user_id")
    eb = exact.select(F.col("week").alias("week_b"), "user_id")
    truth = (ea.join(eb, (F.col("week_b")
                          == F.col("week_a") + F.expr("INTERVAL 7 DAY"))
                     & (ea.user_id == eb.user_id))
             .groupBy("week_a", "week_b")
             .agg(F.count(F.lit(1)).alias("exact_retained")))
    return (est.join(truth, ["week_a", "week_b"])
            .select("week_a", "week_b", "exact_retained",
                    (F.col("sketch_retained") == F.col("exact_retained"))
                    .alias("sketch_exact")))


# ---------------------------------------------------------------------------
# sorted-within-files layout: range-partition + sort rows by the filter
# key before writing, so every parquet row group covers a narrow key
# band and footer min/max skips most of the file at read time — the
# write-side half of predicate pushdown (clustering, the poor man's
# z-order for one dimension).
# ---------------------------------------------------------------------------

@query("scale_sorted_files", oracle=f"""
SELECT COUNT(*) AS n, CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
       {sql_dsum('l_extendedprice', 'total')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
""")
def scale_sorted_files(spark, sf_dir):
    """Range-partitioned, sorted-within-files rewrite of lineitem keyed
    on the hot filter column, then a ship-date window aggregate over
    the rewritten files.

    The write clusters rows so each row group's (min, max) footer spans
    a narrow l_shipdate band; the read's pushed range predicate then
    skips whole row groups instead of decoding them (the layout HALF of
    predicate pushdown — at 100 TB, clustering decides whether a range
    query reads 0.3% or 100% of the bytes).  Values are layout-
    independent — count / integer key sum / decimal price sum — so the
    oracle checks the rewrite lost or duplicated nothing."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice")
    target = os.path.join(scratch("padawan_sort_"), "lineitem_sorted")
    (li.repartitionByRange(8, "l_shipdate")
     .sortWithinPartitions("l_shipdate")
     .write.mode("overwrite").parquet(target))
    back = spark.read.parquet(target)
    return (back.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("l_orderkey").cast("bigint").alias("key_sum"),
             dsum(F.col("l_extendedprice"), "total")))
