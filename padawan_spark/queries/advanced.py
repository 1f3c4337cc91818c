"""Advanced operators: as-of join, skew-salted aggregation, exact
percentiles, and non-parquet source round trips."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..operators import asof_join, salted_aggregate
from ..sources import scan_csv, scan_json, write_csv, write_json
from .registry import DEC, dsum, fixture, load, query, scratch, sql_dsum


# ---------------------------------------------------------------------------
# as-of join: each purchase matched to the user's most recent prior view
# ---------------------------------------------------------------------------

@query("adv_asof_join", oracle="""
SELECT p.event_id, p.user_id, p.ts, v.ts AS ts_r, v.event_id AS event_id_r
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
""")
def adv_asof_join(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id")
    j = asof_join(p, v, on="ts", by="user_id", direction="backward",
                  suffix="_r", how="inner")
    return j.select("event_id", "user_id", "ts", "ts_r", "event_id_r")


# ---------------------------------------------------------------------------
# skew-salted aggregation: identical result to the plain GROUP BY
# ---------------------------------------------------------------------------

@query("adv_salted_agg", oracle=f"""
SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_extendedprice', 'total')}
FROM lineitem GROUP BY l_returnflag
""")
def adv_salted_agg(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        l, ["l_returnflag"],
        {"n": F.count(F.lit(1)),
         "total": F.sum(F.col("l_extendedprice").cast(DEC))},
        n_salts=16)
    return out.select("l_returnflag", F.col("n").cast("bigint").alias("n"),
                      F.col("total").cast("double").alias("total"))


# ---------------------------------------------------------------------------
# exact percentiles (sort-based, not a sketch — identical interpolation
# formula in Spark `percentile` and DuckDB `quantile_cont`)
# ---------------------------------------------------------------------------

@query("adv_percentiles", oracle="""
SELECT l_returnflag,
  quantile_cont(l_extendedprice, 0.25) AS p25,
  quantile_cont(l_extendedprice, 0.5) AS p50,
  quantile_cont(l_extendedprice, 0.95) AS p95
FROM lineitem GROUP BY l_returnflag
""")
def adv_percentiles(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    return (l.groupBy("l_returnflag")
            .agg(F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
                 F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
                 F.expr("percentile(l_extendedprice, 0.95)").alias("p95")))


@query("adv_approx_distinct", oracle="""
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
""")
def adv_approx_distinct(spark, sf_dir):
    """HLL++ approximate distinct next to the exact count.  Sketch
    estimates are engine-specific, so the oracle checks the exact
    column plus an in-query error-bound assertion: with rsd=0.01 the
    estimate is deterministic for a given input and comfortably within
    5% of truth — asserted as a boolean the oracle expects TRUE.  The
    sketch is the mergeable 100 TB path (see scale_sketch_rollup);
    countDistinct is the exactness anchor."""
    l = load(spark, sf_dir, "lineitem")
    return (l.groupBy("l_returnflag")
            .agg(F.approx_count_distinct("l_partkey", 0.01)
                 .alias("approx_parts"),
                 F.countDistinct("l_partkey").alias("exact_parts"))
            .select("l_returnflag", "exact_parts",
                    (F.abs(F.col("approx_parts") - F.col("exact_parts"))
                     <= F.greatest(F.lit(5), F.col("exact_parts") * 0.05))
                    .alias("within_bound")))


# ---------------------------------------------------------------------------
# CSV / JSON source round trips
# ---------------------------------------------------------------------------

_ORDERS_SCHEMA = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                  "o_totalprice double, o_orderdate timestamp, "
                  "o_orderpriority string")


@query("adv_csv_roundtrip", oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
GROUP BY o_orderstatus
""")
def adv_csv_roundtrip(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    target = os.path.join(scratch("padawan_csv_"), "orders")
    write_csv(o, target)
    back = scan_csv(spark, target, schema=_ORDERS_SCHEMA)
    return (back.df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


@query("adv_json_roundtrip", oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
GROUP BY o_orderpriority
""")
def adv_json_roundtrip(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
    target = os.path.join(scratch("padawan_json_"), "orders")
    write_json(o, target)
    back = scan_json(spark, target, schema=_ORDERS_SCHEMA)
    return (back.df.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


@query("adv_orc_roundtrip", oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
GROUP BY o_orderstatus
""")
def adv_orc_roundtrip(spark, sf_dir):
    """ORC sink + source round trip (self-describing columnar format, so
    no re-read schema is needed; types survive exactly)."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    target = os.path.join(scratch("padawan_orc_"), "orders")
    o.write.mode("overwrite").orc(target)
    back = spark.read.orc(target)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


@query("adv_jsonl_gz_roundtrip", oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE o_orderdate >= TIMESTAMP '2000-06-01'
GROUP BY o_orderstatus
""")
def adv_jsonl_gz_roundtrip(spark, sf_dir):
    """Gzip-compressed JSONL shards — the format raw web-corpus drops
    overwhelmingly arrive in (`*.jsonl.gz`): write orders as gzipped
    JSON lines, read them back with an explicit schema, aggregate.
    Scale shape: gzip is NOT splittable, so ingest parallelism is one
    task per shard file — which is why corpus distributors shard to
    many moderate files; Spark decompresses transparently on read and
    the very first downstream shuffle restores full parallelism.
    Values surviving the compress/serialize cycle exactly is the
    property under test; the oracle runs on the original table."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
    target = os.path.join(scratch("padawan_jgz_"), "orders")
    (o.repartition(8).write.mode("overwrite")
     .option("compression", "gzip").json(target))
    import glob as _glob
    assert _glob.glob(os.path.join(target, "*.json.gz")), \
        "expected gzipped shards on disk"
    back = spark.read.schema(_ORDERS_SCHEMA).json(target)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


@query("adv_zstd_parquet_roundtrip", oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE o_orderdate >= TIMESTAMP '2000-06-01'
GROUP BY o_orderpriority
""")
def adv_zstd_parquet_roundtrip(spark, sf_dir):
    """Zstd-compressed parquet — the modern lake default codec (better
    ratio than snappy at comparable decode speed): write, read back,
    aggregate.  Unlike the gzip-JSONL path, zstd parquet stays fully
    splittable (the row group, not the compression stream, is the
    split unit — codec applies per column chunk), so scan parallelism
    is unchanged; this pairing is exactly why columnar+zstd replaces
    jsonl.gz once data enters the lake.  Values must survive exactly;
    the oracle runs on the original table."""
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
    target = os.path.join(scratch("padawan_zst_"), "orders")
    (o.write.mode("overwrite")
     .option("compression", "zstd").parquet(target))
    import pyarrow.parquet as _pq
    import glob as _glob
    sample = _glob.glob(os.path.join(target, "*.parquet"))[0]
    codecs = {_pq.ParquetFile(sample).metadata.row_group(0)
              .column(c).compression
              for c in range(_pq.ParquetFile(sample).metadata.num_columns)}
    assert codecs == {"ZSTD"}, f"expected ZSTD column chunks: {codecs}"
    back = spark.read.parquet(target)
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("o_totalprice"), "total")))


@query("adv_merge_upsert", oracle="""
WITH delta AS (
  SELECT o_orderkey + 1000000 AS o_orderkey, o_custkey,
         'N' AS o_orderstatus, o_totalprice * 0.5 AS o_totalprice
  FROM orders WHERE o_orderkey % 100 = 1
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1
  FROM orders WHERE o_orderkey % 100 = 0)
SELECT COALESCE(t.o_orderkey, d.o_orderkey) AS o_orderkey,
       COALESCE(d.o_custkey, t.o_custkey) AS o_custkey,
       COALESCE(d.o_totalprice, t.o_totalprice) AS o_totalprice,
       CASE WHEN t.o_orderkey IS NULL THEN 'insert'
            WHEN d.o_orderkey IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM orders t FULL JOIN delta d ON t.o_orderkey = d.o_orderkey
""")
def adv_merge_upsert(spark, sf_dir):
    """MERGE INTO (upsert) semantics composed from a full outer join +
    coalesce — the lakehouse write pattern (Delta/Iceberg MERGE) on
    plain parquet: matched rows take the source's values, unmatched
    source rows are inserts, unmatched target rows pass through.  At
    scale the join shuffles both sides by the merge key once; with a
    small delta batch AQE turns it into a broadcast join and the
    target is effectively rewritten partition-local."""
    t = load(spark, sf_dir, "orders").alias("t")
    o = load(spark, sf_dir, "orders")
    updates = (o.where(F.col("o_orderkey") % 100 == 0)
               .select("o_orderkey", "o_custkey", "o_orderstatus",
                       (F.col("o_totalprice") * 1.1).alias("o_totalprice")))
    inserts = (o.where(F.col("o_orderkey") % 100 == 1)
               .select((F.col("o_orderkey") + 1000000).alias("o_orderkey"),
                       "o_custkey", F.lit("N").alias("o_orderstatus"),
                       (F.col("o_totalprice") * 0.5).alias("o_totalprice")))
    d = updates.unionByName(inserts).alias("d")
    return (t.join(d, F.col("t.o_orderkey") == F.col("d.o_orderkey"), "full")
            .select(
                F.coalesce(F.col("t.o_orderkey"), F.col("d.o_orderkey"))
                 .alias("o_orderkey"),
                F.coalesce(F.col("d.o_custkey"), F.col("t.o_custkey"))
                 .alias("o_custkey"),
                F.coalesce(F.col("d.o_totalprice"), F.col("t.o_totalprice"))
                 .alias("o_totalprice"),
                F.when(F.col("t.o_orderkey").isNull(), "insert")
                 .when(F.col("d.o_orderkey").isNull(), "keep")
                 .otherwise("update").alias("action")))


@query("adv_union_evolved", oracle="""
SELECT o_orderkey, o_totalprice, o_clerk FROM (
  SELECT o_orderkey, o_totalprice, NULL AS o_clerk
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL BY NAME
  SELECT o_orderkey, o_totalprice, 'clerk_' || CAST(o_custkey % 10 AS VARCHAR)
         AS o_clerk
  FROM orders WHERE o_orderkey % 2 = 1)
""")
def adv_union_evolved(spark, sf_dir):
    """Schema-evolution union: ``unionByName(allowMissingColumns=True)``
    aligns by column NAME and null-fills columns absent on one side —
    how an engine unions last year's files with this year's after a
    column was added.  Positional UNION would silently misalign; the
    by-name union stays a zero-shuffle partition concatenation exactly
    like the reference's ``concat`` (SURVEY §2.1 row 3)."""
    o = load(spark, sf_dir, "orders")
    old = (o.where(F.col("o_orderkey") % 2 == 0)
           .select("o_orderkey", "o_totalprice"))
    new = (o.where(F.col("o_orderkey") % 2 == 1)
           .select("o_orderkey", "o_totalprice",
                   F.concat(F.lit("clerk_"),
                            (F.col("o_custkey") % 10).cast("string"))
                   .alias("o_clerk")))
    return old.unionByName(new, allowMissingColumns=True)


@query("adv_profile_summary", oracle=f"""
SELECT 'c_acctbal' AS col, COUNT(*) AS n_rows,
       COUNT(c_acctbal) AS n_nonnull,
       COUNT(DISTINCT c_acctbal) AS n_distinct,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_v,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_v,
       {sql_dsum('c_acctbal', 'sum_v')}
FROM customer
UNION ALL
SELECT 'c_nationkey', COUNT(*), COUNT(c_nationkey),
       COUNT(DISTINCT c_nationkey),
       CAST(MIN(c_nationkey) AS DOUBLE), CAST(MAX(c_nationkey) AS DOUBLE),
       {sql_dsum('c_nationkey', 'sum_v')}
FROM customer
""")
def adv_profile_summary(spark, sf_dir):
    """Column profiling (the ``describe`` / data-quality operator): one
    row per profiled column with row/non-null/distinct counts, min,
    max, and exact decimal sum.  All metrics for ALL columns come from
    a single scan — each column's profile is one grouped projection of
    the same pass — so profiling a 100 TB table costs one read, not one
    per column."""
    c = load(spark, sf_dir, "customer")

    def metrics(col):
        return [F.count(F.lit(1)).alias(f"{col}__n_rows"),
                F.count(col).alias(f"{col}__n_nonnull"),
                F.countDistinct(col).alias(f"{col}__n_distinct"),
                F.min(col).cast("double").alias(f"{col}__min_v"),
                F.max(col).cast("double").alias(f"{col}__max_v"),
                dsum(F.col(col), f"{col}__sum_v")]

    cols = ["c_acctbal", "c_nationkey"]
    wide = c.agg(*[m for col in cols for m in metrics(col)])

    def row(col):
        return F.struct(
            F.lit(col).alias("col"),
            F.col(f"{col}__n_rows").alias("n_rows"),
            F.col(f"{col}__n_nonnull").alias("n_nonnull"),
            F.col(f"{col}__n_distinct").alias("n_distinct"),
            F.col(f"{col}__min_v").alias("min_v"),
            F.col(f"{col}__max_v").alias("max_v"),
            F.col(f"{col}__sum_v").alias("sum_v"))

    return (wide.select(F.explode(F.array(*[row(col) for col in cols]))
                        .alias("p"))
            .select("p.*"))


@query("adv_approx_quantile", oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_p50,
       quantile_cont(l_extendedprice, 0.95) AS exact_p95,
       TRUE AS p50_in_band, TRUE AS p95_in_band
FROM lineitem GROUP BY l_returnflag
""")
def adv_approx_quantile(spark, sf_dir):
    """Approximate percentiles via the Greenwald-Khanna sketch
    (``approx_percentile``, accuracy 10000 → rank error 1e-4) next to
    the exact values — the mergeable-summary path for quantiles over
    100 TB where an exact percentile needs a per-group sort.  Sketch
    values are engine-specific, so the oracle checks the exact columns
    plus rank-sandwich assertions: the approximate p50/p95 must lie
    between the exact percentiles 0.02 rank on either side (200× the
    sketch's error bound), asserted in-query as booleans."""
    l = load(spark, sf_dir, "lineitem")
    g = (l.groupBy("l_returnflag")
         .agg(F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95),"
                     " 10000)").alias("ap"),
              F.expr("percentile(l_extendedprice,"
                     " array(0.48, 0.5, 0.52, 0.93, 0.95, 0.97))")
              .alias("ep")))
    return g.select(
        "l_returnflag",
        F.col("ep")[1].alias("exact_p50"),
        F.col("ep")[4].alias("exact_p95"),
        F.col("ap")[0].between(F.col("ep")[0], F.col("ep")[2])
        .alias("p50_in_band"),
        F.col("ap")[1].between(F.col("ep")[3], F.col("ep")[5])
        .alias("p95_in_band"))


@query("adv_salted_join", oracle=f"""
WITH dim AS (SELECT DISTINCT l_returnflag,
                    CASE l_returnflag WHEN 'R' THEN 0.9 ELSE 1.0 END AS factor
             FROM lineitem)
SELECT l_returnflag, COUNT(*) AS n,
       {sql_dsum('l_extendedprice * factor', 'adj_total')}
FROM lineitem JOIN dim USING (l_returnflag)
GROUP BY l_returnflag
""")
def adv_salted_join(spark, sf_dir):
    """Skew-salted JOIN (the join-side sibling of adv_salted_agg): the
    fact's join key has only 3 values — the worst-case hot-key shuffle,
    where a plain hash join lands a third of 100 TB on one task.
    ``salted_join`` spreads each hot key over n_salts buckets by
    salting the big side randomly and replicating the small side per
    salt; the join RESULT is provably salt-invariant, so the random
    salt never leaks into the output (verified by the oracle's plain
    join).  Per-row factor arithmetic in double, cross-row sum through
    exact decimal."""
    from ..operators import salted_join
    l = load(spark, sf_dir, "lineitem")
    dim = (l.select("l_returnflag").distinct()
           .withColumn("factor",
                       F.when(F.col("l_returnflag") == "R", 0.9)
                       .otherwise(1.0)))
    j = salted_join(l.select("l_returnflag", "l_extendedprice"), dim,
                    on="l_returnflag", n_salts=8)
    return (j.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum(F.col("l_extendedprice") * F.col("factor"),
                      "adj_total")))


@query("adv_asof_forward", oracle="""
SELECT p.event_id, p.user_id, p.ts, v.ts AS ts_r, v.event_id AS event_id_r
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts <= v.ts
""")
def adv_asof_forward(spark, sf_dir):
    """Forward as-of LEFT join: each purchase is matched to the user's
    NEXT view at-or-after it ("what did they do next"), keeping
    unmatched purchases with null right columns — the other half of
    the as-of surface (adv_asof_join is backward/inner).  Same
    union-sort-carry implementation: one window shuffle on (user, ts),
    no range cross join; per key the state carried is one row."""
    e = load(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    v = e.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id")
    from ..operators import asof_join
    j = asof_join(p, v, on="ts", by="user_id", direction="forward",
                  suffix="_r", how="left")
    return j.select("event_id", "user_id", "ts", "ts_r", "event_id_r")


@query("adv_merge_schema_read", oracle="""
SELECT o_orderkey, o_totalprice, o_clerk FROM (
  SELECT o_orderkey, o_totalprice, NULL AS o_clerk
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL BY NAME
  SELECT o_orderkey, o_totalprice,
         'clerk_' || CAST(o_custkey % 10 AS VARCHAR) AS o_clerk
  FROM orders WHERE o_orderkey % 2 = 1)
""")
def adv_merge_schema_read(spark, sf_dir):
    """Schema evolution at the SOURCE: two parquet generations — one
    written before a column existed, one after — read back as one
    table with ``mergeSchema=true``, which reconciles footers across
    files and null-fills the missing column.  This is how a lakehouse
    table survives ALTER TABLE ADD COLUMN without rewriting old files;
    the sibling adv_union_evolved does the same union in-plan.  Old
    files never pay for the new column (parquet is columnar: absent
    means null, no storage)."""
    o = load(spark, sf_dir, "orders")

    def build(target):
        (o.where(F.col("o_orderkey") % 2 == 0)
         .select("o_orderkey", "o_totalprice")
         .write.mode("overwrite").parquet(target + "/gen1"))
        (o.where(F.col("o_orderkey") % 2 == 1)
         .select("o_orderkey", "o_totalprice",
                 F.concat(F.lit("clerk_"),
                          (F.col("o_custkey") % 10).cast("string"))
                 .alias("o_clerk"))
         .write.mode("overwrite").parquet(target + "/gen2"))
    target = fixture(sf_dir, "adv_merge_schema_read", build)
    back = (spark.read.option("mergeSchema", "true")
            .parquet(target + "/gen1", target + "/gen2"))
    return back.select("o_orderkey", "o_totalprice", "o_clerk")


@query("adv_custom_source", oracle="""
SELECT bucket, COUNT(*) AS n, CAST(SUM(square) AS BIGINT) AS sum_sq
FROM (SELECT i AS id, i * i AS square, i % 7 AS bucket
      FROM range(0, 10000) t(i))
GROUP BY bucket
""")
def adv_custom_source(spark, sf_dir):
    """Custom connector via the Python Data Source API (Spark 4): a
    pure-Python source whose InputPartitions become Spark tasks, read
    here with 8-way parallelism and aggregated.  This is the
    extensibility story for sources the built-in readers can't reach
    (REST APIs, bespoke binary formats); integer arithmetic keeps the
    oracle exact.  sum(square) stays in BIGINT — max ~3e11·…  well
    under 2^63 — so no decimal widening is needed."""
    from ..sources import register_python_sources
    register_python_sources(spark)
    df = (spark.read.format("pyseq")
          .option("n", "10000").option("parts", "8").load())
    return (df.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("square").alias("sum_sq")))


@query("adv_percentile_disc", oracle="""
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.5) AS p50_disc,
       quantile_disc(l_extendedprice, 0.9) AS p90_disc,
       median(l_extendedprice) AS med
FROM lineitem GROUP BY l_returnflag
""")
def adv_percentile_disc(spark, sf_dir):
    """Discrete percentiles (WITHIN GROUP ordered-set aggregates) and
    MEDIAN: quantile_disc returns an ACTUAL data value (no
    interpolation — required when the column is a code or a latency
    bucket), median interpolates like quantile_cont.  Both are
    value-exact cross-engine: disc picks the same element, and the
    interpolated median is one IEEE midpoint expression.  Completes
    the percentile family next to adv_percentiles (cont) and
    adv_approx_quantile (sketch)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_pd")
    return spark.sql("""
        SELECT l_returnflag,
          percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
            AS p50_disc,
          percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)
            AS p90_disc,
          median(l_extendedprice) AS med
        FROM v_li_pd GROUP BY l_returnflag""")


@query("adv_scd2_dimension", oracle="""
WITH ordered AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
         LAG(o_orderpriority) OVER w AS prev_p
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
changes AS (
  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
  FROM ordered
  WHERE prev_p IS NULL OR prev_p <> o_orderpriority)
SELECT o_custkey AS custkey, o_orderpriority AS priority,
       o_orderdate AS valid_from,
       LEAD(o_orderdate) OVER w2 AS valid_to,
       CASE WHEN LEAD(o_orderdate) OVER w2 IS NULL THEN 1 ELSE 0 END
         AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def adv_scd2_dimension(spark, sf_dir):
    """Slowly-changing-dimension type 2 build — the warehouse pattern
    that turns a change log into validity intervals: per customer, the
    order stream (totally ordered by date, orderkey) is compacted to
    rows where the tracked attribute (order priority) actually CHANGED,
    each stamped [valid_from, valid_to) with an is_current flag on the
    open interval.  Two windows over the same (custkey, date, orderkey)
    ordering → Catalyst evaluates both in one sort within one shuffle
    on custkey; at 100 TB the dimension key partitions the work and no
    global sort exists.  Pure column comparisons and date copies —
    engine-exact."""
    from pyspark.sql.window import Window
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (o.select("o_custkey", "o_orderpriority", "o_orderdate",
                        "o_orderkey",
                        F.lag("o_orderpriority").over(w).alias("prev_p"))
               .where(F.col("prev_p").isNull()
                      | (F.col("prev_p") != F.col("o_orderpriority"))))
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (changes
            .select(F.col("o_custkey").alias("custkey"),
                    F.col("o_orderpriority").alias("priority"),
                    F.col("o_orderdate").alias("valid_from"),
                    F.lead("o_orderdate").over(w2).alias("valid_to"),
                    F.when(F.lead("o_orderdate").over(w2).isNull(), 1)
                    .otherwise(0).alias("is_current")))


@query("adv_xml_source_roundtrip", oracle="""
SELECT n_regionkey, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS first_name
FROM nation GROUP BY n_regionkey
""")
def adv_xml_source_roundtrip(spark, sf_dir):
    """XML FILE source/sink round trip — Spark 4 ships the (formerly
    spark-xml) connector natively: write the nation table as XML
    documents, read them back with an explicit schema (XML carries no
    type metadata, so schema-on-read is declared — same discipline as
    the csv round trip), and aggregate.  Values surviving the
    serialize/parse cycle exactly is the property under test; the
    oracle runs on the original table."""
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    target = os.path.join(scratch("padawan_xml_"), "nation")
    (n.write.format("xml").option("rootTag", "nations")
     .option("rowTag", "nation").mode("overwrite").save(target))
    back = (spark.read.format("xml").option("rowTag", "nation")
            .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
            .load(target))
    return (back.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_nationkey").cast("bigint").alias("key_sum"),
                 F.min("n_name").alias("first_name")))


@query("adv_text_roundtrip", oracle="""
SELECT doc_id, text FROM documents
""")
def adv_text_roundtrip(spark, sf_dir):
    """Line-oriented ``text`` sink + source round trip — the format
    raw-corpus drops usually arrive in.  Documents are written one per
    line as ``doc_id<TAB>hex(utf8(text))`` (hex keeps embedded
    newlines/tabs from breaking the line framing — the standard
    armoring for opaque payloads in line protocols) and read back with
    the built-in text source, which splits on newlines per 128 MB file
    split, so ingest parallelism is input-size-proportional.  The
    round-tripped (doc_id, text) must equal the source table exactly.
    """
    d = load(spark, sf_dir, "documents")
    lines = d.select(F.concat_ws(
        "\t", F.col("doc_id").cast("string"),
        F.hex(F.encode(F.col("text"), "UTF-8"))).alias("value"))
    target = os.path.join(scratch("padawan_text_"), "docs")
    lines.write.mode("overwrite").text(target)
    back = spark.read.text(target)
    parts = F.split(F.col("value"), "\t", 2)
    return back.select(
        parts.getItem(0).cast("bigint").alias("doc_id"),
        F.decode(F.unhex(parts.getItem(1)), "UTF-8").alias("text"))


@query("adv_binned_range_join", oracle="""
WITH iv AS (
  SELECT s_suppkey,
         s_acctbal * 3.0 AS lo,
         s_acctbal * 3.0 + 5000.0 + (s_suppkey % 7) * 1000.0 AS hi
  FROM supplier),
hits AS (
  SELECT iv.s_suppkey, o.o_orderkey
  FROM orders o JOIN iv ON o.o_totalprice BETWEEN iv.lo AND iv.hi)
SELECT s_suppkey, COUNT(*) AS n_orders
FROM hits GROUP BY s_suppkey
""")
def adv_binned_range_join(spark, sf_dir):
    """Pure range join (no equi key) scaled by BINNING — the standard
    rewrite when BOTH sides are too big to broadcast, where Catalyst
    would otherwise fall back to a nested-loop join.

    Each interval (derived deterministically from supplier balances,
    bounded length ≤ 11k) explodes into the fixed-width value bins it
    covers (``sequence`` → ≤ 4 rows per interval), each point computes
    its single bin, and the join becomes a hash EQUI-join on bin with
    the exact BETWEEN as a residual filter.  Work scales with
    points + intervals x (interval_len / bin_width), shuffle-partitioned
    by bin — no cartesian, no broadcast requirement (the broadcast
    variant of a range join is ana_band_join).  The oracle states the
    plain BETWEEN join; binning is pure plan rewriting.
    """
    _W = 5000.0
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") * 3.0).alias("lo"),
        (F.col("s_acctbal") * 3.0 + 5000.0
         + (F.col("s_suppkey") % 7) * 1000.0).alias("hi"))
    iv = s.withColumn(
        "bin", F.explode(F.sequence(
            F.floor(F.col("lo") / _W).cast("long"),
            F.floor(F.col("hi") / _W).cast("long"))))
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice",
        F.floor(F.col("o_totalprice") / _W).cast("long").alias("bin"))
    hits = (o.join(iv.hint("shuffle_hash"), "bin")
            .where(F.col("o_totalprice").between(F.col("lo"), F.col("hi"))))
    return (hits.groupBy("s_suppkey")
            .agg(F.count(F.lit(1)).alias("n_orders")))


@query("adv_custom_sink", oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice', 'total')}
FROM orders WHERE o_orderdate >= TIMESTAMP '2000-06-01'
GROUP BY o_orderpriority
""")
def adv_custom_sink(spark, sf_dir):
    """Custom Python Data Source SINK round trip (Spark 4
    DataSourceWriter): an aggregated result is written through the
    jsonlsink connector — each task emits one uniquely-named jsonl file
    and a commit message; the driver-side commit() publishes a manifest
    of exactly the committed files — then read back via the manifest
    (never by directory listing, so speculative/failed task output is
    invisible: the lakehouse two-phase visibility rule, here exercised
    end-to-end).  The read-back aggregate must equal the direct SQL.
    """
    from ..sources.pysource import read_jsonl_sink, register_python_sources
    register_python_sources(spark)
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-06-01").cast("timestamp"))
    agg = (o.groupBy("o_orderpriority")
           .agg(F.count(F.lit(1)).alias("n"),
                dsum(F.col("o_totalprice"), "total")))
    target = scratch("padawan_jsonlsink_")
    agg.write.format("jsonlsink").option("path", target).mode("append").save()
    back = read_jsonl_sink(
        spark, target, "o_orderpriority string, n bigint, total double")
    return back


@query("adv_constraint_audit", oracle="""
SELECT 'orders_pk_unique' AS check_name,
       CAST((SELECT COUNT(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey
          HAVING COUNT(*) > 1)) AS BIGINT) AS violations
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_range',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
UNION ALL
SELECT 'orders_custkey_not_null',
       CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'lineitem_qty_positive',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
""")
def adv_constraint_audit(spark, sf_dir):
    """Data-quality constraint audit (the dbt-test / Deequ pattern): a
    pipeline gate that turns schema assumptions into counted violations
    — primary-key uniqueness, referential integrity, domain ranges,
    non-null columns — rolled into one small result the orchestrator
    asserts on before publishing a table.

    Scale shape: uniqueness is one key-hash aggregation; the FK check
    is a LEFT ANTI join on the key (never a cross product; at 100 TB
    the orders side stays a hash-shuffled build, or broadcast when
    dim-sized); range/null checks fuse into single scans with
    partial-aggregated conditional counts.  Everything is integer
    counting: engine-exact."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    pk_dup = (o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("c"))
              .where(F.col("c") > 1).count())
    fk_orphans = (l.join(o.select("o_orderkey"),
                         l.l_orderkey == o.o_orderkey, "left_anti").count())
    scans = (l.agg(
        F.sum(F.when((F.col("l_discount") < 0)
                     | (F.col("l_discount") > 1), 1).otherwise(0))
        .alias("disc"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0))
        .alias("qty")).first())
    nulls = o.agg(F.sum(F.when(F.col("o_custkey").isNull(), 1)
                        .otherwise(0)).alias("n")).first()["n"]
    rows = [("orders_pk_unique", pk_dup),
            ("lineitem_fk_orders", fk_orphans),
            ("lineitem_discount_range", int(scans["disc"] or 0)),
            ("orders_custkey_not_null", int(nulls or 0)),
            ("lineitem_qty_positive", int(scans["qty"] or 0))]
    return spark.createDataFrame(rows, "check_name string, violations bigint")


@query("src_avro_roundtrip", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       COUNT(*) FILTER (WHERE o_orderkey % 7 = 0 AND o_orderkey < 150000) AS n_null_status,
       ROUND(CAST(SUM(CAST(o_totalprice AS DOUBLE)) AS DOUBLE), 2) AS price_sum
FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey < 150000
""")
def src_avro_roundtrip(spark, sf_dir):
    """Avro Object Container source: Spark ships Avro only as an
    external package, so the engine reads it through the
    dependency-free spec decoder (`functions/avro.py` — zigzag
    varints, block/sync framing, null+deflate codecs, [null,T]
    unions) plugged into the Python Data Source API as
    ``padawan_avro``.  A deterministic orders slice is written to
    THREE container files (alternating codecs, nullable status column
    nulled for every 7th key), read back schema-first (the writer
    schema embedded in the file header becomes the Catalyst schema,
    one task per file), and aggregated; the oracle recomputes the
    aggregate straight from the source table — count, key sum, null
    census, and price sum all survive the round trip."""
    from ..functions.avro import encode_avro_py
    from ..sources import register_python_sources
    register_python_sources(spark)
    rows = (load(spark, sf_dir, "orders")
            .where((F.col("o_orderkey") % 10 == 0)
           & (F.col("o_orderkey") < 150000))
            .select("o_orderkey", "o_orderstatus",
                    F.col("o_totalprice").cast("double"))
            .collect())
    fields = [("o_orderkey", "long", False),
              ("o_orderstatus", "string", True),
              ("o_totalprice", "double", False)]
    recs = [(r[0], None if r[0] % 7 == 0 else r[1], r[2]) for r in rows]
    d = scratch("padawan_avro_")
    third = (len(recs) + 2) // 3
    for fi in range(3):
        chunk = recs[fi * third:(fi + 1) * third]
        with open(os.path.join(d, f"part-{fi}.avro"), "wb") as fh:
            fh.write(encode_avro_py(
                fields, chunk,
                codec="deflate" if fi % 2 else "null",
                block_rows=512))
    df = spark.read.format("padawan_avro").option("path", d).load()
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
        F.count(F.when(F.col("o_orderstatus").isNull(), 1))
        .cast("bigint").alias("n_null_status"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"))


@query("src_delta_partition_prune", oracle="""
SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       COUNT(DISTINCT n_regionkey) AS n_groups
FROM nation WHERE n_regionkey = 2
""")
def src_delta_partition_prune(spark, sf_dir):
    """Delta partition pruning — ``read_delta(filters=...)``:
    a point predicate on a partition column prunes the planned FILE
    LIST on the driver through the add actions' partitionValues
    (Delta's partition pruning), then re-applies as an exact row
    predicate.  The query asserts the plan property it claims: only
    the filtered partition's files may enter the plan.  Scale shape:
    a point lookup on a partitioned key plans O(files-in-partition),
    not O(table)."""
    from ..functions.delta import read_delta, write_delta_fixture
    from ..plans import physical_plan
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, n, t, partition_by=("g",))
    t = fixture(sf_dir, "src_delta_partition_prune", build)
    out = read_delta(spark, t, filters={"g": 2})
    plan = physical_plan(out)
    assert "g=2/" in plan and "g=0/" not in plan \
        and "g=1/" not in plan, plan
    return out.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("k").cast("bigint").alias("key_sum"),
                   F.countDistinct("g").alias("n_groups"))


@query("src_delta_read", oracle="""
SELECT 0 AS version, COUNT(*) FILTER (WHERE n_nationkey < 15) AS n,
       CAST(SUM(n_nationkey) FILTER (WHERE n_nationkey < 15) AS BIGINT)
         AS key_sum
FROM nation
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(n_nationkey) AS BIGINT) FROM nation
UNION ALL
SELECT 2, COUNT(*) FILTER (WHERE n_regionkey <> 0),
       CAST(SUM(n_nationkey) FILTER (WHERE n_regionkey <> 0) AS BIGINT)
FROM nation
""")
def src_delta_read(spark, sf_dir):
    """Delta Lake interop: scan a PARTITIONED Delta table through
    the dependency-free transaction-log reader
    (`functions/delta.py:read_delta`) — no delta-spark jar.  A
    spec-layout log is built by the fixture writer (three commits:
    create partitioned by region, append, remove one partition's
    files), then every version is read via log replay + time travel:
    add/remove resolution, partition-value columns re-attached from
    the add actions (Delta does not store them in the data files —
    the key sum catches a mis-attached partition), and the embedded
    schemaString becoming the Catalyst schema.  The oracle restates
    each version's aggregate from the source table.  Scale shape: log
    replay is O(actions) driver work; the scan is one parquet job per
    distinct partition tuple, unioned."""
    from ..functions.delta import (read_delta,
                                   remove_delta_files_fixture,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        F.col("n_name").alias("name"))

    def build(t):
        write_delta_fixture(spark, n.where(F.col("k") < 15), t,
                            partition_by=("g",))
        write_delta_fixture(spark, n.where(F.col("k") >= 15), t,
                            partition_by=("g",), mode="append")
        remove_delta_files_fixture(t, lambda rel: rel.startswith("g=0/"))
    t = fixture(sf_dir, "src_delta_read", build)
    out = []
    for v in (0, 1, 2):
        agg = read_delta(spark, t, version=v).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("s")).collect()[0]
        out.append((v, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(out,
                                 "version int, n bigint, key_sum bigint")


@query("src_delta_id_mapping", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN n_regionkey = 2
                     THEN n_nationkey END) AS BIGINT) AS r2_sum
FROM nation
""")
def src_delta_id_mapping(spark, sf_dir):
    """Delta 'id'-mode column mapping — the layout conversions
    from other engines produce: data files matched to the schema by
    PARQUET FOOTER FIELD IDS, with physical column names that need
    not agree across files.  The fixture writes two commits whose
    physical names deliberately differ (only the field ids line up);
    the reader groups files by footer layout, scans each group with
    its own physical DDL, aliases back to logical names, and
    re-attaches physically-keyed partition values.  The oracle
    restates the union from the source table.  Scale shape: one
    O(footer) driver tap per file — the same order as the log replay
    already does — then one parquet scan per (partition, layout)
    group."""
    from ..functions.delta import read_delta, write_delta_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, n.where(F.col("k") % 2 == 0), t,
                            partition_by=("g",), column_mapping="id")
        write_delta_fixture(spark, n.where(F.col("k") % 2 == 1), t,
                            partition_by=("g",), mode="append",
                            column_mapping="id")
    t = fixture(sf_dir, "src_delta_id_mapping", build)
    return read_delta(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.sum(F.when(F.col("g") == 2, F.col("k")))
        .cast("bigint").alias("r2_sum"))


@query("src_delta_nested_read", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN o_custkey END) AS BIGINT) AS open_cust_sum,
       CAST(SUM(o_custkey % 5) AS BIGINT) AS sp_sum,
       CAST(SUM(o_orderkey % 7 + o_orderkey % 11) AS BIGINT)
         AS arr_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS map_sum,
       COUNT(DISTINCT o_orderkey % 3) AS n_groups
FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey < 150000
""")
def src_delta_nested_read(spark, sf_dir):
    """Delta NESTED columns through column mapping: a
    partitioned ``name``-mode mapped table whose columns
    are a two-level struct, an array of structs and a map with
    struct values.  The fixture writer renames every struct field to
    its ``physicalName`` at EVERY depth before writing (JVM
    expressions, Arrow collection — pandas never sees a struct); the
    reader builds the physical scan DDL recursively, then rebuilds
    the logical shape with ``F.struct``/``transform``/
    ``transform_values`` — whole-stage-codegen expressions, no
    Python in the row path.  The oracle restates every nested
    accessor's aggregate from the flat source columns, so a mis-
    mapped inner field (reading nulls) breaks a sum.  Scale shape:
    identical to the flat reader — one scan per schema epoch, remap
    is per-row expression work."""
    from ..functions.delta import read_delta, write_delta_fixture
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderkey") % 10 == 0)
        & (F.col("o_orderkey") < 150000)).select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_custkey").cast("bigint").alias("cust"),
            F.struct((F.col("o_custkey") % 5).cast("bigint")
                     .alias("sp")).alias("inner")).alias("st"),
        F.array(
            F.struct((F.col("o_orderkey") % 7).cast("bigint")
                     .alias("m")),
            F.struct((F.col("o_orderkey") % 11).cast("bigint")
                     .alias("m"))).alias("ar"),
        F.create_map(
            F.lit("c"),
            F.struct(F.col("o_custkey").cast("bigint")
                     .alias("q"))).alias("mp"),
        (F.col("o_orderkey") % 3).cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, o, t, partition_by=("g",),
                            column_mapping="name")
    t = fixture(sf_dir, "src_delta_nested_read", build)
    out = read_delta(spark, t)
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("st.status") == "O", F.col("st.cust")))
        .cast("bigint").alias("open_cust_sum"),
        F.sum(F.col("st.inner.sp")).cast("bigint").alias("sp_sum"),
        F.sum(F.col("ar")[0]["m"] + F.col("ar")[1]["m"])
        .cast("bigint").alias("arr_sum"),
        F.sum(F.col("mp")["c"]["q"]).cast("bigint").alias("map_sum"),
        F.countDistinct("g").alias("n_groups"))


@query("src_delta_time_travel", oracle="""
SELECT 'then' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 'now', 2 * COUNT(*),
       CAST(SUM(2 * n_nationkey + 700) AS BIGINT)
FROM nation
""")
def src_delta_time_travel(spark, sf_dir):
    """Delta TIMESTAMP time travel: ``as_of_ms`` resolves the
    latest commit at or before the instant the way delta readers do
    — ``inCommitTimestamp`` when a commitInfo records one, else the
    commit JSON's modification time.  The fixture pins both commits'
    mtimes, reads the table between them (first snapshot only) and
    after (both).  Scale shape: resolution walks O(commits) commit
    HEADS on the driver (first commitInfo line or one stat call),
    never data."""
    from ..functions.delta import read_delta, write_delta_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"))

    def build(t):
        write_delta_fixture(spark, n, t)
        write_delta_fixture(spark, n.select(
            (F.col("k") + 700).alias("k")), t, mode="append")
        log = os.path.join(t, "_delta_log")
        os.utime(os.path.join(log, f"{0:020d}.json"), (1000, 1000))
        os.utime(os.path.join(log, f"{1:020d}.json"), (2000, 2000))
    t = fixture(sf_dir, "src_delta_time_travel", build)
    then = read_delta(spark, t, as_of_ms=1500_000).agg(
        F.lit("then").alias("scope"),
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"))
    now = read_delta(spark, t, as_of_ms=2500_000).agg(
        F.lit("now").alias("scope"),
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"))
    return then.unionByName(now)


@query("src_delta_cdf_checkpoint", oracle="""
SELECT 'insert' AS change, COUNT(*) AS n,
       CAST(SUM(n_nationkey + 100) AS BIGINT) AS key_sum
FROM nation
UNION ALL
-- the partition drop removes BOTH g=0 files: the checkpoint-covered
-- v0 rows (k) and the v1-appended rows (k + 100)
SELECT 'delete', 2 * COUNT(*),
       CAST(SUM(n_nationkey) + SUM(n_nationkey + 100) AS BIGINT)
FROM nation WHERE n_regionkey = 0
""")
def src_delta_cdf_checkpoint(spark, sf_dir):
    """Delta CDF over a RETENTION-CLEANED log: the
    fixture commits a create, checkpoints AND DELETES
    the covered JSON (the shape every real table has after 30-day
    log retention), then appends and drops a partition.  Reading
    changes from the first post-checkpoint version initializes file
    state from the checkpoint — the delete rows of the cleaned-add
    files still carry their partition values, where a reader
    without that fallback would have to gate.  The oracle restates
    the post-checkpoint changes.
    Scale shape: stream-start/read planning is O(commits since
    checkpoint), not O(all commits since version 0); change files
    scan distributed as before."""
    from ..functions.delta import (read_delta_changes,
                                   remove_delta_files_fixture,
                                   write_delta_checkpoint_fixture,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, n, t, partition_by=("g",))     # v0
        write_delta_checkpoint_fixture(t, clean_before=True)      # 0 gone
        write_delta_fixture(
            spark, n.select((F.col("k") + 100).alias("k"),
                            F.col("g")), t, mode="append")        # v1
        remove_delta_files_fixture(
            t, lambda rel: rel.startswith("g=0/"))                # v2
    t = fixture(sf_dir, "src_delta_cdf_checkpoint", build)
    ch = read_delta_changes(spark, t, starting_version=1)
    return (ch.where(F.col("_change_type") == "insert")
            .agg(F.lit("insert").alias("change"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum("k").cast("bigint").alias("key_sum"))
            .unionByName(
                ch.where(F.col("_change_type") == "delete")
                .agg(F.lit("delete").alias("change"),
                     F.count(F.lit(1)).alias("n"),
                     F.sum("k").cast("bigint").alias("key_sum"))))


@query("src_delta_cdf_read", oracle="""
SELECT 'insert' AS change, 0 AS commit_v, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 'delete', 1, COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM nation WHERE n_regionkey = 2
UNION ALL
SELECT 'update_preimage', 2, COUNT(*),
       CAST(SUM(n_nationkey) AS BIGINT)
FROM nation WHERE n_regionkey = 1
UNION ALL
SELECT 'update_postimage', 2, COUNT(*),
       CAST(SUM(n_nationkey) AS BIGINT)
FROM nation WHERE n_regionkey = 1
UNION ALL
-- v3: deletion-vector commit — deletes = the newly-dead positions
-- (file sorted by key; DV kills positions 0,1 of region 3's file)
SELECT 'delete', 3, COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM (SELECT n_nationkey FROM nation WHERE n_regionkey = 3
      ORDER BY n_nationkey LIMIT 2)
""")
def src_delta_cdf_read(spark, sf_dir):
    """Delta CHANGE DATA FEED interop — the row-level change
    stream the native engine's ``read_changes`` provides, read from
    an EXISTING Delta table per the protocol: commits with ``cdc``
    actions (``_change_data/`` files carrying ``_change_type``, what
    a CDF-enabled UPDATE writes) use only those; commits without
    derive inserts from data-changing adds and deletes from removes
    (files read pre-vacuum, partition values recovered from the
    pre-remove state).  The fixture commits a create (derived
    inserts), a partition delete (derived deletes), a cdc-explicit
    UPDATE (pre/postimage pairs), and a DELETION-VECTOR commit
    whose delete rows are exactly the newly-dead positions (new DV
    minus old DV, decoded in distributed tasks, applied by
    ``_metadata.row_index``); the oracle restates every change row
    from the source table.  Scale shape: one distributed scan per
    change file, O(log actions) driver replay, no row work on the
    driver."""
    from ..functions.delta import (add_dv_fixture, read_delta_changes,
                                   remove_delta_files_fixture,
                                   replay_delta_log,
                                   update_delta_cdc_fixture,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        # order_by pins physical row order — DV positions address by it
        write_delta_fixture(spark, n, t, partition_by=("g",),
                            order_by=("k",))
        remove_delta_files_fixture(t, lambda rel: rel.startswith("g=2/"))
        update_delta_cdc_fixture(spark, t, "g", 1, "v", 1000)
        _sch, _pc, files, _mm = replay_delta_log(t)
        g3 = next(rel for rel, _pv, _dv in files if rel.startswith("g=3/"))
        add_dv_fixture(t, {g3: [0, 1]})
    t = fixture(sf_dir, "src_delta_cdf_read", build)
    return (read_delta_changes(spark, t)
            .groupBy(F.col("_change_type").alias("change"),
                     F.col("_commit_version").cast("int")
                     .alias("commit_v"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").cast("bigint").alias("key_sum")))


@query("src_delta_v2_checkpoint", oracle="""
SELECT 'ckpt' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation WHERE n_regionkey <> 2
UNION ALL
SELECT 'final', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM nation
WHERE n_regionkey <> 2 OR n_nationkey % 2 = 0
""")
def src_delta_v2_checkpoint(spark, sf_dir):
    """Delta V2 CHECKPOINTS — the layout modern writers emit
    with the v2Checkpoint table feature: a UUID-named top-level
    checkpoint parquet holding protocol/metaData/checkpointMetadata
    plus ``sidecar`` actions, with the add/remove set split across
    parquet files under ``_delta_log/_sidecars/``.  The fixture
    builds a partitioned table (create + append + remove one
    partition), checkpoints it V2 with two sidecars, DELETES the
    covered JSON commits (the retention-cleaned state), appends a
    post-checkpoint commit, and reads both the checkpoint state
    (version time travel) and the final state.  The oracle restates
    both from the source table.  Scale shape: checkpoint replay is
    O(actions) driver-side pyarrow over top-level + sidecars; the
    data scan is unchanged."""
    from ..functions.delta import (list_delta_versions, read_delta,
                                   remove_delta_files_fixture,
                                   write_delta_checkpoint_fixture,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, n.where(F.col("k") < 15), t,
                            partition_by=("g",))
        write_delta_fixture(spark, n.where(F.col("k") >= 15), t,
                            partition_by=("g",), mode="append")
        remove_delta_files_fixture(t, lambda rel: rel.startswith("g=2/"))
        write_delta_checkpoint_fixture(t, clean_before=True, v2=True,
                                       n_sidecars=2)
        write_delta_fixture(
            spark, n.where((F.col("g") == 2) & (F.col("k") % 2 == 0)),
            t, partition_by=("g",), mode="append")
    t = fixture(sf_dir, "src_delta_v2_checkpoint", build)
    v = list_delta_versions(t)[-1] - 1      # the checkpoint's version
    out = []
    for scope, ver in (("ckpt", v), ("final", None)):
        agg = read_delta(spark, t, version=ver).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("s")).collect()[0]
        out.append((scope, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(
        out, "scope string, n bigint, key_sum bigint")


@query("src_hudi_clustering", oracle="""
SELECT 'pre' AS scope, COUNT(*) AS n,
       COUNT(*) FILTER (WHERE n_nationkey % 3 = 0) AS n_upd,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 'post', COUNT(*),
       COUNT(*) FILTER (WHERE n_nationkey % 3 = 0),
       CAST(SUM(n_nationkey) AS BIGINT)
FROM nation
""")
def src_hudi_clustering(spark, sf_dir):
    """Hudi REPLACECOMMIT / clustering: a replacecommit retires
    whole file groups — accumulated log files included — in favor of
    new base files, changing LAYOUT but never VALUES.  The fixture
    upserts ``k % 3 == 0`` rows' names via a deltacommit, then
    clusters one partition's file group (its new base carrying the
    merged rows, as a real clustering service writes); the query
    reads the pre- and post-clustering instants and proves both see
    identical values, while an in-query assertion checks the
    clustered group really dropped its logs (layout change is real).
    The oracle restates the (value-identical) aggregate twice.
    Scale shape: clustering converts merge-on-read groups back to
    pure scans — the read cost of the window merge disappears for
    clustered groups."""
    import json as _json

    from ..functions.hudi import (list_hudi_commits, live_hudi_slices,
                                  read_hudi, write_hudi_delta_fixture,
                                  write_hudi_fixture,
                                  write_hudi_replace_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        F.col("n_name").alias("name"))

    def build(t):
        i1 = write_hudi_fixture(spark, n, t, partition_field="g")
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 3 == 0)
            .withColumn("name", F.lit("UPD")), partition_field="g")
        with open(os.path.join(t, ".hoodie", f"{i1}.commit")) as fh:
            fid1 = _json.load(fh)["partitionToWriteStats"]["1"][0]["fileId"]
        merged_g1 = (n.where(F.col("g") == 1)
                     .withColumn("name",
                                 F.when(F.col("k") % 3 == 0, F.lit("UPD"))
                                 .otherwise(F.col("name"))))
        write_hudi_replace_fixture(spark, merged_g1, t, {"1": [fid1]},
                                   partition_field="g")
    t = fixture(sf_dir, "src_hudi_clustering", build)
    _i1, d1, r1 = list_hudi_commits(t)
    # layout really changed: the clustered partition has no live logs
    assert all(not s["logs"] for s in live_hudi_slices(t, r1).values()
               if s["part"] == "1")
    out = []
    for scope, inst in (("pre", d1), ("post", r1)):
        agg = read_hudi(spark, t, as_of=inst).agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("name") == "UPD", 1)).alias("u"),
            F.sum("k").cast("bigint").alias("s")).collect()[0]
        out.append((scope, int(agg["n"]), int(agg["u"]),
                    int(agg["s"])))
    return spark.createDataFrame(
        out, "scope string, n bigint, n_upd bigint, key_sum bigint")


@query("src_delta_dv_read", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       ROUND(CAST(SUM(CAST(o_totalprice AS DOUBLE)) AS DOUBLE), 2)
         AS price_sum
FROM orders
WHERE o_orderkey % 10 = 0 AND o_orderkey < 150000 AND o_orderkey % 3 <> 0
""")
def src_delta_dv_read(spark, sf_dir):
    """Delta Lake DELETION VECTORS + parquet CHECKPOINT replay —
    the two protocol features a user of modern Delta tables (DVs are
    default-on) hits first.  A partitioned fixture table gets a DV
    commit marking every ``o_orderkey % 3 == 0`` row deleted BY
    POSITION (one partition's bitmap Z85-INLINE in the log, the rest
    in a framed ``.bin`` sidecar — both public storage types), then a
    classic parquet checkpoint is written and the pre-checkpoint JSON
    commits are retention-cleaned, so the read exercises checkpoint
    replay, the protocol/readerFeatures gate, full RoaringBitmapArray
    decode (`functions/deltadv.py`), and the broadcast anti-join on
    ``(_metadata.file_path, _metadata.row_index)``.  The oracle
    restates the surviving rows straight from the source table.
    Scale shape: DV decode is O(deleted rows) driver work (inherent to
    the format — every Delta reader does it); the data files read in
    ONE distributed scan with the position set broadcast, no rewrite."""
    from ..functions.delta import (add_dv_fixture, read_delta,
                                   replay_delta_log,
                                   write_delta_checkpoint_fixture,
                                   write_delta_fixture)
    src = (load(spark, sf_dir, "orders")
           .where((F.col("o_orderkey") % 10 == 0)
           & (F.col("o_orderkey") < 150000))
           .select(F.col("o_orderkey").cast("bigint").alias("k"),
                   (F.col("o_orderkey") % 4).cast("bigint").alias("g"),
                   F.col("o_totalprice").cast("double").alias("price")))

    def build(t):
        write_delta_fixture(spark, src, t, partition_by=("g",),
                            order_by=("k",))
        # positions are row indexes within each (k-sorted) partition file
        keys = [(int(r["g"]), int(r["k"]))
                for r in src.select("g", "k").collect()]
        by_g: dict[int, list[int]] = {}
        for g, k in sorted(keys):
            by_g.setdefault(g, []).append(k)
        _sch, _pc, files, _mm = replay_delta_log(t)
        rel_by_g = {int(pv["g"]): rel for rel, pv, _dv in files}
        dv_by_rel = {}
        for g, ks in by_g.items():
            positions = [i for i, k in enumerate(ks) if k % 3 == 0]
            if positions:
                dv_by_rel[rel_by_g[g]] = positions
        inline_rel = min(dv_by_rel)
        add_dv_fixture(t, {inline_rel: dv_by_rel[inline_rel]}, inline=True)
        rest = {r: p for r, p in dv_by_rel.items() if r != inline_rel}
        if rest:
            add_dv_fixture(t, rest)
        write_delta_checkpoint_fixture(t, clean_before=True)
    t = fixture(sf_dir, "src_delta_dv_read", build)
    return read_delta(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.round(F.sum("price"), 2).alias("price_sum"))


@query("src_iceberg_read", oracle="""
SELECT 1 AS snapshot, COUNT(*) FILTER (WHERE n_nationkey < 15) AS n,
       CAST(SUM(n_nationkey) FILTER (WHERE n_nationkey < 15) AS BIGINT)
         AS key_sum
FROM nation
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(n_nationkey) AS BIGINT) FROM nation
UNION ALL
SELECT 3, COUNT(*) FILTER (WHERE n_regionkey <> 2),
       CAST(SUM(n_nationkey) FILTER (WHERE n_regionkey <> 2) AS BIGINT)
FROM nation
""")
def src_iceberg_read(spark, sf_dir):
    """Apache Iceberg interop: scan a PARTITIONED Iceberg table
    without the iceberg-spark runtime — metadata.json walk, the
    snapshot's Avro manifest list and manifest files decoded by the
    in-repo generic Avro datum reader (nested records/arrays are
    exactly what manifests are made of), DELETED entries dropped,
    identity partition values from each data_file.partition record
    re-attached as columns.  Three snapshots (create partitioned by
    region, append, delete one partition) are each read by snapshot-id
    time travel; the oracle restates every snapshot's aggregate from
    the source table.  Scale shape: O(manifest entries) driver work,
    one parquet job per distinct partition tuple."""
    from ..functions.iceberg import (list_iceberg_snapshots, read_iceberg,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        F.col("n_name").alias("name"))

    def build(t):
        write_iceberg_fixture(spark, n.where(F.col("k") < 15), t,
                              partition_by=("g",))
        write_iceberg_fixture(spark, n.where(F.col("k") >= 15), t,
                              partition_by=("g",))
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_partition={"g": 2})
    t = fixture(sf_dir, "src_iceberg_read", build)
    out = []
    for s in list_iceberg_snapshots(t):
        agg = read_iceberg(spark, t, snapshot_id=s).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("s")).collect()[0]
        out.append((s, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(
        out, "snapshot int, n bigint, key_sum bigint")


@query("src_iceberg_nested_read", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN o_custkey END) AS BIGINT) AS open_buyer_sum,
       CAST(SUM(o_custkey % 5) AS BIGINT) AS depth_sum,
       CAST(SUM(o_orderkey % 7 + o_orderkey % 11) AS BIGINT)
         AS arr_sum,
       CAST(SUM(o_custkey) AS BIGINT) AS map_sum
FROM orders WHERE o_orderkey % 10 = 1 AND o_orderkey < 150000
""")
def src_iceberg_nested_read(spark, sf_dir):
    """Iceberg NESTED columns through SCHEMA EVOLUTION:
    struct-in-struct, struct-in-array and struct-valued-map
    columns written over TWO snapshots with an inner-field RENAME in
    between (``st.buyer``/``st.inner.depth``/``ar.element.m`` were
    born under different names) — so the reader must resolve nested
    fields per the spec's "columns are matched by field id" rule
    THROUGH the nesting: one distributed parquet footer-TREE job
    (`functions/nested.py:parquet_field_trees`), per-file physical
    DDL, and a JVM-expression rebuild back to the logical names
    (`functions/iceberg.py:read_iceberg` nested_mode).  A by-name
    reader would return nulls for every pre-rename file and break
    the sums.  The oracle restates each nested accessor's aggregate
    from the flat source columns.  Scale shape: same as the flat
    evolved reader — one footer job, one scan per layout epoch."""
    from ..functions.iceberg import (evolve_iceberg_schema_fixture,
                                     read_iceberg,
                                     write_iceberg_fixture)

    def nested(df, buyer, depth, m):
        return df.select(
            F.col("o_orderkey").cast("bigint").alias("k"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_custkey").cast("bigint").alias(buyer),
                F.struct((F.col("o_custkey") % 5).cast("bigint")
                         .alias(depth)).alias("inner")).alias("st"),
            F.array(
                F.struct((F.col("o_orderkey") % 7).cast("bigint")
                         .alias(m)),
                F.struct((F.col("o_orderkey") % 11).cast("bigint")
                         .alias(m))).alias("ar"),
            F.create_map(
                F.lit("c"),
                F.struct(F.col("o_custkey").cast("bigint")
                         .alias("q"))).alias("mp"))

    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 10 == 1)

    def build(t):
        write_iceberg_fixture(
            spark, nested(o.where((F.col("o_orderkey") % 20 == 1)
               & (F.col("o_orderkey") < 150000)),
                          "cust", "sp", "m0"), t)
        evolve_iceberg_schema_fixture(
            t, renames={"st.cust": "buyer", "st.inner.sp": "depth",
                        "ar.element.m0": "m"})
        write_iceberg_fixture(
            spark, nested(o.where((F.col("o_orderkey") % 20 == 11)
               & (F.col("o_orderkey") < 150000)),
                          "buyer", "depth", "m"), t)
    t = fixture(sf_dir, "src_iceberg_nested_read", build)
    out = read_iceberg(spark, t)
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("st.status") == "O", F.col("st.buyer")))
        .cast("bigint").alias("open_buyer_sum"),
        F.sum(F.col("st.inner.depth")).cast("bigint")
        .alias("depth_sum"),
        F.sum(F.col("ar")[0]["m"] + F.col("ar")[1]["m"])
        .cast("bigint").alias("arr_sum"),
        F.sum(F.col("mp")["c"]["q"]).cast("bigint").alias("map_sum"))


@query("src_iceberg_v2_deletes", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       COUNT(DISTINCT o_orderkey % 4) AS n_groups
FROM orders
WHERE o_orderkey % 10 = 0 AND o_orderkey < 150000 AND o_orderkey % 3 <> 0
""")
def src_iceberg_v2_deletes(spark, sf_dir):
    """Iceberg format-v2 POSITION DELETES — the most-hit real
    interop gap after the v1 reader: a merge-on-read DELETE writes a
    delete manifest (``content=1`` manifest-list row) pointing at
    position-delete parquet files (``file_path``/``pos`` columns),
    which the reader must anti-join against data rows by (file, row
    position).  The fixture builds a partitioned table (deterministic
    in-file row order), commits a position-delete snapshot marking
    every ``o_orderkey % 3 == 0`` row deleted, and a SECOND delete
    snapshot on another partition to prove delete files carry forward
    across snapshots.  The oracle restates the surviving rows from the
    source table.  Scale shape: delete files read as their own
    distributed parquet scan and anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` — never collected,
    AQE broadcasts when small; data files are never rewritten."""
    from ..functions.iceberg import read_iceberg, write_iceberg_fixture
    src = (load(spark, sf_dir, "orders")
           .where((F.col("o_orderkey") % 10 == 0)
           & (F.col("o_orderkey") < 150000))
           .select(F.col("o_orderkey").cast("bigint").alias("k"),
                   (F.col("o_orderkey") % 4).cast("bigint").alias("g")))

    def build(t):
        write_iceberg_fixture(spark, src, t, partition_by=("g",),
                              order_by=("k",))
        by_g: dict[int, list[int]] = {}
        for g, k in sorted((int(r["g"]), int(r["k"]))
                           for r in src.select("g", "k").collect()):
            by_g.setdefault(g, []).append(k)
        # data files are data/snap1-<ki>.parquet in sorted-group order
        rel_by_g = {g: f"data/snap1-{ki}.parquet"
                    for ki, g in enumerate(sorted(by_g))}
        dels = {g: [i for i, k in enumerate(ks) if k % 3 == 0]
                for g, ks in by_g.items()}
        first = min(g for g, p in dels.items() if p)
        write_iceberg_fixture(
            spark, None, t, partition_by=("g",),
            delete_positions={rel_by_g[first]: dels[first]})
        rest = {rel_by_g[g]: p for g, p in dels.items()
                if g != first and p}
        if rest:
            write_iceberg_fixture(spark, None, t, partition_by=("g",),
                                  delete_positions=rest)
    t = fixture(sf_dir, "src_iceberg_v2_deletes", build)
    return read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.countDistinct("g").alias("n_groups"))


@query("src_iceberg_ref_read", oracle="""
SELECT 'tag' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 'main', 2 * COUNT(*), CAST(SUM(2 * n_nationkey + 500)
                                  AS BIGINT)
FROM nation
""")
def src_iceberg_ref_read(spark, sf_dir):
    """Iceberg BRANCH/TAG refs: the metadata ``refs`` map names
    snapshots (``ALTER TABLE ... CREATE TAG``), and readers
    time-travel by name — the spec's ``VERSION AS OF 'ref'``.  The
    fixture tags the first snapshot as ``v1``, appends a second
    snapshot, and reads BOTH the tag (first snapshot's rows only) and
    the maintained ``main`` branch (current rows).  Scale shape: ref
    resolution is one metadata-map lookup; the scan is the same
    snapshot read."""
    from ..functions.iceberg import (read_iceberg,
                                     tag_iceberg_snapshot_fixture,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"))

    def build(t):
        s1 = write_iceberg_fixture(spark, n, t)
        tag_iceberg_snapshot_fixture(t, "v1", snapshot_id=s1)
        write_iceberg_fixture(spark, n.select(
            (F.col("k") + 500).alias("k")), t)
        tag_iceberg_snapshot_fixture(t, "head", ref_type="branch")
    t = fixture(sf_dir, "src_iceberg_ref_read", build)
    tagged = read_iceberg(spark, t, ref="v1").agg(
        F.lit("tag").alias("scope"),
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"))
    main = read_iceberg(spark, t, ref="main").agg(
        F.lit("main").alias("scope"),
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"))
    return tagged.unionByName(main)


@query("src_iceberg_eq_deletes", oracle="""
SELECT 2 AS snapshot, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
WHERE n_nationkey % 5 <> 0 OR n_nationkey IN (5, 15)
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM nation
WHERE (n_nationkey % 5 <> 0 OR n_nationkey IN (5, 15))
  AND n_regionkey <> 3
""")
def src_iceberg_eq_deletes(spark, sf_dir):
    """Iceberg format-v2 EQUALITY DELETES — the delete shape a
    streaming CDC/upsert writer emits: a content=2 parquet file of
    equality-column values that deletes every matching data row whose
    file sequence number is STRICTLY below the delete file's.  The
    fixture proves the two spec subtleties that make equality deletes
    harder than position deletes: (1) strict sequence scoping —
    snapshot 2 deletes keys {0,5,10,15,20} AND re-inserts rows for
    keys 5 and 15 in the SAME commit, so the re-inserted rows (data
    seq 2, delete seq 2, 2 < 2 false) survive; (2) per-column-set
    application — snapshot 3 deletes on a DIFFERENT equality column
    (the region key), which must anti-join separately and also erase
    the seq-2 re-inserted rows.  Sequence numbers exercise both spec
    paths: carried-forward manifest entries keep explicit values, new
    entries write null and inherit from the manifest-list row.  The
    oracle restates both snapshots from the source table.  Scale
    shape: one null-safe anti-join per equality-column set, delete
    sets distributed (never collected), AQE broadcasts when small;
    data files never rewritten."""
    from ..functions.iceberg import (list_iceberg_snapshots, read_iceberg,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        F.col("n_name").alias("name"))

    def build(t):
        write_iceberg_fixture(spark, n, t, partition_by=("g",))
        write_iceberg_fixture(
            spark, n.where(F.col("k").isin(5, 15)), t,
            partition_by=("g",),
            delete_equality=(["k"], [(0,), (5,), (10,), (15,), (20,)]))
        write_iceberg_fixture(
            spark, None, t, partition_by=("g",),
            delete_equality=(["g"], [(3,)]))
    t = fixture(sf_dir, "src_iceberg_eq_deletes", build)
    out = []
    for s in list_iceberg_snapshots(t)[1:]:
        agg = read_iceberg(spark, t, snapshot_id=s).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("s")).collect()[0]
        out.append((s, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(
        out, "snapshot int, n bigint, key_sum bigint")


@query("src_iceberg_transforms", oracle="""
WITH s AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey < 150000)
SELECT 'full' AS scope, COUNT(*) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM s
UNION ALL
SELECT 'point_key', COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
FROM s WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM s)
UNION ALL
SELECT 'point_ts', COUNT(*), CAST(SUM(o_custkey) AS BIGINT)
FROM s WHERE o_orderdate = (SELECT MIN(o_orderdate) FROM s)
""")
def src_iceberg_transforms(spark, sf_dir):
    """Iceberg NON-IDENTITY partition transforms: a table
    partitioned by ``bucket(4, k)`` + ``year(ts)`` — the spec's
    Murmur3 bucket transform (pinned to the published test vectors in
    tests) and a date transform — written by the fixture and read
    back with MANIFEST-LEVEL TRANSFORM PRUNING: a point lookup on the
    bucketed key prunes to one bucket's files and an equality on the
    timestamp prunes to one year's files, asserted in-query against
    the file inventory before any Spark job runs.  Source columns of
    non-identity transforms live in the data files, so values stay
    exact after pruning via a pushed row predicate.  The oracle
    restates all three reads from the source table.  Scale shape: at
    100 TB the bucketed point lookup scans O(files in one bucket ×
    years), not O(table) — partition pruning is pure driver metadata
    work."""
    from ..functions.iceberg import (live_data_files,
                                     prune_partition_files,
                                     read_iceberg,
                                     write_iceberg_fixture)
    src = (load(spark, sf_dir, "orders")
           .where((F.col("o_orderkey") % 5 == 0)
           & (F.col("o_orderkey") < 150000))
           .select(F.col("o_orderkey").cast("bigint").alias("k"),
                   F.col("o_custkey").cast("bigint").alias("cust"),
                   F.col("o_orderdate").alias("ts")))

    def build(t):
        write_iceberg_fixture(spark, src, t,
                              partition_by=("bucket(4, k)", "year(ts)"))
    t = fixture(sf_dir, "src_iceberg_transforms", build)
    lo = src.agg(F.min("k").alias("k"),
                 F.min("ts").alias("ts")).collect()[0]
    fields, specs, files, _dels = live_data_files(t)
    types = dict(fields)
    n_key = len(prune_partition_files(files, specs, types,
                                      {"k": int(lo["k"])}))
    n_ts = len(prune_partition_files(files, specs, types,
                                     {"ts": lo["ts"]}))
    # the scale property under test: both point filters must prune
    # files through the transforms, not scan the whole table
    assert 0 < n_key < len(files), (n_key, len(files))
    assert 0 < n_ts < len(files), (n_ts, len(files))
    out = []
    for scope, filt in (("full", None),
                        ("point_key", {"k": int(lo["k"])}),
                        ("point_ts", {"ts": lo["ts"]})):
        agg = read_iceberg(spark, t, filters=filt).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cust").cast("bigint").alias("s")).collect()[0]
        out.append((scope, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(
        out, "scope string, n bigint, cust_sum bigint")


@query("src_iceberg_schema_evolution", oracle="""
SELECT 2 * COUNT(*) AS n,
       CAST(2 * SUM(n_nationkey) + 100 * COUNT(*) AS BIGINT)
         AS key_sum,
       COUNT(*) AS n_flag,
       CAST(SUM(n_regionkey) AS BIGINT) AS flag_sum
FROM nation
""")
def src_iceberg_schema_evolution(spark, sf_dir):
    """Iceberg SCHEMA EVOLUTION: the spec resolves columns by
    PARQUET FOOTER FIELD ID, never by name — the rule that makes
    ALTER TABLE RENAME/ADD COLUMN metadata-only operations.  The
    fixture writes a snapshot, renames a column and adds a new one
    (ids stable, fresh id for the addition), then appends a second
    snapshot under the new schema; the read must return the renamed
    column's values from BOTH file generations and nulls for the
    added column from pre-add files.  The oracle restates the union
    from the source table.  Scale shape: footer field-id taps are
    O(files) driver work activated ONLY when the table carries more
    than one schema; files group by physical layout, one scan per
    (partition, layout) group."""
    from ..functions.iceberg import (evolve_iceberg_schema_fixture,
                                     read_iceberg,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        F.col("n_name").alias("name"))

    def build(t):
        write_iceberg_fixture(spark, n, t, partition_by=("g",))
        evolve_iceberg_schema_fixture(t, renames={"name": "nation_name"},
                                      add_columns=[("flag", "long")])
        n2 = n.select((F.col("k") + 100).alias("k"), F.col("g"),
                      F.col("name").alias("nation_name"),
                      F.col("g").alias("flag"))
        write_iceberg_fixture(spark, n2, t, partition_by=("g",))
    t = fixture(sf_dir, "src_iceberg_schema_evolution", build)
    return read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.count("flag").alias("n_flag"),
        F.sum("flag").cast("bigint").alias("flag_sum"))


@query("src_iceberg_avro_data", oracle="""
WITH u AS (
  SELECT n_nationkey AS k, n_regionkey AS g FROM nation
  UNION ALL
  SELECT n_nationkey + 100, n_regionkey FROM nation
),
-- the position delete kills row 0 of region 0's AVRO file, which is
-- sorted by key: the smallest n_nationkey of region 0 (AVRO copy only)
x AS (SELECT MIN(n_nationkey) AS k0 FROM nation WHERE n_regionkey = 0)
SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum,
       COUNT(DISTINCT g) AS n_groups
FROM u, x WHERE k NOT IN (3, 103) AND k <> x.k0
""")
def src_iceberg_avro_data(spark, sf_dir):
    """Iceberg AVRO data files — the non-parquet data format the
    spec allows and old tables actually carry: a snapshot written as
    Avro Object Container files reads through the in-repo
    dependency-free Avro source (block-split tasks, writer schema
    from each file header) and UNIONS with a later parquet snapshot
    in one table — per-file-format scan groups, values cast to the
    table schema.  An equality delete applies ACROSS formats, and
    a POSITION delete on an AVRO file applies too — the
    targeted file reads through the python block decoder, which
    enumerates rows in file order (exact positions by construction);
    untargeted Avro files keep the block-split source.  The oracle
    restates the merged aggregate.  Scale shape: the
    position-deriving path is paid ONLY by targeted files; schema
    evolution over Avro resolves by the embedded writer schema's
    field-id attributes through the shared one-job layout tap."""
    from ..functions.iceberg import read_iceberg, write_iceberg_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        # order_by pins physical row order — position deletes address by it
        write_iceberg_fixture(spark, n, t, partition_by=("g",),
                              file_format="avro", order_by=("k",))
        write_iceberg_fixture(spark, n.select((F.col("k") + 100).alias("k"),
                                              F.col("g")),
                              t, partition_by=("g",))
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_equality=(["k"], [(3,), (103,)]))
        # v2 position delete on region 0's AVRO data file, row 0
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_positions={"data/snap1-0.avro": [0]})
    t = fixture(sf_dir, "src_iceberg_avro_data", build)
    return read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.countDistinct("g").alias("n_groups"))


@query("src_iceberg_orc_data", oracle="""
WITH u AS (
  SELECT n_nationkey AS k, n_regionkey AS g FROM nation
  UNION ALL
  SELECT n_nationkey + 200, n_regionkey FROM nation
),
-- the position delete kills row 0 of region 0's ORC file, which is
-- sorted by key: the smallest n_nationkey of region 0 (ORC copy only)
x AS (SELECT MIN(n_nationkey) AS k0 FROM nation WHERE n_regionkey = 0)
SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum,
       COUNT(DISTINCT g) AS n_groups
FROM u, x WHERE k NOT IN (7, 207) AND k <> x.k0
""")
def src_iceberg_orc_data(spark, sf_dir):
    """Iceberg ORC data files — the other non-parquet data
    format the spec allows: a snapshot written as ORC reads through
    Spark's NATIVE vectorized ORC source and unions with a later
    parquet snapshot in one table (one scan group per file format);
    identity partition values re-attach through the shared broadcast
    file→values map (ORC exposes ``_metadata.file_path`` like any
    Spark file source), an equality delete applies ACROSS formats
    via the same sequence-scoped anti-join, and a POSITION
    delete on an ORC file applies too — the targeted file reads
    through an Arrow stripe scan deriving exact row positions
    in-task, every untargeted ORC file staying on the native
    vectorized scan.  The oracle restates the merged aggregate.
    Scale shape: the Arrow path is paid ONLY by position-deleted
    files; schema evolution over ORC resolves by ``iceberg.id``
    footer attributes through the shared one-job layout tap."""
    from ..functions.iceberg import read_iceberg, write_iceberg_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        # order_by pins physical row order — position deletes address by it
        write_iceberg_fixture(spark, n, t, partition_by=("g",),
                              file_format="orc", order_by=("k",))
        write_iceberg_fixture(spark, n.select((F.col("k") + 200).alias("k"),
                                              F.col("g")),
                              t, partition_by=("g",))
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_equality=(["k"], [(7,), (207,)]))
        # v2 position delete on region 0's ORC data file, row 0
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_positions={"data/snap1-0.orc": [0]})
    t = fixture(sf_dir, "src_iceberg_orc_data", build)
    return read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.countDistinct("g").alias("n_groups"))


@query("src_hudi_incremental", oracle="""
SELECT 'w2' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey * 10 + 1000) AS BIGINT) AS val_sum
FROM nation WHERE n_nationkey % 4 = 0
UNION ALL
SELECT 'w3', COUNT(*),
       CAST(SUM(n_nationkey * 10 + 2000) AS BIGINT)
FROM nation WHERE n_nationkey % 3 = 0
""")
def src_hudi_incremental(spark, sf_dir):
    """Hudi INCREMENTAL query — the third query type next to
    snapshot and read-optimized, and the one CDC consumers poll: the
    latest state of every record key CHANGED in an instant window,
    unchanged rows never returned.  The fixture commits a base, a
    delta upserting ``k % 4 == 0`` rows, and a second delta upserting
    ``k % 3 == 0`` rows plus a delete; each window must return
    exactly its own changed keys at their end-of-window values (keys
    touched in BOTH windows appear in each at that window's value —
    latest-wins is evaluated per window end).  The oracle restates
    both windows from the source table.  Scale shape: the snapshot
    merge plan plus one filter on the winning event's instant — no
    extra shuffle."""
    from ..functions.hudi import (list_hudi_commits, read_hudi_incremental,
                                  write_hudi_delta_fixture,
                                  write_hudi_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        write_hudi_fixture(spark, n, t, partition_field="g")
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 4 == 0)
            .withColumn("v", F.col("k") * 10 + 1000),
            partition_field="g")
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 2).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 3 == 0)
            .withColumn("v", F.col("k") * 10 + 2000),
            deletes=dels, partition_field="g")
    t = fixture(sf_dir, "src_hudi_incremental", build)
    i1, d2, d3 = list_hudi_commits(t)
    out = []
    for scope, lo, hi in (("w2", i1, d2), ("w3", d2, d3)):
        agg = read_hudi_incremental(spark, t, lo, hi).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("bigint").alias("s")).collect()[0]
        out.append((scope, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(
        out, "scope string, n bigint, val_sum bigint")


@query("src_hudi_read", oracle="""
SELECT 1 AS instant, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 2,
       COUNT(*) FILTER (WHERE n_regionkey <> 3 OR n_nationkey % 2 = 0),
       CAST(SUM(n_nationkey) FILTER
            (WHERE n_regionkey <> 3 OR n_nationkey % 2 = 0) AS BIGINT)
FROM nation
""")
def src_hudi_read(spark, sf_dir):
    """Apache Hudi copy-on-write interop — the third table
    format next to Delta and Iceberg: the ``.hoodie`` timeline's
    commit JSONs are replayed to resolve the latest file slice per
    file GROUP (`functions/hudi.py:live_hudi_files`), so a second
    commit that REWRITES one partition's file group (same fileId, new
    file — the CoW update path, here dropping region 3's odd keys)
    supersedes the first commit's file for that group while every
    other group still reads the original file.  Both instants are
    read by timeline time travel with ``_hoodie_*`` meta columns
    dropped; the oracle restates each instant's aggregate.  Scale
    shape: O(commits x write-stats) driver replay, one parquet scan
    of the live slices."""
    import json as _json

    from ..functions.hudi import (list_hudi_commits, read_hudi,
                                  write_hudi_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        i1 = write_hudi_fixture(spark, n, t, partition_field="g")
        with open(os.path.join(t, ".hoodie", f"{i1}.commit")) as fh:
            c1 = _json.load(fh)
        fid_g3 = c1["partitionToWriteStats"]["3"][0]["fileId"]
        upd = n.where((F.col("g") == 3) & (F.col("k") % 2 == 0))
        write_hudi_fixture(spark, upd, t, partition_field="g",
                           replace_file_ids=(fid_g3,))
    t = fixture(sf_dir, "src_hudi_read", build)
    out = []
    for label, inst in enumerate(list_hudi_commits(t), 1):
        agg = read_hudi(spark, t, as_of=inst).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("s")).collect()[0]
        out.append((label, int(agg["n"]), int(agg["s"])))
    return spark.createDataFrame(
        out, "instant int, n bigint, key_sum bigint")


@query("src_hudi_mor_read", oracle="""
SELECT 'base' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(0 AS BIGINT) AS n_upd
FROM nation
UNION ALL
SELECT 'merged', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT),
       COUNT(*) FILTER (WHERE n_nationkey % 4 = 0)
FROM nation WHERE n_nationkey NOT IN (1, 7)
""")
def src_hudi_mor_read(spark, sf_dir):
    """Apache Hudi MERGE-ON-READ interop — the write path real
    Hudi deployments default to for update-heavy tables: delta
    commits append typed blocks (Avro data, delete, rollback
    command) to per-file-group ``.log`` files instead of rewriting
    base parquet; the snapshot read merges base rows with the log,
    LATEST-WINS per ``_hoodie_record_key``.  The fixture commits a
    base, then one deltacommit upserting every ``k % 4 == 0`` row's
    name and deleting keys 1 and 7; both the merged state and the
    time-traveled base state are read back, and the oracle restates
    each from the source table.  Scale shape: base files one
    distributed parquet scan; log decode is Arrow-batched
    ``mapInPandas`` with one task per log file (never collected);
    the merge is one window per record key — the same shuffle real
    MOR readers pay."""
    from ..functions.hudi import (list_hudi_commits, read_hudi,
                                  write_hudi_delta_fixture,
                                  write_hudi_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        F.col("n_name").alias("name"))

    def build(t):
        write_hudi_fixture(spark, n, t, partition_field="g")
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k").isin(1, 7)).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(
            spark, t,
            upserts=n.where(F.col("k") % 4 == 0)
            .withColumn("name", F.lit("UPD")),
            deletes=dels, partition_field="g")
    t = fixture(sf_dir, "src_hudi_mor_read", build)
    out = []
    for scope, inst in (("base", list_hudi_commits(t)[0]),
                        ("merged", None)):
        agg = read_hudi(spark, t, as_of=inst).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("s"),
            F.count(F.when(F.col("name") == "UPD", 1))
            .alias("u")).collect()[0]
        out.append((scope, int(agg["n"]), int(agg["s"]),
                    int(agg["u"])))
    return spark.createDataFrame(
        out, "scope string, n bigint, key_sum bigint, n_upd bigint")


@query("src_hudi_metadata_listing", oracle="""
SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN n_nationkey % 6 = 0
                     THEN -1 ELSE n_nationkey * 10 END)
            AS BIGINT) AS val_sum
FROM nation WHERE n_nationkey <> 9
""")
def src_hudi_metadata_listing(spark, sf_dir):
    """Hudi ``.hoodie/metadata`` table planning: when the
    internal metadata table exists, the file-slice view comes from
    its FILES partition — O(partitions) records decoded driver-side
    — instead of the O(timeline) commit-JSON replay (on a real
    object store: instead of per-partition LIST calls).  The fixture
    commits a base + a delta (upserts + one delete), materializes
    the metadata table, then commits ANOTHER delta so the
    auto-synced listing must reflect it; the snapshot read plans
    entirely from the listing and must merge identically.  Scale
    shape: planning cost scales with partition count, not commit
    count; the merge plan is unchanged (per-slice broadcast split)."""
    from ..functions.hudi import (read_hudi, write_hudi_delta_fixture,
                                  write_hudi_fixture,
                                  write_hudi_metadata_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        write_hudi_fixture(spark, n, t, partition_field="g")
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 6 == 0)
            .withColumn("v", F.lit(-1).cast("bigint")),
            partition_field="g")
        write_hudi_metadata_fixture(spark, t)
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 9).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(spark, t, deletes=dels,
                                 partition_field="g")   # auto-syncs
    t = fixture(sf_dir, "src_hudi_metadata_listing", build)
    return read_hudi(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.sum("v").cast("bigint").alias("val_sum"))


@query("src_hudi_metadata_hfile", oracle="""
SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN n_nationkey % 6 = 0
                     THEN -1 ELSE n_nationkey * 10 END)
            AS BIGINT) AS val_sum
FROM nation WHERE n_nationkey <> 9
""")
def src_hudi_metadata_hfile(spark, sf_dir):
    """Hudi ``.hoodie/metadata`` planning over an HFILE base:
    real Hudi compacts its metadata table into
    HFile base files, so the listing path must decode HBase's HFile
    format — trailer, file-info (the record Avro schema rides there),
    DATA-block KeyValue cells — and fold the REAL-shaped
    HoodieMetadataPayload records (``filesystemMetadata`` map merge)
    with any later deltacommit logs layered on top.  The fixture
    commits a base + a delta, materializes the metadata table,
    COMPACTS it to an HFile, then commits another delta (whose sync
    appends a log ON TOP of the HFile base); the snapshot read plans
    entirely from that HFile+log listing.  Scale shape: identical to
    the log-only listing — O(partitions) driver records — but now for
    the base format real tables actually have, so the O(timeline)
    replay fallback is no longer the common case."""
    from ..functions.hudi import (compact_hudi_metadata_fixture,
                                  read_hudi, write_hudi_delta_fixture,
                                  write_hudi_fixture,
                                  write_hudi_metadata_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        write_hudi_fixture(spark, n, t, partition_field="g")
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 6 == 0)
            .withColumn("v", F.lit(-1).cast("bigint")),
            partition_field="g")
        write_hudi_metadata_fixture(spark, t)
        # FAST_DIFF-encoded + Snappy-compressed blocks — the
        # DATA_BLOCK_ENCODING/codec HBase-tuned deployments enable; the
        # listing must decode them (no timeline-replay fallback taken)
        compact_hudi_metadata_fixture(t, compression="snappy",
                                      encoding="fast_diff")
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 9).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(spark, t, deletes=dels,
                                 partition_field="g")   # syncs onto HFile
    t = fixture(sf_dir, "src_hudi_metadata_hfile", build)
    return read_hudi(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.sum("v").cast("bigint").alias("val_sum"))


@query("src_hudi_log_block_formats", oracle="""
SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       -- the %5 upsert commits LAST: overlap keys (%20) end at -2
       CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN -2
                     WHEN n_nationkey % 4 = 0 THEN -1
                     ELSE n_nationkey * 10 END) AS BIGINT) AS val_sum
FROM nation WHERE n_nationkey <> 9
""")
def src_hudi_log_block_formats(spark, sf_dir):
    """Hudi HFILE + PARQUET log data blocks in ONE merge:
    real writers choose among three data-block kinds —
    Avro (the default), HFile (what the metadata table writes), and
    Parquet (``hoodie.logfile.data.block.format``) — and a reader
    must merge them interchangeably.  The fixture commits a base,
    then one deltacommit with HFILE blocks (upsert ``k%4==0``), one
    with PARQUET blocks (upsert ``k%5==0``, which also OVERRIDES the
    k=0/k=20-style overlap at a later instant), and a delete of key
    9; latest-wins must resolve across all three block kinds in the
    same file slice.  Scale shape: identical to the Avro merge — the
    block kind only changes the in-task decode."""
    from ..functions.hudi import read_hudi, write_hudi_delta_fixture, \
        write_hudi_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        write_hudi_fixture(spark, n, t)
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 4 == 0)
            .withColumn("v", F.lit(-1).cast("bigint")),
            block_format="hfile/lz4/diff")   # encoded + compressed
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 5 == 0)
            .withColumn("v", F.lit(-2).cast("bigint")),
            deletes=["9"], block_format="parquet")
    t = fixture(sf_dir, "src_hudi_log_block_formats", build)
    return read_hudi(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.sum("v").cast("bigint").alias("val_sum"))


@query("src_hudi_log_only_table", oracle="""
SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(SUM(CASE WHEN n_nationkey % 5 = 0
                     THEN n_nationkey * 100
                     ELSE n_nationkey * 10 END) AS BIGINT) AS val_sum
FROM nation WHERE n_nationkey <> 3
""")
def src_hudi_log_only_table(spark, sf_dir):
    """Hudi table consisting ONLY of log-only file groups —
    the shape of a freshly-bootstrapped streaming-ingest MOR table:
    every write so far is a deltacommit, no base parquet exists
    anywhere, so the merge schema recovers from the log's embedded
    Avro writer schema (logical-type annotations included).  The
    fixture bootstraps with a deltacommit INSERT, then a second
    deltacommit upserts every ``k % 5 == 0`` row and deletes key 3;
    the read must merge latest-wins purely from logs.  Scale shape:
    identical to the MOR merge — Arrow-batched log decode, one task
    per log file, one window per record key — with an EMPTY base
    branch (zero parquet scan)."""
    from ..functions.hudi import read_hudi, write_hudi_delta_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        write_hudi_delta_fixture(spark, t, upserts=n,
                                 partition_field="g")   # bootstrap
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 3).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(
            spark, t,
            upserts=n.where(F.col("k") % 5 == 0)
            .withColumn("v", (F.col("k") * 100).cast("bigint")),
            deletes=dels, partition_field="g")
    t = fixture(sf_dir, "src_hudi_log_only_table", build)
    return read_hudi(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
        F.sum("v").cast("bigint").alias("val_sum"))


@query("src_hudi_nested_temporal", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(epoch_us(CASE WHEN n_nationkey % 5 = 0
                THEN to_timestamp(1700000000 + n_nationkey * 97)
                ELSE to_timestamp(1600000000 + n_nationkey * 86401)
                END)) AS BIGINT) AS ts_us_sum,
       CAST(MAX(CAST(CASE WHEN n_nationkey % 5 = 0
                THEN DATE '2021-06-01' + n_nationkey
                ELSE DATE '2020-01-01' + n_nationkey * 3
                END AS DATE)) AS VARCHAR) AS d_max,
       CAST(SUM(CASE WHEN n_nationkey % 5 = 0
                THEN n_nationkey * 100 + 7
                ELSE n_nationkey * 2 END) AS BIGINT) AS v_sum,
       CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS null_ts_elems
FROM nation WHERE n_nationkey <> 3
""")
def src_hudi_nested_temporal(spark, sf_dir):
    """Hudi MOR with TEMPORAL LEAVES INSIDE NESTED log payloads:
    the base carries ``arr:
    array<struct<ts:timestamp, d:date, v:bigint>>``, a deltacommit
    upserts every ``k % 5 == 0`` row's array (two elements, one with
    a NULL timestamp leaf) and deletes key 3 — timestamps and dates
    inside the array convert per element through the Avro
    logical-type codec on write and the shared temporal reviver on
    read, the conversion the flat path always had (reference
    context: the reference round-trips arbitrary arrow schemas,
    /root/reference/src/padawan/dataset.py:328-347).  Scale shape:
    identical to the MOR merge — Arrow-batched log decode, one task
    per log file; the reviver walks only LOG rows (O(log), never the
    base scan)."""
    from ..functions.hudi import (read_hudi, write_hudi_delta_fixture,
                                  write_hudi_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))
    base = n.select(
        "k", "g",
        F.array(F.struct(
            F.timestamp_seconds(F.lit(1600000000).cast("bigint")
                                + F.col("k") * 86401).alias("ts"),
            F.date_add(F.lit("2020-01-01").cast("date"),
                       (F.col("k") * 3).cast("int")).alias("d"),
            (F.col("k") * 2).cast("bigint").alias("v"))).alias("arr"))

    def build(t):
        write_hudi_fixture(spark, base, t, partition_field="g")
        ups = n.where(F.col("k") % 5 == 0).select(
            "k", "g",
            F.array(
                F.struct(
                    F.timestamp_seconds(F.lit(1700000000).cast("bigint")
                                        + F.col("k") * 97).alias("ts"),
                    F.date_add(F.lit("2021-06-01").cast("date"),
                               F.col("k").cast("int")).alias("d"),
                    (F.col("k") * 100).cast("bigint").alias("v")),
                F.struct(
                    F.lit(None).cast("timestamp").alias("ts"),
                    F.lit(None).cast("date").alias("d"),
                    F.lit(7).cast("bigint").alias("v"))).alias("arr"))
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 3).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(spark, t, upserts=ups,
                                 deletes=dels, partition_field="g")
    t = fixture(sf_dir, "src_hudi_nested_temporal", build)
    merged = read_hudi(spark, t)
    return merged.select(
        F.col("k"),
        F.unix_micros(F.col("arr")[0]["ts"]).alias("us"),
        F.col("arr")[0]["d"].alias("d0"),
        F.expr("aggregate(arr, 0L, (acc, x) -> acc + x.v)")
        .alias("vs"),
        F.size(F.filter("arr", lambda x: x["ts"].isNull()))
        .cast("bigint").alias("nulls")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("us").cast("bigint").alias("ts_us_sum"),
        F.max("d0").cast("string").alias("d_max"),
        F.sum("vs").cast("bigint").alias("v_sum"),
        F.sum("nulls").cast("bigint").alias("null_ts_elems"))


@query("src_delta_type_widening", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN n_nationkey < 20 THEN n_nationkey
                ELSE n_nationkey + 8589934592 END) AS BIGINT)
           AS a_sum,
       CAST(SUM(CASE WHEN n_nationkey < 20 THEN n_nationkey * 2
                ELSE n_nationkey * 2 + 8589934592 END) AS BIGINT)
           AS x_sum,
       COUNT(CASE WHEN n_nationkey >= 20 THEN 1 END) AS n_wide
FROM nation
""")
def src_delta_type_widening(spark, sf_dir):
    """Delta ``typeWidening`` reader feature: the
    fixture commits INT data (top-level ``a`` AND inside
    struct ``s.x``), widens both to LONG via a metadata-only commit
    (minReaderVersion 3, ``delta.typeChanges`` history), then
    appends LONG rows beyond int range.  The read scans every file
    with the table's wider schema — the vectorized parquet reader
    promotes the old files' INT32 pages per file (and fails CLOSED
    on a non-widenable mismatch), so no footer job, no per-file
    plan arms, no Python in the row path.  Scale shape: identical
    to a plain delta scan; widening costs nothing at 100 TB."""
    from ..functions.delta import (read_delta, widen_delta_fixture,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("k"),
        F.col("n_name").alias("nm"))
    big = F.lit(8589934592).cast("long")        # 2^33: beyond int

    def build(t):
        narrow = n.where(F.col("k") < 20).select(
            F.col("k").alias("a"),
            F.struct((F.col("k") * 2).cast("int").alias("x"),
                     F.col("nm").alias("y")).alias("s"))
        write_delta_fixture(spark, narrow, t)
        widen_delta_fixture(t, {"a": "long", "s.x": "long"})
        wide = n.where(F.col("k") >= 20).select(
            (F.col("k") + big).alias("a"),
            F.struct((F.col("k") * 2 + big).alias("x"),
                     F.col("nm").alias("y")).alias("s"))
        write_delta_fixture(spark, wide, t, mode="append")
    t = fixture(sf_dir, "src_delta_type_widening", build)
    return read_delta(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast("bigint").alias("a_sum"),
        F.sum(F.col("s")["x"]).cast("bigint").alias("x_sum"),
        F.count(F.when(F.col("a") >= big, 1)).alias("n_wide"))


@query("src_delta_variant_read", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS k_sum,
       MAX(n_name) AS name_max,
       CAST(COUNT(CASE WHEN n_regionkey = 2 THEN 1 END) AS BIGINT)
           AS r2_cnt
FROM nation
""")
def src_delta_variant_read(spark, sf_dir):
    """Delta ``variantType`` reader feature: semi-structured
    VARIANT columns — what Delta 4 writers publish for JSON-shaped
    data — read through Spark's native parquet VARIANT support: the
    schemaString's ``variant`` leaf scans straight through the
    declared-schema path and ``variant_get`` extraction runs
    JVM-side (no JSON re-parse per row; the parse happened once at
    write).  The fixture builds the table from nation rows encoded
    as JSON objects, reads it back, and extracts typed paths; the
    oracle recomputes from the source columns.  Scale shape:
    identical to a plain delta scan — variant is a binary column
    pair under the hood, and extraction is whole-stage-codegen."""
    from ..functions.delta import read_delta, write_delta_fixture
    n = load(spark, sf_dir, "nation")
    df = n.selectExpr(
        "cast(n_nationkey as bigint) as k",
        "parse_json(concat('{\"k\":', n_nationkey, "
        "',\"r\":', n_regionkey, "
        "',\"name\":\"', n_name, '\"}')) as v")

    def build(t):
        write_delta_fixture(spark, df, t)
    t = fixture(sf_dir, "src_delta_variant_read", build)
    return read_delta(spark, t).selectExpr(
        "variant_get(v, '$.k', 'long') as vk",
        "variant_get(v, '$.r', 'long') as vr",
        "variant_get(v, '$.name', 'string') as vn").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vk").cast("bigint").alias("k_sum"),
        F.max("vn").alias("name_max"),
        F.count(F.when(F.col("vr") == 2, 1)).cast("bigint")
        .alias("r2_cnt"))


@query("src_iceberg_avro_nested_evolution", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(n_nationkey * 2) AS BIGINT) AS alpha_sum,
       CAST(SUM(n_nationkey + 5) AS BIGINT) AS arr_alpha_sum,
       MAX(n_name) AS b_max
FROM nation
""")
def src_iceberg_avro_nested_evolution(spark, sf_dir):
    """Iceberg NESTED columns over AVRO data files through SCHEMA
    EVOLUTION — the last format x evolution combination: the
    fixture writes nation rows as Avro data files with a struct and
    an array-of-struct column, renames the inner fields
    (``st.a -> alpha``, ``ar.element.a -> alpha``), then appends
    more Avro files under the new names; the reader resolves each
    file's inner fields by the WRITER SCHEMA's field-id/element-id
    attributes (one distributed header job —
    ``functions/nested.py:avro_field_trees``) and rebuilds the
    logical shape with the same JVM remap the parquet/ORC paths use.
    Scale shape: planning is O(files) header parses; the remap is
    whole-stage-codegen expression work, no Python in the row
    path beyond the Avro block decode itself."""
    from ..functions.iceberg import (evolve_iceberg_schema_fixture,
                                     read_iceberg,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_name").alias("nm"))

    def mk(df, a):
        return df.select(
            "k",
            F.struct((F.col("k") * 2).alias(a),
                     F.col("nm").alias("b")).alias("st"),
            F.array(F.struct((F.col("k") + 5).alias(a)))
            .alias("ar"))

    def build(t):
        write_iceberg_fixture(spark, mk(n.where(F.col("k") < 12), "a"),
                              t, file_format="avro")
        evolve_iceberg_schema_fixture(
            t, renames={"st.a": "alpha", "ar.element.a": "alpha"})
        write_iceberg_fixture(spark,
                              mk(n.where(F.col("k") >= 12), "alpha"),
                              t, file_format="avro")
    t = fixture(sf_dir, "src_iceberg_avro_nested_evolution", build)
    return read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("st")["alpha"]).cast("bigint").alias("alpha_sum"),
        F.sum(F.col("ar")[0]["alpha"]).cast("bigint")
        .alias("arr_alpha_sum"),
        F.max(F.col("st")["b"]).alias("b_max"))


@query("src_hudi_decimal_payloads", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN n_nationkey % 6 = 0
                THEN CAST('99.50' AS DECIMAL(10,2))
                ELSE CAST(n_nationkey AS DECIMAL(10,2))
                     + CAST('0.25' AS DECIMAL(10,2)) END)
            AS DECIMAL(20,2)) AS price_sum,
       CAST(SUM(CASE WHEN n_nationkey % 6 = 0
                THEN CAST('7.5' AS DECIMAL(14,4))
                ELSE CAST(n_nationkey AS DECIMAL(14,4))
                     + CAST('0.0001' AS DECIMAL(14,4)) END)
            AS DECIMAL(24,4)) AS amt_sum
FROM nation WHERE n_nationkey <> 3
""")
def src_hudi_decimal_payloads(spark, sf_dir):
    """Hudi MOR with DECIMAL log payloads — flat and inside
    ``array<struct<...>>`` alike: values ride the Avro logical
    decimal wire form (unscaled big-endian two's-complement bytes at
    the column's DECLARED scale) through the log blocks and revive
    to exact Decimals in the merge; the base files carry real
    parquet decimals at the declared precision/scale.  A deltacommit
    upserts every ``k % 6 == 0`` row's prices and deletes key 3.
    Scale shape: identical to the MOR merge — the decimal codec is
    O(log rows), base rows never leave the parquet scan."""
    from ..functions.hudi import (read_hudi, write_hudi_delta_fixture,
                                  write_hudi_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))
    base = n.select(
        "k", "g",
        (F.col("k").cast("decimal(10,2)")
         + F.lit("0.25").cast("decimal(10,2)")).cast("decimal(10,2)")
        .alias("price"),
        F.array(F.struct(
            (F.col("k").cast("decimal(12,4)")
             + F.lit("0.0001").cast("decimal(12,4)"))
            .cast("decimal(12,4)").alias("amt"))).alias("nest"))

    def build(t):
        write_hudi_fixture(spark, base, t, partition_field="g")
        ups = base.where(F.col("k") % 6 == 0).select(
            "k", "g",
            F.lit("99.50").cast("decimal(10,2)").alias("price"),
            F.array(F.struct(
                F.lit("7.5").cast("decimal(12,4)").alias("amt")))
            .alias("nest"))
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 3).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(spark, t, upserts=ups, deletes=dels,
                                 partition_field="g")
    t = fixture(sf_dir, "src_hudi_decimal_payloads", build)
    return read_hudi(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("decimal(20,2)").alias("price_sum"),
        F.sum(F.col("nest")[0]["amt"]).cast("decimal(24,4)")
        .alias("amt_sum"))


@query("src_iceberg_v3_defaults", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN n_nationkey < 15 THEN 7
                ELSE n_nationkey * 2 END) AS BIGINT) AS bonus_sum,
       CAST(SUM(CASE WHEN n_nationkey < 15 THEN 1
                ELSE 0 END) AS BIGINT) AS tag_x_cnt,
       CAST(SUM(CASE WHEN n_nationkey < 15
                THEN CAST('1.50' AS DECIMAL(10,2))
                ELSE CAST(n_nationkey AS DECIMAL(10,2)) END)
            AS DOUBLE) AS score_sum,
       CAST(MIN(CASE WHEN n_nationkey < 15 THEN DATE '2024-01-01'
                ELSE DATE '1995-01-01' END) AS VARCHAR) AS min_since
FROM nation
""")
def src_iceberg_v3_defaults(spark, sf_dir):
    """Iceberg FORMAT-VERSION 3 ``initial-default`` column defaults:
    columns added WITH DEFAULTS after the
    first snapshot — bigint, string, decimal and date defaults — must
    read the DEFAULT (not null) from every pre-add data file, while
    post-add files read their own values.  A by-null reader
    breaks every aggregate here — the
    silent-wrong-data class the v3 gate exists for.  Scale shape:
    identical to the evolved reader — the default is a literal column
    expression on the pre-add layout group's scan, zero per-row
    Python, zero extra jobs."""
    from ..functions.iceberg import (evolve_iceberg_schema_fixture,
                                     read_iceberg,
                                     set_iceberg_format_version_fixture,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_name").alias("name"))

    def build(t):
        write_iceberg_fixture(spark, n.where(F.col("k") < 15), t,
                              order_by=("k",))
        set_iceberg_format_version_fixture(t, 3)
        evolve_iceberg_schema_fixture(t, add_columns=[
            ("bonus", "long", 7),
            ("tag", "string", "x"),
            ("score", "decimal(10, 2)", "1.50"),
            ("since", "date", "2024-01-01")])
        write_iceberg_fixture(
            spark,
            n.where(F.col("k") >= 15).select(
                "k", "name",
                (F.col("k") * 2).alias("bonus"),
                F.lit("y").alias("tag"),
                F.col("k").cast("decimal(10,2)").alias("score"),
                F.lit("1995-01-01").cast("date").alias("since")),
            t, order_by=("k",))
    t = fixture(sf_dir, "src_iceberg_v3_defaults", build)
    return read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bonus").cast("bigint").alias("bonus_sum"),
        F.count(F.when(F.col("tag") == "x", 1)).cast("bigint")
        .alias("tag_x_cnt"),
        F.sum("score").cast("double").alias("score_sum"),
        F.min("since").cast("string").alias("min_since"))


@query("src_iceberg_v3_dv", oracle="""
WITH src AS (SELECT o_orderkey AS k, o_orderkey % 3 AS g
             FROM orders WHERE o_orderkey < 2000),
r AS (SELECT k, g, ROW_NUMBER() OVER (PARTITION BY g ORDER BY k)
             AS rn FROM src)
SELECT (SELECT COUNT(*) FROM src) AS n_before,
       COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM r WHERE (g = 0 AND rn > 6) OR (g <> 0 AND rn > 3)
""")
def src_iceberg_v3_dv(spark, sf_dir):
    """Iceberg FORMAT-VERSION 3 puffin DELETION VECTORS: a
    partitioned table upgraded to v3 takes one DV
    snapshot deleting the first three row positions of every data
    file, then a REPLACEMENT DV for partition 0 widening its file's
    deletes to the first six (the spec allows at most one live DV per
    file; replacements must fold in the old positions).  The reader
    decodes each ``deletion-vector-v1`` blob (roaring64 portable via
    the shared Delta DV codec) at the manifest's exact
    ``content_offset``/``content_size_in_bytes`` ON THE EXECUTORS and
    anti-joins on ``(_metadata.file_path, row_index)`` — one task per
    blob, O(deleted rows) transfer, the driver never holds a bitmap.
    ``n_before`` time-travels to the pre-DV snapshot.  Scale shape:
    at 100 TB a DV-heavy table reads with the same single-scan plan
    as v2 position deletes; only blob decode fans out."""
    from ..functions.iceberg import (
        list_iceberg_snapshots, read_iceberg,
        set_iceberg_format_version_fixture, write_iceberg_fixture)
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 2000).select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        (F.col("o_orderkey") % 3).cast("bigint").alias("g"))

    def build(t):
        s1 = write_iceberg_fixture(spark, o, t, partition_by=("g",),
                                   order_by=("k",))
        set_iceberg_format_version_fixture(t, 3)
        # one data file per g in str-sorted key order: snap{s1}-0 = g 0,
        # snap{s1}-1 = g 1, snap{s1}-2 = g 2
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_vectors={
                                  f"data/snap{s1}-0.parquet": [0, 1, 2],
                                  f"data/snap{s1}-1.parquet": [0, 1, 2],
                                  f"data/snap{s1}-2.parquet": [0, 1, 2]})
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_vectors={
                                  f"data/snap{s1}-0.parquet":
                                      [0, 1, 2, 3, 4, 5]})
    t = fixture(sf_dir, "src_iceberg_v3_dv", build)
    cur = read_iceberg(spark, t).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"))
    before = read_iceberg(spark, t,
                          snapshot_id=list_iceberg_snapshots(t)[0]).agg(
        F.count(F.lit(1)).alias("n_before"))
    return before.crossJoin(cur).select("n_before", "n", "key_sum")


@query("src_delta_variant_idmap", oracle="""
SELECT COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS vk_sum,
       MAX(n_name) AS name_max,
       CAST(SUM(CASE WHEN n_regionkey = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS r2_cnt
FROM nation
""")
def src_delta_variant_idmap(spark, sf_dir):
    """Delta VARIANT under ``id``-mode column mapping: the data
    files carry the VARIANT logical type —
    which pyarrow's footer reader refuses — AND commit-varying
    physical column names that only parquet FIELD IDS can resolve.
    The field-id tap falls back to the in-repo thrift
    compact-protocol footer walk (``functions/parquetfooter.py``),
    recovering the id tree without pyarrow; the scan itself stays on
    Spark's native VARIANT path with ``variant_get`` codegen.  Two
    commits exercise two distinct physical layouts.  Scale shape:
    the fallback is the same ONE distributed footer job — a
    O(footer-bytes) task-side walk per file, never a driver open."""
    from ..functions.delta import read_delta, write_delta_fixture
    n = load(spark, sf_dir, "nation")
    df = n.selectExpr(
        "cast(n_nationkey as bigint) as k",
        "parse_json(concat('{\"k\":', n_nationkey, "
        "',\"r\":', n_regionkey, "
        "',\"name\":\"', n_name, '\"}')) as v")

    def build(t):
        write_delta_fixture(spark, df.where("k < 15"), t,
                            column_mapping="id")
        write_delta_fixture(spark, df.where("k >= 15"), t,
                            mode="append", column_mapping="id")
    t = fixture(sf_dir, "src_delta_variant_idmap", build)
    return read_delta(spark, t).selectExpr(
        "variant_get(v, '$.k', 'long') as vk",
        "variant_get(v, '$.r', 'long') as vr",
        "variant_get(v, '$.name', 'string') as vn").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vk").cast("bigint").alias("vk_sum"),
        F.max("vn").alias("name_max"),
        F.sum(F.when(F.col("vr") == 2, 1).otherwise(0))
        .cast("bigint").alias("r2_cnt"))


@query("src_iceberg_v3_row_lineage", oracle="""
WITH a AS (SELECT o_orderkey AS k,
                  ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
           FROM orders WHERE o_orderkey < 1000 AND o_orderkey % 2 = 0),
     b AS (SELECT o_orderkey AS k,
                  (SELECT COUNT(*) FROM a)
                  + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid,
                  ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
           FROM orders WHERE o_orderkey < 1000 AND o_orderkey % 2 = 1)
SELECT COUNT(*) AS n,
       CAST(SUM(rid) AS BIGINT) AS rid_sum,
       CAST(SUM(k * seq) AS BIGINT) AS kseq_sum
FROM (SELECT k, rid, 1 AS seq FROM a
      UNION ALL
      SELECT k, rid, 2 AS seq FROM b WHERE rn > 2)
""")
def src_iceberg_v3_row_lineage(spark, sf_dir):
    """Iceberg v3 ROW LINEAGE:
    ``read_iceberg(row_lineage=True)`` materializes the spec's
    ``_row_id`` and ``_last_updated_sequence_number`` metadata
    columns — each file's first_row_id (explicit on carried entries,
    INHERITED from the manifest-list row for fresh adds, lazily
    assigned at fold time for files predating the v3 upgrade) plus
    the row's physical position, and the file's data sequence
    number.  A deletion-vector snapshot then removes the first two
    positions of the second file: surviving rows KEEP their ids
    (positions are physical, DVs don't compact) — the property row
    lineage exists to provide.  The oracle reconstructs ids with
    ROW_NUMBER over the same deterministic file order.  Scale shape:
    the id attach rides the existing broadcast file->metadata map;
    _row_id is codegen arithmetic on _metadata.row_index, zero extra
    jobs."""
    from ..functions.iceberg import (
        read_iceberg, set_iceberg_format_version_fixture,
        write_iceberg_fixture)
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 1000).select(
        F.col("o_orderkey").cast("bigint").alias("k"))

    def build(t):
        write_iceberg_fixture(spark, o.where(F.col("k") % 2 == 0), t,
                              order_by=("k",))
        set_iceberg_format_version_fixture(t, 3)
        s2 = write_iceberg_fixture(spark, o.where(F.col("k") % 2 == 1),
                                   t, order_by=("k",))
        write_iceberg_fixture(spark, None, t, delete_vectors={
            f"data/snap{s2}-0.parquet": [0, 1]})
    t = fixture(sf_dir, "src_iceberg_v3_row_lineage", build)
    return read_iceberg(spark, t, row_lineage=True).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_row_id").cast("bigint").alias("rid_sum"),
        F.sum(F.col("k")
              * F.col("_last_updated_sequence_number"))
        .cast("bigint").alias("kseq_sum"))


@query("src_iceberg_metadata_tables", oracle="""
WITH a AS (SELECT n_regionkey AS g, COUNT(*) AS c FROM nation
           WHERE n_nationkey < 15 GROUP BY 1),
     b AS (SELECT n_regionkey AS g, COUNT(*) AS c FROM nation
           WHERE n_nationkey >= 15 GROUP BY 1)
SELECT 2 AS n_snapshots, 2 AS n_ancestors, 2 AS n_refs,
       CAST((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
         AS BIGINT) AS n_files,
       (SELECT COUNT(*) FROM nation) AS records_total,
       (SELECT COUNT(*) FROM (SELECT g FROM a UNION SELECT g FROM b))
         AS n_partitions,
       CAST((SELECT MAX(s) FROM (SELECT g, SUM(c) AS s FROM
          (SELECT * FROM a UNION ALL SELECT * FROM b) GROUP BY g))
         AS BIGINT) AS max_part_records
""")
def src_iceberg_metadata_tables(spark, sf_dir):
    """Iceberg METADATA TABLES: the ``SELECT * FROM
    tbl.snapshots|history|refs|manifests|files|partitions`` inspection
    surface, materialized from the same manifest walk planning does.
    A two-snapshot partitioned table (the second a FAST APPEND, so
    manifest-list rows carry forward verbatim and record counts stay
    the writer's) plus a tag; the query cross-checks every table
    against aggregates the oracle restates from the source rows —
    snapshot/ancestor/ref counts, live file count, record totals and
    the per-partition maximum.  Scale shape: driver O(manifest
    entries) — identical to planning — with ``files`` materialized
    distributed."""
    from ..functions.iceberg import (iceberg_metadata_table,
                                     tag_iceberg_snapshot_fixture,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_iceberg_fixture(spark, n.where(F.col("k") < 15), t,
                              partition_by=("g",))
        write_iceberg_fixture(spark, n.where(F.col("k") >= 15), t,
                              partition_by=("g",), fast_append=True)
        tag_iceberg_snapshot_fixture(t, "audit")
    t = fixture(sf_dir, "src_iceberg_metadata_tables", build)

    def one(kind, agg):
        return iceberg_metadata_table(spark, t, kind).agg(agg)

    snaps = one("snapshots",
                F.count(F.lit(1)).cast("bigint").alias("n_snapshots"))
    hist = (iceberg_metadata_table(spark, t, "history")
            .where(F.col("is_current_ancestor"))
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_ancestors")))
    refs = one("refs",
               F.count(F.lit(1)).cast("bigint").alias("n_refs"))
    files = iceberg_metadata_table(spark, t, "files").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("record_count").cast("bigint").alias("records_total"))
    parts = iceberg_metadata_table(spark, t, "partitions").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.max("record_count").cast("bigint")
        .alias("max_part_records"))
    return (snaps.crossJoin(hist).crossJoin(refs).crossJoin(files)
            .crossJoin(parts)
            .select("n_snapshots", "n_ancestors", "n_refs",
                    "n_files", "records_total", "n_partitions",
                    "max_part_records"))


@query("src_delta_history", oracle="""
WITH r0 AS (SELECT COUNT(DISTINCT n_regionkey) AS f FROM nation
            WHERE n_nationkey < 15),
     r1 AS (SELECT COUNT(DISTINCT n_regionkey) AS f FROM nation
            WHERE n_nationkey >= 15)
SELECT CAST(3 AS BIGINT) AS n_commits,
       CAST((SELECT f FROM r0) + (SELECT f FROM r1) AS BIGINT)
         AS adds_total,
       CAST((SELECT f FROM r0) AS BIGINT) AS v0_adds,
       CAST(1 AS BIGINT) AS removes_total,
       CAST(2 AS BIGINT) AS last_version
""")
def src_delta_history(spark, sf_dir):
    """Delta DESCRIBE HISTORY: per-commit version, monotonic
    effective timestamp, operation, and action counts from the same
    O(log-lines) walk replay does.  Three commits — partitioned
    create, append, and a remove of one partition's file — restated
    by the oracle from the source rows (one file per distinct region
    per write, one remove by construction).  Timestamps are asserted
    monotonic in pytest (wall-clock, not oracle-stable)."""
    from ..functions.delta import (delta_history, replay_delta_log,
                                   remove_delta_files_fixture,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, n.where(F.col("k") < 15), t,
                            partition_by=("g",))
        write_delta_fixture(spark, n.where(F.col("k") >= 15), t,
                            mode="append", partition_by=("g",))
        first = sorted(r[0] for r in replay_delta_log(t)[2])[0]
        remove_delta_files_fixture(t, lambda rel: rel == first)
    t = fixture(sf_dir, "src_delta_history", build)
    h = delta_history(spark, t)
    return h.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_commits"),
        F.sum("n_add").cast("bigint").alias("adds_total"),
        F.sum(F.when(F.col("version") == 0, F.col("n_add")))
        .cast("bigint").alias("v0_adds"),
        F.sum("n_remove").cast("bigint").alias("removes_total"),
        F.max("version").cast("bigint").alias("last_version"))


@query("src_hudi_timeline", oracle="""
SELECT CAST(1 AS BIGINT) AS n_commit,
       CAST(2 AS BIGINT) AS n_deltacommit,
       CAST(3 AS BIGINT) AS n_instants,
       CAST(COUNT(*) AS BIGINT) AS rows_now
FROM nation WHERE n_nationkey <> 3
""")
def src_hudi_timeline(spark, sf_dir):
    """Hudi TIMELINE inspection: the completed-instant listing
    as a DataFrame — action-kind counts restated by construction
    (one CoW commit, two deltacommits), cross-checked against the
    table's CURRENT row count so the timeline provably matches the
    data it produced."""
    from ..functions.hudi import (hudi_timeline_table, read_hudi,
                                  write_hudi_delta_fixture,
                                  write_hudi_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_hudi_fixture(spark, n, t, partition_field="g")
        ups = n.where(F.col("k") % 7 == 0).select(
            "k", "g")
        write_hudi_delta_fixture(spark, t, upserts=ups,
                                 partition_field="g")
        dels: dict[str, list[str]] = {}
        for r in n.where(F.col("k") == 3).collect():
            dels.setdefault(str(r["g"]), []).append(str(r["k"]))
        write_hudi_delta_fixture(spark, t, deletes=dels,
                                 partition_field="g")
    t = fixture(sf_dir, "src_hudi_timeline", build)
    tl = hudi_timeline_table(spark, t)
    agg = tl.agg(
        F.count(F.when(F.col("action") == "commit", 1))
        .cast("bigint").alias("n_commit"),
        F.count(F.when(F.col("action") == "deltacommit", 1))
        .cast("bigint").alias("n_deltacommit"),
        F.count(F.lit(1)).cast("bigint").alias("n_instants"))
    cnt = read_hudi(spark, t).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_now"))
    return agg.crossJoin(cnt)


@query("src_iceberg_changelog", oracle="""
WITH src AS (SELECT o_orderkey AS k, o_orderkey % 2 AS g
             FROM orders WHERE o_orderkey < 1000),
evens AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) AS rn
          FROM src WHERE g = 0),
odds AS (SELECT k FROM src WHERE g = 1)
SELECT CAST((SELECT COUNT(*) FROM src) AS BIGINT) AS n_inserts,
       CAST((SELECT SUM(k) FROM src) AS BIGINT) AS insert_k_sum,
       CAST((SELECT COUNT(*) FROM odds) + 2 AS BIGINT) AS n_deletes,
       CAST((SELECT SUM(k) FROM odds)
            + (SELECT SUM(k) FROM evens WHERE rn <= 2) AS BIGINT)
         AS delete_k_sum,
       CAST(4 AS BIGINT) AS n_ordinals
""")
def src_iceberg_changelog(spark, sf_dir):
    """Iceberg CHANGELOG read: the row-level change feed —
    completing the lakehouse CDF triad alongside Delta CDF and Hudi
    incremental.  Four snapshots: two partitioned appends, a
    partition delete (file removes), and — after a v3 upgrade — a
    deletion-vector snapshot; the changelog emits added files' rows
    as inserts, removed files' rows as deletes, and the DV's NEW
    positions as deletes, each tagged with its snapshot and span
    ordinal.  The oracle restates every aggregate from the source
    rows (ROW_NUMBER picks the DV'd positions).  Scale shape: each
    snapshot scans only its CHANGED files — O(changed files), never
    a table scan; DV deltas (new minus predecessor) expand
    executor-side."""
    from ..functions.iceberg import (
        read_iceberg_changes, set_iceberg_format_version_fixture,
        write_iceberg_fixture)
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 1000).select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        (F.col("o_orderkey") % 2).cast("bigint").alias("g"))

    def build(t):
        s1 = write_iceberg_fixture(spark, o.where(F.col("g") == 0), t,
                                   partition_by=("g",), order_by=("k",))
        write_iceberg_fixture(spark, o.where(F.col("g") == 1), t,
                              partition_by=("g",), order_by=("k",))
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_partition={"g": 1})
        set_iceberg_format_version_fixture(t, 3)
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_vectors={
                                  f"data/snap{s1}-0.parquet": [0, 1]})
    t = fixture(sf_dir, "src_iceberg_changelog", build)
    ch = read_iceberg_changes(spark, t)
    return ch.agg(
        F.count(F.when(F.col("_change_type") == "insert", 1))
        .cast("bigint").alias("n_inserts"),
        F.sum(F.when(F.col("_change_type") == "insert", F.col("k")))
        .cast("bigint").alias("insert_k_sum"),
        F.count(F.when(F.col("_change_type") == "delete", 1))
        .cast("bigint").alias("n_deletes"),
        F.sum(F.when(F.col("_change_type") == "delete", F.col("k")))
        .cast("bigint").alias("delete_k_sum"),
        F.countDistinct("_change_ordinal").cast("bigint")
        .alias("n_ordinals"))


@query("src_delta_detail", oracle="""
SELECT 'parquet' AS format,
       CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS num_files,
       CAST(1 AS BIGINT) AS n_part_cols,
       'name' AS column_mapping_mode,
       CAST(1 AS BIGINT) AS num_commits,
       CAST(COUNT(*) AS BIGINT) AS rows_now
FROM nation
""")
def src_delta_detail(spark, sf_dir):
    """Delta DESCRIBE DETAIL: table-level facts — live file
    count (one per distinct partition value by construction),
    LOGICAL partition columns under name-mode column mapping, the
    mapping mode, and commit count — cross-checked against the
    table's current row count."""
    from ..functions.delta import (delta_detail, read_delta,
                                   write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_delta_fixture(spark, n, t, partition_by=("g",),
                            column_mapping="name")
    t = fixture(sf_dir, "src_delta_detail", build)
    det = delta_detail(spark, t).select(
        "format",
        F.col("num_files"),
        F.size("partition_columns").cast("bigint")
        .alias("n_part_cols"),
        "column_mapping_mode",
        F.col("num_commits"))
    cnt = read_delta(spark, t).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_now"))
    return det.crossJoin(cnt)


@query("src_iceberg_changelog_deletes", oracle="""
WITH src AS (SELECT o_orderkey AS k FROM orders
             WHERE o_orderkey < 400),
r AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) - 1 AS rn FROM src),
b AS (
  SELECT 0 AS ordinal, 'insert' AS ctype, COUNT(*) AS n_rows,
         SUM(k) AS k_sum FROM r
  UNION ALL
  SELECT 1, 'delete', COUNT(*), SUM(k) FROM r
   WHERE rn BETWEEN 0 AND 9
  UNION ALL
  SELECT 2, 'delete', COUNT(*), SUM(k) FROM r
   WHERE rn BETWEEN 10 AND 14
  UNION ALL
  SELECT 3, 'delete', COUNT(*), SUM(k) FROM r
   WHERE rn = (SELECT MAX(rn) FROM r)
  UNION ALL
  SELECT 4, 'delete', COUNT(*), SUM(k) FROM r
   WHERE rn BETWEEN 15 AND (SELECT MAX(rn) - 1 FROM r)
)
SELECT CAST(ordinal AS INT) AS ordinal, ctype,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(k_sum AS BIGINT) AS k_sum
FROM b
""")
def src_iceberg_changelog_deletes(spark, sf_dir):
    """Iceberg CHANGELOG over v2 DELETE FILES: the
    merge-on-read shapes a production v2 table delivers
    row-level deletes as.  Five snapshots over one sorted data file:
    (1) insert; (2) a position-delete file for rows 0-9; (3) an
    OVERLAPPING position-delete file for rows 5-14 — newly dead must
    be only 10-14; (4) an equality delete on the min and max keys —
    the min is already position-dead, so only the max row is newly
    dead (null-safe match, strict ``file seq < delete seq`` scope);
    (5) a whole-file remove — only the still-live remainder emits.
    Grouped per (ordinal, change type), the oracle restates each
    snapshot's exact newly-dead set from ROW_NUMBER ranks.  Scale
    shape: delete sets stay distributed as (file, position) key
    frames — pos files scan as parquet, equality matches ride a
    column-pruned semi-join, already-dead rows subtract by anti-join;
    the driver never holds positions."""
    from ..functions.iceberg import (read_iceberg_changes,
                                     write_iceberg_fixture)
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 400).select(
        F.col("o_orderkey").cast("bigint").alias("k"))

    def build(t):
        s1 = write_iceberg_fixture(spark, o, t, order_by=("k",))
        fp = f"data/snap{s1}-0.parquet"
        write_iceberg_fixture(spark, None, t,
                              delete_positions={fp: list(range(10))})
        write_iceberg_fixture(spark, None, t,
                              delete_positions={fp: list(range(5, 15))})
        kmin, kmax = o.agg(F.min("k"), F.max("k")).first()
        write_iceberg_fixture(spark, None, t,
                              delete_equality=(("k",),
                                               [(int(kmin),),
                                                (int(kmax),)]))
        write_iceberg_fixture(spark, None, t, delete_partition={})
    t = fixture(sf_dir, "src_iceberg_changelog_deletes", build)
    ch = read_iceberg_changes(spark, t)
    return (ch.groupBy(F.col("_change_ordinal").alias("ordinal"),
                       F.col("_change_type").alias("ctype"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum("k").cast("bigint").alias("k_sum")))


@query("src_iceberg_v3_variant", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS k_sum,
       MAX(n_name) AS name_max,
       CAST(COUNT(CASE WHEN n_regionkey = 2 THEN 1 END) AS BIGINT)
           AS r2_cnt
FROM nation WHERE n_nationkey <> 0
""")
def src_iceberg_v3_variant(spark, sf_dir):
    """Iceberg v3 ``variant`` columns:
    semi-structured VARIANT — what Spark 4 / Iceberg 1.8 writers emit
    for JSON-shaped data — read through Spark's native parquet
    VARIANT support: the schema's ``variant`` leaf scans straight
    through the declared-schema path and ``variant_get`` extraction
    runs JVM-side.  The fixture writes nation rows as variant JSON
    through Spark's own parquet writer (field ids stamped), upgrades
    to format-version 3, then applies a v2 position delete to the
    first physical row — proving variant files ride the
    ``(file, position)`` anti-join unchanged.  Footers pyarrow
    refuses (VARIANT logical type) resolve through the in-repo
    thrift walk (`functions/parquetfooter.py`), including
    ``FileMetaData.num_rows``.  Scale shape: identical to a plain
    iceberg scan — variant is a binary column pair under the hood,
    extraction is whole-stage codegen, no Python in the row path."""
    from ..functions.iceberg import (
        read_iceberg, set_iceberg_format_version_fixture,
        write_iceberg_fixture)
    n = load(spark, sf_dir, "nation")
    df = n.selectExpr(
        "cast(n_nationkey as bigint) as k",
        "parse_json(concat('{\"k\":', n_nationkey, "
        "',\"r\":', n_regionkey, "
        "',\"name\":\"', n_name, '\"}')) as v")

    def build(t):
        s1 = write_iceberg_fixture(spark, df, t, order_by=("k",))
        set_iceberg_format_version_fixture(t, 3)
        write_iceberg_fixture(spark, None, t, delete_positions={
            f"data/snap{s1}-0.parquet": [0]})
    t = fixture(sf_dir, "src_iceberg_v3_variant", build)
    return read_iceberg(spark, t).selectExpr(
        "variant_get(v, '$.k', 'long') as vk",
        "variant_get(v, '$.r', 'long') as vr",
        "variant_get(v, '$.name', 'string') as vn").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vk").cast("bigint").alias("k_sum"),
        F.max("vn").alias("name_max"),
        F.count(F.when(F.col("vr") == 2, 1)).cast("bigint")
        .alias("r2_cnt"))


@query("src_iceberg_lineage_mixed", oracle="""
WITH r AS (SELECT n_nationkey AS k,
                  ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1
                      AS rid
           FROM nation)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(rid) AS BIGINT) AS rid_sum,
       CAST(SUM(rid * k) AS BIGINT) AS rk_sum,
       CAST(SUM(CASE WHEN k < 10 THEN 1 WHEN k < 17 THEN 2
                     ELSE 3 END) AS BIGINT) AS seq_sum
FROM r
""")
def src_iceberg_lineage_mixed(spark, sf_dir):
    """Iceberg v3 ROW LINEAGE over a MIXED parquet+AVRO+ORC table:
    three snapshots write nation rows
    into one data file per format (parquet pre-upgrade, Avro and ORC
    after the v3 upgrade); the fold lazily assigns the pre-upgrade
    file's ids, fresh files inherit past them, so ``_row_id`` equals
    the global 0-based rank of ``k`` and
    ``_last_updated_sequence_number`` is each file's data sequence
    number.  Parquet positions ride ``_metadata.row_index``; ORC
    derives them from running Arrow stripe offsets; Avro from the
    block decoder's file order.  The oracle restates the ids from
    ROW_NUMBER ranks.  Scale shape: lineage is codegen arithmetic
    over the broadcast per-file attach map — zero extra jobs on the
    parquet path; ORC/Avro pay their position-deriving scans, the
    same ones position deletes already use."""
    from ..functions.iceberg import (
        read_iceberg, set_iceberg_format_version_fixture,
        write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"))

    def build(t):
        write_iceberg_fixture(spark, n.where(F.col("k") < 10), t,
                              order_by=("k",))
        set_iceberg_format_version_fixture(t, 3)
        write_iceberg_fixture(spark,
                              n.where((F.col("k") >= 10)
                                      & (F.col("k") < 17)),
                              t, order_by=("k",), file_format="avro")
        write_iceberg_fixture(spark, n.where(F.col("k") >= 17), t,
                              order_by=("k",), file_format="orc")
    t = fixture(sf_dir, "src_iceberg_lineage_mixed", build)
    out = read_iceberg(spark, t, row_lineage=True)
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_row_id").cast("bigint").alias("rid_sum"),
        F.sum(F.col("_row_id") * F.col("k")).cast("bigint")
        .alias("rk_sum"),
        F.sum("_last_updated_sequence_number").cast("bigint")
        .alias("seq_sum"))


@query("src_hudi_colstats_prune", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS k_sum,
       MAX(o_orderpriority) AS prio_max
FROM orders WHERE o_orderkey = 150
""")
def src_hudi_colstats_prune(spark, sf_dir):
    """Hudi COLUMN_STATS data skipping:
    the metadata table's column-stats index — per-base-file min/max
    folded from the parquet FOOTERS — prunes file slices before any
    job runs, the Hudi analog of the Iceberg manifest-level pruning.
    The fixture partitions orders keys into contiguous ranges (so
    bounds discriminate), publishes the stats partition, then reads
    with an equality filter: only the one file slice whose bounds
    admit the key scans (asserted), and the predicate re-applies on
    rows for exactness.  Scale shape: pruning is O(stats records)
    driver planning; at 100 TB a point lookup scans one file group,
    not the table, and slices with live logs are conservatively
    never pruned (a log could add matching rows)."""
    from ..functions.hudi import (read_hudi,
                                  write_hudi_colstats_fixture,
                                  write_hudi_fixture)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_orderpriority"),
        F.floor(F.col("o_orderkey") / 200).cast("string")
        .alias("g"))

    def build(t):
        write_hudi_fixture(spark, o.orderBy("o_orderkey"), t,
                           partition_field="g")
        write_hudi_colstats_fixture(spark, t, ["o_orderkey"])
    t = fixture(sf_dir, "src_hudi_colstats_prune", build)
    out = read_hudi(spark, t, filters={"o_orderkey": 150})
    n_files = len(out.inputFiles())
    if n_files != 1:
        raise AssertionError(
            f"column-stats pruning expected 1 scanned file, "
            f"got {n_files}")
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("k_sum"),
        F.max("o_orderpriority").alias("prio_max"))


@query("src_delta_row_tracking", oracle="""
WITH r AS (SELECT n_nationkey AS k,
                  ROW_NUMBER() OVER (ORDER BY n_nationkey) - 1
                      AS rid
           FROM nation)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(rid) AS BIGINT) AS rid_sum,
       CAST(SUM(rid * k) AS BIGINT) AS rk_sum,
       CAST(SUM(CASE WHEN k < 10 THEN 0 ELSE 1 END) AS BIGINT)
           AS cv_sum
FROM r
""")
def src_delta_row_tracking(spark, sf_dir):
    """Delta ROW TRACKING — the Delta analog of Iceberg v3 row
    lineage: ``read_delta(row_tracking=True)`` appends ``_row_id``
    (the add action's ``baseRowId`` + the row's physical position,
    or the MATERIALIZED hidden column a rewrite leaves behind) and
    ``_row_commit_version``.  Two commits write nation keys <10 and
    >=10 (so ids equal the global rank and commit versions split),
    then a materialize-rewrite commits every file with fresh
    baseRowIds and the ORIGINAL ids in the materialized columns —
    the aggregates are computed AFTER the rewrite, so they pin id
    stability (a reader preferring baseRowId over the materialized
    column would shift every id).  Scale shape: ids are codegen
    arithmetic over the same broadcast file map the partition attach
    uses — zero extra jobs, zero Python in the row path."""
    from ..functions.delta import (materialize_delta_rowids_fixture,
                                   read_delta, write_delta_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"))

    def build(t):
        write_delta_fixture(spark, n.where(F.col("k") < 10), t,
                            order_by=("k",), row_tracking=True)
        write_delta_fixture(spark, n.where(F.col("k") >= 10), t,
                            mode="append", order_by=("k",))
        materialize_delta_rowids_fixture(t)
    t = fixture(sf_dir, "src_delta_row_tracking", build)
    out = read_delta(spark, t, row_tracking=True)
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_row_id").cast("bigint").alias("rid_sum"),
        F.sum(F.col("_row_id") * F.col("k")).cast("bigint")
        .alias("rk_sum"),
        F.sum("_row_commit_version").cast("bigint").alias("cv_sum"))


@query("src_iceberg_changelog_view", oracle="""
WITH src AS (SELECT o_orderkey AS k, o_orderpriority AS p
             FROM orders WHERE o_orderkey < 300),
b AS (
  SELECT 0 AS ordinal, 'insert' AS ctype, COUNT(*) AS n_rows,
         SUM(k) AS k_sum FROM src
  UNION ALL
  SELECT 1, 'update_before', COUNT(*), SUM(k) FROM src WHERE k < 50
  UNION ALL
  SELECT 1, 'update_after', COUNT(*), SUM(k) FROM src WHERE k < 50
  UNION ALL
  SELECT 2, 'insert', 1, 9999
)
SELECT CAST(ordinal AS INT) AS ordinal, ctype,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(k_sum AS BIGINT) AS k_sum
FROM b
""")
def src_iceberg_changelog_view(spark, sf_dir):
    """The PROCESSED Iceberg changelog view — what Iceberg's
    ``create_changelog_view`` procedure computes over the raw feed:
    (1) an UPSERT snapshot's same-ordinal delete+insert pairs
    sharing identifier values become ``update_before`` /
    ``update_after``; (2) a REWRITE snapshot re-adding identical
    rows (the copy-on-write carry-over artifact) cancels entirely —
    only its one genuinely-new row survives as an insert.  Built on
    ``read_iceberg_changes`` with signed-count aggregation per
    (values, snapshot) plus identifier-keyed semi/anti joins; the
    identifier-uniqueness precondition raises loudly instead of
    pairing ambiguously.  Scale shape: groupBy/join work
    hash-partitioned on the data columns — no windowing over the
    full feed, AQE broadcasts the small pairing side."""
    from ..functions.iceberg import (iceberg_changelog_view,
                                     write_iceberg_fixture)
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 300).select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_orderpriority").alias("p"))

    def build(t):
        write_iceberg_fixture(spark, o, t, order_by=("k",))
        low = o.where(F.col("k") < 50)
        upd = low.select("k", F.concat(F.lit("X"), F.col("k"))
                         .alias("p"))
        keys = [(int(r["k"]),) for r in low.select("k").collect()]
        write_iceberg_fixture(spark, upd, t, order_by=("k",),
                              delete_equality=(("k",), keys))
        live = (o.where(F.col("k") >= 50).unionByName(upd)
                .unionByName(spark.createDataFrame(
                    [(9999, "NEW")], "k bigint, p string")))
        write_iceberg_fixture(spark, live, t, order_by=("k",),
                              delete_partition={})
    t = fixture(sf_dir, "src_iceberg_changelog_view", build)
    v = iceberg_changelog_view(spark, t, identifier_columns=["k"])
    return (v.groupBy(F.col("_change_ordinal").alias("ordinal"),
                      F.col("_change_type").alias("ctype"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum("k").cast("bigint").alias("k_sum")))


@query("src_hudi_bloom_prune", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS k_sum,
       MAX(o_orderpriority) AS prio_max
FROM orders WHERE o_orderkey = 151
""")
def src_hudi_bloom_prune(spark, sf_dir):
    """Hudi BLOOM-FILTER data skipping: the metadata table's
    bloom_filters partition — per base file, a bloom over its
    ``_hoodie_record_key`` values, tied to the filter column through
    ``hoodie.table.recordkey.fields`` — prunes file slices on a
    point lookup where column bounds CANNOT (the fixture partitions
    orders by ``o_orderkey % 8``, so every file's [min,max] spans
    nearly the whole key range).  The read asserts exactly one file
    slice scans, then re-applies the predicate on rows.  Scale
    shape: the bloom read is O(index records) driver planning; at
    100 TB a record-key lookup scans the one file group whose bloom
    admits the key — Hudi's bloom-index point-lookup path; slices
    with live logs are conservatively never pruned."""
    from ..functions.hudi import (read_hudi,
                                  write_hudi_bloom_fixture,
                                  write_hudi_fixture)
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        F.col("o_orderpriority"),
        (F.col("o_orderkey") % 8).cast("string").alias("g"))

    def build(t):
        write_hudi_fixture(spark, o.orderBy("o_orderkey"), t,
                           partition_field="g")
        write_hudi_bloom_fixture(spark, t, "o_orderkey")
    t = fixture(sf_dir, "src_hudi_bloom_prune", build)
    out = read_hudi(spark, t, filters={"o_orderkey": 151})
    n_files = len(out.inputFiles())
    if n_files != 1:
        raise AssertionError(
            f"bloom pruning expected 1 scanned file, got {n_files}")
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("o_orderkey").cast("bigint").alias("k_sum"),
        F.max("o_orderpriority").alias("prio_max"))


@query("src_iceberg_maintenance", oracle="""
SELECT CAST(1 AS BIGINT) AS n_orphans,
       CAST(10 AS BIGINT) AS orphan_bytes,
       CAST(2 AS BIGINT) AS n_expired,
       CAST(2 AS BIGINT) AS n_removable_data,
       CAST(2 * COUNT(*) AS BIGINT) AS live_rows
FROM nation WHERE n_nationkey % 2 = 0
""")
def src_iceberg_maintenance(spark, sf_dir):
    """Iceberg table MAINTENANCE planning: the two operations
    a 100 TB estate runs daily — ``remove_orphan_files`` (a planted
    abandoned write is found; table bookkeeping never reported) and
    the ``expire_snapshots`` PLAN (keep_last retained; manifest
    lists/manifests of expired snapshots and the data files only
    they served LIVE are reclaimable — a file a kept snapshot
    carries purely as a DELETED tombstone never scans again, so its
    bytes count as removable; nothing is deleted, the table still
    reads in full).  Three snapshots over nation (two partitioned
    inserts, one partition delete) make exactly 2 expired
    snapshots and 2 reclaimable g=1 data files; ``live_rows``
    re-reads the UNTOUCHED table after planning.  Scale shape:
    reachability is O(total manifest entries) driver planning with
    shared manifests decoded once; the orphan diff is a broadcast
    anti-join against the listing (at object-store scale, the
    store's inventory feeds the same join)."""
    from ..functions.iceberg import (iceberg_expire_snapshots_plan,
                                     iceberg_orphan_files,
                                     read_iceberg,
                                     write_iceberg_fixture)
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        (F.col("n_nationkey") % 2).cast("bigint").alias("g"))

    def build(t):
        write_iceberg_fixture(spark, n, t, partition_by=("g",),
                              order_by=("k",))
        write_iceberg_fixture(spark, n.selectExpr("k+100 as k", "g"),
                              t, partition_by=("g",), order_by=("k",))
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_partition={"g": 1})
        with open(os.path.join(t, "data", "orphan-x.parquet"),
                  "wb") as fh:
            fh.write(b"x" * 10)
    t = fixture(sf_dir, "src_iceberg_maintenance", build)
    orph = iceberg_orphan_files(spark, t).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
        F.sum("size_in_bytes").cast("bigint").alias("orphan_bytes"))
    plan = iceberg_expire_snapshots_plan(spark, t, keep_last=1)
    pcounts = plan.agg(
        F.count(F.when(F.col("kind") == "snapshot", 1))
        .cast("bigint").alias("n_expired"),
        F.count(F.when(F.col("kind") == "data_file", 1))
        .cast("bigint").alias("n_removable_data"))
    live = read_iceberg(spark, t).agg(
        F.count(F.lit(1)).cast("bigint").alias("live_rows"))
    return orph.crossJoin(pcounts).crossJoin(live)


@query("src_lakehouse_vacuum_plans", oracle="""
SELECT CAST(1 AS BIGINT) AS d_tombstoned,
       CAST(1 AS BIGINT) AS d_untracked,
       CAST(1 AS BIGINT) AS d_retained_young,
       CAST(1 AS BIGINT) AS h_base,
       CAST(1 AS BIGINT) AS h_log,
       CAST(COUNT(*) AS BIGINT) AS h_live_rows
FROM nation WHERE n_nationkey % 2 = 0
""")
def src_lakehouse_vacuum_plans(spark, sf_dir):
    """Delta VACUUM + Hudi CLEANER planning — with the
    Iceberg expire/orphan pair this completes the maintenance triad
    a 100 TB estate runs daily.  Delta: one partition tombstoned
    (age past retention) and one planted aborted write are planned;
    re-planning with a huge retention window RETAINS the tombstone
    (time-travel protection) leaving only the untracked file.
    Hudi: after a log upsert and a same-fileId rewrite, the
    superseded base version and its folded log are planned; the
    live read is untouched (row count re-checked against the
    oracle).  Scale shape: both are one log/timeline replay
    (O(actions)) plus a listing anti-join — never a data scan."""
    from ..functions import delta as D
    from ..functions import hudi as H
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        (F.col("n_nationkey") % 2).cast("bigint").alias("g"))

    def build_delta(td):
        D.write_delta_fixture(spark, n, td, partition_by=("g",))
        D.remove_delta_files_fixture(
            td, lambda rel: rel.startswith("g=1"))
        with open(os.path.join(td, "junk-aborted.parquet"),
                  "wb") as fh:
            fh.write(b"j" * 7)
    td = fixture(sf_dir, "src_lakehouse_vacuum_plans_delta", build_delta)
    dplan = D.delta_vacuum_plan(spark, td).agg(
        F.count(F.when(F.col("reason") == "tombstoned", 1))
        .cast("bigint").alias("d_tombstoned"),
        F.count(F.when(F.col("reason") == "untracked", 1))
        .cast("bigint").alias("d_untracked"))
    dyoung = D.delta_vacuum_plan(spark, td, retention_ms=10**18) \
        .agg(F.count(F.lit(1)).cast("bigint")
             .alias("d_retained_young"))

    def build_hudi(th):
        H.write_hudi_fixture(spark, n.where(F.col("g") == 0)
                             .orderBy("k"), th)
        fid = list(H.live_hudi_slices(th, use_metadata=False))[0]
        H.write_hudi_delta_fixture(
            spark, th, upserts=spark.createDataFrame(
                [(0, 0)], "k bigint, g bigint"))
        H.write_hudi_fixture(spark, n.where(F.col("g") == 0)
                             .orderBy("k"), th, replace_file_ids=[fid])
    th = fixture(sf_dir, "src_lakehouse_vacuum_plans_hudi", build_hudi)
    hplan = H.hudi_clean_plan(spark, th).agg(
        F.count(F.when(F.col("kind") == "base", 1))
        .cast("bigint").alias("h_base"),
        F.count(F.when(F.col("kind") == "log", 1))
        .cast("bigint").alias("h_log"))
    hlive = H.read_hudi(spark, th).agg(
        F.count(F.lit(1)).cast("bigint").alias("h_live_rows"))
    return (dplan.crossJoin(dyoung).crossJoin(hplan)
            .crossJoin(hlive))
