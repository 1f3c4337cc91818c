"""Operator-parity queries: padawan's native surface (SURVEY.md §2.1)
exercised through the :class:`padawan_spark.Dataset` facade, each with a
DuckDB oracle.

Mapping (reference citation → query here):
- ``scan_parquet`` (persisted_dataset.py:66-84)       → op_scan_project
- ``Dataset.slice`` (sliced_dataset.py:170-194)       → op_slice_range, op_slice_prefix
- ``Dataset.join`` (joined_dataset.py:68-85)          → op_join_inner/left/full
- ``concat`` (concatenated_dataset.py:93-104)         → op_concat_union
- ``Dataset.rename`` (renamed_dataset.py:40-51)       → op_rename
- ``Dataset.map`` (mapped_dataset.py:72-143)          → op_map_partitions
- ``Dataset.reindex`` (reindexed_dataset.py:95-141)   → op_reindex_bounds
- ``Dataset.repartition`` (repartitioned_dataset.py:356-417) → op_repartition_range
- ``Dataset.collate`` (collated_dataset.py:73-92)     → op_collate
- ``Dataset.write_parquet`` (dataset.py:431-529) + ``scan_parquet`` →
  op_write_roundtrip (includes the manifest path)
- ``Dataset.collect`` (dataset.py:531-558)            → op_collect
- ``from_polars`` (in_memory_dataset.py:37-52)        → op_from_memory

``is_disjoint`` / ``write_metadata`` / partition access are covered in
``tests/`` (their outputs depend on partition layout, which an SQL oracle
cannot see).
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import functions as F

from ..dataset import Dataset, concat, from_pandas, scan_parquet
from ..ordering import lex_cmp
from .registry import dsum, load, query, sql_dsum

_TS96 = dt.datetime(1996, 1, 1)
_TS97 = dt.datetime(1997, 1, 1)


def _lineitem_ds(spark, sf_dir, ix=("l_shipdate", "l_orderkey")):
    return Dataset(spark, load(spark, sf_dir, "lineitem"), index_columns=ix)


# -- scan + projection ------------------------------------------------------

@query("op_scan_project", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 49
""")
def op_scan_project(spark, sf_dir):
    ds = scan_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return ds.df.where(F.col("l_quantity") >= 49).select(
        "l_orderkey", "l_linenumber", "l_quantity")


# -- slice: lexicographic range on (l_shipdate, l_orderkey) -----------------

@query("op_slice_range", oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
WHERE (l_shipdate > TIMESTAMP '1996-06-01'
       OR (l_shipdate = TIMESTAMP '1996-06-01' AND l_orderkey >= 1000))
  AND (l_shipdate < TIMESTAMP '1996-07-01'
       OR (l_shipdate = TIMESTAMP '1996-07-01' AND l_orderkey < 5000))
""")
def op_slice_range(spark, sf_dir):
    ds = _lineitem_ds(spark, sf_dir)
    out = ds.slice((dt.datetime(1996, 6, 1), 1000),
                   (dt.datetime(1996, 7, 1), 5000), inclusive="lower")
    return out.df.select("l_orderkey", "l_linenumber", "l_shipdate")


@query("op_slice_prefix", oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate <= TIMESTAMP '1997-03-08'
""")
def op_slice_prefix(spark, sf_dir):
    # ub is a 1-element prefix of the 2-column index, inclusive='both'
    ds = _lineitem_ds(spark, sf_dir)
    out = ds.slice((dt.datetime(1997, 3, 1),), (dt.datetime(1997, 3, 8),),
                   inclusive="both")
    return out.df.select("l_orderkey", "l_linenumber", "l_shipdate")


# -- join on index columns ---------------------------------------------------

@query("op_join_inner", oracle=f"""
SELECT orderkey, o_orderpriority, {sql_dsum('l_extendedprice', 'lsum')},
       COUNT(*) AS nline
FROM (SELECT o_orderkey AS orderkey, o_orderpriority FROM orders
      WHERE o_totalprice > 400000) o
JOIN (SELECT l_orderkey AS orderkey, l_extendedprice FROM lineitem) l
USING (orderkey)
GROUP BY orderkey, o_orderpriority
""")
def op_join_inner(spark, sf_dir):
    o = Dataset(spark,
                load(spark, sf_dir, "orders")
                .where(F.col("o_totalprice") > 400000)
                .select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority"),
                index_columns=("orderkey",))
    l = Dataset(spark,
                load(spark, sf_dir, "lineitem")
                .select(F.col("l_orderkey").alias("orderkey"), "l_extendedprice"),
                index_columns=("orderkey",))
    j = o.join(l, how="inner")
    return (j.df.groupBy("orderkey", "o_orderpriority")
            .agg(dsum(F.col("l_extendedprice"), "lsum"),
                 F.count(F.lit(1)).alias("nline")))


@query("op_join_left", oracle="""
SELECT custkey, c_acctbal, n_orders
FROM (SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal > 9000) c
LEFT JOIN (SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
           GROUP BY o_custkey) o
USING (custkey)
""")
def op_join_left(spark, sf_dir):
    c = Dataset(spark,
                load(spark, sf_dir, "customer")
                .where(F.col("c_acctbal") > 9000)
                .select(F.col("c_custkey").alias("custkey"), "c_acctbal"),
                index_columns=("custkey",))
    o = Dataset(spark,
                load(spark, sf_dir, "orders")
                .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
                .groupBy(F.col("o_custkey").alias("custkey"))
                .agg(F.count(F.lit(1)).alias("n_orders")),
                index_columns=("custkey",))
    return c.join(o, how="left").df


@query("op_join_full", oracle="""
SELECT custkey, h1, h2 FROM
(SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS h1 FROM orders
 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-03-01'
 GROUP BY o_custkey) a
FULL JOIN
(SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS h2 FROM orders
 WHERE o_orderdate >= TIMESTAMP '1996-03-01' AND o_orderdate < TIMESTAMP '1996-05-01'
 GROUP BY o_custkey) b
USING (custkey)
""")
def op_join_full(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    def half(lo, hi, name):
        return Dataset(
            spark,
            o.where((F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                    & (F.col("o_orderdate") < F.lit(hi).cast("timestamp")))
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.count(F.lit(1)).alias(name)),
            index_columns=("custkey",))
    a = half("1996-01-01", "1996-03-01", "h1")
    b = half("1996-03-01", "1996-05-01", "h2")
    return a.join(b, how="full").df


# -- concat (union-all by partition concatenation) ---------------------------

@query("op_concat_union", oracle=f"""
SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_quantity', 'qty')}
FROM (
  SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
  UNION ALL
  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
)
GROUP BY l_returnflag
""")
def op_concat_union(spark, sf_dir):
    ds = _lineitem_ds(spark, sf_dir, ix=("l_shipdate",))
    lo = ds.slice(None, (_TS97,), inclusive="none")
    hi = ds.slice((dt.datetime(1999, 1, 1),), None, inclusive="lower")
    u = concat([lo, hi])
    return (u.df.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity"), "qty")))


# -- rename -------------------------------------------------------------------

@query("op_rename", oracle="""
SELECT o_orderkey AS orderkey, o_orderdate AS odate, o_totalprice AS price
FROM orders WHERE o_totalprice > 450000
""")
def op_rename(spark, sf_dir):
    ds = Dataset(spark,
                 load(spark, sf_dir, "orders")
                 .where(F.col("o_totalprice") > 450000)
                 .select("o_orderkey", "o_orderdate", "o_totalprice"),
                 index_columns=("o_orderkey",))
    out = ds.rename({"o_orderkey": "orderkey", "o_orderdate": "odate",
                     "o_totalprice": "price"})
    assert out.index_columns == ("orderkey",)
    return out.df


# -- map: per-partition pandas escape hatch ----------------------------------

@query("op_map_partitions", oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
FROM lineitem WHERE l_quantity >= 48
""")
def op_map_partitions(spark, sf_dir):
    ds = _lineitem_ds(spark, sf_dir)

    def per_partition(pdf):
        pdf = pdf[pdf.l_quantity >= 48].copy()
        pdf["charge"] = (pdf.l_extendedprice * (1 - pdf.l_discount)
                         * (1 + pdf.l_tax))
        return pdf[["l_orderkey", "l_linenumber", "charge"]]

    out = ds.map(per_partition,
                 schema="l_orderkey bigint, l_linenumber int, charge double",
                 preserves="none")
    return out.df


# -- reindex: stats collection validated against SQL lex-min/max -------------

@query("op_reindex_bounds", oracle="""
SELECT * FROM (SELECT 'lb' AS kind, l_shipdate, l_orderkey FROM lineitem
               ORDER BY l_shipdate ASC, l_orderkey ASC LIMIT 1)
UNION ALL
SELECT * FROM (SELECT 'ub' AS kind, l_shipdate, l_orderkey FROM lineitem
               ORDER BY l_shipdate DESC, l_orderkey DESC LIMIT 1)
""")
def op_reindex_bounds(spark, sf_dir):
    ds = _lineitem_ds(spark, sf_dir).reindex()
    glb = min(ds.lower_bounds, key=lambda b: tuple(map(_K, b)))
    gub = max(ds.upper_bounds, key=lambda b: tuple(map(_K, b)))
    rows = [("lb", *glb), ("ub", *gub)]
    return spark.createDataFrame(rows, "kind string, l_shipdate timestamp, l_orderkey bigint")


class _K:
    """null-first ordering key (driver side)."""
    def __init__(self, v):
        self.v = v
    def __lt__(self, o):
        if self.v is None:
            return o.v is not None
        if o.v is None:
            return False
        return self.v < o.v
    def __eq__(self, o):
        return self.v == o.v


# -- repartition / collate: content invariance under re-layout ----------------

@query("op_repartition_range", oracle=f"""
SELECT date_trunc('month', l_shipdate) AS month, COUNT(*) AS n,
       {sql_dsum('l_quantity', 'qty')}
FROM lineitem GROUP BY date_trunc('month', l_shipdate)
""")
def op_repartition_range(spark, sf_dir):
    ds = _lineitem_ds(spark, sf_dir, ix=("l_shipdate",))
    rp = ds.repartition(5000)
    return (rp.df.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
            .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("l_quantity"), "qty")))


@query("op_collate", oracle=f"""
SELECT l_linestatus, COUNT(*) AS n, {sql_dsum('l_extendedprice', 'total')}
FROM lineitem GROUP BY l_linestatus
""")
def op_collate(spark, sf_dir):
    ds = _lineitem_ds(spark, sf_dir, ix=("l_shipdate",))
    rp = ds.repartition(2000).reindex()
    co = rp.collate(10000)
    return (co.df.groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("l_extendedprice"), "total")))


# -- write_parquet + manifest + scan_parquet round trip ------------------------

@query("op_write_roundtrip", oracle="""
SELECT o_orderstatus, COUNT(*) AS n FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY o_orderstatus
""")
def op_write_roundtrip(spark, sf_dir):
    ds = Dataset(spark,
                 load(spark, sf_dir, "orders")
                 .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")),
                 index_columns=("o_orderdate",))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_rt_"), "orders_98")
    back = ds.repartition(4000).write_parquet(target)
    assert back.known_sizes and back.known_bounds
    back.assert_disjoint()
    return back.df.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


# -- collect to driver memory --------------------------------------------------

@query("op_collect", oracle="""
SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_acctbal > 5000
""")
def op_collect(spark, sf_dir):
    ds = Dataset(spark,
                 load(spark, sf_dir, "supplier")
                 .where(F.col("s_acctbal") > 5000)
                 .select("s_suppkey", "s_name", "s_acctbal"),
                 index_columns=("s_suppkey",))
    pdf = ds.collect()  # pandas round trip, like padawan's polars collect
    return spark.createDataFrame(pdf)


# -- from in-memory frame -------------------------------------------------------

@query("op_from_memory", oracle="""
SELECT r_name, tag FROM region
JOIN (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma'), (3, 'delta'), (4, 'epsilon'))
  t(r_regionkey, tag) USING (r_regionkey)
""")
def op_from_memory(spark, sf_dir):
    import pandas as pd
    pdf = pd.DataFrame({"r_regionkey": [0, 1, 2, 3, 4],
                        "tag": ["alpha", "beta", "gamma", "delta", "epsilon"]})
    mem = from_pandas(spark, pdf, index_columns=("r_regionkey",))
    assert mem.known_bounds and mem.sizes == [5]
    r = Dataset(spark, load(spark, sf_dir, "region"),
                index_columns=("r_regionkey",))
    return r.join(mem, how="inner").df.select("r_name", "tag")


@query("op_map_arrow", oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS discounted
FROM lineitem WHERE l_quantity >= 48
""")
def op_map_arrow(spark, sf_dir):
    """``mapInArrow`` — the zero-copy sibling of mapInPandas: each
    partition arrives as pyarrow RecordBatches and is transformed with
    Arrow compute kernels, skipping the pandas conversion entirely.
    The direct analog of the reference's ``Dataset.map`` escape hatch
    (/root/reference/src/padawan/mapped_dataset.py:72-143) at its
    lowest overhead: for wide binary/tensor columns the pandas hop can
    dominate UDF cost, so this is the preferred 100 TB form.  Per-row
    double arithmetic in Arrow is IEEE-identical to the SQL oracle."""
    import pyarrow as pa
    import pyarrow.compute as pc
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount")

    def per_batch(batches):
        for b in batches:
            b = b.filter(pc.greater_equal(b.column("l_quantity"), 48))
            disc = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), b.column("l_discount")))
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), disc],
                ["l_orderkey", "l_linenumber", "discounted"])

    return l.mapInArrow(
        per_batch, "l_orderkey bigint, l_linenumber int, discounted double")


@query("op_observe_metrics", oracle=f"""
SELECT COUNT(*) AS n_rows,
       CAST(COUNT(CASE WHEN o_totalprice > 400000 THEN 1 END) AS BIGINT)
         AS n_large,
       {sql_dsum('o_totalprice', 'total')}
FROM orders
""")
def op_observe_metrics(spark, sf_dir):
    """In-flight metrics via ``Observation``/``df.observe``: data-quality
    counters (row count, predicate count, exact sum) are accumulated
    DURING the pass that processes the data — no second scan, the ETL
    observability primitive (Spark's named-observation API; metrics
    ride the action's accumulators).  The observed metrics are then
    surfaced as a one-row DataFrame the oracle checks against a plain
    aggregate — proving the side channel reports exactly what a
    dedicated aggregation pass would."""
    from pyspark.sql import Observation
    o = load(spark, sf_dir, "orders")
    obs = Observation("quality")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") > 400000, 1)).alias("n_large"),
        dsum(F.col("o_totalprice"), "total"))
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_large"], m["total"])],
        "n_rows bigint, n_large bigint, total double")


@query("op_time_travel", oracle="""
SELECT n_regionkey, COUNT(*) AS n, CAST(MAX(n_nationkey) AS BIGINT) AS max_key
FROM nation WHERE n_nationkey < 10 GROUP BY n_regionkey
""")
def op_time_travel(spark, sf_dir):
    """Manifest time travel: write nations < 10, append the rest, then
    read back VERSION 1 — the pinned read must see exactly the first
    write, untouched by the append (append-only file retention is what
    makes every archived manifest a live point-in-time view).  The
    aggregation over the pinned snapshot matches the oracle's filter on
    the source table.  At scale this is the reproducibility pin a
    training run stores: manifest snapshots are O(files) JSON, data is
    never copied."""
    from ..dataset import Dataset, scan_parquet
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_tt_"), "nation_tt")
    (Dataset(spark, n.where(F.col("n_nationkey") < 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target))
    (Dataset(spark, n.where(F.col("n_nationkey") >= 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target, append=True))
    pinned = scan_parquet(spark, target, version=1)
    return (pinned.df.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("n_nationkey").cast("bigint").alias("max_key")))


@query("op_incremental_read", oracle="""
SELECT n_regionkey, COUNT(*) AS n, CAST(MIN(n_nationkey) AS BIGINT) AS min_key
FROM nation WHERE n_nationkey >= 10 GROUP BY n_regionkey
""")
def op_incremental_read(spark, sf_dir):
    """Incremental consumption between manifest pins (the change-data-
    feed read): the file set added between version k and k+1 IS the
    append's payload, so a downstream consumer processes exactly the
    new files — no full-table rescan, no row-level diff join.  Here:
    write nations < 10, append the rest, then read ONLY the files in
    v2 − v1; the aggregate must equal the oracle over the appended
    slice.  At scale this is how snapshot-pinned pipelines chain:
    each stage records the version it consumed and reads the file
    delta next run — O(new data) cost per increment."""
    from ..dataset import Dataset
    from .. import metadata as _meta
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_cdf_"),
                          "nation_cdf")
    (Dataset(spark, n.where(F.col("n_nationkey") < 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target))
    (Dataset(spark, n.where(F.col("n_nationkey") >= 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target, append=True))
    v1 = _meta.load_manifest(target, version=1)
    v2 = _meta.load_manifest(target, version=2)
    new_files = [os.path.join(target, f)
                 for f in v2.files if f not in set(v1.files)]
    delta = spark.read.parquet(*new_files)
    return (delta.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("n_nationkey").cast("bigint").alias("min_key")))


# -- manifest-table pruning (the million-file slice path) ---------------------

_PRUNED_SCAN_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS ck
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <= TIMESTAMP '1997-06-30'
GROUP BY o_orderstatus
"""

_PRUNED_TABLE_DONE: dict[tuple, str] = {}

# target file count for the fixture: padawan repartition() takes ROWS
# PER PARTITION (reference semantics), so derive it from the row count
# to get a scale-stable many-file table (~512 files at every SF)
_PRUNED_FILES_TARGET = 512


def _ensure_pruned_table(spark, sf_dir) -> str:
    """Materialize a ~512-file date-indexed manifest-table dataset for
    ``sf_dir`` once per process (fingerprint-keyed, so testdata
    regenerated in place invalidates) — the write is the one-time
    investment; every pruned scan after it exercises only the
    manifest-table planning path."""
    p = os.path.join(sf_dir, "orders.parquet")
    try:
        st = os.stat(p)
        key = (sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (sf_dir, None, None)
    target = _PRUNED_TABLE_DONE.get(key)
    if target is not None and os.path.isdir(target):
        return target
    src = (load(spark, sf_dir, "orders")
           .select("o_orderkey", "o_custkey", "o_orderstatus",
                   "o_orderdate"))
    rpp = max(1, src.count() // _PRUNED_FILES_TARGET)
    ds = Dataset(spark, src, index_columns=("o_orderdate",))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_ps_"), "orders_mt")
    ds.repartition(rpp).write_parquet(target, manifest_table=True)
    _PRUNED_TABLE_DONE[key] = target
    return target


def _pruned_scan(spark, target):
    from .. import metadata as _meta
    from ..dataset import scan_parquet_pruned
    out = scan_parquet_pruned(
        spark, target,
        (dt.datetime(1997, 1, 1),), (dt.datetime(1997, 6, 30),),
        inclusive="both")
    # the manifest-table prune must have dropped non-overlapping files:
    # non-empty (rows survive) AND strictly fewer than the table's real
    # file count, so a prune regression that keeps everything fails here
    total = len(_meta.load_manifest(target).files)
    assert 0 < len(out._files) < total, \
        f"prune kept {len(out._files)} of {total} files"
    return (out.df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_custkey").cast("bigint").alias("ck")))


@query("op_pruned_scan", oracle=_PRUNED_SCAN_ORACLE)
def op_pruned_scan(spark, sf_dir):
    """scan_parquet_pruned: the sliced scan that reads only the
    manifest TABLE rows whose typed bounds may overlap the slice
    (pyarrow row-group filters on the driver, no Spark job) instead of
    parsing the whole JSON manifest — the planning shape for
    million-file tables.  ``Dataset.slice`` then decides the files, so
    the result is value-identical to scan+slice; verified here against
    the plain SQL range predicate.  Includes the one-time ~512-file
    write when the table is not yet materialized."""
    return _pruned_scan(spark, _ensure_pruned_table(spark, sf_dir))


@query("op_pruned_scan_read", oracle=_PRUNED_SCAN_ORACLE)
def op_pruned_scan_read(spark, sf_dir):
    """Pruned scan only (table materialized if absent, amortized across
    the session): the steady-state manifest-table PLANNING cost —
    filtered manifest-table read, slice over the surviving files, agg —
    which is what grows with file count at 100 TB."""
    return _pruned_scan(spark, _ensure_pruned_table(spark, sf_dir))


@query("op_delete_rows", oracle="""
SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS ck
FROM orders
WHERE NOT (o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate <= TIMESTAMP '1997-06-30')
GROUP BY o_orderstatus
""")
def op_delete_rows(spark, sf_dir):
    """delete_rows: copy-on-write DELETE of an index-range slice (the
    compliance primitive; extends the reference, whose scope ends at
    partitioning).  Bound overlap selects the rewrite set from the
    MANIFEST (no data scan), untouched files stay byte-identical, and
    the deleted set complements Dataset.slice exactly — verified here
    against the SQL NOT-BETWEEN aggregate over the same table.  Scale
    shape: data cost proportional to files the range touches (one-day
    delete on a date-indexed corpus rewrites one day of files)."""
    from ..dataset import delete_rows
    src = (load(spark, sf_dir, "orders")
           .select("o_orderkey", "o_custkey", "o_orderstatus",
                   "o_orderdate"))
    ds = Dataset(spark, src, index_columns=("o_orderdate",))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_del_"), "orders_d")
    ds.repartition(1000).write_parquet(target)
    n_before = len(scan_parquet(spark, target)._files)
    out = delete_rows(spark, target,
                      (dt.datetime(1997, 1, 1),), (dt.datetime(1997, 6, 30),),
                      inclusive="both")
    # surgical guarantee: the rewrite touched a strict subset of files
    untouched = len(set(out._files)
                    & set(scan_parquet(spark, target, version=1)._files))
    assert 0 < untouched < n_before, (untouched, n_before)
    return (out.df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("o_custkey").cast("bigint").alias("ck")))


@query("op_merge_upsert", oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name
FROM nation WHERE n_nationkey NOT BETWEEN 5 AND 14
UNION ALL
SELECT CAST(i AS BIGINT) AS k, 'UPDATED_' || CAST(i AS VARCHAR) AS name
FROM range(5, 15) t(i)
UNION ALL
SELECT CAST(i AS BIGINT) AS k, 'NEW_' || CAST(i AS VARCHAR) AS name
FROM range(100, 105) t(i)
""")
def op_merge_upsert(spark, sf_dir):
    """merge_rows: copy-on-write MERGE (upsert by index key) — the
    lakehouse DELETE+INSERT in one commit, composing the manifest
    machinery the same way delete_rows does.  A batch UPDATEs nation
    keys 5-14 and INSERTs keys 100-104; the rewrite set comes from
    manifest bound overlap (file-count work, no table scan), surviving
    rows anti-join the batch keys over ONLY the affected files, and
    each affected file, and each gap that receives inserts, is written
    as one range-disjoint file while untouched files stay
    byte-identical (asserted).  The oracle states
    MERGE semantics directly: base rows outside the updated keys,
    union the batch.  Scale shape: O(files touched + batch) — a daily
    upsert on a date-collated corpus rewrites one day of files."""
    from ..dataset import merge_rows
    src = (load(spark, sf_dir, "nation")
           .select(F.col("n_nationkey").cast("bigint").alias("k"),
                   F.col("n_name").alias("name")))
    ds = Dataset(spark, src, index_columns=("k",))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_mrg_"),
                          "nation_m")
    ds.repartition(5).write_parquet(target)
    n_before = len(scan_parquet(spark, target)._files)
    batch_rows = ([(k, f"UPDATED_{k}") for k in range(5, 15)]
                  + [(k, f"NEW_{k}") for k in range(100, 105)])
    batch = Dataset(spark,
                    spark.createDataFrame(batch_rows, "k bigint, name string"),
                    index_columns=("k",))
    out = merge_rows(spark, target, batch)
    # surgical guarantee: files below the batch's key range survive
    untouched = len(set(out._files)
                    & set(scan_parquet(spark, target, version=1)._files))
    assert 0 < untouched < n_before, (untouched, n_before)
    out.assert_disjoint()
    return out.df.select("k", "name")


@query("op_read_changes", oracle="""
SELECT 2 AS commit_version, 'delete' AS change_type,
       CAST(n_nationkey AS BIGINT) AS k, n_name AS name
FROM nation WHERE n_nationkey BETWEEN 5 AND 9
UNION ALL
SELECT 3, 'update_preimage', CAST(n_nationkey AS BIGINT), n_name
FROM nation WHERE n_nationkey BETWEEN 10 AND 14
UNION ALL
SELECT 3, 'update_postimage', CAST(i AS BIGINT),
       'UPDATED_' || CAST(i AS VARCHAR)
FROM range(10, 15) t(i)
UNION ALL
SELECT 3, 'insert', CAST(i AS BIGINT), 'NEW_' || CAST(i AS VARCHAR)
FROM range(100, 105) t(i)
""")
def op_read_changes(spark, sf_dir):
    """read_changes: the row-level change-data-feed over manifest
    snapshots (extends ``op_incremental_read``'s file delta to row
    granularity, so ``delete_rows``/``merge_rows`` commits become
    consumable deltas).  Build three commits — v1 write nation as
    (k, name), v2 DELETE keys 5-9, v3 MERGE updating keys 10-14 and
    inserting 100-104 — then read the CDF over (v1, v3].  Survivor
    rows copied verbatim into rewritten files must cancel (their +1/-1
    signs sum to 0 per full row), the delete shows as pure deletes, and
    the merge splits into update pre/post images plus pure inserts.  The
    oracle states the expected change rows directly from the source
    table.  Scale shape: one scan of the files the span's commits added
    or removed."""
    from ..dataset import delete_rows, merge_rows, read_changes
    src = (load(spark, sf_dir, "nation")
           .select(F.col("n_nationkey").cast("bigint").alias("k"),
                   F.col("n_name").alias("name")))
    ds = Dataset(spark, src, index_columns=("k",))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_cdf2_"),
                          "nation_chg")
    ds.repartition(5).write_parquet(target)                      # v1
    delete_rows(spark, target, (5,), (9,), inclusive="both")     # v2
    batch_rows = ([(k, f"UPDATED_{k}") for k in range(10, 15)]
                  + [(k, f"NEW_{k}") for k in range(100, 105)])
    batch = Dataset(spark,
                    spark.createDataFrame(batch_rows, "k bigint, name string"),
                    index_columns=("k",))
    merge_rows(spark, target, batch)                             # v3
    chg = read_changes(spark, target, 1)
    return chg.select(F.col("_commit_version").alias("commit_version"),
                      F.col("_change_type").alias("change_type"),
                      "k", "name")


@query("op_schema_evolution", oracle="""
SELECT COUNT(*) AS n, CAST(SUM(n_regionkey) AS BIGINT) AS rk_sum,
       COUNT(*) FILTER (WHERE n_nationkey >= 12) AS named,
       CAST(2 AS BIGINT) AS v1_cols,
       COUNT(*) FILTER (WHERE n_nationkey < 12) AS v1_rows
FROM nation
""")
def op_schema_evolution(spark, sf_dir):
    """Lakehouse schema evolution (``write_parquet(append=True,
    merge_schema=True)`` — the Delta/Iceberg ADD COLUMN story): the
    table is written with two columns, then an append with an extra
    ``n_name`` column evolves the manifest schema.  Every scan reads
    with the MANIFEST schema, so pre-evolution files surface the new
    column as nulls (counted by ``named``), and time travel to v1
    reproduces the ORIGINAL two-column schema (``v1_cols``/``v1_rows``)
    — snapshots pin their own schema, not just their file list.  Scale
    shape: metadata-only; no data rewritten to add a column."""
    from ..dataset import Dataset, scan_parquet
    n = load(spark, sf_dir, "nation")
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_se_"),
                          "nation_se")
    (Dataset(spark,
             n.where(F.col("n_nationkey") < 12)
             .select("n_nationkey", "n_regionkey"),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target))
    (Dataset(spark,
             n.where(F.col("n_nationkey") >= 12)
             .select("n_nationkey", "n_regionkey", "n_name"),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target, append=True, merge_schema=True))
    cur = scan_parquet(spark, target).df
    v1 = scan_parquet(spark, target, version=1)
    stats = cur.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_regionkey").cast("bigint").alias("rk_sum"),
        F.count("n_name").alias("named")).collect()[0]
    return spark.createDataFrame(
        [(stats["n"], stats["rk_sum"], stats["named"],
          len(v1.df.columns), v1.df.count())],
        "n bigint, rk_sum bigint, named bigint, v1_cols bigint, "
        "v1_rows bigint")


@query("op_timetravel_timestamp", oracle="""
SELECT n_regionkey, COUNT(*) AS n, CAST(MAX(n_nationkey) AS BIGINT) AS max_key
FROM nation WHERE n_nationkey < 10 GROUP BY n_regionkey
""")
def op_timetravel_timestamp(spark, sf_dir):
    """Timestamp time travel (``scan_parquet(as_of=...)`` — Delta's
    ``timestampAsOf``): two commits get distinct archived-snapshot
    mtimes (pinned explicitly so the fixture never races the clock),
    and a read as-of an instant between them resolves to the FIRST
    snapshot — same result as the version-pinned op_time_travel read.
    Resolution is O(versions) driver metadata; data is never copied."""
    import os as _os
    from .. import metadata as _meta
    from ..dataset import Dataset, scan_parquet
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_ttts_"),
                          "nation_ttts")
    (Dataset(spark, n.where(F.col("n_nationkey") < 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target))
    (Dataset(spark, n.where(F.col("n_nationkey") >= 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(target, append=True))
    vdir = _meta._versions_dir(target)
    _os.utime(_os.path.join(vdir, "v1.json"), (1_700_000_000,) * 2)
    _os.utime(_os.path.join(vdir, "v2.json"), (1_700_000_100,) * 2)
    pinned = scan_parquet(spark, target, as_of=1_700_000_050)
    return (pinned.df.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("n_nationkey").cast("bigint").alias("max_key")))


@query("op_incremental_agg", oracle="""
WITH final AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         CAST(CASE WHEN n_nationkey BETWEEN 10 AND 14
              THEN n_regionkey + 100 ELSE n_regionkey END AS BIGINT) AS g
  FROM nation WHERE n_nationkey NOT BETWEEN 5 AND 9
  UNION ALL
  SELECT i, i % 7 FROM range(100, 105) t(i)
)
SELECT g, COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k
FROM final GROUP BY g
""")
def op_incremental_agg(spark, sf_dir):
    """refresh_aggregate: an incrementally maintained
    materialized aggregate — the flagship change-data-feed consumer.
    Build the source (nation as (k, g), indexed by k), full-refresh
    the MV (cnt + sum(k) per group g), then DELETE keys 5-9 and MERGE
    an update that MOVES keys 10-14 into groups g+100 plus inserts
    100-104; the second refresh reads ONLY the CDF (update preimages
    subtract from the old group, postimages add to the new one — the
    cross-group move is the hard case) and merge-writes only affected
    groups.  The oracle aggregates the simulated final state directly,
    so any double-counted or dropped delta fails the hash.  Scale
    shape: refresh cost is O(changes) + a merge of affected groups —
    never a source rescan or full MV rewrite."""
    from ..dataset import delete_rows, merge_rows, refresh_aggregate
    src_df = (load(spark, sf_dir, "nation")
              .select(F.col("n_nationkey").cast("bigint").alias("k"),
                      F.col("n_regionkey").cast("bigint").alias("g")))
    base = tempfile.mkdtemp(prefix="padawan_iva_")
    source = os.path.join(base, "src")
    mv = os.path.join(base, "mv")
    Dataset(spark, src_df, index_columns=("k",)) \
        .repartition(5).write_parquet(source)
    refresh_aggregate(spark, source, mv, keys=("g",), sum_cols=("k",))
    delete_rows(spark, source, (5,), (9,), inclusive="both")
    upd = [(k, g + 100) for k, g in
           src_df.where(F.col("k").between(10, 14)).collect()]
    ins = [(k, k % 7) for k in range(100, 105)]
    merge_rows(spark, source,
               Dataset(spark,
                       spark.createDataFrame(upd + ins,
                                             "k bigint, g bigint"),
                       index_columns=("k",)))
    out = refresh_aggregate(spark, source, mv,
                            keys=("g",), sum_cols=("k",))
    return out.df.where(F.col("cnt") > 0).select("g", "cnt", "sum_k")


@query("op_bloom_point_lookup", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_order
FROM orders WHERE o_custkey = 371
""")
def op_bloom_point_lookup(spark, sf_dir):
    """Per-file Bloom-filter index over a NON-index column (the
    Delta/Hudi bloom-index idea): the orders table is written indexed
    by o_orderdate (manifest range pruning serves date predicates),
    then ``build_bloom_index`` computes each file's bloom of
    o_custkey in ONE pass whose shuffle is bounded by files x words —
    never row count — and ``scan_point_lookup`` answers
    ``o_custkey = 371`` reading only the files whose bloom admits the
    probe (false negatives impossible, property-tested; staleness
    falls back to a full scan).  The oracle recomputes the customer's
    aggregate straight from the source table."""
    from ..dataset import build_bloom_index, scan_point_lookup
    src = (load(spark, sf_dir, "orders")
           .select(F.col("o_orderkey").cast("bigint"),
                   F.col("o_custkey").cast("bigint"), "o_orderdate"))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_bloom_"),
                          "orders_bl")
    (Dataset(spark, src, index_columns=("o_orderdate",))
     .reindex(("o_orderdate",)).repartition(1200).write_parquet(target))
    build_bloom_index(spark, target, "o_custkey")
    hit = scan_point_lookup(spark, target, "o_custkey", 371)
    return hit.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                   F.sum("o_orderkey").cast("bigint").alias("key_sum"),
                   F.min("o_orderdate").alias("first_order"))


@query("op_describe_history", oracle="""
SELECT 1 AS version, 5 AS n_files, 5 AS n_added_files,
       0 AS n_removed_files, CAST(25 AS BIGINT) AS rows
UNION ALL SELECT 2, 4, 0, 1, CAST(20 AS BIGINT)
UNION ALL SELECT 3, 5, 2, 1, CAST(22 AS BIGINT)
""")
def op_describe_history(spark, sf_dir):
    """describe_history (the DESCRIBE HISTORY operational surface):
    three commits on a 5-rows-per-file nation layout — write (5 files),
    a whole-file-aligned DELETE of keys 5-9 (drops exactly one file,
    rewrites none), and a MERGE updating keys 12/13 (rewrites their
    file) plus inserting 100/101 (one gap file) — then the history
    report, derived purely from archived manifests with O(files)
    driver work, row counts included.  The oracle states the expected
    file deltas and per-version rows; any change to copy-on-write
    surgical-rewrite behavior shows up here."""
    from ..dataset import delete_rows, describe_history, merge_rows
    src = (load(spark, sf_dir, "nation")
           .select(F.col("n_nationkey").cast("bigint").alias("k"),
                   F.col("n_regionkey").cast("bigint").alias("v")))
    target = os.path.join(tempfile.mkdtemp(prefix="padawan_hist_"),
                          "nation_h")
    (Dataset(spark, src, index_columns=("k",)).reindex(("k",))
     .repartition(5).write_parquet(target))
    delete_rows(spark, target, (5,), (9,), inclusive="both")
    merge_rows(spark, target, Dataset(
        spark, spark.createDataFrame(
            [(12, 999), (13, 999), (100, 1), (101, 2)],
            "k bigint, v bigint"),
        index_columns=("k",)))
    return describe_history(spark, target).select(
        "version", "n_files", "n_added_files", "n_removed_files",
        F.col("total_rows").alias("rows"))


@query("op_footer_stats", oracle="""
WITH g AS (
  SELECT CAST(n_nationkey // 10 AS INT) AS rg, n_nationkey AS k,
         n_name, CASE WHEN n_nationkey % 4 = 0 THEN NULL
                      ELSE n_regionkey END AS opt
  FROM nation
)
SELECT rg AS row_group, 'k' AS column, COUNT(*) AS num_values,
       CAST(0 AS BIGINT) AS null_count,
       CAST(MIN(k) AS VARCHAR) AS min_val,
       CAST(MAX(k) AS VARCHAR) AS max_val
FROM g GROUP BY rg
UNION ALL
SELECT rg, 'name', COUNT(*),
       CAST(0 AS BIGINT), MIN(n_name), MAX(n_name)
FROM g GROUP BY rg
UNION ALL
SELECT rg, 'opt', COUNT(*),
       COUNT(*) FILTER (WHERE opt IS NULL),
       CAST(MIN(opt) AS VARCHAR), CAST(MAX(opt) AS VARCHAR)
FROM g GROUP BY rg
""")
def op_footer_stats(spark, sf_dir):
    """Parquet footer-statistics audit
    (``scan_parquet_footers``): a deterministic file — nation sorted by
    key, 10-row row groups, one nullable column — is footer-scanned
    (pyarrow, O(footer) bytes per file, distributed over the file
    list) and every (row group, column) statistic is checked against
    SQL-derived truth: value counts, null counts, and min/max per
    group (the row-group split is key//10 by construction, so the
    oracle reconstructs each group's stats exactly).  This is the ops
    view behind pruning decisions — 'why didn't this row group get
    skipped' — and doubles as a machine check that what the engine
    WRITES into footers matches the data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..dataset import scan_parquet_footers
    n = (load(spark, sf_dir, "nation")
         .select(F.col("n_nationkey").cast("bigint").alias("k"),
                 F.col("n_name").alias("name"),
                 F.when(F.col("n_nationkey") % 4 == 0, None)
                 .otherwise(F.col("n_regionkey")).cast("bigint")
                 .alias("opt"))
         .orderBy("k"))
    path = os.path.join(tempfile.mkdtemp(prefix="padawan_foot_"),
                        "nation_rg.parquet")
    rows = n.collect()
    tbl = pa.table({
        "k": pa.array([r["k"] for r in rows], pa.int64()),
        "name": pa.array([r["name"] for r in rows], pa.string()),
        "opt": pa.array([r["opt"] for r in rows], pa.int64()),
    })
    pq.write_table(tbl, path, row_group_size=10)
    return (scan_parquet_footers(spark, path)
            .select("row_group", "column", "num_values",
                    "null_count", "min_val", "max_val"))


@query("op_import_iceberg", oracle="""
SELECT COUNT(*) AS n_window,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       CAST((SELECT COUNT(*) FROM orders
             WHERE o_orderkey % 7 = 0 AND o_orderkey < 150000 AND o_orderkey % 3 <> 0)
            AS BIGINT) AS n_total
FROM orders
WHERE o_orderkey % 7 = 0 AND o_orderkey < 150000 AND o_orderkey % 3 <> 0
  AND o_orderkey BETWEEN 700 AND 7000
""")
def op_import_iceberg(spark, sf_dir):
    """Iceberg-to-native MIGRATION end-to-end, completing the
    import pair next to op_import_delta: an existing Iceberg table —
    partitioned, carrying a v2 EQUALITY delete so the import must
    apply merge-on-read semantics rather than copy files — is read
    through the dependency-free snapshot reader, written INTO the
    padawan lakehouse as an indexed manifest table, and served by an
    index-range SLICE pruned by the NEW manifest.  The oracle
    restates the sliced window and total from the source table.
    Scale shape: the import is one distributed read (delete
    anti-join included) + one range-partitioned write; the serve
    path is manifest pruning."""
    import os
    import tempfile

    from ..functions.iceberg import read_iceberg, write_iceberg_fixture
    src = (load(spark, sf_dir, "orders")
           .where((F.col("o_orderkey") % 7 == 0)
           & (F.col("o_orderkey") < 150000))
           .select(F.col("o_orderkey").cast("bigint").alias("k"),
                   (F.col("o_orderkey") % 4).cast("bigint").alias("g")))
    base = tempfile.mkdtemp(prefix="padawan_impice_")
    ice_t = os.path.join(base, "ice")
    write_iceberg_fixture(spark, src, ice_t, partition_by=("g",),
                          order_by=("k",))
    dead = [(int(r["k"]),) for r in
            src.where(F.col("k") % 3 == 0).collect()]
    write_iceberg_fixture(spark, None, ice_t, partition_by=("g",),
                          delete_equality=(["k"], sorted(dead)))
    imported = read_iceberg(spark, ice_t)
    target = os.path.join(base, "native")
    (Dataset(spark, imported.select("k", "g"), index_columns=("k",))
     .reindex(("k",)).repartition(5).write_parquet(target))
    ds = scan_parquet(spark, target)
    window = ds.slice((700,), (7000,), inclusive="both")
    agg = window.df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("s")).collect()[0]
    return spark.createDataFrame(
        [(int(agg["n"]), int(agg["s"]), ds.df.count())],
        "n_window bigint, key_sum bigint, n_total bigint")


@query("op_import_delta", oracle="""
SELECT COUNT(*) AS n_window,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_total
FROM nation WHERE n_nationkey BETWEEN 8 AND 16
""")
def op_import_delta(spark, sf_dir):
    """The MIGRATION path end-to-end: an existing Delta table is
    read through the dependency-free log reader, written INTO the
    padawan lakehouse as an indexed manifest table (reindex +
    range-partitioned write), and then served by an index-range SLICE
    whose file pruning runs off the new manifest — proving imported
    estates get the full native feature set (stats, pruning, time
    travel, CDF) rather than a one-off scan.  The oracle restates the
    sliced window and the imported total from the source table."""
    import os
    import tempfile

    from ..functions.delta import read_delta, write_delta_fixture
    n = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))
    base = tempfile.mkdtemp(prefix="padawan_imp_")
    delta_t = os.path.join(base, "delta")
    write_delta_fixture(spark, n, delta_t, partition_by=("g",))
    imported = read_delta(spark, delta_t)
    target = os.path.join(base, "native")
    (Dataset(spark, imported.select("k", "g"), index_columns=("k",))
     .reindex(("k",)).repartition(5).write_parquet(target))
    ds = scan_parquet(spark, target)
    window = ds.slice((8,), (16,), inclusive="both")
    agg = window.df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("s")).collect()[0]
    return spark.createDataFrame(
        [(int(agg["n"]), int(agg["s"]), ds.df.count())],
        "n_window bigint, key_sum bigint, n_total bigint")
