"""Unit tests for the advanced operators (asof join directions,
salted join) and physical-plan shape guards for the scale-critical
queries (pushdown reaches the scan, dims broadcast, top-k does not
global-sort)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from padawan_spark.operators import asof_join, salted_join


@pytest.fixture(scope="module")
def quotes_trades(spark):
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 5, 11.0), ("A", 9, 12.0),
         ("B", 3, 20.0)],
        "sym string, t int, px double")
    trades = spark.createDataFrame(
        [("A", 0), ("A", 5), ("A", 7), ("B", 2), ("B", 10), ("C", 4)],
        "sym string, t int")
    return quotes, trades


@pytest.mark.slow
def test_asof_backward(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {(r["sym"], r["t"]): r["px_r"]
           for r in asof_join(trades, quotes, on="t", by="sym",
                              how="left").collect()}
    assert got == {("A", 0): None, ("A", 5): 11.0, ("A", 7): 11.0,
                   ("B", 2): None, ("B", 10): 20.0, ("C", 4): None}


@pytest.mark.slow
def test_asof_forward_and_inner(spark, quotes_trades):
    quotes, trades = quotes_trades
    got = {(r["sym"], r["t"]): r["px_r"]
           for r in asof_join(trades, quotes, on="t", by="sym",
                              direction="forward", how="inner").collect()}
    assert got == {("A", 0): 10.0, ("A", 5): 11.0, ("A", 7): 12.0,
                   ("B", 2): 20.0}


@pytest.mark.slow
def test_salted_join_matches_plain(spark, sf_dir):
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    plain = l.join(o, "l_orderkey").count()
    salted = salted_join(l, o, "l_orderkey", n_salts=4).count()
    assert plain == salted


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_pushdown(spark, sf_dir):
    from padawan_spark.queries import QUERIES
    plan = _plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


def test_q3_broadcasts_dims(spark, sf_dir):
    from padawan_spark.queries import QUERIES
    plan = _plan(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global Sort


@pytest.mark.slow
def test_slice_prunes_files_and_pushes(spark, tmp_path, sf_dir):
    from padawan_spark import Dataset, scan_parquet
    src = Dataset(spark, spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
                  index_columns=("l_shipdate",))
    ds = src.repartition(2000).write_parquet(str(tmp_path / "li"))
    n_before = len(ds._files)
    s = ds.slice((dt.datetime(1997, 1, 1),), (dt.datetime(1997, 6, 1),))
    assert len(s._files) < n_before  # manifest pruned the scan set
    pushed = _plan(s.df).split("PushedFilters: [")[1].split("]")[0]
    assert "l_shipdate" in pushed, pushed


@pytest.mark.slow
def test_ensure_bucketed_survives_orphan_location(spark, sf_dir):
    # Simulate the per-query-subprocess harness: fresh metastore (table
    # absent from the catalog) + persistent warehouse dir holding a stale
    # table directory.  saveAsTable refuses LOCATION_ALREADY_EXISTS unless
    # the bootstrap removes the orphan first.
    from urllib.parse import urlparse
    from padawan_spark.queries.scale import _BUCKETED_DONE, _ensure_bucketed
    tl, to = _ensure_bucketed(spark, sf_dir)   # ensure tables + memo exist
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (tl, to):
        assert os.path.isdir(os.path.join(wh, t.lower()))
        spark.sql(f"DROP TABLE {t}")  # managed drop purges the location...
        # ...so recreate the orphan dir by hand, like a stale warehouse
        # left behind by a previous process with its own metastore
        os.makedirs(os.path.join(wh, t.lower()), exist_ok=True)
        with open(os.path.join(wh, t.lower(), "stale.parquet"), "wb") as f:
            f.write(b"not a real file")
    _BUCKETED_DONE.clear()
    tl2, to2 = _ensure_bucketed(spark, sf_dir)  # must not raise
    assert (tl2, to2) == (tl, to)
    assert spark.table(tl2).count() > 0


def test_bucketed_join_same_basename_dirs_keep_own_results(
        spark, sf_dir, tmp_path):
    # The bucketed tables are named after the data directory's basename,
    # so <tmp>/a/sf and <tmp>/b/sf share one pair of tables: calling the
    # query for a, then b, then a must give each directory its own join.
    import shutil

    import duckdb
    import pyarrow.parquet as pq
    from padawan_spark.queries import QUERIES
    from padawan_spark.queries.registry import ORACLE
    from padawan_spark.queries.scale import _BUCKETED_DONE, _bucketed_names
    from tests.oracle_harness import canon_frame

    dirs = {}
    for name in ("a", "b"):
        d = tmp_path / name / "sf"
        d.mkdir(parents=True)
        shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), d)
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
        if name == "b":
            orders = orders.slice(0, orders.num_rows // 2)
        pq.write_table(orders, str(d / "orders.parquet"))
        dirs[name] = str(d)

    def oracle(d):
        con = duckdb.connect()
        for t in ("lineitem", "orders"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        return canon_frame(con.sql(ORACLE["scale_bucketed_join"]).df())

    try:
        for call, name in enumerate(("a", "b", "a")):
            got = QUERIES["scale_bucketed_join"](spark, dirs[name])
            assert canon_frame(got.toPandas()) == oracle(dirs[name]), (
                call, name)
    finally:
        for d in dirs.values():
            _BUCKETED_DONE.pop(d, None)
        for t in _bucketed_names(dirs["a"]):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.mark.slow
def test_bucketed_join_no_exchange(spark, sf_dir):
    # run the query once to (re)create the bucketed tables, then force a
    # merge join (at test scale Catalyst would rightly broadcast instead)
    # and verify bucketing removed the shuffle: no Exchange in the plan.
    from padawan_spark.queries import QUERIES
    from padawan_spark.queries.scale import _ensure_bucketed
    QUERIES["scale_bucketed_join"](spark, sf_dir).collect()
    tl, to = _ensure_bucketed(spark, sf_dir)
    bl, bo = spark.table(tl), spark.table(to)
    j = (bl.hint("merge")
         .join(bo.hint("merge"), bl.l_orderkey == bo.o_orderkey)
         .select("o_orderpriority"))
    plan = _plan(j)
    assert "SortMergeJoin" in plan, plan[:800]
    assert "Exchange" not in plan, plan[:800]
    assert "Bucketed: true" in plan
