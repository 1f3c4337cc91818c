"""Dataset facade tests replicating the reference's fixture shapes and
edge-case semantics (SURVEY.md §5, FIXTURES.md §A): null-containing index
columns, empty partitions, append round trips, slice inclusivity,
metadata assertions."""

import datetime as dt
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from padawan_spark import (
    AppendError, Dataset, StatsUnknownError, concat, from_pandas,
    scan_parquet, write_metadata,
)

BASE = dt.datetime(2022, 1, 1)


def _datetime_sample_pdf():
    """FIXTURES.md A1: 98 hourly rows + 2 null-bearing rows.

    `hour` is bigint microseconds (the interval-type variant is covered in
    test_ordering); index (date, hour, t)."""
    ts = [BASE + dt.timedelta(hours=i) for i in range(98)]
    rows = [
        {"t": None, "date": None, "hour": None, "a": -2},
        {"t": None, "date": dt.date(2022, 1, 1), "hour": 0, "a": -1},
    ] + [
        {"t": t, "date": t.date(),
         "hour": int((t - dt.datetime.combine(t.date(), dt.time())).total_seconds() * 1e6),
         "a": i}
        for i, t in enumerate(ts)
    ]
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def sample_dir(spark, tmp_path_factory):
    """Write the A1 sample as 4 data partitions interleaved with 4 empty
    files (reference fixtures.py:48-52)."""
    out = str(tmp_path_factory.mktemp("dt_sample"))
    pdf = _datetime_sample_pdf()
    schema = "t timestamp, date date, hour bigint, a bigint"
    splits = [(0, 26), (26, 50), (50, 74), (74, 100)]
    i = 0
    for lo, hi in splits:
        part = spark.createDataFrame(pdf.iloc[lo:hi], schema).coalesce(1)
        part.write.parquet(os.path.join(out, f"f{i}"))
        i += 1
        empty = spark.createDataFrame([], schema).coalesce(1)
        empty.write.parquet(os.path.join(out, f"f{i}"))
        i += 1
    # flatten: move part files up with stable names
    files = []
    for d in sorted(os.listdir(out)):
        sub = os.path.join(out, d)
        if not os.path.isdir(sub):
            continue
        for f in sorted(os.listdir(sub)):
            if f.endswith(".parquet"):
                dst = os.path.join(out, f"part{len(files):010d}.parquet")
                shutil.move(os.path.join(sub, f), dst)
                files.append(dst)
        shutil.rmtree(sub)
    return out


def test_scan_and_reindex_drops_empty(spark, sample_dir):
    ds = scan_parquet(spark, sample_dir)
    assert len(ds) == 8 and not ds.known_sizes
    r = ds.reindex(("date", "hour", "t"))
    # sizes in FILE order (splits 26/24/24/26); empty partitions dropped
    assert r.sizes == [26, 24, 24, 26]
    # null-first bounds: first partition lower bound has nulls
    assert r.lower_bounds[0] == (None, None, None)
    # last row: hour 97 → 2022-01-05 01:00
    assert r.upper_bounds[-1] == (dt.date(2022, 1, 5),
                                  int(dt.timedelta(hours=1).total_seconds() * 1e6),
                                  BASE + dt.timedelta(hours=97))


def test_reindex_prefix_fast_path(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    p = r.reindex(("date",))
    assert p.index_columns == ("date",)
    assert p.sizes == r.sizes
    assert p.lower_bounds == [b[:1] for b in r.lower_bounds]
    # no-op shortcut returns self
    assert r.reindex(("date", "hour", "t")) is r


@pytest.mark.slow
def test_slice_nulls_and_inclusivity(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    # nulls sort first: slicing from (None,) includes everything
    assert r.slice((None,), None).df.count() == 100
    # strict lower bound above nulls excludes the null rows
    d1 = dt.date(2022, 1, 1)
    got = r.slice((d1,), None, inclusive="lower").df.count()
    assert got == 98 + 1  # 98 dated rows + the (2022-01-01, 0h, null-t) row
    # prefix ub slicing, both inclusive
    s = r.slice((d1,), (dt.date(2022, 1, 2),), inclusive="both")
    assert s.df.count() == 1 + 24 + 24
    # flipped bounds -> empty, not an error (tests/test_slice.py:120-132)
    assert r.slice((dt.date(2022, 1, 3),), (d1,)).df.count() == 0


def test_slice_preserves_stats_when_uncut(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    # slice covering everything: stats preserved (test_slice.py:135-148)
    s = r.slice((None,), (dt.date(2023, 1, 1),), inclusive="both")
    assert s.known_sizes and s.sizes == r.sizes


def test_write_roundtrip_and_append(spark, sample_dir, tmp_path):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    out = str(tmp_path / "rt")
    head = Dataset(r.spark, r.df.where(F.col("a") < 50),
                   index_columns=r.index_columns)
    tail = Dataset(r.spark, r.df.where(F.col("a") >= 50),
                   index_columns=r.index_columns)
    w = head.write_parquet(out)
    assert sum(w.sizes) == 52
    w2 = tail.write_parquet(out, append=True)
    assert sum(w2.sizes) == 100
    assert w2.index_columns == ("date", "hour", "t")
    # appending with different index columns raises
    with pytest.raises(AppendError):
        Dataset(r.spark, r.df, index_columns=("a",)).write_parquet(out, append=True)
    # round-tripped data identical
    back = w2.collect().sort_values("a").reset_index(drop=True)
    orig = r.collect().sort_values("a").reset_index(drop=True)
    pd.testing.assert_frame_equal(back[["a", "hour"]], orig[["a", "hour"]])


def test_empty_dataset_with_schema(spark):
    from pyspark.sql.types import LongType, DoubleType, StructField, StructType
    schema = StructType([StructField("a", LongType()), StructField("b", DoubleType())])
    ds = Dataset(spark, files=[], schema=schema, index_columns=("a",),
                 sizes=[], lower_bounds=[], upper_bounds=[])
    pdf = ds.collect()
    assert list(pdf.columns) == ["a", "b"] and len(pdf) == 0
    with pytest.raises(ValueError):
        Dataset(spark, files=[])  # zero partitions need explicit schema


def test_concat_schema_and_metadata(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    c = concat([r, r])
    assert c.sizes == r.sizes * 2
    assert c.lower_bounds == r.lower_bounds * 2
    other = Dataset(spark, r.df.select("a", "t", "date", "hour"),
                    index_columns=r.index_columns)
    with pytest.raises(ValueError):
        concat([r, other])  # order-sensitive schema equality
    renamed = r.rename({"a": "z"})
    with pytest.raises(ValueError):
        concat([r, renamed])


def test_rename_moves_index_and_keeps_stats(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    m = r.rename({"date": "date_2", "hour": "hour_2", "a": "a_2"})
    assert m.index_columns == ("date_2", "hour_2", "t")
    assert m.sizes == r.sizes and m.lower_bounds == r.lower_bounds
    assert set(m.df.columns) == {"t", "date_2", "hour_2", "a_2"}


def test_repartition_disjoint_and_exact(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    rp = r.repartition(24).reindex()
    assert sum(rp.sizes) == 100
    assert rp.is_disjoint()
    ex = r.repartition(24, exact=True).reindex()
    assert ex.sizes == [24, 24, 24, 24, 4]  # exact path: deterministic sizes
    assert ex.is_disjoint()


def test_collate_merges(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    c = r.collate(50).reindex()
    assert len(c.sizes) == 2 and sum(c.sizes) == 100
    raw = scan_parquet(spark, sample_dir)
    with pytest.raises(StatsUnknownError):
        raw.collate(50)


@pytest.mark.slow
def test_map_preserves_contract(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    m = r.map(lambda pdf: pdf.assign(a=pdf.a * 2), preserves="all")
    assert m.sizes == r.sizes and m.lower_bounds == r.lower_bounds
    assert m.df.agg(F.sum("a")).collect()[0][0] == (sum(range(98)) - 3) * 2
    n = r.map(lambda pdf: pdf[pdf.a > 0], preserves="none")
    assert not n.known_sizes


def test_write_metadata_retrofit(spark, sample_dir, tmp_path):
    out = str(tmp_path / "retro")
    os.makedirs(out)
    for f in os.listdir(sample_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(sample_dir, f), out)
    write_metadata(spark, out, ("date", "hour", "t"))
    ds = scan_parquet(spark, out)
    assert ds.sizes == [26, 24, 24, 26]
    assert ds.index_columns == ("date", "hour", "t")
    assert ds.lower_bounds[0] == (None, None, None)


def test_partition_access(spark, sample_dir):
    ds = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    assert len(ds) == 4
    assert ds[0].count() == 26
    assert ds[-1].count() == 26
    assert sum(p.count() for p in ds) == 100
    with pytest.raises(IndexError):
        ds[4]


def test_manifest_table_roundtrip_typed_bounds(spark, tmp_path):
    """SURVEY §7.4 trap 7: the manifest's scale form is a parquet TABLE
    with one typed column per index column and side.  It round-trips
    the manifest exactly: date, int, timestamp, decimal and timedelta
    bounds, NULL bounds among them, in manifest order although the rows
    are stored sorted by lower bound."""
    import decimal

    from padawan_spark.metadata import (Manifest, read_manifest_table,
                                        write_manifest_table)

    target = str(tmp_path / "mtab")
    os.makedirs(target, exist_ok=True)
    day, ts = dt.date(2022, 1, 1), dt.datetime(2022, 1, 1, 8, 30, 0, 250)

    def bound(i, j):
        return (day + dt.timedelta(days=i + j), i * 10 + 9 * j,
                ts + dt.timedelta(hours=i, minutes=j),
                decimal.Decimal(f"{i}.{j}5"),
                dt.timedelta(days=i, microseconds=j))

    m = Manifest(
        index_columns=("d", "k", "ts", "dec", "td"),
        files=[f"part{i:010d}.parquet" for i in range(5)],
        sizes=[10, 20, 30, 40, 50],
        lower_bounds=[bound(3 - i, 0) for i in range(4)]
        + [(None, None, None, None, None)],
        upper_bounds=[bound(3 - i, 1) for i in range(4)]
        + [(day, None, None, decimal.Decimal("0.05"), None)],
        max_partition_index=7,
    )
    write_manifest_table(target, m)
    assert read_manifest_table(target) == m


@pytest.mark.slow
def test_write_parquet_manifest_table_form(spark, tmp_path, sf_dir):
    """write_parquet(manifest_table=True) persists the table-form
    manifest alongside the JSON sidecar, and both agree exactly."""
    from padawan_spark import Dataset
    from padawan_spark.metadata import load_manifest, read_manifest_table
    from padawan_spark.queries.registry import load

    target = str(tmp_path / "mt_orders")
    o = (load(spark, sf_dir, "orders")
         .select("o_orderkey", "o_totalprice").limit(1000))
    ds = Dataset(spark, o, index_columns=("o_orderkey",))
    ds.repartition(4).write_parquet(target, manifest_table=True)
    j = load_manifest(target)
    t = read_manifest_table(target)
    assert t.files == j.files and t.sizes == j.sizes
    assert t.lower_bounds == j.lower_bounds
    assert t.upper_bounds == j.upper_bounds
    assert t.index_columns == j.index_columns


def test_map_extra_args_file_backed(spark, sample_dir):
    """Parity with the reference's per-partition extra_args
    (/root/reference/src/padawan/mapped_dataset.py:96-104,
    tests/test_map.py): one tuple per partition, unpacked positionally
    before shared kwargs.  Identity is keyed (file path), not
    positional, so the dispatch survives task coalescing."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    assert len(r) == 4

    def f(pdf, alpha, beta, gamma=1):
        return pdf.assign(a=alpha * pdf.a + beta * gamma)

    m = r.map(f, extra_args=[(10, 0), (20, 1), (30, 2), (40, 3)],
              shared_args={"gamma": 100}, preserves="sizes")
    assert m.sizes == r.sizes
    rows = {row["a"] for row in m.df.collect()}
    pdf = _datetime_sample_pdf()
    expect = set()
    for slot, (lo, hi) in enumerate([(0, 26), (26, 50), (50, 74), (74, 100)]):
        alpha, beta = [(10, 0), (20, 1), (30, 2), (40, 3)][slot]
        expect |= {alpha * a + beta * 100 for a in pdf.a.iloc[lo:hi]}
    assert rows == expect


@pytest.mark.parametrize("leaf", ["plain", "with space", "pct%41x", "a+b"])
def test_table_path_with_uri_escapes(spark, tmp_path, leaf):
    """Spark names the file a row was read from by URI (a space becomes
    %20, a literal % becomes %25) while the manifest holds plain paths:
    every rule that maps rows back to files decodes the URI, and keeps a
    '+' (which a form decoder would turn into a space)."""
    from padawan_spark import build_bloom_index, scan_point_lookup
    p, n = str(tmp_path / leaf), 40
    src = Dataset(spark, spark.range(n).selectExpr("id AS k", "id * 10 AS v"),
                  index_columns=("k",))
    ds = src.repartition(10).write_parquet(p)
    assert len(ds) > 1 and sum(ds.sizes) == n
    assert sum(Dataset(spark, files=ds._files,
                       index_columns=("k",)).reindex().sizes) == n
    assert ds.collate(20).df.count() == n
    assert ds.map(lambda pdf, slot: pdf,
                  extra_args=[(i,) for i in range(len(ds))]).df.count() == n
    build_bloom_index(spark, p, "v")
    assert [r.k for r in scan_point_lookup(spark, p, "v", 70).collect()] == [7]


def test_map_extra_args_length_mismatch(spark, sample_dir):
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    with pytest.raises(ValueError):
        r.map(lambda pdf: pdf, extra_args=[(1,)])


def test_map_extra_args_memory_backed(spark):
    """Non-file-backed path: slots resolve through spark_partition_id
    (mapped through recorded partition ids when empties are dropped)."""
    pdf = pd.DataFrame({"k": list(range(8)), "v": [1] * 8})
    ds = from_pandas(spark, pdf, index_columns=("k",))
    r = ds.reindex()
    n = len(r)
    args = [(i * 1000,) for i in range(n)]

    def f(p, off):
        return p.assign(v=p.v + off)

    m = r.map(f, extra_args=args, preserves="sizes")
    got = m.df.agg(F.sum("v")).collect()[0][0]
    # every partition got its own offset: sum(v) = 8 + sum(size_i*off_i)
    expect = 8 + sum(s * a[0] for s, a in zip(r.sizes, args))
    assert got == expect


def test_slice_residual_partition_access(spark, sample_dir):
    """Per-partition access on a sliced file-backed dataset
    must apply the residual predicate — ds[i] and ds.df agree."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    s = r.slice((dt.date(2022, 1, 2),), (dt.date(2022, 1, 4),))
    total = s.df.count()
    per_part = sum(p.count() for p in s)
    assert per_part == total
    # reindex on the sliced dataset reflects the slice, not raw files
    s2 = s.reindex()
    assert sum(s2.sizes) == total


def test_reslice_prefix_bounds_no_row_loss(spark, sample_dir):
    """Clamping partition bounds with a PREFIX slice
    bound must not fabricate full-length bounds that a later slice
    prunes incorrectly.  Slice to (2022-01-02,) prefix, then re-slice
    with a tighter upper bound — rows must survive."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    s1 = r.slice((dt.date(2022, 1, 2),), None)
    ground = [row for row in r.df.collect()
              if row["date"] is not None and row["date"] >= dt.date(2022, 1, 2)
              # default inclusivity: exclusive upper, lexicographic on
              # the bound's prefix length
              and (row["date"], row["hour"]) < (dt.date(2022, 1, 2),
                                                int(4 * 3600 * 1e6))]
    s2 = s1.slice(None, (dt.date(2022, 1, 2), int(4 * 3600 * 1e6)))
    assert s2.df.count() == len(ground)
    assert sum(p.count() for p in s2) == len(ground)


def test_getitem_partition_id_mapping_with_empties(spark):
    """After reindex drops empty partitions from the
    stats, ds[i] must still address the partition sizes[i] describes."""
    pdf = pd.DataFrame({"k": list(range(10)), "v": list(range(10))})
    df = (spark.createDataFrame(pdf)
          .repartition(6, "k"))  # hash-partitioning may leave empties
    ds = Dataset(spark, df, index_columns=("k",)).reindex()
    assert all(s > 0 for s in ds.sizes)
    for i in range(len(ds)):
        assert ds[i].count() == ds.sizes[i]


@pytest.mark.slow
def test_collate_single_scan_plan(spark, tmp_path):
    """collate's file-backed path must be ONE scan + one
    shuffle for any group count — not a per-group read-union."""
    pdf = pd.DataFrame({"k": range(100), "v": range(100)})
    ds = from_pandas(spark, pdf, index_columns=("k",))
    w = ds.repartition(10, exact=True).write_parquet(str(tmp_path / "cs"))
    c = w.collate(25)
    plan = c.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert c.sizes == [30, 30, 40]
    # one group per physical partition, in group order
    import pyspark.sql.functions as F2
    per = (c.df.groupBy(F2.spark_partition_id().alias("p"))
           .count().orderBy("p").collect())
    assert [row["count"] for row in per] == [30, 30, 40]


def test_repartition_sample_fraction(spark, sample_dir):
    """Reference parity (repartitioned_dataset.py:383-387): the
    intermediate sampling knob maps to Spark's
    rangeExchange.sampleSizePerPartition, scoped to the call."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    before = spark.conf.get(key)
    rp = r.repartition(24, sample_fraction=0.5).reindex()
    assert spark.conf.get(key) == before  # restored
    assert sum(rp.sizes) == 100
    assert rp.is_disjoint()
    with pytest.raises(ValueError):
        r.repartition(24, sample_fraction=0.0)


def test_map_called_once_per_partition(spark, sample_dir):
    """With extra_args, ``func`` must run EXACTLY once per
    logical partition with all its rows — even when a partition arrives
    as several Arrow batches.  Forced here with a tiny
    maxRecordsPerBatch; func emits ONE summary row per invocation, so
    the output row count IS the invocation count."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "5")   # 26-row partitions → 6 batches each
    try:
        r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))

        def f(pdf, slot):
            import pandas as pd
            return pd.DataFrame({"slot": [slot], "n": [len(pdf)]})

        m = r.map(f, extra_args=[(0,), (1,), (2,), (3,)],
                  schema="slot bigint, n bigint")
        rows = {(row["slot"], row["n"]) for row in m.df.collect()}
        assert rows == {(0, 26), (1, 24), (2, 24), (3, 26)}
        assert m.df.count() == 4   # one invocation per partition, total
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


@pytest.mark.slow
def test_concat_file_backed_partition_access(spark, sample_dir):
    """A file-backed child forced onto the DataFrame-union
    path has no known slot→physical-partition mapping (file packing is
    largest-first), so partition ACCESS on the concat result must fail
    loudly — and reindex() must recompute a correct mapping."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    pdf = _datetime_sample_pdf().iloc[2:10]
    mdf = spark.createDataFrame(
        pdf, "t timestamp, date date, hour bigint, a bigint").coalesce(1)
    mem = Dataset(spark, mdf, index_columns=("date", "hour", "t")).reindex()
    c = concat([r, mem])   # file-backed + df-backed → union path
    assert sum(c.sizes) == 108
    with pytest.raises(StatsUnknownError):
        c[0]
    with pytest.raises(StatsUnknownError):
        c.map(lambda p, tag: p, extra_args=[(i,) for i in range(len(c.sizes))])
    fixed = c.reindex()
    assert sum(fixed.sizes) == 108
    assert sum(p.count() for p in fixed) == 108
    assert [fixed[i].count() for i in range(len(fixed))] == fixed.sizes


def test_map_polars_engine_reference_body(spark, sample_dir):
    """Reference map bodies run unmodified under engine='polars'
    (mapped_dataset.py:61-69; body ported verbatim from
    /root/reference/tests/test_map.py:16).  Gated: polars is optional
    and absent in some deployments (as with PIL for codecs)."""
    pl = pytest.importorskip("polars")
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    m = r.map(
        lambda df: df.with_columns((2 * pl.col("a")).alias("b")),
        schema="t timestamp, date date, hour bigint, a bigint, b bigint",
        engine="polars", preserves="sizes",
    )
    assert m.sizes == r.sizes
    got = m.df.agg(F.sum("b")).collect()[0][0]
    assert got == 2 * m.df.agg(F.sum("a")).collect()[0][0]


def test_map_polars_engine_missing(spark, sample_dir):
    """Without polars installed the shim must fail fast on the driver."""
    try:
        import polars  # noqa: F401
        pytest.skip("polars present; covered by the verbatim-body test")
    except ImportError:
        pass
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    with pytest.raises(ImportError):
        r.map(lambda df: df, engine="polars")


def test_map_polars_dispatch_protocol_with_stub():
    """Pin the polars shim's dispatch protocol even
    where polars cannot be installed, by injecting a minimal stub module
    — _wrap_polars_body must (1) hand the body ``from_pandas(...).lazy()``
    of each batch, (2) ``collect()`` a returned LazyFrame but not an
    eager frame, (3) return ``to_pandas()`` of the result.  Semantics of
    the wrapped values are covered by the pandas-path reference-body
    test; this pins the PROTOCOL the real polars would see."""
    import sys

    import pandas as pd

    from padawan_spark.dataset import _wrap_polars_body

    calls = []

    class _StubDataFrame:             # eager frame: distinct type, like polars
        def __init__(self, pdf):
            self._pdf = pdf

        def lazy(self):
            calls.append("lazy")
            return _StubLazyFrame(self._pdf)

        def to_pandas(self):
            calls.append("to_pandas")
            return self._pdf

    class _StubLazyFrame:
        def __init__(self, pdf):
            self._pdf = pdf

        def collect(self):
            calls.append("collect")
            return _StubDataFrame(self._pdf)

        def double_a(self):           # stand-in for a body transformation
            return _StubLazyFrame(self._pdf.assign(a=2 * self._pdf["a"]))

    class _StubPolars:
        LazyFrame = _StubLazyFrame
        DataFrame = _StubDataFrame

        @staticmethod
        def from_pandas(pdf):
            calls.append("from_pandas")
            return _StubDataFrame(pdf)

    stub = _StubPolars()
    stub.__name__ = "polars"
    had = sys.modules.get("polars")
    sys.modules["polars"] = stub
    try:
        pdf = pd.DataFrame({"a": [1, 2, 3]})
        # lazy-returning body: wrapper must collect() then to_pandas()
        out = _wrap_polars_body(lambda lf: lf.double_a())(pdf)
        assert calls == ["from_pandas", "lazy", "collect", "to_pandas"]
        assert list(out["a"]) == [2, 4, 6]
        # eager-returning body: wrapper must NOT collect() again
        calls.clear()
        out2 = _wrap_polars_body(lambda lf: lf.double_a().collect())(pdf)
        assert calls == ["from_pandas", "lazy", "collect", "to_pandas"]
        assert list(out2["a"]) == [2, 4, 6]
        # extra positional / keyword args flow through to the body
        calls.clear()
        got_args = []

        def body(lf, tag, k=None):
            got_args.append((tag, k))
            return lf

        _wrap_polars_body(body)(pdf, "t0", k=7)
        assert got_args == [("t0", 7)]
    finally:
        if had is None:
            del sys.modules["polars"]
        else:
            sys.modules["polars"] = had


def test_progress_callback(spark, sample_dir, tmp_path):
    """Reference parity (progress.py:7-51): terminal actions accept a
    (completed_tasks, total_tasks) callback; it must fire with a
    terminal done==total update and monotone non-decreasing counts."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    calls = []
    pdf = r.collect(progress=lambda d, t: calls.append((d, t)))
    assert len(pdf) == 100
    # tiny jobs may finish between polls; when updates did fire they
    # must be sane and end complete
    if calls:
        assert calls[-1][0] == calls[-1][1]
        assert all(d <= t for d, t in calls)
    calls2 = []
    r.write_parquet(str(tmp_path / "prog"),
                    progress=lambda d, t: calls2.append((d, t)))
    if calls2:
        assert calls2[-1][0] == calls2[-1][1]


@pytest.mark.slow
def test_manifest_versioning_time_travel(spark, sf_dir, tmp_path):
    """Every write archives a manifest snapshot; append-only writes keep
    all files, so scan_parquet(version=k) re-materializes the dataset
    exactly as of write k — the reproducibility pin of a training run."""
    from padawan_spark import Dataset, scan_parquet
    from padawan_spark.metadata import list_versions
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "tt")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    first = Dataset(spark, n.where(F.col("n_nationkey") < 10),
                    index_columns=("n_nationkey",)).reindex(("n_nationkey",))
    ds = first.write_parquet(p)
    second = Dataset(spark, n.where((F.col("n_nationkey") >= 10)
                                    & (F.col("n_nationkey") < 20)),
                     index_columns=("n_nationkey",)).reindex(("n_nationkey",))
    ds = second.write_parquet(p, append=True)
    third = Dataset(spark, n.where(F.col("n_nationkey") >= 20),
                    index_columns=("n_nationkey",)).reindex(("n_nationkey",))
    ds = third.write_parquet(p, append=True)

    assert list_versions(p) == [1, 2, 3]
    assert scan_parquet(spark, p).df.count() == n.count()
    v1 = scan_parquet(spark, p, version=1)
    assert v1.df.count() == 10
    assert v1.df.agg(F.max("n_nationkey")).first()[0] == 9
    v2 = scan_parquet(spark, p, version=2)
    assert v2.df.count() == 20
    assert v2.known_bounds and len(v2) == len(v1) + len(second)
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        scan_parquet(spark, p, version=9)

    # overwrite restarts history with the table
    first.write_parquet(p)
    assert list_versions(p) == [1]


@pytest.mark.slow
def test_compact_then_vacuum_lifecycle(spark, sf_dir, tmp_path):
    """OPTIMIZE + VACUUM: compaction rewrites small files into merged
    ones and swaps the manifest; older pins keep reading their exact
    snapshot until vacuum expires them and reclaims the superseded
    files; the current view is untouched throughout."""
    from padawan_spark import (Dataset, compact_parquet, list_versions,
                               scan_parquet, vacuum)
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "opt")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    (Dataset(spark, n.where(F.col("n_nationkey") < 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(p))
    (Dataset(spark, n.where(F.col("n_nationkey") >= 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(p, append=True))
    total = n.count()
    files_before = len(scan_parquet(spark, p)._files)

    ds = compact_parquet(spark, p, rows_per_partition=1000)
    assert list_versions(p) == [1, 2, 3]
    assert ds.df.count() == total
    assert len(ds._files) < files_before         # actually merged
    # the pre-compaction pin still reads the ORIGINAL small files
    v2 = scan_parquet(spark, p, version=2)
    assert v2.df.count() == total
    assert len(v2._files) == files_before

    import os
    res = vacuum(p, keep_last=1)
    assert res["snapshots_removed"] == 2
    assert res["files_removed"] > 0              # superseded files reclaimed
    assert list_versions(p) == [3]
    assert scan_parquet(spark, p).df.count() == total
    # every surviving listed file exists; the reclaimed ones are gone
    cur = scan_parquet(spark, p)
    assert all(os.path.exists(f) for f in cur._files)


def test_append_lock_guards_concurrent_writers(spark, sf_dir, tmp_path):
    """A second appender must fail loudly while a lock is held, the
    lock is released after both success and failure, and a failed
    append never corrupts the manifest."""
    import os

    from padawan_spark import AppendError, Dataset, scan_parquet
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "locked")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ds = Dataset(spark, n.where(F.col("n_nationkey") < 10),
                 index_columns=("n_nationkey",)).reindex(("n_nationkey",))
    ds.write_parquet(p)
    lock = os.path.join(p, "_padawan_append.lock")

    # simulate a concurrent appender holding the lock
    with open(lock, "w") as fh:
        fh.write("999")
    tail = Dataset(spark, n.where(F.col("n_nationkey") >= 10),
                   index_columns=("n_nationkey",)).reindex(("n_nationkey",))
    with pytest.raises(AppendError, match="concurrent append"):
        tail.write_parquet(p, append=True)
    os.unlink(lock)

    # a failing append (index mismatch) must release the lock...
    bad = Dataset(spark, n.withColumnRenamed("n_nationkey", "k"),
                  index_columns=("k",)).reindex(("k",))
    with pytest.raises(AppendError, match="index columns differ"):
        bad.write_parquet(p, append=True)
    assert not os.path.exists(lock)
    # ...so a correct append then succeeds and the manifest is intact
    out = tail.write_parquet(p, append=True)
    assert out.df.count() == n.count()
    assert not os.path.exists(lock)
    assert scan_parquet(spark, p).known_bounds


def test_compact_and_vacuum_hold_the_commit_lock(spark, sf_dir, tmp_path):
    """compact_parquet and vacuum perform the same manifest
    read-modify-write as append, so they must serialize through the
    same commit lock — a held lock makes them fail loudly, never
    publish a manifest built from a stale snapshot."""
    from padawan_spark import Dataset, compact_parquet
    from padawan_spark.metadata import (CommitConflictError, LOCK_FILE,
                                        vacuum)
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "cl")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    (Dataset(spark, n, index_columns=("n_nationkey",))
     .reindex(("n_nationkey",)).write_parquet(p))
    lock = os.path.join(p, LOCK_FILE)
    with open(lock, "w") as fh:
        fh.write("999 append")
    with pytest.raises(CommitConflictError, match="concurrent compact"):
        compact_parquet(spark, p, rows_per_partition=1000)
    with pytest.raises(CommitConflictError, match="concurrent vacuum"):
        vacuum(p, keep_last=1)
    os.unlink(lock)
    # with the lock free both succeed and release it
    compact_parquet(spark, p, rows_per_partition=1000)
    vacuum(p, keep_last=1)
    assert not os.path.exists(lock)


@pytest.mark.slow
def test_compact_refreshes_manifest_table(spark, sf_dir, tmp_path):
    """For datasets written with manifest_table=True the
    parquet manifest-table form must be refreshed by compaction —
    otherwise it keeps listing superseded small files that dangle once
    vacuum reclaims them."""
    from padawan_spark import Dataset, compact_parquet
    from padawan_spark.metadata import load_manifest, read_manifest_table, vacuum
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "mt")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    (Dataset(spark, n.where(F.col("n_nationkey") < 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(p, manifest_table=True))
    # appending WITHOUT re-passing manifest_table=True must
    # still refresh the table form — once a dataset carries one, every
    # commit keeps it in lockstep, or pruned scans silently drop the
    # appended files
    (Dataset(spark, n.where(F.col("n_nationkey") >= 10),
             index_columns=("n_nationkey",)).reindex(("n_nationkey",))
     .write_parquet(p, append=True))
    assert read_manifest_table(p).files == load_manifest(p).files
    compact_parquet(spark, p, rows_per_partition=1000)
    cur = load_manifest(p)
    tbl = read_manifest_table(p)
    assert tbl.files == cur.files          # table form tracks the swap
    vacuum(p, keep_last=1)
    # every file the table form lists still exists after vacuum
    assert all(os.path.exists(os.path.join(p, f)) for f in tbl.files)


def test_commit_lock_injection_two_writer_race(spark, sf_dir, tmp_path):
    """The commit critical section is injectable (object-store
    conditional-put hook): with an injected lock, two overlapping
    appenders produce EXACTLY one winner; the loser fails loudly with
    AppendError and the final manifest contains only base + winner."""
    import contextlib
    import threading

    from padawan_spark import AppendError, Dataset, scan_parquet
    from padawan_spark.metadata import (CommitConflictError, set_commit_lock)
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "race")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = n.where(F.col("n_nationkey") < 10)
    (Dataset(spark, base, index_columns=("n_nationkey",))
     .reindex(("n_nationkey",)).write_parquet(p))

    mu = threading.Lock()
    inside = threading.Event()    # winner is inside the critical section
    release = threading.Event()   # loser has observed the conflict
    purposes = []

    def injected(path, purpose):
        @contextlib.contextmanager
        def cm():
            if not mu.acquire(blocking=False):
                raise CommitConflictError(f"injected conflict: {purpose}")
            purposes.append(purpose)
            try:
                inside.set()
                release.wait(30)  # hold the commit open for the loser
                yield
            finally:
                mu.release()
        return cm()

    winner_rows = n.where((F.col("n_nationkey") >= 10)
                          & (F.col("n_nationkey") < 20))
    loser_rows = n.where(F.col("n_nationkey") >= 20)
    result = {}

    def winner():
        ds = (Dataset(spark, winner_rows, index_columns=("n_nationkey",))
              .reindex(("n_nationkey",)))
        result["winner"] = ds.write_parquet(p, append=True)

    set_commit_lock(injected)
    try:
        t = threading.Thread(target=winner)
        t.start()
        assert inside.wait(30)
        loser = (Dataset(spark, loser_rows, index_columns=("n_nationkey",))
                 .reindex(("n_nationkey",)))
        with pytest.raises(AppendError, match="injected conflict"):
            loser.write_parquet(p, append=True)
        release.set()
        t.join(60)
        assert not t.is_alive()
    finally:
        set_commit_lock(None)

    assert purposes == ["append"]  # exactly one acquisition succeeded
    got = scan_parquet(spark, p).df.count()
    assert got == base.count() + winner_rows.count()  # loser left no trace


@pytest.mark.parametrize("seed", [7, 23])
@pytest.mark.slow
def test_commit_lock_serializes_interleaved_maintenance(spark, tmp_path,
                                                        seed):
    """N threads interleaving append / compact /
    vacuum through an injected BLOCKING commit lock (the semantics a
    commit service provides) must preserve the manifest invariants no
    matter the interleaving: the lock is never held twice concurrently,
    no appended row is lost or duplicated, every file the final manifest
    lists exists on disk (and is listed exactly once), and the retained
    version history is a contiguous ascending suffix."""
    import contextlib
    import random
    import threading
    import time as _time

    import pandas as pd

    from padawan_spark import (Dataset, compact_parquet, scan_parquet)
    from padawan_spark.metadata import (list_versions, load_manifest,
                                        set_commit_lock, vacuum)

    p = str(tmp_path / f"ilv{seed}")
    rng = random.Random(seed)

    def part(lo):
        pdf = pd.DataFrame({"k": list(range(lo, lo + 10)),
                            "v": [f"s{seed}-{i}" for i in range(10)]})
        return (Dataset(spark, spark.createDataFrame(pdf),
                        index_columns=("k",)).reindex(("k",)))

    part(0).write_parquet(p)

    # injected lock: blocking + holder accounting — asserts mutual
    # exclusion across every append/compact/vacuum critical section
    mu = threading.Lock()
    holders = {"now": 0, "max": 0, "acquisitions": 0}

    def injected(path, purpose):
        @contextlib.contextmanager
        def cm():
            mu.acquire()
            holders["now"] += 1
            holders["max"] = max(holders["max"], holders["now"])
            holders["acquisitions"] += 1
            try:
                yield
            finally:
                holders["now"] -= 1
                mu.release()
        return cm()

    errors: list = []
    n_appenders, appends_each = 3, 2

    def appender(t):
        try:
            for j in range(appends_each):
                _time.sleep(rng.random() * 0.2)
                part(100 * (t + 1) + 10 * j).write_parquet(p, append=True)
        except Exception as e:            # pragma: no cover - fail below
            errors.append(e)

    def maintainer():
        try:
            for _ in range(2):
                _time.sleep(rng.random() * 0.3)
                compact_parquet(spark, p, rows_per_partition=1000)
                _time.sleep(rng.random() * 0.2)
                vacuum(p, keep_last=2)
        except Exception as e:            # pragma: no cover - fail below
            errors.append(e)

    set_commit_lock(injected)
    try:
        threads = [threading.Thread(target=appender, args=(t,))
                   for t in range(n_appenders)]
        threads.append(threading.Thread(target=maintainer))
        rng.shuffle(threads)
        for th in threads:
            th.start()
        for th in threads:
            th.join(300)
            assert not th.is_alive(), "worker deadlocked"
    finally:
        set_commit_lock(None)

    assert errors == [], f"interleaved maintenance raised: {errors!r}"
    assert holders["max"] == 1, "commit lock held concurrently"
    # every critical section went through the injected lock:
    # 6 appends + 2 compacts + 2 vacuums
    assert holders["acquisitions"] == n_appenders * appends_each + 4
    # no lost or duplicated rows, regardless of interleaving
    expect = set(range(0, 10))
    for t in range(n_appenders):
        for j in range(appends_each):
            expect |= set(range(100 * (t + 1) + 10 * j,
                                100 * (t + 1) + 10 * j + 10))
    got = {r.k for r in scan_parquet(spark, p).df.select("k").collect()}
    assert got == expect
    assert scan_parquet(spark, p).df.count() == len(expect)  # no dups
    # final manifest: files exist, listed exactly once, bounds intact
    man = load_manifest(p)
    assert len(man.files) == len(set(man.files))
    for f in man.files:
        assert os.path.exists(os.path.join(p, f)), f"manifest lists {f}"
    # version history is a contiguous ascending suffix (vacuum trims the
    # head, never punches holes)
    vs = list_versions(p)
    assert vs == list(range(vs[0], vs[0] + len(vs)))


@pytest.mark.slow
def test_manifest_tail_handles_vacuum_and_overwrite(spark, sf_dir, tmp_path):
    """The padawan_tail stream source must handle snapshot
    history that did not only grow — a vacuumed base snapshot or an
    overwrite-reset history fails loudly with guidance; vacuumed
    INTERMEDIATE snapshots are skipped safely (file lists are
    cumulative); a fresh start (v=0) after vacuum streams the current
    retained files."""
    from padawan_spark import Dataset
    from padawan_spark.metadata import list_versions, vacuum
    from padawan_spark.queries.registry import load
    from padawan_spark.sources.pysource import _ManifestTailReader

    p = str(tmp_path / "tail")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def part(lo, hi):
        return Dataset(spark, n.where((F.col("n_nationkey") >= lo)
                                      & (F.col("n_nationkey") < hi)),
                       index_columns=("n_nationkey",)).reindex(("n_nationkey",))

    part(0, 5).write_parquet(p)                      # v1
    part(5, 10).write_parquet(p, append=True)        # v2
    part(10, 15).write_parquet(p, append=True)       # v3
    part(15, 20).write_parquet(p, append=True)       # v4
    rd = _ManifestTailReader({"path": p})
    delta = [x.value for x in rd.partitions({"v": 1}, {"v": 2})]
    assert len([d for d in delta if d]) > 0

    vacuum(p, keep_last=2)                           # keeps v3, v4
    assert list_versions(p) == [3, 4]
    # base snapshot gone -> loud, actionable failure
    with pytest.raises(RuntimeError, match="expired by metadata.vacuum"):
        rd.partitions({"v": 1}, {"v": 4})
    # intermediate snapshots gone, base v0 -> all retained files stream
    fresh = [x.value for x in rd.partitions({"v": 0}, {"v": 4}) if x.value]
    assert len(fresh) > 0
    # overwrite resets history -> regressed offsets fail loudly
    from padawan_spark.metadata import table_id
    old_id = table_id(p)
    assert old_id is not None
    part(0, 20).write_parquet(p)                     # history back to v1
    new_id = table_id(p)
    assert new_id is not None and new_id != old_id   # identity re-minted
    assert rd.latestOffset() == {"v": 1, "id": new_id}
    with pytest.raises(RuntimeError, match="overwritten under"):
        rd.partitions({"v": 4, "id": old_id}, {"v": 1, "id": new_id})
    # even when the NEW history grows back to the checkpointed
    # version count (hi == lo, the case the version guard alone misses),
    # the identity mismatch still fails loudly instead of silently
    # diffing two unrelated histories
    for k in range(3):
        part(5 * k, 5 * k + 5).write_parquet(p, append=True)  # v2..v4
    with pytest.raises(RuntimeError, match="overwritten under"):
        rd.partitions({"v": 4, "id": old_id}, {"v": 4, "id": new_id})
    # pre-identity checkpoints (no "id" key) stay readable: legacy path
    legacy = [x.value for x in rd.partitions({"v": 1}, {"v": 4}) if x.value]
    assert len(legacy) > 0


def test_manifest_tail_restamps_identity_for_pretable_streams(
        spark, sf_dir, tmp_path):
    """A stream started BEFORE the table exists checkpoints
    offsets with id=null forever, so the offset-level identity guard
    never activates for it.  The reader now stamps the first non-null
    table_id it observes at run level, and any later change — i.e. an
    overwrite — fails loudly on the next latestOffset tick even though
    every offset involved is id-less."""
    from padawan_spark import Dataset
    from padawan_spark.queries.registry import load
    from padawan_spark.sources.pysource import _ManifestTailReader

    p = str(tmp_path / "tail_pre")
    rd = _ManifestTailReader({"path": p})
    assert rd.initialOffset() == {"v": 0, "id": None}   # table not yet born
    assert rd.latestOffset() == {"v": 0, "id": None}

    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ds = Dataset(spark, n, index_columns=("n_nationkey",)
                 ).reindex(("n_nationkey",))
    ds.write_parquet(p)                                  # v1: id materializes
    off = rd.latestOffset()
    assert off["v"] == 1 and off["id"] is not None
    # overwrite re-mints the table id; the run-level stamp trips on the
    # very next tick, with no id in any checkpointed offset required
    ds.write_parquet(p)
    with pytest.raises(RuntimeError, match="identity .* changed"):
        rd.latestOffset()


def test_map_reference_body_pandas_path(spark, sample_dir):
    """The reference map-semantics matrix
    (/root/reference/tests/test_map.py:12-80) asserted on the PANDAS
    path, so the shim's contract is pinned even where polars cannot be
    installed: preserves=None drops sizes AND bounds; 'bounds'/'sizes'/
    'all' each retain exactly their slice of metadata; and the mapped
    column values are correct."""
    r = scan_parquet(spark, sample_dir).reindex(("date", "hour", "t"))
    want_sizes, want_lb, want_ub = r.sizes, r.lower_bounds, r.upper_bounds
    out_schema = "t timestamp, date date, hour bigint, a bigint, b bigint"

    def body(pdf):
        return pdf.assign(b=2 * pdf["a"])

    m0 = r.map(body, schema=out_schema)                      # preserves=None
    assert m0.known_sizes is False
    assert m0.known_bounds is False

    mb = r.map(body, schema=out_schema, preserves="bounds")
    assert mb.known_sizes is False
    assert mb.known_bounds is True
    assert mb.lower_bounds == want_lb
    assert mb.upper_bounds == want_ub

    ms = r.map(body, schema=out_schema, preserves="sizes")
    assert ms.known_sizes is True
    assert ms.sizes == want_sizes
    assert ms.known_bounds is False

    ma = r.map(body, schema=out_schema, preserves="all")
    assert ma.known_sizes is True and ma.sizes == want_sizes
    assert ma.known_bounds is True
    assert ma.lower_bounds == want_lb and ma.upper_bounds == want_ub

    got = ma.df.select(F.sum("b").alias("sb"), F.sum("a").alias("sa")
                       ).collect()[0]
    assert got["sb"] == 2 * got["sa"]
    assert ma.df.count() == sum(want_sizes)


@pytest.mark.slow
def test_write_parquet_empty_and_append_to_empty(spark, tmp_path):
    """Reference IO parity (/root/reference/tests/test_io.py:144-201):
    writing a dataset whose every partition is empty persists the
    SCHEMA (scan and collect both see it, zero rows), and appending
    real data to that empty-manifest dataset works and computes
    stats."""
    p = str(tmp_path / "empty")
    df = spark.createDataFrame([], "a bigint, b double")
    ds = Dataset(spark, df, index_columns=("a",)).reindex(("a",))
    out = ds.write_parquet(p)
    assert len(out) == 0
    assert [f.name for f in out.schema.fields] == ["a", "b"]
    back = scan_parquet(spark, p)
    assert len(back) == 0
    pdf = back.collect()
    assert list(pdf.columns) == ["a", "b"] and len(pdf) == 0

    full = Dataset(spark,
                   spark.createDataFrame([(1, 2.0), (5, 3.0)],
                                         "a bigint, b double"),
                   index_columns=("a",)).reindex(("a",))
    ap = full.write_parquet(p, append=True)
    assert ap.known_sizes and sum(ap.sizes) == 2
    assert ap.known_bounds
    assert ap.lower_bounds[0] == (1,) and ap.upper_bounds[-1] == (5,)


@pytest.mark.slow
def test_scan_parquet_pruned_matches_driver_slice(spark, sf_dir, tmp_path):
    """SURVEY §7.4 trap 7 (engine path): scan_parquet_pruned reads only
    the manifest TABLE rows that may overlap the slice and must return
    exactly what scan+slice returns."""
    from padawan_spark import Dataset, scan_parquet, scan_parquet_pruned
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "pruned")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    (Dataset(spark, n, index_columns=("n_nationkey",))
     .reindex(("n_nationkey",)).repartition(3)
     .write_parquet(p, manifest_table=True))
    full = scan_parquet(spark, p)
    assert len(full) > 3                       # enough files to prune

    for lb, ub, inc in [((5,), (15,), "lower"), ((5,), (15,), "both"),
                        (None, (9,), "upper"), ((20,), None, "lower")]:
        want = full.slice(lb, ub, inclusive=inc)
        got = scan_parquet_pruned(spark, p, lb, ub, inclusive=inc)
        wk = sorted(r["n_nationkey"] for r in want.df.collect())
        gk = sorted(r["n_nationkey"] for r in got.df.collect())
        assert gk == wk, (lb, ub, inc)
        # the pruned path planned from fewer manifest rows
        assert len(got._files) <= len(full._files)
    mid = scan_parquet_pruned(spark, p, (5,), (15,))
    assert len(mid._files) < len(full._files)  # actually pruned


def test_scan_parquet_pruned_date_index(spark, tmp_path):
    """Typed date bounds in the manifest table prune a date index."""
    import pandas as pd

    from padawan_spark import from_pandas, scan_parquet, scan_parquet_pruned

    p = str(tmp_path / "pruned_dt")
    days = [dt.date(2022, 1, 1 + i) for i in range(12)]
    pdf = pd.DataFrame({"d": days, "v": range(12)})
    (from_pandas(spark, pdf, index_columns=("d",)).repartition(3)
     .write_parquet(p, manifest_table=True))
    full = scan_parquet(spark, p)
    lb, ub = (dt.date(2022, 1, 4),), (dt.date(2022, 1, 8),)
    want = sorted(r["v"] for r in full.slice(lb, ub, inclusive="both")
                  .df.collect())
    got_ds = scan_parquet_pruned(spark, p, lb, ub, inclusive="both")
    got = sorted(r["v"] for r in got_ds.df.collect())
    assert got == want == [3, 4, 5, 6, 7]
    assert len(got_ds._files) < len(full._files)


def test_scan_parquet_pruned_keeps_nan_bounds(spark, tmp_path):
    """Spark orders NaN above every number, so a file whose upper bound
    is NaN holds rows of any lower-bounded slice; the manifest-table
    filter must keep it, although NaN compares false both ways."""
    from padawan_spark import scan_parquet_pruned

    p = str(tmp_path / "pruned_nan")
    (Dataset(spark, spark.range(6).selectExpr(
        "IF(id >= 4, double('NaN'), double(id)) AS x", "id AS v"),
        index_columns=("x",)).repartition(2)
     .write_parquet(p, manifest_table=True))
    for lb, ub in [((5.0,), None), (None, (1.0,))]:
        want = scan_parquet(spark, p).slice(lb, ub)
        got = scan_parquet_pruned(spark, p, lb, ub)
        assert got._files == want._files
        assert sorted(r.v for r in got.df.collect()) \
            == sorted(r.v for r in want.df.collect())
    assert sorted(r.v for r in got.df.collect()) == [0]
    assert sorted(r.v for r in scan_parquet_pruned(
        spark, p, (5.0,)).df.collect()) == [4, 5]


def _kv(spark, keys, v=None):
    from padawan_spark import from_pandas
    keys = list(keys)
    return from_pandas(spark, pd.DataFrame(
        {"k": keys, "v": keys if v is None else [v] * len(keys)}),
        index_columns=("k",))


def _drop_foreign_file(p, keys):
    """A parquet file written outside the facade, as write_metadata
    adopts them."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    keys = pa.array(list(keys), pa.int64())
    pq.write_table(pa.table({"k": keys, "v": keys}),
                   os.path.join(p, "foreign.parquet"))


def test_write_metadata_takes_lock_and_refreshes_manifest_table(
        spark, tmp_path):
    """write_metadata commits like every writer: a held commit lock
    fails it, and adopting a file dropped into a manifest-table dataset
    refreshes the table, so the pruned scan sees the adopted rows too."""
    from padawan_spark import scan_parquet_pruned
    from padawan_spark.metadata import LOCK_FILE, CommitConflictError

    p = str(tmp_path / "retro_tab")
    _kv(spark, range(1000)).repartition(250).write_parquet(
        p, manifest_table=True)
    _drop_foreign_file(p, range(1000, 1100))
    write_metadata(spark, p, ("k",))
    assert scan_parquet(spark, p).slice((900,), (1100,)).df.count() == 200
    assert scan_parquet_pruned(spark, p, (900,), (1100,)).df.count() == 200
    lock = os.path.join(p, LOCK_FILE)
    with open(lock, "w") as fh:
        fh.write("999 append")
    with pytest.raises(CommitConflictError, match="concurrent write_metadata"):
        write_metadata(spark, p, ("k",))
    os.unlink(lock)


def test_write_metadata_keeps_manifest_and_skips_superseded_files(
        spark, tmp_path):
    """On a table with a manifest, write_metadata keeps the listed files
    and their stats and adopts only a file no snapshot lists: the file a
    delete superseded (on disk until vacuum) does not bring its deleted
    rows back.  A different index is rejected, as for an append."""
    from padawan_spark import delete_rows
    from padawan_spark.metadata import load_manifest

    p = str(tmp_path / "retro_keep")
    _kv(spark, range(20)).repartition(5).write_parquet(p)
    delete_rows(spark, p, (3,), (4,))
    kept = load_manifest(p)
    _drop_foreign_file(p, range(100, 103))
    write_metadata(spark, p, ("k",))
    man = load_manifest(p)
    n = len(kept.files)
    assert (man.files[:n], man.sizes[:n], man.lower_bounds[:n]) \
        == (kept.files, kept.sizes, kept.lower_bounds)
    assert man.files[n:] == ["foreign.parquet"]
    assert sorted(r.k for r in scan_parquet(spark, p).df.collect()) \
        == [k for k in range(20) if k not in (3, 4)] + [100, 101, 102]
    with pytest.raises(AppendError, match="index columns differ"):
        write_metadata(spark, p, ("v",))


def _commit_by(writer, spark, p):
    from padawan_spark import compact_parquet, delete_rows, merge_rows
    if writer == "overwrite":
        _kv(spark, range(40)).repartition(10).write_parquet(
            p, manifest_table=True)
    elif writer == "append":
        _kv(spark, range(40, 50)).write_parquet(p, append=True)
    elif writer == "merge_rows":
        merge_rows(spark, p, _kv(spark, [5, 100], v=-1))
    elif writer == "delete_rows":
        delete_rows(spark, p, (10,), (19,), inclusive="both")
    elif writer == "compact_parquet":
        compact_parquet(spark, p, 20)
    else:
        _drop_foreign_file(p, range(200, 210))
        write_metadata(spark, p, ("k",))


@pytest.mark.parametrize("writer", [
    "overwrite", "append", "merge_rows", "delete_rows", "compact_parquet",
    "write_metadata"])
def test_commit_keeps_manifest_forms_in_lockstep(spark, tmp_path, writer):
    """Every writer's commit leaves the JSON manifest and the manifest
    table describing the same files, adds exactly one snapshot, and the
    pruned scan reads the same rows as the JSON-manifest scan."""
    from padawan_spark import list_versions, scan_parquet_pruned
    from padawan_spark.metadata import load_manifest, read_manifest_table

    p = str(tmp_path / writer)
    if writer != "overwrite":
        _commit_by("overwrite", spark, p)
    versions = len(list_versions(p))
    _commit_by(writer, spark, p)
    man, tab = load_manifest(p), read_manifest_table(p)
    assert (tab.files, tab.sizes, tab.lower_bounds, tab.upper_bounds) \
        == (man.files, man.sizes, man.lower_bounds, man.upper_bounds)
    assert len(list_versions(p)) == versions + 1
    assert scan_parquet_pruned(spark, p, (-1,), (10**6,)).df.count() \
        == scan_parquet(spark, p).df.count()


def test_delete_rows_surgical_rewrite(spark, sf_dir, tmp_path):
    """delete_rows (copy-on-write DELETE): non-overlapping files stay
    byte-identical, overlapping files are rewritten without the slice's
    rows, result complements slice() exactly, the pre-delete pin still
    reads everything, and the whole sequence holds the commit lock."""
    from padawan_spark import (Dataset, delete_rows, list_versions,
                               scan_parquet)
    from padawan_spark.metadata import CommitConflictError, LOCK_FILE
    from padawan_spark.queries.registry import load

    p = str(tmp_path / "del")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    (Dataset(spark, n, index_columns=("n_nationkey",))
     .reindex(("n_nationkey",)).repartition(3).write_parquet(p))
    pre = scan_parquet(spark, p)
    all_keys = {r.n_nationkey for r in pre.df.select("n_nationkey").collect()}
    doomed = {r.n_nationkey
              for r in pre.slice((5,), (15,), inclusive="both")
              .df.select("n_nationkey").collect()}
    pre_files = {f: os.path.getmtime(f) for f in pre._files}
    v_before = list_versions(p)[-1]

    out = delete_rows(spark, p, (5,), (15,), inclusive="both")
    got = {r.n_nationkey for r in out.df.select("n_nationkey").collect()}
    assert got == all_keys - doomed                 # exact complement
    assert list_versions(p)[-1] == v_before + 1     # one new version
    # untouched files survive byte-identical (same path, same mtime)
    untouched = [f for f in out._files if f in pre_files]
    assert untouched, "expected some files to be untouched"
    for f in untouched:
        assert os.path.getmtime(f) == pre_files[f]
    # at least one affected file was rewritten under a new name
    assert any(f not in pre_files for f in out._files)
    # the pre-delete pin still reads every row
    pinned = scan_parquet(spark, p, version=v_before)
    assert pinned.df.count() == len(all_keys)
    # bounds/sizes stay valid on the new manifest
    assert out.known_bounds and out.known_sizes
    assert sum(out.sizes) == len(got)
    # no-op outside the data range: no rewrite, no new version
    v_now = list_versions(p)[-1]
    delete_rows(spark, p, (1000,), (2000,), inclusive="both")
    assert list_versions(p)[-1] == v_now
    # a held commit lock fails the delete loudly
    lock = os.path.join(p, LOCK_FILE)
    with open(lock, "w") as fh:
        fh.write("999 append")
    with pytest.raises(CommitConflictError, match="concurrent delete"):
        delete_rows(spark, p, (0,), (1,), inclusive="both")
    os.unlink(lock)


@pytest.mark.slow
def test_merge_rows_upsert_semantics(spark, tmp_path):
    """merge_rows (copy-on-write MERGE): updates replace rows by index
    key, inserts land, untouched files stay byte-identical, the
    pre-merge pin still reads the old table, the result manifest stays
    bound-disjoint — and duplicate batch keys / mismatched columns
    fail loudly before any write."""
    import pandas as pd

    from padawan_spark import (from_pandas, list_versions, merge_rows,
                               scan_parquet)

    p = str(tmp_path / "mrg")
    pdf = pd.DataFrame({"k": range(40), "v": [i * 10 for i in range(40)]})
    from_pandas(spark, pdf, index_columns=("k",)).repartition(10
                                                              ).write_parquet(p)
    pre = scan_parquet(spark, p)
    pre_files = {f: (os.path.getmtime(f), os.path.getsize(f))
                 for f in pre._files}
    v0 = list_versions(p)[-1]

    bpdf = pd.DataFrame({"k": list(range(12, 18)) + list(range(100, 105)),
                         "v": [999] * 11})
    out = merge_rows(spark, p, from_pandas(spark, bpdf,
                                           index_columns=("k",)))
    got = {r.k: r.v for r in out.df.collect()}
    want = {i: i * 10 for i in range(40)}
    want.update({k: 999 for k in list(range(12, 18))
                 + list(range(100, 105))})
    assert got == want
    assert list_versions(p)[-1] == v0 + 1
    untouched = [f for f in out._files if f in pre_files]
    assert untouched, "some files must survive the merge"
    for f in untouched:
        assert (os.path.getmtime(f), os.path.getsize(f)) == pre_files[f]
    assert any(f not in pre_files for f in out._files)
    # pre-merge pin replays exactly
    assert {r.k: r.v
            for r in scan_parquet(spark, p, version=v0).df.collect()} \
        == {i: i * 10 for i in range(40)}
    out.assert_disjoint()
    assert out.known_bounds and out.known_sizes
    assert sum(out.sizes) == len(want)
    # a second merge composes (k=100 updated again)
    out2 = merge_rows(spark, p, from_pandas(
        spark, pd.DataFrame({"k": [100], "v": [1]}),
        index_columns=("k",)))
    assert {r.v for r in out2.df.where("k = 100").collect()} == {1}
    # duplicate batch keys rejected before any write
    v_now = list_versions(p)[-1]
    with pytest.raises(ValueError, match="duplicate index keys"):
        merge_rows(spark, p, from_pandas(
            spark, pd.DataFrame({"k": [1, 1], "v": [2, 3]}),
            index_columns=("k",)))
    # mismatched columns rejected
    with pytest.raises(ValueError, match="columns"):
        merge_rows(spark, p, from_pandas(
            spark, pd.DataFrame({"k": [1], "other": [2]}),
            index_columns=("k",)))
    assert list_versions(p)[-1] == v_now       # no version from failures
    # empty batch: no-op, no version
    merge_rows(spark, p, Dataset(
        spark, spark.createDataFrame([], "k bigint, v bigint"),
        index_columns=("k",)))
    assert list_versions(p)[-1] == v_now


@pytest.mark.slow
def test_read_changes_cdf(spark, tmp_path):
    """read_changes (row-level CDF): per-commit deltas between manifest
    pins — appends emit pure inserts with no anti-join input, deletes
    emit pure deletes, merges split into update pre/post images plus
    inserts, survivor rows copied verbatim into rewritten files cancel
    out, and bad version ranges fail loudly."""
    import pandas as pd

    from padawan_spark import (delete_rows, from_pandas, list_versions,
                               merge_rows, read_changes)

    p = str(tmp_path / "cdf")
    pdf = pd.DataFrame({"k": range(30), "v": [i * 10 for i in range(30)]})
    from_pandas(spark, pdf, index_columns=("k",)).repartition(6
                                                              ).write_parquet(p)
    # v2: append 30-34
    from_pandas(spark, pd.DataFrame({"k": range(30, 35),
                                     "v": [0] * 5}),
                index_columns=("k",)).write_parquet(p, append=True)
    # v3: delete 5-9
    delete_rows(spark, p, (5,), (9,), inclusive="both")
    # v4: merge — update 12-14, insert 100-101
    merge_rows(spark, p, from_pandas(
        spark, pd.DataFrame({"k": [12, 13, 14, 100, 101], "v": [999] * 5}),
        index_columns=("k",)))
    assert list_versions(p) == [1, 2, 3, 4]

    chg = read_changes(spark, p, 1).collect()
    got = {(r._commit_version, r._change_type, r.k, r.v) for r in chg}
    want = ({(2, "insert", k, 0) for k in range(30, 35)}
            | {(3, "delete", k, k * 10) for k in range(5, 10)}
            | {(4, "update_preimage", k, k * 10) for k in (12, 13, 14)}
            | {(4, "update_postimage", k, 999) for k in (12, 13, 14)}
            | {(4, "insert", k, 999) for k in (100, 101)})
    assert got == want and len(chg) == len(want)   # survivors cancelled

    # sub-range: only the delete commit
    chg3 = read_changes(spark, p, 2, 3).collect()
    assert {(r._change_type, r.k) for r in chg3} \
        == {("delete", k) for k in range(5, 10)}
    # empty range: no commits, empty frame with the CDF schema
    none = read_changes(spark, p, 4)
    assert none.count() == 0
    assert none.columns == ["k", "v", "_commit_version", "_change_type"]
    with pytest.raises(ValueError, match="no snapshot"):
        read_changes(spark, p, 99)
    with pytest.raises(ValueError, match="bad version range"):
        read_changes(spark, p, 3, 2)


@pytest.mark.slow
def test_merge_rows_rewrite_set_is_key_membership(spark, tmp_path):
    """A 2-key batch at opposite table ends must
    rewrite only the 2 files actually containing those keys — the
    rewrite set is per-file key membership, not the batch's min/max
    envelope (which overlaps every file here)."""
    import pandas as pd

    from padawan_spark import from_pandas, merge_rows, scan_parquet

    p = str(tmp_path / "mrgscat")
    pdf = pd.DataFrame({"k": range(100), "v": [i * 10 for i in range(100)]})
    from_pandas(spark, pdf, index_columns=("k",)).repartition(10
                                                              ).write_parquet(p)
    pre = scan_parquet(spark, p)
    assert len(pre._files) == 10
    # keys 3 and 97: first and last file only; envelope [3, 97] overlaps
    # all ten files
    out = merge_rows(spark, p, from_pandas(
        spark, pd.DataFrame({"k": [3, 97], "v": [999, 999]}),
        index_columns=("k",)))
    untouched = set(out._files) & set(pre._files)
    assert len(untouched) == 8, \
        f"expected 8 untouched files, got {len(untouched)}"
    got = {r.k: r.v for r in out.df.collect()}
    want = {i: i * 10 for i in range(100)}
    want.update({3: 999, 97: 999})
    assert got == want
    out.assert_disjoint()
    # scattered keys landing in NO existing file's bounds (pure inserts
    # between/outside file ranges) rewrite nothing when no file contains
    # them: batch keys 200, 300 are beyond every upper bound
    pre2 = scan_parquet(spark, p)
    out2 = merge_rows(spark, p, from_pandas(
        spark, pd.DataFrame({"k": [200, 300], "v": [1, 2]}),
        index_columns=("k",)))
    assert set(pre2._files) <= set(out2._files)
    assert {r.k: r.v for r in out2.df.where("k >= 200").collect()} \
        == {200: 1, 300: 2}
    out2.assert_disjoint()


def _int_keyed_table(spark, path):
    """20 rows with an INT key ``k`` in 4 files of 5 keys each."""
    Dataset(spark, spark.range(20).selectExpr("CAST(id AS INT) AS k",
                                              "CAST(id * 10 AS INT) AS v"),
            index_columns=("k",)).repartition(5).write_parquet(path)


def test_merge_rows_casts_batch_to_table_types(spark, tmp_path):
    """A pandas batch carries int64 keys; merge_rows writes them with the
    table's recorded INT type so the change feed reads every file with
    one schema, and a key that does not fit an INT fails the merge
    without publishing a version or leaving a file behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from padawan_spark import list_versions, merge_rows, read_changes

    p = str(tmp_path / "mrgcast")
    _int_keyed_table(spark, p)
    before = set(scan_parquet(spark, p)._files)
    merge_rows(spark, p, from_pandas(
        spark, pd.DataFrame({"k": [3, 12, 100], "v": [-1, -2, -3]}),
        index_columns=("k",)))
    got = {(r._change_type, r.k, r.v) for r in read_changes(spark, p, 1).collect()}
    assert got == {("update_preimage", 3, 30), ("update_postimage", 3, -1),
                   ("update_preimage", 12, 120), ("update_postimage", 12, -2),
                   ("insert", 100, -3)}
    added = set(scan_parquet(spark, p)._files) - before
    assert added
    assert {pq.read_schema(f).field("k").type for f in added} == {pa.int32()}

    versions = list_versions(p)
    files = set(os.listdir(p))
    # key 7 rewrites a file, 2**40 inserts past the spared files after it
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        merge_rows(spark, p, from_pandas(
            spark, pd.DataFrame({"k": [7, 2 ** 40], "v": [0, 0]}),
            index_columns=("k",)))
    assert list_versions(p) == versions
    assert {f for f in os.listdir(p) if f.endswith(".parquet")} \
        == {f for f in files if f.endswith(".parquet")}


def test_dataset_writers_leave_no_persistent_rdd(spark, tmp_path):
    """Writing, a merge that rewrites a file and inserts past the spared
    ones, a delete and a compaction pin nothing: the session's
    persistent RDD count is unchanged."""
    from padawan_spark import compact_parquet, delete_rows, merge_rows

    jsc = spark.sparkContext._jsc
    pinned = jsc.getPersistentRDDs().size()
    p = str(tmp_path / "nopin")
    _int_keyed_table(spark, p)
    # key 1 rewrites the first file; 100 inserts past the three spared ones
    merge_rows(spark, p, Dataset(
        spark, spark.createDataFrame([(1, 0), (100, 0)], "k int, v int"),
        index_columns=("k",)))
    delete_rows(spark, p, (8,), (11,))
    out = compact_parquet(spark, p, 10)
    assert sorted(r.k for r in out.df.collect()) \
        == [k for k in range(20) if not 8 <= k <= 11] + [100]
    assert jsc.getPersistentRDDs().size() == pinned


def test_merge_rows_jobs_do_not_grow_with_regions(spark, tmp_path,
                                                  count_jobs):
    """merge_rows lays out its rewrite from the manifest's bounds in one
    frame, so a batch touching 1, 3 or 5 regions (gaps between spared
    files) runs the same jobs.  Each affected file is rewritten as one
    file, each region with no affected file that receives keys becomes
    one new file, and the table stays range-disjoint."""
    from padawan_spark import merge_rows

    cases = {  # batch keys, files rewritten, new region files
        1: ([12, 13], 1, 0),
        3: ([4, 45, 101], 2, 1),
        5: ([-1, 19, 44, 79, 101], 1, 4),
    }
    jobs = {}
    for regions, (keys, rewritten, inserted) in cases.items():
        # 5 files of even keys: [0, 18], [20, 38], ..., [80, 98]
        p = str(tmp_path / f"regions{regions}")
        Dataset(spark, spark.range(50).selectExpr(
                    "CAST(id * 2 AS INT) AS k", "CAST(id AS INT) AS v"),
                index_columns=("k",)).repartition(10).write_parquet(p)
        before = set(scan_parquet(spark, p)._files)
        out, jobs[regions] = count_jobs(merge_rows, spark, p,
                                        _kv(spark, keys, v=-1))
        after = set(out._files)
        assert (len(before - after), len(after - before)) \
            == (rewritten, rewritten + inserted), regions
        out.assert_disjoint()
        want = {2 * i: i for i in range(50)} | {k: -1 for k in keys}
        assert {r.k: r.v for r in out.df.collect()} == want
    assert jobs[1] == jobs[3] == jobs[5] <= 6, jobs


def _nan_table(spark, path):
    """Keys 0-3 and two NaN keys of a DOUBLE index in 3 files; the last
    file's bounds are (NaN,) and (NaN,)."""
    rows = [(float(k), k) for k in range(4)] + [(float("nan"), 4),
                                                (float("nan"), 5)]
    Dataset(spark, spark.createDataFrame(rows, "x double, v int"),
            index_columns=("x",)).repartition(2).write_parquet(path)


def test_slice_to_a_nan_bound_keeps_the_nan_rows(spark, tmp_path):
    """Spark orders NaN above every number and equal to NaN, so a slice
    up to NaN inclusive keeps every row, as ``x <= NaN`` does; file
    pruning must not drop the files whose bounds are numbers."""
    p = str(tmp_path / "nanslice")
    _nan_table(spark, p)
    ds = scan_parquet(spark, p)
    assert len(ds._files) == 3
    nan = float("nan")
    for lb, ub, inc, where in [
            (None, (nan,), "both", "x <= double('NaN')"),
            (None, (nan,), "lower", "x < double('NaN')"),
            ((nan,), None, "both", "x >= double('NaN')"),
            ((2.0,), (nan,), "lower", "x >= 2 AND x < double('NaN')")]:
        got = ds.slice(lb, ub, inclusive=inc).df.collect()
        want = ds.df.where(where).collect()
        assert sorted(r.v for r in got) == sorted(r.v for r in want), where


def test_merge_rows_rejects_two_nan_keys(spark, tmp_path):
    """Two NaN keys are one key, as Spark's distinct counts them: a
    batch holding both is rejected before anything is written."""
    from padawan_spark import list_versions, merge_rows

    p = str(tmp_path / "nanmerge")
    _nan_table(spark, p)
    versions = list_versions(p)
    batch = Dataset(spark, spark.createDataFrame(
        [(float("nan"), -1), (float("nan"), -2)], "x double, v int"),
        index_columns=("x",))
    with pytest.raises(ValueError, match=r"duplicate index keys \(2 rows, 1"):
        merge_rows(spark, p, batch)
    assert list_versions(p) == versions
    # one NaN key replaces both NaN rows, in the file bounded by NaN
    out = merge_rows(spark, p, Dataset(spark, spark.createDataFrame(
        [(float("nan"), -1), (1.0, -1)], "x double, v int"),
        index_columns=("x",)))
    assert sorted(r.v for r in out.df.collect()) == [-1, -1, 0, 2, 3]
    out.assert_disjoint()


def test_write_parquet_of_a_footer_pyarrow_cannot_read(spark, tmp_path):
    """pyarrow cannot read the footer of a file with a VARIANT column;
    its stats then come from the job, and the write commits."""
    import pyarrow.parquet as pq

    p = str(tmp_path / "variant")
    out = Dataset(spark, spark.range(10).selectExpr(
        "CAST(id AS INT) AS k", "parse_json('{\"a\": 1}') AS v"),
        index_columns=("k",)).repartition(5).write_parquet(p)
    with pytest.raises(OSError):
        pq.ParquetFile(out._files[0])
    assert (out.sizes, out.lower_bounds, out.upper_bounds) \
        == ([5, 5], [(0,), (5,)], [(4,), (9,)])


def test_describe_history_total_rows_per_version(spark, tmp_path):
    """describe_history reports each snapshot's row count (the manifest
    sizes) as ``total_rows``, after a write, a delete and a merge."""
    from padawan_spark import delete_rows, list_versions, merge_rows
    from padawan_spark.dataset import describe_history

    p = str(tmp_path / "hist")
    _kv(spark, range(20)).repartition(5).write_parquet(p)
    delete_rows(spark, p, (3,), (6,), inclusive="both")
    merge_rows(spark, p, _kv(spark, [8, 100, 101], v=-1))
    got = {r.version: r.total_rows
           for r in describe_history(spark, p).collect()}
    assert got == {v: scan_parquet(spark, p, version=v).df.count()
                   for v in list_versions(p)}
    assert sorted(got.values()) == [16, 18, 20]


def test_read_changes_append_fast_path_and_plan(spark, tmp_path):
    """A pure-append commit takes the fast path: added rows are tagged
    insert directly, so an append-only span plans no Aggregate (the
    signed multiset sum, a needless shuffle of the appended data)."""
    from padawan_spark import from_pandas, read_changes

    p = str(tmp_path / "cdfapp")
    from_pandas(spark, pd.DataFrame({"k": range(10), "v": range(10)}),
                index_columns=("k",)).write_parquet(p)
    from_pandas(spark, pd.DataFrame({"k": range(10, 16), "v": [7] * 6}),
                index_columns=("k",)).write_parquet(p, append=True)
    chg = read_changes(spark, p, 1)
    plan = chg._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, \
        "append-only CDF span must not plan an aggregate shuffle"
    got = {(r._commit_version, r._change_type, r.k, r.v)
           for r in chg.collect()}
    assert got == {(2, "insert", k, 7) for k in range(10, 16)}


def test_read_changes_vacuumed_version_guard(spark, tmp_path):
    """Asking for a change feed from a snapshot that
    vacuum expired fails upfront with a clear 'vacuumed' error, not a
    parquet read error mid-job."""
    from padawan_spark import from_pandas, read_changes
    from padawan_spark.metadata import vacuum

    p = str(tmp_path / "cdfvac")
    from_pandas(spark, pd.DataFrame({"k": range(10), "v": range(10)}),
                index_columns=("k",)).write_parquet(p)
    from_pandas(spark, pd.DataFrame({"k": [10], "v": [1]}),
                index_columns=("k",)).write_parquet(p, append=True)
    from_pandas(spark, pd.DataFrame({"k": [11], "v": [2]}),
                index_columns=("k",)).write_parquet(p, append=True)
    vacuum(p, keep_last=2)
    with pytest.raises(ValueError, match="vacuumed"):
        read_changes(spark, p, 1)
    # the retained span still reads fine
    assert read_changes(spark, p, 2).count() == 1


@pytest.mark.slow
def test_read_changes_null_key_update_classification(spark, tmp_path):
    """A null-keyed row updated by a merge must classify as
    update_preimage/update_postimage — the CDF self-join and the merge
    survivor anti-join both use null-safe key equality, honouring the
    framework's null-first key semantics."""
    from padawan_spark import merge_rows, read_changes

    p = str(tmp_path / "cdfnull")
    df = spark.createDataFrame(
        [(None, 0), (1, 10), (2, 20), (3, 30)], "k bigint, v bigint")
    Dataset(spark, df, index_columns=("k",)).reindex(("k",)).write_parquet(p)
    batch = Dataset(
        spark, spark.createDataFrame([(None, 99), (2, 22)],
                                     "k bigint, v bigint"),
        index_columns=("k",))
    out = merge_rows(spark, p, batch)
    got = {(r.k, r.v) for r in out.df.collect()}
    assert got == {(None, 99), (1, 10), (2, 22), (3, 30)}, \
        "null-keyed batch row must REPLACE the null-keyed table row"
    chg = read_changes(spark, p, 1).collect()
    by_type = {}
    for r in chg:
        by_type.setdefault(r._change_type, set()).add((r.k, r.v))
    assert by_type.get("update_preimage") == {(None, 0), (2, 20)}
    assert by_type.get("update_postimage") == {(None, 99), (2, 22)}
    assert "insert" not in by_type and "delete" not in by_type


@pytest.mark.slow
def test_read_changes_verbatim_survivor_property(spark, tmp_path):
    """The EXCEPT ALL cancellation as a property —
    across randomized merge batches, a rewritten file's byte-identical
    survivor rows must emit NO change rows; the feed is exactly the
    update images plus true inserts, at every commit."""
    import random

    from padawan_spark import from_pandas, merge_rows, read_changes

    rng = random.Random(8)
    p = str(tmp_path / "cdfprop")
    n = 60
    state = {k: k * 10 for k in range(n)}
    from_pandas(spark, pd.DataFrame({"k": list(state),
                                     "v": list(state.values())}),
                index_columns=("k",)).repartition(8).write_parquet(p)
    expected = set()
    for commit in range(3):
        ks = rng.sample(range(n + 20), rng.randint(2, 7))
        batch = {k: 1000 * (commit + 1) + k for k in ks}
        merge_rows(spark, p, from_pandas(
            spark, pd.DataFrame({"k": list(batch),
                                 "v": list(batch.values())}),
            index_columns=("k",)))
        v = commit + 2
        for k, nv in batch.items():
            if k in state:
                expected.add((v, "update_preimage", k, state[k]))
                expected.add((v, "update_postimage", k, nv))
            else:
                expected.add((v, "insert", k, nv))
        state.update(batch)
    got = {(r._commit_version, r._change_type, r.k, r.v)
           for r in read_changes(spark, p, 1).collect()}
    assert got == expected, "survivor rows leaked into the change feed"


@pytest.mark.slow
def test_streaming_mv_restart_exactly_once(spark, tmp_path):
    """Kill the streaming-MV query and restart
    from its checkpoint — the CDF source's version offsets must make
    the fold exactly-once across the restart: deltas applied before the
    stop are not re-applied, deltas committed while the stream was down
    are picked up, and the final MV equals the direct aggregate."""
    from padawan_spark import (delete_rows, from_pandas, merge_rows,
                               scan_parquet)
    from padawan_spark.dataset import fold_changes_into_aggregate
    from padawan_spark.sources import register_python_sources

    register_python_sources(spark)
    base = tmp_path / "smvrestart"
    source, mv, ckpt = str(base / "src"), str(base / "mv"), str(base / "ck")
    from_pandas(spark, pd.DataFrame(
        {"k": range(40), "g": [i % 4 for i in range(40)]}),
        index_columns=("k",)).repartition(4).write_parquet(source)
    delete_rows(spark, source, (0,), (7,), inclusive="both")      # v2

    def fold(batch_df, batch_id):
        fold_changes_into_aggregate(batch_df.sparkSession, mv,
                                    batch_df, keys=("g",),
                                    sum_cols=("k",))

    def run_once():
        src = (spark.readStream.format("padawan_cdf")
               .option("path", source).load())
        q = (src.writeStream.foreachBatch(fold)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()                                   # consumes v1..v2
    mv1 = {r["g"]: (r["cnt"], r["sum_k"])
           for r in scan_parquet(spark, mv).df.collect()}
    src_now = scan_parquet(spark, source).df
    want1 = {r["g"]: (r["cnt"], r["sum_k"]) for r in
             src_now.groupBy("g").agg(
                 F.count(F.lit(1)).alias("cnt"),
                 F.sum("k").alias("sum_k")).collect()}
    assert mv1 == want1
    # while the stream is DOWN: a merge moving keys across groups plus
    # fresh inserts (v3)
    merge_rows(spark, source, from_pandas(
        spark, pd.DataFrame({"k": [10, 11, 100, 101],
                             "g": [9, 9, 1, 2]}),
        index_columns=("k",)))
    run_once()                                   # restart from ckpt
    got = {r["g"]: (r["cnt"], r["sum_k"])
           for r in scan_parquet(spark, mv).df
           .where(F.col("cnt") > 0).collect()}
    want = {r["g"]: (r["cnt"], r["sum_k"]) for r in
            scan_parquet(spark, source).df.groupBy("g").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("k").alias("sum_k")).collect()}
    assert got == want, (
        "restart double-applied or dropped deltas: "
        f"{got} != {want}")
    # a THIRD run with no new commits must be a no-op (no double fold)
    run_once()
    again = {r["g"]: (r["cnt"], r["sum_k"])
             for r in scan_parquet(spark, mv).df
             .where(F.col("cnt") > 0).collect()}
    assert again == want


@pytest.mark.slow
def test_read_changes_long_history_fold_and_plan_depth(spark, tmp_path):
    """A 20-commit mixed history (appends / deletes / merges) replays
    correctly: the full-span feed equals the concatenation of the
    per-commit feeds AND reconstructs the final state from the initial
    snapshot.  The plan does not grow with the span (an 8-commit span
    and the 20-commit span have the same operators), and reading the
    feed pins no RDD."""
    import collections
    import random
    import re

    from padawan_spark import (delete_rows, from_pandas, list_versions,
                               merge_rows, read_changes, scan_parquet)

    rng = random.Random(9)
    p = str(tmp_path / "cdflong")
    state = {k: k * 10 for k in range(40)}
    from_pandas(spark, pd.DataFrame({"k": list(state),
                                     "v": list(state.values())}),
                index_columns=("k",)).repartition(4).write_parquet(p)
    next_key = 40
    for commit in range(20):
        kind = ("append", "delete", "merge")[commit % 3]
        if kind == "append":
            ks = list(range(next_key, next_key + rng.randint(1, 4)))
            next_key = ks[-1] + 1
            from_pandas(spark, pd.DataFrame(
                {"k": ks, "v": [commit] * len(ks)}),
                index_columns=("k",)).write_parquet(p, append=True)
            state.update({k: commit for k in ks})
        elif kind == "delete" and state:
            lo = rng.choice(sorted(state))
            hi = lo + rng.randint(0, 3)
            delete_rows(spark, p, (lo,), (hi,), inclusive="both")
            state = {k: v for k, v in state.items() if not lo <= k <= hi}
        else:
            ks = rng.sample(sorted(state), min(3, len(state))) + \
                [next_key]
            next_key += 1
            batch = {k: 5000 + commit * 10 + i for i, k in enumerate(ks)}
            merge_rows(spark, p, from_pandas(
                spark, pd.DataFrame({"k": list(batch),
                                     "v": list(batch.values())}),
                index_columns=("k",)))
            state.update(batch)
    versions = list_versions(p)
    assert len(versions) == 21
    jsc = spark.sparkContext._jsc
    pinned = jsc.getPersistentRDDs().size()
    full = read_changes(spark, p, versions[0])

    def _operators(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return collections.Counter(
            re.findall(r"^[\s:+\-]*(\w+)", plan, re.MULTILINE))
    assert _operators(read_changes(spark, p, versions[0], versions[8])) \
        == _operators(full)
    rows = full.collect()
    assert jsc.getPersistentRDDs().size() == pinned
    # (a) full span == concatenation of per-commit spans
    per_commit = []
    for v0, v1 in zip(versions, versions[1:]):
        per_commit.extend(read_changes(spark, p, v0, v1).collect())
    key = ("_commit_version", "_change_type", "k", "v")

    def _ms(rs):
        out: dict = {}
        for r in rs:
            t = tuple(r[c] for c in key)
            out[t] = out.get(t, 0) + 1
        return out
    assert _ms(rows) == _ms(per_commit)
    # (b) folding the feed into the initial snapshot rebuilds the final
    # state exactly
    replayed = {r.k: r.v
                for r in scan_parquet(spark, p, version=versions[0])
                .df.collect()}
    for r in sorted(rows, key=lambda r: r["_commit_version"]):
        if r["_change_type"] in ("insert", "update_postimage"):
            replayed[r.k] = r.v
        elif r["_change_type"] in ("delete", "update_preimage"):
            if replayed.get(r.k) == r.v:
                del replayed[r.k]
    assert replayed == state
    current = {r.k: r.v for r in scan_parquet(spark, p).df.collect()}
    assert current == state


@pytest.mark.slow
def test_cdf_stream_source_startingversion_and_vacuum_guard(spark, tmp_path):
    """The padawan_cdf stream source honors startingVersion (skips
    the initial-load inserts), classifies a merge's updates, and fails
    loudly when vacuum expired a snapshot inside the un-streamed span."""
    import uuid

    from padawan_spark import delete_rows, from_pandas, merge_rows
    from padawan_spark.metadata import vacuum
    from padawan_spark.sources import register_python_sources

    register_python_sources(spark)
    p = str(tmp_path / "cdfsrc")
    from_pandas(spark, pd.DataFrame({"k": range(20), "v": range(20)}),
                index_columns=("k",)).repartition(4).write_parquet(p)
    delete_rows(spark, p, (3,), (5,), inclusive="both")          # v2
    merge_rows(spark, p, from_pandas(                            # v3
        spark, pd.DataFrame({"k": [10, 50], "v": [999, 1]}),
        index_columns=("k",)))

    def run(start):
        name = "mem_" + uuid.uuid4().hex[:8]
        src = (spark.readStream.format("padawan_cdf").option("path", p)
               .option("startingVersion", str(start)).load())
        q = (src.groupBy("_commit_version", "_change_type")
             .agg(F.count(F.lit(1)).alias("n"))
             .writeStream.format("memory").queryName(name)
             .outputMode("complete").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {(r[0], r[1]): r[2] for r in spark.table(name).collect()}

    # startingVersion=1 skips the 20 initial inserts
    got = run(1)
    assert got == {(2, "delete"): 3,
                   (3, "update_preimage"): 1,
                   (3, "update_postimage"): 1,
                   (3, "insert"): 1}, got
    # full history includes the per-file-parallel initial load
    assert run(0)[(1, "insert")] == 20
    # vacuum expiring a mid-span snapshot breaks the feed loudly
    vacuum(p, keep_last=1)
    import pytest as _pytest
    with _pytest.raises(Exception, match="vacuum|no longer exists"):
        run(0)


@pytest.mark.slow
def test_schema_evolution_lifecycle(spark, tmp_path):
    """merge_schema appends ADD columns — pre-evolution files
    surface them as nulls, appends with MISSING columns backfill nulls,
    snapshots pin their era's schema, strict mode rejects drift, and
    type conflicts always fail."""
    from padawan_spark import AppendError, from_pandas, scan_parquet

    p = str(tmp_path / "evolve")
    from_pandas(spark, pd.DataFrame({"k": range(10), "v": range(10)}),
                index_columns=("k",)).write_parquet(p)
    # strict default: extra column rejected loudly
    extra = from_pandas(spark, pd.DataFrame(
        {"k": [100], "v": [1], "w": ["x"]}), index_columns=("k",))
    with pytest.raises(AppendError, match="merge_schema"):
        extra.write_parquet(p, append=True)
    # evolve: add column w
    extra.write_parquet(p, append=True, merge_schema=True)
    cur = scan_parquet(spark, p).df
    assert set(cur.columns) == {"k", "v", "w"}
    got = {r.k: r.w for r in cur.collect()}
    assert got[100] == "x" and all(got[k] is None for k in range(10))
    # a slice pruned to pre-evolution files keeps the recorded schema
    assert "w" in scan_parquet(spark, p).slice((0,), (5,)).df.columns
    # a bloom index over the added column reads every file with it
    from padawan_spark import build_bloom_index, scan_point_lookup
    build_bloom_index(spark, p, "w")
    assert [r.k for r in scan_point_lookup(spark, p, "w", "x").collect()] \
        == [100]
    # append missing the evolved column: nulls backfill on read
    from_pandas(spark, pd.DataFrame({"k": [200], "v": [2]}),
                index_columns=("k",)).write_parquet(p, append=True,
                                                    merge_schema=True)
    assert scan_parquet(spark, p).df.where("k = 200").collect()[0].w is None
    # snapshots pin their era's schema
    assert set(scan_parquet(spark, p, version=1).df.columns) == {"k", "v"}
    assert set(scan_parquet(spark, p, version=2).df.columns) == {"k", "v",
                                                                 "w"}
    # type conflict rejected even with merge_schema
    with pytest.raises(AppendError, match="type"):
        from_pandas(spark, pd.DataFrame({"k": [1], "v": ["str"]}),
                    index_columns=("k",)).write_parquet(
            p, append=True, merge_schema=True)
    # lakehouse write paths survive evolution: delete + merge + CDF
    from padawan_spark import delete_rows, merge_rows, read_changes
    delete_rows(spark, p, (3,), (4,), inclusive="both")
    merge_rows(spark, p, from_pandas(
        spark, pd.DataFrame({"k": [5, 300], "v": [55, 3],
                             "w": ["upd", "new"]}),
        index_columns=("k",)))
    rows = {r.k: (r.v, r.w) for r in scan_parquet(spark, p).df.collect()}
    assert rows[5] == (55, "upd") and rows[300] == (3, "new")
    assert 3 not in rows and 4 not in rows
    chg = read_changes(spark, p, 3)      # the delete + merge commits
    types = {(r._change_type, r.k) for r in chg.collect()}
    assert ("delete", 3) in types and ("update_postimage", 5) in types \
        and ("insert", 300) in types


def test_scan_parquet_as_of_timestamp(spark, tmp_path):
    """as_of= resolves to the newest snapshot committed at or
    before the instant; earlier than every commit fails loudly."""
    import os as _os

    from padawan_spark import from_pandas, scan_parquet
    from padawan_spark.metadata import _versions_dir

    p = str(tmp_path / "asof")
    from_pandas(spark, pd.DataFrame({"k": [1]}),
                index_columns=("k",)).write_parquet(p)
    from_pandas(spark, pd.DataFrame({"k": [2]}),
                index_columns=("k",)).write_parquet(p, append=True)
    vdir = _versions_dir(p)
    _os.utime(_os.path.join(vdir, "v1.json"), (1_000_000,) * 2)
    _os.utime(_os.path.join(vdir, "v2.json"), (2_000_000,) * 2)
    assert scan_parquet(spark, p, as_of=1_500_000).df.count() == 1
    assert scan_parquet(spark, p, as_of=2_000_000).df.count() == 2
    import datetime as dt2
    assert scan_parquet(spark, p, as_of=dt2.datetime.fromtimestamp(
        1_000_000)).df.count() == 1
    with pytest.raises(ValueError, match="no snapshot"):
        scan_parquet(spark, p, as_of=999_999)
    with pytest.raises(ValueError, match="not both"):
        scan_parquet(spark, p, version=1, as_of=1_500_000)


# ---------------------------------------------------------------------------
# refresh_aggregate — incremental materialized-view maintenance
# ---------------------------------------------------------------------------


def _iva_source(spark, tmp_path, rows):
    from padawan_spark.dataset import Dataset
    src = str(tmp_path / "iva_src")
    Dataset(spark, spark.createDataFrame(rows, "k bigint, g bigint"),
            index_columns=("k",)).repartition(3).write_parquet(src)
    return src


@pytest.mark.slow
def test_refresh_aggregate_incremental_matches_full(spark, tmp_path):
    from padawan_spark.dataset import (Dataset, delete_rows, merge_rows,
                                       refresh_aggregate, scan_parquet)
    rows = [(k, k % 4) for k in range(40)]
    src = _iva_source(spark, tmp_path, rows)
    mv = str(tmp_path / "iva_mv")
    refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    v_after_full = 1

    delete_rows(spark, src, (10,), (19,), inclusive="both")
    merge_rows(spark, src, Dataset(
        spark,
        spark.createDataFrame([(k, (k + 1) % 4) for k in range(5)]
                              + [(100 + k, 2) for k in range(3)],
                              "k bigint, g bigint"),
        index_columns=("k",)))
    out = refresh_aggregate(spark, src, mv, keys=("g",),
                            sum_cols=("k",)).df
    # ground truth: full aggregate of the live source
    truth = {(r["g"], r["cnt"], r["sum_k"]) for r in
             scan_parquet(spark, src).df.groupBy("g")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"),
                  F.sum("k").alias("sum_k")).collect()}
    got = {(r["g"], r["cnt"], r["sum_k"]) for r in
           out.where("cnt > 0").collect()}
    assert got == truth
    # the incremental path merged (target advanced past the full write)
    from padawan_spark import metadata as m
    assert m.list_versions(mv)[-1] > v_after_full
    # idempotent when source is unchanged: no new MV commit
    before = m.list_versions(mv)[-1]
    refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    assert m.list_versions(mv)[-1] == before


@pytest.mark.slow
def test_refresh_aggregate_zero_count_groups_retained(spark, tmp_path):
    from padawan_spark.dataset import delete_rows, refresh_aggregate
    rows = [(1, 7), (2, 7), (3, 8)]
    src = _iva_source(spark, tmp_path, rows)
    mv = str(tmp_path / "iva_mv0")
    refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    delete_rows(spark, src, (1,), (2,), inclusive="both")   # empties g=7
    out = refresh_aggregate(spark, src, mv, keys=("g",),
                            sum_cols=("k",)).df
    zeros = {r["g"] for r in out.where("cnt = 0").collect()}
    live = {(r["g"], r["cnt"], r["sum_k"])
            for r in out.where("cnt > 0").collect()}
    assert zeros == {7}
    assert live == {(8, 1, 3)}


@pytest.mark.slow
def test_refresh_aggregate_detects_divergence_and_recomputes(
        spark, tmp_path):
    import os
    from padawan_spark.dataset import (Dataset, delete_rows, merge_rows,
                                       refresh_aggregate)
    rows = [(k, k % 3) for k in range(12)]
    src = _iva_source(spark, tmp_path, rows)
    mv = str(tmp_path / "iva_mvd")
    refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    # out-of-band writer corrupts the MV (bumps its version)
    merge_rows(spark, mv, Dataset(
        spark, spark.createDataFrame([(99, 1, 1)],
                                     "g bigint, cnt bigint, sum_k bigint"),
        index_columns=("g",)))
    delete_rows(spark, src, (0,), (5,), inclusive="both")
    out = refresh_aggregate(spark, src, mv, keys=("g",),
                            sum_cols=("k",)).df
    got = {(r["g"], r["cnt"], r["sum_k"])
           for r in out.where("cnt > 0").collect()}
    # full recompute wiped the poison row AND applied the delete
    assert got == {(0, 2, 15), (1, 2, 17), (2, 2, 19)}
    # missing state file => full recompute, not a crash
    os.remove(os.path.join(mv, "_refresh_state.json"))
    out2 = refresh_aggregate(spark, src, mv, keys=("g",),
                             sum_cols=("k",)).df
    assert {(r["g"], r["cnt"], r["sum_k"])
            for r in out2.where("cnt > 0").collect()} == got


def test_refresh_aggregate_after_compaction_publishes_no_version(
        spark, tmp_path):
    """A compaction's change feed nets to zero, so the refresh folds an
    empty batch: it publishes no MV version and still records that the
    MV has caught up with the compacted source version."""
    import json

    from padawan_spark import compact_parquet, list_versions
    from padawan_spark.dataset import refresh_aggregate

    src = _iva_source(spark, tmp_path, [(k, k % 3) for k in range(12)])
    mv = str(tmp_path / "iva_mvc")
    refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    mv_versions = list_versions(mv)
    compact_parquet(spark, src, 100)
    out = refresh_aggregate(spark, src, mv, keys=("g",), sum_cols=("k",))
    assert list_versions(mv) == mv_versions
    with open(os.path.join(mv, "_refresh_state.json")) as fh:
        assert json.load(fh)["source_version"] == list_versions(src)[-1]
    assert {(r["g"], r["cnt"], r["sum_k"]) for r in out.df.collect()} \
        == {(0, 4, 18), (1, 4, 22), (2, 4, 26)}


# ---------------------------------------------------------------------------
# per-file bloom index / point lookup
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_bloom_index_no_false_negatives_and_prunes(spark, tmp_path):
    from padawan_spark.dataset import (Dataset, build_bloom_index,
                                       scan_parquet, scan_point_lookup)
    t = str(tmp_path / "bl")
    # cluster the probe column so its values are file-local (the case a
    # bloom index exists for); repartition(N) = N rows per file here
    df = spark.range(6000).select(
        F.col("id").alias("k"), (F.col("id") / 100).cast("bigint")
        .alias("cust"),
        F.concat(F.lit("u_"), (F.col("id") / 200).cast("bigint"))
        .alias("user"))
    Dataset(spark, df, index_columns=("k",)).repartition(300) \
        .write_parquet(t)
    sc = build_bloom_index(spark, t, "cust")
    n_files = len(
        __import__("padawan_spark.metadata", fromlist=["m"])
        .load_manifest(t).files)
    truth_df = scan_parquet(spark, t).df
    # every present value is found (false negatives impossible)
    for v in range(0, 60, 7):
        got = scan_point_lookup(spark, t, "cust", v).count()
        want = truth_df.where(F.col("cust") == v).count()
        assert got == want, (v, got, want)
    # and the probe read far fewer files than the table holds
    hit = scan_point_lookup(spark, t, "cust", 42)
    assert 0 < len(hit.inputFiles()) <= 2, (
        len(hit.inputFiles()), n_files)
    assert n_files == 20
    # absent value: zero rows (bloom may or may not prune to zero files)
    assert scan_point_lookup(spark, t, "cust", 99999).count() == 0
    # string column probes work through the same sidecar machinery
    build_bloom_index(spark, t, "user")
    s = scan_point_lookup(spark, t, "user", "u_7")
    assert s.count() == truth_df.where("user = 'u_7'").count()
    assert len(s.inputFiles()) < n_files
    assert sc["version"] == 1


def test_bloom_index_stale_fallback_and_rebuild(spark, tmp_path):
    from padawan_spark.dataset import (Dataset, build_bloom_index,
                                       delete_rows, scan_parquet,
                                       scan_point_lookup)
    t = str(tmp_path / "bls")
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") / 100).cast("bigint")
        .alias("cust"))
    Dataset(spark, df, index_columns=("k",)).repartition(100) \
        .write_parquet(t)
    build_bloom_index(spark, t, "cust")
    delete_rows(spark, t, (100,), (400,), inclusive="both")
    # sidecar is stale (v1 != v2): lookup falls back to a correct scan
    got = scan_point_lookup(spark, t, "cust", 7).count()
    want = scan_parquet(spark, t).df.where("cust = 7").count()
    assert got == want
    # rebuild re-arms pruning at the new version
    sc = build_bloom_index(spark, t, "cust")
    assert sc["version"] == 2
    hit = scan_point_lookup(spark, t, "cust", 7)
    assert hit.count() == want
    man_files = __import__("padawan_spark.metadata", fromlist=["m"]) \
        .load_manifest(t).files
    assert len(hit.inputFiles()) < len(man_files)


def test_bloom_index_rejects_index_columns(spark, tmp_path):
    import pytest
    from padawan_spark.dataset import Dataset, build_bloom_index
    t = str(tmp_path / "blx")
    Dataset(spark, spark.range(10).selectExpr("id as k", "id as v"),
            index_columns=("k",)).write_parquet(t)
    with pytest.raises(ValueError, match="index column"):
        build_bloom_index(spark, t, "k")


@pytest.mark.slow
def test_tail_stream_max_versions_per_trigger(spark, tmp_path):
    """maxVersionsPerTrigger bounds every batch after the first —
    a live 2-commit backlog drains as two batches, and without the
    option the same backlog is one batch."""
    import os
    from padawan_spark.dataset import Dataset
    from padawan_spark.sources import register_python_sources
    register_python_sources(spark)
    n = spark.range(30).selectExpr("id as k")

    def run(with_cap: bool):
        base = str(tmp_path / f"rt_{with_cap}")
        t = os.path.join(base, "t")

        def commit(lo, hi):
            Dataset(spark, n.where(f"k >= {lo} and k < {hi}"),
                    index_columns=("k",)).reindex(("k",)) \
                .write_parquet(t, append=os.path.isdir(t))

        commit(0, 10)
        counts = []
        rd = (spark.readStream.format("padawan_tail")
              .schema("k bigint").option("path", t))
        if with_cap:
            rd = rd.option("maxVersionsPerTrigger", "1")
        q = (rd.load().writeStream
             .foreachBatch(lambda df, i: counts.append(df.count()))
             .option("checkpointLocation", os.path.join(base, "ck"))
             .start())
        try:
            q.processAllAvailable()
            commit(10, 20)
            commit(20, 30)
            q.processAllAvailable()
        finally:
            q.stop()
        return [c for c in counts if c]

    assert run(True) == [10, 10, 10]       # backlog split per version
    # uncapped: still loss-free, but batch boundaries race the polling
    # trigger (the backlog may land as one 20-row batch or two) — only
    # the capped run has deterministic boundaries
    assert sum(run(False)) == 30


def test_driver_built_tables_plan_as_local_relations(spark, tmp_path):
    """The tables the Dataset layer builds on the driver (file tags,
    probe intervals, empty frames) are Arrow local relations: each plans
    as ``LocalTableScan``, never as a parallelized RDD of pickled rows
    (``Scan ExistingRDD``), which runs a Python worker."""
    from padawan_spark import read_changes
    from padawan_spark.dataset import _read_tagged, _within

    p = str(tmp_path / "local")
    _kv(spark, range(10)).repartition(2).write_parquet(p)
    ds = scan_parquet(spark, p)
    frames = {
        "_read_tagged": _read_tagged(
            spark, [(os.path.abspath(f), i) for i, f in enumerate(ds._files)],
            "__t int", ds.df.schema),
        "_within": _within(spark.range(10).selectExpr("id AS k"), ("k",),
                           [(0, None, False, (3,), False),
                            (1, (3,), True, None, False)]),
        "empty Dataset": Dataset(spark, files=[], schema=ds.df.schema).df,
        "empty read_changes": read_changes(spark, p, 1, 1),
    }
    for name, df in frames.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, \
            (name, plan)


def test_local_df_matches_create_dataframe_list(spark, la_time):
    """``_local_df`` gives the values ``createDataFrame`` of a list gives,
    for every index type the manifest codec round-trips, NULLs included;
    values pass through the codec first, as merge_rows' probe bounds do.
    A naive timestamp is local time in both (Python's zone differs from
    UTC here), and the JVM renders both frames alike in the session
    zone."""
    import decimal
    import json

    from padawan_spark import metadata as meta
    from padawan_spark.dataset import _local_df

    values = {
        "int": 7, "bigint": 2 ** 40, "string": "a b",
        "date": dt.date(2022, 3, 13),
        "timestamp": dt.datetime(2022, 3, 13, 1, 30, 0, 5),
        "timestamp_ntz": dt.datetime(2022, 3, 13, 2, 30),
        "decimal(18,2)": decimal.Decimal("-12.34"),
        "double": 1.5, "boolean": True,
    }
    for ddl, v in values.items():
        rows = [(json.loads(json.dumps(meta._encode_value(v))), 0),
                (None, 1)]
        rows = [(meta._decode_value(x), i) for x, i in rows]
        assert rows[0][0] == v, ddl
        schema = f"c {ddl}, i int"
        got, want = (_local_df(spark, rows, schema),
                     spark.createDataFrame(rows, schema))
        assert got.schema == want.schema, ddl
        assert got.orderBy("i").collect() == want.orderBy("i").collect(), ddl
        as_text = "CAST(c AS STRING) AS c", "i"
        assert (got.selectExpr(*as_text).orderBy("i").collect()
                == want.selectExpr(*as_text).orderBy("i").collect()), ddl
    aware = [(dt.datetime(2022, 1, 1, 12, tzinfo=dt.timezone.utc),)]
    assert (_local_df(spark, aware, "c timestamp").collect()
            == spark.createDataFrame(aware, "c timestamp").collect())


def test_merge_rows_at_a_timestamp_file_bound(spark, tmp_path, la_time):
    """A timestamp-indexed table: merge_rows probes the manifest's bounds
    (naive local datetimes) as the same instants the table holds, so a
    batch key equal to a file's lower bound updates that row in place."""
    from padawan_spark import merge_rows

    p = str(tmp_path / "tsmerge")
    hours = "timestamp_seconds(1641024000 + id * 3600)"   # 2022-01-01 UTC
    Dataset(spark, spark.range(20).selectExpr(f"{hours} AS t",
                                              "CAST(id AS INT) AS v"),
            index_columns=("t",)).repartition(4).write_parquet(p)
    before = scan_parquet(spark, p)
    key = before.lower_bounds[2][0]
    want = {r.t: r.v for r in before.df.collect()} | {key: -1}
    out = merge_rows(spark, p, Dataset(spark, spark.createDataFrame(
        [(key, -1)], "t timestamp, v int"), index_columns=("t",)))
    out.assert_disjoint()
    assert out.df.count() == 20
    assert {r.t: r.v for r in out.df.collect()} == want
    assert len(set(before._files) - set(out._files)) == 1


def test_merge_rows_keys_in_a_repeated_dst_hour(spark, tmp_path, la_time):
    """Los Angeles repeats 01:00-02:00 on 2022-11-06.  Two batch keys at
    01:30 PDT and 01:30 PST are two instants (Python tells them apart by
    ``fold``): merge_rows accepts them as distinct keys and replaces the
    two rows they name."""
    from padawan_spark import merge_rows

    p = str(tmp_path / "dst")
    quarters = "timestamp_seconds(1667721600 + id * 900)"  # 01:00 PDT on
    Dataset(spark, spark.range(12).selectExpr(f"{quarters} AS t",
                                              "CAST(id AS INT) AS v"),
            index_columns=("t",)).repartition(3).write_parquet(p)
    batch = spark.range(2).selectExpr(
        "timestamp_seconds(1667723400 + id * 3600) AS t", "-1 AS v")
    assert [r.t.fold for r in batch.collect()] == [0, 1]
    out = merge_rows(spark, p, Dataset(spark, batch, index_columns=("t",)))
    got = {(r.t.isoformat(), r.t.fold): r.v for r in out.df.collect()}
    assert len(got) == 12
    assert got[("2022-11-06T01:30:00", 0)] == got[("2022-11-06T01:30:00", 1)] \
        == -1
    assert sorted(got.values()) == [-1, -1] + [0, 1, 3, 4, 5, 7, 8, 9, 10, 11]


def test_slice_delete_and_pruned_scan_in_a_repeated_dst_hour(
        spark, tmp_path, la_time):
    """One file holds 01:00-01:45 PDT and one 01:00-01:45 PST (Los
    Angeles repeats 01:00-02:00 on 2022-11-06), so both files span the
    same wall times and differ only by ``fold``.  A slice from 01:50 PDT
    keeps the PST file and its 4 rows, delete_rows over that range
    removes them, and the pruned scan plans the files and bounds (fold
    included) the plain scan's slice does."""
    from padawan_spark import delete_rows, scan_parquet_pruned

    p = str(tmp_path / "dst_slice")
    quarters = "timestamp_seconds(1667721600 + id * 900)"  # 01:00 PDT on
    Dataset(spark, spark.range(8).selectExpr(f"{quarters} AS t",
                                             "CAST(id AS INT) AS v"),
            index_columns=("t",)).repartition(4).write_parquet(
                p, manifest_table=True)
    lb = (dt.datetime(2022, 11, 6, 1, 50),)
    full = scan_parquet(spark, p)
    assert len(full._files) == 2
    got = full.slice(lb, None, "both")
    assert sorted(r.v for r in got.df.collect()) == [4, 5, 6, 7]

    def folded(bounds):
        return [tuple((v.isoformat(), v.fold) for v in b) for b in bounds]

    assert folded(full.upper_bounds) == [(("2022-11-06T01:45:00", 0),),
                                         (("2022-11-06T01:45:00", 1),)]
    pruned = scan_parquet_pruned(spark, p, lb, None, "both")
    assert pruned._files == got._files
    assert folded(pruned.lower_bounds) == folded(got.lower_bounds)
    assert folded(pruned.upper_bounds) == folded(got.upper_bounds)
    out = delete_rows(spark, p, lb, None, "both")
    assert sorted(r.v for r in out.df.collect()) == [0, 1, 2, 3]


def test_dataset_call_job_budgets(spark, tmp_path, count_jobs):
    """Upper bounds on the Spark jobs each Dataset call runs on a tiny
    table (a lazy call is counted with the action that reads it), so a
    job regression fails like a wrong result.  The manifest table is
    written and pruned on the driver and adds none; every commit here
    reads its new files' stats from their footers, and so does the
    reindex of the table by its other column, which runs no job."""
    from padawan_spark import (compact_parquet, delete_rows, merge_rows,
                               read_changes, scan_parquet_pruned)

    p = str(tmp_path / "budget")
    src = Dataset(spark, spark.range(40).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS INT) AS v"), index_columns=("k",))
    calls = {
        "write_parquet": lambda: src.repartition(10).write_parquet(
            p, manifest_table=True),
        "merge_rows": lambda: merge_rows(spark, p, _kv(spark, [3, 100])),
        "delete_rows": lambda: delete_rows(spark, p, (8,), (12,)),
        "compact_parquet": lambda: compact_parquet(spark, p, 20),
        "collate": lambda: scan_parquet(spark, p).collate(20).df.collect(),
        "read_changes": lambda: read_changes(spark, p, 1).collect(),
        "scan_parquet_pruned": lambda: scan_parquet_pruned(
            spark, p, (5,), (20,)),
        "reindex": lambda: scan_parquet(spark, p).reindex(("v",)),
    }
    budget = {"write_parquet": 5, "merge_rows": 7, "delete_rows": 1,
              "compact_parquet": 3, "collate": 3, "read_changes": 4,
              "scan_parquet_pruned": 0, "reindex": 0}
    jobs = {name: count_jobs(fn)[1] for name, fn in calls.items()}
    assert all(jobs[name] <= budget[name] for name in calls), jobs


def test_manifest_table_is_one_file_published_by_rename(spark, tmp_path,
                                                        monkeypatch):
    """After two commits the manifest table directory holds one parquet
    file of (pos int, file string, size bigint, lb_0, ub_0) rows, the
    bounds typed like the index column, with the index columns in the
    file's key-value metadata; the part files, ``_SUCCESS`` and ``.crc``
    files of a table Spark wrote are gone.  A write that fails midway
    leaves the published table readable."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from padawan_spark import delete_rows
    from padawan_spark import metadata as meta

    p = str(tmp_path / "mtab1")
    tdir = meta.manifest_table_path(p)
    _kv(spark, range(20)).repartition(4).write_parquet(p)
    # the layout a Spark-written table left behind
    spark.range(3).selectExpr("CAST(id AS INT) AS pos").write.parquet(tdir)
    assert any(f.startswith("part-") for f in os.listdir(tdir))
    _kv(spark, range(20, 25)).write_parquet(p, append=True)
    delete_rows(spark, p, (3,), (6,))
    assert os.listdir(tdir) == [meta.MANIFEST_TABLE_FILE]
    schema = pq.read_schema(os.path.join(tdir, meta.MANIFEST_TABLE_FILE))
    assert schema.remove_metadata() == pa.schema([
        ("pos", pa.int32()), ("file", pa.string()), ("size", pa.int64()),
        ("lb_0", pa.int64()), ("ub_0", pa.int64())])
    assert json.loads(schema.metadata[b"padawan.manifest"])[
        "index_columns"] == ["k"]
    assert not [f for f in os.listdir(p) if f.endswith("_meta.json")]
    published = meta.load_manifest(p)
    assert meta.read_manifest_table(p) == published

    def torn(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="disk full"):
        meta.write_manifest_table(p, meta.Manifest(
            index_columns=("k",), files=["x.parquet"]))
    assert meta.read_manifest_table(p) == published


def test_pruned_scan_reads_and_rewrites_a_string_bound_manifest_table(
        spark, tmp_path):
    """A manifest table in the layout older versions wrote — bounds as
    tagged-JSON strings, the index columns in a JSON meta file beside
    the table — is pruned as ``scan_parquet(p).slice(...)``, and the
    next commit rewrites it typed and removes the meta file."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from padawan_spark import metadata as meta
    from padawan_spark import scan_parquet_pruned

    p = str(tmp_path / "oldmt")
    _kv(spark, range(30)).repartition(6).write_parquet(p)
    man = meta.load_manifest(p)
    n = len(man.files)
    os.makedirs(meta.manifest_table_path(p))
    pq.write_table(pa.table({
        "pos": pa.array(range(n), pa.int32()),
        "file": man.files,
        "size": pa.array(man.sizes, pa.int64()),
        "lb": [json.dumps(b) for b in meta.encode_bounds(man.lower_bounds)],
        "ub": [json.dumps(b) for b in meta.encode_bounds(man.upper_bounds)],
    }), os.path.join(meta.manifest_table_path(p), meta.MANIFEST_TABLE_FILE))
    meta_file = meta.manifest_table_path(p) + "_meta.json"
    with open(meta_file, "w") as f:
        json.dump({"index_columns": ["k"],
                   "max_partition_index": man.max_partition_index}, f)

    def same_as_slice(lb, ub, inc):
        want = scan_parquet(spark, p).slice(lb, ub, inclusive=inc)
        got = scan_parquet_pruned(spark, p, lb, ub, inclusive=inc)
        assert (got._files, got._sizes, got._lower_bounds,
                got._upper_bounds) == (want._files, want._sizes,
                                       want._lower_bounds,
                                       want._upper_bounds)
        assert sorted(got.df.collect()) == sorted(want.df.collect())
        return got

    assert len(same_as_slice((7,), (16,), "both")._files) < n
    same_as_slice(None, (3,), "none")
    _kv(spark, range(30, 35)).write_parquet(p, append=True)
    schema = pq.read_schema(os.path.join(meta.manifest_table_path(p),
                                         meta.MANIFEST_TABLE_FILE))
    assert schema.field("lb_0").type == pa.int64()
    assert not os.path.exists(meta_file)
    assert meta.read_manifest_table(p) == meta.load_manifest(p)
    assert len(same_as_slice((7,), (32,), "lower")._files) < n + 1
