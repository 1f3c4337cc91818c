"""Each table format's batch change feed against its stream: the same
span read both ways must give the same rows, as multisets.

padawan's ``read_changes`` and ``padawan_cdf`` stream share
``metadata.plan_changes``; Delta's ``read_delta_changes`` and
``padawan_delta_cdf`` stream share ``functions.delta.plan_delta_changes``;
Iceberg's ``read_iceberg_changes`` and ``padawan_iceberg_changes`` stream
share ``functions.iceberg.plan_iceberg_changes``.  Each pair keeps its own
row step (a Spark plan, Arrow in Python workers), and this is the check
that the two steps agree."""

import collections
import datetime
import decimal
import math
import uuid

import pytest
from pyspark.sql import functions as F

from padawan_spark import Dataset


def _multiset(rows):
    """Rows as a multiset of ``{column: value}`` items; NaN is one value,
    as Spark's grouping has it (``nan != nan`` in a Python tuple)."""
    def norm(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    return collections.Counter(
        tuple(sorted((k, norm(v)) for k, v in r.asDict().items()))
        for r in rows)


def _drain(spark, fmt, path, start, option="startingVersion"):
    """Every row the ``fmt`` stream emits from ``option`` ``start`` to
    the current version, drained with ``AvailableNow``."""
    from padawan_spark.sources import register_python_sources
    register_python_sources(spark)
    name = "cdf_" + uuid.uuid4().hex[:8]
    q = (spark.readStream.format(fmt).option("path", path)
         .option(option, str(start)).load()
         .writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(600), f"{fmt} did not drain in 600 s"
    finally:
        q.stop()
    rows = spark.table(name).collect()
    spark.catalog.dropTempView(name)
    return rows


def _padawan_feeds(spark, path):
    """(stream rows, batch rows) of a padawan table for each start: 0
    (the empty table) and a mid-history version."""
    from padawan_spark import list_versions, read_changes
    vs = list_versions(path)
    for a in (0, vs[(len(vs) - 1) // 2]):
        yield (a, _drain(spark, "padawan_cdf", path, a),
               read_changes(spark, path, a).collect())


def _delta_feeds(spark, path):
    """(stream rows, batch rows) of a Delta table for each start: its
    first JSON commit and a mid-history commit."""
    from padawan_spark.functions.delta import (list_delta_versions,
                                               read_delta_changes)
    vs = list_delta_versions(path)
    for a in (vs[0], vs[len(vs) // 2]):
        yield (a, _drain(spark, "padawan_delta_cdf", path, a),
               read_delta_changes(spark, path, starting_version=a)
               .collect())


def _iceberg_feeds(spark, path):
    """(stream rows, batch rows) of an Iceberg table for each start: the
    table's start and a mid-history snapshot.  The stream has no
    ``_change_ordinal``."""
    from padawan_spark.functions.iceberg import (list_iceberg_snapshots,
                                                 read_iceberg_changes)
    sids = list_iceberg_snapshots(path)
    for a in (None, sids[(len(sids) - 1) // 2]):
        yield (a, _drain(spark, "padawan_iceberg_changes", path, a or 0,
                         option="startingSnapshotId"),
               read_iceberg_changes(spark, path, from_snapshot_id=a)
               .drop("_change_ordinal").collect())


def _iceberg(spark, sf_dir, path):
    """An Iceberg table partitioned by ``g`` through each change shape
    the changelog plans: appends, overlapping position deletes, an
    equality delete on a key already dead, a renamed column, an
    equality delete on the renamed column that matches a NULL, a
    whole-partition remove, and (after an upgrade to v3) a deletion
    vector and its replacement on a file no position delete touches."""
    from padawan_spark.functions.iceberg import (
        evolve_iceberg_schema_fixture, set_iceberg_format_version_fixture,
        write_iceberg_fixture)

    def rows(ks):
        return spark.createDataFrame(
            [(k, None if k == 8 else float(k), k % 2) for k in ks],
            "k bigint, x double, g bigint")

    def write(df=None, **kw):
        return write_iceberg_fixture(spark, df, path, partition_by=("g",),
                                     order_by=("k",), **kw)

    s1 = write(rows(range(10)))
    s2 = write(rows(range(10, 14)))
    write(delete_positions={f"data/snap{s1}-0.parquet": [0, 1]})
    write(delete_positions={f"data/snap{s1}-0.parquet": [1, 2],
                            f"data/snap{s2}-1.parquet": [0]})
    write(delete_equality=(("k",), [(0,), (6,)]))
    evolve_iceberg_schema_fixture(path, renames={"x": "y"})
    write(delete_equality=(("y",), [(None,), (9.0,)]))
    write(delete_partition={"g": 1})
    set_iceberg_format_version_fixture(path, 3)
    write(delete_vectors={f"data/snap{s2}-0.parquet": [0]})
    write(delete_vectors={f"data/snap{s2}-0.parquet": [0, 1]})
    return path


def _evolved(spark, sf_dir, path):
    """A DOUBLE-indexed table with a NULL and a NaN key whose schema
    evolves: files written before a ``merge_schema`` append read the
    added column as nulls, through a delete, a merge that updates the
    NULL, the NaN and a finite key, and a compaction."""
    from padawan_spark import compact_parquet, delete_rows, merge_rows
    xvw = "x double, v bigint, w string"
    Dataset(spark, spark.createDataFrame(
        [(None, -1), (float("nan"), -2)] + [(float(k), k) for k in range(12)],
        "x double, v bigint"),
        index_columns=("x",)).reindex(("x",)).repartition(3).write_parquet(
            path)                                                # v1
    Dataset(spark, spark.createDataFrame([(20.0, 20, "x")], xvw),
            index_columns=("x",)).write_parquet(path, append=True,
                                                merge_schema=True)  # v2
    delete_rows(spark, path, (3.0,), (4.0,))                     # v3
    merge_rows(spark, path, Dataset(spark, spark.createDataFrame(  # v4
        [(None, 99, "n"), (float("nan"), 98, "m"), (6.0, 66, None),
         (30.0, 30, "y")], xvw), index_columns=("x",)))
    compact_parquet(spark, path, 100)                            # v5
    return path


def _registry(name):
    """The input the registry query ``name`` builds, at the path the
    registry keeps it under (the query is run to build it)."""
    def build(spark, sf_dir, path):
        from padawan_spark.queries.registry import (QUERIES,
                                                    ensure_session_conf,
                                                    fixture)
        ensure_session_conf(spark)
        QUERIES[name](spark, sf_dir)
        return fixture(sf_dir, name, lambda p: pytest.fail(
            f"{name} did not build its fixture"))
    return build


@pytest.mark.parametrize("feeds, build", [
    pytest.param(_padawan_feeds, _evolved, id="evolved"),
    pytest.param(_delta_feeds, _registry("src_delta_cdf_read"),
                 id="src_delta_cdf_read"),
    pytest.param(_iceberg_feeds, _iceberg, id="iceberg"),
    pytest.param(_padawan_feeds, _registry("op_read_changes"),
                 id="op_read_changes", marks=pytest.mark.slow),
    pytest.param(_padawan_feeds, _registry("streaming_cdf_tail"),
                 id="streaming_cdf_tail", marks=pytest.mark.slow),
    pytest.param(_padawan_feeds, _registry("streaming_mv_refresh"),
                 id="streaming_mv_refresh", marks=pytest.mark.slow),
    pytest.param(_delta_feeds, _registry("src_delta_cdf_checkpoint"),
                 id="src_delta_cdf_checkpoint", marks=pytest.mark.slow),
    pytest.param(_delta_feeds, _registry("streaming_delta_cdf"),
                 id="streaming_delta_cdf", marks=pytest.mark.slow),
    *[pytest.param(_iceberg_feeds, _registry(name), id=name,
                   marks=pytest.mark.slow)
      for name in ("src_iceberg_changelog", "src_iceberg_changelog_deletes",
                   "streaming_iceberg_changes",
                   "streaming_iceberg_changes_deletes")],
])
def test_cdf_stream_matches_batch(spark, sf_dir, tmp_path, feeds, build):
    """For each change-feed fixture, the stream drained from a start
    version to the current one equals the batch read of that span."""
    path = build(spark, sf_dir, str(tmp_path / "t"))
    for a, streamed, batch in feeds(spark, path):
        assert batch, (a, "the span holds no change")
        assert _multiset(streamed) == _multiset(batch), a


def test_cdf_stream_classifies_a_nan_key_update(spark, tmp_path):
    """A merge that updates the NaN key of a DOUBLE index and a finite
    key: the stream classifies both as update pairs, as ``read_changes``
    does (NaN groups with NaN)."""
    from padawan_spark import merge_rows, read_changes
    p = str(tmp_path / "nan")
    Dataset(spark, spark.createDataFrame(
        [(float(k), k) for k in range(4)] + [(float("nan"), 4)],
        "x double, v int"), index_columns=("x",)).repartition(2) \
        .write_parquet(p)
    merge_rows(spark, p, Dataset(spark, spark.createDataFrame(
        [(float("nan"), -1), (1.0, -1)], "x double, v int"),
        index_columns=("x",)))
    streamed = _drain(spark, "padawan_cdf", p, 1)
    assert _multiset(streamed) == _multiset(read_changes(spark, p, 1)
                                            .collect())
    got = {("NaN" if math.isnan(r.x) else r.x, r.v, r._change_type)
           for r in streamed}
    assert len(streamed) == 4 and got == {
        ("NaN", 4, "update_preimage"), ("NaN", -1, "update_postimage"),
        (1.0, 1, "update_preimage"), (1.0, -1, "update_postimage")}


def test_delta_cdf_stream_types_partition_values(spark, tmp_path):
    """A Delta table partitioned by DATE, DECIMAL(10,2) and TIMESTAMP
    columns, one partition NULL: the stream attaches the same typed
    partition values as ``read_delta_changes``, for the inserts and for
    the deletes that recover them from the pre-remove state."""
    from padawan_spark.functions.delta import (read_delta_changes,
                                               remove_delta_files_fixture,
                                               write_delta_fixture)
    t = str(tmp_path / "typed")
    d0, ts0 = datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4)
    df = spark.createDataFrame(
        [(1, d0, decimal.Decimal("1.50"), ts0),
         (2, None, decimal.Decimal("-2.25"), ts0),
         (3, d0, None, None)],
        "k bigint, d date, m decimal(10,2), ts timestamp")
    write_delta_fixture(spark, df, t, partition_by=("d", "m", "ts"))  # v0
    write_delta_fixture(spark, df.withColumn("k", F.col("k") + 10), t,
                        mode="append")                               # v1
    remove_delta_files_fixture(t, lambda rel: "m=1.50" in rel)       # v2
    streamed = _drain(spark, "padawan_delta_cdf", t, 0)
    batch = read_delta_changes(spark, t).collect()
    assert _multiset(streamed) == _multiset(batch)
    got = {(r.k, r.d, r.m, r._change_type, r._commit_version)
           for r in streamed if r.k in (1, 2, 13)}
    assert got == {
        (1, d0, decimal.Decimal("1.50"), "insert", 0),
        (1, d0, decimal.Decimal("1.50"), "delete", 2),
        (2, None, decimal.Decimal("-2.25"), "insert", 0),
        (13, d0, None, "insert", 1)}
    assert {r.ts for r in streamed if r.k == 1} == {ts0}


def test_delta_cdf_mapped_field_without_physical_name(spark, tmp_path):
    """A column-mapped table whose field lacks ``physicalName``
    metadata: the batch reader and the stream refuse it alike, rather
    than the stream reading the logical name."""
    import json
    import os

    from padawan_spark.functions.delta import (read_delta_changes,
                                               write_delta_fixture)
    t = str(tmp_path / "nophys")
    write_delta_fixture(spark, spark.range(3).withColumnRenamed("id", "k"),
                        t, column_mapping=True)
    log = os.path.join(t, "_delta_log", f"{0:020d}.json")
    with open(log) as fh:
        actions = [json.loads(line) for line in fh if line.strip()]
    for a in actions:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][0]["metadata"].pop(
                "delta.columnMapping.physicalName")
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(log, "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)
    with pytest.raises(NotImplementedError, match="physicalName"):
        read_delta_changes(spark, t)
    with pytest.raises(Exception, match="NotImplementedError.*physicalName"):
        _drain(spark, "padawan_delta_cdf", t, 0)


def test_iceberg_changes_build_runs_no_job(spark, tmp_path, count_jobs):
    """``read_iceberg_changes`` over two position-delete snapshots plans
    their targets on the driver: building the query runs no Spark job,
    and the rows are the inserts and each snapshot's newly dead rows."""
    from padawan_spark.functions.iceberg import (read_iceberg_changes,
                                                 write_iceberg_fixture)
    t = str(tmp_path / "pos")
    s1 = write_iceberg_fixture(spark, spark.range(6).withColumnRenamed(
        "id", "k"), t, order_by=("k",))
    fp = f"data/snap{s1}-0.parquet"
    s2 = write_iceberg_fixture(spark, None, t, delete_positions={fp: [1, 3]})
    s3 = write_iceberg_fixture(spark, None, t, delete_positions={fp: [3, 4]})
    df, jobs = count_jobs(read_iceberg_changes, spark, t)
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        [(k, "insert", 0, s1) for k in range(6)]
        + [(1, "delete", 1, s2), (3, "delete", 1, s2), (4, "delete", 2, s3)])


def test_delta_fixture_schema_string_parses(spark, tmp_path):
    """The Delta fixture writes its schemaString as the protocol's JSON
    (``long``, ``integer``, not ``bigint``/``int``): Spark's own parser
    reads the one of a flat, a partitioned and a column-mapped table."""
    import json
    import os

    from pyspark.sql.types import StructType

    from padawan_spark.functions.delta import write_delta_fixture
    df = spark.createDataFrame(
        [(1, 2, 3, 4, 1.5, datetime.date(2024, 1, 2))],
        "a bigint, b int, c smallint, d tinyint, e double, f date")
    for name, kw in (("flat", {}), ("part", {"partition_by": ("b",)}),
                     ("mapped", {"column_mapping": True})):
        t = str(tmp_path / name)
        write_delta_fixture(spark, df, t, **kw)
        with open(os.path.join(t, "_delta_log", f"{0:020d}.json")) as fh:
            meta = next(json.loads(line)["metaData"] for line in fh
                        if "metaData" in json.loads(line))
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        assert schema.simpleString() == ("struct<a:bigint,b:int,c:smallint,"
                                         "d:tinyint,e:double,f:date>"), name
