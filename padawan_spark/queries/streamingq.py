"""Structured Streaming queries for the driver gate.

Each runs a real streaming job (readStream → watermark → stateful agg →
memory sink, availableNow trigger) and returns the final table; with the
whole input available the result equals batch semantics, so the batch
SQL oracles apply.  ``streaming_running_count`` uses a custom
``applyInPandasWithState`` operator.
"""

from __future__ import annotations

import os

from ..streaming import (
    run_streaming_sessionize,
    run_streaming_tumbling,
    running_count_per_user,
)
from .registry import fixture, query, scratch, sql_dsum


@query("streaming_tumbling_window", oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end,
       event_type, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
FROM events GROUP BY 1, 2, 3
""")
def streaming_tumbling_window(spark, sf_dir):
    return run_streaming_tumbling(spark, sf_dir)


@query("streaming_sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN ts - LAG(ts) OVER w >= INTERVAL '4 hours' OR
              LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT user_id, ts,
    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
""")
def streaming_sessionize(spark, sf_dir):
    return run_streaming_sessionize(spark, sf_dir)


@query("streaming_running_count", oracle="""
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
""")
def streaming_running_count(spark, sf_dir):
    return running_count_per_user(spark, sf_dir)


@query("streaming_interval_join", oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id,
       p.user_id, p.ts AS p_ts, v.ts AS v_ts
FROM events p JOIN events v
  ON p.event_type = 'purchase' AND v.event_type = 'view'
 AND p.user_id = v.user_id
 AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
""")
def streaming_interval_join(spark, sf_dir):
    from ..streaming import run_streaming_interval_join
    return run_streaming_interval_join(spark, sf_dir)


@query("streaming_dedup_watermark", oracle="""
SELECT DISTINCT user_id, event_type,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour
FROM events
""")
def streaming_dedup_watermark(spark, sf_dir):
    from ..streaming import run_streaming_dedup
    return run_streaming_dedup(spark, sf_dir)


@query("streaming_static_join", oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""")
def streaming_static_join(spark, sf_dir):
    from ..streaming import run_streaming_static_join
    return run_streaming_static_join(spark, sf_dir)


@query("streaming_foreach_batch", oracle=f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n, {sql_dsum('value', 'total_value')}
FROM events GROUP BY 1, 2
""")
def streaming_foreach_batch(spark, sf_dir):
    from ..streaming import run_streaming_foreach_batch
    return run_streaming_foreach_batch(spark, sf_dir)


@query("streaming_outer_join", oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id,
       p.user_id, p.ts AS p_ts, v.ts AS v_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL '1 hour'
""")
def streaming_outer_join(spark, sf_dir):
    from ..streaming.events import run_streaming_outer_join
    return run_streaming_outer_join(spark, sf_dir)


@query("streaming_custom_source", oracle="""
SELECT bucket, COUNT(*) AS n, CAST(SUM(square) AS BIGINT) AS sum_sq
FROM (SELECT i AS id, i * i AS square, i % 7 AS bucket
      FROM range(0, 10000) t(i))
GROUP BY bucket
""")
def streaming_custom_source(spark, sf_dir):
    """Streaming read THROUGH the custom Python data source (Spark 4
    ``DataSourceStreamReader``): the bounded replay source exposes a
    real offset/commit protocol (restart-safe: available offsets are
    external truth, never reader-internal state), the planned range
    reads as 2500-row task-parallel InputPartitions, a complete-mode
    aggregation folds them, and with the sequence drained the result
    equals the batch oracle — the same exactness argument as the
    file-backed streaming queries."""
    import uuid
    from pyspark.sql import functions as F
    from ..sources import register_python_sources
    register_python_sources(spark)
    src = (spark.readStream.format("pyseq")
           .option("n", "10000").option("batchRows", "2500")
           .load())
    agg = (src.groupBy("bucket")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("square").cast("bigint").alias("sum_sq")))
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("bucket", "n", "sum_sq")


@query("streaming_manifest_tail", oracle="""
SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation GROUP BY n_regionkey
""")
def streaming_manifest_tail(spark, sf_dir):
    """Stream the VERSION HISTORY of a manifest dataset (the
    change-data-feed read as a live stream): each archived snapshot's
    file delta becomes a micro-batch of the ``padawan_tail`` custom
    source — offsets are version numbers, latestOffset is the on-disk
    version list (external truth, restart-safe), and every new file is
    one task-parallel InputPartition.  Here the dataset is written in
    two pinned versions and tailed from zero; the complete-mode fold
    over both deltas must equal the batch oracle over the whole
    table — the streaming twin of op_incremental_read."""
    import uuid
    from pyspark.sql import functions as F
    from ..dataset import Dataset
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")

    def build(target):
        (Dataset(spark, n.where(F.col("n_nationkey") < 12),
                 index_columns=("n_nationkey",)).reindex(("n_nationkey",))
         .write_parquet(target))
        (Dataset(spark, n.where(F.col("n_nationkey") >= 12),
                 index_columns=("n_nationkey",)).reindex(("n_nationkey",))
         .write_parquet(target, append=True))
    target = fixture(sf_dir, "streaming_manifest_tail", build)
    src = (spark.readStream.format("padawan_tail")
           .schema("n_nationkey bigint, n_regionkey bigint, n_name string")
           .option("path", target).load())
    agg = (src.groupBy("n_regionkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum")))
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("n_regionkey", "n", "key_sum")


@query("streaming_delta_cdf", oracle="""
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
-- v3: a deletion-vector commit (remove + re-add of the SAME file
-- carrying the DV) — change rows are the newly-dead positions only.
-- The fixture file is sorted by n_nationkey, DV kills positions 0,1
-- of region 3's file = its two smallest keys.
SELECT 'delete', 3, COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM (SELECT n_nationkey FROM nation WHERE n_regionkey = 3
      ORDER BY n_nationkey LIMIT 2)
""")
def streaming_delta_cdf(spark, sf_dir):
    """STREAM the change feed of an EXISTING Delta table — the
    interop twin of ``streaming_cdf_tail``: offsets are Delta commit
    versions, each micro-batch reads the change files of the versions
    in its span (``cdc`` actions win per the protocol; other commits
    derive inserts from data-changing adds and deletes from removes
    with partition values recovered from the pre-remove state).  The
    fixture commits a create, a partition delete, a cdc-explicit
    UPDATE, and a DELETION-VECTOR commit — the remove+re-add of
    the same file a modern DELETE writes; the derived feed emits
    delete rows for exactly the newly-dead positions, decoded from
    the DV bitmap inside the read task (new DV minus old DV).  The
    complete-mode fold per (_change_type, _commit_version) must equal
    the batch oracle.  Scale shape: one InputPartition per change
    file (task-parallel like a file scan), ``maxVersionsPerTrigger``
    backpressure available, O(log actions) planning per batch."""
    import uuid

    from pyspark.sql import functions as F

    from ..functions.delta import (add_dv_fixture,
                                   remove_delta_files_fixture,
                                   replay_delta_log,
                                   update_delta_cdc_fixture,
                                   write_delta_fixture)
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        # order_by pins physical row order: DV positions address rows BY
        # POSITION, so the oracle needs position i == i-th smallest key
        write_delta_fixture(spark, n, t, partition_by=("g",),
                            order_by=("k",))
        remove_delta_files_fixture(t, lambda rel: rel.startswith("g=2/"))
        update_delta_cdc_fixture(spark, t, "g", 1, "v", 1000)
        _sch, _pc, files, _mm = replay_delta_log(t)
        g3 = next(rel for rel, _pv, _dv in files if rel.startswith("g=3/"))
        add_dv_fixture(t, {g3: [0, 1]})
    t = fixture(sf_dir, "streaming_delta_cdf", build)
    src = (spark.readStream.format("padawan_delta_cdf")
           .option("path", t).load())
    agg = (src.groupBy(F.col("_change_type").alias("change"),
                       F.col("_commit_version").cast("int")
                       .alias("commit_v"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("k").cast("bigint").alias("key_sum")))
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("change", "commit_v", "n",
                                    "key_sum")


@query("streaming_hudi_incremental", oracle="""
SELECT 'w2' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey * 10 + 1000) AS BIGINT) AS val_sum
FROM nation WHERE n_nationkey % 4 = 0
UNION ALL
SELECT 'w3', COUNT(*),
       CAST(SUM(n_nationkey * 10 + 2000) AS BIGINT)
FROM nation WHERE n_nationkey % 3 = 0
""")
def streaming_hudi_incremental(spark, sf_dir):
    """STREAM a Hudi table's INCREMENTAL query — the CDC
    surface Hudi consumers poll, automated: offsets are commit
    instants, each micro-batch emits the latest state of every
    record key changed in its instant window, and the tasks read
    ONLY the file slices those instants touched
    (``partitionToWriteStats`` pruning — the same contract as the
    batch ``read_hudi_incremental``).  The latest-wins merge runs
    per slice INSIDE the read task (a key's updates land in its own
    file group's logs, so no cross-slice state exists).  The fixture
    commits a CoW base then two MOR delta commits (upserts + one
    delete); ``maxInstantsPerTrigger=1`` forces one batch per
    instant, and the per-window fold must equal the batch oracle —
    the deleted key is never emitted.  Scale shape: one
    InputPartition per touched slice, O(timeline) planning per
    batch, untouched file groups never load."""
    import uuid

    from pyspark.sql import functions as F

    from ..functions.hudi import (list_hudi_commits,
                                  write_hudi_delta_fixture,
                                  write_hudi_fixture)
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"),
        (F.col("n_nationkey") * 10).cast("bigint").alias("v"))

    def build(t):
        write_hudi_fixture(spark, n, t, partition_field="g")
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 4 == 0)
            .withColumn("v", F.col("k") * 10 + 1000),
            partition_field="g")
        # key "2" (region 1) deleted in the second window; never emitted
        two_part = str(n.where(F.col("k") == 2).collect()[0]["g"])
        write_hudi_delta_fixture(
            spark, t, upserts=n.where(F.col("k") % 3 == 0)
            .withColumn("v", F.col("k") * 10 + 2000),
            deletes={two_part: ["2"]}, partition_field="g")
    t = fixture(sf_dir, "streaming_hudi_incremental", build)
    i1, d2, _d3 = list_hudi_commits(t)
    src = (spark.readStream.format("padawan_hudi_incremental")
           .option("path", t).option("startingInstant", i1)
           .option("maxInstantsPerTrigger", 1).load())
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (src.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .groupBy(F.when(F.col("_commit_instant") == F.lit(d2),
                            "w2").otherwise("w3").alias("scope"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("v").cast("bigint").alias("val_sum")))


@query("streaming_iceberg_appends", oracle="""
SELECT 'a2' AS scope, COUNT(*) AS n,
       CAST(SUM(n_nationkey + 300) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 'a3', COUNT(*), CAST(SUM(n_nationkey + 600) AS BIGINT)
FROM nation
""")
def streaming_iceberg_appends(spark, sf_dir):
    """STREAM an Iceberg table's incremental APPEND scan — the
    spec's incremental consumption model: offsets are snapshot ids,
    each micro-batch reads exactly the data files ADDED by the new
    snapshots (identity partition values re-attached per file, under
    the file's own spec), and a span containing a non-append
    snapshot raises per the spec instead of emitting wrong rows.
    The fixture commits a base snapshot and two appends; streaming
    from the base snapshot id emits only the two appended row sets.
    Scale shape: one InputPartition per added file, O(metadata)
    planning per batch, pre-existing files never load."""
    import uuid

    from pyspark.sql import functions as F

    from ..functions.iceberg import (list_iceberg_snapshots,
                                     write_iceberg_fixture)
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_iceberg_fixture(spark, n, t, partition_by=("g",))
        # FAST-APPEND commits (the real-writer shape — the new
        # manifest holds only the new adds, prior manifests carry
        # verbatim) so the driver check covers the carried-manifest
        # incremental planner
        write_iceberg_fixture(spark, n.select(
            (F.col("k") + 300).alias("k"), F.col("g")), t,
            partition_by=("g",), fast_append=True)
        write_iceberg_fixture(spark, n.select(
            (F.col("k") + 600).alias("k"), F.col("g")), t,
            partition_by=("g",), fast_append=True)
    t = fixture(sf_dir, "streaming_iceberg_appends", build)
    src = (spark.readStream.format("padawan_iceberg_appends")
           .option("path", t)
           .option("startingSnapshotId", list_iceberg_snapshots(t)[0])
           .option("maxSnapshotsPerTrigger", 1).load())
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (src.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .groupBy(F.when(F.col("k") < 600, "a2")
                     .otherwise("a3").alias("scope"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").cast("bigint").alias("key_sum")))


@query("streaming_iceberg_skip_deletes", oracle="""
SELECT 2 * COUNT(*) AS n,
       CAST(SUM(n_nationkey + 300) + SUM(n_nationkey + 600)
            AS BIGINT) AS key_sum
FROM nation
""")
def streaming_iceberg_skip_deletes(spark, sf_dir):
    """Iceberg's streaming-skip-delete-snapshots option: a
    DELETE snapshot (partition drop) sits between two appends in the
    stream span — with ``skipDeleteSnapshots`` the stream walks the
    span snapshot by snapshot, the delete contributes nothing, and
    BOTH appends' rows arrive (the spec's skip semantics; without the
    option the span raises).  The oracle restates the two appended
    row sets.  Scale shape: per-snapshot planning stays O(metadata)
    — one live-files walk per span snapshot, bounded by
    maxSnapshotsPerTrigger."""
    import uuid

    from pyspark.sql import functions as F

    from ..functions.iceberg import (list_iceberg_snapshots,
                                     write_iceberg_fixture)
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(t):
        write_iceberg_fixture(spark, n, t, partition_by=("g",))
        write_iceberg_fixture(spark, n.select(
            (F.col("k") + 300).alias("k"), F.col("g")), t,
            partition_by=("g",))
        write_iceberg_fixture(spark, None, t, partition_by=("g",),
                              delete_partition={"g": 0})   # op: delete
        write_iceberg_fixture(spark, n.select(
            (F.col("k") + 600).alias("k"), F.col("g")), t,
            partition_by=("g",))
    t = fixture(sf_dir, "streaming_iceberg_skip_deletes", build)
    src = (spark.readStream.format("padawan_iceberg_appends")
           .option("path", t)
           .option("startingSnapshotId", list_iceberg_snapshots(t)[0])
           .option("skipDeleteSnapshots", "true").load())
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (src.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"))


@query("streaming_iceberg_follow_branch", oracle="""
SELECT 'at_dev_s1' AS phase, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation WHERE n_nationkey % 2 = 1
UNION ALL
SELECT 'after_ff', 2 * COUNT(*),
       CAST(SUM(n_nationkey) + SUM(n_nationkey + 500) AS BIGINT)
FROM nation WHERE n_nationkey % 2 = 1
""")
def streaming_iceberg_follow_branch(spark, sf_dir):
    """Iceberg appends stream FOLLOWING a branch:
    ``followRef=dev`` bounds latestOffset at the branch
    HEAD, not the snapshot-log tail — snapshot 2 exists but does not
    stream while ``dev`` points at snapshot 1; retargeting ``dev``
    forward (snapshot 2's parent chain contains snapshot 1) streams
    exactly the new snapshot on the next trigger.  The oracle
    restates both phases' row sets; a head-tracking bug either leaks
    snapshot 2 early (phase-1 count too high) or misses it after the
    fast-forward.  Scale shape: head resolution is one metadata read
    per trigger; per-snapshot planning stays O(manifests the snapshot
    added) via added_data_files."""
    import uuid

    from pyspark.sql import functions as F

    from ..functions.iceberg import (tag_iceberg_snapshot_fixture,
                                     write_iceberg_fixture)
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))
    odd = n.where(F.col("k") % 2 == 1)
    t = os.path.join(scratch("padawan_ifb_"), "tbl")
    s1 = write_iceberg_fixture(spark, odd, t, partition_by=("g",))
    s2 = write_iceberg_fixture(spark, odd.select(
        (F.col("k") + 500).alias("k"), F.col("g")), t,
        partition_by=("g",))
    tag_iceberg_snapshot_fixture(t, "dev", s1, ref_type="branch")
    src = (spark.readStream.format("padawan_iceberg_appends")
           .option("path", t).option("followRef", "dev").load())
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (src.writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    phases = []
    try:
        q.processAllAvailable()
        r = spark.table(name).agg(
            F.count(F.lit(1)), F.sum("k")).collect()[0]
        phases.append(("at_dev_s1", int(r[0]), int(r[1])))
        tag_iceberg_snapshot_fixture(t, "dev", s2,
                                     ref_type="branch")
        q.processAllAvailable()
        r = spark.table(name).agg(
            F.count(F.lit(1)), F.sum("k")).collect()[0]
        phases.append(("after_ff", int(r[0]), int(r[1])))
    finally:
        q.stop()
    return spark.createDataFrame(
        phases, "phase string, n bigint, key_sum bigint")


@query("streaming_cdf_tail", oracle="""
SELECT 'delete' AS change_type, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation WHERE n_nationkey BETWEEN 5 AND 9
UNION ALL
SELECT 'insert', COUNT(*) + 2, CAST(SUM(n_nationkey) + 201 AS BIGINT)
FROM nation
UNION ALL
SELECT 'update_preimage', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM nation WHERE n_nationkey IN (12, 13, 14)
UNION ALL
SELECT 'update_postimage', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT)
FROM nation WHERE n_nationkey IN (12, 13, 14)
""")
def streaming_cdf_tail(spark, sf_dir):
    """Stream ROW-LEVEL CHANGES of a lakehouse table — the streaming
    twin of ``read_changes`` (``padawan_cdf`` custom source): the
    table is written, a range DELETE and a MERGE upsert commit on top,
    and the change feed replays the full history as micro-batches —
    the initial load as per-file-parallel inserts (append fast path),
    the delete commit's rows as deletes, the merge split into update
    pre/post images plus true inserts, with copy-on-write survivor
    rows cancelled inside the rewrite commit's diff partition.  The
    complete-mode fold per _change_type must equal the batch oracle
    reconstructed from the source table.  Offsets are snapshot
    versions with the same identity/vacuum guards as padawan_tail,
    plus Delta's ``startingVersion`` option."""
    import uuid

    import pandas as pd
    from pyspark.sql import functions as F

    from ..dataset import Dataset, delete_rows, from_pandas, merge_rows
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name")

    def build(target):
        (Dataset(spark, n, index_columns=("n_nationkey",))
         .reindex(("n_nationkey",)).repartition(5).write_parquet(target))
        delete_rows(spark, target, (5,), (9,), inclusive="both")
        merge_rows(spark, target, from_pandas(
            spark,
            pd.DataFrame({"n_nationkey": [12, 13, 14, 100, 101],
                          "n_regionkey": [99] * 3 + [77] * 2,
                          "n_name": ["UPD"] * 3 + ["NEW"] * 2}),
            index_columns=("n_nationkey",)))
    target = fixture(sf_dir, "streaming_cdf_tail", build)
    src = (spark.readStream.format("padawan_cdf")
           .option("path", target).load())
    agg = (src.groupBy(F.col("_change_type").alias("change_type"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("n_nationkey").cast("bigint").alias("key_sum")))
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("change_type", "n", "key_sum")


@query("streaming_mv_refresh", oracle="""
WITH final AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k,
         CAST(CASE WHEN n_nationkey >= 20 THEN n_regionkey + 50
              ELSE n_regionkey END AS BIGINT) AS g
  FROM nation WHERE n_nationkey NOT BETWEEN 0 AND 3
  UNION ALL
  SELECT i, i % 4 FROM range(200, 206) t(i)
)
SELECT g, COUNT(*) AS cnt, CAST(SUM(k) AS BIGINT) AS sum_k
FROM final GROUP BY g
""")
def streaming_mv_refresh(spark, sf_dir):
    """STREAMING materialized-view maintenance: the ``padawan_cdf``
    change feed drives ``foreachBatch``, and every micro-batch folds
    its row-level changes into a count+sum aggregate table with the
    same delta algebra as batch ``refresh_aggregate``
    (``fold_changes_into_aggregate`` — update preimages subtract from
    the old group, postimages add to the new, merge_rows touches only
    affected groups).  The source history — initial load, a range
    DELETE, a MERGE that moves keys across groups and inserts new ones
    — replays through the stream, and the final MV must equal the
    direct aggregate of the final state (the oracle).  This is the
    lakehouse "stream a table into a maintained rollup" loop:
    exactly-once per micro-batch via the CDF source's version offsets,
    O(changes) per batch, never a source rescan."""
    import pandas as pd
    from pyspark.sql import functions as F
    from ..dataset import (Dataset, delete_rows,
                           fold_changes_into_aggregate, from_pandas,
                           merge_rows, scan_parquet)
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_regionkey").cast("bigint").alias("g"))

    def build(source):
        (Dataset(spark, n, index_columns=("k",))
         .reindex(("k",)).repartition(4).write_parquet(source))
        delete_rows(spark, source, (0,), (3,), inclusive="both")
        upd = [(int(r["k"]), int(r["g"]) + 50)
               for r in n.where(F.col("k") >= 20).collect()]
        ins = [(200 + i, (200 + i) % 4) for i in range(6)]
        merge_rows(spark, source, from_pandas(
            spark, pd.DataFrame(upd + ins, columns=["k", "g"]),
            index_columns=("k",)))
    source = fixture(sf_dir, "streaming_mv_refresh", build)
    base = scratch("padawan_smv_")
    mv = os.path.join(base, "mv")

    def fold(batch_df, batch_id):
        fold_changes_into_aggregate(batch_df.sparkSession, mv,
                                    batch_df, keys=("g",),
                                    sum_cols=("k",))

    src = (spark.readStream.format("padawan_cdf")
           .option("path", source).load())
    q = (src.writeStream.foreachBatch(fold)
         .option("checkpointLocation", os.path.join(base, "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (scan_parquet(spark, mv).df.where(F.col("cnt") > 0)
            .select("g", "cnt", "sum_k"))


@query("streaming_rate_limited_tail", oracle="""
SELECT CAST(3 AS BIGINT) AS n_batches,
       CAST(9 AS BIGINT) AS max_batch_rows,
       CAST(COUNT(*) AS BIGINT) AS total_rows,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
""")
def streaming_rate_limited_tail(spark, sf_dir):
    """Backpressure on the manifest stream
    (``maxVersionsPerTrigger``): the stream starts against the first
    commit (batch 1: 8 rows), then TWO more commits land while it is
    live and the cap of one version per micro-batch drains that
    2-version backlog as TWO bounded batches (9 rows max) instead of
    one 17-row catch-up batch — the Delta maxFilesPerTrigger idea at
    version granularity.  The oracle pins the batch count, the largest
    batch, and that no row was lost or duplicated across the batch
    boundaries (sum/count over the source table).  At scale this is
    what keeps a backlog drain from materializing weeks of commits
    into one executor-crushing batch.  (The first batch of a run is
    deliberately uncapped: latestOffset cannot see the checkpointed
    start, and a low guess would trip the history-regression guard —
    see the reader comment.)"""
    from pyspark.sql import functions as F

    from ..dataset import Dataset
    from ..sources import register_python_sources
    from .registry import load as _load
    register_python_sources(spark)
    n = _load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("k"),
        F.col("n_name").alias("name"))
    base = scratch("padawan_rate_")
    target = os.path.join(base, "nation_r")

    def commit(lo, hi):
        part = n.where((F.col("k") >= lo) & (F.col("k") < hi))
        ds = Dataset(spark, part, index_columns=("k",)).reindex(("k",))
        ds.write_parquet(target, append=os.path.isdir(target))

    commit(0, 8)
    batches = []

    def tally(batch_df, batch_id):
        rows = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("s")).collect()[0]
        if rows["n"]:
            batches.append((int(rows["n"]), int(rows["s"])))

    src = (spark.readStream.format("padawan_tail")
           .schema("k bigint, name string")
           .option("path", target)
           .option("maxVersionsPerTrigger", "1").load())
    q = (src.writeStream.foreachBatch(tally)
         .option("checkpointLocation", os.path.join(base, "ckpt"))
         .start())
    try:
        q.processAllAvailable()            # batch 1: the v1 rows
        commit(8, 16)
        commit(16, 25)                     # a 2-version backlog...
        q.processAllAvailable()            # ...drains as 2 capped batches
    finally:
        q.stop()
    return spark.createDataFrame(
        [(len(batches), max(b[0] for b in batches),
          sum(b[0] for b in batches), sum(b[1] for b in batches))],
        "n_batches bigint, max_batch_rows bigint, total_rows bigint, "
        "key_sum bigint")


@query("streaming_iceberg_changes", oracle="""
WITH src AS (SELECT o_orderkey AS k, o_orderkey % 2 AS g
             FROM orders WHERE o_orderkey < 1000),
evens AS (SELECT k, ROW_NUMBER() OVER (ORDER BY k) AS rn
          FROM src WHERE g = 0),
odds AS (SELECT k FROM src WHERE g = 1)
SELECT 'insert' AS change, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS k_sum FROM src
UNION ALL
SELECT 'delete', CAST((SELECT COUNT(*) FROM odds) + 2 AS BIGINT),
       CAST((SELECT SUM(k) FROM odds)
            + (SELECT SUM(k) FROM evens WHERE rn <= 2) AS BIGINT)
""")
def streaming_iceberg_changes(spark, sf_dir):
    """Iceberg CHANGELOG as a STREAM
    (``padawan_iceberg_changes``): the streaming twin of
    ``read_iceberg_changes`` — per micro-batch, the new snapshots'
    row-level changes (added files' rows as inserts, removed files'
    rows as deletes, v3 deletion-vector deltas as deletes), tagged
    ``_change_type``/``_commit_snapshot_id``.  Same four-snapshot
    fixture as the batch sentinel; the drain's per-change-type
    aggregates must equal the batch oracle.  Scale shape: one
    InputPartition per CHANGED file per snapshot — O(changed files),
    DV predecessor vectors decode in the task."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ..functions.iceberg import (
        set_iceberg_format_version_fixture, write_iceberg_fixture)
    from ..sources import register_python_sources
    from .registry import load
    register_python_sources(spark)
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
    t = fixture(sf_dir, "streaming_iceberg_changes", build)
    name = "scl_" + _uuid.uuid4().hex[:8]
    q = (spark.readStream.format("padawan_iceberg_changes")
         .option("path", t).load()
         .writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (spark.table(name)
            .groupBy(F.col("_change_type").alias("change"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum("k").cast("bigint").alias("k_sum")))


@query("streaming_iceberg_changes_deletes", oracle="""
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
def streaming_iceberg_changes_deletes(spark, sf_dir):
    """The changelog STREAM over v2 DELETE FILES: the
    streaming twin of ``src_iceberg_changelog_deletes`` — the same
    five merge-on-read snapshots (insert, position deletes,
    overlapping position deletes, equality delete hitting an
    already-dead row, whole-file remove) drained through
    ``padawan_iceberg_changes``; snapshot order is recovered as a
    dense rank over ``_commit_snapshot_id`` so the SAME per-ordinal
    oracle pins each snapshot's exact newly-dead set.  Scale shape:
    one InputPartition per changed/affected file per snapshot;
    position/equality artifacts resolve IN THE TASK against that
    file only."""
    import uuid as _uuid

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.iceberg import write_iceberg_fixture
    from ..sources import register_python_sources
    from .registry import load
    register_python_sources(spark)
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
    t = fixture(sf_dir, "streaming_iceberg_changes_deletes", build)
    name = "sicd_" + _uuid.uuid4().hex[:8]
    q = (spark.readStream.format("padawan_iceberg_changes")
         .option("path", t).load()
         .writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    w = Window.orderBy("_commit_snapshot_id")
    return (spark.table(name)
            .withColumn("ordinal",
                        (F.dense_rank().over(w) - 1).cast("int"))
            .groupBy("ordinal",
                     F.col("_change_type").alias("ctype"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 F.sum("k").cast("bigint").alias("k_sum")))
