"""Structured Streaming operators over the events table.

The reference is batch-only, single-node (``/root/reference/docs/
index.rst:45-47``) — streaming is pure extension surface (SURVEY.md
§2.9).  Implemented Spark-first:

- ``readStream`` over the parquet directory with an explicit schema;
- tumbling-window aggregation with a watermark;
- ``session_window`` (gap-based) sessionization;
- a custom stateful operator via ``applyInPandasWithState``
  (running per-user counts) — the escape hatch for semantics windows
  can't express.

For the driver's oracle gate the streaming queries run with
``trigger(availableNow=True)`` into an in-memory sink and return the
final table: with the full input available the results equal the batch
semantics, so the same DuckDB SQL oracles apply.  Output mode is
``complete`` so watermark-withheld tail windows are still emitted
(append mode would hold back the last window at end-of-stream).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

def _event_schema(ts_as_long: bool) -> StructType:
    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", LongType() if ts_as_long else TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])


#: default (micros-generated testdata); kept for import compatibility
EVENT_SCHEMA = _event_schema(ts_as_long=False)


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Probe the parquet footer: TIMESTAMP(NANOS) columns surface as long
    under ``nanosAsLong`` (which the session sets), so the declared
    streaming schema must say LongType for that generation — mirroring
    what batch ``load()`` does by inspecting the read schema."""
    try:
        import os

        import pyarrow.parquet as pq
        t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
        return getattr(t, "unit", None) == "ns"
    except Exception:
        return False


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..queries.registry import ensure_session_conf
    ensure_session_conf(spark)  # UTC + parquet conf for driver-built sessions
    # streaming sources need a directory; select just the events file.
    # ts type is generation-dependent (testdata is regenerated per round):
    # micros (naive, isAdjustedToUTC=false) reads as TimestampType = UTC
    # wall-clock under the pinned session timezone — same values DuckDB
    # sees; TIMESTAMP(NANOS) must be declared LongType (nanosAsLong) and
    # is truncated to micros here, matching DuckDB's ns→µs truncation.
    nanos = _events_ts_is_nanos(sf_dir)
    stream = (spark.readStream.schema(_event_schema(ts_as_long=nanos))
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    if nanos:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _run_to_memory(result: DataFrame, mode: str = "complete") -> str:
    name = "mem_" + uuid.uuid4().hex[:8]
    q = (result.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return name


def run_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling count+sum per event_type, 30-min watermark."""
    from ..queries.registry import DEC
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double")
                .alias("total_value")))
    name = _run_to_memory(agg)
    return (spark.table(name)
            .select(F.col("w.start").alias("w_start"),
                    F.col("w.end").alias("w_end"),
                    "event_type", "n", "total_value"))


def run_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via session_window (4h gap), per user."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (ev.groupBy(F.session_window("ts", "4 hours").alias("w"), "user_id")
           .agg(F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events")))
    name = _run_to_memory(agg)
    return (spark.table(name)
            .select("user_id", "session_start", "session_end", "n_events"))


def tws_available() -> bool:
    """Capability probe for ``transformWithStateInPandas`` (Spark 4 its
    successor to applyInPandasWithState).  Its state-server protocol
    imports ``google.protobuf``; in this container that package is broken
    (``cannot import name 'descriptor'`` — verified: the streaming Python
    runner exits -2 with STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE),
    so the operator below stays on applyInPandasWithState.  If the
    environment gains a working protobuf, this probe flips and
    :func:`running_count_per_user_tws` becomes usable."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        from pyspark.sql.streaming import StatefulProcessor  # noqa: F401
        return True
    except ImportError:
        return False


def running_count_per_user_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas variant of the running per-user count —
    the Spark 4 arbitrary-state API (typed value state, timers, TTL).
    Requires :func:`tws_available`; see its docstring for why this
    environment can't run it."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf, broken in "
            "this environment; use running_count_per_user instead")
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    class Counter(StatefulProcessor):
        def init(self, handle):
            self.count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.count.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self):
            pass

    ev = read_events_stream(spark, sf_dir)
    result = (ev.groupBy("user_id")
              .transformWithStateInPandas(
                  Counter(), "user_id bigint, n_events bigint",
                  "Update", "None"))
    name = _run_to_memory(result, mode="update")
    latest = spark.table(name)
    return (latest.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events")))


def running_count_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running event count via
    applyInPandasWithState — arbitrary state the built-in windows can't
    express.  Emits one row per user per micro-batch with the cumulative
    count (final batch → final totals)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint"
    state_schema = "n bigint"

    def update(key, pdfs, state):
        import pandas as pd
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    ev = read_events_stream(spark, sf_dir)
    result = (ev.groupBy("user_id")
              .applyInPandasWithState(update, out_schema, state_schema,
                                      "update", GroupStateTimeout.NoTimeout))
    name = _run_to_memory(result, mode="update")
    # latest row per user = final running count
    latest = spark.table(name)
    return (latest.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events")))


def run_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's views from the preceding hour.  Both sides carry watermarks
    so the join state is bounded — Spark drops buffered view rows once
    the purchase-side watermark passes v_ts + 1h (the state-retention
    bound a 100 TB deployment needs).  Inner-join matches emit as they
    are found, so append mode with availableNow equals the batch result.
    """
    ev = read_events_stream(spark, sf_dir)
    v = (ev.where(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
                 F.col("event_id").alias("view_id"))
         .withWatermark("v_ts", "1 hour"))
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("user_id"), F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("purchase_id"))
         .withWatermark("p_ts", "1 hour"))
    j = p.join(v, (F.col("user_id") == F.col("v_user"))
               & (F.col("v_ts") <= F.col("p_ts"))
               & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")))
    name = _run_to_memory(j, mode="append")
    return (spark.table(name)
            .select("purchase_id", "view_id", "user_id", "p_ts", "v_ts"))


def run_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps the first row per key and
    drops later duplicates, while the watermark lets Spark evict key
    state once event time moves past the tolerance — the ingestion
    guard of an at-least-once event pipeline (exactly-once dedup with
    finite memory).  Key = (user, event_type, hour bucket); only key
    columns are emitted, so the batch equivalent is SELECT DISTINCT.
    The trailing distinct() on the collected sink output makes the
    result insensitive to re-emission across micro-batch boundaries
    after state eviction."""
    ev = read_events_stream(spark, sf_dir)
    keyed = (ev.withColumn("hour", F.date_trunc("hour", "ts"))
             .withWatermark("ts", "1 hour")
             .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour"])
             .select("user_id", "event_type", "hour"))
    name = _run_to_memory(keyed, mode="append")
    return spark.table(name).distinct()


def run_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (customer) read as an ordinary batch DataFrame.  The
    static side is re-resolved per micro-batch and — being small — is
    BROADCAST to the stream tasks, so enrichment adds no shuffle and no
    state: the canonical pattern for attaching slowly-changing
    dimensions to a 100 TB/day event firehose.  Aggregation after the
    join (count + exact decimal sum per market segment) is the only
    stateful stage."""
    from pyspark.sql.functions import broadcast
    ev = read_events_stream(spark, sf_dir)
    cust = (spark.read.parquet(sf_dir + "/customer.parquet")
            .select("c_custkey", "c_mktsegment"))
    joined = ev.join(broadcast(cust), ev.user_id == cust.c_custkey)
    agg = (joined.groupBy("c_mktsegment")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double").alias("total_value")))
    name = _run_to_memory(agg, mode="complete")
    return spark.table(name)


def run_streaming_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production sink path: ``foreachBatch`` hands each micro-batch
    to ordinary batch code, which appends it to a parquet table — the
    pattern behind exactly-once lakehouse sinks (batchId-keyed
    idempotent writes, MERGE targets, multi-table fan-out) that the
    built-in file sink can't express.  Here each batch of a daily
    count+sum aggregation (update mode) lands in a parquet directory;
    re-reading the directory and keeping the last emission per key
    (update mode may re-emit a group as late rows arrive) reproduces
    the batch aggregate exactly."""
    from ..queries.registry import DEC, scratch
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast(DEC)).cast("double")
                .alias("total_value")))
    target = scratch("padawan_febatch_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(target))

    q = (agg.writeStream.foreachBatch(sink).outputMode("update")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    back = spark.read.parquet(target)
    from pyspark.sql.window import Window
    w = (Window.partitionBy("day", "event_type")
         .orderBy(F.desc("batch_id"), F.desc("n")))
    return (back.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("day", "event_type", "n", "total_value"))


def run_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, matched
    to same-user views from the preceding hour, WITH null rows for
    purchases that had no view — the attribution query where "no prior
    view" is itself the signal.

    Outer results only materialize when the watermark passes a left
    row's match window (before that, a matching view could still
    arrive), so a single-batch availableNow run would end with every
    unmatched purchase still buffered in state and silently missing.
    The input is therefore staged as TWO files processed as separate
    micro-batches (``maxFilesPerTrigger=1``, oldest-first): the real
    events, then a far-future sentinel row per side.  Batch 2 advances
    the watermark past all real data and the engine's no-data batch
    flushes the remaining state, emitting every null match — the same
    watermark-closure discipline a production deployment gets from its
    continuously-arriving data.  Sentinels carry negative event ids and
    are filtered from the output; state stays bounded by the 1 h
    interval exactly as in the inner-join variant.
    """
    import datetime as _dt
    import os as _os
    import shutil as _shutil
    import time as _time

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..queries.registry import ensure_session_conf, fixture
    ensure_session_conf(spark)

    def stage(tmp):
        src = _os.path.join(sf_dir, "events.parquet")
        _os.makedirs(tmp)
        _shutil.copy(src, _os.path.join(tmp, "a.parquet"))
        t = pq.read_table(src, columns=None)
        far = pc.max(t["ts"]).as_py()
        if isinstance(far, int):          # TIMESTAMP(NANOS) read as int64
            far = far + 10 * 86400 * 10**9
        else:
            far = far + _dt.timedelta(days=10)
        fields = {
            "event_id": [-1, -2], "ts": [far, far], "user_id": [0, 0],
            "event_type": ["view", "purchase"], "value": [0.0, 0.0],
            "props": ["", ""],
        }
        sent = pa.table({n: pa.array(v, t.schema.field(n).type)
                         for n, v in fields.items()}).cast(t.schema)
        pq.write_table(sent, _os.path.join(tmp, "b.parquet"))
        now = _time.time()
        _os.utime(_os.path.join(tmp, "a.parquet"), (now - 100, now - 100))
        _os.utime(_os.path.join(tmp, "b.parquet"), (now, now))
    tmp = fixture(sf_dir, "streaming_outer_join", stage)

    nanos = _events_ts_is_nanos(sf_dir)
    ev = (spark.readStream.schema(_event_schema(ts_as_long=nanos))
          .option("maxFilesPerTrigger", "1").parquet(tmp))
    if nanos:
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    v = (ev.where(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
                 F.col("event_id").alias("view_id"))
         .withWatermark("v_ts", "1 hour"))
    p = (ev.where(F.col("event_type") == "purchase")
         .select("user_id", F.col("ts").alias("p_ts"),
                 F.col("event_id").alias("purchase_id"))
         .withWatermark("p_ts", "1 hour"))
    j = p.join(v, (F.col("user_id") == F.col("v_user"))
               & (F.col("v_ts") <= F.col("p_ts"))
               & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
               "leftOuter")
    name = _run_to_memory(j, mode="append")
    return (spark.table(name)
            .where(F.col("purchase_id") >= 0)
            .select("purchase_id", "view_id", "user_id", "p_ts", "v_ts"))
