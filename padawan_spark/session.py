"""SparkSession factory with scale-oriented defaults.

Replaces the reference's single-node multiprocessing pool
(``/root/reference/src/padawan/parallelize.py:24-61``) with Spark's
executor/task model.  Every knob here is chosen for the 100 TB stance:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace padawan's hand-rolled collate /
  division planning.
- zstd parquet output, mirroring the reference's fast write path
  (``repartitioned_dataset.py:293-297``).
- Arrow on the Python boundary: all ``mapInPandas`` / ``toPandas`` traffic
  is columnar-batched.
- UTC session timezone so naive parquet timestamps round-trip identically
  through Spark, DuckDB and pandas.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CONF = {
    # per-process warehouse so bucketed saveAsTable runs never collide
    "spark.sql.warehouse.dir": f"/tmp/padawan_warehouse_{os.getpid()}",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # parquet footer min/max based row-group skipping (on by default, pinned
    # here because slice() correctness-at-scale depends on it)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # local-mode friendly shuffle width; a real cluster overrides via
    # spark-defaults + AQE coalescing.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # the events table has stored TIMESTAMP(NANOS) in some generations,
    # which the Spark parquet reader rejects; read as long and convert
    # (see queries.registry.load)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive parquet timestamps (isAdjustedToUTC=false) read as session-tz
    # TIMESTAMP, not TIMESTAMP_NTZ — keeps ts arithmetic (unix_micros,
    # windows) uniform and matches DuckDB's naive-timestamp collection
    # under the UTC session timezone pinned above
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Long-lived sessions accumulate DEAD broadcast/RDD
    # state — ContextCleaner frees blocks only after a JVM GC clears its
    # weak references, and G1 on a large heap can run an entire
    # multi-query session without one (measured: 20 queries in, the
    # driver heap held 4.1 GB of which 270 MB was live, and the next
    # allocation-heavy query ran 2-4x slower; a forced full GC restored
    # it).  The default 30 min interval is longer than many whole
    # sessions.  the LIBRARY default is 5 min — a
    # forced full GC every minute is too aggressive for production
    # drivers with big heaps (10 s pauses) — and the benchmark driver
    # pins 1 min via extra_conf (bench.py), where the heap is 8 GB and
    # the pause ~2%.  Override either with the env var.  Two failure
    # modes to know: (a) this knob works by calling System.gc() on a
    # timer, so a JVM running with -XX:+DisableExplicitGC silently
    # defeats it — if dead-state pile-up symptoms reappear (late-session
    # queries 2-4x slower with identical plans), check the JVM flags
    # first; (b) cleanup still reaches executors through
    # RemoveBroadcast/RemoveRdd messages either way.
    "spark.cleaner.periodicGC.interval":
        os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
}


def get_spark(app_name: str = "padawan-spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores if the
    env var is unset).  On a cluster, pass ``master=None`` with
    ``SPARK_MASTER`` exported, or let spark-submit inject it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Static confs (master, memory, warehouse) can't change on a live
        # session, but runtime SQL confs can — apply them instead of
        # silently dropping the caller's extra_conf; warn for the rest.
        if extra_conf:
            import warnings
            for k, v in extra_conf.items():
                try:
                    active.conf.set(k, v)
                except Exception:
                    warnings.warn(
                        f"get_spark: conf {k!r} is static and a session is "
                        f"already active; value not applied", stacklevel=2)
        return active
    if master is None:
        master = os.environ.get("SPARK_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
