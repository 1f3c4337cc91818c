"""Query registry: named (spark_fn, oracle_sql) pairs.

This is the engine's user-facing query surface and the driver's
correctness gate.  Every query is registered with a DuckDB-runnable
ANSI-SQL oracle unless it is genuinely non-SQL-expressible (those are
registered with ``oracle=None`` and get a weaker rows-only check).

Cross-engine float determinism
------------------------------
The driver hash-compares values, so Spark and DuckDB must produce
*bit-identical* numbers.  Per-row IEEE double arithmetic (+,-,*,/,sqrt)
is deterministic across engines; **aggregation order is not**.  Policy:

- per-row expressions: plain double math, identical on both sides;
- SUM/AVG: cast the per-row value to an exact DECIMAL before summing
  (decimal addition is associative → order-independent), cast the exact
  result back to DOUBLE.  :func:`dsum` / :func:`davg` build the Spark
  side; write the oracle as ``CAST(SUM(CAST(x AS DECIMAL(18,6))) AS
  DOUBLE)`` / ``... / COUNT(*)``;
- MIN/MAX/COUNT: natively order-independent, use as-is;
- never put transcendentals (exp/log/pow) into hashed outputs without
  coarse rounding — their libm implementations differ.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def query(name: str, oracle: str | None = None):
    """Register a query.  ``oracle`` is DuckDB SQL over the pre-registered
    table views; None → rows-only check (non-SQL-expressible)."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco


def ensure_session_conf(spark: SparkSession) -> None:
    """Runtime-settable confs the queries depend on, applied defensively in
    case the caller (e.g. the driver) built the session without our factory:
    UTC session timezone (timestamp values must collect identically to the
    DuckDB oracle), nanos-as-long (the events table stores TIMESTAMP(NANOS),
    which the parquet reader otherwise rejects), and AQE."""
    for k, v in (("spark.sql.session.timeZone", "UTC"),
                 ("spark.sql.legacy.parquet.nanosAsLong", "true"),
                 ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
                 ("spark.sql.adaptive.enabled", "true")):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; keep going


# footer-inferred schema per file identity (path, size, mtime): only the
# first load of a file runs Spark's schema-inference job, and a rewritten
# file is inferred again
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def load(spark: SparkSession, sf_dir: str, name: str,
         wide: bool = False) -> DataFrame:
    """Read one testdata table.  ``wide=True`` routes through
    :func:`spread` — use it whenever the query chains expensive per-row
    compute (shingling, hashing, regex, vector math, Pandas UDFs)
    directly onto the scan, so a single-row-group file doesn't serialize
    the whole pipeline onto one task."""
    ensure_session_conf(spark)
    path = os.path.abspath(f"{sf_dir}/{name}.parquet")
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
    if name == "events":
        # ts type is generation-dependent: TIMESTAMP(NANOS) reads as long
        # (nanosAsLong) and truncates to microseconds matching DuckDB's
        # ns→µs truncation; plain micros with NTZ inference active reads as
        # TIMESTAMP_NTZ and is cast to session-tz TIMESTAMP (UTC — identical
        # wall-clock values, uniform downstream arithmetic).
        from pyspark.sql.types import LongType, TimestampNTZType
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spread(df) if wide else df


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Decouple compute parallelism from scan parallelism.

    A single-row-group parquet file scans as ONE task, and any per-row
    compute chained onto the scan (shingling, hashing, regex, feature
    UDFs) inherits that serialism — a 32× loss on this box regardless of
    engine.  For *small inputs with expensive per-row pipelines* (the
    documents/embeddings tables feeding dedup/text/multimodal), one
    cheap shuffle of the raw rows buys full-width compute.  Do NOT use
    on large scan-bound inputs (lineitem aggregates): there the shuffle
    costs more than it saves — and on a healthy multi-file layout this
    is a no-op."""
    sc = df.sparkSession.sparkContext
    n = min_parts or sc.defaultParallelism
    return df.repartition(n) if df.rdd.getNumPartitions() < n else df


# ---- cross-engine-deterministic aggregate builders -----------------------

DEC = "decimal(18,6)"


def dsum(col, name: str):
    """Order-independent SUM of a double expression (exact decimal inside)."""
    return F.sum(col.cast(DEC)).cast("double").alias(name)


def davg(col, name: str):
    """SUM(decimal)/COUNT(*) — deterministic AVG over non-null doubles."""
    return (F.sum(col.cast(DEC)).cast("double") / F.count(F.lit(1))).alias(name)


def sql_dsum(expr: str, name: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) AS {name}"


def sql_davg(expr: str, name: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS {name}"
