"""Formal sf1 bench (VERDICT r6 task 7 / r7 task 3): ONE same-process
run of the full 21-query headline set at sf0.1 AND at the 10x dataset
(~sf1), reporting per-query sf0.1→sf1 ratios.

Both scales are timed in the SAME process, min-of-2 warm passes each
(min-of-1 for the memoized bucketed-join write), so the ratio isolates
data-volume scaling from JVM/process noise — the cross-round per-query
smoke tables in SCALE_SMOKE.md could never answer "does query X scale
linearly?" because their rows span different processes.

The 10x dataset is synthesized if absent (sf0.1 unioned 10x with
shifted primary keys, dimensions left UNSHIFTED so fact→dim joins run
under deliberate 10x hot-key skew — see SCALE_SMOKE.md).  Queries
scaling worse than ``FLAG_RATIO`` (15x for 10x data) are flagged.

Run: ``python3 tests/scale_bench_sf1.py``  (writes only under /tmp)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, warm  # noqa: E402

SF01 = "/root/testdata/sf0.1"
BIG = os.environ.get("SMOKE_DIR", "/tmp/padawan_sfbig")
COPIES = 10
FLAG_RATIO = 15.0
# iterative queries (a fixed per-round job overhead) get one extra pass
ITERATIVE = ["graph_pagerank_users", "sim_kmeans_train"]


def make_sfbig(spark, src: str = SF01, out: str = BIG) -> None:
    """Synthesize the 10x dataset: fact tables unioned COPIES times with
    shifted primary keys, dimension tables copied once (every dim key
    10x hotter — deliberate join skew), 32-file parquet per table."""
    from pyspark.sql import functions as F
    shifts = {  # table -> {col: per-copy shift}
        "lineitem": {"l_orderkey": 10_000_000},
        "orders": {"o_orderkey": 10_000_000},
        "documents": {"doc_id": 1_000_000},
        "embeddings": {"vec_id": 1_000_000},
        "events": {"event_id": 10_000_000, "user_id": 100_000},
    }
    os.makedirs(out, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        src_p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(src_p):
            continue
        df = spark.read.parquet(src_p)
        if t in shifts:
            parts = []
            for i in range(COPIES):
                d = df
                for c, step in shifts[t].items():
                    d = d.withColumn(c, F.col(c) + F.lit(i * step))
                parts.append(d)
            big = parts[0]
            for d in parts[1:]:
                big = big.unionByName(d)
        else:
            big = df
        (big.repartition(32).write.mode("overwrite")
         .parquet(os.path.join(out, f"{t}.parquet")))


# ---- interop reads (r12, VERDICT r11 task 6): one scaled fixture per
# lakehouse format, built ONCE per scale under /tmp (~1/5 of orders,
# ~1% churn), so the sf0.1-vs-sf1 ratio of the Hudi MOR merge, the
# Delta deletion-vector read, and the Iceberg v2 position-delete read
# gets the same round-over-round tracking as the headline queries.
# Only the READ is timed; fixture builds are one-time driver work. ----

INTEROP = ("interop_hudi_mor_read", "interop_delta_dv_read",
           "interop_iceberg_v2del_read")

# r13 (VERDICT r12 task 7): one STREAMING drain per format over the
# same scaled fixtures — the r12 Arrow-batch read() refactor gets
# round-over-round tracking at 10x data.  Each timed pass starts a
# fresh query (fresh offsets), drains everything, stops.
STREAM_INTEROP = ("interop_delta_cdf_stream",
                  "interop_hudi_incr_stream",
                  "interop_iceberg_appends_stream")


def _build_interop(spark, sf_dir: str, root: str) -> None:
    from pyspark.sql import functions as F

    from padawan_spark.functions.delta import (add_dv_fixture,
                                               write_delta_fixture)
    from padawan_spark.functions.hudi import (write_hudi_delta_fixture,
                                              write_hudi_fixture)
    from padawan_spark.functions.iceberg import write_iceberg_fixture
    orders = (spark.read.parquet(os.path.join(sf_dir,
                                              "orders.parquet"))
              .where(F.col("o_orderkey") % 5 == 0)
              .select(F.col("o_orderkey").cast("bigint").alias("k"),
                      F.col("o_custkey").cast("bigint").alias("c"),
                      F.col("o_totalprice").cast("double").alias("p"))
              .orderBy("k"))
    n = orders.count()
    # hudi MOR: base commit + a ~1%-of-keys delta upsert + deletes
    h = os.path.join(root, "hudi")
    write_hudi_fixture(spark, orders, h)
    write_hudi_delta_fixture(
        spark, h,
        upserts=orders.where(F.col("k") % 97 == 0)
        .withColumn("p", F.lit(-1.0)),
        deletes=[str(r["k"]) for r in
                 orders.where(F.col("k") % 131 == 0)
                 .select("k").collect()])
    # delta with a deletion vector over ~1% of positions
    d = os.path.join(root, "delta")
    write_delta_fixture(spark, orders, d, order_by=("k",))
    rel = next(f for f in sorted(os.listdir(d))
               if f.endswith(".parquet"))
    add_dv_fixture(d, {rel: list(range(0, n, 97))})
    # iceberg v2 position deletes over ~1% of positions
    i = os.path.join(root, "iceberg")
    write_iceberg_fixture(spark, orders, i, order_by=("k",))
    write_iceberg_fixture(
        spark, None, i,
        delete_positions={"data/snap1-0.parquet":
                          list(range(0, n, 97))})
    with open(os.path.join(root, "_done"), "w") as fh:
        fh.write("ok")


def interop_queries(spark, sf_dir: str) -> dict:
    """``{name: zero-arg timed callable}`` for this scale's interop
    reads — the fixture build happens once, outside timing."""
    import hashlib

    from pyspark.sql import functions as F

    from padawan_spark.functions.delta import read_delta
    from padawan_spark.functions.hudi import read_hudi
    from padawan_spark.functions.iceberg import read_iceberg
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:8]
    root = f"/tmp/padawan_interop_{tag}"
    if not os.path.exists(os.path.join(root, "_done")):
        os.makedirs(root, exist_ok=True)
        _build_interop(spark, sf_dir, root)

    def agg(df):
        return df.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("p").alias("s")).collect()

    from padawan_spark.sources import register_python_sources
    register_python_sources(spark)
    import uuid as _uuid

    def drain(fmt: str, path: str, **opts):
        name = "sfb_" + _uuid.uuid4().hex[:10]
        src = spark.readStream.format(fmt).option("path", path)
        for k, v in opts.items():
            src = src.option(k, v)
        q = (src.load().writeStream.format("memory")
             .queryName(name).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name).count()

    return {
        "interop_hudi_mor_read": lambda: agg(
            read_hudi(spark, os.path.join(root, "hudi"))),
        "interop_delta_dv_read": lambda: agg(
            read_delta(spark, os.path.join(root, "delta"))),
        "interop_iceberg_v2del_read": lambda: agg(
            read_iceberg(spark, os.path.join(root, "iceberg"))),
        # streaming drains (r13): full-history drain per trigger run —
        # CDF replays create + DV-delete commits, Hudi walks both
        # instants' slices, Iceberg appends skip the delete snapshot
        "interop_delta_cdf_stream": lambda: drain(
            "padawan_delta_cdf", os.path.join(root, "delta")),
        "interop_hudi_incr_stream": lambda: drain(
            "padawan_hudi_incremental", os.path.join(root, "hudi")),
        "interop_iceberg_appends_stream": lambda: drain(
            "padawan_iceberg_appends", os.path.join(root, "iceberg"),
            skipDeleteSnapshots="true"),
    }


def main() -> None:
    from padawan_spark import get_spark
    from padawan_spark.queries import QUERIES

    spark = get_spark(app_name="padawan-sf1-bench", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.isdir(os.path.join(BIG, "lineitem.parquet")):
        t0 = time.perf_counter()
        make_sfbig(spark)
        print(f"synthesized {BIG} in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)

    warm(spark, HEADLINE)

    def timed(name: str, sf_dir: str) -> tuple[float, int]:
        fn = QUERIES[name]
        # memoized one-time writes: the bucketed-join WRITE is the
        # measured investment (single pass); the _read steady-state
        # queries get one untimed call so the fixture write never
        # pollutes the timing (same policy as bench.py)
        if name.endswith("_read"):
            try:
                fn(spark, sf_dir).collect()
            except Exception:
                pass
        passes = 1 if name == "scale_bucketed_join" else \
            (3 if name in ITERATIVE else 2)
        best = None
        n_out = 0
        for _ in range(passes):
            t0 = time.perf_counter()
            n_out = len(fn(spark, sf_dir).collect())
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 3), n_out

    rows = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        t_small, n_small = timed(name, SF01)
        t_big, n_big = timed(name, BIG)
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        # rows-out at both scales (r14, VERDICT r13 task 4): a
        # super-linear wall-clock ratio whose OUTPUT grew the same
        # way is output-driven by the record, not by argument
        rows[name] = {"sf0.1_s": t_small, "sf1_s": t_big,
                      "ratio": ratio,
                      "rows_sf0.1": n_small, "rows_sf1": n_big,
                      "rows_ratio": (round(n_big / n_small, 2)
                                     if n_small else None)}

    # interop reads (r12): min-of-2 warm passes per scale, fixtures
    # pre-built outside timing (plus one untimed warm call each)
    iq_small = interop_queries(spark, SF01)
    iq_big = interop_queries(spark, BIG)

    def timed_call(fn) -> float:
        fn()                                  # warm (plan, codegen)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
        return round(best, 3)

    for name in INTEROP + STREAM_INTEROP:
        t_small = timed_call(iq_small[name])
        t_big = timed_call(iq_big[name])
        ratio = round(t_big / t_small, 2) if t_small > 0 else None
        rows[name] = {"sf0.1_s": t_small, "sf1_s": t_big,
                      "ratio": ratio}

    flagged = [n for n, r in rows.items()
               if r["ratio"] is not None and r["ratio"] > FLAG_RATIO]
    out = {
        "smoke": "sf1_headline_bench",
        "copies": COPIES,
        "total_sf0.1_s": round(sum(r["sf0.1_s"] for r in rows.values()), 3),
        "total_sf1_s": round(sum(r["sf1_s"] for r in rows.values()), 3),
        "flag_ratio": FLAG_RATIO,
        "flagged": flagged,
        "queries": rows,
    }
    # markdown table for SCALE_SMOKE.md on stderr, JSON line on stdout
    print("| query | sf0.1 | sf1 (10x) | ratio | rows out 0.1→1 |",
          file=sys.stderr)
    print("|---|---|---|---|---|", file=sys.stderr)
    for n, r in rows.items():
        mark = " ⚠" if n in flagged else ""
        ro = (f"{r['rows_sf0.1']}→{r['rows_sf1']} "
              f"({r['rows_ratio']}×)"
              if r.get("rows_sf1") is not None else "—")
        print(f"| {n} | {r['sf0.1_s']} s | {r['sf1_s']} s "
              f"| {r['ratio']}×{mark} | {ro} |", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
