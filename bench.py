"""Benchmark runner: times headline or named queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
Each pass is followed by a pass of the same query on a baseline tree, so
both trees are timed in the same window.

Usage:
    python3 bench.py                      # HEADLINE, plus the drain A/B
    python3 bench.py q3_shipping_priority text_tfidf   # only these

The baseline is the newest commit whose padawan_spark/ tree differs from
the tree being benched (see ``baseline_commit``).  It is extracted with
``git archive`` into a temporary directory, removed on the way out, and
driven by a child process that loads THIS file, so both trees warm up,
reset and time queries with the same code.  SPARK_GRAFT_AB=0 skips it.

Protocol per query: one warm-up pass of the whole set at sf0.001, then
the min of 3 timed passes, extended to 5 while the best is under 1 s.
Each head pass is followed by one baseline pass, and every timed pass in
either tree starts with ``reset``.

Output contract: stdout carries exactly ONE compact JSON line, kept short
so tail captures never truncate it: {"metric", "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf", "cpus_requested",
"default_parallelism", "master", "ab_prev_tree": {"round": baseline
commit, "value", "queries", "drain_2m_cdf"}}.  The cpus/master/
parallelism fields prove local[$SPARK_GRAFT_CPUS] is honored.  A failed
drain is reported on stderr as a line whose "metric" is
"bench_supplement".  Spark's console progress bar is off, so no control
characters interleave with the metric line.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tarfile
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_SF_DIR = "/root/testdata/sf0.001"
ENGINE = "padawan_spark"
DRAIN_PASSES = 3

# Headline set: scan-heavy agg, multi-join, filter-sum, semi-join-having,
# window, range-repartition, and the pipeline extensions.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume",
    "ana_win_topn_per_group",
    "op_repartition_range",
    "dedup_minhash_lsh",
    "text_quality_score",
    "sim_knn_bruteforce",
    "adv_asof_join",
    "scale_bucketed_join",       # write + join: the pre-shuffle investment
    "scale_bucketed_join_read",  # join only: the steady-state zero-exchange
    # iterative path (3-4 chained jobs each: join+agg rounds with
    # per-round localCheckpoint lineage truncation)
    "graph_pagerank_users",
    "sim_kmeans_train",
    # sub-document dedup: explode -> segment-df shuffle -> reassembly
    "dedup_segments",
    # one heavy representative per otherwise-unbenched family
    "text_tfidf",            # text analysis: two-level broadcast-df join
    "dedup_ngram_jaccard",   # df-capped verify self-join
    "ev_downsample_lttb",    # time series: two-level (series, day) window
    "sim_ann_ivfpq",         # composed IVF routing + PQ ADC scoring
    # steady-state distributed-manifest planning cost over a ~512-file
    # table (write memoized like scale_bucketed_join, so the timing
    # isolates prune+plan+agg)
    "op_pruned_scan_read",
]


def session(app_name: str, extra_conf: dict | None = None):
    """The harness's Spark session, the same in both trees of an A/B."""
    from padawan_spark import get_spark
    spark = get_spark(app_name=app_name, extra_conf={
        # no progress-bar control characters on stdout
        "spark.ui.showConsoleProgress": "false",
        # the library default is 5 min; 1 min keeps dead broadcast/RDD
        # state of 20+ queries from piling up inside one window
        "spark.cleaner.periodicGC.interval":
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        **(extra_conf or {})})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, names) -> None:
    """One untimed pass at the smallest SF (classloading, codegen, AQE
    paths, parquet readers), so timed passes measure query execution
    rather than one-time JIT cost.  A failure here resurfaces in the
    timed pass, so it is ignored."""
    from padawan_spark.queries import QUERIES
    for name in names:
        if name in QUERIES:
            try:
                QUERIES[name](spark, WARM_SF_DIR).collect()
            except Exception:
                pass


def reset(spark, name: str, sf_dir: str) -> None:
    """Run before every timed pass.  Clearing the CacheManager keeps a
    pass from reading blocks an earlier pass cached: the registry
    queries cache nothing, but an older baseline tree may; dropping
    the memoized bucketed tables makes every ``scale_bucketed_join``
    pass pay the write it exists to measure, so min-of-N compares like
    with like."""
    spark.catalog.clearCache()
    if name == "scale_bucketed_join":
        import re

        from padawan_spark.queries import scale
        scale._BUCKETED_DONE.pop(sf_dir, None)
        suf = re.sub(r"[^0-9A-Za-z_]+", "_",
                     sf_dir.rstrip("/").rsplit("/", 1)[-1])
        for t in (f"b_lineitem_{suf}", f"b_orders_{suf}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def time_query(spark, name: str, sf_dir: str) -> float:
    """Seconds for one reset-then-``collect()`` pass of ``name``."""
    from padawan_spark.queries import QUERIES
    reset(spark, name, sf_dir)
    t0 = time.perf_counter()
    QUERIES[name](spark, sf_dir).collect()
    return round(time.perf_counter() - t0, 3)


def serve(names: list[str], sf_dir: str) -> None:
    """Baseline side of the A/B: warm up, print READY, then answer each
    query name read from stdin with one {"sec": ...} line."""
    spark = session("padawan-bench-baseline")
    warm(spark, names)
    print("READY", flush=True)
    for line in sys.stdin:
        try:
            sec = time_query(spark, line.strip(), sf_dir)
        except Exception:
            sec = None
        print(json.dumps({"sec": sec}), flush=True)
    spark.stop()


def baseline_commit(repo: str = HERE) -> str | None:
    """Newest commit whose padawan_spark/ tree differs from the tree
    being benched: HEAD when padawan_spark/ has uncommitted edits, else
    the newest ancestor whose tree differs from HEAD's.  Commit subjects
    play no part.  None when there is no such commit or no git."""
    def git(*args: str, stdin: str | None = None) -> str:
        return subprocess.run(["git", *args], cwd=repo, input=stdin,
                              capture_output=True, text=True,
                              check=True, timeout=60).stdout
    try:
        if git("status", "--porcelain", "--", ENGINE).strip():
            return git("rev-parse", "HEAD").strip()
        commits = git("rev-list", "HEAD").split()
        trees = git("cat-file", "--batch-check=%(objectname)",
                    stdin="".join(f"{c}:{ENGINE}\n" for c in commits)
                    ).splitlines()
    except (OSError, subprocess.CalledProcessError):
        return None
    for commit, tree in zip(commits, trees):
        if tree != trees[0]:
            # an ancestor without padawan_spark/ has no engine to time
            return None if tree.endswith(" missing") else commit
    return None


# The baseline child: load this file by path (the checkout's own copy may
# differ) while padawan_spark imports resolve to the checkout, its cwd.
_CHILD = """
import importlib.util, json, sys
spec = importlib.util.spec_from_file_location("bench", sys.argv[1])
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
bench.serve(json.loads(sys.argv[2]), sys.argv[3])
"""


class Baseline:
    """A baseline commit extracted into a temporary directory and timed
    by a child process.  Use it as a context manager: leaving the block
    stops the child and removes the directory, even when the child has
    died."""

    def __init__(self, commit: str, names: list[str], sf_dir: str):
        self.dir = tempfile.mkdtemp(prefix="padawan_baseline_")
        self.proc = None
        try:
            tar = subprocess.run(["git", "archive", commit], cwd=HERE,
                                 capture_output=True, check=True,
                                 timeout=120).stdout
            with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
                tf.extractall(self.dir, filter="data")
            env = {k: v for k, v in os.environ.items()
                   if not k.startswith("PYSPARK_GATEWAY_")}
            self.proc = subprocess.Popen(
                [sys.executable, "-c", _CHILD, os.path.abspath(__file__),
                 json.dumps(names), sf_dir],
                cwd=self.dir, env=env, text=True, stdin=subprocess.PIPE,
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        except BaseException:
            self.__exit__()
            raise
        if not self._reply("READY"):
            self.stop()

    def __enter__(self) -> Baseline:
        return self

    def __exit__(self, *exc) -> None:
        self.stop()
        shutil.rmtree(self.dir, ignore_errors=True)

    def _reply(self, prefix: str, timeout: float = 600.0) -> str:
        """The child's next stdout line starting with ``prefix``, skipping
        anything else (its JVM shares the pipe); "" once the child is
        gone or has been silent for ``timeout`` seconds."""
        while True:
            out: list[str] = []
            th = threading.Thread(
                target=lambda: out.append(self.proc.stdout.readline()),
                daemon=True)
            th.start()
            th.join(timeout)
            if not out or not out[0] or out[0].startswith(prefix):
                return out[0] if out else ""

    def time_query(self, name: str) -> float | None:
        """One baseline pass of ``name``; None once the child is gone."""
        if self.proc is None:
            return None
        try:
            self.proc.stdin.write(name + "\n")
            self.proc.stdin.flush()
        except OSError:
            self.stop()
            return None
        line = self._reply("{")
        if not line:
            self.stop()
            return None
        return json.loads(line)["sec"]

    def stop(self) -> None:
        if self.proc is None:
            return
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc = None


def _min(best: float | None, sec: float | None) -> float | None:
    return best if sec is None else sec if best is None else min(best, sec)


def _time_drain(cwd: str) -> float | None:
    """One full drain of the 2M-row CDF backfill stream
    (tests/scale_smoke_batch.py) in a subprocess rooted at ``cwd``, so
    each drain has its own SparkSession and neither tree's JVM warmth
    leaks into the other.  A failure is reported, not hidden: a broken
    drain must be distinguishable from an absent script."""
    script = os.path.join(cwd, "tests", "scale_smoke_batch.py")
    if not os.path.exists(script):
        return None
    try:
        r = subprocess.run([sys.executable, script], cwd=cwd,
                           capture_output=True, text=True, timeout=600)
        rec = json.loads(r.stdout.strip().splitlines()[-1])
        if rec.get("sum_ok"):
            return rec.get("drain_sec")
        reason = f"sum_ok false: {rec}"
    except Exception as e:
        reason = repr(e)
    print(json.dumps({"metric": "bench_supplement",
                      "drain_error": {"cwd": cwd, "reason": reason[:400]}},
                     separators=(",", ":")), file=sys.stderr, flush=True)
    return None


def main(names: list[str]) -> None:
    from padawan_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {' '.join(unknown)}")
    full_run = not names
    names = names or HEADLINE

    spark = session("padawan-bench")
    warm(spark, names)

    ab_on = os.environ.get("SPARK_GRAFT_AB", "1") != "0"
    commit = baseline_commit() if ab_on else None
    timings: dict[str, float] = {}
    timings_prev: dict[str, float] = {}
    drain_head = drain_prev = None
    with (Baseline(commit, names, SF_DIR) if commit
          else contextlib.nullcontext()) as base:
        for name in names:
            best = pbest = None
            done = 0
            while done < 3 or (done < 5 and best < 1.0):
                best = _min(best, time_query(spark, name, SF_DIR))
                if base is not None:
                    pbest = _min(pbest, base.time_query(name))
                done += 1
            timings[name] = best
            if pbest is not None:
                timings_prev[name] = pbest
        # the 2M-row stream drain, interleaved between the trees
        if full_run and ab_on:
            for _ in range(DRAIN_PASSES):
                drain_head = _min(drain_head, _time_drain(HERE))
                if base is not None:
                    drain_prev = _min(drain_prev, _time_drain(base.dir))

    sc = spark.sparkContext
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        sf_val = float(SF_DIR.rstrip("/").split("sf")[-1])
    except ValueError:
        sf_val = None
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus_requested": int(cpus_env) if (cpus_env or "").isdigit()
        else cpus_env,
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
    }
    if timings_prev or drain_head is not None:
        ab: dict = {"round": commit}
        if timings_prev:
            ab["value"] = round(sum(timings_prev.values()), 3)
            ab["queries"] = timings_prev
        if drain_head is not None:
            ab["drain_2m_cdf"] = {"head_sec": drain_head,
                                  "prev_sec": drain_prev,
                                  "passes": DRAIN_PASSES}
        out["ab_prev_tree"] = ab
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
