"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run generates its inputs from the seed
under ``.perfbench_work/`` in the current directory, starts one Spark
session on ``local[<cores>]``, sets up and warms the workload, then repeats
whole passes of the workload until ``--seconds`` have elapsed.  Results
are checked against DuckDB after the last pass.

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and
per-operation records go to ``.perfbench_trace/<workload>-<seed>.jsonl``.
A line on stderr gives the number of timed passes and the wall seconds of
a pass and of each operation.

End-to-end metrics:

- ``setup_s``: wall seconds from start to the first timed pass: input
  generation, session start, the workload's fixtures and warm-up.
- ``pass_cpu_s``, ``read_cpu_s``, ``write_cpu_s``: CPU seconds that the
  Spark driver (this process), its JVM and its Python workers spend on a
  pass, on its read operations and on its write operations (median over
  the passes), JIT compiler threads left out.  CPU time, not wall time,
  because wall time on a shared virtual machine moves with the time
  other tenants take from it; the wall figures are on stderr and, traced,
  among the per-layer metrics.

The Spark driver's heap retained at the end of a run is a per-layer metric
(``state.retained_heap_mb``): for identical work it settles at one of two
levels about 40 MiB apart, so no bound on it would hold.

Workloads (see ``headline.py`` and ``lifecycle.py``):

- ``headline``: the headline registry queries, each built and collected.
  Query construction and per-job scheduling dominate.
- ``dataset_lifecycle``: padawan's ``Dataset`` facade with writes next to
  reads: write an indexed table, slice, reindex, join, collate, pruned
  scan, merge, delete, compact, change feed, time travel, vacuum.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("headline", "dataset_lifecycle")
WARM_ORDERS = 1_000


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run, Spark and the queries create under
    ``work``, and pin the clock zone results are compared in."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM of the run (spark-submit's launcher included) writes its
    # performance-counter file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    os.environ["TZ"] = "UTC"
    time.tzset()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "padawan_spark", "__init__.py")):
        print("perfbench: run from the repository root (padawan_spark/ "
              "not found here)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import harness
    work = os.path.join(root, ".perfbench_work")
    isolate(work)
    try:
        result = run(args, work)
    finally:
        # no process of the run outlives it, on any way out
        harness.stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


def run(args, work: str) -> dict:
    import harness
    if args.workload == "headline":
        import headline as wl
    else:
        import lifecycle as wl
    import datagen

    trace = bool(args.trace)
    t_setup = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, args.seed, wl.ORDERS)

    t = time.perf_counter()
    from padawan_spark import get_spark
    n_cores = harness.cores()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      master=f"local[{n_cores}]",
                      extra_conf=harness.session_conf(work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t

    t = time.perf_counter()
    runner = harness.Runner(spark, trace)
    if wl.WARM_UP:
        # one pass over a small copy of the inputs loads and compiles the
        # code paths the timed passes take
        warm_dir = os.path.join(work, "warm")
        datagen.write_tables(warm_dir, args.seed, WARM_ORDERS)
        warm = wl.setup(spark, warm_dir, os.path.join(work, "warm-work"),
                        args.seed)
        runner.run_pass(wl.ops(warm, -1), -1)
    state = wl.setup(spark, data_dir, work, args.seed)
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - t_setup

    t0 = time.perf_counter()
    passes = 0
    while passes < wl.MIN_PASSES or time.perf_counter() - t0 < args.seconds:
        runner.run_pass(wl.ops(state, passes), passes)
        wl.after_pass(state, passes)
        passes += 1

    heap_mb = harness.retained_heap_mb(spark) if trace else None
    spark.stop()

    timed = [r for r in runner.records if r.pass_no >= 0]
    failed = wl.check(timed, state)
    per_pass = {p: [r for r in timed if r.pass_no == p] for p in range(passes)}

    def median_sum(field: str, kind: str | None = None) -> float:
        """Median over the passes of ``field`` summed over a pass's
        operations (of one kind, if given)."""
        return harness.median(
            sum(getattr(r, field) for r in recs if kind in (None, r.kind))
            for recs in per_pass.values())

    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_cpu_s": (median_sum("cpu_s"), "s"),
            "read_cpu_s": (median_sum("cpu_s", "read"), "s"),
            "write_cpu_s": (median_sum("cpu_s", "write"), "s"),
        }
    else:
        import headline
        import lifecycle
        groups = harness.spark_by_group(os.path.join(work, "eventlog"))
        layer = []
        for p, recs in per_pass.items():
            spans = [s for s in runner.spans if s.pass_no == p]
            d = dict.fromkeys(headline.LAYER + lifecycle.LAYER, 0.0)
            d.update(harness.common_layer(recs, spans, groups, n_cores))
            d.update(wl.layer_metrics(state, recs, spans, groups))
            layer.append(d)
        metrics = {k: (statistics.median(d[k] for d in layer), u)
                   for k, u in layer_units(layer[0]).items()}
        metrics["state.retained_heap_mb"] = (heap_mb, "MiB")
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.warm_s"] = (warm_s, "s")
        metrics["trace.pass_s"] = (median_sum("seconds"), "s")
        metrics["trace.pass_cpu_s"] = (median_sum("cpu_s"), "s")
        out = os.path.join(os.getcwd(), ".perfbench_trace",
                           f"{args.workload}-{args.seed}.jsonl")
        harness.write_trace(out, runner.records, runner.spans, groups)
        print(f"perfbench: per-operation trace in {out}", file=sys.stderr)

    ops_s: dict[str, list[float]] = {}
    for rec in timed:
        ops_s.setdefault(rec.op, []).append(rec.seconds)
    print(f"perfbench: {passes} timed passes; wall seconds: pass "
          f"{median_sum('seconds'):.3f}, read "
          f"{median_sum('seconds', 'read'):.3f}, write "
          f"{median_sum('seconds', 'write'):.3f}; median wall "
          "seconds per operation: " + json.dumps(
              {k: round(statistics.median(v), 3) for k, v in ops_s.items()}),
          file=sys.stderr)
    for rec in timed:
        if rec.error:
            print(f"perfbench: {rec.op} (pass {rec.pass_no}) failed: "
                  f"{rec.error}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def layer_units(sample: dict) -> dict[str, str]:
    """Unit of each per-layer metric, from its name."""
    def unit(name: str) -> str:
        if name.endswith("_s") or "_s." in name:
            return "s"
        if "bytes" in name:
            return "B"
        if "ratio" in name or "util" in name or name.endswith("_amp"):
            return "ratio"
        return "count"
    return {k: unit(k) for k in sample}


if __name__ == "__main__":
    sys.exit(main())
