"""Query profiler: for each named query, capture .explain("formatted")
into plans/r17/<name>_<tag>.txt, then time the computation with the
noop sink (computes every column of every row, no sink cost), min of N
passes, each labeled via setJobDescription.

Wall-clock on a shared box cannot resolve <2x deltas, so the profiler
ALSO records executor task-time and shuffle bytes per pass from the
Spark REST API (UI enabled on a local port): task-time is
contention-robust.  Warm-up, per-pass reset and the default query set
are bench.py's.

Usage:
    python tools/profile_r17.py <tag> [query ...]       # default: HEADLINE
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py; PROFILE_PASSES
    (default 3) and PROFILE_UI_PORT (default 4099).

Prints one JSON line {"tag": ..., "noop_sec": {...}, "task_sec": {...},
"shuffle_mb": {...}} at the end.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
import urllib.request
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import HEADLINE, SF_DIR, reset, session, warm  # noqa: E402
from padawan_spark.queries import QUERIES  # noqa: E402

PASSES = int(os.environ.get("PROFILE_PASSES", "3"))


def _stage_totals(ui: str) -> tuple[float, float]:
    """(executor task-time sec, shuffle read MB) summed over all COMPLETE
    stages of the app so far."""
    try:
        apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications",
                                                timeout=10))
        app_id = apps[0]["id"]
        stages = json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=10))
        ts = sum(s.get("executorRunTime", 0) for s in stages) / 1000.0
        sh = sum(s.get("shuffleReadBytes", 0) for s in stages) / 1e6
        return ts, sh
    except Exception:
        return 0.0, 0.0


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    port = int(os.environ.get("PROFILE_UI_PORT", "4099"))
    spark = session(f"padawan-profile-{tag}", {
        "spark.ui.enabled": "true",
        "spark.ui.port": str(port),
        "spark.ui.retainedStages": "5000",
    })
    ui = f"http://localhost:{port}"
    warm(spark, names)

    out: dict[str, float | None] = {}
    task: dict[str, float | None] = {}
    shuf: dict[str, float | None] = {}
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            out[name] = None
            continue
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan_path = os.path.join(HERE, "plans", "r17", f"{name}_{tag}.txt")
        os.makedirs(os.path.dirname(plan_path), exist_ok=True)
        with open(plan_path, "w") as fh:
            fh.write(buf.getvalue())
        best = None
        tbest = None
        sbest = None
        for i in range(PASSES):
            reset(spark, name, SF_DIR)
            spark.sparkContext.setJobDescription(f"{name} noop pass {i}")
            ts0, sh0 = _stage_totals(ui)
            t0 = time.perf_counter()
            # fresh DataFrame per pass, like bench.py's fn(...) per pass
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            el = round(time.perf_counter() - t0, 3)
            ts1, sh1 = _stage_totals(ui)
            best = el if best is None else min(best, el)
            dt = round(ts1 - ts0, 2)
            ds = round(sh1 - sh0, 2)
            tbest = dt if tbest is None else min(tbest, dt)
            sbest = ds if sbest is None else min(sbest, ds)
        spark.sparkContext.setJobDescription(None)
        out[name] = best
        task[name] = tbest
        shuf[name] = sbest
        print(json.dumps({"q": name, "noop_sec": best, "task_sec": tbest,
                          "shuffle_mb": sbest}), file=sys.stderr, flush=True)
    print(json.dumps({"tag": tag, "sf_dir": SF_DIR, "passes": PASSES,
                      "noop_sec": out, "task_sec": task,
                      "shuffle_mb": shuf}, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
