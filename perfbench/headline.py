"""``headline``: registry queries, each built then collected.

Eight of the 21 queries ``bench.py`` calls headline, one or two from each
family, chosen so a warm-up and three passes fit in well under a minute;
``op_pruned_scan_read`` is left out because its 512-file fixture alone
takes longer than a pass (the pruned scan is timed in the lifecycle
workload).  The names and families are kept here, not imported, so a
change to any other list in the repository cannot change the workload.
"""

from __future__ import annotations

import random
import re

from check import connect, duck_rows, same, spark_rows
from harness import Op, covered

# family -> queries; a pass runs every query once, in a seeded order
FAMILIES = {
    "relational": ["q3_shipping_priority", "q18_large_volume"],
    "analytics": ["ana_win_topn_per_group"],
    "partition": ["op_repartition_range", "scale_bucketed_join"],
    "dedup": ["dedup_segments"],
    "similarity": ["sim_knn_bruteforce"],
    "text": ["text_quality_score"],
}

# the only headline query that writes: its bucketed tables are memoized,
# so the memo is reset before every call and each pass pays the write
WRITES = {"scale_bucketed_join"}

ORDERS = 15_000         # input size: about 60k lineitem rows
WARM_UP = True          # one pass over a small copy of the inputs first
MIN_PASSES = 3          # a pass is short; the median of three is steadier


def _reset_bucketed(spark, data_dir: str) -> None:
    from padawan_spark.queries import scale
    scale._BUCKETED_DONE.pop(data_dir, None)
    suffix = re.sub(r"\W+", "_", data_dir.rstrip("/").rsplit("/", 1)[-1])
    for t in (f"b_lineitem_{suffix}", f"b_orders_{suffix}"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def setup(spark, data_dir: str, work: str, seed: int) -> dict:
    """The query order for this seed.  Memoized fixtures (the bucketed
    tables, the pruned-scan table) are built by the warm-up pass."""
    names = [(q, fam) for fam, qs in FAMILIES.items() for q in qs]
    random.Random(seed).shuffle(names)
    return {"spark": spark, "data_dir": data_dir, "names": names}


def ops(state: dict, pass_no: int) -> list[Op]:
    """One pass: every query once, in the seeded order."""
    from padawan_spark.queries import QUERIES

    spark, data_dir = state["spark"], state["data_dir"]
    out = []
    for q, fam in state["names"]:
        fn = QUERIES[q]
        out.append(Op(
            name=q, family=fam,
            kind="write" if q in WRITES else "read",
            call=lambda fn=fn: fn(spark, data_dir),
            frame=lambda df: df,
            summary=spark_rows,
            prepare=((lambda: _reset_bucketed(spark, data_dir))
                     if q in WRITES else None)))
    return out


def after_pass(state: dict, pass_no: int) -> None:
    pass


def check(records, state: dict) -> int:
    """Compare every collected result with its DuckDB oracle; returns the
    number of failed or wrong operations."""
    from padawan_spark.queries import ORACLE

    con = connect(state["data_dir"])
    want = {}
    failed = 0
    for rec in records:
        if rec.error is None:
            if rec.op not in want:
                want[rec.op] = duck_rows(con, ORACLE[rec.op])
            if same(rec.result, want[rec.op]):
                continue
            rec.error = "result differs from the DuckDB oracle"
        failed += 1
    return failed


LAYER = (["queries.build_s", "queries.build_jobs", "queries.build_driver_s"]
         + [f"family.{f}_s" for f in FAMILIES])


def layer_metrics(state: dict, records, spans, groups) -> dict[str, float]:
    """Query-construction and per-family figures of one pass."""
    from harness import GroupStats
    build = [s for s in spans if s.phase == "build"]
    jobs = [groups.get(s.group, GroupStats()).jobs for s in build]
    out = {
        "queries.build_s": sum(s.seconds for s in build),
        "queries.build_jobs": sum(len(j) for j in jobs),
        "queries.build_driver_s": sum(s.seconds - covered(s, j)
                                      for s, j in zip(build, jobs)),
    }
    for fam in FAMILIES:
        out[f"family.{fam}_s"] = sum(r.seconds for r in records
                                     if r.family == fam)
    return out
