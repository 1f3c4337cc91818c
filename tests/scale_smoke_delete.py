"""Scale smoke: copy-on-write DELETE against the many-file pruned-scan
fixture (the GDPR-delete-at-scale story, made measurable).

Builds the ~512-file date-indexed orders manifest table from
``$SMOKE_DIR`` (default ``/tmp/padawan_sfbig``, the 10x dataset), then
deletes a ONE-DAY index window and asserts the rewrite set is EXACTLY
the manifest-bound-overlapping files — no full-table rewrite, no file
outside the window touched.  Prints a JSON line with file counts,
bytes rewritten vs table bytes, and wall-clock, for SCALE_SMOKE.md.

Run: ``python3 tests/scale_smoke_delete.py``
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE_DIR = os.environ.get("SMOKE_DIR", "/tmp/padawan_sfbig")
DAY = dt.datetime(1997, 3, 15)


def main() -> None:
    from padawan_spark import (delete_rows, get_spark, scan_parquet,
                               scan_parquet_pruned)
    from padawan_spark import metadata as meta
    from padawan_spark.dataset import _overlaps
    from padawan_spark.queries.operators import _ensure_pruned_table

    spark = get_spark(app_name="padawan-smoke-delete", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    # a registry fixture is read-only to queries; the commits below
    # rewrite it, which is safe as this process is its only reader
    target = _ensure_pruned_table(spark, SMOKE_DIR)
    build_s = round(time.perf_counter() - t0, 3)

    man = meta.load_manifest(target)
    files_before = list(man.files)
    bytes_before = {f: os.path.getsize(os.path.join(target, f))
                    for f in files_before}
    rows_before = scan_parquet(spark, target).df.count()

    # the files whose manifest bounds overlap the one-day window — the
    # ONLY files delete_rows is allowed to rewrite (same _overlaps
    # predicate delete_rows itself plans with, window [DAY, DAY+1))
    w_lb, w_ub = (DAY,), (DAY + dt.timedelta(days=1),)
    expect_rewrite = {
        f for f, lb, ub in zip(man.files, man.lower_bounds, man.upper_bounds)
        if _overlaps(lb, ub, w_lb, w_ub, True, False)}

    t0 = time.perf_counter()
    out = delete_rows(spark, target, w_lb, w_ub, inclusive="lower")
    delete_s = round(time.perf_counter() - t0, 3)

    after = set(meta.load_manifest(target).files)
    removed = set(files_before) - after
    assert removed == expect_rewrite, (
        f"rewrite set mismatch: removed {len(removed)} files, manifest "
        f"bounds said {len(expect_rewrite)} overlap")
    untouched = set(files_before) & after
    assert len(untouched) == len(files_before) - len(expect_rewrite)

    rows_after = out.df.count()
    new_files = after - set(files_before)
    rewritten_bytes = sum(os.path.getsize(os.path.join(target, f))
                          for f in new_files)

    # steady-state pruned planning still works on the post-delete manifest
    t0 = time.perf_counter()
    probe = scan_parquet_pruned(
        spark, target, (dt.datetime(1997, 1, 1),),
        (dt.datetime(1997, 6, 30),), inclusive="both").df.count()
    pruned_read_s = round(time.perf_counter() - t0, 3)

    # copy-on-write MERGE at the same scale: re-insert the deleted day
    # (every key lands in the gap, plus boundary-file updates) and
    # assert the rewrite stays file-surgical
    from padawan_spark import merge_rows
    from padawan_spark.dataset import Dataset
    from pyspark.sql import functions as SF
    n_ins = rows_before - rows_after
    day_rows = (spark.range(n_ins)
                .select((SF.col("id") + 900_000_000).alias("o_orderkey"),
                        (SF.col("id") % 1000).alias("o_custkey"),
                        SF.lit("X").alias("o_orderstatus"),
                        (SF.lit(DAY)
                         + SF.make_dt_interval(secs=SF.col("id")))
                        .alias("o_orderdate")))
    batch = Dataset(spark, day_rows, index_columns=("o_orderdate",))
    man2 = meta.load_manifest(target)
    files_pre_merge = set(man2.files)
    t0 = time.perf_counter()
    merged = merge_rows(spark, target, batch)
    merge_s = round(time.perf_counter() - t0, 3)
    man3 = meta.load_manifest(target)
    merge_untouched = len(files_pre_merge & set(man3.files))
    rows_final = merged.df.count()
    assert rows_final == rows_before, (rows_final, rows_before)
    merged.assert_disjoint()

    # second merge: a key COLLISION — one batch row at an existing
    # index key replaces every row sharing it, forcing the rewrite
    # path; the rewrite set must be exactly the bound-overlapping files
    day2 = dt.datetime(1997, 5, 1)
    n_key = merged.df.where(SF.col("o_orderdate") == SF.lit(day2)).count()
    man_pre2 = meta.load_manifest(target)
    expect2 = {
        f for f, lb, ub in zip(man_pre2.files, man_pre2.lower_bounds,
                               man_pre2.upper_bounds)
        if _overlaps(lb, ub, (day2,), (day2,), True, True)}
    upd = spark.createDataFrame(
        [(999_999_999, 7, "U", day2)],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_orderdate timestamp")
    t0 = time.perf_counter()
    merged2 = merge_rows(spark, target,
                         Dataset(spark, upd,
                                 index_columns=("o_orderdate",)))
    merge2_s = round(time.perf_counter() - t0, 3)
    man4 = meta.load_manifest(target)
    removed2 = set(man_pre2.files) - set(man4.files)
    assert removed2 == expect2, (len(removed2), len(expect2))
    assert merged2.df.count() == rows_final - n_key + 1
    merged2.assert_disjoint()

    # --- CDF chain: read_changes over the delete → merge → merge2
    # history must read ONLY the files those commits added or removed
    # (the docstring's O(changed files) claim, asserted via inputFiles),
    # and the per-commit change counts must match the operations above.
    from padawan_spark import list_versions, read_changes
    vs = list_versions(target)
    v0 = vs[0]                       # the pre-delete snapshot
    changed_files: set[str] = set()
    span = [v for v in vs if v0 <= v <= vs[-1]]
    for a, b in zip(span, span[1:]):
        fa = set(meta.load_manifest(target, version=a).files)
        fb = set(meta.load_manifest(target, version=b).files)
        changed_files |= (fa ^ fb)
    chg = read_changes(spark, target, v0)
    t0 = time.perf_counter()
    by = {(r["_commit_version"], r["_change_type"]): r["n"]
          for r in chg.groupBy("_commit_version", "_change_type")
          .agg(SF.count(SF.lit(1)).alias("n")).collect()}
    cdf_s = round(time.perf_counter() - t0, 3)
    read_set = {os.path.basename(f) for f in chg.inputFiles()}
    assert read_set == changed_files, (
        f"CDF read {len(read_set)} files, commits changed "
        f"{len(changed_files)}")
    assert len(changed_files) < len(files_before) // 10, (
        "CDF input not O(changed files): "
        f"{len(changed_files)} vs table {len(files_before)}")
    v_del, v_mrg, v_mrg2 = span[1], span[2], span[3]
    n_del = rows_before - rows_after
    assert by.get((v_del, "delete")) == n_del, by
    assert by.get((v_mrg, "insert")) == n_ins, by
    assert by.get((v_mrg2, "update_preimage")) == n_key, by
    assert by.get((v_mrg2, "update_postimage")) == 1, by
    assert sum(by.values()) == n_del + n_ins + n_key + 1, by

    # --- incremental MV chain: a full refresh pays one table
    # aggregate; after ONE more surgical commit, the incremental
    # refresh must (a) produce exactly the direct aggregate of the
    # live table and (b) commit via merge (MV version advances — a
    # full-recompute fallback would reset the MV history to v1).
    from padawan_spark import refresh_aggregate
    mv = target + "_mv"
    t0 = time.perf_counter()
    refresh_aggregate(spark, target, mv, keys=("o_custkey",),
                      sum_cols=("o_orderkey",))
    mv_full_s = round(time.perf_counter() - t0, 3)
    day3 = dt.datetime(1997, 8, 20)
    merge_rows(spark, target, Dataset(
        spark,
        spark.createDataFrame(
            [(888_888_888, 42, "I", day3)],
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_orderdate timestamp"),
        index_columns=("o_orderdate",)))
    t0 = time.perf_counter()
    mv_ds = refresh_aggregate(spark, target, mv, keys=("o_custkey",),
                              sum_cols=("o_orderkey",))
    mv_incr_s = round(time.perf_counter() - t0, 3)
    assert meta.list_versions(mv)[-1] == 2, (
        "incremental refresh must merge (v2), not full-recompute",
        meta.list_versions(mv))
    truth = {(r["o_custkey"], r["cnt"], r["sum_o_orderkey"]) for r in
             scan_parquet(spark, target).df.groupBy("o_custkey")
             .agg(SF.count(SF.lit(1)).cast("bigint").alias("cnt"),
                  SF.sum("o_orderkey").alias("sum_o_orderkey"))
             .collect()}
    got = {(r["o_custkey"], r["cnt"], r["sum_o_orderkey"]) for r in
           mv_ds.df.where("cnt > 0").collect()}
    assert got == truth, (len(got), len(truth))

    # --- bloom point-lookup chain: build the per-file bloom of a
    # NON-index column over the ~513-file table, then a point lookup
    # must read only bloom-admitted files while a plain scan reads all.
    from padawan_spark import build_bloom_index, scan_point_lookup
    t0 = time.perf_counter()
    build_bloom_index(spark, target, "o_custkey")
    bloom_build_s = round(time.perf_counter() - t0, 3)
    probe_key = 371
    t0 = time.perf_counter()
    hit = scan_point_lookup(spark, target, "o_custkey", probe_key)
    n_hit = hit.count()
    bloom_lookup_s = round(time.perf_counter() - t0, 3)
    bloom_files_read = len(hit.inputFiles())
    n_table_files = len(meta.load_manifest(target).files)
    t0 = time.perf_counter()
    n_full = (scan_parquet(spark, target).df
              .where(SF.col("o_custkey") == probe_key).count())
    full_lookup_s = round(time.perf_counter() - t0, 3)
    assert n_hit == n_full, (n_hit, n_full)     # no false negatives
    assert bloom_files_read < n_table_files, (
        bloom_files_read, n_table_files)

    print(json.dumps({
        "smoke": "delete_one_day_window",
        "sf_dir": SMOKE_DIR,
        "table_files": len(files_before),
        "files_rewritten": len(expect_rewrite),
        "files_untouched": len(untouched),
        "rows_deleted": rows_before - rows_after,
        "table_bytes": sum(bytes_before.values()),
        "affected_bytes": sum(bytes_before[f] for f in expect_rewrite),
        "rewritten_bytes": rewritten_bytes,
        "build_table_s": build_s,
        "delete_s": delete_s,
        "pruned_read_after_delete_s": pruned_read_s,
        "pruned_read_rows": probe,
        "merge_rows_inserted": n_ins,
        "merge_files_untouched": merge_untouched,
        "merge_files_total_before": len(files_pre_merge),
        "merge_s": merge_s,
        "merge2_keys_replaced": n_key,
        "merge2_files_rewritten": len(expect2),
        "merge2_s": merge2_s,
        "cdf_files_read": len(changed_files),
        "cdf_change_rows": sum(by.values()),
        "cdf_s": cdf_s,
        "mv_full_refresh_s": mv_full_s,
        "mv_incremental_refresh_s": mv_incr_s,
        "bloom_build_s": bloom_build_s,
        "bloom_files_read": bloom_files_read,
        "bloom_table_files": n_table_files,
        "bloom_lookup_s": bloom_lookup_s,
        "bloom_lookup_rows": n_hit,
        "full_scan_lookup_s": full_lookup_s,
    }))


if __name__ == "__main__":
    main()
