"""``dataset_lifecycle``: padawan's ``Dataset`` facade, writes next to reads.

One pass builds an indexed lineitem table in a fresh directory, reads it
every way the facade offers, rewrites it (merge, delete, compact), reads
its change feed and an old snapshot, and vacuums it.  Sizes are fixed
constants; the seed picks the slice ranges, the merge batch and the delete
range.  The table is keyed by ``(l_orderkey, l_linenumber)``, which the
generated data keeps unique, because ``merge_rows`` upserts by index key.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from check import cell
from harness import Op, covered

ORDERS = 7_500          # source table: about 30k lineitem rows
FILES = 8               # data files written by write_parquet
SLICES = 2              # seeded slices per pass
# A pass is timed in a fresh session, as a scheduled maintenance job runs:
# a warm-up pass would cost as much again as the timed one.
WARM_UP = False
MIN_PASSES = 1
BATCH = 400             # merge batch: half updates, half inserts
# widths of the seeded orderkey ranges, as shares of the key space
SLICE_SHARE = 1 / 25
BATCH_SHARE = 1 / 16    # the updates fall in one window
DELETE_SHARE = 1 / 50
IX = ("l_orderkey", "l_linenumber")

CALLS = ("write_parquet", "slice", "reindex_prefix", "reindex_full", "join",
         "collate", "scan_parquet_pruned", "merge_rows", "delete_rows",
         "compact_parquet", "read_changes", "scan_parquet_version", "vacuum")

LAYER = ([f"dataset.{c}_{m}" for c in CALLS for m in ("s", "jobs", "driver_s")]
         + ["dataset.slice_files_kept_ratio", "dataset.files_rewritten",
            "metadata.versions", "metadata.manifest_bytes",
            "storage.bytes_written", "storage.files_written",
            "storage.bytes_on_disk", "storage.write_amp",
            "storage.space_amp"])


def setup(spark, data_dir: str, work: str, seed: int) -> dict:
    """Seeded ranges and the merge batch (written next to the inputs)."""
    rng = random.Random(seed)
    src = os.path.join(data_dir, "lineitem.parquet")
    table = pq.read_table(src)
    n = table.num_rows
    keys = table["l_orderkey"].to_pylist()
    orders = max(keys) + 1

    def span(share):
        width = max(1, int(orders * share))
        lo = rng.randrange(0, orders - width)
        return lo, lo + width

    lo, hi = span(BATCH_SHARE)
    window = [i for i, k in enumerate(keys) if lo <= k < hi]
    batch = table.take(sorted(rng.sample(window, BATCH // 2)))
    batch = batch.set_column(
        batch.schema.get_field_index("l_quantity"), "l_quantity",
        pc.add(batch["l_quantity"], 100.0))
    ins = table.take(sorted(rng.sample(range(n), BATCH - BATCH // 2)))
    ins = ins.set_column(0, "l_orderkey",
                         pa.array(range(orders, orders + ins.num_rows),
                                  pa.int64()))
    batch_path = os.path.join(data_dir, "batch.parquet")
    pq.write_table(pa.concat_tables([batch, ins]), batch_path)

    return {
        "spark": spark, "src": src, "batch": batch_path,
        "orders": os.path.join(data_dir, "orders.parquet"),
        "tables": os.path.join(work, "tables"),
        "rows": n,
        "slices": [span(SLICE_SHARE) for _ in range(SLICES)],
        "pruned": span(SLICE_SHARE),
        "delete": span(DELETE_SHARE),
        "facts": {},            # pass_no -> storage/metadata facts
        "finals": {},           # pass_no -> files of the final snapshot
    }


def _agg(df):
    from pyspark.sql import functions as F
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .cast("double").alias("price"),
                  F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                  .cast("double").alias("qty"))


def _rows(rows):
    return sorted(tuple(cell(v) for v in r) for r in rows)


def _data_files(path: str) -> dict[str, int]:
    return {f: os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))}


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes of data files, bytes of everything else) under ``path``."""
    data = sum(_data_files(path).values())
    total = sum(os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(path) for f in fs)
    return data, total - data


def ops(state: dict, pass_no: int) -> list[Op]:
    """One pass over a fresh table directory."""
    from pyspark.sql import functions as F

    from padawan_spark import (Dataset, compact_parquet, delete_rows,
                               merge_rows, read_changes, scan_parquet,
                               scan_parquet_pruned, vacuum)
    from padawan_spark.metadata import list_versions

    spark = state["spark"]
    path = os.path.join(state["tables"], f"pass{pass_no}")
    rows_per_file = -(-state["rows"] // FILES)
    facts = state["facts"].setdefault(pass_no, {
        "kept": 0, "total": 0, "written": {}, "initial": 0,
        "rewritten": 0})

    def wrote(ds):
        """Record the data files this write added (outside the spans);
        the result is the row count the new snapshot declares."""
        now = _data_files(path)
        new = {f: b for f, b in now.items() if f not in facts["written"]}
        if facts["written"]:
            facts["rewritten"] += len(new)
        else:
            facts["initial"] = sum(new.values())
        facts["written"].update(new)
        return sum(ds.sizes)

    def kept(ds):
        facts["kept"] += len(ds._files)
        facts["total"] += len(_data_files(path))
        return _agg(ds.df)

    def before_vacuum():
        data, meta = _tree_bytes(path)
        from padawan_spark.metadata import load_manifest
        live = load_manifest(path).files
        facts.update(versions=len(list_versions(path)), manifest_bytes=meta,
                     on_disk=data + meta,
                     referenced=sum(os.path.getsize(os.path.join(path, f))
                                    for f in live))

    def table():
        return scan_parquet(spark, path)

    orders = (spark.read.parquet(state["orders"])
              .withColumnRenamed("o_orderkey", "l_orderkey")
              .select("l_orderkey", "o_orderpriority"))
    batch = Dataset(spark, spark.read.parquet(state["batch"]),
                    index_columns=IX)
    out = [Op("write_parquet", "write",
              lambda: Dataset(spark, spark.read.parquet(state["src"]),
                              index_columns=IX)
              .repartition(rows_per_file)
              .write_parquet(path, manifest_table=True),
              summary=wrote)]
    for lo, hi in state["slices"]:
        out.append(Op("slice", "read",
                      lambda lo=lo, hi=hi: table().slice((lo,), (hi,)),
                      frame=kept, summary=_rows))
    out += [
        Op("reindex_prefix", "read",
           lambda: table().reindex(("l_orderkey",)),
           summary=lambda ds: (ds.index_columns, ds.known_bounds,
                               sum(ds.sizes))),
        Op("reindex_full", "read",
           lambda: table().reindex(("l_shipdate",)),
           summary=lambda ds: (sum(ds.sizes),
                               cell(min(b[0] for b in ds.lower_bounds)),
                               cell(max(b[0] for b in ds.upper_bounds)))),
        Op("join", "read",
           lambda: table().reindex(("l_orderkey",)).join(
               Dataset(spark, orders, index_columns=("l_orderkey",))),
           frame=lambda ds: ds.df.groupBy("o_orderpriority").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
               .cast("double").alias("price")),
           summary=_rows),
        Op("collate", "read",
           lambda: table().collate(2 * rows_per_file),
           frame=lambda ds: _agg(ds.df), summary=_rows),
        Op("scan_parquet_pruned", "read",
           lambda: scan_parquet_pruned(spark, path, (state["pruned"][0],),
                                       (state["pruned"][1],)),
           frame=kept, summary=_rows),
        Op("merge_rows", "write", lambda: merge_rows(spark, path, batch),
           summary=wrote),
        Op("delete_rows", "write",
           lambda: delete_rows(spark, path, (state["delete"][0],),
                               (state["delete"][1],), inclusive="both"),
           summary=wrote),
        Op("compact_parquet", "write",
           lambda: compact_parquet(spark, path, rows_per_file),
           summary=wrote),
        Op("read_changes", "read",
           lambda: read_changes(spark, path, from_version=1),
           frame=lambda df: df.groupBy("_change_type").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.col("l_quantity").cast("decimal(18,2)"))
               .cast("double").alias("qty")),
           summary=_rows),
        Op("scan_parquet_version", "read",
           lambda: scan_parquet(spark, path, version=1),
           frame=lambda ds: _agg(ds.df), summary=_rows),
        Op("vacuum", "write", lambda: vacuum(path),
           prepare=before_vacuum,
           summary=lambda r: r["files_removed"] > 0),
    ]
    return out


def after_pass(state: dict, pass_no: int) -> None:
    """Remember the final snapshot's files for the check."""
    from padawan_spark.metadata import load_manifest
    path = os.path.join(state["tables"], f"pass{pass_no}")
    state["finals"][pass_no] = [os.path.join(path, f)
                                for f in load_manifest(path).files]


def expected(state: dict):
    """Every operation's result, computed by DuckDB from the source and
    the seeded batch and ranges, and the connection that computed them."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"CREATE VIEW src AS SELECT * FROM '{state['src']}'")
    con.sql(f"CREATE VIEW batch AS SELECT * FROM '{state['batch']}'")
    con.sql("""CREATE VIEW merged AS
               SELECT * FROM src ANTI JOIN batch
                 USING (l_orderkey, l_linenumber)
               UNION ALL SELECT * FROM batch""")
    a, b = state["delete"]
    con.sql(f"""CREATE VIEW final AS SELECT * FROM merged
                WHERE NOT (l_orderkey BETWEEN {a} AND {b})""")
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{state['orders']}'")
    agg = ("COUNT(*) AS n, "
           "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), "
           "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")

    def rows(sql):
        return _rows(con.sql(sql).fetchall())

    n_src = state["rows"]
    lo, hi = con.sql("SELECT MIN(l_shipdate), MAX(l_shipdate) FROM src"
                     ).fetchone()
    n_upd = con.sql("SELECT COUNT(*) FROM batch SEMI JOIN src "
                    "USING (l_orderkey, l_linenumber)").fetchone()[0]
    n_del = con.sql(f"SELECT COUNT(*) FROM merged WHERE l_orderkey "
                    f"BETWEEN {a} AND {b}").fetchone()[0]
    qty = ("CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")
    changes = rows(f"""
        SELECT 'update_preimage', COUNT(*), {qty} FROM src
          SEMI JOIN batch USING (l_orderkey, l_linenumber)
        UNION ALL SELECT 'update_postimage', COUNT(*), {qty} FROM batch
          SEMI JOIN src USING (l_orderkey, l_linenumber)
        UNION ALL SELECT 'insert', COUNT(*), {qty} FROM batch
          ANTI JOIN src USING (l_orderkey, l_linenumber)
        UNION ALL SELECT 'delete', COUNT(*), {qty} FROM merged
          WHERE l_orderkey BETWEEN {a} AND {b}""")
    n_ins = BATCH - n_upd
    want = {
        "write_parquet": n_src,
        "merge_rows": n_src + n_ins,
        "delete_rows": n_src + n_ins - n_del,
        "compact_parquet": n_src + n_ins - n_del,
        "slice": [rows(f"SELECT {agg} FROM src WHERE l_orderkey >= {s} "
                       f"AND l_orderkey < {e}")
                  for s, e in state["slices"]],
        "reindex_prefix": (("l_orderkey",), True, n_src),
        "reindex_full": (n_src, cell(lo), cell(hi)),
        "join": rows("""
            SELECT o_orderpriority, COUNT(*),
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE)
            FROM src JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority"""),
        "collate": rows(f"SELECT {agg} FROM src"),
        "scan_parquet_pruned": rows(
            f"SELECT {agg} FROM src WHERE l_orderkey >= {state['pruned'][0]}"
            f" AND l_orderkey < {state['pruned'][1]}"),
        "read_changes": [r for r in changes if r[1] != "0"],
        "scan_parquet_version": rows(f"SELECT {agg} FROM src"),
        "vacuum": True,
        "final": rows(f"SELECT {agg} FROM final"),
    }
    return want, con


def check(records, state: dict) -> int:
    """Compare every operation, and each pass's final snapshot, with
    DuckDB; returns the number of failed or wrong operations."""
    want, con = expected(state)
    failed = 0
    slice_no: dict[int, int] = {}
    for rec in records:
        if rec.error is None:
            if rec.op == "slice":
                k = slice_no.get(rec.pass_no, 0)
                slice_no[rec.pass_no] = k + 1
                ok = rec.result == want["slice"][k]
            else:
                ok = rec.result == want[rec.op]
            if rec.op == "vacuum":
                files = state["finals"][rec.pass_no]
                got = _rows(con.sql(
                    "SELECT COUNT(*), CAST(SUM(CAST(l_extendedprice AS "
                    "DECIMAL(18,2))) AS DOUBLE), CAST(SUM(CAST(l_quantity "
                    "AS DECIMAL(18,2))) AS DOUBLE) FROM read_parquet("
                    f"{files!r})").fetchall())
                ok = ok and got == want["final"]
            if ok:
                continue
            rec.error = "result differs from DuckDB"
        failed += 1
    return failed


def layer_metrics(state: dict, records, spans, groups) -> dict[str, float]:
    """Per-call dataset figures and storage facts of one pass."""
    from harness import GroupStats
    out = dict.fromkeys(LAYER, 0.0)
    by_index = {r.index: r for r in records}
    for s in spans:
        g = groups.get(s.group, GroupStats())
        c = by_index[s.index].op
        out[f"dataset.{c}_s"] += s.seconds
        out[f"dataset.{c}_jobs"] += len(g.jobs)
        out[f"dataset.{c}_driver_s"] += s.seconds - covered(s, g.jobs)
    f = state["facts"][records[0].pass_no]
    written = sum(f["written"].values())
    out.update({
        "dataset.slice_files_kept_ratio": f["kept"] / max(f["total"], 1),
        "dataset.files_rewritten": f["rewritten"],
        "metadata.versions": f["versions"],
        "metadata.manifest_bytes": f["manifest_bytes"],
        "storage.bytes_written": written,
        "storage.files_written": len(f["written"]),
        "storage.bytes_on_disk": f["on_disk"],
        "storage.write_amp": written / max(f["initial"], 1),
        "storage.space_amp": f["on_disk"] / max(f["referenced"], 1),
    })
    return out
