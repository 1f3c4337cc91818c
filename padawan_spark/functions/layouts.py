"""Distributed parquet-footer LAYOUT resolution shared by the Delta
id-mapping and Iceberg schema-evolution readers.

Both formats resolve columns by PARQUET FIELD ID when a table has
evolved (Iceberg spec: "columns are matched by field id"; Delta
column-mapping ``id`` mode), which requires each data file's footer
schema.  Reading those footers one by one from the driver is the
million-sequential-opens anti-pattern — this
module runs ONE Spark job over the file list (same shape as
``padawan_spark.dataset.scan_parquet_footers``): each task taps only
footer bytes via pyarrow and serializes the whole layout to ONE row
per file.  Identical layouts then GROUP ON THE EXECUTORS before the
collect, so the driver holds each distinct
layout once — O(distinct layouts) layout payload plus the path list
it needs anyway to group files by physical layout before planning
the scans (most files of a 10⁶-file table share one layout; the old
per-file copy was a multi-GB driver dict).
"""

from __future__ import annotations

import json
import logging

_LOG = logging.getLogger("padawan_spark.layouts")


def collect_layouts(fdf, xform=None) -> dict:
    """Collect a ``(path string, layout string)`` tap result with the
    driver's layout footprint bounded at O(DISTINCT layouts):
    identical layout JSONs group on the EXECUTORS, each
    distinct string crosses to the driver ONCE, and every path of a
    group shares the SAME decoded object — at 10⁶-file table sizes
    the per-file copy was a multi-GB driver dict; most files share
    one layout.  ``xform`` post-processes each DISTINCT decoded
    layout once.  The distinct-layout count is logged (INFO) so
    scan-arm growth stays visible."""
    from pyspark.sql import functions as F
    rows = (fdf.groupBy("layout")
            .agg(F.collect_list("path").alias("paths"))
            .collect())
    out: dict = {}
    n_files = 0
    for r in rows:
        lay = json.loads(r["layout"])
        if xform is not None:
            lay = xform(lay)
        n_files += len(r["paths"])
        for p in r["paths"]:
            out[p] = lay
    _LOG.info("layout tap: %d files, %d distinct layouts",
              n_files, len(rows))
    return out


def parquet_field_layouts(spark, paths) -> dict:
    """One distributed footer job over ``paths`` → ``{path: [(field_id
    | None, column_name), ...]}`` in footer order.  ``field_id`` comes
    from the ``PARQUET:field_id`` key the format writers stamp; files
    without ids still report their names (the by-name fallback both
    readers keep for legacy files)."""
    paths = sorted(set(paths))
    if not paths:
        return {}

    def _tap(batches):
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                try:
                    pairs = []
                    for fld in pq.read_schema(p):
                        md = fld.metadata or {}
                        fid = md.get(b"PARQUET:field_id")
                        pairs.append((int(fid) if fid is not None
                                      else None, fld.name))
                except (pa.lib.ArrowNotImplementedError,
                        pa.lib.ArrowInvalid, OSError) as exc:
                    # pyarrow refuses footers carrying unknown
                    # logical types (VARIANT, surfaced as
                    # ArrowIOError/OSError) — fall back to the
                    # in-repo thrift footer walk.  Narrowed
                    # error classes: an unrelated
                    # failure (e.g. TypeError) surfaces as ITS OWN
                    # exception, and a truncated/unreadable file
                    # fails the walk too, which re-raises WITH the
                    # original pyarrow error chained.
                    from .parquetfooter import footer_field_layout
                    try:
                        pairs = footer_field_layout(p)
                    except Exception as exc2:
                        raise exc2 from exc
                rows.append((p, _json.dumps(pairs)))
            yield pd.DataFrame(rows, columns=["path", "layout"])

    n = min(len(paths),
            max(32, spark.sparkContext.defaultParallelism))
    fdf = (spark.createDataFrame([(p,) for p in paths], "path string")
           .repartition(n, "path")
           .mapInPandas(_tap, "path string, layout string"))
    return collect_layouts(
        fdf, xform=lambda lay: [(fid, nm) for fid, nm in lay])


def avro_field_layouts(spark, paths) -> dict:
    """Avro twin of :func:`parquet_field_layouts`: one
    distributed header job → ``{path: [(field_id | None, name)]}``.
    Iceberg's Avro writers stamp each field's id as the ``field-id``
    attribute in the embedded writer schema; reading it costs one
    header parse per file, never a row decode."""
    paths = sorted(set(paths))
    if not paths:
        return {}

    def _tap(batches):
        import json as _json

        import pandas as pd

        from .avro import read_avro_header_file
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                schema, _c, _s, _pos = read_avro_header_file(p)
                pairs = [(f.get("field-id"), f["name"])
                         for f in schema["fields"]]
                rows.append((p, _json.dumps(pairs)))
            yield pd.DataFrame(rows, columns=["path", "layout"])

    n = min(len(paths),
            max(32, spark.sparkContext.defaultParallelism))
    fdf = (spark.createDataFrame([(p,) for p in paths], "path string")
           .repartition(n, "path")
           .mapInPandas(_tap, "path string, layout string"))
    return collect_layouts(
        fdf, xform=lambda lay: [(fid, nm) for fid, nm in lay])


def orc_field_layouts(spark, paths) -> dict:
    """ORC twin of :func:`parquet_field_layouts`: one
    distributed footer job → ``{path: [(field_id | None, name)]}``.
    Iceberg's ORC writers stamp each column's field id as the
    ``iceberg.id`` type attribute (the spec's ORC appendix), which
    pyarrow surfaces as field metadata."""
    paths = sorted(set(paths))
    if not paths:
        return {}

    def _tap(batches):
        import json as _json

        import pandas as pd
        import pyarrow.orc as po
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                pairs = []
                for fld in po.ORCFile(p).schema:
                    md = fld.metadata or {}
                    fid = md.get(b"iceberg.id")
                    pairs.append((int(fid) if fid is not None
                                  else None, fld.name))
                rows.append((p, _json.dumps(pairs)))
            yield pd.DataFrame(rows, columns=["path", "layout"])

    n = min(len(paths),
            max(32, spark.sparkContext.defaultParallelism))
    fdf = (spark.createDataFrame([(p,) for p in paths], "path string")
           .repartition(n, "path")
           .mapInPandas(_tap, "path string, layout string"))
    return collect_layouts(
        fdf, xform=lambda lay: [(fid, nm) for fid, nm in lay])
