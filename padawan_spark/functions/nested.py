"""Nested-type (struct/array/map) schema translation shared by the
Delta and Iceberg interop readers and fixture writers.

Reference parity: the reference engine's dataset layer round-trips
arbitrary (nested) arrow schemas through parquet
(``/root/reference/src/padawan/dataset.py`` write/scan paths); this
module gives the LAKEHOUSE interop readers the same reach — a Delta
or Iceberg table whose columns are struct/array/map translates to
Spark DDL, resolves column-mapping physical names / field ids
THROUGH the nesting, and rebuilds logical values with JVM-side
expressions (``F.struct`` / ``F.transform`` / ``F.transform_values``
— never a Python UDF, so the remap rides whole-stage codegen).

Three layers:

* **DDL rendering** — Delta's schemaString is Spark's schema JSON,
  so :func:`spark_json_type_ddl` recurses it directly; Iceberg's
  JSON (``struct``/``list``/``map`` with ``element``/``key``/
  ``value``) converts via :func:`ice_json_type_ddl`.
* **Remap expressions** — :func:`remap_expr` turns a value scanned
  with PHYSICAL field names into the LOGICAL shape (or the reverse,
  for writers: the function is direction-agnostic — it walks a
  source and a destination type of the same shape).  A struct field
  missing from the source (inner schema evolution: the file predates
  an ``ADD COLUMNS`` into a struct) comes back as a typed NULL.
* **Footer trees** — :func:`parquet_field_trees` is the nested
  sibling of :func:`.layouts.parquet_field_layouts`: ONE distributed
  footer job over the file list returning each file's full nested
  (field-id, name) tree, so id-matched readers (Delta ``id`` mode,
  evolved Iceberg) resolve RENAMED NESTED fields per file without a
  driver-side open per data file.
"""

from __future__ import annotations

import json


# ---------------------------------------------------------------------------
# DDL rendering
# ---------------------------------------------------------------------------

def spark_json_type_ddl(t, name_of=None) -> str:
    """Spark/Delta schema-JSON type -> Spark DDL type, recursive.
    ``name_of(field_json) -> str`` overrides struct-field names (the
    physical-name hook); default uses the logical name."""
    if isinstance(t, str):
        return t
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            inner = ", ".join(
                "`{}`: {}".format(
                    (name_of(f) if name_of else f["name"]),
                    spark_json_type_ddl(f["type"], name_of))
                for f in t["fields"])
            return f"struct<{inner}>"
        if k == "array":
            return ("array<"
                    + spark_json_type_ddl(t["elementType"], name_of)
                    + ">")
        if k == "map":
            return ("map<"
                    + spark_json_type_ddl(t["keyType"], name_of)
                    + ", "
                    + spark_json_type_ddl(t["valueType"], name_of)
                    + ">")
    raise NotImplementedError(f"unsupported delta/spark type {t!r}")


def ice_json_type_ddl(t, leaf) -> str:
    """Iceberg schema-JSON type -> Spark DDL type, recursive.
    ``leaf(str) -> str`` maps primitive names (``long`` -> ``bigint``
    etc. — supplied by :mod:`.iceberg` so its primitive table stays
    in one place)."""
    if isinstance(t, str):
        return leaf(t)
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            inner = ", ".join(
                f"`{f['name']}`: {ice_json_type_ddl(f['type'], leaf)}"
                for f in t["fields"])
            return f"struct<{inner}>"
        if k == "list":
            return ("array<" + ice_json_type_ddl(t["element"], leaf)
                    + ">")
        if k == "map":
            return ("map<" + ice_json_type_ddl(t["key"], leaf) + ", "
                    + ice_json_type_ddl(t["value"], leaf) + ">")
    raise NotImplementedError(f"unsupported iceberg type {t!r}")


# ---------------------------------------------------------------------------
# physical <-> logical remap expressions (direction-agnostic)
# ---------------------------------------------------------------------------

_MISSING = {"name": None}       # struct field absent from the source


def delta_physical_type(t):
    """Delta schema-JSON type with every struct field renamed to its
    ``delta.columnMapping.physicalName`` (recursive).  Parquet list
    elements / map entries are not renamable — only struct fields
    carry physical names."""
    if isinstance(t, str):
        return t
    k = t.get("type")
    if k == "struct":
        out = []
        for f in t["fields"]:
            pn = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName")
            if not pn:
                raise NotImplementedError(
                    f"column-mapped nested field {f['name']!r} lacks "
                    "delta.columnMapping.physicalName metadata")
            out.append({"name": pn,
                        "type": delta_physical_type(f["type"])})
        return {"type": "struct", "fields": out}
    if k == "array":
        return {"type": "array",
                "elementType": delta_physical_type(t["elementType"]),
                "containsNull": t.get("containsNull", True)}
    if k == "map":
        return {"type": "map",
                "keyType": delta_physical_type(t["keyType"]),
                "valueType": delta_physical_type(t["valueType"]),
                "valueContainsNull": t.get("valueContainsNull", True)}
    raise NotImplementedError(f"unsupported delta type {t!r}")


def remap_needed(src_t, dst_t) -> bool:
    """True when reading ``src_t``-shaped values requires a rebuild
    to come back as ``dst_t`` (any struct-field rename or absence,
    at any depth)."""
    if isinstance(dst_t, str):
        return False
    k = dst_t.get("type")
    if k == "struct":
        sf = src_t["fields"]
        df_ = dst_t["fields"]
        if len(sf) != len(df_):
            return True
        return any(s.get("name") != d["name"]
                   or s.get("name") is None
                   or remap_needed(s.get("type"), d["type"])
                   for s, d in zip(sf, df_))
    if k == "array":
        return remap_needed(src_t["elementType"], dst_t["elementType"])
    if k == "map":
        if remap_needed(src_t["keyType"], dst_t["keyType"]):
            raise NotImplementedError(
                "column-mapped struct inside a MAP KEY is "
                "unsupported (keys are not remappable in place)")
        return remap_needed(src_t["valueType"], dst_t["valueType"])
    return False


def remap_expr(col, src_t, dst_t):
    """Column expression converting a ``src_t``-shaped value (as
    scanned) into ``dst_t``'s field names — same tree shape, struct
    fields positionally aligned; a source field of ``{"name": None}``
    (absent from the file) becomes a typed NULL.  Identity when no
    rename exists at any depth; NULL structs stay NULL (the rebuild
    wraps in ``when(isNull)`` so ``struct(null, null)`` never
    replaces a null struct)."""
    from pyspark.sql import functions as F
    if not remap_needed(src_t, dst_t):
        return col
    k = dst_t.get("type")
    if k == "struct":
        kids = []
        for s, d in zip(src_t["fields"], dst_t["fields"]):
            if s.get("name") is None:
                kids.append(F.lit(None)
                            .cast(spark_json_type_ddl(d["type"]))
                            .alias(d["name"]))
            else:
                kids.append(remap_expr(col.getField(s["name"]),
                                       s["type"], d["type"])
                            .alias(d["name"]))
        return F.when(col.isNull(),
                      F.lit(None).cast(spark_json_type_ddl(dst_t))) \
                .otherwise(F.struct(*kids))
    if k == "array":
        return F.transform(
            col, lambda e: remap_expr(e, src_t["elementType"],
                                      dst_t["elementType"]))
    if k == "map":
        return F.transform_values(
            col, lambda _k, v: remap_expr(v, src_t["valueType"],
                                          dst_t["valueType"]))
    raise NotImplementedError(f"remap over type {dst_t!r}")


# ---------------------------------------------------------------------------
# nested footer trees (distributed, one job over the file list)
# ---------------------------------------------------------------------------

def _arrow_tree(field, id_key=b"PARQUET:field_id"):
    """arrow field -> ``[fid, name, children]`` (JSON-serializable)."""
    import pyarrow as pa
    md = field.metadata or {}
    fid = md.get(id_key)
    t = field.type
    kids = []
    if pa.types.is_struct(t):
        kids = [_arrow_tree(t.field(i), id_key)
                for i in range(t.num_fields)]
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        kids = [_arrow_tree(t.value_field, id_key)]
    elif pa.types.is_map(t):
        kids = [_arrow_tree(t.key_field, id_key),
                _arrow_tree(t.item_field, id_key)]
    return [int(fid) if fid is not None else None, field.name, kids]


def _field_trees(spark, paths, fmt: str) -> dict:
    paths = sorted(set(paths))
    if not paths:
        return {}

    def _tap(batches):
        import json as _json

        import pandas as pd
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                if fmt == "orc":
                    import pyarrow.orc as po
                    flds = list(po.ORCFile(p).schema)
                    key = b"iceberg.id"
                    trees = [_arrow_tree(f, key) for f in flds]
                else:
                    import pyarrow as pa
                    import pyarrow.parquet as pq
                    try:
                        flds = list(pq.read_schema(p))
                        trees = [_arrow_tree(f) for f in flds]
                    except (pa.lib.ArrowNotImplementedError,
                            pa.lib.ArrowInvalid, OSError) as exc:
                        # footer carries a logical type pyarrow does
                        # not know (VARIANT) — the in-repo thrift
                        # footer walk recovers the id tree.  Only the
                        # errors pyarrow raises for it fall back, and
                        # a fallback failure chains the first error.
                        from .parquetfooter import footer_field_trees
                        try:
                            trees = footer_field_trees(p)
                        except Exception as exc2:
                            raise exc2 from exc
                rows.append((p, _json.dumps(trees)))
            yield pd.DataFrame(rows, columns=["path", "layout"])

    n = min(len(paths),
            max(32, spark.sparkContext.defaultParallelism))
    fdf = (spark.createDataFrame([(p,) for p in paths], "path string")
           .repartition(n, "path")
           .mapInPandas(_tap, "path string, layout string"))
    from .layouts import collect_layouts
    return collect_layouts(fdf)


def parquet_field_trees(spark, paths) -> dict:
    """Nested sibling of :func:`.layouts.parquet_field_layouts`: ONE
    distributed footer job -> ``{path: [tree, ...]}`` where each tree
    is ``[field_id | None, name, children]`` — struct children are
    the subfields, a list's child is its element, a map's children
    are ``[key, value]``."""
    return _field_trees(spark, paths, "parquet")


def orc_field_trees(spark, paths) -> dict:
    """ORC twin of :func:`parquet_field_trees`: field ids from
    the ``iceberg.id`` type attributes the spec's ORC appendix
    mandates, nested levels included."""
    return _field_trees(spark, paths, "orc")


def _avro_schema_tree(field: dict):
    """Avro record field -> ``[fid, name, children]`` from the
    writer schema's Iceberg id attributes (``field-id`` on record
    fields, ``element-id`` on arrays, ``key-id``/``value-id`` on
    maps) — the Avro twin of :func:`_arrow_tree`."""
    from .avro import _norm_type
    t, _null = _norm_type(field["type"])
    return [field.get("field-id"), field["name"],
            _avro_type_kids(t)]


def _avro_type_kids(t):
    from .avro import _norm_type
    if not isinstance(t, dict):
        return []
    k = t.get("type")
    if k == "record":
        return [_avro_schema_tree(f) for f in t["fields"]]
    if k == "array":
        it, _n = _norm_type(t["items"])
        return [[t.get("element-id"), "element",
                 _avro_type_kids(it)]]
    if k == "map":
        vt, _n = _norm_type(t["values"])
        return [[t.get("key-id"), "key", []],
                [t.get("value-id"), "value", _avro_type_kids(vt)]]
    return []


def avro_field_trees(spark, paths) -> dict:
    """Avro sibling of :func:`parquet_field_trees`: ONE
    distributed HEADER job -> ``{path: [tree, ...]}`` from each
    file's embedded writer schema — a header parse per file, never a
    row decode; the trees resolve renamed nested fields of evolved
    Iceberg tables whose data files are Avro."""
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
                trees = [_avro_schema_tree(f)
                         for f in schema["fields"]]
                rows.append((p, _json.dumps(trees)))
            yield pd.DataFrame(rows, columns=["path", "layout"])

    n = min(len(paths),
            max(32, spark.sparkContext.defaultParallelism))
    fdf = (spark.createDataFrame([(p,) for p in paths], "path string")
           .repartition(n, "path")
           .mapInPandas(_tap, "path string, layout string"))
    from .layouts import collect_layouts
    return collect_layouts(fdf)


def match_tree_delta(t, node):
    """Physical type of ONE FILE for a Delta id-mapped nested column:
    walk the logical schema-JSON type ``t`` against the file's footer
    tree ``node`` (``[fid, name, children]``), matching struct fields
    by ``delta.columnMapping.id`` (physicalName as the fallback for
    id-less footers).  A field found in neither way is marked absent
    (a typed NULL after remap — the file predates the column)."""
    if isinstance(t, str):
        return t
    k = t.get("type")
    kids = node[2] if node is not None else []
    if k == "struct":
        by_fid = {c[0]: c for c in kids if c[0] is not None}
        by_name = {c[1]: c for c in kids}
        out = []
        for f in t["fields"]:
            md = f.get("metadata") or {}
            fid = md.get("delta.columnMapping.id")
            pn = md.get("delta.columnMapping.physicalName")
            c = by_fid.get(int(fid)) if fid is not None else None
            if c is None and pn is not None:
                c = by_name.get(pn)
            if c is None:
                out.append(dict(_MISSING))
            else:
                out.append({"name": c[1],
                            "type": match_tree_delta(f["type"], c)})
        return {"type": "struct", "fields": out}
    if k == "array":
        elem = kids[0] if kids else None
        return {"type": "array",
                "elementType": match_tree_delta(t["elementType"],
                                                elem)}
    if k == "map":
        # a struct inside a MAP KEY can't resolve in id mode: the
        # file stores PHYSICAL inner names and keys are not
        # remappable in place, so passing the logical keyType
        # through would build scan DDL with logical inner names and
        # read silent NULLs — gate loudly, mirroring
        # :func:`remap_needed`'s name-mode gate
        if _contains_struct(t["keyType"]):
            raise NotImplementedError(
                "column-mapped struct inside a MAP KEY is "
                "unsupported (keys are not remappable in place)")
        val = kids[1] if len(kids) > 1 else None
        return {"type": "map", "keyType": t["keyType"],
                "valueType": match_tree_delta(t["valueType"], val)}
    raise NotImplementedError(f"unsupported delta type {t!r}")


def _contains_struct(t) -> bool:
    """True when the schema-JSON type ``t`` carries a struct at any
    depth (the shapes whose field names differ between the logical
    and physical schemas under column mapping)."""
    if isinstance(t, str):
        return False
    k = t.get("type")
    if k == "struct":
        return True
    if k == "array":
        return _contains_struct(t["elementType"])
    if k == "map":
        return (_contains_struct(t["keyType"])
                or _contains_struct(t["valueType"]))
    return False


def match_tree_ice(t, node, name_key="name"):
    """Iceberg twin of :func:`match_tree_delta`: walk the Iceberg
    schema-JSON type against a footer tree, matching struct fields by
    the spec's FIELD IDS (``id`` on struct fields) with a by-name
    fallback for id-less legacy files.  Returns a SPARK schema-JSON
    type carrying the per-file PHYSICAL names (leaf types as Iceberg
    primitive names — callers render DDL via :func:`ice_json_type_
    ddl`-compatible leaves), absent fields marked for a typed-NULL
    remap."""
    if isinstance(t, str):
        return t
    k = t.get("type")
    kids = node[2] if node is not None else []
    if k == "struct":
        by_fid = {c[0]: c for c in kids if c[0] is not None}
        by_name = {c[1]: c for c in kids}
        out = []
        for f in t["fields"]:
            c = by_fid.get(f.get("id"))
            if c is None:
                c = by_name.get(f["name"])
            if c is None:
                out.append(dict(_MISSING))
            else:
                out.append({"name": c[1],
                            "type": match_tree_ice(f["type"], c)})
        return {"type": "struct", "fields": out}
    if k == "list":
        elem = kids[0] if kids else None
        return {"type": "list",
                "element": match_tree_ice(t["element"], elem)}
    if k == "map":
        # the Iceberg twin of the delta MAP-KEY gate: a struct
        # field RENAMED (or absent) inside a map key cannot resolve —
        # the scan DDL would carry logical inner names against the
        # file's physical ones and read silent NULLs, and keys are
        # not remappable in place.  Unevolved key structs (file names
        # match the logical names) pass through untouched.
        if kids:
            mk = match_tree_ice(t["key"], kids[0])
            if _ice_names_differ(mk, t["key"]):
                raise NotImplementedError(
                    "iceberg struct inside a MAP KEY was renamed or "
                    "evolved in this data file — keys are not "
                    "remappable in place")
        val = kids[1] if len(kids) > 1 else None
        return {"type": "map", "key": t["key"],
                "value": match_tree_ice(t["value"], val)}
    raise NotImplementedError(f"unsupported iceberg type {t!r}")


def _ice_names_differ(pt, lt) -> bool:
    """True when the per-file physical tree ``pt`` carries any struct
    field name differing from (or absent against) the logical tree
    ``lt`` — the shapes that would need a remap."""
    if isinstance(lt, str) or isinstance(pt, str):
        return False
    lk = lt.get("type")
    if lk == "struct":
        pf, lf = pt["fields"], lt["fields"]
        if len(pf) != len(lf):
            return True
        return any(p.get("name") != f["name"]
                   or _ice_names_differ(p.get("type"), f["type"])
                   for p, f in zip(pf, lf))
    if lk == "list":
        return _ice_names_differ(pt["element"], lt["element"])
    if lk == "map":
        return (_ice_names_differ(pt["key"], lt["key"])
                or _ice_names_differ(pt["value"], lt["value"]))
    return False


# ---------------------------------------------------------------------------
# arrow-side logical rename (streaming readers)
# ---------------------------------------------------------------------------

def _arrow_logical_type(at, t_json):
    import pyarrow as pa
    if isinstance(t_json, str) or t_json is None:
        return at
    k = t_json.get("type")
    if k == "struct" and pa.types.is_struct(at):
        fj = t_json["fields"]
        if at.num_fields != len(fj):
            raise NotImplementedError(
                f"nested struct field count mismatch: file has "
                f"{at.num_fields} fields, schema {len(fj)} — "
                "streaming over nested schema evolution is "
                "unsupported")
        return pa.struct([
            pa.field(f["name"],
                     _arrow_logical_type(at.field(i).type,
                                         f["type"]),
                     at.field(i).nullable)
            for i, f in enumerate(fj)])
    if k == "array" and (pa.types.is_list(at)
                         or pa.types.is_large_list(at)):
        vf = at.value_field
        inner = pa.field(vf.name,
                         _arrow_logical_type(vf.type,
                                             t_json["elementType"]),
                         vf.nullable)
        return (pa.list_(inner) if pa.types.is_list(at)
                else pa.large_list(inner))
    if k == "map" and pa.types.is_map(at):
        kf, vf = at.key_field, at.item_field
        return pa.map_(
            pa.field(kf.name,
                     _arrow_logical_type(kf.type, t_json["keyType"]),
                     nullable=False),
            pa.field(vf.name,
                     _arrow_logical_type(vf.type,
                                         t_json["valueType"]),
                     vf.nullable))
    return at


def _arrow_ice_type(at, t_json, id_key):
    import pyarrow as pa
    if isinstance(t_json, str) or t_json is None:
        return at
    k = t_json.get("type")
    if k == "struct" and pa.types.is_struct(at):
        fj = t_json["fields"]
        if at.num_fields != len(fj):
            raise NotImplementedError(
                f"nested struct field count mismatch: file has "
                f"{at.num_fields} fields, schema {len(fj)} — "
                "streaming over nested schema evolution that ADDS "
                "fields is unsupported (read the table through the "
                "batch reader)")
        kids = []
        for i, f in enumerate(fj):
            af = at.field(i)
            fid = (af.metadata or {}).get(id_key)
            if (fid is not None and f.get("id") is not None
                    and int(fid) != f["id"]):
                raise NotImplementedError(
                    f"nested field id mismatch at position {i}: "
                    f"file has id {int(fid)}, schema expects "
                    f"{f['id']} — reordered nested fields cannot "
                    "stream (read through the batch reader)")
            kids.append(pa.field(
                f["name"], _arrow_ice_type(af.type, f["type"],
                                           id_key), af.nullable))
        return pa.struct(kids)
    if k == "list" and (pa.types.is_list(at)
                        or pa.types.is_large_list(at)):
        vf = at.value_field
        inner = pa.field(vf.name,
                         _arrow_ice_type(vf.type, t_json["element"],
                                         id_key), vf.nullable)
        return (pa.list_(inner) if pa.types.is_list(at)
                else pa.large_list(inner))
    if k == "map" and pa.types.is_map(at):
        kf, vf = at.key_field, at.item_field
        return pa.map_(
            pa.field(kf.name, _arrow_ice_type(kf.type, t_json["key"],
                                              id_key),
                     nullable=False),
            pa.field(vf.name, _arrow_ice_type(vf.type,
                                              t_json["value"],
                                              id_key), vf.nullable))
    return at


def arrow_ice_logical_view(arr, ice_type_json,
                           id_key=b"PARQUET:field_id"):
    """Iceberg twin of :func:`arrow_logical_view`: zero-copy view
    renaming nested struct fields to the SNAPSHOT SCHEMA's names —
    positional walk VERIFIED against the file's nested field-id
    metadata (a renamed field keeps its position and its id; a
    reorder or an added inner field gates loudly).  What the appends
    STREAM uses so schema-evolved nested columns stream under their
    current names."""
    target = _arrow_ice_type(arr.type, ice_type_json, id_key)
    return arr if target.equals(arr.type) else arr.view(target)


def arrow_logical_view(arr, t_json):
    """ZERO-COPY view of an arrow array with its nested struct fields
    renamed to the LOGICAL names of the Spark/Delta schema-JSON type
    ``t_json`` (positional match — a mapped writer emits the schema's
    field order; a count mismatch gates loudly).  What the STREAMING
    readers use to emit logical record batches from physically-named
    parquet data without touching the buffers."""
    target = _arrow_logical_type(arr.type, t_json)
    return arr if target.equals(arr.type) else arr.view(target)


# ---------------------------------------------------------------------------
# arrow field-id stamping for the fixture writers (nested-aware)
# ---------------------------------------------------------------------------

def stamp_arrow_field_ids(table, id_of, id_key=b"PARQUET:field_id"):
    """Cast ``table`` so every field at every depth carries a field
    id under ``id_key`` from ``id_of(path_tuple) -> int | None``
    (``path_tuple`` is the dotted logical path; list elements appear
    as ``'element'``, map keys/values as ``'key'``/``'value'``).
    ``None`` leaves a field unstamped.  ``id_key=b"iceberg.id"`` is
    the ORC form (the spec's ORC appendix)."""
    import pyarrow as pa

    def _stamp(field, path):
        t = field.type
        if pa.types.is_struct(t):
            t = pa.struct([_stamp(t.field(i), path + (t.field(i).name,))
                           for i in range(t.num_fields)])
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            t = pa.list_(_stamp(t.value_field, path + ("element",)))
        elif pa.types.is_map(t):
            t = pa.map_(_stamp(t.key_field, path + ("key",)),
                        _stamp(t.item_field, path + ("value",)))
        fid = id_of(path)
        md = dict(field.metadata or {})
        if fid is not None:
            md[id_key] = str(fid).encode()
        return pa.field(field.name, t, field.nullable, md or None)

    sch = pa.schema([_stamp(f, (f.name,)) for f in table.schema])
    return table.cast(sch)
