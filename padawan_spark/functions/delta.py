"""Delta Lake transaction-log reader, dependency-free (the PUBLIC
Delta protocol: ``_delta_log/<version>.json`` files of newline-
delimited actions — ``metaData``, ``add``, ``remove``).

Interop surface: a user with existing Delta tables can scan them from
this engine without the delta-spark jar — the log replay happens in
O(log actions) driver work, then the surviving data files feed a plain
``spark.read.parquet`` with partition-value columns re-attached from
the ``add`` actions (Delta, like Hive layouts, does NOT store
partition columns in the data files).

Supported: JSON commits with add/remove replay, version time travel,
partitioned tables, schema from the latest ``metaData`` action,
classic parquet checkpoints (single-file and multi-part, replayed
driver-side through pyarrow so a log whose pre-checkpoint commits were
retention-cleaned still reads correctly), and deletion vectors
(RoaringBitmapArray decode — see :mod:`.deltadv`), and ``name``-mode
column mapping (physical ``col-<uuid>`` parquet columns aliased back
to logical names via the schemaString's per-field
``delta.columnMapping.physicalName`` metadata; partition columns and
partitionValues are physically keyed too), and ``id``-mode mapping:
each data file's parquet footer field ids are matched to the
schemaString's ``delta.columnMapping.id`` values, files are grouped
by physical layout, and each group scans with its own physical DDL —
so files whose physical names differ (e.g. written by different
engines) still read correctly.  V2 checkpoints: the UUID-named
top-level checkpoint plus ``_sidecars/`` parquet files replay
driver-side like classic ones — in BOTH spec-legal top-file formats,
parquet and JSON lines.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass


def list_delta_versions(path: str) -> list[int]:
    """Commit versions present in ``_delta_log`` (ascending)."""
    d = os.path.join(path, "_delta_log")
    if not os.path.isdir(d):
        raise FileNotFoundError(f"{path} has no _delta_log directory")
    out = []
    for f in os.listdir(d):
        m = re.match(r"^(\d{20})\.json$", f)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def resolve_delta_version_at(path: str, ts_ms: int) -> int:
    """Timestamp time travel: the LATEST commit at or before
    ``ts_ms``, resolved the way delta readers do — from each
    commit's ``inCommitTimestamp`` (commitInfo action) when the
    table records one, else the commit JSON file's modification
    time.  Raises when every commit is later than ``ts_ms``.
    Commits cleaned by retention (checkpoint-only prefix) have no
    timestamp left to compare, matching real behavior: time travel
    reaches only the retained history.

    Timestamps are made MONOTONIC the way Delta readers do:
    each commit's effective timestamp is
    ``max(previous + 1ms, recorded)`` — so clock-skewed file mtimes
    (v1 older than v0) can never resolve an earlier version than a
    later one, which would otherwise time-travel to a state the
    table never passed through."""
    d = os.path.join(path, "_delta_log")
    best = None
    prev_ts = None
    for v in list_delta_versions(path):
        fp = os.path.join(d, f"{v:020d}.json")
        commit_ts = None
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("commitInfo"):
                    ict = a["commitInfo"].get("inCommitTimestamp",
                                              a["commitInfo"]
                                              .get("timestamp"))
                    if ict is not None:
                        commit_ts = int(ict)
                    break
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(fp) * 1000)
        if prev_ts is not None:
            commit_ts = max(prev_ts + 1, commit_ts)
        prev_ts = commit_ts
        if commit_ts <= ts_ms and (best is None or v > best):
            best = v
    if best is None:
        raise ValueError(
            f"no delta commit at or before {ts_ms} at {path}")
    return best


def _list_checkpoints(path: str):
    """Checkpoint inventory: ``(classic, v2)`` — classic maps version
    -> parquet part files (single-file ``<v>.checkpoint.parquet`` and
    multi-part ``<v>.checkpoint.<i>.<n>.parquet``); v2 maps version
    -> the UUID-named top-level file, PARQUET or JSON format (both
    spec-legal for v2: ``<v>.checkpoint.<uuid>.parquet`` /
    ``.json``), whose ``sidecar`` actions point into
    ``_delta_log/_sidecars/`` (sidecars are always parquet)."""
    d = os.path.join(path, "_delta_log")
    classic: dict[int, list[str]] = {}
    v2: dict[int, str] = {}
    for f in sorted(os.listdir(d)):
        m = re.match(r"^(\d{20})\.checkpoint\.parquet$", f)
        if m:
            classic.setdefault(int(m.group(1)), []).append(
                os.path.join(d, f))
            continue
        m = re.match(r"^(\d{20})\.checkpoint\.\d{10}\.\d{10}\.parquet$", f)
        if m:
            classic.setdefault(int(m.group(1)), []).append(
                os.path.join(d, f))
            continue
        m = re.match(
            r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]+\.(parquet|json)$",
            f)
        if m:
            v2[int(m.group(1))] = os.path.join(d, f)
    return classic, v2


class _Replay:
    """Mutable log-replay state shared by the JSON-commit walk and the
    checkpoint-row walk (same action semantics, different containers)."""

    def __init__(self):
        self.schema_json = None
        self.part_cols: list[str] = []
        self.mapping_mode = "none"
        self.config: dict = {}
        # rel_path -> (partitionValues dict, deletionVector dict |
        # None, baseRowId | None, defaultRowCommitVersion | None)
        self.live: dict[str, tuple] = {}

    def apply(self, action: dict) -> None:
        if action.get("metaData"):
            md = action["metaData"]
            self.schema_json = md.get("schemaString")
            self.part_cols = md.get("partitionColumns") or []
            fmt = (md.get("format") or {}).get("provider", "parquet")
            if fmt != "parquet":
                raise NotImplementedError(f"delta format provider {fmt!r}")
            self.config = md.get("configuration") or {}
            mapping = self.config.get(
                "delta.columnMapping.mode", "none") or "none"
            if mapping not in ("none", "name", "id"):
                raise NotImplementedError(
                    f"delta column mapping mode {mapping!r} unsupported")
            self.mapping_mode = mapping
        elif action.get("add"):
            a = action["add"]
            self.live[a["path"]] = (a.get("partitionValues") or {},
                                    a.get("deletionVector"),
                                    a.get("baseRowId"),
                                    a.get("defaultRowCommitVersion"))
        elif action.get("remove"):
            self.live.pop(action["remove"]["path"], None)
        elif action.get("protocol"):
            p = action["protocol"]
            feats = set(p.get("readerFeatures") or [])
            # typeWidening: each data
            # file scans with the TABLE's (wider) schema and the
            # vectorized parquet reader performs the per-file
            # promotion (byte->short->int->long, float->double,
            # int->double, date->timestamp_ntz, decimal widening)
            # natively — and fails CLOSED on a non-widenable
            # physical/logical mismatch, naming the column
            # variantType: Spark 4 reads parquet VARIANT
            # natively, so a `variant` leaf in the schemaString scans
            # straight through the declared-schema path; id-mode
            # column mapping over VARIANT resolves through the
            # in-repo thrift footer walk (pyarrow refuses the
            # VARIANT logical type, functions/parquetfooter.py
            # recovers the field-id tree)
            unsupported = feats - {"deletionVectors", "v2Checkpoint",
                                    "columnMapping",
                                    "timestampNtz", "typeWidening",
                                    "typeWidening-preview",
                                    "variantType"}
            if p.get("minReaderVersion", 1) > 2 and unsupported:
                raise NotImplementedError(
                    f"delta readerFeatures {sorted(unsupported)} "
                    "unsupported")
            if p.get("minReaderVersion", 1) > 3:
                raise NotImplementedError(
                    f"delta minReaderVersion {p['minReaderVersion']} "
                    "unsupported")


def _replay_checkpoint(state: _Replay, part_files: list[str]) -> None:
    """Fold a classic parquet checkpoint into the replay state —
    driver-side pyarrow, O(actions-in-checkpoint), no Spark job.
    Checkpoint rows are the COMPACTED state at that version: every live
    add, expired-tombstone removes (ignorable for the live set), and
    the latest metaData/protocol."""
    import pyarrow.parquet as pq

    def _maps(obj):
        # parquet checkpoints type partitionValues/configuration as
        # map<string,string>; pyarrow's to_pylist yields those as
        # [(k, v)] tuple lists — normalize back to dicts recursively
        if isinstance(obj, list) and obj and isinstance(obj[0], tuple):
            return {k: _maps(v) for k, v in obj}
        if isinstance(obj, dict):
            return {k: _maps(v) for k, v in obj.items()}
        return obj

    for pf in part_files:
        tbl = pq.read_table(pf)
        for row in tbl.to_pylist():
            state.apply({k: _maps(v) for k, v in row.items()
                         if k in ("metaData", "add", "remove", "protocol")
                         and v is not None})


def _replay_v2_checkpoint(state: _Replay, table: str,
                          top_file: str) -> None:
    """Fold a V2 checkpoint: the UUID-named top-level file holds
    protocol/metaData (+ possibly inlined file actions) and
    ``sidecar`` actions pointing at parquet files under
    ``_delta_log/_sidecars/`` that carry the add/remove set — the
    layout modern writers emit with the ``v2Checkpoint`` feature.
    The top file comes in BOTH spec formats: parquet
    (action-typed columns) or JSON (one action object per line);
    sidecars are always parquet.  Driver-side, O(actions)."""
    import pyarrow.parquet as pq

    def _maps(obj):
        if isinstance(obj, list) and obj and isinstance(obj[0], tuple):
            return {k: _maps(v) for k, v in obj}
        if isinstance(obj, dict):
            return {k: _maps(v) for k, v in obj.items()}
        return obj

    if top_file.endswith(".json"):
        top_rows = []
        with open(top_file) as fh:
            for line in fh:
                if line.strip():
                    top_rows.append(json.loads(line))
    else:
        top_rows = pq.read_table(top_file).to_pylist()
    sidecars: list[str] = []
    for row in top_rows:
        if row.get("sidecar"):
            sidecars.append(row["sidecar"]["path"])
            continue
        state.apply({k: _maps(v) for k, v in row.items()
                     if k in ("metaData", "add", "remove", "protocol")
                     and v is not None})
    sdir = os.path.join(table, "_delta_log", "_sidecars")
    for rel in sidecars:
        sp = rel if os.path.isabs(rel) else os.path.join(sdir, rel)
        for row in pq.read_table(sp).to_pylist():
            state.apply({k: _maps(v) for k, v in row.items()
                         if k in ("add", "remove") and v is not None})


def replay_delta_log(path: str, version: int | None = None,
                     with_row_ids: bool = False):
    """Replay the log up to ``version`` (default: latest).  Returns
    ``(schema_json, partition_columns, files, column_mapping_mode)``
    where ``files`` is a list of ``(relative_path,
    partition_values_dict, deletion_vector_descriptor_or_None)`` and
    ``column_mapping_mode`` is ``"none"``, ``"name"`` or ``"id"``.
    ``with_row_ids=True`` (row tracking) instead returns
    ``(schema_json, partition_columns, files5, mapping, config)``
    with 5-tuple files carrying each add action's ``baseRowId`` and
    ``defaultRowCommitVersion`` and the metaData ``configuration``
    dict (the materialized-column names live there).

    Replay starts from the newest checkpoint (classic parquet or v2
    UUID-named + sidecars) at or below ``version`` when one exists
    (so retention-cleaned logs read correctly); without a checkpoint
    the JSON commits must form a contiguous ``0..version`` chain — a
    gap means add actions were cleaned and a silent replay would
    return an incomplete file set, so it raises instead."""
    versions = list_delta_versions(path)
    classic, v2 = _list_checkpoints(path)
    all_cv = set(classic) | set(v2)
    if not versions and not all_cv:
        raise FileNotFoundError(f"{path}: empty _delta_log")
    newest = max(versions[-1] if versions else -1,
                 max(all_cv) if all_cv else -1)
    if version is None:
        version = newest
    if version not in versions and version not in all_cv:
        raise ValueError(
            f"no Delta commit {version} at {path}; have {versions}")
    state = _Replay()
    start = 0
    usable = [cv for cv in all_cv if cv <= version]
    if usable:
        cv = max(usable)
        if cv in classic:
            _replay_checkpoint(state, classic[cv])
        else:
            _replay_v2_checkpoint(state, path, v2[cv])
        start = cv + 1
    tail = [v for v in versions if start <= v <= version]
    expect = list(range(start, version + 1))
    if tail != expect:
        missing = sorted(set(expect) - set(tail))
        raise ValueError(
            f"delta log at {path} is not contiguous over "
            f"[{start}, {version}]: missing commits {missing[:10]} "
            f"(log retention cleaned them and no usable checkpoint "
            f"covers the gap); replaying would silently drop files")
    for v in tail:
        fp = os.path.join(path, "_delta_log", f"{v:020d}.json")
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    state.apply(json.loads(line))
    if with_row_ids:
        return (state.schema_json, state.part_cols,
                [(rel, pv, dv, b, d)
                 for rel, (pv, dv, b, d)
                 in sorted(state.live.items())],
                state.mapping_mode, state.config)
    return (state.schema_json, state.part_cols,
            [(rel, pv, dv)
             for rel, (pv, dv, _b, _d) in sorted(state.live.items())],
            state.mapping_mode)


def _delta_type_ddl(t) -> str:
    """Delta schemaString type -> Spark DDL type.  Delta's
    schemaString IS Spark's schema JSON, so struct/array/map recurse
    directly; flat types (incl. decimal) pass
    through."""
    from .nested import spark_json_type_ddl
    return spark_json_type_ddl(t)


def _contains_variant(t) -> bool:
    """True when the schemaString type carries a VARIANT leaf at any
    depth — the one leaf pyarrow's footer reader cannot open."""
    if isinstance(t, str):
        return t == "variant"
    k = t.get("type")
    if k == "struct":
        return any(_contains_variant(f["type"]) for f in t["fields"])
    if k == "array":
        return _contains_variant(t["elementType"])
    if k == "map":
        return (_contains_variant(t["keyType"])
                or _contains_variant(t["valueType"]))
    return False


def _phys_ddl(pt) -> str:
    """DDL of a PHYSICAL type tree (struct fields carry physical
    names; fields marked absent — ``{"name": None}``, a file that
    predates an ADD COLUMNS into a struct — are SKIPPED so the scan
    schema matches the file, and the logical remap re-inserts them
    as typed NULLs)."""
    if isinstance(pt, str):
        return pt
    k = pt.get("type")
    if k == "struct":
        present = [f for f in pt["fields"] if f.get("name") is not None]
        if not present:
            raise NotImplementedError(
                "delta nested struct with no resolvable fields in a "
                "data file — cannot build a scan schema")
        return "struct<" + ", ".join(
            f"`{f['name']}`: {_phys_ddl(f['type'])}"
            for f in present) + ">"
    if k == "array":
        return f"array<{_phys_ddl(pt['elementType'])}>"
    if k == "map":
        return (f"map<{_phys_ddl(pt['keyType'])}, "
                f"{_phys_ddl(pt['valueType'])}>")
    raise NotImplementedError(f"unsupported delta type {pt!r}")


def read_delta(spark, path: str, version: int | None = None,
               filters: dict | None = None,
               as_of_ms: int | None = None,
               row_tracking: bool = False):
    """Scan a Delta table at ``version`` (default latest): log replay
    driver-side, then ONE parquet scan per distinct physical layout
    (one per schema epoch — NOT per partition tuple), with
    partition-value columns re-attached through a small broadcast
    file→partition-values join on ``_metadata.file_path``, so plan
    size stays flat as partition count grows.  Add actions carrying a
    ``deletionVector`` have their deleted positions decoded in
    DISTRIBUTED tasks (:mod:`.deltadv` inside ``mapInPandas`` — one
    input row per DV'd file, positions never touch the driver) and
    anti-joined away on ``(_metadata.file_path,
    _metadata.row_index)``, AQE choosing broadcast when the set is
    small — the DV'd files still read in the same distributed scan,
    no rewrite, and files without DVs skip the join entirely.

    ``filters``: ``{partition_column: value}`` equality
    predicates prune the FILE LIST on the driver through each add
    action's ``partitionValues`` — Delta's partition pruning, so a
    point lookup on a partitioned key plans O(files-in-partition),
    not O(table) — then re-apply as row predicates (free exactness;
    non-partition columns in ``filters`` simply skip pruning and
    filter rows).  ``as_of_ms`` time-travels by TIMESTAMP the
    way delta readers do — inCommitTimestamp when recorded, commit
    file mtime otherwise.

    ``row_tracking=True`` (the Delta analog of Iceberg row
    lineage) appends the spec's ``_row_id`` and
    ``_row_commit_version`` columns: each is the MATERIALIZED hidden
    column when the file carries one (rewritten files preserve
    original ids there), else the add action's ``baseRowId`` plus
    the row's physical position / ``defaultRowCommitVersion`` —
    codegen arithmetic over the same broadcast file map the
    partition attach uses, zero extra jobs.  Tables whose live files
    carry no row-id assignment gate loudly.  Returns a DataFrame."""
    from pyspark.sql import functions as F
    if as_of_ms is not None:
        if version is not None:
            raise ValueError(
                "delta as_of_ms is exclusive with version")
        version = resolve_delta_version_at(path, as_of_ms)
    rowids: dict = {}
    mat_rid = mat_rcv = None
    if row_tracking:
        (schema_json, part_cols, files5, mapping,
         dconf) = replay_delta_log(path, version, with_row_ids=True)
        rowids = {rel: (b, d) for rel, _pv, _dv, b, d in files5}
        files = [(rel, pv, dv) for rel, pv, dv, _b, _d in files5]
        bad = sorted(r for r, (b, d) in rowids.items()
                     if b is None or d is None)
        if bad:
            raise NotImplementedError(
                f"delta row tracking: {len(bad)} live file(s) carry "
                f"no baseRowId/defaultRowCommitVersion (e.g. "
                f"{bad[0]!r}) — the table was not written with "
                "rowTracking enabled")
        mat_rid = dconf.get(
            "delta.rowTracking.materializedRowIdColumnName")
        mat_rcv = dconf.get(
            "delta.rowTracking.materializedRowCommitVersionColumnName")
    else:
        schema_json, part_cols, files, mapping = replay_delta_log(
            path, version)
    if schema_json is None:
        raise NotImplementedError(f"{path}: no metaData action in log")
    sch = json.loads(schema_json)

    def _phys(f) -> str:
        # column mapping: parquet files carry col-<uuid> physical
        # names recorded per field in the schemaString metadata;
        # partitionValues and partitionColumns are ALSO keyed
        # physically (both 'name' and 'id' modes write physicalName).
        # Read physical, alias back to logical.
        if mapping in ("name", "id"):
            pn = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName")
            if not pn:
                raise NotImplementedError(
                    f"column-mapped table field {f['name']!r} lacks "
                    "delta.columnMapping.physicalName metadata")
            return pn
        return f["name"]

    phys = {f["name"]: _phys(f) for f in sch["fields"]}
    # partitionColumns in a mapped table are physical names
    logical_parts = [next((ln for ln, pn in phys.items() if pn == c), c)
                     for c in part_cols]
    data_fields = [f for f in sch["fields"]
                   if f["name"] not in logical_parts]

    def _ptype(f):
        # physical TYPE of a column: in a mapped table, struct
        # fields inside nested columns are renamed to their
        # physicalName at EVERY level; unmapped tables read logical
        from .nested import delta_physical_type
        if mapping in ("name", "id") and not isinstance(f["type"],
                                                        str):
            return delta_physical_type(f["type"])
        return f["type"]

    ptypes = {f["name"]: _ptype(f) for f in sch["fields"]}
    part_types = {f["name"]: _delta_type_ddl(f["type"])
                  for f in sch["fields"] if f["name"] in logical_parts}
    if filters:
        # partition pruning: drop files whose partitionValues cannot
        # match — driver metadata work, no Spark job.  Values are
        # compared in the log's string form.
        for c, v in filters.items():
            pc = phys.get(c, c)
            if pc in part_cols:
                sv = None if v is None else str(v)
                files = [f for f in files if f[1].get(pc) == sv]
    if not files:
        full = ", ".join(
            f"{f['name']} {_delta_type_ddl(f['type'])}"
            for f in sch["fields"])
        out = spark.createDataFrame([], full)
        for c, v in (filters or {}).items():
            out = out.where(F.col(c).eqNullSafe(F.lit(v)))
        return out
    out_cols = [f["name"] for f in sch["fields"]]
    fid_of: dict[int, str] = {}
    if mapping == "id":
        for f in sch["fields"]:
            fid = (f.get("metadata") or {}).get(
                "delta.columnMapping.id")
            if fid is None:
                raise NotImplementedError(
                    f"id-mapped table field {f['name']!r} lacks "
                    "delta.columnMapping.id metadata")
            fid_of[int(fid)] = f["name"]

    files_abs = [(os.path.abspath(os.path.join(path, rel)), pvals, dv)
                 for rel, pvals, dv in files]
    rowids_abs = ({os.path.abspath(os.path.join(path, rel)):
                   rowids[rel] for rel, _pv, _dv in files}
                  if row_tracking else {})
    layouts: dict[str, tuple] = {}
    if mapping == "id":
        # 'id' mode matches by PARQUET FIELD IDS in each file's
        # footer, not by name — files from different writers (e.g. an
        # Iceberg conversion) may use different physical names for
        # the same logical column; the ids are the stable key.  ONE
        # distributed footer job resolves every file's layout (never
        # a driver-side open per data file); the footer TREES
        # carry nested ids too, so renamed struct fields INSIDE
        # a column resolve per file as well.
        # VARIANT columns do not gate here: the footer tap falls back
        # to the in-repo thrift walk (functions/parquetfooter.py) when
        # pyarrow refuses the VARIANT logical type
        from .nested import match_tree_delta, parquet_field_trees
        raw = parquet_field_trees(
            spark, [p for p, _pv, _dv in files_abs])
        for p, trees in raw.items():
            by_fid = {t0[0]: t0 for t0 in trees if t0[0] is not None}
            m = {}
            for f in data_fields:
                fid = (f.get("metadata") or {}).get(
                    "delta.columnMapping.id")
                if fid is None:
                    # the deliberate gate, not a bare KeyError:
                    # an id-mapped table whose field
                    # lacks the id metadata is malformed
                    raise NotImplementedError(
                        f"id-mapped table field {f['name']!r} lacks "
                        "delta.columnMapping.id metadata")
                node = by_fid.get(int(fid))
                if node is None:
                    continue
                pt = (match_tree_delta(f["type"], node)
                      if not isinstance(f["type"], str)
                      else f["type"])
                m[f["name"]] = (node[1], json.dumps(pt))
            missing = [f["name"] for f in data_fields
                       if f["name"] not in m]
            if missing:
                raise NotImplementedError(
                    f"delta id-mapped file {p} lacks parquet field "
                    f"ids for {missing}")
            layouts[p] = tuple(sorted(m.items()))
    # ONE parquet scan per distinct PHYSICAL LAYOUT (a handful at
    # most — one per schema epoch), never per partition tuple: at 10k
    # partitions a per-tuple union is a 10k-arm plan.
    # Partition values re-attach via a small broadcast
    # file→partition-values table joined on _metadata.file_path.
    groups: dict[tuple, list[str]] = {}
    for p, _pvals, _dv in files_abs:
        lay = layouts[p] if mapping == "id" else ()
        groups.setdefault(lay, []).append(p)
    dv_files = [(p, json.dumps(dv)) for p, _pv, dv in files_abs if dv]
    has_dv = bool(dv_files)
    # _metadata.file_path URI form varies (file:/p vs file:///p)
    # — normalize to a plain absolute path before matching
    def _norm(col):
        return F.regexp_replace(col, "^file:/+", "/")

    need_fp = has_dv or bool(logical_parts) or row_tracking
    from .nested import remap_expr, remap_needed
    parts = []
    for lay, paths in sorted(groups.items()):
        if mapping == "id":
            lmap = {n: (pn, json.loads(ptj))
                    for n, (pn, ptj) in dict(lay).items()}
        else:
            lmap = {f["name"]: (phys[f["name"]], ptypes[f["name"]])
                    for f in data_fields}
        ddl_g = ", ".join(
            f"`{lmap[f['name']][0]}` {_phys_ddl(lmap[f['name']][1])}"
            for f in data_fields)
        if row_tracking:
            # the MATERIALIZED hidden columns exist only in
            # rewritten files — the explicit schema null-fills them
            # everywhere else, exactly what the coalesce needs
            for mc in (mat_rid, mat_rcv):
                if mc:
                    ddl_g += f", `{mc}` bigint"
        df = spark.read.schema(ddl_g).parquet(*paths)
        # alias physical data columns back to their logical names;
        # nested columns additionally REBUILD their inner structure
        # logically — JVM-side struct/transform expressions,
        # identity when nothing inside was renamed
        for f in data_fields:
            pn, pt = lmap[f["name"]]
            if pn != f["name"]:
                df = df.withColumnRenamed(pn, f["name"])
            if remap_needed(pt, f["type"]):
                df = df.withColumn(
                    f["name"],
                    remap_expr(F.col(f"`{f['name']}`"), pt,
                               f["type"]))
        if need_fp:
            df = df.withColumn(
                "__fp", _norm(F.col("_metadata.file_path")))
        if has_dv or row_tracking:
            df = df.withColumn("__pos", F.col("_metadata.row_index"))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if logical_parts:
        # partitionValues keys are physical names in a mapped table
        pmap_rows = [(p, 1, *[pvals.get(c) for c in part_cols])
                     for p, pvals, _dv in files_abs]
        pmap_ddl = ("__fp string, __pm int, " + ", ".join(
            f"`{c}` string" for c in logical_parts))
        pmap = F.broadcast(spark.createDataFrame(pmap_rows, pmap_ddl))
        out = out.join(pmap, on="__fp", how="left")
        # the path-keyed attach join must fail CLOSED — a
        # normalization miss (URI-escaped table path) would otherwise
        # silently null every partition value; the marker column
        # distinguishes a missed join from a genuinely-null value
        for c in logical_parts:
            out = out.withColumn(
                c, F.when(F.col("__pm").isNull(), F.raise_error(F.lit(
                    "delta partition-attach map missed a scanned "
                    "file path — refusing to degrade to NULL "
                    "partition values")))
                .otherwise(F.col(c).cast(part_types[c])))
        out = out.drop("__pm")
    if row_tracking:
        # the spec's row ids: materialized column when present (a
        # rewritten file preserves ORIGINAL ids there), else
        # baseRowId + physical position — fail CLOSED on an attach
        # miss, same stance as the partition map
        rmap = F.broadcast(spark.createDataFrame(
            [(p, int(b), int(d))
             for p, (b, d) in sorted(rowids_abs.items())],
            "__fp string, __brid bigint, __drcv bigint"))
        out = out.join(rmap, on="__fp", how="left")
        miss = F.col("__brid").isNull()

        def _ck(val):
            return F.when(miss, F.raise_error(F.lit(
                "delta row-id attach map missed a scanned file "
                "path — refusing to emit wrong row ids"))
            ).otherwise(val)

        rid = F.col("__brid") + F.col("__pos")
        if mat_rid:
            rid = F.coalesce(F.col(f"`{mat_rid}`"), rid)
        rcv = F.col("__drcv")
        if mat_rcv:
            rcv = F.coalesce(F.col(f"`{mat_rcv}`"), rcv)
        out = (out.withColumn("_row_id", _ck(rid))
               .withColumn("_row_commit_version", _ck(rcv))
               .drop("__brid", "__drcv"))
    if has_dv:
        # DV positions decode in a DISTRIBUTED task per (file,
        # descriptor) — one row per deleted position, built on the
        # executors, never materialized on the driver — then
        # anti-join; AQE picks broadcast when the set is small.
        table_root = os.path.abspath(path)

        def _dv_decode(batches):
            import json as _json

            import pandas as pd

            from .deltadv import read_dv_positions
            for pdf in batches:
                rows = []
                for p, dvs in zip(pdf["path"], pdf["dv"]):
                    for pos in read_dv_positions(table_root,
                                                 _json.loads(dvs)):
                        rows.append((p, pos))
                yield pd.DataFrame(rows, columns=["__fp", "__pos"])

        n = min(len(dv_files),
                max(32, spark.sparkContext.defaultParallelism))
        dels = (spark.createDataFrame(dv_files,
                                      "path string, dv string")
                .repartition(n, "path")
                .mapInPandas(_dv_decode, "__fp string, __pos bigint"))
        out = out.join(dels, on=["__fp", "__pos"], how="left_anti")
    out = out.select(*(out_cols
                       + (["_row_id", "_row_commit_version"]
                          if row_tracking else [])))
    # re-apply filters on rows: exactness for non-partition columns
    # (which skipped pruning), free for partition columns
    for c, v in (filters or {}).items():
        out = out.where(F.col(c).eqNullSafe(F.lit(v)))
    return out


def write_delta_fixture(spark, df, path: str, partition_by=(),
                        mode: str = "create", order_by=(),
                        column_mapping: bool = False,
                        row_tracking: bool = False) -> int:
    """FIXTURE writer emitting the public Delta log layout (metaData +
    add actions; ``mode="append"`` adds a commit, ``mode="delete"``
    removes files matching a predicate via
    :func:`delete_delta_fixture`).  ``column_mapping=True`` (or ``"name"``) emits a
    ``name``-mode mapped table — ``col-<uuid>`` physical parquet
    columns, per-field physicalName metadata, physically-keyed
    partitionColumns/partitionValues, at minReaderVersion exactly 2
    (the legacy form the protocol-version gate can never catch).
    ``column_mapping="id"`` emits an ``id``-mode table whose data
    files carry PARQUET FIELD IDS and deliberately use
    commit-varying physical column names that do NOT match the
    physicalName metadata — the layout only an id-matching reader
    can decode (a name-matching one would read nulls).
    This is a test-double for an upstream Delta writer — it does NOT
    implement the optimistic commit protocol; its output is
    spec-layout logs for the READER to be verified against.  Returns
    the committed version."""
    import uuid
    part_cols = list(partition_by)
    cm_mode = {True: "name", False: None}.get(column_mapping,
                                              column_mapping)
    log = os.path.join(path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    try:
        versions = list_delta_versions(path)
        classic, v2s = _list_checkpoints(path)
        cv = max(set(classic) | set(v2s), default=-1)
    except FileNotFoundError:
        versions, cv = [], -1
    # a retention-cleaned log may hold ONLY a checkpoint — the next
    # commit must continue after it, not restart at 0
    v = max(versions[-1] if versions else -1, cv) + 1
    data_cols = [c for c in df.columns if c not in part_cols]
    phys = {c: (f"col-{uuid.uuid5(uuid.NAMESPACE_URL, c).hex[:12]}"
                if cm_mode else c) for c in df.columns}
    fids = {c: i + 1 for i, c in enumerate(df.columns)}
    # Delta's schemaString is Spark's schema JSON: primitive types
    # under their JSON names (`long`, `integer`), nested ones as trees
    json_types = {f["name"]: f["type"]
                  for f in df.schema.jsonValue()["fields"]}

    def _cm_nested(t, counter):
        # inject per-field id + physicalName metadata into NESTED
        # struct fields — the protocol maps every struct field at
        # every depth; list elements / map entries are not renamable
        if isinstance(t, str):
            return t
        if t["type"] == "struct":
            out2 = []
            for f in t["fields"]:
                fid = next(counter)
                out2.append({
                    "name": f["name"],
                    "type": _cm_nested(f["type"], counter),
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": fid,
                        "delta.columnMapping.physicalName":
                            f"col-{uuid.uuid5(uuid.NAMESPACE_URL, str(fid)).hex[:12]}"}})
            return {"type": "struct", "fields": out2}
        if t["type"] == "array":
            return {"type": "array",
                    "elementType": _cm_nested(t["elementType"],
                                              counter),
                    "containsNull": t.get("containsNull", True)}
        if t["type"] == "map":
            return {"type": "map",
                    "keyType": _cm_nested(t["keyType"], counter),
                    "valueType": _cm_nested(t["valueType"], counter),
                    "valueContainsNull": t.get("valueContainsNull",
                                               True)}
        raise NotImplementedError(f"delta fixture type {t!r}")

    def _sch_type(c, counter):
        return (_cm_nested(json_types[c], counter) if cm_mode
                else json_types[c])

    actions = []
    schema_fields = None
    if v == 0:
        import itertools as _it
        counter = _it.count(len(df.columns) + 1)
        schema_fields = [
            {"name": c, "type": _sch_type(c, counter), "nullable": True,
             "metadata": ({"delta.columnMapping.id": fids[c],
                           "delta.columnMapping.physicalName": phys[c]}
                          if cm_mode else {})}
            for c in df.columns]
        schema = {"type": "struct", "fields": schema_fields}
        max_id = next(counter) - 1 if cm_mode else len(df.columns)
        conf = ({"delta.columnMapping.mode": cm_mode,
                 "delta.columnMapping.maxColumnId": str(max_id)}
                if cm_mode else {})
        if row_tracking:
            # row tracking: enabled + the MATERIALIZED hidden
            # column names, the shape a real Delta writer records
            conf = {**conf, "delta.rowTracking.enabled": "true",
                    "delta.rowTracking."
                    "materializedRowIdColumnName":
                        "_fixture_row_id",
                    "delta.rowTracking."
                    "materializedRowCommitVersionColumnName":
                        "_fixture_row_cv"}
        if any(_contains_variant(json_types[c]) for c in df.columns):
            # a real Delta 4 writer publishes variant tables at
            # table-features protocol with variantType listed;
            # detection walks the schema-JSON type tree (a DDL
            # substring match would also fire on a struct FIELD NAME
            # containing "variant" and flip a plain table onto the
            # JVM-writer path)
            rf = (["variantType", "columnMapping"] if cm_mode
                  else ["variantType"])
            actions.append({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": sorted(rf),
                "writerFeatures": sorted(rf)}})
        else:
            actions.append({"protocol": {
                "minReaderVersion": 2 if cm_mode else 1,
                "minWriterVersion": 5 if cm_mode else 2}})
        actions.append({"metaData": {
            "id": uuid.uuid4().hex, "format": {"provider": "parquet",
                                               "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [phys[c] for c in part_cols],
            "configuration": conf}})
    else:
        # appending: honor the table's existing mapping so physical
        # column names stay consistent across commits
        sch_json, _pc, _files, mm = replay_delta_log(path)
        _cfg = replay_delta_log(path, with_row_ids=True)[4]
        if _cfg.get("delta.rowTracking.enabled") == "true":
            row_tracking = True      # row ids continue automatically
        schema_fields = json.loads(sch_json)["fields"]
        if mm in ("name", "id"):
            cm_mode = mm
            flds = schema_fields
            phys = {f["name"]: f["metadata"]
                    ["delta.columnMapping.physicalName"]
                    for f in flds}
            fids = {f["name"]: int(f["metadata"]
                                   ["delta.columnMapping.id"])
                    for f in flds}
        if not part_cols and _pc:
            # inherit the table's partitioning — an append that
            # dropped partitionValues would be a malformed log
            inv = {pn: ln for ln, pn in phys.items()}
            part_cols = [inv.get(c, c) for c in _pc]
            data_cols = [c for c in df.columns
                         if c not in part_cols]
    fld_of = {f["name"]: f for f in schema_fields}
    has_nested = any(not isinstance(fld_of[c]["type"], str)
                     for c in data_cols)
    written_ids: dict[tuple, int] = {}
    if cm_mode == "id" and has_nested:
        # parquet field ids keyed by the WRITTEN (physical) path —
        # nested struct fields carry their schema-assigned ids so an
        # id-matching reader resolves renames at every depth
        def _collect_ids(t, prefix):
            if isinstance(t, str):
                return
            if t["type"] == "struct":
                for f in t["fields"]:
                    pn = f["metadata"][
                        "delta.columnMapping.physicalName"]
                    written_ids[prefix + (pn,)] = int(
                        f["metadata"]["delta.columnMapping.id"])
                    _collect_ids(f["type"], prefix + (pn,))
            elif t["type"] == "array":
                _collect_ids(t["elementType"], prefix + ("element",))
            elif t["type"] == "map":
                _collect_ids(t["keyType"], prefix + ("key",))
                _collect_ids(t["valueType"], prefix + ("value",))
        for c in data_cols:
            top = f"{phys[c]}_v{v}"
            written_ids[(top,)] = fids[c]
            _collect_ids(fld_of[c]["type"], (top,))
    if part_cols:
        keys = [tuple(r) for r in
                df.select(*part_cols).distinct().collect()]
    else:
        keys = [()]
    for key in sorted(keys, key=lambda k: tuple(str(x) for x in k)):
        sub = df
        for c, val in zip(part_cols, key):
            sub = sub.where(sub[c].eqNullSafe(val))
        rel_dir = "/".join(f"{c}={v_}" for c, v_ in zip(part_cols, key))
        fname = f"part-{v:05d}-{uuid.uuid4().hex}.parquet"
        rel = f"{rel_dir}/{fname}" if rel_dir else fname
        full = os.path.join(path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        if order_by:
            # deterministic physical row order — deletion-vector
            # fixtures address rows BY POSITION, so the writer must pin it
            sub = sub.orderBy(*order_by)
        import pyarrow as pa
        import pyarrow.parquet as pq
        if any(_contains_variant(json_types[c]) for c in data_cols):
            # VARIANT columns: neither pandas nor this
            # container's pyarrow can carry variant values, so the
            # data file writes through Spark's OWN parquet writer —
            # the same binary layout a real Delta 4 writer emits —
            # and moves into place.
            import glob as _glob
            import shutil as _shutil

            from pyspark.sql import functions as SF
            if cm_mode == "id":
                # id-mode: the JVM writer
                # stamps parquet field ids from `parquet.field.id`
                # field metadata — commit-varying physical names
                # with stable ids, the same layout the pyarrow id
                # path writes.  Nested non-variant columns would
                # need INNER ids the alias metadata cannot carry.
                if has_nested:
                    raise NotImplementedError(
                        "delta fixture: VARIANT with id-mode column "
                        "mapping over NESTED columns is unsupported "
                        "(no inner-field id stamping through the "
                        "JVM writer)")
                sel = [SF.col(f"`{c}`").alias(
                    f"{phys[c]}_v{v}",
                    metadata={"parquet.field.id": fids[c]})
                    for c in data_cols]
            else:
                sel = [SF.col(f"`{c}`").alias(phys[c])
                       for c in data_cols]
            tmpd = full + ".jvm"
            sub.select(*sel).coalesce(1).write.mode(
                "overwrite").parquet(tmpd)
            srcf = _glob.glob(os.path.join(tmpd,
                                           "part-*.parquet"))[0]
            _shutil.move(srcf, full)
            _shutil.rmtree(tmpd, ignore_errors=True)
            actions.append({"add": {
                "path": rel, "partitionValues": {
                    phys[c]: (None if v_ is None else str(v_))
                    for c, v_ in zip(part_cols, key)},
                "size": os.path.getsize(full),
                "modificationTime": 0, "dataChange": True}})
            continue
        if has_nested:
            # nested columns: Arrow path — pandas cannot carry
            # structs faithfully; logical -> physical renames happen
            # as JVM expressions before collection, and id mode
            # stamps nested parquet field ids from the schema
            from pyspark.sql import functions as SF

            from .nested import (delta_physical_type, remap_expr,
                                 remap_needed, stamp_arrow_field_ids)
            sel_cols = []
            for c in data_cols:
                t = fld_of[c]["type"]
                top = (f"{phys[c]}_v{v}" if cm_mode == "id"
                       else phys[c])
                col = SF.col(f"`{c}`")
                if cm_mode and not isinstance(t, str):
                    pt = delta_physical_type(t)
                    if remap_needed(t, pt):
                        col = remap_expr(col, t, pt)
                sel_cols.append(col.alias(top))
            tb = sub.select(*sel_cols).toArrow()
            if cm_mode == "id":
                tb = stamp_arrow_field_ids(
                    tb, lambda pth: written_ids.get(pth))
            pq.write_table(tb, full)
            actions.append({"add": {
                "path": rel, "partitionValues": {
                    phys[c]: (None if v_ is None else str(v_))
                    for c, v_ in zip(part_cols, key)},
                "size": os.path.getsize(full),
                "modificationTime": 0, "dataChange": True}})
            continue
        pdf = sub.select(*data_cols).toPandas()
        if cm_mode == "id":
            # id mode: physical names vary per commit (so only field
            # ids can match them), field ids ride the parquet footer
            pdf.columns = [f"{phys[c]}_v{v}" for c in data_cols]
            tb = pa.Table.from_pandas(pdf, preserve_index=False)
            fields = [tb.schema.field(i).with_metadata(
                {b"PARQUET:field_id": str(fids[c]).encode()})
                for i, c in enumerate(data_cols)]
            tb = tb.cast(pa.schema(fields))
            pq.write_table(tb, full)
        else:
            pdf.columns = [phys[c] for c in data_cols]  # physical
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False), full)
        actions.append({"add": {
            "path": rel, "partitionValues": {
                phys[c]: (None if v_ is None else str(v_))
                for c, v_ in zip(part_cols, key)},
            "size": os.path.getsize(full),
            "modificationTime": 0, "dataChange": True}})
    if row_tracking:
        # assign baseRowId/defaultRowCommitVersion to this commit's
        # adds from the table's row-id high watermark, upgrade the
        # protocol to writer features, and advance the watermark in
        # a delta.rowTracking domainMetadata action — the action
        # shapes a real rowTracking writer emits
        import pyarrow.parquet as _pq
        for a in actions:
            pr = a.get("protocol")
            if pr:
                pr["minWriterVersion"] = 7
                pr["writerFeatures"] = sorted(
                    set(pr.get("writerFeatures") or [])
                    | {"rowTracking", "domainMetadata"})
        hw = _row_id_high_watermark(path)
        for a in actions:
            ad = a.get("add")
            if not ad:
                continue
            full_p = os.path.join(path, ad["path"])
            try:
                n_rows = _pq.read_metadata(full_p).num_rows
            except OSError:
                from .parquetfooter import footer_num_rows
                n_rows = footer_num_rows(full_p)
            ad["baseRowId"] = hw + 1
            ad["defaultRowCommitVersion"] = v
            hw += n_rows
        actions.append({"domainMetadata": {
            "domain": "delta.rowTracking",
            "configuration": json.dumps(
                {"rowIdHighWaterMark": hw}),
            "removed": False}})
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return v


def _row_id_high_watermark(path: str) -> int:
    """Latest ``delta.rowTracking`` domainMetadata high watermark in
    the JSON log (fixture-side planning; -1 when none yet)."""
    hw = -1
    try:
        versions = list_delta_versions(path)
    except FileNotFoundError:
        return hw
    for vv in versions:
        fp = os.path.join(path, "_delta_log", f"{vv:020d}.json")
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                dm = json.loads(line).get("domainMetadata")
                if dm and dm.get("domain") == "delta.rowTracking" \
                        and not dm.get("removed"):
                    hw = json.loads(dm["configuration"])[
                        "rowIdHighWaterMark"]
    return hw


def materialize_delta_rowids_fixture(path: str) -> int:
    """FIXTURE: rewrite every live data file ADDING the materialized
    row-id / row-commit-version hidden columns (values = the rows'
    CURRENT ids), committed as remove+add with FRESH baseRowIds past
    the watermark — the layout an UPDATE/OPTIMIZE leaves behind,
    where a reader must PREFER the materialized columns or row ids
    silently change across the rewrite.  Files carrying deletion
    vectors gate (a real rewrite would drop their dead rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    (_sj, _pc, files5, _mm,
     conf) = replay_delta_log(path, with_row_ids=True)
    mat_rid = conf.get(
        "delta.rowTracking.materializedRowIdColumnName")
    mat_rcv = conf.get(
        "delta.rowTracking.materializedRowCommitVersionColumnName")
    if not (mat_rid and mat_rcv):
        raise NotImplementedError(
            f"{path}: no materialized row-tracking column names in "
            "table configuration")
    versions = list_delta_versions(path)
    v = versions[-1] + 1
    hw = _row_id_high_watermark(path)
    actions = []
    for rel, pv, dv, brid, drcv in files5:
        if dv:
            raise NotImplementedError(
                "materialize fixture over a DV-carrying file")
        if brid is None or drcv is None:
            raise NotImplementedError(
                f"{rel}: no row-id assignment to materialize")
        full = os.path.join(path, rel)
        tb = pq.read_table(full)
        n = tb.num_rows
        # re-materializing an ALREADY-materialized file keeps its
        # existing columns verbatim (they hold the rows' true ids:
        # a blind append would duplicate the
        # hidden column and break every later read)
        if mat_rid not in tb.schema.names:
            tb = tb.append_column(
                mat_rid, pa.array(np.arange(brid, brid + n),
                                  type=pa.int64()))
        if mat_rcv not in tb.schema.names:
            tb = tb.append_column(
                mat_rcv, pa.array(np.full(n, int(drcv)),
                                  type=pa.int64()))
        import uuid as _uuid
        new_rel = (os.path.dirname(rel) + "/" if os.path.dirname(rel)
                   else "") + f"part-{v:05d}-{_uuid.uuid4().hex}.parquet"
        pq.write_table(tb, os.path.join(path, new_rel))
        actions.append({"remove": {"path": rel,
                                   "deletionTimestamp": 0,
                                   "dataChange": False}})
        actions.append({"add": {
            "path": new_rel, "partitionValues": pv,
            "size": os.path.getsize(os.path.join(path, new_rel)),
            "modificationTime": 0, "dataChange": False,
            "baseRowId": hw + 1, "defaultRowCommitVersion": v}})
        hw += n
    actions.append({"domainMetadata": {
        "domain": "delta.rowTracking",
        "configuration": json.dumps({"rowIdHighWaterMark": hw}),
        "removed": False}})
    with open(os.path.join(path, "_delta_log",
                           f"{v:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return v


def add_dv_fixture(path: str, dv_by_rel: dict[str, list[int]],
                   inline: bool = False) -> int:
    """FIXTURE commit attaching deletion vectors to live files: for
    each ``rel_path -> deleted positions``, emits the protocol-upgrade
    action (minReaderVersion 3 + readerFeatures [deletionVectors]),
    a ``remove`` of the old add and an ``add`` of the same path
    carrying the DV descriptor — the exact action shape a modern Delta
    DELETE writes.  ``inline=True`` stores the bitmaps Z85-inline in
    the log; default writes one shared ``.bin`` sidecar."""
    from .deltadv import inline_dv_fixture, write_dv_file_fixture
    versions = list_delta_versions(path)
    v = versions[-1] + 1
    _sch, _pc, files5, _mm, _cfg = replay_delta_log(
        path, with_row_ids=True)
    by_rel = {rel: (pv, dv, b, d) for rel, pv, dv, b, d in files5}
    missing = sorted(set(dv_by_rel) - set(by_rel))
    if missing:
        raise ValueError(f"no live files {missing} at {path}")
    rels = sorted(dv_by_rel)
    if inline:
        descs = [inline_dv_fixture(sorted(dv_by_rel[r])) for r in rels]
    else:
        descs = write_dv_file_fixture(
            path, [sorted(dv_by_rel[r]) for r in rels])
    actions = [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"]}}]
    for rel, desc in zip(rels, descs):
        pv, _old_dv, brid, drcv = by_rel[rel]
        actions.append({"remove": {"path": rel, "deletionTimestamp": 0,
                                   "dataChange": True}})
        # the DV re-add recommits the SAME file: its row-id
        # assignment carries verbatim (dropping it would break
        # row-tracking reads after a DELETE)
        actions.append({"add": {"path": rel, "partitionValues": pv,
                                "size": os.path.getsize(
                                    os.path.join(path, rel)),
                                "modificationTime": 0, "dataChange": True,
                                "deletionVector": desc,
                                "baseRowId": brid,
                                "defaultRowCommitVersion": drcv}})
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return v


def widen_delta_fixture(path: str, changes: dict[str, str]) -> int:
    """FIXTURE: commit a ``typeWidening`` schema change.
    ``changes`` maps dotted column paths (``"a"``, ``"s.x"``) to
    their NEW, wider Delta type name.  Emits one metadata-only
    commit: the patched schemaString with per-field
    ``delta.typeChanges`` history entries (the spec's record of what
    widened from what), plus a protocol action at
    minReaderVersion 3 listing ``typeWidening`` — files written
    BEFORE this commit keep their narrower physical types and the
    reader promotes them per file.  Returns the new version."""
    log = os.path.join(path, "_delta_log")
    meta = proto = None
    for v in list_delta_versions(path):
        p = os.path.join(log, f"{v:020d}.json")
        if not os.path.exists(p):
            continue
        with open(p) as fh:
            for line in fh:
                a = json.loads(line)
                if a.get("metaData"):
                    meta = a["metaData"]
                if a.get("protocol"):
                    proto = a["protocol"]
    if meta is None:
        raise NotImplementedError(
            f"no metaData action found in {log} — cannot widen")
    sch = json.loads(meta["schemaString"])
    for col_path, to_t in changes.items():
        flds = sch["fields"]
        segs = col_path.split(".")
        for i, seg in enumerate(segs):
            f = next((x for x in flds if x["name"] == seg), None)
            if f is None:
                raise ValueError(
                    f"widen_delta_fixture: no field {col_path!r}")
            if i == len(segs) - 1:
                from_t = f["type"]
                if not isinstance(from_t, str):
                    raise NotImplementedError(
                        "widen_delta_fixture widens primitive "
                        f"leaves only, {col_path!r} is {from_t!r}")
                f["type"] = to_t
                md = f.get("metadata") or {}
                md.setdefault("delta.typeChanges", []).append(
                    {"fromType": from_t, "toType": to_t})
                f["metadata"] = md
            else:
                t = f["type"]
                if not (isinstance(t, dict)
                        and t.get("type") == "struct"):
                    raise NotImplementedError(
                        f"widen_delta_fixture path {col_path!r} "
                        "crosses a non-struct type")
                flds = t["fields"]
    meta = dict(meta)
    meta["schemaString"] = json.dumps(sch)
    feats = set((proto or {}).get("readerFeatures") or [])
    feats.add("typeWidening")
    mapping = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode")
    if mapping in ("name", "id"):
        feats.add("columnMapping")
    wfeats = set((proto or {}).get("writerFeatures") or [])
    wfeats.add("typeWidening")
    new_v = max(list_delta_versions(path)) + 1
    with open(os.path.join(log, f"{new_v:020d}.json"), "w") as fh:
        fh.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": sorted(feats),
            "writerFeatures": sorted(wfeats)}}) + "\n")
        fh.write(json.dumps({"metaData": meta}) + "\n")
    return new_v


def write_delta_checkpoint_fixture(path: str,
                                   clean_before: bool = False,
                                   v2: bool = False,
                                   n_sidecars: int = 2,
                                   json_format: bool = False) -> int:
    """FIXTURE: write a parquet checkpoint of the current replayed
    state at the latest version (the layout ``_last_checkpoint``
    points at), optionally deleting the JSON commits it covers — the
    retention-cleaned shape real tables land in, which the contiguity
    guard otherwise rejects.  ``v2=True`` writes the V2 layout
    instead: a UUID-named top-level file holding protocol/metaData/
    checkpointMetadata plus ``sidecar`` pointers, with the add
    actions split across ``n_sidecars`` parquet files under
    ``_delta_log/_sidecars/``; ``json_format=True`` writes the v2
    top file as JSON lines, the spec's other legal format."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    versions = list_delta_versions(path)
    v = versions[-1]
    state = _Replay()
    for vv in versions:
        fp = os.path.join(path, "_delta_log", f"{vv:020d}.json")
        with open(fp) as fh:
            for line in fh:
                if line.strip():
                    state.apply(json.loads(line.strip()))
    conf = ({"delta.columnMapping.mode": state.mapping_mode}
            if state.mapping_mode != "none" else {})
    rows = [{"metaData": {
        "id": "ckpt", "format": {"provider": "parquet", "options": {}},
        "schemaString": state.schema_json,
        "partitionColumns": state.part_cols, "configuration": conf},
        "add": None, "remove": None, "protocol": None}]
    rows.append({"metaData": None, "add": None, "remove": None,
                 "protocol": {"minReaderVersion": 1,
                              "minWriterVersion": 2}})
    for rel, (pv, dv, brid, drcv) in sorted(state.live.items()):
        rows.append({"metaData": None, "remove": None, "protocol": None,
                     "add": {"path": rel, "partitionValues": pv,
                             "size": os.path.getsize(
                                 os.path.join(path, rel)),
                             "modificationTime": 0, "dataChange": False,
                             "deletionVector": dv,
                             "baseRowId": brid,
                             "defaultRowCommitVersion": drcv}})
    # explicit schema: real checkpoints type partitionValues /
    # configuration as map<string,string> (plain inference would make
    # empty structs, which parquet rejects) — this also exercises the
    # reader's map-to-dict normalization
    smap = pa.map_(pa.string(), pa.string())
    schema = pa.schema([
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", smap)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", smap)])),
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("add", pa.struct([
            ("path", pa.string()), ("partitionValues", smap),
            ("size", pa.int64()), ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", pa.struct([
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int64()), ("sizeInBytes", pa.int64()),
                ("cardinality", pa.int64())])),
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64())])),
        ("remove", pa.struct([("path", pa.string()),
                              ("deletionTimestamp", pa.int64()),
                              ("dataChange", pa.bool_())])),
    ])
    log = os.path.join(path, "_delta_log")
    if v2:
        head, adds = rows[:2], rows[2:]
        sdir = os.path.join(log, "_sidecars")
        os.makedirs(sdir, exist_ok=True)
        side_schema = pa.schema([schema.field("add"),
                                 schema.field("remove")])
        chunks = [adds[i::max(1, n_sidecars)]
                  for i in range(max(1, n_sidecars))]
        top_extra = pa.schema(list(schema) + [
            ("checkpointMetadata", pa.struct([("version", pa.int64())])),
            ("sidecar", pa.struct([("path", pa.string()),
                                   ("sizeInBytes", pa.int64()),
                                   ("modificationTime", pa.int64())])),
        ])
        top_rows = [dict(r, checkpointMetadata=None, sidecar=None)
                    for r in head]
        top_rows.append({"metaData": None, "add": None, "remove": None,
                         "protocol": None,
                         "checkpointMetadata": {"version": v},
                         "sidecar": None})
        for i, chunk in enumerate(chunks):
            if not chunk:
                continue
            sname = f"{_uuid.uuid5(_uuid.NAMESPACE_URL, str(i)).hex}.parquet"
            sfull = os.path.join(sdir, sname)
            pq.write_table(pa.Table.from_pylist(
                [{"add": r["add"], "remove": r["remove"]}
                 for r in chunk], schema=side_schema), sfull)
            top_rows.append({"metaData": None, "add": None,
                             "remove": None, "protocol": None,
                             "checkpointMetadata": None,
                             "sidecar": {
                                 "path": sname,
                                 "sizeInBytes": os.path.getsize(sfull),
                                 "modificationTime": 0}})
        if json_format:
            # the spec's OTHER v2 top-file format: one action object
            # per line (sidecars stay parquet)
            top_name = (f"{v:020d}.checkpoint."
                        f"{_uuid.uuid5(_uuid.NAMESPACE_URL, 'top').hex}"
                        ".json")
            with open(os.path.join(log, top_name), "w") as fh:
                for r in top_rows:
                    fh.write(json.dumps(
                        {k: val for k, val in r.items()
                         if val is not None}) + "\n")
        else:
            top_name = (f"{v:020d}.checkpoint."
                        f"{_uuid.uuid5(_uuid.NAMESPACE_URL, 'top').hex}"
                        ".parquet")
            pq.write_table(pa.Table.from_pylist(top_rows,
                                                schema=top_extra),
                           os.path.join(log, top_name))
    else:
        pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                       os.path.join(log, f"{v:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": v, "size": len(rows)}, fh)
    if clean_before:
        for vv in versions:
            if vv <= v:
                os.remove(os.path.join(log, f"{vv:020d}.json"))
    return v


def remove_delta_files_fixture(path: str, match) -> int:
    """Fixture commit that REMOVEs every live file whose relative path
    satisfies ``match`` (a predicate on the path string).  Like the
    writer fixture, the next version continues after a
    retention-cleaned log's checkpoint (a clean may leave ZERO
    JSON commits behind)."""
    versions = list_delta_versions(path)
    classic, v2s = _list_checkpoints(path)
    cv = max(set(classic) | set(v2s), default=-1)
    v = max(versions[-1] if versions else -1, cv) + 1
    _sch, _pc, files, _mm = replay_delta_log(path)
    removed = [rel for rel, _pv, _dv in files if match(rel)]
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        for rel in removed:
            fh.write(json.dumps({"remove": {
                "path": rel, "deletionTimestamp": 0,
                "dataChange": True}}) + "\n")
    return v


def _partition_value(raw: str | None, dtype: str):
    """A partition value as the protocol serializes it (a string; null
    or empty for NULL) decoded to a Python value of type ``dtype``, a
    schemaString primitive type name (``long``, ``integer``).  A
    timestamp without a zone is UTC, the session zone ``get_spark``
    sets; a ``timestamp_ntz`` stays naive."""
    import datetime
    import decimal
    if raw is None or raw == "":
        return None
    if dtype in ("byte", "short", "integer", "long"):
        return int(raw)
    if dtype in ("float", "double"):
        return float(raw)
    if dtype == "boolean":
        return raw.lower() == "true"
    if dtype == "date":
        return datetime.date.fromisoformat(raw)
    if dtype.startswith("decimal"):
        return decimal.Decimal(raw)
    if dtype in ("timestamp", "timestamp_ntz"):
        ts = datetime.datetime.fromisoformat(raw)
        if dtype == "timestamp" and ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts
    if dtype == "binary":
        return raw.encode()
    return raw


@dataclass
class DeltaChanges:
    """A Delta change feed's span as :func:`plan_delta_changes` plans
    it, with the table's column-mapping facts at its last version."""
    fields: list[dict]          # the schema's fields (Delta JSON)
    mapping: str | None         # column-mapping mode
    phys: dict[str, str]        # logical -> physical column name
    field_ids: dict[str, int]   # logical -> parquet field id (id mode)
    partitions: list[str]       # logical partition columns
    # (version, kind, rel, {partition column: value}, include DV,
    # exclude DV): the DV descriptors are position filters — include =
    # emit only these physical row positions (newly-dead rows of an
    # in-place DV rewrite), exclude = skip these (already-dead rows)
    events: list[tuple]


def plan_delta_changes(path: str, after: int | None,
                       upto: int | None = None) -> DeltaChanges:
    """The change events of the commits ``(after, upto]`` of the Delta
    table at ``path`` (``upto=None`` = latest; ``after=None`` plans no
    commit, for the table facts alone), the way the protocol defines
    them: a commit carrying ``cdc`` actions describes its changes ONLY
    through those files; any other commit derives inserts from its
    data-changing adds and deletes from its removes, partition values
    recovered from the pre-remove state.  A path removed and re-added
    in one commit is an in-place rewrite (the shape a deletion-vector
    DELETE writes): its deletes are the newly-dead positions, new DV
    minus old DV.  File state entering the span comes from the newest
    checkpoint ``<= after`` plus the JSON after it, so a
    retention-cleaned log reads as long as a checkpoint covers the
    cleaned prefix; the commits inside the span need their own JSON.
    Partition values come typed by :func:`_partition_value`.  The one
    change planner of ``read_delta_changes`` and the
    ``padawan_delta_cdf`` stream."""
    versions = list_delta_versions(path)
    if not versions:
        raise FileNotFoundError(f"{path}: empty _delta_log")
    upto = versions[-1] if upto is None else upto
    after = upto if after is None else after
    gap = [v for v in range(after + 1, upto + 1) if v not in versions]
    if gap:
        raise NotImplementedError(
            f"delta CDF needs the contiguous JSON commit history "
            f"({after}..{upto}]; commits {gap[:10]} have no JSON log "
            "entry (log retention cleaned them; a checkpoint cannot "
            "substitute — it has no per-commit changes)")
    schema_json, part_cols, _files, mapping = replay_delta_log(path, upto)
    fields = json.loads(schema_json)["fields"]
    phys, field_ids = {}, {}
    for f in fields:
        md = f.get("metadata") or {}
        phys[f["name"]] = f["name"]
        if mapping in ("name", "id"):
            phys[f["name"]] = md.get("delta.columnMapping.physicalName")
            if not phys[f["name"]]:
                raise NotImplementedError(
                    f"column-mapped table field {f['name']!r} lacks "
                    "delta.columnMapping.physicalName metadata")
        if mapping == "id":
            if md.get("delta.columnMapping.id") is None:
                raise NotImplementedError(
                    f"id-mapped table field {f['name']!r} lacks "
                    "delta.columnMapping.id metadata")
            field_ids[f["name"]] = int(md["delta.columnMapping.id"])
    # partitionColumns/partitionValues are physically keyed in a
    # mapped table
    parts = [next((ln for ln, pn in phys.items() if pn == c), c)
             for c in part_cols]
    types = {f["name"]: f["type"] for f in fields}

    def _typed(pv):
        return {c: _partition_value((pv or {}).get(phys[c]), types[c])
                for c in parts}

    live: dict[str, tuple] = {}   # rel -> (partitionValues, dv desc)
    if 0 <= after < upto:
        _sj, _pc, files0, _m = replay_delta_log(path, version=after)
        live = {rel: (pv, dv) for rel, pv, dv in files0}
    events: list[tuple] = []
    for v in range(after + 1, upto + 1):
        with open(os.path.join(path, "_delta_log", f"{v:020d}.json")) as fh:
            actions = [json.loads(line) for line in fh if line.strip()]
        cdc, adds, removes = ([a[k] for a in actions if a.get(k)]
                              for k in ("cdc", "add", "remove"))
        # Reconcile the commit as a whole: a path removed AND re-added
        # in the same commit is an in-place rewrite, whose change rows
        # are the NEWLY-dead positions, not a remove-all/insert-all pair
        repl = {ad["path"] for ad in adds} & {rm["path"] for rm in removes}
        derived: list[tuple] = []
        stash: dict[str, tuple] = {}
        for rm in removes:
            p = rm["path"]
            old = live.pop(p, (rm.get("partitionValues") or {},
                               rm.get("deletionVector")))
            if p in repl:
                stash[p] = old
            elif rm.get("dataChange", True):
                # a tombstoned file whose rows were partly DV-deleted
                # must not re-emit the already-dead rows
                derived.append((v, "delete", p, old[0], None, old[1]))
        for ad in adds:
            p, dv = ad["path"], ad.get("deletionVector")
            pv = ad.get("partitionValues") or {}
            if p in repl:
                old_pv, old_dv = stash[p]
                live[p] = (pv or old_pv, dv)
                if ad.get("dataChange"):
                    derived.append((v, "delete", p, pv or old_pv, dv, old_dv))
                continue
            live[p] = (pv, dv)
            if ad.get("dataChange"):
                # a fresh file pre-carrying a DV: its dead positions
                # were never visible, so the insert skips them
                derived.append((v, "insert", p, pv, None, dv))
        events += ([(v, "cdc", c["path"], c.get("partitionValues"), None,
                     None) for c in cdc] if cdc else derived)
    return DeltaChanges(fields, mapping, phys, field_ids, parts,
                        [(v, kind, rel, _typed(pv), inc, exc)
                         for v, kind, rel, pv, inc, exc in events])


def read_delta_changes(spark, path: str, starting_version: int = 0,
                       ending_version: int | None = None):
    """Change Data Feed interop: row-level changes between two
    commit versions of an EXISTING Delta table, the commits
    ``[starting_version, ending_version]`` that
    :func:`plan_delta_changes` plans (the planner of the
    ``padawan_delta_cdf`` stream too).  Output: data columns +
    ``_change_type`` + ``_commit_version``, one distributed scan per
    change file, no driver row work.  Column-mapped tables are fully
    supported: ``name`` mode aliases physical columns back to logical;
    ``id`` mode resolves each change file's physical layout by
    PARQUET FIELD ID through one distributed footer job
    (:mod:`.layouts`).  Deletion-vector position filters are decoded
    in distributed tasks and applied via ``_metadata.row_index``
    semi/anti joins.  A commit inside the range whose JSON log
    retention cleaned raises rather than return a silently-partial
    feed."""
    from pyspark.sql import functions as F

    from .nested import delta_physical_type, remap_expr, remap_needed
    plan = plan_delta_changes(path, starting_version - 1, ending_version)
    events, phys = plan.events, plan.phys
    types = {f["name"]: _delta_type_ddl(f["type"]) for f in plan.fields}
    fld_json = {f["name"]: f for f in plan.fields}
    ptypes = {f["name"]: (delta_physical_type(f["type"])
                          if plan.mapping in ("name", "id")
                          and not isinstance(f["type"], str)
                          else f["type"])
              for f in plan.fields}
    data_fields = [f["name"] for f in plan.fields
                   if f["name"] not in plan.partitions]
    ddl = ", ".join(f"`{phys[n]}` {_phys_ddl(ptypes[n])}"
                    for n in data_fields)
    cdc_ddl = ddl + ", _change_type string"

    def _logical(df):
        for n in data_fields:
            if phys[n] != n:
                df = df.withColumnRenamed(phys[n], n)
            if remap_needed(ptypes[n], fld_json[n]["type"]):
                # nested columns in a mapped table rebuild their
                # inner structure logically
                df = df.withColumn(
                    n, remap_expr(F.col(f"`{n}`"), ptypes[n],
                                  fld_json[n]["type"]))
        return df

    # id mode: each change file's physical layout resolves by parquet
    # field id — ONE distributed footer job over every file in range;
    # footer TREES carry nested ids too
    lmaps: dict[str, dict[str, tuple]] = {}
    if plan.mapping == "id" and events:
        # VARIANT columns resolve through the thrift footer-walk
        # fallback — no gate needed
        from .nested import match_tree_delta, parquet_field_trees
        raw = parquet_field_trees(
            spark, [os.path.abspath(os.path.join(path, rel))
                    for _v, _k, rel, _pv, _i, _e in events])
        for p, trees in raw.items():
            by_fid = {t0[0]: t0 for t0 in trees if t0[0] is not None}
            m = {}
            for n in data_fields:
                f = fld_json[n]
                node = by_fid.get(plan.field_ids[n])
                if node is None:
                    continue
                pt = (match_tree_delta(f["type"], node)
                      if not isinstance(f["type"], str)
                      else f["type"])
                m[n] = (node[1], pt)
            missing = [n for n in data_fields if n not in m]
            if missing:
                raise NotImplementedError(
                    f"delta id-mapped change file {p} lacks parquet "
                    f"field ids for {missing}")
            lmaps[p] = m

    # DV position filters decode in DISTRIBUTED tasks (one small job,
    # positions never materialize on the driver), keyed by event index
    dv_descs = []
    for i, (_v, _k, _rel, _pv, inc, exc) in enumerate(events):
        if inc:
            dv_descs.append((i, "inc", json.dumps(inc)))
        if exc:
            dv_descs.append((i, "exc", json.dumps(exc)))
    posdf = None
    if dv_descs:
        table_root = os.path.abspath(path)

        def _dv_decode(batches):
            import json as _json

            import pandas as pd

            from .deltadv import read_dv_positions
            for pdf in batches:
                rows = []
                for eid, k, dj in zip(pdf["eid"], pdf["k"],
                                      pdf["dv"]):
                    for pos in read_dv_positions(
                            table_root, _json.loads(dj)):
                        rows.append((int(eid), k, pos))
                yield pd.DataFrame(
                    rows, columns=["__eid", "__k", "__pos"])

        n_dec = min(len(dv_descs),
                    max(32, spark.sparkContext.defaultParallelism))
        posdf = (spark.createDataFrame(
            dv_descs, "eid int, k string, dv string")
            .repartition(n_dec, "eid", "k")
            .mapInPandas(_dv_decode,
                         "__eid int, __k string, __pos bigint")
            .localCheckpoint())

    out = None
    for i, (v, kind, rel, pvals, inc, exc) in enumerate(events):
        full = os.path.join(path, rel)
        if plan.mapping == "id":
            lm = lmaps[os.path.abspath(full)]
            ddl_f = ", ".join(f"`{lm[n][0]}` {_phys_ddl(lm[n][1])}"
                              for n in data_fields)
            df = spark.read.schema(
                ddl_f + (", _change_type string"
                         if kind == "cdc" else "")).parquet(full)
            for n in data_fields:
                pn, pt = lm[n]
                if pn != n:
                    df = df.withColumnRenamed(pn, n)
                if remap_needed(pt, fld_json[n]["type"]):
                    df = df.withColumn(
                        n, remap_expr(F.col(f"`{n}`"), pt,
                                      fld_json[n]["type"]))
        else:
            df = _logical(spark.read.schema(
                cdc_ddl if kind == "cdc" else ddl).parquet(full))
        if inc or exc:
            # semi-join the include set (newly-dead positions of an
            # in-place DV rewrite), anti-join the exclude set
            # (already-dead positions) — net: include minus exclude;
            # AQE picks broadcast when the position set is small
            df = df.withColumn("__pos", F.col("_metadata.row_index"))
            if inc:
                df = df.join(
                    posdf.where((F.col("__eid") == i)
                                & (F.col("__k") == "inc"))
                    .select("__pos"), on="__pos", how="semi")
            if exc:
                df = df.join(
                    posdf.where((F.col("__eid") == i)
                                & (F.col("__k") == "exc"))
                    .select("__pos"), on="__pos", how="left_anti")
            df = df.drop("__pos")
        if kind != "cdc":
            df = df.withColumn("_change_type", F.lit(kind))
        for c, val in pvals.items():
            df = df.withColumn(c, F.lit(val).cast(types[c]))
        df = df.withColumn("_commit_version", F.lit(v).cast("bigint"))
        out = df if out is None else out.unionByName(df)
    cols = [f["name"] for f in plan.fields]
    if out is None:
        return spark.createDataFrame(
            [], ", ".join(f"`{n}` {types[n]}" for n in cols)
            + ", _change_type string, _commit_version bigint")
    return out.select(*cols, "_change_type", "_commit_version")


def update_delta_cdc_fixture(spark, path: str, part_col: str,
                             part_val, set_col: str,
                             add_amount) -> int:
    """FIXTURE: one UPDATE commit over a partition with the explicit
    ``cdc`` action a CDF-enabled writer emits — for every live file
    of the partition: ``remove`` (old file) + ``add`` (rewritten
    rows, ``set_col += add_amount``) + a ``_change_data/`` parquet
    holding the update_preimage/update_postimage row pairs.  Returns
    the committed version."""
    import uuid

    import pyarrow.parquet as pq

    from pyspark.sql import functions as F
    versions = list_delta_versions(path)
    v = versions[-1] + 1
    schema_json, part_cols, files, _mm = replay_delta_log(path)
    sch = json.loads(schema_json)
    types = {f["name"]: _delta_type_ddl(f["type"])
             for f in sch["fields"]}
    data_fields = [f["name"] for f in sch["fields"]
                   if f["name"] not in part_cols]
    ddl = ", ".join(f"`{n}` {types[n]}" for n in data_fields)
    os.makedirs(os.path.join(path, "_change_data"), exist_ok=True)
    actions = []
    for rel, pvals, _dv in files:
        if pvals.get(part_col) != str(part_val):
            continue
        old = spark.read.schema(ddl).parquet(
            os.path.join(path, rel))
        new = old.withColumn(
            set_col, F.col(set_col) + F.lit(add_amount))
        new_rel = f"part-{v:05d}-{uuid.uuid4().hex}.parquet"
        # Arrow path: nested columns survive the rewrite —
        # pandas cannot carry structs faithfully
        pq.write_table(new.toArrow(), os.path.join(path, new_rel))
        cdc_df = (old.withColumn("_change_type",
                                 F.lit("update_preimage"))
                  .unionByName(new.withColumn(
                      "_change_type", F.lit("update_postimage"))))
        cdc_rel = f"_change_data/cdc-{v:05d}-{uuid.uuid4().hex}.parquet"
        pq.write_table(cdc_df.toArrow(), os.path.join(path, cdc_rel))
        actions.append({"remove": {"path": rel, "deletionTimestamp": 0,
                                   "dataChange": True,
                                   "partitionValues": pvals}})
        actions.append({"add": {
            "path": new_rel, "partitionValues": pvals,
            "size": os.path.getsize(os.path.join(path, new_rel)),
            "modificationTime": 0, "dataChange": True}})
        actions.append({"cdc": {
            "path": cdc_rel, "partitionValues": pvals,
            "size": os.path.getsize(os.path.join(path, cdc_rel)),
            "dataChange": False}})
    log = os.path.join(path, "_delta_log")
    with open(os.path.join(log, f"{v:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")
    return v


def delta_history(spark, path: str):
    """DESCRIBE HISTORY for a Delta table: one row per RETAINED
    commit — version, effective timestamp (the same monotonic
    ``inCommitTimestamp``/file-mtime rule timestamp time travel
    resolves by, so history and travel can never disagree), the
    ``commitInfo`` operation when the writer recorded one (this
    repo's fixtures, like some minimal writers, omit it — null), and
    add/remove/cdc action counts.  Driver work is O(log lines), the
    same walk replay does; commits cleaned by retention are absent,
    matching real behavior."""
    d = os.path.join(path, "_delta_log")
    rows = []
    prev_ts = None
    for v in list_delta_versions(path):
        fp = os.path.join(d, f"{v:020d}.json")
        op = None
        commit_ts = None
        n_add = n_remove = n_cdc = 0
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("commitInfo"):
                    ci = a["commitInfo"]
                    op = ci.get("operation")
                    ict = ci.get("inCommitTimestamp",
                                 ci.get("timestamp"))
                    if ict is not None:
                        commit_ts = int(ict)
                elif a.get("add"):
                    n_add += 1
                elif a.get("remove"):
                    n_remove += 1
                elif a.get("cdc"):
                    n_cdc += 1
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(fp) * 1000)
        if prev_ts is not None:
            commit_ts = max(prev_ts + 1, commit_ts)
        prev_ts = commit_ts
        rows.append((v, commit_ts, op, n_add, n_remove, n_cdc))
    return spark.createDataFrame(
        rows, "version bigint, timestamp_ms bigint, operation string, "
              "n_add bigint, n_remove bigint, n_cdc bigint")


def delta_detail(spark, path: str):
    """DESCRIBE DETAIL for a Delta table: a one-row DataFrame
    with the table-level facts real engines report — format, live
    file count and total size, LOGICAL partition columns (mapped
    back through column mapping), column-mapping mode, protocol
    versions and reader features, and the retained commit count.
    Driver work is the same log replay reads already perform."""
    sch_json, part_cols, files, mapping = replay_delta_log(path)
    phys_to_logical = {}
    if sch_json is not None:
        for f in json.loads(sch_json)["fields"]:
            pn = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName")
            if pn is not None:
                phys_to_logical[pn] = f["name"]
    logical_parts = [phys_to_logical.get(c, c) for c in part_cols]
    size = 0
    for rel, _pv, _dv in files:
        fp = os.path.join(path, rel)
        if os.path.exists(fp):
            size += os.path.getsize(fp)
    min_r, min_w, feats = 1, 1, []
    d = os.path.join(path, "_delta_log")
    versions = list_delta_versions(path)
    for v in versions:
        with open(os.path.join(d, f"{v:020d}.json")) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if a.get("protocol"):
                    p = a["protocol"]
                    min_r = p.get("minReaderVersion", min_r)
                    min_w = p.get("minWriterVersion", min_w)
                    feats = sorted(p.get("readerFeatures") or [])
    row = ("parquet", len(files), size, logical_parts,
           mapping, min_r, min_w, feats, len(versions))
    return spark.createDataFrame(
        [row], "format string, num_files bigint, "
               "size_in_bytes bigint, partition_columns "
               "array<string>, column_mapping_mode string, "
               "min_reader_version int, min_writer_version int, "
               "reader_features array<string>, num_commits bigint")


def delta_vacuum_plan(spark, path: str,
                      retention_ms: int = 7 * 24 * 3600 * 1000,
                      now_ms: int | None = None):
    """Table MAINTENANCE: the deletion plan ``VACUUM``
    computes — data files under the table location that the CURRENT
    version does not reference, split into ``tombstoned`` (a
    ``remove`` action exists and its ``deletionTimestamp`` is older
    than ``retention_ms`` — younger tombstones are RETAINED, they
    protect readers time-traveling within the window) and
    ``untracked`` (no log action at all: aborted writes).  Returns
    a DataFrame ``(file_path, reason, size_in_bytes)``; nothing is
    deleted.  ``now_ms`` pins the clock for deterministic tests.
    The ``_delta_log`` directory and deletion-vector sidecars
    referenced by live adds are never listed.  Planning is one log
    replay (O(actions)) + a listing anti-join — at object-store
    scale the store's inventory feeds the same join."""
    from pyspark.sql import functions as F
    _sj, _pc, files, _mm = replay_delta_log(path)
    live = set()
    table_abs = os.path.abspath(path)
    for rel, _pv, dv in files:
        live.add(os.path.abspath(os.path.join(path, rel)))
        if dv and dv.get("storageType") == "u":
            # the DV sidecar a live add references must survive
            from .deltadv import dv_absolute_path
            try:
                live.add(dv_absolute_path(table_abs, dv))
            except Exception:
                pass
    # tombstone ages from EVERY remove action in the JSON log
    tomb: dict[str, int] = {}
    for v in list_delta_versions(path):
        fp = os.path.join(path, "_delta_log", f"{v:020d}.json")
        with open(fp) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                rm = json.loads(line).get("remove")
                if rm and rm.get("path"):
                    tomb[os.path.abspath(os.path.join(
                        path, rm["path"]))] = int(
                        rm.get("deletionTimestamp") or 0)
    if now_ms is None:
        import time as _time
        now_ms = int(_time.time() * 1000)
    rows = []
    for root, dirs, fnames in os.walk(table_abs):
        # _change_data holds CDF files referenced by cdc actions,
        # not adds — conservatively never planned (real VACUUM ages
        # them by commit timestamp; eager classification as
        # "untracked" would delete a live change feed)
        dirs[:] = [d for d in dirs
                   if d not in ("_delta_log", "_change_data")]
        for f in fnames:
            full = os.path.join(root, f)
            if full in live:
                continue
            if full in tomb:
                if now_ms - tomb[full] >= retention_ms:
                    rows.append((full, "tombstoned",
                                 os.path.getsize(full)))
            else:
                rows.append((full, "untracked",
                             os.path.getsize(full)))
    return spark.createDataFrame(
        rows or [], "file_path string, reason string, "
                    "size_in_bytes bigint")
