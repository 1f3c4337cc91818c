"""Apache Hudi table reader, dependency-free (the PUBLIC Hudi
timeline layout): ``.hoodie/<instant>.commit`` /
``<instant>.deltacommit`` JSON files whose ``partitionToWriteStats``
map the write's file groups to data files.  Completes the
table-format interop trifecta next to
:mod:`padawan_spark.functions.delta` and
:mod:`padawan_spark.functions.iceberg`.

Copy-on-write semantics: each commit rewrites whole file groups, so
the live view at an instant keeps, per ``fileId``, the base file
written by the LATEST completed commit at or before that instant.

Merge-on-read semantics: delta commits append typed blocks to
``.log`` files (:mod:`padawan_spark.functions.hudilog`) instead of
rewriting bases; the snapshot read merges each file slice — base
rows plus log upserts/deletes — LATEST-WINS per
``_hoodie_record_key``, ordered by (instant, block sequence).  A new
base file for a file group (compaction or CoW-style rewrite)
supersedes the accumulated logs.  The Spark plan: one distributed
parquet scan over all base files, one Arrow-batched ``mapInPandas``
decode over the log-file list (one task per log file — log decode
scales with log count, never collected to the driver), a union, and
one window per record key; tables with no log files skip the merge
entirely and stay a pure parquet scan.  Uncommitted log blocks
(their instant not in the completed timeline — a failed write) are
excluded at decode time, and rollback command blocks void their
target instant's blocks inside the codec.

Supported: CoW tables, MOR tables with parquet bases + avro-block
logs, instant-time time travel on both, and ``replacecommit``
instants (clustering / insert_overwrite: the file groups listed
in ``partitionToReplaceFileIds`` are retired wholesale, logs and
all, in favor of the commit's new base files), LOG-ONLY file
groups (a deltacommit INSERT into a partition with no base
yet: its rows live purely in the log and merge like any other
slice), and tables consisting ONLY of log-only groups (the
merge schema recovers from the log's embedded Avro writer schema,
logical-type annotations included, so a freshly-bootstrapped
streaming-ingest table with no compaction yet reads correctly).
Deeply-nested log payload columns (arrays of structs, binary)
raise honest ``NotImplementedError``; timestamps and dates ride
Avro logical types (micros / days from epoch).
"""

from __future__ import annotations

import json
import os
import re

_META_COLS = ("_hoodie_commit_time", "_hoodie_commit_seqno",
              "_hoodie_record_key", "_hoodie_partition_path",
              "_hoodie_file_name")


def _timeline(path: str) -> list[tuple[str, str]]:
    """Completed instants, ascending: ``[(ts, kind)]`` with kind in
    ``commit`` / ``deltacommit``."""
    hdir = os.path.join(path, ".hoodie")
    if not os.path.isdir(hdir):
        raise FileNotFoundError(f"{path} has no .hoodie directory")
    out = []
    for f in os.listdir(hdir):
        m = re.match(r"^(\d+)\.(commit|deltacommit|replacecommit)$",
                     f)
        if m:
            out.append((m.group(1), m.group(2)))
    return sorted(out)


def list_hudi_commits(path: str) -> list[str]:
    """Completed commit instants of any kind (ascending)."""
    return [ts for ts, _k in _timeline(path)]


def hudi_metadata_files(path: str):
    """Driver-side read of the ``.hoodie/metadata`` table's FILES
    partition: Hudi's internal MOR table whose ``files``
    partition maps each data partition to its file listing — the
    replacement for per-partition directory listing (and here, for
    the full O(timeline) commit-JSON replay) in the planning path.
    Returns ``{data_partition: [filenames]}``, or ``None`` when no
    metadata table exists.  Planning-scale work: one record per data
    partition, merged in commit order across the metadata table's
    own base + log blocks.  Two record shapes decode: the fixture's
    ``_hoodie_record_key`` + ``filenames`` array (a full listing —
    the latest record per key replaces) and the real
    HoodieMetadataPayload (``key`` + ``filesystemMetadata`` map),
    whose semantics are a MAP MERGE — each record adds/updates its
    map's files and an ``isDeleted`` entry removes one, so records
    FOLD per key in commit order rather than replace.
    HFile base files (real Hudi's metadata base format after
    compaction) decode through :mod:`.hfile`.  Any other
    record shape raises (fail closed) and :func:`live_hudi_slices`
    falls back to the timeline replay, the source of truth."""
    mroot = os.path.join(path, ".hoodie", "metadata")
    if not os.path.isdir(os.path.join(mroot, ".hoodie")):
        return None
    from .hudilog import (BLOCK_DELETE, DATA_BLOCK_TYPES,
                          H_INSTANT_TIME, decode_data_block,
                          decode_delete_block, decode_log_blocks)
    inner = live_hudi_slices(mroot, use_metadata=False)
    committed = set(list_hudi_commits(mroot))
    # key -> [(ordk, kind, payload)]; folded in ordk order below so
    # real map-merge payloads COMPOSE instead of clobbering
    recs: dict[str, list] = {}

    def _classify(r: dict):
        """(key, kind, payload) of one decoded data record; raises
        NotImplementedError on any shape this decoder does not
        understand — a silent guess here would DROP files from the
        listing."""
        if "filenames" in r and "_hoodie_record_key" in r:
            return (r["_hoodie_record_key"], "replace",
                    list(r["filenames"]))
        if "filesystemMetadata" in r and "key" in r:
            fsm = r["filesystemMetadata"] or {}
            for info in fsm.values():
                if not isinstance(info, dict) \
                        or "isDeleted" not in info:
                    raise NotImplementedError(
                        "hudi metadata filesystemMetadata entry "
                        f"{info!r} lacks isDeleted")
            return r["key"], "merge", {
                f: bool(info["isDeleted"]) for f, info in fsm.items()}
        raise NotImplementedError(
            f"hudi metadata record shape {sorted(r)} is neither the "
            "filenames-array fixture payload nor a "
            "HoodieMetadataPayload")

    for fid, s in sorted(inner.items()):
        if s["part"] not in ("files", ""):
            # other metadata partitions (column_stats) carry
            # different record shapes and fold through their own
            # readers — only the FILES partition is a listing
            continue
        if s["base"] is not None:
            # compaction leaves an HFile base: its cells are already
            # key-sorted and pre-merged up to the base instant, so
            # they fold FIRST (ordk below every log block).  The
            # record schema rides the HFile's file-info under the
            # "schema" key, exactly where HoodieHFileWriter puts it.
            from .avro import read_datum
            from .hfile import read_hfile
            info, cells = read_hfile(s["base"])
            if b"schema" not in info:
                raise NotImplementedError(
                    f"{s['base']}: HFile carries no 'schema' "
                    "file-info entry — cannot decode its cells")
            schema = json.loads(info[b"schema"].decode("utf-8"))
            for seq, (k, v) in enumerate(cells):
                r, _end = read_datum(v, 0, schema)
                key, kind, payload = _classify(r)
                if key != k.decode("utf-8"):
                    raise NotImplementedError(
                        f"hudi metadata HFile cell key {k!r} != "
                        f"payload key {key!r}")
                recs.setdefault(key, []).append(
                    (("", -1, seq), kind, payload))
        for lidx, p in enumerate(s["logs"]):
            with open(p, "rb") as fh:
                blocks = decode_log_blocks(fh.read())
            for seq, blk in enumerate(blocks):
                inst = blk["header"].get(H_INSTANT_TIME)
                if inst not in committed:
                    continue
                ordk = (inst, lidx, seq)
                if blk["type"] in DATA_BLOCK_TYPES:
                    # real metadata tables write HFILE log blocks by
                    # default — all data-block kinds decode here
                    for r in decode_data_block(blk):
                        key, kind, payload = _classify(r)
                        recs.setdefault(key, []).append(
                            (ordk, kind, payload))
                elif blk["type"] == BLOCK_DELETE:
                    for k in decode_delete_block(blk):
                        recs.setdefault(k, []).append(
                            (ordk, "delete", None))
                else:
                    raise NotImplementedError(
                        f"hudi metadata log block type {blk['type']}")
    out: dict[str, list] = {}
    for k, events in recs.items():
        files = None
        for _ordk, kind, payload in sorted(events,
                                           key=lambda e: e[0]):
            if kind == "delete":
                files = None
            elif kind == "replace":
                files = set(payload)
            else:                                   # map merge
                if files is None:
                    files = set()
                for f, deleted in payload.items():
                    (files.discard if deleted else files.add)(f)
        if files is not None:
            out["" if k == "__all_partitions__" else k] = sorted(
                files)
    return out


_BASE_RE = re.compile(r"^([^_.][^_]*)_[^_]+_(\d+)\.parquet$")
_LOG_RE = re.compile(r"^\.([^_]+)_(\d+)\.log\.(\d+)$")


def _slices_from_listing(path: str, files_by_part: dict):
    """File-slice view reconstructed from a FILE LISTING (the
    metadata-table planning path): Hudi encodes the slice structure
    in the names — base ``{fileId}_{token}_{instant}.parquet`` (the
    group's latest base wins), log ``.{fileId}_{baseInstant}.log.{v}``
    (version order = commit order within the slice)."""
    slices: dict[str, dict] = {}
    bases: dict[str, tuple] = {}
    logs: dict[str, list] = {}
    parts: dict[str, str] = {}
    for part, names in files_by_part.items():
        for n in names:
            full = (os.path.join(path, part, n) if part
                    else os.path.join(path, n))
            m = _BASE_RE.match(n)
            if m:
                fid, inst = m.group(1), m.group(2)
                if fid not in bases or bases[fid][0] < inst:
                    bases[fid] = (inst, full)
                parts[fid] = part
                continue
            m = _LOG_RE.match(n)
            if m:
                fid, binst, ver = (m.group(1), m.group(2),
                                   int(m.group(3)))
                logs.setdefault(fid, []).append((binst, ver, full))
                parts[fid] = part
                continue
            raise NotImplementedError(
                f"hudi metadata listing entry {n!r} matches neither "
                "the base nor the log file naming scheme")
    for fid in sorted(set(bases) | set(logs)):
        binst = bases.get(fid, ("",))[0]
        # logs belonging to a slice OLDER than the latest base were
        # superseded by compaction — the listing keeps them until
        # cleaning, the slice view must not
        live_logs = sorted(
            (ver, full) for li, ver, full in logs.get(fid, [])
            if li >= binst)
        slices[fid] = {
            "base": bases[fid][1] if fid in bases else None,
            "part": parts[fid],
            "logs": [full for _v, full in live_logs]}
    return slices


def live_hudi_slices(path: str, as_of: str | None = None,
                     use_metadata: bool = True):
    """Latest file slice per file group at ``as_of`` (default:
    latest instant).  Returns ``{fileId: {"base": abs_path_or_None,
    "part": partition_path, "logs": [abs_log_paths, commit order]}}``.
    A commit's base file supersedes the group's accumulated logs
    (compaction); a deltacommit appends log files.

    When the table carries a ``.hoodie/metadata`` table and the
    read is at the LATEST instant, the slice view comes from its
    FILES partition — O(partitions) records instead of an O(timeline)
    commit-JSON replay (and, on a real object store, instead of
    per-partition LIST calls).  Time travel keeps the replay path
    (the listing describes only the current state)."""
    if use_metadata and as_of is None:
        try:
            listing = hudi_metadata_files(path)
        except (NotImplementedError, KeyError, ValueError):
            # a metadata table this decoder cannot read — an
            # unsupported record/block shape (NotImplementedError) OR
            # a malformed record that surfaces as a raw decode error
            # (a KeyError/ValueError from a payload field
            # probe must not fail a read the replay serves) — falls
            # back to the commit replay below, the source of truth
            listing = None
        if listing is not None:
            return _slices_from_listing(path, listing)
    timeline = _timeline(path)
    if not timeline:
        raise FileNotFoundError(f"{path}: no completed commits")
    if as_of is None:
        as_of = timeline[-1][0]
    if as_of not in {ts for ts, _k in timeline}:
        raise ValueError(
            f"no commit instant {as_of} at {path}; have "
            f"{[ts for ts, _k in timeline]}")
    slices: dict[str, dict] = {}
    for ts, kind in timeline:
        if ts > as_of:
            break
        with open(os.path.join(path, ".hoodie",
                               f"{ts}.{kind}")) as fh:
            commit = json.load(fh)
        if kind == "replacecommit":
            # clustering / insert_overwrite: the listed file groups
            # are REPLACED wholesale (logs and all) by this commit's
            # new base files
            for _part, fids in commit.get("partitionToReplaceFileIds",
                                          {}).items():
                for fid in fids:
                    slices.pop(fid, None)
        for part, stats in commit.get("partitionToWriteStats",
                                      {}).items():
            for st in stats:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    continue
                if kind in ("commit", "replacecommit"):
                    slices[fid] = {"base": os.path.join(path, rel),
                                   "part": part, "logs": []}
                else:
                    if fid not in slices:
                        # log-only file group: a deltacommit
                        # INSERT into a group with no base yet —
                        # rows live in the log until compaction
                        slices[fid] = {"base": None, "part": part,
                                       "logs": []}
                    full = os.path.join(path, rel)
                    if full not in slices[fid]["logs"]:
                        slices[fid]["logs"].append(full)
    return slices


def live_hudi_files(path: str, as_of: str | None = None):
    """CoW view: latest base file per file group at ``as_of``.
    Returns ``[(abs_path, partition_path)]``; raises if any file
    group carries unmerged log files (use :func:`read_hudi`)."""
    slices = live_hudi_slices(path, as_of)
    for fid, s in slices.items():
        if s["logs"] or s["base"] is None:
            raise NotImplementedError(
                f"hudi file group {fid} has unmerged log files — "
                "read through read_hudi (merge-on-read)")
    return sorted((s["base"], s["part"]) for s in slices.values())


_LOG_SAFE = ("bigint", "int", "smallint", "tinyint", "double",
             "float", "string", "boolean", "timestamp", "date",
             "binary")


def _split_top(s: str) -> list[str]:
    """Split a DDL type-list string on commas at bracket depth 0."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur or out:
        out.append("".join(cur))
    return out


def _parse_ddl_type(t: str):
    """Spark DDL simple-string type -> tree: ``("prim", name)`` |
    ``("array", elem)`` | ``("map", key, value)`` | ``("struct",
    [(field_name, tree), ...])`` — the shape every nested log-payload
    helper below walks."""
    t = t.strip()
    if t.startswith("array<") and t.endswith(">"):
        return ("array", _parse_ddl_type(t[6:-1]))
    if t.startswith("map<") and t.endswith(">"):
        parts = _split_top(t[4:-1])
        if len(parts) != 2:
            raise ValueError(f"malformed map type {t!r}")
        return ("map", _parse_ddl_type(parts[0]),
                _parse_ddl_type(parts[1]))
    if t.startswith("struct<") and t.endswith(">"):
        fields = []
        for part in _split_top(t[7:-1]):
            name, sep, ft = part.partition(":")
            if not sep:
                raise ValueError(f"malformed struct field {part!r}")
            fields.append((name.strip(), _parse_ddl_type(ft)))
        return ("struct", fields)
    return ("prim", t)


def _avroize_value(v):
    """Python value -> Avro-datum shape, recursively: temporal
    leaves become their logical-type ints (micros / epoch days),
    Rows become dicts."""
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        return ((v - _dt.datetime(1970, 1, 1))
                // _dt.timedelta(microseconds=1))
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, dict):
        return {k: _avroize_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        try:
            from pyspark.sql import Row as _Row
            if isinstance(v, _Row):
                return {k: _avroize_value(x)
                        for k, x in v.asDict().items()}
        except ImportError:
            pass
        return [_avroize_value(x) for x in v]
    return v


def _tree_has_map(tree) -> bool:
    k = tree[0]
    if k == "map":
        return True
    if k == "array":
        return _tree_has_map(tree[1])
    if k == "struct":
        return any(_tree_has_map(ft) for _n, ft in tree[1])
    return False


_DEC_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")


def _payload_avroizer(t: str):
    """None when the DDL type carries no decimal leaf; otherwise an
    encoder converting ONE python value into Avro-datum shape —
    Decimal leaves quantize to the DECLARED scale and encode as
    unscaled big-endian two's-complement bytes (the Avro logical
    decimal wire form); temporal leaves and Rows ride the generic
    :func:`_avroize_value` conversions."""
    import decimal as _decimal
    try:
        tree = _parse_ddl_type(t)
    except ValueError:
        return None
    if not _tree_has_decimal(tree):
        return None

    def build(tr):
        k = tr[0]
        if k == "prim":
            m = _DEC_RE.match(tr[1])
            if m:
                scale = int(m.group(2))
                q = _decimal.Decimal(1).scaleb(-scale)

                def f(v):
                    if v is None:
                        return None
                    # quantize must be VALUE-PRESERVING —
                    # ROUND_HALF_EVEN on an out-of-scale upsert value
                    # would round-trip it silently ALTERED; precision
                    # overflow raises InvalidOperation uncaught.  Gate
                    # both loudly instead of degrading the data.
                    dv = _decimal.Decimal(v)
                    try:
                        dq = dv.quantize(q)
                    except _decimal.InvalidOperation:
                        raise ValueError(
                            f"hudi decimal payload value {v!r} does "
                            f"not fit {tr[1]} (precision overflow)")
                    if dq != dv:
                        raise ValueError(
                            f"hudi decimal payload value {v!r} "
                            f"carries more fractional digits than "
                            f"the declared scale of {tr[1]} — "
                            f"refusing to round it silently")
                    u = int(dq.scaleb(scale))
                    n = max(1, (u.bit_length() + 8) // 8)
                    return u.to_bytes(n, "big", signed=True)
                return f
            return _avroize_value
        if k == "array":
            f = build(tr[1])
            return (lambda v: None if v is None
                    else [f(x) for x in v])
        if k == "map":
            f = build(tr[2])
            return (lambda v: None if v is None
                    else {mk: f(mv) for mk, mv in
                          (v.items() if isinstance(v, dict)
                           else v)})
        if k == "struct":
            fs = {n: build(ft) for n, ft in tr[1]}

            def g(v):
                if v is None:
                    return None
                d = v.asDict() if hasattr(v, "asDict") else v
                return {n: fn(d.get(n)) for n, fn in fs.items()}
            return g
        raise NotImplementedError(f"payload tree {tr!r}")
    return build(tree)


def _tree_has_temporal(tree) -> bool:
    k = tree[0]
    if k == "prim":
        return tree[1] in ("timestamp", "date")
    if k == "array":
        return _tree_has_temporal(tree[1])
    if k == "map":
        return (_tree_has_temporal(tree[1])
                or _tree_has_temporal(tree[2]))
    if k == "struct":
        return any(_tree_has_temporal(ft) for _n, ft in tree[1])
    return False


def _tree_has_decimal(tree) -> bool:
    k = tree[0]
    if k == "prim":
        return bool(_DEC_RE.match(tree[1]))
    if k == "array":
        return _tree_has_decimal(tree[1])
    if k == "map":
        return (_tree_has_decimal(tree[1])
                or _tree_has_decimal(tree[2]))
    if k == "struct":
        return any(_tree_has_decimal(ft) for _n, ft in tree[1])
    return False


def _pa_payload_type(tree):
    """pyarrow type of a DDL tree, LOGICAL leaves (us/UTC
    timestamps, date32, decimal128) — the explicit-arrow build of
    nested/decimal payload values.  ``pa.array`` treats naive
    datetimes as UTC wall time, matching the Avro logical-type
    epoch convention the log codecs use on the wire."""
    import pyarrow as pa
    k = tree[0]
    if k == "prim":
        t = tree[1]
        if t == "timestamp":
            return pa.timestamp("us", "UTC")
        if t == "date":
            return pa.date32()
        m = _DEC_RE.match(t)
        if m:
            return pa.decimal128(int(m.group(1)), int(m.group(2)))
        prims = {"bigint": pa.int64(), "int": pa.int32(),
                 "smallint": pa.int16(), "tinyint": pa.int8(),
                 "double": pa.float64(), "float": pa.float32(),
                 "string": pa.string(), "boolean": pa.bool_(),
                 "binary": pa.binary()}
        if t not in prims:
            raise NotImplementedError(
                f"unsupported log payload leaf type {t!r}")
        return prims[t]
    if k == "array":
        return pa.list_(_pa_payload_type(tree[1]))
    if k == "map":
        return pa.map_(_pa_payload_type(tree[1]),
                       _pa_payload_type(tree[2]))
    if k == "struct":
        return pa.struct([(n, _pa_payload_type(ft))
                          for n, ft in tree[1]])
    raise NotImplementedError(f"unsupported log payload tree {tree!r}")


def _log_safe_type(t: str) -> bool:
    """True when the payload type rides the log codecs: any nesting
    of array/struct/map over the safe primitives — temporal leaves
    INSIDE nested types included (they
    convert per element through :func:`_temporal_reviver`).  Avro
    maps key by string, so only string map keys qualify."""
    def ok(tree) -> bool:
        k = tree[0]
        if k == "prim":
            return (tree[1] in _LOG_SAFE
                    or bool(_DEC_RE.match(tree[1])))
        if k == "array":
            return ok(tree[1])
        if k == "map":
            return tree[1] == ("prim", "string") and ok(tree[2])
        if k == "struct":
            return all(ok(ft) for _n, ft in tree[1])
        return False
    try:
        return ok(_parse_ddl_type(t))
    except ValueError:
        return False


def _temporal_reviver(t: str):
    """None when the DDL type carries no temporal leaf; otherwise a
    callable converting ONE decoded log value into python
    datetime/date objects, recursively through arrays/structs/maps.
    Tolerant by design: Avro/HFile datums carry logical-type ints
    (micros / epoch days) while parquet data blocks may surface
    already-typed (possibly tz-aware) values — both normalize to the
    naive-UTC shapes the Arrow batch build takes."""
    import datetime as _dt

    def build(tree):
        k = tree[0]
        if k == "prim":
            if tree[1] == "timestamp":
                def f(v):
                    if v is None:
                        return None
                    if isinstance(v, _dt.datetime):
                        if v.tzinfo is not None:
                            return v.astimezone(
                                _dt.timezone.utc).replace(tzinfo=None)
                        return v
                    return (_dt.datetime(1970, 1, 1)
                            + _dt.timedelta(microseconds=v))
                return f
            if tree[1] == "date":
                def f(v):
                    if v is None:
                        return None
                    if isinstance(v, _dt.datetime):
                        return v.date()
                    if isinstance(v, _dt.date):
                        return v
                    return (_dt.date(1970, 1, 1)
                            + _dt.timedelta(days=v))
                return f
            m = _DEC_RE.match(tree[1])
            if m:
                # Avro logical decimal: unscaled big-endian
                # two's-complement bytes at the DECLARED scale;
                # parquet data blocks surface real Decimals
                # — pass through
                import decimal as _decimal
                scale = int(m.group(2))

                def f(v):
                    if v is None or isinstance(v, _decimal.Decimal):
                        return v
                    if isinstance(v, (bytes, bytearray)):
                        u = int.from_bytes(bytes(v), "big",
                                           signed=True)
                        return _decimal.Decimal(u).scaleb(-scale)
                    return v
                return f
            return None
        if k == "array":
            f = build(tree[1])
            if f is None:
                return None
            return (lambda v: None if v is None
                    else [f(x) for x in v])
        if k == "map":
            # keys convert too: parquet data blocks may
            # carry map<date,...> / map<timestamp,...> whose keys
            # surface as epoch ints from to_pylist — Avro-wire maps
            # are string-keyed and never hit the key converter
            kf = build(tree[1])
            f = build(tree[2])
            if f is None and kf is None:
                return None
            kf = kf or (lambda x: x)
            f = f or (lambda x: x)
            # avro datums decode maps to dicts; arrow's to_pylist
            # surfaces them as list-of-pairs — take both
            return (lambda v: None if v is None
                    else {kf(mk): f(mv) for mk, mv in
                          (v.items() if isinstance(v, dict) else v)})
        if k == "struct":
            fs = {n: build(ft) for n, ft in tree[1]}
            if not any(fs.values()):
                return None

            def g(v):
                if v is None:
                    return None
                return {n: (fn(v.get(n)) if fn else v.get(n))
                        for n, fn in fs.items()}
            return g
        return None
    return build(_parse_ddl_type(t))


def read_hudi(spark, path: str, as_of: str | None = None,
              keep_meta: bool = False, _provenance: bool = False,
              _slices=None, log_key_limit: int = 4_000_000,
              partitions=None, filters=None):
    """Scan a Hudi table at a commit instant (default: latest).
    CoW (or fully compacted MOR): one parquet scan over the live
    base files.  MOR with live logs: base scan + distributed log
    decode + latest-wins merge per record key (see module
    docstring).  ``_hoodie_*`` meta columns dropped unless
    ``keep_meta`` (under MOR the merge carries all five through —
    log rows get NULL commit-time/seqno/partition/file-name, since
    a log block holds only the record key and payload).

    Scale shape of the merge: the decoded log rows are
    materialized once (``localCheckpoint`` — logs are small relative
    to the base by MOR design; compaction exists precisely to keep
    them so), their distinct record keys broadcast, and the base
    table splits on that broadcast set: rows NOT touched by any log
    pass straight through with ZERO shuffle (broadcast left-anti),
    and only the touched base rows ∪ log rows enter the latest-wins
    window.  A 100 TB base with a 1 GB log shuffles ~1 GB, not
    100 TB.  When the distinct log-key count exceeds
    ``log_key_limit`` (a genuinely huge uncompacted backlog where a
    driver broadcast would be the bottleneck), the same split plan
    runs with shuffle joins instead of the broadcast hint — the
    structure (and therefore the semantics, including verbatim
    pass-through of duplicate-key base rows a bulk insert may have
    left) never depends on log size.

    ``partitions``: an iterable of partition-path strings —
    prune the read to those partitions' file slices (Hudi's
    partition pruning: driver metadata work, O(partition) scan).

    ``filters``: ``{column: value}``
    equality predicates — file slices prune against the metadata
    table's COLUMN_STATS index before any job runs (data skipping:
    a slice whose base-file [min, max] bounds exclude the value is
    never scanned; slices with live logs stay, a log could add
    matching rows), then re-apply as row predicates for exactness —
    the same two-phase shape as ``read_iceberg``'s transform
    pruning.

    ``_slices`` (internal): restrict the read to a pre-pruned
    file-slice dict (:func:`read_hudi_incremental`)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    slices = (_slices if _slices is not None
              else live_hudi_slices(path, as_of))
    had_slices = bool(slices)
    if partitions is not None:
        want = {str(p) for p in partitions}
        slices = {fid: s for fid, s in slices.items()
                  if s["part"] in want}
    if filters:
        slices = prune_hudi_slices_colstats(path, slices, filters)

    def _fin(df):
        # stats pruning is file-granular — the predicates re-apply
        # on rows and PUSH into the surviving files' parquet scans
        for c2, v2 in (filters or {}).items():
            if c2 in df.columns:
                df = df.where(F.col(c2) == F.lit(v2))
        return df
    if not slices:
        if had_slices:
            # pruning every slice away is a valid query —
            # return zero rows WITH the table schema (the Delta path's
            # behavior), never an error
            cols = hudi_table_schema(path)
            ddl = ", ".join(f"`{c}` {t}" for c, t in cols)
            if keep_meta:
                ddl = (", ".join(f"{c} string" for c in _META_COLS)
                       + ", " + ddl)
            empty = spark.createDataFrame([], ddl)
            if _provenance:
                empty = empty.withColumn(
                    "__instant", F.lit(None).cast("string"))
                if "_hoodie_record_key" not in empty.columns:
                    empty = empty.withColumn(
                        "_hoodie_record_key",
                        F.lit(None).cast("string"))
            return empty
        raise NotImplementedError(f"{path}: no live data files")
    bases = sorted(s["base"] for s in slices.values()
                   if s["base"] is not None)
    if bases:
        # schema probe over ONE file (Hudi enforces a uniform schema
        # across a table's base files) — building the full file index
        # here would triple the driver's listing work once the merge
        # builds its own untouched/touched scans
        base_df = spark.read.parquet(bases[0])
    else:
        # table consisting ONLY of log-only file groups (a
        # freshly-bootstrapped streaming-ingest table): the merge
        # schema comes from the log's embedded Avro writer schema;
        # the base side of the merge is an empty frame with the five
        # meta columns, and every row flows from the log decode
        cols = hudi_log_table_schema(
            sorted(p for s in slices.values() for p in s["logs"]))
        base_df = spark.createDataFrame([], ", ".join(
            [f"{c} string" for c in _META_COLS]
            + [f"`{c}` {t}" for c, t in cols]))
    # real Hudi rolls .log.1/.log.2 per file group — the
    # ordering key must be global per group, so each log file carries
    # its position in the slice's commit-ordered log list (lidx) and
    # latest-wins orders by (instant, lidx, block index).  Each
    # log file also carries its file-group id — the merge is PER FILE
    # SLICE, the way real MOR readers run it (a key's updates land
    # only in its own group's logs).
    log_files = sorted(
        (p, lidx, fid) for fid, s in slices.items()
        for lidx, p in enumerate(s["logs"]))
    if not log_files:
        # fully-compacted / CoW table: ONE scan over every base file
        # (base_df above was only the single-file schema probe)
        full_df = spark.read.parquet(*bases)
        if _provenance:
            return _fin(full_df.withColumn(
                "__instant", F.col("_hoodie_commit_time")).drop(
                *[c for c in full_df.columns
                  if c in _META_COLS and c != "_hoodie_record_key"]))
        if not keep_meta:
            full_df = full_df.drop(*[c for c in full_df.columns
                                     if c in _META_COLS])
        return _fin(full_df)
    data_cols = [c for c in base_df.columns if c not in _META_COLS]
    dtypes = dict(base_df.dtypes)
    bad = [c for c in data_cols if not _log_safe_type(dtypes[c])]
    if bad:
        raise NotImplementedError(
            "hudi MOR merge over unsupported payload columns "
            + ", ".join(f"{c} ({dtypes[c]})" for c in bad)
            + " — log blocks carry Avro datums, which (per the Avro "
            "spec) cannot represent non-string map keys or "
            "non-primitive leaves outside the safe set (final "
            "scoping decision, COVERAGE.md r15)")
    # temporal log payloads ride Avro logical types (micros / days
    # from epoch) and convert back on the pandas side of the decode;
    # temporal leaves INSIDE nested types convert per element through
    # a reviver built once from the column's DDL
    ts_cols = [c for c in data_cols if dtypes[c] == "timestamp"]
    date_cols = [c for c in data_cols if dtypes[c] == "date"]
    nested_revive = {c: r for c in data_cols
                     if dtypes[c] not in ("timestamp", "date")
                     and (r := _temporal_reviver(dtypes[c]))
                     is not None}
    committed = set(list_hudi_commits(path))
    if as_of is not None:
        committed = {ts for ts in committed if ts <= as_of}
    out_ddl = ("_hoodie_record_key string, __gid string, "
               "__instant string, "
               "__lidx int, __seq int, __del boolean, "
               + ", ".join(f"{c} {dtypes[c]}" for c in data_cols))

    def _decode(batches):
        from .hudilog import (BLOCK_DELETE, DATA_BLOCK_TYPES,
                              H_INSTANT_TIME, decode_data_block,
                              decode_delete_block, decode_log_blocks)
        cols = (["_hoodie_record_key", "__gid", "__instant", "__lidx",
                 "__seq", "__del"] + data_cols)
        for pdf in batches:
            rows = []
            for p, lidx, gid in zip(pdf["path"], pdf["lidx"],
                                    pdf["gid"]):
                with open(p, "rb") as fh:
                    blocks = decode_log_blocks(fh.read())
                for seq, blk in enumerate(blocks):
                    inst = blk["header"].get(H_INSTANT_TIME)
                    if inst not in committed:
                        continue            # failed / future write
                    if blk["type"] in DATA_BLOCK_TYPES:
                        # avro / hfile / parquet blocks all decode to
                        # the same record dicts
                        for r in decode_data_block(blk):
                            rows.append(
                                [r["_hoodie_record_key"], gid, inst,
                                 int(lidx), seq, False]
                                + [r.get(c) for c in data_cols])
                    elif blk["type"] == BLOCK_DELETE:
                        for k in decode_delete_block(blk):
                            rows.append([k, gid, inst, int(lidx),
                                         seq, True]
                                        + [None] * len(data_cols))
                    else:
                        raise NotImplementedError(
                            f"hudi log block type {blk['type']}")
            pdf_out = pd.DataFrame(rows, columns=cols)
            for c in ts_cols:
                pdf_out[c] = pd.to_datetime(pdf_out[c], unit="us")
            for c in date_cols:
                pdf_out[c] = pd.to_datetime(
                    pdf_out[c], unit="D").dt.date
            for c, rv in nested_revive.items():
                pdf_out[c] = pdf_out[c].map(rv, na_action="ignore")
            yield pdf_out

    # one task per log file, floored at the cluster's parallelism —
    # not an arbitrary constant
    n_tasks = min(len(log_files),
                  max(32, spark.sparkContext.defaultParallelism))
    paths_df = spark.createDataFrame(
        log_files, "path string, lidx int, gid string").repartition(
        n_tasks, "path")
    # materialize the decoded log rows ONCE (they feed the key
    # broadcast, the pass-through anti-join, and the merge branch —
    # without this the Arrow decode would run per consumer)
    log_df = paths_df.mapInPandas(_decode, out_ddl).localCheckpoint()
    extra_meta = [c for c in _META_COLS
                  if c != "_hoodie_record_key"
                  and c in base_df.columns] if keep_meta else []
    # Per-file-slice merge: base files of groups with NO logs
    # never enter any join — their scan unions straight into the
    # output.  Only touched GROUPS' base files feed the key split,
    # so the anti/semi branches scan log-touched files, not the
    # table.  A base row's group id derives in-task from its file
    # name (Hudi encodes the fileId as the name's first `_`-separated
    # token — the same identity the planning stats carry), verified
    # against the planning fileIds driver-side below so a
    # nonconforming layout fails CLOSED instead of splitting wrong.
    un_bases = sorted(s["base"] for fid, s in slices.items()
                      if not s["logs"] and s["base"] is not None)
    t_bases = sorted(s["base"] for fid, s in slices.items()
                     if s["logs"] and s["base"] is not None)
    for fid, s in slices.items():
        if s["logs"] and s["base"] is not None:
            prefix = os.path.basename(s["base"]).split("_", 1)[0]
            if prefix != fid:
                raise NotImplementedError(
                    f"hudi base file {s['base']!r} does not encode "
                    f"its file group id {fid!r} in its name — "
                    "cannot derive per-slice merge groups")

    def _evt(df, with_gid=False):
        gid = ([F.regexp_extract(F.col("_metadata.file_name"),
                                 "^([^_]+)_", 1).alias("__gid")]
               if with_gid else [])
        return df.select(
            F.col("_hoodie_record_key"), *gid,
            F.col("_hoodie_commit_time").alias("__instant"),
            F.lit(-1).alias("__lidx"),
            F.lit(-1).alias("__seq"), F.lit(False).alias("__del"),
            *[F.col(c) for c in data_cols],
            *[F.col(c) for c in extra_meta])

    base_evt = None
    if t_bases:
        base_evt = _evt(spark.read.parquet(*t_bases), with_gid=True)
    log_evt = log_df
    for c in extra_meta:
        log_evt = log_evt.withColumn(c, F.lit(None).cast("string"))
    w = (Window.partitionBy("__gid", "_hoodie_record_key")
         .orderBy(F.col("__instant").desc(), F.col("__lidx").desc(),
                  F.col("__seq").desc()))
    # materialized once so the anti- and semi-join broadcasts build
    # straight from it (without the checkpoint the distinct's own
    # exchange re-enters BOTH join branches' plans — the single-
    # exchange plan pin exists precisely to catch that); sized like
    # the log, small by MOR design
    touched_keys = (log_df.select("__gid", "_hoodie_record_key")
                    .distinct().localCheckpoint())
    # Base rows whose key no log IN THEIR OWN GROUP touches pass
    # through VERBATIM (the way a real MOR reader streams base rows,
    # merging only on log match — including duplicate-key rows a bulk
    # insert may have left); only touched (group, key) pairs enter
    # the latest-wins window.  Both size regimes share this structure
    # so semantics never depend on log size: past log_key_limit the
    # only change is dropping the broadcast hint (the joins become
    # shuffle joins rather than a driver-OOM-risking broadcast).
    # Regime decision avoids a counting JOB when planning data
    # already bounds the key count: even a delete-block record with
    # a 1-char key costs >2 raw bytes in the real (Avro HoodieKey)
    # encoding, so bytes/2 under the limit proves the broadcast safe
    # (a divisor of 4 would let short-key delete blocks
    # undercount); only the ambiguous middle pays a count (a count
    # job would be pure overhead for every normal-sized log).
    total_log_bytes = sum(os.path.getsize(p)
                          for p, _l, _f in log_files)
    if log_key_limit <= 0:
        use_broadcast = False
    elif total_log_bytes // 2 <= log_key_limit:
        use_broadcast = True
    else:
        use_broadcast = touched_keys.count() <= log_key_limit
    bkeys = (F.broadcast(touched_keys) if use_broadcast
             else touched_keys)
    pieces = []
    if un_bases:
        pieces.append(_evt(spark.read.parquet(*un_bases))
                      .drop("__lidx", "__seq", "__del"))
    if base_evt is not None:
        pieces.append(
            base_evt.join(bkeys, ["__gid", "_hoodie_record_key"],
                          "left_anti")
            .drop("__lidx", "__seq", "__del", "__gid"))
    touched_union = (base_evt.join(
        bkeys, ["__gid", "_hoodie_record_key"], "left_semi")
        .unionByName(log_evt) if base_evt is not None else log_evt)
    resolved = (touched_union
                .withColumn("__rn", F.row_number().over(w))
                .where((F.col("__rn") == 1) & ~F.col("__del"))
                .drop("__rn", "__lidx", "__seq", "__del", "__gid"))
    merged = pieces[0] if pieces else None
    for p in pieces[1:]:
        merged = merged.unionByName(p)
    merged = (resolved if merged is None
              else merged.unionByName(resolved))
    if _provenance:
        return _fin(merged.drop(*extra_meta))
    merged = merged.drop("__instant")
    if not keep_meta:
        merged = merged.drop("_hoodie_record_key")
    return _fin(merged)


def write_hudi_metadata_fixture(spark, path: str) -> str | None:
    """FIXTURE: create or refresh the ``.hoodie/metadata`` table's
    FILES partition from the data table's current timeline state —
    one record per data partition (``key`` = partition path,
    ``filenames`` = the partition's live base+log file names), written
    as a deltacommit to the log-only inner MOR table, the shape a
    freshly-bootstrapped real metadata table has.  The data-table
    fixture writers call this automatically after each commit when
    the metadata table exists, mirroring a real writer's transactional
    metadata update.  Returns the inner table's commit instant."""
    from pyspark.sql import functions as F
    mroot = os.path.join(path, ".hoodie", "metadata")
    slices = live_hudi_slices(path, use_metadata=False)
    listing: dict[str, set] = {}
    for s in slices.values():
        fs = listing.setdefault(s["part"], set())
        if s["base"] is not None:
            fs.add(os.path.basename(s["base"]))
        fs.update(os.path.basename(p) for p in s["logs"])
    rows = [(part or "__all_partitions__", sorted(fs), "files")
            for part, fs in sorted(listing.items())]
    df = spark.createDataFrame(
        rows, "key string, filenames array<string>, p string")
    # real Hudi writes its metadata table's log blocks as HFILE data
    # blocks — the fixture matches that shape by default
    return write_hudi_delta_fixture(spark, mroot, upserts=df,
                                    partition_field="p",
                                    block_format="hfile")


_METADATA_RECORD_SCHEMA = {
    "type": "record", "name": "HoodieMetadataRecord",
    "namespace": "org.apache.hudi.avro.model",
    "fields": [
        {"name": "key", "type": "string"},
        {"name": "type", "type": "int"},
        {"name": "filesystemMetadata", "type": ["null", {
            "type": "map", "values": {
                "type": "record", "name": "HoodieMetadataFileInfo",
                "fields": [
                    {"name": "size", "type": "long"},
                    {"name": "isDeleted", "type": "boolean"}]}}]},
    ]}


def compact_hudi_metadata_fixture(path: str,
                                  compression: str = "none",
                                  encoding: str = "none") -> str:
    """FIXTURE: compact the ``.hoodie/metadata`` FILES partition into
    an HFILE base file — the shape every real metadata table takes
    after its first inline compaction (HFile is Hudi's metadata base
    format).  Cells carry REAL-shaped
    ``HoodieMetadataPayload`` records (``key`` + ``type`` +
    ``filesystemMetadata`` map) so the read path exercises the
    map-merge decode, with the record Avro schema in the HFile
    file-info under ``schema`` exactly where ``HoodieHFileWriter``
    puts it.  The compaction registers as a ``commit`` on the inner
    timeline, superseding the group's logs.  ``compression`` /
    ``encoding`` pass through to the HFile writer
    (``"snappy"`` and ``"fast_diff"`` exercise the codec paths an
    HBase-tuned deployment enables).  Returns the instant."""
    from .avro import write_datum
    from .hfile import write_hfile
    mroot = os.path.join(path, ".hoodie", "metadata")
    listing = hudi_metadata_files(path)
    if listing is None:
        raise FileNotFoundError(f"{path}: no metadata table")
    inner = {fid: s for fid, s in
             live_hudi_slices(mroot, use_metadata=False).items()
             if s["part"] in ("files", "")}
    if len(inner) != 1:
        raise NotImplementedError(
            f"{mroot}: expected exactly one FILES file group, "
            f"found {sorted(inner)}")
    (fid, s), = inner.items()
    part = s["part"]
    instant = _next_instant(mroot)
    cells = []
    for p, names in listing.items():
        key = p if p else "__all_partitions__"
        fsm = {}
        for n in names:
            full = os.path.join(path, p, n) if p \
                else os.path.join(path, n)
            try:
                size = os.path.getsize(full)
            except OSError:
                size = 0
            fsm[n] = {"size": size, "isDeleted": False}
        datum = {"key": key, "type": 2, "filesystemMetadata": fsm}
        buf = bytearray()
        write_datum(buf, datum, _METADATA_RECORD_SCHEMA)
        cells.append((key.encode("utf-8"), bytes(buf)))
    fname = f"{fid}_0-0-0_{instant}.hfile"
    rel = f"{part}/{fname}" if part else fname
    full = os.path.join(mroot, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    write_hfile(full, cells,
                {b"schema": json.dumps(
                    _METADATA_RECORD_SCHEMA).encode("utf-8")},
                compression=compression, encoding=encoding)
    with open(os.path.join(mroot, ".hoodie",
                           f"{instant}.commit"), "w") as fh:
        json.dump({"partitionToWriteStats": {part: [{
            "fileId": fid, "path": rel,
            "fileSizeInBytes": os.path.getsize(full)}]},
            "operationType": "COMPACT"}, fh)
    return instant


def _sync_hudi_metadata(spark, path: str) -> None:
    """Refresh the metadata table after a data-table fixture commit,
    when one exists (a stale listing would be a silently-wrong read).
    The metadata table itself never recurses (its own
    ``.hoodie/metadata`` does not exist)."""
    if os.path.isdir(os.path.join(path, ".hoodie", "metadata",
                                  ".hoodie")):
        write_hudi_metadata_fixture(spark, path)


def _next_instant(path: str) -> str:
    """Monotonic default instant: strictly after every instant ever
    handed out here — INCLUDING uncommitted (failed) writes, which
    hold no timeline entry but do stamp log blocks; reusing one for
    a later commit would resurrect those blocks.  A dot-file counter
    (ignored by the timeline regex) remembers them."""
    hdir = os.path.join(path, ".hoodie")
    seqf = os.path.join(hdir, ".instant_seq")
    try:
        cur = int(open(seqf).read().strip())
    except (FileNotFoundError, ValueError):
        try:
            commits = list_hudi_commits(path)
        except FileNotFoundError:
            commits = []
        cur = max([20260101000000] + [int(t) for t in commits])
    os.makedirs(hdir, exist_ok=True)
    with open(seqf, "w") as fh:
        fh.write(str(cur + 1))
    return f"{cur + 1:014d}"


def _touched_file_ids(path: str, begin: str, end: str) -> set:
    """File groups written by any instant in ``(begin, end]`` — the
    core of Hudi's incremental contract: a commit's
    ``partitionToWriteStats`` names exactly the file groups it
    touched, so an incremental consumer scans those slices and
    nothing else."""
    touched: set[str] = set()
    for ts, kind in _timeline(path):
        if not (begin < ts <= end):
            continue
        with open(os.path.join(path, ".hoodie",
                               f"{ts}.{kind}")) as fh:
            commit = json.load(fh)
        for stats in commit.get("partitionToWriteStats",
                                {}).values():
            for st in stats:
                if st.get("fileId"):
                    touched.add(st["fileId"])
    return touched


def read_hudi_incremental(spark, path: str, begin: str,
                          end: str | None = None):
    """INCREMENTAL query — Hudi's third query type next to
    snapshot and read-optimized: the LATEST state of every record
    key CHANGED in the instant window ``(begin, end]``, without
    returning the unchanged rows.  Built on the snapshot merge with
    provenance kept: after latest-wins resolution, a row survives
    the window filter iff its winning event's instant lies in the
    window (base rows carry ``_hoodie_commit_time``, log rows their
    block's instant).  Keys whose latest event is a delete are not
    emitted (Hudi's default incremental semantics).

    Scale shape: the read scans ONLY the file slices whose
    groups were written inside the window — the window's commits
    name them in ``partitionToWriteStats``
    (:func:`_touched_file_ids`); a key in an untouched group cannot
    have changed in-window, so its slice never loads.  Pulling a
    day's changes out of a 100 TB table reads that day's file
    groups, not the table."""
    from pyspark.sql import functions as F
    timeline = [ts for ts, _k in _timeline(path)]
    if end is None:
        end = timeline[-1]
    if begin not in timeline and begin != "0":
        raise ValueError(
            f"no commit instant {begin} at {path}; have {timeline}")
    slices = live_hudi_slices(path, as_of=end)
    touched = _touched_file_ids(path, begin, end)
    pruned = {fid: s for fid, s in slices.items() if fid in touched}
    if not pruned:
        # nothing written in the window: empty frame, table schema
        # (one base file's footer, planning-only work)
        any_base = next((s["base"] for s in slices.values()
                         if s["base"] is not None), None)
        if any_base is None:
            raise NotImplementedError(
                f"{path}: table has ONLY log-only file groups")
        empty = spark.read.parquet(any_base).limit(0)
        return empty.drop(*[c for c in empty.columns
                            if c in _META_COLS])
    if all(s["base"] is None for s in pruned.values()):
        # every touched group is log-only; borrow one untouched
        # base-bearing slice for the merge schema — its rows carry
        # pre-window instants and the window filter removes them
        donor = next((fid for fid, s in slices.items()
                      if s["base"] is not None), None)
        if donor is not None:
            pruned = {**pruned, donor: slices[donor]}
    df = read_hudi(spark, path, as_of=end, _provenance=True,
                   _slices=pruned)
    out = (df.where((F.col("__instant") > F.lit(begin))
                    & (F.col("__instant") <= F.lit(end)))
           .drop("__instant", "_hoodie_record_key"))
    return out


def hudi_column_stats(path: str):
    """Driver-side read of the ``.hoodie/metadata`` table's
    COLUMN_STATS partition: Hudi's
    data-skipping index — per (data file, column) min/max and value/
    null counts, the analog of Iceberg's manifest-level column
    bounds.  Returns ``{(partition, file_name, column): {"min", "max",
    "value_count", "null_count"}}``, or ``None`` when the metadata
    table (or its column_stats partition) does not exist.  Records
    fold latest-wins per key in (instant, log index, block seq)
    order, ``isDeleted`` tombstones a file's stats.  Any record
    shape this decoder does not understand raises
    NotImplementedError (fail closed — the PRUNER then skips
    pruning, never guesses; correctness never depends on stats)."""
    mroot = os.path.join(path, ".hoodie", "metadata")
    if not os.path.isdir(os.path.join(mroot, ".hoodie")):
        return None
    from .hudilog import (BLOCK_DELETE, DATA_BLOCK_TYPES,
                          H_INSTANT_TIME, decode_data_block,
                          decode_delete_block, decode_log_blocks)
    inner = {fid: s for fid, s in
             live_hudi_slices(mroot, use_metadata=False).items()
             if s["part"] == "column_stats"}
    if not inner:
        return None
    committed = set(list_hudi_commits(mroot))
    _FIELDS = {"fileName", "columnName", "vtype", "minValue",
               "maxValue", "valueCount", "nullCount", "isDeleted",
               "filePart"}

    def _classify(r: dict):
        if not _FIELDS <= set(r):
            raise NotImplementedError(
                "hudi column_stats record shape "
                f"{sorted(r)} is not the fixture stats payload "
                "(real HoodieMetadataColumnStats wrapper unions "
                "are not implemented)")
        key = r.get("_hoodie_record_key") or r.get("key")
        if key is None:
            raise NotImplementedError(
                "hudi column_stats record carries no key")
        return key, dict(r)

    recs: dict[str, list] = {}
    for fid, s in sorted(inner.items()):
        if s["base"] is not None:
            from .avro import read_datum
            from .hfile import read_hfile
            info, cells = read_hfile(s["base"])
            if b"schema" not in info:
                raise NotImplementedError(
                    f"{s['base']}: HFile carries no 'schema' "
                    "file-info entry")
            schema = json.loads(info[b"schema"].decode("utf-8"))
            for seq, (k, v) in enumerate(cells):
                r, _end = read_datum(v, 0, schema)
                key, payload = _classify(r)
                recs.setdefault(key, []).append(
                    (("", -1, seq), payload))
        for lidx, p in enumerate(s["logs"]):
            with open(p, "rb") as fh:
                blocks = decode_log_blocks(fh.read())
            for seq, blk in enumerate(blocks):
                inst = blk["header"].get(H_INSTANT_TIME)
                if inst not in committed:
                    continue
                ordk = (inst, lidx, seq)
                if blk["type"] in DATA_BLOCK_TYPES:
                    for r in decode_data_block(blk):
                        key, payload = _classify(r)
                        recs.setdefault(key, []).append(
                            (ordk, payload))
                elif blk["type"] == BLOCK_DELETE:
                    for k in decode_delete_block(blk):
                        recs.setdefault(k, []).append((ordk, None))
                else:
                    raise NotImplementedError(
                        f"hudi column_stats log block {blk['type']}")

    def _parse(vtype, s2):
        if s2 is None or vtype == "null":
            return None
        if vtype == "long":
            return int(s2)
        if vtype == "double":
            return float(s2)
        if vtype == "string":
            return s2
        raise NotImplementedError(
            f"hudi column_stats value type {vtype!r}")

    out: dict = {}
    for key, events in recs.items():
        latest = None
        for _ordk, payload in sorted(events, key=lambda e: e[0]):
            latest = payload
        if latest is None or latest["isDeleted"]:
            continue
        out[(latest["filePart"], latest["fileName"],
             latest["columnName"])] = {
            "min": _parse(latest["vtype"], latest["minValue"]),
            "max": _parse(latest["vtype"], latest["maxValue"]),
            "value_count": int(latest["valueCount"]),
            "null_count": int(latest["nullCount"])}
    return out


def write_hudi_colstats_fixture(spark, path: str, columns) -> str:
    """FIXTURE: publish the metadata table's COLUMN_STATS partition
    for ``columns`` — per live BASE file, min/max and value/null
    counts folded from the parquet FOOTER's row-group statistics
    (exactly the numbers real Hudi's column-stats index persists;
    O(footer) per file, no data read), written as a deltacommit of
    stats records into the inner MOR table's ``column_stats``
    partition (HFILE data blocks, the metadata table's block kind).
    Columns whose footer stats are absent or non-primitive are
    skipped — the pruner treats a missing record as unprunable.
    Bootstraps the FILES partition first when the metadata table
    does not exist yet (a col_stats-only metadata table would break
    the listing path).  Returns the inner commit instant."""
    import pyarrow.parquet as pq
    mroot = os.path.join(path, ".hoodie", "metadata")
    if not os.path.isdir(os.path.join(mroot, ".hoodie")):
        write_hudi_metadata_fixture(spark, path)
    rows = []
    slices = live_hudi_slices(path, use_metadata=False)
    for fid, s in sorted(slices.items()):
        if s["base"] is None:
            continue            # log-only groups carry no base stats
        fname = os.path.basename(s["base"])
        md = pq.ParquetFile(s["base"]).metadata
        for col in columns:
            mn = mx = None
            vtype = None
            nulls = 0
            ok = True
            seen = False
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    if c.path_in_schema != col:
                        continue
                    seen = True
                    st = c.statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    lo, hi = st.min, st.max
                    if isinstance(lo, bytes):
                        try:
                            lo = lo.decode("utf-8")
                            hi = hi.decode("utf-8")
                        except UnicodeDecodeError:
                            ok = False
                            break
                    t = ("long" if isinstance(lo, int)
                         else "double" if isinstance(lo, float)
                         else "string" if isinstance(lo, str)
                         else None)
                    if t is None or (vtype is not None
                                     and vtype != t):
                        ok = False
                        break
                    vtype = t
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
                    nulls += int(st.null_count or 0)
                if not ok:
                    break
            if not (ok and seen and vtype is not None):
                continue
            rows.append((f"{col}@@{s['part']}/{fname}", fname, col,
                         vtype, str(mn), str(mx),
                         int(md.num_rows), nulls, False,
                         s["part"], "column_stats"))
    df = spark.createDataFrame(
        rows, "key string, fileName string, columnName string, "
              "vtype string, minValue string, maxValue string, "
              "valueCount bigint, nullCount bigint, "
              "isDeleted boolean, filePart string, p string")
    return write_hudi_delta_fixture(spark, mroot, upserts=df,
                                    partition_field="p",
                                    block_format="hfile")


def _record_key_fields(path: str):
    """``hoodie.table.recordkey.fields`` from
    ``.hoodie/hoodie.properties`` (None when absent) — what ties a
    filter column to the record key the bloom index hashes."""
    p = os.path.join(path, ".hoodie", "hoodie.properties")
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("hoodie.table.recordkey.fields="):
                val = line.split("=", 1)[1]
                return [f for f in val.split(",") if f] or None
    return None


def _bloom_indices(key: bytes, k: int, m: int):
    from .iceberg import _murmur3_32
    return [_murmur3_32(key, seed=i) % m for i in range(k)]


def _bloom_bits(keys, m: int, k: int) -> bytes:
    bits = bytearray((m + 7) // 8)
    for key in keys:
        for ix in _bloom_indices(key, k, m):
            bits[ix >> 3] |= 1 << (ix & 7)
    return bytes(bits)


def _bloom_might_contain(bits: bytes, m: int, k: int,
                         key: bytes) -> bool:
    return all(bits[ix >> 3] & (1 << (ix & 7))
               for ix in _bloom_indices(key, k, m))


def hudi_bloom_filters(path: str):
    """Driver-side read of the metadata table's BLOOM_FILTERS
    partition: per base file, a bloom filter over its
    ``_hoodie_record_key`` values — Hudi's point-lookup index.
    Returns ``{(partition, file_name): (m, k, bits)}`` or ``None``
    when absent; latest record per key wins, ``isDeleted``
    tombstones.  Unknown record shapes raise (fail closed — the
    pruner then skips bloom pruning; correctness never depends on
    it)."""
    import base64
    mroot = os.path.join(path, ".hoodie", "metadata")
    if not os.path.isdir(os.path.join(mroot, ".hoodie")):
        return None
    from .hudilog import (BLOCK_DELETE, DATA_BLOCK_TYPES,
                          H_INSTANT_TIME, decode_data_block,
                          decode_delete_block, decode_log_blocks)
    inner = {fid: s for fid, s in
             live_hudi_slices(mroot, use_metadata=False).items()
             if s["part"] == "bloom_filters"}
    if not inner:
        return None
    committed = set(list_hudi_commits(mroot))
    _FIELDS = {"fileName", "filePart", "m", "k", "bitsB64",
               "isDeleted"}

    def _classify(r: dict):
        if not _FIELDS <= set(r):
            raise NotImplementedError(
                f"hudi bloom_filters record shape {sorted(r)} is "
                "not the fixture bloom payload (real "
                "HoodieMetadataBloomFilter Hadoop-Writable "
                "serialization is not implemented)")
        key = r.get("_hoodie_record_key") or r.get("key")
        if key is None:
            raise NotImplementedError(
                "hudi bloom_filters record carries no key")
        return key, dict(r)

    recs: dict[str, list] = {}
    for fid, s in sorted(inner.items()):
        if s["base"] is not None:
            from .avro import read_datum
            from .hfile import read_hfile
            info, cells = read_hfile(s["base"])
            if b"schema" not in info:
                raise NotImplementedError(
                    f"{s['base']}: HFile carries no 'schema' "
                    "file-info entry")
            schema = json.loads(info[b"schema"].decode("utf-8"))
            for seq, (kk, v) in enumerate(cells):
                r, _end = read_datum(v, 0, schema)
                key, payload = _classify(r)
                recs.setdefault(key, []).append(
                    (("", -1, seq), payload))
        for lidx, p in enumerate(s["logs"]):
            with open(p, "rb") as fh:
                blocks = decode_log_blocks(fh.read())
            for seq, blk in enumerate(blocks):
                inst = blk["header"].get(H_INSTANT_TIME)
                if inst not in committed:
                    continue
                ordk = (inst, lidx, seq)
                if blk["type"] in DATA_BLOCK_TYPES:
                    for r in decode_data_block(blk):
                        key, payload = _classify(r)
                        recs.setdefault(key, []).append(
                            (ordk, payload))
                elif blk["type"] == BLOCK_DELETE:
                    for kk in decode_delete_block(blk):
                        recs.setdefault(kk, []).append((ordk, None))
                else:
                    raise NotImplementedError(
                        f"hudi bloom_filters log block {blk['type']}")
    out: dict = {}
    for key, events in recs.items():
        latest = None
        for _ordk, payload in sorted(events, key=lambda e: e[0]):
            latest = payload
        if latest is None or latest["isDeleted"]:
            continue
        out[(latest["filePart"], latest["fileName"])] = (
            int(latest["m"]), int(latest["k"]),
            base64.b64decode(latest["bitsB64"]))
    return out


def write_hudi_bloom_fixture(spark, path: str, key_field: str,
                             k: int = 5) -> str:
    """FIXTURE: publish the metadata table's BLOOM_FILTERS partition
    — per live BASE file, a bloom filter over its
    ``_hoodie_record_key`` column (one column-pruned pyarrow read
    per file), sized at 8 bits/key — and record
    ``hoodie.table.recordkey.fields=<key_field>`` in
    ``hoodie.properties`` so the pruner can tie an equality filter
    on that field to the record key.  Bootstraps the FILES partition
    first when the metadata table does not exist.  Returns the inner
    commit instant."""
    import base64

    import pyarrow.parquet as pq
    mroot = os.path.join(path, ".hoodie", "metadata")
    if not os.path.isdir(os.path.join(mroot, ".hoodie")):
        write_hudi_metadata_fixture(spark, path)
    props = os.path.join(path, ".hoodie", "hoodie.properties")
    if not os.path.exists(props):
        with open(props, "w") as fh:
            fh.write("hoodie.table.recordkey.fields="
                     f"{key_field}\n")
    rows = []
    for fid, s in sorted(live_hudi_slices(
            path, use_metadata=False).items()):
        if s["base"] is None:
            continue
        fname = os.path.basename(s["base"])
        keys = [str(x).encode("utf-8") for x in
                pq.read_table(s["base"],
                              columns=["_hoodie_record_key"])
                .column("_hoodie_record_key").to_pylist()]
        # 16 bits/key at k=5 ≈ 0.1% false-positive rate — pruning
        # quality; correctness never depends on it (a FP just scans
        # one extra file and the row predicate drops everything)
        m = max(64, 16 * len(keys))
        bits = _bloom_bits(keys, m, k)
        rows.append((f"bloom@@{s['part']}/{fname}", fname,
                     s["part"], m, k,
                     base64.b64encode(bits).decode("ascii"),
                     False, "bloom_filters"))
    df = spark.createDataFrame(
        rows, "key string, fileName string, filePart string, "
              "m bigint, k bigint, bitsB64 string, "
              "isDeleted boolean, p string")
    return write_hudi_delta_fixture(spark, mroot, upserts=df,
                                    partition_field="p",
                                    block_format="hfile")


def prune_hudi_slices_colstats(path: str, slices: dict,
                               filters: dict) -> dict:
    """Data skipping via the metadata table's column_stats index:
    drop file slices whose base-file [min, max] bounds prove
    no row can match the equality ``filters`` — the Hudi analog of
    the Iceberg manifest-level pruning.  CONSERVATIVE by
    construction: a slice survives unless it has NO live log files
    (a log could add matching rows the base stats cannot see), its
    base has a decodable stats record for the filter column, and the
    value falls outside the bounds (or the column is all-null).
    Stats are advisory — an unreadable column_stats partition means
    no pruning, never a failed read.

    Bloom pruning: when the metadata table also publishes the
    BLOOM_FILTERS partition and ``hoodie.properties`` names a single
    record-key field that appears in ``filters``, a slice whose
    bloom DEFINITELY excludes the key's string form is dropped too —
    Hudi's point-lookup index, effective when keys are not
    range-clustered (where min/max bounds cannot discriminate)."""
    try:
        stats = hudi_column_stats(path)
    except (NotImplementedError, KeyError, ValueError):
        stats = None
    try:
        blooms = hudi_bloom_filters(path)
    except (NotImplementedError, KeyError, ValueError):
        blooms = None
    rkeys = _record_key_fields(path) if blooms else None
    bloom_col = (rkeys[0] if rkeys and len(rkeys) == 1
                 and rkeys[0] in (filters or {}) else None)
    if not stats and not (blooms and bloom_col):
        return slices
    stats = stats or {}
    out = {}
    for fid, s in slices.items():
        if s["logs"] or s["base"] is None:
            out[fid] = s
            continue
        fname = os.path.basename(s["base"])
        drop = False
        if blooms and bloom_col is not None:
            v = filters[bloom_col]
            ent = blooms.get((s["part"], fname))
            if ent is not None and v is not None:
                m, kk, bits = ent
                if not _bloom_might_contain(
                        bits, m, kk, str(v).encode("utf-8")):
                    drop = True
        for c, v in (filters or {}).items():
            if drop:
                break
            st = stats.get((s["part"], fname, c))
            if st is None:
                continue
            if v is None:
                # equality-to-NULL never matches any row; keep the
                # slice (the row predicate decides) — pruning only
                # on definite emptiness would need IS NULL semantics
                continue
            mn, mx = st["min"], st["max"]
            if mn is None or mx is None:
                if st["value_count"] == st["null_count"]:
                    drop = True          # all-null column
                    break
                continue
            try:
                if v < mn or v > mx:
                    drop = True
                    break
            except TypeError:
                continue                 # incomparable: no pruning
        if not drop:
            out[fid] = s
    return out


def write_hudi_fixture(spark, df, path: str,
                       partition_field: str | None = None,
                       replace_file_ids=(), instant: str | None = None
                       ) -> str:
    """FIXTURE writer emitting the public CoW timeline layout (a test
    double, not a transactional writer — same stance as the Delta and
    Iceberg fixture writers).  Each call is one commit: ``df``'s rows
    become one file group per distinct partition value (with the
    standard ``_hoodie_*`` meta columns), and any fileId listed in
    ``replace_file_ids`` is REWRITTEN (same fileId, new file — the
    copy-on-write update path).  Returns the commit instant."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    hdir = os.path.join(path, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    instant = instant or _next_instant(path)
    parts: dict[str, list] = {}
    rows = df.collect()
    for r in rows:
        part = (str(r[partition_field]) if partition_field
                else "")
        parts.setdefault(part, []).append(r)
    stats_by_part: dict[str, list] = {}
    for pi, (part, prows) in enumerate(sorted(parts.items())):
        fid = (list(replace_file_ids)[pi]
               if pi < len(replace_file_ids)
               else uuid.uuid4().hex[:8])
        rel_dir = part
        fname = f"{fid}_0-0-0_{instant}.parquet"
        rel = f"{rel_dir}/{fname}" if rel_dir else fname
        full = os.path.join(path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        import pandas as pd

        from pyspark.sql import Row as _Row

        def _pyize(v):
            # nested payloads: Rows -> dicts so pyarrow can build
            # struct columns
            if isinstance(v, _Row):
                return {k2: _pyize(v2)
                        for k2, v2 in v.asDict().items()}
            if isinstance(v, list):
                return [_pyize(x) for x in v]
            return v

        data = {c: [_pyize(r[c]) for r in prows] for c in df.columns}
        # nested columns carrying maps or temporal leaves build with
        # EXPLICIT arrow types: pandas inference turns a python
        # dict into a STRUCT and guesses temporal units; other nested
        # shapes keep the inference path (e.g. decimal leaves)
        explicit: dict[str, tuple] = {}
        for c, t in df.dtypes:
            try:
                tree = _parse_ddl_type(t)
            except ValueError:
                continue
            # maps and temporal leaves mis-infer through pandas;
            # decimals (flat included) infer with VALUE-derived
            # precision/scale instead of the declared type
            if _tree_has_map(tree) or _tree_has_temporal(tree) \
                    or _tree_has_decimal(tree):
                if "<" in t or _tree_has_decimal(tree):
                    explicit[c] = tree
        meta = {
            "_hoodie_commit_time": [instant] * len(prows),
            "_hoodie_commit_seqno": [f"{instant}_{i}"
                                     for i in range(len(prows))],
            "_hoodie_record_key": [str(r[0]) for r in prows],
            "_hoodie_partition_path": [part] * len(prows),
            "_hoodie_file_name": [fname] * len(prows),
        }
        pdf = pd.DataFrame({**meta,
                            **{c: v for c, v in data.items()
                               if c not in explicit}})
        tb = pa.Table.from_pandas(pdf, preserve_index=False)
        order = list(meta) + list(df.columns)
        for c, tree in explicit.items():     # ascending column order
            # direct logical build: collected python values
            # (naive datetimes = UTC wall, dates, Decimals, dicts)
            # carry straight into the declared arrow type
            arr = pa.array(data[c], type=_pa_payload_type(tree))
            tb = tb.add_column(order.index(c), pa.field(c, arr.type),
                               arr)
        for ci, fld in enumerate(tb.schema):
            # micros + UTC: nano timestamps read back as long under
            # the session's nanosAsLong conf, naive ones as NTZ
            if pa.types.is_timestamp(fld.type):
                tb = tb.set_column(
                    ci, fld.name,
                    tb.column(ci).cast(pa.timestamp(
                        "us", fld.type.tz or "UTC")))
        pq.write_table(tb, full)
        stats_by_part.setdefault(part, []).append({
            "fileId": fid, "path": rel,
            "numWrites": len(prows),
            "fileSizeInBytes": os.path.getsize(full)})
    with open(os.path.join(hdir, f"{instant}.commit"), "w") as fh:
        json.dump({"partitionToWriteStats": stats_by_part,
                   "operationType": "UPSERT"}, fh)
    _sync_hudi_metadata(spark, path)
    return instant


def write_hudi_replace_fixture(spark, df, path: str, replace_file_ids,
                               partition_field: str | None = None,
                               instant: str | None = None) -> str:
    """FIXTURE replacecommit (clustering / insert_overwrite):
    ``df``'s rows become NEW file groups and every fileId listed in
    ``replace_file_ids`` (``{partition: [fileIds]}``) is retired —
    including any accumulated log files.  Returns the instant."""
    inst = write_hudi_fixture(spark, df, path,
                              partition_field=partition_field,
                              instant=instant)
    hdir = os.path.join(path, ".hoodie")
    src = os.path.join(hdir, f"{inst}.commit")
    with open(src) as fh:
        commit = json.load(fh)
    commit["operationType"] = "CLUSTER"
    commit["partitionToReplaceFileIds"] = {
        str(p): list(fids) for p, fids in replace_file_ids.items()}
    os.remove(src)
    with open(os.path.join(hdir, f"{inst}.replacecommit"), "w") as fh:
        json.dump(commit, fh)
    # the commit-kind rewrite changed the live set after the .commit
    # sync ran — refresh so a metadata listing reflects the replace
    _sync_hudi_metadata(spark, path)
    return inst


_SPARK_TO_AVRO = {"bigint": "long", "int": "int", "double": "double",
                  "float": "float", "string": "string",
                  "boolean": "boolean",
                  # Avro logical types: written as their underlying
                  # primitives (micros / days from epoch), ANNOTATED
                  # the way a real Hudi writer stamps them — the
                  # annotation is what lets a log-only table's schema
                  # round-trip
                  "timestamp": {"type": "long",
                                "logicalType": "timestamp-micros"},
                  "date": {"type": "int", "logicalType": "date"},
                  "binary": "bytes"}


def _avro_payload_type(col: str, t: str):
    """Spark DDL type -> Avro schema for a log payload column: any
    nesting of array/struct/map over the safe primitives, temporal
    leaves annotated with their logical types at EVERY depth —
    the wire shape a real Hudi writer's Avro converter produces.
    Record names are deterministic per (column, walk order) so two
    writes of the same shape compare equal under the log schema
    gate."""
    ctr = [0]

    def conv(tree):
        k = tree[0]
        if k == "prim":
            m = _DEC_RE.match(tree[1])
            if m:
                return {"type": "bytes", "logicalType": "decimal",
                        "precision": int(m.group(1)),
                        "scale": int(m.group(2))}
            if tree[1] not in _SPARK_TO_AVRO:
                raise NotImplementedError(
                    f"hudi log fixture over payload type {t!r}")
            return _SPARK_TO_AVRO[tree[1]]
        if k == "array":
            return {"type": "array", "items": ["null", conv(tree[1])]}
        if k == "map":
            if tree[1] != ("prim", "string"):
                raise NotImplementedError(
                    f"hudi log fixture over payload type {t!r} "
                    "(avro maps key by string)")
            return {"type": "map", "values": ["null", conv(tree[2])]}
        if k == "struct":
            ctr[0] += 1
            name = f"p_{col}" if ctr[0] == 1 else f"p_{col}_{ctr[0]}"
            return {"type": "record", "name": name,
                    "fields": [{"name": n, "type": ["null", conv(ft)]}
                               for n, ft in tree[1]]}
        raise NotImplementedError(
            f"hudi log fixture over payload type {t!r}")
    try:
        return conv(_parse_ddl_type(t))
    except ValueError:
        raise NotImplementedError(
            f"hudi log fixture over payload type {t!r}")


def write_hudi_delta_fixture(spark, path: str, upserts=None,
                             deletes=None,
                             partition_field: str | None = None,
                             instant: str | None = None,
                             commit: bool = True,
                             rollback_target: str | None = None,
                             split_logs: int = 1,
                             block_format: str = "avro") -> str:
    """FIXTURE delta commit for a MOR table: appends typed log blocks
    to each touched file group's ``.log`` file and writes the
    ``<instant>.deltacommit`` timeline entry.  ``upserts`` is a
    DataFrame shaped like the base data (first column is the record
    key); ``deletes`` is a list of record keys (unpartitioned) or a
    ``{partition_value: [keys]}`` dict.  ``commit=False`` writes the
    blocks but NOT the timeline entry — a torn/failed write the
    reader must ignore.  ``rollback_target`` appends a rollback
    command block voiding that instant's blocks (the cleanup a real
    writer performs after a failed write).  ``split_logs > 1``
    splits each group's upsert records across that many ROLLED log
    files (``.log.1`` / ``.log.2`` …, same instant, all listed in
    the deltacommit's write stats) — the shape a real writer
    produces when it rolls a log at size, and the case where
    latest-wins needs the log-file index in its ordering key.
    ``block_format`` picks the data-block kind real writers choose
    between — ``"avro"`` (default), ``"hfile"`` (what metadata tables
    write), or ``"parquet"`` (hoodie.logfile.data.block.format).
    Returns the instant."""
    from .hudilog import (encode_avro_data_block, encode_delete_block,
                          encode_hfile_data_block,
                          encode_parquet_data_block,
                          encode_rollback_block)
    # "hfile" optionally extends to "hfile/<compression>/<encoding>"
    # — e.g. "hfile/snappy/fast_diff", the HBase-tuned shape
    hfile_opts = ("none", "none")
    if block_format.startswith("hfile"):
        bits = block_format.split("/")
        block_format = "hfile"
        if len(bits) > 1:
            hfile_opts = (bits[1], bits[2] if len(bits) > 2
                          else "none")
    if block_format not in ("avro", "hfile", "parquet"):
        raise NotImplementedError(
            f"hudi fixture log block format {block_format!r}")
    hdir = os.path.join(path, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    instant = instant or _next_instant(path)
    try:
        slices = live_hudi_slices(path)
    except FileNotFoundError:
        # bootstrapping a FRESH table with a deltacommit — the
        # streaming-ingest shape that produces a log-only-ONLY table
        slices = {}
    by_part = {s["part"]: (fid, s) for fid, s in slices.items()}

    def _log_path(fid: str, s: dict, roll: int = 0) -> str:
        if s["logs"] and not roll:
            return s["logs"][0]
        if s["base"] is not None:
            base = os.path.basename(s["base"])
            base_instant = base.rsplit("_", 1)[1].split(".")[0]
        else:
            base_instant = instant       # log-only group, born now
        ver = len(s["logs"]) + roll + (0 if s["logs"] else 1)
        fname = f".{fid}_{base_instant}.log.{ver}"
        return os.path.join(path, s["part"], fname) \
            if s["part"] else os.path.join(path, fname)

    stats_by_part: dict[str, list] = {}

    def _note(part, fid, full):
        rel = os.path.relpath(full, path)
        stats = stats_by_part.setdefault(part, [])
        if not any(st["path"] == rel for st in stats):
            stats.append({"fileId": fid, "path": rel,
                          "fileSizeInBytes": os.path.getsize(full)})

    if upserts is not None:
        schema = {"type": "record", "name": "rec", "fields": (
            [{"name": "_hoodie_record_key", "type": "string"}]
            + [{"name": c, "type": ["null", _avro_payload_type(c, t)]}
               for c, t in upserts.dtypes])}
        import datetime as _dt

        from pyspark.sql import Row as _Row

        def _avroize(v):
            # recursive: temporal leaves INSIDE rows/lists/maps
            # convert to their logical-type ints at every depth
            if isinstance(v, _dt.datetime):
                return (v - _dt.datetime(1970, 1, 1)) \
                    // _dt.timedelta(microseconds=1)
            if isinstance(v, _dt.date):
                return (v - _dt.date(1970, 1, 1)).days
            if isinstance(v, _Row):
                return {k: _avroize(x) for k, x in v.asDict().items()}
            if isinstance(v, dict):
                return {k: _avroize(x) for k, x in v.items()}
            if isinstance(v, list):
                return [_avroize(x) for x in v]
            return v
        encs = {c: _payload_avroizer(t) for c, t in upserts.dtypes}
        grouped: dict[str, list[dict]] = {}
        for r in upserts.collect():
            part = (str(r[partition_field]) if partition_field
                    else "")
            rec = {"_hoodie_record_key": str(r[0]),
                   **{c: (encs[c](r[c]) if encs[c] is not None
                          else _avroize(r[c]))
                      for c in upserts.columns}}
            grouped.setdefault(part, []).append(rec)
        for part, recs in sorted(grouped.items()):
            if part not in by_part:
                # INSERT into a new partition: a log-only file group
                import uuid as _uuid
                fid = _uuid.uuid4().hex[:8]
                os.makedirs(os.path.join(path, part) if part
                            else path, exist_ok=True)
                by_part[part] = (fid, {"base": None, "part": part,
                                       "logs": []})
            fid, s = by_part[part]
            n = max(1, min(split_logs, len(recs)))
            chunk = (len(recs) + n - 1) // n
            for i in range(n):
                batch = recs[i * chunk:(i + 1) * chunk]
                if not batch:
                    continue
                full = _log_path(fid, s, roll=i)
                if block_format == "hfile":
                    blk = encode_hfile_data_block(
                        instant, schema, batch,
                        compression=hfile_opts[0],
                        encoding=hfile_opts[1])
                elif block_format == "parquet":
                    # real parquet blocks carry REAL temporal types
                    # (the reader normalizes them back to the Avro
                    # conventions at decode) — rebuild them from the
                    # avroized ints
                    import pyarrow as pa
                    names = (["_hoodie_record_key"]
                             + list(upserts.columns))
                    dt_map = dict(upserts.dtypes)
                    arrays = {}
                    for c in names:
                        vals = [r.get(c) for r in batch]
                        t = dt_map.get(c)
                        tree = _parse_ddl_type(t) if t else None
                        if tree is not None and (
                                _tree_has_temporal(tree)
                                or _tree_has_map(tree)
                                or _tree_has_decimal(tree)):
                            # real parquet blocks carry REAL
                            # temporal/decimal values: revive the
                            # avroized datums back to logical
                            # python objects and build with the
                            # declared arrow type (pa.array
                            # takes naive datetimes as UTC)
                            rv = _temporal_reviver(t)
                            lv = ([rv(x) for x in vals] if rv
                                  else vals)
                            arrays[c] = pa.array(
                                lv, type=_pa_payload_type(tree))
                        else:
                            arrays[c] = pa.array(vals)
                    tb = pa.table(arrays)
                    blk = encode_parquet_data_block(
                        instant, tb, avro_schema=schema)
                else:
                    blk = encode_avro_data_block(instant, schema,
                                                 batch)
                with open(full, "ab") as fh:
                    fh.write(blk)
                _note(part, fid, full)
    if deletes:
        dmap = (deletes if isinstance(deletes, dict)
                else {"": list(deletes)})
        for part, keys in sorted(dmap.items()):
            fid, s = by_part[str(part)]
            full = _log_path(fid, s)
            with open(full, "ab") as fh:
                fh.write(encode_delete_block(instant,
                                             [str(k) for k in keys]))
            _note(str(part), fid, full)
    if rollback_target:
        for part, (fid, s) in sorted(by_part.items()):
            if not s["logs"]:
                continue
            full = _log_path(fid, s)
            with open(full, "ab") as fh:
                fh.write(encode_rollback_block(instant,
                                               rollback_target))
            _note(part, fid, full)
    if commit:
        with open(os.path.join(hdir,
                               f"{instant}.deltacommit"), "w") as fh:
            json.dump({"partitionToWriteStats": stats_by_part,
                       "operationType": "UPSERT"}, fh)
        if not path.rstrip("/").endswith(os.path.join(".hoodie",
                                                      "metadata")):
            _sync_hudi_metadata(spark, path)
    return instant


_PA_TO_DDL = {"int64": "bigint", "int32": "int", "double": "double",
              "float": "float", "string": "string", "large_string":
              "string", "bool": "boolean", "binary": "binary",
              "large_binary": "binary"}


_AVRO_PRIM_TO_DDL = {"long": "bigint", "int": "int",
                     "double": "double", "float": "float",
                     "string": "string", "boolean": "boolean",
                     "bytes": "binary"}


def _avro_field_ddl(t) -> str:
    """Avro field type (null-union already stripped) -> Spark DDL.
    Logical-type annotations recover timestamp/date — the reason the
    fixture writer stamps them like a real Hudi writer does."""
    from .avro import _norm_type
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt == "timestamp-micros":
            return "timestamp"
        if lt == "date":
            return "date"
        if lt == "decimal":
            return f"decimal({t['precision']},{t['scale']})"
        k = t.get("type")
        if k == "array":
            it, _nl = _norm_type(t["items"])
            return f"array<{_avro_field_ddl(it)}>"
        if k == "map":
            vt, _nl = _norm_type(t["values"])
            return f"map<string,{_avro_field_ddl(vt)}>"
        if k == "record":
            inner = ",".join(
                f"{f['name']}:{_avro_field_ddl(_norm_type(f['type'])[0])}"
                for f in t["fields"])
            return f"struct<{inner}>"
        if k in _AVRO_PRIM_TO_DDL:
            return _AVRO_PRIM_TO_DDL[k]
        raise NotImplementedError(f"hudi log schema avro type {t!r}")
    if t in _AVRO_PRIM_TO_DDL:
        return _AVRO_PRIM_TO_DDL[t]
    raise NotImplementedError(f"hudi log schema avro type {t!r}")


def hudi_log_table_schema(log_paths) -> list[tuple[str, str]]:
    """``[(name, spark_ddl_type)]`` recovered from the Avro data
    blocks' embedded writer schemas across ``log_paths`` — the schema
    source for a table consisting only of log-only file groups.
    EVERY data block's SCHEMA header is inspected and a field-set
    mismatch raises: taking only the first block's
    schema would silently drop a column a later deltacommit added.
    Driver work is O(block headers), not O(rows) — datums are never
    decoded."""
    from .avro import _norm_type
    from .hudilog import (BLOCK_PARQUET_DATA, DATA_BLOCK_TYPES,
                          H_SCHEMA, decode_log_blocks)
    out = None
    names: list | None = None
    first_at = None

    def _fields_of(blk):
        """[(name, ddl)] of one data block — from the SCHEMA header's
        Avro writer schema when present (avro/hfile blocks, and
        parquet blocks real Hudi stamps), else from the parquet
        block's own footer."""
        sj = blk["header"].get(H_SCHEMA)
        if sj is not None:
            schema = json.loads(sj)
            return [(f["name"],
                     _avro_field_ddl(_norm_type(f["type"])[0]))
                    for f in schema["fields"]
                    if f["name"] not in _META_COLS]
        if blk["type"] == BLOCK_PARQUET_DATA:
            import pyarrow as pa
            import pyarrow.parquet as pq
            sch = pq.read_schema(pa.BufferReader(blk["content"]))
            return [(f.name, _pa_type_ddl(f.type)) for f in sch
                    if f.name not in _META_COLS]
        raise NotImplementedError(
            "hudi data block carries no SCHEMA header")

    for p in log_paths:
        with open(p, "rb") as fh:
            blocks = decode_log_blocks(fh.read())
        for blk in blocks:
            if blk["type"] not in DATA_BLOCK_TYPES:
                continue
            flds = _fields_of(blk)
            if names is None:
                names, first_at = flds, p
                out = flds
            elif flds != names:
                # full (name, type) comparison: two
                # blocks with identical names but evolved TYPES
                # (int -> bigint) must gate too, or the first
                # block's narrower DDL would misread wider values
                raise NotImplementedError(
                    f"hudi log-only table carries more than one "
                    f"writer schema: {first_at} has fields {names}, "
                    f"{p} has {flds} (names or types differ) — "
                    "schema-evolved log-only tables are unsupported")
    if out is not None:
        return out
    raise NotImplementedError(
        "no avro data block found in any log file — cannot recover "
        "the table schema (delete-only logs carry keys, not schemas)")


def hudi_table_schema(path: str):
    """``[(name, spark_ddl_type)]`` of a Hudi table's data columns
    (``_hoodie_*`` meta excluded), from one base file's parquet
    footer — planning-only driver work; a table with ONLY log-only
    file groups recovers its schema from the log's embedded Avro
    writer schema instead.  Timestamp/date surface as their
    Spark types; other non-primitives gate."""
    import pyarrow.parquet as pq
    slices = live_hudi_slices(path)
    base = next((s["base"] for s in slices.values()
                 if s["base"] is not None), None)
    if base is None:
        return hudi_log_table_schema(
            sorted(p for s in slices.values() for p in s["logs"]))
    return [(f.name, _pa_type_ddl(f.type))
            for f in pq.read_schema(base) if f.name not in _META_COLS]


def _pa_type_ddl(t) -> str:
    """pyarrow type -> Spark DDL, recursively through
    lists/structs/maps; unknown leaves gate loudly."""
    import pyarrow as pa
    s = str(t)
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "date32[day]":
        return "date"
    if s in _PA_TO_DDL:
        return _PA_TO_DDL[s]
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_pa_type_ddl(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_pa_type_ddl(f.type)}"
                         for f in t)
        return f"struct<{inner}>"
    if pa.types.is_map(t):
        return (f"map<{_pa_type_ddl(t.key_type)},"
                f"{_pa_type_ddl(t.item_type)}>")
    raise NotImplementedError(f"hudi parquet column type {s!r}")


def hudi_timeline_table(spark, path: str):
    """The Hudi TIMELINE as a DataFrame — one row per COMPLETED
    instant (the ``show_commits``/timeline inspection surface):
    instant id, action kind (``commit`` / ``deltacommit`` /
    ``replacecommit``), and its ordinal position.  Driver work is one
    ``.hoodie`` directory listing — O(instants), the same walk every
    read already performs."""
    rows = [(ts, kind, i)
            for i, (ts, kind) in enumerate(_timeline(path))]
    return spark.createDataFrame(
        rows, "instant string, action string, seq int")


def hudi_clean_plan(spark, path: str, keep_versions: int = 1):
    """Table MAINTENANCE: the deletion plan Hudi's CLEANER
    computes under KEEP_LATEST_FILE_VERSIONS — per file group, base
    files beyond the newest ``keep_versions`` and the log files of
    SUPERSEDED slices (logs whose blocks a later compaction/rewrite
    folded into a newer base).  Returns a DataFrame ``(kind,
    file_path, file_id, instant)`` with kinds ``base`` / ``log``; a
    PLAN, nothing is deleted.  Planning is one timeline replay
    keeping per-group version HISTORY (O(timeline write stats), the
    replay's own class)."""
    timeline = _timeline(path)
    if not timeline:
        raise FileNotFoundError(f"{path}: no completed commits")
    # per file group: every base-file version in commit order, and
    # each version's accumulated log files
    versions: dict[str, list] = {}       # fid -> [(instant, base)]
    logs_of: dict[tuple, list] = {}      # (fid, instant) -> [logs]
    replaced: dict[str, str] = {}        # fid -> replacing instant
    for ts, kind in timeline:
        with open(os.path.join(path, ".hoodie",
                               f"{ts}.{kind}")) as fh:
            commit = json.load(fh)
        if kind == "replacecommit":
            for _p, fids in commit.get("partitionToReplaceFileIds",
                                       {}).items():
                for fid in fids:
                    replaced[fid] = ts
        for _part, stats in commit.get("partitionToWriteStats",
                                       {}).items():
            for st in stats:
                fid, rel = st.get("fileId"), st.get("path")
                if not fid or not rel:
                    continue
                full = os.path.join(path, rel)
                name = os.path.basename(rel)
                if name.startswith("."):            # log file
                    cur = versions.get(fid)
                    key = (fid, cur[-1][0] if cur else ts)
                    lst = logs_of.setdefault(key, [])
                    if full not in lst:
                        lst.append(full)
                else:                               # base file
                    versions.setdefault(fid, []).append((ts, full))
    rows = []
    keep = max(1, keep_versions)
    for fid, vs in sorted(versions.items()):
        for ts, base in vs[:-keep]:
            rows.append(("base", base, fid, ts))
            for lp in logs_of.get((fid, ts), []):
                rows.append(("log", lp, fid, ts))
        if fid in replaced:
            # the whole group was replaced (clustering): every
            # version and its logs are reclaimable
            for ts, base in vs[-keep:]:
                rows.append(("base", base, fid, ts))
                for lp in logs_of.get((fid, ts), []):
                    rows.append(("log", lp, fid, ts))
    return spark.createDataFrame(
        rows or [], "kind string, file_path string, "
                    "file_id string, instant string")
