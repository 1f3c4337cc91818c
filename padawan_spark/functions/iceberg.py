"""Apache Iceberg table reader, dependency-free (the PUBLIC Iceberg
table spec): ``metadata/*.metadata.json`` + Avro manifest lists +
Avro manifest files, decoded with the in-repo generic Avro datum
reader (:func:`padawan_spark.functions.avro.decode_avro_datums` —
nested records/arrays/maps are exactly what manifests are made of).

Interop surface: scan an existing Iceberg table — current snapshot or
time travel by snapshot id — without the iceberg-spark runtime jar.
Live data files are resolved by walking the snapshot's manifest list
and keeping entries whose status is not DELETED; identity-transform
partition values from each ``data_file.partition`` record are
re-attached as columns (Iceberg, like Delta/Hive, may omit them from
the data files).  Metadata work is O(manifest entries) on the driver;
the scan is one parquet job per distinct partition tuple.

Supported: format v1/v2 JSON metadata, identity partition transforms,
parquet data files, null/deflate-coded manifests, and v2 POSITION
delete files: delete manifests (``content=1`` in the manifest
list) are walked like data manifests, their position-delete parquet
files (``file_path``/``pos`` columns) read distributed, and the
deleted positions anti-joined against the data rows on
``(_metadata.file_path, _metadata.row_index)`` — position deletes
reference data files by unique path, so path-matched application is
exact without sequence-number bookkeeping.  v2 EQUALITY delete files
(``content=2``): manifest-entry sequence numbers (inherited from
the manifest-list row when null, per the spec's v2 inheritance rule)
scope each delete to data files with STRICTLY SMALLER sequence
numbers, so rows re-inserted in the same or a later commit survive;
application is one null-safe anti-join per distinct ``equality_ids``
set with the data-file sequence number attached as a literal column.
Non-identity partition transforms: ``bucket[N]`` (spec-exact
32-bit Murmur3 over the value's single-value-serialization bytes,
pinned to the spec's published test vectors), ``truncate[W]``,
``year``/``month``/``day``/``hour`` and ``void`` are parsed from the
partition spec, evaluated in :func:`_transform_value`, and used for
MANIFEST-LEVEL FILE PRUNING: :func:`prune_partition_files` drops
every data file whose transformed partition value cannot match an
equality filter before any Spark job runs — the transform-pruning
path that makes a 100 TB bucketed/date-partitioned table a
point-lookup instead of a full scan.  Source columns of non-identity
transforms live in the data files themselves (only identity
partition values are re-attached from metadata).  Schema evolution:
a table carrying more than one schema resolves columns the way
the spec mandates — by PARQUET FOOTER FIELD ID — so renames keep
reading old files and post-add files return null for the new column;
the fixture writer stamps field ids on every data file it writes.
AVRO data files read through the in-repo dependency-free Avro
source (block-split tasks, writer schema per file) and union with
parquet groups in one table; ORC data files ride Spark's
native vectorized ORC source and share the broadcast
partition-attach map through ``_metadata.file_path``.  ORC schema
evolution resolves by the ``iceberg.id`` footer type
attributes (the spec's ORC appendix) through the same one-job layout
tap as parquet; ORC position deletes route ONLY the targeted
files through an Arrow stripe scan that derives exact row positions
in-task, untargeted ORC files staying on the native vectorized scan.
AVRO closes the same way: schema evolution resolves by the
embedded writer schema's ``field-id`` attributes (Iceberg's Avro
convention) through the shared one-job layout tap, and position
deletes route only the targeted AVRO files through the python block
decoder, which enumerates rows in file order — exact positions by
construction.  Every (format × evolution × delete-kind) combination
now reads.
"""

from __future__ import annotations

import json
import os
import re


def orc_stripe_position_frames(path: str, pmapping: dict,
                               dn: tuple, renamers: dict | None = None):
    """One pandas frame per ORC STRIPE of ``path``: logical columns
    ``dn`` (resolved through ``pmapping`` logical→physical; unmapped
    or absent columns null-fill), plus ``__fp`` (the path) and
    ``__pos`` — the file-global row position derived from a RUNNING
    STRIPE OFFSET, i.e. exactly the ordinal Iceberg position deletes
    address.  Memory bounds at one stripe per frame; hypothesis-
    property-tested against a whole-file row_number oracle across
    stripe-size splits × delete-position sets."""
    import pandas as pd
    import pyarrow.orc as po
    f2 = po.ORCFile(path)
    off = 0
    for si in range(f2.nstripes):
        tb = f2.read_stripe(si)
        pdo = tb.to_pandas()
        data = {}
        for n2 in dn:
            pn = pmapping.get(n2)
            if pn is not None and pn in pdo.columns:
                col = pdo[pn]
                rn = (renamers or {}).get(n2)
                if rn is not None:
                    # nested-evolved file: rename inner
                    # fields per this file's physical tree — a
                    # value walk over just the targeted file's rows
                    col = col.map(rn, na_action="ignore")
                data[n2] = col
            else:
                data[n2] = [None] * len(pdo)
        outp = pd.DataFrame(data)
        outp["__fp"] = path
        outp["__pos"] = range(off, off + len(pdo))
        off += len(pdo)
        yield outp


def _latest_metadata(path: str) -> str:
    mdir = os.path.join(path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if os.path.exists(cand):
            return cand
    best, best_v = None, -1
    for f in os.listdir(mdir):
        m = re.match(r"^v(\d+)\.metadata\.json$", f)
        if m and int(m.group(1)) > best_v:
            best, best_v = f, int(m.group(1))
    if best is None:
        raise FileNotFoundError(f"{mdir}: no v*.metadata.json")
    return os.path.join(mdir, best)


def _resolve(path: str, table: str) -> str:
    p = path
    if p.startswith("file:"):
        p = p[len("file:"):]
    if os.path.isabs(p):
        return p
    return os.path.join(table, p)


_ICE_TO_SPARK = {"long": "bigint", "int": "int", "string": "string",
                 "double": "double", "float": "float",
                 "boolean": "boolean", "date": "date",
                 "binary": "binary", "timestamp": "timestamp",
                 # spec: timestamptz is UTC-adjusted — Spark's
                 # TIMESTAMP (sessions here run UTC); plain iceberg
                 # "timestamp" is kept on TIMESTAMP too for fixture
                 # continuity (both decode identically in UTC)
                 "timestamptz": "timestamp",
                 # v3 variant: Spark 4
                 # reads the parquet VARIANT logical type natively —
                 # a declared `variant` column scans straight
                 # through, extraction is `variant_get` codegen; the
                 # layout taps already fall back to the in-repo
                 # thrift footer walk when pyarrow refuses VARIANT
                 # footers
                 "variant": "variant"}


def _ice_leaf_ddl(t: str) -> str:
    if t in _ICE_TO_SPARK:
        return _ICE_TO_SPARK[t]
    m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    if re.match(r"^fixed\[\d+\]$", t):
        return "binary"     # FIXED_LEN_BYTE_ARRAY scans as binary
    if (t in ("timestamp_ns", "timestamptz_ns", "unknown")
            or t.startswith("geometry") or t.startswith("geography")):
        raise NotImplementedError(
            f"iceberg v3 type {t!r} is not implemented "
            f"(v3 reads here support initial-default column "
            f"defaults, puffin deletion vectors, row lineage and "
            f"variant)")
    raise NotImplementedError(f"iceberg type {t!r}")


# v3 read support is PARTIAL by design: the essentials real tables hit
# first (column defaults, deletion vectors, row lineage over
# parquet/ORC/Avro, variant columns) are implemented; the remainder
# gates loudly wherever it would otherwise be silently misread
# (COVERAGE.md records the final scope).
_V3_NOT_IMPLEMENTED = (
    "geometry / geography / unknown column types",
    "timestamp_ns / timestamptz_ns column types",
    "multi-argument partition transforms",
)


def _check_format_version(meta: dict, path: str) -> int:
    """Loud format-version gate: v1/v2 read in
    full; v3 reads support ``initial-default`` column defaults,
    puffin deletion vectors, row lineage (parquet/ORC/Avro) and
    ``variant`` columns (the remainder gates at its point of use —
    COVERAGE.md records the final scope); anything newer refuses
    up front."""
    fv = int(meta.get("format-version", 1))
    if fv > 3:
        raise NotImplementedError(
            f"iceberg format-version {fv} at {path!r} is unsupported "
            f"(v1/v2 fully; v3 partially — not implemented: "
            + "; ".join(_V3_NOT_IMPLEMENTED) + ")")
    return fv


def _read_puffin_dv(puffin_path: str, offset: int,
                    size: int) -> list[int]:
    """One v3 deletion-vector blob out of a puffin file -> sorted
    deleted row positions.  The manifest entry's ``content_offset`` /
    ``content_size_in_bytes`` address the blob directly (the spec
    mirrors them from the puffin footer precisely so readers can skip
    the footer walk).  Blob layout per the spec's deletion-vector-v1:
    4-byte big-endian length of (magic + vector), the 4 magic bytes
    ``D1 D3 39 64`` (the same little-endian ``1681511377`` Delta DVs
    lead with), the 64-bit roaring bitmap in portable form (decoded by
    the shared :func:`.deltadv.bitmap_array_decode`), and a 4-byte
    big-endian CRC-32 of magic + vector."""
    import struct
    import zlib

    from .deltadv import DV_MAGIC, bitmap_array_decode
    with open(puffin_path, "rb") as fh:
        if fh.read(4) != b"PFA1":
            raise NotImplementedError(
                f"{puffin_path!r} is not a puffin file "
                f"(bad magic) — cannot read the deletion vector")
        fh.seek(offset)
        blob = fh.read(size)
    ln = struct.unpack_from(">i", blob, 0)[0]
    magic = struct.unpack_from("<I", blob, 4)[0]
    if magic != DV_MAGIC:
        raise NotImplementedError(
            f"puffin blob at {puffin_path!r}:{offset} has magic "
            f"{magic} (want {DV_MAGIC}) — not a deletion-vector-v1 "
            f"blob")
    vec = blob[8:4 + ln]
    crc = struct.unpack_from(">I", blob, 4 + ln)[0]
    if zlib.crc32(blob[4:4 + ln]) & 0xFFFFFFFF != crc:
        raise ValueError(
            f"puffin DV checksum mismatch at {puffin_path!r}:{offset}")
    return bitmap_array_decode(vec)


def _ice_default_py(jv, ddl: str, name: str):
    """JSON single-value serialization (the spec's form for
    ``initial-default``) -> python literal for Spark's ``F.lit``.
    Unsupported default types gate loudly — a silently-NULLed default
    is exactly the wrong-data class v3 defaults exist to prevent."""
    import datetime as _dt
    import decimal as _decimal
    if ddl == "date":
        return _dt.date.fromisoformat(jv)
    if ddl.startswith("timestamp"):
        v = _dt.datetime.fromisoformat(jv)
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v
    if ddl.startswith("decimal"):
        return _decimal.Decimal(jv)
    if ddl in ("int", "bigint", "float", "double", "boolean",
               "string"):
        return jv
    raise NotImplementedError(
        f"iceberg v3 initial-default on column {name!r} of type "
        f"{ddl!r} is not implemented")


def _ice_type_ddl(t) -> str:
    """Iceberg schema-JSON type -> Spark DDL; struct/list/map recurse."""
    from .nested import ice_json_type_ddl
    return ice_json_type_ddl(t, _ice_leaf_ddl)


def _ice_phys_ddl(pt) -> str:
    """DDL of a PHYSICAL Iceberg type tree (struct fields carry the
    data file's own names from the footer match; fields marked absent
    — ``{"name": None}``, the file predates the nested column — are
    skipped so the scan schema matches the file)."""
    if isinstance(pt, str):
        return _ice_leaf_ddl(pt)
    k = pt.get("type")
    if k == "struct":
        present = [f for f in pt["fields"]
                   if f.get("name") is not None]
        if not present:
            raise NotImplementedError(
                "iceberg nested struct with no resolvable fields in "
                "a data file — cannot build a scan schema")
        return "struct<" + ", ".join(
            f"`{f['name']}`: {_ice_phys_ddl(f['type'])}"
            for f in present) + ">"
    if k == "list":
        return f"array<{_ice_phys_ddl(pt['element'])}>"
    if k == "map":
        return (f"map<{_ice_phys_ddl(pt['key'])}, "
                f"{_ice_phys_ddl(pt['value'])}>")
    raise NotImplementedError(f"unsupported iceberg type {pt!r}")


def _ice_value_renamer(pt, lt):
    """Python-VALUE converter renaming one file's physical inner
    names (``pt``, from :func:`.nested.match_tree_ice`) to the
    logical ones (``lt``) — the AVRO position-delete scan applies it
    per decoded row.  None when no rename/absence exists at
    any depth; an absent inner field surfaces as None."""
    if pt is None or isinstance(lt, str) or isinstance(pt, str):
        return None
    k = lt.get("type")
    if k == "struct":
        fs, needed = [], False
        for pf, lf in zip(pt["fields"], lt["fields"]):
            sub = _ice_value_renamer(pf.get("type"), lf["type"])
            pn = pf.get("name")
            if pn != lf["name"] or sub is not None or pn is None:
                needed = True
            fs.append((pn, lf["name"], sub))
        if not needed:
            return None

        def f(v):
            if v is None:
                return None
            return {ln: (None if pn is None else
                         (sub(v.get(pn)) if sub else v.get(pn)))
                    for pn, ln, sub in fs}
        return f
    if k == "list":
        sub = _ice_value_renamer(pt.get("element"), lt["element"])
        if sub is None:
            return None
        return lambda v: None if v is None else [sub(x) for x in v]
    if k == "map":
        sub = _ice_value_renamer(pt.get("value"), lt["value"])
        if sub is None:
            return None
        return (lambda v: None if v is None
                else {mk: sub(mv) for mk, mv in
                      (v.items() if isinstance(v, dict) else v)})
    return None


def _ice_to_spark_json(t):
    """Iceberg schema-JSON type -> Spark schema-JSON type (the shape
    :func:`.nested.remap_expr` walks); leaf types become DDL strings,
    absent-field markers pass through."""
    if isinstance(t, str):
        return _ice_leaf_ddl(t)
    k = t.get("type")
    if k == "struct":
        out = []
        for f in t["fields"]:
            if f.get("name") is None:
                out.append({"name": None})
            else:
                out.append({"name": f["name"],
                            "type": _ice_to_spark_json(f["type"])})
        return {"type": "struct", "fields": out}
    if k == "list":
        return {"type": "array",
                "elementType": _ice_to_spark_json(t["element"])}
    if k == "map":
        return {"type": "map",
                "keyType": _ice_to_spark_json(t["key"]),
                "valueType": _ice_to_spark_json(t["value"])}
    raise NotImplementedError(f"unsupported iceberg type {t!r}")


# ---------------------------------------------------------------------------
# partition transforms (public Iceberg spec, "Partition Transforms"):
# evaluated on the driver for manifest-level pruning and by the
# fixture writer when laying out files — never per data row
# ---------------------------------------------------------------------------


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant) — the hash the spec's ``bucket``
    transform mandates.  Returns the UNSIGNED 32-bit value."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) - len(data) % 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k, tail = 0, data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if tail:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    return h ^ (h >> 16)


def _epoch_days(v) -> int:
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        v = v.date()
    if isinstance(v, _dt.date):
        return v.toordinal() - _dt.date(1970, 1, 1).toordinal()
    return int(v)


def _epoch_micros(v) -> int:
    import datetime as _dt
    if isinstance(v, _dt.datetime):
        return ((v - _dt.datetime(1970, 1, 1))
                // _dt.timedelta(microseconds=1))
    return int(v)


def _transform_value(transform: str, param, v, spark_type: str):
    """Apply a partition transform to one source value (spec
    semantics: null maps to null for every transform)."""
    import datetime as _dt
    if v is None or transform == "void":
        return None
    if transform == "identity":
        return v
    if transform == "bucket":
        # single-value serialization: int/long as 8-byte LE (ints are
        # hashed as longs so bucket(int)==bucket(long), per spec),
        # string as UTF-8, date as days-from-epoch long, timestamp as
        # micros-from-epoch long
        if spark_type in ("tinyint", "smallint", "int", "bigint"):
            data = int(v).to_bytes(8, "little", signed=True)
        elif spark_type == "string":
            data = str(v).encode("utf-8")
        elif spark_type == "date":
            data = _epoch_days(v).to_bytes(8, "little", signed=True)
        elif spark_type.startswith("timestamp"):
            data = _epoch_micros(v).to_bytes(8, "little", signed=True)
        else:
            raise NotImplementedError(
                f"iceberg bucket over {spark_type!r}")
        return (_murmur3_32(data) & 0x7FFFFFFF) % int(param)
    if transform == "truncate":
        if spark_type == "string":
            return str(v)[:int(param)]
        w, x = int(param), int(v)
        return x - (((x % w) + w) % w)   # floor toward -inf, per spec
    if transform in ("year", "month"):
        d = v.date() if isinstance(v, _dt.datetime) else v
        if transform == "year":
            return d.year - 1970
        return (d.year - 1970) * 12 + (d.month - 1)
    if transform == "day":
        return _epoch_days(v)
    if transform == "hour":
        return _epoch_micros(v) // 3_600_000_000
    raise NotImplementedError(f"iceberg transform {transform!r}")


def _parse_spec_transform(tr: str):
    """``'bucket[8]'`` → ``('bucket', 8)``; plain names pass through."""
    m = re.match(r"^(bucket|truncate)\[(\d+)\]$", tr)
    if m:
        return m.group(1), int(m.group(2))
    if tr in ("identity", "year", "month", "day", "hour", "void"):
        return tr, None
    raise NotImplementedError(f"iceberg partition transform {tr!r}")


def prune_partition_files(files, part_specs, types, filters,
                          specs_by_id=None):
    """Manifest-level partition pruning: keep only the data files
    whose transformed partition value can match every equality
    ``filters`` entry (``{source_column: value}``).  Pure driver-side
    metadata work — no Spark job — so at 100 TB a point lookup on a
    bucketed key touches O(files-in-one-bucket), not O(table).

    Spec evolution: when ``specs_by_id`` is given, each file
    prunes under ITS OWN spec (file tuples carry a spec id); a file
    whose spec does not partition the filtered column is kept —
    pruning stays conservative, the residual row predicate is exact.
    File tuples may be 4-tuples (legacy) or 5-tuples with the
    trailing spec id."""
    if not filters:
        return files
    keep = []
    for f in files:
        p, pvals, seq, fmt = f[0], f[1], f[2], f[3]
        spec = part_specs
        if specs_by_id is not None and len(f) > 4:
            spec = specs_by_id.get(f[4], part_specs)
        ok = True
        for transform, param, src, fname in spec:
            if src in filters and transform != "void" \
                    and fname in pvals:
                exp = _transform_value(transform, param,
                                       filters[src], types[src])
                if pvals[fname] != exp:
                    ok = False
                    break
        if ok:
            keep.append(f)
    return keep


def _raw_specs(meta: dict) -> dict:
    """All partition specs of the table, by spec id (v1 inline form
    normalized to spec id 0)."""
    specs = {s.get("spec-id", 0): s for s in
             meta.get("partition-specs", [])}
    if not specs and "partition-spec" in meta:
        specs = {0: {"spec-id": 0, "fields": meta["partition-spec"]}}
    return specs


def _parse_part_spec(spec_json: dict, by_id: dict) -> list[tuple]:
    """One spec's fields -> ``[(transform, param, source_column,
    partition_field_name)]`` in spec order."""
    out: list[tuple] = []
    for pf in spec_json.get("fields", []):
        transform, param = _parse_spec_transform(
            pf.get("transform", "identity"))
        src = by_id.get(pf.get("source-id"), pf.get("name"))
        out.append((transform, param, src, pf.get("name", src)))
    return out


def _resolve_snapshot(path: str, snapshot_id: int | None = None,
                      as_of_ms: int | None = None,
                      ref: str | None = None):
    """Load the latest table metadata and resolve one snapshot —
    by id, by ``ref`` (a named BRANCH or TAG from the metadata's
    ``refs`` map — the spec's ``VERSION AS OF 'name'`` surface),
    by ``as_of_ms`` timestamp time travel (latest snapshot committed
    at or before the instant, per the spec's timestamp-ms), or the
    current one.  Returns ``(meta, snap)``."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    _check_format_version(meta, path)
    snaps = meta.get("snapshots", [])
    if ref is not None:
        if snapshot_id is not None or as_of_ms is not None:
            raise ValueError(
                "iceberg ref is exclusive with snapshot_id/as_of_ms")
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise ValueError(
                f"no ref {ref!r} at {path}; have {sorted(refs)}")
        snapshot_id = refs[ref]["snapshot-id"]
    if snapshot_id is None and as_of_ms is not None:
        past = [s for s in snaps
                if s.get("timestamp-ms", 0) <= as_of_ms]
        if not past:
            raise ValueError(
                f"no snapshot at or before {as_of_ms} at {path}")
        snapshot_id = max(
            past, key=lambda s: (s.get("timestamp-ms", 0),
                                 s["snapshot-id"]))["snapshot-id"]
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snap = next((s for s in snaps
                 if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise ValueError(
            f"no snapshot {snapshot_id} at {path}; have "
            f"{[s['snapshot-id'] for s in snaps]}")
    return meta, snap


def live_data_files(path: str, snapshot_id: int | None = None,
                    as_of_ms: int | None = None,
                    use_current_schema: bool = False,
                    row_lineage: bool = False):
    """Resolve the live data files of a snapshot.  Returns
    ``(schema_fields, part_specs, files, delete_files)`` with
    ``files`` as ``[(abs_path, partition_dict, sequence_number,
    file_format)]``,
    ``part_specs`` as ``[(transform, param, source_column,
    partition_field_name)]`` in spec order, and ``delete_files`` as
    ``[(abs_path, content, sequence_number,
    equality_col_names_or_None)]`` for the snapshot's POSITION
    (content=1) and EQUALITY (content=2) delete parquet files.
    ``row_lineage=True`` (v3) appends each file's FIRST ROW ID
    as a sixth tuple element — explicit from the entry when stamped,
    else inherited per the spec: the manifest-list row's
    ``first_row_id`` plus the record counts of preceding null-id
    entries in that manifest; ``None`` when unresolvable (pre-lineage
    manifests)."""
    from .avro import decode_avro_datums
    meta, snap = _resolve_snapshot(path, snapshot_id, as_of_ms)
    # schema: v2 keeps a list + current-schema-id; v1 a single
    # schema.  Time travel resolves the SNAPSHOT's schema-id when
    # the snapshot records one (a pre-evolution snapshot
    # reads back with its own column names, not the renamed ones),
    # falling back to the current schema for snapshots that predate
    # the field.
    if "schemas" in meta:
        # current reads use the TABLE's current schema — a
        # metadata-only rename surfaces immediately, as in real
        # engines; explicit time travel keeps the snapshot's own
        # schema-id (a deliberate choice: a pre-evolution
        # snapshot reads back with its own column names)
        sid = (meta.get("current-schema-id", 0) if use_current_schema
               else snap.get("schema-id",
                             meta.get("current-schema-id", 0)))
        schema = next(s for s in meta["schemas"]
                      if s.get("schema-id", 0) == sid)
    else:
        schema = meta["schema"]
    fields = [(f["name"], _ice_type_ddl(f["type"]))
              for f in schema["fields"]]
    by_id = {f["id"]: f["name"] for f in schema["fields"]}
    specs = _raw_specs(meta)
    part_specs = _parse_part_spec(
        specs.get(meta.get("default-spec-id", 0), {"fields": []}),
        by_id)
    mlist_path = _resolve(snap["manifest-list"], path)
    with open(mlist_path, "rb") as fh:
        _s, manifests = decode_avro_datums(fh.read())
    files, delete_files = [], []
    default_spec_id = meta.get("default-spec-id", 0)
    for m in manifests:
        content = m.get("content", 0) or 0
        if content not in (0, 1):
            raise NotImplementedError(
                f"iceberg manifest content {content} unsupported")
        # partition-spec evolution: each manifest carries the
        # spec id its entries were written under; the id rides every
        # file tuple so pruning and identity re-attach resolve
        # against the FILE's spec, not the table default
        mspec = m.get("partition_spec_id")
        if mspec is None:
            mspec = default_spec_id
        if mspec not in specs:
            raise NotImplementedError(
                f"iceberg manifest {m['manifest_path']!r} references "
                f"unknown partition spec {mspec}")
        mpath = _resolve(m["manifest_path"], path)
        with open(mpath, "rb") as fh:
            _s2, entries = decode_avro_datums(fh.read())
        m_frid = m.get("first_row_id")
        frid_run = 0                 # record_count of prior null-id entries
        for e in entries:
            if e.get("status") == 2:                 # DELETED
                continue
            df_ = e["data_file"]
            fmt = (df_.get("file_format") or "PARQUET").upper()
            # v2 sequence-number inheritance: a null entry seq means
            # "the sequence number of the commit that added this
            # manifest" — taken from the manifest-list row
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number") or 0
            fcontent = df_.get("content", 0) or 0
            if content == 1 or fcontent:
                if fcontent == 2:
                    eq_ids = df_.get("equality_ids") or []
                    eq_names = [by_id[i] for i in eq_ids]
                    if not eq_names:
                        raise NotImplementedError(
                            "iceberg equality delete without "
                            "equality_ids")
                    delete_files.append(
                        (_resolve(df_["file_path"], path), 2,
                         int(seq), tuple(eq_names)))
                    continue
                if fcontent != 1:
                    raise NotImplementedError(
                        f"iceberg delete-file content {fcontent}")
                ref = df_.get("referenced_data_file")
                if ref is not None or fmt == "PUFFIN":
                    # v3 DELETION VECTOR: the entry addresses
                    # one blob inside a puffin file and names the
                    # single data file it applies to — internal
                    # content code 3 distinguishes it from parquet
                    # position-delete files downstream
                    off = df_.get("content_offset")
                    sz = df_.get("content_size_in_bytes")
                    if ref is None or off is None or sz is None:
                        raise NotImplementedError(
                            "iceberg v3 deletion-vector entry "
                            "missing referenced_data_file / "
                            "content_offset / content_size_in_bytes")
                    delete_files.append(
                        (_resolve(df_["file_path"], path), 3,
                         int(seq),
                         (_resolve(ref, path), int(off), int(sz))))
                    continue
                delete_files.append(
                    (_resolve(df_["file_path"], path), 1,
                     int(seq), None))
                continue
            if fmt not in ("PARQUET", "AVRO", "ORC"):
                raise NotImplementedError(
                    f"iceberg data file format {fmt!r}")
            part = df_.get("partition") or {}
            tup = (_resolve(df_["file_path"], path),
                   dict(part), int(seq), fmt, mspec)
            if row_lineage:
                frid = df_.get("first_row_id")
                if frid is None and m_frid is not None:
                    frid = m_frid + frid_run
                    frid_run += int(df_.get("record_count") or 0)
                tup = tup + (frid,)
            files.append(tup)
    return (fields, part_specs,
            sorted(files, key=lambda f: (f[0], f[2])),
            sorted(delete_files))


def _schema_inventory(path: str, schema_id: int | None = None):
    """Schema fields WITH ids (``schema_id`` — a time-traveled
    snapshot's own schema — or current), and how many schemas the
    table has carried (``> 1`` means evolution happened and column
    resolution must go through parquet field ids, per the spec's
    "columns are matched by field id" rule)."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    if "schemas" in meta:
        sid = (schema_id if schema_id is not None
               else meta.get("current-schema-id", 0))
        schema = next(s for s in meta["schemas"]
                      if s.get("schema-id", 0) == sid)
        n = len(meta["schemas"])
    else:
        schema, n = meta["schema"], 1
    return {f["name"]: f["id"] for f in schema["fields"]}, n


def _schema_fields_json(path: str, schema_id: int | None = None):
    """Raw schema-JSON fields (``{name: field}`` with ids at every
    nesting level) — what the nested footer-tree match needs."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    if "schemas" in meta:
        sid = (schema_id if schema_id is not None
               else meta.get("current-schema-id", 0))
        schema = next(s for s in meta["schemas"]
                      if s.get("schema-id", 0) == sid)
    else:
        schema = meta["schema"]
    return {f["name"]: f for f in schema["fields"]}


def added_data_files(path: str, snapshot_id: int):
    """Data files ADDED by exactly ``snapshot_id`` — the unit of the
    incremental append scan: decode ONLY the
    manifests the snapshot itself added (manifest-list rows whose
    ``added_snapshot_id`` matches; rows carried forward from earlier
    snapshots are skipped without opening them), then keep entries
    with status=1 ADDED stamped with the snapshot's own id.  Planning
    cost is O(manifests added by the snapshot), NOT O(live set) — so
    a stream draining a long backlog plans in O(added files) total
    instead of O(backlog_snapshots x manifests).

    Returns ``(files, removed)`` with ``files`` as ``[(abs_path,
    partition_dict, fmt, spec_id)]`` and ``removed`` True when the
    snapshot's own manifests also DELETED files (an "append" snapshot
    doing that is malformed — callers gate loudly)."""
    from .avro import decode_avro_datums
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    _check_format_version(meta, path)
    snap = next((s for s in meta.get("snapshots", [])
                 if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise ValueError(
            f"no snapshot {snapshot_id} at {path}")
    with open(_resolve(snap["manifest-list"], path), "rb") as fh:
        _s, manifests = decode_avro_datums(fh.read())
    default_spec_id = meta.get("default-spec-id", 0)
    files, removed = [], False
    for m in manifests:
        asid = m.get("added_snapshot_id")
        if asid is not None and asid != snapshot_id:
            continue                    # carried forward: never opened
        if (m.get("content", 0) or 0) != 0:
            continue                    # delete manifest: no data adds
        mspec = m.get("partition_spec_id")
        if mspec is None:
            mspec = default_spec_id
        with open(_resolve(m["manifest_path"], path), "rb") as fh:
            _s2, entries = decode_avro_datums(fh.read())
        for e in entries:
            # spec: an entry's snapshot_id is INHERITED from the
            # manifest-list row's added_snapshot_id when null — real
            # writers emit null (the manifest is written before the
            # commit id is final), so skipping null entries would
            # silently plan ZERO files for real tables
            eid = e.get("snapshot_id")
            if eid is None:
                eid = asid if asid is not None else snapshot_id
            if eid != snapshot_id:
                continue                # EXISTING rows folded forward
            if e.get("status") == 2:
                removed = True
                continue
            if e.get("status") != 1:
                continue
            df_ = e["data_file"]
            files.append((_resolve(df_["file_path"], path),
                          dict(df_.get("partition") or {}),
                          (df_.get("file_format") or "PARQUET")
                          .upper(), mspec))
    return sorted(files), removed


def _eq_delete_union(spark, pfs, eq_names, eq_layouts, fld_ids,
                     types, evolved):
    """Union the EQUALITY-delete parquet files ``pfs`` (``[(abs_path,
    seq)]``, all sharing the column set ``eq_names``) into one frame
    of the equality columns plus ``__dseq``.  On an evolved table
    each file's columns resolve by parquet FIELD ID from
    ``eq_layouts`` (a delete file written before a rename carries the
    OLD physical name; reading by the current name would null-fill
    and silently SKIP the delete); the by-name fallback for
    id-less legacy files verifies the name exists in the file or
    gates loudly."""
    from pyspark.sql import functions as F
    dels = None
    for p, s in pfs:
        lay_pairs = eq_layouts.get(p, ())
        lay = {fid: nm for fid, nm in lay_pairs
               if fid is not None}
        file_names = {nm for _fid, nm in lay_pairs}
        pn_of = {}
        for n in eq_names:
            pn = lay.get(fld_ids.get(n))
            if pn is None:
                if evolved and lay_pairs and n not in file_names:
                    raise NotImplementedError(
                        f"iceberg equality-delete file {p!r} "
                        f"carries no footer field ids and no "
                        f"column named {n!r} — cannot resolve "
                        f"the delete column on an evolved table "
                        f"(have {sorted(file_names)})")
                pn = n
            pn_of[n] = pn
        eq_ddl = ", ".join(f"`{pn_of[n]}` {types[n]}"
                           for n in eq_names)
        one = spark.read.schema(eq_ddl).parquet(p)
        for n in eq_names:
            if pn_of[n] != n:
                one = one.withColumnRenamed(pn_of[n], n)
        one = one.withColumn("__dseq", F.lit(s).cast("bigint"))
        dels = one if dels is None else dels.unionByName(one)
    return dels


def read_iceberg(spark, path: str, snapshot_id: int | None = None,
                 filters: dict | None = None,
                 as_of_ms: int | None = None,
                 ref: str | None = None,
                 row_lineage: bool = False):
    """Scan an Iceberg table at a snapshot (default: current).
    Identity partition values are re-attached per data file, grouped
    so each distinct (partition tuple, sequence number) is one parquet
    scan; non-identity transform sources are read from the data files
    themselves.  ``filters`` (``{source_column: value}`` equality
    predicates) prune data files THROUGH the partition transforms on
    the driver (bucket/truncate/date buckets) before any job runs,
    then re-apply as row predicates for exactness — at 100 TB a
    point lookup on a bucketed key scans one bucket, not the table.
    Position deletes (v2) read as their own distributed parquet
    scan and anti-join the data rows on ``(file path, row position)``;
    equality deletes (v2) anti-join null-safely on their equality
    columns, scoped to data rows whose file sequence number is
    STRICTLY below the delete file's.  Both delete sets stay
    distributed (never collected), AQE picks broadcast when they are
    small, and tables without delete files skip the joins entirely.
    Schema evolution: when the table carries more than one
    schema, columns resolve per the spec — by PARQUET FOOTER FIELD
    ID, not by name — so renamed columns read their old files
    correctly and columns added later come back null from pre-add
    files; files are grouped by physical layout and each group scans
    with its own DDL.  Unevolved tables skip the footer taps
    entirely.  ``ref`` time-travels to a named branch/tag from the
    metadata's ``refs`` map.  ``row_lineage=True`` (v3)
    appends the spec's ``_row_id`` and
    ``_last_updated_sequence_number`` metadata columns — each file's
    inherited FIRST ROW ID plus the row's physical position, and the
    file's data sequence number.  Parquet positions ride
    ``_metadata.row_index``; ORC and AVRO files
    route through the same position-deriving scans the
    position-delete paths use (Arrow stripe offsets / the python
    block decoder's file order).  Files without assigned ids
    (pre-upgrade manifests) gate loudly."""
    from pyspark.sql import functions as F
    _meta, snap = _resolve_snapshot(path, snapshot_id, as_of_ms,
                                    ref=ref)
    current = (snapshot_id is None and as_of_ms is None
               and ref is None)
    fields, part_specs, files, delete_files = live_data_files(
        path, snap["snapshot-id"], use_current_schema=current,
        row_lineage=row_lineage)
    frid_of: dict[str, int] = {}
    if row_lineage:
        no_id = [f[0] for f in files if f[5] is None]
        if no_id:
            raise NotImplementedError(
                "iceberg row lineage: no first_row_id assigned for "
                f"{len(no_id)} data file(s) (e.g. {no_id[0]!r}) — "
                "pre-upgrade manifests carry no row-id assignment")
        frid_of = {f[0]: int(f[5]) for f in files}
        files = [f[:5] for f in files]
    types = dict(fields)
    # field ids resolve against the CURRENT schema for current reads
    # (a metadata-only rename surfaces immediately) and the
    # SNAPSHOT's schema under explicit time travel (a deliberate choice:
    # a pre-evolution snapshot reads back with its own column
    # names); values match by field id either way
    fld_ids, n_schemas = _schema_inventory(
        path, None if current else snap.get("schema-id"))
    evolved = n_schemas > 1
    # spec evolution: every spec the table ever carried, parsed
    # — each file prunes and re-attaches under ITS OWN spec
    name_of_fid = {v: k for k, v in fld_ids.items()}
    specs_by_id = {s: _parse_part_spec(sp, name_of_fid)
                   for s, sp in _raw_specs(_meta).items()}
    ident_of = {s: {src: fname for t, _p, src, fname in sp
                    if t == "identity"}
                for s, sp in specs_by_id.items()}
    files = prune_partition_files(files, part_specs, types, filters,
                                  specs_by_id=specs_by_id)
    ddl_all = ", ".join(f"{n} {t}" for n, t in fields)
    if row_lineage:
        ddl_all += (", _row_id bigint, "
                    "_last_updated_sequence_number bigint")
    if not files:
        return spark.createDataFrame([], ddl_all)
    field_names = [n for n, _t in fields]
    present_sids = {f[4] for f in files}
    # columns whose values come from partition METADATA for at least
    # one present spec (restricted to current table columns)
    attach_cols = sorted(
        {src for s in present_sids
         for src in ident_of.get(s, {})} & set(field_names))

    def _dn(sid):
        # data columns READ FROM the files of spec `sid` — everything
        # except that spec's identity sources
        return [n for n in field_names
                if n not in ident_of.get(sid, {})]

    pos_files = [p for p, c, _s, _e in delete_files if c == 1]
    eq_files = [(p, s, e) for p, c, s, e in delete_files if c == 2]
    # v3 deletion vectors: (puffin_path, seq, (referenced data
    # file, blob offset, blob size)).  The spec allows at most ONE
    # live DV per data file — two entries referencing the same file
    # would double-apply an unknown union, so gate loudly.
    dv_files = [(p, s, e) for p, c, s, e in delete_files if c == 3]
    if dv_files:
        refs_seen: set = set()
        for _p, _s, (ref, _o, _z) in dv_files:
            if ref in refs_seen:
                raise NotImplementedError(
                    f"iceberg v3 table carries more than one live "
                    f"deletion vector for data file {ref!r}")
            refs_seen.add(ref)
    pq_paths = [p for p, _pv, _s, fmt, _sp in files
                if fmt == "PARQUET"]
    orc_paths = [p for p, _pv, _s, fmt, _sp in files if fmt == "ORC"]
    avro_paths = [p for p, _pv, _s, fmt, _sp in files
                  if fmt == "AVRO"]
    raw_fields = _schema_fields_json(
        path, None if current else snap.get("schema-id"))
    # v3 initial-defaults: a column added with a default reads
    # the DEFAULT (not null) from every file that predates it; the
    # default value rides the schema field's JSON.  Built eagerly so
    # an unsupported default type gates loudly up front.
    defaults = {n: F.lit(_ice_default_py(f["initial-default"],
                                         types[n], n)).cast(types[n])
                for n, f in raw_fields.items()
                if f.get("initial-default") is not None
                and n in types}

    def _absent_lit(n):
        # the column value for a data file written BEFORE the column
        # existed: its initial-default when declared, else null
        return defaults.get(n, F.lit(None).cast(types[n]))

    nested_cols = {n for n, f in raw_fields.items()
                   if not isinstance(f["type"], str)}
    nested_mode = evolved and bool(nested_cols & set(field_names))
    layouts: dict[str, tuple] = {}
    if nested_mode and (pq_paths or orc_paths or avro_paths):
        # evolved table WITH nested columns: the footer TREES
        # carry nested field ids (parquet PARQUET:field_id / ORC
        # iceberg.id; Avro data files too, via the writer
        # schema's field-id/element-id/key-id/value-id attributes),
        # so renamed struct fields inside a column resolve per file
        # — still ONE distributed footer/header job per format,
        # never a driver-side open per data file
        from .nested import (avro_field_trees, match_tree_ice,
                             orc_field_trees, parquet_field_trees)
        traw = {}
        if pq_paths:
            traw.update(parquet_field_trees(spark, pq_paths))
        if orc_paths:
            traw.update(orc_field_trees(spark, orc_paths))
        if avro_paths:
            traw.update(avro_field_trees(spark, avro_paths))
        for p, trees in traw.items():
            byfid = {t0[0]: t0 for t0 in trees if t0[0] is not None}
            byname = {t0[1]: t0 for t0 in trees}
            m = {}
            for n2 in field_names:
                fid = fld_ids.get(n2)
                node = byfid.get(fid) if fid is not None else None
                if node is None:
                    node = byname.get(n2)
                if node is None:
                    continue          # column postdates this file
                if n2 in nested_cols:
                    pt = match_tree_ice(raw_fields[n2]["type"], node)
                    m[n2] = (node[1], json.dumps(pt))
                else:
                    m[n2] = (node[1], "")
            layouts[p] = tuple(sorted(m.items()))
    elif evolved and (pq_paths or orc_paths or avro_paths):
        # evolved table: logical name -> each file's physical column,
        # matched by footer field id (name fallback for id-less
        # legacy files); absent = column added after this file.  ONE
        # distributed footer job PER FORMAT resolves every file (ORC
        # via the `iceberg.id` type attributes; AVRO via
        # the embedded writer schema's `field-id` attributes) — never
        # a driver-side open per data file.
        from .layouts import (avro_field_layouts, orc_field_layouts,
                              parquet_field_layouts)
        raw = {}
        if pq_paths:
            raw.update(parquet_field_layouts(spark, pq_paths))
        if orc_paths:
            raw.update(orc_field_layouts(spark, orc_paths))
        if avro_paths:
            raw.update(avro_field_layouts(spark, avro_paths))
        for p, flds in raw.items():
            byfid = {fid: nm for fid, nm in flds if fid is not None}
            names = {nm for _fid, nm in flds}
            m = {}
            for n2 in field_names:
                fid = fld_ids.get(n2)
                if fid is not None and fid in byfid:
                    m[n2] = byfid[fid]
                elif n2 in names:
                    m[n2] = n2
            layouts[p] = tuple(sorted(m.items()))
    # ONE parquet scan per distinct (PHYSICAL LAYOUT, partition spec)
    # — a handful at most, one per schema/spec epoch; NEVER per
    # partition tuple or sequence number: at 10k+ partitions a
    # per-tuple union is a 10k-arm plan.  Identity
    # partition values and the file's sequence number re-attach via a
    # small broadcast file→values table joined on
    # _metadata.file_path.  AVRO data files (no _metadata support in
    # the python source) keep the literal-attach path, grouped per
    # (partition tuple, sequence).
    # file_path values inside position-delete files are URIs/relative
    # paths as the writer recorded them — normalize both sides to a
    # plain absolute path with Spark expressions (stays distributed)
    def _norm(col):
        c = F.regexp_replace(col, "^file:/+", "/")
        return F.when(c.startswith("/"), c).otherwise(
            F.concat(F.lit(os.path.abspath(path) + "/"), c))

    # ORC/AVRO files TARGETED by a position delete read through a
    # position-deriving task scan (Arrow stripes for ORC, the python
    # block decoder for AVRO — neither source exposes
    # _metadata.row_index); untargeted files keep their normal scan
    # (a null __pos can never match a delete).  The targeted set
    # comes from ONE small job over the delete files — O(distinct
    # deleted files) driver rows, the same class as the manifest
    # planning collects.
    targeted_orc: set = set()
    targeted_avro: set = set()
    if pos_files and (orc_paths or avro_paths):
        targeted = {
            r["__fp"] for r in
            spark.read.schema("file_path string, pos bigint")
            .parquet(*pos_files)
            .select(_norm(F.col("file_path")).alias("__fp"))
            .distinct().collect()}
        targeted_orc = {p for p in orc_paths if p in targeted}
        targeted_avro = {p for p in avro_paths if p in targeted}
    if dv_files and (orc_paths or avro_paths):
        # DV-targeted files are known from the MANIFEST (no job)
        dv_refs = {ref for _p, _s, (ref, _o, _z) in dv_files}
        targeted_orc |= {p for p in orc_paths if p in dv_refs}
        targeted_avro |= {p for p in avro_paths if p in dv_refs}
    if row_lineage:
        # v3 row lineage over ORC/AVRO:
        # _row_id needs each row's exact physical position, which
        # only the position-deriving scans produce for these formats
        # (Arrow stripe offsets for ORC, the python block decoder's
        # file order for AVRO) — route EVERY ORC/AVRO file through
        # them; parquet rides _metadata.row_index as before
        targeted_orc = set(orc_paths)
        targeted_avro = set(avro_paths)
    # any position-addressed delete (v2 parquet files or v3 DVs)
    # requires the (__fp, __pos) tagging on every scanned row; row
    # lineage needs the position too (_row_id = first_row_id + pos)
    pos_del = bool(pos_files) or bool(dv_files) or row_lineage

    groups: dict[tuple, list[str]] = {}
    for p, pvals, seq, fmt, sid in files:
        if fmt == "AVRO":
            key = ("AVRO@pos" if p in targeted_avro else "AVRO", sid,
                   (tuple(pvals.get(f2)
                          for f2 in ident_of.get(sid, {}).values()),
                    layouts.get(p, ())),
                   seq)
        else:
            key = ("ORC@pos" if p in targeted_orc else fmt, sid,
                   layouts.get(p, ()) if fmt in ("PARQUET", "ORC")
                   else (),
                   None)
        groups.setdefault(key, []).append(p)

    need_fp = pos_del or bool(eq_files) or bool(attach_cols)
    parts = []
    for (fmt, sid, pkey, seq), paths in sorted(
            groups.items(), key=lambda kv: str(kv[0])):
        dn = _dn(sid)
        ident_fnames = list(ident_of.get(sid, {}).items())
        if fmt in ("AVRO", "AVRO@pos"):
            ident_vals, lay = pkey
            lmap = dict(lay)

            def _phys_of(n):
                # evolved: the layout map resolves by field-id (name
                # fallback); a miss means the column postdates the
                # file.  Unevolved: names match directly.
                return lmap.get(n, None if evolved else n)

            if fmt == "AVRO@pos":
                # position-deleted AVRO files: the python block
                # decoder enumerates rows in file order — exact
                # positions by construction; one task per file
                out_ddl = (", ".join(f"`{n}` {types[n]}" for n in dn)
                           + ", __fp string, __pos bigint")
                if nested_mode:
                    # evolved NESTED avro under position deletes:
                    # per-file inner renames apply as a
                    # python value walk, bounded by the TARGETED
                    # files' rows (position deletes keep that set
                    # small by design)
                    pmapping = {}
                    for n in dn:
                        ent = lmap.get(n)
                        if ent is None:
                            pmapping[n] = None
                        else:
                            pn, ptj = ent
                            rn = (_ice_value_renamer(
                                json.loads(ptj),
                                raw_fields[n]["type"])
                                if ptj else None)
                            pmapping[n] = (pn, rn)
                else:
                    pmapping = {n: ((_phys_of(n), None)
                                    if _phys_of(n) is not None
                                    else None) for n in dn}

                def _avro_pos_scan(batches, _pm=pmapping,
                                   _dn=tuple(dn)):
                    import pandas as pd

                    from .avro import decode_avro_py
                    for pdf in batches:
                        for p2 in pdf["path"]:
                            with open(p2, "rb") as fh:
                                flds2, rows2 = decode_avro_py(
                                    fh.read())
                            idx = {n3: i for i, (n3, _t, _nl)
                                   in enumerate(flds2)}
                            data = {}
                            for n2 in _dn:
                                ent = _pm.get(n2)
                                i = (idx.get(ent[0])
                                     if ent is not None else None)
                                if i is None:
                                    data[n2] = [None] * len(rows2)
                                elif ent[1] is None:
                                    data[n2] = [r[i] for r in rows2]
                                else:
                                    rn = ent[1]
                                    data[n2] = [rn(r[i])
                                                for r in rows2]
                            outp = pd.DataFrame(data)
                            outp["__fp"] = p2
                            outp["__pos"] = range(len(rows2))
                            yield outp

                n_scan = min(
                    len(paths),
                    max(32, spark.sparkContext.defaultParallelism))
                df = (spark.createDataFrame(
                    [(p2,) for p2 in paths], "path string")
                    .repartition(n_scan, "path")
                    .mapInPandas(_avro_pos_scan, out_ddl))
                for n in dn:
                    # v3 initial-defaults: the whole group shares one
                    # layout, so an absent column is absent for every
                    # row the scan emitted
                    if pmapping.get(n) is None and n in defaults:
                        df = df.withColumn(n, _absent_lit(n))
            else:
                # dependency-free Avro source: schema from each
                # file's embedded writer schema, block-split read
                # tasks; physical columns resolve per file's layout
                # and cast/alias to the table's declared columns
                from ..sources import register_python_sources
                register_python_sources(spark)
                nl = None
                if nested_mode:
                    # evolved NESTED avro: the layout entries
                    # are (physical name, physical type tree json) —
                    # renamed inner fields rebuild logically via the
                    # same JVM remap the parquet/ORC paths use
                    from .nested import remap_expr, remap_needed
                    nl = {n: (pn, json.loads(ptj) if ptj else None)
                          for n, (pn, ptj) in lmap.items()}
                df = None
                for p in paths:
                    src = (spark.read.format("padawan_avro")
                           .option("path", p).load())
                    cols = []
                    for n in dn:
                        if nl is not None:
                            ent = nl.get(n)
                            if ent is None or ent[0] not in \
                                    src.columns:
                                cols.append(_absent_lit(n).alias(n))
                                continue
                            pn, pt = ent
                            col = F.col(f"`{pn}`")
                            if pt is not None:
                                src_j = _ice_to_spark_json(pt)
                                dst_j = _ice_to_spark_json(
                                    raw_fields[n]["type"])
                                if remap_needed(src_j, dst_j):
                                    col = remap_expr(col, src_j,
                                                     dst_j)
                            cols.append(col.cast(types[n]).alias(n))
                            continue
                        pn = _phys_of(n)
                        cols.append(
                            (F.col(pn).cast(types[n])
                             if pn is not None
                             and pn in src.columns else
                             _absent_lit(n)).alias(n))
                    one = src.select(*cols)
                    df = one if df is None else df.unionByName(one)
                if need_fp:
                    # no _metadata on the python Avro source: null
                    # key, never matches the attach map, lit values
                    # survive the coalesce
                    df = df.withColumn("__fp",
                                       F.lit(None).cast("string"))
                if pos_del:
                    # untargeted by any position delete: a null __pos
                    # can never match the anti-join
                    df = df.withColumn("__pos",
                                       F.lit(None).cast("bigint"))
            if eq_files:
                df = df.withColumn("__seq",
                                   F.lit(seq).cast("bigint"))
            for (c, _f2), v in zip(ident_fnames, ident_vals):
                df = df.withColumn(c, (F.lit(None) if v is None
                                       else F.lit(v)).cast(types[c]))
            for c in attach_cols:
                if c not in df.columns:
                    df = df.withColumn(c,
                                       F.lit(None).cast(types[c]))
            parts.append(df)
            continue
        if nested_mode:
            lmap = {n: (pn, json.loads(ptj) if ptj else None)
                    for n, (pn, ptj) in dict(pkey).items()}
            ddl_g = ", ".join(
                f"`{lmap[n][0]}` "
                + (_ice_phys_ddl(lmap[n][1]) if lmap[n][1]
                   else types[n])
                for n in dn if n in lmap)
        elif evolved:
            lmap = dict(pkey)
            ddl_g = ", ".join(f"`{lmap[n]}` {types[n]}"
                              for n in dn if n in lmap)
        else:
            lmap = None
            ddl_g = ", ".join(f"{n} {types[n]}" for n in dn)
        if fmt == "ORC@pos":
            # position-deleted ORC files: Arrow stripe scan,
            # one task per file, positions derived by a running
            # stripe offset — memory bounds at one stripe per batch,
            # physical columns resolved by field id via the same
            # layout map, logical names emitted directly
            renamers: dict = {}
            if nested_mode:
                # evolved NESTED table: layout entries are
                # (physical name, physical type tree) — inner
                # renames apply as a value walk in the stripe scan
                pmapping = {}
                for n in dn:
                    ent = lmap.get(n)
                    if ent is None:
                        pmapping[n] = None
                        continue
                    pn, pt = ent
                    pmapping[n] = pn
                    if pt is not None:
                        rn = _ice_value_renamer(
                            pt, raw_fields[n]["type"])
                        if rn is not None:
                            renamers[n] = rn
            else:
                pmapping = {n: (lmap.get(n) if evolved else n)
                            for n in dn}
            out_ddl = (", ".join(f"`{n}` {types[n]}" for n in dn)
                       + ", __fp string, __pos bigint")

            def _orc_pos_scan(batches, _pm=pmapping, _dn=tuple(dn),
                              _rn=renamers):
                for pdf in batches:
                    for p2 in pdf["path"]:
                        yield from orc_stripe_position_frames(
                            p2, _pm, _dn, renamers=_rn)

            n_scan = min(len(paths),
                         max(32,
                             spark.sparkContext.defaultParallelism))
            df = (spark.createDataFrame([(p2,) for p2 in paths],
                                        "path string")
                  .repartition(n_scan, "path")
                  .mapInPandas(_orc_pos_scan, out_ddl))
            for n in dn:
                # v3 initial-defaults: one layout per group — an
                # absent column is absent for the whole scan
                if pmapping.get(n) is None and n in defaults:
                    df = df.withColumn(n, _absent_lit(n))
            if eq_files:
                df = df.withColumn("__seq",
                                   F.lit(None).cast("bigint"))
            for c in field_names:
                if c not in dn:
                    df = df.withColumn(c, F.lit(None).cast(types[c]))
            parts.append(df)
            continue
        # ORC rides Spark's native ORC source (same vectorized scan,
        # same _metadata.file_path for the attach map); schema
        # evolution resolves by `iceberg.id` footer attributes
        df = (spark.read.schema(ddl_g).orc(list(paths))
              if fmt == "ORC"
              else spark.read.schema(ddl_g).parquet(*paths))
        if nested_mode:
            from .nested import remap_expr, remap_needed
            for n in dn:
                if n not in lmap:        # column postdates this file
                    df = df.withColumn(n, _absent_lit(n))
                    continue
                pn, pt = lmap[n]
                if pn != n:
                    df = df.withColumnRenamed(pn, n)
                if pt is not None:
                    src = _ice_to_spark_json(pt)
                    dst = _ice_to_spark_json(raw_fields[n]["type"])
                    if remap_needed(src, dst):
                        df = df.withColumn(
                            n, remap_expr(F.col(f"`{n}`"), src, dst))
        elif evolved:
            for n in dn:
                if n in lmap and lmap[n] != n:
                    df = df.withColumnRenamed(lmap[n], n)
                elif n not in lmap:      # column postdates this file
                    df = df.withColumn(n, _absent_lit(n))
        if need_fp:
            df = df.withColumn("__fp",
                               _norm(F.col("_metadata.file_path")))
        if pos_del:
            # ORC here means UNTARGETED by any position delete (the
            # targeted files took the ORC@pos branch): a null __pos
            # can never match the anti-join, so the rows all survive
            df = df.withColumn(
                "__pos", F.lit(None).cast("bigint") if fmt == "ORC"
                else F.col("_metadata.row_index"))
        if eq_files:
            df = df.withColumn("__seq", F.lit(None).cast("bigint"))
        # this spec's identity sources carry no data in its files —
        # NULL placeholders, filled from the attach map
        for c in field_names:
            if c not in dn:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=False)
    # every row source with a NON-NULL __fp must appear in the attach
    # map or the fail-closed miss check would fire: parquet/ORC scans
    # plus position-targeted AVRO files (whose task emits __fp for
    # the delete anti-join; their identity values are lit-attached,
    # so the coalesce never reads the map for them)
    mappable = [(p, pvals, seq, sid)
                for p, pvals, seq, fmt, sid in files
                if fmt in ("PARQUET", "ORC") or p in targeted_avro]
    if (attach_cols or eq_files or row_lineage) and mappable:
        # the broadcast attach table: one row per parquet/ORC file,
        # identity values resolved under EACH FILE's own spec (plus
        # the file's first_row_id under v3 row lineage)
        pmap_rows = [
            (p, int(seq), frid_of.get(p),
             *[pvals.get(ident_of.get(sid, {}).get(c))
               if c in ident_of.get(sid, {}) else None
               for c in attach_cols])
            for p, pvals, seq, sid in mappable]
        pmap_ddl = ("__fp string, __mseq bigint, __frid bigint, "
                    + ", ".join(f"`{c}__m` string"
                                for c in attach_cols)).rstrip(", ")
        pmap = F.broadcast(spark.createDataFrame(
            [tuple(str(v) if i >= 3 and v is not None else v
                   for i, v in enumerate(r)) for r in pmap_rows],
            pmap_ddl))
        out = out.join(pmap, on="__fp", how="left")
        # the path-keyed attach join must fail CLOSED — a
        # normalization miss would otherwise silently null partition
        # values AND stop eq-delete sequence scoping.  Every pmap row
        # carries a non-null __mseq, and every parquet/ORC row a
        # non-null __fp (AVRO rows ride lit-attached values and null
        # __fp by design), so (__fp non-null, __mseq null) = a missed
        # join, never a real value.
        miss = F.col("__fp").isNotNull() & F.col("__mseq").isNull()

        def _checked(val):
            return F.when(miss, F.raise_error(F.lit(
                "iceberg partition-attach map missed a scanned file "
                "path — refusing to degrade to NULL partition "
                "values / unscoped equality deletes"))).otherwise(val)

        if eq_files:
            out = out.withColumn(
                "__seq", F.coalesce(F.col("__seq"),
                                    _checked(F.col("__mseq"))))
        if row_lineage:
            # spec: _row_id = the file's (inherited) first_row_id +
            # the row's physical position; _last_updated_sequence_
            # number = the file's data sequence number when the row
            # carries none (our files never store per-row values)
            out = out.withColumn(
                "_row_id",
                _checked(F.col("__frid")) + F.col("__pos"))
            out = out.withColumn(
                "_last_updated_sequence_number",
                _checked(F.col("__mseq")))
        for c in attach_cols:
            out = out.withColumn(
                c, F.coalesce(F.col(c),
                              _checked(F.col(f"{c}__m")
                                       .cast(types[c]))))
        out = out.drop("__mseq", "__frid",
                       *[f"{c}__m" for c in attach_cols])
    if pos_files or dv_files:
        dels = None
        if pos_files:
            dels = (spark.read
                    .schema("file_path string, pos bigint")
                    .parquet(*pos_files)
                    .select(_norm(F.col("file_path")).alias("__fp"),
                            F.col("pos").alias("__pos")))
        if dv_files:
            # v3 deletion vectors expand to (file, position) rows on
            # the EXECUTORS — one task per DV blob, O(deleted rows)
            # output, the driver never holds a bitmap — and ride the
            # same anti-join as v2 position-delete files.  (A valid
            # v3 table's DV supersedes any older position deletes for
            # its file, so applying both is exact.)
            dv_rows = [(p, ref, int(off), int(sz))
                       for p, _s, (ref, off, sz) in dv_files]

            def _dv_expand(batches):
                import pandas as pd
                for pdf in batches:
                    for p2, ref2, off2, sz2 in zip(
                            pdf["path"], pdf["ref"], pdf["off"],
                            pdf["sz"]):
                        pos2 = _read_puffin_dv(p2, int(off2),
                                               int(sz2))
                        yield pd.DataFrame(
                            {"__fp": [ref2] * len(pos2),
                             "__pos": pos2})

            n_dv = min(len(dv_rows),
                       max(32,
                           spark.sparkContext.defaultParallelism))
            dvdels = (spark.createDataFrame(
                dv_rows,
                "path string, ref string, off bigint, sz bigint")
                .repartition(n_dv, "path", "off")
                .mapInPandas(_dv_expand, "__fp string, __pos bigint"))
            dels = dvdels if dels is None else dels.unionByName(dvdels)
        out = out.join(dels, on=["__fp", "__pos"], how="left_anti")
    # equality deletes: one anti-join per distinct equality-column
    # set; inside a set, delete files union with their sequence
    # numbers so the strict D < S scope rides the join condition
    by_eq: dict[tuple, list[tuple[str, int]]] = {}
    for p, s, e in eq_files:
        by_eq.setdefault(e, []).append((p, s))
    eq_layouts: dict = {}
    if by_eq and evolved:
        # evolved table: a delete file written BEFORE a rename
        # carries the OLD physical column name — resolve per file by
        # parquet FIELD ID (one distributed footer job over the
        # delete files; reading by the current name would null-fill
        # and silently SKIP the delete), name fallback for id-less
        # legacy files
        from .layouts import parquet_field_layouts
        eq_layouts = parquet_field_layouts(
            spark, [p for p, _s, _e in eq_files])
    for eq_names, pfs in sorted(by_eq.items()):
        dels = _eq_delete_union(spark, pfs, eq_names, eq_layouts,
                                fld_ids, types, evolved)
        d = dels.alias("d")
        cond = F.col("t.__seq") < F.col("d.__dseq")
        for n in eq_names:
            cond = cond & F.col(f"t.{n}").eqNullSafe(F.col(f"d.{n}"))
        out = out.alias("t").join(d, on=cond, how="left_anti")
    out = out.select(*([n for n, _t in fields]
                       + (["_row_id",
                           "_last_updated_sequence_number"]
                          if row_lineage else [])))
    # re-apply the equality filters on rows: transform pruning is
    # file-granular (a bucket holds many keys), the predicate pushes
    # into the surviving files' parquet scans
    for src, v in (filters or {}).items():
        out = out.where(F.col(src) == F.lit(v))
    return out


# ---------------------------------------------------------------------------
# fixture writer: spec-layout metadata for READER verification (a test
# double, not a transactional committer — same stance as the Delta
# fixture writer)
# ---------------------------------------------------------------------------

_SPARK_TO_ICE = {"bigint": "long", "int": "int", "string": "string",
                 "double": "double", "float": "float",
                 "boolean": "boolean", "binary": "binary"}

# Spark schema-JSON leaf names -> Iceberg primitive names
_SPARK_JSON_TO_ICE = {"long": "long", "integer": "int",
                      "short": "int", "byte": "int",
                      "string": "string", "double": "double",
                      "float": "float", "boolean": "boolean",
                      "binary": "binary", "date": "date",
                      "timestamp": "timestamp"}


def _spark_json_to_ice(t, counter):
    """Spark schema-JSON type -> Iceberg schema JSON with fresh field
    ids assigned at every nesting level (struct field ids,
    ``element-id``, ``key-id``/``value-id``) — the spec's
    requirement; the fixture writer stamps the same ids into the
    parquet footers."""
    if isinstance(t, str):
        if t in _SPARK_JSON_TO_ICE:
            return _SPARK_JSON_TO_ICE[t]
        raise NotImplementedError(f"iceberg fixture leaf type {t!r}")
    k = t["type"]
    if k == "struct":
        out = []
        for f in t["fields"]:
            fid = next(counter)
            out.append({"id": fid, "name": f["name"],
                        "required": False,
                        "type": _spark_json_to_ice(f["type"],
                                                   counter)})
        return {"type": "struct", "fields": out}
    if k == "array":
        eid = next(counter)
        return {"type": "list", "element-id": eid,
                "element": _spark_json_to_ice(t["elementType"],
                                              counter),
                "element-required": False}
    if k == "map":
        kid = next(counter)
        key = _spark_json_to_ice(t["keyType"], counter)
        vid = next(counter)
        return {"type": "map", "key-id": kid, "key": key,
                "value-id": vid,
                "value": _spark_json_to_ice(t["valueType"], counter),
                "value-required": False}
    raise NotImplementedError(f"iceberg fixture type {t!r}")


def _ice_to_avro(t, name_hint: str):
    """Iceberg schema-JSON type -> Avro schema (fixture writer):
    struct -> record with nullable fields, list -> array,
    map -> map (string keys, per Avro)."""
    _i2a = {"long": "long", "int": "int", "string": "string",
            "double": "double", "float": "float",
            "boolean": "boolean"}
    if isinstance(t, str):
        if t in _i2a:
            return _i2a[t]
        raise NotImplementedError(f"avro fixture leaf type {t!r}")
    k = t["type"]
    # nested id attributes: real Iceberg Avro writers stamp
    # field-id / element-id / key-id / value-id at every depth — the
    # resolution key an evolved reader matches renamed inner fields by
    if k == "struct":
        return {"type": "record", "name": name_hint, "fields": [
            {"name": f["name"],
             **({"field-id": f["id"]} if "id" in f else {}),
             "type": ["null",
                      _ice_to_avro(f["type"],
                                   f"{name_hint}_{f['name']}")]}
            for f in t["fields"]]}
    if k == "list":
        return {"type": "array",
                **({"element-id": t["element-id"]}
                   if "element-id" in t else {}),
                "items": _ice_to_avro(t["element"],
                                      name_hint + "_e")}
    if k == "map":
        if t["key"] != "string":
            raise NotImplementedError(
                "avro maps require string keys")
        return {"type": "map",
                **({"key-id": t["key-id"]} if "key-id" in t else {}),
                **({"value-id": t["value-id"]}
                   if "value-id" in t else {}),
                "values": _ice_to_avro(t["value"], name_hint + "_v")}
    raise NotImplementedError(f"avro fixture type {t!r}")


def _ice_id_paths(fields_json, prefix=()):
    """``{written_path_tuple: field_id}`` over an Iceberg schema —
    the key shape :func:`.nested.stamp_arrow_field_ids` consumes
    (list elements appear as ``'element'``, map keys/values as
    ``'key'``/``'value'``)."""
    out = {}

    def _descend(t, pre):
        if isinstance(t, str):
            return
        k = t["type"]
        if k == "struct":
            for f in t["fields"]:
                out[pre + (f["name"],)] = f["id"]
                _descend(f["type"], pre + (f["name"],))
        elif k == "list":
            out[pre + ("element",)] = t["element-id"]
            _descend(t["element"], pre + ("element",))
        elif k == "map":
            out[pre + ("key",)] = t["key-id"]
            _descend(t["key"], pre + ("key",))
            out[pre + ("value",)] = t["value-id"]
            _descend(t["value"], pre + ("value",))

    for f in fields_json:
        out[(f["name"],)] = f["id"]
        _descend(f["type"], (f["name"],))
    return out


def _avro_part_type(spark_type: str) -> str:
    return {"bigint": "long"}.get(
        spark_type, _SPARK_TO_ICE.get(spark_type, "string"))


def _manifest_schema(part_items, types=None):
    """``part_items``: ``[(partition_field_name, spark_type)]`` (or a
    list of names with ``types`` a name→spark-type map, the identity
    shorthand)."""
    if types is not None:
        part_items = [(c, types[c]) for c in part_items]
    part_rec = {"type": "record", "name": "r102", "fields": [
        {"name": c, "type": ["null", _avro_part_type(t)]}
        for c, t in part_items]}
    data_file = {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "partition", "type": part_rec},
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int"}]},
        # v3 deletion-vector fields: null for every other entry
        {"name": "referenced_data_file", "type": ["null", "string"]},
        {"name": "content_offset", "type": ["null", "long"]},
        {"name": "content_size_in_bytes", "type": ["null", "long"]},
        # v3 row lineage: explicit on carried EXISTING entries,
        # null (inherited from the manifest-list row) on fresh adds
        {"name": "first_row_id", "type": ["null", "long"]},
    ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": data_file},
    ]}


_MLIST_SCHEMA = {"type": "record", "name": "manifest_file", "fields": [
    {"name": "manifest_path", "type": "string"},
    {"name": "manifest_length", "type": "long"},
    {"name": "partition_spec_id", "type": "int"},
    {"name": "content", "type": "int"},
    {"name": "sequence_number", "type": ["null", "long"]},
    {"name": "added_snapshot_id", "type": ["null", "long"]},
    # v3 row lineage: starting row id for the manifest's
    # null-id data files; null on delete manifests
    {"name": "first_row_id", "type": ["null", "long"]},
]}


def write_puffin_dv_fixture(path: str, dvs: dict,
                            snapshot_id: int) -> dict:
    """FIXTURE: one spec-layout puffin file holding a
    ``deletion-vector-v1`` blob per entry of ``dvs``
    (``{table-relative data path: [deleted positions]}``) — header
    magic ``PFA1``, blobs, then the JSON footer (Magic, payload,
    4-byte LE payload size, 4 flag bytes, Magic) real writers emit,
    with ``referenced-data-file``/``cardinality`` blob properties.
    Returns ``{rel_data_path: (rel_puffin_path, blob_offset,
    blob_length, cardinality)}`` for the manifest entries."""
    import struct
    import zlib

    from .deltadv import DV_MAGIC, bitmap_array_encode
    rel_puffin = f"data/dv-snap{snapshot_id}.puffin"
    full = os.path.join(path, rel_puffin)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    buf = bytearray(b"PFA1")
    blobs_meta, out = [], {}
    for rel in sorted(dvs):
        vec = bitmap_array_encode(sorted(int(p) for p in dvs[rel]))
        data = struct.pack("<I", DV_MAGIC) + vec
        blob = (struct.pack(">i", len(data)) + data
                + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
        off = len(buf)
        buf += blob
        blobs_meta.append({
            "type": "deletion-vector-v1", "fields": [],
            "snapshot-id": snapshot_id,
            "sequence-number": snapshot_id,
            "offset": off, "length": len(blob),
            "properties": {"referenced-data-file": rel,
                           "cardinality": str(len(dvs[rel]))}})
        out[rel] = (rel_puffin, off, len(blob), len(dvs[rel]))
    payload = json.dumps({"blobs": blobs_meta,
                          "properties": {}}).encode()
    buf += (b"PFA1" + payload + struct.pack("<i", len(payload))
            + b"\x00\x00\x00\x00" + b"PFA1")
    with open(full, "wb") as fh:
        fh.write(bytes(buf))
    return out


def write_iceberg_fixture(spark, df, path: str, partition_by=(),
                          append_to_snapshot: int | None = None,
                          delete_partition=None,
                          delete_positions=None,
                          delete_equality=None,
                          delete_vectors=None,
                          order_by=(), file_format="parquet",
                          fast_append: bool = False,
                          operation: str | None = None) -> int:
    """Create or extend a spec-layout Iceberg table.  Each call makes
    ONE new snapshot: the base file set is the previous snapshot's
    (empty on create), minus files whose partition dict matches
    ``delete_partition`` (emitted as status=2 DELETED entries in the
    new manifest), plus ``df``'s rows as new parquet files (one per
    distinct partition tuple; pass ``df=None`` for a delete-only
    snapshot).  ``delete_positions`` (``{table-relative data path:
    [row positions]}``) emits a v2 POSITION-delete parquet file and a
    delete manifest (``content=1`` manifest-list row) — the shape a
    merge-on-read DELETE writes; previous delete files carry forward.
    ``delete_equality`` (``(equality_col_names, rows)``) emits a v2
    EQUALITY-delete parquet file (content=2, ``equality_ids`` from
    the schema's field ids) at the NEW snapshot's sequence number —
    the shape a merge-on-read UPSERT writes; data rows added in this
    same snapshot survive it (strict ``<`` scoping).  Sequence
    numbers: carried-forward entries keep their original explicit
    ``sequence_number``; entries NEW in this snapshot write null and
    inherit from the manifest-list row, exercising both spec paths.
    ``order_by`` pins physical row order inside data files so
    positions are deterministic.  ``partition_by`` entries are either
    plain column names (identity) or transform expressions —
    ``"bucket(4, k)"``, ``"truncate(3, name)"``, ``"year(ts)"`` /
    ``"month(ts)"`` / ``"day(ts)"`` / ``"hour(ts)"`` — evaluated with
    the spec transform functions; one data file per distinct
    transformed tuple.  ``operation`` overrides the snapshot
    summary's operation (e.g. ``"replace"`` to shape a compaction
    commit for changelog-skip tests).  Returns the new snapshot
    id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .avro import encode_avro_datums

    def _pa_table(pdf):
        # naive pandas timestamps must become UTC-adjusted parquet
        # timestamps or Spark reads them as TIMESTAMP_NTZ and the
        # declared `timestamp` schema mismatches
        tb = pa.Table.from_pandas(pdf, preserve_index=False)
        for i, f in enumerate(tb.schema):
            if pa.types.is_timestamp(f.type):
                tb = tb.set_column(
                    i, f.name,
                    tb.column(i).cast(pa.timestamp(
                        "us", f.type.tz or "UTC")))
        # stamp PARQUET FIELD IDS: the spec resolves columns by
        # id, which is what lets renamed columns keep reading — the
        # closure binds name_to_id after the schema resolves below
        flds = [f.with_metadata(
            {b"PARQUET:field_id":
             str(name_to_id[f.name]).encode()})
            if f.name in name_to_id else f
            for f in tb.schema]
        return tb.cast(pa.schema(flds))
    w_specs = []
    for s in partition_by:
        m = re.match(r"^(\w+)\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)$", s)
        if m:
            t, param, src = m.groups()
            param = int(param) if param else None
            if t == "identity":
                w_specs.append(("identity", None, src, src))
            else:
                _parse_spec_transform(          # validate the name
                    f"{t}[{param}]" if param is not None else t)
                suffix = "trunc" if t == "truncate" else t
                w_specs.append((t, param, src, f"{src}_{suffix}"))
        else:
            w_specs.append(("identity", None, s, s))
    part_fields = [src for t, _p, src, _f in w_specs
                   if t == "identity"]
    non_identity = any(t != "identity" for t, _p, _s, _f in w_specs)
    mdir = os.path.join(path, "metadata")
    ddir = os.path.join(path, "data")
    os.makedirs(mdir, exist_ok=True)
    os.makedirs(ddir, exist_ok=True)
    try:
        with open(_latest_metadata(path)) as fh:
            meta = json.load(fh)
        version = max(int(re.match(r"^v(\d+)\.metadata\.json$", f)
                          .group(1))
                      for f in os.listdir(mdir)
                      if re.match(r"^v(\d+)\.metadata\.json$", f))
    except (FileNotFoundError, OSError):
        meta, version = None, 0
    if meta is None:
        types = dict(df.dtypes)
        jtypes = {f["name"]: f["type"]
                  for f in df.schema.jsonValue()["fields"]}
        import itertools as _it
        _ctr = _it.count(len(df.columns) + 1)

        def _ice_of(c):
            # nested columns: full Iceberg JSON with fresh
            # field ids at every level; flat columns keep the
            # primitive-name table
            if isinstance(jtypes[c], str):
                return _SPARK_TO_ICE.get(types[c], types[c])
            return _spark_json_to_ice(jtypes[c], _ctr)

        schema_fields = [
            {"id": i + 1, "name": c, "required": False,
             "type": _ice_of(c)}
            for i, c in enumerate(df.columns)]
        name_to_id = {f["name"]: f["id"] for f in schema_fields}
        meta = {
            "format-version": 2, "table-uuid": "0" * 32,
            "location": path, "last-sequence-number": 0,
            "last-updated-ms": 0, "last-column-id": next(_ctr) - 1,
            "current-schema-id": 0,
            "schemas": [{"type": "struct", "schema-id": 0,
                         "fields": schema_fields}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": fname,
                 "transform": ("identity" if t == "identity"
                               else f"{t}[{param}]"
                               if param is not None else t),
                 "source-id": name_to_id[src],
                 "field-id": 1000 + i}
                for i, (t, param, src, fname)
                in enumerate(w_specs)]}],
            "properties": {}, "current-snapshot-id": None,
            "snapshots": [],
        }
    sid = meta.get("current-schema-id", 0)
    schema = next(s for s in meta["schemas"]
                  if s.get("schema-id", 0) == sid)
    types = {f["name"]: _ice_type_ddl(f["type"])
             for f in schema["fields"]}
    name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
    default_spec_id = meta.get("default-spec-id", 0)
    # v3 row lineage: live once the table is v3 and the
    # upgrade seeded next-row-id — new snapshots assign first-row-id,
    # manifests inherit, carried entries keep their explicit ids
    lineage = (meta.get("format-version") == 3
               and "next-row-id" in meta)
    prev_files, prev_deletes = [], []
    carried_mlist_rows: list[dict] = []
    if meta["snapshots"]:
        base = (append_to_snapshot
                if append_to_snapshot is not None
                else meta["current-snapshot-id"])
        _f, _p, prev_files, prev_deletes = live_data_files(
            path, base, row_lineage=lineage)
        if (fast_append and df is not None
                and delete_partition is None
                and delete_positions is None
                and delete_equality is None
                and delete_vectors is None):
            # FAST APPEND — the real-writer commit shape: the
            # new manifest holds ONLY this snapshot's adds and the
            # base snapshot's manifest-list rows carry VERBATIM (so
            # an incremental reader skips them without opening);
            # deletes still use the folding path
            from .avro import decode_avro_datums as _dec
            base_snap = next(s for s in meta["snapshots"]
                             if s["snapshot-id"] == base)
            with open(_resolve(base_snap["manifest-list"],
                               path), "rb") as fh:
                _s0, carried_mlist_rows = _dec(fh.read())
            prev_files, prev_deletes = [], []
        elif any(f[4] != default_spec_id for f in prev_files):
            # spec evolution: older-spec entries cannot fold into the
            # new manifest (different partition Avro schema) — carry
            # the base snapshot's manifest-list rows VERBATIM, the
            # way a real writer keeps old manifests in the list
            if delete_partition is not None:
                raise NotImplementedError(
                    "fixture delete_partition across evolved "
                    "partition specs")
            from .avro import decode_avro_datums as _dec
            base_snap = next(s for s in meta["snapshots"]
                             if s["snapshot-id"] == base)
            with open(_resolve(base_snap["manifest-list"],
                               path), "rb") as fh:
                _s0, carried_mlist_rows = _dec(fh.read())
            prev_files, prev_deletes = [], []
    snap_id = len(meta["snapshots"]) + 1
    entries = []
    for f in prev_files:
        p, pvals, pseq, pfmt = f[0], f[1], f[2], f[3]
        rel = os.path.relpath(p, path)
        status = 2 if (delete_partition is not None
                       and all(pvals.get(k) == v
                               for k, v in delete_partition.items())) \
            else 0
        rcount = 0
        frid = f[5] if lineage else None
        if lineage:
            # carried EXISTING entries keep their EXPLICIT row-id
            # assignment; a carried file that predates the v3
            # upgrade (no assignment anywhere) gets one NOW from
            # next-row-id — the lazy upgrade assignment real writers
            # perform when rewriting a manifest.  record_count must
            # be REAL under lineage (null-id inheritance accumulates
            # it); fixture-only driver work, parquet data files only.
            if pfmt == "PARQUET":
                try:
                    rcount = pq.read_metadata(p).num_rows
                except OSError:
                    # VARIANT footer — pyarrow refuses; thrift walk
                    from .parquetfooter import footer_num_rows
                    rcount = footer_num_rows(p)
            elif pfmt == "ORC":
                import pyarrow.orc as _po
                rcount = _po.ORCFile(p).nrows
            else:                                    # AVRO
                from .avro import decode_avro_py
                with open(p, "rb") as fh:
                    _flds, _rows = decode_avro_py(fh.read())
                rcount = len(_rows)
            if frid is None:
                frid = meta["next-row-id"]
                meta["next-row-id"] = frid + rcount
        entries.append({"status": status, "snapshot_id": snap_id,
                        "sequence_number": pseq,
                        "data_file": {
                            "content": 0, "file_path": rel,
                            "file_format": pfmt,
                            "partition": pvals,
                            "record_count": rcount,
                            "file_size_in_bytes":
                                os.path.getsize(p),
                            "equality_ids": None,
                            **({"first_row_id": frid} if lineage
                               else {})}})
    fld_json = {f["name"]: f["type"] for f in schema["fields"]}
    has_nested = (df is not None
                  and any(not isinstance(fld_json.get(c, ""), str)
                          for c in df.columns))
    if has_nested and non_identity:
        raise NotImplementedError(
            "iceberg fixture: nested columns are supported for "
            "identity-partitioned layouts only (PARQUET, ORC or "
            "AVRO data files)")
    variant_cols = ({c for c, t2 in df.dtypes if t2 == "variant"}
                    if df is not None else set())
    if variant_cols and (non_identity or has_nested
                         or file_format.lower() != "parquet"):
        raise NotImplementedError(
            "iceberg fixture: VARIANT columns are supported for "
            "identity-partitioned PARQUET layouts without other "
            "nested columns (no transform/ORC/Avro variant writes)")
    if df is not None and non_identity:
        # transform layout: evaluate the spec transforms per row on
        # the driver (the fixture writer is a test double), one data
        # file per distinct transformed tuple; non-identity sources
        # stay IN the data files, identity sources are metadata-only
        data_cols = [c for c in df.columns if c not in part_fields]
        pdf_all = (df.orderBy(*order_by) if order_by
                   else df).toPandas()
        by_key: dict[tuple, list[int]] = {}
        for i, r in enumerate(pdf_all.to_dict("records")):
            key = tuple(
                _transform_value(t, param, r[src], types[src])
                for t, param, src, _f in w_specs)
            by_key.setdefault(key, []).append(i)
        for ki, key in enumerate(
                sorted(by_key, key=lambda k: tuple(str(x)
                                                   for x in k))):
            rel = f"data/snap{snap_id}-{ki}.parquet"
            full = os.path.join(path, rel)
            pdf = (pdf_all.iloc[by_key[key]][data_cols]
                   .reset_index(drop=True))
            pq.write_table(_pa_table(pdf), full)
            pvals = {fname: (v.item() if hasattr(v, "item") else v)
                     for (_t, _p, _s, fname), v in zip(w_specs, key)}
            entries.append({"status": 1, "snapshot_id": snap_id,
                            "sequence_number": None,
                            "data_file": {
                                "content": 0, "file_path": rel,
                                "file_format": "PARQUET",
                                "partition": pvals,
                                "record_count": pdf.shape[0],
                                "file_size_in_bytes":
                                    os.path.getsize(full),
                                "equality_ids": None}})
    elif df is not None:
        data_cols = [c for c in df.columns if c not in part_fields]
        keys = ([tuple(r) for r in
                 df.select(*part_fields).distinct().collect()]
                if part_fields else [()])
        for ki, key in enumerate(
                sorted(keys, key=lambda k: tuple(str(x) for x in k))):
            sub = df
            for c, v in zip(part_fields, key):
                sub = sub.where(sub[c].eqNullSafe(v))
            if order_by:
                sub = sub.orderBy(*order_by)
            ext = file_format.lower()
            rel = f"data/snap{snap_id}-{ki}.{ext}"
            full = os.path.join(path, rel)
            if variant_cols & set(data_cols):
                # v3 VARIANT data files: neither pandas nor
                # this container's pyarrow can carry variant values,
                # so the file writes through Spark's OWN parquet
                # writer — the same binary layout a real Iceberg v3
                # writer emits — with PARQUET:field_id stamped from
                # `parquet.field.id` alias metadata, then moves into
                # place (the Delta variant fixture's shape).
                import glob as _glob
                import shutil as _shutil

                from pyspark.sql import functions as SF
                sel = [SF.col(f"`{c}`").alias(
                    c, metadata={"parquet.field.id":
                                 name_to_id[c]})
                    for c in data_cols]
                tmpd = full + ".jvm"
                (sub.select(*sel).coalesce(1).write
                 .mode("overwrite").parquet(tmpd))
                srcf = _glob.glob(os.path.join(
                    tmpd, "part-*.parquet"))[0]
                _shutil.move(srcf, full)
                _shutil.rmtree(tmpd, ignore_errors=True)
                # pyarrow refuses VARIANT footers — the in-repo
                # thrift walk reads FileMetaData.num_rows directly
                from .parquetfooter import footer_num_rows
                entries.append({"status": 1, "snapshot_id": snap_id,
                                "sequence_number": None,
                                "data_file": {
                                    "content": 0, "file_path": rel,
                                    "file_format": "PARQUET",
                                    "partition": dict(zip(
                                        part_fields, key)),
                                    "record_count":
                                        footer_num_rows(full),
                                    "file_size_in_bytes":
                                        os.path.getsize(full),
                                    "equality_ids": None}})
                continue
            if has_nested and ext != "avro":
                # nested columns: Arrow path — pandas cannot
                # carry structs faithfully; nested field ids stamp
                # from the schema's own id assignment so id-matching
                # readers resolve renames at every depth (parquet
                # PARQUET:field_id / ORC iceberg.id)
                from .nested import stamp_arrow_field_ids
                tb = sub.select(*data_cols).toArrow()
                for i2, f2 in enumerate(tb.schema):
                    if pa.types.is_timestamp(f2.type):
                        tb = tb.set_column(
                            i2, f2.name,
                            tb.column(i2).cast(pa.timestamp(
                                "us", f2.type.tz or "UTC")))
                idp = _ice_id_paths([f for f in schema["fields"]
                                     if f["name"] in data_cols])
                if ext == "orc":
                    from pyarrow import orc as pa_orc
                    tb = stamp_arrow_field_ids(
                        tb, lambda pth: idp.get(pth),
                        id_key=b"iceberg.id")
                    pa_orc.write_table(tb, full)
                else:
                    tb = stamp_arrow_field_ids(
                        tb, lambda pth: idp.get(pth))
                    pq.write_table(tb, full)
                entries.append({"status": 1, "snapshot_id": snap_id,
                                "sequence_number": None,
                                "data_file": {
                                    "content": 0, "file_path": rel,
                                    "file_format":
                                        file_format.upper(),
                                    "partition": dict(zip(part_fields,
                                                          key)),
                                    "record_count": tb.num_rows,
                                    "file_size_in_bytes":
                                        os.path.getsize(full),
                                    "equality_ids": None}})
                continue
            pdf = (None if has_nested
                   else sub.select(*data_cols).toPandas())
            if ext == "avro":
                from .avro import encode_avro_py
                a_map = {"bigint": "long", "int": "int",
                         "double": "double", "float": "float",
                         "string": "string", "boolean": "boolean"}
                jt = {f["name"]: f["type"]
                      for f in schema["fields"]}

                def _avro_of(c):
                    # nested columns: iceberg JSON -> avro
                    # schema; flat columns keep the primitive table
                    if isinstance(jt[c], str):
                        if types[c] not in a_map:
                            raise NotImplementedError(
                                f"avro fixture over column {c} of "
                                f"type {types[c]!r}")
                        return a_map[types[c]]
                    return _ice_to_avro(jt[c], f"t_{c}")

                aspec = [(c, _avro_of(c), True) for c in data_cols]
                if any(not isinstance(jt[c], str)
                       for c in data_cols):
                    # nested rows via Arrow (pandas mangles structs)
                    recs = (sub.select(*data_cols).toArrow()
                            .to_pylist())
                    rows_py = [tuple(r[c] for c in data_cols)
                               for r in recs]
                else:
                    rows_py = [tuple(None if v_ != v_ else
                                     (v_.item()
                                      if hasattr(v_, "item")
                                      else v_)
                                     for v_ in row)
                               for row in pdf.itertuples(index=False)]
                with open(full, "wb") as fh:
                    # field-id attributes: the Iceberg Avro writers'
                    # column-resolution key
                    fh.write(encode_avro_py(aspec, rows_py,
                                            field_ids=name_to_id))
            elif ext == "orc":
                from pyarrow import orc as pa_orc
                # stamp field ids as `iceberg.id` type attributes —
                # the ORC equivalent of PARQUET:field_id (spec's ORC
                # appendix), what lets an evolved reader resolve
                # columns by id
                tb = pa.Table.from_pandas(pdf, preserve_index=False)
                flds = [f.with_metadata(
                    {b"iceberg.id":
                     str(name_to_id[f.name]).encode()})
                    if f.name in name_to_id else f
                    for f in tb.schema]
                pa_orc.write_table(tb.cast(pa.schema(flds)), full)
            else:
                pq.write_table(_pa_table(pdf), full)
            entries.append({"status": 1, "snapshot_id": snap_id,
                            "sequence_number": None,
                            "data_file": {
                                "content": 0, "file_path": rel,
                                "file_format": file_format.upper(),
                                "partition": dict(zip(part_fields,
                                                      key)),
                                "record_count":
                                    (pdf.shape[0] if pdf is not None
                                     else len(rows_py)),
                                "file_size_in_bytes":
                                    os.path.getsize(full),
                                "equality_ids": None}})
    # delete manifest: carried-forward delete files + any new
    # delete_positions parquet (columns file_path/pos per the v2
    # spec) + any new delete_equality parquet (content=2)
    del_entries = []
    if delete_vectors is not None \
            and meta.get("format-version", 1) != 3:
        raise ValueError(
            "iceberg fixture: deletion vectors require "
            "format-version 3 (call "
            "set_iceberg_format_version_fixture first)")
    for p, dcontent, dseq, deq in prev_deletes:
        if dcontent == 3:
            # carried-forward v3 DV — unless this snapshot writes a
            # REPLACEMENT DV for the same data file (the spec allows
            # at most one live DV per file; the new one must fold in
            # the old positions, which the caller's positions do)
            ref_abs, coff, csz = deq
            ref_rel = os.path.relpath(ref_abs, path)
            if delete_vectors and ref_rel in delete_vectors:
                continue
            del_entries.append({"status": 0, "snapshot_id": snap_id,
                                "sequence_number": dseq,
                                "data_file": {
                                    "content": 1,
                                    "file_path":
                                        os.path.relpath(p, path),
                                    "file_format": "PUFFIN",
                                    "partition": {},
                                    "record_count": 0,
                                    "file_size_in_bytes":
                                        os.path.getsize(p),
                                    "equality_ids": None,
                                    "referenced_data_file": ref_rel,
                                    "content_offset": coff,
                                    "content_size_in_bytes": csz}})
            continue
        del_entries.append({"status": 0, "snapshot_id": snap_id,
                            "sequence_number": dseq,
                            "data_file": {
                                "content": dcontent,
                                "file_path": os.path.relpath(p, path),
                                "file_format": "PARQUET",
                                "partition": {}, "record_count": 0,
                                "file_size_in_bytes":
                                    os.path.getsize(p),
                                "equality_ids":
                                    ([name_to_id[n] for n in deq]
                                     if deq else None)}})
    if delete_positions:
        rows = [(rel, int(pos))
                for rel in sorted(delete_positions)
                for pos in sorted(delete_positions[rel])]
        drel = f"data/pos-del-snap{snap_id}.parquet"
        dfull = os.path.join(path, drel)
        pq.write_table(pa.table(
            {"file_path": [r[0] for r in rows],
             "pos": [r[1] for r in rows]}), dfull)
        del_entries.append({"status": 1, "snapshot_id": snap_id,
                            "sequence_number": None,
                            "data_file": {
                                "content": 1, "file_path": drel,
                                "file_format": "PARQUET",
                                "partition": {},
                                "record_count": len(rows),
                                "file_size_in_bytes":
                                    os.path.getsize(dfull),
                                "equality_ids": None}})
    if delete_equality:
        eq_cols, eq_rows = delete_equality
        erel = f"data/eq-del-snap{snap_id}.parquet"
        efull = os.path.join(path, erel)
        tb_eq = pa.table({c: [r[i] for r in eq_rows]
                          for i, c in enumerate(eq_cols)})
        # field ids ride the delete file's footer — what lets
        # a reader resolve the columns after a rename, exactly as
        # real Iceberg writers stamp them
        tb_eq = tb_eq.cast(pa.schema(
            [tb_eq.schema.field(i).with_metadata(
                {b"PARQUET:field_id": str(name_to_id[c]).encode()})
             for i, c in enumerate(eq_cols)]))
        pq.write_table(tb_eq, efull)
        del_entries.append({"status": 1, "snapshot_id": snap_id,
                            "sequence_number": None,
                            "data_file": {
                                "content": 2, "file_path": erel,
                                "file_format": "PARQUET",
                                "partition": {},
                                "record_count": len(eq_rows),
                                "file_size_in_bytes":
                                    os.path.getsize(efull),
                                "equality_ids":
                                    [name_to_id[c] for c in eq_cols]}})
    if delete_vectors:
        # v3 deletion vectors: one puffin file per snapshot, one
        # blob per targeted data file, manifest entries carrying the
        # blob's exact offset/length + referenced_data_file
        dv_info = write_puffin_dv_fixture(path, delete_vectors,
                                          snap_id)
        for rel in sorted(dv_info):
            rel_puffin, off, ln, card = dv_info[rel]
            del_entries.append({"status": 1, "snapshot_id": snap_id,
                                "sequence_number": None,
                                "data_file": {
                                    "content": 1,
                                    "file_path": rel_puffin,
                                    "file_format": "PUFFIN",
                                    "partition": {},
                                    "record_count": card,
                                    "file_size_in_bytes":
                                        os.path.getsize(os.path.join(
                                            path, rel_puffin)),
                                    "equality_ids": None,
                                    "referenced_data_file": rel,
                                    "content_offset": off,
                                    "content_size_in_bytes": ln}})
    # the manifest schema carries the v3 DV + lineage fields for
    # every entry — null-fill the ones other writers above did not
    # set (a null first_row_id on an ADDED entry means INHERIT from
    # the manifest-list row, the shape real writers emit)
    for e in entries + del_entries:
        e["data_file"].setdefault("referenced_data_file", None)
        e["data_file"].setdefault("content_offset", None)
        e["data_file"].setdefault("content_size_in_bytes", None)
        e["data_file"].setdefault("first_row_id", None)
    part_items = [(fname,
                   "int" if t in ("bucket", "year", "month",
                                  "day", "hour") else types[src])
                  for t, _p, src, fname in w_specs]
    msch = _manifest_schema(part_items)
    mrel = f"metadata/manifest-{snap_id}.avro"
    with open(os.path.join(path, mrel), "wb") as fh:
        fh.write(encode_avro_datums(msch, entries, codec="deflate"))
    # v3 lineage: the new data manifest's null-id entries inherit
    # starting at the table's next-row-id; fresh adds consume ids
    snap_first_row_id = meta.get("next-row-id") if lineage else None
    added_rows = sum(int(e["data_file"].get("record_count") or 0)
                     for e in entries
                     if e["status"] == 1
                     and e["data_file"].get("first_row_id") is None)
    mlist_rows = list(carried_mlist_rows) + [{
        "manifest_path": mrel,
        "manifest_length": os.path.getsize(os.path.join(path, mrel)),
        "partition_spec_id": default_spec_id, "content": 0,
        "sequence_number": snap_id,
        "added_snapshot_id": snap_id,
        "first_row_id": snap_first_row_id}]
    if del_entries:
        dmsch = _manifest_schema([], types)
        dmrel = f"metadata/delete-manifest-{snap_id}.avro"
        with open(os.path.join(path, dmrel), "wb") as fh:
            fh.write(encode_avro_datums(dmsch, del_entries,
                                        codec="deflate"))
        mlist_rows.append({
            "manifest_path": dmrel,
            "manifest_length": os.path.getsize(
                os.path.join(path, dmrel)),
            "partition_spec_id": default_spec_id, "content": 1,
            "sequence_number": snap_id,
            "added_snapshot_id": snap_id,
            "first_row_id": None})
    for r in mlist_rows:
        # carried rows decoded from pre-lineage manifests lack the
        # field — null means "no ids assigned here", readers gate
        r.setdefault("first_row_id", None)
    if lineage:
        meta["next-row-id"] = snap_first_row_id + added_rows
    mlist_rel = f"metadata/snap-{snap_id}-manifest-list.avro"
    with open(os.path.join(path, mlist_rel), "wb") as fh:
        fh.write(encode_avro_datums(_MLIST_SCHEMA, mlist_rows))
    # the snapshot's real operation (what SparkMicroBatchStream's
    # skip-delete/skip-overwrite options key on): pure file
    # retirement / delete files only -> "delete"; adds + retirements
    # in one snapshot -> "overwrite"; otherwise "append"
    any_delete = (delete_partition is not None
                  or delete_positions is not None
                  or delete_equality is not None
                  or delete_vectors is not None)
    if operation is None:
        operation = ("append" if df is not None and not any_delete
                     else "delete" if df is None
                     else "overwrite")
    _parent = (append_to_snapshot if append_to_snapshot is not None
               else meta.get("current-snapshot-id"))
    meta["snapshots"].append({"snapshot-id": snap_id,
                              **({"parent-snapshot-id": _parent}
                                 if _parent is not None else {}),
                              **({"first-row-id": snap_first_row_id}
                                 if lineage else {}),
                              "sequence-number": snap_id,
                              # deterministic, strictly increasing —
                              # what as_of_ms time travel needs
                              "timestamp-ms": snap_id * 1000,
                              # the schema this snapshot was written
                              # under (v2 spec) — snapshot-schema
                              # time travel resolves through it
                              "schema-id": sid,
                              "manifest-list": mlist_rel,
                              "summary": {"operation": operation}})
    meta["current-snapshot-id"] = snap_id
    version += 1
    with open(os.path.join(mdir, f"v{version}.metadata.json"),
              "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return snap_id


def tag_iceberg_snapshot_fixture(path: str, name: str,
                                 snapshot_id: int | None = None,
                                 ref_type: str = "tag") -> int:
    """FIXTURE: add a named ref (``tag`` or ``branch``) to the
    table's ``refs`` map pointing at ``snapshot_id`` (default: the
    current snapshot) — the layout ``ALTER TABLE ... CREATE TAG``
    writes.  A ``main`` branch ref mirroring the current snapshot is
    maintained alongside, like real writers keep.  Returns the
    snapshot id the ref points at."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    have = {s["snapshot-id"] for s in meta.get("snapshots", [])}
    if snapshot_id not in have:
        raise ValueError(
            f"no snapshot {snapshot_id} at {path}; have {sorted(have)}")
    refs = meta.setdefault("refs", {})
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    # real writers keep main tracking the current snapshot
    refs["main"] = {"snapshot-id": meta["current-snapshot-id"],
                    "type": "branch"}
    mdir = os.path.join(path, "metadata")
    version = max(int(re.match(r"^v(\d+)\.metadata\.json$", f)
                      .group(1))
                  for f in os.listdir(mdir)
                  if re.match(r"^v(\d+)\.metadata\.json$", f)) + 1
    with open(os.path.join(mdir, f"v{version}.metadata.json"),
              "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(version))
    return snapshot_id


def evolve_iceberg_spec_fixture(path: str, partition_by=()) -> int:
    """FIXTURE partition-spec evolution: append a NEW partition spec
    (the shape an ``ALTER TABLE ... PARTITION FIELD`` commit writes)
    and advance ``default-spec-id``.  Existing manifests keep their
    old spec id; the next :func:`write_iceberg_fixture` call writes
    under the new spec (pass the matching ``partition_by``).
    Returns the new spec id."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    mdir = os.path.join(path, "metadata")
    version = max(int(re.match(r"^v(\d+)\.metadata\.json$", f)
                      .group(1))
                  for f in os.listdir(mdir)
                  if re.match(r"^v(\d+)\.metadata\.json$", f))
    sid = meta.get("current-schema-id", 0)
    schema = next(s for s in meta["schemas"]
                  if s.get("schema-id", 0) == sid)
    name_to_id = {f["name"]: f["id"] for f in schema["fields"]}
    new_id = max([s.get("spec-id", 0)
                  for s in meta.get("partition-specs", [])]
                 + [0]) + 1
    flds = []
    for i, s in enumerate(partition_by):
        m = re.match(r"^(\w+)\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)$", s)
        if m:
            t, param, src = m.groups()
            tr = (f"{t}[{int(param)}]" if param is not None else t)
            _parse_spec_transform(tr)           # validate
            suffix = "trunc" if t == "truncate" else t
            fname = src if t == "identity" else f"{src}_{suffix}"
        else:
            t, tr, src, fname = "identity", "identity", s, s
        flds.append({"name": fname, "transform": tr,
                     "source-id": name_to_id[src],
                     "field-id": 1000 + 100 * new_id + i})
    # a v1-style table declares only the inline
    # 'partition-spec' — once the LIST form exists, _raw_specs stops
    # normalizing the inline one, so pre-evolution manifests (spec id
    # 0) would fail with 'unknown partition spec 0'.  Seed the list
    # with the normalized inline spec before appending the new one.
    if "partition-specs" not in meta and "partition-spec" in meta:
        meta["partition-specs"] = [
            {"spec-id": 0, "fields": meta["partition-spec"]}]
    meta.setdefault("partition-specs", []).append(
        {"spec-id": new_id, "fields": flds})
    meta["default-spec-id"] = new_id
    with open(os.path.join(mdir,
                           f"v{version + 1}.metadata.json"),
              "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(version + 1))
    return new_id


def set_iceberg_format_version_fixture(path: str,
                                       version: int = 3) -> int:
    """FIXTURE: stamp the table's ``format-version`` (the shape an
    ``ALTER TABLE ... SET TBLPROPERTIES ('format-version'='3')``
    upgrade commit writes) — metadata-only, existing snapshots and
    manifests are untouched, exactly like a real upgrade.  An upgrade
    to 3 seeds ``next-row-id`` (row lineage is mandatory in v3);
    pre-upgrade manifests carry no ``first_row_id``, so lineage reads
    over their files gate — the honest state of a just-upgraded
    table before a rewrite assigns ids.  Returns the new metadata
    version number."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    meta["format-version"] = int(version)
    if int(version) >= 3 and "next-row-id" not in meta:
        meta["next-row-id"] = 0
    mdir = os.path.join(path, "metadata")
    v = max(int(re.match(r"^v(\d+)\.metadata\.json$", f).group(1))
            for f in os.listdir(mdir)
            if re.match(r"^v(\d+)\.metadata\.json$", f)) + 1
    with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(v))
    return v


def evolve_iceberg_schema_fixture(path: str, renames=None,
                                  add_columns=()) -> int:
    """FIXTURE schema evolution: append a NEW schema to the metadata
    (the shape an ``ALTER TABLE RENAME/ADD COLUMN`` commit writes) —
    renamed columns KEEP their field ids, added columns take fresh
    ids past ``last-column-id``, and ``current-schema-id`` advances.
    Existing data files are untouched (their footers still carry the
    old physical names + the stable field ids).  ``add_columns``
    entries are ``(name, type)`` or ``(name, type, initial_default)``
    — the 3-form stamps the v3 ``initial-default`` (and matching
    ``write-default``) the spec's JSON single-value serialization
    carries.  Returns the new schema id."""
    import copy
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    mdir = os.path.join(path, "metadata")
    version = max(int(re.match(r"^v(\d+)\.metadata\.json$", f)
                      .group(1))
                  for f in os.listdir(mdir)
                  if re.match(r"^v(\d+)\.metadata\.json$", f))
    sid = meta.get("current-schema-id", 0)
    cur = next(s for s in meta["schemas"]
               if s.get("schema-id", 0) == sid)
    new = copy.deepcopy(cur)
    new["schema-id"] = max(s.get("schema-id", 0)
                           for s in meta["schemas"]) + 1

    # renames accept dotted paths into nested structs:
    # {"st.a": "alpha"} renames field a INSIDE struct column st
    # (list elements as "element", map values as "value"); keys are
    # the OLD paths at every level
    def _apply(fields, prefix):
        for f in fields:
            old = f["name"]
            full = prefix + old
            if renames and full in renames:
                f["name"] = renames[full]
            _desc(f["type"], full + ".")

    def _desc(t, pre):
        if not isinstance(t, dict):
            return
        if t["type"] == "struct":
            _apply(t["fields"], pre)
        elif t["type"] == "list":
            _desc(t["element"], pre + "element.")
        elif t["type"] == "map":
            _desc(t["value"], pre + "value.")

    _apply(new["fields"], "")
    last = meta.get("last-column-id",
                    max(f["id"] for f in new["fields"]))
    for entry in add_columns:
        nm, t = entry[0], entry[1]
        last += 1
        fld = {"id": last, "name": nm, "required": False, "type": t}
        if len(entry) > 2:
            # v3 column defaults: the value every PRE-EXISTING
            # file reads for this column (and, as write-default, what
            # writers omit-fill) — JSON single-value serialization
            fld["initial-default"] = entry[2]
            fld["write-default"] = entry[2]
        new["fields"].append(fld)
    meta["last-column-id"] = last
    meta["schemas"].append(new)
    meta["current-schema-id"] = new["schema-id"]
    with open(os.path.join(mdir,
                           f"v{version + 1}.metadata.json"),
              "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(version + 1))
    return new["schema-id"]


def iceberg_metadata_table(spark, path: str, kind: str,
                           snapshot_id: int | None = None):
    """The spec's METADATA TABLES as DataFrames — the inspection
    surface real engines expose as ``SELECT * FROM tbl.snapshots``.
    Driver work is the same manifest walk planning already
    does (O(manifest entries)); the result materializes via
    ``createDataFrame`` — ``files`` is O(live files), the same class
    as the planner's own file list.

    Kinds: ``snapshots`` (committed_at_ms, snapshot_id, parent_id,
    operation, manifest_list), ``history`` (made_current_at_ms,
    snapshot_id, parent_id, is_current_ancestor — ancestors of the
    CURRENT snapshot), ``refs`` (name, type, snapshot_id),
    ``manifests`` (path, length, partition_spec_id, content,
    added_snapshot_id — the resolved snapshot's manifest list),
    ``files`` (content, file_path, file_format, spec_id,
    record_count, file_size_in_bytes, sequence_number, partition as
    map<string,string> — live data files of the resolved snapshot),
    ``partitions`` (partition map, spec_id, file_count,
    record_count — aggregated from ``files``), ``delete_files``
    (the snapshot's live position/equality delete files and v3
    deletion vectors with their equality columns / blob
    addresses)."""
    from pyspark.sql import functions as F

    from .avro import decode_avro_datums
    meta, snap = _resolve_snapshot(path, snapshot_id)
    if kind == "snapshots":
        rows = [(int(s.get("timestamp-ms", 0)), int(s["snapshot-id"]),
                 (int(s["parent-snapshot-id"])
                  if s.get("parent-snapshot-id") is not None else None),
                 (s.get("summary") or {}).get("operation"),
                 s.get("manifest-list"))
                for s in meta.get("snapshots", [])]
        return spark.createDataFrame(
            rows, "committed_at_ms bigint, snapshot_id bigint, "
                  "parent_id bigint, operation string, "
                  "manifest_list string")
    if kind == "history":
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        ancestors = set()
        cur = meta.get("current-snapshot-id")
        while cur is not None and cur in by_id:
            ancestors.add(cur)
            cur = by_id[cur].get("parent-snapshot-id")
        rows = [(int(s.get("timestamp-ms", 0)), int(s["snapshot-id"]),
                 (int(s["parent-snapshot-id"])
                  if s.get("parent-snapshot-id") is not None else None),
                 s["snapshot-id"] in ancestors)
                for s in meta.get("snapshots", [])]
        return spark.createDataFrame(
            rows, "made_current_at_ms bigint, snapshot_id bigint, "
                  "parent_id bigint, is_current_ancestor boolean")
    if kind == "refs":
        rows = [(n, r.get("type"), int(r["snapshot-id"]))
                for n, r in sorted((meta.get("refs") or {}).items())]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id bigint")
    if kind == "manifests":
        with open(_resolve(snap["manifest-list"], path), "rb") as fh:
            _s, manifests = decode_avro_datums(fh.read())
        rows = [(m["manifest_path"], int(m.get("manifest_length", 0)),
                 int(m.get("partition_spec_id", 0)),
                 int(m.get("content", 0) or 0),
                 (int(m["added_snapshot_id"])
                  if m.get("added_snapshot_id") is not None else None))
                for m in manifests]
        return spark.createDataFrame(
            rows, "path string, length bigint, partition_spec_id int, "
                  "content int, added_snapshot_id bigint")
    if kind in ("files", "partitions"):
        with open(_resolve(snap["manifest-list"], path), "rb") as fh:
            _s, manifests = decode_avro_datums(fh.read())
        rows = []
        default_spec_id = meta.get("default-spec-id", 0)
        for m in manifests:
            if (m.get("content", 0) or 0) != 0:
                continue                      # data manifests only
            mspec = m.get("partition_spec_id")
            if mspec is None:
                mspec = default_spec_id
            with open(_resolve(m["manifest_path"], path), "rb") as fh:
                _s2, entries = decode_avro_datums(fh.read())
            for e in entries:
                if e.get("status") == 2:
                    continue
                df_ = e["data_file"]
                if (df_.get("content", 0) or 0) != 0:
                    continue
                seq = e.get("sequence_number")
                if seq is None:
                    seq = m.get("sequence_number") or 0
                part = {k: (None if v is None else str(v))
                        for k, v in (df_.get("partition")
                                     or {}).items()}
                rows.append((
                    int(df_.get("content", 0) or 0),
                    df_["file_path"],
                    (df_.get("file_format") or "PARQUET").upper(),
                    int(mspec),
                    int(df_.get("record_count") or 0),
                    int(df_.get("file_size_in_bytes") or 0),
                    int(seq), part))
        out = spark.createDataFrame(
            rows, "content int, file_path string, file_format string, "
                  "spec_id int, record_count bigint, "
                  "file_size_in_bytes bigint, sequence_number bigint, "
                  "partition map<string,string>")
        if kind == "files":
            return out
        return (out.groupBy("partition", "spec_id")
                .agg(F.count(F.lit(1)).cast("bigint")
                     .alias("file_count"),
                     F.sum("record_count").cast("bigint")
                     .alias("record_count")))
    if kind == "delete_files":
        # the snapshot's live DELETE artifacts: v2 position
        # files (content 1), equality files (content 2, their
        # equality column names), v3 deletion vectors (content 1,
        # PUFFIN, referenced data file + blob offsets)
        _f, _ps, _files, dels = live_data_files(
            path, snap["snapshot-id"])
        rows = []
        for p, c, seq, extra in dels:
            if c == 2:
                rows.append((2, p, "PARQUET", int(seq),
                             list(extra), None, None, None))
            elif c == 3:
                ref, off, sz = extra
                rows.append((1, p, "PUFFIN", int(seq), None,
                             ref, int(off), int(sz)))
            else:
                rows.append((1, p, "PARQUET", int(seq), None,
                             None, None, None))
        return spark.createDataFrame(
            rows, "content int, file_path string, "
                  "file_format string, sequence_number bigint, "
                  "equality_columns array<string>, "
                  "referenced_data_file string, "
                  "content_offset bigint, "
                  "content_size_in_bytes bigint")
    raise NotImplementedError(
        f"iceberg metadata table {kind!r} (have: snapshots, history, "
        "refs, manifests, files, partitions, delete_files)")



def _delete_artifacts(path, meta, by_id, sid, name_of_fid):
    """ALL live delete artifacts of snapshot ``sid`` — its delete
    manifests only (a handful): ``(pos_files, eq_files, dvs)`` with
    ``pos_files`` as ``[abs_path]``, ``eq_files`` as ``[(abs_path,
    seq, eq_col_names)]`` and ``dvs`` as ``{referenced_abs: (puffin,
    off, sz)}``.  The predecessor side of the changelog's
    new-minus-old computations."""
    from .avro import decode_avro_datums
    pos_files, eq_files, dvs = [], [], {}
    snap2 = by_id.get(sid)
    if snap2 is None:
        return pos_files, eq_files, dvs
    with open(_resolve(snap2["manifest-list"], path), "rb") as fh:
        _s2, pmans = decode_avro_datums(fh.read())
    for m in pmans:
        if (m.get("content", 0) or 0) != 1:
            continue
        with open(_resolve(m["manifest_path"], path), "rb") as fh:
            _s3, entries = decode_avro_datums(fh.read())
        for e in entries:
            if e.get("status") == 2:
                continue
            df_ = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number") or 0
            fcontent = df_.get("content", 0) or 0
            ref = df_.get("referenced_data_file")
            if fcontent == 2:
                eq_ids = df_.get("equality_ids") or []
                eq_files.append((_resolve(df_["file_path"], path),
                                 int(seq),
                                 tuple(name_of_fid[i]
                                       for i in eq_ids)))
            elif ref is not None:
                dvs[_resolve(ref, path)] = (
                    _resolve(df_["file_path"], path),
                    int(df_.get("content_offset")),
                    int(df_.get("content_size_in_bytes")))
            else:
                pos_files.append(_resolve(df_["file_path"], path))
    return pos_files, eq_files, dvs


def _snapshot_changes(path, meta, by_id, sid, parent_sid,
                      name_of_fid=None):
    """One snapshot's own change set, status-based: walk ONLY the
    manifests the snapshot itself added (same O(changed-entries)
    planning shape as the appends stream, never a live-set
    decode) — ``added``/``removed`` as ``{path: (pvals, spec,
    seq)}`` from status-1/status-2 data-file entries, plus its NEW
    delete artifacts: v3 deletion vectors (``new_dvs``), v2
    position-delete parquet files (``new_pos``) and v2 equality
    deletes (``new_eq`` as ``[(abs, seq, eq_col_names)]``).
    The predecessor artifacts (``prev_pos``/``prev_eq``/
    ``prev_dvs``) come from the PARENT snapshot's delete manifests
    only (a handful) — what the newly-dead-row computations diff
    against."""
    from .avro import decode_avro_datums
    if name_of_fid is None:
        # field id -> CURRENT name, for equality-delete resolution
        sch = (next(s for s in meta["schemas"]
                    if s.get("schema-id", 0)
                    == meta.get("current-schema-id", 0))
               if "schemas" in meta else meta["schema"])
        name_of_fid = {f["id"]: f["name"] for f in sch["fields"]}
    snap2 = by_id[sid]
    with open(_resolve(snap2["manifest-list"], path),
              "rb") as fh:
        _s0, manifests = decode_avro_datums(fh.read())
    default_spec_id = meta.get("default-spec-id", 0)
    added, removed, new_dvs = {}, {}, {}
    new_pos, new_eq = [], []
    for m in manifests:
        asid = m.get("added_snapshot_id")
        if asid is not None and asid != sid:
            continue                  # carried forward: skip
        mspec = m.get("partition_spec_id")
        if mspec is None:
            mspec = default_spec_id
        with open(_resolve(m["manifest_path"], path),
                  "rb") as fh:
            _s1, entries = decode_avro_datums(fh.read())
        for e in entries:
            df_ = e["data_file"]
            fcontent = df_.get("content", 0) or 0
            fmt = (df_.get("file_format") or "PARQUET").upper()
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number") or 0
            if (m.get("content", 0) or 0) == 1 or fcontent:
                if e.get("status") != 1:
                    continue      # carried delete rides forward
                if fcontent == 2:
                    eq_ids = df_.get("equality_ids") or []
                    eq_names = tuple((name_of_fid or {}).get(i)
                                     for i in eq_ids)
                    if not eq_names or None in eq_names:
                        raise NotImplementedError(
                            "iceberg changelog: equality-delete "
                            "file with missing/unresolvable "
                            f"equality_ids {eq_ids!r}")
                    new_eq.append(
                        (_resolve(df_["file_path"], path),
                         int(seq), eq_names))
                    continue
                ref = df_.get("referenced_data_file")
                if ref is None and fmt != "PUFFIN":
                    # v2 position-delete parquet FILE
                    new_pos.append(
                        _resolve(df_["file_path"], path))
                    continue
                # v3 deletion vector — a malformed PUFFIN entry
                # (null referenced_data_file/offset/size) gates
                # loudly instead of crashing downstream
                off = df_.get("content_offset")
                sz = df_.get("content_size_in_bytes")
                if ref is None or off is None or sz is None:
                    raise NotImplementedError(
                        "iceberg changelog: deletion-vector entry "
                        "missing referenced_data_file / "
                        "content_offset / content_size_in_bytes")
                new_dvs[_resolve(ref, path)] = (
                    _resolve(df_["file_path"], path),
                    int(off), int(sz))
                continue
            if fmt != "PARQUET":
                raise NotImplementedError(
                    f"iceberg changelog over {fmt} data files")
            tgt = (added if e.get("status") == 1
                   else removed if e.get("status") == 2
                   else None)
            if tgt is not None:
                tgt[_resolve(df_["file_path"], path)] = (
                    dict(df_.get("partition") or {}), mspec,
                    int(seq))
    # predecessor artifacts: the parent's delete manifests only —
    # needed whenever this snapshot deletes rows OR removes files
    # (a removed file's already-dead rows must not re-emit)
    prev_pos, prev_eq, prev_dvs = [], [], {}
    if parent_sid is not None and (new_dvs or new_pos or new_eq
                                   or removed):
        prev_pos, prev_eq, prev_dvs = _delete_artifacts(
            path, meta, by_id, parent_sid, name_of_fid or {})
    return (added, removed, new_dvs, prev_dvs,
            new_pos, new_eq, prev_pos, prev_eq)


def _lookup_partitions(path, meta, by_id, sid, need):
    """(pvals, spec, seq) of the RETAINED files a delete targets:
    decode the snapshot's data manifests with EARLY EXIT once every
    needed path resolved — worst case the live set, typically one
    manifest."""
    from .avro import decode_avro_datums
    snap2 = by_id[sid]
    with open(_resolve(snap2["manifest-list"], path),
              "rb") as fh:
        _s0, manifests = decode_avro_datums(fh.read())
    default_spec_id = meta.get("default-spec-id", 0)
    out, todo = {}, set(need)
    for m in manifests:
        if not todo:
            break
        if (m.get("content", 0) or 0) != 0:
            continue
        mspec = m.get("partition_spec_id")
        if mspec is None:
            mspec = default_spec_id
        with open(_resolve(m["manifest_path"], path),
                  "rb") as fh:
            _s1, entries = decode_avro_datums(fh.read())
        for e in entries:
            if e.get("status") == 2:
                continue
            df_ = e["data_file"]
            p = _resolve(df_["file_path"], path)
            if p in todo:
                seq = e.get("sequence_number")
                if seq is None:
                    seq = m.get("sequence_number") or 0
                out[p] = (dict(df_.get("partition") or {}),
                          mspec, int(seq))
                todo.discard(p)
    if todo:
        raise ValueError(
            f"iceberg changelog: delete artifact references "
            f"data file(s) not live in snapshot {sid}: "
            f"{sorted(todo)[:3]}")
    return out


def _live_files_of(path, meta, by_id, sid):
    """EVERY live data file of snapshot ``sid`` as ``{abs:
    (pvals, spec, seq)}`` — the equality-delete side of the
    changelog needs the parent's full live set with sequence
    numbers below the delete's (an equality delete's honest scope
    is the whole table); planning is O(live manifest entries), the
    same class as ``live_data_files``."""
    from .avro import decode_avro_datums
    snap2 = by_id[sid]
    with open(_resolve(snap2["manifest-list"], path),
              "rb") as fh:
        _s0, manifests = decode_avro_datums(fh.read())
    default_spec_id = meta.get("default-spec-id", 0)
    out = {}
    for m in manifests:
        if (m.get("content", 0) or 0) != 0:
            continue
        mspec = m.get("partition_spec_id")
        if mspec is None:
            mspec = default_spec_id
        with open(_resolve(m["manifest_path"], path),
                  "rb") as fh:
            _s1, entries = decode_avro_datums(fh.read())
        for e in entries:
            if e.get("status") == 2:
                continue
            df_ = e["data_file"]
            if (df_.get("content", 0) or 0) != 0:
                continue
            seq = e.get("sequence_number")
            if seq is None:
                seq = m.get("sequence_number") or 0
            out[_resolve(df_["file_path"], path)] = (
                dict(df_.get("partition") or {}), mspec, int(seq))
    return out

def read_iceberg_changes(spark, path: str,
                         from_snapshot_id: int | None = None,
                         to_snapshot_id: int | None = None):
    """Iceberg CHANGELOG read (v2 deletes and flat schema
    evolution included) — the row-level change feed real engines expose as
    the ``changes`` / changelog table: for every snapshot AFTER
    ``from_snapshot_id`` (exclusive; None = from table start) up TO
    ``to_snapshot_id`` (inclusive; None = current), emit the rows of
    files the snapshot ADDED as ``insert`` and the rows it deleted as
    ``delete``: whole files it REMOVED (minus rows that were already
    dead at the parent — a dropped file's previously-deleted rows
    must not re-emit), rows newly dead under v3 DELETION VECTORS it
    wrote (a replacement DV contributes only its NEW positions), rows
    newly dead under v2 POSITION-DELETE files it added, and rows
    newly dead under v2 EQUALITY deletes it added (scoped to data
    files with sequence number STRICTLY below the delete's, matched
    null-safely, minus the parent's already-dead rows) — the
    merge-on-read shapes real v2 tables deliver row-level deletes as.
    Snapshots whose summary operation is
    ``replace`` (compactions: file rewrites with no logical change)
    emit nothing, as in Iceberg's own changelog scan.  Output
    columns: the table's columns plus ``_change_type``
    (insert/delete), ``_change_ordinal`` (0-based position of the
    snapshot in the requested span) and ``_commit_snapshot_id``.

    Schema evolution: renamed/added columns resolve per-file
    by parquet footer FIELD ID (one distributed footer job per scan
    — the same layout tap batch reads use), with v3
    ``initial-default`` values for files predating an added column;
    NESTED columns resolve through the footer field-id TREES with
    the same JVM remap batch reads use, so renamed struct fields
    inside a column re-emit under their current names too.

    Scope gates (loud): parquet data files only.  Scale shape: each
    snapshot's insert/remove side scans only its ADDED/REMOVED files
    (O(changed files)); position-delete targets resolve through one
    small distinct-paths job + an early-exit manifest lookup; an
    EQUALITY delete's affected set is the parent's live files below
    its sequence number — the honest cost of an equality delete (it
    can target the whole table); all delete sets stay distributed as
    ``(file, position)`` key frames (semi/anti joins, AQE broadcasts
    small sides), the driver never holds positions or bitmaps."""
    from pyspark.sql import functions as F

    from .layouts import parquet_field_layouts
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    _check_format_version(meta, path)
    snaps = meta.get("snapshots", [])
    by_id = {s["snapshot-id"]: s for s in snaps}
    current = to_snapshot_id is None
    if to_snapshot_id is None:
        to_snapshot_id = meta.get("current-snapshot-id")
    if to_snapshot_id not in by_id:
        raise ValueError(f"no snapshot {to_snapshot_id} at {path}")
    # the commit chain (to .. from], oldest first
    chain = []
    cur = to_snapshot_id
    while cur is not None and cur != from_snapshot_id:
        if cur not in by_id:
            break
        chain.append(by_id[cur])
        cur = by_id[cur].get("parent-snapshot-id")
    if from_snapshot_id is not None and cur != from_snapshot_id:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_snapshot_id} at {path}")
    chain.reverse()
    fields, _ps, _files, _d = live_data_files(
        path, to_snapshot_id, use_current_schema=current)
    bad_fmt = sorted({f[3] for f in _files if f[3] != "PARQUET"})
    if bad_fmt:
        raise NotImplementedError(
            f"iceberg changelog over {bad_fmt} data files")
    types = dict(fields)
    field_names = [n for n, _t in fields]
    ddl = ", ".join(f"{n} {t}" for n, t in fields)
    sch_id = (None if current
              else by_id[to_snapshot_id].get("schema-id"))
    fld_ids, n_schemas = _schema_inventory(path, sch_id)
    evolved = n_schemas > 1
    raw_fields = _schema_fields_json(path, sch_id)
    nested_cols = {n for n, f in raw_fields.items()
                   if not isinstance(f["type"], str)}
    nested_mode = evolved and bool(nested_cols & set(field_names))
    # v3 initial-defaults: a column added with a default reads the
    # DEFAULT (not null) from files predating it
    defaults = {n: F.lit(_ice_default_py(f["initial-default"],
                                         types[n], n)).cast(types[n])
                for n, f in raw_fields.items()
                if f.get("initial-default") is not None
                and n in types}
    name_of_fid = {v: k for k, v in fld_ids.items()}
    specs_by_id = {s: _parse_part_spec(sp, name_of_fid)
                   for s, sp in _raw_specs(meta).items()}
    ident_of = {s: {src: fname for t, _p, src, fname in sp
                    if t == "identity"}
                for s, sp in specs_by_id.items()}

    def _norm(col):
        # delete files record paths as the writer did (URI/relative)
        # — normalize to plain absolute, Spark-side
        c = F.regexp_replace(col, "^file:/+", "/")
        return F.when(c.startswith("/"), c).otherwise(
            F.concat(F.lit(os.path.abspath(path) + "/"), c))

    def _rows(file_map, with_keys):
        """One logical scan over ``file_map`` (``{abs: (pvals, spec,
        seq)}``): the table's columns, resolved per-file by footer
        field id when the schema evolved (grouped so each distinct
        layout is ONE parquet scan), identity partition values and
        the file's sequence number re-attached from a broadcast
        file map; ``with_keys`` keeps ``__fp``/``__pos``/``__seq``
        for the caller's row diffs."""
        paths = sorted(file_map)
        attach = sorted({src for p in paths
                         for src in ident_of.get(file_map[p][1], {})}
                        & set(types))
        lay_of: dict = {}
        if nested_mode:
            # evolved table WITH nested columns: footer TREES
            # carry nested field ids, so renamed struct fields
            # inside a column resolve per file — the same one-job
            # tap + JVM remap batch reads use
            from .nested import match_tree_ice, parquet_field_trees
            for p, trees in parquet_field_trees(
                    spark, paths).items():
                byfid = {t0[0]: t0 for t0 in trees
                         if t0[0] is not None}
                byname = {t0[1]: t0 for t0 in trees}
                m = {}
                for n2 in field_names:
                    fid = fld_ids.get(n2)
                    node = (byfid.get(fid) if fid is not None
                            else None)
                    if node is None:
                        node = byname.get(n2)
                    if node is None:
                        continue      # column postdates this file
                    if n2 in nested_cols:
                        pt = match_tree_ice(
                            raw_fields[n2]["type"], node)
                        m[n2] = (node[1], json.dumps(pt))
                    else:
                        m[n2] = (node[1], "")
                lay_of[p] = tuple(sorted(m.items()))
        elif evolved:
            for p, flds in parquet_field_layouts(
                    spark, paths).items():
                byfid = {fid: nm for fid, nm in flds
                         if fid is not None}
                names = {nm for _f, nm in flds}
                m = {}
                for n2 in field_names:
                    fid = fld_ids.get(n2)
                    if fid is not None and fid in byfid:
                        m[n2] = byfid[fid]
                    elif n2 in names:
                        m[n2] = n2
                lay_of[p] = tuple(sorted(m.items()))
        groups: dict = {}
        for p in paths:
            groups.setdefault(lay_of.get(p, ()), []).append(p)
        need_fp = with_keys or bool(attach)

        def _absent(n):
            # a column absent from the file: identity sources fill
            # from the partition-metadata attach (a non-null default
            # here would SHADOW the coalesce), others read their
            # initial-default, else null
            if n in attach:
                return F.lit(None).cast(types[n])
            return defaults.get(n, F.lit(None).cast(types[n]))

        parts2 = []
        for lay, ps in sorted(groups.items()):
            if nested_mode:
                lmap = {n: (pn, json.loads(ptj) if ptj else None)
                        for n, (pn, ptj) in dict(lay).items()}
                ddl_g = ", ".join(
                    f"`{lmap[n][0]}` "
                    + (_ice_phys_ddl(lmap[n][1]) if lmap[n][1]
                       else types[n])
                    for n in field_names if n in lmap)
            elif evolved:
                lmap = dict(lay)
                ddl_g = ", ".join(f"`{lmap[n]}` {types[n]}"
                                  for n in field_names if n in lmap)
            else:
                lmap = None
                ddl_g = ddl
            df = spark.read.schema(ddl_g).parquet(*ps)
            if nested_mode:
                from .nested import remap_expr, remap_needed
                for n in field_names:
                    if n not in lmap:    # column postdates the file
                        df = df.withColumn(n, _absent(n))
                        continue
                    pn, pt2 = lmap[n]
                    if pn != n:
                        df = df.withColumnRenamed(pn, n)
                    if pt2 is not None:
                        src = _ice_to_spark_json(pt2)
                        dst = _ice_to_spark_json(
                            raw_fields[n]["type"])
                        if remap_needed(src, dst):
                            df = df.withColumn(
                                n, remap_expr(F.col(f"`{n}`"),
                                              src, dst))
            elif evolved:
                for n in field_names:
                    if n in lmap and lmap[n] != n:
                        df = df.withColumnRenamed(lmap[n], n)
                    elif n not in lmap:  # column postdates the file
                        df = df.withColumn(n, _absent(n))
            if need_fp:
                df = df.withColumn(
                    "__fp", _norm(F.col("_metadata.file_path")))
            if with_keys:
                df = df.withColumn("__pos",
                                   F.col("_metadata.row_index"))
            parts2.append(df.select(
                *(field_names
                  + (["__fp"] if need_fp else [])
                  + (["__pos"] if with_keys else []))))
        out2 = parts2[0]
        for q in parts2[1:]:
            out2 = out2.unionByName(q)
        if attach or with_keys:
            pm_rows = []
            for p in paths:
                pvals, sp, seq = file_map[p]
                fname_of = ident_of.get(sp, {})
                vals = []
                for c in attach:
                    fname = fname_of.get(c)
                    v = (pvals.get(fname)
                         if fname is not None and fname in pvals
                         else None)
                    vals.append(None if v is None else str(v))
                pm_rows.append((p, int(seq), *vals))
            pm_ddl = ", ".join(
                ["__fp string", "__mseq bigint"]
                + [f"`{c}__m` string" for c in attach])
            pm = F.broadcast(spark.createDataFrame(pm_rows, pm_ddl))
            out2 = out2.join(pm, on="__fp", how="left")
            # fail CLOSED on a path-normalization miss (every row
            # here is parquet with a non-null __fp)
            miss = F.col("__mseq").isNull()

            def _checked(val):
                return F.when(miss, F.raise_error(F.lit(
                    "iceberg changelog attach map missed a scanned "
                    "file path — refusing to degrade to NULL "
                    "partition values / unscoped equality deletes"
                ))).otherwise(val)

            for c in attach:
                out2 = out2.withColumn(
                    c, F.coalesce(F.col(c),
                                  _checked(F.col(f"{c}__m")
                                           .cast(types[c]))))
            if with_keys:
                out2 = out2.withColumn("__seq",
                                       _checked(F.col("__mseq")))
            out2 = out2.drop("__mseq",
                             *[f"{c}__m" for c in attach])
        return out2

    def _finish(df, kind, ordinal, sid):
        return (df.select(*field_names)
                .withColumn("_change_type", F.lit(kind))
                .withColumn("_change_ordinal",
                            F.lit(ordinal).cast("int"))
                .withColumn("_commit_snapshot_id",
                            F.lit(int(sid)).cast("bigint")))

    def _pos_keys(pos_paths):
        """(fp,pos) keys of v2 position-delete parquet files — a
        distributed scan, normalized Spark-side."""
        return (spark.read.schema("file_path string, pos bigint")
                .parquet(*sorted(pos_paths))
                .select(_norm(F.col("file_path")).alias("__fp"),
                        F.col("pos").alias("__pos")))

    def _dv_keys(dv_map):
        """Full (fp,pos) expansion of ``{ref: (puffin, off, sz)}`` —
        blobs decode on the EXECUTORS, the driver never holds a
        bitmap."""
        rows3 = [(pp, int(off), int(sz), ref)
                 for ref, (pp, off, sz) in sorted(dv_map.items())]

        def _expand(batches):
            import pandas as pd
            for pdf in batches:
                for p2, off2, sz2, ref2 in zip(
                        pdf["path"], pdf["off"], pdf["sz"],
                        pdf["ref"]):
                    pos2 = _read_puffin_dv(p2, int(off2), int(sz2))
                    yield pd.DataFrame({"__fp": [ref2] * len(pos2),
                                        "__pos": pos2})

        n3 = min(len(rows3),
                 max(32, spark.sparkContext.defaultParallelism))
        return (spark.createDataFrame(
            rows3, "path string, off bigint, sz bigint, ref string")
            .repartition(n3, "path", "off")
            .mapInPandas(_expand, "__fp string, __pos bigint"))

    def _eq_key_frames(rows_frame, eq_items):
        """(fp,pos) keys of ``rows_frame`` rows matched by the
        equality-delete files ``[(abs, seq, names)]`` — null-safe
        equality, strict ``file seq < delete seq`` scope, resolved
        by field id on evolved tables."""
        by_eq: dict = {}
        for p, s2, e in eq_items:
            by_eq.setdefault(tuple(e), []).append((p, s2))
        eq_layouts: dict = {}
        if evolved:
            eq_layouts = parquet_field_layouts(
                spark, [p for p, _s, _e in eq_items])
        frames = []
        for eq_names, pfs in sorted(by_eq.items()):
            dels = _eq_delete_union(spark, pfs, eq_names,
                                    eq_layouts, fld_ids, types,
                                    evolved)
            t = rows_frame.alias("t")
            d = dels.alias("d")
            cond = F.col("t.__seq") < F.col("d.__dseq")
            for n in eq_names:
                cond = cond & F.col(f"t.`{n}`").eqNullSafe(
                    F.col(f"d.`{n}`"))
            frames.append(t.join(d, on=cond, how="left_semi")
                          .select("__fp", "__pos"))
        return frames

    def _dead_keys(rows_frame, pos_paths, dv_map, eq_items):
        """Distinct (fp,pos) keys dead under the given delete
        artifacts (None when there are none).  Superset keys
        (targets outside ``rows_frame``'s files) are harmless —
        they match nothing."""
        frames = []
        if pos_paths:
            frames.append(_pos_keys(pos_paths))
        if dv_map:
            frames.append(_dv_keys(dv_map))
        if eq_items:
            frames.extend(_eq_key_frames(rows_frame, eq_items))
        if not frames:
            return None
        out3 = frames[0]
        for f3 in frames[1:]:
            out3 = out3.unionByName(f3)
        return out3.distinct()

    def _dv_frame(entries):
        """[(puffin, off, sz, ref, old_puffin|None, old_off,
        old_sz)] -> (fp, pos) frame of each DV's positions MINUS its
        predecessor's — BOTH vectors decode in the task, the driver
        never holds a bitmap."""
        def _expand(batches):
            import pandas as pd
            for pdf in batches:
                for (p2, off2, sz2, ref2, op2, ooff2, osz2) in zip(
                        pdf["path"], pdf["off"], pdf["sz"],
                        pdf["ref"], pdf["old_path"], pdf["old_off"],
                        pdf["old_sz"]):
                    pos2 = _read_puffin_dv(p2, int(off2), int(sz2))
                    base = (set(_read_puffin_dv(op2, int(ooff2),
                                                int(osz2)))
                            if op2 is not None else set())
                    new = [x for x in pos2 if x not in base]
                    yield pd.DataFrame({"__fp": [ref2] * len(new),
                                        "__pos": new})
        n = min(len(entries),
                max(32, spark.sparkContext.defaultParallelism))
        return (spark.createDataFrame(
            entries, "path string, off bigint, sz bigint, "
                     "ref string, old_path string, old_off bigint, "
                     "old_sz bigint")
            .repartition(n, "path", "off")
            .mapInPandas(_expand, "__fp string, __pos bigint"))

    parts = []
    for ordinal, s in enumerate(chain):
        sid = s["snapshot-id"]
        if (s.get("summary") or {}).get("operation") == "replace":
            # compaction: rewrites files, no logical row change —
            # Iceberg's own changelog scan skips these too
            continue
        (added, removed, new_dvs, prev_dvs,
         new_pos, new_eq, prev_pos, prev_eq) = _snapshot_changes(
            path, meta, by_id, sid, s.get("parent-snapshot-id"),
            name_of_fid=name_of_fid)
        prev_any = bool(prev_pos or prev_eq or prev_dvs)
        if added:
            parts.append(_finish(_rows(added, False), "insert",
                                 ordinal, sid))
        if removed:
            if prev_any:
                # a removed file's rows already dead at the parent
                # (its position/equality deletes, its DV) were
                # deleted in EARLIER snapshots — emitting them again
                # would double-count the delete
                rr = _rows(removed, True)
                dead_prev = _dead_keys(
                    rr, prev_pos,
                    {r: v for r, v in prev_dvs.items()
                     if r in removed}, prev_eq)
                if dead_prev is not None:
                    rr = rr.join(dead_prev, on=["__fp", "__pos"],
                                 how="left_anti")
                parts.append(_finish(rr, "delete", ordinal, sid))
            else:
                parts.append(_finish(_rows(removed, False),
                                     "delete", ordinal, sid))
        # v2 delete files NEW in this snapshot: rows newly
        # dead = rows matched by the new deletes, minus rows already
        # dead at the parent.  Deletes whose target file left with
        # the removes contribute nothing (those rows just emitted as
        # whole-file deletes); deletes targeting files ADDED in this
        # same snapshot emit same-ordinal delete rows (MOR-upsert
        # shape — consumers fold by ordinal, as with DVs).
        if new_pos or new_eq:
            affected: dict = {}
            if new_pos:
                refs = {r["__fp"] for r in
                        _pos_keys(new_pos).select("__fp")
                        .distinct().collect()}
                refs -= set(removed)
                take = {r: added[r] for r in refs if r in added}
                missing = refs - set(take)
                if missing:
                    take.update(_lookup_partitions(
                        path, meta, by_id, sid, missing))
                affected.update(take)
            if new_eq:
                max_dseq = max(s2 for _p, s2, _e in new_eq)
                psid = s.get("parent-snapshot-id")
                if psid is not None and psid in by_id:
                    for p2, v in _live_files_of(
                            path, meta, by_id, psid).items():
                        if v[2] < max_dseq and p2 not in removed:
                            affected.setdefault(p2, v)
            if affected:
                ra = _rows(affected, True)
                newdead = _dead_keys(ra, new_pos, {}, new_eq)
                emit = ra.join(newdead, on=["__fp", "__pos"],
                               how="left_semi")
                if prev_any:
                    dead_prev = _dead_keys(
                        ra, prev_pos,
                        {r: v for r, v in prev_dvs.items()
                         if r in affected}, prev_eq)
                    if dead_prev is not None:
                        emit = emit.join(dead_prev,
                                         on=["__fp", "__pos"],
                                         how="left_anti")
                parts.append(_finish(emit, "delete", ordinal, sid))
        # DV deltas on RETAINED files: new or replaced vectors
        dv_entries = []
        for ref, (pp, off, sz) in sorted(new_dvs.items()):
            if ref in removed or ref in added:
                # its file left with the removes, or the DV rode the
                # same snapshot as its file's add (MOR-upsert shape:
                # the insert scan emits ALL rows, the DV rows pair
                # with same-ordinal deletes — consumers fold by
                # ordinal)
                if ref in removed:
                    continue
            old = prev_dvs.get(ref)
            if old == (pp, off, sz):
                continue                  # unchanged, carried forward
            dv_entries.append((pp, int(off), int(sz), ref,
                               old[0] if old else None,
                               int(old[1]) if old else 0,
                               int(old[2]) if old else 0))
        if dv_entries:
            dead = _dv_frame(dv_entries)
            need = {e[3] for e in dv_entries}
            targets = {r: added[r] for r in need if r in added}
            targets.update(_lookup_partitions(
                path, meta, by_id, sid, need - set(targets)))
            rt = _rows(targets, True)
            parts.append(_finish(
                rt.join(dead, on=["__fp", "__pos"],
                        how="left_semi"),
                "delete", ordinal, sid))
    if not parts:
        return spark.createDataFrame(
            [], ddl + ", _change_type string, _change_ordinal int, "
                      "_commit_snapshot_id bigint")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def iceberg_changelog_view(spark, path: str,
                           identifier_columns=None,
                           net_changes: bool = False,
                           from_snapshot_id: int | None = None,
                           to_snapshot_id: int | None = None):
    """The PROCESSED changelog view real engines build over the raw
    feed (Iceberg's ``create_changelog_view`` procedure), on
    top of :func:`read_iceberg_changes`:

    - **carry-over removal** (always): a row emitted as both
      ``delete`` and ``insert`` with identical values in the SAME
      snapshot is a copy-on-write rewrite artifact, not a change —
      the pairs cancel (multiplicity-aware: signed counts per value
      tuple, surviving |net| rows re-emit).
    - **update pairing** (``identifier_columns``): a surviving
      delete and insert in the same snapshot sharing identifier
      values become ``update_before`` / ``update_after``.
      Ambiguous pairings (an identifier tuple appearing more than
      once on either side of one snapshot) fail loudly at execution
      — the procedure's identifier-uniqueness precondition, checked
      instead of assumed.
    - **net changes** (``net_changes=True``, exclusive with
      update pairing per Iceberg's own rule): only each row's NET
      effect across the whole span survives (insert-then-delete
      vanishes), tagged with the LAST snapshot that touched it.

    Scale shape: everything is groupBy/join work on the raw feed's
    columns — signed-count aggregation instead of row-pair
    windowing, identifier joins hash-partition by identifier, AQE
    broadcasts small sides.  Tables whose columns cannot be grouped
    (map-typed) are rejected by Spark's own analyzer."""
    from pyspark.sql import functions as F
    if net_changes and identifier_columns:
        raise ValueError(
            "net_changes cannot be combined with identifier_columns "
            "(Iceberg create_changelog_view disallows computing "
            "updates over net changes)")
    raw = read_iceberg_changes(spark, path, from_snapshot_id,
                               to_snapshot_id)
    meta_cols = ["_change_type", "_change_ordinal",
                 "_commit_snapshot_id"]
    cols = [c for c in raw.columns if c not in meta_cols]
    sgn = F.when(F.col("_change_type") == "insert",
                 F.lit(1)).otherwise(F.lit(-1))
    if net_changes:
        g = (raw.groupBy(*cols)
             .agg(F.sum(sgn).alias("__net"),
                  F.max(F.struct("_change_ordinal",
                                 "_commit_snapshot_id"))
                  .alias("__last")))
        out = (g.where(F.col("__net") != 0)
               .withColumn("__n", F.explode(F.sequence(
                   F.lit(1), F.abs(F.col("__net")))))
               .withColumn("_change_type",
                           F.when(F.col("__net") > 0,
                                  F.lit("insert"))
                           .otherwise(F.lit("delete")))
               .withColumn("_change_ordinal",
                           F.col("__last._change_ordinal"))
               .withColumn("_commit_snapshot_id",
                           F.col("__last._commit_snapshot_id")))
        return out.select(*cols, *meta_cols)
    # carry-over removal: signed counts per (values, snapshot)
    g = (raw.groupBy(*cols, "_change_ordinal",
                     "_commit_snapshot_id")
         .agg(F.sum(sgn).alias("__net")))
    base = (g.where(F.col("__net") != 0)
            .withColumn("__n", F.explode(F.sequence(
                F.lit(1), F.abs(F.col("__net")))))
            .withColumn("_change_type",
                        F.when(F.col("__net") > 0, F.lit("insert"))
                        .otherwise(F.lit("delete")))
            .drop("__net", "__n"))
    if not identifier_columns:
        return base.select(*cols, *meta_cols)
    ident = list(identifier_columns)
    missing = sorted(set(ident) - set(cols))
    if missing:
        raise ValueError(
            f"identifier columns {missing} not in table columns")
    key = ident + ["_change_ordinal"]
    dels = base.where(F.col("_change_type") == "delete")
    ins = base.where(F.col("_change_type") == "insert")
    dk = dels.groupBy(*key).agg(F.count(F.lit(1)).alias("__dc"))
    ik = ins.groupBy(*key).agg(F.count(F.lit(1)).alias("__ic"))
    # the guard rides a FILTER (a raise_error in a dropped column
    # would be pruned away unevaluated)
    pk = (dk.join(ik, on=key, how="inner")
          .where(F.when((F.col("__dc") > 1) | (F.col("__ic") > 1),
                        F.raise_error(F.lit(
                            "iceberg changelog view: identifier "
                            "columns are not unique within a "
                            "snapshot — update pairing would be "
                            "ambiguous")))
                 .otherwise(F.lit(True)))
          .select(*key))
    ub = (dels.join(pk, on=key, how="left_semi")
          .withColumn("_change_type", F.lit("update_before")))
    ua = (ins.join(pk, on=key, how="left_semi")
          .withColumn("_change_type", F.lit("update_after")))
    rest = (dels.join(pk, on=key, how="left_anti")
            .unionByName(ins.join(pk, on=key, how="left_anti")))
    return (rest.unionByName(ub).unionByName(ua)
            .select(*cols, *meta_cols))


def _reachable_files(path: str, meta: dict, snapshot_ids,
                     live_only: bool = False):
    """Every file reachable from the given snapshots: manifest
    lists, manifest files, data files and delete/puffin files —
    absolute paths.  ``live_only=True`` counts only LIVE entries
    (status != DELETED): what a reader can ever open from those
    snapshots — the retained side of an expiry diff (a tombstoned
    path in a kept manifest never scans, so the bytes are
    reclaimable once no kept snapshot serves them live).  Driver
    planning, O(total manifest entries) across the given snapshots
    (manifests shared between snapshots decode once)."""
    from .avro import decode_avro_datums
    by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    mlists, manifests, data = set(), set(), set()
    seen_manifest = {}
    for sid in snapshot_ids:
        s = by_id.get(sid)
        if s is None:
            continue
        ml = _resolve(s["manifest-list"], path)
        mlists.add(ml)
        with open(ml, "rb") as fh:
            _s0, mans = decode_avro_datums(fh.read())
        for m in mans:
            mp = _resolve(m["manifest_path"], path)
            manifests.add(mp)
            if mp not in seen_manifest:
                with open(mp, "rb") as fh:
                    _s1, entries = decode_avro_datums(fh.read())
                seen_manifest[mp] = (
                    {_resolve(e["data_file"]["file_path"], path)
                     for e in entries},
                    {_resolve(e["data_file"]["file_path"], path)
                     for e in entries if e.get("status") != 2})
            data |= seen_manifest[mp][1 if live_only else 0]
    return mlists, manifests, data


def iceberg_orphan_files(spark, path: str):
    """Table MAINTENANCE: files under the table location that
    NO snapshot references — what Iceberg's ``remove_orphan_files``
    procedure deletes; aborted writes and crashed compactions leave
    them behind and at 100 TB they silently double storage.
    Returns a DataFrame ``(file_path, size_in_bytes)`` of orphans
    (data/delete/manifest files only — metadata JSONs, version hint
    and the metadata directory's bookkeeping are never listed as
    orphans).  The reference set walks EVERY snapshot's manifests
    (shared manifests decode once, O(total entries)); the listing
    here is a driver walk (at object-store scale you would feed the
    store's inventory listing into the same anti-join — the set
    difference itself is a join, not driver state)."""
    from pyspark.sql import functions as F
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    _check_format_version(meta, path)
    sids = [s["snapshot-id"] for s in meta.get("snapshots", [])]
    mlists, manifests, data = _reachable_files(path, meta, sids)
    referenced = mlists | manifests | data
    actual = []
    mdir = os.path.join(os.path.abspath(path), "metadata")
    for root, _dirs, files in os.walk(os.path.abspath(path)):
        for f in files:
            full = os.path.join(root, f)
            if root == mdir and (f.endswith(".metadata.json")
                                 or f == "version-hint.text"):
                continue            # table bookkeeping, never orphan
            actual.append((full, os.path.getsize(full)))
    adf = spark.createDataFrame(
        actual, "file_path string, size_in_bytes bigint")
    ref = spark.createDataFrame(
        [(p,) for p in sorted(referenced)], "file_path string")
    return adf.join(F.broadcast(ref), on="file_path",
                    how="left_anti")


def iceberg_expire_snapshots_plan(spark, path: str,
                                  keep_last: int = 1,
                                  older_than_ms: int | None = None):
    """Table MAINTENANCE: the deletion plan Iceberg's
    ``expire_snapshots`` computes — snapshots older than
    ``older_than_ms`` (None = all but the keep set), always KEEPING
    the ``keep_last`` newest plus every branch/tag-referenced
    snapshot, and the files REACHABLE ONLY from the expired set
    (reachability diff against the kept snapshots: a data file a
    kept snapshot still references survives a shared-manifest
    expiry).  Returns a DataFrame ``(kind, ref)`` with kinds
    ``snapshot`` (the id), ``manifest_list``, ``manifest``,
    ``data_file`` — a PLAN, nothing is deleted.  Planning is
    O(total manifest entries) on the driver, the same class as the
    scan planner's own walk."""
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    _check_format_version(meta, path)
    snaps = sorted(meta.get("snapshots", []),
                   key=lambda s: (s.get("timestamp-ms", 0),
                                  s["snapshot-id"]))
    keep = {s["snapshot-id"] for s in snaps[-max(1, keep_last):]}
    for ref in (meta.get("refs") or {}).values():
        if ref.get("snapshot-id") is not None:
            keep.add(ref["snapshot-id"])
    cur = meta.get("current-snapshot-id")
    if cur is not None:
        keep.add(cur)
    expired = [s["snapshot-id"] for s in snaps
               if s["snapshot-id"] not in keep
               and (older_than_ms is None
                    or s.get("timestamp-ms", 0) < older_than_ms)]
    kept = [s["snapshot-id"] for s in snaps
            if s["snapshot-id"] not in expired]
    eml, eman, edata = _reachable_files(path, meta, expired)
    # the kept side counts only LIVE entries: a file a kept
    # snapshot carries purely as a DELETED tombstone never scans
    # again once the expired snapshots (the only ones that served
    # it live) are gone — its bytes are reclaimable, exactly what
    # expire_snapshots exists to do
    kml, kman, kdata = _reachable_files(path, meta, kept,
                                        live_only=True)
    rows = ([("snapshot", str(sid)) for sid in expired]
            + [("manifest_list", p) for p in sorted(eml - kml)]
            + [("manifest", p) for p in sorted(eman - kman)]
            + [("data_file", p) for p in sorted(edata - kdata)])
    return spark.createDataFrame(rows or [],
                                 "kind string, ref string")
