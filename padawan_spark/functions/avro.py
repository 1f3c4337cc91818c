"""Avro Object Container File codec, dependency-free (Avro 1.11 spec):
the row-oriented interchange format data-engineering pipelines emit
from Kafka/Flink land.  Spark ships Avro support as an external
package only, so this engine reads it through a pure-Python decoder
plugged into the Spark 4 Python Data Source API
(:mod:`padawan_spark.sources.pysource` registers ``padawan_avro``) —
real schema, one task per file, Catalyst-visible columns.

Supported: flat records over null/boolean/int/long/float/double/
bytes/string and the ``["null", T]`` nullable union; ``null`` and
``deflate`` codecs.  Nested records/arrays/maps raise an honest
``NotImplementedError``.
"""

from __future__ import annotations

import json
import struct

_MAGIC = b"Obj\x01"


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(b: bytes, pos: int) -> tuple[int, int]:
    u = shift = 0
    while True:
        byte = b[pos]
        pos += 1
        u |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _norm_type(t):
    """Normalize a field type to ``(base_type, null_idx)`` where
    ``base_type`` is a primitive name or a complex-type dict and
    ``null_idx`` is the union branch index of ``"null"`` (0 or 1), or
    ``None`` for a non-union type.  Spec-valid files may declare either
    ``["null", T]`` or ``[T, "null"]`` — the encoded union index picks
    a BRANCH, not "is null", so the null branch position must travel
    with the type or values and nulls swap silently."""
    if isinstance(t, list):
        if len(t) == 2 and "null" in t:
            null_idx = t.index("null")
            return t[1 - null_idx], null_idx
        raise NotImplementedError(f"avro union {t}: only [null, T]")
    return t, None


def read_datum(b: bytes, pos: int, typ):
    """Generic datum decoder over the FULL recursive type grammar
    (needed for Iceberg manifests): records -> dicts, arrays ->
    lists, maps -> dicts, fixed -> bytes, plus all primitives and
    [null, T] unions."""
    typ, null_idx = _norm_type(typ)
    if null_idx is not None:
        idx, pos = _zigzag_decode(b, pos)
        if idx == null_idx:
            return None, pos
    if isinstance(typ, dict):
        kind = typ.get("type")
        if kind == "record":
            out = {}
            for f in typ["fields"]:
                out[f["name"]], pos = read_datum(b, pos, f["type"])
            return out, pos
        if kind == "array":
            items = []
            while True:
                n, pos = _zigzag_decode(b, pos)
                if n == 0:
                    return items, pos
                if n < 0:
                    n = -n
                    _, pos = _zigzag_decode(b, pos)   # block byte size
                for _ in range(n):
                    v, pos = read_datum(b, pos, typ["items"])
                    items.append(v)
        if kind == "map":
            out = {}
            while True:
                n, pos = _zigzag_decode(b, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _zigzag_decode(b, pos)
                for _ in range(n):
                    k, pos = _read_value(b, pos, "string")
                    out[k], pos = read_datum(b, pos, typ["values"])
            return out, pos
        if kind == "fixed":
            sz = typ["size"]
            return bytes(b[pos:pos + sz]), pos + sz
        if kind == "enum":
            i, pos = _zigzag_decode(b, pos)
            return typ["symbols"][i], pos
        if kind in ("int", "long", "float", "double", "boolean",
                    "bytes", "string", "null"):
            return _read_value(b, pos, kind)   # logical-type wrapper
        raise NotImplementedError(f"avro complex type {kind!r}")
    return _read_value(b, pos, typ)


def write_datum(out: bytearray, v, typ) -> None:
    """Inverse of :func:`read_datum` (Iceberg fixture writer)."""
    typ, null_idx = _norm_type(typ)
    if null_idx is not None:
        if v is None:
            out += _zigzag_encode(null_idx)
            return
        out += _zigzag_encode(1 - null_idx)
    if isinstance(typ, dict):
        kind = typ.get("type")
        if kind == "record":
            for f in typ["fields"]:
                write_datum(out, v[f["name"]], f["type"])
            return
        if kind == "array":
            if v:
                out += _zigzag_encode(len(v))
                for item in v:
                    write_datum(out, item, typ["items"])
            out += _zigzag_encode(0)
            return
        if kind == "map":
            if v:
                # dicts AND list-of-pairs (arrow's to_pylist form)
                items = v.items() if isinstance(v, dict) else v
                out += _zigzag_encode(len(v))
                for k, val in items:
                    _write_value(out, k, "string")
                    write_datum(out, val, typ["values"])
            out += _zigzag_encode(0)
            return
        if kind == "fixed":
            assert len(v) == typ["size"]
            out += bytes(v)
            return
        if kind == "enum":
            out += _zigzag_encode(typ["symbols"].index(v))
            return
        if kind in ("int", "long", "float", "double", "boolean",
                    "bytes", "string", "null"):
            _write_value(out, v, kind)
            return
        raise NotImplementedError(f"avro complex type {kind!r}")
    _write_value(out, v, typ)


def decode_avro_datums(b: bytes):
    """Decode a container file generically: returns
    ``(schema_dict, [datum])`` with each datum via :func:`read_datum`
    (dicts for records) — the reader Iceberg manifests go through."""
    import zlib
    schema, codec, sync, pos = parse_avro_header(b)
    rows = []
    while pos < len(b):
        n, pos = _zigzag_decode(b, pos)
        nbytes, pos = _zigzag_decode(b, pos)
        block = b[pos:pos + nbytes]
        pos += nbytes
        if b[pos:pos + 16] != sync:
            raise NotImplementedError("avro block sync mismatch")
        pos += 16
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        bp = 0
        for _ in range(n):
            v, bp = read_datum(block, bp, schema)
            rows.append(v)
    return schema, rows


def encode_avro_datums(schema: dict, datums, codec: str = "null") -> bytes:
    """Generic container writer for an arbitrary record schema
    (fixture twin of :func:`decode_avro_datums`)."""
    import zlib
    sync = bytes((i * 31 + 11) % 256 for i in range(16))
    out = bytearray(_MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    out += _zigzag_encode(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag_encode(len(kb)) + kb
        out += _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)
    out += sync
    body = bytearray()
    for d in datums:
        write_datum(body, d, schema)
    payload = (zlib.compress(bytes(body))[2:-4] if codec == "deflate"
               else bytes(body))
    out += _zigzag_encode(len(datums))
    out += _zigzag_encode(len(payload))
    out += payload + sync
    return bytes(out)


def _read_value(b: bytes, pos: int, typ: str):
    if typ == "null":
        return None, pos
    if typ == "boolean":
        return bool(b[pos]), pos + 1
    if typ in ("int", "long"):
        return _zigzag_decode(b, pos)
    if typ == "float":
        return struct.unpack_from("<f", b, pos)[0], pos + 4
    if typ == "double":
        return struct.unpack_from("<d", b, pos)[0], pos + 8
    if typ in ("bytes", "string"):
        n, pos = _zigzag_decode(b, pos)
        raw = b[pos:pos + n]
        return (raw.decode("utf-8") if typ == "string"
                else bytes(raw)), pos + n
    raise NotImplementedError(f"avro type {typ!r} unsupported")


def _write_value(out: bytearray, v, typ: str) -> None:
    if typ == "null":
        return
    if typ == "boolean":
        out.append(1 if v else 0)
    elif typ in ("int", "long"):
        out += _zigzag_encode(int(v))
    elif typ == "float":
        out += struct.pack("<f", v)
    elif typ == "double":
        out += struct.pack("<d", v)
    elif typ in ("bytes", "string"):
        raw = v.encode("utf-8") if typ == "string" else bytes(v)
        out += _zigzag_encode(len(raw)) + raw
    else:
        raise NotImplementedError(f"avro type {typ!r} unsupported")


def parse_avro_header(b: bytes):
    """Header walk: returns ``(schema_dict, codec, sync_marker,
    body_pos)``."""
    if b[:4] != _MAGIC:
        raise NotImplementedError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = _zigzag_decode(b, pos)
        if n == 0:
            break
        if n < 0:                        # block carries a byte size
            n = -n
            _, pos = _zigzag_decode(b, pos)
        for _ in range(n):
            klen, pos = _zigzag_decode(b, pos)
            key = b[pos:pos + klen].decode()
            pos += klen
            vlen, pos = _zigzag_decode(b, pos)
            meta[key] = b[pos:pos + vlen]
            pos += vlen
    sync = b[pos:pos + 16]
    pos += 16
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec!r} unsupported")
    return schema, codec, sync, pos


def _decode_blocks(b: bytes, pos: int, end: int, specs, codec,
                   sync) -> list[tuple]:
    """Decode the block frames in ``b[pos:end]`` (must start exactly
    at a block boundary) into row tuples."""
    import zlib
    rows: list[tuple] = []
    while pos < end:
        n, pos = _zigzag_decode(b, pos)
        nbytes, pos = _zigzag_decode(b, pos)
        block = b[pos:pos + nbytes]
        pos += nbytes
        if b[pos:pos + 16] != sync:
            raise NotImplementedError("avro block sync mismatch")
        pos += 16
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        bp = 0
        for _ in range(n):
            row = []
            for _name, typ, null_idx in specs:
                if null_idx is not None:
                    idx, bp = _zigzag_decode(block, bp)
                    if idx == null_idx:   # the declared null branch
                        row.append(None)
                        continue
                # complex types (record/array/map — nested
                # columns) route through the generic datum decoder
                v, bp = (_read_value(block, bp, typ)
                         if isinstance(typ, str)
                         else read_datum(block, bp, typ))
                row.append(v)
            rows.append(tuple(row))
    return rows


def _record_specs(schema):
    if schema.get("type") != "record":
        raise NotImplementedError("avro top-level must be a record")
    return [(f["name"], *_norm_type(f["type"]))
            for f in schema["fields"]]


def decode_avro_py(b: bytes):
    """Decode a container file to ``(field_specs, rows)`` where
    ``field_specs`` is ``[(name, type, nullable)]`` and rows are
    tuples in field order."""
    schema, codec, sync, pos = parse_avro_header(b)
    specs = _record_specs(schema)
    fields = [(n, t, nl is not None) for n, t, nl in specs]
    return fields, _decode_blocks(b, pos, len(b), specs, codec, sync)


def read_avro_header_file(path: str):
    """Parse a container file's header reading only as many bytes as
    the header needs (grown geometrically — embedded schema JSON can
    exceed any fixed prefix).  Returns ``(schema, codec, sync,
    header_len)``."""
    size = 1 << 16
    with open(path, "rb") as fh:
        while True:
            fh.seek(0)
            head = fh.read(size)
            try:
                return parse_avro_header(head)
            except IndexError:
                if len(head) < size:   # whole file read, still short
                    raise ValueError(
                        f"avro: truncated header in {path}")
                size *= 4


def scan_avro_block_ranges(path: str, target_bytes: int = 32 << 20):
    """Split a container file into byte ranges at BLOCK boundaries:
    walk the block frames reading ~20 bytes each (two varints) and
    seeking over the data, then coalesce consecutive blocks into
    ranges of about ``target_bytes``.  O(blocks) driver work with
    O(20 bytes) I/O per block — the scan that lets ONE multi-GB Avro
    file read as many parallel tasks instead of one.  Returns
    ``[(start, end)]`` covering every block exactly once."""
    import os as _os
    _schema, _codec, _sync, pos = read_avro_header_file(path)
    fsize = _os.path.getsize(path)
    ranges: list[list[int]] = []
    with open(path, "rb") as fh:
        while pos < fsize:
            fh.seek(pos)
            frame = fh.read(20)      # 2 varints, ≤10 bytes each
            _n, off1 = _zigzag_decode(frame, 0)
            nbytes, off2 = _zigzag_decode(frame, off1)
            end = pos + off2 + nbytes + 16       # data + sync marker
            if end > fsize:
                raise NotImplementedError(
                    f"avro: truncated block at {pos} in {path}")
            if ranges and (ranges[-1][1] - ranges[-1][0]) \
                    < target_bytes:
                ranges[-1][1] = end
            else:
                ranges.append([pos, end])
            pos = end
    return [(s, e) for s, e in ranges]


def decode_avro_py_range(path: str, start: int, end: int):
    """Decode only the blocks in ``[start, end)`` of a container
    file (a range from :func:`scan_avro_block_ranges`): header
    re-parsed for schema/codec/sync, then one seek + one read of the
    range itself.  Returns ``(field_specs, rows)`` like
    :func:`decode_avro_py`."""
    schema, codec, sync, _hlen = read_avro_header_file(path)
    specs = _record_specs(schema)
    fields = [(n, t, nl is not None) for n, t, nl in specs]
    with open(path, "rb") as fh:
        fh.seek(start)
        b = fh.read(end - start)
    return fields, _decode_blocks(b, 0, len(b), specs, codec, sync)


def encode_avro_py(fields, rows, codec: str = "null",
                   block_rows: int = 1000,
                   field_ids: dict | None = None) -> bytes:
    """Build a container file; ``fields`` is ``[(name, type,
    nullable)]``.  Fixture/round-trip twin of :func:`decode_avro_py`.
    ``field_ids``: ``{name: id}`` stamps each field with the
    ``field-id`` attribute Iceberg's Avro writers record — what lets
    an evolved reader resolve columns by id."""
    import zlib
    schema = {"type": "record", "name": "padawan_row", "fields": [
        {"name": n, "type": (["null", t] if nullable else t),
         **({"field-id": field_ids[n]}
            if field_ids and n in field_ids else {})}
        for n, t, nullable in fields]}
    sync = bytes((i * 29 + 7) % 256 for i in range(16))
    out = bytearray(_MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": codec.encode()}
    out += _zigzag_encode(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag_encode(len(kb)) + kb
        out += _zigzag_encode(len(v)) + v
    out += _zigzag_encode(0)
    out += sync
    for at in range(0, len(rows), block_rows):
        chunk = rows[at:at + block_rows]
        body = bytearray()
        for row in chunk:
            for (name, typ, nullable), v in zip(fields, row):
                if nullable:
                    if v is None:
                        body += _zigzag_encode(0)
                        continue
                    body += _zigzag_encode(1)
                if isinstance(typ, str):
                    _write_value(body, v, typ)
                else:
                    write_datum(body, v, typ)   # nested
        payload = (zlib.compress(bytes(body))[2:-4] if codec == "deflate"
                   else bytes(body))
        out += _zigzag_encode(len(chunk))
        out += _zigzag_encode(len(payload))
        out += payload + sync
    return bytes(out)


AVRO_TO_SPARK = {"boolean": "boolean", "int": "int", "long": "bigint",
                 "float": "float", "double": "double",
                 "string": "string", "bytes": "binary"}


def avro_type_ddl(t) -> str:
    """Avro type -> Spark DDL, recursive (record/array/map —
    nested Avro columns read natively); [null, T] unions unwrap;
    ``fixed`` scans as binary; logical-type annotations gate."""
    t, _nl = _norm_type(t)
    if isinstance(t, str):
        if t in AVRO_TO_SPARK:
            return AVRO_TO_SPARK[t]
        raise NotImplementedError(f"avro type {t!r}")
    if isinstance(t, dict):
        if "logicalType" in t:
            raise NotImplementedError(
                f"avro logicalType {t['logicalType']!r} in the "
                "generic source (decode it via the Hudi log path)")
        kind = t.get("type")
        if kind == "record":
            return "struct<" + ", ".join(
                f"`{f['name']}`: {avro_type_ddl(f['type'])}"
                for f in t["fields"]) + ">"
        if kind == "array":
            return f"array<{avro_type_ddl(t['items'])}>"
        if kind == "map":
            return f"map<string, {avro_type_ddl(t['values'])}>"
        if kind == "fixed":
            return "binary"
        if isinstance(kind, str) and kind in AVRO_TO_SPARK:
            return AVRO_TO_SPARK[kind]
    raise NotImplementedError(f"avro type {t!r}")


def avro_spark_schema(fields) -> str:
    """DDL schema string for a field-spec list."""
    return ", ".join(f"`{n}` {avro_type_ddl(t)}"
                     for n, t, _nl in fields)
