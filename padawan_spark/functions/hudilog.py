"""Hudi log-file (HoodieLogFormat) block codec, dependency-free —
the container that makes a table MERGE-ON-READ: each file slice is a
base parquet file plus ``.log`` files of typed blocks appended by
delta commits, merged at read time instead of rewritten at write
time.

Block layout follows the PUBLIC HoodieLogFormat version-1 structure
(interop surface beyond the reference engine, which has no log
format; the timeline counterpart lives in
:mod:`padawan_spark.functions.hudi`):

``#HUDI#`` magic, 8-byte length, 4-byte format version, 4-byte block
type, a (key→value) header map, 8-byte content length, content, a
footer map, and a trailing 8-byte total-size for reverse traversal.
All integers big-endian.  Header keys: 1=INSTANT_TIME,
2=TARGET_INSTANT_TIME, 3=SCHEMA, 4=COMMAND_BLOCK_TYPE.  Block types:
0=COMMAND (content: 4-byte command, 0=ROLLBACK_PREVIOUS_BLOCK),
1=DELETE (content: 4-byte version, 4-byte count, length-prefixed
UTF-8 record keys — the real format serializes HoodieKey records;
keys-only is the simplification, stated honestly), 3=AVRO_DATA
(content: 4-byte format version 3, 4-byte record count, then per
record a 4-byte length + one binary-encoded Avro datum of the
writer schema carried in the SCHEMA header).

Reader guarantees the two things a log reader MUST get right:
(1) ROLLBACK command blocks void every earlier block whose
INSTANT_TIME equals the command's TARGET_INSTANT_TIME — failed
writes leave blocks behind, rollback neutralizes them; (2) a
truncated/corrupt trailing block (torn write) stops the walk
cleanly instead of erroring, returning everything before it.
Filtering to COMMITTED instants is the caller's job (the timeline
lives next to the data, not in it).
"""

from __future__ import annotations

import json
import struct

MAGIC = b"#HUDI#"
FMT_VERSION = 1

BLOCK_COMMAND = 0
BLOCK_DELETE = 1
BLOCK_AVRO_DATA = 3
# real HoodieLogBlockType ordinals continue: 2=CORRUPT (never written
# deliberately), 4=HFILE_DATA, 5=PARQUET_DATA — the formats real Hudi
# writes for metadata tables (HFile, the default) and for
# hoodie.logfile.data.block.format=parquet tables
BLOCK_HFILE_DATA = 4
BLOCK_PARQUET_DATA = 5

DATA_BLOCK_TYPES = (BLOCK_AVRO_DATA, BLOCK_HFILE_DATA,
                    BLOCK_PARQUET_DATA)

H_INSTANT_TIME = 1
H_TARGET_INSTANT_TIME = 2
H_SCHEMA = 3
H_COMMAND_TYPE = 4

CMD_ROLLBACK_PREVIOUS_BLOCK = 0


def _pack_map(d: dict[int, str]) -> bytes:
    out = bytearray(struct.pack(">i", len(d)))
    for k in sorted(d):
        v = d[k].encode("utf-8")
        out += struct.pack(">ii", k, len(v)) + v
    return bytes(out)


def _unpack_map(b: bytes, pos: int):
    (n,) = struct.unpack_from(">i", b, pos)
    pos += 4
    out = {}
    for _ in range(n):
        k, ln = struct.unpack_from(">ii", b, pos)
        pos += 8
        out[k] = b[pos:pos + ln].decode("utf-8")
        pos += ln
    return out, pos


def encode_log_block(block_type: int, header: dict[int, str],
                     content: bytes, footer: dict[int, str] | None
                     = None) -> bytes:
    """One framed log block, byte-exact inverse of the reader."""
    body = bytearray()
    body += struct.pack(">i", FMT_VERSION)
    body += struct.pack(">i", block_type)
    body += _pack_map(header)
    body += struct.pack(">q", len(content)) + content
    body += _pack_map(footer or {})
    # trailer: total size of the block INCLUDING magic and both
    # length fields, for tail-first traversal
    total = len(MAGIC) + 8 + len(body) + 8
    body += struct.pack(">q", total)
    return MAGIC + struct.pack(">q", len(body)) + bytes(body)


def decode_log_blocks(b: bytes) -> list[dict]:
    """Walk every block: ``[{type, header, content, footer}]``.
    Rollback command blocks are APPLIED here (earlier blocks whose
    INSTANT_TIME matches the rollback target are dropped, and the
    command itself is not returned).  A torn trailing block ends the
    walk without error."""
    blocks: list[dict] = []
    pos = 0
    while pos < len(b):
        if b[pos:pos + len(MAGIC)] != MAGIC:
            break                                # torn write
        pos += len(MAGIC)
        if pos + 8 > len(b):
            break
        (ln,) = struct.unpack_from(">q", b, pos)
        pos += 8
        if pos + ln > len(b):
            break                                # truncated block
        body, pos = b[pos:pos + ln], pos + ln
        try:
            ver, btype = struct.unpack_from(">ii", body, 0)
            if ver != FMT_VERSION:
                raise NotImplementedError(
                    f"hudi log format version {ver}")
            header, p = _unpack_map(body, 8)
            (clen,) = struct.unpack_from(">q", body, p)
            p += 8
            content = body[p:p + clen]
            p += clen
            footer, p = _unpack_map(body, p)
        except struct.error:
            break                                # torn body
        if btype == BLOCK_COMMAND:
            (cmd,) = struct.unpack_from(">i", content, 0)
            if cmd == CMD_ROLLBACK_PREVIOUS_BLOCK:
                tgt = header.get(H_TARGET_INSTANT_TIME)
                blocks = [blk for blk in blocks
                          if blk["header"].get(H_INSTANT_TIME) != tgt]
                continue
            raise NotImplementedError(f"hudi log command {cmd}")
        blocks.append({"type": btype, "header": header,
                       "content": content, "footer": footer})
    return blocks


def encode_avro_data_block(instant: str, avro_schema: dict,
                           rows: list[dict]) -> bytes:
    """AVRO_DATA block: records binary-encoded with the in-repo Avro
    datum writer, writer schema carried in the SCHEMA header."""
    from .avro import write_datum
    content = bytearray(struct.pack(">ii", 3, len(rows)))
    for r in rows:
        buf = bytearray()
        write_datum(buf, r, avro_schema)
        content += struct.pack(">i", len(buf)) + buf
    return encode_log_block(
        BLOCK_AVRO_DATA,
        {H_INSTANT_TIME: instant,
         H_SCHEMA: json.dumps(avro_schema)},
        bytes(content))


def decode_avro_data_block(block: dict) -> list[dict]:
    from .avro import read_datum
    schema = json.loads(block["header"][H_SCHEMA])
    content = block["content"]
    _ver, n = struct.unpack_from(">ii", content, 0)
    pos, rows = 8, []
    for _ in range(n):
        (ln,) = struct.unpack_from(">i", content, pos)
        pos += 4
        datum, _end = read_datum(content[pos:pos + ln], 0, schema)
        rows.append(datum)
        pos += ln
    return rows


def decode_data_block(block: dict) -> list[dict]:
    """Decode ANY data block kind to record dicts — Avro (3) and
    HFile (4) datums through the in-repo Avro reader with the SCHEMA
    header's writer schema, Parquet (5) through pyarrow with temporal
    columns normalized to the Avro logical-type conventions (micros /
    epoch-days ints), so every consumer merges uniformly regardless
    of which block format the writer chose."""
    t = block["type"]
    if t == BLOCK_AVRO_DATA:
        return decode_avro_data_block(block)
    if t == BLOCK_HFILE_DATA:
        return decode_hfile_data_block(block)
    if t == BLOCK_PARQUET_DATA:
        return decode_parquet_data_block(block)
    raise NotImplementedError(f"hudi log data block type {t}")


def encode_hfile_data_block(instant: str, avro_schema: dict,
                            rows: list[dict],
                            key_field: str = "_hoodie_record_key",
                            compression: str = "none",
                            encoding: str = "none") -> bytes:
    """HFILE data block: content is a COMPLETE HFile whose cell keys
    are the record keys and whose values are binary Avro datums of
    the SCHEMA header's writer schema — the block format real Hudi
    writes for its metadata table.  ``compression``/``encoding``
    pass through to the HFile writer (GZ/Snappy blocks,
    PREFIX/DIFF/FAST_DIFF cell encodings)."""
    from .avro import write_datum
    from .hfile import build_hfile_bytes
    cells = []
    for r in rows:
        buf = bytearray()
        write_datum(buf, r, avro_schema)
        cells.append((str(r[key_field]).encode("utf-8"), bytes(buf)))
    content = build_hfile_bytes(
        cells, {b"schema": json.dumps(avro_schema).encode("utf-8")},
        compression=compression, encoding=encoding)
    return encode_log_block(
        BLOCK_HFILE_DATA,
        {H_INSTANT_TIME: instant,
         H_SCHEMA: json.dumps(avro_schema)},
        content)


def decode_hfile_data_block(block: dict) -> list[dict]:
    from .avro import read_datum
    from .hfile import read_hfile_bytes
    schema = json.loads(block["header"][H_SCHEMA])
    _info, cells = read_hfile_bytes(block["content"],
                                    label="<hfile log block>")
    out = []
    for _k, v in cells:
        datum, _end = read_datum(v, 0, schema)
        out.append(datum)
    return out


def encode_parquet_data_block(instant: str, table,
                              avro_schema: dict | None = None
                              ) -> bytes:
    """PARQUET data block: content is a complete parquet file of
    ``table`` (a ``pyarrow.Table`` including ``_hoodie_record_key``).
    The SCHEMA header carries the Avro writer schema when given, like
    real Hudi stamps on every data block."""
    import io

    import pyarrow.parquet as pq
    sink = io.BytesIO()
    pq.write_table(table, sink)
    header = {H_INSTANT_TIME: instant}
    if avro_schema is not None:
        header[H_SCHEMA] = json.dumps(avro_schema)
    return encode_log_block(BLOCK_PARQUET_DATA, header,
                            sink.getvalue())


def decode_parquet_data_block(block: dict) -> list[dict]:
    import pyarrow as pa
    import pyarrow.parquet as pq
    tb = pq.read_table(pa.BufferReader(block["content"]))

    def _has_temporal(t) -> bool:
        if pa.types.is_timestamp(t) or pa.types.is_date32(t):
            return True
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return _has_temporal(t.value_type)
        if pa.types.is_struct(t):
            return any(_has_temporal(f.type) for f in t)
        if pa.types.is_map(t):
            return (_has_temporal(t.key_type)
                    or _has_temporal(t.item_type))
        return False

    def _norm(t, to_int: bool):
        """Same tree with timestamps at micros (then int64) and
        date32 at int32 — two cast passes so a ns-unit source lands
        on MICROS before the int reinterpretation."""
        if pa.types.is_timestamp(t):
            return pa.int64() if to_int else pa.timestamp("us", t.tz)
        if pa.types.is_date32(t):
            return pa.int32() if to_int else t
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return pa.list_(_norm(t.value_type, to_int))
        if pa.types.is_struct(t):
            return pa.struct([pa.field(f.name, _norm(f.type, to_int))
                              for f in t])
        if pa.types.is_map(t):
            return pa.map_(_norm(t.key_type, to_int),
                           _norm(t.item_type, to_int))
        return t

    for i, f in enumerate(tb.schema):
        # normalize temporals (at ANY depth) to the Avro
        # logical-type conventions every other data-block kind uses
        # (micros / epoch-day ints)
        if _has_temporal(f.type):
            tb = tb.set_column(
                i, f.name,
                tb.column(i).cast(_norm(f.type, False))
                .cast(_norm(f.type, True)))
    return tb.to_pylist()


def encode_delete_block(instant: str, keys: list[str]) -> bytes:
    content = bytearray(struct.pack(">ii", 1, len(keys)))
    for k in keys:
        kb = k.encode("utf-8")
        content += struct.pack(">i", len(kb)) + kb
    return encode_log_block(BLOCK_DELETE,
                            {H_INSTANT_TIME: instant},
                            bytes(content))


def decode_delete_block(block: dict) -> list[str]:
    content = block["content"]
    _ver, n = struct.unpack_from(">ii", content, 0)
    pos, keys = 8, []
    for _ in range(n):
        (ln,) = struct.unpack_from(">i", content, pos)
        pos += 4
        keys.append(content[pos:pos + ln].decode("utf-8"))
        pos += ln
    return keys


def encode_rollback_block(instant: str, target_instant: str) -> bytes:
    return encode_log_block(
        BLOCK_COMMAND,
        {H_INSTANT_TIME: instant,
         H_TARGET_INSTANT_TIME: target_instant},
        struct.pack(">i", CMD_ROLLBACK_PREVIOUS_BLOCK))
