"""Minimal parquet FOOTER schema reader, dependency-free (the PUBLIC
parquet-format spec: Thrift compact protocol, ``FileMetaData`` struct).

Why it exists: pyarrow refuses to open
footers whose schema carries a logical type it does not know — the
VARIANT type Spark 4 writes being the live case — which breaks the
distributed field-id taps (:mod:`.layouts` / :mod:`.nested`) exactly
where Delta ``id``-mode column mapping needs them.  Spark's JVM
vectorized reader handles the DATA fine; only the pyarrow footer tap
fails.  This module walks just enough of the footer by hand to
recover ``(field_id, name)`` trees: the trailing ``len + PAR1``
framing, the compact-protocol struct walk, and ``FileMetaData``
field 2 (the ``SchemaElement`` list) — materializing only ``name``
(field 4), ``num_children`` (5), ``converted_type`` (6) and
``field_id`` (9) per element, skipping everything else (row-group
stats included) by type.

The recovered flat element list rebuilds into the SAME tree shape the
arrow tap emits (``[field_id | None, name, children]``): LIST- and
MAP-converted groups collapse their repeated intermediate level so a
list's child is its element and a map's children are ``[key, value]``
— what :func:`.nested.match_tree_delta` walks.  Unknown logical types
(VARIANT) are simply groups here; their top-level field id is all the
id tap needs (the variant leaf never remaps inside).

Used as the FALLBACK when pyarrow's footer read raises; the happy
path stays on pyarrow (C++ thrift parse).
"""

from __future__ import annotations

# thrift compact-protocol wire types
_CT_BOOL_TRUE = 1
_CT_BOOL_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_SET = 10
_CT_MAP = 11
_CT_STRUCT = 12

# parquet ConvertedType enum values (parquet-format spec)
_CONV_MAP = 0
_CONV_MAP_KEY_VALUE = 1
_CONV_LIST = 3


def _uvarint(b: bytes, pos: int) -> tuple[int, int]:
    r, s = 0, 0
    while True:
        x = b[pos]
        pos += 1
        r |= (x & 0x7F) << s
        if not x & 0x80:
            return r, pos
        s += 7


def _zigzag(b: bytes, pos: int) -> tuple[int, int]:
    u, pos = _uvarint(b, pos)
    return (u >> 1) ^ -(u & 1), pos


def _skip(b: bytes, pos: int, t: int, in_field: bool) -> int:
    """Skip one value of wire type ``t``; booleans inside a struct
    field header carry their value in the type nibble (zero bytes),
    as list/map elements they are one byte."""
    if t in (_CT_BOOL_TRUE, _CT_BOOL_FALSE):
        return pos if in_field else pos + 1
    if t == _CT_BYTE:
        return pos + 1
    if t in (_CT_I16, _CT_I32, _CT_I64):
        return _uvarint(b, pos)[1]
    if t == _CT_DOUBLE:
        return pos + 8
    if t == _CT_BINARY:
        ln, pos = _uvarint(b, pos)
        return pos + ln
    if t in (_CT_LIST, _CT_SET):
        hdr = b[pos]
        pos += 1
        n, et = hdr >> 4, hdr & 0x0F
        if n == 15:
            n, pos = _uvarint(b, pos)
        for _ in range(n):
            pos = _skip(b, pos, et, in_field=False)
        return pos
    if t == _CT_MAP:
        n, pos = _uvarint(b, pos)
        if n:
            kv = b[pos]
            pos += 1
            kt, vt = kv >> 4, kv & 0x0F
            for _ in range(n):
                pos = _skip(b, pos, kt, in_field=False)
                pos = _skip(b, pos, vt, in_field=False)
        return pos
    if t == _CT_STRUCT:
        return _skip_struct(b, pos)
    raise NotImplementedError(f"thrift compact wire type {t}")


def _skip_struct(b: bytes, pos: int) -> int:
    fid = 0
    while True:
        h = b[pos]
        pos += 1
        if h == 0:
            return pos
        t = h & 0x0F
        delta = h >> 4
        if delta == 0:
            fid, pos = _zigzag(b, pos)
        else:
            fid += delta
        pos = _skip(b, pos, t, in_field=True)


def _read_schema_element(b: bytes, pos: int) -> tuple[dict, int]:
    """One ``SchemaElement`` struct -> the four fields the tree
    rebuild needs; everything else (type, repetition, logicalType —
    VARIANT included) skips by wire type."""
    out = {"name": None, "num_children": 0, "converted": None,
           "field_id": None}
    fid = 0
    while True:
        h = b[pos]
        pos += 1
        if h == 0:
            return out, pos
        t = h & 0x0F
        delta = h >> 4
        if delta == 0:
            fid, pos = _zigzag(b, pos)
        else:
            fid += delta
        if fid == 4 and t == _CT_BINARY:             # name
            ln, pos = _uvarint(b, pos)
            out["name"] = b[pos:pos + ln].decode("utf-8")
            pos += ln
        elif fid == 5 and t == _CT_I32:              # num_children
            out["num_children"], pos = _zigzag(b, pos)
        elif fid == 6 and t == _CT_I32:              # converted_type
            out["converted"], pos = _zigzag(b, pos)
        elif fid == 9 and t == _CT_I32:              # field_id
            out["field_id"], pos = _zigzag(b, pos)
        else:
            pos = _skip(b, pos, t, in_field=True)


def _footer_bytes(path: str) -> bytes:
    """The trailing ``FileMetaData`` thrift bytes (``len + PAR1``
    framing)."""
    import os
    import struct
    with open(path, "rb") as fh:
        fh.seek(0, os.SEEK_END)
        size = fh.tell()
        fh.seek(size - 8)
        tail = fh.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"{path!r}: not a parquet file")
        flen = struct.unpack("<I", tail[:4])[0]
        fh.seek(size - 8 - flen)
        return fh.read(flen)


def footer_num_rows(path: str) -> int:
    """``FileMetaData.num_rows`` (field 3, i64) straight from the
    thrift bytes — the row count for footers pyarrow refuses to open
    (VARIANT logical type)."""
    b = _footer_bytes(path)
    pos, fid = 0, 0
    while True:
        h = b[pos]
        pos += 1
        if h == 0:
            break
        t = h & 0x0F
        delta = h >> 4
        if delta == 0:
            fid, pos = _zigzag(b, pos)
        else:
            fid += delta
        if fid == 3 and t == _CT_I64:
            return _zigzag(b, pos)[0]
        pos = _skip(b, pos, t, in_field=True)
    raise ValueError(f"{path!r}: footer carries no num_rows")


def footer_schema_elements(path: str) -> list[dict]:
    """The footer's flat ``SchemaElement`` list (DFS order, root
    first) straight from the trailing thrift bytes."""
    b = _footer_bytes(path)
    elems: list[dict] = []
    pos, fid = 0, 0
    while True:
        h = b[pos]
        pos += 1
        if h == 0:
            break
        t = h & 0x0F
        delta = h >> 4
        if delta == 0:
            fid, pos = _zigzag(b, pos)
        else:
            fid += delta
        if fid == 2 and t == _CT_LIST:               # schema
            hdr = b[pos]
            pos += 1
            n, et = hdr >> 4, hdr & 0x0F
            if n == 15:
                n, pos = _uvarint(b, pos)
            if et != _CT_STRUCT:
                raise ValueError("FileMetaData.schema is not a "
                                 "list<struct>")
            for _ in range(n):
                e, pos = _read_schema_element(b, pos)
                elems.append(e)
        else:
            pos = _skip(b, pos, t, in_field=True)
    if not elems:
        raise ValueError(f"{path!r}: footer carries no schema")
    return elems


def footer_field_trees(path: str) -> list:
    """``[field_id | None, name, children]`` trees in the SAME shape
    as the arrow tap (:func:`.nested._arrow_tree`): LIST-converted
    groups collapse to one element child, MAP-converted groups to
    ``[key, value]`` children."""
    elems = footer_schema_elements(path)
    idx = [1]                                        # skip the root

    def take() -> dict:
        e = elems[idx[0]]
        idx[0] += 1
        kids = [take() for _ in range(e["num_children"] or 0)]
        return {**e, "kids": kids}

    def norm(n: dict) -> list:
        conv, kids = n["converted"], n["kids"]
        if conv == _CONV_LIST and kids:
            rep = kids[0]
            # parquet-format LogicalTypes.md backward-compat rules
            # ("any repeated group with kids" would wrongly
            # classify a legacy 2-level list of structs as a
            # 3-level wrapper): the REPEATED NODE ITSELF is the
            # element when it is not a group, has multiple fields,
            # or has one field but is named `array` / `<list>_tuple`;
            # only the remaining shape (single-field repeated group,
            # the modern `list` wrapper) collapses to its child
            if (len(rep["kids"]) == 1
                    and rep["name"] != "array"
                    and rep["name"] != n["name"] + "_tuple"):
                elem = rep["kids"][0]        # modern 3-level wrapper
            else:
                elem = rep                   # legacy 2-level element
            return [n["field_id"], n["name"], [norm(elem)]]
        if conv in (_CONV_MAP, _CONV_MAP_KEY_VALUE) and kids:
            kv = kids[0]
            return [n["field_id"], n["name"],
                    [norm(k) for k in kv["kids"]]]
        return [n["field_id"], n["name"], [norm(k) for k in kids]]

    root_n = elems[0]["num_children"] or 0
    return [norm(take()) for _ in range(root_n)]


def footer_field_layout(path: str) -> list[tuple]:
    """Top-level ``[(field_id | None, name)]`` — the flat-layout tap
    shape."""
    return [(t[0], t[1]) for t in footer_field_trees(path)]
