"""Multimodal-column queries: binary payloads synthesized from document
text (utf-8 encode), then processed through the binary-column operators
in :mod:`padawan_spark.functions.multimodal`.

``mm_binary_stats`` is pure JVM-side binary expression work;
``mm_fake_decode`` drives the Arrow-batched ``mapInPandas`` decode
plumbing with the deterministic stand-in codec (real codecs are stubbed
— no media libs in this container) — its arithmetic is mirrored in the
SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.multimodal import (decode_image_pixels, encode_bmp_py,
                                    encode_gif_py, encode_jpeg_py,
                                    encode_png_py, encode_wav_py,
                                    encode_y4m_py, extract_image_features,
                                    fake_decode_image, sniff_image_headers)
from .registry import load, query


@query("mm_binary_stats", oracle="""
SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  lower(substr(hex(encode(text)), 1, 8)) AS header_hex,
  sha256(text) AS digest
FROM documents
""")
def mm_binary_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True)
    b = F.expr("cast(text as binary)")
    return d.select(
        "doc_id",
        F.length(b).cast("bigint").alias("n_bytes"),
        F.lower(F.hex(F.expr("substring(cast(text as binary), 1, 4)")))
        .alias("header_hex"),
        F.sha2(b, 256).alias("digest"),
    )


@query("mm_fake_decode", oracle="""
SELECT doc_id,
  CAST(64 + octet_length(encode(text)) % 191 AS INTEGER) AS width,
  CAST(64 + (octet_length(encode(text)) * 31) % 191 AS INTEGER) AS height,
  CAST(3 AS INTEGER) AS channels,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
""")
def mm_fake_decode(spark, sf_dir):
    d = load(spark, sf_dir, "documents", wide=True).select(
        "doc_id", F.expr("cast(text as binary)").alias("payload"))
    return fake_decode_image(d)


_BUCKET_DUCK = ("CAST(len(list_filter(range(1, length(text) + 1), "
                "i -> ascii(substr(text, i, 1)) // 16 = {k})) AS DOUBLE) "
                "/ length(text)")


@query("mm_byte_histogram", oracle=f"""
SELECT doc_id,
       {_BUCKET_DUCK.format(k=2)} AS b2,
       {_BUCKET_DUCK.format(k=6)} AS b6,
       {_BUCKET_DUCK.format(k=7)} AS b7,
       16 AS dim
FROM documents
""")
def mm_byte_histogram(spark, sf_dir):
    """Python feature-extractor UDF (16-bucket byte histogram over the
    binary payload via mapInPandas) verified VALUE-FOR-VALUE: the text
    corpus is single-byte ASCII, so each normalized bucket equals
    count(bytes in [16k, 16k+16)) / length — replicated in the DuckDB
    oracle with a per-position ascii filter.  Each bucket is one
    integer count divided once in IEEE double: bit-identical to the
    pandas arithmetic, proving the Arrow UDF plumbing end-to-end."""
    d = load(spark, sf_dir, "documents", wide=True).select(
        "doc_id", F.expr("cast(text as binary)").alias("payload"))
    feats = extract_image_features(d)
    return feats.select(
        "doc_id",
        F.expr("element_at(features, 3)").alias("b2"),
        F.expr("element_at(features, 7)").alias("b6"),
        F.expr("element_at(features, 8)").alias("b7"),
        F.expr("size(features)").alias("dim"))


_CHUNK_BYTES = 64


@query("mm_chunk_manifest", oracle=f"""
SELECT doc_id,
       CAST((st - 1) // {_CHUNK_BYTES} AS BIGINT) AS chunk_idx,
       CAST(st - 1 AS BIGINT) AS byte_offset,
       CAST(least({_CHUNK_BYTES}, length(text) - st + 1) AS BIGINT)
         AS n_bytes,
       sha256(substr(text, st, {_CHUNK_BYTES})) AS chunk_sha
FROM (SELECT doc_id, text,
             unnest(range(1, length(text) + 1, {_CHUNK_BYTES})) AS st
      FROM documents)
""")
def mm_chunk_manifest(spark, sf_dir):
    """Fixed-size chunk manifest over a binary payload — the sharding
    primitive for large blobs (video segments, audio frames, model
    shards): each payload is cut into 64-byte chunks and described
    as (index, offset, length, sha256) rows, the manifest a content-
    addressed store or range-request loader consumes.  Pure JVM-side
    sequence+explode+substring over the BINARY column — no UDF, no
    shuffle, linear at any corpus size.  Oracle parity rides the ASCII
    corpus (1 char = 1 byte, same trick as mm_byte_histogram), so the
    digests are full value checks of the binary slicing."""
    d = load(spark, sf_dir, "documents", wide=True).select(
        "doc_id", F.expr("cast(text as binary)").alias("payload"))
    chunks = d.select(
        "doc_id", "payload",
        F.posexplode(
            F.expr(f"sequence(1, length(payload), {_CHUNK_BYTES})"))
        .alias("k", "st"))
    return chunks.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_idx"),
        (F.col("st") - 1).cast("bigint").alias("byte_offset"),
        F.expr(f"cast(least({_CHUNK_BYTES},"
               " length(payload) - st + 1) as bigint)").alias("n_bytes"),
        F.sha2(F.expr(f"substring(payload, st, {_CHUNK_BYTES})"), 256)
        .alias("chunk_sha"))


# ---------------------------------------------------------------------------
# binaryFile ingestion: the connector a multimodal corpus enters
# through (directories of image/audio blobs -> (path, length, content)
# rows).  Deterministic fixture payloads are written once per process;
# the oracle recomputes the same digests from hex literals, so the
# byte-for-byte fidelity of the ingest path is value-checked.
# ---------------------------------------------------------------------------

_BF_PAYLOADS = {
    "gradient.bin": bytes(range(256)),
    "stripes.bin": bytes(([0] * 16 + [255] * 16) * 8),
    "ramp.bin": bytes((i * 7) % 256 for i in range(512)),
}
_BF_DIR: list[str] = []   # memoized fixture dir (one per process)


def _bf_fixture_dir() -> str:
    if not _BF_DIR:
        import tempfile
        d = tempfile.mkdtemp(prefix="padawan_binaryfile_")
        for name, payload in _BF_PAYLOADS.items():
            with open(f"{d}/{name}", "wb") as fh:
                fh.write(payload)
        _BF_DIR.append(d)
    return _BF_DIR[0]


def _bf_oracle() -> str:
    rows = ", ".join(
        f"('{name}', {len(p)}, md5('{p.hex().upper()}'))"
        for name, p in sorted(_BF_PAYLOADS.items()))
    return (f"SELECT * FROM (VALUES {rows})"
            " t(file_name, n_bytes, content_md5)")


@query("mm_binaryfile_ingest", oracle=_bf_oracle())
def mm_binaryfile_ingest(spark, sf_dir):
    """Whole-file binary ingestion via Spark's ``binaryFile`` source —
    how image/audio/video corpora enter the engine (each blob one row:
    path, modificationTime, length, content).  At 100 TB this scales
    like any file scan: one task per file (or group of small files),
    no shuffle, and the downstream decode operators
    (:mod:`padawan_spark.functions.multimodal`) consume the content
    column in Arrow batches.  Fidelity check: md5 over the hex-encoded
    bytes, recomputed by the oracle from the same literals — the
    digest matches only if every byte survived the trip."""
    d = _bf_fixture_dir()
    df = spark.read.format("binaryFile").load(d)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.hex("content")).alias("content_md5"))


# ---------------------------------------------------------------------------
# REAL image decode, oracle-checked without media libraries: fixture
# payloads are genuine uncompressed 24bpp BMP files synthesized from an
# arithmetic pixel formula; the engine decodes them (PIL when present,
# else the pure-Python struct-unpack BMP parser) down to pixels and
# emits a position-weighted checksum.  The DuckDB oracle recomputes the
# checksum FROM THE FORMULA — never from the decoder — so a decoder
# that misreads dimensions, row padding, or BMP bottom-up row order
# produces a mismatch.  Image 3 is stored top-down (negative height) to
# exercise both orientations.
# ---------------------------------------------------------------------------

#            doc_id  width height top_down
_BMP_SPECS = [(1,     13,   7,    False),    # odd width -> 3-byte row pad
              (2,     16,   16,   False),
              (3,     5,    9,    True)]


def _bmp_pixel(x: int, y: int):
    return ((3 * x + 7 * y) % 256,        # r
            (5 * x + 11 * y) % 256,       # g
            (x + y) % 256)                # b


def _bmp_payload(w: int, h: int, top_down: bool) -> bytes:
    px = bytearray()
    for y in range(h):
        for x in range(w):
            r, g, b = _bmp_pixel(x, y)
            px += bytes((b, g, r))        # top-down BGR, per the codec
    return encode_bmp_py(w, h, bytes(px), top_down=top_down)


def _bmp_oracle() -> str:
    parts = []
    for doc_id, w, h, _td in _BMP_SPECS:
        chk = (f"(SELECT CAST(SUM((i + 1) * ((3 * (i % {w}) + 7 * (i // {w})) % 256"
               f" + 2 * ((5 * (i % {w}) + 11 * (i // {w})) % 256)"
               f" + 3 * (((i % {w}) + (i // {w})) % 256))) AS BIGINT)"
               f" FROM range(0, {w * h}) t(i))")
        parts.append(f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                     f" {w} AS width, {h} AS height, 3 AS channels,"
                     f" {chk} AS pix_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_decode", oracle=_bmp_oracle())
def mm_real_decode(spark, sf_dir):
    """REAL image decoding, executed in this container: three synthetic
    uncompressed 24bpp BMP payloads (odd-width row padding, bottom-up
    and top-down row orders) flow through the binary-column pipeline
    and are decoded to pixels by :func:`decode_image_pixels` — PIL when
    installed, else the dependency-free struct-unpack BMP parser.  The
    output is (dimensions, channels, position-weighted pixel checksum);
    the oracle recomputes the checksum from the pixel formula alone, so
    agreement proves the decoder recovered every pixel in the right
    position.  Scale shape: identical to any decode pass — Arrow-
    batched mapInPandas over the payload column, embarrassingly
    parallel, no shuffle."""
    rows = [(doc_id, bytearray(_bmp_payload(w, h, td)))
            for doc_id, w, h, td in _BMP_SPECS]
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image_pixels(d)


# ---------------------------------------------------------------------------
# REAL decode of a COMPRESSED format, no media library required: PNG
# scanlines are DEFLATE-compressed and per-row filtered, so a correct
# checksum here proves stdlib-zlib inflation AND all five unfilter
# paths (None/Sub/Up/Average/Paeth — the fixtures cycle every filter)
# ran correctly.  Same oracle discipline as mm_real_decode: the DuckDB
# side recomputes the position-weighted checksum from the pixel
# formula, never from the decoder.
# ---------------------------------------------------------------------------

#            doc_id width height mode     row filters cycled
_PNG_SPECS = [(1,   13,   7,    "rgb",   (0, 1, 2, 3, 4)),
              (2,   8,    20,   "grey",  (2, 4)),
              (3,   6,    9,    "rgba",  (1, 3)),
              # color type 3: PLTE lookup, 4-bit packed + 8-bit indices
              (4,   15,   11,   "pal4",  (2, 3, 4)),
              (5,   10,   8,    "pal8",  (1, 4)),
              # grey+alpha (color type 4), alpha dropped
              (6,   9,    6,    "ga",    (3, 1)),
              # 16-bit RGB: decode keeps the high byte of each sample
              (7,   7,    10,   "rgb16", (4, 0, 2)),
              # Adam7 interlaced RGB: seven passes reassembled
              (8,   12,   9,    "irgb",  (1, 2, 3, 4, 0))]


def _png_pixel(mode: str, x: int, y: int):
    """(r, g, b[, a]) of the fixture at (x, y) — pure arithmetic so the
    oracle can recompute it."""
    if mode in ("rgb", "irgb"):
        return ((2 * x + 5 * y) % 256, (7 * x + 3 * y) % 256,
                (x * y) % 256)
    if mode == "grey":
        v = (13 * x + y * y) % 256
        return (v,)
    if mode == "ga":
        return ((5 * x + 3 * y) % 256, (x + y) % 251)  # alpha dropped
    return ((x + 4 * y) % 256, (9 * x + y) % 256, (3 * x + 2 * y) % 256,
            (x + y) % 251)                    # alpha: dropped by decode


# 16-bit fixture: per-channel HIGH bytes (what decode keeps); low bytes
# are (x*y+channel) noise the decode must discard
_RGB16_HI = ((3, 7), (5, 1), (1, 2))   # channel c -> hi = (a*x + b*y) % 256


def _png_palette(ncolors: int) -> bytes:
    """PLTE fixture: color i = (11i, 7i, 5i) mod 256 — arithmetic the
    oracle recomputes from the index formula."""
    return bytes(v for i in range(ncolors)
                 for v in ((11 * i) % 256, (7 * i) % 256, (5 * i) % 256))


def _png_payload(w: int, h: int, mode: str, filters) -> bytes:
    if mode.startswith("pal"):
        depth = int(mode[3:])
        ncol = 1 << depth
        idx = bytes((x + 2 * y) % ncol for y in range(h) for x in range(w))
        return encode_png_py(w, h, idx, palette=_png_palette(ncol),
                             depth=depth, row_filters=filters)
    if mode == "rgb16":
        px = bytearray()
        for y in range(h):
            for x in range(w):
                for c, (a, b) in enumerate(_RGB16_HI):
                    px += bytes(((a * x + b * y) % 256,
                                 (x * y + c) % 256))   # hi, lo
        return encode_png_py(w, h, bytes(px), channels=3, depth=16,
                             row_filters=filters)
    ch = {"grey": 1, "ga": 2, "rgb": 3, "irgb": 3, "rgba": 4}[mode]
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px += bytes(_png_pixel(mode, x, y))
    return encode_png_py(w, h, bytes(px), channels=ch,
                         row_filters=filters, interlace=(mode == "irgb"))


def _png_oracle() -> str:
    parts = []
    for doc_id, w, h, mode, _f in _PNG_SPECS:
        x, y = f"(i % {w})", f"(i // {w})"
        if mode in ("rgb", "irgb"):
            val = (f"((2 * {x} + 5 * {y}) % 256"
                   f" + 2 * ((7 * {x} + 3 * {y}) % 256)"
                   f" + 3 * (({x} * {y}) % 256))")
        elif mode == "grey":
            val = f"6 * ((13 * {x} + {y} * {y}) % 256)"
        elif mode.startswith("pal"):
            ncol = 1 << int(mode[3:])
            idx = f"(({x} + 2 * {y}) % {ncol})"
            val = (f"((11 * {idx}) % 256 + 2 * ((7 * {idx}) % 256)"
                   f" + 3 * ((5 * {idx}) % 256))")
        elif mode == "ga":
            val = f"6 * ((5 * {x} + 3 * {y}) % 256)"
        elif mode == "rgb16":
            val = " + ".join(
                f"{c + 1} * (({a} * {x} + {b} * {y}) % 256)"
                for c, (a, b) in enumerate(_RGB16_HI))
            val = f"({val})"
        else:
            val = (f"(({x} + 4 * {y}) % 256"
                   f" + 2 * ((9 * {x} + {y}) % 256)"
                   f" + 3 * ((3 * {x} + 2 * {y}) % 256))")
        chk = (f"(SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
               f" FROM range(0, {w * h}) t(i))")
        parts.append(f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                     f" {w} AS width, {h} AS height, 3 AS channels,"
                     f" {chk} AS pix_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_png_decode", oracle=_png_oracle())
def mm_real_png_decode(spark, sf_dir):
    """REAL decoding of a COMPRESSED image format in this container:
    five synthetic PNGs (RGB cycling all five scanline filters, 8-bit
    greyscale, RGBA with a to-be-dropped alpha, and two palette /
    color-type-3 images — 4-bit packed indices and 8-bit indices, both
    resolved through a PLTE lookup) flow through
    :func:`decode_image_pixels` — PIL when installed, else the
    dependency-free stdlib-zlib PNG parser
    (:func:`padawan_spark.functions.multimodal.decode_png_py`).  The
    oracle recomputes the position-weighted RGB checksum from the pixel
    formula alone, so agreement proves DEFLATE inflation, every
    unfilter path, greyscale replication, alpha dropping, and palette
    resolution (incl. sub-byte MSB-first unpacking) all ran correctly.
    Scale shape: Arrow-batched mapInPandas over the payload column,
    embarrassingly parallel, no shuffle."""
    rows = [(doc_id, bytearray(_png_payload(w, h, mode, f)))
            for doc_id, w, h, mode, f in _PNG_SPECS]
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image_pixels(d)


# ---------------------------------------------------------------------------
# REAL decode of a SECOND compressed format: GIF is LZW-compressed and
# lossless, so a correct checksum proves the variable-code-size LZW
# decode (clear codes, KwKwK, width growth), color-table lookup, and
# 4-pass row de-interlacing all ran correctly.  Same oracle discipline:
# DuckDB recomputes the checksum from the palette + index formulas.
# ---------------------------------------------------------------------------

#            doc_id width height palette-bits interlaced
_GIF_SPECS = [(1,   14,   9,    4,           False),
              (2,   8,    12,   8,           True),   # interlace path
              (3,   21,   5,    2,           False)]  # tiny color table


@query("mm_real_gif_decode", oracle=" UNION ALL ".join(
    f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
    f" {w} AS width, {h} AS height, 3 AS channels,"
    f" (SELECT CAST(SUM((i + 1) * ("
    f"   (11 * ((3 * (i % {w}) + (i // {w})) % {1 << bits})) % 256"
    f"   + 2 * ((7 * ((3 * (i % {w}) + (i // {w})) % {1 << bits})) % 256)"
    f"   + 3 * ((5 * ((3 * (i % {w}) + (i // {w})) % {1 << bits})) % 256)"
    f" )) AS BIGINT) FROM range(0, {w * h}) t(i)) AS pix_checksum"
    for doc_id, w, h, bits, _il in _GIF_SPECS))
def mm_real_gif_decode(spark, sf_dir):
    """REAL decoding of LZW-compressed GIFs in this container: three
    synthetic GIF89a payloads (4-bit palette sequential, 8-bit palette
    INTERLACED, 2-bit palette) flow through :func:`decode_image_pixels`
    — PIL when installed, else the dependency-free LZW parser
    (:func:`padawan_spark.functions.multimodal.decode_gif_py`).  The
    oracle recomputes the position-weighted RGB checksum from the
    palette formula (color i = (11i, 7i, 5i) mod 256) and the index
    formula ((3x + y) mod ncolors) alone, so agreement proves the LZW
    stream, color-table lookup, and de-interlacing are all correct.
    Scale shape: Arrow-batched mapInPandas, embarrassingly parallel,
    no shuffle."""
    rows = []
    for doc_id, w, h, bits, il in _GIF_SPECS:
        ncol = 1 << bits
        idx = bytes((3 * x + y) % ncol for y in range(h) for x in range(w))
        payload = encode_gif_py(w, h, idx, _png_palette(ncol), interlace=il)
        rows.append((doc_id, bytearray(payload)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image_pixels(d)


# ---------------------------------------------------------------------------
# REAL decode of a THIRD compressed format — baseline JPEG, the
# dominant format of any web image corpus.  JPEG is lossy, so the
# fixtures are built where the codec is EXACT by construction:
# constant 8x8 (4:4:4) or 16x16 (4:2:0) tiles with flat quant tables
# (dc_q=8 stores the constant block's DC losslessly, all AC are zero),
# and the decoder's YCbCr->RGB uses libjpeg's 16-bit fixed-point
# constants which the DuckDB oracle reproduces with FLOOR division.
# A correct checksum therefore proves Huffman entropy decoding, DC
# prediction, dequantization, the IDCT, chroma upsampling, restart
# handling, and the exact color convert all ran correctly.
# ---------------------------------------------------------------------------

#             doc_id width height mode        restart  progressive
_JPEG_SPECS = [(1,   32,   24,   "gray",     0,       False),
               (2,   32,   24,   "color444", 0,       False),
               (3,   32,   32,   "color420", 0,       False),
               (4,   48,   16,   "color420", 2,       False),  # RSTn
               # SOF2 progressive: spectral selection + successive
               # approximation across 10 scans, EOB runs, correction
               # bits — decodes to the same exact pixels
               (5,   32,   24,   "color444", 0,       True),
               (6,   32,   32,   "color420", 0,       True)]


def _jpeg_planes(w: int, h: int, mode: str):
    """Per-tile-constant Y/Cb/Cr planes; tile is 8 px for 4:4:4 (every
    block constant) and 16 px for 4:2:0 (every MCU constant, so chroma
    subsampling averages a constant — exact)."""
    t = 16 if mode == "color420" else 8
    y = bytes((17 * (x // t) + 29 * (yy // t)) % 256
              for yy in range(h) for x in range(w))
    if mode == "gray":
        return y, None, None
    cb = bytes((11 * (x // t) + 23 * (yy // t)) % 256
               for yy in range(h) for x in range(w))
    cr = bytes((5 * (x // t) + 13 * (yy // t)) % 256
               for yy in range(h) for x in range(w))
    return y, cb, cr


def _jpeg_oracle() -> str:
    parts = []
    for doc_id, w, h, mode, _rst, _prog in _JPEG_SPECS:
        t = 16 if mode == "color420" else 8
        bx, by = f"((i % {w}) // {t})", f"((i // {w}) // {t})"
        yv = f"((17 * {bx} + 29 * {by}) % 256)"
        if mode == "gray":
            val = f"6 * {yv}"
        else:
            cbv = f"(((11 * {bx} + 23 * {by}) % 256) - 128)"
            crv = f"(((5 * {bx} + 13 * {by}) % 256) - 128)"

            def clamp(e):
                return f"GREATEST(0, LEAST(255, {e}))"
            r = clamp(f"{yv} + CAST(FLOOR((91881 * {crv} + 32768)"
                      f" / 65536.0) AS BIGINT)")
            g = clamp(f"{yv} + CAST(FLOOR((-22554 * {cbv} - 46802 * {crv}"
                      f" + 32768) / 65536.0) AS BIGINT)")
            b = clamp(f"{yv} + CAST(FLOOR((116130 * {cbv} + 32768)"
                      f" / 65536.0) AS BIGINT)")
            val = f"(({r}) + 2 * ({g}) + 3 * ({b}))"
        chk = (f"(SELECT CAST(SUM((i + 1) * ({val})) AS BIGINT)"
               f" FROM range(0, {w * h}) t(i))")
        parts.append(f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                     f" {w} AS width, {h} AS height, 3 AS channels,"
                     f" {chk} AS pix_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_jpeg_decode", oracle=_jpeg_oracle())
def mm_real_jpeg_decode(spark, sf_dir):
    """REAL decoding of baseline JPEGs in this container: four
    synthetic SOF0 payloads (greyscale, 4:4:4 color, 4:2:0 color, and
    4:2:0 with DRI/RSTn restart markers) flow through
    :func:`decode_image_pixels` — PIL/libjpeg when installed, else the
    dependency-free Huffman + numpy-IDCT parser
    (:func:`padawan_spark.functions.multimodal.decode_jpeg_py`).
    Fixtures are constant-tile images under flat quant tables, where
    baseline JPEG is exact by construction, so the DuckDB oracle
    recomputes the checksum from the tile formulas and libjpeg's
    fixed-point color constants alone.  Scale shape: Arrow-batched
    mapInPandas, embarrassingly parallel, no shuffle."""
    rows = []
    for doc_id, w, h, mode, rst, prog in _JPEG_SPECS:
        y, cb, cr = _jpeg_planes(w, h, mode)
        sub = "420" if mode == "color420" else "444"
        payload = encode_jpeg_py(w, h, y, cb, cr, subsampling=sub,
                                 restart_interval=rst, progressive=prog)
        rows.append((doc_id, bytearray(payload)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image_pixels(d)


#             doc_id width height  encoder features
_WEBP_SPECS = [(1,   13,   8,    {}),                       # literals only
               (2,   16,   16,   {"predictor_mode": 12,
                                  "subtract_green": True,
                                  "cache_bits": 4,
                                  "predictor_size_bits": 3}),
               (3,   24,   7,    {"use_lz77": True,
                                  "cache_bits": 5}),
               (4,   16,   10,   {"color_transform": (34, -20, 57),
                                  "subtract_green": True,
                                  "predictor_mode": 7,
                                  "predictor_size_bits": 3}),
               (5,   18,   12,   "palette"),     # color-indexing, packed
               # meta-prefix: two Huffman groups selected per tile
               (6,   22,   9,    {"meta_groups_bits": 2}),
               # color-indexing STACKED with subtract-green + a
               # predictor over the packed image + a color cache
               (7,   19,   11,   "palette_stacked"),
               # LOSSY (VP8 key frame) — MB-aligned flat tiles at
               # qi=0 / filter 0 decode exactly (the flat-quant oracle
               # trick); uniform chroma so upsampling is a fixed point
               (8,   34,   22,   "vp8_flat"),
               (9,   48,   16,   "vp8_bands")]

# the VP8 fixture tile targets (YUV); bands share chroma so the fancy
# upsampler has no seam and each band's RGB is closed-form
_VP8_FLAT_YUV = (110, 145, 90)
_VP8_BAND_YS = (60, 130, 200)
_VP8_BAND_UV = (100, 160)


def _webp_oracle() -> str:
    from ..functions.vp8 import vp8_flat_rgb
    parts = []
    for doc_id, w, h, feat in _WEBP_SPECS:
        x, y = f"(i % {w})", f"(i // {w})"
        if feat == "vp8_flat":
            r, g, b = vp8_flat_rgb(*_VP8_FLAT_YUV)
            val = str(r + 2 * g + 3 * b)
        elif feat == "vp8_bands":
            u_, v_ = _VP8_BAND_UV
            vals = [vp8_flat_rgb(yy, u_, v_) for yy in _VP8_BAND_YS]
            tot = [r + 2 * g + 3 * b for r, g, b in vals]
            val = (f"(CASE WHEN {x} < 16 THEN {tot[0]} "
                   f"WHEN {x} < 32 THEN {tot[1]} ELSE {tot[2]} END)")
        elif feat in ("palette", "palette_stacked"):
            k = f"(({x} + 2 * {y}) % 16)"
            val = (f"((3 * {k} + 7) % 256"
                   f" + 2 * ((5 * {k} + 1) % 256)"
                   f" + 3 * ((11 * {k}) % 256))")
        else:
            val = (f"((3 * {x} + 7 * {y}) % 256"
                   f" + 2 * ((5 * {x} + {y} * {y}) % 256)"
                   f" + 3 * (({x} * {y} + 11) % 256))")
        chk = (f"(SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
               f" FROM range(0, {w * h}) t(i))")
        parts.append(f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                     f" {w} AS width, {h} AS height, 3 AS channels,"
                     f" {chk} AS pix_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_webp_decode", oracle=_webp_oracle())
def mm_real_webp_decode(spark, sf_dir):
    """REAL decoding of a FOURTH compressed image format — lossless
    WebP (VP8L): three fixtures exercise literal prefix-coded pixels,
    the full transform stack (uniform-mode predictor 12 +
    subtract-green + color cache), and LZ77 backward references with a
    color cache, all through :func:`decode_image_pixels` — PIL when
    installed, else the dependency-free VP8L parser
    (:mod:`padawan_spark.functions.webp`).  VP8L is lossless, so the
    same pixel-formula oracle discipline as PNG applies: a correct
    checksum proves canonical prefix decoding (incl. the
    code-length-code with its 16/17/18 repeats), cache hashing,
    LZ77 distance mapping, and the inverse transforms all ran
    correctly.  LOSSY WebP rides too: two real VP8 key frames
    (:mod:`padawan_spark.functions.vp8` — bool decoder, token trees,
    WHT/iDCT, intra prediction; byte-identical to libwebp, pytest
    cross-validated) built as MB-aligned flat tiles at qi=0 where
    decode is exact by construction, so the lossy rows carry the same
    closed-form checksum oracle as the lossless ones.  Scale shape:
    Arrow-batched mapInPandas, no shuffle."""
    from ..functions.vp8 import encode_vp8_tiles_py, wrap_webp_vp8
    from ..functions.webp import encode_webp_palette_py, encode_webp_py
    rows = []
    for doc_id, w, h, feat in _WEBP_SPECS:
        if feat == "vp8_flat":
            rows.append((doc_id, bytearray(wrap_webp_vp8(
                encode_vp8_tiles_py(w, h,
                                    lambda mx, my: _VP8_FLAT_YUV)))))
        elif feat == "vp8_bands":
            u_, v_ = _VP8_BAND_UV
            rows.append((doc_id, bytearray(wrap_webp_vp8(
                encode_vp8_tiles_py(
                    w, h,
                    lambda mx, my: (_VP8_BAND_YS[mx], u_, v_))))))
        elif feat in ("palette", "palette_stacked"):
            # 16-color image -> color-indexing with 2 pixels/byte;
            # the stacked variant layers subtract-green under the
            # palette and a predictor + cache over the packed image
            rgba = bytes(v for y in range(h) for x in range(w)
                         for v in ((3 * ((x + 2 * y) % 16) + 7) % 256,
                                   (5 * ((x + 2 * y) % 16) + 1) % 256,
                                   (11 * ((x + 2 * y) % 16)) % 256, 255))
            kw = (dict(subtract_green=True, predictor_mode=11,
                       predictor_size_bits=2, cache_bits=3)
                  if feat == "palette_stacked" else {})
            rows.append((doc_id,
                         bytearray(encode_webp_palette_py(w, h, rgba,
                                                          **kw))))
        else:
            rgba = bytes(v for y in range(h) for x in range(w)
                         for v in ((3 * x + 7 * y) % 256,
                                   (5 * x + y * y) % 256,
                                   (x * y + 11) % 256, 255))
            rows.append((doc_id,
                         bytearray(encode_webp_py(w, h, rgba, **feat))))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image_pixels(d)


#             doc_id width height mode   byte-order rows/strip comp pred
_TIFF_SPECS = [(1,   14,   9,    "grey", "MM",      2,    1,     1),
               (2,   10,   12,   "rgb",  "II",      5,    1,     1),
               (3,   8,    8,    "rgb",  "II",      None, 1,     1),
               # the compressed layouts scanned corpora ship —
               # LZW (early-change code widths), LZW with horizontal-
               # differencing predictor 2, and PackBits RLE
               (4,   21,   11,   "rgb",  "II",      4,    5,     1),
               (5,   16,   13,   "rgb",  "MM",      6,    5,     2),
               (6,   12,   10,   "grey", "II",      3,    32773, 1),
               (7,   15,   9,    "rgb",  "II",      4,    8,     2)]


def _tiff_oracle() -> str:
    parts = []
    for doc_id, w, h, mode, _bo, _rps, _c, _p in _TIFF_SPECS:
        x, y = f"(i % {w})", f"(i // {w})"
        if mode == "grey":
            val = f"6 * ((13 * {x} + {y} * {y}) % 256)"
        else:
            val = (f"((2 * {x} + 5 * {y}) % 256"
                   f" + 2 * ((7 * {x} + 3 * {y}) % 256)"
                   f" + 3 * (({x} * {y}) % 256))")
        chk = (f"(SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
               f" FROM range(0, {w * h}) t(i))")
        parts.append(f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                     f" {w} AS width, {h} AS height, 3 AS channels,"
                     f" {chk} AS pix_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_tiff_decode", oracle=_tiff_oracle())
def mm_real_tiff_decode(spark, sf_dir):
    """REAL decoding of baseline TIFF — the scanned-document and
    scientific-imaging container: three fixtures (big-endian
    multi-strip greyscale, little-endian multi-strip RGB, single-strip
    RGB — and LZW with the spec's early-change code widths, LZW
    with horizontal-differencing predictor 2, and PackBits RLE, the
    compressed layouts scanned corpora actually ship) flow through
    :func:`decode_image_pixels` — PIL when installed, else the
    dependency-free IFD walker
    (:func:`padawan_spark.functions.multimodal.decode_tiff_py`).  The
    oracle recomputes the position-weighted checksum from the pixel
    formulas, so agreement proves the IFD tag walk, both byte orders,
    strip reassembly, per-strip decompression, predictor undo, and
    greyscale replication all ran correctly.
    Scale shape: Arrow-batched mapInPandas, no shuffle."""
    from ..functions.multimodal import encode_tiff_py
    rows = []
    for doc_id, w, h, mode, bo, rps, comp, pred in _TIFF_SPECS:
        if mode == "grey":
            px = bytes((13 * x + y * y) % 256
                       for y in range(h) for x in range(w))
            ch = 1
        else:
            px = bytes(v for y in range(h) for x in range(w)
                       for v in ((2 * x + 5 * y) % 256,
                                 (7 * x + 3 * y) % 256, (x * y) % 256))
            ch = 3
        payload = encode_tiff_py(w, h, px, channels=ch, byte_order=bo,
                                 rows_per_strip=rps, compression=comp,
                                 predictor=pred)
        rows.append((doc_id, bytearray(payload)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image_pixels(d)


@query("mm_decode_salvage", oracle="""
SELECT CAST(i AS BIGINT) AS doc_id,
  CAST(CASE WHEN i % 3 = 2 THEN NULL ELSE 8 + i END AS INTEGER)
    AS width,
  CAST(CASE WHEN i % 3 = 2 THEN NULL ELSE 5 + i END AS INTEGER)
    AS height,
  CAST(CASE WHEN i % 3 = 2 THEN NULL ELSE 3 END AS INTEGER) AS channels
FROM range(0, 12) t(i)
""")
def mm_decode_salvage(spark, sf_dir):
    """Corrupt-blob salvage: a crawled corpus always contains garbage,
    and one bad byte must not kill a 100 TB decode job.  A 12-doc
    mixed corpus (valid PNGs, valid BMPs, and every third payload
    corrupt — truncated PNG or pure garbage) flows through
    ``decode_image(on_error="null")``: valid payloads decode to their
    formula dimensions, corrupt ones yield NULL dimensions (the
    quarantine filter), and the job completes.  The oracle lists the
    expected outcome per doc directly.  Scale shape: same Arrow-batched
    mapInPandas as every decode, per-payload exception fencing only."""
    from ..functions.multimodal import decode_image
    rows = []
    for doc in range(12):
        w, h = 8 + doc, 5 + doc
        if doc % 3 == 2:                    # corrupt: truncated / garbage
            good = encode_png_py(w, h, bytes(w * h * 3), channels=3)
            payload = good[:30] if doc % 2 == 0 else b"\x13\x37" * 10
        elif doc % 3 == 0:
            payload = encode_png_py(w, h, bytes(w * h * 3), channels=3)
        else:
            payload = encode_bmp_py(w, h, bytes(w * h * 3))
        rows.append((doc, bytearray(payload)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_image(d, on_error="null").select(
        "doc_id", "width", "height", "channels")


def _gif_rgbsum(idx: str) -> str:
    return (f"((11 * ({idx})) % 256 + 2 * ((7 * ({idx})) % 256)"
            f" + 3 * ((5 * ({idx})) % 256))")


def _gif_anim_oracle() -> str:
    parts = []
    # doc 1: four full 12x8 frames, idx=(x+2y+7f)%16, sampled every 2nd
    for f in (0, 2):
        x, y = "(i % 12)", "(i // 12)"
        val = _gif_rgbsum(f"({x} + 2 * {y} + {7 * f}) % 16")
        parts.append(
            f"SELECT CAST(1 AS BIGINT) AS doc_id, {f} AS frame_idx,"
            f" 12 AS width, 8 AS height,"
            f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
            f"  FROM range(0, 96) t(i)) AS pix_checksum")
    # doc 2 frame 0: full 10x10 base layer A=(x+y)%16
    x, y = "(i % 10)", "(i // 10)"
    val = _gif_rgbsum(f"({x} + {y}) % 16")
    parts.append(
        f"SELECT CAST(2 AS BIGINT) AS doc_id, 0 AS frame_idx,"
        f" 10 AS width, 10 AS height,"
        f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
        f"  FROM range(0, 100) t(i)) AS pix_checksum")
    # doc 2 frame 2: C (transparent idx 0) over B (disposal 1) over A —
    # the presented canvas composites the SKIPPED frame 1 too
    c = f"(({x} - 1) + 2 * ({y} - 1)) % 16"
    bexp = f"(3 * ({x} - 2) + ({y} - 3) + 1) % 16"
    i2 = (f"CASE WHEN {x} BETWEEN 1 AND 6 AND {y} BETWEEN 1 AND 5"
          f" AND {c} != 0 THEN {c}"
          f" WHEN {x} BETWEEN 2 AND 6 AND {y} BETWEEN 3 AND 6 THEN {bexp}"
          f" ELSE ({x} + {y}) % 16 END")
    val = _gif_rgbsum(i2)
    parts.append(
        f"SELECT CAST(2 AS BIGINT) AS doc_id, 2 AS frame_idx,"
        f" 10 AS width, 10 AS height,"
        f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
        f"  FROM range(0, 100) t(i)) AS pix_checksum")
    return " UNION ALL ".join(parts)


@query("mm_gif_frame_sample", oracle=_gif_anim_oracle())
def mm_gif_frame_sample(spark, sf_dir):
    """Animated-GIF frame sampling with REAL compositing: doc 1 is a
    four-frame full-canvas animation sampled every 2nd frame; doc 2
    layers a partial overlay (disposal 1) and a transparent partial
    overlay (index 0 transparent, disposal 2) over a base frame — the
    sampled frame 2 checksum can only be right if the SKIPPED frame 1
    was still composited onto the canvas and the transparency holes
    show the layers beneath.  The oracle recomputes every presented
    canvas from the region/index formulas alone (nested CASE over the
    overlay rectangles).  Scale shape: Arrow-batched mapInPandas over
    payloads, embarrassingly parallel, no shuffle."""
    from ..functions.multimodal import encode_gif_anim_py, sample_gif_frames
    pal = _png_palette(16)
    w1, h1 = 12, 8
    doc1 = encode_gif_anim_py(w1, h1, pal, [
        (0, 0, w1, h1,
         bytes((x + 2 * y + 7 * f) % 16
               for y in range(h1) for x in range(w1)), None, 0)
        for f in range(4)])
    w2, h2 = 10, 10
    doc2 = encode_gif_anim_py(w2, h2, pal, [
        (0, 0, w2, h2, bytes((x + y) % 16
                             for y in range(h2) for x in range(w2)),
         None, 0),
        (2, 3, 5, 4, bytes((3 * u + v + 1) % 16
                           for v in range(4) for u in range(5)), None, 1),
        (1, 1, 6, 5, bytes((u + 2 * v) % 16
                           for v in range(5) for u in range(6)), 0, 2),
    ], bg=5)
    d = spark.createDataFrame(
        [(1, bytearray(doc1)), (2, bytearray(doc2))],
        "doc_id bigint, payload binary")
    return sample_gif_frames(d, every_n=2)


def _exif_spec(doc: int):
    """Formula-derived EXIF fields for fixture ``doc`` (None when the
    doc carries no APP1) — shared by the fixture builder and oracle."""
    if doc % 4 == 3:
        return None
    return {
        "orientation": 1 + doc % 8,
        "w": 320 + 16 * doc,
        "h": 240 + 8 * doc,
        "make": f"Cam{doc:02d}Maker",
        "dt": f"2024:0{1 + doc % 9}:{10 + doc % 20:02d} "
              f"08:{doc % 60:02d}:00",
    }


def _exif_oracle() -> str:
    rows = []
    for doc in range(12):
        s = _exif_spec(doc)
        if s is None:
            rows.append(f"({doc}, NULL, NULL, NULL, NULL, NULL)")
        else:
            rows.append(
                f"({doc}, {s['orientation']}, {s['w']}, {s['h']},"
                f" '{s['make']}', '{s['dt']}')")
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id,"
        " CAST(orientation AS INTEGER) AS orientation,"
        " CAST(exif_width AS INTEGER) AS exif_width,"
        " CAST(exif_height AS INTEGER) AS exif_height,"
        " CAST(make AS VARCHAR) AS make,"
        " CAST(taken_at AS VARCHAR) AS taken_at"
        " FROM (VALUES " + ", ".join(rows)
        + ") t(doc_id, orientation, exif_width, exif_height, make,"
        " taken_at)")


@query("mm_exif_meta", oracle=_exif_oracle())
def mm_exif_meta(spark, sf_dir):
    """EXIF metadata extraction from JPEG APP1 segments — orientation
    normalization and capture-time dedup keys are read from the TIFF
    IFDs (both II and MM byte orders, IFD0 + Exif sub-IFD, inline and
    out-of-line ASCII values) with NO pixel decode, so the per-blob
    cost is O(header) at any corpus size.  A quarter of the fixture
    docs carry no APP1 and must yield NULLs.  The oracle lists the
    formula-derived spec values directly — parser and spec agree only
    if every struct offset walk is correct.  Scale shape: Arrow-batched
    mapInPandas, embarrassingly parallel, no shuffle."""
    from ..functions.multimodal import (encode_exif_app1, extract_exif,
                                        insert_app1)
    rows = []
    for doc in range(12):
        jpg = encode_jpeg_py(8, 8, bytes(64))
        s = _exif_spec(doc)
        if s is not None:
            app1 = encode_exif_app1(s["w"], s["h"], s["orientation"],
                                    s["make"], s["dt"],
                                    byte_order="II" if doc % 2 else "MM")
            jpg = insert_app1(jpg, app1)
        rows.append((doc, bytearray(jpg)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return extract_exif(d)


@query("mm_header_sniff", oracle="""
SELECT CAST(i AS BIGINT) AS doc_id,
  CASE i % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg'
             WHEN 3 THEN 'bmp' ELSE 'unknown' END AS format,
  CAST(CASE WHEN i % 5 = 4 THEN -1 ELSE 16 + i % 13 END AS INTEGER)
    AS width,
  CAST(CASE WHEN i % 5 = 4 THEN -1 ELSE 8 + (i * 3) % 11 END AS INTEGER)
    AS height
FROM range(0, 40) t(i)
""")
def mm_header_sniff(spark, sf_dir):
    """Header-only format/dimension profiling — the realistic FIRST
    pass over a crawled image corpus at 100 TB: identify each blob and
    read its dimensions from magic bytes + fixed-offset header fields
    (PNG IHDR, GIF logical screen descriptor, JPEG SOF marker walk, BMP
    info header) with NO entropy decode, so per-blob cost is O(header)
    regardless of payload size.  Fixtures: a 40-doc mixed corpus
    cycling png/gif/jpeg/bmp/garbage with formula-derived dimensions;
    the oracle recomputes format and dims from the doc_id alone.
    Scale shape: Arrow-batched mapInPandas, embarrassingly parallel,
    no shuffle, full decode deferred to the filtered survivors."""
    rows = []
    for doc in range(40):
        w, h = 16 + doc % 13, 8 + (doc * 3) % 11
        k = doc % 5
        if k == 0:
            payload = encode_png_py(w, h, bytes(w * h), channels=1)
        elif k == 1:
            payload = encode_gif_py(w, h, bytes(w * h), bytes(6))
        elif k == 2:
            payload = encode_jpeg_py(w, h, bytes(w * h))
        elif k == 3:
            payload = encode_bmp_py(w, h, bytes(w * h * 3))
        else:
            payload = b"\x00\x01\x02 not an image payload"
        rows.append((doc, bytearray(payload)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return sniff_image_headers(d).select("doc_id", "format", "width",
                                         "height")


# ---------------------------------------------------------------------------
# REAL audio decode, same discipline as mm_real_decode: fixtures are
# genuine PCM WAV payloads synthesized from a sample formula; the
# engine decodes them (soundfile when present, else the pure-Python
# RIFF/PCM parser) and emits header facts plus a position-weighted
# sample checksum that the DuckDB oracle recomputes FROM THE FORMULA.
# ---------------------------------------------------------------------------

#             doc_id rate   channels n_frames
_WAV_SPECS = [(1,    8000,  1,       480),
              (2,    16000, 1,       800),
              (3,    44100, 2,       300)]   # stereo: interleaved frames


def _wav_sample(doc_id: int, i: int) -> int:
    """i-th value of the FLAT interleaved int16 sequence."""
    if doc_id == 1:
        return ((i * i * 37) % 20001) - 10000
    if doc_id == 2:
        return ((i * 91 + 17) % 30001) - 15000
    return ((i * i * 13 + i * 7) % 24001) - 12000


_WAV_DUCK = {1: "((i * i * 37) % 20001) - 10000",
             2: "((i * 91 + 17) % 30001) - 15000",
             3: "((i * i * 13 + i * 7) % 24001) - 12000"}


def _wav_payload(doc_id: int, rate: int, ch: int, n_frames: int) -> bytes:
    flat = [_wav_sample(doc_id, i) for i in range(n_frames * ch)]
    return encode_wav_py(flat, rate, channels=ch)


def _wav_oracle() -> str:
    parts = []
    for doc_id, rate, ch, n_frames in _WAV_SPECS:
        total = n_frames * ch
        chk = (f"(SELECT CAST(SUM((i + 1) * ({_WAV_DUCK[doc_id]})) AS BIGINT)"
               f" FROM range(0, {total}) t(i))")
        parts.append(
            f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
            f" {rate} AS sample_rate, {ch} AS channels, 16 AS bit_depth,"
            f" CAST({n_frames} AS BIGINT) AS n_samples,"
            f" {chk} AS sample_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_audio_decode", oracle=_wav_oracle())
def mm_real_audio_decode(spark, sf_dir):
    """REAL audio decoding executed in this container: three PCM WAV
    payloads (8/16/44.1 kHz, mono and interleaved stereo) flow through
    the binary-column pipeline and are decoded by
    :func:`padawan_spark.functions.multimodal.decode_audio` —
    soundfile when installed, else the dependency-free RIFF chunk-walk
    parser.  The oracle recomputes the position-weighted int16 sample
    checksum from the generator formula alone, so agreement proves
    every sample was recovered in order with the right sign and
    interleaving.  Scale shape: Arrow-batched mapInPandas over the
    payload column, embarrassingly parallel, no shuffle."""
    from ..functions.multimodal import decode_audio
    rows = [(doc_id, bytearray(_wav_payload(doc_id, rate, ch, n)))
            for doc_id, rate, ch, n in _WAV_SPECS]
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_audio(d)


# ---------------------------------------------------------------------------
# REAL decode of a COMPRESSED audio format: FLAC (what LibriSpeech-
# style speech corpora actually ship).  FLAC is lossless, so the same
# sample formulas as the WAV fixtures hold exactly after rice-coded
# FIXED-predictor compression — a correct checksum proves the bit
# reader, rice decode, predictor reconstruction, interleaving, and
# CRC-verified framing all ran correctly.
# ---------------------------------------------------------------------------

#              doc_id rate   channels n_frames fixed-order stereo
_FLAC_SPECS = [(1,    16000, 1,       2000,    2,          "indep"),
               (2,    8000,  1,       900,     0,          "indep"),
               (3,    44100, 2,       700,     3,          "indep"),
               # mid/side decorrelation: the side channel carries an
               # extra bit and reconstruction is (m<<1|s&1 +/- s)>>1
               (4,    24000, 2,       600,     2,          "mid")]


def _flac_oracle() -> str:
    parts = []
    for doc_id, rate, ch, n_frames, _o, _m in _FLAC_SPECS:
        total = n_frames * ch
        duck = _WAV_DUCK.get(doc_id, _WAV_DUCK[3])
        chk = (f"(SELECT CAST(SUM((i + 1) * ({duck}))"
               f" AS BIGINT) FROM range(0, {total}) t(i))")
        parts.append(
            f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
            f" {rate} AS sample_rate, {ch} AS channels, 16 AS bit_depth,"
            f" CAST({n_frames} AS BIGINT) AS n_samples,"
            f" {chk} AS sample_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_flac_decode", oracle=_flac_oracle())
def mm_real_flac_decode(spark, sf_dir):
    """REAL decoding of a COMPRESSED audio format in this container:
    three FLAC streams (rice-coded FIXED predictors of orders 0/2/3,
    mono and interleaved stereo, multiple frames per stream with
    CRC-8/CRC-16 verification) flow through
    :func:`padawan_spark.functions.multimodal.decode_audio` —
    soundfile when installed, else the dependency-free FLAC parser
    (:func:`decode_flac_py`).  The sample formulas are the SAME as the
    WAV fixtures, so the oracle recomputes the position-weighted
    checksum from the formula alone — FLAC's losslessness makes the
    compressed path exactly as checkable as the PCM one.  Scale shape:
    Arrow-batched mapInPandas, embarrassingly parallel, no shuffle."""
    from ..functions.multimodal import decode_audio, encode_flac_py
    rows = []
    for doc_id, rate, ch, n, order, mode in _FLAC_SPECS:
        flat = [_wav_sample(doc_id, i) for i in range(n * ch)]
        payload = encode_flac_py(flat, rate, channels=ch,
                                 block_size=512, fixed_order=order,
                                 stereo_mode=mode)
        rows.append((doc_id, bytearray(payload)))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_audio(d)


# ---------------------------------------------------------------------------
# REAL video frame sampling: fixtures are uncompressed YUV4MPEG2
# streams from a per-frame luma formula; the engine samples every 3rd
# frame (PyAV when present, else the pure-Python Y4M parser) and emits
# a per-frame position-weighted luma checksum the oracle recomputes
# from the formula.
# ---------------------------------------------------------------------------

#             doc_id  w   h  n_frames
_Y4M_SPECS = [(1,     16, 8, 7),
              (2,     6,  4, 10)]
_Y4M_EVERY = 3


def _y4m_payload(doc_id: int, w: int, h: int, n_frames: int) -> bytes:
    frames = []
    for f in range(n_frames):
        y = bytes((f * 31 + i * 7) % 256 for i in range(w * h))
        uv = bytes((f + i) % 256 for i in range((w // 2) * (h // 2)))
        frames.append(y + uv + uv)
    return encode_y4m_py(w, h, frames)


def _y4m_oracle() -> str:
    parts = []
    for doc_id, w, h, n_frames in _Y4M_SPECS:
        for f in range(0, n_frames, _Y4M_EVERY):
            chk = (f"(SELECT CAST(SUM((i + 1) * (({f} * 31 + i * 7) % 256))"
                   f" AS BIGINT) FROM range(0, {w * h}) t(i))")
            parts.append(
                f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                f" {f} AS frame_idx, {w} AS width, {h} AS height,"
                f" {chk} AS y_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_video_frames", oracle=_y4m_oracle())
def mm_real_video_frames(spark, sf_dir):
    """REAL video frame sampling executed in this container: two
    uncompressed YUV4MPEG2 streams (C420) flow through
    :func:`padawan_spark.functions.multimodal.sample_video_frames`,
    which extracts every 3rd frame — PyAV when installed, else the
    dependency-free Y4M parser.  The oracle recomputes each sampled
    frame's position-weighted luma checksum from the pixel formula, so
    agreement proves frame boundaries, plane sizes, and frame order
    were all decoded correctly.  Frame sampling is the training-
    pipeline primitive for video corpora; at scale it is the same
    embarrassingly parallel mapInPandas pass per blob."""
    from ..functions.multimodal import sample_video_frames
    rows = [(doc_id, bytearray(_y4m_payload(doc_id, w, h, n)))
            for doc_id, w, h, n in _Y4M_SPECS]
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return sample_video_frames(d, every_n=_Y4M_EVERY)


def _webp_anim_oracle() -> str:
    # doc 1: 11x7 canvas, base formula frame, overwrite sub-rect with
    # dispose-to-background, then a second sub-rect
    w, h = 11, 7
    x, y = "(i % 11)", "(i // 11)"
    base = (f"((7 * {x}) % 256 + 2 * ((11 * {y}) % 256)"
            f" + 3 * (({x} + {y}) % 256) + 1020)")
    c1 = 200 + 2 * 10 + 3 * 30 + 4 * 255          # f1 constant
    cbg = 9 + 2 * 8 + 3 * 7 + 4 * 255             # background
    c2 = 1 + 2 * 2 + 3 * 3 + 4 * 255              # f2 constant
    r1 = f"({x} BETWEEN 4 AND 8 AND {y} BETWEEN 2 AND 4)"
    r2 = f"({x} < 3 AND {y} < 3)"
    f0 = base
    f1 = f"(CASE WHEN {r1} THEN {c1} ELSE {base} END)"
    f2 = f"(CASE WHEN {r2} THEN {c2} WHEN {r1} THEN {cbg} ELSE {base} END)"
    parts = []
    for k, val in enumerate((f0, f1, f2)):
        parts.append(
            f"SELECT CAST(1 AS BIGINT) AS doc_id, {k} AS frame_idx,"
            f" {w} AS width, {h} AS height,"
            f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
            f"  FROM range(0, {w * h}) t(i)) AS pix_checksum")
    # doc 2: alpha BLENDING — semi-transparent constant over an opaque
    # constant; the container-spec integer blend closes over constants
    s, sa = (200, 100, 50), 100
    d = (40, 80, 120)
    blend = [(s[c] * sa + d[c] * 255 * (255 - sa) // 255) // 255
             for c in range(3)]
    cb = blend[0] + 2 * blend[1] + 3 * blend[2] + 4 * 255
    cd = d[0] + 2 * d[1] + 3 * d[2] + 4 * 255
    x2, y2 = "(i % 8)", "(i // 8)"
    rb = f"({x2} BETWEEN 2 AND 5 AND {y2} BETWEEN 2 AND 3)"
    for k, val in enumerate(
            (str(cd), f"(CASE WHEN {rb} THEN {cb} ELSE {cd} END)")):
        parts.append(
            f"SELECT CAST(2 AS BIGINT), {k}, 8, 6,"
            f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
            f"  FROM range(0, 48) t(i))")
    return " UNION ALL ".join(parts)


@query("mm_real_webp_anim", oracle=_webp_anim_oracle())
def mm_real_webp_anim(spark, sf_dir):
    """Animated WebP (VP8X + ANIM/ANMF) — frame-accurate decode
    with container-spec compositing, the web-corpus twin of the
    animated-GIF query: doc 1 exercises sub-frame offsets, overwrite
    rendering, and dispose-to-background (each presented canvas is
    checksummed with an alpha term so compositing mistakes are
    value-visible); doc 2 exercises ALPHA BLENDING of a
    semi-transparent sub-frame over an opaque canvas — the spec's
    integer blend closes over constant colors, so even the blended
    frame carries an exact closed-form oracle.  Sub-frames are
    lossless VP8L chunks (exact by construction).  Scale shape:
    Arrow-batched mapInPandas over binary payloads, zero shuffle."""
    from ..functions.multimodal import sample_webp_frames
    from ..functions.webp import encode_webp_anim_py

    def rect(fw, fh, fn):
        return b"".join(bytes(fn(xx, yy))
                        for yy in range(fh) for xx in range(fw))

    f0 = rect(11, 7, lambda xx, yy: ((7 * xx) % 256, (11 * yy) % 256,
                                     (xx + yy) % 256, 255))
    doc1 = encode_webp_anim_py(11, 7, [
        (0, 0, 11, 7, f0, 1, 0, 40),
        (4, 2, 5, 3, rect(5, 3, lambda xx, yy: (200, 10, 30, 255)),
         1, 1, 40),
        (0, 0, 3, 3, rect(3, 3, lambda xx, yy: (1, 2, 3, 255)),
         0, 0, 40),
    ], bg=(9, 8, 7, 255))
    doc2 = encode_webp_anim_py(8, 6, [
        (0, 0, 8, 6, rect(8, 6, lambda xx, yy: (40, 80, 120, 255)),
         1, 0, 40),
        (2, 2, 4, 2, rect(4, 2, lambda xx, yy: (200, 100, 50, 100)),
         0, 0, 40),
    ])
    d = spark.createDataFrame([(1, bytearray(doc1)), (2, bytearray(doc2))],
                              "doc_id bigint, payload binary")
    return sample_webp_frames(d)


# ---------------------------------------------------------------------------
# REAL video containers: Motion-JPEG inside AVI (RIFF) and MP4
# (ISO BMFF) — the dominant container layouts of real video corpora —
# plus a header-only metadata scan across all three containers.  The
# MJPEG fixtures reuse the flat-quant constant-tile JPEG trick (exact
# by construction), so the oracle recomputes sampled-frame luma
# checksums from the tile formula alone: agreement proves the RIFF
# chunk walk / the stsz+stsc+stco sample-table resolution AND the
# per-frame JPEG entropy decode both ran correctly.
# ---------------------------------------------------------------------------

#                 doc_id  w   h   n  fps
_AVI_SPECS = [(1,  24, 16, 5, 10),
              (2,  32,  8, 4, 25)]
_AVI_EVERY = 2
_MP4_SPECS = [(1,  16, 24, 7, 30),
              (2,  40,  8, 3, 25)]
_MP4_EVERY = 3


def _mjpeg_gray(doc_id: int, w: int, h: int, f: int) -> bytes:
    return bytes((17 * (x // 8) + 29 * (y // 8) + 7 * f + 13 * doc_id)
                 % 256 for y in range(h) for x in range(w))


def _mjpeg_oracle(specs, every) -> str:
    parts = []
    for doc_id, w, h, n, _fps in specs:
        bx, by = f"((i % {w}) // 8)", f"((i // {w}) // 8)"
        for f in range(0, n, every):
            val = f"((17 * {bx} + 29 * {by} + {7 * f + 13 * doc_id}) % 256)"
            parts.append(
                f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                f" {f} AS frame_idx, {w} AS width, {h} AS height,"
                f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
                f"  FROM range(0, {w * h}) t(i)) AS y_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_video_avi", oracle=_mjpeg_oracle(_AVI_SPECS, _AVI_EVERY))
def mm_real_video_avi(spark, sf_dir):
    """REAL compressed-video frame sampling from the AVI container:
    Motion-JPEG streams built by the in-repo JPEG encoder flow
    through :func:`sample_video_frames`, whose RIFF walk
    (`functions/video.py:decode_avi_py`) locates the ``vids`` stream's
    ``00dc`` chunks and decodes each with the baseline JPEG decoder.
    Constant-tile frames under flat quant are exact, so the oracle
    recomputes every sampled frame's position-weighted luma checksum
    from the tile formula — proving chunk boundaries, stream-number
    filtering, frame order, and the entropy decode.  Scale shape:
    Arrow-batched mapInPandas per blob, zero shuffle; the container
    walk is sequential within one blob only."""
    from ..functions.multimodal import sample_video_frames
    from ..functions.video import encode_avi_mjpeg_py
    rows = []
    for doc_id, w, h, n, fps in _AVI_SPECS:
        frames = [encode_jpeg_py(w, h, _mjpeg_gray(doc_id, w, h, f))
                  for f in range(n)]
        rows.append((doc_id,
                     bytearray(encode_avi_mjpeg_py(w, h, frames, fps))))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return sample_video_frames(d, every_n=_AVI_EVERY)


@query("mm_real_video_mp4", oracle=_mjpeg_oracle(_MP4_SPECS, _MP4_EVERY))
def mm_real_video_mp4(spark, sf_dir):
    """REAL frame sampling from the MP4 / ISO-BMFF container:
    MJPEG samples addressed through the real sample tables — ``stsz``
    sizes, ``stsc`` chunk map, ``stco`` offsets into ``mdat``
    (`functions/video.py:extract_mp4_frames_py`) — then decoded with
    the in-repo baseline JPEG decoder.  The oracle recomputes sampled
    luma checksums from the constant-tile formula, so a sample-table
    off-by-one (wrong offset, size, or chunk expansion) fails the
    hash.  Same Arrow-batched mapInPandas shape as the AVI path."""
    from ..functions.multimodal import sample_video_frames
    from ..functions.video import encode_mp4_mjpeg_py
    rows = []
    for doc_id, w, h, n, fps in _MP4_SPECS:
        frames = [encode_jpeg_py(w, h, _mjpeg_gray(doc_id, w, h, f))
                  for f in range(n)]
        rows.append((doc_id,
                     bytearray(encode_mp4_mjpeg_py(w, h, frames, fps))))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return sample_video_frames(d, every_n=_MP4_EVERY)


def _video_meta_oracle() -> str:
    rows = [
        # AVI doc 1 of _AVI_SPECS: dwTotalFrames=5 @ 10 fps
        "SELECT CAST(1 AS BIGINT) AS doc_id, 'avi' AS container,"
        " 'MJPG' AS codec, 24 AS width, 16 AS height,"
        " CAST(5 AS BIGINT) AS n_frames, CAST(500 AS BIGINT) AS duration_ms",
        # MP4 doc 1 of _MP4_SPECS: 7 samples @ 30 fps, timescale 3000
        "SELECT CAST(2 AS BIGINT), 'mp4', 'jpeg', 16, 24,"
        " CAST(7 AS BIGINT), CAST(233 AS BIGINT)",
        # Y4M: 7 raw frames @ F25:1
        "SELECT CAST(3 AS BIGINT), 'y4m', 'rawvideo', 16, 8,"
        " CAST(7 AS BIGINT), CAST(280 AS BIGINT)",
    ]
    return " UNION ALL ".join(rows)


@query("mm_video_metadata", oracle=_video_meta_oracle())
def mm_video_metadata(spark, sf_dir):
    """Header-only video-container triage: one AVI, one MP4, one
    Y4M payload flow through :func:`scan_video_containers`, which reads
    ONLY the header structures (AVI ``hdrl``, MP4 ``moov``, the Y4M
    stream line) — never the frame payloads — and emits codec,
    resolution, frame count, and duration.  This is the first pass any
    100 TB video corpus gets (what codecs? what resolutions? how many
    hours?) and must cost O(header) per blob; the fixtures' metadata is
    spec-derivable so the oracle is closed-form."""
    from ..functions.multimodal import (encode_y4m_py as _y4m,
                                        scan_video_containers)
    from ..functions.video import encode_avi_mjpeg_py, encode_mp4_mjpeg_py
    doc_id, w, h, n, fps = _AVI_SPECS[0]
    avi = encode_avi_mjpeg_py(
        w, h, [encode_jpeg_py(w, h, _mjpeg_gray(doc_id, w, h, f))
               for f in range(n)], fps)
    doc_id, w, h, n, fps = _MP4_SPECS[0]
    mp4 = encode_mp4_mjpeg_py(
        w, h, [encode_jpeg_py(w, h, _mjpeg_gray(doc_id, w, h, f))
               for f in range(n)], fps)
    yw, yh, yn = 16, 8, 7
    y4m = _y4m(yw, yh, [bytes((f + i) % 256 for i in range(
        yw * yh + 2 * (yw // 2) * (yh // 2))) for f in range(yn)])
    d = spark.createDataFrame(
        [(1, bytearray(avi)), (2, bytearray(mp4)), (3, bytearray(y4m))],
        "doc_id bigint, payload binary")
    return scan_video_containers(d)


# ---------------------------------------------------------------------------
# REAL telephony-audio decode (G.711) and MPEG-audio triage.
# G.711 mu-law/A-law expansion is formula-exact (the CCITT segment
# arithmetic, cross-validated bit-identical to the classic CPython
# audioop tables over all 256 codes in tests), so the DuckDB oracle
# re-derives every decoded sample from the byte formula.  MP3 full
# synthesis needs the ISO polyphase window tables (numeric constants,
# unverifiable here) and stays honestly gated; the frame-walk metadata
# scan below is what a 100 TB audio corpus needs first anyway.
# ---------------------------------------------------------------------------

#               doc_id  n    rate  alaw   byte formula
_G711_SPECS = [(1,      400, 8000, False, (7, 13)),
               (2,      300, 8000, True,  (11, 5))]


def _g711_oracle() -> str:
    parts = []
    for doc_id, n, rate, alaw, (m, c) in _G711_SPECS:
        v = f"(({m} * i + {c}) % 256)"
        if alaw:
            a = f"xor({v}, 85)"
            seg = f"(({a} // 16) % 8)"
            t = (f"(CASE WHEN {seg} = 0 THEN ({a} % 16) * 16 + 8 "
                 f"ELSE ((({a} % 16) * 16) + 264) * (1 << ({seg} - 1)) "
                 f"END)")
            val = f"(CASE WHEN {a} >= 128 THEN {t} ELSE -{t} END)"
        else:
            u = f"(255 - {v})"
            t = f"((({u} % 16) * 8 + 132) * (1 << (({u} // 16) % 8)))"
            val = f"(CASE WHEN {u} >= 128 THEN 132 - {t} "\
                  f"ELSE {t} - 132 END)"
        parts.append(
            f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
            f" {rate} AS sample_rate, 1 AS channels, 8 AS bit_depth,"
            f" CAST({n} AS BIGINT) AS n_samples,"
            f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
            f"  FROM range(0, {n}) t(i)) AS sample_checksum")
    return " UNION ALL ".join(parts)


@query("mm_real_g711_decode", oracle=_g711_oracle())
def mm_real_g711_decode(spark, sf_dir):
    """REAL G.711 telephony decode: mu-law (WAV format 7) and
    A-law (format 6) payloads expand to 16-bit linear PCM through
    :func:`decode_audio` with the exact CCITT segment formulas
    (`functions/multimodal.py:ulaw_to_lin16`/`alaw_to_lin16`,
    cross-validated bit-identical to audioop over every code in
    tests/test_extensions.py).  The oracle recomputes each decoded
    sample from the byte formula in SQL — complement/xor, segment
    shift, rebias — so a single wrong table cell fails the hash.
    Speech corpora (call centers, telephony datasets) ship G.711;
    scale shape is the usual Arrow-batched mapInPandas, zero
    shuffle."""
    from ..functions.multimodal import decode_audio, encode_wav_g711_py
    rows = []
    for doc_id, n, rate, alaw, (m, c) in _G711_SPECS:
        payload = bytes((m * i + c) % 256 for i in range(n))
        rows.append((doc_id, bytearray(
            encode_wav_g711_py(payload, rate, alaw=alaw))))
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return decode_audio(d)


_MP3_VBR_SEQ = (64, 128, 192, 128, 64, 320, 96, 112, 160, 224)


def _mp3_oracle() -> str:
    rows = [
        # doc 1: CBR 128 kbps MPEG1 L3 stereo, 30 frames, ID3v2 tag
        f"SELECT CAST(1 AS BIGINT) AS doc_id, 'MPEG1' AS version,"
        f" 3 AS layer, 44100 AS sample_rate, 2 AS channels,"
        f" CAST(30 AS BIGINT) AS n_frames,"
        f" CAST(30 * 1152 * 1000 // 44100 AS BIGINT) AS duration_ms,"
        f" 128 AS bitrate_kbps, FALSE AS vbr, TRUE AS id3v2",
        # doc 2: VBR (Xing) MPEG1 L3 mono 48 kHz, 10 frames
        f"SELECT CAST(2 AS BIGINT), 'MPEG1', 3, 48000, 1,"
        f" CAST(10 AS BIGINT),"
        f" CAST(10 * 1152 * 1000 // 48000 AS BIGINT),"
        f" CAST(({' + '.join(map(str, _MP3_VBR_SEQ))}) // 10 AS INT),"
        f" TRUE, FALSE",
        # doc 3: MPEG2 L3 mono 16 kHz (576-sample frames), 20 frames
        f"SELECT CAST(3 AS BIGINT), 'MPEG2', 3, 16000, 1,"
        f" CAST(20 AS BIGINT),"
        f" CAST(20 * 576 * 1000 // 16000 AS BIGINT), 48, FALSE, FALSE",
        # doc 4: MPEG1 LAYER II 192 kbps stereo, 8 frames
        f"SELECT CAST(4 AS BIGINT), 'MPEG1', 2, 44100, 2,"
        f" CAST(8 AS BIGINT),"
        f" CAST(8 * 1152 * 1000 // 44100 AS BIGINT), 192, FALSE, FALSE",
    ]
    return " UNION ALL ".join(rows)


@query("mm_audio_mp3_scan", oracle=_mp3_oracle())
def mm_audio_mp3_scan(spark, sf_dir):
    """MPEG-audio corpus triage: four fixture streams — CBR with
    an ID3v2 tag, VBR with a Xing tag frame (recognized and excluded
    from the audio frame count), an MPEG-2 low-sample-rate stream
    (576-sample frames), and a Layer II stream — flow through
    :func:`scan_mp3_meta`, which walks the ISO 11172-3/13818-3 frame
    headers computing sample-accurate duration, average bitrate, and
    CBR/VBR classification.  The oracle re-derives every field from
    the spec arithmetic (samples-per-frame x frames / rate), so a
    frame-length table error desyncs the walk and fails the check."""
    from ..functions.mp3 import encode_mp3_frames_py
    from ..functions.multimodal import scan_mp3_meta
    docs = [
        (1, encode_mp3_frames_py(30, bitrate=128, sample_rate=44100,
                                 channels=2, id3v2_bytes=100)),
        (2, encode_mp3_frames_py(10, sample_rate=48000, channels=1,
                                 xing=True,
                                 bitrate_seq=list(_MP3_VBR_SEQ))),
        (3, encode_mp3_frames_py(20, bitrate=48, sample_rate=16000,
                                 channels=1)),
        (4, encode_mp3_frames_py(8, bitrate=192, sample_rate=44100,
                                 channels=2, layer=2)),
    ]
    d = spark.createDataFrame([(i, bytearray(b)) for i, b in docs],
                              "doc_id bigint, payload binary")
    return scan_mp3_meta(d)


#               doc_id  codec     rate   ch  n_samples  pages
_OGG_SPECS = [(1,      "vorbis", 44100, 2, 441000,    3),
              (2,      "opus",   48000, 1, 480000,    5),
              (3,      "vorbis", 8000,  1, 12345,     2)]


def _ogg_oracle() -> str:
    parts = []
    for doc_id, codec, rate, ch, n, pages in _OGG_SPECS:
        # encoder emits BOS + data pages + EOS = pages + 2 total;
        # opus granules are 48 kHz and the oracle mirrors the pre-skip
        if codec == "opus":
            dur = f"CAST({n} * 1000 // 48000 AS BIGINT)"
        else:
            dur = f"CAST({n} * 1000 // {rate} AS BIGINT)"
        parts.append(
            f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
            f" '{codec}' AS codec, {rate} AS sample_rate,"
            f" {ch} AS channels, CAST({pages + 2} AS BIGINT) AS n_pages,"
            f" {dur} AS duration_ms")
    return " UNION ALL ".join(parts)


@query("mm_audio_ogg_scan", oracle=_ogg_oracle())
def mm_audio_ogg_scan(spark, sf_dir):
    """Ogg/Vorbis + Ogg/Opus corpus triage: fixture streams built
    to the RFC 3533 page layout (real CRC-32s — the parser verifies
    every page and tests prove corruption is rejected) flow through
    :func:`scan_ogg_meta`: codec from the BOS identification header,
    channels/rate from the id packet, duration from the final granule
    (Opus granules run at 48 kHz minus pre-skip — the spec subtlety
    the oracle mirrors).  Together with mm_audio_mp3_scan this covers
    the two dominant compressed-audio families at O(headers) per
    blob."""
    from ..functions.mp3 import encode_ogg_py
    from ..functions.multimodal import scan_ogg_meta
    rows = [(doc_id, bytearray(encode_ogg_py(
        codec, rate, ch, n, n_data_pages=pages + 1)))
        for doc_id, codec, rate, ch, n, pages in _OGG_SPECS]
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    return scan_ogg_meta(d)


@query("mm_audio_id3_tags", oracle="""
SELECT CAST(1 AS BIGINT) AS doc_id, 'Étude No. 5' AS title,
       'Ensemble Σ' AS artist, 'Live' AS album, '1997' AS year,
       '5/12' AS track, CAST(NULL AS VARCHAR) AS genre
UNION ALL
SELECT CAST(2 AS BIGINT), '日本語タイトル', NULL, NULL, '2003', NULL,
       'Speech'
UNION ALL
SELECT CAST(3 AS BIGINT), NULL, NULL, NULL, NULL, NULL, NULL
""")
def mm_audio_id3_tags(spark, sf_dir):
    """ID3v2 attribution extraction — the audio twin of
    mm_exif_meta: doc 1 carries a v2.3 tag (UTF-16 BOM text frames,
    TYER year), doc 2 a v2.4 tag (UTF-8, syncsafe frame sizes, TDRC),
    doc 3 a bare MPEG stream with no tag at all (all columns NULL —
    absence must not error).  Both tagged docs also carry real audio
    frames after the tag, proving the walk stops at the tag boundary.
    Attribution metadata (title/artist/album) is what a licensed-music
    or podcast corpus joins on; the scan is O(tag bytes) per blob."""
    from ..functions.mp3 import encode_id3v2_py, encode_mp3_frames_py
    from ..functions.multimodal import extract_id3_tags
    d1 = (encode_id3v2_py({"title": "Étude No. 5", "artist": "Ensemble Σ",
                           "album": "Live", "year": "1997",
                           "track": "5/12"})
          + encode_mp3_frames_py(4, bitrate=128, sample_rate=44100))
    d2 = (encode_id3v2_py({"title": "日本語タイトル", "year": "2003",
                           "genre": "Speech"}, version=4)
          + encode_mp3_frames_py(3, bitrate=64, sample_rate=22050,
                                 channels=1))
    d3 = encode_mp3_frames_py(2, bitrate=96, sample_rate=32000)
    d = spark.createDataFrame(
        [(1, bytearray(d1)), (2, bytearray(d2)), (3, bytearray(d3))],
        "doc_id bigint, payload binary")
    return extract_id3_tags(d)


_SUB_SPECS = [(1, "srt", 6), (2, "vtt", 4)]


def _sub_oracle() -> str:
    parts = []
    for doc_id, kind, n in _SUB_SPECS:
        for k in range(n):
            start = 1000 * k * doc_id + 17 * k
            end = start + 900 + 10 * k
            parts.append(
                f"SELECT CAST({doc_id} AS BIGINT) AS doc_id,"
                f" {k} AS cue_idx, CAST({start} AS BIGINT) AS start_ms,"
                f" CAST({end} AS BIGINT) AS end_ms,"
                f" 'caption {k} of doc {doc_id}' AS text")
    return " UNION ALL ".join(parts)


@query("mm_subtitle_parse", oracle=_sub_oracle())
def mm_subtitle_parse(spark, sf_dir):
    """Subtitle/caption cue extraction: SRT and WebVTT payloads —
    the aligned-text channel of a video corpus, the part a multimodal
    pipeline actually trains on — parse into (cue_idx, start_ms,
    end_ms, text) rows via `functions/video.py:parse_subtitles_py`.
    The WebVTT fixture carries a NOTE block, cue identifiers, and
    per-cue settings (all skipped per spec); timestamps exercise both
    the comma (SRT) and dot (VTT) millisecond forms.  The oracle
    restates every cue from the fixture formula.  Arrow-batched
    mapInPandas, one row per cue, zero shuffle."""
    import pandas as pd
    from ..functions.video import (encode_srt_py, encode_vtt_py,
                                   parse_subtitles_py)

    def payload(doc_id, kind, n):
        cues = [(1000 * k * doc_id + 17 * k,
                 1000 * k * doc_id + 17 * k + 900 + 10 * k,
                 f"caption {k} of doc {doc_id}") for k in range(n)]
        return (encode_srt_py if kind == "srt" else encode_vtt_py)(cues)

    rows = [(doc_id, bytearray(payload(doc_id, kind, n)))
            for doc_id, kind, n in _SUB_SPECS]
    d = spark.createDataFrame(rows, "doc_id bigint, payload binary")

    def batches(it):
        for pdf in it:
            out = []
            for i, b in zip(pdf["doc_id"], pdf["payload"]):
                for cue in parse_subtitles_py(bytes(b)):
                    out.append((i, *cue))
            yield pd.DataFrame(out, columns=[
                "doc_id", "cue_idx", "start_ms", "end_ms", "text"])

    return d.mapInPandas(batches, "doc_id bigint, cue_idx int, "
                                  "start_ms bigint, end_ms bigint, "
                                  "text string")


@query("mm_media_triage", oracle="""
SELECT CAST(1 AS BIGINT) AS doc_id, 'image' AS media_type, 'png' AS format
UNION ALL SELECT 2, 'image', 'jpeg'
UNION ALL SELECT 3, 'audio', 'wav'
UNION ALL SELECT 4, 'audio', 'flac'
UNION ALL SELECT 5, 'audio', 'mp3'
UNION ALL SELECT 6, 'audio', 'ogg'
UNION ALL SELECT 7, 'video', 'avi'
UNION ALL SELECT 8, 'video', 'mp4'
UNION ALL SELECT 9, 'video', 'y4m'
UNION ALL SELECT 10, 'caption', 'vtt'
UNION ALL SELECT 11, 'caption', 'srt'
UNION ALL SELECT 12, 'unknown', 'unknown'
""")
def mm_media_triage(spark, sf_dir):
    """TOTAL mixed-corpus triage: twelve payloads spanning every
    media family this engine understands — images, four audio
    families, three video containers, both caption formats, and pure
    garbage — classify by magic bytes alone via
    :func:`sniff_media_py`.  O(16 bytes) per blob and total by
    construction (the garbage row must classify as unknown, not
    raise): the first routing pass a mixed 100 TB crawl gets before
    the per-family header scans."""
    import pandas as pd
    from ..functions.mp3 import (encode_id3v2_py, encode_mp3_frames_py,
                                 encode_ogg_py)
    from ..functions.multimodal import (encode_flac_py, encode_wav_py,
                                        sniff_media_py)
    from ..functions.video import (encode_avi_mjpeg_py,
                                   encode_mp4_mjpeg_py, encode_srt_py,
                                   encode_vtt_py)
    jpeg = encode_jpeg_py(8, 8, bytes(range(64)))
    docs = [
        (1, encode_png_py(4, 3, bytes(36))),
        (2, jpeg),
        (3, encode_wav_py([0, 1, -1, 2], 8000)),
        (4, encode_flac_py([0, 1, -1, 2], 8000)),
        (5, encode_id3v2_py({"title": "t"}) + encode_mp3_frames_py(2)),
        (6, encode_ogg_py("vorbis", 44100, 2, 44100)),
        (7, encode_avi_mjpeg_py(8, 8, [jpeg])),
        (8, encode_mp4_mjpeg_py(8, 8, [jpeg])),
        (9, encode_y4m_py(4, 2, [bytes(10)])),
        (10, encode_vtt_py([(0, 500, "hi")])),
        (11, encode_srt_py([(0, 500, "hi")])),
        (12, b"\x00\x01garbage payload\xfe\xff"),
    ]
    d = spark.createDataFrame([(i, bytearray(b)) for i, b in docs],
                              "doc_id bigint, payload binary")

    def batches(it):
        for pdf in it:
            out = [(i, *sniff_media_py(bytes(b)))
                   for i, b in zip(pdf["doc_id"], pdf["payload"])]
            yield pd.DataFrame(out, columns=["doc_id", "media_type",
                                             "format"])

    return d.mapInPandas(
        batches, "doc_id bigint, media_type string, format string")


@query("mm_real_wav_deep", oracle="""
SELECT CAST(1 AS BIGINT) AS doc_id, 48000 AS sample_rate,
       1 AS channels, 24 AS bit_depth, CAST(200 AS BIGINT) AS n_samples,
       (SELECT CAST(SUM((i + 1) * (((i * 9973) % 65536) - 32768))
               AS BIGINT) FROM range(0, 200) t(i)) AS sample_checksum
UNION ALL
SELECT CAST(2 AS BIGINT), 44100, 1, 32, CAST(300 AS BIGINT),
       (SELECT CAST(SUM((i + 1) * ((((i * 37) % 128) - 64) * 256))
               AS BIGINT) FROM range(0, 300) t(i))
""")
def mm_real_wav_deep(spark, sf_dir):
    """Deep-sample WAV decode: 24-bit PCM (3-byte LE, reduced to
    int16 by arithmetic >>8 — the libsndfile dtype=int16 convention)
    and IEEE-float WAV (format code 3, x32768 full-scale, fixtures on
    exact 1/32768 multiples so the conversion closes in integers).
    Studio masters and DAW exports ship these; the oracle recomputes
    every converted sample from the fixture formulas.  Same
    Arrow-batched decode_audio pass as the 16-bit/G.711/FLAC paths."""
    from ..functions.multimodal import decode_audio, encode_wav_deep_py
    v16 = [((i * 9973) % 65536) - 32768 for i in range(200)]
    d1 = encode_wav_deep_py([v * 256 for v in v16], 48000, bits=24)
    f = [(((i * 37) % 128) - 64) / 128.0 for i in range(300)]
    d2 = encode_wav_deep_py(f, 44100, bits=32)
    d = spark.createDataFrame([(1, bytearray(d1)), (2, bytearray(d2))],
                              "doc_id bigint, payload binary")
    return decode_audio(d)


def _apng_oracle() -> str:
    # doc 1: 10x6 — formula base frame; overwrite sub-rect with
    # dispose-to-background; then an alpha-over 2x2 patch
    w, h = 10, 6
    x, y = "(i % 10)", "(i // 10)"
    r = f"((3 * {x}) % 256)"
    g = f"((5 * {y}) % 256)"
    bb = f"(({x} + {y}) % 256)"
    base = f"({r} + 2 * {g} + 3 * {bb} + 1020)"
    c1 = 200 + 2 * 10 + 3 * 30 + 4 * 255
    reg1 = f"({x} BETWEEN 3 AND 6 AND {y} BETWEEN 1 AND 3)"
    reg2 = f"({x} < 2 AND {y} < 2)"
    # integer 'over' with opaque dst: out_c = (100*s + 155*d) // 255
    def ov(s, d):
        return f"((100 * {s} + 155 * {d}) // 255)"
    f2pix = (f"(CASE WHEN {reg2} THEN {ov(100, r)} + 2 * {ov(50, g)}"
             f" + 3 * {ov(25, bb)} + 1020"
             f" WHEN {reg1} THEN 0 ELSE {base} END)")
    f0 = base
    f1 = f"(CASE WHEN {reg1} THEN {c1} ELSE {base} END)"
    parts = []
    for k, val in enumerate((f0, f1, f2pix)):
        parts.append(
            f"SELECT CAST(1 AS BIGINT) AS doc_id, {k} AS frame_idx,"
            f" {w} AS width, {h} AS height,"
            f" (SELECT CAST(SUM((i + 1) * {val}) AS BIGINT)"
            f"  FROM range(0, {w * h}) t(i)) AS pix_checksum")
    # doc 2: dispose-to-PREVIOUS — frame 2's sub-rect must vanish from
    # frame 3's canvas
    ca = 40 + 2 * 80 + 3 * 120 + 4 * 255
    cb = 7 + 2 * 14 + 3 * 21 + 4 * 255
    cc = 90 + 2 * 60 + 3 * 30 + 4 * 255
    x2, y2 = "(i % 8)", "(i // 8)"
    rb = f"({x2} BETWEEN 1 AND 3 AND {y2} BETWEEN 1 AND 2)"
    rc = f"({x2} BETWEEN 5 AND 6 AND {y2} BETWEEN 2 AND 3)"
    for k, val in enumerate(
            (str(ca),
             f"(CASE WHEN {rb} THEN {cb} ELSE {ca} END)",
             f"(CASE WHEN {rc} THEN {cc} ELSE {ca} END)")):
        parts.append(
            f"SELECT CAST(2 AS BIGINT), {k}, 8, 5,"
            f" (SELECT CAST(SUM((i + 1) * ({val})) AS BIGINT)"
            f"  FROM range(0, 40) t(i))")
    return " UNION ALL ".join(parts)


@query("mm_real_apng_frames", oracle=_apng_oracle())
def mm_real_apng_frames(spark, sf_dir):
    """Animated PNG — the PNG member of the GIF/WebP/APNG
    animated-web trio: acTL/fcTL/fdAT chunk walk, per-frame zlib
    datastreams decoded through the full PNG unfilter machinery, and
    spec compositing — doc 1 exercises sub-frame offsets, overwrite
    rendering, dispose-to-background, and integer alpha-over blending
    (closed-form over the constants); doc 2 exercises
    dispose-to-PREVIOUS (the presented sub-rect must vanish from the
    next canvas).  Every presented canvas's position-weighted RGBA
    checksum is recomputed by the oracle.  Arrow-batched mapInPandas,
    zero shuffle."""
    from ..functions.multimodal import (encode_apng_py,
                                        sample_apng_frames)

    def rect(fw, fh, fn):
        return b"".join(bytes(fn(xx, yy))
                        for yy in range(fh) for xx in range(fw))

    f0 = rect(10, 6, lambda xx, yy: ((3 * xx) % 256, (5 * yy) % 256,
                                     (xx + yy) % 256, 255))
    doc1 = encode_apng_py(10, 6, [
        (0, 0, 10, 6, f0, 0, 0, 40),
        (3, 1, 4, 3, rect(4, 3, lambda xx, yy: (200, 10, 30, 255)),
         1, 0, 40),
        (0, 0, 2, 2, rect(2, 2, lambda xx, yy: (100, 50, 25, 100)),
         0, 1, 40),
    ])
    a = rect(8, 5, lambda xx, yy: (40, 80, 120, 255))
    doc2 = encode_apng_py(8, 5, [
        (0, 0, 8, 5, a, 0, 0, 40),
        (1, 1, 3, 2, rect(3, 2, lambda xx, yy: (7, 14, 21, 255)),
         2, 0, 40),
        (5, 2, 2, 2, rect(2, 2, lambda xx, yy: (90, 60, 30, 255)),
         0, 0, 40),
    ])
    d = spark.createDataFrame([(1, bytearray(doc1)), (2, bytearray(doc2))],
                              "doc_id bigint, payload binary")
    return sample_apng_frames(d)
