"""Property-based tests: random lexicographic slice bounds against a
pure-Python ground truth over a fixed null-bearing dataset."""

import datetime as dt
import decimal
import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from padawan_spark import Dataset
from padawan_spark.ordering import lex_key

ROWS = [
    (None, None), (None, 2), (0, None), (0, 0), (0, 5), (1, 1),
    (1, None), (2, 0), (2, 7), (3, 3), (3, 4), (5, 0),
]

val = st.one_of(st.none(), st.integers(min_value=-1, max_value=6))
bound = st.one_of(st.none(), st.tuples(val), st.tuples(val, val))
inclusive = st.sampled_from(["none", "lower", "upper", "both"])


def expected(lb, ub, inc):
    lo_incl = inc in ("lower", "both")
    hi_incl = inc in ("upper", "both")
    out = []
    for r in ROWS:
        ok = True
        if lb is not None:
            k, b = lex_key(r[:len(lb)]), lex_key(lb)
            ok &= (k >= b) if lo_incl else (k > b)
        if ub is not None:
            k, b = lex_key(r[:len(ub)]), lex_key(ub)
            ok &= (k <= b) if hi_incl else (k < b)
        if ok:
            out.append(r)
    return sorted(out, key=lex_key)


@pytest.fixture(scope="module")
def ds(spark):
    df = spark.createDataFrame(ROWS, "x int, y int").coalesce(1).cache()
    df.count()
    return Dataset(spark, df, index_columns=("x", "y"))


@settings(max_examples=25, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(lb=bound, ub=bound, inc=inclusive)
@pytest.mark.slow
def test_slice_matches_python_ground_truth(ds, lb, ub, inc):
    got = sorted(
        (tuple(r) for r in ds.slice(lb, ub, inclusive=inc).df.collect()),
        key=lex_key)
    assert got == expected(lb, ub, inc), (lb, ub, inc)


def test_collate_exact_greedy(spark, tmp_path):
    import pandas as pd
    from padawan_spark import from_pandas, scan_parquet
    pdf = pd.DataFrame({"k": range(100), "v": range(100)})
    ds = from_pandas(spark, pdf, index_columns=("k",))
    w = ds.repartition(10, exact=True).write_parquet(str(tmp_path / "c"))
    assert w.sizes == [10] * 10
    c = w.collate(25)
    # greedy over bound-sorted partitions: 30/30/30 + tail 10 merged -> 40
    assert c.sizes == [30, 30, 40]
    assert c.lower_bounds == [(0,), (30,), (60,)]
    assert c.upper_bounds == [(29,), (59,), (99,)]
    assert c.df.count() == 100


def test_decimal_sum_partition_invariant(spark):
    """The exact-decimal aggregation policy's core property: the sum is
    bit-identical no matter how the rows are partitioned or ordered
    (plain double sums do NOT have this property — float addition is
    not associative)."""
    from pyspark.sql import functions as F

    from padawan_spark.queries.registry import DEC, load

    l = load(spark, "/root/testdata/sf0.001", "lineitem")

    def total(df):
        return (df.agg(F.sum(F.col("l_extendedprice").cast(DEC))
                       .cast("double").alias("t")).collect()[0]["t"])

    base = total(l)
    for n in (1, 3, 17):
        assert total(l.repartition(n)) == base
    assert total(l.repartition(8, "l_suppkey")) == base
    assert total(l.orderBy(F.desc("l_extendedprice"))) == base


def test_perfect_hash_labels_are_permutations():
    """Driver-side property behind collate's one-shuffle layout: for any
    group count k, the generated labels hash (Spark murmur3, seed 42)
    onto partition slots as an exact permutation with labels[i] -> i."""
    from padawan_spark.dataset import _murmur3_int32, _perfect_hash_labels
    for k in list(range(1, 65)) + [100, 257, 1000]:
        labels = _perfect_hash_labels(k)
        slots = [_murmur3_int32(l) % k for l in labels]
        assert slots == list(range(k)), k


@pytest.mark.parametrize("seed", [7, 23])
@pytest.mark.slow
def test_time_travel_snapshot_property(spark, tmp_path, seed):
    """Property test over random maintenance
    sequences: after any mix of overwrite/append/compact/vacuum,
    (a) every still-retained version pin reads EXACTLY the row set that
    existed when it was archived, (b) no retained manifest references a
    deleted file, and (c) the current view equals the newest snapshot."""
    import random

    import pandas as pd

    from padawan_spark import compact_parquet, from_pandas, scan_parquet
    from padawan_spark.metadata import list_versions, load_manifest, vacuum

    rng = random.Random(seed)
    p = str(tmp_path / f"tt{seed}")
    next_id = [0]

    def fresh_rows(n):
        ids = list(range(next_id[0], next_id[0] + n))
        next_id[0] += n
        return ids

    def ds_of(ids):
        pdf = pd.DataFrame({"k": ids, "v": [i * 10 for i in ids]})
        return from_pandas(spark, pdf, index_columns=("k",)).repartition(3)

    # version -> frozenset of ids that snapshot must read forever
    expected: dict[int, frozenset] = {}
    current: frozenset = frozenset()

    def record():
        vs = list_versions(p)
        expected[vs[-1]] = current

    ids = fresh_rows(rng.randint(3, 8))
    ds_of(ids).write_parquet(p)
    current = frozenset(ids)
    record()

    for _ in range(8):
        op = rng.choice(["append", "append", "compact", "vacuum",
                         "overwrite"])
        if op == "append":
            ids = fresh_rows(rng.randint(2, 6))
            ds_of(ids).write_parquet(p, append=True)
            current = current | frozenset(ids)
            record()
        elif op == "compact":
            compact_parquet(spark, p, rows_per_partition=1000)
            record()                       # same rows, new snapshot
        elif op == "vacuum":
            keep = rng.randint(1, 3)
            vacuum(p, keep_last=keep)
            for v in list(expected):
                if v not in list_versions(p):
                    del expected[v]
        else:  # overwrite: history resets with the table
            ids = fresh_rows(rng.randint(3, 8))
            ds_of(ids).write_parquet(p)
            current = frozenset(ids)
            expected.clear()
            record()

        # (a) every retained pin reads its exact snapshot
        for v, want in expected.items():
            got = scan_parquet(spark, p, version=v).df
            assert frozenset(r["k"] for r in got.collect()) == want, \
                f"seed={seed} version={v}"
        # (b) vacuum never leaves a dangling reference in any
        #     retained manifest
        for v in list_versions(p):
            man = load_manifest(p, version=v)
            for f in man.files:
                assert os.path.exists(os.path.join(p, f)), \
                    f"seed={seed} v={v} missing {f}"
        # (c) the current view is the newest snapshot
        newest = max(list_versions(p))
        assert expected[newest] == current
        assert frozenset(
            r["k"] for r in scan_parquet(spark, p).df.collect()) == current


@pytest.mark.slow
def test_pruned_scan_equivalence_random_slices(spark, tmp_path):
    """scan_parquet_pruned must equal scan+slice for ANY bounds: the
    conservative manifest-table prune composes with the exact slice
    residual, so results are value-identical across random windows,
    inclusivity modes, open ends, and flipped (empty) bounds."""
    import random

    import pandas as pd

    from padawan_spark import from_pandas, scan_parquet, scan_parquet_pruned

    p = str(tmp_path / "ps")
    pdf = pd.DataFrame({"k": range(60), "v": [i * 3 for i in range(60)]})
    (from_pandas(spark, pdf, index_columns=("k",)).repartition(7)
     .write_parquet(p, manifest_table=True))
    full = scan_parquet(spark, p)

    rng = random.Random(11)
    for _ in range(12):
        lo = rng.randint(-5, 65)
        hi = rng.randint(-5, 65)          # may flip -> empty slice
        inc = rng.choice(["lower", "upper", "both", "none"])
        lb = None if rng.random() < 0.2 else (lo,)
        ub = None if rng.random() < 0.2 else (hi,)
        want = sorted(r["k"] for r in
                      full.slice(lb, ub, inclusive=inc).df.collect())
        got = sorted(r["k"] for r in
                     scan_parquet_pruned(spark, p, lb, ub, inclusive=inc)
                     .df.collect())
        assert got == want, (lb, ub, inc)


# index types of the random manifests below: (Spark type, bound values)
# over small domains, so files share bounds and slices hit them
_INDEX_TYPES = {
    "int": ("bigint", st.integers(-4, 4)),
    "string": ("string", st.text(alphabet="ab", max_size=2)),
    "date": ("date", st.integers(0, 6).map(
        lambda d: dt.date(2022, 1, 1) + dt.timedelta(days=d))),
    "timestamp": ("timestamp", st.integers(0, 6).map(
        lambda s: dt.datetime(2022, 1, 1, 12) + dt.timedelta(seconds=s))),
    "decimal": ("decimal(6,2)", st.integers(-8, 8).map(
        lambda q: decimal.Decimal(q).scaleb(-2) * 25)),
}


@st.composite
def _manifest_and_slices(draw):
    """A manifest over 1 or 2 random index types with NULLs in the
    bounds (each file's lower bound ≤ its upper bound, null-first), and
    slices over it: ``None`` ends, prefixes and NULL elements."""
    from padawan_spark.metadata import Manifest

    kinds = draw(st.lists(st.sampled_from(sorted(_INDEX_TYPES)),
                          min_size=1, max_size=2))
    values = [st.one_of(st.none(), _INDEX_TYPES[t][1]) for t in kinds]
    n = draw(st.integers(0, 8))
    pairs = [sorted([draw(st.tuples(*values)), draw(st.tuples(*values))],
                    key=lex_key) for _ in range(n)]
    cols = [f"c{i}" for i in range(len(kinds))]
    schema = ", ".join(f"{c} {_INDEX_TYPES[t][0]}" for c, t in zip(cols, kinds))
    man = Manifest(
        index_columns=tuple(cols),
        files=[f"part{i}.parquet" for i in range(n)],
        sizes=draw(st.lists(st.integers(1, 99), min_size=n, max_size=n)),
        lower_bounds=[a for a, _ in pairs], upper_bounds=[b for _, b in pairs],
        max_partition_index=n - 1)
    end = st.one_of(st.none(), st.integers(1, len(kinds)).flatmap(
        lambda k: st.tuples(*values[:k])))
    slices = draw(st.lists(st.tuples(end, end, inclusive),
                           min_size=1, max_size=3))
    return schema, man, slices


@settings(derandomize=True, max_examples=40, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(case=_manifest_and_slices())
def test_pruned_manifest_keeps_the_slice_files(spark, tmp_path_factory, case):
    """scan_parquet_pruned reads the typed manifest table with a
    first-column filter and then slices, so it must keep exactly the
    files, sizes and bounds ``scan_parquet(p).slice(...)`` keeps, for
    int, string, date, timestamp and decimal indexes with NULL bounds,
    prefix and NULL slice bounds and all four ``inclusive`` modes.  A
    file whose first lower bound is NULL sorts below every probe: the
    filter that drops it loses files the slice keeps."""
    from pyspark.sql.types import _parse_datatype_string

    from padawan_spark import scan_parquet, scan_parquet_pruned
    from padawan_spark import metadata as meta

    schema, man, slices = case
    p = str(tmp_path_factory.mktemp("pruned"))
    for f in man.files:            # listed by each read, never opened
        open(os.path.join(p, f), "wb").close()
    man.schema_json = _parse_datatype_string(schema).json()
    meta.write_manifest(p, man)
    meta.write_manifest_table(spark, p, man)
    full = scan_parquet(spark, p)
    for lb, ub, inc in slices:
        want = full.slice(lb, ub, inclusive=inc)
        got = scan_parquet_pruned(spark, p, lb, ub, inclusive=inc)
        assert (got._files, got._sizes, got._lower_bounds,
                got._upper_bounds) == (want._files, want._sizes,
                                       want._lower_bounds,
                                       want._upper_bounds), (lb, ub, inc)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    mode=st.sampled_from([1, 3, 4]),
    filters=st.lists(st.integers(min_value=0, max_value=4),
                     min_size=1, max_size=6),
    data=st.data(),
)
def test_png_codec_roundtrip_property(w, h, mode, filters, data):
    """Pure-Python PNG codec: encode(decode) is the identity for every
    (size, channel-count, scanline-filter sequence) — pixels drawn
    randomly so filter arithmetic (Sub/Up/Average/Paeth wraparound at
    255) is exercised on adversarial byte patterns, not just smooth
    gradients."""
    from padawan_spark.functions.multimodal import (decode_png_py,
                                                    encode_png_py)
    n = w * h * mode
    px = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    payload = encode_png_py(w, h, px, channels=mode,
                            row_filters=tuple(filters))
    W, H, C, out = decode_png_py(payload)
    assert (W, H, C) == (w, h, mode)
    assert out == px


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    depth=st.sampled_from([1, 2, 4, 8]),
    filters=st.lists(st.integers(min_value=0, max_value=4),
                     min_size=1, max_size=6),
    data=st.data(),
)
def test_png_palette_roundtrip_property(w, h, depth, filters, data):
    """Palette (color type 3) PNG: for every bit depth (1/2/4/8 —
    sub-byte depths pack several MSB-first indices per scanline byte),
    random indices through a random PLTE decode back to exactly the
    palette-expanded RGB.  Filters run over the PACKED bytes with a
    one-byte left offset, so this also pins the bpp generalization of
    the unfilter loops."""
    from padawan_spark.functions.multimodal import (decode_png_py,
                                                    encode_png_py)
    ncol = 1 << depth
    pal = bytes(data.draw(st.binary(min_size=3 * ncol, max_size=3 * ncol)))
    idx = bytes(data.draw(st.lists(
        st.integers(min_value=0, max_value=ncol - 1),
        min_size=w * h, max_size=w * h)))
    payload = encode_png_py(w, h, idx, palette=pal, depth=depth,
                            row_filters=tuple(filters))
    W, H, C, out = decode_png_py(payload)
    assert (W, H, C) == (w, h, 3)
    assert out == b"".join(pal[3 * i:3 * i + 3] for i in idx)


@settings(max_examples=50, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    mode=st.sampled_from([1, 2, 3, 4]),
    depth=st.sampled_from([8, 16]),
    interlace=st.booleans(),
    filters=st.lists(st.integers(min_value=0, max_value=4),
                     min_size=1, max_size=6),
    data=st.data(),
)
def test_png_depth_interlace_roundtrip_property(w, h, mode, depth,
                                                interlace, filters, data):
    """The full PNG form matrix: every channel layout (grey, grey+alpha,
    RGB, RGBA) x depth (8/16) x sequential/Adam7, random filters and
    pixels.  16-bit decode must keep exactly the high byte of each
    big-endian sample; Adam7 must reassemble the seven passes into the
    original raster (small sizes leave some passes empty — the empty
    passes must consume zero stream bytes)."""
    from padawan_spark.functions.multimodal import (decode_png_py,
                                                    encode_png_py)
    n = w * h * mode * (2 if depth == 16 else 1)
    px = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    payload = encode_png_py(w, h, px, channels=mode, depth=depth,
                            interlace=interlace,
                            row_filters=tuple(filters))
    W, H, C, out = decode_png_py(payload)
    assert (W, H, C) == (w, h, mode)
    assert out == (px[0::2] if depth == 16 else px)


@pytest.mark.slow
def test_delete_rows_random_windows_property(spark, tmp_path):
    """delete_rows over RANDOM index windows on a date-indexed table:
    after every delete the table equals the eager
    slice complement, files outside the window survive byte-identical,
    the version history is monotone (+1 exactly when files overlap),
    every pre-delete pin replays its exact snapshot — until vacuum
    reclaims it, after which the pinned read fails loudly.  Ends on the
    all-rows-deleted edge, where the rewrite produces ZERO new files."""
    import datetime as dt
    import random

    import pandas as pd

    from padawan_spark import (delete_rows, from_pandas, list_versions,
                               scan_parquet)
    from padawan_spark.metadata import vacuum

    base = dt.date(2024, 1, 1)
    pdf = pd.DataFrame(
        [(base + dt.timedelta(days=d), s) for d in range(40)
         for s in range(3)],
        columns=["day", "seq"])
    p = str(tmp_path / "deltbl")
    (from_pandas(spark, pdf, index_columns=("day", "seq"))
     .repartition(8).write_parquet(p))

    def keys(ds):
        return {(r.day, r.seq) for r in ds.df.select("day", "seq").collect()}

    remaining = keys(scan_parquet(spark, p))
    assert len(remaining) == 120
    pins = [(list_versions(p)[-1], set(remaining))]

    rng = random.Random(23)
    for _ in range(6):
        d1 = base + dt.timedelta(days=rng.randint(-3, 43))
        d2 = base + dt.timedelta(days=rng.randint(-3, 43))
        inc = rng.choice(["lower", "upper", "both", "none"])
        lb = None if rng.random() < 0.15 else (d1,)
        ub = (d2,) if (lb is None or rng.random() >= 0.15) else None
        cur = scan_parquet(spark, p)
        doomed = keys(cur.slice(lb, ub, inclusive=inc))
        pre_files = {f: (os.path.getmtime(f), os.path.getsize(f))
                     for f in cur._files}
        v_before = list_versions(p)[-1]

        out = delete_rows(spark, p, lb, ub, inclusive=inc)
        got = keys(out)
        assert got == remaining - doomed, (lb, ub, inc)
        remaining = got

        v_after = list_versions(p)[-1]
        assert v_after in (v_before, v_before + 1)
        if doomed:
            assert v_after == v_before + 1      # rows removed => new version
        if v_after == v_before:
            assert not doomed                   # no-op only when no overlap
        else:
            pins.append((v_after, set(got)))
        # files carried over from the previous manifest are byte-identical
        for f in out._files:
            if f in pre_files:
                assert (os.path.getmtime(f), os.path.getsize(f)) \
                    == pre_files[f], f
        # every retained snapshot still replays exactly
        for v, snap in pins:
            assert keys(scan_parquet(spark, p, version=v)) == snap, v

    # edge: delete EVERYTHING — every file is affected and the rewrite
    # emits zero surviving files; the table reads back empty
    if remaining:
        v_before = list_versions(p)[-1]
        out = delete_rows(spark, p, None, (base + dt.timedelta(days=60),),
                          inclusive="both")
        assert keys(out) == set()
        assert out.df.count() == 0
        assert list(out._files) == []
        assert list_versions(p)[-1] == v_before + 1
        pins.append((v_before + 1, set()))
        remaining = set()

    # vacuum interaction: keep only the newest snapshot — the old pins
    # become unreadable with a loud error, the current table still reads
    vacuum(p, keep_last=1)
    vs = list_versions(p)
    assert vs, "current snapshot must survive vacuum"
    assert keys(scan_parquet(spark, p)) == remaining
    for v, _snap in pins:
        if v not in vs:
            with pytest.raises(FileNotFoundError, match="no snapshot"):
                scan_parquet(spark, p, version=v)


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    bits=st.sampled_from([1, 2, 4, 8]),
    interlace=st.booleans(),
    data=st.data(),
)
def test_gif_codec_roundtrip_property(w, h, bits, interlace, data):
    """GIF codec: random indices through a random color table survive
    encode -> LZW -> decode exactly, for every palette size and both
    row orders (sequential / 4-pass interlace).  Random index streams
    are adversarial for LZW width handling — they grow the dictionary
    at an uneven rate, so the variable-code-size boundaries land at
    arbitrary stream positions."""
    from padawan_spark.functions.multimodal import (decode_gif_py,
                                                    encode_gif_py)
    ncol = 1 << bits
    pal = bytes(data.draw(st.binary(min_size=3 * ncol, max_size=3 * ncol)))
    idx = bytes(data.draw(st.lists(
        st.integers(min_value=0, max_value=ncol - 1),
        min_size=w * h, max_size=w * h)))
    W, H, C, out = decode_gif_py(encode_gif_py(w, h, idx, pal,
                                               interlace=interlace))
    assert (W, H, C) == (w, h, 3)
    assert out == b"".join(pal[3 * i:3 * i + 3] for i in idx)


def test_gif_lzw_dictionary_reset_12bit():
    """A payload large and varied enough to push the LZW dictionary to
    its 4096-entry cap forces 12-bit codes AND a mid-stream clear +
    reset; the round trip must survive both."""
    import random

    from padawan_spark.functions.multimodal import (_lzw_decode_gif,
                                                    _lzw_encode_gif)
    rng = random.Random(99)
    data = bytes(rng.randrange(256) for _ in range(60000))
    assert _lzw_decode_gif(8, _lzw_encode_gif(8, data), len(data)) == data


@settings(max_examples=30, deadline=None)
@given(
    bw=st.integers(min_value=1, max_value=4),   # size in tiles
    bh=st.integers(min_value=1, max_value=4),
    mode=st.sampled_from(["gray", "444", "422", "420"]),
    rst=st.sampled_from([0, 1, 3]),
    data=st.data(),
)
def test_jpeg_constant_tile_exactness_property(bw, bh, mode, rst, data):
    """Baseline JPEG is EXACT on constant-tile images under flat quant
    (dc_q=8 stores each constant block's DC losslessly; all AC vanish):
    random tile colors, every subsampling mode, and restart intervals
    must reproduce the source planes bit-for-bit.  The tile is one MCU
    (16x16 for 4:2:0, 16x8 for 4:2:2, 8x8 otherwise) so chroma
    averaging also sees constants."""
    import numpy as np

    from padawan_spark.functions.multimodal import (decode_jpeg_py,
                                                    encode_jpeg_py)
    tx = 16 if mode in ("420", "422") else 8
    ty = 16 if mode == "420" else 8
    w, h = bw * tx, bh * ty

    def plane():
        tiles = data.draw(st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=bw * bh, max_size=bw * bh))
        a = np.zeros((h, w), dtype=np.uint8)
        for t, v in enumerate(tiles):
            y0, x0 = (t // bw) * ty, (t % bw) * tx
            a[y0:y0 + ty, x0:x0 + tx] = v
        return a

    ya = plane()
    if mode == "gray":
        W, H, C, px = decode_jpeg_py(encode_jpeg_py(
            w, h, ya.tobytes(), restart_interval=rst))
        assert (W, H, C) == (w, h, 1)
        assert px == ya.tobytes()
        return
    cba, cra = plane(), plane()
    W, H, C, px = decode_jpeg_py(encode_jpeg_py(
        w, h, ya.tobytes(), cba.tobytes(), cra.tobytes(),
        subsampling=mode, restart_interval=rst))
    assert (W, H, C) == (w, h, 3)
    # expected RGB via the libjpeg fixed-point formula on exact planes
    y64 = ya.astype(np.int64)
    cb = cba.astype(np.int64) - 128
    cr = cra.astype(np.int64) - 128
    r = np.clip(y64 + ((91881 * cr + 32768) >> 16), 0, 255)
    g = np.clip(y64 + ((-22554 * cb - 46802 * cr + 32768) >> 16), 0, 255)
    b = np.clip(y64 + ((116130 * cb + 32768) >> 16), 0, 255)
    assert px == np.stack([r, g, b], axis=-1).astype(np.uint8).tobytes()


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    data=st.data(),
)
def test_jpeg_random_grey_near_lossless_property(w, h, data):
    """With flat quant (ac_q=1) the only loss is FDCT/IDCT float
    rounding: arbitrary random greyscale images — any size, including
    non-multiples of 8 (edge-replicated padding, cropped back) — must
    round-trip within 2 grey levels per pixel."""
    import numpy as np

    from padawan_spark.functions.multimodal import (decode_jpeg_py,
                                                    encode_jpeg_py)
    n = w * h
    y = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    W, H, C, px = decode_jpeg_py(encode_jpeg_py(w, h, y))
    assert (W, H, C) == (w, h, 1)
    err = np.abs(np.frombuffer(px, np.uint8).astype(int)
                 - np.frombuffer(y, np.uint8).astype(int))
    assert err.max() <= 2


def test_gif_animation_compositing_reference():
    """Animated-GIF compositing vs an INDEPENDENT reference compositor:
    partial-frame offsets, transparency holes, disposal 1 (leave) and
    disposal 2 (restore-to-background) must present exactly the frames
    the spec semantics produce."""
    from padawan_spark.functions.multimodal import (decode_gif_frames_py,
                                                    encode_gif_anim_py)
    ncol, w, h = 16, 10, 10
    pal = bytes(v for i in range(ncol)
                for v in ((11 * i) % 256, (7 * i) % 256, (5 * i) % 256))

    def ref_composite(specs, bg):
        canvas = [[bg] * w for _ in range(h)]
        outs = []
        for (lx, ty, fw, fh, idx, tr, disp) in specs:
            for v in range(fh):
                for u in range(fw):
                    k = idx[v * fw + u]
                    if k == tr:
                        continue
                    if ty + v < h and lx + u < w:
                        canvas[ty + v][lx + u] = k
            outs.append(b"".join(
                pal[3 * canvas[y][x]:3 * canvas[y][x] + 3]
                for y in range(h) for x in range(w)))
            if disp == 2:
                for v in range(fh):
                    for u in range(fw):
                        if ty + v < h and lx + u < w:
                            canvas[ty + v][lx + u] = bg
        return outs

    specs = [
        (0, 0, w, h, bytes((x + y) % ncol
                           for y in range(h) for x in range(w)), None, 0),
        (2, 3, 5, 4, bytes((3 * u + v + 1) % ncol
                           for v in range(4) for u in range(5)), None, 1),
        (1, 1, 6, 5, bytes((u + 2 * v) % ncol
                           for v in range(5) for u in range(6)), 0, 2),
        (4, 4, 4, 4, bytes((u * v) % ncol
                           for v in range(4) for u in range(4)), None, 0),
    ]
    g = encode_gif_anim_py(w, h, pal, specs, bg=5)
    W, H, frames = decode_gif_frames_py(g)
    want = ref_composite(specs, 5)
    assert (W, H) == (w, h) and len(frames) == len(want)
    for f, (got, exp) in enumerate(zip(frames, want)):
        assert got == exp, f"frame {f} composite mismatch"


@settings(max_examples=20, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=34),
    h=st.integers(min_value=1, max_value=34),
    mode=st.sampled_from(["gray", "444", "422", "420"]),
    data=st.data(),
)
def test_jpeg_progressive_equals_baseline_property(w, h, mode, data):
    """The decisive progressive-JPEG invariant: SOF2 (spectral
    selection + successive approximation + EOB runs + correction bits,
    10 scans) carries exactly the same quantized coefficients as SOF0,
    so decoding must produce BYTE-IDENTICAL pixels for any input —
    random planes, any size, every subsampling mode.  Two independent
    entropy pipelines agreeing bit-for-bit on random data is the
    strongest cross-validation available without libjpeg in the
    container."""
    from padawan_spark.functions.multimodal import (decode_jpeg_py,
                                                    encode_jpeg_py)
    n = w * h
    y = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    if mode == "gray":
        base = decode_jpeg_py(encode_jpeg_py(w, h, y))
        prog = decode_jpeg_py(encode_jpeg_py(w, h, y, progressive=True))
    else:
        cb = bytes(data.draw(st.binary(min_size=n, max_size=n)))
        cr = bytes(data.draw(st.binary(min_size=n, max_size=n)))
        base = decode_jpeg_py(encode_jpeg_py(w, h, y, cb, cr,
                                             subsampling=mode))
        prog = decode_jpeg_py(encode_jpeg_py(w, h, y, cb, cr,
                                             subsampling=mode,
                                             progressive=True))
    assert base == prog


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=900),
    ch=st.sampled_from([1, 2]),
    order=st.integers(min_value=0, max_value=4),
    block=st.sampled_from([64, 192, 256, 577]),
    mode=st.sampled_from(["indep", "left", "right", "mid"]),
    data=st.data(),
)
@pytest.mark.slow
def test_flac_roundtrip_property(n, ch, order, block, mode, data):
    """FLAC is lossless: random int16 streams — any length, mono or
    stereo under every decorrelation mode (independent, left/side,
    side/right, mid/side), every FIXED order, odd block sizes — must
    round-trip exactly, through CRC-8/CRC-16-verified frames and
    rice-coded residuals."""
    from padawan_spark.functions.multimodal import (decode_flac_py,
                                                    encode_flac_py)
    if ch == 1:
        mode = "indep"
    s = data.draw(st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=n * ch, max_size=n * ch))
    f = encode_flac_py(s, 16000, channels=ch, block_size=block,
                       fixed_order=order, stereo_mode=mode)
    rate, c2, bits, out = decode_flac_py(f)
    assert (rate, c2, bits) == (16000, ch, 16)
    assert out == s


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_sniff_image_header_is_total(data):
    """The header sniffer must be TOTAL: any byte string — valid
    payloads, truncated prefixes of them, or pure garbage — yields a
    (format, width, height) triple and never raises.  A 100 TB crawled
    corpus always contains corrupt blobs; the first-pass profiler
    classifies them instead of dying."""
    from padawan_spark.functions.multimodal import (encode_gif_py,
                                                    encode_jpeg_py,
                                                    encode_png_py,
                                                    sniff_image_header_py)
    kind = data.draw(st.sampled_from(["png", "jpeg", "gif", "garbage"]))
    if kind == "png":
        payload = encode_png_py(9, 7, bytes(9 * 7 * 3), channels=3)
    elif kind == "jpeg":
        payload = encode_jpeg_py(16, 8, bytes(128))
    elif kind == "gif":
        payload = encode_gif_py(6, 5, bytes(30), bytes(6))
    else:
        payload = bytes(data.draw(st.binary(max_size=80)))
    cut = data.draw(st.integers(min_value=0, max_value=len(payload)))
    got = sniff_image_header_py(payload[:cut])
    assert isinstance(got, tuple) and len(got) == 3
    if cut == len(payload) and kind != "garbage":
        assert got[0] == kind and got[1] > 0 and got[2] > 0


def test_flac_lpc_and_wasted_bits_decode():
    """The two decode paths the FIXED-predictor fixture encoder never
    writes: a hand-built stream with an order-2 LPC subframe (known
    quantized coefficients and shift) and a CONSTANT subframe carrying
    wasted bits; expected samples computed independently here from the
    spec formulas (s[i] = res + (c0*s[i-1] + c1*s[i-2]) >> shift, and
    value << wasted)."""
    import struct

    from padawan_spark.functions.multimodal import (_crc8_flac,
                                                    _crc16_flac,
                                                    _FlacBitWriter,
                                                    decode_flac_py)
    bsize, bps = 8, 16
    warm = [100, 205]
    coefs, shift = [3, -2], 1
    res = [5, -7, 11, 0, -3, 8]
    expect = list(warm)
    for r in res:
        p = (coefs[0] * expect[-1] + coefs[1] * expect[-2]) >> shift
        expect.append(r + p)

    def frame(sub_bits_fn, total):
        w = _FlacBitWriter()
        w.put(0x3FFE, 14)
        w.put(0, 2)
        w.put(6, 4)                     # block size: 8-bit value - 1
        w.put(0, 4)                     # rate from STREAMINFO
        w.put(0, 4)                     # mono
        w.put(4, 3)                     # 16-bit
        w.put(0, 1)
        w.put(0, 8)                     # frame number 0 (UTF-8)
        w.put(bsize - 1, 8)
        hdr = bytes(w.out)
        w.put(_crc8_flac(hdr), 8)
        sub_bits_fn(w)
        w.align()
        w.put(_crc16_flac(bytes(w.out)), 16)
        return bytes(w.out)

    def lpc_sub(w):
        w.put(0, 1)
        w.put(32 + (2 - 1), 6)          # LPC, order 2
        w.put(0, 1)                     # no wasted bits
        for s in warm:
            w.put(s & 0xFFFF, 16)
        w.put(15 - 1, 4)                # precision 15
        w.put(shift, 5)
        for c in coefs:
            w.put(c & 0x7FFF, 15)
        w.put(0, 2)                     # rice method 0
        w.put(0, 4)                     # partition order 0
        w.put(4, 4)                     # rice param 4
        for r in res:
            z = (abs(r) << 1) - (1 if r < 0 else 0)
            w.put(1, (z >> 4) + 1)      # unary quotient then stop bit
            w.put(z & 15, 4)

    def header(nframes):
        info = _FlacBitWriter()
        info.put(bsize, 16)
        info.put(bsize, 16)
        info.put(0, 24)
        info.put(0, 24)
        info.put(8000, 20)
        info.put(0, 3)                  # mono
        info.put(bps - 1, 5)
        info.put(nframes, 36)
        info.align()
        body = bytes(info.out) + b"\x00" * 16
        return (b"fLaC" + bytes([0x80])
                + struct.pack(">I", len(body))[1:] + body)

    rate, ch, bits, out = decode_flac_py(header(bsize)
                                         + frame(lpc_sub, bsize))
    assert (rate, ch, bits) == (8000, 1, 16)
    assert out == expect, (out, expect)

    # CONSTANT subframe with 2 wasted bits: stored value 77 at 14 bits
    # decodes to 77 << 2 replicated
    def const_wasted_sub(w):
        w.put(0, 1)
        w.put(0, 6)                     # CONSTANT
        w.put(1, 1)                     # wasted-bits flag
        w.put(0b01, 2)                  # unary 1 -> wasted = 2
        w.put(77, 14)                   # eff = 16 - 2

    rate, ch, bits, out = decode_flac_py(header(bsize)
                                         + frame(const_wasted_sub, bsize))
    assert out == [77 << 2] * bsize


def test_gif_local_color_table_wins():
    """A frame's LOCAL color table overrides the global one (the
    fixture encoder only writes GCTs, so this decode branch is pinned
    with a hand-assembled GIF: same indices, deliberately different
    global and local palettes)."""
    import struct

    from padawan_spark.functions.multimodal import (_lzw_encode_gif,
                                                    decode_gif_py)
    w, h = 4, 3
    idx = bytes((x + y) % 4 for y in range(h) for x in range(w))
    gct = bytes(range(12))                       # 4 colors
    lct = bytes(255 - v for v in range(12))      # different 4 colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (1 << 4) | 1, 0, 0)
    out += gct
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x80 | 1)  # LCT flag
    out += lct
    out.append(2)                                # min code size
    lzw = _lzw_encode_gif(2, idx)
    out += bytes([len(lzw)]) + lzw + b"\x00\x3B"
    W, H, C, rgb = decode_gif_py(bytes(out))
    assert (W, H, C) == (w, h, 3)
    assert rgb == b"".join(lct[3 * i:3 * i + 3] for i in idx)


def test_exif_inline_short_ascii():
    """TIFF IFD values that fit in 4 bytes are stored INLINE in the
    entry (the fixture encoder always writes ASCII out-of-line, so the
    inline branch is pinned with a hand-assembled APP1: a 3-byte make
    string and an inline SHORT orientation)."""
    import struct

    from padawan_spark.functions.multimodal import (encode_jpeg_py,
                                                    insert_app1,
                                                    parse_exif_py)
    e = "<"
    make_b = b"XY\x00"                           # 3 bytes: inline
    ifd0 = struct.pack(e + "H", 2)
    ifd0 += (struct.pack(e + "HHI", 0x010F, 2, len(make_b))
             + make_b + b"\x00")                 # padded to 4
    ifd0 += (struct.pack(e + "HHI", 0x0112, 3, 1)
             + struct.pack(e + "H", 8) + b"\x00\x00")
    ifd0 += struct.pack(e + "I", 0)
    tiff = b"II" + struct.pack(e + "H", 42) + struct.pack(e + "I", 8) \
        + ifd0
    jpg = insert_app1(encode_jpeg_py(8, 8, bytes(64)),
                      b"Exif\x00\x00" + tiff)
    meta = parse_exif_py(jpg)
    assert meta == {"make": "XY", "orientation": 8}


def test_jpeg_16bit_dqt_decodes_identically():
    """DQT tables may be stored as 16-bit values (precision nibble 1) —
    the encoder always writes 8-bit, so the wide-table read branch is
    pinned by rewriting a valid stream's DQT to 16-bit form with the
    same values: the decode must be byte-identical."""
    import struct

    from padawan_spark.functions.multimodal import (decode_jpeg_py,
                                                    encode_jpeg_py)
    y = bytes((17 * ((i % 32) // 8) + 29 * ((i // 32) // 8)) % 256
              for i in range(32 * 24))
    jpg = encode_jpeg_py(32, 24, y)
    base = decode_jpeg_py(jpg)

    # locate the DQT segment and widen it
    pos = 2
    while True:
        marker = jpg[pos + 1]
        seg_len = struct.unpack_from(">H", jpg, pos + 2)[0]
        if marker == 0xDB:
            body = jpg[pos + 4:pos + 2 + seg_len]
            assert body[0] == 0x00            # 8-bit table 0
            wide = bytes([0x10]) + b"".join(
                struct.pack(">H", v) for v in body[1:65])
            new_seg = struct.pack(">BBH", 0xFF, 0xDB, len(wide) + 2) + wide
            jpg16 = jpg[:pos] + new_seg + jpg[pos + 2 + seg_len:]
            break
        pos += 2 + seg_len

    assert decode_jpeg_py(jpg16) == base


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    ch=st.sampled_from([1, 3]),
    bo=st.sampled_from(["II", "MM"]),
    rps=st.sampled_from([None, 1, 2, 7]),
    data=st.data(),
)
def test_tiff_roundtrip_property(w, h, ch, bo, rps, data):
    """Baseline TIFF: random 8-bit grey/RGB pixels survive encode ->
    IFD walk -> strip reassembly exactly, in both byte orders and any
    strip height (including 1-row strips, which maximize the
    offsets/counts arrays)."""
    from padawan_spark.functions.multimodal import (decode_tiff_py,
                                                    encode_tiff_py)
    n = w * h * ch
    px = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    t = encode_tiff_py(w, h, px, channels=ch, byte_order=bo,
                       rows_per_strip=rps)
    W, H, C, out = decode_tiff_py(t)
    assert (W, H, C) == (w, h, ch)
    assert out == px


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    cache_bits=st.sampled_from([0, 2, 6]),
    lz=st.booleans(),
    sg=st.booleans(),
    ct=st.one_of(st.none(), st.tuples(
        st.integers(min_value=-128, max_value=127),
        st.integers(min_value=-128, max_value=127),
        st.integers(min_value=-128, max_value=127))),
    pred=st.one_of(st.none(), st.integers(min_value=0, max_value=13)),
    data=st.data(),
)
def test_webp_vp8l_roundtrip_property(w, h, cache_bits, lz, sg, ct,
                                      pred, data):
    """VP8L is lossless: random RGBA pixels survive encode -> canonical
    prefix codes -> decode exactly under every feature combination —
    color cache sizes, LZ77 on/off, subtract-green, random
    cross-channel color transforms, and any of the 14 predictor modes
    (tile-based, via real transform sub-images)."""
    from padawan_spark.functions.webp import (decode_webp_py,
                                              encode_webp_py)
    n = w * h * 4
    rgba = bytes(data.draw(st.binary(min_size=n, max_size=n)))
    payload = encode_webp_py(w, h, rgba, cache_bits=cache_bits,
                             use_lz77=lz, subtract_green=sg,
                             color_transform=ct,
                             predictor_mode=pred,
                             predictor_size_bits=2)
    assert decode_webp_py(payload) == (w, h, 4, rgba)
    # meta-prefix variant: two tile-selected Huffman groups, composed
    # with the same transform stack (cache/LZ77 off per the encoder)
    payload2 = encode_webp_py(w, h, rgba, subtract_green=sg,
                              color_transform=ct, predictor_mode=pred,
                              predictor_size_bits=2,
                              meta_groups_bits=2)
    assert decode_webp_py(payload2) == (w, h, 4, rgba)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    ncol=st.sampled_from([2, 3, 4, 11, 16, 40, 250]),
    data=st.data(),
)
def test_webp_color_indexing_roundtrip_property(w, h, ncol, data):
    """VP8L color indexing: palettes of every packing class (8/4/2/1
    bits per pixel, incl. sub-byte packing into the green channel)
    round-trip exactly through the delta-coded palette sub-image —
    alone AND stacked with the other transforms (subtract-green under
    the palette; a predictor over the PACKED width-reduced image, the
    spec's 'later transforms apply to the packed image' rule)."""
    from padawan_spark.functions.webp import (decode_webp_py,
                                              encode_webp_palette_py)
    pal = [bytes(data.draw(st.binary(min_size=4, max_size=4)))
           for _ in range(ncol)]
    rgba = b"".join(pal[data.draw(st.integers(0, ncol - 1))]
                    for _ in range(w * h))
    assert decode_webp_py(encode_webp_palette_py(w, h, rgba)) \
        == (w, h, 4, rgba)
    sg = data.draw(st.booleans())
    pred = data.draw(st.one_of(st.none(),
                               st.integers(min_value=0, max_value=13)))
    cb = data.draw(st.sampled_from([0, 3]))
    stacked = encode_webp_palette_py(w, h, rgba, cache_bits=cb,
                                     subtract_green=sg,
                                     predictor_mode=pred,
                                     predictor_size_bits=2)
    assert decode_webp_py(stacked) == (w, h, 4, rgba)


def test_vp8l_max_symbol_header_and_vp8x_sniff():
    """Two wild-file branches no fixture encoder writes: (a) the
    prefix-code 'use max_symbol' header, which bounds how many
    code-length CODES are read (remaining symbols implicitly zero) —
    hand-assembled and decoded against the expected canonical code;
    (b) VP8X extended-header canvas dimensions in the sniffer."""
    import struct

    from padawan_spark.functions.multimodal import sniff_image_header_py
    from padawan_spark.functions.webp import (_read_prefix_code,
                                              _Vp8lBitReader,
                                              _Vp8lBitWriter)

    # (a) lengths [2, 1, 2] over an 8-symbol alphabet via the
    # max_symbol path: 3 explicit CL codes, then the header stops
    # reading and symbols 3..7 stay zero.
    w = _Vp8lBitWriter()
    w.put(0, 1)                        # not simple
    w.put(8 - 4, 4)                    # 8 code-length codes
    # CL order: [17,18,0,1,2,...] -> lengths for CL syms 1 and 2 only
    cl = {17: 0, 18: 0, 0: 0, 1: 1, 2: 2, 3: 0, 4: 0, 5: 0}
    from padawan_spark.functions.webp import _CL_ORDER, _canonical
    for k in range(8):
        w.put(cl[_CL_ORDER[k]], 3)
    w.put(1, 1)                        # USE the max_symbol header
    w.put(0, 3)                        # length_nbits = 2
    w.put(3 - 2, 2)                    # max_symbol = 3 codes
    cl_lengths = [0] * 19
    for s, ln in cl.items():
        cl_lengths[s] = ln
    _dec, cl_enc = _canonical(cl_lengths)
    for sym in (2, 1, 2):              # code lengths for symbols 0..2
        code, ln = cl_enc[sym]
        w.put_code(code, ln)
    rd = _Vp8lBitReader(w.bytes())
    tree = _read_prefix_code(rd, 8)
    # expected canonical over lengths [2,1,2,0,...]: sym1 len1 code 0;
    # sym0 len2 code 10; sym2 len2 code 11
    assert tree == {(1, 0): 1, (2, 2): 0, (2, 3): 2}

    # (b) VP8X canvas dims (24-bit minus-one, little-endian)
    vp8x = (b"RIFF" + struct.pack("<I", 22) + b"WEBP"
            + b"VP8X" + struct.pack("<I", 10)
            + b"\x00\x00\x00\x00"
            + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
    assert sniff_image_header_py(vp8x) == ("webp", 640, 480)


# --- VP8 (lossy WebP) decoder: libwebp cross-validation ---------------------

def _libwebp():
    from padawan_spark.functions import webplib
    return webplib if webplib.available() else None


@settings(max_examples=12, deadline=None)
@given(w=st.integers(1, 70), h=st.integers(1, 52),
       q=st.sampled_from([10.0, 45.0, 75.0, 95.0]),
       data=st.data())
def test_vp8_decoder_matches_libwebp_property(w, h, q, data):
    """The pure-Python VP8 key-frame decoder must be BYTE-IDENTICAL to
    libwebp on libwebp-encoded random content — YUV planes (no
    conversion choices) AND the RGBA output (fancy upsampling + the
    fixed-point YUV->RGB), across sizes, qualities, all intra modes,
    segmentation, and nonzero loop-filter levels."""
    import struct

    wl = _libwebp()
    if wl is None:
        pytest.skip("libwebp not installed")
    from padawan_spark.functions.vp8 import (decode_vp8_frame,
                                             decode_vp8_rgba)
    rgb = data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3))
    rgba = b"".join(rgb[i * 3:i * 3 + 3] + b"\xff" for i in range(w * h))
    enc = wl.encode_rgba(w, h, rgba, q)
    assert enc[12:16] == b"VP8 "
    sz = struct.unpack("<I", enc[16:20])[0]
    payload = enc[20:20 + sz]
    assert decode_vp8_frame(payload) == wl.decode_yuv(enc)
    W, H, got = decode_vp8_rgba(payload)
    Wr, Hr, ref = wl.decode_rgba(enc)
    assert (W, H, got) == (Wr, Hr, ref)


def test_vp8l_decoder_matches_libwebp_lossless():
    """The VP8L decoder and fixture encoders must agree with libwebp on
    BOTH directions: libwebp-lossless payloads decode exactly to the
    source pixels, and our fixture-encoded VP8L payloads decode
    identically under libwebp."""
    import random

    wl = _libwebp()
    if wl is None:
        pytest.skip("libwebp not installed")
    from padawan_spark.functions.webp import decode_webp_py, encode_webp_py
    rng = random.Random(77)
    for w, h in ((1, 1), (15, 9), (32, 21)):
        rgba = bytes(rng.randrange(256) if (i + 1) % 4 else 255
                     for i in range(w * h * 4))
        enc = wl.encode_lossless_rgba(w, h, rgba)
        assert decode_webp_py(enc) == (w, h, 4, rgba)
        ours = encode_webp_py(w, h, rgba, use_lz77=True, cache_bits=4)
        assert wl.decode_rgba(ours) == (w, h, rgba)


def test_vp8_tile_encoder_exact_and_conformant():
    """The MB-tile fixture encoder (flat-quant oracle trick) decodes to
    the EXACT tile targets through the full bitstream path, and — when
    libwebp is installed — the self-encoded bitstream is conformant
    (libwebp produces the same planes)."""
    from padawan_spark.functions.vp8 import (decode_vp8_frame,
                                             decode_vp8_rgba,
                                             encode_vp8_tiles_py,
                                             vp8_flat_rgb, wrap_webp_vp8)
    tiles = {(0, 0): (110, 96, 201), (1, 0): (17, 96, 201),
             (0, 1): (110, 96, 201), (1, 1): (246, 96, 201)}
    pay = encode_vp8_tiles_py(30, 28, lambda mx, my: tiles[(mx, my)])
    W, H, y, u, v = decode_vp8_frame(pay)
    assert (W, H) == (30, 28)
    for r in range(H):
        for c in range(W):
            want = tiles[(c // 16, r // 16)][0]
            assert y[r * W + c] == want, (r, c)
    assert set(u) == {96} and set(v) == {201}
    wl = _libwebp()
    if wl is not None:
        assert wl.decode_yuv(wrap_webp_vp8(pay)) == (W, H, y, u, v)
        Wr, Hr, ref = wl.decode_rgba(wrap_webp_vp8(pay))
        assert (Wr, Hr, ref) == decode_vp8_rgba(pay)
    # uniform region RGB matches the closed-form oracle helper
    _, _, rgba = decode_vp8_rgba(encode_vp8_tiles_py(
        18, 18, lambda mx, my: (110, 96, 201)))
    r0, g0, b0 = vp8_flat_rgb(110, 96, 201)
    assert rgba[:4] == bytes((r0, g0, b0, 255))
    assert set(rgba[i:i + 4] for i in range(0, len(rgba), 4)) \
        == {bytes((r0, g0, b0, 255))}


def test_vp8l_encoder_conformance_sweep():
    """Every VP8L fixture-encoder feature combination must parse under
    the STRICT reference decoder (libwebp rejects under-subscribed
    prefix codes our lenient decoder tolerates — the bug this sweep
    pins): random content, random transforms, exact round trip."""
    import random

    wl = _libwebp()
    if wl is None:
        pytest.skip("libwebp not installed")
    from padawan_spark.functions.webp import (encode_webp_palette_py,
                                              encode_webp_py)
    rng = random.Random(5)
    for _ in range(25):
        w, h = rng.randrange(1, 40), rng.randrange(1, 30)
        rgba = bytes(rng.randrange(256) if (i + 1) % 4 else 255
                     for i in range(w * h * 4))
        kw = rng.choice([
            {}, {"use_lz77": True}, {"cache_bits": rng.randrange(1, 9)},
            {"use_lz77": True, "cache_bits": 4}, {"subtract_green": True},
            {"predictor_mode": rng.randrange(14),
             "predictor_size_bits": rng.randrange(2, 5)},
            {"meta_groups_bits": 2},
            {"color_transform": (34, -20, 57), "subtract_green": True}])
        assert wl.decode_rgba(encode_webp_py(w, h, rgba, **kw)) \
            == (w, h, rgba), kw
        pal = [rng.randrange(1 << 24) for _ in range(16)]
        prgba = b"".join(pal[rng.randrange(16)].to_bytes(3, "big") + b"\xff"
                         for _ in range(w * h))
        kw2 = rng.choice([{}, {"cache_bits": 3},
                          {"subtract_green": True, "predictor_mode": 11,
                           "predictor_size_bits": 2, "cache_bits": 3}])
        assert wl.decode_rgba(encode_webp_palette_py(w, h, prgba, **kw2)) \
            == (w, h, prgba), kw2


def test_webp_alpha_vp8x_matches_libwebp():
    """VP8X+ALPH stills (lossy WebP with alpha): libwebp-encoded
    payloads decode byte-exactly through the pure-Python path (both
    ALPH compression methods), and hand-built containers with every
    row filter (none/horizontal/vertical/gradient) round-trip the
    exact alpha plane under BOTH decoders."""
    import random

    wl = _libwebp()
    if wl is None:
        pytest.skip("libwebp not installed")
    from padawan_spark.functions.vp8 import encode_vp8_tiles_py
    from padawan_spark.functions.webp import decode_webp_py

    rng = random.Random(3)
    # libwebp-encoded: alpha forces the VP8X+ALPH container
    for style in range(3):
        w, h = rng.randrange(2, 40), rng.randrange(2, 30)
        px = bytearray()
        for i in range(w * h):
            a = (i * 255 // max(1, w * h - 1)) if style == 0 else (
                rng.randrange(256) if style == 1
                else (0 if rng.random() < .1 else 255))
            px += bytes((rng.randrange(256), rng.randrange(256),
                         rng.randrange(256), a))
        enc = wl.encode_rgba(w, h, bytes(px), 75.0)
        assert enc[12:16] == b"VP8X"
        W, H, ref = wl.decode_rgba(enc)
        got = decode_webp_py(enc)
        assert (got[0], got[1], got[3]) == (W, H, ref)

    def clip(g):
        return 0 if g < 0 else 255 if g > 255 else g

    def forward(plane, w, h, f):
        out = bytearray(w * h)
        for y in range(h):
            for x in range(w):
                if f == 1 or y == 0:
                    pred = plane[y * w + x - 1] if x else (
                        plane[(y - 1) * w] if y else 0)
                elif f == 2:
                    pred = plane[(y - 1) * w + x]
                else:
                    left = plane[y * w + x - 1] if x else plane[(y - 1) * w]
                    top = plane[(y - 1) * w + x]
                    tl = (plane[(y - 1) * w + x - 1] if x
                          else plane[(y - 1) * w])
                    pred = clip(left + top - tl)
                out[y * w + x] = (plane[y * w + x] - pred) & 0xFF
        return bytes(out)

    def chunk(four, payload):
        c = four + len(payload).to_bytes(4, "little") + payload
        return c + (b"\x00" if len(payload) & 1 else b"")

    for f in (1, 2, 3):
        w, h = rng.randrange(2, 40), rng.randrange(2, 30)
        plane = bytes(rng.randrange(256) for _ in range(w * h))
        alph = bytes([(f << 2)]) + forward(plane, w, h, f)
        vp8 = encode_vp8_tiles_py(w, h, lambda mx, my: (128, 128, 128))
        vp8x = (b"VP8X" + (10).to_bytes(4, "little")
                + bytes([0x10, 0, 0, 0])
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"))
        body = (b"WEBP" + vp8x + chunk(b"ALPH", alph)
                + chunk(b"VP8 ", vp8))
        full = b"RIFF" + len(body).to_bytes(4, "little") + body
        W, H, ref = wl.decode_rgba(full)
        got = decode_webp_py(full)
        assert (got[0], got[1], got[3]) == (W, H, ref)
        assert got[3][3::4] == plane, f"filter {f} alpha mismatch"


@settings(max_examples=15, deadline=None)
@given(cw=st.integers(4, 24), ch=st.integers(4, 18), data=st.data())
def test_webp_animation_compositing_property(cw, ch, data):
    """Animated WebP compositing as a property: random sub-frame
    rectangles (even offsets), random blend/dispose flags with opaque
    or fully-transparent pixels (the exactly-defined blend cases), must
    reproduce a straightforward reference canvas simulation."""
    from padawan_spark.functions.webp import (decode_webp_frames_py,
                                              encode_webp_anim_py)
    bg = (data.draw(st.integers(0, 255)), data.draw(st.integers(0, 255)),
          data.draw(st.integers(0, 255)), 255)
    n_frames = data.draw(st.integers(1, 4))
    frames = []
    for _ in range(n_frames):
        fx = data.draw(st.integers(0, (cw - 2) // 2)) * 2
        fy = data.draw(st.integers(0, (ch - 2) // 2)) * 2
        fw = data.draw(st.integers(1, cw - fx))
        fh = data.draw(st.integers(1, ch - fy))
        rgba = bytes(data.draw(st.integers(0, 255)) if (i + 1) % 4 else
                     data.draw(st.sampled_from([0, 255]))
                     for i in range(fw * fh * 4))
        frames.append((fx, fy, fw, fh, rgba,
                       data.draw(st.integers(0, 1)),
                       data.draw(st.integers(0, 1)), 30))
    payload = encode_webp_anim_py(cw, ch, frames, bg=bg)
    W, H, got = decode_webp_frames_py(payload)
    assert (W, H) == (cw, ch)
    canvas = bytearray(bytes(bg) * (cw * ch))
    for k, (fx, fy, fw, fh, rgba, no_blend, dispose, _d) in \
            enumerate(frames):
        for y in range(fh):
            for x in range(fw):
                so = (y * fw + x) * 4
                co = ((fy + y) * cw + fx + x) * 4
                src = rgba[so:so + 4]
                if no_blend or src[3] == 255:
                    canvas[co:co + 4] = src
                # src alpha 0 under blending: canvas unchanged
        assert got[k] == bytes(canvas), f"frame {k}"
        if dispose:
            for y in range(fh):
                co = ((fy + y) * cw + fx) * 4
                canvas[co:co + fw * 4] = bytes(bg) * fw


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=300, deadline=None)
def test_sniff_media_total_on_arbitrary_bytes(b):
    """The mixed-corpus triage pass must classify ANY byte string
    (crawled corpora contain garbage) — never raise."""
    from padawan_spark.functions.multimodal import sniff_media_py
    mt, fmt = sniff_media_py(b)
    assert mt in {"image", "audio", "video", "caption", "unknown"}
    assert isinstance(fmt, str)


@given(st.lists(st.binary(min_size=1, max_size=400), min_size=1,
                max_size=10),
       st.integers(min_value=4, max_value=64),
       st.integers(min_value=4, max_value=64))
@settings(max_examples=60, deadline=None)
def test_video_container_roundtrip_property(frames, w, h):
    """Arbitrary frame payloads of arbitrary sizes survive both
    container round trips byte-identically, and the header-only AVI
    metadata agrees without touching movi."""
    from padawan_spark.functions.video import (decode_avi_py,
                                               encode_avi_mjpeg_py,
                                               encode_mp4_mjpeg_py,
                                               extract_mp4_frames_py,
                                               parse_avi_meta_py)
    avi = encode_avi_mjpeg_py(w, h, frames, fps=25)
    aw, ah, _r, _s, codec, out = decode_avi_py(avi)
    assert (aw, ah, codec) == (w, h, "MJPG") and out == frames
    assert parse_avi_meta_py(avi)[5] == len(frames)
    mp4 = encode_mp4_mjpeg_py(w, h, frames, fps=25)
    mw, mh, mc, mout = extract_mp4_frames_py(mp4)
    assert (mw, mh) == (w, h) and mout == frames


@given(st.integers(min_value=1, max_value=40),
       st.sampled_from([32, 48, 64, 96, 128, 160, 192, 256, 320]),
       st.sampled_from([44100, 48000, 32000, 22050, 16000]),
       st.sampled_from([1, 2]),
       st.sampled_from([1, 2, 3]))
@settings(max_examples=80, deadline=None)
def test_mp3_frame_walk_roundtrip_property(n, kbps, rate, ch, layer):
    """Every (bitrate, rate, channels, layer) combination the
    encoder can emit walks back to the exact frame count, duration,
    and nominal bitrate."""
    from padawan_spark.functions.mp3 import (_BITRATES,
                                             encode_mp3_frames_py,
                                             scan_mp3_py)
    mpeg1 = rate in (44100, 48000, 32000)
    if kbps not in _BITRATES[(1 if mpeg1 else 0, layer)]:
        return                             # row lacks this rate
    b = encode_mp3_frames_py(n, bitrate=kbps, sample_rate=rate,
                             channels=ch, layer=layer)
    ver, lay, r, c, nf, dur, avg, vbr, id3 = scan_mp3_py(b)
    assert (lay, r, c, nf, avg, vbr, id3) == (layer, rate, ch, n,
                                              kbps, False, False)
    spf = 384 if layer == 1 else (1152 if mpeg1 or layer == 2 else 576)
    assert dur == n * spf * 1000 // rate


@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=3_600_000),
              st.integers(min_value=0, max_value=500_000),
              st.text(alphabet=st.characters(
                  blacklist_categories=("Cs", "Cc")),
                  min_size=1, max_size=40)),
    min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_subtitle_roundtrip_property(raw):
    """Arbitrary cue timings and (newline-free) unicode text
    round-trip through both caption formats."""
    from padawan_spark.functions.video import (encode_srt_py,
                                               encode_vtt_py,
                                               parse_subtitles_py)
    cues = [(a, a + d, t.replace("\n", " ").strip() or "x")
            for a, d, t in raw]
    cues = [(a, z, t) for a, z, t in cues
            if "-->" not in t]             # a cue text that IS a timing
    if not cues:
        return
    for enc in (encode_srt_py, encode_vtt_py):
        got = parse_subtitles_py(enc(cues))
        assert got == [(k, a, z, t) for k, (a, z, t) in enumerate(cues)]


@given(st.binary(min_size=0, max_size=3000))
@settings(max_examples=120, deadline=None)
def test_tiff_lzw_and_packbits_roundtrip_property(data):
    """TIFF LZW (early-change widths, clears) and PackBits
    round-trip arbitrary bytes exactly."""
    from padawan_spark.functions.multimodal import (_lzw_decode_tiff,
                                                    _lzw_encode_tiff,
                                                    _packbits_decode,
                                                    _packbits_encode)
    assert _lzw_decode_tiff(_lzw_encode_tiff(data), len(data)) == data
    assert _packbits_decode(_packbits_encode(data), len(data)) == data


@given(st.lists(st.tuples(
    st.integers(min_value=-2**62, max_value=2**62),
    st.one_of(st.none(), st.text(max_size=30)),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.one_of(st.none(), st.binary(max_size=20))),
    min_size=0, max_size=200),
    st.sampled_from(["null", "deflate"]))
@settings(max_examples=60, deadline=None)
def test_avro_container_roundtrip_property(rows, codec):
    """Arbitrary typed rows (incl. nulls in both nullable
    columns, empty files, multi-block files) round-trip the Avro
    container exactly."""
    from padawan_spark.functions.avro import (decode_avro_py,
                                              encode_avro_py)
    fields = [("k", "long", False), ("name", "string", True),
              ("x", "double", False), ("ok", "boolean", False),
              ("blob", "bytes", True)]
    blob = encode_avro_py(fields, rows, codec=codec, block_rows=37)
    f2, r2 = decode_avro_py(blob)
    assert f2 == fields
    assert r2 == [tuple(r) for r in rows]


@settings(max_examples=40, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            # data block: (instant_idx, [(key, value)])
            st.tuples(st.just("data"),
                      st.integers(min_value=0, max_value=4),
                      st.lists(st.tuples(
                          st.integers(min_value=0, max_value=9),
                          st.integers(min_value=-5, max_value=5)),
                          min_size=1, max_size=4)),
            # delete block: (instant_idx, [keys])
            st.tuples(st.just("del"),
                      st.integers(min_value=0, max_value=4),
                      st.lists(st.integers(min_value=0, max_value=9),
                               min_size=1, max_size=3)),
            # rollback command voiding one instant's earlier blocks
            st.tuples(st.just("rb"),
                      st.integers(min_value=0, max_value=4),
                      st.just(None))),
        min_size=0, max_size=12),
    torn_tail=st.sampled_from([b"", b"#HUDI#", b"#HUDI#\x00\x00",
                               b"#HUDI#\x00\x00\x00\x00\x00\x00\x00"
                               b"\xff trailing-garbage"]),
)
def test_hudilog_block_walk_property(ops, torn_tail):
    """Arbitrary data/delete/rollback block sequences round-trip
    the HoodieLogFormat codec — rollbacks void exactly their target
    instant's EARLIER blocks, later blocks survive, and a torn tail
    (truncated magic / length / body) ends the walk cleanly with the
    full intact prefix."""
    from padawan_spark.functions.hudilog import (
        BLOCK_AVRO_DATA, BLOCK_DELETE, H_INSTANT_TIME,
        decode_avro_data_block, decode_delete_block,
        decode_log_blocks, encode_avro_data_block,
        encode_delete_block, encode_rollback_block)
    schema = {"type": "record", "name": "rec", "fields": [
        {"name": "_hoodie_record_key", "type": "string"},
        {"name": "v", "type": ["null", "long"]}]}
    blob = bytearray()
    expected = []           # (kind, instant, payload) surviving walk
    for kind, inst_i, payload in ops:
        inst = f"2026010100000{inst_i}"
        if kind == "data":
            rows = [{"_hoodie_record_key": str(k), "v": v}
                    for k, v in payload]
            blob += encode_avro_data_block(inst, schema, rows)
            expected.append(("data", inst,
                             [(str(k), v) for k, v in payload]))
        elif kind == "del":
            keys = [str(k) for k in payload]
            blob += encode_delete_block(inst, keys)
            expected.append(("del", inst, keys))
        else:
            blob += encode_rollback_block("20260101000009", inst)
            expected = [e for e in expected if e[1] != inst]
    blob += torn_tail
    blocks = decode_log_blocks(bytes(blob))
    got = []
    for blk in blocks:
        inst = blk["header"][H_INSTANT_TIME]
        if blk["type"] == BLOCK_AVRO_DATA:
            got.append(("data", inst,
                        [(r["_hoodie_record_key"], r["v"])
                         for r in decode_avro_data_block(blk)]))
        elif blk["type"] == BLOCK_DELETE:
            got.append(("del", inst, decode_delete_block(blk)))
    assert got == expected


@settings(max_examples=60, deadline=None)
@given(positions=st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=70_000),
        # high-container positions exercise the RoaringBitmapArray's
        # per-2^32-bucket framing and 16-bit container keys
        st.integers(min_value=4_294_967_290,
                    max_value=4_294_967_400)),
    unique=True, max_size=300))
def test_delta_dv_codec_roundtrip_property(positions):
    """Arbitrary deleted-position sets (incl. empty, dense runs
    near container boundaries, and >2^32 bucket spills) round-trip
    the deletion-vector codec — the RoaringBitmap array framing, the
    DV blob magic, AND the Z85 inline armor."""
    from padawan_spark.functions.deltadv import (bitmap_array_decode,
                                                 bitmap_array_encode,
                                                 dv_blob_decode,
                                                 dv_blob_encode,
                                                 z85_decode,
                                                 z85_encode)
    want = sorted(positions)
    assert bitmap_array_decode(bitmap_array_encode(want)) == want
    blob = dv_blob_encode(want)
    assert dv_blob_decode(blob) == want
    assert z85_decode(z85_encode(blob), out_len=len(blob)) == blob


@pytest.mark.parametrize("seed", [11, 42])
@pytest.mark.slow
def test_delta_cdf_dv_diff_property(spark, tmp_path, seed):
    """Random deletion-vector GROWTH sequences — for EVERY
    version window, the derived change feed's delete rows are exactly
    the positions newly dead inside that window (cumulative-DV diff),
    never a re-emit of an already-dead row; the full feed carries each
    insert once and each delete exactly once."""
    import random

    import pyspark.sql.functions as SF

    from padawan_spark.functions.delta import (add_dv_fixture,
                                               read_delta_changes,
                                               replay_delta_log,
                                               write_delta_fixture)
    rng = random.Random(seed)
    t = str(tmp_path / f"dvp{seed}")
    n = 20
    df = spark.range(n).select(SF.col("id").alias("k"))
    # one file, physically sorted by k: position i == key i
    write_delta_fixture(spark, df.coalesce(1), t, order_by=("k",))
    _s, _p, files, _m = replay_delta_log(t)
    assert len(files) == 1
    rel = files[0][0]
    dead_at = {0: frozenset()}
    dead: frozenset = frozenset()
    for _ in range(4):
        new = frozenset(dead | {rng.randrange(n)
                                for _ in range(rng.randint(1, 4))})
        if new == dead:
            continue
        v = add_dv_fixture(t, {rel: sorted(new)})
        dead = new
        dead_at[v] = dead
    versions = sorted(dead_at)
    for i, sv in enumerate(versions[1:], start=1):
        for ev in versions[i:]:
            ch = read_delta_changes(spark, t, starting_version=sv,
                                    ending_version=ev)
            dels = [r["k"] for r in
                    ch.where("_change_type = 'delete'").collect()]
            expect = dead_at[ev] - dead_at[versions[i - 1]]
            assert sorted(dels) == sorted(expect), (sv, ev)
            assert len(dels) == len(set(dels)), (sv, ev)
    full = [(r["k"], r["_change_type"]) for r in
            read_delta_changes(spark, t).collect()]
    assert sorted(k for k, c in full if c == "insert") == list(range(n))
    dd = [k for k, c in full if c == "delete"]
    assert sorted(dd) == sorted(dead_at[versions[-1]])
    assert len(dd) == len(set(dd))


@pytest.mark.parametrize("seed", [3, 19])
@pytest.mark.slow
def test_hudi_metadata_listing_matches_replay_property(spark,
                                                       tmp_path, seed):
    """Over random maintenance sequences (CoW commits, delta
    upserts/deletes into random partitions, replacecommit clustering),
    the slice view reconstructed from the auto-synced
    ``.hoodie/metadata`` FILES listing equals the commit-replay view
    after EVERY commit, and the snapshot read stays value-correct."""
    import random

    import pyspark.sql.functions as SF

    from padawan_spark.functions.hudi import (
        live_hudi_slices, read_hudi, write_hudi_delta_fixture,
        write_hudi_fixture, write_hudi_metadata_fixture,
        write_hudi_replace_fixture)
    rng = random.Random(seed)
    t = str(tmp_path / f"hmdp{seed}")
    df = spark.range(12).select(
        SF.col("id").alias("k"),
        (SF.col("id") % 3).cast("bigint").alias("g"),
        (SF.col("id") * 10).alias("v"))
    write_hudi_fixture(spark, df, t, partition_field="g")
    write_hudi_metadata_fixture(spark, t)
    state = {k: k * 10 for k in range(12)}

    def norm(slices):
        return {fid: (s["base"], s["part"], tuple(s["logs"]))
                for fid, s in slices.items()}

    def check():
        assert norm(live_hudi_slices(t)) == norm(
            live_hudi_slices(t, use_metadata=False))
        got = {r["k"]: r["v"] for r in read_hudi(spark, t).collect()}
        assert got == state

    check()
    for _ in range(5):
        op = rng.choice(["upsert", "delete", "replace"])
        if op == "upsert":
            ks = rng.sample(range(12), rng.randint(1, 3))
            ks = [k for k in ks if k in state]
            if not ks:
                continue
            nv = rng.randrange(1000)
            up = spark.createDataFrame(
                [(k, k % 3, nv) for k in ks],
                "k long, g long, v long")
            write_hudi_delta_fixture(spark, t, upserts=up,
                                     partition_field="g")
            for k in ks:
                state[k] = nv
        elif op == "delete":
            alive = [k for k in state]
            if not alive:
                continue
            k = rng.choice(alive)
            write_hudi_delta_fixture(
                spark, t, deletes={str(k % 3): [str(k)]},
                partition_field="g")
            state.pop(k)
        else:
            part = str(rng.randrange(3))
            fid = next((f for f, s in
                        live_hudi_slices(t, use_metadata=False).items()
                        if s["part"] == part), None)
            if fid is None:
                continue
            rows = [(k, int(part), v) for k, v in state.items()
                    if k % 3 == int(part)]
            if not rows:
                continue
            write_hudi_replace_fixture(
                spark, spark.createDataFrame(
                    rows, "k long, g long, v long"), t,
                replace_file_ids={part: [fid]},
                partition_field="g")
        check()


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n_rows=st.integers(min_value=1, max_value=5000),
       stripe_bytes=st.sampled_from([1024, 4096, 65536, 67108864]),
       data=st.data())
def test_orc_stripe_positions_match_row_number_oracle(tmp_path, n_rows,
                                                      stripe_bytes,
                                                      data):
    """The ORC position-delete scan derives
    each row's position from a RUNNING STRIPE OFFSET — across random
    stripe-size splits and delete-position sets, the derived ``__pos``
    must equal a whole-file row_number, and anti-joining a delete set
    on it must keep exactly the non-deleted rows (the contract
    Iceberg position deletes address)."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.orc as po

    from padawan_spark.functions.iceberg import \
        orc_stripe_position_frames
    p = str(tmp_path / f"ps_{_uuid.uuid4().hex[:8]}.orc")
    tb = pa.table({"phys_k": pa.array(range(n_rows), type=pa.int64()),
                   "v": pa.array([i * 7 + 1 for i in range(n_rows)],
                                 type=pa.int64())})
    po.write_table(tb, p, stripe_size=stripe_bytes)
    dels = data.draw(st.sets(
        st.integers(min_value=0, max_value=max(0, n_rows - 1)),
        max_size=min(n_rows, 50)))
    # logical name k maps to physical phys_k (schema evolution);
    # column "missing" has no physical counterpart -> null-filled
    frames = list(orc_stripe_position_frames(
        p, {"k": "phys_k", "v": "v", "missing": None},
        ("k", "v", "missing")))
    import pandas as pd
    out = pd.concat(frames, ignore_index=True)
    assert list(out["__pos"]) == list(range(n_rows))
    assert list(out["k"]) == list(range(n_rows))
    assert list(out["v"]) == [i * 7 + 1 for i in range(n_rows)]
    assert out["missing"].isna().all()
    assert (out["__fp"] == p).all()
    # multi-stripe coverage: small stripe targets actually split
    if stripe_bytes <= 4096 and n_rows > 2048:
        assert len(frames) > 1
    survivors = out[~out["__pos"].isin(list(dels))]
    assert list(survivors["k"]) == [i for i in range(n_rows)
                                    if i not in dels]


@settings(max_examples=200, deadline=None)
@given(v=st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_hadoop_vlong_decode_property(v):
    """The HFile cell walk's Hadoop-vlong decoder (MVCC sequence
    ids) — property-checked against an independent encoder written
    from the public WritableUtils.writeVLong spec."""
    import struct

    from padawan_spark.functions.hfile import _read_hadoop_vlong

    def encode(i: int) -> bytes:          # WritableUtils.writeVLong
        if -112 <= i <= 127:
            return struct.pack(">b", i)
        ln = -112
        if i < 0:
            i = ~i
            ln = -120
        tmp, size = i, 0
        while tmp:
            tmp >>= 8
            size += 1
        return (struct.pack(">b", ln - size)
                + i.to_bytes(size, "big"))

    buf = b"\x00" + encode(v) + b"\xff"   # embedded mid-buffer
    got, pos = _read_hadoop_vlong(buf, 1)
    assert got == v
    assert pos == 1 + len(encode(v))

@pytest.mark.parametrize("seed", [5, 23])
def test_delta_cdf_checkpoint_init_property(spark, tmp_path, seed):
    """Random append/partition-drop
    sequences with CHECKPOINT+CLEAN injected mid-history — a change
    feed starting anywhere past the newest clean must equal the feed
    of an UNCLEANED TWIN table over the same window (the checkpoint-
    initialized file state is indistinguishable from full-history
    replay), and a feed whose span touches a cleaned commit raises."""
    import random

    import pyspark.sql.functions as SF
    from padawan_spark.functions.delta import (
        read_delta_changes, remove_delta_files_fixture,
        write_delta_checkpoint_fixture, write_delta_fixture)
    rng = random.Random(seed)
    a = str(tmp_path / f"cka{seed}")      # gets checkpoint+clean
    b = str(tmp_path / f"ckb{seed}")      # keeps full history
    base = spark.range(12).select(
        SF.col("id").alias("k"), (SF.col("id") % 3).alias("g"))
    for t in (a, b):
        write_delta_fixture(spark, base, t, partition_by=("g",))
    latest = 0
    last_clean = -1
    live_parts = {0, 1, 2}
    for step in range(1, 6):
        op = rng.choice(["append", "drop", "ckpt"])
        if op == "append":
            df = spark.range(step * 100, step * 100 + 6).select(
                SF.col("id").alias("k"),
                (SF.col("id") % 3).alias("g"))
            for t in (a, b):
                latest = write_delta_fixture(spark, df, t,
                                             mode="append")
            live_parts |= {0, 1, 2}
        elif op == "drop" and live_parts:
            g = rng.choice(sorted(live_parts))
            for t in (a, b):
                latest = remove_delta_files_fixture(
                    t, lambda rel, g=g: rel.startswith(f"g={g}/"))
            live_parts.discard(g)
        elif op == "ckpt":
            write_delta_checkpoint_fixture(a, clean_before=True)
            last_clean = latest
    if last_clean < 0:          # force at least one clean
        write_delta_checkpoint_fixture(a, clean_before=True)
        last_clean = latest
        df = spark.range(900, 903).select(
            SF.col("id").alias("k"), (SF.col("id") % 3).alias("g"))
        for t in (a, b):
            latest = write_delta_fixture(spark, df, t, mode="append")

    def feed(t, sv):
        return sorted(
            (r["k"], r["_change_type"], r["_commit_version"])
            for r in read_delta_changes(
                spark, t, starting_version=sv).collect())

    for sv in range(last_clean + 1, latest + 1):
        assert feed(a, sv) == feed(b, sv), (seed, sv)
    if last_clean >= 0 and last_clean + 1 <= latest:
        with pytest.raises(NotImplementedError,
                           match="log retention cleaned"):
            feed(a, last_clean)


# index types of the random tables below: (Spark type, key values),
# small domains so files share keys; the strings are not all ASCII
_STAT_TYPES = {
    "int": ("int", st.integers(-3, 3)),
    "bigint": ("bigint", st.integers(-2 ** 40, 2 ** 40)),
    "string": ("string", st.text(alphabet="aé€b", max_size=2)),
    "date": ("date", st.integers(-400, 400).map(
        lambda d: dt.date(1970, 1, 1) + dt.timedelta(days=d))),
    "decimal": ("decimal(18,2)", st.integers(-500, 500).map(
        lambda q: decimal.Decimal(q).scaleb(-2))),
    "timestamp": ("timestamp", st.integers(-10 ** 9, 10 ** 9).map(
        lambda s: dt.datetime(2022, 3, 13, 1, 30)
        + dt.timedelta(microseconds=s * 7))),
    "double": ("double", st.sampled_from(
        [-1.5, 0.0, 2.5, float("inf"), float("nan")])),
}


@st.composite
def _stat_tables(draw, first):
    """Files of a ``first`` column and a second of random type: NULL
    keys, sometimes an all-NULL file and an empty one, sorted by both
    columns or not, and timestamps written as INT64 or INT96."""
    kinds = [first, draw(st.sampled_from(sorted(_STAT_TYPES)))]
    key = st.tuples(*[st.one_of(st.none(), _STAT_TYPES[t][1],
                                _STAT_TYPES[t][1]) for t in kinds])
    files = draw(st.lists(st.lists(key, min_size=1, max_size=6),
                          min_size=1, max_size=3))
    if draw(st.booleans()):
        files.append([(None, None)] * 2)
    return (kinds, files, draw(st.booleans()), draw(st.booleans()),
            draw(st.sampled_from(["TIMESTAMP_MICROS", "INT96"])))


@pytest.mark.parametrize("first", sorted(_STAT_TYPES))
@settings(derandomize=True, max_examples=3, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_footer_stats_equal_the_stats_job(spark, tmp_path_factory, la_time,
                                          first, data):
    """Per-file ``(rows, lb, ub)`` read from parquet footers equal the
    distributed stats job's, for int, bigint, string, date,
    decimal(18,2), timestamp and double indexes of one and two columns,
    with NULL keys, all-NULL and empty files.  One column's bounds come
    from the column statistics unless they are inexact (double, INT96
    timestamps), and then, as for two columns, from the first and last
    rows when the files are sorted; otherwise the job answers."""
    import pyarrow.parquet as pq

    from padawan_spark.dataset import (_file_path, _file_stats, _footer_stats,
                                       _index_stats, _local_df,
                                       _perfect_hash_labels, _read_files)
    from padawan_spark.ordering import lex_cmp

    kinds, files, is_sorted, with_empty, ts_type = data.draw(
        _stat_tables(first))
    ddl = ", ".join(f"c{i} {_STAT_TYPES[t][0]}" for i, t in enumerate(kinds))
    labels = _perfect_hash_labels(len(files))
    df = _local_df(spark, [(*k, labels[i]) for i, keys in enumerate(files)
                           for k in keys], ddl + ", __f int")
    df = df.repartition(len(files), "__f").drop("__f")
    if is_sorted:
        df = df.sortWithinPartitions(df.c0.asc_nulls_first(),
                                     df.c1.asc_nulls_first())
    p = str(tmp_path_factory.mktemp("stats"))
    conf = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(conf)
    spark.conf.set(conf, ts_type)
    try:
        df.write.mode("append").parquet(p)
    finally:
        spark.conf.set(conf, old)
    paths = sorted(os.path.join(p, f) for f in os.listdir(p)
                   if f.endswith(".parquet"))
    assert len(paths) == len(files)
    if with_empty:
        empty = os.path.join(p, "empty.parquet")
        pq.write_table(pq.read_table(paths[0]).slice(0, 0), empty)
        paths.append(empty)

    int96 = {t for t in kinds if t == "timestamp" and ts_type == "INT96"}
    # files sorted by (c0, c1) are sorted by c0
    for ix in (["c0"], ["c0", "c1"]):
        got = _file_stats(spark, paths, ix, df.schema,
                          sorted_by_index=is_sorted)
        want = _index_stats(_read_files(spark, paths, df.schema),
                            _file_path(), ix)
        assert got.keys() == want.keys()
        for f, (n, lb, ub) in want.items():
            assert got[f][0] == n and lex_cmp(got[f][1], lb) == 0 \
                and lex_cmp(got[f][2], ub) == 0, (ix, got[f], want[f])
        # the footers answer every file a rule applies to
        exact = ix == ["c0"] and first != "double" and first not in int96
        sorted_rule = is_sorted and not int96.intersection(
            kinds[:len(ix)])
        for f in paths:
            rows = pq.ParquetFile(f).metadata.num_rows
            answered = _footer_stats(f, ix, df.schema, is_sorted) is not None
            assert answered == (not rows or exact or sorted_rule), (ix, f)
