"""Compressed / tiled / predictor TIFF codec paths (round-5 VERDICT
item 4): real HLS/S2 distribution files are Deflate or LZW COGs the
reference reads through rasterio (data_pair/fct_data_extraction.py:
21-26); sources/tiffcodec.py is the always-available fallback and must
read those layouts too. Round-trips cover the encoder's new layout
options; the foreign-layout tests build TIFF bytes BY HAND (struct +
zlib, independent of encode_gray) so decoder correctness doesn't rest
on the encoder's own conventions."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from sentinel_landsat_database_creation_spark.sources import tiffcodec as tc


def _pixels(h: int, w: int) -> np.ndarray:
    rng = np.random.default_rng(h * 1000 + w)
    return rng.integers(0, 1000, h * w).astype("float32")


@pytest.mark.parametrize("compression", ["deflate", "lzw"])
@pytest.mark.parametrize("tile", [None, (16, 16), (32, 16)])
@pytest.mark.parametrize("predictor", [1, 3])
def test_roundtrip_compressed_layouts(compression, tile, predictor):
    """Non-tile-multiple dims (70x53) exercise edge-tile padding."""
    h, w = 70, 53
    px = _pixels(h, w)
    buf = tc.encode_gray(
        h, w, px, compression=compression, tile=tile, predictor=predictor
    )
    hh, ww, out = tc.decode_gray_np(buf)
    assert (hh, ww) == (h, w)
    assert np.array_equal(np.asarray(out), px)


def test_roundtrip_uncompressed_tiled():
    h, w = 40, 40
    px = _pixels(h, w)
    buf = tc.encode_gray(h, w, px, tile=(16, 16))
    hh, ww, out = tc.decode_gray_np(buf)
    assert (hh, ww) == (h, w) and np.array_equal(np.asarray(out), px)


def test_encoder_rejects_bad_options():
    with pytest.raises(ValueError, match="multiples of 16"):
        tc.encode_gray(4, 4, [0.0] * 16, compression="deflate", tile=(8, 8))
    with pytest.raises(ValueError, match="predictor 1 or 3"):
        tc.encode_gray(4, 4, [0.0] * 16, compression="deflate", predictor=2)
    with pytest.raises(ValueError, match="pointless"):
        tc.encode_gray(4, 4, [0.0] * 16, predictor=3)
    with pytest.raises(ValueError, match="unknown compression"):
        tc.encode_gray(4, 4, [0.0] * 16, compression="zstd")


def test_lzw_raw_roundtrip_incl_width_bumps_and_resets():
    """Random bytes exercise the 9->10 bit width bump (table >510);
    the long repetitive stream drives the table to 12 bits and through
    encoder-initiated CLEAR resets."""
    import random

    random.seed(0)
    for n in (0, 1, 5, 300, 5000):
        data = bytes(random.getrandbits(8) for _ in range(n))
        assert tc._lzw_decode(tc._lzw_encode(data)) == data
    data = bytes(random.choices(range(8), k=300_000))
    assert tc._lzw_decode(tc._lzw_encode(data)) == data
    rep = b"abcd" * 200_000
    assert tc._lzw_decode(tc._lzw_encode(rep)) == rep


def test_lzw_eoi_at_table_width_boundaries():
    """Regression for the EOI width off-by-one: when the FINAL data code
    lands the decoder's implicit table append exactly on the early-change
    boundary (table size 511/1023/2047), the decoder widens before
    reading EOI — the encoder must emit EOI at the widened width
    (libtiff LZWPostEncode semantics) or the 9/10/11-bit EOI is misread
    as a wider spurious code and decode returns extra bytes.

    Constructs prefixes of a seeded random buffer whose encoder
    ``next_code`` at the final emit is exactly each boundary value, by
    mirroring the table-growth recurrence (growth only; no 12-bit reset
    below 4093, so the mirror is exact here)."""
    import random

    random.seed(1234)
    buf = bytes(random.getrandbits(8) for _ in range(6000))

    # One mirror pass: next_code after consuming n bytes IS the value at
    # the final emit for prefix buf[:n] (the final emit adds no entry).
    hits = {}
    table = {bytes([i]) for i in range(256)}
    next_code, w = 258, b""
    for n, b in enumerate(buf, start=1):
        wc = w + bytes([b])
        if wc in table:
            w = wc
        else:
            table.add(wc)
            next_code += 1
            w = bytes([b])
        if next_code in (511, 1023, 2047) and next_code not in hits:
            hits[next_code] = n
        if len(hits) == 3:
            break
    assert sorted(hits) == [511, 1023, 2047], f"mirror failed to land: {hits}"
    for boundary, n in sorted(hits.items()):
        data = buf[:n]
        out = tc._lzw_decode(tc._lzw_encode(data))
        assert out == data, (
            f"boundary {boundary}: decode returned {len(out)} bytes "
            f"for {len(data)} input"
        )
    # fuzz sweep across the same neighborhood (catches off-by-one in
    # the mirror itself): every prefix near each boundary roundtrips
    for n0 in hits.values():
        for n in range(max(1, n0 - 3), n0 + 4):
            data = buf[:n]
            assert tc._lzw_decode(tc._lzw_encode(data)) == data


def test_lzw_fuzz_roundtrip_dense():
    """Dense seeded fuzz, the methodology that first exposed the EOI
    width off-by-one (~3/2000 random ~1KB inputs failed pre-fix): many
    independent buffers across entropy regimes so the final-emit table
    size sweeps the full 258..4095 range, including stream-end landings
    on and around every width boundary. Pure-Python codec, so sizes are
    kept small; runtime ~2 s. Seed/count mutate-checked: with the
    LZWPostEncode accounting in _lzw_encode reverted, this exact sweep
    fails (the landing is ~1/450 per input, so the density is load-
    bearing — don't shrink the count)."""
    import random

    rng = random.Random(7)
    fails = []
    for i in range(2000):
        regime = i % 3
        n = rng.randrange(1, 1400)
        if regime == 0:  # full-entropy bytes
            data = rng.randbytes(n)
        elif regime == 1:  # low-alphabet (dense table growth per byte)
            data = bytes(rng.choices(range(4), k=n))
        else:  # runs + literals mix (long matches, sparse growth)
            parts, m = [], 0
            while m < n:
                r = rng.randrange(1, 40)
                parts.append(bytes([rng.getrandbits(8)]) * r)
                m += r
            data = b"".join(parts)[:n]
        out = tc._lzw_decode(tc._lzw_encode(data))
        if out != data:
            fails.append((i, regime, n, len(out)))
    assert not fails, f"{len(fails)} roundtrip failures: {fails[:5]}"


def test_lzw_spec_vector():
    """First-principles check against the TIFF 6.0 §13 coding scheme:
    encode a short known string and verify the exact emitted code
    sequence (ClearCode, literals, first table hit, EOI) and its bit
    packing, then decode it back."""
    data = b"ababab"
    # codes: CLEAR(256), 'a'(97), 'b'(98) -> table[258]=ab,
    # 'ab'(258) -> table[259]=ba... encoder: w='a',+b miss -> emit 97,
    # table[ab]=258; w='b',+a miss -> emit 98, table[ba]=259; w='a',
    # +b hit w='ab', +a miss -> emit 258, table[aba]=260; w='a'+b hit
    # w='ab' end -> emit 258; EOI.
    expect_codes = [256, 97, 98, 258, 258, 257]
    enc = tc._lzw_encode(data)
    # unpack 9-bit MSB-first codes
    bits = int.from_bytes(enc, "big")
    total = len(enc) * 8
    codes = []
    pos = 0
    while pos + 9 <= total and len(codes) < len(expect_codes):
        codes.append((bits >> (total - pos - 9)) & 0x1FF)
        pos += 9
    assert codes == expect_codes
    assert tc._lzw_decode(enc) == data


def test_foreign_bigendian_deflate_multistrip():
    """Hand-built MM (big-endian) uint16 TIFF, two Deflate strips —
    the Landsat-native DN layout as a compressed foreign file."""
    h, w = 2, 3
    vals = [100, 200, 300, 400, 500, 600]
    strips = [
        zlib.compress(struct.pack(">3H", *vals[:3])),
        zlib.compress(struct.pack(">3H", *vals[3:])),
    ]
    buf = _hand_tiff_be(h, w, strips, rows_per_strip=1, compression=8)
    hh, ww, out = tc.decode_gray_np(buf)
    assert (hh, ww) == (h, w)
    assert out.tolist() == [float(v) for v in vals]


def test_foreign_lzw_predictor2_uint16():
    """Hand-built little-endian uint16 TIFF with LZW + horizontal
    differencing (predictor 2) — the classic integer COG layout. The
    differencing is applied by hand here, independent of the codec."""
    h, w = 3, 4
    a = np.array(
        [[10, 11, 13, 13], [65535, 0, 7, 7], [5, 5, 5, 9]], dtype="<u2"
    )
    diff = a.copy()
    diff[:, 1:] = a[:, 1:] - a[:, :-1]  # uint16 wrap, per spec
    seg = tc._lzw_encode(diff.tobytes())
    buf = _hand_tiff_le_u16(h, w, [seg], rows_per_strip=h, compression=5, predictor=2)
    hh, ww, out = tc.decode_gray_np(buf)
    assert (hh, ww) == (h, w)
    assert out.tolist() == [float(v) for v in a.ravel()]


def test_foreign_tiled_deflate_predictor3_float32():
    """Hand-built tiled Deflate float32 with the TechNote-3 floating
    point predictor — byte planes + differencing applied by hand."""
    h, w = 20, 18
    tw, th = 16, 16
    px = _pixels(h, w).reshape(h, w)
    segs = []
    for y0 in range(0, h, th):
        for x0 in range(0, w, tw):
            t = np.zeros((th, tw), dtype="float32")
            clip = px[y0 : y0 + th, x0 : x0 + tw]
            t[: clip.shape[0], : clip.shape[1]] = clip
            be = t.astype(">f4").view(np.uint8).reshape(th, tw, 4)
            planes = be.transpose(0, 2, 1).reshape(th, 4 * tw)
            diff = planes.copy()
            diff[:, 1:] = planes[:, 1:] - planes[:, :-1]
            segs.append(zlib.compress(diff.tobytes()))
    buf = _hand_tiff_le_f32_tiled(h, w, tw, th, segs, compression=8, predictor=3)
    hh, ww, out = tc.decode_gray_np(buf)
    assert (hh, ww) == (h, w)
    assert np.array_equal(np.asarray(out).reshape(h, w), px)


def test_unsupported_compression_still_rejected():
    buf = bytearray(tc.encode_gray(1, 2, [1.0, 2.0]))
    n = struct.unpack_from("<H", buf, 8)[0]
    for i in range(n):
        off = 10 + i * 12
        if struct.unpack_from("<H", buf, off)[0] == 259:
            struct.pack_into("<I", buf, off + 8, 7)  # JPEG
    with pytest.raises(ValueError, match="unsupported TIFF compression"):
        tc.decode_gray_np(bytes(buf))


# ---------------------------------------------------------------------------
def _dn(h, w, lo=-2000, hi=10000, seed=3):
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi + 1, size=h * w).astype(np.int16)


@pytest.mark.parametrize("compression", [None, "lzw", "deflate"])
@pytest.mark.parametrize("predictor", [1, 2])
@pytest.mark.parametrize("tile", [None, (16, 16)])
def test_int16_roundtrip_layouts(compression, predictor, tile):
    """int16 DN (incl. negatives) through every layout the encoder
    writes, with the calibration surfaced by decode_gray_full."""
    if predictor == 2 and compression is None:
        pytest.skip("predictor without compression is rejected by design")
    h, w = 37, 29
    dn = _dn(h, w)
    buf = tc.encode_gray(
        h,
        w,
        dn,
        compression=compression,
        tile=tile,
        predictor=predictor,
        dtype="int16",
        scale=0.0001,
        offset=-0.1,
    )
    hh, ww, px, scale, offset = tc.decode_gray_full(buf)
    assert (hh, ww) == (h, w)
    assert (scale, offset) == (0.0001, -0.1)
    assert np.array_equal(np.asarray(px).astype(np.int16), dn)
    # plain decode: same DN, no calibration in the tuple
    h2, w2, px2 = tc.decode_gray_np(buf)
    assert np.array_equal(np.asarray(px2), np.asarray(px))


def test_int16_no_metadata_defaults():
    buf = tc.encode_gray(4, 5, list(range(20)), dtype="int16")
    _, _, _, scale, offset = tc.decode_gray_full(buf)
    assert (scale, offset) == (1.0, 0.0)


def test_int16_encoder_rejections():
    px = list(range(16))
    with pytest.raises(ValueError, match="predictor 1 or 2"):
        tc.encode_gray(4, 4, px, dtype="int16", compression="deflate", predictor=3)
    with pytest.raises(ValueError, match="predictor 1 or 3"):
        tc.encode_gray(4, 4, [float(v) for v in px], compression="deflate", predictor=2)
    with pytest.raises(ValueError, match="float32/int16"):
        tc.encode_gray(4, 4, px, dtype="uint8")


def test_foreign_bigendian_int16_lzw_predictor2_with_gdal_metadata():
    """A hand-built MM-endian int16 file (multistrip, LZW + horizontal
    predictor) with the GDAL_METADATA calibration XML exactly as GDAL
    writes it — bytes this repo's encoder never produced."""
    h, w, rps = 11, 7, 4
    dn = _dn(h, w, seed=9).reshape(h, w)
    strips = []
    for y0 in range(0, h, rps):
        rows = dn[y0 : y0 + rps]
        # difference in native int16 (wraps mod 2^16), store big-endian
        native = rows.copy()
        native[:, 1:] -= rows[:, :-1]
        strips.append(tc._lzw_encode(native.astype(">i2").tobytes()))
    xml = (
        b'<GDALMetadata>\n  <Item name="SCALE" sample="0" role="scale">'
        b'0.0001</Item>\n  <Item name="OFFSET" sample="0" role="offset">'
        b"-0.1</Item>\n</GDALMetadata>\n\0"
    )
    inline = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 1, 16),
        (259, 3, 1, 5),  # LZW
        (262, 3, 1, 1),
        (277, 3, 1, 1),
        (278, 4, 1, rps),
        (317, 3, 1, 2),  # horizontal predictor
        (339, 3, 1, 2),  # signed int samples
    ]
    arrays = {
        273: (4, [0] * len(strips)),
        279: (4, [len(s) for s in strips]),
        42112: (2, xml),
    }
    buf = _ifd(inline, arrays, ">", strips)
    hh, ww, px, scale, offset = tc.decode_gray_full(buf)
    assert (hh, ww) == (h, w)
    assert (scale, offset) == (0.0001, -0.1)
    assert np.array_equal(
        np.asarray(px).astype(np.int16).reshape(h, w), dn
    )


# hand-built TIFF writers (independent of tiffcodec's encoder)


def _ifd(entries_inline, arrays, endian, data_segments):
    """entries_inline: [(tag, type, count, int_value)]; arrays:
    {tag: (type, [values])} stored out-of-line; segment-offset tag
    filled from layout."""
    e = endian
    all_tags = sorted(
        [t for t, *_ in entries_inline] + list(arrays),
    )
    n = len(entries_inline) + len(arrays)
    ifd_size = 2 + n * 12 + 4
    extra_base = 8 + ifd_size
    type_sizes = {2: 1, 3: 2, 4: 4}

    def arr_raw(tag):
        typ, vals = arrays[tag]
        if typ == 2:  # ASCII: vals is the NUL-terminated bytes
            return vals
        ch = {3: "H", 4: "I"}[typ]
        return struct.pack(f"{e}{len(vals)}{ch}", *vals)

    # out-of-line only when wider than 4 bytes
    outline = {
        t: arr_raw(t)
        for t in arrays
        if type_sizes[arrays[t][0]] * len(arrays[t][1]) > 4
    }
    data_base = extra_base + sum(len(b) for b in outline.values())
    # fix segment offsets now that layout is known
    seg_offsets = []
    pos = data_base
    for s in data_segments:
        seg_offsets.append(pos)
        pos += len(s)
    for tag in (273, 324):
        if tag in arrays:
            arrays[tag] = (arrays[tag][0], seg_offsets)
            if tag in outline:
                outline[tag] = arr_raw(tag)

    out = [struct.pack(f"{e}2sHI", b"MM" if e == ">" else b"II", 42, 8)]
    out.append(struct.pack(f"{e}H", n))
    inline_map = {t: (typ, cnt, val) for t, typ, cnt, val in entries_inline}
    epos = extra_base
    for tag in all_tags:
        if tag in inline_map:
            typ, cnt, val = inline_map[tag]
            if typ == 3:
                if e == ">":
                    out.append(struct.pack(f"{e}HHIHH", tag, typ, cnt, val, 0))
                else:
                    out.append(struct.pack(f"{e}HHIHH", tag, typ, cnt, val, 0))
            else:
                out.append(struct.pack(f"{e}HHII", tag, typ, cnt, val))
        else:
            typ, vals = arrays[tag]
            raw = arr_raw(tag)
            if tag in outline:
                out.append(struct.pack(f"{e}HHII", tag, typ, len(vals), epos))
                epos += len(raw)
            else:
                out.append(
                    struct.pack(f"{e}HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
                )
    out.append(struct.pack(f"{e}I", 0))
    for tag in all_tags:
        if tag in outline:
            out.append(outline[tag])
    out.extend(data_segments)
    return b"".join(out)


def _hand_tiff_be(h, w, strips, rows_per_strip, compression):
    inline = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 1, 16),
        (259, 3, 1, compression),
        (262, 3, 1, 1),
        (277, 3, 1, 1),
        (278, 4, 1, rows_per_strip),
        (339, 3, 1, 1),
    ]
    arrays = {
        273: (4, [0] * len(strips)),
        279: (4, [len(s) for s in strips]),
    }
    return _ifd(inline, arrays, ">", strips)


def _hand_tiff_le_u16(h, w, strips, rows_per_strip, compression, predictor):
    inline = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 1, 16),
        (259, 3, 1, compression),
        (262, 3, 1, 1),
        (277, 3, 1, 1),
        (278, 4, 1, rows_per_strip),
        (317, 3, 1, predictor),
        (339, 3, 1, 1),
    ]
    arrays = {
        273: (4, [0] * len(strips)),
        279: (4, [len(s) for s in strips]),
    }
    return _ifd(inline, arrays, "<", strips)


def _hand_tiff_le_f32_tiled(h, w, tw, th, tiles, compression, predictor):
    inline = [
        (256, 4, 1, w),
        (257, 4, 1, h),
        (258, 3, 1, 32),
        (259, 3, 1, compression),
        (262, 3, 1, 1),
        (277, 3, 1, 1),
        (317, 3, 1, predictor),
        (322, 4, 1, tw),
        (323, 4, 1, th),
        (339, 3, 1, 3),
    ]
    arrays = {
        324: (4, [0] * len(tiles)),
        325: (4, [len(s) for s in tiles]),
    }
    return _ifd(inline, arrays, "<", tiles)
