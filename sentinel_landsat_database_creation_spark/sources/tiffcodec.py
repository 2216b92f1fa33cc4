"""Minimal pure-Python TIFF codec for single-band rasters.

Implements the subset of TIFF 6.0 the engine needs to make the raster
source/sink (SURVEY.md §2 ops 4/8) executable without native GDAL:

- ``encode_gray`` writes a single-band grayscale GeoTIFF (float32) with
  optional ModelPixelScale / ModelTiepoint geo-tags — the same logical
  output as the reference's ``array2raster`` (reference:
  data_pair/fct_data_extraction.py:14-20, GTiff driver, 1 band,
  GDT_Float32 + geotransform). Since round 6 it can also write the
  cloud-optimized layouts real distribution files use: ``tile=(tw,th)``
  for a tiled organization, ``compression="deflate"|"lzw"``, and
  ``predictor=3`` (the TIFF TechNote-3 floating-point predictor GDAL
  emits for float COGs).
- ``decode_gray_np`` reads band 1 of a TIFF (float32/float64/uint8/
  uint16/int16/uint32/int32, II or MM byte order) as a float32 NumPy
  array (``decode_gray_full`` adds the GDAL scale/offset) — the
  fallback for the reference's ``rasterio.open(...).read(1)``
  (data_pair/fct_data_extraction.py:21-26) when rasterio is absent.
  Round 6 (round-5 VERDICT item 4): it now also reads the layouts real
  HLS/S2 files ship in — strip- or tile-organized, Deflate (8/32946)
  or LZW (5) compressed, horizontal (2) or floating-point (3)
  predictor — so a rasterio-less deployment no longer fails on the
  first compressed file.

rasterio (when installed) remains the production path for esoteric
files (JPEG/JP2 codecs, BigTIFF); this codec is the always-available
baseline and is what the in-container tests round-trip through.
Everything here is plain driver/executor-side Python over ``struct`` /
``zlib`` / numpy — no Spark imports.
"""

from __future__ import annotations

import struct
import zlib

# TIFF tag ids (TIFF 6.0 spec) + GeoTIFF geo-tags (OGC GeoTIFF spec).
_T_WIDTH = 256
_T_HEIGHT = 257
_T_BITS = 258
_T_COMPRESSION = 259
_T_PHOTOMETRIC = 262
_T_STRIP_OFFSETS = 273
_T_SAMPLES_PER_PIXEL = 277
_T_ROWS_PER_STRIP = 278
_T_STRIP_BYTE_COUNTS = 279
_T_PREDICTOR = 317
_T_TILE_WIDTH = 322
_T_TILE_LENGTH = 323
_T_TILE_OFFSETS = 324
_T_TILE_BYTE_COUNTS = 325
_T_SAMPLE_FORMAT = 339
_T_MODEL_PIXEL_SCALE = 33550
_T_MODEL_TIEPOINT = 33922
# GDAL's per-band metadata tag (ASCII XML; the public GDAL GeoTIFF
# driver spec): carries the band SCALE/OFFSET real HLS v2.0 int16
# bands ship (reflectance = DN * 0.0001), which rasterio exposes as
# dataset.scales / dataset.offsets.
_T_GDAL_METADATA = 42112

_TYPE_ASCII = 2
_TYPE_SHORT = 3  # uint16
_TYPE_LONG = 4  # uint32
_TYPE_DOUBLE = 12

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}

# compression tag values (TIFF 6.0 §7; 32946 is the pre-6.0 Deflate id
# GDAL still emits with COMPRESS=DEFLATE on some drivers)
_C_NONE = 1
_C_LZW = 5
_C_DEFLATE = 8
_C_DEFLATE_OLD = 32946

# (sample_format, bits) -> struct char
_FMT = {
    (1, 8): "B",
    (1, 16): "H",
    (1, 32): "I",
    (2, 8): "b",
    (2, 16): "h",
    (2, 32): "i",
    (3, 32): "f",
    (3, 64): "d",
}


# ---------------------------------------------------------------------------
# TIFF LZW (spec §13): MSB-first bit packing, ClearCode=256, EOI=257,
# 9->12 bit codes with the "early change" width bump libtiff/GDAL use.


def _lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    bitpos = 0
    total_bits = len(data) * 8
    nbits = 9
    CLEAR, EOI = 256, 257
    table: list[bytes] = []
    prev: bytes | None = None
    while True:
        if bitpos + nbits > total_bits:
            break  # some writers omit the trailing EOI
        byte_idx = bitpos >> 3
        chunk = int.from_bytes(data[byte_idx : byte_idx + 4].ljust(4, b"\0"), "big")
        code = (chunk >> (32 - nbits - (bitpos & 7))) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits = 9
            prev = None
            continue
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream: code beyond table")
            table.append(prev + entry[:1])
        out += entry
        prev = entry
        # early change: width bumps when the NEXT entry would be the
        # last representable code (libtiff semantics)
        if len(table) >= (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    cur = 0
    curbits = 0
    nbits = 9
    CLEAR, EOI = 256, 257

    def emit(code: int) -> None:
        nonlocal cur, curbits
        cur = (cur << nbits) | code
        curbits += nbits
        while curbits >= 8:
            out.append((cur >> (curbits - 8)) & 0xFF)
            curbits -= 8
        cur &= (1 << curbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        w = bytes([b])
        # Width alignment with the early-change decoder: the decoder
        # adds its (k-1)-th entry while processing code k, so its table
        # trails the encoder's by one — it widens after its length
        # reaches (1<<nbits)-1, which is the moment the ENCODER's
        # next_code reaches (1<<nbits). At 12 bits, reset well before
        # any table can reach 4095.
        if nbits == 12 and next_code >= 4093:
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        elif next_code >= (1 << nbits):
            nbits += 1
    if w:
        emit(table[w])
        # The decoder appends one implicit table entry while processing
        # this final data code, then applies its early-change check
        # (len(table) >= (1<<nbits)-1 -> widen).  At that moment its
        # table length equals our next_code, so if next_code has reached
        # (1<<nbits)-1 the decoder reads EOI at the WIDER width — emit
        # it there or libtiff-semantics readers (incl. _lzw_decode)
        # misparse the 9/10/11-bit EOI as a spurious wider code
        # (libtiff LZWPostEncode does the same accounting).
        if next_code >= (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    emit(EOI)
    if curbits:
        out.append((cur << (8 - curbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Predictors (TIFF 6.0 §14 horizontal differencing; TechNote 3 floating
# point). Both operate per ROW of a strip/tile, so callers pass the
# segment's own row width.


def _predict3_encode(seg: bytes, rows: int, w: int, bpp: int) -> bytes:
    """Floating-point predictor: per row, reorder the big-endian sample
    bytes into byte planes (all MSBs first), then horizontal byte
    differencing. numpy uint8 arithmetic wraps mod 256, as specified."""
    import numpy as np

    b = np.frombuffer(seg, np.uint8).reshape(rows, w, bpp)
    planes = b.transpose(0, 2, 1).reshape(rows, bpp * w)
    diff = planes.astype(np.uint8).copy()
    diff[:, 1:] -= planes[:, :-1]
    return diff.tobytes()


def _predict3_decode(seg: bytes, rows: int, w: int, bpp: int) -> bytes:
    import numpy as np

    d = np.frombuffer(seg, np.uint8).reshape(rows, bpp * w)
    cum = np.cumsum(d, axis=1, dtype=np.uint8)  # wraps mod 256
    planes = cum.reshape(rows, bpp, w).transpose(0, 2, 1)
    return planes.tobytes()


def _predict2_encode(seg: bytes, rows: int, w: int, samples: int, dt) -> bytes:
    """Horizontal differencing over integer samples (per channel), the
    encoder side of _predict2_decode: subtract the left neighbor in the
    sample dtype (wraps mod 2^bits, as specified in TIFF 6.0 §14)."""
    import numpy as np

    a = np.frombuffer(seg, dt).reshape(rows, w, samples)
    diff = a.copy()
    diff[:, 1:, :] -= a[:, :-1, :]
    return diff.tobytes()


def _predict2_decode(seg: bytes, rows: int, w: int, samples: int, dt) -> bytes:
    """Horizontal differencing over integer samples (per channel).
    Cumsum in the sample dtype wraps exactly like the encoder's
    subtraction did. np.cumsum silently NORMALIZES a byte-swapped
    dtype to native order (values right, storage order wrong), so the
    result is forced back to ``dt`` before serializing — without the
    astype, big-endian predictor-2 files decoded to byte-swapped
    garbage (caught by the MM int16 foreign-layout test)."""
    import numpy as np

    a = np.frombuffer(seg, dt).reshape(rows, w, samples)
    return np.cumsum(a, axis=1, dtype=dt).astype(dt, copy=False).tobytes()


def _compress(seg: bytes, compression: int) -> bytes:
    if compression == _C_NONE:
        return seg
    if compression in (_C_DEFLATE, _C_DEFLATE_OLD):
        return zlib.compress(seg, 6)
    if compression == _C_LZW:
        return _lzw_encode(seg)
    raise ValueError(f"unsupported compression {compression}")


def _decompress(seg: bytes, compression: int) -> bytes:
    if compression == _C_NONE:
        return seg
    if compression in (_C_DEFLATE, _C_DEFLATE_OLD):
        return zlib.decompress(seg)
    if compression == _C_LZW:
        return _lzw_decode(seg)
    raise ValueError(
        f"unsupported TIFF compression {compression} "
        "(supported: none/1, LZW/5, Deflate/8/32946); install rasterio "
        "for JPEG/JP2 codecs"
    )


_COMPRESSION_NAMES = {
    None: _C_NONE,
    "none": _C_NONE,
    "deflate": _C_DEFLATE,
    "lzw": _C_LZW,
}


def _emit_tiff(entries: list[tuple[int, int, list]], segments: list[bytes]) -> bytes:
    """Serialize a little-endian classic TIFF from (tag, type, values)
    entries plus data segments. The segment-offset tag (273 or 324)
    must carry one placeholder value per segment; real offsets are
    filled here once the layout is known. Values wider than 4 bytes
    land out-of-line after the IFD, in tag order (spec: IFD sorted by
    ascending tag)."""

    def pack_values(typ: int, values) -> bytes:
        if typ == _TYPE_ASCII:  # values = the NUL-terminated bytes; the
            return values  # IFD count is its byte length (len works)
        ch = {_TYPE_SHORT: "H", _TYPE_LONG: "I", _TYPE_DOUBLE: "d"}[typ]
        return struct.pack(f"<{len(values)}{ch}", *values)

    entries = sorted(entries, key=lambda t: t[0])
    n = len(entries)
    ifd_offset = 8
    ifd_size = 2 + n * 12 + 4
    extra_sizes = [
        _TYPE_SIZES[typ] * len(vals) if _TYPE_SIZES[typ] * len(vals) > 4 else 0
        for _, typ, vals in entries
    ]
    extra_base = ifd_offset + ifd_size
    data_base = extra_base + sum(extra_sizes)

    seg_offsets: list[int] = []
    pos = data_base
    for s in segments:
        seg_offsets.append(pos)
        pos += len(s)

    out = [struct.pack("<2sHI", b"II", 42, ifd_offset), struct.pack("<H", n)]
    extra: list[bytes] = []
    extra_pos = extra_base
    for (tag, typ, values), esz in zip(entries, extra_sizes):
        if tag in (_T_STRIP_OFFSETS, _T_TILE_OFFSETS):
            values = seg_offsets
        raw = pack_values(typ, values)
        if esz:
            out.append(struct.pack("<HHII", tag, typ, len(values), extra_pos))
            extra.append(raw)
            extra_pos += len(raw)
        else:
            out.append(struct.pack("<HHI", tag, typ, len(values)) + raw.ljust(4, b"\0"))
    out.append(struct.pack("<I", 0))
    out.extend(extra)
    out.extend(segments)
    return b"".join(out)


def encode_gray(
    height: int,
    width: int,
    pixels,
    origin: tuple[float, float] | None = None,
    pixel_size: tuple[float, float] | None = None,
    compression: str | None = None,
    tile: tuple[int, int] | None = None,
    predictor: int = 1,
    dtype: str = "float32",
    scale: float | None = None,
    offset: float | None = None,
) -> bytes:
    """Encode ``height*width`` pixels (row-major) as a little-endian
    single-band TIFF. ``origin`` (originX, originY) and ``pixel_size``
    (pixelWidth, pixelHeight) add the GeoTIFF ModelTiepoint/
    ModelPixelScale tags, mirroring the geotransform the reference
    feeds GDAL (data_pair/fct_data_extraction.py:15-17).

    ``compression`` ("deflate" | "lzw" | None), ``tile`` (tw, th —
    multiples of 16 per spec §15), and ``predictor`` (1 = none, 2 =
    horizontal integer differencing, 3 = TechNote-3 floating point)
    write the cloud-optimized layouts real HLS/S2 distribution files
    use; the defaults keep the historical uncompressed single-strip
    float32 output byte-identical.

    ``dtype="int16"`` writes signed 16-bit DN samples (SampleFormat=2,
    the layout real HLS v2.0 bands ship); ``scale``/``offset`` record
    the band's physical calibration (reflectance = DN*scale + offset)
    in the GDAL_METADATA tag exactly where GDAL/rasterio read it
    (dataset.scales / dataset.offsets)."""
    if len(pixels) != height * width:
        raise ValueError(f"expected {height * width} pixels, got {len(pixels)}")
    comp = _COMPRESSION_NAMES.get(compression)
    if comp is None:
        raise ValueError(f"unknown compression {compression!r}")
    if dtype not in ("float32", "int16"):
        raise ValueError(f"encoder supports float32/int16, not {dtype!r}")
    is_int = dtype == "int16"
    if is_int:
        if predictor not in (1, 2):
            raise ValueError("int16 encoder supports predictor 1 or 2 only")
    elif predictor not in (1, 3):
        raise ValueError("float32 encoder supports predictor 1 or 3 only")
    if predictor != 1 and comp == _C_NONE:
        raise ValueError("predictor without compression is pointless; pick one")

    import numpy as np

    arr = np.asarray(pixels, dtype="<i2" if is_int else "<f4").reshape(
        height, width
    )

    def segment_bytes(a) -> bytes:
        # predictor 3 operates on BIG-endian sample bytes (TechNote 3:
        # the planes are endian-independent big-endian order)
        if predictor == 3:
            rows, w = a.shape
            return _predict3_encode(a.astype(">f4").tobytes(), rows, w, 4)
        if predictor == 2:
            rows, w = a.shape
            dt = np.dtype("<i2")
            return _predict2_encode(a.astype(dt).tobytes(), rows, w, 1, dt)
        return a.astype("<i2" if is_int else "<f4").tobytes()

    entries: list[tuple[int, int, list]] = [
        (_T_WIDTH, _TYPE_LONG, [width]),
        (_T_HEIGHT, _TYPE_LONG, [height]),
        (_T_BITS, _TYPE_SHORT, [16 if is_int else 32]),
        (_T_COMPRESSION, _TYPE_SHORT, [comp]),
        (_T_PHOTOMETRIC, _TYPE_SHORT, [1]),  # BlackIsZero
        (_T_SAMPLES_PER_PIXEL, _TYPE_SHORT, [1]),
        (_T_SAMPLE_FORMAT, _TYPE_SHORT, [2 if is_int else 3]),
    ]
    if predictor != 1:
        entries.append((_T_PREDICTOR, _TYPE_SHORT, [predictor]))
    if scale is not None or offset is not None:
        items = []
        if scale is not None:
            items.append(
                f'<Item name="SCALE" sample="0" role="scale">{scale!r}</Item>'
            )
        if offset is not None:
            items.append(
                f'<Item name="OFFSET" sample="0" role="offset">{offset!r}</Item>'
            )
        xml = "<GDALMetadata>\n" + "\n".join(items) + "\n</GDALMetadata>\n"
        entries.append(
            (_T_GDAL_METADATA, _TYPE_ASCII, xml.encode("ascii") + b"\0")
        )
    if origin is not None and pixel_size is not None:
        # ModelPixelScale = (pw, ph, 0); ModelTiepoint = raster (0,0,0)
        # -> model (originX, originY, 0). GDAL's geotransform uses a
        # negative row step for north-up; the scale tag carries |ph|.
        entries.append(
            (_T_MODEL_PIXEL_SCALE, _TYPE_DOUBLE, [pixel_size[0], abs(pixel_size[1]), 0.0])
        )
        entries.append(
            (_T_MODEL_TIEPOINT, _TYPE_DOUBLE, [0.0, 0.0, 0.0, origin[0], origin[1], 0.0])
        )

    if tile is not None:
        tw, th = tile
        if tw % 16 or th % 16:
            raise ValueError("tile dimensions must be multiples of 16 (spec §15)")
        segments = []
        for y0 in range(0, height, th):
            for x0 in range(0, width, tw):
                # edge tiles pad to full tile size (spec §15)
                t = np.zeros((th, tw), dtype="<i2" if is_int else "<f4")
                clip = arr[y0 : y0 + th, x0 : x0 + tw]
                t[: clip.shape[0], : clip.shape[1]] = clip
                segments.append(_compress(segment_bytes(t), comp))
        entries += [
            (_T_TILE_WIDTH, _TYPE_LONG, [tw]),
            (_T_TILE_LENGTH, _TYPE_LONG, [th]),
            (_T_TILE_OFFSETS, _TYPE_LONG, [0] * len(segments)),
            (_T_TILE_BYTE_COUNTS, _TYPE_LONG, [len(s) for s in segments]),
        ]
    else:
        segments = [_compress(segment_bytes(arr), comp)]
        entries += [
            (_T_ROWS_PER_STRIP, _TYPE_LONG, [height]),
            (_T_STRIP_OFFSETS, _TYPE_LONG, [0]),
            (_T_STRIP_BYTE_COUNTS, _TYPE_LONG, [len(segments[0])]),
        ]
    return _emit_tiff(entries, segments)


def decode_gray_np(buf: bytes):
    """Decode band 1 of a TIFF (strips or tiles; none/Deflate/LZW;
    predictor none/horizontal/floating-point) to (height, width,
    float32 ndarray row-major): the Arrow-friendly form the Spark
    decode boundary uses directly — pandas columns of ndarray cells
    serialize to Arrow list<float> ~2-3x faster than columns of
    Python-list cells."""
    return _decode_gray_impl(buf)


def decode_gray_full(buf: bytes):
    """decode_gray_np plus the band calibration: (height, width,
    float32 pixels, scale, offset), where scale/offset come from the
    GDAL_METADATA tag (the place GDAL records them and rasterio
    surfaces them as dataset.scales/offsets) and default to 1.0/0.0
    when absent. Pixels stay RAW DN — like ``rasterio.open().read(1)``,
    which does NOT auto-apply calibration; the engine applies
    reflectance = DN*scale + offset as a native Spark expression
    downstream so the physical-units math runs JVM-side."""
    return _decode_gray_impl(buf, want_meta=True)


_GDAL_ITEM_RE = None


def _parse_gdal_scale_offset(xml: str) -> tuple[float, float]:
    global _GDAL_ITEM_RE
    if _GDAL_ITEM_RE is None:
        import re

        _GDAL_ITEM_RE = re.compile(
            r'<Item\s+name="(SCALE|OFFSET)"[^>]*>([^<]+)</Item>'
        )
    scale, offset = 1.0, 0.0
    for name, val in _GDAL_ITEM_RE.findall(xml):
        try:
            v = float(val)
        except ValueError:
            continue
        if name == "SCALE":
            scale = v
        else:
            offset = v
    return scale, offset


def _decode_gray_impl(buf: bytes, want_meta: bool = False):
    if len(buf) < 8:
        raise ValueError("not a TIFF: truncated header")
    bom = buf[:2]
    if bom == b"II":
        e = "<"
    elif bom == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    magic, ifd_offset = struct.unpack(f"{e}HI", buf[2:8])
    if magic != 42:
        raise ValueError("not a TIFF: bad magic")

    (n_entries,) = struct.unpack(f"{e}H", buf[ifd_offset : ifd_offset + 2])
    tags: dict[int, list[int]] = {}
    scale, offset = 1.0, 0.0
    for i in range(n_entries):
        off = ifd_offset + 2 + i * 12
        tag, typ, count = struct.unpack(f"{e}HHI", buf[off : off + 8])
        size = _TYPE_SIZES.get(typ, 1) * count
        if size <= 4:
            raw = buf[off + 8 : off + 8 + size]
        else:
            (voff,) = struct.unpack(f"{e}I", buf[off + 8 : off + 12])
            raw = buf[voff : voff + size]
        if typ == _TYPE_ASCII:
            if want_meta and tag == _T_GDAL_METADATA:
                scale, offset = _parse_gdal_scale_offset(
                    raw.rstrip(b"\0").decode("ascii", "replace")
                )
            continue
        if typ == _TYPE_SHORT:
            vals = list(struct.unpack(f"{e}{count}H", raw))
        elif typ == _TYPE_LONG:
            vals = list(struct.unpack(f"{e}{count}I", raw))
        elif typ == _TYPE_DOUBLE:
            vals = list(struct.unpack(f"{e}{count}d", raw))
        else:
            continue  # types the gray decoder never needs
        tags[tag] = vals

    def one(tag: int, default: int | None = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return tags[tag][0]

    comp = one(_T_COMPRESSION, 1)
    pred = one(_T_PREDICTOR, 1)
    width, height = one(_T_WIDTH), one(_T_HEIGHT)
    bits = one(_T_BITS, 8)
    sample_format = one(_T_SAMPLE_FORMAT, 1)
    samples = one(_T_SAMPLES_PER_PIXEL, 1)
    fmt = _FMT.get((sample_format, bits))
    if fmt is None:
        raise ValueError(f"unsupported sample format {sample_format}/{bits}-bit")
    bpp = bits // 8
    tiled = _T_TILE_OFFSETS in tags

    import numpy as np

    dt = np.dtype(fmt).newbyteorder(e)

    # fast path kept for the uncompressed strip layout every op-8 sink
    # file uses: one frombuffer over the concatenated strips
    if comp == _C_NONE and pred == 1 and not tiled:
        offsets = tags[_T_STRIP_OFFSETS]
        counts = tags[_T_STRIP_BYTE_COUNTS]
        raw = b"".join(buf[o : o + c] for o, c in zip(offsets, counts))
        values = np.frombuffer(raw, dtype=dt, count=height * width * samples)
        if samples > 1:  # band 1 of pixel-interleaved data, like .read(1)
            values = values[::samples]
        px = values.astype("float32")
        return (height, width, px, scale, offset) if want_meta else (height, width, px)

    # general path: per-segment decompress + predictor-undo + assemble

    def undo_predictor(seg: bytes, rows: int, w: int):
        if pred == 1:
            return np.frombuffer(seg, dt).reshape(rows, w, samples)
        if pred == 2:
            if sample_format == 3:
                raise ValueError("predictor 2 is for integer samples")
            raw = _predict2_decode(seg, rows, w, samples, dt)
            return np.frombuffer(raw, dt).reshape(rows, w, samples)
        if pred == 3:
            if bpp not in (4, 8):
                raise ValueError("floating-point predictor needs 32/64-bit")
            raw = _predict3_decode(seg, rows, w * samples, bpp)
            bedt = np.dtype(fmt).newbyteorder(">")  # TechNote 3: planes
            # reassemble in big-endian order regardless of file order
            return np.frombuffer(raw, bedt).reshape(rows, w, samples)
        raise ValueError(f"unsupported predictor {pred}")

    out = np.zeros((height, width), dtype="float32")
    if tiled:
        tw, th = one(_T_TILE_WIDTH), one(_T_TILE_LENGTH)
        offsets = tags[_T_TILE_OFFSETS]
        counts = tags[_T_TILE_BYTE_COUNTS]
        tiles_across = (width + tw - 1) // tw
        for idx, (o, c) in enumerate(zip(offsets, counts)):
            seg = _decompress(buf[o : o + c], comp)
            t = undo_predictor(seg, th, tw)[:, :, 0].astype("float32")
            y0 = (idx // tiles_across) * th
            x0 = (idx % tiles_across) * tw
            h_clip = min(th, height - y0)
            w_clip = min(tw, width - x0)
            out[y0 : y0 + h_clip, x0 : x0 + w_clip] = t[:h_clip, :w_clip]
    else:
        rps = one(_T_ROWS_PER_STRIP, height)
        offsets = tags[_T_STRIP_OFFSETS]
        counts = tags[_T_STRIP_BYTE_COUNTS]
        y0 = 0
        for o, c in zip(offsets, counts):
            seg = _decompress(buf[o : o + c], comp)
            rows = min(rps, height - y0)
            s = undo_predictor(seg, rows, width)[:, :, 0].astype("float32")
            out[y0 : y0 + rows] = s
            y0 += rows
    px = out.ravel()
    return (height, width, px, scale, offset) if want_meta else (height, width, px)
