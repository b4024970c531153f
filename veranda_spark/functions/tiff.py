"""Baseline TIFF codec in pure numpy (no GDAL/PIL in this environment).

Closes round 1's top capability gap: the reference IS a GeoTIFF library
(GeoTiffFile.read, /root/reference/src/veranda/raster/native/geotiff.py:241-280)
and ``sniff_fmt`` labels payloads "tiff", but the engine could not decode
them.  This reader covers the reference's core storage layouts:

- classic TIFF (42) and BigTIFF (43, 64-bit offsets), little- or
  big-endian
- strip AND tile organization
- compression: none (1), LZW (5), Deflate (8 and legacy 32946, stdlib
  zlib) and PackBits (32773), with horizontal predictor (2)
- sample types: uint8/uint16 (SampleFormat 1), int16/int32 (2),
  float32/float64 (3) and complex64/complex128 (6) — the reference's
  closed dtype set (gdalport.py:10-30, SLC/interferometry payloads
  included); 1 sample/pixel (grey) or N interleaved samples

The writer emits single-strip TIFF (none/LZW/Deflate/PackBits), and
``tiff_encode_cog`` emits the Cloud-Optimized-GeoTIFF shape: tiled
layout + block-mean overview subfiles chained as extra IFDs, IFDs
written before any tile data.  Decode is whole-array numpy except the LZW
token loop, which is per-code by nature (and runs inside Arrow-batched
pandas UDFs like every other codec here).
"""

from __future__ import annotations

import struct

import numpy as np

# tag ids
_W, _H, _BITS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_PREDICTOR, _SFMT = 317, 339
_TILE_W, _TILE_H, _TILE_OFF, _TILE_CNT = 322, 323, 324, 325

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8,
              16: 8, 17: 8, 18: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f", 12: "d",
             16: "Q", 17: "q", 18: "Q"}


def _read_ifd_at(
    data: bytes, bo: str, ifd_off: int, big: bool = False
) -> tuple[dict[int, list], int]:
    """One IFD at ifd_off → (tags, next_ifd_offset).  ``big`` = BigTIFF
    layout (u64 counts/offsets, 20-byte entries)."""
    if big:
        (n,) = struct.unpack(bo + "Q", data[ifd_off : ifd_off + 8])
        head, esize, inline = 8, 20, 8
    else:
        (n,) = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])
        head, esize, inline = 2, 12, 4
    tags: dict[int, list] = {}
    for i in range(n):
        e = ifd_off + head + esize * i
        if big:
            tag, typ, cnt = struct.unpack(bo + "HHQ", data[e : e + 12])
            vpos = e + 12
        else:
            tag, typ, cnt = struct.unpack(bo + "HHI", data[e : e + 8])
            vpos = e + 8
        if typ not in _TYPE_FMT:
            continue
        size = _TYPE_SIZE[typ] * cnt
        if size <= inline:
            raw = data[vpos : vpos + size]
        else:
            (off,) = struct.unpack(bo + ("Q" if big else "I"), data[vpos : vpos + inline])
            raw = data[off : off + size]
        tags[tag] = list(struct.unpack(bo + str(cnt) + _TYPE_FMT[typ], raw))
    tail = ifd_off + head + esize * n
    (nxt,) = struct.unpack(bo + ("Q" if big else "I"), data[tail : tail + (8 if big else 4)])
    return tags, nxt


def _read_ifds(data: bytes, bo: str) -> list[dict[int, list]]:
    big = struct.unpack(bo + "H", data[2:4])[0] == 43
    if big:
        (ifd_off,) = struct.unpack(bo + "Q", data[8:16])
    else:
        (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    out = []
    while ifd_off:
        tags, ifd_off = _read_ifd_at(data, bo, ifd_off, big)
        out.append(tags)
        if len(out) > 64:  # corrupt chain guard
            break
    return out


# ---- TIFF-variant LZW -------------------------------------------------------
# MSB-first bit packing, 9->12-bit codes, Clear=256, EOI=257, "early change"
# (code width bumps one entry before the table is full) — the layout GDAL
# and libtiff write.


def lzw_decode(data: bytes, expected: int | None = None) -> bytes:
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table
        table = [bytes([i]) for i in range(256)] + [b"", b""]

    reset()
    bitbuf = 0
    nbits = 0
    width = 9
    prev: bytes | None = None
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            bitbuf = (bitbuf << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == 256:  # Clear
            reset()
            width = 9
            prev = None
            continue
        if code == 257:  # EOI
            return bytes(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        else:  # KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        out += entry
        prev = entry
        # early change, one entry behind the encoder: the encoder widens
        # after assigning code 2^w - 1, so the decoder (whose table lags
        # by one add) must widen when its table reaches 2^w - 2
        if len(table) >= (1 << width) - 2 and width < 12:
            width += 1
        if expected is not None and len(out) >= expected:
            return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    out = bytearray()
    bitbuf = 0
    nbits = 0
    width = 9

    def emit(code: int):
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(256)  # Clear
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:  # early change
            width += 1
        if next_code >= 4094:
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([byte])
    if w:
        emit(table[w])
    emit(257)  # EOI
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


def packbits_decode(data: bytes, expected: int | None = None) -> bytes:
    """Apple PackBits (TIFF compression 32773): n in [0,127] copies n+1
    literal bytes; n in [-127,-1] repeats the next byte 1-n times; -128
    is a no-op."""
    out = bytearray()
    pos, n = 0, len(data)
    while pos < n:
        c = data[pos]
        pos += 1
        if c == 128:
            continue
        if c < 128:
            out += data[pos : pos + c + 1]
            pos += c + 1
        else:
            out += bytes([data[pos]]) * (257 - c)
            pos += 1
        if expected is not None and len(out) >= expected:
            break
    return bytes(out)


def packbits_encode(data: bytes) -> bytes:
    """Greedy PackBits: emit runs >=3 as repeats, else literal spans."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        # literal span: until a >=3 run starts or 128 bytes collected
        j = i + 1
        while j < n and j - i < 128:
            run = 1
            while j + run < n and run < 3 and data[j + run] == data[j]:
                run += 1
            if run >= 3:
                break
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _undo_predictor(arr: np.ndarray) -> np.ndarray:
    # horizontal differencing: cumulative sum along rows, per sample plane
    return np.cumsum(arr.astype(np.int64), axis=1).astype(arr.dtype)


def _tiff_bo(data: bytes) -> str:
    """Byte order for classic (42) or BigTIFF (43) magic."""
    if data[:2] == b"II" and data[2] in (42, 43) and data[3] == 0:
        return "<"
    if data[:2] == b"MM" and data[2] == 0 and data[3] in (42, 43):
        return ">"
    raise ValueError("not a TIFF")


def tiff_overview_count(data: bytes) -> int:
    """Number of reduced-resolution subfiles (COG overviews) after IFD 0."""
    return len(_read_ifds(data, _tiff_bo(data))) - 1


def tiff_decode(data: bytes, ifd: int = 0) -> np.ndarray:
    """TIFF payload → (h, w) or (h, w, spp) array.  ``ifd`` selects the
    subfile: 0 = full resolution, 1.. = COG overview levels."""
    bo = _tiff_bo(data)
    ifds = _read_ifds(data, bo)
    if not 0 <= ifd < len(ifds):
        raise ValueError(f"ifd {ifd} out of range (file has {len(ifds)})")
    t = ifds[ifd]
    w = int(t[_W][0])
    h = int(t[_H][0])
    bits = int(t.get(_BITS, [8])[0])
    comp = int(t.get(_COMP, [1])[0])
    spp = int(t.get(_SPP, [1])[0])
    pred = int(t.get(_PREDICTOR, [1])[0])
    sfmt = int(t.get(_SFMT, [1])[0])
    if comp not in (1, 5, 8, 32946, 32773):
        raise NotImplementedError(
            f"TIFF compression={comp} (none/LZW/Deflate/PackBits)"
        )
    kind = {1: "u", 2: "i", 3: "f", 6: "c"}.get(sfmt)
    if kind is None or (kind, bits) not in {
        ("u", 8), ("u", 16), ("i", 16), ("i", 32), ("f", 32), ("f", 64),
        ("c", 64), ("c", 128),
    }:
        raise NotImplementedError(f"TIFF SampleFormat={sfmt} bits={bits}")
    if pred == 2 and kind in ("f", "c"):
        # horizontal differencing is only defined for integer samples;
        # cumsum'ing float/complex bytes would silently corrupt values
        raise NotImplementedError("predictor 2 on float/complex samples")
    dt = np.dtype(f"{bo}{kind}{bits // 8}")
    bpp = (bits // 8) * spp

    def segment(off: int, cnt: int, seg_h: int, seg_w: int) -> np.ndarray:
        raw = data[off : off + cnt]
        if comp == 5:
            raw = lzw_decode(raw, expected=seg_h * seg_w * bpp)
        elif comp in (8, 32946):
            import zlib

            raw = zlib.decompress(raw)
        elif comp == 32773:
            raw = packbits_decode(raw, expected=seg_h * seg_w * bpp)
        arr = np.frombuffer(raw[: seg_h * seg_w * bpp], dtype=dt)
        arr = arr.reshape(seg_h, seg_w, spp) if spp > 1 else arr.reshape(seg_h, seg_w)
        if pred == 2:
            arr = _undo_predictor(arr)
        return arr

    if _TILE_OFF in t:  # tiled layout
        tw, th_ = int(t[_TILE_W][0]), int(t[_TILE_H][0])
        offs, cnts = t[_TILE_OFF], t[_TILE_CNT]
        across = (w + tw - 1) // tw
        down = (h + th_ - 1) // th_
        shape = (down * th_, across * tw, spp) if spp > 1 else (down * th_, across * tw)
        out = np.zeros(shape, dtype=dt)
        for i, (off, cnt) in enumerate(zip(offs, cnts)):
            ty, tx = divmod(i, across)
            out[ty * th_ : (ty + 1) * th_, tx * tw : (tx + 1) * tw] = segment(
                int(off), int(cnt), th_, tw
            )
        out = out[:h, :w]
    else:  # strips
        rps = int(t.get(_ROWS_PER_STRIP, [h])[0])
        offs, cnts = t[_STRIP_OFF], t[_STRIP_CNT]
        parts = []
        for i, (off, cnt) in enumerate(zip(offs, cnts)):
            seg_h = min(rps, h - i * rps)
            parts.append(segment(int(off), int(cnt), seg_h, w))
        out = np.concatenate(parts, axis=0)
    return np.ascontiguousarray(out.astype(dt.newbyteorder("=")))


def _ifd_total_size(entries: list[tuple], big: bool = False) -> int:
    inline = 8 if big else 4
    ext = sum(
        _TYPE_SIZE[typ] * len(vals)
        for _, typ, vals in entries
        if _TYPE_SIZE[typ] * len(vals) > inline
    )
    head, esize, tail = (8, 20, 8) if big else (2, 12, 4)
    return head + esize * len(entries) + tail + ext


def _build_ifd(entries: list[tuple], ifd_off: int, nxt: int, big: bool = False) -> bytes:
    """entries: (tag, type, values-list); values too big for the inline
    field are appended after the entry table.  ``big`` = BigTIFF layout
    (u64 counts/offsets, 20-byte entries)."""
    entries = sorted(entries)
    inline = 8 if big else 4
    table = struct.pack("<Q" if big else "<H", len(entries))
    ext = bytearray()
    head, esize = (8, 20) if big else (2, 12)
    ext_base = ifd_off + head + esize * len(entries) + inline
    cnt_fmt, off_fmt = ("<HHQ", "<Q") if big else ("<HHI", "<I")
    for tag, typ, vals in entries:
        size = _TYPE_SIZE[typ] * len(vals)
        raw = struct.pack("<" + str(len(vals)) + _TYPE_FMT[typ], *vals)
        if size <= inline:
            table += struct.pack(cnt_fmt, tag, typ, len(vals)) + raw.ljust(inline, b"\0")
        else:
            table += struct.pack(cnt_fmt, tag, typ, len(vals)) + struct.pack(
                off_fmt, ext_base + len(ext)
            )
            ext += raw
    table += struct.pack(off_fmt, nxt)
    return bytes(table) + bytes(ext)


def tiff_encode(
    arr: np.ndarray,
    compression: str = "none",
    geo: tuple[float, float, float, float] | None = None,
    big: bool = False,
) -> bytes:
    """(h, w) or (h, w, spp) → single-strip little-endian TIFF.
    compression: 'none', 'lzw', 'deflate' or 'packbits'.  ``geo`` =
    (ul_x, ul_y, psx, psy) writes GeoTIFF placement tags.  ``big``
    emits BigTIFF (version 43, 64-bit offsets — tiles past 4 GB)."""
    arr = np.asarray(arr)
    kinds = {"u": 1, "i": 2, "f": 3, "c": 6}
    ok = {("u", 1), ("u", 2), ("i", 2), ("i", 4), ("f", 4), ("f", 8),
          ("c", 8), ("c", 16)}
    if (arr.dtype.kind, arr.dtype.itemsize) not in ok:
        raise ValueError(
            "tiff_encode supports uint8/16, int16/32, float32/64, "
            f"complex64/128 (got {arr.dtype})"
        )
    sfmt = kinds[arr.dtype.kind]
    if arr.ndim == 2:
        h, w = arr.shape
        spp = 1
    else:
        h, w, spp = arr.shape
    bits = arr.dtype.itemsize * 8
    payload = np.ascontiguousarray(arr.astype("<" + arr.dtype.str[1:])).tobytes()
    comp = 1
    if compression == "lzw":
        payload = lzw_encode(payload)
        comp = 5
    elif compression == "deflate":
        import zlib

        payload = zlib.compress(payload, 6)
        comp = 8
    elif compression == "packbits":
        payload = packbits_encode(payload)
        comp = 32773
    elif compression != "none":
        raise ValueError(f"compression {compression!r}")

    # SHORT only fits 16 bits — dimensions past 65535 (the whole point of
    # BigTIFF) must be LONG
    dim_t = 4 if (w > 0xFFFF or h > 0xFFFF) else 3
    entries = [
        (_W, dim_t, [w]),
        (_H, dim_t, [h]),
        (_BITS, 3, [bits]),
        (_COMP, 3, [comp]),
        (_PHOTO, 3, [1]),  # BlackIsZero
        (_STRIP_OFF, 4, [0]),  # patched below
        (_SPP, 3, [spp]),
        (_ROWS_PER_STRIP, dim_t, [h]),
        (_STRIP_CNT, 4, [len(payload)]),
        (_SFMT, 3, [sfmt]),
    ]
    if geo is not None:
        entries += _geo_entries(geo)
    if big:
        # BigTIFF: strip offset/count as LONG8
        entries = [
            (t, 16 if t in (_STRIP_OFF, _STRIP_CNT) else ty, v)
            for t, ty, v in entries
        ]
        ifd0 = 16
        header = struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd0)
    else:
        ifd0 = 8
        header = struct.pack("<2sHI", b"II", 42, ifd0)
    data_off = ifd0 + _ifd_total_size(entries, big)
    entries = [
        (t, ty, [data_off] if t == _STRIP_OFF else v) for t, ty, v in entries
    ]
    return header + _build_ifd(entries, ifd0, 0, big) + payload


# ---- COG-style export -------------------------------------------------------
# Cloud-Optimized-GeoTIFF SHAPE: tiled main image + reduced-resolution
# overview subfiles chained as extra IFDs in one file (reference S4 /
# gdalport "-co TILED=YES -co COPY_SRC_OVERVIEWS" semantics).  The byte
# layout here is a valid multi-IFD tiled TIFF readable by GDAL; the COG
# spec's header-ordering optimization (IFDs first) is honored by writing
# all IFDs before any tile data.

_NEW_SUBFILE = 254


def _block_mean(arr: np.ndarray, f: int) -> np.ndarray:
    """f×f block-mean downsample ('average' overview resampling), edges
    padded by replication; dtype preserved (rounded for ints)."""
    h, w = arr.shape[:2]
    ph, pw = (-h) % f, (-w) % f
    pad = ((0, ph), (0, pw)) + ((0, 0),) * (arr.ndim - 2)
    acc = "complex128" if arr.dtype.kind == "c" else "float64"
    a = np.pad(arr, pad, mode="edge").astype(acc)
    H, W = a.shape[0] // f, a.shape[1] // f
    if arr.ndim == 2:
        m = a.reshape(H, f, W, f).mean((1, 3))
    else:
        m = a.reshape(H, f, W, f, arr.shape[2]).mean((1, 3))
    if arr.dtype.kind in "ui":
        m = np.round(m)
    return m.astype(arr.dtype)


def _tile_payloads(arr: np.ndarray, tile: int, comp_fn) -> tuple[list[bytes], int, int]:
    h, w = arr.shape[:2]
    down, across = (h + tile - 1) // tile, (w + tile - 1) // tile
    pad = ((0, down * tile - h), (0, across * tile - w)) + ((0, 0),) * (arr.ndim - 2)
    a = np.pad(arr, pad, mode="edge")
    out = []
    for ty in range(down):
        for tx in range(across):
            block = a[ty * tile : (ty + 1) * tile, tx * tile : (tx + 1) * tile]
            out.append(comp_fn(np.ascontiguousarray(block).tobytes()))
    return out, down, across


def tiff_encode_cog(
    arr: np.ndarray,
    tile: int = 256,
    overviews: tuple[int, ...] = (2, 4, 8),
    compression: str = "deflate",
    geo: tuple[float, float, float, float] | None = None,
) -> bytes:
    """(h, w[, spp]) array → tiled multi-IFD TIFF with block-mean
    overview subfiles (COG shape).  Supported dtypes/compressions match
    tiff_encode."""
    arr = np.asarray(arr)
    kinds = {"u": 1, "i": 2, "f": 3, "c": 6}
    if (arr.dtype.kind, arr.dtype.itemsize) not in {
        ("u", 1), ("u", 2), ("i", 2), ("i", 4), ("f", 4), ("f", 8),
        ("c", 8), ("c", 16)
    }:
        raise ValueError(f"unsupported dtype {arr.dtype}")
    if compression == "none":
        comp_code, comp_fn = 1, lambda b: b
    elif compression == "lzw":
        comp_code, comp_fn = 5, lzw_encode
    elif compression == "deflate":
        import zlib

        comp_code, comp_fn = 8, lambda b: zlib.compress(b, 6)
    elif compression == "packbits":
        comp_code, comp_fn = 32773, packbits_encode
    else:
        raise ValueError(f"compression {compression!r}")

    le = arr.astype(arr.dtype.newbyteorder("<"))
    levels = [le]
    for f in overviews:
        levels.append(_block_mean(le, f))
    spp = 1 if arr.ndim == 2 else arr.shape[2]
    bits = arr.dtype.itemsize * 8
    sfmt = kinds[arr.dtype.kind]

    # per-level tile payloads
    tiled = [_tile_payloads(lv, tile, comp_fn) for lv in levels]

    def ifd_entries(lv_i, offsets):
        lv = levels[lv_i]
        payloads, down, across = tiled[lv_i]
        h, w = lv.shape[:2]
        entries = [
            (_NEW_SUBFILE, 4, [0 if lv_i == 0 else 1]),
            (_W, 3, [w]), (_H, 3, [h]), (_BITS, 3, [bits]),
            (_COMP, 3, [comp_code]), (_PHOTO, 3, [1]), (_SPP, 3, [spp]),
            (_TILE_W, 3, [tile]), (_TILE_H, 3, [tile]),
            (_TILE_OFF, 4, offsets),
            (_TILE_CNT, 4, [len(p) for p in payloads]),
            (_SFMT, 3, [sfmt]),
        ]
        if geo is not None and lv_i == 0:
            entries += _geo_entries(geo)
        return entries

    # layout: header | IFD0..IFDn (each with its external arrays) | data
    pos = 8
    ifd_offsets = []
    for lv_i, (payloads, _, _) in enumerate(tiled):
        ifd_offsets.append(pos)
        pos += _ifd_total_size(ifd_entries(lv_i, [0] * len(payloads)))
    data_pos = pos
    tile_offsets = []
    for payloads, _, _ in tiled:
        offs = []
        for p in payloads:
            offs.append(pos)
            pos += len(p)
        tile_offsets.append(offs)

    out = bytearray(struct.pack("<2sHI", b"II", 42, ifd_offsets[0]))
    for lv_i, (payloads, _, _) in enumerate(tiled):
        nxt = ifd_offsets[lv_i + 1] if lv_i + 1 < len(tiled) else 0
        out += _build_ifd(ifd_entries(lv_i, tile_offsets[lv_i]), ifd_offsets[lv_i], nxt)
    assert len(out) == data_pos, (len(out), data_pos)
    for payloads, _, _ in tiled:
        for p in payloads:
            out += p
    return bytes(out)


# ---- GeoTIFF georeferencing tags --------------------------------------------
# ModelPixelScaleTag (33550, DOUBLE[3]) + ModelTiepointTag (33922,
# DOUBLE[6]) — the minimal geotransform pair GDAL writes/reads
# (reference: geotrans handling, native/geotiff.py GeoTiffFile).  The
# full GeoKeyDirectory (CRS codes) stays in the engine's `sref` column;
# these tags carry the affine placement.

_MODEL_PIXEL_SCALE, _MODEL_TIEPOINT = 33550, 33922
#: ModelTransformationTag (DOUBLE[16]) — the FULL 4x4 raster→model
#: affine; the GeoTIFF mechanism for rotated/sheared geotransforms
#: (PixelScale+Tiepoint cannot express rotation)
_MODEL_TRANSFORMATION = 34264


def tiff_geotrans(data: bytes) -> tuple | None:
    """GDAL-style geotransform ``(gt0..gt5)`` from the geo tags of
    IFD 0, or None if untagged.  ModelTransformationTag (rotated
    grids) takes precedence over PixelScale+Tiepoint, mirroring GDAL's
    reader priority."""
    t = _read_ifds(data, _tiff_bo(data))[0]
    if _MODEL_TRANSFORMATION in t:
        m = [float(v) for v in t[_MODEL_TRANSFORMATION][:16]]
        # row-major 4x4: x = m0*i + m1*j + m3 ; y = m4*i + m5*j + m7
        # (i = col, j = row) → gt = (m3, m0, m1, m7, m4, m5)
        return (m[3], m[0], m[1], m[7], m[4], m[5])
    if _MODEL_PIXEL_SCALE not in t or _MODEL_TIEPOINT not in t:
        return None
    sx, sy = float(t[_MODEL_PIXEL_SCALE][0]), float(t[_MODEL_PIXEL_SCALE][1])
    # tiepoint: raster (i, j, k) -> model (x, y, z)
    i, j, _k, x, y, _z = (float(v) for v in t[_MODEL_TIEPOINT][:6])
    ul_x = x - i * sx
    ul_y = y + j * sy
    return (ul_x, sx, 0.0, ul_y, 0.0, -sy)


def _geo_entries(geo: tuple) -> list[tuple]:
    """``geo`` = (ul_x, ul_y, psx, psy) → PixelScale+Tiepoint tags, or a
    6-tuple GDAL geotransform (ul_x, psx, rot1, ul_y, rot2, -psy) —
    rotated transforms emit ModelTransformationTag (type 12 = DOUBLE),
    the only GeoTIFF encoding that can carry rot terms."""
    if len(geo) == 6:
        gt0, gt1, gt2, gt3, gt4, gt5 = (float(v) for v in geo)
        if gt2 != 0.0 or gt4 != 0.0:
            return [(
                _MODEL_TRANSFORMATION, 12,
                [gt1, gt2, 0.0, gt0,
                 gt4, gt5, 0.0, gt3,
                 0.0, 0.0, 0.0, 0.0,
                 0.0, 0.0, 0.0, 1.0],
            )]
        geo = (gt0, gt3, gt1, -gt5)  # north-up: keep the minimal pair
    ul_x, ul_y, psx, psy = (float(v) for v in geo)
    return [
        (_MODEL_PIXEL_SCALE, 12, [psx, psy, 0.0]),
        (_MODEL_TIEPOINT, 12, [0.0, 0.0, 0.0, ul_x, ul_y, 0.0]),
    ]
