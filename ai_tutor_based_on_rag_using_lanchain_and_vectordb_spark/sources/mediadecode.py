"""Pure-stdlib media decoders — the real (non-stub) kernels behind the
multimodal stages, same approach as ``minidecode.py`` for PDF/DOCX:
parse the container format directly instead of depending on
PIL/cv2/librosa (not in this environment). Headers and metadata:

- PNG:  IHDR width/height/bit-depth/color-type → channels
- GIF:  87a/89a logical screen descriptor (metadata only, no pixels)
- BMP:  BITMAPINFOHEADER (and the legacy BITMAPCOREHEADER)
- JPEG: frame header of every coding process (SOF0-15, DHP)
- WAV:  RIFF fmt chunk (channels/rate/bits) + PCM stats
        (n_samples, duration, rms, peak — numpy over the raw buffer)
- FLAC: full decode via sources/flac.py
- MP4:  ISO BMFF box walk (duration, track dims, MJPEG sample tables)

Pixels: PNG (every legal depth, Adam7, palette), BMP (uncompressed
24/32-bit, 16-bit packed, paletted 1/4/8-bit) and JPEG baseline,
extended-sequential, progressive and sequential-arithmetic frames
(SOF0/1/2/9, grayscale / YCbCr / CMYK-YCCK). Every other image variant
(GIF, RLE BMP, lossless / hierarchical / progressive-arithmetic JPEG)
keeps its metadata with no pixels.

Everything is called from Arrow-batched ``mapInPandas`` kernels
(multimodal.py) — bytes in, small tuples out, no Python in any
per-row Spark expression.

Reference analog: the upload path accepts arbitrary binary
(backend/main.py:332); the reference itself never decodes media — this
is part of the beyond-reference training-data-pipeline surface.
"""

from __future__ import annotations

import itertools
import re
import struct
from typing import NamedTuple


class ImageInfo(NamedTuple):
    format: str  # "png" | "gif" | "bmp" | "jpeg"
    width: int
    height: int
    channels: int


class AudioInfo(NamedTuple):
    format: str  # "wav" | "flac"
    channels: int
    sample_rate: int
    bits_per_sample: int
    n_samples: int  # per channel
    duration_ms: int
    rms: float  # 0..1 normalized, PCM16 only (0.0 otherwise)
    peak: float  # 0..1 normalized, PCM16 only (0.0 otherwise)


# ------------------------------------------------------------------ images

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (palette indexes at 1 byte count as 1)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# SOF markers that carry frame dimensions (C0-CF minus C4/C8/CC which
# are DHT/JPG/DAC)
_JPEG_SOF = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def decode_png(data: bytes) -> ImageInfo | None:
    if len(data) < 33 or not data.startswith(_PNG_SIG):
        return None
    # first chunk must be IHDR: length(4) type(4) data(13)
    if data[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", data[16:24])
    color_type = data[25]
    channels = _PNG_CHANNELS.get(color_type)
    if channels is None or not (0 < width and 0 < height):
        return None
    return ImageInfo("png", width, height, channels)


def decode_gif(data: bytes) -> ImageInfo | None:
    if len(data) < 10 or data[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    width, height = struct.unpack("<HH", data[6:10])
    if not (width and height):
        return None
    return ImageInfo("gif", width, height, 3)  # palette entries are RGB


def decode_bmp(data: bytes) -> ImageInfo | None:
    if len(data) < 26 or data[:2] != b"BM":
        return None
    header_size = struct.unpack("<I", data[14:18])[0]
    if header_size == 12:  # BITMAPCOREHEADER: 16-bit dims
        width, height = struct.unpack("<HH", data[18:22])
        bpp = struct.unpack("<H", data[24:26])[0]
    elif header_size >= 40 and len(data) >= 30:  # BITMAPINFOHEADER+
        width, height = struct.unpack("<ii", data[18:26])
        height = abs(height)  # negative = top-down DIB
        bpp = struct.unpack("<H", data[28:30])[0]
    else:
        return None
    if not (0 < width and 0 < height and bpp):
        return None
    channels = 4 if bpp == 32 else (3 if bpp >= 16 else 1)
    return ImageInfo("bmp", width, abs(height), channels)


def decode_bmp_pixels(data: bytes):
    """BMP pixel decode for BITMAPINFOHEADER DIBs: uncompressed 24/32
    bit BGR(A), 16-bit packed (X1R5G5B5 default or BI_BITFIELDS masks,
    e.g. RGB565) and uncompressed paletted 1/4/8-bit. Rows are
    bottom-up (or top-down when height is negative) padded to 4-byte
    boundaries; paletted images expand through the BGRA color table to
    (height, width, 3) RGB. RLE-compressed bitmaps return None."""
    import numpy as np

    info = decode_bmp(data)
    if info is None or len(data) < 54:
        return None
    header_size = struct.unpack("<I", data[14:18])[0]
    if header_size < 40:
        return None
    raw_h = struct.unpack("<i", data[22:26])[0]
    top_down = raw_h < 0
    bpp = struct.unpack("<H", data[28:30])[0]
    compression = struct.unpack("<I", data[30:34])[0]
    (pixel_off,) = struct.unpack("<I", data[10:14])
    w, h = info.width, info.height

    if bpp in (24, 32) and compression in (0, 3):  # BI_RGB/BITFIELDS
        nch = bpp // 8
        row_bytes = (w * nch + 3) & ~3  # rows pad to 4-byte boundaries
        if len(data) < pixel_off + row_bytes * h:
            return None
        arr = np.frombuffer(
            data, dtype=np.uint8, count=row_bytes * h, offset=pixel_off
        )
        rows = arr.reshape(h, row_bytes)[:, : w * nch].reshape(h, w, nch)
        if not top_down:
            rows = rows[::-1]
        # BGR(A) -> RGB(A)
        rows = rows[:, :, [2, 1, 0]] if nch == 3 else rows[:, :, [2, 1, 0, 3]]
        return np.ascontiguousarray(rows)

    if bpp == 16 and compression in (0, 3):
        # 16-bit packed: X1R5G5B5 by default, arbitrary contiguous masks
        # under BI_BITFIELDS (the masks follow the info header)
        if compression == 3:
            # masks sit right after the 40 core header bytes (either as
            # the BI_BITFIELDS extension or inside a V4/V5 header)
            mask_off = 14 + 40
            if len(data) < mask_off + 12:
                return None
            masks = struct.unpack("<III", data[mask_off : mask_off + 12])
        else:
            masks = (0x7C00, 0x03E0, 0x001F)
        row_bytes = (w * 2 + 3) & ~3
        if len(data) < pixel_off + row_bytes * h:
            return None
        arr = np.frombuffer(
            data, dtype=np.uint8, count=row_bytes * h, offset=pixel_off
        ).reshape(h, row_bytes)[:, : w * 2]
        px = arr.reshape(h, w, 2).view("<u2").reshape(h, w).astype(np.uint32)
        chans = []
        for mask in masks:
            if not mask:
                return None
            shift = (mask & -mask).bit_length() - 1
            top = mask >> shift
            chans.append(((px & mask) >> shift) * 255 // top)
        out = np.stack(chans, axis=2).astype(np.uint8)
        if not top_down:
            out = out[::-1]
        return np.ascontiguousarray(out)

    if bpp not in (1, 4, 8):
        return None
    # palette: BGRA entries right after the info header
    n_colors = struct.unpack("<I", data[46:50])[0] or (1 << bpp)
    pal_off = 14 + header_size
    if n_colors > 256 or len(data) < pal_off + 4 * n_colors:
        return None
    pal = np.frombuffer(
        data, dtype=np.uint8, count=4 * n_colors, offset=pal_off
    ).reshape(n_colors, 4)[:, [2, 1, 0]]  # BGRA -> RGB

    if compression != 0:  # RLE8/RLE4: metadata only
        return None
    row_bytes = ((w * bpp + 7) // 8 + 3) & ~3
    if len(data) < pixel_off + row_bytes * h:
        return None
    arr = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * h, offset=pixel_off
    ).reshape(h, row_bytes)
    if bpp == 8:
        idx = arr[:, :w]
    else:
        bits = np.unpackbits(arr, axis=1)[:, : w * bpp].reshape(h, w, bpp)
        weights = (1 << np.arange(bpp - 1, -1, -1)).astype(np.uint8)
        idx = (bits * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8)
    if not top_down:
        idx = idx[::-1]
    if idx.max(initial=0) >= n_colors:
        return None
    return np.ascontiguousarray(pal[idx])


def _jpeg_entropy_end(data: bytes, p: int) -> int:
    """Offset of the marker that ends the entropy-coded data starting
    at ``p``: 0xFF00 is a stuffed data byte, RSTn continues the scan and
    0xFF fill bytes are skipped; a trailing lone 0xFF is excluded."""
    n = len(data)
    while True:
        p = data.find(b"\xff", p)
        if p < 0:
            return n
        if p + 1 >= n:
            return p
        m = data[p + 1]
        if m == 0x00 or 0xD0 <= m <= 0xD7:
            p += 2
        elif m == 0xFF:
            p += 1
        else:
            return p


def _jpeg_markers(data: bytes):
    """The JPEG marker-segment walk after SOI: yields ``(marker, body,
    start, stop)`` per length-carrying segment until EOI or the end of
    the data. ``body`` is the segment payload; ``start`` is the offset
    just past the segment, and ``stop`` the offset of the next marker —
    after an SOS the two bound the scan's entropy-coded data, otherwise
    they are equal. Stray bytes resync to the next 0xFF, fill bytes and
    standalone markers (TEM, RSTn) are skipped; a missing SOI, or a
    segment length under 2 or past the end of the data, raises
    ``ValueError``."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise ValueError("no JPEG SOI marker")
    i, n = 2, len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:  # resync on stray bytes
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone markers, no length
            continue
        if marker == 0xD9:  # EOI
            return
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if seg_len < 2 or i + 2 + seg_len > n:
            raise ValueError("bad JPEG segment length")
        start = i + 2 + seg_len
        stop = _jpeg_entropy_end(data, start) if marker == 0xDA else start
        yield marker, data[i + 4 : start], start, stop
        i = stop


def decode_jpeg(data: bytes) -> ImageInfo | None:
    """Dimensions and component count from the first frame header of
    any coding process (SOF0-15), or from DHP (0xDE), which carries a
    hierarchical pyramid's final dimensions — its first SOF frame is
    smaller."""
    try:
        for marker, body, _, _ in _jpeg_markers(data):
            if marker in _JPEG_SOF or marker == 0xDE:
                if len(body) < 6:
                    return None
                height, width = struct.unpack(">HH", body[1:5])
                channels = body[5]
                if not (width and height and channels):
                    return None
                return ImageInfo("jpeg", width, height, channels)
    except ValueError:
        return None
    return None


def _make_zigzag() -> list[int]:
    """JPEG zigzag scan order: index k in scan order -> flat position in
    the 8x8 block (ITU T.81 figure 5)."""
    idx = []
    for d in range(15):
        rng = range(d, -1, -1) if d % 2 == 0 else range(d + 1)
        for r in rng:
            c = d - r
            if r < 8 and c < 8:
                idx.append(r * 8 + c)
    return idx


_JPEG_ZIGZAG = _make_zigzag()


def _jpeg_idct_matrix():
    """8-point DCT-III basis: spatial = T.T @ coeff @ T (T[u,x] =
    0.5*C(u)*cos((2x+1)uπ/16))."""
    import math

    import numpy as np

    t = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            t[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return t


class _JpegBits:
    """MSB-first bit reader over one entropy-coded interval (stuffed
    0xFF00 already collapsed to 0xFF by the interval splitter)."""

    __slots__ = ("d", "pos", "buf", "n")

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.buf = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.d):
                raise EOFError
            self.buf = self.d[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.buf >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical Huffman (T.81 annex C): {(code_length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise ValueError("bad DHT")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_huff_decode(br: _JpegBits, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed value."""
    if t == 0 or v >= (1 << (t - 1)):
        return v
    return v - (1 << t) + 1


def _jpeg_scan_order(sel, comps, grids, mcus_x, mcus_y):
    """Yield one scan's units in coding order, each as its list of
    ``(component, dc_table, ac_table, block_index)``: an MCU of an
    interleaved scan, or one block of a single component's TRUE block
    grid (tighter than the MCU-padded one when subsampled)."""
    if len(sel) == 1:
        ci, td, ta = sel[0]
        bw, _bh, cbw, cbh = grids[ci]
        for by in range(cbh):
            for bx in range(cbw):
                yield [(ci, td, ta, by * bw + bx)]
        return
    for my in range(mcus_y):
        for mx in range(mcus_x):
            unit = []
            for ci, td, ta in sel:
                _, hi, vi, _tq = comps[ci]
                bw = grids[ci][0]
                for by in range(vi):
                    for bx in range(hi):
                        idx = (my * vi + by) * bw + (mx * hi + bx)
                        unit.append((ci, td, ta, idx))
            yield unit


def _jpeg_huffman_scan(data, scan, order, coeffs, progressive) -> int:
    """Huffman entropy stage of one scan (sequential, or any of the
    four progressive scan kinds: DC/AC × first/refinement), accumulating
    coefficients in place. Returns the number of decoded units."""
    huff_dc, huff_ac = scan.tables
    ss, se, ah, al = scan.ss, scan.se, scan.ah, scan.al
    zz = _JPEG_ZIGZAG
    intervals = [
        part.replace(b"\xff\x00", b"\xff")
        for part in re.split(rb"\xff[\xd0-\xd7]", data[scan.start : scan.stop])
    ]
    units = iter(order)
    decoded = 0
    state = {"eobrun": 0}
    for interval in intervals:
        br = _JpegBits(interval)
        pred = [0] * len(coeffs)
        state["eobrun"] = 0
        try:
            for unit in itertools.islice(units, scan.restart or None):
                for ci, td, ta, idx in unit:
                    blk = coeffs[ci][idx]
                    if ss == 0 and (not progressive or ah == 0):
                        # DC (first pass, or the whole band sequentially)
                        t = _jpeg_huff_decode(br, huff_dc[td])
                        if t > 11:
                            raise ValueError("bad DC category")
                        diff = _jpeg_extend(br.bits(t), t) if t else 0
                        pred[ci] += diff
                        blk[0] = pred[ci] << al
                        if not progressive:
                            _jpeg_ac_first(br, blk, huff_ac[ta], 1, 63, 0, state, zz)
                    elif ss == 0:  # DC refinement: one raw bit per block
                        if br.bit():
                            blk[0] |= 1 << al
                    elif ah == 0:  # AC first pass for a band
                        _jpeg_ac_first(br, blk, huff_ac[ta], ss, se, al, state, zz)
                    else:  # AC refinement
                        _jpeg_ac_refine(br, blk, huff_ac[ta], ss, se, al, state, zz)
                decoded += 1
        except (EOFError, ValueError, KeyError):
            # truncated/garbled interval (or a scan referencing an
            # undefined table): keep what decoded — fail-soft, like
            # real viewers; a short stream yields a partial image
            break
    return decoded


def _jpeg_ac_first(br, blk, table, ss, se, al, state, zz):
    """Sequential AC / progressive first AC pass with EOB-run support
    (T.81 F.2.2.2 / G.1.2.2)."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _jpeg_huff_decode(br, table)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1 + (br.bits(r) if r else 0)
            break
        k += r
        if k > se:
            raise ValueError("AC overrun")
        blk[zz[k]] = _jpeg_extend(br.bits(s), s) << al
        k += 1


def _jpeg_ac_refine(br, blk, table, ss, se, al, state, zz):
    """Progressive AC refinement pass (T.81 G.1.2.3): newly significant
    coefficients arrive as ±1<<al; already-significant ones absorb one
    correction bit each as the run skips over them."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(pos):
        if br.bit() and not (blk[pos] & p1):
            blk[pos] += p1 if blk[pos] > 0 else m1

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _jpeg_huff_decode(br, table)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:
                    state["eobrun"] = (1 << r) - 1 + (br.bits(r) if r else 0) + 1
                    break
                val = 0  # ZRL: skip 16 zero-history positions
            elif s == 1:
                val = p1 if br.bit() else m1
            else:
                raise ValueError("bad refinement size")
            while k <= se:
                pos = zz[k]
                if blk[pos] != 0:
                    correct(pos)
                elif r == 0:
                    if val:
                        blk[pos] = val
                    k += 1
                    break
                else:
                    r -= 1
                k += 1
    if state["eobrun"] > 0:
        while k <= se:  # refine the rest of the band inside the EOB run
            pos = zz[k]
            if blk[pos] != 0:
                correct(pos)
            k += 1
        state["eobrun"] -= 1


class _JpegScan(NamedTuple):
    sel: list  # (component index, DC table, AC table) per scan component
    ss: int  # spectral band start
    se: int  # spectral band end
    ah: int  # successive-approximation high bit
    al: int  # successive-approximation low bit (point transform)
    start: int  # offset of the first entropy-coded byte
    stop: int  # offset of the marker that ends the entropy-coded data
    restart: int  # DRI interval in effect for this scan (0 = none)
    tables: tuple  # (DC, AC) Huffman tables or DAC conditioning, as defined here


def _jpeg_parse(data: bytes):
    """The one segment parse behind :func:`decode_jpeg_pixels`. Returns
    ``(frame, qt, adobe_transform, scans)`` — frame = (w, h, comps,
    progressive, arithmetic) with comps = [(comp_id, hi, vi, tq)], qt =
    the DQT tables as 8x8 natural-order arrays, adobe_transform = the
    APP14 color-transform flag (None when absent), scans = one
    :class:`_JpegScan` per SOS — or None (or ``ValueError`` from the
    marker walk) for malformed streams, and None for every coding
    process outside SOF0/1/2/9 (metadata-only fallback).
    Tables and the restart interval are snapshotted per scan, so a
    redefinition between scans applies to the scans after it only."""
    import numpy as np

    qt: dict[int, "np.ndarray"] = {}
    huff: tuple[dict, dict] = ({}, {})  # DC, AC Huffman tables by slot
    cond: tuple[dict, dict] = ({}, {})  # DAC: DC (L, U), AC Kx by slot
    frame = None
    restart_interval = 0
    adobe_transform = None
    scans: list[_JpegScan] = []
    for marker, body, start, stop in _jpeg_markers(data):
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                m = 64 * (2 if pq else 1)
                if p + m > len(body) or tq > 3:
                    return None
                raw = (
                    np.frombuffer(body[p : p + m], dtype=">u2")
                    if pq
                    else np.frombuffer(body[p : p + m], dtype=np.uint8)
                ).astype(np.int32)
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_JPEG_ZIGZAG] = raw
                qt[tq] = tbl.reshape(8, 8)
                p += m
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                counts = body[p + 1 : p + 17]
                nsym = sum(counts)
                if p + 17 + nsym > len(body) or th > 3:
                    return None
                table = _jpeg_huff_table(counts, body[p + 17 : p + 17 + nsym])
                huff[1 if tc else 0][th] = table
                p += 17 + nsym
        elif marker == 0xCC:  # DAC conditioning
            p = 0
            while p + 2 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                v = body[p + 1]
                if tc == 0:
                    cond[0][th] = (v & 0x0F, v >> 4)  # (L, U)
                else:
                    cond[1][th] = v  # Kx
                p += 2
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9):
            if len(body) < 6 or body[0] != 8:
                return None
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            if nc not in (1, 3, 4) or len(body) < 6 + 3 * nc or not (w and h):
                return None
            if w * h > 64_000_000:
                return None
            comps = []
            for c in range(nc):
                cid = body[6 + 3 * c]
                hv = body[7 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * c]))
            frame = (w, h, comps, marker == 0xC2, marker == 0xC9)
        elif marker in _JPEG_SOF:  # lossless, hierarchical, SOF10/11
            return None
        elif marker == 0xEE:  # APP14 (Adobe): color-transform flag
            if len(body) >= 12 and body[:5] == b"Adobe":
                adobe_transform = body[11]
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                return None
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None or len(body) < 4:
                return None
            ns = body[0]
            if not (1 <= ns <= len(frame[2])) or len(body) < 1 + 2 * ns + 3:
                return None
            ids = [c[0] for c in frame[2]]
            sel = []
            for s in range(ns):
                cs = body[1 + 2 * s]
                if cs not in ids:
                    return None
                td, ta = body[2 + 2 * s] >> 4, body[2 + 2 * s] & 0x0F
                sel.append((ids.index(cs), td, ta))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            if ss > se or se > 63:
                return None
            if frame[3]:  # progressive scan-header rules (T.81 G.1)
                if ss == 0 and se != 0:
                    return None  # DC scans carry only coefficient 0
                if ss > 0 and ns != 1:
                    return None  # AC scans are single-component
            elif (ss, se, ah, al) != (0, 63, 0, 0):
                return None  # sequential scans span the full band
            # (missing tables surface as a fail-soft KeyError at decode
            # time, matching the truncation contract)
            tables = tuple(dict(t) for t in (cond if frame[4] else huff))
            scans.append(_JpegScan(
                sel, ss, se, ah, al, start, stop, restart_interval, tables
            ))
    if frame is None or not scans:
        return None
    return frame, qt, adobe_transform, scans


def _jpeg_arith_scan(data, scan, order, coeffs) -> int:
    """Arithmetic entropy stage of one sequential (SOF9) scan: QM coder
    + Annex F conditioning models (sources/arithcode.py), DAC defaults
    L=0, U=1, Kx=5; the coder and every statistics area re-init at the
    scan start and at each restart marker. Returns the number of
    decoded units."""
    from . import arithcode as ARC

    dc_cond, ac_cond = scan.tables
    nc = len(coeffs)
    zz = _JPEG_ZIGZAG
    n = len(data)

    def fresh(pos):
        return (
            ARC.ArithDecoder(data, pos),
            {td: bytearray(ARC.DC_STAT_BINS) for _, td, _ in scan.sel},
            {ta: bytearray(ARC.AC_STAT_BINS) for _, _, ta in scan.sel},
            bytearray([ARC.FIXED_BIN]),
            [0] * nc,  # DC conditioning category per component
            [0] * nc,  # DC predictor per component
        )

    dec, dstats, astats, fixed, dctx, pred = fresh(scan.start)
    decoded = 0
    for unit in order:
        if scan.restart and decoded and decoded % scan.restart == 0:
            # skip to the RST marker, re-init coder + ALL stats
            p = dec.pos
            while p + 1 < n and not (
                data[p] == 0xFF and 0xD0 <= data[p + 1] <= 0xD7
            ):
                p += 1
            if p + 1 >= n:
                raise ValueError("missing restart marker")
            dec, dstats, astats, fixed, dctx, pred = fresh(p + 2)
        for ci, td, ta, idx in unit:
            L, U = dc_cond.get(td, (0, 1))
            pred[ci] += ARC.decode_dc(dec, dstats[td], dctx, ci, L, U)
            blk = [0] * 64
            blk[0] = pred[ci]
            ARC.decode_ac(dec, astats[ta], fixed, blk, ac_cond.get(ta, 5))
            coeffs[ci][idx, zz] = blk
        decoded += 1
    return decoded


def decode_jpeg_pixels(data: bytes):
    """JPEG pixel decode (T.81, public spec), pure Python entropy
    decode + numpy dequant/IDCT: baseline/extended-sequential (SOF0/1),
    progressive (SOF2 — spectral selection, successive approximation,
    DC+AC refinement scans, EOB runs) and sequential ARITHMETIC (SOF9 —
    QM coder + Annex F conditioning, sources/arithcode.py); 8-bit
    samples, grayscale, 3-component YCbCr or 4-component CMYK/YCCK —
    returned as 4 channels exactly as the codestream encodes them
    (APP14 transform 2 un-rotates YCCK back to CMY; ink interpretation
    is producer-dependent and stays with the caller); sampling factors
    1-2 with chroma upsampling, restart markers, 8/16-bit DQT, per-scan
    table redefinition. Every other coding process — lossless (SOF3/11),
    hierarchical (SOF5-7/13-15) and progressive arithmetic (SOF10) —
    returns None (metadata-only fallback; :func:`decode_jpeg` still
    reports its dimensions). Returns (height, width, channels) uint8.

    One segment parse (:func:`_jpeg_parse`) serves both entropy stages.
    Per-block work is one einsum over all blocks per component; only
    the inherently serial entropy decode walks in Python — fine for
    the thumbnail/preview sizes a curation pipeline decodes, and the
    64 MP bound caps untrusted headers."""
    import numpy as np

    try:
        parsed = _jpeg_parse(data)
        if parsed is None:
            return None
        (w, h, comps, progressive, arithmetic), qt, adobe_transform, scans = parsed
        for _, hi, vi, tq in comps:
            if not (1 <= hi <= 2 and 1 <= vi <= 2) or tq not in qt:
                return None

        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))

        # per component: MCU-padded coefficient grid (bw, bh) plus the
        # tighter true block dims (cbw, cbh) non-interleaved scans walk
        grids = []
        coeffs = []
        for _, hi, vi, _tq in comps:
            bw, bh = mcus_x * hi, mcus_y * vi
            comp_w = -(-(w * hi) // hmax)
            comp_h = -(-(h * vi) // vmax)
            grids.append((bw, bh, -(-comp_w // 8), -(-comp_h // 8)))
            coeffs.append(np.zeros((bh * bw, 64), dtype=np.int32))

        decoded_units = 0
        for scan in scans:
            order = _jpeg_scan_order(scan.sel, comps, grids, mcus_x, mcus_y)
            if arithmetic:
                decoded_units += _jpeg_arith_scan(data, scan, order, coeffs)
            else:
                decoded_units += _jpeg_huffman_scan(
                    data, scan, order, coeffs, progressive
                )
        if decoded_units == 0:
            return None

        return _jpeg_reconstruct(
            w, h, comps, grids, coeffs, qt, adobe_transform, hmax, vmax
        )
    except Exception:
        # fail-closed: a malformed payload must never kill the Spark
        # task — unrecognized/corrupt streams degrade to metadata-only
        return None


def _jpeg_reconstruct(w, h, comps, grids, coeffs, qt, adobe_transform,
                      hmax, vmax):
    """Dequant + IDCT + upsample + color-transform assembly shared by
    the Huffman and arithmetic (SOF9) entropy stages."""
    import numpy as np

    t_mat = _jpeg_idct_matrix()
    planes = []
    for ci, (_, hi, vi, tq) in enumerate(comps):
        bw, bh = grids[ci][0], grids[ci][1]
        deq = coeffs[ci].reshape(-1, 8, 8) * qt[tq][None, :, :]
        spatial = np.einsum(
            "ux,nuv,vy->nxy", t_mat, deq.astype(np.float64), t_mat
        )
        blocks = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
        plane = (
            blocks.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # upsample to full resolution (nearest, the baseline norm)
        if hi < hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        if vi < vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return planes[0][:, :, None].copy()
    if len(planes) == 4:
        # CMYK output AS THE CODESTREAM ENCODES IT (4 channels) —
        # ink interpretation (Adobe inversion etc.) is
        # producer-dependent and stays with the caller. YCCK
        # (APP14 transform 2) un-rotates the first three planes
        # through the YCbCr inverse back to CMY; transform 0 or no
        # APP14 is direct CMYK.
        if adobe_transform == 2:
            y, cb, cr = (p.astype(np.float64) for p in planes[:3])
            c0 = y + 1.402 * (cr - 128)
            c1 = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
            c2 = y + 1.772 * (cb - 128)
            cmy = [
                np.clip(np.round(c), 0, 255).astype(np.uint8)
                for c in (c0, c1, c2)
            ]
            return np.stack(cmy + [planes[3]], axis=2)
        return np.stack(planes, axis=2)
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(
        np.round(np.stack([r, g, b], axis=2)), 0, 255
    ).astype(np.uint8)


def decode_image(data: bytes) -> ImageInfo | None:
    """Sniff + decode any supported image container; None if none match
    (caller decides: strict raise vs deterministic stub)."""
    if not data:
        return None
    for dec in (decode_png, decode_jpeg, decode_gif, decode_bmp):
        info = dec(data)
        if info is not None:
            return info
    return None


# Adam7 interlace passes: (row_start, row_step, col_start, col_step)
_PNG_ADAM7 = (
    (0, 8, 0, 8), (0, 8, 4, 8), (4, 8, 0, 4), (0, 4, 2, 4),
    (2, 4, 0, 2), (0, 2, 1, 2), (1, 2, 0, 1),
)


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reconstruct ``h`` scanlines of ``stride`` bytes from the
    filtered stream (filter byte + data per line, filters 0-4, T.81—er,
    RFC 2083 §6). ``bpp`` is the filter distance in bytes. Returns the
    (h, stride) uint8 array or None. Filters None/Sub/Up are whole-row
    numpy ops (Sub is a cumsum over bpp-strided groups mod 256);
    Average/Paeth loop over pixel groups within the row only."""
    import numpy as np

    if len(raw) != h * (stride + 1) or stride % bpp:
        return None
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters, lines = rows[:, 0], rows[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), dtype=np.uint8)
    zero = np.zeros(stride, dtype=np.int32)
    groups = stride // bpp
    for y in range(h):
        f, line = filters[y], lines[y]
        prev = recon[y - 1].astype(np.int32) if y else zero
        if f == 0:
            out = line % 256
        elif f == 1:  # Sub: recon[x] = line[x] + recon[x-bpp]
            out = (np.cumsum(line.reshape(groups, bpp), axis=0) % 256).reshape(stride)
        elif f == 2:  # Up
            out = (line + prev) % 256
        elif f in (3, 4):  # Average / Paeth: left-neighbor dependency
            out = np.zeros(stride, dtype=np.int32)
            left = np.zeros(bpp, dtype=np.int32)
            upleft = np.zeros(bpp, dtype=np.int32)
            for x in range(groups):
                seg = slice(x * bpp, (x + 1) * bpp)
                up = prev[seg]
                if f == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = (
                        np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
                    )
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft)
                    )
                out[seg] = (line[seg] + pred) % 256
                left, upleft = out[seg], up
        else:
            return None
        recon[y] = out.astype(np.uint8)
    return recon


def _png_samples(recon, w: int, h: int, ch: int, depth: int):
    """(h, stride) filtered-out bytes -> (h, w, ch) uint8 samples.
    16-bit takes the high byte (the standard 8-bit downscale); 1/2/4-bit
    unpack MSB-first within each scanline."""
    import numpy as np

    if depth == 8:
        return recon.reshape(h, w, ch)
    if depth == 16:
        return recon.reshape(h, w, ch, 2)[:, :, :, 0].copy()
    bits = np.unpackbits(recon, axis=1)[:, : w * ch * depth]
    vals = bits.reshape(h, w * ch, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2, dtype=np.uint16).astype(np.uint8).reshape(
        h, w, ch
    )


def decode_png_pixels(data: bytes):
    """Full PNG pixel decode, pure stdlib (zlib) + numpy: concatenated
    IDAT inflate, per-scanline unfilter (all five filter types 0-4),
    every legal bit depth (1/2/4/8/16 — 16-bit downscales to 8), Adam7
    interlace, palette expansion via PLTE. Returns a (height, width,
    channels) uint8 ndarray, or None for corrupt streams."""
    import zlib

    import numpy as np

    info = decode_png(data)
    if info is None:
        return None
    if info.width * info.height > 64_000_000:  # untrusted header bound
        return None
    depth, color_type, interlace = data[24], data[25], data[28]
    if depth not in (1, 2, 4, 8, 16) or interlace not in (0, 1):
        return None
    if depth < 8 and color_type not in (0, 3):
        return None  # sub-byte depths are gray/palette only (spec)
    if depth == 16 and color_type == 3:
        return None

    idat = bytearray()
    plte = None
    pos = 8
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if ctype == b"IDAT":
            idat += body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    w, h, ch = info.width, info.height, info.channels
    bpp = max(1, ch * depth // 8)

    def pass_stride(pw: int) -> int:
        return (pw * ch * depth + 7) // 8

    # exact expected filtered size bounds the inflate — a tiny
    # zip-bomb IDAT must not balloon memory past what the (already
    # pixel-capped) header promises
    if interlace == 0:
        expected = h * (pass_stride(w) + 1)
    else:
        expected = sum(
            ph * (pass_stride(pw) + 1)
            for y0, dy, x0, dx in _PNG_ADAM7
            for pw in [(w - x0 + dx - 1) // dx]
            for ph in [(h - y0 + dy - 1) // dy]
            if pw and ph
        )
    try:
        raw = zlib.decompressobj().decompress(bytes(idat), expected + 1)
    except zlib.error:
        return None
    if len(raw) > expected:
        return None

    if interlace == 0:
        recon = _png_unfilter(raw, h, pass_stride(w), bpp)
        if recon is None:
            return None
        img = _png_samples(recon, w, h, ch, depth)
    else:  # Adam7: seven independently-filtered sub-images
        img = np.zeros((h, w, ch), dtype=np.uint8)
        off = 0
        for y0, dy, x0, dx in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if not pw or not ph:
                continue
            stride = pass_stride(pw)
            seg = raw[off : off + ph * (stride + 1)]
            off += ph * (stride + 1)
            recon = _png_unfilter(seg, ph, stride, bpp)
            if recon is None:
                return None
            img[y0::dy, x0::dx] = _png_samples(recon, pw, ph, ch, depth)
        if off != len(raw):
            return None

    if color_type == 3:  # palette indexes -> RGB
        if plte is None or len(plte) < 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = img[:, :, 0]
        if idx.max() >= len(pal):
            return None
        return pal[idx]
    if depth < 8:  # grayscale at sub-byte depth: scale to full range
        return (img.astype(np.uint16) * (255 // ((1 << depth) - 1))).astype(
            np.uint8
        )
    return img


# ------------------------------------------------------------------- audio


def decode_wav(data: bytes) -> AudioInfo | None:
    """RIFF/WAVE fmt + data chunk walk. Stats (rms/peak, normalized to
    [0,1]) are computed for integer PCM at 8 (unsigned), 16, 24 and 32
    bits and IEEE-float at 32/64 bits; other encodings (ADPCM, µ-law)
    return header fields with zero stats rather than failing."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    pos, n = 12, len(data)
    channels = rate = bits = None
    audio_fmt = None
    pcm = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if not (channels and rate and bits is not None) or pcm is None:
        return None
    bytes_per_frame = channels * max(bits, 8) // 8
    n_samples = len(pcm) // bytes_per_frame if bytes_per_frame else 0
    duration_ms = int(n_samples * 1000 // rate) if rate else 0
    rms = peak = 0.0
    if n_samples:
        import numpy as np

        x = _pcm_to_float(pcm[: n_samples * bytes_per_frame], audio_fmt, bits)
        if x is not None and len(x) and np.isfinite(x).all():
            rms = float(np.sqrt(np.mean(x * x)))
            peak = float(np.max(np.abs(x)))
    return AudioInfo("wav", channels, rate, bits, n_samples, duration_ms, rms, peak)


def _pcm_to_float(buf: bytes, audio_fmt: int, bits: int):
    """Raw PCM frames -> float64 samples in [-1, 1] (interleaved across
    channels); None for encodings outside integer/float PCM."""
    import numpy as np

    if audio_fmt == 1 and bits == 16:
        return np.frombuffer(buf, dtype="<i2").astype(np.float64) / 32768.0
    if audio_fmt == 1 and bits == 8:  # 8-bit PCM is unsigned
        return (np.frombuffer(buf, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    if audio_fmt == 1 and bits == 24:
        b = np.frombuffer(buf, dtype=np.uint8)
        b = b[: len(b) // 3 * 3].reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)
        return v.astype(np.float64) / float(1 << 23)
    if audio_fmt == 1 and bits == 32:
        return np.frombuffer(buf, dtype="<i4").astype(np.float64) / float(1 << 31)
    if audio_fmt == 3 and bits == 32:  # IEEE float
        return np.frombuffer(buf, dtype="<f4").astype(np.float64)
    if audio_fmt == 3 and bits == 64:
        return np.frombuffer(buf, dtype="<f8")
    return None


def decode_wav_samples(data: bytes):
    """(AudioInfo, float64 samples averaged to mono) for integer/float
    PCM WAVs — the raw material for windowed segment features; None for
    non-WAV or non-PCM payloads."""
    import numpy as np

    info = decode_wav(data)
    if info is None or not info.n_samples:
        return None
    if len(data) < 12:
        return None
    # re-walk for the data chunk (decode_wav validated the layout)
    pos, n = 12, len(data)
    audio_fmt = None
    pcm = None
    while pos + 8 <= n:
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if cid == b"fmt " and size >= 16 and pos + 10 <= n:
            # mirror decode_wav's guard: ignore short/trailing fmt chunks
            audio_fmt = struct.unpack("<H", data[pos + 8 : pos + 10])[0]
        elif cid == b"data":
            pcm = data[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    if pcm is None or audio_fmt is None:
        return None
    frame_bytes = info.channels * max(info.bits_per_sample, 8) // 8
    x = _pcm_to_float(pcm[: info.n_samples * frame_bytes], audio_fmt, info.bits_per_sample)
    if x is None or not len(x) or not np.isfinite(x).all():
        return None
    if info.channels > 1:
        x = x[: len(x) // info.channels * info.channels]
        x = x.reshape(-1, info.channels).mean(axis=1)
    return info, x


def _flac_info_samples(data: bytes):
    """(AudioInfo, per-channel int samples, bps) for a FLAC payload, or
    None for non-FLAC/corrupt bytes (lax — the fuzz contract)."""
    if len(data) < 4 or data[:4] != b"fLaC":
        return None
    from . import flac as FL

    import numpy as np

    try:
        fi, s = FL.decode_flac(data)
    except FL.FlacError:
        return None
    if not len(s):
        return None
    x = s.astype(np.float64) / float(1 << (fi.bits_per_sample - 1))
    rms = float(np.sqrt(np.mean(x * x)))
    peak = float(np.max(np.abs(x)))
    dur = int(len(s) * 1000 // fi.sample_rate) if fi.sample_rate else 0
    info = AudioInfo(
        "flac", fi.channels, fi.sample_rate, fi.bits_per_sample,
        len(s), dur, rms, peak,
    )
    return info, x


def decode_image_pixels(data: bytes):
    """(format, pixels (h, w, c) uint8 | None) for any recognized image
    payload — the dispatch image_features applies inline (PNG decodes
    every legal layout; GIF, and BMP/JPEG variants outside the pixel
    decoders, return their format with None pixels). Never raises."""
    info = decode_image(data)
    if info is None:
        return None, None
    img = None
    if info.format == "png":
        img = decode_png_pixels(data)
    elif info.format == "bmp":
        img = decode_bmp_pixels(data)
    elif info.format == "jpeg":
        img = decode_jpeg_pixels(data)
    return info.format, img


def decode_audio(data: bytes) -> AudioInfo | None:
    """Audio metadata + loudness for RIFF/WAV (PCM int/float) or FLAC
    (full decode). None for anything else — never raises."""
    if len(data) >= 4 and data[:4] == b"fLaC":
        out = _flac_info_samples(data)
        return out[0] if out else None
    return decode_wav(data)


def decode_audio_samples(data: bytes):
    """(AudioInfo, float64 mono samples in [-1, 1]) for WAV or FLAC
    payloads; None otherwise — never raises."""
    if len(data) >= 4 and data[:4] == b"fLaC":
        out = _flac_info_samples(data)
        if out is None:
            return None
        info, x = out
        return info, x.mean(axis=1)
    return decode_wav_samples(data)


# ------------------------------------------------------------------- video


class VideoInfo(NamedTuple):
    format: str  # "mp4"
    duration_ms: int
    width: int  # 0 when no video track header found
    height: int
    n_tracks: int


def _mp4_boxes(data: bytes, lo: int, hi: int):
    """Yield (type, body_lo, body_hi) for the boxes in data[lo:hi]."""
    pos = lo
    while pos + 8 <= hi:
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        btype = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > hi:
                return
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            body = pos + 16
        elif size == 0:  # box extends to end
            size = hi - pos
        if size < 8 or pos + size > hi:
            return
        yield btype, body, pos + size
        pos += size


class Mp4Sample(NamedTuple):
    offset: int  # absolute file offset of the sample payload
    size: int
    ts_ms: int  # decode timestamp


class Mp4Track(NamedTuple):
    codec: str  # stsd first-entry fourcc, e.g. "jpeg"
    samples: list  # list[Mp4Sample]


def _mp4_child(data: bytes, lo: int, hi: int, btype: bytes):
    for t, clo, chi in _mp4_boxes(data, lo, hi):
        if t == btype:
            return clo, chi
    return None


def mp4_video_track(data: bytes, max_samples: int = 100_000) -> Mp4Track | None:
    """Walk the first video track's sample tables (stsd codec, stsz
    sizes, stsc sample→chunk mapping, stco/co64 chunk offsets, stts
    decode times) and return absolute byte ranges + timestamps for its
    samples — the real plumbing frame extraction needs. Pure box math;
    no codec work. Returns None when any table is missing/garbled
    (fail-closed like the other decoders)."""
    try:
        if len(data) < 12 or data[4:8] != b"ftyp":
            return None
        moov = _mp4_child(data, 0, len(data), b"moov")
        if moov is None:
            return None
        fallback_track: Mp4Track | None = None
        for ttype, tlo, thi in _mp4_boxes(data, *moov):
            if ttype != b"trak":
                continue
            mdia = _mp4_child(data, tlo, thi, b"mdia")
            if mdia is None:
                continue
            mdhd = _mp4_child(data, *mdia, b"mdhd")
            minf = _mp4_child(data, *mdia, b"minf")
            if mdhd is None or minf is None:
                continue
            version = data[mdhd[0]]
            if version == 1:
                timescale = struct.unpack(">I", data[mdhd[0] + 20 : mdhd[0] + 24])[0]
            else:
                timescale = struct.unpack(">I", data[mdhd[0] + 12 : mdhd[0] + 16])[0]
            stbl = _mp4_child(data, *minf, b"stbl")
            if stbl is None or not timescale:
                continue
            boxes = {t: (lo2, hi2) for t, lo2, hi2 in _mp4_boxes(data, *stbl)}
            stsd = boxes.get(b"stsd")
            if stsd is None or stsd[1] - stsd[0] < 16:
                continue
            codec = data[stsd[0] + 12 : stsd[0] + 16].decode("latin1")
            stsz = boxes.get(b"stsz")
            stsc = boxes.get(b"stsc")
            stco = boxes.get(b"stco") or boxes.get(b"co64")
            co64 = b"co64" in boxes
            stts = boxes.get(b"stts")
            if stsz is None or stsc is None or stco is None:
                continue
            fixed, n_samples = struct.unpack(
                ">II", data[stsz[0] + 4 : stsz[0] + 12]
            )
            n_samples = min(n_samples, max_samples)
            if fixed:
                sizes = [fixed] * n_samples
            else:
                sizes = [
                    struct.unpack(
                        ">I", data[stsz[0] + 12 + 4 * i : stsz[0] + 16 + 4 * i]
                    )[0]
                    for i in range(n_samples)
                ]
            (n_chunks,) = struct.unpack(">I", data[stco[0] + 4 : stco[0] + 8])
            width = 8 if co64 else 4
            fmt = ">Q" if co64 else ">I"
            chunk_offsets = [
                struct.unpack(
                    fmt,
                    data[stco[0] + 8 + width * i : stco[0] + 8 + width * (i + 1)],
                )[0]
                for i in range(min(n_chunks, max_samples))
            ]
            (n_stsc,) = struct.unpack(">I", data[stsc[0] + 4 : stsc[0] + 8])
            stsc_rows = [
                struct.unpack(
                    ">III", data[stsc[0] + 8 + 12 * i : stsc[0] + 20 + 12 * i]
                )
                for i in range(min(n_stsc, max_samples))
            ]
            # decode timestamps from stts (durations in timescale units)
            ts: list[int] = []
            if stts is not None:
                (n_stts,) = struct.unpack(">I", data[stts[0] + 4 : stts[0] + 8])
                t = 0
                for i in range(min(n_stts, max_samples)):
                    cnt, dur = struct.unpack(
                        ">II", data[stts[0] + 8 + 8 * i : stts[0] + 16 + 8 * i]
                    )
                    for _ in range(min(cnt, n_samples - len(ts))):
                        ts.append(t * 1000 // timescale)
                        t += dur
                    if len(ts) >= n_samples:
                        break
            while len(ts) < n_samples:
                ts.append(ts[-1] if ts else 0)

            samples: list[Mp4Sample] = []
            si = 0
            for ci, coff in enumerate(chunk_offsets):
                per = 1
                for first_chunk, spc, _desc in stsc_rows:
                    if first_chunk <= ci + 1:  # stsc chunks are 1-based
                        per = spc
                    else:
                        break
                off = coff
                for _ in range(per):
                    if si >= n_samples:
                        break
                    if off + sizes[si] > len(data):
                        return None
                    samples.append(Mp4Sample(off, sizes[si], ts[si]))
                    off += sizes[si]
                    si += 1
            if samples:
                track = Mp4Track(codec, samples)
                if codec in MJPEG_CODECS:  # decodable: prefer outright
                    return track
                if fallback_track is None:
                    fallback_track = track
        return fallback_track
    except Exception:
        return None


# stsd fourccs whose samples are standalone JPEG images
MJPEG_CODECS = ("jpeg", "mjpa", "mjpb")


def decode_mp4(data: bytes) -> VideoInfo | None:
    """ISO BMFF (MP4/MOV) metadata: mvhd timescale+duration and the
    first video track's tkhd 16.16-fixed width/height. Box walk only —
    no sample/codec decode (that stays a stub in multimodal.py)."""
    if len(data) < 12 or data[4:8] != b"ftyp":
        return None
    duration_ms = width = height = n_tracks = 0
    found_moov = False
    for btype, lo, hi in _mp4_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        found_moov = True
        for ctype, clo, chi in _mp4_boxes(data, lo, hi):
            if ctype == b"mvhd" and chi - clo >= 20:
                version = data[clo]
                if version == 1 and chi - clo >= 32:
                    timescale = struct.unpack(">I", data[clo + 20 : clo + 24])[0]
                    duration = struct.unpack(">Q", data[clo + 24 : clo + 32])[0]
                else:
                    timescale = struct.unpack(">I", data[clo + 12 : clo + 16])[0]
                    duration = struct.unpack(">I", data[clo + 16 : clo + 20])[0]
                if timescale:
                    duration_ms = int(duration * 1000 // timescale)
            elif ctype == b"trak":
                n_tracks += 1
                for ttype, tlo, thi in _mp4_boxes(data, clo, chi):
                    if ttype == b"tkhd" and thi - tlo >= 84:
                        w = struct.unpack(">I", data[thi - 8 : thi - 4])[0] >> 16
                        h = struct.unpack(">I", data[thi - 4 : thi])[0] >> 16
                        if w and h and not width:
                            width, height = w, h
    if not found_moov:
        return None
    return VideoInfo("mp4", duration_ms, width, height, n_tracks)
