"""Minimal JPEG ENCODER — the payload synthesizer behind the engine's
media self-check gates (plans/pipeline.multimodal_gate builds MJPEG
frames in-engine with it) and the round-trip ground truth for the
decoder tests (no golden binaries in the repo).

Scope: 8-bit baseline (SOF0), progressive (SOF2, four-stage scan
script with successive approximation), or sequential ARITHMETIC
(SOF9, QM coder per T.81 Annex D/F via sources/arithcode.py, DAC
conditioning at spec defaults), grayscale / YCbCr 4:4:4 /
4:2:0 / CMYK-YCCK (APP14), near-lossless all-ones quantization so
round-trip error is DCT rounding only, optional restart intervals.
Huffman tables are a valid canonical layout (symbols 0-127 at 8 bits,
128-255 at 9 bits) rather than the Annex K defaults — simpler to
construct, and it exercises the decoder's generic DHT handling instead
of a hard-coded table. Also: the MJPEG MP4 muxer and an uncompressed
BMP writer."""

from __future__ import annotations

import struct

import numpy as np

from .mediadecode import _JPEG_ZIGZAG, _jpeg_idct_matrix

# canonical code for symbol s: 8 bits for 0-127, 9 bits (256+s-128) after
_HUFF_COUNTS = bytes([0] * 7 + [128, 128] + [0] * 7)
_HUFF_SYMBOLS = bytes(range(256))
# DC-class tables list ONLY the 16 DCT category symbols (0..15):
# strict decoders (system libjpeg) reject DC tables defining symbols
# above 15. All 16 get length-8 canonical codes, i.e. code == symbol —
# exactly what _code() emits — so the entropy bitstream is unchanged.
_HUFF_DC_COUNTS = bytes([0] * 7 + [16] + [0] * 8)
_HUFF_DC_SYMBOLS = bytes(range(16))


def _code(sym: int) -> tuple[int, int]:
    return (8, sym) if sym < 128 else (9, 256 + sym - 128)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _emit_coeff(bw: _BitWriter, v: int, t: int) -> None:
    if t:
        bw.write(v if v >= 0 else v + (1 << t) - 1, t)


_T_MAT = _jpeg_idct_matrix()


def _encode_block(bw: _BitWriter, block: np.ndarray, pred: int) -> int:
    """block: 8x8 spatial uint8/int. Returns the new DC predictor."""
    q = _quantize_block(block)
    dc = int(q[0])
    diff = dc - pred
    t = _category(diff)
    bw.write(*reversed(_code(t)))
    _emit_coeff(bw, diff, t)
    run = 0
    for k in range(1, 64):
        v = int(q[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*reversed(_code(0xF0)))  # ZRL
            run -= 16
        s = _category(v)
        bw.write(*reversed(_code((run << 4) | s)))
        _emit_coeff(bw, v, s)
        run = 0
    if run:
        bw.write(*reversed(_code(0x00)))  # EOB
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _plane_blocks(plane: np.ndarray, bw_blocks: int, bh_blocks: int) -> np.ndarray:
    """Pad a plane to (bh_blocks*8, bw_blocks*8) by edge replication and
    return the (bh*bw, 8, 8) block array in raster order."""
    h, w = plane.shape
    padded = np.pad(
        plane, ((0, bh_blocks * 8 - h), (0, bw_blocks * 8 - w)), mode="edge"
    )
    return (
        padded.reshape(bh_blocks, 8, bw_blocks, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _quantize_block(block: np.ndarray) -> np.ndarray:
    """8x8 spatial -> 64 quantized (all-ones table) coefficients in
    zigzag order."""
    coeff = _T_MAT @ (block.astype(np.float64) - 128.0) @ _T_MAT.T
    return np.round(coeff).astype(np.int64).reshape(64)[_JPEG_ZIGZAG]


def _emit_symbol(bw: _BitWriter, sym: int) -> None:
    bw.write(*reversed(_code(sym)))


def _flush_eobrun(bw: _BitWriter, eobrun: int) -> int:
    """Emit an EOBn symbol covering ``eobrun`` blocks (T.81 G.1.2.2)."""
    if eobrun:
        r = eobrun.bit_length() - 1
        _emit_symbol(bw, r << 4)
        if r:
            bw.write(eobrun - (1 << r), r)
    return 0


def _encode_ac_first(bw: _BitWriter, blocks, al: int) -> None:
    """Progressive first AC pass (band 1..63, point transform ``al``)
    with EOB-run accumulation across blocks."""
    eobrun = 0
    for q in blocks:
        v = [int(q[k]) // 2**al if q[k] >= 0 else -((-int(q[k])) // 2**al)
             for k in range(64)]
        nz = [k for k in range(1, 64) if v[k]]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(bw, eobrun)
            continue
        eobrun = _flush_eobrun(bw, eobrun)
        run = 0
        for k in range(1, nz[-1] + 1):
            if v[k] == 0:
                run += 1
                continue
            while run > 15:
                _emit_symbol(bw, 0xF0)  # ZRL
                run -= 16
            s = _category(v[k])
            _emit_symbol(bw, (run << 4) | s)
            _emit_coeff(bw, v[k], s)
            run = 0
        if nz[-1] < 63:
            eobrun += 1
    _flush_eobrun(bw, eobrun)


def _encode_ac_refine(bw: _BitWriter, blocks, al: int) -> None:
    """Progressive AC refinement (Ah = al+1 -> Al = al): newly
    significant coefficients as run+size-1 symbols, correction bits for
    already-significant ones emitted span-exactly in decoder read
    order. EOB0 terminates every block (a legal degenerate EOB run), so
    no cross-block correction buffering is needed."""
    for q in blocks:
        # history: the value the decoder holds after the Ah pass
        events = []  # since last symbol: ("c", bit) | "z"
        run = 0
        for k in range(1, 64):
            val = int(q[k])
            prior = val // 2 ** (al + 1) if val >= 0 else -((-val) // 2 ** (al + 1))
            if prior != 0:
                events.append(("c", (abs(val) >> al) & 1))
            elif (abs(val) >> al) == 0:
                run += 1
                events.append("z")
            else:  # newly significant (must be ±1<<al)
                while run > 15:
                    _emit_symbol(bw, 0xF0)  # ZRL spans 16 zero-history slots
                    seen_z = 0
                    while events and seen_z < 16:
                        ev = events.pop(0)
                        if ev == "z":
                            seen_z += 1
                        else:
                            bw.write(ev[1], 1)
                    run -= 16
                _emit_symbol(bw, (run << 4) | 1)
                bw.write(1 if val > 0 else 0, 1)
                for ev in events:
                    if ev != "z":
                        bw.write(ev[1], 1)
                events = []
                run = 0
        # close the block: EOB0 + corrections for the rest of the band
        _emit_symbol(bw, 0x00)
        for ev in events:
            if ev != "z":
                bw.write(ev[1], 1)


def encode_jpeg(
    img: np.ndarray,
    subsample: bool = False,
    restart_interval: int = 0,
    progressive: bool = False,
    ycck: bool = False,
    arithmetic: bool = False,
) -> bytes:
    """img: (h, w) grayscale, (h, w, 3) RGB, or (h, w, 4) CMYK uint8.
    ``subsample=True`` writes 4:2:0 (chroma averaged 2x2, 3-comp only);
    else 4:4:4 / single-component. 4-component input emits the Adobe
    APP14 marker — transform 0 (direct CMYK) or, with ``ycck=True``,
    transform 2 (first three planes rotated through RGB→YCbCr).
    ``progressive=True`` writes SOF2 with a four-stage scan script —
    DC first at Al=1, DC refinement, per-component AC first at Al=1,
    per-component AC refinement — exercising spectral selection,
    successive approximation and EOB runs. ``arithmetic=True`` writes
    SOF9 (extended sequential) with arithmetic entropy coding (QM coder
    per T.81 Annexes D/F, sources/arithcode.py) and a DAC conditioning
    segment at the spec defaults (L=0, U=1, Kx=5); combined with
    ``progressive`` (SOF10) it raises ``ValueError``."""
    if arithmetic and progressive:
        raise ValueError("progressive arithmetic JPEG (SOF10) is not supported")
    gray = img.ndim == 2
    cmyk = img.ndim == 3 and img.shape[2] == 4
    h, w = img.shape[:2]
    if gray:
        planes = [img.astype(np.float64)]
        samplings = [(1, 1)]
    elif cmyk:
        comps = img.astype(np.float64)
        if ycck:  # rotate the first three planes through RGB→YCbCr
            c0, c1, c2 = comps[:, :, 0], comps[:, :, 1], comps[:, :, 2]
            yy = 0.299 * c0 + 0.587 * c1 + 0.114 * c2
            cb = 128.0 - 0.168736 * c0 - 0.331264 * c1 + 0.5 * c2
            cr = 128.0 + 0.5 * c0 - 0.418688 * c1 - 0.081312 * c2
            planes = [yy, cb, cr, comps[:, :, 3]]
        else:
            planes = [comps[:, :, i] for i in range(4)]
        samplings = [(1, 1)] * 4
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            pad_h, pad_w = (h + 1) & ~1, (w + 1) & ~1
            def down(p):
                p = np.pad(p, ((0, pad_h - h), (0, pad_w - w)), mode="edge")
                return (
                    p.reshape(pad_h // 2, 2, pad_w // 2, 2).mean(axis=(1, 3))
                )
            planes = [y, down(cb), down(cr)]
            samplings = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samplings = [(1, 1), (1, 1), (1, 1)]
    planes = [np.clip(np.round(p), 0, 255) for p in planes]

    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    blocks = []  # per component: (blocks_array, blocks_per_row)
    for p, (hi, vi) in zip(planes, samplings):
        bw_blocks, bh_blocks = mcus_x * hi, mcus_y * vi
        blocks.append((_plane_blocks(p, bw_blocks, bh_blocks), bw_blocks))

    out = bytearray(b"\xff\xd8")  # SOI
    if cmyk:  # APP14 Adobe marker carries the color-transform flag
        out += _seg(
            0xEE,
            b"Adobe" + bytes([0, 100]) + bytes(4) + bytes([2 if ycck else 0]),
        )
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT 0: all ones
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(planes)))
    for ci, (hi, vi) in enumerate(samplings):
        sof += bytes([ci + 1, (hi << 4) | vi, 0])
    sof_marker = 0xC9 if arithmetic else (0xC2 if progressive else 0xC0)
    out += _seg(sof_marker, bytes(sof))
    if arithmetic:
        # DAC: DC table 0 conditioning (U<<4)|L = 0x10, AC table 0 Kx=5
        out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    else:
        out += _seg(0xC4, bytes([0x00]) + _HUFF_DC_COUNTS + _HUFF_DC_SYMBOLS)  # DC 0
        out += _seg(0xC4, bytes([0x10]) + _HUFF_COUNTS + _HUFF_SYMBOLS)  # AC 0

    if arithmetic:
        from . import arithcode as ARC

        if restart_interval:
            out += _seg(0xDD, struct.pack(">H", restart_interval))
        sos = bytearray([len(planes)])
        for ci in range(len(planes)):
            sos += bytes([ci + 1, 0x00])
        sos += bytes([0, 63, 0])
        out += _seg(0xDA, bytes(sos))

        def fresh_state():
            return (
                ARC.ArithEncoder(),
                bytearray(ARC.DC_STAT_BINS),
                bytearray(ARC.AC_STAT_BINS),
                bytearray([ARC.FIXED_BIN]),
                [0] * len(planes),  # DC conditioning category per comp
                [0] * len(planes),  # DC predictor per comp
            )

        enc, dstats, astats, fixed, dctx, pred = fresh_state()
        rst = 0
        since_restart = 0
        for mcu in range(mcus_x * mcus_y):
            if restart_interval and since_restart == restart_interval:
                out += enc.finish()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                enc, dstats, astats, fixed, dctx, pred = fresh_state()
                since_restart = 0
            my, mx = divmod(mcu, mcus_x)
            for ci, (hi, vi) in enumerate(samplings):
                arr, bwb = blocks[ci]
                for by in range(vi):
                    for bx in range(hi):
                        idx = (my * vi + by) * bwb + (mx * hi + bx)
                        q = _quantize_block(arr[idx])
                        dc = int(q[0])
                        ARC.encode_dc(
                            enc, dstats, dctx, ci, dc - pred[ci], 0, 1
                        )
                        pred[ci] = dc
                        ARC.encode_ac(enc, astats, fixed, q, 5)
            since_restart += 1
        out += enc.finish()
        out += b"\xff\xd9"
        return bytes(out)

    if progressive:
        qblocks = [
            [_quantize_block(b) for b in arr] for arr, _ in blocks
        ]

        def sos_header(comp_ids, ss, se, ah, al):
            hdr = bytearray([len(comp_ids)])
            for cid in comp_ids:
                hdr += bytes([cid + 1, 0x00])
            hdr += bytes([ss, se, (ah << 4) | al])
            return _seg(0xDA, bytes(hdr))

        all_ids = list(range(len(planes)))
        # scan 1: DC first, interleaved, Al=1 (arithmetic-shift transform)
        out += sos_header(all_ids, 0, 0, 0, 1)
        bw = _BitWriter()
        pred = [0] * len(planes)
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            for ci, (hi, vi) in enumerate(samplings):
                bwb = blocks[ci][1]
                for by in range(vi):
                    for bx in range(hi):
                        dc = int(qblocks[ci][(my * vi + by) * bwb + (mx * hi + bx)][0])
                        v = dc >> 1
                        diff = v - pred[ci]
                        pred[ci] = v
                        t = _category(diff)
                        _emit_symbol(bw, t)
                        _emit_coeff(bw, diff, t)
        bw.flush()
        out += bw.out
        # scan 2: DC refinement (one raw bit per block, same order)
        out += sos_header(all_ids, 0, 0, 1, 0)
        bw = _BitWriter()
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            for ci, (hi, vi) in enumerate(samplings):
                bwb = blocks[ci][1]
                for by in range(vi):
                    for bx in range(hi):
                        dc = int(qblocks[ci][(my * vi + by) * bwb + (mx * hi + bx)][0])
                        bw.write(dc & 1, 1)
        bw.flush()
        out += bw.out
        # per component: AC first (Al=1) then AC refinement — walking
        # the component's TRUE block grid (≠ the MCU-padded grid when
        # subsampled), as non-interleaved scans must
        for ci, (hi, vi) in enumerate(samplings):
            bwb = blocks[ci][1]
            comp_w = -(-(w * hi) // hmax)
            comp_h = -(-(h * vi) // vmax)
            cbw, cbh = -(-comp_w // 8), -(-comp_h // 8)
            order = [
                qblocks[ci][by * bwb + bx]
                for by in range(cbh)
                for bx in range(cbw)
            ]
            out += sos_header([ci], 1, 63, 0, 1)
            bw = _BitWriter()
            _encode_ac_first(bw, order, 1)
            bw.flush()
            out += bw.out
            out += sos_header([ci], 1, 63, 1, 0)
            bw = _BitWriter()
            _encode_ac_refine(bw, order, 0)
            bw.flush()
            out += bw.out
        out += b"\xff\xd9"
        return bytes(out)

    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, bytes(sos))

    bw = _BitWriter()
    pred = [0] * len(planes)
    rst = 0
    since_restart = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and since_restart == restart_interval:
            bw.flush()
            out += bw.out
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            bw = _BitWriter()
            pred = [0] * len(planes)
            since_restart = 0
        my, mx = divmod(mcu, mcus_x)
        for ci, (hi, vi) in enumerate(samplings):
            arr, bw_blocks = blocks[ci]
            for by in range(vi):
                for bx in range(hi):
                    idx = (my * vi + by) * bw_blocks + (mx * hi + bx)
                    pred[ci] = _encode_block(bw, arr[idx], pred[ci])
        since_restart += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def encode_mjpeg_mp4(frames: list, frame_ms: int = 500, codec: bytes = b"jpeg") -> bytes:
    """MP4 with a real MJPEG video track: stsd fourcc ``codec`` (default
    'jpeg'), per-sample stsz, two chunks (2 samples then the rest) so
    the stsc mapping is non-trivial, stts at a constant frame duration.
    Frame payloads are standalone JPEGs laid into mdat. Used by the
    multimodal self-check gate and the decoder tests; a non-default
    ``codec`` synthesizes a track whose samples sample_frames does not
    decode (its timing-stub path)."""
    timescale = 1000

    def full(btype, payload):
        return _mp4_box(btype, b"\x00\x00\x00\x00" + payload)

    def build_moov(chunk_offsets):
        dur = frame_ms * len(frames)
        mvhd = full(b"mvhd", struct.pack(">II", 0, 0)
                    + struct.pack(">II", timescale, dur) + b"\x00" * 80)
        tkhd = _mp4_box(b"tkhd", b"\x00\x00\x00\x07" + struct.pack(">II", 0, 0)
                        + struct.pack(">I", 1) + b"\x00" * 4
                        + struct.pack(">I", dur) + b"\x00" * 52
                        + struct.pack(">II", 32 << 16, 24 << 16))
        mdhd = full(b"mdhd", struct.pack(">IIII", 0, 0, timescale, dur)
                    + b"\x00" * 4)
        entry = struct.pack(">I", 16) + codec[:4].ljust(4, b"\x00") + b"\x00" * 8
        stsd = full(b"stsd", struct.pack(">I", 1) + entry)
        stsz = full(b"stsz", struct.pack(">II", 0, len(frames))
                    + b"".join(struct.pack(">I", len(f)) for f in frames))
        if len(frames) > 2:
            stsc_rows = [(1, 2, 1), (2, len(frames) - 2, 1)]
        else:
            stsc_rows = [(1, len(frames), 1)]
        stsc = full(b"stsc", struct.pack(">I", len(stsc_rows))
                    + b"".join(struct.pack(">III", *r) for r in stsc_rows))
        stco = full(b"stco", struct.pack(">I", len(chunk_offsets))
                    + b"".join(struct.pack(">I", o) for o in chunk_offsets))
        stts = full(b"stts", struct.pack(">I", 1)
                    + struct.pack(">II", len(frames), frame_ms))
        stbl = _mp4_box(b"stbl", stsd + stsz + stsc + stco + stts)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + minf)
        trak = _mp4_box(b"trak", tkhd + mdia)
        return _mp4_box(b"moov", mvhd + trak)

    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00")
    n_chunks = 2 if len(frames) > 2 else 1
    moov_len = len(build_moov([0] * n_chunks))  # sizing probe, same layout
    mdat_body_off = len(ftyp) + moov_len + 8
    c1 = mdat_body_off
    c2 = c1 + sum(len(f) for f in frames[:2])
    offsets = [c1, c2][:n_chunks]
    moov = build_moov(offsets)
    assert len(moov) == moov_len
    return ftyp + moov + _mp4_box(b"mdat", b"".join(frames))


def encode_bmp(img: "np.ndarray", top_down: bool = False) -> bytes:
    """Uncompressed 24/32-bit BMP from an (H, W, 3|4) uint8 RGB(A)
    array — the transcode target for decoded video frames (BMP is the
    cheapest payload image_features can pixel-decode)."""
    h, w, nch = img.shape
    bpp = nch * 8
    bgr = img[:, :, [2, 1, 0]] if nch == 3 else img[:, :, [2, 1, 0, 3]]
    rows = bgr if top_down else bgr[::-1]
    row_bytes = (w * nch + 3) & ~3
    pad = row_bytes - w * nch
    pixel_data = b"".join(bytes(rows[y]) + b"\x00" * pad for y in range(h))
    dib = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, bpp,
                      0, len(pixel_data), 2835, 2835, 0, 0)
    offset = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", offset + len(pixel_data), 0, 0, offset)
    return hdr + dib + pixel_data
