"""Golden-fixture tests for the stdlib media header decoders: real
PNG/GIF/BMP/JPEG/WAV byte streams built in-test (no binary fixtures in
the repo), decoded both directly and through the Spark mapInPandas
stages (non-stub branch)."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import math
import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark import schemas
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import mediadecode as MD
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import multimodal as MM


def make_png(width=5, height=3, color_type=2):
    """Fully valid PNG (IHDR + IDAT + IEND, correct CRCs)."""
    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    channels = {0: 1, 2: 3, 6: 4}[color_type]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f" * (width * channels) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_gif(width=12, height=7):
    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + b"\x80\x00\x00"  # flags, bg, aspect
        + b"\x00\x00\x00\xff\xff\xff"  # 2-entry palette
        + b"\x3b"  # trailer
    )


def make_bmp(width=9, height=4, bpp=24):
    row = (width * bpp // 8 + 3) & ~3
    pixel_data = b"\x00" * (row * height)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp, 0,
                      len(pixel_data), 2835, 2835, 0, 0)
    offset = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", offset + len(pixel_data), 0, 0, offset)
    return hdr + dib + pixel_data


def make_jpeg(width=33, height=21, channels=3):
    """SOI + APP0 (JFIF) + DQT stub + SOF0 + EOI — enough structure for
    any marker-walking parser."""
    app0_body = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    app0 = b"\xff\xe0" + struct.pack(">H", 2 + len(app0_body)) + app0_body
    dqt_body = b"\x00" + bytes(64)
    dqt = b"\xff\xdb" + struct.pack(">H", 2 + len(dqt_body)) + dqt_body
    comp = b"".join(bytes([i + 1, 0x11, 0]) for i in range(channels))
    sof_body = struct.pack(">BHHB", 8, height, width, channels) + comp
    sof = b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
    return b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"


def make_wav(rate=8000, freq=440.0, duration_s=0.25, channels=1, amp=0.5):
    buf = io.BytesIO()
    n = int(rate * duration_s)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        frames = b"".join(
            struct.pack(
                "<" + "h" * channels,
                *([int(amp * 32767 * math.sin(2 * math.pi * freq * i / rate))] * channels),
            )
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue(), n


def test_png_header():
    info = MD.decode_image(make_png(5, 3, color_type=2))
    assert info == ("png", 5, 3, 3)
    assert MD.decode_image(make_png(7, 9, color_type=6)) == ("png", 7, 9, 4)
    assert MD.decode_image(make_png(2, 2, color_type=0)) == ("png", 2, 2, 1)


def test_gif_header():
    assert MD.decode_image(make_gif(12, 7)) == ("gif", 12, 7, 3)


def test_bmp_header():
    assert MD.decode_image(make_bmp(9, 4, 24)) == ("bmp", 9, 4, 3)
    assert MD.decode_image(make_bmp(6, 6, 32)) == ("bmp", 6, 6, 4)


def test_jpeg_header():
    assert MD.decode_image(make_jpeg(33, 21, 3)) == ("jpeg", 33, 21, 3)
    assert MD.decode_image(make_jpeg(640, 480, 1)) == ("jpeg", 640, 480, 1)


def test_garbage_returns_none():
    assert MD.decode_image(b"") is None
    assert MD.decode_image(b"\x89PNG fake") is None
    assert MD.decode_image(b"RIFF not an image") is None
    assert MD.decode_wav(b"\xff\xd8 not audio") is None


def test_wav_header_and_stats():
    data, n = make_wav(rate=8000, duration_s=0.25, amp=0.5)
    info = MD.decode_wav(data)
    assert info.format == "wav"
    assert info.channels == 1 and info.sample_rate == 8000
    assert info.bits_per_sample == 16
    assert info.n_samples == n
    assert info.duration_ms == n * 1000 // 8000
    # 0.5-amplitude sine: rms ≈ 0.5/√2, peak ≈ 0.5
    assert abs(info.rms - 0.5 / math.sqrt(2)) < 0.01
    assert abs(info.peak - 0.5) < 0.01


def test_wav_stereo():
    data, n = make_wav(rate=16000, duration_s=0.1, channels=2)
    info = MD.decode_wav(data)
    assert info.channels == 2 and info.sample_rate == 16000
    assert info.n_samples == n


@pytest.fixture(scope="module")
def real_assets(spark):
    rows = [
        (1, 20, "image", make_png(5, 3), {"ext": "png"}),
        (2, 20, "image", make_jpeg(33, 21), {"ext": "jpg"}),
        (3, 20, "image", make_gif(12, 7), {"ext": "gif"}),
        (4, 20, "image", make_bmp(9, 4), {"ext": "bmp"}),
        (5, 21, "audio", make_wav()[0], {"ext": "wav"}),
    ]
    return spark.createDataFrame(rows, schemas.MEDIA_ASSETS)


def test_image_features_real_decode_branch(spark, real_assets):
    out = (
        MM.image_features(real_assets, strict=True)  # strict: stub branch forbidden
        .toPandas()
        .set_index("asset_id")
        .sort_index()
    )
    assert out.loc[1, ["format", "width", "height", "channels"]].tolist() == ["png", 5, 3, 3]
    assert out.loc[2, ["format", "width", "height", "channels"]].tolist() == ["jpeg", 33, 21, 3]
    assert out.loc[3, ["format", "width", "height", "channels"]].tolist() == ["gif", 12, 7, 3]
    assert out.loc[4, ["format", "width", "height", "channels"]].tolist() == ["bmp", 9, 4, 3]


def test_audio_features_real_decode_branch(spark, real_assets):
    out = MM.audio_features(real_assets, strict=True).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["format"] == "wav" and r["sample_rate"] == 8000
    assert abs(r["rms"] - 0.5 / math.sqrt(2)) < 0.01


def test_media_decode_gate_passes(spark, sf_dir):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.pipeline import (
        media_decode_gate,
    )

    row = media_decode_gate(spark, sf_dir).first()
    assert row["passed"] is True, row.asDict()
    assert row["n_assets"] > 0 and row["n_bad"] == 0


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def make_mp4(duration_s=2.5, timescale=1000, width=320, height=240):
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version+flags
        + struct.pack(">II", 0, 0)  # ctime mtime
        + struct.pack(">II", timescale, int(duration_s * timescale))
        + b"\x00" * 80,
    )
    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track id
        + b"\x00" * 4
        + struct.pack(">I", int(duration_s * timescale))
        + b"\x00" * 8
        + b"\x00" * 8  # layer/alt/volume/reserved
        + b"\x00" * 36  # matrix
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd)
    moov = _box(b"moov", mvhd + trak)
    mdat = _box(b"mdat", b"\x00" * 64)
    return ftyp + moov + mdat


def test_mp4_metadata():
    info = MD.decode_mp4(make_mp4(2.5, 1000, 320, 240))
    assert info.format == "mp4"
    assert info.duration_ms == 2500
    assert (info.width, info.height) == (320, 240)
    assert info.n_tracks == 1
    assert MD.decode_mp4(b"\x00\x00ftyp fake video") is None
    assert MD.decode_mp4(b"RIFF not video") is None


def test_video_metadata_stage(spark):
    rows = [
        (7, 30, "video", make_mp4(1.25, 600, 640, 360), {"ext": "mp4"}),
        (8, 30, "video", b"\x00\x00ftypnot-really" * 100, {"ext": "avi"}),
    ]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = MM.video_metadata(assets).toPandas().set_index("asset_id").sort_index()
    assert out.loc[7, "format"] == "mp4"
    assert out.loc[7, "duration_ms"] == 1250
    assert (out.loc[7, ["width", "height", "n_tracks"]] == [640, 360, 1]).all()
    assert out.loc[8, "format"] == "unknown"
    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        MM.video_metadata(assets, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or "unsupported video" in str(exc.value)


def test_sample_frames_uses_real_mp4_duration(spark):
    rows = [(9, 31, "video", make_mp4(2.2, 1000, 64, 36), {"ext": "mp4"})]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    frames = MM.sample_frames(assets, every_ms=500).toPandas()
    # duration 2200 ms at 500 ms cadence -> frames at 0..2000 (5 frames)
    assert sorted(frames["frame_ts_ms"]) == [0, 500, 1000, 1500, 2000]


def test_mp4_truncated_v1_mvhd_returns_gracefully():
    """A version-1 mvhd cut off mid-duration must not raise."""
    mvhd_body = b"\x01\x00\x00\x00" + b"\x00" * 24  # v1, body ends before the u64 duration
    mvhd = _box(b"mvhd", mvhd_body)
    data = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(b"moov", mvhd)
    info = MD.decode_mp4(data)
    assert info is not None and info.duration_ms == 0  # header skipped, no crash


def test_sample_frames_caps_hostile_duration(spark):
    mvhd = _box(
        b"mvhd",
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1, 0xFFFFFFFF) + b"\x00" * 80,  # timescale=1 → huge duration
    )
    data = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(b"moov", mvhd) + _box(b"mdat", b"\x00" * 16)
    assets = spark.createDataFrame(
        [(1, 40, "video", data, {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    frames = MM.sample_frames(assets, every_ms=1000, max_frames=50).toPandas()
    assert len(frames) == 50


# --------------------------------------------------- PNG pixel decode

def _encode_png(img, color_type, filters, palette=None):
    """Encode an (H,W,C) uint8 array as a PNG using the given per-row
    filter types — exercises every filter path in decode_png_pixels."""
    import numpy as np

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    h, w, ch = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    flat = img.reshape(h, w * ch).astype(np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * ch, dtype=np.int32)
        left = np.roll(line, ch)
        left[:ch] = 0
        upleft = np.roll(prev, ch)
        upleft[:ch] = 0
        if f == 0:
            filt = line
        elif f == 1:
            filt = line - left
        elif f == 2:
            filt = line - prev
        elif f == 3:
            filt = line - (left + prev) // 2
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - upleft)
            import numpy as _np
            pred = _np.where((pa <= pb) & (pa <= pc), left,
                             _np.where(pb <= pc, prev, upleft))
            filt = line - pred
        raw += bytes([f]) + bytes((filt % 256).astype(np.uint8))
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")


def test_png_pixels_roundtrip_all_filters():
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(11, 9, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        data = _encode_png(img, 2, filters)
        dec = MD.decode_png_pixels(data)
        assert dec is not None, f"filters {filters}"
        assert dec.shape == img.shape
        assert (dec == img).all(), f"filters {filters}"


def test_png_pixels_grayscale_and_rgba():
    import numpy as np

    rng = np.random.default_rng(11)
    gray = rng.integers(0, 256, size=(6, 5, 1), dtype=np.uint8)
    dec = MD.decode_png_pixels(_encode_png(gray, 0, [0, 1, 2, 3, 4]))
    assert dec is not None and (dec == gray).all()
    rgba = rng.integers(0, 256, size=(4, 7, 4), dtype=np.uint8)
    dec = MD.decode_png_pixels(_encode_png(rgba, 6, [4, 3, 2, 1, 0]))
    assert dec is not None and (dec == rgba).all()


def test_png_pixels_palette():
    import numpy as np

    pal = bytes(range(48))  # 16 RGB entries
    idx = (np.arange(20, dtype=np.uint8) % 16).reshape(4, 5, 1)
    dec = MD.decode_png_pixels(_encode_png(idx, 3, [0], palette=pal))
    assert dec is not None and dec.shape == (4, 5, 3)
    expect = np.frombuffer(pal, dtype=np.uint8).reshape(16, 3)[idx[:, :, 0]]
    assert (dec == expect).all()


def test_png_pixels_rejects_corrupt_and_16bit():
    data = make_png(5, 3)
    # truncate the IDAT payload -> zlib error -> None, not an exception
    assert MD.decode_png_pixels(data[:40] + data[44:]) is None
    ihdr16 = bytearray(make_png(5, 3))
    ihdr16[24] = 16  # bit depth 16: out of scope
    # (CRC now wrong too, but the decoder must return None either way)
    assert MD.decode_png_pixels(bytes(ihdr16)) is None


def test_image_features_pixel_stats(spark, real_assets):
    out = (
        MM.image_features(real_assets, strict=True)
        .toPandas().set_index("asset_id").sort_index()
    )
    # PNG (uniform 0x7f): real pixel stats, exact values
    assert out.loc[1, "pixels_real"]
    assert list(out.loc[1, "pixel_mean"]) == [127.0, 127.0, 127.0]
    assert list(out.loc[1, "pixel_std"]) == [0.0, 0.0, 0.0]
    # histogram embedding: all mass in the 127//16 = 7th of 16 bins
    emb = list(out.loc[1, "embedding"])
    assert len(emb) == 16 and abs(emb[7] - 1.0) < 1e-6
    # uncompressed BMP (all-zero pixels): real stats too
    assert out.loc[4, "pixels_real"]
    assert list(out.loc[4, "pixel_mean"]) == [0.0, 0.0, 0.0]
    assert list(out.loc[4, "pixel_std"]) == [0.0, 0.0, 0.0]
    # JPEG/GIF: metadata real, pixel stats honestly absent
    for aid in (2, 3):
        assert not out.loc[aid, "pixels_real"]
        assert out.loc[aid, "pixel_mean"] is None
        assert out.loc[aid, "pixel_std"] is None


def _encode_bmp(img, top_down=False):
    """Encode an (H,W,3|4) uint8 RGB(A) array as an uncompressed BMP."""
    import numpy as np

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


def test_bmp_pixels_roundtrip():
    import numpy as np

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # w*3 pads
    for top_down in (False, True):
        dec = MD.decode_bmp_pixels(_encode_bmp(img, top_down=top_down))
        assert dec is not None and dec.shape == img.shape
        assert (dec == img).all(), f"top_down={top_down}"
    rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
    dec = MD.decode_bmp_pixels(_encode_bmp(rgba))
    assert dec is not None and (dec == rgba).all()


def test_bmp_pixels_rejects_rle_and_truncated():
    import numpy as np

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    data = bytearray(_encode_bmp(img))
    data[30:34] = struct.pack("<I", 1)  # BI_RLE8 compression
    assert MD.decode_bmp_pixels(bytes(data)) is None
    assert MD.decode_bmp_pixels(_encode_bmp(img)[:-8]) is None


# ------------------------------------- GIF encoder (decoder-fuzz seed)

def _lzw_pack(codes, width=9):
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(img):
    """Encode an (H,W,3) uint8 array as a GIF89a: exact-palette global
    color table, LZW with a clear code before every pixel (valid, keeps
    the code width fixed at 9 bits)."""
    import numpy as np

    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    assert len(palette) <= 256, "test image needs <=256 colors"
    pal = np.zeros((256, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    idx = inverse.astype(np.uint8).reshape(h, w)
    clear, eoi = 256, 257
    codes = []
    for p in idx.reshape(-1):
        codes += [clear, int(p)]
    codes.append(eoi)
    lzw = _lzw_pack(codes)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    ) + b"\x00"
    lsd = struct.pack("<HH", w, h) + bytes([0x80 | 0x07, 0, 0])  # 256-color GCT
    imgdesc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    return (b"GIF89a" + lsd + pal.tobytes() + imgdesc + b"\x08" + blocks + b"\x3b")


# ------------------------------------------------------- JPEG pixel decode


def test_jpeg_pixels_gray_roundtrip():
    """Near-lossless (all-ones quant) encode → decode recovers the exact
    pixels within DCT rounding error."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (24, 33), dtype=np.uint8)
    img = MD.decode_jpeg_pixels(encode_jpeg(g))
    assert img is not None and img.shape == (24, 33, 1)
    err = np.abs(img[:, :, 0].astype(int) - g.astype(int))
    assert err.max() <= 3 and err.mean() < 0.5


def test_jpeg_pixels_color_444_roundtrip():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(11)
    c = rng.integers(0, 256, (17, 26, 3), dtype=np.uint8)
    img = MD.decode_jpeg_pixels(encode_jpeg(c))
    assert img is not None and img.shape == (17, 26, 3)
    err = np.abs(img.astype(int) - c.astype(int))
    # YCbCr forward+inverse adds its own rounding on top of the DCT's
    assert err.max() <= 4 and err.mean() < 1.0


def test_jpeg_pixels_420_subsampled_with_restarts():
    """4:2:0 chroma subsampling + restart markers: smooth gradients
    survive 2x2 chroma averaging nearly unchanged, and DC predictors
    reset correctly at every RST boundary."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    xx, yy = np.meshgrid(np.arange(40), np.arange(28))
    smooth = np.stack(
        [(xx * 3) % 256, (yy * 2 + 30) % 256, ((xx + yy) * 2) % 256], axis=2
    ).astype(np.uint8)
    img = MD.decode_jpeg_pixels(
        encode_jpeg(smooth, subsample=True, restart_interval=2)
    )
    assert img is not None and img.shape == (28, 40, 3)
    err = np.abs(img.astype(int) - smooth.astype(int))
    assert err.max() <= 6 and err.mean() < 1.5


def test_jpeg_pixels_rejects_malformed_and_truncated():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    data = bytearray(encode_jpeg(g))
    # relabel SOF0 as SOF2: the full-band scan header (Ss=0, Se=63) is
    # illegal for a progressive frame → metadata-only fallback
    sof = bytes(data).find(b"\xff\xc0")
    prog = bytes(data[:sof]) + b"\xff\xc2" + bytes(data[sof + 2 :])
    assert MD.decode_jpeg_pixels(prog) is None
    assert MD.decode_jpeg(prog) is not None  # header still reads
    # truncation inside the entropy stream: fail-soft, never raise
    out = MD.decode_jpeg_pixels(bytes(data[: len(data) - 40]))
    assert out is None or out.shape == (16, 16, 1)


def test_jpeg_image_features_real(spark):
    """The Spark image stage marks baseline JPEGs pixels_real and
    reports true per-channel stats."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    g = np.full((16, 24), 127, dtype=np.uint8)
    rows = [(1, 0, "image", bytearray(encode_jpeg(g)), {"ext": "jpg"})]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = MM.image_features(assets, strict=True).collect()[0]
    assert out["format"] == "jpeg"
    assert (out["width"], out["height"], out["channels"]) == (24, 16, 1)
    assert out["pixels_real"]
    assert abs(out["pixel_mean"][0] - 127.0) <= 1.0
    assert out["pixel_std"][0] <= 1.0


# -------------------------------------- PNG: full-depth + Adam7 coverage


def _png_chunks(ihdr_fields, idat_raw, palette=None):
    """Assemble a PNG from raw (already filtered) scanline bytes."""
    import numpy as np  # noqa: F401

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))

    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", *ihdr_fields))
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette))
    return out + chunk(b"IDAT", zlib.compress(idat_raw)) + chunk(b"IEND", b"")


def test_png_pixels_16bit_rgb():
    """16-bit samples downscale to their high byte."""
    import numpy as np

    rng = np.random.default_rng(5)
    hi = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    raw = b"".join(
        b"\x00" + bytes(
            b for px in range(4) for c in range(3)
            for b in (int(hi[y, px, c]), int(lo[y, px, c]))
        )
        for y in range(5)
    )
    data = _png_chunks((4, 5, 16, 2, 0, 0, 0), raw)
    img = MD.decode_png_pixels(data)
    assert img is not None and img.shape == (5, 4, 3)
    assert (img == hi).all()


def test_png_pixels_1bit_gray():
    import numpy as np

    # 10px-wide checkerboard, 3 rows: bits pack MSB-first
    rows = [0b10101010, 0b01010101, 0b11110000]
    raw = b"".join(bytes([0, r, (r << 6) & 0xFF]) for r in rows)
    data = _png_chunks((10, 3, 1, 0, 0, 0, 0), raw)
    img = MD.decode_png_pixels(data)
    assert img is not None and img.shape == (3, 10, 1)
    for y, r in enumerate(rows):
        # second byte carries (r << 6): pixels 8,9 are r's low two bits
        bits = [(r >> (7 - i)) & 1 for i in range(8)] + [(r >> 1) & 1, r & 1]
        assert (img[y, :, 0] == np.array(bits) * 255).all()


def test_png_pixels_4bit_palette():
    import numpy as np

    pal = [10, 20, 30, 200, 100, 0, 0, 0, 255, 7, 7, 7]  # 4 RGB entries
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    raw = b"".join(
        bytes([0, (int(r[0]) << 4) | int(r[1]), int(r[2]) << 4]) for r in idx
    )
    data = _png_chunks((3, 2, 4, 3, 0, 0, 0), raw, palette=pal)
    img = MD.decode_png_pixels(data)
    assert img is not None and img.shape == (2, 3, 3)
    expect = np.array(pal, dtype=np.uint8).reshape(4, 3)[idx]
    assert (img == expect).all()


def test_png_pixels_adam7_interlaced():
    """Adam7: seven independently filtered sub-images (filter 0 on the
    first row of each pass, Up on the rest) reassemble to the original."""
    import numpy as np

    rng = np.random.default_rng(9)
    w, h, ch = 10, 9, 3
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    passes = [(0, 8, 0, 8), (0, 8, 4, 8), (4, 8, 0, 4), (0, 4, 2, 4),
              (2, 4, 0, 2), (0, 2, 1, 2), (1, 2, 0, 1)]
    raw = bytearray()
    for y0, dy, x0, dx in passes:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph = sub.shape[0]
        flat = sub.reshape(ph, -1).astype(np.int32)
        for y in range(ph):
            if y == 0:
                raw += b"\x00" + bytes((flat[0] % 256).astype(np.uint8).tolist())
            else:  # Up filter: stored = cur - prev
                raw += b"\x02" + bytes(
                    ((flat[y] - flat[y - 1]) % 256).astype(np.uint8).tolist()
                )
    data = _png_chunks((w, h, 8, 2, 0, 0, 1), bytes(raw))
    out = MD.decode_png_pixels(data)
    assert out is not None and out.shape == (h, w, ch)
    assert (out == img).all()


# -------------------------------------- BMP palette + WAV sample formats


def _bmp_file(w, h, bpp, compression, palette, pixel_data):
    import struct as _s

    pal = b"".join(bytes([b, g, r, 0]) for r, g, b in palette)
    pixel_off = 14 + 40 + len(pal)
    header = (b"BM" + _s.pack("<IHHI", pixel_off + len(pixel_data), 0, 0, pixel_off)
              + _s.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, compression,
                        len(pixel_data), 2835, 2835, len(palette), 0))
    return header + pal + pixel_data


def test_bmp_pixels_8bit_palette():
    import numpy as np

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    # 3x2, 8-bit: rows padded to 4 bytes, bottom-up
    rows_bottom_up = bytes([3, 2, 1, 0]) + bytes([0, 1, 2, 0])
    data = _bmp_file(3, 2, 8, 0, palette, rows_bottom_up)
    img = MD.decode_bmp_pixels(data)
    assert img is not None and img.shape == (2, 3, 3)
    expect = np.array([[palette[0], palette[1], palette[2]],
                       [palette[3], palette[2], palette[1]]], dtype=np.uint8)
    assert (img == expect).all()


def test_bmp_pixels_1bit_palette():
    import numpy as np

    palette = [(0, 0, 0), (255, 255, 255)]
    # 10x1, 1-bit: 0b1010101010 MSB-first, padded to 4 bytes
    data = _bmp_file(10, 1, 1, 0, palette, bytes([0b10101010, 0b10000000, 0, 0]))
    img = MD.decode_bmp_pixels(data)
    assert img is not None and img.shape == (1, 10, 3)
    assert (img[0, ::2] == 255).all() and (img[0, 1::2] == 0).all()


def test_wav_stats_sample_formats():
    """rms/peak agree across 8/16/24/32-bit int and 32/64-bit float
    encodings of the same sine."""
    import struct as _s

    import numpy as np

    rate, n = 8000, 800
    x = 0.5 * np.sin(2 * np.pi * 440 * np.arange(n) / rate)

    def wav_file(fmt, bits, payload):
        hdr = (b"fmt " + _s.pack("<I", 16)
               + _s.pack("<HHIIHH", fmt, 1, rate, rate * bits // 8, bits // 8, bits))
        dat = b"data" + _s.pack("<I", len(payload)) + payload
        return b"RIFF" + _s.pack("<I", 4 + len(hdr) + len(dat)) + b"WAVE" + hdr + dat

    variants = {
        8: wav_file(1, 8, bytes((np.round(x * 127) + 128).astype(np.uint8).tolist())),
        16: wav_file(1, 16, (np.round(x * 32767)).astype("<i2").tobytes()),
        24: wav_file(1, 24, b"".join(
            int(v).to_bytes(3, "little", signed=True)
            for v in np.round(x * ((1 << 23) - 1)).astype(np.int64).tolist()
        )),
        32: wav_file(1, 32, np.round(x * ((1 << 31) - 1)).astype("<i4").tobytes()),
        -32: wav_file(3, 32, x.astype("<f4").tobytes()),
        -64: wav_file(3, 64, x.astype("<f8").tobytes()),
    }
    expect_rms = float(np.sqrt(np.mean(x * x)))
    for key, data in variants.items():
        info = MD.decode_wav(data)
        assert info is not None and info.n_samples == n, key
        assert abs(info.rms - expect_rms) < 0.01, (key, info.rms, expect_rms)
        assert abs(info.peak - 0.5) < 0.01, (key, info.peak)


# ------------------------------------------- MJPEG MP4 frame extraction


def make_mjpeg_mp4(frames, frame_ms=500):
    """Delegates to the engine's MJPEG MP4 synthesizer (mediaencode) —
    the same builder the driver-visible multimodal gate uses."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
        encode_mjpeg_mp4,
    )

    return encode_mjpeg_mp4(frames, frame_ms=frame_ms)

def test_mp4_video_track_sample_tables():
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    frames = [
        encode_jpeg(np.full((24, 32), 40 * (i + 1), dtype=np.uint8))
        for i in range(4)
    ]
    data = make_mjpeg_mp4(frames, frame_ms=250)
    track = MD.mp4_video_track(data)
    assert track is not None and track.codec == "jpeg"
    assert [s.size for s in track.samples] == [len(f) for f in frames]
    assert [s.ts_ms for s in track.samples] == [0, 250, 500, 750]
    for i, s in enumerate(track.samples):
        assert data[s.offset : s.offset + s.size] == frames[i]


def test_sample_frames_real_mjpeg(spark):
    """End to end: sample_frames emits genuine JPEG payloads at the
    stored timestamps, and the frames pixel-decode to the encoded
    content."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    frames = [
        encode_jpeg(np.full((24, 32), 40 * (i + 1), dtype=np.uint8))
        for i in range(4)
    ]
    data = make_mjpeg_mp4(frames, frame_ms=500)
    assets = spark.createDataFrame(
        [(7, 40, "video", data, {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    out = (MM.sample_frames(assets, every_ms=500, strict=True)
           .toPandas().sort_values("frame_no"))
    assert list(out["frame_ts_ms"]) == [0, 500, 1000, 1500]
    for i, frame in enumerate(out["frame"]):
        img = MD.decode_jpeg_pixels(bytes(frame))
        assert img is not None and img.shape == (24, 32, 1)
        assert abs(int(img.mean()) - 40 * (i + 1)) <= 2


def test_frame_features_end_to_end(spark):
    """Video -> frames -> image features in one plan: MJPEG frames
    pixel-decode and carry real per-frame stats."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    frames = [
        encode_jpeg(np.full((16, 16), 40 * (i + 1), dtype=np.uint8))
        for i in range(3)
    ]
    data = make_mjpeg_mp4(frames, frame_ms=500)
    assets = spark.createDataFrame(
        [(9, 40, "video", data, {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    out = (MM.frame_features(assets, every_ms=500)
           .toPandas().sort_values("frame_no"))
    assert list(out["asset_id"]) == [9, 9, 9]
    assert list(out["frame_no"]) == [0, 1, 2]
    assert (out["format"] == "jpeg").all() and out["pixels_real"].all()
    for i, mean in enumerate(out["pixel_mean"]):
        assert abs(mean[0] - 40 * (i + 1)) <= 2


def test_bmp_pixels_16bit_555_and_565():
    import numpy as np

    def bmp16(pixels_u16, w, h, compression, masks=None):
        mask_bytes = b"".join(struct.pack("<I", m) for m in (masks or []))
        row_bytes = (w * 2 + 3) & ~3
        rows = b""
        for y in range(h):  # bottom-up
            row = b"".join(struct.pack("<H", int(v)) for v in pixels_u16[h - 1 - y])
            rows += row + b"\x00" * (row_bytes - len(row))
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 16, compression,
                          len(rows), 2835, 2835, 0, 0)
        off = 14 + 40 + len(mask_bytes)
        return (b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off)
                + dib + mask_bytes + rows)

    # 555: pure red / green / blue / white pixels in one row
    px = np.array([[0x7C00, 0x03E0, 0x001F, 0x7FFF]])
    img = MD.decode_bmp_pixels(bmp16(px, 4, 1, 0))
    assert img is not None and img.shape == (1, 4, 3)
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[0, 1].tolist() == [0, 255, 0]
    assert img[0, 2].tolist() == [0, 0, 255]
    assert img[0, 3].tolist() == [255, 255, 255]

    # 565 via BI_BITFIELDS masks
    px = np.array([[0xF800, 0x07E0, 0x001F, 0xFFFF]])
    img = MD.decode_bmp_pixels(bmp16(px, 4, 1, 3, masks=[0xF800, 0x07E0, 0x001F]))
    assert img is not None
    assert img[0, 0].tolist() == [255, 0, 0]
    assert img[0, 1].tolist() == [0, 255, 0]
    assert img[0, 2].tolist() == [0, 0, 255]
    assert img[0, 3].tolist() == [255, 255, 255]


# ------------------------------------------------ progressive JPEG decode


def test_jpeg_progressive_gray_roundtrip():
    """SOF2 scan script: DC@Al=1, DC refine, AC@Al=1, AC refine —
    successive approximation round-trips to the same pixels as the
    baseline path."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    rng = np.random.default_rng(21)
    g = rng.integers(0, 256, (24, 33), dtype=np.uint8)
    img = MD.decode_jpeg_pixels(encode_jpeg(g, progressive=True))
    assert img is not None and img.shape == (24, 33, 1)
    err = np.abs(img[:, :, 0].astype(int) - g.astype(int))
    assert err.max() <= 3 and err.mean() < 0.5


def test_jpeg_progressive_color_444_roundtrip():
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    rng = np.random.default_rng(23)
    c = rng.integers(0, 256, (17, 26, 3), dtype=np.uint8)
    img = MD.decode_jpeg_pixels(encode_jpeg(c, progressive=True))
    assert img is not None and img.shape == (17, 26, 3)
    err = np.abs(img.astype(int) - c.astype(int))
    assert err.max() <= 5 and err.mean() < 1.2


def test_jpeg_progressive_420_true_vs_padded_grid():
    """Subsampled progressive: the luma AC scans walk the component's
    TRUE block grid, which is narrower than the MCU-padded grid at this
    width (44 px: ceil(44/8)=6 vs 2*ceil(44/16)=6 — use 40 px where
    ceil(40/8)=5 < 2*ceil(40/16)=6), so grid-confusion bugs desync."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    xx, yy = np.meshgrid(np.arange(40), np.arange(28))
    smooth = np.stack(
        [(xx * 3) % 256, (yy * 2 + 30) % 256, ((xx + yy) * 2) % 256], axis=2
    ).astype(np.uint8)
    img = MD.decode_jpeg_pixels(encode_jpeg(smooth, subsample=True, progressive=True))
    assert img is not None and img.shape == (28, 40, 3)
    err = np.abs(img.astype(int) - smooth.astype(int))
    assert err.max() <= 6 and err.mean() < 1.5


def test_jpeg_progressive_eob_runs():
    """A mostly-flat image with isolated detail: long stretches of
    zero-AC blocks force EOBn runs with n > 1 in the first AC scan."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    g = np.full((48, 64), 100, dtype=np.uint8)
    g[20:28, 40:48] = 220  # one detailed block island
    g[40, 5] = 0  # an isolated impulse (high-frequency coefficients)
    img = MD.decode_jpeg_pixels(encode_jpeg(g, progressive=True))
    assert img is not None and img.shape == (48, 64, 1)
    err = np.abs(img[:, :, 0].astype(int) - g.astype(int))
    assert err.max() <= 3 and err.mean() < 0.2


def test_jpeg_progressive_image_features(spark):
    """The Spark image stage treats progressive JPEGs as pixels_real."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    g = np.full((16, 24), 127, dtype=np.uint8)
    rows = [(1, 0, "image", bytearray(encode_jpeg(g, progressive=True)),
             {"ext": "jpg"})]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = MM.image_features(assets, strict=True).collect()[0]
    assert out["format"] == "jpeg" and out["pixels_real"]
    assert abs(out["pixel_mean"][0] - 127.0) <= 1.0


# ------------------------------------------------ windowed audio segments


def test_decode_wav_samples_mono_average():
    import numpy as np

    data, n = make_wav(rate=8000, duration_s=0.2, channels=2, amp=0.5)
    decoded = MD.decode_wav_samples(data)
    assert decoded is not None
    info, x = decoded
    assert info.channels == 2 and len(x) == n  # averaged to mono
    assert abs(float(np.max(np.abs(x))) - 0.5) < 0.01


def test_audio_segments_windowed_stats(spark):
    """A half-loud, half-silent WAV yields per-window rms that flips."""
    import struct as _s

    import numpy as np

    rate = 8000
    loud = 0.5 * np.sin(2 * np.pi * 440 * np.arange(rate) / rate)
    x = np.concatenate([loud, np.zeros(rate)])
    payload = (np.round(x * 32767)).astype("<i2").tobytes()
    hdr = (b"fmt " + _s.pack("<I", 16)
           + _s.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16))
    dat = b"data" + _s.pack("<I", len(payload)) + payload
    wav = b"RIFF" + _s.pack("<I", 4 + len(hdr) + len(dat)) + b"WAVE" + hdr + dat

    assets = spark.createDataFrame(
        [(3, 21, "audio", wav, {"ext": "wav"})], schemas.MEDIA_ASSETS
    )
    out = (MM.audio_segments(assets, window_ms=1000, strict=True)
           .toPandas().sort_values("segment_no"))
    assert list(out["segment_no"]) == [0, 1]
    assert list(out["start_ms"]) == [0, 1000]
    assert abs(out["rms"][0] - 0.5 / np.sqrt(2)) < 0.01
    assert out["rms"][1] < 1e-6 and out["peak"][1] < 1e-6


def test_audio_segments_strict_rejects_nonpcm(spark):
    import pytest as _pytest

    assets = spark.createDataFrame(
        [(4, 21, "audio", b"\x00" * 64, {"ext": "bin"})], schemas.MEDIA_ASSETS
    )
    assert MM.audio_segments(assets).count() == 0  # lax: no rows
    with _pytest.raises(Exception):
        MM.audio_segments(assets, strict=True).count()


def test_multimodal_gate_passes(spark, sf_dir):
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.plans.pipeline import (
        multimodal_gate,
    )

    row = multimodal_gate(spark, sf_dir).first()
    assert row["passed"] is True, row.asDict()
    assert row["n_checks"] == 176 and row["n_bad"] == 0


# --------------------------------------- review-finding regression tests


def test_mp4_non_mjpeg_track_falls_back_to_stub(spark):
    """A non-MJPEG codec (avc1) with full sample tables must return an
    Mp4Track fallback — not crash sample_frames — and the stage keeps
    its timing-stub behavior."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
        encode_jpeg,
    )

    frames = [encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))] * 3
    data = make_mjpeg_mp4(frames, frame_ms=500).replace(b"jpeg", b"avc1", 1)
    track = MD.mp4_video_track(data)
    assert track is not None and track.codec == "avc1"
    assert len(track.samples) == 3
    assets = spark.createDataFrame(
        [(11, 40, "video", data, {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    out = MM.sample_frames(assets, every_ms=500).toPandas()
    assert len(out) > 0  # stub slices, no AttributeError


def test_sample_frames_bounded_under_hostile_stts(spark):
    """A crafted stts with a ~2^32 ms duration must not turn into a
    billions-iteration tick loop: the sampler iterates stored samples,
    so two samples yield at most two frames."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
        encode_jpeg,
    )

    frames = [encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))] * 2
    data = bytearray(make_mjpeg_mp4(frames, frame_ms=500))
    # stts row: count=2, delta=500 -> delta=0xFFFFFFFF
    pos = bytes(data).find(
        struct.pack(">I", 2) + struct.pack(">I", 500),
        bytes(data).find(b"stts"),
    )
    assert pos > 0
    data[pos + 4 : pos + 8] = struct.pack(">I", 0xFFFFFFFF)
    assets = spark.createDataFrame(
        [(12, 40, "video", bytes(data), {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    out = MM.sample_frames(assets, every_ms=1000, strict=True).toPandas()
    assert 1 <= len(out) <= 2  # bounded by the stored sample count


def test_png_zip_bomb_header_bounded():
    """A tiny PNG claiming 50000x50000 must reject before allocating."""
    big = bytearray(make_png(5, 3))
    big[16:24] = struct.pack(">II", 50000, 50000)
    assert MD.decode_png_pixels(bytes(big)) is None


def test_wav_samples_trailing_bare_fmt_chunk():
    """A WAV with a trailing bare 'fmt ' header (zero-size body) must not
    crash decode_wav_samples' chunk re-walk, and must not override the
    audio_fmt decode_wav validated (ADVICE r5)."""
    import numpy as np

    data, n = make_wav(rate=8000, duration_s=0.1, channels=1, amp=0.5)
    hostile = bytearray(data + b"fmt " + struct.pack("<I", 0))
    # keep RIFF size consistent with the appended chunk
    hostile[4:8] = struct.pack("<I", len(hostile) - 8)
    decoded = MD.decode_wav_samples(bytes(hostile))
    assert decoded is not None
    info, x = decoded
    assert len(x) == n
    assert abs(float(np.max(np.abs(x))) - 0.5) < 0.01

    # short-but-nonzero fmt body (2 bytes) must also be ignored
    hostile2 = bytearray(data + b"fmt " + struct.pack("<I", 2) + b"\x03\x00")
    hostile2[4:8] = struct.pack("<I", len(hostile2) - 8)
    decoded2 = MD.decode_wav_samples(bytes(hostile2))
    assert decoded2 is not None  # fmt=3 (float) would have broken PCM decode


def test_frame_features_large_asset_id(spark):
    """Packed (asset_id, frame_no) round-trips exactly for ids past
    2^53/1e6 where float division loses precision (ADVICE r5)."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    big_id = 8_900_000_000_123  # packed = 8.9e18 > 2^53, < int64 max
    frames = [encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))]
    data = make_mjpeg_mp4(frames, frame_ms=500)
    assets = spark.createDataFrame(
        [(big_id, 40, "video", data, {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    out = MM.frame_features(assets, every_ms=500).toPandas()
    assert list(out["asset_id"]) == [big_id]
    assert list(out["frame_no"]) == [0]


def test_frame_features_out_of_range_id_raises(spark):
    """asset_id beyond the documented packing range fails loudly."""
    import numpy as np
    import pytest
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    frames = [encode_jpeg(np.full((8, 8), 90, dtype=np.uint8))]
    data = make_mjpeg_mp4(frames, frame_ms=500)
    assets = spark.createDataFrame(
        [(9_300_000_000_000, 40, "video", data, {"ext": "mp4"})],
        schemas.MEDIA_ASSETS,
    )
    with pytest.raises(Exception, match="packing range"):
        MM.frame_features(assets, every_ms=500).collect()


# -------------------------------------------- undecodable frame codecs


def test_unknown_frame_codec_stubs_lax_raises_strict(spark):
    """An MP4 whose video track carries a fourcc with no decoder (avc1)
    keeps real timing with stub payload slices in lax mode and raises in
    strict mode."""
    import numpy as np
    import pytest
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
        encode_jpeg,
        encode_mjpeg_mp4,
    )

    frames = [
        encode_jpeg(np.full((16, 16), 60 * (i + 1), dtype=np.uint8))
        for i in range(3)
    ]
    data = encode_mjpeg_mp4(frames, frame_ms=500, codec=b"avc1")
    assets = spark.createDataFrame(
        [(21, 40, "video", data, {"ext": "mp4"})], schemas.MEDIA_ASSETS
    )
    stub = MM.sample_frames(assets, every_ms=500).toPandas()
    assert len(stub) > 0
    assert not any(bytes(f)[:2] == b"\xff\xd8" for f in stub["frame"] if f is not None)
    with pytest.raises(Exception, match="avc1"):
        MM.sample_frames(assets, every_ms=500, strict=True).collect()


# -------------------------------------------- 4-component (CMYK) JPEG


def test_jpeg_cmyk_direct_roundtrip():
    """Adobe transform 0: four planes coded directly; round-trip error
    is DCT rounding only."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    rng = np.random.default_rng(12)
    base = rng.integers(40, 216, (2, 2, 4))
    img = np.repeat(np.repeat(base, 12, axis=0), 14, axis=1).astype(np.uint8)
    data = encode_jpeg(img)
    info = MD.decode_jpeg(data)
    assert info is not None and info.channels == 4
    out = MD.decode_jpeg_pixels(data)
    assert out is not None and out.shape == (24, 28, 4)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_jpeg_ycck_roundtrip():
    """Adobe transform 2: YCCK un-rotates back to the original planes."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    rng = np.random.default_rng(13)
    base = rng.integers(40, 216, (2, 2, 4))
    img = np.repeat(np.repeat(base, 12, axis=0), 12, axis=1).astype(np.uint8)
    out = MD.decode_jpeg_pixels(encode_jpeg(img, ycck=True))
    assert out is not None and out.shape == (24, 24, 4)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3


def test_jpeg_cmyk_progressive():
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    img = np.full((16, 16, 4), 90, dtype=np.uint8)
    img[:, :, 3] = 30  # distinct K plane
    out = MD.decode_jpeg_pixels(encode_jpeg(img, progressive=True))
    assert out is not None and out.shape == (16, 16, 4)
    assert abs(int(out[:, :, 0].mean()) - 90) <= 2
    assert abs(int(out[:, :, 3].mean()) - 30) <= 2


def test_jpeg_cmyk_image_features(spark):
    """image_features handles 4-channel pixel stats (per-channel mean)."""
    import numpy as np
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg

    img = np.zeros((16, 16, 4), dtype=np.uint8)
    for c in range(4):
        img[:, :, c] = 50 + 40 * c
    rows = [(41, 0, "image", bytearray(encode_jpeg(img)), {"ext": "jpg"})]
    assets = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = MM.image_features(assets, strict=True).collect()[0]
    assert out["format"] == "jpeg" and out["pixels_real"]
    assert out["channels"] == 4 and len(out["pixel_mean"]) == 4
    for c in range(4):
        assert abs(out["pixel_mean"][c] - (50 + 40 * c)) <= 2


# ------------------------------------------- JPEG arithmetic coding (SOF9)


def test_jpeg_arith_gray_roundtrip():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (24, 33), dtype=np.uint8)
    img = MD.decode_jpeg_pixels(encode_jpeg(g, arithmetic=True))
    assert img is not None and img.shape == (24, 33, 1)
    err = np.abs(img[:, :, 0].astype(int) - g.astype(int))
    assert err.max() <= 3 and err.mean() < 0.5


def test_jpeg_arith_matches_huffman_exactly():
    """Entropy coding is lossless: the SOF9 stream must decode to
    byte-identical pixels as the SOF0 stream of the same image (both
    code the same quantized coefficients)."""
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(23)
    c = rng.integers(0, 256, (19, 30, 3), dtype=np.uint8)
    a = MD.decode_jpeg_pixels(encode_jpeg(c, arithmetic=True))
    hf = MD.decode_jpeg_pixels(encode_jpeg(c))
    assert a is not None and hf is not None
    assert np.array_equal(a, hf)


def test_jpeg_arith_420_with_restarts_matches_huffman():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    xx, yy = np.meshgrid(np.arange(40), np.arange(28))
    smooth = np.stack(
        [(xx * 3) % 256, (yy * 2 + 30) % 256, ((xx + yy) * 2) % 256], axis=2
    ).astype(np.uint8)
    a = MD.decode_jpeg_pixels(
        encode_jpeg(smooth, subsample=True, restart_interval=2, arithmetic=True)
    )
    hf = MD.decode_jpeg_pixels(
        encode_jpeg(smooth, subsample=True, restart_interval=2)
    )
    assert a is not None and np.array_equal(a, hf)


def test_jpeg_arith_cmyk_and_ycck():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(31)
    c = rng.integers(0, 256, (12, 20, 4), dtype=np.uint8)
    for ycck in (False, True):
        a = MD.decode_jpeg_pixels(encode_jpeg(c, ycck=ycck, arithmetic=True))
        hf = MD.decode_jpeg_pixels(encode_jpeg(c, ycck=ycck))
        assert a is not None and np.array_equal(a, hf)


def test_jpeg_arith_compresses_better_than_huffman():
    # the point of arithmetic coding: adaptive contexts beat the fixed
    # canonical Huffman layout on typical content
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    base = np.add.outer(np.arange(48) * 2, np.arange(64) * 3) % 200
    img = base.astype(np.uint8)
    assert len(encode_jpeg(img, arithmetic=True)) < len(encode_jpeg(img))


def test_jpeg_arith_truncation_fails_soft():
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    data = encode_jpeg(g, arithmetic=True)
    # header-truncated: fail-closed to None; entropy-truncated: the
    # decoder feeds zero data past the end (legal per T.81) — it must
    # not raise either way
    assert MD.decode_jpeg_pixels(data[:20]) is None
    out = MD.decode_jpeg_pixels(data[:-10])
    assert out is None or out.shape == (16, 16, 1)
    # metadata header parse still fine
    assert MD.decode_jpeg(data).width == 16


def test_jpeg_sequential_flipped_to_sof11_fails_soft():
    # a DCT scan wearing a lossless-arith frame marker is malformed
    # (Ss=0 is no valid predictor): pixels None, metadata still real
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg
    import numpy as np

    g = np.full((8, 8), 100, np.uint8)
    data = bytearray(encode_jpeg(g, arithmetic=True))
    i = data.find(b"\xff\xc9")
    data[i + 1] = 0xCB  # flip the frame marker to lossless-arith
    assert MD.decode_jpeg_pixels(bytes(data)) is None
    assert MD.decode_jpeg(bytes(data)).width == 8


def test_jpeg_arith_non_interleaved_multi_scan():
    """Sequential arithmetic with one scan PER COMPONENT (ns=1 x3):
    each scan re-inits the coder and statistics; the result must equal
    the interleaved single-scan decode of the same image."""
    import struct

    import numpy as np

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import arithcode as ARC
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
        _plane_blocks,
        _quantize_block,
        _seg,
        encode_jpeg,
    )

    rng = np.random.default_rng(41)
    img = rng.integers(0, 256, (17, 26, 3), dtype=np.uint8)
    r, g, b = (img[:, :, i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    planes = [np.clip(np.round(p), 0, 255) for p in (y, cb, cr)]
    h, w = img.shape[:2]
    bw_blocks, bh_blocks = -(-w // 8), -(-h // 8)

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, 3))
    for ci in range(3):
        sof += bytes([ci + 1, 0x11, 0])
    out += _seg(0xC9, bytes(sof))
    out += _seg(0xCC, bytes([0x00, 0x10, 0x10, 0x05]))
    for ci, p in enumerate(planes):
        out += _seg(0xDA, bytes([1, ci + 1, 0x00, 0, 63, 0]))
        enc = ARC.ArithEncoder()
        dstats = bytearray(ARC.DC_STAT_BINS)
        astats = bytearray(ARC.AC_STAT_BINS)
        fixed = bytearray([ARC.FIXED_BIN])
        dctx, pred = [0], [0]
        for blk in _plane_blocks(p, bw_blocks, bh_blocks):
            q = _quantize_block(blk)
            dc = int(q[0])
            ARC.encode_dc(enc, dstats, dctx, 0, dc - pred[0], 0, 1)
            pred[0] = dc
            ARC.encode_ac(enc, astats, fixed, q, 5)
        out += enc.finish()
    out += b"\xff\xd9"

    got = MD.decode_jpeg_pixels(bytes(out))
    want = MD.decode_jpeg_pixels(encode_jpeg(img, arithmetic=True))
    assert got is not None and want is not None
    assert np.array_equal(got, want)


# ------------------------------------------------ document gzip sniffing


def test_gzip_transparent_document_decode():
    import gzip

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.loaders import (
        _gunzip_transparent,
        sniff_mime,
    )

    path, data = _gunzip_transparent("a/doc.txt.gz", gzip.compress(b"hello spark"))
    assert path == "a/doc.txt" and data == b"hello spark"
    # corrupt gzip: fail-closed, keep original bytes
    path, data = _gunzip_transparent("x.gz", b"\x1f\x8b broken")
    assert data == b"\x1f\x8b broken"
    # non-gzip passthrough
    assert _gunzip_transparent("a.txt", b"plain") == ("a.txt", b"plain")
    assert sniff_mime(b"\x1f\x8b\x08") == "application/gzip"
