"""Fail-closed fuzzing for every binary decoder: at crawl scale the
payload column is adversarial by default, and a decoder that THROWS on
byte garbage kills the whole Spark task (and with it the batch's other
rows). Contract: return None/[] for anything unparseable, never raise.

Three byte families: pure random, format-magic + random tail (defeats
the signature check and exercises the structure parsers), and truncated
valid files (every prefix of a real file)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import mediadecode as MD
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mpeg1 import (
    decode_m1v,
    video_info,
)
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mpegps import (
    demux_mpeg_ps,
    ps_video_es,
)
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.minidecode import (
    docx_pages,
    pdf_pages,
)

_MAGICS = [
    b"",
    b"\x89PNG\r\n\x1a\n",
    b"GIF89a",
    b"GIF87a",
    b"BM",
    b"\xff\xd8\xff\xe0",
    b"RIFF",
    b"RIFF\x00\x00\x00\x00WAVE",
    b"%PDF-1.4\n",
    b"PK\x03\x04",
    b"\x00\x00\x00\x18ftypisom",
    b"\x00\x00\x01\xb3",
    b"fLaC",
    b"ID3\x04\x00\x00\x00\x00\x00\x00",
    b"\xff\xfb\x90\x00",
    b"\x00\x00\x01\xba",
]

_DECODERS = [
    MD.decode_image,
    MD.decode_png_pixels,
    MD.decode_jpeg_pixels,
    MD.decode_bmp_pixels,
    MD.decode_wav,
    MD.decode_wav_samples,
    MD.decode_audio,
    MD.decode_audio_samples,
    MD.decode_image_pixels,
    MD.decode_mp4,
    MD.mp4_video_track,
    pdf_pages,
    docx_pages,
    video_info,
    decode_m1v,  # lax mode: (info|None, frames) — must never raise
    demux_mpeg_ps,
    ps_video_es,
]


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.sampled_from(_MAGICS), st.binary(min_size=0, max_size=512))
def test_decoders_never_raise_on_garbage(magic, tail):
    data = magic + tail
    for dec in _DECODERS:
        out = dec(data)  # must not raise
        assert out is None or isinstance(out, (list, tuple, dict)) or hasattr(out, "shape")


def _valid_payloads():
    # built here (not at module import) so test collection stays cheap
    from tests.test_mediadecode import (
        _encode_bmp,
        _encode_gif,
        _encode_png,
        make_mjpeg_mp4,
        make_mp4,
        make_png,
        make_wav,
    )
    from tests.test_minidecode import make_cid_pdf, make_encrypted_pdf, make_pdf, _CMAP
    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
        encode_jpeg,
    )

    import numpy as np

    img = np.arange(60, dtype=np.uint8).reshape(5, 4, 3)
    return [
        make_png(5, 3),
        _encode_png(img, 2, [0, 1, 2, 3, 4]),
        _encode_gif(img),
        _encode_bmp(img),
        encode_jpeg(np.arange(192, dtype=np.uint8).reshape(8, 8, 3),
                    subsample=True, restart_interval=1),
        encode_jpeg(np.arange(192, dtype=np.uint8).reshape(8, 8, 3),
                    progressive=True),
        encode_jpeg(np.arange(256, dtype=np.uint8).reshape(8, 8, 4),
                    ycck=True),
        encode_jpeg(np.arange(192, dtype=np.uint8).reshape(8, 8, 3),
                    arithmetic=True, restart_interval=1),
        make_wav()[0],
        make_mp4(),
        make_pdf([b"BT (hello) Tj ET"]),
        make_mjpeg_mp4([encode_jpeg(np.full((8, 8), 99, dtype=np.uint8))] * 3),
        make_cid_pdf(_CMAP, b"BT /F1 12 Tf <0003> Tj ET"),
        make_encrypted_pdf(b"x"),
        _m1v(),
        _flac(),
        __import__("ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mpegps",
                   fromlist=["encode_mpeg_ps"]).encode_mpeg_ps(_m1v(), pes_size=120),
    ]


def _flac():
    import numpy as np

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.flac import encode_flac

    t = np.arange(700)
    s = np.stack([(900 * np.sin(t / 9)).astype(np.int64),
                  (800 * np.sin(t / 11)).astype(np.int64)], axis=1)
    return encode_flac(s, block_size=256, lpc_order=6)


def _m1v():
    import numpy as np

    from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mpeg1 import encode_m1v

    base = (np.arange(3 * 16 * 32, dtype=np.uint8).reshape(16, 32, 3) * 5) % 251
    data, _ = encode_m1v([base, np.roll(base, 1, 1)], mvs=[None, (0, -2)])
    return data


def test_decoders_never_raise_on_truncation():
    payloads = _valid_payloads()
    for data in payloads:
        step = max(1, len(data) // 97)  # ~100 prefixes incl. awkward offsets
        for cut in range(0, len(data), step):
            prefix = data[:cut]
            for dec in _DECODERS:
                dec(prefix)  # must not raise; value is irrelevant


def test_decoders_never_raise_on_bitflips():
    import numpy as np

    rng = np.random.default_rng(13)
    for data in _valid_payloads():
        arr = np.frombuffer(data, dtype=np.uint8).copy()
        for _ in range(25):
            mut = arr.copy()
            for pos in rng.integers(0, len(mut), size=3):
                mut[pos] ^= 1 << rng.integers(0, 8)
            blob = bytes(mut)
            for dec in _DECODERS:
                dec(blob)  # must not raise
