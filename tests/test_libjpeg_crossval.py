"""External cross-validation of the in-repo JPEG codecs against the
SYSTEM libjpeg (binary-only, via tools/libjpeg_harness.py subprocess
ctypes driver) — closing the r7 verdict's residual risk: a QM
state-table transcription error that is self-consistent between our
encoder and decoder passes every in-repo round-trip, but cannot pass a
decode by an independent implementation.

Plus a golden byte pin: the exact SHA-256 of a deterministic
arithmetic (SOF9) stream. Any perturbation of the QE state table
(sources/arithcode.py QE_TABLE), the conditioning models, or the
coder's byte-out/flush logic changes this stream and fails the pin
even on systems without a usable libjpeg."""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from libjpeg_harness import libjpeg_decode, probe_struct_size  # noqa: E402

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import mediadecode as MD  # noqa: E402
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import encode_jpeg  # noqa: E402


def _gray(seed=42):
    rng = np.random.default_rng(seed)
    return (
        (rng.integers(0, 60, (24, 31)).astype(np.int32)
         + np.arange(31)[None, :] * 4) % 256
    ).astype(np.uint8)


def _color(seed=5):
    rng = np.random.default_rng(seed)
    return (
        (rng.integers(0, 60, (16, 16, 3)).astype(np.int32)
         + np.arange(16)[None, :, None] * 6) % 256
    ).astype(np.uint8)


_HAVE_LIBJPEG = probe_struct_size() is not None

needs_libjpeg = pytest.mark.skipif(
    not _HAVE_LIBJPEG, reason="system libjpeg not loadable"
)


@needs_libjpeg
def test_harness_control_huffman_baseline():
    # control: if THIS fails, the harness (not the arithmetic coder)
    # is broken — our Huffman streams are independently decodable
    g = _gray()
    data = encode_jpeg(g)
    lj = libjpeg_decode(data, 31, 24, 1)
    assert lj is not None, "libjpeg rejected the Huffman control stream"
    ours = MD.decode_jpeg_pixels(data)
    assert np.abs(lj.astype(int) - ours.astype(int)).max() <= 1


@needs_libjpeg
@pytest.mark.parametrize(
    "kwargs",
    [
        {"arithmetic": True},
        {"arithmetic": True, "restart_interval": 2},
    ],
    ids=["sof9", "sof9-restarts"],
)
def test_arithmetic_gray_decodes_via_system_libjpeg(kwargs):
    """The QM coder + Annex F models validated externally: pixel
    differences vs libjpeg bounded by IDCT rounding (±1); an entropy
    desync would produce garbage, not off-by-one."""
    g = _gray()
    data = encode_jpeg(g, **kwargs)
    lj = libjpeg_decode(data, 31, 24, 1)
    assert lj is not None, "libjpeg rejected the arithmetic stream"
    ours = MD.decode_jpeg_pixels(data)
    assert np.abs(lj.astype(int) - ours.astype(int)).max() <= 1


@needs_libjpeg
def test_arithmetic_color_decodes_via_system_libjpeg():
    c = _color()
    data = encode_jpeg(c, arithmetic=True)
    lj = libjpeg_decode(data, 16, 16, 3)
    assert lj is not None
    ours = MD.decode_jpeg_pixels(data)
    # 4:4:4: only IDCT + YCbCr->RGB rounding differs (measured max 2)
    assert np.abs(lj.astype(int) - ours.astype(int)).max() <= 3


# Golden pin — independent of libjpeg availability. Regenerate ONLY
# after deliberately changing the coder, with a fresh external
# cross-validation run recorded in the commit message.
_GOLDEN = {
    "sof9": "de37c4ebad7088b42c18bf4010213ae976e3b75572ef41bfa9dc63d1e587b98d",
}


def test_arithmetic_streams_byte_exact_golden():
    g = _gray()
    streams = {"sof9": encode_jpeg(g, arithmetic=True)}
    got = {k: hashlib.sha256(v).hexdigest() for k, v in streams.items()}
    assert got == _GOLDEN
