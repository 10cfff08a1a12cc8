"""Fallback contract for the image and audio variants the pixel and
sample decoders do not handle: each keeps its metadata and falls back
to the path the stages already take for an undecodable payload.

The payloads below are small valid streams of each such variant — JPEG
lossless (SOF3), lossless arithmetic (SOF11), progressive arithmetic
(SOF10) and a hierarchical pyramid (DHP + SOF0 base + EXP + SOF5
correction), a GIF89a, an RLE8 BMP and three MPEG-1 Layer III frames —
committed as hex because no encoder for them remains in the package.
Pure Python; no Spark."""

from __future__ import annotations

import numpy as np
import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import mediadecode as MD
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources.mediaencode import (
    _HUFF_COUNTS,
    _seg,
    encode_jpeg,
)


# 12x8 grayscale ramp, predictor 4
SOF3_JPEG = bytes.fromhex(
    "ffd8ffc400240000000000110000000000000000000000000102030405060708"
    "090a0b0c0d0e0f10ffc3000b080008000c01011100ffda000801010004000043"
    "f8a142850a142850a1428b8000000000000005c000000000000002e000000000"
    "0000017000000000000000b8000000000000005c000000000000002e00000000"
    "0000007fffd9"
)

# the same ramp, QM-coded differences
SOF11_JPEG = bytes.fromhex(
    "ffd8ffcc00040010ffcb000b080008000c01011100ffda0008010100040000ff"
    "00c074dc755382e6510a890ec182bc80ffd9"
)

# the same ramp, four-scan progressive arithmetic script
SOF10_JPEG = bytes.fromhex(
    "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "01010101010101ffca000b080008000c01011100ffcc000600101005ffda0008"
    "010100000001ff00db5a93ffda000801010000001080ffda0008010100013f01"
    "1623422e5ad7f10a4402b30a134398d2d3f0f86a9980ffda0008010100013f10"
    "1ebbb95c28761230ffd9"
)

# 24x16 grayscale, two-level pyramid; DHP carries the full dims
HIERARCHICAL_JPEG = bytes.fromhex(
    "ffd8ffde000b080010001801011100ffdb004300010101010101010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "0101010101010101010101010101010101010101ffc400230000000000000000"
    "100000000000000000000102030405060708090a0b0c0d0e0fffc40113100000"
    "0000000000808000000000000000000102030405060708090a0b0c0d0e0f1011"
    "12131415161718191a1b1c1d1e1f202122232425262728292a2b2c2d2e2f3031"
    "32333435363738393a3b3c3d3e3f404142434445464748494a4b4c4d4e4f5051"
    "52535455565758595a5b5c5d5e5f606162636465666768696a6b6c6d6e6f7071"
    "72737475767778797a7b7c7d7e7f808182838485868788898a8b8c8d8e8f9091"
    "92939495969798999a9b9c9d9e9fa0a1a2a3a4a5a6a7a8a9aaabacadaeafb0b1"
    "b2b3b4b5b6b7b8b9babbbcbdbebfc0c1c2c3c4c5c6c7c8c9cacbcccdcecfd0d1"
    "d2d3d4d5d6d7d8d9dadbdcdddedfe0e1e2e3e4e5e6e7e8e9eaebecedeeeff0f1"
    "f2f3f4f5f6f7f8f9fafbfcfdfeffffc0000b080008000c01011100ffda000801"
    "0100003f000a6ac15a0c2041a9124ac078082476c09d53e0008a06011821604d"
    "8124e4c22022c403baabd200ffdf000311ffc5000b080010001801011100ffda"
    "0008010100003f00062c068380e8700000068380e87000060231c0741816000f"
    "2c060df03504327500e2d068ed41e131c67b60009008a0f101a404704a046048"
    "03a0e841c382581a0300900680f01c04503c0ed81e18080d02481b0340700605"
    "81608e074060483dc1280406c0f0120480c0d816030248a010120500c4443000"
    "300206ec1b2119b3e0c598d5ce83b251816cc4807fffd9"
)

# 4x3, 4-color global table, one LZW frame
GIF = bytes.fromhex(
    "47494638396104000300810000000000505050a0a0a0f0f0f02c000000000400"
    "030000020a04437104437104437105003b"
)

# 6x2 paletted, BI_RLE8
RLE8_BMP = bytes.fromhex(
    "424d500000000000000042000000280000000600000002000000010008000100"
    "00000e000000130b0000130b000003000000000000000a0a0a00141414001e1e"
    "1e000301000302000100000006020001"
)

# three 32 kbps 48 kHz stereo frames
MP3 = bytes.fromhex(
    "fffb140000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "fffb140000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "fffb140000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
    "0000000000000000000000000000000000000000000000000000000000000000"
)


@pytest.mark.parametrize(
    "data,width,height",
    [
        (SOF3_JPEG, 12, 8),
        (SOF11_JPEG, 12, 8),
        (SOF10_JPEG, 12, 8),
        (HIERARCHICAL_JPEG, 24, 16),
    ],
    ids=["sof3", "sof11", "sof10", "hierarchical"],
)
def test_undecoded_jpeg_processes_keep_metadata(data, width, height):
    assert MD.decode_jpeg_pixels(data) is None
    assert MD.decode_jpeg(data) == ("jpeg", width, height, 1)
    assert MD.decode_image_pixels(data) == ("jpeg", None)


def test_gif_keeps_metadata_without_pixels():
    assert MD.decode_image(GIF) == ("gif", 4, 3, 3)
    assert MD.decode_image_pixels(GIF) == ("gif", None)


def test_rle_bmp_keeps_metadata_without_pixels():
    assert MD.decode_image(RLE8_BMP) == ("bmp", 6, 2, 1)
    assert MD.decode_bmp_pixels(RLE8_BMP) is None


def test_mp3_is_unrecognized_audio():
    assert MD.decode_audio(MP3) is None
    assert MD.decode_audio_samples(MP3) is None


def test_progressive_arithmetic_encode_raises():
    with pytest.raises(ValueError, match="SOF10"):
        encode_jpeg(np.zeros((8, 8), np.uint8), arithmetic=True, progressive=True)


def test_table_defined_after_a_scan_does_not_apply_to_it():
    """Huffman tables are read per scan: a DHT segment after the last
    scan redefining AC table 0 with the symbols reversed must leave the
    decoded image unchanged."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    data = encode_jpeg(img, progressive=True)
    redefined = _seg(0xC4, bytes([0x10]) + _HUFF_COUNTS + bytes(range(255, -1, -1)))
    want = MD.decode_jpeg_pixels(data)
    got = MD.decode_jpeg_pixels(data[:-2] + redefined + data[-2:])
    assert want is not None and got is not None
    assert np.array_equal(got, want)
