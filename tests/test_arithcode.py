"""QM arithmetic coder (T.81 Annex D) + the Annex F DC/AC models:
round-trip at every layer — raw binary decisions under adapting
contexts, then DC diffs, then whole zigzag blocks — before the full
SOF9 JPEG integration in test_mediadecode.py."""

from __future__ import annotations

import random

import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.sources import arithcode as AC


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_raw_decisions_roundtrip(seed):
    rng = random.Random(seed)
    n_ctx = 8
    # biased per-context streams so the estimator walks the state table
    biases = [rng.random() for _ in range(n_ctx)]
    seq = []
    for _ in range(5000):
        c = rng.randrange(n_ctx)
        seq.append((c, 1 if rng.random() < biases[c] else 0))

    enc = AC.ArithEncoder()
    stats = bytearray(n_ctx)
    for c, v in seq:
        enc.encode(stats, c, v)
    payload = enc.finish()
    # stuffing invariant: 0xFF inside the segment is always followed
    # by 0x00 (a marker would terminate it)
    for i, b in enumerate(payload[:-1]):
        if b == 0xFF:
            assert payload[i + 1] == 0x00

    dec = AC.ArithDecoder(payload, 0)
    dstats = bytearray(n_ctx)
    got = [(c, dec.decode(dstats, c)) for c, _ in seq]
    assert got == seq


def test_decoding_past_segment_end_is_tolerated():
    # T.81 convention: after the terminating marker the decoder feeds
    # zero data; decoding the exact number of coded decisions succeeds
    # even when the flush dropped trailing zero bytes
    enc = AC.ArithEncoder()
    stats = bytearray(1)
    vals = [0, 0, 0, 0, 0, 0, 0, 0]  # all-MPS: tiny flushed payload
    for v in vals:
        enc.encode(stats, 0, v)
    payload = enc.finish() + b"\xff\xd9"  # marker right after
    dec = AC.ArithDecoder(payload, 0)
    dstats = bytearray(1)
    assert [dec.decode(dstats, 0) for _ in vals] == vals


@pytest.mark.parametrize("seed", [10, 11])
def test_dc_model_roundtrip(seed):
    rng = random.Random(seed)
    diffs = [0, 1, -1, 2, -2, 255, -255, 1023, 0, 0, 7]
    diffs += [rng.randint(-2000, 2000) for _ in range(500)]

    enc = AC.ArithEncoder()
    stats = bytearray(AC.DC_STAT_BINS)
    ctx = [0]
    for d in diffs:
        AC.encode_dc(enc, stats, ctx, 0, d, 0, 1)
    payload = enc.finish()

    dec = AC.ArithDecoder(payload, 0)
    dstats = bytearray(AC.DC_STAT_BINS)
    dctx = [0]
    got = [AC.decode_dc(dec, dstats, dctx, 0, 0, 1) for _ in diffs]
    assert got == diffs
    assert dctx == ctx  # conditioning state tracked identically


@pytest.mark.parametrize("seed", [20, 21])
def test_ac_model_roundtrip(seed):
    rng = random.Random(seed)
    blocks = []
    for _ in range(120):
        blk = [0] * 64
        for _ in range(rng.randrange(20)):
            blk[rng.randrange(1, 64)] = rng.randint(-300, 300)
        blocks.append(blk)
    blocks.append([0] * 64)  # all-zero block (immediate EOB)
    full = [0] + [rng.randint(-5, 5) or 1 for _ in range(63)]
    blocks.append(full)  # ke = 63: no trailing EOB decision

    enc = AC.ArithEncoder()
    stats = bytearray(AC.AC_STAT_BINS)
    fixed = bytearray([AC.FIXED_BIN])
    for blk in blocks:
        AC.encode_ac(enc, stats, fixed, blk, 5)
    payload = enc.finish()

    dec = AC.ArithDecoder(payload, 0)
    dstats = bytearray(AC.AC_STAT_BINS)
    dfixed = bytearray([AC.FIXED_BIN])
    for blk in blocks:
        out = [0] * 64
        AC.decode_ac(dec, dstats, dfixed, out, 5)
        assert out[1:] == blk[1:]
