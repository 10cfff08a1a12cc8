"""Exactness of the fixed-dim vector builders in functions/vector.py and
the centroid argmin in operators/ann_index.py: every value must equal a
NumPy float64 sequential left fold bit for bit, on random, negative and
denormal inputs, with and without the per-element DOUBLE cast."""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pytest

from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.functions import vector as V
from ai_tutor_based_on_rag_using_lanchain_and_vectordb_spark.operators.ann_index import (
    _nearest_cell_expr,
)

DIM = 16
F32_DENORM = float(np.float32(1e-45))  # smallest positive float32 subnormal
F64_DENORM = 5e-324  # smallest positive float64 subnormal


def _fold(a, b) -> float:
    """Sequential left fold of float64 products: ((a0·b0 + a1·b1) + a2·b2) …"""
    return float(reduce(
        lambda acc, t: acc + t,
        (np.float64(x) * np.float64(y) for x, y in zip(a, b)),
    ))


def _rows(dtype) -> list[list[float]]:
    rng = np.random.default_rng(7)
    tiny = F32_DENORM if dtype == np.float32 else F64_DENORM
    rows = [
        rng.standard_normal(DIM),
        -np.abs(rng.standard_normal(DIM)),  # all negative
        # mixed magnitudes: any reordering of the sum changes the result
        np.array([1e8, 1.0, -1e8, 3.0] * (DIM // 4)) * rng.uniform(0.5, 1.5, DIM),
        np.full(DIM, tiny) * rng.integers(-3, 4, DIM),  # denormals only
        np.concatenate([rng.standard_normal(DIM // 2), np.full(DIM // 2, tiny)]),
    ]
    return [[float(x) for x in np.asarray(r, dtype=dtype)] for r in rows]


@pytest.mark.parametrize(
    "elem_type, dtype, cast",
    [("float", np.float32, True), ("double", np.float64, True),
     ("double", np.float64, False)],
)
def test_dot_and_norm_fixed_equal_left_fold(spark, elem_type, dtype, cast):
    a_rows, b_rows = _rows(dtype), _rows(dtype)[::-1]
    df = spark.createDataFrame(
        list(zip(range(len(a_rows)), a_rows, b_rows)),
        f"id int, a array<{elem_type}>, b array<{elem_type}>",
    )
    got = df.select(
        "id",
        V.dot_fixed("a", "b", DIM, cast=cast).alias("dot"),
        V.norm_fixed("a", DIM, cast=cast).alias("norm"),
    ).orderBy("id").collect()
    for r, a, b in zip(got, a_rows, b_rows):
        assert r["dot"] == _fold(a, b)
        assert r["norm"] == float(np.sqrt(np.float64(_fold(a, a))))


@pytest.mark.parametrize(
    "elem_type, dtype, cast",
    [("float", np.float32, True), ("double", np.float64, False)],
)
def test_dot_const_equals_left_fold(spark, elem_type, dtype, cast):
    rows = _rows(dtype)
    consts = np.random.default_rng(11).standard_normal(DIM)
    consts[1], consts[2] = -F64_DENORM, F64_DENORM * 7
    df = spark.createDataFrame(
        list(enumerate(rows)), f"id int, v array<{elem_type}>"
    )
    got = df.select(
        "id", V.dot_const("v", consts, cast=cast).alias("d")
    ).orderBy("id").collect()
    for r, v in zip(got, rows):
        assert r["d"] == _fold(v, consts)


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_dot_const_rejects_non_finite(bad):
    with pytest.raises(ValueError):
        V.dot_const("v", [1.0, bad, 2.0])


def test_nearest_cell_argmin_equals_left_fold(spark):
    rng = np.random.default_rng(3)
    centroids = rng.standard_normal((4, DIM))
    centroids[2] = centroids[1]  # tie: the lower cell id must win
    centroids[3, :4] = [F64_DENORM, -F64_DENORM, 0.0, -1.0]
    cells = [5, 9, 2, 0]
    rows = _rows(np.float32) + [[0.0] * DIM, None]
    df = spark.createDataFrame(list(enumerate(rows)), "id int, v array<float>")
    cell_col, dist_col = _nearest_cell_expr("v", centroids, cells, DIM)
    got = df.select(
        "id", cell_col.alias("cell"), dist_col.alias("dist")
    ).orderBy("id").collect()

    for r, v in zip(got, rows):
        nrm = None if v is None else float(np.sqrt(np.float64(_fold(v, v))))
        if not nrm:  # null or zero-norm: no unit direction, no cell
            assert (r["cell"], r["dist"]) == (None, None)
            continue
        d, cell = min(
            (np.float64(float(c @ c) / 2.0) - np.float64(_fold(v, c)) / nrm, cell)
            for c, cell in zip(centroids, cells)
        )
        assert r["cell"] == cell
        assert r["dist"] == float(np.sqrt(max(0.0, 1.0 + 2.0 * d)))
