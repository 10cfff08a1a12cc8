"""Vector math over ``array<float>`` embedding columns.

Two tiers:

- ``dot_fixed``/``norm_fixed``/``dot_const`` — for a known dimension,
  a *flat left-associated* sum of ``a[i]*b[i]`` terms. This stays inside
  WholeStageCodegen (plain arithmetic, zero per-row allocations), unlike
  the higher-order-function tier below which allocates intermediate
  arrays per evaluation (zip_with result + accumulators) and thrashes GC
  on million-pair joins. Left association keeps the summation order
  identical to the sequential fold, so scores are bit-identical to the
  generic tier and to the DuckDB oracle.
- ``dot``/``norm``/``cosine`` — generic `zip_with` + `aggregate`
  expressions for unknown dimensions (still JVM-side, no Python).

The heavy k-NN paths additionally have a numpy ``mapInPandas`` variant
in ``operators/knn.py`` for matrix-batched scoring at cluster scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

EMBEDDING_DIM = 64  # driver testdata embedding dimension


def as_double(vec: Column) -> Column:
    """Promote array<float> → array<double> so score math matches the
    float64 oracle bit-for-bit (modulo summation order)."""
    return F.transform(vec, lambda x: x.cast("double"))


def as_double_sql(vec_sql: str) -> str:
    """SQL-text form of :func:`as_double` for the SQL-string builders
    below (same transform/CAST expression, parsed in one call)."""
    return f"transform({vec_sql}, x -> CAST(x AS DOUBLE))"


# ---------------------------------------------------------------- generic (HOF)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def quote_ident(name: str) -> str:
    """Backtick-quote a top-level column name for SQL text (and for
    ``F.col``), doubling any backtick inside it. A dot is part of the
    name, not a struct-path separator: the vector operators take
    top-level column names only."""
    return "`" + name.replace("`", "``") + "`"


# ------------------------------------------------------- fixed-dim (codegen)
#
# Each builder takes its vector input as a SQL expression STRING (a
# column name quoted with quote_ident, or any SQL array<...> expr) and
# parses the whole flat expression with ONE F.expr() call. A Column-built
# tree would cost ~4·dim py4j round trips per dot product, which at
# dim=64 makes plan construction, not execution, the dominant cost of a
# vector query. element_at is 1-based and `t1 + t2 + t3` parses
# LEFT-ASSOCIATED, so the summation order is the sequential fold's and
# every score is bit-identical to it (tests/test_vector_builders.py).


def _elem_sql(vec_sql: str, i: int, cast: bool) -> str:
    e = f"element_at({vec_sql}, {i + 1})"
    return f"CAST({e} AS DOUBLE)" if cast else e


def _dlit_sql(c) -> str:
    # repr() round-trips IEEE doubles exactly; the D suffix makes the
    # SQL literal DOUBLE (a bare decimal would parse as DECIMAL)
    f = float(c)
    if not math.isfinite(f):
        raise ValueError(f"non-finite constant in dot_const: {c!r}")
    return repr(f) + "D"


def dot_fixed_sql(a_sql: str, b_sql: str, dim: int = EMBEDDING_DIM,
                  cast: bool = True) -> str:
    """SQL text of the flat left-associated dot product (see the tier
    note above) — compose into larger single-parse expressions."""
    return " + ".join(
        f"({_elem_sql(a_sql, i, cast)} * {_elem_sql(b_sql, i, cast)})"
        for i in range(dim)
    )


def dot_fixed(a_sql: str, b_sql: str, dim: int = EMBEDDING_DIM,
              cast: bool = True) -> Column:
    """Flat left-associated dot product. Pass ``cast=False`` when the
    arrays are already array<double> (pre-cast per row with
    ``as_double``) — halves the expression size, which matters both for
    Janino compile time and per-pair evaluation."""
    return F.expr(dot_fixed_sql(a_sql, b_sql, dim, cast))


def norm_fixed(a_sql: str, dim: int = EMBEDDING_DIM, cast: bool = True) -> Column:
    return F.expr(f"SQRT({dot_fixed_sql(a_sql, a_sql, dim, cast)})")


def dot_const_sql(vec_sql: str, consts, cast: bool = True) -> str:
    """SQL text of the flat constant-vector dot product."""
    return " + ".join(
        f"({_elem_sql(vec_sql, i, cast)} * {_dlit_sql(c)})"
        for i, c in enumerate(consts)
    )


def dot_const(vec_sql: str, consts, cast: bool = True) -> Column:
    """Flat dot product against a Python-side constant vector (e.g. a
    centroid): every c_i folds into the codegen as a DOUBLE literal — no
    array column, no HOF allocation. Raises ``ValueError`` on a
    non-finite constant."""
    return F.expr(dot_const_sql(vec_sql, consts, cast))
