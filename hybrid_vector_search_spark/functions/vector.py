"""Vector similarity column expressions.

The reference's similarity math runs inside Atlas ($vectorSearch with
``similarity ∈ {cosine, dotProduct, euclidean}``, reference indexes.py:28-31)
and is surfaced as a score pseudo-column (``{"$meta": "vectorSearchScore"}``,
reference backend/api.py:197). Here scores are ordinary Catalyst columns built
from the higher-order functions ``zip_with`` / ``aggregate`` — JVM-side, no
Python in the loop. Higher-order functions are not whole-stage-codegen'd:
Spark evaluates their lambdas interpreted, element by element, so a score
costs one lambda call per element of every pass it makes over a vector.

Per-row work of a cosine score against a Python-list query vector:

- the dot product: one ``zip_with`` + ``aggregate`` pass, each element widened
  to double inside the lambda (no per-row ``array<double>`` copy);
- the row's norm: one ``aggregate`` pass, or none when the caller passes a
  precomputed norm column (``a_norm``; ``SearchEngine`` builds one per corpus);
- the query's norm: none per row. It is computed once on the driver
  (``norm_value``) and inlined as a literal.

Score rescaling follows the public Atlas contract so the reference's observable
scores are reproduced: cosine/dotProduct → (1 + sim) / 2, euclidean →
1 / (1 + d). All arithmetic is double-precision (input float elements are cast
up, which is exact) so the DuckDB oracle — which computes in DOUBLE — agrees to
≥6 decimals.

Scale note: these expressions are the *exact* path, fine at any scale where a
full scan is acceptable (a per-row projection, no shuffle). For 100 TB ANN
serving, combine with operators.ivf partition pruning or one of the other
approximate layouts in operators/ (lsh_ann, pq, sq, ivfpq, nndescent).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

SIMILARITIES = ("cosine", "dotProduct", "euclidean")


def _as_double(v: Column | list[float]) -> Column:
    if isinstance(v, Column):
        return v.cast("array<double>")
    vals = [float(x) for x in v]
    if vals and all(map(math.isfinite, vals)):
        # ONE parsed expression instead of len(v)+1 py4j constructions: a
        # 64-dim query vector as element-wise F.lit costs ~40ms of driver
        # round-trips PER score expression (~0.2s/plan for cosine), which
        # dominated the ANN search queries' wall time — the JVM-side parse
        # is ~70x cheaper and float repr round-trips doubles exactly.
        return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")
    return F.array(*[F.lit(x) for x in vals]).cast("array<double>")


def _vec(v: Column | list[float]) -> Column:
    """A vector column as-is (the lambdas widen its elements), or a Python
    list as one double-array literal."""
    return v if isinstance(v, Column) else _as_double(v)


def _d(x: Column) -> Column:
    # exact for float -> double; Catalyst drops it for double elements
    return x.cast("double")


def dot(a: Column | list[float], b: Column | list[float]) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (no UDF)."""
    prods = F.zip_with(_vec(a), _vec(b), lambda x, y: _d(x) * _d(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | list[float]) -> Column:
    return F.sqrt(F.aggregate(_vec(a), F.lit(0.0), lambda acc, x: acc + _d(x) * _d(x)))


def norm_value(v) -> float:
    """``norm`` of a Python vector, on the driver, in the same double
    arithmetic as the Spark expression: a left-to-right sum of squares, then
    sqrt. The loop is explicit because ``math.fsum`` (and ``sum`` on Python
    3.12+) round differently."""
    acc = 0.0
    for x in v:
        x = float(x)
        acc += x * x
    return math.sqrt(acc)


def cosine(a: Column, b: Column | list[float], a_norm: Column | None = None) -> Column:
    """``a_norm``: a precomputed ``norm(a)`` column, which saves a pass per
    row. A list ``b`` has its norm computed once, on the driver."""
    a_n = norm(a) if a_norm is None else a_norm
    b_n = norm(b) if isinstance(b, Column) else F.lit(norm_value(b))
    return dot(a, b) / (a_n * b_n)


def euclidean_dist(a: Column, b: Column | list[float]) -> Column:
    def sq_diff(x: Column, y: Column) -> Column:
        d = _d(x) - _d(y)
        return d * d

    return F.sqrt(
        F.aggregate(F.zip_with(_vec(a), _vec(b), sq_diff), F.lit(0.0), lambda acc, x: acc + x)
    )


def similarity(
    a: Column,
    b: Column | list[float],
    metric: str = "cosine",
    a_norm: Column | None = None,
) -> Column:
    """Raw similarity (higher = closer) for the three reference metrics.

    For euclidean the raw value is the *negated distance* so that
    ``ORDER BY similarity DESC`` ranks nearest-first for every metric.
    ``a_norm`` is a precomputed ``norm(a)`` column; only cosine reads it.
    """
    if metric == "cosine":
        return cosine(a, b, a_norm)
    if metric == "dotProduct":
        return dot(a, b)
    if metric == "euclidean":
        return -euclidean_dist(a, b)
    raise ValueError(f"unknown metric {metric!r}; expected one of {SIMILARITIES}")


def atlas_score(
    a: Column,
    b: Column | list[float],
    metric: str = "cosine",
    a_norm: Column | None = None,
) -> Column:
    """Similarity rescaled to (0, 1] per the public Atlas vectorSearch contract,
    reproducing the reference's observable ``vectorSearchScore`` values."""
    if metric in ("cosine", "dotProduct"):
        return (F.lit(1.0) + similarity(a, b, metric, a_norm)) / F.lit(2.0)
    if metric == "euclidean":
        return F.lit(1.0) / (F.lit(1.0) + euclidean_dist(a, b))
    raise ValueError(f"unknown metric {metric!r}; expected one of {SIMILARITIES}")


def sign_bucket(v: Column, bits: int = 8) -> Column:
    """Axis-aligned random-hyperplane bucket id: bit i is set iff v[i] >= 0.

    The degenerate (identity-projection) member of the SimHash/RHP-LSH
    family (Charikar 2002) — a pure Catalyst expression (unrolled per bit;
    `bits` is small by construction), so semantic bucketing of an embedding
    column is a map-only projection the oracle can replay exactly. Use
    `operators.lsh_ann` for the seeded-projection variant; this exists for
    cheap, engine-portable coarse clustering.
    """
    vv = _as_double(v)
    expr = F.lit(0).cast("long")
    for i in range(bits):
        expr = expr + (
            F.when(F.element_at(vv, i + 1) >= 0, F.lit(1 << i))
            .otherwise(F.lit(0))
            .cast("long")
        )
    return expr
