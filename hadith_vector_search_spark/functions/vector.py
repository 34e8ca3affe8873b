"""Vector scalar functions (SURVEY §2.8) as JVM-side column expressions.

The reference's numpy matmul (`np.dot(matrix, qvec)` at
/root/reference/quran_mcp/search.py:158) becomes a higher-order-function
fold over `array<float>` columns — JVM-side, no Python round-trip.
Honest cost note: lambda-bearing HOF trees are INTERPRETED (they sit
outside whole-stage codegen and skip runtime subexpression elimination —
see operators/dedup.py shingle notes), which is fine for per-query scoring
of broadcast-sized sides; corpus-wide all-pairs work routes through the
Arrow-batched numpy matmuls in operators/similarity.py instead. Elements
are cast to double before arithmetic so results are stable and
DuckDB-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right fold of elementwise products (exact
    evaluation order, unlike a shuffled sum — deterministic)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; safe on zero vectors (returns NULL)."""
    d, na, nb = dot(a, b), norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(None))


def l2_normalize(a: Column | str) -> Column:
    n = norm(a)
    return F.when(n > 0, F.transform(_c(a), lambda x: x.cast("double") / n))


def vector_lit(vec: list[float]) -> Column:
    """A literal query vector (SURVEY V2's single-query embed becomes a
    constant-folded array literal)."""
    return F.array(*[F.lit(float(x)) for x in vec])


def topk_order(ids, scores, k: int):
    """Indices of the top `k` rows ranked (score desc, id asc): exactly
    `np.lexsort((ids, -scores))[:k]`, without sorting every row. One
    partition finds the k-th score, every row scoring at least that
    (each tie of the k-th score included) is a candidate, and only the
    candidates are lexsorted. Both sorts are stable and the candidates
    keep their input order, so rows equal in score AND id keep theirs.
    A negative `k`, a `k` past the rows and a NaN k-th score take the
    full sort."""
    import numpy as np

    if k == 0:
        return np.empty(0, dtype=np.intp)
    neg = -np.asarray(scores, dtype=float)
    if k < 0 or k >= len(neg):
        return np.lexsort((ids, neg))[:k]
    kth = np.partition(neg, k - 1)[k - 1]
    if np.isnan(kth):  # lexsort orders NaN last; `<=` would drop it
        return np.lexsort((ids, neg))[:k]
    cand = np.flatnonzero(neg <= kth)
    return cand[np.lexsort((ids[cand], neg[cand]))][:k]


def round6_arr(arr):
    """Vectorized Spark-equivalent round(x, 6): np.round for the bulk,
    with the half-way class corrected to HALF_UP on the SHORTEST decimal
    repr (BigDecimal.valueOf semantics). np.round's binary ties-to-even
    diverges from Spark only when x*1e6 sits (within float error) on a
    half-integer, so candidates are detected vectorized and only those
    few pay the Decimal path — O(n) numpy + O(half-way hits) Python,
    never per-scalar over the whole array. It is the one Python twin of
    Spark's round(x, 6): the serving tiers (api._round6_arr, the
    scoring tail's seven columns included) and the blocked-BLAS IVF
    assignment (operators.similarity.ivf_cell_assignments_blas) share
    it."""
    import numpy as np

    arr = np.asarray(arr, dtype=float)
    out = np.round(arr, 6)
    scaled = np.abs(arr) * 1e6
    frac = scaled - np.floor(scaled)
    cand = np.abs(frac - 0.5) < 1e-4
    if cand.any():
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        for idx in zip(*np.nonzero(cand)):  # dimension-agnostic (the
            # batch tier rounds a 2-D docs x queries sim matrix)
            out[idx] = float(Decimal(repr(float(arr[idx])))
                             .quantize(q6, rounding=ROUND_HALF_UP))
    return out
