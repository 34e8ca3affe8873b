"""The resident ranking kernels, without Spark: the partial top-k
(`topk_order`), the lexical accumulation (`HybridEngine._group_sum`)
and the one Python twin of Spark's round(x, 6) (`round6_arr`), each
against the whole-array or per-scalar form it replaces."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest

from hadith_vector_search_spark.api import HybridEngine
from hadith_vector_search_spark.functions.vector import round6_arr, topk_order

# the half-way values test_api.py checks against Spark's round(x, 6)
BOUNDARIES = [0.9050355, 0.1234565, 0.0000005, 1.0000015, -0.9050355,
              2.7182818, 0.25, 123.4567895, 1e-7, -1e-7, 0.9999995,
              0.2500005, 0.7772435, 3.15e-05, 1.0 / 3, 0.123456749999]


def _r6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _same_bits(a, b) -> bool:
    return [float(x).hex() for x in a] == [float(x).hex() for x in b]


def _cases():
    rng = np.random.default_rng(7)
    scores = np.round(rng.uniform(-1, 1, 300), 2)  # heavy ties
    int_ids = rng.permutation(1000)[:300]
    str_ids = np.array([f"doc-{i:04d}" for i in int_ids])
    signed = np.array([0.0, -0.0, 0.5, -0.0, 0.0, 0.5, -0.5, 0.0])
    yield "ties_int", int_ids, scores
    yield "ties_str", str_ids, scores
    yield "signed_zero", np.arange(8)[::-1].copy(), signed
    yield "signed_zero_str", np.array(list("hgfedcba")), signed
    yield "empty", np.array([], dtype=np.int64), np.array([])
    yield "one", np.array([3]), np.array([0.25])


@pytest.mark.parametrize("name,ids,scores",
                         list(_cases()), ids=[c[0] for c in _cases()])
def test_topk_order_equals_full_lexsort(name, ids, scores):
    """`topk_order` is `np.lexsort((ids, -scores))[:k]` for every k: 0,
    inside a tie group, past every row, and on an empty array."""
    n = len(scores)
    want_all = np.lexsort((ids, -scores))
    ks = {0, 1, 2, n // 2, n - 1, n, n + 5, 50}
    if n:
        # a k whose cutoff falls inside a group of tied scores
        s = scores[want_all]
        ks |= {i for i in range(1, n) if s[i] == s[i - 1]}
    for k in sorted(x for x in ks if x >= 0):
        got = topk_order(ids, scores, k)
        assert np.array_equal(got, want_all[:k]), (name, k)


def test_topk_order_ties_and_duplicates_keep_input_order():
    """Rows equal in score AND id come out in input order, as from the
    stable full sort."""
    ids = np.array([5, 1, 5, 1, 2, 2, 5])
    scores = np.array([0.5, 0.5, 0.5, 0.5, 0.9, 0.9, 0.1])
    for k in range(len(ids) + 1):
        assert np.array_equal(topk_order(ids, scores, k),
                              np.lexsort((ids, -scores))[:k])


def _unique_add_at(ids, vals):
    uids, inv = np.unique(ids, return_inverse=True)
    tot = np.zeros(len(uids))
    np.add.at(tot, inv, vals)
    cnt = np.zeros(len(uids), dtype=np.int64)
    np.add.at(cnt, inv, 1)
    return uids, tot, cnt


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("n_post,dense", [(15_000, True), (40, False)])
def test_dense_accumulation_equals_unique_add_at(seed, n_post, dense):
    """`_group_sum` over positions into the sorted id vector gives the
    np.unique + np.add.at grouping bit for bit: the same ids in the same
    order, the same sums by float.hex, the same counts, on the dense
    route (15,000 postings over about 20,000 ids) and the sparse one
    (40 postings)."""
    from hadith_vector_search_spark.api import _dense_group

    rng = np.random.default_rng(seed)
    ids = np.unique(rng.integers(0, 10**6, 20_000))
    assert _dense_group(n_post, len(ids)) is dense
    pos = rng.integers(0, len(ids), n_post).astype(np.int32)
    vals = (rng.uniform(0, 7, n_post)
            * rng.choice([1e-9, 1.0, 1e6], n_post))
    hit, tot, cnt = HybridEngine._group_sum(pos, vals, len(ids))
    uids, want_tot, want_cnt = _unique_add_at(ids[pos], vals)
    assert np.array_equal(ids[hit], uids)
    assert _same_bits(tot, want_tot)
    assert cnt.tolist() == want_cnt.tolist()


def test_dense_and_sparse_routes_agree():
    """The same postings grouped over a tier just wide enough (dense
    route) and over a tier of 100,000 ids (sparse route) give the same
    hits, sums by float.hex and counts; so does the prefix leg, whose
    per-doc lengths take each route's own gather."""
    from hadith_vector_search_spark.api import _dense_group

    rng = np.random.default_rng(5)
    members = []
    for _ in range(3):
        p = np.sort(rng.choice(300, 120, replace=False)).astype(np.int32)
        members.append((p, rng.integers(1, 6, 120).astype(float),
                        (p % 17 + 10).astype(float)))
    pos = np.concatenate([m[0] for m in members])
    vals = np.concatenate([m[1] for m in members]) * 0.3
    narrow, wide = 300, 100_000
    assert _dense_group(len(pos), narrow)
    assert not _dense_group(len(pos), wide)
    a = HybridEngine._group_sum(pos, vals, narrow)
    b = HybridEngine._group_sum(pos, vals, wide)
    assert a[0].tolist() == b[0].tolist() and a[2].tolist() == b[2].tolist()
    assert _same_bits(a[1], b[1])
    la = HybridEngine._prefix_leg_local(members, narrow, 300.0, 14.5)
    lb = HybridEngine._prefix_leg_local(members, wide, 300.0, 14.5)
    assert la[0].tolist() == lb[0].tolist()
    assert _same_bits(la[1], lb[1])


def test_dense_accumulation_on_an_empty_tier():
    hit, tot, cnt = HybridEngine._group_sum(
        np.empty(0, dtype=np.int32), np.empty(0), 0)
    assert len(hit) == len(tot) == len(cnt) == 0
    hit, tot, cnt = HybridEngine._group_sum(
        np.empty(0, dtype=np.int32), np.empty(0), 5)
    assert len(hit) == len(tot) == len(cnt) == 0


def test_round6_arr_equals_the_per_scalar_rounding():
    """`round6_arr` equals HALF_UP on repr(x) per scalar on the known
    boundaries, on ±0.0, on 10^5 seeded doubles in [-2, 2], and on the
    doubles next to the half-way point of each of them."""
    rng = np.random.default_rng(13)
    xs = rng.uniform(-2.0, 2.0, 100_000)
    half = (np.floor(xs * 1e6) + 0.5) / 1e6
    neighbours = np.concatenate([half, np.nextafter(half, np.inf),
                                 np.nextafter(half, -np.inf)])
    for arr in (np.array(BOUNDARIES + [0.0, -0.0]), xs, neighbours):
        got = round6_arr(arr)
        assert _same_bits(got, [_r6(float(x)) for x in arr])
    # the 2-D form rounds the same values
    grid = xs[:600].reshape(3, 200)
    assert _same_bits(round6_arr(grid).ravel(),
                      [_r6(float(x)) for x in grid.ravel()])


def test_api_rounds_only_through_round6_arr():
    """`round6_arr` is the one Python twin of Spark's round(x, 6): the
    engine module holds no per-scalar decimal rounding of its own."""
    import hadith_vector_search_spark.api as api

    with open(os.path.splitext(api.__file__)[0] + ".py") as f:
        src = f.read()
    assert "Decimal" not in src
    assert ".quantize(" not in src
