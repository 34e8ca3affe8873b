"""Publish-time index geometry derived from corpus stats (round-10
verdict item 2): `similarity.index_geometry` picks IVF n_cells (~sqrt N)
and LSH band bits (~log2 N), publish paths stamp it into the layout and
manifest, and a REOPENED index queries with the stored values."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadith_vector_search_spark.operators import similarity
from hadith_vector_search_spark.sources import vector_store
from hadith_vector_search_spark.sources.manifest import is_fresh


def test_index_geometry_rule():
    g = similarity.index_geometry
    # min clamp: tiny corpora keep the floor cell count
    assert g(0)["n_cells"] == 8
    assert g(64)["n_cells"] == 8
    # sqrt(N) class above the floor; integer isqrt, exact at squares
    assert g(100)["n_cells"] == 10
    assert g(101)["n_cells"] == 11
    assert g(10_000)["n_cells"] == 100
    assert g(1_000_000)["n_cells"] == 1000
    # max clamp bounds the codebook sidecar
    assert g(10**12)["n_cells"] == 65536
    # band bits follow the measured log2 rule (SCALE.md)
    assert g(2_000)["band_bits"] == 4
    assert g(20_000)["band_bits"] == 8
    # monotone non-decreasing in N (no geometry flapping on growth)
    last = (0, 0)
    for n in [0, 10, 100, 1000, 10_000, 100_000, 10**7, 10**10]:
        cur = (g(n)["n_cells"], g(n)["band_bits"])
        assert cur >= last
        last = cur


def _emb(spark, n: int, dim: int = 4):
    return (spark.range(n)
            .select(F.col("id").alias("vec_id"),
                    F.array(*[(F.col("id") * (i + 1) % 17).cast("double")
                              for i in range(dim)]).alias("embedding")))


def test_publish_derives_and_stamps_geometry(spark, tmp_path):
    """Publishing with n_cells=None at two corpus sizes yields DIFFERENT
    derived geometry, the layout/manifest record it, and the reopened
    index probes with the stored value."""
    sizes = {"small": 100, "big": 5000}
    got = {}
    for tag, n in sizes.items():
        emb = _emb(spark, n)
        src = str(tmp_path / f"{tag}.parquet")
        emb.write.parquet(src)
        idx = str(tmp_path / f"idx_{tag}")
        vidx, reasons = vector_store.ensure_vector_index(
            spark, spark.read.parquet(src), src, idx, n_cells=None)
        assert reasons  # first publish
        expect = similarity.index_geometry(n)["n_cells"]
        assert vidx.n_cells == expect
        assert vidx.geometry["derived"] is True
        assert vidx.geometry["n_cells"] == expect
        assert vidx.geometry["n_rows"] == n
        assert "band_bits" in vidx.geometry  # stamped for LSH sidecars
        # geometry is part of the manifest's model identity
        from hadith_vector_search_spark.sources.manifest import \
            read_manifest
        assert f"-c{expect}" in read_manifest(idx).model_name
        got[tag] = expect
        # a NEW handle (fresh session analogue) uses the stored value and
        # the probe-pruned query still answers
        reopened = vector_store.open_vector_index(spark, idx)
        assert reopened.n_cells == expect
        assert reopened.geometry == vidx.geometry
        top = reopened.ivf_topk(1, n_probe=2, k=3).collect()
        assert len(top) == 3
        sims = [r.sim for r in top]
        assert sims == sorted(sims, reverse=True)
        # derived geometry is FRESH for the same corpus...
        assert is_fresh(idx, vector_store.vector_manifest(
            src, n, 4, similarity.index_geometry(n)["n_cells"]))
    assert got["small"] != got["big"]
    # ...and a corpus-size jump across the sqrt boundary is STALE
    small_idx = str(tmp_path / "idx_small")
    assert not is_fresh(small_idx, vector_store.vector_manifest(
        str(tmp_path / "small.parquet"), 5000, 4,
        similarity.index_geometry(5000)["n_cells"]))


def test_explicit_n_cells_stamped_as_override(spark, tmp_path):
    emb = _emb(spark, 200)
    src = str(tmp_path / "o.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx_o")
    vidx, _ = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=8)
    assert vidx.n_cells == 8
    assert vidx.geometry == {"n_cells": 8, "derived": False}


def test_lsh_builder_derives_geometry_from_count(spark):
    emb = _emb(spark, 300)
    idx = similarity.build_vector_lsh_index(emb)
    g = similarity.index_geometry(300)
    assert (idx.n_bands, idx.band_bits) == (g["n_bands"], g["band_bits"])
    # explicit override still wins (the oracle-replayable path)
    idx2 = similarity.build_vector_lsh_index(emb, 6, 4)
    assert (idx2.n_bands, idx2.band_bits) == (6, 4)
    # signature band count matches the derived geometry
    bands = idx.sigs.select("band").distinct().count()
    assert bands == g["n_bands"]


def test_derived_geometry_refresh_keeps_store_consistent(spark, tmp_path):
    """Delta refresh on a derived-geometry store: the codebook (and the
    stamped geometry) never move under refresh; only touched cells
    rewrite."""
    emb = _emb(spark, 400)
    src = str(tmp_path / "r.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "idx_r")
    vidx, _ = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=None)
    before = vidx.geometry
    changed = _emb(spark, 3).withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(0.5)))
    after = vector_store.write_vector_refresh(spark, idx, changed)
    assert after.geometry == before
    assert after.n_cells == vidx.n_cells
    rows = {r.vec_id: list(r.embedding)
            for r in after.vectors.filter(F.col("vec_id") < 3).collect()}
    assert rows[1] == pytest.approx([x + 0.5 for x in
                                     [1 % 17, 2 % 17, 3 % 17, 4 % 17]])


def test_relational_assignment_and_probes_equal_literal_path(spark):
    """Above LITERAL_CODEBOOK_BOUND the store assigns cells and selects
    probes relationally (the literal expression tree is O(n_cells*dim)
    and planning dominates — SCALE.md round 10); both paths must be
    BIT-EQUAL: same round(dot,6), same ties-to-lowest-cent-id."""
    from pyspark.sql import functions as F

    emb = _emb(spark, 300, dim=4)
    cents = [(i, list(r[1])) for i, r in enumerate(
        emb.orderBy(F.asc("vec_id")).limit(70).collect())]
    assert len(cents) > vector_store.LITERAL_CODEBOOK_BOUND

    lit = sorted((r.vec_id, r.cell) for r in emb.select(
        "vec_id", similarity.cell_of(cents).alias("cell")).collect())
    rel = sorted((r.vec_id, r.cell) for r in vector_store._tag_cells(
        emb, cents, "vec_id", "embedding")
        .select("vec_id", "cell").collect())
    assert lit == rel

    # probe selection parity through a published 70-cell store
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        vector_store.publish_vector_index(emb, d, centroids=cents)
        vidx = vector_store.open_vector_index(spark, d)
        assert vidx.n_cells == 70
        qvec = vidx.query_vector(5)
        got = vidx.probes_for(qvec, 4)  # relational (70 > bound)
        from hadith_vector_search_spark.functions.vector import vector_lit
        cells = similarity.cell_structs(cents, "qv")
        row = (spark.range(1)
               .select(vector_lit(qvec).alias("qv"))
               .select(F.slice(F.reverse(F.array_sort(cells)), 1, 4)
                       .alias("top")).collect()[0])
        want = [-s["ncid"] for s in row["top"]]
        assert got == want
        # and the pruned query answers with descending sims
        top = vidx.ivf_topk(5, n_probe=4, k=3).collect()
        sims = [r.sim for r in top]
        assert len(top) == 3 and sims == sorted(sims, reverse=True)


def test_blas_assignment_equals_relational_and_literal(spark):
    """The third (blocked-BLAS) assignment tier — mapInPandas matmul, no
    row replication — must agree with both the literal and relational
    forms on the deterministic corpus: same round(dot,6), same
    ties-to-lowest-cent-id (np.argmax first-max over id-ordered
    columns)."""
    emb = _emb(spark, 300, dim=4)
    cents = [(i, list(r[1])) for i, r in enumerate(
        emb.orderBy(F.asc("vec_id")).limit(70).collect())]

    lit = sorted((r.vec_id, r.cell) for r in emb.select(
        "vec_id", similarity.cell_of(cents).alias("cell")).collect())
    blas = sorted((r.vec_id, r.cent_id) for r in
                  similarity.ivf_cell_assignments_blas(emb, cents).collect())
    rel = sorted((r.vec_id, r.cent_id) for r in
                 similarity.ivf_cell_assignments(
                     emb, vector_store._cent_df(spark, cents)).collect())
    assert lit == blas == rel

    # the store picks the BLAS tier above RELATIONAL_CODEBOOK_BOUND and
    # probe selection switches to the consistent numpy arithmetic
    import tempfile

    big = [(i, list(r[1])) for i, r in enumerate(
        _emb(spark, 1100, dim=4).orderBy(F.asc("vec_id"))
        .limit(vector_store.RELATIONAL_CODEBOOK_BOUND + 6).collect())]
    with tempfile.TemporaryDirectory() as d:
        vector_store.publish_vector_index(_emb(spark, 1200, dim=4), d,
                                          centroids=big)
        vidx = vector_store.open_vector_index(spark, d)
        assert vidx.n_cells > vector_store.RELATIONAL_CODEBOOK_BOUND
        # stored assignments equal the direct BLAS operator's
        stored = sorted((r.vec_id, r.cell)
                        for r in vidx.vectors.select("vec_id", "cell")
                        .collect())
        direct = sorted((r.vec_id, r.cent_id) for r in
                        similarity.ivf_cell_assignments_blas(
                            _emb(spark, 1200, dim=4), big).collect())
        assert stored == direct
        probes = vidx.probes_for(vidx.query_vector(7), 3)
        assert len(probes) == 3
        top = vidx.ivf_topk(7, n_probe=3, k=5).collect()
        sims = [r.sim for r in top]
        assert len(top) == 5 and sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# IVF probe governance (round-11: the n_probe twin of bands_for_recall —
# recall measured must be recall ACTED on, for the second ANN family too)
# ---------------------------------------------------------------------------


def _rand_emb(spark, n: int, dim: int = 8, seed: int = 7):
    import numpy as np

    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")


def _brute_governed(emb_rows, cents, sample_n, truth_k, target):
    """Independent python replay of the order-statistic derivation."""
    import math

    import numpy as np

    ids = [i for i, _ in emb_rows]
    X = np.array([v for _, v in emb_rows])
    cids = np.array([c for c, _ in cents])
    C = np.array([v for _, v in cents])
    cd = np.round(X @ C.T, 6)
    assign = np.array([cids[np.lexsort((cids, -row))[0]] for row in cd])
    depths = []
    for qi in sorted(range(len(ids)), key=lambda i: ids[i])[:sample_n]:
        sims = np.round(X @ X[qi], 6)
        nbrs = sorted((j for j in range(len(ids)) if j != qi),
                      key=lambda j: (-sims[j], ids[j]))[:truth_k]
        qcd = np.round(C @ X[qi], 6)
        crank = {int(cids[c]): r + 1
                 for r, c in enumerate(np.lexsort((cids, -qcd)))}
        depths += [crank[int(assign[j])] for j in nbrs]
    depths.sort()
    chosen = depths[math.ceil(target * len(depths)) - 1]
    recall = sum(1 for d in depths if d <= chosen) / len(depths)
    return chosen, round(recall, 6), len(depths)


def test_governed_probe_report_matches_bruteforce(spark):
    emb = _rand_emb(spark, 120)
    cents = [(r.cent_id, list(r.cvec)) for r in sorted(
        similarity.data_centroids(emb, 10).collect(),
        key=lambda r: r.cent_id)]
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    for target in (0.5, 0.9):
        rep = similarity.governed_probe_report(
            emb, cents, sample_n=12, truth_k=4,
            target_recall=target).collect()[0]
        chosen, recall, pairs = _brute_governed(rows, cents, 12, 4, target)
        assert rep["nprobe"] == chosen
        assert rep["measured_recall"] == pytest.approx(recall)
        assert rep["pairs"] == pairs
        assert rep["measured_recall"] >= target  # the invariant
        assert rep["meets_floor"] is True
        assert rep["n_cells"] == 10 and rep["sample_queries"] == 12
    # monotone: a stricter target never probes fewer cells
    lo = similarity.governed_probe_report(
        emb, cents, 12, 4, 0.5).collect()[0]["nprobe"]
    hi = similarity.governed_probe_report(
        emb, cents, 12, 4, 0.99).collect()[0]["nprobe"]
    assert hi >= lo


def test_governed_report_uses_published_assignments(spark, tmp_path):
    """`assigned` (the published store's partition column) must override
    the in-pass recompute — and agree with it, since the writer uses the
    same arithmetic."""
    emb = _rand_emb(spark, 80)
    idx = str(tmp_path / "gov_idx")
    cents = [(r.cent_id, list(r.cvec)) for r in sorted(
        similarity.data_centroids(emb, 8).collect(),
        key=lambda r: r.cent_id)]
    vector_store.publish_vector_index(emb, idx, centroids=cents)
    vidx = vector_store.open_vector_index(spark, idx)
    via_store = similarity.governed_probe_report(
        emb, cents, 10, 3, 0.9,
        assigned=vidx.vectors.select("vec_id", "cell")).collect()
    via_pass = similarity.governed_probe_report(
        emb, cents, 10, 3, 0.9).collect()
    assert [r.asDict() for r in via_store] == [r.asDict() for r in via_pass]


def test_derived_publish_stamps_governed_nprobe(spark, tmp_path):
    """A derived-geometry publish stamps the governed n_probe contract in
    the layout; a reopened store resolves n_probe=None to it, and the
    stamped sample recall clears the stated target."""
    emb = _rand_emb(spark, 150)
    src = str(tmp_path / "gov.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "gov_stamp_idx")
    vidx, reasons = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=None)
    assert reasons
    g = vidx.geometry
    assert g["derived"] is True
    assert 1 <= g["n_probe"] <= g["n_cells"]
    assert g["probe_measured_recall"] >= g["probe_recall_target"]
    assert g["probe_recall_target"] == similarity.DEFAULT_RECALL_TARGET
    # the brute replay agrees with the stamp
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    chosen, recall, pairs = _brute_governed(
        rows, vidx.centroids, similarity.DEFAULT_PROBE_SAMPLE,
        similarity.DEFAULT_PROBE_TRUTH_K, similarity.DEFAULT_RECALL_TARGET)
    assert g["n_probe"] == chosen
    assert g["probe_measured_recall"] == pytest.approx(recall)
    assert g["probe_pairs"] == pairs
    # reopened handle: None resolves to the stamp, explicit passes through
    reopened = vector_store.open_vector_index(spark, idx)
    assert reopened.resolve_probe(None) == chosen
    assert reopened.resolve_probe(3) == 3
    top = reopened.ivf_topk(2, n_probe=None, k=4).collect()
    assert len(top) == 4
    sims = [r.sim for r in top]
    assert sims == sorted(sims, reverse=True)
    # an EXPLICIT-geometry publish stamps no probe contract and falls
    # back to the config default
    idx2 = str(tmp_path / "gov_explicit_idx")
    vector_store.publish_vector_index(emb, idx2, n_cells=8)
    v2 = vector_store.open_vector_index(spark, idx2)
    assert v2.governed_nprobe is None
    assert v2.resolve_probe(None) == 2


def test_ivf_probe_governance_query_oracle(spark, sf_dir, duck):
    from hadith_vector_search_spark.plans import semantic
    from hadith_vector_search_spark.testing import compare_query

    diffs = compare_query(spark, duck, semantic.ivf_probe_governance,
                          semantic.ivf_probe_governance_oracle(), sf_dir)
    assert diffs == []


def _brute_rerank(emb_rows, cents, subbooks, n_probe, sample_n, truth_k,
                  target):
    import math

    import numpy as np

    ids = [i for i, _ in emb_rows]
    X = np.array([v for _, v in emb_rows])
    cids = np.array([c for c, _ in cents])
    C = np.array([v for _, v in cents])
    cd = np.round(X @ C.T, 6)
    assign = np.array([cids[np.lexsort((cids, -row))[0]] for row in cd])
    bounds = similarity.pq_bounds(X.shape[1])
    codes = similarity._pq_codes_np(X, subbooks, bounds)
    aranks, total = [], 0
    for qi in sorted(range(len(ids)), key=lambda i: ids[i])[:sample_n]:
        q = X[qi]
        sims = np.round(X @ q, 6)
        nbrs = sorted((j for j in range(len(ids)) if j != qi),
                      key=lambda j: (-sims[j], ids[j]))[:truth_k]
        qcd = np.round(C @ q, 6)
        probes = {int(cids[i]) for i in np.lexsort((cids, -qcd))[:n_probe]}
        luts = similarity.pq_adc_luts(subbooks, [float(x) for x in q])
        cand = [j for j in range(len(ids)) if int(assign[j]) in probes]
        adc = {j: round(sum(float(luts[m][codes[m][j]])
                            for m in range(len(subbooks))), 6)
               for j in cand}
        rank = {j: r + 1 for r, j in enumerate(
            sorted(cand, key=lambda j: (-adc[j], ids[j])))}
        for j in nbrs:
            total += 1
            if j in rank:
                aranks.append(rank[j])
    aranks.sort()
    chosen = aranks[math.ceil(target * len(aranks)) - 1]
    rec = sum(1 for a in aranks if a <= chosen) / len(aranks)
    e2e = sum(1 for a in aranks if a <= chosen) / total
    return chosen, round(rec, 6), round(e2e, 6), total, len(aranks)


def test_governed_rerank_report_matches_bruteforce(spark):
    emb = _rand_emb(spark, 100)
    cents = [(r.cent_id, list(r.cvec)) for r in sorted(
        similarity.data_centroids(emb, 8).collect(),
        key=lambda r: r.cent_id)]
    subbooks = similarity.pq_subbooks(emb, 4)
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    rep = similarity.governed_rerank_report(
        emb, cents, subbooks, n_probe=2, sample_n=10, truth_k=4,
        target_recall=0.9).collect()[0]
    chosen, rec, e2e, pairs, in_pairs = _brute_rerank(
        rows, cents, subbooks, 2, 10, 4, 0.9)
    assert rep["rerank"] == chosen
    assert rep["measured_rerank_recall"] == pytest.approx(rec)
    assert rep["end_to_end_recall"] == pytest.approx(e2e)
    assert (rep["pairs"], rep["in_probe_pairs"]) == (pairs, in_pairs)
    assert rep["meets_floor"] is True
    assert rep["measured_rerank_recall"] >= 0.9
    assert rep["end_to_end_recall"] <= rep["measured_rerank_recall"]


def test_derived_ivfadc_publish_stamps_governed_rerank(spark, tmp_path):
    """A derived-geometry publish WITH pq codes stamps the rerank
    contract in the PQ sidecar, measured at the store's governed
    n_probe; a reopened store resolves rerank=None to it."""
    emb = _rand_emb(spark, 140)
    src = str(tmp_path / "rr.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "rr_idx")
    vidx, _ = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=None,
        pq_cents=4)
    pq = vidx.pq
    assert pq["rerank"] >= 1
    assert pq["rerank_measured"] >= pq["rerank_target"]
    assert pq["rerank_n_probe"] == vidx.geometry["n_probe"]
    # brute twin at the stamped n_probe
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    chosen, rec, e2e, pairs, in_pairs = _brute_rerank(
        rows, vidx.centroids, vidx.pq_subbooks, pq["rerank_n_probe"],
        similarity.DEFAULT_PROBE_SAMPLE, similarity.DEFAULT_PROBE_TRUTH_K,
        similarity.DEFAULT_RECALL_TARGET)
    assert pq["rerank"] == chosen
    assert pq["rerank_measured"] == pytest.approx(rec)
    assert pq["rerank_end_to_end"] == pytest.approx(e2e)
    reopened = vector_store.open_vector_index(spark, idx)
    assert reopened.resolve_rerank(None) == chosen
    assert reopened.resolve_rerank(7) == 7
    top = reopened.ivfpq_topk(3, n_probe=None, k=4, rerank=None).collect()
    assert len(top) == 4
    # explicit-geometry IVFADC stores stamp no contract
    idx2 = str(tmp_path / "rr_explicit")
    vector_store.publish_vector_index(emb, idx2, n_cells=8, pq_cents=4)
    v2 = vector_store.open_vector_index(spark, idx2)
    assert "rerank" not in v2.pq
    assert v2.resolve_rerank(None) == 20


def test_ivfpq_rerank_governance_query_oracle(spark, sf_dir, duck):
    from hadith_vector_search_spark.plans import semantic
    from hadith_vector_search_spark.testing import compare_query

    diffs = compare_query(spark, duck, semantic.ivfpq_rerank_governance,
                          semantic.ivfpq_rerank_governance_oracle(),
                          sf_dir)
    assert diffs == []


def test_hot_cell_split_re_governs_probe_stamp(spark, tmp_path):
    """A hot-cell split republish on a DERIVED-geometry store re-derives
    the governed n_probe against the expanded codebook — never carries
    the pre-split contract forward (probe ranks shift when a cell
    divides)."""
    import numpy as np

    rng = np.random.default_rng(3)
    seeds = rng.normal(size=(9, 8)) * 4
    rows = [(i, [float(x) for x in seeds[i]]) for i in range(9)]
    rows += [(20 + i, [float(x) for x in seeds[0] + rng.normal(scale=.01,
                                                               size=8)])
             for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "hot.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "hot_idx")
    vidx, _ = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=None)
    before = vidx.geometry
    assert before["derived"] is True and "n_probe" in before
    changed = spark.createDataFrame(
        [(20, [float(x) for x in seeds[0] + 0.02])],
        "vec_id long, embedding array<double>")
    out = vector_store.write_vector_refresh(spark, idx, changed,
                                            hot_cell_bound=0.5)
    rep = out.last_split_report
    assert rep and rep["split"] is True
    after = out.geometry
    assert after["n_cells"] == before["n_cells"] + 1
    assert "n_probe" in after and "probe_measured_recall" in after
    # the stamp matches a fresh derivation against the SPLIT codebook
    fresh = similarity.governed_probe_report(
        out.vectors.drop("cell"), out.centroids).collect()[0]
    assert after["n_probe"] == fresh["nprobe"]
    assert after["probe_measured_recall"] == pytest.approx(
        fresh["measured_recall"])
    assert after["probe_pairs"] == fresh["pairs"]


def _brute_bq_rerank(emb_rows, cents, n_probe, sample_n, truth_k, target):
    """Per-dimension sign-mismatch twin of the BQ governance report —
    never touches the packed representation."""
    import math

    import numpy as np

    ids = [i for i, _ in emb_rows]
    X = np.array([v for _, v in emb_rows])
    cids = np.array([c for c, _ in cents])
    C = np.array([v for _, v in cents])
    cd = np.round(X @ C.T, 6)
    assign = np.array([cids[np.lexsort((cids, -row))[0]] for row in cd])
    S = (X > 0).astype(int)
    aranks, total = [], 0
    for qi in sorted(range(len(ids)), key=lambda i: ids[i])[:sample_n]:
        q = X[qi]
        sims = np.round(X @ q, 6)
        nbrs = sorted((j for j in range(len(ids)) if j != qi),
                      key=lambda j: (-sims[j], ids[j]))[:truth_k]
        qcd = np.round(C @ q, 6)
        probes = {int(cids[i]) for i in np.lexsort((cids, -qcd))[:n_probe]}
        cand = [j for j in range(len(ids)) if int(assign[j]) in probes]
        ham = {j: int((S[j] != S[qi]).sum()) for j in cand}
        rank = {j: r + 1 for r, j in enumerate(
            sorted(cand, key=lambda j: (ham[j], ids[j])))}
        for j in nbrs:
            total += 1
            if j in rank:
                aranks.append(rank[j])
    aranks.sort()
    chosen = aranks[math.ceil(target * len(aranks)) - 1]
    from hadith_vector_search_spark.functions.vector import round6_arr
    rec = float(round6_arr(np.array(
        [sum(1 for a in aranks if a <= chosen) / len(aranks)]))[0])
    e2e = float(round6_arr(np.array(
        [sum(1 for a in aranks if a <= chosen) / total]))[0])
    return chosen, rec, e2e, total, len(aranks)


def test_governed_bq_rerank_report_matches_bruteforce(spark):
    emb = _rand_emb(spark, 100)
    cents = [(r.cent_id, list(r.cvec)) for r in sorted(
        similarity.data_centroids(emb, 8).collect(),
        key=lambda r: r.cent_id)]
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    rep = similarity.governed_bq_rerank_report(
        emb, cents, n_probe=2, sample_n=10, truth_k=4,
        target_recall=0.9).collect()[0]
    chosen, rec, e2e, pairs, in_pairs = _brute_bq_rerank(
        rows, cents, 2, 10, 4, 0.9)
    assert rep["rerank"] == chosen
    assert rep["measured_rerank_recall"] == pytest.approx(rec)
    assert rep["end_to_end_recall"] == pytest.approx(e2e)
    assert (rep["pairs"], rep["in_probe_pairs"]) == (pairs, in_pairs)
    assert rep["meets_floor"] is True
    assert rep["end_to_end_recall"] <= rep["measured_rerank_recall"]


def test_derived_bq_publish_stamps_governed_rerank(spark, tmp_path):
    """A derived-geometry publish WITH the BQ tier stamps the Hamming
    rerank contract in the BQ sidecar, measured at the store's governed
    n_probe; a reopened store resolves bq_topk(rerank=None) to it."""
    emb = _rand_emb(spark, 140)
    src = str(tmp_path / "bqrr.parquet")
    emb.write.parquet(src)
    idx = str(tmp_path / "bqrr_idx")
    vidx, _ = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=None,
        bq1=True)
    bq = vidx.bq
    assert bq["rerank"] >= 1
    assert bq["rerank_measured"] >= bq["rerank_target"]
    assert bq["rerank_n_probe"] == vidx.geometry["n_probe"]
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    chosen, rec, e2e, pairs, in_pairs = _brute_bq_rerank(
        rows, vidx.centroids, bq["rerank_n_probe"],
        similarity.DEFAULT_PROBE_SAMPLE, similarity.DEFAULT_PROBE_TRUTH_K,
        similarity.DEFAULT_RECALL_TARGET)
    assert bq["rerank"] == chosen
    assert bq["rerank_measured"] == pytest.approx(rec)
    assert bq["rerank_end_to_end"] == pytest.approx(e2e)
    assert (bq["rerank_pairs"], bq["rerank_in_probe_pairs"]) == (pairs,
                                                                 in_pairs)
    reopened = vector_store.open_vector_index(spark, idx)
    assert reopened.resolve_bq_rerank(None) == chosen
    assert reopened.resolve_bq_rerank(7) == 7
    top = reopened.bq_topk(3, n_probe=None, k=4, rerank=None).collect()
    assert len(top) == 4
    sims = [r.sim for r in top]
    assert sims == sorted(sims, reverse=True)
    # explicit-geometry BQ stores stamp no contract -> config default
    idx2 = str(tmp_path / "bqrr_explicit")
    vector_store.publish_vector_index(emb, idx2, n_cells=8, bq1=True)
    v2 = vector_store.open_vector_index(spark, idx2)
    assert "rerank" not in v2.bq
    assert v2.resolve_bq_rerank(None) == 20


def test_bq_rerank_governance_query_oracle(spark, sf_dir, duck):
    from hadith_vector_search_spark.plans import semantic
    from hadith_vector_search_spark.testing import compare_query

    diffs = compare_query(spark, duck, semantic.bq_rerank_governance,
                          semantic.bq_rerank_governance_oracle(), sf_dir)
    assert diffs == []


def test_bq_pack_and_hamming_exprs_reject_empty():
    with pytest.raises(ValueError, match="dim >= 1"):
        similarity.bq_pack_expr("embedding", 0)
    with pytest.raises(ValueError, match="non-empty"):
        similarity.bq_hamming_expr("bq", [])
