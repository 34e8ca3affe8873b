"""Vector function + similarity operator semantics on literal DataFrames."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hadith_vector_search_spark.functions import vector as V
from hadith_vector_search_spark.operators import similarity
from hadith_vector_search_spark.plans.pins import release_sf_pins


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0], 0),
        (2, [0.6, 0.8, 0.0], 1),
        (3, [-1.0, 0.0, 0.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
                               "a array<double>, b array<double>")
    row = df.select(V.dot("a", "b").alias("d"), V.norm("a").alias("n")).collect()[0]
    assert row.d == 32.0
    assert abs(row.n - math.sqrt(14)) < 1e-12


def test_cosine_null_on_zero_vector(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a array<double>, b array<double>")
    assert df.select(V.cosine("a", "b").alias("c")).collect()[0].c is None


def test_l2_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "a array<double>")
    out = df.select(V.l2_normalize("a").alias("n")).collect()[0].n
    assert out == [0.6, 0.8]


def test_topk_by_query_id(emb):
    out = similarity.topk_by_query_id(emb, 0, k=3).collect()
    assert [r.vec_id for r in out] == [0, 2, 1]  # self=1.0, 0.6, 0.0
    assert out[0].sim == 1.0 and out[1].sim == 0.6


def test_knn_join_excludes_self(emb):
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         F.col("embedding").alias("qvec"))
    out = similarity.knn_join(emb, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert all(q not in ids for q, ids in by_q.items())
    assert by_q[0] == [2, 1]  # 0.6 then 0.0 (tie-break asc id over -1.0? no: 1 > 3)


def test_label_centroids(emb):
    out = {(r.label, r.dim): r.centroid for r in similarity.label_centroids(emb).collect()}
    assert out[(0, 0)] == 0.5 and out[(0, 1)] == 0.5
    assert out[(1, 0)] == -0.2 and out[(1, 1)] == 0.4


def test_similar_pairs_threshold(emb):
    out = similarity.similar_pairs(emb, 0.5).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(0, 2), (1, 2)}  # 0.6 and 0.8


def test_ivf_probes_nearest_cells(emb):
    # centroids = vectors 0,1. Assignments: 0->cell0, 1->cell1, 2->cell1
    # (dot 0.8 > 0.6), 3->cell1 (0.0 > -1.0, tie-break n/a). Query 0 with
    # n_probe=1 probes cell0 only -> candidate set {0}.
    out = similarity.ivf_topk(emb, query_id=0, n_centroids=2, n_probe=1, k=4).collect()
    assert [r.vec_id for r in out] == [0]
    # n_probe=2 covers both cells -> full exact ranking.
    out2 = similarity.ivf_topk(emb, query_id=0, n_centroids=2, n_probe=2, k=4).collect()
    assert [r.vec_id for r in out2] == [0, 2, 1, 3]


def test_lsh_bucket_prunes_candidates(emb):
    # planes = vectors 0,1; bucket of q=0 is sign pattern vs planes
    out = similarity.ann_topk_lsh(emb, query_id=0, n_planes=2, k=4).collect()
    ids = [r.vec_id for r in out]
    # vec 3 has negative dot with plane 0 → different bucket → pruned
    assert 3 not in ids
    assert ids[0] == 0

def test_similar_pairs_lsh_subset_of_exact(spark, sf_dir):
    """LSH near-dup is a prefilter: its result must be a SUBSET of the
    exact all-pairs result (no false positives after verification), with
    every reported sim identical to the exact one."""
    from hadith_vector_search_spark.plans.semantic import (
        PAIR_THRESHOLD, similar_pairs, similar_pairs_lsh)

    exact = {(r.id_a, r.id_b): r.sim
             for r in similar_pairs(spark, sf_dir).collect()}
    approx = {(r.id_a, r.id_b): r.sim
              for r in similar_pairs_lsh(spark, sf_dir).collect()}
    assert approx, "LSH prefilter found no pairs at all"
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]
    assert all(v > PAIR_THRESHOLD for v in approx.values())


def test_ivf_kmeans_codebook_recall(spark, sf_dir):
    """k-means-trained IVF raw rows: k rows, sims descending, and recall@k
    against the exact top-k at least as a loose floor (data-adapted cells
    should not be pathologically worse than the probe budget allows)."""
    from hadith_vector_search_spark.plans.semantic import (
        ANN_K,
        cosine_topk,
        kmeans_ann_rows,
    )

    approx = kmeans_ann_rows(spark, sf_dir).collect()
    assert len(approx) == ANN_K
    sims = [r.sim for r in approx]
    assert sims == sorted(sims, reverse=True)
    exact = {r.vec_id for r in cosine_topk(spark, sf_dir).collect()[:ANN_K]}
    recall = len({r.vec_id for r in approx} & exact) / ANN_K
    assert recall >= 0.2


def test_ivf_kmeans_report_is_deterministic_and_green(spark, sf_dir):
    """The registered kmeans query is a recall-bound REPORT: its exact-ids
    leg must equal the exact top-k, and recall_ok must hold (the SQL
    oracle asserts the same TRUE — a codebook regression flips it)."""
    from hadith_vector_search_spark.plans.semantic import (
        ANN_K,
        QUERY_VEC_ID,
        ann_topk_ivf_kmeans,
        cosine_topk,
    )

    row = ann_topk_ivf_kmeans(spark, sf_dir).collect()
    assert len(row) == 1
    row = row[0]
    assert (row.method, row.k) == ("ann_topk_ivf_kmeans", ANN_K)
    exact = sorted(r.vec_id for r in cosine_topk(spark, sf_dir).collect()[:ANN_K])
    assert row.exact_ids == ",".join(str(i) for i in exact)
    assert row.recall_ok is True


def test_int8_quantized_topk(spark, sf_dir):
    """int8 round-trip: quantized sims within per-component error bound of
    exact sims, zero vectors survive, and top-k overlap with the exact
    ranking is high (quantization is a compression, not an approximation
    of the candidate set)."""
    from hadith_vector_search_spark.operators.similarity import (
        int8_dequantized, int8_topk)
    from hadith_vector_search_spark.plans.semantic import ANN_K, QUERY_VEC_ID
    from hadith_vector_search_spark.sources import load_table

    zero = spark.createDataFrame([(0, [0.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    assert zero.select(int8_dequantized("embedding").alias("d")).first().d \
        == [0.0, 0.0]

    emb = load_table(spark, sf_dir, "embeddings")
    rows = int8_topk(emb, QUERY_VEC_ID, ANN_K).collect()
    assert len(rows) == ANN_K
    sims = [r.sim_q for r in rows]
    assert sims == sorted(sims, reverse=True)
    # self-similarity of a unit vector survives quantization near 1.0
    assert rows[0].vec_id == QUERY_VEC_ID and rows[0].sim_q > 0.98

    from hadith_vector_search_spark.operators.similarity import topk_by_query_id
    exact = {r.vec_id for r in topk_by_query_id(emb, QUERY_VEC_ID, ANN_K).collect()}
    assert len({r.vec_id for r in rows} & exact) >= ANN_K - 1


def test_pq_topk_full_rerank_equals_exact(spark, sf_dir):
    """With rerank >= corpus size the ADC stage only orders candidates —
    the exact rerank must then return exactly the exact top-k set."""
    from hadith_vector_search_spark.operators.similarity import (
        pq_topk, topk_by_query_id)
    from hadith_vector_search_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    got = [(r.vec_id, r.sim) for r in pq_topk(emb, 0, 4, 5, rerank=n).collect()]
    want = [(r.vec_id, r.sim) for r in topk_by_query_id(emb, 0, 5).collect()]
    assert got and [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-6


def test_pq_topk_default_rerank_recall(spark, sf_dir):
    """Compressed-candidate recall floor at the default rerank depth: the
    final top-5 must share >= 3 ids with the exact top-5 on the test
    corpus (PQ with 2x4 codebooks is coarse; the rerank recovers order
    for whatever ADC surfaces)."""
    from hadith_vector_search_spark.operators.similarity import (
        pq_topk, topk_by_query_id)
    from hadith_vector_search_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r.vec_id for r in pq_topk(emb, 0, 4, 5, 20).collect()}
    want = {r.vec_id for r in topk_by_query_id(emb, 0, 5).collect()}
    assert len(got & want) >= 3, (got, want)


@pytest.mark.parametrize("dim", [384, 70])
def test_bq_pack_expr_equals_driver_twin(spark, dim):
    """The packed sign words equal `bq_pack_np` at the ingest store's
    width (384, six full words) and at a width that leaves a partial
    last word, on vectors holding exact 0.0 and -0.0 (both pack as 0),
    bit 63 set (the signed wrap) and NULL elements (pack as 0)."""
    import numpy as np

    rng = np.random.default_rng(dim)
    X = rng.normal(size=(12, dim))
    X[0] = 0.0
    X[1] = -0.0
    X[2, ::3] = 0.0
    X[3, 1::2] = -0.0
    X[4] = 1.0                      # every bit, bit 63 included
    X[5, 63::64] = 2.0
    vecs = [[float(x) for x in row] for row in X]
    vecs[6][5] = None
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "id long, v array<double>")
    got = {r.id: list(r.bq) for r in df.select(
        "id", similarity.bq_pack_expr("v", dim).alias("bq")).collect()}
    for i, row in enumerate(vecs):
        twin = similarity.bq_pack_np(
            np.array([0.0 if x is None else x for x in row]))
        assert got[i] == twin, i


def test_cell_dedup_list_semantics(spark):
    """Within-cell removal only: near-identical vectors in the same cell
    produce (higher_id -> smallest-qualifying-lower-id) removal rows;
    vectors without a lower-id near neighbor survive."""
    from hadith_vector_search_spark.operators.similarity import cell_dedup_list

    # 2 cells along axes; ids 0/1 are the data-derived centroids (n=2)
    rows = [
        (0, [1.0, 0.0, 0.0]),          # centroid cell 0
        (1, [0.0, 1.0, 0.0]),          # centroid cell 1
        (10, [0.999, 0.04, 0.0]),      # cell 0, near-dup of 0
        (11, [0.998, 0.06, 0.0]),      # cell 0, near-dup of 0 and 10
        (20, [0.0, 0.999, 0.04]),      # cell 1, near-dup of 1
        (30, [0.0, 0.0, 1.0]),         # argmax tie -> lowest cell, unique
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.kept_rep, r.sim) for r in
           cell_dedup_list(emb, n_centroids=2, threshold=0.9).collect()}
    assert set(out) == {10, 11, 20}
    assert out[10][0] == 0 and out[11][0] == 0 and out[20][0] == 1
    assert all(s > 0.9 for _, s in out.values())


def test_filtered_ann_respects_predicate(spark, sf_dir):
    """Every hit passes the metadata filter, and the hit set is a subset
    of the unfiltered IVF scan of the same probed cells."""
    from hadith_vector_search_spark.plans.semantic import (
        ANN_FILTER_LANG,
        ann_topk_filtered,
    )
    from hadith_vector_search_spark.sources import load_table

    hits = ann_topk_filtered(spark, sf_dir).collect()
    assert hits, "filter should leave candidates at test SF"
    langs = {r.doc_id: r.lang for r in
             load_table(spark, sf_dir, "documents").collect()}
    for h in hits:
        assert langs[h.vec_id] == ANN_FILTER_LANG
    sims = [h.sim for h in hits]
    assert sims == sorted(sims, reverse=True)


def test_recall_report_covers_every_ann_variant(spark, sf_dir):
    from hadith_vector_search_spark.plans.semantic import ann_recall_report

    rows = {r.method: r for r in ann_recall_report(spark, sf_dir).collect()}
    assert set(rows) == {"ann_topk_lsh", "ann_topk_ivf", "ann_topk_int8",
                         "ann_topk_pq", "ann_topk_ivfpq",
                         "ann_topk_filtered", "similar_pairs_lsh_scaled"}
    for r in rows.values():
        assert 0.0 <= r.recall <= 1.0
        assert r.hits <= r.expected


def test_recall_report_scaled_equals_full_form_at_covered_sf(spark, sf_dir):
    """At SFs where the corpus is at/below RECALL_SAMPLE_TARGET the
    fixed-size sample covers every id and scaled_band_bits equals the
    static constant — so the scale-safe registered audit's pair row must
    EQUAL the round-9 full form's (the rebuild-equivalence anchor the
    verdict asked the demoted full form to serve as)."""
    from hadith_vector_search_spark.plans.semantic import (
        RECALL_SAMPLE_TARGET,
        ann_recall_report,
        ann_recall_report_full,
        get_recall_geometry,
    )

    n, bits, bands, floor, bound = get_recall_geometry(spark, sf_dir)
    assert n <= RECALL_SAMPLE_TARGET and bound is None and bits == 4, \
        "test SF drifted above the sample target; pick a smaller SF"
    scaled = {r.method: r for r
              in ann_recall_report(spark, sf_dir).collect()}
    full = {r.method: r for r
            in ann_recall_report_full(spark, sf_dir).collect()}
    s, f = scaled["similar_pairs_lsh_scaled"], full["similar_pairs_lsh"]
    assert (s.hits, s.expected, s.recall) == (f.hits, f.expected, f.recall)


def test_recall_geometry_matches_oracle_params_cte():
    """The Python geometry (`get_recall_geometry` arithmetic) and the
    oracle's in-SQL `params` CTE must derive identical (bits, bands,
    floor, bound) from the same count — sweep corpus sizes across both
    boundaries and the power-of-two FP edges. bands/floor exercise the
    S-curve inversion (`bands_for_recall`/`banding_floor`) against the
    same double-precision expressions in DuckDB."""
    import math

    import duckdb

    from hadith_vector_search_spark.operators.similarity import (
        DEFAULT_RECALL_TARGET, MAX_LSH_BANDS, banding_floor,
        bands_for_recall, scaled_band_bits)
    from hadith_vector_search_spark.plans.semantic import (
        PAIR_THRESHOLD,
        RECALL_BUCKET_TARGET,
        RECALL_SAMPLE_TARGET,
    )

    con = duckdb.connect()
    tgt, maxb = DEFAULT_RECALL_TARGET, MAX_LSH_BANDS
    from hadith_vector_search_spark.operators.similarity import \
        RECALL_MISS_FRACTION as frac
    for n in [1, 20, 128, 129, 500, 512, 513, 1024, 2000, 2048, 20000,
              1 << 20, 1 << 31]:
        got = con.execute(f"""
            WITH p0 AS (
              SELECT CASE WHEN n <= {RECALL_BUCKET_TARGET} THEN 4
                          ELSE GREATEST(4, LEAST(16, CAST(CEIL(LOG2(
                              n / {RECALL_BUCKET_TARGET}.0)) AS INT))) END
                       AS bits,
                     CASE WHEN n <= {RECALL_SAMPLE_TARGET} THEN 65536
                          ELSE CAST(CEIL(65536.0 * {RECALL_SAMPLE_TARGET}
                                         / n) AS INT) END AS bound
              FROM (SELECT {n}::BIGINT AS n)),
            p1 AS (
              SELECT bits, bound,
                     LEAST({maxb}, GREATEST(1, CAST(CEIL(
                         LN((1.0 - {tgt}) * {frac}) /
                         LN(1.0 - POW(1.0 - ACOS({PAIR_THRESHOLD}) / PI(),
                                      bits))) AS INT))) AS bands
              FROM p0)
            SELECT bits, bands,
                   LEAST({tgt}, ROUND(1.0 - POW(
                       1.0 - POW(1.0 - ACOS({PAIR_THRESHOLD}) / PI(), bits),
                       bands), 6)) AS floor_,
                   bound
            FROM p1""").fetchone()
        bits = scaled_band_bits(n, RECALL_BUCKET_TARGET)
        bands = bands_for_recall(bits, threshold_sim=PAIR_THRESHOLD)
        floor = min(tgt, banding_floor(bands, bits, PAIR_THRESHOLD))
        bound = (65536 if n <= RECALL_SAMPLE_TARGET
                 else math.ceil(65536.0 * RECALL_SAMPLE_TARGET / n))
        assert got == (bits, bands, floor, bound), \
            (n, got, (bits, bands, floor, bound))


def test_kmeans_published_store_reopens_without_retraining(
        spark, sf_dir, monkeypatch):
    """A FRESH kmeans-published store must answer from its STORED
    centroid sidecar — reopening may never re-fit (training is the
    once-per-corpus-snapshot cost)."""
    from hadith_vector_search_spark.plans import semantic

    first = semantic.get_kmeans_published_vector_index(spark, sf_dir)
    assert first is not None
    # second entry, evicted from the session cache so the getter runs
    # again: poison the training path — a fresh manifest must
    # short-circuit straight to open_vector_index
    release_sf_pins(spark, sf_dir, drop_stream_tables=False)
    def boom(*a, **k):
        raise AssertionError("retrained a fresh store")
    monkeypatch.setattr(semantic, "get_kmeans_codebook", boom)
    again = semantic.get_kmeans_published_vector_index(spark, sf_dir)
    assert again is not None and again is not first
    assert again.centroids == first.centroids
    rows = again.ivf_topk(0, n_probe=2, k=3).collect()
    assert len(rows) == 3


def test_kmeans_published_report_shape_and_floor(spark, sf_dir):
    from hadith_vector_search_spark.plans.semantic import \
        ann_topk_ivf_kmeans_published

    row = ann_topk_ivf_kmeans_published(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.method == "ann_topk_ivf_kmeans_published" and r.k == 5
    assert r.recall_ok, "trained-codebook published recall under floor"


def test_vector_index_cells_matches_in_session_assignment(spark, sf_dir):
    """The histogram read off the published partition dirs must equal
    the in-session nearest-centroid assignment (same `cell_of`
    arithmetic) — and shares sum to 1."""
    from hadith_vector_search_spark.operators import similarity
    from hadith_vector_search_spark.plans.semantic import (
        IVF_CENTROIDS,
        vector_index_cells,
    )
    from hadith_vector_search_spark.sources.tables import load_table

    rows = vector_index_cells(spark, sf_dir).collect()
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-4)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = [(r.cent_id, r.cvec) for r in sorted(
        similarity.data_centroids(emb, IVF_CENTROIDS).collect(),
        key=lambda r: r.cent_id)]
    insess = {r.cell: r.n for r in
              emb.select(similarity.cell_of(cents).alias("cell"))
              .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {r.cell: r.n_vecs for r in rows} == insess
    assert sum(insess.values()) == emb.count()


def test_multiprobe_recall_at_least_single_bucket(spark, sf_dir):
    """Multi-probe candidates are a superset of the single-bucket scan, so
    its recall@k vs exact can never be lower."""
    from hadith_vector_search_spark.plans.semantic import (
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
        cosine_topk,
    )

    exact = [r.vec_id for r in cosine_topk(spark, sf_dir).collect()][:5]
    single = {r.vec_id for r in ann_topk_lsh(spark, sf_dir).collect()}
    multi = {r.vec_id for r in ann_topk_lsh_multiprobe(spark, sf_dir).collect()}
    r_single = len(single & set(exact))
    r_multi = len(multi & set(exact))
    assert r_multi >= r_single
    assert multi  # probes always include the query's own bucket


def test_mmr_first_pick_is_top_relevance_and_scores_decrease_in_rank(spark, sf_dir):
    from hadith_vector_search_spark.plans.semantic import (
        MMR_K,
        cosine_topk,
        mmr_rerank,
    )

    rows = sorted(mmr_rerank(spark, sf_dir).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, MMR_K + 1))
    top1 = cosine_topk(spark, sf_dir).collect()[0]
    assert rows[0].vec_id == top1.vec_id        # rank 1 = pure relevance
    assert len({r.vec_id for r in rows}) == MMR_K   # no repeats
    # each pick's relevance never exceeds the previous pick's by rank-1
    # construction on a sorted candidate list
    assert rows[0].simq == max(r.simq for r in rows)


def test_scaled_band_bits_tracks_corpus_size():
    """The banding knob sizes bits ~ log2(n/target): reproduces the
    driver-SF constant (4 bits at 2k vectors) and the sf1-measured
    near-linear setting (8 bits at 20k), saturates at the floor for tiny
    corpora and the cap for huge ones (SCALE.md round-9 curves)."""
    from hadith_vector_search_spark.operators.similarity import (
        scaled_band_bits,
    )

    assert scaled_band_bits(100) == 4       # <= target: floor
    assert scaled_band_bits(500) == 4       # sf0.01-scale: floor
    assert scaled_band_bits(2_000) == 4     # sf0.1 constant reproduced
    assert scaled_band_bits(20_000) == 8    # the measured sf1 fix
    assert scaled_band_bits(200_000) == 11
    assert scaled_band_bits(10**10) == 16   # cap
    # monotone non-decreasing in n
    prev = 0
    for n in (1, 10, 100, 1000, 10**4, 10**5, 10**6, 10**7):
        b = scaled_band_bits(n)
        assert b >= prev
        prev = b


def test_ivfpq_kmeans_published_store_reopens_without_retraining(
        spark, sf_dir, monkeypatch):
    """A FRESH fully-trained IVFADC store must answer from its STORED
    centroid AND sub-codebook sidecars — reopening may never re-fit
    either quantizer."""
    import numpy as np

    from hadith_vector_search_spark.operators import similarity
    from hadith_vector_search_spark.plans import semantic

    first = semantic.get_ivfpq_kmeans_published_index(spark, sf_dir)
    assert first is not None and first.pq is not None
    books_before = [b.copy() for b in first.pq_subbooks]
    # evicted from the session cache so the getter runs again
    release_sf_pins(spark, sf_dir, drop_stream_tables=False)

    def boom(*a, **k):
        raise AssertionError("retrained a fresh store")
    monkeypatch.setattr(semantic, "get_kmeans_codebook", boom)
    monkeypatch.setattr(similarity, "kmeans_subbooks", boom)
    again = semantic.get_ivfpq_kmeans_published_index(spark, sf_dir)
    assert again is not None and again is not first
    assert again.centroids == first.centroids
    for b0, b1 in zip(books_before, again.pq_subbooks):
        assert np.array_equal(b0, b1)
    rows = again.ivfpq_topk(0, n_probe=2, k=3, rerank=10).collect()
    assert len(rows) == 3


def test_ivfpq_kmeans_published_report_shape_and_floor(spark, sf_dir):
    from hadith_vector_search_spark.plans.semantic import \
        ann_topk_ivfpq_kmeans_published

    row = ann_topk_ivfpq_kmeans_published(spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r.method == "ann_topk_ivfpq_kmeans_published" and r.k == 5
    assert r.recall_ok, "trained IVFADC published recall under floor"
