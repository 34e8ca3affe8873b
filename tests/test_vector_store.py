"""Published on-disk VECTOR index (sources/vector_store.py): publish/
reopen equivalence against the in-session IVF operator, manifest reuse
across sessions, cell-partition directory pruning at planning time,
cell-level incremental write-back, and crash safety through the shared
staged-journal commit protocol."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from hadith_vector_search_spark.operators import similarity
from hadith_vector_search_spark.sources import commit as commitlog
from hadith_vector_search_spark.sources import vector_store
from hadith_vector_search_spark.sources.layout import partition_filters

DIM = 6
N_CELLS = 4


def _vec(seed: int) -> list[float]:
    """Deterministic unit vector; distinct seeds give distinct angles."""
    raw = [math.sin(seed * 2.7 + i * 1.3) + 0.01 * i for i in range(DIM)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _emb(spark, ids):
    return spark.createDataFrame([(i, _vec(i)) for i in ids],
                                 "vec_id long, embedding array<double>")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _vec_rows(df, id_col="vec_id", vec_col="embedding"):
    return sorted((r[id_col], tuple(round(x, 12) for x in r[vec_col]))
                  for r in df.collect())


def _file_states(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


IDS = list(range(20))


def test_publish_then_open_matches_in_session_ivf(spark, tmp_path):
    idx_dir = str(tmp_path / "vecidx")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS)
    vidx = vector_store.open_vector_index(spark, idx_dir)

    # stored cell assignments == the operator's assignment arithmetic
    codebook = vidx.centroids
    expected = _rows(emb.select("vec_id",
                                similarity.cell_of(codebook).alias("cell")))
    assert _rows(vidx.vectors.select("vec_id", "cell")) == expected

    # the published top-k equals the in-session ivf_topk for every probe
    for qid in (0, 7, 13):
        got = _rows(vidx.ivf_topk(qid, n_probe=2, k=5))
        want = _rows(similarity.ivf_topk(emb, qid, N_CELLS, 2, 5,
                                         centroids=codebook))
        assert got == want, qid

    # probe scan prunes at PLANNING time: PartitionFilters on `cell`
    pf = partition_filters(vidx.probe_scan([0, 2]))
    assert pf and any("cell" in line for line in pf), pf
    assert _vec_rows(vidx.probe_scan([0, 2]).select("vec_id", "embedding")) \
        == _vec_rows(vidx.vectors.filter(F.col("cell").isin([0, 2]))
                     .select("vec_id", "embedding"))


def test_ensure_reuses_across_sessions(spark, tmp_path):
    """Second ensure over the same embeddings reuses the published bytes
    (reasons == [], not one file rewritten) — the vector analogue of the
    reference reopening its Chroma dir at startup."""
    src = str(tmp_path / "emb.parquet")
    _emb(spark, IDS).write.parquet(src)
    idx_dir = str(tmp_path / "vecidx")
    emb = spark.read.parquet(src)

    _, reasons1 = vector_store.ensure_vector_index(
        spark, emb, src, idx_dir, n_cells=N_CELLS)
    assert reasons1 == ["no manifest"]
    before = _file_states(idx_dir)
    assert before

    vidx2, reasons2 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx_dir, n_cells=N_CELLS)
    assert reasons2 == []
    assert _file_states(idx_dir) == before  # byte-for-byte reuse
    assert _rows(vidx2.ivf_topk(0, 2, 5)) == _rows(
        similarity.ivf_topk(emb, 0, N_CELLS, 2, 5,
                            centroids=vidx2.centroids))

    # source drift (rewrite in place) invalidates
    _emb(spark, IDS + [99]).write.mode("overwrite").parquet(src)
    _, reasons3 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx_dir, n_cells=N_CELLS)
    assert reasons3


def test_refresh_touches_only_affected_cells(spark, tmp_path):
    """Cell-level delta: the refreshed store equals a from-scratch publish
    over the merged vectors (same codebook), and cell directories the
    batch never touches keep their part files byte-invariant."""
    idx_dir = str(tmp_path / "vecidx")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    codebook = vidx.centroids

    changed = spark.createDataFrame(
        [(7, _vec(107)), (50, _vec(50))],  # one replaced, one new
        "vec_id long, embedding array<double>")
    removed = spark.createDataFrame([(13,)], "vec_id long")
    before = _file_states(idx_dir)

    refreshed = vector_store.write_vector_refresh(spark, idx_dir, changed,
                                                  removed)

    merged = [(i, _vec(i)) for i in IDS if i not in (7, 13)] \
        + [(7, _vec(107)), (50, _vec(50))]
    merged_df = spark.createDataFrame(merged,
                                      "vec_id long, embedding array<double>")
    scratch_dir = str(tmp_path / "scratch")
    vector_store.publish_vector_index(merged_df, scratch_dir,
                                      centroids=codebook)
    scratch = vector_store.open_vector_index(spark, scratch_dir)
    assert _vec_rows(refreshed.vectors.select("vec_id", "embedding")) \
        == _vec_rows(scratch.vectors.select("vec_id", "embedding"))
    assert _rows(refreshed.vectors.select("vec_id", "cell")) == \
        _rows(scratch.vectors.select("vec_id", "cell"))
    assert _rows(refreshed.ivf_topk(0, 2, 5)) == _rows(scratch.ivf_topk(0, 2, 5))

    # untouched cells byte-invariant
    tag = similarity.cell_of(codebook)
    touched = {r.cell for r in spark.createDataFrame(
        [(7, _vec(7)), (7, _vec(107)), (50, _vec(50)), (13, _vec(13))],
        "vec_id long, embedding array<double>")
        .select(tag.alias("cell")).distinct().collect()}
    after = _file_states(idx_dir)
    for rel, st in before.items():
        if not rel.startswith("vectors"):
            continue
        cell = int(rel.split("cell=")[1].split(os.sep)[0])
        if cell not in touched:
            assert after.get(rel) == st, f"untouched cell rewritten: {rel}"


def test_refresh_crash_mid_commit_rolls_forward(spark, tmp_path,
                                                monkeypatch):
    """Kill during the journal replay: the next open rolls FORWARD to the
    complete new store — the shared commit protocol, proven on the
    vector layout too."""
    idx_dir = str(tmp_path / "vecidx")
    vector_store.publish_vector_index(_emb(spark, IDS), idx_dir,
                                      n_cells=N_CELLS)
    codebook = vector_store.open_vector_index(spark, idx_dir).centroids
    changed = spark.createDataFrame([(7, _vec(107))],
                                    "vec_id long, embedding array<double>")

    def partial(store_dir, ops):
        assert ops
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        vector_store.write_vector_refresh(spark, idx_dir, changed)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx_dir, vector_store.JOURNAL_NAME))

    reopened = vector_store.open_vector_index(spark, idx_dir)  # recovers
    assert not os.path.exists(os.path.join(idx_dir,
                                           vector_store.JOURNAL_NAME))
    merged = [(i, _vec(i)) for i in IDS if i != 7] + [(7, _vec(107))]
    scratch_dir = str(tmp_path / "scratch")
    vector_store.publish_vector_index(
        spark.createDataFrame(merged, "vec_id long, embedding array<double>"),
        scratch_dir, centroids=codebook)
    scratch = vector_store.open_vector_index(spark, scratch_dir)
    assert _vec_rows(reopened.vectors.select("vec_id", "embedding")) == \
        _vec_rows(scratch.vectors.select("vec_id", "embedding"))


def test_refresh_all_cells_emptied_keeps_store_openable(spark, tmp_path):
    """Removing every vector leaves an empty-but-schema'd placeholder
    (never a schema-less dir), and a later refresh on top of it rebuilds
    real cell dirs."""
    idx_dir = str(tmp_path / "vecidx")
    vector_store.publish_vector_index(_emb(spark, IDS), idx_dir,
                                      n_cells=N_CELLS)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    all_ids = spark.createDataFrame([(i,) for i in IDS], "vec_id long")

    emptied = vector_store.write_vector_refresh(spark, idx_dir, empty,
                                                all_ids)
    assert emptied.vectors.count() == 0
    reopened = vector_store.open_vector_index(spark, idx_dir)
    assert reopened.vectors.count() == 0
    assert reopened.probe_scan([0, 1]).count() == 0

    batch = spark.createDataFrame([(30, _vec(30)), (31, _vec(31))],
                                  "vec_id long, embedding array<double>")
    refreshed = vector_store.write_vector_refresh(spark, idx_dir, batch)
    assert {r.vec_id for r in refreshed.vectors.collect()} == {30, 31}
    again = vector_store.open_vector_index(spark, idx_dir)
    pf = partition_filters(again.probe_scan([0, 1, 2, 3]))
    assert pf and any("cell" in line for line in pf), pf


def test_publish_after_crashed_refresh_discards_stale_journal(
        spark, tmp_path, monkeypatch):
    """Vector twin of the stale-journal guard (r9 review): a later full
    publish settles a crashed refresh's journal instead of letting the
    next open replay it over the fresh store."""
    idx_dir = str(tmp_path / "vecidx")
    vector_store.publish_vector_index(_emb(spark, IDS), idx_dir,
                                      n_cells=N_CELLS)
    changed = spark.createDataFrame([(7, _vec(107))],
                                    "vec_id long, embedding array<double>")

    def partial(store_dir, ops):
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        vector_store.write_vector_refresh(spark, idx_dir, changed)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx_dir, vector_store.JOURNAL_NAME))

    fresh = _emb(spark, [40, 41, 42])
    vector_store.publish_vector_index(fresh, idx_dir, n_cells=2)
    assert not os.path.exists(os.path.join(idx_dir,
                                           vector_store.JOURNAL_NAME))
    reopened = vector_store.open_vector_index(spark, idx_dir)
    assert {r.vec_id for r in reopened.vectors.collect()} == {40, 41, 42}


def test_published_metadata_filter_pushes_into_pruned_scan(spark, tmp_path):
    """Filtered ANN at lake scale: metadata columns published INTO the
    celled index files let a {column: value} predicate push into the
    already-cell-pruned scan — PushedFilters INSIDE PartitionFilters,
    no corpus join at query time — and the result equals brute-force
    cosine over the metadata-filtered vectors in the probed cells."""
    idx_dir = str(tmp_path / "vecidx")
    emb = spark.createDataFrame(
        [(i, _vec(i), "en" if i % 3 else "ar") for i in IDS],
        "vec_id long, embedding array<double>, lang string")
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    assert "lang" in vidx.vectors.columns  # metadata rode into the files

    got = vidx.ivf_topk(1, n_probe=2, k=5, where={"lang": "en"})
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "PartitionFilters" in plan and "cell" in plan
    assert "PushedFilters" in plan and "lang" in plan.split(
        "PushedFilters")[1][:200], plan[:2000]

    # equivalence: brute-force cosine over the filtered probed cells
    qvec = vidx.query_vector(1)
    probes = vidx.probes_for(qvec, 2)
    from hadith_vector_search_spark.functions.vector import dot, vector_lit
    want = (vidx.vectors
            .filter(F.col("cell").isin(probes) & (F.col("lang") == "en"))
            .select("vec_id",
                    F.round(dot(F.col("embedding"), vector_lit(qvec)), 6)
                    .alias("sim"))
            .orderBy(F.desc("sim"), F.asc("vec_id")).limit(5))
    assert _rows(got) == _rows(want)
    assert all(r.vec_id % 3 != 0 for r in got.collect())  # 'ar' excluded

    # delta refresh preserves the metadata column (batch carries it)
    batch = spark.createDataFrame([(7, _vec(107), "en")],
                                  "vec_id long, embedding array<double>, "
                                  "lang string")
    refreshed = vector_store.write_vector_refresh(spark, idx_dir, batch)
    row = {r.vec_id: r.lang for r in refreshed.vectors.collect()}
    assert row[7] == "en" and row[3] == "ar" and len(row) == len(IDS)


# ---------------------------------------------------------------------------
# Published sign-LSH store (bucket-partitioned twin of the IVF cells)
# ---------------------------------------------------------------------------

N_PLANES = 4


def test_lsh_publish_then_open_matches_in_session_operators(spark, tmp_path):
    idx_dir = str(tmp_path / "lshidx")
    emb = _emb(spark, IDS)
    vector_store.publish_lsh_index(emb, idx_dir, n_planes=N_PLANES)
    lidx = vector_store.open_lsh_index(spark, idx_dir)

    # stored bucket assignments == the shared sign_bucket_expr arithmetic
    plane_rows = sorted(similarity.data_planes(emb, N_PLANES).collect(),
                        key=lambda r: r.plane_id)
    expected = _rows(emb.select(
        "vec_id", F.concat(F.lit("b"),  # stored as 'b'+bits, see publish
                           similarity.sign_bucket_expr(plane_rows))
        .alias("bucket")))
    assert _rows(lidx.sigs.select("vec_id", "bucket")) == expected

    # published single-bucket and multiprobe equal the in-session forms
    for qid in (0, 7, 13):
        assert _rows(lidx.lsh_topk(qid, k=5)) == _rows(
            similarity.ann_topk_lsh(emb, qid, N_PLANES, 5)), qid
        assert _rows(lidx.lsh_topk(qid, k=5, n_flip=2)) == _rows(
            similarity.ann_topk_lsh_multiprobe(emb, qid, N_PLANES, 5, 2)), qid

    # probe scan prunes at PLANNING time: PartitionFilters on `bucket`
    pf = partition_filters(lidx.lsh_topk(0, k=5, n_flip=2))
    assert pf and any("bucket" in line for line in pf), pf


def test_lsh_ensure_reuses_across_sessions(spark, tmp_path):
    """Second ensure over the same embeddings reuses the published bytes
    (reasons == [], not one file rewritten) — the no-rebuild
    second-session proof, mirroring ann_topk_ivf_published's."""
    src = str(tmp_path / "emb.parquet")
    _emb(spark, IDS).write.parquet(src)
    idx_dir = str(tmp_path / "lshidx")
    emb = spark.read.parquet(src)

    _, reasons1 = vector_store.ensure_lsh_index(
        spark, emb, src, idx_dir, n_planes=N_PLANES)
    assert reasons1 == ["no manifest"]
    before = _file_states(idx_dir)
    assert before

    lidx, reasons2 = vector_store.ensure_lsh_index(
        spark, emb, src, idx_dir, n_planes=N_PLANES)
    assert reasons2 == []
    assert _file_states(idx_dir) == before  # byte-for-byte reuse
    assert len(lidx.lsh_topk(0, k=5).collect()) >= 1

    # geometry change = staleness rebuild, never a mis-probed reuse
    _, reasons3 = vector_store.ensure_lsh_index(
        spark, emb, src, idx_dir, n_planes=N_PLANES + 2)
    assert reasons3, "plane-count change must rebuild"
    assert vector_store.open_lsh_index(spark, idx_dir).n_planes \
        == N_PLANES + 2


def test_lsh_refresh_equals_rebuild_and_untouched_buckets_invariant(
        spark, tmp_path):
    """Delta refresh on the LSH store (the shared _partitioned_refresh
    core): result equals a from-scratch publish with the SAME planes,
    and bucket dirs the batch never touches keep their part files
    byte-invariant."""
    idx_dir = str(tmp_path / "lshidx")
    emb = _emb(spark, IDS)
    vector_store.publish_lsh_index(emb, idx_dir, n_planes=N_PLANES)
    lidx = vector_store.open_lsh_index(spark, idx_dir)
    planes = lidx.planes
    before = _file_states(idx_dir)

    changed = spark.createDataFrame(
        [(7, _vec(107)), (50, _vec(50))],  # one replaced, one new
        "vec_id long, embedding array<double>")
    removed = spark.createDataFrame([(13,)], "vec_id long")
    refreshed = vector_store.write_lsh_refresh(spark, idx_dir, changed,
                                               removed)

    merged = [(i, _vec(i)) for i in IDS if i not in (7, 13)] \
        + [(7, _vec(107)), (50, _vec(50))]
    merged_df = spark.createDataFrame(merged,
                                      "vec_id long, embedding array<double>")
    scratch_dir = str(tmp_path / "scratch")
    vector_store.publish_lsh_index(merged_df, scratch_dir, planes=planes)
    scratch = vector_store.open_lsh_index(spark, scratch_dir)
    assert _rows(refreshed.sigs.select("vec_id", "bucket")) == \
        _rows(scratch.sigs.select("vec_id", "bucket"))
    for qid in (0, 5, 50):
        assert _rows(refreshed.lsh_topk(qid, k=5, n_flip=2)) == \
            _rows(scratch.lsh_topk(qid, k=5, n_flip=2)), qid

    # untouched buckets byte-invariant

    class _R:
        def __init__(self, pvec):
            self.pvec = pvec

    bexpr = F.concat(F.lit("b"), similarity.sign_bucket_expr(
        [_R(v) for _, v in planes]))
    touched = {r.b for r in spark.createDataFrame(
        [(7, _vec(7)), (7, _vec(107)), (50, _vec(50)), (13, _vec(13))],
        "vec_id long, embedding array<double>")
        .select(bexpr.alias("b")).distinct().collect()}
    after = _file_states(idx_dir)
    for rel, st in before.items():
        if not rel.startswith("sigs"):
            continue
        b = rel.split("bucket=")[1].split(os.sep)[0]
        if b not in touched:
            assert after.get(rel) == st, f"untouched bucket rewritten: {rel}"


def test_lsh_refresh_crash_mid_commit_rolls_forward(spark, tmp_path,
                                                    monkeypatch):
    """Kill during journal replay on the LSH store: the next open rolls
    FORWARD — the shared commit protocol, proven on the bucket layout."""
    idx_dir = str(tmp_path / "lshidx")
    vector_store.publish_lsh_index(_emb(spark, IDS), idx_dir,
                                   n_planes=N_PLANES)
    planes = vector_store.open_lsh_index(spark, idx_dir).planes
    changed = spark.createDataFrame([(7, _vec(107))],
                                    "vec_id long, embedding array<double>")

    def partial(store_dir, ops):
        assert ops
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        vector_store.write_lsh_refresh(spark, idx_dir, changed)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx_dir, vector_store.JOURNAL_NAME))

    reopened = vector_store.open_lsh_index(spark, idx_dir)  # recovers
    assert not os.path.exists(os.path.join(idx_dir,
                                           vector_store.JOURNAL_NAME))
    merged = [(i, _vec(i)) for i in IDS if i != 7] + [(7, _vec(107))]
    scratch_dir = str(tmp_path / "scratch")
    vector_store.publish_lsh_index(
        spark.createDataFrame(merged, "vec_id long, embedding array<double>"),
        scratch_dir, planes=planes)
    scratch = vector_store.open_lsh_index(spark, scratch_dir)
    assert _rows(reopened.sigs.select("vec_id", "bucket")) == \
        _rows(scratch.sigs.select("vec_id", "bucket"))


# ---------------------------------------------------------------------------
# IVFADC: the published PQ-code table (codes/cell=K/) next to raw vectors
# ---------------------------------------------------------------------------

PQ_CENTS = 3


def test_ivfpq_publish_then_open_matches_in_session_compose(spark, tmp_path):
    """Publishing with pq_cents attaches codes/cell=K/ + the sub-codebook
    sidecar; the reopened ivfpq_topk equals the storeless
    `similarity.ivfpq_topk` compose, ADC ranks a partition-pruned CODES
    scan, and stored codes equal a fresh encode of the stored vectors."""
    idx_dir = str(tmp_path / "vecpq")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS,
                                      pq_cents=PQ_CENTS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    assert vidx.pq == {"n_cents": PQ_CENTS, "m": 2, "dim": DIM,
                       "residual": False}

    # codes live in the same cell dirs as their raw rows
    assert _rows(vidx.codes.select("vec_id", "cell")) == \
        _rows(vidx.vectors.select("vec_id", "cell"))
    # stored codes == the single-source encode contract over stored rows
    expected_codes = similarity.pq_encode(vidx.vectors, vidx.pq_subbooks,
                                          keep_cols=("cell",))
    assert _rows(vidx.codes.select("vec_id", "code_0", "code_1")) == \
        _rows(expected_codes.select("vec_id", "code_0", "code_1"))

    subbooks = similarity.pq_subbooks(emb, PQ_CENTS)
    for qid in (0, 7, 13):
        got = _rows(vidx.ivfpq_topk(qid, n_probe=2, k=5, rerank=8))
        want = _rows(similarity.ivfpq_topk(emb, qid, vidx.centroids,
                                           subbooks, 2, 5, 8))
        assert got == want, qid

    # the ADC candidate scan prunes at PLANNING time (codes partitions)
    pf = partition_filters(vidx.codes.filter(F.col("cell").isin([0, 2])))
    assert pf and any("cell" in line for line in pf), pf


def test_ivfpq_store_without_codes_raises_and_manifest_distinguishes(
        spark, tmp_path):
    """An IVF-only store refuses ivfpq_topk, and the manifest identity
    separates pq from non-pq publishes — a code-less artifact is STALE
    for a pq-expecting consumer, never silently reused."""
    src = str(tmp_path / "emb.parquet")
    _emb(spark, IDS).write.parquet(src)
    idx_dir = str(tmp_path / "vecidx")
    emb = spark.read.parquet(src)

    vidx, _ = vector_store.ensure_vector_index(spark, emb, src, idx_dir,
                                               n_cells=N_CELLS)
    assert vidx.pq is None
    with pytest.raises(ValueError):
        vidx.ivfpq_topk(0)

    _, reasons = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx_dir, n_cells=N_CELLS,
        pq_cents=PQ_CENTS)
    assert reasons  # rebuilt at the pq identity
    vidx2, reasons2 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx_dir, n_cells=N_CELLS,
        pq_cents=PQ_CENTS)
    assert reasons2 == []  # pq store reused byte-for-byte
    assert vidx2.pq is not None
    assert vidx2.ivfpq_topk(0, 2, 5, 8).count() == 5


def test_ivfpq_refresh_updates_both_tables_in_one_commit(spark, tmp_path):
    """A delta refresh on an IVFADC store rewrites vectors AND codes for
    the touched cells in ONE staged-journal commit: the refreshed store
    equals a from-scratch publish (both tables), codes never disagree
    with their vectors, and untouched cell dirs stay byte-invariant in
    BOTH tables."""
    idx_dir = str(tmp_path / "vecpq")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS,
                                      pq_cents=PQ_CENTS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    codebook, subbooks = vidx.centroids, vidx.pq_subbooks
    before = _file_states(idx_dir)

    changed = spark.createDataFrame(
        [(7, _vec(107)), (50, _vec(50))],
        "vec_id long, embedding array<double>")
    removed = spark.createDataFrame([(13,)], "vec_id long")
    refreshed = vector_store.write_vector_refresh(spark, idx_dir, changed,
                                                  removed)

    merged = [(i, _vec(i)) for i in IDS if i not in (7, 13)] \
        + [(7, _vec(107)), (50, _vec(50))]
    merged_df = spark.createDataFrame(merged,
                                      "vec_id long, embedding array<double>")
    scratch_dir = str(tmp_path / "scratch")
    vector_store.publish_vector_index(merged_df, scratch_dir,
                                      centroids=codebook,
                                      pq_cents=PQ_CENTS)
    scratch = vector_store.open_vector_index(spark, scratch_dir)
    # scratch derives sub-codebooks from ITS vectors' lowest ids; the
    # refreshed store keeps the publish-time books — same ids 0..2 here,
    # so the codes must match row-for-row
    assert _rows(refreshed.codes) == _rows(scratch.codes)
    assert _vec_rows(refreshed.vectors.select("vec_id", "embedding")) == \
        _vec_rows(scratch.vectors.select("vec_id", "embedding"))
    # codes always re-derivable from the stored vectors (consistent pair)
    re_enc = similarity.pq_encode(refreshed.vectors, subbooks,
                                  keep_cols=("cell",))
    assert _rows(refreshed.codes.select("vec_id", "code_0", "code_1")) == \
        _rows(re_enc.select("vec_id", "code_0", "code_1"))
    assert _rows(refreshed.ivfpq_topk(0, 2, 5, 8)) == \
        _rows(scratch.ivfpq_topk(0, 2, 5, 8))

    # untouched cells byte-invariant in BOTH tables
    tag = similarity.cell_of(codebook)
    touched = {r.cell for r in spark.createDataFrame(
        [(7, _vec(7)), (7, _vec(107)), (50, _vec(50)), (13, _vec(13))],
        "vec_id long, embedding array<double>")
        .select(tag.alias("cell")).distinct().collect()}
    after = _file_states(idx_dir)
    for rel, st in before.items():
        if not (rel.startswith("vectors") or rel.startswith("codes")):
            continue
        cell = int(rel.split("cell=")[1].split(os.sep)[0])
        if cell not in touched:
            assert after.get(rel) == st, f"untouched dir rewritten: {rel}"


def test_ivfpq_refresh_crash_mid_commit_recovers_consistent_pair(
        spark, tmp_path, monkeypatch):
    """Kill mid-commit on an IVFADC store: recovery rolls BOTH tables
    forward together — a reopen never sees vectors from one epoch and
    codes from another."""
    idx_dir = str(tmp_path / "vecpq")
    vector_store.publish_vector_index(_emb(spark, IDS), idx_dir,
                                      n_cells=N_CELLS, pq_cents=PQ_CENTS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    subbooks = vidx.pq_subbooks
    changed = spark.createDataFrame([(7, _vec(107))],
                                    "vec_id long, embedding array<double>")

    def partial(store_dir, ops):
        assert len(ops) > 1  # vectors + codes ops share the journal
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        vector_store.write_vector_refresh(spark, idx_dir, changed)
    monkeypatch.undo()

    reopened = vector_store.open_vector_index(spark, idx_dir)  # recovers
    assert not os.path.exists(os.path.join(idx_dir,
                                           vector_store.JOURNAL_NAME))
    # the pair is CONSISTENT: codes re-derive exactly from stored vectors
    re_enc = similarity.pq_encode(reopened.vectors, subbooks,
                                  keep_cols=("cell",))
    assert _rows(reopened.codes.select("vec_id", "code_0", "code_1")) == \
        _rows(re_enc.select("vec_id", "code_0", "code_1"))
    # and it is the NEW epoch (roll-forward)
    got = {r.vec_id: r.embedding for r in reopened.vectors.collect()}
    assert [round(x, 9) for x in got[7]] == \
        [round(x, 9) for x in _vec(107)]


def test_ivf_batch_equals_per_query_singles(spark, tmp_path):
    """The batched form is an amortization, not a semantics change: each
    query's rows equal its single-query `ivf_topk` answer, and the one
    scan is pruned to the UNION of probe cells at planning time."""
    from hadith_vector_search_spark.sources.vector_store import \
        select_probes

    idx_dir = str(tmp_path / "vecidx")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS)
    vidx = vector_store.open_vector_index(spark, idx_dir)

    qids = [0, 3, 7]
    batch = []
    for qid in qids:
        qv = vidx.query_vector(qid)
        batch.append((qid, qv, select_probes(spark, vidx.centroids, qv, 2)))
    union_probes = sorted({p for _, _, ps in batch for p in ps})
    bdf = spark.createDataFrame(
        batch, "query_id long, qvec array<double>, probes array<int>")

    from hadith_vector_search_spark.functions.vector import dot
    from pyspark.sql.window import Window
    pruned = (vidx.probe_scan(union_probes)
              .select("vec_id", "embedding",
                      F.col("cell").cast("int").alias("cell")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    got = (pruned.join(F.broadcast(bdf),
                       F.array_contains(F.col("probes"), F.col("cell")))
           .select("query_id", "vec_id",
                   F.round(dot(F.col("embedding"), F.col("qvec")), 6)
                   .alias("sim"))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 5))
    by_query = {}
    for r in got.collect():
        by_query.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.sim))
    for qid in qids:
        single = [(i + 1, r.vec_id, r.sim) for i, r in
                  enumerate(vidx.ivf_topk(qid, n_probe=2, k=5).collect())]
        assert sorted(by_query[qid]) == single, qid

    pf = partition_filters(pruned)
    assert pf and any("cell" in line for line in pf), pf


def test_ivfpq_probing_all_cells_degenerates_to_flat_pq(spark, tmp_path):
    """Invariant: with n_probe = n_cells the IVF restriction admits the
    whole corpus, so IVFADC must return EXACTLY the flat `pq_topk`
    answer (same ADC ranking, same rerank) — pinning that cell pruning
    is pure candidate restriction, never a scoring change."""
    idx_dir = str(tmp_path / "vecpq")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS,
                                      pq_cents=PQ_CENTS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    for qid in (0, 7, 13):
        got = _rows(vidx.ivfpq_topk(qid, n_probe=N_CELLS, k=5, rerank=8))
        flat = _rows(similarity.pq_topk(emb, qid, PQ_CENTS, 5, 8))
        assert got == flat, qid


def test_ivfpq_residual_store_matches_in_session_and_refreshes(
        spark, tmp_path):
    """Residual IVFADC (FAISS IVFPQ proper): the reopened store's
    answers equal the storeless residual compose, codes differ from the
    raw-coded store (the residual form is a different quantizer), and a
    delta refresh re-encodes with the STORED residual books + centroids
    so the pair stays consistent."""
    import numpy as np

    idx_dir = str(tmp_path / "vecpqr")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS,
                                      pq_cents=PQ_CENTS, pq_residual=True)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    assert vidx.pq["residual"] is True

    cents = vidx.centroids
    cmap = {c: np.asarray(v, dtype=float) for c, v in cents}
    rows = (vidx.vectors.select("vec_id", "embedding", "cell")
            .orderBy(F.asc("vec_id")).limit(PQ_CENTS).collect())
    R = np.array([np.asarray(r[1], dtype=float) - cmap[int(r[2])]
                  for r in rows])
    subbooks = [R[:, lo:hi] for lo, hi in similarity.pq_bounds(R.shape[1])]
    for qid in (0, 7, 13):
        got = _rows(vidx.ivfpq_topk(qid, n_probe=2, k=5, rerank=8))
        want = _rows(similarity.ivfpq_topk(emb, qid, cents, subbooks,
                                           2, 5, 8, residual=True))
        assert got == want, qid

    # refresh keeps the consistent pair under the residual contract
    changed = spark.createDataFrame([(7, _vec(107))],
                                    "vec_id long, embedding array<double>")
    refreshed = vector_store.write_vector_refresh(spark, idx_dir, changed)
    re_enc = similarity.pq_encode(refreshed.vectors, subbooks,
                                  keep_cols=("cell",),
                                  residual_centroids=cents)
    assert _rows(refreshed.codes.select("vec_id", "code_0", "code_1")) == \
        _rows(re_enc.select("vec_id", "code_0", "code_1"))


def test_republish_without_pq_drops_stale_sidecar(spark, tmp_path):
    """A full-overwrite republish with pq unset removes the prior epoch's
    PQ sidecar (_pqlayout.json, pq_centroids/, codes/) — otherwise the
    reopened store pairs OLD codes with NEW vectors and ivfpq_topk
    silently ADC-ranks stale codes (round-10 advice)."""
    idx_dir = str(tmp_path / "vecpq")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS,
                                      pq_cents=PQ_CENTS)
    assert vector_store.open_vector_index(spark, idx_dir).pq is not None

    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    assert vidx.pq is None
    assert not os.path.exists(os.path.join(idx_dir,
                                           vector_store.PQ_LAYOUT_NAME))
    assert not os.path.isdir(os.path.join(idx_dir, "pq_centroids"))
    assert not os.path.isdir(os.path.join(idx_dir, "codes"))
    with pytest.raises(ValueError):
        vidx.ivfpq_topk(0)


def test_empty_corpus_pq_republish_drops_stale_sidecar(spark, tmp_path):
    """publish_pq_codes' empty-corpus degrade also drops a prior epoch's
    sidecar: a store republished empty with pq requested reopens pq-less
    instead of pairing old codes with the emptied vectors table."""
    idx_dir = str(tmp_path / "vecpq")
    vector_store.publish_vector_index(_emb(spark, IDS), idx_dir,
                                      n_cells=N_CELLS, pq_cents=PQ_CENTS)
    cents = vector_store.open_vector_index(spark, idx_dir).centroids
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    vector_store.publish_vector_index(empty, idx_dir, centroids=cents,
                                      pq_cents=PQ_CENTS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    assert vidx.pq is None
    assert not os.path.isdir(os.path.join(idx_dir, "codes"))


def test_lsh_layout_records_requested_planes(spark, tmp_path):
    """The layout sidecar carries the geometry REQUEST alongside the
    fitted plane count, and the reopened handle exposes it — the
    identity-stability contract the ingest delta path stamps manifests
    from (round-10 advice)."""
    idx_dir = str(tmp_path / "lshreq")
    emb = _emb(spark, IDS[:3])
    planes = [(0, _vec(50)), (1, _vec(51))]  # fit capped below request
    vector_store.publish_lsh_index(emb, idx_dir, planes=planes,
                                   requested_planes=4)
    lidx = vector_store.open_lsh_index(spark, idx_dir)
    assert lidx.n_planes == 2
    assert lidx.requested_planes == 4
    # default: request == fit (back-compat shape for plain publishes)
    idx2 = str(tmp_path / "lshdef")
    vector_store.publish_lsh_index(emb, idx2, planes=planes)
    assert vector_store.open_lsh_index(spark, idx2).requested_planes == 2


def test_batch_probe_selection_zero_jobs_and_tier_parity(spark, tmp_path):
    """`select_probes_batch` must (a) equal per-query `select_probes` on
    literal- and relational-tier codebooks (the pinned three-tier
    arithmetic) and (b) launch ZERO Spark jobs for the whole batch —
    round-10 verdict item 2: N per-query probe-selection jobs dominated
    the batched ANN at test corpus sizes; batch selection is one local
    matmul over the driver-resident codebook sidecar."""
    idx_dir = str(tmp_path / "vecb")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx_dir, n_cells=N_CELLS)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    qvecs = [vidx.query_vector(i) for i in (0, 3, 7, 11, 19)]

    # literal tier (4 <= LITERAL_CODEBOOK_BOUND)
    singles = [vector_store.select_probes(spark, vidx.centroids, q, 2)
               for q in qvecs]
    batch = vector_store.select_probes_batch(vidx.centroids, qvecs, 2)
    assert batch == singles

    # relational tier (70 > LITERAL_CODEBOOK_BOUND)
    emb300 = spark.createDataFrame([(i, _vec(i)) for i in range(300)],
                                   "vec_id long, embedding array<double>")
    cents = [(i, _vec(i)) for i in range(70)]
    singles70 = [vector_store.select_probes(spark, cents, q, 4)
                 for q in qvecs]
    assert vector_store.select_probes_batch(cents, qvecs, 4) == singles70
    del emb300

    # the batch pass is zero Spark jobs, any tier, any N
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    vector_store.select_probes_batch(vidx.centroids, qvecs * 8, 2)
    vector_store.select_probes_batch(cents, qvecs * 8, 4)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert before == after


def _jitter_vec(base_seed: int, i: int) -> list[float]:
    """A unit vector near _vec(base_seed): small deterministic jitter."""
    base = _vec(base_seed)
    raw = [x + 0.013 * math.sin(i * 3.1 + j) for j, x in enumerate(base)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def test_refresh_detects_and_splits_hot_cell(spark, tmp_path):
    """Round-10 verdict item 6: a deliberately CLUSTERED corpus piles
    most rows into one cell; a refresh with `hot_cell_bound` set detects
    the violation and splits the hot cell (k=2 within its members), the
    balance report is green after, the stored-cell == argmax invariant
    holds store-wide, and IVFADC codes (residual included) are
    re-encoded against the new cells in the same publish."""
    idx_dir = str(tmp_path / "vechot")
    # ids 0..3: well-separated seeds (the data codebook); ids 10..39:
    # clustered tightly around seed 0 -> cell 0 goes hot
    rows = [(i, _vec(i)) for i in range(4)]
    rows += [(10 + i, _jitter_vec(0, i)) for i in range(30)]
    rows += [(50 + i, _vec(i + 1)) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vector_store.publish_vector_index(emb, idx_dir, n_cells=4,
                                      pq_cents=PQ_CENTS, pq_residual=True)
    vidx = vector_store.open_vector_index(spark, idx_dir)
    occ = dict(vector_store.cell_occupancy(vidx))
    total = sum(occ.values())
    share_before = max(occ.values()) / total
    assert share_before > 0.5, occ  # the fixture really is skewed

    # a small delta with the bound set: detection + split at refresh time
    changed = spark.createDataFrame([(10, _jitter_vec(0, 99))],
                                    "vec_id long, embedding array<double>")
    out = vector_store.write_vector_refresh(spark, idx_dir, changed,
                                            hot_cell_bound=0.5)
    rep = out.last_split_report
    assert rep and rep["split"] is True
    assert rep["share_after"] < rep["share_before"]
    assert out.n_cells == 5 and len(out.centroids) == 5

    # balance green after: no cell above the bound
    occ2 = dict(vector_store.cell_occupancy(out))
    assert max(occ2.values()) / total <= 0.5, occ2

    # stored-cell == argmax-nearest against the NEW codebook, store-wide
    stored = sorted((r.vec_id, r.cell) for r in
                    out.vectors.select("vec_id", "cell").collect())
    recomputed = sorted(
        (r.vec_id, r.cell) for r in out.vectors.drop("cell")
        .select("vec_id", similarity.cell_of(out.centroids).alias("cell"))
        .collect())
    assert stored == recomputed

    # codes live in the SAME cells as their raw rows (re-encoded, not
    # stale — the residual contract depends on it) and queries answer
    assert _rows(out.codes.select("vec_id", "cell")) == \
        _rows(out.vectors.select("vec_id", "cell"))
    top = out.ivf_topk(10, n_probe=2, k=5).collect()
    sims = [r.sim for r in top]
    assert len(top) == 5 and sims == sorted(sims, reverse=True)

    # a balanced store under the same bound is a no-op (None report)
    out2 = vector_store.write_vector_refresh(spark, idx_dir, changed,
                                             hot_cell_bound=0.5)
    assert out2.last_split_report is None


# ---------------------------------------------------------------------------
# SQ8 tier (round 11): the scalar-quantized middle rung between raw
# vectors and PQ codes, celled identically, refreshed in the same commit
# ---------------------------------------------------------------------------


def test_sq8_publish_reopen_and_roundtrip(spark, tmp_path):
    """Publishing with sq8=True writes the celled (qcodes, scale) table;
    a reopened handle's dequantized codes equal the numpy int8 round
    trip of the stored vectors, cells agree with the raw table, and
    sq_topk ranks by the quantized sim."""
    import numpy as np

    idx = str(tmp_path / "vecsq")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS, sq8=True)
    vidx = vector_store.open_vector_index(spark, idx)
    assert vidx.sq == {"bits": 8, "scheme": "symmetric-per-vector"}
    sq = {r.vec_id: (list(r.qcodes), r.scale, r.cell)
          for r in vidx.sq_codes.collect()}
    raw = {r.vec_id: (list(r.embedding), r.cell)
           for r in vidx.vectors.collect()}
    assert set(sq) == set(raw)
    for vid, (codes, scale, cell) in sq.items():
        vec, rcell = raw[vid]
        assert cell == rcell  # same partition as the raw row
        expect = similarity._int8_roundtrip_np(
            np.asarray([vec], dtype=np.float64))[0]
        got = np.asarray(codes, dtype=np.float64) * scale / 127.0
        assert got == pytest.approx(list(expect), abs=1e-12)
    top = vidx.sq_topk(3, n_probe=2, k=5).collect()
    sims = [r.sim_q for r in top]
    assert len(top) == 5 and sims == sorted(sims, reverse=True)
    # partition pruning: the probe list lands as a partition filter
    plan = vidx.sq_topk(3, n_probe=2, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan


def test_sq8_refresh_same_commit_and_stale_guard(spark, tmp_path):
    """A delta refresh rewrites the SQ table in the SAME journal as the
    raw vectors (no mixed epoch); a republish with sq8 unset removes the
    sidecar entirely (stale-tier rule)."""
    import numpy as np

    idx = str(tmp_path / "vecsq_r")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS, sq8=True)
    changed = spark.createDataFrame(
        [(3, _vec(103)), (21, _vec(104))],
        "vec_id long, embedding array<double>")
    removed = spark.createDataFrame([(7,)], "vec_id long")
    out = vector_store.write_vector_refresh(spark, idx, changed, removed)
    assert out.sq is not None
    sq = {r.vec_id: (list(r.qcodes), float(r.scale), r.cell)
          for r in out.sq_codes.collect()}
    raw = {r.vec_id: (list(r.embedding), r.cell)
           for r in out.vectors.collect()}
    assert set(sq) == set(raw) and 7 not in sq and 21 in sq
    for vid, (codes, scale, cell) in sq.items():
        vec, rcell = raw[vid]
        assert cell == rcell
        expect = similarity._int8_roundtrip_np(
            np.asarray([vec], dtype=np.float64))[0]
        got = np.asarray(codes, dtype=np.float64) * scale / 127.0
        assert got == pytest.approx(list(expect), abs=1e-12)
    # stale guard: a republish WITHOUT sq8 drops the tier
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS)
    v2 = vector_store.open_vector_index(spark, idx)
    assert v2.sq is None and not os.path.isdir(v2.sq_path)
    with pytest.raises(ValueError, match="no SQ8"):
        v2.sq_topk(3)


def test_sq8_manifest_identity_and_split_preserves_tier(spark, tmp_path):
    """sq8 rides in the staleness identity (a plain store is STALE for an
    sq8 consumer), and a hot-cell split republish keeps the tier."""
    import numpy as np

    idx = str(tmp_path / "vecsq_m")
    emb = _emb(spark, IDS)
    src = str(tmp_path / "sq.parquet")
    emb.write.parquet(src)
    plain, reasons = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=N_CELLS)
    assert reasons and plain.sq is None
    upgraded, reasons2 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=N_CELLS,
        sq8=True)
    assert reasons2  # model identity changed -> rebuild, never reuse
    assert upgraded.sq is not None
    same, reasons3 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx, n_cells=N_CELLS,
        sq8=True)
    assert reasons3 == [] and same.sq is not None
    # clustered fixture -> split; the republish must keep the sq tier
    rng = np.random.default_rng(5)
    seeds = rng.normal(size=(4, DIM)) * 3
    rows = [(i, [float(x) for x in seeds[i]]) for i in range(4)]
    rows += [(30 + i, [float(x) for x in
                       seeds[0] + rng.normal(scale=.01, size=DIM)])
             for i in range(20)]
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx2 = str(tmp_path / "vecsq_split")
    vector_store.publish_vector_index(emb2, idx2, n_cells=4, sq8=True)
    changed = spark.createDataFrame(
        [(30, [float(x) for x in seeds[0] + 0.02])],
        "vec_id long, embedding array<double>")
    out = vector_store.write_vector_refresh(spark, idx2, changed,
                                            hot_cell_bound=0.5)
    assert out.last_split_report and out.last_split_report["split"]
    assert out.sq is not None
    sq_cells = _rows(out.sq_codes.select("vec_id", "cell"))
    raw_cells = _rows(out.vectors.select("vec_id", "cell"))
    assert sq_cells == raw_cells  # re-quantized against the split cells


def test_sq8_multi_refresh_equals_from_scratch_publish(spark, tmp_path):
    """Micro-batch discipline: two sequential delta refreshes on an SQ8
    (+PQ) store leave ALL THREE tables equal to a from-scratch publish
    of the merged corpus under the same codebook/books — the drained-
    artifact rule every streaming maintenance twin relies on, extended
    to the quantized tier."""
    idx = str(tmp_path / "vecsq_seq")
    scratch = str(tmp_path / "vecsq_scratch")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS,
                                      pq_cents=2, sq8=True)
    base = vector_store.open_vector_index(spark, idx)
    books = base.pq_subbooks
    # batch 1: revise 2, add 1; batch 2: delete 1, add 1
    b1 = spark.createDataFrame([(2, _vec(52)), (5, _vec(55)), (40, _vec(40))],
                               "vec_id long, embedding array<double>")
    vector_store.write_vector_refresh(spark, idx, b1)
    b2 = spark.createDataFrame([(41, _vec(41))],
                               "vec_id long, embedding array<double>")
    rm2 = spark.createDataFrame([(9,)], "vec_id long")
    out = vector_store.write_vector_refresh(spark, idx, b2, rm2)
    merged = spark.createDataFrame(
        [(i, _vec(i)) for i in IDS if i not in (2, 5, 9)]
        + [(2, _vec(52)), (5, _vec(55)), (40, _vec(40)), (41, _vec(41))],
        "vec_id long, embedding array<double>")
    vector_store.publish_vector_index(
        merged, scratch, centroids=base.centroids, pq_cents=2,
        pq_subbooks=books, sq8=True)
    ref = vector_store.open_vector_index(spark, scratch)
    assert _vec_rows(out.vectors) == _vec_rows(ref.vectors)
    assert _rows(out.codes) == _rows(ref.codes)
    assert _rows(out.sq_codes.select("vec_id", "cell", "scale", "qcodes")) \
        == _rows(ref.sq_codes.select("vec_id", "cell", "scale", "qcodes"))


def test_bq_publish_reopen_pack_and_refresh(spark, tmp_path):
    """BQ tier: packed words equal the driver-side twin bit-for-bit,
    cells agree with raw rows, bq_topk's hamming equals the literal
    sign-mismatch count, a delta refresh rewrites the tier in the same
    commit, and a republish without bq1 drops it."""
    import numpy as np

    idx = str(tmp_path / "vecbq")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS, bq1=True)
    vidx = vector_store.open_vector_index(spark, idx)
    assert vidx.bq == {"dim": DIM, "words": 1}
    bq = {r.vec_id: (list(r.bq), r.cell) for r in vidx.bq_codes.collect()}
    raw = {r.vec_id: (list(r.embedding), r.cell)
           for r in vidx.vectors.collect()}
    assert set(bq) == set(raw)
    for vid, (words, cell) in bq.items():
        vec, rcell = raw[vid]
        assert cell == rcell
        assert words == similarity.bq_pack_np(
            np.asarray(vec, dtype=np.float64))
    # hamming in the result equals the literal per-dim sign mismatch
    q = np.asarray(raw[3][0], dtype=np.float64)
    top = vidx.bq_topk(3, n_probe=N_CELLS, k=5, rerank=50).collect()
    for r in top:
        v = np.asarray(raw[r.vec_id][0], dtype=np.float64)
        assert r.hamming == int(((q > 0) != (v > 0)).sum())
    sims = [r.sim for r in top]
    assert len(top) == 5 and sims == sorted(sims, reverse=True)
    # delta refresh rewrites the tier in the same commit
    changed = spark.createDataFrame([(4, _vec(94)), (33, _vec(33))],
                                    "vec_id long, embedding array<double>")
    rm = spark.createDataFrame([(11,)], "vec_id long")
    out = vector_store.write_vector_refresh(spark, idx, changed, rm)
    bq2 = {r.vec_id: list(r.bq) for r in out.bq_codes.collect()}
    raw2 = {r.vec_id: list(r.embedding) for r in out.vectors.collect()}
    assert set(bq2) == set(raw2) and 11 not in bq2 and 33 in bq2
    for vid, words in bq2.items():
        assert words == similarity.bq_pack_np(
            np.asarray(raw2[vid], dtype=np.float64))
    # stale guard
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS)
    v2 = vector_store.open_vector_index(spark, idx)
    assert v2.bq is None and not os.path.isdir(v2.bq_path)
    with pytest.raises(ValueError, match="no BQ"):
        v2.bq_topk(3)


def test_bq_pack_multiword_and_manifest_identity(spark, tmp_path):
    """dim > 64 packs into multiple words (same rule per word); bq1
    rides the staleness identity."""
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.normal(size=(10, 70))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(10)],
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "vecbq_w")
    vector_store.publish_vector_index(emb, idx, n_cells=2, bq1=True)
    vidx = vector_store.open_vector_index(spark, idx)
    assert vidx.bq == {"dim": 70, "words": 2}
    for r in vidx.bq_codes.collect():
        assert list(r.bq) == similarity.bq_pack_np(X[r.vec_id])
    src = str(tmp_path / "bq.parquet")
    emb.write.parquet(src)
    idx2 = str(tmp_path / "vecbq_m")
    plain, r1 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx2, n_cells=2)
    assert r1 and plain.bq is None
    up, r2 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx2, n_cells=2, bq1=True)
    assert r2 and up.bq is not None
    same, r3 = vector_store.ensure_vector_index(
        spark, spark.read.parquet(src), src, idx2, n_cells=2, bq1=True)
    assert r3 == [] and same.bq is not None


def test_bq_batch_parity_with_point_path(spark, tmp_path, sf_dir):
    """The batched BQ form returns exactly the per-query `bq_topk` rows
    (same probes, same Hamming prefilter depth, same rerank), for every
    query in the batch."""
    from hadith_vector_search_spark.plans import semantic

    batch = semantic.bq_batch_published(spark, sf_dir, 4).collect()
    vidx = semantic.get_vector_store(spark, sf_dir, "vecbq")
    for qid in range(4):
        got = sorted((r.vec_id, r.hamming, r.sim)
                     for r in batch if r.query_id == qid)
        want = sorted((r.vec_id, r.hamming, r.sim)
                      for r in vidx.bq_topk(
                          qid, semantic.IVF_PROBE, semantic.ANN_K,
                          semantic.PQ_RERANK).collect())
        assert got == want, qid


def test_bq_resident_point_tier_row_identity(spark, tmp_path):
    """The driver-resident BQ point tier (enable_interactive on the
    store handle) returns ROW-IDENTICAL results to the Spark store path
    at every geometry — including the governed-None knobs — and follows
    the engine tiers' bound discipline (refusal leaves the store on the
    Spark path; fallback collects the plan)."""
    idx = str(tmp_path / "vecbq_res")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS, bq1=True)
    vidx = vector_store.open_vector_index(spark, idx)
    # fallback BEFORE enabling: the point call collects the Spark plan
    fb = vidx.bq_topk_point(3, n_probe=2, k=4, rerank=8)
    want = [tuple(r) for r in
            vidx.bq_topk(3, n_probe=2, k=4, rerank=8).collect()]
    assert fb == want
    assert vidx.enable_interactive()
    assert vidx.interactive_enabled
    for qid in (0, 3, 7, 19):
        for n_probe, k, rerank in ((1, 3, 5), (2, 4, 8),
                                   (N_CELLS, 5, 50), (None, 5, None)):
            got = vidx.bq_topk_point(qid, n_probe, k, rerank)
            want = [tuple(r) for r in
                    vidx.bq_topk(qid, n_probe, k, rerank).collect()]
            assert got == want, (qid, n_probe, k, rerank)
    with pytest.raises(KeyError):
        vidx.bq_topk_point(999)
    # bound refusal: no tier left resident, store unchanged
    v2 = vector_store.open_vector_index(spark, idx)
    assert v2.enable_interactive(max_driver_rows=3) is False
    assert not v2.interactive_enabled
    assert [tuple(r) for r in v2.bq_topk(3, 2, 4, 8).collect()] \
        == v2.bq_topk_point(3, 2, 4, 8)
    # a store without the BQ tier refuses
    idx2 = str(tmp_path / "nobq_res")
    vector_store.publish_vector_index(emb, idx2, n_cells=N_CELLS)
    v3 = vector_store.open_vector_index(spark, idx2)
    assert v3.enable_interactive() is False


def _dir_bytes(path):
    """{relative file path: bytes} snapshot of a directory tree."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith("."):
                continue
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_incremental_split_byte_invariance_and_republish_parity(
        spark, tmp_path):
    """Round-11 verdict item 5: the partition-local split rewrites ONLY
    the hot cell's dir + the new child dir + dirs that exchange rows
    with a child — every untouched cell dir is BYTE-invariant across the
    split, on every tier — and the split store equals a full republish
    of the same vectors at the same expanded codebook (rebuild
    equivalence), stamps included."""
    import shutil as _shutil

    # three far-apart clusters on distinct axes; the hot cluster has two
    # tight sub-lobes so k=2 splits it WITHOUT attracting foreign rows
    def axis(i, a, eps=0.0, lobe=0.0):
        v = [0.0] * DIM
        v[a] = 1.0 + eps
        v[(a + 3) % DIM] = lobe
        return (i, v)

    rows = [axis(i, 0, eps=0.001 * i, lobe=0.4 if i % 2 else -0.4)
            for i in range(20)]                       # hot cluster, 2 lobes
    rows += [axis(40 + i, 1, eps=0.001 * i) for i in range(4)]
    rows += [axis(60 + i, 2, eps=0.001 * i) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0, 0, 0, 0, 0]), (1, [0, 1.0, 0, 0, 0, 0]),
             (2, [0, 0, 1.0, 0, 0, 0])]
    idx = str(tmp_path / "vecsplit_inc")
    vector_store.publish_vector_index(emb, idx, centroids=cents,
                                      pq_cents=PQ_CENTS, pq_residual=True,
                                      sq8=True, bq1=True)
    pre = vector_store.open_vector_index(spark, idx)
    occ = dict(vector_store.cell_occupancy(pre))
    assert occ[0] == 20  # the fixture really is skewed
    from hadith_vector_search_spark.sources.manifest import (IndexManifest,
                                                             write_manifest)
    write_manifest(idx, IndexManifest(model_name="split-inc-v1", dim=DIM,
                                      n_rows=28, source_files={}))

    # identical twin for the full-republish reference
    idx_ref = str(tmp_path / "vecsplit_ref")
    _shutil.copytree(idx, idx_ref)

    before = {t: _dir_bytes(os.path.join(idx, t))
              for t in ("vectors", "codes", "sq", "bq")}
    report = vector_store.split_hot_cell(spark, idx, share_bound=0.5)
    assert report and report["split"] is True and report["n_cells"] == 4
    out = vector_store.open_vector_index(spark, idx)

    # 1) argmax invariant holds store-wide after the bounded rewrite
    stored = sorted((r.vec_id, r.cell) for r in
                    out.vectors.select("vec_id", "cell").collect())
    recomputed = sorted(
        (r.vec_id, r.cell) for r in out.vectors.drop("cell")
        .select("vec_id", similarity.cell_of(out.centroids).alias("cell"))
        .collect())
    assert stored == recomputed

    # 2) untouched dirs (cells 1 and 2 — far axes, no row exchanged)
    # are byte-invariant on EVERY tier; the hot dir + child dir changed
    after = {t: _dir_bytes(os.path.join(idx, t))
             for t in ("vectors", "codes", "sq", "bq")}
    for t in ("vectors", "codes", "sq", "bq"):
        for d in ("cell=1", "cell=2"):
            b = {k: v for k, v in before[t].items() if k.startswith(d)}
            a = {k: v for k, v in after[t].items() if k.startswith(d)}
            assert b and a == b, (t, d, "untouched dir must not move")
        assert any(k.startswith("cell=3") for k in after[t]), t
        hot_b = {k for k in before[t] if k.startswith("cell=0")}
        hot_a = {k for k in after[t] if k.startswith("cell=0")}
        assert hot_a != hot_b or any(
            after[t][k] != before[t].get(k) for k in hot_a), t

    # 3) rebuild equivalence: a FULL republish of the same vectors at
    # the same expanded codebook lands on the same content, every tier
    ref_pre = vector_store.open_vector_index(spark, idx_ref)
    vector_store.publish_vector_index(
        ref_pre.vectors.drop("cell"), idx_ref, centroids=out.centroids,
        id_col="vec_id", pq_cents=PQ_CENTS,
        pq_subbooks=ref_pre.pq_subbooks, pq_residual=True,
        sq8=True, bq1=True)
    ref = vector_store.open_vector_index(spark, idx_ref)
    for t in ("vectors", "codes", "sq_codes", "bq_codes"):
        got = sorted(map(repr, getattr(out, t).collect()))
        exp = sorted(map(repr, getattr(ref, t).collect()))
        assert got == exp, f"{t} diverged from the full republish"
    assert out.n_cells == ref.n_cells == 4
    # the +split identity landed in the same journal as the data
    from hadith_vector_search_spark.sources.manifest import read_manifest
    assert "+split4" in read_manifest(idx).model_name
    # pre-split governance contracts did not survive (explicit-geometry
    # store here: both sidecars must carry no rerank stamp)
    assert "rerank" not in (out.pq or {})
    assert "rerank" not in (out.bq or {})


def test_sq8_resident_point_tier_row_identity(spark, tmp_path):
    """The SQ8 resident twin (enable_interactive on a store carrying the
    int8 tier) returns ROW-IDENTICAL results to sq_topk at every
    geometry, and a BQ-less SQ8-only store can still enable the tier."""
    idx = str(tmp_path / "vecsq_res")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS, sq8=True)
    vidx = vector_store.open_vector_index(spark, idx)
    # fallback BEFORE enabling collects the Spark plan
    assert vidx.sq_topk_point(3, 2, 4) == [
        tuple(r) for r in vidx.sq_topk(3, 2, 4).collect()]
    assert vidx.enable_interactive()  # SQ8-only store: tier still enables
    for qid in (0, 3, 7, 19):
        for n_probe, k in ((1, 3), (2, 4), (N_CELLS, 5), (None, 5)):
            got = vidx.sq_topk_point(qid, n_probe, k)
            want = [tuple(r) for r in
                    vidx.sq_topk(qid, n_probe, k).collect()]
            assert got == want, (qid, n_probe, k)
    # the BQ point call on an SQ8-only resident store falls back cleanly
    with pytest.raises(ValueError, match="no BQ"):
        vidx.bq_topk_point(3, 2, 4, 8)
    # full-ladder store: both resident tiers serve side by side
    idx2 = str(tmp_path / "vecboth_res")
    vector_store.publish_vector_index(emb, idx2, n_cells=N_CELLS,
                                      sq8=True, bq1=True)
    v2 = vector_store.open_vector_index(spark, idx2)
    assert v2.enable_interactive()
    assert v2.sq_topk_point(5, 2, 4) == [
        tuple(r) for r in v2.sq_topk(5, 2, 4).collect()]
    assert v2.bq_topk_point(5, 2, 4, 8) == [
        tuple(r) for r in v2.bq_topk(5, 2, 4, 8).collect()]


def test_split_crash_mid_commit_recovers_whole_epoch(spark, tmp_path,
                                                     monkeypatch):
    """Kill during the incremental split's journal replay: the next open
    rolls FORWARD to the WHOLE post-split epoch — re-tagged partition
    dirs, the EXPANDED codebook, the layout, and the +split manifest all
    land together (one journal), so a reopen can never pair old
    centroids with split cells or vice versa."""
    idx = str(tmp_path / "vecsplit_kill")
    rows = [(i, _vec(i)) for i in range(4)]
    rows += [(10 + i, _jitter_vec(0, i)) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vector_store.publish_vector_index(emb, idx, n_cells=4, bq1=True)
    from hadith_vector_search_spark.sources.manifest import (IndexManifest,
                                                             write_manifest)
    write_manifest(idx, IndexManifest(model_name="kill-v1", dim=DIM,
                                      n_rows=34, source_files={}))

    def partial(store_dir, ops):
        assert ops
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        vector_store.split_hot_cell(spark, idx, share_bound=0.5)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx, vector_store.JOURNAL_NAME))

    out = vector_store.open_vector_index(spark, idx)  # rolls forward
    assert not os.path.exists(os.path.join(idx, vector_store.JOURNAL_NAME))
    assert out.n_cells == 5 and len(out.centroids) == 5
    # argmax invariant against the EXPANDED codebook, store-wide
    stored = sorted((r.vec_id, r.cell) for r in
                    out.vectors.select("vec_id", "cell").collect())
    recomputed = sorted(
        (r.vec_id, r.cell) for r in out.vectors.drop("cell")
        .select("vec_id", similarity.cell_of(out.centroids).alias("cell"))
        .collect())
    assert stored == recomputed
    # BQ tier moved in the same epoch: every code row matches its vector
    bq = {r.vec_id: (list(r.bq), r.cell) for r in out.bq_codes.collect()}
    raw = {r.vec_id: (list(r.embedding), r.cell)
           for r in out.vectors.collect()}
    assert set(bq) == set(raw)
    import numpy as np
    for vid, (words, cell) in bq.items():
        assert cell == raw[vid][1]
        assert words == similarity.bq_pack_np(
            np.asarray(raw[vid][0], dtype=np.float64))
    from hadith_vector_search_spark.sources.manifest import read_manifest
    assert read_manifest(idx).model_name == "kill-v1+split5"


def test_unwritable_index_root_falls_back_to_temp_root_once(
        spark, sf_dir, tmp_path, monkeypatch, capfd):
    """An index root that cannot be written (here: a path under a
    regular file — chmod does not stop root) moves the process to ONE
    temp root: the first store getter tries the configured root once,
    warns once, and publishes under the temp root; every later getter
    goes straight there. Rows equal the writable root's."""
    from hadith_vector_search_spark.plans import dedup as dplans
    from hadith_vector_search_spark.plans import lexical, semantic

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def serve():
        return (rows(semantic.bq_batch_published(spark, sf_dir, 4)),
                rows(semantic.ann_topk_sq8_published(spark, sf_dir)),
                rows(dplans.get_window_index(spark, sf_dir)))

    want = serve()
    blocker = tmp_path / "a_regular_file"
    blocker.write_text("not a directory")
    bad_root = str(blocker / "indexes")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", bad_root)
    monkeypatch.setattr(lexical, "_FALLBACK_ROOT", None)
    # the new index root restamps every session-cache entry, so every
    # getter runs its ensure
    tries = []
    publish_and_open = lexical.publish_and_open

    def spy(sf, suffix, fn):
        def attempt(idx_dir):
            if idx_dir.startswith(bad_root):
                tries.append(idx_dir)
            return fn(idx_dir)
        return publish_and_open(sf, suffix, attempt)

    monkeypatch.setattr(lexical, "publish_and_open", spy)
    capfd.readouterr()
    assert serve() == want
    assert len(tries) == 1, tries
    temp_root = lexical._index_root()
    assert os.path.basename(temp_root).startswith("graft_index_")
    assert sorted(os.listdir(temp_root)) == sorted(
        sf_dir.strip("/").replace("/", "_") + sfx
        for sfx in ("_vecbq", "_vecsq",
                    f"_windows_w{dplans.dedup.DUPSPAN_W}"))
    assert capfd.readouterr().err.count("is unwritable") == 1


def test_ivfpq_resident_point_tier_row_identity(spark, tmp_path):
    """The IVFADC resident twin returns ROW-IDENTICAL results to
    ivfpq_topk at every geometry, for both plain and RESIDUAL code
    tables (the cell-dot association is part of the contract)."""
    emb = _emb(spark, IDS)
    for residual in (False, True):
        idx = str(tmp_path / f"vecpq_res_{int(residual)}")
        vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS,
                                          pq_cents=PQ_CENTS,
                                          pq_residual=residual)
        vidx = vector_store.open_vector_index(spark, idx)
        assert vidx.ivfpq_topk_point(3, 2, 4, 8) == [
            tuple(r) for r in vidx.ivfpq_topk(3, 2, 4, 8).collect()]
        assert vidx.enable_interactive()  # PQ-only store qualifies
        for qid in (0, 3, 19):
            for n_probe, k, rerank in ((1, 3, 5), (2, 4, 8),
                                       (N_CELLS, 5, 50), (None, 4, None)):
                got = vidx.ivfpq_topk_point(qid, n_probe, k, rerank)
                want = [tuple(r) for r in
                        vidx.ivfpq_topk(qid, n_probe, k,
                                        rerank).collect()]
                assert got == want, (residual, qid, n_probe, k, rerank)


def test_export_vectors_binary_roundtrip(spark, tmp_path):
    """The hnsw-shaped export round-trips: float32 row-major vectors in
    id order + int64 ids + a manifest carrying the store identity,
    streamed in bounded batches (batch_rows smaller than the corpus)."""
    import json as _json
    import struct

    import numpy as np

    idx = str(tmp_path / "vec_export")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS)
    from hadith_vector_search_spark.sources.manifest import (IndexManifest,
                                                             write_manifest)
    write_manifest(idx, IndexManifest(model_name="exp-v1", dim=DIM,
                                      n_rows=len(IDS), source_files={}))
    out = str(tmp_path / "hnsw_out")
    payload = vector_store.export_vectors_binary(spark, idx, out,
                                                 batch_rows=7)
    assert payload["count"] == len(IDS) and payload["dim"] == DIM
    assert payload["model_name"] == "exp-v1"
    mf = _json.load(open(os.path.join(out, "export_manifest.json")))
    assert mf == payload
    raw_ids = open(os.path.join(out, "ids.bin"), "rb").read()
    ids = list(struct.unpack(f"<{len(IDS)}q", raw_ids))
    assert ids == sorted(IDS)
    vecs = np.frombuffer(open(os.path.join(out, "vectors.f32"),
                              "rb").read(),
                         dtype="<f4").reshape(len(IDS), DIM)
    want = {r.vec_id: [float(x) for x in r.embedding]
            for r in vector_store.open_vector_index(spark, idx)
            .vectors.collect()}
    for row_i, vid in enumerate(ids):
        assert np.allclose(vecs[row_i],
                           np.asarray(want[vid], dtype=np.float32))


def test_export_rejects_non_integral_ids_before_writing(spark, tmp_path):
    """A store published with a string id column must fail the binary
    export UP FRONT (the int64 ids.bin contract) — never mid-stream with
    a torn vectors.f32/ids.bin pair left behind."""
    idx = str(tmp_path / "vec_export_str")
    emb = spark.createDataFrame(
        [(f"doc-{i}", _vec(i)) for i in IDS],
        "vec_id string, embedding array<double>")
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS)
    out = str(tmp_path / "hnsw_out_str")
    with pytest.raises(ValueError, match="integral id column"):
        vector_store.export_vectors_binary(spark, idx, out)
    assert not os.path.exists(os.path.join(out, "vectors.f32"))
    assert not os.path.exists(os.path.join(out, "ids.bin"))


def test_resident_tier_serves_refresh_on_new_handle(spark, tmp_path):
    """After `write_vector_refresh` adds an id, a handle opened after it
    serves that id from its resident tier, row-identical to the Spark
    store path on the BQ, SQ8 and IVFADC tiers; a handle enabled before
    the refresh keeps its snapshot until it is re-enabled."""
    idx = str(tmp_path / "vec_refresh_res")
    vector_store.publish_vector_index(_emb(spark, IDS), idx,
                                      n_cells=N_CELLS, sq8=True, bq1=True,
                                      pq_cents=PQ_CENTS)
    before = vector_store.open_vector_index(spark, idx)
    assert before.enable_interactive()
    new_id = max(IDS) + 1
    vector_store.write_vector_refresh(spark, idx, _emb(spark, [new_id]),
                                      vidx=before, reopen=False)
    after = vector_store.open_vector_index(spark, idx)
    assert after.enable_interactive()
    assert after.bq_topk_point(new_id, 2, 4, 8) == [
        tuple(r) for r in after.bq_topk(new_id, 2, 4, 8).collect()]
    assert after.sq_topk_point(new_id, 2, 4) == [
        tuple(r) for r in after.sq_topk(new_id, 2, 4).collect()]
    assert after.ivfpq_topk_point(new_id, 2, 4, 8) == [
        tuple(r) for r in after.ivfpq_topk(new_id, 2, 4, 8).collect()]
    # the earlier handle serves its pre-refresh snapshot ...
    with pytest.raises(KeyError):
        before.bq_topk_point(new_id, 2, 4, 8)
    # ... until it is re-enabled
    assert before.enable_interactive()
    assert before.bq_topk_point_batch([new_id, 3], 2, 4, 8) == [
        after.bq_topk_point(q, 2, 4, 8) for q in (new_id, 3)]


def test_resident_byte_bound_refuses_wide_stores(spark, tmp_path):
    """enable_interactive bounds BYTES, not just rows (round-12 ADVICE:
    at dim 384 the row cap alone admits ~1.5-2 GB of driver arrays)."""
    idx = str(tmp_path / "vec_bytes")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS, bq1=True)
    vidx = vector_store.open_vector_index(spark, idx)
    est = vidx.estimated_resident_bytes(len(IDS))
    # the estimate covers at least the raw matrix + ids + packed words
    assert est >= len(IDS) * (DIM * 8 + 8 + 8 + 8)
    assert vidx.enable_interactive(max_driver_bytes=est - 1) is False
    assert not vidx.interactive_enabled
    assert vidx.enable_interactive(max_driver_bytes=est)
    assert vidx.interactive_enabled


def test_point_batch_row_identical_to_singles(spark, tmp_path):
    """`*_topk_point_batch` returns exactly N single calls' rows (the
    batched Hamming sweep is integer-exact; the float stages reuse the
    single call's ops), including empty-result and fallback paths."""
    idx = str(tmp_path / "vec_batch_point")
    emb = _emb(spark, IDS)
    vector_store.publish_vector_index(emb, idx, n_cells=N_CELLS,
                                      sq8=True, bq1=True, pq_cents=4)
    vidx = vector_store.open_vector_index(spark, idx)
    qids = [0, 3, 7, 19, 11]
    # fallback BEFORE enabling: still row-identical (delegates)
    assert vidx.bq_topk_point_batch(qids[:2], 2, 4, 8) == [
        vidx.bq_topk_point(q, 2, 4, 8) for q in qids[:2]]
    assert vidx.enable_interactive()
    for n_probe, k, rerank in ((1, 3, 5), (2, 4, 8), (None, 5, None)):
        assert vidx.bq_topk_point_batch(qids, n_probe, k, rerank) == [
            vidx.bq_topk_point(q, n_probe, k, rerank) for q in qids], \
            (n_probe, k, rerank)
        assert vidx.sq_topk_point_batch(qids, n_probe, k) == [
            vidx.sq_topk_point(q, n_probe, k) for q in qids]
        assert vidx.ivfpq_topk_point_batch(qids, n_probe, k, rerank) == [
            vidx.ivfpq_topk_point(q, n_probe, k, rerank) for q in qids]
    with pytest.raises(KeyError):
        vidx.bq_topk_point_batch([0, 999])


def test_lsh_publish_stamps_governed_nflip(spark, tmp_path):
    """round-12 verdict item 5: the publish stamps the governed
    multiprobe flip count (order-statistic inversion over sample flip
    depths) into the LSH layout, and `lsh_topk(n_flip=None)` resolves to
    it — row-identical to passing the stamped value explicitly."""
    import json as _json

    idx = str(tmp_path / "lsh_gov")
    emb = _emb(spark, IDS)
    vector_store.publish_lsh_index(emb, idx, n_planes=4)
    lay = _json.load(open(os.path.join(idx, "_lshlayout.json")))
    assert "n_flip" in lay and lay["n_flip"] >= 0
    assert lay["flip_measured_recall"] >= lay["flip_recall_target"]
    assert lay["flip_reachable_pairs"] <= lay["flip_pairs"]
    lidx = vector_store.open_lsh_index(spark, idx)
    assert lidx.resolve_nflip(None) == lay["n_flip"]
    assert lidx.resolve_nflip(3) == 3  # explicit passes through
    got = _rows(lidx.lsh_topk(5, k=4, n_flip=None))
    want = _rows(lidx.lsh_topk(5, k=4, n_flip=lay["n_flip"]))
    assert got == want
    # pre-governance artifacts (no stamp) fall back to the config default
    import os as _os
    lay2 = {k: v for k, v in lay.items() if not k.startswith(("n_flip",
                                                             "flip_"))}
    with open(_os.path.join(idx, "_lshlayout.json"), "w") as fh:
        _json.dump(lay2, fh)
    old = vector_store.open_lsh_index(spark, idx)
    assert old.resolve_nflip(None) == 2
