"""Ingestion CLI end-to-end (ref mcp_server/apps/ingestion.py:96-185):
validated scan → classify → merge → manifest-gated index refresh, plus
idempotent re-run and the --force-index-refresh semantics."""

from __future__ import annotations

import json
import os

import pytest

from hadith_vector_search_spark.ingest import (book_paths, main,
                                               run_ingestion)
from hadith_vector_search_spark.sources.ingest import ValidationError


def _write_book(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _snapshot(table):
    out = {}
    for root, _, files in os.walk(table):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


@pytest.fixture()
def corpus(tmp_path):
    data = str(tmp_path / "books")
    _write_book(os.path.join(data, "book_1.jsonl"),
                [{"doc_id": i, "text": f"alpha beta doc {i}", "lang": "en",
                  "source": "b1"} for i in range(5)])
    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100 + i, "text": f"gamma delta doc {i}",
                  "lang": "en", "source": "b2"} for i in range(3)])
    return data, str(tmp_path / "corpus.parquet")


def test_ingest_end_to_end_and_idempotent_rerun(spark, corpus):
    data, table = corpus
    totals = run_ingestion(spark, data, table, do_update_indexes=True,
                           log=lambda *_: None)
    assert totals == {"n_incoming": 8, "n_insert": 8, "n_update": 0,
                      "n_skip": 0}
    rows = {r.doc_id: r for r in spark.read.parquet(table).collect()}
    assert set(rows) == set(range(5)) | {100, 101, 102}
    assert rows[0].n_chars == len("alpha beta doc 0")
    # derived indexes exist with manifests
    for name in ("fts", "vector", "lsh"):
        assert os.path.exists(os.path.join(f"{table}_indexes", name,
                                           "_index_manifest.json"))

    before = _snapshot(table)
    totals2 = run_ingestion(spark, data, table, do_update_indexes=True,
                            log=lambda *_: None)
    assert totals2 == {"n_incoming": 8, "n_insert": 0, "n_update": 0,
                       "n_skip": 8}
    assert _snapshot(table) == before, "no-change re-run must not rewrite"


def test_ingest_incremental_update(spark, corpus):
    data, table = corpus
    run_ingestion(spark, data, table, log=lambda *_: None)
    # one changed row + one new row in book_2
    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100, "text": "gamma delta doc 0", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 101, "text": "CHANGED text", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 103, "text": "brand new", "lang": "en",
                  "source": "b2"}])
    totals = run_ingestion(spark, data, table, books=["2"],
                           log=lambda *_: None)
    assert (totals["n_insert"], totals["n_update"], totals["n_skip"]) == (1, 1, 1)
    rows = {r.doc_id: r.text for r in spark.read.parquet(table).collect()}
    assert rows[101] == "CHANGED text" and rows[103] == "brand new"
    assert rows[0] == "alpha beta doc 0", "untouched book must survive merge"


def test_index_manifest_gating_and_force(spark, corpus):
    from hadith_vector_search_spark.ingest import update_indexes

    data, table = corpus
    run_ingestion(spark, data, table, log=lambda *_: None)
    idx = f"{table}_indexes"
    first = update_indexes(spark, table, idx)
    assert all(first[n] for n in ("fts", "vector", "lsh")), \
        "first build has reasons"
    second = update_indexes(spark, table, idx)
    assert second == {"fts": [], "vector": [], "lsh": []}, \
        "fresh manifests -> reuse"
    forced = update_indexes(spark, table, idx, force=True)
    assert forced == {"fts": ["forced refresh"],
                      "vector": ["forced refresh"],
                      "lsh": ["forced refresh"]}
    vecs = spark.read.parquet(os.path.join(idx, "vector", "vectors"))
    assert vecs.count() == 8 and len(vecs.first().embedding) == 384


def test_validation_gate_halts_bad_book(spark, tmp_path):
    data = str(tmp_path / "books")
    _write_book(os.path.join(data, "book_9.jsonl"),
                [{"doc_id": i, "text": "ok", "lang": "en", "source": "b"}
                 for i in range(3)])
    with open(os.path.join(data, "book_9.jsonl"), "a") as fh:
        for _ in range(12):
            fh.write("{not valid json\n")
    with pytest.raises(ValidationError):
        run_ingestion(spark, data, str(tmp_path / "t.parquet"),
                      log=lambda *_: None)


def test_book_selection_and_cli_main(spark, corpus, capsys):
    data, table = corpus
    assert [os.path.basename(p) for p in book_paths(data, None)] == \
        ["book_1.jsonl", "book_2.jsonl"]
    with pytest.raises(FileNotFoundError):
        book_paths(data, ["77"])
    # argparse surface end-to-end (reuses the live test session via
    # getOrCreate); --force-index-refresh implies index update
    rc = main(["--data-dir", data, "--table", table, "--book", "1",
               "--force-index-refresh"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "book_1.jsonl" in out and "forced refresh" in out
    assert "Ingestion totals" in out
    rc_bad = main(["--data-dir", data, "--table", table, "--book", "77"])
    assert rc_bad == 1


def test_ingest_delta_refresh_equals_rebuild(spark, corpus):
    """When the published indexes are FRESH w.r.t. the pre-merge corpus,
    a changed batch takes the DELTA path (bucket-level lexical write-back
    + changed-rows-only re-embed) — and the on-disk result must equal a
    forced full rebuild over the merged corpus."""
    from hadith_vector_search_spark.sources import index_store

    data, table = corpus
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100, "text": "gamma delta doc 0", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 101, "text": "CHANGED epsilon text",
                  "lang": "en", "source": "b2"},
                 {"doc_id": 103, "text": "brand new zeta", "lang": "en",
                  "source": "b2"}])
    logs = []
    run_ingestion(spark, data, table, books=["2"], do_update_indexes=True,
                  log=logs.append)
    assert any("delta-refreshed" in line for line in logs), logs

    idx = f"{table}_indexes"
    delta_idx = index_store.open_index(spark, os.path.join(idx, "fts"))
    delta_post = sorted((r.doc_id, r.term, r.tf)
                        for r in delta_idx.postings.collect())
    delta_vecs = {r.doc_id: list(r.embedding) for r in spark.read.parquet(
        os.path.join(idx, "vector", "vectors")).collect()}
    delta_sigs = sorted((r.doc_id, r.bucket) for r in spark.read.parquet(
        os.path.join(idx, "lsh", "sigs")).collect())

    from hadith_vector_search_spark.ingest import update_indexes
    update_indexes(spark, table, idx, force=True)
    full_idx = index_store.open_index(spark, os.path.join(idx, "fts"))
    assert delta_post == sorted((r.doc_id, r.term, r.tf)
                                for r in full_idx.postings.collect())
    full_vecs = {r.doc_id: list(r.embedding) for r in spark.read.parquet(
        os.path.join(idx, "vector", "vectors")).collect()}
    assert delta_vecs == full_vecs
    assert delta_sigs == sorted(
        (r.doc_id, r.bucket) for r in spark.read.parquet(
            os.path.join(idx, "lsh", "sigs")).collect())
    # and the delta re-stamped the manifest: a third no-change run reuses
    third = update_indexes(spark, table, idx)
    assert third == {"fts": [], "vector": [], "lsh": []}


def test_ingest_delta_manifest_counts_tokenless_docs(spark, corpus):
    """The delta path must stamp both manifests with the FULL post-merge
    corpus row count, not the index's stats.n_docs (docs with >=1 token):
    a token-less row in the batch would otherwise desync the lexical
    manifest forever, turning every later no-change run into a full
    rebuild (lost incrementality, never wrong results)."""
    from hadith_vector_search_spark.ingest import update_indexes
    from hadith_vector_search_spark.sources import index_store
    from hadith_vector_search_spark.sources.manifest import is_fresh

    data, table = corpus
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100, "text": "gamma delta doc 0", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 101, "text": "gamma delta doc 1", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 102, "text": "gamma delta doc 2", "lang": "en",
                  "source": "b2"},
                 # valid row, zero tokens after tokenization
                 {"doc_id": 104, "text": "", "lang": "en", "source": "b2"}])
    logs = []
    run_ingestion(spark, data, table, books=["2"], do_update_indexes=True,
                  log=logs.append)
    assert any("delta-refreshed" in line for line in logs), logs

    n_rows = spark.read.parquet(table).count()
    assert is_fresh(os.path.join(f"{table}_indexes", "fts"),
                    index_store.lexical_manifest(table, n_rows))
    third = update_indexes(spark, table, f"{table}_indexes")
    assert third == {"fts": [], "vector": [], "lsh": []}


def test_ingest_store_carries_consistent_ivfadc_codes(spark, corpus):
    """The CLI-maintained vector store is a full IVFADC artifact: codes
    ride next to the raw cells, stay re-derivable from the stored
    vectors + stored sub-codebooks (consistent pair) AFTER a delta
    refresh, and the delta preserves the publish-time sub-books (the
    codebook-immutability rule)."""
    import numpy as np

    from hadith_vector_search_spark.operators import similarity
    from hadith_vector_search_spark.sources import vector_store

    data, table = corpus
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    idx = os.path.join(f"{table}_indexes", "vector")
    vidx = vector_store.open_vector_index(spark, idx)
    assert vidx.pq is not None
    books_before = [b.copy() for b in vidx.pq_subbooks]

    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100, "text": "gamma delta doc 0", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 101, "text": "REVISED epsilon body",
                  "lang": "en", "source": "b2"},
                 {"doc_id": 105, "text": "fresh zeta entry", "lang": "en",
                  "source": "b2"}])
    run_ingestion(spark, data, table, books=["2"], do_update_indexes=True,
                  log=lambda *_: None)

    after = vector_store.open_vector_index(spark, idx)
    for b0, b1 in zip(books_before, after.pq_subbooks):
        assert np.array_equal(b0, b1)  # delta never retrains the books
    re_enc = similarity.pq_encode(after.vectors, after.pq_subbooks,
                                  id_col="doc_id", keep_cols=("cell",))
    code_cols = [c for c in after.codes.columns if c.startswith("code_")]
    assert sorted(tuple(r) for r in
                  after.codes.select("doc_id", "cell", *code_cols)
                  .collect()) == \
        sorted(tuple(r) for r in
               re_enc.select("doc_id", "cell", *code_cols).collect())
    assert {r.doc_id for r in after.codes.select("doc_id").collect()} == \
        {r.doc_id for r in after.vectors.select("doc_id").collect()}


def test_ingest_lsh_store_discriminates_on_offset_doc_ids(spark, tmp_path):
    """Regression: a corpus whose doc_ids don't start at 0 must still get
    real hyperplanes (the default data_planes filters id < n_planes —
    zero planes on offset ids — so the build derives planes from the
    LOWEST ids instead). Degenerate symptom was every row in ONE bucket
    with the manifest stamped fresh."""
    data = str(tmp_path / "books")
    words = ["alpha beta gamma", "delta epsilon zeta", "eta theta iota",
             "kappa lam mu", "nu xi omicron", "pi rho sigma",
             "tau upsilon phi", "chi psi omega", "red green blue",
             "spark plan shuffle", "vector index probe", "token merge scan"]
    _write_book(os.path.join(data, "book_9.jsonl"),
                [{"doc_id": 900 + i, "text": f"{w} doc body {i}",
                  "lang": "en", "source": "b9"}
                 for i, w in enumerate(words)])
    table = str(tmp_path / "corpus.parquet")
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)

    from hadith_vector_search_spark.sources import vector_store
    lidx = vector_store.open_lsh_index(
        spark, os.path.join(f"{table}_indexes", "lsh"))
    assert lidx.n_planes >= 2
    buckets = {r.bucket for r in lidx.sigs.select("bucket").collect()}
    assert len(buckets) >= 2, buckets  # the store actually partitions


def test_ingest_lsh_delta_on_capped_planes_keeps_identity(spark, tmp_path):
    """Regression (round-10 advice): on a corpus with fewer rows than the
    requested plane count, the difference-plane fit caps at n_rows-1 —
    the delta path must re-stamp the REQUEST (layout `requested_planes`),
    not the fitted count, or every delta flips the model identity and
    each subsequent update_indexes full-rebuilds the LSH store forever."""
    from hadith_vector_search_spark.ingest import (_lsh_manifest,
                                                   update_indexes)
    from hadith_vector_search_spark.sources import vector_store
    from hadith_vector_search_spark.sources.manifest import (
        read_manifest, staleness_reasons)

    data = str(tmp_path / "books")
    _write_book(os.path.join(data, "book_1.jsonl"),
                [{"doc_id": i, "text": f"tiny corpus doc {i} alpha beta",
                  "lang": "en", "source": "b1"} for i in range(3)])
    table = str(tmp_path / "corpus.parquet")
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    lsh_dir = os.path.join(f"{table}_indexes", "lsh")
    lidx = vector_store.open_lsh_index(spark, lsh_dir)
    assert lidx.n_planes < lidx.requested_planes  # the capped shape

    # change one doc -> the incremental delta path re-stamps the manifest
    _write_book(os.path.join(data, "book_1.jsonl"),
                [{"doc_id": 0, "text": "tiny corpus doc 0 CHANGED text",
                  "lang": "en", "source": "b1"}]
                + [{"doc_id": i, "text": f"tiny corpus doc {i} alpha beta",
                    "lang": "en", "source": "b1"} for i in range(1, 3)])
    planes_before = _snapshot(os.path.join(lsh_dir, "planes"))
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    # the DELTA ran (a full rebuild would rewrite the planes sidecar)
    assert _snapshot(os.path.join(lsh_dir, "planes")) == planes_before
    # post-delta, the manifest still equals the corpus-derived identity
    assert staleness_reasons(read_manifest(lsh_dir),
                             _lsh_manifest(table, 3)) == []
    out = update_indexes(spark, table, f"{table}_indexes")
    assert out["lsh"] == []  # reused, not rebuilt


def test_ingest_split_hot_cells_flag_threads_through(spark, corpus):
    """--split-hot-cells wiring: the bound reaches the vector delta's
    remediation hook (a 0.999 bound on the balanced fixture is a no-op;
    the mechanism itself is covered by the clustered-fixture store
    test). Asserts the delta still runs and the store stays fresh."""
    from hadith_vector_search_spark.ingest import update_indexes

    data, table = corpus
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100, "text": "gamma delta doc 0 REVISED",
                  "lang": "en", "source": "b2"}]
                + [{"doc_id": 100 + i, "text": f"gamma delta doc {i}",
                    "lang": "en", "source": "b2"} for i in range(1, 3)])
    logs = []
    run_ingestion(spark, data, table, books=["2"], do_update_indexes=True,
                  hot_cell_bound=0.999, log=logs.append)
    assert any("delta-refreshed" in ln for ln in logs), logs
    assert not any("hot-cell remediation" in ln for ln in logs), logs
    out = update_indexes(spark, table, f"{table}_indexes")
    assert out["vector"] == []


def _tier_parity(spark, vidx):
    """Every quantized row must equal quantizing its own stored vector
    (per-row self-consistency of the ladder: a delta or a split can
    never leave a code row disagreeing with its raw twin)."""
    from hadith_vector_search_spark.sources import vector_store as vs

    vecs = vidx.vectors
    exp_bq = sorted(
        (r[0], int(r[1]), tuple(r[2])) for r in vs.bq_quantize(
            vecs, vidx.id_col, vidx.vec_col, vidx.dim,
            keep_cols=("cell",)).select(
                vidx.id_col, "cell", "bq").collect())
    got_bq = sorted(
        (r[0], int(r[1]), tuple(r[2])) for r in vidx.bq_codes.select(
            vidx.id_col, "cell", "bq").collect())
    assert got_bq == exp_bq
    exp_sq = sorted(
        (r[0], int(r[1]), tuple(r[2]), r[3]) for r in vs.sq_quantize(
            vecs, vidx.id_col, vidx.vec_col, keep_cols=("cell",)).select(
                vidx.id_col, "cell", "qcodes", "scale").collect())
    got_sq = sorted(
        (r[0], int(r[1]), tuple(r[2]), r[3]) for r in vidx.sq_codes.select(
            vidx.id_col, "cell", "qcodes", "scale").collect())
    assert got_sq == exp_sq


def _fresh_publish_parity(spark, vidx, tmp_dir):
    """The store's sq/bq tables must equal a FROM-SCRATCH publish of the
    same vectors at the same codebook — the rebuild-equivalence rule
    every delta path owes."""
    from hadith_vector_search_spark.sources import vector_store as vs

    emb = vidx.vectors.drop("cell")
    vs.publish_vector_index(emb, tmp_dir, centroids=vidx.centroids,
                            id_col=vidx.id_col, vec_col=vidx.vec_col,
                            sq8=True, bq1=True)
    fresh = vs.open_vector_index(vidx.spark, tmp_dir)
    for table in ("bq_codes", "sq_codes", "vectors"):
        got = sorted(map(repr, getattr(vidx, table).collect()))
        exp = sorted(map(repr, getattr(fresh, table).collect()))
        assert got == exp, f"{table} diverged from a from-scratch publish"


def test_cli_store_ships_full_quantization_ladder(spark, corpus, tmp_path):
    """Round-11 verdict item 2: the ingest CLI's durable vector store
    carries the FULL quantization ladder (IVFADC + SQ8 + BQ) with the
    governed-knob stamps, and a delta refresh plus a hot-cell split
    preserve per-row and rebuild-equivalence parity on every tier."""
    import json as _json

    from hadith_vector_search_spark.sources import vector_store as vs

    data, table = corpus
    run_ingestion(spark, data, table, do_update_indexes=True,
                  log=lambda *_: None)
    vdir = os.path.join(f"{table}_indexes", "vector")
    vidx = vs.open_vector_index(spark, vdir)
    # all four tiers present, under a derived-geometry governed publish
    assert vidx.pq is not None and vidx.sq is not None \
        and vidx.bq is not None
    assert "n_probe" in (vidx.geometry or {})
    assert "rerank" in vidx.pq and "rerank" in vidx.bq
    # the tier markers ride the staleness identity
    mf = _json.load(open(os.path.join(vdir, "_index_manifest.json")))
    assert "-sq8-bq1" in mf["model_name"]
    _tier_parity(spark, vidx)

    # delta refresh: change one doc, add one — the CLI's incremental path
    _write_book(os.path.join(data, "book_2.jsonl"),
                [{"doc_id": 100, "text": "gamma delta doc 0", "lang": "en",
                  "source": "b2"},
                 {"doc_id": 101, "text": "CHANGED for the ladder",
                  "lang": "en", "source": "b2"},
                 {"doc_id": 103, "text": "brand new ladder row",
                  "lang": "en", "source": "b2"}])
    run_ingestion(spark, data, table, books=["2"], do_update_indexes=True,
                  log=lambda *_: None)
    vidx = vs.open_vector_index(spark, vdir)
    assert vidx.vectors.count() == 9
    assert vidx.bq_codes.count() == 9 and vidx.sq_codes.count() == 9
    _tier_parity(spark, vidx)
    _fresh_publish_parity(spark, vidx, str(tmp_path / "fresh_after_delta"))

    # hot-cell split: any nonempty cell crosses a 1% bound; the split
    # republish must re-tag EVERY tier against the expanded codebook
    report = vs.split_hot_cell(spark, vdir, share_bound=0.01)
    assert report is not None and report.get("split") is True
    vidx = vs.open_vector_index(spark, vdir)
    assert vidx.bq_codes.count() == 9 and vidx.sq_codes.count() == 9
    _tier_parity(spark, vidx)
    _fresh_publish_parity(spark, vidx, str(tmp_path / "fresh_after_split"))
    # served off the split store's BQ tier end to end
    top = vidx.bq_topk(0, n_probe=1, k=3, rerank=5).collect()
    assert len(top) >= 1 and top[0][0] == 0


def test_cli_embed_dim_matches_semantic_constant():
    from hadith_vector_search_spark.ingest import EMBED_DIM
    from hadith_vector_search_spark.plans.semantic import CLI_EMBED_DIM

    assert CLI_EMBED_DIM == EMBED_DIM


def test_cli_export_vectors_binary(spark, corpus, tmp_path, capsys):
    """--export-vectors on the product command: after the refresh, the
    CLI-built store's vectors land in the hnsw-shaped binary layout."""
    import json as _json
    import struct

    data, table = corpus
    out = str(tmp_path / "hnsw_export")
    rc = main(["--data-dir", data, "--table", table, "--update-indexes",
               "--export-vectors", out])
    assert rc == 0
    assert "exported 8 vectors (dim 384)" in capsys.readouterr().out
    mf = _json.load(open(os.path.join(out, "export_manifest.json")))
    assert mf["count"] == 8 and mf["dim"] == 384
    assert "-sq8-bq1" in mf["model_name"]  # the full-ladder identity
    ids = struct.unpack("<8q", open(os.path.join(out, "ids.bin"),
                                    "rb").read())
    assert list(ids) == sorted(ids)
    assert os.path.getsize(os.path.join(out, "vectors.f32")) == 8 * 384 * 4
