"""Published on-disk index store: publish/reopen equivalence, manifest
reuse across sessions, bucket-level incremental write-back, and the
partition-pruning contract of the term-bucketed layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadith_vector_search_spark.operators import bm25
from hadith_vector_search_spark.sources import commit as commitlog
from hadith_vector_search_spark.sources import index_store
from hadith_vector_search_spark.sources.layout import partition_filters
from hadith_vector_search_spark.sources.manifest import read_manifest

CORPUS = [
    (1, "data stream window merge"),
    (2, "window window data join"),
    (3, "spark scan filter pushdown"),
    (4, "stream table join window"),
    (5, "vector merge sort batch"),
    (6, "data data data skew salt"),
]


def _docs(spark, rows=None):
    return spark.createDataFrame(rows or CORPUS, "doc_id long, text string")


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_same_index(a, b):
    for name, cols in (("postings", ["doc_id", "term", "tf"]),
                       ("doc_len", ["doc_id", "dl"]),
                       ("term_df", ["term", "df"]),
                       ("stats", ["n_docs", "avgdl"])):
        assert _sorted_rows(getattr(a, name), cols) == \
            _sorted_rows(getattr(b, name), cols), name
    assert _sorted_rows(a.scoring_view(),
                        ["doc_id", "term", "tf", "dl", "df"]) == \
        _sorted_rows(b.scoring_view(), ["doc_id", "term", "tf", "dl", "df"])
    na = {r.doc_id: round(r.dnorm, 9) for r in a.doc_norm().collect()}
    nb = {r.doc_id: round(r.dnorm, 9) for r in b.doc_norm().collect()}
    assert na == nb


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


def test_publish_then_open_equals_in_session_build(spark, tmp_path):
    idx_dir = str(tmp_path / "lexidx")
    built = bm25.build_index(_docs(spark))
    index_store.publish_index(built, idx_dir, n_buckets=4)
    opened = index_store.open_index(spark, idx_dir)
    _assert_same_index(opened, built)
    # the opened index answers score queries identically
    a = _sorted_rows(bm25.score_terms(spark, built, ["data", "window"],
                                      conjunctive=False),
                     ["doc_id", "score", "matched"])
    b = _sorted_rows(bm25.score_terms(spark, opened, ["data", "window"],
                                      conjunctive=False),
                     ["doc_id", "score", "matched"])
    assert a == b


def test_ensure_reuses_across_sessions(spark, tmp_path):
    """Second open of the same corpus reuses the published artifact:
    reasons == [] and not one index file is rewritten — the reference's
    reopen-fts.db-at-startup behavior (mcp_server/apps/fts.py:263-312)."""
    corpus_path = str(tmp_path / "corpus.parquet")
    _docs(spark).write.parquet(corpus_path)
    idx_dir = str(tmp_path / "lexidx")
    corpus = spark.read.parquet(corpus_path)

    _, reasons1 = index_store.ensure_lexical_index(
        spark, corpus, corpus_path, idx_dir, n_buckets=4)
    assert reasons1 == ["no manifest"]
    before = _file_states(idx_dir)
    assert before  # something was published

    # "second session": a fresh ensure over the same corpus — nothing in
    # the decision depends on in-process state (manifest + files only)
    idx2, reasons2 = index_store.ensure_lexical_index(
        spark, spark.read.parquet(corpus_path), corpus_path, idx_dir,
        n_buckets=4)
    assert reasons2 == []
    assert _file_states(idx_dir) == before  # no rebuild, bytes untouched
    _assert_same_index(idx2, bm25.build_index(corpus))

    # corpus drift (rewrite in place) invalidates
    _docs(spark, CORPUS + [(7, "fresh doc data")]).write.mode(
        "overwrite").parquet(corpus_path)
    _, reasons3 = index_store.ensure_lexical_index(
        spark, spark.read.parquet(corpus_path), corpus_path, idx_dir,
        n_buckets=4)
    assert reasons3  # stale -> republished


def test_empty_corpus_store_reopens(spark, tmp_path):
    """A 0-row corpus publishes a store that reopens and scores: the
    partitioned postings/scoring writes degrade to the schema'd
    placeholder instead of leaving only `_SUCCESS` behind."""
    idx_dir = str(tmp_path / "idx")
    empty = spark.createDataFrame([], "doc_id long, text string")
    index_store.publish_index(bm25.build_index(empty), idx_dir)
    idx = index_store.open_index(spark, idx_dir)
    assert bm25.score_terms(spark, idx, ["data"]).count() == 0
    assert idx.postings.count() == 0


def test_prune_scan_partition_filters_and_equivalence(spark, tmp_path):
    idx_dir = str(tmp_path / "lexidx")
    built = bm25.build_index(_docs(spark))
    index_store.publish_index(built, idx_dir, n_buckets=4)
    opened = index_store.open_index(spark, idx_dir)

    terms = ["data", "window"]
    pruned = opened.prune(terms)
    # planning-time directory pruning: PartitionFilters mention the
    # bucket column with a non-trivial predicate
    pf = partition_filters(pruned)
    assert pf and any("term_bucket" in line for line in pf), pf
    # and the pruned scan returns exactly the unpruned term filter's rows
    full = opened.scoring_view().filter(F.col("term").isin(terms))
    assert _sorted_rows(pruned, ["doc_id", "term", "tf", "dl", "df"]) == \
        _sorted_rows(full, ["doc_id", "term", "tf", "dl", "df"])


def test_write_refresh_touches_only_affected_buckets(spark, tmp_path):
    """Incremental write-back: the refreshed index on disk equals a
    from-scratch publish over the merged corpus, and bucket directories
    holding only unaffected terms are BYTE-INVARIANT (their part files
    keep mtime+size) — the delta rewrote only what it had to."""
    corpus_path = str(tmp_path / "corpus.parquet")
    _docs(spark).write.parquet(corpus_path)
    idx_dir = str(tmp_path / "lexidx")
    index_store.publish_index(bm25.build_index(_docs(spark)), idx_dir,
                              n_buckets=8)

    changed = spark.createDataFrame(
        [(2, "window data revised join"), (7, "fresh stream doc")],
        "doc_id long, text string")
    removed = spark.createDataFrame([(4,)], "doc_id long")
    before = _file_states(idx_dir)

    refreshed = index_store.write_refresh(
        spark, idx_dir, changed, removed, corpus_path=corpus_path)

    merged_rows = ([r for r in CORPUS if r[0] not in (2, 4)]
                   + [(2, "window data revised join"),
                      (7, "fresh stream doc")])
    _assert_same_index(refreshed,
                       bm25.build_index(_docs(spark, merged_rows)))

    # terms whose postings changed -> their buckets must differ;
    # buckets holding no touched term must be byte-identical
    touched_terms = set("window data revised join fresh stream doc "
                        "stream table".split())
    touched_buckets = {index_store.bucket_of(t, 8) for t in touched_terms}
    after = _file_states(idx_dir)
    for rel, st in before.items():
        part = rel.split(os.sep)[0]
        if part not in ("postings", "scoring"):
            continue
        b = int(rel.split("term_bucket=")[1].split(os.sep)[0])
        if b not in touched_buckets:
            assert after.get(rel) == st, f"untouched bucket rewritten: {rel}"

    # a no-op refresh batch leaves the stats identical (collect the first
    # snapshot's row BEFORE the overwrite invalidates its file listing —
    # parquet-path frames are snapshots of the files, not the logical
    # table)
    stats_before = _sorted_rows(refreshed.stats, ["n_docs", "avgdl"])
    _docs(spark, merged_rows).write.mode("overwrite").parquet(corpus_path)
    refreshed2 = index_store.write_refresh(
        spark, idx_dir,
        spark.createDataFrame([], "doc_id long, text string"),
        corpus_path=corpus_path)
    assert _sorted_rows(refreshed2.stats, ["n_docs", "avgdl"]) == \
        stats_before


def test_write_refresh_emptied_bucket_dir_removed(spark, tmp_path):
    """Dynamic overwrite cannot delete a partition it writes no rows for:
    a batch that removes a bucket's only terms must drop the directory,
    and the reopened index must not resurrect the deleted postings."""
    rows = [(1, "zzzuniqueterm"), (2, "data stream")]
    idx_dir = str(tmp_path / "lexidx")
    n = 64  # enough buckets that the unique term sits alone
    index_store.publish_index(bm25.build_index(_docs(spark, rows)),
                              idx_dir, n_buckets=n)
    b = index_store.bucket_of("zzzuniqueterm", n)
    others = {index_store.bucket_of(t, n) for t in ("data", "stream")}
    if b in others:
        pytest.skip("hash collision at this bucket count")
    assert os.path.isdir(os.path.join(idx_dir, "postings",
                                      f"term_bucket={b}"))
    refreshed = index_store.write_refresh(
        spark, idx_dir,
        spark.createDataFrame([], "doc_id long, text string"),
        spark.createDataFrame([(1,)], "doc_id long"))
    assert not os.path.isdir(os.path.join(idx_dir, "postings",
                                          f"term_bucket={b}"))
    _assert_same_index(refreshed,
                       bm25.build_index(_docs(spark, [(2, "data stream")])))


def _merged_after_refresh():
    return ([r for r in CORPUS if r[0] not in (2, 4)]
            + [(2, "window data revised join"), (7, "fresh stream doc")])


def _refresh_args(spark):
    changed = spark.createDataFrame(
        [(2, "window data revised join"), (7, "fresh stream doc")],
        "doc_id long, text string")
    removed = spark.createDataFrame([(4,)], "doc_id long")
    return changed, removed


def test_write_refresh_crash_before_commit_rolls_back(spark, tmp_path,
                                                      monkeypatch):
    """A kill at ANY point before the journal lands must leave a reopen
    serving the OLD index byte-for-byte: all staging writes are invisible
    until _commit.json appears."""
    corpus_path = str(tmp_path / "corpus.parquet")
    _docs(spark).write.parquet(corpus_path)
    idx_dir = str(tmp_path / "lexidx")
    index_store.publish_index(bm25.build_index(_docs(spark)), idx_dir,
                              n_buckets=8)
    before = _file_states(idx_dir)
    changed, removed = _refresh_args(spark)

    def killed(index_dir, ops):
        raise RuntimeError("killed before commit point")

    monkeypatch.setattr(commitlog, "_write_journal", killed)
    with pytest.raises(RuntimeError):
        index_store.write_refresh(spark, idx_dir, changed, removed,
                                  corpus_path=corpus_path)
    monkeypatch.undo()

    assert index_store.recover(idx_dir) == "back"  # staging orphan dropped
    after = {k: v for k, v in _file_states(idx_dir).items()
             if not k.startswith(index_store.STAGING_NAME)}
    assert after == before, "pre-commit kill must not touch the live tree"
    _assert_same_index(index_store.open_index(spark, idx_dir),
                       bm25.build_index(_docs(spark)))


def test_write_refresh_crash_mid_commit_rolls_forward(spark, tmp_path,
                                                      monkeypatch):
    """A kill DURING the journal replay (some ops applied, some not) must
    leave the journal behind, and the next open must roll FORWARD to the
    complete NEW index — never a mixed tree."""
    corpus_path = str(tmp_path / "corpus.parquet")
    _docs(spark).write.parquet(corpus_path)
    idx_dir = str(tmp_path / "lexidx")
    index_store.publish_index(bm25.build_index(_docs(spark)), idx_dir,
                              n_buckets=8)
    changed, removed = _refresh_args(spark)

    def partial(index_dir, ops):
        assert len(ops) > 1
        commitlog._apply_op(index_dir, ops[0])  # first op lands...
        raise RuntimeError("killed mid-commit")   # ...then the process dies

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        index_store.write_refresh(spark, idx_dir, changed, removed,
                                  corpus_path=corpus_path)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx_dir, index_store.JOURNAL_NAME))

    # "next session": open_index recovers (replays the remaining ops)
    reopened = index_store.open_index(spark, idx_dir)
    assert not os.path.exists(os.path.join(idx_dir, index_store.JOURNAL_NAME))
    merged = bm25.build_index(_docs(spark, _merged_after_refresh()))
    _assert_same_index(reopened, merged)
    # and the manifest committed with the rest: the store is fresh w.r.t.
    # the merged corpus row count
    _docs(spark, _merged_after_refresh()).write.mode("overwrite").parquet(
        corpus_path)
    # (corpus rewritten -> fingerprint drifts; only the count assertion
    # below is meaningful for the journal's manifest op)
    m = read_manifest(idx_dir)
    assert m is not None and m.n_rows == len(_merged_after_refresh())


def test_write_refresh_all_buckets_emptied_keeps_store_openable(spark,
                                                                tmp_path):
    """A batch that removes EVERY doc empties every bucket dir; the store
    must stay openable (empty-but-schema'd placeholder, ADVICE r8), and a
    later refresh on top of the emptied store must rebuild real bucket
    dirs and serve queries again."""
    idx_dir = str(tmp_path / "lexidx")
    index_store.publish_index(bm25.build_index(_docs(spark)), idx_dir,
                              n_buckets=4)
    empty_batch = spark.createDataFrame([], "doc_id long, text string")
    all_ids = spark.createDataFrame([(i,) for i, _ in CORPUS], "doc_id long")

    emptied = index_store.write_refresh(spark, idx_dir, empty_batch, all_ids)
    assert emptied.postings.count() == 0
    # a NEW session can still open and query the emptied store
    reopened = index_store.open_index(spark, idx_dir)
    assert reopened.postings.count() == 0
    assert reopened.prune(["data"]).count() == 0
    assert not os.path.isdir(os.path.join(idx_dir, index_store.STAGING_NAME))

    # refresh ON TOP of the placeholder store: whole-table swap rebuilds
    # real partition dirs (root placeholder file must not mix with them)
    rows = [(10, "data stream window"), (11, "salt skew join")]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    refreshed = index_store.write_refresh(spark, idx_dir, batch)
    _assert_same_index(refreshed, bm25.build_index(_docs(spark, rows)))
    again = index_store.open_index(spark, idx_dir)
    _assert_same_index(again, bm25.build_index(_docs(spark, rows)))
    pf = partition_filters(again.prune(["data"]))
    assert pf and any("term_bucket" in line for line in pf), pf


def test_refresh_published_doc_norm_serves_tfidf(spark, tmp_path):
    """Store-layer rebuild equivalence for doc_norm (r8 task 8): after a
    delta write_refresh, the PUBLISHED doc_norm/ dir — reopened cold, as
    tfidf_topk consumes it — must equal a from-scratch publish over the
    merged corpus, and tf-idf cosine scores off both stores must agree."""
    corpus_path = str(tmp_path / "corpus.parquet")
    _docs(spark).write.parquet(corpus_path)
    idx_dir = str(tmp_path / "lexidx")
    index_store.publish_index(bm25.build_index(_docs(spark)), idx_dir,
                              n_buckets=8)
    changed, removed = _refresh_args(spark)
    index_store.write_refresh(spark, idx_dir, changed, removed,
                              corpus_path=corpus_path)

    scratch_dir = str(tmp_path / "scratch")
    merged = _docs(spark, _merged_after_refresh())
    index_store.publish_index(bm25.build_index(merged), scratch_dir,
                              n_buckets=8)

    refreshed = index_store.open_index(spark, idx_dir)      # cold reopen
    scratch = index_store.open_index(spark, scratch_dir)
    norm_a = {r.doc_id: round(r.dnorm, 9)
              for r in refreshed.doc_norm().collect()}
    norm_b = {r.doc_id: round(r.dnorm, 9)
              for r in scratch.doc_norm().collect()}
    assert norm_a == norm_b

    def tfidf(idx, terms):
        # the tfidf_topk consumption shape: idf'd impacts joined to the
        # published norms (plans/lexical.py:1028)
        sc = idx.scoring_view().filter(F.col("term").isin(terms))
        n_docs = idx.stats.select("n_docs")
        scored = (sc.crossJoin(F.broadcast(n_docs))
                  .withColumn("w", F.col("tf") * F.log(
                      (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)))
                  .groupBy("doc_id").agg(F.sum("w").alias("dot"))
                  .join(idx.doc_norm(), "doc_id")
                  .select("doc_id",
                          F.round(F.col("dot") / F.col("dnorm"), 6)
                          .alias("s")))
        return sorted((r.doc_id, r.s) for r in scored.collect())

    terms = ["data", "window", "fresh"]
    assert tfidf(refreshed, terms) == tfidf(scratch, terms)


def test_publish_after_crashed_refresh_discards_stale_journal(
        spark, tmp_path, monkeypatch):
    """A journal left by a killed refresh must NOT be replayed on top of
    a LATER full rebuild (r9 review): publish settles the crashed
    refresh first, so what a reopen serves is exactly the fresh publish
    — never the dead refresh's staged dirs spliced into it."""
    idx_dir = str(tmp_path / "lexidx")
    index_store.publish_index(bm25.build_index(_docs(spark)), idx_dir,
                              n_buckets=8)
    changed, removed = _refresh_args(spark)

    def partial(store_dir, ops):
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        index_store.write_refresh(spark, idx_dir, changed, removed)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx_dir, index_store.JOURNAL_NAME))

    # full rebuild over a DIFFERENT corpus while the stale journal sits
    # there — the path update_indexes takes when the manifest is stale
    rows2 = [(30, "entirely new corpus row"), (31, "data stream salt")]
    index_store.publish_index(bm25.build_index(_docs(spark, rows2)),
                              idx_dir, n_buckets=8)
    assert not os.path.exists(os.path.join(idx_dir, index_store.JOURNAL_NAME))
    reopened = index_store.open_index(spark, idx_dir)
    _assert_same_index(reopened, bm25.build_index(_docs(spark, rows2)))
