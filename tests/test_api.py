"""HybridEngine API surface — the parameterized tool layer a reference user
drives (hybrid_search/fts_match/semantic_search/get_document/status)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadith_vector_search_spark.api import HybridEngine


@pytest.fixture(scope="module")
def engine(spark):
    rows = [
        ("riyad:1:1", "Umar", 1, "the reward of deeds depends upon the "
         "intentions and every person will get what he intended"),
        ("riyad:1:2", "Abu Huraira", 1, "the strong is the one who controls "
         "himself while in anger and controlling anger is strength"),
        ("riyad:2:5", "Aisha", 2, "do good deeds properly sincerely and "
         "moderately and know that deeds alone do not suffice"),
        ("riyad:2:6", "Abu Huraira", 2, "charity does not decrease wealth "
         "and patience in anger brings reward"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, narrator string, book int, text string")
    return HybridEngine(spark, docs)


def test_hybrid_search_returns_ranked_results(engine):
    out = engine.hybrid_search("controlling anger", n_results=3).collect()
    assert 0 < len(out) <= 3
    assert out[0].doc_id == "riyad:1:2"
    scores = [r.score for r in out]
    assert scores == sorted(scores, reverse=True)


def test_weight_override_changes_ranking_inputs(engine):
    base = engine.hybrid_search("good deeds", n_results=4).collect()
    cov_heavy = engine.hybrid_search("good deeds", n_results=4,
                                     coverage=5.0).collect()
    # same candidates, different scores under the override
    assert {r.doc_id for r in base} == {r.doc_id for r in cov_heavy}
    b = {r.doc_id: r.score for r in base}
    c = {r.doc_id: r.score for r in cov_heavy}
    assert any(abs(b[d] - c[d]) > 1e-6 for d in b)


def test_degraded_vector_leg_still_serves(engine):
    out = engine.hybrid_search("anger strength", n_results=3,
                               vector_available=False).collect()
    assert out and out[0].doc_id == "riyad:1:2"
    assert all(r.vec_signal == 0.0 for r in out)


def test_fts_match_field_scope_and_prefix(engine):
    # AND semantics restrict to docs containing both terms
    both = {r.doc_id for r in engine.fts_match(terms=["anger", "strong"]).collect()}
    assert both == {"riyad:1:2"}
    # prefix matches control/controls/controlling as one pseudo-term
    pre = {r.doc_id for r in engine.fts_match(prefix="control").collect()}
    assert pre == {"riyad:1:2"}
    # field scope: anger docs in book 2 only
    scoped = {r.doc_id for r in
              engine.fts_match(terms=["anger"], field="book", value=2).collect()}
    assert scoped == {"riyad:2:6"}


def test_semantic_search_self_retrieval(engine):
    # querying with a document's own text must retrieve that document first
    # (hash embedder is deterministic bag-of-tokens, self-sim == 1)
    text = "charity does not decrease wealth and patience in anger brings reward"
    out = engine.semantic_search(text, n_results=2).collect()
    assert out[0].doc_id == "riyad:2:6"


def test_get_document_and_status(engine):
    doc = engine.get_document("riyad:2:5").collect()
    assert len(doc) == 1 and doc[0].narrator == "Aisha"
    st = engine.status().collect()[0]
    assert st.n_docs == 4 and st.embedding_dim > 0

def test_non_default_id_col(spark):
    rows = [
        ("v1", "patience in anger brings reward and controlling anger"),
        ("v2", "charity does not decrease wealth"),
        ("v3", "good deeds depend upon intentions"),
    ]
    docs = spark.createDataFrame(rows, "verse_id string, body string")
    eng = HybridEngine(spark, docs, text_col="body", id_col="verse_id")
    out = eng.hybrid_search("controlling anger", n_results=2).collect()
    assert out and out[0].verse_id == "v1"
    m = eng.fts_match(terms=["charity"]).collect()
    assert {r.verse_id for r in m} == {"v2"}


def test_synonym_groups_coverage_and_proximity(engine):
    # group 0 (anger terms) and group 1 (control terms) sit within 5 tokens
    # in riyad:1:2 -> proximity bonus fires; both groups present -> cov 1.0
    out = engine.hybrid_search(
        "anger control", n_results=4,
        synonym_groups=[["anger", "rage"], ["controls", "controlling"]],
    ).collect()
    top = {r.doc_id: r for r in out}
    assert top["riyad:1:2"].proximity_bonus > 0
    assert top["riyad:1:2"].coverage == 1.0
    # doc with anger but no control term: half coverage, no proximity
    assert top["riyad:2:6"].proximity_bonus == 0.0
    assert top["riyad:2:6"].coverage == 0.5


def test_dedupe_collapses_identical_previews(spark):
    rows = [
        ("a1", "patience and anger control bring reward"),
        ("a2", "patience and anger control bring reward"),  # exact dup
        ("a3", "charity does not decrease wealth"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    eng = HybridEngine(spark, docs)
    out = eng.hybrid_search("anger patience", n_results=5).collect()
    ids = [r.doc_id for r in out]
    assert "a1" in ids and "a2" not in ids  # best-ranked row kept
    assert all(r.duplicates_filtered == 1 for r in out)
    keep_all = eng.hybrid_search("anger patience", n_results=5,
                                 dedupe=False).collect()
    assert {r.doc_id for r in keep_all} >= {"a1", "a2"}


def test_status_without_embeddings_is_cheap(spark):
    docs = spark.createDataFrame([("d1", "some text")], "doc_id string, text string")
    eng = HybridEngine(spark, docs)
    st = eng.status().collect()[0]
    assert st.n_docs == 1 and st.embedding_dim == eng.dim
    assert eng._emb is None  # status must not trigger the embedding pass


def test_engine_concurrent_requests(spark, sf_dir):
    """The serving claim SCALE.md makes — concurrent requests interleave
    as independent Spark jobs over one engine's shared pins — driven for
    real: 4 threads mixing hybrid/fts/lookup calls must all succeed and
    match their serial results."""
    import threading

    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    eng = HybridEngine(spark, docs)
    eng.index, eng.emb  # build pins once, serially

    def hybrid(q):
        return [(r[0], r.score) for r in eng.hybrid_search(q, 5).collect()]

    def fts(terms):
        return sorted((r.doc_id, r.bm25)
                      for r in eng.fts_match(terms=terms).collect())

    serial = {
        "h1": hybrid("window merge sort"), "h2": hybrid("small hash scan"),
        "f1": fts(["spark"]), "f2": fts(["query"]),
    }
    results, errors = {}, []

    def run(key, fn, arg):
        try:
            results[key] = fn(arg)
        except Exception as e:  # noqa: BLE001
            errors.append((key, e))

    threads = [threading.Thread(target=run, args=a) for a in [
        ("h1", hybrid, "window merge sort"), ("h2", hybrid, "small hash scan"),
        ("f1", fts, ["spark"]), ("f2", fts, ["query"])]]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert results == serial


def test_interactive_mode_equals_batch_path(spark):
    """enable_interactive moves the vector leg + fusion driver-side; the
    results must be IDENTICAL to the pure-Spark plan, row for row, on
    real corpus data across modes and queries (the same guarantee the
    route_one twin carries for routing)."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._mat is not None
    assert inter._lex is not None  # both tiers resident -> zero-job hybrid
    for q, mode in [("patience and prayer", "balanced"),
                    ("window merge sort batch", "term-priority"),
                    ("charity given in secret", "semantic"),
                    ('"window data" stream', "balanced")]:
        a = [r.asDict() for r in
             batch.hybrid_search(q, n_results=10,
                                 scoring_mode=mode).collect()]
        b = [r.asDict() for r in
             inter.hybrid_search(q, n_results=10,
                                 scoring_mode=mode).collect()]
        assert a == b, (q, mode)
    # flag combinations through the zero-job local tail too
    for kw in [{"dedupe": False}, {"vector_available": False},
               {"fts_available": False}, {"fts": 0.9}]:
        a = [r.asDict() for r in
             batch.hybrid_search("patience and prayer", n_results=10,
                                 **kw).collect()]
        b = [r.asDict() for r in
             inter.hybrid_search("patience and prayer", n_results=10,
                                 **kw).collect()]
        assert a == b, kw
    # synonym_groups falls back to the shared Column build — still equal
    sg = [["patience", "endurance"], ["prayer", "worship"]]
    a = [r.asDict() for r in
         batch.hybrid_search("patience and prayer", n_results=10,
                             synonym_groups=sg).collect()]
    b = [r.asDict() for r in
         inter.hybrid_search("patience and prayer", n_results=10,
                             synonym_groups=sg).collect()]
    assert a == b


def test_interactive_mode_refuses_oversized_corpus(spark):
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive(max_driver_rows=3) is False
    assert eng._mat is None  # engine unchanged, Spark path still serves
    assert eng.hybrid_search("patience", n_results=2).count() > 0


def test_more_like_this_engine_method(spark):
    """MLT: seed excluded, ranked desc with id tie-break, and the seed's
    own top term actually drives the matches (matched >= 1 everywhere)."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    out = eng.more_like_this(0, n_results=8).collect()
    assert 0 < len(out) <= 8
    assert all(r.doc_id != 0 for r in out)
    scores = [r.bm25 for r in out]
    assert scores == sorted(scores, reverse=True)
    assert all(r.matched >= 1 for r in out)
    # parity with the fixed-constant registry query on the same corpus
    from hadith_vector_search_spark.plans.lexical import more_like_this
    plan_rows = [(r.doc_id, r.bm25) for r in
                 more_like_this(spark, "/root/testdata/sf0.001").collect()]
    eng_rows = [(r.doc_id, r.bm25) for r in
                eng.more_like_this(0, n_results=10, n_terms=5).collect()]
    assert plan_rows == eng_rows


def test_rerank_search_reorders_by_pair_score(spark):
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    out = eng.rerank_search("patience and prayer", n_results=5,
                            backend="hash").collect()
    assert 0 < len(out) <= 5
    ces = [r.ce_score for r in out]
    assert ces == sorted(ces, reverse=True)
    # rerank candidates are a subset of the first stage's over-fetch
    first = {r.doc_id for r in
             eng.hybrid_search("patience and prayer", n_results=50).collect()}
    assert {r.doc_id for r in out} <= first
    assert "score" in out[0].asDict()  # hybrid columns preserved


def test_empty_corpus_serves_zero_rows_gracefully(spark):
    """stats_literals on an empty corpus (avg(dl) is NULL) must not
    crash — hybrid/fts calls return zero rows like the old
    crossJoin(stats) path did."""
    docs = spark.createDataFrame([], "doc_id long, text string")
    eng = HybridEngine(spark, docs)
    assert eng.hybrid_search("anything at all").count() == 0
    assert eng.fts_match(terms=["anything"]).count() == 0


def test_interactive_refuses_unsupported_id_type(spark):
    """Id types that cannot round-trip through the VALUES literal
    (e.g. date) keep the engine on the pure-Spark path."""
    docs = spark.createDataFrame(
        [("2024-01-01", "patience and prayer")],
        "doc_id string, text string").select(
        F.to_date("doc_id").alias("doc_id"), "text")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive() is False
    assert eng._mat is None


def test_interactive_postings_bound_degrades_to_spark_leg(spark):
    """Exceeding the postings bound must leave the lexical tier off (the
    leg stays on Spark) while the vector tier still serves — and results
    must still equal the pure-Spark path."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    part = HybridEngine(spark, docs)
    assert part.enable_interactive(max_driver_postings=10)
    assert part._mat is not None and part._lex is None
    a = [r.asDict() for r in
         batch.hybrid_search("patience and prayer", n_results=10).collect()]
    b = [r.asDict() for r in
         part.hybrid_search("patience and prayer", n_results=10).collect()]
    assert a == b


def test_upsert_documents_equals_fresh_engine(spark):
    """Incremental upsert across every engine tier must be
    indistinguishable from a fresh engine over the merged corpus:
    hybrid/fts/MLT results row-identical, and the reference-shaped
    counts correct (unchanged re-arrivals skip)."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    eng.index, eng.emb  # materialize both tiers before the upsert

    incoming = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.when(F.col("doc_id") % 14 == 0,
                                   F.concat(F.col("text"), F.lit(" upd")))
                    .otherwise(F.col("text")))  # half revised, half skips
        .unionByName(docs.filter(F.col("doc_id") % 11 == 0)
                     .withColumn("doc_id", F.col("doc_id") + 900_000)))
    removed = docs.filter(F.col("doc_id") % 13 == 0).select("doc_id")
    n_rm = removed.count()
    stats = eng.upsert_documents(incoming, removed)
    assert stats["removed"] == n_rm
    assert stats["processed"] == incoming.count()
    assert stats["inserted"] == docs.filter(F.col("doc_id") % 11 == 0).count()
    # Removal wins: a doc in both incoming and removed_ids counts ONLY
    # as removed, never double-counted as updated/skipped.
    assert stats["updated"] == docs.filter(
        (F.col("doc_id") % 14 == 0) & (F.col("doc_id") % 13 != 0)).count()
    assert stats["skipped"] == docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 14 != 0)
        & (F.col("doc_id") % 13 != 0)).count()
    assert stats["skipped"] > 0  # unchanged re-arrivals short-circuit

    merged = eng.docs
    fresh = HybridEngine(spark, merged)
    for q in ["patience and prayer", "window merge sort batch"]:
        a = [r.asDict() for r in eng.hybrid_search(q, 10).collect()]
        b = [r.asDict() for r in fresh.hybrid_search(q, 10).collect()]
        assert a == b, q
    assert ([r.asDict() for r in eng.fts_match(terms=["data"]).collect()]
            == [r.asDict() for r in fresh.fts_match(terms=["data"]).collect()])
    seed = merged.select("doc_id").orderBy("doc_id").first()[0]
    assert ([r.asDict() for r in eng.more_like_this(seed, 5).collect()]
            == [r.asDict() for r in fresh.more_like_this(seed, 5).collect()])


def test_upsert_documents_refreshes_interactive_tiers(spark):
    """With the interactive tiers resident, an upsert must rebuild them
    under the original bounds — served results stay identical to the
    pure-Spark path over the merged corpus."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive()
    incoming = (docs.filter(F.col("doc_id") % 9 == 0)
                .withColumn("text", F.concat(F.col("text"), F.lit(" new"))))
    eng.upsert_documents(incoming)
    assert eng._mat is not None and eng._lex is not None
    batch = HybridEngine(spark, eng.docs)
    a = [r.asDict() for r in eng.hybrid_search("patience", 10).collect()]
    b = [r.asDict() for r in batch.hybrid_search("patience", 10).collect()]
    assert a == b


def test_fts_match_interactive_equals_spark(spark):
    """The driver-tier fts_match twin (terms / prefix / both legs) must
    match the Spark path row-for-row on real corpus data; the
    field-scoped form stays on the Spark path and still serves."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    cases = [dict(terms=["data"]), dict(terms=["data", "stream"]),
             dict(prefix="sca"), dict(terms=["data"], prefix="win"),
             dict(terms=["zzz_missing"]), dict(prefix="zzz")]
    for kw in cases:
        a = [r.asDict() for r in batch.fts_match(k=10, **kw).collect()]
        b = [r.asDict() for r in inter.fts_match(k=10, **kw).collect()]
        assert a == b, kw
    sc_a = [r.asDict() for r in
            batch.fts_match(terms=["data"], field="source",
                            value="src3").collect()]
    sc_b = [r.asDict() for r in
            inter.fts_match(terms=["data"], field="source",
                            value="src3").collect()]
    assert sc_a == sc_b


def test_more_like_this_interactive_equals_spark(spark):
    """The driver-tier MoreLikeThis twin must match the Spark operator
    row-for-row (same mined terms, same ranking, same matched counts)
    across several seeds, including a nonexistent one."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    seeds = [r.doc_id for r in
             docs.select("doc_id").orderBy("doc_id").limit(3).collect()]
    for seed in seeds:
        a = [r.asDict() for r in batch.more_like_this(seed, 8).collect()]
        b = [r.asDict() for r in inter.more_like_this(seed, 8).collect()]
        assert a == b, seed
    missing = [r.asDict() for r in
               inter.more_like_this(-999_999, 8).collect()]
    assert missing == []


def test_get_document_interactive_equals_spark(spark):
    """The zero-job point-lookup tier must return the same row (all
    corpus columns + preview) as the Spark filter path, and empty for a
    missing id."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._doc_rows is not None
    for seed in [r.doc_id for r in
                 docs.select("doc_id").orderBy("doc_id").limit(3).collect()]:
        a = [r.asDict() for r in batch.get_document(seed).collect()]
        b = [r.asDict() for r in inter.get_document(seed).collect()]
        assert a == b, seed
    assert inter.get_document(-42).collect() == []


def test_rerank_interactive_equals_spark(spark):
    """Driver-side pair scoring (same scorer object, resident texts)
    must match the Spark pandas-UDF rerank row-for-row."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    for q in ["patience and prayer", "window merge sort batch"]:
        a = [r.asDict() for r in batch.rerank_search(q, 5).collect()]
        b = [r.asDict() for r in inter.rerank_search(q, 5).collect()]
        assert a == b, q


def test_upsert_past_bound_releases_interactive_tiers(spark):
    """An upsert that grows the corpus past the interactive row bound
    must RELEASE every driver-resident tier (no stale pre-upsert
    snapshot) and fall back to Spark paths serving the merged corpus."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive(max_driver_rows=n)
    assert eng.interactive_enabled and eng._doc_rows is not None
    incoming = (docs.limit(5)
                .withColumn("doc_id", F.col("doc_id") + 900_000)
                .withColumn("text", F.concat(F.col("text"), F.lit(" grown"))))
    eng.upsert_documents(incoming)
    assert not eng.interactive_enabled
    assert eng._lex is None and eng._fwd is None
    assert eng._doc_rows is None
    fresh = HybridEngine(spark, eng.docs)
    a = [r.asDict() for r in eng.hybrid_search("patience", 10).collect()]
    b = [r.asDict() for r in fresh.hybrid_search("patience", 10).collect()]
    assert a == b
    # the grown corpus is actually served (new doc reachable)
    new_id = incoming.select("doc_id").first()[0]
    assert eng.get_document(new_id).count() == 1
    # a shrinking batch re-enables under the original bounds
    eng.upsert_documents(
        eng.docs.limit(0),
        removed_ids=eng.docs.select("doc_id").limit(6))
    assert eng.interactive_enabled


def test_reenable_crossing_postings_bound_clears_lexical_tier(spark):
    """A re-enable whose postings newly exceed the lexical bound must
    drop the resident impact arrays (leg degrades to Spark), not keep
    serving the pre-upsert arrays."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    n_post = eng.index.scoring_view().count()
    assert eng.enable_interactive(max_driver_postings=n_post)
    assert eng._lex is not None and eng._fwd is not None
    incoming = (docs.limit(3)
                .withColumn("doc_id", F.col("doc_id") + 900_000))
    eng.upsert_documents(incoming)
    assert eng.interactive_enabled  # vector tier still fits
    assert eng._lex is None and eng._fwd is None
    batch = HybridEngine(spark, eng.docs)
    a = [r.asDict() for r in batch.fts_match(terms=["data"], k=10).collect()]
    b = [r.asDict() for r in eng.fts_match(terms=["data"], k=10).collect()]
    assert a == b


def test_upsert_counts_removal_wins_and_force(spark):
    """Count semantics: a doc in both incoming and removed_ids is ONLY
    removed; force reprocesses checksum-unchanged docs (updated, not
    skipped)."""
    rows = [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    eng = HybridEngine(spark, docs)
    eng.index
    incoming = spark.createDataFrame(
        [(1, "alpha beta"),        # unchanged -> skip
         (2, "gamma delta CHANGED"),  # update, but also removed below
         (9, "brand new")],        # insert
        "doc_id int, text string")
    removed = spark.createDataFrame([(2,), (3,)], "doc_id int")
    st = eng.upsert_documents(incoming, removed)
    assert st == {"processed": 3, "inserted": 1, "updated": 0,
                  "skipped": 1, "removed": 2}
    assert sorted(r.doc_id for r in eng.docs.collect()) == [1, 9]
    # force: the unchanged re-arrival is genuinely reprocessed
    st2 = eng.upsert_documents(
        spark.createDataFrame([(1, "alpha beta")], "doc_id int, text string"),
        force=True)
    assert st2 == {"processed": 1, "inserted": 0, "updated": 1,
                   "skipped": 0, "removed": 0}


def test_get_document_null_text_tier_identity(spark):
    """NULL-text rows must render identically (NULL preview) from the
    zero-job doc map and the Spark filter path."""
    rows = [(1, "some text here"), (2, None)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._doc_rows is not None
    for did in (1, 2):
        a = [r.asDict() for r in batch.get_document(did).collect()]
        b = [r.asDict() for r in inter.get_document(did).collect()]
        assert a == b, did
    assert inter.get_document(2).first().preview is None


def test_hybrid_local_tail_launches_no_spark_jobs(spark):
    """The serving claim SERVING_LATENCY.md makes for the driver-local
    scoring tail, pinned: with every interactive tier resident, a full
    hybrid_search call (route, both legs, fusion, scoring, dedup,
    collect) must launch ZERO Spark jobs."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive()
    assert eng._doc_rows is not None and eng._lex is not None
    # warm call absorbs any lazy first-use materialization
    assert eng.hybrid_search("patience and prayer", 10).collect()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    rows = eng.hybrid_search("window merge sort batch", 10).collect()
    after = set(tracker.getJobIdsForGroup())
    assert rows
    assert after == before, f"launched jobs: {sorted(after - before)}"


def test_local_tail_adversarial_corpus_equals_batch(spark):
    """The driver-local scoring tail re-enters results as SQL VALUES
    literals — drive it over a corpus built to break that transport and
    the dedup/tie-break algebra: quotes, backslashes, newlines, unicode,
    empty and NULL texts, exact duplicate texts (dedup groups), and
    identical non-duplicate score ties. Must stay row-identical to the
    batch Column build."""
    rows = [
        (1, "it's a 'quoted' text about patience and prayer"),
        (2, "back\\slash C:\\path\\to\\file with patience"),
        (3, "line one\nline two about prayer\nline three"),
        (4, "unicode \u0635\u0628\u0631 patience caf\u00e9 na\u00efve"),
        (5, "it's a 'quoted' text about patience and prayer"),  # dup of 1
        (6, ""),                                # empty text
        (7, None),                              # NULL text
        (8, "patience prayer patience prayer"),
        (9, "patience prayer patience prayer extra tail words here"),
        (10, "   leading spaces then patience and prayer text   "),
        (11, "tabs\tand\ttabs with prayer"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._doc_rows is not None and inter._lex is not None
    for q in ["patience and prayer", '"patience prayer" tail',
              "quoted text", "zzz nothing matches this"]:
        for kw in [{}, {"dedupe": False}, {"coverage": 3.0},
                   {"vector_available": False}]:
            a = [r.asDict() for r in
                 batch.hybrid_search(q, n_results=8, **kw).collect()]
            b = [r.asDict() for r in
                 inter.hybrid_search(q, n_results=8, **kw).collect()]
            assert a == b, (q, kw)


def test_local_and_column_scoring_tails_agree_on_rounding_boundaries(spark):
    """Spark's round(x, 6) rounds the SHORTEST decimal repr of the
    double (BigDecimal.valueOf), not its exact binary expansion — e.g.
    0.9050355 (exactly 0.90503549999... in binary) rounds UP. The local
    tail must agree with the Column tail on exactly these half-way
    values (it once used the exact expansion and scored 0.905035 where
    Spark said 0.905036), and on coverage and the phrase bonus when the
    query has terms and a phrase. Both tails score the same crafted
    candidates; the Column tail reads them from `_fused_literal_df`."""
    from dataclasses import replace

    from hadith_vector_search_spark.operators import fusion

    docs = spark.createDataFrame(
        [(i, f"doc {i} body") for i in range(1, 9)]
        + [(9, "patience and prayer at dawn"), (10, "prayer alone"),
           (11, "patience and prayer at dawn")],
        "doc_id int, text string")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive()
    base = fusion.resolve_weights("balanced", True, True)
    w = replace(base, vector=1.0, fts=0.0, coverage=0.0, phrase=0.0)
    boundary = [0.9050355, 0.1234565, 0.2500005, 0.7772435,
                3.15e-05, 0.9999995, 1.0 / 3, 0.123456749999]
    items = sorted((i + 1, (0.0, v)) for i, v in enumerate(boundary))
    texty = [(9, (2.5, 0.31)), (10, (1.25, 0.2)), (11, (2.5, 0.31))]
    cases = [(items, [], w, None),
             (items + texty, ["dawn", "patience", "prayer"], base,
              "patience and prayer")]
    out = []
    for cands, terms, wts, phrase in cases:
        for dedupe in (True, False):
            a = [r.asDict() for r in eng._interactive_scored_local(
                cands, terms, wts, phrase, dedupe, 12).collect()]
            b = [r.asDict() for r in eng._scored_column_tail(
                eng._fused_literal_df(cands), terms, wts, phrase, dedupe,
                12).collect()]
            assert a == b, (terms, dedupe)
            out.append(a)
    assert any(r["score"] == 0.905036 for r in out[0])  # the half-way case
    assert out[2][0]["duplicates_filtered"] == 1  # docs 9 and 11 collapse
    hit = {r["doc_id"]: r for r in out[3]}
    assert hit[9]["phrase_bonus"] > 0 and hit[9]["coverage"] == 1.0
    assert hit[10]["phrase_bonus"] == 0.0
    assert 0.0 < hit[10]["coverage"] < 1.0


def test_column_tail_serves_without_doc_map(spark):
    """With the doc map absent (e.g. a non-atomic corpus column blocks
    it), a resident hybrid call scores its driver-fused candidates on
    the Column tail and must stay row-identical to the batch path
    end-to-end."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    inter._doc_rows = None  # simulate the doc-map tier being unavailable
    for q, kw in [("patience and prayer", {}),
                  ('"window data" stream', {}),
                  ("patience and prayer", {"dedupe": False})]:
        a = [r.asDict() for r in
             batch.hybrid_search(q, n_results=10, **kw).collect()]
        b = [r.asDict() for r in
             inter.hybrid_search(q, n_results=10, **kw).collect()]
        assert a == b, (q, kw)


def test_synonym_groups_local_twin_equals_batch(spark):
    """The zero-job tail's synonym scorer must match the Column path on
    the tricky distinctions: coverage counts a member appearing as a
    SUBSTRING of a longer word, but proximity needs exact TOKEN hits;
    window edge inclusive; first-two-groups-only proximity; single
    group disables the bonus."""
    rows = [
        (1, "patience word word word word prayer close together"),   # d=5
        (2, "patience one two three four five six prayer far apart"),
        (3, "impatiences and prayerful only substrings here"),       # cov only
        (4, "prayer then patience reversed order nearby"),
        (5, "patience alone no second group member"),
        (6, "worship immediately patience adjacent tokens"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._doc_rows is not None
    cases = [
        dict(synonym_groups=[["patience"], ["prayer", "worship"]]),
        dict(synonym_groups=[["patience"], ["prayer"]], near_window=2),
        dict(synonym_groups=[["patience"], ["prayer"]], near_window=5),
        dict(synonym_groups=[["impatiences"], ["prayerful"]]),
        dict(synonym_groups=[["patience", "prayer"]]),        # one group
        dict(synonym_groups=[["patience"], ["prayer"]], dedupe=False),
    ]
    for kw in cases:
        a = [r.asDict() for r in
             batch.hybrid_search("patience prayer", n_results=10,
                                 **kw).collect()]
        b = [r.asDict() for r in
             inter.hybrid_search("patience prayer", n_results=10,
                                 **kw).collect()]
        assert a == b, kw
    out = {r.doc_id: r for r in inter.hybrid_search(
        "patience prayer", n_results=10,
        synonym_groups=[["patience"], ["prayer", "worship"]]).collect()}
    assert out[1].proximity_bonus > 0       # within default window 5
    assert out[2].proximity_bonus == 0.0    # 7 tokens apart
    assert out[3].coverage == 1.0           # substrings count for coverage
    assert out[3].proximity_bonus == 0.0    # but not for token proximity
    assert out[6].proximity_bonus > 0       # second group member, adjacent


def test_rerank_nonpositive_n_results_tier_parity(spark):
    """n_results == 0 returns an EMPTY frame with the ce_score column on
    both tiers (the interactive VALUES builder must not emit an empty
    clause — r7 ADVICE: ParseException); negative n_results raises
    ValueError on both tiers (the Spark path's .limit(n) raises, numpy's
    [:n] would silently tail-truncate)."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._doc_rows is not None
    for eng in (batch, inter):
        out = eng.rerank_search("patience and prayer", n_results=0,
                                backend="hash")
        assert out.count() == 0
        assert "ce_score" in out.columns
        with pytest.raises(ValueError, match="n_results"):
            eng.rerank_search("patience and prayer", n_results=-1,
                              backend="hash")


def test_fts_match_negative_k_raises_both_tiers(spark):
    """A negative k is a caller bug; both tiers must fail identically
    (r7 ADVICE: the interactive tier's [:k] silently dropped the tail)."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    for eng in (batch, inter):
        with pytest.raises(ValueError, match="k must be"):
            eng.fts_match(terms=["patience"], k=-3)


def test_doc_map_bounded_by_corpus_count(spark):
    """max_driver_rows is a promise about EVERY driver copy: with a
    user-supplied embeddings frame smaller than the corpus, the doc-map
    tier must degrade (stay on Spark) when the DOCS count exceeds the
    bound, even though the embeddings count passes (r7 ADVICE)."""
    from hadith_vector_search_spark.operators.embedder import embed_column

    rows = [(i, f"patience and prayer document number {i}")
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    emb = docs.limit(2).select(
        "doc_id", embed_column(F.col("text")).alias("embedding"))
    eng = HybridEngine(spark, docs, embeddings=emb)
    assert eng.enable_interactive(max_driver_rows=3)
    assert eng._mat is not None        # vector tier: 2 vectors <= 3
    assert eng._doc_rows is None       # doc map: 6 docs > 3 -> degraded
    # degraded tiers still serve correct results via the Spark paths
    assert eng.get_document(4).count() == 1
    assert eng.hybrid_search("patience", n_results=3).count() > 0


def test_round6_arr_matches_spark_round_on_boundaries(spark):
    """The vectorized interactive rounding helper must reproduce Spark's
    round(x, 6) — HALF_UP on the SHORTEST decimal repr — including the
    half-way class where np.round's binary ties-to-even diverges
    (r7 ADVICE: the np.round class in the lexical/vector/rerank legs)."""
    import numpy as np

    from hadith_vector_search_spark.api import _round6_arr

    xs = [0.9050355, 0.1234565, 0.0000005, 1.0000015, -0.9050355,
          2.7182818, 0.25, 123.4567895, 1e-7, -1e-7, 0.9999995]
    got = _round6_arr(np.array(xs)).tolist()
    vals = ", ".join(f"(CAST('{x!r}' AS DOUBLE))" for x in xs)
    want = [r[0] for r in spark.sql(
        f"SELECT round(col1, 6) FROM VALUES {vals}").collect()]
    assert got == want
    # at least one of these is a genuine np.round divergence
    assert np.round(np.array(xs), 6).tolist() != want


def test_get_document_row_equals_frame(spark):
    """The in-process row path (dict, no DataFrame round trip) must be
    value-identical to collecting get_document — map tier resident or
    not — including the miss and NULL-text cases."""
    rows = [(1, "alpha beta text"), (2, None), (3, "x" * 300)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    assert inter._doc_rows is not None
    batch = HybridEngine(spark, docs)
    for eng in (batch, inter):
        for did in (1, 2, 3):
            frame = [r.asDict() for r in eng.get_document(did).collect()]
            assert eng.get_document_row(did) == frame[0], (did,)
        assert eng.get_document_row(999) is None
        assert eng.get_document(999).count() == 0
    # the resident path really is zero Spark jobs
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    inter.get_document_row(3)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert before == after


def _serving_snapshot(eng, seed_doc):
    out = {}
    out["hybrid"] = [r.asDict() for r in eng.hybrid_search(
        "patience and prayer", n_results=10).collect()]
    out["fts"] = [r.asDict() for r in eng.fts_match(
        terms=["patience"], k=10).collect()]
    out["fts_prefix"] = [r.asDict() for r in eng.fts_match(
        prefix="pra", k=10).collect()]
    out["mlt"] = [r.asDict() for r in eng.more_like_this(
        seed_doc, n_results=10).collect()]
    out["doc"] = eng.get_document_row(seed_doc)
    return out


def test_upsert_delta_equals_fresh_enable(spark):
    """After an upsert batch (update + insert + remove), the delta-updated
    resident tiers must serve ROW-IDENTICAL results to a fresh engine
    enabled over the merged corpus — every interactive surface (hybrid,
    conjunctive/prefix fts, MLT, point lookup)."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive()
    assert eng._lex is not None and eng._doc_rows is not None

    incoming = spark.createDataFrame(
        [(0, "patience rewritten with prayer and charity", *r[2:])
         for r in [docs.filter(F.col("doc_id") == 0).first()]]
        + [(900001, "brand new doc about patience and windows",
            *[docs.first()[c] for c in docs.columns[2:]])],
        docs.schema)
    removed = spark.createDataFrame([(3,)], "doc_id long")
    eng.upsert_documents(incoming, removed_ids=removed)
    assert eng.interactive_enabled and eng._lex is not None

    fresh = HybridEngine(spark, eng.docs)
    assert fresh.enable_interactive()
    a = _serving_snapshot(eng, 900001)
    b = _serving_snapshot(fresh, 900001)
    assert a == b
    # removed doc is gone from every tier
    assert eng.get_document_row(3) is None
    assert all(r["doc_id"] != 3 for r in a["hybrid"])
    # the Column tail over the upserted eng.docs is correct too: force
    # it (doc map off) on both engines
    eng._doc_rows = None
    fresh._doc_rows = None
    a2 = [r.asDict() for r in eng.hybrid_search(
        "patience and prayer", n_results=10).collect()]
    b2 = [r.asDict() for r in fresh.hybrid_search(
        "patience and prayer", n_results=10).collect()]
    assert a2 == b2


def test_upsert_delta_skips_recollect(spark):
    """A small upsert against live tiers must NOT rerun the enable-time
    corpus collection — the delta applies in place (enable_interactive
    not called); a batch crossing the row bound falls back to the full
    path, which refuses and releases."""
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    eng = HybridEngine(spark, docs)
    assert eng.enable_interactive()
    calls = []
    orig = eng.enable_interactive
    eng.enable_interactive = lambda *a, **k: (calls.append(a),
                                              orig(*a, **k))[1]

    row0 = docs.first()
    incoming = spark.createDataFrame(
        [(0, "small delta update", *[row0[c] for c in docs.columns[2:]])],
        docs.schema)
    out = eng.upsert_documents(incoming)
    assert out["updated"] == 1
    assert calls == []                      # delta path, no re-enable
    assert eng.interactive_enabled

    # crossing the row bound: delta refuses -> full enable -> release
    n = docs.count()
    eng2 = HybridEngine(spark, docs)
    assert eng2.enable_interactive(max_driver_rows=n)
    big = spark.createDataFrame(
        [(900100 + i, f"overflow doc {i}",
          *[row0[c] for c in docs.columns[2:]]) for i in range(3)],
        docs.schema)
    eng2.upsert_documents(big)
    assert not eng2.interactive_enabled     # released, Spark paths serve
    assert eng2.hybrid_search("patience", n_results=3).count() > 0


def test_exact_reference_dispatches_to_point_lookup(spark):
    """Reference-shaped queries go straight to point lookup
    (TEST_QUERIES.md:48-53 'direct lookup, not vector search' — the
    shipped reference computes the intent but never dispatches on it):
    single exact match at score 1.0 in the stable hybrid schema,
    batch/interactive tiers row-identical, ZERO Spark jobs with the doc
    map resident, and a miss returns EMPTY, never fuzzy retrieval."""
    rows = [(i, f"document number {i} about patience and prayer")
            for i in range(1, 21)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()

    cols = ["doc_id", "score", "vec_signal", "fts_sig", "coverage",
            "phrase_bonus", "proximity_bonus", "duplicates_filtered",
            "preview"]
    for q in ("Riyad as-Salihin 7", "book 7", "find hadith 7", "7",
              "Book 1, Hadith 7"):
        got_b = batch.hybrid_search(q, n_results=3).collect()
        got_i = inter.hybrid_search(q, n_results=3).collect()
        assert [tuple(r) for r in got_b] == [tuple(r) for r in got_i], q
        assert len(got_b) == 1 and got_b[0].doc_id == 7, q
        assert got_b[0].score == 1.0
        assert got_b[0].preview.startswith("document number 7 ")
        assert list(got_b[0].asDict()) == cols

    # miss -> empty result, never a fallback to fuzzy retrieval
    assert batch.hybrid_search("hadith number 999", 3).collect() == []
    assert inter.hybrid_search("hadith number 999", 3).collect() == []
    # a number past bigint resolves empty instead of overflowing the plan
    assert inter.hybrid_search("hadith " + "9" * 25, 3).collect() == []
    # n_results contract matches the other tiers
    with pytest.raises(ValueError):
        inter.hybrid_search("book 7", n_results=-1)
    for eng in (batch, inter):  # a non-exact query raises up front too
        with pytest.raises(ValueError):
            eng.hybrid_search("patience and prayer", n_results=-1)
    assert inter.hybrid_search("book 7", n_results=0).collect() == []

    # zero Spark jobs with the doc map resident
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    hit = inter.hybrid_search("book 12", n_results=3).collect()
    after = set(tracker.getJobIdsForGroup())
    assert hit[0].doc_id == 12
    assert after == before, f"launched jobs: {sorted(after - before)}"

    # string-id corpora: the number cannot resolve -> empty, no error
    sdocs = spark.createDataFrame(
        [("riyad:1:1", "string keyed corpus row")], "doc_id string, text string")
    assert HybridEngine(spark, sdocs).hybrid_search(
        "Riyad as-Salihin 680", 3).collect() == []


def test_narrator_bonus_favors_matching_narrator(spark):
    """Spec'd narrator_match_bonus (HADITH_SEARCH_SPEC.md:330-332, 0.4
    when any query term appears case-folded in the narrator field —
    spec'd but never shipped in the reference's scorer): opt-in via
    narrator_col; results gain a narrator_bonus column, the matching
    narrator's doc outranks an otherwise-identical competitor, and the
    interactive local tail is row-identical to the batch Column tail."""
    rows = [
        (1, "patience and prayer during hardship and trials", "Abu Huraira"),
        (2, "patience and prayer during hardship and difficulty",
         "Umar bin Al-Khattab"),
        (3, "patience and prayer when traveling at night", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string, narrator string")
    q = "huraira patience prayer"

    plain = HybridEngine(spark, docs)
    got_plain = plain.hybrid_search(q, n_results=3).collect()
    assert "narrator_bonus" not in got_plain[0].asDict()  # schema opt-in

    batch = HybridEngine(spark, docs, narrator_col="narrator")
    inter = HybridEngine(spark, docs, narrator_col="narrator")
    assert inter.enable_interactive()
    got_b = batch.hybrid_search(q, n_results=3).collect()
    got_i = inter.hybrid_search(q, n_results=3).collect()
    assert [tuple(r) for r in got_b] == [tuple(r) for r in got_i]
    cols = list(got_b[0].asDict())
    assert cols == ["doc_id", "score", "vec_signal", "fts_sig", "coverage",
                    "phrase_bonus", "proximity_bonus", "narrator_bonus",
                    "duplicates_filtered", "preview"]
    by_id = {r.doc_id: r for r in got_b}
    assert by_id[1].narrator_bonus == pytest.approx(0.4)
    assert by_id[2].narrator_bonus == 0.0
    assert by_id[3].narrator_bonus == 0.0  # NULL narrator never matches
    assert got_b[0].doc_id == 1            # the boost decides the ranking

    # exact-reference dispatch keeps the narrator-engine schema
    ref = inter.hybrid_search("hadith number 2", n_results=1).collect()
    assert list(ref[0].asDict()) == cols and ref[0].narrator_bonus == 0.0
    ref_b = batch.hybrid_search("hadith number 2", n_results=1).collect()
    assert [tuple(r) for r in ref_b] == [tuple(r) for r in ref]

    with pytest.raises(ValueError):
        HybridEngine(spark, docs, narrator_col="no_such_column")


def test_narrator_intent_uses_narrator_field_leg(spark):
    """Narrator-intent queries route the lexical leg to a narrator-FIELD
    prefix-AND match (the reference's `narrator:t1* AND narrator:t2*`,
    router.py:93-99 consumed at tools.py:84-88) instead of text BM25: a
    doc merely MENTIONING the narrator in its text gets no lexical
    signal, prefix semantics match truncated name tokens, and the
    batch/interactive tiers stay row-identical."""
    rows = [
        (1, "whoever is patient will be rewarded greatly", "Abu Huraira"),
        (2, "abu huraira said patience is light in hard times",
         "Umar bin Al-Khattab"),
        (3, "charity does not decrease wealth at all", "Abu Huraira"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string, narrator string")
    batch = HybridEngine(spark, docs, narrator_col="narrator")
    inter = HybridEngine(spark, docs, narrator_col="narrator")
    assert inter.enable_interactive()

    for q in ("narrated by Abu Huraira", "narrated by Abu Hurair"):  # prefix
        got_b = batch.hybrid_search(q, n_results=3).collect()
        got_i = inter.hybrid_search(q, n_results=3).collect()
        assert [tuple(r) for r in got_b] == [tuple(r) for r in got_i], q
        by_id = {r.doc_id: r for r in got_b}
        # narrator-field match: docs 1 and 3 carry lexical signal...
        assert by_id[1].fts_sig > 0 and by_id[3].fts_sig > 0, q
        # ...doc 2 only MENTIONS the narrator in text: no lexical signal
        if 2 in by_id:
            assert by_id[2].fts_sig == 0.0, q
        # the spec'd narrator bonus stacks on the field-matched docs
        assert by_id[1].narrator_bonus == pytest.approx(0.4)
        assert got_b[0].doc_id in (1, 3)

    # a thematic query on the same engine still uses the text leg
    th = batch.hybrid_search("rewarded greatly patience light", 3).collect()
    assert {r.doc_id for r in th if r.fts_sig > 0} >= {1, 2}


def test_metadata_filters_restrict_candidates_on_every_tier(spark):
    """The spec's metadata filter (HADITH_SEARCH_SPEC.md:420, the
    reference's Chroma `where=`): {column: value} equality predicates
    restrict the candidate set before scoring, identically on the batch
    Column tail, the driver-local tail, and the exact-reference
    dispatch; NULL column values never match; unknown columns raise."""
    rows = [
        (1, "patience and prayer during hardship", "sahih", "bk1"),
        (2, "patience and prayer during travel", "daif", "bk1"),
        (3, "patience and prayer at night time", "sahih", "bk2"),
        (4, "patience and prayer in the morning", None, "bk2"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id int, text string, grade string, book string")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    q = "patience prayer hardship travel"

    for flt, want in (
        ({"grade": "sahih"}, {1, 3}),
        ({"grade": "sahih", "book": "bk2"}, {3}),
        ({"book": "bk1"}, {1, 2}),
        ({"grade": "missing"}, set()),       # no match -> empty, no error
        ({"grade": None}, set()),            # NULL never matches (Spark ==)
    ):
        got_b = batch.hybrid_search(q, n_results=4, filters=flt).collect()
        got_i = inter.hybrid_search(q, n_results=4, filters=flt).collect()
        assert [tuple(r) for r in got_b] == [tuple(r) for r in got_i], flt
        assert {r.doc_id for r in got_b} == want, flt

    # unfiltered call unchanged; NULL grade doc present there
    assert {r.doc_id for r in
            batch.hybrid_search(q, n_results=4).collect()} == {1, 2, 3, 4}

    # exact-reference dispatch respects the filter on both tiers
    for eng in (batch, inter):
        hit = eng.hybrid_search("hadith 3", 2, filters={"grade": "sahih"})
        assert [r.doc_id for r in hit.collect()] == [3]
        miss = eng.hybrid_search("hadith 2", 2, filters={"grade": "sahih"})
        assert miss.collect() == []
        # {col: None} matches nothing, even rows whose value IS NULL
        assert eng.hybrid_search("hadith 4", 2,
                                 filters={"grade": None}).collect() == []

    # a filter-only doc below the UNFILTERED global top-k still surfaces:
    # the allowed-id set restricts BEFORE the top-k cutoff (Chroma where=)
    many = [(100 + i, f"patience prayer filler {i} " + "pad " * i, "sahih",
             "bulk") for i in range(60)]
    big = spark.createDataFrame(rows + many,
                                "doc_id int, text string, grade string, "
                                "book string")
    eng_big = HybridEngine(spark, big)
    got = eng_big.hybrid_search("patience prayer", n_results=5,
                                filters={"book": "bk2"}).collect()
    assert {r.doc_id for r in got} == {3, 4}

    with pytest.raises(ValueError):
        batch.hybrid_search(q, 3, filters={"nope": 1})


def test_rerank_search_respects_filters(spark):
    """Filters restrict rerank_search's FIRST-STAGE retrieval: the
    reranker only sees allowed candidates, on both tiers."""
    rows = [
        (1, "patience and prayer during hardship", "bk1"),
        (2, "patience and prayer during travel", "bk2"),
        (3, "patience and prayer at night", "bk1"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string, book string")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    for eng in (batch, inter):
        got = eng.rerank_search("patience prayer", n_results=3,
                                filters={"book": "bk1"}).collect()
        assert {r.doc_id for r in got} == {1, 3}
        assert "ce_score" in got[0].asDict()


def test_exact_reference_filter_type_coercion_tier_identity(spark):
    """Filtered exact lookups take the Spark path on EVERY tier, so the
    filter predicate is Column `==` (type-coercing) everywhere: a
    {"book": "1"} filter against an int column matches on the
    interactive tier exactly as it does on the batch tier — a driver-side
    Python `!=` twin would reject the coercible pair and desync the
    tiers."""
    rows = [(1, "doc one text body", 1), (2, "doc two text body", 2)]
    docs = spark.createDataFrame(rows, "doc_id int, text string, book int")
    batch = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()
    for flt, want in (({"book": "1"}, [1]),  # string literal, int column
                      ({"book": 1}, [1]),
                      ({"book": "2"}, [])):
        got_b = [r.doc_id for r in
                 batch.hybrid_search("hadith 1", 2, filters=flt).collect()]
        got_i = [r.doc_id for r in
                 inter.hybrid_search("hadith 1", 2, filters=flt).collect()]
        assert got_b == got_i == want, flt


def test_exact_ref_fallback_opt_in(spark):
    """`exact_ref_fallback=True`: a reference whose number resolves to NO
    document falls back to normal retrieval — the SHIPPED reference's
    behavior (it computes the exact intent but never dispatches on it) —
    while a resolvable reference still takes the point lookup. The
    default engine keeps the spec's empty-frame contract."""
    rows = [(i, f"document number {i} about patience and prayer")
            for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    strict = HybridEngine(spark, docs)
    fb = HybridEngine(spark, docs, exact_ref_fallback=True)

    # resolvable: both engines return the identical single exact match
    a = strict.hybrid_search("hadith 3", 2).collect()
    b = fb.hybrid_search("hadith 3", 2).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(b) == 1 and b[0].doc_id == 3 and b[0].score == 1.0

    # miss: strict stays empty; fallback runs the retrieval legs
    assert strict.hybrid_search("hadith number 999", 3).collect() == []
    got = fb.hybrid_search("hadith number 999", 3).collect()
    assert got, "fallback engine must retrieve on an unresolvable ref"
    assert all(r.score < 1.0 for r in got)  # fuzzy scores, not the 1.0 pin

    # n_results == 0 short-circuits without a probe job on either engine
    assert fb.hybrid_search("hadith number 999", 0).collect() == []

    # the interactive tier honors the same fallback
    fbi = HybridEngine(spark, docs, exact_ref_fallback=True)
    assert fbi.enable_interactive()
    got_i = fbi.hybrid_search("hadith number 999", 3).collect()
    assert [tuple(r) for r in got_i] == [tuple(r) for r in got]


def test_hybrid_search_batch_tier_matches_single_calls(spark):
    """The batch serving tier: N queries -> one frame with a leading
    query_idx, rows per query ROW-IDENTICAL to the single-query call on
    the same engine — on the Spark path (union of plans) and on the
    interactive fast path (one matmul + one VALUES re-entry), where the
    whole batch costs ZERO Spark jobs. Exact-reference queries, misses,
    duplicates, filters, and error contracts all ride along."""
    rows = [
        (1, "patience and prayer during hardship and trials"),
        (2, "patience and prayer during hardship and trials"),  # dup text
        (3, "charity and kindness toward neighbors matters"),
        (4, "fasting in the month of ramadan brings reward"),
        (5, "document number five about prayer at night"),
        (6, "seeking knowledge is a duty for everyone"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    queries = ["patience prayer hardship", "hadith 5", "charity kindness",
               "hadith number 999", "knowledge duty"]
    batch_eng = HybridEngine(spark, docs)
    inter = HybridEngine(spark, docs)
    assert inter.enable_interactive()

    for eng in (batch_eng, inter):
        got = eng.hybrid_search_batch(queries, n_results=3)
        assert got.columns[0] == "query_idx"
        by_q: dict = {}
        for r in got.collect():
            by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
        for i, q in enumerate(queries):
            single = [tuple(r) for r in eng.hybrid_search(q, 3).collect()]
            assert by_q.get(i, []) == single, (i, q)

    # fast path: zero Spark jobs with every tier resident
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    res = inter.hybrid_search_batch(queries, n_results=3).collect()
    after = set(tracker.getJobIdsForGroup())
    assert after == before, f"launched jobs: {sorted(after - before)}"
    assert res

    # error contracts match the single-query surface
    with pytest.raises(ValueError):
        batch_eng.hybrid_search_batch([], 3)
    with pytest.raises(ValueError):
        inter.hybrid_search_batch(["x"], n_results=-1)

    # filters force the Spark path; rows still identical per query
    fdocs = spark.createDataFrame(
        [(1, "patience and prayer", "bk1"), (2, "patience travel", "bk2"),
         (3, "prayer at night time", "bk1")],
        "doc_id int, text string, book string")
    feng = HybridEngine(spark, fdocs)
    fqueries = ["patience prayer", "hadith 2"]
    gb = feng.hybrid_search_batch(fqueries, 3, filters={"book": "bk1"})
    by_q = {}
    for r in gb.collect():
        by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
    for i, q in enumerate(fqueries):
        single = [tuple(r) for r in
                  feng.hybrid_search(q, 3, filters={"book": "bk1"}).collect()]
        assert by_q.get(i, []) == single, (i, q)

    # narrator engines (narrator-intent queries need the Spark leg):
    # identical per query on both tiers
    ndocs = spark.createDataFrame(
        [(1, "patience and prayer during hardship", "Abu Huraira"),
         (2, "patience and prayer during travel", "Umar bin Al-Khattab")],
        "doc_id int, text string, narrator string")
    neng = HybridEngine(spark, ndocs, narrator_col="narrator")
    ninter = HybridEngine(spark, ndocs, narrator_col="narrator")
    assert ninter.enable_interactive()
    nq = ["narrated by Abu Huraira patience", "huraira patience prayer"]
    for eng in (neng, ninter):
        by_q = {}
        for r in eng.hybrid_search_batch(nq, 2).collect():
            by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
        for i, q in enumerate(nq):
            single = [tuple(r) for r in eng.hybrid_search(q, 2).collect()]
            assert by_q.get(i, []) == single, (i, q)

    # an all-miss batch returns the EMPTY frame with the full schema
    empty = inter.hybrid_search_batch(["hadith 999", "hadith 998"], 3)
    assert empty.collect() == []
    assert empty.columns == ["query_idx", "doc_id", "score", "vec_signal",
                             "fts_sig", "coverage", "phrase_bonus",
                             "proximity_bonus", "duplicates_filtered",
                             "preview"]


def test_hybrid_search_batch_synonyms_and_fallback(spark):
    """Batch fast path under the two remaining per-query modes: synonym
    groups (group coverage + token proximity in the python twin) and
    exact_ref_fallback (a miss inside a batch falls through to
    retrieval) — rows stay identical to the single-query calls."""
    rows = [(i, f"document number {i} about patience and prayer window")
            for i in range(1, 8)]
    rows += [(8, "stream and window merge under pressure")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    groups = [["window", "pane"], ["stream", "flow"]]

    for enable in (False, True):
        eng = HybridEngine(spark, docs, exact_ref_fallback=True)
        if enable:
            assert eng.enable_interactive()
        queries = ["patience window stream", "hadith 3", "hadith 999"]
        got = eng.hybrid_search_batch(queries, n_results=3,
                                      synonym_groups=groups)
        by_q: dict = {}
        for r in got.collect():
            by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
        for i, q in enumerate(queries):
            single = [tuple(r) for r in
                      eng.hybrid_search(q, 3, synonym_groups=groups)
                      .collect()]
            assert by_q.get(i, []) == single, (enable, i, q)
        # the fallback engine retrieved on the miss (999 -> results)
        assert by_q.get(2), "exact_ref_fallback must retrieve in batch"


def test_batch_fast_path_mixed_narrator_filtered_zero_jobs(spark):
    """Round-10: a batch MIXING narrator-intent, filtered, exact, and
    thematic queries stays on the zero-job fast path — the narrator leg
    gathers from the resident narrator-field tier and strict-type
    equality filters restrict every leg via the driver id set — with
    rows identical to the single-query calls."""
    docs = spark.createDataFrame(
        [(1, "patience and prayer during hardship", "Abu Huraira", "bk1"),
         (2, "patience and prayer during travel", "Umar bin Al-Khattab",
          "bk2"),
         (3, "charity and patience at night", "Abu Huraira", "bk1"),
         (4, "fasting brings reward and patience", "Aisha", "bk1")],
        "doc_id int, text string, narrator string, book string")
    spark_eng = HybridEngine(spark, docs, narrator_col="narrator")
    inter = HybridEngine(spark, docs, narrator_col="narrator")
    assert inter.enable_interactive()

    queries = ["narrated by Abu Huraira patience", "hadith 3",
               "charity patience", "narrated by Aisha fasting"]
    cases = [None, {"book": "bk1"}, {"doc_id": 3}]
    for filters in cases:
        for eng in (spark_eng, inter):
            by_q: dict = {}
            for r in eng.hybrid_search_batch(queries, 3,
                                             filters=filters).collect():
                by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
            for i, q in enumerate(queries):
                single = [tuple(r) for r in
                          eng.hybrid_search(q, 3, filters=filters).collect()]
                assert by_q.get(i, []) == single, (filters, i, q)

    # zero Spark jobs once the narrator tier is resident (built above)
    tracker = spark.sparkContext.statusTracker()
    for filters in cases:
        before = set(tracker.getJobIdsForGroup())
        res = inter.hybrid_search_batch(queries, 3,
                                        filters=filters).collect()
        after = set(tracker.getJobIdsForGroup())
        assert after == before, (filters, sorted(after - before))
        assert res

    # coercible filter types DEGRADE to the Spark union path (the
    # round-8 hazard: a Python == twin diverges from Column == there);
    # rows still match the single calls, which coerce identically
    by_q = {}
    got = inter.hybrid_search_batch(queries, 3, filters={"doc_id": "3"})
    for r in got.collect():
        by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
    for i, q in enumerate(queries):
        single = [tuple(r) for r in
                  inter.hybrid_search(q, 3,
                                      filters={"doc_id": "3"}).collect()]
        assert by_q.get(i, []) == single, (i, q)


def test_narrator_leg_fresh_after_upsert(spark):
    """The narrator-field index (and its resident tier) must serve the
    POST-upsert corpus: before round 10 the lazily-built _nar_index
    survived upserts stale, so a narrator query could neither see new
    narrators nor forget removed ones."""
    docs = spark.createDataFrame(
        [(1, "patience and prayer during hardship", "Abu Huraira"),
         (2, "patience during travel and fasting", "Umar bin Al-Khattab")],
        "doc_id int, text string, narrator string")
    for enable in (False, True):
        eng = HybridEngine(spark, docs, narrator_col="narrator")
        if enable:
            assert eng.enable_interactive()
        # warm the narrator leg so the lazy index/tier is resident
        assert eng.hybrid_search("narrated by Abu Huraira patience",
                                 3).collect()
        incoming = spark.createDataFrame(
            [(3, "charity and patience all night", "Malik ibn Anas")],
            "doc_id int, text string, narrator string")
        eng.upsert_documents(incoming)
        hits = [r.doc_id for r in
                eng.hybrid_search("narrated by Malik charity", 3).collect()]
        assert 3 in hits, ("post-upsert narrator invisible", enable)


def test_batch_gate_lazy_narrator_tier_and_lexless_narrator_batches(spark):
    """Round-10 review pins: (a) a thematic-only batch on a narrator
    engine must NOT build the narrator tier (it is lazy — built only
    when a narrator-intent query is present); (b) a narrator-only batch
    stays on the fast path even with the TEXT lexical tier unresident
    (the single-query path's altitude)."""
    docs = spark.createDataFrame(
        [(1, "patience and prayer during hardship", "Abu Huraira"),
         (2, "charity and patience at night", "Umar bin Al-Khattab"),
         (3, "fasting brings reward and patience", "Aisha")],
        "doc_id int, text string, narrator string")
    eng = HybridEngine(spark, docs, narrator_col="narrator")
    assert eng.enable_interactive()

    # (a) thematic batch: poison the narrator index build — the gate
    # must never reach it
    def boom(*a, **k):
        raise AssertionError("narrator tier built for a thematic batch")
    orig = eng._narrator_index
    eng._narrator_index = boom
    got = eng.hybrid_search_batch(["charity patience", "hadith 2"], 3)
    assert got.collect()
    eng._narrator_index = orig

    # (b) narrator-only batch with the text tier degraded to Spark
    eng._lex = None
    eng._lex_vocab = None
    nq = ["narrated by Abu Huraira patience", "narrated by Aisha fasting"]
    by_q: dict = {}
    for r in eng.hybrid_search_batch(nq, 2).collect():
        by_q.setdefault(r.query_idx, []).append(tuple(r)[1:])
    for i, q in enumerate(nq):
        single = [tuple(r) for r in eng.hybrid_search(q, 2).collect()]
        assert by_q.get(i, []) == single, (i, q)
    # zero jobs once the narrator tier is resident (built above)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert eng.hybrid_search_batch(nq, 2).collect()
    after = set(tracker.getJobIdsForGroup())
    assert after == before, sorted(after - before)


def test_engine_borrows_store_resident_matrix(spark, tmp_path):
    """round-12 verdict item 2: with `borrow_vectors_from`, the engine's
    interactive vector tier SHARES the published store's resident raw
    matrix (one driver buffer across both enables) and serves results
    identical to an engine that collected its own copy; dim or id-set
    mismatches fall back to the unshared collect — never wrong."""
    import numpy as np

    from hadith_vector_search_spark.sources import load_table, vector_store

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    own = HybridEngine(spark, docs)
    assert own.enable_interactive()
    # publish a store FROM the engine's own embeddings: the borrow
    # contract's "store was built from this corpus" premise, exactly
    idx = str(tmp_path / "borrow_store")
    vector_store.publish_vector_index(own.emb, idx, n_cells=4,
                                      id_col="doc_id", bq1=True)
    vidx = vector_store.open_vector_index(spark, idx)
    shared = HybridEngine(spark, docs)
    assert shared.enable_interactive(borrow_vectors_from=vidx)
    assert vidx.interactive_enabled  # the engine enabled the store tier
    assert np.shares_memory(shared._mat, vidx._resident["mat"])
    for q in ["patience and prayer", "charity given in secret"]:
        a = [r.asDict() for r in own.hybrid_search(q, n_results=10).collect()]
        b = [r.asDict() for r in
             shared.hybrid_search(q, n_results=10).collect()]
        assert a == b, q
    # dim mismatch: enable succeeds but falls back to an unshared collect
    small = HybridEngine(spark, docs, dim=64)
    assert small.enable_interactive(borrow_vectors_from=vidx)
    assert not np.shares_memory(small._mat, vidx._resident["mat"])
    # id-set mismatch (corpus missing a store row): unshared fallback
    sub = HybridEngine(spark, docs.filter(F.col("doc_id") != 0))
    assert sub.enable_interactive(borrow_vectors_from=vidx)
    assert not np.shares_memory(sub._mat, vidx._resident["mat"])
