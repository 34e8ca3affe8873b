"""Lexical-leg queries over the `documents` test table (SURVEY §2 F2/F7/F10/
F11/A7/T1/P6) — each with a DuckDB oracle in `..oracles`.

Fixed query strings make the plans oracle-checkable; the engine tokenizes
them with the same rules it indexes with (SURVEY §4.2.4 tokenizer unification).
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import py_tokenize, snippet, term_coverage, tokenize
from ..operators import bm25, fusion, proximity
from ..sources import load_table
from ..localrel import local_df
from .pins import cached

# Shared fixed parameters (the oracle SQL embeds the same constants).
BM25_QUERY = "data stream window"
BM25_OR_QUERY = "vector merge spark"
PHRASE = "window data"
COVERAGE_TERMS = ("data", "query", "stream", "window", "batch")
PROX_GROUP_A = ("data", "table")
PROX_GROUP_B = ("join", "merge")
PROX_WINDOW = 5
MATCH_TERMS = ["data"]
MATCH_PREFIX = "sca"
MATCH_FIELD, MATCH_FIELD_VALUE = "source", "src3"
BATCH_QUERIES = [(1, "data stream window"), (2, "vector merge spark"),
                 (3, "scan filter"), (4, "shuffle partition skew")]
BATCH_K = 5

# The lexical index is a published on-disk artifact. The reference builds
# its FTS index once, PERSISTS it, and every later process reopens it
# (/root/reference/mcp_server/apps/fts.py:263-312 rebuild-iff-stale;
# queries at :95-104 reuse); `get_index` does the same through
# `sources.index_store`: first touch of a corpus publishes the full
# LexicalIndex (term-bucketed postings + scoring view, doc_len, term_df,
# stats, doc_norm) behind the staleness manifest, and EVERY session after
# that — including a brand-new process — reopens the parquet artifact
# instead of re-tokenizing the corpus. The opened handle (and its
# collected stats literals) is one session-cache entry (`plans.pins`),
# rebuilt when `documents.parquet` is rewritten; the expensive state
# lives on disk.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# The temp root every store of the process publishes under once
# `publish_and_open` has found the configured root unwritable.
_FALLBACK_ROOT: str | None = None


def _index_root() -> str:
    """The directory every published store lives under:
    SPARK_GRAFT_INDEX_ROOT (default `spark-warehouse/indexes`), or the
    process's temp root once that root proved unwritable."""
    return (_FALLBACK_ROOT or os.environ.get("SPARK_GRAFT_INDEX_ROOT")
            or os.path.join(_REPO_ROOT, "spark-warehouse", "indexes"))


def publish_and_open(sf_dir: str, suffix: str, fn):
    """Ensure-and-open one store: `fn(idx_dir)` on
    `<index root>/<sf token><suffix>`, returning its handle. The one
    unwritable-root policy of every store getter: the first OSError
    under the configured root switches the process to a single
    `graft_index_*` temp root (warned once on stderr, removed at exit)
    and retries there, so no caller ever runs without a store; an
    OSError under the temp root propagates."""
    global _FALLBACK_ROOT
    name = sf_dir.strip("/").replace("/", "_") + suffix
    root = _index_root()
    try:
        return fn(os.path.join(root, name))
    except OSError as exc:
        if _FALLBACK_ROOT is not None:
            raise
        _FALLBACK_ROOT = tempfile.mkdtemp(prefix="graft_index_")
        atexit.register(shutil.rmtree, _FALLBACK_ROOT, True)
        print(f"index root {root} is unwritable ({exc}); publishing "
              f"stores under {_FALLBACK_ROOT} for the rest of this "
              f"process", file=sys.stderr)
        return fn(os.path.join(_FALLBACK_ROOT, name))


def get_index(spark: SparkSession, sf_dir: str) -> bm25.LexicalIndex:
    from ..sources import index_store
    from .pin_audit import record

    def build() -> bm25.LexicalIndex:
        corpus = load_table(spark, sf_dir, "documents")
        # the pin-time plan of the postings the store publishes, recorded
        # on every handle build (a reused store included), like the
        # frame stores
        record("lexical_postings", sf_dir,
               bm25.build_index(corpus, pin=False).postings)
        return publish_and_open(
            sf_dir, "", lambda d: index_store.ensure_lexical_index(
                spark, corpus, os.path.join(sf_dir, "documents.parquet"),
                d)[0])

    return cached(spark, sf_dir, "documents", "lexical", build)


def term_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: explicit tf/df statistics (what FTS5 keeps internally).
    Top-20 terms by document frequency; deterministic term tie-break."""
    idx = get_index(spark, sf_dir)
    return (
        idx.postings.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.desc("df"), F.desc("total_tf"), F.asc("term"))
        .limit(20)
    )


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: conjunctive BM25 top-10 for a fixed query."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25.bm25_topk(spark, docs, BM25_QUERY, k=10,
                          index=get_index(spark, sf_dir))


def bm25_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 variant: OR semantics — any term matches, ranked by summed score."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25.bm25_topk(spark, docs, BM25_OR_QUERY, k=10, conjunctive=False,
                          index=get_index(spark, sf_dir))


def bm25_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-of-queries BM25: four queries ranked per-query in ONE plan
    (disjunctive so every query yields hits)."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25.bm25_topk_batch(spark, docs, BATCH_QUERIES, k=BATCH_K,
                                conjunctive=False,
                                index=get_index(spark, sf_dir))


def phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 + P6/F25: case-folded phrase containment with position and a
    term-centred snippet. Predicate stays JVM-side (instr)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = F.instr(F.lower(F.col("text")), F.lit(PHRASE))
    return (
        docs.select("doc_id", pos.alias("pos"),
                    snippet(F.col("text"), PHRASE, 60).alias("snip"))
        .filter(F.col("pos") > 0)
    )


PRF_FB_DOCS = 5     # pseudo-relevant feedback set size
PRF_EXP_TERMS = 5   # expansion terms added to the query
PRF_K = 10


def bm25_prf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3-style, Lavrenko & Croft
    2001 / Abdul-Jaleel et al. 2004): run the original BM25 query, treat
    its top-PRF_FB_DOCS hits as relevant, mine the PRF_EXP_TERMS highest-
    weight non-query terms from them (w(t) = sum over feedback docs of
    tf/dl, idf-scaled — the RM1 estimate with uniform doc priors), add
    them to the query, and rescore disjunctively. The second-pass scoring
    every IR engine's "more like this" button runs.

    Fully in-plan: the feedback-doc set and the mined expansion terms are
    DataFrames joined back against the denormalized scoring view — no
    driver round-trip between the passes, so the whole two-pass retrieval
    is one DAG that scales with postings of the matched terms, never the
    corpus. Deterministic: candidate weights round to 6 decimals with
    (w desc, term asc) selection, both passes tie-break on doc_id."""
    idx = get_index(spark, sf_dir)
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    n_docs, avgdl = idx.stats_literals()
    sc = idx.scoring_view()

    base = bm25.score_terms(spark, idx, terms, conjunctive=False)
    fb = (base.select("doc_id", F.round("score", 6).alias("s"))
          .orderBy(F.desc("s"), F.asc("doc_id")).limit(PRF_FB_DOCS)
          .select("doc_id"))
    idf = bm25.idf_column(F.col("df"), n_docs)
    exp_terms = (sc.join(fb, "doc_id", "left_semi")
                 .filter(~F.col("term").isin(terms))
                 .groupBy("term")
                 .agg(F.round(F.sum((F.col("tf") / F.col("dl")) * idf), 6)
                      .alias("w"))
                 .orderBy(F.desc("w"), F.asc("term")).limit(PRF_EXP_TERMS)
                 .select("term"))
    qterms = local_df(spark, [(t,) for t in terms], "term string")
    expanded = qterms.unionByName(exp_terms)
    return (sc.join(F.broadcast(expanded), "term")
            .groupBy("doc_id")
            .agg(F.round(F.sum(
                bm25._bm25_term_score(
                    F.col("tf"), F.col("dl"), F.lit(avgdl),
                    F.col("df"), F.lit(float(n_docs)))), 6).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(PRF_K))


def bm25_prf_oracle() -> str:
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    tvalues = ", ".join(f"('{t}')" for t in terms)
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_sql_tokens_cte()},
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
qterms AS (SELECT * FROM (VALUES {tvalues}) q(term)),
base AS (
  SELECT p.doc_id,
         round(sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * (p.tf * (1.2 + 1.0))
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ), 6)
           AS score
  FROM postings p
  JOIN dfreq d USING (term) JOIN qterms USING (term)
  JOIN doclen l USING (doc_id) CROSS JOIN stats s
  GROUP BY p.doc_id
),
fb AS (SELECT doc_id FROM base
       ORDER BY score DESC, doc_id ASC LIMIT {PRF_FB_DOCS}),
cand AS (
  SELECT p.term,
         round(sum((p.tf / l.dl)
               * ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))), 6) AS w
  FROM postings p
  JOIN fb USING (doc_id)
  JOIN dfreq d USING (term)
  JOIN doclen l USING (doc_id) CROSS JOIN stats s
  WHERE p.term NOT IN ({tlist})
  GROUP BY p.term
),
exp_terms AS (SELECT term FROM cand ORDER BY w DESC, term ASC
              LIMIT {PRF_EXP_TERMS}),
expanded AS (SELECT term FROM qterms UNION ALL SELECT term FROM exp_terms)
SELECT p.doc_id,
       round(sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
            * (p.tf * (1.2 + 1.0))
            / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ), 6)
         AS bm25
FROM postings p
JOIN dfreq d USING (term) JOIN expanded USING (term)
JOIN doclen l USING (doc_id) CROSS JOIN stats s
GROUP BY p.doc_id
ORDER BY bm25 DESC, p.doc_id ASC
LIMIT {PRF_K}
"""


GRADED_K = 10
_GRADING_TIERS = ("Sahih", "Hasan", "Da'if")


def graded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authenticity-grading quality boost over a BM25 leg (the spec's
    grading_boost, HADITH_SEARCH_SPEC.md:352-356 / TEST_QUERIES.md §7.2:
    Sahih 0.15 > Hasan 0.10 > else 0 — spec'd but never shipped in the
    reference's scorer). The synthetic corpus carries no grading column,
    so a deterministic pseudo-grading (doc_id mod 3 over the tier names)
    stands in; the boost string-matching, the fused total, and the
    ranking flips it causes are what the oracle checks."""
    idx = get_index(spark, sf_dir)
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    tiers = F.array(*[F.lit(t) for t in _GRADING_TIERS])
    base = (bm25.score_terms(spark, idx, terms, conjunctive=False)
            .select("doc_id",
                    F.col("score").alias("fts_score"),
                    F.lit(0.0).alias("vector_sim"),
                    F.element_at(tiers, (F.col("doc_id") % 3 + 1).cast("int"))
                    .alias("grading")))
    w = fusion.resolve_weights("fts")
    scored = fusion.score(base, w, grading_col=F.col("grading"))
    explanation = fusion.explanation_col(
        grading_bonus=F.col("grading_bonus"))
    return (scored.select("doc_id", "grading", "fts_sig", "grading_bonus",
                          "score", explanation.alias("explanation"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(GRADED_K))


def graded_search_oracle() -> str:
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH {_sql_tokens_cte()},
qterms AS (SELECT * FROM (VALUES {values}) q(term)),
tdf AS (
  SELECT term, count(*)::DOUBLE AS df
  FROM postings WHERE term IN (SELECT term FROM qterms) GROUP BY 1
),
scored AS (
  SELECT p.doc_id,
         sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * (p.tf * (1.2 + 1.0))
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ) AS s
  FROM postings p
  JOIN tdf d USING (term) JOIN qterms USING (term)
  JOIN doclen l USING (doc_id) CROSS JOIN stats s
  GROUP BY p.doc_id
),
graded AS (
  SELECT doc_id,
         (['Sahih', 'Hasan', 'Da''if'])[(doc_id % 3 + 1)::INT] AS grading,
         greatest(0.0, s) / (greatest(0.0, s) + 1.0) AS fsig
  FROM scored
),
boosted AS (
  SELECT doc_id, grading, round(fsig, 6) AS fts_sig,
         round(CASE WHEN lower(grading) LIKE '%sahih%' THEN 0.15
                    WHEN lower(grading) LIKE '%hasan%' THEN 0.10
                    ELSE 0.0 END, 6) AS grading_bonus,
         round(least(1.0, greatest(0.0,
               fsig + CASE WHEN lower(grading) LIKE '%sahih%' THEN 0.15
                           WHEN lower(grading) LIKE '%hasan%' THEN 0.10
                           ELSE 0.0 END)), 6) AS score
  FROM graded
)
SELECT doc_id, grading, fts_sig, grading_bonus, score,
       CASE WHEN grading_bonus > 0
            THEN '📚 Relevant: High-quality hadith with semantic match'
            ELSE '🔄 Semantic: Similar meaning, different wording'
       END AS explanation
FROM boosted
ORDER BY score DESC, doc_id ASC
LIMIT {GRADED_K}
"""


def faceted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search: alongside the hits, every search UI shows COUNTS
    of matching documents per metadata facet (source, language). One
    semi-join restricts the corpus to the query's matching docs, then a
    single GROUPING SETS aggregate produces both facet dimensions plus
    the grand total in one Expand-based pass — Catalyst's one-scan
    grouping-sets plan, not one scan per facet. Subtotal rows are
    labelled via the GROUPING() indicator (never by NULL-coalescing, so
    genuine NULL facet values can't be conflated)."""
    idx = get_index(spark, sf_dir)
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    matched = (bm25.score_terms(spark, idx, terms, conjunctive=False)
               .select("doc_id"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang")
    j = docs.join(matched, "doc_id", "left_semi")
    return (j.groupingSets([["source"], ["lang"], []], "source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.grouping("source").alias("_gs"),
                 F.grouping("lang").alias("_gl"))
            .select(
                F.when((F.col("_gs") == 0), F.lit("source"))
                .when((F.col("_gl") == 0), F.lit("lang"))
                .otherwise(F.lit("total")).alias("facet"),
                F.coalesce(
                    F.when(F.col("_gs") == 0, F.col("source")),
                    F.when(F.col("_gl") == 0, F.col("lang")),
                    F.lit("*")).alias("value"),
                "n_docs"))


def faceted_search_oracle() -> str:
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {_sql_tokens_cte()},
matched AS (SELECT DISTINCT doc_id FROM postings WHERE term IN ({tlist})),
j AS (
  SELECT d.doc_id, d.source, d.lang
  FROM documents d JOIN matched USING (doc_id)
)
SELECT CASE WHEN GROUPING(source) = 0 THEN 'source'
            WHEN GROUPING(lang) = 0 THEN 'lang'
            ELSE 'total' END AS facet,
       coalesce(CASE WHEN GROUPING(source) = 0 THEN source END,
                CASE WHEN GROUPING(lang) = 0 THEN lang END,
                '*') AS value,
       count(*) AS n_docs
FROM j
GROUP BY GROUPING SETS ((source), (lang), ())
"""


SUGGEST_PREFIX = "sca"
SUGGEST_K = 10


def term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete over the index vocabulary (FTS5's fts5vocab use):
    terms extending a prefix ranked by document frequency. `startswith`
    compiles to a range predicate on term-sorted postings storage, so at
    scale this is a bounded index-range read, not a vocab scan."""
    idx = get_index(spark, sf_dir)
    return (idx.term_df.filter(F.col("term").startswith(SUGGEST_PREFIX))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term")).limit(SUGGEST_K))


def term_suggest_oracle() -> str:
    return f"""
WITH {_sql_tokens_cte()},
vocab AS (SELECT term, count(*) AS df FROM postings GROUP BY 1)
SELECT term, df FROM vocab
WHERE term LIKE '{SUGGEST_PREFIX}%'
ORDER BY df DESC, term ASC LIMIT {SUGGEST_K}
"""


SPELL_INPUTS = ("strean", "windoe", "mergge")   # misspelled query tokens
SPELL_MAX_DIST = 2
SPELL_K = 3


def spell_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean: misspelled query tokens corrected against the index
    vocabulary by edit distance, ranked (distance asc, df desc, term asc),
    top-SPELL_K per input. The length-band prefilter
    (|len(term) − len(input)| ≤ max_dist) is a pushed-down predicate that
    prunes most of the vocabulary before any distance is computed —
    production engines add first-character blocking / n-gram prefilters
    on the same principle; the ranking core is identical."""
    from pyspark.sql.window import Window

    idx = get_index(spark, sf_dir)
    inputs = local_df(spark, [(t,) for t in SPELL_INPUTS], "input string")
    cand = (idx.term_df.crossJoin(F.broadcast(inputs))
            .filter(F.abs(F.length("term") - F.length("input"))
                    <= SPELL_MAX_DIST)
            .withColumn("dist", F.levenshtein("input", "term"))
            .filter(F.col("dist") <= SPELL_MAX_DIST))
    w = Window.partitionBy("input").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= SPELL_K)
            .select("input", F.col("term").alias("suggestion"),
                    "dist", F.col("df").cast("long").alias("df"), "rank"))


def spell_correct_oracle() -> str:
    ivalues = ", ".join(f"('{t}')" for t in SPELL_INPUTS)
    return f"""
WITH {_sql_tokens_cte()},
vocab AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
inputs AS (SELECT * FROM (VALUES {ivalues}) i(input)),
cand AS (
  SELECT i.input, v.term, levenshtein(i.input, v.term) AS dist, v.df
  FROM vocab v CROSS JOIN inputs i
  WHERE abs(length(v.term) - length(i.input)) <= {SPELL_MAX_DIST}
    AND levenshtein(i.input, v.term) <= {SPELL_MAX_DIST}
)
SELECT input, term AS suggestion, dist, df,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY input
                               ORDER BY dist ASC, df DESC, term ASC) AS rank
  FROM cand
) WHERE rank <= {SPELL_K}
"""


def percolate_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation (reverse search / alerting): a TABLE OF STORED QUERIES
    is matched against every document — "which saved searches does this
    doc satisfy" — the operator behind alerting, routing, and saved-feed
    products (Elasticsearch's percolator). Semantics: conjunctive — a
    query matches a doc iff every query term appears in it.

    The matching core is the shared `operators/bm25.percolate` (also
    behind the streaming twin, which drains to the same oracle); the
    postings table supplies the DISTINCT (doc_id, term) frame. The
    stored-query table is the INDEXED side: each query is routed through
    its rarest term (min df from the lexical index's term_df), so a doc
    meets only queries whose routing term it contains — per-doc
    candidates are bounded by rare-term postings, never |queries| — and
    candidates are verified conjunctively (bm25.rarest_terms /
    bm25.percolate two-phase path). Output: (query_id, doc_id)."""
    idx = get_index(spark, sf_dir)
    return bm25.percolate(spark, idx.postings.select("doc_id", "term"),
                          BATCH_QUERIES, term_df=idx.term_df)


def percolate_matches_oracle() -> str:
    rows = sorted({(qid, t) for qid, q in BATCH_QUERIES
                   for t in py_tokenize(q)})
    tvalues = ", ".join(f"({qid}, '{t}')" for qid, t in rows)
    return f"""
WITH {_sql_tokens_cte()},
qterms AS (SELECT * FROM (VALUES {tvalues}) q(query_id, term)),
qlen AS (SELECT query_id, count(*) AS n_terms FROM qterms GROUP BY 1)
SELECT h.query_id, h.doc_id
FROM (
  SELECT q.query_id, p.doc_id, count(*) AS n_hit
  FROM postings p JOIN qterms q USING (term)
  GROUP BY 1, 2
) h JOIN qlen USING (query_id)
WHERE h.n_hit = qlen.n_terms
"""


MLT_DOC_ID = 0      # seed document (same fixture id as HYBRID_VEC_ID)
MLT_TERMS = 5       # representative terms mined from the seed
MLT_K = 10


def more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style MoreLikeThis at fixed constants — the oracle-checked
    instantiation of the shared operator (operators/bm25.more_like_this,
    also behind `api.HybridEngine.more_like_this`)."""
    return bm25.more_like_this(get_index(spark, sf_dir), MLT_DOC_ID,
                               n_terms=MLT_TERMS, k=MLT_K)


def more_like_this_oracle() -> str:
    return f"""
WITH {_sql_tokens_cte()},
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
seed AS (
  SELECT p.term,
         round((p.tf / l.dl)
               * ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)), 6) AS w
  FROM postings p
  JOIN dfreq d USING (term) JOIN doclen l USING (doc_id) CROSS JOIN stats s
  WHERE p.doc_id = {MLT_DOC_ID}
  ORDER BY w DESC, p.term ASC LIMIT {MLT_TERMS}
)
SELECT p.doc_id,
       round(sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
            * (p.tf * (1.2 + 1.0))
            / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ), 6)
         AS bm25,
       CAST(count(*) AS INT) AS matched
FROM postings p
JOIN dfreq d USING (term)
JOIN seed USING (term)
JOIN doclen l USING (doc_id) CROSS JOIN stats s
WHERE p.doc_id <> {MLT_DOC_ID}
GROUP BY p.doc_id
ORDER BY bm25 DESC, p.doc_id ASC
LIMIT {MLT_K}
"""


RERANK_CANDS = 20
RERANK_K = 10


def cross_encoder_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank, the canonical two-stage stack: BM25 first
    stage over-fetches RERANK_CANDS candidates, an Arrow pandas-UDF pair
    scorer (operators/reranker — cross-encoder shape, deterministic hash
    stand-in; real model env-gated) scores each (query, candidate) pair
    jointly, and the top-RERANK_K by rerank score ship. The expensive
    model sees O(k) pairs per query, never the corpus; the first stage is
    the pruned scan+agg BM25 plan. Both stage scores are emitted so the
    oracle pins the full two-stage contract."""
    from ..operators.reranker import pair_score
    from .embedding import DIM

    idx = get_index(spark, sf_dir)
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    base = (bm25.score_terms(spark, idx, terms, conjunctive=False)
            .select("doc_id", F.round("score", 6).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(RERANK_CANDS))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cands = F.broadcast(base).join(docs, "doc_id")
    ce = F.round(pair_score(F.lit(BM25_QUERY), F.col("text"),
                            DIM, backend="hash"), 6)
    return (cands.select("doc_id", "bm25", ce.alias("ce_score"))
            .orderBy(F.desc("ce_score"), F.asc("doc_id")).limit(RERANK_K))


def cross_encoder_rerank_oracle() -> str:
    import math

    from ..operators.embedder import encode_query
    from .embedding import DIM, N_BLOCKS

    terms = sorted(set(py_tokenize(BM25_QUERY)))
    tvalues = ", ".join(f"('{t}')" for t in terms)
    q_raw = encode_query(BM25_QUERY, DIM, backend="hash", normalize=False)
    qn = math.sqrt(sum(t * t for t in q_raw))
    qvals = ", ".join(f"({j}, {q_raw[j]!r})" for j in range(DIM))
    hx = " || ".join(f"md5('{b}|' || tok)" for b in range(N_BLOCKS))
    return f"""
WITH {_sql_tokens_cte()},
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
qterms AS (SELECT * FROM (VALUES {tvalues}) q(term)),
base AS (
  SELECT doc_id, bm25 FROM (
    SELECT p.doc_id,
           round(sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                * (p.tf * (1.2 + 1.0))
                / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ), 6)
             AS bm25
    FROM postings p
    JOIN dfreq d USING (term) JOIN qterms USING (term)
    JOIN doclen l USING (doc_id) CROSS JOIN stats s
    GROUP BY p.doc_id)
  ORDER BY bm25 DESC, doc_id ASC LIMIT {RERANK_CANDS}
),
tok_rows AS (
  SELECT d.doc_id,
         unnest(list_filter(string_split_regex(lower(d.text),
                                               '[^a-z0-9_؀-ۿ]+'),
                            x -> length(x) >= 2)) AS tok
  FROM documents d JOIN base USING (doc_id)
),
tok_hex AS (SELECT doc_id, {hx} AS hx FROM tok_rows),
comps AS (
  SELECT doc_id, g.j AS dim,
         SUM(CASE WHEN substr(hx, g.j + 1, 1) < '8'
                  THEN 1 ELSE -1 END)::DOUBLE AS s
  FROM tok_hex CROSS JOIN generate_series(0, {DIM - 1}) AS g(j)
  GROUP BY doc_id, g.j
),
qvec(j, t) AS (VALUES {qvals}),
ce AS (
  SELECT c.doc_id, SUM(c.s * q.t) AS num, SUM(c.s * c.s) AS ssq
  FROM comps c JOIN qvec q ON q.j = c.dim
  GROUP BY c.doc_id
)
SELECT b.doc_id, b.bm25,
       round(CASE WHEN ce.ssq > 0
                  THEN ce.num / (sqrt(ce.ssq) * {qn!r})
                  ELSE 0.0 END, 6) AS ce_score
FROM base b JOIN ce USING (doc_id)
ORDER BY ce_score DESC, b.doc_id ASC
LIMIT {RERANK_K}
"""


SNIPPET_TOKENS = 12
SNIPPET_TERMS = ("window", "data", "stream")  # py_tokenize(HYBRID_QUERY)


def snippet_positional_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F25 exact window selection: FTS5-style positional snippet over the
    phrase-matching docs — best window of SNIPPET_TOKENS consecutive
    tokens by (distinct matched terms, total matches, earliest), matched
    tokens bracketed, ellipses on truncated edges. One narrow map over
    the filtered scan (predicate pushdown on the phrase containment);
    no shuffle, no UDF."""
    from ..functions.text import snippet_positional

    docs = load_table(spark, sf_dir, "documents")
    s = snippet_positional(F.col("text"), list(SNIPPET_TERMS),
                           n_tokens=SNIPPET_TOKENS)
    return (docs
            .filter(F.instr(F.lower(F.col("text")), F.lit(PHRASE)) > 0)
            .select("doc_id", s.alias("s"))
            .select("doc_id",
                    F.col("s.snippet").alias("snippet"),
                    F.col("s.n_matched").alias("n_matched"),
                    F.col("s.start").alias("win_start")))


def snippet_positional_oracle() -> str:
    """Replays the raw-text rendering: token char spans recovered by the
    same progressive-search rule as the Spark fold (next occurrence of
    each token at/after the previous token's end — here a recursive CTE
    keyed by doc), window chosen identically, then original-text slices
    with brackets at match spans and verbatim inter-token gaps."""
    terms = ", ".join(f"'{t}'" for t in sorted(set(SNIPPET_TERMS)))
    n = SNIPPET_TOKENS
    return f"""
WITH RECURSIVE tk AS (
  SELECT doc_id, text, lower(text) AS lt,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
  WHERE strpos(lower(text), '{PHRASE}') > 0
),
sp AS (
  SELECT doc_id, 1 AS k,
         strpos(lt, ts[1]) AS s,
         strpos(lt, ts[1]) + length(ts[1]) - 1 AS e
  FROM tk WHERE len(ts) >= 1
  UNION ALL
  SELECT t.doc_id, sp.k + 1,
         sp.e + strpos(substr(t.lt, sp.e + 1), t.ts[sp.k + 1]) AS s,
         sp.e + strpos(substr(t.lt, sp.e + 1), t.ts[sp.k + 1])
              + length(t.ts[sp.k + 1]) - 1 AS e
  FROM sp JOIN tk t USING (doc_id)
  WHERE sp.k < len(t.ts)
),
wins AS (
  SELECT doc_id, ts, i - 1 AS start, ts[i:i+{n}-1] AS win
  FROM tk, unnest(range(1, greatest(len(ts) - {n}, 0) + 2)) r(i)
),
scored AS (
  SELECT doc_id, ts, start, win,
         len(list_distinct(list_filter(win,
             t -> list_contains([{terms}], t)))) AS d,
         len(list_filter(win, t -> list_contains([{terms}], t))) AS m
  FROM wins
),
best AS (
  SELECT *, least(start + {n}, len(ts)) AS last_k,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY d DESC, m DESC, start ASC) AS rn
  FROM scored
),
pieces AS (
  SELECT b.doc_id, p.k,
         (CASE WHEN list_contains([{terms}], t.ts[p.k])
               THEN '[' || substr(t.text, p.s, p.e - p.s + 1) || ']'
               ELSE substr(t.text, p.s, p.e - p.s + 1) END)
         || (CASE WHEN p.k < b.last_k
                  THEN substr(t.text, p.e + 1, nxt.s - p.e - 1)
                  ELSE '' END) AS piece
  FROM best b
  JOIN sp p ON p.doc_id = b.doc_id
           AND p.k BETWEEN b.start + 1 AND b.last_k
  JOIN tk t ON t.doc_id = b.doc_id
  LEFT JOIN sp nxt ON nxt.doc_id = p.doc_id AND nxt.k = p.k + 1
  WHERE b.rn = 1
)
SELECT b.doc_id,
       (CASE WHEN b.start > 0 THEN '…' ELSE '' END) ||
       coalesce((SELECT string_agg(piece, '' ORDER BY k)
                 FROM pieces p WHERE p.doc_id = b.doc_id), '') ||
       (CASE WHEN b.start + {n} < len(b.ts) THEN '…' ELSE '' END)
         AS snippet,
       b.m AS n_matched,
       b.start AS win_start
FROM best b WHERE b.rn = 1
"""


def coverage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: term-coverage ratio against a fixed token set; keep docs with
    >= 60% coverage. Coverage is exact rational arithmetic — oracle-safe."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array(*[F.lit(t) for t in COVERAGE_TERMS])
    return (
        docs.select(
            "doc_id",
            F.round(term_coverage(toks, F.lower(F.col("text"))), 6).alias("coverage"),
        )
        .filter(F.col("coverage") >= 0.6)
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 at scale: per-language token counts — tokenizer exercised via the
    declarative split/filter/size path, aggregated per lang partition."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.size(tokenize(F.col("text"))).alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


def proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: docs where the two fixed term groups co-occur within
    PROX_WINDOW tokens, with the min distance."""
    docs = load_table(spark, sf_dir, "documents")
    return proximity.proximity_hits(docs, PROX_GROUP_A, PROX_GROUP_B, PROX_WINDOW)


def fts_match_compiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the compiled match expression 'data sca* source:src3'."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25.compiled_match_topk(spark, docs, MATCH_TERMS, MATCH_PREFIX,
                                    MATCH_FIELD, MATCH_FIELD_VALUE, k=10,
                                    index=get_index(spark, sf_dir))


REFRESH_NEW_ID_OFFSET = 10_000_000


def doc_change_feed(docs: DataFrame) -> DataFrame:
    """The synthetic lexical change feed `(doc_id, text, action)` (same
    fixture family as plans/lifecycle): revised text for doc_id % 5 == 0,
    brand-new docs for % 11 == 0 under REFRESH_NEW_ID_OFFSET, deletions of
    % 13 == 0 (a deletion wins over a revision). Every doc_id appears
    exactly once — revisions and deletions target disjoint original ids,
    new docs live above the offset — so per-doc delete + reinsert commutes
    across any split of the feed into batches. `MERGED_DOCS_SQL` is the
    corpus it drains to."""
    did = F.col("doc_id")
    upd = (docs.filter((did % 5 == 0) & (did % 13 != 0))
           .select("doc_id",
                   F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
                   F.lit("upsert").alias("action")))
    fresh = (docs.filter(did % 11 == 0)
             .select((did + REFRESH_NEW_ID_OFFSET).alias("doc_id"), "text",
                     F.lit("upsert").alias("action")))
    dels = (docs.filter(did % 13 == 0)
            .select("doc_id", F.lit(None).cast("string").alias("text"),
                    F.lit("delete").alias("action")))
    return upd.unionByName(fresh).unionByName(dels)


# `doc_change_feed` applied to `documents` in SQL: the `merged` CTE every
# lexical-feed oracle replays.
MERGED_DOCS_SQL = f"""merged AS (
  SELECT doc_id, text || ' [rev2]' AS text
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + {REFRESH_NEW_ID_OFFSET}, text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, text
  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 13 <> 0
)"""


def split_feed(feed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A change feed's upsert rows (every column but `action`) and its
    delete ids (the id column, first in the feed)."""
    action = F.col("action")
    return (feed.filter(action == "upsert").drop("action"),
            feed.filter(action == "delete").select(feed.columns[0]))


def incremental_postings_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 closed: incremental lexical-index maintenance proven by
    rebuild-equivalence. The whole `doc_change_feed` is delta-merged into
    the session's pinned base index with `operators.bm25.refresh_index` —
    delete + reinsert of the changed docs' postings/doc_len rows, term_df
    and scoring-view delta merges, exact-stats recompute over the narrow
    doc_len. The emitted frame is the refreshed DENORMALIZED SCORING VIEW
    (doc_id, term, tf, dl, df): it folds all three index tables into one
    checkable relation, so the DuckDB oracle building the same index FROM
    SCRATCH over the merged corpus pins full equivalence — the incremental
    path must land on byte-identical global statistics, not just matching
    postings. Mirrors the reference's per-doc FTS upsert
    (/root/reference/mcp_server/apps/fts.py:150-181) at batch scale."""
    docs = load_table(spark, sf_dir, "documents")
    base = get_index(spark, sf_dir)
    base.scoring_view()  # force the delta path, not a lazy full rebuild
    refreshed = bm25.refresh_index(base, *split_feed(doc_change_feed(docs)))
    return refreshed.scoring_view()


def incremental_postings_refresh_oracle() -> str:
    """From-scratch index build over the merged corpus — the
    rebuild-equivalence side of the refresh check."""
    return f"""
WITH {MERGED_DOCS_SQL},
toks AS (
  SELECT doc_id, t.term
  FROM merged,
       unnest(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+')) AS t(term)
  WHERE length(t.term) >= 2
),
postings AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
doc_len  AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1),
term_df  AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1)
SELECT p.doc_id, p.term, p.tf, d.dl, t.df
FROM postings p
JOIN doc_len d USING (doc_id)
JOIN term_df t USING (term)
"""


def published_index_reopened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable-index proof: answer a BM25 query from a REOPENED
    published index — not the session cache, not an in-session build.
    `ensure_lexical_index` publishes the full index artifact iff the
    manifest says the corpus drifted (second and later runs reuse the
    bytes on disk — the reference reopening data/indexes/fts.db at
    startup, /root/reference/mcp_server/apps/fts.py:263-312), then the
    scoring runs off a FRESH `open_index` handle whose scan carries the
    term-bucket PartitionFilters + pushed term predicate. Hash-equality
    with the in-session build is exactly what the shared bm25 oracle
    pins."""
    from ..sources import index_store

    corpus = load_table(spark, sf_dir, "documents")

    def ensure_reopen(idx_dir: str):
        index_store.ensure_lexical_index(
            spark, corpus, os.path.join(sf_dir, "documents.parquet"), idx_dir)
        return index_store.open_index(spark, idx_dir)  # reopen, no cache

    idx = publish_and_open(sf_dir, "", ensure_reopen)
    return bm25.bm25_topk(spark, corpus, BM25_QUERY, k=10, index=idx)


def _sql_tokens_cte() -> str:
    """Shared oracle CTE: tokenize documents with the engine's exact rules."""
    return """
toks AS (
  SELECT doc_id, t.term
  FROM documents,
       unnest(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+')) AS t(term)
  WHERE length(t.term) >= 2
),
postings AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
doclen   AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats    AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM doclen)
"""


def bm25_oracle_sql(query: str, conjunctive: bool, k: int = 10) -> str:
    """Generate the DuckDB oracle for a BM25 query — same tokenizer, same
    IDF, same tie-break."""
    terms = sorted(set(py_tokenize(query)))
    values = ", ".join(f"('{t}')" for t in terms)
    conj_filter = f"WHERE matched = {len(terms)}" if conjunctive else ""
    return f"""
WITH {_sql_tokens_cte()},
qterms AS (SELECT * FROM (VALUES {values}) q(term)),
tdf AS (
  SELECT term, count(*)::DOUBLE AS df
  FROM postings WHERE term IN (SELECT term FROM qterms) GROUP BY 1
),
scored AS (
  SELECT p.doc_id,
         sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * (p.tf * (1.2 + 1.0))
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ) AS score,
         count(*)::INT AS matched
  FROM postings p
  JOIN tdf d USING (term)
  JOIN doclen l USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
)
SELECT doc_id, round(score, 6) AS bm25, matched
FROM scored
{conj_filter}
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


def bm25_batch_oracle_sql(queries: list[tuple[int, str]], conjunctive: bool,
                          k: int) -> str:
    """DuckDB oracle for the query batch — same tokenizer/IDF/tie-break,
    generated from the same (query_id, query) constants."""
    pairs = sorted({(qid, t) for qid, q in queries for t in py_tokenize(q)})
    values = ", ".join(f"({qid}, '{t}')" for qid, t in pairs)
    conj = "AND s.matched = n.n_terms" if conjunctive else ""
    return f"""
WITH {_sql_tokens_cte()},
qterms AS (SELECT * FROM (VALUES {values}) q(query_id, term)),
nterms AS (SELECT query_id, count(*)::INT AS n_terms FROM qterms GROUP BY 1),
tdf AS (
  SELECT term, count(*)::DOUBLE AS df
  FROM postings WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1
),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * (p.tf * (1.2 + 1.0))
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ) AS score,
         count(*)::INT AS matched
  FROM postings p
  JOIN tdf d USING (term)
  JOIN qterms q USING (term)
  JOIN doclen l USING (doc_id)
  CROSS JOIN stats s
  GROUP BY q.query_id, p.doc_id
),
ranked AS (
  SELECT s.query_id, s.doc_id, round(s.score, 6) AS bm25,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY round(s.score, 6) DESC, s.doc_id ASC) AS rank
  FROM scored s
  JOIN nterms n USING (query_id)
  WHERE TRUE {conj}
)
SELECT query_id, doc_id, bm25, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


def proximity_pairs_oracle() -> str:
    ga = ", ".join(f"'{t}'" for t in PROX_GROUP_A)
    gb = ", ".join(f"'{t}'" for t in PROX_GROUP_B)
    return f"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(ts, 1) AS pos, unnest(ts) AS term
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                           x -> length(x) >= 2) AS ts
        FROM documents)
),
hits AS (
  SELECT doc_id, pos,
         CASE WHEN term IN ({ga}) THEN 'a' ELSE 'b' END AS grp
  FROM toks WHERE term IN ({ga}) OR term IN ({gb})
),
lagged AS (
  SELECT doc_id, pos, grp,
         lag(pos) OVER w AS prev_pos,
         lag(grp) OVER w AS prev_grp
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT doc_id, CAST(min(pos - prev_pos) AS INT) AS min_dist
FROM lagged
WHERE prev_grp IS NOT NULL AND grp <> prev_grp
GROUP BY doc_id
HAVING min(pos - prev_pos) <= {PROX_WINDOW}
"""


def fts_match_compiled_oracle(k: int = 10) -> str:
    terms = sorted(set(MATCH_TERMS))
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH {_sql_tokens_cte()},
qterms AS (SELECT * FROM (VALUES {values}) q(term)),
tdf AS (
  SELECT term, count(*)::DOUBLE AS df
  FROM postings WHERE term IN (SELECT term FROM qterms) GROUP BY 1
),
base AS (
  SELECT p.doc_id,
         sum( ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
              * (p.tf * (1.2 + 1.0))
              / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) ) AS score,
         count(*) AS matched
  FROM postings p
  JOIN tdf d USING (term)
  JOIN doclen l USING (doc_id)
  CROSS JOIN stats s
  GROUP BY p.doc_id
  HAVING count(*) = {len(terms)}
),
pseudo AS (
  SELECT doc_id, sum(tf) AS tf
  FROM postings WHERE term LIKE '{MATCH_PREFIX}%' GROUP BY doc_id
),
pdf AS (SELECT count(*)::DOUBLE AS df FROM pseudo),
pre AS (
  SELECT p.doc_id,
         ln(1.0 + (s.n_docs - pdf.df + 0.5) / (pdf.df + 0.5))
           * (p.tf * (1.2 + 1.0))
           / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS pscore
  FROM pseudo p
  JOIN doclen l USING (doc_id)
  CROSS JOIN pdf CROSS JOIN stats s
)
SELECT b.doc_id, round(b.score + pre.pscore, 6) AS bm25
FROM base b
JOIN pre USING (doc_id)
WHERE EXISTS (SELECT 1 FROM documents d
              WHERE d.doc_id = b.doc_id AND d.{MATCH_FIELD} = '{MATCH_FIELD_VALUE}')
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# tfidf_topk — classic vector-space retrieval next to BM25
# ---------------------------------------------------------------------------


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine retrieval over the SAME postings index BM25 reads:
    w_dt = tf·ln(N/df), document L2 norm over the doc's full term vector,
    score = Σ w_dt·w_qt / (|d|·|q|). The other classical lexical model —
    length-normalized where BM25 saturates — offered because a user of
    any lexical engine expects both. Plan shape: matched-postings join on
    the query's term list (index-lookup moral equivalent) over the
    denormalized scoring view, one agg per doc over matched terms; the
    document L2 norm is INDEX STATE (`LexicalIndex.doc_norm` — built
    once, delta-maintained by refresh_index, persisted next to doc_len
    by sources.index_store), not re-derived from the full postings table
    per query; top-k fuses to TakeOrderedAndProject."""
    idx = get_index(spark, sf_dir)
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    qterms = local_df(spark, [(t,) for t in terms], "term string")
    n_docs, _ = idx.stats_literals()
    w = (idx.scoring_view()
         .select("doc_id", "term",
                 (F.col("tf") * F.log(F.lit(n_docs) / F.col("df")))
                 .alias("w")))
    qw = (idx.term_df.join(F.broadcast(qterms), "term")
          .select("term", F.log(F.lit(n_docs) / F.col("df")).alias("wq")))
    qnorm = qw.agg(F.sqrt(F.sum(F.col("wq") * F.col("wq"))).alias("qnorm"))
    return (w.join(F.broadcast(qw), "term")
            .groupBy("doc_id")
            .agg(F.sum(F.col("w") * F.col("wq")).alias("_dp"))
            .join(idx.doc_norm(), "doc_id")
            .crossJoin(F.broadcast(qnorm))
            .select("doc_id",
                    F.round(F.col("_dp") / (F.col("dnorm") * F.col("qnorm")),
                            6).alias("tfidf_cosine"))
            .orderBy(F.desc("tfidf_cosine"), F.asc("doc_id"))
            .limit(10))


def tfidf_topk_oracle() -> str:
    terms = sorted(set(py_tokenize(BM25_QUERY)))
    values = ", ".join(f"('{t}')" for t in terms)
    return f"""
WITH {_sql_tokens_cte()},
qterms AS (SELECT * FROM (VALUES {values}) q(term)),
tdf AS (SELECT term, count(*)::DOUBLE AS df FROM postings GROUP BY 1),
w AS (
  SELECT p.doc_id, p.term, p.tf * ln(s.n_docs / d.df) AS w
  FROM postings p JOIN tdf d USING (term) CROSS JOIN stats s
),
dnorm AS (SELECT doc_id, sqrt(sum(w * w)) AS dnorm FROM w GROUP BY 1),
qw AS (
  SELECT d.term, ln(s.n_docs / d.df) AS wq
  FROM tdf d JOIN qterms USING (term) CROSS JOIN stats s
),
qnorm AS (SELECT sqrt(sum(wq * wq)) AS qnorm FROM qw)
SELECT w.doc_id,
       round(sum(w.w * qw.wq) / (max(dn.dnorm) * max(qn.qnorm)), 6)
           AS tfidf_cosine
FROM w JOIN qw USING (term)
JOIN dnorm dn ON dn.doc_id = w.doc_id
CROSS JOIN qnorm qn
GROUP BY w.doc_id
ORDER BY tfidf_cosine DESC, w.doc_id ASC
LIMIT 10
"""
