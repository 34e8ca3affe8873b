"""BM25 lexical retrieval as plain DataFrame algebra (SURVEY §4.2.1).

The reference delegates BM25 to SQLite FTS5 (`bm25()` at
/root/reference/mcp_server/apps/fts.py:98-104 and
/root/reference/quran_mcp/search.py:116-143). Spark has no inverted index, so
we make the index an explicit set of derived tables — the Spark-native
re-expression, not a translation:

    postings(doc_id, term, tf)     one row per (doc, term)
    doc_len(doc_id, dl)            kept-token count per doc
    stats(n_docs, avgdl)           single-row corpus aggregate

Scale design (100 TB):
- postings/doc_len are ordinary DataFrames a caller persists as parquet
  partitioned/bucketed by `term` (postings) and `doc_id` (doc_len); queries
  then prune to the query's terms — the moral equivalent of an inverted
  index lookup, driven by Catalyst partition pruning.
- Query terms are tiny literal DataFrames → broadcast hash joins; the only
  shuffle is the final per-doc score aggregation, which carries one row per
  (doc × matched term).
- Scoring is a single JVM column expression (whole-stage codegen); the
  conjunctive filter is `count(matched terms) == n_terms`, i.e. AND
  semantics without a cascade of self-joins.

IDF uses the always-positive BM25+ style `ln(1 + (N - df + .5)/(df + .5))`
(documented deviation from FTS5's unclamped Robertson idf; ranking order is
identical for df < N/2 and the hybrid scorer normalizes scale anyway).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import MIN_TOKEN_LEN, py_tokenize, tokenize
from ..localrel import local_df

K1 = 1.2
B = 0.75


def doc_tokens(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               min_len: int = MIN_TOKEN_LEN) -> DataFrame:
    """Explode documents into (doc_id, term) — Spark's native UDTF-equivalent
    (explode), no Python in the loop."""
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(tokenize(F.col(text_col), min_len)).alias("term"))
    )


@dataclass
class LexicalIndex:
    postings: DataFrame   # doc_id, term, tf
    doc_len: DataFrame    # doc_id, dl
    stats: DataFrame      # n_docs, avgdl (single row)
    term_df: DataFrame    # term, df — per-term document frequency
    _stats_lit: tuple | None = None  # (n_docs, avgdl) collected once
    _scoring: DataFrame | None = None  # denormalized scoring view, lazy
    _doc_norm: DataFrame | None = None  # (doc_id, dnorm) tf-idf L2, lazy
    _norm_base: tuple | None = None  # (base doc_norm, base n_docs, affected)
    # terms -> scoring-view rows for those terms, scanned with the
    # published layout's term_bucket partition predicate (set by
    # sources.index_store.open_index; None for in-session indexes, whose
    # pinned frames have no partition dirs to prune). Same 5-col schema
    # as scoring_view().
    prune: object | None = None
    # the lazily pinned intermediates (fresh postings, df delta) of the
    # refresh_index call that built this index, released with it
    _steps: tuple = ()

    def cache(self) -> "LexicalIndex":
        self.postings.cache()
        self.doc_len.cache()
        self.stats.cache()
        self.term_df.cache()
        return self

    def frames(self) -> list[DataFrame]:
        """The index's own frames, pinned or derived, and its refresh's
        intermediates — what an owner releases when it supersedes the
        index."""
        return [f for f in (self.postings, self.doc_len, self.term_df,
                            self._scoring, *self._steps) if f is not None]

    def scoring_view(self) -> DataFrame:
        """Denormalized postings (doc_id, term, tf, dl, df), built once and
        pinned — the classic impact-index layout: per-doc length and
        per-term document frequency are FOLDED INTO the posting rows so a
        scoring call is a pure scan+aggregate with the term filter pushed
        into the scan; the normalized frames keep serving status tools and
        composition. Costs ~16 bytes/posting extra and is rebuilt with the
        index snapshot (df/dl are snapshot-static by definition). Without
        it every BM25 call paid a doc_len shuffle join plus a term_df
        broadcast-exchange build — two extra Spark jobs of pure scheduler
        floor on the interactive path."""
        if self._scoring is None:
            self._scoring = (self.postings
                             .join(self.doc_len, "doc_id")
                             .join(self.term_df, "term")
                             .select("doc_id", "term", "tf", "dl", "df")
                             .localCheckpoint())
        return self._scoring

    def doc_norm(self) -> DataFrame:
        """(doc_id, dnorm) — per-document TF-IDF L2 norm over the doc's
        FULL term vector, w_dt = tf·ln(N/df): the length normalizer
        classic vector-space scoring divides by (`plans.lexical.
        tfidf_topk`). Query-independent, so it is index state — built
        lazily from the scoring view (ONE narrow agg over postings-shaped
        rows, never the corpus text) and pinned; at lake scale it
        persists next to doc_len (sources.index_store publishes it).

        Refresh maintenance (`refresh_index` hands the inputs over via
        `_norm_base`): ln(N/df) bakes the GLOBAL doc count into every
        row, so a batch that changes N invalidates every norm — the
        rebuild is the same single narrow agg. A batch that preserves N
        (pure updates) delta-merges instead: only dropped/changed docs
        and docs containing a df-shifted term recompute; everything else
        passes through an anti-join untouched."""
        if self._doc_norm is None:
            n_docs, _ = self.stats_literals()
            w = F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))
            agg = F.sqrt(F.sum(w * w)).alias("dnorm")
            if self._norm_base is not None:
                base_norm, base_n, affected = self._norm_base
                if n_docs == base_n:
                    kept = base_norm.join(F.broadcast(affected),
                                          "doc_id", "left_anti")
                    rebuilt = (self.scoring_view()
                               .join(F.broadcast(affected),
                                     "doc_id", "left_semi")
                               .groupBy("doc_id").agg(agg))
                    self._doc_norm = (kept.unionByName(rebuilt)
                                      .localCheckpoint(eager=False))
                    return self._doc_norm
            self._doc_norm = (self.scoring_view()
                              .groupBy("doc_id").agg(agg)
                              .localCheckpoint(eager=False))
        return self._doc_norm

    def stats_literals(self) -> tuple[float, float]:
        """(n_docs, avgdl) as Python floats, collected ONCE per index and
        memoized. Scoring inlines them as plan literals instead of
        `crossJoin(broadcast(stats))`: the corpus stats are two numbers
        fixed at index-build time, and the broadcast-exchange build was
        one extra Spark job on EVERY scoring call — a pure scheduler tax
        on the interactive path. Values are bit-identical to the frame's
        (same Spark aggregation, collected rather than joined)."""
        if self._stats_lit is None:
            r = self.stats.first()
            # Empty corpus: avg(dl) is NULL. Any avgdl placeholder works
            # (no posting rows exist to score), but it must be a float so
            # the literal plan still builds and scoring returns 0 rows —
            # the old crossJoin path's graceful-empty behavior.
            avgdl = float(r.avgdl) if r.avgdl is not None else 1.0
            self._stats_lit = (float(r.n_docs), avgdl)
        return self._stats_lit


def build_index(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", pin: bool = True) -> LexicalIndex:
    """Build the derived lexical-index tables. Replaces FTS5 index build
    (/root/reference/mcp_server/apps/fts.py:280-290) with partial-agg
    shuffles over the token stream.

    `pin` materializes postings eagerly (localCheckpoint): every scoring
    query consumes the index through several branches (term df, matched
    postings, doc_len, corpus stats) and Spark re-computes diamond
    branches, so an unpinned index tokenizes the corpus once PER BRANCH
    (4 full scans observed in the hybrid plan). On a lake deployment the
    pinned frame is the persisted postings table itself — build once,
    query many — so pinning is the faithful single-job analogue. Pass
    pin=False when composing into a plan that materializes differently
    (or to read the build plan a pin would hide, plans.pin_audit)."""
    toks = doc_tokens(docs, text_col, id_col)
    postings = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    if pin:
        postings = postings.localCheckpoint()
    # dl == token count == sum of per-term tfs; deriving it from `postings`
    # (instead of a second groupBy over `toks`) lets both legs share ONE
    # tokenize+explode+shuffle subtree — Spark's ReusedExchange kicks in
    # because the exchanges are identical, halving index-build scan cost.
    doc_len = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = doc_len.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # df is query-independent — computing it at build time (one vocab-sized
    # table, lazily pinned) saves every scoring call a full postings pass.
    term_df = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    if pin:
        term_df = term_df.localCheckpoint(eager=False)
    return LexicalIndex(postings=postings, doc_len=doc_len, stats=stats,
                        term_df=term_df)


def refresh_index(index: LexicalIndex, changed_docs: DataFrame,
                  removed_ids: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  pin: bool = True) -> LexicalIndex:
    """Incremental lexical-index maintenance — the Spark re-expression of
    the reference's per-doc FTS upsert (delete + reinsert of one doc's
    index rows, /root/reference/mcp_server/apps/fts.py:150-181) and the
    checksum-anti-join discipline of `sources.ingest.classify_changes`: every
    corpus-sized frame is touched only through a broadcast anti-join of
    the (small) changed-ID set against the PINNED base frames, and every
    rebuild is narrow over the changed docs — cost tracks the batch,
    never the corpus. Returns a NEW LexicalIndex; the base is untouched
    (snapshot semantics — readers of the old index keep a consistent
    view, exactly like a Delta/Iceberg MERGE writing a new version).

    The genuinely non-local parts of a lexical index are the GLOBAL
    statistics BM25 bakes into every score, and they are delta-merged,
    not rebuilt:
    - `term_df`: df changes only for terms appearing in dropped or
      reinserted docs. Both sides of the delta aggregate tiny frames
      (removed terms come from a left-semi slice of pinned postings,
      added terms from the fresh postings), and the net-zero rows —
      an updated doc that keeps a term — are filtered out before the
      merge, so unchanged vocabulary rows pass through an anti-join
      untouched.
    - `stats` (n_docs, avgdl): recomputed with build_index's exact
      aggregation over the merged doc_len — a scan of the narrow
      (doc_id, dl) table, not the corpus text. dl/tf are integer-valued
      doubles so the sums are exact and the result is bit-identical to
      a from-scratch build.
    - the denormalized `scoring_view` (if the base materialized one) is
      delta-merged too: rows of dropped/changed docs are replaced, rows
      of UNCHANGED docs are rebuilt only where the term's df actually
      changed (dl can't have changed for an untouched doc), everything
      else is kept verbatim.

    At 100 TB: postings are bucketed by `term` for query pruning, so the
    doc-keyed delete is a full-scan broadcast anti-join (no shuffle) —
    on a lake this is merge-on-read deletion vectors; the SQLite
    reference pays a per-doc b-tree delete instead. Rebuild-equivalence
    with `build_index` over the merged corpus is pinned by the
    `incremental_postings_refresh` oracle query and
    `test_refresh_index_equals_rebuild`.

    `pin=True` pins LAZILY (`localCheckpoint(eager=False)`): the
    snapshot is taken at the FIRST downstream action, not at this call
    (round-13 ADVICE) — evaluate the returned index (any action over it)
    BEFORE mutating or deleting the `changed_docs` source; an eager pin
    captured the batch immediately, the lazy pin reads whatever the
    source holds at first evaluation. Every in-repo caller (streaming
    foreachBatch loops, the CLI delta) evaluates within the batch's
    validity window."""
    changed_ids = (changed_docs.select(F.col(id_col).alias("doc_id"))
                   .distinct())
    drop = changed_ids
    if removed_ids is not None:
        drop = (drop.unionByName(
            removed_ids.select(F.col(removed_ids.columns[0]).alias("doc_id")))
            .distinct())

    # Reinsert side: a narrow build_index over just the changed docs.
    fresh_post = (doc_tokens(changed_docs, text_col, id_col)
                  .groupBy("doc_id", "term")
                  .agg(F.count(F.lit(1)).cast("double").alias("tf")))
    if pin:
        # lazy: pins at first evaluation (the delta pin's job), same
        # exactly-once semantics, one less driver job per refresh (§1.2)
        fresh_post = fresh_post.localCheckpoint(eager=False)
    fresh_dl = fresh_post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))

    # Delete + reinsert on the doc-keyed frames.
    new_post = (index.postings.join(F.broadcast(drop), "doc_id", "left_anti")
                .unionByName(fresh_post))
    new_dl = (index.doc_len.join(F.broadcast(drop), "doc_id", "left_anti")
              .unionByName(fresh_dl))

    # term_df delta: net df change per term, dropped net-zero rows.
    removed_tf = (index.postings
                  .join(F.broadcast(drop), "doc_id", "left_semi")
                  .groupBy("term")
                  .agg(F.count(F.lit(1)).cast("double").alias("_rm")))
    added_tf = (fresh_post.groupBy("term")
                .agg(F.count(F.lit(1)).cast("double").alias("_add")))
    delta = (removed_tf.join(added_tf, "term", "full_outer")
             .select("term",
                     (F.coalesce(F.col("_add"), F.lit(0.0))
                      - F.coalesce(F.col("_rm"), F.lit(0.0))).alias("_net"))
             .filter(F.col("_net") != 0.0))
    if pin:
        delta = delta.localCheckpoint(eager=False)
    # Existing vocabulary: left join the broadcast delta (full outer can't
    # broadcast); brand-new terms arrive via the anti-join leg.
    updated_df = (index.term_df.join(F.broadcast(delta), "term", "left")
                  .select("term", (F.col("df")
                                   + F.coalesce(F.col("_net"), F.lit(0.0)))
                          .alias("df"))
                  .filter(F.col("df") > 0.0))
    new_terms = (delta.join(index.term_df, "term", "left_anti")
                 .filter(F.col("_net") > 0.0)
                 .select("term", F.col("_net").alias("df")))
    new_term_df = updated_df.unionByName(new_terms)

    if pin:
        # Truncate lineage so CHAINED refreshes (repeated upsert batches,
        # streaming per-micro-batch maintenance) stay O(1) plan depth: an
        # unpinned result would make the next refresh's base a lazy
        # anti-join/union tower replaying every earlier batch. Lazy
        # checkpoints (eager=False) pin at first evaluation — a refresh
        # whose output is never read costs nothing extra; the next
        # batch's (or the final consumer's) first action materializes
        # and pins all three. When the base carries a scoring view, the
        # postings pin is skipped here and derived from the scoring pin
        # below instead (same rows, one materialization).
        if index._scoring is None:
            new_post = new_post.localCheckpoint(eager=False)
        new_dl = new_dl.localCheckpoint(eager=False)
        new_term_df = new_term_df.localCheckpoint(eager=False)

    new_stats = new_dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    out = LexicalIndex(postings=new_post, doc_len=new_dl, stats=new_stats,
                       term_df=new_term_df, _steps=(fresh_post, delta))

    if index._scoring is not None:
        # Scoring-view delta: replace rows of dropped/changed docs and of
        # terms whose df moved; keep the rest verbatim. The two rebuild
        # legs are disjoint by construction (second leg anti-joins the
        # changed docs away).
        changed_terms = delta.select("term")
        kept_sc = (index._scoring
                   .join(F.broadcast(drop), "doc_id", "left_anti")
                   .join(F.broadcast(changed_terms), "term", "left_anti"))
        rebuild_post = (fresh_post
                        .unionByName(new_post
                                     .join(F.broadcast(changed_ids),
                                           "doc_id", "left_anti")
                                     .join(F.broadcast(changed_terms),
                                           "term", "left_semi")))
        rebuilt_sc = (rebuild_post
                      .join(new_dl, "doc_id")
                      .join(new_term_df, "term")
                      .select("doc_id", "term", "tf", "dl", "df"))
        sc = kept_sc.unionByName(rebuilt_sc)
        # lazy, like the three base frames above: a CHAINED refresh
        # (streaming per-micro-batch maintenance) materializes batch N's
        # view inside batch N+1's delta job instead of as its own —
        # identical total work, strictly fewer driver jobs; the final
        # consumer's scoring_view() call materializes the last snapshot.
        out._scoring = sc.localCheckpoint(eager=False) if pin else sc
        if pin:
            # The scoring view holds EXACTLY the postings rows with dl/df
            # denormalized on (kept_sc covers unchanged-doc/unchanged-term
            # rows, the rebuild legs cover the rest, disjointly — the same
            # partition of new_post's rows), so the postings snapshot can
            # be a projection of the scoring pin instead of its own
            # checkpoint: one materialization pass and one set of pinned
            # blocks per refresh where there were two (§1.2). new_post
            # stays the unpinned expression feeding the rebuild leg above
            # (evaluated once, inside the scoring pin's materialization —
            # its inputs are the PREVIOUS snapshot's pinned blocks).
            out.postings = out._scoring.select("doc_id", "term", "tf")

    if index._doc_norm is not None:
        # Hand doc_norm maintenance inputs to the new snapshot WITHOUT
        # running anything now (a refresh whose norms are never read
        # costs nothing): docs needing recompute are the dropped/changed
        # set plus docs containing a df-shifted term. Whether the delta
        # path is valid (n_docs preserved) is decided lazily at first
        # doc_norm() call — see LexicalIndex.doc_norm.
        affected = (drop.unionByName(
            out.postings.join(F.broadcast(delta.select("term")),
                              "term", "left_semi")
            .select("doc_id"))
            .distinct())
        out._norm_base = (index._doc_norm, index.stats_literals()[0],
                          affected)
    return out


def _bm25_term_score(tf: Column, dl: Column, avgdl: Column, df: Column, n: Column,
                     k1: float = K1, b: float = B) -> Column:
    idf = F.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def idf_column(df_col: Column, n_docs: float) -> Column:
    """The engine's BM25+ idf as a reusable expression — the ONE place
    the formula lives for term-weight mining (MLT seeds, PRF expansion)
    outside the full score."""
    return F.log(1.0 + (F.lit(float(n_docs)) - df_col + 0.5)
                 / (df_col + 0.5))


def more_like_this(index: LexicalIndex, doc_id, n_terms: int = 5,
                   k: int = 10) -> DataFrame:
    """Lucene-style MoreLikeThis as the shared operator (one source of
    truth for the fixed-constant oracle-checked plan AND the
    parameterized HybridEngine method): mine the seed document's
    `n_terms` highest tf·idf terms (rounded, term-asc tie-break —
    Lucene's interestingTerms), run them as a disjunctive BM25 query
    excluding the seed. Two joins against the denormalized scoring view
    in ONE plan; no driver round-trip between mining and retrieval.
    Returns (doc_id, bm25, matched) ranked (bm25 desc, doc_id asc)."""
    n_docs, avgdl = index.stats_literals()
    sc = index.scoring_view()
    seed_terms = (sc.filter(F.col("doc_id") == doc_id)
                  .select("term",
                          F.round((F.col("tf") / F.col("dl"))
                                  * idf_column(F.col("df"), n_docs), 6)
                          .alias("w"))
                  .orderBy(F.desc("w"), F.asc("term")).limit(n_terms)
                  .select("term"))
    return (sc.join(F.broadcast(seed_terms), "term")
            .filter(F.col("doc_id") != doc_id)
            .groupBy("doc_id")
            .agg(F.round(F.sum(_bm25_term_score(
                F.col("tf"), F.col("dl"), F.lit(avgdl),
                F.col("df"), F.lit(n_docs))), 6).alias("bm25"),
                F.count(F.lit(1)).cast("int").alias("matched"))
            .orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k))


def percolator_qterms(spark: SparkSession, stored_queries: list) -> DataFrame:
    """Stored queries -> DISTINCT (query_id, term) rows via the engine
    tokenizer. At alerting scale this is the persisted stored-query term
    table itself (millions of rows); here it is a literal frame."""
    rows = sorted({(qid, t) for qid, q in stored_queries
                   for t in py_tokenize(q)})
    return local_df(spark, rows, "query_id int, term string")


def rarest_terms(qterms: DataFrame, term_df: DataFrame) -> DataFrame:
    """The percolator INDEX: one routing term per stored query — the
    query's lowest-df term (Elasticsearch percolator / rarest-term
    pre-selection). A term absent from the corpus vocabulary gets df 0,
    the best possible routing key (almost nothing can match through it).
    Correctness never depends on df accuracy: a conjunctive match
    contains EVERY query term, so routing through any one term is
    lossless — df only controls how few false candidates survive to the
    verify step. Ties break term-asc for determinism. One window over
    the (tiny) per-query term rows after a vocab-table join."""
    qd = (qterms.join(term_df, "term", "left")
          .select("query_id", "term",
                  F.coalesce(F.col("df"), F.lit(0.0)).alias("_df")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.asc("_df"), F.asc("term"))
    return (qd.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).select("query_id", "term"))


def percolate(spark: SparkSession, doc_terms: DataFrame,
              stored_queries: list,
              term_df: DataFrame | None = None) -> DataFrame:
    """Percolation core shared by the batch and streaming operators
    (both are checked against the SAME oracle, so the matching pipeline
    must exist exactly once): conjunctive stored-query matching over a
    DISTINCT (doc_id, term) frame — count of matched query terms per
    (doc, query) equals the query length. `stored_queries` is
    [(query_id, query_text)]; terms come from the engine tokenizer.
    Returns (query_id, doc_id).

    `term_df` (the corpus vocabulary's per-term document frequency, e.g.
    `LexicalIndex.term_df`) switches on the SCALE path: stored queries
    become the indexed side, routed through one rarest term each
    (`rarest_terms`), so an arriving doc meets only the queries whose
    routing term it contains — per-doc candidate count is bounded by
    rare-term postings, never |queries|. Candidates are then verified
    conjunctively by fanning each candidate pair out to the doc's own
    terms: cost tracks candidates x doc length, the Elasticsearch
    percolator two-phase shape. Without `term_df` the original
    single-pass broadcast join runs — right for a handful of stored
    queries with no vocabulary statistics at hand. Both paths produce
    identical matches (`test_percolate_candidate_bound`)."""
    qterms = percolator_qterms(spark, stored_queries)
    qlen = (qterms.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_terms")))
    if term_df is None:
        matched = doc_terms.join(F.broadcast(qterms), "term")
    else:
        rare = rarest_terms(qterms, term_df)
        cands = (doc_terms.join(F.broadcast(rare), "term")
                 .select("query_id", "doc_id"))
        matched = (cands.join(doc_terms, "doc_id")
                   .join(F.broadcast(qterms), ["query_id", "term"]))
    return (matched
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .join(F.broadcast(qlen), "query_id")
            .filter(F.col("n_hit") == F.col("n_terms"))
            .select("query_id", "doc_id"))


def score_terms(spark: SparkSession, index: LexicalIndex, terms: list[str],
                conjunctive: bool = True, k1: float = K1, b: float = B) -> DataFrame:
    """Score every doc matching the term list. Returns
    (doc_id, score double, matched int). Conjunctive = FTS5 implicit-AND
    semantics (SURVEY F7); disjunctive keeps any match.

    One job, no joins: the term list is an `isin` literal pushed into the
    pinned denormalized scoring view (tf/dl/df on every row), and the
    corpus stats are plan literals — scan -> partial agg -> final agg is
    the whole leg."""
    if not terms:
        raise ValueError("empty term list")
    terms = sorted(set(terms))
    n_docs, avgdl = index.stats_literals()
    if index.prune is not None:
        # Published layout: scan only the query terms' bucket directories
        # (PartitionFilters prune at planning time — the inverted-index
        # lookup moral equivalent) plus the pushed term filter.
        matched = index.prune(terms)
    else:
        matched = index.scoring_view().filter(
            F.col("term").isin(list(terms)))
    per_doc = (
        matched.groupBy("doc_id")
        .agg(
            F.sum(_bm25_term_score(F.col("tf"), F.col("dl"), F.lit(avgdl),
                                   F.col("df"), F.lit(n_docs), k1, b)).alias("score"),
            F.count(F.lit(1)).cast("int").alias("matched"),
        )
    )
    if conjunctive:
        per_doc = per_doc.filter(F.col("matched") == len(terms))
    return per_doc


def score_terms_batch(index: LexicalIndex, qterms: DataFrame,
                      conjunctive: bool = True,
                      k1: float = K1, b: float = B) -> DataFrame:
    """Batch-of-queries BM25 (SURVEY §3.1's 'batch-of-queries is the
    natural unit'): `qterms` is a (query_id, term) table — routing N
    queries through scoring is ONE plan, identical to the single-query
    plan except every key carries query_id.

    Joins: postings ⋈ broadcast(query terms with df) fans each matched
    posting out to the queries containing that term; the only corpus-wide
    shuffle is the (query_id, doc_id) score aggregation, carrying one row
    per (query, matched doc, term). Conjunctive semantics stay a count
    comparison per (query, doc) — no join cascade, any number of queries.
    Returns (query_id, doc_id, score, matched)."""
    qt = qterms.dropDuplicates(["query_id", "term"])
    n_docs, avgdl = index.stats_literals()
    # qt is typically a driver-local literal table (LocalTableScan), so
    # this broadcast builds without a Spark job; df/dl ride the
    # denormalized scoring view — no corpus-side joins.
    matched = index.scoring_view().join(F.broadcast(qt), "term")
    per = (
        matched.groupBy("query_id", "doc_id")
        .agg(
            F.sum(_bm25_term_score(F.col("tf"), F.col("dl"), F.lit(avgdl),
                                   F.col("df"), F.lit(n_docs), k1, b)).alias("score"),
            F.count(F.lit(1)).cast("int").alias("matched"),
        )
    )
    if conjunctive:
        n_terms = qt.groupBy("query_id").agg(F.count(F.lit(1)).cast("int").alias("n_terms"))
        per = (per.join(F.broadcast(n_terms), "query_id")
               .filter(F.col("matched") == F.col("n_terms"))
               .drop("n_terms"))
    return per


def bm25_topk_batch(spark: SparkSession, docs: DataFrame,
                    queries: list[tuple[int, str]], k: int = 10,
                    text_col: str = "text", id_col: str = "doc_id",
                    conjunctive: bool = True,
                    index: LexicalIndex | None = None) -> DataFrame:
    """Per-query top-k over a literal query batch: tokenize each query with
    the index's rules, score all queries in one plan, rank per query with
    a window (deterministic doc_id tie-break).
    Returns (query_id, doc_id, bm25, rank)."""
    from pyspark.sql.window import Window

    rows = [(qid, t) for qid, q in queries for t in sorted(set(py_tokenize(q)))]
    qterms = local_df(spark, rows, "query_id int, term string")
    if index is None:
        index = build_index(docs, text_col, id_col)
    scored = score_terms_batch(index, qterms, conjunctive)
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.select("query_id", "doc_id", F.round("score", 6).alias("bm25"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def score_prefix(index: LexicalIndex, prefix: str,
                 k1: float = K1, b: float = B) -> DataFrame:
    """F7 prefix term (`tok*`): every index term starting with `prefix`
    collapses into ONE pseudo-term — tf = summed member tfs per doc,
    df = count of docs containing any member (FTS5 treats a prefix query
    as one token set the same way). `startswith` compiles to a range
    predicate on term-sorted postings storage, so the scan prunes.
    Returns (doc_id, score)."""
    n_docs, avgdl = index.stats_literals()
    members = index.scoring_view().filter(F.col("term").startswith(prefix))
    pseudo = members.groupBy("doc_id").agg(F.sum("tf").alias("tf"),
                                           F.first("dl").alias("dl"))
    dfrow = pseudo.agg(F.count(F.lit(1)).cast("double").alias("df"))
    return (
        pseudo.crossJoin(F.broadcast(dfrow))
        .select("doc_id",
                _bm25_term_score(F.col("tf"), F.col("dl"), F.lit(avgdl),
                                 F.col("df"), F.lit(n_docs), k1, b).alias("score"))
    )


def prefix_and_match(index: LexicalIndex, prefixes: list[str],
                     k: int = 10,
                     allowed: DataFrame | None = None) -> DataFrame:
    """AND of prefix pseudo-terms over an index — the reference router's
    narrator MATCH shape (`narrator:t1* AND narrator:t2*`,
    /root/reference/mcp_server/apps/router.py:93-99, consumed by the
    hybrid tool's lexical leg, tools.py:84-88): each token is an FTS5
    prefix query (`t*`, one pseudo-term per `score_prefix`), conjunctive
    via inner joins, scored by the summed prefix BM25. The reference caps
    at the first 6 tokens; callers pass the capped list. Returns
    (doc_id, bm25) ranked with deterministic tie-break."""
    if not prefixes:
        raise ValueError("empty prefix list")
    joined = None
    for i, p in enumerate(prefixes):
        leg = score_prefix(index, p).withColumnRenamed("score", f"_s{i}")
        joined = leg if joined is None else joined.join(leg, "doc_id")
    if allowed is not None:
        # metadata restriction BEFORE the top-k cutoff (a post-cutoff
        # filter would lose allowed docs scoring below the global top-k)
        joined = joined.join(F.broadcast(allowed), "doc_id", "left_semi")
    total = sum((F.col(f"_s{i}") for i in range(1, len(prefixes))),
                F.col("_s0"))
    return (joined.select("doc_id", F.round(total, 6).alias("bm25"))
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(k))


def compiled_match_topk(spark: SparkSession, docs: DataFrame, terms: list[str],
                        prefix: str, field_col: str, field_value: str,
                        k: int = 10, text_col: str = "text",
                        id_col: str = "doc_id",
                        index: LexicalIndex | None = None) -> DataFrame:
    """F7 compiled match expression: `term... pre* field:value` with AND
    semantics — the relational compilation of the reference's FTS5 MATCH
    builder (/root/reference/mcp_server/apps/router.py:93-107, field-scoped
    syntax at /root/reference/mcp_server/apps/fts_cli.py:21-42).

    - plain terms: conjunctive BM25 (`score_terms`),
    - prefix term: pseudo-term BM25 (`score_prefix`), ANDed via inner join,
    - field scope: semi-join against the restricted docs (the analogue of
      `narrator:` matching a separate indexed field).
    Returns (doc_id, bm25) ranked with deterministic tie-break."""
    if index is None:
        index = build_index(docs, text_col, id_col)
    base = score_terms(spark, index, terms, conjunctive=True)
    pre = score_prefix(index, prefix)
    scope = docs.filter(F.col(field_col) == field_value).select(F.col(id_col).alias("doc_id"))
    return (
        base.join(pre.withColumnRenamed("score", "pscore"), "doc_id")
        .join(scope, "doc_id", "left_semi")
        .select("doc_id",
                F.round(F.col("score") + F.col("pscore"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk(spark: SparkSession, docs: DataFrame, query: str, k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              conjunctive: bool = True,
              index: LexicalIndex | None = None) -> DataFrame:
    """End-to-end lexical top-k (SURVEY T1): tokenize the query with the SAME
    rules as the index, score, rank with deterministic doc_id tie-break.
    Returns (doc_id, bm25, matched)."""
    terms = py_tokenize(query)
    if index is None:
        index = build_index(docs, text_col, id_col)
    scored = score_terms(spark, index, terms, conjunctive=conjunctive)
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"), "matched")
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )
