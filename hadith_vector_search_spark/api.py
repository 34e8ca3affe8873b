"""Parameterized engine API — the reference's tool surface, Spark-first.

Mirrors the callable surface a user of the reference drives today:
`hybrid_search(query, n_results, scoring_mode, weight overrides)`
(/root/reference/mcp_server/tools.py:39-82), field/prefix FTS match
(/root/reference/mcp_server/apps/fts_cli.py:21-42), point lookup
(/root/reference/quran_mcp/server.py:77-107), and index status
(/root/reference/mcp_server/tools.py:14-36) — but every method takes real
parameters and returns a DataFrame, so the same engine serves one query or
a million. The fixed-constant `plans/` queries are oracle-checkable
instantiations of these methods; this class is the product surface.

Lifecycle: the corpus DataFrames are supplied once; derived state (lexical
index, document embeddings) is built lazily on first use and pinned —
the Spark analogue of the reference's build-on-first-query in-memory
indexes (/root/reference/quran_mcp/search.py:54-92). On a lake deployment
these pins are persisted index tables maintained by the `incremental_*`
path instead.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import py_tokenize, snippet, term_coverage
from .functions.vector import round6_arr
from .operators import bm25, fusion, proximity, similarity
from .operators import dedup as dedup_ops
from .operators.embedder import DEFAULT_DIM, embed_column, encode_query
from .operators.router import INTENT_EXACT, INTENT_NARRATOR, route_one
from .localrel import local_df

OVERFETCH_FLOOR = 50   # max(50, 5*n) per the reference (tools.py:87,93)


# the HALF_UP-on-shortest-repr rounding twin lives with the vector
# helpers so the store-side BLAS paths share one implementation
_round6_arr = round6_arr


def configure_interactive(spark: SparkSession,
                          shuffle_partitions: int = 8) -> None:
    """Tune a session for the INTERACTIVE serving path (one query per
    call, every frame O(k) or pinned). Two deliberate inversions of the
    batch defaults in session.py:

    - AQE off: adaptive execution materializes every shuffle exchange as
      its own Spark job to re-plan on runtime stats — exactly right at
      lake scale, but on a sub-second serving call each extra job costs
      the full scheduler floor (~50-150 ms). Measured on the hybrid call:
      11 jobs/call with AQE vs 3-4 without.
    - small fixed shuffle width: serving exchanges carry tens of rows;
      32+ tasks per wave is pure dispatch overhead without AQE coalescing.

    Serving processes are dedicated (the transports own their session),
    so the session-global conf change is safe there. Batch/bench sessions
    must NOT call this."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))


class HybridEngine:
    """Hybrid retrieval over an arbitrary documents DataFrame
    (id_col + text_col). Vectors: pass an embeddings DataFrame keyed by
    id_col, or omit it and the engine embeds the text column itself with
    the executor-cached model."""

    def __init__(self, spark: SparkSession, docs: DataFrame,
                 embeddings: DataFrame | None = None,
                 text_col: str = "text", id_col: str = "doc_id",
                 dim: int = DEFAULT_DIM,
                 narrator_col: str | None = None,
                 exact_ref_fallback: bool = False) -> None:
        """`narrator_col` (opt-in): name of a narrator/author column in
        `docs`; when set, hybrid_search applies the spec's
        narrator_match_bonus (Weights.narrator, 0.4 when any query term
        appears case-folded in that field — HADITH_SEARCH_SPEC.md:330-332)
        and results gain a flat `narrator_bonus` column.

        `exact_ref_fallback` (opt-in): a reference-shaped query whose
        number resolves to NO document falls back to normal retrieval
        instead of returning the empty frame. The default (False) keeps
        the spec's single-exact-match contract (TEST_QUERIES.md:48-53
        "direct lookup") — a deliberate divergence from the SHIPPED
        reference, which computes the exact intent but never dispatches
        on it and so always runs hybrid search; True restores the shipped
        behavior for unresolvable references."""
        self.spark = spark
        self.text_col, self.id_col, self.dim = text_col, id_col, dim
        self.exact_ref_fallback = bool(exact_ref_fallback)
        if narrator_col is not None and narrator_col not in docs.columns:
            raise ValueError(f"narrator_col {narrator_col!r} not in docs")
        self.narrator_col = narrator_col
        self._nar_index: bm25.LexicalIndex | None = None
        self._nar_tier = None  # narrator-field driver tier (lazy; False = over bound)
        self.docs = docs.localCheckpoint()
        self._index: bm25.LexicalIndex | None = None
        self._emb: DataFrame | None = (
            embeddings.localCheckpoint() if embeddings is not None else None)
        self._ids = None   # numpy id vector (interactive mode)
        self._mat = None   # numpy embedding matrix (interactive mode)
        self._lex = None   # per-term (ids, impacts) arrays (interactive mode)
        self._fwd = None   # doc-sorted forward arrays (interactive mode)
        self._doc_rows = None   # id -> row dict (interactive mode)
        self._lex_vocab = None  # sorted vocab keys of _lex
        self._interactive_bounds = None  # set once enable_interactive runs

    def enable_interactive(self, max_driver_rows: int = 500_000,
                           max_driver_postings: int = 5_000_000,
                           borrow_vectors_from=None) -> bool:
        """Opt-in INTERACTIVE serving: pull the pinned vector index into a
        driver-resident numpy matrix so the per-request vector leg and the
        O(k) fusion run driver-side — the reference's own in-process
        architecture (quran_mcp/search.py's numpy matmul over a loaded
        matrix), and the point-serving layer SCALE.md prescribes for
        sub-second latency, collapsed into this engine for corpora that
        fit one node. With the doc map resident, scoring, bonuses and
        dedup also run driver-side in `_score_local_py`, the one Python
        twin of the Column scoring tail (`_scored_column_tail`); without
        it the resident candidates are scored by that Column tail.

        Bounded: refuses (returns False) above `max_driver_rows` vectors,
        and for id column types that cannot round-trip through the VALUES
        literal re-entry (anything but string/integral) — at lake scale
        the interactive tier is a separate service over the published
        index, not a driver copy. On refusal NO interactive tier is left
        resident: a first enable leaves the engine unchanged, and a
        RE-enable that crosses a bound (e.g. upsert_documents grew the
        corpus past the limit it was enabled with) releases every prior
        tier so subsequent calls fall back to the Spark path instead of
        silently serving the pre-upsert snapshot. Batch paths and
        oracle-checked plans never use this state.

        Also builds (best-effort, bounded by `max_driver_postings`
        scoring-view rows) the SYMMETRIC lexical tier: per term, the ids
        and PRECOMPUTED BM25 impacts of its postings. The per-posting
        score idf(df)·sat(tf, dl) is query-independent — the classic
        impact-ordered-index observation — so a request's lexical leg is
        a gather over its terms' arrays plus one grouped sum, no Spark
        job. With every tier resident a hybrid call runs no Spark job;
        if the postings bound is exceeded the lexical leg simply stays
        on Spark (one more job per call).

        `borrow_vectors_from` (opt-in): a `PublishedVectorIndex` whose
        resident raw matrix this engine SHARES instead of collecting its
        own copy (round-12 verdict item 2 — a serving process enabling
        both tiers held the corpus twice). The caller asserts the store
        was published from THIS corpus with THIS engine's embedder (the
        ingest-CLI composition); the engine verifies what is cheap to
        verify — dim equality and exact id-SET equality against the
        corpus — and on any mismatch (or a store that refuses residency)
        falls back to its own collect: never wrong, just unshared. The
        borrowed arrays are read-shared — every downstream mutation path
        (`_apply_interactive_delta`) copies-on-write via fancy indexing,
        so an upsert un-shares instead of corrupting the store tier."""
        import numpy as np

        self._interactive_bounds = (max_driver_rows, max_driver_postings)
        id_type = self.docs.schema[self.id_col].dataType.simpleString()
        if id_type not in ("string", "tinyint", "smallint", "int", "bigint"):
            self.disable_interactive()
            return False
        borrowed = None
        if borrow_vectors_from is not None:
            borrowed = self._borrow_vector_tier(borrow_vectors_from,
                                                max_driver_rows)
        if borrowed is None and self.emb.count() > max_driver_rows:
            self.disable_interactive()
            return False
        # Tiers below are rebuilt conditionally (postings bound, atomic
        # columns); reset them FIRST so a re-enable whose corpus newly
        # crosses a per-tier bound degrades that tier to the Spark path
        # instead of serving stale arrays.
        self._lex = self._fwd = self._doc_rows = None
        self._lex_vocab = None
        self._nar_tier = None  # lazy; rebuilt on first narrator leg
        if borrowed is not None:
            self._ids, self._mat = borrowed
        else:
            rows = self.emb.select(self.id_col, "embedding").collect()
            self._ids = np.array([r[0] for r in rows])
            self._mat = np.array([list(r[1]) for r in rows])

        # The corpus frame can be LARGER than the embeddings frame the
        # row bound was checked on (user-supplied partial embeddings), so
        # the doc-map tier bounds on the DOCS count — max_driver_rows is a
        # promise about every driver copy.
        n_corpus = self.docs.count()

        sc = self.index.scoring_view()
        if sc.count() <= max_driver_postings:
            n_docs, avgdl = self.index.stats_literals()
            srows = sc.collect()
            self._install_lex_tiers(
                np.array([r["term"] for r in srows]),
                np.array([r["doc_id"] for r in srows]),
                np.array([r["tf"] for r in srows]),
                np.array([r["dl"] for r in srows]),
                n_docs, avgdl)

        # Point-lookup tier: the full corpus rows as a driver dict (same
        # max_driver_rows bound the vector matrix already passed) — only
        # when every column is an atomic SQL type the literal return path
        # can round-trip.
        if n_corpus <= max_driver_rows and all(
                not f.dataType.simpleString().startswith(
                    ("array", "map", "struct", "binary"))
                for f in self.docs.schema.fields):
            self._doc_rows = {r[self.id_col]: r.asDict()
                              for r in self.docs.collect()}
        return True

    def _borrow_vector_tier(self, vidx, max_driver_rows: int):
        """Borrow a `PublishedVectorIndex`'s resident (ids, mat) buffers
        for this engine's vector tier — one driver copy across both
        interactive tiers. Returns None (caller falls back to its own
        collect) unless every cheap identity check passes: the store's
        dim equals the engine's, the store can (or already did) enable
        its resident tier under this caller's row bound, and the store's
        id set EXACTLY equals the engine's vector-source id set (the
        supplied embeddings frame when one was given, else the corpus —
        an ids-only collect, no encoder pass)."""
        if getattr(vidx, "dim", None) != self.dim:
            return None
        if not vidx.interactive_enabled \
                and not vidx.enable_interactive(max_driver_rows):
            return None
        handle = vidx.resident_vectors()
        if handle is None:
            return None
        ids, mat = handle
        if len(ids) > max_driver_rows:
            return None
        src = self._emb if self._emb is not None else self.docs
        src_ids = {r[0] for r in src.select(self.id_col).collect()}
        if set(ids.tolist()) != src_ids:
            return None
        return ids, mat

    def _install_lex_tiers(self, terms, pids, tf, dl,
                           n_docs: float, avgdl: float) -> None:
        """Build and install the driver-resident lexical tiers from raw
        postings-shaped arrays (any row order): per-term document
        frequency is the term-segment length (each (doc, term) row is
        unique, so segment length == df — exactly the index's term_df
        values), impacts are the query-independent idf(df)·sat(tf, dl)
        factors. ONE implementation shared by enable-time collection and
        the upsert delta path, so the two can never drift.

        FP note: mirrors the JVM expression op-for-op (np.log(1 + x),
        not log1p) — any residual difference is libm-vs-Math.log
        last-ulp, the accepted class pinned by
        test_interactive_mode_equals_batch_path."""
        import numpy as np

        order = np.argsort(terms, kind="stable")
        terms, pids = terms[order], pids[order]
        tf, dl = tf[order], dl[order]
        bounds = np.searchsorted(terms, np.unique(terms), side="left")
        ends = np.append(bounds[1:], len(terms))
        df = np.repeat((ends - bounds).astype(float), ends - bounds)
        idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        impact = idf * (tf * (bm25.K1 + 1.0)) / (
            tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / avgdl))
        # raw tf/dl ride along for the prefix pseudo-term (its summed
        # tf and member-df can't be recombined from impacts)
        self._lex = {terms[s]: (pids[s:e], impact[s:e],
                                tf[s:e], dl[s:e])
                     for s, e in zip(bounds, ends)}
        # keys were inserted in term-sorted order (the arrays are
        # sorted above), so this list is sorted — prefix queries
        # bisect an O(log V) range instead of scanning the vocab
        self._lex_vocab = list(self._lex)
        # doc-sorted forward view for MoreLikeThis seed mining
        # (searchsorted slice -> the seed's term rows)
        dorder = np.argsort(pids, kind="stable")
        self._fwd = (pids[dorder], terms[dorder], tf[dorder],
                     dl[dorder], df[dorder])

    def _apply_interactive_delta(self, changed: DataFrame,
                                 removed_ids: DataFrame | None,
                                 fresh_emb: DataFrame | None) -> bool:
        """Apply an upsert batch to the RESIDENT interactive tiers in
        place — the O(batch) alternative to `enable_interactive`'s full
        re-collect. `changed` carries the corpus-schema changed/new rows
        (removal-wins already applied), `fresh_emb` their embeddings;
        both are batch-sized checkpointed frames, so the only Spark work
        here is two O(batch) collects.

        Per tier: vector matrix/doc map drop the batch's rows and append
        the fresh ones; the lexical tier drops the batch's postings from
        the raw forward arrays, appends postings tokenized driver-side
        with `py_tokenize` (the tested twin of the index tokenizer), and
        re-derives df/impacts through `_install_lex_tiers` — the SAME
        builder enable-time collection uses, because BM25's global
        n_docs/avgdl/df factors make per-posting impacts globally
        sensitive to any batch (recompute is one vectorized numpy pass
        over ≤max_driver_postings rows, no Spark job). n_docs/avgdl come
        exactly from the doc-level dl values (integer-valued doubles:
        sums are exact, the division matches Spark's avg). The Column
        scoring tail needs no delta: it reads the upserted `self.docs`.

        Bound discipline mirrors enable_interactive: vector/doc-map rows
        over `max_driver_rows` → False (caller re-enables, which refuses
        and releases); postings over `max_driver_postings` → the lexical
        tier alone degrades to the Spark leg. Returns True when the
        resident tiers now serve the post-upsert corpus. Row-identity
        with a fresh enable is pinned by
        test_upsert_delta_equals_fresh_enable."""
        from collections import Counter

        import numpy as np

        if self._mat is None or fresh_emb is None:
            return False
        max_rows, max_post = self._interactive_bounds
        changed_rows = [r.asDict() for r in changed.collect()]
        removed = ([r[0] for r in removed_ids.collect()]
                   if removed_ids is not None else [])
        drop = set(removed) | {r[self.id_col] for r in changed_rows}
        drop_arr = np.array(sorted(drop)) if drop else None

        # --- vector tier (bound: total resident vectors) ---------------
        keep = (~np.isin(self._ids, drop_arr) if drop_arr is not None
                else np.ones(len(self._ids), dtype=bool))
        fresh_rows = fresh_emb.collect()
        if int(keep.sum()) + len(fresh_rows) > max_rows:
            return False
        ids2, mat2 = self._ids[keep], self._mat[keep]
        if fresh_rows:
            ids2 = np.concatenate(
                [ids2, np.array([r[0] for r in fresh_rows])])
            mat2 = np.vstack(
                [mat2.reshape(-1, self._mat.shape[1]),
                 np.array([list(r[1]) for r in fresh_rows])])

        # --- doc-map tier (bound: corpus rows; degrades alone) ---------
        new_map = None
        if self._doc_rows is not None:
            new_map = {k: v for k, v in self._doc_rows.items()
                       if k not in drop}
            for r in changed_rows:
                new_map[r[self.id_col]] = r
            if len(new_map) > max_rows:
                new_map = None

        # --- lexical tier (bound: postings; degrades alone) ------------
        lex_arrays = None
        if self._fwd is not None:
            pids, terms, tf, dl, _ = self._fwd
            if drop_arr is not None:
                m = ~np.isin(pids, drop_arr)
                pids, terms, tf, dl = pids[m], terms[m], tf[m], dl[m]
            a_ids, a_terms, a_tf, a_dl = [], [], [], []
            for r in changed_rows:
                toks = py_tokenize(r[self.text_col] or "")
                if not toks:
                    continue  # token-less docs have no index presence
                length = float(len(toks))
                for t, n in Counter(toks).items():
                    a_ids.append(r[self.id_col])
                    a_terms.append(t)
                    a_tf.append(float(n))
                    a_dl.append(length)
            if a_ids:
                pids = np.concatenate([pids, np.array(a_ids)])
                terms = np.concatenate([terms, np.array(a_terms)])
                tf = np.concatenate([tf, np.array(a_tf)])
                dl = np.concatenate([dl, np.array(a_dl)])
            if len(pids) <= max_post:
                if len(pids):
                    uniq, first = np.unique(pids, return_index=True)
                    n_docs = float(len(uniq))
                    avgdl = float(dl[first].sum()) / n_docs
                else:
                    n_docs, avgdl = 0.0, 1.0
                lex_arrays = (terms, pids, tf, dl, n_docs, avgdl)

        # --- all bounds verified: install -----------------------------
        self._ids, self._mat = ids2, mat2
        self._doc_rows = new_map
        if lex_arrays is not None:
            self._install_lex_tiers(*lex_arrays)
        else:
            self._lex = self._fwd = None
            self._lex_vocab = None

        return True

    def disable_interactive(self) -> None:
        """Release every driver-resident interactive tier (vector matrix,
        lexical impact arrays, doc map); all calls fall back to the full
        Spark paths. Idempotent; called automatically when a re-enable
        crosses a bound so no tier can serve a stale corpus snapshot."""
        self._ids = self._mat = None
        self._lex = self._fwd = self._doc_rows = None
        self._lex_vocab = None
        self._nar_tier = None

    @property
    def interactive_enabled(self) -> bool:
        """Whether the driver-resident vector tier is serving (the other
        tiers degrade independently per their own bounds)."""
        return self._mat is not None

    def _fused_literal_df(self, items: list) -> DataFrame:
        """Fused candidates as a SQL VALUES literal — a genuine
        LocalRelation, which matters: PySpark's createDataFrame builds an
        RDD-backed frame whose broadcast-exchange build runs a full Spark
        job (default-parallelism tasks), while a LocalRelation broadcast
        builds driver-side with NO job. Doubles travel as
        CAST('repr' AS DOUBLE) (bare decimal literals parse as DECIMAL in
        Spark SQL; the string cast round-trips the exact double)."""
        id_t = self.docs.schema[self.id_col].dataType.simpleString()
        if not items:
            return (self.docs.select(self.id_col).limit(0)
                    .withColumn("fts_score", F.lit(0.0))
                    .withColumn("vector_sim", F.lit(0.0)))
        return self.spark.sql(
            f"SELECT CAST(col1 AS {id_t}) AS {self.id_col}, "
            f"col2 AS fts_score, col3 AS vector_sim "
            f"FROM VALUES {self._values_clause(items)}")

    def _sql_atom(self, v, type_str: str) -> str:
        """One atomic value as a typed SQL literal: everything round-trips
        through a quoted string + CAST (ints, doubles via repr, booleans,
        dates/timestamps via their ISO str) — the uniform exact encoding
        the VALUES fast paths rely on."""
        if v is None:
            return f"CAST(NULL AS {type_str})"
        if isinstance(v, float):
            return f"CAST('{v!r}' AS {type_str})"
        return f"CAST({self._sql_str(str(v))} AS {type_str})"

    @staticmethod
    def _sql_str(v: str) -> str:
        """Spark SQL string literal — literals process backslash escapes
        by default, so escape the escape char FIRST, then the quote (a
        string ending in '\\' would otherwise escape the closing quote:
        verified ParseException)."""
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    def _hits_literal_df(self, hits: list, score_col: str) -> DataFrame:
        """Ranked (id, score) pairs as a LocalRelation DataFrame — the
        zero-job return path for fully driver-computed legs (collect of
        a literal relation never launches a Spark job)."""
        if not hits:
            return (self.docs.select(self.id_col).limit(0)
                    .withColumn(score_col, F.lit(0.0)))
        id_t = self.docs.schema[self.id_col].dataType.simpleString()
        vals = ", ".join(
            f"({self._fmt_id(i)}, {self._sql_atom(float(s), 'DOUBLE')})"
            for i, s in hits)
        return self.spark.sql(
            f"SELECT CAST(col1 AS {id_t}) AS `{self.id_col}`, "
            f"col2 AS {score_col} FROM VALUES {vals}")

    def _fmt_id(self, v) -> str:
        """An id value as a SQL literal for the VALUES fast paths —
        string ids through _sql_str escaping, integral ids verbatim
        (every path CASTs to the id column's type around it). The ONE
        definition all VALUES builders share."""
        return self._sql_str(v) if isinstance(v, str) else str(v)

    def _values_clause(self, items: list) -> str:
        """(id, fts_score, vector_sim) rows as a VALUES clause. Doubles
        travel as CAST('repr' AS DOUBLE) (bare decimal literals parse as
        DECIMAL in Spark SQL; the string cast round-trips the exact
        double)."""
        return ", ".join(
            f"({self._fmt_id(rid)}, {self._sql_atom(float(fs), 'DOUBLE')}, "
            f"{self._sql_atom(float(vs), 'DOUBLE')})"
            for rid, (fs, vs) in items)

    @staticmethod
    def _min_pair_distance_py(toks: list[str], ga: set, gb: set):
        """Driver twin of `proximity.min_pair_distance` over one doc's
        kept-token stream: the closest cross-group pair is always
        adjacent in the merged position order (the identity the Spark
        lag() pass exploits), so one scan over group hits suffices. A
        token in BOTH groups labels as group a, matching the Spark
        when(isin(a)).when(isin(b)) precedence. Returns min distance or
        None when either group never hits."""
        best = prev_pos = prev_grp = None
        for pos, t in enumerate(toks):
            grp = "a" if t in ga else ("b" if t in gb else None)
            if grp is None:
                continue
            if prev_grp is not None and grp != prev_grp:
                d = pos - prev_pos
                if best is None or d < best:
                    best = d
            prev_grp, prev_pos = grp, pos
        return best

    def _interactive_scored_local(self, items: list, terms: list[str],
                                  w, phrase: str | None, dedupe: bool,
                                  n_results: int,
                                  synonym_groups: list[list[str]] | None
                                  = None,
                                  near_window: int = 5) -> DataFrame | None:
        """The scoring tail computed entirely driver-side over the
        resident doc map — ZERO Spark jobs for a hybrid call when every
        tier is resident (the result returns as a VALUES LocalRelation,
        like get_document). A strict python twin of the Column tail
        (`_scored_column_tail`: `fusion.score` + `fused_result_dedup` +
        the final projection), expression-for-expression: same
        greatest/least clamps, same raw-vs-rounded usage, same dedup key
        (space-trimmed 120-char preview, id-string fallback), same
        (score desc, id asc) tie-breaks, same global duplicates_filtered
        algebra. Rounding: Spark's round(x, 6) rounds the SHORTEST
        decimal repr of the double (BigDecimal.valueOf = Double.toString),
        not its exact binary expansion — Decimal(repr(x)) reproduces that
        (Python repr is also shortest-round-trip; verified against Spark
        on half-way values like 0.9050355, where the exact expansion
        ...49999 rounds DOWN but both engines round UP). Residual
        divergence needs a double where Java 17's Double.toString emits a
        non-shortest repr AND the 6-dp boundary falls inside the extra
        digits — vanishingly rarer than the np.round class. Row-identity
        with the batch path is pinned by
        test_interactive_mode_equals_batch_path (this path serves it
        whenever the doc map is resident). Returns None when a candidate
        id is missing from the doc map (cannot mirror the inner join
        against a FRESHER corpus) — the caller falls through to the
        Column tail. Equality with that tail on crafted candidates
        (rounding boundaries, coverage, phrase bonus) is pinned by
        test_local_and_column_scoring_tails_agree_on_rounding_boundaries.

        With `synonym_groups` this also twins the reference's group
        scorer: coverage is per-group any-member SUBSTRING containment,
        and the proximity bonus fires when the first two groups' TOKENS
        co-occur within `near_window` kept-token positions
        (`_min_pair_distance_py`, mirroring
        operators/proximity.min_pair_distance over
        py_tokenize — the tested driver twin of `tokenize`)."""
        scored = self._score_local_py(items, terms, w, phrase, dedupe,
                                      n_results,
                                      synonym_groups=synonym_groups,
                                      near_window=near_window)
        if scored is None:
            return None
        top, dropped = scored
        if not top:
            return None
        return self._scored_values_df([(None, top, dropped)])

    def _score_local_py(self, items: list, terms: list[str], w,
                        phrase: str | None, dedupe: bool, n_results: int,
                        synonym_groups: list[list[str]] | None = None,
                        near_window: int = 5
                        ) -> tuple[list[tuple], int] | None:
        """The pure-Python scoring tail shared by the single-query local
        path and the batch serving tier: returns (top rows, dropped
        count), or None when a candidate id is missing from the doc map
        (the caller must fall through to a Spark tail). Each row is
        (id, score, vec, fts, cov, phrase, prox, narrator, preview),
        all already HALF_UP-rounded to 6 dp."""
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")

        def r6(x: float) -> float:
            return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

        phrase_l = phrase.lower() if phrase else None
        groups_l = ([[m.lower() for m in grp] for grp in synonym_groups]
                    if synonym_groups else None)
        prox_on = synonym_groups is not None and len(synonym_groups) >= 2
        if prox_on:
            ga = set(groups_l[0])
            gb = set(groups_l[1])
            thresh = max(1, near_window)
        scored = []
        for rid, (fts, vs) in items:
            row = self._doc_rows.get(rid)
            if row is None:
                return None
            txt = row[self.text_col]
            ltxt = txt.lower() if txt is not None else None
            _vs = min(1.0, max(0.0, vs))
            _fs = max(0.0, fts) / (max(0.0, fts) + 1.0)
            if groups_l is not None:
                _cv = (float(sum(1 for grp in groups_l
                                 if any(m in ltxt for m in grp)))
                       / float(len(groups_l))
                       if ltxt is not None else 0.0)
            else:
                _cv = (float(sum(1 for x in terms if x in ltxt))
                       / float(len(terms))
                       if terms and ltxt is not None else 0.0)
            _ph = (w.phrase if phrase_l and ltxt is not None
                   and phrase_l in ltxt else 0.0)
            _px = 0.0
            if prox_on and txt is not None:
                d = self._min_pair_distance_py(py_tokenize(txt), ga, gb)
                if d is not None and d <= thresh:
                    _px = w.proximity
            _nb = 0.0
            if self.narrator_col is not None and terms:
                # twin of the batch tail's narrator_hit (spec:330-332)
                nval = row.get(self.narrator_col)
                nlow = nval.lower() if nval is not None else ""
                if any(t in nlow for t in terms):
                    _nb = w.narrator
            total = min(1.0, max(
                0.0, _vs * w.vector + _fs * w.fts + _cv * w.coverage
                + _ph + _px + _nb))
            prev = txt[:120] if txt is not None else None
            scored.append((rid, r6(total), r6(_vs), r6(_fs), r6(_cv),
                           r6(_ph), r6(_px), r6(_nb), prev))
        n_tot = len(scored)
        scored.sort(key=lambda s: (-s[1], s[0]))
        dropped = 0
        if dedupe:
            seen: set = set()
            survivors = []
            for s in scored:
                key = (s[8] or "").strip(" ") or str(s[0])
                if key not in seen:
                    seen.add(key)
                    survivors.append(s)
            dropped = n_tot - len(survivors)
            scored = survivors
        return scored[:int(n_results)], dropped

    def _scored_values_df(self, groups: list[tuple]) -> DataFrame:
        """Render locally-scored rows as ONE VALUES LocalRelation (zero
        Spark jobs). `groups` is [(query_idx | None, top_rows, dropped)]
        — a single (None, ...) group emits the plain hybrid schema; the
        batch tier passes N indexed groups and gains a leading
        `query_idx` column, paying ONE statement parse for the whole
        batch instead of one per query."""
        id_t = self.docs.schema[self.id_col].dataType.simpleString()
        dbl = lambda x: self._sql_atom(float(x), "DOUBLE")  # noqa: E731
        with_nar = self.narrator_col is not None
        with_qidx = groups[0][0] is not None
        vals = ", ".join(
            "({}{}, {}, {}, {}, {}, {}, {}, {}{}, {})"
            .format(f"{int(qidx)}, " if with_qidx else "",
                    self._fmt_id(rid), dbl(sc), dbl(v), dbl(f), dbl(c),
                    dbl(p), dbl(px),
                    f"{dbl(nb)}, " if with_nar else "",
                    int(dropped),
                    "CAST(NULL AS STRING)" if prev is None
                    else self._sql_str(prev))
            for qidx, top, dropped in groups
            for rid, sc, v, f, c, p, px, nb, prev in top)
        off = 1 if with_qidx else 0
        c = lambda i: f"col{i + off}"  # noqa: E731
        qidx_sel = (f"CAST(col1 AS INT) AS query_idx, " if with_qidx else "")
        nar_sel = f"{c(8)} AS narrator_bonus, " if with_nar else ""
        c_dropped, c_prev = (c(9), c(10)) if with_nar else (c(8), c(9))
        return self.spark.sql(
            f"SELECT {qidx_sel}"
            f"CAST({c(1)} AS {id_t}) AS `{self.id_col}`, "
            f"{c(2)} AS score, {c(3)} AS vec_signal, {c(4)} AS fts_sig, "
            f"{c(5)} AS coverage, {c(6)} AS phrase_bonus, "
            f"{c(7)} AS proximity_bonus, {nar_sel}"
            f"CAST({c_dropped} AS BIGINT) AS duplicates_filtered, "
            f"{c_prev} AS preview FROM VALUES {vals}")

    def _vec_topk_interactive(self, qvec: list[float], k: int) -> list:
        """Driver-side exact cosine top-k over the resident matrix:
        one BLAS matvec + argsort by (rounded sim desc, id asc) — the
        same rounding-then-tie-break contract as the Spark leg. FP note:
        BLAS pairwise summation can differ from the JVM fold at ~1e-16,
        visible only if a product sits exactly on a 5e-7 rounding
        boundary (p ≈ 2e-10 per pair; equivalence is pinned by
        tests/test_api.py on the real corpus)."""
        import numpy as np

        sims = _round6_arr(self._mat @ np.asarray(qvec))
        order = np.lexsort((self._ids, -sims))[:k]
        return [(self._ids[i].item(), float(sims[i])) for i in order]

    @staticmethod
    def _group_sum(ids, vals):
        """The gather→grouped-sum kernel every lexical interactive twin
        shares: sum `vals` per unique id (np.add.at over the unique
        inverse). Returns (uids, tot, cnt, inv) — cnt is the per-id row
        count (term-match count for conjunctive legs), inv lets callers
        gather aligned per-row payloads (e.g. dl)."""
        import numpy as np

        uids, inv = np.unique(ids, return_inverse=True)
        tot = np.zeros(len(uids))
        np.add.at(tot, inv, vals)
        cnt = np.zeros(len(uids), dtype=np.int64)
        np.add.at(cnt, inv, 1)
        return uids, tot, cnt, inv

    @staticmethod
    def _ranked_topk(uids, tot, k):
        """The shared ranking contract of the Spark legs: round 6 AFTER
        the sum (Spark HALF_UP-on-shortest-repr semantics via
        `_round6_arr` — rounding BEFORE the sort so half-way corrections
        participate in the ranking exactly as F.round does), rank
        (score desc, id asc), top k. Returns (rounded totals, order
        indices) so callers carry extra payloads along."""
        import numpy as np

        tot = _round6_arr(tot)
        return tot, np.lexsort((uids, -tot))[:k]

    def _lex_topk_interactive(self, terms: list[str], k: int,
                              allowed: set | None = None) -> list:
        """Driver-side disjunctive BM25 top-k over the resident per-term
        impact arrays: gather the query terms' postings, one grouped sum,
        round 6, rank by (score desc, id asc) — the exact contract of the
        Spark leg (`bm25.score_terms` + round + orderBy + limit).
        `allowed` (a driver id set, see `_fast_allowed_ids`) restricts
        BEFORE the top-k cutoff, mirroring `_spark_lex_leg`'s semi-join
        placement."""
        import numpy as np

        parts = [self._lex[t] for t in terms if t in self._lex]
        if not parts:
            return []
        uids, tot, _, _ = self._group_sum(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]))
        if allowed is not None:
            keep = np.array([i in allowed for i in uids.tolist()])
            uids, tot = uids[keep], tot[keep]
            if not len(uids):
                return []
        tot, order = self._ranked_topk(uids, tot, k)
        return [(uids[i].item(), float(tot[i])) for i in order]

    def _mlt_interactive(self, doc_id, n_terms: int, k: int):
        """Driver-side MoreLikeThis twin over the resident arrays: mine
        the seed's `n_terms` top tf·idf terms from the doc-sorted
        forward view (rounded w, term-asc tie-break — same as the
        operator), run them disjunctively over the impact arrays
        excluding the seed. Returns [(id, bm25, matched)] ranked
        (bm25 desc, id asc). Pinned row-identical to the Spark operator
        by test_more_like_this_interactive_equals_spark."""
        import numpy as np

        pids, terms_a, tf, dl, df = self._fwd
        lo = np.searchsorted(pids, doc_id, side="left")
        hi = np.searchsorted(pids, doc_id, side="right")
        if hi == lo:
            return []
        n_docs, avgdl = self.index.stats_literals()
        idf = np.log(1.0 + (n_docs - df[lo:hi] + 0.5) / (df[lo:hi] + 0.5))
        w = _round6_arr((tf[lo:hi] / dl[lo:hi]) * idf)
        seed_terms = terms_a[lo:hi]
        order = np.lexsort((seed_terms, -w))[:n_terms]
        mined = [seed_terms[i] for i in order]
        parts = [self._lex[t] for t in mined if t in self._lex]
        if not parts:
            return []
        ids = np.concatenate([p[0] for p in parts])
        imp = np.concatenate([p[1] for p in parts])
        keep = ids != doc_id
        ids, imp = ids[keep], imp[keep]
        if not len(ids):
            return []
        uids, tot, cnt, _ = self._group_sum(ids, imp)
        tot, order = self._ranked_topk(uids, tot, k)
        return [(uids[i].item(), float(tot[i]), int(cnt[i]))
                for i in order]

    def _fts_match_interactive(self, terms, prefix, k: int):
        """Driver-side twin of the `fts_match` legs over the resident
        impact arrays (same contract discipline as the other interactive
        twins, pinned by test_fts_match_interactive_equals_spark):
        conjunctive leg = per-doc impact sum where the doc matched EVERY
        term; prefix leg = score_prefix's pseudo-term (summed member tf
        per doc, df = count of docs containing any member) recomputed
        from the raw tf/dl arrays (`_prefix_leg_local`, shared with the
        narrator tier); legs AND-combined by id intersection with scores
        added, rounded 6 AFTER the sum, ranked (bm25 desc, id asc),
        top k. Returns [(id, bm25)]."""
        import numpy as np

        legs = []
        if terms:
            ts = sorted(set(terms))
            parts = [self._lex.get(t) for t in ts]
            if any(p is None for p in parts):
                legs.append({})
            else:
                uids, tot, cnt, _ = self._group_sum(
                    np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]))
                m = cnt == len(ts)
                legs.append(dict(zip(uids[m].tolist(), tot[m])))
        if prefix:
            n_docs, avgdl = self.index.stats_literals()
            legs.append(self._prefix_leg_local(
                [(p[0], p[2], p[3]) for p in self._lex_members(
                    self._lex, self._lex_vocab, prefix)],
                n_docs, avgdl))
        out = legs[0]
        for leg in legs[1:]:
            out = {i: out[i] + leg[i] for i in out.keys() & leg.keys()}
        if not out:
            return []
        # Vectorized ranking: per-scalar np.round cost ~6 µs x corpus-many
        # matched docs (23 ms/call profiled at sf0.1) — one array round +
        # lexsort is the same contract (round 6 AFTER the leg sum,
        # score desc, id asc) at array speed.
        uids = np.array(list(out.keys()))
        tot = np.fromiter(out.values(), dtype=float, count=len(out))
        tot, order = self._ranked_topk(uids, tot, k)
        return [(uids[i].item(), float(tot[i])) for i in order]

    @staticmethod
    def _lex_members(lex: dict, vocab: list, prefix: str) -> list:
        """Resident-vocab prefix range scan: the sorted vocab bisects to
        the members starting with `prefix` (O(log V) + range)."""
        from bisect import bisect_left

        members = []
        for i in range(bisect_left(vocab, prefix), len(vocab)):
            if not vocab[i].startswith(prefix):
                break
            members.append(lex[vocab[i]])
        return members

    @staticmethod
    def _prefix_leg_local(members: list, n_docs: float,
                          avgdl: float) -> dict:
        """`bm25.score_prefix`'s pseudo-term recomputed driver-side from
        raw (pids, tf, dl) member arrays: summed member tf per doc,
        df = count of docs containing any member, one BM25 expression —
        shared by `_fts_match_interactive`'s prefix leg and the narrator
        tier so the two can never drift. Returns {id: unrounded score}
        ({} when the prefix matches no vocab term — the empty inner-join
        leg)."""
        import math

        import numpy as np

        if not members:
            return {}
        dl = np.concatenate([m[2] for m in members])
        uids, tfs, _, inv = HybridEngine._group_sum(
            np.concatenate([m[0] for m in members]),
            np.concatenate([m[1] for m in members]))
        dls = np.zeros(len(uids))
        dls[inv] = dl  # same doc, same dl — any member row's value
        df = float(len(uids))
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        score = idf * (tfs * (bm25.K1 + 1.0)) / (
            tfs + bm25.K1 * (1.0 - bm25.B + bm25.B * dls / avgdl))
        return dict(zip(uids.tolist(), score))

    def _narrator_tier(self):
        """Driver-resident NARRATOR-field tier — (per-term (pids, tf, dl)
        arrays, sorted vocab, (n_docs, avgdl)) over the narrator index,
        the round-9 verdict item 5: narrator-leg queries degraded every
        batch call to a union of per-query Spark plans because the
        narrator index had no resident arrays. Built lazily once per
        corpus snapshot (narrator vocabulary is names-sized) under the
        SAME postings bound interactive enabling promised; invalidated
        with `_nar_index` on upsert. Returns None when interactive tiers
        are not resident, there is no narrator column, or the bound is
        exceeded (callers fall back to the Spark narrator leg)."""
        if (self.narrator_col is None or self._mat is None
                or self._interactive_bounds is None):
            return None
        if self._nar_tier is None:
            import numpy as np

            sc = self._narrator_index().scoring_view()
            if sc.count() > self._interactive_bounds[1]:
                self._nar_tier = False  # over bound: stay on Spark
            else:
                rows = sc.collect()
                terms = np.array([r["term"] for r in rows])
                pids = np.array([r["doc_id"] for r in rows])
                tf = np.array([r["tf"] for r in rows], dtype=float)
                dl = np.array([r["dl"] for r in rows], dtype=float)
                order = np.argsort(terms, kind="stable")
                terms, pids = terms[order], pids[order]
                tf, dl = tf[order], dl[order]
                bounds = np.searchsorted(terms, np.unique(terms),
                                         side="left")
                ends = np.append(bounds[1:], len(terms))
                lex = {terms[s]: (pids[s:e], tf[s:e], dl[s:e])
                       for s, e in zip(bounds, ends)}
                self._nar_tier = (lex, list(lex),
                                  self._narrator_index().stats_literals())
        return self._nar_tier or None

    def _narrator_topk_interactive(self, toks: list[str], k: int,
                                   allowed: set | None = None) -> list:
        """Driver twin of `_narrator_leg` (`bm25.prefix_and_match` over
        the narrator index): each token is a prefix pseudo-term
        (`_prefix_leg_local`), conjunctive via id-set intersection with
        scores summed, `allowed` restricting before the cutoff, rounded 6
        AFTER the total, ranked (bm25 desc, id asc), top k."""
        import numpy as np

        lex, vocab, (n_docs, avgdl) = self._narrator_tier()
        out = None
        for p in toks:
            leg = self._prefix_leg_local(
                self._lex_members(lex, vocab, p), n_docs, avgdl)
            out = leg if out is None else {
                i: out[i] + leg[i] for i in out.keys() & leg.keys()}
            if not out:
                return []
        if allowed is not None:
            out = {i: s for i, s in out.items() if i in allowed}
        if not out:
            return []
        uids = np.array(list(out.keys()))
        tot = np.fromiter(out.values(), dtype=float, count=len(out))
        tot, order = self._ranked_topk(uids, tot, k)
        return [(uids[i].item(), float(tot[i])) for i in order]

    def _fast_allowed_ids(self, filters: dict | None):
        """Metadata filters as a DRIVER id set for the batch fast path —
        WITHOUT re-implementing Spark's comparison coercion (the round-8
        review hazard: a Python `==` twin diverges from Column `==` on
        coercible pairs like {"book_id": "1"} against an int column).
        The dodge is STRICT typing: the driver path is taken only when
        the filter value's Python type matches the column's Spark type
        exactly (str↔string, int↔integral with bool excluded — True == 1
        in Python but not a type match — bool↔boolean), where Python and
        Column equality provably agree and NULL never matches either
        way. Anything else (floats, coercible mismatches, unknown
        columns, no resident doc map) returns the DEGRADE sentinel and
        the call takes the Spark union path, preserving exact Column
        semantics. Returns None (no filters), a set (restrict to these
        ids), or `NotImplemented` (degrade)."""
        if not filters:
            return None
        if self._doc_rows is None:
            return NotImplemented
        strict = {"string": str, "tinyint": int, "smallint": int,
                  "int": int, "bigint": int, "boolean": bool}
        types = {f.name: f.dataType.simpleString()
                 for f in self.docs.schema.fields}
        for col, val in filters.items():
            py = strict.get(types.get(col, ""))
            if py is None or val is None or type(val) is not py:
                return NotImplemented
            if py is int and not -2**63 <= val < 2**63:
                # a past-bigint literal ERRORS on the Spark path under
                # ANSI; degrade so the two paths cannot diverge
                return NotImplemented
        return {rid for rid, row in self._doc_rows.items()
                if all(row[c] == v for c, v in filters.items())}

    # -- derived state (lazy, pinned once) ---------------------------------

    @property
    def index(self) -> bm25.LexicalIndex:
        if self._index is None:
            self._index = bm25.build_index(self.docs, self.text_col, self.id_col)
        return self._index

    @property
    def emb(self) -> DataFrame:
        if self._emb is None:
            from .operators.embedder import spread_for_encode

            # spread before the encode: a single-file corpus scan would
            # otherwise serialize the Arrow encoder onto one core
            # (operators.embedder.spread_for_encode)
            self._emb = (
                spread_for_encode(self.docs).select(
                    F.col(self.id_col),
                    embed_column(F.col(self.text_col), self.dim).alias("embedding"))
                .localCheckpoint())
        return self._emb

    def _empty_leg(self, score_col: str) -> DataFrame:
        """Zero-row leg with the right id type for any corpus id column."""
        return (self.docs.select(self.id_col).limit(0)
                .withColumn(score_col, F.lit(0.0)))

    def _narrator_index(self) -> bm25.LexicalIndex:
        """Lexical index over the NARRATOR field (the reference's separate
        FTS-indexed narrator column, fts.py schema) — built lazily and
        pinned once per engine; narrator vocabulary is names-sized, so
        this index is tiny next to the text index."""
        if self._nar_index is None:
            self._nar_index = bm25.build_index(
                self.docs, text_col=self.narrator_col, id_col=self.id_col)
        return self._nar_index

    def _narrator_leg(self, narrator_query: str, k: int,
                      allowed: DataFrame | None = None) -> DataFrame | None:
        """The narrator-intent lexical leg: the reference routes narrator
        queries to a narrator-FIELD prefix-AND match
        (`narrator:t1* AND narrator:t2*`, router.py:93-99 consumed at
        tools.py:84-88) instead of scoring the document text. Returns
        None when the narrator phrase yields no tokens (the caller falls
        back to the plain lexical leg, like the reference's
        `if not toks: toks = intent.tokens`). `allowed` restricts before
        the top-k cutoff, like `_spark_lex_leg`."""
        toks = py_tokenize(narrator_query)[:6]
        if not toks:
            return None
        allowed_did = (allowed.withColumnRenamed(self.id_col, "doc_id")
                       if allowed is not None else None)
        return (bm25.prefix_and_match(self._narrator_index(), toks, k=k,
                                      allowed=allowed_did)
                .withColumnRenamed("doc_id", self.id_col))

    def _allowed_ids(self, filters: dict | None) -> DataFrame | None:
        """The metadata filter's allowed-id set (NULL never matches —
        Spark `==` semantics), or None when unfiltered."""
        if not filters:
            return None
        allowed = self.docs
        for col, val in filters.items():
            allowed = allowed.filter(F.col(col) == F.lit(val))
        return allowed.select(self.id_col)

    def _spark_lex_leg(self, terms: list[str], k: int,
                       allowed: DataFrame | None = None) -> DataFrame:
        """The Spark lexical leg: disjunctive BM25 over the scoring view,
        rounded, ranked (bm25 desc, id asc), over-fetched to k — the
        contract `_lex_topk_interactive` mirrors driver-side. `allowed`
        (the metadata filter's id set) restricts BEFORE the top-k cutoff,
        like the reference's Chroma `where=` restricts the search space —
        filtering after the cutoff would silently lose matching docs that
        score below the global top-k."""
        leg = (bm25.score_terms(self.spark, self.index, terms,
                                conjunctive=False)
               .withColumnRenamed("doc_id", self.id_col))
        if allowed is not None:
            leg = leg.join(F.broadcast(allowed), self.id_col, "left_semi")
        return (leg.select(F.col(self.id_col),
                           F.round("score", 6).alias("bm25"))
                .orderBy(F.desc("bm25"), F.asc(self.id_col)).limit(k))

    # -- the reference's tool surface --------------------------------------

    def _exact_reference_lookup(self, query: str, n_results: int,
                                filters: dict | None = None) -> DataFrame:
        """Point lookup for a reference-shaped query (§1): resolve the
        LAST number in the query against the id column — the batch exact
        leg's semantics (plans/routed.py) — and return it as a 1-row
        hybrid result (score 1.0, zeroed signals, 120-char preview).
        Unresolvable references (no such id; a non-integral id column
        that cannot carry the number; a number past bigint) return the
        EMPTY frame rather than falling back to fuzzy retrieval — the
        spec's single-exact-match contract (TEST_QUERIES.md:48-53);
        construct the engine with `exact_ref_fallback=True` to fall back
        to retrieval instead (the SHIPPED reference's behavior, which
        never dispatches this intent). With the doc map resident an
        UNFILTERED hit returns as a VALUES LocalRelation (zero Spark
        jobs, the <5ms class); filtered or cold lookups pay one
        pushed-filter scan."""
        import re as _re

        if int(n_results) < 0:
            raise ValueError(f"n_results must be >= 0, got {n_results}")
        num = _re.search(r"([0-9]+)[^0-9]*$", query).group(1)
        id_t = self.docs.schema[self.id_col].dataType.simpleString()
        integral = id_t in ("tinyint", "smallint", "int", "bigint")
        # A number past bigint can match nothing in an integral id column
        # (and would overflow the literal under ANSI); resolve to empty.
        resolvable = not (integral and len(num) > 18)
        key = int(num) if integral and resolvable else num

        nar_lit = ([F.lit(0.0).alias("narrator_bonus")]
                   if self.narrator_col else [])

        def spark_path() -> DataFrame:
            preview = F.substring(F.col(self.text_col), 1, 120)
            matched = (F.col(self.id_col) == F.lit(key) if resolvable
                       else F.lit(False))
            for col, val in (filters or {}).items():
                matched = matched & (F.col(col) == F.lit(val))
            return (self.docs
                    .filter(matched)
                    .select(F.col(self.id_col),
                            F.lit(1.0).alias("score"),
                            F.lit(0.0).alias("vec_signal"),
                            F.lit(0.0).alias("fts_sig"),
                            F.lit(0.0).alias("coverage"),
                            F.lit(0.0).alias("phrase_bonus"),
                            F.lit(0.0).alias("proximity_bonus"),
                            *nar_lit,
                            F.lit(0).cast("long").alias("duplicates_filtered"),
                            preview.alias("preview"))
                    .limit(n_results))

        # Filtered lookups take the Spark path UNCONDITIONALLY: the filter
        # predicate must be Spark's Column `==` (type-coercing, NULL never
        # matches) on every tier, and a driver-side Python `!=` twin
        # diverges on coercible pairs (e.g. {"book_id": "1"} against an
        # int column matches under Column ==, not under Python ==) — the
        # same reason filtered hybrid calls use the batch legs.
        if self._doc_rows is None or not resolvable or filters:
            return spark_path()
        row = self._doc_rows.get(key)
        if row is None or n_results == 0:
            return spark_path()  # empty either way; rare path, one tiny job
        txt = row[self.text_col]
        prev = ("CAST(NULL AS STRING)" if txt is None
                else self._sql_str(txt[:120]))
        nar_sql = ("CAST(0.0 AS DOUBLE) AS narrator_bonus, "
                   if self.narrator_col else "")
        return self.spark.sql(
            f"SELECT CAST(col1 AS {id_t}) AS `{self.id_col}`, "
            f"CAST(1.0 AS DOUBLE) AS score, "
            f"CAST(0.0 AS DOUBLE) AS vec_signal, "
            f"CAST(0.0 AS DOUBLE) AS fts_sig, "
            f"CAST(0.0 AS DOUBLE) AS coverage, "
            f"CAST(0.0 AS DOUBLE) AS phrase_bonus, "
            f"CAST(0.0 AS DOUBLE) AS proximity_bonus, {nar_sql}"
            f"CAST(0 AS BIGINT) AS duplicates_filtered, "
            f"col2 AS preview FROM VALUES ({self._fmt_id(key)}, {prev})")

    def hybrid_search(self, query: str, n_results: int = 10,
                      scoring_mode: str = "balanced",
                      fts_available: bool = True, vector_available: bool = True,
                      synonym_groups: list[list[str]] | None = None,
                      near_window: int = 5, dedupe: bool = True,
                      filters: dict | None = None,
                      **weight_overrides: float) -> DataFrame:
        """Route → both legs (over-fetched) → fuse → score → dedup → top-n,
        with per-call weight overrides (tools.py:58-82) and Q4 degradation
        flags. `synonym_groups` mirrors the reference scorer: coverage is
        per-group any-member containment, and the first two groups within
        `near_window` tokens earn the proximity bonus (scoring.py:57-93).
        `dedupe` collapses hits sharing a text-preview block and reports
        `duplicates_filtered` (quran_mcp/search.py:262-278).
        `filters` is the spec's metadata filter (HADITH_SEARCH_SPEC.md:420,
        Chroma's `where=` in the reference): {column: value} equality
        predicates ANDed over the candidate set before scoring (NULL never
        matches), applied identically on every tier; a selective filter
        can return fewer than n_results, like a selective `where` does.
        Returns (id, score, vec_signal, fts_sig, coverage, phrase_bonus,
        proximity_bonus, duplicates_filtered, preview)."""
        if int(n_results) < 0:
            raise ValueError(f"n_results must be >= 0, got {n_results}")
        w = fusion.resolve_weights(scoring_mode, fts_available, vector_available)
        if weight_overrides:
            w = replace(w, **weight_overrides)
        if filters:
            bad = sorted(set(filters) - set(self.docs.columns))
            if bad:
                raise ValueError(f"filter columns not in docs: {bad}")
        # Driver-side router twin: one serving call routes ONE string, and
        # a 1-row Spark job costs ~400 ms of scheduler overhead per request
        # (route_one is equivalence-tested against the column router).
        intent = route_one(query)
        if intent.intent == INTENT_EXACT:
            # §1 dispatch: a reference-shaped query goes straight to point
            # lookup, never the retrieval legs (TEST_QUERIES.md:48-53
            # "Use FTS5 direct lookup, not vector search" — the shipped
            # reference computes this intent but nothing dispatches on
            # it). Same last-number semantics as the batch exact leg
            # (plans/routed.py); same result schema as every other hybrid
            # return. With `exact_ref_fallback` a MISS (empty lookup)
            # falls through to the retrieval legs below — the shipped
            # reference's behavior for unresolvable references. The
            # take(1) emptiness probe costs one tiny extra job on
            # SPARK-PATH lookups (filters / no doc map) whether they hit
            # or miss; doc-map lookups stay zero-job (LocalRelation).
            hit = self._exact_reference_lookup(query, n_results, filters)
            if not self.exact_ref_fallback or n_results == 0 or hit.take(1):
                return hit
        terms = sorted(set(py_tokenize(intent.normalized)))
        k = max(OVERFETCH_FLOOR, 5 * n_results)
        # Metadata filters restrict the SEARCH SPACE (each leg semi-joins
        # the allowed-id set before its top-k cutoff — the reference's
        # Chroma `where=` semantics; a post-cutoff filter would silently
        # lose matching docs that score below the global top-k). Filtered
        # calls therefore take the batch legs even on interactive
        # engines: the resident tiers rank over the whole corpus.
        allowed = self._allowed_ids(filters)
        # Narrator intent + a narrator field: the lexical leg is the
        # reference's narrator-FIELD prefix-AND match, not text BM25
        # (router.py:93-99 via tools.py:84-88). Empty narrator tokens
        # fall back to the plain leg below (the reference's
        # `if not toks: toks = intent.tokens`).
        nar_toks = (py_tokenize(intent.narrator_query)[:6]
                    if (intent.intent == INTENT_NARRATOR
                        and self.narrator_col is not None
                        and fts_available
                        and intent.narrator_query) else None) or None

        if self._mat is not None and allowed is None:
            # Interactive fast path (enable_interactive): the lexical leg
            # comes from the resident impact arrays when the tier is
            # built (no Spark job) or from collecting the O(k) Spark leg
            # otherwise (one job); the vector top-k and the exact
            # max/coalesce fusion run driver-side. Fusion on collected
            # values is exact arithmetic on ≤2k pairs.
            fused_map: dict = {}
            if fts_available and terms:
                if nar_toks and self._narrator_tier() is not None:
                    # narrator-field leg off the resident narrator tier
                    # (zero Spark jobs, pinned row-identical to the
                    # Spark prefix_and_match leg)
                    lex_pairs = self._narrator_topk_interactive(nar_toks, k)
                elif nar_toks:
                    # narrator tier over bound: one Spark job
                    lex_pairs = [(r[0], float(r[1])) for r in
                                 self._narrator_leg(intent.narrator_query,
                                                    k, allowed).collect()]
                elif self._lex is not None:
                    lex_pairs = self._lex_topk_interactive(terms, k)
                else:
                    lex_pairs = [(r[0], float(r[1])) for r in
                                 self._spark_lex_leg(terms, k).collect()]
                for rid, s in lex_pairs:
                    fused_map[rid] = [s, 0.0]
            if vector_available:
                qvec = encode_query(intent.normalized, self.dim)
                for rid, s in self._vec_topk_interactive(qvec, k):
                    fused_map.setdefault(rid, [0.0, 0.0])[1] = s
            items = sorted(fused_map.items())
            if items and self._doc_rows is not None:
                # Zero-job tail: with the doc map resident the scoring
                # runs fully driver-side and the result is a VALUES
                # LocalRelation (the reference's in-process latency
                # class), synonym-group scorer included. It returns None
                # when it can't mirror the corpus join; the call then
                # scores the same candidates on the Column tail below.
                out = self._interactive_scored_local(
                    items, terms, w, intent.phrase, dedupe, n_results,
                    synonym_groups=synonym_groups, near_window=near_window)
                if out is not None:
                    return out
            fused = self._fused_literal_df(items)
        else:
            fts = (self._narrator_leg(intent.narrator_query, k, allowed)
                   if nar_toks
                   else self._spark_lex_leg(terms, k, allowed)
                   if fts_available and terms
                   else self._empty_leg("bm25"))
            if vector_available:
                qvec = encode_query(intent.normalized, self.dim)
                vec = similarity.cosine_scores(self.emb, qvec, self.id_col)
                if allowed is not None:
                    vec = vec.join(F.broadcast(allowed), self.id_col,
                                   "left_semi")
                vec = (vec.select(self.id_col,
                                  F.round("sim", 6).alias("sim"))
                       .orderBy(F.desc("sim"), F.asc(self.id_col)).limit(k))
            else:
                vec = self._empty_leg("sim")
            fused = fusion.fuse(fts, vec, key=self.id_col)
        return self._scored_column_tail(fused, terms, w, intent.phrase,
                                        dedupe, n_results,
                                        synonym_groups=synonym_groups,
                                        near_window=near_window)

    def _scored_column_tail(self, fused: DataFrame, terms: list[str], w,
                            phrase: str | None, dedupe: bool,
                            n_results: int,
                            synonym_groups: list[list[str]] | None = None,
                            near_window: int = 5) -> DataFrame:
        """The Spark scoring tail over fused (id, fts_score, vector_sim)
        candidates: join the corpus text, `fusion.score` (coverage, phrase,
        proximity and narrator bonuses), `fused_result_dedup`, and the
        hybrid projection ranked (score desc, id asc), top n. Serves every
        Spark-path call, and resident calls the zero-job local tail
        (`_interactive_scored_local`) cannot serve."""
        # Candidates are O(k) -> broadcast them into the documents scan.
        # INNER join: candidates come from this engine's own index and
        # embeddings, so every id resolves; the reference likewise skips
        # hits with no corpus entry (quran_mcp/search.py:219-221).
        doc_cols = [self.id_col, self.text_col] + (
            [self.narrator_col] if self.narrator_col else [])
        with_text = F.broadcast(fused).join(
            self.docs.select(*doc_cols), self.id_col)
        if synonym_groups and len(synonym_groups) >= 2:
            # Pin the O(k) candidates only when the proximity probe will
            # consume them a second time (probe + join-back); the default
            # path is a LINEAR single-job plan — fused_result_dedup counts
            # drops in-window, so no consumer re-runs the legs and the
            # per-request eager-checkpoint job is gone (measured ~2x on
            # serving p50; see SERVING_LATENCY.md).
            with_text = with_text.localCheckpoint()

        text_lower = F.lower(F.col(self.text_col))
        if synonym_groups:
            # Ref scoring.py:57-66 — a group counts when ANY member appears.
            group_hits = [
                F.when(
                    F.size(F.filter(
                        F.array(*[F.lit(t.lower()) for t in grp]),
                        lambda t: F.instr(text_lower, t) > 0)) > 0, 1
                ).otherwise(0)
                for grp in synonym_groups]
            cov = (sum(group_hits, F.lit(0)).cast("double")
                   / len(synonym_groups))
        else:
            toks = F.array(*[F.lit(t) for t in terms]) if terms else F.array()
            cov = term_coverage(toks, text_lower)

        prox_hit = None
        if synonym_groups and len(synonym_groups) >= 2:
            prox = proximity.min_pair_distance(
                with_text,
                tuple(t.lower() for t in synonym_groups[0]),
                tuple(t.lower() for t in synonym_groups[1]),
                text_col=self.text_col, id_col=self.id_col) \
                .withColumnRenamed("doc_id", self.id_col)
            with_text = with_text.join(F.broadcast(prox), self.id_col, "left")
            prox_hit = F.col("min_dist") <= max(1, near_window)

        phrase_hit = (F.instr(text_lower, phrase.lower()) > 0
                      if phrase else None)
        narrator_hit = None
        if self.narrator_col and terms:
            # spec:330-332 — ANY query term, case-folded, in the narrator
            # field (same containment the coverage term check uses).
            nl = F.lower(F.coalesce(F.col(self.narrator_col), F.lit("")))
            narrator_hit = F.exists(
                F.array(*[F.lit(t) for t in terms]),
                lambda t: F.instr(nl, t) > 0)
        scored = fusion.score(with_text, w, coverage_col=cov,
                              phrase_hit_col=phrase_hit,
                              proximity_hit_col=prox_hit,
                              narrator_hit_col=narrator_hit)
        if self.narrator_col and narrator_hit is None:
            scored = scored.withColumn("narrator_bonus", F.lit(0.0))
        preview = F.substring(F.col(self.text_col), 1, 120)
        if dedupe:
            scored = dedup_ops.fused_result_dedup(scored, preview,
                                                  id_col=self.id_col)
        else:
            scored = scored.withColumn("duplicates_filtered",
                                       F.lit(0).cast("long"))
        nar_cols = ["narrator_bonus"] if self.narrator_col else []
        return (
            scored.select(self.id_col, "score", "vec_signal", "fts_sig",
                          "coverage", "phrase_bonus", "proximity_bonus",
                          *nar_cols,
                          "duplicates_filtered", preview.alias("preview"))
            .orderBy(F.desc("score"), F.asc(self.id_col))
            .limit(n_results)
        )

    def _exact_local_rows(self, query: str, n_results: int) -> list[tuple]:
        """Driver twin of `_exact_reference_lookup` for the batch fast
        path (doc map resident, no filters): the 0/1-row top list in
        `_score_local_py`'s row shape. Same last-number / integral-id /
        past-bigint resolution rules."""
        import re as _re

        num = _re.search(r"([0-9]+)[^0-9]*$", query).group(1)
        id_t = self.docs.schema[self.id_col].dataType.simpleString()
        integral = id_t in ("tinyint", "smallint", "int", "bigint")
        resolvable = not (integral and len(num) > 18)
        key = int(num) if integral and resolvable else num
        row = self._doc_rows.get(key) if resolvable else None
        if row is None or int(n_results) == 0:
            return []
        txt = row[self.text_col]
        prev = txt[:120] if txt is not None else None
        return [(key, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, prev)]

    def hybrid_search_batch(self, queries: list[str], n_results: int = 10,
                            scoring_mode: str = "balanced",
                            fts_available: bool = True,
                            vector_available: bool = True,
                            synonym_groups: list[list[str]] | None = None,
                            near_window: int = 5, dedupe: bool = True,
                            filters: dict | None = None,
                            **weight_overrides: float) -> DataFrame:
        """Batch-of-queries serving tier: N queries in, ONE frame out —
        the hybrid_search schema with a leading `query_idx` column, rows
        for query i row-identical to `hybrid_search(queries[i], ...)`
        (pinned by tests). The reference serves one query per tool call;
        this is the amortized shape SCALE.md prescribes for offline
        evaluation and agent fan-out.

        Fast path (every interactive tier resident): ONE BLAS matmul
        scores every query's vector leg against the resident matrix,
        lexical legs gather from the resident impact arrays,
        narrator-intent queries gather from the resident NARRATOR-field
        tier (`_narrator_tier` — prefix-AND pseudo-terms driver-side),
        exact-reference queries resolve off the doc map, metadata
        filters restrict every leg BEFORE its cutoff via a driver id set
        (`_fast_allowed_ids` — strict-type equality only, so Column `==`
        semantics are never re-implemented), scoring runs driver-side,
        and the whole batch re-enters as a SINGLE VALUES LocalRelation —
        zero Spark jobs and one statement parse for the batch,
        amortizing the per-call overhead that dominates single-query p50
        (SERVING_LATENCY.md). Anything the resident tiers can't mirror
        exactly (coercible filter types, a narrator tier over its
        postings bound, missing tiers, a doc-map gap) degrades the call
        to a union of single-query plans — same rows, Spark-side cost."""
        from functools import reduce

        if not queries:
            raise ValueError("queries must be a non-empty list")
        if int(n_results) < 0:
            raise ValueError(f"n_results must be >= 0, got {n_results}")
        intents = [route_one(q) for q in queries]
        allowed = self._fast_allowed_ids(filters)
        fast = (self._mat is not None and self._doc_rows is not None
                and allowed is not NotImplemented)
        if fast and fts_available:
            def _is_narrator(it) -> bool:
                return (it.intent == INTENT_NARRATOR
                        and self.narrator_col is not None
                        and bool(it.narrator_query)
                        and bool(py_tokenize(it.narrator_query)[:6]))

            def _needs_text_lex(it) -> bool:
                if it.intent == INTENT_EXACT:
                    # a hit never touches the lexical leg; a miss only
                    # falls through to retrieval under the fallback flag
                    return self.exact_ref_fallback
                return not _is_narrator(it)

            # the TEXT lexical tier is required only by queries that
            # actually take the text leg (narrator-only / exact-only
            # batches stay fast with _lex unresident — the single-query
            # path's altitude); narrator legs need the narrator tier,
            # which is built lazily HERE and only when a narrator query
            # is actually present (never eagerly for thematic batches)
            if self._lex is None and any(_needs_text_lex(it)
                                         for it in intents):
                fast = False
            if fast and any(_is_narrator(it) for it in intents):
                fast = self._narrator_tier() is not None
        groups: list[tuple] = []
        if fast:
            import numpy as np

            w = fusion.resolve_weights(scoring_mode, fts_available,
                                       vector_available)
            if weight_overrides:
                w = replace(w, **weight_overrides)
            k = max(OVERFETCH_FLOOR, 5 * n_results)
            sims_all = None
            ids_f = self._ids
            if vector_available:
                qmat = np.stack([encode_query(it.normalized, self.dim)
                                 for it in intents], axis=1)
                sims_all = _round6_arr(self._mat @ qmat)  # one matmul
                if allowed is not None:
                    # restrict BEFORE the per-query top-k cutoff — the
                    # semi-join placement of the Spark vector leg
                    keep = np.array([i in allowed
                                     for i in self._ids.tolist()])
                    ids_f = self._ids[keep]
                    sims_all = sims_all[keep]
            for i, it in enumerate(intents):
                if it.intent == INTENT_EXACT:
                    rows = self._exact_local_rows(queries[i], n_results)
                    if allowed is not None:
                        # filtered exact = id match AND the row passes
                        # the filters (the allowed set IS that test)
                        rows = [r for r in rows if r[0] in allowed]
                    if rows or not self.exact_ref_fallback \
                            or n_results == 0:
                        groups.append((i, rows, 0))
                        continue
                    # exact_ref_fallback: unresolvable ref -> retrieval
                fused_map: dict = {}
                terms = sorted(set(py_tokenize(it.normalized)))
                nar_toks = (py_tokenize(it.narrator_query)[:6]
                            if (it.intent == INTENT_NARRATOR
                                and self.narrator_col is not None
                                and fts_available
                                and it.narrator_query) else None) or None
                if fts_available and terms:
                    lex_pairs = (
                        self._narrator_topk_interactive(nar_toks, k, allowed)
                        if nar_toks
                        else self._lex_topk_interactive(terms, k, allowed))
                    for rid, s in lex_pairs:
                        fused_map[rid] = [s, 0.0]
                if sims_all is not None and len(ids_f):
                    sims = sims_all[:, i]
                    order = np.lexsort((ids_f, -sims))[:k]
                    for j in order:
                        fused_map.setdefault(ids_f[j].item(),
                                             [0.0, 0.0])[1] = float(sims[j])
                scored = self._score_local_py(
                    sorted(fused_map.items()), terms, w, it.phrase, dedupe,
                    n_results, synonym_groups=synonym_groups,
                    near_window=near_window) if fused_map else ([], 0)
                if scored is None:  # doc-map gap: mirror the corpus join
                    groups = []     # on Spark instead (rare; stale map)
                    fast = False
                    break
                groups.append((i, scored[0], scored[1]))
        if fast:
            if not any(top for _, top, _ in groups):
                nar = ("narrator_bonus double, " if self.narrator_col
                       else "")
                id_t = self.docs.schema[self.id_col].dataType.simpleString()
                return self.spark.createDataFrame([], (
                    f"query_idx int, `{self.id_col}` {id_t}, score double, "
                    f"vec_signal double, fts_sig double, coverage double, "
                    f"phrase_bonus double, proximity_bonus double, {nar}"
                    f"duplicates_filtered bigint, preview string"))
            return self._scored_values_df(groups)
        frames = [
            self.hybrid_search(q, n_results, scoring_mode, fts_available,
                               vector_available, synonym_groups,
                               near_window, dedupe, filters,
                               **weight_overrides)
            .select(F.lit(i).cast("int").alias("query_idx"), "*")
            for i, q in enumerate(queries)]
        return reduce(lambda a, b: a.unionByName(b), frames)

    def fts_match(self, terms: list[str] | None = None, prefix: str | None = None,
                  field: str | None = None, value: str | None = None,
                  k: int = 10) -> DataFrame:
        """Compiled match expression with FTS5-MATCH semantics
        (fts_cli.py:21-42): AND over `terms`, optional `pre*` prefix term
        (ANDed in), optional `field:value` scope (semi-join). Any
        combination; at least one of terms/prefix required."""
        if not terms and not prefix:
            raise ValueError("need terms and/or prefix")
        if k < 0:
            # Both tiers must fail identically: the Spark path's .limit(k)
            # raises on a negative k, while numpy's [:k] would silently
            # drop the TAIL |k| rows — a masked caller bug on one tier.
            raise ValueError(f"k must be >= 0, got {k}")
        if self._lex is not None and not (field and value is not None):
            # Interactive tier: both legs compute on the resident impact
            # arrays and the ranked hits return as a LocalRelation —
            # ZERO Spark jobs end-to-end (collect of a literal relation
            # is driver-only). Field scope needs the docs metadata join
            # and stays on the Spark path.
            hits = self._fts_match_interactive(terms, prefix, k)
            return self._hits_literal_df(hits, "bm25")
        parts = []
        if terms:
            parts.append(
                bm25.score_terms(self.spark, self.index, terms, conjunctive=True)
                .withColumnRenamed("doc_id", self.id_col)
                .select(self.id_col, F.col("score")))
        if prefix:
            parts.append(bm25.score_prefix(self.index, prefix)
                         .withColumnRenamed("doc_id", self.id_col)
                         .select(self.id_col, F.col("score")))
        out = parts[0]
        for p in parts[1:]:  # AND semantics: inner join, scores add
            out = (out.join(p.withColumnRenamed("score", "_s"), self.id_col)
                   .select(self.id_col,
                           (F.col("score") + F.col("_s")).alias("score")))
        if field and value is not None:
            scope = self.docs.filter(F.col(field) == value).select(self.id_col)
            out = out.join(scope, self.id_col, "left_semi")
        return (out.select(self.id_col, F.round("score", 6).alias("bm25"))
                .orderBy(F.desc("bm25"), F.asc(self.id_col)).limit(k))

    def semantic_search(self, query: str, n_results: int = 10) -> DataFrame:
        """Pure vector leg (quran 'semantic' mode preset)."""
        return self.hybrid_search(query, n_results, scoring_mode="semantic")

    def rerank_search(self, query: str, n_results: int = 10,
                      first_stage_k: int | None = None,
                      scoring_mode: str = "balanced",
                      backend: str = "auto",
                      filters: dict | None = None) -> DataFrame:
        """Retrieve-then-rerank on the product surface: the hybrid
        pipeline over-fetches `first_stage_k` candidates (default
        max(50, 5·n)), then a cross-encoder-shaped pair scorer
        (operators/reranker — real model when importable, deterministic
        hash stand-in otherwise) scores (query, candidate_text) jointly
        and the top-`n_results` by rerank score ship. The expensive model
        sees O(k) pairs, never the corpus. Returns the hybrid columns
        plus `ce_score`, re-ranked by it.

        With the interactive doc map resident, the pair scoring runs on
        the DRIVER with the exact scorer object executors would run
        (operators/reranker.get_pair_scorer — shared code, not a twin)
        over the resident candidate texts, removing the per-request
        Python-worker round-trip job; only the hybrid first stage
        touches Spark. Row-identity pinned by
        test_rerank_interactive_equals_spark."""
        from .operators.reranker import pair_score

        if n_results < 0:
            # Tier parity: the batch path's .limit(n) raises on negative n
            # (INVALID_LIMIT_LIKE_EXPRESSION); numpy's [:n] would silently
            # tail-truncate on the interactive tier instead.
            raise ValueError(f"n_results must be >= 0, got {n_results}")
        k = first_stage_k or max(OVERFETCH_FLOOR, 5 * n_results)
        # `filters` restricts the first-stage retrieval (hybrid_search's
        # Chroma where= semantics); the reranker only ever sees allowed
        # candidates.
        cands = self.hybrid_search(query, n_results=k,
                                   scoring_mode=scoring_mode,
                                   filters=filters)
        if self._doc_rows is not None:
            import numpy as np

            rows = cands.collect()
            if not rows:
                return cands.withColumn("ce_score", F.lit(0.0)).limit(0)
            from .operators.reranker import get_pair_scorer
            scorer = get_pair_scorer(self.dim, backend)
            texts = [(self._doc_rows.get(r[self.id_col]) or {})
                     .get(self.text_col) or "" for r in rows]
            ces = _round6_arr(scorer.score_batch([query] * len(rows), texts))
            ranked = sorted(zip(rows, ces.tolist()),
                            key=lambda t: (-t[1], t[0][self.id_col]))
            if not ranked[:n_results]:
                # n_results <= 0 (or fewer survivors than requested after
                # a non-positive cap): an empty VALUES clause would be a
                # ParseException — return the same empty shape the batch
                # path's .limit() produces.
                return cands.withColumn("ce_score", F.lit(0.0)).limit(0)
            fields = ([(f.name, f.dataType.simpleString())
                       for f in cands.schema.fields]
                      + [("ce_score", "double")])
            vals = ", ".join(
                "(" + ", ".join(
                    [self._sql_atom(r[n_], t_) for n_, t_ in fields[:-1]]
                    + [f"CAST('{ce!r}' AS DOUBLE)"]) + ")"
                for r, ce in ranked[:n_results])
            cols = ", ".join(f"col{i + 1} AS `{n_}`"
                             for i, (n_, _) in enumerate(fields))
            return self.spark.sql(f"SELECT {cols} FROM VALUES {vals}")
        with_text = F.broadcast(cands).join(
            self.docs.select(self.id_col, self.text_col), self.id_col)
        ce = F.round(pair_score(F.lit(query), F.col(self.text_col),
                                self.dim, backend=backend), 6)
        return (with_text
                .select(*cands.columns, ce.alias("ce_score"))
                .orderBy(F.desc("ce_score"), F.asc(self.id_col))
                .limit(n_results))

    def more_like_this(self, doc_id, n_results: int = 10,
                       n_terms: int = 5) -> DataFrame:
        """Lucene-style MoreLikeThis over this engine's corpus — the
        parameterized face of the shared operator
        (operators/bm25.more_like_this; the oracle-checked plan is its
        fixed-constant instantiation). With the interactive tier
        resident, mining + retrieval run on the driver arrays and the
        hits return as a LocalRelation (zero Spark jobs).
        Returns (id, bm25, matched)."""
        if self._fwd is not None:
            hits = self._mlt_interactive(doc_id, n_terms, n_results)
            if not hits:
                return (self.docs.select(self.id_col).limit(0)
                        .withColumn("bm25", F.lit(0.0))
                        .withColumn("matched", F.lit(0).cast("int")))
            id_t = self.docs.schema[self.id_col].dataType.simpleString()
            vals = ", ".join(
                f"({self._fmt_id(i)}, "
                f"{self._sql_atom(float(s), 'DOUBLE')}, {int(c)})"
                for i, s, c in hits)
            return self.spark.sql(
                f"SELECT CAST(col1 AS {id_t}) AS `{self.id_col}`, "
                f"col2 AS bm25, CAST(col3 AS INT) AS matched "
                f"FROM VALUES {vals}")
        return (bm25.more_like_this(self.index, doc_id,
                                    n_terms=n_terms, k=n_results)
                .withColumnRenamed("doc_id", self.id_col)
                .orderBy(F.desc("bm25"), F.asc(self.id_col)))

    def upsert_documents(self, incoming: DataFrame,
                         removed_ids: DataFrame | None = None,
                         force: bool = False) -> dict:
        """The reference's incremental `upsert_documents` tool
        (/root/reference/mcp_server/apps/fts.py:118-181 and
        embeddings.py:121) across EVERY engine tier: checksum-classified
        change detection (unchanged re-arrivals skip, like the
        reference's checksum short-circuit; `force` disables the skip),
        documents MERGE, lexical-index delta refresh
        (`bm25.refresh_index` — postings/doc_len delete+reinsert,
        term_df/scoring-view delta merges), embedding-cache delta
        (changed docs re-embed, others untouched), and — when interactive
        serving was ever enabled — a tier rebuild under the same bounds.
        A batch that grows the corpus past those bounds RELEASES the
        interactive tiers (Spark paths take over; `interactive_enabled`
        tells you which side you're on) rather than serving a stale
        snapshot. `incoming` must carry the corpus schema. Cost tracks the CHANGED set on every Spark-side tier;
        the driver-resident tiers re-collect (they are bounded by
        definition). Returns reference-shaped counts
        {processed, inserted, updated, skipped, removed}."""
        from .sources.ingest import (
            classify_changes,
            merge_upsert,
            row_checksum,
        )

        ck = row_checksum(self.id_col, self.text_col)
        classified = classify_changes(
            incoming.withColumn("_ck", ck),
            self.docs.withColumn("_ck", ck),
            key=self.id_col, checksum="_ck").localCheckpoint()
        n_incoming = classified.count()
        n_removed = 0
        if removed_ids is not None:
            removed_ids = (removed_ids
                           .select(F.col(removed_ids.columns[0])
                                   .alias(self.id_col))
                           .join(self.docs.select(self.id_col), self.id_col,
                                 "left_semi").localCheckpoint())
            n_removed = removed_ids.count()
        # Counts report what actually happened to each tier: a doc in both
        # incoming and removed_ids is dropped everywhere (removal wins), so
        # it counts ONLY as removed; under force the checksum-unchanged
        # rows are genuinely reprocessed, so they count as updated, not
        # skipped. `processed` stays the full incoming batch size.
        stats_src = classified
        if removed_ids is not None:
            stats_src = stats_src.join(removed_ids, self.id_col, "left_anti")
        st = stats_src.agg(
            F.sum(F.when(F.col("action") == "insert", 1).otherwise(0))
            .alias("ins"),
            F.sum(F.when(F.col("action") == "update", 1).otherwise(0))
            .alias("upd"),
            F.sum(F.when(F.col("action") == "skip", 1).otherwise(0))
            .alias("skp"),
        ).first()
        changed = (classified if force
                   else classified.filter(F.col("action") != "skip"))
        changed = changed.drop("action", "_ck")
        if removed_ids is not None:
            # Removal wins over a same-batch update: a doc in both sets
            # must NOT be reinserted into any tier.
            changed = changed.join(removed_ids, self.id_col, "left_anti")
        changed = changed.localCheckpoint()

        merged = merge_upsert(self.docs, incoming.select(*self.docs.columns),
                              key=self.id_col)
        if removed_ids is not None:
            merged = merged.join(removed_ids, self.id_col, "left_anti")
        self.docs = merged.localCheckpoint()
        # The narrator-field index (and its driver tier) is derived from
        # self.docs — invalidate so the next narrator leg rebuilds against
        # the merged corpus instead of serving the pre-upsert snapshot
        # (the lazily-built _nar_index previously survived upserts stale).
        self._nar_index = None
        self._nar_tier = None

        if self._index is not None:
            self._index = bm25.refresh_index(
                self._index, changed, removed_ids,
                text_col=self.text_col, id_col=self.id_col)
        fresh = None
        if self._emb is not None:
            drop = changed.select(self.id_col)
            if removed_ids is not None:
                drop = drop.unionByName(removed_ids)
            kept = self._emb.join(F.broadcast(drop.distinct()),
                                  self.id_col, "left_anti")
            fresh = changed.select(
                F.col(self.id_col),
                embed_column(F.col(self.text_col), self.dim)
                .alias("embedding")).localCheckpoint()
            self._emb = kept.unionByName(fresh).localCheckpoint()
        if self._interactive_bounds is not None:
            # Interactive was requested at some point. With tiers resident
            # the batch delta-applies IN PLACE (O(batch) work — no
            # enable-time corpus re-collect; job census pinned by
            # test_upsert_delta_skips_recollect). Fall back to a full
            # re-enable when no tiers are live, or when the batch pushes
            # the row bound: enable then refuses and RELEASES every tier
            # (its contract) so nothing serves the pre-upsert snapshot; a
            # batch that shrinks the corpus back under the bounds
            # re-enables. Check `interactive_enabled` after bulk loads to
            # see which side you're on.
            if not (self.interactive_enabled
                    and self._apply_interactive_delta(changed, removed_ids,
                                                      fresh)):
                self.enable_interactive(*self._interactive_bounds)
        ins, upd, skp = int(st.ins or 0), int(st.upd or 0), int(st.skp or 0)
        if force:
            upd, skp = upd + skp, 0
        return {"processed": n_incoming, "inserted": ins, "updated": upd,
                "skipped": skp, "removed": n_removed}

    def get_document(self, doc_id) -> DataFrame:
        """Q7 point lookup with a head snippet. With the interactive doc
        map resident (enable_interactive; built only when every corpus
        column is an atomic SQL type), the row returns as a
        LocalRelation — zero Spark jobs, the reference's <5 ms in-process
        lookup reproduced as an explicit bounded tier."""
        if self._doc_rows is not None:
            row = self._doc_rows.get(doc_id)
            if row is None:
                return (self.docs.limit(0)
                        .select("*", F.lit("").alias("preview")))
            vals = ", ".join(
                self._sql_atom(row[f.name], f.dataType.simpleString())
                for f in self.docs.schema.fields)
            # NULL text must stay NULL (the Spark path's snippet(NULL)
            # is NULL) — '' here would break tier row-identity.
            txt = row[self.text_col]
            preview = ("CAST(NULL AS STRING)" if txt is None
                       else self._sql_str(txt[:120]))
            cols = ", ".join(
                f"col{i + 1} AS `{f.name}`"
                for i, f in enumerate(self.docs.schema.fields))
            n = len(self.docs.schema.fields)
            return self.spark.sql(
                f"SELECT {cols}, col{n + 1} AS preview "
                f"FROM VALUES ({vals}, {preview})")
        return (self.docs.filter(F.col(self.id_col) == doc_id)
                .select("*", snippet(F.col(self.text_col),
                                     F.lit("")).alias("preview")))

    def get_document_row(self, doc_id) -> dict | None:
        """The reference's in-process point lookup as an in-process call:
        the corpus row + head preview as a plain dict straight from the
        resident doc map — no DataFrame, no py4j round trip, no Spark
        job. The <5 ms target (HADITH_SEARCH_SPEC.md:553) is a statement
        about THIS shape (the reference returns a dict from a loaded
        corpus map); `get_document` keeps the composable DataFrame face,
        whose ~9 ms floor is the collect round trip itself, not work.
        Serving transports prefer this path. Falls back to collecting the
        Spark path when the map tier is absent; None == no such doc.
        Value-identity with get_document is pinned by
        test_get_document_row_equals_frame."""
        if self._doc_rows is not None:
            row = self._doc_rows.get(doc_id)
            if row is None:
                return None
            out = dict(row)
            txt = row[self.text_col]
            out["preview"] = None if txt is None else txt[:120]
            return out
        rows = self.get_document(doc_id).collect()
        return rows[0].asDict() if rows else None

    def vector_index_status(self) -> DataFrame:
        """The reference's `vector_index_status` tool
        (/root/reference/mcp_server/tools.py:14-27): embedding-index
        metadata — vector count, dim, whether the index is built (pinned)
        yet. Counting a pinned frame never re-embeds."""
        built = self._emb is not None
        n_vectors = self._emb.count() if built else 0
        dim = self.dim
        if built:
            row = self._emb.select(F.size("embedding").alias("d")).first()
            if row is not None:
                dim = row.d
        return local_df(
            self.spark, [(n_vectors, dim, built)],
            "n_vectors long, embedding_dim int, built boolean")

    def fts_status(self) -> DataFrame:
        """The reference's `fts_status` tool (tools.py:29-37): lexical-
        index metadata from the pinned postings/stats frames — doc count,
        distinct terms, postings rows, average doc length."""
        built = self._index is not None
        if not built:
            return local_df(
                self.spark, [(0, 0, 0, 0.0, False)],
                "n_docs long, n_terms long, n_postings long, "
                "avgdl double, built boolean")
        idx = self._index
        st = idx.stats.first()
        n_terms = idx.term_df.count()
        n_postings = idx.postings.count()
        return local_df(
            self.spark, [(int(st.n_docs), n_terms, n_postings,
                          round(float(st.avgdl), 4), True)],
            "n_docs long, n_terms long, n_postings long, "
            "avgdl double, built boolean")

    def status(self) -> DataFrame:
        """Q8: corpus counts + embedding dim — cheap metadata like the
        reference's index_status: never triggers a corpus embedding pass.
        The dim comes from the supplied embeddings (one-row probe, guarded
        for an empty frame) or falls back to the configured encoder dim."""
        n_docs = self.docs.count()
        dim = self.dim
        if self._emb is not None:
            row = self._emb.select(F.size("embedding").alias("d")).first()
            if row is not None:
                dim = row.d
        return local_df(
            self.spark, [(n_docs, dim, self.text_col, self.id_col)],
            "n_docs long, embedding_dim int, text_col string, id_col string")
