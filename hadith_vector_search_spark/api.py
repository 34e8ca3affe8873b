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

import threading
from collections.abc import Mapping
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .functions.text import py_tokenize, snippet, term_coverage
from .functions.vector import round6_arr, topk_order
from .operators import bm25, fusion, proximity, similarity
from .operators import dedup as dedup_ops
from .operators.embedder import (
    DEFAULT_DIM,
    HashEmbedder,
    embed_column,
    encode_query,
    get_model,
)
from .operators.router import INTENT_EXACT, INTENT_NARRATOR, route_one
from .localrel import arrow_arrays, local_df

OVERFETCH_FLOOR = 50   # max(50, 5*n) per the reference (tools.py:87,93)

# hybrid tool-arg names (the reference's HybridScorer kwargs,
# tools.py:75-82) -> fusion.Weights field names
_TOOL_WEIGHTS = {"weight_vector": "vector", "weight_fts": "fts",
                 "weight_term_coverage": "coverage",
                 "bonus_phrase": "phrase"}


# the HALF_UP-on-shortest-repr rounding twin lives with the vector
# helpers so the store-side BLAS paths share one implementation
_round6_arr = round6_arr


class _LexTier(Mapping):
    """A resident lexical tier: per term, its postings as int32
    positions into `ids`, the tier's one sorted id vector, with aligned
    per-posting payload arrays. `post[term]` is the stored
    (positions, *payload) the ranking kernels read; read as a Mapping,
    the tier gives each term's (ids, *payload), the id-keyed face of the
    same postings."""

    __slots__ = ("ids", "post")

    def __init__(self, ids, post: dict) -> None:
        self.ids, self.post = ids, post

    def __getitem__(self, term):
        pos, *payload = self.post[term]
        return (self.ids[pos], *payload)

    def __contains__(self, term) -> bool:
        return term in self.post

    def __iter__(self):
        return iter(self.post)

    def __len__(self) -> int:
        return len(self.post)


def _term_segments(terms, pids) -> tuple:
    """One lexical tier's layout from postings in any row order: the
    sorted unique id vector, the stable term order, and in that order
    the terms, each posting's int32 position into the ids, and each
    term's segment (starts, ends)."""
    import numpy as np

    ids, inv = np.unique(pids, return_inverse=True)
    order = np.argsort(terms, kind="stable")
    terms = terms[order]
    starts = np.searchsorted(terms, np.unique(terms), side="left")
    ends = np.append(starts[1:], len(terms))
    return ids, order, terms, inv.astype(np.int32)[order], starts, ends


def _dense_group(n_postings: int, n: int) -> bool:
    """Whether a grouped sum of `n_postings` postings over a tier of `n`
    ids takes the dense O(n) route of `HybridEngine._group_sum` rather
    than the sparse O(postings) one. Dense wins on a small tier, where
    its whole pass costs about what np.unique's fixed overhead does,
    and on a larger tier from about one posting per two ids; below
    that, a dense pass over 50,000 ids costs up to 20 times the sort
    (numpy 1.26, 4-core x86 host, n = 5,000 to 500,000)."""
    return n < 16_384 or 2 * n_postings >= n


def _clamp01(x):
    """`min(1.0, max(0.0, x))` over an array, with the builtins'
    semantics: each takes its second argument only on a STRICT
    comparison, so -0.0 and NaN clamp to 0.0 (`np.maximum(0.0, -0.0)`
    keeps -0.0, and NaN would propagate)."""
    import numpy as np

    x = np.where(x > 0.0, x, 0.0)
    return np.where(x < 1.0, x, 1.0)


def _unpin(*frames) -> None:
    """Free the blocks of each frame here that is a pin — a
    `localCheckpoint` result, whose plan is one LogicalRDD — now, not
    whenever the JVM next collects its RDD and Spark's cleaner runs.
    Pass only superseded frames nothing reads again: a local checkpoint
    has no lineage to recompute from."""
    for df in frames:
        if df is None:
            continue
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            plan.rdd().unpersist(False)


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
        self._docs = docs.localCheckpoint()  # Spark-side corpus snapshot
        self._schema = self._docs.schema
        # Upserts not yet folded into the Spark-side frames: id -> live
        # row dict, or None for a removed id (`upsert_documents`, `_fold`)
        self._pending: dict = {}
        self._view = None  # (corpus view, live rows, tombstones) of _pending
        self._fold_lock = threading.RLock()
        self._index: bm25.LexicalIndex | None = None
        self._emb: DataFrame | None = (
            embeddings.localCheckpoint() if embeddings is not None else None)
        self._emb_supplied = embeddings is not None
        self._ids = None   # numpy id vector (interactive mode)
        self._mat = None   # numpy embedding matrix (interactive mode)
        self._lex = None   # _LexTier: per-term postings (interactive mode)
        self._fwd = None   # doc-sorted forward arrays (interactive mode)
        self._doc_rows = None   # id -> row dict (interactive mode)
        # column -> {value: sorted ids} over _doc_rows, filled per column
        # by `_filter_ids`; emptied right after each replacement of
        # _doc_rows
        self._filter_index: dict = {}
        self._lex_vocab = None  # sorted vocab keys of _lex
        self._lex_stats = None  # (n_docs, avgdl) the _lex impacts use
        self._interactive_bounds = None  # set once enable_interactive runs

    def enable_interactive(self, max_driver_rows: int = 500_000,
                           max_driver_postings: int = 5_000_000) -> bool:
        """Opt-in INTERACTIVE serving: build the document vectors as a
        driver-resident numpy matrix so the per-request vector leg and the
        O(k) fusion run driver-side — the reference's own in-process
        architecture (quran_mcp/search.py's numpy matmul over a loaded
        matrix), and the point-serving layer SCALE.md prescribes for
        sub-second latency, collapsed into this engine for corpora that
        fit one node. Scoring, bonuses and dedup also run driver-side in
        `_score_local_py`, the one Python twin of the Column scoring tail
        (`_scored_column_tail`), over the resident doc map.

        Bounded: refuses (returns False) above `max_driver_rows` vectors,
        and for id column types the resident tiers cannot key by exact
        equality (anything but string/integral) — at lake scale
        the interactive tier is a separate service over the published
        index, not a driver copy. On refusal NO interactive tier is left
        resident: a first enable leaves the engine unchanged, and a
        RE-enable that crosses a bound (e.g. upsert_documents grew the
        corpus past the limit it was enabled with) releases every prior
        tier so subsequent calls fall back to the Spark path instead of
        silently serving the pre-upsert snapshot. Batch paths and
        oracle-checked plans never use this state.

        Also builds (best-effort, bounded by `max_driver_postings`
        postings and, as a driver copy of the corpus texts, by
        `max_driver_rows` corpus rows) the SYMMETRIC lexical tier: per
        term, the docs (positions into one sorted id vector) and
        PRECOMPUTED BM25 impacts of its postings (`_LexTier`). The
        per-posting score idf(df)·sat(tf, dl) is query-independent — the
        classic impact-ordered-index observation — so a request's lexical
        leg is a gather over its terms' arrays plus one grouped sum, no
        Spark job. A hybrid call runs resident only when every tier its
        queries use is resident (`_resident_hybrid`); if a bound is
        exceeded, text-leg hybrid calls take the Spark path.

        Every tier is built in the driver, the way the upsert delta
        builds it: one read of at most `max_driver_rows + 1` corpus rows
        decides the row bound and feeds the doc map, and one
        tokenization pass over it (`_postings_of`) feeds both the
        lexical tier and the vector tier (`_doc_vectors`: the hash
        model's vectors are the postings' counts times their tokens'
        sign rows, so enable runs no embedding UDF). That read is the
        only Spark job of an engine with derived vectors; supplied
        embeddings are counted and read through `toArrow()`
        (`localrel.arrow_arrays`). Neither the Spark BM25 index nor the
        embedding frame is built or pinned here: the `index` and `emb`
        properties build them on the first Spark-path call that reads
        them."""
        import numpy as np

        self._fold()
        self._interactive_bounds = (max_driver_rows, max_driver_postings)
        id_type = self._schema[self.id_col].dataType.simpleString()
        if id_type not in ("string", "tinyint", "smallint", "int", "bigint"):
            self.disable_interactive()
            return False
        # One read of the corpus, bounded at max_driver_rows + 1 rows,
        # feeds the doc map and the lexical tier. The corpus can be
        # LARGER than a user-supplied embeddings frame, so those two
        # tiers bound on the DOCS rows: max_driver_rows is a promise
        # about every driver copy. The doc map holds the full rows only
        # when every column is an atomic SQL type, so each served row is
        # plain scalars.
        atomic = all(not f.dataType.simpleString().startswith(
                         ("array", "map", "struct", "binary"))
                     for f in self._schema.fields)
        docs = (self.docs if atomic
                else self.docs.select(self.id_col, self.text_col))
        rows = docs.limit(max_driver_rows + 1).collect()
        # derived embeddings hold one vector per corpus row; supplied
        # ones are counted
        if (self.emb.count() if self._emb_supplied
                else len(rows)) > max_driver_rows:
            self.disable_interactive()
            return False
        # Tiers below are rebuilt conditionally (row and postings bounds,
        # atomic columns); reset them FIRST so a re-enable whose corpus
        # newly crosses a per-tier bound degrades that tier to the Spark
        # path instead of serving stale arrays.
        self._lex = self._fwd = self._doc_rows = None
        self._lex_vocab = self._lex_stats = None
        self._nar_tier = None  # lazy; rebuilt on first narrator leg
        self._filter_index = {}
        postings = (self._postings_of(rows) if len(rows) <= max_driver_rows
                    else None)
        if self._emb_supplied:
            self._ids, mat = arrow_arrays(
                self.emb.select(self.id_col, "embedding"), self.dim)
            self._mat = mat.astype(float, copy=False)
        else:
            self._ids = np.array([r[self.id_col] for r in rows])
            self._mat = self._doc_vectors(rows, postings)
        if postings is not None:
            if len(postings[0]) <= max_driver_postings:
                self._install_lex_tiers(*postings[:4])
            if atomic:
                self._doc_rows = {r[self.id_col]: r.asDict() for r in rows}
        return True

    def _postings_of(self, rows) -> tuple:
        """(terms, pids, tf, dl, at) postings arrays of corpus `rows`
        (Rows or row dicts), tokenized in the driver with `py_tokenize`,
        the tested twin of the index tokenizer: one entry per distinct
        (doc, term), tf its count and dl the doc's token count, both as
        doubles like the index's, and `at` the doc's position in `rows`
        (ascending); token-less docs have no index presence. The one
        tokenization pass enable-time builds and the upsert delta make:
        the first four arrays feed the lexical tier
        (`_install_lex_tiers`), tf and `at` the vector tier
        (`_doc_vectors`)."""
        from collections import Counter

        import numpy as np

        terms, pids, tf, dl, at = [], [], [], [], []
        for i, r in enumerate(rows):
            toks = py_tokenize(r[self.text_col] or "")
            if not toks:
                continue
            length = float(len(toks))
            for t, n in Counter(toks).items():
                terms.append(t)
                pids.append(r[self.id_col])
                tf.append(float(n))
                dl.append(length)
                at.append(i)
        return (np.array(terms), np.array(pids), np.array(tf), np.array(dl),
                np.array(at, dtype=np.intp))

    def _install_lex_tiers(self, terms, pids, tf, dl) -> None:
        """Build and install the driver-resident lexical tiers from raw
        postings-shaped arrays (any row order): per-term document
        frequency is the term-segment length (each (doc, term) row is
        unique, so segment length == df — exactly the index's term_df
        values), impacts are the query-independent idf(df)·sat(tf, dl)
        factors. ONE implementation shared by enable-time builds and
        the upsert delta path, so the two can never drift.

        `_lex` stores each term's postings as int32 positions into the
        tier's one sorted id vector (`_LexTier`), so the lexical legs
        sum by `np.bincount` over positions (`_group_sum`); the doc-sorted
        forward view `_fwd` keeps the ids, by which the upsert delta
        drops a batch's rows.

        n_docs/avgdl come exactly from the doc-level dl values
        (integer-valued doubles: sums are exact, the division matches
        Spark's avg; an empty tier takes the index's 1.0 placeholder).
        FP note: mirrors the JVM expression op-for-op (np.log(1 + x),
        not log1p) — any residual difference is libm-vs-Math.log
        last-ulp, the accepted class pinned by
        test_interactive_mode_equals_batch_path."""
        import numpy as np

        ids, order, terms, pos, starts, ends = _term_segments(terms, pids)
        pids, tf, dl = pids[order], tf[order], dl[order]
        n_docs, avgdl = float(len(ids)), 1.0
        if len(ids):
            doc_dl = np.empty(len(ids))
            doc_dl[pos] = dl  # every posting of a doc carries its dl
            avgdl = float(doc_dl.sum()) / n_docs
        df = np.repeat((ends - starts).astype(float), ends - starts)
        idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        impact = idf * (tf * (bm25.K1 + 1.0)) / (
            tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / avgdl))
        # raw tf/dl ride along for the prefix pseudo-term (its summed
        # tf and member-df can't be recombined from impacts)
        self._lex = _LexTier(ids, {terms[s]: (pos[s:e], impact[s:e],
                                              tf[s:e], dl[s:e])
                                   for s, e in zip(starts, ends)})
        # keys were inserted in term-sorted order (the arrays are
        # sorted above), so this list is sorted — prefix queries
        # bisect an O(log V) range instead of scanning the vocab
        self._lex_vocab = list(self._lex)
        self._lex_stats = (n_docs, avgdl)
        # doc-sorted forward view for MoreLikeThis seed mining
        # (searchsorted slice -> the seed's term rows); positions order
        # as their ids do
        dorder = np.argsort(pos, kind="stable")
        self._fwd = (pids[dorder], terms[dorder], tf[dorder],
                     dl[dorder], df[dorder])

    def _apply_interactive_delta(self, changed: list[dict],
                                 removed: set) -> bool:
        """Apply an upsert batch to the RESIDENT interactive tiers in
        place — the O(batch) alternative to `enable_interactive`'s full
        corpus read, and no Spark job: `changed` holds the batch's
        corpus-schema rows that change (removal-wins already applied) as
        the upsert's one collect read them, `removed` the ids it drops.
        The changed rows are tokenized once (`_postings_of`), and their
        vectors built from those postings by `_doc_vectors` — the values
        the embed UDF computes.

        Per tier: vector matrix/doc map drop the batch's rows and append
        the fresh ones; the lexical tier drops the batch's postings from
        the raw forward arrays, appends the changed rows' postings, and
        re-derives n_docs/avgdl/df/impacts through `_install_lex_tiers`
        — the SAME three builders `enable_interactive` runs over the
        whole corpus, because BM25's global n_docs/avgdl/df
        factors make per-posting impacts globally sensitive to any batch
        (recompute is one vectorized numpy pass over
        ≤max_driver_postings rows).

        Bound discipline mirrors enable_interactive: vectors over
        `max_driver_rows` → False before anything is installed (the
        caller releases the tiers and re-enables, which refuses); corpus
        rows over it (seen by the doc map) → the doc map and lexical
        tiers are dropped; postings over `max_driver_postings` → the
        lexical tier alone is dropped (text-leg hybrid calls take the
        Spark path). Returns True
        when the resident tiers now serve the post-upsert corpus.
        Row-identity with a fresh enable is pinned by
        test_upsert_delta_equals_fresh_enable."""
        import numpy as np

        if self._mat is None:
            return False
        max_rows, max_post = self._interactive_bounds
        drop = removed | {r[self.id_col] for r in changed}
        drop_arr = np.array(sorted(drop)) if drop else None
        postings = self._postings_of(changed)

        # --- vector tier (bound: total resident vectors) ---------------
        keep = (~np.isin(self._ids, drop_arr) if drop_arr is not None
                else np.ones(len(self._ids), dtype=bool))
        n_keep = int(keep.sum())
        if n_keep + len(changed) > max_rows:
            return False
        ids2 = self._ids[keep]
        # one new matrix, filled in place (no stacked temporaries)
        mat2 = np.empty((n_keep + len(changed), self._mat.shape[1]))
        np.compress(keep, self._mat, axis=0, out=mat2[:n_keep])
        if changed:
            ids2 = np.concatenate(
                [ids2, np.array([r[self.id_col] for r in changed])])
            mat2[n_keep:] = self._doc_vectors(changed, postings)

        # --- doc-map tier (bound: corpus rows) -------------------------
        new_map, over_rows = None, False
        if self._doc_rows is not None:
            new_map = {k: v for k, v in self._doc_rows.items()
                       if k not in drop}
            for r in changed:
                new_map[r[self.id_col]] = r
            over_rows = len(new_map) > max_rows
            if over_rows:
                new_map = None

        # --- lexical tier (bound: postings, and the corpus rows of the
        # texts it copies, as at enable) --------------------------------
        lex_arrays = None
        if self._fwd is not None and not over_rows:
            pids, terms, tf, dl, _ = self._fwd
            if drop_arr is not None:
                m = ~np.isin(pids, drop_arr)
                pids, terms, tf, dl = pids[m], terms[m], tf[m], dl[m]
            a_terms, a_ids, a_tf, a_dl, _ = postings
            if len(a_ids):
                pids = np.concatenate([pids, a_ids])
                terms = np.concatenate([terms, a_terms])
                tf = np.concatenate([tf, a_tf])
                dl = np.concatenate([dl, a_dl])
            if len(pids) <= max_post:
                lex_arrays = (terms, pids, tf, dl)

        # --- all bounds verified: install -----------------------------
        self._ids, self._mat = ids2, mat2
        self._doc_rows = new_map
        self._filter_index = {}  # after the map (`_fast_allowed_ids`)
        if lex_arrays is not None:
            self._install_lex_tiers(*lex_arrays)
        else:
            self._lex = self._fwd = None
            self._lex_vocab = self._lex_stats = None

        return True

    def _doc_vectors(self, rows, postings=None):
        """The document vectors of corpus `rows` (Rows or row dicts) as
        one (len(rows), dim) matrix, in row order, built in the driver by
        the model `encode_query` uses: the values the embed UDF computes
        for their NULL-filled texts. The hash model builds them from the
        rows' postings (`postings`, else `_postings_of(rows)` here) with
        `HashEmbedder.encode_bags`, so a caller that tokenized the rows
        for the lexical tier does not tokenize them again; any other
        model encodes the texts with `encode_batch`, as the UDF does.
        Enable, the upsert delta and the fold share it."""
        import numpy as np

        model = get_model(self.dim)
        if isinstance(model, HashEmbedder):
            terms, _, tf, _, at = (postings if postings is not None
                                   else self._postings_of(rows))
            return model.encode_bags(terms, tf, at, len(rows))
        vecs = model.encode_batch([r[self.text_col] or "" for r in rows])
        return np.array(vecs, dtype=float).reshape(len(rows), self.dim)

    def disable_interactive(self) -> None:
        """Release every driver-resident interactive tier (vector matrix,
        lexical impact arrays, doc map); all calls fall back to the full
        Spark paths. Idempotent; called automatically when a re-enable
        crosses a bound so no tier can serve a stale corpus snapshot."""
        self._ids = self._mat = None
        self._lex = self._fwd = self._doc_rows = None
        self._lex_vocab = self._lex_stats = None
        self._nar_tier = None
        self._filter_index = {}

    @property
    def interactive_enabled(self) -> bool:
        """Whether the driver-resident vector tier is serving (the other
        tiers degrade independently per their own bounds)."""
        return self._mat is not None

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

    def _score_local_py(self, items: list, terms: list[str], w,
                        phrase: str | None, dedupe: bool, n_results: int,
                        synonym_groups: list[list[str]] | None = None,
                        near_window: int = 5
                        ) -> tuple[list[tuple], int] | None:
        """The scoring tail computed entirely driver-side over the
        resident doc map, for every resident hybrid call
        (`_resident_hybrid`). A strict python twin of the Column tail
        (`_scored_column_tail`: `fusion.score` + `fused_result_dedup` +
        the final projection), expression-for-expression: same
        greatest/least clamps, same raw-vs-rounded usage, same dedup key
        (space-trimmed 120-char preview, id-string fallback), same
        (score desc, id asc) tie-breaks, same global duplicates_filtered
        algebra. Returns (top rows, dropped count), or None when a
        candidate id is missing from the doc map (it cannot mirror the
        inner join against a FRESHER corpus, so the call takes the Spark
        path). Each row is (id, score, vec, fts, cov, phrase, prox,
        narrator, preview), all already HALF_UP-rounded to 6 dp.

        Columnar: a Python loop runs only the string predicates
        (coverage, phrase, proximity, narrator); the clamps and the
        fusion sum are numpy over the candidate columns, in the Python
        expressions' operation and argument order (`_clamp01` keeps the
        builtins' signed-zero and NaN results), and the candidates rank
        by one `np.lexsort((ids, -score))`.

        Rounding: all seven columns go through `_round6_arr`, the one
        Python twin of Spark's round(x, 6). Spark rounds the SHORTEST
        decimal repr of the double (Java's Double.toString), not its
        exact binary expansion; the half-way candidates `_round6_arr`
        detects are rounded HALF_UP on repr(x), which reproduces that
        (Python repr is also shortest-round-trip;
        verified against Spark on half-way values like 0.9050355, where
        the exact expansion ...49999 rounds DOWN but both engines round
        UP). Residual divergence needs a double where Java 17's
        Double.toString emits a non-shortest repr AND the 6-dp boundary
        falls inside the extra digits. Row-identity with the Spark path
        is pinned by test_interactive_mode_equals_batch_path; equality
        with the Column tail on crafted candidates (rounding boundaries,
        coverage, phrase bonus) by
        test_local_and_column_scoring_tails_agree_on_rounding_boundaries,
        and on clamp edges (sims outside [0, 1], -0.0, a clamped total)
        by test_local_and_column_scoring_tails_agree_on_clamp_edges.

        With `synonym_groups` this also twins the reference's group
        scorer: coverage is per-group any-member SUBSTRING containment,
        and the proximity bonus fires when the first two groups' TOKENS
        co-occur within `near_window` kept-token positions
        (`_min_pair_distance_py`, mirroring
        operators/proximity.min_pair_distance over
        py_tokenize — the tested driver twin of `tokenize`)."""
        import numpy as np

        phrase_l = phrase.lower() if phrase else None
        groups_l = ([[m.lower() for m in grp] for grp in synonym_groups]
                    if synonym_groups else None)
        prox_on = synonym_groups is not None and len(synonym_groups) >= 2
        if prox_on:
            ga = set(groups_l[0])
            gb = set(groups_l[1])
            thresh = max(1, near_window)
        preds, previews = [], []
        for rid, _ in items:
            row = self._doc_rows.get(rid)
            if row is None:
                return None
            txt = row[self.text_col]
            ltxt = txt.lower() if txt is not None else None
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
            preds.append((_cv, _ph, _px, _nb))
            previews.append(txt[:120] if txt is not None else None)
        fts, vs = np.array([s for _, s in items], dtype=float).reshape(-1, 2).T
        cv, ph, px, nb = np.array(preds, dtype=float).reshape(-1, 4).T
        vs = _clamp01(vs)
        fs = np.where(fts > 0.0, fts, 0.0)
        fs = fs / (fs + 1.0)
        total = _clamp01(vs * w.vector + fs * w.fts + cv * w.coverage
                         + ph + px + nb)
        cols = _round6_arr(np.stack([total, vs, fs, cv, ph, px, nb]))
        rids = [rid for rid, _ in items]
        order = np.lexsort((np.array(rids), -cols[0]))
        rounded = cols.T.tolist()
        scored = [(rids[j], *rounded[j], previews[j]) for j in order.tolist()]
        dropped = 0
        if dedupe:
            seen: set = set()
            survivors = []
            for s in scored:
                key = (s[8] or "").strip(" ") or str(s[0])
                if key not in seen:
                    seen.add(key)
                    survivors.append(s)
            dropped = len(scored) - len(survivors)
            scored = survivors
        return scored[:int(n_results)], dropped

    def _hybrid_rows(self, groups: list[tuple], batched: bool) -> tuple:
        """`_resident_hybrid`'s [(query_idx, top rows, dropped)] groups
        as (result tuples, schema): each `_score_local_py` row projected
        to the hybrid columns under the Spark path's column types —
        `query_idx` leading on a batch, `narrator_bonus` with a narrator
        column."""
        nar = self.narrator_col is not None
        rows = [((qidx,) if batched else ()) + r[:7] + (r[7:8] if nar else ())
                + (dropped, r[8])
                for qidx, top, dropped in groups for r in top]
        dbl = ["score", "vec_signal", "fts_sig", "coverage", "phrase_bonus",
               "proximity_bonus"] + (["narrator_bonus"] if nar else [])
        return rows, StructType(
            ([StructField("query_idx", IntegerType())] if batched else [])
            + [self._schema[self.id_col]]
            + [StructField(n, DoubleType()) for n in dbl]
            + [StructField("duplicates_filtered", LongType()),
               StructField("preview", StringType())])

    def _hit_rows(self, hits: list, *cols: tuple) -> tuple:
        """Ranked driver-side hits (id, then one value per `cols` entry,
        a (name, type) pair) as (rows, schema)."""
        return hits, StructType([self._schema[self.id_col]] + [
            StructField(n, t) for n, t in cols])

    def _frame(self, out) -> DataFrame:
        """The public DataFrame face of a row renderer's result: resident
        (rows, schema) through the one frame builder (`local_df`, a
        LocalTableScan whose collect runs no Spark job); a Spark-path
        frame as it is."""
        return local_df(self.spark, *out) if isinstance(out, tuple) else out

    def tool_rows(self, name: str, args: dict):
        """One serving-tool call by its transport name and JSON arguments
        (the argument names of `serving.stdio.TOOL_DEFINITIONS`) — the
        transports' entry to the engine. A resident call returns
        (rows, schema): plain Python tuples (`int`, `float`, `str`,
        `None`, never numpy scalars) in the field order of one
        `StructType`, with no DataFrame built. A call on the Spark path
        returns its DataFrame, which the caller collects; the rows are
        the ones the public method of the same name returns either way.
        `get_document` is served by `get_document_row`."""
        if name in ("hybrid_search", "hybrid_search_batch"):
            weights = {field: float(args[arg])
                       for arg, field in _TOOL_WEIGHTS.items() if arg in args}
            queries = ([args["query"]] if name == "hybrid_search"
                       else list(args["queries"]))
            return self._hybrid_out(
                queries, name == "hybrid_search_batch",
                n_results=int(args.get("n_results", 10)),
                scoring_mode=args.get("scoring_mode", "balanced"),
                filters=args.get("filters"), **weights)
        if name == "fts_match":
            return self._fts_out(args.get("terms"), args.get("prefix"),
                                 args.get("field"), args.get("value"),
                                 int(args.get("limit", 10)))
        if name == "rerank_search":
            return self._rerank_out(
                args["query"], int(args.get("n_results", 10)),
                scoring_mode=args.get("scoring_mode", "balanced"),
                filters=args.get("filters"))
        if name == "more_like_this":
            return self._mlt_out(args["doc_id"],
                                 int(args.get("n_results", 10)),
                                 int(args.get("n_terms", 5)))
        raise KeyError(f"unknown tool: {name}")

    @staticmethod
    def _group_sum(pos, vals, n: int) -> tuple:
        """The grouped-sum kernel every resident lexical leg shares,
        over postings stored as positions into a tier's sorted id vector
        of length `n` (`_LexTier`). Each bin adds its values in input
        order starting from 0.0, as np.add.at over np.unique's inverse
        does, so the sums are bit-identical to that grouping on either
        route (`_dense_group`): a dense `np.bincount` over all `n` bins
        plus `flatnonzero` (no sort) when the postings are many, or
        np.unique's sort of the postings and a bincount over its inverse
        when they are few against `n`, so a rare-term leg on a large
        tier costs O(postings), not O(n). Returns (hit, tot, cnt): the
        hit positions ascending (`ids[hit]` are the hit ids, in id
        order), their sums, and their posting counts (the term-match
        count of a conjunctive leg)."""
        import numpy as np

        if not _dense_group(len(pos), n):
            hit, inv, cnt = np.unique(pos, return_inverse=True,
                                      return_counts=True)
            return hit, np.bincount(inv, weights=vals,
                                    minlength=len(hit)), cnt
        cnt = np.bincount(pos, minlength=n)
        hit = np.flatnonzero(cnt)
        tot = np.bincount(pos, weights=vals, minlength=n)[hit]
        return hit, tot, cnt[hit]

    @staticmethod
    def _ranked_topk(uids, tot, k):
        """The shared ranking contract of the Spark legs: round 6 AFTER
        the sum (Spark HALF_UP-on-shortest-repr semantics via
        `_round6_arr` — rounding BEFORE the sort so half-way corrections
        participate in the ranking exactly as F.round does), rank
        (score desc, id asc), top k by the partial sort `topk_order`
        (`np.lexsort((uids, -tot))[:k]` without sorting every row).
        Serves the lexical, `fts_match`, `more_like_this` and narrator
        legs. Returns (rounded totals, order indices) so callers carry
        extra payloads along."""
        tot = _round6_arr(tot)
        return tot, topk_order(uids, tot, k)

    @staticmethod
    def _and_legs(legs) -> tuple:
        """AND-combine (hit positions, scores) legs over one tier: keep
        the positions every leg hit, scores added in leg order (the
        Spark paths' inner join, `score + _s`). Stops at the first
        empty result, so later legs of a generator are not computed."""
        import numpy as np

        hit = tot = None
        for h, s in legs:
            if hit is None:
                hit, tot = h, s
            else:
                hit, ia, ib = np.intersect1d(hit, h, assume_unique=True,
                                             return_indices=True)
                tot = tot[ia] + s[ib]
            if not len(hit):
                break
        return hit, tot

    def _lex_topk_interactive(self, terms: list[str], k: int,
                              allowed=None) -> list:
        """Driver-side disjunctive BM25 top-k over the resident per-term
        impact arrays: gather the query terms' postings, one grouped sum,
        round 6, rank by (score desc, id asc) — the exact contract of the
        Spark leg (`bm25.score_terms` + round + orderBy + limit).
        `allowed` (a sorted id array, see `_fast_allowed_ids`) restricts
        BEFORE the top-k cutoff, mirroring `_spark_lex_leg`'s semi-join
        placement."""
        import numpy as np

        lex = self._lex
        parts = [lex.post[t] for t in terms if t in lex.post]
        if not parts:
            return []
        hit, tot, _ = self._group_sum(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]), len(lex.ids))
        uids = lex.ids[hit]
        if allowed is not None:
            keep = np.isin(uids, allowed)
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
        n_docs, avgdl = self._lex_stats
        idf = np.log(1.0 + (n_docs - df[lo:hi] + 0.5) / (df[lo:hi] + 0.5))
        w = _round6_arr((tf[lo:hi] / dl[lo:hi]) * idf)
        seed_terms = terms_a[lo:hi]
        mined = [seed_terms[i] for i in topk_order(seed_terms, w, n_terms)]
        lex = self._lex
        parts = [lex.post[t] for t in mined if t in lex.post]
        if not parts:
            return []
        pos = np.concatenate([p[0] for p in parts])
        imp = np.concatenate([p[1] for p in parts])
        # searchsorted gives an insertion point: exclude the seed only
        # where that point holds it
        seed = np.searchsorted(lex.ids, doc_id)
        if seed < len(lex.ids) and lex.ids[seed] == doc_id:
            keep = pos != seed
            pos, imp = pos[keep], imp[keep]
        if not len(pos):
            return []
        hit, tot, cnt = self._group_sum(pos, imp, len(lex.ids))
        uids = lex.ids[hit]
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
        narrator tier); legs AND-combined (`_and_legs`) with scores
        added, rounded 6 AFTER the sum, ranked (bm25 desc, id asc),
        top k. Returns [(id, bm25)]."""
        import numpy as np

        lex = self._lex
        legs = []
        if terms:
            ts = sorted(set(terms))
            parts = [lex.post.get(t) for t in ts]
            if any(p is None for p in parts):
                legs.append((np.empty(0, dtype=np.intp), np.empty(0)))
            else:
                hit, tot, cnt = self._group_sum(
                    np.concatenate([p[0] for p in parts]),
                    np.concatenate([p[1] for p in parts]), len(lex.ids))
                m = cnt == len(ts)
                legs.append((hit[m], tot[m]))
        if prefix:
            n_docs, avgdl = self._lex_stats
            legs.append(self._prefix_leg_local(
                [(p[0], p[2], p[3]) for p in self._lex_members(
                    lex.post, self._lex_vocab, prefix)],
                len(lex.ids), n_docs, avgdl))
        hit, tot = self._and_legs(legs)
        if not len(hit):
            return []
        uids = lex.ids[hit]
        tot, order = self._ranked_topk(uids, tot, k)
        return [(uids[i].item(), float(tot[i])) for i in order]

    @staticmethod
    def _lex_members(post: dict, vocab: list, prefix: str) -> list:
        """Resident-vocab prefix range scan: the sorted vocab bisects to
        the members starting with `prefix` (O(log V) + range)."""
        from bisect import bisect_left

        members = []
        for i in range(bisect_left(vocab, prefix), len(vocab)):
            if not vocab[i].startswith(prefix):
                break
            members.append(post[vocab[i]])
        return members

    @staticmethod
    def _prefix_leg_local(members: list, n: int, n_docs: float,
                          avgdl: float) -> tuple:
        """`bm25.score_prefix`'s pseudo-term recomputed driver-side from
        raw (positions, tf, dl) member arrays of a tier with `n` ids:
        summed member tf per doc, df = count of docs containing any
        member, one BM25 expression — shared by
        `_fts_match_interactive`'s prefix leg and the narrator tier so
        the two can never drift. Returns (hit positions, unrounded
        scores), both empty when the prefix matches no vocab term (the
        empty inner-join leg)."""
        import math

        import numpy as np

        if not members:
            return np.empty(0, dtype=np.intp), np.empty(0)
        pos = np.concatenate([m[0] for m in members])
        hit, tfs, _ = HybridEngine._group_sum(
            pos, np.concatenate([m[1] for m in members]), n)
        # same doc, same dl — any member row's value
        dl = np.concatenate([m[2] for m in members])
        if _dense_group(len(pos), n):
            dls = np.zeros(n)
            dls[pos] = dl
            dls = dls[hit]
        else:  # no O(n) buffer for a few postings
            dls = np.empty(len(hit))
            dls[np.searchsorted(hit, pos)] = dl
        df = float(len(hit))
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        score = idf * (tfs * (bm25.K1 + 1.0)) / (
            tfs + bm25.K1 * (1.0 - bm25.B + bm25.B * dls / avgdl))
        return hit, score

    def _narrator_tier(self):
        """Driver-resident NARRATOR-field tier — (`_LexTier` of per-term
        (positions, tf, dl) arrays, sorted vocab, (n_docs, avgdl)) over
        the narrator index, the round-9 verdict item 5: narrator-leg
        queries degraded every batch call to a union of per-query Spark
        plans because the narrator index had no resident arrays. Built
        lazily once per corpus snapshot (narrator vocabulary is
        names-sized) under the SAME postings bound interactive enabling
        promised; invalidated with `_nar_index` on upsert. Returns None
        when interactive tiers are not resident, there is no narrator
        column, or the bound is exceeded (narrator-intent calls then
        take the Spark path)."""
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
                ids, order, terms, pos, starts, ends = _term_segments(
                    np.array([r["term"] for r in rows]),
                    np.array([r["doc_id"] for r in rows]))
                tf = np.array([r["tf"] for r in rows], dtype=float)[order]
                dl = np.array([r["dl"] for r in rows], dtype=float)[order]
                lex = _LexTier(ids, {terms[s]: (pos[s:e], tf[s:e], dl[s:e])
                                     for s, e in zip(starts, ends)})
                self._nar_tier = (lex, list(lex),
                                  self._narrator_index().stats_literals())
        return self._nar_tier or None

    def _narrator_topk_interactive(self, toks: list[str], k: int,
                                   allowed=None) -> list:
        """Driver twin of `_narrator_leg` (`bm25.prefix_and_match` over
        the narrator index): each token is a prefix pseudo-term
        (`_prefix_leg_local`), conjunctive (`_and_legs`) with scores
        summed, `allowed` restricting before the cutoff, rounded 6
        AFTER the total, ranked (bm25 desc, id asc), top k."""
        import numpy as np

        lex, vocab, (n_docs, avgdl) = self._narrator_tier()
        hit, tot = self._and_legs(
            self._prefix_leg_local(self._lex_members(lex.post, vocab, p),
                                   len(lex.ids), n_docs, avgdl)
            for p in toks)
        uids = lex.ids[hit]
        if allowed is not None:
            keep = np.isin(uids, allowed)
            uids, tot = uids[keep], tot[keep]
        if not len(uids):
            return []
        tot, order = self._ranked_topk(uids, tot, k)
        return [(uids[i].item(), float(tot[i])) for i in order]

    def _fast_allowed_ids(self, filters: dict | None):
        """Metadata filters as a DRIVER id set for the resident hybrid
        path (`_resident_hybrid`, single and batch calls alike) —
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
        the call takes the Spark path, preserving exact Column
        semantics. Returns None (no filters), a sorted id array
        (restrict to these ids: the intersection of each filter's ids
        from `_filter_ids`), or `NotImplemented` (degrade)."""
        import numpy as np

        if not filters:
            return None
        # the index before the map: every replacement of the map stores
        # the new map first and a new empty index after it, so an index
        # read here is never one a later map's replacement emptied
        # before this call read that later map
        index, doc_rows = self._filter_index, self._doc_rows
        if doc_rows is None:
            return NotImplemented
        strict = {"string": str, "tinyint": int, "smallint": int,
                  "int": int, "bigint": int, "boolean": bool}
        types = {f.name: f.dataType.simpleString()
                 for f in self._schema.fields}
        for col, val in filters.items():
            py = strict.get(types.get(col, ""))
            if py is None or val is None or type(val) is not py:
                return NotImplemented
            if py is int and not -2**63 <= val < 2**63:
                # a past-bigint literal ERRORS on the Spark path under
                # ANSI; degrade so the two paths cannot diverge
                return NotImplemented
        allowed = None
        for col, val in filters.items():
            ids = self._filter_ids(index, doc_rows, col, val)
            allowed = (ids if allowed is None
                       else np.intersect1d(allowed, ids, assume_unique=True))
        return allowed

    @staticmethod
    def _filter_ids(index: dict, doc_rows: dict, col: str, val):
        """The sorted ids of the `doc_rows` rows whose `col` equals `val`
        (NULL matching nothing), from `index`, the engine's (column,
        value) -> ids index `_filter_index`: a column's entry is built by
        one pass over the doc map on its first filtered call, and the
        engine empties the whole index whenever it replaces the doc map
        (enable, upsert delta, disable). Values are dict keys, so lookups
        use Python `==`, sound only under `_fast_allowed_ids`' strict
        typing."""
        import numpy as np

        by_val = index.get(col)
        if by_val is None:
            groups: dict = {}
            for rid, row in doc_rows.items():
                if row[col] is not None:
                    groups.setdefault(row[col], []).append(rid)
            by_val = {v: np.sort(np.array(ids)) for v, ids in groups.items()}
            index[col] = by_val
        found = by_val.get(val)
        return found if found is not None else np.empty(0)

    # -- derived state (lazy, pinned once) ---------------------------------

    @property
    def docs(self) -> DataFrame:
        """The current corpus as a Spark frame. With upserts pending it
        is an unpinned view — the pinned snapshot with the pending rows
        merged in (`_pending_frames`) — so reading it, `schema` and
        `columns` included, runs no Spark job and never folds; the
        engine's own Spark paths fold first (`_fold`)."""
        return self._pending_frames()[0] if self._pending else self._docs

    def _pending_frames(self) -> tuple:
        """(corpus view, live rows, tombstone ids) of the pending delta:
        the last-writer-wins rows and removed ids as driver-local
        relations, and `merge_upsert` of the live rows into the pinned
        snapshot minus the tombstones. Built without a Spark job once
        per pending state; `docs` and `_fold` share it."""
        from .sources.ingest import merge_upsert

        with self._fold_lock:
            if self._view is not None:
                return self._view
            names = self._schema.names
            live = local_df(self.spark, [
                tuple(r[c] for c in names)
                for r in self._pending.values() if r is not None],
                self._schema)
            gone = local_df(self.spark, [
                (i,) for i, r in self._pending.items() if r is None],
                StructType([self._schema[self.id_col]]))
            view = (merge_upsert(self._docs, live, key=self.id_col)
                    .join(F.broadcast(gone), self.id_col, "left_anti"))
            self._view = (view, live, gone)
            return self._view

    def _fold(self) -> None:
        """Fold the pending upserts into the Spark-side frames, once,
        before a Spark path reads them: the corpus view becomes the new
        pinned `docs` snapshot, the lexical index (once a Spark path has
        built it: a resident engine has none) takes one
        `bm25.refresh_index` over every pending live row and tombstone,
        and the embedding frame (likewise only once built: a resident
        engine builds its vectors in the driver and has none) one
        anti-join + union whose fresh vectors come from the resident
        matrix (which already holds them) or, with no vector tier
        resident, from `_doc_vectors`. An unbuilt index or embedding
        frame stays unbuilt here: the `index` and `emb` properties build
        it from the folded corpus on its first read. However many
        batches are pending, it is this one set of frames and pins, so
        the fold's job count does not grow with them.

        The new index pins are materialized here, so the superseded index,
        narrator-index and embedding pins are released at once
        (`_unpin`) instead of whenever the JVM next collects them. The
        superseded corpus snapshot is left to Spark's cleaner: callers
        hold frames read from `docs`, and those must stay readable."""
        with self._fold_lock:
            if not self._pending:
                return
            view, live, gone = self._pending_frames()
            rows = [r for r in self._pending.values() if r is not None]
            old_index, old_emb, old_nar = (self._index, self._emb,
                                           self._nar_index)
            self._docs = view.localCheckpoint()
            if old_index is not None:
                index = bm25.refresh_index(old_index, live, gone,
                                           text_col=self.text_col,
                                           id_col=self.id_col)
                index.scoring_view().count()  # materialize the lazy pins
                index.stats_literals()
                self._index = index
            if old_emb is not None:
                drop = live.select(self.id_col).unionByName(gone)
                self._emb = (old_emb
                             .join(F.broadcast(drop), self.id_col,
                                   "left_anti")
                             .unionByName(self._vectors_frame(rows))
                             .localCheckpoint())
            self._nar_index = None
            self._pending, self._view = {}, None
            _unpin(old_emb, *(f for idx in (old_index, old_nar)
                              if idx is not None for f in idx.frames()))

    def _vectors_frame(self, rows: list[dict]) -> DataFrame:
        """(id, embedding) of `rows` as a driver-local relation: their
        rows of the resident matrix when the vector tier is resident
        (every upsert's delta put them there), else built now by
        `_doc_vectors`."""
        ids = [r[self.id_col] for r in rows]
        if self._mat is not None:
            pos = dict(zip(self._ids.tolist(), range(len(self._ids))))
            mat = self._mat[[pos[i] for i in ids]]
        else:
            mat = self._doc_vectors(rows)
        return local_df(self.spark, list(zip(ids, mat)), StructType([
            self._schema[self.id_col],
            StructField("embedding", ArrayType(DoubleType()))]))

    @property
    def index(self) -> bm25.LexicalIndex:
        """The Spark BM25 index, built and pinned on first use (under the
        fold lock, so concurrent Spark-path calls build it once)."""
        with self._fold_lock:
            self._fold()
            if self._index is None:
                self._index = bm25.build_index(self.docs, self.text_col,
                                               self.id_col)
            return self._index

    @property
    def emb(self) -> DataFrame:
        """The Spark embedding frame (id, embedding): the supplied one,
        or the corpus embedded by the UDF, built and pinned on the first
        Spark-path read (after folding pending upserts), as the `index`
        property builds the BM25 index. `enable_interactive` does not
        build it: the resident vector tier comes from the driver's
        tokenization pass (`_doc_vectors`), with the same values."""
        self._fold()
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
        """Zero-row leg with the right id type for any corpus id column
        (from the pinned snapshot: no view build, no Spark job)."""
        return (self._docs.select(self.id_col).limit(0)
                .withColumn(score_col, F.lit(0.0)))

    def _narrator_index(self) -> bm25.LexicalIndex:
        """Lexical index over the NARRATOR field (the reference's separate
        FTS-indexed narrator column, fts.py schema) — built lazily and
        pinned once per engine; narrator vocabulary is names-sized, so
        this index is tiny next to the text index."""
        self._fold()
        if self._nar_index is None:
            self._nar_index = bm25.build_index(
                self.docs, text_col=self.narrator_col, id_col=self.id_col)
        return self._nar_index

    def _narrator_leg(self, toks: list[str], k: int,
                      allowed: DataFrame | None = None) -> DataFrame:
        """The narrator-intent lexical leg over `_narrator_tokens`: the
        reference routes narrator queries to a narrator-FIELD prefix-AND
        match (`narrator:t1* AND narrator:t2*`, router.py:93-99 consumed
        at tools.py:84-88) instead of scoring the document text.
        `allowed` restricts before the top-k cutoff, like
        `_spark_lex_leg`."""
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

    def _reference_key(self, query: str):
        """The id a reference-shaped query names (§1): the LAST number in
        the query — the batch exact leg's semantics (plans/routed.py) —
        as an int for an integral id column, as the digit string
        otherwise. None when it cannot resolve: a number past bigint
        matches nothing in an integral id column (and would overflow the
        literal under ANSI). The one resolver the Spark lookup and the
        resident loop share."""
        import re

        num = re.search(r"([0-9]+)[^0-9]*$", query).group(1)
        id_t = self._schema[self.id_col].dataType.simpleString()
        if id_t not in ("tinyint", "smallint", "int", "bigint"):
            return num
        return int(num) if len(num) <= 18 else None

    def _exact_reference_lookup(self, query: str, n_results: int,
                                filters: dict | None = None) -> DataFrame:
        """Point lookup for a reference-shaped query on the Spark path:
        the `_reference_key` row, ANDed with the metadata filters under
        Column `==`, as a 1-row hybrid result (score 1.0, zeroed signals,
        120-char preview). Unresolvable references (no such id; a
        non-integral id column that cannot carry the number; a number
        past bigint) return the EMPTY frame rather than falling back to
        fuzzy retrieval — the spec's single-exact-match contract
        (TEST_QUERIES.md:48-53); construct the engine with
        `exact_ref_fallback=True` to fall back to retrieval instead (the
        SHIPPED reference's behavior, which never dispatches this
        intent). Resident calls resolve the same lookup off the doc map
        (`_exact_local_rows`); this path pays one pushed-filter scan."""
        key = self._reference_key(query)
        matched = (F.col(self.id_col) == F.lit(key) if key is not None
                   else F.lit(False))
        for col, val in (filters or {}).items():
            matched = matched & (F.col(col) == F.lit(val))
        nar_lit = ([F.lit(0.0).alias("narrator_bonus")]
                   if self.narrator_col else [])
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
                        F.substring(F.col(self.text_col), 1, 120)
                        .alias("preview"))
                .limit(n_results))

    def _exact_local_rows(self, query: str, n_results: int,
                          allowed) -> list[tuple]:
        """Driver twin of `_exact_reference_lookup` over the resident doc
        map: the 0/1-row top list in `_score_local_py`'s row shape. A
        filtered lookup keeps the row only when its id is in `allowed`,
        the filter's sorted driver id array. It exists only under
        strict-type equality (`_fast_allowed_ids`), where Python `==` and
        Column `==` agree and NULL never matches, so this returns the
        Spark lookup's row; a coercible pair such as {"book": "1"}
        against an int column never gets here — it sends the whole call
        to the Spark lookup."""
        key = self._reference_key(query)
        row = self._doc_rows.get(key) if key is not None else None
        if row is None or n_results == 0 or (
                allowed is not None and key not in allowed):
            return []
        txt = row[self.text_col]
        prev = txt[:120] if txt is not None else None
        return [(key, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, prev)]

    def _checked_weights(self, n_results: int, scoring_mode: str,
                         fts_available: bool, vector_available: bool,
                         filters: dict | None,
                         weight_overrides: dict) -> fusion.Weights:
        """The argument checks both hybrid entry points make up front, on
        every tier: `n_results >= 0`, filter columns that exist in the
        corpus, and weight overrides naming real weights (`replace`
        raises TypeError otherwise). Returns the call's weights."""
        if int(n_results) < 0:
            raise ValueError(f"n_results must be >= 0, got {n_results}")
        if filters:
            bad = sorted(set(filters) - set(self._schema.names))
            if bad:
                raise ValueError(f"filter columns not in docs: {bad}")
        w = fusion.resolve_weights(scoring_mode, fts_available,
                                   vector_available)
        return replace(w, **weight_overrides) if weight_overrides else w

    def _narrator_tokens(self, intent, fts_available: bool):
        """The narrator-field leg's tokens, or None when the query takes
        the text leg. Narrator intent + a narrator field: the lexical leg
        is the reference's narrator-FIELD prefix-AND match, not text BM25
        (router.py:93-99 via tools.py:84-88). Empty narrator tokens fall
        back to the text leg (the reference's
        `if not toks: toks = intent.tokens`)."""
        if (intent.intent != INTENT_NARRATOR or self.narrator_col is None
                or not fts_available or not intent.narrator_query):
            return None
        return py_tokenize(intent.narrator_query)[:6] or None

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
        On an engine with the interactive tiers resident the call is a
        batch of one through `_resident_hybrid` — zero Spark jobs,
        filtered calls included; it takes the Spark path
        (`_spark_hybrid`) when a tier its query needs is not resident or
        a filter value's type only coerces to its column's.
        Returns (id, score, vec_signal, fts_sig, coverage, phrase_bonus,
        proximity_bonus, duplicates_filtered, preview)."""
        return self._frame(self._hybrid_out(
            [query], False, n_results, scoring_mode, fts_available,
            vector_available, synonym_groups, near_window, dedupe, filters,
            **weight_overrides))

    def _hybrid_out(self, queries: list[str], batched: bool,
                    n_results: int = 10, scoring_mode: str = "balanced",
                    fts_available: bool = True,
                    vector_available: bool = True,
                    synonym_groups: list[list[str]] | None = None,
                    near_window: int = 5, dedupe: bool = True,
                    filters: dict | None = None,
                    **weight_overrides: float):
        """The hybrid row renderer behind `hybrid_search` (one query,
        `batched` False) and `hybrid_search_batch`: (rows, schema) when
        `_resident_hybrid` serves every query, else the Spark-path frame
        — one query's, or the `query_idx`-tagged union of every query's
        on a batch."""
        from functools import reduce

        if not queries:
            raise ValueError("queries must be a non-empty list")
        w = self._checked_weights(n_results, scoring_mode, fts_available,
                                  vector_available, filters,
                                  weight_overrides)
        # Driver-side router twin: one serving call routes its strings in
        # Python, where a 1-row Spark job would cost ~400 ms of scheduler
        # overhead (route_one is equivalence-tested against the column
        # router).
        intents = [route_one(q) for q in queries]
        call = dict(n_results=n_results, w=w, fts_available=fts_available,
                    vector_available=vector_available,
                    synonym_groups=synonym_groups, near_window=near_window,
                    dedupe=dedupe)
        groups = self._resident_hybrid(queries, intents,
                                       self._fast_allowed_ids(filters),
                                       **call)
        if groups is not None:
            return self._hybrid_rows(groups, batched)
        frames = [self._spark_hybrid(q, it, filters, **call)
                  for q, it in zip(queries, intents)]
        if not batched:
            return frames[0]
        return reduce(lambda a, b: a.unionByName(b), [
            f.select(F.lit(i).cast("int").alias("query_idx"), "*")
            for i, f in enumerate(frames)])

    def _resident_hybrid(self, queries: list[str], intents: list,
                         allowed, n_results: int, w, fts_available: bool,
                         vector_available: bool,
                         synonym_groups: list[list[str]] | None,
                         near_window: int, dedupe: bool) -> list | None:
        """The one resident hybrid loop, for a single call (a batch of
        one) and a batch alike: ONE BLAS matmul scores every query's
        vector leg against the resident matrix, lexical legs gather from
        the resident impact arrays, narrator-intent queries from the
        resident narrator-field tier (`_narrator_tier`), exact references
        resolve off the doc map (`_exact_local_rows`), the filter's
        driver id array `allowed` (`_fast_allowed_ids`) restricts every leg
        BEFORE its cutoff, and `_score_local_py` scores. Returns
        [(query_idx, top rows, dropped)], one group per query.

        Returns None — the whole call takes the Spark path — unless every
        tier its queries use is resident: the vector matrix and the doc
        map always; the text lexical tier when a query takes the text leg
        (an exact reference does only on a miss under
        `exact_ref_fallback`); the narrator tier when a narrator-intent
        query is present (built lazily here, never for thematic calls).
        Also None for the `NotImplemented` filter degrade and for a
        candidate missing from the doc map. No call is partly resident.

        FP note: BLAS pairwise summation can differ from the JVM fold at
        ~1e-16, visible only if a product sits exactly on a 5e-7 rounding
        boundary (p ≈ 2e-10 per pair; equivalence with the Spark path is
        pinned by tests/test_api.py on the real corpus)."""
        import numpy as np

        if (self._mat is None or self._doc_rows is None
                or allowed is NotImplemented):
            return None
        nar_toks = [self._narrator_tokens(it, fts_available)
                    for it in intents]
        if fts_available:
            text_leg = [self.exact_ref_fallback if it.intent == INTENT_EXACT
                        else not toks for it, toks in zip(intents, nar_toks)]
            if self._lex is None and any(text_leg):
                return None
            if any(nar_toks) and self._narrator_tier() is None:
                return None
        k = max(OVERFETCH_FLOOR, 5 * n_results)
        ids, sims_all = self._ids, None
        if vector_available:
            qmat = np.stack([encode_query(it.normalized, self.dim)
                             for it in intents], axis=1)
            sims_all = _round6_arr(self._mat @ qmat)  # one matmul
            if allowed is not None:
                # restrict BEFORE the per-query top-k cutoff — the
                # semi-join placement of the Spark vector leg
                keep = np.isin(ids, allowed)
                ids, sims_all = ids[keep], sims_all[keep]
        groups = []
        for i, (query, it, toks) in enumerate(zip(queries, intents,
                                                  nar_toks)):
            if it.intent == INTENT_EXACT:
                rows = self._exact_local_rows(query, n_results, allowed)
                if rows or not self.exact_ref_fallback or n_results == 0:
                    groups.append((i, rows, 0))
                    continue
                # exact_ref_fallback: an unresolvable reference retrieves
            fused: dict = {}
            terms = sorted(set(py_tokenize(it.normalized)))
            if fts_available and terms:
                pairs = (self._narrator_topk_interactive(toks, k, allowed)
                         if toks
                         else self._lex_topk_interactive(terms, k, allowed))
                for rid, s in pairs:
                    fused[rid] = [s, 0.0]
            if sims_all is not None and len(ids):
                sims = sims_all[:, i]
                for j in topk_order(ids, sims, k):
                    fused.setdefault(ids[j].item(),
                                     [0.0, 0.0])[1] = float(sims[j])
            scored = self._score_local_py(
                sorted(fused.items()), terms, w, it.phrase, dedupe,
                n_results, synonym_groups=synonym_groups,
                near_window=near_window)
            if scored is None:
                return None
            groups.append((i, *scored))
        return groups

    def _spark_hybrid(self, query: str, intent, filters: dict | None,
                      n_results: int, w, fts_available: bool,
                      vector_available: bool,
                      synonym_groups: list[list[str]] | None,
                      near_window: int, dedupe: bool) -> DataFrame:
        """One hybrid query on the Spark path: both legs as Spark plans,
        `fusion.fuse`, then `_scored_column_tail`. Serves every call
        `_resident_hybrid` declines, per query."""
        self._fold()
        if intent.intent == INTENT_EXACT:
            # §1 dispatch: a reference-shaped query goes straight to point
            # lookup, never the retrieval legs (TEST_QUERIES.md:48-53
            # "Use FTS5 direct lookup, not vector search" — the shipped
            # reference computes this intent but nothing dispatches on
            # it). With `exact_ref_fallback` a MISS (empty lookup) falls
            # through to the retrieval legs below — the shipped
            # reference's behavior for unresolvable references; its
            # take(1) emptiness probe costs one tiny extra job.
            hit = self._exact_reference_lookup(query, n_results, filters)
            if not self.exact_ref_fallback or n_results == 0 or hit.take(1):
                return hit
        terms = sorted(set(py_tokenize(intent.normalized)))
        k = max(OVERFETCH_FLOOR, 5 * n_results)
        # Metadata filters restrict the SEARCH SPACE (each leg semi-joins
        # the allowed-id set before its top-k cutoff — the reference's
        # Chroma `where=` semantics; a post-cutoff filter would silently
        # lose matching docs that score below the global top-k).
        allowed = self._allowed_ids(filters)
        nar_toks = self._narrator_tokens(intent, fts_available)
        fts = (self._narrator_leg(nar_toks, k, allowed) if nar_toks
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
        Spark-path call (`_spark_hybrid`); resident calls score with its
        Python twin `_score_local_py`."""
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

        On a resident engine the whole batch runs through
        `_resident_hybrid` (one matmul for every vector leg) and its rows
        come back as ONE local relation — zero Spark jobs for the batch;
        the serving transports take the same rows with no frame at all
        (`tool_rows`). When that loop declines the call (a tier some
        query needs is not resident, a coercible filter type, a doc-map
        gap), every query takes the Spark path and the call returns
        their union — same rows, Spark-side cost."""
        return self._frame(self._hybrid_out(
            queries, True, n_results, scoring_mode, fts_available,
            vector_available, synonym_groups, near_window, dedupe, filters,
            **weight_overrides))

    def fts_match(self, terms: list[str] | None = None, prefix: str | None = None,
                  field: str | None = None, value: str | None = None,
                  k: int = 10) -> DataFrame:
        """Compiled match expression with FTS5-MATCH semantics
        (fts_cli.py:21-42): AND over `terms`, optional `pre*` prefix term
        (ANDed in), optional `field:value` scope (semi-join). Any
        combination; at least one of terms/prefix required."""
        return self._frame(self._fts_out(terms, prefix, field, value, k))

    def _fts_out(self, terms: list[str] | None, prefix: str | None,
                 field: str | None, value: str | None, k: int):
        """`fts_match`'s row renderer: (rows, schema) off the resident
        impact arrays, else the Spark-path frame."""
        if not terms and not prefix:
            raise ValueError("need terms and/or prefix")
        if k < 0:
            # Both tiers must fail identically: the Spark path's .limit(k)
            # raises on a negative k, while numpy's [:k] would silently
            # drop the TAIL |k| rows — a masked caller bug on one tier.
            raise ValueError(f"k must be >= 0, got {k}")
        if self._lex is not None and not (field and value is not None):
            # Interactive tier: both legs compute on the resident impact
            # arrays and the ranked hits return as plain rows — ZERO
            # Spark jobs. Field scope needs the docs metadata join and
            # stays on the Spark path.
            return self._hit_rows(self._fts_match_interactive(terms, prefix,
                                                              k),
                                  ("bm25", DoubleType()))
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
        Python-worker round-trip job; Spark runs only when the hybrid
        first stage takes the Spark path. Row-identity pinned by
        test_rerank_interactive_equals_spark."""
        return self._frame(self._rerank_out(query, n_results, first_stage_k,
                                            scoring_mode, backend, filters))

    def _rerank_out(self, query: str, n_results: int,
                    first_stage_k: int | None = None,
                    scoring_mode: str = "balanced", backend: str = "auto",
                    filters: dict | None = None):
        """`rerank_search`'s row renderer: with the doc map resident, the
        hybrid rows (collected first only when the hybrid stage took the
        Spark path) reranked on the driver as (rows, schema); else the
        Spark-path frame."""
        from .operators.reranker import pair_score

        if n_results < 0:
            # Tier parity: the batch path's .limit(n) raises on negative n
            # (INVALID_LIMIT_LIKE_EXPRESSION); a slice [:n] would silently
            # tail-truncate on the interactive tier instead.
            raise ValueError(f"n_results must be >= 0, got {n_results}")
        k = first_stage_k or max(OVERFETCH_FLOOR, 5 * n_results)
        # `filters` restricts the first-stage retrieval (hybrid_search's
        # Chroma where= semantics); the reranker only ever sees allowed
        # candidates.
        cands = self._hybrid_out([query], False, n_results=k,
                                 scoring_mode=scoring_mode, filters=filters)
        if self._doc_rows is not None:
            rows, schema = (cands if isinstance(cands, tuple) else
                            ([tuple(r) for r in cands.collect()],
                             cands.schema))
            schema = StructType(schema.fields
                                + [StructField("ce_score", DoubleType())])
            if not rows:
                return [], schema
            from .operators.reranker import get_pair_scorer
            scorer = get_pair_scorer(self.dim, backend)
            at = schema.names.index(self.id_col)
            texts = [(self._doc_rows.get(r[at]) or {})
                     .get(self.text_col) or "" for r in rows]
            ces = _round6_arr(scorer.score_batch([query] * len(rows), texts))
            ranked = sorted(zip(rows, ces.tolist()),
                            key=lambda t: (-t[1], t[0][at]))
            return [(*r, ce) for r, ce in ranked[:n_results]], schema
        cands = self._frame(cands)
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
        resident, mining + retrieval run on the driver arrays (zero Spark
        jobs). Returns (id, bm25, matched)."""
        return self._frame(self._mlt_out(doc_id, n_results, n_terms))

    def _mlt_out(self, doc_id, n_results: int, n_terms: int):
        """`more_like_this`'s row renderer: (rows, schema) off the
        resident forward arrays, else the Spark-path frame."""
        if self._fwd is not None:
            return self._hit_rows(
                self._mlt_interactive(doc_id, n_terms, n_results),
                ("bm25", DoubleType()), ("matched", IntegerType()))
        return (bm25.more_like_this(self.index, doc_id,
                                    n_terms=n_terms, k=n_results)
                .withColumnRenamed("doc_id", self.id_col)
                .orderBy(F.desc("bm25"), F.asc(self.id_col)))

    def upsert_documents(self, incoming: DataFrame,
                         removed_ids: DataFrame | None = None,
                         force: bool = False) -> dict:
        """The reference's incremental `upsert_documents` tool
        (/root/reference/mcp_server/apps/fts.py:118-181 and
        embeddings.py:121) across EVERY engine tier, at O(batch) cost.
        One collect reads `incoming` (corpus schema) and `removed_ids`
        together; each row is classified in Python against the resident
        doc map by the checksum rule of `sources.ingest.row_checksum`
        over (id, text) — for one id, text equality with NULL distinct
        from '': a new id inserts, a changed text updates, an unchanged
        re-arrival skips and writes NOTHING on any tier, like the
        reference's checksum short-circuit (`force` disables the skip).
        Removal wins over a same-batch update of an existing doc.

        The changed rows then update the resident tiers in place
        (`_apply_interactive_delta`, vectors encoded in the driver) and
        join the pending delta (`_pending`: id -> live row or tombstone,
        last writer wins) instead of rewriting `docs`, the embedding
        frame or the lexical indexes: the next Spark path to read those
        folds every pending batch in at once (`_fold`). So a resident
        upsert runs one Spark job, the read of the batch, and pins
        nothing. With no doc map resident, the upsert folds first and
        classifies with one batch-sized Spark lookup.

        A batch that grows the corpus past the interactive bounds
        RELEASES the interactive tiers (Spark paths take over;
        `interactive_enabled` tells you which side you're on) rather than
        serving a stale snapshot; a batch that shrinks it back under them
        re-enables. Returns reference-shaped counts {processed, inserted,
        updated, skipped, removed}; `processed` is the whole batch, and a
        removed doc counts only as removed."""
        with self._fold_lock:
            if self._doc_rows is None:
                self._fold()
            id_c, names = self.id_col, self._schema.names
            # SQL projections: one py4j call each, not several per column
            cast = "CAST(`{}` AS {}) AS `{}`".format
            read = incoming.selectExpr(
                *[cast(f.name, f.dataType.simpleString(), f.name)
                  for f in self._schema], "false AS _gone")
            if removed_ids is not None:
                read = read.unionByName(removed_ids.selectExpr(
                    cast(removed_ids.columns[0],
                         self._schema[id_c].dataType.simpleString(), id_c),
                    "true AS _gone"), allowMissingColumns=True)
            rows, gone = [], set()
            for r in read.collect():
                if r["_gone"]:
                    gone.add(r[id_c])
                else:
                    rows.append({c: r[c] for c in names})
            old = self._corpus_texts({r[id_c] for r in rows} | gone)
            removed = gone & old.keys()
            counts = {"inserted": 0, "updated": 0, "skipped": 0}
            changed: dict = {}
            for r in rows:
                i = r[id_c]
                if i in removed:
                    continue
                action = ("inserted" if i not in old
                          else "updated" if force or r[self.text_col] != old[i]
                          else "skipped")
                counts[action] += 1
                if action != "skipped":
                    changed[i] = r
            if changed or removed:
                self._pending.update(changed)
                self._pending.update(dict.fromkeys(removed))
                self._view = None
                # the narrator tier has no delta: rebuilt on its next use
                self._nar_tier = None
                if self._interactive_bounds is not None and not (
                        self.interactive_enabled
                        and self._apply_interactive_delta(
                            list(changed.values()), removed)):
                    # no tiers live, or the batch crossed a bound: the
                    # re-enable folds, then refuses and releases every
                    # tier, or re-enables a corpus back under the bounds
                    self.disable_interactive()
                    self.enable_interactive(*self._interactive_bounds)
            return {"processed": len(rows), **counts,
                    "removed": len(removed)}

    def _corpus_texts(self, ids: set) -> dict:
        """{id: text} of the `ids` present in the current corpus — from
        the resident doc map, else one batch-sized Spark lookup against
        the folded snapshot."""
        if self._doc_rows is not None:
            return {i: self._doc_rows[i][self.text_col]
                    for i in ids if i in self._doc_rows}
        probe = local_df(self.spark, [(i,) for i in ids],
                         StructType([self._schema[self.id_col]]))
        return {r[0]: r[1] for r in
                self._docs.join(F.broadcast(probe), self.id_col, "left_semi")
                .select(self.id_col, self.text_col).collect()}

    def get_document(self, doc_id) -> DataFrame:
        """Q7 point lookup with a head snippet. With the interactive doc
        map resident (enable_interactive; built only when every corpus
        column is an atomic SQL type), the row comes straight from it —
        zero Spark jobs, the reference's <5 ms in-process lookup
        reproduced as an explicit bounded tier."""
        return self._frame(self._document_out(doc_id))

    def _document_out(self, doc_id):
        """The point lookup's row renderer: (rows, schema) off the
        resident doc map — the corpus columns plus `preview`, NULL for a
        NULL text as the Spark path's snippet(NULL) is — else the
        Spark-path frame."""
        if self._doc_rows is not None:
            row = self._doc_rows.get(doc_id)
            schema = StructType(self._schema.fields
                                + [StructField("preview", StringType())])
            if row is None:
                return [], schema
            txt = row[self.text_col]
            return [tuple(row[n] for n in self._schema.names)
                    + (None if txt is None else txt[:120],)], schema
        self._fold()
        return (self.docs.filter(F.col(self.id_col) == doc_id)
                .select("*", snippet(F.col(self.text_col),
                                     F.lit("")).alias("preview")))

    def get_document_row(self, doc_id) -> dict | None:
        """The reference's in-process point lookup as an in-process call:
        the corpus row + head preview as a plain dict straight from the
        resident doc map — no DataFrame, no py4j round trip, no Spark
        job. The <5 ms target (HADITH_SEARCH_SPEC.md:553) is a statement
        about THIS shape (the reference returns a dict from a loaded
        corpus map); `get_document` keeps the composable DataFrame face.
        Serving transports prefer this path. Falls back to collecting the
        Spark path when the map tier is absent; None == no such doc.
        Value-identity with get_document is pinned by
        test_get_document_row_equals_frame."""
        out = self._document_out(doc_id)
        if isinstance(out, tuple):
            rows, schema = out
            return dict(zip(schema.names, rows[0])) if rows else None
        rows = out.collect()
        return rows[0].asDict() if rows else None

    def vector_index_status(self) -> DataFrame:
        """The reference's `vector_index_status` tool
        (/root/reference/mcp_server/tools.py:14-27): embedding-index
        metadata — vector count, dim, whether the index is built (pinned)
        yet. Counting a pinned frame never re-embeds. A resident vector
        tier answers from its own matrix with no Spark job (it holds the
        vectors the frame would, pending upserts included), as
        `fts_status` does for the lexical tier."""
        ddl = "n_vectors long, embedding_dim int, built boolean"
        if self._mat is not None:
            return local_df(self.spark, [
                (len(self._ids), self._mat.shape[1], True)], ddl)
        self._fold()
        built = self._emb is not None
        n_vectors = self._emb.count() if built else 0
        dim = self.dim
        if built:
            row = self._emb.select(F.size("embedding").alias("d")).first()
            if row is not None:
                dim = row.d
        return local_df(self.spark, [(n_vectors, dim, built)], ddl)

    def fts_status(self) -> DataFrame:
        """The reference's `fts_status` tool (tools.py:29-37): lexical-
        index metadata — doc count, distinct terms, postings rows,
        average doc length (0 on an empty index). A resident lexical tier
        answers from its own arrays with no Spark job (it holds the
        postings the index would, pending upserts included); otherwise
        the pinned index frames do, and `built` says whether the Spark
        index exists."""
        ddl = ("n_docs long, n_terms long, n_postings long, "
               "avgdl double, built boolean")
        if self._lex is not None:
            (n_docs, avgdl), fwd = self._lex_stats, self._fwd
            counts = (len(self._lex), len(fwd[0]))
        else:
            self._fold()
            idx = self._index
            if idx is None:
                return local_df(self.spark, [(0, 0, 0, 0.0, False)], ddl)
            n_docs, avgdl = idx.stats_literals()
            counts = (idx.term_df.count(), idx.postings.count())
        return local_df(self.spark, [(
            int(n_docs), *counts, round(avgdl, 4) if n_docs else 0.0,
            True)], ddl)

    def status(self) -> DataFrame:
        """Q8: corpus counts + embedding dim — cheap metadata like the
        reference's index_status: never triggers a corpus embedding pass.
        The dim comes from the supplied embeddings (one-row probe, guarded
        for an empty frame) or falls back to the configured encoder dim."""
        self._fold()
        n_docs = self.docs.count()
        dim = self.dim
        if self._emb is not None:
            row = self._emb.select(F.size("embedding").alias("d")).first()
            if row is not None:
                dim = row.d
        return local_df(
            self.spark, [(n_docs, dim, self.text_col, self.id_col)],
            "n_docs long, embedding_dim int, text_col string, id_col string")
