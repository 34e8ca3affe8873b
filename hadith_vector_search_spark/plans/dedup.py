"""Dedup-family queries over `documents` (LLM-pipeline operators) with
generated DuckDB oracles: exact/window dedup, substring span dedup,
MinHash signatures, MinHash+LSH near-dup detection, SimHash fingerprints.

Derived indexes: the span-dedup window index, the shingle frame, the
simhash fingerprints, the winnow selection and the minhash signatures are
DERIVED INDEX TABLES — on a cluster they are computed once per corpus
snapshot and persisted (parquet, bucketed by doc_id), then shared by every
dedup job over that corpus; the reference likewise queries prebuilt FTS /
vector indexes rather than re-tokenizing per query. Each `get_*_index`
getter reads the rows of one published frame store (`sources.frame_store`
`DERIVERS` row: one publish per corpus snapshot, reopened by every later
session) through one session-cache entry (`plans.pins`), which a rewrite
of `documents.parquet` invalidates like every other entry. The near-dup
pair set and its clusters are `pins.pinned` outputs. The DuckDB oracles
rebuild everything from raw text each run, so the stores are
correctness-checked on every gate pass."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..sources import load_table
from . import pin_audit
from .pins import cached, pinned


def get_published_frame_store(spark: SparkSession, sf_dir: str,
                              deriver: str, params: dict):
    """The published frame store HANDLE for this (deriver, params),
    ensured and opened once per session-cache entry (`plans.pins`)
    under the index root `lexical.publish_and_open` resolves: publish
    iff the manifest says the corpus or the derivation identity
    drifted, reopen the bytes otherwise, so a second session never
    repays the text pass. Store dirs are keyed by deriver+params so two
    widths never thrash one artifact. The entry's build records the
    pin-time plan `frame_<deriver>` of `frame_store.DERIVERS[deriver]`,
    the derivation publish runs, even when the store is a byte-for-byte
    reuse. The streaming maintenance twins fork this handle's dir
    (`commit.clone_store`); the getters read its rows."""
    from ..sources import frame_store
    from .lexical import publish_and_open

    def build():
        docs = load_table(spark, sf_dir, "documents")
        pin_audit.record(f"frame_{deriver}", sf_dir,
                         frame_store.DERIVERS[deriver](docs, params))
        ptok = "_".join(f"{k}{params[k]}" for k in sorted(params))
        return publish_and_open(
            sf_dir, f"_{deriver}_{ptok}",
            lambda d: frame_store.ensure_frame_store(
                spark, docs, os.path.join(sf_dir, "documents.parquet"),
                d, deriver, params)[0])

    return cached(spark, sf_dir, "documents",
                  ("frame", deriver, tuple(sorted(params.items()))), build)


def _frame_store_rows(spark: SparkSession, sf_dir: str, deriver: str,
                      params: dict) -> DataFrame:
    """The rows of the published doc-bucket-partitioned frame store
    (`sources.frame_store`) that every derived dedup frame is served
    from; every consumer's DuckDB oracle rebuilds the derivation from
    raw text each gate pass."""
    return get_published_frame_store(spark, sf_dir, deriver, params).rows


def get_shingle_index(spark: SparkSession, sf_dir: str,
                      w: int = dedup.SHINGLE_W) -> DataFrame:
    """Shingle index over `documents` — the (doc_id, shingles, gkey)
    frame every shingle-based dedup query shares, served from the
    published frame store (see `_frame_store_rows`)."""
    return _frame_store_rows(spark, sf_dir, "shingles", {"w": w})


def get_simhash_index(spark: SparkSession, sf_dir: str, n_bits: int) -> DataFrame:
    """Simhash fingerprint index over `documents` — (doc_id, fp) at the
    given width, served from the published frame store."""
    return _frame_store_rows(spark, sf_dir, "simhash", {"n_bits": n_bits})


def get_winnow_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing selection over `documents`: the DISTINCT (doc_id,
    n_windows, _sel) triple that both `winnowed_fingerprints` and
    `winnow_match_pairs` consume — the window-hash sha256 pass plus two
    per-doc window functions are by far the dominant cost of the
    winnowing family, so it is published once per corpus snapshot
    (`sources.frame_store`; the store persists POST-distinct rows, when
    winnowing has already discarded ~(g-1)/(g+1) of window rows). At
    lake scale this IS the persisted fingerprint index a MOSS-style
    service maintains incrementally — `write_frame_refresh` is that
    maintenance."""
    sel = _frame_store_rows(
        spark, sf_dir, "winnow",
        {"w": dedup.DUPSPAN_W, "guarantee": dedup.WINNOW_GUARANTEE})
    # Tag the selection with the constants it was built under so the
    # consumers can refuse a mismatched (w, guarantee) hand-off instead
    # of silently producing wrong pairs.
    sel._winnow_params = (dedup.DUPSPAN_W, dedup.WINNOW_GUARANTEE)
    return sel


PREVIEW_LEN = 40
N_HASHES = 8
BAND_SIZE = 2
JACCARD_THRESHOLD = 0.8
SIG_HASHES = 4       # for the standalone signature query
SIMHASH_BITS = 16


def get_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc minhash SIGNATURE index over `documents` — (doc_id,
    h0..h{N_HASHES-1}) served from the published frame store (round-11
    verdict item 7: the shingle frame was durable, the signature table
    on top was re-hashed per session). One store at the full width
    serves the narrower `minhash_signatures` query too — per-slice
    minimums are independent, so a column prefix IS the narrower
    signature."""
    return _frame_store_rows(spark, sf_dir, "minhash",
                             {"w": dedup.SHINGLE_W, "n_hashes": N_HASHES})


def dedup_exact_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized key (40-char preview): collision groups."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, F.substring(F.col("text"), 1, PREVIEW_LEN))


def dedup_window_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 window dedup: keep longest doc per preview key, count the dropped."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.window_dedup(
        docs, F.substring(F.col("text"), 1, PREVIEW_LEN),
        [F.desc("n_chars"), F.asc("doc_id")])


def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Served off the published signature store: the first SIG_HASHES
    # columns of the stored N_HASHES-wide signature ARE the SIG_HASHES
    # signature (per-slice minimums are independent); the oracle rebuilds
    # from raw text each gate pass, so the store path is hash-checked.
    sigs = get_minhash_index(spark, sf_dir)
    return sigs.select("doc_id", *[f"h{j}" for j in range(SIG_HASHES)])


def near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned like the indexes it reads from: the near-dup pair set is the
    derived table the cluster/removal steps consume, so it is built once
    per session (first consumer pays; the oracle rebuilds it from raw
    text each gate pass)."""
    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return dedup.near_dup_minhash(
            docs, n_hashes=N_HASHES, band_size=BAND_SIZE,
            threshold=JACCARD_THRESHOLD,
            sharr=get_shingle_index(spark, sf_dir),
            sigs=get_minhash_index(spark, sf_dir))

    return pinned(spark, sf_dir, "documents", "dedup_neardup_pairs", build)


# Deterministic stand-in for "the incoming ingest batch": docs whose id is
# ≡ INCR_REM (mod INCR_MOD) are the new arrivals, everything else is the
# already-indexed corpus.
INCR_MOD = 10
INCR_REM = 7


def near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup check: which docs of an INCOMING batch are
    near-duplicates of the EXISTING corpus — without ever re-banding the
    corpus against itself. New signatures band-join against the existing
    band index (`dedup.lsh_band_join`), then exact Jaccard verifies the
    candidates only. Cost scales with the batch and its bucket hits; the
    corpus-side work at deployment is a bucket-local probe of the
    persisted band-index table. This is the dedup half of the reference's
    checksum-driven incremental ingest (mcp_server/apps/ingestion.py's
    changed-docs flow) extended to NEAR-duplicate semantics."""
    sharr = get_shingle_index(spark, sf_dir)
    # both sides slice the PUBLISHED signature store (round-12: the
    # corpus side of the incremental check is exactly the persisted
    # band-index table a deployment probes — no per-session re-hash)
    sigs = get_minhash_index(spark, sf_dir)
    is_new = (F.col("doc_id") % INCR_MOD) == INCR_REM
    sigs_new = sigs.filter(is_new)
    sigs_old = sigs.filter(~is_new)
    cands = (dedup.lsh_band_join(sigs_new, sigs_old, N_HASHES, BAND_SIZE)
             .select(F.col("new_id").alias("id_a"),
                     F.col("old_id").alias("id_b")))
    return (dedup.jaccard_verify(cands, sharr, JACCARD_THRESHOLD)
            .select(F.col("id_a").alias("new_id"),
                    F.col("id_b").alias("old_id"), "jaccard"))


def near_dup_incremental_oracle() -> str:
    n_bands = N_HASHES // BAND_SIZE
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"h{b * BAND_SIZE} || '#' || h{b * BAND_SIZE + 1} AS band_key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {_sig_cols(N_HASHES)} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  WHERE a.doc_id % {INCR_MOD} = {INCR_REM}
    AND b.doc_id % {INCR_MOD} <> {INCR_REM}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.new_id, c.old_id, count(*) AS cnt
  FROM cands c
  JOIN sh x ON x.doc_id = c.new_id
  JOIN sh y ON y.doc_id = c.old_id AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.new_id, c.old_id,
       round(c.cnt::DOUBLE / (sa.n + sb.n - c.cnt), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.new_id = sa.doc_id
JOIN sizes sb ON c.old_id = sb.doc_id
WHERE round(c.cnt::DOUBLE / (sa.n + sb.n - c.cnt), 6) >= {JACCARD_THRESHOLD}
"""


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, n_bits=SIMHASH_BITS,
                         sigs=get_simhash_index(spark, sf_dir, SIMHASH_BITS))


def near_dup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless near-dup pairs via prefix-filtered n-gram Jaccard join."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=JACCARD_THRESHOLD,
                                     sharr=get_shingle_index(spark, sf_dir))


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph — the
    keep-one-per-cluster step after pair detection. Min-label propagation
    on the edge list (O(diameter) rounds); oracle = recursive-CTE
    transitive closure over the SAME pair SQL, so both the pair pipeline
    and the clustering are independently verified."""
    # the captured plan is the FINAL propagation round's (earlier rounds
    # materialize mid-iteration by design)
    return pinned(spark, sf_dir, "documents", "dedup_neardup_clusters",
                  lambda: dedup.connected_components(
                      near_dup_minhash(spark, sf_dir)))


def dedup_removal_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster materialized: the docs a cleaning pipeline
    DROPS — every near-dup cluster member except its representative (min
    id), with the rep it duplicates. `corpus MINUS removal_list` is the
    deduplicated training corpus; emitting the removal side keeps the
    query small and the decision auditable."""
    return (near_dup_clusters(spark, sf_dir)
            .filter(F.col("doc_id") != F.col("cluster_rep"))
            .select("doc_id", "cluster_rep"))


def get_window_index(spark: SparkSession, sf_dir: str,
                     w: int = dedup.DUPSPAN_W) -> DataFrame:
    """Positional token-window index over `documents` — the (doc_id,
    pos, _h1, _h2) frame the span-dedup queries share, served from the
    published frame store (see `_frame_store_rows`)."""
    return _frame_store_rows(spark, sf_dir, "windows", {"w": w})


def duplicated_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2022): maximal cross-document
    duplicated token spans — what a cleaning pipeline CUTS from documents
    that survive document-level dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans(
        docs, windows=get_window_index(spark, sf_dir))


def doc_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-window fraction — the document-level
    quality signal derived from the substring-dedup index (a doc that is
    90% shared boilerplate should score differently from one with a
    single quoted passage). Reads the pinned window index twice: one
    duplicate-key aggregate, one semi join, one per-doc rollup."""
    wins = get_window_index(spark, sf_dir)
    dup_keys = (wins.groupBy("_h1", "_h2")
                .agg(F.countDistinct("doc_id").alias("_nd"))
                .filter(F.col("_nd") >= 2).select("_h1", "_h2"))
    dup_counts = (wins.join(dup_keys, ["_h1", "_h2"], "left_semi")
                  .groupBy("doc_id")
                  .agg(F.count(F.lit(1)).alias("n_dup_windows")))
    totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    return (totals.join(dup_counts, "doc_id", "left")
            .select("doc_id", "n_windows",
                    F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
                    F.round(F.coalesce("n_dup_windows", F.lit(0))
                            / F.col("n_windows"), 6).alias("dup_fraction")))


TOP_NGRAMS_K = 20


def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the corpus's most document-frequent shingles
    (distinct per doc, so doc frequency not raw term frequency) — the
    candidate list for template/boilerplate strip rules. Reads the pinned
    shingle index; one explode + one map-side-combined count."""
    sharr = get_shingle_index(spark, sf_dir).select("doc_id", "shingles")
    return (sharr.select(F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .orderBy(F.desc("doc_freq"), F.asc("shingle"))
            .limit(TOP_NGRAMS_K))


PHRASE_TERMS = ["big", "order", "scan"]


def phrase_match_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE positional phrase match (FTS5 '"..."' adjacency semantics,
    upgrading the substring approximation SURVEY §4.2.1 sanctions for the
    hybrid scorer): tokens adjacent and in order, with exact occurrence
    counts and first token position."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.phrase_positions(docs, PHRASE_TERMS)


# --------------------------------------------------------------------------
# Oracles
# --------------------------------------------------------------------------

_SHINGLES_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, len(ts) - 1)) AS r(i)
  WHERE len(ts) >= 3
)
"""


def dedup_exact_preview_oracle() -> str:
    return f"""
SELECT substr(text, 1, {PREVIEW_LEN}) AS dup_key,
       min(doc_id) AS rep_id,
       count(*)    AS dup_count
FROM documents
GROUP BY 1
HAVING count(*) >= 2
"""


def dedup_window_preview_oracle() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY substr(text, 1, {PREVIEW_LEN})
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*)    OVER (PARTITION BY substr(text, 1, {PREVIEW_LEN})) AS grp_n
  FROM documents
)
SELECT doc_id, grp_n - 1 AS duplicates_filtered
FROM ranked WHERE rn = 1 AND grp_n >= 2
"""


def _sig_cols(n: int) -> str:
    # j-th hash = j-th disjoint 8-hex-char slice of one sha256 digest,
    # mirroring operators.dedup._hash_slices.
    return ", ".join(
        f"min(substr(sha256(shingle), {1 + 8 * j}, 8)) AS h{j}" for j in range(n))


def minhash_sigs_oracle() -> str:
    return f"""
WITH {_SHINGLES_CTE}
SELECT doc_id, {_sig_cols(SIG_HASHES)}
FROM sh GROUP BY doc_id
"""


def near_dup_minhash_oracle() -> str:
    n_bands = N_HASHES // BAND_SIZE
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"h{b * BAND_SIZE} || '#' || h{b * BAND_SIZE + 1} AS band_key FROM sigs"
        for b in range(n_bands)
    )
    return f"""
WITH {_SHINGLES_CTE},
sigs AS (SELECT doc_id, {_sig_cols(N_HASHES)} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS cnt
  FROM cands c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       round(c.cnt::DOUBLE / (sa.n + sb.n - c.cnt), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE round(c.cnt::DOUBLE / (sa.n + sb.n - c.cnt), 6) >= {JACCARD_THRESHOLD}
"""


def near_dup_ngram_jaccard_oracle() -> str:
    t = JACCARD_THRESHOLD
    return f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df ASC, s.shingle ASC) AS rn,
         z.n
  FROM sh s
  JOIN dfreq d USING (shingle)
  JOIN sizes z USING (doc_id)
),
prefix AS (
  SELECT doc_id, shingle FROM ranked WHERE rn <= n - ceil({t} * n) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a
  JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS cnt
  FROM cands c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.id_a, c.id_b,
       round(c.cnt::DOUBLE / (sa.n + sb.n - c.cnt), 6) AS jaccard
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE round(c.cnt::DOUBLE / (sa.n + sb.n - c.cnt), 6) >= {t}
"""


def near_dup_clusters_oracle() -> str:
    """Transitive closure via recursive CTE over the same pair SQL the
    near_dup_minhash oracle uses — an INDEPENDENT clustering formulation
    (closure + group-min) vs Spark's iterative label propagation."""
    return f"""
WITH RECURSIVE pairs AS ({near_dup_minhash_oracle()}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lbl AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_rep FROM reach GROUP BY u
)
SELECT doc_id, cluster_rep,
       count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
FROM lbl
"""


def dedup_removal_list_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({near_dup_minhash_oracle()}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lbl AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_rep FROM reach GROUP BY u
)
SELECT doc_id, cluster_rep FROM lbl WHERE doc_id <> cluster_rep
"""


def phrase_match_positional_oracle() -> str:
    phrase = " ".join(PHRASE_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
sh AS (
  SELECT doc_id, i - 1 AS pos, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, len(ts) - 1)) AS r(i)
  WHERE len(ts) >= 3
)
SELECT doc_id, count(*) AS n_occurrences, min(pos) AS first_pos
FROM sh
WHERE shingle = '{phrase}'
GROUP BY doc_id
"""


def duplicated_span_report_oracle() -> str:
    """Replays windowing + cross-doc duplication + island merge from raw
    text. DuckDB groups on the window STRING itself; Spark groups on a
    96-bit hash pair — a collision on BOTH digests would diverge the gate
    (bound ~N^2/2^97; see `_set_gkey` for the posture)."""
    w = dedup.DUPSPAN_W
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
win AS (
  SELECT doc_id, i AS pos,
         list_aggregate(ts[i:i+{w}-1], 'string_agg', ' ') AS wstr
  FROM toks, unnest(range(1, len(ts) - {w} + 2)) AS r(i)
  WHERE len(ts) >= {w}
),
dup AS (
  SELECT wstr FROM win GROUP BY wstr HAVING count(DISTINCT doc_id) >= 2
),
marked AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (wstr)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos = lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 1
              THEN 0 ELSE 1 END AS b
  FROM marked
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
  FROM brk
)
SELECT doc_id, min(pos) AS span_start,
       max(pos) - min(pos) + {w} AS span_len,
       count(*) AS n_windows
FROM isl GROUP BY doc_id, gid
"""


def doc_dup_fraction_oracle() -> str:
    w = dedup.DUPSPAN_W
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
win AS (
  SELECT doc_id, i AS pos,
         list_aggregate(ts[i:i+{w}-1], 'string_agg', ' ') AS wstr
  FROM toks, unnest(range(1, len(ts) - {w} + 2)) AS r(i)
  WHERE len(ts) >= {w}
),
dup AS (
  SELECT wstr FROM win GROUP BY wstr HAVING count(DISTINCT doc_id) >= 2
),
dc AS (
  SELECT w.doc_id, count(*) AS n_dup_windows
  FROM win w JOIN dup USING (wstr) GROUP BY w.doc_id
),
tot AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY doc_id)
SELECT t.doc_id, t.n_windows,
       coalesce(dc.n_dup_windows, 0) AS n_dup_windows,
       round(coalesce(dc.n_dup_windows, 0) / CAST(t.n_windows AS DOUBLE), 6)
         AS dup_fraction
FROM tot t LEFT JOIN dc ON t.doc_id = dc.doc_id
"""


def boilerplate_ngrams_oracle() -> str:
    return f"""
WITH {_SHINGLES_CTE}
SELECT shingle, count(*) AS doc_freq
FROM sh
GROUP BY shingle
ORDER BY doc_freq DESC, shingle ASC
LIMIT {TOP_NGRAMS_K}
"""


def simhash_oracle(n_bits: int = SIMHASH_BITS,
                   source: str = "documents") -> str:
    """`source` lets replays run over a derived corpus CTE (the
    streaming-refresh oracle merges the change feed first)."""
    sums = ", ".join(
        f"sum(CASE WHEN substr(dg, {i + 1}, 1) < '8' "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits))
    bits = " || ".join(
        f"(CASE WHEN b{i} >= 0 THEN '1' ELSE '0' END)" for i in range(n_bits))
    return f"""
WITH tok_rows AS (
  SELECT doc_id, sha256(unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
           x -> length(x) >= 2))) AS dg
  FROM {source}
),
sums AS (SELECT doc_id, {sums} FROM tok_rows GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash FROM sums
"""


SIMHASH_BLOCKS = 6
SIMHASH_COMBO = 3
SIMHASH_MAX_HAMMING = 3
# The near-dup query uses a WIDER fingerprint than the 16-bit preview
# query — the classic web-dedup setting (64-bit simhash, hamming <= 3,
# Manku-Jain-Sarma WWW'07). Narrow fingerprints collapse on a
# small-vocabulary corpus: simhash bits are sign-sums over shared frequent
# tokens, so they correlate strongly across documents; simple 16-bit bands
# put 13% of the sf0.1 corpus in ONE bucket (556k candidate rows). The
# 3-of-6 block-combination keys (~32 bits each, C(6,3)=20 tables) keep
# banding lossless for hamming <= 3 while bounding bucket sizes.
SIMHASH_NEARDUP_BITS = 64


def near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: exact-fingerprint collapse, then LOSSLESS
    block-combination banding (hamming <= n_blocks - combo_size) + exact
    XOR/popcount verify on candidates only."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.near_dup_simhash(
        docs, n_bits=SIMHASH_NEARDUP_BITS, n_blocks=SIMHASH_BLOCKS,
        combo_size=SIMHASH_COMBO, max_hamming=SIMHASH_MAX_HAMMING,
        sigs=get_simhash_index(spark, sf_dir, SIMHASH_NEARDUP_BITS))


BOILER_COPIES = 150
BOILER_ID_BASE = 9_000_000
BOILER_TEXT = (
    "subscribe to our newsletter for updates terms of service privacy "
    "policy all rights reserved copyright contact us about careers press "
    "blog help center community guidelines cookie settings sitemap "
    "accessibility feedback support")


def near_dup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADVERSARIAL-FIXTURE near-dup: the corpus is `documents` plus
    BOILER_COPIES exact copies of one boilerplate page — the classic
    web-dedup hot-bucket case (every copy lands in every one of its band
    buckets). Exact-fingerprint collapse means the banding self-join sees
    the whole boilerplate cluster as ONE row per bucket; the C(copies, 2)
    duplicate pairs appear only in the output expansion, never as
    intermediate band-join state. Oracle: independent brute-force hamming
    over the same synthesized corpus."""
    docs = load_table(spark, sf_dir, "documents")
    boiler = (spark.range(BOILER_COPIES)
              .select((F.col("id") + BOILER_ID_BASE).alias("doc_id"),
                      F.lit(BOILER_TEXT).alias("text")))
    corpus = docs.select("doc_id", "text").unionByName(boiler)
    # simhash_long is per-doc, so fingerprints(docs ∪ boiler) =
    # fingerprints(docs) ∪ fingerprints(boiler): the corpus index is
    # reused and only the 150 synthesized rows are fingerprinted fresh
    # (pinned — the frame feeds the group agg and both member joins).
    sigs = (get_simhash_index(spark, sf_dir, SIMHASH_NEARDUP_BITS)
            .unionByName(dedup.simhash_long(boiler, n_bits=SIMHASH_NEARDUP_BITS)
                         .localCheckpoint(eager=False)))
    return dedup.near_dup_simhash(
        corpus, n_bits=SIMHASH_NEARDUP_BITS, n_blocks=SIMHASH_BLOCKS,
        combo_size=SIMHASH_COMBO, max_hamming=SIMHASH_MAX_HAMMING, sigs=sigs)


def near_dup_boilerplate_oracle() -> str:
    """Brute-force hamming over documents ∪ synthesized boilerplate rows
    (DuckDB range() builds the identical copies)."""
    n_bits = SIMHASH_NEARDUP_BITS
    sums = ", ".join(
        f"sum(CASE WHEN substr(dg, {i + 1}, 1) < '8' "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits))
    bits = " || ".join(
        f"(CASE WHEN b{i} >= 0 THEN '1' ELSE '0' END)" for i in range(n_bits))
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT i + {BOILER_ID_BASE} AS doc_id, '{BOILER_TEXT}' AS text
  FROM range({BOILER_COPIES}) t(i)
),
tok_rows AS (
  SELECT doc_id, sha256(unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
           x -> length(x) >= 2))) AS dg
  FROM corpus
),
sums AS (SELECT doc_id, {sums} FROM tok_rows GROUP BY doc_id),
sims AS (SELECT doc_id, {bits} AS simhash FROM sums)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST(hamming(x.simhash, y.simhash) AS INT) AS hamming_dist
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE hamming(x.simhash, y.simhash) <= {SIMHASH_MAX_HAMMING}
"""


def near_dup_simhash_oracle() -> str:
    """INDEPENDENT oracle: brute-force all-pairs hamming with DuckDB's
    builtin hamming() — it does NOT replay the pigeonhole banding, so a
    banding bug shared between operator and oracle is impossible (the
    banding being lossless for max_hamming <= bands-1 makes the brute
    answer the exact expected output)."""
    n_bits = SIMHASH_NEARDUP_BITS
    return f"""
WITH sims AS ({simhash_oracle(n_bits).strip()})
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST(hamming(x.simhash, y.simhash) AS INT) AS hamming_dist
FROM sims x JOIN sims y ON x.doc_id < y.doc_id
WHERE hamming(x.simhash, y.simhash) <= {SIMHASH_MAX_HAMMING}
"""


def winnowed_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection over the corpus (MOSS;
    see operators/dedup.winnowed_fingerprints). Consumes the shared
    pinned selection — one sha256/window pass per (session, sf_dir)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnowed_fingerprints(
        docs, selected=get_winnow_selection(spark, sf_dir))


def winnowed_fingerprints_oracle() -> str:
    w, g = dedup.DUPSPAN_W, dedup.WINNOW_GUARANTEE
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
win AS (
  SELECT doc_id, i - 1 AS pos,
         sha256(list_aggregate(ts[i:i+{w}-1], 'string_agg', ' '))
           || '#' || lpad(CAST(i - 1 AS VARCHAR), 8, '0') AS enc
  FROM toks, unnest(range(1, len(ts) - {w} + 2)) AS r(i)
  WHERE len(ts) >= {w}
),
n AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY doc_id),
sel AS (
  SELECT w.doc_id, w.pos,
         min(w.enc) OVER (PARTITION BY w.doc_id ORDER BY w.pos
                          ROWS BETWEEN CURRENT ROW AND {g - 1} FOLLOWING)
           AS s
  FROM win w
),
fp AS (
  SELECT DISTINCT sel.doc_id, sel.s
  FROM sel JOIN n USING (doc_id)
  WHERE sel.pos <= n.n_windows - {g}
)
SELECT fp.doc_id, CAST(n.n_windows AS BIGINT) AS n_windows,
       count(*) AS n_fingerprints,
       sha256(string_agg(fp.s, ',' ORDER BY fp.s)) AS fp_digest
FROM fp JOIN n USING (doc_id)
GROUP BY fp.doc_id, n.n_windows
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup overlap matrix: how many near-dup pairs link
    each (unordered) source pair — the provenance view that tells a
    pipeline WHICH feeds copy from each other (mirror detection, scrape
    overlap) before deciding what to drop. Reads the pinned near-dup pair
    table; the doc->source map broadcasts."""
    pairs = near_dup_minhash(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = docs.select(F.col("doc_id").alias("id_a"),
                    F.col("source").alias("src_a"))
    b = docs.select(F.col("doc_id").alias("id_b"),
                    F.col("source").alias("src_b"))
    return (pairs.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b")
            .groupBy(F.least("src_a", "src_b").alias("source_a"),
                     F.greatest("src_a", "src_b").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def source_overlap_matrix_oracle() -> str:
    return f"""
WITH pairs AS ({near_dup_minhash_oracle()}),
lab AS (
  SELECT p.id_a, p.id_b, da.source AS src_a, db.source AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
)
SELECT least(src_a, src_b) AS source_a,
       greatest(src_a, src_b) AS source_b,
       count(*) AS n_pairs
FROM lab GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# containment (quote/excerpt) join
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.9
CONTAIN_MIN_SIZE = 5


def near_dup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment join over the shared shingle index: docs
    whose shingle set is >= 90% contained in another doc's — the
    quote/excerpt detector Jaccard-based near-dup structurally misses
    (a short doc inside a long one has high containment but low
    Jaccard)."""
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=CONTAIN_THRESHOLD, min_size=CONTAIN_MIN_SIZE,
        sharr=get_shingle_index(spark, sf_dir))


def near_dup_containment_oracle() -> str:
    t = CONTAIN_THRESHOLD
    return f"""
WITH {_SHINGLES_CTE},
sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
  HAVING count(*) >= {CONTAIN_MIN_SIZE}
),
shf AS (SELECT s.doc_id, s.shingle FROM sh s JOIN sizes USING (doc_id)),
dfreq AS (SELECT shingle, count(*) AS df FROM shf GROUP BY 1),
ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df ASC, s.shingle ASC) AS rn,
         z.n
  FROM shf s JOIN dfreq d USING (shingle) JOIN sizes z USING (doc_id)
),
prefix AS (
  SELECT doc_id, shingle FROM ranked
  WHERE rn <= n - ceil({t} * n - 1e-9) + 1
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a
  JOIN shf b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS cnt
  FROM cands c
  JOIN shf x ON x.doc_id = c.id_a
  JOIN shf y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT c.id_a AS contained_id, c.id_b AS container_id,
       round(c.cnt::DOUBLE / sa.n, 6) AS containment
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
WHERE round(c.cnt::DOUBLE / sa.n, 6) >= {t}
"""


WINNOW_MIN_SHARED = 2
# MOSS's over-common-fingerprint rule: fps shared by more documents than
# this are corpus boilerplate — each would emit C(df, 2) join rows.
# Lossless on the test corpus (measured max df = 4 at sf0.1); the oracle
# replays the same cap so correctness holds on ANY corpus.
WINNOW_MAX_FP_DF = 50


def winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS matching: document pairs ranked by shared winnowed
    fingerprints (operators/dedup.winnow_match_pairs), over the shared
    pinned selection, with over-common fingerprints dropped before the
    self-join (`WINNOW_MAX_FP_DF`)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_match_pairs(
        docs, min_shared=WINNOW_MIN_SHARED, max_df=WINNOW_MAX_FP_DF,
        selected=get_winnow_selection(spark, sf_dir))


def winnow_match_pairs_oracle() -> str:
    w, g = dedup.DUPSPAN_W, dedup.WINNOW_GUARANTEE
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
win AS (
  SELECT doc_id, i - 1 AS pos,
         sha256(list_aggregate(ts[i:i+{w}-1], 'string_agg', ' '))
           || '#' || lpad(CAST(i - 1 AS VARCHAR), 8, '0') AS enc
  FROM toks, unnest(range(1, len(ts) - {w} + 2)) AS r(i)
  WHERE len(ts) >= {w}
),
n AS (SELECT doc_id, count(*) AS n_windows FROM win GROUP BY doc_id),
sel AS (
  SELECT w.doc_id, w.pos,
         min(w.enc) OVER (PARTITION BY w.doc_id ORDER BY w.pos
                          ROWS BETWEEN CURRENT ROW AND {g - 1} FOLLOWING)
           AS s
  FROM win w
),
fp AS (
  SELECT DISTINCT sel.doc_id, substr(sel.s, 1, 64) AS fp
  FROM sel JOIN n USING (doc_id)
  WHERE sel.pos <= n.n_windows - {g}
),
dfreq AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
fpk AS (
  SELECT f.doc_id, f.fp FROM fp f
  JOIN dfreq d USING (fp) WHERE d.df <= {WINNOW_MAX_FP_DF}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""
