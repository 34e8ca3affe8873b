"""Deduplication operators for large-scale training-data pipelines.

Generalizes the reference's result-dedup D1
(/root/reference/quran_mcp/search.py:262-278) into the full dedup family a
100 TB corpus needs: exact (hash groupBy), window-dedup (keep best per key),
MinHash+LSH near-dup, SimHash, and n-gram Jaccard verification.

Design notes:
- All hashing derives from ONE sha256 hex digest per shingle/token: the
  j-th hash function is the j-th disjoint 8-hex-char slice of the digest
  (the standard way to get k independent-ish 32-bit hashes from one strong
  hash), and a "minimum hash" is the lexicographic min of those slices —
  deterministic, engine-portable (the DuckDB oracles produce identical
  strings), and a valid min-wise family. One digest instead of k seeded
  digests is an 8-16x hashing saving measured at sf0.1. Production would
  swap in xxhash64; semantics identical.
- MinHash+LSH is the scale path: candidates come from band-bucket
  self-joins (shuffle on band key, each bucket small), and only candidates
  pay the exact-Jaccard verification join. Brute-force all-pairs exists
  only as the within-group verifier.
- SimHash bits use independent per-bit seeded hashes; near-dup docs agree
  on most bits (hamming distance), giving a fingerprint sortable into
  buckets — the classic Charikar scheme expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokenize

SHINGLE_W = 3


def shingle_array(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  w: int = SHINGLE_W) -> DataFrame:
    """Per-doc DISTINCT w-word shingle set as an array column:
    (doc_id, shingles array<string>). Fully narrow — no explode, no shuffle.

    Construction detail that matters: shingles are built by zipping the
    token array with its own shifted slices, so every higher-order-function
    lambda body touches ONLY lambda variables. Referencing an outer
    expression (e.g. `element_at(tokens_expr, i)`) inside a lambda makes
    interpreted HOF evaluation re-evaluate that expression per element —
    Spark's runtime subexpression elimination skips lambda-containing trees
    — which turns an O(tokens) projection into O(tokens * regex-split).
    Measured 30x slowdown at sf0.1 before this formulation."""
    toks_df = docs.select(F.col(id_col).alias("doc_id"),
                          tokenize(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    # sh[i] accumulates "t[i] t[i+1] ... t[i+j]"; zip_with pads the shorter
    # (shifted) side with null and concat_ws skips nulls, so tail entries
    # hold partial shingles — the final slice drops them.
    sh = t
    for j in range(1, w):
        shifted = F.slice(t, j + 1, F.size(t))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    n_full = F.greatest(F.size(t) - (w - 1), F.lit(0))
    arr = F.array_distinct(F.slice(sh, 1, n_full))
    # Explode-of-singleton barrier: materialize the shingle array as a real
    # attribute. Without it, a downstream explode collapses the whole
    # construction into its Generate node and re-evaluates it per output
    # row (measured 2.1s vs 0.06s at sf0.1 for the exploded view).
    return toks_df.select("doc_id", F.explode(F.array(arr)).alias("shingles"))


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             w: int = SHINGLE_W) -> DataFrame:
    """Distinct w-word shingles per doc, exploded: (doc_id, shingle).
    Row-per-shingle view of `shingle_array` for operators that need the
    postings shape; distinctness is guaranteed per-doc by the array form,
    so no global distinct() shuffle is needed."""
    return (shingle_array(docs, text_col, id_col, w)
            .select("doc_id", F.explode("shingles").alias("shingle")))


def minhash_signatures(sharr: DataFrame, n_hashes: int = 8) -> DataFrame:
    """One row per doc with a non-empty shingle set: h0..h{n-1} minhash
    columns (lexicographic min of the j-th digest slice over the doc's
    shingle array). Fully narrow — no shuffle.

    Shape: explode → one sha256 per shingle → hash-aggregate with n `min`
    aggregates over digest slices. Everything stays in whole-stage codegen
    (an earlier array-fold formulation ran ~3x slower: higher-order
    functions are interpreted per element, and Spark's subexpression
    elimination skips lambda trees so per-slice work got re-evaluated).
    The groupBy shuffle is map-side combined — post-shuffle volume is one
    row per (doc, partition), not per shingle. Docs with zero shingles
    vanish at the explode, preserving the 'non-empty sets only' contract."""
    assert n_hashes <= 8, "a 64-hex sha256 digest yields at most 8 32-bit slices"
    hashed = (sharr.select("doc_id", F.explode("shingles").alias("_s"))
              .select("doc_id", F.sha2(F.col("_s"), 256).alias("_dg")))
    return hashed.groupBy("doc_id").agg(
        *[F.min(F.substring(F.col("_dg"), 1 + 8 * j, 8)).alias(f"h{j}")
          for j in range(n_hashes)])


def band_explode(sigs: DataFrame, n_hashes: int = 8,
                 band_size: int = 2) -> DataFrame:
    """One row per (doc, LSH band): contiguous signature slices become
    (band_id, band_key) join keys. Narrow (array literal + explode); the
    shared building block of the self-join (`lsh_band_pairs`) and the
    incremental cross-set join (`lsh_band_join`)."""
    n_bands = n_hashes // band_size
    bands = F.array(*[
        F.struct(F.lit(b).alias("band_id"),
                 F.concat_ws("#", *[F.col(f"h{b * band_size + j}")
                                    for j in range(band_size)]).alias("band_key"))
        for b in range(n_bands)
    ])
    return (sigs.select("doc_id", F.explode(bands).alias("band"))
            .select("doc_id", "band.band_id", "band.band_key"))


def lsh_band_join(sigs_new: DataFrame, sigs_old: DataFrame,
                  n_hashes: int = 8, band_size: int = 2,
                  max_bucket: int | None = None) -> DataFrame:
    """Incremental-ingest candidate generation: which NEW docs collide with
    which EXISTING docs in at least one LSH band. The join is new-bands ×
    old-bands on (band_id, band_key) — cost scales with the incoming batch
    and its bucket hits, never existing × existing (at deployment the old
    side is the persisted band index table, bucketed by band_key, so the
    probe is bucket-local). Output: distinct (new_id, old_id).

    `max_bucket` is the same emergency valve as `lsh_band_pairs`': an
    EXISTING-side band bucket larger than the cap stops yielding
    candidates (bounded ingest cost under a corpus-side boilerplate
    flood, explicit recall loss). None — the default on every
    oracle-checked path — keeps standard LSH recall."""
    a = (band_explode(sigs_new, n_hashes, band_size)
         .select(F.col("doc_id").alias("new_id"), "band_id", "band_key"))
    b = (band_explode(sigs_old, n_hashes, band_size)
         .select(F.col("doc_id").alias("old_id"), "band_id", "band_key"))
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        b = (b.withColumn("_bn", F.count(F.lit(1)).over(w))
             .filter(F.col("_bn") <= max_bucket).drop("_bn"))
    return (a.join(b, ["band_id", "band_key"])
            .select("new_id", "old_id")
            .distinct())


def lsh_band_pairs(sigs: DataFrame, n_hashes: int = 8, band_size: int = 2,
                   max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs sharing at least one LSH band. Bands are contiguous
    signature slices; the self-join shuffles on (band_id, band_key) so each
    bucket joins locally. Output: distinct (id_a, id_b), id_a < id_b.

    `max_bucket` is the same emergency valve as `near_dup_simhash`'s:
    band buckets above the cap stop generating candidates (bounded work,
    explicit recall loss). With the exact-set collapse in
    `near_dup_minhash`, buckets count DISTINCT shingle sets, so the cap
    only ever bites on genuinely diverse near-miss floods. None (the
    default, used on every oracle-checked path) keeps standard LSH
    recall."""
    exploded = band_explode(sigs, n_hashes, band_size)
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        exploded = (exploded.withColumn("_bn", F.count(F.lit(1)).over(w))
                    .filter(F.col("_bn") <= max_bucket).drop("_bn"))
    a = exploded.select(F.col("doc_id").alias("id_a"), "band_id", "band_key")
    b = exploded.select(F.col("doc_id").alias("id_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, sharr: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over per-doc shingle arrays for candidate pairs ONLY.
    The shingle table is first semi-joined down to docs that appear in some
    candidate pair — verification cost scales with the candidate count, not
    the corpus — then two equi-joins pull both docs' (distinct) arrays onto
    the pair row and `array_intersect` computes |A∩B| narrowly (no shingle
    explode, no equijoin on wide shingle strings). The candidate-restricted
    side is small by LSH/prefix construction, so AQE converts both joins to
    broadcasts; if a pathological corpus made it large, the same plan
    degrades gracefully to a shuffle join. Output: (id_a, id_b, jaccard)
    above threshold.

    The candidate frame is referenced five times in this plan (the final
    join plus both semi-join sides' id union), and Spark recomputes common
    subplans unless an exchange happens to be reused — so `pairs` is pinned
    with a lazy localCheckpoint: the (band-join) candidate generation runs
    once, and every reference reads the materialized blocks."""
    pairs = pairs.localCheckpoint(eager=False)
    ids = (pairs.select(F.col("id_a").alias("doc_id"))
           .union(pairs.select(F.col("id_b").alias("doc_id"))).distinct())
    cand_sharr = sharr.join(ids, "doc_id", "left_semi")
    sa = cand_sharr.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = cand_sharr.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                F.round(inter.cast("double") / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _set_gkey(arr: Column) -> Column:
    """128-bit identity key for a shingle/element SET: two independent-ish
    xxhash64 digests of the sorted array (the second mixes a distinct
    constant into the hash state first). A single 64-bit key has a birthday
    collision bound of ~N^2/2^65 — material at the documented
    billions-of-docs posture, where a silent collision would merge two
    distinct documents into one collapse group (false jaccard=1.0 pairs).
    Pairing two 64-bit digests pushes the bound to ~N^2/2^129: negligible
    at any corpus size this engine targets. Exactness would require
    grouping on the sorted array itself; the struct key keeps shuffle keys
    fixed-width."""
    sorted_arr = F.array_sort(arr)
    return F.struct(F.xxhash64(sorted_arr).alias("h1"),
                    F.xxhash64(F.lit(7), sorted_arr).alias("h2"))


def _collapsed_shingles(docs: DataFrame, text_col: str, id_col: str,
                        w: int = SHINGLE_W) -> DataFrame:
    """Exact-set collapse for shingle-based near-dup, fused into ONE pass:
    docs with identical shingle sets are interchangeable under Jaccard, so
    banding and verification run over one REPRESENTATIVE per set and member
    pairs are restored afterward. A corpus with K copies of one boilerplate
    page contributes ONE row to every band bucket instead of K — the
    classic web-dedup bucket blowup can't happen from duplicate
    multiplicity.

    Cost shape (this replaced a groupBy + semi-join + two extra
    checkpoints that made collapse a fixed ~1.5x tax on every run, round-4
    regression): the shingle pass runs once (fully narrow — the group key
    rides along as a column, no shuffle at all) and is pinned with ONE
    eager localCheckpoint. Whether any collapse work is needed at all is
    decided afterward by `_dup_groups`, which probes the checkpointed
    frame with a gkey-only aggregate — shingle arrays never shuffle for
    collapse bookkeeping. On a cluster this frame is the derived
    shingle-index table you would persist anyway (parquet, bucketed by
    doc_id); the checkpoint is the single-job equivalent.

    Returns (doc_id, shingles, gkey) for docs with non-empty shingle
    sets."""
    return _collapsed_shingles_lazy(docs, text_col, id_col,
                                    w).localCheckpoint()


def _collapsed_shingles_lazy(docs: DataFrame, text_col: str, id_col: str,
                             w: int = SHINGLE_W) -> DataFrame:
    """The un-checkpointed build plan of `_collapsed_shingles` — split out
    so pin sites can capture the plan that actually runs at pin time
    (plans.pin_audit) before the checkpoint hides it."""
    return (shingle_array(docs, text_col, id_col, w)
            .filter(F.size("shingles") > 0)
            .withColumn("gkey", _set_gkey(F.col("shingles"))))


def _dup_groups(per_doc: DataFrame) -> DataFrame | None:
    """Duplicate-set probe + group table over the checkpointed per-doc
    shingle frame: returns (gkey, rep_id, members) if ANY duplicate
    shingle set exists, else None. The aggregate shuffles only (gkey,
    doc_id) — never the arrays — and is map-side combined, so on a clean
    corpus (the common case) collapse costs exactly one cheap probe job
    and the pipelines skip representative selection and member expansion
    entirely. The group table is pinned lazily: when duplicates DO exist
    it feeds representative selection AND both expansion joins, and
    materializes once."""
    groups = (per_doc.groupBy("gkey")
              .agg(F.min("doc_id").alias("rep_id"),
                   F.count(F.lit(1)).alias("members"))
              .localCheckpoint(eager=False))
    if groups.filter(F.col("members") >= 2).isEmpty():
        return None
    return groups


def _expand_shingle_pairs(rep_pairs: DataFrame, membership: DataFrame,
                          groups: DataFrame, threshold: float) -> DataFrame:
    """Expand representative-level verified pairs (id_a, id_b, jaccard)
    back to member-level pairs, and emit all within-group pairs (identical
    shingle sets ⇒ Jaccard exactly 1.0). Rep pairs map to group-key pairs,
    within-group keys (gk, gk, 1.0) union in, and ONE two-join pass
    expands both through the member table — output cardinality only,
    never intermediate all-pairs state."""
    rep_a = groups.select(F.col("rep_id").alias("id_a"), F.col("gkey").alias("gk_a"))
    rep_b = groups.select(F.col("rep_id").alias("id_b"), F.col("gkey").alias("gk_b"))
    gk_pairs = (rep_pairs.join(rep_a, "id_a").join(rep_b, "id_b")
                .select("gk_a", "gk_b", "jaccard"))
    if threshold <= 1.0:
        within_gk = (groups.filter(F.col("members") >= 2)
                     .select(F.col("gkey").alias("gk_a"),
                             F.col("gkey").alias("gk_b"),
                             F.lit(1.0).alias("jaccard")))
        gk_pairs = gk_pairs.unionByName(within_gk)
    mem_a = membership.select(F.col("gkey").alias("gk_a"), F.col("doc_id").alias("did_a"))
    mem_b = membership.select(F.col("gkey").alias("gk_b"), F.col("doc_id").alias("did_b"))
    return (gk_pairs.join(mem_a, "gk_a").join(mem_b, "gk_b")
            .filter((F.col("gk_a") != F.col("gk_b"))
                    | (F.col("did_a") < F.col("did_b")))
            .select(F.least("did_a", "did_b").alias("id_a"),
                    F.greatest("did_a", "did_b").alias("id_b"),
                    "jaccard"))


def near_dup_minhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     n_hashes: int = 8, band_size: int = 2,
                     threshold: float = 0.8,
                     max_bucket: int | None = None,
                     sharr: DataFrame | None = None,
                     sigs: DataFrame | None = None) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: shingle arrays (narrow) →
    exact-set collapse (`_collapsed_shingles` — duplicate boilerplate can't
    flood band buckets) → signatures over representatives (narrow) →
    band-bucket candidate pairs (the only corpus-wide shuffle, on small
    band keys) → exact-Jaccard verification restricted to candidates
    (array_intersect, no shingle explode) → member expansion.

    The shingle frame is checkpointed once (`_collapsed_shingles`) and the
    duplicate-set probe (`_dup_groups`) decides whether collapse machinery
    runs at all: on a clean corpus — the common case — banding runs over
    all docs directly and the member-expansion joins are skipped, so
    collapse costs one cheap gkey-only probe; it pays for itself exactly
    when boilerplate floods would otherwise blow up the banding join.

    `sharr` accepts a prebuilt (doc_id, shingles, gkey) index frame
    (`_collapsed_shingles` output) — the persisted-shingle-index path a
    deployment uses so N dedup jobs over one corpus shingle it once
    (see plans.dedup.get_shingle_index). `sigs` accepts the prebuilt
    per-doc SIGNATURE frame on top (doc_id, h0..h{>=n-1} — the persisted
    minhash index, plans.dedup.get_minhash_index): the pipeline then
    semi-joins the store to the representative set instead of
    re-hashing, and projects the first n_hashes columns (per-slice
    minimums are independent, so a wider stored signature contains every
    narrower one)."""
    per_doc = sharr if sharr is not None else _collapsed_shingles(
        docs, text_col, id_col)
    groups = _dup_groups(per_doc)
    if groups is None:
        rep_sharr = per_doc.select("doc_id", "shingles")
    else:
        rep_sharr = (per_doc.join(groups.select(F.col("rep_id").alias("doc_id")),
                                  "doc_id", "left_semi")
                     .select("doc_id", "shingles"))
    if sigs is None:
        sigs = minhash_signatures(rep_sharr, n_hashes).localCheckpoint(
            eager=False)
    else:
        sigs = (sigs.select("doc_id",
                            *[f"h{j}" for j in range(n_hashes)])
                .join(rep_sharr.select("doc_id"), "doc_id", "left_semi"))
    cands = lsh_band_pairs(sigs, n_hashes, band_size, max_bucket)
    rep_pairs = jaccard_verify(cands, rep_sharr, threshold)
    if groups is None:
        return rep_pairs
    membership = per_doc.select("doc_id", "gkey")
    return _expand_shingle_pairs(rep_pairs, membership, groups, threshold)


def exact_dedup_groups(docs: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by an arbitrary key expression (checksum, normalized
    text, preview). Returns collision groups: (dup_key, rep_id, dup_count)
    with dup_count >= 2; rep = min id (deterministic)."""
    return (
        docs.select(key.alias("dup_key"), F.col(id_col))
        .groupBy("dup_key")
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") >= 2)
    )


def window_dedup(docs: DataFrame, key: Column, order_cols: list[Column],
                 id_col: str = "doc_id") -> DataFrame:
    """D1: keep the best-ranked row per key, reporting how many were
    dropped. Output: kept id + duplicates_filtered (>0 groups only)."""
    w = Window.partitionBy("dup_key").orderBy(*order_cols)
    return (
        docs.select(key.alias("dup_key"), "*")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("grp_n", F.count(F.lit(1)).over(Window.partitionBy("dup_key")))
        .filter((F.col("rn") == 1) & (F.col("grp_n") >= 2))
        .select(F.col(id_col), (F.col("grp_n") - 1).alias("duplicates_filtered"))
    )


def fused_result_dedup(scored: DataFrame, preview_col: Column,
                       id_col: str = "doc_id",
                       score_col: str = "score") -> DataFrame:
    """D1 on a ranked candidate list (ref quran_mcp/search.py:262-278):
    rows sharing a non-empty text-preview key keep only the best-scored
    one (deterministic id tie-break), and every surviving row carries
    `duplicates_filtered` — the total number of rows dropped. Empty/blank
    previews fall back to the id so they can never collide. Shared by the
    HybridEngine API and the oracle-checked hybrid plan.

    SINGLE-PASS shape: the dropped-row count rides a global window over
    the ranked candidates rather than a count-agg + broadcast crossJoin —
    the diamond shape consumed the candidate frame twice (the broadcast
    materialization is its own Spark job), which forced serving callers
    to eager-checkpoint the candidates per request. The candidate list is
    O(k) by construction (both legs top-k-limited upstream), so the
    single-partition exchange the unpartitioned window implies carries a
    few hundred rows — the right trade for a linear, one-job plan."""
    dkey = F.coalesce(F.nullif(F.trim(preview_col), F.lit("")),
                      F.col(id_col).cast("string"))
    dw = Window.partitionBy(dkey).orderBy(F.desc(score_col), F.asc(id_col))
    total_w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = scored.withColumn("rn", F.row_number().over(dw))
    return (ranked
            .withColumn(
                "duplicates_filtered",
                F.coalesce(
                    F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
                    .over(total_w), F.lit(0)).cast("long"))
            .filter(F.col("rn") == 1).drop("rn"))


def simhash_long(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n_bits: int = 16) -> DataFrame:
    """Charikar SimHash packed into ONE BIGINT: bit_i = sign of sum over
    tokens of ±1 (+1 when hex digit i of the token's single sha256 digest
    is < '8', i.e. when the nibble's MSB is clear — one digest per token
    gives up to 64 independent bits). Output: (doc_id, fp bigint) with
    bit 0 of the scheme at the MSB end, so `bin(fp)` reads b0..b{n-1}
    left to right.

    Cost shape (this is the hot path of web-scale near-dup): the 64-hex
    digest is parsed ONCE per token into eight 32-bit integer words
    (`conv` on 8-hex chunks — 16-hex chunks would overflow signed BIGINT),
    and every per-bit aggregate is then an integer shift+mask — not a
    per-bit string `substring`/compare, which at 64 bits costs 64
    UTF8String allocations per token. The ±1 sum is folded to a count:
    sum(±1) >= 0  ⇔  2 * count(MSB set) <= count(tokens), so the agg is
    n_bits integer-sum aggregates plus one count, all map-side combined."""
    assert n_bits <= 64, "one sha256 digest has 64 hex digits"
    n_chunks = -(-n_bits // 8)
    toks = (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(tokenize(F.col(text_col))).alias("tok"))
        .select("doc_id", F.sha2(F.col("tok"), 256).alias("dg"))
    )
    # w{c} holds hex digits [8c, 8c+8) as a 32-bit value; digit i's nibble
    # MSB is bit (7 - i%8)*4 + 3 of word i//8.
    words = toks.select("doc_id", *[
        F.conv(F.substring("dg", 1 + 8 * c, 8), 16, 10).cast("long").alias(f"w{c}")
        for c in range(n_chunks)])
    cnts = [
        F.sum(F.shiftright(F.col(f"w{i // 8}"), (7 - i % 8) * 4 + 3)
              .bitwiseAND(F.lit(1))).alias(f"c{i}")
        for i in range(n_bits)
    ]
    agg = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *cnts)
    bit_terms = [
        F.shiftleft(
            F.when(2 * F.col(f"c{i}") <= F.col("n"), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
            n_bits - 1 - i)
        for i in range(n_bits)
    ]
    fp = bit_terms[0]
    for t in bit_terms[1:]:
        fp = fp.bitwiseOR(t)
    return agg.select("doc_id", fp.alias("fp"))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 16, sigs: DataFrame | None = None) -> DataFrame:
    """Bit-string view of `simhash_long` — (doc_id, simhash) where simhash
    is the n_bits-char '0'/'1' string reading b0..b{n-1} left to right.
    `bin()` on the packed BIGINT renders exactly that (a 64-bit fingerprint
    with b0 set is negative, and bin() of a negative long is the full
    64-char two's-complement pattern, which IS the fingerprint). `sigs`
    accepts a prebuilt (doc_id, fp) fingerprint index frame."""
    base = sigs if sigs is not None else simhash_long(docs, text_col, id_col, n_bits)
    return base.select("doc_id", F.lpad(F.bin("fp"), n_bits, "0").alias("simhash"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", w: int = SHINGLE_W,
                        threshold: float = 0.8,
                        sharr: DataFrame | None = None) -> DataFrame:
    """n-gram Jaccard similarity join via PREFIX FILTERING (PPJoin-style),
    the third near-dup family next to MinHash-LSH and SimHash.

    Exactness: unlike MinHash banding (probabilistic candidate recall),
    prefix filtering is LOSSLESS — two sets with Jaccard >= t MUST share at
    least one element among each set's (|S| - ceil(t*|S|) + 1) globally
    rarest shingles, so the candidate set provably contains every
    qualifying pair. Verification is then exact Jaccard on candidates only.

    Scale story: the candidate self-join keys on *rare* shingles (prefix
    entries are ordered by ascending global document frequency), so bucket
    sizes are bounded by construction — the frequent-shingle skew that
    makes a naive shingle-equijoin explode never enters the join. Joined
    rows then pass two further LOSSLESS pre-verification filters (both
    from the PPJoin paper, Xiao et al., WWW'08):
    - length filter: Jaccard >= t forces t*|A| <= |B| <= |A|/t;
    - positional filter: a pair whose first shared prefix element sits at
      rank (i, j) of the df-sorted orders has overlap <= 1 +
      min(|A|-i, |B|-j), which must reach ceil(t/(1+t) * (|A|+|B|)).
    Together they cut candidates ~9x at sf0.1 before the (comparatively
    expensive) array-intersect verification. Cost: one shuffle for global
    df, one window per doc (partitioned by doc_id), one self-join on rare
    shingles, then candidate-only verification.
    """
    # Exact-set collapse runs the join over one representative per
    # distinct shingle set (one checkpointed shingle pass + a gkey-only
    # probe, see `_collapsed_shingles` / `_dup_groups`): duplicate
    # boilerplate can't flood the rare-shingle buckets, and losslessness
    # is preserved because prefix filtering is lossless under ANY
    # consistent global ordering — the representative-only document
    # frequencies are simply a different (equally valid) ordering than
    # all-docs df. On a corpus with no duplicate sets the probe skips
    # representative selection and member expansion entirely. `sharr`
    # accepts the prebuilt shingle index (plans.dedup.get_shingle_index).
    per_doc = sharr if sharr is not None else _collapsed_shingles(
        docs, text_col, id_col, w)
    groups = _dup_groups(per_doc)
    if groups is None:
        sharr = per_doc.select("doc_id", "shingles")
    else:
        sharr = (per_doc.join(groups.select(F.col("rep_id").alias("doc_id")),
                              "doc_id", "left_semi")
                 .select("doc_id", "shingles"))
    sh = sharr.select("doc_id", F.size("shingles").alias("set_size"),
                      F.explode("shingles").alias("shingle"))
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))

    # Epsilon-guarded ceil: the bounds below are mathematically integral at
    # exact-threshold pairs (e.g. 0.8*5), but the double product can land a
    # few ulps ABOVE the integer (0.8*5 -> 4.0000000000000002) and ceil then
    # over-tightens the bound, dropping pairs with Jaccard == threshold that
    # the exact verify step keeps — breaking losslessness. Shaving 1e-9
    # first restores the integral case; for non-integral values it can only
    # loosen the bound by one candidate, never lose one.
    def ceil_eps(x: Column) -> Column:
        return F.ceil(x - F.lit(1e-9))

    prefix_len = (F.col("set_size")
                  - ceil_eps(F.lit(threshold) * F.col("set_size")) + 1)
    prefix = (
        sh.join(df_tbl, "shingle")
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "set_size", "rn", "shingle")
        # lazy: both self-join sides read the one pinned evaluation, but
        # the materialization folds into the verify action instead of
        # being its own driver job (§1.2); pin semantics unchanged
        .localCheckpoint(eager=False)
    )
    a = prefix.select(F.col("doc_id").alias("id_a"),
                      F.col("set_size").alias("sz_a"),
                      F.col("rn").alias("rn_a"), "shingle")
    b = prefix.select(F.col("doc_id").alias("id_b"),
                      F.col("set_size").alias("sz_b"),
                      F.col("rn").alias("rn_b"), "shingle")
    # Minimum overlap a qualifying pair must reach; keeping a pair when ANY
    # shared prefix row passes the positional bound is lossless because the
    # FIRST shared element (smallest ranks) gives the loosest bound.
    alpha = ceil_eps(F.lit(threshold / (1.0 + threshold))
                     * (F.col("sz_a") + F.col("sz_b")))
    cands = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("sz_a", "sz_b")
                >= ceil_eps(F.lit(threshold) * F.greatest("sz_a", "sz_b")))
        .filter(1 + F.least(F.col("sz_a") - F.col("rn_a"),
                            F.col("sz_b") - F.col("rn_b")) >= alpha)
        .select("id_a", "id_b")
        .distinct()
    )
    rep_pairs = jaccard_verify(cands, sharr, threshold)
    if groups is None:
        return rep_pairs
    membership = per_doc.select("doc_id", "gkey")
    return _expand_shingle_pairs(rep_pairs, membership, groups, threshold)


def _combo_keys(n_bits: int, n_blocks: int, combo_size: int) -> list[Column]:
    """One packed BIGINT join key per block combination (Manku-Jain-Sarma
    WWW'07 table scheme): the fingerprint splits into n_blocks slices; for
    every combination of combo_size blocks, the key is those blocks'
    bits concatenated. Two fingerprints within hamming distance
    <= n_blocks - combo_size MUST share at least one combination key
    (<= n_blocks - combo_size corrupted blocks leave >= combo_size intact
    ones), so joining on ALL C(n_blocks, combo_size) keys is LOSSLESS —
    and each key is ~combo_size/n_blocks of the whole fingerprint, wide
    enough that bucket sizes stay bounded even when individual simhash
    bits correlate across documents (they do: bits are sign-sums over
    shared frequent tokens). Returns a list of struct(combo, key)."""
    from itertools import combinations

    base_w, extra = divmod(n_bits, n_blocks)
    widths = [base_w + (1 if c < extra else 0) for c in range(n_blocks)]
    offsets = [n_bits - sum(widths[: c + 1]) for c in range(n_blocks)]
    blocks = [
        F.shiftrightunsigned(F.col("fp"), offsets[c])
        .bitwiseAND(F.lit((1 << widths[c]) - 1))
        for c in range(n_blocks)
    ]
    keys = []
    for combo_id, combo in enumerate(combinations(range(n_blocks), combo_size)):
        key = blocks[combo[0]]
        for c in combo[1:]:
            key = F.shiftleft(key, widths[c]).bitwiseOR(blocks[c])
        keys.append(F.struct(F.lit(combo_id).alias("combo"),
                             key.alias("bkey")))
    return keys


def near_dup_simhash(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n_bits: int = 16,
                     n_blocks: int = 6, combo_size: int = 3,
                     max_hamming: int = 3,
                     max_bucket: int | None = None,
                     sigs: DataFrame | None = None) -> DataFrame:
    """SimHash near-dup pairs, lossless for max_hamming <= n_blocks -
    combo_size, in three scale-bounded stages:

    1. **Exact-fingerprint collapse.** Banding runs over DISTINCT
       fingerprints, not documents. A corpus with K copies of one
       boilerplate page puts ONE row (not K) into each band bucket, so
       the self-join can never go quadratic in duplicate multiplicity —
       the classic web-dedup blowup. Output pairs are restored afterward
       by expanding each qualifying fingerprint pair through its member
       lists (that expansion is output cardinality, not intermediate
       state).
    2. **Block-combination banding** (`_combo_keys`): C(n_blocks,
       combo_size) join keys, each ~combo_size/n_blocks of the
       fingerprint wide. At 64 bits with 6 blocks / combos of 3 the keys
       are ~32 bits — the Manku-Jain-Sarma setting — vs 16-bit simple
       bands whose buckets held 13% of this corpus (650 of 5000 docs in
       one bucket, 556k candidate rows; combos cut that ~50x).
    3. **Exact verify on candidates only**: XOR + popcount on the packed
       BIGINT pair.

    `max_bucket` is the emergency valve for adversarial corpora whose
    DISTINCT fingerprints still flood a bucket: combination buckets
    larger than the cap are dropped from candidate generation (recall
    loss, bounded work). It is None — lossless — on every oracle-checked
    path; pair it with a monitoring count of dropped buckets in
    production.

    `sigs` accepts a prebuilt (doc_id, fp) fingerprint index frame
    (`simhash_long` output, pinned) — the persisted-fingerprint-index path
    so N near-dup jobs over one corpus fingerprint it once
    (plans.dedup.get_simhash_index).

    Output: (id_a, id_b, hamming_dist) with hamming_dist <= max_hamming."""
    assert max_hamming <= n_blocks - combo_size, \
        "combination banding is lossless only to n_blocks - combo_size"
    if sigs is None:
        sigs = simhash_long(docs, text_col, id_col, n_bits).localCheckpoint(eager=False)
    groups = (sigs.groupBy("fp")
              .agg(F.count(F.lit(1)).alias("members"))
              .localCheckpoint(eager=False))

    ex = (groups.select("fp", F.explode(F.array(
              *_combo_keys(n_bits, n_blocks, combo_size))).alias("b"))
          .select("fp", "b.combo", "b.bkey"))
    if max_bucket is not None:
        w = Window.partitionBy("combo", "bkey")
        ex = (ex.withColumn("_bn", F.count(F.lit(1)).over(w))
              .filter(F.col("_bn") <= max_bucket).drop("_bn"))
    a = ex.select(F.col("fp").alias("fp_a"), "combo", "bkey")
    b = ex.select(F.col("fp").alias("fp_b"), "combo", "bkey")
    fp_pairs = (a.join(b, ["combo", "bkey"])
                .filter(F.col("fp_a") < F.col("fp_b"))
                .select("fp_a", "fp_b")
                .distinct()
                .withColumn("hamming_dist",
                            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
                            .cast("int"))
                .filter(F.col("hamming_dist") <= max_hamming))

    # Expansion back to document pairs in ONE join pass: within-group
    # fingerprint "pairs" (fp, fp, 0) for duplicated fingerprints union
    # into the qualifying pair list BEFORE the member joins, so cross-
    # group pairs (every member of fp_a with every member of fp_b) and
    # within-group pairs (all C(members, 2), hamming 0 by construction)
    # expand through the same two joins. The filter keeps each unordered
    # pair once: cross-group rows are unique already; same-fp rows need
    # did_a < did_b.
    within_fp = (groups.filter(F.col("members") >= 2)
                 .select(F.col("fp").alias("fp_a"), F.col("fp").alias("fp_b"),
                         F.lit(0).cast("int").alias("hamming_dist")))
    pairs_all = fp_pairs.unionByName(within_fp)
    ma = sigs.select(F.col("fp").alias("fp_a"), F.col("doc_id").alias("did_a"))
    mb = sigs.select(F.col("fp").alias("fp_b"), F.col("doc_id").alias("did_b"))
    return (pairs_all.join(ma, "fp_a").join(mb, "fp_b")
            .filter((F.col("fp_a") != F.col("fp_b"))
                    | (F.col("did_a") < F.col("did_b")))
            .select(F.least("did_a", "did_b").alias("id_a"),
                    F.greatest("did_a", "did_b").alias("id_b"),
                    "hamming_dist"))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 50) -> DataFrame:
    """Connected components over a near-dup pair graph — the step a
    training-data pipeline runs AFTER pair detection: transitively-linked
    near-dups form one cluster, and keep-one-per-cluster drops the rest.

    Classic Spark min-label propagation: every node starts labeled with
    its own id; each round, a node's label becomes the min of its own and
    its neighbors' labels; converged when a round changes nothing. Rounds
    needed ≈ graph diameter — near-dup graphs are unions of small dense
    clusters (stars/cliques), so 2-4 rounds in practice; `max_iter` is a
    pathological-chain backstop. Each round is one join + one partial-agg
    min on the EDGE LIST only (nodes outside any pair never enter), and
    labels are re-checkpointed per round to truncate lineage — the same
    loop shape GraphX/GraphFrames uses, kept DataFrame-native.

    The driver-side convergence probe is one count per round over a
    frame of cluster-member size — this is an iterative algorithm; the
    loop itself is O(diameter) tiny jobs, and is the documented exception
    to the no-driver-loops rule (like MLlib k-means).

    Output: (doc_id, cluster_rep, cluster_size) for every doc that
    appears in at least one pair; cluster_rep = min doc id reachable."""
    edges = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
             .unionByName(pairs.select(F.col(id_b).alias("u"),
                                       F.col(id_a).alias("v")))
             .distinct().localCheckpoint())
    labels = (edges.select("u").distinct()
              .select("u", F.col("u").alias("lbl")).localCheckpoint())
    for _ in range(max_iter):
        nbr_min = (edges.join(labels.withColumnRenamed("u", "v"), "v")
                   .groupBy("u").agg(F.min("lbl").alias("nbr_lbl")))
        new_labels = (labels.join(nbr_min, "u", "left")
                      .select("u", F.least("lbl", F.coalesce("nbr_lbl", "lbl"))
                              .alias("lbl"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "u")
                   .filter(F.col("n.lbl") != F.col("o.lbl"))
                   .isEmpty())
        labels = new_labels
        if changed:
            break
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "lbl")
            .select(F.col("u").alias("doc_id"),
                    F.col("lbl").alias("cluster_rep"),
                    "cluster_size"))


def phrase_positions(docs: DataFrame, phrase_terms: list[str],
                     text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """TRUE positional phrase match (FTS5 '"a b c"' semantics): the
    phrase's tokens must appear ADJACENT and IN ORDER in the tokenized
    doc — not merely as a substring of raw text (which breaks across
    punctuation/normalization) and not merely all-terms-present.

    Spark-first trick: a k-token phrase occurs at position p iff the
    doc's k-shingle at p equals the joined phrase — so the match reuses
    the shingle construction (fully narrow, no positional self-joins;
    the naive relational encoding needs k-1 joins on (doc_id, pos+j)).
    Shingles here keep DUPLICATES (no array_distinct) so occurrence
    counts and first positions are exact.

    Output: (doc_id, n_occurrences, first_pos) for docs with >= 1
    occurrence; first_pos is the 0-based TOKEN index of the first match."""
    from ..functions.text import tokenize

    k = len(phrase_terms)
    assert k >= 1
    phrase = " ".join(phrase_terms)
    toks_df = docs.select(F.col(id_col).alias("doc_id"),
                          tokenize(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    sh = t
    for j in range(1, k):
        shifted = F.slice(t, j + 1, F.size(t))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    n_full = F.greatest(F.size(t) - (k - 1), F.lit(0))
    shingles_all = F.slice(sh, 1, n_full)
    hits = F.filter(shingles_all, lambda s: s == F.lit(phrase))
    first_pos = F.array_position(shingles_all, phrase) - 1
    return (toks_df
            .select("doc_id",
                    F.size(hits).cast("long").alias("n_occurrences"),
                    first_pos.cast("long").alias("first_pos"))
            .filter(F.col("n_occurrences") >= 1))


DUPSPAN_W = 10


def window_index(docs: DataFrame, w: int = DUPSPAN_W,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Positional w-token window index: (doc_id, pos, _h1, _h2) — one row
    per token position, windows reduced to a 96-bit hash pair (xxhash64 +
    crc32, same paired-hash collision posture as `_set_gkey`) so rows are
    fixed-width longs, never window text. Fully narrow (tokenize + the
    `shingle_array` zip-with-shifted accumulation + one positional
    explode). `duplicated_spans` consumes this frame TWICE (duplicate-key
    aggregate and position-marking semi join), so callers should pin it —
    on a lake it's the persisted substring-dedup index table."""
    toks_df = docs.select(F.col(id_col).alias("doc_id"),
                          tokenize(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    sh = t
    for j in range(1, w):
        shifted = F.slice(t, j + 1, F.size(t))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    n_full = F.greatest(F.size(t) - (w - 1), F.lit(0))
    arr = F.slice(sh, 1, n_full)
    # Explode-of-singleton barrier (see `shingle_array`): materialize the
    # window array before the positional explode so Generate doesn't
    # re-evaluate the whole accumulation per output row.
    return (toks_df.select("doc_id", F.explode(F.array(arr)).alias("_wins"))
            .select("doc_id", F.posexplode("_wins").alias("pos", "_w"))
            .select("doc_id", "pos",
                    F.xxhash64(F.col("_w")).alias("_h1"),
                    F.crc32(F.col("_w")).alias("_h2")))


def duplicated_spans(docs: DataFrame, w: int = DUPSPAN_W, min_docs: int = 2,
                     text_col: str = "text", id_col: str = "doc_id",
                     windows: DataFrame | None = None) -> DataFrame:
    """Substring-level (span) dedup, the Lee et al. 2022 'Deduplicating
    Training Data Makes Language Models Better' operation the document-
    level near-dup family cannot express: find every MAXIMAL token span
    that some w-token window shares with another document, so a cleaning
    pipeline can cut the repeated boilerplate passage instead of dropping
    whole documents. (The reference dedups at document granularity only —
    checksum skip at /root/reference/mcp_server/apps/ingestion.py:146 —
    this is the scale-pipeline extension.)

    Plan shape (all relational, no pair join, no O(N^2) state):
      1. tokenize once; build all w-token windows WITH positions by the
         same zip-with-shifted-slices accumulation as `shingle_array`
         (narrow, no explode until the windows exist);
      2. posexplode -> (doc_id, pos, window); windows are immediately
         reduced to a 96-bit key (xxhash64 + crc32 — paired hashes for
         the same collision posture as `_set_gkey`) so the shuffle rows
         carry 12 bytes, not the window text;
      3. groupBy key, keep keys seen in >= min_docs DISTINCT docs
         (map-side combined; a boilerplate window in a million docs is
         one hot GROUP, never a pair explosion);
      4. left-semi join windows against duplicated keys (same key as the
         groupBy, so AQE reuses the partitioning), then merge adjacent
         duplicated positions per doc into maximal spans with one
         gaps-and-islands window pass partitioned by doc.

    Output: (doc_id, span_start, span_len, n_windows) — span_start is the
    1-based token index, span_len the span's token count (>= w), n_windows
    the duplicated windows merged into it."""
    wins = windows if windows is not None else window_index(
        docs, w, text_col, id_col)
    dup_keys = (wins.groupBy("_h1", "_h2")
                .agg(F.countDistinct("doc_id").alias("_nd"))
                .filter(F.col("_nd") >= min_docs)
                .select("_h1", "_h2"))
    marked = wins.join(dup_keys, ["_h1", "_h2"], "left_semi")
    return positions_to_spans(marked, w)


def positions_to_spans(marked: DataFrame, w: int) -> DataFrame:
    """Gaps-and-islands merge of marked window positions into maximal
    spans: (doc_id, pos) rows in, (doc_id, span_start, span_len,
    n_windows) out. One window shuffle by doc; the final rollup reuses
    its partitioning. Shared by span dedup and span decontamination."""
    byd = Window.partitionBy("doc_id").orderBy("pos")
    islands = (marked
               .withColumn("_brk", F.when(
                   F.col("pos") == F.lag("pos").over(byd) + 1, F.lit(0))
                   .otherwise(F.lit(1)))
               .withColumn("_gid", F.sum("_brk").over(
                   byd.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy("doc_id", "_gid")
            .agg((F.min("pos") + 1).cast("long").alias("span_start"),
                 (F.max("pos") - F.min("pos") + w).cast("long").alias("span_len"),
                 F.count(F.lit(1)).alias("n_windows"))
            .drop("_gid"))


WINNOW_GUARANTEE = 4


def _check_winnow_params(selected: DataFrame | None, w: int,
                         guarantee: int) -> None:
    """Guard for the precomputed-selection hand-off: a selection pinned
    by plans.dedup.get_winnow_selection carries the (w, guarantee) it
    was built under in `_winnow_params`; consuming it with different
    constants would silently yield wrong pairs, so raise instead."""
    built = getattr(selected, "_winnow_params", None)
    if built is not None and built != (w, guarantee):
        raise ValueError(
            f"winnow selection was built with (w, guarantee)={built} "
            f"but this call asks for {(w, guarantee)}")


def _winnow_selected(docs: DataFrame, w: int = DUPSPAN_W,
                     guarantee: int = WINNOW_GUARANTEE,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Shared winnowing selection (see `winnowed_fingerprints` for the
    algorithm and determinism notes): one row per (doc, window position)
    with the per-frame minimum encoded selection in `_sel` and the doc's
    full-window count in `n_windows`, already restricted to positions
    that head a full `guarantee`-length frame."""
    toks_df = docs.select(F.col(id_col).alias("doc_id"),
                          tokenize(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    sh = t
    for j in range(1, w):
        shifted = F.slice(t, j + 1, F.size(t))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    n_full = F.greatest(F.size(t) - (w - 1), F.lit(0))
    arr = F.slice(sh, 1, n_full)
    wins = (toks_df.select("doc_id", F.explode(F.array(arr)).alias("_wins"))
            .select("doc_id", F.posexplode("_wins").alias("pos", "_w"))
            .select("doc_id", "pos",
                    F.concat(F.sha2(F.col("_w"), 256), F.lit("#"),
                             F.lpad(F.col("pos").cast("string"), 8, "0"))
                    .alias("enc")))
    per_doc = Window.partitionBy("doc_id")
    frame = (Window.partitionBy("doc_id").orderBy("pos")
             .rowsBetween(0, guarantee - 1))
    return (wins
            .withColumn("n_windows", F.count(F.lit(1)).over(per_doc))
            .withColumn("_sel", F.min("enc").over(frame))
            .filter(F.col("pos") <= F.col("n_windows") - guarantee))


def winnow_match_pairs(docs: DataFrame, w: int = DUPSPAN_W,
                       guarantee: int = WINNOW_GUARANTEE,
                       min_shared: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       max_df: int | None = None,
                       selected: DataFrame | None = None) -> DataFrame:
    """The MOSS MATCHING step on top of winnowing selection: candidate
    document pairs ranked by how many selected fingerprints they share
    (the position suffix is stripped — the matchable identity is the
    window hash). By the winnowing guarantee, any common substring of
    >= w + guarantee - 1 tokens forces at least one shared fingerprint,
    so this join finds every long verbatim overlap while each doc
    contributes only ~2/(guarantee+1) of its positions to the join.
    Shared-count >= `min_shared` filters the single-collision noise
    floor. Output: (id_a, id_b, shared_fps), id_a < id_b.

    `max_df` is MOSS's own over-common-fingerprint rule: a fingerprint
    appearing in more than `max_df` documents is corpus boilerplate, not
    overlap signal, and the fp self-join would emit C(df, 2) candidate
    rows for it BEFORE any filter — quadratic in the hot key. Capped fps
    are dropped from matching entirely (the same valve as the banding
    joins' `max_bucket`; pair it with a monitoring count of dropped fps
    via one `groupBy(fp).count()` agg in production). The df is computed
    on the distinct (doc, fp) set with one window, so the cap costs one
    extra shuffle on the already-narrow fp table.

    `selected` optionally supplies the precomputed DISTINCT
    (doc_id, n_windows, _sel) selection triple so the (window-hash + two
    window functions) pass is shared with `winnowed_fingerprints`
    instead of recomputed — the post-distinct triple is ~2/(g+1) of the
    window rows, the right granularity to pin. PRECEDENCE: when
    `selected` is given it wins outright — `w`/`guarantee`/`text_col`/
    `id_col` are ignored (the selection already encodes them). A
    selection tagged with `_winnow_params` (the plans-layer pin) is
    checked against this call's (w, guarantee) and a mismatch raises."""
    _check_winnow_params(selected, w, guarantee)
    if selected is None:
        sel = _winnow_selected(docs, w, guarantee, text_col, id_col)
        selected = sel.select("doc_id", "n_windows", "_sel").distinct()
    fps = (selected.select("doc_id", F.substring("_sel", 1, 64).alias("fp"))
           .distinct())
    if max_df is not None:
        wfp = Window.partitionBy("fp")
        fps = (fps.withColumn("_df", F.count(F.lit(1)).over(wfp))
               .filter(F.col("_df") <= max_df).drop("_df"))
    a = fps.select(F.col("doc_id").alias("id_a"), "fp")
    b = fps.select(F.col("doc_id").alias("id_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def winnowed_fingerprints(docs: DataFrame, w: int = DUPSPAN_W,
                          guarantee: int = WINNOW_GUARANTEE,
                          text_col: str = "text",
                          id_col: str = "doc_id",
                          selected: DataFrame | None = None) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): from each run of `guarantee` consecutive w-gram
    hashes keep the minimum, which guarantees any match of length
    >= w + guarantee - 1 tokens shares a selected fingerprint while
    storing only ~2/(guarantee+1) of positions — the principled way to
    SUBSAMPLE the substring-dedup window index when storing every
    position is too much state.

    Determinism/oracle posture: the selection hash is sha256 of the
    window text encoded as 'hex#pos' so min-comparison is plain string
    order BOTH engines implement identically (ties on identical repeated
    windows resolve to the lowest position). Production would winnow on
    xxhash64 (cheaper); the selection structure is identical. Docs with
    fewer than `guarantee` full windows select nothing (strict full-
    window winnowing).

    Output: (doc_id, n_windows, n_fingerprints, fp_digest) — the digest
    is sha256 over the doc's sorted distinct selections, pinning the
    exact fingerprint SET compactly. One narrow window pass + two
    per-doc window functions + one groupBy. `selected` optionally
    supplies the precomputed DISTINCT (doc_id, n_windows, _sel) triple
    (shared with `winnow_match_pairs` via the plans-layer pin).
    PRECEDENCE: a given `selected` wins outright — w/guarantee/text_col/
    id_col are ignored; a `_winnow_params`-tagged selection is checked
    against (w, guarantee) and a mismatch raises."""
    _check_winnow_params(selected, w, guarantee)
    if selected is None:
        sel = _winnow_selected(docs, w, guarantee, text_col, id_col)
        selected = sel.select("doc_id", "n_windows", "_sel").distinct()
    return (selected
            .groupBy("doc_id", F.col("n_windows").cast("long").alias("n_windows"))
            .agg(F.count(F.lit(1)).alias("n_fingerprints"),
                 F.sha2(F.array_join(F.array_sort(
                     F.collect_list("_sel")), ","), 256).alias("fp_digest")))


def hamming(a: Column, b: Column, n_bits: int) -> Column:
    """Hamming distance between equal-length bit strings — JVM-side.
    Diagnostic/test helper; the near-dup hot path compares packed BIGINT
    fingerprints with XOR + bit_count instead."""
    return F.aggregate(
        F.zip_with(F.split(a, ""), F.split(b, ""),
                   lambda x, y: F.when(x != y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", w: int = SHINGLE_W,
                      threshold: float = 0.9, min_size: int = 5,
                      sharr: DataFrame | None = None) -> DataFrame:
    """ASYMMETRIC set containment join: pairs where |A∩B| / |A| >= t —
    the quote/excerpt detector. Jaccard-based near-dup misses a short doc
    embedded in a long one (the union term swamps the overlap); containment
    is the right measure, and it is NOT symmetric: (a contained-in b) and
    (b contained-in a) qualify independently.

    Lossless prefix filter, containment form: containment >= t forces A to
    share >= ceil(t·|A|) shingles with B, i.e. at most p − 1 of A's
    shingles are missing from B (p = |A| − ceil(t·|A|) + 1, the classic
    prefix length) — so among A's k = min(2p−1, |A|) globally-RAREST
    shingles at least k − p + 1 must appear in B. The probe joins that
    extended rare prefix against the indexed side's full shingle postings
    and keeps pairs by the SHARED COUNT, not by any-match (see the scale
    note inline; |B| has no upper bound by design, but |B| >= ceil(t·|A|)
    is enforced). Verification is exact array_intersect on candidates.
    Tiny probe sets (< min_size shingles) are excluded — they qualify on
    trivial overlaps.

    Scale: probe volume = prefix rows (~(1−t)·|A|+1 per doc), keyed on
    rare shingles (bounded buckets, as in `ngram_jaccard_pairs`); at
    corpus scale the same exact-set collapse applied there bolts on
    identically (representatives probe, members expand) — kept plain here
    because the collapse machinery is already proven on the Jaccard path
    and this operator shares its shingle index. Output:
    (contained_id, container_id, containment)."""
    per_doc = sharr if sharr is not None else _collapsed_shingles(
        docs, text_col, id_col, w)
    base = per_doc.select("doc_id", "shingles").filter(
        F.size("shingles") >= min_size)
    sh = base.select("doc_id", F.size("shingles").alias("set_size"),
                     F.explode("shingles").alias("shingle"))
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    prefix_len = (F.col("set_size")
                  - F.ceil(F.lit(threshold) * F.col("set_size") - F.lit(1e-9))
                  + 1)
    # Rank EVERY posting row once (the window ran over all rows anyway —
    # only the prefix filter consumed it before) and share the one pinned
    # evaluation between the probe and the indexed side. The probe is
    # EXTENDED to A's first k = min(2p−1, |A|) rarest shingles (p = the
    # classic prefix length) and candidates must share at least
    # k − p + 1 of them — a COUNT-based lossless filter that replaces
    # the anything-shared prefix probe. Why: once the shingle vocabulary
    # saturates (Heaps-law ceiling — sf1 holds ~10x sf0.1's shingle
    # INSTANCES over barely more DISTINCT shingles), every "rare" bucket
    # fattens linearly with the corpus and the one-shared-element probe
    # goes quadratic: measured 12.3M candidates for 168 true pairs
    # (33x wall at 10x rows). Requiring p-of-(2p−1) shared cuts that to
    # 113k candidates (−99.1%) for the SAME verified output; the pair
    # count is one map-side-combined narrow aggregation, far cheaper
    # than shipping 12M shingle arrays through the verify join (§8:
    # decide with small rows, move the heavy arrays only for survivors).
    #
    # Losslessness: containment >= t means at most |A| − ceil(t·|A|) =
    # p − 1 of A's elements are missing from B, so among A's first k
    # (in ANY fixed order) at least k − (p−1) appear in B; the join
    # below witnesses every shared (A-probe-element, B) row, so the
    # per-pair count c >= k − p + 1 for every qualifying pair. The size
    # filter is likewise lossless: |A∩B| <= |B| forces |B| >=
    # ceil(t·|A|) (B may be arbitrarily LARGE — containment has no
    # upper length bound — but not arbitrarily small). Thresholds are
    # epsilon-guarded like ngram_jaccard_pairs (the double product can
    # land a few ulps above the integer at exact-threshold pairs).
    ranked = (sh.join(df_tbl, "shingle")
              .withColumn("rn", F.row_number().over(w_rank))
              .select("doc_id", "set_size", "rn", "shingle")
              .localCheckpoint(eager=False))
    sz = F.col("set_size")
    probe_len = F.least(2 * prefix_len - 1, sz)
    probe = (ranked.filter(F.col("rn") <= probe_len)
             .select(F.col("doc_id").alias("id_a"),
                     sz.alias("sz_a"), "shingle"))
    bside = ranked.select(F.col("doc_id").alias("id_b"),
                          sz.alias("sz_b"), "shingle")
    need = F.ceil(F.lit(threshold) * F.col("sz_a") - F.lit(1e-9))
    p_a = F.col("sz_a") - need + 1
    k_a = F.least(2 * p_a - 1, F.col("sz_a"))
    cand = (probe.join(bside, "shingle")
            .filter(F.col("id_a") != F.col("id_b"))
            .filter(F.col("sz_b") >= need)
            .groupBy("id_a", "id_b", "sz_a")
            .agg(F.count(F.lit(1)).alias("_c"))
            .filter(F.col("_c") >= k_a - p_a + 1)
            .select("id_a", "id_b")
            .localCheckpoint(eager=False))
    sa = base.select(F.col("doc_id").alias("id_a"),
                     F.col("shingles").alias("sh_a"))
    sb = base.select(F.col("doc_id").alias("id_b"),
                     F.col("shingles").alias("sh_b"))
    cont = (F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
            .cast("double") / F.size("sh_a"))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .select(F.col("id_a").alias("contained_id"),
                    F.col("id_b").alias("container_id"),
                    F.round(cont, 6).alias("containment"))
            .filter(F.col("containment") >= threshold))
