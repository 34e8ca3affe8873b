"""Text-analysis + multimodal-plumbing queries over `documents`, with
generated DuckDB oracles (language-ID confusion, quality metrics, token
counts, fingerprints, binary metadata)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textstats
from ..operators.textstats import STOPWORDS
from ..sources import load_table


def get_textsignals_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text-analysis signal index over `documents` — predicted
    language + quality metrics + token-count estimators + the dedup
    fingerprint in one wide frame, served from the published frame store
    (round-11 verdict item 7: these per-doc derivations were recomputed
    every session; they satisfy the store's per-doc-independence
    contract, frame_store.py `_derive_textsignals`). The consumers below
    aggregate over the store; their DuckDB oracles rebuild every signal
    from raw text each gate pass, so the durable path stays
    hash-checked (the `_frame_store_rows` discipline)."""
    from .dedup import _frame_store_rows

    return _frame_store_rows(spark, sf_dir, "textsignals", {"v": 1})


def lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of labeled vs heuristic-predicted language —
    one grouped count over the published signal store."""
    sig = get_textsignals_index(spark, sf_dir)
    return (sig.groupBy("lang", "predicted")
            .agg(F.count(F.lit(1)).alias("n")))


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = get_textsignals_index(spark, sf_dir)
    return sig.select("doc_id", "n_chars_computed", "n_tokens",
                      "mean_token_len", "punct_ratio", "digit_ratio",
                      "stopword_ratio", "quality")


def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-count roll-up: one partial-agg shuffle on source
    over the published signal store (the tokenize pass was paid once at
    publish)."""
    sig = get_textsignals_index(spark, sf_dir)
    return (
        sig.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("ws_tokens").alias("ws_tokens"),
            F.sum("word_tokens").alias("word_tokens"),
            F.sum("bpe_est_tokens").alias("bpe_est_tokens"),
        )
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = get_textsignals_index(spark, sf_dir)
    return sig.select("doc_id", "fingerprint")


def binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column plumbing: treat content as an opaque binary column
    with typed metadata (byte length + content hash). The decode/feature
    path for real image/audio payloads is the mapInPandas stub in
    `streaming`/`operators.multimodal`; this query proves the binary column
    semantics end-to-end relationally."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("content_sha"),
    )


# --------------------------------------------------------------------------
# Oracles
# --------------------------------------------------------------------------

_TOKS = ("list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'), "
         "x -> length(x) >= 2)")


def _hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(ts, x -> list_contains([{words}], x)))"


def lang_id_counts_oracle() -> str:
    score_cols = ", ".join(f"{_hits(lang)} AS s_{lang}" for lang in STOPWORDS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in STOPWORDS) + ")"
    cases = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in STOPWORDS)
    return f"""
WITH feat AS (
  SELECT lang, {score_cols}
  FROM (SELECT lang, {_TOKS} AS ts FROM documents)
),
pred AS (
  SELECT lang, CASE {cases} ELSE 'und' END AS predicted
  FROM (SELECT *, {best} AS best FROM feat)
)
SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2
"""


def quality_scores_oracle() -> str:
    en_hits = _hits("en")
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(ts) AS n_tokens,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^\\s]', '', 'g')) AS n_space,
         {en_hits} AS sw
  FROM (SELECT doc_id, text, {_TOKS} AS ts FROM documents)
),
m AS (
  SELECT doc_id, n_chars, n_tokens,
         (n_chars - n_space) / greatest(n_tokens, 1)::DOUBLE AS mean_tok_len,
         n_punct / greatest(n_chars, 1)::DOUBLE AS punct_ratio,
         n_digit / greatest(n_chars, 1)::DOUBLE AS digit_ratio,
         sw / greatest(n_tokens, 1)::DOUBLE AS stop_ratio,
         least(1.0, n_tokens / 20.0) AS len_factor
  FROM base
)
SELECT doc_id,
       n_chars AS n_chars_computed,
       n_tokens,
       round(mean_tok_len, 6) AS mean_token_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(stop_ratio, 6) AS stopword_ratio,
       round((len_factor
              + (1.0 - least(1.0, punct_ratio * 5.0))
              + (1.0 - least(1.0, digit_ratio * 5.0))
              + least(1.0, stop_ratio * 4.0)) / 4.0, 6) AS quality
FROM m
"""


def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering: naive Bayes trained in-plan on
    the heuristic quality gate's weak labels, scored back over the corpus
    (see operators/textstats.nb_quality_scores)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.nb_quality_scores(docs)


def nb_quality_classifier_oracle() -> str:
    """Replays weak labelling (the quality composite, thresholded on the
    round-6 value), closed-form NB training (per-(class, token) counts +
    add-one smoothing over the vocabulary), and per-doc scoring."""
    en_hits = _hits("en")
    thresh = textstats.NB_QUALITY_THRESH
    return f"""
WITH base AS (
  SELECT doc_id, ts,
         length(text) AS n_chars,
         len(ts) AS n_tokens,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         {en_hits} AS sw
  FROM (SELECT doc_id, text, {_TOKS} AS ts FROM documents)
),
labels AS (
  SELECT doc_id, ts, n_tokens,
         round((least(1.0, n_tokens / 20.0)
                + (1.0 - least(1.0, n_punct / greatest(n_chars, 1)::DOUBLE * 5.0))
                + (1.0 - least(1.0, n_digit / greatest(n_chars, 1)::DOUBLE * 5.0))
                + least(1.0, sw / greatest(n_tokens, 1)::DOUBLE * 4.0)) / 4.0,
               6) >= {thresh} AS weak_pos
  FROM base
),
toks AS (SELECT doc_id, unnest(ts) AS tok FROM labels),
tl AS (SELECT t.tok, l.weak_pos
       FROM toks t JOIN labels l ON t.doc_id = l.doc_id),
counts AS (
  SELECT tok,
         sum(CASE WHEN weak_pos THEN 1 ELSE 0 END) AS c_pos,
         sum(CASE WHEN weak_pos THEN 0 ELSE 1 END) AS c_neg
  FROM tl GROUP BY tok
),
tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
               count(*) AS v FROM counts),
dc AS (SELECT sum(CASE WHEN weak_pos THEN 1 ELSE 0 END) AS d_pos,
              count(*) AS d_all FROM labels),
llr AS (
  SELECT tok,
         ln(CAST(c_pos + 1 AS DOUBLE) / (t_pos + v))
         - ln(CAST(c_neg + 1 AS DOUBLE) / (t_neg + v)) AS llr
  FROM counts, tot
),
per_doc AS (
  SELECT t.doc_id, sum(llr.llr) AS sum_llr
  FROM toks t JOIN llr ON t.tok = llr.tok
  GROUP BY t.doc_id
)
SELECT l.doc_id, l.n_tokens, l.weak_pos,
       round(ln(CAST(d_pos + 1 AS DOUBLE) / (d_all - d_pos + 1))
             + coalesce(p.sum_llr, 0.0), 6) AS nb_logodds,
       round(coalesce(p.sum_llr, 0.0) / greatest(l.n_tokens, 1), 6)
         AS nb_score,
       round(ln(CAST(d_pos + 1 AS DOUBLE) / (d_all - d_pos + 1))
             + coalesce(p.sum_llr, 0.0), 6) > 0 AS predicted_pos
FROM labels l LEFT JOIN per_doc p ON l.doc_id = p.doc_id, dc
"""


def token_count_stats_oracle() -> str:
    return """
SELECT source,
       count(*) AS docs,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
               x -> length(x) >= 1))) AS BIGINT) AS word_tokens,
       CAST(sum(CAST(ceil(length(regexp_replace(text, '\\s', '', 'g')) / 4.0) AS BIGINT))
         AS BIGINT) AS bpe_est_tokens
FROM documents
GROUP BY source
"""


def doc_fingerprints_oracle() -> str:
    return """
SELECT doc_id,
       sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def binary_metadata_oracle() -> str:
    return """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
"""


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-bigram repetition signals per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.repetition_metrics(docs)


def repetition_scores_oracle() -> str:
    return """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
bg AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bigram
  FROM toks, unnest(range(1, len(ts))) AS r(i)
  WHERE len(ts) >= 2
),
cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_frac,
       round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 6)
         AS dup_bigram_frac
FROM cnt GROUP BY doc_id
"""


def pii_scrub_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus with deterministic synthetic contact
    strings injected (the test tables carry no real PII, so doc_id-derived
    emails/phones are appended for every 3rd/5th doc — both engines build
    the identical augmented corpus). Output: match counts + the scrubbed
    tail where the injection landed."""
    docs = load_table(spark, sf_dir, "documents")
    email = F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact user"),
                            F.col("doc_id").cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit(""))
    phone = F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(" call +1 555 "),
                            F.lpad((F.col("doc_id") % 10000).cast("string"),
                                   4, "0"))).otherwise(F.lit(""))
    aug = docs.select("doc_id",
                      F.concat(F.col("text"), email, phone).alias("text"))
    return (textstats.pii_metrics(aug)
            .select("doc_id", "n_emails", "n_phones",
                    F.expr("right(scrubbed, 60)").alias("tail")))


def pii_scrub_preview_oracle() -> str:
    email_re = textstats.EMAIL_RE
    phone_re = textstats.PHONE_RE
    return f"""
WITH aug AS (
  SELECT doc_id,
         text
         || (CASE WHEN doc_id % 3 = 0
             THEN ' contact user' || doc_id || '@example.com' ELSE '' END)
         || (CASE WHEN doc_id % 5 = 0
             THEN ' call +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{email_re}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{phone_re}')) AS INT) AS n_phones,
       right(regexp_replace(regexp_replace(text, '{email_re}', '[EMAIL]', 'g'),
                            '{phone_re}', '[PHONE]', 'g'), 60) AS tail
FROM aug
"""


QUANTILES = (0.25, 0.5, 0.9, 0.99)


def length_quantile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling rollup a pipeline runs before choosing length/
    packing thresholds: exact interpolated length percentiles per
    language (`percentile` — SQL-standard continuous interpolation,
    matching DuckDB's quantile_cont) plus bounds. Exact percentile sorts
    per group; at lake scale swap in percentile_approx (t-digest,
    map-side combinable) — the one-word change is the documented scale
    lever, exactness here keeps the oracle byte-tight."""
    docs = load_table(spark, sf_dir, "documents")
    pcts = [
        F.round(F.expr(f"percentile(n_chars, {q})"), 6).alias(
            f"p{int(q * 100)}_chars")
        for q in QUANTILES
    ]
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("n_chars").alias("min_chars"),
                 *pcts,
                 F.max("n_chars").alias("max_chars")))


def length_quantile_profile_oracle() -> str:
    pcts = ",\n       ".join(
        f"round(quantile_cont(n_chars, {q}), 6) AS p{int(q * 100)}_chars"
        for q in QUANTILES)
    return f"""
SELECT lang, count(*) AS n_docs,
       min(n_chars) AS min_chars,
       {pcts},
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
"""


def chunk_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking over the corpus (token windows with overlap — the
    unit-of-embedding an open-domain ingestion pipeline feeds to V1).
    Preview projection keeps the gate payload bounded: per-chunk offsets,
    sizes, and the chunk text's first 48 chars + sha256."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = textstats.chunk_documents(docs)
    return chunks.select(
        "doc_id", "chunk_id", "start_token", "n_tokens",
        F.substring("chunk_text", 1, 48).alias("chunk_head"),
        F.sha2(F.col("chunk_text"), 256).alias("chunk_sha"))


def chunk_preview_oracle() -> str:
    ct, ov = textstats.CHUNK_TOKENS, textstats.CHUNK_OVERLAP
    stride = ct - ov
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
chunks AS (
  SELECT doc_id,
         CAST((i - 1) // {stride} AS BIGINT) AS chunk_id,
         CAST(i AS BIGINT) AS start_token,
         ts[i:i+{ct}-1] AS ctoks
  FROM toks, unnest(range(1, greatest(len(ts) - {ov}, 1) + 1, {stride})) AS r(i)
)
SELECT doc_id, chunk_id, start_token,
       CAST(len(ctoks) AS BIGINT) AS n_tokens,
       substr(list_aggregate(ctoks, 'string_agg', ' '), 1, 48) AS chunk_head,
       sha256(list_aggregate(ctoks, 'string_agg', ' ')) AS chunk_sha
FROM chunks
WHERE len(ctoks) >= 1
"""


def lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity per doc (CCNet-style quality
    filter; see operators/textstats.bigram_lm_scores)."""
    docs = load_table(spark, sf_dir, "documents")
    return textstats.bigram_lm_scores(docs)


def lm_perplexity_scores_oracle() -> str:
    return """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM documents
),
bg AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg, ts[i] AS w1
  FROM toks, unnest(range(1, len(ts))) AS r(i)
  WHERE len(ts) >= 2
),
c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
v AS (
  SELECT count(DISTINCT x) AS v
  FROM (SELECT unnest(ts) AS x FROM toks)
),
sc AS (
  SELECT b.doc_id,
         log2(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)) AS lp
  FROM bg b JOIN c2 USING (bg) JOIN c1 USING (w1), v
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(lp), 6) AS avg_log2p,
       round(pow(2.0, -round(avg(lp), 6)), 4) AS perplexity
FROM sc GROUP BY doc_id
"""


def token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health Zipf profile: the frequency-of-frequencies spectrum
    (how many distinct terms occur ~2^b times, with term and occurrence
    mass per bucket). Heavy head = boilerplate/templating, heavy tail =
    OCR noise/garbage vocabulary — the diagnostic read BEFORE choosing
    dedup/quality thresholds. Two map-side-combined aggregations (term
    counts, then bucket rollup); the second input is one row per distinct
    term, tiny at any corpus size relative to the token stream."""
    from ..functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # floor(log2(c)) computed integer-exactly as len(bin(c))-1 — libm log2
    # at exact powers of two is a last-ulp risk both engines need not
    # share; the binary-string length cannot disagree.
    bucket = (F.length(F.bin("c")) - 1).cast("long")
    return (counts.groupBy(bucket.alias("log2_freq_bucket"))
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("c").alias("n_occurrences")))


def token_frequency_spectrum_oracle() -> str:
    return """
WITH toks AS (
  SELECT unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
           x -> length(x) >= 2)) AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_freq_bucket,
       count(*) AS n_terms,
       CAST(sum(c) AS BIGINT) AS n_occurrences
FROM counts
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# domain_kl_divergence — per-source token-distribution drift vs the corpus
# ---------------------------------------------------------------------------


def domain_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over token unigram distributions — the
    corpus-health metric that flags a source whose language drifted from
    the mix (scraper breakage, spam floods, template churn). Every
    source-present token also appears in the corpus distribution, so the
    divergence is finite by construction.

    Shape: one tokenize+explode pass feeds per-(source, term) counts
    (map-side combined), the corpus term distribution derives from the
    same aggregate (one extra shuffle on term), per-source totals ride a
    window over the source partitioning, and the KL fold is a final
    per-source agg. At 100 TB each aggregate carries distinct keys, not
    token occurrences."""
    from ..functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize(F.col("text"))).alias("term"))
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n_st"))
    t = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    totals = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    grand = t.agg(F.sum("n_t").alias("n")).select("n")
    p_s = F.col("n_st") / F.col("n_s")
    p_c = F.col("n_t") / F.col("n")
    return (st.join(t, "term")
            .join(totals, "source")  # source-count side: AQE decides (hint policy)
            .crossJoin(F.broadcast(grand))
            .groupBy("source")
            .agg(F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_nats"),
                 F.count(F.lit(1)).alias("n_terms"),
                 F.max("n_s").cast("long").alias("n_tokens")))


def domain_kl_divergence_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS term FROM documents
),
st AS (SELECT source, term, count(*)::DOUBLE AS n_st FROM toks GROUP BY 1, 2),
t AS (SELECT term, sum(n_st) AS n_t FROM st GROUP BY 1),
totals AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
grand AS (SELECT sum(n_t) AS n FROM t)
SELECT s.source,
       round(sum((s.n_st / z.n_s) * ln((s.n_st / z.n_s) / (t.n_t / g.n))), 6)
           AS kl_nats,
       count(*) AS n_terms,
       CAST(max(z.n_s) AS BIGINT) AS n_tokens
FROM st s
JOIN t USING (term)
JOIN totals z USING (source)
CROSS JOIN grand g
GROUP BY s.source
"""
