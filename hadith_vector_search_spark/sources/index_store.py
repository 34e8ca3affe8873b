"""Published on-disk index store — the lexical + vector indexes as
DURABLE artifacts that outlive the Spark session.

The reference persists its indexes and reopens them at startup: SQLite
FTS5 at ``data/indexes/fts.db`` (/root/reference/mcp_server/apps/
fts.py:263-312 rebuilds only when stale) and the Chroma embedding dir
(/root/reference/mcp_server/apps/embeddings.py:224-255). The in-session
``bm25.build_index`` pin is the right shape for an engine embedded in one
process, but the expensive derived state (postings, doc_len, term_df,
stats, the denormalized scoring view, the tf-idf doc norms) died with the
session. This module makes the FULL ``LexicalIndex`` (and the vector
table) a parquet artifact behind the staleness manifest
(`sources.manifest.ensure_index`), so a second session REOPENS instead of
rebuilding — and `bm25.refresh_index` deltas write BACK, overwriting only
the term buckets they touched.

Layout under ``<index_dir>/``::

    _layout.json               {"n_buckets": N}
    _index_manifest.json       staleness manifest (sources.manifest)
    postings/term_bucket=K/    (doc_id, term, tf), term-sorted in-file
    scoring/term_bucket=K/     (doc_id, term, tf, dl, df), term-sorted
    doc_len/                   (doc_id, dl)
    term_df/                   (term, df)
    stats/                     (n_docs, avgdl) single row
    doc_norm/                  (doc_id, dnorm)

Scale design (100 TB):
- ``term_bucket = crc32(term) % n_buckets`` is a Hive-style partition
  column, NOT catalog bucketing: plain parquet paths reopen in any
  session with zero metastore state, directory-level pruning fires on the
  bucket predicate (PartitionFilters — asserted by tests/PLAN_AUDIT),
  and a refresh replaces only touched bucket directories via the staged
  journal commit (`sources.commit`). crc32 (not Murmur hash) because the
  SAME bucket function is computable driver-side (`zlib.crc32`) — the
  query path derives its bucket predicate without a Spark job.
- In-file ``term`` sort gives parquet row-group min/max stats, so the
  pushed term filter skips row groups WITHIN the surviving buckets —
  two-level pruning, the moral equivalent of the FTS5 term b-tree.
- doc_len / term_df / doc_norm are narrow corpus-vocabulary-sized tables
  rewritten whole on refresh here; on a lake they would be partitioned by
  doc-id/term range and delta-overwritten the same way as postings. The
  df/dl/norm VALUES a refresh produces are delta-merged (bm25.refresh_
  index) — only the write is whole-table.
- An opened index serves queries straight off parquet: scans carry
  PushedFilters + PartitionFilters instead of re-tokenizing the corpus,
  which is the point — build once per corpus, query from any session.
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bm25
# The staged-write + commit-journal protocol and the partitioned writer
# live in sources.commit (ONE implementation, shared with the vector and
# frame stores); kill-mid-refresh tests intercept the hooks on the
# commit module, which `commit` resolves at call time.
from .commit import (JOURNAL_NAME, STAGING_NAME,  # noqa: F401
                     read_sidecar, recover, stage_refresh,
                     write_parted_table, write_sidecar)
from .manifest import IndexManifest, ensure_index, source_fingerprint

DEFAULT_BUCKETS = 16  # sized for the test SFs; a lake uses 1024+
LAYOUT_NAME = "_layout.json"
LEXICAL_MODEL = "lexical-index-v2"


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side twin of the published bucket function — MUST stay
    bit-identical to the Column expression in `_bucket_col` (zlib.crc32
    and Spark's crc32 both implement CRC-32/ISO-HDLC over UTF-8 bytes)."""
    return zlib.crc32(str(term).encode("utf-8")) % n_buckets


def _bucket_col(col: Column | str, n_buckets: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.crc32(F.encode(c.cast("string"), "UTF-8")),
                  F.lit(n_buckets)).cast("int")


def _n_buckets(index_dir: str) -> int:
    return int(read_sidecar(index_dir, LAYOUT_NAME)["n_buckets"])


def _whole_tables(index: bm25.LexicalIndex) -> list[tuple[str, DataFrame]]:
    """The narrow corpus-global tables, written whole (see module
    docstring)."""
    return [("doc_len", index.doc_len), ("term_df", index.term_df),
            ("stats", index.stats), ("doc_norm", index.doc_norm())]


def publish_index(index: bm25.LexicalIndex, index_dir: str,
                  n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Write every LexicalIndex table (incl. the denormalized scoring
    view and the tf-idf doc norms) as the partitioned parquet layout
    documented in the module docstring. Full overwrite — the build path;
    `write_refresh` is the delta path. Settles any crashed refresh FIRST:
    a stale _commit.json left by a killed refresh would otherwise be
    replayed by the next open ON TOP of this fresh publish, splicing the
    dead refresh's staged dirs into a rebuilt index (r9 review)."""
    recover(index_dir)
    write_sidecar(index_dir, LAYOUT_NAME, {"n_buckets": n_buckets})
    bkt = _bucket_col("term", n_buckets).alias("term_bucket")
    write_parted_table(index.postings.select("doc_id", "term", "tf", bkt),
                       os.path.join(index_dir, "postings"), "term_bucket",
                       "term")
    write_parted_table(
        index.scoring_view().select("doc_id", "term", "tf", "dl", "df", bkt),
        os.path.join(index_dir, "scoring"), "term_bucket", "term")
    for name, df in _whole_tables(index):
        df.write.mode("overwrite").parquet(os.path.join(index_dir, name))


def open_index(spark: SparkSession, index_dir: str) -> bm25.LexicalIndex:
    """Reopen a published index — NO corpus scan, no tokenization, no
    shuffle: every frame is a parquet read, the scoring view included
    (set directly so `scoring_view()` never rebuilds the joins). The
    returned index carries a `prune` hook mapping a query's term list to
    its bucket predicate, so `bm25.score_terms` scans only the term
    buckets the query can match (PartitionFilters at planning time).
    Settles any interrupted refresh first (see `recover`)."""
    recover(index_dir)
    n_buckets = _n_buckets(index_dir)

    def rd(name: str, *cols: str) -> DataFrame:
        return (spark.read.parquet(os.path.join(index_dir, name))
                .select(*cols))

    idx = bm25.LexicalIndex(
        postings=rd("postings", "doc_id", "term", "tf"),
        doc_len=rd("doc_len", "doc_id", "dl"),
        stats=rd("stats", "n_docs", "avgdl"),
        term_df=rd("term_df", "term", "df"),
    )
    idx._scoring = rd("scoring", "doc_id", "term", "tf", "dl", "df")
    idx._doc_norm = rd("doc_norm", "doc_id", "dnorm")
    scoring_path = os.path.join(index_dir, "scoring")

    def prune(terms):
        terms = sorted(set(terms))
        buckets = sorted({bucket_of(t, n_buckets) for t in terms})
        return (spark.read.parquet(scoring_path)
                .filter(F.col("term_bucket").isin(buckets))
                .filter(F.col("term").isin(terms))
                .select("doc_id", "term", "tf", "dl", "df"))

    idx.prune = prune
    return idx


def lexical_manifest(corpus_path: str, n_rows: int,
                     n_buckets: int = DEFAULT_BUCKETS) -> IndexManifest:
    """Staleness identity of a published lexical index: the tokenizer/
    layout version + bucket count stand where the embedding model name
    stands for the vector index; the corpus fingerprint catches in-place
    rewrites the row count cannot see."""
    return IndexManifest(
        model_name=f"{LEXICAL_MODEL}-b{n_buckets}", dim=0, n_rows=n_rows,
        source_files=source_fingerprint([corpus_path]))


def ensure_lexical_index(spark: SparkSession, corpus: DataFrame,
                         corpus_path: str, index_dir: str,
                         n_buckets: int = DEFAULT_BUCKETS,
                         text_col: str = "text", id_col: str = "doc_id",
                         ) -> tuple[bm25.LexicalIndex, list[str]]:
    """Build-or-reuse entry (the analogue of the reference reopening
    fts.db at startup): publishes a fresh index iff the manifest says the
    corpus drifted, then opens the published artifact either way.
    Returns (opened index, staleness reasons) — reasons == [] means a
    prior session's index was reused byte-for-byte."""
    current = lexical_manifest(corpus_path, corpus.count(), n_buckets)
    reasons = ensure_index(
        index_dir, current,
        lambda: publish_index(
            bm25.build_index(corpus, text_col, id_col), index_dir,
            n_buckets))
    return open_index(spark, index_dir), reasons


def write_refresh(spark: SparkSession, index_dir: str,
                  changed_docs: DataFrame,
                  removed_ids: DataFrame | None = None,
                  corpus_path: str | None = None, n_rows: int | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  ) -> bm25.LexicalIndex:
    """Incremental write-back: apply `bm25.refresh_index` to the OPENED
    published index and persist the delta — postings/scoring rewrite ONLY
    the term buckets touched by the batch (terms of dropped + reinserted
    docs; df can only shift for those terms, and dl only for changed docs
    whose rows live there too, so untouched bucket dirs are byte-invariant
    — asserted by tests). The narrow global tables (doc_len, term_df,
    stats, doc_norm) rewrite whole from their delta-merged values.
    Re-stamps the manifest when the caller passes the post-merge corpus
    identity (corpus_path [+ n_rows]).

    CRASH-SAFE and degenerate-shape-safe through the store core
    (`commit.stage_refresh`/`swap_ops`): a kill at any point leaves a
    reopen seeing either the old or the new index, and a batch that
    empties every surviving bucket leaves an openable placeholder.

    Returns the reopened index. Rebuild-equivalence with a from-scratch
    publish over the merged corpus is pinned by
    tests/test_index_store.py."""
    base = open_index(spark, index_dir)  # settles any crashed refresh
    n_buckets = _n_buckets(index_dir)
    refreshed = bm25.refresh_index(base, changed_docs, removed_ids,
                                   text_col=text_col, id_col=id_col)

    drop = changed_docs.select(F.col(id_col).alias("doc_id")).distinct()
    if removed_ids is not None:
        drop = drop.unionByName(
            removed_ids.select(F.col(removed_ids.columns[0])
                               .alias("doc_id"))).distinct()
    touched_terms = (base.postings
                     .join(F.broadcast(drop), "doc_id", "left_semi")
                     .select("term")
                     .unionByName(bm25.doc_tokens(changed_docs, text_col,
                                                  id_col).select("term")))
    # collect_set of the bucket: the driver receives at most n_buckets
    # values, never the batch's distinct terms
    touched = sorted(
        touched_terms.select(_bucket_col("term", n_buckets).alias("b"))
        .agg(F.collect_set("b")).collect()[0][0] or [])

    # Postings/scoring content is the REFRESHED table filtered to the
    # touched buckets (not survivors-plus-new rows: a surviving row's df
    # changes with the batch). When every surviving bucket empties, that
    # filtered frame is the complete table (every refreshed posting's
    # term came from a dropped doc or the batch, so its bucket is
    # touched) — the whole-table shape `commit.swap_ops` picks.
    bkt = _bucket_col("term", n_buckets).alias("term_bucket")
    tables = [] if not touched else [
        ("postings", refreshed.postings.select("doc_id", "term", "tf", bkt)
         .filter(F.col("term_bucket").isin(touched))),
        ("scoring", refreshed.scoring_view()
         .select("doc_id", "term", "tf", "dl", "df", bkt)
         .filter(F.col("term_bucket").isin(touched)))]

    def stage_whole(staging: str) -> list[dict]:
        ops = []
        for name, df in _whole_tables(refreshed):
            df.write.mode("overwrite").parquet(os.path.join(staging, name))
            ops.append({"op": "swap_dir", "src": f"{STAGING_NAME}/{name}",
                        "dst": name})
        return ops

    def stamp() -> IndexManifest:
        n = n_rows
        if n is None:  # the staged stats hold the post-merge doc count
            n = int(spark.read.parquet(os.path.join(
                index_dir, STAGING_NAME, "stats")).first().n_docs)
        return lexical_manifest(corpus_path, n, n_buckets)

    stage_refresh(index_dir, "term_bucket", "term", tables, touched,
                  None if corpus_path is None else stamp, stage_whole)
    return open_index(spark, index_dir)
