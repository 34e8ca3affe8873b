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
  journal commit (see `recover`). crc32 (not Murmur hash) because the SAME bucket
  function is computable driver-side (`zlib.crc32`) — the query path
  derives its bucket predicate without a Spark job.
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

import json
import os
import shutil
import zlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bm25
from .manifest import (MANIFEST_NAME, IndexManifest, ensure_index,
                       read_manifest, source_fingerprint)

DEFAULT_BUCKETS = 16  # sized for the test SFs; a lake uses 1024+
LAYOUT_NAME = "_layout.json"
LEXICAL_MODEL = "lexical-index-v2"

# The crash-safe staged-write + commit-journal protocol lives in
# sources.commit (ONE implementation, shared with the published vector
# store); kill-mid-refresh tests intercept the hooks on the commit
# module, which `commit` resolves at call time.
from .commit import (JOURNAL_NAME, STAGING_NAME,  # noqa: E402
                     commit, recover)


def bucket_of(term: str, n_buckets: int) -> int:
    """Driver-side twin of the published bucket function — MUST stay
    bit-identical to the Column expression in `_bucket_col` (zlib.crc32
    and Spark's crc32 both implement CRC-32/ISO-HDLC over UTF-8 bytes)."""
    return zlib.crc32(str(term).encode("utf-8")) % n_buckets


def _bucket_col(col: Column | str, n_buckets: int) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.crc32(F.encode(c.cast("string"), "UTF-8")),
                  F.lit(n_buckets)).cast("int")


def _write_layout(index_dir: str, n_buckets: int) -> None:
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, f".{LAYOUT_NAME}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"n_buckets": n_buckets}, fh)
    os.replace(tmp, os.path.join(index_dir, LAYOUT_NAME))


def read_layout(index_dir: str) -> int:
    with open(os.path.join(index_dir, LAYOUT_NAME)) as fh:
        return int(json.load(fh)["n_buckets"])


def _bucket_dirs(path: str) -> set[str]:
    """term_bucket=K partition dirs under a table path ({} if none/absent)."""
    if not os.path.isdir(path):
        return set()
    return {d for d in os.listdir(path) if d.startswith("term_bucket=")}


def _write_bucketed(df: DataFrame, path: str, n_buckets: int,
                    sort_col: str = "term") -> None:
    """One partition-dir per term bucket, rows sorted by `sort_col`
    in-file (row-group min/max pruning). Refresh deltas also come through
    here — into the STAGING dir, whose bucket dirs the commit journal
    then swaps/deletes one-by-one (the crash-safe replacement for dynamic
    partition overwrite).

    REBALANCE, not `repartition("term_bucket")`: writer-task count must
    track the data, not the core count — a delta batch staged at
    shuffle.partitions width pays dozens of near-empty writer tasks'
    serialized commit round trips, while AQE sizes the rebalance to
    advisory bytes at scale and splits hot buckets across writers (the
    `vector_store._write_parted` rationale; guide §2.5/§6)."""
    (df.hint("rebalance", "term_bucket")
     .sortWithinPartitions("term_bucket", sort_col)
     .write.mode("overwrite")
     .partitionBy("term_bucket").parquet(path))


def publish_index(index: bm25.LexicalIndex, index_dir: str,
                  n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Write every LexicalIndex table (incl. the denormalized scoring
    view and the tf-idf doc norms) as the partitioned parquet layout
    documented in the module docstring. Full overwrite — the build path;
    `write_refresh` is the delta path. Settles any crashed refresh FIRST:
    a stale _commit.json left by a killed refresh would otherwise be
    replayed by the next open ON TOP of this fresh publish, splicing the
    dead refresh's staged dirs into a rebuilt index (r9 review)."""
    if os.path.isdir(index_dir):
        recover(index_dir)
    _write_layout(index_dir, n_buckets)
    bkt = _bucket_col("term", n_buckets).alias("term_bucket")
    _write_bucketed(index.postings.select("doc_id", "term", "tf", bkt),
                    os.path.join(index_dir, "postings"), n_buckets)
    _write_bucketed(
        index.scoring_view().select("doc_id", "term", "tf", "dl", "df", bkt),
        os.path.join(index_dir, "scoring"), n_buckets)
    index.doc_len.write.mode("overwrite").parquet(
        os.path.join(index_dir, "doc_len"))
    index.term_df.write.mode("overwrite").parquet(
        os.path.join(index_dir, "term_df"))
    index.stats.write.mode("overwrite").parquet(
        os.path.join(index_dir, "stats"))
    index.doc_norm().write.mode("overwrite").parquet(
        os.path.join(index_dir, "doc_norm"))


def open_index(spark: SparkSession, index_dir: str) -> bm25.LexicalIndex:
    """Reopen a published index — NO corpus scan, no tokenization, no
    shuffle: every frame is a parquet read, the scoring view included
    (set directly so `scoring_view()` never rebuilds the joins). The
    returned index carries a `prune` hook mapping a query's term list to
    its bucket predicate, so `bm25.score_terms` scans only the term
    buckets the query can match (PartitionFilters at planning time).
    Settles any interrupted refresh first (see `recover`)."""
    recover(index_dir)
    n_buckets = read_layout(index_dir)

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
    if os.path.isdir(index_dir):
        recover(index_dir)  # settle a crashed refresh before staleness
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

    CRASH-SAFE: every new file is staged under `.refresh-staging/` while
    the live tree still serves the old index, then a journal of
    rename/delete ops commits atomically and replays — a kill at any
    point leaves a reopen seeing either the old or the new index, never a
    mix (see `recover`; kill-mid-refresh tested). Degenerate shapes that
    bucket-level swaps cannot express — a batch that empties EVERY
    surviving bucket, or a refresh on top of such an emptied store — fall
    back to whole-table swaps, leaving an empty-but-schema'd placeholder
    file so the store stays openable (ADVICE r8: an all-emptied store
    previously lost its last data file and failed schema inference).

    Returns the reopened index. Rebuild-equivalence with a from-scratch
    publish over the merged corpus is pinned by
    tests/test_index_store.py."""
    recover(index_dir)
    base = open_index(spark, index_dir)
    n_buckets = read_layout(index_dir)
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
                                                  id_col).select("term"))
                     .distinct())
    touched = sorted({bucket_of(r.term, n_buckets)
                      for r in touched_terms.collect()})

    # STAGE: all writes land under .refresh-staging while the live tree
    # (which the refreshed plans lazily read) stays untouched — no
    # checkpoint needed, no read-while-overwrite hazard by construction.
    staging = os.path.join(index_dir, STAGING_NAME)
    shutil.rmtree(staging, ignore_errors=True)
    stg = lambda name: os.path.join(staging, name)  # noqa: E731
    bkt = _bucket_col("term", n_buckets).alias("term_bucket")
    ops: list[dict] = []
    if touched:
        new_post = (refreshed.postings
                    .select("doc_id", "term", "tf", bkt)
                    .filter(F.col("term_bucket").isin(touched)))
        new_sc = (refreshed.scoring_view()
                  .select("doc_id", "term", "tf", "dl", "df", bkt)
                  .filter(F.col("term_bucket").isin(touched)))
        _write_bucketed(new_post, stg("postings"), n_buckets)
        _write_bucketed(new_sc, stg("scoring"), n_buckets)
        still = _bucket_dirs(stg("postings"))
        existing = _bucket_dirs(os.path.join(index_dir, "postings"))
        emptied = ({f"term_bucket={b}" for b in touched} & existing) - still
        if existing and (existing - emptied or still):
            # Delta shape: swap the touched bucket dirs that survive,
            # delete the ones the batch emptied (a lake does the same as
            # a metadata-only partition REPLACE/DROP in one snapshot).
            for tbl in ("postings", "scoring"):
                ops += [{"op": "swap_dir", "src": f"{STAGING_NAME}/{tbl}/{d}",
                         "dst": f"{tbl}/{d}"} for d in sorted(still)]
                ops += [{"op": "remove_dir", "dst": f"{tbl}/{d}"}
                        for d in sorted(emptied)]
        else:
            # Whole-table shape: either the base store holds no bucket
            # dirs (an earlier all-emptied refresh left the placeholder —
            # its root data files cannot mix with partition dirs), or
            # this batch empties every surviving bucket. In both cases
            # the touched-filtered frames ARE the complete tables (every
            # refreshed posting's term came from a dropped doc or the
            # batch, so its bucket is in `touched`).
            if not still:
                # empty-but-schema'd placeholder: partitioned writes of
                # zero rows produce no files and the store would stop
                # inferring a schema — write one empty non-partitioned
                # file instead (term_bucket becomes a data column, which
                # reads and prunes identically).
                new_post.limit(0).write.mode("overwrite").parquet(
                    stg("postings"))
                new_sc.limit(0).write.mode("overwrite").parquet(
                    stg("scoring"))
            ops += [{"op": "swap_dir", "src": f"{STAGING_NAME}/{tbl}",
                     "dst": tbl} for tbl in ("postings", "scoring")]
    for name, df in (("doc_len", refreshed.doc_len),
                     ("term_df", refreshed.term_df),
                     ("stats", refreshed.stats),
                     ("doc_norm", refreshed.doc_norm())):
        df.write.mode("overwrite").parquet(stg(name))
        ops.append({"op": "swap_dir", "src": f"{STAGING_NAME}/{name}",
                    "dst": name})

    if corpus_path is not None:
        if n_rows is None:
            n_rows = int(spark.read.parquet(stg("stats")).first().n_docs)
        os.makedirs(staging, exist_ok=True)
        with open(stg(MANIFEST_NAME), "w") as fh:
            fh.write(lexical_manifest(corpus_path, n_rows,
                                      n_buckets).to_json())
        ops.append({"op": "swap_file", "src": f"{STAGING_NAME}/{MANIFEST_NAME}",
                    "dst": MANIFEST_NAME})

    # COMMIT: journal lands atomically, then the idempotent replay; a kill
    # anywhere in between is rolled forward by the next recover().
    commit(index_dir, ops)
    return open_index(spark, index_dir)


def index_is_fresh(index_dir: str, corpus_path: str, n_rows: int,
                   n_buckets: int = DEFAULT_BUCKETS) -> bool:
    """True iff the published index would be reused as-is (manifest
    matches the current corpus identity)."""
    from .manifest import staleness_reasons
    if os.path.isdir(index_dir):
        recover(index_dir)  # a crashed refresh may hold the newer manifest
    return not staleness_reasons(
        read_manifest(index_dir),
        lexical_manifest(corpus_path, n_rows, n_buckets))
