"""Published on-disk DERIVED-FRAME stores — the doc-bucket-partitioned
durable home for every per-doc derivation the dedup and text-stats
families read: positional span-dedup windows (Lee et al. 2022), shingle
sets, simhash fingerprints, winnowed fingerprint selections, minhash
signatures and per-doc text signals. One module because they share every
property that matters:

- each derivation is PER-DOC (a row depends only on its own document's
  text), so a delta refresh recomputing only the changed docs is exact;
- rows are keyed by `doc_id` and consumed by CORPUS-WIDE key
  aggregations/joins, so no partition predicate helps them and
  partitioning serves MAINTENANCE, not pruning: doc-hash `dbucket` dirs
  mean a changed doc rewrites one bucket, never the table (key-partitioned
  dirs would invert that — every doc scatters over all key buckets, making
  the delta a full rewrite), and at lake scale the bucket count is the
  write-parallelism knob;
- the expensive part is the text pass (tokenize/sha256), which a second
  session must never repay — the reference reopens its prebuilt FTS /
  vector indexes at startup for the same reason
  (its `mcp_server/apps/embeddings.py:224-255`).

Layout under ``<index_dir>/``::

    _flayout.json            {"deriver", "params", "n_buckets",
                              "id_col", "derived"}
    _index_manifest.json     staleness manifest (sources.manifest)
    rows/dbucket=K/          derived rows, doc-sorted in-file,
                             partitioned by hash(doc_id)

The deriver is a NAME into the module registry (`DERIVERS`), with its
parameters stamped in the layout — a reopened store can therefore
refresh itself with the exact derivation it was published under, and a
parameter change is a different model identity (staleness rebuild), the
same rule every other store follows. Writes go through the store core
(`sources.commit`): `write_parted_table` at publish (a zero-row
derivation publishes an empty-but-schema'd table that reopens like any
other) and `partitioned_refresh` for deltas. The bucket count derives
from the doc count (`window_buckets`) unless overridden.
"""

from __future__ import annotations

import os
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from .commit import (partitioned_refresh, read_sidecar, recover,
                     write_parted_table, write_sidecar)
from .manifest import IndexManifest, ensure_index, source_fingerprint

FLAYOUT_NAME = "_flayout.json"
FRAME_MODEL = "frame-index-v1"
DEFAULT_DBUCKETS = 16     # floor of the derived bucket count
MAX_DBUCKETS = 65536      # sidecar/namenode-friendly directory bound
WINDOW_BUCKET_DOCS = 2048  # target docs per bucket dir at publish time


def window_buckets(n_docs: int) -> int:
    """Derived doc-hash bucket count — the write-parallelism knob sized
    from corpus stats at publish time: the smallest power of two holding
    expected <= WINDOW_BUCKET_DOCS docs per bucket, clamped to
    [DEFAULT_DBUCKETS, MAX_DBUCKETS]. Power-of-two steps + the clamp
    keep the value a step function of the count (no flapping on small
    growth); pure integer arithmetic so two sessions derive identically.
    A delta refresh rewrites one bucket per changed doc-hash, so at any
    N the rewrite unit stays ~WINDOW_BUCKET_DOCS docs' rows; the
    manifest carries the value, so growth across a boundary is a
    STALENESS REBUILD at the new geometry (the vector store's sqrt-rule
    discipline), never a silently mis-sized reuse."""
    need = (max(int(n_docs), 1) + WINDOW_BUCKET_DOCS - 1) \
        // WINDOW_BUCKET_DOCS
    b = 1 << (need - 1).bit_length()
    return max(DEFAULT_DBUCKETS, min(MAX_DBUCKETS, b))


def _dbucket(id_col: str, n_buckets: int):
    """Stable doc-hash partition value. Writer and refresher must agree
    (the value is stored data, recorded in the layout); no oracle ever
    reads it, so the hash needs stability, not cross-engine parity."""
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int")


def _derive_windows(docs: DataFrame, params: dict) -> DataFrame:
    return dedup.window_index(docs, int(params["w"]), "text", "doc_id")


def _derive_shingles(docs: DataFrame, params: dict) -> DataFrame:
    return dedup._collapsed_shingles_lazy(docs, "text", "doc_id",
                                          int(params["w"]))


def _derive_simhash(docs: DataFrame, params: dict) -> DataFrame:
    return dedup.simhash_long(docs, n_bits=int(params["n_bits"]))


def _derive_winnow(docs: DataFrame, params: dict) -> DataFrame:
    sel = dedup._winnow_selected(docs, int(params["w"]),
                                 int(params["guarantee"]),
                                 "text", "doc_id")
    return sel.select("doc_id", "n_windows", "_sel").distinct()


def _derive_minhash(docs: DataFrame, params: dict) -> DataFrame:
    """Per-doc minhash SIGNATURES (round-11 verdict item 7: the shingle
    frame was durable but the signature table on top was recomputed per
    session): h0..h{n-1} minimums over the doc's own shingle digests —
    per-doc independent because the signature is a pure function of the
    doc's text. One store at the widest consumer's n_hashes serves
    narrower consumers too: per-slice minimums are independent, so
    h0..h{k-1} of an n-hash signature IS the k-hash signature."""
    sharr = dedup._collapsed_shingles_lazy(docs, "text", "doc_id",
                                           int(params["w"]))
    return dedup.minhash_signatures(sharr.select("doc_id", "shingles"),
                                    int(params["n_hashes"]))


def _derive_textsignals(docs: DataFrame, params: dict) -> DataFrame:
    """Per-doc text-analysis signals (round-11 verdict item 7's second
    family): predicted language, quality metrics, token-count
    estimators, and the exact-dedup fingerprint in ONE wide per-doc
    frame — every column a pure function of the doc's own text (the
    corpus-global layers on top — NB training, KL/PSI drift — stay
    in-plan, exactly the registry's per-doc-independence contract). The
    cleaning/funnel/profile consumers aggregate over this store instead
    of re-paying the tokenize/regex pass per session."""
    from ..operators import textstats

    pred = textstats.with_predicted_lang(docs)
    qm = textstats.quality_metrics(pred, keep=("lang", "source",
                                               "predicted"))
    tc = textstats.token_counts(docs)
    fp = textstats.fingerprint(docs)
    return qm.join(tc, "doc_id").join(fp, "doc_id")


# name -> (docs, params) -> per-doc derived rows (must include doc_id).
# Every deriver here is per-doc independent — the property that makes
# the shared delta refresh exact; a corpus-global derivation (df counts,
# trained codebooks) does NOT belong in this registry.
DERIVERS = {
    "windows": _derive_windows,
    "shingles": _derive_shingles,
    "simhash": _derive_simhash,
    "winnow": _derive_winnow,
    "minhash": _derive_minhash,
    "textsignals": _derive_textsignals,
}

# Input columns each deriver reads from the corpus (the refresh core
# projects the changed batch down to these before re-deriving); text-only
# derivers stay on the default.
DERIVER_INPUT_COLS = {
    "textsignals": ("doc_id", "text", "lang", "source"),
}
DEFAULT_INPUT_COLS = ("doc_id", "text")


def _params_token(params: dict) -> str:
    return ",".join(f"{k}={params[k]}" for k in sorted(params))


def frame_manifest(source_path: str, n_docs: int, deriver: str,
                   params: dict, n_buckets: int) -> IndexManifest:
    """Staleness identity: deriver name + its parameters + bucket layout
    + doc count + source fingerprint."""
    model = (f"{FRAME_MODEL}-{deriver}-{_params_token(params)}"
             f"-b{n_buckets}")
    return IndexManifest(model_name=model, dim=0, n_rows=n_docs,
                         source_files=source_fingerprint([source_path]))


def publish_frame_store(docs: DataFrame, index_dir: str, deriver: str,
                        params: dict, n_buckets: int | None = None) -> None:
    """Full overwrite publish: run the named derivation once and write
    it doc-bucket-partitioned. `n_buckets=None` derives the bucket count
    from the doc count (`window_buckets`, stamped as derived). Settles
    any crashed refresh first."""
    derived = n_buckets is None
    _publish(docs, index_dir, deriver, params,
             window_buckets(docs.count()) if derived else n_buckets,
             derived)


def _publish(docs: DataFrame, index_dir: str, deriver: str, params: dict,
             n_buckets: int, derived: bool) -> None:
    """`publish_frame_store` once the bucket count is known; `derived`
    stamps whether it came from the doc count."""
    if deriver not in DERIVERS:
        raise KeyError(f"unknown frame deriver {deriver!r}; "
                       f"registry has {sorted(DERIVERS)}")
    recover(index_dir)
    write_sidecar(index_dir, FLAYOUT_NAME,
                  {"deriver": deriver, "params": params,
                   "n_buckets": n_buckets, "id_col": "doc_id",
                   "derived": derived})
    rows = (DERIVERS[deriver](docs, params)
            .select("*", _dbucket("doc_id", n_buckets).alias("dbucket")))
    write_parted_table(rows, os.path.join(index_dir, "rows"), "dbucket",
                       "doc_id")


class PublishedFrameStore:
    """A reopened derived-frame store: the doc-bucket-partitioned rows
    plus the stamped derivation identity. Consumers run their own
    aggregations/joins over `.rows` — no per-session text pass."""

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        recover(index_dir)
        self.spark, self.index_dir = spark, index_dir
        lay = read_sidecar(index_dir, FLAYOUT_NAME)
        self.deriver = lay["deriver"]
        self.params = lay["params"]
        self.n_buckets = int(lay["n_buckets"])
        self.rows_path = os.path.join(index_dir, "rows")

    @cached_property
    def rows(self) -> DataFrame:
        """The stored rows, read once per handle (a parquet read plans a
        schema job; every getter call reuses this frame)."""
        return self.spark.read.parquet(self.rows_path).drop("dbucket")


def open_frame_store(spark: SparkSession,
                     index_dir: str) -> PublishedFrameStore:
    return PublishedFrameStore(spark, index_dir)


def ensure_frame_store(spark: SparkSession, docs: DataFrame,
                       source_path: str, index_dir: str, deriver: str,
                       params: dict, n_buckets: int | None = None,
                       ) -> tuple[PublishedFrameStore, list[str]]:
    """Build-or-reuse (the `ensure_vector_index` discipline): publishes
    iff the manifest says the corpus (or the derivation identity)
    drifted, opens the artifact either way."""
    n_docs = docs.count()
    derived = n_buckets is None
    if derived:
        n_buckets = window_buckets(n_docs)
    current = frame_manifest(source_path, n_docs, deriver, params,
                             n_buckets)
    # the count above already sized a derived layout: publish with it
    # rather than counting the corpus again
    reasons = ensure_index(
        index_dir, current,
        lambda: _publish(docs, index_dir, deriver, params, n_buckets,
                         derived))
    return open_frame_store(spark, index_dir), reasons


def write_frame_refresh(spark: SparkSession, index_dir: str,
                        changed_docs: DataFrame,
                        removed_ids: DataFrame | None = None,
                        source_path: str | None = None,
                        n_docs: int | None = None,
                        ) -> PublishedFrameStore:
    """Incremental write-back: re-derive ONLY the changed docs' rows
    (exact because every registered deriver is per-doc independent) and
    rewrite only the `dbucket` dirs the batch's doc ids hash to, through
    the shared staged-journal commit — kill-safe at any point. The
    derivation and its parameters come from the STORE's layout stamp,
    never from the caller, so a refresh can't drift from publish-time
    semantics."""
    if source_path is not None and n_docs is None:
        raise ValueError("write_frame_refresh needs n_docs alongside "
                         "source_path: the manifest's n_rows counts DOCS "
                         "and the generic refresh core would count index "
                         "rows")
    fidx = open_frame_store(spark, index_dir)  # settles a crashed refresh
    derive = DERIVERS[fidx.deriver]

    def tag(df: DataFrame) -> DataFrame:
        return (derive(df, fidx.params)
                .select("*", _dbucket("doc_id", fidx.n_buckets)
                        .alias("dbucket")))

    partitioned_refresh(
        spark, index_dir, part_col="dbucket",
        specs=[{"table": "rows",
                "live": spark.read.parquet(fidx.rows_path), "tag": tag}],
        id_col="doc_id",
        changed=changed_docs.select(
            *DERIVER_INPUT_COLS.get(fidx.deriver, DEFAULT_INPUT_COLS)),
        removed_ids=removed_ids,
        manifest=(None if source_path is None else
                  lambda n: frame_manifest(source_path, n_docs, fidx.deriver,
                                           fidx.params, fidx.n_buckets)),
        n_rows=n_docs,
        # dbucket is a pure function of doc_id — no live-store probe scan
        part_of=lambda c: _dbucket(c, fidx.n_buckets))
    return open_frame_store(spark, index_dir)
