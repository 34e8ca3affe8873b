"""Structured Streaming surface (SURVEY §2.11): the reference has no
streaming operators — its closest analogues are checksum-incremental
indexing and resumable scrapes. Both map naturally onto file-source streams
with `Trigger.AvailableNow`, and every stream here is drained by one of two
calls:

- `_drain_to_memory`: the stateful queries over a table read AS A STREAM
  (`_table_stream`) — the event-time rollup, gap sessions, per-user totals
  and arrival-time dedup — land in a memory sink. AvailableNow drains all
  available files in one checkpointed run, so each result equals its batch
  counterpart, which is exactly what the DuckDB oracles check. At scale
  the same queries run continuously against arriving files with state
  bounded by the watermark.
- `_drain`: every `foreachBatch` loop. `stream_merge_jsonl` is the
  incremental-ingest DAG (§3.3) as a streaming pipe — new JSONL files
  arrive, each micro-batch MERGEs into the target table (checksum skip
  included). On a lake deployment the `foreachBatch` body is a
  Delta/Iceberg `MERGE INTO`; here it is the plain-parquet merge
  (read-merge-rewrite), which is the honest local equivalent.

The store twins — streaming queries that keep a lexical index or a
published store fresh while a change feed arrives (the reference's per-doc
FTS upsert loop, `mcp_server/apps/fts.py:150-181`) — share one harness,
`_refresh_twin`, and one of two change feeds, each with one SQL replay of
the corpus it drains to: `plans.lexical.doc_change_feed` /
`MERGED_DOCS_SQL` for the postings, window, simhash and minhash twins,
`_vector_change_feed` / `_MERGED_VECTORS_SQL` for the vector and LSH
twins.

Snapshot-read recipe for external readers of a merge target: the publish
protocol swaps each staged partition with two atomic renames, so after a
crash a partition can be briefly absent until the next batch recovers it.
A reader that must never observe that window calls
``recover_pending_publish(target_dir)`` first (completes any
committed-but-unfinished publish; no-op on a clean table), then lists and
snapshots the file set it will read:

    recover_pending_publish(target)
    df = spark.read.parquet(target)   # or snapshot the file list first

On a lake deployment the table format's own snapshot isolation replaces
this recipe; the helper exists because plain parquet directories have no
commit log.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.lexical import MERGED_DOCS_SQL, doc_change_feed, split_feed
from ..sources import commit as commit_store
from ..sources import load_table
from ..sources.ingest import merge_upsert

_MEMSINK_IDS = itertools.count()


def sf_token(sf_dir: str) -> str:
    """Stable short token for a scale directory, baked into memory-sink
    table names so `plans.pins.release_sf_pins(spark, sf_dir)` can drop
    exactly the tables belonging to ONE scale dir — a mid-session release
    of the warm dir must not tear down another SF's live sink tables."""
    import hashlib
    return hashlib.md5(
        os.path.abspath(sf_dir).encode("utf-8")).hexdigest()[:8]


def _memsink_name(kind: str, sf_dir: str) -> str:
    return f"stream_{kind}_sf{sf_token(sf_dir)}_{next(_MEMSINK_IDS)}"


def _drain(stream: DataFrame, process, ckpt: str) -> None:
    """Run `process(batch_df, batch_id)` on every micro-batch available
    now, checkpointed at `ckpt`, and wait until the source is drained."""
    (stream.writeStream.foreachBatch(process)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())


def _drain_to_memory(df: DataFrame, kind: str, sf_dir: str,
                     mode: str) -> DataFrame:
    """Drain the streaming `df` into a memory sink named for `kind` and
    `sf_dir` (see `sf_token`) with output mode `mode`; returns the sink
    table."""
    name = _memsink_name(kind, sf_dir)
    (df.writeStream.format("memory").queryName(name)
     .outputMode(mode).trigger(availableNow=True).start().awaitTermination())
    return df.sparkSession.table(name)


def _table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over `<sf_dir>/<table>.parquet`, its schema taken
    from a batch probe of the same file."""
    fname = f"{table}.parquet"
    schema = spark.read.parquet(os.path.join(sf_dir, fname)).schema
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", fname).parquet(sf_dir))


def streaming_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window event rollup computed BY THE STREAMING ENGINE
    (file source -> watermark -> window agg -> memory sink, AvailableNow),
    returned as the finished batch DataFrame.

    Streaming constraints shape the plan: `countDistinct` is unsupported in
    streaming aggs (use approx_count_distinct in production); the memory
    sink with complete output mode holds the final state table."""
    agg = (_events_stream(spark, sf_dir)
           .withWatermark("ts", "1 day")
           .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("event_count"),
                F.round(F.sum("value"), 4).alias("sum_value")))
    return (_drain_to_memory(agg, "rollup", sf_dir, "complete")
            .select(F.to_date(F.col("w.start")).alias("day"),
                    "event_type", "event_count", "sum_value"))


SESSION_GAP = "30 minutes"


def _events_stream(spark: SparkSession, sf_dir: str):
    """`_table_stream` over the events table under the nanos-as-long conf,
    with event-time normalization. The `ts` column must land as TIMESTAMP
    for `withWatermark`: nano-long payloads are downcast to micros, and
    TIMESTAMP_NTZ (how recent parquet writers encode naive timestamps) is
    cast — value-preserving because the session timezone is pinned to UTC
    in session.py."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = _table_stream(spark, sf_dir, "events")
    dt = dict(stream.dtypes).get("ts")
    if dt == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with the native `session_window` operator:
    per-user sessions close after 30 idle minutes. State is one open window
    per user bounded by the watermark — the canonical streaming-only
    operator the batch engine has no primitive for (the batch oracle needs
    a lag + running-sum window reconstruction).

    Session semantics (matched by the oracle): windows are half-open
    [start, last_ts + gap); an event exactly `gap` after its predecessor
    starts a NEW session."""
    agg = (_events_stream(spark, sf_dir)
           .withWatermark("ts", "1 day")
           .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value")))
    return (_drain_to_memory(agg, "sessions", sf_dir, "complete")
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value"))


def streaming_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the arrival-time `dropDuplicates` state
    operator (one state row per key on its shuffle partition — the
    streaming twin of the batch checksum skip at
    /root/reference/mcp_server/apps/ingestion.py:146). Documents stream
    from the file source, duplicates are dropped on (source, checksum) as
    they arrive, survivors land in the sink; the returned rollup counts
    survivors per source. Keyed on (source, checksum) so the result is
    arrival-order independent — what the batch oracle checks with
    count(DISTINCT text). In production the key set is bounded with
    `withWatermark` + dropDuplicatesWithinWatermark; AvailableNow over a
    static snapshot has no late data, so state here is the full key set."""
    kept = (_table_stream(spark, sf_dir, "documents")
            .withColumn("checksum", F.sha2(F.col("text"), 256))
            .dropDuplicates(["source", "checksum"]))
    return (_drain_to_memory(kept, "dedup", sf_dir, "append")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_unique_docs")))


def streaming_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation AT INGEST — the alerting deployment of reverse search:
    documents stream from the file source and each micro-batch runs the
    SAME indexed two-phase core as the batch operator inside
    `foreachBatch` (bm25.percolate with term_df: every stored query is
    routed through its rarest corpus term, the arriving docs meet only
    the queries whose routing term they contain, then candidates are
    verified conjunctively — per-doc candidate count is bounded by
    rare-term postings, never |queries|, so millions of saved searches
    cost what their routing-term matches cost). foreachBatch is what
    makes the core reusable verbatim: the verify step fans candidates
    out to the batch's own term rows, a self-join Structured Streaming
    would reject on an unbounded stream but which is plain batch algebra
    per micro-batch. Alerts land in idempotent batch=N parquet sinks
    (at-least-once replay overwrites, never double-appends). Per-doc
    matching is stateless, so the drained AvailableNow result equals
    batch `percolate_matches` exactly — the shared oracle checks that."""
    from ..functions.text import tokenize
    from ..operators.bm25 import percolate
    from ..plans.lexical import BATCH_QUERIES, get_index

    term_df = get_index(spark, sf_dir).term_df
    stream = _table_stream(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_percolate_")
    out = os.path.join(work, "alerts")
    try:
        def process(batch_df: DataFrame, batch_id: int) -> None:
            toks = (batch_df.select(
                "doc_id",
                F.explode(F.array_distinct(tokenize(F.col("text"))))
                .alias("term")))
            alerts = percolate(spark, toks, BATCH_QUERIES, term_df=term_df)
            alerts.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}"))

        _drain(stream, process, os.path.join(work, "ckpt"))
        if not os.path.isdir(out):
            return spark.createDataFrame([], "query_id int, doc_id long")
        return (spark.read.parquet(out)
                .select("query_id", "doc_id").localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_user_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via `applyInPandasWithState`:
    per-user running totals held in explicit GroupState, updated rows
    emitted each micro-batch. The template for operators Spark's built-in
    streaming aggs can't express (per-key model state, custom eviction);
    state lives per key on the shuffle partition that owns it, so the
    operator scales horizontally like any keyed agg.

    AvailableNow drains the (single-file) source in one micro-batch, so the
    emitted updates equal the batch per-user totals — what the oracle
    checks."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, float(total)))
        import pandas as pd
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [round(total, 4)]})

    out = (_events_stream(spark, sf_dir)
           .select("user_id", "value")
           .groupBy("user_id")
           .applyInPandasWithState(
               update_totals,
               outputStructType="user_id long, n_events long, sum_value double",
               stateStructType="n long, total double",
               outputMode="update",
               timeoutConf=GroupStateTimeout.NoTimeout))
    return _drain_to_memory(out, "totals", sf_dir, "update")


MERGE_PART_COL = "part"
MERGE_N_PARTS = 16
MERGE_MANIFEST = "_merge_commit.json"

# Test hook: called with the partition index before each publish rename —
# tests inject a crash between partition renames to exercise recovery.
_PUBLISH_FAULT = None


def _apply_publish(target_dir: str, staging_dir: str, parts: list) -> None:
    """Complete a committed publish: swap every staged partition dir into
    the target with two os.renames each (old aside, staged in — rename is
    atomic on a single filesystem), then clear the manifest. Idempotent —
    a partition whose staged dir is already gone was published before a
    crash, and a leftover `.old` aside dir is superseded content (the
    staged partition holds the FULL merged existing ∪ incoming rows) so
    it is simply GC'd.

    Rename-aside rather than rmtree-before-rename: the old rows are never
    destroyed before the new rows are in place, so a crash at ANY point
    loses nothing and `_recover_pending_publish` completes the swap. A
    concurrent external reader can still observe a partition briefly
    absent between the two renames — bounded by two directory renames,
    not by a recursive delete; readers that must never see that window
    should call `recover_pending_publish` first and snapshot the file
    list (or read through a lake-format table layer, which is what this
    publish protocol is standing in for)."""
    for i, p in enumerate(parts):
        if _PUBLISH_FAULT is not None:
            _PUBLISH_FAULT(i)
        sdir = os.path.join(staging_dir, f"{MERGE_PART_COL}={p}")
        tdir = os.path.join(target_dir, f"{MERGE_PART_COL}={p}")
        # Dot-prefixed so Spark/Hadoop partition discovery ignores it — a
        # visible `part=N.old` dir would poison partition-value inference.
        aside = os.path.join(target_dir, f".{MERGE_PART_COL}={p}.old")
        shutil.rmtree(aside, ignore_errors=True)  # superseded content
        if not os.path.exists(sdir):
            continue
        if os.path.exists(tdir):
            os.rename(tdir, aside)
        os.rename(sdir, tdir)
        shutil.rmtree(aside, ignore_errors=True)
    os.remove(os.path.join(target_dir, MERGE_MANIFEST))
    shutil.rmtree(staging_dir, ignore_errors=True)


def _recover_pending_publish(target_dir: str) -> None:
    """Crash recovery, run before every batch (and safe to run anytime).
    The manifest is the commit point: if present, the staging write had
    finished — finish the renames; if absent, any staging dirs are
    pre-commit leftovers — the target was never touched, so just GC them."""
    import glob as _glob
    import json

    mpath = os.path.join(target_dir, MERGE_MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as fh:
            m = json.load(fh)
        if os.path.exists(m["staging"]):
            _apply_publish(target_dir, m["staging"], m["parts"])
        else:
            os.remove(mpath)
        return
    for stale in _glob.glob(f"{target_dir}.staging-*"):
        shutil.rmtree(stale, ignore_errors=True)
    for stale in _glob.glob(os.path.join(target_dir,
                                         f".{MERGE_PART_COL}=*.old")):
        shutil.rmtree(stale, ignore_errors=True)


def recover_pending_publish(target_dir: str) -> None:
    """Public read-path hook: external readers that must not observe the
    bounded publish window (a partition absent between its two swap
    renames after a crash) call this before listing files — it completes
    any committed-but-unfinished publish and GCs aside dirs. No-op on a
    clean table."""
    _recover_pending_publish(target_dir)


def stream_merge_jsonl(spark: SparkSession, src_dir: str, schema: StructType,
                       target_dir: str, checkpoint_dir: str,
                       key: str = "doc_id",
                       n_parts: int = MERGE_N_PARTS,
                       transform=None) -> None:
    """Run one AvailableNow pass: stream JSONL files from `src_dir`, MERGE
    each micro-batch into the parquet table at `target_dir` keyed on `key`.
    Re-running after new files arrive processes ONLY the new files (the
    checkpoint tracks consumed inputs) — the streaming twin of the
    checksum-incremental batch path.

    The target is hash-partitioned on the merge key (`part = pmod(hash(key),
    n_parts)`): only the partitions the batch's keys land in are read
    (partition-pruned scan), merged, and republished — cost is O(touched
    partitions), not O(table), per batch.

    CRASH SAFETY (the plain-parquet analogue of a lake format's atomic
    `MERGE INTO`): merged partitions are fully written to a staging dir
    first; an atomically-replaced manifest inside the target is the commit
    point; publish then swaps each partition with two os.renames (old
    aside, staged in) — no rows are ever destroyed before their
    replacement is in place. A crash anywhere loses nothing: before the
    manifest exists the target is untouched; after it exists
    `_recover_pending_publish` (run at the start of every batch, or by
    external readers via `recover_pending_publish`) finishes the swaps
    idempotently. Honest caveat for external readers WITHOUT the recovery
    call: between a partition's two renames (and after a crash in that
    window, until the next recovery) that partition reads as absent —
    bounded by two directory renames, never a torn mix of old and new
    rows. foreachBatch replays after a crash re-run the same protocol, so
    checkpoint replay converges to the batch-MERGE result."""

    part_of = F.pmod(F.hash(F.col(key)), F.lit(n_parts))

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        import json

        sess = batch.sparkSession
        incoming = batch.dropDuplicates([key])
        if transform is not None:
            # Per-batch derivation (e.g. embed arriving text): the target
            # then maintains the DERIVED table, and derivation cost per
            # pass tracks the ARRIVING rows only — the streaming twin of
            # the checksum-driven re-embed path.
            incoming = transform(incoming)
        # Lazy pin: the batch derivation (e.g. the embed transform) was
        # evaluated TWICE — once under the touched-partition probe, once
        # under the staged write; the checkpoint folds it into the first
        # consuming job and the write reads the pinned blocks (§1.2).
        incoming = (incoming.withColumn(MERGE_PART_COL, part_of)
                    .localCheckpoint(eager=False))
        staging = f"{target_dir}.staging-{batch_id}-{os.getpid()}"
        if os.path.exists(target_dir):
            _recover_pending_publish(target_dir)
            # Touched-partition list via a global collect_set aggregate:
            # each task ships its own <= n_parts-value set, so the
            # driver round-trip is bounded by n_parts regardless of the
            # micro-batch's ROW count (round-13 ADVICE — a bare collect
            # scaled with batch rows; a .distinct() paid a full exchange
            # of batch-sized rows).
            touched = sorted(incoming.agg(
                F.collect_set(MERGE_PART_COL)).collect()[0][0] or [])
            existing = (sess.read.parquet(target_dir)
                        .filter(F.col(MERGE_PART_COL).isin(touched)))
            merged = merge_upsert(existing, incoming, key=key)
            # rebalance: writer-task count tracks the staged bytes (AQE)
            # instead of shuffle.partitions — a small batch's staged
            # write was paying ~32 near-empty writer commits per pass
            # (vector_store._write_parted rationale)
            (merged.hint("rebalance", MERGE_PART_COL)
             .write.mode("overwrite")
             .partitionBy(MERGE_PART_COL).parquet(staging))
            # Commit point: manifest lands atomically (write + os.replace).
            fd, tmp = tempfile.mkstemp(dir=target_dir, prefix=".commit-")
            with os.fdopen(fd, "w") as fh:
                json.dump({"staging": staging, "parts": touched}, fh)
            os.replace(tmp, os.path.join(target_dir, MERGE_MANIFEST))
            _apply_publish(target_dir, staging, touched)
        else:
            # Initial load: stage the whole table, publish with ONE rename.
            (incoming.hint("rebalance", MERGE_PART_COL)
             .write.mode("overwrite")
             .partitionBy(MERGE_PART_COL).parquet(staging))
            os.rename(staging, target_dir)

    _drain(spark.readStream.schema(schema).json(src_dir), merge_batch,
           checkpoint_dir)


def streaming_merge_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming-MERGE correctness query: batch 1 streams the
    corpus itself into an empty target, batch 2 streams the lifecycle
    synthetic "second arrival" (same derivation as
    `plans.lifecycle.incremental_merge_preview`), each as its own
    AvailableNow pass over a JSONL source dir (the checkpoint ensures pass
    2 reads ONLY the new files). The final merged table must equal the
    batch MERGE — the oracle IS `incremental_merge_preview`'s SQL, so the
    streaming path is hash-checked against batch semantics, not just
    row-counted."""
    from ..plans.lifecycle import _incoming

    work = tempfile.mkdtemp(prefix="stream_merge_q_")
    src = os.path.join(work, "src")
    tgt = os.path.join(work, "tgt")
    ckpt = os.path.join(work, "ckpt")
    schema = spark.createDataFrame([], "doc_id long, text string").schema

    docs = load_table(spark, sf_dir, "documents")
    try:
        docs.select("doc_id", "text").coalesce(4).write.mode("overwrite").json(src)
        stream_merge_jsonl(spark, src, schema, tgt, ckpt)
        (_incoming(docs).select("doc_id", "text")
         .coalesce(4).write.mode("append").json(src))
        stream_merge_jsonl(spark, src, schema, tgt, ckpt)
        # Materialize the merged table into block storage so the workdir
        # (full corpus as JSONL + target parquet + checkpoint) can be
        # removed before returning — repeated runs must not accumulate
        # corpus copies in the temp filesystem.
        return (spark.read.parquet(tgt).select("doc_id", "text")
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_embed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EMBEDDING-CACHE maintenance (S11 x streaming): arriving
    documents are embedded INSIDE the micro-batch (Arrow pandas UDF) and
    MERGEd into the vector table with the same crash-safe staged-write
    protocol as the text MERGE — so the second pass re-embeds only the
    arriving revision, never the corpus. The final cache must equal a
    batch embed of the batch-MERGE result: the oracle composes the MERGE
    SQL with the hash-encoder replay, checking incremental == from-scratch
    at the VECTOR level. Emitted exploded (doc_id, dim, value) like
    `embed_documents_preview`."""
    from ..operators.embedder import embed_column
    from ..plans.embedding import DIM
    from ..plans.lifecycle import _incoming

    def embed_tf(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            embed_column("text", DIM, backend="hash").alias("embedding"))

    work = tempfile.mkdtemp(prefix="stream_embed_q_")
    src = os.path.join(work, "src")
    tgt = os.path.join(work, "tgt")
    ckpt = os.path.join(work, "ckpt")
    schema = spark.createDataFrame([], "doc_id long, text string").schema
    docs = load_table(spark, sf_dir, "documents")
    try:
        docs.select("doc_id", "text").coalesce(4).write.mode(
            "overwrite").json(src)
        stream_merge_jsonl(spark, src, schema, tgt, ckpt, transform=embed_tf)
        (_incoming(docs).select("doc_id", "text")
         .coalesce(4).write.mode("append").json(src))
        stream_merge_jsonl(spark, src, schema, tgt, ckpt, transform=embed_tf)
        return (spark.read.parquet(tgt)
                .select("doc_id",
                        F.posexplode(F.transform(
                            "embedding", lambda x: F.round(x, 6)))
                        .alias("dim", "value"))
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time NEAR-dup gate as a stream: arriving document batches
    are shingled and minhash-signed inside each micro-batch, band-probed
    against the published band-index snapshot (`lsh_band_join` — never
    corpus x corpus), Jaccard-verified, and the verified matches plus the
    batch's own signatures land in append sinks (the match log and the
    maintained index). The probe targets the SNAPSHOT the stream started
    from — the production policy for a dedup gate (probe a static
    published index; republish periodically) — so the drained result is
    batch-order independent and equals `near_dup_incremental` exactly,
    which is what the shared oracle checks. `maxFilesPerTrigger=1` forces
    genuinely multiple micro-batches over the incoming set."""
    from ..operators import dedup as dedup_ops
    from ..plans import dedup as dedup_plans

    work = tempfile.mkdtemp(prefix="stream_neardup_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "pairs")
    idx = os.path.join(work, "index")
    try:
        docs = load_table(spark, sf_dir, "documents")
        sharr = dedup_plans.get_shingle_index(spark, sf_dir)
        is_new = (F.col("doc_id") % dedup_plans.INCR_MOD) == dedup_plans.INCR_REM
        # Old-side signatures come from the published minhash frame store
        # (same sha-slice minimums, paid once per corpus snapshot) instead
        # of re-hashing the whole old corpus per invocation — the
        # store-read discipline near_dup_minhash already follows; the
        # shared oracle still replays signatures from raw text.
        sigs_old = (dedup_plans.get_minhash_index(spark, sf_dir)
                    .filter(~is_new).localCheckpoint())

        (docs.filter(is_new).select("doc_id", "text")
         .repartition(3).write.mode("overwrite").json(src))
        schema = spark.createDataFrame([], "doc_id long, text string").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(src))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            batch_sharr = dedup_ops._collapsed_shingles(
                batch_df, "text", "doc_id")
            # pinned lazily: consumed twice (band probe + the index
            # sink), so the shingle+hash pass runs once per batch
            sigs_new = dedup_ops.minhash_signatures(
                batch_sharr, dedup_plans.N_HASHES).localCheckpoint(
                eager=False)
            cands = (dedup_ops.lsh_band_join(
                sigs_new, sigs_old,
                dedup_plans.N_HASHES, dedup_plans.BAND_SIZE)
                .select(F.col("new_id").alias("id_a"),
                        F.col("old_id").alias("id_b")))
            pairs = dedup_ops.jaccard_verify(
                cands, sharr, dedup_plans.JACCARD_THRESHOLD)
            # Idempotent-by-batch-id sinks: each micro-batch OVERWRITES its
            # own batch=N subdirectory instead of appending to a flat dir,
            # so a retried micro-batch (foreachBatch's at-least-once
            # contract) replaces its previous partial output rather than
            # double-appending match-log rows. Readers discover `batch` as
            # a partition column and drop it.
            pairs.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}"))
            sigs_new.write.mode("overwrite").parquet(
                os.path.join(idx, f"batch={batch_id}"))

        _drain(stream, process, os.path.join(work, "ckpt"))

        if not os.path.isdir(out):
            return spark.createDataFrame(
                [], "new_id long, old_id long, jaccard double")
        return (spark.read.parquet(out)
                .select(F.col("id_a").alias("new_id"),
                        F.col("id_b").alias("old_id"), "jaccard")
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _refresh_twin(spark: SparkSession, feed: DataFrame,
                  seed_dir: str | None, start, emit, prefix: str) -> DataFrame:
    """The store-twin harness: keep a store fresh while `feed` arrives.

    In a fresh workdir (`prefix`), forks the working store off the
    published one at `seed_dir` with a FILE-LEVEL clone
    (`commit.clone_store`: hardlink/copy of the settled dirs — same
    derivation identity and layout stamps, no Spark re-publish of rows
    already on disk in exactly this layout), or skips the clone when
    `seed_dir` is None (the in-session postings twin). Writes the feed as
    three parquet files (parquet round-trips every payload exactly,
    float vectors included) and streams them back one file per
    micro-batch. `start(store)` is called once, before the drain, and
    returns the per-batch `refresh(upserts, deletes)` (`split_feed` of
    each micro-batch). Returns `emit(store)`, computed before the workdir
    is removed.

    Why a drained store equals a from-scratch build of the merged corpus
    (what every twin's oracle replays): every refresh is a MERGE by id
    (delete + reinsert), so a retried micro-batch (foreachBatch's
    at-least-once contract) is idempotent, and every id appears exactly
    once across the feed (`doc_change_feed`, `_vector_change_feed`), so
    per-id delete + reinsert commutes across batches and the result is
    batch-order independent."""
    work = tempfile.mkdtemp(prefix=prefix)
    store = os.path.join(work, "store")
    src = os.path.join(work, "src")
    try:
        if seed_dir is not None:
            commit_store.clone_store(seed_dir, store)
        feed.repartition(3).write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema(feed.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        refresh = start(store)
        _drain(stream, lambda batch_df, _: refresh(*split_feed(batch_df)),
               os.path.join(work, "ckpt"))
        return emit(store)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_postings_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-index maintenance AT INGEST — the streaming twin of
    `incremental_postings_refresh` and the full analogue of the
    reference's per-doc FTS upsert loop running against an arriving feed
    (`mcp_server/apps/fts.py:150-181`): `doc_change_feed`
    drains through `_refresh_twin` with no store to clone, and each
    micro-batch is delta-merged into the evolving in-session index
    snapshot with `operators.bm25.refresh_index` — delete + reinsert of
    that batch's docs, term_df/scoring-view delta merges, exact-stats
    recompute. The drained snapshot must equal a FROM-SCRATCH build over
    the merged corpus, which is exactly what the shared
    rebuild-equivalence oracle checks. Emits the final denormalized
    scoring view (doc_id, term, tf, dl, df)."""
    from ..operators import bm25
    from ..plans.lexical import get_index

    docs = load_table(spark, sf_dir, "documents")
    state = {"idx": get_index(spark, sf_dir)}
    state["idx"].scoring_view()  # each batch exercises the delta path

    def refresh(ups: DataFrame, rms: DataFrame) -> None:
        state["idx"] = bm25.refresh_index(state["idx"], ups, rms)

    return _refresh_twin(spark, doc_change_feed(docs), None,
                         lambda _store: refresh,
                         lambda _store: state["idx"].scoring_view(),
                         "stream_postings_")


VECREF_NEW_ID_OFFSET = 1_000_000


def _vector_change_feed(emb: DataFrame) -> DataFrame:
    """The synthetic embedding change feed `(vec_id, embedding, label,
    action)` of the vector and LSH twins: revised % 5 vectors (negated —
    float-exact, replayable), new % 11 vectors under VECREF_NEW_ID_OFFSET,
    deletions of % 13 (a deletion wins over a revision). Every vec_id
    appears exactly once. `_MERGED_VECTORS_SQL` is the corpus it drains
    to."""
    vid = F.col("vec_id")
    upd = (emb.filter((vid % 5 == 0) & (vid % 13 != 0))
           .select("vec_id",
                   F.transform("embedding", lambda x: -x)
                   .alias("embedding"),
                   "label", F.lit("upsert").alias("action")))
    fresh = (emb.filter(vid % 11 == 0)
             .select((vid + VECREF_NEW_ID_OFFSET).alias("vec_id"),
                     "embedding", "label",
                     F.lit("upsert").alias("action")))
    dels = (emb.filter(vid % 13 == 0)
            .select("vec_id",
                    F.lit(None).cast("array<float>").alias("embedding"),
                    F.lit(None).cast("int").alias("label"),
                    F.lit("delete").alias("action")))
    return upd.unionByName(fresh).unionByName(dels)


# `_vector_change_feed` applied to `embeddings` in SQL: the `merged` CTE
# (vec_id, v) the vector and LSH oracles replay.
_MERGED_VECTORS_SQL = f"""merged AS (
  SELECT vec_id, list_transform(embedding, x -> -x) AS v
  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 13 <> 0
  UNION ALL
  SELECT vec_id + {VECREF_NEW_ID_OFFSET}, embedding
  FROM embeddings WHERE vec_id % 11 = 0
  UNION ALL
  SELECT vec_id, embedding
  FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 13 <> 0
)"""


def _exploded_vectors(rows: DataFrame, key) -> DataFrame:
    """A drained vector store's rows as (vec_id, key, dim, value), the
    values rounded to 6 places — the emit of the vector and LSH twins."""
    return (rows.select("vec_id", key,
                        F.posexplode(F.transform(
                            "embedding",
                            lambda x: F.round(x.cast("double"), 6)))
                        .alias("dim", "value"))
            .localCheckpoint())


def streaming_vector_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-VECTOR-store maintenance AT INGEST — the streaming twin
    of `ingest._vector_index_delta` and the vector analogue of
    `streaming_postings_refresh` (round-9 verdict item 4: the CLI ingest
    delta maintained the published cells, but a streaming corpus left
    them stale until the next batch ingest).

    `_vector_change_feed` drains through `_refresh_twin` into a clone of
    the published per-corpus-snapshot IVF store (data codebook = the
    first-IVF_CENTROIDS ids, so the whole run is SQL-replayable); each
    micro-batch is delta-merged by `sources.vector_store.
    write_vector_refresh`: only the touched cell directories rewrite, the
    codebook never moves, and every write goes through the crash-safe
    staged-journal commit. The drained store must equal a from-scratch
    publish of the merged corpus under the SAME codebook, which is
    exactly what the oracle replays (assignment recomputed from raw
    vectors, the `vector_index_cells` discipline). Emits the final store
    content exploded as (vec_id, cell, dim, value)."""
    from ..plans import semantic as sem_plans
    from ..sources import vector_store

    def start(store: str):
        # One handle for the whole drain: the codebook sidecar is
        # immutable under refresh and the table reads are lazy, so the
        # per-batch open (a centroid collect job) and the post-commit
        # reopen this loop discards are pure fixed cost (guide §1.2).
        base = vector_store.open_vector_index(spark, store)
        return lambda ups, rms: vector_store.write_vector_refresh(
            spark, store, ups, rms, vidx=base, reopen=False)

    return _refresh_twin(
        spark, _vector_change_feed(load_table(spark, sf_dir, "embeddings")),
        sem_plans.get_vector_store(spark, sf_dir, "vec").index_dir, start,
        lambda store: _exploded_vectors(
            vector_store.open_vector_index(spark, store).vectors,
            F.col("cell").cast("int").alias("cell")),
        "stream_vecref_")


def streaming_vector_refresh_oracle() -> str:
    """From-scratch replay: merge the change feed over the raw table in
    SQL, recompute every IVF assignment against the IMMUTABLE base
    codebook (the first-IVF_CENTROIDS ids' ORIGINAL vectors — refresh
    never retrains), explode the merged vectors per dimension."""
    from ..plans.semantic import IVF_CENTROIDS

    return f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
  WHERE vec_id < {IVF_CENTROIDS}
),
{_MERGED_VECTORS_SQL},
cd AS (
  SELECT vec_id, cent_id, round(sum(mv * cv), 6) AS cd
  FROM (
    SELECT m.vec_id, c.cent_id,
           CAST(unnest(m.v) AS DOUBLE) AS mv,
           CAST(unnest(c.cvec) AS DOUBLE) AS cv
    FROM merged m CROSS JOIN cents c
  )
  GROUP BY vec_id, cent_id
),
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT vec_id, cent_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cd DESC, cent_id ASC) AS rn
    FROM cd
  ) WHERE rn = 1
),
g AS (SELECT unnest(range(0, 4096)) AS j)
SELECT a.vec_id, a.cent_id AS cell, g.j AS dim,
       round(CAST(m.v[g.j + 1] AS DOUBLE), 6) AS value
FROM assign a
JOIN merged m ON a.vec_id = m.vec_id
JOIN g ON g.j < len(m.v)
"""


def streaming_lsh_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-LSH-store maintenance AT INGEST — the bucket twin of
    `streaming_vector_refresh`, closing the streaming x durable-store
    matrix (lexical postings, IVF cells, and now LSH buckets all stay
    fresh under a streaming corpus; the CLI ingest already maintained
    all three in batch).

    The same `_vector_change_feed` drains through `_refresh_twin` into a
    clone of the published `sigs/bucket=B/` store (hyperplanes = the
    first-LSH_PLANES ids, immutable under refresh — every stored bucket
    depends on them; the published n_flip governance stamp rides along
    inert — nothing in the twin resolves it). Each micro-batch is
    delta-merged by `sources.vector_store.write_lsh_refresh`: only
    touched bucket directories rewrite, through the crash-safe
    staged-journal commit. The drained store must equal a from-scratch
    publish of the merged corpus under the same planes — the oracle
    recomputes every sign bucket from raw vectors. Emits the final store
    content exploded as (vec_id, bucket, dim, value)."""
    from ..plans import semantic as sem_plans
    from ..sources import vector_store

    def start(store: str):
        # One handle for the whole drain (the vector twin's argument:
        # planes are immutable under refresh, reopens were discarded).
        base = vector_store.open_lsh_index(spark, store)
        return lambda ups, rms: vector_store.write_lsh_refresh(
            spark, store, ups, rms, lidx=base, reopen=False)

    return _refresh_twin(
        spark, _vector_change_feed(load_table(spark, sf_dir, "embeddings")),
        sem_plans.get_published_lsh_index(spark, sf_dir).index_dir, start,
        lambda store: _exploded_vectors(
            vector_store.open_lsh_index(spark, store).sigs,
            F.col("bucket").cast("string").alias("bucket")),
        "stream_lshref_")


def streaming_lsh_refresh_oracle() -> str:
    """From-scratch replay: merge the change feed in SQL, recompute every
    sign bucket against the IMMUTABLE base planes (the first-LSH_PLANES
    ids' ORIGINAL vectors), explode the merged vectors per dimension."""
    from ..plans.semantic import LSH_PLANES

    return f"""
WITH planes AS (
  SELECT vec_id AS plane_id, embedding AS pvec FROM embeddings
  WHERE vec_id < {LSH_PLANES}
),
{_MERGED_VECTORS_SQL},
pd AS (
  SELECT vec_id, plane_id, sum(mv * pv) AS d
  FROM (
    SELECT m.vec_id, p.plane_id,
           CAST(unnest(m.v) AS DOUBLE) AS mv,
           CAST(unnest(p.pvec) AS DOUBLE) AS pv
    FROM merged m CROSS JOIN planes p
  )
  GROUP BY vec_id, plane_id
),
buckets AS (
  SELECT vec_id,
         'b' || string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY plane_id) AS bucket
  FROM pd GROUP BY vec_id
),
g AS (SELECT unnest(range(0, 4096)) AS j)
SELECT b.vec_id, b.bucket, g.j AS dim,
       round(CAST(m.v[g.j + 1] AS DOUBLE), 6) AS value
FROM buckets b
JOIN merged m ON b.vec_id = m.vec_id
JOIN g ON g.j < len(m.v)
"""


def streaming_window_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-WINDOW-index maintenance AT INGEST — the substring-dedup
    member of the streaming x durable-store matrix (postings, IVF cells,
    LSH buckets, and now the span-dedup window store all stay fresh
    under a streaming corpus).

    `doc_change_feed` drains through `_refresh_twin` into a clone of the
    per-corpus-snapshot published window store (the corpus is never
    re-tokenized per invocation — guide §6, the streaming_neardup_ingest
    store-read discipline applied to the old side; the oracle replays
    windowing from raw text). Each micro-batch is delta-merged by
    `sources.window_store.write_window_refresh`: only the `dbucket` dirs
    the batch's doc ids hash to rewrite, through the crash-safe
    staged-journal commit. Emits the SPAN REPORT computed off the drained
    store — the consumer-visible result — which the oracle replays from
    the merged raw text (windowing + duplication + island merge)."""
    from ..operators import dedup as dedup_ops
    from ..plans import dedup as dedup_plans
    from ..sources import window_store

    docs = load_table(spark, sf_dir, "documents")
    return _refresh_twin(
        spark, doc_change_feed(docs),
        dedup_plans.get_published_window_store(spark, sf_dir).index_dir,
        lambda store: lambda ups, rms: window_store.write_window_refresh(
            spark, store, ups, rms),
        lambda store: dedup_ops.duplicated_spans(
            docs, windows=window_store.open_window_index(spark, store).windows
        ).localCheckpoint(),
        "stream_winref_")


def streaming_window_refresh_oracle() -> str:
    """From-scratch replay: apply the change feed to the raw corpus in
    SQL, then the `duplicated_span_report` windowing + duplication +
    island-merge replay over the MERGED text."""
    from ..operators import dedup as dedup_ops

    w = dedup_ops.DUPSPAN_W
    return f"""
WITH {MERGED_DOCS_SQL},
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM merged
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


def _frame_twin(spark: SparkSession, sf_dir: str, deriver: str,
                params: dict, emit_rows, prefix: str) -> DataFrame:
    """The frame-store twin: `doc_change_feed` drains through
    `_refresh_twin` into a clone of the published `deriver` frame store
    (the per-doc derivation was paid once at that store's publish — guide
    §6, the neardup-twin store-read discipline), each micro-batch
    delta-merged by `sources.frame_store.write_frame_refresh` (only the
    `dbucket` dirs the batch's doc ids hash to rewrite, through the
    crash-safe staged-journal commit; the derivation comes from the
    store's layout stamp, never the caller). Emits
    `emit_rows(docs, drained store rows)`."""
    from ..plans import dedup as dedup_plans
    from ..sources import frame_store

    docs = load_table(spark, sf_dir, "documents")
    return _refresh_twin(
        spark, doc_change_feed(docs),
        dedup_plans.get_published_frame_store(
            spark, sf_dir, deriver, params).index_dir,
        lambda store: lambda ups, rms: frame_store.write_frame_refresh(
            spark, store, ups, rms),
        lambda store: emit_rows(
            docs, frame_store.open_frame_store(spark, store).rows
        ).localCheckpoint(),
        prefix)


def streaming_simhash_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published FRAME-store maintenance AT INGEST — the round-11 member
    of the streaming x durable-store matrix (postings, IVF cells, LSH
    buckets, window index, and now the derived dedup frames of
    `sources.frame_store`). One twin covers the whole frame family:
    shingles/simhash/winnow share the same store core and the same
    per-doc delta soundness, so maintaining the simhash store here
    exercises the shared `write_frame_refresh` path end to end
    (`_frame_twin`). The drained store must equal a from-scratch simhash
    of the merged corpus — the oracle recomputes every fingerprint from
    the merged raw text. Emits the bit-string fingerprint view off the
    drained store."""
    from ..operators import dedup as dedup_ops
    from ..plans.dedup import SIMHASH_BITS

    return _frame_twin(
        spark, sf_dir, "simhash", {"n_bits": SIMHASH_BITS},
        lambda docs, rows: dedup_ops.simhash(docs, n_bits=SIMHASH_BITS,
                                             sigs=rows),
        "stream_simref_")


def streaming_minhash_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance for the MINHASH signature frame store —
    round-12 verdict item 6: round 12 made the signatures durable
    (`sources.frame_store._derive_minhash`) but only batch ingest
    maintained them, so the signature store gets the same `_frame_twin`
    as the simhash store: a doc-bucket-partitioned store of
    h0..h{N_HASHES-1} signature columns kept fresh under
    `doc_change_feed`. The drained store must equal a from-scratch
    signature build of the merged corpus; the oracle re-shingles and
    re-hashes the MERGED raw text. Emits the drained signature table."""
    from ..operators.dedup import SHINGLE_W
    from ..plans.dedup import N_HASHES

    return _frame_twin(
        spark, sf_dir, "minhash", {"w": SHINGLE_W, "n_hashes": N_HASHES},
        lambda _docs, rows: rows.select(
            "doc_id", *[f"h{j}" for j in range(N_HASHES)]),
        "stream_mhref_")


def streaming_minhash_refresh_oracle() -> str:
    """From-scratch replay: apply the change feed in SQL, then shingle
    and hash the MERGED text exactly as `minhash_sigs`' oracle does
    (sha256 slice minimums per doc, `plans.dedup._sig_cols`). Docs with
    fewer than SHINGLE_W tokens produce no shingles — absent from the
    store and from the replay alike."""
    from ..plans.dedup import N_HASHES, _sig_cols

    return f"""
WITH {MERGED_DOCS_SQL},
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_؀-ۿ]+'),
                     x -> length(x) >= 2) AS ts
  FROM merged
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM toks, unnest(range(1, len(ts) - 1)) AS r(i)
  WHERE len(ts) >= 3
)
SELECT doc_id, {_sig_cols(N_HASHES)}
FROM sh GROUP BY doc_id
"""


def streaming_simhash_refresh_oracle() -> str:
    """From-scratch replay: apply the change feed to the raw corpus in
    SQL, then the standard simhash replay (`plans.dedup.simhash_oracle`)
    over the MERGED text."""
    from ..plans.dedup import SIMHASH_BITS, simhash_oracle

    base = simhash_oracle(SIMHASH_BITS, source="merged").strip()
    assert base.startswith("WITH")
    return f"""
WITH {MERGED_DOCS_SQL},
{base[len("WITH"):].lstrip()}
"""
