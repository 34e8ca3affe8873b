"""Structured Streaming surface (SURVEY §2.11): the reference has no
streaming operators — its closest analogues are checksum-incremental
indexing and resumable scrapes. Both map naturally onto file-source streams
with `Trigger.AvailableNow`:

- `streaming_event_rollup`: event-time tumbling-window aggregation with a
  watermark over the `events` table read AS A STREAM. AvailableNow drains
  all available files in one checkpointed run, so the result equals the
  batch rollup — which is exactly what the DuckDB oracle checks. At scale
  the same query runs continuously against arriving files with state
  bounded by the watermark.
- `stream_merge_jsonl`: the incremental-ingest DAG (§3.3) as a streaming
  pipe — new JSONL files arrive, each micro-batch MERGEs into the target
  table via `foreachBatch` (checksum skip included). On a lake deployment
  the `foreachBatch` body is a Delta/Iceberg `MERGE INTO`; here it is the
  plain-parquet merge (read-merge-rewrite), which is the honest local
  equivalent.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources import commit as commit_store
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
    name = _memsink_name("rollup", sf_dir)
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .select(F.to_date(F.col("w.start")).alias("day"),
                    "event_type", "event_count", "sum_value"))


SESSION_GAP = "30 minutes"


def _events_stream(spark: SparkSession, sf_dir: str):
    """File-source stream over the events table (shared reader: schema from
    a batch probe, nanos-as-long conf, event-time normalization). The `ts`
    column must land as TIMESTAMP for `withWatermark`: nano-long payloads
    are downcast to micros, and TIMESTAMP_NTZ (how recent parquet writers
    encode naive timestamps) is cast — value-preserving because the session
    timezone is pinned to UTC in session.py."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events_path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(events_path).schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
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
    name = _memsink_name("sessions", sf_dir)
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
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
    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    kept = (stream
            .withColumn("checksum", F.sha2(F.col("text"), 256))
            .dropDuplicates(["source", "checksum"]))
    name = _memsink_name("dedup", sf_dir)
    q = (kept.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
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
    import tempfile

    from ..functions.text import tokenize
    from ..operators.bm25 import percolate
    from ..plans.lexical import BATCH_QUERIES, get_index

    term_df = get_index(spark, sf_dir).term_df
    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    work = tempfile.mkdtemp(prefix="stream_percolate_")
    out = os.path.join(work, "alerts")
    ckpt = os.path.join(work, "ckpt")
    try:
        def process(batch_df: DataFrame, batch_id: int) -> None:
            toks = (batch_df.select(
                "doc_id",
                F.explode(F.array_distinct(tokenize(F.col("text"))))
                .alias("term")))
            alerts = percolate(spark, toks, BATCH_QUERIES, term_df=term_df)
            alerts.write.mode("overwrite").parquet(
                os.path.join(out, f"batch={batch_id}"))

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
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
    name = _memsink_name("totals", sf_dir)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


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
    import shutil

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
    import shutil

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
        import os as _os
        import tempfile

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
        staging = f"{target_dir}.staging-{batch_id}-{_os.getpid()}"
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
            with _os.fdopen(fd, "w") as fh:
                json.dump({"staging": staging, "parts": touched}, fh)
            _os.replace(tmp, os.path.join(target_dir, MERGE_MANIFEST))
            _apply_publish(target_dir, staging, touched)
        else:
            # Initial load: stage the whole table, publish with ONE rename.
            (incoming.hint("rebalance", MERGE_PART_COL)
             .write.mode("overwrite")
             .partitionBy(MERGE_PART_COL).parquet(staging))
            _os.rename(staging, target_dir)

    stream = spark.readStream.schema(schema).json(src_dir)
    q = (stream.writeStream.foreachBatch(merge_batch)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()


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
    import tempfile

    from ..plans.lifecycle import _incoming
    from ..sources import load_table

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
    import tempfile

    from ..operators.embedder import embed_column
    from ..plans.embedding import DIM
    from ..plans.lifecycle import _incoming
    from ..sources import load_table

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
    import tempfile

    from ..operators import dedup as dedup_ops
    from ..plans import dedup as dedup_plans
    from ..sources import load_table

    work = tempfile.mkdtemp(prefix="stream_neardup_")
    src = os.path.join(work, "src")
    out = os.path.join(work, "pairs")
    idx = os.path.join(work, "index")
    ckpt = os.path.join(work, "ckpt")
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

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        if not os.path.isdir(out):
            return spark.createDataFrame(
                [], "new_id long, old_id long, jaccard double")
        return (spark.read.parquet(out)
                .select(F.col("id_a").alias("new_id"),
                        F.col("id_b").alias("old_id"), "jaccard")
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_postings_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-index maintenance AT INGEST — the streaming twin of
    `incremental_postings_refresh` and the full analogue of the
    reference's per-doc FTS upsert loop running against an arriving feed
    (/root/reference/mcp_server/apps/fts.py:150-181): the same synthetic
    change feed (revised %5 docs, new %11 docs under an id offset,
    deletions of %13 docs) streams from JSON files in several
    micro-batches (`maxFilesPerTrigger=1`), and each batch is
    delta-merged into the evolving index snapshot with
    `operators.bm25.refresh_index` inside `foreachBatch` — delete +
    reinsert of that batch's docs, term_df/scoring-view delta merges,
    exact-stats recompute. Every doc_id appears exactly once in the feed
    (deletes target original ids; new docs live above the offset), so
    per-doc delete+reinsert commutes across batches and the drained
    snapshot is batch-order independent — it must equal a FROM-SCRATCH
    build over the merged corpus, which is exactly what the shared
    rebuild-equivalence oracle checks. Emits the final denormalized
    scoring view (doc_id, term, tf, dl, df)."""
    import tempfile

    from ..operators import bm25
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET, get_index
    from ..sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = get_index(spark, sf_dir)
    base.scoring_view()  # each batch exercises the delta path
    upd = (docs.filter((F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 13 != 0))
           .select("doc_id",
                   F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
                   F.lit("upsert").alias("action")))
    fresh = (docs.filter(F.col("doc_id") % 11 == 0)
             .select((F.col("doc_id") + REFRESH_NEW_ID_OFFSET).alias("doc_id"),
                     "text", F.lit("upsert").alias("action")))
    dels = (docs.filter(F.col("doc_id") % 13 == 0)
            .select("doc_id", F.lit(None).cast("string").alias("text"),
                    F.lit("delete").alias("action")))
    feed = upd.unionByName(fresh).unionByName(dels)

    work = tempfile.mkdtemp(prefix="stream_postings_")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    try:
        feed.repartition(3).write.mode("overwrite").json(src)
        schema = spark.createDataFrame(
            [], "doc_id long, text string, action string").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(src))
        state = {"idx": base}

        def process(batch_df: DataFrame, batch_id: int) -> None:
            ups = (batch_df.filter(F.col("action") == "upsert")
                   .select("doc_id", "text"))
            rms = batch_df.filter(F.col("action") == "delete").select("doc_id")
            state["idx"] = bm25.refresh_index(state["idx"], ups, rms)

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return state["idx"].scoring_view()
    finally:
        shutil.rmtree(work, ignore_errors=True)


VECREF_NEW_ID_OFFSET = 1_000_000


def _vector_change_feed(emb: DataFrame) -> DataFrame:
    """The synthetic embedding change feed the published-store streaming
    twins share (vector cells AND LSH buckets — both must drain to the
    same merged corpus their oracles replay): revised %5 vectors
    (negated — float-exact, replayable), new %11 vectors under an id
    offset, deletions of %13."""
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


def streaming_vector_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-VECTOR-store maintenance AT INGEST — the streaming twin
    of `ingest._vector_index_delta` and the vector analogue of
    `streaming_postings_refresh` (round-9 verdict item 4: the CLI ingest
    delta maintained the published cells, but a streaming corpus left
    them stale until the next batch ingest).

    A base store is published from the raw embeddings table into a
    workdir (data codebook = the first-IVF_CENTROIDS ids, so the whole
    run is SQL-replayable), then a synthetic change feed — revised %5
    vectors (negated: float-exact, replayable), new %11 vectors under an
    id offset, deletions of %13 — streams in several parquet
    micro-batches (`maxFilesPerTrigger=1`; parquet feed because JSON
    would round-trip the float payload lossily), each delta-merged into
    the store by `sources.vector_store.write_vector_refresh` inside
    `foreachBatch`: only the touched cell directories rewrite, the
    codebook never moves, and every write goes through the crash-safe
    staged-journal commit. Refresh is a MERGE by id (delete + reinsert),
    so a retried micro-batch (foreachBatch's at-least-once contract) is
    idempotent, and since every id appears exactly once across the feed
    the drained store is batch-order independent — it must equal a
    from-scratch publish of the merged corpus under the SAME codebook,
    which is exactly what the oracle replays (assignment recomputed from
    raw vectors, the `vector_index_cells` discipline). Emits the final
    store content exploded as (vec_id, cell, dim, value)."""
    import tempfile

    from ..plans import semantic as sem_plans
    from ..sources import load_table, vector_store

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="stream_vecref_")
    store = os.path.join(work, "store")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    try:
        # Fork the working store off the published per-corpus-snapshot
        # IVF index — a FILE-LEVEL clone (`commit.clone_store`:
        # hardlink/copy of the settled dirs), not a Spark re-publish of
        # rows the published store already holds in exactly this layout
        # (the seeded publish paid a read + rebalance exchange + per-
        # cell-dir write per invocation). Same codebook, same
        # assignment arithmetic, same layout stamps; the oracle
        # recomputes every assignment from raw vectors.
        commit_store.clone_store(
            sem_plans.get_vector_store(spark, sf_dir, "vec").index_dir,
            store)
        _vector_change_feed(emb).repartition(3).write.mode(
            "overwrite").parquet(src)

        stream = (spark.readStream.schema(_vector_change_feed(emb).schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        # One handle for the whole drain: the codebook sidecar is
        # immutable under refresh and the table reads are lazy, so the
        # per-batch open (a centroid collect job) and the post-commit
        # reopen this loop discards are pure fixed cost (guide §1.2).
        base = vector_store.open_vector_index(spark, store)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            ups = (batch_df.filter(F.col("action") == "upsert")
                   .select("vec_id", "embedding", "label"))
            rms = (batch_df.filter(F.col("action") == "delete")
                   .select("vec_id"))
            vector_store.write_vector_refresh(spark, store, ups, rms,
                                              vidx=base, reopen=False)

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        vidx = vector_store.open_vector_index(spark, store)
        return (vidx.vectors
                .select("vec_id", F.col("cell").cast("int").alias("cell"),
                        F.posexplode(F.transform(
                            "embedding",
                            lambda x: F.round(x.cast("double"), 6)))
                        .alias("dim", "value"))
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


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
merged AS (
  SELECT vec_id, list_transform(embedding, x -> -x) AS v
  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 13 <> 0
  UNION ALL
  SELECT vec_id + {VECREF_NEW_ID_OFFSET}, embedding
  FROM embeddings WHERE vec_id % 11 = 0
  UNION ALL
  SELECT vec_id, embedding
  FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 13 <> 0
),
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

    A base `sigs/bucket=B/` store is published from the raw embeddings
    (hyperplanes = the first-LSH_PLANES ids, immutable under refresh —
    every stored bucket depends on them), then the SAME synthetic change
    feed as the vector twin streams in micro-batches, each delta-merged
    by `sources.vector_store.write_lsh_refresh` inside `foreachBatch`:
    only touched bucket directories rewrite, through the crash-safe
    staged-journal commit, idempotent under micro-batch retry (MERGE by
    id). The drained store must equal a from-scratch publish of the
    merged corpus under the same planes — the oracle recomputes every
    sign bucket from raw vectors. Emits the final store content exploded
    as (vec_id, bucket, dim, value)."""
    import tempfile

    from ..plans import semantic as sem_plans
    from ..sources import load_table, vector_store

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="stream_lshref_")
    store = os.path.join(work, "store")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    try:
        # Fork the working store off the published per-corpus-snapshot
        # LSH index — a FILE-LEVEL clone (`commit.clone_store`), not a
        # Spark re-publish of the sigs rows the published store already
        # holds bucket-partitioned (as the vector twin; the
        # seeded publish paid a read + rebalance exchange + ~2^n_planes
        # per-bucket-dir writes per invocation). Same planes, same sign
        # arithmetic, same layout stamps (the published n_flip
        # governance stamp rides along inert — nothing in the twin
        # resolves it).
        commit_store.clone_store(
            sem_plans.get_published_lsh_index(spark, sf_dir).index_dir,
            store)
        _vector_change_feed(emb).repartition(3).write.mode(
            "overwrite").parquet(src)

        schema = _vector_change_feed(emb).schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        # One handle for the whole drain (the vector twin's argument:
        # planes are immutable under refresh, reopens were discarded).
        base = vector_store.open_lsh_index(spark, store)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            ups = (batch_df.filter(F.col("action") == "upsert")
                   .select("vec_id", "embedding", "label"))
            rms = (batch_df.filter(F.col("action") == "delete")
                   .select("vec_id"))
            vector_store.write_lsh_refresh(spark, store, ups, rms,
                                           lidx=base, reopen=False)

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        lidx = vector_store.open_lsh_index(spark, store)
        return (lidx.sigs
                .select("vec_id", F.col("bucket").cast("string")
                        .alias("bucket"),
                        F.posexplode(F.transform(
                            "embedding",
                            lambda x: F.round(x.cast("double"), 6)))
                        .alias("dim", "value"))
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


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
merged AS (
  SELECT vec_id, list_transform(embedding, x -> -x) AS v
  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id % 13 <> 0
  UNION ALL
  SELECT vec_id + {VECREF_NEW_ID_OFFSET}, embedding
  FROM embeddings WHERE vec_id % 11 = 0
  UNION ALL
  SELECT vec_id, embedding
  FROM embeddings WHERE vec_id % 5 <> 0 AND vec_id % 13 <> 0
),
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

    A base doc-bucket-partitioned window store is published from the
    documents table, then the lexical change feed (revised %5 docs, new
    %11 docs above an id offset, deletions of %13) streams in JSON
    micro-batches, each delta-merged by
    `sources.window_store.write_window_refresh` inside `foreachBatch`:
    only the `dbucket` dirs the batch's doc ids hash to rewrite, through
    the crash-safe staged-journal commit, idempotent under micro-batch
    retry (delete + reinsert by doc id). Every doc id appears once in
    the feed, so the drained store equals a from-scratch window index of
    the merged corpus. Emits the SPAN REPORT computed off the drained
    store — the consumer-visible result — which the oracle replays from
    the merged raw text (windowing + duplication + island merge)."""
    import tempfile

    from ..operators import dedup as dedup_ops
    from ..plans import dedup as dedup_plans
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET
    from ..sources import load_table, window_store

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_winref_")
    store = os.path.join(work, "store")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    try:
        # Fork the working store off the per-corpus-snapshot published
        # window index instead of re-tokenizing the corpus per
        # invocation (guide §6 — the streaming_neardup_ingest store-read
        # discipline applied to the old side); the batch side stays
        # live, and the oracle replays windowing from raw text. The fork
        # is a FILE-LEVEL clone (`commit.clone_store`) — the seeded Spark
        # re-publish paid a docs.count() (bucket derivation) + read +
        # rebalance exchange + per-dbucket-dir writes per invocation for
        # rows already on disk in exactly this layout.
        commit_store.clone_store(
            dedup_plans.get_published_window_store(spark, sf_dir).index_dir,
            store)
        upd = (docs.filter((F.col("doc_id") % 5 == 0)
                           & (F.col("doc_id") % 13 != 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" [rev2]"))
                       .alias("text"),
                       F.lit("upsert").alias("action")))
        fresh = (docs.filter(F.col("doc_id") % 11 == 0)
                 .select((F.col("doc_id") + REFRESH_NEW_ID_OFFSET)
                         .alias("doc_id"),
                         "text", F.lit("upsert").alias("action")))
        dels = (docs.filter(F.col("doc_id") % 13 == 0)
                .select("doc_id", F.lit(None).cast("string").alias("text"),
                        F.lit("delete").alias("action")))
        feed = upd.unionByName(fresh).unionByName(dels)
        feed.repartition(3).write.mode("overwrite").json(src)

        schema = spark.createDataFrame(
            [], "doc_id long, text string, action string").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(src))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            ups = (batch_df.filter(F.col("action") == "upsert")
                   .select("doc_id", "text"))
            rms = (batch_df.filter(F.col("action") == "delete")
                   .select("doc_id"))
            window_store.write_window_refresh(spark, store, ups, rms)

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        drained = window_store.open_window_index(spark, store)
        return (dedup_ops.duplicated_spans(docs,
                                           windows=drained.windows)
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_window_refresh_oracle() -> str:
    """From-scratch replay: apply the change feed to the raw corpus in
    SQL, then the `duplicated_span_report` windowing + duplication +
    island-merge replay over the MERGED text."""
    from ..operators import dedup as dedup_ops
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET

    w = dedup_ops.DUPSPAN_W
    return f"""
WITH merged AS (
  SELECT doc_id, text || ' [rev2]' AS text
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + {REFRESH_NEW_ID_OFFSET}, text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, text
  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 13 <> 0
),
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


def streaming_simhash_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published FRAME-store maintenance AT INGEST — the round-11 member
    of the streaming x durable-store matrix (postings, IVF cells, LSH
    buckets, window index, and now the derived dedup frames of
    `sources.frame_store`). One twin covers the whole frame family:
    shingles/simhash/winnow share the same store core and the same
    per-doc delta soundness, so maintaining the simhash store here
    exercises the shared `write_frame_refresh` path end to end.

    A base doc-bucket-partitioned simhash store is published from the
    documents table, then the SAME lexical change feed as the window
    twin (revised %5 docs, new %11 docs above the id offset, deletions
    of %13) streams in JSON micro-batches, each delta-merged by
    `sources.frame_store.write_frame_refresh` inside `foreachBatch`:
    only the `dbucket` dirs the batch's doc ids hash to rewrite, through
    the crash-safe staged-journal commit, idempotent under micro-batch
    retry (delete + reinsert by doc id; the derivation comes from the
    store's layout stamp, never the caller). The drained store must
    equal a from-scratch simhash of the merged corpus — the oracle
    recomputes every fingerprint from the merged raw text. Emits the
    bit-string fingerprint view off the drained store."""
    import tempfile

    from ..operators import dedup as dedup_ops
    from ..plans import dedup as dedup_plans
    from ..plans.dedup import SIMHASH_BITS
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET
    from ..sources import frame_store, load_table

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_simref_")
    store = os.path.join(work, "store")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    try:
        # Seed from the published simhash frame store (same derivation
        # identity) instead of re-fingerprinting the corpus per
        # invocation — guide §6, the neardup-twin store-read discipline;
        # the oracle recomputes every fingerprint from merged raw text.
        # The seed is a FILE-LEVEL clone (`commit.clone_store`) — the
        # seeded Spark re-publish paid a docs.count() + read + rebalance
        # exchange + per-dbucket-dir writes per invocation for rows
        # already on disk in this exact layout.
        commit_store.clone_store(
            dedup_plans.get_published_frame_store(
                spark, sf_dir, "simhash",
                {"n_bits": SIMHASH_BITS}).index_dir,
            store)
        upd = (docs.filter((F.col("doc_id") % 5 == 0)
                           & (F.col("doc_id") % 13 != 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" [rev2]"))
                       .alias("text"),
                       F.lit("upsert").alias("action")))
        fresh = (docs.filter(F.col("doc_id") % 11 == 0)
                 .select((F.col("doc_id") + REFRESH_NEW_ID_OFFSET)
                         .alias("doc_id"),
                         "text", F.lit("upsert").alias("action")))
        dels = (docs.filter(F.col("doc_id") % 13 == 0)
                .select("doc_id", F.lit(None).cast("string").alias("text"),
                        F.lit("delete").alias("action")))
        feed = upd.unionByName(fresh).unionByName(dels)
        feed.repartition(3).write.mode("overwrite").json(src)

        schema = spark.createDataFrame(
            [], "doc_id long, text string, action string").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(src))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            ups = (batch_df.filter(F.col("action") == "upsert")
                   .select("doc_id", "text"))
            rms = (batch_df.filter(F.col("action") == "delete")
                   .select("doc_id"))
            frame_store.write_frame_refresh(spark, store, ups, rms)

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        drained = frame_store.open_frame_store(spark, store)
        return (dedup_ops.simhash(docs, n_bits=SIMHASH_BITS,
                                  sigs=drained.rows)
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_minhash_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance for the MINHASH signature frame store —
    round-12 verdict item 6: round 12 made the signatures durable
    (`sources.frame_store._derive_minhash`) but only batch ingest
    maintained them; postings, vector, LSH, simhash, and window stores
    all have `foreachBatch` twins, so the signature store gets the same
    one. Identical harness to `streaming_simhash_refresh` (the shared
    `write_frame_refresh` core makes the twins one code path): a base
    doc-bucket-partitioned store of h0..h{N_HASHES-1} signature columns
    is published from the documents table, the standard change feed
    (revised %5, new %11 above the id offset, deleted %13) streams in
    JSON micro-batches, each delta-merged under the crash-safe staged
    journal — only the touched `dbucket` dirs rewrite, idempotent under
    retry. The drained store must equal a from-scratch signature build
    of the merged corpus; the oracle re-shingles and re-hashes the
    MERGED raw text. Emits the drained signature table."""
    import tempfile

    from ..operators.dedup import SHINGLE_W
    from ..plans import dedup as dedup_plans
    from ..plans.dedup import N_HASHES
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET
    from ..sources import frame_store, load_table

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_mhref_")
    store = os.path.join(work, "store")
    src = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")
    try:
        # Seed from the published minhash signature store (guide §6, as
        # the simhash twin): the shingle+sha pass was paid once at that
        # store's publish; the oracle re-shingles merged raw text. The
        # seed is a FILE-LEVEL clone (`commit.clone_store`, see the
        # simhash twin).
        commit_store.clone_store(
            dedup_plans.get_published_frame_store(
                spark, sf_dir, "minhash",
                {"w": SHINGLE_W, "n_hashes": N_HASHES}).index_dir,
            store)
        upd = (docs.filter((F.col("doc_id") % 5 == 0)
                           & (F.col("doc_id") % 13 != 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" [rev2]"))
                       .alias("text"),
                       F.lit("upsert").alias("action")))
        fresh = (docs.filter(F.col("doc_id") % 11 == 0)
                 .select((F.col("doc_id") + REFRESH_NEW_ID_OFFSET)
                         .alias("doc_id"),
                         "text", F.lit("upsert").alias("action")))
        dels = (docs.filter(F.col("doc_id") % 13 == 0)
                .select("doc_id", F.lit(None).cast("string").alias("text"),
                        F.lit("delete").alias("action")))
        feed = upd.unionByName(fresh).unionByName(dels)
        feed.repartition(3).write.mode("overwrite").json(src)

        schema = spark.createDataFrame(
            [], "doc_id long, text string, action string").schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(src))

        def process(batch_df: DataFrame, batch_id: int) -> None:
            ups = (batch_df.filter(F.col("action") == "upsert")
                   .select("doc_id", "text"))
            rms = (batch_df.filter(F.col("action") == "delete")
                   .select("doc_id"))
            frame_store.write_frame_refresh(spark, store, ups, rms)

        q = (stream.writeStream.foreachBatch(process)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

        drained = frame_store.open_frame_store(spark, store)
        return (drained.rows
                .select("doc_id", *[f"h{j}" for j in range(N_HASHES)])
                .localCheckpoint())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def streaming_minhash_refresh_oracle() -> str:
    """From-scratch replay: apply the change feed in SQL, then shingle
    and hash the MERGED text exactly as `minhash_sigs`' oracle does
    (sha256 slice minimums per doc, `plans.dedup._sig_cols`). Docs with
    fewer than SHINGLE_W tokens produce no shingles — absent from the
    store and from the replay alike."""
    from ..plans.dedup import N_HASHES, _sig_cols
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET

    return f"""
WITH merged AS (
  SELECT doc_id, text || ' [rev2]' AS text
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + {REFRESH_NEW_ID_OFFSET}, text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, text
  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 13 <> 0
),
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
    from ..plans.lexical import REFRESH_NEW_ID_OFFSET

    base = simhash_oracle(SIMHASH_BITS, source="merged").strip()
    assert base.startswith("WITH")
    return f"""
WITH merged AS (
  SELECT doc_id, text || ' [rev2]' AS text
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + {REFRESH_NEW_ID_OFFSET}, text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, text
  FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 13 <> 0
),
{base[len("WITH"):].lstrip()}
"""
