"""Lifecycle + embedding + streaming: oracle comparisons at the test SF plus
behavioral unit tests (validated-scan error gate, merge semantics, streaming
foreachBatch incremental merge, embedder singleton/parity)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hadith_vector_search_spark.operators import embedder
from hadith_vector_search_spark.registry import get_oracles, get_queries
from hadith_vector_search_spark.sources import ingest
from hadith_vector_search_spark.streaming import stream_merge_jsonl
from hadith_vector_search_spark.testing import compare_query

ORACLE_CHECKED = [
    "incremental_merge_stats",
    "incremental_changed_docs",
    "incremental_merge_preview",
    "doc_lookup",
    "corpus_status",
    "embed_documents_preview",
    "embed_and_search",
    "streaming_event_rollup",
    "streaming_user_sessions",
    "streaming_user_totals_stateful",
    "streaming_merge_jsonl",
    "incremental_postings_refresh",
    "streaming_postings_refresh",
    "streaming_vector_refresh",
    "streaming_lsh_refresh",
    "streaming_window_refresh",
    "streaming_simhash_refresh",
    "streaming_minhash_refresh",
    "streaming_percolate",
    "streaming_neardup_ingest",
]

DOC_SCHEMA = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_matches_oracle(spark, duck, sf_dir, name):
    queries, oracles = get_queries(), get_oracles()
    assert name in queries and name in oracles
    problems = compare_query(spark, duck, queries[name], oracles[name], sf_dir)
    assert not problems, problems


def test_change_feeds_name_each_id_once_and_split_partitions(spark, sf_dir):
    """The premise of every store twin's batch-order independence: each id
    appears exactly once in its change feed, and `split_feed` partitions
    the feed into upserts (the feed's rows minus `action`) and delete
    ids."""
    from hadith_vector_search_spark.plans.lexical import (
        doc_change_feed, split_feed)
    from hadith_vector_search_spark.sources import load_table
    from hadith_vector_search_spark.streaming.ingest import _vector_change_feed

    feeds = [
        (doc_change_feed(load_table(spark, sf_dir, "documents")), "doc_id"),
        (_vector_change_feed(load_table(spark, sf_dir, "embeddings")),
         "vec_id"),
    ]
    for feed, key in feeds:
        rows = feed.collect()
        by_id = {r[key]: r for r in rows}
        assert len(by_id) == len(rows), f"{key} repeats in its feed"
        assert {r.action for r in rows} == {"upsert", "delete"}

        ups, dels = split_feed(feed)
        assert ups.columns == [c for c in feed.columns if c != "action"]
        assert dels.columns == [key]
        up_rows, del_ids = ups.collect(), [r[key] for r in dels.collect()]
        assert len(up_rows) + len(del_ids) == len(rows)
        for r in up_rows:
            full = by_id[r[key]].asDict()
            assert full.pop("action") == "upsert"
            assert r.asDict() == full
        assert all(by_id[i].action == "delete" for i in del_ids)


def _write_jsonl(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write((r if isinstance(r, str) else json.dumps(r)) + "\n")


def test_validated_scan_gate(spark, tmp_path):
    path = str(tmp_path / "src" / "book.jsonl")
    good = [{"doc_id": i, "text": f"doc {i}"} for i in range(20)]
    _write_jsonl(path, good + ["{not json"] * 3)
    df = ingest.validated_scan(spark, path, DOC_SCHEMA, max_errors=10)
    assert df.count() == 20

    bad_path = str(tmp_path / "src" / "bad.jsonl")
    _write_jsonl(bad_path, good + ["{not json"] * 10)
    with pytest.raises(ingest.ValidationError):
        ingest.validated_scan(spark, bad_path, DOC_SCHEMA, max_errors=10)


def test_classify_and_merge(spark):
    existing = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(2, "two"), (3, "three v2"), (4, "four")], "doc_id long, text string")
    ck = ingest.row_checksum("doc_id", "text")
    classified = ingest.classify_changes(
        incoming.withColumn("checksum", ck), existing.withColumn("checksum", ck))
    actions = {r.doc_id: r.action for r in classified.collect()}
    assert actions == {2: "skip", 3: "update", 4: "insert"}

    merged = ingest.merge_upsert(existing, incoming)
    assert {(r.doc_id, r.text) for r in merged.collect()} == {
        (1, "one"), (2, "two"), (3, "three v2"), (4, "four")}


def test_stream_merge_incremental(spark, tmp_path):
    src = str(tmp_path / "arrivals")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    _write_jsonl(os.path.join(src, "b1.jsonl"),
                 [{"doc_id": 1, "text": "one"}, {"doc_id": 2, "text": "two"}])
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)
    assert {(r.doc_id, r.text) for r in spark.read.parquet(target).collect()} == {
        (1, "one"), (2, "two")}

    # second arrival: an update and an insert; checkpoint skips b1.jsonl
    _write_jsonl(os.path.join(src, "b2.jsonl"),
                 [{"doc_id": 2, "text": "two v2"}, {"doc_id": 3, "text": "three"}])
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)
    assert {(r.doc_id, r.text) for r in spark.read.parquet(target).collect()} == {
        (1, "one"), (2, "two v2"), (3, "three")}


def test_embedder_singleton_and_normalization(spark):
    m1, m2 = embedder.get_model(8), embedder.get_model(8)
    assert m1 is m2  # lazy per-process singleton

    v = m1.encode("alpha beta gamma delta")
    assert len(v) == 8
    assert abs(sum(x * x for x in v) - 1.0) < 1e-12  # L2-normalized
    assert m1.encode("") == [0.0] * 8  # zero-token text -> zero vector

    # executor UDF output equals driver-side encode (same model semantics)
    df = spark.createDataFrame([("alpha beta gamma delta",)], "text string")
    row = df.select(embedder.embed_column("text", 8).alias("e")).first()
    assert row.e == pytest.approx(v)

def test_stream_merge_touches_only_affected_partitions(spark, tmp_path):
    """Dynamic partition overwrite: a micro-batch must leave parquet files
    in partitions its keys don't land in byte-identical (no whole-table
    rewrite)."""
    from pyspark.sql import functions as F
    from hadith_vector_search_spark.streaming.ingest import (
        MERGE_N_PARTS, MERGE_PART_COL, stream_merge_jsonl)

    src = str(tmp_path / "psrc")
    target = str(tmp_path / "ptarget")
    ckpt = str(tmp_path / "pckpt")
    _write_jsonl(os.path.join(src, "b1.jsonl"),
                 [{"doc_id": i, "text": f"doc {i}"} for i in range(1, 9)])
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)

    def snapshot():
        out = {}
        for root, _, files in os.walk(target):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot()
    batch2 = [{"doc_id": 2, "text": "two v2"}, {"doc_id": 100, "text": "hundred"}]
    _write_jsonl(os.path.join(src, "b2.jsonl"), batch2)
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)

    touched = {
        r.p for r in spark.createDataFrame(
            [(d["doc_id"],) for d in batch2], "doc_id long")
        .select(F.pmod(F.hash("doc_id"), F.lit(MERGE_N_PARTS)).alias("p"))
        .collect()}
    after = snapshot()
    untouched_before = {p: v for p, v in before.items()
                        if not any(f"{MERGE_PART_COL}={t}{os.sep}" in p
                                   for t in touched)}
    assert untouched_before, "test needs at least one untouched partition"
    for p, v in untouched_before.items():
        assert after.get(p) == v, f"untouched partition file rewritten: {p}"

    rows = {(r.doc_id, r.text) for r in
            spark.read.parquet(target).select("doc_id", "text").collect()}
    assert rows == ({(i, f"doc {i}") for i in range(1, 9)} - {(2, "doc 2")}) | {
        (2, "two v2"), (100, "hundred")}


def test_stream_merge_crash_mid_publish_recovers(spark, tmp_path):
    """Kill-mid-batch: inject a crash between partition renames during
    publish. The table must stay readable (a partition caught inside its
    two-rename swap window reads as absent — never a torn mix of old and
    new rows, and its rows survive in the aside dir), and re-running the
    merge pass must recover the pending publish and converge to the same
    result as an uninterrupted merge."""
    from hadith_vector_search_spark.streaming import ingest as singest

    src = str(tmp_path / "csrc")
    target = str(tmp_path / "ctarget")
    ckpt = str(tmp_path / "cckpt")
    rows1 = [{"doc_id": i, "text": f"doc {i}"} for i in range(1, 9)]
    _write_jsonl(os.path.join(src, "b1.jsonl"), rows1)
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)

    # Batch 2 touches several partitions; crash after the FIRST rename.
    batch2 = [{"doc_id": 2, "text": "two v2"}, {"doc_id": 5, "text": "five v2"},
              {"doc_id": 100, "text": "hundred"}]
    _write_jsonl(os.path.join(src, "b2.jsonl"), batch2)

    class Boom(RuntimeError):
        pass

    def fault(i):
        if i >= 1:
            raise Boom(f"injected crash before rename #{i}")

    singest._PUBLISH_FAULT = fault
    try:
        with pytest.raises(Exception):  # StreamingQueryException wraps Boom
            stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)
    finally:
        singest._PUBLISH_FAULT = None

    # Mid-crash state: manifest pending, table still readable, and every
    # row is either its old or its new version — never missing/garbled.
    assert os.path.exists(os.path.join(target, singest.MERGE_MANIFEST))
    seen = {r.doc_id: r.text
            for r in spark.read.parquet(target).select("doc_id", "text").collect()}
    expect_old = {d["doc_id"]: d["text"] for d in rows1}
    expect_new = {**expect_old, **{d["doc_id"]: d["text"] for d in batch2}}
    for did, text in seen.items():
        assert text in {expect_old.get(did), expect_new.get(did)}
    assert set(expect_old) <= set(seen)  # no pre-existing row lost

    # Replay: a fresh pass recovers the pending publish; the checkpoint
    # did NOT commit the failed batch, so b2 is re-processed — the final
    # table must equal the uninterrupted merge.
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)
    assert not os.path.exists(os.path.join(target, singest.MERGE_MANIFEST))
    final = {(r.doc_id, r.text)
             for r in spark.read.parquet(target).select("doc_id", "text").collect()}
    assert final == set(expect_new.items())


def test_stream_merge_crash_between_swap_renames_recovers(spark, tmp_path):
    """Crash in the NEW narrowest window: after a partition's old dir moved
    aside but before the staged dir renamed in. That partition reads as
    absent (bounded gap, no torn rows, old rows preserved in the aside
    dir); the public recover_pending_publish hook must complete the swap
    and GC the aside."""
    import os as _os

    from hadith_vector_search_spark.streaming import ingest as singest

    src = str(tmp_path / "dsrc")
    target = str(tmp_path / "dtarget")
    ckpt = str(tmp_path / "dckpt")
    rows1 = [{"doc_id": i, "text": f"doc {i}"} for i in range(1, 9)]
    _write_jsonl(os.path.join(src, "b1.jsonl"), rows1)
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)

    batch2 = [{"doc_id": 3, "text": "three v2"}, {"doc_id": 7, "text": "seven v2"}]
    _write_jsonl(os.path.join(src, "b2.jsonl"), batch2)

    real_rename = _os.rename
    armed = {"on": True}

    def flaky(srcp, dstp):
        real_rename(srcp, dstp)
        if armed["on"] and str(dstp).endswith(".old"):
            armed["on"] = False
            raise RuntimeError("injected crash between the two swap renames")

    _os.rename = flaky
    try:
        with pytest.raises(Exception):
            stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)
    finally:
        _os.rename = real_rename

    # Mid-crash: manifest pending, exactly one aside dir, table readable,
    # surviving rows untorn; the in-flight partition's rows are absent from
    # the table but preserved on disk in the aside dir.
    assert os.path.exists(os.path.join(target, singest.MERGE_MANIFEST))
    asides = [d for d in os.listdir(target) if d.endswith(".old")]
    assert len(asides) == 1
    expect_old = {d["doc_id"]: d["text"] for d in rows1}
    expect_new = {**expect_old, **{d["doc_id"]: d["text"] for d in batch2}}
    seen = {r.doc_id: r.text
            for r in spark.read.parquet(target).select("doc_id", "text").collect()}
    assert set(seen) < set(expect_old), "in-flight partition reads as absent"
    for did, text in seen.items():
        assert text in {expect_old.get(did), expect_new.get(did)}

    # Read-path recovery completes the swap: every old row back (or its
    # merged replacement), asides and manifest gone.
    singest.recover_pending_publish(target)
    assert not os.path.exists(os.path.join(target, singest.MERGE_MANIFEST))
    assert not [d for d in os.listdir(target) if d.endswith(".old")]
    recovered = {r.doc_id: r.text
                 for r in spark.read.parquet(target).select("doc_id", "text").collect()}
    assert set(expect_old) <= set(recovered)
    for did, text in recovered.items():
        assert text in {expect_old.get(did), expect_new.get(did)}

    # The checkpoint never committed b2; the next pass replays it and
    # converges to the uninterrupted result.
    stream_merge_jsonl(spark, src, DOC_SCHEMA, target, ckpt)
    final = {(r.doc_id, r.text)
             for r in spark.read.parquet(target).select("doc_id", "text").collect()}
    assert final == set(expect_new.items())


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """The production variant of streaming dedup (streaming_dedup_docs
    docstring): dropDuplicatesWithinWatermark holds a key only while it is
    inside the watermark window, so (a) in-window duplicates are dropped,
    and (b) a key RE-ARRIVING after its state was evicted is emitted again
    — bounded state traded for window-scoped dedup, vs dropDuplicates'
    unbounded forever-state. Driven as two AvailableNow runs over one
    checkpoint (the restart pattern), so the watermark and dedup state
    carry across runs through the state store."""
    import datetime as dt

    src = tmp_path / "dd_stream"
    src.mkdir()
    sink = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    day = dt.datetime(2026, 1, 1)

    def run_batch(rows):
        if rows:
            spark.createDataFrame(rows, "k string, ts timestamp") \
                .write.mode("append").parquet(str(src))
        schema = spark.read.parquet(str(src)).schema
        stream = spark.readStream.schema(schema).parquet(str(src))
        deduped = (stream.withWatermark("ts", "1 day")
                   .dropDuplicatesWithinWatermark(["k"]))
        q = (deduped.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    # run 1: key 'a' at day0; 'b' twice in-window (one survives); 'adv' at
    # day9 pushes the watermark to day8 (delay 1 day), so 'a' (expiry
    # day1) is evicted from state at the end of the run.
    run_batch([
        ("a", day), ("b", day + dt.timedelta(hours=1)),
        ("b", day + dt.timedelta(hours=1)),
        ("adv", day + dt.timedelta(days=9)),
    ])
    # run 2 (same checkpoint): 'a' re-arrives with a RECENT timestamp ->
    # emitted AGAIN (state was evicted); the late duplicate 'b' behind
    # the watermark is dropped as late data.
    run_batch([
        ("a", day + dt.timedelta(days=9, hours=1)),
        ("b", day + dt.timedelta(hours=1)),
    ])
    got = sorted((r.k, r.ts) for r in spark.read.parquet(sink).collect())
    ks = [k for k, _ in got]
    assert ks.count("a") == 2, got      # re-emitted after state eviction
    assert ks.count("b") == 1, got      # in-window dup + late dup dropped
    assert ks.count("adv") == 1, got
