"""Published derived-frame stores (sources/frame_store.py): the durable
home for the dedup family's per-doc derivations (span-dedup windows,
shingles, simhash, winnow selection, minhash signatures, text signals).
Publish/reopen equivalence against the in-session derivations (including
a derivation with zero rows), manifest reuse across sessions,
parameter/geometry identity, doc-bucket delta refresh with untouched
buckets byte-invariant, crash safety via the shared staged-journal
commit, and the store-first getter wiring in plans.dedup."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadith_vector_search_spark.operators import dedup
from hadith_vector_search_spark.plans.pins import release_sf_pins
from hadith_vector_search_spark.sources import commit as commitlog
from hadith_vector_search_spark.sources import frame_store
from hadith_vector_search_spark.sources.manifest import is_fresh

# The store mechanics (refresh, crash recovery, geometry) are
# deriver-generic; each check runs over the window index and one other
# derivation of a different row shape.
MECHANICS = pytest.mark.parametrize(
    "deriver,params", [("windows", {"w": 4}), ("shingles", {"w": 3})],
    ids=["windows", "shingles"])


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(spark, n=10):
    return _docs(spark, [
        (i, f"alpha beta gamma delta word{i} epsilon zeta eta theta "
            f"iota kappa tail{i} more body") for i in range(n)])


def _short_docs(spark):
    # fewer tokens than any width below: windows/shingles derive no rows
    return _docs(spark, [(1, "tiny"), (2, "two words")])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fields(df):
    # simpleString: parquet reads every array back as containsNull
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _file_states(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


@pytest.mark.parametrize("deriver,params,build", [
    ("shingles", {"w": 3},
     lambda d: dedup._collapsed_shingles_lazy(d, "text", "doc_id", 3)),
    ("simhash", {"n_bits": 16},
     lambda d: dedup.simhash_long(d, n_bits=16)),
    ("winnow", {"w": 4, "guarantee": 4},
     lambda d: dedup._winnow_selected(d, 4, 4, "text", "doc_id")
     .select("doc_id", "n_windows", "_sel").distinct()),
    ("windows", {"w": 4}, lambda d: dedup.window_index(d, 4)),
])
def test_publish_then_open_matches_in_session(spark, tmp_path, deriver,
                                              params, build):
    """The short corpus derives zero rows for windows and shingles: the
    store must still reopen, as an empty table with the schema."""
    for name, docs in (("body", _corpus(spark)),
                       ("short", _short_docs(spark))):
        idx_dir = str(tmp_path / f"fs_{deriver}_{name}")
        frame_store.publish_frame_store(docs, idx_dir, deriver, params,
                                        n_buckets=4)
        fidx = frame_store.open_frame_store(spark, idx_dir)
        assert fidx.deriver == deriver and fidx.n_buckets == 4
        assert _fields(fidx.rows) == _fields(build(docs))
        assert _rows(fidx.rows) == _rows(build(docs))


def test_ensure_reuses_across_sessions_and_gates_params(spark, tmp_path):
    src = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(src)
    idx_dir = str(tmp_path / "fs_sh")
    docs = spark.read.parquet(src)

    _, reasons1 = frame_store.ensure_frame_store(
        spark, docs, src, idx_dir, "shingles", {"w": 3})
    assert reasons1  # first publish
    before = _file_states(os.path.join(idx_dir, "rows"))
    fidx2, reasons2 = frame_store.ensure_frame_store(
        spark, spark.read.parquet(src), src, idx_dir, "shingles",
        {"w": 3})
    assert reasons2 == []  # byte-for-byte reuse
    assert _file_states(os.path.join(idx_dir, "rows")) == before
    assert fidx2.rows.count() > 0
    # a parameter change is a DIFFERENT model identity -> rebuild
    _, reasons3 = frame_store.ensure_frame_store(
        spark, spark.read.parquet(src), src, idx_dir, "shingles",
        {"w": 5})
    assert any("model" in r for r in reasons3), reasons3
    # corpus drift (rewrite in place) invalidates too
    _corpus(spark, 11).write.mode("overwrite").parquet(src)
    _, reasons4 = frame_store.ensure_frame_store(
        spark, spark.read.parquet(src), src, idx_dir, "shingles",
        {"w": 5})
    assert reasons4


def test_refresh_equals_rebuild_and_untouched_buckets_invariant(
        spark, tmp_path):
    """Change one doc, drop another: the refreshed store equals a
    from-scratch publish of the merged corpus; bucket dirs not touched
    by the batch stay byte-invariant; the derivation comes from the
    layout stamp, not the caller."""
    idx_dir = str(tmp_path / "fs_sim")
    docs = _corpus(spark, 12)
    frame_store.publish_frame_store(docs, idx_dir, "simhash",
                                    {"n_bits": 16}, n_buckets=6)
    before = _file_states(os.path.join(idx_dir, "rows"))

    changed = _docs(spark, [(3, "a completely different document body "
                                "with new words entirely")])
    removed = spark.createDataFrame([(7,)], "doc_id long")
    src = str(tmp_path / "src.parquet")
    merged = (docs.filter(~F.col("doc_id").isin([3, 7]))
              .unionByName(changed))
    merged.write.parquet(src)
    fidx = frame_store.write_frame_refresh(
        spark, idx_dir, changed, removed_ids=removed,
        source_path=src, n_docs=11)

    scratch = str(tmp_path / "fs_scratch")
    frame_store.publish_frame_store(merged, scratch, "simhash",
                                    {"n_bits": 16}, n_buckets=6)
    fresh = frame_store.open_frame_store(spark, scratch)
    assert _rows(fidx.rows) == _rows(fresh.rows)

    after = _file_states(os.path.join(idx_dir, "rows"))
    untouched = [k for k in before if k in after and before[k] == after[k]]
    assert untouched, "no bucket survived byte-invariant"
    # manifest re-stamped against the merged corpus at stored geometry
    assert is_fresh(idx_dir, frame_store.frame_manifest(
        src, 11, "simhash", {"n_bits": 16}, 6))


@MECHANICS
def test_refresh_touches_only_affected_buckets(spark, tmp_path, deriver,
                                               params):
    """Doc-bucket delta: the refreshed store equals a from-scratch
    publish over the merged corpus, and every bucket dir holding none of
    the batch's doc ids keeps its files byte-invariant — the
    partitioning exists exactly for this property."""
    idx_dir = str(tmp_path / "fs")
    docs = _corpus(spark, 12)
    frame_store.publish_frame_store(docs, idx_dir, deriver, params,
                                    n_buckets=4)
    before = _file_states(os.path.join(idx_dir, "rows"))

    changed = _docs(spark, [(3, "totally rewritten text body for doc"),
                            (50, "a brand new document joins the corpus")])
    removed = spark.createDataFrame([(7,)], "doc_id long")
    refreshed = frame_store.write_frame_refresh(spark, idx_dir, changed,
                                                removed)

    merged = (docs.filter(~F.col("doc_id").isin([3, 7]))
              .unionByName(changed))
    scratch = str(tmp_path / "scratch")
    frame_store.publish_frame_store(merged, scratch, deriver, params,
                                    n_buckets=4)
    assert _rows(refreshed.rows) == _rows(
        frame_store.open_frame_store(spark, scratch).rows)

    touched = {r[0] for r in
               _docs(spark, [(3, "x"), (7, "x"), (50, "x")])
               .select(frame_store._dbucket("doc_id", 4)).collect()}
    after = _file_states(os.path.join(idx_dir, "rows"))
    untouched = [rel for rel in before if int(
        rel.split("dbucket=")[1].split(os.sep)[0]) not in touched]
    assert untouched
    for rel in untouched:
        assert after.get(rel) == before[rel], \
            f"untouched bucket rewritten: {rel}"


@MECHANICS
def test_refresh_crash_mid_commit_rolls_forward(spark, tmp_path,
                                                monkeypatch, deriver,
                                                params):
    idx_dir = str(tmp_path / "fs")
    docs = _corpus(spark, 12)
    frame_store.publish_frame_store(docs, idx_dir, deriver, params,
                                    n_buckets=4)
    changed = _docs(spark, [(3, "rewritten body after the crash test")])

    def partial(store_dir, ops):
        assert ops
        commitlog._apply_op(store_dir, ops[0])
        raise RuntimeError("killed mid-commit")

    monkeypatch.setattr(commitlog, "_apply_ops", partial)
    with pytest.raises(RuntimeError):
        frame_store.write_frame_refresh(spark, idx_dir, changed)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(idx_dir, commitlog.JOURNAL_NAME))

    reopened = frame_store.open_frame_store(spark, idx_dir)  # recovers
    assert not os.path.exists(os.path.join(idx_dir,
                                           commitlog.JOURNAL_NAME))
    merged = docs.filter(F.col("doc_id") != 3).unionByName(changed)
    assert _rows(reopened.rows) == _rows(
        frame_store.DERIVERS[deriver](merged, params))


@MECHANICS
def test_refresh_requires_doc_count_with_source_path(spark, tmp_path,
                                                     deriver, params):
    idx_dir = str(tmp_path / "fs")
    frame_store.publish_frame_store(_corpus(spark), idx_dir, deriver,
                                    params, n_buckets=4)
    with pytest.raises(ValueError):
        frame_store.write_frame_refresh(
            spark, idx_dir, _docs(spark, [(1, "x y z w v")]),
            source_path="/tmp/whatever")


@MECHANICS
def test_refresh_all_docs_removed_keeps_store_openable(spark, tmp_path,
                                                       deriver, params):
    """Removing every doc leaves an empty-but-schema'd placeholder, and
    a later refresh on top of it rebuilds real bucket dirs (the vector
    store's degenerate-shape discipline on the doc-bucket layout)."""
    idx_dir = str(tmp_path / "fs")
    frame_store.publish_frame_store(_corpus(spark, 6), idx_dir, deriver,
                                    params, n_buckets=4)
    all_ids = spark.createDataFrame([(i,) for i in range(6)],
                                    "doc_id long")
    emptied = frame_store.write_frame_refresh(spark, idx_dir,
                                              _docs(spark, []), all_ids)
    assert emptied.rows.count() == 0
    assert frame_store.open_frame_store(spark, idx_dir).rows.count() == 0

    batch = _docs(spark, [(30, "fresh alpha beta gamma delta body"),
                          (31, "fresh alpha beta gamma delta body")])
    refreshed = frame_store.write_frame_refresh(spark, idx_dir, batch)
    assert _rows(refreshed.rows) == _rows(
        frame_store.DERIVERS[deriver](batch, params))
    assert any(d.startswith("dbucket=")
               for d in os.listdir(os.path.join(idx_dir, "rows")))


def test_derived_publish_through_ensure_counts_the_corpus_once(spark,
                                                               tmp_path):
    """`ensure_frame_store` counts the docs for the manifest and hands
    that count to the derived-bucket publish: one count job per publish,
    not two. The stamped layout (its `derived` flag included) is
    byte-identical to the one `publish_frame_store(n_buckets=None)`
    writes for the same corpus."""
    src = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(src)
    docs = spark.read.parquet(src)
    counted = []
    real_count = docs.count
    docs.count = lambda: counted.append(1) or real_count()

    idx_dir = str(tmp_path / "fs_ensure")
    _, reasons = frame_store.ensure_frame_store(
        spark, docs, src, idx_dir, "windows", {"w": 4})
    assert reasons  # first publish
    assert len(counted) == 1

    direct = str(tmp_path / "fs_direct")
    frame_store.publish_frame_store(spark.read.parquet(src), direct,
                                    "windows", {"w": 4})
    with open(os.path.join(idx_dir, frame_store.FLAYOUT_NAME), "rb") as a, \
            open(os.path.join(direct, frame_store.FLAYOUT_NAME), "rb") as b:
        assert a.read() == b.read()
    lay = commitlog.read_sidecar(idx_dir, frame_store.FLAYOUT_NAME)
    assert lay["derived"] is True
    assert lay["n_buckets"] == frame_store.window_buckets(real_count())


def test_window_buckets_rule():
    """Derived bucket count: power-of-two step function of the doc
    count, clamped — pure integer arithmetic, no flapping."""
    wb = frame_store.window_buckets
    t = frame_store.WINDOW_BUCKET_DOCS
    assert wb(0) == frame_store.DEFAULT_DBUCKETS
    assert wb(t * 16) == 16              # at the floor boundary
    assert wb(t * 16 + 1) == 32          # first doc past it doubles
    assert wb(t * 100) == 128
    assert wb(10**12) == frame_store.MAX_DBUCKETS
    last = 0
    for n in [0, 10, t, t * 17, t * 40, t * 1000, 10**9]:
        assert wb(n) >= last
        last = wb(n)


@MECHANICS
def test_bucket_geometry_derives_stamps_and_gates(spark, tmp_path,
                                                  monkeypatch, deriver,
                                                  params):
    """Two corpus sizes publish DIFFERENT derived bucket counts, the
    layout stamps the value (+derived flag), a reopened refresh uses the
    STORED count (untouched buckets stay byte-invariant under it), and
    growth across a `window_buckets` boundary flips the manifest
    stale."""
    # shrink the target so test-sized corpora cross a boundary
    monkeypatch.setattr(frame_store, "WINDOW_BUCKET_DOCS", 2)
    monkeypatch.setattr(frame_store, "DEFAULT_DBUCKETS", 4)

    small, big = _corpus(spark, 8), _corpus(spark, 40)
    src_s = str(tmp_path / "small.parquet")
    src_b = str(tmp_path / "big.parquet")
    small.write.parquet(src_s)
    big.write.parquet(src_b)

    got = {}
    for tag, src, docs in (("s", src_s, small), ("b", src_b, big)):
        idx = str(tmp_path / f"fs_{tag}")
        fidx, reasons = frame_store.ensure_frame_store(
            spark, spark.read.parquet(src), src, idx, deriver, params)
        assert reasons  # first publish
        expect = frame_store.window_buckets(docs.count())
        assert fidx.n_buckets == expect
        lay = commitlog.read_sidecar(idx, frame_store.FLAYOUT_NAME)
        assert lay["n_buckets"] == expect and lay["derived"] is True
        got[tag] = expect
        # fresh for the same corpus at derived geometry
        assert is_fresh(idx, frame_store.frame_manifest(
            src, docs.count(), deriver, params, expect))
    assert got["s"] != got["b"]

    # growth across the boundary is STALE at derived geometry
    idx_s = str(tmp_path / "fs_s")
    assert not is_fresh(idx_s, frame_store.frame_manifest(
        src_s, 40, deriver, params, frame_store.window_buckets(40)))

    # reopened refresh uses the STORED bucket count: change one doc,
    # assert only its bucket rewrote and the result equals a rebuild
    changed = _docs(spark, [(3, "completely new body text for doc three "
                                "alpha beta gamma delta")])
    before = _file_states(os.path.join(idx_s, "rows"))
    fidx2 = frame_store.write_frame_refresh(spark, idx_s, changed)
    assert fidx2.n_buckets == got["s"]
    after = _file_states(os.path.join(idx_s, "rows"))
    merged = small.filter(F.col("doc_id") != 3).unionByName(changed)
    scratch = str(tmp_path / "fs_scratch")
    frame_store.publish_frame_store(merged, scratch, deriver, params,
                                    n_buckets=got["s"])
    assert _rows(fidx2.rows) == _rows(
        frame_store.open_frame_store(spark, scratch).rows)
    # at least one bucket untouched byte-for-byte (8 docs, >=4 buckets)
    untouched = [k for k in before if k in after and before[k] == after[k]]
    assert untouched, (before, after)


def test_getters_serve_from_store_and_reuse(spark, tmp_path, monkeypatch,
                                            sf_dir):
    """plans.dedup's getters publish into the index root on first touch
    and REUSE the artifact in a fresh cache epoch (no re-derivation —
    the manifest short-circuits), while results equal the in-session
    build."""
    from hadith_vector_search_spark.plans import dedup as dplans

    # the new index root restamps every session-cache entry, so the
    # getter actually runs
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "root"))
    got = dplans.get_simhash_index(spark, sf_dir, 16)
    from hadith_vector_search_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    want = dedup.simhash_long(docs, n_bits=16)
    assert _rows(got) == _rows(want)

    # second epoch: reuse (rows files untouched)
    token = sf_dir.strip("/").replace("/", "_")
    store_dir = os.path.join(str(tmp_path / "root"),
                             f"{token}_simhash_n_bits16")
    before = _file_states(os.path.join(store_dir, "rows"))
    release_sf_pins(spark, sf_dir, drop_stream_tables=False)
    got2 = dplans.get_simhash_index(spark, sf_dir, 16)
    assert _file_states(os.path.join(store_dir, "rows")) == before
    assert _rows(got2) == _rows(want)

    # winnow getter still tags its params for the consumer guard
    sel = dplans.get_winnow_selection(spark, sf_dir)
    assert sel._winnow_params == (dedup.DUPSPAN_W, dedup.WINNOW_GUARANTEE)


@pytest.mark.parametrize("deriver,params,build", [
    ("minhash", {"w": 3, "n_hashes": 8},
     lambda d: dedup.minhash_signatures(
         dedup._collapsed_shingles_lazy(d, "text", "doc_id", 3)
         .select("doc_id", "shingles"), 8)),
])
def test_minhash_store_matches_in_session(spark, tmp_path, deriver,
                                          params, build):
    idx_dir = str(tmp_path / "fs_mh")
    docs = _corpus(spark)
    frame_store.publish_frame_store(docs, idx_dir, deriver, params,
                                    n_buckets=4)
    fidx = frame_store.open_frame_store(spark, idx_dir)
    assert _rows(fidx.rows) == _rows(build(docs))
    # a delta refresh equals a from-scratch publish of the merged corpus
    changed = _docs(spark, [(2, "totally different replacement body "
                                "with many new tokens to shingle")])
    src = str(tmp_path / "mh_src.parquet")
    merged = docs.filter(F.col("doc_id") != 2).unionByName(changed)
    merged.write.parquet(src)
    fidx = frame_store.write_frame_refresh(spark, idx_dir, changed,
                                           source_path=src, n_docs=10)
    scratch = str(tmp_path / "fs_mh_scratch")
    frame_store.publish_frame_store(merged, scratch, deriver, params,
                                    n_buckets=4)
    assert _rows(fidx.rows) == _rows(
        frame_store.open_frame_store(spark, scratch).rows)


def test_textsignals_store_matches_in_session(spark, tmp_path):
    from hadith_vector_search_spark.operators import textstats

    idx_dir = str(tmp_path / "fs_ts")
    docs = spark.createDataFrame(
        [(i, f"alpha beta the and word{i} body text", "en", "s1")
         for i in range(6)] +
        [(10 + i, f"la el de palabra{i} cuerpo", "es", "s2")
         for i in range(4)],
        "doc_id long, text string, lang string, source string")
    frame_store.publish_frame_store(docs, idx_dir, "textsignals",
                                    {"v": 1}, n_buckets=4)
    fidx = frame_store.open_frame_store(spark, idx_dir)
    assert _rows(fidx.rows) == _rows(
        frame_store._derive_textsignals(docs, {}))
    # wide-frame columns present for every consumer
    cols = set(fidx.rows.columns)
    assert {"doc_id", "lang", "source", "predicted", "quality",
            "ws_tokens", "word_tokens", "bpe_est_tokens",
            "fingerprint"} <= cols
    # delta refresh == from-scratch publish of the merged corpus
    changed = spark.createDataFrame(
        [(1, "zzz qqq 1234 !!!", "en", "s1")],
        "doc_id long, text string, lang string, source string")
    src = str(tmp_path / "ts_src.parquet")
    merged = docs.filter(F.col("doc_id") != 1).unionByName(changed)
    merged.write.parquet(src)
    fidx = frame_store.write_frame_refresh(
        spark, idx_dir,
        changed.select("doc_id", "text", "lang", "source"),
        source_path=src, n_docs=10)
    scratch = str(tmp_path / "fs_ts_scratch")
    frame_store.publish_frame_store(merged, scratch, "textsignals",
                                    {"v": 1}, n_buckets=4)
    assert _rows(fidx.rows) == _rows(
        frame_store.open_frame_store(spark, scratch).rows)


def test_minhash_and_textsignal_getters_serve_from_store(
        spark, tmp_path, monkeypatch, sf_dir):
    from hadith_vector_search_spark.plans import dedup as dplans
    from hadith_vector_search_spark.plans import textstats as tplans
    from hadith_vector_search_spark.sources import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "root"))
    docs = load_table(spark, sf_dir, "documents")
    got = dplans.get_minhash_index(spark, sf_dir)
    want = dedup.minhash_signatures(
        dedup._collapsed_shingles_lazy(docs, "text", "doc_id",
                                       dedup.SHINGLE_W)
        .select("doc_id", "shingles"), dplans.N_HASHES)
    assert _rows(got) == _rows(want)
    # reuse in a fresh cache epoch: rows files untouched
    token = sf_dir.strip("/").replace("/", "_")
    store_dir = os.path.join(
        str(tmp_path / "root"),
        f"{token}_minhash_n_hashes{dplans.N_HASHES}_w{dedup.SHINGLE_W}")
    before = _file_states(os.path.join(store_dir, "rows"))
    release_sf_pins(spark, sf_dir, drop_stream_tables=False)
    assert _rows(dplans.get_minhash_index(spark, sf_dir)) == _rows(want)
    assert _file_states(os.path.join(store_dir, "rows")) == before

    sig = tplans.get_textsignals_index(spark, sf_dir)
    assert _rows(sig) == _rows(frame_store._derive_textsignals(docs, {}))
