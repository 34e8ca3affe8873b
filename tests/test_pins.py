"""release_sf_pins: dropping one scale dir's pins must leave other dirs'
pins untouched and let the next consumer rebuild transparently."""

from __future__ import annotations

from hadith_vector_search_spark.plans import dedup as dedup_plans
from hadith_vector_search_spark.plans.pins import release_sf_pins

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def test_release_is_scoped_and_rebuildable(spark):
    a1 = dedup_plans.get_shingle_index(spark, SF_A)
    b1 = dedup_plans.get_shingle_index(spark, SF_B)
    n = release_sf_pins(spark, SF_A)
    assert n >= 1
    # other dir's pin survives (same object back)
    assert dedup_plans.get_shingle_index(spark, SF_B) is b1
    # released dir rebuilds a fresh frame with identical content
    a2 = dedup_plans.get_shingle_index(spark, SF_A)
    assert a2 is not a1
    assert a2.count() == a1.count()
    # releasing again with nothing streaming is a no-op for this module
    release_sf_pins(spark, SF_A)
    assert dedup_plans.get_shingle_index(spark, SF_A) is not a1


def test_release_drops_only_own_sf_stream_tables(spark):
    from hadith_vector_search_spark.streaming.ingest import _memsink_name

    name_a = _memsink_name("rollup", SF_A)
    name_b = _memsink_name("rollup", SF_B)
    spark.range(1).createOrReplaceTempView(name_a)
    spark.range(1).createOrReplaceTempView(name_b)
    try:
        release_sf_pins(spark, SF_A)
        live = {t.name for t in spark.catalog.listTables()}
        assert name_a not in live          # own SF's sink table dropped
        assert name_b in live              # other SF's live table survives
    finally:
        for nm in (name_a, name_b):
            spark.catalog.dropTempView(nm) if nm in {
                t.name for t in spark.catalog.listTables()} else None


def test_release_covers_semantic_pins_too(spark):
    from hadith_vector_search_spark.plans import semantic as sp

    a = sp.cosine_topk(spark, SF_A)
    b = sp.cosine_topk(spark, SF_B)
    # store handles carry resident tiers: they are released too
    ha = sp.get_vector_store(spark, SF_A, "vec")
    hb = sp.get_vector_store(spark, SF_B, "vec")
    n = release_sf_pins(spark, SF_A)
    assert n >= 2
    assert sp.cosine_topk(spark, SF_B) is b      # other dir untouched
    assert sp.get_vector_store(spark, SF_B, "vec") is hb
    a2 = sp.cosine_topk(spark, SF_A)             # released dir rebuilds
    assert a2 is not a
    assert a2.count() == a.count()
    ha2 = sp.get_vector_store(spark, SF_A, "vec")  # released dir reopens
    assert ha2 is not ha
    assert ha2.index_dir == ha.index_dir


def _spark_jobs(spark, fn):
    """Run `fn()`; return (number of Spark jobs it launched, its result)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return len(set(tracker.getJobIdsForGroup()) - before), out


def test_cache_rule_rebuilds_on_any_stamp_change(tmp_path, monkeypatch):
    """One validity rule, checked without Spark: an entry is rebuilt when
    the application id, the index root or the fingerprint of its source
    table changes, and served as-is otherwise; releasing one scale dir
    leaves another dir's entries alone."""
    from types import SimpleNamespace

    from hadith_vector_search_spark.plans.pins import cached

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(
            applicationId=app_id))

    sf_a, sf_b = tmp_path / "sf_a", tmp_path / "sf_b"
    for d in (sf_a, sf_b):
        d.mkdir()
        (d / "documents.parquet").write_bytes(b"v1")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "root1"))
    builds = []

    def get(spark, sf):
        return cached(spark, str(sf), "documents", "entry",
                      lambda: builds.append(sf) or len(builds))

    app1, app2 = session("app-1"), session("app-2")
    assert get(app1, sf_a) == 1
    assert get(app1, sf_a) == 1                  # same stamp: served
    assert get(app2, sf_a) == 2                  # application id changed
    (sf_a / "documents.parquet").write_bytes(b"v2 rewritten")
    assert get(app2, sf_a) == 3                  # fingerprint changed
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "root2"))
    assert get(app2, sf_a) == 4                  # index root changed
    assert get(app2, sf_a) == 4
    assert get(app2, sf_b) == 5
    assert release_sf_pins(app2, str(sf_a), drop_stream_tables=False) == 1
    assert get(app2, sf_b) == 5                  # other dir untouched
    assert get(app2, sf_a) == 6                  # released dir rebuilds


def test_in_place_table_rewrite_invalidates_entries(spark, tmp_path,
                                                    monkeypatch):
    """A table rewritten in place mid-session is never served from the
    entries built over its old contents: the frame-store rows, the
    lexical index, the embeddings stats and a pinned top-k all see the
    new rows."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from hadith_vector_search_spark.plans import lexical
    from hadith_vector_search_spark.plans import semantic as sp

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in ("documents", "embeddings"):
        shutil.copyfile(f"{SF_A}/{t}.parquet", sf / f"{t}.parquet")
    sf = str(sf)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "root"))

    def ids(df, col="doc_id"):
        return {r[0] for r in df.select(col).distinct().collect()}

    def halve(table, col):
        path = f"{sf}/{table}.parquet"
        rows = pq.read_table(path)
        rows = rows.filter(pc.equal(pc.bit_wise_and(rows[col], 1), 0))
        pq.write_table(rows, path)
        return set(rows[col].to_pylist())

    def serve():
        return (ids(dedup_plans.get_shingle_index(spark, sf)),
                ids(dedup_plans.get_simhash_index(spark, sf, 16)),
                ids(lexical.get_index(spark, sf).doc_len))

    old = serve()
    assert all(any(d % 2 for d in got) for got in old)
    n_vecs, dim = sp._emb_stats(spark, sf)
    assert any(v % 2 for v in ids(sp.cosine_topk(spark, sf), "vec_id"))

    # every getter derives per doc, so the new rows are the old ones
    # restricted to the surviving docs
    new_docs = halve("documents", "doc_id")
    assert serve() == tuple(got & new_docs for got in old)

    new_vecs = halve("embeddings", "vec_id")
    assert sp._emb_stats(spark, sf) == (len(new_vecs), dim) != (n_vecs, dim)
    top = ids(sp.cosine_topk(spark, sf), "vec_id")
    assert top and top <= new_vecs


def test_warm_getter_calls_launch_no_spark_job(spark):
    """A warm store getter returns its session-cache entry: no ensure
    re-run, no reopen, no Spark job."""
    from hadith_vector_search_spark.plans import semantic as sp

    for get in (lambda: sp.get_vector_store(spark, SF_A, "vec"),
                lambda: sp.get_published_lsh_index(spark, SF_A),
                lambda: dedup_plans.get_simhash_index(spark, SF_A, 16)):
        first = get()
        jobs, again = _spark_jobs(spark, get)
        assert jobs == 0
        assert again is first


def test_reused_lexical_store_records_its_pin_plan(spark, tmp_path,
                                                   monkeypatch):
    """The lexical index handle records its pin-time plan
    (`lexical_postings`) on every build, like the frame stores, so a
    session that reuses an already published store still exposes it to
    the plan-hygiene sweep."""
    import os

    from hadith_vector_search_spark.plans import lexical
    from hadith_vector_search_spark.plans.pin_audit import PIN_PLANS

    monkeypatch.setenv("SPARK_GRAFT_INDEX_ROOT", str(tmp_path / "root"))
    key = ("lexical_postings", os.path.abspath(SF_A))
    lexical.get_index(spark, SF_A)  # publishes the store
    release_sf_pins(spark, SF_A)
    PIN_PLANS.pop(key, None)
    lexical.get_index(spark, SF_A)  # reopens it byte-for-byte
    assert "Exchange" in PIN_PLANS[key]
