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
