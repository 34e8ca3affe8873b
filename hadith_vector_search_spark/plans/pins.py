"""Session-pin bookkeeping across the plan modules.

Every derived index/output pin is keyed by
``(applicationId, abspath(sf_dir), ...)`` in its owning module's cache.
`release_sf_pins` drops every pin belonging to one scale directory so a
long session that crosses scale dirs (the bench's warm-at-sf0.01 →
time-at-sf0.1 protocol) does not carry the warm dir's checkpoint blocks
and memory-sink tables into the measured pass — on a 16g driver the dead
warm-SF state is pure GC pressure. Spark's ContextCleaner unpersists the
checkpoint RDDs once the last DataFrame reference is dropped and Python
GC runs."""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession


def release_sf_pins(spark: SparkSession, sf_dir: str,
                    drop_stream_tables: bool = True) -> int:
    """Drop every session pin keyed to `sf_dir` (and, optionally, all
    streaming memory-sink tables). Returns the number of cache entries
    released. Safe to call mid-session: the next consumer rebuilds."""
    from . import dedup as dedup_plans
    from . import lexical as lexical_plans
    from . import semantic as semantic_plans

    target = os.path.abspath(sf_dir)
    n = 0
    for cache in (dedup_plans._INDEX_CACHE, semantic_plans._PIN_CACHE,
                  semantic_plans._VLSH_CACHE, semantic_plans._CODEBOOK_CACHE,
                  semantic_plans._VIDX_CACHE):
        for key in [k for k in cache
                    if len(k) >= 2 and isinstance(k[1], str)
                    and os.path.abspath(k[1]) == target]:
            cache.pop(key, None)
            n += 1
    for key in [k for k in lexical_plans._INDEX_CACHE
                if len(k) >= 2 and isinstance(k[1], str)
                and os.path.abspath(k[1]) == target]:
        lexical_plans._INDEX_CACHE.pop(key, None)
        n += 1
    if drop_stream_tables:
        # Memory-sink tables hold their full result in driver memory and
        # are write-once (fresh name per run) — completed ones are dead
        # weight. Names carry the owning scale dir's token
        # (streaming.ingest._memsink_name), so only THIS sf_dir's tables
        # are dropped — another SF's live sink tables survive a
        # mid-session release.
        from ..streaming.ingest import sf_token
        tok = f"_sf{sf_token(sf_dir)}_"
        for t in spark.catalog.listTables():
            if t.name.startswith("stream_") and tok in t.name:
                spark.catalog.dropTempView(t.name)
                n += 1
    gc.collect()
    return n
