"""Published substring-dedup WINDOW index, served by the generic frame
store (sources/frame_store.py, deriver "windows"): manifest reuse across
sessions and corpus-drift invalidation."""

from __future__ import annotations

import os

from hadith_vector_search_spark.operators import dedup
from hadith_vector_search_spark.sources import frame_store

W = 4


def _corpus(spark, n=12):
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [(i, f"{shared} tail words {i} more body text here") for i in
            range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


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


def test_ensure_reuses_across_sessions(spark, tmp_path):
    src = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(src)
    idx_dir = str(tmp_path / "winidx")
    docs = spark.read.parquet(src)

    _, reasons1 = frame_store.ensure_frame_store(
        spark, docs, src, idx_dir, "windows", {"w": W})
    assert reasons1 == ["no manifest"]
    before = _file_states(idx_dir)
    assert before

    widx2, reasons2 = frame_store.ensure_frame_store(
        spark, spark.read.parquet(src), src, idx_dir, "windows", {"w": W})
    assert reasons2 == []
    assert _file_states(idx_dir) == before  # byte-for-byte reuse
    assert _rows(widx2.rows) == _rows(dedup.window_index(docs, W))

    # corpus drift (rewrite in place) invalidates
    _corpus(spark, 13).write.mode("overwrite").parquet(src)
    _, reasons3 = frame_store.ensure_frame_store(
        spark, spark.read.parquet(src), src, idx_dir, "windows", {"w": W})
    assert reasons3
