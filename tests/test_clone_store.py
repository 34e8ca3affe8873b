"""File-level store forking (`sources.commit.clone_store`): the
maintenance twins fork their throwaway working store off the published
per-corpus-snapshot index as a hardlink/copy of the settled directory
tree instead of a seeded Spark re-publish of the same rows. These tests
pin the three properties that make the fork safe: journal/staging
leftovers never ride into the clone (and a crashed source settles
first), the clone's content equals what the seeded publish produced,
and a refresh on the clone can never mutate the source (store files are
immutable; every mutation is a dir swap)."""

from __future__ import annotations

import errno
import math
import os

import pytest

from pyspark.sql import functions as F

from hadith_vector_search_spark.sources import commit as commitlog
from hadith_vector_search_spark.sources import vector_store

DIM = 6


def _vec(seed: int) -> list[float]:
    raw = [math.sin(seed * 2.7 + i * 1.3) + 0.01 * i for i in range(DIM)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _emb(spark, ids):
    return spark.createDataFrame([(i, _vec(i)) for i in ids],
                                 "vec_id long, embedding array<double>")


def _sig_rows(spark, idx_dir):
    lidx = vector_store.open_lsh_index(spark, idx_dir)
    return sorted((r.vec_id, r.bucket,
                   tuple(round(x, 12) for x in r.embedding))
                  for r in lidx.sigs.collect())


def _file_states(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


def test_clone_skips_journal_and_staging_and_settles_source(spark, tmp_path):
    """Pre-commit staging in the source is a rollback orphan: the clone
    settles the source first (staging removed) and carries neither the
    staging dir nor any journal file into the destination."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    vector_store.publish_lsh_index(_emb(spark, range(12)), src, n_planes=3)
    os.makedirs(os.path.join(src, commitlog.STAGING_NAME, "sigs"))
    with open(os.path.join(src, f".{commitlog.JOURNAL_NAME}.tmp"),
              "w") as fh:
        fh.write("{}")
    commitlog.clone_store(src, dst)
    assert not os.path.exists(os.path.join(src, commitlog.STAGING_NAME))
    assert not os.path.exists(os.path.join(dst, commitlog.STAGING_NAME))
    assert not os.path.exists(os.path.join(dst, commitlog.JOURNAL_NAME))
    assert not os.path.exists(
        os.path.join(dst, f".{commitlog.JOURNAL_NAME}.tmp"))
    assert _sig_rows(spark, dst) == _sig_rows(spark, src)


def test_clone_equals_seeded_publish(spark, tmp_path):
    """The fork the twins take must hold exactly what the old seeded
    Spark publish wrote: same sigs rows, same planes, same layout
    identity fields."""
    emb = _emb(spark, range(15))
    src = str(tmp_path / "src")
    cloned = str(tmp_path / "cloned")
    seeded = str(tmp_path / "seeded")
    vector_store.publish_lsh_index(emb, src, n_planes=3)
    pub = vector_store.open_lsh_index(spark, src)
    commitlog.clone_store(src, cloned)
    vector_store.publish_lsh_index(
        emb, seeded, n_planes=3, govern=False, planes=pub.planes,
        requested_planes=pub.requested_planes, sigs=pub.sigs)
    a = vector_store.open_lsh_index(spark, cloned)
    b = vector_store.open_lsh_index(spark, seeded)
    assert _sig_rows(spark, cloned) == _sig_rows(spark, seeded)
    assert a.planes == b.planes
    assert (a.n_planes, a.requested_planes, a.id_col, a.vec_col) == \
        (b.n_planes, b.requested_planes, b.id_col, b.vec_col)


def test_refresh_on_clone_never_touches_source(spark, tmp_path):
    """Hardlinked files are safe because every store mutation is a
    staged-dir swap: a delta refresh on the clone unlinks only the
    clone's directory entries. The source's bytes (mtime+size of every
    file) and rows must be identical before and after, while the clone
    reflects the refresh exactly as a refresh on an independent copy."""
    emb = _emb(spark, range(15))
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ref = str(tmp_path / "ref")
    vector_store.publish_lsh_index(emb, src, n_planes=3)
    commitlog.clone_store(src, dst)
    # independent full-copy control store, refreshed identically
    pub = vector_store.open_lsh_index(spark, src)
    vector_store.publish_lsh_index(
        emb, ref, n_planes=3, govern=False, planes=pub.planes,
        requested_planes=pub.requested_planes, sigs=pub.sigs)
    before_rows = _sig_rows(spark, src)
    before_files = _file_states(src)
    changed = _emb(spark, [3, 30]).withColumn(
        "embedding", F.transform("embedding", lambda x: -x))
    removed = spark.createDataFrame([(7,)], "vec_id long")
    vector_store.write_lsh_refresh(spark, dst, changed, removed)
    vector_store.write_lsh_refresh(spark, ref, changed, removed)
    assert _file_states(src) == before_files
    assert _sig_rows(spark, src) == before_rows
    got = _sig_rows(spark, dst)
    assert got == _sig_rows(spark, ref)
    ids = {r[0] for r in got}
    assert 7 not in ids and 30 in ids


def _plain_store(root) -> dict[str, bytes]:
    """A settled store tree of plain files (no Spark): what clone_store
    walks is directory structure and bytes, whatever the format."""
    files = {"_lshlayout.json": b'{"n_planes": 3}',
             os.path.join("sigs", "bucket=b0", "part-0.parquet"): b"PAR1\x00a",
             os.path.join("sigs", "bucket=b1", "part-0.parquet"): b"PAR1\x01b",
             os.path.join("planes", "part-0.parquet"): b"PAR1\x02c"}
    for rel, data in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
    return files


def test_clone_refuses_non_empty_destination(tmp_path):
    """A leftover tree at the destination would mix its files with the
    source's links: the clone fails fast and leaves it untouched, while
    an existing EMPTY destination is fine."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    files = _plain_store(src)
    os.makedirs(dst)
    with open(os.path.join(dst, "stale.parquet"), "wb") as fh:
        fh.write(b"old")
    with pytest.raises(FileExistsError):
        commitlog.clone_store(src, dst)
    assert os.listdir(dst) == ["stale.parquet"]

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    commitlog.clone_store(src, empty)
    assert set(_file_states(empty)) == set(files)


def test_clone_copies_when_hardlink_crosses_devices(tmp_path, monkeypatch):
    """`os.link` fails with EXDEV when source and destination sit on
    different devices: every file is then copied — same bytes, and no
    file shares an inode with the source."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    files = _plain_store(src)

    def cross_device(a, b, *args, **kwargs):
        raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), a, None, b)

    monkeypatch.setattr(os, "link", cross_device)
    commitlog.clone_store(src, dst)
    assert set(_file_states(dst)) == set(files)
    for rel, data in files.items():
        with open(os.path.join(dst, rel), "rb") as fh:
            assert fh.read() == data
        assert (os.stat(os.path.join(dst, rel)).st_ino
                != os.stat(os.path.join(src, rel)).st_ino)
