"""Crash-safe store-mutation commit protocol, shared by the published
lexical index (`sources.index_store`) and the published vector index
(`sources.vector_store`) — the staged-write + commit-point pattern proven
by `streaming.ingest.stream_merge_jsonl`.

A refresh stages EVERY new file under `<store_dir>/.refresh-staging`
first, then atomically publishes a journal (`_commit.json`) listing the
rename/delete ops, then replays it. A kill BEFORE the journal lands
leaves the live tree untouched (staging is garbage, removed on next
open); a kill DURING the replay leaves the journal, and the next open
rolls FORWARD (every op is idempotent). A reopen therefore sees either
the wholly-old or the wholly-new store, never a mix — asserted by the
kill-mid-refresh tests. On a lake the journal is the table format's
snapshot commit (Delta/Iceberg); this is the single-node stand-in with
the same either/or visibility.
"""

from __future__ import annotations

import json
import os
import shutil

JOURNAL_NAME = "_commit.json"
STAGING_NAME = ".refresh-staging"


def _apply_op(store_dir: str, op: dict) -> None:
    """One journal op; each is idempotent so a partial replay can rerun.
    swap_* consume their staging source (a missing source == already
    applied); remove_dir is naturally idempotent."""
    dst = os.path.join(store_dir, op["dst"])
    if op["op"] == "remove_dir":
        shutil.rmtree(dst, ignore_errors=True)
        return
    src = os.path.join(store_dir, op["src"])
    if op["op"] == "swap_dir":
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            os.rename(src, dst)
    elif op["op"] == "swap_file":
        if os.path.exists(src):
            os.replace(src, dst)


def _apply_ops(store_dir: str, ops: list[dict]) -> None:
    for op in ops:
        _apply_op(store_dir, op)


def _write_journal(store_dir: str, ops: list[dict]) -> None:
    """THE commit point: the atomic appearance of _commit.json flips the
    refresh from roll-back (ignore staging) to roll-forward (replay)."""
    tmp = os.path.join(store_dir, f".{JOURNAL_NAME}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"ops": ops}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(store_dir, JOURNAL_NAME))


def recover(store_dir: str) -> str | None:
    """Settle any interrupted refresh before reading or writing the store.
    Journal present -> roll FORWARD (replay the idempotent ops, then drop
    the journal); no journal -> any staging dir is a pre-commit orphan,
    roll BACK by deleting it. Returns 'forward'/'back'/None for tests."""
    action = None
    journal = os.path.join(store_dir, JOURNAL_NAME)
    if os.path.exists(journal):
        with open(journal) as fh:
            _apply_ops(store_dir, json.load(fh)["ops"])
        os.remove(journal)
        action = "forward"
    staging = os.path.join(store_dir, STAGING_NAME)
    if os.path.isdir(staging):
        shutil.rmtree(staging, ignore_errors=True)
        action = action or "back"
    return action


def commit(store_dir: str, ops: list[dict]) -> None:
    """Journal-then-replay; callers stage everything first. Crash
    anywhere inside is settled by the next `recover`."""
    _write_journal(store_dir, ops)
    _apply_ops(store_dir, ops)
    os.remove(os.path.join(store_dir, JOURNAL_NAME))
    shutil.rmtree(os.path.join(store_dir, STAGING_NAME), ignore_errors=True)


def clone_store(src_dir: str, dst_dir: str) -> None:
    """File-level fork of a settled store directory: hardlink every file
    into `dst_dir` (copying when the link fails, e.g. across devices),
    skipping any journal/staging leftovers. Store files are IMMUTABLE
    once written — every mutation in this protocol is a staged-dir swap
    (rename in, rmtree out) — so the two trees cannot interfere: a
    refresh on the clone unlinks only ITS directory entries and renames
    fresh staged dirs in, while the source keeps its own links; a
    republish of the source likewise replaces the source's entries
    without touching the clone's. Intended caller: a maintenance twin
    forking a throwaway working store off a published per-corpus-snapshot
    index — the fork is pure filesystem metadata, where a seeded Spark
    re-publish of the same rows pays a full read + exchange + write +
    per-partition-dir task commits for bytes that already exist in
    exactly the target layout (on a lake this is a table-format shallow
    clone / snapshot branch, the same metadata-only operation). Raises
    FileExistsError when `dst_dir` exists and is not empty: linking
    over a stale tree would mix its files with the source's."""
    if os.path.isdir(dst_dir) and os.listdir(dst_dir):
        raise FileExistsError(f"clone destination {dst_dir} is not empty")
    recover(src_dir)
    os.makedirs(dst_dir, exist_ok=True)
    skip = {JOURNAL_NAME, f".{JOURNAL_NAME}.tmp", STAGING_NAME}

    def _link_or_copy(src: str, dst: str) -> None:
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    for name in os.listdir(src_dir):
        if name in skip:
            continue
        src = os.path.join(src_dir, name)
        dst = os.path.join(dst_dir, name)
        if os.path.isdir(src):
            shutil.copytree(src, dst, copy_function=_link_or_copy)
        else:
            _link_or_copy(src, dst)
