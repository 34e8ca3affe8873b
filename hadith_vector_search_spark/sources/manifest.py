"""Whole-index staleness detection (S9-S12 companion): a persisted
manifest that invalidates a DERIVED index (embedding cache, lexical
postings) when anything it was built FROM drifts — the Spark analogue of
the reference's metadata gate, which rebuilds when model name, entry
count, or the source manifest changes
(/root/reference/quran_mcp/embeddings.py:48-57) and the mcp_server
variant's file-mtime check (/root/reference/mcp_server/apps/embeddings.py).

The row-level checksum anti-join (`sources.ingest.classify_changes`)
catches per-document edits; THIS catches the drifts row checksums cannot
see: a model/dimension swap (every cached vector silently wrong), a
source file replaced in place, or a count mismatch from a partial write.

On a lake deployment the manifest is a tiny JSON next to the derived
table (exactly as the _SUCCESS marker lives today); `ensure_index` is the
build-or-reuse entry used by long-lived services at startup."""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Callable

from .commit import MANIFEST_NAME, read_sidecar, recover, write_sidecar


@dataclass
class IndexManifest:
    model_name: str
    dim: int
    n_rows: int
    # path -> [mtime_ns, size]; JSON round-trips tuples as lists.
    source_files: dict[str, list[int]] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)


def source_fingerprint(paths: list[str]) -> dict[str, list[int]]:
    """(mtime_ns, size) per data file under each path — directories are
    walked so a parquet directory fingerprints all its part files. Hidden
    and metadata files (_SUCCESS, .crc) are ignored, matching what Spark
    itself reads."""
    out: dict[str, list[int]] = {}
    for p in paths:
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                for f in sorted(files):
                    if f.startswith((".", "_")):
                        continue
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    out[fp] = [st.st_mtime_ns, st.st_size]
        elif os.path.exists(p):
            st = os.stat(p)
            out[p] = [st.st_mtime_ns, st.st_size]
    return out


def write_manifest(index_dir: str, manifest: IndexManifest) -> None:
    """Atomic publish (write + rename), same discipline as the streaming
    MERGE commit point."""
    write_sidecar(index_dir, MANIFEST_NAME, manifest.to_json())


def read_manifest(index_dir: str) -> IndexManifest | None:
    try:
        payload = read_sidecar(index_dir, MANIFEST_NAME, default=None)
        return None if payload is None else IndexManifest(**payload)
    except (json.JSONDecodeError, TypeError):
        return None  # unreadable manifest == stale


def staleness_reasons(existing: IndexManifest | None, current: IndexManifest) -> list[str]:
    """Why the index must be rebuilt; empty list == fresh. Mirrors the
    reference's three checks (model, count, source manifest) plus the
    dimension (a dim change with the same model name is still a different
    geometry)."""
    if existing is None:
        return ["no manifest"]
    reasons = []
    if existing.model_name != current.model_name:
        reasons.append(f"model changed: {existing.model_name!r} -> "
                       f"{current.model_name!r}")
    if existing.dim != current.dim:
        reasons.append(f"dim changed: {existing.dim} -> {current.dim}")
    if existing.n_rows != current.n_rows:
        reasons.append(f"row count changed: {existing.n_rows} -> {current.n_rows}")
    if existing.source_files != current.source_files:
        reasons.append("source files changed (mtime/size/set drift)")
    return reasons


def is_fresh(index_dir: str, current: IndexManifest) -> bool:
    """True iff the store at `index_dir` would be reused as-is by
    `ensure_index` against `current`. Settles any interrupted refresh
    first: a committed journal may hold the newer manifest."""
    recover(index_dir)
    return not staleness_reasons(read_manifest(index_dir), current)


def ensure_index(index_dir: str, current: IndexManifest,
                 build: Callable[[], None]) -> list[str]:
    """Build-or-reuse: rebuild (and re-stamp the manifest) iff stale.
    Settles any interrupted refresh BEFORE the comparison — a refresh
    whose journal landed is rolled forward, so its manifest, not the
    pre-refresh one, decides (a committed refresh that already matches
    `current` is reused, never rebuilt). Returns the staleness reasons
    that triggered the rebuild ([] if the cached index was reused) so
    callers can log/observe invalidations."""
    recover(index_dir)
    reasons = staleness_reasons(read_manifest(index_dir), current)
    if reasons:
        build()
        write_manifest(index_dir, current)
    return reasons
