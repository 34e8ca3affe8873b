"""The store core (`sources.commit`) without Spark: the swap-or-whole-
table decision every partitioned refresh commits through, the
crash-aware ensure, sidecar IO, and the rule that the store modules
write and swap only through the core."""

from __future__ import annotations

import os

import pytest

from hadith_vector_search_spark.sources import commit
from hadith_vector_search_spark.sources.manifest import (IndexManifest,
                                                         ensure_index,
                                                         is_fresh,
                                                         write_manifest)

STG = commit.STAGING_NAME


def _dirs(*parts):
    return {f"cell={p}" for p in parts}


def test_swap_ops_delta_swaps_survivors_and_removes_emptied():
    ops, placeholder = commit.swap_ops(
        "vectors", still=_dirs(1, 4), existing=_dirs(0, 1, 2, 3),
        touched=_dirs(1, 2, 4))
    assert not placeholder
    assert ops == [
        {"op": "swap_dir", "src": f"{STG}/vectors/cell=1",
         "dst": "vectors/cell=1"},
        {"op": "swap_dir", "src": f"{STG}/vectors/cell=4",
         "dst": "vectors/cell=4"},
        {"op": "remove_dir", "dst": "vectors/cell=2"}]


def test_swap_ops_touched_emptied_while_others_remain():
    ops, placeholder = commit.swap_ops(
        "sigs", still=set(), existing=_dirs(0, 1, 2), touched=_dirs(0, 2))
    assert not placeholder
    assert ops == [{"op": "remove_dir", "dst": "sigs/cell=0"},
                   {"op": "remove_dir", "dst": "sigs/cell=2"}]


def test_swap_ops_every_partition_emptied_swaps_whole_placeholder():
    ops, placeholder = commit.swap_ops(
        "rows", still=set(), existing=_dirs(0, 1), touched=_dirs(0, 1))
    assert placeholder
    assert ops == [{"op": "swap_dir", "src": f"{STG}/rows", "dst": "rows"}]


def test_swap_ops_refresh_on_placeholder_store_swaps_whole_table():
    # the live table is the placeholder: no partition dirs to swap into
    ops, placeholder = commit.swap_ops(
        "postings", still=_dirs(3), existing=set(), touched=_dirs(3))
    assert not placeholder
    assert ops == [{"op": "swap_dir", "src": f"{STG}/postings",
                    "dst": "postings"}]
    # ...and a batch that leaves it empty keeps it the placeholder
    assert commit.swap_ops("postings", set(), set(), _dirs(3))[1]


def _manifest(n_rows):
    return IndexManifest(model_name="m", dim=0, n_rows=n_rows)


def _land_committed_refresh(d, n_rows):
    """A refresh killed after its journal landed: the new manifest sits
    in staging and `_commit.json` holds its swap."""
    commit.write_sidecar(os.path.join(d, STG), commit.MANIFEST_NAME,
                         _manifest(n_rows).to_json())
    commit.write_sidecar(d, commit.JOURNAL_NAME, {"ops": [
        {"op": "swap_file", "src": f"{STG}/{commit.MANIFEST_NAME}",
         "dst": commit.MANIFEST_NAME}]})


def test_ensure_index_rolls_a_committed_refresh_forward(tmp_path):
    d = str(tmp_path / "store")
    write_manifest(d, _manifest(10))
    _land_committed_refresh(d, 12)
    builds = []
    assert ensure_index(d, _manifest(12), lambda: builds.append(1)) == []
    assert builds == []  # the committed refresh is reused, not rebuilt
    assert not os.path.exists(os.path.join(d, commit.JOURNAL_NAME))


def test_is_fresh_settles_the_journal_first(tmp_path):
    d = str(tmp_path / "store")
    write_manifest(d, _manifest(10))
    _land_committed_refresh(d, 12)
    assert is_fresh(d, _manifest(12))
    assert not is_fresh(d, _manifest(10))
    assert not is_fresh(str(tmp_path / "absent"), _manifest(10))


def test_sidecar_round_trip_and_default(tmp_path):
    d = str(tmp_path / "store")
    commit.write_sidecar(d, "_x.json", {"b": 1, "a": [2]})
    with open(os.path.join(d, "_x.json")) as fh:
        assert fh.read() == '{"b": 1, "a": [2]}'  # insertion order kept
    assert commit.read_sidecar(d, "_x.json") == {"b": 1, "a": [2]}
    assert commit.read_sidecar(d, "_y.json", default=None) is None
    with pytest.raises(FileNotFoundError):
        commit.read_sidecar(d, "_y.json")


@pytest.mark.parametrize("module", ["index_store", "vector_store",
                                    "frame_store"])
def test_store_modules_write_only_through_the_core(module):
    """Partitioned writes and atomic renames live in `sources.commit`
    alone, so the protocol cannot drift between store kinds again."""
    path = os.path.join(os.path.dirname(commit.__file__), f"{module}.py")
    with open(path) as fh:
        src = fh.read()
    for banned in ("partitionBy(", "os.replace("):
        assert banned not in src, f"{module}.py calls {banned}"
