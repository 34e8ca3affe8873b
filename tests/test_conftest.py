"""The SLOW_TESTS stale-key check in conftest.py, driven through pytest
subprocesses (Spark-free: collection only)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

TESTS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS)


def _collect(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def test_node_id_selection_passes_the_stale_key_check():
    # The collect report of a node-id selection lists only the selected
    # test; the check must still see every test its file defines. The
    # selected test is itself in SLOW_TESTS, so `-m ""` keeps it selected.
    run = _collect(REPO, "-m", "",
                   "tests/test_api.py::test_hybrid_search_returns_ranked_results")
    assert run.returncode == 0, run.stdout + run.stderr
    assert "1 test collected" in run.stdout


def test_stale_key_still_fails_collection(tmp_path):
    # A test_api.py that defines only one of its SLOW_TESTS keys: every
    # other test_api.py key is stale and collection must refuse to run.
    shutil.copy(os.path.join(TESTS, "conftest.py"), tmp_path / "conftest.py")
    (tmp_path / "test_api.py").write_text(
        "def test_hybrid_search_returns_ranked_results():\n    pass\n")
    run = _collect(str(tmp_path),
                   "test_api.py::test_hybrid_search_returns_ranked_results")
    out = run.stdout + run.stderr
    assert run.returncode != 0, out
    error = next(line for line in out.splitlines() if "SLOW_TESTS" in line)
    assert "test_api.py::test_upsert_delta_skips_recollect" in error
    assert "test_hybrid_search_returns_ranked_results" not in error


def test_stale_param_key_fails_collection(tmp_path):
    # The parametrized function still exists, but one SLOW_TESTS key
    # names a parameter set it no longer generates.
    shutil.copy(os.path.join(TESTS, "conftest.py"), tmp_path / "conftest.py")
    (tmp_path / "test_lifecycle_streaming.py").write_text(
        "import pytest\n\n\n"
        "@pytest.mark.parametrize('name', ['embed_documents_preview'])\n"
        "def test_matches_oracle(name):\n    pass\n\n\n"
        "def test_drop_duplicates_within_watermark_bounds_state():\n"
        "    pass\n")
    run = _collect(str(tmp_path), "-k", "drop_duplicates")
    out = run.stdout + run.stderr
    assert run.returncode != 0, out
    error = next(line for line in out.splitlines() if "SLOW_TESTS" in line)
    assert error.endswith(
        "test_lifecycle_streaming.py::test_matches_oracle"
        "[streaming_lsh_refresh]"), error
