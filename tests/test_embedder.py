"""Embedder backend selection, geometry, and the real-model branch
(SURVEY §2.8 V1/V2; ref /root/reference/quran_mcp/embeddings.py:28-37).

The sentence-transformers package is intentionally absent from this
container, so the real-model code path (lazy load, per-process singleton,
batch kwargs, normalization contract) is exercised against a FAKE package
surface — a module injected into sys.modules whose SentenceTransformer
returns deterministic unit vectors. Only the actual-weights variant
remains import-skipped."""

import math
import sys
import types

import numpy as np
import pytest

from hadith_vector_search_spark.operators import embedder


class _FakeST:
    """Mimics sentence_transformers.SentenceTransformer's constructor and
    encode() signature; emits e_{len(text) mod 384} unit vectors so every
    layer downstream is checkable against a closed form."""

    instances: list = []

    def __init__(self, name):
        self.name = name
        self.calls: list = []
        _FakeST.instances.append(self)

    def encode(self, texts, batch_size=None, normalize_embeddings=None,
               show_progress_bar=None):
        self.calls.append({"n": len(texts), "batch_size": batch_size,
                           "normalize_embeddings": normalize_embeddings,
                           "show_progress_bar": show_progress_bar})
        out = np.zeros((len(texts), 384))
        for i, t in enumerate(texts):
            out[i, len(t) % 384] = 1.0
        return out


@pytest.fixture
def fake_st(monkeypatch):
    mod = types.ModuleType("sentence_transformers")
    mod.SentenceTransformer = _FakeST
    _FakeST.instances = []
    monkeypatch.setitem(sys.modules, "sentence_transformers", mod)
    monkeypatch.setattr(embedder, "_MODEL_CACHE", {})
    return mod


def test_fake_st_auto_resolves_and_loads_lazily(fake_st):
    assert embedder.real_model_available()
    assert embedder.resolve_backend(384, "auto") == "st"
    m = embedder.get_model(384, backend="auto")
    assert isinstance(m, embedder.SentenceTransformerEmbedder)
    # Lazy: construction must not touch the (expensive) model weights.
    assert _FakeST.instances == []
    m.encode("hi")
    assert len(_FakeST.instances) == 1
    assert _FakeST.instances[0].name == "all-MiniLM-L6-v2"
    # Singleton: repeat encodes and repeat get_model reuse the loaded model.
    m.encode("again")
    assert embedder.get_model(384, backend="auto") is m
    assert len(_FakeST.instances) == 1


def test_fake_st_batch_kwargs_match_reference(fake_st):
    """The reference encodes with batch_size=64, normalized, no progress
    bar (ref quran_mcp/embeddings.py:28-37) — assert the exact kwargs the
    wrapper forwards, and the output geometry."""
    m = embedder.get_model(384, backend="st")
    vecs = m.encode_batch(["ab", "abcd"])
    call = _FakeST.instances[0].calls[0]
    assert call == {"n": 2, "batch_size": 64,
                    "normalize_embeddings": True, "show_progress_bar": False}
    assert all(isinstance(v, list) and len(v) == 384 for v in vecs)
    assert vecs[0][2] == 1.0 and vecs[1][4] == 1.0


def test_fake_st_udf_body_runs_st_backend(fake_st):
    """The pandas-UDF body (the code executors run): backend resolved to
    'st' on the driver is baked into the closure, nulls are filled, and
    the model singleton materializes inside the worker function."""
    import pandas as pd

    udf = embedder.make_embedder(384, backend="auto")
    out = udf.func(pd.Series(["ab", None]))
    assert list(out[0])[2] == 1.0          # len("ab") == 2
    assert list(out[1])[0] == 1.0          # None -> "" -> len 0
    assert len(_FakeST.instances) == 1


def test_default_dim_is_reference_geometry():
    assert embedder.DEFAULT_DIM == 384  # all-MiniLM-L6-v2


def test_hash_backend_block_scheme():
    m = embedder.get_model(384, backend="hash")
    assert isinstance(m, embedder.HashEmbedder)
    assert m.n_blocks == 12  # 384 dims / 32 hex digits per md5
    v = m.encode("alpha beta gamma")
    assert len(v) == 384
    assert abs(sum(x * x for x in v) - 1.0) < 1e-12
    # raw mode: exact small-integer components
    r = m.encode("alpha beta gamma", normalize=False)
    assert all(float(x).is_integer() for x in r)
    n = math.sqrt(sum(x * x for x in r))
    assert v == pytest.approx([x / n for x in r])


def test_auto_falls_back_to_hash_without_sentence_transformers():
    if embedder.real_model_available():
        pytest.skip("sentence-transformers installed; fallback not exercised")
    m = embedder.get_model(384, backend="auto")
    assert isinstance(m, embedder.HashEmbedder)


def test_auto_backend_is_probed_once_per_process(monkeypatch):
    """`encode_query` with the "auto" backend probes for
    sentence-transformers once: the resolved model is memoized, so a
    second query does not call `real_model_available` (a failed import
    is not cached by Python and searched sys.path on every query)."""
    calls = []
    probe = embedder.real_model_available

    def counted():
        calls.append(1)
        return probe()

    monkeypatch.setattr(embedder, "_MODEL_CACHE", {})
    monkeypatch.setattr(embedder, "real_model_available", counted)
    first = embedder.encode_query("patience and prayer", 384)
    assert len(calls) == 1
    assert embedder.encode_query("patience and prayer", 384) == first
    embedder.encode_query("charity in secret", 384)
    assert len(calls) == 1


def test_auto_pair_scorer_is_probed_once_per_process(monkeypatch):
    """`get_pair_scorer` with the "auto" backend probes for the
    cross-encoder once: the resolved scorer is memoized, so later
    resident rerank calls do not call `cross_encoder_available`."""
    from hadith_vector_search_spark.operators import reranker

    calls = []
    probe = reranker.cross_encoder_available

    def counted():
        calls.append(1)
        return probe()

    monkeypatch.setattr(reranker, "_SCORER_CACHE", {})
    monkeypatch.setattr(reranker, "cross_encoder_available", counted)
    first = reranker.get_pair_scorer(384, "auto")
    assert len(calls) == 1
    assert reranker.get_pair_scorer(384, "auto") is first
    reranker.get_pair_scorer(384, "auto")
    assert len(calls) == 1
    reranker.get_pair_scorer(64, "auto")  # another dim resolves once more
    assert len(calls) == 2


@pytest.mark.parametrize("chunk_bytes", [64, 4096, 8 << 20])
def test_encode_bags_equals_encode_bit_for_bit(monkeypatch, chunk_bytes):
    """`HashEmbedder.encode_bags` over (token, count, row) postings
    gives each row `encode()`'s vector of its text, bit for bit, at any
    chunk size; rows with no postings are +0.0 zeros."""
    from collections import Counter

    from hadith_vector_search_spark.functions.text import py_tokenize
    from test_properties import EDGE_CASES

    texts = EDGE_CASES + [None, "patience patience prayer", "a b !",
                          "charity in secret", "charity in secret"]
    terms, counts, rows = [], [], []
    for i, t in enumerate(texts):
        for tok, n in Counter(py_tokenize(t or "")).items():
            terms.append(tok)
            counts.append(float(n))
            rows.append(i)
    m = embedder.HashEmbedder(384)
    monkeypatch.setattr(m, "BAG_CHUNK_BYTES", chunk_bytes)
    got = m.encode_bags(np.array(terms), np.array(counts),
                        np.array(rows), len(texts))
    for t, v in zip(texts, got.tolist()):
        assert [x.hex() for x in v] == \
            [float(x).hex() for x in m.encode(t or "")], t


def test_singleton_cache_keyed_by_backend_and_dim():
    a = embedder.get_model(384, backend="hash")
    b = embedder.get_model(384, backend="hash")
    c = embedder.get_model(64, backend="hash")
    assert a is b and a is not c


def test_st_backend_rejects_wrong_dim():
    with pytest.raises(ValueError, match="384"):
        embedder.get_model(8, backend="st")


def test_unknown_backend_rejected():
    with pytest.raises(ValueError, match="backend"):
        embedder.get_model(384, backend="bogus")


def test_real_model_branch_encodes():
    """Skipped unless sentence-transformers is importable (it is not in
    this container). Proves the production branch: model loads lazily,
    batch-encodes at 384 dims, L2-normalized."""
    pytest.importorskip("sentence_transformers")
    m = embedder.get_model(384, backend="st")
    assert isinstance(m, embedder.SentenceTransformerEmbedder)
    vecs = m.encode_batch(["the quick brown fox", "hello world"])
    assert len(vecs) == 2 and all(len(v) == 384 for v in vecs)
    for v in vecs:
        assert abs(sum(x * x for x in v) - 1.0) < 1e-6


def test_fake_st_end_to_end_through_executors(tmp_path):
    """Full distributed path: a fake sentence_transformers package on
    PYTHONPATH of a FRESH python process (so Spark's executor workers
    inherit it too), embed_column(backend='auto') resolves to 'st' on the
    driver, and the executor-side import/load/encode produces the fake's
    closed-form vectors. This is the exact deployment shape for the real
    model: weights importable on driver AND workers, loaded lazily once
    per worker process."""
    import os
    import subprocess

    pkg = tmp_path / "fakepkg" / "sentence_transformers"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text(
        "import numpy as np\n"
        "class SentenceTransformer:\n"
        "    def __init__(self, name):\n"
        "        assert name == 'all-MiniLM-L6-v2', name\n"
        "    def encode(self, texts, batch_size=None,\n"
        "               normalize_embeddings=None, show_progress_bar=None):\n"
        "        assert batch_size == 64 and normalize_embeddings is True\n"
        "        out = np.zeros((len(texts), 384))\n"
        "        for i, t in enumerate(texts):\n"
        "            out[i, len(t) % 384] = 1.0\n"
        "        return out\n")
    script = tmp_path / "drive.py"
    script.write_text(
        "from pyspark.sql import SparkSession\n"
        "from hadith_vector_search_spark.operators.embedder import (\n"
        "    embed_column, resolve_backend)\n"
        "assert resolve_backend(384, 'auto') == 'st'\n"
        "spark = (SparkSession.builder.master('local[2]')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = spark.createDataFrame([(1, 'ab'), (2, 'abcde')],\n"
        "                           'doc_id long, text string')\n"
        "rows = {r.doc_id: r.v for r in df.select(\n"
        "    'doc_id', embed_column('text', 384, backend='auto')\n"
        "    .alias('v')).collect()}\n"
        "assert rows[1][2] == 1.0 and sum(rows[1]) == 1.0, rows[1][:5]\n"
        "assert rows[2][5] == 1.0 and sum(rows[2]) == 1.0, rows[2][:5]\n"
        "print('E2E_OK')\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = (f"{tmp_path / 'fakepkg'}{os.pathsep}{repo}"
                         + os.pathsep + env.get("PYTHONPATH", ""))
    proc = subprocess.run(
        [sys.executable, str(script)], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=240)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "E2E_OK" in proc.stdout


def test_real_model_raw_mode_rejected():
    m = embedder.SentenceTransformerEmbedder()
    with pytest.raises(ValueError, match="normaliz"):
        m.encode_batch(["x"], normalize=False)


def test_hash_pair_scorer_is_exact_cosine_of_sign_vectors():
    from hadith_vector_search_spark.operators.reranker import HashPairScorer

    s = HashPairScorer(64)
    [same] = s.score_batch(["alpha beta"], ["alpha beta"])
    assert same == pytest.approx(1.0, abs=1e-12)  # self-pair == 1
    [a], [b] = (s.score_batch(["alpha beta"], ["beta alpha extra"]),
                s.score_batch(["alpha beta"], ["unrelated words here"]))
    assert a > b                     # shared tokens score higher
    [z] = s.score_batch(["alpha"], [""])
    assert z == 0.0                  # empty side -> 0, no div-by-zero


def test_fake_cross_encoder_contract(monkeypatch):
    """Real-model branch of the pair scorer: lazy CrossEncoder load,
    reference model name, batch kwargs, float coercion — via a faked
    sentence_transformers surface (the package is absent here)."""
    import sys
    import types

    import numpy as np

    from hadith_vector_search_spark.operators import reranker

    calls = []

    class _FakeCE:
        def __init__(self, name):
            assert name == reranker.CrossEncoderScorer.MODEL_NAME
        def predict(self, pairs, batch_size=None, show_progress_bar=None):
            calls.append({"n": len(pairs), "batch_size": batch_size,
                          "show_progress_bar": show_progress_bar})
            return np.array([float(len(q) + len(t)) for q, t in pairs])

    mod = types.ModuleType("sentence_transformers")
    mod.CrossEncoder = _FakeCE
    monkeypatch.setitem(sys.modules, "sentence_transformers", mod)
    monkeypatch.setattr(reranker, "_SCORER_CACHE", {})
    assert reranker.cross_encoder_available()
    assert reranker.resolve_pair_backend("auto") == "ce"
    m = reranker.get_pair_scorer(backend="auto")
    assert isinstance(m, reranker.CrossEncoderScorer)
    out = m.score_batch(["ab", "abc"], ["x", "yz"])
    assert out == [3.0, 5.0]
    assert calls == [{"n": 2, "batch_size": 64, "show_progress_bar": False}]
    # singleton: second resolve reuses the loaded scorer
    assert reranker.get_pair_scorer(backend="auto") is m


def test_eval_semantic_quality_script_runs_when_model_available(
        spark, capsys, monkeypatch):
    """scripts/eval_semantic_quality.py's measurement plumbing must run
    end-to-end when the model gate opens: the cross-lingual battery
    executes through the real engine and the markdown table prints; with
    no CrossEncoder the rerank row is skipped with a visible notice. A
    driver-faked package can't reach executor workers, so the gate is
    opened by patching `real_model_available` while the resolver pins
    the hash backend (same 384 geometry) — the script measures whatever
    model the resolver provides; here that's the plumbing, not quality."""
    import importlib.util
    import os

    monkeypatch.setattr(embedder, "real_model_available", lambda: True)
    monkeypatch.setattr(embedder, "resolve_backend",
                        lambda dim, backend: "hash")
    spec = importlib.util.spec_from_file_location(
        "eval_semantic_quality",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "eval_semantic_quality.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.main() == 0
    out = capsys.readouterr().out
    assert "cross-lingual semantic recall (real model)" in out
    assert "| category | reference target | measured |" in out
    assert "CrossEncoder weights unavailable" in out


@pytest.mark.skipif(not embedder.real_model_available(),
                    reason="sentence-transformers not installed "
                           "(env-gated real-model rehearsal; see README "
                           "'Real model weights')")
def test_real_model_publish_reopen_search_rehearsal(spark, tmp_path):
    """The SWAP rehearsal (r8 VERDICT task 4): with the real
    all-MiniLM-L6-v2 weights installed, run the full deployment path the
    hash stand-in contract-tests — embed the corpus with backend='st',
    publish the cell-partitioned vector index behind the staleness
    manifest, REOPEN it byte-for-byte in a second ensure, answer an IVF
    query off the reopened artifact, and serve a hybrid_search whose
    query vector comes from the same real model. Complements
    scripts/eval_semantic_quality.py (quality thresholds); this pins the
    PLUMBING end-to-end under the real geometry."""
    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.sources import vector_store

    rows = [
        (1, "patience and prayer during hardship and trials"),
        (2, "controlling anger shows true strength"),
        (3, "charity given in secret does not decrease wealth"),
        (4, "seeking knowledge is a duty for every person"),
        (5, "kindness to neighbors and travelers is rewarded"),
        (6, "deeds are judged by their intentions"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    src = str(tmp_path / "docs.parquet")
    docs.write.parquet(src)
    emb = docs.select(
        "doc_id",
        embedder.embed_column("text", 384, backend="st").alias("embedding"))

    idx_dir = str(tmp_path / "vecidx")
    model_tag = "all-MiniLM-L6-v2-ivf4"
    _, reasons = vector_store.ensure_vector_index(
        spark, emb, src, idx_dir, n_cells=4, id_col="doc_id",
        model_name=model_tag)
    assert reasons == ["no manifest"]
    _, reasons2 = vector_store.ensure_vector_index(
        spark, emb, src, idx_dir, n_cells=4, id_col="doc_id",
        model_name=model_tag)
    assert reasons2 == []  # second session: reopened, not rebuilt

    reopened = vector_store.open_vector_index(spark, idx_dir)
    assert reopened.dim == 384
    topk = reopened.ivf_topk(1, n_probe=2, k=3).collect()
    assert topk and topk[0][0] == 1 and topk[0].sim == pytest.approx(1.0)

    engine = HybridEngine(spark, docs, embeddings=emb, dim=384)
    hits = engine.hybrid_search("restraining rage and anger", 3).collect()
    assert hits, "real-model hybrid search returned nothing"
    assert hits[0].doc_id == 2  # semantic match, partial token overlap


def test_spread_for_encode_guards_single_file_scans(spark):
    from hadith_vector_search_spark.operators.embedder import \
        spread_for_encode

    par = spark.sparkContext.defaultParallelism
    one = spark.createDataFrame([(i, f"t{i}") for i in range(40)],
                                "doc_id long, text string").coalesce(1)
    spread = spread_for_encode(one)
    assert spread.rdd.getNumPartitions() == par
    assert sorted(tuple(r) for r in spread.collect()) == \
        sorted(tuple(r) for r in one.collect())
    wide = one.repartition(par)
    assert spread_for_encode(wide) is wide  # already parallel: no shuffle
