"""Retrieve-then-rerank: the second-stage pair scorer every modern
retrieval stack runs after a cheap first stage (SURVEY §3.1's hybrid
pipeline is the first stage; the reference stops there —
/root/reference/mcp_server/tools.py:39-175 — so this extends the engine
the same way the ANN family extends V3).

A cross-encoder reads (query, candidate) JOINTLY and emits one relevance
scalar — more accurate than bi-encoder cosine, far too expensive for the
corpus, exactly right for the O(k) candidate list. The Spark shape is the
embedder's: an Arrow-batched pandas UDF over the candidate frame with a
lazy per-executor model singleton; cost is k UDF rows per query, never
corpus-sized.

Backends, mirroring `operators/embedder.py`:

- ``CrossEncoderScorer`` — the real model
  (cross-encoder/ms-marco-MiniLM-L-6-v2 via
  sentence_transformers.CrossEncoder), used when importable; absent in
  this container, so covered by a faked-package contract test.
- ``HashPairScorer`` — deterministic stand-in: cosine between the two
  texts' raw integer sign-sum vectors (the HashEmbedder geometry),
  computed num / (sqrt(ssq_doc) * norm_q) with integer-exact dots so the
  DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from .embedder import DEFAULT_DIM, HashEmbedder

_SCORER_CACHE: dict[tuple[str, int], object] = {}


class HashPairScorer:
    """Deterministic pair scorer at the hash-embedder geometry. Raw
    integer sign-sum vectors keep the dot products exact (every component
    an integer, |num| < 2^53), so the only floating steps are the two
    sqrt/multiply/divide at the end — replayed identically in SQL."""

    def __init__(self, dim: int = DEFAULT_DIM) -> None:
        self.dim = dim
        self._emb = HashEmbedder(dim)

    def _raw(self, text: str) -> np.ndarray:
        return np.asarray(self._emb.encode(text or "", normalize=False))

    def score_batch(self, queries: list[str], texts: list[str]) -> list[float]:
        # One raw vector per DISTINCT query in the batch — the serving
        # pattern is one query against k candidates.
        qcache: dict[str, tuple[np.ndarray, float]] = {}
        out = []
        for q, t in zip(queries, texts):
            if q not in qcache:
                vq = self._raw(q)
                qcache[q] = (vq, math.sqrt(float(vq @ vq)))
            vq, qn = qcache[q]
            vt = self._raw(t)
            ssq = float(vt @ vt)
            if ssq <= 0.0 or qn <= 0.0:
                out.append(0.0)
            else:
                out.append(float(vq @ vt) / (math.sqrt(ssq) * qn))
        return out


class CrossEncoderScorer:
    """The real cross-encoder (ms-marco-MiniLM-L-6-v2), lazily loaded and
    held by the per-process singleton cache like the embedding model."""

    MODEL_NAME = "cross-encoder/ms-marco-MiniLM-L-6-v2"
    BATCH_SIZE = 64

    def __init__(self) -> None:
        self._model = None

    def _load(self):
        if self._model is None:
            from sentence_transformers import CrossEncoder
            self._model = CrossEncoder(self.MODEL_NAME)
        return self._model

    def score_batch(self, queries: list[str], texts: list[str]) -> list[float]:
        preds = self._load().predict(
            list(zip(queries, texts)), batch_size=self.BATCH_SIZE,
            show_progress_bar=False)
        return [float(p) for p in preds]


def cross_encoder_available() -> bool:
    try:
        from sentence_transformers import CrossEncoder  # noqa: F401
        return True
    except Exception:
        return False


def resolve_pair_backend(backend: str) -> str:
    """'auto' resolves ONCE on the driver (same contract as
    `embedder.resolve_backend`): executors inherit the driver's choice."""
    if backend == "auto":
        return "ce" if cross_encoder_available() else "hash"
    return backend


def get_pair_scorer(dim: int = DEFAULT_DIM, backend: str = "auto"):
    """Lazy per-process scorer singleton. The scorer "auto" resolved to
    is memoized under ("auto", dim), as `embedder.get_model` memoizes
    its model, so the cross-encoder is probed once per process, not per
    rerank call: Python does not cache a failed import, and every probe
    of a missing sentence-transformers searches sys.path again."""
    if backend == "auto":
        scorer = _SCORER_CACHE.get(("auto", dim))
        if scorer is None:
            scorer = _SCORER_CACHE[("auto", dim)] = get_pair_scorer(
                dim, resolve_pair_backend(backend))
        return scorer
    key = (backend, dim)
    scorer = _SCORER_CACHE.get(key)
    if scorer is None:
        if backend == "ce":
            scorer = CrossEncoderScorer()
        elif backend == "hash":
            scorer = HashPairScorer(dim)
        else:
            raise ValueError(f"unknown pair-scorer backend: {backend!r}")
        _SCORER_CACHE[key] = scorer
    return scorer


def make_pair_scorer(dim: int = DEFAULT_DIM, backend: str = "auto"):
    """(query_col, text_col) -> double pandas UDF; backend resolved
    driver-side and baked into the closure."""
    backend = resolve_pair_backend(backend)

    @F.pandas_udf(DoubleType())
    def score(queries: pd.Series, texts: pd.Series) -> pd.Series:
        scorer = get_pair_scorer(dim, backend)
        return pd.Series(scorer.score_batch(
            queries.fillna("").tolist(), texts.fillna("").tolist()))

    return score


def pair_score(query_col: Column | str, text_col: Column | str,
               dim: int = DEFAULT_DIM, backend: str = "auto") -> Column:
    q = F.col(query_col) if isinstance(query_col, str) else query_col
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return make_pair_scorer(dim, backend)(q, t)
