"""Batch text embedding via Arrow-batched pandas UDFs (SURVEY §2.8 V1/V2).

The reference encodes with a SentenceTransformer loaded lazily once per
process (/root/reference/mcp_server/apps/embeddings.py:257-275,
/root/reference/quran_mcp/embeddings.py:28-37: all-MiniLM-L6-v2, batch 64,
L2-normalized). The Spark-native shape is identical in structure,
distributed in execution:

- a **Series -> Series pandas UDF** so text batches cross the JVM/Python
  boundary as Arrow record batches (the reference's batch_size=64 loop
  becomes `spark.sql.execution.arrow.maxRecordsPerBatch`),
- a **lazy per-executor model singleton** — the module-level cache below is
  populated once per Python worker process, exactly how real model weights
  should be held resident (never broadcast per-row, never reloaded per
  batch).

Two backends share that contract:

- ``SentenceTransformerEmbedder`` — the reference's actual model
  (all-MiniLM-L6-v2, 384-dim, batch 64, normalized), used when the
  `sentence_transformers` package is importable. It is NOT in this
  container, so the class is exercised by a skipped-unless-available test.
- ``HashEmbedder`` — a deterministic signed-random-projection bag-of-tokens
  encoder at the same 384-dim geometry. Sign j of a token is hex digit
  (j mod 32) of md5("{j//32}|token") — 12 digests cover 384 dims — so the
  whole embed->index->search path is exactly reproducible in DuckDB SQL and
  therefore oracle-checkable end to end. Output is L2-normalized float64,
  so dot == cosine downstream.

Backend selection (`get_model(dim, backend=...)`): "hash" and "st" force a
backend; "auto" uses the real model when importable and falls back to the
hash stand-in. Oracle-checked plans pass "hash" explicitly so correctness
never depends on what happens to be installed.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

from ..functions.text import py_tokenize

DEFAULT_DIM = 384            # all-MiniLM-L6-v2 geometry (ref embeddings.py:28)
_HEX_PER_DIGEST = 32         # md5 hexdigest length: one digest covers 32 dims

_MODEL_CACHE: dict[tuple[str, int], object] = {}


class HashEmbedder:
    """Deterministic bag-of-tokens encoder: dim j of a text is the sum over
    its tokens of ±1, L2-normalized. The per-token ±1 vector is derived
    from ceil(dim/32) md5 digests — sign j = (hex digit (j mod 32) of
    md5("{j//32}|token")) < '8' — and memoized as a numpy array per token,
    the moral equivalent of resident embedding-table weights. The memo is
    bounded (SIGN_CACHE_MAX entries ≈ 100 MB at dim=384): a long-lived
    executor worker streaming an open vocabulary must not grow without
    limit, so on overflow the least-recently-USED half is evicted — hits
    re-insert the key at the dict's tail, so hot tokens survive eviction
    cycles instead of being aged out by insertion order, and eviction
    walks an iterator (islice) rather than materializing the key list."""

    SIGN_CACHE_MAX = 65536

    def __init__(self, dim: int = DEFAULT_DIM) -> None:
        self.dim = dim
        self.n_blocks = -(-dim // _HEX_PER_DIGEST)
        self._signs: dict[str, np.ndarray] = {}

    def _sign_vec(self, tok: str) -> np.ndarray:
        v = self._signs.pop(tok, None)
        if v is None:
            hx = "".join(
                hashlib.md5(f"{b}|{tok}".encode("utf-8")).hexdigest()
                for b in range(self.n_blocks))[: self.dim]
            v = np.where(np.frombuffer(hx.encode("ascii"), dtype=np.uint8)
                         < ord("8"), 1.0, -1.0)
            if len(self._signs) >= self.SIGN_CACHE_MAX:
                from itertools import islice
                for k in list(islice(self._signs, self.SIGN_CACHE_MAX // 2)):
                    del self._signs[k]
        # (Re-)insert at the tail: dict order becomes recency order, so the
        # overflow eviction above drops the least-recently-used half.
        self._signs[tok] = v
        return v

    def encode(self, text: str, normalize: bool = True) -> list[float]:
        """normalize=False returns the raw integer-valued sign sums — every
        component is an exact small integer in double, so downstream dot
        products and squared norms are exact and order-insensitive, which
        is what makes the cosine path bit-reproducible in any engine."""
        toks = py_tokenize(text or "")
        if not toks:
            return [0.0] * self.dim
        v = np.zeros(self.dim)
        for tok in toks:
            v += self._sign_vec(tok)
        if not normalize:
            return v.tolist()
        n = math.sqrt(float(v @ v))
        return (v / n).tolist() if n > 0.0 else v.tolist()

    def encode_batch(self, texts: list[str],
                     normalize: bool = True) -> list[list[float]]:
        return [self.encode(t, normalize) for t in texts]

    # bound on one `encode_bags` chunk's count matrix and product
    BAG_CHUNK_BYTES = 8 << 20

    def encode_bags(self, terms, counts, rows, n_rows: int) -> np.ndarray:
        """The normalized vectors of `n_rows` texts as one (n_rows, dim)
        matrix, from their bags of tokens: posting i says text rows[i]
        holds token terms[i] counts[i] times, one posting per distinct
        (text, token), in ascending row order. Each chunk of rows is one
        product of its dense (rows x the chunk's tokens) count matrix
        with those tokens' `_sign_vec` rows, and rows per chunk are
        bounded so the count matrix and the product stay within
        BAG_CHUNK_BYTES. Every sum is an integer-valued double, so a row
        equals `encode()` of its text bit for bit in any summation
        order; a row with no postings is zeros, as a token-less text's
        vector is."""
        out = np.zeros((n_rows, self.dim))
        if not len(terms):
            return out
        vocab, term_ix = np.unique(terms, return_inverse=True)
        step = max(1, self.BAG_CHUNK_BYTES // (8 * (len(vocab) + self.dim)))
        for lo in range(0, n_rows, step):
            hi = min(lo + step, n_rows)
            a, b = np.searchsorted(rows, [lo, hi])
            if a == b:
                continue
            cols, col_ix = np.unique(term_ix[a:b], return_inverse=True)
            cnt = np.zeros((hi - lo, len(cols)))
            cnt[rows[a:b] - lo, col_ix] = counts[a:b]
            m = cnt @ np.stack([self._sign_vec(t)
                                for t in vocab[cols].tolist()])
            # the zero rows of token-less texts keep `out`'s +0.0 (their
            # products may hold -0.0)
            norm = np.sqrt(np.einsum("ij,ij->i", m, m))[:, None]
            np.divide(m, norm, out=out[lo:hi], where=norm > 0.0)
        return out


class SentenceTransformerEmbedder:
    """The reference's real model (all-MiniLM-L6-v2, dim 384, batch 64,
    L2-normalized — /root/reference/quran_mcp/embeddings.py:28-37). Lazily
    loads weights on first encode; held by the per-process singleton cache
    exactly like the hash backend."""

    MODEL_NAME = "all-MiniLM-L6-v2"
    BATCH_SIZE = 64
    dim = 384

    def __init__(self) -> None:
        self._model = None

    def _load(self):
        if self._model is None:
            from sentence_transformers import SentenceTransformer
            self._model = SentenceTransformer(self.MODEL_NAME)
        return self._model

    def encode_batch(self, texts: list[str],
                     normalize: bool = True) -> list[list[float]]:
        if not normalize:
            raise ValueError("raw (unnormalized) output is a hash-backend "
                             "feature; the reference model always normalizes")
        vecs = self._load().encode(
            list(texts), batch_size=self.BATCH_SIZE,
            normalize_embeddings=True, show_progress_bar=False)
        return [v.astype(float).tolist() for v in vecs]

    def encode(self, text: str, normalize: bool = True) -> list[float]:
        return self.encode_batch([text or ""], normalize)[0]


def real_model_available() -> bool:
    # A broken install can raise OSError/RuntimeError (native libs, torch)
    # at import time, not just ImportError — any failure means "fall back".
    try:
        import sentence_transformers  # noqa: F401
        return True
    except Exception:
        return False


def resolve_backend(dim: int, backend: str) -> str:
    """Resolve 'auto' to a concrete backend name. Called ONCE on the driver
    before a UDF closure is built, so driver-side query embedding and
    executor-side document embedding can never silently pick different
    models when sentence-transformers is importable on only one side."""
    if backend == "auto":
        return ("st" if real_model_available()
                and dim == SentenceTransformerEmbedder.dim else "hash")
    return backend


def get_model(dim: int = DEFAULT_DIM, backend: str = "auto"):
    """Lazy per-process singleton (V1's executor-cached model). "auto"
    prefers the real sentence-transformer when importable (and the dim
    matches its fixed 384 geometry), else the deterministic hash backend.
    The model "auto" resolved to is memoized under ("auto", dim), so the
    backend is probed once per process, not per query: Python does not
    cache a failed import, and every probe of a missing
    sentence-transformers searches sys.path again."""
    if backend == "auto":
        model = _MODEL_CACHE.get(("auto", dim))
        if model is None:
            model = _MODEL_CACHE[("auto", dim)] = get_model(
                dim, resolve_backend(dim, backend))
        return model
    key = (backend, dim)
    model = _MODEL_CACHE.get(key)
    if model is None:
        if backend == "st":
            if dim != SentenceTransformerEmbedder.dim:
                raise ValueError(
                    f"sentence-transformer backend is fixed at "
                    f"{SentenceTransformerEmbedder.dim} dims, got {dim}")
            model = SentenceTransformerEmbedder()
        elif backend == "hash":
            model = HashEmbedder(dim)
        else:
            raise ValueError(f"unknown embedder backend: {backend!r}")
        _MODEL_CACHE[key] = model
    return model


def make_embedder(dim: int = DEFAULT_DIM, backend: str = "auto",
                  normalize: bool = True):
    """Returns a pandas UDF: text column -> array<double> embedding column.
    'auto' is resolved to a concrete backend HERE on the driver and the
    resolved name is baked into the UDF closure — executors must use the
    driver's choice, not re-probe their own environment. The model
    singleton itself still materializes lazily in each executor worker."""
    backend = resolve_backend(dim, backend)

    @F.pandas_udf(ArrayType(DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        model = get_model(dim, backend)
        return pd.Series(model.encode_batch(texts.fillna("").tolist(),
                                            normalize))

    return embed


def embed_column(text_col: Column | str, dim: int = DEFAULT_DIM,
                 backend: str = "auto", normalize: bool = True) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return make_embedder(dim, backend, normalize)(c)


def spread_for_encode(df):
    """Repartition a frame about to flow into `embed_column` so the
    encoder saturates the executor threads REGARDLESS of the input file
    layout: a single-file parquet scan yields ONE input partition, and
    an Arrow UDF over one partition is a single-core pass (measured
    round 12: the sf1 CLI publish spent minutes embedding 50k docs on 1
    of 32 threads while 31 idled). The shuffle moves only the (id,
    text) bytes — the encode dominates it by orders of magnitude; on a
    lake the same spread comes free from `maxPartitionBytes` over many
    files, so this is a small-input guard, skipped (no shuffle) when
    the scan already carries enough partitions. Embedding is per-row
    deterministic, so partitioning cannot change any value."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def encode_query(text: str, dim: int = DEFAULT_DIM, backend: str = "auto",
                 normalize: bool = True) -> list[float]:
    """V2: driver-side single-query embedding with the same model — becomes
    a constant-folded literal vector in the query plan."""
    return get_model(dim, backend).encode(text, normalize)
