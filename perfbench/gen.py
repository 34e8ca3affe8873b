"""Seeded inputs of the benchmark: the corpus, the serving request stream
and the upsert batches.

Pure Python and NumPy, no Spark, so one seed yields identical inputs on
every host and the tests run without a JVM. The engine only ever sees
what these generators return.

The corpus has the shape of the repository's sf0.1 `documents` table
(5,000 rows of 10-100 words from a 30-word vocabulary, about 0.2 % exact
duplicate pairs, `lang`/`source`/`n_chars` metadata). It is generated
from a fixed seed, not from the run seed, so that every run serves the
same corpus and only the requests change with `--seed`.
"""

from __future__ import annotations

import bisect
import collections
import itertools
import random
from dataclasses import dataclass

VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "zh", "fr", "es", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
CORPUS_SEED = 42
CORPUS_DOCS = 5_000

# Serving tool mix, in percent of requests. The stream is drawn in blocks
# of MIX_BLOCK requests holding exactly these shares in seeded order, and
# every LANG_FILTER_EVERY-th hybrid_search (in seeded order) carries a
# `lang` filter: those run on the Spark path even on a resident engine
# and cost about a second, so a binomial draw of them would move a run's
# medians more than anything the engine does.
TOOL_MIX = (("hybrid_search", 50), ("hybrid_search_batch", 10),
            ("fts_match", 15), ("more_like_this", 10),
            ("rerank_search", 5), ("get_document", 10))
MIX_BLOCK = 20
LANG_FILTER_EVERY = 10
SCORING_MODES = ("balanced", "term-priority", "semantic", "fts")
BATCH_QUERIES = 8
OOV_SHARE = 0.20        # share of query terms outside the corpus vocabulary
REFERENCE_SHARE = 0.05  # share of queries shaped "hadith number N"
TERM_ZIPF_S = 1.0
DOC_ZIPF_S = 1.1

# Upsert batch mix, in percent of a batch.
UPSERT_EDIT, UPSERT_NEW, UPSERT_SAME = 50, 35, 10  # the rest are removals
UPSERT_MIN, UPSERT_MAX = 20, 200
READS_PER_UPSERT = 10


def make_corpus(n_docs: int = CORPUS_DOCS, seed: int = CORPUS_SEED) -> dict:
    """Column dict (doc_id, text, lang, source, n_chars) of the corpus."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))
             for _ in range(n_docs)]
    for i in range(0, n_docs - 1, 600):  # exact duplicate pairs
        texts[i + 1] = texts[i]
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": rng.choices(LANGS, weights=LANG_P, k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def token_ranking(texts: list[str]) -> list[str]:
    """Corpus tokens, most frequent first (ties by token)."""
    counts = collections.Counter(w for t in texts for w in t.split())
    return [w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


def _letters(rng: random.Random, k: int) -> str:
    return "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(k))


class RequestGen:
    """Deterministic stream of `tools/call` requests for one seed.

    Request `i` depends only on the seed and on `i`'s position in the
    stream, never on timing, so the n-th request of a run is the same on
    every host."""

    def __init__(self, seed: int, ranked_tokens: list[str],
                 doc_ids: list[int]) -> None:
        self.rng = random.Random(seed)
        self.tokens = list(ranked_tokens)
        self.term_cum = _zipf_cum(len(self.tokens), TERM_ZIPF_S)
        self.doc_order = list(doc_ids)
        self.rng.shuffle(self.doc_order)
        self.doc_cum = _zipf_cum(len(self.doc_order), DOC_ZIPF_S)
        self.block: list[str] = []
        self.filters: list[bool] = []
        self.n = 0

    def _pick(self, items: list, cum: list[float]):
        x = self.rng.random() * cum[-1]
        return items[min(bisect.bisect_right(cum, x), len(items) - 1)]

    def term(self) -> str:
        if self.rng.random() < OOV_SHARE:
            return _letters(self.rng, 6)
        return self._pick(self.tokens, self.term_cum)

    def query(self) -> str:
        if self.rng.random() < REFERENCE_SHARE:
            return f"hadith number {self.rng.randint(1, 7000)}"
        return " ".join(self.term() for _ in range(self.rng.randint(1, 4)))

    def doc_id(self) -> int:
        return self._pick(self.doc_order, self.doc_cum)

    def _next_filtered(self) -> bool:
        if not self.filters:
            self.filters = [True] + [False] * (LANG_FILTER_EVERY - 1)
            self.rng.shuffle(self.filters)
        return self.filters.pop()

    def hybrid_args(self, filtered: bool | None = None) -> dict:
        """`filtered` None: every LANG_FILTER_EVERY-th call is filtered."""
        args = {"query": self.query(), "n_results": 10,
                "scoring_mode": self.rng.choice(SCORING_MODES)}
        if self._next_filtered() if filtered is None else filtered:
            args["filters"] = {"lang": self.rng.choice(LANGS)}
        return args

    def arguments(self, tool: str) -> dict:
        if tool == "hybrid_search":
            return self.hybrid_args()
        if tool == "hybrid_search_batch":
            return {"queries": [self.query() for _ in range(BATCH_QUERIES)],
                    "n_results": 10,
                    "scoring_mode": self.rng.choice(SCORING_MODES)}
        if tool == "fts_match":
            terms = [self.term() for _ in range(self.rng.randint(1, 2))]
            if self.rng.random() < 0.25:
                return {"prefix": self.term()[:3], "terms": terms[:1],
                        "limit": 10}
            return {"terms": terms, "limit": 10}
        if tool == "rerank_search":
            return {"query": self.query(), "n_results": 10,
                    "scoring_mode": self.rng.choice(SCORING_MODES)}
        if tool == "more_like_this":
            return {"doc_id": self.doc_id(), "n_results": 10}
        if tool == "get_document":
            return {"doc_id": self.doc_id()}
        raise KeyError(tool)

    def _next_tool(self) -> str:
        if not self.block:
            self.block = [t for t, pct in TOOL_MIX
                          for _ in range(pct * MIX_BLOCK // 100)]
            self.rng.shuffle(self.block)
        return self.block.pop()

    def request(self, tool: str | None = None,
                arguments: dict | None = None) -> dict:
        """Next JSON-RPC request; `tool` forces the tool and `arguments`
        its arguments, otherwise both are drawn."""
        tool = tool or self._next_tool()
        self.n += 1
        return {"jsonrpc": "2.0", "id": self.n, "method": "tools/call",
                "params": {"name": tool,
                           "arguments": arguments or self.arguments(tool)}}

    def arrivals(self, rate: float, seconds: float) -> list[float]:
        """Poisson arrival offsets (s) at `rate` per second within
        `seconds`."""
        out, t = [], 0.0
        while True:
            t += self.rng.expovariate(rate)
            if t >= seconds:
                return out
            out.append(t)


@dataclass
class UpsertBatch:
    step: int
    rows: list[tuple]            # (doc_id, text, lang, source, n_chars)
    removed: list[int]
    token: str                   # appears only in this batch's changed docs
    expect: dict                 # counts upsert_documents must return
    changed: dict                # doc_id -> new text of edited and new docs


class UpsertGen:
    """Deterministic upsert batches over a model of the corpus.

    The generator applies each batch to its own copy of the corpus, so
    batch `k` depends only on the seed and `k`, and the model is the
    expected corpus state that the output checks compare against."""

    def __init__(self, seed: int, corpus: dict) -> None:
        self.rng = random.Random(seed * 7919 + 1)
        self.seed = seed
        self.text = dict(zip(corpus["doc_id"], corpus["text"]))
        self.meta = {i: (lang, src) for i, lang, src in
                     zip(corpus["doc_id"], corpus["lang"], corpus["source"])}
        self.next_id = 10_000_000
        self.touched: set[int] = set()  # ids whose state a batch changed

    def _text(self, token: str) -> str:
        words = self.rng.choices(VOCAB, k=self.rng.randint(10, 60))
        words.insert(self.rng.randrange(len(words) + 1), token)
        return " ".join(words)

    def _token(self, step: int) -> str:
        # letters only: the tokenizer keeps it whole, and no corpus word
        # or other batch's token equals it
        x, out = self.seed * 100_003 + step, ""
        for _ in range(8):
            x, r = divmod(x, 26)
            out += "abcdefghijklmnopqrstuvwxyz"[r]
        return "zq" + out

    def batch(self, step: int) -> UpsertBatch:
        rng = self.rng
        n = rng.randint(UPSERT_MIN, UPSERT_MAX)
        n_edit = n * UPSERT_EDIT // 100
        n_new = n * UPSERT_NEW // 100
        n_same = n * UPSERT_SAME // 100
        n_rm = n - n_edit - n_new - n_same
        live = sorted(self.text)
        picked = rng.sample(live, n_edit + n_same + n_rm)
        edit = picked[:n_edit]
        same = picked[n_edit:n_edit + n_same]
        rm = picked[n_edit + n_same:]
        token = self._token(step)
        rows, changed = [], {}
        for i in edit:
            changed[i] = self._text(token)
        for _ in range(n_new):
            i = self.next_id
            self.next_id += 1
            changed[i] = self._text(token)
            self.meta[i] = (rng.choice(LANGS), f"src{rng.randrange(20)}")
        for i, t in changed.items():
            rows.append((i, t, *self.meta[i], len(t)))
        for i in same:
            t = self.text[i]
            rows.append((i, t, *self.meta[i], len(t)))
        rng.shuffle(rows)
        self.text.update(changed)
        for i in rm:
            del self.text[i]
        self.touched.update(changed, rm)
        expect = {"processed": len(rows), "inserted": n_new,
                  "updated": n_edit, "skipped": n_same, "removed": n_rm}
        return UpsertBatch(step, rows, rm, token, expect, changed)
