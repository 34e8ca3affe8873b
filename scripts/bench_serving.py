"""Serving-path latency bench: p50/p95 per engine call on a PRE-WARMED
long-lived `HybridEngine` (pinned lexical/vector indexes), the deployment
shape the reference's latency targets assume (BASELINE.md rows 1-3:
<150 ms hybrid p95 / <50 ms vector+scoring / <5 ms exact lookup, all
targets — the reference never implemented its benchmark runner).

Usage: python scripts/bench_serving.py [sf_dir ...] [--n 30]
           [--route-docs 50000]
Prints one JSON line per SF with the wall time and Spark job count of
`enable_interactive` (`setup`) and per-call p50/p95 in milliseconds
(`latencies`), and a markdown table of both to stderr for
SERVING_LATENCY.md. The `tool_rows.*` rows time the rows-out calls the
serving transports make; the rows named after a public method time its
DataFrame face, collected. `--route-docs N` adds one more JSON line,
the `routes.*` rows: resident lexical calls on both sides of the
dense/sparse grouping choice, on a generated corpus of N docs, with the
wall time and Spark job count of that engine's `enable_interactive`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "patience and prayer",
    "charity given in secret",
    "window merge sort batch",
    "stream spark join order",
    "small hash scan",
]


def pctl(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    k = max(0, min(len(xs) - 1, round(p / 100 * (len(xs) - 1))))
    return xs[k]


def timed_enable(spark, engine) -> dict:
    """`engine.enable_interactive()`'s wall time and Spark job count."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    t0 = time.perf_counter()
    assert engine.enable_interactive(), "the rows need resident tiers"
    return {"enable_interactive": {
        "wall_s": round(time.perf_counter() - t0, 2),
        "jobs": len(set(tracker.getJobIdsForGroup()) - before)}}


def bench_sf(spark, sf_dir: str, n: int) -> tuple[dict, dict]:
    from hadith_vector_search_spark.api import HybridEngine
    from hadith_vector_search_spark.plans import semantic
    from hadith_vector_search_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    engine = HybridEngine(spark, docs)
    setup = timed_enable(spark, engine)
    doc_ids = [r.doc_id for r in
               engine.docs.select("doc_id").limit(200).collect()]
    # narrator-shaped engine for the mixed-batch row: the `source` column
    # plays the narrator field (names-sized vocabulary, same tier shape).
    # Assert the fast path is actually resident — a silent False here
    # would benchmark the degraded Spark union while the committed table
    # labels the row zero-job (round-10 review).
    nar_engine = HybridEngine(spark, docs, narrator_col="source")
    assert nar_engine.enable_interactive(), "mixed-batch row needs tiers"
    narrators = [r.source for r in
                 docs.select("source").distinct().limit(8).collect()
                 if r.source is not None]
    assert narrators
    # reopened quantized-tier store handles for the point-serving rows
    sq_idx = semantic.get_vector_store(spark, sf_dir, "vecsq")
    bq_idx = semantic.get_vector_store(spark, sf_dir, "vecbq")
    pq_idx = semantic.get_vector_store(spark, sf_dir, "vecpq")
    assert pq_idx.enable_interactive(), "resident PQ row needs the tier"
    # resident quantized point tier (round-11 verdict item 4): the same
    # opt-in bounded discipline as the engine tiers; assert it actually
    # enabled so the committed row never silently measures the fallback
    assert bq_idx.enable_interactive(), "resident BQ row needs the tier"
    assert sq_idx.enable_interactive(), "resident SQ8 row needs the tier"

    def rows_out(name, args):
        # a tool_rows row must time the resident call, never the
        # Spark-path frame a degraded tier returns
        out = engine.tool_rows(name, args)
        assert isinstance(out, tuple), f"{name} left the resident tiers"
        return out

    calls = {
        "hybrid_search": lambda i: engine.hybrid_search(
            QUERIES[i % len(QUERIES)], n_results=10).collect(),
        "rerank_search": lambda i: engine.rerank_search(
            QUERIES[i % len(QUERIES)], n_results=10).collect(),
        "more_like_this": lambda i: engine.more_like_this(
            doc_ids[i % len(doc_ids)], n_results=10).collect(),
        "fts_match": lambda i: engine.fts_match(
            terms=[QUERIES[i % len(QUERIES)].split()[0]], k=10).collect(),
        "get_document": lambda i: engine.get_document(
            doc_ids[i % len(doc_ids)]).collect(),
        # the serving transports' actual lookup path (dict from the
        # resident map — the shape the reference's <5 ms target measures)
        "get_document_row": lambda i: engine.get_document_row(
            doc_ids[i % len(doc_ids)]),
        # the rows-out calls the serving transports make (no frame)
        "tool_rows.hybrid_search": lambda i: rows_out("hybrid_search", {
            "query": QUERIES[i % len(QUERIES)], "n_results": 10}),
        # a `lang`-filtered call: resident too (strict-type equality on
        # the doc map, `_fast_allowed_ids`, through its lazy filter index)
        "tool_rows.hybrid_search[lang]": lambda i: rows_out(
            "hybrid_search", {"query": QUERIES[i % len(QUERIES)],
                              "n_results": 10, "filters": {"lang": "en"}}),
        "tool_rows.hybrid_search_batch": lambda i: rows_out(
            "hybrid_search_batch", {
                "queries": [QUERIES[(i + j) % len(QUERIES)]
                            for j in range(8)], "n_results": 10}),
        "tool_rows.rerank_search": lambda i: rows_out("rerank_search", {
            "query": QUERIES[i % len(QUERIES)], "n_results": 10}),
        "tool_rows.more_like_this": lambda i: rows_out("more_like_this", {
            "doc_id": doc_ids[i % len(doc_ids)], "n_results": 10}),
        "tool_rows.fts_match": lambda i: rows_out("fts_match", {
            "terms": [QUERIES[i % len(QUERIES)].split()[0]], "limit": 10}),
        "hybrid_synonyms": lambda i: engine.hybrid_search(
            QUERIES[i % len(QUERIES)], n_results=10,
            synonym_groups=[["window", "pane"],
                            ["stream", "flow"]]).collect(),
        # reference-shaped query through the full hybrid entry: routed to
        # the point-lookup dispatch (TEST_QUERIES.md §1's <5 ms class)
        "hybrid_exact_ref": lambda i: engine.hybrid_search(
            f"hadith number {doc_ids[i % len(doc_ids)]}",
            n_results=1).collect(),
        # batch serving tier: 8 queries per call (one matmul on the
        # resident tiers, rows out through a `local_df` frame). The row
        # is the WHOLE-CALL latency; divide by 8 for the amortized
        # per-query number.
        "hybrid_batch8": lambda i: engine.hybrid_search_batch(
            [QUERIES[(i + j) % len(QUERIES)] for j in range(8)],
            n_results=10).collect(),
        # round-10 fast-path extensions: a mixed batch (narrator-intent +
        # exact-ref + thematic) on a narrator engine, and a filtered
        # batch (strict-type equality via the driver id set) — both stay
        # zero-job on the resident tiers instead of degrading to a
        # per-query Spark union.
        "hybrid_batch8_mixed": lambda i: nar_engine.hybrid_search_batch(
            [f"narrated by {narrators[(i + j) % len(narrators)]} patience"
             if j % 3 == 0 else
             f"hadith number {doc_ids[(i + j) % len(doc_ids)]}"
             if j % 3 == 1 else QUERIES[(i + j) % len(QUERIES)]
             for j in range(8)], n_results=10).collect(),
        "hybrid_batch8_filtered": lambda i: engine.hybrid_search_batch(
            [QUERIES[(i + j) % len(QUERIES)] for j in range(8)],
            n_results=10, filters={"lang": "en"}).collect(),
        # batched ANN off the published vector store at three batch
        # sizes: whole-call latency; per-query cost must FALL with N
        # (round-11 brief item 2 — probe selection is one local matmul
        # for the whole batch, the scan O(1) jobs regardless of N)
        "ann_batch1": lambda i: semantic.ivf_batch_published(
            spark, sf_dir, 1).collect(),
        "ann_batch8": lambda i: semantic.ivf_batch_published(
            spark, sf_dir, 8).collect(),
        "ann_batch32": lambda i: semantic.ivf_batch_published(
            spark, sf_dir, 32).collect(),
        # batched IVFADC: same amortization claim over the ~50x-smaller
        # CODES scan + exact rerank (round 11)
        "ann_pq_batch32": lambda i: semantic.ivfpq_batch_published(
            spark, sf_dir, 32).collect(),
        # quantized point-serving tiers off the reopened store (round
        # 11): one probe-pruned quantized scan per call — sq8 ranks
        # dequantized dots, bq Hamming-prefilters then exact-reranks
        "ann_sq8_point": lambda i: sq_idx.sq_topk(
            (i * 7) % 100, n_probe=2, k=5).collect(),
        "ann_bq_point": lambda i: bq_idx.bq_topk(
            (i * 7) % 100, n_probe=2, k=5, rerank=20).collect(),
    }
    # the RESIDENT twins: same rows (identity pinned by test), zero Spark
    # jobs, one query per call and 32 per call through the one resident
    # kernel. A batch32 row is the WHOLE-CALL latency; divide by 32 for
    # the per-query cost, which must sit well under the single-call row.
    for tier, point, batch, knobs in (
            ("bq", bq_idx.bq_topk_point, bq_idx.bq_topk_point_batch,
             {"rerank": 20}),
            ("sq8", sq_idx.sq_topk_point, sq_idx.sq_topk_point_batch, {}),
            ("pq", pq_idx.ivfpq_topk_point, pq_idx.ivfpq_topk_point_batch,
             {"rerank": 20})):
        calls[f"ann_{tier}_point_resident"] = (
            lambda i, f=point, kw=knobs: f((i * 7) % 100, n_probe=2, k=5,
                                           **kw))
        calls[f"ann_{tier}_point_resident_batch32"] = (
            lambda i, f=batch, kw=knobs: f(
                [(i * 7 + j) % 100 for j in range(32)], n_probe=2, k=5,
                **kw))
    return setup, time_calls(calls, n)


def time_calls(calls: dict, n: int, digits: int = 1) -> dict:
    out = {}
    for name, call in calls.items():
        for i in range(3):  # warm: indexes pin, plans compile
            call(i)
        lat = []
        for i in range(n):
            t0 = time.perf_counter()
            call(i)
            lat.append((time.perf_counter() - t0) * 1000)
        out[name] = {"p50_ms": round(pctl(lat, 50), digits),
                     "p95_ms": round(pctl(lat, 95), digits),
                     "mean_ms": round(statistics.mean(lat), digits),
                     "n": n}
    return out


def bench_routes(spark, n_docs: int, n: int) -> tuple[dict, dict]:
    """Resident lexical calls on each side of the dense/sparse choice of
    `HybridEngine._group_sum`, on the perfbench generator's corpus at
    `n_docs` docs. Its 30-word vocabulary puts every corpus term on most
    docs (the dense route). Three upserted docs add a term no other doc
    has, and the narrator tier's names are each on one doc in 20: from
    16,384 docs up, those legs take the sparse route. Returns the
    engine's `enable_interactive` set-up row and the call latencies."""
    from hadith_vector_search_spark.api import HybridEngine
    from perfbench.gen import make_corpus

    corpus = make_corpus(n_docs)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs = spark.createDataFrame(
        list(zip(*(corpus[c] for c in cols))),
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    engine = HybridEngine(spark, docs, narrator_col="source")
    setup = timed_enable(spark, engine)
    engine.upsert_documents(spark.createDataFrame(
        [(n_docs + i, "zyxrare data stream " + "zyxrare " * i, "en",
          "src_rare", 20) for i in range(3)], docs.schema))

    def rows_out(name, args):
        out = engine.tool_rows(name, args)
        assert isinstance(out, tuple), f"{name} left the resident tiers"
        return out

    calls = {
        "routes.fts_match[common]": lambda i: rows_out(
            "fts_match", {"terms": ["data"], "limit": 10}),
        "routes.fts_match[rare]": lambda i: rows_out(
            "fts_match", {"terms": ["zyxrare"], "limit": 10}),
        "routes.fts_match[rare prefix]": lambda i: rows_out(
            "fts_match", {"prefix": "zyx", "limit": 10}),
        "routes.more_like_this": lambda i: rows_out(
            "more_like_this", {"doc_id": i * 97 % n_docs,
                               "n_results": 10}),
        "routes.hybrid_search[common]": lambda i: rows_out(
            "hybrid_search", {"query": "fast stream join",
                              "n_results": 10}),
        "routes.hybrid_search[rare]": lambda i: rows_out(
            "hybrid_search", {"query": "zyxrare", "n_results": 10}),
        "routes.hybrid_search[narrator]": lambda i: rows_out(
            "hybrid_search", {"query": f"narrated by src{i % 20} data",
                              "n_results": 10}),
    }
    return setup, time_calls(calls, n, digits=3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dirs", nargs="*",
                    default=["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
    ap.add_argument("--n", type=int, default=30)
    ap.add_argument("--route-docs", type=int, default=0,
                    help="also time the routes.* rows at this many docs")
    args = ap.parse_args()

    from hadith_vector_search_spark.api import configure_interactive
    from hadith_vector_search_spark.session import get_spark
    spark = get_spark("bench-serving")
    configure_interactive(spark)  # the deployment shape being measured
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").write.mode(
        "overwrite").format("noop").save()

    setup_md = ["| sf | set-up | wall s | Spark jobs |", "|---|---|---|---|"]
    md = ["| sf | call | p50 ms | p95 ms | mean ms |", "|---|---|---|---|---|"]
    for sf_dir in args.sf_dirs:
        setup, res = bench_sf(spark, sf_dir, args.n)
        sf = os.path.basename(sf_dir.rstrip("/"))
        print(json.dumps({"sf_dir": sf_dir, "setup": setup,
                          "latencies": res}))
        for step, m in setup.items():
            setup_md.append(f"| {sf} | {step} | {m['wall_s']} | "
                            f"{m['jobs']} |")
        for call, m in res.items():
            md.append(f"| {sf} | {call} | {m['p50_ms']} | {m['p95_ms']} | "
                      f"{m['mean_ms']} |")
    if args.route_docs:
        setup, res = bench_routes(spark, args.route_docs, args.n)
        print(json.dumps({"route_docs": args.route_docs, "setup": setup,
                          "latencies": res}))
        for step, m in setup.items():
            setup_md.append(f"| {args.route_docs} docs | {step} | "
                            f"{m['wall_s']} | {m['jobs']} |")
        for call, m in res.items():
            md.append(f"| {args.route_docs} docs | {call} | {m['p50_ms']} "
                      f"| {m['p95_ms']} | {m['mean_ms']} |")
    print("\n".join(setup_md + [""] + md), file=sys.stderr)


if __name__ == "__main__":
    main()
