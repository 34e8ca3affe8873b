"""Whole-registry physical-plan invariants, asserted automatically so a
future operator can't silently regress the execution posture:

- NO row-at-a-time Python UDF (`BatchEvalPython`) anywhere — Python compute
  must be Arrow-batched (pandas UDF / applyInPandas / mapInPandas).
- Arrow-batched Python appears ONLY in the queries whose point is Python
  compute (inference, dense BLAS, sequential folds, stubbed codecs).
- NO Cartesian product in any plan.
"""

from __future__ import annotations

from hadith_vector_search_spark.registry import get_queries

SF = "/root/testdata/sf0.001"

# Queries where Arrow-batched Python is the operator (inference/BLAS/
# sequential fold/codec stub) — everything else must be pure JVM.
ARROW_ALLOWED = {
    "embed_documents_preview", "embed_and_search", "embed_chunks_preview",
    "streaming_embed_merge",
    "similar_pairs", "similar_pairs_lsh", "ann_recall_report",
    "ann_recall_report_sampled",
    "semantic_dedup_list", "ann_topk_ivf_kmeans",
    "multimodal_metadata", "multimodal_frames", "multimodal_frame_features",
    "greedy_pack_assignments",
    "streaming_user_totals_stateful",
    "mmr_rerank",
    "cross_encoder_rerank",   # the pair scorer IS the Python inference
}


def _plan_of(spark, fn):
    df = fn(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


# Pin-build plans where Arrow-batched Python is the operator (same
# rationale as ARROW_ALLOWED, keyed by pin tag): the all-pairs sets run
# the blocked numpy matmul (applyInPandas / mapInPandas), and the
# compressed-vector scorers (int8 round-trip, PQ ADC) are numpy BLAS by
# design — interpreted HOF trees would recompute the per-vector scale per
# element (see operators/similarity.py:403-410).
PIN_ARROW_ALLOWED = {
    "exact_pairs", "lsh_pairs", "int8_topk5", "pq_topk5",
    # the sampled recall audits' legs are the same blocked-BLAS pair
    # operators over the sha-sampled id set (plans/semantic.py:
    # ann_recall_report_sampled / the scale-safe ann_recall_report)
    "exact_pairs_sampled", "lsh_pairs_sampled",
    "exact_pairs_audit", "lsh_pairs_audit",
}


def _assert_hygiene(plans: dict[str, str], arrow_allowed: set[str]):
    offenders_py = [n for n, p in plans.items() if "BatchEvalPython" in p]
    offenders_arrow = [
        n for n, p in plans.items()
        if n not in arrow_allowed
        and ("ArrowEvalPython" in p or "FlatMapGroupsInPandas" in p
             or "MapInPandas" in p or "PythonMapInArrow" in p)]
    offenders_cart = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders_py, f"row-at-a-time Python UDFs in: {offenders_py}"
    assert not offenders_arrow, (
        f"unexpected Arrow-Python stages in: {offenders_arrow} — "
        "either JVM-ify the operator or add it to the allowed set with a "
        "reason it must be Python")
    assert not offenders_cart, f"Cartesian products in: {offenders_cart}"


def test_no_row_at_a_time_python_and_no_cartesian(spark):
    plans, errors = {}, []
    for name, fn in sorted(get_queries().items()):
        try:
            plans[name] = _plan_of(spark, fn)
        except Exception as e:  # noqa: BLE001
            errors.append((name, str(e)[:120]))
    assert not errors, errors
    _assert_hygiene(plans, ARROW_ALLOWED)

    # Pin-time plans: the registry sweep above populated every session
    # pin, and each pin site recorded the BUILD plan it materialized
    # (plans.pin_audit) — the checkpoint facade can't hide a
    # BatchEvalPython or Cartesian from this sweep.
    from hadith_vector_search_spark.plans.pin_audit import PIN_PLANS
    pin_plans = {tag: plan for (tag, sf), plan in PIN_PLANS.items()
                 if sf == SF}
    assert pin_plans, "registry sweep should have populated session pins"
    # the big pinned derived indexes must all have been captured
    assert {"frame_windows", "frame_shingles", "vlsh_sigs",
            "lexical_postings"} <= set(pin_plans), sorted(pin_plans)
    _assert_hygiene(pin_plans, PIN_ARROW_ALLOWED)


def test_mmr_pair_build_is_broadcast_and_bounded(spark):
    """mmr_rerank's candidate×candidate crossJoin must plan as a
    BroadcastNestedLoopJoin (the explicit broadcast hint pins it — never
    a shuffled Cartesian at any scale), and its inputs are semi-join
    restrictions to the top-MMR_CANDS candidate set, so the pair matrix
    is bounded by the over-fetch constant, not the corpus."""
    from hadith_vector_search_spark.operators.similarity import (
        topk_by_query_id,
    )
    from hadith_vector_search_spark.plans import semantic as sp
    from hadith_vector_search_spark.sources import load_table

    plan = _plan_of(spark, sp.mmr_rerank)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

    emb = load_table(spark, SF, "embeddings")
    n_cands = topk_by_query_id(emb, sp.QUERY_VEC_ID, sp.MMR_CANDS).count()
    assert n_cands <= sp.MMR_CANDS


def test_plan_audit_table_covers_registry():
    """round-12 verdict item 4: PLAN_AUDIT.md's main table must track
    the registry MECHANICALLY — a new registration cannot ship without
    its plan-audit row (and a de-registration cannot leave a stale one).
    Parses the committed audit table (query name + three integer
    columns) and asserts exact set equality with get_queries()."""
    import os
    import re

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLAN_AUDIT.md")
    main = open(path).read().split("# pin-time build plans")[0]
    rows = set(re.findall(r"^([a-z0-9_]+)\s+\d+\s+\d+\s+\d+", main, re.M))
    registered = set(get_queries())
    assert rows == registered, (
        f"PLAN_AUDIT.md table out of sync with registry: "
        f"missing={sorted(registered - rows)} "
        f"stale={sorted(rows - registered)} — re-run "
        f"scripts/audit_plans.py and re-stamp PLAN_AUDIT.md")


def test_serving_paths_render_no_sql_literal_relations():
    """Resident results leave the engine as plain rows (`tool_rows`) or
    through the one frame builder (`localrel.local_df`); a SQL `VALUES`
    relation rendered from result rows — parsed, analyzed and planned
    per call — must not come back into the engine API or the serving
    transports. Reads the sources, so it needs no Spark."""
    import glob
    import os
    import re

    import hadith_vector_search_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    paths = [os.path.join(root, "api.py")] + sorted(
        glob.glob(os.path.join(root, "serving", "*.py")))
    for path in paths:
        with open(path) as fh:
            src = fh.read()
        rel = os.path.relpath(path, root)
        assert not re.search(r"\bFROM\s+VALUES\b", src, re.I), rel
        assert "spark.sql(" not in src, rel
