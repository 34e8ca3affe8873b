"""Physical-plan audit: for every registered query, print the scan pushdown
(PushedFilters), column pruning (ReadSchema width), shuffle count
(Exchange nodes), and broadcast count. The per-operator design targets are
documented in SCALE.md; this script is how we check the plans stayed honest
as the code evolves.

Usage: python scripts/audit_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hadith_vector_search_spark.registry import get_queries  # noqa: E402
from hadith_vector_search_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    print(f"{'query':34} {'shuffles':>8} {'bcast':>5} {'reused':>6} "
          f"{'scan_cols':>9}  pushed_filters")
    for name, fn in sorted(get_queries().items()):
        if only and name not in only:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            print(f"{name:34} ERROR {e}")
            continue
        # formatted mode prints each node in the tree AND a detail section;
        # the "(n) Op" detail headers are unique per physical node.
        shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        bcast = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, re.M))
        reused = len(re.findall(r"^\(\d+\) ReusedExchange", plan, re.M))
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        cols = ",".join(str(len(s.split(",")) if s else 0) for s in schemas)
        pushed = [p for p in re.findall(r"PushedFilters: \[(.*?)\]", plan) if p]
        print(f"{name:34} {shuffles:>8} {bcast:>5} {reused:>6} {cols:>9}  "
              f"{pushed if pushed else '-'}")

    # Pin-time plans: every session-cache build (plans.pins.pinned
    # outputs, the frame-store handles, the vector-LSH index,
    # lexical-postings publishes)
    # records the BUILD plan it materialized (plans.pin_audit) — the
    # checkpoint facade shows the registry sweep above a flat LogicalRDD,
    # so this section is the only place those plans are visible.
    from hadith_vector_search_spark.plans.pin_audit import PIN_PLANS  # noqa: E402
    if PIN_PLANS:
        print()
        print("# pin-time build plans (hidden behind LogicalRDD above)")
        print(f"{'pin tag':34} {'shuffles':>8} {'bcast':>5} {'reused':>6} "
              f"{'arrow':>5} {'cart':>4}")
        for (tag, _sf), plan in sorted(PIN_PLANS.items()):
            shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
            bcast = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, re.M))
            reused = len(re.findall(r"^\(\d+\) ReusedExchange", plan, re.M))
            arrow = sum(plan.count(m) > 0 for m in (
                "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                "PythonMapInArrow"))
            cart = "CartesianProduct" in plan
            print(f"{tag:34} {shuffles:>8} {bcast:>5} {reused:>6} "
                  f"{arrow:>5} {str(cart):>4}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
