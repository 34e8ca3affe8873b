"""Pin-time plan capture — hygiene visibility for materialized frames.

Session-cache entries (`plans.pins.pinned` outputs, the frame-store
handles of `plans.dedup.get_published_frame_store`, the vector-LSH
index, the lexical index) materialize their build plan eagerly or
publish it to a store, and hand consumers a flat LogicalRDD or a parquet
scan, so the whole-registry hygiene sweep (tests/test_plan_hygiene.py)
and scripts/audit_plans.py would otherwise never SEE the plan that
actually ran — a pin could hide a BatchEvalPython or a Cartesian behind
the checkpoint facade. Every entry build calls `record(tag, sf_dir, df)`
with the UNCHECKPOINTED build frame (for a frame store, the deriver's
frame, tagged `frame_<deriver>`); the captured formatted plan string is
kept in `PIN_PLANS` for the hygiene test and the audit script to assert
over.

Capture cost is one explainString per entry build — planning work Spark
does anyway when the checkpoint materializes — and the store holds
strings, never frames, so it pins no Spark state."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# (tag, abspath(sf_dir)) -> formatted physical plan of the pin build
PIN_PLANS: dict[tuple[str, str], str] = {}


def record(tag: str, sf_dir: str, df: DataFrame) -> DataFrame:
    """Capture `df`'s formatted physical plan under `tag` and return the
    frame unchanged (call sites wrap their build expression). Capture
    failures never break the pin — hygiene visibility must not cost
    availability."""
    try:
        spark = df.sparkSession
        mode = (spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        PIN_PLANS[(tag, os.path.abspath(sf_dir))] = (
            df._jdf.queryExecution().explainString(mode))
    except Exception:  # noqa: BLE001 — observability is best-effort
        pass
    return df
