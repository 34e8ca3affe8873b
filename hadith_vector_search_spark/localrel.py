"""Driver-local relations as genuine LocalTableScans.

`SparkSession.createDataFrame(list_of_tuples, ddl)` builds a PICKLED-RDD
frame: the rows are parallelized over defaultParallelism partitions and
every downstream action evaluates them through Python workers — measured
~0.2-0.5 s per action on this host for a handful of rows, and ~6 s when a
`coalesce(1)` forces one task to drain all (mostly empty) pickled
partitions sequentially (one Python-worker round trip each). This module
is the one frame builder for driver-side rows: the DataFrame faces of the
engine's resident results (`api.HybridEngine._frame`; the serving
transports take those rows with no frame at all) and the plan layer's
many small relations (query batches, probe tables, codebooks,
hyperplanes). It hands Spark a pyarrow Table, which lands as a JVM
LocalRelation — no Python workers at action time, broadcast builds
driver-side with no job (guide §4: keep the JVM↔Python boundary out of
the query path).
"""

from __future__ import annotations

import logging
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

try:
    import pyarrow as pa
except ImportError:  # pragma: no cover — pyspark ships pyarrow
    pa = None

_log = logging.getLogger(__name__)
_TIMESTAMP = TimestampType()


def _arrow_column(values: list, arrow_type):
    """One Arrow column of `values`. A TIMESTAMP (zoned) column takes
    each datetime as the epoch microseconds the classic path stores
    (`TimestampType.toInternal`): `collect()` returns naive datetimes in
    the process's local zone, and `pa.array` would read them as UTC."""
    if pa.types.is_timestamp(arrow_type) and arrow_type.tz is not None:
        values = [_TIMESTAMP.toInternal(v) if isinstance(v, datetime)
                  else v for v in values]
    return pa.array(values, type=arrow_type)


def local_df(spark: SparkSession, rows: list,
             ddl: str | StructType) -> DataFrame:
    """`spark.createDataFrame(rows, ddl)` with a LocalTableScan plan.

    Rows are positional tuples (or anything indexable) matching the
    field order of `ddl`, a DDL string or a `StructType`, exactly like
    the classic call. Falls back to the classic
    pickled-RDD path on a NAMED set of Arrow conversion gaps (exotic
    types, values a pa.array refuses) — the fallback produces the same
    values, just slower. The except is deliberately narrow and the
    fallback logged (round-13 ADVICE): a broad silent except would mask
    caller bugs behind a slow path and make an ExistingRDD reappearing in
    plans undetectable."""
    if pa is None:
        return spark.createDataFrame(rows, ddl)
    try:
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = (ddl if isinstance(ddl, StructType)
                  else StructType.fromDDL(ddl))
        arrow_schema = to_arrow_schema(schema)
        cols = [_arrow_column([r[i] for r in rows], f.type)
                for i, f in enumerate(arrow_schema)]
        return spark.createDataFrame(
            pa.Table.from_arrays(cols, schema=arrow_schema))
    except (ImportError, ValueError, TypeError, KeyError, IndexError,
            OverflowError, pa.lib.ArrowInvalid, pa.lib.ArrowTypeError,
            pa.lib.ArrowNotImplementedError) as e:
        _log.debug("local_df: Arrow path fell back to pickled-RDD "
                   "(%s: %s)", type(e).__name__, e)
        return spark.createDataFrame(rows, ddl)


def arrow_arrays(df: DataFrame, width: int = 0) -> list:
    """The columns of `df` as numpy arrays through one `toArrow()`, the
    way back from a frame to driver arrays with no per-value Python
    objects. The first column (the row key) comes by `to_pylist()`, so
    its numpy dtype is the one Python values give (strings stay str,
    integral ids int64); a list column is flattened and reshaped to
    (rows, list length), or to (0, `width`) when `df` is empty; any
    other column comes by `to_numpy()`. Callers cast to the dtypes they
    keep."""
    import numpy as np

    tbl = df.toArrow()
    n = tbl.num_rows
    out = [np.array(tbl.column(0).to_pylist())]
    for col in tbl.columns[1:]:
        if pa.types.is_list(col.type):
            vals = col.combine_chunks().flatten().to_numpy(
                zero_copy_only=False)
            out.append(vals.reshape(n, -1) if n else vals.reshape(0, width))
        else:
            out.append(col.to_numpy())
    return out
