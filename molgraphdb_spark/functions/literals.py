"""Driver-side rows as a DataFrame through one Arrow-backed constructor.

``spark.createDataFrame(local_rows)`` on a list of tuples parallelizes a
PICKLED Python collection: every action on (or downstream of) that
DataFrame runs an extra Python-runner stage just to deserialize it —
measured at ~2-4 s per job in local mode. Building one ``F.lit`` column
per cell avoids that stage but costs a py4j round trip per cell (a
4,100-row seed list took ~9 s to build that way).

:func:`literal_df` instead converts the rows to a ``pyarrow.Table``
column by column and hands it to ``spark.createDataFrame``: below
``spark.sql.execution.arrow.localRelationThreshold`` the batches land in
the JVM as a ``LocalRelation`` (planned as ``LocalTableScan``), so there
is no Python stage and no per-cell JVM call. Column types are the ones
``F.lit`` infers per value (see :func:`_column`), so callers see the
same schema either way.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def _column(values: Sequence) -> pa.Array:
    """One column with the type ``F.lit`` gives its values: pyarrow's
    inference (string, double, boolean, null for all-None, int64),
    narrowed to int32 when every value fits, as ``F.lit`` does."""
    arr = pa.array(values)
    if arr.type == pa.int64() and all(v is None or -(2**31) <= v < 2**31 for v in values):
        arr = arr.cast(pa.int32())
    return arr


def literal_df(spark: SparkSession, rows: Sequence[tuple], cols: Sequence[str]) -> DataFrame:
    """Driver-side rows as a ``LocalTableScan`` DataFrame (see module
    docstring). Every row must have one cell per column and each column
    one type; None cells become NULLs, and only columns holding one are
    nullable."""
    if not rows:
        raise ValueError("literal_df needs at least one row; use an explicit schema path")
    if any(len(r) != len(cols) for r in rows):
        raise ValueError("literal_df: every row needs one cell per column")
    arrays = [_column(values) for values in zip(*rows)]
    schema = pa.schema(
        [pa.field(c, a.type, nullable=a.null_count > 0) for c, a in zip(cols, arrays)]
    )
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema))
