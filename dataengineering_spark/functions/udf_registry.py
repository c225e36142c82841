"""Grouped-apply escape hatch (SURVEY.md §2.12).

The reference's extension point is pandas ``groupby().apply(user_fn)``
with user-supplied aggregators (``tigergraph/utils.py:18-56``) — run
on the driver. Here the same contract is ``applyInPandas``: the user
function still receives a pandas DataFrame per group, but groups are
distributed across executors and batched over Arrow.

Policy (enforced by ``grouped_apply``'s warning): the three shipped
aggregators A1-A3 deliberately do NOT go through this path — they are
native conditional aggregations (operators/aggregates.py) and ~10-100x
faster. This module is for logic that genuinely needs per-group
Python (model scoring, dynamic-width pivots, third-party libs).
"""

from __future__ import annotations

import warnings
from collections.abc import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def grouped_apply(
    df: DataFrame,
    keys: list[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
) -> DataFrame:
    """``df.groupby(keys).apply(fn)`` with the reference's contract,
    executed distributed. ``schema`` is mandatory (Arrow needs the
    output shape up front — the one place the pandas API's
    infer-on-the-fly doesn't translate)."""
    return df.groupBy(*keys).applyInPandas(fn, schema=schema)


def transform_batches(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
) -> DataFrame:
    """Whole-frame pandas transform in Arrow batches — the analogue of
    the reference's ``deserialize_with`` result-decoder callback
    (``clickhouse/connector.py:43-66``), without materializing the
    frame on one machine."""

    def _apply(it):
        for pdf in it:
            yield fn(pdf)

    return df.mapInPandas(_apply, schema=schema)


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: T.StructType | str,
) -> DataFrame:
    """Per-row Python kernel over Arrow batches — the one lane the
    multimodal tier (synth payloads, container parses, decodes) runs
    its row-level work through. ``fn(*row)`` is called with each input
    row's values in column order and returns the output tuples for
    that row, in ``schema`` column order: zero, one or many. Callers
    never see the pandas batch format."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    columns = schema.fieldNames()

    def _rows(pdf: pd.DataFrame) -> pd.DataFrame:
        out = [o for row in pdf.itertuples(index=False, name=None) for o in fn(*row)]
        return pd.DataFrame(out, columns=columns)

    return transform_batches(df, _rows, schema)


def warn_if_expressible(op_name: str) -> None:
    """Nudge emitted by pipeline builders when a shipped aggregation
    is requested through the slow path."""
    warnings.warn(
        f"{op_name} is available as a native conditional aggregation "
        "(operators.aggregates); applyInPandas is 10-100x slower at scale",
        stacklevel=3,
    )


def register_chunk_spans_udtf(spark) -> None:
    """Python UDTF escape hatch (table-function shape): one input row
    → many output rows with computed columns, callable from SQL in the
    FROM clause (``SELECT * FROM chunk_spans('...', 8)``) or laterally
    per input row.

    The shipped chunkers (operators/chunking.py) stay native
    sequence-explode plans — this registration exists for logic that
    genuinely needs per-row Python generation (third-party tokenizers,
    model-driven splitting), the same policy as ``grouped_apply``.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="start: int, piece: string")
    class ChunkSpans:
        def eval(self, text: str, width: int):
            if text is None:
                return
            step = max(int(width), 1)
            for start in range(0, len(text), step):
                yield start, text[start : start + step]

    spark.udtf.register("chunk_spans", ChunkSpans)


def grouped_agg_udaf(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    fn: Callable[[pd.Series], float],
    out_col: str = "agg_value",
):
    """Series-to-scalar pandas UDAF (``PandasUDFType.GROUPED_AGG``
    semantics) — the Arrow escape hatch next to grouped_apply
    (frame→frame), transform_batches (batch→batch) and map_rows
    (row→rows). For custom scalar reductions a native expression
    can't state (a third-party statistic, a model-based score).
    Arrow-vectorized per group; the same expressibility policy
    applies — shipped aggregations must use operators/aggregates.py
    instead.

    Unlike applyInPandas, a grouped-agg UDF composes with other
    aggregate expressions in one ``agg()`` and rides Spark's hash
    aggregate; groups never materialize as full frames."""
    from pyspark.sql import functions as F

    warn_if_expressible(f"grouped_agg_udaf({out_col})")

    # the Series -> float hints are what make pandas_udf infer the
    # GROUPED_AGG lane; without them it builds a scalar UDF and the
    # agg() call fails analysis
    def _reduce(s: pd.Series) -> float:
        return float(fn(s))

    agg_fn = F.pandas_udf(_reduce, "double")
    return df.groupBy(*keys).agg(agg_fn(F.col(value_col)).alias(out_col))
