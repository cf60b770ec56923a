"""Multi-dimensional file layout (Z-order) for data skipping.

The reference's MergeTree ``ORDER BY (a, b, c)`` (ATTACH DDL,
reference ``temporal/workflow_query_executor_test.go:85``) gives
perfect pruning on prefix-of-key predicates and nothing on the rest.
Z-ordering interleaves the bits of several quantized keys into one
sort key, so parquet row-group/file min-max statistics prune
usefully on ANY of the dimensions — the standard lakehouse answer
(Delta ``OPTIMIZE ZORDER BY``, Iceberg sort orders) re-expressed with
plain Spark primitives.

Scale shape: quantization bounds come from one tiny min/max
aggregate (driver receives two scalars per column); the z-key itself
is a pure column expression; the write is ``repartitionByRange(z)``
+ ``sortWithinPartitions(z)`` — one range shuffle, the same cost as
any total-order write. Skewed dimensions degrade quantization
(uniform value buckets), not correctness; at 100 TB swap the min/max
bounds for approxQuantile edges if a dimension is pathological.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

BITS_PER_DIM = 16


def _dim_expr(df: DataFrame, col: str) -> Column:
    """Numeric view of one z-order dimension. Strings quantize via
    xxhash64: equal values land on one quantization level, so files
    get tight min/max on the original string column and EQUALITY
    probes prune; string RANGE predicates don't (the hash destroys
    lexical order) — the same tradeoff as hash-based clustering in
    lakehouse table formats."""
    if isinstance(df.schema[col].dataType, StringType):
        return F.xxhash64(F.col(col)).cast("double")
    return F.col(col).cast("double")


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = BITS_PER_DIM
) -> Column:
    """Interleaved-bit z-value over ``cols`` (numeric/date/timestamp
    castable to double, plus strings via hash quantization).

    Each column is min-max quantized to ``2^bits`` levels using
    bounds from a single aggregate over ``df``, then bit ``i`` of
    dimension ``d`` lands at position ``i * n_dims + d`` of the key.
    NULLs quantize to level 0 (they cluster together at the low end).
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"{bits} bits x {len(cols)} dims overflows a long")
    bounds = df.agg(
        *[
            c
            for col in cols
            for c in (
                F.min(_dim_expr(df, col)).alias(f"__mn_{col}"),
                F.max(_dim_expr(df, col)).alias(f"__mx_{col}"),
            )
        ]
    ).collect()[0]
    n = len(cols)
    levels = (1 << bits) - 1
    terms: list[Column] = []
    for d, col in enumerate(cols):
        mn = float(bounds[f"__mn_{col}"])
        mx = float(bounds[f"__mx_{col}"])
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0).cast("long"),
                F.floor(
                    (_dim_expr(df, col) - F.lit(mn))
                    / F.lit(span)
                    * F.lit(levels + 1)
                ).cast("long"),
            ),
        )
        q = F.coalesce(q, F.lit(0).cast("long"))
        terms.extend(
            F.shiftleft(
                F.shiftrightunsigned(q, i).bitwiseAND(F.lit(1).cast("long")),
                i * n + d,
            )
            for i in range(bits)
        )
    return reduce(add, terms)

