"""Global quantile bucketing — assign every row its exact n-quantile
bucket WITHOUT a global sort.

``NTILE(n) OVER (ORDER BY x)`` is the textbook answer and a 100 TB
non-starter: an empty-key window collapses the whole table into one
task.  The scale-safe formulation collapses the table to its DISTINCT
metric values first (one map-side-combined count shuffle — for the
integer-ish metrics this is built for, |distinct| is bounded and tiny
relative to |rows|), runs the engine's one exact order-statistic pass
over that collapse (``stats.cumulative_weights``: a window over
|distinct| rows, not |rows|, giving each value its running count
``cum(v)`` = rows with value <= v, and the total ``N``; NULL values
count toward neither), and derives each value's bucket in pure integer
arithmetic:

    bucket(v) = ceil(n_buckets * cum(v) / N)
              = (n_buckets * cum(v) + N - 1) div N

Every row with the same value lands in the same bucket (ties never
straddle — the property NTILE does not give you), buckets are as
equal-count as ties allow, and the whole derivation is exact integers,
so any engine reproduces it bit-for-bit.  The value→bucket map joins
back to the table keyed on the metric (broadcast-sized by the same
cardinality bound).

Use cases: length-balanced training mixtures (sample evenly across
n_chars deciles), quantile-capped outlier filters, per-bucket loss
weighting.  For continuous high-cardinality metrics, quantize first
(e.g. ``round(x, 3)``) or use the GK-sketch profile path
(operators/profile.py) — this operator trades a cardinality
assumption for exactness, and ``max_distinct`` fails loud when the
assumption breaks instead of letting the window task eat an unbounded
frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_spark.functions.stats import (
    CUM,
    TOTAL,
    cumulative_weights,
)

__all__ = ["global_quantile_buckets"]


def global_quantile_buckets(df: DataFrame, col: str, n_buckets: int = 10,
                            out_col: str = "qbucket",
                            max_distinct: int | None = 1_000_000) -> DataFrame:
    """``df`` plus ``out_col`` = the row's 1..n_buckets quantile bucket
    of ``col``.  NULL metric rows pass through with a NULL bucket.
    Raises at execution time if ``col`` has more than ``max_distinct``
    values (the exactness/cardinality trade documented above).
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    vc = df.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
    cum = cumulative_weights(vc, [], col, "__c", max_distinct,
                             "global_quantile_buckets")
    bucket_map = cum.select(
        F.col(col).alias("__v"),
        F.expr(f"({int(n_buckets)} * {CUM} + {TOTAL} - 1) div {TOTAL}")
        .alias(out_col))
    return df.join(F.broadcast(bucket_map),
                   df[col] == bucket_map["__v"], "left").drop("__v")
