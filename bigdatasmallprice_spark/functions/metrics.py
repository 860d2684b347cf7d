"""Regression metrics as distributed aggregations.

Reference semantics (reference src/modelling/evaluate.py:23-61, golden
tests test_model.py:66-120): MAE and RMSE plain; MAPE computed ONLY over
rows with |y_true| >= 10 with denominator |y_true|, and NULL/NaN when no
row qualifies. The reference computes these in numpy on a collected
frame; here they are one Spark aggregation — no collect, scales to any
row count.

Every mean here is ``exact_mean``: each row is rounded to
``EXACT_SCALE`` decimals and summed as a DECIMAL, the idiom
operators/linreg.py uses for its integer moments. A sum of doubles
depends on how the rows are partitioned and in which order the partial
sums combine; a DECIMAL sum does not, so the same rows give the same
bits under any plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

MAPE_MIN_ABS_Y = 10.0

# decimals each row keeps in an exact sum; DECIMAL(28, 9) holds |x| < 1e19
# per row, and Spark widens the sum to DECIMAL(38, 9)
EXACT_SCALE = 9


def exact_mean(c: Column) -> Column:
    """AVG(c) as a double, computed from an exact DECIMAL sum. NULL, NaN
    and infinities (which have no DECIMAL value) are left out of both the
    sum and the count; no remaining row gives NULL."""
    d = c.cast(DecimalType(28, EXACT_SCALE))
    return (F.sum(d) / F.count(d)).cast("double")


def regression_metrics(
    df: DataFrame,
    y_col: str,
    yhat_col: str,
    group_by: list[str] | None = None,
) -> DataFrame:
    """MAE / RMSE / masked MAPE in a single pass."""
    y = F.col(y_col)
    err = F.col(yhat_col) - y
    qualifies = F.abs(y) >= F.lit(MAPE_MIN_ABS_Y)
    aggs = [
        exact_mean(F.abs(err)).alias("mae"),
        F.sqrt(exact_mean(err * err)).alias("rmse"),
        exact_mean(
            F.when(qualifies, F.lit(100.0) * F.abs(err) / F.abs(y))
        ).alias("mape_pct"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(qualifies, F.lit(1)).otherwise(F.lit(0))).alias("n_mape"),
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)
