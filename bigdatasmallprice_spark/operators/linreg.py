"""Engine-side model training: closed-form multivariate linear
regression + the reference's MAPE quality gate, as pure aggregations.

Reference semantics: src/modelling/train.py:124-165 fits per-key models
and src/modelling/evaluate.py:126-145 warns when masked MAPE exceeds 8%.
The reference trains driver-side on a collected frame; here the fit is
the normal-equations solution computed from EXACT integer moment sums —
one groupBy shuffle with map-side partials, no collect, no iteration —
so the same fit runs unchanged over 100 TB:

- features x1 (hour-of-day) and x2 (day-of-week) are small ints; the
  target y is integer cents. Moment sums (n, Σx1, Σx2, Σx1², Σx1x2,
  Σx2², Σy, Σx1y, Σx2y) are exact BIGINTs — order-independent, unlike
  float accumulation — and stay in-bound for n up to ~4e9 rows per key
  with |y| < 1e6 cents (Σx1·y ≤ n·23·1e6 ≈ 1e17 « 2^63).
- the 3×3 normal system is solved by Cramer's rule AFTER casting the
  exact sums to double. The formula strings below are evaluated by
  ``F.expr`` on the Spark side and spliced verbatim into the DuckDB
  oracle, so both engines execute the identical IEEE-754 expression
  tree on identical inputs → bit-identical coefficients.
- the MAPE gate avoids float-sum order dependence by rounding each
  row's absolute-percentage-error to integer micro-units and summing
  those exactly (per-row double arithmetic is identical cross-engine;
  only multi-row float accumulation is not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cents(c: Column) -> Column:
    # local copy of queries.core.cents — importing the queries package
    # from an operator module would be circular (queries.mlq imports
    # this module at registry-population time)
    return F.round(c * 100, 0).cast("long")

# masked MAPE per the reference: only rows with |y| >= 10.00 count
MAPE_MASK_CENTS = 1000
MAPE_GATE_PCT = 8.0

# Cramer's rule over the double-cast moment columns
# (nd s1d s2d s11d s12d s22d syd s1yd s2yd). Shared verbatim between
# Spark F.expr and the DuckDB oracle — do not reformat one without the
# other; textual identity is what guarantees identical float results.
DET = (
    "(nd*(s11d*s22d - s12d*s12d) - s1d*(s1d*s22d - s12d*s2d)"
    " + s2d*(s1d*s12d - s11d*s2d))"
)
_DA0 = (
    "(syd*(s11d*s22d - s12d*s12d) - s1d*(s1yd*s22d - s12d*s2yd)"
    " + s2d*(s1yd*s12d - s11d*s2yd))"
)
_DA1 = (
    "(nd*(s1yd*s22d - s12d*s2yd) - syd*(s1d*s22d - s12d*s2d)"
    " + s2d*(s1d*s2yd - s1yd*s2d))"
)
_DA2 = (
    "(nd*(s11d*s2yd - s1yd*s12d) - s1d*(s1d*s2yd - s1yd*s2d)"
    " + syd*(s1d*s12d - s11d*s2d))"
)
B0C = f"(CASE WHEN {DET} = 0 THEN NULL ELSE {_DA0} / {DET} END)"
B1C = f"(CASE WHEN {DET} = 0 THEN NULL ELSE {_DA1} / {DET} END)"
B2C = f"(CASE WHEN {DET} = 0 THEN NULL ELSE {_DA2} / {DET} END)"

# per-row absolute percentage error in exact integer micro-units
# (yc: BIGINT cents, pred_c: double cents)
APE_MICRO = (
    "CAST(round(1000000.0 * abs(CAST(yc AS DOUBLE) - pred_c)"
    " / abs(CAST(yc AS DOUBLE))) AS BIGINT)"
)


def linear_moments(df: DataFrame, key: str, x1, x2, y, *extra: Column) -> DataFrame:
    """Exact integer moment sums per key — the only shuffle of the fit.
    ``extra`` aggregates (aliased) ride the same aggregation."""
    x1 = x1.cast("long")
    x2 = x2.cast("long")
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(y).alias("sy"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"),
        *extra,
    )


_MOMENTS = ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")


def linear_coefficients(moments: DataFrame, key: str) -> DataFrame:
    """Cramer's-rule solve of the 3×3 normal equations (cents units).
    Columns of ``moments`` beyond the key and the moment sums pass
    through after the coefficients."""
    extra = [c for c in moments.columns if c != key and c not in _MOMENTS]
    md = moments.select(
        key,
        "n",
        *[F.col(c).cast("double").alias(c + "d") for c in _MOMENTS],
        *extra,
    )
    return md.select(
        key,
        "n",
        F.expr(B0C).alias("b0c"),
        F.expr(B1C).alias("b1c"),
        F.expr(B2C).alias("b2c"),
        *extra,
    )


def fit_linear_hour_dow(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    value_col: str = "value",
    *extra: Column,
) -> DataFrame:
    """Per-key linear model  y_cents ~ b0 + b1*hour + b2*dow  (dow is
    Postgres-style 1=Sunday..7, matching the reference's calendar shim).
    ``extra`` aggregates over the same rows come out beside the
    coefficients, from the fit's one aggregation."""
    x1 = F.hour(F.col(ts_col))
    x2 = F.dayofweek(F.col(ts_col))
    y = _cents(F.col(value_col))
    return linear_coefficients(linear_moments(df, key, x1, x2, y, *extra), key)


def mape_gate(
    df: DataFrame,
    coef: DataFrame,
    key: str,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Masked MAPE of the fitted model + the reference's <8% gate.

    Coefficients are a tiny per-key frame → broadcast join back onto the
    fact table; the percentage errors are rounded to integer micro-units
    per row and summed exactly, so the result is order-independent.
    """
    scored = (
        df.join(F.broadcast(coef), key)
        .withColumn("yc", _cents(F.col(value_col)))
        .withColumn(
            "pred_c",
            F.col("b0c")
            + F.col("b1c") * F.hour(F.col(ts_col))
            + F.col("b2c") * F.dayofweek(F.col(ts_col)),
        )
    )
    masked = F.abs(F.col("yc")) >= F.lit(MAPE_MASK_CENTS)
    g = scored.groupBy(key).agg(
        F.sum(F.when(masked, F.expr(APE_MICRO))).alias("sum_micro"),
        F.coalesce(F.sum(F.when(masked, F.lit(1))), F.lit(0))
        .cast("long")
        .alias("n_scored"),
    )
    mape_pct = F.round(
        F.col("sum_micro").cast("double") / (F.lit(10000.0) * F.col("n_scored")), 6
    )
    return g.select(
        key,
        F.when(F.col("n_scored") > 0, mape_pct).alias("mape_pct"),
        "n_scored",
        F.when(F.col("n_scored") > 0, mape_pct < F.lit(MAPE_GATE_PCT)).alias(
            "gate_pass"
        ),
    )
