"""Parameterized ordered-funnel stage times.

``funnel_stage_times`` computes, per user, the first time each stage
of an ARBITRARY stage list was reached, where stage k counts only
at-or-after the user's stage k-1 time (ties qualify, matching `>=`).
The registered ``event_funnel`` query uses the canonical
view→click→signup→purchase list; pipelines define their own.

Plan: all stage times are stacked window minimums over ONE
user-partitioned Exchange (each stage's conditional min references the
previous stage's column; the partitioning is reused). The per-user
rollup that usually follows shares the same partitioning, so the whole
funnel costs a single shuffle of (user, type, ts) plus the final
single-row aggregate."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_stage_times(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """One row per user with a ``t_<stage>`` column per stage (null =
    stage not reached in order). Users with ANY event appear, even if
    none of their events are funnel stages."""
    if not stages:
        raise ValueError("stages must be non-empty")
    if len(set(stages)) != len(stages):
        raise ValueError(f"duplicate stage in {stages}")
    w = Window.partitionBy(user_col)
    out = df.select(user_col, type_col, ts_col)
    prev_col: str | None = None
    for stage in stages:
        col = f"t_{stage}"
        cond = F.col(type_col) == stage
        if prev_col is not None:
            cond = cond & (F.col(ts_col) >= F.col(prev_col))
        out = out.withColumn(col, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_col = col
    time_cols = [f"t_{s}" for s in stages]
    return out.groupBy(user_col).agg(
        *[F.max(c).alias(c) for c in time_cols]
    )


def funnel_counts(stage_times: DataFrame, stages: list[str]) -> DataFrame:
    """Roll stage times up to the funnel summary (same columns as the
    registered event_funnel query for the canonical stage list)."""
    flag = lambda c: F.sum(F.when(F.col(c).isNotNull(), 1).otherwise(0)).cast("long")  # noqa: E731
    last = f"t_{stages[-1]}"
    return stage_times.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        *[flag(f"t_{s}").alias(f"n_{s}") for s in stages],
        F.round(
            F.sum(F.when(F.col(last).isNotNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("full_conversion"),
    )
