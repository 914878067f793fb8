"""Naive reference for the window-evaluated group constraints: one
standalone window per constraint (one exchange and one sort each), the
straightforward reading of each semantic. Tests compare the engine's
fused window pass (violations.window_violations) against these."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocsf_validator_spark.spec import (
    Alternation,
    Monotonic,
    OpeningRole,
    Precedence,
    TurnOrdering,
)
from ocsf_validator_spark.violations import DEFAULT_KEYS


def ordering_violations(
    df: DataFrame, c: TurnOrdering, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Dense turn numbering per conversation (north-star O3): within
    Window.partitionBy(conv_id).orderBy(turn_idx), turn_idx must start
    at 0 and increase by exactly 1. Duplicates and gaps both emit at the
    offending row."""
    part, idx = c.partition_by, c.order_by
    w = Window.partitionBy(part).orderBy(F.col(idx).asc())
    prev = F.lag(F.col(idx)).over(w)
    expected = F.coalesce(prev + F.lit(1), F.lit(0))
    staged = df.select(*keys, F.col(idx).alias("_idx"), prev.alias("_prev"), expected.alias("_exp"))
    is_dup = F.col("_prev").isNotNull() & (F.col("_idx") == F.col("_prev"))
    is_gap = F.col("_idx") > F.col("_exp")
    return (
        staged.filter(is_dup | is_gap)
        .select(
            F.lit(c.constraint_id).alias("constraint_id"),
            *keys,
            F.when(
                F.col("_idx") == F.col("_prev"),
                F.concat(
                    F.lit(f"duplicate {idx} "), F.col("_idx").cast("string")
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(f"{idx} gap: expected "),
                    F.col("_exp").cast("string"),
                    F.lit(" got "),
                    F.col("_idx").cast("string"),
                )
            )
            .alias("reason"),
            F.lit(c.severity.name).alias("severity"),
        )
    )


def monotonic_violations(
    df: DataFrame, c: Monotonic, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Per-conversation monotonicity of ``column`` under stable turn
    ordering (Window.partitionBy(conv_id).orderBy(turn_idx))."""
    w = Window.partitionBy(c.partition_by).orderBy(F.col(c.order_by).asc())
    prev = F.lag(F.col(c.column)).over(w)
    staged = df.select(*keys, F.col(c.column).alias("_cur"), prev.alias("_prev"))
    bad = (
        (F.col("_cur") < F.col("_prev"))
        if not c.strict
        else (F.col("_cur") <= F.col("_prev"))
    )
    return (
        staged.filter(F.col("_prev").isNotNull() & bad)
        .select(
            F.lit(c.constraint_id).alias("constraint_id"),
            *keys,
            F.concat(
                F.lit(f"{c.column} not monotonic: "),
                F.col("_cur").cast("string"),
                F.lit(" after "),
                F.col("_prev").cast("string"),
            ).alias("reason"),
            F.lit(c.severity.name).alias("severity"),
        )
    )


def precedence_violations(
    df: DataFrame, c: Precedence, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Standalone Precedence leg (unfused fallback): running prereq
    count over the conversation window's strictly-preceding frame, one
    exchange on partition_by. Reason string identical to the fused and
    skew paths (parity-pinned)."""
    w = (
        Window.partitionBy(c.partition_by)
        .orderBy(F.col(c.order_by).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.sum(
        F.when(F.col(c.column).isin(*c.prereq), F.lit(1)).otherwise(F.lit(0))
    ).over(w)
    staged = df.select(
        *keys, F.col(c.column).alias("_cur"), prior.alias("_prior")
    )
    return (
        staged.filter(
            (F.col("_cur") == F.lit(c.trigger))
            & (F.coalesce(F.col("_prior"), F.lit(0)) == 0)
        )
        .select(
            F.lit(c.constraint_id).alias("constraint_id"),
            *keys,
            F.lit(
                f"{c.column} '{c.trigger}' with no prior "
                f"{'|'.join(c.prereq)}"
            ).alias("reason"),
            F.lit(c.severity.name).alias("severity"),
        )
    )


def opening_violations(
    df: DataFrame, c: OpeningRole, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Standalone OpeningRole leg (unfused fallback): the first row of
    each conversation under stable turn ordering must carry an allowed
    value; NULL openers violate."""
    w = Window.partitionBy(c.partition_by).orderBy(F.col(c.order_by).asc())
    staged = df.select(
        *keys,
        F.col(c.column).alias("_cur"),
        F.row_number().over(w).alias("_rn1"),
    )
    return (
        staged.filter(
            (F.col("_rn1") == 1)
            & (F.col("_cur").isNull() | ~F.col("_cur").isin(*c.allowed))
        )
        .select(
            F.lit(c.constraint_id).alias("constraint_id"),
            *keys,
            F.concat(
                F.lit("conversation opens with "),
                F.coalesce(F.col("_cur").cast("string"), F.lit("NULL")),
            ).alias("reason"),
            F.lit(c.severity.name).alias("severity"),
        )
    )


def alternation_violations(
    df: DataFrame, c: Alternation, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Standalone Alternation leg (unfused fallback): lag over the
    conversation window, flag rows equal to their predecessor (scoped
    to ``c.scope`` when set). Reason string identical to the fused
    path (parity-pinned)."""
    w = Window.partitionBy(c.partition_by).orderBy(F.col(c.order_by).asc())
    staged = df.select(
        *keys,
        F.col(c.column).alias("_cur"),
        F.lag(F.col(c.column)).over(w).alias("_prev"),
    )
    bad = F.col("_prev").isNotNull() & (F.col("_cur") == F.col("_prev"))
    if c.scope:
        bad = bad & F.col("_cur").isin(*c.scope)
    return staged.filter(bad).select(
        F.lit(c.constraint_id).alias("constraint_id"),
        *keys,
        F.concat(
            F.lit(f"consecutive {c.column} '"),
            F.col("_cur").cast("string"),
            F.lit("'"),
        ).alias("reason"),
        F.lit(c.severity.name).alias("severity"),
    )
