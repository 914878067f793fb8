"""Skew-resilient conversation-ordered checks (the 10^12-turn path).

The fused window pass in violations.py partitions by conv_id, so one
conversation = one task. A pathological conversation (synth's 5%-skew
conv; at the design point, a conversation with 10^8 turns) serializes
that task. This module evaluates the SAME group constraints with the
SAME window pass, but over range partitions instead of conversations:
each range partition plays the role of one increment of the
incremental carry (convstate.py), so there is one definition of every
conversation-window semantic.

1. Stage: the fused pass's narrow map-side projection (keys, bounded
   ties, lag/sequence columns, the row family's ``_rv`` array) is
   persisted, then ``repartitionByRange(P, conv_id, turn_idx, *ties
   nulls-last)`` + the matching sort. The range partitioner balances
   rows by sampled key density, so a giant conversation spans many
   partitions and every task gets ~equal rows regardless of skew. The
   staged sort is persisted too: the range bounds come from a sample
   drawn at execution time, and both reads below must see the SAME
   bounds. ``_seg = spark_partition_id()`` names each partition.
2. Summary: ``convstate.boundary_state`` per (conv_id, _seg) — the
   segment's last row, its tail key's count and first-seen peer, and
   its Precedence "prereq seen" bits. One row per segment touched by a
   conversation.
3. Carry: JVM window aggregates over that small table, partitioned by
   conv_id and ordered by _seg, fold the summaries exactly as
   ``convstate.merge_state`` folds increments: the predecessor
   segment's last idx / lag values, the tail counts summed over the
   earlier segments that end on the same key (a group spanning k
   segments makes segments 2..k-1 single-key), the earliest of those
   segments' first-seen string, and the OR of the seen bits.
4. Check: ``convstate.attach_carriers`` injects one carrier row per
   continued segment into the fused window pass, whose windows are
   partitioned by (conv_id, _seg). No real row falls below its
   segment's carried bound, so the carry's out-of-order leg never
   fires here.

Why the tie columns stay in the range key: rows that tie on
(conv_id, turn_idx) — a duplicate group — can straddle a segment
boundary. The carry hands each segment the predecessor's LAST row in
(turn_idx, ties) order; without ties in the range key the rows of a
straddling group would split across segments in arbitrary tie order,
and occurrence ranks, the first-seen peer and the lag values would no
longer match the full-run window.

Cost model vs the per-conversation window path: one range shuffle +
sort of the narrow projection into the stage, then two hash exchanges
of the stage by (conv_id, _seg) — the summary and the check pass —
plus one tiny exchange by conv_id for the carry fold over one summary
row per segment. All of it is JVM work: no Python worker, no driver
collect, no broadcast. The price over the plain fused pass is the
sampling job, the extra reads of the persisted stage and ~75 more
generated classes (see session.py's codegen cache size); use when
max-conversation >> rows-per-task. Equivalence to the window path is
asserted row-for-row in tests/test_ordered.py and
tests/test_property_skew_path.py, including groups that straddle
partitions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ocsf_validator_spark.convstate import (
    CARRY_COUNT,
    CARRY_FIRST,
    CARRY_PREV_IDX,
    boundary_state,
)
from ocsf_validator_spark.violations import window_projection, window_violations

SEG = "_seg"


def _segment_carry(summary: DataFrame, part: str) -> DataFrame:
    """Fold per-(conv, segment) boundary summaries into per-segment
    carry-in (the convstate state schema plus ``_seg``): what folding
    ``convstate.merge_state`` over the conversation's earlier segments
    in order would give. Segments that open their conversation get no
    row. The by-conversation window runs first, so its one exchange
    also serves the (conv, key) window above it."""
    by_seg = Window.partitionBy(part).orderBy(SEG)
    # earlier segments ending on the same key form a contiguous run
    # (the range order is non-decreasing in idx); NULL keys group too
    same_end = Window.partitionBy(part, CARRY_PREV_IDX).orderBy(SEG)
    data = [c for c in summary.columns if c not in (part, SEG)]
    run_of = {CARRY_COUNT: "_run_n", CARRY_FIRST: "_run_first"}
    lagged = summary.select(
        *summary.columns,
        F.lag(SEG).over(by_seg).alias("_pred"),
        *[
            (
                F.max(c).over(by_seg.rowsBetween(Window.unboundedPreceding, -1))
                if c.startswith("_c_seen_")
                else F.lag(c).over(by_seg)
            ).alias(f"_in{c}")
            for c in data
            if c not in run_of
        ],
    )
    runs = lagged.select(
        *lagged.columns,
        F.sum(CARRY_COUNT)
        .over(same_end.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_run_n"),
        F.first(CARRY_FIRST).over(same_end).alias("_run_first"),
    )
    carry = runs.select(
        part,
        SEG,
        "_pred",
        *[
            (
                F.lag(run_of[c]).over(by_seg) if c in run_of else F.col(f"_in{c}")
            ).alias(c)
            for c in data
        ],
    )
    return carry.filter(F.col("_pred").isNotNull()).drop("_pred")


def scalable_group_violations(
    df: DataFrame,
    cs: list,
    ties: list[str],
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    num_partitions: int | None = None,
    row_cs: Sequence = (),
) -> DataFrame:
    """Drop-in replacement for violations.fused_group_violations that
    survives arbitrarily skewed conversations (see the module
    docstring). ``row_cs``: row-level constraints whose violation
    structs ride the staged projection (``_rv``), so the skewed subset
    is read from the source once.

    The result is materialized eagerly (localCheckpoint) and the stage
    released, so repeated calls in a long-lived session do not
    accumulate storage."""
    part, idx = keys[0], keys[1]
    P = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    # Persist the projection BEFORE repartitionByRange: the range
    # partitioner runs a sampling job over its child, which would
    # otherwise re-scan the source (for the runner's skew route that is
    # a second full read of the input just to draw ~P*20 sample rows).
    pre = window_projection(df, cs, ties, keys, row_cs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # ties nulls-last in BOTH the range key and the sort, matching the
    # window order, so a straddling duplicate group splits in traversal
    # order
    order = [F.col(part), F.col(idx), *[F.col(t).asc_nulls_last() for t in ties]]
    staged = (
        pre.repartitionByRange(P, *order)
        .sortWithinPartitions(*order)
        .withColumn(SEG, F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    carry = _segment_carry(
        boundary_state(staged, cs, ties, keys, segment=SEG), part
    )
    out = window_violations(staged, cs, ties, keys, carry, segment=SEG).select(
        "constraint_id",
        F.col(part).cast("string").alias(part),
        F.col(idx).cast("int").alias(idx),
        "reason",
        "severity",
    )
    # violations are defect-proportional (tiny vs the stage): pin them
    # eagerly, then release the stage so long-lived sessions (runner
    # loops, benchmarks) don't accumulate storage
    out = out.localCheckpoint(eager=True)
    staged.unpersist()
    pre.unpersist()
    return out
