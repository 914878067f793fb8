"""Equivalence of the skew-resilient ordered-check path (ordered.py,
range partitions carried like increments) with the window
formulation (violations.fused_group_violations) — row-for-row."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocsf_validator_spark.ordered import scalable_group_violations
from ocsf_validator_spark.spec import transcript_suite
from ocsf_validator_spark.synth import synth_transcripts
from ocsf_validator_spark.violations import _fusable, fused_group_violations

KEYS = ("conv_id", "turn_idx")


def _with_defects(spark, n=20_000):
    """Synth data + duplicate keys (triplicates!) + gaps so every group
    constraint fires, including multi-occurrence dup groups."""
    df = synth_transcripts(spark, n_turns=n, seed=42)
    dups = df.filter(F.xxhash64("conv_id", "turn_idx") % 53 == 0)
    d2 = dups.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES"))
    d3 = dups.withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES"))
    gaps = df.filter(F.xxhash64("conv_id", "turn_idx") % 47 == 0)
    return (
        df.join(gaps.select(*KEYS), list(KEYS), "left_anti")
        .unionByName(d2)
        .unionByName(d3)
    )


def _diff(a, b):
    return a.exceptAll(b).count() + b.exceptAll(a).count()


@pytest.mark.parametrize("partitions", [4, 97])
def test_scalable_matches_window(spark, partitions):
    df = _with_defects(spark)
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=partitions)
    assert want.count() > 100
    assert _diff(got, want) == 0


def test_scalable_straddling_groups(spark):
    """A single giant duplicate group + one giant conversation forced
    across MANY partitions: occurrence numbers and first-seen must carry
    over every boundary."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        base = synth_transcripts(spark, n_turns=4000, seed=11)
        # 500 copies of ONE key, distinct ts values for deterministic ranks
        giant = (
            spark.range(500)
            .select(
                F.lit("c_giant").alias("conv_id"),
                F.lit(0).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                F.lit("dup text").alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1767225600) + F.col("id")).alias("ts"),
            )
        )
        df = base.unionByName(giant)
        suite = transcript_suite()
        cs, ties = _fusable(suite, df, KEYS)
        want = fused_group_violations(df, cs, ties, KEYS)
        got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=64)
        assert _diff(got, want) == 0
        # the giant group must yield occurrences 2..500 exactly once each
        uniq = got.filter(
            (F.col("constraint_id") == "unique.conv_turn")
            & (F.col("conv_id") == "c_giant")
        )
        assert uniq.count() == 499
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_scalable_null_ties(spark):
    """Rows with NULL tie columns (concat_ws skips nulls) still match."""
    df = _with_defects(spark, n=5000).withColumn(
        "role",
        F.when(F.xxhash64("conv_id", "turn_idx", "ts") % 7 == 0, None).otherwise(
            F.col("role")
        ),
    )
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=13)
    assert _diff(got, want) == 0


def test_scalable_null_ts_in_dup_group(spark):
    """NULL ts inside duplicate groups: concat_ws skips the NULL tie
    value in the first-seen string on both paths, including a carried
    one — exactly the dirty data NotNull(ts) exists to flag."""
    df = _with_defects(spark, n=5000).withColumn(
        "ts",
        F.when(F.xxhash64("conv_id", "turn_idx", "text") % 5 == 0, None).otherwise(
            F.col("ts")
        ),
    )
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=7)
    assert _diff(got, want) == 0


def test_scalable_null_tie_straddles_boundary(spark):
    """A giant duplicate group whose LAST tie column is NULL on many rows,
    forced across many partitions: the range partitioner must use the
    same nulls-last tie ordering as the sort, or occurrence ranks and
    first-seen peers diverge from the window formulation."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        base = synth_transcripts(spark, n_turns=2000, seed=13)
        giant = (
            spark.range(400)
            .select(
                F.lit("c_nulltie").alias("conv_id"),
                F.lit(0).cast("int").alias("turn_idx"),
                F.lit("user").alias("role"),
                # half the copies have NULL text (the tie column)
                F.when(F.col("id") % 2 == 0, F.lit("t")).alias("text"),
                F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1767225600) + F.col("id")).alias("ts"),
            )
        )
        df = base.unionByName(giant)
        suite = transcript_suite()
        cs, ties = _fusable(suite, df, KEYS)
        want = fused_group_violations(df, cs, ties, KEYS)
        got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=32)
        assert _diff(got, want) == 0
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_scalable_date_columns(spark):
    """DATE-typed tie + monotonic columns: the first-seen string and the
    carried monotonic value of a boundary-crossing date must match the
    window formulation."""
    from ocsf_validator_spark.spec import Monotonic, TurnOrdering, Unique

    df = (
        synth_transcripts(spark, n_turns=3000, seed=17)
        .withColumn("d", F.to_date(F.col("ts") + F.expr("INTERVAL 1 DAY") * F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(400))))
        .drop("ts")
    )
    # duplicates so the Unique leg exercises date tie strings
    dups = df.filter(F.xxhash64("conv_id", "turn_idx") % 31 == 0)
    df = df.unionByName(
        dups.withColumn("d", F.date_add(F.col("d"), 1))
    )
    cs = [
        Unique(column="conv_turn", keys=KEYS, first_seen_order=("d", "role")),
        TurnOrdering(column="turn_idx"),
        Monotonic(column="d"),
    ]
    ties = ["d", "role"]
    want = fused_group_violations(df, cs, ties, KEYS)
    got = scalable_group_violations(df, cs, ties, KEYS, num_partitions=29)
    assert want.filter(F.col("constraint_id") == "monotonic.d").count() > 0
    assert _diff(got, want) == 0


def test_scalable_row_legs_ride_staged(spark):
    """row_cs: the row-level family evaluated over the staged sort must
    equal the plain row_violations projection over the same input."""
    from ocsf_validator_spark.violations import row_violations

    df = _with_defects(spark, n=8000)
    suite = transcript_suite()
    cs, ties = _fusable(suite, df, KEYS)
    row_cs = suite.row_level()
    want = fused_group_violations(df, cs, ties, KEYS).unionByName(
        row_violations(df, suite, KEYS)
    )
    got = scalable_group_violations(
        df, cs, ties, KEYS, num_partitions=11, row_cs=row_cs
    )
    assert want.count() > got.filter(F.col("constraint_id").startswith("unique")).count()
    assert _diff(got, want) == 0


def test_all_violations_skew_routed_equivalence(spark):
    """Routing the skewed conversations to the ordered leg (run in a
    worker thread while the rest checkpoints) must return exactly the
    unrouted result on the same data — same rows."""
    from ocsf_validator_spark.violations import all_violations

    df = synth_transcripts(spark, n_turns=6000, seed=7)
    suite = transcript_suite()
    skewed = [
        r.conv_id
        for r in df.groupBy("conv_id").count().filter(F.col("count") > 200).collect()
    ]
    assert skewed, "fixture must contain a skewed conversation"
    routed = all_violations(df, suite, skewed_convs=skewed)
    plain = all_violations(df, suite)
    assert _diff(routed, plain) == 0
