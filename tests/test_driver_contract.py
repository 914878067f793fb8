"""Driver-contract consistency: every queries() entry must build a
plan against real testdata (catches broken imports / bad column
references WITHOUT executing the heavy queries), carry an oracle_sql
entry, and entry() must return the flagship frame. Value parity itself
is check_oracle / the driver's CORRECTNESS gate; this file pins the
contract SHAPE so a refactor can't silently drop a query or leave a
dangling oracle key.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as e

SF = "/root/testdata/sf0.001"


def test_every_query_has_an_oracle_and_vice_versa():
    qs, sqls = e.queries(), e.oracle_sql()
    assert set(qs) == set(sqls), (
        sorted(set(qs) - set(sqls)),
        sorted(set(sqls) - set(qs)),
    )


def test_every_query_builds_a_plan(spark):
    """Analysis (schema resolution) must succeed for every entry —
    explain-level only, no execution."""
    for name, fn in e.queries().items():
        df = fn(spark, SF)
        assert df.schema.fields, name
        # column names must be driver-comparable: non-empty, no dots
        for f in df.schema.fields:
            assert f.name and "." not in f.name, (name, f.name)


def test_entry_runs(spark):
    out = e.entry(spark)
    assert out.count() >= 0
    assert [f.name for f in out.schema.fields][:2] == [
        "constraint_id",
        "conv_id",
    ]


def _assert_fused_stats_match_naive_scans(spark, cov):
    from pyspark.sql import functions as F

    from ocsf_validator_spark.stats import md5_bucket_col

    t = e._transcripts(spark, SF)
    obs_buckets, obs_enums = e._vd_observed_stats(t, cov)

    pred = "CAST(conv_id AS BIGINT) % 2 = 0"
    for half, frame in ((True, t.filter(pred)), (False, t)):
        naive_buckets = sorted(
            int(r[0])
            for r in frame.select(md5_bucket_col("conv_id", 8).alias("b"))
            .distinct()
            .collect()
        )
        assert obs_buckets[half] == naive_buckets, half
        for c in cov:
            naive_obs = {
                x
                for r in frame.agg(
                    F.collect_set(
                        F.when(F.col(c.column).isin(*c.values), F.col(c.column))
                    ).alias("o")
                ).collect()
                for x in (r["o"] or [])
            }
            assert obs_enums[half][c.column] == naive_obs, (half, c.column)
    return obs_enums


def test_verdict_diff_fused_stats_match_naive_scans(spark):
    """verdict_diff's single fused stats scan must reproduce EXACTLY
    what the two runs' separate probe scans used to compute: the
    observed-bucket list and the enum-coverage observation set, per
    half (even-conversation run vs full run). Pinned against the naive
    per-half formulations so the fusion can never drift from the
    per-run semantics it replaced."""
    suite = e._events_suite()
    cov = [c for c in suite.constraints if type(c).__name__ == "EnumCoverage"]
    assert cov, "events suite is expected to declare EnumCoverage(role)"
    _assert_fused_stats_match_naive_scans(spark, cov)


def test_verdict_diff_fused_stats_key_every_coverage_column(spark):
    """Two EnumCoverage constraints on different columns: each column's
    observed set is keyed under its own name, not folded into `role`."""
    from ocsf_validator_spark.spec import EnumCoverage

    cov = [
        EnumCoverage(column="role", values=("click", "view", "refund")),
        EnumCoverage(column="text", values=('{"k": 26}', "never-seen")),
    ]
    obs = _assert_fused_stats_match_naive_scans(spark, cov)
    assert obs[False] == {"role": {"click", "view"}, "text": {'{"k": 26}'}}
