"""Property-based equivalence (hypothesis) of the skew path
(ordered.scalable_group_violations: range partitions carried like
increments) with the per-conversation window pass
(violations.fused_group_violations) — row for row.

Each example draws a small transcript whose shapes stress the segment
carry: duplicate groups with NULL tie values, one key repeated more
than a partition's share of rows (so its group straddles several range
partitions), turn gaps, NULL and regressing ``ts``, and a DATE-typed
monotonic column, checked at a drawn partition count. Examples are
few and small — each one is a handful of Spark jobs.
"""

from __future__ import annotations

import datetime as dt

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ocsf_validator_spark.ordered import scalable_group_violations
from ocsf_validator_spark.spec import (
    Alternation,
    Monotonic,
    OpeningRole,
    Precedence,
    TurnOrdering,
    Unique,
)
from ocsf_validator_spark.violations import fused_group_violations

KEYS = ("conv_id", "turn_idx")
# d is a tie as well as a monotonic column, so rows that tie on every
# tie column are indistinguishable to every leg and the window order
# among them cannot change the output
TIES = ["ts", "role", "d"]
CS = [
    Unique(column="conv_turn", keys=KEYS, first_seen_order=tuple(TIES)),
    TurnOrdering(column="turn_idx"),
    Monotonic(column="ts"),
    Monotonic(column="d", strict=True),
    Precedence(column="role", trigger="tool", prereq=("assistant",)),
    OpeningRole(column="role", allowed=("user",)),
    Alternation(column="role", scope=("user", "assistant")),
]
SCHEMA = "conv_id string, turn_idx int, role string, ts timestamp, d date"
T0 = dt.datetime(2026, 1, 1)
D0 = dt.date(2026, 1, 1)

_row = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.integers(min_value=0, max_value=12),  # small range: dups and gaps
    st.sampled_from(["user", "assistant", "tool", None]),
    st.one_of(st.none(), st.integers(min_value=0, max_value=30)),  # ts min
    st.one_of(st.none(), st.integers(min_value=0, max_value=20)),  # d day
)


def _materialize(r):
    conv, turn, role, ts, d = r
    return (
        conv,
        turn,
        role,
        None if ts is None else T0 + dt.timedelta(minutes=ts),
        None if d is None else D0 + dt.timedelta(days=d),
    )


@given(
    rows=st.lists(_row, min_size=1, max_size=60),
    hot=_row,
    hot_reps=st.integers(min_value=2, max_value=40),
    parts=st.integers(min_value=2, max_value=64),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_skew_path_equals_fused(spark, rows, hot, hot_reps, parts):
    # the hot key outnumbers a partition's share: reps > total / parts
    reps = max(hot_reps, len(rows) // (parts - 1) + 1)
    conv, turn, _, _, _ = hot
    # the hot group's copies vary only in their tie values (some NULL)
    hot_rows = [
        (conv, turn, ("user", None, "assistant")[i % 3], i % 5 or None, i % 4 or None)
        for i in range(reps)
    ]
    data = [_materialize(r) for r in rows + hot_rows]
    df = spark.createDataFrame(data, SCHEMA)
    want = fused_group_violations(df, CS, TIES, KEYS)
    got = scalable_group_violations(df, CS, TIES, KEYS, num_partitions=parts)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
