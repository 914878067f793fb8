"""Property-based checks (hypothesis) of the group plan on a suite whose
group constraints live on several windows: the full conversation
window, a Monotonic ordered by ``ts`` joined by a Unique over
(conv_id, ts), a Unique over (conv_id, text) that no window pass takes,
and a constraint on a missing column.

1. ``all_violations`` equals the naive per-constraint references
   (tests/window_reference.py) plus ``unique_violations`` and
   ``dataset_findings``.
2. For the conversation-window constraints, two in-order increments
   carried through ``convstate`` equal one full run.

Every window has a total order on the drawn inputs: turn indices are
distinct within a conversation apart from exact row copies, and ``ts``
is distinct within a conversation apart from the same copies (identical
rows are interchangeable to every leg). Each example packs ten drawn
cases, under disjoint conversation ids, into one table, so an example
costs one set of Spark jobs.
"""

from __future__ import annotations

import datetime as dt

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ocsf_validator_spark import convstate
from ocsf_validator_spark.spec import (
    Alternation,
    ConstraintSet,
    Monotonic,
    OpeningRole,
    Precedence,
    TurnOrdering,
    Unique,
)
from ocsf_validator_spark.violations import (
    all_violations,
    dataset_findings,
    unique_violations,
)
from window_reference import (
    alternation_violations,
    monotonic_violations,
    opening_violations,
    ordering_violations,
    precedence_violations,
)

KEYS = ("conv_id", "turn_idx")
TIES = ["ts"]
UNIQUE_TURN = Unique(column="conv_turn", keys=KEYS, first_seen_order=tuple(TIES))
ORDER = TurnOrdering(column="turn_idx")
MONO_TS = Monotonic(column="ts")
PREC = Precedence(column="role", trigger="tool", prereq=("assistant",))
OPEN = OpeningRole(column="role", allowed=("user",))
ALT = Alternation(column="role", scope=("user", "assistant"))
CONV_CS = [UNIQUE_TURN, ORDER, MONO_TS, PREC, OPEN, ALT]
MONO_BY_TS = Monotonic(column="turn_idx", order_by="ts", id_override="monotonic.turn_by_ts")
UNIQUE_TS = Unique(column="conv_ts", keys=("conv_id", "ts"), first_seen_order=("role",))
UNIQUE_TEXT = Unique(column="conv_text", keys=("conv_id", "text"), first_seen_order=("ts",))
MISSING = Monotonic(column="score")
SUITE = ConstraintSet(
    name="windows", constraints=[*CONV_CS, MONO_BY_TS, UNIQUE_TS, UNIQUE_TEXT, MISSING]
)
SCHEMA = "conv_id string, turn_idx int, role string, text string, ts timestamp"
T0 = dt.datetime(2026, 1, 1)

_turn = st.tuples(
    st.integers(min_value=1, max_value=2),  # step to the next turn: gaps
    st.sampled_from(["user", "assistant", "tool", None]),
    st.sampled_from(["x", "y", None]),  # few texts: (conv_id, text) dups
    st.integers(min_value=0, max_value=9),  # ts bucket: regressions
    st.booleans(),  # append an exact copy: (conv_id, turn_idx) dups
)
_case = st.lists(st.lists(_turn, min_size=1, max_size=8), min_size=1, max_size=3)


def _rows(cases):
    out = []
    for i, convs in enumerate(cases):
        for j, turns in enumerate(convs):
            turn = -1
            for k, (step, role, text, bucket, copy) in enumerate(turns):
                turn += step
                # distinct within the conversation: bucket, then position
                ts = T0 + dt.timedelta(minutes=bucket * 100 + k)
                row = (f"k{i}c{j}", turn, role, text, ts)
                out += [row, row] if copy else [row]
    return out


def _naive(df):
    legs = [
        ordering_violations(df, ORDER),
        monotonic_violations(df, MONO_TS),
        precedence_violations(df, PREC),
        opening_violations(df, OPEN),
        alternation_violations(df, ALT),
        monotonic_violations(df, MONO_BY_TS),
        unique_violations(df, UNIQUE_TURN),
        unique_violations(df, UNIQUE_TS),
        unique_violations(df, UNIQUE_TEXT),
        dataset_findings(df, SUITE),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _sorted(df):
    return sorted(map(tuple, df.collect()), key=repr)


@given(
    cases=st.lists(_case, min_size=10, max_size=10),
    cut=st.integers(min_value=0, max_value=12),
)
@settings(
    max_examples=2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_group_plan_equals_naive_and_carries(spark, cases, cut):
    df = spark.createDataFrame(_rows(cases), SCHEMA)
    full = all_violations(df, SUITE)
    assert _sorted(full) == _sorted(_naive(df))

    inc1 = df.filter(F.col("turn_idx") < cut)
    inc2 = df.filter(F.col("turn_idx") >= cut)
    state = convstate.boundary_state(inc1, CONV_CS, TIES, KEYS)
    ids = [c.constraint_id for c in CONV_CS]
    split = all_violations(inc1, SUITE).unionByName(
        all_violations(inc2, SUITE, carry=state)
    )
    conv_only = F.col("constraint_id").isin(*ids) & F.col("conv_id").isNotNull()
    assert _sorted(split.filter(conv_only)) == _sorted(full.filter(conv_only))
