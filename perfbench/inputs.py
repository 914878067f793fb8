"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed and
sizes give the same tables, so a workload's inputs depend only on
``--seed``. The engine receives nothing but the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocsf_validator_spark.synth import DEPRECATED_ROLE, ROLES, TOOLS

BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01 00:00:00 UTC
TURN_WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")


def transcripts(n_turns: int, seed: int, skew_turns: int,
                turns_per_conv: int, violation_rate: int = 100) -> pa.Table:
    """The shape of ``synth.synth_transcripts``, generated with numpy:
    conversation 0 holds ``skew_turns`` turns and the rest hold
    ``turns_per_conv`` each, rows in conversation order, and each of six
    defects (NULL role, unknown role, deprecated role, 300-char text,
    unknown tool, ts one hour back) on 1 row in ``8 * violation_rate``,
    as in synth. Landing it runs no Spark job, so the first validation
    is the JVM's first work."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_turns, dtype="int64")
    rest = i - skew_turns
    in_skew = i < skew_turns
    conv_no = np.where(in_skew, 0, rest // turns_per_conv + 1)
    turn_idx = np.where(in_skew, i, rest % turns_per_conv).astype("int32")
    role_pick = rng.integers(0, len(ROLES), n_turns)
    tool_pick = rng.integers(0, len(TOOLS), n_turns)
    words = rng.integers(0, len(TURN_WORDS), (3, n_turns))
    pad = rng.integers(0, 64, n_turns)
    slot = rng.integers(0, violation_rate * 8, n_turns)

    def take(values, idx):
        return pa.array(values).take(pa.array(idx))

    conv_id = pc.binary_join_element_wise(
        "c", pc.utf8_lpad(pc.cast(pa.array(conv_no), pa.string()), 8, "0"), "")
    role = take(list(ROLES) + [None, "supervisor", DEPRECATED_ROLE], np.select(
        [slot == 0, slot == 1, slot == 2], [4, 5, 6], role_pick))
    text = pc.if_else(
        pa.array(slot == 3), "y" * 300,
        pc.binary_join_element_wise(
            *(take(TURN_WORDS, w) for w in words),
            take(["x" * k for k in range(64)], pad), " "))
    tool = take(list(TOOLS) + [None, "telnet"], np.select(
        [slot == 4, role_pick == ROLES.index("tool")], [len(TOOLS) + 1, tool_pick],
        len(TOOLS)))
    ts = BASE_TS_US + i * 1_000_000 - np.where(slot == 5, 3_600_000_000, 0)
    return pa.table({
        "conv_id": conv_id,
        "turn_idx": pa.array(turn_idx),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def land_table(path: str, n_turns: int, seed: int, skew_turns: int,
               turns_per_conv: int = 20, files: int = 8) -> None:
    """One flat parquet table of ``n_turns`` synthetic turns in ``files``
    equal files (one scan task each)."""
    os.makedirs(path)
    tbl = transcripts(n_turns, seed, skew_turns, turns_per_conv)
    step = -(-n_turns // files)
    for k in range(files):
        pq.write_table(tbl.slice(k * step, step),
                       os.path.join(path, f"part-{k}.parquet"))


def land_pieces(path: str, cuts: list[int], seed: int, skew_turns: int,
                turns_per_conv: int) -> None:
    """Cut one synthetic table at the row positions ``cuts`` (first is
    0, last is the total): piece k is rows [cuts[k], cuts[k+1]), one
    parquet file under ``path/piece_kkkk``. Every inner cut must split a
    conversation, and the first row of each later piece carries a
    window defect against the row before the cut: in turn, a repeated
    turn_idx, a skipped turn_idx (the rest of the conversation shifts
    up by one) and a ts one hour back. Each is seen only by a window
    that spans the cut, so an incremental run finds it only through the
    carried conversation state."""
    tbl = transcripts(cuts[-1], seed, skew_turns, turns_per_conv)
    conv = tbl["conv_id"].to_numpy(zero_copy_only=False)
    idx = tbl["turn_idx"].to_numpy().copy()
    ts = tbl["ts"].cast(pa.int64()).to_numpy().copy()
    # the planted row gets its unshifted ts, so it sorts after the row
    # before the cut unless the defect is the ts itself
    clean_ts = BASE_TS_US + np.arange(len(ts), dtype="int64") * 1_000_000
    for k, c in enumerate(cuts[1:-1]):
        if conv[c] != conv[c - 1]:
            raise ValueError(f"cut {c} does not split a conversation")
        kind = k % 3
        if kind == 0:  # repeated turn_idx
            idx[c] = idx[c - 1]
            ts[c] = clean_ts[c]
        elif kind == 1:  # skipped turn_idx
            tail = np.arange(c, len(idx))
            tail = tail[conv[c:] == conv[c]]
            idx[tail] += 1
            ts[c] = clean_ts[c]
        else:  # ts one hour back
            ts[c] = ts[c - 1] - 3_600_000_000
    tbl = tbl.set_column(1, "turn_idx", pa.array(idx))
    tbl = tbl.set_column(5, "ts", pa.array(ts, pa.timestamp("us", tz="UTC")))
    for k, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        d = os.path.join(path, f"piece_{k:04d}")
        os.makedirs(d)
        pq.write_table(tbl.slice(lo, hi - lo), os.path.join(d, "part-0.parquet"))
