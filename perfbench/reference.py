"""Independent DuckDB references the benchmark checks engine output
against.

- ``transcript_counts``: per-constraint violation counts of the default
  ``transcript_suite()`` over a parquet table of synthetic transcripts.
- ``oracle_results``: for each declared query, the row count and
  order-insensitive value hash of its DuckDB oracle at sf0.01, as
  committed in ``CORRECTNESS_full_r06.json``; ``result_hash`` computes
  the same hash of an engine result with the repository's own oracle
  gate (``tools/check_oracle.py``, imported, never modified).
"""

from __future__ import annotations

import importlib.util
import json
import os

import duckdb

from ocsf_validator_spark.spec import transcript_suite
from ocsf_validator_spark.synth import DEPRECATED_ROLE, ROLES, TOOLS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


check_oracle = _check_oracle()


def result_hash(pdf) -> str:
    """check_oracle's canonical value hash of a pandas result."""
    return check_oracle.value_hash(check_oracle.norm(pdf))


def _in(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


# transcript_suite()'s legs as per-row conditions over one window that
# orders a conversation by turn_idx, then by the suite's first-seen tie
# columns, as the engine does (a conversation's first turn must be 0).
# The synthetic generator never leaves a key NULL, so the FATAL
# required.* legs and the schema audit must count zero.
_ROW_LEGS = {
    "required.conv_id": "conv_id IS NULL",
    "required.turn_idx": "turn_idx IS NULL",
    "required.role": "role IS NULL",
    "required.text": "text IS NULL",
    "required.ts": "ts IS NULL",
    "required.tool_when_tool_role": "role = 'tool' AND tool IS NULL",
    "ref.role": f"role IS NOT NULL AND role NOT IN ({_in(ROLES + (DEPRECATED_ROLE,))})",
    "ref.tool": f"tool IS NOT NULL AND tool NOT IN ({_in(TOOLS)})",
    "deprecated.role": f"role = '{DEPRECATED_ROLE}'",
    "max_len.text": "length(text) > 65536",
    "range.turn_idx": "turn_idx < 0",
    "unique.conv_turn": "occ > 1",
    "order.turn_idx": "turn_idx <> COALESCE(p_idx + 1, 0)",
    "monotonic.ts": "ts < p_ts",
}
# dataset-level findings are whole-table facts: an increment's coverage
# finding does not add up to the union's, so the incremental contract
# compares the row and window legs only
_DATASET_LEGS = {
    "coverage.role": f"{len(ROLES)} - COUNT(DISTINCT role) FILTER (WHERE role IN ({_in(ROLES)}))",
    "coverage.tool": f"{len(TOOLS)} - COUNT(DISTINCT tool) FILTER (WHERE tool IN ({_in(TOOLS)}))",
}
DATASET_LEVEL = (*_DATASET_LEGS, "schema.columns")

# one row per file and one for the union: a row's window legs see every
# earlier row of its conversation in any file, and are charged to the
# file that holds the row
_LEGS = f"""
WITH w AS (
  SELECT *,
         LAG(turn_idx) OVER win AS p_idx,
         LAG(ts) OVER win AS p_ts,
         ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                            ORDER BY ts NULLS LAST, role NULLS LAST, text NULLS LAST) AS occ
  FROM read_parquet(?, filename = true)
  WINDOW win AS (PARTITION BY conv_id
                 ORDER BY turn_idx, ts NULLS LAST, role NULLS LAST, text NULLS LAST))
SELECT filename,
  {", ".join(f'COUNT(*) FILTER (WHERE {cond})' for cond in _ROW_LEGS.values())},
  {", ".join(_DATASET_LEGS.values())}
FROM w GROUP BY GROUPING SETS ((filename), ())
"""


def transcript_counts(files: list[str]) -> tuple[dict[str, int], dict[str, dict[str, int]]]:
    """Expected {constraint_id: violation count} over the union of the
    given parquet files (or globs), and the same per file: row and
    window legs of the file's rows, dataset-level legs of the file
    alone."""
    with duckdb.connect() as con:
        rows = con.execute(_LEGS, [files]).fetchall()
    ids = [*_ROW_LEGS, *_DATASET_LEGS, "schema.columns"]
    counts = {f: dict(zip(ids, map(int, (*n, 0)))) for f, *n in rows}
    return counts.pop(None), counts


def expected_exit_code(counts: dict[str, int]) -> int:
    """The runner's exit contract for these counts: 2 if a FATAL
    constraint fired, 1 if an ERROR one did, else 0."""
    sev = {c.constraint_id: c.severity.name for c in transcript_suite().constraints}
    fired = {sev[c] for c, n in counts.items() if n > 0}
    return 2 if "FATAL" in fired else 1 if "ERROR" in fired else 0


CORRECTNESS = os.path.join(ROOT, "CORRECTNESS_full_r06.json")


def oracle_results(names: list[str], sf: str = "sf0.01") -> dict[str, dict]:
    """{query: {"rows": n, "hash": h}} of the committed oracle results."""
    with open(CORRECTNESS) as f:
        results = json.load(f)[sf]["results"]
    return {q: {"rows": results[q]["rows"], "hash": results[q]["hash"]} for q in names}
