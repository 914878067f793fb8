"""Benchmark of the transcript validation engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process, one ``local[nproc]`` Spark
session from ``session.get_spark``; the engine is driven only through
``runner.run_validation``, ``runner.main([... --incremental ...])`` and
``__spark_entry__.queries()``. Inputs are generated from ``--seed`` into
``.bench_work/`` under the repository root, which is removed at exit.

The run lands its inputs, runs one cold and one untimed warm-up pass of
the workload's closed-loop client, then warm passes until ``--seconds``
have passed (at least three), and checks every output against a
reference. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md for every metric, workload and
size).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path[:0] = [ROOT, HERE]

# the engine modules the workloads drive; a checkout without them fails
# here, before any result is printed
import __spark_entry__ as entry  # noqa: E402
from ocsf_validator_spark import checkpoint, convstate, ordered, runner, sources  # noqa: E402
from ocsf_validator_spark.session import get_spark  # noqa: E402

import inputs  # noqa: E402
import reference  # noqa: E402
import trace  # noqa: E402

# Sizes are fixed per workload; the seed varies only the data. "tiny"
# exists for the smoke test.
SIZES = {
    "full": dict(
        batch_turns=200_000, batch_skew_turns=50_000, skew_min_rows=25_000,
        base_turns=20_000, inc_turns=4_000, max_increments=8,
        inc_skew_turns=1_000, inc_turns_per_conv=16,
    ),
    "tiny": dict(
        batch_turns=20_000, batch_skew_turns=6_000, skew_min_rows=4_000,
        base_turns=8_000, inc_turns=2_000, max_increments=8,
        inc_skew_turns=1_000, inc_turns_per_conv=16,
    ),
}
SETUP_REPEATS = 3
MIN_WARM = 3  # warm passes per run, however long they take
DRIVER_HEAP = "4g"  # a quarter of a 15 GB host; the largest input is ~30 MB
BATCH_SHUFFLE_PARTITIONS = "64"  # cluster-like, so the skew router can fire
# copies of the events and documents tables behind the sf0.01
# oracle hashes in CORRECTNESS_full_r06.json
MIX_DATA = os.path.join(HERE, "data", "sf0.01")

# declared queries whose plan construction fires Spark jobs
MIX = ("pmi_collocations", "psi_value_drift", "exact_quantiles_value")


# every per-layer metric a traced run prints; a layer the workload does
# not reach reads 0
PER_LAYER = (
    "session.start_s", "cold_s", "validate_wall_s", "pass_wall_s",
    "sources.load_s", "sources.files",
    "runner.audit_s", "runner.stats_s", "runner.skew_path_s", "runner.verdict_s",
    "stats.construct_s", "stats.jobs", "stats.executor_s", "stats.shuffle_mb",
    "violations.construct_s", "violations.construct_jobs", "violations.audit_s",
    "ordered.s", "ordered.jobs", "ordered.tasks",
    "verdict.construct_s", "verdict.exec_s", "verdict.jobs", "verdict.stages",
    "verdict.executor_s", "verdict.shuffle_mb", "verdict.spill_mb", "verdict.task_skew",
    "convstate.read_s", "convstate.write_s", "convstate.jobs",
    "checkpoint.read_s", "checkpoint.record_s", "checkpoint.files",
    *(f"q.{q}.{m}" for q in MIX for m in ("s", "construct_s", "construct_jobs", "jobs")),
    "spark.jobs_per_op", "spark.tasks_per_op", "jvm.gc_s", "jvm.peak_rss_mb",
    "trace.job_delta", "trace.overhead_frac",
)
# read from the private status store; left out when it is unavailable
NEEDS_STORE = frozenset((
    "stats.executor_s", "stats.shuffle_mb", "verdict.executor_s",
    "verdict.shuffle_mb", "verdict.spill_mb", "verdict.task_skew",
))


def cpu_seconds() -> float:
    """CPU time of this process and every process under it (the JVM and
    its Python workers), including descendants that have exited and been
    waited for. Read from /proc (Linux)."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            parent[int(d)] = int(fields[1])
            cpu[int(d)] = sum(int(x) for x in fields[11:15])  # u, s, cu, cs time
    me = os.getpid()

    def mine(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return sum(c for pid, c in cpu.items() if mine(pid)) / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall and CPU seconds since it was made."""

    def __init__(self):
        self.t0, self.c0 = time.perf_counter(), cpu_seconds()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.t0, cpu_seconds() - self.c0


class OutOfInput(Exception):
    """The workload has no more pre-generated input to feed."""


# --- workloads ---------------------------------------------------------------
# A workload's op(label) runs one pass of its closed-loop client and
# returns ((wall, CPU) seconds of the pass's validation, errors); the run
# times the whole pass.


class BatchSkewed:
    """Full-table run_validation of a flat parquet table in which one
    conversation is big enough for the skew router to send it to the
    range-partitioned ordered path. A pass is one validation."""

    conf = {"spark.sql.shuffle.partitions": BATCH_SHUFFLE_PARTITIONS}

    def __init__(self, spark, size, seed):
        self.spark, self.seed = spark, seed
        self.n = size["batch_turns"]
        self.skew = size["batch_skew_turns"]
        self.skew_min = size["skew_min_rows"]
        self.timings: dict[str, dict] = {}

    def land(self, path: str) -> None:
        inputs.land_table(path, self.n, self.seed, self.skew)

    def prepare(self, path: str) -> None:
        self.path = path
        self.expected, _ = reference.transcript_counts([f"{self.path}/*.parquet"])
        self.exit_code = reference.expected_exit_code(self.expected)

    def op(self, label: str) -> tuple[tuple[float, float], list[str]]:
        out = io.StringIO()
        watch = Stopwatch()
        with contextlib.redirect_stdout(out):
            res = runner.run_validation(
                self.spark, self.spark.read.parquet(self.path),
                skew_min_rows=self.skew_min,
            )
        dt = watch.read()
        self.timings[label] = res.timings
        got = {s["constraint_id"]: s["violation_count"] for s in res.summary_rows}
        errors = []
        if got != self.expected:
            errors.append(f"violation counts {got} != reference {self.expected}")
        if res.exit_code != self.exit_code:
            errors.append(f"exit code {res.exit_code} != {self.exit_code}")
        if res.n_rows != self.n:
            errors.append(f"validated {res.n_rows} turns, landed {self.n}")
        if "skew: routing 1 conversations" not in out.getvalue():
            errors.append("the skew router did not route the big conversation")
        return dt, errors

    def final_checks(self) -> list[str] | None:
        return None

    def patch(self, tr: trace.Tracer | None) -> None:
        if tr is not None:
            patch_validation_layers(tr)

    def layers(self, tr: trace.Tracer, label: str) -> dict:
        return validation_layers(tr, label, self.timings[label])


class IncrementalFeed:
    """A base file, then in-order appended files, each validated by the
    CLI's --incremental mode with carried conversation state.
    Conversations straddle every file boundary, and each boundary
    carries a window defect that only the carried state can see."""

    def __init__(self, spark, size, seed):
        self.spark, self.seed = spark, seed
        self.skew = size["inc_skew_turns"]
        self.tpc = size["inc_turns_per_conv"]
        base, inc = size["base_turns"], size["inc_turns"]
        self.cuts = [0, base] + [base + inc * (k + 1) for k in range(size["max_increments"])]
        self.timings: dict[str, dict] = {}
        self.reports: list[dict] = []

    def land(self, path: str) -> None:
        inputs.land_pieces(path, self.cuts, self.seed, self.skew, self.tpc)

    def prepare(self, stage: str) -> None:
        self.pieces = sorted(p for p in os.listdir(stage) if p.startswith("piece_"))
        self.staged = [os.path.join(stage, p) for p in self.pieces]
        self.landing = os.path.join(WORK, "landing")
        self.ckpt = os.path.join(WORK, "checkpoint")
        os.makedirs(self.landing)
        # increment k must find what one run over all pieces finds on
        # piece k's rows, plus piece k's own dataset-level findings
        _, per_file = reference.transcript_counts(
            [os.path.join(p, "part-0.parquet") for p in self.staged])
        self.piece_counts = [per_file[os.path.join(p, "part-0.parquet")]
                             for p in self.staged]
        self.landed = 0

    def op(self, label: str) -> tuple[tuple[float, float], list[str]]:
        k = self.landed
        if k == len(self.staged):
            raise OutOfInput
        report = os.path.join(WORK, f"report_{k}.json")
        argv = ["--input", self.landing, "--incremental",
                "--checkpoint", self.ckpt, "--report-json", report]
        watch = Stopwatch()
        os.rename(self.staged[k], os.path.join(self.landing, self.pieces[k]))
        self.landed += 1
        with contextlib.redirect_stdout(io.StringIO()):
            code = runner.main(argv)
        dt = watch.read()
        with open(report) as f:
            rep = json.load(f)
        self.reports.append(rep)
        self.timings[label] = rep["phase_sec"]
        want = self.piece_counts[k]
        got = {s["constraint_id"]: s["violation_count"] for s in rep["constraints"]}
        errors = []
        if got != want:
            errors.append(f"increment {k}: violation counts {got} != reference {want}")
        if code != reference.expected_exit_code(want):
            errors.append(f"increment {k}: exit code {code}")
        rows = self.cuts[k + 1] - self.cuts[k]
        if rep["n_rows"] != rows:
            errors.append(f"increment {k}: validated {rep['n_rows']} turns, landed {rows}")
        return dt, errors

    def final_checks(self) -> list[str]:
        """Summed per-constraint row and window counts of the increments
        must equal one reference run over their union (the convstate
        in-order contract)."""
        files = [f"{self.landing}/{p}/*.parquet" for p in self.pieces[: self.landed]]
        union, _ = reference.transcript_counts(files)
        want = {c: n for c, n in union.items() if c not in reference.DATASET_LEVEL}
        got = dict.fromkeys(want, 0)
        for rep in self.reports:
            for s in rep["constraints"]:
                if s["constraint_id"] not in reference.DATASET_LEVEL:
                    got[s["constraint_id"]] = got.get(s["constraint_id"], 0) + s["violation_count"]
        if got != want:
            return [f"summed increments {got} != union reference {want}"]
        return []

    def patch(self, tr: trace.Tracer | None) -> None:
        if tr is not None:
            patch_validation_layers(tr)

    def layers(self, tr: trace.Tracer, label: str) -> dict:
        m = validation_layers(tr, label, self.timings[label])
        m["checkpoint.files"] = sum(len(fs) for _, _, fs in os.walk(self.ckpt))
        return m


class QueryClient:
    """Runs the declared mix queries in a fixed order over the committed
    sf0.01 tables and checks each result against its committed oracle
    row count and hash."""

    def __init__(self, spark):
        self.spark = spark
        self.queries = entry.queries()
        self.expected = reference.oracle_results(MIX)
        self.tracer: trace.Tracer | None = None
        self.times: dict[str, dict[str, tuple[float, float]]] = {}

    def op(self, label: str) -> tuple[float, list[str]]:
        tr = self.tracer
        total, errors, times = 0.0, [], {}
        for q in MIX:
            if tr is not None:
                tr.set_group(f"q.{q}", "construct")
            t0 = time.perf_counter()
            df = self.queries[q](self.spark, MIX_DATA)
            t1 = time.perf_counter()
            if tr is not None:
                tr.set_group(f"q.{q}", "exec")
            pdf = df.toPandas()
            t2 = time.perf_counter()
            times[q] = (t1 - t0, t2 - t0)
            total += t2 - t0
            want = self.expected[q]
            got = reference.result_hash(pdf)
            if len(pdf) != want["rows"] or got != want["hash"]:
                errors.append(f"{q}: {len(pdf)} rows, hash {got} != oracle "
                              f"{want['rows']} rows, hash {want['hash']}")
        self.times[label] = times
        return total, errors

    def patch(self, tr: trace.Tracer | None) -> None:
        self.tracer = tr

    def layers(self, tr: trace.Tracer, label: str) -> dict:
        m = {}
        for q, (construct, wall) in self.times[label].items():
            m[f"q.{q}.s"] = wall
            m[f"q.{q}.construct_s"] = construct
            m[f"q.{q}.construct_jobs"] = len(tr.jobs(label, f"q.{q}", "construct"))
            m[f"q.{q}.jobs"] = len(tr.jobs(label, f"q.{q}"))
        return m


class AppendQueryMix:
    """One closed-loop client whose every pass lands the next appended
    file, validates it incrementally, then runs the query mix. Both
    halves are driver-bound: per-job latency and plan construction set
    their floor, not executor work."""

    conf: dict = {}

    def __init__(self, spark, size, seed):
        self.feed = IncrementalFeed(spark, size, seed)
        self.client = QueryClient(spark)

    def land(self, path: str) -> None:
        self.feed.land(path)

    def prepare(self, path: str) -> None:
        self.feed.prepare(path)

    def op(self, label: str) -> tuple[tuple[float, float], list[str]]:
        increment, errors = self.feed.op(label)
        _, more = self.client.op(label)
        return increment, errors + more

    def final_checks(self) -> list[str]:
        return self.feed.final_checks()

    def patch(self, tr: trace.Tracer | None) -> None:
        self.feed.patch(tr)
        self.client.patch(tr)

    def layers(self, tr: trace.Tracer, label: str) -> dict:
        m = self.feed.layers(tr, label)
        m.update(self.client.layers(tr, label))
        return m


WORKLOADS = {
    "batch_skewed": BatchSkewed,
    "append_query_mix": AppendQueryMix,
}


# --- per-layer tracing of the validation path ----------------------------------

CKPT_READS = ("seen_files", "last_snapshot", "last_schema", "completed_buckets")
CKPT_RECORDS = ("record_run", "record_files")
STATE_READS = ("read_state", "read_fd_states")
STATE_WRITES = ("boundary_state", "merge_state", "write_state", "write_fd_state")


def patch_validation_layers(tr: trace.Tracer) -> None:
    """Wrap the names the runner resolves at call time."""
    tr.patch(runner, "dataset_findings", "audit")
    tr.patch(runner, "bucketed_probe_stats", "stats")
    tr.patch(runner, "all_violations", "violations")
    tr.patch(runner, "verdicts", "verdict")
    tr.patch(ordered, "scalable_group_violations", "ordered")
    tr.patch(sources, "load_increment", "sources",
             count=lambda out: len(out[1]) if out else 0)
    for name in STATE_READS + STATE_WRITES:
        tr.patch(convstate, name, "convstate")
    for name in CKPT_READS + CKPT_RECORDS:
        tr.patch(checkpoint, name, "checkpoint")


def validation_layers(tr: trace.Tracer, op: str, timings: dict) -> dict:
    def stage(layer):
        return tr.stage_metrics(tr.jobs(op, layer))

    m = {
        "sources.load_s": tr.span_seconds(op, "sources"),
        "sources.files": tr.span_count(op, "sources"),
        "runner.audit_s": timings.get("audit", 0.0),
        "runner.stats_s": timings.get("stats", 0.0),
        "runner.skew_path_s": timings.get("skew_path", 0.0),
        "runner.verdict_s": timings.get("verdict", 0.0),
        "stats.construct_s": tr.span_seconds(op, "stats"),
        "stats.jobs": len(tr.jobs(op, "stats")),
        "violations.construct_s": tr.span_seconds(op, "violations"),
        "violations.construct_jobs": len(tr.jobs(op, "violations", "construct")),
        "violations.audit_s": tr.span_seconds(op, "audit"),
        "ordered.s": tr.span_seconds(op, "ordered"),
        "ordered.jobs": len(tr.jobs(op, "ordered")),
        "ordered.tasks": stage("ordered")["tasks"],
        "verdict.construct_s": tr.span_seconds(op, "verdict"),
        "verdict.jobs": len(tr.jobs(op, "verdict")),
        "convstate.read_s": tr.span_seconds(op, "convstate", STATE_READS),
        "convstate.write_s": tr.span_seconds(op, "convstate", STATE_WRITES),
        "convstate.jobs": len(tr.jobs(op, "convstate")),
        "checkpoint.read_s": tr.span_seconds(op, "checkpoint", CKPT_READS),
        "checkpoint.record_s": tr.span_seconds(op, "checkpoint", CKPT_RECORDS),
    }
    m["verdict.exec_s"] = max(m["runner.verdict_s"] - m["verdict.construct_s"], 0.0)
    st = stage("stats")
    vd = stage("verdict")
    m["verdict.stages"] = vd["stages"]
    if tr.store is not None:
        m["stats.executor_s"] = st["executor_s"]
        m["stats.shuffle_mb"] = st["shuffle_mb"]
        for k in ("executor_s", "shuffle_mb", "spill_mb", "task_skew"):
            m[f"verdict.{k}"] = vd[k]
    return m


# --- one run -----------------------------------------------------------------


def start_session(extra_conf: dict):
    """local[nproc] session whose scratch space stays inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **extra_conf,
    }
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    spawned) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:6.1f}s] {msg}", file=sys.stderr)


def median(xs):
    return statistics.median(xs) if xs else None


def run(workload: str, seed: int, seconds: float, traced: bool, size: dict) -> dict:
    attempted = failed = 0
    problems: list[str] = []

    def record(errors: list[str]) -> None:
        nonlocal attempted, failed
        attempted += 1
        if errors:
            failed += 1
            problems.extend(errors)

    def attempt(wl, label) -> dict | None:
        """One pass; returns the wall and CPU seconds of its validation
        and of the whole pass, or None if it failed."""
        watch = Stopwatch()
        try:
            (validate_s, validate_cpu), errors = wl.op(label)
        except OutOfInput:
            raise
        except Exception:  # a failed pass is counted, not fatal
            record([traceback.format_exc(limit=4)])
            return None
        pass_s, pass_cpu = watch.read()
        record(errors)
        if errors:
            return None
        return {"validate_s": validate_s, "validate_cpu_s": validate_cpu,
                "pass_s": pass_s, "pass_cpu_s": pass_cpu}

    cls = WORKLOADS[workload]
    t = time.perf_counter()
    spark = start_session(cls.conf)
    session_s = time.perf_counter() - t
    session_up = time.perf_counter() - T_PROCESS
    try:
        wl = cls(spark, size, seed)
        # set-up is repeated into fresh directories and its median kept;
        # the first copy is the one the run uses
        landings = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.land(os.path.join(WORK, f"input_{k}"))
            landings.append(time.perf_counter() - t)
        for k in range(1, SETUP_REPEATS):
            shutil.rmtree(os.path.join(WORK, f"input_{k}"))
        t = time.perf_counter()
        wl.prepare(os.path.join(WORK, "input_0"))
        log(f"session {session_s:.1f}s, landings {', '.join(f'{x:.1f}' for x in landings)}s, "
            f"references {time.perf_counter() - t:.1f}s")

        t = time.perf_counter()
        cold = attempt(wl, "cold")
        cold_s = time.perf_counter() - t
        # after a fixed amount of work, so the reading does not depend on
        # how many warm passes fit in the window
        heap_mb = trace.retained_heap_mb(spark)
        log(f"cold pass {cold_s:.1f}s, retained heap {heap_mb:.1f} MB")

        # the JVM is still warming after the cold pass: the first warm
        # pass runs 10-30% slower than the ones after it, and the amount
        # varies from run to run, so it is left out of the medians
        t = time.perf_counter()
        attempt(wl, "warmup")
        log(f"warm-up pass {time.perf_counter() - t:.1f}s")

        tr = trace.Tracer(spark) if traced else None
        warm: list[dict] = []
        layer_rows: list[dict] = []
        t_window = time.perf_counter()
        n = 0
        try:
            # passes keep getting a little faster for several more; a
            # median over at least MIN_WARM of them keeps the number from
            # depending much on how many fit in the window
            while n < MIN_WARM or time.perf_counter() - t_window < seconds:
                label = f"warm{n}"
                n += 1
                if tr is None:
                    res = attempt(wl, label)
                    if res is not None:
                        warm.append(res)
                    continue
                # a traced run pairs every traced pass with an untraced one,
                # whose jobs are only counted, and alternates which goes
                # first, so that both see the same point of the JVM's
                # warm-up on average
                if n % 2:
                    probe, probe_jobs = counted_pass(tr, wl, attempt, f"probe{n}")
                wl.patch(tr)
                try:
                    res, jobs = counted_pass(tr, wl, attempt, label)
                finally:
                    tr.unpatch()
                    wl.patch(None)
                if not n % 2:
                    probe, probe_jobs = counted_pass(tr, wl, attempt, f"probe{n}")
                if probe is None or res is None:
                    continue
                warm.append(res)
                row = wl.layers(tr, label)
                row["spark.jobs_per_op"] = len(jobs)
                row["spark.tasks_per_op"] = tr.stage_metrics(jobs)["tasks"]
                row["trace.job_delta"] = len(jobs) - len(probe_jobs)
                row["validate_wall_s"], row["pass_wall_s"] = res["validate_s"], res["pass_s"]
                row["probe_s"] = probe["pass_s"]
                layer_rows.append(row)
        except OutOfInput:
            log(f"input exhausted after {n - 1} warm passes")

        log("warm passes (validation/pass, wall/CPU s): " + ", ".join(
            f"{w['validate_s']:.2f}/{w['validate_cpu_s']:.1f} {w['pass_s']:.2f}/{w['pass_cpu_s']:.1f}"
            for w in warm))
        errors = wl.final_checks()
        if errors is not None:
            record(errors)
        if traced:
            metrics = {k: median([r[k] for r in layer_rows]) for k in layer_rows[0]} \
                if layer_rows else {}
            metrics["session.start_s"] = session_s
            metrics["cold_s"] = cold_s if cold is not None else None
            metrics["jvm.gc_s"] = trace.jvm_gc_seconds(spark)
            metrics["jvm.peak_rss_mb"] = trace.jvm_peak_rss_mb(spark)
            if layer_rows:
                record(self_check(metrics, layer_rows))
            metrics = {k: metrics.get(k, 0) for k in PER_LAYER
                       if tr.store is not None or k not in NEEDS_STORE}
        else:
            metrics = {
                "setup_s": session_up + median(landings),
                "validate_cpu_s": median([w["validate_cpu_s"] for w in warm]),
                "pass_cpu_s": median([w["pass_cpu_s"] for w in warm]),
                "retained_heap_mb": heap_mb,
            }
    finally:
        stop_session(spark)
        log("session stopped")

    for p in problems:
        log(f"FAILED: {p}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def counted_pass(tr, wl, attempt, label: str):
    """One pass whose jobs are collected: those of its main-thread job
    groups plus those other threads fire untagged."""
    tr.op = label
    before = tr.untagged_jobs()
    tr.set_group("run", "exec")
    try:
        res = attempt(wl, label)
    finally:
        tr.clear_group()
    return res, tr.jobs(label) + sorted(tr.untagged_jobs() - before)


def self_check(metrics: dict, layer_rows: list[dict]) -> list[str]:
    """Tracing must not change what Spark runs: every traced pass fires
    as many jobs as the untraced pass paired with it. Also reports the median
    traced / untraced pass time ratio as the tracing overhead."""
    deltas = [r["trace.job_delta"] for r in layer_rows]
    metrics["trace.job_delta"] = max(deltas, key=abs)
    metrics["trace.overhead_frac"] = (
        median([r["pass_wall_s"] for r in layer_rows])
        / median([r["probe_s"] for r in layer_rows]) - 1)
    if any(deltas):
        return [f"traced passes fired {deltas} more jobs than the untraced ones"]
    return []


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes (seconds, not minutes)")
    args = p.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    # Spark, the JVM and the Python workers all keep their scratch files
    # inside WORK; the workers import the engine from the repository root
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    try:
        with contextlib.redirect_stdout(sys.stderr):
            result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                         SIZES["tiny" if args.tiny else "full"])
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    units = {k: _unit(k) for k in result["metrics"]}
    result["metrics"] = {
        k: {"value": v, "unit": units[k]}
        for k, v in result["metrics"].items()
        if v is not None and math.isfinite(v)
    }
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith(("_frac", "_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
