"""SparkSession factory tuned for the validation workload.

Local mode is the test/bench harness; the same settings are what we'd
submit to a real cluster via ``spark-submit --py-files``:

- AQE on (shuffle coalescing + skew-join splitting) so a 10^12-turn
  table with a few pathological conversations doesn't strand tasks.
- shuffle partitions sized to cores locally; on a cluster this is
  superseded by AQE's target post-shuffle partition size.
- Arrow enabled for the pandas-UDF drift legs (no per-row Python
  anywhere in the engine — BASELINE.json input_hint).
- session timezone pinned to UTC so results are reproducible and
  comparable against the DuckDB oracle (duckdb timestamps are
  UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocsf-validator-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism; defaults to $SPARK_GRAFT_CPUS
    or all cores. On a real cluster the master is supplied by
    spark-submit and this falls through untouched.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # per-call call-site capture costs two extra py4j round trips
        # per DataFrame/Column call — ~40% of suite plan-construction
        # time (driver-side tooling only; results unchanged)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # generated-class cache (default 100 entries): one validation
        # pass with a routed skew leg plans ~160 distinct generated
        # classes, and an LRU smaller than that working set recompiles
        # (Janino + C2 JIT) every one of them on every pass
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
