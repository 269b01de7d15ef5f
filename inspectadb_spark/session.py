"""SparkSession construction with the engine's pinned configuration.

Determinism and scale rules (SURVEY.md §5.3.4, §4.2):
- session timezone UTC so timestamp<->string conversions agree with the oracle;
- ``spark.sql.legacy.parquet.nanosAsLong=true`` so the driver's ns-precision
  ``events.ts`` parquet column is readable at all (stock Spark 4.x raises
  PARQUET_TYPE_ILLEGAL otherwise — SURVEY.md §1.3.1);
- AQE on (runtime coalescing + skew-join splitting — the 100 TB path);
- modest shuffle partition count for local runs; on a real cluster this is
  overridden via ``configure(shuffle_partitions=...)`` or spark-defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are semantic (required for correctness) — never override these.
SEMANTIC_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ANSI mode (4.x default) matches DuckDB overflow/error behavior.
    "spark.sql.ansi.enabled": "true",
}

# Confs that are performance defaults — override freely per deployment.
PERF_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.driver.memory": "16g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def configure(builder: SparkSession.Builder, **overrides: str) -> SparkSession.Builder:
    """Apply the engine's conf set to a builder (perf confs overridable)."""
    confs = {**PERF_CONFS, **{k: str(v) for k, v in overrides.items()}, **SEMANTIC_CONFS}
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder


def get_session(app_name: str = "inspectadb-spark", master: str | None = None,
                **overrides: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs, or,
    with the env var unset, to one worker thread per CPU this process may
    run on (its scheduler affinity); on a cluster, leave ``master`` unset in
    spark-submit context.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0))))
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    spark = configure(builder, **overrides).getOrCreate()
    # getOrCreate may return a pre-existing session: re-pin runtime-settable
    # semantic confs so determinism never depends on session creation order.
    for k, v in SEMANTIC_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on an existing session; builder already set it
    return spark
