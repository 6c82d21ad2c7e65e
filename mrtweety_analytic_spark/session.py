"""SparkSession construction and runtime tuning.

The reference ran a single-node `local[*]` Spark 2.2 context
(reference: spark/src/main/scala/.../SparkApplication.scala:34,37).
Here the session is tuned for the Catalyst/Tungsten path: AQE on,
UTC session timezone so results hash identically against the DuckDB
oracle, and one shuffle-width rule. Batch exchanges are planned at
AQE's `initialPartitionNum` (32) and coalesced at run time. Streaming
micro-batches run with AQE off, so a stateful operator's state-store
count is `spark.sql.shuffle.partitions`, frozen into the checkpoint at
the query's first start; `tune` sets it to `stream_shuffle_partitions`
(one store per core). A cluster deployment sets
`spark.default.parallelism`, which that reads; otherwise it is the
executor cores registered when `tune` ran.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied even to externally-created sessions
# (the verify driver builds its own SparkSession; these keep semantics
# stable regardless of who built it).
RUNTIME_CONF = {
    # Determinism: timestamps must collect identically to DuckDB's
    # UTC-naive values (SURVEY.md §7.5 risk 1).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing, skew-join splitting, and
    # sort-merge->broadcast switching. Essential at 100 TB, harmless
    # locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Batch exchanges start at 32 partitions and AQE coalesces them.
    # Streaming ignores this (see module docstring and `tune`).
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
    # ANSI off: keep permissive SQL semantics matching DuckDB's
    # silent-null behaviours we rely on (e.g. bad JSON -> NULL).
    "spark.sql.ansi.enabled": "false",
    # The events table is physically timestamp[ns], which Spark's
    # parquet reader rejects outright; read as long nanos and convert
    # in the loader (sources.load_table) — values are µs-precision so
    # the ns→µs conversion is lossless.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def stream_shuffle_partitions(spark: SparkSession) -> int:
    """State stores per stateful operator for a new streaming query:
    `defaultParallelism`, capped at the host's cores on a local master
    (a `local[N]` session runs at most that many tasks at once)."""
    sc = spark.sparkContext
    n = sc.defaultParallelism
    if sc.master.startswith("local"):
        n = min(n, os.cpu_count() or n)
    return n


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent), and size
    the streaming state-store count (`stream_shuffle_partitions`)."""
    conf = {
        **RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(stream_shuffle_partitions(spark)),
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-runtime-settable in this build — leave as-is.
            pass
    return spark


def get_spark(app_name: str = "mrtweety-analytic-spark") -> SparkSession:
    """Build the engine's own local session (tests, bench, CLI)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        # NOTE: measured locally — first-shuffle latency grows roughly
        # linearly with driver heap (~3s/GB on this box), so a modest
        # heap beats a huge one for the <1 GB test corpus. 4g is ample
        # for sf0.1 under local[32]; a real cluster sizes executors
        # instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "4g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
