"""SparkSession factory.

Single place where execution-relevant config is decided so every entry
point (tests, bench, driver harness) gets the same tuned session:

- AQE on (runtime re-plan: broadcast conversion, partition coalescing,
  skew-join splitting) — at 100 TB this is what keeps a static plan from
  being the bottleneck.
- shuffle partitions sized to the local core count (overridable); on a
  real cluster this would be ~2-3x total cores or left to AQE coalescing.
- UTC session timezone — oracle comparison (DuckDB is UTC-naive) and the
  reference's ISO-8601 string timestamps both require it.
- Arrow enabled for the Pandas-UDF slow path (LLM operators).
- `nanosAsLong` so parquet TIMESTAMP(NANOS) columns (the `events`
  fixture) are readable; `lake.load_table` converts ns → µs timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Applied at session build AND re-applied (runtime-settable ones) on an
# existing session, since the driver may hand us a session it built.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-less parquet TIMESTAMP(MICROS) must read as TimestampType (UTC
    # session tz), not TIMESTAMP_NTZ: the oracle (DuckDB) is UTC-naive and
    # time functions (unix_micros, window, watermark) require TimestampType.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.parquet.filterPushdown": "true",
    # Partition values are zero-padded strings by contract (the
    # reference's year=YYYY/.../minute=MM layout). Type inference would
    # read minute=07 back as int 7, so a merge write-back would target a
    # DIFFERENT directory (minute=7) and leave stale rows in minute=07.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` above
    # every Generate, and predicate pushdown then re-inlines the full
    # generator expression into that filter BELOW any exchange — for an
    # explode of a computed array (shingles, LSH bands, chunk windows)
    # the expensive array expression is evaluated 3x per row, one of
    # them pre-shuffle where the materialization barrier was supposed
    # to prevent exactly that (measured 10x on the shingle explode).
    # The filter is semantically redundant: inner explode already emits
    # nothing for empty/null arrays.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session.

    Called by every query builder so the engine behaves identically under
    a driver-provided SparkSession.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable under this build; builder path sets it
    return spark


def get_spark(
    app_name: str = "ddb2dl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Long-running sessions (bench sweeps, resident clusters)
        # accumulate one generated class per distinct codegen unit;
        # the JVM default 240 MB code cache can fill mid-session,
        # after which the JIT disables itself and everything drops to
        # interpreter speed (observed: a query's steady-state jumping
        # 0.6 s -> 23 s late in a 79-query sweep). Standard Spark
        # guidance for long sessions; builder-time only, harmless for
        # short ones.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
        # Python-worker connect-back accept timeout (default 15 s).
        # On a slow/virtualized host a cold simple-worker fork (the
        # streaming-source runner path forks one per query start) can
        # exceed it and the whole query dies with "Python worker
        # failed to connect back" — observed as a one-off
        # test_kinesis_mock_shard_contract failure that passed on
        # rerun. Worker startup is not on any measured path, so a
        # generous accept window costs nothing.
        .config("spark.python.authenticate.socketTimeout", "120s")
        # UI off: bench.py reads each query's jobs, stages and shuffle
        # bytes from the status tracker and status store, which need
        # no UI
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no `[Stage n:...]` console bar: it is redrawn with carriage
        # returns on stderr and ends up on the same lines as a tool's
        # own results, so filtering a log by line drops results
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
