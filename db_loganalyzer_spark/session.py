"""SparkSession builder tuned for this engine.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same code scales to a real cluster: AQE for runtime re-planning and skew
joins, UTC session timezone (matches the DuckDB oracle and the reference's
UTC trace timestamps), Arrow for the few pandas-UDF paths.

Generated-code cache. Spark keeps the classes whole-stage codegen compiles
in one LRU per JVM, keyed by the generated source and capped at
``spark.sql.codegen.cache.maxEntries`` (default 100). This engine's working
set is far larger (sizes at ``CODEGEN_CACHE_ENTRIES``), and an LRU cycling over more
keys than it holds misses on every key: at the default, every repeated
query or investigation recompiled nearly all of its classes with Janino
(~125 of ~133 per pass over the 10 headline queries, ~450 per repeated
investigation). The cap is sized to hold the whole registry plus an
investigation, so a plan shape is compiled once per driver. Sizes were
counted with Spark's ``CodegenMetrics`` compile counter under a cap that
never evicts, where each compile is one distinct class. The cap is a static
conf, read once per JVM at the first codegen, so it is set here in the
builder.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Distinct generated classes, counted with CodegenMetrics on a fresh driver
# (4 cores): 133 for the 10 headline queries at sf0.01; 400-460 for one
# phased investigation over 1,000 log events; 2,705-2,721 (two runs) for one
# pass of scripts/check_oracle.py over all 213 registry entries at sf0.01,
# where AQE's run-dependent stage ids add a few variants. The cap is
# the registry plus one investigation (~3,200) with headroom, rounded up.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "db_loganalyzer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale this should be ~2-3x the total executor cores instead; AQE's
    partition coalescing makes the initial value mostly a ceiling.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # larger cached-columnar batches amortize per-batch dispatch in
        # whole-stage codegen over cached tables (default 10k is conservative)
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "65536")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the driver's events.parquet has stored ts as TIMESTAMP(NANOS)
        # (no native Spark type; read as long + convert in load_table) or
        # as naive TIMESTAMP(MICROS). For the latter, NTZ inference is
        # disabled so naive micros read as session-tz (UTC) timestamps —
        # same interpretation as the DuckDB oracle's naive timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
