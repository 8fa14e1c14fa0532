"""SparkSession factory.

Settings are chosen for oracle determinism (UTC session timezone —
SURVEY.md §2B determinism rules) and for scale (AQE on: runtime shuffle
coalescing, skew-join splitting, and join-strategy switching are the
mechanisms that keep these plans healthy at 100 TB / 1000 executors).

Local test topology is ``local[N]`` (single JVM); shuffle partitions are
sized to the local core count rather than Spark's default 200 — on a real
cluster this knob (or AQE's coalescing with a high initial count) should
track total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Scan-split sizing: the 4 MiB openCostInBytes default floors
# maxSplitBytes, so the ~10 MiB local fixture tables plan ~3 scan tasks
# even on 32 threads. A 1 MiB override was A/B benched (full 345-query
# run each way): 319.9 s vs 320.2 s — a wash, inside host noise, because
# per-query cost here is dominated by session/shuffle fixed costs, not
# scan CPU. The default is KEPT: at 100 TB files are ≥128 MiB and a
# higher open cost correctly coalesces small-file scans.
OPEN_COST_BYTES = 4 * 1024 * 1024
MIN_SHUFFLE_PARTITIONS = 4


def get_spark(app_name: str = "cascade_spark", cores: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, MIN_SHUFFLE_PARTITIONS)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # events.parquet timestamp encoding varies by testdata generation:
        # TIMESTAMP(NANOS) (vanilla Spark rejects — read as long, converted
        # in tables.load) or µs-without-timezone (must infer LTZ, not NTZ,
        # so unix_micros/watermarks resolve; identity under UTC session tz).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.openCostInBytes", str(OPEN_COST_BYTES))
        .config("spark.driver.memory", os.environ.get("CASCADE_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # ANSI off: declared queries rely on permissive casts matching
        # DuckDB's TRY-style semantics only where both agree; we keep
        # Spark's default (non-ANSI) behavior stable across versions.
        .config("spark.sql.ansi.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's "No Partition Defined ... single partition" warning is
    # expected at documented tiny-frame sites (per-partition count bases
    # in ingest.assign_offsets, 20-row post-limit rank in text_filtering,
    # histogram-bucket CDFs) where the frame is provably small. Raise
    # that one logger to ERROR so a REAL unpartitioned window over data
    # rows — which the plan tests guard against — doesn't hide in noise.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 logging backends: warning stays, harmless
    return spark
