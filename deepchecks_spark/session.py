"""SparkSession factory tuned for this engine.

Local mode is the test harness; the configs are chosen so the same code
path runs unchanged on a real multi-executor cluster (AQE, adaptive
coalescing, Arrow UDFs, UTC timestamps for oracle parity).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# Janino classes the codegen cache keeps. Spark's default of 100 is
# below the runner's working set (~99 generated classes per pass), and
# the cache is a segmented Guava cache that starts evicting before the
# cap is reached: every warm pass then recompiles what the last one
# evicted.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "deepchecks_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores=None → local[*]. Shuffle partitions default to the core count:
    at local scale 200 partitions just adds scheduling overhead; on a
    real cluster the caller passes an explicit value sized to the data.

    The codegen cache cap (``spark.sql.codegen.cache.maxEntries``) is a
    static conf, read once when the JVM first generates code: a session
    that already exists when this is called keeps its own cap.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the engine's fused stats pass aggregates ~8 expressions per
        # column; keep wide plans inside WholeStageCodegen
        .config("spark.sql.codegen.maxFields", "500")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: the heap is the whole cluster's memory.
        # Undersizing it makes cache eviction + recompute loops dominate
        # (observed as 80-90% kernel time); size to the host.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g"))
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # Spark 4.x routes lower()/upper()/initcap() under UTF8_BINARY
        # through ICU (spark.sql.icu.caseMappings.enabled defaults to
        # true); the first use pays CollationAwareUTF8String.<clinit>,
        # which builds a full code-point title-case cache — measured at
        # 200+ s of single-threaded CPU on this host, serializing every
        # executor thread behind one class-init monitor. The JVM case
        # mapping (pre-4.x behavior) differs only on locale-sensitive
        # exotic code points, none of which this engine's checks rely
        # on, so take the fast path everywhere.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    spark = builder.getOrCreate()
    # also apply on a pre-existing session getOrCreate() may have
    # returned (builder configs are ignored then); it's runtime-settable
    try:
        spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    except Exception as exc:  # pragma: no cover - conf absent on older Spark
        logger.debug("get_spark: could not set spark.sql.icu.caseMappings.enabled: %r", exc)
    return spark
