"""SparkSession factory tuned for this engine (SURVEY.md §7.1).

Design decisions (SURVEY.md §4.2, §7.3):
- AQE on: runtime partition coalescing + skew-join splitting carry the
  same plan from local[32]/sf0.1 to a 1000-executor/100 TB cluster.
- Session timezone pinned to UTC: the testdata parquet timestamps are
  naive; DuckDB (the correctness oracle) reads them as wall-clock
  TIMESTAMP, so Spark must interpret them identically.
- Arrow enabled: every pandas_udf / applyInPandas crossing is batched.
- shuffle.partitions kept moderate for local mode; AQE coalesces
  further. On a real cluster this is overridden per-deployment.
- Codegen class cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps each compiled
  whole-stage-codegen class in one JVM-wide LRU cache keyed by the
  generated source; a miss runs Janino, and the JIT compiles the new
  class again. At Spark's default cap of 100 entries one warm pass
  evicts every class before its next use: each warm pass of the NMEA
  CLI runs 142 compiles and each of the stored-retrieval +
  MinHash-dedup pair 245 (perfbench seed 5, 4 cores). A sweep that
  collects all 282 registered queries at sf0.001 runs 3,575 compiles
  and a second sweep 108, so 4096 holds the whole registry and
  interleaved query sets (the test session, ``bench.py``'s reps) stay
  warm too. The cost is bounded metaspace: 239 MB after both sweeps.
  This caches compiled code, not results: every pass runs every job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
CODEGEN_CACHE_ENTRIES = 4096


def driver_memory(phys_bytes: int) -> str:
    """Default ``spark.driver.memory`` for a host with ``phys_bytes`` of
    RAM: a third of it in whole GiB, at most 8g. A flat 8g let three
    engine JVMs on one 15.7 GB host (a test run, the oracle sweep and a
    driver simulation) reach the kernel OOM killer; a third leaves room
    for the Python workers and the page cache."""
    return f"{max(1, min(8, phys_bytes // 3 // 2**30))}g"


def get_spark(
    app_name: str = "process_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by the advisory SIZE, not
        # down to the core count (optimization guide §2.2 "fewer,
        # larger reduce partitions", §9): parallelismFirst=true (the
        # default) stops AQE from coalescing below
        # defaultParallelism, so every tiny shuffle stage still
        # launches one task per core — pure scheduling overhead at
        # any scale, and Spark's own conf doc recommends false. The
        # 256 MB advisory target is the guide's §9 baseline: at
        # 100 TB a shuffle keeps thousands of partitions (size-driven,
        # scale-adaptive); only genuinely small exchanges collapse.
        # Measured at sf0.1/local[32]: retrieval_e2e_stored 9.0→6.5 s,
        # vec_hybrid_rrf_ann_fixedq 5.2→3.2 s, with smaller spreads.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM",
                driver_memory(
                    os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                ),
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session we didn't build.

    The driver hands ``entry(spark)`` its own session; timezone
    correctness (UTC, see module docstring) must hold there too. Static
    confs cannot be set on a running session, so that session keeps
    Spark's default codegen cache size (100 entries), not
    ``CODEGEN_CACHE_ENTRIES``.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (driver and, in local
    mode, its executor threads): one per codegen cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
