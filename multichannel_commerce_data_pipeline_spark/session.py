"""SparkSession factory with scale-appropriate defaults.

The reference enables only AQE (scripts/ingestion/silver_to_gold.py:647);
we keep AQE plus shuffle-partition sizing, Arrow for the pandas_udf
surface, and a UTC session timezone so timestamp arithmetic is
deterministic across engines (the DuckDB oracle is tz-naive UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"
FILE_STREAM_SINK_LOGGER = (
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
)
# the expected lines every streaming drain logs (Spark 4.1 class names)
STREAM_DRAIN_LOGGERS = (
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "ChecksumCheckpointFileManager",
)


def get_spark(
    app_name: str = "mcdp-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a local SparkSession.

    Sized from ``SPARK_GRAFT_CPUS`` (default: all cores). On a real
    cluster these settings transfer: AQE handles shuffle coalescing and
    skew-join splitting at runtime; ``spark.sql.shuffle.partitions`` is
    only the pre-AQE upper bound.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    parts = str(shuffle_partitions or (32 if cpus == "*" else int(cpus)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark 4 coalesces post-shuffle stages down to the 64 MB
        # advisory byte target with no parallelism floor, which runs
        # every compute-heavy stage over a small shuffle (window fns,
        # array/pair generation, md5 digests) on 1-3 tasks. Restore the
        # parallelism floor (Spark 3.x's long-time default): coalescing
        # stops at defaultParallelism, which is the core count here and
        # the executor-core total on a real cluster — scale-adaptive by
        # construction, not a local[32] constant. Measured (interleaved
        # same-process A/B, min-of-3, alternating order): the 10
        # heaviest queries 18.85 s -> 12.30 s warm total, every one
        # improved; the FULL 101-query headline 68.92 s -> 62.15 s
        # (-9.8%, 59 better / 42 slightly worse, worst single loss
        # +0.25 s of task-scheduling overhead, best win -2.07 s on the
        # copurchase pair stage).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bigger Arrow batches across the Python boundary (guide §4.2:
        # raise maxRecordsPerBatch for narrow data): every mapInPandas/
        # pandas_udf kernel here is narrow (ids, token counts, model
        # scores; text columns ~1 KB), so 32k-row batches amortize the
        # per-batch transpose+IPC overhead at bounded memory (~32 MB
        # per in-flight batch worst case). Measured in-process
        # flip-flop, min-of-3 per arm, every pandas-path query
        # improved: event_heavy_hitters 1.04->0.88 s, nb_calibration
        # 0.52->0.42, lm_perplexity 0.47->0.34, pandas_map_batches
        # 0.23->0.19, dsir 0.26->0.24; 65536 measured equal to 32768
        # at twice the batch memory, so the smaller value wins.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Inject a bloom filter from a selective dimension side into the
        # fact-table scan of shuffle joins (Spark 3.3+). Near-free at
        # test scale; at 100 TB it prunes fact rows before the exchange.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # PySpark 4 wraps every Column/DataFrame method to capture the
        # Python call site for error messages
        # (pyspark.errors.utils._with_origin): per expression that is
        # a conf read + PySparkCurrentOrigin set/clear (4-5 extra py4j
        # round trips) plus a Python stack walk. Across the 101 timed
        # queries that instrumentation was 60% of all py4j round trips
        # (86,461 -> 34,776 per full build pass) and ~43% of DataFrame
        # CONSTRUCTION time (in-process flip-flop A/B over 8 build-
        # heavy queries, min-of-4 each arm: 3.44 s -> 1.95 s, every
        # query improved). Diagnostic-only: plans, results and error
        # TYPES are unchanged — errors just lose the per-call-site
        # line annotation. Guide §4: control what crosses the Python
        # boundary; here the boundary traffic was the instrumentation
        # itself.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Hold every generated class of the registry in Spark's codegen
        # cache (an LRU of 100 classes by default). One call of each of
        # the 262 queries at sf0.001 in one local[2] session generates
        # 3,263-3,277 distinct classes; the 9 warm BI queries alone
        # generate 129, so at the default every warm pass evicted and
        # recompiled ~13 classes per call, and the JIT re-warmed the
        # reloaded classes. Measured on a 4-core VM (perfbench bi_warm,
        # local[2], 10 interleaved pairs): warm compiles 12.9 -> 0 per
        # call, process CPU per call 1.48 -> 1.06 s (median). 4096 is
        # the next power of two with headroom. Cost: the retained
        # classes stay in metaspace; after the full registry and a full
        # GC, 222 MB used at the default and 246 MB at 4096. A per-JVM
        # constant, independent of data size.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("MCDP_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # These WARNs are noise that buries real warnings; raise only their
    # loggers to ERROR. The seven unpartitioned windows left in the
    # engine are audited bounded (tests/test_window_audit.py pins each
    # one), so WindowExec's "No Partition Defined" is about 20 lines per
    # cold run. A batch read of a glob path (the bronze layout,
    # pipeline.schemas.bronze_glob) first asks FileStreamSink whether
    # the path is a streaming sink's output, which logs "Assume no
    # metadata directory" with a full FileNotFoundException stack trace
    # per read. Across the oracle sweep the three stream-drain loggers
    # log nothing but the expected lines: AQE is disabled in streaming
    # (ResolveWriteToStream, once per drain; MicroBatchExecution, once
    # per stateful drain) and a restored state snapshot has no checksum
    # file (ChecksumCheckpointFileManager). HDFSBackedStateStoreProvider's
    # "state for version N doesn't exist in loadedMaps" stays: its
    # logger name carries the store id, so only the whole state-store
    # package logger would reach it.
    jvm = spark._jvm
    for logger in (WINDOW_EXEC_LOGGER, FILE_STREAM_SINK_LOGGER, *STREAM_DRAIN_LOGGERS):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.ERROR
        )
    return spark
