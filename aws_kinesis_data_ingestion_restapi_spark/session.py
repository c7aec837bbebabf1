"""SparkSession factory with scale-oriented defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default: one thread per
core, in one JVM), but every config here is chosen to also make sense
on a 1000-executor cluster: AQE on (runtime coalescing + skew-join
handling), shuffle partitions sized to the parallelism, UTC session
timezone (so results compare bit-exact against the DuckDB oracle,
which is UTC-naive), and Arrow enabled for the few Pandas-UDF paths.

On a ``local[...]`` master (:func:`is_local_master`, asked of the
session's actual master) the local file system writes no ``.crc``
sidecar next to each file; S3 and HDFS, the production targets, write
none either. Streaming checkpoint logs and the RocksDB state store's
zip metadata go through ``FileContext`` and keep theirs. Its SST files
go through the cached ``FileSystem`` and are written without one; a
checkpoint whose SST files have them still resumes. Any other master
keeps Spark's default.

The environment sets only deployment facts: ``SPARK_GRAFT_CPUS``,
``SPARK_MASTER`` and ``SPARK_DRIVER_MEMORY``. Tuning values are module
constants, so every run measures the same engine.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

#: AQE's coalesce floor (``spark.sql.adaptive.coalescePartitions.
#: minPartitionSize``); see its comment in :data:`RUNTIME_CONFS`.
AQE_MIN_PARTITION_SIZE = "64k"


def _cpus() -> int:
    try:
        return max(1, int(os.environ["SPARK_GRAFT_CPUS"]))
    except (KeyError, ValueError):
        return os.cpu_count() or 1


def _driver_memory() -> str:
    """Default driver heap: half the host's physical memory, capped at
    24g. Local mode runs driver and executors in this one JVM, so an
    undersized heap shows up as GC stalls on the string/array-heavy
    nested-event operators, and one sized past the host gets the JVM
    OOM-killed once a second JVM runs beside it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def is_local_master(master: str) -> bool:
    """``local``, ``local[N]``, ``local[*]`` or ``local[N,F]``: driver
    and executors share one JVM and the local disk."""
    return master == "local" or master.startswith("local[")


def get_spark(
    app_name: str = "aws-kinesis-data-ingestion-restapi-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would set it (or rely on AQE coalescing, which is
    enabled) to ~2-3× total executor cores.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching. Essential at 100 TB where
        # static planning misguesses sizes.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # FAIR scheduling between pools: a single job (every batch
        # query — there is only ever one pool active) schedules exactly
        # as FIFO did, but CONCURRENT streaming drains that opt into
        # per-query pools (streaming/registry_stream._intake_verdicts)
        # time-slice the executor slots instead of queueing whole
        # stages behind each other — the difference between sum() and
        # max() wall for the multiplexed intake gates.
        .config("spark.scheduler.mode", "FAIR")
        # Snappy parquet like the reference (terraform/variables.tf:56-60).
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Local mode: don't let tiny test tables trigger giant broadcasts
        # of the wrong side; 64 MB is a sane cluster-ish default too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # Backstop for the reliable-checkpoint knob (operators/ckpt):
        # let the ContextCleaner delete checkpoint files of GC'd RDDs.
        # Eager deletion of superseded rounds is ckpt.release's job;
        # this catches whatever release couldn't attribute.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for key, value in {**RUNTIME_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if is_local_master(spark.sparkContext.master):
        # Every task of a local master gets this one cached
        # LocalFileSystem, so no write leaves a .crc sidecar. Setting
        # fs.file.impl to RawLocalFileSystem instead breaks
        # FileSystem.getLocal, which casts to LocalFileSystem (the
        # RocksDB state store's snapshot upload calls it).
        hadoop_fs = spark._jvm.org.apache.hadoop.fs.FileSystem
        hadoop_fs.getLocal(spark._jsc.hadoopConfiguration()).setWriteChecksum(False)
    return spark


#: Confs that correctness depends on AND that Spark allows changing on a
#: live session. The driver's correctness harness builds its OWN
#: SparkSession (without the builder confs above), so every query entry
#: point re-asserts these at runtime via :func:`ensure_runtime_confs`
#: (round-1 lesson: 4 events_* queries failed with PARQUET_TYPE_ILLEGAL
#: because nanosAsLong was builder-only). :func:`get_spark` applies
#: them at build time too.
RUNTIME_CONFS = {
    # Older events.parquet generations carried TIMESTAMP(NANOS); this
    # conf made them arrive as epoch-nanos longs. Newer Spark builds
    # ignore it (and newer testdata is TIMESTAMP(MICROS) anyway) — the
    # query path branches on the actual schema via
    # functions.exact.as_timestamp/as_epoch_nanos, so either
    # representation works. Kept for older-build compatibility.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB oracle timestamps are UTC-naive; pin Spark to UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow batching for the mapInPandas operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE coalesces shuffle partitions by BYTES; compute-heavy
    # operators over byte-small data (shingle arrays, candidate
    # pairs) get crushed onto 1-2 tasks by the 1 MB default floor.
    # A 64 KB floor keeps those stages parallel (measured 3× on
    # the n-gram similarity join); at production sizes partitions
    # are far above either floor, so this only affects the tails.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": AQE_MIN_PARTITION_SIZE,
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply :data:`RUNTIME_CONFS` to an existing session.

    A conf the session refuses to change (a static or core conf on some
    builds) is left as it is."""
    for key, value in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except AnalysisException:  # CANNOT_MODIFY_CONFIG
            pass
    return spark


def spread_scan(df):
    """Re-spread a scan whose parallelism collapsed to a handful of
    tasks (the driver testdata writes each table as ONE parquet row
    group — the atomic split unit — so every scan becomes effectively
    single-task and serializes all downstream map work).

    No-op whenever the scan already parallelizes (any real multi-file
    / multi-row-group layout, i.e. production), so plans at scale are
    untouched; on degenerate inputs one round-robin exchange buys full
    map-side parallelism for the CPU-heavy operators (decimal
    aggregation, JSON/base64 codec, shingling). Catalyst still pushes
    filters and column pruning THROUGH the repartition, so the
    exchange carries only the columns and rows the query needs.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 4):
        return df.repartition(target)
    return df
