"""Sinks: partitioned Parquet tables, keyed upsert serving view, error sink.

Storage mirrors the reference at rest — Snappy Parquet in Hive-style
partition layouts (terraform/main.tf:675, 883, 1095, 1306;
compression variables.tf:56-60) — but with one strict upgrade: Spark
REGISTERS the partition columns, so they are queryable and prunable
(the reference's Glue tables declare no partition_keys — SURVEY §1.2).

The serving sink is the DynamoDB analog (main.tf:347-370): an
idempotent keyed upsert on (customer_id, order_id). Without Delta in
this environment, the MERGE is emulated with a hash-bucketed partial
rewrite: the store is laid out as ``bucket=K/`` Hive partitions keyed
by ``pmod(xxhash64(keys), SERVING_N_BUCKETS)``, and an upsert rewrites
ONLY the buckets the batch touches — untouched bucket files stay
byte-identical.
The rewrite is one keyed merge behind one shuffle on ``bucket``: stored
and new rows meet in a last-write-wins window per key. Rewrite cost
scales with the batch's key spread, not the store size (the parquet
analog of DynamoDB touching only the written partitions; on
Delta/Iceberg the same logic is ``MERGE INTO``).

A store has one layout, bucketed from its first write: a directory
holding only ``bucket=K`` dirs (and hidden debris). Any other visible
entry is refused, so a foreign parquet dir is never merged into or
overwritten.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_kinesis_data_ingestion_restapi_spark.schema import TABLE_PARTITIONS

SERVING_KEYS = ["customer_id", "order_id"]

#: ``maxRecordsPerFile`` of every table write: bounds file sizes like
#: the Firehose 128 MB buffer (main.tf:668) bounds flush sizes — at
#: 100 TB you want many right-sized files per partition, not one giant
#: or thousands tiny.
MAX_RECORDS_PER_FILE = 1_000_000


def write_partitioned(
    df: DataFrame,
    path: str,
    table: str | None = None,
    partition_cols: list[str] | None = None,
) -> None:
    """K1+K2: partitioned Snappy parquet write, the reference's format
    (Firehose parquet conversion, main.tf:654-719), in OVERWRITE mode:
    ``path`` is the write's own directory, so rewriting it is
    idempotent. ``partition_cols`` defaults to the layout of ``table``
    (:data:`~aws_kinesis_data_ingestion_restapi_spark.schema.TABLE_PARTITIONS`);
    ``[]`` writes flat.

    A partitioned write puts each partition value in one task and one
    file (:func:`_one_task_per_value`). Without that every input task
    writes a file into every partition directory it holds rows for: a
    1,200-record micro-batch left ~160 files across the four tables
    instead of ~40.
    """
    if partition_cols is None and table is not None:
        partition_cols = TABLE_PARTITIONS.get(table, [])
    if partition_cols:
        df = _one_task_per_value(df, partition_cols)
    writer = df.write.mode("overwrite").option(
        "maxRecordsPerFile", MAX_RECORDS_PER_FILE
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def _one_task_per_value(df: DataFrame, partition_cols: list[str]) -> DataFrame:
    """The size rule of a partitioned write. A frame whose plan
    estimate is at most ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    is written by one task (``coalesce(1)``, no shuffle): the one
    reducer AQE would fold it into anyway, minus the shuffle-map job.
    A bigger one goes through a REBALANCE exchange on the partition
    columns, which AQE sizes from the data (and splits a skewed value
    across tasks). The estimate comes from the plan (file sizes, or a
    cached relation's size), so no job runs. Neither choice changes
    the rows written, only the file count; Spark drops the hint when
    AQE is off."""
    spark = df.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    if int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) <= advisory:
        return df.coalesce(1)
    return df.hint("rebalance", *partition_cols)


def write_errors(bad: DataFrame, base_path: str, batch_id: int) -> None:
    """E1: quarantine failed records under ``errors/`` (main.tf:676).

    The quarantine lands in a deterministic ``bid={batch_id}``
    partition dir in OVERWRITE mode — a replayed micro-batch rewrites
    the same directory instead of appending duplicates (the same
    exactly-once recipe as the table sinks; streaming/pipeline.py)."""
    bad.write.mode("overwrite").parquet(
        os.path.join(base_path, "errors", f"bid={batch_id}")
    )


#: Bucket count of every serving store. It is part of the store's
#: layout: an upsert reads only the buckets its batch hashes to, so a
#: store written with another count would keep stale rows of keys that
#: sit in their old bucket. Changing it needs a full rewrite of every
#: store, which nothing here does.
SERVING_N_BUCKETS = 16


def _bucket_expr():
    """Stable key→bucket hash (xxhash64 is version-stable and cheap)."""
    return F.pmod(F.xxhash64(*SERVING_KEYS), F.lit(SERVING_N_BUCKETS)).cast("int")


def _has_buckets(store_path: str) -> bool:
    """The store check, one listing: True when the store holds
    ``bucket=K`` dirs (merge into them), False when it holds no visible
    entry (new, or emptied by deletes: write in place). Any other
    visible entry raises, naming the path."""
    entries = os.listdir(store_path) if os.path.exists(store_path) else []
    visible = [e for e in entries if not e.startswith(("_", "."))]
    foreign = sorted(e for e in visible if not e.startswith("bucket="))
    if foreign:
        raise ValueError(
            f"{store_path} is not a bucketed serving store: it holds {foreign[:3]}"
        )
    return bool(visible)


def serving_upsert(spark: SparkSession, batch: DataFrame, store_path: str) -> None:
    """K4+E3: idempotent keyed upsert — the DynamoDB ``put_item`` analog.

    Semantics (lambda_kinesis_consumer:48 + at-least-once Kinesis):
    last-write-wins per (customer_id, order_id); replaying a batch is a
    no-op. Batch-internal dups collapse to one of their rows (put_item
    order within one poll is arbitrary in the reference too).

    Scale design: the store is hash-bucketed on the key
    (``bucket=pmod(xxhash64(keys), SERVING_N_BUCKETS)`` Hive
    partitions). An upsert reads and rewrites ONLY the touched buckets,
    as one keyed merge behind one shuffle (:func:`_rewrite_buckets`);
    untouched bucket files are never opened, and the touched-bucket
    list collected to the driver is bounded by ``SERVING_N_BUCKETS``.
    Each bucket swap is a rename-aside (old dir renamed away, new dir
    renamed in, aside deleted) — NOT atomic, but the unrecoverable
    window is two pure renames and a crash never leaves the store
    without the bucket's data on disk; cross-bucket atomicity needs a
    transactional format (``MERGE INTO`` on Delta/Iceberg — the
    documented production target), matching the reference's per-item
    (non-transactional) DynamoDB batch writes.

    The bucket count is fixed (:data:`SERVING_N_BUCKETS`); nothing
    re-buckets a store. A new or emptied store is written bucketed in
    place; a path holding anything but ``bucket=K`` dirs raises
    ``ValueError`` and is left untouched.
    """
    new = batch.withColumn("_del", F.lit(False))
    _rewrite_buckets(spark, store_path, new)


def _write_buckets(df: DataFrame, path: str) -> None:
    """Bucketed store write. Callers ``repartition("bucket")`` first,
    so each bucket sits in one task and each ``bucket=K`` dir gets one
    file, with AQE on or off."""
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)


def _rewrite_buckets(spark: SparkSession, store_path: str, new: DataFrame) -> None:
    """The keyed merge both serving writers share. ``new`` holds the
    change rows plus a boolean ``_del`` (a tombstone). Per key of a
    touched bucket one row survives, a ``new`` row over a stored one;
    a surviving tombstone is dropped (a bucket left empty is removed).

    Crash recovery runs FIRST, before any read: a prior run may have
    left the only copy of a bucket under an aside name. Then one
    listing (:func:`_has_buckets`) picks the path: merge into the
    stored buckets, or write a new or emptied store in place.

    One shuffle: the stored rows of the touched buckets (a
    partition-pruned, schema-inferred read, so a store/batch column
    mismatch fails loudly in ``unionByName``) and ``new`` are
    hash-partitioned on ``bucket``, which also satisfies the window
    (keyed on ``bucket`` + keys) and the partitioned write."""
    _recover_debris(store_path)
    merged = new.withColumns({"bucket": _bucket_expr(), "_new": F.lit(1)})
    target, touched = store_path, None
    if _has_buckets(store_path):
        # inferred before the collect: its footer-read job then runs
        # while the collect still waits on the batch's first read
        stored = spark.read.parquet(store_path)
        touched = sorted(r[0] for r in merged.select("bucket").distinct().collect())
        if not touched:
            return
        existing = stored.filter(F.col("bucket").isin(touched)).withColumns(
            {"bucket": F.col("bucket").cast("int"), "_del": F.lit(False),
             "_new": F.lit(0)}
        )
        merged = existing.unionByName(merged)
        target = store_path.rstrip("/") + f"._staging_{uuid.uuid4().hex}"
    w = Window.partitionBy("bucket", *SERVING_KEYS).orderBy(F.desc("_new"))
    _write_buckets(
        merged.repartition("bucket")
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("_del"))
        .drop("_rn", "_new", "_del"),
        target,
    )
    if touched is not None:
        _swap_buckets(target, store_path, touched)


def _recover_debris(store_path: str) -> None:
    """Entry-time crash recovery, run before ANY read of the store.

    Two debris classes:

    1. Per-bucket asides (``._old_bucket=K`` inside the store, left by
       :func:`_swap_buckets`): a missing ``bucket=K`` means the aside
       holds that bucket's ONLY rows (the crash hit between the two
       replaces) — rename it back; without the restore the
       partition-pruned scan sees zero existing rows for K and every
       key not in the new batch is silently lost. An aside next to an
       intact ``bucket=K`` is a stale copy from after the second
       replace — delete it.
    2. Crashed staging siblings (``<store>._staging_<uuid>``): a run
       that died between its staging write and the swap leaves a full
       merged copy of the touched buckets under a uuid name no later
       run ever references — readers never see it (hidden), but each
       crash would otherwise leak a store-sized directory forever.

    Single-writer contract (documented on serving_upsert): no
    concurrent upsert's LIVE staging dir can be present here."""
    if os.path.isdir(store_path):
        for entry in os.listdir(store_path):
            if entry.startswith("._old_bucket="):
                aside = os.path.join(store_path, entry)
                bucket = os.path.join(store_path, entry[len("._old_"):])
                if os.path.exists(bucket):
                    shutil.rmtree(aside)
                else:
                    os.replace(aside, bucket)
    parent, name = os.path.split(store_path.rstrip("/"))
    parent = parent or "."
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            if entry.startswith(name + "._staging_"):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)


def _swap_buckets(staging: str, store_path: str, touched: list[int]) -> None:
    """Swap each touched bucket via rename-aside: old data stays
    readable (under a hidden aside dir) until the new dir is in place,
    so a crash anywhere leaves every bucket's rows on disk — between
    the two replaces they sit under the aside name, which
    :func:`_recover_debris` renames back at the next upsert's
    entry. Cross-bucket atomicity still needs a transactional table
    format (Delta/Iceberg MERGE INTO — the documented production
    target). A touched bucket with NO staged dir (every row deleted)
    is removed."""
    for b in touched:
        src = os.path.join(staging, f"bucket={b}")
        dst = os.path.join(store_path, f"bucket={b}")
        # leading dot: Spark's file listing ignores hidden entries, so
        # a crash-leftover aside dir is invisible to readers
        aside = os.path.join(store_path, f"._old_bucket={b}")
        if os.path.exists(aside):
            # entry recovery ran before the store was read, so any
            # aside still present alongside its bucket is stale
            shutil.rmtree(aside)
        had_old = os.path.exists(dst)
        if had_old:
            os.replace(dst, aside)
        if os.path.exists(src):
            os.replace(src, dst)
        if had_old:
            shutil.rmtree(aside)
    shutil.rmtree(staging, ignore_errors=True)


def serving_apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    new_snapshot: DataFrame,
    store_path: str,
) -> None:
    """CDC APPLY: feed a keyed change feed — the exact output shape of
    ``operators/cdc.snapshot_diff`` (key columns + ``change_type`` ∈
    insert/update/delete) — into the bucketed serving store.
    Inserts/updates take their payload rows from ``new_snapshot``
    (snapshot_diff carries only keys + digests, by design — the shuffle
    stays key-sized); deletes remove the key. Replaying the same feed
    is a no-op (idempotent, like serving_upsert).

    Same keyed merge as serving_upsert: a delete is a keys-only
    tombstone that beats the stored row and is then dropped, so only
    the buckets touched by ANY change are scanned and rewritten, and a
    bucket whose rows are all deleted is dropped from the store.
    """
    keyed = changes.filter(F.col("change_type").isin("insert", "update", "delete"))
    is_del = F.col("change_type") == "delete"
    ups = new_snapshot.join(
        keyed.filter(~is_del).select(*SERVING_KEYS), SERVING_KEYS, "left_semi"
    ).withColumn("_del", F.lit(False))
    tombstones = keyed.filter(is_del).select(*SERVING_KEYS, F.lit(True).alias("_del"))
    new = ups.unionByName(tombstones, allowMissingColumns=True)
    _rewrite_buckets(spark, store_path, new)
