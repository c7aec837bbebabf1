"""Sinks: partitioned Parquet tables, keyed upsert serving view, error sink.

Storage mirrors the reference at rest — Snappy Parquet in Hive-style
partition layouts (terraform/main.tf:675, 883, 1095, 1306;
compression variables.tf:56-60) — but with one strict upgrade: Spark
REGISTERS the partition columns, so they are queryable and prunable
(the reference's Glue tables declare no partition_keys — SURVEY §1.2).

The serving sink is the DynamoDB analog (main.tf:347-370): an
idempotent keyed upsert on (customer_id, order_id). Without Delta in
this environment, the MERGE is emulated by rewriting the store: it
holds ``bucket=K/`` Hive partitions keyed by
``pmod(xxhash64(keys), SERVING_N_BUCKETS)``, and a write merges the
whole live store with its batch, one keyed merge behind one shuffle
on ``bucket``: stored and new rows meet in a last-write-wins window
per key. Rewriting only the buckets a batch touches would save
nothing here: a batch of n keys misses a given bucket with
probability (15/16)^n, so a 1,000-row batch touches all 16. The cost
of a write grows with the store, not the batch.

Each write is atomic: a reader sees all of it or none, as no
DynamoDB reader sees half of a ``put_item``. ``store_path`` is a
relative symlink to ``<parent>/.<name>.versions/<N>/``; a write builds
version N+1 beside N and commits it by renaming a new link onto
``store_path`` (the Iceberg pattern of one pointer swap; on
Delta/Iceberg the same logic is ``MERGE INTO``). Every reader follows
the link, so a plain ``spark.read.parquet(store_path)`` sees version N
or N+1, never a mix.

A store has one layout from its first write. Any other entry at the
path is refused, so a foreign parquet dir is never merged into or
overwritten.
"""

from __future__ import annotations

import os
import shutil

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
#: layout: the merge matches a key only within its bucket, so a store
#: written with another count would keep stale rows of keys that sit
#: in their old bucket. Changing it needs a full rewrite of every
#: store, which nothing here does.
SERVING_N_BUCKETS = 16


def _bucket_expr():
    """Stable key→bucket hash (xxhash64 is version-stable and cheap)."""
    return F.pmod(F.xxhash64(*SERVING_KEYS), F.lit(SERVING_N_BUCKETS)).cast("int")


def serving_upsert(spark: SparkSession, batch: DataFrame, store_path: str) -> None:
    """K4+E3: idempotent keyed upsert — the DynamoDB ``put_item`` analog.

    Semantics (lambda_kinesis_consumer:48 + at-least-once Kinesis):
    last-write-wins per (customer_id, order_id); replaying a batch is a
    no-op. Batch-internal dups collapse to one of their rows (put_item
    order within one poll is arbitrary in the reference too).

    Scale design: the store is hash-bucketed on the key
    (``bucket=pmod(xxhash64(keys), SERVING_N_BUCKETS)`` Hive
    partitions). An upsert merges the whole store with the batch, as
    one keyed merge behind one shuffle (:func:`_rewrite_buckets`);
    nothing is collected to the driver. The work grows with the store,
    not the batch.

    Each write is atomic: it lands as a new version of the store,
    committed by one link rename. Spark records file paths through the
    link, so a DataFrame listed before a commit and run after it fails
    with ``FAILED_READ_FILE.FILE_NOT_EXIST``; it never silently mixes
    versions. One writer per store at a time: two concurrent writes
    would both build the same next version.

    The bucket count is fixed (:data:`SERVING_N_BUCKETS`); nothing
    re-buckets a store. A new store (no path, or an empty dir) is
    written whole; a path holding anything but the store's link raises
    ``ValueError`` and is left untouched.
    """
    new = batch.withColumn("_del", F.lit(False))
    _rewrite_buckets(spark, store_path, new)


def _write_buckets(df: DataFrame, path: str) -> None:
    """Bucketed store write. Callers ``repartition("bucket")`` first,
    so each bucket sits in one task and each ``bucket=K`` dir gets one
    file, with AQE on or off."""
    df.write.mode("overwrite").partitionBy("bucket").parquet(path)


def _versions_dir(store: str) -> str:
    """``<parent>/.<name>.versions``: hidden, so no listing of the
    parent picks the superseded versions up."""
    parent, name = os.path.split(store)
    return os.path.join(parent, f".{name}.versions")


def _live_version(store: str) -> int | None:
    """The version the store's link names, or None for a new store
    (no path, or an empty dir). Anything else at the path raises,
    naming it, before anything is touched."""
    if os.path.islink(store):
        head, _, version = os.readlink(store).rpartition("/")
        if head == os.path.basename(_versions_dir(store)) and version.isdigit():
            return int(version)
    elif not os.path.exists(store) or (os.path.isdir(store) and not os.listdir(store)):
        return None
    raise ValueError(
        f"{store} is not a serving store (a link into {_versions_dir(store)})"
    )


def _drop_stale(versions: str, keep: int | None) -> None:
    """Delete every entry of the versions dir but version ``keep``:
    superseded versions, and whatever a crashed write left there (a
    partial version, an uncommitted link)."""
    if not os.path.isdir(versions):
        return
    for entry in os.listdir(versions):
        if entry == str(keep):
            continue
        path = os.path.join(versions, entry)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path)
        else:
            os.remove(path)


def _rewrite_buckets(spark: SparkSession, store_path: str, new: DataFrame) -> None:
    """The keyed merge both serving writers share. ``new`` holds the
    change rows plus a boolean ``_del`` (a tombstone). Per key one row
    survives, a ``new`` row over a stored one; a surviving tombstone is
    dropped (a bucket left empty is removed).

    The write makes version N+1 beside the live version N, then
    commits it with one atomic step:

    1. delete every entry of the versions dir but N (what a crashed
       write left there);
    2. write the merge of all of N with ``new`` into N+1;
    3. commit: a new link to N+1, renamed onto ``store_path``;
    4. delete N.

    A crash before step 3 leaves the link on N, whole; a crash after
    it leaves N+1 live. Either way step 1 of the next write clears the
    rest.

    One shuffle: the stored rows (a schema-inferred read, so a
    store/batch column mismatch fails loudly in ``unionByName``) and
    ``new`` are hash-partitioned on ``bucket``, which also satisfies
    the window (keyed on ``bucket`` + keys) and the partitioned write."""
    store = store_path.rstrip("/")
    versions = _versions_dir(store)
    live = _live_version(store)
    _drop_stale(versions, live)
    live_dir = os.path.join(versions, str(live))
    merged = new.withColumns({"bucket": _bucket_expr(), "_new": F.lit(1)})
    # a version with no bucket dir (every key deleted) has no schema to
    # infer, so it is merged as a new store
    if live is not None and any(e.startswith("bucket=") for e in os.listdir(live_dir)):
        stored = spark.read.parquet(live_dir).withColumns(
            {"bucket": F.col("bucket").cast("int"), "_del": F.lit(False),
             "_new": F.lit(0)}
        )
        merged = stored.unionByName(merged)
    version = (live or 0) + 1
    target = os.path.join(versions, str(version))
    w = Window.partitionBy("bucket", *SERVING_KEYS).orderBy(F.desc("_new"))
    _write_buckets(
        merged.repartition("bucket")
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("_del"))
        .drop("_rn", "_new", "_del"),
        target,
    )
    link = os.path.join(versions, "link")
    os.symlink(os.path.join(os.path.basename(versions), str(version)), link)
    if not os.path.islink(store) and os.path.isdir(store):
        os.rmdir(store)  # a new store's empty dir; a rename cannot replace it
    os.replace(link, store)
    _drop_stale(versions, version)


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
    tombstone that beats the stored row and is then dropped, so a
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
