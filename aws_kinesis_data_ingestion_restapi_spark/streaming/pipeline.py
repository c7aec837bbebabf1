"""The streaming ingestion pipeline (SURVEY §3.2/§3.3, build plan §7.1-5).

Topology (reference → here):

  Kinesis stream                 → any streaming DataFrame of envelope
                                   rows (file source in tests; the
                                   Kinesis/Kafka connector in prod is a
                                   ``readStream.format(...)`` swap)
  4× Firehose+Lambda → S3        → ``derive_all_tables`` + partitioned
                                   parquet appends (terraform/main.tf:
                                   654-719, 863-927, 1075-1139,
                                   1286-1350)
  Lambda consumer → DynamoDB     → ``serving_upsert`` keyed on
                                   (customer_id, order_id)
                                   (lambda_kinesis_consumer:9-49)
  Firehose errors/ prefix        → ``write_errors`` quarantine
                                   (main.tf:676)

Delivery semantics (SURVEY §7.3), strictly stronger than the
reference's: the source is at-least-once, and every sink is
idempotent per micro-batch, so replays CONVERGE to the crash-free
state — effective exactly-once end to end. The table and error
writes go to deterministic ``bid={batch_id}`` partition directories
in OVERWRITE mode (the standard idempotent-foreachBatch recipe: a
given batch id always carries the same offset-pinned input rows, so
re-executing it rewrites the same directory byte-equivalently instead
of appending duplicates — the Firehose one-object-per-flush layout,
made transactional); the serving view is a keyed last-write-wins
upsert. The reference's own contract is weaker: at-least-once Lambda
retries + DynamoDB ``put_item`` idempotence, with duplicate S3
objects possible on consumer errors.

Scale notes: the batch body touches the stream once (one persisted
copy of the micro-batch; the good and corrupt slices are filters over
it), all derivations are codegen'd column expressions, and the six
sinks always run, concurrently, like the reference's consumers of one
Kinesis record.
Each partitioned table write puts one file in each partition value by
one size rule (``sinks.write_partitioned``): a batch the plan
estimates at most AQE's advisory partition size is written by one task
with no exchange (one Spark job), a bigger one through a REBALANCE
exchange on its partition columns. The serving upsert is one keyed
merge behind one hash exchange on the bucket (one file per bucket);
the size rule is not applied there, as one-task coalescing of the
merge measured slower (BENCH_NOTES.md, "one size rule for table
writes"). No sink collects data to the driver.
"""

from __future__ import annotations

import functools
import logging
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from aws_kinesis_data_ingestion_restapi_spark.operators.transforms import (
    derive_all_tables,
    to_serving_items,
    event_timestamp_expr,
)
from aws_kinesis_data_ingestion_restapi_spark.sinks import (
    serving_upsert,
    write_errors,
    write_partitioned,
)
from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
    read_envelope_stream,
    split_corrupt,
)
from aws_kinesis_data_ingestion_restapi_spark.streaming.observability import (
    with_audit_metrics,
)

log = logging.getLogger(__name__)


class IngestionPipeline:
    """One ``foreachBatch`` orchestrator = the whole reference pipeline.

    Parameters
    ----------
    warehouse:
        Root dir for the four partitioned parquet tables (the S3 bucket
        analog).
    serving_path:
        Keyed upsert store (the DynamoDB table analog).
    errors_path:
        Quarantine root (the Firehose ``errors/`` prefix).
    with_partitions:
        Materialize the reference's Hive-style partition layouts
        (orders→customer_id, product_details→year, shipping→country,
        purchase→year/month). Turn off for small test batches.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        serving_path: str,
        errors_path: str,
        with_partitions: bool = True,
    ) -> None:
        self.spark = spark
        self.warehouse = warehouse
        self.serving_path = serving_path
        self.errors_path = errors_path
        self.with_partitions = with_partitions

    # -- the foreachBatch body -------------------------------------------------
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Decoded-envelope micro-batch → 6 sinks, reading the batch once.

        The persist() is the Spark-native replacement for the
        reference's 5-consumer fan-out: five Firehose/Lambda consumers
        each pull the SAME Kinesis records over the network; here the
        micro-batch slice is materialized once, and every sink reads
        it locally through a filter (good rows or corrupt ones).
        Like those consumers, the sinks run concurrently, one thread
        each, so their per-job fixed costs (planning, task launch,
        file commit) overlap instead of adding up. Each thread inherits
        this thread's local properties (the query's job group, so
        ``query.stop()`` cancels in-flight writes) and the session's
        tags. Every sink finishes before the batch does: the first
        failure is raised only after all of them end, and only then is
        the persisted copy released, on every path. The audit log line
        gives each sink's wall time.

        Idempotence: each table write targets the deterministic
        ``bid={batch_id}`` directory in overwrite mode. The offsets
        WAL pins a batch id to one input set, so a crash-replayed
        batch rewrites its own directory instead of appending a
        second copy — readers of ``{warehouse}/{table}`` see each
        record exactly once, with ``bid`` discoverable as a partition
        column (per-batch lineage for free). Restart contract pinned
        in tests/test_streaming.py::
        test_pipeline_restart_replays_exactly_once.
        """
        batch.persist()
        try:
            good, bad = split_corrupt(batch)
            # sinks are looked up as module globals here, per batch, so
            # a wrapper bound on this module sees every call
            sinks = {
                "errors": functools.partial(
                    write_errors, bad, self.errors_path, batch_id=batch_id
                )
            }
            for name, df in derive_all_tables(
                good, with_partitions=self.with_partitions
            ).items():
                sinks[name] = functools.partial(
                    write_partitioned,
                    df,
                    f"{self.warehouse}/{name}/bid={batch_id}",
                    table=name,
                    # partition layout only exists when the derived
                    # partition columns were materialized
                    partition_cols=None if self.with_partitions else [],
                )
            sinks["serving"] = functools.partial(
                serving_upsert, self.spark, to_serving_items(good), self.serving_path
            )
            wall_ms = self._run_sinks(sinks)
            # T11 audit log (the lambdas' "Successfully processed N records")
            log.info(
                "batch %d: sink ms %s",
                batch_id,
                " ".join(f"{k}={v:.0f}" for k, v in wall_ms.items()),
            )
        finally:
            # unpersist on EVERY path: a sink failure followed by
            # crash-replays would otherwise leak one cached copy of
            # the batch per attempt
            batch.unpersist()

    def _run_sinks(self, sinks: dict) -> dict[str, float]:
        """Run every sink on its own thread; return each one's wall ms.

        Each target is wrapped here, in the ``foreachBatch`` thread:
        the wrapper copies this thread's local properties when it is
        made, and one wrapper per sink gives each thread its own copy
        (Spark sets per-execution properties on it while a job runs).
        """

        def timed(fn) -> float:
            t0 = time.perf_counter()
            fn()
            return (time.perf_counter() - t0) * 1000

        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            futures = {
                k: pool.submit(inheritable_thread_target(self.spark)(timed), fn)
                for k, fn in sinks.items()
            }
        # the pool has joined every thread: raise the first failure
        return {k: f.result() for k, f in futures.items()}

    # -- query lifecycle -------------------------------------------------------
    def start(
        self,
        decoded_stream: DataFrame,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        """Attach the pipeline to a decoded-envelope streaming DataFrame.

        ``trigger`` kwargs go to ``DataStreamWriter.trigger`` —
        ``{"processingTime": "30 seconds"}`` mirrors the reference's
        batching knobs (main.tf:275-276); ``{"availableNow": True}``
        drains the backlog and stops (used by tests/backfills).

        The T11 per-batch record counters are always attached via
        ``observe()`` — free (no extra pass); read them with an
        ``observability.AuditListener``.
        """
        writer = (
            with_audit_metrics(decoded_stream)
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("update")
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()


def run_pipeline_once(
    spark: SparkSession,
    input_path: str,
    warehouse: str,
    checkpoint: str,
    serving_path: str,
    errors_path: str,
    with_partitions: bool = True,
    timeout_s: int = 300,
) -> None:
    """Drain all available envelope NDJSON under ``input_path`` through
    the full pipeline and stop (``availableNow`` trigger). Re-running
    with the same checkpoint only processes NEW files — the
    at-least-once + checkpoint contract in one call.
    """
    pipeline = IngestionPipeline(
        spark,
        warehouse,
        serving_path=serving_path,
        errors_path=errors_path,
        with_partitions=with_partitions,
    )
    query = pipeline.start(
        read_envelope_stream(spark, input_path),
        checkpoint=checkpoint,
        trigger={"availableNow": True},
    )
    try:
        # awaitTermination(timeout) returns False on TIMEOUT with the
        # drain still running — returning normally then would report a
        # PARTIAL backfill as success (same contract as the gate
        # adapters' _drain: fail loudly, never truncate)
        if not query.awaitTermination(timeout_s):
            raise RuntimeError(
                f"pipeline drain did not finish within {timeout_s}s; "
                "the warehouse holds only part of the input"
            )
    finally:
        if query.isActive:
            query.stop()


def tumbling_order_stats(
    decoded_stream: DataFrame,
    window_duration: str = "30 seconds",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """E4: the 30 s tumbling window the reference configures but never
    uses (event source mapping ``tumbling_window_in_seconds=30``,
    main.tf:278) — realized as a watermarked streaming aggregate.

    Works on both a streaming and a batch DataFrame of decoded events
    (the batch form is the oracle-checkable equivalent).
    """
    ts = event_timestamp_expr()  # the shared T2 trailing-Z contract
    df = decoded_stream.withColumn("_event_ts", ts)
    if df.isStreaming:
        df = df.withWatermark("_event_ts", watermark_delay)
        # exact distinct isn't supported in streaming aggregation state;
        # HLL is the scalable streaming answer. Batch mode stays exact
        # (and oracle-comparable).
        n_customers = F.approx_count_distinct("customer_id")
    else:
        n_customers = F.count_distinct("customer_id")
    return (
        df.groupBy(F.window("_event_ts", window_duration).alias("w"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("purchaise_details.amount").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_amount"),
            n_customers.alias("n_customers"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_orders",
            "total_amount",
            "n_customers",
        )
    )
