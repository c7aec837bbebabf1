"""Cross-batch streaming operators on the engine's built-in keyed state.

The reference pipeline is stateless per record (each Lambda invocation
sees only its batch; the only cross-batch memory is DynamoDB's upsert
semantics — lambda_kinesis_consumer/lambda_function.py:48). These
operators add the cross-batch state the north star needs:

- ``streaming_dedup``: emit only the FIRST occurrence of each key
  across the whole stream (exactly-once-per-key downstream semantics on
  an at-least-once source) — the streaming form of
  ``operators.dedup.dedup_keep_first``.
- ``streaming_running_totals``: per-customer running order count /
  amount — the stateful serving-view aggregate (what the reference
  approximates by re-reading DynamoDB).

Both are plain DataFrame operators (``dropDuplicates`` and a streaming
``groupBy().agg()``), so their state lives in the JVM state store
(RocksDB-backed on a real cluster via
``spark.sql.streaming.stateStore.providerClass``), partitioned by the
shuffle on the key, with no Python worker in the per-record path. A
watermark is what bounds state: pass ``watermark=(ts_col, delay)`` to
the dedup when the key space churns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("customer_id", "order_id"),
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """First-occurrence-only filter across micro-batches: replays of a
    key already seen in ANY earlier batch are dropped, so an
    at-least-once source feeds exactly-once-per-key sinks. Output
    schema == input schema; state is one entry per distinct key.

    ``watermark=(ts_col, delay)`` bounds state by event time."""
    if watermark is not None:
        # dropDuplicates does NOT evict keyed state when the watermark
        # advances unless the event-time column is part of the key
        # subset — plain dropDuplicates under a watermark would grow
        # state with every distinct key forever. WithinWatermark drops
        # a key's state once the watermark passes its event time +
        # delay (a far-later replay then re-emits).
        events = events.withWatermark(*watermark)
        return events.dropDuplicatesWithinWatermark(list(key_cols))
    return events.dropDuplicates(list(key_cols))


def streaming_running_totals(events: DataFrame) -> DataFrame:
    """Per-customer running (n_orders, total_amount), emitted in update
    mode every micro-batch the customer appears in — the streaming form
    of the serving view's read-modify-write pattern.

    Each amount is rounded to integer cents (HALF_EVEN) BEFORE summing,
    so the running sum is exact regardless of batch order; only the
    emitted value divides back to a double."""
    cents = F.bround(F.col("purchaise_details.amount").cast("double") * 100)
    return events.groupBy("customer_id").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents.cast("long")) / 100.0).alias("total_amount"),
    )
