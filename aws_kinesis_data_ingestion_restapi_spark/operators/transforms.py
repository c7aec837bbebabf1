"""The four table derivations — pure ``DataFrame → DataFrame`` functions.

These are the Spark-first re-expression of the reference's four
Firehose-transform Lambdas (SURVEY §2.2). Each one is a projection /
flatten / explode declared with built-in column expressions, so the
whole thing runs inside whole-stage codegen — no Python in the hot
path, works identically in batch and Structured Streaming.

Semantic-fidelity notes (SURVEY §7.3):
- timestamp parse strips ALL trailing "Z"s then parses ISO-8601
  (``datetime.fromisoformat(x.rstrip("Z"))``, orders lambda:24);
- partition values are zero-padded STRINGS (``strftime('%Y'/'%m')``,
  orders lambda:25-29) so paths read ``month=07``, not ``month=7``;
- ``orders.order_date`` is a DATE (time-of-day dropped; orders
  lambda:32,38 + Glue type main.tf:766-768);
- the event field is ``purchaise_details`` (typo load-bearing);
- the serving item drops ``purchaise_details`` entirely
  (lambda_kinesis_consumer:33-40).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TS = "_event_ts"  # internal parsed-timestamp column


def event_timestamp_expr() -> "F.Column":
    """The T2 parse contract as a bare expression — the ONE definition
    of the trailing-Z rule, shared by the table derivations and the
    streaming aggregates (``rstrip("Z")`` in the reference strips ALL
    trailing Z's; mirrored with ``regexp_replace(..., 'Z+$', '')``.
    The producer emits exactly one Z, but the contract is the
    lambda's, not the producer's)."""
    return F.to_timestamp(F.regexp_replace(F.col("order_date"), "Z+$", ""))


def parse_event_timestamp(events: DataFrame) -> DataFrame:
    """T2: parse ``order_date`` (ISO-8601 + trailing "Z") to timestamp
    (see :func:`event_timestamp_expr` for the contract)."""
    return events.withColumn(_TS, event_timestamp_expr())


def with_partition_columns(events: DataFrame) -> DataFrame:
    """T4: derived partition columns as zero-padded strings
    (``strftime('%Y'/'%m'/'%d'/'%H')``, orders lambda:25-29).

    All four are computed (like every lambda does); each sink
    materializes only its subset (K2).
    """
    ts = F.col(_TS)
    return (
        events.withColumn("year", F.date_format(ts, "yyyy"))
        .withColumn("month", F.date_format(ts, "MM"))
        .withColumn("day", F.date_format(ts, "dd"))
        .withColumn("hour", F.date_format(ts, "HH"))
    )


def _prepared(events: DataFrame) -> DataFrame:
    if _TS not in events.columns:
        events = parse_event_timestamp(events)
    return events


def to_orders(events: DataFrame) -> DataFrame:
    """T1+T3: the ``orders`` table — 4-field projection with the
    order_date cast to DATE (orders lambda:35-40; Glue main.tf:755-774).
    Its partition column, ``customer_id`` (main.tf:675), is already a
    data column — no extra derivation.
    """
    df = _prepared(events)
    return df.select(
        F.col("customer_id"),
        F.col("order_id"),
        F.to_date(F.col(_TS)).alias("order_date"),
        F.col("status"),
    )


def to_product_details(events: DataFrame, with_partitions: bool = False) -> DataFrame:
    """T7: ``product_details`` — explode the product array, flatten the
    2-level ``item_details`` struct, join ``order_id`` onto each row
    (product lambda:34-43; Glue main.tf:956-985).

    Spark's ``explode`` is the native 1→N fan-out; the reference's
    synthetic recordId suffixes (T8) are Firehose bookkeeping with no
    data meaning and are not reproduced.
    """
    df = _prepared(events)
    if with_partitions:
        df = with_partition_columns(df)
    exploded = df.select(
        F.col("order_id"),
        F.explode(F.col("product_details")).alias("p"),
        *([F.col("year")] if with_partitions else []),
    )
    return exploded.select(
        F.col("p.product_id").alias("product_id"),
        F.col("order_id"),
        F.col("p.name").alias("name"),
        F.col("p.quantity").alias("quantity"),
        F.col("p.item_details.color").alias("color"),
        F.col("p.item_details.size").alias("size"),
        *([F.col("year")] if with_partitions else []),
    )


def to_shipping_addresses(events: DataFrame) -> DataFrame:
    """T6: ``shipping_addresses`` — flatten the address struct
    (shipping lambda:32-39; Glue main.tf:1168-1197). Partition col is
    ``country``, already a data column — no extra derivation.
    """
    df = _prepared(events)
    return df.select(
        F.col("order_id"),
        F.col("shipping_address.country").alias("country"),
        F.col("shipping_address.state").alias("state"),
        F.col("shipping_address.city").alias("city"),
        F.col("shipping_address.street").alias("street"),
        F.col("shipping_address.zip").alias("zip"),
    )


def to_purchase_details(events: DataFrame, with_partitions: bool = False) -> DataFrame:
    """T5: ``purchase_details`` — flatten ``purchaise_details`` (typo on
    the INPUT side only; purchase lambda:31-37; Glue main.tf:1379-1403).
    """
    df = _prepared(events)
    cols = [
        F.col("order_id"),
        F.col("purchaise_details.payment_type").alias("payment_type"),
        F.col("purchaise_details.amount").alias("amount"),
        F.col("purchaise_details.currency").alias("currency"),
        F.col("purchaise_details.instalments").alias("instalments"),
    ]
    if with_partitions:
        df = with_partition_columns(df)
        cols += [F.col("year"), F.col("month")]
    return df.select(*cols)


def to_serving_items(events: DataFrame) -> DataFrame:
    """K4 projection: the DynamoDB-bound item — six top-level fields,
    nested structs intact, ``purchaise_details`` DROPPED
    (lambda_kinesis_consumer:33-40). Keyed on (customer_id, order_id);
    the upsert itself lives in sinks.serving_upsert.
    """
    return events.select(
        "customer_id", "order_id", "order_date", "status",
        "shipping_address", "product_details",
    )


def derive_all_tables(events: DataFrame, with_partitions: bool = False) -> dict[str, DataFrame]:
    """All four derived tables from one event frame (the fan-out, §3.2).

    One source DataFrame reused four ways — in streaming this runs
    inside a single ``foreachBatch`` so the stream is read ONCE per
    micro-batch (vs the reference's 4 Firehoses each re-reading the
    Kinesis stream). The timestamp is parsed once here; the two tables
    with date partitions derive their own partition columns.
    """
    prepared = parse_event_timestamp(events)
    return {
        "orders": to_orders(prepared),
        "product_details": to_product_details(prepared, with_partitions),
        "shipping_addresses": to_shipping_addresses(prepared),
        "purchase_details": to_purchase_details(prepared, with_partitions),
    }
