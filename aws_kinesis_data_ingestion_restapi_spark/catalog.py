"""Catalog registration (K5): the Glue-catalog analog.

The reference declares 4 EXTERNAL Parquet tables over S3 prefixes
(terraform/main.tf:731-776, 932-987, 1144-1199, 1355-1405) and queries
them from Athena by hyphenated names (athena_sql_query_examples/*.sql,
e.g. ``purchase-details-ingestion-dev-table``). Two registration forms:

- :func:`register_derived_tables` — session temp views (tests, ad-hoc);
- :func:`create_external_tables` — real ``CREATE TABLE ... USING
  PARQUET LOCATION`` DDL in the session catalog: the exact Spark
  counterpart of the reference's external-table Glue decls. With a
  persistent metastore configured (Hive/Glue via
  ``spark.sql.catalogImplementation``), the same DDL is durable across
  sessions; data stays external either way (DROP TABLE never deletes
  the parquet).

:func:`run_reference_sql` executes the reference's Athena ``.sql``
files verbatim: a name shim rewrites the hyphenated table identifiers
(quoted or not — Athena is lenient about the unquoted form) onto the
registered underscore tables before parsing.
"""

from __future__ import annotations

import os
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from aws_kinesis_data_ingestion_restapi_spark.schema import TABLE_PARTITIONS

DERIVED_TABLES = (
    "orders",
    "product_details",
    "shipping_addresses",
    "purchase_details",
)

#: ``"shipping-addresses-ingestion-dev-table"`` (quotes optional, any
#: env segment) → capture the logical prefix for underscore mapping.
_ATHENA_NAME_RE = re.compile(
    r'"?([A-Za-z][A-Za-z-]*?)-ingestion-[A-Za-z0-9]+-table"?'
)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe that works for ANY filesystem the session can
    reach. ``os.path.exists`` is always False for non-local URIs
    (s3a://, hdfs://), which made the registration loops silently
    skip every table of a remote layout and return an empty dict."""
    if "://" not in path:
        return os.path.exists(path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def _sql_str(value: str) -> str:
    """Escape a string for embedding in a single-quoted SQL literal."""
    return value.replace("'", "''")


def _sql_ident(name: str) -> str:
    """Backtick-quote an identifier (database or table segment)."""
    return "`" + name.replace("`", "``") + "`"


def register_parquet_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Register a parquet directory as a temp view (partition columns
    are discovered from the Hive-style layout and ARE queryable —
    unlike the reference's Glue decls, SURVEY §1.2)."""
    df = spark.read.parquet(path)
    df.createOrReplaceTempView(name)
    return df


def register_derived_tables(spark: SparkSession, base_path: str) -> dict[str, DataFrame]:
    """Register all four derived tables written under ``base_path``."""
    out: dict[str, DataFrame] = {}
    for name in DERIVED_TABLES:
        path = os.path.join(base_path, name)
        if _path_exists(spark, path):
            out[name] = register_parquet_table(spark, name, path)
    return out


def create_external_tables(
    spark: SparkSession, base_path: str, database: str | None = None
) -> dict[str, DataFrame]:
    """K5, persistent form: ``CREATE TABLE ... USING PARQUET LOCATION``
    per derived table — matching the reference's external Glue tables
    (terraform/main.tf:731-776 etc.) rather than session temp views.

    Partitioned layouts get ``RECOVER PARTITIONS`` so the catalog knows
    every Hive-style partition (the Glue-crawler analog); partition
    pruning then works through the table name. Re-running replaces the
    table metadata in place; the external parquet is never touched.
    """
    out: dict[str, DataFrame] = {}
    if database is not None:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {_sql_ident(database)}")
    for name in DERIVED_TABLES:
        path = os.path.join(base_path, name)
        if not _path_exists(spark, path):
            continue
        # identifiers backticked, the location single-quote-escaped: a
        # legal POSIX path containing an apostrophe (or a database
        # name needing quoting) must not break the interpolated DDL
        qualified = (
            f"{_sql_ident(database)}.{_sql_ident(name)}"
            if database
            else _sql_ident(name)
        )
        spark.sql(f"DROP TABLE IF EXISTS {qualified}")
        spark.sql(
            f"CREATE TABLE {qualified} USING PARQUET "
            f"LOCATION '{_sql_str(path)}'"
        )
        if TABLE_PARTITIONS.get(name):
            try:
                spark.sql(f"ALTER TABLE {qualified} RECOVER PARTITIONS")
            except AnalysisException:  # NOT_A_PARTITIONED_TABLE: written flat
                pass
        plain = f"{database}.{name}" if database else name
        out[name] = spark.table(plain)
    return out


def normalize_reference_sql(sql_text: str) -> str:
    """Rewrite the reference's Athena table identifiers onto the
    registered underscore names: ``"orders-ingestion-dev-table"`` (or
    unquoted) → ``orders``; works for any ``<x>-ingestion-<env>-table``.
    """
    normalized = _ATHENA_NAME_RE.sub(
        lambda m: m.group(1).replace("-", "_"), sql_text
    )
    return normalized.strip().rstrip(";")


def run_reference_sql(spark: SparkSession, sql_text: str) -> DataFrame:
    """Execute one of the reference's Athena ``.sql`` files byte-for-
    byte against the registered tables (temp views or external DDL
    tables — Spark resolves temp views first)."""
    return spark.sql(normalize_reference_sql(sql_text))
