"""The 5 reference queries vs an independent plain-Python oracle,
plus the full batch pipeline (write → catalog → SQL) round trip."""

from __future__ import annotations

import os
from collections import defaultdict

import pytest

from aws_kinesis_data_ingestion_restapi_spark import queries as Q
from aws_kinesis_data_ingestion_restapi_spark.catalog import register_derived_tables
from aws_kinesis_data_ingestion_restapi_spark.operators.transforms import derive_all_tables
from aws_kinesis_data_ingestion_restapi_spark.sinks import write_partitioned


@pytest.fixture(scope="module")
def tables(events_df):
    t = derive_all_tables(events_df)
    for df in t.values():
        df.cache()
    return t


def _python_oracle(events):
    sales_by_country = defaultdict(float)
    income_by_payment = defaultdict(float)
    qty_by_name = defaultdict(int)
    amounts = []
    for ev in events:
        amt = ev["purchaise_details"]["amount"]
        amounts.append(amt)
        sales_by_country[ev["shipping_address"]["country"]] += amt
        income_by_payment[ev["purchaise_details"]["payment_type"]] += amt
        for p in ev["product_details"]:
            qty_by_name[p["name"]] += p["quantity"]
    return sales_by_country, income_by_payment, qty_by_name, amounts


def test_total_sales_per_country(tables, events_raw):
    want, _, _, _ = _python_oracle(events_raw)
    got = {r["country"]: r["total_sales"]
           for r in Q.q_total_sales_per_country(
               tables["purchase_details"], tables["shipping_addresses"]).collect()}
    assert set(got) == set(want)
    for c in want:
        assert abs(got[c] - want[c]) < 1e-6


def test_average_order_value(tables, events_raw):
    _, _, _, amounts = _python_oracle(events_raw)
    got = Q.q_average_order_value(tables["purchase_details"]).first()
    assert abs(got["average_order_value"] - sum(amounts) / len(amounts)) < 1e-9


def test_total_income_per_payment_method_sorted_desc(tables, events_raw):
    _, want, _, _ = _python_oracle(events_raw)
    rows = Q.q_total_income_per_payment_method(tables["purchase_details"]).collect()
    got = {r["payment_type"]: r["total_income"] for r in rows}
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6
    vals = [r["total_income"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_most_sales_products_groups_by_name(tables, events_raw):
    _, _, want, _ = _python_oracle(events_raw)
    got = {r["name"]: r["total_quantity_sold"]
           for r in Q.q_most_sales_products(tables["product_details"]).collect()}
    assert got == dict(want)


def test_order_and_client_details(tables, events_raw):
    rows = Q.q_order_and_client_details(
        tables["orders"], tables["shipping_addresses"]).collect()
    assert len(rows) == len(events_raw)  # 1-1 join is loss-less
    assert len(rows[0].asDict()) == 9


def test_full_pipeline_write_catalog_sql(spark, events_df, events_raw, tmp_path):
    """Build slice end-to-end: derive → partitioned parquet → register →
    run the SQL form of every reference query (SURVEY §7.1 step 2-3)."""
    base = str(tmp_path / "warehouse")
    tables = derive_all_tables(events_df, with_partitions=True)
    for name, df in tables.items():
        write_partitioned(df, f"{base}/{name}", table=name)
    registered = register_derived_tables(spark, base)
    assert set(registered) == {"orders", "product_details",
                               "shipping_addresses", "purchase_details"}
    want_country, want_pay, want_name, amounts = _python_oracle(events_raw)

    got = {r["country"]: r["total_sales"]
           for r in spark.sql(Q.REFERENCE_SQL["total_sales_per_country"]).collect()}
    for c in want_country:
        assert abs(got[c] - want_country[c]) < 1e-6

    avg = spark.sql(Q.REFERENCE_SQL["average_order_value"]).first()
    assert abs(avg["average_order_value"] - sum(amounts) / len(amounts)) < 1e-9

    got_name = {r["name"]: r["total_quantity_sold"]
                for r in spark.sql(Q.REFERENCE_SQL["most_sales_products"]).collect()}
    assert got_name == dict(want_name)

    details = spark.sql(Q.REFERENCE_SQL["order_and_client_details"])
    assert details.count() == len(events_raw)
    # partition columns materialized in layout AND queryable (unlike Glue ref)
    assert spark.sql(
        "SELECT DISTINCT month FROM purchase_details ORDER BY month"
    ).count() >= 1


REFERENCE_SQL_DIR = "/root/reference/athena_sql_query_examples"


@pytest.mark.skipif(
    not os.path.isdir(REFERENCE_SQL_DIR), reason="reference checkout not present"
)
def test_reference_sql_files_run_verbatim(spark, events_df, events_raw, tmp_path):
    """K5 persistent form + SURVEY §7.3: external-table DDL over the
    partitioned warehouse, then every reference Athena .sql file
    executes byte-for-byte through the hyphenated-name shim and matches
    the plain-Python oracle."""
    from aws_kinesis_data_ingestion_restapi_spark.catalog import (
        create_external_tables,
        run_reference_sql,
    )

    base = str(tmp_path / "wh_ddl")
    tables = derive_all_tables(events_df, with_partitions=True)
    for name, df in tables.items():
        write_partitioned(df, f"{base}/{name}", table=name)
    # temp views shadow catalog tables; drop any left by other tests
    for name in tables:
        spark.catalog.dropTempView(name)
    registered = create_external_tables(spark, base)
    assert set(registered) == {
        "orders", "product_details", "shipping_addresses", "purchase_details"
    }
    # DDL tables see the partition columns (RECOVER PARTITIONS ran)
    assert "month" in registered["purchase_details"].columns

    sqls = {
        fn: open(os.path.join(REFERENCE_SQL_DIR, fn)).read()
        for fn in sorted(os.listdir(REFERENCE_SQL_DIR))
        if fn.endswith(".sql")
    }
    assert len(sqls) == 5
    want_country, want_pay, want_name, amounts = _python_oracle(events_raw)

    got = {r["country"]: r["total_sales"]
           for r in run_reference_sql(spark, sqls["TotalSalesPerCountry.sql"]).collect()}
    assert set(got) == set(want_country)
    for c in want_country:
        assert abs(got[c] - want_country[c]) < 1e-6

    avg = run_reference_sql(spark, sqls["GetAverageOrderValue.sql"]).first()
    assert abs(avg["average_order_value"] - sum(amounts) / len(amounts)) < 1e-9

    got_pay = {r["payment_type"]: r["total_income"]
               for r in run_reference_sql(
                   spark, sqls["TotalIncomePerPaymentMethod.sql"]).collect()}
    for k in want_pay:
        assert abs(got_pay[k] - want_pay[k]) < 1e-6

    got_name = {r["name"]: r["total_quantity_sold"]
                for r in run_reference_sql(
                    spark, sqls["MostSalesProducts.sql"]).collect()}
    assert got_name == dict(want_name)

    details = run_reference_sql(spark, sqls["OrderAndClientDetails.sql"])
    assert details.count() == len(events_raw)
    assert len(details.columns) == 9

    # partition pruning reaches the scan through the DDL catalog table
    one_country = registered["shipping_addresses"].select("country").first()[0]
    plan = spark.sql(
        f"SELECT street FROM shipping_addresses WHERE country = '{one_country}'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(country" in plan
    spark.sql("DROP TABLE IF EXISTS orders")
    spark.sql("DROP TABLE IF EXISTS product_details")
    spark.sql("DROP TABLE IF EXISTS shipping_addresses")
    spark.sql("DROP TABLE IF EXISTS purchase_details")


# ---------------------------------------------------------------------------
# window-function analytics (invariants; exact values are gate-checked
# against the DuckDB oracle in scripts/check_correctness.py)
# ---------------------------------------------------------------------------


def test_top_orders_per_customer_rank_invariants(spark):
    from aws_kinesis_data_ingestion_restapi_spark.analytics import top_orders_per_customer

    out = top_orders_per_customer(spark, "/root/testdata/sf0.001", k=3).collect()
    per_cust = {}
    for r in out:
        per_cust.setdefault(r["customer_id"], []).append(r)
    for cust, rows in per_cust.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1)), cust
        assert len(rows) <= 3
        by_rank = sorted(rows, key=lambda r: r["rank"])
        amounts = [r["amount"] for r in by_rank]
        assert amounts == sorted(amounts, reverse=True), cust


def test_payment_type_share_sums_to_one(spark):
    from aws_kinesis_data_ingestion_restapi_spark.analytics import payment_type_share

    out = payment_type_share(spark, "/root/testdata/sf0.001").collect()
    assert abs(sum(r["income_share"] for r in out) - 1.0) < 1e-9
    incomes = [r["total_income"] for r in out]
    assert incomes == sorted(incomes, reverse=True)


def test_customer_running_spend_monotone(spark):
    from aws_kinesis_data_ingestion_restapi_spark.analytics import customer_running_spend

    out = customer_running_spend(spark, "/root/testdata/sf0.001").collect()
    per_cust = {}
    for r in out:
        per_cust.setdefault(r["customer_id"], []).append(r)
    for cust, rows in per_cust.items():
        rows.sort(key=lambda r: (r["order_date"], int(r["order_id"])))
        running = [r["running_spend"] for r in rows]
        assert running == sorted(running), cust
        assert abs(running[-1] - sum(r["amount"] for r in rows)) < 1e-6, cust
