"""Package-boundary verify drive (see .claude/skills/verify/SKILL.md).

Envelope NDJSON (good + corrupt) -> read_envelope_json -> split_corrupt
-> derive_all_tables -> write_partitioned -> register_derived_tables ->
REFERENCE_SQL, cross-checked against duckdb on the engine's own parquet.
"""
import json
import os
import shutil
import tempfile
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from aws_kinesis_data_ingestion_restapi_spark import get_spark
from aws_kinesis_data_ingestion_restapi_spark.sources.generator import (
    envelope_records,
)
from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
    read_envelope_json,
    split_corrupt,
)
from aws_kinesis_data_ingestion_restapi_spark.operators.transforms import (
    derive_all_tables,
)
from aws_kinesis_data_ingestion_restapi_spark.sinks import (
    serving_upsert,
    write_partitioned,
)
from aws_kinesis_data_ingestion_restapi_spark.catalog import (
    register_derived_tables,
)
from aws_kinesis_data_ingestion_restapi_spark.queries import REFERENCE_SQL


def drive(spark, base):
    """Run every probe of the drive in ``base``; raises on a failed one."""
    nd = os.path.join(base, "envelopes.ndjson")
    out = os.path.join(base, "out")

    with open(nd, "w") as f:
        for rec in envelope_records(n=200, seed=7):
            f.write(json.dumps(rec) + "\n")
        # corrupt: bad base64, JSON missing keys, empty data
        f.write(json.dumps({"StreamName": "s", "PartitionKey": "p",
                            "Data": "!!!notbase64!!!"}) + "\n")
        f.write(json.dumps({"StreamName": "s", "PartitionKey": "p",
                            "Data": "eyJmb28iOiAxfQ=="}) + "\n")  # {"foo": 1}
        f.write(json.dumps({"StreamName": "s", "PartitionKey": "p",
                            "Data": ""}) + "\n")

    raw = read_envelope_json(spark, nd)
    good, bad = split_corrupt(raw)
    ng, nb = good.count(), bad.count()
    print("good", ng, "bad", nb)
    assert ng == 200, ng
    assert nb == 3, nb
    assert bad.filter(bad.result == "ProcessingFailed").count() == nb

    tables = derive_all_tables(good, with_partitions=True)
    for name, df in tables.items():
        write_partitioned(df, os.path.join(out, name), table=name)
    register_derived_tables(spark, out)

    res = {name: spark.sql(sql).collect() for name, sql in REFERENCE_SQL.items()}
    for name, rows in res.items():
        print(name, len(rows))
        assert len(rows) > 0, name

    # duckdb cross-check on the SAME parquet the engine wrote
    con = duckdb.connect()
    oc = con.execute(
        f"SELECT sa.country, CAST(SUM(CAST(pd.amount AS DECIMAL(18,2))) AS DOUBLE) s "
        f"FROM read_parquet('{out}/purchase_details/**/*.parquet', hive_partitioning=true) pd "
        f"JOIN read_parquet('{out}/shipping_addresses/**/*.parquet', hive_partitioning=true) sa "
        f"  ON pd.order_id = sa.order_id "
        f"GROUP BY 1 ORDER BY 1"
    ).fetchall()
    sp = {
        r["country"]: float(r["total_sales"])
        for r in spark.sql(REFERENCE_SQL["total_sales_per_country"]).collect()
    }
    assert len(oc) == len(sp), (len(oc), len(sp))
    for country, s in oc:
        assert abs(sp[country] - s) < 1e-6, (country, sp[country], s)
    print("duckdb cross-check: total_sales_per_country OK over", len(oc), "countries")

    # replay idempotence probe: serving upsert same batch twice
    store = os.path.join(base, "store")
    odf = tables["orders"]
    serving_upsert(spark, odf, store)
    c1 = spark.read.parquet(store).count()
    serving_upsert(spark, odf, store)
    c2 = spark.read.parquet(store).count()
    assert c1 == c2 == ng, (c1, c2, ng)
    # the store is a link to its one live version
    assert os.path.islink(store), store
    versions = os.listdir(os.path.join(base, ".store.versions"))
    assert versions == [os.path.basename(os.readlink(store))], versions
    print("serving replay idempotent:", c1)

    # empty NDJSON probe
    empty = os.path.join(base, "empty.ndjson")
    open(empty, "w").close()
    eraw = read_envelope_json(spark, empty)
    eg, eb = split_corrupt(eraw)
    assert eg.count() == 0 and eb.count() == 0
    print("empty file: 0 good / 0 bad, no crash")


base = tempfile.mkdtemp(prefix="verify_drive_")
spark = get_spark(app_name="verify-drive", shuffle_partitions=4)
try:
    drive(spark, base)
finally:
    spark.stop()
    shutil.rmtree(base)
print("DRIVE OK")
