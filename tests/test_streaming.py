"""Streaming pipeline tests: one foreachBatch fan-out, checkpoint replay,
error quarantine, serving idempotence, tumbling window (SURVEY §3.2/§3.3,
§2 E1/E3/E4)."""

from __future__ import annotations

import base64
import json
import os

import pytest

from aws_kinesis_data_ingestion_restapi_spark.sources import envelope_records
from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
    read_envelope_json,
    read_envelope_stream,
)
from aws_kinesis_data_ingestion_restapi_spark.streaming import (
    run_pipeline_once,
    tumbling_order_stats,
)


def _write_ndjson(path, records):
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def stream_dirs(tmp_path):
    d = {
        "input": tmp_path / "input",
        "warehouse": tmp_path / "warehouse",
        "serving": tmp_path / "serving",
        "errors": tmp_path / "errors",
        "checkpoint": tmp_path / "checkpoint",
    }
    d["input"].mkdir()
    return {k: str(v) for k, v in d.items()}


def _run(spark, d):
    run_pipeline_once(
        spark,
        d["input"],
        d["warehouse"],
        d["checkpoint"],
        serving_path=d["serving"],
        errors_path=d["errors"],
        with_partitions=False,
    )


def test_pipeline_end_to_end(spark, stream_dirs):
    d = stream_dirs
    recs = envelope_records(n=40, seed=1)
    corrupt = [
        {"StreamName": "s", "PartitionKey": "p", "Data": "%%%bad%%%"},
        {
            "StreamName": "s",
            "PartitionKey": "p",
            "Data": base64.b64encode(b'{"unrelated": true}').decode(),
        },
    ]
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs[:25] + corrupt)
    _write_ndjson(os.path.join(d["input"], "b1.json"), recs[25:])
    _run(spark, d)

    orders = spark.read.parquet(f"{d['warehouse']}/orders")
    products = spark.read.parquet(f"{d['warehouse']}/product_details")
    shipping = spark.read.parquet(f"{d['warehouse']}/shipping_addresses")
    purchase = spark.read.parquet(f"{d['warehouse']}/purchase_details")
    assert orders.count() == 40
    assert products.count() == 80  # exactly 2 products per order (G2)
    assert shipping.count() == 40
    assert purchase.count() == 40
    # E1: both corrupt shapes quarantined with Firehose status vocab
    errors = spark.read.parquet(f"{d['errors']}/errors")
    assert errors.count() == 2
    assert errors.select("result").distinct().collect()[0][0] == "ProcessingFailed"
    # serving view: one item per (customer_id, order_id), purchaise dropped
    serving = spark.read.parquet(d["serving"])
    assert serving.count() == 40
    assert "purchaise_details" not in serving.columns
    assert "shipping_address" in serving.columns


def test_audit_metrics_per_batch(spark, stream_dirs):
    """T11: per-batch record counts surface via observe() + listener,
    matching the reference's 'Successfully processed N records' audit
    (lambda_orders_transformation:58) — with zero extra passes."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming import AuditListener

    d = stream_dirs
    recs = envelope_records(n=30, seed=11)
    corrupt = [{"StreamName": "s", "PartitionKey": "p", "Data": "%%%bad%%%"}]
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs[:20] + corrupt)
    _write_ndjson(os.path.join(d["input"], "b1.json"), recs[20:])

    listener = AuditListener()
    spark.streams.addListener(listener)
    try:
        _run(spark, d)
        # progress events are delivered async, after query termination
        assert listener.wait_for(31), f"metrics incomplete: {listener.records}"
    finally:
        spark.streams.removeListener(listener)

    assert listener.records, "no observed metrics reached the listener"
    assert listener.total_records == 31
    assert listener.total_failed == 1
    for entry in listener.records:
        assert set(entry) >= {"batch_id", "n_records", "n_failed"}


def test_checkpoint_skips_processed_files(spark, stream_dirs):
    d = stream_dirs
    recs = envelope_records(n=10, seed=2)
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs)
    _run(spark, d)
    assert spark.read.parquet(f"{d['warehouse']}/orders").count() == 10

    # same checkpoint, no new files → no duplicate appends
    _run(spark, d)
    assert spark.read.parquet(f"{d['warehouse']}/orders").count() == 10

    # new file with 5 more → exactly 5 appended
    more = envelope_records(n=5, seed=3)
    _write_ndjson(os.path.join(d["input"], "b1.json"), more)
    _run(spark, d)
    assert spark.read.parquet(f"{d['warehouse']}/orders").count() == 15


def test_serving_upsert_last_write_wins(spark, stream_dirs):
    d = stream_dirs
    recs = envelope_records(n=8, seed=4)
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs)
    _run(spark, d)

    # replay the SAME orders with a changed status (at-least-once
    # redelivery with newer payload) → count unchanged, status updated
    updated = []
    for r in recs:
        ev = json.loads(base64.b64decode(r["Data"]))
        ev["status"] = "shipped"
        updated.append({**r, "Data": base64.b64encode(json.dumps(ev).encode()).decode()})
    _write_ndjson(os.path.join(d["input"], "b1.json"), updated)
    _run(spark, d)

    serving = spark.read.parquet(d["serving"])
    assert serving.count() == 8
    statuses = {r[0] for r in serving.select("status").distinct().collect()}
    assert statuses == {"shipped"}


def test_tumbling_order_stats_streaming_matches_batch(spark, stream_dirs, tmp_path):
    d = stream_dirs
    recs = envelope_records(n=60, seed=5)
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs)

    batch = tumbling_order_stats(read_envelope_json(spark, d["input"]))
    batch_rows = {tuple(r) for r in batch.collect()}
    assert batch_rows  # non-empty

    from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
        read_envelope_stream,
    )

    out = []
    q = (
        tumbling_order_stats(read_envelope_stream(spark, d["input"]))
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; every
    # emitted window must match the batch result exactly (incl. the
    # exact-vs-approx distinct count, identical on this cardinality)
    assert out
    for row in out:
        assert tuple(row) in batch_rows


def test_stream_static_enrichment_broadcast(spark, tmp_path):
    """enrich_stream joins each micro-batch against the static dim
    without shuffling the stream side; left mode keeps unmatched
    events with null enrichment."""
    import json as _json

    from aws_kinesis_data_ingestion_restapi_spark.streaming.enrichment import (
        enrich_stream,
    )

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"customer_id": "1", "amount": 10.0},
        {"customer_id": "2", "amount": 20.0},
        {"customer_id": "99", "amount": 5.0},  # no dim match
    ]
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows))
    dim = spark.createDataFrame(
        [("1", "FRANCE"), ("2", "KENYA")], ["customer_id", "nation"]
    )
    stream = (
        spark.readStream.schema("customer_id string, amount double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = []
    q = (
        enrich_stream(stream, dim, on="customer_id", how="left")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["customer_id"]: r["nation"] for r in out}
    assert got == {"1": "FRANCE", "2": "KENYA", "99": None}


def test_streaming_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The replay dedup must run unchanged on the RocksDB state store —
    the disk-backed provider a 100 TB cluster actually uses (the
    default in-memory HDFSBackedStateStore caps state at executor
    heap). Same inputs, same provider-independent results."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        _drain,
        _order_stream,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.stateful import (
        streaming_dedup,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        stream, d = _order_stream(spark, "/root/testdata/sf0.001", replays=2)
        out = _drain(streaming_dedup(stream), "append", "rocksdedup")
        n = out.count()
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        assert n == orders.select("o_custkey", "o_orderkey").distinct().count()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_rocksdb_checkpoint_with_crc_files_resumes_without_them(spark, tmp_path):
    """The RocksDB state store copies its SST files into the checkpoint
    through the cached local ``FileSystem``, which on a local master
    writes no ``.crc`` sidecars (its zip metadata goes through
    ``FileContext`` and keeps them). A checkpoint written while the SST
    files still got sidecars (checksums on) resumes with them off: the
    snapshot loads, and the dedup holds across the restart."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    local_fs = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    field = spark._jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.ChecksumFileSystem"
    ).getDeclaredField("writeChecksum")
    field.setAccessible(True)
    session_writes_checksums = field.getBoolean(local_fs)
    src, ckpt = tmp_path / "in", str(tmp_path / "ckpt")
    src.mkdir()
    seen = []

    def drain():
        q = (
            spark.readStream.schema("k long").json(str(src))
            .dropDuplicates(["k"])
            .writeStream.foreachBatch(
                lambda df, _: seen.extend(r.k for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "drain timed out"
        finally:
            q.stop()

    def sst_files():
        """SST file -> whether a ``.crc`` sidecar sits next to it."""
        return {
            os.path.join(dp, f): os.path.exists(os.path.join(dp, f".{f}.crc"))
            for dp, _, fs in os.walk(os.path.join(ckpt, "state"))
            for f in fs
            if f.endswith(".sst")
        }

    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        _write_ndjson(str(src / "a.json"), [{"k": k % 10} for k in range(20)])
        local_fs.setWriteChecksum(True)
        try:
            drain()
        finally:
            local_fs.setWriteChecksum(session_writes_checksums)
        before = sst_files()
        assert before and all(before.values()), before
        _write_ndjson(str(src / "b.json"), [{"k": k} for k in range(5, 15)])
        drain()
        new = {f: crc for f, crc in sst_files().items() if f not in before}
        assert new and not any(new.values()), new
        assert sorted(seen) == list(range(15))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_streaming_dedup_watermark_bounds_state(spark):
    """The watermarked form must route through
    dropDuplicatesWithinWatermark: plain dropDuplicates under a
    watermark never evicts keyed state (the event-time column is not
    in the key subset), so the 'bounded state' the parameter promises
    was a no-op. Pin the plan node AND the end-to-end replay
    semantics (duplicates within the watermark still emit once)."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        _drain,
        _order_stream,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.stateful import (
        streaming_dedup,
    )

    from pyspark.sql import functions as F

    stream, d = _order_stream(spark, "/root/testdata/sf0.001", replays=2)
    stream = stream.withColumn(
        "o_ts", F.to_timestamp(F.regexp_replace("order_date", "Z+$", ""))
    )
    deduped = streaming_dedup(
        stream, watermark=("o_ts", "10 minutes")
    )
    plan = deduped._jdf.queryExecution().logical().toString()
    assert "DeduplicateWithinWatermark" in plan, plan[:300]
    out = _drain(deduped, "append", "wmdedup", cleanup_dir=d)
    n = out.count()
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert n == orders.select("o_custkey", "o_orderkey").distinct().count()


def _delete_wal_commit(checkpoint: str, batch_id: int) -> None:
    """Simulate a crash in the window between a batch's sink work and
    its checkpoint commit: the offsets WAL entry survives (the batch's
    input set is pinned) but the commit marker is gone, so a restarted
    query MUST re-execute exactly that batch. This is checkpoint
    surgery rather than a literal kill -9, but it reproduces the
    identical recovery state deterministically (no race against the
    micro-batch loop)."""
    commit = os.path.join(checkpoint, "commits", str(batch_id))
    assert os.path.exists(commit), f"no commit marker for batch {batch_id}"
    os.remove(commit)
    # checkpoint logs still keep .crc siblings (they go through
    # FileContext's checksummed LocalFs); a stale .N.crc makes the
    # re-commit rename fail as a phantom concurrent query
    crc = os.path.join(checkpoint, "commits", f".{batch_id}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_native_file_sink_exactly_once_across_crash_restart(spark, tmp_path):
    """SURVEY §7.3 streaming exactly-once (VERDICT r5 ask #6), native
    file sink: a query killed after writing batch 0's files but before
    recording its commit must NOT duplicate those rows when the
    restarted query replays batch 0 — the parquet sink's own
    _spark_metadata log recognizes the committed batch and skips the
    re-write; readers go through that log and see each record once."""
    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _write_ndjson(os.path.join(str(inp), "b0.json"), envelope_records(8, seed=21))

    def run():
        decoded = read_envelope_stream(
            spark, str(inp), max_files_per_trigger=1
        )
        q = (
            decoded.select("customer_id", "order_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    assert spark.read.parquet(out).count() == 8
    # crash window: batch 0's files are on disk + in the sink log, the
    # WAL commit is not; a new file arrives before the restart
    _delete_wal_commit(ck, 0)
    _write_ndjson(os.path.join(str(inp), "b1.json"), envelope_records(7, seed=22))
    run()
    got = spark.read.parquet(out)
    assert got.count() == 15, "replayed batch 0 must not be re-emitted"
    assert got.select("customer_id", "order_id").distinct().count() == 15


def test_pipeline_restart_replays_exactly_once(spark, stream_dirs):
    """SURVEY §7.3 exactly-once (VERDICT r5 ask #6), foreachBatch
    pipeline: after a crash between batch 0's sink work and its
    commit, the restart re-runs batch 0 through ALL sinks. Every sink
    must CONVERGE to the crash-free state: the tables because each
    batch overwrites its own deterministic bid= directory (a replay
    rewrites, never appends), the serving store because the keyed
    upsert is last-write-wins — the DynamoDB put_item analog."""
    d = stream_dirs
    recs0 = envelope_records(8, seed=31)
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs0)
    _run(spark, d)
    _delete_wal_commit(d["checkpoint"], 0)
    recs1 = envelope_records(7, seed=32)
    _write_ndjson(os.path.join(d["input"], "b1.json"), recs1)
    _run(spark, d)

    keys = {
        (json.loads(base64.b64decode(r["Data"]))["customer_id"],
         json.loads(base64.b64decode(r["Data"]))["order_id"])
        for r in recs0 + recs1
    }
    serving = spark.read.parquet(d["serving"])
    rows = serving.select("customer_id", "order_id").collect()
    got = [(r["customer_id"], r["order_id"]) for r in rows]
    assert len(got) == len(set(got)), "serving store grew duplicate keys"
    assert set(got) == keys, "serving store must converge to every key once"
    # the replayed batch hit the table sink twice — at-least-once,
    # every record present (8 dup + 8 + 7), none lost
    orders = spark.read.parquet(f"{d['warehouse']}/orders")
    # exactly-once: the replayed batch 0 REWROTE bid=0, so the table
    # holds each input record once — count equals the distinct
    # (customer_id, order_id) key count (bare order_ids are reused
    # across generator calls by design)
    assert orders.count() == len(keys)
    assert (
        orders.select("customer_id", "order_id").distinct().count()
        == len(keys)
    )
    # per-batch lineage column from the bid= layout
    assert set(r["bid"] for r in orders.select("bid").distinct().collect()) == {0, 1}


def test_pipeline_sink_failure_fails_batch_and_restart_converges(
    spark, stream_dirs, monkeypatch
):
    """The six sinks run concurrently, so a failing sink must still
    fail the whole batch (after the others ended), and the restart
    must replay that batch to the crash-free state: every table holds
    each record once and the serving store every key once."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming import pipeline

    d = stream_dirs
    recs = envelope_records(12, seed=41)
    _write_ndjson(os.path.join(d["input"], "b0.json"), recs)
    real = pipeline.write_partitioned
    failed = []

    def flaky(df, path, **kwargs):
        if kwargs.get("table") == "shipping_addresses" and not failed:
            failed.append(path)
            raise RuntimeError("injected sink failure")
        return real(df, path, **kwargs)

    monkeypatch.setattr(pipeline, "write_partitioned", flaky)
    with pytest.raises(Exception) as err:
        _run(spark, d)
    assert failed and "injected sink failure" in str(err.value)

    _run(spark, d)
    for table, n in (("orders", 12), ("product_details", 24),
                     ("shipping_addresses", 12), ("purchase_details", 12)):
        assert spark.read.parquet(f"{d['warehouse']}/{table}").count() == n
    keys = {
        (json.loads(base64.b64decode(r["Data"]))["customer_id"],
         json.loads(base64.b64decode(r["Data"]))["order_id"])
        for r in recs
    }
    got = [
        (r["customer_id"], r["order_id"])
        for r in spark.read.parquet(d["serving"]).collect()
    ]
    assert len(got) == len(keys) and set(got) == keys


def test_pipeline_sinks_run_in_the_query_job_group(
    spark, stream_dirs, monkeypatch
):
    """Each sink thread inherits the streaming query's job group, so
    ``query.stop()`` cancels in-flight writes and the group's job list
    covers every sink's jobs."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming import pipeline

    d = stream_dirs
    _write_ndjson(
        os.path.join(d["input"], "b0.json"), envelope_records(10, seed=42)
    )
    seen = []
    for name in ("write_errors", "write_partitioned", "serving_upsert"):
        def spy(*args, _real=getattr(pipeline, name), _name=name, **kwargs):
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            seen.append((kwargs.get("table", _name), group))
            return _real(*args, **kwargs)

        monkeypatch.setattr(pipeline, name, spy)
    p = pipeline.IngestionPipeline(
        spark, d["warehouse"], serving_path=d["serving"],
        errors_path=d["errors"], with_partitions=False,
    )
    q = p.start(
        read_envelope_stream(spark, d["input"]),
        checkpoint=d["checkpoint"], trigger={"availableNow": True},
    )
    try:
        assert q.awaitTermination(300), "drain timed out"
    finally:
        q.stop()
    run_id = str(q.runId)
    assert len({sink for sink, _ in seen}) == 6, seen
    assert all(group == run_id for _, group in seen), seen
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(run_id)
    assert len(jobs) >= len(seen), (jobs, seen)


def test_pipeline_writes_one_file_per_partition_value(spark, stream_dirs):
    """A batch read from several input files still writes ONE parquet
    file per partition directory of every table, and after several
    upserts each serving bucket holds one file."""
    d = stream_dirs
    recs = envelope_records(80, seed=43)
    for i in range(4):
        _write_ndjson(
            os.path.join(d["input"], f"b{i}.json"), recs[i * 15:(i + 1) * 15]
        )

    def run():
        run_pipeline_once(
            spark, d["input"], d["warehouse"], d["checkpoint"],
            serving_path=d["serving"], errors_path=d["errors"],
            with_partitions=True,
        )

    def parquet_files_per_dir(root):
        return {
            dirpath: sum(f.endswith(".parquet") for f in files)
            for dirpath, _, files in os.walk(root)
            if any(f.endswith(".parquet") for f in files)
        }

    run()
    # orders is partitioned by customer_id: many directories per batch
    assert len(parquet_files_per_dir(f"{d['warehouse']}/orders")) > 10
    for table in ("orders", "product_details", "shipping_addresses",
                  "purchase_details"):
        per_dir = parquet_files_per_dir(f"{d['warehouse']}/{table}")
        assert set(per_dir.values()) == {1}, (table, per_dir)
    for i, chunk in enumerate((recs[60:70], recs[70:80]), start=4):
        _write_ndjson(os.path.join(d["input"], f"b{i}.json"), chunk)
        run()
    per_bucket = parquet_files_per_dir(d["serving"])
    assert len(per_bucket) > 1 and set(per_bucket.values()) == {1}, per_bucket
    assert spark.read.parquet(d["serving"]).count() == 80


#: Spark jobs of one 30-file micro-batch into an existing serving store:
#: the three-job serving merge, one write job per table and one for the
#: errors, so 8; or 9 when AQE fills the cached batch in its own job
#: before a table write has filled it (a race). A shuffle per table
#: write adds two per table. Above 32 files Spark's listing job in
#: getBatch would add one; no measured ingest_steady batch held more
#: than 32 (BENCH_NOTES.md).
MICRO_BATCH_JOB_BUDGET = 9


def test_micro_batch_job_budget_and_no_checksum_files(spark, stream_dirs):
    """A micro-batch into an existing serving store stays within its
    job budget: no shuffle for a small table write. Local writes leave
    no ``.crc`` sidecar, and each partition directory still holds one
    parquet file."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming import pipeline

    d = stream_dirs
    p = pipeline.IngestionPipeline(
        spark, d["warehouse"], serving_path=d["serving"],
        errors_path=d["errors"], with_partitions=True,
    )

    def drain():
        q = p.start(
            read_envelope_stream(spark, d["input"]),
            checkpoint=d["checkpoint"], trigger={"availableNow": True},
        )
        try:
            assert q.awaitTermination(300), "drain timed out"
        finally:
            q.stop()
        return q

    _write_ndjson(os.path.join(d["input"], "warm.json"), envelope_records(10, seed=61))
    drain()  # the serving store now exists
    recs = envelope_records(300, seed=62)
    for i in range(30):
        _write_ndjson(
            os.path.join(d["input"], f"b{i:02d}.json"), recs[i * 10:(i + 1) * 10]
        )
    q = drain()
    assert [b["numInputRows"] for b in q.recentProgress if b["numInputRows"]] == [300]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) <= MICRO_BATCH_JOB_BUDGET, sorted(jobs)

    for root in (d["warehouse"], d["serving"], d["errors"]):
        crc = [f for _, _, files in os.walk(root) for f in files if f.endswith(".crc")]
        assert not crc, (root, crc[:5])
    for table in ("orders", "product_details", "shipping_addresses",
                  "purchase_details"):
        per_dir = [
            sum(f.endswith(".parquet") for f in files)
            for _, _, files in os.walk(f"{d['warehouse']}/{table}")
            if any(f.endswith(".parquet") for f in files)
        ]
        assert per_dir and set(per_dir) == {1}, (table, per_dir)


def test_pipeline_releases_the_cached_batch_on_every_path(
    spark, stream_dirs, monkeypatch
):
    """process_batch keeps ONE cached copy of the micro-batch while its
    sinks run, and releases it whether the batch commits or a sink
    raises: the count of persistent RDDs is back to its value before
    each batch."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming import pipeline

    d = stream_dirs
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    during = []
    real = pipeline.write_partitioned

    def spy(*args, **kwargs):
        real(*args, **kwargs)
        # this sink has read the cached batch, so the copy exists now
        during.append(jsc.getPersistentRDDs().size())

    monkeypatch.setattr(pipeline, "write_partitioned", spy)
    _write_ndjson(os.path.join(d["input"], "b0.json"), envelope_records(10, seed=51))
    _run(spark, d)
    assert during and set(during) == {before + 1}, (before, during)
    assert jsc.getPersistentRDDs().size() == before

    def failing(*args, **kwargs):
        raise RuntimeError("injected serving failure")

    monkeypatch.setattr(pipeline, "serving_upsert", failing)
    during.clear()
    _write_ndjson(os.path.join(d["input"], "b1.json"), envelope_records(10, seed=52))
    with pytest.raises(Exception, match="injected serving failure"):
        _run(spark, d)
    assert during and set(during) == {before + 1}, (before, during)
    assert jsc.getPersistentRDDs().size() == before


def test_pipeline_runs_on_continuous_rate_source(spark, stream_dirs, tmp_path):
    """The full fan-out fed the way a real stream feeds it: envelope
    files keep landing at a steady rate while a ``processingTime``
    query runs, so batches keep coming and there is no backlog to
    drain. The query is stopped mid-stream, after real batches commit;
    the assertions are on the tables it wrote."""
    import time

    from aws_kinesis_data_ingestion_restapi_spark.streaming.pipeline import (
        IngestionPipeline,
    )

    d = stream_dirs
    staged = tmp_path / "staged"
    staged.mkdir()
    wh = d["warehouse"]
    pipeline = IngestionPipeline(
        spark, wh, serving_path=d["serving"], errors_path=d["errors"],
        with_partitions=False,
    )
    q = pipeline.start(
        read_envelope_stream(spark, d["input"]),
        checkpoint=d["checkpoint"],
        trigger={"processingTime": "1 seconds"},
    )
    try:
        deadline = time.time() + 90
        i = 0
        while time.time() < deadline:
            # land whole files only: write aside, then rename in
            name = f"f{i:04d}.json"
            _write_ndjson(str(staged / name), envelope_records(20, seed=100 + i))
            os.rename(str(staged / name), os.path.join(d["input"], name))
            i += 1
            progress = q.lastProgress
            if progress and progress.get("batchId", 0) >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    orders = spark.read.parquet(f"{wh}/orders")
    n = orders.count()
    assert n > 0, "no orders committed from the feed"
    # codec round-trip integrity on continuously landed envelopes
    row = orders.limit(1).collect()[0]
    assert row["order_id"].startswith("o") and len(row["order_id"]) == 6
    products = spark.read.parquet(f"{wh}/product_details")
    # stop() can interrupt foreachBatch BETWEEN the per-table writes of
    # the final batch, so whole-table equality is racy: compare only
    # bids committed to BOTH tables (bid= partition dirs make each
    # batch's rows identifiable).
    common = (
        orders.select("bid").distinct()
        .join(products.select("bid").distinct(), "bid")
    )
    n_common = orders.join(common, "bid").count()
    assert n_common > 0, "no batch committed to both tables"
    assert (
        products.join(common, "bid").count() == 2 * n_common
    ), "exactly 2 products per order on fully committed batches"
    amounts = spark.read.parquet(f"{wh}/purchase_details")
    bad = amounts.filter("amount < 10.0 OR amount > 100.0").count()
    assert bad == 0, "amounts outside the producer domain"


def test_streaming_dedup_delta_matches_batch_corpus_verdicts(spark):
    """X115 ≡ X90 on the shared contract: the streaming band-index
    probe (drained under double delivery) must emit exactly the batch
    operator's dup_of_corpus verdicts — same docs flagged, same best
    match, same estimate — and novel docs everywhere else. The
    double-delivery fixture makes this a replay-idempotence proof:
    matching the single-copy batch result is only possible if the
    second delivery changed nothing."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        dedup_incremental_delta,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        streaming_dedup_delta,
    )

    sf = "/root/testdata/sf0.001"
    s = {
        r.doc_id: (r.is_dup, r.match_doc_id, r.est_jaccard)
        for r in streaming_dedup_delta(spark, sf).collect()
    }
    b = {r.doc_id: r for r in dedup_incremental_delta(spark, sf).collect()}
    assert set(s) == set(b)
    n_dup = 0
    for did, (is_dup, mid, est) in s.items():
        rb = b[did]
        assert is_dup == (rb.verdict == "dup_of_corpus"), (did, rb.verdict)
        if is_dup:
            n_dup += 1
            assert mid == rb.match_doc_id and est == rb.est_jaccard
        else:
            assert mid is None and est is None
    assert n_dup > 0, "fixture must exercise the corpus-dup path"


def test_streaming_drift_tvd_matches_batch_and_withholds_tail(spark):
    """X127: the drained per-window TVDs must equal a batch
    recomputation over the same tumbling windows + baseline, and the
    append-mode emission must withhold every window the final
    watermark (max ts - 1 h) has not closed."""
    from aws_kinesis_data_ingestion_restapi_spark import analytics
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        streaming_drift_tvd,
    )

    sf = "/root/testdata/sf0.001"
    out = streaming_drift_tvd(spark, sf).collect()
    assert out, "drain must emit closed windows"

    events = analytics._t(spark, sf, "events").select("ts", "event_type")
    rows = events.collect()
    import collections
    import datetime

    # Spark collects session-TZ-naive datetimes; do ALL the window
    # arithmetic in epoch seconds with timezone.utc attached so the
    # expected window starts are identical on any host TZ (r9 ADVICE:
    # naive .timestamp()/utcfromtimestamp shifted on non-UTC hosts).
    utc = datetime.timezone.utc

    def _epoch(ts):
        return (ts if ts.tzinfo else ts.replace(tzinfo=utc)).timestamp()

    base = collections.Counter(r["event_type"] for r in rows)
    total = sum(base.values())
    wm_epoch = max(_epoch(r["ts"]) for r in rows) - 3600

    win = collections.defaultdict(collections.Counter)
    for r in rows:
        s = int(_epoch(r["ts"]) // 21600) * 21600
        win[s][r["event_type"]] += 1

    expected = {}
    for s, cnt in win.items():
        if s + 21600 > wm_epoch:
            continue
        nw = sum(cnt.values())
        diff = sum(
            abs(cnt.get(t, 0) * total - b * nw) for t, b in base.items()
        )
        expected[s] = (nw, diff / (2.0 * nw * total))

    got = {
        int(_epoch(r["window_start"])): (r["n_events"], r["tvd"])
        for r in out
    }
    assert set(got) == set(expected)
    for k, (nw, tvd) in expected.items():
        assert got[k][0] == nw
        assert got[k][1] == pytest.approx(tvd, rel=1e-12)
        assert 0.0 <= got[k][1] <= 1.0
    # the unfinished tail is withheld
    assert all(_epoch(r["window_end"]) <= wm_epoch for r in out)


def test_streaming_topk_users_replay_and_emission(spark):
    """X137 pins: (a) the X40 emission rule — every emitted window's
    end ≤ final watermark (max ts − 1 h); (b) REPLAY INVARIANCE — the
    fixture delivers the dump twice, yet every emitted count equals
    the single-delivery static count (dedup-within-watermark + the
    late-drop rule make redelivery a no-op for closed windows); and
    (c) exact top-5 per window under the (count DESC, user_id)
    tie-break, checked against a brute recomputation."""
    import collections
    import datetime

    from aws_kinesis_data_ingestion_restapi_spark import analytics
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        streaming_topk_users,
    )

    sf = "/root/testdata/sf0.001"
    out = streaming_topk_users(spark, sf).collect()
    assert out

    utc = datetime.timezone.utc

    def _epoch(ts):
        return (ts if ts.tzinfo else ts.replace(tzinfo=utc)).timestamp()

    rows = analytics._t(spark, sf, "events").select("ts", "user_id").collect()
    wm_epoch = max(_epoch(r["ts"]) for r in rows) - 3600
    # (a) emission rule
    assert all(_epoch(r["window_end"]) <= wm_epoch for r in out)

    # brute single-delivery top-5 per closed window
    win = collections.defaultdict(collections.Counter)
    for r in rows:
        s = int(_epoch(r["ts"]) // 21600) * 21600
        win[s][r["user_id"]] += 1
    expected = {}
    for s, cnt in win.items():
        if s + 21600 > wm_epoch:
            continue
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
        expected[s] = [
            (rank + 1, uid, n) for rank, (uid, n) in enumerate(top)
        ]
    got = collections.defaultdict(list)
    for r in out:
        got[int(_epoch(r["window_start"]))].append(
            (r["rank"], r["user_id"], r["n_events"])
        )
    # (b) + (c): exact counts (not doubled) and exact ranking
    assert {k: sorted(v) for k, v in got.items()} == {
        k: sorted(v) for k, v in expected.items()
    }


def test_streaming_cusum_matches_batch_on_closed_days(spark):
    """X140 pin: the streaming CUSUM gate must equal the batch X138
    detector evaluated over exactly the watermark-closed day universe
    (same cusum_scores core, different day source) — the
    batch/streaming consistency contract stated in the docstring."""
    import datetime

    from aws_kinesis_data_ingestion_restapi_spark import analytics
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        streaming_cusum_gate,
    )

    sf = "/root/testdata/sf0.001"
    out = streaming_cusum_gate(spark, sf).collect()
    assert out

    utc = datetime.timezone.utc

    def _epoch(ts):
        return (ts if ts.tzinfo else ts.replace(tzinfo=utc)).timestamp()

    events = analytics._t(spark, sf, "events").select("ts").collect()
    wm = max(_epoch(r["ts"]) for r in events) - 3600
    daily = {}
    for r in events:
        d = datetime.datetime.fromtimestamp(
            int(_epoch(r["ts"]) // 86400) * 86400, tz=utc
        ).date()
        daily[d] = daily.get(d, 0) + 1
    closed = sorted(d for d in daily if _epoch(
        datetime.datetime(d.year, d.month, d.day, tzinfo=utc)
    ) + 86400 <= wm)
    rows = [(d, daily[d]) for d in closed]
    batch = analytics.cusum_scores(
        spark.createDataFrame(rows, ["day", "n"])
    ).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in batch]


def test_streaming_er_delta_matches_batch_and_stays_stateless(spark):
    """X157 ≡ the batch ER machinery on the identical fixture: the
    streaming stream-static probe (drained under double delivery)
    must produce exactly the verdicts of fuzzy_join(left_attrs=...) +
    link_verdicts — same matches, same canonical entity, same
    distance, same candidate counts — with the novel path exercised
    and every matched link consistent with X144's (attr-free) links.
    The in-stream stages are additionally pinned STATELESS: pure
    projections, stream-static joins, and filters — no aggregate, no
    dedup, no watermark — so state never accumulates across batches."""
    import shutil

    from aws_kinesis_data_ingestion_restapi_spark.operators import fuzzy
    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        er_link_dirty_names,
    )
    from aws_kinesis_data_ingestion_restapi_spark.sources.tables import (
        load_table,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        _er_delta_stages,
        streaming_er_delta,
    )

    sf = "/root/testdata/sf0.001"
    links_stream, d, dirty = _er_delta_stages(spark, sf)
    try:
        assert links_stream.isStreaming
        plan = links_stream._jdf.queryExecution().analyzed().toString()
        for stateful in ("Aggregate", "Deduplicate", "EventTimeWatermark"):
            assert stateful not in plan, f"stream side must not {stateful}"
        out = {
            r.dirty_id: r for r in streaming_er_delta(spark, sf).collect()
        }
        cust = load_table(spark, sf, "customer")
        links_b = fuzzy.fuzzy_join(
            dirty,
            cust,
            "dirty_id",
            "dirty_name",
            "c_custkey",
            "c_name",
            left_attrs=("c_nationkey", "c_mktsegment"),
            right_attrs=("c_nationkey", "c_mktsegment"),
        )
        batch = {
            r.record_key: r
            for r in fuzzy.link_verdicts(
                links_b, dirty.select("dirty_id")
            ).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    assert set(out) == set(batch)
    for did, r in out.items():
        rb = batch[did]
        assert (r.matched, r.entity_custkey, r.dist, r.n_candidates) == (
            rb.matched,
            rb.entity_key,
            rb.dist,
            rb.n_candidates,
        ), did
    assert any(r.matched for r in out.values()), "matched path unexercised"
    assert any(
        not r.matched for r in out.values()
    ), "novel path unexercised"
    # attr-folded links are a SUBSET of X144's attr-free links on the
    # shared (+10M) records — folding attrs can only prune candidates
    x144 = {
        (r.dirty_id, r.custkey)
        for r in er_link_dirty_names(spark, sf).collect()
    }
    for did, r in out.items():
        if r.matched and did < 20_000_000:
            assert (did, r.entity_custkey) in x144, did


def test_streaming_decontamination_matches_batch_delta_rows(spark):
    """X179 ≡ X5 on the delta universe: the streaming gate's verdicts
    (drained under double delivery) must equal contamination_report's
    rows for delta documents exactly — same docs, same distinct-gram
    and benchmark-doc counts — and the fixture must exercise at least
    one contaminated delta doc."""
    from aws_kinesis_data_ingestion_restapi_spark.operators import dedup
    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        _DELTA_PCT,
        _docs,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        streaming_decontamination_gate,
    )

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    s = {
        r.doc_id: (r.n_hit_grams, r.n_benchmark_docs)
        for r in streaming_decontamination_gate(spark, sf).collect()
    }
    docs = _docs(spark, sf)
    bench = docs.filter(F.col("doc_id") < 25)
    b = {
        r.doc_id: (r.n_hit_grams, r.n_benchmark_docs)
        for r in dedup.contamination_report(docs, bench).collect()
        if r.doc_id % 10 >= _DELTA_PCT
    }
    assert s == b
    assert s, "fixture must contaminate at least one delta doc"


def test_new_stream_gates_stay_stateless(spark):
    """X175/X179 plan pins: the FK and decontamination gates must
    analyze to pure projections + stream-static joins — no aggregate,
    no dedup, no watermark — so state never accumulates (the X157
    discipline). Build the in-stream stages exactly as the queries do
    and inspect the analyzed plans without draining."""
    import shutil

    from pyspark.sql import functions as F

    from aws_kinesis_data_ingestion_restapi_spark import analytics
    from aws_kinesis_data_ingestion_restapi_spark.operators import dedup
    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        _DELTA_PCT,
        _docs,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming import (
        registry_stream as rs,
    )

    sf = "/root/testdata/sf0.001"
    dirs = []
    try:
        orders = analytics._t(spark, sf, "orders")
        base = orders.select(
            F.col("o_orderkey").alias("order_id"),
            F.when(
                F.col("o_custkey") % 13 == 0,
                F.col("o_custkey") + 10_000_000,
            ).otherwise(F.col("o_custkey")).alias("customer_id"),
        )
        stream, d = rs._replayed_stream(
            spark, base, "order_id bigint, customer_id bigint", 2, "pin_fk_"
        )
        dirs.append(d)
        dim = analytics._t(spark, sf, "customer").select(
            F.col("c_custkey").alias("customer_id")
        )
        fk = stream.join(F.broadcast(dim), "customer_id", "left_anti")

        docs = _docs(spark, sf)
        delta = docs.filter(F.col("doc_id") % 10 >= _DELTA_PCT).select(
            "doc_id", "text"
        )
        s2, d2 = rs._replayed_stream(
            spark, delta, "doc_id bigint, text string", 2, "pin_dcg_"
        )
        dirs.append(d2)
        bgrams = (
            dedup.tokenized(docs.filter(F.col("doc_id") < 25))
            .select(
                F.col("doc_id").alias("bench_id"),
                F.explode(
                    dedup.hashed_ngrams(5, F.col("_toks"))
                ).alias("gram"),
            )
            .distinct()
        )
        dcg = s2.select(
            "doc_id",
            F.explode(
                F.array_distinct(dedup.hashed_ngrams(5, dedup.tokens_col()))
            ).alias("gram"),
        ).join(F.broadcast(bgrams), "gram")

        # the decontamination gate's STATIC side legitimately carries
        # a batch Deduplicate (the benchmark gram .distinct()) inside
        # the analyzed tree; stream-state risk comes only from
        # aggregates/watermarks, which neither gate may have
        checks = {
            "fk": ("Aggregate", "Deduplicate", "EventTimeWatermark"),
            "decontamination": ("Aggregate", "EventTimeWatermark"),
        }
        for name, df in (("fk", fk), ("decontamination", dcg)):
            assert df.isStreaming
            plan = df._jdf.queryExecution().analyzed().toString()
            for stateful in checks[name]:
                assert stateful not in plan, (name, stateful)
    finally:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_boilerplate_gate_matches_batch_and_stays_stateless(spark):
    """X195 ≡ the batch X188 flags applied to the lined delta: the
    drained per-doc boilerplate-line counts (under double delivery)
    must equal a batch recomputation over the identical fixture, and
    the in-stream stages must be stateless (projection + broadcast
    join only)."""
    import shutil

    from aws_kinesis_data_ingestion_restapi_spark.operators import dedup
    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        _DELTA_PCT,
        _lined_docs,
        BOILERPLATE_MAX_SHARE,
        BOILERPLATE_MIN_DOCS,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming.registry_stream import (
        _bp_gate_stages,
        streaming_boilerplate_gate,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    hits, d = _bp_gate_stages(spark, sf)
    try:
        assert hits.isStreaming
        plan = hits._jdf.queryExecution().analyzed().toString()
        # Aggregate IS present — on the STATIC side only (line_stats'
        # groupBy builds the broadcast flag dimension, recomputed per
        # micro-batch, never stream state); the STREAM leg must stay
        # projection+join: no watermark, no streaming dedup, and the
        # double-delivery equality below is the no-state proof.
        for stateful in ("Deduplicate", "EventTimeWatermark"):
            assert stateful not in plan, f"stream side must not {stateful}"
        out = {
            r.doc_id: r.n_boilerplate_lines
            for r in streaming_boilerplate_gate(spark, sf).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    lined = _lined_docs(spark, sf)
    flagged = dedup.line_stats(
        lined,
        min_docs=BOILERPLATE_MIN_DOCS,
        max_share=BOILERPLATE_MAX_SHARE,
    ).filter(F.col("is_boilerplate")).select("source", "line")
    batch = {
        r.doc_id: r.n
        for r in lined.filter(F.col("doc_id") % 10 >= _DELTA_PCT)
        .select(
            "doc_id",
            "source",
            F.posexplode(F.split("text", "\n")).alias("pos", "line"),
        )
        .join(flagged, ["source", "line"])
        .groupBy("doc_id")
        .agg(F.countDistinct("pos").alias("n"))
        .collect()
    }
    assert out == batch
    assert out, "gate must flag the planted template lines"
    # every delta doc carries exactly header+footer boilerplate here
    assert set(out.values()) == {2}


def test_streaming_bloom_gate_matches_python_and_stays_stateless(spark):
    """X216 pins: (a) the flagged set equals a python-hashlib
    recomputation of the Bloom membership test; (b) the filter
    GUARANTEE — every engineered re-crawl is flagged with
    is_true_dup=True (zero false negatives); (c) the in-stream stages
    analyze stateless (no aggregate, no dedup, no watermark — the
    membership verdict aggregates post-drain only)."""
    import hashlib
    import shutil

    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        _DELTA_PCT,
        _docs,
    )
    from aws_kinesis_data_ingestion_restapi_spark.operators.sketch import (
        BLOOM_K,
        BLOOM_M,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming import (
        registry_stream as rs,
    )

    sf = "/root/testdata/sf0.001"

    def positions(text):
        return [
            int(
                hashlib.md5(f"{text}:{i}".encode()).hexdigest()[:15], 16
            )
            % BLOOM_M
            for i in range(BLOOM_K)
        ]

    docs = {
        r.doc_id: r.text
        for r in _docs(spark, sf).select("doc_id", "text").collect()
    }
    retained = {d: t for d, t in docs.items() if d % 10 < _DELTA_PCT}
    probes = {d: t for d, t in docs.items() if d % 10 >= _DELTA_PCT}
    recrawls = {d: t for d, t in retained.items() if d % 7 == 0}
    probes.update(recrawls)
    bits = set()
    for t in retained.values():
        bits.update(positions(t))
    retained_texts = set(retained.values())
    want = {
        d: probes[d] in retained_texts
        for d, t in probes.items()
        if all(p in bits for p in positions(t))
    }
    got = {
        r.doc_id: r.is_true_dup
        for r in rs.streaming_bloom_gate(spark, sf).collect()
    }
    assert got == want
    # (b) guarantee: every re-crawl flagged, and flagged true
    for d in recrawls:
        assert got.get(d) is True, d
    # (c) statelessness of the in-stream stages
    hits, d = rs._bloom_gate_stages(spark, sf)
    try:
        assert hits.isStreaming
        plan = hits._jdf.queryExecution().analyzed().toString()
        for stateful in ("Aggregate", "EventTimeWatermark"):
            assert stateful not in plan, stateful
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_asof_matches_batch_asof_and_stays_stateless(spark):
    """X223 pins: (a) the drained interval-containment enrichment is
    row-identical to the batch X21 as-of join on the same order
    slice; (b) the in-stream stages analyze stateless (the LEAD
    window lives on the STATIC side only)."""
    import shutil

    from aws_kinesis_data_ingestion_restapi_spark import analytics
    from aws_kinesis_data_ingestion_restapi_spark.operators import asof
    from aws_kinesis_data_ingestion_restapi_spark.operators.registry_ext import (
        asof_priority_rates,
    )
    from aws_kinesis_data_ingestion_restapi_spark.streaming import (
        registry_stream as rs,
    )
    import pyspark.sql.functions as F2

    sf = "/root/testdata/sf0.001"
    got = {
        r.o_orderkey: (r.priority, r.quote_date, r.rate)
        for r in rs.streaming_asof_rates(spark, sf).collect()
    }
    batch = {
        r.o_orderkey: (
            r.o_orderpriority,
            r.quote_date,
            r.rate,
        )
        for r in asof_priority_rates(spark, sf)
        .filter(F2.col("o_orderkey") % 10 == 0)
        .collect()
    }
    # the batch as-of emits quote_date as DATE; compare normalized
    assert set(got) == set(batch)
    for k, (p, qd, rate) in batch.items():
        gp, gqd, grate = got[k]
        assert gp == p and grate == rate
        assert str(gqd) == str(qd)
    # statelessness
    enriched, d = rs._asof_rate_stages(spark, sf)
    try:
        assert enriched.isStreaming
        plan = enriched._jdf.queryExecution().analyzed().toString()
        # the STATIC side legitimately carries a batch Deduplicate (the
        # distinct priority list) — the same exemption as the
        # decontamination gate pin; stream-state risk is only
        # aggregates/watermarks
        for stateful in ("Aggregate", "EventTimeWatermark"):
            assert stateful not in plan, stateful
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_state_partitions_are_data_derived_and_capped(spark, tmp_path):
    """r13 optimization pin (guide §2/§5): stateful drains size their
    state-partition count to the FEED bytes (ceil(bytes/target)),
    clamped to [1, session shuffle partitions] — and the count really
    reaches the started query (stateOperators.numShufflePartitions in
    the progress metrics), while the session conf is restored for
    batch plans. At production feed sizes the formula saturates at the
    session default, so this is scale-adaptive, never a local-core
    constant."""
    from aws_kinesis_data_ingestion_restapi_spark.streaming import (
        registry_stream as rs,
    )

    # sizing math: 1 byte -> 1 partition; huge feed -> session cap
    d = tmp_path / "feed"
    d.mkdir()
    (d / "a.json").write_bytes(b"x")
    assert rs._state_partitions(spark, [str(d)]) == 1
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big = rs._STATE_PART_TARGET * (cap + 7)
    (d / "b.json").write_bytes(b"\0" * min(big, 64 * 1024 * 1024))
    if big <= 64 * 1024 * 1024:
        assert rs._state_partitions(spark, [str(d)]) == cap
    # monotone: more bytes never fewer partitions
    assert rs._state_partitions(spark, [str(d)]) >= 1

    # end-to-end: the derived count is what the stateful query runs
    # with, and the session conf is untouched afterwards
    from pyspark.sql.streaming import StreamingQueryListener

    n_parts = set()

    class StateParts(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            n_parts.update(
                so.numShufflePartitions for so in event.progress.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    listener = StateParts()
    spark.streams.addListener(listener)
    try:
        rs.streaming_cusum_gate(spark, "/root/testdata/sf0.001").collect()
        # progress events reach the listener asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_conf
    assert n_parts, "no stateful progress captured"
    # sf0.001 events feed is far below one target chunk -> 1 partition
    assert n_parts == {1}, n_parts
