"""Stateful streaming operator tests: cross-batch dedup and running
totals on the built-in keyed state (state survives across micro-batches
and restarts; replays are suppressed / accumulated exactly)."""

from __future__ import annotations

import base64
import json
import os

import pytest

from aws_kinesis_data_ingestion_restapi_spark.sources import envelope_records
from aws_kinesis_data_ingestion_restapi_spark.sources.events import (
    read_envelope_stream,
    split_corrupt,
)
from aws_kinesis_data_ingestion_restapi_spark.streaming.stateful import (
    streaming_dedup,
    streaming_running_totals,
)


def _write_ndjson(path, records):
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _drain(stream_df, tmp_path, name, mode="update"):
    out = []
    q = (
        stream_df.writeStream.outputMode(mode)
        .foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return out


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "input"
    d.mkdir()
    return str(d)


def _totals(out):
    """Last emission per customer = its running total."""
    return {r["customer_id"]: (r["n_orders"], r["total_amount"]) for r in out}


def _want_totals(recs):
    want: dict[str, tuple[int, int]] = {}
    for r in recs:
        ev = json.loads(base64.b64decode(r["Data"]))
        n, cents = want.get(ev["customer_id"], (0, 0))
        want[ev["customer_id"]] = (
            n + 1,
            cents + int(round(ev["purchaise_details"]["amount"] * 100)),
        )
    return {c: (n, cents / 100.0) for c, (n, cents) in want.items()}


def _with_amount(rec, customer_id, order_id, amount):
    ev = json.loads(base64.b64decode(rec["Data"]))
    ev.update(customer_id=customer_id, order_id=order_id)
    ev["purchaise_details"]["amount"] = amount
    return {**rec, "Data": base64.b64encode(json.dumps(ev).encode()).decode()}


def test_streaming_dedup_suppresses_cross_batch_replays(spark, tmp_path, input_dir):
    recs = envelope_records(12, seed=11)
    # batch 0: first 8; batch 1: REPLAY of 4 of them + 4 new
    _write_ndjson(os.path.join(input_dir, "b0.json"), recs[:8])
    _write_ndjson(os.path.join(input_dir, "b1.json"), recs[4:])
    stream = read_envelope_stream(spark, input_dir, max_files_per_trigger=1)
    good = split_corrupt(stream)[0]
    out = _drain(streaming_dedup(good), tmp_path, "dedup", mode="append")

    keys = [(r["customer_id"], r["order_id"]) for r in out]
    assert len(keys) == len(set(keys)), "a key was emitted twice"
    want = {
        (json.loads(base64.b64decode(r["Data"]))["customer_id"],
         json.loads(base64.b64decode(r["Data"]))["order_id"])
        for r in recs
    }
    assert set(keys) == want, "every distinct key emitted exactly once"


def _run_twice(spark, tmp_path, input_dir, op, mode):
    """Drain ``op`` over one delivery, re-deliver the same records in a
    new file, and drain again on the SAME checkpoint; returns the
    records and both runs' emissions."""
    recs = envelope_records(6, seed=12)
    _write_ndjson(os.path.join(input_dir, "b0.json"), recs)

    def run():
        stream = read_envelope_stream(spark, input_dir, max_files_per_trigger=1)
        return _drain(op(split_corrupt(stream)[0]), tmp_path, "restart", mode=mode)

    first = run()
    _write_ndjson(os.path.join(input_dir, "b1.json"), recs)
    return recs, first, run()


def test_streaming_dedup_replay_after_restart(spark, tmp_path, input_dir):
    """State survives a query restart on the same checkpoint: a replay
    in a LATER run is still suppressed."""
    _, first, second = _run_twice(
        spark, tmp_path, input_dir, streaming_dedup, "append"
    )
    assert len(first) == 6
    assert second == [], "replayed keys must stay suppressed after restart"


def test_streaming_running_totals_add_after_restart(spark, tmp_path, input_dir):
    """Records delivered in a LATER run on the same checkpoint add onto
    the earlier run's totals."""
    recs, first, second = _run_twice(
        spark, tmp_path, input_dir, streaming_running_totals, "update"
    )
    assert _totals(first) == _want_totals(recs)
    assert _totals(second) == _want_totals(recs + recs)


def test_streaming_running_totals_accumulate(spark, tmp_path, input_dir):
    recs = envelope_records(20, seed=13)
    # one customer whose amounts a double sum gets wrong across batches:
    # (0.10 + 0.20) + 0.30 == 0.6000000000000001, integer cents give 0.6
    cents_b0 = [_with_amount(recs[0], "cents", "c1", 0.10),
                _with_amount(recs[1], "cents", "c2", 0.20)]
    cents_b1 = [_with_amount(recs[2], "cents", "c3", 0.30)]
    _write_ndjson(os.path.join(input_dir, "b0.json"), recs[:10] + cents_b0)
    _write_ndjson(os.path.join(input_dir, "b1.json"), recs[10:] + cents_b1)
    stream = read_envelope_stream(spark, input_dir, max_files_per_trigger=1)
    good = split_corrupt(stream)[0]
    totals = streaming_running_totals(good)
    plan = totals._jdf.queryExecution().logical().toString()
    assert "FlatMapGroupsInPandasWithState" not in plan, plan[:300]
    out = _drain(totals, tmp_path, "totals")

    final = _totals(out)
    assert final["cents"] == (3, 0.6)
    assert final == _want_totals(recs + cents_b0 + cents_b1)
