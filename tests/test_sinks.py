"""Serving-store writes (K4+E3) and the table and error sinks.

The serving store is a link to its live version dir, which holds one
``bucket=K/`` dir per hash bucket. A write merges the whole live
version with its batch into the next version. The crash matrix stops
a write at each of its filesystem steps and checks that a plain read
sees the old store or the new one, never a mix.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from aws_kinesis_data_ingestion_restapi_spark import sinks
from aws_kinesis_data_ingestion_restapi_spark.sinks import (
    SERVING_KEYS,
    SERVING_N_BUCKETS,
    _bucket_expr,
    serving_upsert,
)


def _rows(spark, keys, status):
    return spark.createDataFrame(
        [(c, o, status) for c, o in keys],
        "customer_id string, order_id string, status string",
    )


def test_upsert_of_one_key_into_a_multi_bucket_store(spark, tmp_path):
    """A single-key upsert updates that row and leaves every other row
    of every bucket as it was."""
    store = str(tmp_path / "serving")
    keys = [(f"c{i}", f"o{i}") for i in range(200)]
    serving_upsert(spark, _rows(spark, keys, "pending"), store)
    assert len(glob.glob(os.path.join(store, "bucket=*"))) > 1, (
        "need multiple buckets for the test to bite"
    )

    target = keys[7]
    serving_upsert(spark, _rows(spark, [target], "shipped"), store)

    serving = spark.read.parquet(store)
    assert serving.count() == len(keys)
    assert (
        serving.filter(
            (F.col("customer_id") == target[0]) & (F.col("order_id") == target[1])
        ).first()["status"]
        == "shipped"
    )
    assert serving.filter(F.col("status") == "pending").count() == len(keys) - 1


def test_upsert_replay_is_idempotent_bucketed(spark, tmp_path):
    store = str(tmp_path / "serving")
    keys = [(f"c{i}", f"o{i}") for i in range(50)]
    batch = _rows(spark, keys, "pending")
    serving_upsert(spark, batch, store)
    serving_upsert(spark, batch, store)  # full replay
    serving = spark.read.parquet(store)
    assert serving.count() == len(keys)
    assert serving.dropDuplicates(SERVING_KEYS).count() == len(keys)


def test_upsert_collapses_batch_internal_duplicates(spark, tmp_path):
    """Inside one batch a key may arrive twice: exactly one of its batch
    rows lands, over the stored row; a stored key given once takes the
    batch row."""
    store = str(tmp_path / "serving")
    keys = [(f"c{i}", f"o{i}") for i in range(50)]
    serving_upsert(spark, _rows(spark, keys, "pending"), store)
    batch = spark.createDataFrame(
        [("c1", "o1", "packed"), ("c1", "o1", "shipped"), ("c2", "o2", "shipped")],
        "customer_id string, order_id string, status string",
    )
    serving_upsert(spark, batch, store)
    got = {
        (r["customer_id"], r["order_id"]): r["status"]
        for r in spark.read.parquet(store).collect()
    }
    assert spark.read.parquet(store).count() == len(got) == len(keys)
    assert got[("c1", "o1")] in ("packed", "shipped")
    assert got[("c2", "o2")] == "shipped"
    assert sum(v == "pending" for v in got.values()) == len(keys) - 2


def test_upsert_into_existing_store_runs_at_most_three_jobs(spark, tmp_path):
    """The merge is one schema-inferred scan and one write behind a
    single shuffle: with AQE each shuffle stage is its own job, so
    1 + 2."""
    store = str(tmp_path / "serving")
    keys = [(f"c{i}", f"o{i}") for i in range(200)]
    serving_upsert(spark, _rows(spark, keys, "pending"), store)
    sc = spark.sparkContext
    group = f"upsert-{tmp_path.name}"
    sc.setJobGroup(group, "serving upsert job count")
    try:
        serving_upsert(spark, _rows(spark, keys[:100], "shipped"), store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 3, sorted(jobs)
    assert spark.read.parquet(store).filter(F.col("status") == "shipped").count() == 100


def test_upsert_writes_one_file_per_bucket_without_aqe(spark, tmp_path):
    """``repartition("bucket")`` puts each bucket in one task whatever
    the AQE setting; a rebalance hint is dropped when AQE is off, and
    every input task then writes its own file into each bucket."""
    store = str(tmp_path / "serving")
    keys = [(f"c{i}", f"o{i}") for i in range(200)]
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for lo, status in ((0, "pending"), (100, "shipped")):
            batch = _rows(spark, keys[lo:], status).repartition(3)
            assert batch.rdd.getNumPartitions() > 1
            serving_upsert(spark, batch, store)
            dirs = glob.glob(os.path.join(store, "bucket=*"))
            assert len(dirs) == SERVING_N_BUCKETS
            for d in dirs:
                assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert spark.read.parquet(store).count() == len(keys)


def _tree_hashes(root):
    """md5 of every file under ``root``, hidden ones included."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.md5(f.read()).hexdigest()
    return out


def _delete_c1(spark):
    """A change feed that deletes key (c1, o1)."""
    return spark.createDataFrame(
        [("c1", "o1", "delete")],
        "customer_id string, order_id string, change_type string",
    )


def test_upsert_into_emptied_store(spark, tmp_path):
    """A store whose every key was deleted holds no visible entry; the
    next upsert writes it in place and its row is readable."""
    from aws_kinesis_data_ingestion_restapi_spark.sinks import serving_apply_changes

    store = str(tmp_path / "serving")
    one = _rows(spark, [("c1", "o1")], "pending")
    serving_upsert(spark, one, store)
    serving_apply_changes(spark, _delete_c1(spark), one.limit(0), store)
    assert not [e for e in os.listdir(store) if not e.startswith(("_", "."))]

    serving_upsert(spark, _rows(spark, [("c2", "o2")], "shipped"), store)
    got = [
        (r["customer_id"], r["order_id"], r["status"])
        for r in spark.read.parquet(store).collect()
    ]
    assert got == [("c2", "o2", "shipped")]


def test_upsert_into_an_empty_dir_makes_the_store_link(spark, tmp_path):
    """An empty dir at the store path is a new store: the write
    replaces it with the link to the store's first version."""
    store = tmp_path / "serving"
    store.mkdir()
    serving_upsert(spark, _rows(spark, [("c1", "o1")], "pending"), str(store))
    assert os.readlink(store) == os.path.join(".serving.versions", "1")
    assert spark.read.parquet(str(store)).count() == 1


def test_upsert_refuses_a_flat_parquet_dir(spark, tmp_path):
    """A path holding anything but ``bucket=K`` dirs is not a serving
    store: both writers raise, naming it, and leave every file as it
    was."""
    from aws_kinesis_data_ingestion_restapi_spark.sinks import serving_apply_changes

    store = str(tmp_path / "flat")
    flat = _rows(spark, [(f"c{i}", f"o{i}") for i in range(20)], "pending")
    flat.write.parquet(store)
    before = _tree_hashes(store)
    with pytest.raises(ValueError, match=re.escape(store)):
        serving_upsert(spark, _rows(spark, [("c0", "o0")], "shipped"), store)
    with pytest.raises(ValueError, match=re.escape(store)):
        serving_apply_changes(spark, _delete_c1(spark), flat, store)
    assert _tree_hashes(store) == before


def _snap(spark, rows):
    return spark.createDataFrame(
        rows, "customer_id string, order_id string, amount double"
    )


def test_apply_changes_roundtrips_snapshot_diff(spark, tmp_path):
    """Store built from v1 + applied diff(v1→v2) must equal v2 exactly
    — inserts present, updates new-valued, deletes gone — and a replay
    of the same feed must be a no-op."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.cdc import snapshot_diff
    from aws_kinesis_data_ingestion_restapi_spark.sinks import serving_apply_changes

    store = str(tmp_path / "store")
    v1 = _snap(spark, [(f"c{i}", f"o{i}", 10.0 * i) for i in range(40)])
    # v2: delete multiples of 7, bump multiples of 5, insert 3 new keys
    v2 = _snap(
        spark,
        [
            (f"c{i}", f"o{i}", 10.0 * i + (1.0 if i % 5 == 0 else 0.0))
            for i in range(40)
            if i % 7 != 0
        ]
        + [(f"c{i}", f"o{i}", 99.0) for i in (100, 101, 102)],
    )
    serving_upsert(spark, v1, store)
    changes = snapshot_diff(
        v1, v2, keys=SERVING_KEYS, compare_cols=["amount"]
    )
    serving_apply_changes(spark, changes, v2, store)

    def contents():
        return sorted(
            (r["customer_id"], r["order_id"], r["amount"])
            for r in spark.read.parquet(store).collect()
        )

    want = sorted(tuple(r) for r in v2.collect())
    assert contents() == want
    # replay: same feed, same snapshot → byte-equal result set
    serving_apply_changes(spark, changes, v2, store)
    assert contents() == want


def test_apply_changes_drops_fully_deleted_bucket(spark, tmp_path):
    """Deleting every key of a bucket removes its directory."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.cdc import snapshot_diff
    from aws_kinesis_data_ingestion_restapi_spark.sinks import serving_apply_changes

    store = str(tmp_path / "store")
    v1 = _snap(spark, [(f"c{i}", f"o{i}", 1.0) for i in range(12)])
    v2 = v1.limit(0)  # delete everything
    serving_upsert(spark, v1, store)
    changes = snapshot_diff(v1, v2, keys=SERVING_KEYS, compare_cols=["amount"])
    serving_apply_changes(spark, changes, v2, store)
    remaining = [
        e for e in os.listdir(store)
        if e.startswith("bucket=") and os.listdir(os.path.join(store, e))
    ]
    assert remaining == []


class _Crash(Exception):
    """The process died at a filesystem step of a serving write."""


#: The filesystem steps of a serving write, and its Spark write.
_CRASH_STEPS = [
    (os, "replace"), (os, "link"), (os, "symlink"), (os, "mkdir"),
    (os, "rmdir"), (os, "remove"), (shutil, "rmtree"), (sinks, "_write_buckets"),
]


@contextlib.contextmanager
def _crash_at(monkeypatch, k):
    """Count the calls of every step; the k-th and every later one
    raises, as if the process died there (k=0 never raises). Yields
    the count so far, a one-item list."""
    calls = [0]

    def wrap(fn):
        def step(*args, **kwargs):
            calls[0] += 1
            if k and calls[0] >= k:
                raise _Crash(calls[0])
            return fn(*args, **kwargs)
        return step

    with monkeypatch.context() as m:
        for mod, name in _CRASH_STEPS:
            m.setattr(mod, name, wrap(getattr(mod, name)))
        yield calls


def _contents(spark, store):
    return sorted(
        (r["customer_id"], r["order_id"], r["amount"])
        for r in spark.read.parquet(store).collect()
    )


def _litter(case):
    """What sits beside the store or in its versions dir other than
    the store's link and the one version it names."""
    store, versions = case / "store", case / ".store.versions"
    beside = sorted(set(os.listdir(case)) - {"store", ".store.versions"})
    if not store.is_symlink() or not versions.is_dir():
        return beside + ["<store is not a link into .store.versions>"]
    live = os.readlink(store).rpartition("/")[2]
    return beside + sorted(set(os.listdir(versions)) ^ {live})


@pytest.mark.parametrize("writer", ["upsert", "apply_changes"])
def test_serving_write_crash_matrix(spark, tmp_path, monkeypatch, writer):
    """Stop a serving write at its k-th filesystem step, for every k
    its crash-free run makes. Right after the crash a plain read sees
    the store before the write or after it; re-running the write
    gives the crash-free store; and the versions dir then holds only
    the live version, with nothing left beside the store.

    The store spans buckets A, B, C. The upsert updates a key of A and
    adds one in a new bucket E; the change feed also deletes all of C,
    so C's dir goes away. B is rewritten unchanged."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.cdc import snapshot_diff
    from aws_kinesis_data_ingestion_restapi_spark.sinks import serving_apply_changes

    keys = [(f"c{i}", f"o{i}") for i in range(64)]
    by_bucket = {}
    for r in _rows(spark, keys, "x").select(
        "customer_id", "order_id", _bucket_expr().alias("b")
    ).collect():
        by_bucket.setdefault(r["b"], []).append((r["customer_id"], r["order_id"]))
    a, b, c, e = [ks for ks in by_bucket.values() if len(ks) >= 2][:4]
    v1_rows = [(ci, oi, 1.0) for ci, oi in a[:2] + b[:2] + c[:2]]
    v1 = _snap(spark, v1_rows)
    batch = _snap(spark, [(*a[0], 2.0), (*e[0], 3.0)])
    v2 = _snap(spark, v1_rows[1:4] + [(*a[0], 2.0), (*e[0], 3.0)])
    diff = snapshot_diff(v1, v2, keys=SERVING_KEYS, compare_cols=["amount"])
    changes = spark.createDataFrame(diff.collect(), diff.schema)  # diffed once

    def write(store):
        if writer == "upsert":
            serving_upsert(spark, batch, store)
        else:
            serving_apply_changes(spark, changes, v2, store)

    template = tmp_path / "template"
    template.mkdir()
    serving_upsert(spark, v1, str(template / "store"))
    pre = _contents(spark, str(template / "store"))

    def crashed_copy(name, k):
        case = tmp_path / name
        shutil.copytree(template, case, symlinks=True)
        with _crash_at(monkeypatch, k) as calls:
            try:
                write(str(case / "store"))
            except _Crash:
                pass
        return case, calls[0]

    clean, n_steps = crashed_copy("clean", 0)
    post = _contents(spark, str(clean / "store"))
    assert post != pre and n_steps >= 8, (n_steps, post)
    if writer == "apply_changes":
        assert post == sorted(tuple(r) for r in v2.collect())

    torn, diverged, litter = [], [], []
    for k in range(1, n_steps + 1):
        case, _ = crashed_copy(f"k{k}", k)
        try:
            seen = _contents(spark, str(case / "store"))
        except Exception as err:  # a read that fails is a torn store too
            seen = type(err).__name__
        if seen not in (pre, post):
            torn.append((k, seen if isinstance(seen, str) else len(seen)))
        write(str(case / "store"))
        if _contents(spark, str(case / "store")) != post:
            diverged.append(k)
        if _litter(case):
            litter.append((k, _litter(case)))
    assert not (torn or diverged or litter), (
        f"{n_steps} steps; torn reads at {torn}; re-run diverged at "
        f"{diverged}; litter at {litter}"
    )


def test_write_errors_batch_mode_empty_and_replay(spark, tmp_path):
    """bid-keyed quarantine: an empty batch writes an empty (readable)
    bid dir, and replaying a batch id REWRITES it instead of
    appending duplicates."""
    from aws_kinesis_data_ingestion_restapi_spark.sinks import write_errors

    base = str(tmp_path / "q")
    empty = _rows(spark, [], "ProcessingFailed")
    write_errors(empty, base, batch_id=0)
    two = _rows(spark, [("c1", "o1"), ("c2", "o2")], "ProcessingFailed")
    write_errors(two, base, batch_id=1)
    write_errors(two, base, batch_id=1)  # replay
    out = spark.read.parquet(os.path.join(base, "errors"))
    assert out.count() == 2
    assert sorted(r["bid"] for r in out.select("bid").collect()) == [1, 1]


def _with_year(df):
    return df.withColumn("year", (F.col("id") % 3).cast("string"))


def test_small_partitioned_write_runs_without_a_shuffle(spark, tmp_path):
    """A frame estimated at most the advisory partition size is written
    by one task with no exchange, and still one file per partition
    value from several input partitions."""
    from aws_kinesis_data_ingestion_restapi_spark.sinks import (
        _one_task_per_value,
        write_partitioned,
    )

    df = _with_year(spark.range(0, 300, numPartitions=4))
    shaped = _one_task_per_value(df, ["year"])
    assert "Exchange" not in shaped._jdf.queryExecution().executedPlan().toString()
    out = str(tmp_path / "t")
    write_partitioned(df, out, partition_cols=["year"])
    per_dir = {
        d: len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(out, "year=*"))
    }
    assert len(per_dir) == 3 and set(per_dir.values()) == {1}, per_dir
    assert spark.read.parquet(out).count() == 300


def test_large_partitioned_write_keeps_the_rebalance(spark):
    """Above the advisory size the write keeps its REBALANCE exchange,
    so big batches still spread over tasks. Checked on the plan; the
    write does not run."""
    from aws_kinesis_data_ingestion_restapi_spark.sinks import _one_task_per_value

    df = _with_year(spark.range(10**8))
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    assert df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > advisory
    plan = _one_task_per_value(df, ["year"])._jdf.queryExecution().optimizedPlan()
    assert "RebalancePartitions [year" in plan.toString(), plan.toString()
