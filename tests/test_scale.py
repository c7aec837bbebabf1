"""Scale-operator tests: salted aggregation equivalence, bucketed
join exchange elimination (asserted on the physical plan), and
small-files compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
    compact_table,
    salted_agg,
    write_bucketed,
)
from aws_kinesis_data_ingestion_restapi_spark.plans import explain_str


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key (90% of rows) + a tail
    rows = [("hot", float(i % 7), i) for i in range(900)] + [
        (f"k{i % 20}", float(i), i) for i in range(100)
    ]
    return spark.createDataFrame(rows, ["k", "v", "n"])


def test_salted_agg_matches_plain_agg(spark, skewed):
    plain = {
        r["k"]: r
        for r in skewed.groupBy("k")
        .agg(
            F.sum("v").alias("sv"),
            F.count("n").alias("cn"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["k"]: r
        for r in salted_agg(
            skewed,
            ["k"],
            {
                "sv": ("sum", "v"),
                "cn": ("count", "n"),
                "mn": ("min", "v"),
                "mx": ("max", "v"),
            },
            n_salts=8,
        ).collect()
    }
    assert set(plain) == set(salted)
    for k, p in plain.items():
        s = salted[k]
        assert s["sv"] == pytest.approx(p["sv"])
        assert (s["cn"], s["mn"], s["mx"]) == (p["cn"], p["mn"], p["mx"])


def test_salted_agg_phase1_spreads_hot_key(spark, skewed):
    """The point of salting: phase 1 must split the 90%-hot key into
    multiple (key, salt) partial rows — one reducer never owns the
    whole key — while phase-2 input stays ≤ n_salts rows per key."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        _salted_partial,
    )

    n_salts = 8
    spread = skewed.repartition(n_salts)  # scan-order data spans partitions
    partial = _salted_partial(
        spread, ["k"], {"sv": ("sum", "v"), "cn": ("count", "n")}, n_salts
    )
    per_key = {
        r["k"]: r["n_groups"]
        for r in partial.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .collect()
    }
    assert per_key["hot"] > 1, per_key  # the hot key is actually spread
    assert all(n <= n_salts for n in per_key.values()), per_key
    # and the spread partials still finalize to the exact plain answer
    hot_sv = (
        partial.filter("k = 'hot'").agg(F.sum("_p_sv")).collect()[0][0]
    )
    plain_sv = skewed.filter("k = 'hot'").agg(F.sum("v")).collect()[0][0]
    assert hot_sv == pytest.approx(plain_sv)


def test_salted_agg_rejects_non_reaggregable(skewed):
    with pytest.raises(ValueError, match="avg"):
        salted_agg(skewed, ["k"], {"a": ("avg", "v")})


def test_salted_join_matches_plain_join(spark, skewed):
    """salted_join must produce exactly the plain join's rows — the
    salt changes only the shuffle shape (2.9× on a 50%-hot-key join,
    BENCH_NOTES "Skew-resilience proof", r5)."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        salted_join,
    )

    dim = spark.createDataFrame(
        [("hot", 100)] + [(f"k{i}", i) for i in range(20)], ["k", "attr"]
    )
    fact = skewed.repartition(8)
    plain = sorted(
        (r["k"], r["n"], r["attr"]) for r in fact.join(dim, "k").collect()
    )
    salted = sorted(
        (r["k"], r["n"], r["attr"])
        for r in salted_join(fact, dim, ["k"], n_salts=8).collect()
    )
    assert salted == plain
    # left join keeps unmatched FACT rows exactly once
    dim_missing_hot = dim.filter("k <> 'hot'")
    left = salted_join(fact, dim_missing_hot, ["k"], n_salts=8, how="left")
    assert left.count() == fact.count()
    assert left.filter("k = 'hot' AND attr IS NULL").count() == 900


def test_salted_join_rejects_dim_duplicating_types(spark, skewed):
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        salted_join,
    )

    dim = spark.createDataFrame([("hot", 1)], ["k", "attr"])
    with pytest.raises(ValueError, match="right"):
        salted_join(skewed, dim, ["k"], how="right")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the join key must sort-merge-join with
    zero Exchange nodes — the write-time shuffle replaces every
    query-time shuffle."""
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, "bkt_a", ["k"], n_buckets=8, sort_cols=["k"])
    write_bucketed(b, "bkt_b", ["k"], n_buckets=8, sort_cols=["k"])
    joined = (
        spark.table("bkt_a")
        .hint("merge")  # force SMJ so the bucket layout is what's tested
        .join(spark.table("bkt_b"), "k")
    )
    plan = explain_str(joined)
    assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
    assert joined.count() == 1000
    spark.sql("DROP TABLE bkt_a")
    spark.sql("DROP TABLE bkt_b")


def test_compact_table_reduces_files_keeps_layout(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("part"),
    )
    # simulate many small streaming appends
    for _ in range(5):
        df.repartition(8).write.mode("append").partitionBy("part").parquet(path)
    before = len(spark.read.parquet(path).inputFiles())
    n_after = compact_table(spark, path, partition_cols=["part"])
    assert n_after < before
    out = spark.read.parquet(path)
    assert out.count() == 25000
    assert set(out.columns) == {"id", "part"}
    # Hive layout preserved → partition pruning still applies
    n_part1 = 5 * sum(1 for i in range(5000) if i % 3 == 1)
    assert out.filter(F.col("part") == "1").count() == n_part1


def test_compact_recovers_table_lost_mid_swap(spark, tmp_path):
    """A compaction crash BETWEEN its two renames leaves NOTHING at
    the table path — the data sits under the __compact_aside name
    (plus a dead __compact_tmp). The next compact_table must restore
    the table before reading, and the value set must be unchanged."""
    import os
    import shutil

    path = str(tmp_path / "t2")
    df = spark.range(0, 3000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    for _ in range(3):
        df.repartition(4).write.mode("append").partitionBy("part").parquet(path)
    # simulate the mid-swap crash: the table was renamed aside and the
    # tmp never landed
    shutil.copytree(path, path + "__compact_tmp")
    os.replace(path, path + "__compact_aside")
    assert not os.path.exists(path)

    n_after = compact_table(spark, path, partition_cols=["part"])
    assert n_after > 0
    assert not os.path.exists(path + "__compact_aside")
    assert not os.path.exists(path + "__compact_tmp")
    out = spark.read.parquet(path)
    assert out.count() == 9000, "pre-crash rows must survive the recovery"


def test_compact_completes_crashed_swap_from_committed_tmp(spark, tmp_path):
    """If the crash hit AFTER the staged write committed (_SUCCESS in
    the tmp) but before the final rename, the finished output must be
    swapped in rather than thrown away and recompacted from the
    original. Real crash debris has value-identical tmp and aside;
    the sentinel values here exist only to observe which branch ran."""
    import os
    import shutil

    path = str(tmp_path / "t3")
    df = spark.range(0, 3000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    df.repartition(4).write.partitionBy("part").parquet(path)
    # committed tmp with sentinel ids (id+100000), then the mid-swap
    # crash state: table renamed aside, tmp never renamed in
    spark.range(100000, 103000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    ).write.partitionBy("part").parquet(path + "__compact_tmp")
    os.replace(path, path + "__compact_aside")

    n_after = compact_table(spark, path, partition_cols=["part"])
    assert n_after > 0
    assert not os.path.exists(path + "__compact_aside")
    assert not os.path.exists(path + "__compact_tmp")
    out = spark.read.parquet(path)
    assert out.count() == 3000
    assert out.agg(F.min("id")).first()[0] == 100000, (
        "the committed tmp, not the aside, must win the recovery"
    )

    # and the inverse: an UNcommitted tmp (no _SUCCESS) is dead — the
    # aside must be restored instead
    path2 = str(tmp_path / "t4")
    df.repartition(4).write.partitionBy("part").parquet(path2)
    spark.range(100000, 103000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    ).write.partitionBy("part").parquet(path2 + "__compact_tmp")
    os.remove(os.path.join(path2 + "__compact_tmp", "_SUCCESS"))
    os.replace(path2, path2 + "__compact_aside")
    compact_table(spark, path2, partition_cols=["part"])
    out2 = spark.read.parquet(path2)
    assert out2.count() == 3000
    assert out2.agg(F.max("id")).first()[0] == 2999, (
        "an uncommitted tmp must lose to the aside restore"
    )
    assert not os.path.exists(path2 + "__compact_aside")
    assert not os.path.exists(path2 + "__compact_tmp")
    shutil.rmtree(path, ignore_errors=True)


def test_incremental_agg_merge_equals_full_agg(spark):
    """Folding deltas one at a time must equal the one-shot aggregate —
    including a delta introducing a brand-new key and an empty delta."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        incremental_agg_merge,
    )

    rows = [("a", i, float(i)) for i in range(10)] + [
        ("b", i, float(i * 2)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["k", "n", "v"])
    aggs = {
        "cnt": ("count", "n"),
        "sv": ("sum", "v"),
        "mx": ("max", "v"),
        "mn": ("min", "v"),
    }
    deltas = [
        df.filter("k = 'a' and n < 5"),
        df.filter("k = 'a' and n >= 5"),
        df.filter("k = 'b'"),  # new key appears mid-stream
        df.filter("1 = 0"),  # empty delta is a no-op
    ]
    state = None
    for d in deltas:
        state = incremental_agg_merge(state, d, ["k"], aggs)
    got = {r["k"]: r for r in state.collect()}
    full = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            F.count("n").alias("cnt"),
            F.sum("v").alias("sv"),
            F.max("v").alias("mx"),
            F.min("v").alias("mn"),
        )
        .collect()
    }
    assert set(got) == set(full)
    for k in full:
        assert (got[k]["cnt"], got[k]["sv"], got[k]["mx"], got[k]["mn"]) == (
            full[k]["cnt"], full[k]["sv"], full[k]["mx"], full[k]["mn"]
        )
    with pytest.raises(ValueError):
        incremental_agg_merge(None, df, ["k"], {"a": ("avg", "v")})


def test_salted_join_rejects_salt_column_collision(spark, skewed):
    """A caller-owned '_salt' column must raise, not be silently
    overwritten and dropped (round-5 ADVICE)."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        salted_join,
    )

    dim = spark.createDataFrame([("hot", 1)], ["k", "attr"])
    with pytest.raises(ValueError, match="_salt"):
        salted_join(skewed.withColumn("_salt", F.lit(1)), dim, ["k"])
    with pytest.raises(ValueError, match="_salt"):
        salted_join(skewed, dim.withColumn("_salt", F.lit(1)), ["k"])


def _wh_local(spark) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return wh[len("file:"):] if wh.startswith("file:") else wh


def test_write_bucketed_recovers_stale_qualified_location(spark):
    """Cross-session stale-location cleanup must resolve a
    database-qualified name to {wh}/{db}.db/{tbl} — the old
    {wh}/{db.tbl} guess missed the real directory and saveAsTable
    died with LOCATION_ALREADY_EXISTS (round-5 ADVICE)."""
    import os

    spark.sql("CREATE DATABASE IF NOT EXISTS scaledb")
    loc = os.path.join(_wh_local(spark), "scaledb.db", "bkt_stale")
    os.makedirs(loc, exist_ok=True)
    # what a prior session's saveAsTable leaves behind once the
    # in-memory catalog forgets the table
    open(os.path.join(loc, "_SUCCESS"), "w").close()
    open(os.path.join(loc, "part-00000-dead.c000.snappy.parquet"), "w").close()
    df = spark.range(0, 50).select(F.col("id").alias("k"))
    write_bucketed(df, "scaledb.bkt_stale", ["k"], n_buckets=4)
    assert spark.table("scaledb.bkt_stale").count() == 50
    spark.sql("DROP TABLE scaledb.bkt_stale")


def test_write_bucketed_refuses_unrelated_directory(spark):
    """The stale-location delete must only fire on directories that
    look like prior saveAsTable output — an unrelated directory that
    happens to collide with the table name survives (round-5 ADVICE)."""
    import os

    loc = os.path.join(_wh_local(spark), "precious_dir")
    os.makedirs(loc, exist_ok=True)
    keep = os.path.join(loc, "notes.txt")
    with open(keep, "w") as f:
        f.write("keep me")
    df = spark.range(0, 10).select(F.col("id").alias("k"))
    with pytest.raises(RuntimeError, match="refusing"):
        write_bucketed(df, "precious_dir", ["k"], n_buckets=2)
    assert os.path.exists(keep)


def test_pipeline_compaction_reruns_in_one_session(spark):
    """The registry query uses a FIXED per-session scratch dir (same
    litter contract as pipeline_partition_scan) — it runs in both the
    gate and the bench of one session, so the second invocation must
    rebuild from scratch (overwrite + disjoint-slice appends) and
    return the identical aggregate."""
    from aws_kinesis_data_ingestion_restapi_spark.registry import QUERY_FNS

    sf = "/root/testdata/sf0.001"
    first = QUERY_FNS["pipeline_compaction"](spark, sf).collect()
    second = QUERY_FNS["pipeline_compaction"](spark, sf).collect()
    assert first == second
    assert len(first) == 5  # one row per o_orderpriority
    assert all(r["files_reduced"] for r in first)


# ---------------------------------------------------------------------------
# z-order layout
# ---------------------------------------------------------------------------


def test_zorder_key_interleaves_bits(spark):
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        zorder_key,
    )

    df = spark.createDataFrame([(3, 2), (0, 0), (1, 1), (7, 0)], ["x", "y"])
    z = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")
        ).collect()
    }
    # x bits land at even positions, y bits at odd: (3,2)=0b11,0b10 →
    # 0b1101 = 13; (1,1) → 0b11 = 3; (7,0) → 0b010101 = 21
    assert z[(3, 2)] == 13
    assert z[(0, 0)] == 0
    assert z[(1, 1)] == 3
    assert z[(7, 0)] == 21


def test_quantize_clamps_and_rejects_bad_range(spark):
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        quantize,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (500.0,), (1500.0,), (None,), (float("nan"),)],
        ["v"],
    )
    got = [
        r["q"]
        for r in df.select(
            quantize(F.col("v"), lo=0.0, hi=1000.0, bits=4).alias("q")
        ).collect()
    ]
    assert got[0] == 0 and got[1] == 0          # clamped low
    assert got[2] == 7                          # 500/1000 * 15
    assert got[3] == 15                         # clamped high
    assert got[4] is None                       # NULL passes through
    # NaN maps to NULL like NULL — without the isnan guard the
    # non-ANSI double→long cast sent every NaN to bucket 0 (r6 ADVICE)
    assert got[5] is None
    with pytest.raises(ValueError, match="hi > lo"):
        quantize(F.col("v"), lo=1.0, hi=1.0)


def test_write_zordered_rejects_zkey_collision(spark):
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        write_zordered,
        zorder_key,
    )

    df = spark.range(4).select(
        F.col("id").alias("x"), F.col("id").alias("y"),
        F.lit(0).alias("_zkey"),
    )
    with pytest.raises(ValueError, match="_zkey"):
        write_zordered(
            df, "/tmp/never-written", zorder_key([F.col("x"), F.col("y")])
        )


def test_zorder_layout_skips_files(spark, tmp_path):
    """The measured 100 TB claim: for a 2-D box predicate, the z-order
    layout's parquet footer min/max prune MORE files than a linear
    sort on one dimension — counted from the actual footers, not
    asserted from theory. Both layouts hold identical data (checked),
    so the difference is purely physical."""
    import glob

    import pyarrow.parquet as pq

    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        quantize,
        write_zordered,
        zorder_key,
    )

    # two INDEPENDENT pseudo-uniform dimensions (xxhash64 of disjoint
    # inputs) — two linear functions of id would put every point on a
    # 1-D line in (x, y) space and both layouts would prune equally
    n = 200_000
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("x"),
        F.pmod(F.xxhash64(F.col("id") + 5_000_000), F.lit(1000)).alias("y"),
    )
    zpath, lpath = str(tmp_path / "zorder"), str(tmp_path / "linear")
    z = zorder_key(
        [
            quantize(F.col("x"), 0.0, 1000.0, bits=10),
            quantize(F.col("y"), 0.0, 1000.0, bits=10),
        ],
        bits=10,
    )
    write_zordered(df, zpath, z, n_files=256)
    (
        df.repartitionByRange(256, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def files_touched(path: str, box: dict) -> int:
        touched = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            hit_any_rg = False
            for rg in range(md.num_row_groups):
                ok = True
                for col, (lo, hi) in box.items():
                    st = md.row_group(rg).column(names.index(col)).statistics
                    if st.min >= hi or st.max < lo:
                        ok = False
                        break
                if ok:
                    hit_any_rg = True
                    break
            touched += hit_any_rg
        return touched

    # identical data in both layouts (measured at the square box)
    pred = (
        (F.col("x") >= 100) & (F.col("x") < 150)
        & (F.col("y") >= 300) & (F.col("y") < 350)
    )
    zc = spark.read.parquet(zpath).filter(pred).count()
    lc = spark.read.parquet(lpath).filter(pred).count()
    assert zc == lc == df.filter(pred).count()

    # balanced 2-D box (half-open [lo, hi)): both dims selective —
    # z-order must beat the linear layout (measured 8 vs 14 files)
    square = {"x": (100, 150), "y": (300, 350)}
    z_sq, l_sq = files_touched(zpath, square), files_touched(lpath, square)
    assert z_sq < l_sq, (z_sq, l_sq)
    # NON-leading-dimension predicate (y only): the linear layout
    # prunes NOTHING (every file spans the full y range — measured
    # 256/256 touched) while z-order keeps y locality in every file
    # (measured 22/256). This is the case multi-dimensional
    # clustering exists for; pinned at an 8× margin.
    yband = {"y": (300, 310)}
    z_y, l_y = files_touched(zpath, yband), files_touched(lpath, yband)
    assert l_y == 256, l_y  # linear: full scan, no pruning at all
    assert z_y <= l_y // 8, (z_y, l_y)


def test_zorder_key_raises_on_out_of_range_input(spark):
    """A quantize/zorder_key bits mismatch must FAIL LOUDLY: silently
    dropping high bits would collide far-apart points and collapse the
    clustering benefit with no error anywhere."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.scale import (
        zorder_key,
    )

    df = spark.createDataFrame([(5, 3), (9, 0)], ["x", "y"])  # 9 ≥ 2^3
    with pytest.raises(Exception, match="outside"):
        df.select(
            zorder_key([F.col("x"), F.col("y")], bits=3).alias("z")
        ).collect()
