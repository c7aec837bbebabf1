"""Scale-path operators: skew salting, bucketed co-located joins,
small-files compaction.

None of these exist in the reference — its scaling story is "Kinesis
ON_DEMAND + 4 independent Firehoses" (BASELINE.md). At 100 TB the
actual failure modes are different, and these are the standard Spark
countermeasures:

- **Skew** (one hot key holds a whole task/executor hostage): AQE
  skew-join splitting is on by default (session.py), but it only
  covers sort-merge JOINS. ``salted_agg`` covers skewed AGGREGATES —
  two-phase: salt the key, partial-agg per (key, salt), final-agg per
  key. The shuffle spreads a hot key over ``n_salts`` reducers and the
  second shuffle is |keys|-sized, which is tiny post-aggregation.
- **Co-located joins** (avoid shuffling 100 TB to join on the same key
  every day): ``write_bucketed`` persists a table hash-bucketed by the
  join key; two tables bucketed the same way sort-merge-join with ZERO
  exchange on either side (asserted in tests/test_scale.py via the
  physical plan).
- **Small files** (the reference's orders/customer_id=... layout
  writes one file per customer per batch — terraform/main.tf:675,
  SURVEY §7.3): ``compact_table`` rewrites a partitioned table to
  target-sized files, preserving the Hive layout. At 100 TB this runs
  per-partition as a maintenance job, not a full-table rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


_PARTIAL = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}
# how a partial result re-aggregates in the final phase
_FINAL = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    ``aggs`` maps output column name → ``(fn, column)`` with fn one of
    sum/count/min/max — the re-aggregable aggregates (count finalizes
    as sum-of-partial-counts). For avg, request sum+count and divide
    afterwards.

    Phase 1 groups by (key, salt) — a hot key's rows spread over
    ``n_salts`` reducers instead of one. Phase 2 groups by key alone,
    but its input is ≤ n_salts rows per key, so the second shuffle is
    negligible. With AQE on, non-skewed data pays almost nothing extra
    (the phase-1 partitions coalesce).

    Honest measurement (32M rows with a 50% hot key, BENCH_NOTES
    "Skew-resilience proof", round 5): for THESE re-aggregable functions
    Spark's map-side partial aggregation already collapses a hot key
    to one partial row per input partition, so hot-key skew cannot
    reach the shuffle and the salted form costs ~1.5× extra (its
    additional exchange) rather than winning. Keep salted_agg for
    composed partials that must stay keyed by (key, salt) — e.g.
    feeding :func:`salted_join`'s output or engines without map-side
    combine; for a plain skewed groupBy-sum, the built-in aggregate
    is already the right plan. The operators where skew genuinely
    kills and salting genuinely wins are JOINS (salted_join: 2.9×
    measured) and WINDOWS (two-level prefix form: 1.85× measured).
    """
    partial = _salted_partial(df, key_cols, aggs, n_salts)
    return partial.groupBy(*key_cols).agg(
        *[
            _FINAL[fn](F.col(f"_p_{name}")).alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )


def _salted_partial(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int,
) -> DataFrame:
    """Phase 1 of :func:`salted_agg`: partial-agg per (key, salt).

    The salt is ``spark_partition_id() % n_salts`` — deterministic per
    task (no rand(), so retries re-produce identical groups) and it
    spreads a hot key exactly as widely as its rows are spread over
    input partitions, which for scan-order data is every partition.
    Exposed separately so tests can assert the spread itself.
    """
    unknown = {fn for fn, _ in aggs.values()} - set(_PARTIAL)
    if unknown:
        raise ValueError(f"non-re-aggregable functions: {sorted(unknown)}")
    salt = (F.spark_partition_id() % n_salts).alias("_salt")
    return df.groupBy(*key_cols, salt).agg(
        *[_PARTIAL[fn](col).alias(f"_p_{name}") for name, (fn, col) in aggs.items()]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join: spread a hot join key over ``n_salts``
    reducers by salting the fact side and REPLICATING the dim side.

    A hot key in a shuffle join sends its entire fact slice to one
    reducer — the task that runs 16× longer than the rest of the
    stage. AQE's skew-join split covers sort-merge joins above its
    byte threshold at runtime; this is the PLAN-level form for when
    the salt must survive into downstream operators or AQE cannot see
    the skew (measured numbers: BENCH_NOTES "Skew-resilience proof",
    round 5). The fact side gains ``_salt = spark_partition_id() %
    n_salts`` (deterministic per task — retries reproduce the same
    groups; same contract as ``_salted_partial``), the dim side
    explodes each row into all ``n_salts`` salt values, and the join
    runs on ``on + [_salt]`` — the hot key's rows now hash to
    ``n_salts`` distinct reducers.

    Cost: the dim shuffle grows ``n_salts``× — use a BOUNDED dim (the
    point is a dim too big to broadcast but far smaller than the
    fact). Only fact-side-preserving join types are allowed: an
    unmatched DIM row would surface once per salt under
    right/full/outer semantics.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join replicates the dim side {n_salts}x; join type "
            f"{how!r} would duplicate unmatched dim rows — use one of "
            f"{sorted(allowed)}"
        )
    # withColumn would silently OVERWRITE a caller's '_salt' and the
    # tail drop() would then destroy their data (round-5 ADVICE)
    clash = [s for s, df_ in (("fact", fact), ("dim", dim))
             if "_salt" in df_.columns]
    if clash:
        raise ValueError(
            f"salted_join uses an internal '_salt' column but the "
            f"{' and '.join(clash)} input already has one — rename it "
            "before salting"
        )
    f = fact.withColumn("_salt", F.spark_partition_id() % n_salts)
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [*on, "_salt"], how).drop("_salt")


def incremental_agg_merge(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Materialized-aggregate maintenance: fold a raw ``delta`` into an
    existing aggregate ``state`` without touching historical rows.

    ``state`` holds (key_cols, <agg name columns>) — the output of a
    previous call (or of the initial full aggregation). ``delta`` is
    raw rows. The delta is partial-aggregated (delta-sized work), then
    merged with the state via the re-aggregation rules sum/count→sum,
    min→min, max→max. At 100 TB this is the difference between a
    daily job that reads one day and one that re-reads the fact table;
    repeated folding is exactly associative, so
    fold(fold(agg(a), b), c) == agg(a ∪ b ∪ c) bit-for-bit for these
    decimal/count/minmax aggregates (pinned by the oracle-checked
    ``incremental_sales_rollup`` query).

    Non-re-aggregable measures (avg, distinct) must be stored in
    re-aggregable form instead (sum+count; a distinct sketch —
    operators/sketch.py); the same ValueError guard as salted_agg.
    """
    unknown = {fn for fn, _ in aggs.values()} - set(_PARTIAL)
    if unknown:
        raise ValueError(f"non-re-aggregable functions: {sorted(unknown)}")
    partial = delta.groupBy(*key_cols).agg(
        *[_PARTIAL[fn](col).alias(name) for name, (fn, col) in aggs.items()]
    )
    # state=None bootstraps the view: the final pass over the lone
    # partial reduces count→sum(single count) etc., i.e. a plain agg
    merged = (
        partial
        if state is None
        else state.select(*key_cols, *aggs).unionByName(partial)
    )
    return merged.groupBy(*key_cols).agg(
        *[
            _FINAL[fn](F.col(name)).alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (+ optionally sorted) catalog table.

    Both sides of a recurring equi-join bucketed by the join key with
    the same ``n_buckets`` sort-merge-join with NO exchange — the
    shuffle is paid once at write time instead of per query. This is
    the Spark analog of co-located/partitioned joins in MPP warehouses.

    ``mode="overwrite"`` is idempotent across SESSIONS too: with an
    in-memory catalog, a previous session's managed-table directory
    survives in the warehouse while its metadata does not, and
    ``saveAsTable`` then fails with LOCATION_ALREADY_EXISTS — the
    stale location is dropped first (metadata via DROP TABLE, the
    orphaned directory via the Hadoop FS API). The path is resolved
    the way the session catalog lays out managed tables —
    ``{wh}/{tbl}`` for the default database, ``{wh}/{db}.db/{tbl}``
    for a qualified name — and only deleted when it actually LOOKS
    like a prior saveAsTable output (contains _SUCCESS or part-*
    files), so a name that collides with an unrelated directory
    raises instead of silently destroying it (round-5 ADVICE).
    """
    spark = df.sparkSession
    if mode == "overwrite" and not spark.catalog.tableExists(table):
        parts = table.lower().split(".")
        if len(parts) == 1:
            db, tbl = spark.catalog.currentDatabase().lower(), parts[0]
        elif len(parts) == 2:
            db, tbl = parts
        else:
            raise ValueError(f"unsupported table identifier: {table!r}")
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        wh = spark.conf.get("spark.sql.warehouse.dir")
        sub = tbl if db == "default" else f"{db}.db/{tbl}"
        p = jvm.org.apache.hadoop.fs.Path(f"{wh}/{sub}")
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            children = [st.getPath().getName() for st in fs.listStatus(p)]
            is_table_dir = any(
                c == "_SUCCESS" or c.startswith("part-") for c in children
            )
            if not is_table_dir:
                raise RuntimeError(
                    f"stale-location cleanup for {table!r} found {p} but it "
                    "does not look like a previous saveAsTable output "
                    f"(children: {sorted(children)[:5]}); refusing to delete "
                    "an unrelated directory — remove it manually or choose "
                    "another table name"
                )
            fs.delete(p, True)
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_table(
    spark: SparkSession,
    path: str,
    partition_cols: list[str] | None = None,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a parquet table to bounded-size files, preserving the
    Hive partition layout. Returns the number of files after.

    Streaming appends (128 MB Firehose buffers in the reference; small
    micro-batches here) accumulate small files that poison scan
    planning at scale — list+open costs dominate. Compaction rewrites
    with ``maxRecordsPerFile`` so file count tracks data size, not
    batch count. At 100 TB, filter to fresh partitions and run this as
    an incremental maintenance job per partition.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    # resolve the filesystem FROM the path, not the default FS — a
    # table on s3a:// under an hdfs:// defaultFS would otherwise make
    # every exists/rename below throw Wrong-FS before recovery runs
    fs = p_old.getFileSystem(conf)
    tmp = path.rstrip("/") + "__compact_tmp"
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    aside = path.rstrip("/") + "__compact_aside"
    p_aside = jvm.org.apache.hadoop.fs.Path(aside)

    # crash recovery FIRST: a prior run that died between its two
    # renames left the table's only copy under the aside name with
    # nothing at `path`. If the staged tmp it left behind is COMMITTED
    # (_SUCCESS present), the crashed run had finished its entire
    # compaction write — complete its swap (tmp → path, drop aside)
    # instead of discarding the finished output and redoing the whole
    # job from the small-file original; otherwise restore the aside.
    # A tmp next to an intact table is always a dead staged write.
    if fs.exists(p_aside):
        if fs.exists(p_old):
            fs.delete(p_aside, True)
        else:
            p_tmp_done = jvm.org.apache.hadoop.fs.Path(tmp + "/_SUCCESS")
            if (
                fs.exists(p_tmp)
                and fs.exists(p_tmp_done)
                and fs.rename(p_tmp, p_old)
            ):
                fs.delete(p_aside, True)
            elif not fs.rename(p_aside, p_old):
                raise RuntimeError(
                    f"could not restore {path} from crashed-compaction aside"
                )
    if fs.exists(p_tmp):
        fs.delete(p_tmp, True)

    df = spark.read.parquet(path)
    writer = (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(tmp)
    # Rename-aside swap: the original data stays on disk under the
    # aside name until the new directory is in place, so a crash at
    # any point leaves the data recoverable — between the two renames
    # it sits under the aside name, which the entry recovery above
    # renames back on the next run. A delete-then-rename form would
    # have a window where a crash loses the original. Hadoop rename
    # reports most failures by returning false, not raising — every
    # return value is checked.
    if not fs.rename(p_old, p_aside):
        fs.delete(p_tmp, True)
        raise RuntimeError(f"compaction aside rename failed; {path} untouched")
    if not fs.rename(p_tmp, p_old):
        # restore the original before surfacing the failure
        if not fs.rename(p_aside, p_old):
            raise RuntimeError(
                f"compaction swap failed AND restore failed; data is intact "
                f"under {aside}"
            )
        raise RuntimeError(f"compaction swap failed; {path} restored")
    fs.delete(p_aside, True)
    files = spark.read.parquet(path).inputFiles()
    return len(files)


def quantize(c: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Clamp-quantize a numeric column onto the integer grid
    [0, 2**bits): the per-dimension preprocessing for
    :func:`zorder_key`. Values at/below ``lo`` map to 0, at/above
    ``hi`` to 2**bits - 1; NULL and NaN both map to NULL (a NULL in
    any z-order dimension yields a NULL key, which range-partitioning
    groups together — the right place for unorderable values; without
    the NaN guard the non-ANSI double→long cast sends every NaN to
    bucket 0, silently clustering a NaN-heavy dimension into the low
    bucket). Layout-only either way — read-back filters use the raw
    columns — but NULL is the honest bucket. Pure codegen arithmetic."""
    if hi <= lo:
        raise ValueError(f"quantize needs hi > lo, got [{lo}, {hi}]")
    n = (1 << bits) - 1
    dbl = c.cast("double")
    scaled = (dbl - F.lit(float(lo))) / F.lit(float(hi - lo)) * n
    # greatest/least SKIP nulls in Spark (a NULL input would silently
    # clamp to 0) — the when-guard keeps NULL → NULL as documented;
    # isnan only accepts float/double, hence the cast inside the guard
    return F.when(
        c.isNotNull() & ~F.isnan(dbl),
        F.least(
            F.lit(n).cast("long"),
            F.greatest(F.lit(0).cast("long"), scaled.cast("long")),
        ),
    )


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) key: bit-interleave ``len(cols)`` pre-quantized
    non-negative integer columns (see :func:`quantize`) into one long.

    Sorting by this key is the standard multi-dimensional clustering
    trick (Delta Lake's OPTIMIZE ZORDER BY, the Morton curve of the
    UB-tree literature): each contiguous run of keys covers a small
    HYPER-RECTANGLE of the dimension space, so parquet footer min/max
    stats prune files/row-groups for predicates on ANY subset of the
    dimensions — where a linear sort only prunes its leading column.
    The proof is measured, not claimed: tests/test_scale.py counts
    footer-intersecting files under both layouts for a 2-D box
    predicate, and the events_zorder_scan gate query pins that the
    layout round-trip is value-identical to the raw table.

    ``bits * len(cols)`` must fit a signed long (≤ 62); the expression
    is a flat chain of shift/AND/OR terms — whole-stage codegen, no
    UDF.

    Inputs MUST fit ``bits`` bits (quantize with the SAME ``bits``) —
    enforced per row with one assert_true per column: silently
    dropping high bits would collide far-apart points and collapse
    the clustering benefit to noise with no error anywhere."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits * k > 62:
        raise ValueError(f"bits={bits} × {k} cols exceeds a signed long")
    lim = F.lit(1 << bits).cast("long")
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        guard = F.assert_true(
            cl.isNull() | ((cl >= 0) & (cl < lim)),
            F.lit(f"zorder_key: column {j} outside [0, 2^{bits})"),
        )
        # assert_true yields NULL on pass (raises otherwise); OR-ing
        # it in as a zero keeps one guard per column in the plan at
        # zero arithmetic cost
        z = z.bitwiseOR(F.coalesce(guard.cast("long"), F.lit(0).cast("long")))
        for i in range(bits):
            bit = F.shiftright(cl, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zcol: Column,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered by a z-order key:
    range-partition on the key (contiguous key ranges → one file
    each), sort within partitions, drop the key column.

    Range partitioning samples the key distribution, so files are
    balanced by ROW COUNT even when the key space is sparse or
    skewed — the data-layout analogue of compaction's size bound. At
    100 TB this is a per-partition maintenance rewrite exactly like
    :func:`compact_table` (and would ride its rename-aside swap when
    rewriting in place; this writer targets a fresh/overwrite
    location, the common case for a curated layout)."""
    if "_zkey" in df.columns:
        # same contract as salted_join's _salt guard: silently
        # overwriting then dropping a caller column corrupts data
        raise ValueError("input already has a '_zkey' column")
    (
        df.withColumn("_zkey", zcol)
        .repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def join_key_skew(
    df: DataFrame, key: str, top_n: int = 10
) -> DataFrame:
    """X169: join-key SKEW audit — the measurement run BEFORE choosing
    a join strategy at scale (X76's salted join and AQE's skew-join
    handling both exist to absorb what this report detects; picking a
    salting factor without the key histogram is guessing): per-key
    row counts reduced to the ``top_n`` heaviest keys with their
    corpus share and their ratio to the mean key load. A key whose
    ratio_vs_avg is 100× means one shuffle partition does 100× the
    work — the straggler that caps the whole stage at 1000 executors.

    One map-side-combined aggregate + a TakeOrdered top-n + one
    broadcast 1-row stats join; never a global sort. Ratios are
    single double divisions over exact int64 counts. Output:
    (key_rank, key value, n_rows, share, ratio_vs_avg)."""
    from pyspark.sql.window import Window

    counts = df.groupBy(F.col(key).alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("_n_keys"),
        F.sum("n_rows").cast("long").alias("_n_total"),
    )
    top = counts.orderBy(F.desc("n_rows"), "key_value").limit(top_n)
    w = Window.orderBy(F.desc("n_rows"), "key_value")
    return (
        top.crossJoin(F.broadcast(stats))
        .withColumn("key_rank", F.row_number().over(w).cast("int"))
        .select(
            "key_rank",
            "key_value",
            F.col("n_rows").cast("long").alias("n_rows"),
            (
                F.col("n_rows").cast("double")
                / F.col("_n_total").cast("double")
            ).alias("share"),
            (
                (F.col("n_rows") * F.col("_n_keys")).cast("double")
                / F.col("_n_total").cast("double")
            ).alias("ratio_vs_avg"),
        )
        .orderBy("key_rank")
    )
