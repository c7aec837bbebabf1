"""Similarity search over embedding columns (``array<float>``):
brute-force top-k as the exact baseline, sign-LSH bucketing as the
approximate scale path, and exact-arithmetic near-duplicate pairs.

Cross-engine determinism contract: every float component is quantized
``round(double(x) · 10⁴) → int64`` (verified bit-identical between
Spark and DuckDB on the full test corpus); dot products and squared
distances are then pure 64-bit integer arithmetic — exact, associative,
order-independent — and only the final score divides by 10⁸ (one IEEE
double division, identical everywhere). Top-k ties break on neighbor
id, so rankings are fully deterministic.

The test embeddings are unit-normalized (‖x‖² = 1.0), so the dot
product IS cosine similarity and squared L2 = 2·(1 − cos).

Scale design:
- brute-force: broadcast the (small) query set against the corpus —
  a map-side loop over each partition, no shuffle of the big side;
  then one shuffle for the per-query top-k window.
- sign-LSH: bucket = sign bits of the first ``SIGN_BITS`` components
  (random-hyperplane LSH with axis-aligned planes — deterministic, no
  stored model). Candidates come from an equi-join on the bucket id;
  recall trades against bucket count exactly like IVF probes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SIGN_BITS = 8  # leading components used for the LSH bucket id
N_TABLES = 3  # bucketings stacked by the multi-table near-dup path


def auto_stride(n: int) -> int:
    """IVF auto centroid stride = ⌊√n⌋, so centroid count ≈ √n — o(n)
    in the corpus size (a fixed stride would grow K linearly, blowing
    up the centroid broadcast and the n×K assignment at scale). Exact
    for any n < 2^53 in BOTH engines: Python ``isqrt`` here, DuckDB
    ``floor(sqrt(n))`` in the oracle — IEEE sqrt of a perfect square
    is exact, so the floors agree."""
    return max(1, math.isqrt(n))
N_PROBES = 3  # IVF: cells each query probes
SCALE = 10_000  # per-component quantization factor
SCALE2 = float(SCALE * SCALE)  # score divisor (dot of two scaled vecs)


def quantized(col: Column | str = "embedding") -> Column:
    """float[] → int64[] via the verified round(x·10⁴) quantization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * SCALE, 0).cast("long")
    )


def _isum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def dot_i(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors (scaled 10⁸)."""
    return _isum(F.zip_with(a, b, lambda x, y: x * y))


def dist2_i(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 distance of quantized vectors (scaled 10⁸)."""
    return _isum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def unscale(c: Column) -> Column:
    """Scaled-integer score → double (one deterministic IEEE division)."""
    return c.cast("double") / F.lit(SCALE2)


def sign_bucket(
    col: Column | str = "embedding", bits: int = SIGN_BITS, offset: int = 0
) -> Column:
    """Axis-aligned random-hyperplane LSH bucket id ∈ [0, 2^bits):
    bit i set ⟺ quantized component ``offset + i`` > 0 (``offset``
    selects which hyperplane slice feeds the bucket — the knob the
    multi-table path rotates). Vectors shorter than ``offset + bits``
    components leave the missing bits unset (try_element_at → NULL →
    no contribution)."""
    q = quantized(col)
    return _sign_bucket_q(q, bits=bits, offset=offset)


def _sign_bucket_q(q: Column, bits: int, offset: int) -> Column:
    """sign_bucket over an ALREADY-quantized int64[] column."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(F.try_element_at(q, i + F.lit(offset) + 1) > 0, _p2i(i)).otherwise(0),
    )


def _p2i(i: Column) -> Column:
    """2^i as int for a column exponent (exact for i < 31)."""
    return F.pow(F.lit(2.0), i).cast("int")


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score_i").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", unscale(F.col("_score_i")).alias("score")
        )
    )


def topk_brute(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k by dot product (= cosine on unit vectors) for each of
    the first ``n_queries`` vectors against the whole corpus.

    The query side is broadcast: the corpus is scanned once per
    partition with zero shuffle of the big side; the only shuffle is
    the per-query top-k window. Ties break on neighbor id for full
    determinism.

    ``allowed`` (X190 filtered search): a 1-column frame of CORPUS ids
    the search may return — the attribute-constrained ground truth
    ("top-k within lang=X"). Queries stay unfiltered; the predicate
    restricts the inventory BEFORE scoring, so the scan shrinks with
    the filter's selectivity."""
    q = embs.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), quantized().alias("qv")
    )
    c = embs.select(F.col(id_col).alias("neighbor_id"), quantized().alias("cv"))
    if allowed is not None:
        allow = allowed.select(
            F.col(allowed.columns[0]).alias("neighbor_id")
        )
        c = c.join(F.broadcast(allow), "neighbor_id")
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        dot_i(F.col("qv"), F.col("cv")).alias("_score_i"),
    )
    return _topk(scored, k)


def topk_lsh(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    bits: int = SIGN_BITS,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket (equi-join on bucket id — the IVF-style scale path; recall
    is traded for a ~2^bits reduction in comparisons)."""
    bucketed = embs.select(
        F.col(id_col), quantized().alias("qv"), sign_bucket(bits=bits).alias("bucket")
    )
    q = bucketed.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("qv_q"),
        F.col("bucket"),
    )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qv").alias("qv_c"),
        F.col("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot_i(F.col("qv_q"), F.col("qv_c")).alias("_score_i"),
        )
    )
    return _topk(scored, k)


def topk_lsh_multi(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    bits: int = SIGN_BITS,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-table sign-LSH approximate top-k: candidates are the
    UNION of the query's bucket across ``n_tables`` independent
    bucketings (table t reads components [t·bits, (t+1)·bits)) — the
    retrieval analog of :func:`near_dup_lsh_multi`, closing
    :func:`topk_lsh`'s single-bucket recall gap the same way: a true
    neighbor is missed only if it straddles a hyperplane in EVERY
    table, so the miss probability decays geometrically with
    ``n_tables`` (the measured effect is ann_recall_audit's job).

    Scale shape: the (id, table, bucket) assignment explode carries
    ids + short ints only; the candidate join hits a BROADCAST query
    panel (n_queries·n_tables rows), the candidate set dedupes on the
    (query, neighbor) key, and vectors are fetched by one id
    equi-join before the exact scaled-int scoring — the corpus never
    cross-joins anything, and per-query work stays proportional to
    its buckets' occupancy."""
    base = embs.select(F.col(id_col), quantized().alias("v"))
    tabled = lsh_tables(base, bits=bits, n_tables=n_tables, id_col=id_col)
    q = tabled.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), "t", "bucket"
    )
    c = tabled.select(F.col(id_col).alias("neighbor_id"), "t", "bucket")
    cand = (
        c.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qv = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    cv = base.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"))
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_i(F.col("qv"), F.col("cv")).alias("_score_i"),
        )
    )
    return _topk(scored, k)


def topk_ivf(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    centroid_stride: int | None = None,
    nprobe: int = N_PROBES,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat approximate top-k: the corpus is partitioned into
    Voronoi cells around coarse centroids, each query probes its
    ``nprobe`` nearest cells, and the exact scaled-integer dot product
    reranks only the vectors assigned to probed cells.

    Centroids are deterministic — corpus vectors whose id divides the
    stride (no trained model, so the DuckDB oracle replicates the
    index bit-for-bit). ``centroid_stride=None`` (default) auto-sizes
    the stride to ⌊√n⌋ via one cheap count, giving ~√n centroids: the
    centroid count is o(n), so the centroid broadcast and the n×K
    assignment cost stay sublinear-per-row as the corpus grows
    (round-3 review flagged the old fixed stride, whose K grew
    LINEARLY with n). At production scale pass an explicit stride to
    pin K FAISS-style (K ≈ thousands), decoupling index geometry from
    corpus size entirely. Assignment ties break on the lower cell id.

    Scale shape: centroids are a broadcast dim (~√n or n/stride rows),
    so cell assignment is a map-side expand over the broadcast followed
    by a partially-aggregated ``min(struct(d2, cell))`` — the shuffle
    carries ONE row per corpus vector, never the n×K expansion.
    Candidate generation is an equi-join on the cell id (the query
    side is tiny and broadcast), so the corpus never shuffles for
    scoring; comparisons drop from n² to Σ(probed-cell sizes), the
    IVF trade. Recall is tuned by ``nprobe`` exactly as in
    FAISS-style IVF-flat."""
    base = embs.select(F.col(id_col), quantized().alias("v"))
    if centroid_stride is None:
        centroid_stride = auto_stride(embs.count())
    cents = base.filter((F.col(id_col) % centroid_stride) == 0).select(
        F.col(id_col).alias("cell"), F.col("v").alias("cv")
    )
    # ONE corpus×centroids expansion feeds both the assignment and the
    # probe lists (the n×K distance evaluation is the index-build cost —
    # don't pay it twice). Nearest-cell assignment: struct min orders by
    # (d2, cell) — the documented tie-break — and partial aggregation
    # keeps the shuffle at one row per vector.
    expanded = base.join(F.broadcast(cents)).select(
        id_col,
        "v",
        F.struct(
            dist2_i(F.col("v"), F.col("cv")).alias("d2"), F.col("cell").alias("cell")
        ).alias("dc"),
    )
    assign = (
        expanded.groupBy(id_col)
        .agg(F.min("dc").alias("m"), F.first("v").alias("v"))
        .select(id_col, F.col("m.cell").alias("cell"), "v")
    )
    # query probe lists: nprobe nearest cells per query (query side is
    # n_queries×K rows — a window here is trivially cheap)
    qx = expanded.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("dc.cell").alias("cell"),
        F.col("dc.d2").alias("_d2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_d2").asc(), F.col("cell").asc())
    probes = (
        qx.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            dot_i(F.col("qv"), F.col("v")).alias("_score_i"),
        )
    )
    return _topk(scored, k)


def near_dup_lsh(
    embs: DataFrame,
    d2_max: float = 1.2,
    bits: int = SIGN_BITS,
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-blocked — the scale path:
    candidates come from an equi-join on the sign-LSH bucket (same-
    direction vectors share all sign bits with high probability), then
    the exact scaled-integer distance filter prunes. Complexity is
    Σ|bucket|² instead of n² — with balanced buckets a ~2^bits
    reduction.

    Recall caveat (inherent to single-table LSH): a pair straddling a
    hyperplane (opposite sign in ANY of the first ``bits`` components)
    is missed. :func:`near_dup_lsh_multi` stacks several rotated
    bucketings and unions candidates to close that gap. The oracle
    replicates the single-bucketing result exactly.
    """
    d2_max_i = round(d2_max * SCALE2)
    bucketed = embs.select(
        F.col(id_col),
        quantized().alias("v"),
        sign_bucket(bits=bits).alias("bucket"),
    ).repartition(F.col("bucket"))
    a = bucketed.select(
        F.col(id_col).alias("vec_a"), F.col("v").alias("va"), "bucket"
    )
    b = bucketed.select(
        F.col(id_col).alias("vec_b"), F.col("v").alias("vb"), "bucket"
    )
    d2 = dist2_i(F.col("va"), F.col("vb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", d2.alias("_d2_i"))
        .filter(F.col("_d2_i") <= F.lit(d2_max_i))
        .select("vec_a", "vec_b", unscale(F.col("_d2_i")).alias("dist2"))
    )


def lsh_tables(
    base: DataFrame,
    bits: int,
    n_tables: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, table, bucket) assignments for multi-table sign-LSH over a
    pre-quantized frame ``(id_col, v)``. Tables whose component slice
    ``[t·bits, (t+1)·bits)`` exceeds a vector's dimension are dropped
    for that vector — the effective table count is ``dim DIV bits`` —
    so short vectors can never all collapse into a spurious bucket 0
    and cross-product the corpus."""
    return base.select(
        id_col,
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            _sign_bucket_q(
                                F.col("v"), bits=bits, offset=t * bits
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                ),
                lambda s: (s.getField("t") + 1) * bits <= F.size(F.col("v")),
            )
        ).alias("tb"),
    ).select(id_col, F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))


def near_dup_lsh_multi(
    embs: DataFrame,
    d2_max: float = 1.2,
    bits: int = SIGN_BITS,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-table LSH near-duplicate pairs: ``n_tables`` independent
    sign bucketings (table ``t`` reads components ``[t·bits,
    (t+1)·bits)``), candidates unioned and deduped, then the exact
    scaled-integer distance filter. Closes :func:`near_dup_lsh`'s
    single-table recall gap — a pair is only missed if it straddles a
    hyperplane in EVERY table (miss probability decays geometrically
    with ``n_tables``).

    Scale shape: one explode (n_tables rows per vector, ids + short
    bucket ints only — vectors do NOT travel through the candidate
    join), one equi-join on (table, bucket) ⇒ Σₜ Σ_b |bucket|²
    candidate pairs, one dedup shuffle on the pair key, then two id
    equi-joins to fetch vectors for the exact filter. At 100 TB each
    step shuffles short keys except the final fetch, which AQE can
    plan as broadcast when the candidate set is small.

    Tables whose component slice falls outside a vector's dimension
    are dropped FOR THAT VECTOR (effective table count = dim DIV
    bits): without the guard every out-of-range table hashes to
    bucket 0 (all lookups NULL), silently cross-producting the whole
    corpus in that table. Recall for short vectors degrades
    geometrically instead.
    """
    d2_max_i = round(d2_max * SCALE2)
    base = embs.select(F.col(id_col), quantized().alias("v"))
    tabled = lsh_tables(base, bits=bits, n_tables=n_tables, id_col=id_col)
    a = tabled.select(F.col(id_col).alias("vec_a"), "t", "bucket")
    b = tabled.select(F.col(id_col).alias("vec_b"), "t", "bucket")
    cand = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    va = base.select(F.col(id_col).alias("vec_a"), F.col("v").alias("va"))
    vb = base.select(F.col(id_col).alias("vec_b"), F.col("v").alias("vb"))
    d2 = dist2_i(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", d2.alias("_d2_i"))
        .filter(F.col("_d2_i") <= F.lit(d2_max_i))
        .select("vec_a", "vec_b", unscale(F.col("_d2_i")).alias("dist2"))
    )


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    d2_max: float = 1.2,
    bits: int = SIGN_BITS,
    n_tables: int = N_TABLES,
    id_col: str = "vec_id",
    blocked: bool = False,
) -> DataFrame:
    """SEMANTIC decontamination probe (X192, r11 VERDICT ask #7):
    n-gram decontamination (dedup.contamination_report) catches
    verbatim benchmark leakage; a PARAPHRASED benchmark document
    shares no 5-grams but sits next to its source in embedding space
    — this probes the corpus with the BENCHMARK VECTORS through the
    multi-table sign-LSH geometry of :func:`near_dup_lsh_multi`
    (same bits/tables/threshold constants, same dim guard), two-table
    form: candidates come from the (table, bucket) equi-join of the
    corpus assignments against the BROADCAST benchmark assignments
    (benchmarks are tiny next to a 100 TB corpus — the X5 broadcast
    argument, embedding-side), then one exact scaled-integer distance
    verifies per candidate.

    Output: (id_col, n_bench_hits, min_dist2) — one row per corpus
    vector within ``d2_max`` of ≥1 benchmark vector (on unit vectors
    d² = 2·(1−cos), so 1.2 ≈ cos 0.4 — the near-dup family's
    threshold).

    ``blocked``: candidate-generation strategy, MEASURED (r12):
    - False (default, the SHIPPED path): EXACT broadcast probe — the
      benchmark vectors broadcast whole and every corpus vector
      scores all |bench| of them map-side. Zero false negatives,
      cost |corpus|·|bench| dot products with NO shuffle of the big
      side — for a benchmark suite (KBs-MBs) against a 100 TB corpus
      this is one fused scan, strictly cheaper than any index walk,
      and it is the only form with a recall GUARANTEE, which is what
      a decontamination gate is for.
    - True: the multi-table sign-LSH two-table path (the X7
      geometry). Measured NEGATIVE on the near-uniform driver
      corpus: it found 0 of the 6 true d2 ≤ 1.2 paraphrase pairs at
      sf0.001 (every pair straddles a hyperplane in all 3 tables —
      the same degenerate-geometry floor X92/X97 measured for
      sign-LSH). Kept as the scale path for the regime where it
      belongs: a benchmark set too large to broadcast AND clustered
      geometry; the pytest negative pin records the uniform-corpus
      miss so nobody silently flips the default."""
    d2_max_i = round(d2_max * SCALE2)
    cbase = corpus.select(F.col(id_col), quantized().alias("v"))
    bbase = bench.select(
        F.col(id_col).alias("bench_id"), quantized().alias("v")
    )
    cv = cbase.select(F.col(id_col), F.col("v").alias("cv"))
    bv = bbase.select("bench_id", F.col("v").alias("bv"))
    if blocked:
        ct = lsh_tables(cbase, bits=bits, n_tables=n_tables, id_col=id_col)
        bt = lsh_tables(
            bbase, bits=bits, n_tables=n_tables, id_col="bench_id"
        )
        cand = (
            ct.join(F.broadcast(bt), ["t", "bucket"])
            .select(id_col, "bench_id")
            .dropDuplicates([id_col, "bench_id"])
        )
        scored = cand.join(cv, id_col).join(F.broadcast(bv), "bench_id")
    else:
        scored = cv.join(F.broadcast(bv))
    hits = scored.select(
        id_col,
        "bench_id",
        dist2_i(F.col("cv"), F.col("bv")).alias("_d2_i"),
    ).filter(F.col("_d2_i") <= F.lit(d2_max_i))
    return hits.groupBy(id_col).agg(
        F.countDistinct("bench_id").cast("long").alias("n_bench_hits"),
        unscale(F.min("_d2_i")).alias("min_dist2"),
    )


def near_dup_pairs(
    embs: DataFrame, d2_max: float = 1.2, id_col: str = "vec_id"
) -> DataFrame:
    """Embedding near-duplicate pairs: squared L2 ≤ d2_max, exact
    scaled-integer arithmetic (on unit vectors d² = 2·(1−cos), so a
    cosine threshold t maps to d2_max = 2·(1−t)).

    All-pairs form for the oracle gate; in production feed LSH-bucket
    or MinHash candidates through the same distance filter (the
    ``candidates`` pattern in operators.dedup.ngram_jaccard_pairs)."""
    # the threshold must be exactly representable in the scaled domain
    d2_max_i = round(d2_max * SCALE2)
    # repartition spreads the quadratic comparison across cores and
    # materializes the quantized vectors before the nested-loop join
    a = embs.select(F.col(id_col).alias("vec_a"), quantized().alias("va")).repartition(
        F.col("vec_a")
    )
    b = embs.select(F.col(id_col).alias("vec_b"), quantized().alias("vb"))
    d2 = dist2_i(F.col("va"), F.col("vb"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", d2.alias("_d2_i"))
        .filter(F.col("_d2_i") <= F.lit(d2_max_i))
        .select("vec_a", "vec_b", unscale(F.col("_d2_i")).alias("dist2"))
    )


N_FIXTURE_CLUSTERS = 8  # clustered fixture: 2^3 centers, bit period 3
FIXTURE_AMP = 0.125  # exactly representable in binary — exact IEEE add


def clustered_embeddings(
    embs: DataFrame, amp: float = FIXTURE_AMP, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic CLUSTERED view of an embedding corpus — the
    fixture geometry the recall audit needs (round-6 VERDICT ask #5):
    the driver's synthetic embeddings are near-uniform on the sphere,
    which defeats sign-LSH BY CONSTRUCTION (no bucket carries
    neighborhood signal — measured recall 0.02, BENCH_NOTES r6), so
    audit numbers on that corpus can't separate the methods.

    Each vector is shifted onto one of 8 cluster centers: cluster id =
    vec_id mod 8, and center component d = ±amp with the sign taken
    from cluster bit (d mod 3) — every third dimension repeats one of
    the three id bits, so centers differ on ~dim/3 components and
    inter-cluster distance dominates intra-cluster spread while the
    original vector survives as per-cluster noise. amp is binary-exact
    by contract (0.125 default; any k/2^m works) and tunes the
    signal-to-noise: 0.125 separates all four methods without
    saturating any (measured at sf0.01: ivf 0.84 > lsh_multi 0.34 >
    pq 0.18 ≈ lsh 0.16 vs 0.02-0.40 on the uniform corpus); 0.25
    saturates lsh_multi at 1.0 (numbers in BENCH_NOTES). All arithmetic
    stays inside the cross-engine determinism contract: the default
    amp = 0.125 (FIXTURE_AMP — the value the registry entry and its
    DuckDB oracle hardcode) is binary-exact, and the shift is one IEEE
    double addition performed
    identically by Spark and the DuckDB oracle on the same float32
    inputs, and quantization happens AFTER the shift in both engines.

    Returns (id_col, embedding) — drop-in for every top-k/near-dup
    operator in this module."""
    cl = (F.col(id_col) % N_FIXTURE_CLUSTERS).cast("long")
    shifted = F.transform(
        F.col("embedding"),
        lambda x, i: x.cast("double")
        + F.when(
            (F.floor(cl / F.pow(F.lit(2.0), (i % 3)).cast("long")) % 2) == 1,
            F.lit(float(amp)),
        ).otherwise(F.lit(-float(amp))),
    )
    return embs.select(F.col(id_col), shifted.alias("embedding"))


def semantic_dedup(
    embs: DataFrame,
    d2_max: float = 1.2,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-shape (Abbas et al., 2023
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv 2303.09540): cluster the embedding
    space with k-means, compare pairs ONLY within a cluster, connect
    the pairs under the distance threshold into components, and keep
    one representative per component. The widely-deployed LLM-corpus
    dedup family that exact/MinHash text dedup misses: paraphrases and
    re-renderings that share meaning but few shingles.

    Returns one row per vector: (vec_id, cell, component, keep) —
    ``component`` is the minimum vec_id of the vector's semantic-dup
    group (itself when it has no within-cluster dup), ``keep`` is the
    keep-one-per-group decision (vec_id == component). Deterministic
    end to end: stride-sampled centroids, exact scaled-int distances,
    (d2, cell) assignment tie-break, min-id components — a DuckDB
    oracle replays every stage.

    Candidate contract (same scoping as the LSH families): a pair is
    considered iff BOTH vectors land in the same k-means cell. Pairs
    split across cells are out of contract by design — that bound is
    the entire reason the operator scales (SemDeDup §3 makes the same
    trade; the property test pins emitted == exact ∩ same-cell).

    Scale shape: one broadcast n×K assignment (the IVF build cost),
    one equi-join on the cell id for candidates — NEVER all-pairs;
    with K ≈ √n stride centroids the expected within-cell quadratic
    totals ~n^1.5 comparisons, the triangle-counting budget — then
    bounded-round CC over the (sparse) dup pairs. No driver-side
    model, no MLlib dependency.

    ``centroids``: pass a (cell, cv) frame from a
    :func:`kmeans_new_centroids` Lloyd loop to cluster around TRAINED
    centers (what SemDeDup proper does) instead of the deterministic
    stride seeds — the oracle-paired registry query uses the stride
    form because DuckDB can replay it, but the operator contract is
    identical either way."""
    from aws_kinesis_data_ingestion_restapi_spark.operators import graph

    base, cents = _kmeans_base_and_cents(
        embs, centroid_stride, centroids, id_col
    )
    assign = _kmeans_assign(base, cents, id_col)
    pairs = semantic_dup_pairs(assign, d2_max=d2_max, id_col=id_col)
    labels = graph.connected_components(
        pairs, nodes=assign.select(F.col(id_col))
    )
    return (
        assign.select(F.col(id_col), "cell")
        .join(labels, F.col(id_col) == labels.node)
        .select(
            F.col(id_col),
            "cell",
            "component",
            (F.col(id_col) == F.col("component")).alias("keep"),
        )
    )


def semantic_dup_pairs(
    assign: DataFrame, d2_max: float = 1.2, id_col: str = "vec_id"
) -> DataFrame:
    """The candidate+verify stage of :func:`semantic_dedup`, factored
    out (same precedent as dedup.minhash_candidate_pairs for the LSH
    audit) so plan tests pin the shape production runs: ``assign`` is
    the (id, cell, v) k-means assignment; candidates are the SAME-CELL
    pairs only — one equi-join on the cell id, never all-pairs — and
    the verify is the exact scaled-int distance filter. Returns
    (vec_a, vec_b) with vec_a < vec_b."""
    d2_max_i = round(d2_max * SCALE2)
    a = assign.select(
        F.col(id_col).alias("vec_a"), "cell", F.col("v").alias("va")
    ).repartition(F.col("cell"))
    b = assign.select(F.col(id_col).alias("vec_b"), "cell", F.col("v").alias("vb"))
    return (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b", dist2_i(F.col("va"), F.col("vb")).alias("_d2_i")
        )
        .filter(F.col("_d2_i") <= F.lit(d2_max_i))
        .select("vec_a", "vec_b")
    )


PQ_M = 4  # product-quantization subspaces


def pq_encode(
    embs: DataFrame,
    m: int = PQ_M,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11): each vector is
    split into ``m`` subvectors and every subvector is replaced by the
    id of its nearest per-subspace centroid — the compact-code
    compression that lets a 100 TB embedding store keep codes in
    memory (m small ints per vector) and rerank with table lookups.

    Deterministic like the IVF index: per-subspace centroids are the
    stride-sampled corpus subvectors (no trained model — the DuckDB
    oracle rebuilds the identical codebook), the stride auto-sizes to
    ⌊√n⌋, distances are exact scaled-int64, and assignment ties break
    on the lower centroid id.

    Output per vector: ``codes`` joined as a string (subspace order),
    ``n_subs``, and ``recon_err`` — the summed squared quantization
    error (the compression-quality metric PQ papers report).

    Scale shape: the subspace explode is ×m (not ×dim); centroids are
    a broadcast dim (~√n·m rows); assignment partially aggregates
    min(struct(d2, cell)) so the shuffle carries one row per
    (vector, subspace); codes regroup on the vector id. Dim must be
    divisible by ``m`` (the fixture's 64 / 4 is)."""
    subs, cents = _pq_parts(embs, m, centroid_stride, id_col)
    assigned = _pq_assign(subs, cents, id_col)
    return (
        assigned.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("sub", F.col("best.cell").alias("cell")))
            ).alias("sc"),
            F.sum("best.d2").alias("_err2"),
        )
        .select(
            id_col,
            F.concat_ws(
                "-", F.transform("sc", lambda s: s["cell"].cast("string"))
            ).alias("codes"),
            F.size("sc").alias("n_subs"),
            unscale(F.col("_err2")).alias("recon_err"),
        )
    )


def _pq_parts(
    embs: DataFrame, m: int, centroid_stride: int | None, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ geometry: the (id, sub, sv) subvector frame and the
    per-subspace stride-sampled codebook (sub, cell, cv)."""
    base = embs.select(F.col(id_col), quantized().alias("v"))
    if centroid_stride is None:
        centroid_stride = auto_stride(embs.count())
    subs = base.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col("v"),
    ).select(
        id_col,
        "sub",
        F.expr(f"slice(v, sub * (size(v) DIV {m}) + 1, size(v) DIV {m})").alias(
            "sv"
        ),
    )
    cents = subs.filter((F.col(id_col) % centroid_stride) == 0).select(
        "sub", F.col(id_col).alias("cell"), F.col("sv").alias("cv")
    )
    return subs, cents


def _pq_assign(subs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest-codebook-entry per (vector, subspace): min(struct(d2,
    cell)) — partial aggregation keeps the shuffle at one row per
    (vector, subspace); ties break on the lower cell id."""
    return (
        subs.join(F.broadcast(cents), "sub")
        .select(
            id_col,
            "sub",
            F.struct(
                dist2_i(F.col("sv"), F.col("cv")).alias("d2"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
        .groupBy(id_col, "sub")
        .agg(F.min("dc").alias("best"))
    )


def topk_pq(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = PQ_M,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ search by asymmetric distance computation (ADC): the corpus
    is represented ONLY by its PQ codes; each query precomputes one
    distance table per subspace (its exact subvector distance to every
    codebook entry), and a corpus vector's approximate distance is the
    sum of m table lookups — never a full-dimension multiply against
    corpus vectors. This is the other half of the PQ contract
    (pq_encode compresses; this searches the compressed form).

    Scale shape: the distance tables are n_queries × m × K rows —
    broadcast-size by construction (K ≈ √n codebook entries) — so the
    scan side is the CODES table (m small ints per corpus vector, the
    whole point of PQ at 100 TB), joined map-side on (sub, cell) and
    partially aggregated to one row per (query, vector) before the
    per-query top-k window. Approximation error vs the exact brute
    path is bounded by quantization error (emb_pq_codes.recon_err);
    ranking ties break on the neighbor id."""
    subs, cents = _pq_parts(embs, m, centroid_stride, id_col)
    codes = _pq_assign(subs, cents, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        "sub",
        F.col("best.cell").alias("cell"),
    )
    dtab = (
        subs.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), "sub", "sv")
        .join(F.broadcast(cents), "sub")
        .select(
            "query_id",
            "sub",
            "cell",
            dist2_i(F.col("sv"), F.col("cv")).alias("qd2"),
        )
    )
    adc = (
        codes.join(F.broadcast(dtab), ["sub", "cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd2").alias("_d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            unscale(F.col("_d2")).alias("adc_dist"),
        )
    )


def topk_ivfpq(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = PQ_M,
    centroid_stride: int | None = None,
    nprobe: int = N_PROBES,
    refine: int = 20,
    id_col: str = "vec_id",
    coarse_cents: DataFrame | None = None,
    pq_cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composed search with exact re-ranking — the deployment
    shape of a 100 TB vector store (Jégou et al. TPAMI'11 §5 "IVFADC";
    Jégou et al. ICASSP'11 "Searching in one billion vectors"
    re-ranking; FAISS IndexIVFPQ + refine): a coarse IVF partition
    bounds WHICH vectors each query compares, PQ codes bound WHAT a
    comparison costs, and an exact re-rank of the top-``refine`` ADC
    shortlist restores ranking fidelity. :func:`topk_pq` alone
    ADC-scans every corpus code per query (m lookups × all n vectors);
    here the ADC join is keyed on the coarse cell, so a code row meets
    only the queries probing ITS cell and per-query ADC work is
    (n/K)·nprobe·m lookups — the n → n/K·nprobe reduction is the
    entire reason IVF-PQ, not flat PQ, is what ships at scale. The
    refine stage then fetches only ``refine`` full vectors per query
    by id (a panel-sized join) for exact scaled-int scoring.

    Design note, measured not asserted (BENCH_NOTES r8): textbook
    IVFADC encodes per-cell RESIDUALS; that variant was implemented
    and measured WORSE here (clustered-fixture recall 0.08 vs 0.18
    raw even probing every cell) because the deterministic coarse
    "centroids" are stride-sampled corpus vectors, not trained means —
    residuals against them are as spread as the raw data, so the
    codebook gains nothing and loses the cluster signal raw codes
    keep. Raw-code ADC + exact refine is the shape whose accuracy the
    shared stride geometry actually supports, and keeps the codes
    table identical to :func:`pq_encode`'s contract.

    Deterministic end to end: ONE stride (⌊√n⌋ by default) seeds the
    coarse centroids and every per-subspace codebook, distances are
    exact scaled-int64, assignment/probe ties break on the lower cell
    id, ADC shortlist ties on the neighbor id, final ranking ties on
    the neighbor id — the DuckDB oracle replays the identical index.

    Scale shape: coarse assignment is the broadcast n×K struct-min of
    :func:`topk_ivf` (one shuffled row per vector); the probe panel
    (n_queries·nprobe rows) and distance tables (n_queries·m·K rows)
    are broadcast; the ADC join's key includes the coarse cell —
    plan-pinned: unprobed cells' codes never enter the lookup — then
    partial aggregation sums the m lookups per (query, vector); the
    refine join moves ``refine`` ids per query, never the corpus.

    ``coarse_cents`` (cell, cv) / ``pq_cents`` (sub, cell, cv):
    optional TRAINED quantizers (see :func:`topk_ivfpq_trained`) —
    the search plan is identical, only the broadcast dims change."""
    base = embs.select(F.col(id_col), quantized().alias("v"))
    if centroid_stride is None:
        centroid_stride = auto_stride(embs.count())
    # coarse IVF geometry — one expansion feeds assignment and probes
    if coarse_cents is not None:
        cents = coarse_cents.select("cell", "cv")
    else:
        cents = base.filter((F.col(id_col) % centroid_stride) == 0).select(
            F.col(id_col).alias("cell"), F.col("v").alias("cv")
        )
    expanded = base.join(F.broadcast(cents)).select(
        id_col,
        F.struct(
            dist2_i(F.col("v"), F.col("cv")).alias("d2"), F.col("cell").alias("cell")
        ).alias("dc"),
    )
    assign = (
        expanded.groupBy(id_col)
        .agg(F.min("dc").alias("m"))
        .select(F.col(id_col).alias("neighbor_id"), F.col("m.cell").alias("cell"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("cell").asc()
    )
    probes = (
        expanded.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("dc.cell").alias("cell"),
            F.col("dc.d2").alias("_d2"),
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "cell")
    )
    # PQ codes + per-query distance tables — same stride, same
    # codebooks as topk_pq (stride passed through: count() runs once)
    subs, pcents = _pq_parts(embs, m, centroid_stride, id_col)
    if pq_cents is not None:
        pcents = pq_cents.select("sub", "cell", "cv")
    codes = _pq_assign(subs, pcents, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        "sub",
        F.col("best.cell").alias("pcell"),
    )
    dtab = (
        subs.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), "sub", "sv")
        .join(F.broadcast(pcents), "sub")
        .select(
            "query_id",
            "sub",
            F.col("cell").alias("pcell"),
            dist2_i(F.col("sv"), F.col("cv")).alias("qd2"),
        )
    )
    # THE IVF-PQ step: attach each code row's coarse cell and join the
    # broadcast probe panel on it BELOW the ADC lookup — per query,
    # only its nprobe cells' codes reach the distance tables
    cand = (
        codes.join(assign, "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "sub", "pcell")
    )
    adc = (
        cand.join(F.broadcast(dtab), ["query_id", "sub", "pcell"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd2").alias("_adc"))
    )
    # exact re-rank of the top-`refine` ADC shortlist (IVFADC+R):
    # fetch full vectors for `refine` ids per query only
    wa = Window.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        adc.withColumn("_ar", F.row_number().over(wa))
        .filter(F.col("_ar") <= refine)
        .select("query_id", "neighbor_id")
    )
    qv = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    cv = base.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"))
    scored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_i(F.col("qv"), F.col("cv")).alias("_score_i"),
        )
    )
    return _topk(scored, k)


def _kmeans_base_and_cents(
    embs: DataFrame,
    centroid_stride: int | None,
    centroids: DataFrame | None,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared Lloyd plumbing: the quantized corpus and the round's
    centroid frame — either the caller's ``centroids`` (cell, cv) from
    a previous :func:`kmeans_new_centroids`, or the deterministic
    stride sample for round one."""
    base = embs.select(F.col(id_col), quantized().alias("v"))
    if centroids is not None:
        return base, centroids.select("cell", "cv")
    if centroid_stride is None:
        centroid_stride = auto_stride(embs.count())
    cents = base.filter((F.col(id_col) % centroid_stride) == 0).select(
        F.col(id_col).alias("cell"), F.col("v").alias("cv")
    )
    return base, cents


def kmeans_new_centroids(
    embs: DataFrame,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The re-estimated centroids after one Lloyd assignment — the
    piece an actual Lloyd LOOP feeds back into the next round (cell,
    cv), in the same quantized-int64 space the assignment uses.

    Per-dimension mean = round-half-up(Σx / n) computed in exact
    integer arithmetic (``(2Σx + n) div 2n``) — no float division, so
    repeated rounds stay engine-portable. A cluster that lost every
    member simply disappears (standard Lloyd drop; K shrinks).

    Loop usage::

        cents = None
        for _ in range(rounds):
            cents = kmeans_new_centroids(embs, centroids=cents)
            stats = kmeans_step(embs, centroids=cents)
            # stop when stats.agg(max(drift)) < eps
    """
    base, cents = _kmeans_base_and_cents(
        embs, centroid_stride, centroids, id_col
    )
    assign = _kmeans_assign(base, cents, id_col)
    per_dim = (
        assign.select("cell", F.posexplode("v").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
        .select(
            "cell",
            "i",
            F.floor(
                (2 * F.col("sm") + F.col("n")) / (2 * F.col("n"))
            ).cast("long").alias("m"),
        )
    )
    return (
        per_dim.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    )


def _kmeans_assign(base: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest-centroid assignment: broadcast n×K struct-min with the
    exact (d2, cell) tie-break the IVF contract uses."""
    expanded = base.join(F.broadcast(cents)).select(
        id_col,
        "v",
        F.struct(
            dist2_i(F.col("v"), F.col("cv")).alias("d2"),
            F.col("cell").alias("cell"),
        ).alias("dc"),
    )
    return (
        expanded.groupBy(id_col)
        .agg(F.min("dc").alias("m"), F.first("v").alias("v"))
        .select(id_col, F.col("m.cell").alias("cell"), "v")
    )


def kmeans_step(
    embs: DataFrame,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """One exact Lloyd iteration over the quantized corpus — the
    clustering primitive behind IVF index training, embedding-space
    corpus maps, and semantic dedup bucketing, expressed entirely in
    DataFrame ops (no driver-side model, no MLlib dependency).

    Assignment reuses the IVF contract: nearest deterministic stride
    centroid by EXACT scaled-int squared distance, (d2, cell)
    tie-break — so a DuckDB oracle replays the identical step. The
    re-estimation statistics come back per cluster:

      n_members  cluster size after assignment
      drift      mean per-dimension |new centroid − old centroid| in
                 ORIGINAL units: Σ_i |sum_i − n·old_i| (exact int64)
                 divided once, in double, by n·dim·SCALE — both
                 engines compute the identical value, and a Lloyd
                 LOOP caller stops when max(drift) < ε.

    Scale shape: one broadcast n×K assignment with partial-aggregated
    struct-min (one shuffled row per vector — the IVF build cost), a
    posexplode to (cell, dim) partial sums (the shuffle carries
    K·dim rows after map-side combine, not n·dim), and the old
    centroids join back on the K·dim aggregate. Iterating = feeding
    :func:`kmeans_new_centroids` output back in via ``centroids``
    (this function alone always measures the same round-one drift —
    it returns statistics, not the reassigned centroid vectors); each
    round is the same bounded pair of shuffles (the pagerank scale
    argument).
    """
    base, cents = _kmeans_base_and_cents(
        embs, centroid_stride, centroids, id_col
    )
    assign = _kmeans_assign(base, cents, id_col)
    sums = (
        assign.select("cell", F.posexplode("v").alias("i", "x"))
        .groupBy("cell", "i")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
    )
    oldc = cents.select("cell", F.posexplode("cv").alias("i", "ox"))
    per_dim = sums.join(oldc, ["cell", "i"]).select(
        "cell", "n", F.abs(F.col("sm") - F.col("n") * F.col("ox")).alias("dnum")
    )
    drift = F.sum("dnum").cast("double") / (
        F.max("n").cast("double") * F.count(F.lit(1)) * F.lit(SCALE)
    )
    return (
        per_dim.groupBy(F.col("cell").alias("cell_id"))
        .agg(
            F.max("n").alias("n_members"),
            drift.alias("drift"),
        )
        .orderBy("cell_id")
    )


#: Lloyd rounds the trained-quantizer path runs (mean-updates applied
#: to the stride seed). Bounded-iteration contract like PageRank/
#: k-core: the SAME fixed count in both engines, so results are equal
#: by construction; the value is chosen from measured recall on the
#: clustered fixture (BENCH_NOTES r9: residual IVFADC recall@5 =
#: 0.60 / 0.60 / 0.66 at coarse+book rounds 2/2, 3/2, 3/3).
KM_TRAIN_ROUNDS = 3

#: FAISS-standard bounded training set (r9 VERDICT ask #3): Lloyd
#: rounds run over a FIXED-size deterministic sample instead of the
#: full corpus, so training cost is O(sample·K) per round — constant
#: in corpus size — while add/search stay full-corpus. Full-corpus
#: training measured n^1.5 (98 s at 32k vectors, BENCH_NOTES r9);
#: sampled training measured FLAT (~4.5 s at 2k/8k/32k vectors) with
#: recall within noise of full-corpus at both gate SFs (the shipped
#: (512, 24) config — A/B table in BENCH_NOTES r10, "X113
#: sample-bounded quantizer training").
TRAIN_SAMPLE_N = 512
#: Pinned coarse-quantizer K under sampled training (auto_stride's
#: K≈√n would re-couple the broadcast size to the corpus).
TRAIN_K = 24


def train_sample(
    embs: DataFrame, n: int = TRAIN_SAMPLE_N, id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic fixed-size training sample: the X79 md5
    hash-rank top-n (sampling.sample_fixed_k) over the embedding
    frame — exactly reproducible in both engines (ORDER BY
    md5(CAST(id AS VARCHAR)), id LIMIT n), and compiled to
    TakeOrderedAndProject, so no global sort materializes at 100 TB.
    The K seed centroids are the top-``TRAIN_K`` PREFIX of the same
    ordering — one contract, two limits."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.sampling import (
        sample_fixed_k,
    )

    return sample_fixed_k(
        embs.select(id_col, "embedding"),
        k=n,
        id_col=id_col,
        keep_cols=("embedding",),
    )


def train_coarse_centroids(
    embs: DataFrame,
    rounds: int = KM_TRAIN_ROUNDS,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    sample_n: int | None = None,
    k_seeds: int | None = None,
) -> DataFrame:
    """k-means-TRAINED coarse centroids for the IVF family — the
    train step every deployed IVF index runs (FAISS trains its coarse
    quantizer with Lloyd iterations before add()): start from the
    deterministic stride seed and apply ``rounds`` exact
    :func:`kmeans_new_centroids` mean-updates. Returns (cell, cv) in
    the quantized int64 space — drop-in for the ``coarse_cents``
    override of :func:`topk_ivf` / :func:`topk_ivfpq`.

    Cells keep their seed label through every round, clusters that
    lose all members drop (standard Lloyd; K can shrink), and every
    round is exact integer arithmetic (round-half-up means), so a
    DuckDB oracle replays the full chain as ``rounds`` unrolled CTEs.

    Scale shape: each round is the IVF build cost (broadcast n×K
    struct-min, one shuffled row per vector) plus one K·dim mean
    aggregate; lineage truncates per round via ckpt.materialize (the
    CC/k-core pattern), so plan depth is O(1) in rounds.

    ``sample_n`` (the SHIPPED path — see :data:`TRAIN_SAMPLE_N`):
    train on the deterministic md5 hash-rank sample instead of the
    full corpus, seeded from the top-``k_seeds`` prefix of the same
    ordering — per-round cost becomes O(sample_n·k_seeds), constant
    in corpus size. ``sample_n=None`` keeps the legacy full-corpus
    stride-seeded path (the A/B reference)."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
        materialize,
        release,
    )

    if sample_n is not None:
        k_seeds = k_seeds if k_seeds is not None else TRAIN_K
        train = materialize(
            train_sample(embs, n=sample_n, id_col=id_col), eager=True
        )
        cents = train_sample(embs, n=k_seeds, id_col=id_col).select(
            F.col(id_col).alias("cell"), quantized().alias("cv")
        )
        # sampled path: every frame here is metadata-sized (512-row
        # sample, K-row centroids), so the per-round jobs are pure
        # scheduling overhead. Two measured mitigations (r11 VERDICT
        # ask #4 — this trainer was the rcc bench tail): COALESCE each
        # round's K-row output to one partition before checkpointing
        # (32 shuffle partitions of nothing otherwise), and drive the
        # truncations through the shared RoundDriver so only every
        # ROUND_BATCH-th round pays an eager job (plan depth stays
        # bounded; a FULLY-lazy chain was measured WORSE — nested
        # broadcast subtrees re-execute every prior round). Values
        # unchanged — truncation policy only.
        from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
            RoundDriver,
        )

        drv = RoundDriver()
        for _ in range(rounds):
            cents = drv.step(
                kmeans_new_centroids(
                    train, centroids=cents, id_col=id_col
                ).coalesce(1)
            )
        cents = drv.finish(cents)
        release(train)
        return cents

    cents = None
    for _ in range(rounds):
        prev = cents
        cents = materialize(
            kmeans_new_centroids(
                embs,
                centroid_stride=centroid_stride,
                id_col=id_col,
                centroids=prev,
            ),
            eager=True,
        )
        if prev is not None:
            release(prev)
    return cents


def pq_new_codebooks(
    embs: DataFrame,
    m: int = PQ_M,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """One Lloyd mean-update of the per-subspace PQ codebooks — the
    subspace analog of :func:`kmeans_new_centroids` (PQ training IS
    m independent k-means, one per subvector slice: Jégou et al.
    TPAMI'11 §II.C). ``codebooks`` = (sub, cell, cv) from a previous
    round, or None to seed from the deterministic stride sample.
    Returns the re-estimated (sub, cell, cv) with the same exact
    integer round-half-up means, (d2, cell) assignment tie-break,
    and drop-empty-clusters semantics as the full-dimension step.

    Scale shape: assignment is a broadcast join on ``sub`` (the
    codebooks are m·K rows) with partial-aggregated struct-min — one
    shuffled row per (vector, subspace) — then a posexplode to
    (sub, cell, pos) partial sums: the mean shuffle carries
    m·K·(dim/m) = K·dim rows after map-side combine, never n·dim."""
    subs, seed = _pq_parts(embs, m, centroid_stride, id_col)
    cents = seed if codebooks is None else codebooks.select("sub", "cell", "cv")
    return _subspace_lloyd_round(subs, cents, id_col)


def _subspace_lloyd_round(
    subs: DataFrame, cents: DataFrame, id_col: str
) -> DataFrame:
    """One Lloyd mean-update over any (id, sub, sv) subvector frame —
    the shared core of :func:`pq_new_codebooks` (raw subvectors) and
    the residual-codebook training inside
    :func:`topk_ivfpq_trained` (coarse-residual subvectors)."""
    assigned = (
        subs.join(F.broadcast(cents), "sub")
        .select(
            id_col,
            "sub",
            "sv",
            F.struct(
                dist2_i(F.col("sv"), F.col("cv")).alias("d2"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
        .groupBy(id_col, "sub")
        .agg(F.min("dc").alias("best"), F.first("sv").alias("sv"))
    )
    per_dim = (
        assigned.select(
            "sub",
            F.col("best.cell").alias("cell"),
            F.posexplode("sv").alias("i", "x"),
        )
        .groupBy("sub", "cell", "i")
        .agg(F.sum("x").alias("sm"), F.count(F.lit(1)).alias("n"))
        .select(
            "sub",
            "cell",
            "i",
            F.floor((2 * F.col("sm") + F.col("n")) / (2 * F.col("n")))
            .cast("long")
            .alias("m"),
        )
    )
    return per_dim.groupBy("sub", "cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "m"))),
            lambda s: s["m"],
        ).alias("cv")
    )


def train_subspace_codebooks(
    subs: DataFrame,
    rounds: int = KM_TRAIN_ROUNDS,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    seed_books: DataFrame | None = None,
) -> DataFrame:
    """``rounds`` Lloyd mean-updates over an (id, sub, sv) subvector
    frame, seeded from the deterministic stride sample of the SAME
    frame (or an explicit ``seed_books`` (sub, cell, cv) frame — the
    sampled-training path), with per-round lineage truncation. The
    generic train loop behind the residual codebooks of
    :func:`topk_ivfpq_trained`."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
        materialize,
        release,
    )

    if seed_books is not None:
        # sampled-training path (the only seed_books caller): the
        # m·K-row books are metadata-sized — coalesce each round to
        # one partition and batch the truncations through RoundDriver
        # (same measured rationale as the train_coarse_centroids
        # sampled path)
        from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
            RoundDriver,
        )

        drv = RoundDriver()
        books = seed_books.select("sub", "cell", "cv")
        for _ in range(rounds):
            books = drv.step(
                _subspace_lloyd_round(subs, books, id_col).coalesce(1)
            )
        return drv.finish(books)
    books = subs.filter((F.col(id_col) % centroid_stride) == 0).select(
        "sub", F.col(id_col).alias("cell"), F.col("sv").alias("cv")
    )
    for r in range(rounds):
        prev = books if r > 0 else None
        books = materialize(
            _subspace_lloyd_round(subs, books, id_col), eager=True
        )
        if prev is not None:
            release(prev)
    return books


def train_residual_books(
    embs: DataFrame,
    coarse_cents: DataFrame,
    rounds: int = KM_TRAIN_ROUNDS,
    m: int = PQ_M,
    centroid_stride: int | None = None,
    id_col: str = "vec_id",
    sample_n: int | None = None,
    k_seeds: int | None = None,
) -> DataFrame:
    """The residual-codebook train step of :func:`topk_ivfpq_trained`,
    factored out so a session can train ONCE and share the books
    across every consumer (the search entry + both recall audits —
    the registry wires this through the session frame cache): assign
    each vector to its trained coarse cell, take subvectors of the
    residual v − centroid(cell), and run ``rounds`` subspace Lloyd
    updates. Identical arithmetic to the in-search derivation (same
    struct-min assignment, same slices), so books trained here equal
    books trained inline.

    ``sample_n`` (the SHIPPED path, matching
    :func:`train_coarse_centroids`): assignment + residuals + Lloyd
    rounds run over the md5 hash-rank sample only, seeded from the
    top-``k_seeds`` prefix's residual subvectors — per-round cost
    constant in corpus size. The full corpus is only touched at
    encode time (inside the search), never during training."""
    if sample_n is not None:
        from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
            materialize,
            release,
        )

        k_seeds = k_seeds if k_seeds is not None else TRAIN_K
        train = materialize(
            train_sample(embs, n=sample_n, id_col=id_col), eager=True
        )
        base = train.select(F.col(id_col), quantized().alias("v"))
    else:
        if centroid_stride is None:
            centroid_stride = auto_stride(embs.count())
        base = embs.select(F.col(id_col), quantized().alias("v"))
    cents = coarse_cents.select("cell", "cv")
    assign = _kmeans_assign(base, cents, id_col)
    resid = assign.join(F.broadcast(cents), "cell").select(
        id_col, F.zip_with("v", "cv", lambda a, b: a - b).alias("rv")
    )
    rs = (
        resid.select(
            id_col,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("rv"),
        )
        .select(
            id_col,
            "sub",
            F.expr(
                f"slice(rv, sub * (size(rv) DIV {m}) + 1, size(rv) DIV {m})"
            ).alias("sv"),
        )
    )
    if sample_n is not None:
        seed_ids = train_sample(embs, n=k_seeds, id_col=id_col).select(
            id_col
        )
        seed_books = rs.join(seed_ids, id_col).select(
            "sub", F.col(id_col).alias("cell"), F.col("sv").alias("cv")
        )
        books = train_subspace_codebooks(
            rs, rounds=rounds, id_col=id_col, seed_books=seed_books
        )
        release(train)
        return books
    return train_subspace_codebooks(
        rs, rounds=rounds, centroid_stride=centroid_stride, id_col=id_col
    )


def topk_ivfpq_trained(
    embs: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    m: int = PQ_M,
    rounds: int = KM_TRAIN_ROUNDS,
    centroid_stride: int | None = None,
    nprobe: int = N_PROBES,
    refine: int = 20,
    id_col: str = "vec_id",
    coarse_cents: DataFrame | None = None,
    books: DataFrame | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Residual IVFADC over k-means-TRAINED quantizers + exact
    re-rank — the r8 VERDICT quality capstone, and the TEXTBOOK
    IVF-PQ (Jégou et al. TPAMI'11 §5: PQ codes encode the residual
    v − centroid(cell), so the codebooks only have to cover the
    within-cell spread): coarse centroids are ``rounds`` exact Lloyd
    mean-updates of the stride seed (:func:`train_coarse_centroids`),
    the per-subspace codebooks are ``rounds`` Lloyd updates trained
    on the COARSE RESIDUALS, and each query builds one residual
    distance table PER PROBED CELL (q − centroid_cell vs codebook).

    Why residual here when :func:`topk_ivfpq` ships raw codes:
    measured, both rounds. r8 measured residual encoding on
    stride-sampled "centroids" at recall 0.08 — corpus vectors are
    not means, residuals against them are as spread as raw data —
    and shipped raw codes (0.52). r9 re-measured on trained means,
    confirming the attribution: residual 0.60/0.66 at 2/3 rounds vs
    raw-code-trained 0.54/0.58, vs stride baseline 0.52 (clustered
    fixture, sf0.01; numbers in BENCH_NOTES "Round-9
    trained-quantizer A/B"). Trained means are precisely what makes the
    textbook encoding win.

    Deterministic end to end: stride seed → exact integer mean
    updates → exact scaled-int residuals and distances, every
    tie-break inherited ((d2, cell) assignment, probe (d2, cell),
    ADC (dist, neighbor), final (score desc, neighbor)) — the DuckDB
    oracle replays the training as unrolled CTEs (the BPE/k-core
    pattern) and then the identical residual search.

    Scale shape: training rounds are the bounded IVF build cost
    (broadcast n×K struct-min + K·dim mean aggregates, lineage
    truncated per round); the search is the :func:`topk_ivfpq` plan
    with the residual distance tables keyed (query, cell, sub, cell')
    — n_queries·nprobe·m·K rows, still broadcast-size — so the ADC
    join stays cell-restricted and per-query work stays
    (n/K)·nprobe·m lookups.

    ``coarse_cents`` / ``books``: pre-trained quantizers (from
    :func:`train_coarse_centroids` / :func:`train_residual_books`) —
    pass both to skip training entirely (the registry shares one
    trained pair per session across this search and both recall
    audits via the session frame cache).

    ``allowed`` (X190 attribute-constrained search, r11 VERDICT ask
    #6): a 1-column frame of corpus ids the search may return
    ("top-k within lang=X / license=Y"). The predicate is pushed
    BELOW the cell-keyed ADC join — the coarse inventory filters
    RIGHT AFTER assignment, before residual encoding, so codes, the
    ADC lookups, and the refine shortlist all scale with the
    FILTERED inventory (per-query work (n_allowed/K)·nprobe·m), not
    the corpus. Post-filtering an unfiltered top-k instead returns
    ≤ k survivors and misses every allowed neighbor the disallowed
    ones displaced — the measured comparison is
    ann_filtered_recall_audit's job. Queries are never filtered;
    training is never filtered (the index is built once, filters are
    per-query)."""
    base = embs.select(F.col(id_col), quantized().alias("v"))
    # Inline training defaults to the SHIPPED sample-bounded path
    # (TRAIN_SAMPLE_N/TRAIN_K — constant training cost in corpus
    # size); an explicit centroid_stride selects the legacy
    # full-corpus stride-seeded path (the A/B reference).
    sampled = centroid_stride is None
    if coarse_cents is None:
        coarse_cents = train_coarse_centroids(
            embs, rounds=rounds, centroid_stride=centroid_stride,
            id_col=id_col,
            sample_n=TRAIN_SAMPLE_N if sampled else None,
            k_seeds=TRAIN_K if sampled else None,
        )
    cents = coarse_cents.select("cell", "cv")
    if books is None:
        books = train_residual_books(
            embs,
            coarse_cents,
            rounds=rounds,
            m=m,
            centroid_stride=centroid_stride,
            id_col=id_col,
            sample_n=TRAIN_SAMPLE_N if sampled else None,
            k_seeds=TRAIN_K if sampled else None,
        )
    # final coarse assignment + probe lists (one expansion feeds both)
    expanded = base.join(F.broadcast(cents)).select(
        id_col,
        "v",
        F.struct(
            dist2_i(F.col("v"), F.col("cv")).alias("d2"),
            F.col("cell").alias("cell"),
        ).alias("dc"),
    )
    assign = (
        expanded.groupBy(id_col)
        .agg(F.min("dc").alias("mm"), F.first("v").alias("v"))
        .select(id_col, F.col("mm.cell").alias("cell"), "v")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_d2").asc(), F.col("cell").asc()
    )
    probes = (
        expanded.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("dc.cell").alias("cell"),
            F.col("dc.d2").alias("_d2"),
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "cell")
    )
    # X190 filtered search: restrict the INVENTORY here — below the
    # ADC join, right after coarse assignment — so every downstream
    # stage (residual encode, codes, ADC, shortlist) carries only
    # allowed vectors; queries (vec_id < n_queries) stay unfiltered
    if allowed is not None:
        allow = allowed.select(F.col(allowed.columns[0]).alias("_fid"))
        inv = assign.join(
            F.broadcast(allow), F.col(id_col) == F.col("_fid")
        ).drop("_fid")
    else:
        inv = assign
    # residual subvectors of every vector vs its assigned centroid
    resid = inv.join(F.broadcast(cents), "cell").select(
        id_col,
        "cell",
        F.zip_with("v", "cv", lambda a, b: a - b).alias("rv"),
    )
    rsubs = (
        resid.select(
            id_col,
            "cell",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("rv"),
        )
        .select(
            id_col,
            "cell",
            "sub",
            F.expr(
                f"slice(rv, sub * (size(rv) DIV {m}) + 1, size(rv) DIV {m})"
            ).alias("sv"),
        )
    )
    # codes against the (possibly shared pre-trained) codebooks —
    # coarse cell column dropped: the codebook's own `cell` label
    # must not collide
    rs = rsubs.select(id_col, "sub", "sv")
    codes = (
        rs.join(F.broadcast(books), "sub")
        .select(
            id_col,
            "sub",
            F.struct(
                dist2_i(F.col("sv"), F.col("cv")).alias("d2"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
        .groupBy(id_col, "sub")
        .agg(F.min("dc").alias("best"))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "sub",
            F.col("best.cell").alias("pcell"),
        )
    )
    # per-(query, probed cell) residual distance tables
    qres = (
        base.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), "v")
        .join(F.broadcast(probes), "query_id")
        .join(F.broadcast(cents), "cell")
        .select(
            "query_id",
            "cell",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("rv"),
        )
    )
    qsubs = (
        qres.select(
            "query_id",
            "cell",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.col("rv"),
        )
        .select(
            "query_id",
            "cell",
            "sub",
            F.expr(
                f"slice(rv, sub * (size(rv) DIV {m}) + 1, size(rv) DIV {m})"
            ).alias("sv"),
        )
    )
    dtab = qsubs.join(
        F.broadcast(books.withColumnRenamed("cell", "pcell")), "sub"
    ).select(
        "query_id",
        "cell",
        "sub",
        "pcell",
        dist2_i(F.col("sv"), F.col("cv")).alias("qd2"),
    )
    # cell-restricted ADC: a code row meets only the queries probing
    # its coarse cell, and the lookup key carries that cell
    adc = (
        codes.join(inv.select(F.col(id_col).alias("neighbor_id"), "cell"),
                   "neighbor_id")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(F.broadcast(dtab), ["query_id", "cell", "sub", "pcell"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qd2").alias("_adc"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("_adc").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        adc.withColumn("_ar", F.row_number().over(wa))
        .filter(F.col("_ar") <= refine)
        .select("query_id", "neighbor_id")
    )
    qv = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    nv = base.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("nv"))
    scored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_i(F.col("qv"), F.col("nv")).alias("_score_i"),
        )
    )
    return _topk(scored, k)


TRUNC_DIMS = (8, 16, 32, 64)  # truncation audit prefix lengths


def truncation_recall_audit(
    embs: DataFrame,
    dims: tuple = TRUNC_DIMS,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    truth: DataFrame | None = None,
) -> DataFrame:
    """Dimension-truncation recall audit — the evaluation behind
    Matryoshka-style embedding deployment (Kusupati et al. 2022,
    arXiv 2205.13147: serve the first d components of a D-dim
    embedding and pay d/D of the storage/compute): for each prefix
    length d, exact top-k by dot product over ONLY the first d
    quantized components, scored as recall@k against the full-D
    truth. The capacity-vs-cost curve a 100 TB vector store reads
    before deciding what to keep hot.

    Same exactness protocol as the other audits: scaled-int64 dot
    products on the sliced prefix (slice happens AFTER quantization,
    so the oracle replays it with the identical integer arithmetic),
    neighbor-id tie-breaks, exact integer intersection counts, one
    final division. The d = full-dimension row is recall 1.0 BY
    CONSTRUCTION (it IS the truth query) — pinned in pytest as the
    audit's self-consistency anchor.

    Scale shape: one broadcast query panel per d against the corpus
    scan (the topk_brute shape — no corpus shuffle beyond the top-k
    window), truth computed once; panel-sized joins score it.

    ``truth`` (optional): a pre-materialized (query_id, neighbor_id)
    full-dimension truth panel. When None, one is built and
    checkpoint-pinned HERE — and, the result being lazy, it stays
    pinned until driver GC (r8 ADVICE litter note). Call sites that
    run the audit repeatedly in one session should build the panel
    once and share it — the registry wrapper does, via the session
    frame cache — so N invocations pin ONE checkpoint, not N."""
    if truth is None:
        from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
            materialize,
        )

        truth = materialize(
            topk_brute(embs, n_queries=n_queries, k=k, id_col=id_col)
            .select("query_id", "neighbor_id")
        )
    base = embs.select(F.col(id_col), quantized().alias("v"))
    out = None
    for d in dims:
        sliced = base.select(
            id_col, F.slice("v", 1, d).alias("v")
        )
        q = sliced.filter(F.col(id_col) < n_queries).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv")
        )
        c = sliced.select(
            F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv")
        )
        scored = c.join(
            F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
        ).select(
            "query_id",
            "neighbor_id",
            dot_i(F.col("qv"), F.col("cv")).alias("_score_i"),
        )
        hits = (
            _topk(scored, k)
            .select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(d).alias("dim"), "n_hits")
        )
        out = hits if out is None else out.unionByName(hits)
    n_truth = n_queries * k
    return out.select(
        "dim",
        F.col("n_hits").cast("long"),
        F.lit(n_truth).cast("long").alias("n_truth"),
        (F.col("n_hits").cast("double") / F.lit(float(n_truth))).alias(
            "recall_at_k"
        ),
    ).orderBy("dim")


def hard_negatives(
    embs: DataFrame,
    labels: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hard-negative mining — the contrastive-training data step
    (dense-retrieval training à la DPR, Karpukhin et al. 2020: the
    negatives that move the model are the ones the CURRENT embedding
    space ranks closest while being wrong): for each panel query, the
    top-k most similar corpus vectors whose LABEL differs from the
    query's. ``labels`` is any (id_col, label) frame — class ids,
    source domains, near-dup components.

    Exactness protocol as everywhere in this module: scaled-int64 dot
    products, neighbor-id tie-breaks. Scale shape: labels join the
    corpus by id (AQE-broadcast when small), the query panel is
    broadcast against one corpus scan, and the label-mismatch filter
    prunes BEFORE the per-query top-k window — the shuffle carries
    candidate rows, not the corpus."""
    lab = labels.select(F.col(id_col), F.col("label"))
    base = embs.select(F.col(id_col), quantized().alias("v")).join(lab, id_col)
    q = base.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("label").alias("clabel"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("qlabel") != F.col("clabel"))
        .select(
            "query_id",
            F.col("qlabel").alias("query_label"),
            "neighbor_id",
            F.col("clabel").alias("negative_label"),
            dot_i(F.col("qv"), F.col("cv")).alias("_score_i"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score_i").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "negative_label",
            "rank",
            unscale(F.col("_score_i")).alias("score"),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# X123: PCA by matrix-free power iteration
# ---------------------------------------------------------------------------

PCA_ROUNDS = 4  # bounded power-iteration rounds (replayed by the oracle)
V_SCALE = 10**6  # iterate-vector component quantization
DQ_DIV = float(10**6)  # per-row dot downscale before the outer sum


def pca_power_projection(
    embs: DataFrame, rounds: int = PCA_ROUNDS, id_col: str = "vec_id"
) -> DataFrame:
    """X123: leading principal component by MATRIX-FREE power
    iteration, and every vector's projection onto it — the embedding-
    whitening / dominant-direction diagnostic a training pipeline
    runs before similarity work (anisotropic embedding spaces
    concentrate cosine mass on the top component; knowing PC1 and the
    per-vector loadings is how you detect and fix that, cf. the
    all-but-the-top post-processing of Mu & Viswanath 2018, arXiv
    1702.01417).

    Never forms the d×d covariance: each round applies the Gram
    operator as two corpus passes, v ← Σ_rows ⟨x,v⟩·x, then
    renormalizes — the standard matrix-free power step, so cost is
    O(n·d) per round at ANY dimension and the only state is the
    d-row iterate.

    Exactness (the kmeans/BPE bounded-round contract — both engines
    replay the IDENTICAL fixed rounds, so equality is by
    construction, not convergence): embeddings ride the verified
    round(x·10⁴) int64 quantization; the iterate is int64-quantized
    at 10⁶; per-row dots and per-dimension outer sums are exact int64
    aggregates (order-independent); the two per-round float steps
    (max-|component| rescale, then sqrt-norm division — IEEE sqrt is
    correctly rounded) are each ONE multiply+divide+round on exact
    integer inputs, bit-identical across engines. The max-rescale
    bounds every squared term at 10¹² so the norm sum stays in int64
    at any corpus size. Start iterate = the uniform all-ones
    direction (deterministic; a corpus whose PC1 is exactly
    orthogonal to it would need a different seed — not a property
    real embedding corpora have).

    Scale shape: per round, ONE shuffle keyed on the row id (the
    per-row dot, map-side partial) and ONE keyed on the dimension
    index (d rows out after map-side combine); the d-row iterate is a
    broadcast join side; lineage truncates per round via
    ckpt.materialize exactly like kmeans/PageRank. Output:
    (vec_id, pc1_q, pc1) — the quantized and original-unit
    projections, ordered by id for the gate."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
        materialize,
        release,
    )

    comp = embs.select(
        F.col(id_col), F.posexplode(quantized()).alias("i", "qx")
    )
    v = comp.select("i").distinct().select(
        "i", F.lit(V_SCALE).cast("long").alias("vq")
    )
    prev: DataFrame | None = None
    for _ in range(rounds):
        dots = (
            comp.join(F.broadcast(v), "i")
            .groupBy(id_col)
            .agg(F.sum(F.col("qx") * F.col("vq")).alias("dot"))
        )
        dq = dots.select(
            id_col,
            F.round(F.col("dot").cast("double") / F.lit(DQ_DIV), 0)
            .cast("long")
            .alias("dq"),
        )
        vd = (
            comp.join(dq, id_col)
            .groupBy("i")
            .agg(F.sum(F.col("qx") * F.col("dq")).alias("vd"))
        )
        m = vd.agg(F.max(F.abs(F.col("vd"))).alias("m"))
        vr = vd.crossJoin(F.broadcast(m)).select(
            "i",
            F.round(
                F.lit(float(V_SCALE)) * F.col("vd") / F.col("m"), 0
            )
            .cast("long")
            .alias("vr"),
        )
        n2 = vr.agg(F.sum(F.col("vr") * F.col("vr")).alias("n2"))
        nxt = vr.crossJoin(F.broadcast(n2)).select(
            "i",
            F.round(
                F.lit(float(V_SCALE))
                * F.col("vr")
                / F.sqrt(F.col("n2").cast("double")),
                0,
            )
            .cast("long")
            .alias("vq"),
        )
        v = materialize(nxt, eager=True)
        if prev is not None:
            release(prev)
        prev = v
    out = (
        comp.join(F.broadcast(v), "i")
        .groupBy(id_col)
        .agg(F.sum(F.col("qx") * F.col("vq")).alias("pc1_q"))
        .select(
            id_col,
            "pc1_q",
            (
                F.col("pc1_q").cast("double")
                / F.lit(float(SCALE * V_SCALE))
            ).alias("pc1"),
        )
        .orderBy(id_col)
    )
    return out


# ---------------------------------------------------------------------------
# X161: maximal-marginal-relevance re-ranking (retrieval diversification)
# ---------------------------------------------------------------------------

MMR_K = 5  # re-ranked results returned
#: λ = 0.7 in integer tenths: mmr_q = 7·rel01 − 3·maxsim01 (the /10 is
#: monotone and dropped, so scores stay exact int64)
MMR_LAMBDA_TENTHS = 7


def mmr_select(
    panel_rel: DataFrame,
    sims: DataFrame,
    k: int = MMR_K,
    lam_tenths: int = MMR_LAMBDA_TENTHS,
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection (Carbonell &
    Goldstein '98) over a RETRIEVED PANEL — the standard last step
    before a RAG context window is filled: pick the most relevant
    document, then repeatedly the document maximizing
    λ·relevance − (1−λ)·(max similarity to anything already picked),
    so a near-duplicate of a selected document is displaced by a
    diverse one (pinned in tests/test_extensions.py).

    Exactness contract: ``panel_rel`` = (doc_id, rel01) integer
    relevance, ``sims`` = (a_id, b_id, sim01) integer pairwise
    similarity (both directions); scores are λ-weighted int64
    (mmr_q = lam·rel01 − (10−lam)·maxsim01), ties break on doc_id,
    and documents with NO similarity row (no embedding) carry zero
    penalty — deterministic on any engine. Panel-sized by
    construction: k bounded rounds, each a ≤panel² join; rounds are
    unrolled statically and materialized so the plan stays flat.

    Output: (sel_rank, doc_id, rel01, maxsim01, mmr_q)."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
        materialize,
    )

    lam, mu = lam_tenths, 10 - lam_tenths
    first = (
        panel_rel.select(
            "doc_id",
            "rel01",
            F.lit(0).cast("long").alias("maxsim01"),
            (F.lit(lam) * F.col("rel01")).cast("long").alias("mmr_q"),
            F.lit(1).alias("sel_rank"),
        )
        .orderBy(F.desc("mmr_q"), "doc_id")
        .limit(1)
    )
    sel = materialize(first)
    for t in range(2, k + 1):
        ms = (
            sims.join(
                sel.select(F.col("doc_id").alias("b_id")), "b_id"
            )
            .groupBy("a_id")
            .agg(F.max("sim01").alias("maxsim01"))
        )
        cand = panel_rel.join(sel.select("doc_id"), "doc_id", "left_anti")
        scored = cand.join(
            ms, cand["doc_id"] == ms["a_id"], "left"
        ).select(
            "doc_id",
            "rel01",
            F.coalesce("maxsim01", F.lit(0)).cast("long").alias("maxsim01"),
        )
        pick = (
            scored.select(
                "doc_id",
                "rel01",
                "maxsim01",
                (
                    F.lit(lam) * F.col("rel01")
                    - F.lit(mu) * F.col("maxsim01")
                ).cast("long").alias("mmr_q"),
                F.lit(t).alias("sel_rank"),
            )
            .orderBy(F.desc("mmr_q"), "doc_id")
            .limit(1)
        )
        sel = materialize(sel.unionByName(pick))
    return sel.select(
        F.col("sel_rank").cast("int").alias("sel_rank"),
        "doc_id",
        "rel01",
        "maxsim01",
        "mmr_q",
    ).orderBy("sel_rank")
