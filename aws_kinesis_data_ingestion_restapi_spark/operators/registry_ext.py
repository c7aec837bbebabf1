"""Extension registry: dedup / similarity / text-analysis queries with
their DuckDB oracle SQL (merged into registry.QUERY_FNS/ORACLE_SQL).

Every oracle replicates the Spark operator's formula EXACTLY — same
tokenizer, same md5-based hashing, same decimal quantization, same
tie-breaks — so the driver's order-insensitive value-hash comparison
holds bit-for-bit. The SQL fragments are generated from the same
Python constants (stopword lists, thresholds, band geometry) the Spark
operators use; divergence is structurally impossible unless a formula
changes on one side only.
"""

from __future__ import annotations

import math
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import materialize

from aws_kinesis_data_ingestion_restapi_spark.operators import (
    asof,
    cdc,
    dedup,
    expectations,
    fuzzy,
    graph,
    multimodal,
    packing,
    rangejoin,
    sampling,
    scale,
    similarity,
    sketch,
    text,
)
from aws_kinesis_data_ingestion_restapi_spark.session import (
    ensure_runtime_confs,
    spread_scan,
)
from aws_kinesis_data_ingestion_restapi_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect), mirroring operators.text/dedup
# ---------------------------------------------------------------------------

# mirrors text.tokens_col: blank text tokenizes to the EMPTY list (the
# raw split returns [''] — a 1-token phantom)
_TOKS = (
    r"list_filter(string_split_regex(lower(trim(text)), '\s+'),"
    r" t -> t != '')"
)


def _sql_list(words: tuple[str, ...]) -> str:
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{inner}]"


def _shingles(n: int, toks: str = "t") -> str:
    """word n-gram shingle set over a token-list column named ``toks``."""
    join = " || ' ' || ".join(f"{toks}[i+{j}]" if j else f"{toks}[i]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(generate_series(1, len({toks})-{n - 1}), "
        f"i -> {join})) ELSE [] END"
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_scan(load_table(spark, sf_dir, "documents"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread_scan(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir))


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir))


def text_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft curation: P(keep) = quality score (sampling.
    quality_weighted_sample over the scored corpus)."""
    scored = text.quality_score(_docs(spark, sf_dir))
    return sampling.quality_weighted_sample(scored).select(
        "doc_id", "quality_score"
    )


def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_docs(spark, sf_dir))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_redact(text.synthesize_pii(_docs(spark, sf_dir)))


def text_pii_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168: PII extraction inventory over the same deterministic
    synthesis fixture X12 redacts — the table a deletion/DSAR
    workflow joins against. One corpus scan, every occurrence kept.
    See text.pii_extract."""
    return (
        text.pii_extract(text.synthesize_pii(_docs(spark, sf_dir)))
        .orderBy("doc_id", "entity_type", "match_text")
    )


def events_user_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169: join-key skew audit on the traffic key (events.user_id) —
    the top-10 heaviest keys with corpus share and ratio-to-mean-load,
    the histogram read BEFORE picking a salting factor (X76) or
    trusting AQE's skew-join split. See scale.join_key_skew."""
    events = load_table(spark, sf_dir, "events")
    return scale.join_key_skew(events, "user_id", top_n=10)


#: X177 completeness-profile scope: table -> audited columns (one
#: constant drives BOTH the Spark plan and the generated oracle)
NULL_PROFILE_TABLES = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "events": ["event_id", "ts", "user_id", "event_type", "value",
               "props"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus",
               "o_totalprice", "o_orderdate", "o_orderpriority"],
}


def warehouse_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177: per-(table, column) COMPLETENESS profile — the first
    table a data-quality review opens (a column that silently went
    90% NULL after an upstream schema change passes every FK and
    domain check; only the completeness profile catches it). One
    single-pass aggregate per table (count(*) + one conditional sum
    per column, all map-side combined), unpivoted to rows through an
    array-of-structs explode — never a scan per column."""
    out = None
    for table, cols in NULL_PROFILE_TABLES.items():
        df = load_table(spark, sf_dir, table)
        agg = df.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.col(c).isNull().cast("long")).alias(f"_z{i}")
                for i, c in enumerate(cols)
            ],
        )
        rows = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(table).alias("table_name"),
                            F.lit(c).alias("column_name"),
                            F.col("_n").cast("long").alias("n_rows"),
                            F.coalesce(F.col(f"_z{i}"), F.lit(0))
                            .cast("long")
                            .alias("n_null"),
                        )
                        for i, c in enumerate(cols)
                    ]
                )
            ).alias("e")
        ).select("e.*")
        out = rows if out is None else out.unionByName(rows)
    return out.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_null",
        (
            F.col("n_null").cast("double") / F.col("n_rows").cast("double")
        ).alias("null_share"),
    ).orderBy("table_name", "column_name")


#: X199 column-statistics spec: (table, column, kind) — kind picks the
#: canonical NDV key (int -> digits, dec2 -> round(x*100) fixed-point,
#: str -> raw) and the min/max channel. Shared by the Spark entry and
#: the generated oracle so the two cannot desynchronize.
COLUMN_STATS_SPEC = (
    ("orders", "o_orderkey", "int"),
    ("orders", "o_custkey", "int"),
    ("orders", "o_orderstatus", "str"),
    ("orders", "o_totalprice", "dec2"),
    ("orders", "o_orderpriority", "str"),
    ("lineitem", "l_orderkey", "int"),
    ("lineitem", "l_partkey", "int"),
    ("lineitem", "l_quantity", "dec2"),
    ("lineitem", "l_returnflag", "str"),
    ("customer", "c_custkey", "int"),
    ("customer", "c_nationkey", "int"),
    ("customer", "c_mktsegment", "str"),
    ("customer", "c_acctbal", "dec2"),
    ("part", "p_partkey", "int"),
    ("part", "p_brand", "str"),
)


def _stats_key(col: str, kind: str) -> F.Column:
    """Canonical NDV hash key: integers as plain digits, 2-decimal
    doubles as round(x·100) fixed-point digits (double→string
    FORMATTING is engine-dependent; fixed-point integers are not),
    strings raw."""
    if kind == "int":
        return F.col(col).cast("long").cast("string")
    if kind == "dec2":
        return (
            F.round(F.col(col) * 100, 0).cast("long").cast("string")
        )
    return F.col(col)


def warehouse_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X199: ANALYZE-style CATALOG STATISTICS — the per-column table
    an optimizer (or a data engineer sizing a migration) reads before
    planning joins: row count, null count, exact NDV, the HLL NDV
    estimate a 100 TB deployment would maintain instead (X158's
    register arithmetic — mergeable across shards/days), its relative
    error (the X147 measure-the-sketch discipline), and min/max
    (numeric channel for numbers — never stringified doubles, whose
    formatting is engine-dependent — string channel for varchars).

    Scale shape: per column, one map-side-combined aggregate + one
    ≤64-row register table; columns stack by union — the whole report
    is |spec| metadata-sized rows however large the tables are. At a
    real warehouse this runs per partition and the registers MERGE
    (sketch.hll_merge), which is exactly why the estimate column is
    there next to the exact one."""
    out = None
    for table, col, kind in COLUMN_STATS_SPEC:
        t = load_table(spark, sf_dir, table)
        key = _stats_key(col, kind)
        nn = t.filter(F.col(col).isNotNull())
        base = t.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_nulls"),
            F.countDistinct(key).cast("long").alias("ndv_exact"),
            (
                F.min(F.col(col)).cast("double")
                if kind != "str"
                else F.lit(None).cast("double")
            ).alias("min_num"),
            (
                F.max(F.col(col)).cast("double")
                if kind != "str"
                else F.lit(None).cast("double")
            ).alias("max_num"),
            (
                F.min(F.col(col)) if kind == "str"
                else F.lit(None).cast("string")
            ).alias("min_str"),
            (
                F.max(F.col(col)) if kind == "str"
                else F.lit(None).cast("string")
            ).alias("max_str"),
        )
        est = sketch.hll_estimate(
            sketch.hll_registers(nn.select(key.alias("_k")), [], "_k"),
            [],
        ).select(F.col("est_distinct").alias("ndv_est"))
        row = base.crossJoin(F.broadcast(est)).select(
            F.lit(table).alias("table_name"),
            F.lit(col).alias("column_name"),
            "n_rows",
            "n_nulls",
            "ndv_exact",
            "ndv_est",
            (
                (F.col("ndv_est") - F.col("ndv_exact").cast("double"))
                / F.col("ndv_exact").cast("double")
            ).alias("ndv_rel_err"),
            "min_num",
            "max_num",
            "min_str",
            "max_str",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name", "column_name")


def warehouse_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170: referential-integrity audit over the warehouse's declared
    FK edges — the cross-TABLE data-quality check X51's single-table
    expectations don't cover (an orphaned fact row silently drops out
    of every inner join that consumes it; at 100 TB the orphan count
    is the difference between 'the join is correct' and 'revenue is
    undercounted'). Per FK: child cardinality + orphan count via a
    LEFT ANTI join (dimension side broadcast — each check costs one
    scan of the child), orphan share as one double division."""
    edges = [
        ("orders.o_custkey->customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
         "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey",
         "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey",
         "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
         "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey",
         "region", "r_regionkey"),
    ]
    out = None
    for name, child, ck, parent, pk in edges:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("_pk")
        )
        orphans = c.join(
            F.broadcast(p), c[ck] == F.col("_pk"), "left_anti"
        )
        row = (
            c.agg(F.count(F.lit(1)).alias("child_rows"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count(F.lit(1)).alias("orphan_rows"))
                )
            )
            .select(
                F.lit(name).alias("fk"),
                F.col("child_rows").cast("long").alias("child_rows"),
                F.col("orphan_rows").cast("long").alias("orphan_rows"),
                (
                    F.col("orphan_rows").cast("double")
                    / F.col("child_rows").cast("double")
                ).alias("orphan_share"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk")


#: X171 engineered deletion list: every 97th document (a prime stride,
#: so the list cuts across langs/sources/modality cycles)
DELETE_MOD = 97


def corpus_delete_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X171: DELETION PROPAGATION — the right-to-be-forgotten apply: a
    deletion list (doc_id ≡ 0 mod 97, engineered) must purge not just
    the document store but every DERIVED store a pipeline maintains:
    the RAG chunk store (X121), the inverted index (X84 — REBUILT on
    the retained corpus, because removing a doc can push a term below
    min_df: purge-by-filter would leave phantom terms), and the
    embedding store. Per store: rows before, rows after, rows purged
    — the completion evidence a deletion audit requires. Each store
    costs one anti join / rebuild + a 1-row aggregate; at 100 TB the
    deletion list broadcasts and every store purges in one scan."""
    docs = _docs(spark, sf_dir)
    is_del = F.col("doc_id") % DELETE_MOD == 0
    kept_docs = docs.filter(~is_del)

    def entry(name: str, before: DataFrame, after: DataFrame):
        return (
            before.agg(F.count(F.lit(1)).alias("rows_before"))
            .crossJoin(
                F.broadcast(
                    after.agg(F.count(F.lit(1)).alias("rows_after"))
                )
            )
            .select(
                F.lit(name).alias("table_name"),
                F.col("rows_before").cast("long").alias("rows_before"),
                F.col("rows_after").cast("long").alias("rows_after"),
                (F.col("rows_before") - F.col("rows_after"))
                .cast("long")
                .alias("rows_purged"),
            )
        )

    embs = _embs(spark, sf_dir)
    out = (
        entry("documents", docs, kept_docs)
        .unionByName(
            entry(
                "chunks",
                text.chunk_documents(docs),
                text.chunk_documents(kept_docs),
            )
        )
        .unionByName(
            entry(
                "postings",
                text.build_postings(docs),
                text.build_postings(kept_docs),
            )
        )
        .unionByName(
            entry(
                "embeddings",
                embs,
                embs.filter(~(F.col("vec_id") % DELETE_MOD == 0)),
            )
        )
    )
    return out.orderBy("table_name")


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_sequences(_docs(spark, sf_dir))


#: language-mix rates (percent kept per stratum) for the registered
#: sampling query — shared with the oracle SQL below
SAMPLE_RATES = {"en": 60, "de": 30, "fr": 30, "es": 30, "zh": 15}


def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_sample(
        _docs(spark, sf_dir), rates=SAMPLE_RATES, default_rate=0
    ).select("doc_id", "lang", "source")


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(_docs(spark, sf_dir))


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77: bigram collocation mining by exact-count LIFT (log-free
    PMI ranking — see text.collocation_lift)."""
    return text.collocation_lift(_docs(spark, sf_dir))




def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X151: exact phrase search over the corpus — query phrase = the
    first three tokens of doc 0 (data-derived, so both engines
    compute the identical phrase with no literal in the contract).
    Positional posting-list intersection (text.phrase_search): each
    term probes its own posting list map-side against the broadcast
    phrase, lists intersect on (doc_id, consecutive pos). The oracle
    is the DIRECT token-array scan — an independent algorithm, so the
    hash match validates the index intersection end to end."""
    docs = _docs(spark, sf_dir)
    ph = (
        docs.filter(F.col("doc_id") == 0)
        .select(text.tokens_col().alias("_t"))
        .select(
            F.col("_t")[0].alias("w1"),
            F.col("_t")[1].alias("w2"),
            F.col("_t")[2].alias("w3"),
        )
    )
    return text.phrase_search(docs, ph)


def text_build_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84: inverted-index build — term -> (df, sorted posting list);
    see text.build_postings.

    Registry surface note: the library API returns the posting list as
    ``array<string>`` (the natural index shape), but every registry
    query must emit only scalar columns (the driver's pandas
    canonicalizer sorts cell values and cannot hash arrays — the one
    ERR of 150 in CORRECTNESS_r06). The list is already
    deterministically sorted, so a space-joined string is a lossless,
    canonical scalar encoding of it."""
    return text.build_postings(_docs(spark, sf_dir)).select(
        "term",
        "df",
        F.array_join(F.col("postings"), " ").alias("postings"),
    )


def text_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98: fastText-shape hashed-linear quality scoring — hashed
    unigram+bigram features, linear weights, mean-weight score; zero
    shuffle (one codegen projection). Weights are the documented
    deterministic stand-in; see text.hashed_linear_score."""
    return text.hashed_linear_score(_docs(spark, sf_dir))


def curation_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X99: per-source document cap (RefinedWeb/C4 anti-domination) —
    keep the top-10 quality-ranked docs per source; the score and the
    source attribute come from ONE corpus scan (quality_score's
    passthrough — no doc_id self-join), and rank-then-filter compiles
    to the WindowGroupLimit map-side pushdown (plan-pinned). See
    sampling.per_source_cap."""
    scored = text.quality_score(
        _docs(spark, sf_dir), passthrough=("source",)
    ).select("doc_id", "source", "quality_score")
    return sampling.per_source_cap(scored, cap=10).select(
        "doc_id", "source", "quality_score", "src_rank"
    )






def _dirty_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared dirty-record fixture behind X144 and the streaming
    ER gate (X157): every 10th customer's name with one character
    replaced at the midpoint (the multimodal re-render idiom), the
    untouched attributes carried so attribute-agreement blocking has
    its verify columns. Output: (dirty_id, dirty_name, c_nationkey,
    c_mktsegment)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("dirty_id"),
        F.expr(
            "substring(c_name, 1, length(c_name) DIV 2) || 'z' || "
            "substring(c_name, length(c_name) DIV 2 + 2)"
        ).alias("dirty_name"),
        "c_nationkey",
        "c_mktsegment",
    )


def er_link_dirty_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144: two-table record LINKAGE — the other half of entity
    resolution (X136 is the self-join form; this is dirty-records-vs-
    canonical-dimension, the master-data-management shape): an
    engineered dirty list (every 10th customer's name with one char
    replaced at the midpoint, the multimodal re-render idiom) is
    matched against the canonical customer dimension with
    fuzzy.fuzzy_join's deletion-neighborhood blocking — zero false
    negatives at edit distance ≤ 1, linear candidate blowup, one
    exact Levenshtein per candidate. Output = every (dirty record,
    canonical record) pair within distance 1, so ambiguous dirty
    names surface ALL their candidates (the honest linkage contract
    — disambiguation is a downstream policy decision). Oracle = the
    quadratic reference join."""
    cust = load_table(spark, sf_dir, "customer")
    dirty = _dirty_customers(spark, sf_dir).select("dirty_id", "dirty_name")
    links = fuzzy.fuzzy_join(
        dirty, cust, "dirty_id", "dirty_name", "c_custkey", "c_name"
    )
    return links.select(
        F.col("left_key").alias("dirty_id"),
        F.col("right_key").alias("custkey"),
        F.col("dist").cast("long").alias("dist"),
    ).orderBy("dirty_id", "custkey")




def text_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X145: tokenizer A/B audit — per-language fertility of the BPE
    tokenizer (X102/X103) vs the unigram-LM tokenizer (X139), the
    comparison a pipeline team actually runs before pinning a
    tokenizer (fertility by language is how vocab budgets get
    rebalanced — X124's statistic, now as a two-tokenizer contrast).
    Both segmentations ride their session caches (_bpe_seg_counts /
    _unigram_pair), so this query adds two joins and one aggregate,
    never a retrain; the doc universe is the inner join of both
    tokenizers' segmentable corpora (identical on this corpus; the
    join is the honest general form). Exact int64 sums, one double
    division per fertility.

    Each fertility uses ITS OWN tokenizer's word denominator (r10
    ADVICE): the unigram segmenter only covers words of length ≤
    UNIGRAM_MAX_WORD, so dividing its token sum by the uncapped BPE
    word universe would bias unigram fertility low on any corpus with
    longer words. ``u_words`` (the unigram-covered word count) is
    reported and is the unigram ratio's denominator; ``n_words``
    remains the BPE denominator."""
    bpe = _bpe_seg_counts(spark, sf_dir)
    _counts, seg = _unigram_pair(spark, sf_dir)
    per_word = seg.select("word", F.col("k").alias("n_pieces"))
    docw = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    uni = (
        docw.join(per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("u_words"),
            F.sum("n_pieces").cast("long").alias("u_tokens"),
        )
    )
    both = bpe.join(uni, "doc_id").join(
        _docs(spark, sf_dir).select("doc_id", "lang"), "doc_id"
    )
    return (
        both.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("u_words").cast("long").alias("u_words"),
            F.sum("n_bpe_tokens").cast("long").alias("bpe_tokens"),
            F.sum("u_tokens").cast("long").alias("unigram_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "u_words",
            "bpe_tokens",
            "unigram_tokens",
            (
                F.col("bpe_tokens").cast("double")
                / F.col("n_words").cast("double")
            ).alias("bpe_fertility"),
            (
                F.col("unigram_tokens").cast("double")
                / F.col("u_words").cast("double")
            ).alias("unigram_fertility"),
        )
        .orderBy("lang")
    )


def docs_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X146: split-leakage AUDIT — the measurement that JUSTIFIES
    X110: for each split policy (X80's naive per-doc hash vs X110's
    component hash), how many MinHash near-dup pairs STRADDLE a split
    boundary (train/test contamination by construction). The safe
    policy's row is zero BY THEOREM (a component moves as one unit)
    and the naive policy's row is the measured leak it prevents —
    the before/after number a curation review wants on one line.
    Pairs and component labels ride the session caches; the audit
    itself is two label joins and one aggregate."""
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = _lsh_component_labels(spark, sf_dir)

    def bucket(c):
        return (
            F.conv(F.substring(F.md5(c.cast("string")), 1, 7), 16, 10)
            .cast("long") % 100
        )

    def split_of(b):
        return (
            F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
        )

    naive = comp.select(
        F.col("node").alias("doc_id"),
        split_of(bucket(F.col("node"))).alias("s_naive"),
        split_of(bucket(F.col("component"))).alias("s_safe"),
    )
    j = (
        pairs.join(
            naive.select(
                F.col("doc_id").alias("doc_a"),
                F.col("s_naive").alias("na"),
                F.col("s_safe").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            naive.select(
                F.col("doc_id").alias("doc_b"),
                F.col("s_naive").alias("nb"),
                F.col("s_safe").alias("sb"),
            ),
            "doc_b",
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("na") != F.col("nb")).cast("long")).alias(
                "naive_straddle"
            ),
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias(
                "safe_straddle"
            ),
        )
    )
    return j.selectExpr(
        "stack(2, 'per_doc_hash', n_pairs, naive_straddle, "
        "'component_hash', n_pairs, safe_straddle) "
        "AS (split_policy, n_pairs, n_straddling)"
    ).orderBy("split_policy")


def docs_sample_fixed_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X143: deterministic fixed-k sample PER LANGUAGE (20 docs per
    lang by stable md5 rank — the eval-set builder's "k uniform docs
    per stratum, reproducible anywhere" primitive; X79 is the global
    form, X23 the rate-based form). Rank-then-filter compiles to the
    WindowGroupLimit map-side pushdown per_source_cap pins. See
    sampling.sample_fixed_k_per_group."""
    return (
        sampling.sample_fixed_k_per_group(
            _docs(spark, sf_dir), k=20, group_col="lang"
        )
        .select("doc_id", "lang", "source", F.col("grp_rank").cast("int").alias("grp_rank"))
        .orderBy("lang", "grp_rank")
    )


def docs_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79: deterministic fixed-size corpus sample (hash-rank top-k —
    see sampling.sample_fixed_k)."""
    return sampling.sample_fixed_k(_docs(spark, sf_dir))


def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80: reproducible disjoint train/val/test assignment by stable
    hash bucket (sampling.train_val_test_split)."""
    return sampling.train_val_test_split(_docs(spark, sf_dir))


def docs_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110: LEAKAGE-SAFE train/val/test assignment — the fix for the
    contamination X80's per-document hash split cannot prevent: when
    near-duplicates of one document land in different splits, the
    test set is contaminated by construction (the documented eval
    hazard of duplicated web corpora — e.g. Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better", §6).
    The split hash is taken over the near-dup COMPONENT id (the
    MinHash-LSH transitive closure every dedup query shares via the
    session label cache), so an entire duplicate cluster moves as one
    unit and NO LSH near-dup pair can ever straddle a split —
    pinned in pytest over the actual pair graph. Same 90/5/5
    md5-bucket arithmetic as X80; singletons hash like before (their
    component id is their own doc_id)."""
    comp = _lsh_component_labels(spark, sf_dir)
    h = (
        F.conv(
            F.substring(F.md5(F.col("component").cast("string")), 1, 7), 16, 10
        ).cast("long")
        % 100
    )
    return (
        comp.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("component_id"),
            F.when(h < 90, "train").when(h < 95, "val").otherwise("test").alias(
                "split"
            ),
        )
        .orderBy("doc_id")
    )


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81: data-mixture token allocation under a global budget
    (sampling.mixture_plan)."""
    return sampling.mixture_plan(_docs(spark, sf_dir))


def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X197: temperature-scaled mixture plan (sampling.
    mixture_temperature) — p_i ∝ share_i^τ for τ ∈ {1, 1/2, 1/4};
    the multilingual-corpus rebalancing table next to the
    weight-table plan (X81) and the curriculum plan (X129). Dyadic
    temperatures keep the arithmetic engine-exact (sqrt chains);
    the oversample_factor column is the memorization warning a
    mixture review reads."""
    return sampling.mixture_temperature(_docs(spark, sf_dir))


def docs_quality_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X205: quality-by-LENGTH profile — the diagnostic that separates
    "our quality floor rejects junk" from "our quality floor rejects
    short documents" (the X9 heuristic carries an explicit length
    band, so length-score correlation is built in; this table shows
    exactly how much): documents are split into exact token-count
    DECILES (NTILE over (n_tokens, doc_id) — rank arithmetic, no
    percentile floats) and each decile reports its size, token range,
    below-floor share, and mean quality. Mean stays engine-exact via
    the X125 idiom: the score quantizes ONCE (round(10⁶·s) → int64),
    sums exactly, divides once. One scan + one 10-bucket window."""
    scored = text.quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_tokens",
        "quality_score",
        F.round(F.col("quality_score") * 1e6, 0)
        .cast("long")
        .alias("_qq"),
    )
    w = Window.orderBy("n_tokens", "doc_id")
    decd = scored.withColumn("decile", F.ntile(10).over(w))
    return (
        decd.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
            F.sum(
                F.when(F.col("quality_score") < QUALITY_FLOOR, 1)
                .otherwise(0)
            ).cast("long").alias("n_below_floor"),
            F.sum("_qq").cast("long").alias("_sq"),
        )
        .select(
            "decile",
            "n_docs",
            "min_tokens",
            "max_tokens",
            "n_below_floor",
            (
                F.col("_sq").cast("double")
                / (F.lit(1e6) * F.col("n_docs").cast("double"))
            ).alias("mean_quality"),
        )
        .orderBy("decile")
    )


def text_zipf_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X202: Zipf frequency-OCTAVE profile per language — the
    rank-frequency diagnostic without the libm log a cross-engine
    gate cannot hash (fitting a Zipf slope needs log(freq); the
    octave = bit length of the frequency counts the SAME information
    exactly: octave k holds word types occurring [2^k, 2^(k+1))
    times). Per (lang, octave): type count, occurrence mass, and the
    share of that language's token volume — a corpus whose high
    octaves carry most mass is dominated by few types (template-like
    text); natural language shows the Zipf straight-ish decay across
    octaves. One distinct-word aggregate per language, octave by
    exact integer bin (no float anywhere)."""
    docs = _docs(spark, sf_dir)
    wf = (
        docs.select(
            "lang", F.explode(text.tokens_col()).alias("word")
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    oct_ = (F.length(F.bin(F.col("freq"))) - 1).cast("int")
    per = (
        wf.select("lang", oct_.alias("octave"), "freq")
        .groupBy("lang", "octave")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("freq").cast("long").alias("n_occurrences"),
        )
    )
    tot = per.groupBy("lang").agg(
        F.sum("n_occurrences").cast("long").alias("_lt")
    )
    return (
        per.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "octave",
            "n_types",
            "n_occurrences",
            (
                F.col("n_occurrences").cast("double")
                / F.col("_lt").cast("double")
            ).alias("occurrence_share"),
        )
        .orderBy("lang", "octave")
    )


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning over the documents corpus (r7
    VERDICT ask #3 — the tokenizer-training primitive the text family
    lacked): 8 rounds of exact pair-count → broadcast top merge →
    window re-segmentation over the distinct-word frequency table.
    One row per learned merge (round, left_sym, right_sym, merged,
    pair_count); the oracle unrolls the identical 8 rounds as chained
    CTEs. See text.bpe_merges."""
    return text.bpe_merges(_docs(spark, sf_dir), k=8)


def _bpe_seg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BPE segmentation statistics (doc_id, n_words,
    n_bpe_tokens) under the 8 learned merges, computed (and
    localCheckpoint-materialized) at most once per (session, sf_dir)
    — shared by text_bpe_segment and the two budgeting consumers
    text_pack_bpe / corpus_mixture_bpe, so a gate/bench session runs
    the 8-round loop once, not three times."""
    return _session_cached(
        spark,
        ("bpe_seg", sf_dir, 8),
        lambda: materialize(text.bpe_segment(_docs(spark, sf_dir), k=8)),
    )


def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY side of the BPE pair: per-doc subword statistics under
    the 8 learned merges — (doc_id, n_words, n_bpe_tokens). Learn and
    apply share one loop (text.bpe_segment), so the segmentation is by
    construction the one text_bpe_merges' table implies. Rides the
    :func:`_bpe_seg_counts` session cache."""
    return _bpe_seg_counts(spark, sf_dir)


def text_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: sequence packing budgeted on REAL subword counts (r8
    VERDICT ask #6 — X13 packs whitespace tokens; an actual training
    run budgets shards in TOKENIZER tokens): the X103 per-doc
    n_bpe_tokens feed packing.pack_counts through the explicit-counts
    seam. Same two-level prefix sum, same shard arithmetic, same
    512-token budget; the packed universe is the segmentable corpus
    (docs with ≥1 word). Oracle = the unrolled 8-round BPE CTE chain
    with the X13 prefix-sum arithmetic as its tail."""
    counts = _bpe_seg_counts(spark, sf_dir).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return packing.pack_counts(counts)


def corpus_mixture_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116: mixture allocation budgeted on REAL subword counts — the
    X81 plan with per-source token inventories measured in X103 BPE
    tokens (what a training run actually spends) instead of
    whitespace tokens. Same integer weight×budget DIV Σw allocation;
    inventory covers the segmentable corpus. Oracle = the BPE CTE
    chain with the X81 allocation arithmetic as its tail."""
    counts = _bpe_seg_counts(spark, sf_dir).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return sampling.mixture_plan(_docs(spark, sf_dir), counts=counts)


def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105: DSIR-shape importance weighting (arXiv 2302.03169) —
    target-vs-raw hashed-feature ratio per doc, exact int64 bucket
    weights so the oracle replays it. Target domain = the lang='en'
    corpus slice. See text.dsir_importance."""
    return text.dsir_importance(_docs(spark, sf_dir))


def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112: per-doc shingle novelty in ingestion order — the
    crawl-redundancy curve (shingle-level twin of X73 Heaps growth);
    gram definition shared verbatim with the dedup family. See
    text.ngram_novelty."""
    return text.ngram_novelty(_docs(spark, sf_dir))


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: cumulative distinct-token
    count vs cumulative token count in deterministic doc_id ingestion
    order — the statistic that sizes a tokenizer vocabulary and shows
    when a corpus stops yielding new types.

    Distributed form: a token is NEW at the doc where it FIRST appears
    (min doc_id per token — one hash shuffle, no prefix-distinct
    scans); per-doc new-type and token counts then take the same
    two-level prefix sum as packing/concurrency (⌈√n⌉ doc-id blocks,
    metadata-scale block window) — a naive cumulative DISTINCT window
    would rescan the corpus per row."""
    import math

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(text.tokens_col()).alias("tok")
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    news = (
        toks.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    base = per_doc.join(news, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    block = max(64, math.isqrt(docs.count()) + 1)
    from pyspark.sql.window import Window

    blocked = base.withColumn("_blk", F.expr(f"doc_id DIV {block}"))
    blk = blocked.groupBy("_blk").agg(
        F.sum("n_tokens").alias("_bt"), F.sum("n_new").alias("_bv")
    )
    w_blk = (
        Window.partitionBy(F.pmod(F.col("_blk"), F.lit(1)))
        .orderBy("_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = blk.select(
        "_blk",
        F.coalesce(F.sum("_bt").over(w_blk), F.lit(0)).alias("_ot"),
        F.coalesce(F.sum("_bv").over(w_blk), F.lit(0)).alias("_ov"),
    )
    w_in = (
        Window.partitionBy("_blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        blocked.join(F.broadcast(offs), "_blk")
        .select(
            "doc_id",
            (F.col("_ot") + F.sum("n_tokens").over(w_in)).alias("cum_tokens"),
            (F.col("_ov") + F.sum("n_new").over(w_in)).alias("cum_vocab"),
        )
        .orderBy("doc_id")
    )


def sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min audit of the corpus's top-10 trigram frequencies:
    exact counts (the baseline a production run would NOT compute)
    side-by-side with the CM estimate and its overestimate — the
    CM ≥ exact guarantee is value-checked, not just claimed. The
    trigram stream here is POSITIONAL (occurrences with multiplicity),
    unlike the distinct-shingle Jaccard family."""
    docs = _docs(spark, sf_dir)
    toked = docs.select(text.tokens_col().alias("_toks"))
    size = F.size("_toks")
    gram_i = lambda i: F.concat_ws(" ", F.slice("_toks", i, 3))  # noqa: E731
    occ = toked.filter(size >= 3).select(
        F.explode(F.transform(F.sequence(F.lit(1), size - 2), gram_i)).alias(
            "item"
        )
    )
    exact_top = (
        occ.groupBy("item")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), "item")
        .limit(10)
    )
    est = sketch.countmin_estimates(occ, exact_top.select("item"))
    return (
        exact_top.join(est, "item")
        .select(
            "item",
            "exact_n",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), "item")
    )


def _quantile_audit(
    spark: SparkSession, sf_dir: str, group_cols: list[str]
) -> DataFrame:
    """ONE audit implementation for the global and grouped quantile-
    sketch queries (the axis the sketch operators already parameterize
    via group_cols — keeping a single copy is what stops the Spark and
    oracle rank/rel_err definitions drifting apart): sketch p50/p90/p99
    vs the exact rank quantile, per group when grouped. The exact side
    is the baseline a production run would NOT compute — a
    distinct-value cumulative, bounded because the value domain is
    price-cents (≤ ~60k distinct at any SF), not a global row sort;
    NULL/NaN rows are excluded on BOTH sides exactly like the sketch
    itself. Both quantile definitions are rank-exact (value at row
    ⌈q·n/100⌉), integer arithmetic until the value itself — no
    interpolation formulas to float-drift across engines."""
    from pyspark.sql.window import Window

    g = list(group_cols)
    events = load_table(spark, sf_dir, "events")
    clean = events.filter(
        F.col("value").isNotNull() & ~F.isnan(F.col("value").cast("double"))
    )
    q_pcts = [50, 90, 99]
    hist = sketch.quantile_sketch_histogram(events, "value", group_cols=g)
    est = sketch.quantile_sketch_estimates(hist, q_pcts, group_cols=g)

    w = Window.partitionBy(*g).orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dv = (
        clean.groupBy(*g, "value")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(*g, "value", F.sum("_c").over(w).alias("cum"))
    )
    for c in g:
        dv = dv.withColumnRenamed(c, f"_g_{c}")
    cond = F.lit(100) * F.col("cum") >= F.col("q_pct").cast("long") * F.col(
        "n"
    )
    for c in g:
        cond = cond & (F.col(f"_g_{c}") == F.col(c))
    exact = (
        est.select(*g, "q_pct", "n")
        .join(dv, cond)
        .groupBy(*g, "q_pct")
        .agg(F.min("value").alias("exact"))
    )
    return (
        est.join(exact, [*g, "q_pct"])
        .select(
            *g,
            "q_pct",
            "n",
            "est",
            "exact",
            (
                F.abs(F.col("est") - F.col("exact"))
                / F.nullif(F.col("exact"), F.lit(0.0))
            ).alias("rel_err"),
        )
        .orderBy(*g, "q_pct")
    )


def sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile-sketch audit (operators/sketch.
    quantile_sketch_histogram/_estimates): p50/p90/p99 of events.value
    from the log₂-binned histogram, side-by-side with the exact rank
    quantile and the relative error — the same measured-not-claimed
    contract as the Count-Min and θ-sketch audits. The sketch path is
    ONE bounded groupBy (≤ a few hundred bins shuffle rows, KB-sized,
    re-aggregable across partitions/days/clusters). See
    :func:`_quantile_audit` for the shared audit shape."""
    return _quantile_audit(spark, sf_dir, [])


def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X206: per-event-type GINI concentration of user activity — the
    skew summary behind X169's top-key audit (that names the heavy
    keys; this gives the one number that tracks concentration over
    time — a rising Gini means bot/abuse traffic or a salting
    decision ahead): G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) over
    per-user event counts x_i ranked ascending (ties by user id —
    deterministic rank, exact integer numerator/denominator, ONE
    double division; no sorting of raw rows — the rank runs over the
    per-user aggregate, |users| rows)."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = per_user.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("x").cast("long").alias("n_events"),
            F.sum(F.col("i").cast("long") * F.col("x"))
            .cast("long")
            .alias("_six"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            (
                (
                    F.lit(2) * F.col("_six")
                    - (F.col("n_users") + 1) * F.col("n_events")
                ).cast("double")
                / (F.col("n_users") * F.col("n_events")).cast("double")
            ).alias("gini"),
        )
        .orderBy("event_type")
    )


def events_interarrival_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X203: per-event-type INTER-ARRIVAL quantiles — the traffic-
    cadence profile next to the volume profiles (X186 tells you WHEN
    events come, this tells you HOW BURSTY): for each event type, the
    exact p50/p90/p99 of the gap between a user's consecutive events
    of that type. The number that sizes session timeouts, watermark
    delays, and stream state TTLs — a p99 inter-arrival above the
    session gap means the sessionizer is splitting real sessions.

    Exactness: gaps are exact epoch-nanosecond differences (int64,
    as_epoch_nanos — never through double); quantiles are the rank
    definition (value at ⌈q·n/100⌉) over a distinct-gap cumulative
    (the X26 idiom — the value domain is far smaller than the row
    count, and integer arithmetic holds until the final ns→seconds
    division). Per-user lag windows parallelize on (type, user);
    nothing global."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_epoch_nanos,
    )

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_type",
        "event_id",
        as_epoch_nanos(e, "ts").alias("ns"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ns", "event_id"
    )
    gaps = (
        base.withColumn("_prev", F.lag("ns").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "event_type", (F.col("ns") - F.col("_prev")).alias("gap_ns")
        )
    )
    n = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps")
    )
    cw = Window.partitionBy("event_type").orderBy("gap_ns").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dv = (
        gaps.groupBy("event_type", "gap_ns")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("event_type", "gap_ns", F.sum("_c").over(cw).alias("cum"))
        .withColumnRenamed("event_type", "_et")
    )
    qs = spark.createDataFrame([(50,), (90,), (99,)], "q_pct int")
    cond = (
        (F.col("_et") == F.col("event_type"))
        & (
            F.lit(100) * F.col("cum")
            >= F.col("q_pct").cast("long") * F.col("n_gaps")
        )
    )
    return (
        n.crossJoin(F.broadcast(qs))
        .join(dv, cond)
        .groupBy("event_type", "q_pct", "n_gaps")
        .agg(F.min("gap_ns").alias("_g"))
        .select(
            "event_type",
            "q_pct",
            "n_gaps",
            (F.col("_g").cast("double") / F.lit(1e9)).alias("gap_seconds"),
        )
        .orderBy("event_type", "q_pct")
    )


def events_type_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED quantile-sketch audit: per-event-type p50/p90/p99 —
    the per-endpoint/per-tenant percentile shape, |keys|·|bins|
    summary rows — against the exact per-group rank quantile. Same
    exactness contract as the global audit; one shared implementation
    (:func:`_quantile_audit`)."""
    return _quantile_audit(spark, sf_dir, ["event_type"])


#: Session-scoped frame cache keyed on (applicationId, tag, params).
#: Several registry queries are self-contained compositions over the
#: IDENTICAL expensive sub-pipeline (the MinHash-LSH pair graph feeds
#: dedup_minhash_lsh + dedup_ensemble + components/canonical; the
#: SimHash fingerprint frame feeds dedup_simhash_fingerprints +
#: dedup_simhash_pairs); without sharing, one gate/bench session
#: computes each pipeline 2-4× (~38 s of the round-5 committed bench
#: was the LSH+CC pipeline alone, computed twice — VERDICT r5 ask
#: #2). Self-contained entries stay the contract — the cache only
#: memoizes; values are unaffected, and the driver's DuckDB oracle
#: still recomputes everything independently. Holding the DataFrame
#: reference keeps its localCheckpoint blocks alive (no persist
#: bookkeeping); entries from dead sessions are evicted by
#: applicationId.
_SESSION_FRAME_CACHE: dict[tuple, DataFrame] = {}

#: Guards _SESSION_FRAME_CACHE dict ops only (r13: the ANN audit
#: panels build on a thread pool — guide §2.6). build() runs OUTSIDE
#: the lock so independent builds overlap; concurrent builders of
#: DISTINCT keys never serialize, and the callers that fan out submit
#: one key per thread.
_SESSION_FRAME_LOCK = threading.Lock()


def _session_cached(spark: SparkSession, key: tuple, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    full = (app, *key)
    with _SESSION_FRAME_LOCK:
        cached = _SESSION_FRAME_CACHE.get(full)
        if cached is not None:
            return cached
        for k in [k for k in _SESSION_FRAME_CACHE if k[0] != app]:
            del _SESSION_FRAME_CACHE[k]
    frame = build()
    with _SESSION_FRAME_LOCK:
        # a concurrent builder of the SAME key may have landed first;
        # keep the first frame so every consumer shares one checkpoint
        return _SESSION_FRAME_CACHE.setdefault(full, frame)


def _minhash_sigs(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 32,
    shingle_words: int = 3,
) -> DataFrame:
    """The MinHash signature frame (doc_id, sig) over the FULL
    documents table, computed at most once per (session, sf_dir,
    parameters) — num_perm int64s per document, trivially pinnable.
    The shingle→md5→permutation scan it saves is the most expensive
    part of every MinHash query; the pair graph, the incremental
    delta probe, and anything else downstream all derive from this
    one frame (splits are per-doc filters, so filtering the shared
    frame is exact)."""
    return _session_cached(
        spark,
        ("minhash_sigs", sf_dir, num_perm, shingle_words),
        lambda: dedup.minhash_signatures(
            _docs(spark, sf_dir), num_perm=num_perm,
            shingle_words=shingle_words,
        ).repartition(F.col("doc_id")).transform(materialize),
    )


def _minhash_cands(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 32,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """The band-collision candidate pair frame (the banding self-join,
    the most expensive stage after the signature scan), computed at
    most once per (session, sf_dir, parameters) and shared by the
    pair query (via ``minhash_lsh_pairs(candidates=)``) and the
    quality audit — the audit therefore measures the EXACT frame
    production filters, not a recomputation."""
    return _session_cached(
        spark,
        ("minhash_cands", sf_dir, num_perm, bands, shingle_words),
        lambda: dedup.minhash_candidate_pairs(
            dedup.minhash_band_keys(
                _minhash_sigs(
                    spark, sf_dir,
                    num_perm=num_perm, shingle_words=shingle_words,
                ),
                num_perm=num_perm,
                bands=bands,
            )
        ).transform(materialize),
    )


def _minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 32,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_words: int = 3,
) -> DataFrame:
    """The MinHash-LSH near-dup pair graph over the documents table,
    computed (and localCheckpoint-materialized) at most once per
    (session, sf_dir, parameters). Pair frames are near-dup-sized
    (≪ corpus), so pinning the materialized result is cheap at any
    SF; the signature scan and the banding self-join it rides are
    themselves shared via :func:`_minhash_sigs` /
    :func:`_minhash_cands`."""
    return _session_cached(
        spark,
        ("minhash_pairs", sf_dir, num_perm, bands, threshold, shingle_words),
        lambda: dedup.minhash_lsh_pairs(
            None, num_perm=num_perm, bands=bands,
            threshold=threshold, shingle_words=shingle_words,
            sigs=_minhash_sigs(
                spark, sf_dir, num_perm=num_perm, shingle_words=shingle_words,
            ),
            candidates=_minhash_cands(
                spark, sf_dir,
                num_perm=num_perm, bands=bands, shingle_words=shingle_words,
            ),
        ).transform(materialize),
    )


def _simhash_fps(
    spark: SparkSession, sf_dir: str, shingle_words: int = 3
) -> DataFrame:
    """The 60-bit SimHash fingerprint frame (doc_id, simhash),
    computed at most once per (session, sf_dir, shingle_words) — one
    int64 row per document, trivially pinnable, and the shingle-hash
    explode it saves is ~10 s of the sf0.1 bench when both simhash
    queries run in one session."""
    return _session_cached(
        spark,
        ("simhash_fps", sf_dir, shingle_words),
        lambda: dedup.simhash_docs(
            _docs(spark, sf_dir), shingle_words=shingle_words
        ).transform(materialize),
    )


def _lsh_component_labels(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 32,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_words: int = 3,
) -> DataFrame:
    """(node, component) labels of the MinHash-LSH near-dup graph over
    the documents table — singletons included — computed at most once
    per (session, sf_dir, parameters). Rides the shared
    :func:`_minhash_pairs` pair graph."""

    def build() -> DataFrame:
        docs = _docs(spark, sf_dir)
        pairs = _minhash_pairs(
            spark, sf_dir, num_perm=num_perm, bands=bands,
            threshold=threshold, shingle_words=shingle_words,
        ).select("doc_a", "doc_b")
        return graph.connected_components(pairs, nodes=docs.select("doc_id"))

    return _session_cached(
        spark,
        ("cc_labels", sf_dir, num_perm, bands, threshold, shingle_words),
        build,
    )


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components
    (operators/graph.py min-label propagation) over the MinHash-LSH
    pair graph, every document labeled — singletons included — with
    its component's minimum doc_id. 'Keep one per cluster' is then a
    groupBy; pair output alone can't express transitive duplicate
    chains (a~b, b~c ⇒ {a,b,c} one cluster even if a≁c directly).
    Labels come from the session-scoped :func:`_lsh_component_labels`
    cache shared with dedup_canonical_docs."""
    comp = _lsh_component_labels(spark, sf_dir)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89: the same near-dup cluster labels via the ALTERNATING-STAR
    algorithm (graph.connected_components_star — Kiveris et al.,
    SoCC'14), whose round count is O(log n), independent of component
    diameter. Near-dup graphs are usually clique-like and both forms
    converge fast; the star form is the one that survives a
    long-chain corpus (transitive paraphrase chains): on a 200-edge
    path min-label RAISES at max_iter=30 while star converges in ≤12
    rounds (tests/test_extensions.py). Output contract identical to
    dedup_components — the oracle is the very same recursive-CTE
    closure — and the pair graph rides the session cache."""
    docs = _docs(spark, sf_dir)
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = graph.connected_components_star(
        pairs, nodes=docs.select("doc_id")
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    )


def _lang_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, gram): every word 3-gram shingle of the corpus with its
    document's language — the input of the per-language distinct
    sketches and of their exact-count audits."""
    toks = _docs(spark, sf_dir).select("lang", dedup.tokens_col().alias("_toks"))
    return toks.select(
        "lang", F.explode(dedup.word_ngrams(3, F.col("_toks"))).alias("gram")
    )


def sketch_distinct_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language approximate distinct word-trigram count via the
    deterministic θ-sample sketch (operators/sketch.py): md5 hashes
    with a '0' first hex digit survive (θ=1/16), distinct survivors
    × 16 estimate the cardinality. Map-side filtering means only
    1/16th of the shingle stream ever shuffles — the scale story —
    while the estimate (including its sampling error) is bit-identical
    in DuckDB, so the oracle checks VALUES, not just plumbing."""
    return sketch.theta_distinct(
        _lang_trigrams(spark, sf_dir), ["lang"], "gram", theta_hex_digits=1
    ).orderBy("lang")


def _exact_distinct_audit(
    grams: DataFrame, est: DataFrame, sketch_col: str, rel_err: F.Column
) -> DataFrame:
    """The exact side of a per-language distinct-sketch audit: the
    exact distinct gram count of ``grams`` joined to the sketch's
    estimate frame ``est``, keeping its ``sketch_col`` and scoring it
    with ``rel_err`` (an expression of ``est_distinct`` and
    ``exact_distinct``)."""
    exact = grams.groupBy("lang").agg(
        F.countDistinct("gram").alias("exact_distinct")
    )
    return (
        est.join(exact, "lang")
        .select(
            "lang", sketch_col, "est_distinct", "exact_distinct",
            rel_err.alias("rel_err"),
        )
        .orderBy("lang")
    )


def sketch_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X147: sketch ACCURACY audit — X33's θ-sample distinct estimate
    measured against the exact distinct count it approximates, per
    language, with the signed relative error (the audit-the-sketch
    discipline the ANN family already has via X88: an estimator
    without a measured error number is a speedup claim with no
    evidence). Deliberately pays the exact-distinct shuffle — this is
    the occasional validation run, not the production path; at 100 TB
    it runs on a sampled stratum or a golden day, and the production
    dashboards keep reading the sketch."""
    grams = _lang_trigrams(spark, sf_dir)
    est = sketch.theta_distinct(grams, ["lang"], "gram", theta_hex_digits=1)
    return _exact_distinct_audit(
        grams,
        est,
        "n_sampled",
        (F.col("est_distinct") - F.col("exact_distinct")).cast("double")
        / F.col("exact_distinct").cast("double"),
    )


def docs_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158: MERGEABLE per-key distinct sketch + its accuracy audit
    (r10 VERDICT ask #3) — per-language HLL-shape register estimate
    of distinct 3-gram shingles (operators/sketch.py hll_registers /
    hll_estimate: registers from md5 bits, bitlength via bin(), exact
    fixed-point register sum — no float log, no engine-internal HLL
    state, so the estimate value-hashes cross-engine) scored against
    the exact distinct count with the signed relative error, one X147
    audit row per key. What X33/X147 cannot do — MERGE: registers
    combine by (key, reg) max across days/clusters, pinned
    halves-merged ≡ whole-corpus in tests/test_extensions.py.

    Scale shape: the sketch side is one projection + one ≤64-rows-
    per-key aggregate (the production path); the exact side pays the
    full distinct shuffle deliberately — this is the validation run,
    not the dashboard query."""
    grams = _lang_trigrams(spark, sf_dir)
    regs = sketch.hll_registers(grams, ["lang"], "gram")
    est = sketch.hll_estimate(regs, ["lang"])
    return _exact_distinct_audit(
        grams,
        est,
        "n_zero_regs",
        (F.col("est_distinct") - F.col("exact_distinct").cast("double"))
        / F.col("exact_distinct").cast("double"),
    )


def events_hll_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X163: the X158 sketch's DEPLOYMENT shape — per-DAY distinct-
    user registers plus a grand-total row whose registers are the
    (day, reg)-MAX MERGE of the daily summaries (the production
    pattern: each day's job emits 64 rows per key, totals roll up by
    merge, the raw data is never re-scanned). The value-hash gate is
    itself the mergeability proof ACROSS ENGINES: Spark's total row
    comes from merging the daily registers, the oracle's total row is
    computed DIRECTLY over all events — they can only hash-equal
    because merge ≡ direct (the register-max associativity theorem,
    also unit-pinned in tests). Every row audited against the exact
    distinct count, the X147/X158 discipline."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        as_timestamp(events, "ts").cast("date").cast("string").alias(
            "scope"
        ),
        F.col("user_id").cast("string").alias("uid"),
    )
    daily_regs = sketch.hll_registers(keyed, ["scope"], "uid")
    total_regs = sketch.hll_merge(
        daily_regs.select(F.lit("total").alias("scope"), "reg", "rho")
    )
    est = sketch.hll_estimate(
        daily_regs.unionByName(total_regs), ["scope"]
    )
    exact = (
        keyed.groupBy("scope")
        .agg(F.countDistinct("uid").alias("exact_distinct"))
        .unionByName(
            keyed.agg(
                F.lit("total").alias("scope"),
                F.countDistinct("uid").alias("exact_distinct"),
            )
        )
    )
    return (
        est.join(exact, "scope")
        .select(
            "scope",
            "n_zero_regs",
            "est_distinct",
            "exact_distinct",
            (
                (
                    F.col("est_distinct")
                    - F.col("exact_distinct").cast("double")
                )
                / F.col("exact_distinct").cast("double")
            ).alias("rel_err"),
        )
        .orderBy("scope")
    )


#: k-anonymity threshold for the privacy audit
K_ANON = 5


def customers_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X149: k-anonymity audit — the dataset-level privacy check next
    to X12's row-level PII redaction (Sweeney 2002: a release is
    k-anonymous iff every quasi-identifier combination matches ≥ k
    records; cells below k re-identify individuals by linkage).
    Quasi-identifiers here: (nation, market segment, account-balance
    band of width 1000 — the classic numeric-QI binning). Emits every
    VIOLATING cell with its group size — the suppression/
    generalization worklist a privacy review hands back. One exact
    GROUP BY; at 100 TB the QI aggregate is one map-side-combined
    shuffle and the violating-cell output is tiny by definition
    (big cells are the compliant ones)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias(
                "balance_band"
            ),
        )
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < K_ANON)
        .orderBy("c_nationkey", "c_mktsegment", "balance_band")
    )


#: X160 generalization ladder: per level, (keep nation, keep segment,
#: balance-band width or None='*'). Bounded, monotone — each level
#: coarsens the previous — and shared by the Spark apply, the report
#: query, and the generated unrolled-CTE oracle.
K_GEN_LADDER = (
    (True, True, 1000),
    (True, True, 4000),
    (True, True, None),
    (True, False, None),
    (False, False, None),
)


def _k_gen_qi_cols(level: int):
    """Spark QI columns (qi_nation, qi_segment, qi_band) at a ladder
    level — strings so every level shares one schema ('*' = dropped)."""
    keep_n, keep_s, width = K_GEN_LADDER[level]
    qi_n = (
        F.col("c_nationkey").cast("string") if keep_n else F.lit("*")
    )
    qi_s = F.col("c_mktsegment") if keep_s else F.lit("*")
    if width is None:
        qi_b = F.lit("*")
    else:
        qi_b = F.concat(
            F.lit(f"b{width}:"),
            F.floor(F.col("c_acctbal") / width).cast("long").cast("string"),
        )
    return qi_n.alias("qi_nation"), qi_s.alias("qi_segment"), qi_b.alias("qi_band")


def k_generalize_apply(cust: DataFrame, k: int = K_ANON) -> DataFrame:
    """X160 APPLY side: make the customer release k-ANONYMOUS by
    bounded deterministic generalization — the action X149 only
    reports (the report→apply completion the dedup family got in
    X45/X114/X118/X122). Round r evaluates the records still
    unsatisfied at ladder level r: cells of size ≥ k FREEZE at that
    level, smaller cells promote to level r+1 (strictly coarser QIs —
    monotone by construction); records still below k after the
    coarsest level ('*','*','*' — possible only when the whole
    residue is < k rows) are SUPPRESSED. len(ladder) rounds, each one
    map-side-combined aggregate + one broadcast-back join over a
    shrinking residue; no iteration, the ladder is unrolled
    statically.

    Output: one row per input record —
    (c_custkey, level, qi_nation, qi_segment, qi_band, suppressed);
    pytest pins every non-suppressed cell ≥ k and every QI a
    coarsening of the record's raw values."""
    out_parts = []
    remaining = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    for lvl in range(len(K_GEN_LADDER)):
        qi = remaining.select("c_custkey", *_k_gen_qi_cols(lvl))
        sizes = qi.groupBy("qi_nation", "qi_segment", "qi_band").agg(
            F.count(F.lit(1)).alias("_n")
        )
        # r12 optimization (guide §3.3 "materialise an intermediate to
        # truncate the plan"): each level's labeled frame feeds TWO
        # consumers (this level's frozen slice and every deeper
        # level's residue), so the statically-unrolled lazy plan
        # replicated the level-l subtree into all L−l deeper branches
        # — O(L²) re-execution at action time. One eager truncation
        # per level makes the ladder linear: measured 18.7 s → 3.7 s
        # at sf0.1 with a 0-row exceptAll diff both directions.
        labeled = materialize(
            qi.join(
                F.broadcast(sizes), ["qi_nation", "qi_segment", "qi_band"]
            ),
            eager=True,
        )
        frozen = labeled.filter(F.col("_n") >= k).select(
            "c_custkey",
            F.lit(lvl).alias("level"),
            "qi_nation",
            "qi_segment",
            "qi_band",
            F.lit(False).alias("suppressed"),
        )
        out_parts.append(frozen)
        unsat = labeled.filter(F.col("_n") < k).select("c_custkey")
        remaining = remaining.join(unsat, "c_custkey")
    suppressed = remaining.select(
        "c_custkey",
        F.lit(len(K_GEN_LADDER)).alias("level"),
        F.lit("*").alias("qi_nation"),
        F.lit("*").alias("qi_segment"),
        F.lit("*").alias("qi_band"),
        F.lit(True).alias("suppressed"),
    )
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out.unionByName(suppressed)


def _k_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X160 k-anonymized release frame, computed at most once per
    (session, sf_dir) — the 5-round ladder is the privacy family's
    only expensive stage and THREE oracle-paired audits read its
    output (X160 report, X196 l-diversity, X207 t-closeness); the
    cache memoizes, values are unaffected (the _session_cached
    contract), and each audit stays self-contained for the driver's
    independent oracle."""
    return _session_cached(
        spark,
        ("k_release", sf_dir),
        lambda: k_generalize_apply(
            load_table(spark, sf_dir, "customer")
        ).transform(materialize),
    )


def customers_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X196: l-DIVERSITY audit of the k-anonymized release — the
    classic follow-up to X160 (Machanavajjhala et al. 2007):
    k-anonymity bounds RE-IDENTIFICATION but not ATTRIBUTE
    disclosure — a k-sized equivalence class whose members all share
    the sensitive value reveals it for every member without
    identifying anyone. Sensitive attribute here: account-balance
    SIGN (in debt or not — binary, so l ∈ {1, 2} and l = 1 IS the
    homogeneous-class disclosure). Per ladder level of the X160
    release (suppressed records excluded — '*' rows carry no QI to
    link on): class count, the minimum l, and how many classes are
    homogeneous. Derived from the SAME k_generalize_apply output as
    the release, so the audit cannot disagree with it; one aggregate
    over class-grain rows — metadata-scale at any corpus size."""
    cust = load_table(spark, sf_dir, "customer")
    rel = _k_release(spark, sf_dir).filter(~F.col("suppressed"))
    sens = cust.select(
        "c_custkey", (F.col("c_acctbal") < 0).alias("sens")
    )
    cls = (
        rel.join(sens, "c_custkey")
        .groupBy("level", "qi_nation", "qi_segment", "qi_band")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("sens").alias("l"),
        )
    )
    return (
        cls.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("l").cast("long").alias("min_l"),
            F.sum(F.when(F.col("l") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_homogeneous"),
        )
        .select(
            "level",
            "n_classes",
            "min_l",
            "n_homogeneous",
            (
                F.col("n_homogeneous").cast("double")
                / F.col("n_classes").cast("double")
            ).alias("homogeneous_share"),
        )
        .orderBy("level")
    )


def customers_k_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160: the per-round k-GENERALIZATION report — what a privacy
    review reads after :func:`k_generalize_apply` runs: for each
    ladder level, how many records were evaluated there, how many
    froze (reached k-anonymity at that granularity), and how many
    promoted onward; the final level's promotions are the SUPPRESSED
    residue. Derived from the apply output by one aggregate, so the
    report can never disagree with the release."""
    assigned = _k_release(spark, sf_dir)
    per_level = assigned.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_frozen")
    )
    n_levels = len(K_GEN_LADDER)
    # include the suppressed pseudo-level so the grand total comes out
    # of the same frame — no driver-side count()
    levels = spark.range(n_levels + 1).select(
        F.col("id").cast("int").alias("level")
    )
    j = levels.join(per_level, "level", "left").select(
        "level", F.coalesce("n_frozen", F.lit(0)).alias("n_frozen")
    )
    from pyspark.sql.window import Window

    before = Window.orderBy("level").rowsBetween(
        Window.unboundedPreceding, -1
    )
    everything = Window.orderBy("level").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        j.select(
            "level",
            (
                F.sum("n_frozen").over(everything)
                - F.coalesce(F.sum("n_frozen").over(before), F.lit(0))
            ).cast("long").alias("n_candidates"),
            F.col("n_frozen").cast("long").alias("n_satisfied"),
        )
        .filter(F.col("level") < n_levels)
        .select(
            "level",
            "n_candidates",
            "n_satisfied",
            (F.col("n_candidates") - F.col("n_satisfied"))
            .cast("long")
            .alias("n_promoted"),
        )
        .orderBy("level")
    )


#: X207 t-closeness threshold (Li et al. 2007), expressed as the exact
#: rational 1/T_CLOSE_DEN so the above-threshold test stays integer
#: cross-multiplication (|p_c − p_g| > 1/5 ⟺ 5·|d_c·N − D·n_c| > n_c·N)
T_CLOSE_DEN = 5


def customers_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X207: t-CLOSENESS audit of the k-anonymized release — the third
    leg of the privacy triad after X160 (k-anonymity: re-identification)
    and X196 (l-diversity: homogeneous-class disclosure). l-diversity
    is fooled by SKEW (Li et al. 2007 §3): a class with 2 distinct
    sensitive values still leaks when its distribution differs wildly
    from the table's — "this class is 90% in-debt vs 10% overall" IS
    the disclosure. t-closeness bounds the distance between each
    equivalence class's sensitive distribution and the whole release's.

    Sensitive attribute: account-balance sign (binary — the X196
    choice), for which the Earth-Mover distance degenerates to
    |p_class − p_global| exactly. Per X160 ladder level: class count,
    the maximum t over its classes, and how many classes exceed the
    1/5 threshold. Exactness: t is the integer-exact rational
    |d_c·N − D·n_c| / (n_c·N) evaluated with ONE double division per
    class; the threshold test never leaves integers (cross-multiplied
    by T_CLOSE_DEN). Derived from the SAME k_generalize_apply output
    as the release; class-grain aggregates — metadata-scale."""
    cust = load_table(spark, sf_dir, "customer")
    rel = _k_release(spark, sf_dir).filter(~F.col("suppressed"))
    sens = cust.select(
        "c_custkey", (F.col("c_acctbal") < 0).alias("sens")
    )
    joined = rel.join(sens, "c_custkey")
    glob = joined.agg(
        F.count(F.lit(1)).cast("long").alias("N"),
        F.sum(F.col("sens").cast("long")).cast("long").alias("D"),
    )
    cls = joined.groupBy(
        "level", "qi_nation", "qi_segment", "qi_band"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum(F.col("sens").cast("long")).cast("long").alias("d_c"),
    )
    num = F.abs(F.col("d_c") * F.col("N") - F.col("D") * F.col("n_c"))
    scored = cls.crossJoin(F.broadcast(glob)).select(
        "level",
        (num.cast("double") / (F.col("n_c") * F.col("N")).cast("double")).alias(
            "t"
        ),
        (
            F.lit(T_CLOSE_DEN) * num > F.col("n_c") * F.col("N")
        ).alias("_above"),
    )
    return (
        scored.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.max("t").alias("max_t"),
            F.sum(F.col("_above").cast("long")).cast("long").alias(
                "n_above_t"
            ),
        )
        .select(
            "level",
            "n_classes",
            "max_t",
            "n_above_t",
            (
                F.col("n_above_t").cast("double")
                / F.col("n_classes").cast("double")
            ).alias("above_share"),
        )
        .orderBy("level")
    )


def orders_ship_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X208: order→ship fulfillment-latency quantiles per order
    priority — the operational SLA distribution behind TPC-H Q4's
    late-order COUNT (Q4 says how many missed; this says how long
    everything took, and whether URGENT actually ships faster). Per
    o_orderpriority: exact p50/p90/p99 of datediff(l_shipdate,
    o_orderdate) in whole days.

    Exactness/scale: day gaps are exact integer date arithmetic; the
    quantile is the rank definition (value at ⌈q·n/100⌉) over a
    distinct-gap cumulative (the X26/X203 idiom — the day-gap domain
    is bounded by the order horizon, a few hundred values, so the
    cumulative runs over |priorities|·|gaps| rows, not the lineitem
    row count). The orders→lineitem join is the co-partitioned
    orderkey equi-join every TPC-H shape uses."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    gaps = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).cast("long").alias("ship_days"),
    )
    n = gaps.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("ship_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dv = (
        gaps.groupBy("o_orderpriority", "ship_days")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            F.col("o_orderpriority").alias("_p"),
            "ship_days",
            F.sum("_c").over(w).alias("cum"),
        )
    )
    q = spark.createDataFrame(
        [(50,), (90,), (99,)], "q_pct int"
    )
    return (
        n.crossJoin(F.broadcast(q))
        .join(
            dv,
            (F.col("_p") == F.col("o_orderpriority"))
            & (
                F.lit(100) * F.col("cum")
                >= F.col("q_pct").cast("long") * F.col("n_items")
            ),
        )
        .groupBy("o_orderpriority", "q_pct", "n_items")
        .agg(F.min("ship_days").alias("ship_days"))
        .select("o_orderpriority", "q_pct", "n_items", "ship_days")
        .orderBy("o_orderpriority", "q_pct")
    )


#: X209 ACF lag range (hours). 1..24 spans the full daily cycle — the
#: lag-24 peak is the autocorrelation signature of the X186 profile.
ACF_MAX_LAG_H = 24


def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X209: AUTOCORRELATION of hourly event volume at lags 1..24 —
    the diagnostic that justifies the seasonality assumptions the
    calendar profiles (X186 weekly, X173 seasonal-naive backtest)
    bake in: a lag-24 peak IS the daily cycle, a flat ACF means the
    seasonal-naive forecast has nothing to exploit.

    Exactness: hour index = epoch-ns integer division (exact int64,
    never through double); per-lag sufficient statistics (n, Σx, Σy,
    Σxy, Σx², Σy²) are exact integer sums over the hour-count series
    (the X82 sufficient-stats idiom); Pearson r is computed from
    those integers with IEEE double arithmetic identically in both
    engines (one sqrt chain, correctly rounded). Zero-variance lags
    emit NULL via nullif. Scale: the hourly aggregate is one
    map-side-combined groupBy; the lag join runs over |hours|·|lags|
    rows — metadata-sized at any corpus (a year is 8,760 rows)."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_epoch_nanos,
    )

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.select(as_epoch_nanos(e, "ts").alias("_ns"))
        .select(F.expr("_ns div 3600000000000").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lags = spark.range(1, ACF_MAX_LAG_H + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = hourly.select(F.col("h").alias("ha"), F.col("c").alias("x"))
    b = hourly.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hb") == F.col("ha") + F.col("lag").cast("long"))
    )
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = (
        F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double")
    vx = (
        F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    vy = (
        F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy")
    ).cast("double")
    return (
        stats.select(
            "lag",
            "n_pairs",
            (
                num
                / F.nullif(F.sqrt(vx) * F.sqrt(vy), F.lit(0.0))
            ).alias("acf"),
        )
        .orderBy("lag")
    )


#: X210 output cap and noise floor: pairs must share ≥ MIN_COMMON
#: parts, and only the TOPK_SIM strongest survive (deterministic
#: total order: jaccard DESC, then the pair ids)
SIM_MIN_COMMON = 2
SIM_TOPK = 100


def graph_supplier_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X210: common-neighbor / Jaccard node-similarity join over the
    supplier–part bipartite graph — the link-prediction primitive
    (Liben-Nowell & Kleinberg 2003) next to X86's triangle cohesion:
    which supplier pairs serve the most-overlapping part sets. For
    every pair sharing ≥ 2 distinct parts: common-part count, both
    degrees, and Jaccard = common / (deg_a + deg_b − common); the
    top-100 by (jaccard DESC, s_a, s_b) survive.

    Scale: candidates generate per shared PART (one per-part
    self-join, bounded by per-part supplier counts — the same bound
    X86's weight pass rides), never all-pairs; degrees are one
    distinct aggregate; a hub part that breaks the bound is exactly
    the prefix-filter regime X2's ssjoin handles. Jaccard is one
    double division from three exact integers."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    ps = li.distinct()
    deg = ps.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    a = ps.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s_a"))
    b = ps.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s_b"))
    common = (
        a.join(b, "p")
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= SIM_MIN_COMMON)
    )
    da = deg.select(F.col("l_suppkey").alias("s_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("l_suppkey").alias("s_b"), F.col("deg").alias("deg_b"))
    return (
        common.join(F.broadcast(da), "s_a")
        .join(F.broadcast(db), "s_b")
        .select(
            "s_a",
            "s_b",
            "common",
            "deg_a",
            "deg_b",
            (
                F.col("common").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "s_a", "s_b")
        .limit(SIM_TOPK)
    )


#: X211 probe-set size: synthetic keys disjoint from the build set by
#: namespace ('p:' vs 'c:'), so every probe hit is a false positive
BLOOM_PROBES = 2048


def sketch_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X211: Bloom-filter false-positive-rate audit — the MEASURED
    check on the sketch the engine already trusts at plan level (X94's
    runtime bloom semi-join is Catalyst's; this one is built from
    first principles and audited like every other sketch: X69 CMS,
    X91 DDSketch, X158 HLL, X198 KMV). Build: the k=BLOOM_K
    md5-derived bit positions of every customer key ('c:' namespace),
    collapsed to the distinct bit set. Probe: BLOOM_PROBES synthetic
    keys in the disjoint 'p:' namespace — NONE were inserted, so any
    probe whose every position is set is a false positive BY
    CONSTRUCTION (no membership bookkeeping needed). Output: one row —
    filter geometry, fill share, and the measured FPR the capacity
    planner compares against the (1−e^{−kn/m})^k design point.

    Scale: build = one distinct over n·k ints; probes join the bit
    set on the broadcast-able position column; nothing quadratic."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias(
            "item"
        )
    )
    bits = (
        sketch.bloom_positions(cust, "item")
        .select("pos")
        .distinct()
    )
    probes = spark.range(1, BLOOM_PROBES + 1).select(
        F.concat(F.lit("p:"), F.col("id").cast("string")).alias("item")
    )
    ppos = sketch.bloom_positions(probes, "item").select(
        "item", "pos"
    ).distinct()
    hit = ppos.join(
        bits.select(F.col("pos"), F.lit(1).alias("_set")), "pos", "left"
    )
    per_probe = hit.groupBy("item").agg(
        F.min(F.coalesce(F.col("_set"), F.lit(0))).alias("_all_set")
    )
    fp = per_probe.agg(
        F.sum("_all_set").cast("long").alias("n_false_positives")
    )
    nb = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    nk = cust.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return (
        nk.crossJoin(nb)
        .crossJoin(fp)
        .select(
            "n_keys",
            F.lit(sketch.BLOOM_M).cast("long").alias("m_bits"),
            F.lit(sketch.BLOOM_K).cast("int").alias("k_hashes"),
            "n_bits_set",
            (
                F.col("n_bits_set").cast("double")
                / F.lit(float(sketch.BLOOM_M))
            ).alias("fill_share"),
            F.lit(BLOOM_PROBES).cast("long").alias("n_probes"),
            "n_false_positives",
            (
                F.col("n_false_positives").cast("double")
                / F.lit(float(BLOOM_PROBES))
            ).alias("measured_fpr"),
        )
    )


#: X212 sample size: 64 deterministically-sampled vectors → 2016
#: exact pairwise distances — enough to see the geometry's modes,
#: metadata-sized at any corpus
DIST_SAMPLE_N = 64


def emb_distance_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X212: pairwise-distance OCTAVE histogram over a deterministic
    embedding sample — the measurement that justifies (or indicts)
    every distance threshold the similarity family hard-codes (X7's
    near-dup d², X192's 1.2 contamination radius, X96's SemDeDup
    cell radius): the histogram shows where the corpus's distance
    mass sits, and whether a threshold separates a near-dup mode from
    the bulk or just slices through it. Octave = bit length of the
    quantized squared distance (the X202 no-libm log trick), so the
    bins are exact integers both engines agree on.

    Sample: the DIST_SAMPLE_N smallest md5(vec_id) — the KMV
    selection rule (X198), order-stable under corpus growth. Pairs:
    all C(n,2) within the sample, exact int64 arithmetic in the
    quantized (×10⁴) component domain (the X192 idiom). Scale: the
    sample is a global top-k by hash (TakeOrdered — no full sort);
    everything after runs on 64 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    sampled = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(DIST_SAMPLE_N)
    )
    comp = sampled.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.round(F.col("x").cast("double") * 10000, 0).cast("long").alias(
            "qx"
        ),
    )
    a = comp.select(
        F.col("vec_id").alias("va"), "i", F.col("qx").alias("qa")
    )
    b = comp.select(
        F.col("vec_id").alias("vb"), "i", F.col("qx").alias("qb")
    )
    d2 = (
        a.join(b, "i")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sum(
                (F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))
            ).cast("long").alias("d2q")
        )
    )
    octave = (F.length(F.bin(F.col("d2q"))) - 1).cast("int")
    per = d2.select(octave.alias("octave"), "d2q").groupBy("octave").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("d2q").alias("_mn"),
        F.max("d2q").alias("_mx"),
    )
    tot = per.agg(F.sum("n_pairs").cast("long").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "octave",
            "n_pairs",
            (F.col("_mn").cast("double") / F.lit(1e8)).alias("min_d2"),
            (F.col("_mx").cast("double") / F.lit(1e8)).alias("max_d2"),
            (
                F.col("n_pairs").cast("double") / F.col("_t").cast("double")
            ).alias("pair_share"),
        )
        .orderBy("octave")
    )


#: X213 nDCG@10 discount table in exact ppm: round(10⁶ / log2(r+1))
#: for rank r = 1..10, folded ONCE in python (math.log2 — the only
#: libm call, executed neither in Spark nor DuckDB) so both engines
#: share identical integer constants; rank 1 → 1,000,000 (the
#: known-item ideal), miss → 0.
NDCG_DISC_PPM = tuple(
    int(round(1_000_000 / math.log2(r + 1))) for r in range(1, 11)
)


def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X213: nDCG@10 over the known-item panel — the graded-discount
    retrieval metric next to X167's MRR/recall (MRR credits only the
    reciprocal; nDCG's log2 discount is what every leaderboard
    reports, and the two DISAGREE exactly when the retriever piles
    relevant items at ranks 2-4). With a single relevant item per
    query (the known-item construction), per-query nDCG degenerates
    to the discount itself: 1/log2(1+rank), ideal = 1 — so the metric
    is a table LOOKUP by self_rank, and the engine-exactness contract
    holds by interpolating the python-folded NDCG_DISC_PPM integers
    into both sides (the X197 fold-once discipline; no libm log in
    either engine). Mean nDCG = one double division from an exact
    integer ppm sum. Rides X166's one-pass batch BM25 scoring."""
    per = retrieval_known_item_eval(spark, sf_dir)
    disc = F.array(*[F.lit(v).cast("long") for v in NDCG_DISC_PPM])
    ndcg_ppm = F.when(
        F.col("self_rank").isNotNull(),
        F.element_at(disc, F.col("self_rank")),
    ).otherwise(F.lit(0).cast("long"))
    return per.select(ndcg_ppm.alias("ndcg_ppm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("ndcg_ppm").cast("long").alias("sum_ndcg_ppm"),
        (
            F.sum("ndcg_ppm").cast("double")
            / F.lit(1_000_000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_ndcg_at_10"),
    )


def events_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X214: Pettitt rank test for a single changepoint in the daily
    event-volume series — the NONPARAMETRIC complement to X138's CUSUM
    (CUSUM assumes a mean shift in level and is rattled by heavy
    tails; Pettitt 1979 works on RANKS, so one bot-spike day cannot
    drag the changepoint). U_t = 2·Σ_{i≤t}R_i − t·(N+1) over the
    series' average ranks; the changepoint is argmax |U_t|.

    Exactness: average ranks enter DOUBLED (2·R_i = 2·min_rank +
    ties − 1, an integer for any tie pattern), which makes
    U_t = Σ(2R_i) − t·(N+1) exact int64 end-to-end — no rank
    interpolation, no float. Ties on |U_t| break to the EARLIEST day.
    Scale: the test runs on the daily aggregate (|days| rows — a
    decade is 3,652), after one map-side-combined groupBy; the rank
    and cumulative windows are metadata-scale."""
    e = load_table(spark, sf_dir, "events")
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    daily = (
        e.select(
            F.to_date(F.date_trunc("day", as_timestamp(e, "ts"))).alias(
                "day"
            )
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_rank = Window.orderBy("c")
    w_ties = Window.partitionBy("c")
    w_time = Window.orderBy("day")
    w_cum = w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w_time.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        "day",
        (
            F.lit(2) * F.rank().over(w_rank).cast("long")
            + F.count(F.lit(1)).over(w_ties).cast("long")
            - F.lit(1)
        ).alias("r2"),
    )
    u = ranked.select(
        "day",
        (
            F.sum("r2").over(w_cum)
            - F.row_number().over(w_time).cast("long")
            * (F.count(F.lit(1)).over(w_all).cast("long") + F.lit(1))
        ).alias("u_stat"),
        F.row_number().over(w_time).alias("_t"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_days"),
    ).filter(F.col("_t") < F.col("n_days"))
    return (
        u.select(
            "n_days",
            F.col("day").alias("cp_day"),
            "u_stat",
            F.abs(F.col("u_stat")).alias("k_stat"),
        )
        .orderBy(F.desc("k_stat"), "cp_day")
        .limit(1)
    )


def mm_storage_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X215: per-modality storage-size decile profile — the capacity-
    planning distribution behind X15's asset stats (totals say how
    much; this says WHERE the bytes live: a video decile holding 60%
    of the bytes in 10% of the assets sets the shard size, the
    decode-batch memory budget, and the egress bill). Exact NTILE
    deciles by (n_bytes, asset_id) within each modality (the X205
    quantize-once idiom); per (kind, decile): asset count, byte
    range, total bytes, and the share of the modality's bytes — one
    division from exact integer sums. One window + one aggregate over
    asset-grain metadata (id, kind, length) — the payload bytes never
    shuffle."""
    assets = multimodal.synthesize_assets(_docs(spark, sf_dir))
    base = assets.select(
        "asset_id", "kind", F.length("content").cast("long").alias("n_bytes")
    )
    w = Window.partitionBy("kind").orderBy("n_bytes", "asset_id")
    per = (
        base.withColumn("decile", F.ntile(10).over(w))
        .groupBy("kind", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
    )
    tot = per.groupBy("kind").agg(
        F.sum("total_bytes").cast("long").alias("_kt")
    )
    return (
        per.join(F.broadcast(tot), "kind")
        .select(
            "kind",
            "decile",
            "n_assets",
            "min_bytes",
            "max_bytes",
            "total_bytes",
            (
                F.col("total_bytes").cast("double")
                / F.col("_kt").cast("double")
            ).alias("byte_share"),
        )
        .orderBy("kind", "decile")
    )


#: X219 Benford expected-share table in exact ppm:
#: round(10⁶·log10(1 + 1/d)) for first digit d = 1..9 — folded ONCE in
#: python (the NDCG_DISC_PPM / X197 discipline) so neither engine
#: evaluates a libm log
BENFORD_PPM = tuple(
    int(round(1_000_000 * math.log10(1 + 1 / d))) for d in range(1, 10)
)


def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X219: Benford first-digit audit of event values — the classic
    fabricated-data / fraud screen (Benford 1938; Nigrini's audit
    practice): organically-generated amounts follow
    P(d) = log10(1+1/d); injected or synthesized amounts usually
    don't, and the per-digit deviation says WHERE. Values quantize
    ONCE to int64 cents (the engine-wide idiom); the first
    significant digit is a string head on the integer — no log, no
    float; expected shares come from the python-folded BENFORD_PPM
    table (X213's fold-once discipline). One map-side-combined
    9-group aggregate — scan-shaped at any volume.

    Output per digit: count, observed share, expected share, signed
    deviation."""
    e = load_table(spark, sf_dir, "events")
    q = F.round(F.col("value").cast("double") * 100, 0).cast("long")
    digits = (
        e.filter(
            F.col("value").isNotNull()
            & ~F.isnan(F.col("value").cast("double"))
        )
        .select(q.alias("q"))
        .filter(F.col("q") > 0)
        .select(
            F.substring(F.col("q").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    per = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_values")
    )
    tot = per.agg(F.sum("n_values").cast("long").alias("_t"))
    expected = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in BENFORD_PPM]),
        F.col("digit"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_values",
            (
                F.col("n_values").cast("double") / F.col("_t").cast("double")
            ).alias("observed_share"),
            (expected.cast("double") / F.lit(1_000_000.0)).alias(
                "benford_share"
            ),
            (
                F.col("n_values").cast("double") / F.col("_t").cast("double")
                - expected.cast("double") / F.lit(1_000_000.0)
            ).alias("deviation"),
        )
        .orderBy("digit")
    )


def dedup_band_load_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X217: LSH band-bucket LOAD histogram — the scale-health metric
    for the banding join itself (X3/X90/X115 all equi-join on
    (band, band_key); their cost is Σ C(bucket,2) over the bucket
    sizes, and ONE hot bucket — an empty-doc cluster, a template
    farm — turns the 'bounded candidates' promise quadratic). Per
    (band, size-octave): bucket count, docs, and the EXACT candidate-
    pair mass those buckets contribute (sz·(sz−1) DIV 2, integer
    before summation). The number to watch over time: mass migrating
    into high octaves means the index needs more bands/rows or a
    stop-shingle list. Octave = bit length (X202); rides the
    session-shared signature frame — the histogram is one aggregate
    over the band index, never touching documents."""
    from aws_kinesis_data_ingestion_restapi_spark.operators import dedup

    bands = dedup.minhash_band_keys(_minhash_sigs(spark, sf_dir))
    bk = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        bk.select(
            F.col("band").cast("int").alias("band"),
            (F.length(F.bin(F.col("sz"))) - 1).cast("int").alias("octave"),
            "sz",
        )
        .groupBy("band", "octave")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.expr("sz * (sz - 1) div 2"))
            .cast("long")
            .alias("n_candidate_pairs"),
        )
        .orderBy("band", "octave")
    )


def graph_degree_octaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X218: degree-distribution octave profile of the supplier–part
    bipartite graph, BOTH sides — the power-law diagnostic that
    drives the physical-join decisions the scale family implements
    (X19/X76 salting, X86's k-NN capping): a heavy right tail on one
    side is the broadcast/salt signal, and the octave histogram is
    the exact, engine-hashable form of the log-log degree plot
    (X202's no-libm trick). Per (side, octave): node count and total
    degree mass. Two aggregates over the distinct edge set —
    metadata-scale output at any corpus."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    ps = li.distinct()

    def side(col: str, name: str) -> DataFrame:
        deg = ps.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        return deg.select(
            F.lit(name).alias("side"),
            (F.length(F.bin(F.col("deg"))) - 1).cast("int").alias("octave"),
            "deg",
        )

    both = side("l_suppkey", "supplier").unionByName(side("l_partkey", "part"))
    return (
        both.groupBy("side", "octave")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("total_degree"),
        )
        .orderBy("side", "octave")
    )


def quality_calibration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X220: scorer CALIBRATION matrix — the full contingency behind
    X178's agreement scalar (a correlation can hide exactly the
    disagreement that matters: the heuristic's top decile landing in
    the LM's bottom one is how template spam survives a single-scorer
    floor): documents decile-ranked by BOTH the X9 heuristic and the
    X119 trained bigram LM, counted per (heuristic decile, LM decile)
    cell. A diagonal-heavy matrix says one scorer suffices; off-
    diagonal mass is the ensemble's (X125) reason to exist.

    Determinism: heuristic deciles order by the ONCE-quantized score
    (round(10⁶·s) int64 — the X205 idiom) then doc_id; LM deciles by
    (lm_score, doc_id) where lm_score is the identical one-division
    double in both engines. The matrix covers the scorers'
    intersection (docs with ≥ 1 in-model bigram). Two windows over
    doc-grain metadata + one aggregate — scan-shaped."""
    q = text.quality_score(_docs(spark, sf_dir)).select(
        "doc_id",
        F.round(F.col("quality_score") * 1e6, 0).cast("long").alias("_qq"),
    )
    lm = text.lm_bigram_score(_docs(spark, sf_dir)).select(
        "doc_id", "lm_score"
    )
    both = q.join(lm, "doc_id")
    wq = Window.orderBy("_qq", "doc_id")
    wl = Window.orderBy("lm_score", "doc_id")
    decd = both.select(
        F.ntile(10).over(wq).alias("q_decile"),
        F.ntile(10).over(wl).alias("lm_decile"),
    )
    per = decd.groupBy("q_decile", "lm_decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "q_decile",
            "lm_decile",
            "n_docs",
            (
                F.col("n_docs").cast("double") / F.col("_t").cast("double")
            ).alias("share"),
        )
        .orderBy("q_decile", "lm_decile")
    )


def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X221: funnel TIME-TO-CONVERT quantiles — the latency companion
    to X47's stage counts (the counts say how many users convert;
    this says how long each hop takes, which sets retargeting windows
    and the sessionizer's attribution horizon): for every user who
    reaches a stage under the funnel's strictly-after semantics (the
    SAME first-event chain events_funnel computes), the exact
    p50/p90/p99 of the hop gap. Gaps are exact epoch-microsecond
    int64 differences ×1000 (micros→nanos exact); quantiles are the
    rank definition over a distinct-gap cumulative (X26/X203/X208).
    Three co-partitioned (user) aggregates build the chain — no
    window over the fact table."""
    e = load_table(spark, sf_dir, "events")
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    base = e.select(
        "user_id", "event_type", as_timestamp(e, "ts").alias("t")
    )

    def first_after(prev, etype, out):
        cond = base.filter(F.col("event_type") == etype)
        if prev is None:
            return cond.groupBy("user_id").agg(F.min("t").alias(out))
        pcol = prev.columns[-1]
        return (
            cond.join(prev, "user_id")
            .filter(F.col("t") > F.col(pcol))
            .groupBy("user_id")
            .agg(F.min("t").alias(out))
        )

    s1 = first_after(None, "view", "t1")
    s2 = first_after(s1, "click", "t2")
    s3 = first_after(s2, "purchase", "t3")
    # NTZ→timestamp cast is a pure reinterpretation under the pinned
    # UTC session timezone (the as_epoch_nanos contract)
    ns = lambda c: (  # noqa: E731
        F.unix_micros(F.col(c).cast("timestamp")) * F.lit(1000).cast("long")
    )
    g1 = (
        s2.join(s1, "user_id")
        .select(
            F.lit("1_view_to_click").alias("transition"),
            (ns("t2") - ns("t1")).alias("gap_ns"),
        )
    )
    g2 = (
        s3.join(s2, "user_id")
        .select(
            F.lit("2_click_to_purchase").alias("transition"),
            (ns("t3") - ns("t2")).alias("gap_ns"),
        )
    )
    gaps = g1.unionByName(g2)
    n = gaps.groupBy("transition").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    w = (
        Window.partitionBy("transition")
        .orderBy("gap_ns")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dv = (
        gaps.groupBy("transition", "gap_ns")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            F.col("transition").alias("_tr"),
            "gap_ns",
            F.sum("_c").over(w).alias("cum"),
        )
    )
    q = spark.createDataFrame([(50,), (90,), (99,)], "q_pct int")
    return (
        n.crossJoin(F.broadcast(q))
        .join(
            dv,
            (F.col("_tr") == F.col("transition"))
            & (
                F.lit(100) * F.col("cum")
                >= F.col("q_pct").cast("long") * F.col("n_users")
            ),
        )
        .groupBy("transition", "q_pct", "n_users")
        .agg(
            (F.min("gap_ns").cast("double") / F.lit(1e9)).alias(
                "gap_seconds"
            )
        )
        .select("transition", "q_pct", "n_users", "gap_seconds")
        .orderBy("transition", "q_pct")
    )


#: X222 floor ladder in exact millionths: 0.1, 0.2, ... 0.9 — shared
#: verbatim by the Spark sweep and the generated oracle
FLOOR_SWEEP_PPM = tuple(100_000 * k for k in range(1, 10))


def docs_quality_floor_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X222: quality-floor SENSITIVITY sweep — the measurement that
    justifies (or indicts) the hard-coded QUALITY_FLOOR the intake
    gate (X187) and the funnels (X148/X162) enforce, the same
    measurement-behind-the-constant discipline as X204 (pHash d_max)
    and X212 (distance thresholds): for each candidate floor, how
    many documents and how much TOKEN MASS the corpus would lose. A
    flat region around the current floor means the choice is robust;
    a cliff means the constant is doing silent curation policy.

    Exactness: scores quantize ONCE (round(10⁶·s) int64 — X205) and
    the ladder lives in the SAME millionth domain (FLOOR_SWEEP_PPM),
    so every comparison is integer; shares are one division each. One
    scan + a 9-row broadcast cross join — scan-shaped."""
    scored = text.quality_score(_docs(spark, sf_dir)).select(
        F.round(F.col("quality_score") * 1e6, 0).cast("long").alias("_qq"),
        F.col("n_tokens").cast("long").alias("_nt"),
    )
    tot = scored.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_nt").cast("long").alias("_tok"),
    )
    ladder = spark.createDataFrame(
        [(p,) for p in FLOOR_SWEEP_PPM], "floor_ppm long"
    )
    return (
        scored.crossJoin(F.broadcast(ladder))
        .groupBy("floor_ppm")
        .agg(
            F.sum(
                F.when(F.col("_qq") < F.col("floor_ppm"), 1).otherwise(0)
            ).cast("long").alias("n_rejected"),
            F.sum(
                F.when(F.col("_qq") < F.col("floor_ppm"), F.col("_nt"))
                .otherwise(F.lit(0))
            ).cast("long").alias("tokens_rejected"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "floor_ppm",
            "n_rejected",
            "tokens_rejected",
            (
                F.col("n_rejected").cast("double") / F.col("_n").cast("double")
            ).alias("doc_reject_share"),
            (
                F.col("tokens_rejected").cast("double")
                / F.col("_tok").cast("double")
            ).alias("token_reject_share"),
        )
        .orderBy("floor_ppm")
    )


def warehouse_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X224: partition-layout advisor — the table a platform team
    reads BEFORE picking a hive layout (the decision X75/K2 execute
    and X93's Z-order refines): for each candidate partition key over
    the events table, the partition count, row totals, min/max
    partition sizes, and the skew ratio (max / mean) that predicts
    both small-files pain (too many tiny partitions) and hot-partition
    pain (one giant one). Exactness: all counts are integers; skew is
    max·n_partitions / n_rows — ONE double division. Three map-side-
    combined aggregates, metadata-scale output; this is precisely the
    analysis the bench's own orders-layout deviation documents (bench
    header note) — now available as a query instead of folklore."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.to_date(
            F.date_trunc("day", as_timestamp(e, "ts"))
        ).cast("string").alias("day"),
    )
    layouts = {
        "1_by_event_type": [F.col("event_type")],
        "2_by_day": [F.col("day")],
        "3_by_type_day": [F.col("event_type"), F.col("day")],
    }
    out = None
    for name, cols in layouts.items():
        key = F.concat_ws("|", *cols)
        per = base.select(key.alias("_pk")).groupBy("_pk").agg(
            F.count(F.lit(1)).cast("long").alias("_n")
        )
        agg = per.agg(
            F.lit(name).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum("_n").cast("long").alias("n_rows"),
            F.min("_n").alias("min_rows"),
            F.max("_n").alias("max_rows"),
            (
                (F.max("_n") * F.count(F.lit(1))).cast("double")
                / F.sum("_n").cast("double")
            ).alias("skew_ratio"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("layout")


def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X225: per-subspace PQ distortion audit — the compression-
    quality breakdown behind X66's per-vector recon_err (the total
    hides WHICH subspace dominates the quantization error; a lopsided
    profile is exactly the motivation for OPQ's rotation and for
    spending more centroids where the variance lives). Per subspace:
    vector count, mean and max distortion, and the share of total
    distortion — all from the SAME deterministic stride codebook and
    exact scaled-int assignment as the PQ index itself (the audit
    cannot disagree with the codes). Integer sums, one unscale
    division per output column."""
    emb = load_table(spark, sf_dir, "embeddings")
    subs, cents = similarity._pq_parts(emb, similarity.PQ_M, None, "vec_id")
    assigned = similarity._pq_assign(subs, cents, "vec_id")
    per = assigned.groupBy(F.col("sub").cast("int").alias("subspace")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("best.d2").cast("long").alias("_sum_d2q"),
        F.max("best.d2").cast("long").alias("_max_d2q"),
    )
    tot = per.agg(F.sum("_sum_d2q").cast("long").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "subspace",
            "n_vectors",
            (
                F.col("_sum_d2q").cast("double")
                / F.lit(1e8)
                / F.col("n_vectors").cast("double")
            ).alias("mean_distortion"),
            (F.col("_max_d2q").cast("double") / F.lit(1e8)).alias(
                "max_distortion"
            ),
            (
                F.col("_sum_d2q").cast("double") / F.col("_t").cast("double")
            ).alias("distortion_share"),
        )
        .orderBy("subspace")
    )


def docs_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X226: split BALANCE audit — the distributional companion to
    X146's leakage audit (leakage asks "do near-dups straddle
    splits"; this asks "does val/test still look like the corpus": a
    5% split that under-samples a language silently turns every
    per-language eval into an extrapolation). Per (split, lang): doc
    count, the language's share WITHIN the split, its share in the
    whole corpus, and the signed deviation — exact integer counts,
    two divisions, one subtraction, identical in both engines. One
    aggregate over the X80 assignment — metadata-scale."""
    asg = sampling.train_val_test_split(_docs(spark, sf_dir))
    per = asg.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    split_tot = per.groupBy("split").agg(
        F.sum("n_docs").cast("long").alias("_st")
    )
    lang_tot = per.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("_lt")
    )
    grand = per.agg(F.sum("n_docs").cast("long").alias("_g"))
    return (
        per.join(F.broadcast(split_tot), "split")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(grand))
        .select(
            "split",
            "lang",
            "n_docs",
            (
                F.col("n_docs").cast("double") / F.col("_st").cast("double")
            ).alias("split_share"),
            (
                F.col("_lt").cast("double") / F.col("_g").cast("double")
            ).alias("corpus_share"),
            (
                F.col("n_docs").cast("double") / F.col("_st").cast("double")
                - F.col("_lt").cast("double") / F.col("_g").cast("double")
            ).alias("deviation"),
        )
        .orderBy("split", "lang")
    )


def events_session_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X227: session-SHAPE profile — the distribution behind X46's
    session list (the list says how many sessions; this says what
    they look like, which is what validates the 8-hour gap the
    sessionizer hard-codes — the X204/X222 measurement-behind-the-
    constant discipline applied to sessionization): sessions bucket
    by the OCTAVE of their event count (X202's no-libm bins); per
    octave: session count, event mass, and the exact min/max session
    duration. Sessions form by the SAME lag/island arithmetic the
    X46 oracle uses (gap ≥ 8h starts a new island); durations are
    exact epoch-ns spans of actual events (not the +gap synthetic
    end). One per-user window + two aggregates."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_epoch_nanos,
    )

    e = load_table(spark, sf_dir, "events")
    base = e.select("user_id", as_epoch_nanos(e, "ts").alias("ns"))
    w = Window.partitionBy("user_id").orderBy("ns")
    gap_ns = 8 * 3600 * 1_000_000_000
    flagged = base.withColumn(
        "_new",
        F.when(
            F.lag("ns").over(w).isNull()
            | (F.col("ns") - F.lag("ns").over(w) >= F.lit(gap_ns)),
            1,
        ).otherwise(0),
    )
    sid = flagged.withColumn(
        "_sid",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = sid.groupBy("user_id", "_sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ns") - F.min("ns")).alias("_span_ns"),
    )
    octave = (F.length(F.bin(F.col("n_events"))) - 1).cast("int")
    return (
        sess.select(octave.alias("octave"), "n_events", "_span_ns")
        .groupBy("octave")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events_total"),
            (F.min("_span_ns").cast("double") / F.lit(1e9)).alias(
                "min_duration_s"
            ),
            (F.max("_span_ns").cast("double") / F.lit(1e9)).alias(
                "max_duration_s"
            ),
        )
        .orderBy("octave")
    )


def retrieval_margin_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X228: retrieval score-MARGIN profile — the confidence signal a
    production retriever thresholds on (a top hit that barely beats
    rank 2 is a coin flip; routing "answer vs ask-for-clarification"
    on the margin is the standard trick): per known-item query, the
    top-1 and top-2 BM25 scores, their margin, and whether the top
    hit IS the known item — margins near zero with top_is_self=false
    are exactly the queries X166 counts as misses that a margin
    threshold would have abstained on. Rides the one-pass batch BM25
    (X166's machinery); scores are the DECIMAL-summed doubles both
    engines share, so the subtraction is bit-identical. Queries with
    fewer than two scored docs drop (no margin exists).

    r12 optimization: reads the session-cached top-10 panel
    (:func:`_bm25_known_panel`) sliced at rank ≤ 2 — identical to a
    top_n=2 run by construction (rank is a per-query row_number over
    the same deterministic (score DESC, doc_id) order, so ranks 1-2 of
    the top-10 panel ARE the top-2 panel), and the corpus BM25 pass is
    paid once per session instead of once per retrieval-eval entry."""
    ranked = _bm25_known_panel(spark, sf_dir).filter(F.col("rank") <= 2)
    a = ranked.filter(F.col("rank") == 1).select(
        "query_id",
        F.col("doc_id").alias("_top_doc"),
        F.col("score").alias("top_score"),
    )
    b = ranked.filter(F.col("rank") == 2).select(
        "query_id", F.col("score").alias("second_score")
    )
    return (
        a.join(b, "query_id")
        .select(
            "query_id",
            "top_score",
            "second_score",
            (F.col("top_score") - F.col("second_score")).alias("margin"),
            (F.col("_top_doc") == F.col("query_id")).alias("top_is_self"),
        )
        .orderBy("query_id")
    )


def corpus_content_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X152: order-insensitive CONTENT FINGERPRINT per table — the
    "data version" a reproducibility audit pins before/after a
    pipeline run (two runs over byte-identical inputs must print the
    same line; a silent row mutation flips it). Per table: row hash =
    first-15-hex md5 of a canonical '|'-joined projection (integer
    and string columns only — float formatting is engine-dependent,
    so doubles are excluded from the canonical form BY CONTRACT, and
    the projection is documented per table). The canonical form is
    COLLISION-PROOF per field (r10 ADVICE — plain concat_ws skips
    NULLs and cannot distinguish a '|' inside a value from the field
    separator): NULL encodes as the bare token 'N' and every non-NULL
    value is length-prefixed ('<len>:<value>'), so the prefix
    disambiguates embedded separators and 'N' the value ('1:N') never
    collides with N the sentinel. Fingerprint = the
    decimal(38) SUM of the row hashes reduced mod the largest 63-bit
    prime (the sum is commutative, so the result is partitioning- and
    order-independent; the wide accumulator + one modular reduction
    avoids int64 overflow at any corpus size). One map-side scan +
    one 1-row aggregate per table."""
    MOD = 9223372036854775783  # largest prime < 2^63

    def tok(c: str):
        s = F.col(c).cast("string")
        return F.when(s.isNull(), F.lit("N")).otherwise(
            F.concat(F.length(s).cast("string"), F.lit(":"), s)
        )

    def fp(df: DataFrame, table: str, cols: list[str]) -> DataFrame:
        canon = F.concat_ws("|", *[tok(c) for c in cols])
        h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
        return df.agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.pmod(F.sum(h.cast("decimal(38,0)")), F.lit(MOD))
            .cast("long")
            .alias("content_hash"),
        )

    docs = _docs(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        fp(docs, "documents", ["doc_id", "lang", "source", "text"])
        .unionByName(
            fp(
                orders,
                "orders",
                ["o_orderkey", "o_custkey", "o_orderstatus"],
            )
        )
        .unionByName(
            fp(
                cust,
                "customer",
                ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
            )
        )
        .orderBy("table_name")
    )


def docs_sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X153: exactly-k WEIGHTED sample without replacement — X60's
    quality-weighted sampler is rate-based (hits k only in
    expectation); eval-set construction wants an exact size with
    longer documents proportionally favored. Deterministic
    integer-arithmetic priority sampling: key = md5-int64(doc_id)
    DIV weight (weight = n_chars ≥ 1), keep the k smallest keys — a
    documented stand-in for Efraimidis-Spirakis (whose u^(1/w) keys
    need libm pow, not IEEE-correctly-rounded, so cross-engine
    bit-equality could flake); the integer key is monotone in weight
    in distribution (bigger weight → smaller key) and exactly
    reproducible anywhere. Compiles to TakeOrderedAndProject — no
    global sort."""
    docs = _docs(spark, sf_dir)
    w = F.greatest(F.col("n_chars").cast("long"), F.lit(1))
    key = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.expr(
                "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT) DIV"
                " GREATEST(CAST(n_chars AS BIGINT), 1)"
            ).alias("priority_key"),
        )
        .orderBy(F.col("priority_key").asc(), F.col("doc_id").asc())
        .limit(100)
    )




def events_user_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154: per-ENTITY anomaly detection — the monitoring family's
    third axis (X133 flags corpus-level anomalous days, X138 flags
    corpus-level change points; a compromised account or runaway
    client is invisible to both because it hides inside the
    aggregate): each user's daily event count is compared against
    that user's OWN leak-free expanding baseline (all strictly-prior
    days), and a day flags when count > 2× the trailing mean with at
    least 7 days of history (the multiplier is the detector's
    sensitivity knob — 2× flags the heavy-tail days on this traffic;
    production tunes it per key class). The comparison is exact
    integer cross-multiplication (n·prior_days > 2·prior_total — no
    division decides a flag); the reported ratio is one double
    division.

    Scale shape: one map-side (user, day) aggregate, then expanding
    windows PARTITIONED BY USER — at 100 TB this is the shape that
    parallelizes (millions of small per-user frames), unlike the
    day-table detectors whose windows are metadata-scale by design."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id",
        as_timestamp(events, "ts").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return user_anomaly_scores(daily)


def user_anomaly_scores(daily: DataFrame) -> DataFrame:
    """The per-user expanding-baseline scoring core behind X154 —
    factored out (the cusum_scores pattern) so the batch query and
    the streaming gate score through ONE code path: input
    (user_id, day, n), output the flagged rows."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = daily.select(
        "user_id",
        "day",
        F.col("n").alias("n_events"),
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias(
            "prior_days"
        ),
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias(
            "prior_total"
        ),
    )
    return (
        scored.filter(
            (F.col("prior_days") >= 7)
            & (
                F.col("n_events") * F.col("prior_days")
                > 2 * F.col("prior_total")
            )
        )
        .select(
            "user_id",
            "day",
            "n_events",
            "prior_days",
            "prior_total",
            (
                F.col("n_events").cast("double")
                * F.col("prior_days").cast("double")
                / F.col("prior_total").cast("double")
            ).alias("ratio"),
        )
        .orderBy("user_id", "day")
    )


def _funnel_stage_ids(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, DataFrame]]:
    """The X148 curation-chain survivor id-frames, factored so the
    corpus-level funnel (X148) and the per-source funnel (X162) walk
    LITERALLY the same stages: exact keep-first → near-dup canonical
    → quality floor → decontaminated. Inputs ride the session caches
    (component labels, MinHash pairs)."""
    docs = _docs(spark, sf_dir)
    exact = dedup.dedup_keep_first(docs).select("doc_id")
    comp = _lsh_component_labels(spark, sf_dir)
    canon = comp.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    qual = (
        text.quality_score(docs)
        .filter(F.col("quality_score") >= QUALITY_FLOOR)
        .select("doc_id")
    )
    qf = canon.join(qual, "doc_id")
    contam = dedup.contamination_report(
        docs, docs.filter(F.col("doc_id") < 25), n=5, min_overlap=1
    ).select("doc_id")
    dec = qf.join(contam, "doc_id", "left_anti")
    sem = dec.join(_semantic_flagged(spark, sf_dir), "doc_id", "left_anti")
    return [
        ("2_exact_dedup", exact),
        ("3_near_dedup", canon),
        ("4_quality_floor", qf),
        ("5_decontaminated", dec),
        ("6_semantic_decontaminated", sem),
    ]


def _curation_funnel(
    spark: SparkSession, sf_dir: str, keys: tuple[str, ...] = ()
) -> DataFrame:
    """The curation funnel per ``keys`` group (none: one corpus-level
    funnel): (*keys, stage, n_docs, n_tokens, pct_docs) for every
    :func:`_funnel_stage_ids` stage, so the corpus-level and keyed
    reports walk LITERALLY the same stages and cannot disagree. pct
    is of the group's OWN raw count. With keys, a (group × stage)
    grid left-join keeps the zero row of a group that loses
    EVERYTHING at a stage."""
    keys = list(keys)
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", *keys, F.size(text.tokens_col()).cast("long").alias("ntok")
    )
    # pre-strip stages count the AS-CRAWLED template pages (the lined
    # corpus); 2b strips boilerplate (cleaned == prose tokens), and
    # every later stage counts prose — the r11 ask #5 funnel stage,
    # monotone by construction (cleaned <= lined; later ids subset)
    ltok = _lined_tok(spark, sf_dir).select("doc_id", *keys, "ntok")
    ctok = _clean_tok(spark, sf_dir).select("doc_id", *keys, "ntok")

    def stage(name: str, ids: DataFrame | None, base_tok: DataFrame):
        base = base_tok if ids is None else base_tok.join(ids, "doc_id")
        agg = base.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("ntok"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        if keys:
            universe = docs.select(*keys).distinct()
            agg = universe.join(agg, keys, "left").select(
                *keys,
                F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
                F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            )
        return agg.select(*keys, F.lit(name).alias("stage"), "n_docs", "n_tokens")

    ids_by_stage = _funnel_stage_ids(spark, sf_dir)
    exact_ids = ids_by_stage[0][1]
    stages = stage("1_raw", None, ltok)
    stages = stages.unionByName(stage("2_exact_dedup", exact_ids, ltok))
    stages = stages.unionByName(stage("2b_line_dedup", exact_ids, ctok))
    for name, ids in ids_by_stage[1:]:
        stages = stages.unionByName(stage(name, ids, tok))
    raw = tok.groupBy(*keys).agg(F.count(F.lit(1)).alias("_raw_n"))
    return (
        # no keys: raw is one row, joined to every stage unconditionally
        stages.join(F.broadcast(raw), keys or None)
        .select(
            *keys,
            "stage",
            "n_docs",
            "n_tokens",
            (
                F.col("n_docs").cast("double")
                / F.col("_raw_n").cast("double")
            ).alias("pct_docs"),
        )
        .orderBy(*keys, "stage")
    )


def corpus_funnel_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X162: the X148 curation funnel KEYED BY SOURCE (r10 VERDICT ask
    #8) — the table that decides FEED drops: X131's contamination
    matrix says which source leaks benchmark text, this says which
    source's documents actually survive the chain (a feed whose
    survival collapses at the near-dup or quality stage is a
    candidate for removal at the intake, the cheapest place). A
    source that loses everything at a stage still shows its zero row
    (the row a feed review is looking for). Per-source monotonicity
    pinned in pytest."""
    return _curation_funnel(spark, sf_dir, ("source",))


def corpus_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X148: the corpus CURATION FUNNEL — the one-table health report
    an owner reads after every pipeline run: how many documents (and
    word tokens) survive each stage of the standard chain — raw →
    exact dedup (keep-first) → near-dup canonical (one survivor per
    MinHash-LSH component) → quality floor → decontamination — with
    each stage's share of raw. Stage monotonicity is structural:
    canonical survivors ARE exact keep-first survivors (the component
    min has the smallest id among all its exact copies), and every
    later stage filters the previous one. All inputs ride session
    caches (component labels, MinHash pairs); each stage adds one
    semi/anti join and the whole report is five metadata-scale
    aggregates stacked."""
    return _curation_funnel(spark, sf_dir)


#: quality floor for the composed curation pipeline (score is a sum of
#: exact IEEE terms — identical cross-engine, so >= agrees on boundaries)
QUALITY_FLOOR = 0.82


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation chain as ONE declarative plan:
    exact dedup (keep-first) → quality floor → stratified language
    sampling → token-budget shard packing. Composition of the public
    operators — Catalyst plans the chain end-to-end (dedup window,
    quality map, sample filter, packing prefix-sum), which is exactly
    how a 100 TB curation job should be expressed: no materialization
    between stages unless the planner decides to."""
    docs = _docs(spark, sf_dir)
    deduped = dedup.dedup_keep_first(docs)
    keep = (
        text.quality_score(deduped)
        .filter(F.col("quality_score") >= QUALITY_FLOOR)
        .select("doc_id")
    )
    sampled = sampling.stratified_sample(
        deduped.join(keep, "doc_id"), rates=SAMPLE_RATES
    )
    # Precompute the packing block from the RAW doc count (a cheap
    # parquet-metadata count on the un-spread scan) instead of letting
    # pack_sequences count(sampled) — that would materialize the whole
    # dedup→quality→sample chain a second time (measured: the r3 bench
    # ran curation_pipeline 3.3× slower than r2 for exactly this
    # reason). Packing results are block-size independent
    # (property-tested), and √(pre-filter n) ≥ √(post-filter n) only
    # fattens the blocks.
    raw_n = load_table(spark, sf_dir, "documents").count()
    block = max(packing.MIN_BLOCK, math.isqrt(raw_n) + 1)
    return packing.pack_sequences(sampled, block=block)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def dedup_exact_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup across a simulated re-crawl (every doc ingested twice
    with a new id) — each group collapses to the original id."""
    docs = _docs(spark, sf_dir)
    recrawl = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return dedup.exact_dedup(docs.unionByName(recrawl))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=2, threshold=0.2)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir)


#: corpus/delta split predicate for the incremental-dedup query — the
#: 30% "new crawl batch" tail of the doc_id space (the smallest split
#: whose output exercises all three verdicts at every test SF); shared
#: verbatim with the oracle SQL so both engines split identically.
_DELTA_PCT = 7  # doc_id % 10 >= 7 → delta


def dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental delta-vs-corpus dedup (operators/dedup.
    incremental_dedup_delta): the 30% doc_id tail plays the new crawl
    batch, the other 70% the already-indexed corpus. The corpus is
    probed through its band index — never self-joined, never
    re-scanned per batch — which is the only dedup access pattern that
    survives a corpus 1000× the batch size. Signatures ride the
    session-shared :func:`_minhash_sigs` frame (the split is a per-doc
    filter, so filtering the shared frame is exact)."""
    sigs = _minhash_sigs(spark, sf_dir)
    is_delta = F.col("doc_id") % 10 >= _DELTA_PCT
    return dedup.incremental_dedup_delta(
        corpus_sigs=sigs.filter(~is_delta),
        delta_sigs=sigs.filter(is_delta),
        num_perm=32,
        bands=4,
        threshold=0.5,
    )


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        _docs(spark, sf_dir), max_hamming=3,
        fingerprints=_simhash_fps(spark, sf_dir),
    )


def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_fps(spark, sf_dir)


def dedup_substring_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_hotspots(_docs(spark, sf_dir), n=8, min_docs=2)


def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117: exact-substring dedup at span granularity (r8 VERDICT
    stretch ask — Lee et al. ACL'22 ExactSubstr): the maximal per-doc
    spans whose every 8-token window is shared verbatim with another
    document, over the corpus PLUS engineered partial-overlap splices
    (dedup.spliced_docs — corpus duplicates are whole-doc recrawls,
    so span boundaries need the fixture). Bounded design: positional
    shingle explode + distinct-docs-per-gram + semi-join + per-doc
    islands merge — never a suffix array, never a global sort. See
    dedup.duplicated_spans. Rides the :func:`_dup_spans` session
    cache (shared with the X118 removal apply — r12 optimization:
    both entries paid the full positional-shingle pass)."""
    return _dup_spans(spark, sf_dir)


def _dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X117 span report over the spliced fixture, computed (and
    localCheckpoint-materialized) at most once per (session, sf_dir):
    X117 emits it and X118's removal apply consumes it, so a session
    pays the positional-shingle explode + islands merge once instead
    of twice. Values unchanged (the _session_cached contract)."""
    return _session_cached(
        spark,
        ("dup_spans", sf_dir),
        lambda: materialize(
            dedup.duplicated_spans(
                dedup.spliced_docs(_docs(spark, sf_dir)), n=8, min_docs=2
            )
        ),
    )


def dedup_remove_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X118: the exact-substring REMOVAL apply — X117 reports the
    duplicated spans; this cuts them and re-emits each document from
    its surviving tokens (Lee et al. ACL'22: the dedup that happens
    TO the corpus, the family's X45/X114 analog at sub-document
    granularity). Same fixture, same 8-token windows. Output:
    (doc_id, n_tokens, n_removed, clean_text) with clean_text the
    tokenized-normalized survivor text. See
    dedup.remove_duplicated_spans. Applies the session-cached X117
    span report (:func:`_dup_spans`) instead of recomputing it."""
    return dedup.remove_duplicated_spans(
        dedup.spliced_docs(_docs(spark, sf_dir)),
        n=8,
        min_docs=2,
        spans=_dup_spans(spark, sf_dir),
    )


def dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal near-dup report: the union of text-signal pairs
    (MinHash-LSH) and embedding-signal pairs (multi-table sign-LSH),
    full-outer merged on the pair key so each surviving pair carries
    whichever scores flagged it plus a signal count — the input a
    production dedup reviewer thresholds on. Signals are computed by
    the standalone operators; this is pure composition (one extra
    hash shuffle on the short pair key)."""
    t = _minhash_pairs(spark, sf_dir)
    e = similarity.near_dup_lsh_multi(_embs(spark, sf_dir), d2_max=1.2).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"), "dist2"
    )
    j = t.join(e, ["doc_a", "doc_b"], "full_outer")
    return j.select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "dist2",
        (
            F.col("est_jaccard").isNotNull().cast("int")
            + F.col("dist2").isNotNull().cast("int")
        )
        .cast("long")
        .alias("n_signals"),
    )


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination against a synthetic benchmark (docs 0-24 stand
    in for the leaked eval set — so those flag with full self-overlap,
    plus any corpus near-duplicates of them)."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") < 25)
    return dedup.contamination_report(docs, benchmark, n=5, min_overlap=1)


def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92: the MinHash-LSH QUALITY audit — precision/recall of the
    production near-dup path against EXACT shingle-Jaccard ground
    truth, the dedup analogue of :func:`ann_recall_audit`: an
    approximate dedup deployed at 100 TB without a measured
    false-positive/false-negative rate is an unquantified data-loss
    claim.

    Ground truth: the exact distributed set-similarity join
    (dedup.ngram_jaccard_pairs) over the IDENTICAL hashed 3-word
    shingle sets MinHash sketches (same 28-bit md5 shingle hash —
    dedup.hashed_ngrams vs minhash_signatures), at the same τ=0.5.
    Two audited stages, sharing the session-cached signature frame
    with the production queries so the audit measures what ships:

    - ``candidates``: band-collision pairs (dedup.
      minhash_candidate_pairs — the same helper minhash_lsh_pairs
      calls). Recall here isolates BANDING misses (the 1-(1-j^r)^b
      curve); precision is expected-low (that is what the estimate
      filter is for).
    - ``emitted``: the registered dedup_minhash_lsh output
      (est_jaccard ≥ τ). Recall drops vs candidates only through
      ESTIMATOR noise (32-perm variance); precision is what a
      reviewer deleting documents actually experiences.

    Exactness: all three pair sets are deterministic; the counts are
    exact integers and precision/recall is one double division
    written identically in the oracle. Scale shape: truth rides the
    prefix-filter/count-join ssjoin (never all-pairs), the stage
    joins are ≤pair-sized equi-joins; at corpus scale a production
    audit would run this on a fixed document sample — the shape is
    unchanged, only the input filter."""
    cand = _minhash_cands(spark, sf_dir)
    emitted = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _scored_against_truth(
        spark,
        sf_dir,
        "stage",
        [("candidates", cand), ("emitted", emitted)],
        "pair_recall",
    )


def dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95: cross-signal agreement report — every near-dup SIGNAL the
    ensemble consumes (MinHash-LSH text pairs, SimHash hamming≤3
    pairs, multi-table embedding near-dup pairs) scored against the
    ONE exact shingle-Jaccard ≥ 0.5 ground truth. dedup_ensemble
    merges the signals and counts them per pair, but emits no quality
    stats; a reviewer thresholding n_signals needs exactly this
    table: how precise each signal is alone and how much of the
    text-duplicate truth it sees. (For SimHash and embeddings the
    recall column is agreement with the JACCARD notion of duplicate,
    labeled as such — SimHash approximates shingle-set cosine and
    embeddings a vector metric, so a sub-1.0 number is signal
    divergence, not a defect; that divergence IS the ensemble's
    reason to exist.)

    Every component frame is session-shared (signature/candidate/
    fingerprint caches, the localCheckpointed truth), so the report's
    marginal cost in a gate/bench session is three pair-sized joins.
    Same exactness contract as the X92 audit: counts are exact
    integers, precision/recall one double division, oracle splices
    the signals' own registered SQL against the shared truth
    fragment."""
    signals = {
        "minhash": _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        "simhash": dedup.simhash_near_pairs(
            None, max_hamming=3, fingerprints=_simhash_fps(spark, sf_dir)
        ).select("doc_a", "doc_b"),
        "embedding": similarity.near_dup_lsh_multi(
            _embs(spark, sf_dir), d2_max=1.2
        ).select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        ),
    }
    return _scored_against_truth(
        spark, sf_dir, "signal", sorted(signals.items()), "jaccard_agreement"
    )


def _jaccard_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): the EXACT shingle-Jaccard ≥ 0.5 pairs over
    hashed 3-word shingles (dedup.ngram_jaccard_pairs), the ground
    truth of the dedup audits — localCheckpointed at most once per
    (session, sf_dir)."""
    return _session_cached(
        spark,
        ("jaccard_truth", sf_dir, 3, 0.5),
        lambda: dedup.ngram_jaccard_pairs(
            _docs(spark, sf_dir), n=3, threshold=0.5
        ).select("doc_a", "doc_b").transform(materialize),
    )


def _scored_against_truth(
    spark: SparkSession,
    sf_dir: str,
    label: str,
    named_pairs: list[tuple[str, DataFrame]],
    recall: str,
) -> DataFrame:
    """One row per named (doc_a, doc_b) pair set, in ``label`` order:
    (label, n_pairs, n_truth, n_hits, pair_precision, ``recall``)
    against :func:`_jaccard_truth`. Counts are exact integers;
    precision and recall are one double division each, NULL over an
    empty denominator."""
    truth = _jaccard_truth(spark, sf_dir)
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    out = None
    for name, pairs in named_pairs:
        n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
        n_hits = pairs.join(truth, ["doc_a", "doc_b"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        row = (
            n_pairs.crossJoin(F.broadcast(n_hits))
            .crossJoin(F.broadcast(n_truth))
            .select(F.lit(name).alias(label), "n_pairs", "n_truth", "n_hits")
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        label,
        "n_pairs",
        "n_truth",
        "n_hits",
        F.when(
            F.col("n_pairs") > 0,
            F.col("n_hits").cast("double") / F.col("n_pairs"),
        ).alias("pair_precision"),
        F.when(
            F.col("n_truth") > 0,
            F.col("n_hits").cast("double") / F.col("n_truth"),
        ).alias(recall),
    ).orderBy(label)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization: rides the shared _audit_topk_panels session
    # cache (same call, same n_queries/k) instead of re-running the
    # search the audits also need; values are identical by the
    # _session_cached contract.
    return _audit_topk_panel(spark, sf_dir, False, "brute")


def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization: shared _audit_topk_panels cache (see ann_topk_brute).
    return _audit_topk_panel(spark, sf_dir, False, "lsh")


def ann_topk_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH top-k (similarity.topk_lsh_multi): the
    recall repair the audit motivated — single-bucket topk_lsh
    measured recall@5 = 0.02 on this corpus (BENCH_NOTES r6), and
    stacking the same 3 bucketings the near-dup path uses buys the
    geometric miss-probability decay at the cost of ≤3× candidate
    rows."""
    return _audit_topk_panel(spark, sf_dir, False, "lsh_multi")


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 optimization: shared _audit_topk_panels cache (see ann_topk_brute).
    return _audit_topk_panel(spark, sf_dir, False, "ivf")


def emb_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87: cross-lingual bitext mining (the CCMatrix/LASER recipe's
    candidate step): embedding near-duplicate pairs whose documents
    are in DIFFERENT languages — translation-pair candidates for
    parallel-corpus construction. Candidates come from the multi-table
    sign-LSH path (same recall closure as emb_near_dup_lsh_multi),
    the exact scaled-int distance filter verifies, and the language
    join + inequality keeps only cross-lingual pairs. The lang joins
    hit the docs dim by id — AQE broadcasts at runtime; no hint
    (documents scale)."""
    pairs = similarity.near_dup_lsh_multi(_embs(spark, sf_dir), d2_max=1.2)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    la = docs.select(F.col("doc_id").alias("vec_a"),
                     F.col("lang").alias("lang_a"))
    lb = docs.select(F.col("doc_id").alias("vec_b"),
                     F.col("lang").alias("lang_b"))
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("vec_a", "vec_b", "lang_a", "lang_b", "dist2")
        .orderBy("vec_a", "vec_b")
    )


def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78: one exact Lloyd iteration (assignment + per-cluster size
    and centroid drift) — see similarity.kmeans_step."""
    return similarity.kmeans_step(_embs(spark, sf_dir))


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96: semantic dedup, SemDeDup-shape (public arXiv 2303.09540) —
    k-means cells bound the candidate space (never all-pairs),
    within-cell exact scaled-int distances connect dup groups,
    keep-one-per-group by min vec_id. One row per vector:
    (vec_id, cell, component, keep). See similarity.semantic_dedup."""
    return similarity.semantic_dedup(_embs(spark, sf_dir))


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes + reconstruction error over the
    embeddings table (similarity.pq_encode)."""
    return similarity.pq_encode(_embs(spark, sf_dir))


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k: corpus represented only by its PQ
    codes, queries by per-subspace distance tables
    (similarity.topk_pq)."""
    return _audit_topk_panel(spark, sf_dir, False, "pq")


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed search with exact re-rank (r7 VERDICT ask #1 —
    the last 100 TB design gap): ann_topk_pq ADC-scans EVERY corpus
    code per query; here the ADC join is keyed on the coarse IVF cell
    so per-query work is (n/K)·nprobe·m lookups, then the top-20 ADC
    shortlist is re-ranked by exact scaled-int dot product
    (similarity.topk_ivfpq; IVFADC+R, Jégou et al. 2011). Recall on
    the clustered fixture sits between flat PQ and IVF-flat —
    measured in BENCH_NOTES r8."""
    return _audit_topk_panel(spark, sf_dir, False, "ivfpq")


def _ivfpqt_quantizers(
    spark: SparkSession, sf_dir: str, clustered: bool
) -> tuple[DataFrame, DataFrame]:
    """The trained (coarse centroids, residual codebooks) pair for
    the given fixture, trained at most once per (session, sf_dir,
    fixture) — shared by ann_topk_ivfpq_trained and the ivfpq_t
    method row of BOTH recall audits, so a gate/bench session pays
    the 2·KM_TRAIN_ROUNDS Lloyd rounds once per fixture instead of
    once per consumer (measured +7-8 s per audit without this).
    Training already materializes eagerly per round, so the cached
    frames are checkpoint-backed K-row dims.

    r10 (VERDICT ask #3): the shipped training path is SAMPLE-BOUNDED
    — Lloyd rounds over the TRAIN_SAMPLE_N md5 hash-rank sample with
    K pinned at TRAIN_K, the FAISS-standard fix for the measured
    n^1.5 full-corpus training cost (98 s at 32k vectors r9 → flat
    ~4.5 s sampled, recall within noise both fixtures/SFs —
    BENCH_NOTES r10, "X113 sample-bounded quantizer training")."""
    def embs() -> DataFrame:
        e = _embs(spark, sf_dir)
        return similarity.clustered_embeddings(e) if clustered else e

    # ONE corpus scan for the whole training session: the md5
    # hash-rank TRAIN_SAMPLE_N sample is checkpointed once and handed
    # to BOTH trainers as their input — train_sample is idempotent on
    # its own output (same deterministic (md5, id) total order, so
    # top-512 of the 512 = itself and the K seeds = the same top-K
    # prefix), which turns the previous 4 corpus scans+sorts (coarse
    # train, coarse seeds, books train, books seeds) into 512-row
    # re-sorts. Values bit-identical; only the scan count changed.
    sample = _session_cached(
        spark,
        ("ivfpqt_sample", sf_dir, clustered),
        lambda: materialize(similarity.train_sample(embs()), eager=True),
    )
    coarse = _session_cached(
        spark,
        ("ivfpqt_coarse", sf_dir, clustered),
        lambda: similarity.train_coarse_centroids(
            sample,
            sample_n=similarity.TRAIN_SAMPLE_N,
            k_seeds=similarity.TRAIN_K,
        ),
    )
    books = _session_cached(
        spark,
        ("ivfpqt_books", sf_dir, clustered),
        lambda: similarity.train_residual_books(
            sample,
            coarse,
            sample_n=similarity.TRAIN_SAMPLE_N,
            k_seeds=similarity.TRAIN_K,
        ),
    )
    return coarse, books




def ann_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156: IVF index-HEALTH report — per-coarse-cell inventory
    sizes under the shipped trained quantizer, each cell's corpus
    share. Cell balance IS the IVF performance contract: the
    (n/K)·nprobe per-query bound assumes roughly even cells, so a
    hot cell silently degrades every query that probes it — this is
    the table an index operator looks at before retraining with more
    rounds or a bigger sample. Rides the :func:`_ivfpqt_quantizers`
    session cache (no retraining); one broadcast assignment pass +
    one aggregate. Oracle = the trained-search oracle's own training
    + assignment prefix (one generator, two finals — the arithmetic
    cannot diverge from what the search actually uses)."""
    coarse, _books = _ivfpqt_quantizers(spark, sf_dir, clustered=False)
    embs = _embs(spark, sf_dir)
    base = embs.select(F.col("vec_id"), similarity.quantized().alias("v"))
    assign = similarity._kmeans_assign(
        base, coarse.select("cell", "cv"), "vec_id"
    )
    tot = assign.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vectors",
            (
                F.col("n_vectors").cast("double")
                / F.col("n").cast("double")
            ).alias("share"),
        )
        .orderBy("cell")
    )


def ann_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X182: IVF centroid-DRIFT monitor — the retrain trigger next to
    X156's balance report (balance says the index is lopsided TODAY;
    drift says the ARRIVING data no longer looks like what the
    quantizer was trained on — the signal that schedules retraining
    before recall quietly decays): base inventory (vec_id % 10 < 7)
    vs delta arrivals (≥ 7, the X115 split) assigned under the SAME
    shipped trained quantizer, per-cell shares compared, and the
    X70-style EXACT total-variation distance between the two cell
    distributions (integer cross-products |n_b·N_d − n_d·N_b|, one
    double division) carried on every row as the one-number verdict.
    Rides the :func:`_ivfpqt_quantizers` session cache — no
    retraining; one broadcast assignment pass + metadata-scale
    aggregates."""
    coarse, _books = _ivfpqt_quantizers(spark, sf_dir, clustered=False)
    embs = _embs(spark, sf_dir)
    base = embs.select(F.col("vec_id"), similarity.quantized().alias("v"))
    assign = similarity._kmeans_assign(
        base, coarse.select("cell", "cv"), "vec_id"
    )
    sl = assign.select(
        "cell",
        (F.col("vec_id") % 10 >= 7).cast("int").alias("is_delta"),
    )
    per = sl.groupBy("cell").agg(
        F.sum(1 - F.col("is_delta")).cast("long").alias("n_base"),
        F.sum("is_delta").cast("long").alias("n_delta"),
    )
    tot = per.agg(
        F.sum("n_base").cast("long").alias("nb"),
        F.sum("n_delta").cast("long").alias("nd"),
    )
    j = per.crossJoin(F.broadcast(tot))
    tvd_row = j.agg(
        F.sum(
            F.abs(
                F.col("n_base") * F.col("nd")
                - F.col("n_delta") * F.col("nb")
            )
        ).alias("_s"),
        F.max("nb").alias("_nb"),
        F.max("nd").alias("_nd"),
    ).select(
        (
            F.col("_s").cast("double")
            / (
                F.lit(2.0)
                * F.col("_nb").cast("double")
                * F.col("_nd").cast("double")
            )
        ).alias("drift_tvd")
    )
    return (
        j.crossJoin(F.broadcast(tvd_row))
        .select(
            "cell",
            "n_base",
            "n_delta",
            (
                F.col("n_base").cast("double") / F.col("nb").cast("double")
            ).alias("base_share"),
            (
                F.col("n_delta").cast("double") / F.col("nd").cast("double")
            ).alias("delta_share"),
            "drift_tvd",
        )
        .orderBy("cell")
    )


def ann_topk_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X113: IVF-PQ over k-means-TRAINED quantizers (r8 VERDICT ask
    #1, the recall capstone): identical cell-restricted ADC + exact
    re-rank plan as ann_topk_ivfpq, but the coarse centroids and the
    per-subspace PQ codebooks are KM_TRAIN_ROUNDS exact Lloyd mean-
    updates of the stride seed — the train step every deployed
    IVF-PQ index runs before add() — instead of raw stride-sampled
    corpus vectors, which r8 measured as the recall bottleneck.
    Bounded-round contract like PageRank/BPE: the oracle replays the
    training as unrolled CTEs (similarity.topk_ivfpq_trained).
    Clustered-fixture recall measured in BENCH_NOTES r9. Quantizers
    ride the :func:`_ivfpqt_quantizers` session cache shared with
    both recall audits. refine=IVFPQT_REFINE (50): the r9 sweep
    showed trained recall is shortlist-bound at nprobe=3 — 0.66 at
    refine 20 vs 0.92 at 50, ABOVE ivf-flat's 0.84 — and 50 exact
    fetches per query is still panel-sized."""
    return _audit_topk_panel(spark, sf_dir, False, "ivfpq_t")


#: X190 filtered-search label predicate ("top-k within lang=X"):
#: labels 0-2 of the 10-label domain, ~30% of the inventory —
#: selective enough that post-filtering visibly loses neighbors,
#: broad enough that the filtered truth stays k-deep per query.
ALLOWED_LABELS = (0, 1, 2)


def _allowed_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The allowed-inventory id frame for the X190 filtered-ANN pair
    (vec_id where label IN ALLOWED_LABELS) — in production this is
    the tenant/language/license predicate's id set or a broadcastable
    dimension; here the embeddings table's own label column."""
    return (
        _embs(spark, sf_dir)
        .filter(F.col("label").isin(*ALLOWED_LABELS))
        .select("vec_id")
    )


def ann_topk_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X190: attribute-constrained (FILTERED) ANN top-k — production
    vector search is always filtered ("top-k within lang=X /
    license=Y"; r11 VERDICT ask #6), and the IVF family scanned
    cells blind to attributes: this entry runs the X113 trained
    residual IVFADC with the label predicate pushed BELOW the
    cell-keyed ADC join (similarity.topk_ivfpq_trained(allowed=...):
    the coarse inventory filters right after assignment, so codes,
    ADC lookups, and the refine shortlist all scale with the ~30%
    allowed inventory — per-query work (n_allowed/K)·nprobe·m).
    Plan-pinned in tests/test_plans.py: the allowed-id join sits
    under the shortlist window, not above the final top-k.
    Quantizers ride the shared :func:`_ivfpqt_quantizers` session
    cache — the index is trained once UNFILTERED (filters are
    per-query, the index is forever). Oracle: the X113 generated
    training chain with the inventory filter applied to the code
    table (filtering before or after encoding is value-identical —
    codes are per-vector)."""
    coarse, books = _ivfpqt_quantizers(spark, sf_dir, clustered=False)
    return similarity.topk_ivfpq_trained(
        _embs(spark, sf_dir), n_queries=10, k=5,
        refine=IVFPQT_REFINE, coarse_cents=coarse, books=books,
        allowed=_allowed_ids(spark, sf_dir),
    )


def ann_filtered_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X191: PRE-filter vs POST-filter comparison for constrained ANN
    (the committed measurement r11 ask #6 demands): both strategies
    score against the exact FILTERED truth (brute top-5 over the
    allowed inventory only).

    - ``prefilter``: X190's pushed-down form — the ADC search runs
      over the allowed inventory, returns a full k per query.
    - ``postfilter``: the naive form — the UNFILTERED top-k (X113's
      exact output), then drop disallowed rows; every allowed true
      neighbor that a disallowed vector displaced from the top-k is
      lost, and the per-query result often comes back SHORTER than k
      (n_returned < n_truth is the visible symptom).

    Measured at sf0.01: prefilter recall 0.46 (a full 50 rows
    returned) vs postfilter 0.30 with only 15 of 50 rows surviving
    the filter, at ~30% selectivity (numbers re-derived every gate
    run — they ARE the oracle-checked output). Exactness: integer intersection
    counts, one final division, same protocol as X88."""
    coarse, books = _ivfpqt_quantizers(spark, sf_dir, clustered=False)
    embs = _embs(spark, sf_dir)
    allowed = _allowed_ids(spark, sf_dir)
    nq, k = 10, 5
    truth = materialize(
        similarity.topk_brute(embs, n_queries=nq, k=k, allowed=allowed)
        .select("query_id", "neighbor_id")
    )
    pre = similarity.topk_ivfpq_trained(
        embs, n_queries=nq, k=k, refine=IVFPQT_REFINE,
        coarse_cents=coarse, books=books, allowed=allowed,
    ).select("query_id", "neighbor_id")
    post = (
        similarity.topk_ivfpq_trained(
            embs, n_queries=nq, k=k, refine=IVFPQT_REFINE,
            coarse_cents=coarse, books=books,
        )
        .join(allowed.select(F.col("vec_id").alias("neighbor_id")),
              "neighbor_id")
        .select("query_id", "neighbor_id")
    )
    out = None
    for name, panel in (("prefilter", pre), ("postfilter", post)):
        row = (
            panel.join(F.broadcast(truth), ["query_id", "neighbor_id"],
                       "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .crossJoin(
                F.broadcast(
                    panel.agg(F.count(F.lit(1)).alias("n_returned"))
                )
            )
            .select(
                F.lit(name).alias("method"),
                F.col("n_returned").cast("long").alias("n_returned"),
                F.col("n_hits").cast("long").alias("n_hits"),
                F.lit(nq * k).cast("long").alias("n_truth"),
                (
                    F.col("n_hits").cast("double") / F.lit(float(nq * k))
                ).alias("recall_at_k"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("method")


def ann_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109: Matryoshka-style dimension-truncation recall audit
    (arXiv 2205.13147 evaluation): exact top-k over the first
    d ∈ {8,16,32,64} quantized components scored against the full-64
    truth, on the clustered fixture (the geometry where prefix
    capacity is measurable — raw-corpus numbers sit near the random
    floor). The d=64 row is recall 1.0 by construction. Measured at
    sf0.01: 0.12 / 0.32 / 0.38 / 1.0. See
    similarity.truncation_recall_audit.

    The full-dim truth panel rides the session frame cache (r8
    ADVICE): repeated invocations in one session (gate + bench) pin
    ONE materialized checkpoint instead of one per call."""
    embs = similarity.clustered_embeddings(_embs(spark, sf_dir))
    truth = _session_cached(
        spark,
        ("trunc_truth", sf_dir, 10, 5),
        lambda: materialize(
            similarity.topk_brute(embs, n_queries=10, k=5)
            .select("query_id", "neighbor_id")
        ),
    )
    return similarity.truncation_recall_audit(embs, truth=truth)


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X111: hard-negative mining for contrastive training (the DPR
    recipe): per panel query, the top-5 most similar CLUSTERED-fixture
    vectors from a DIFFERENT cluster (label = vec_id mod 8 — the
    fixture's ground-truth class), exact scaled-int scoring. The
    negatives that matter are precisely the near-but-wrong ones.
    See similarity.hard_negatives."""
    embs = similarity.clustered_embeddings(_embs(spark, sf_dir))
    labels = embs.select(
        "vec_id", (F.col("vec_id") % 8).cast("long").alias("label")
    )
    return similarity.hard_negatives(embs, labels, n_queries=10, k=5)


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88: the ANN QUALITY metric the X6/X66 family was missing
    (VERDICT r5 stretch ask): recall@k of every approximate top-k
    method — sign-LSH bucket (single + multi-table), IVF probe,
    PQ/ADC, IVF-PQ, and (r9) the trained-quantizer residual IVFADC —
    measured against the exact brute-force ground truth, as an
    oracle-paired query.
    recall@k = |approx ∩ exact| / (n_queries·k); an approximate index
    without a measured recall number is a speedup claim with no
    quality denominator.

    Exactness: all four top-k sets are fully deterministic (scaled
    int64 dot products, ties on neighbor id — similarity._topk), so
    the intersection COUNTS are exact integers and recall is the one
    double division written identically in the oracle (which replays
    each method's own registered SQL as a CTE — the audit reuses the
    same formulas the per-method gate rows already pin).

    Scale shape: ground truth is computed ONCE (localCheckpoint) and
    reused by the three ≤(n_queries·k)-row hash joins; at corpus
    scale the truth set for a FIXED query panel stays tiny — recall
    auditing is cheap even when the index is 100 TB, because only the
    panel's neighbor lists move.

    Caveat (BENCH_NOTES r6): the driver's near-uniform synthetic
    embeddings defeat sign-LSH by construction, so THIS entry's
    recalls are a degenerate-geometry floor; :func:`ann_recall_clustered`
    runs the identical audit on the deterministic clustered fixture
    where the methods separate in their intended regime."""
    return _recall_audit_over(_audit_topk_panels(spark, sf_dir, False))


def ann_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X97: the recall@k audit on NON-DEGENERATE geometry — the same
    methods and ground-truth protocol as :func:`ann_recall_audit`,
    but over similarity.clustered_embeddings (deterministic ±0.125
    per-cluster offsets; 8 centers on 3 id bits). On this fixture the
    methods separate as designed — measured at sf0.01: ivfpq_t 0.92
    (r9 trained residual IVFADC at its shipped refine=50) >
    ivf 0.84 > ivfpq 0.52 > lsh_multi 0.34 > pq 0.18 ≈ lsh 0.16 (vs
    near-floor on the uniform corpus), exercising the multi-table>
    single-table claim and the trained>stride quantizer claim on
    geometry where buckets actually carry neighborhood signal."""
    return _recall_audit_over(_audit_topk_panels(spark, sf_dir, True))


#: the 7 audited top-k methods (brute = exact ground truth)
_AUDIT_METHODS = (
    "brute", "ivf", "ivfpq", "ivfpq_t", "lsh", "lsh_multi", "pq",
)


def _audit_topk_panel(
    spark: SparkSession, sf_dir: str, clustered: bool, name: str
) -> DataFrame:
    """ONE method's top-5 panel, computed (and localCheckpoint-
    materialized) at most once per (session, sf_dir, fixture, method).
    r12 optimization, second pass: building a method's panel is NOT
    free at construction time — topk_ivf/pq run an eager corpus count
    for stride sizing and the trained method runs the eager Lloyd
    training (measured 11.7 s for the uniform quantizers on this
    box) — so the panels build ONE METHOD AT A TIME on first request
    instead of all seven at the first toucher, and quantizer training
    happens only when the trained method is actually requested."""
    key = ("audit_topk", sf_dir, clustered, name)

    def build() -> DataFrame:
        embs = _embs(spark, sf_dir)
        if clustered:
            embs = similarity.clustered_embeddings(embs)
        if name == "ivfpq_t":
            coarse, books = _ivfpqt_quantizers(
                spark, sf_dir, clustered=clustered
            )
            df = similarity.topk_ivfpq_trained(
                embs,
                n_queries=10,
                k=5,
                refine=IVFPQT_REFINE,
                coarse_cents=coarse,
                books=books,
            )
        else:
            fn = {
                "brute": similarity.topk_brute,
                "ivf": similarity.topk_ivf,
                "ivfpq": similarity.topk_ivfpq,
                "lsh": similarity.topk_lsh,
                "lsh_multi": similarity.topk_lsh_multi,
                "pq": similarity.topk_pq,
            }[name]
            df = fn(embs, n_queries=10, k=5)
        return materialize(df)

    return _session_cached(spark, key, build)


def _audit_topk_panels(
    spark: SparkSession, sf_dir: str, clustered: bool
) -> dict[str, DataFrame]:
    """The 7 per-method top-5 panels — the X88 recall audit, the X97
    clustered audit, and both X128 label audits consume the SAME
    panels, so a gate/bench session runs each method's search once
    (the standalone ann_topk_* entries read the same cached frames —
    r12 optimization; panels keep each method's FULL output schema so
    they can). Panels are ≤50 rows each; pinning them is free."""
    # r13 (guide §2.6 — overlap independent jobs): the 7 method
    # searches are independent; building them serially left the
    # cluster idle behind each build's eager tail (probe: 38.7 s
    # serial panel sum, ivfpq_t alone 14.7 s). Fan the UNBUILT panels
    # out on a thread pool — each in its own FAIR pool so the jobs
    # time-slice — and the audit's first-toucher wall drops to about
    # the slowest chain (the trained-quantizer one). Cache hits return
    # instantly either way; the standalone ann_topk_* entries still
    # build lazily one at a time.
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext

    def one(name: str) -> tuple[str, DataFrame]:
        sc.setLocalProperty("spark.scheduler.pool", f"ann_panel_{name}")
        try:
            return name, _audit_topk_panel(spark, sf_dir, clustered, name)
        finally:
            sc.setLocalProperty("spark.scheduler.pool", None)

    with ThreadPoolExecutor(max_workers=len(_AUDIT_METHODS)) as pool:
        return dict(pool.map(one, _AUDIT_METHODS))


def _recall_audit_over(panels: dict[str, DataFrame]) -> DataFrame:
    """Shared audit body: the brute panel IS the exact truth; each
    approximate panel joins it (≤(n_queries·k)-row hash joins)."""
    nq, k = 10, 5
    exact = panels["brute"].select("query_id", "neighbor_id")
    out = None
    for name in sorted(m for m in panels if m != "brute"):
        approx = panels[name].select("query_id", "neighbor_id")
        hits = (
            approx.join(exact, ["query_id", "neighbor_id"])
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(name).alias("method"), "n_hits")
        )
        out = hits if out is None else out.unionByName(hits)
    return out.select(
        "method",
        "n_hits",
        F.lit(nq * k).cast("long").alias("n_truth"),
        (F.col("n_hits").cast("double") / F.lit(float(nq * k))).alias(
            "recall_at_k"
        ),
    ).orderBy("method")


def ann_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128: LABEL-relevance audit of the whole ANN stack — the
    downstream-task metric X88/X97 deliberately don't measure: X88
    scores each method against the EXACT top-k (index fidelity);
    this scores each method — including exact brute as the ceiling —
    against what retrieval is FOR: whether the returned neighbors
    share the query's class label (precision@5) and how early the
    first same-class hit appears (MRR). An index can be 100%
    faithful to an exact search that is itself useless for the task;
    the two audits together separate index loss from embedding loss.

    Exactness: the top-5 panels are the methods' own deterministic
    registered forms (the oracle replays each method's registered SQL
    verbatim as CTEs); relevance is an integer label equality; MRR
    contributions are quantized ONCE per query (round(10⁶/first_rel_
    rank), 0 when no hit in the top-5) and summed in int64; the two
    reported ratios are one division each. Queries absent from a
    method's output (an empty LSH bucket) contribute 0 through the
    fixed n_queries denominator.

    Scale shape: identical to X88 — fixed query panel, so only
    panel-sized neighbor lists move regardless of corpus size; labels
    join in as a broadcast.

    On the driver's near-uniform embeddings the labels are geometry-
    independent, so every method — brute included — sits at the
    1/n_labels random floor: measured embedding loss, zero index
    loss. :func:`ann_label_audit_clustered` runs the identical audit
    where the label IS the geometric cluster, separating the methods
    in their intended regime."""
    return _label_audit_over(
        _audit_topk_panels(spark, sf_dir, False),
        _embs(spark, sf_dir).select("vec_id", "label"),
    )


def ann_label_audit_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X128 on NON-DEGENERATE task geometry: the clustered fixture
    (X97's deterministic ±0.125 offsets) with label = the generating
    cluster id (vec_id mod 8) — ground truth the embedding geometry
    actually encodes, so precision@5/MRR now measure how much task
    relevance each INDEX preserves below the brute ceiling."""
    labels = _embs(spark, sf_dir).select(
        "vec_id", (F.col("vec_id") % 8).cast("int").alias("label")
    )
    return _label_audit_over(
        _audit_topk_panels(spark, sf_dir, True), labels
    )


def _label_audit_over(
    panels: dict[str, DataFrame], labels: DataFrame
) -> DataFrame:
    """Shared X128 body over the shared :func:`_audit_topk_panels`;
    ``labels`` is any (vec_id, label) frame — the raw column or the
    clustered fixture's generating-cluster id."""
    nq, k = 10, 5
    out = None
    for name in sorted(panels):
        top = panels[name]
        rel = (
            top.join(
                F.broadcast(
                    labels.select(
                        F.col("vec_id").alias("query_id"),
                        F.col("label").alias("ql"),
                    )
                ),
                "query_id",
            )
            .join(
                F.broadcast(
                    labels.select(
                        F.col("vec_id").alias("neighbor_id"),
                        F.col("label").alias("nl"),
                    )
                ),
                "neighbor_id",
            )
            .select(
                "query_id", "rank", (F.col("ql") == F.col("nl")).alias("rel")
            )
        )
        fr = rel.filter("rel").groupBy("query_id").agg(
            F.min("rank").alias("fr")
        )
        rr = (
            rel.select("query_id")
            .distinct()
            .join(fr, "query_id", "left")
            .select(
                F.coalesce(
                    F.round(F.lit(1e6) / F.col("fr"), 0).cast("long"),
                    F.lit(0).cast("long"),
                ).alias("rrq")
            )
        )
        nrel = rel.agg(F.sum(F.col("rel").cast("long")).alias("n_rel"))
        mrr = rr.agg(F.sum("rrq").alias("mrr_q"))
        row = nrel.crossJoin(mrr).select(
            F.lit(name).alias("method"), "n_rel", "mrr_q"
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "method",
        "n_rel",
        "mrr_q",
        (F.col("n_rel").cast("double") / F.lit(float(nq * k))).alias(
            "precision_at_k"
        ),
        (F.col("mrr_q").cast("double") / F.lit(1e6 * nq)).alias("mrr"),
    ).orderBy("method")


def emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup — the O(n²) ORACLE BASELINE for the
    LSH family, kept registered so the driver gate can verify the
    exact form. Deliberately NOT in bench.py's query list: its cost
    is quadratic by definition, and the production paths it validates
    (emb_near_dup_lsh / emb_near_dup_lsh_multi) ARE benched
    (BENCH_NOTES round 5)."""
    return similarity.near_dup_pairs(_embs(spark, sf_dir), d2_max=1.2)


def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.near_dup_lsh(_embs(spark, sf_dir), d2_max=1.2)


def emb_near_dup_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.near_dup_lsh_multi(_embs(spark, sf_dir), d2_max=1.2)


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def asof_priority_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each order joined as-of to the latest monthly rate quote for its
    priority class (quotes synthesized deterministically: first-of-month
    1995-2001, rate = 1 + ((7m + len(priority)) % 13) / 100)."""
    ensure_runtime_confs(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    m = F.col("m")
    quotes = (
        orders.select("o_orderpriority")
        .distinct()
        .select(
            "o_orderpriority", F.explode(F.sequence(F.lit(0), F.lit(83))).alias("m")
        )
        .select(
            "o_orderpriority",
            F.add_months(F.to_date(F.lit("1995-01-01")), m).alias("quote_date"),
            (
                F.lit(1.0)
                + ((m * 7 + F.length("o_orderpriority")) % 13) / F.lit(100.0)
            ).alias("rate"),
        )
    )
    return asof.asof_join(
        orders,
        quotes,
        on=["o_orderpriority"],
        left_time="o_orderdate",
        right_time="quote_date",
    ).select("o_orderkey", "o_orderpriority", "quote_date", "rate")


# ---------------------------------------------------------------------------
# range join
# ---------------------------------------------------------------------------


def events_range_follow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range self-join over the event stream: per event, the
    count and exact value sum of same-user events in the following
    60 seconds (0 rows kept — every event reports). No output sort:
    the correctness compare is order-insensitive, and a global range
    sort would be pure presentation cost at scale."""
    ensure_runtime_confs(spark)
    events = load_table(spark, sf_dir, "events")
    return rangejoin.follow_within(events, window_s=60)


# ---------------------------------------------------------------------------
# snapshot diff (CDC)
# ---------------------------------------------------------------------------


def _orders_snapshots(spark: SparkSession, sf_dir: str):
    """The shared CDC fixture: orders as v1 plus a deterministic v2 —
    keys divisible by 97 deleted, totals bumped where divisible by 5,
    re-keyed copies inserted where divisible by 101."""
    ensure_runtime_confs(spark)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    old = load_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    new = old.filter(k % 97 != 0).withColumn(
        "o_totalprice",
        F.when(k % 5 == 0, F.col("o_totalprice") + 1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserts = old.filter(k % 101 == 0).withColumn(
        "o_orderkey", k + F.lit(100_000_000)
    )
    return old, new.unionByName(inserts)




def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150: point-in-time (time-travel) lookup over the SCD2 history
    — the read side X57 was missing: reconstruct the dimension AS OF
    each version v by the validity-interval predicate
    (valid_from ≤ v AND (valid_to IS NULL OR v < valid_to)) and
    aggregate it per status. The oracle computes the SAME aggregates
    directly from the raw snapshot definitions, so the value hash is
    the PROOF that the history reconstructs every snapshot exactly —
    the invariant a warehouse time-travel reader depends on. The PIT
    filter is a map-side predicate on the history scan (no join at
    all for a version probe); at 100 TB an as-of-DATE variant is the
    same predicate over date intervals."""
    old, new = _orders_snapshots(spark, sf_dir)
    hist = cdc.scd2_apply(
        old,
        new,
        keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    )
    out = None
    for v in (1, 2):
        pit = hist.filter(
            (F.col("valid_from") <= v)
            & (F.col("valid_to").isNull() | (F.lit(v) < F.col("valid_to")))
        )
        agg = pit.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        ).select(
            F.lit(v).alias("as_of_version"),
            "o_orderstatus",
            "n_orders",
            "total_price",
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("as_of_version", "o_orderstatus")


def graph_triangles_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86: exact triangle count over the supplier 10-NN CO-SUPPLY
    graph by degree orientation — graph.triangle_count. Each supplier
    keeps edges to its 10 strongest partners (most distinct shared
    parts, tie-break on the lower partner id); triangle density over
    that similarity graph is the standard cohesion signal.

    The k-NN restriction is the SCALE design, not a shortcut: the raw
    same-part relation saturates into a near-complete graph as the
    corpus grows (at sf0.1 it is literally K_1000 — C(1000,3) ≈ 1.7e8
    triangles, all noise), while the k-NN graph stays ≤ n·k edges at
    any SF, which is also what bounds the wedge join. Pair weights
    come from one per-part self-join (bounded per part) + a count
    shuffle; the top-k is a per-supplier window over the pair
    aggregate; the triangle pass then runs on ≤ n·k edges."""
    from pyspark.sql.window import Window

    ensure_runtime_confs(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    ps = li.distinct()
    a = ps.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("sa"))
    b = ps.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("sb"))
    weights = (
        a.join(b, "p")
        .filter(F.col("sa") != F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wk = Window.partitionBy("sa").orderBy(F.desc("w"), F.asc("sb"))
    edges = (
        weights.withColumn("_r", F.row_number().over(wk))
        .filter(F.col("_r") <= 10)
        .select("sa", "sb")
    )
    return graph.triangle_count(edges)


def graph_kcore_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106: k-core decomposition (bounded peel) over the bipartite
    customer-supplier purchase graph — the degeneracy filter web-graph
    curation uses to isolate densely-connected cores (k=40, 8 peel
    rounds, converged on this fixture: pinned in pytest). Suppliers
    are offset by 10^9 into a disjoint node-id space (overflow-guarded
    per row — see :func:`_purchase_bipartite_edges`). Returns the
    surviving (node, degree) rows. See graph.kcore_peel."""
    ensure_runtime_confs(spark)
    return graph.kcore_peel(
        _purchase_bipartite_edges(spark, sf_dir), k=40, rounds=8
    )


#: Supplier node-id offset for the bipartite purchase graph; customer
#: keys must stay strictly below it or node ids collide.
SUPPLIER_NODE_OFFSET = 1_000_000_000


def _purchase_bipartite_edges(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct (customer, supplier) purchase edges with supplier ids
    offset into a disjoint range. r9 ADVICE: a custkey crossing the
    offset (~SF 6700) would merge customer and supplier nodes
    IDENTICALLY in both engines, so the oracle gate is blind to it —
    a per-row raise_error guard fails the query loudly instead."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    guarded_cust = (
        F.when(
            F.col("o_custkey") >= SUPPLIER_NODE_OFFSET,
            F.raise_error(
                F.lit(
                    "purchase graph: o_custkey crosses the supplier "
                    f"node offset {SUPPLIER_NODE_OFFSET} — node id "
                    "spaces are no longer disjoint; raise the offset"
                )
            ).cast("long"),
        )
        .otherwise(F.col("o_custkey"))
        .alias("u")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            guarded_cust,
            (F.col("l_suppkey") + SUPPLIER_NODE_OFFSET).alias("v"),
        )
        .distinct()
    )


def graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X135: label-propagation communities over the same bipartite
    customer-supplier purchase graph X106 peels — 4 synchronous
    rounds, smallest-label tie-break, the deterministic bounded-round
    contract. Offset-guarded edge construction shared with X106 —
    see :func:`_purchase_bipartite_edges`. See
    graph.label_propagation."""
    ensure_runtime_confs(spark)
    return graph.label_propagation(
        _purchase_bipartite_edges(spark, sf_dir)
    )


def dedup_components_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X141: incremental dedup-closure APPLY — the X90 crawl-delta
    scenario carried through to CLUSTER STATE: the 70% doc_id head
    plays yesterday's corpus (its components already labeled), the
    30% tail plays the new crawl, and the update touches ONLY the
    components a delta pair reaches (graph.incremental_components)
    plus the delta's own nodes; every untouched component passes
    through byte-identical. The oracle is the FULL-recompute
    recursive closure (the very same SQL dedup_components pins), so
    the driver's value hash proves incremental ≡ full, singleton
    tail docs included. Pairs ride the session MinHash cache."""
    docs = _docs(spark, sf_dir)
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    is_delta_a = F.col("doc_a") % 10 >= _DELTA_PCT
    is_delta_b = F.col("doc_b") % 10 >= _DELTA_PCT
    base_pairs = pairs.filter(~is_delta_a & ~is_delta_b)
    delta_pairs = pairs.filter(is_delta_a | is_delta_b)
    base_docs = docs.filter(F.col("doc_id") % 10 < _DELTA_PCT)
    delta_docs = docs.filter(F.col("doc_id") % 10 >= _DELTA_PCT)
    base_labels = graph.connected_components(
        base_pairs, nodes=base_docs.select("doc_id")
    )
    out = graph.incremental_components(
        base_labels,
        delta_pairs,
        new_nodes=delta_docs.select("doc_id"),
    )
    return out.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("component_id"),
    )


def _unigram_pair(spark: SparkSession, sf_dir: str):
    """The trained unigram (final counts, final segmentation) pair,
    computed at most once per (session, sf_dir) — text_unigram_vocab
    and text_unigram_segment share one bounded EM loop (the
    _bpe_seg_counts pattern), so a gate/bench session trains once."""
    return _session_cached(
        spark,
        ("unigram", sf_dir, text.UNIGRAM_ROUNDS),
        # the loop already materializes (and lineage-truncates) both
        # returned frames eagerly — no extra checkpoint needed here
        lambda: text._unigram_loop(
            text._word_freqs(_docs(spark, sf_dir), "text"),
            text.UNIGRAM_ROUNDS,
        ),
    )


def text_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139 LEARN side: unigram-LM (SentencePiece-shape) tokenizer
    vocabulary by bounded hard-EM over the distinct-word table — the
    BPE pair's sibling (r9 VERDICT ask #7). Top-200 (piece,
    piece_len, cnt) rows by (count DESC, piece). The oracle unrolls
    the full training — substring lattice, per-round Viterbi DP
    position chain, recount + prune — as generated CTEs. See
    text._unigram_loop for the objective contract."""
    counts, _seg = _unigram_pair(spark, sf_dir)
    return (
        counts.select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            "cnt",
        )
        .orderBy(F.desc("cnt"), "piece")
        .limit(200)
    )


def text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X139 APPLY side: per-doc (doc_id, n_words, n_unigram_tokens)
    under the trained unigram vocabulary — the same stats shape X103
    reports for BPE, so packing/mixture budgeters can swap tokenizers
    by swapping the counts frame. Learn/apply share one loop via the
    :func:`_unigram_pair` session cache."""
    _counts, seg = _unigram_pair(spark, sf_dir)
    per_word = seg.select("word", F.col("k").alias("n_pieces"))
    docw = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), r"\s+")).alias("word"),
    ).filter(F.length("word") > 0)
    return (
        docw.join(per_word, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_unigram_tokens"),
        )
        .orderBy("doc_id")
    )


def er_entity_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X136: the composed ENTITY-RESOLUTION pipeline (r9 VERDICT ask
    #2) — the record-linkage run a curation team schedules weekly,
    assembled from parts that are each already oracle-green: X39
    deletion-neighborhood blocking on the name (fuzzy.py — zero false
    negatives at edit distance ≤ 1, linear candidate blowup),
    attribute-agreement verification on (nationkey, mktsegment)
    folded INTO the blocking equi-join key (disagreeing records never
    meet in the shuffle), and X35 min-label closure into canonical
    entity ids. One row per customer record: its entity id (the
    entity's minimum custkey), the entity's record count, and whether
    this record IS the canonical one. The oracle nests the
    quadratic-reference fuzzy verify under the recursive-CTE closure
    (the docs_split_leakage_safe pattern). See
    fuzzy.resolve_entities."""
    from pyspark.sql.window import Window

    ensure_runtime_confs(spark)
    cust = load_table(spark, sf_dir, "customer")
    ents = fuzzy.resolve_entities(
        cust, "c_custkey", "c_name", attrs=("c_nationkey", "c_mktsegment")
    )
    w = Window.partitionBy("entity_id")
    return ents.select(
        F.col("c_custkey").alias("custkey"),
        "entity_id",
        F.count(F.lit(1)).over(w).alias("n_records"),
        (F.col("c_custkey") == F.col("entity_id")).alias("canonical"),
    ).orderBy("custkey")


def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer–supplier purchase graph
    (edge ⇔ the customer ordered from the supplier), 3 exact
    fixed-point rounds — surfaces the most central suppliers/buyers.
    Reverse edges make the walk undirected, which also guarantees
    every node has out-degree ≥ 1 (graph.pagerank's contract)."""
    ensure_runtime_confs(spark)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            (F.col("l_suppkey") + 1_000_000).alias("supp"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).unionByName(pairs.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))
    pr = graph.pagerank(edges, iterations=3)
    return (
        pr.select(
            "node",
            F.when(F.col("node") >= 1_000_000, "supplier")
            .otherwise("customer")
            .alias("node_type"),
            F.col("rank").alias("pr"),
        )
        .orderBy(F.desc("pr"), "node")
        .limit(20)
    )


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC classification between the two fixture snapshots."""
    old, new = _orders_snapshots(spark, sf_dir)
    return cdc.snapshot_diff(
        old,
        new,
        keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 APPLY step over the same fixture: every key expanded to
    its type-2 validity-interval rows (cdc.scd2_apply)."""
    old, new = _orders_snapshots(spark, sf_dir)
    return cdc.scd2_apply(
        old,
        new,
        keys=["o_orderkey"],
        compare_cols=["o_orderstatus", "o_totalprice"],
    )


# ---------------------------------------------------------------------------
# multimodal (binary columns + mapInPandas decode/frame-sample/resize)
# ---------------------------------------------------------------------------


def mm_asset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.synthesize_assets(_docs(spark, sf_dir))
    return assets.groupBy("kind", F.col("meta.format").alias("format")).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("content")).alias("total_bytes"),
    )


def mm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.synthesize_assets(_docs(spark, sf_dir))
    return assets.select(
        "asset_id",
        "kind",
        F.length("content").cast("long").alias("n_bytes"),
        multimodal.content_md5().alias("content_md5"),
    )


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.sample_frames(
        multimodal.synthesize_assets(_docs(spark, sf_dir))
    )


def _afp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio energy-fingerprint pair frame over assets +
    re-renders, session-cached (the :func:`_phash_pairs` pattern) —
    shared by mm_afp_near_dup and mm_canonical_media."""
    return _session_cached(
        spark,
        ("afp_pairs", sf_dir),
        lambda: materialize(
            multimodal.afp_near_dup(
                multimodal.rerendered_assets(
                    _docs(spark, sf_dir), residue=1, min_len=1
                )
            )
        ),
    )


def _video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video frame-sequence pair frame over assets + re-renders,
    session-cached — shared by mm_video_near_dup and
    mm_canonical_media."""
    return _session_cached(
        spark,
        ("video_pairs", sf_dir),
        lambda: materialize(
            multimodal.video_near_dup(
                multimodal.rerendered_assets(
                    _docs(spark, sf_dir), residue=2, min_len=96
                )
            )
        ),
    )


def _phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pHash near-dup pair frame over assets + re-renders,
    computed (and localCheckpoint-materialized) at most once per
    (session, sf_dir) — shared by mm_phash_near_dup (the pair report)
    and mm_canonical_assets (the CC closure + keep-list), the
    :func:`_minhash_pairs` pattern for images. The frame is pair-
    count-sized (≪ corpus), trivially pinnable."""
    return _session_cached(
        spark,
        ("phash_pairs", sf_dir),
        lambda: materialize(
            multimodal.phash_near_dup(
                multimodal.rerendered_assets(_docs(spark, sf_dir))
            )
        ),
    )


def mm_canonical_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114: the image dedup APPLY step (r8 VERDICT ask #3 — X104
    emits near-dup PAIRS; a real multimodal pipeline dedups to a
    KEEP-LIST): the pHash pair graph is closed into connected
    components (min-asset-id label, every phash-eligible image asset
    labeled, singletons included — the X35 machinery), then one
    canonical survivor per component with the number of assets it
    collapsed — the X45 analog for images. On the re-render fixture
    every engineered (base, re-render) cluster collapses to one
    canonical asset of cluster_size ≥ 2, pinned in pytest. The pair
    graph rides the :func:`_phash_pairs` session cache; the oracle
    nests the verbatim pHash pair SQL under the same recursive
    closure dedup_components uses."""
    docs = _docs(spark, sf_dir)
    assets = multimodal.rerendered_assets(docs)
    # the node universe = assets the pHash path can fingerprint:
    # images with a non-empty payload (content = 4-byte magic + text)
    nodes = assets.filter(
        (F.col("kind") == "image") & (F.length("content") > 4)
    ).select("asset_id")
    comp = graph.connected_components(
        _phash_pairs(spark, sf_dir).select("asset_a", "asset_b"),
        nodes=nodes,
    )
    return (
        comp.groupBy(F.col("component").alias("asset_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .orderBy("asset_id")
    )


def mm_canonical_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X165: the CROSS-MODALITY canonical keep-list — X114's image
    dedup APPLY extended to the whole asset store now that all three
    modalities emit pairs (image X104, audio X142, video X159): the
    union of the three pair graphs closes into connected components
    (min-asset-id label, every fingerprintable asset in the node
    universe, singletons included), one canonical survivor per
    component with its modality and collapse count — the single
    keep-list a multimodal ingest actually applies. Modalities can
    never merge (asset ids keep kind ≡ doc_id mod 3 under the +30M
    re-render offset), so the union costs nothing semantically and
    buys one closure instead of three. All three pair frames ride
    their session caches; kind is derived from the id arithmetic, no
    join back to the store."""
    docs = _docs(spark, sf_dir)
    pairs = (
        _phash_pairs(spark, sf_dir).select("asset_a", "asset_b")
        .unionByName(_afp_pairs(spark, sf_dir).select("asset_a", "asset_b"))
        .unionByName(
            _video_pairs(spark, sf_dir).select("asset_a", "asset_b")
        )
    )
    nodes = (
        multimodal.rerendered_assets(docs)
        .filter((F.col("kind") == "image") & (F.length("content") > 4))
        .select("asset_id")
        .unionByName(
            multimodal.rerendered_assets(docs, residue=1, min_len=1)
            .filter((F.col("kind") == "audio") & (F.length("content") > 4))
            .select("asset_id")
        )
        .unionByName(
            multimodal.rerendered_assets(docs, residue=2, min_len=96)
            .filter((F.col("kind") == "video") & (F.length("content") > 4))
            .select("asset_id")
        )
    )
    comp = graph.connected_components(pairs, nodes=nodes)
    kind = F.element_at(
        F.array(*[F.lit(k) for k in multimodal.KINDS]),
        (F.col("asset_id") % 3 + 1).cast("int"),
    )
    return (
        comp.groupBy(F.col("component").alias("asset_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .select("asset_id", kind.alias("kind"), "cluster_size")
        .orderBy("asset_id")
    )


def mm_phash_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X204: pHash candidate-DISTANCE histogram — the measurement
    that SETS the near-dup threshold (X104 ships d_max=3; this is the
    evidence): for every band-colliding candidate pair, the exact
    hamming distance, aggregated into a histogram with the cumulative
    pair share. The engineered re-render mode sits at hamming ≤ 2;
    the band-collision noise floor starts far above it — the gap
    between them is where d_max belongs, and a FIXTURE change that
    closes the gap shows up here before it silently degrades X104's
    precision. Same banding/verify machinery, no threshold
    (multimodal.band_candidate_distances)."""
    pairs = multimodal.band_candidate_distances(
        multimodal.phash_bands(
            multimodal.rerendered_assets(_docs(spark, sf_dir))
        )
    )
    per = pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    tot = per.agg(F.sum("n_pairs").cast("long").alias("_t"))
    cw = Window.orderBy("hamming").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.withColumn("cum_pairs", F.sum("n_pairs").over(cw).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "hamming",
            "n_pairs",
            "cum_pairs",
            (
                F.col("cum_pairs").cast("double")
                / F.col("_t").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("hamming")
    )


def mm_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X: image near-dup via perceptual hash (r7 VERDICT ask #4 —
    bridges the multimodal decode family and the hamming-band dedup
    machinery): dHash over the mapInPandas decode path (deterministic
    character-code downsample), 4×16-bit pigeonhole bands (exhaustive
    for hamming ≤ 3), exact popcount verify. Runs over the assets
    PLUS their deterministic re-renders (multimodal.rerendered_assets
    — the corpus has no duplicate image payloads of its own), so the
    emitted pairs are the engineered re-encodes, each within hamming
    ≤ 2 by construction. Rides the :func:`_phash_pairs` session cache
    shared with mm_canonical_assets. See multimodal.phash_near_dup."""
    return _phash_pairs(spark, sf_dir).orderBy("asset_a", "asset_b")


def mm_afp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X142: AUDIO near-dup via energy fingerprint — the acoustic
    sibling of X104 (the multimodal dedup family covered images only;
    real curation pipelines dedup audio too): sign-of-delta bits over
    a 72-window time-energy profile (window SUMS of the payload — the
    Chromaprint-family hash shape), packed into the same 4×16-bit
    pigeonhole bands and verified by the same exact popcount
    (multimodal._band_near_dup, shared verbatim with the image path).
    Runs over the audio assets PLUS their deterministic re-renders
    (multimodal.rerendered_assets, residue 1); because energy windows
    PARTITION the payload, the one-char re-render flips ≤ 2 bits for
    EVERY text length — no ≥72-char guard, unlike the image grid's
    point samples. See multimodal.afp_near_dup."""
    return _afp_pairs(spark, sf_dir).orderBy("asset_a", "asset_b")


def mm_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X159: VIDEO near-dup — closes the multimodal dedup triad
    (image X104, audio X142): ordered frame-hash sequences from the
    mm_frame_sample extractor (32-char fingerprint frames, stride 2),
    candidates via an equi-join on md5-hashed one-frame-DELETION
    variants (the X39 deletion-neighborhood guarantee lifted from
    characters to frame tokens — linear blowup, exhaustive for ≤ 1
    mismatch, never all-pairs), one exact positional comparison per
    candidate verifies; emission = equal length, ≤ 1 mismatching
    frame, ≥ 1 agreeing frame. Runs over the video assets PLUS their
    deterministic re-renders (multimodal.rerendered_assets, residue 2).
    Why not the X104/X142 banded grid: pooled sign-of-delta
    signatures degenerate on short frame sequences (measured 16,653
    hamming-0 false pairs at sf0.001) — sequences need sequence
    blocking. See multimodal.video_near_dup."""
    return _video_pairs(spark, sf_dir).orderBy("asset_a", "asset_b")


#: lang domain for the expectations entry — shared with the oracle SQL
DOC_LANG_DOMAIN = ("de", "en", "es", "fr", "zh")


def docs_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations over the documents table — key
    non-null + unique, lang within the declared domain, no empty
    texts — all metrics in ONE aggregate pass (operators/
    expectations.py)."""
    docs = _docs(spark, sf_dir)
    rules = {
        "doc_id_not_null": (expectations.frac(F.col("doc_id").isNull()), 0.0),
        "doc_id_unique": (expectations.dup_key_frac("doc_id"), 0.0),
        "lang_in_domain": (
            expectations.frac(~F.col("lang").isin(*DOC_LANG_DOMAIN)),
            0.0,
        ),
        "text_nonempty": (
            expectations.frac(F.coalesce(F.length("text"), F.lit(0)) == 0),
            0.0,
        ),
    }
    return expectations.expectations_report(docs, rules)


def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup APPLY step: materialize the curated corpus from the
    near-dup cluster graph — one canonical survivor (the component's
    min doc_id) per MinHash-LSH connected component, carrying how many
    documents it collapsed. Pair/cluster REPORTS (dedup_components)
    answer "what is duplicated"; this answers "what do I train on".
    Costs one count aggregate and one survivor equi-join beyond the
    component labels, which come from the session-scoped
    :func:`_lsh_component_labels` cache shared with dedup_components —
    a gate/bench session runs the LSH+CC pipeline once, not twice
    (VERDICT r5)."""
    docs = _docs(spark, sf_dir)
    comp = _lsh_component_labels(spark, sf_dir)
    survivors = comp.groupBy(F.col("component").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return survivors.join(docs.select("doc_id", "lang", "source"), "doc_id")


#: fixed term query for the registered BM25 entry — terms from the
#: synthetic corpus vocabulary; shared with the oracle SQL below
BM25_QUERY_TERMS = ("spark", "join", "stream", "vector")


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-free BM25 ranked retrieval (operators/text.bm25_rank) over
    the documents corpus for a fixed 4-term query — the relevance-
    selection primitive of a training-data pipeline."""
    return text.bm25_rank(_docs(spark, sf_dir), list(BM25_QUERY_TERMS), top_n=25)


def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107: hybrid lexical+semantic retrieval fused by reciprocal-
    rank fusion (Cormack et al. 2009) — the two-leg stack modern
    search runs: leg 1 = BM25 top-25 for the fixed term panel
    (text_bm25_search's exact ranking), leg 2 = exact embedding
    top-25 for the seed document vec_id=0 (query-by-document;
    doc_id and vec_id are aligned in this corpus). RRF needs no
    score normalization — precisely why it is the standard combiner
    for legs with incomparable scales. See text.rrf_fuse."""
    lex = text.bm25_rank(
        _docs(spark, sf_dir), list(BM25_QUERY_TERMS), top_n=25
    ).select("doc_id", "rank")
    sem = similarity.topk_brute(
        _embs(spark, sf_dir), n_queries=1, k=25
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return text.rrf_fuse([lex, sem], top_n=10)


def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.extract_features(
        multimodal.synthesize_assets(_docs(spark, sf_dir))
    )


def mm_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    resized = multimodal.resize_images(
        multimodal.synthesize_assets(_docs(spark, sf_dir))
    )
    return resized.select(
        "asset_id",
        "format",
        "width",
        "height",
        F.length("content").alias("n_bytes"),
    )


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X119: TRAINED bigram-LM quality scoring — the CCNet-shape
    "train an LM on the corpus, score docs by how well it predicts
    them" filter (Wenzek et al. 2020), as an exact conditional-model
    rendition: add-one-smoothed P(w2|w1) quantized once to int64,
    per-doc mean in-context probability. The conditional complement
    to X105's unigram DSIR ratio. See text.lm_bigram_score."""
    return text.lm_bigram_score(_docs(spark, sf_dir))


def text_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: vector-space tf-idf retrieval (log-free quantized idf,
    int64-exact inner-product scores) for the same fixed term panel
    X43 ranks — the second, deliberately-disagreeing lexical leg the
    X107 fusion stack wants. See text.tfidf_rank."""
    return text.tfidf_rank(
        _docs(spark, sf_dir), list(BM25_QUERY_TERMS), top_n=25
    )


def retrieval_hybrid_rrf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120: THREE-leg hybrid retrieval fused by RRF — BM25 (X43) +
    vector-space tf-idf (X120) + exact semantic top-k for the seed
    document, the lexical-pair-plus-dense stack production search
    deploys. Same rrf_fuse contract as X107 (panel-scale fusion
    regardless of corpus size); legs with incomparable score scales
    are exactly RRF's use case. Rides the :func:`_rrf3_panel` session
    cache (shared with the X161 MMR re-rank, which consumes this
    exact top-10 — r12 optimization: both entries paid all three
    corpus-scan legs)."""
    return _rrf3_panel(spark, sf_dir)


def _rrf3_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X120 RRF3 fused top-10, computed (and localCheckpoint-
    materialized) at most once per (session, sf_dir): the X120 entry
    emits it and the X161 MMR diversifier re-ranks it, so a session
    pays the three retrieval legs (BM25 scan + tf-idf scan + brute
    top-k) once instead of twice. 10 rows; values unchanged (the
    _session_cached contract)."""

    def build() -> DataFrame:
        lex = text.bm25_rank(
            _docs(spark, sf_dir), list(BM25_QUERY_TERMS), top_n=25
        ).select("doc_id", "rank")
        vsm = text.tfidf_rank(
            _docs(spark, sf_dir), list(BM25_QUERY_TERMS), top_n=25
        ).select("doc_id", "rank")
        sem = similarity.topk_brute(
            _embs(spark, sf_dir), n_queries=1, k=25
        ).select(F.col("neighbor_id").alias("doc_id"), "rank")
        return materialize(text.rrf_fuse([lex, vsm, sem], top_n=10))

    return _session_cached(spark, ("rrf3_panel", sf_dir), build)


def retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X161: MMR retrieval DIVERSIFICATION (r10 VERDICT ask #6) — the
    greedy maximal-marginal-relevance re-rank of the X120 RRF3 top-10
    down to 5 results, the redundancy-control step the hybrid stack
    was missing (an RRF list happily returns five near-identical
    chunks; a RAG context wants coverage). Relevance = the fused
    integer RRF accumulator normalized to millionths of the panel max
    (rel_s·10⁶ DIV max_s — exact integer); redundancy = exact
    quantized-int dot products between panel embeddings mapped to
    [0, 10⁶] via (dot+10⁸ clamped at 0) DIV 200 (truncation == floor
    on the non-negative domain, so Spark DIV and DuckDB // agree);
    panel documents WITHOUT an embedding (the corpus has more docs
    than vectors at sf0.1) carry zero penalty by contract. Selection
    = similarity.mmr_select (λ=0.7 in integer tenths, id tie-breaks);
    the oracle replays the greedy rounds as unrolled CTEs. Everything
    after the panel fetch is panel-sized — ≤ 10² similarity rows, 5
    bounded rounds."""
    panel = materialize(
        retrieval_hybrid_rrf3(spark, sf_dir).select(
            "doc_id",
            F.round(F.col("rrf_score") * F.lit(float(text.RRF_SCALE)), 0)
            .cast("long")
            .alias("rel_s"),
        )
    )
    mx = panel.agg(F.max("rel_s").alias("max_s"))
    panel_rel = panel.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        F.expr("rel_s * 1000000 DIV max_s").alias("rel01"),
    )
    emb_q = _embs(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"), similarity.quantized().alias("qv")
    )
    pe = panel.join(emb_q, "doc_id").select("doc_id", "qv")
    a = pe.select(F.col("doc_id").alias("a_id"), F.col("qv").alias("qa"))
    b = pe.select(F.col("doc_id").alias("b_id"), F.col("qv").alias("qb"))
    sims = (
        a.join(F.broadcast(b), F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            similarity.dot_i(F.col("qa"), F.col("qb")).alias("dot_q"),
        )
        .select(
            "a_id",
            "b_id",
            F.expr(
                "GREATEST(dot_q + 100000000, CAST(0 AS BIGINT)) DIV 200"
            ).alias("sim01"),
        )
    )
    return similarity.mmr_select(panel_rel, sims)


def _keywords3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134's per-doc top-3 tf-idf keyword frame, computed (and
    localCheckpoint-materialized) at most once per (session, sf_dir) —
    the X134 entry and the known-item query panel both read it, so a
    bench/gate session pays the tf-idf corpus pass once instead of
    once per consumer (the :func:`_audit_topk_panels` sharing
    discipline; r12 optimization — measured 13.7 s for the first
    uncached consumer at sf0.1)."""
    return _session_cached(
        spark,
        ("keywords3", sf_dir),
        lambda: materialize(
            text.keywords_tfidf(_docs(spark, sf_dir), k=3)
        ),
    )


def _known_item_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engineered known-item eval panel (X166/X167): every doc
    with doc_id < 20 becomes a query whose terms are its OWN top-3
    tf-idf KEYWORDS (X134's extractor — how real eval sets are built:
    distinctive terms, not positional ones; a first-tokens panel was
    measured at recall@10 = 0.25 because the corpus's leading tokens
    are generic). Data-derived, no literals in the contract; ground
    truth is free: the relevant document IS the query's source."""
    return (
        _keywords3(spark, sf_dir)
        .filter(F.col("doc_id") < 20)
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("keyword").alias("term"),
        )
        .distinct()
    )


def _bm25_known_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-BM25 top-10 panel over the known-item query set,
    computed (and localCheckpoint-materialized) at most once per
    (session, sf_dir). FOUR oracle-paired entries read it (X166
    known-item eval, X167 MRR summary, X213 nDCG, X228 margin
    profile); before this cache each of them re-ran the full corpus
    BM25 pass (measured 9.1/6.5/4.5/5.4 s at sf0.1 — r12
    optimization). The panel is ≤ n_queries·10 rows; pinning it is
    free, and every consumer derives by metadata-scale joins/filters,
    so values are unchanged (the _session_cached contract)."""
    return _session_cached(
        spark,
        ("bm25_known_panel", sf_dir),
        lambda: materialize(
            text.bm25_rank_batch(
                _docs(spark, sf_dir),
                _known_item_queries(spark, sf_dir),
                top_n=10,
            )
        ),
    )


def retrieval_known_item_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X166: known-item retrieval evaluation — the audit-the-retriever
    discipline the ANN family has had since X88, finally applied to
    the LEXICAL stack (BM25 shipped in X43 with no measured quality
    number): a panel of data-derived queries (each document's own
    top-3 tf-idf keywords, ground truth = the document itself; the
    rejected first-3-tokens design measured recall@10 = 0.25 — see
    _known_item_queries) is scored by
    ONE batch BM25 corpus pass (text.bm25_rank_batch — shuffle ∝ term
    hits, never queries × corpus), and each query reports where its
    known item landed. Reciprocal rank is kept in exact integer ppm
    (10⁶ DIV rank) so the X167 summary aggregates without
    order-dependent double sums.

    Output: (query_id, self_rank ≤ 10 or NULL, rr_ppm, hit_at_10)."""
    queries = _known_item_queries(spark, sf_dir)
    ranked = _bm25_known_panel(spark, sf_dir)
    qids = queries.select("query_id").distinct()
    self_hit = ranked.filter(F.col("doc_id") == F.col("query_id")).select(
        "query_id", F.col("rank").alias("self_rank")
    )
    return (
        qids.join(self_hit, "query_id", "left")
        .select(
            "query_id",
            F.col("self_rank").cast("int").alias("self_rank"),
            F.coalesce(
                F.expr("1000000 DIV self_rank"), F.lit(0)
            ).cast("long").alias("rr_ppm"),
            F.col("self_rank").isNotNull().alias("hit_at_10"),
        )
        .orderBy("query_id")
    )


def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X167: the one-row retrieval quality summary over X166's panel —
    MRR@10 and recall@10, each ONE double division over exact integer
    sums (rr in ppm, hits as a count), so the aggregate is
    order-independent and value-hashes cross-engine. The number a
    team compares across tokenizer/analyzer changes before touching
    the retrieval stack."""
    per = retrieval_known_item_eval(spark, sf_dir)
    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.col("hit_at_10").cast("long")).cast("long").alias("n_hits"),
        (
            F.sum("rr_ppm").cast("double")
            / F.lit(1000000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("mrr_at_10"),
        (
            F.sum(F.col("hit_at_10").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("recall_at_10"),
    )


def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X134: per-document top-3 tf-idf keywords — the tagging/
    indexing primitive; per-doc panels via a doc-partitioned window,
    never a global rank. See text.keywords_tfidf. Rides the
    :func:`_keywords3` session cache (shared with the known-item
    query panel)."""
    return _keywords3(spark, sf_dir)


def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121: fixed-window RAG chunking with overlap and (doc_id,
    chunk_idx) provenance — pure map-side window arithmetic, no
    shuffle. See text.chunk_documents."""
    return text.chunk_documents(_docs(spark, sf_dir))


def dedup_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X198: cross-source VOCABULARY-OVERLAP sketch audit — the dedup
    PLANNING table (which source pairs share 3-gram vocabulary →
    where near-dup detection should look first, and which feeds are
    probably mirrors of each other): pairwise Jaccard ESTIMATES from
    per-source KMV sketches (sketch.kmv_jaccard_pairs — k smallest
    md5 hashes of each source's distinct gram set; all-pairs at the
    SKETCH grain, k·|sources| rows, never the corpus), joined to the
    EXACT pairwise Jaccard (affordable at gate scale — the audit
    measures the estimator the 100 TB deployment would trust) with
    the signed error. The X147/X92 measure-the-sketch discipline
    applied to set OVERLAP."""
    grams = dedup.tokenized(_docs(spark, sf_dir)).join(
        _docs(spark, sf_dir).select("doc_id", "source"), "doc_id"
    ).select(
        "source",
        F.explode(dedup.hashed_ngrams(3, F.col("_toks"))).alias("gram"),
    )
    est = sketch.kmv_jaccard_pairs(grams, "source", "gram").select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "est_jaccard",
    )
    sg = grams.distinct()
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        sg.select(F.col("source").alias("source_a"), "gram")
        .join(
            sg.select(F.col("source").alias("source_b"), "gram"), "gram"
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    exact = (
        inter.join(
            sizes.select(F.col("source").alias("source_a"),
                         F.col("_n").alias("_na")), "source_a"
        )
        .join(
            sizes.select(F.col("source").alias("source_b"),
                         F.col("_n").alias("_nb")), "source_b"
        )
        .select(
            "source_a",
            "source_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_inter"))
                .cast("double")
            ).alias("exact_jaccard"),
        )
    )
    return (
        est.join(exact, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            "est_jaccard",
            "exact_jaccard",
            (F.col("est_jaccard") - F.col("exact_jaccard")).alias("err"),
        )
        .orderBy("source_a", "source_b")
    )


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122: APPLY side of X5 — the decontamination step actually
    run before training: drop every corpus document sharing ≥1
    distinct 5-gram with the benchmark set (docs 0-24, X5's exact
    flag definition) and emit the KEPT corpus. Broadcast benchmark
    gram probe (X5's plan) feeding a left-anti join on doc_id — the
    flagged side is rare-hit-sized, never corpus-sized."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") < 25)
    flagged = dedup.contamination_report(
        docs, benchmark, n=5, min_overlap=1
    ).select("doc_id")
    return (
        docs.join(flagged, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _semantic_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus doc ids flagged SEMANTICALLY contaminated (X192's probe:
    embedding within d2 ≤ 1.2 of ≥1 benchmark vector via the
    multi-table LSH two-table path; benchmark = vec_id < 25, the X5
    definition carried to the embedding side). Shared by the report,
    the combined apply, and the funnels' stage 6."""
    embs = _embs(spark, sf_dir)
    return similarity.semantic_contamination(
        embs.filter(F.col("vec_id") >= 25),
        embs.filter(F.col("vec_id") < 25),
        d2_max=1.2,
    ).select(F.col("vec_id").alias("doc_id"))


def emb_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X192: semantic contamination REPORT (r11 VERDICT ask #7) — the
    embedding-side complement of X5: per corpus document within
    d2 ≤ 1.2 of any benchmark vector, how many benchmark vectors it
    collides with and how close the nearest one sits. Paraphrased
    leakage shares no 5-grams (X5 is blind to it) but not its
    geometry — the engineered paraphrase fixture in pytest (shifted-
    embedding twin of a benchmark doc) is caught by exactly this
    probe. Multi-table LSH candidates (benchmark side broadcast) +
    exact scaled-int verify; oracle replays the identical bucketing
    via the shared _MULTI_BUCKET macro."""
    embs = _embs(spark, sf_dir)
    return (
        similarity.semantic_contamination(
            embs.filter(F.col("vec_id") >= 25),
            embs.filter(F.col("vec_id") < 25),
            d2_max=1.2,
        )
        .select(
            F.col("vec_id").alias("doc_id"), "n_bench_hits", "min_dist2"
        )
        .orderBy("doc_id")
    )


def dedup_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X193: COMBINED decontamination APPLY — X122's n-gram drop set
    UNIONED with X192's semantic flags (r11 ask #7: "flagged docs
    join the X122 apply"): the kept corpus excludes verbatim overlap
    AND embedding-space paraphrases of the benchmark. Same output
    shape as X122 so the two applies diff cleanly; both probes are
    broadcast-benchmark-sized."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") < 25)
    ngram_flagged = dedup.contamination_report(
        docs, benchmark, n=5, min_overlap=1
    ).select("doc_id")
    flagged = ngram_flagged.unionByName(
        _semantic_flagged(spark, sf_dir)
    ).distinct()
    return (
        docs.join(flagged, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def dedup_benchmark_canaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X200: benchmark CANARY report — the inverse of the
    decontamination probes, per BENCHMARK document: how many corpus
    docs share ≥1 distinct 5-gram with it (the X5 geometry, inverted)
    and how many sit within d2 ≤ 1.2 of its embedding (the X192
    probe, inverted). X5/X122 answer "which corpus docs must go";
    this answers the eval owner's question — "which of MY benchmark
    items are compromised and by how much" — the table that decides
    whether an eval split must be retired rather than the corpus
    cleaned. Both probes are the registered ones re-aggregated by
    bench_id (one generator each side), so the canary view cannot
    disagree with the gates."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") < 25)
    grams_hits = (
        dedup.tokenized(docs.filter(F.col("doc_id") >= 25))
        .select(
            "doc_id",
            F.explode(
                dedup.hashed_ngrams(5, F.col("_toks"))
            ).alias("gram"),
        )
        .join(
            F.broadcast(
                dedup.tokenized(benchmark).select(
                    F.col("doc_id").alias("bench_id"),
                    F.explode(
                        dedup.hashed_ngrams(5, F.col("_toks"))
                    ).alias("gram"),
                ).distinct()
            ),
            "gram",
        )
        .groupBy("bench_id")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_ngram_docs"))
    )
    embs = _embs(spark, sf_dir)
    cbase = embs.filter(F.col("vec_id") >= 25).select(
        "vec_id", similarity.quantized().alias("cv")
    )
    bb = embs.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("bench_id"), similarity.quantized().alias("bv")
    )
    sem_hits = (
        cbase.join(F.broadcast(bb))
        .select(
            "bench_id",
            "vec_id",
            similarity.dist2_i(F.col("cv"), F.col("bv")).alias("_d2"),
        )
        .filter(F.col("_d2") <= F.lit(round(1.2 * similarity.SCALE2)))
        .groupBy("bench_id")
        .agg(
            F.countDistinct("vec_id").cast("long").alias("n_semantic_docs")
        )
    )
    return (
        benchmark.select(F.col("doc_id").alias("bench_id"))
        .join(grams_hits, "bench_id", "left")
        .join(sem_hits, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce("n_ngram_docs", F.lit(0))
            .cast("long")
            .alias("n_ngram_docs"),
            F.coalesce("n_semantic_docs", F.lit(0))
            .cast("long")
            .alias("n_semantic_docs"),
            (
                F.coalesce("n_ngram_docs", F.lit(0))
                + F.coalesce("n_semantic_docs", F.lit(0))
                > 0
            ).alias("compromised"),
        )
        .orderBy("bench_id")
    )


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X201: duplicate-CLUSTER size histogram — the corpus-health
    distribution behind every near-dup number: per cluster size k of
    the MinHash-LSH component labeling (X35's output, singletons
    included), how many clusters, how many documents, and how many
    word tokens sit in them, plus the REMOVABLE token mass ((k-1)/k
    of each ≥2 cluster — exact integer arithmetic per cluster,
    summed). A healthy crawl is a steep histogram; a fat tail is a
    mirror or a template farm and points straight at X198's overlap
    table. Rides the :func:`_lsh_component_labels` session cache —
    one cluster-grain aggregate + one size-grain aggregate on top of
    already-computed labels."""
    comp = _lsh_component_labels(spark, sf_dir)
    tok = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens_col()).cast("long").alias("ntok")
    )
    per_cluster = (
        comp.select(F.col("node").alias("doc_id"), "component")
        .join(tok, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("ntok").cast("long").alias("cluster_tokens"),
        )
    )
    # per-cluster removable mass as an EXACT integer (tokens·(k−1)
    # DIV k) BEFORE the sum — a double division here would make the
    # total order-dependent across engines
    per_cluster = per_cluster.withColumn(
        "_removable",
        F.expr("cluster_tokens * (k - 1) DIV k").cast("long"),
    )
    return (
        per_cluster.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("k").cast("long").alias("n_docs"),
            F.sum("cluster_tokens").cast("long").alias("n_tokens"),
            F.sum("_removable").cast("long").alias("removable_tokens"),
        )
        .select(
            F.col("k").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_tokens",
            "removable_tokens",
        )
        .orderBy("cluster_size")
    )


def _pca_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X123 PC1 projection frame, computed (and localCheckpoint-
    materialized) at most once per (session, sf_dir) — shared by
    emb_pca_power (the projection report) and emb_anisotropy_audit
    (the variance-ratio consumer), the `_bpe_seg_counts` pattern."""
    return _session_cached(
        spark,
        ("pca_proj", sf_dir, similarity.PCA_ROUNDS),
        lambda: materialize(
            similarity.pca_power_projection(_embs(spark, sf_dir))
        ),
    )


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123: leading principal component by bounded matrix-free power
    iteration + every vector's PC1 projection — the anisotropy
    diagnostic (Mu & Viswanath 2018) run before cosine work. Exact
    int64 bounded-round contract like kmeans/BPE; the oracle replays
    the identical 4 rounds as unrolled CTEs. Rides the
    :func:`_pca_proj` session cache. See
    similarity.pca_power_projection."""
    return _pca_proj(spark, sf_dir)


def emb_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123 audit row: WHAT FRACTION of the corpus's total second
    moment lives on PC1 — the single number that says whether the
    embedding space is anisotropic enough to distort cosine ranking
    (Mu & Viswanath 2018 measure exactly this before deciding to
    remove top components). anisotropy = Σ proj² / Σ ‖x‖², both exact
    int64 sums in the SAME 10⁸-scaled units (projections re-quantized
    once to the component scale — round(pc1_q/10⁶) — so the squared
    sums stay in int64 at any corpus size), ONE final division.
    Rides the :func:`_pca_proj` session cache; the corpus pass for
    ‖x‖² is one map-side aggregate."""
    proj = _pca_proj(spark, sf_dir)
    pq = proj.select(
        F.round(F.col("pc1_q").cast("double") / F.lit(1e6), 0)
        .cast("long")
        .alias("pq")
    )
    top = pq.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("pq") * F.col("pq")).alias("ss_pc1_q"),
    )
    tot = (
        _embs(spark, sf_dir)
        .select(F.posexplode(similarity.quantized()).alias("i", "qx"))
        .agg(F.sum(F.col("qx") * F.col("qx")).alias("ss_total_q"))
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "n_vecs",
        "ss_pc1_q",
        "ss_total_q",
        (
            F.col("ss_pc1_q").cast("double") / F.col("ss_total_q")
        ).alias("anisotropy"),
    )


def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124: per-language tokenizer FERTILITY (BPE tokens per word) —
    the standard tokenizer-evaluation statistic (a tokenizer trained
    on one language mix over-segments under-represented languages;
    fertility by language is how that is measured and how vocab
    budgets get rebalanced). Consumes X103's per-doc subword counts
    through the :func:`_bpe_seg_counts` session cache (one 8-round
    loop per session), joins the language column, and aggregates
    exact integer totals; fertility = one double division on exact
    int64 sums. Universe = the segmentable corpus (docs with ≥1
    word)."""
    counts = _bpe_seg_counts(spark, sf_dir)
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    return (
        counts.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_bpe_tokens",
            (
                F.col("total_bpe_tokens").cast("double")
                / F.col("total_words")
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


#: X194 coverage-curve vocabulary sizes — small because the 8-merge
#: BPE vocab tops out near ~40 distinct pieces on this corpus; a real
#: deployment sweeps {8k..256k} with the identical arithmetic.
VOCAB_SIZES = (4, 8, 16, 32, 64)
#: VALUES-list fragment interpolated into both coverage oracles so
#: the grid cannot desynchronize from VOCAB_SIZES
_VS_VALUES = "),(".join(str(v) for v in VOCAB_SIZES)


def _piece_tables(spark: SparkSession, sf_dir: str) -> dict:
    """(word, piece, n_in_word) per tokenizer, computed (and
    localCheckpoint-materialized) at most once per (session, sf_dir)
    — the X194 audit's inputs, riding the same trained state the
    X103/X139 session caches already pay for."""
    return {
        "bpe": _session_cached(
            spark,
            ("bpe_pieces", sf_dir, 8),
            lambda: materialize(text.bpe_pieces(_docs(spark, sf_dir), k=8)),
        ),
        "unigram": _session_cached(
            spark,
            ("unigram_pieces", sf_dir, text.UNIGRAM_ROUNDS),
            lambda: materialize(
                text.unigram_pieces(_docs(spark, sf_dir))
            ),
        ),
    }


def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X194: tokenizer VOCABULARY-COVERAGE / OOV audit (r11 VERDICT
    ask #8) — the eval the tokenizer pair still lacked: per language
    and per candidate vocabulary size V, the fraction of the corpus's
    PIECE OCCURRENCES covered by the GLOBAL top-V pieces (ranked by
    corpus frequency, ties by piece string). 1 − coverage is the
    byte-fallback-rate proxy — the number that actually sets V, and
    per-LANGUAGE because a vocab budgeted on the majority language
    quietly byte-falls-back on the under-represented ones (the X124
    fertility story, coverage-side).

    Exactness: piece multiplicities are exact integers from the
    learn/apply-shared loops (X103 BPE, X139 unigram); per-language
    totals weight them by exact (lang, word) occurrence counts; the
    global ranking is ROW_NUMBER over (total DESC, piece); coverage
    is one int/int double division. Unigram universe = segmentable
    words (≤ UNIGRAM_MAX_WORD chars), BPE = all words — each
    tokenizer's own apply universe, mirrored in the oracle.

    Scale shape: both piece tables live on the DISTINCT-WORD grain
    (≪ corpus); the corpus-sized work is one (lang, word) count; the
    ranking is a vocab-sized window; the coverage grid is a
    vocab × |VOCAB_SIZES| broadcast cross — metadata all the way.

    Output: (tokenizer, lang, vocab_size, covered_occurrences,
    total_occurrences, coverage)."""
    docs = _docs(spark, sf_dir)
    # r12 optimization (guide §2.4): the (lang, word) occurrence table
    # is the only corpus-sized input and it is TOKENIZER-INDEPENDENT,
    # yet the loop body referenced it in two branches per tokenizer —
    # four corpus tokenize+aggregate passes for one identical frame.
    # Checkpoint it once (distinct-word grain, ≪ corpus) and hoist the
    # word-frequency rollup out of the loop; per-tokenizer arithmetic
    # downstream is unchanged, so values are bit-identical.
    lw = materialize(
        docs.select(
            "lang",
            F.explode(F.split("text", r"\s+")).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("occ"))
    )
    freq = lw.groupBy("word").agg(F.sum("occ").alias("freq"))
    out = None
    for name, wp in sorted(_piece_tables(spark, sf_dir).items()):
        pt = (
            wp.join(freq, "word")
            .groupBy("piece")
            .agg(
                F.sum(F.col("freq") * F.col("n_in_word"))
                .cast("long")
                .alias("total")
            )
        )
        pr = pt.select(
            "piece",
            F.row_number()
            .over(Window.orderBy(F.desc("total"), F.col("piece")))
            .alias("rnk"),
        )
        lp = (
            lw.join(wp, "word")
            .groupBy("lang", "piece")
            .agg(
                F.sum(F.col("occ") * F.col("n_in_word"))
                .cast("long")
                .alias("n")
            )
        )
        vs = spark.range(0).sparkSession.createDataFrame(
            [(v,) for v in VOCAB_SIZES], "vocab_size int"
        )
        cov = (
            lp.join(F.broadcast(pr), "piece")
            .crossJoin(F.broadcast(vs))
            .groupBy("lang", "vocab_size")
            .agg(
                F.sum(
                    F.when(F.col("rnk") <= F.col("vocab_size"),
                           F.col("n")).otherwise(F.lit(0))
                ).cast("long").alias("covered_occurrences"),
                F.sum("n").cast("long").alias("total_occurrences"),
            )
            .select(
                F.lit(name).alias("tokenizer"),
                "lang",
                "vocab_size",
                "covered_occurrences",
                "total_occurrences",
                (
                    F.col("covered_occurrences").cast("double")
                    / F.col("total_occurrences").cast("double")
                ).alias("coverage"),
            )
        )
        out = cov if out is None else out.unionByName(cov)
    return out.orderBy("tokenizer", "lang", "vocab_size")


def text_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125: ensemble quality scoring — the production curation move
    of COMBINING independent quality signals instead of trusting one
    (heuristic X9 + hashed-linear model X98 + trained bigram-LM X119;
    each catches junk the others miss: rule-breaking formatting,
    off-distribution features, implausible transitions). Each signal
    is min-max normalized to [0, 10⁶] with ONE quantization
    (round(10⁶·(s−min)/(max−min)) on engine-identical doubles;
    constant signals normalize to 0), and the ensemble is the exact
    int64 sum of the three — order-free, replayed verbatim by the
    oracle from the three signals' own oracle CTEs. Min/max are 1-row
    broadcast frames (IEEE min/max are order-independent), so the
    plan is three signal scans + map-side normalization — no
    corpus-wide rank window, which would not scale. Universe = docs
    scoreable by all three legs (≥2 tokens for the LM). Rides the
    :func:`_ensemble_scores` session cache (shared with the X129
    curriculum plan)."""
    return _ensemble_scores(spark, sf_dir)


def _ensemble_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X125 ensemble frame, computed (and localCheckpoint-
    materialized) at most once per (session, sf_dir)."""
    return _session_cached(
        spark,
        ("ensemble", sf_dir),
        lambda: materialize(_ensemble_build(spark, sf_dir)),
    )


def _ensemble_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    legs = [
        (
            "q_heur",
            text.quality_score(docs).select(
                "doc_id", F.col("quality_score").alias("s")
            ),
        ),
        (
            "q_model",
            text.hashed_linear_score(docs).select(
                "doc_id", F.col("model_score").alias("s")
            ),
        ),
        (
            "q_lm",
            text.lm_bigram_score(docs).select(
                "doc_id", F.col("lm_score").alias("s")
            ),
        ),
    ]
    normed = None
    for name, leg in legs:
        mm = leg.agg(F.min("s").alias("mn"), F.max("s").alias("mx"))
        n = leg.crossJoin(F.broadcast(mm)).select(
            "doc_id",
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.round(
                    F.lit(1e6)
                    * (F.col("s") - F.col("mn"))
                    / (F.col("mx") - F.col("mn")),
                    0,
                )
            )
            .cast("long")
            .alias(name),
        )
        normed = n if normed is None else normed.join(n, "doc_id")
    total = F.col("q_heur") + F.col("q_model") + F.col("q_lm")
    return normed.select(
        "doc_id",
        "q_heur",
        "q_model",
        "q_lm",
        total.alias("ensemble_q"),
        (total.cast("double") / F.lit(3e6)).alias("ensemble"),
    ).orderBy("doc_id")


def events_cms_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181: the COUNT sketch's deployment shape — per-DAY Count-Min
    cells merged to a range sketch (cell-wise SUM — sketch.cms_merge),
    completing the mergeability trilogy: quantiles (X91), distincts
    (X158/X163), now frequencies. Each day's job persists depth×width
    counters; any range's heavy-hitter estimates come from the SUMMED
    cells without re-reading the stream. As in X163, the value-hash
    gate IS the cross-engine merge proof: Spark's estimates probe the
    merged daily cells while the oracle builds the range sketch
    DIRECTLY over all events — equal only because merge ≡ direct
    (counter-sum associativity, also unit-pinned). Estimates audited
    against exact counts with the CM overestimate (≥ 0 by theorem,
    pinned in pytest)."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    events = load_table(spark, sf_dir, "events")
    keyed = events.select(
        as_timestamp(events, "ts").cast("date").cast("string").alias(
            "day"
        ),
        F.col("user_id").cast("string").alias("item"),
    )
    daily_cells = sketch.cms_cells(keyed, group_cols=["day"])
    merged = sketch.cms_merge(daily_cells.select("d", "c", "n"))
    candidates = keyed.select("item").distinct()
    est = sketch.cms_probe(merged, candidates)
    exact = keyed.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    return (
        est.join(exact, "item")
        .select(
            F.col("item").alias("user_id"),
            "cm_estimate",
            "exact_count",
            (F.col("cm_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overestimate"),
        )
        .orderBy("user_id")
    )


def corpus_mixture_actuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183: mixture PLAN vs post-curation ACTUALS — the
    build-readiness check run after the funnel and before packing
    (X81 allocates the budget against the RAW inventory; curation
    then removes duplicates, low-quality and contaminated docs, so a
    source can silently become unable to FILL its allocation — this
    is the table that catches it): per source, the plan's allocation
    (mixture_plan over the raw corpus, verbatim) joined to the tokens
    actually SURVIVING the full X148 chain (shared
    :func:`_funnel_stage_ids` — the decontaminated stage), with the
    integer shortfall and one coverage division. All counts exact
    int64; the stage ids ride the session caches."""
    docs = _docs(spark, sf_dir)
    plan = sampling.mixture_plan(docs).select(
        "source", "alloc_tokens"
    )
    dec_ids = dict(_funnel_stage_ids(spark, sf_dir))["5_decontaminated"]
    survivors = docs.join(dec_ids, "doc_id").select(
        "source", F.size(text.tokens_col()).cast("long").alias("ntok")
    )
    actual = survivors.groupBy("source").agg(
        F.sum("ntok").cast("long").alias("actual_tokens")
    )
    return (
        plan.join(actual, "source", "left")
        .select(
            "source",
            "alloc_tokens",
            F.coalesce("actual_tokens", F.lit(0))
            .cast("long")
            .alias("actual_tokens"),
            F.greatest(
                F.col("alloc_tokens")
                - F.coalesce("actual_tokens", F.lit(0)),
                F.lit(0),
            )
            .cast("long")
            .alias("shortfall_tokens"),
            (
                F.coalesce("actual_tokens", F.lit(0)).cast("double")
                / F.col("alloc_tokens").cast("double")
            ).alias("coverage"),
        )
        .orderBy("source")
    )


def docs_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184: language-ID CONFUSION matrix — the audit-the-classifier
    discipline (X88 for ANN, X147 for sketches, X178 for quality
    scorers) applied to X10: the heuristic's predictions cross-
    tabulated against the corpus's declared labels, per-cell share of
    the declared label, and the overall accuracy carried on every row
    as the one-number verdict. The table that decides whether the
    stopword heuristic is good enough for routing or a trained
    identifier is warranted. One classify pass + a |langs|² aggregate."""
    pred = text.language_id(_docs(spark, sf_dir))
    conf = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    per_label = conf.groupBy("labeled_lang").agg(
        F.sum("n_docs").cast("long").alias("_label_n")
    )
    acc = pred.agg(
        (
            F.sum(
                (F.col("labeled_lang") == F.col("predicted_lang")).cast(
                    "long"
                )
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("overall_accuracy")
    )
    return (
        conf.join(per_label, "labeled_lang")
        .crossJoin(F.broadcast(acc))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            (
                F.col("n_docs").cast("double")
                / F.col("_label_n").cast("double")
            ).alias("share_of_label"),
            "overall_accuracy",
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


def docs_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X185: the training-shard MANIFEST — what a data loader actually
    reads before touching a shard (X13 assigns docs to shards; the
    loader wants the per-shard inventory): for every shard, how many
    documents START in it, total tokens contributed by those docs,
    the (first, last) doc ids, and how many docs straddle onward into
    later shards. One aggregate over the packing assignment —
    metadata-scale output by construction (one row per shard)."""
    packed = packing.pack_sequences(_docs(spark, sf_dir))
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum(
                (F.col("n_shards_spanned") > 1).cast("long")
            ).cast("long").alias("n_straddlers"),
        )
        .orderBy("shard_id")
    )


def events_weekly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X186: day-of-week × hour traffic PROFILE — the seasonality
    matrix behind X173's backtest (the backtest says 'same day last
    week' predicts well; this is the shape it exploits, and the grid
    capacity planning reads): exact counts per (dow, hour) cell with
    each cell's share of its day-of-week — one map-side-combined
    aggregate, ≤ 7×24 output rows at any scale."""
    from aws_kinesis_data_ingestion_restapi_spark.functions.exact import (
        as_timestamp,
    )

    events = load_table(spark, sf_dir, "events")
    ts = as_timestamp(events, "ts")
    cells = events.groupBy(
        F.dayofweek(ts).cast("int").alias("dow"),
        F.hour(ts).cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    per_dow = cells.groupBy("dow").agg(
        F.sum("n_events").cast("long").alias("_dn")
    )
    return (
        cells.join(per_dow, "dow")
        .select(
            "dow",
            "hour",
            "n_events",
            (
                F.col("n_events").cast("double") / F.col("_dn").cast("double")
            ).alias("share_of_dow"),
        )
        .orderBy("dow", "hour")
    )


def quality_scorer_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X178: quality-scorer AGREEMENT audit — the X95 cross-signal
    discipline applied to the QUALITY family (X125 sums three scorers
    into an ensemble; this measures whether they actually agree, the
    number that decides if a scorer is redundant or catching junk the
    others miss): Pearson r between each PAIR of normalized signals
    (heuristic X9 / hashed-linear X98 / bigram-LM X119), computed
    from exact integer sufficient statistics over the session-cached
    ensemble frame (signals are already 0..10⁶ ints there) — sums in
    decimal(38) so the audit survives any corpus size, one
    sqrt-formula double per pair (IEEE sqrt is correctly rounded,
    the X82 precedent)."""
    ens = _ensemble_scores(spark, sf_dir)
    pairs = [
        ("heur_vs_model", "q_heur", "q_model"),
        ("heur_vs_lm", "q_heur", "q_lm"),
        ("model_vs_lm", "q_model", "q_lm"),
    ]
    out = None
    for name, xc, yc in pairs:
        x, y = F.col(xc), F.col(yc)
        d38 = "decimal(38,0)"
        per = ens.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x.cast(d38)).alias("sx"),
            F.sum(y.cast(d38)).alias("sy"),
            F.sum((x * x).cast(d38)).alias("sxx"),
            F.sum((y * y).cast(d38)).alias("syy"),
            F.sum((x * y).cast(d38)).alias("sxy"),
        )
        row = per.select(
            F.lit(name).alias("pair"),
            F.col("n").cast("long").alias("n_docs"),
            (
                (
                    F.col("n").cast("double") * F.col("sxy").cast("double")
                    - F.col("sx").cast("double") * F.col("sy").cast("double")
                )
                / (
                    F.sqrt(
                        F.col("n").cast("double")
                        * F.col("sxx").cast("double")
                        - F.col("sx").cast("double")
                        * F.col("sx").cast("double")
                    )
                    * F.sqrt(
                        F.col("n").cast("double")
                        * F.col("syy").cast("double")
                        - F.col("sy").cast("double")
                        * F.col("sy").cast("double")
                    )
                )
            ).alias("pearson_r"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pair")


CHUNK_UID_MOD = 1024  # chunk uid = doc_id·1024 + chunk_idx


def docs_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X132: pack the RAG CHUNK store into fixed-budget training
    shards — the step that turns X121's chunk stream into the
    contiguous shards a context-window training run reads (same X13
    two-level prefix-sum arithmetic, same 512-token budget, unit =
    chunk instead of document). Chunk identity rides a composite uid
    (doc_id·1024 + chunk_idx — exact while chunk_idx < 1024, which a
    32-token window over these documents guarantees by orders of
    magnitude; the multiplier is the first thing to raise for a
    book-length corpus), so packing order is exactly (doc_id,
    chunk_idx) and provenance decodes back out of the uid in the
    final projection. A per-row raise_error guard fails the query
    loudly if any chunk_idx reaches CHUNK_UID_MOD (r9 ADVICE: an
    overflow would alias uids identically in both engines, so the
    DuckDB gate could never see it — failing is the only honest
    behavior)."""
    ch = text.chunk_documents(_docs(spark, sf_dir)).select(
        F.when(
            F.col("chunk_idx") >= CHUNK_UID_MOD,
            F.raise_error(
                F.concat(
                    F.lit(
                        "docs_pack_chunks: chunk_idx overflows the "
                        f"uid modulus {CHUNK_UID_MOD} for doc_id "
                    ),
                    F.col("doc_id").cast("string"),
                    F.lit(" — raise CHUNK_UID_MOD"),
                )
            ).cast("long"),
        )
        .otherwise(F.col("doc_id") * CHUNK_UID_MOD + F.col("chunk_idx"))
        .alias("doc_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    packed = packing.pack_counts(ch)
    return packed.select(
        F.expr(f"doc_id DIV {CHUNK_UID_MOD}").alias("src_doc_id"),
        (F.col("doc_id") % CHUNK_UID_MOD).alias("chunk_idx"),
        "n_tokens",
        "shard_id",
        "shard_offset",
        "n_shards_spanned",
    ).orderBy("src_doc_id", "chunk_idx")


def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131: the source-level near-dup contamination MATRIX — which
    sources copy from which: every MinHash near-dup pair mapped to
    its (source, source) cell, direction canonicalized by name so
    mirror-imaged syndication lands in one cell. The report a crawl
    pipeline reads to decide which feeds to drop or down-weight
    (off-diagonal mass = cross-source syndication; diagonal mass =
    within-source recrawl). Rides the :func:`_minhash_pairs` session
    cache — the matrix costs two broadcast source joins over the
    pair-sized frame, nothing corpus-sized."""
    pairs = _minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    joined = pairs.join(
        F.broadcast(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            )
        ),
        "doc_a",
    ).join(
        F.broadcast(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            )
        ),
        "doc_b",
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


CURRICULUM_BUDGET = 50_000  # per-phase token budget


def corpus_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X129: quality-curriculum mixture plan — the phase schedule of
    curriculum training (start on the highest-quality slice, widen
    the admitted pool each phase): docs are tiered by the X125
    ensemble score with FIXED integer thresholds (ensemble_q ≥ 2·10⁶
    → high, ≥ 10⁶ → mid, else low — exact int comparisons, no
    corpus-wide rank window), and each phase p ∈ {1, 2, 3} allocates a
    50k-token budget across its ADMITTED tiers (tier rank ≤ p)
    proportionally to inventory with X81's integer arithmetic
    (avail·B DIV admitted_total, capped at avail, fill ratio = one
    division). Token inventory = the shared whitespace tokenizer.

    Scale shape: after the per-tier aggregate everything is a ≤9-row
    metadata grid; the only corpus-sized work is the ensemble (rides
    the :func:`_ensemble_scores` session cache) + one token-count
    scan."""
    ens = _ensemble_scores(spark, sf_dir).select("doc_id", "ensemble_q")
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.size(text.tokens_col()).alias("n_tokens")
    )
    tiers = (
        ens.join(toks, "doc_id")
        .select(
            "n_tokens",
            F.when(F.col("ensemble_q") >= 2_000_000, F.lit("high"))
            .when(F.col("ensemble_q") >= 1_000_000, F.lit("mid"))
            .otherwise(F.lit("low"))
            .alias("tier"),
            F.when(F.col("ensemble_q") >= 2_000_000, F.lit(1))
            .when(F.col("ensemble_q") >= 1_000_000, F.lit(2))
            .otherwise(F.lit(3))
            .alias("tier_rank"),
        )
        .groupBy("tier", "tier_rank")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("avail_tokens"),
        )
    )
    phases = spark.range(1, 4).select(
        F.col("id").cast("int").alias("phase")
    )
    grid = tiers.crossJoin(F.broadcast(phases)).filter(
        F.col("tier_rank") <= F.col("phase")
    )
    ptot = grid.groupBy("phase").agg(
        F.sum("avail_tokens").alias("phase_total")
    )
    b = CURRICULUM_BUDGET
    return (
        grid.join(ptot, "phase")
        .select(
            "phase",
            "tier",
            "n_docs",
            "avail_tokens",
            F.expr(f"avail_tokens * {b} DIV phase_total").alias(
                "target_tokens"
            ),
            F.expr(
                f"least(avail_tokens, avail_tokens * {b} DIV phase_total)"
            ).alias("alloc_tokens"),
            F.expr(
                f"CASE WHEN avail_tokens * {b} DIV phase_total = 0"
                f" THEN 1.0 ELSE"
                f" CAST(least(avail_tokens,"
                f" avail_tokens * {b} DIV phase_total) AS DOUBLE)"
                f" / CAST(avail_tokens * {b} DIV phase_total AS DOUBLE)"
                f" END"
            ).alias("fill_ratio"),
        )
        .orderBy("phase", "tier")
    )


def dedup_chunks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X126: exact dedup of the RAG chunk store — X121's chunks are
    what retrieval actually indexes, and recrawled/duplicated
    documents produce byte-identical chunks that waste index space
    and bias retrieval toward duplicated content. Groups chunks by
    text, keeps the lexicographically-first (doc_id, chunk_idx) as
    the canonical copy, reports every duplicated chunk with its copy
    count (the X1 keep-first contract at chunk granularity). At
    deployment scale the group key would be a 128-bit content hash
    with the text verified inside the group; grouping on the text
    here keeps the oracle byte-exact and the shuffle carries one
    chunk either way."""
    ch = text.chunk_documents(_docs(spark, sf_dir))
    return (
        ch.groupBy("chunk_text")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.struct("doc_id", "chunk_idx")).alias("first"),
        )
        .filter(F.col("n_copies") >= 2)
        .select(
            F.col("first.doc_id").alias("first_doc"),
            F.col("first.chunk_idx").alias("first_chunk"),
            "n_copies",
            "chunk_text",
        )
        .orderBy("first_doc", "first_chunk")
    )



# ---------------------------------------------------------------------------
# X188/X189: line-level boilerplate removal (CCNet-style line dedup)
# ---------------------------------------------------------------------------

#: Boilerplate rule constants — interpolated into the oracle SQL so
#: the two sides cannot desynchronize (the r11 MMR lesson).
BOILERPLATE_MIN_DOCS = 2
BOILERPLATE_MAX_SHARE = 0.5
#: tokens per derived body line in the lined-corpus fixture
LINE_WIDTH = 12


def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-LINE corpus fixture for the line-dedup pair
    (X188/X189): the driver's documents carry no newlines, so — the
    engineered-corruption discipline the FK gate (every 13th key
    offset) and the ER fixture (midpoint substitution) use — each
    document is re-laid-out as a TEMPLATE PAGE: a per-source
    navigation header line, the document's own tokens re-wrapped
    into LINE_WIDTH-token body lines, and a per-source copyright
    footer line. Within a source the header/footer recur in EVERY
    document (textbook boilerplate, doc_share = 1.0) while body
    lines are unique prose — exactly the geometry CCNet §4.1 line
    dedup exists to separate. Deterministic: derived from tokens
    only, no randomness."""
    toks = text.tokens_col()
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", toks.alias("_t")
    )
    w = LINE_WIDTH
    body = F.when(F.size("_t") > 0, F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size("_t") - 1) / w).cast("int")
        ),
        lambda i: F.array_join(F.slice("_t", i * w + 1, w), " "),
    )).otherwise(F.array().cast("array<string>"))
    header = F.concat(
        F.lit("home about contact login search "), F.col("source")
    )
    footer = F.concat(
        F.lit("copyright "),
        F.col("source"),
        F.lit(" all rights reserved cookie policy"),
    )
    return docs.select(
        "doc_id",
        "source",
        F.array_join(
            F.concat(F.array(header), body, F.array(footer)), "\n"
        ).alias("text"),
    )


def _lined_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ntok) over the LINED template-page corpus —
    the as-crawled token accounting the funnels' pre-strip stages
    use. Cheap projection; cached for symmetry with _clean_tok."""
    return _session_cached(
        spark,
        ("lined_tok", sf_dir),
        lambda: materialize(
            _lined_docs(spark, sf_dir).select(
                "doc_id",
                "source",
                F.size(text.tokens_col()).cast("long").alias("ntok"),
            )
        ),
    )


def _clean_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, ntok) AFTER the X189 boilerplate strip —
    computed (and localCheckpoint-materialized) at most once per
    (session, sf_dir); shared by both funnels' 2b stage."""
    return _session_cached(
        spark,
        ("clean_tok", sf_dir),
        lambda: materialize(
            dedup.strip_boilerplate_lines(
                _lined_docs(spark, sf_dir),
                min_docs=BOILERPLATE_MIN_DOCS,
                max_share=BOILERPLATE_MAX_SHARE,
            ).select(
                "doc_id",
                "source",
                F.size(text.tokens_col("text_clean"))
                .cast("long")
                .alias("ntok"),
            )
        ),
    )


def dedup_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X188: per-source line-repetition REPORT — the CCNet §4.1
    measurement (r11 VERDICT ask #5): how much of each source is
    verbatim-repeated template lines vs unique prose. The flag rule
    (>= BOILERPLATE_MIN_DOCS docs AND >= BOILERPLATE_MAX_SHARE of the
    source's documents) keys per SOURCE because boilerplate is a
    property of the site template. bp_token_share weights each
    distinct line by its token length x document occurrences, so the
    number reads as "share of the source's line-token volume that is
    boilerplate" — the stat that decides whether a feed needs
    stripping at the intake.

    Scale: dedup.line_stats is one linear explode + one
    (source, line)-keyed count-distinct with map-side partials + a
    broadcast source-size dim; this report adds one per-source
    aggregate. Never all-pairs. Fixture: :func:`_lined_docs`."""
    st = dedup.line_stats(
        _lined_docs(spark, sf_dir),
        min_docs=BOILERPLATE_MIN_DOCS,
        max_share=BOILERPLATE_MAX_SHARE,
    )
    wt = st.select(
        "source",
        "is_boilerplate",
        "n_docs_with_line",
        F.size(text.tokens_col("line")).cast("long").alias("_ltok"),
    )
    return (
        wt.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_lines"),
            F.sum(F.when(F.col("is_boilerplate"), 1).otherwise(0))
            .cast("long")
            .alias("n_boilerplate_lines"),
            F.sum(
                F.when(
                    F.col("is_boilerplate"),
                    F.col("_ltok") * F.col("n_docs_with_line"),
                ).otherwise(F.lit(0))
            ).cast("long").alias("bp_line_tokens"),
            F.sum(F.col("_ltok") * F.col("n_docs_with_line"))
            .cast("long")
            .alias("total_line_tokens"),
        )
        .select(
            "source",
            "n_distinct_lines",
            "n_boilerplate_lines",
            (
                F.col("bp_line_tokens").cast("double")
                / F.col("total_line_tokens").cast("double")
            ).alias("bp_token_share"),
        )
        .orderBy("source")
    )


def dedup_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X189: line-level boilerplate removal APPLY — the curation
    stage between exact dedup and near-dup detection that the funnel
    lacked (r11 VERDICT ask #5): re-emit every document with its
    source's boilerplate lines stripped, unique prose intact, order
    preserved. The cleaned text is reported as md5 so the oracle
    pins every byte of the reassembly (join order, delimiter) without
    shipping megabytes of text through the gate harness.

    Scale: dedup.strip_boilerplate_lines — the flagged-line table
    hash-joins the exploded lines on the same (source, line) key the
    stats grouped by (co-partitioned), reassembly is one per-doc
    sort-aggregate. Fixture: :func:`_lined_docs` (engineered
    header/footer boilerplate; the pytest pin proves the shared
    header is removed and unique prose survives)."""
    cleaned = dedup.strip_boilerplate_lines(
        _lined_docs(spark, sf_dir),
        min_docs=BOILERPLATE_MIN_DOCS,
        max_share=BOILERPLATE_MAX_SHARE,
    )
    return cleaned.select(
        "doc_id",
        "source",
        "n_lines",
        "n_kept_lines",
        F.size(text.tokens_col("text_clean")).cast("long").alias(
            "n_tokens_clean"
        ),
        F.md5(F.col("text_clean")).alias("clean_md5"),
    ).orderBy("doc_id")


# X188/X189 lined-corpus fixture macro: the identical template-page
# layout _lined_docs builds (per-source header, LINE_WIDTH-token body
# lines, per-source footer), so both engines tokenize and re-wrap the
# same bytes. Rule constants interpolate from the module so the two
# sides cannot desynchronize.
_LINED_SQL = f"""
    SELECT doc_id, source,
           array_to_string(
             list_concat(list_concat(
               ['home about contact login search ' || source],
               CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[]) ELSE
                 list_transform(generate_series(0, (len(t)-1)//{LINE_WIDTH}),
                   i -> array_to_string(
                          t[i*{LINE_WIDTH}+1 : i*{LINE_WIDTH}+{LINE_WIDTH}],
                          ' '))
               END),
               ['copyright ' || source || ' all rights reserved cookie policy']
             ), chr(10)) AS text
    FROM (SELECT doc_id, source, {_TOKS} AS t FROM documents)
"""

_LINE_TOKS = (
    r"list_filter(string_split_regex(lower(trim(line)), '\s+'),"
    r" t -> t != '')"
)


#: per-doc CLEANED token counts under the X189 strip rule, as a
#: subquery that references a CTE named ``lined`` — shared by the
#: X189 oracle-adjacent funnels so the funnel's 2b stage replays the
#: identical strip arithmetic. Emits (doc_id, source, cntok).
_CLEAN_NTOK_SQL = f"""(
    WITH ls2 AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls
                 FROM lined),
    l2 AS (SELECT doc_id, source, unnest(ls) AS line FROM ls2),
    pl2 AS (SELECT source, line,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
            FROM l2 GROUP BY 1, 2),
    ss2 AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nsrc
            FROM lined GROUP BY 1),
    bp2 AS (SELECT pl2.source, pl2.line
            FROM pl2 JOIN ss2 USING (source)
            WHERE nd >= {BOILERPLATE_MIN_DOCS}
              AND CAST(nd AS DOUBLE) >=
                  {BOILERPLATE_MAX_SHARE!r} * CAST(nsrc AS DOUBLE)),
    kept2 AS (SELECT l2.doc_id, l2.line FROM l2
              LEFT JOIN bp2 ON bp2.source = l2.source
                           AND bp2.line = l2.line
              WHERE bp2.line IS NULL),
    kt AS (SELECT doc_id,
                  CAST(COALESCE(SUM(len({_LINE_TOKS})), 0) AS BIGINT)
                      AS cntok
           FROM kept2 GROUP BY 1)
    SELECT d.doc_id, d.source, COALESCE(kt.cntok, 0) AS cntok
    FROM (SELECT doc_id, source FROM lined) d LEFT JOIN kt USING (doc_id)
)"""



EXT_QUERY_FNS = {
    "text_token_stats": text_token_stats,
    "text_quality_score": text_quality_score,
    "text_model_quality": text_model_quality,
    "curation_source_caps": curation_source_caps,
    "text_language_id": text_language_id,
    "text_fingerprint": text_fingerprint,
    "text_pii_redact": text_pii_redact,
    "text_pii_extract": text_pii_extract,
    "events_user_skew": events_user_skew,
    "warehouse_fk_audit": warehouse_fk_audit,
    "warehouse_column_stats": warehouse_column_stats,
    "dedup_benchmark_canaries": dedup_benchmark_canaries,
    "warehouse_null_profile": warehouse_null_profile,
    "corpus_delete_apply": corpus_delete_apply,
    "text_pack_sequences": text_pack_sequences,
    "text_stratified_sample": text_stratified_sample,
    "text_quality_sample": text_quality_sample,
    "text_vocab_growth": text_vocab_growth,
    "text_ngram_novelty": text_ngram_novelty,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_segment": text_bpe_segment,
    "text_pack_bpe": text_pack_bpe,
    "corpus_mixture_bpe": corpus_mixture_bpe,
    "text_dsir_importance": text_dsir_importance,
    "dedup_boilerplate_lines": dedup_boilerplate_lines,
    "dedup_strip_boilerplate": dedup_strip_boilerplate,
    "text_lm_score": text_lm_score,
    "text_tfidf_search": text_tfidf_search,
    "retrieval_hybrid_rrf3": retrieval_hybrid_rrf3,
    "retrieval_mmr_topk": retrieval_mmr_topk,
    "retrieval_known_item_eval": retrieval_known_item_eval,
    "retrieval_eval_mrr": retrieval_eval_mrr,
    "docs_chunk_overlap": docs_chunk_overlap,
    "dedup_decontaminate": dedup_decontaminate,
    "dedup_source_vocab_overlap": dedup_source_vocab_overlap,
    "dedup_cluster_size_histogram": dedup_cluster_size_histogram,
    "emb_semantic_contamination": emb_semantic_contamination,
    "dedup_decontaminate_semantic": dedup_decontaminate_semantic,
    "emb_pca_power": emb_pca_power,
    "ann_label_audit": ann_label_audit,
    "ann_label_audit_clustered": ann_label_audit_clustered,
    "emb_anisotropy_audit": emb_anisotropy_audit,
    "text_bpe_fertility": text_bpe_fertility,
    "text_quality_ensemble": text_quality_ensemble,
    "text_vocab_coverage": text_vocab_coverage,
    "text_zipf_octaves": text_zipf_octaves,
    "docs_quality_by_length": docs_quality_by_length,
    "quality_scorer_agreement": quality_scorer_agreement,
    "docs_language_confusion": docs_language_confusion,
    "docs_pack_manifest": docs_pack_manifest,
    "events_weekly_profile": events_weekly_profile,
    "corpus_mixture_actuals": corpus_mixture_actuals,
    "events_cms_users_daily": events_cms_users_daily,
    "dedup_chunks_exact": dedup_chunks_exact,
    "corpus_curriculum_plan": corpus_curriculum_plan,
    "dedup_source_matrix": dedup_source_matrix,
    "docs_pack_chunks": docs_pack_chunks,
    "text_keywords": text_keywords,
    "text_collocations": text_collocations,
    "text_build_postings": text_build_postings,
    "text_phrase_search": text_phrase_search,
    "graph_triangles_cosupply": graph_triangles_cosupply,
    "docs_sample_fixed": docs_sample_fixed,
    "docs_sample_fixed_per_lang": docs_sample_fixed_per_lang,
    "er_link_dirty_names": er_link_dirty_names,
    "text_tokenizer_compare": text_tokenizer_compare,
    "docs_split_leakage_audit": docs_split_leakage_audit,
    "docs_split_assign": docs_split_assign,
    "docs_split_leakage_safe": docs_split_leakage_safe,
    "corpus_mixture_plan": corpus_mixture_plan,
    "corpus_mixture_temperature": corpus_mixture_temperature,
    "text_repetition": text_repetition,
    "text_bm25_search": text_bm25_search,
    "retrieval_hybrid_rrf": retrieval_hybrid_rrf,
    "docs_expectations": docs_expectations,
    "sketch_distinct_trigrams": sketch_distinct_trigrams,
    "sketch_accuracy_audit": sketch_accuracy_audit,
    "docs_hll_distinct_audit": docs_hll_distinct_audit,
    "events_hll_users_daily": events_hll_users_daily,
    "corpus_funnel_report": corpus_funnel_report,
    "corpus_funnel_by_source": corpus_funnel_by_source,
    "customers_k_anonymity": customers_k_anonymity,
    "customers_k_generalize": customers_k_generalize,
    "customers_l_diversity": customers_l_diversity,
    "customers_t_closeness": customers_t_closeness,
    "orders_ship_latency": orders_ship_latency_quantiles,
    "events_hourly_acf": events_hourly_acf,
    "graph_supplier_similarity": graph_supplier_similarity,
    "sketch_bloom_fpr": sketch_bloom_fpr,
    "emb_distance_octaves": emb_distance_octaves,
    "retrieval_eval_ndcg": retrieval_eval_ndcg,
    "events_pettitt_changepoint": events_pettitt_changepoint,
    "mm_storage_profile": mm_storage_profile,
    "events_benford_audit": events_benford_audit,
    "dedup_band_load_octaves": dedup_band_load_octaves,
    "graph_degree_octaves": graph_degree_octaves,
    "quality_calibration_matrix": quality_calibration_matrix,
    "events_funnel_latency": events_funnel_latency,
    "docs_quality_floor_sweep": docs_quality_floor_sweep,
    "warehouse_partition_advisor": warehouse_partition_advisor,
    "emb_pq_distortion": emb_pq_distortion,
    "docs_split_balance": docs_split_balance,
    "events_session_profile": events_session_profile,
    "retrieval_margin_profile": retrieval_margin_profile,
    "corpus_content_hashes": corpus_content_hashes,
    "docs_sample_weighted_k": docs_sample_weighted_k,
    "events_user_anomalies": events_user_anomalies,
    "sketch_heavy_hitters": sketch_heavy_hitters,
    "sketch_value_quantiles": sketch_value_quantiles,
    "events_type_value_quantiles": events_type_value_quantiles,
    "events_interarrival_quantiles": events_interarrival_quantiles,
    "events_user_gini": events_user_gini,
    "dedup_components": dedup_components,
    "dedup_components_star": dedup_components_star,
    "dedup_components_delta": dedup_components_delta,
    "er_entity_ids": er_entity_ids,
    "text_unigram_vocab": text_unigram_vocab,
    "text_unigram_segment": text_unigram_segment,
    "graph_pagerank_suppliers": graph_pagerank_suppliers,
    "graph_kcore_purchases": graph_kcore_purchases,
    "graph_communities_lpa": graph_communities_lpa,
    "dedup_canonical_docs": dedup_canonical_docs,
    "curation_pipeline": curation_pipeline,
    "dedup_exact_recrawl": dedup_exact_recrawl,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental_delta": dedup_incremental_delta,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_simhash_fingerprints": dedup_simhash_fingerprints,
    "dedup_substring_hotspots": dedup_substring_hotspots,
    "dedup_exact_substring": dedup_exact_substring,
    "dedup_remove_substrings": dedup_remove_substrings,
    "dedup_contamination": dedup_contamination,
    "dedup_ensemble": dedup_ensemble,
    "dedup_lsh_quality": dedup_lsh_quality,
    "dedup_signal_agreement": dedup_signal_agreement,
    "cdc_snapshot_diff": cdc_snapshot_diff,
    "cdc_scd2_history": cdc_scd2_history,
    "scd2_point_in_time": scd2_point_in_time,
    "asof_priority_rates": asof_priority_rates,
    "events_range_follow": events_range_follow,
    "ann_topk_brute": ann_topk_brute,
    "ann_topk_lsh": ann_topk_lsh,
    "ann_topk_lsh_multi": ann_topk_lsh_multi,
    "ann_topk_ivf": ann_topk_ivf,
    "emb_kmeans_step": emb_kmeans_step,
    "dedup_semantic": dedup_semantic,
    "emb_bitext_mine": emb_bitext_mine,
    "emb_pq_codes": emb_pq_codes,
    "ann_topk_pq": ann_topk_pq,
    "ann_topk_ivfpq": ann_topk_ivfpq,
    "ann_topk_ivfpq_trained": ann_topk_ivfpq_trained,
    "ann_topk_ivfpq_filtered": ann_topk_ivfpq_filtered,
    "ann_filtered_recall_audit": ann_filtered_recall_audit,
    "ann_index_health": ann_index_health,
    "ann_centroid_drift": ann_centroid_drift,
    "ann_recall_audit": ann_recall_audit,
    "ann_recall_clustered": ann_recall_clustered,
    "ann_truncation_audit": ann_truncation_audit,
    "emb_hard_negatives": emb_hard_negatives,
    "emb_near_dup": emb_near_dup,
    "emb_near_dup_lsh": emb_near_dup_lsh,
    "emb_near_dup_lsh_multi": emb_near_dup_lsh_multi,
    "mm_asset_stats": mm_asset_stats,
    "mm_fingerprint": mm_fingerprint,
    "mm_frame_sample": mm_frame_sample,
    "mm_phash_near_dup": mm_phash_near_dup,
    "mm_afp_near_dup": mm_afp_near_dup,
    "mm_video_near_dup": mm_video_near_dup,
    "mm_canonical_media": mm_canonical_media,
    "mm_phash_distance_histogram": mm_phash_distance_histogram,
    "mm_canonical_assets": mm_canonical_assets,
    "mm_extract_features": mm_extract_features,
    "mm_resize_images": mm_resize_images,
}

# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

_EN = _sql_list(text.STOPWORDS["en"])

_LANG_SCORES = ",\n               ".join(
    f"len(list_filter(toks, x -> list_contains({_sql_list(ws)}, x))) AS s_{lang}"
    for lang, ws in sorted(text.STOPWORDS.items())
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lg}" for lg in sorted(text.STOPWORDS)) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN best > 0 AND s_{lg} = best THEN '{lg}'" for lg in sorted(text.STOPWORDS)
    )
    + " ELSE 'und' END"
)

# X192 semantic-contamination flags: exact probe of the non-benchmark
# corpus against the 25 benchmark vectors (the shipped zero-false-
# negative path), in the quantized int64 domain; threshold 1.2*SCALE2
_SEM_HITS = """
        SELECT a.vec_id AS doc_id, b.vec_id AS bench_id,
               SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
        FROM ({comp}) a
        JOIN ({comp}) b ON a.i = b.i AND b.vec_id < 25
                       AND a.vec_id >= 25
        GROUP BY 1, 2
"""

# quantized embedding components (int64, scaled 10^4) with 1-based index i
_COMP = """
        SELECT vec_id, i,
               CAST(ROUND(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT) AS qx
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings)
"""

_SIGN_BUCKET = """
        SELECT vec_id,
               CAST(list_sum(list_transform(generate_series(1, 8),
                   i -> CASE WHEN CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                                  * 10000, 0) AS BIGINT) > 0
                             THEN CAST(power(2, i-1) AS INTEGER) ELSE 0 END))
                    AS INTEGER) AS bucket
        FROM embeddings
"""

# the multi-table bucketing: table t reads components [t·bits, (t+1)·bits),
# geometry shared with similarity.near_dup_lsh_multi via the same constants —
# including the dim guard (tables sliced past a vector's dimension are
# dropped for that vector, never hashed to a spurious bucket 0)
_MULTI_BUCKET = f"""
        SELECT vec_id, tt.t AS t,
               CAST(list_sum(list_transform(
                   generate_series(1, {similarity.SIGN_BITS}),
                   i -> CASE WHEN CAST(ROUND(CAST(
                                  embedding[tt.t * {similarity.SIGN_BITS} + i]
                                  AS DOUBLE) * 10000, 0) AS BIGINT) > 0
                             THEN CAST(power(2, i - 1) AS INTEGER)
                             ELSE 0 END)) AS INTEGER) AS bucket
        FROM embeddings,
             (SELECT unnest(generate_series(0, {similarity.N_TABLES - 1})) AS t) tt
        WHERE (tt.t + 1) * {similarity.SIGN_BITS} <= len(embedding)
"""

#: log₂-binned quantile-sketch binning of events.value (the SQL twin
#: of operators/sketch.quantile_sketch_histogram's bin expressions) —
#: shared by the batch audit oracle and the streaming-drain oracle in
#: registry.py.
QSKETCH_BIN_SQL = """
        s0 AS (
            SELECT event_type,
                   GREATEST(CAST(FLOOR(value * 100) AS BIGINT),
                            CAST(0 AS BIGINT)) AS s, value
            FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)
        ),
        b AS (
            SELECT event_type,
                CASE WHEN s <= 3 THEN s
                     ELSE 4 * (length(bin(s)) - 1)
                          + CAST(FLOOR(s / POWER(2.0, length(bin(s)) - 3))
                                 AS BIGINT) - 4
                END AS bin_idx,
                CASE WHEN s = 0 THEN 0.0
                     WHEN s <= 3 THEN (CAST(s AS DOUBLE) + 0.5) / 100.0
                     ELSE (FLOOR(s / POWER(2.0, length(bin(s)) - 3)) + 0.5)
                          * POWER(2.0, length(bin(s)) - 3) / 100.0
                END AS rep
            FROM s0
        )
"""

def _qsketch_audit_sql(group_col: str | None) -> str:
    """ONE SQL template for the global and grouped quantile-sketch
    audit oracles — the same single-copy principle as the Spark-side
    :func:`_quantile_audit`: the rank rule, the NULL/NaN exclusion and
    the rel_err formula exist once, with the group key as the only
    parameter."""
    k = f"{group_col}, " if group_col else ""
    ck = f"c.{group_col}, " if group_col else ""
    ek = f"e.{group_col}, " if group_col else ""
    pb = f"PARTITION BY {group_col} " if group_col else ""
    pbn = f"PARTITION BY {group_col}" if group_col else ""
    eq_dv = f"d.{group_col} = e.{group_col} AND " if group_col else ""
    eq_x = f"e.{group_col} = x.{group_col} AND " if group_col else ""
    return f"""
        WITH {QSKETCH_BIN_SQL},
        hist AS (
            SELECT {k}bin_idx, rep, COUNT(*) AS cnt FROM b GROUP BY ALL
        ),
        cum AS (
            SELECT {k}bin_idx, rep,
                   CAST(SUM(cnt) OVER ({pb}ORDER BY bin_idx)
                        AS BIGINT) AS cum,
                   CAST(SUM(cnt) OVER ({pbn}) AS BIGINT) AS n
            FROM hist
        ),
        qs AS (SELECT unnest([50, 90, 99]) AS q_pct),
        est AS (
            SELECT {k}q_pct, n, rep AS est FROM (
                SELECT {ck}q.q_pct, c.n, c.rep,
                       ROW_NUMBER() OVER (PARTITION BY {ck}q.q_pct
                                          ORDER BY c.bin_idx) AS rn
                FROM qs q JOIN cum c ON 100 * c.cum >= q.q_pct * c.n
            ) WHERE rn = 1
        ),
        dv AS (
            SELECT {k}value,
                   CAST(SUM(c) OVER ({pb}ORDER BY value) AS BIGINT) AS cum
            FROM (SELECT {k}value, COUNT(*) AS c FROM events
                  WHERE value IS NOT NULL AND NOT isnan(value)
                  GROUP BY ALL)
        ),
        ex AS (
            SELECT {ek}e.q_pct, MIN(d.value) AS exact
            FROM est e JOIN dv d ON {eq_dv}100 * d.cum >= e.q_pct * e.n
            GROUP BY ALL
        )
        SELECT {ek}e.q_pct, e.n, e.est, x.exact,
               ABS(e.est - x.exact) / NULLIF(x.exact, 0.0) AS rel_err
        FROM est e JOIN ex x ON {eq_x}e.q_pct = x.q_pct
        ORDER BY {ek}e.q_pct
    """


_MINHASH_SIGS = f"""
        toks AS (
            SELECT doc_id,
                   list_transform({_shingles(3)},
                       s -> CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT))
                       AS hs
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        sigs AS (
            -- len(hs) > 0 mirrors minhash_signatures' empty-shingle
            -- exclusion: a doc below the shingle width has no MinHash
            -- representation in EITHER engine
            SELECT doc_id,
                   list_transform(generate_series(0, 31),
                       i -> list_min(list_transform(hs,
                            h -> ((2*i+1)*h + 1000003*(i+1)) % 2147483647)))
                       AS sig
            FROM toks WHERE len(hs) > 0
        )
"""

def _banded_sql(src: str) -> str:
    """LSH banding CTE body over a (doc_id, sig) relation named ``src``
    — 4 bands x 8 signature rows (num_perm=32), the EXACT banding
    minhash_band_keys computes. One definition so the five oracle
    uses (pair self-join, delta probe x3, quality audit) can never
    drift from each other or from production banding."""
    return f"""SELECT doc_id, b,
                   md5(array_to_string(
                       list_transform(sig[b*8+1 : b*8+8],
                                      x -> CAST(x AS VARCHAR)), ',')) AS band_key
            FROM {src}, (SELECT unnest(generate_series(0, 3)) AS b)"""


_SIMHASH = f"""
        feats AS (
            SELECT doc_id,
                   list_transform({_shingles(3)},
                       s -> CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT))
                       AS hs
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        votes AS (
            SELECT doc_id, j,
                   SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM (SELECT doc_id, unnest(hs) AS h FROM feats),
                 (SELECT unnest(generate_series(0, 59)) AS j)
            GROUP BY doc_id, j
        ),
        sim AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN v > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
                        AS BIGINT) AS simhash
            FROM votes
            GROUP BY doc_id
        )
"""

def _pii_oracle() -> str:
    """PII oracle generated from text.PII_PATTERNS (patterns use the
    shared Java/RE2 syntax subset) — one CTE per class replicating the
    count-after-previous-redaction contract of text.pii_redact, and the
    same doc_id-modulus synthesis as text.synthesize_pii."""
    sql = """
        WITH r0 AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 2 = 0 THEN ' contact user'
                        || CAST(doc_id AS VARCHAR) || '@example.com'
                      ELSE '' END
                   || CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.'
                        || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                      ELSE '' END
                   AS t
            FROM documents
        )"""
    done: list[str] = []
    prev = "r0"
    for idx, (name, pat, repl) in enumerate(text.PII_PATTERNS, 1):
        carried = "".join(f"{c}, " for c in done)
        sql += f""",
        r{idx} AS (
            SELECT doc_id, {carried}
                   CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT)
                       AS n_{name},
                   regexp_replace(t, '{pat}', '{repl}', 'g') AS t
            FROM {prev}
        )"""
        done.append(f"n_{name}")
        prev = f"r{idx}"
    sql += f"""
        SELECT doc_id, {", ".join(done)},
               CAST(length(t) AS BIGINT) AS n_chars_redacted,
               md5(t) AS redacted_md5
        FROM {prev}
    """
    return sql


_MM_KIND = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END"
)
_MM_FMT = (
    "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END"
)
_MM_MAGIC = (
    "CASE doc_id % 3 WHEN 0 THEN 'IMG0'::BLOB WHEN 1 THEN 'AUD0'::BLOB "
    "ELSE 'VID0'::BLOB END"
)
_FC = multimodal.FRAME_CHARS
_FS = multimodal.FRAME_STRIDE

#: SQL list literal of the BM25 query terms
_BM25_TERMS = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

#: SQL IN-list of the declared lang domain
_LANG_DOMAIN_SQL = ", ".join(f"'{lg}'" for lg in DOC_LANG_DOMAIN)

EXT_ORACLE_SQL = {
    # one aggregate pass computes every metric; each rule row is an
    # exact-int ratio (one double division) vs a double threshold —
    # identical CASE/NULL semantics to the Spark when/otherwise form
    "docs_expectations": f"""
        WITH m AS (
            SELECT
                CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS m_null,
                CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS DOUBLE)
                    / COUNT(*) AS m_dup,
                CAST(SUM(CASE WHEN lang NOT IN ({_LANG_DOMAIN_SQL})
                              THEN 1 ELSE 0 END) AS DOUBLE)
                    / COUNT(*) AS m_lang,
                CAST(SUM(CASE WHEN coalesce(length(text), 0) = 0
                              THEN 1 ELSE 0 END) AS DOUBLE)
                    / COUNT(*) AS m_empty
            FROM documents
        )
        SELECT 'doc_id_not_null' AS rule, m_null AS metric,
               CAST(0.0 AS DOUBLE) AS threshold, m_null <= 0.0 AS passed
        FROM m
        UNION ALL SELECT 'doc_id_unique', m_dup,
                         CAST(0.0 AS DOUBLE), m_dup <= 0.0 FROM m
        UNION ALL SELECT 'lang_in_domain', m_lang,
                         CAST(0.0 AS DOUBLE), m_lang <= 0.0 FROM m
        UNION ALL SELECT 'text_nonempty', m_empty,
                         CAST(0.0 AS DOUBLE), m_empty <= 0.0 FROM m
    """,
    # Log-free BM25 (see operators/text.bm25_rank): every op is IEEE
    # +,-,*,/ over exact integer inputs with PINNED parenthesization —
    # 2.2 is k1+1 and 0.25 is 1-b as exact double literals — and the
    # per-doc sum is decimal(18,6)-exact, so the score hash matches
    # bit-for-bit. Ranks tie-break on doc_id like the Spark side.
    "text_bm25_search": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ),
        lens AS (SELECT doc_id, len(t) AS dl FROM toks),
        stats AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM lens
        ),
        hits AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
            WHERE tok IN ({_BM25_TERMS})
            GROUP BY 1, 2
        ),
        dfs AS (SELECT tok, COUNT(*) AS df FROM hits GROUP BY 1),
        contrib AS (
            SELECT h.doc_id,
                   ((n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS c
            FROM hits h
            JOIN lens USING (doc_id)
            JOIN dfs USING (tok)
            CROSS JOIN stats
        ),
        scored AS (
            SELECT doc_id,
                   CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score
            FROM contrib GROUP BY 1
        )
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
                   AS rank
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 25
    """,
    # Valid because the synthetic corpus is pure ASCII (byte ≡ codepoint,
    # so ord(substr) enumerates payload bytes and md5(text) ≡ md5 of the
    # utf-8 payload); the Spark side computes real byte stats on binary.
    "mm_extract_features": f"""
        WITH s AS (
            SELECT doc_id, {_MM_KIND} AS kind, text,
                   strlen(text) AS n,
                   list_transform(range(1, strlen(text) + 1),
                                  i -> ord(substr(text, CAST(i AS INT), 1)))
                       AS bytes
            FROM documents
        )
        SELECT doc_id AS asset_id, kind,
               CAST(n AS BIGINT) AS n_bytes,
               CASE WHEN n = 0 THEN 0.0
                    ELSE CAST(list_sum(bytes) AS DOUBLE) / n END AS byte_mean,
               CAST(CASE WHEN n = 0 THEN 0 ELSE list_min(bytes) END AS INT)
                   AS byte_min,
               CAST(CASE WHEN n = 0 THEN 0 ELSE list_max(bytes) END AS INT)
                   AS byte_max,
               md5(text) AS payload_md5
        FROM s
    """,
    # n_bytes mirrors the stride resample: resized = payload[::step]
    # with step = max(1, n // 12288), truncated to 12288, + 4-byte magic
    "mm_resize_images": """
        SELECT doc_id AS asset_id, 'png' AS format,
               64 AS width, 64 AS height,
               CAST(4 + least(12288,
                    CAST(ceil(CAST(strlen(text) AS DOUBLE)
                              / greatest(1, strlen(text) // 12288))
                         AS BIGINT))
                    AS INT) AS n_bytes
        FROM documents WHERE doc_id % 3 = 0
    """,
    "mm_asset_stats": f"""
        WITH a AS (
            SELECT {_MM_KIND} AS kind, {_MM_FMT} AS format,
                   4 + strlen(text) AS n_bytes
            FROM documents
        )
        SELECT kind, format, COUNT(*) AS n_assets,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        FROM a GROUP BY 1, 2
    """,
    "mm_fingerprint": f"""
        SELECT doc_id AS asset_id, {_MM_KIND} AS kind,
               4 + strlen(text) AS n_bytes,
               md5(to_base64({_MM_MAGIC} || encode(text))) AS content_md5
        FROM documents
    """,
    "mm_frame_sample": f"""
        WITH v AS (
            SELECT doc_id AS asset_id, text,
                   CAST(ceil(length(text) / {_FC}.0) AS INT) AS nf
            FROM documents WHERE doc_id % 3 = 2
        ),
        fr AS (
            SELECT asset_id, text,
                   unnest(generate_series(0, nf - 1)) AS i
            FROM v
        )
        SELECT asset_id, CAST(i AS INT) AS frame_idx,
               length(substring(text, CAST(i * {_FC} + 1 AS INT), {_FC}))
                   AS frame_chars,
               md5(substring(text, CAST(i * {_FC} + 1 AS INT), {_FC}))
                   AS frame_md5
        FROM fr WHERE i % {_FS} = 0
    """,
    # pHash near-dup: replays the dHash arithmetic (character-code
    # grid downsample -> row gradients -> 4x16-bit bands) on the same
    # image payloads + the deterministic re-renders, then the
    # pigeonhole band join and exact popcount verify
    "mm_phash_near_dup": """
        WITH imgdocs AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % 3 = 0 AND len(text) > 0
            UNION ALL
            SELECT doc_id + 30000000,
                   substr(text, 1, len(text) // 2) || 'z' ||
                   substr(text, len(text) // 2 + 2)
            -- length-guarded: the <=2-flipped-bits re-render guarantee
            -- only holds when each char backs at most one grid cell
            FROM documents WHERE doc_id % 30 = 0 AND len(text) >= 72
        ),
        px AS (
            SELECT d.doc_id AS asset_id, t1.r, t2.c,
                   unicode(substr(d.text,
                       CAST(((t1.r * 9 + t2.c) * len(d.text)) // 72 + 1
                            AS INT), 1)) AS p
            FROM imgdocs d,
                 unnest(generate_series(0, 7)) AS t1(r),
                 unnest(generate_series(0, 8)) AS t2(c)
        ),
        bits AS (
            SELECT a.asset_id, a.r, a.c,
                   CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
            FROM px a
            JOIN px b ON b.asset_id = a.asset_id AND b.r = a.r
                     AND b.c = a.c + 1
            WHERE a.c < 8
        ),
        bands AS (
            SELECT asset_id, CAST(r // 2 AS INT) AS band,
                   CAST(SUM(bit * CAST(pow(2, (r % 2) * 8 + c) AS BIGINT))
                        AS BIGINT) AS val
            FROM bits GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.val = b.val
                        AND a.asset_id < b.asset_id
        ),
        ham AS (
            SELECT c.asset_a, c.asset_b,
                   CAST(SUM(bit_count(xor(x.val, y.val))) AS INT) AS hamming
            FROM cand c
            JOIN bands x ON x.asset_id = c.asset_a
            JOIN bands y ON y.asset_id = c.asset_b AND y.band = x.band
            GROUP BY 1, 2
        )
        SELECT asset_a, asset_b, hamming FROM ham WHERE hamming <= 3
        ORDER BY asset_a, asset_b
    """,
    "text_token_stats": f"""
        SELECT doc_id,
               length(text) AS n_chars,
               len({_TOKS}) AS n_tokens,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
               len(list_distinct({_TOKS})) AS n_unique_tokens
        FROM documents
    """,
    "text_quality_score": f"""
        WITH c AS (
            SELECT doc_id, text, {_TOKS} AS toks FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   CAST(list_sum(list_transform(toks, x -> length(x)))
                        AS DOUBLE) / len(toks) AS mean_token_len,
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter(toks, x -> list_contains({_EN}, x)))
                        AS DOUBLE) / len(toks) AS stop_density
            FROM c
        )
        SELECT doc_id, n_tokens, mean_token_len, punct_ratio, stop_density,
               0.25 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
                            THEN 1.0 ELSE 0.0 END)
               + 0.25 * (CASE WHEN mean_token_len >= 3.0
                              AND mean_token_len <= 12.0
                              THEN 1.0 ELSE 0.0 END)
               + 0.25 * (1.0 - least(1.0, punct_ratio * 5.0))
               + 0.25 * least(1.0, stop_density * 5.0) AS quality_score
        FROM m
    """,
    "text_language_id": f"""
        WITH c AS (
            SELECT doc_id, lang, {_TOKS} AS toks FROM documents
        ),
        s AS (
            SELECT doc_id, lang,
               {_LANG_SCORES}
            FROM c
        ),
        b AS (
            SELECT *, {_LANG_BEST} AS best FROM s
        )
        SELECT doc_id, lang AS labeled_lang,
               {_LANG_CASE} AS predicted_lang,
               best AS best_score
        FROM b
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               md5(text) AS text_md5,
               CASE WHEN len(t) >= 3 THEN
                   list_min(list_transform(generate_series(1, len(t)-2),
                       i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
               END AS min_shingle_md5
        FROM (SELECT doc_id, text, {_TOKS} AS t FROM documents)
    """,
    "text_pii_redact": _pii_oracle(),
    "text_stratified_sample": f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                   AS BIGINT) % 100
              < CASE lang {' '.join(
                  f"WHEN '{lg}' THEN {pct}"
                  for lg, pct in sorted(SAMPLE_RATES.items())
              )} ELSE 0 END
    """,
    # soft curation: P(keep) = quality score; the uniform draw is the
    # same stable 28-bit id hash the stratified sampler uses
    "text_quality_sample": f"""
        WITH c AS (
            SELECT doc_id, text, {_TOKS} AS toks FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   CAST(list_sum(list_transform(toks, x -> length(x)))
                        AS DOUBLE) / len(toks) AS mean_token_len,
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                        AS DOUBLE) / length(text) AS punct_ratio,
                   CAST(len(list_filter(toks, x -> list_contains({_EN}, x)))
                        AS DOUBLE) / len(toks) AS stop_density
            FROM c
        ),
        q AS (
            SELECT doc_id,
                   0.25 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
                                THEN 1.0 ELSE 0.0 END)
                   + 0.25 * (CASE WHEN mean_token_len >= 3.0
                                  AND mean_token_len <= 12.0
                                  THEN 1.0 ELSE 0.0 END)
                   + 0.25 * (1.0 - least(1.0, punct_ratio * 5.0))
                   + 0.25 * least(1.0, stop_density * 5.0) AS quality_score
            FROM m
        )
        SELECT doc_id, quality_score
        FROM q
        WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                   AS BIGINT) % 1000000
              < quality_score * 1000000
    """,
    # repetition ratios: exact-int divisions, deterministic top-token
    # tie-break (count desc, token asc) on both engines
    "text_repetition": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        base AS (
            SELECT doc_id, len(t) AS n_tokens,
                   CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
                       AS distinct_token_frac,
                   CASE WHEN len(t) >= 2 THEN
                       CAST(len({_shingles(2)}) AS DOUBLE) / (len(t) - 1)
                   END AS distinct_bigram_frac
            FROM t),
        tok AS (SELECT doc_id, unnest(t) AS tok FROM t),
        cnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        top AS (SELECT doc_id, c FROM cnt
                QUALIFY ROW_NUMBER() OVER (
                    PARTITION BY doc_id ORDER BY c DESC, tok ASC) = 1)
        SELECT base.doc_id, n_tokens, distinct_token_frac,
               distinct_bigram_frac,
               CAST(top.c AS DOUBLE) / n_tokens AS top_token_frac
        FROM base JOIN top ON base.doc_id = top.doc_id
    """,
    # connected components via transitive closure: reach(u, r) holds
    # every node r reachable from u over the (symmetrized) LSH pair
    # graph; MIN(r) per u is exactly the min-label fixpoint the Spark
    # propagation loop converges to. Seeded from ALL documents so
    # singletons label themselves.
    "dedup_components": f"""
        WITH RECURSIVE
        tsig AS ({{minhash_pairs}}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM tsig
            UNION
            SELECT doc_b AS u, doc_a AS v FROM tsig
        ),
        reach(u, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
        )
        SELECT u AS doc_id, MIN(r) AS component_id
        FROM reach
        GROUP BY u
    """,
    # θ-sample distinct sketch: same md5 prefix filter, same ×16 scale
    # — the ESTIMATE matches bit-for-bit, sampling error included
    # hash-rank fixed-k sample: identical md5 ordering both engines
    "docs_sample_fixed": """
        SELECT doc_id, lang, source
        FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        LIMIT 200
    """,
    # stable-hash split assignment (same md5-prefix bucket arithmetic
    # as text_stratified_sample)
    "docs_split_assign": """
        SELECT doc_id, lang, source,
               CASE WHEN h < 90 THEN 'train'
                    WHEN h < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id, lang, source,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 7)) AS BIGINT) % 100 AS h
            FROM documents
        )
    """,
    # mixture allocation: integer weight*budget DIV Σw (both engines
    # floor on positives), one double division for the fill ratio
    "corpus_mixture_plan": rf"""
        WITH per_source AS (
            SELECT source,
                   CAST(COALESCE(TRY_CAST(NULLIF(
                            regexp_extract(source, '([0-9]+)$', 1), '')
                            AS INTEGER), 0) % 3 + 1
                        AS BIGINT) AS weight,
                   COUNT(*) AS n_docs,
                   CAST(SUM(len(list_filter(
                            string_split_regex(lower(trim(text)), '\s+'),
                            t -> t != ''))) AS BIGINT)
                       AS avail_tokens
            FROM documents GROUP BY 1, 2
        ),
        wtot AS (SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM per_source)
        SELECT source, weight, n_docs, avail_tokens,
               weight * 100000 // wsum AS target_tokens,
               LEAST(avail_tokens, weight * 100000 // wsum)
                   AS alloc_tokens,
               CAST(LEAST(avail_tokens, weight * 100000 // wsum)
                    AS DOUBLE)
                 / CAST(weight * 100000 // wsum AS DOUBLE) AS fill_ratio
        FROM per_source, wtot
        ORDER BY source
    """,
    # degree-oriented exact triangle count over the 10-NN co-supply
    # graph; (d, n) row comparisons replicate the Spark struct
    # ordering field-for-field
    "graph_triangles_cosupply": """
        WITH ps AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
        ),
        weights AS (
            SELECT a.s AS sa, b.s AS sb, COUNT(*) AS w
            FROM ps a JOIN ps b ON a.p = b.p AND a.s != b.s
            GROUP BY 1, 2
        ),
        knn AS (
            SELECT sa, sb FROM (
                SELECT sa, sb,
                       ROW_NUMBER() OVER (PARTITION BY sa
                                          ORDER BY w DESC, sb) AS r
                FROM weights
            ) WHERE r <= 10
        ),
        e0 AS (
            SELECT DISTINCT LEAST(sa, sb) AS u, GREATEST(sa, sb) AS v
            FROM knn WHERE sa != sb
        ),
        deg AS (
            SELECT n, COUNT(*) AS d FROM (
                SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0
            ) GROUP BY 1
        ),
        directed AS (
            SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END
                       AS src,
                   CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END
                       AS dst,
                   CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d
                       END AS dstd,
                   CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END
                       AS dstn
            FROM e0
            JOIN deg du ON u = du.n
            JOIN deg dv ON v = dv.n
        ),
        wedges AS (
            SELECT w1.dst AS x, w2.dst AS y
            FROM directed w1 JOIN directed w2 ON w1.src = w2.src
            WHERE (w1.dstd, w1.dstn) < (w2.dstd, w2.dstn)
        ),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM wedges JOIN directed ON x = src AND y = dst
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
               CAST(n_triangles AS BIGINT) AS n_triangles
        FROM tri
    """,
    # inverted index: presence-based (term, doc) pairs, sorted lists
    # (space-joined to a scalar string — the registry surface contract
    # forbids array-typed output columns; see text_build_postings)
    "text_build_postings": f"""
        SELECT tok AS term,
               COUNT(*) AS df,
               array_to_string(list_sort(list(doc_id)), ' ') AS postings
        FROM (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
            )
        )
        GROUP BY 1
        HAVING COUNT(*) >= 5
        ORDER BY 1
    """,
    # bigram collocation lift: positional adjacent pairs (occurrences,
    # not distinct), exact integer counts, lift written in the SAME
    # left-associative double expression as the Spark side
    "text_collocations": f"""
        WITH toks AS (SELECT {_TOKS} AS t FROM documents),
        uni AS (
            SELECT w, COUNT(*) AS n_w
            FROM toks, UNNEST(t) AS u(w)
            GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(len(t)) AS DOUBLE) AS n_tokens,
                   CAST(SUM(GREATEST(len(t) - 1, 0)) AS DOUBLE) AS n_bigrams
            FROM toks
        ),
        pairs AS (
            SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS n_pair
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
            GROUP BY 1, 2
            HAVING COUNT(*) >= 5
        )
        SELECT w1, w2, n_pair,
               CAST(n_pair AS DOUBLE) * n_tokens * n_tokens
                 / (n_bigrams * CAST(u1.n_w AS DOUBLE)
                    * CAST(u2.n_w AS DOUBLE)) AS lift
        FROM pairs
        JOIN uni u1 ON pairs.w1 = u1.w
        JOIN uni u2 ON pairs.w2 = u2.w
        CROSS JOIN tot
        ORDER BY lift DESC, w1, w2
        LIMIT 50
    """,
    # Heaps curve: new-at-doc = min-doc-per-token; running sums
    "text_vocab_growth": f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY 1
        ),
        news AS (
            SELECT doc_id, COUNT(*) AS n_new FROM (
                SELECT tok, MIN(doc_id) AS doc_id FROM toks GROUP BY 1
            ) GROUP BY 1
        )
        SELECT p.doc_id,
               CAST(SUM(p.n_tokens) OVER w AS BIGINT) AS cum_tokens,
               CAST(SUM(COALESCE(n.n_new, 0)) OVER w AS BIGINT) AS cum_vocab
        FROM per_doc p LEFT JOIN news n USING (doc_id)
        WINDOW w AS (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
        ORDER BY p.doc_id
    """,
    # count-min audit: 4×256 sketch, md5-seeded rows, min-of-counters
    # estimate; overestimate = est - exact must be >= 0 by construction
    "sketch_value_quantiles": _qsketch_audit_sql(None),
    "events_type_value_quantiles": _qsketch_audit_sql("event_type"),
    "sketch_heavy_hitters": f"""
        WITH tk AS (SELECT {_TOKS} AS t FROM documents),
        occ AS (
            SELECT array_to_string(t[i:i+2], ' ') AS item
            FROM tk, LATERAL unnest(range(1, len(t) - 1)) AS g(i)
            WHERE len(t) >= 3
        ),
        exact_top AS (
            SELECT item, COUNT(*) AS exact_n FROM occ GROUP BY 1
            ORDER BY exact_n DESC, item LIMIT 10
        ),
        cells AS (
            SELECT dd.d,
                   CAST(concat('0x', substr(md5(CAST(dd.d AS VARCHAR) || ':'
                        || item), 1, 7)) AS BIGINT) % 256 AS c,
                   COUNT(*) AS n
            FROM occ, (SELECT unnest(generate_series(0, 3)) AS d) dd
            GROUP BY 1, 2
        ),
        est AS (
            SELECT e.item, MIN(c2.n) AS cm_estimate
            FROM exact_top e,
                 (SELECT unnest(generate_series(0, 3)) AS d) dd
            JOIN cells c2
              ON c2.d = dd.d
             AND c2.c = CAST(concat('0x', substr(md5(CAST(dd.d AS VARCHAR)
                        || ':' || e.item), 1, 7)) AS BIGINT) % 256
            GROUP BY 1
        )
        SELECT item, exact_n, cm_estimate,
               cm_estimate - exact_n AS overestimate
        FROM exact_top JOIN est USING (item)
        ORDER BY exact_n DESC, item
    """,
    "sketch_distinct_trigrams": f"""
        WITH g AS (
            SELECT lang, unnest({_shingles(3)}) AS gram
            FROM (SELECT lang, {_TOKS} AS t FROM documents)
        ),
        h AS (
            SELECT lang, md5(gram) AS h FROM g
            WHERE substr(md5(gram), 1, 1) = '0'
        )
        SELECT lang,
               COUNT(DISTINCT h) AS n_sampled,
               COUNT(DISTINCT h) * 16 AS est_distinct
        FROM h
        GROUP BY lang
        ORDER BY lang
    """,
    # the composed chain: every stage reuses the exact fragment of its
    # standalone oracle (dedup window / quality formula / hash sample /
    # prefix-sum packing), so pipeline == composition by construction
    "curation_pipeline": f"""
        WITH d AS (
            SELECT doc_id, text, lang FROM (
                SELECT doc_id, text, lang,
                       ROW_NUMBER() OVER (PARTITION BY text
                                          ORDER BY doc_id) AS rn
                FROM documents) WHERE rn = 1
        ),
        c AS (SELECT doc_id, text, lang, {_TOKS} AS toks FROM d),
        m AS (
            SELECT doc_id, lang,
                   len(toks) AS n_tokens,
                   CAST(list_sum(list_transform(toks, x -> length(x)))
                        AS DOUBLE) / len(toks) AS mtl,
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                        AS DOUBLE) / length(text) AS pr,
                   CAST(len(list_filter(toks, x -> list_contains({_EN}, x)))
                        AS DOUBLE) / len(toks) AS sd
            FROM c
        ),
        s AS (
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
            FROM m
            WHERE 0.25 * (CASE WHEN n_tokens >= 10 AND n_tokens <= 10000
                               THEN 1.0 ELSE 0.0 END)
                + 0.25 * (CASE WHEN mtl >= 3.0 AND mtl <= 12.0
                               THEN 1.0 ELSE 0.0 END)
                + 0.25 * (1.0 - least(1.0, pr * 5.0))
                + 0.25 * least(1.0, sd * 5.0) >= {QUALITY_FLOOR}
              AND CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                       1, 7)) AS BIGINT) % 100
                  < CASE lang {' '.join(
                      f"WHEN '{lg}' THEN {pct}"
                      for lg, pct in sorted(SAMPLE_RATES.items())
                  )} ELSE 0 END
        ),
        p AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cb
            FROM s
        )
        SELECT doc_id, n_tokens,
               CAST(cb // {packing.DEFAULT_BUDGET} AS BIGINT) AS shard_id,
               CAST(cb % {packing.DEFAULT_BUDGET} AS BIGINT) AS shard_offset,
               CAST(CASE WHEN n_tokens > 0 THEN
                   (cb + n_tokens - 1) // {packing.DEFAULT_BUDGET}
                   - cb // {packing.DEFAULT_BUDGET} + 1
               ELSE 1 END AS BIGINT) AS n_shards_spanned
        FROM p
    """,
    # the two-level prefix sum collapses to a plain ordered window in
    # single-node SQL — same placement function, same DIV/% arithmetic
    "text_pack_sequences": f"""
        WITH t AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cb
            FROM t
        )
        SELECT doc_id, n_tokens,
               CAST(cb // {packing.DEFAULT_BUDGET} AS BIGINT) AS shard_id,
               CAST(cb % {packing.DEFAULT_BUDGET} AS BIGINT) AS shard_offset,
               CAST(CASE WHEN n_tokens > 0 THEN
                   (cb + n_tokens - 1) // {packing.DEFAULT_BUDGET}
                   - cb // {packing.DEFAULT_BUDGET} + 1
               ELSE 1 END AS BIGINT) AS n_shards_spanned
        FROM c
    """,
    "dedup_exact_recrawl": """
        WITH u AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents
        )
        SELECT md5(text) AS text_md5,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM u
        GROUP BY 1
    """,
    "dedup_substring_hotspots": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        pos AS (
            SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
            FROM toks, LATERAL unnest(range(1, len(t) - 6)) AS g(i)
            WHERE len(t) >= 8
        ),
        pdg AS (SELECT gram, doc_id, COUNT(*) AS n_pos FROM pos GROUP BY 1, 2),
        gd AS (SELECT gram, COUNT(*) AS n_docs FROM pdg GROUP BY 1)
        SELECT doc_id,
               CAST(SUM(n_pos) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN n_docs >= 2 THEN n_pos ELSE 0 END)
                    AS BIGINT) AS n_dup,
               CAST(SUM(CASE WHEN n_docs >= 2 THEN n_pos ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(n_pos) AS DOUBLE) AS dup_frac
        FROM pdg JOIN gd USING (gram)
        GROUP BY 1
        ORDER BY 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH g AS (
            SELECT doc_id,
                   list_distinct(list_transform({_shingles(2)},
                       s -> CAST(concat('0x', substr(md5(s), 1,
                            {dedup.GRAM_HASH_HEX})) AS BIGINT))) AS grams
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / len(list_distinct(a.grams || b.grams)) AS jaccard
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / len(list_distinct(a.grams || b.grams)) >= 0.2
    """,
    "dedup_contamination": f"""
        WITH cg AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform({_shingles(5)},
                       s -> CAST(concat('0x', substr(md5(s), 1,
                            {dedup.GRAM_HASH_HEX})) AS BIGINT)))) AS gram
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        bg AS (SELECT doc_id AS bench_id, gram FROM cg WHERE doc_id < 25)
        SELECT c.doc_id,
               CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hit_grams,
               CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_benchmark_docs
        FROM cg c JOIN bg b ON c.gram = b.gram
        GROUP BY 1
        HAVING COUNT(DISTINCT c.gram) >= 1
    """,
    # the oracle states the range predicate directly; the Spark side's
    # banded candidates + exact filter must reproduce it exactly
    "events_range_follow": """
        WITH e AS (SELECT event_id, user_id, ts, value FROM events),
        c AS (
            SELECT a.event_id,
                   COUNT(*) AS n_follow,
                   CAST(SUM(CAST(b.value AS DECIMAL(18,6))) AS DOUBLE)
                       AS total_follow_value
            FROM e a JOIN e b
              ON a.user_id = b.user_id
             AND b.ts > a.ts
             AND b.ts <= a.ts + INTERVAL 60 SECOND
            GROUP BY 1
        )
        SELECT e.event_id,
               COALESCE(c.n_follow, 0) AS n_follow,
               COALESCE(c.total_follow_value, 0.0) AS total_follow_value
        FROM e LEFT JOIN c ON e.event_id = c.event_id
        ORDER BY e.event_id
    """,
    # the oracle validates the union+window formulation against DuckDB's
    # NATIVE ASOF JOIN — two independent as-of implementations must agree
    "asof_priority_rates": """
        WITH quotes AS (
            SELECT p.o_orderpriority,
                   CAST(DATE '1995-01-01' + mm.m * INTERVAL 1 MONTH
                        AS TIMESTAMP) AS quote_date,
                   1.0 + ((mm.m * 7 + strlen(p.o_orderpriority)) % 13)
                       / 100.0 AS rate
            FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
                 (SELECT unnest(generate_series(0, 83)) AS m) mm
        )
        SELECT o.o_orderkey, o.o_orderpriority,
               CAST(q.quote_date AS DATE) AS quote_date, q.rate
        FROM orders o
        ASOF JOIN quotes q
          ON o.o_orderpriority = q.o_orderpriority
         AND o.o_orderdate >= q.quote_date
    """,
    # diff verdicts depend only on value equality within each engine,
    # so the oracle compares columns directly instead of digests
    "cdc_snapshot_diff": """
        WITH old AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        nw AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS o_totalprice
            FROM old WHERE o_orderkey % 97 != 0
            UNION ALL
            SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
            FROM old WHERE o_orderkey % 101 = 0
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type
        FROM old o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey
        WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_orderstatus != n.o_orderstatus
           OR o.o_totalprice != n.o_totalprice
    """,
    # 3 unrolled exact fixed-point pagerank rounds; // is integer
    # division in DuckDB exactly as DIV is in Spark (positive operands)
    "graph_pagerank_suppliers": """
        WITH pairs AS (
            SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000 AS supp
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        edges AS (
            SELECT cust AS src, supp AS dst FROM pairs
            UNION ALL
            SELECT supp AS src, cust AS dst FROM pairs
        ),
        deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1),
        r0 AS (SELECT src, CAST(10000000000 AS BIGINT) AS pr FROM deg),
        r1 AS (
            SELECT e.dst AS src,
                   CAST(1500000000 + 85 * SUM(r.pr // d.out_deg) // 100
                        AS BIGINT) AS pr
            FROM edges e JOIN r0 r ON e.src = r.src
            JOIN deg d ON e.src = d.src
            GROUP BY 1
        ),
        r2 AS (
            SELECT e.dst AS src,
                   CAST(1500000000 + 85 * SUM(r.pr // d.out_deg) // 100
                        AS BIGINT) AS pr
            FROM edges e JOIN r1 r ON e.src = r.src
            JOIN deg d ON e.src = d.src
            GROUP BY 1
        ),
        r3 AS (
            SELECT e.dst AS src,
                   CAST(1500000000 + 85 * SUM(r.pr // d.out_deg) // 100
                        AS BIGINT) AS pr
            FROM edges e JOIN r2 r ON e.src = r.src
            JOIN deg d ON e.src = d.src
            GROUP BY 1
        )
        SELECT src AS node,
               CASE WHEN src >= 1000000 THEN 'supplier'
                    ELSE 'customer' END AS node_type,
               pr
        FROM r3
        ORDER BY pr DESC, node
        LIMIT 20
    """,
    "cdc_scd2_history": """
        WITH old AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ),
        nw AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                        ELSE o_totalprice END AS o_totalprice
            FROM old WHERE o_orderkey % 97 != 0
            UNION ALL
            SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
            FROM old WHERE o_orderkey % 101 = 0
        ),
        j AS (
            SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                   o.o_orderstatus AS ost, o.o_totalprice AS otp,
                   n.o_orderstatus AS nst, n.o_totalprice AS ntp,
                   o.o_orderkey IS NULL AS ins,
                   n.o_orderkey IS NULL AS del,
                   (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                    AND (o.o_orderstatus != n.o_orderstatus
                         OR o.o_totalprice != n.o_totalprice)) AS upd
            FROM old o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey
        )
        SELECT k AS o_orderkey, ost AS o_orderstatus, otp AS o_totalprice,
               1 AS valid_from, 2 AS valid_to, FALSE AS is_current
        FROM j WHERE del OR upd
        UNION ALL
        SELECT k, nst, ntp, 2, NULL, TRUE FROM j WHERE ins OR upd
        UNION ALL
        SELECT k, ost, otp, 1, NULL, TRUE
        FROM j WHERE NOT ins AND NOT del AND NOT upd
    """,
    "dedup_minhash_lsh": f"""
        WITH {_MINHASH_SIGS},
        banded AS (
            {_banded_sql('sigs')}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
            FROM banded a
            JOIN banded c ON a.b = c.b AND a.band_key = c.band_key
                         AND a.doc_id < c.doc_id
        )
        SELECT * FROM (
            SELECT doc_a, doc_b,
                   CAST(len(list_filter(generate_series(1, 32),
                        i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0
                       AS est_jaccard
            FROM cand
            JOIN sigs sa ON sa.doc_id = doc_a
            JOIN sigs sb ON sb.doc_id = doc_b
        )
        WHERE est_jaccard >= 0.5
    """,
    "dedup_incremental_delta": f"""
        WITH {_MINHASH_SIGS},
        base AS (SELECT * FROM sigs WHERE doc_id % 10 < 7),
        delta AS (SELECT * FROM sigs WHERE doc_id % 10 >= 7),
        bb AS (
            {_banded_sql('base')}
        ),
        db AS (
            {_banded_sql('delta')}
        ),
        ccand AS (
            SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS match_id
            FROM db d JOIN bb c ON d.b = c.b AND d.band_key = c.band_key
        ),
        cver AS (
            SELECT delta_id, match_id,
                   CAST(len(list_filter(generate_series(1, 32),
                        i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 AS est
            FROM ccand
            JOIN delta sa ON sa.doc_id = delta_id
            JOIN base sb ON sb.doc_id = match_id
        ),
        cdup AS (
            SELECT delta_id, match_id, est FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY delta_id
                          ORDER BY est DESC, match_id) AS rn
                FROM cver WHERE est >= 0.5
            ) WHERE rn = 1
        ),
        surv AS (
            SELECT * FROM delta
            WHERE doc_id NOT IN (SELECT delta_id FROM cdup)
        ),
        sb2 AS (
            {_banded_sql('surv')}
        ),
        dcand AS (
            SELECT DISTINCT l.doc_id AS delta_id, e.doc_id AS match_id
            FROM sb2 e JOIN sb2 l ON e.b = l.b AND e.band_key = l.band_key
                               AND e.doc_id < l.doc_id
        ),
        dver AS (
            SELECT delta_id, match_id,
                   CAST(len(list_filter(generate_series(1, 32),
                        i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 AS est
            FROM dcand
            JOIN surv sa ON sa.doc_id = delta_id
            JOIN surv sb ON sb.doc_id = match_id
        ),
        ddup AS (
            SELECT delta_id, match_id, est FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY delta_id
                          ORDER BY est DESC, match_id) AS rn
                FROM dver WHERE est >= 0.5
            ) WHERE rn = 1
        )
        SELECT d.doc_id,
               CASE WHEN c.delta_id IS NOT NULL THEN 'dup_of_corpus'
                    WHEN dd.delta_id IS NOT NULL THEN 'dup_in_delta'
                    ELSE 'novel' END AS verdict,
               COALESCE(c.match_id, dd.match_id) AS match_doc_id,
               COALESCE(c.est, dd.est) AS est_jaccard
        FROM delta d
        LEFT JOIN cdup c ON c.delta_id = d.doc_id
        LEFT JOIN ddup dd ON dd.delta_id = d.doc_id
        ORDER BY d.doc_id
    """,
    "dedup_simhash_pairs": f"""
        WITH {_SIMHASH}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "dedup_simhash_fingerprints": f"""
        WITH {_SIMHASH}
        SELECT doc_id, simhash FROM sim
    """,
    "ann_topk_brute": f"""
        WITH comp AS ({_COMP}),
        dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   SUM(a.qx * b.qx) AS s
            FROM comp a
            JOIN comp b ON a.i = b.i AND a.vec_id < 10
                       AND a.vec_id != b.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(rank AS INTEGER) AS rank,
               CAST(s AS DOUBLE) / 100000000.0 AS score
        FROM (
            SELECT query_id, neighbor_id, s,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rank
            FROM dots
        )
        WHERE rank <= 5
    """,
    "ann_topk_lsh": f"""
        WITH comp AS ({_COMP}),
        bkt AS ({_SIGN_BUCKET}),
        dots AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   SUM(a.qx * b.qx) AS s
            FROM comp a
            JOIN bkt ba ON ba.vec_id = a.vec_id
            JOIN bkt bb ON bb.bucket = ba.bucket
            JOIN comp b ON b.vec_id = bb.vec_id AND a.i = b.i
            WHERE a.vec_id < 10 AND a.vec_id != b.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(rank AS INTEGER) AS rank,
               CAST(s AS DOUBLE) / 100000000.0 AS score
        FROM (
            SELECT query_id, neighbor_id, s,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rank
            FROM dots
        )
        WHERE rank <= 5
    """,
    # IVF geometry shared with similarity.topk_ivf: auto stride ⌊√n⌋
    # (computed from the data in BOTH engines — isqrt there, floor(sqrt)
    # here; exact for n < 2^53), centroids = vec_id % stride == 0,
    # N_PROBES probed cells, ties on (d2, cell) / (score DESC,
    # neighbor_id)
    # product quantization: identical deterministic codebook (stride-
    # sampled subvectors), exact int subspace distances, (d2, cell)
    # tie-break; components align on (sub, pos-within-subspace)
    "emb_pq_codes": f"""
        WITH stride AS (
            SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
            FROM embeddings
        ),
        comp AS ({_COMP}),
        dims AS (SELECT vec_id, len(embedding) AS d FROM embeddings),
        subs AS (
            SELECT c.vec_id,
                   CAST((c.i - 1) // (d.d // 4) AS INT) AS sub,
                   CAST((c.i - 1) % (d.d // 4) AS INT) AS pos,
                   c.qx
            FROM comp c JOIN dims d USING (vec_id)
            WHERE (c.i - 1) // (d.d // 4) < 4
        ),
        cd AS (
            SELECT a.vec_id, a.sub, b.vec_id AS cell,
                   CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2
            FROM subs a
            JOIN subs b ON b.sub = a.sub AND b.pos = a.pos
            WHERE b.vec_id % (SELECT s FROM stride) = 0
            GROUP BY 1, 2, 3
        ),
        best AS (
            SELECT vec_id, sub, cell, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, cell) AS rn
            FROM cd
        )
        SELECT vec_id,
               array_to_string(list(cell ORDER BY sub), '-') AS codes,
               CAST(COUNT(*) AS INT) AS n_subs,
               CAST(SUM(d2) AS DOUBLE) / 100000000 AS recon_err
        FROM best
        WHERE rn = 1
        GROUP BY 1
    """,
    # ADC search over the PQ codes: per-query per-subspace distance
    # tables + m table lookups per corpus vector; (d2, neighbor) order
    "ann_topk_pq": f"""
        WITH stride AS (
            SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
            FROM embeddings
        ),
        comp AS ({_COMP}),
        dims AS (SELECT vec_id, len(embedding) AS d FROM embeddings),
        subs AS (
            SELECT c.vec_id,
                   CAST((c.i - 1) // (d.d // 4) AS INT) AS sub,
                   CAST((c.i - 1) % (d.d // 4) AS INT) AS pos,
                   c.qx
            FROM comp c JOIN dims d USING (vec_id)
            WHERE (c.i - 1) // (d.d // 4) < 4
        ),
        cd AS (
            SELECT a.vec_id, a.sub, b.vec_id AS cell,
                   CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2
            FROM subs a
            JOIN subs b ON b.sub = a.sub AND b.pos = a.pos
            WHERE b.vec_id % (SELECT s FROM stride) = 0
            GROUP BY 1, 2, 3
        ),
        codes AS (
            SELECT vec_id AS neighbor_id, sub, cell FROM (
                SELECT vec_id, sub, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, cell) AS rn
                FROM cd
            ) WHERE rn = 1
        ),
        dtab AS (
            SELECT vec_id AS query_id, sub, cell, d2 AS qd2
            FROM cd WHERE vec_id < 10
        ),
        adc AS (
            SELECT query_id, neighbor_id,
                   CAST(SUM(qd2) AS BIGINT) AS d2
            FROM codes JOIN dtab USING (sub, cell)
            WHERE query_id != neighbor_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank,
               CAST(d2 AS DOUBLE) / 100000000 AS adc_dist
        FROM (
            SELECT query_id, neighbor_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, neighbor_id) AS rn
            FROM adc
        )
        WHERE rn <= 5
    """,
    # IVF-PQ + exact re-rank: the ivf oracle's coarse assignment/probes
    # restrict the pq oracle's ADC (join through assign ∘ probes), then
    # the top-20 ADC shortlist is re-scored by the exact dot product —
    # same stride seeds both quantizers, identical tie-breaks
    "ann_topk_ivfpq": f"""
        WITH stride AS (
            SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
            FROM embeddings
        ),
        comp AS ({_COMP}),
        cent AS (
            SELECT vec_id AS cell FROM embeddings
            WHERE vec_id % (SELECT s FROM stride) = 0
        ),
        ccd AS (
            SELECT a.vec_id, c.cell,
                   SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
            FROM comp a
            JOIN cent c ON TRUE
            JOIN comp b ON b.vec_id = c.cell AND b.i = a.i
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS r
            FROM ccd
        ),
        assign AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
        probes AS (
            SELECT vec_id AS query_id, cell FROM ranked
            WHERE vec_id < 10 AND r <= {similarity.N_PROBES}
        ),
        dims AS (SELECT vec_id, len(embedding) AS d FROM embeddings),
        subs AS (
            SELECT c.vec_id,
                   CAST((c.i - 1) // (d.d // 4) AS INT) AS sub,
                   CAST((c.i - 1) % (d.d // 4) AS INT) AS pos,
                   c.qx
            FROM comp c JOIN dims d USING (vec_id)
            WHERE (c.i - 1) // (d.d // 4) < 4
        ),
        pcd AS (
            SELECT a.vec_id, a.sub, b.vec_id AS pcell,
                   CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2
            FROM subs a
            JOIN subs b ON b.sub = a.sub AND b.pos = a.pos
            WHERE b.vec_id % (SELECT s FROM stride) = 0
            GROUP BY 1, 2, 3
        ),
        codes AS (
            SELECT vec_id AS neighbor_id, sub, pcell FROM (
                SELECT vec_id, sub, pcell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, pcell) AS rn
                FROM pcd
            ) WHERE rn = 1
        ),
        dtab AS (
            SELECT vec_id AS query_id, sub, pcell, d2 AS qd2
            FROM pcd WHERE vec_id < 10
        ),
        adc AS (
            SELECT d.query_id, c.neighbor_id,
                   CAST(SUM(d.qd2) AS BIGINT) AS adc_d2
            FROM codes c
            JOIN assign s ON s.vec_id = c.neighbor_id
            JOIN probes p ON p.cell = s.cell
            JOIN dtab d ON d.query_id = p.query_id
                       AND d.sub = c.sub AND d.pcell = c.pcell
            WHERE d.query_id != c.neighbor_id
            GROUP BY 1, 2
        ),
        short AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adc_d2, neighbor_id) AS ar
                FROM adc
            ) WHERE ar <= 20
        ),
        dots AS (
            SELECT sh.query_id, sh.neighbor_id, SUM(a.qx * b.qx) AS sc
            FROM short sh
            JOIN comp a ON a.vec_id = sh.query_id
            JOIN comp b ON b.vec_id = sh.neighbor_id AND b.i = a.i
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
               CAST(sc AS DOUBLE) / 100000000.0 AS score
        FROM (
            SELECT query_id, neighbor_id, sc,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sc DESC, neighbor_id) AS rank
            FROM dots
        )
        WHERE rank <= 5
    """,
    # one Lloyd step: IVF assignment (same (d2, cell) tie-break),
    # per-cluster size + exact-integer centroid drift numerator, ONE
    # double division written identically to the Spark expression
    "emb_kmeans_step": f"""
        WITH stride AS (
            SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
            FROM embeddings
        ),
        comp AS ({_COMP}),
        cent AS (
            SELECT vec_id AS cell FROM embeddings
            WHERE vec_id % (SELECT s FROM stride) = 0
        ),
        cd AS (
            SELECT a.vec_id, c.cell,
                   SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
            FROM comp a
            JOIN cent c ON TRUE
            JOIN comp b ON b.vec_id = c.cell AND b.i = a.i
            GROUP BY 1, 2
        ),
        assign AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cell) AS r
                FROM cd
            ) WHERE r = 1
        ),
        sums AS (
            SELECT s.cell, c.i, SUM(c.qx) AS sm, COUNT(*) AS n
            FROM assign s JOIN comp c ON c.vec_id = s.vec_id
            GROUP BY 1, 2
        ),
        perdim AS (
            SELECT sums.cell, n, ABS(sm - n * b.qx) AS dnum
            FROM sums JOIN comp b ON b.vec_id = sums.cell AND b.i = sums.i
        )
        SELECT cell AS cell_id,
               CAST(MAX(n) AS BIGINT) AS n_members,
               CAST(SUM(dnum) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * COUNT(*) * 10000) AS drift
        FROM perdim
        GROUP BY 1
        ORDER BY 1
    """,
    "ann_topk_lsh_multi": f"""
        WITH comp AS ({_COMP}),
        mbkt AS ({_MULTI_BUCKET}),
        cand AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM mbkt q
            JOIN mbkt c ON q.t = c.t AND q.bucket = c.bucket
            WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
        ),
        dots AS (
            SELECT cand.query_id, cand.neighbor_id,
                   SUM(a.qx * b.qx) AS s
            FROM cand
            JOIN comp a ON a.vec_id = cand.query_id
            JOIN comp b ON b.vec_id = cand.neighbor_id AND a.i = b.i
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(rank AS INTEGER) AS rank,
               CAST(s AS DOUBLE) / 100000000.0 AS score
        FROM (
            SELECT query_id, neighbor_id, s,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rank
            FROM dots
        )
        WHERE rank <= 5
    """,
    "ann_topk_ivf": f"""
        WITH stride AS (
            SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
            FROM embeddings
        ),
        comp AS ({_COMP}),
        cent AS (
            SELECT vec_id AS cell FROM embeddings
            WHERE vec_id % (SELECT s FROM stride) = 0
        ),
        cd AS (
            SELECT a.vec_id, c.cell,
                   SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
            FROM comp a
            JOIN cent c ON TRUE
            JOIN comp b ON b.vec_id = c.cell AND b.i = a.i
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS r
            FROM cd
        ),
        assign AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
        probes AS (
            SELECT vec_id AS query_id, cell FROM ranked
            WHERE vec_id < 10 AND r <= {similarity.N_PROBES}
        ),
        dots AS (
            SELECT p.query_id, s.vec_id AS neighbor_id,
                   SUM(a.qx * b.qx) AS s
            FROM probes p
            JOIN assign s ON s.cell = p.cell AND s.vec_id != p.query_id
            JOIN comp a ON a.vec_id = p.query_id
            JOIN comp b ON b.vec_id = s.vec_id AND b.i = a.i
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(rank AS INTEGER) AS rank,
               CAST(s AS DOUBLE) / 100000000.0 AS score
        FROM (
            SELECT query_id, neighbor_id, s,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rank
            FROM dots
        )
        WHERE rank <= 5
    """,
    "emb_near_dup_lsh": f"""
        WITH comp AS ({_COMP}),
        bkt AS ({_SIGN_BUCKET}),
        d AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
            FROM comp a
            JOIN bkt ba ON ba.vec_id = a.vec_id
            JOIN bkt bb ON bb.bucket = ba.bucket
            JOIN comp b ON b.vec_id = bb.vec_id AND a.i = b.i
            WHERE a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_a, vec_b, CAST(d2 AS DOUBLE) / 100000000.0 AS dist2
        FROM d
        WHERE d2 <= 120000000
    """,
    "emb_near_dup_lsh_multi": f"""
        WITH comp AS ({_COMP}),
        mbkt AS ({_MULTI_BUCKET}),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM mbkt a
            JOIN mbkt b ON a.t = b.t AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id
        ),
        d AS (
            SELECT cand.vec_a, cand.vec_b,
                   SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
            FROM cand
            JOIN comp a ON a.vec_id = cand.vec_a
            JOIN comp b ON b.vec_id = cand.vec_b AND a.i = b.i
            GROUP BY 1, 2
        )
        SELECT vec_a, vec_b, CAST(d2 AS DOUBLE) / 100000000.0 AS dist2
        FROM d
        WHERE d2 <= 120000000
    """,
    "emb_near_dup": f"""
        WITH comp AS ({_COMP}),
        d AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
            FROM comp a
            JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY 1, 2
        )
        SELECT vec_a, vec_b, CAST(d2 AS DOUBLE) / 100000000.0 AS dist2
        FROM d
        WHERE d2 <= 120000000
    """,
}

# composed AFTER the dict so the two signal oracles are embedded
# splice the minhash-pair SQL into the components closure (the dict
# literal above can't reference itself while being built)
EXT_ORACLE_SQL["dedup_components"] = EXT_ORACLE_SQL["dedup_components"].format(
    minhash_pairs=EXT_ORACLE_SQL["dedup_minhash_lsh"]
)

# the star-algorithm variant computes the IDENTICAL labels — one
# oracle text serves both (different Spark algorithms, same closure)
EXT_ORACLE_SQL["dedup_components_star"] = EXT_ORACLE_SQL["dedup_components"]

# X141 incremental closure: the oracle IS the full-recompute closure —
# the value hash proves incremental == full (the components_star idiom)
EXT_ORACLE_SQL["dedup_components_delta"] = EXT_ORACLE_SQL["dedup_components"]

# streaming incremental dedup (X115): the CORPUS-PROBE subset of the
# X90 oracle — the adapter's drained+reduced result is exactly the
# single-copy corpus verdict despite the double delivery (replay
# idempotence IS what the value-hash proves; the query fn lives in
# streaming/registry_stream.py)
EXT_ORACLE_SQL["streaming_dedup_delta"] = f"""
    WITH {_MINHASH_SIGS},
    base AS (SELECT * FROM sigs WHERE doc_id % 10 < {_DELTA_PCT}),
    delta AS (SELECT * FROM sigs WHERE doc_id % 10 >= {_DELTA_PCT}),
    bb AS (
        {_banded_sql('base')}
    ),
    db AS (
        {_banded_sql('delta')}
    ),
    ccand AS (
        SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS match_id
        FROM db d JOIN bb c ON d.b = c.b AND d.band_key = c.band_key
    ),
    cver AS (
        SELECT delta_id, match_id,
               CAST(len(list_filter(generate_series(1, 32),
                    i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 32.0 AS est
        FROM ccand
        JOIN delta sa ON sa.doc_id = delta_id
        JOIN base sb ON sb.doc_id = match_id
    ),
    cdup AS (
        SELECT delta_id, match_id, est FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY delta_id
                      ORDER BY est DESC, match_id) AS rn
            FROM cver WHERE est >= 0.5
        ) WHERE rn = 1
    )
    SELECT d.doc_id,
           (c.delta_id IS NOT NULL) AS is_dup,
           c.match_id AS match_doc_id,
           c.est AS est_jaccard
    FROM delta d
    LEFT JOIN cdup c ON c.delta_id = d.doc_id
    ORDER BY d.doc_id
"""

# exact-substring spans (X117/X118 shared CTE chain): positional
# 8-token shingles over the corpus + the engineered splices, 60-bit
# md5 gram hash, distinct-docs filter, islands merge — the identical
# pipeline duplicated_spans runs; X117's report and X118's removal
# apply are two tails over the same chain
_XSUB_CTES = f"""docs2 AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 40000000 AS doc_id,
               array_to_string(list_slice(toks, 5, 20), ' ')
                   || ' xsplice' || CAST(doc_id AS VARCHAR) AS text
        FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        WHERE doc_id % 40 = 0 AND len(toks) >= 24
    ),
    tk AS (
        SELECT doc_id, {_TOKS} AS toks FROM docs2
    ),
    pg AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               CAST(concat('0x', substr(md5(array_to_string(
                        list_slice(toks, CAST(i AS INT),
                                   CAST(i + 7 AS INT)), ' ')),
                    1, 15)) AS BIGINT) AS g
        FROM tk, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        WHERE len(toks) >= 8
    ),
    gd AS (
        SELECT g FROM (SELECT DISTINCT g, doc_id FROM pg)
        GROUP BY g HAVING COUNT(*) >= 2
    ),
    dup AS (SELECT p.doc_id, p.pos FROM pg p JOIN gd USING (g)),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY pos) AS grp
        FROM dup
    )"""

EXT_ORACLE_SQL["dedup_exact_substring"] = f"""
    WITH {_XSUB_CTES}
    SELECT doc_id,
           CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + 7 - MIN(pos) + 1 AS INT) AS span_len,
           CAST(COUNT(*) AS INT) AS n_windows
    FROM isl
    GROUP BY doc_id, grp
    ORDER BY doc_id, span_start
"""

# X118: cut every covered position, re-emit survivors in token order
EXT_ORACLE_SQL["dedup_remove_substrings"] = f"""
    WITH {_XSUB_CTES},
    spans AS (
        SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
        FROM isl GROUP BY doc_id, grp
    ),
    tpos AS (
        SELECT doc_id, CAST(i AS INT) AS pos,
               toks[CAST(i AS INT)] AS tok
        FROM tk, unnest(generate_series(1, len(toks))) AS u(i)
    ),
    kept AS (
        SELECT t.doc_id, t.pos, t.tok FROM tpos t
        WHERE NOT EXISTS (
            SELECT 1 FROM spans s
            WHERE s.doc_id = t.doc_id AND t.pos BETWEEN s.s AND s.e
        )
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY pos) AS txt
        FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(tk.toks) AS INT) AS n_tokens,
           CAST(len(tk.toks) - COALESCE(agg.n_kept, 0) AS INT) AS n_removed,
           COALESCE(agg.txt, '') AS clean_text
    FROM tk LEFT JOIN agg USING (doc_id)
    ORDER BY tk.doc_id
"""

# image canonical keep-list (X114): the verbatim pHash pair SQL nested
# under the SAME recursive min-label closure dedup_components uses,
# then one survivor per component with its collapse count; the node
# universe restates the pHash oracle's imgdocs eligibility (base
# images with non-empty text + the length-guarded re-renders)
EXT_ORACLE_SQL["mm_canonical_assets"] = f"""
    WITH RECURSIVE
    ph AS ({EXT_ORACLE_SQL["mm_phash_near_dup"]}),
    nodes AS (
        SELECT doc_id AS asset_id FROM documents
        WHERE doc_id % 3 = 0 AND len(text) > 0
        UNION ALL
        SELECT doc_id + 30000000 AS asset_id FROM documents
        WHERE doc_id % 30 = 0 AND len(text) >= 72
    ),
    edges AS (
        SELECT asset_a AS u, asset_b AS v FROM ph
        UNION
        SELECT asset_b AS u, asset_a AS v FROM ph
    ),
    reach(u, r) AS (
        SELECT asset_id, asset_id FROM nodes
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    comp AS (
        SELECT u AS asset_id, MIN(r) AS component_id FROM reach GROUP BY u
    )
    SELECT component_id AS asset_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM comp
    GROUP BY 1
    ORDER BY 1
"""

# semantic dedup: the IVF assignment replayed verbatim (stride
# centroids, exact int d2, (d2, cell) tie-break), within-cell pairs
# under the threshold, then the same recursive-CTE transitive closure
# the text-dedup components use — keep = min-id representative
EXT_ORACLE_SQL["dedup_semantic"] = f"""
    WITH RECURSIVE
    stride AS (
        SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
        FROM embeddings
    ),
    comp AS ({_COMP}),
    cent AS (
        SELECT vec_id AS cell FROM embeddings
        WHERE vec_id % (SELECT s FROM stride) = 0
    ),
    cd AS (
        SELECT a.vec_id, c.cell,
               SUM((a.qx - b.qx) * (a.qx - b.qx)) AS d2
        FROM comp a
        JOIN cent c ON TRUE
        JOIN comp b ON b.vec_id = c.cell AND b.i = a.i
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, cell) AS r
        FROM cd
    ),
    assign AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
    pairs AS (
        SELECT sa.vec_id AS vec_a, sb.vec_id AS vec_b
        FROM assign sa
        JOIN assign sb ON sa.cell = sb.cell AND sa.vec_id < sb.vec_id
        JOIN comp a ON a.vec_id = sa.vec_id
        JOIN comp b ON b.vec_id = sb.vec_id AND b.i = a.i
        GROUP BY 1, 2
        HAVING SUM((a.qx - b.qx) * (a.qx - b.qx)) <= 120000000
    ),
    edges AS (
        SELECT vec_a AS u, vec_b AS v FROM pairs
        UNION
        SELECT vec_b AS u, vec_a AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    labels AS (SELECT u AS vec_id, MIN(r) AS component FROM reach GROUP BY u)
    SELECT a.vec_id, a.cell, l.component,
           a.vec_id = l.component AS keep
    FROM assign a JOIN labels l USING (vec_id)
"""

# the apply step: same transitive closure, then survivors (component
# min-id rows) with their collapsed cluster size joined back to the
# document attributes
EXT_ORACLE_SQL["dedup_canonical_docs"] = f"""
    WITH RECURSIVE
    tsig AS ({EXT_ORACLE_SQL["dedup_minhash_lsh"]}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM tsig
        UNION
        SELECT doc_b AS u, doc_a AS v FROM tsig
    ),
    reach(u, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    comp AS (SELECT u AS doc_id, MIN(r) AS component_id FROM reach GROUP BY u),
    sizes AS (
        SELECT component_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT d.doc_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
           d.lang, d.source
    FROM sizes s
    JOIN documents d ON d.doc_id = s.component_id
"""

# verbatim — ensemble == full-outer merge of the standalone results
# by construction
EXT_ORACLE_SQL["dedup_ensemble"] = f"""
    WITH tsig AS ({EXT_ORACLE_SQL["dedup_minhash_lsh"]}),
    esig AS (
        SELECT vec_a AS doc_a, vec_b AS doc_b, dist2
        FROM ({EXT_ORACLE_SQL["emb_near_dup_lsh_multi"]})
    )
    SELECT COALESCE(t.doc_a, e.doc_a) AS doc_a,
           COALESCE(t.doc_b, e.doc_b) AS doc_b,
           t.est_jaccard, e.dist2,
           CAST((t.est_jaccard IS NOT NULL)::INT
                + (e.dist2 IS NOT NULL)::INT AS BIGINT) AS n_signals
    FROM tsig t
    FULL OUTER JOIN esig e ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
"""

# fastText-shape hashed-linear scorer: same 28-bit md5-prefix hash
# idiom as the dedup shingles, weights = hash mod (2·SPAN+1) − SPAN,
# integer sum exact, ONE final division (list_sum of an empty list is
# NULL in DuckDB where Spark's aggregate init gives 0 — coalesced)
EXT_ORACLE_SQL["text_model_quality"] = f"""
    WITH c AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    f AS (
        SELECT doc_id,
               list_concat(
                   toks,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(
                                 generate_series(1, len(toks) - 1),
                                 i -> concat_ws(' ', toks[i], toks[i + 1]))
                        ELSE [] END
               ) AS feats
        FROM c
    ),
    s AS (
        SELECT doc_id,
               CAST(len(feats) AS BIGINT) AS n_features,
               CAST(COALESCE(list_sum(list_transform(feats,
                    x -> CAST(concat('0x', substr(md5(x), 1, 7)) AS BIGINT)
                         % 2001 - 1000)), 0) AS BIGINT) AS raw_score
        FROM f
    )
    SELECT doc_id, n_features, raw_score,
           CASE WHEN n_features > 0
                THEN CAST(raw_score AS DOUBLE)
                     / CAST(n_features * 1000 AS DOUBLE)
                ELSE 0.0 END AS model_score
    FROM s
"""

# per-source cap: the registered quality-score oracle replayed as the
# ranking priority, rank-then-filter — mirrors sampling.per_source_cap
EXT_ORACLE_SQL["curation_source_caps"] = f"""
    WITH q AS ({{q}}),
    j AS (
        SELECT d.doc_id, d.source, q.quality_score
        FROM documents d JOIN q ON d.doc_id = q.doc_id
    ),
    r AS (
        SELECT doc_id, source, quality_score,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality_score DESC, doc_id)
                   AS src_rank
        FROM j
    )
    SELECT doc_id, source, quality_score,
           CAST(src_rank AS INTEGER) AS src_rank
    FROM r
    WHERE src_rank <= 10
""".replace("{q}", EXT_ORACLE_SQL["text_quality_score"])

#: Exact re-rank depth of the TRAINED entry — measured, not copied
#: from the stride entry's 20 (BENCH_NOTES r9 sweep): at nprobe=3 the
#: trained recall is shortlist-bound, not coverage-bound (nprobe 1/2
#: match ivf-flat exactly; refine 20/50/100 → 0.66/0.92/0.94), so 50
#: — still a panel-sized fetch — buys recall ABOVE ivf-flat's 0.84.
IVFPQT_REFINE = 50


def _ivfpq_trained_oracle_sql(
    rounds: int = similarity.KM_TRAIN_ROUNDS,
    refine: int = IVFPQT_REFINE,
    final: str = "search",
    labels: tuple | None = None,
) -> str:
    """GENERATED oracle for ann_topk_ivfpq_trained (residual IVFADC
    on trained quantizers): the bounded Lloyd training unrolled as
    CTE chains (the BPE/k-core unrolling pattern) — ``rounds`` coarse
    rounds over the full-dimension components, then, AFTER the final
    coarse assignment fixes the residuals, ``rounds`` codebook rounds
    over the residual subvectors — followed by the residual search
    (per-(query, probed-cell) distance tables, cell-keyed ADC, exact
    top-20 re-rank). AS MATERIALIZED on every round CTE — each round
    is referenced by the next assignment AND the next means, and
    DuckDB would otherwise inline the chain into base-scan blowup
    (the k-core oracle lesson). Mean arithmetic mirrors Spark
    exactly: floor((2·Σx + n) / (2.0·n)) — one IEEE double division +
    floor, identical in both engines; every tie-break inherited.

    r10: training is SAMPLE-BOUNDED (the shipped config) — Lloyd
    rounds run over the TRAIN_SAMPLE_N md5 hash-rank sample, seeded
    from the TRAIN_K prefix of the same ordering (one contract, two
    LIMITs; the X79 sample the Spark side reuses). Final assignment,
    residual encoding, and the search stay full-corpus."""
    head = f"""
        WITH samp AS MATERIALIZED (
            SELECT vec_id FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {similarity.TRAIN_SAMPLE_N}
        ),
        seed AS MATERIALIZED (
            SELECT vec_id FROM embeddings
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {similarity.TRAIN_K}
        ),
        comp AS ({_COMP}),
        dims AS (SELECT vec_id, len(embedding) AS d FROM embeddings),
        cent_r0 AS MATERIALIZED (
            SELECT c.vec_id AS cell, c.i, c.qx
            FROM comp c JOIN seed s ON s.vec_id = c.vec_id
        )"""
    coarse = []
    for r in range(1, rounds + 1):
        coarse.append(f""",
        casg_r{r} AS MATERIALIZED (
            SELECT vec_id, cell FROM (
                SELECT a.vec_id, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY SUM((a.qx - c.qx) * (a.qx - c.qx)),
                                    c.cell) AS r
                FROM comp a
                JOIN samp sm ON sm.vec_id = a.vec_id
                JOIN cent_r{r - 1} c ON c.i = a.i
                GROUP BY a.vec_id, c.cell
            ) WHERE r = 1
        ),
        cent_r{r} AS MATERIALIZED (
            SELECT s.cell, c.i,
                   CAST(floor((2 * SUM(c.qx) + COUNT(*))
                              / (2.0 * COUNT(*))) AS BIGINT) AS qx
            FROM casg_r{r} s JOIN comp c USING (vec_id)
            GROUP BY 1, 2
        )""")
    assign_frag = f""",
        ccd AS (
            SELECT a.vec_id, c.cell,
                   SUM((a.qx - c.qx) * (a.qx - c.qx)) AS d2
            FROM comp a JOIN cent_r{rounds} c ON c.i = a.i
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cell) AS r
            FROM ccd
        ),
        assign AS (SELECT vec_id, cell FROM ranked WHERE r = 1)"""
    if final == "health":
        # X156: the index-health report stops at the coarse assignment
        # — per-cell inventory sizes + each cell's share of the corpus
        return (
            head
            + "".join(coarse)
            + assign_frag
            + """,
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM assign)
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(COUNT(*) AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share
        FROM assign CROSS JOIN tot
        GROUP BY cell, tot.n
        ORDER BY cell
    """
        )
    if final == "drift":
        # X182: base slice vs delta arrivals under the same trained
        # quantizer — per-cell shares + exact cross-product TVD
        return (
            head
            + "".join(coarse)
            + assign_frag
            + """,
        sl AS (
            SELECT cell,
                   CASE WHEN vec_id % 10 >= 7 THEN 1 ELSE 0 END
                       AS is_delta
            FROM assign
        ),
        per AS (
            SELECT cell,
                   CAST(SUM(1 - is_delta) AS BIGINT) AS n_base,
                   CAST(SUM(is_delta) AS BIGINT) AS n_delta
            FROM sl GROUP BY 1
        ),
        tot AS (
            SELECT CAST(SUM(n_base) AS BIGINT) AS nb,
                   CAST(SUM(n_delta) AS BIGINT) AS nd
            FROM per
        ),
        tvd AS (
            SELECT CAST(SUM(ABS(n_base * nd - n_delta * nb)) AS DOUBLE)
                   / (2.0 * CAST(nb AS DOUBLE) * CAST(nd AS DOUBLE))
                       AS drift_tvd
            FROM per CROSS JOIN tot GROUP BY nb, nd
        )
        SELECT cell, n_base, n_delta,
               CAST(n_base AS DOUBLE) / CAST(nb AS DOUBLE) AS base_share,
               CAST(n_delta AS DOUBLE) / CAST(nd AS DOUBLE)
                   AS delta_share,
               tvd.drift_tvd
        FROM per CROSS JOIN tot CROSS JOIN tvd
        ORDER BY cell
    """
        )
    mid = assign_frag + f""",
        probes AS (
            SELECT vec_id AS query_id, cell FROM ranked
            WHERE vec_id < 10 AND r <= {similarity.N_PROBES}
        ),
        rsubs AS MATERIALIZED (
            SELECT a.vec_id,
                   CAST((a.i - 1) // (d.d // 4) AS INT) AS sub,
                   CAST((a.i - 1) % (d.d // 4) AS INT) AS pos,
                   a.qx - c.qx AS rx
            FROM comp a
            JOIN assign s USING (vec_id)
            JOIN cent_r{rounds} c ON c.cell = s.cell AND c.i = a.i
            JOIN dims d ON d.vec_id = a.vec_id
            WHERE (a.i - 1) // (d.d // 4) < 4
        ),
        pbook_r0 AS MATERIALIZED (
            SELECT r.sub, r.vec_id AS cell, r.pos, r.rx
            FROM rsubs r JOIN seed s ON s.vec_id = r.vec_id
        )"""
    books = []
    for r in range(1, rounds + 1):
        books.append(f""",
        pasg_r{r} AS MATERIALIZED (
            SELECT vec_id, sub, cell FROM (
                SELECT a.vec_id, a.sub, c.cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id, a.sub
                           ORDER BY SUM((a.rx - c.rx) * (a.rx - c.rx)),
                                    c.cell) AS r
                FROM rsubs a
                JOIN samp sm ON sm.vec_id = a.vec_id
                JOIN pbook_r{r - 1} c ON c.sub = a.sub AND c.pos = a.pos
                GROUP BY a.vec_id, a.sub, c.cell
            ) WHERE r = 1
        ),
        pbook_r{r} AS MATERIALIZED (
            SELECT s.sub, s.cell, a.pos,
                   CAST(floor((2 * SUM(a.rx) + COUNT(*))
                              / (2.0 * COUNT(*))) AS BIGINT) AS rx
            FROM pasg_r{r} s
            JOIN rsubs a ON a.vec_id = s.vec_id AND a.sub = s.sub
            GROUP BY 1, 2, 3
        )""")
    inv_cte = ""
    inv_join = ""
    if labels is not None:
        inv_cte = f""",
        inv AS (SELECT vec_id FROM embeddings
                WHERE label IN {tuple(labels)})"""
        inv_join = """
            JOIN inv ON inv.vec_id = c.neighbor_id"""
    tail = inv_cte + f""",
        pcd AS (
            SELECT a.vec_id, a.sub, c.cell AS pcell,
                   CAST(SUM((a.rx - c.rx) * (a.rx - c.rx)) AS BIGINT) AS d2
            FROM rsubs a
            JOIN pbook_r{rounds} c ON c.sub = a.sub AND c.pos = a.pos
            GROUP BY 1, 2, 3
        ),
        codes AS (
            SELECT vec_id AS neighbor_id, sub, pcell FROM (
                SELECT vec_id, sub, pcell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, pcell) AS rn
                FROM pcd
            ) WHERE rn = 1
        ),
        qsubs AS (
            SELECT p.query_id, p.cell,
                   CAST((a.i - 1) // (d.d // 4) AS INT) AS sub,
                   CAST((a.i - 1) % (d.d // 4) AS INT) AS pos,
                   a.qx - c.qx AS rx
            FROM comp a
            JOIN probes p ON p.query_id = a.vec_id
            JOIN cent_r{rounds} c ON c.cell = p.cell AND c.i = a.i
            JOIN dims d ON d.vec_id = a.vec_id
            WHERE (a.i - 1) // (d.d // 4) < 4
        ),
        dtab AS (
            SELECT q.query_id, q.cell, q.sub, b.cell AS pcell,
                   CAST(SUM((q.rx - b.rx) * (q.rx - b.rx)) AS BIGINT) AS qd2
            FROM qsubs q
            JOIN pbook_r{rounds} b ON b.sub = q.sub AND b.pos = q.pos
            GROUP BY 1, 2, 3, 4
        ),
        adc AS (
            SELECT d.query_id, c.neighbor_id,
                   CAST(SUM(d.qd2) AS BIGINT) AS adc_d2
            FROM codes c{inv_join}
            JOIN assign s ON s.vec_id = c.neighbor_id
            JOIN probes p ON p.cell = s.cell
            JOIN dtab d ON d.query_id = p.query_id AND d.cell = p.cell
                       AND d.sub = c.sub AND d.pcell = c.pcell
            WHERE d.query_id != c.neighbor_id
            GROUP BY 1, 2
        ),
        short AS (
            SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY adc_d2, neighbor_id) AS ar
                FROM adc
            ) WHERE ar <= {refine}
        ),
        dots AS (
            SELECT sh.query_id, sh.neighbor_id, SUM(a.qx * b.qx) AS sc
            FROM short sh
            JOIN comp a ON a.vec_id = sh.query_id
            JOIN comp b ON b.vec_id = sh.neighbor_id AND b.i = a.i
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
               CAST(sc AS DOUBLE) / 100000000.0 AS score
        FROM (
            SELECT query_id, neighbor_id, sc,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sc DESC, neighbor_id) AS rank
            FROM dots
        )
        WHERE rank <= 5
    """
    return head + "".join(coarse) + mid + "".join(books) + tail


EXT_ORACLE_SQL["ann_topk_ivfpq_trained"] = _ivfpq_trained_oracle_sql()

# X190: the identical trained-search chain with the label predicate
# applied to the code inventory (filtering before or after encoding
# is value-identical — codes are per-vector functions)
EXT_ORACLE_SQL["ann_topk_ivfpq_filtered"] = _ivfpq_trained_oracle_sql(
    labels=ALLOWED_LABELS
)

# X191: pre-filter vs post-filter audit — both scored against the
# exact FILTERED brute truth; each search chain is its own scoped
# subquery (nested WITH), so CTE names cannot collide
EXT_ORACLE_SQL["ann_filtered_recall_audit"] = f"""
    WITH pre AS MATERIALIZED (
        SELECT query_id, neighbor_id
        FROM ({EXT_ORACLE_SQL["ann_topk_ivfpq_filtered"]})
    ),
    post_raw AS MATERIALIZED (
        SELECT query_id, neighbor_id
        FROM ({EXT_ORACLE_SQL["ann_topk_ivfpq_trained"]})
    ),
    inv AS (SELECT vec_id FROM embeddings
            WHERE label IN {tuple(ALLOWED_LABELS)}),
    post AS (
        SELECT p.query_id, p.neighbor_id
        FROM post_raw p JOIN inv ON inv.vec_id = p.neighbor_id
    ),
    comp AS ({_COMP}),
    fdots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               SUM(a.qx * b.qx) AS s
        FROM comp a
        JOIN comp b ON a.i = b.i AND a.vec_id < 10
                   AND a.vec_id != b.vec_id
        JOIN inv ON inv.vec_id = b.vec_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY s DESC, neighbor_id) AS rank
            FROM fdots
        ) WHERE rank <= 5
    ),
    rows_out AS (
        SELECT 'prefilter' AS method,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pre) AS n_returned,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM pre p
                JOIN truth t ON t.query_id = p.query_id
                            AND t.neighbor_id = p.neighbor_id) AS n_hits
        UNION ALL
        SELECT 'postfilter',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM post),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM post p
                JOIN truth t ON t.query_id = p.query_id
                            AND t.neighbor_id = p.neighbor_id)
    )
    SELECT method, n_returned, n_hits,
           CAST(50 AS BIGINT) AS n_truth,
           CAST(n_hits AS DOUBLE) / 50.0 AS recall_at_k
    FROM rows_out ORDER BY method
"""

# X156: same generator, the health final — training + assignment prefix
EXT_ORACLE_SQL["ann_index_health"] = _ivfpq_trained_oracle_sql(
    final="health"
)
# X182: same generator, the drift final — training + assignment +
# base-vs-delta per-cell comparison
EXT_ORACLE_SQL["ann_centroid_drift"] = _ivfpq_trained_oracle_sql(
    final="drift"
)

# recall@k audit: each approximate method's own registered oracle SQL
# replayed as a CTE against the brute-force oracle — the audit reuses
# exactly the formulas the per-method gate rows pin, so the
# intersection counts are exact by construction
EXT_ORACLE_SQL["ann_recall_audit"] = f"""
    WITH brute AS ({EXT_ORACLE_SQL["ann_topk_brute"]}),
    m_ivf AS ({EXT_ORACLE_SQL["ann_topk_ivf"]}),
    m_ivfpq AS ({EXT_ORACLE_SQL["ann_topk_ivfpq"]}),
    m_ivfpqt AS ({EXT_ORACLE_SQL["ann_topk_ivfpq_trained"]}),
    m_lsh AS ({EXT_ORACLE_SQL["ann_topk_lsh"]}),
    m_lshm AS ({EXT_ORACLE_SQL["ann_topk_lsh_multi"]}),
    m_pq AS ({EXT_ORACLE_SQL["ann_topk_pq"]}),
    hits AS (
        SELECT 'ivf' AS method, COUNT(*) AS n_hits
        FROM m_ivf JOIN brute USING (query_id, neighbor_id)
        UNION ALL
        SELECT 'ivfpq' AS method, COUNT(*) AS n_hits
        FROM m_ivfpq JOIN brute USING (query_id, neighbor_id)
        UNION ALL
        SELECT 'ivfpq_t' AS method, COUNT(*) AS n_hits
        FROM m_ivfpqt JOIN brute USING (query_id, neighbor_id)
        UNION ALL
        SELECT 'lsh' AS method, COUNT(*) AS n_hits
        FROM m_lsh JOIN brute USING (query_id, neighbor_id)
        UNION ALL
        SELECT 'lsh_multi' AS method, COUNT(*) AS n_hits
        FROM m_lshm JOIN brute USING (query_id, neighbor_id)
        UNION ALL
        SELECT 'pq' AS method, COUNT(*) AS n_hits
        FROM m_pq JOIN brute USING (query_id, neighbor_id)
    )
    SELECT method, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(50 AS BIGINT) AS n_truth,
           CAST(n_hits AS DOUBLE) / 50.0 AS recall_at_k
    FROM hits
    ORDER BY method
"""

# clustered-fixture recall audit: a CTE named `embeddings` SHADOWS the
# registered view (DuckDB CTE binding precedence; the base table is
# reached via the explicit main. schema qualifier), so every method
# fragment of the verbatim audit SQL below transparently reads the
# shifted corpus — the exact splice similarity.clustered_embeddings
# performs on the Spark side. The shift is one IEEE double addition of
# the binary-exact ±0.125 per-cluster offset (cluster = vec_id mod 8,
# sign = cluster bit ((i-1) mod 3)), applied BEFORE quantization in
# both engines.
_CLUSTERED_EMB = """
    SELECT vec_id,
           list_transform(
               generate_series(1, len(embedding)),
               i -> CAST(embedding[i] AS DOUBLE)
                    + CASE WHEN ((vec_id % 8)
                                 // CAST(pow(2, (i - 1) % 3) AS BIGINT))
                                % 2 = 1
                           THEN 0.125 ELSE -0.125 END
           ) AS embedding
    FROM main.embeddings
"""
_audit_sql = EXT_ORACLE_SQL["ann_recall_audit"].lstrip()
assert _audit_sql.upper().startswith("WITH")
EXT_ORACLE_SQL["ann_recall_clustered"] = (
    f"WITH embeddings AS ({_CLUSTERED_EMB}),\n    " + _audit_sql[len("WITH"):]
)

# LSH quality audit: the registered minhash-pair oracle (emitted) and
# its banding CTE (candidates) scored against exact shingle-Jaccard
# ground truth — the truth CTE is the dedup_ngram_jaccard oracle at
# the MinHash family's own n=3 / τ=0.5, so every pair set is pinned
# by SQL the per-stage gate rows already verify
#: exact shingle-Jaccard >= 0.5 ground-truth pair set (count-join
#: form) — ONE definition shared by the per-stage LSH audit and the
#: cross-signal agreement report so the two can never score against
#: different truths.
_JACCARD_TRUTH = f"""
        -- exact Jaccard >= 0.5 pairs in the COUNT-JOIN form (the same
        -- identity Spark's auto-selected ssjoin uses on this corpus):
        -- |A∩B| by counting shared grams per pair, |A∪B| = la+lb-i.
        -- Equivalent to the all-pairs list_intersect spec but never
        -- materializes the n²/2 pair space (381 s -> seconds at the
        -- 5000-doc sf0.1 parity run); grams are distinct per doc so
        -- COUNT(*) IS the intersection size, and a zero-overlap pair
        -- (absent here, present in all-pairs) can never pass tau>0.
        WITH g AS (
            SELECT doc_id,
                   list_distinct(list_transform({_shingles(3)},
                       s -> CAST(concat('0x', substr(md5(s), 1,
                            {dedup.GRAM_HASH_HEX})) AS BIGINT))) AS grams
            FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        ),
        tok AS (
            SELECT doc_id, len(grams) AS l, unnest(grams) AS gr FROM g
        ),
        ov AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) AS i,
                   ANY_VALUE(a.l) AS la, ANY_VALUE(b.l) AS lb
            FROM tok a JOIN tok b ON a.gr = b.gr AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b FROM ov
        WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.5
"""

EXT_ORACLE_SQL["dedup_lsh_quality"] = f"""
    WITH truth AS ({_JACCARD_TRUTH}),
    cand AS (
        WITH {_MINHASH_SIGS},
        banded AS (
            {_banded_sql('sigs')}
        )
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM banded a
        JOIN banded c ON a.b = c.b AND a.band_key = c.band_key
                     AND a.doc_id < c.doc_id
    ),
    emitted AS ({EXT_ORACLE_SQL["dedup_minhash_lsh"]}),
    -- n_truth computed ONCE and cross-joined (one row), mirroring the
    -- Spark side — the earlier form re-evaluated the expensive truth
    -- CTE from three scalar subqueries per stage (r6 ADVICE)
    nt AS (SELECT COUNT(*) AS n_truth FROM truth),
    stages AS (
        SELECT 'candidates' AS stage,
               (SELECT COUNT(*) FROM cand) AS n_pairs,
               (SELECT COUNT(*) FROM cand c JOIN truth t
                    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_hits
        UNION ALL
        SELECT 'emitted',
               (SELECT COUNT(*) FROM emitted),
               (SELECT COUNT(*) FROM emitted e JOIN truth t
                    ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b)
    )
    SELECT stage,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_pairs > 0
                THEN CAST(n_hits AS DOUBLE) / n_pairs END AS pair_precision,
           CASE WHEN n_truth > 0
                THEN CAST(n_hits AS DOUBLE) / n_truth END AS pair_recall
    FROM stages CROSS JOIN nt
    ORDER BY stage
"""

# cross-signal agreement: each signal's own registered SQL scored
# against the shared truth fragment — the ensemble-threshold table
EXT_ORACLE_SQL["dedup_signal_agreement"] = f"""
    WITH truth AS ({_JACCARD_TRUTH}),
    s_minhash AS ({EXT_ORACLE_SQL["dedup_minhash_lsh"]}),
    s_simhash AS ({EXT_ORACLE_SQL["dedup_simhash_pairs"]}),
    s_embedding AS (
        SELECT vec_a AS doc_a, vec_b AS doc_b
        FROM ({EXT_ORACLE_SQL["emb_near_dup_lsh_multi"]})
    ),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth),
    stages AS (
        SELECT 'embedding' AS signal,
               (SELECT COUNT(*) FROM s_embedding) AS n_pairs,
               (SELECT COUNT(*) FROM s_embedding e JOIN truth t
                    ON e.doc_a = t.doc_a AND e.doc_b = t.doc_b) AS n_hits
        UNION ALL
        SELECT 'minhash',
               (SELECT COUNT(*) FROM s_minhash),
               (SELECT COUNT(*) FROM s_minhash m JOIN truth t
                    ON m.doc_a = t.doc_a AND m.doc_b = t.doc_b)
        UNION ALL
        SELECT 'simhash',
               (SELECT COUNT(*) FROM s_simhash),
               (SELECT COUNT(*) FROM s_simhash x JOIN truth t
                    ON x.doc_a = t.doc_a AND x.doc_b = t.doc_b)
    )
    SELECT signal,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_pairs > 0
                THEN CAST(n_hits AS DOUBLE) / n_pairs END AS pair_precision,
           CASE WHEN n_truth > 0
                THEN CAST(n_hits AS DOUBLE) / n_truth END AS jaccard_agreement
    FROM stages CROSS JOIN nt
    ORDER BY signal
"""

# bitext mining: the multi-table LSH near-dup oracle joined to the
# document languages, cross-lingual pairs only
EXT_ORACLE_SQL["emb_bitext_mine"] = f"""
    SELECT vec_a, vec_b, da.lang AS lang_a, db.lang AS lang_b, dist2
    FROM ({EXT_ORACLE_SQL["emb_near_dup_lsh_multi"]}) p
    JOIN documents da ON p.vec_a = da.doc_id
    JOIN documents db ON p.vec_b = db.doc_id
    WHERE da.lang != db.lang
    ORDER BY vec_a, vec_b
"""


def _bpe_oracle_sql(k: int, final: str = "merges") -> str:
    """The text_bpe_merges oracle: k BPE rounds UNROLLED as chained
    CTEs (DuckDB replays the exact loop text.bpe_merges runs — same
    greedy left-to-right island selection, same (count DESC, left,
    right) tie-break, exact integer pair counts over word
    frequencies). Generated, not hand-written, so the round template
    is stated once."""
    ctes = [
        """w AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ) WHERE len(word) > 0 GROUP BY 1
    )""",
        """t0 AS (
        SELECT word, freq, i AS pos, substr(word, CAST(i AS INT), 1) AS tok
        FROM w, unnest(generate_series(1, len(word))) AS u(i)
    )""",
    ]
    outs = []
    for r in range(1, k + 1):
        p = r - 1
        ctes.append(f"""a{r} AS (
        SELECT word, freq, pos, tok,
               LEAD(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM t{p}
    )""")
        ctes.append(f"""m{r} AS (
        SELECT tok AS l, nxt AS rt, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM a{r} WHERE nxt IS NOT NULL GROUP BY 1, 2
        ORDER BY cnt DESC, l, rt LIMIT 1
    )""")
        ctes.append(f"""c{r} AS (
        SELECT a.*, (a.tok = m.l AND a.nxt = m.rt) AS cand
        FROM a{r} a LEFT JOIN m{r} m ON TRUE
    )""")
        ctes.append(f"""g{r} AS (
        SELECT *, CASE WHEN cand THEN pos - ROW_NUMBER() OVER (
            PARTITION BY word, cand ORDER BY pos) END AS grp
        FROM c{r}
    )""")
        ctes.append(f"""s{r} AS (
        SELECT *, COALESCE(cand AND (ROW_NUMBER() OVER (
            PARTITION BY word, grp ORDER BY pos) % 2 = 1), false) AS sel
        FROM g{r}
    )""")
        ctes.append(f"""r{r} AS (
        SELECT *, COALESCE(LAG(sel) OVER (
            PARTITION BY word ORDER BY pos), false) AS absorbed
        FROM s{r}
    )""")
        ctes.append(f"""t{r} AS (
        SELECT word, freq,
               ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN sel THEN tok || nxt ELSE tok END AS tok
        FROM r{r} WHERE NOT absorbed
    )""")
        outs.append(
            f"SELECT {r} AS round, l AS left_sym, rt AS right_sym,"
            f" l || rt AS merged, cnt AS pair_count FROM m{r}"
        )
    if final == "merges":
        tail = (
            "\n    ".join(["\n    UNION ALL ".join(outs)])
            + "\n    ORDER BY round"
        )
    else:  # per-doc segmentation statistics over the final token table
        ctes.append(f"""wt AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n_bpe
        FROM t{k} GROUP BY 1
    )""")
        ctes.append("""docw AS (
        SELECT doc_id, word FROM (
            SELECT doc_id,
                   unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ) WHERE len(word) > 0
    )""")
        if final in ("pack", "mixture"):
            # the per-doc subword counts both budgeting tails consume
            ctes.append("""seg AS (
        SELECT d.doc_id, CAST(SUM(wt.n_bpe) AS BIGINT) AS n_tokens
        FROM docw d JOIN wt USING (word)
        GROUP BY 1
    )""")
        if final == "coverage":
            # X194: per-language occurrence coverage of the global
            # top-V pieces (rank by corpus frequency, ties by piece)
            ctes.append(f"""wp AS (
        SELECT word, tok AS piece, CAST(COUNT(*) AS BIGINT) AS k
        FROM t{k} GROUP BY 1, 2
    )""")
            ctes.append("""lw AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS occ FROM (
            SELECT lang,
                   unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ) WHERE len(word) > 0 GROUP BY 1, 2
    )""")
            ctes.append("""fr AS (
        SELECT word, CAST(SUM(occ) AS BIGINT) AS freq FROM lw GROUP BY 1
    )""")
            ctes.append("""pt AS (
        SELECT piece, CAST(SUM(fr.freq * wp.k) AS BIGINT) AS total
        FROM wp JOIN fr USING (word) GROUP BY 1
    )""")
            ctes.append("""pr AS (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY total DESC, piece)
                   AS rnk
        FROM pt
    )""")
            ctes.append("""lp AS (
        SELECT lang, piece, CAST(SUM(occ * k) AS BIGINT) AS n
        FROM lw JOIN wp USING (word) GROUP BY 1, 2
    )""")
            ctes.append(
                "vs(vocab_size) AS (VALUES (%s))" % _VS_VALUES
            )
            tail = (
                "SELECT 'bpe' AS tokenizer, lang,"
                " CAST(vocab_size AS INT) AS vocab_size,\n"
                "           CAST(SUM(CASE WHEN rnk <= vocab_size"
                " THEN n ELSE 0 END) AS BIGINT)"
                " AS covered_occurrences,\n"
                "           CAST(SUM(n) AS BIGINT)"
                " AS total_occurrences,\n"
                "           CAST(SUM(CASE WHEN rnk <= vocab_size"
                " THEN n ELSE 0 END) AS DOUBLE)"
                " / CAST(SUM(n) AS DOUBLE) AS coverage\n"
                "    FROM lp JOIN pr USING (piece) CROSS JOIN vs\n"
                "    GROUP BY 1, 2, 3"
            )
        elif final == "segment":
            tail = (
                "SELECT d.doc_id, COUNT(*) AS n_words,\n"
                "           CAST(SUM(wt.n_bpe) AS BIGINT) AS n_bpe_tokens\n"
                "    FROM docw d JOIN wt USING (word)\n"
                "    GROUP BY 1 ORDER BY 1"
            )
        elif final == "fertility":
            # X124: per-language totals over the same per-doc stats
            ctes.append("""seg2 AS (
        SELECT d.doc_id, COUNT(*) AS n_words,
               CAST(SUM(wt.n_bpe) AS BIGINT) AS n_bpe_tokens
        FROM docw d JOIN wt USING (word)
        GROUP BY 1
    )""")
            tail = (
                "SELECT lang, COUNT(*) AS n_docs,\n"
                "           CAST(SUM(n_words) AS BIGINT) AS total_words,\n"
                "           CAST(SUM(n_bpe_tokens) AS BIGINT)"
                " AS total_bpe_tokens,\n"
                "           CAST(SUM(n_bpe_tokens) AS DOUBLE)"
                " / SUM(n_words) AS fertility\n"
                "    FROM documents JOIN seg2 USING (doc_id)\n"
                "    GROUP BY 1 ORDER BY 1"
            )
        elif final == "pack":
            # the X13 prefix-sum shard arithmetic over BPE counts
            budget = packing.DEFAULT_BUDGET
            ctes.append("""pc AS (
        SELECT doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb
        FROM seg
    )""")
            tail = (
                f"SELECT doc_id, n_tokens,\n"
                f"           CAST(cb // {budget} AS BIGINT) AS shard_id,\n"
                f"           CAST(cb % {budget} AS BIGINT) AS shard_offset,\n"
                f"           CAST(CASE WHEN n_tokens > 0 THEN\n"
                f"               (cb + n_tokens - 1) // {budget}\n"
                f"               - cb // {budget} + 1\n"
                f"           ELSE 1 END AS BIGINT) AS n_shards_spanned\n"
                f"    FROM pc"
            )
        else:  # mixture: the X81 allocation arithmetic over BPE counts
            assert final == "mixture", final
            ctes.append(r"""per_source AS (
        SELECT source,
               CAST(COALESCE(TRY_CAST(NULLIF(
                        regexp_extract(source, '([0-9]+)$', 1), '')
                        AS INTEGER), 0) % 3 + 1
                    AS BIGINT) AS weight,
               COUNT(*) AS n_docs,
               CAST(SUM(seg.n_tokens) AS BIGINT) AS avail_tokens
        FROM documents JOIN seg USING (doc_id) GROUP BY 1, 2
    )""")
            ctes.append(
                """wtot AS (
        SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM per_source
    )"""
            )
            tail = (
                "SELECT source, weight, n_docs, avail_tokens,\n"
                "           weight * 100000 // wsum AS target_tokens,\n"
                "           LEAST(avail_tokens, weight * 100000 // wsum)\n"
                "               AS alloc_tokens,\n"
                "           CAST(LEAST(avail_tokens,"
                " weight * 100000 // wsum) AS DOUBLE)\n"
                "             / CAST(weight * 100000 // wsum AS DOUBLE)"
                " AS fill_ratio\n"
                "    FROM per_source, wtot\n"
                "    ORDER BY source"
            )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + tail


EXT_ORACLE_SQL["text_bpe_merges"] = _bpe_oracle_sql(8)
EXT_ORACLE_SQL["text_bpe_segment"] = _bpe_oracle_sql(8, final="segment")
EXT_ORACLE_SQL["text_pack_bpe"] = _bpe_oracle_sql(8, final="pack")
EXT_ORACLE_SQL["corpus_mixture_bpe"] = _bpe_oracle_sql(8, final="mixture")


# DSIR importance: add-one target/raw ratio per 28-bit-hash bucket,
# quantized once to int64 (the embeddings idiom), exact per-doc sums
EXT_ORACLE_SQL["text_dsir_importance"] = f"""
    WITH tk AS (
        SELECT doc_id, (lang = 'en') AS is_t, unnest({_TOKS}) AS tok
        FROM documents
    ),
    b AS (
        SELECT doc_id, is_t,
               CAST(concat('0x', substr(md5(tok), 1, 7)) AS BIGINT)
                   % {text.DSIR_BUCKETS} AS bucket
        FROM tk
    ),
    c AS (
        SELECT bucket, COUNT(*) AS r_cnt,
               SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt
        FROM b GROUP BY 1
    ),
    w AS (
        SELECT bucket,
               CAST(ROUND({float(text.DSIR_SCALE)} * (t_cnt + 1)
                          / (r_cnt + 1), 0) AS BIGINT) AS w
        FROM c
    )
    SELECT b.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(w.w) AS BIGINT) AS raw_weight,
           CAST(SUM(w.w) AS DOUBLE)
               / ({float(text.DSIR_SCALE)} * COUNT(*)) AS importance
    FROM b JOIN w USING (bucket)
    GROUP BY 1
    ORDER BY 1
"""


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """graph_kcore_purchases oracle: the bounded peel UNROLLED as
    chained CTEs (one degree aggregate + one survivor semi-join pair
    per round — the same generated-not-hand-written discipline as the
    BPE oracle)."""
    ctes = [
        """e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS u,
               l_suppkey + 1000000000 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        # AS MATERIALIZED is load-bearing: DuckDB would otherwise
        # inline the single-reference CTEs and re-evaluate the chain
        # exponentially (3^rounds base-table scans -> "too many open
        # files" at 8 rounds)
        ctes.append(f"""d{r} AS MATERIALIZED (
        SELECT n, COUNT(*) AS d FROM (
            SELECT u AS n FROM e{p} UNION ALL SELECT v FROM e{p}
        ) GROUP BY 1
    )""")
        ctes.append(f"""k{r} AS (SELECT n FROM d{r} WHERE d >= {k})""")
        ctes.append(f"""e{r} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{p} e
        JOIN k{r} a ON e.u = a.n
        JOIN k{r} b ON e.v = b.n
    )""")
    ctes.append(f"""df AS (
        SELECT n, COUNT(*) AS d FROM (
            SELECT u AS n FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
        ) GROUP BY 1
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + "\n    SELECT n AS node, CAST(d AS BIGINT) AS degree FROM df"
        + "\n    ORDER BY 1"
    )


EXT_ORACLE_SQL["graph_kcore_purchases"] = _kcore_oracle_sql(40, 8)


# hybrid RRF: the registered BM25 oracle as the lexical leg, an exact
# top-25 dot-product ranking for seed vec 0 as the semantic leg, each
# contribution quantized round(1e12/(60+rank)) so sums are int64-exact
EXT_ORACLE_SQL["retrieval_hybrid_rrf"] = f"""
    WITH lex AS ({EXT_ORACLE_SQL["text_bm25_search"]}),
    comp AS ({_COMP}),
    dots AS (
        SELECT b.vec_id AS doc_id, SUM(a.qx * b.qx) AS sc
        FROM comp a
        JOIN comp b ON b.i = a.i AND b.vec_id != 0
        WHERE a.vec_id = 0
        GROUP BY 1
    ),
    sem AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
            FROM dots
        ) WHERE rank <= 25
    ),
    contrib AS (
        SELECT doc_id,
               CAST(ROUND({float(text.RRF_SCALE)!r} / (60 + rank), 0) AS BIGINT) AS c
        FROM lex
        UNION ALL
        SELECT doc_id,
               CAST(ROUND({float(text.RRF_SCALE)!r} / (60 + rank), 0) AS BIGINT)
        FROM sem
    ),
    fused AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_legs,
               CAST(SUM(c) AS BIGINT) AS s
        FROM contrib GROUP BY 1
    )
    SELECT doc_id, n_legs,
           CAST(s AS DOUBLE) / {float(text.RRF_SCALE)!r} AS rrf_score,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT doc_id, n_legs, s,
               ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank
        FROM fused
    )
    WHERE rank <= 10
    ORDER BY rank
"""


# truncation audit: per prefix length d, exact top-5 over components
# i <= d (slice AFTER quantization, identical integer arithmetic),
# scored against the full-dim truth; embeddings CTE shadows the view
# with the clustered fixture exactly as ann_recall_clustered does
EXT_ORACLE_SQL["ann_truncation_audit"] = f"""
    WITH embeddings AS ({_CLUSTERED_EMB}),
    comp AS ({_COMP}),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY SUM(a.qx * b.qx) DESC, b.vec_id) AS r
            FROM comp a
            JOIN comp b ON b.i = a.i AND b.vec_id != a.vec_id
            WHERE a.vec_id < 10
            GROUP BY a.vec_id, b.vec_id
        ) WHERE r <= 5
    ),
    hits AS (
        SELECT 8 AS dim, COUNT(*) AS n_hits
        FROM (
            SELECT query_id, neighbor_id FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY SUM(a.qx * b.qx) DESC, b.vec_id) AS r
                FROM comp a
                JOIN comp b ON b.i = a.i AND b.vec_id != a.vec_id
                WHERE a.vec_id < 10 AND a.i <= 8 AND b.i <= 8
                GROUP BY a.vec_id, b.vec_id
            ) WHERE r <= 5
        ) t JOIN truth USING (query_id, neighbor_id)
        UNION ALL
        SELECT 16 AS dim, COUNT(*) AS n_hits
        FROM (
            SELECT query_id, neighbor_id FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY SUM(a.qx * b.qx) DESC, b.vec_id) AS r
                FROM comp a
                JOIN comp b ON b.i = a.i AND b.vec_id != a.vec_id
                WHERE a.vec_id < 10 AND a.i <= 16 AND b.i <= 16
                GROUP BY a.vec_id, b.vec_id
            ) WHERE r <= 5
        ) t JOIN truth USING (query_id, neighbor_id)
        UNION ALL
        SELECT 32 AS dim, COUNT(*) AS n_hits
        FROM (
            SELECT query_id, neighbor_id FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY SUM(a.qx * b.qx) DESC, b.vec_id) AS r
                FROM comp a
                JOIN comp b ON b.i = a.i AND b.vec_id != a.vec_id
                WHERE a.vec_id < 10 AND a.i <= 32 AND b.i <= 32
                GROUP BY a.vec_id, b.vec_id
            ) WHERE r <= 5
        ) t JOIN truth USING (query_id, neighbor_id)
        UNION ALL
        SELECT 64 AS dim, COUNT(*) AS n_hits
        FROM (
            SELECT query_id, neighbor_id FROM (
                SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY SUM(a.qx * b.qx) DESC, b.vec_id) AS r
                FROM comp a
                JOIN comp b ON b.i = a.i AND b.vec_id != a.vec_id
                WHERE a.vec_id < 10 AND a.i <= 64 AND b.i <= 64
                GROUP BY a.vec_id, b.vec_id
            ) WHERE r <= 5
        ) t JOIN truth USING (query_id, neighbor_id)
    )
    SELECT dim, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(50 AS BIGINT) AS n_truth,
           CAST(n_hits AS DOUBLE) / 50.0 AS recall_at_k
    FROM hits
    ORDER BY dim
"""


# leakage-safe split: the components closure (same spliced minhash
# oracle, nested as a subquery) hashed on the COMPONENT id with X80's
# 90/5/5 arithmetic
EXT_ORACLE_SQL["docs_split_leakage_safe"] = f"""
    WITH hashed AS (
        SELECT doc_id, component_id,
               CAST(concat('0x', substr(md5(CAST(component_id AS VARCHAR)),
                                        1, 7)) AS BIGINT) % 100 AS h
        FROM ({EXT_ORACLE_SQL["dedup_components"]})
    )
    SELECT doc_id, component_id,
           CASE WHEN h < 90 THEN 'train'
                WHEN h < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM hashed
    ORDER BY doc_id
"""


# hard negatives: clustered-fixture corpus, label = vec_id % 8, top-5
# cross-label by exact quantized dot per panel query
EXT_ORACLE_SQL["emb_hard_negatives"] = f"""
    WITH embeddings AS ({_CLUSTERED_EMB}),
    comp AS ({_COMP}),
    dots AS (
        SELECT a.vec_id AS query_id,
               a.vec_id % 8 AS query_label,
               b.vec_id AS neighbor_id,
               b.vec_id % 8 AS negative_label,
               SUM(a.qx * b.qx) AS sc
        FROM comp a
        JOIN comp b ON b.i = a.i AND b.vec_id != a.vec_id
        WHERE a.vec_id < 10 AND a.vec_id % 8 != b.vec_id % 8
        GROUP BY 1, 2, 3, 4
    )
    SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
           neighbor_id, CAST(negative_label AS BIGINT) AS negative_label,
           CAST(rank AS INT) AS rank,
           CAST(sc AS DOUBLE) / 100000000.0 AS score
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sc DESC, neighbor_id) AS rank
        FROM dots
    )
    WHERE rank <= 5
    ORDER BY query_id, rank
"""


# shingle novelty: min-doc-per-gram over the SAME distinct hashed
# 3-gram sets the Jaccard truth uses, joined back per (gram, doc)
EXT_ORACLE_SQL["text_ngram_novelty"] = f"""
    WITH g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform({_shingles(3)},
                   s -> CAST(concat('0x', substr(md5(s), 1,
                        {dedup.GRAM_HASH_HEX})) AS BIGINT)))) AS gram
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    ),
    firsts AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY 1)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM g JOIN firsts f USING (gram)
    GROUP BY 1
    ORDER BY 1
"""


# X119: the oracle trains the identical add-one bigram model (counts
# on exact integers, ONE round(10^9 * (c2+1)/(c1+V)) quantization per
# distinct bigram) and re-scores every doc with int64 sums — parallel
# unnest zips (w1, w2) from the same token list the Spark transform
# slices.
EXT_ORACLE_SQL["text_lm_score"] = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    big AS (
        SELECT doc_id,
               unnest(t[1:len(t) - 1]) AS w1,
               unnest(t[2:len(t)]) AS w2
        FROM tok WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY 1),
    voc AS (
        SELECT COUNT(DISTINCT w) AS v
        FROM (SELECT unnest(t) AS w FROM tok)
    ),
    model AS (
        SELECT c2.w1, c2.w2,
               CAST(ROUND(1000000000.0 * (c2 + 1) / (c1 + v), 0)
                    AS BIGINT) AS w
        FROM c2 JOIN c1 USING (w1) CROSS JOIN voc
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(m.w) AS BIGINT) AS raw_lm_weight,
           CAST(SUM(m.w) AS DOUBLE) / (1000000000.0 * COUNT(*))
               AS lm_score
    FROM big b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
    GROUP BY 1
    ORDER BY 1
"""


# X120: same pruned-postings shape as the BM25 oracle; idf quantized
# once on exact integer inputs, scores are int64 sums
EXT_ORACLE_SQL["text_tfidf_search"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM toks),
    hits AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        WHERE tok IN ({_BM25_TERMS})
        GROUP BY 1, 2
    ),
    dfs AS (SELECT tok, COUNT(*) AS df FROM hits GROUP BY 1),
    idf AS (
        SELECT tok,
               CAST(ROUND(1000000.0 * (n_docs + 1) / (df + 1), 0)
                    AS BIGINT) AS idf_w
        FROM dfs CROSS JOIN n
    ),
    scored AS (
        SELECT h.doc_id, COUNT(*) AS n_terms, SUM(h.tf * i.idf_w) AS raw
        FROM hits h JOIN idf i USING (tok) GROUP BY 1
    )
    SELECT doc_id, n_terms,
           CAST(raw AS DOUBLE) / 1000000.0 AS score,
           CAST(ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS INT)
               AS rank
    FROM scored
    ORDER BY raw DESC, doc_id
    LIMIT 25
"""


# X120 fusion: the X107 oracle with the tf-idf leg unioned in — each
# leg is its own full oracle, fusion arithmetic unchanged
EXT_ORACLE_SQL["retrieval_hybrid_rrf3"] = f"""
    WITH lex AS ({EXT_ORACLE_SQL["text_bm25_search"]}),
    vsm AS ({EXT_ORACLE_SQL["text_tfidf_search"]}),
    comp AS ({_COMP}),
    dots AS (
        SELECT b.vec_id AS doc_id, SUM(a.qx * b.qx) AS sc
        FROM comp a
        JOIN comp b ON b.i = a.i AND b.vec_id != 0
        WHERE a.vec_id = 0
        GROUP BY 1
    ),
    sem AS (
        SELECT doc_id, rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id) AS rank
            FROM dots
        ) WHERE rank <= 25
    ),
    contrib AS (
        SELECT doc_id,
               CAST(ROUND({float(text.RRF_SCALE)!r} / (60 + rank), 0) AS BIGINT) AS c
        FROM lex
        UNION ALL
        SELECT doc_id,
               CAST(ROUND({float(text.RRF_SCALE)!r} / (60 + rank), 0) AS BIGINT)
        FROM vsm
        UNION ALL
        SELECT doc_id,
               CAST(ROUND({float(text.RRF_SCALE)!r} / (60 + rank), 0) AS BIGINT)
        FROM sem
    ),
    fused AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_legs,
               CAST(SUM(c) AS BIGINT) AS s
        FROM contrib GROUP BY 1
    )
    SELECT doc_id, n_legs,
           CAST(s AS DOUBLE) / {float(text.RRF_SCALE)!r} AS rrf_score,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT doc_id, n_legs, s,
               ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS rank
        FROM fused
    )
    WHERE rank <= 10
    ORDER BY rank
"""


# X161 MMR: the greedy selection replayed as unrolled per-round CTEs
# over the SAME rrf3 panel oracle, integer rel/sim normalization, and
# id tie-breaks; no-embedding panel docs coalesce to zero penalty
def _mmr_oracle_sql() -> str:
    body = f"""WITH rrf AS MATERIALIZED ({EXT_ORACLE_SQL["retrieval_hybrid_rrf3"]}),
    panel AS MATERIALIZED (
        SELECT doc_id,
               CAST(ROUND(rrf_score * {float(text.RRF_SCALE)!r}, 0) AS BIGINT)
                   AS rel_s
        FROM rrf
    ),
    mx AS (SELECT MAX(rel_s) AS max_s FROM panel),
    rel AS MATERIALIZED (
        SELECT doc_id,
               rel_s * 1000000 // (SELECT max_s FROM mx) AS rel01
        FROM panel
    ),
    comp AS ({_COMP}),
    pemb AS (
        SELECT p.doc_id, c.i, c.qx
        FROM panel p JOIN comp c ON c.vec_id = p.doc_id
    ),
    sims AS MATERIALIZED (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               GREATEST(SUM(a.qx * b.qx) + 100000000, 0) // 200 AS sim01
        FROM pemb a JOIN pemb b ON a.i = b.i AND a.doc_id != b.doc_id
        GROUP BY 1, 2
    ),
    sel1 AS MATERIALIZED (
        SELECT doc_id, rel01, CAST(0 AS BIGINT) AS maxsim01,
               CAST({similarity.MMR_LAMBDA_TENTHS} * rel01 AS BIGINT)
                   AS mmr_q,
               1 AS sel_rank
        FROM rel ORDER BY mmr_q DESC, doc_id LIMIT 1
    )"""
    lam = similarity.MMR_LAMBDA_TENTHS
    mu = 10 - lam
    prev = "sel1"
    for t in range(2, similarity.MMR_K + 1):
        body += f""",
    c{t} AS (
        SELECT r.doc_id, r.rel01, COALESCE(m.maxsim01, 0) AS maxsim01
        FROM rel r
        LEFT JOIN (
            SELECT s.a_id, MAX(s.sim01) AS maxsim01
            FROM sims s JOIN {prev} x ON s.b_id = x.doc_id
            GROUP BY 1
        ) m ON m.a_id = r.doc_id
        WHERE r.doc_id NOT IN (SELECT doc_id FROM {prev})
    ),
    p{t} AS (
        SELECT doc_id, rel01, CAST(maxsim01 AS BIGINT) AS maxsim01,
               CAST({lam} * rel01 - {mu} * maxsim01 AS BIGINT) AS mmr_q,
               {t} AS sel_rank
        FROM c{t} ORDER BY mmr_q DESC, doc_id LIMIT 1
    ),
    sel{t} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL SELECT * FROM p{t})"""
        prev = f"sel{t}"
    body += f"""
    SELECT CAST(sel_rank AS INT) AS sel_rank, doc_id,
           CAST(rel01 AS BIGINT) AS rel01, maxsim01, mmr_q
    FROM {prev} ORDER BY sel_rank"""
    return body


EXT_ORACLE_SQL["retrieval_mmr_topk"] = _mmr_oracle_sql()


# X121: identical integer window arithmetic — ceil-div via
# (n - W + S - 1) // S, 1-based inclusive list slices
EXT_ORACLE_SQL["docs_chunk_overlap"] = f"""
    WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    base AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) >= 1),
    idx AS (
        SELECT doc_id, t,
               unnest(generate_series(0,
                   CASE WHEN n <= {text.CHUNK_TOKENS} THEN 0
                        ELSE (n - {text.CHUNK_TOKENS}
                              + {text.CHUNK_STRIDE} - 1)
                             // {text.CHUNK_STRIDE} END)) AS chunk_idx
        FROM base
    )
    SELECT doc_id, chunk_idx,
           CAST(len(t[chunk_idx * {text.CHUNK_STRIDE} + 1 :
                      chunk_idx * {text.CHUNK_STRIDE}
                      + {text.CHUNK_TOKENS}]) AS BIGINT)
               AS n_chunk_tokens,
           array_to_string(t[chunk_idx * {text.CHUNK_STRIDE} + 1 :
                             chunk_idx * {text.CHUNK_STRIDE}
                             + {text.CHUNK_TOKENS}], ' ') AS chunk_text
    FROM idx
    ORDER BY doc_id, chunk_idx
"""


# X122: the X5 flag definition verbatim, applied as NOT IN — kept
# corpus = documents minus any-shared-5-gram hits
EXT_ORACLE_SQL["dedup_decontaminate"] = f"""
    WITH cg AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform({_shingles(5)},
                   s -> CAST(concat('0x', substr(md5(s), 1,
                        {dedup.GRAM_HASH_HEX})) AS BIGINT)))) AS gram
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    ),
    bg AS (SELECT doc_id AS bench_id, gram FROM cg WHERE doc_id < 25),
    flagged AS (
        SELECT DISTINCT c.doc_id FROM cg c JOIN bg b ON c.gram = b.gram
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
    ORDER BY d.doc_id
"""


def _pca_rounds_sql(rounds: int) -> str:
    """Unrolled power-iteration rounds (the kmeans/BPE oracle idiom):
    each round = exact int64 dots keyed on vec_id, the downscale
    round, exact int64 per-dimension outer sums, the max-|vd|
    rescale, and the sqrt-norm requantization — all on exact integer
    inputs so both engines agree bit-for-bit.

    Every CTE is MATERIALIZED and the 1-row scalars join in via CROSS
    JOIN, never correlated scalar subqueries: DuckDB inlines CTEs, so
    a per-row ``(SELECT m FROM m_r)`` would re-evaluate the entire
    upstream round chain per row per round — measured as an
    exponential blowup (the first draft of this oracle burned 17 min
    of CPU at sf0.01 before being killed)."""
    parts = []
    for r in range(1, rounds + 1):
        parts.append(f"""
    d{r} AS MATERIALIZED (
        SELECT c.vec_id, SUM(c.qx * v.vq) AS dot
        FROM comp c JOIN v{r - 1} v ON c.i = v.i GROUP BY 1
    ),
    q{r} AS MATERIALIZED (
        SELECT vec_id,
               CAST(ROUND(CAST(dot AS DOUBLE) / 1000000.0, 0) AS BIGINT)
                   AS dq
        FROM d{r}
    ),
    w{r} AS MATERIALIZED (
        SELECT c.i, SUM(c.qx * q.dq) AS vd
        FROM comp c JOIN q{r} q USING (vec_id) GROUP BY 1
    ),
    m{r} AS MATERIALIZED (SELECT MAX(ABS(vd)) AS m FROM w{r}),
    r{r} AS MATERIALIZED (
        SELECT i, CAST(ROUND(1000000.0 * vd / m, 0) AS BIGINT) AS vr
        FROM w{r} CROSS JOIN m{r}
    ),
    n{r} AS MATERIALIZED (SELECT SUM(vr * vr) AS n2 FROM r{r}),
    v{r} AS MATERIALIZED (
        SELECT i, CAST(ROUND(1000000.0 * vr /
                   sqrt(CAST(n2 AS DOUBLE)), 0)
                   AS BIGINT) AS vq
        FROM r{r} CROSS JOIN n{r}
    )""")
    return ",".join(parts)


# X123: the 4 power-iteration rounds unrolled; v0 = uniform direction
EXT_ORACLE_SQL["emb_pca_power"] = f"""
    WITH comp AS MATERIALIZED ({_COMP}),
    v0 AS MATERIALIZED (
        SELECT DISTINCT i, CAST({similarity.V_SCALE} AS BIGINT) AS vq
        FROM comp
    ),
    {_pca_rounds_sql(similarity.PCA_ROUNDS)}
    SELECT c.vec_id,
           CAST(SUM(c.qx * v.vq) AS BIGINT) AS pc1_q,
           CAST(SUM(c.qx * v.vq) AS DOUBLE)
               / {float(similarity.SCALE * similarity.V_SCALE)} AS pc1
    FROM comp c JOIN v{similarity.PCA_ROUNDS} v ON c.i = v.i
    GROUP BY 1
    ORDER BY 1
"""


# X124: the generated BPE chain with the per-language fertility tail
EXT_ORACLE_SQL["text_bpe_fertility"] = _bpe_oracle_sql(8, final="fertility")


# X123 audit: the PCA round chain + the variance-ratio tails — same
# MATERIALIZED/CROSS JOIN discipline as emb_pca_power
EXT_ORACLE_SQL["emb_anisotropy_audit"] = f"""
    WITH comp AS MATERIALIZED ({_COMP}),
    v0 AS MATERIALIZED (
        SELECT DISTINCT i, CAST({similarity.V_SCALE} AS BIGINT) AS vq
        FROM comp
    ),
    {_pca_rounds_sql(similarity.PCA_ROUNDS)},
    proj AS MATERIALIZED (
        SELECT c.vec_id, CAST(SUM(c.qx * v.vq) AS BIGINT) AS pc1_q
        FROM comp c JOIN v{similarity.PCA_ROUNDS} v ON c.i = v.i
        GROUP BY 1
    ),
    pq AS (
        SELECT CAST(ROUND(CAST(pc1_q AS DOUBLE) / 1000000.0, 0)
                    AS BIGINT) AS pq
        FROM proj
    ),
    top AS (
        SELECT COUNT(*) AS n_vecs,
               CAST(SUM(pq * pq) AS BIGINT) AS ss_pc1_q
        FROM pq
    ),
    tot AS (SELECT CAST(SUM(qx * qx) AS BIGINT) AS ss_total_q FROM comp)
    SELECT n_vecs, ss_pc1_q, ss_total_q,
           CAST(ss_pc1_q AS DOUBLE) / ss_total_q AS anisotropy
    FROM top CROSS JOIN tot
"""


# X125: each leg is its own full oracle; min-max quantization and the
# int64 ensemble sum replayed verbatim
EXT_ORACLE_SQL["text_quality_ensemble"] = f"""
    WITH hq AS MATERIALIZED ({EXT_ORACLE_SQL["text_quality_score"]}),
    mq AS MATERIALIZED ({EXT_ORACLE_SQL["text_model_quality"]}),
    lq AS MATERIALIZED ({EXT_ORACLE_SQL["text_lm_score"]}),
    h2 AS (SELECT doc_id, quality_score AS s FROM hq),
    m2 AS (SELECT doc_id, model_score AS s FROM mq),
    l2 AS (SELECT doc_id, lm_score AS s FROM lq),
    hmm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM h2),
    mmm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM m2),
    lmm AS (SELECT MIN(s) AS mn, MAX(s) AS mx FROM l2),
    hn AS (
        SELECT doc_id,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(ROUND(1000000.0 * (s - mn) / (mx - mn), 0)
                              AS BIGINT) END AS q_heur
        FROM h2 CROSS JOIN hmm
    ),
    mn2 AS (
        SELECT doc_id,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(ROUND(1000000.0 * (s - mn) / (mx - mn), 0)
                              AS BIGINT) END AS q_model
        FROM m2 CROSS JOIN mmm
    ),
    ln2 AS (
        SELECT doc_id,
               CASE WHEN mx = mn THEN 0
                    ELSE CAST(ROUND(1000000.0 * (s - mn) / (mx - mn), 0)
                              AS BIGINT) END AS q_lm
        FROM l2 CROSS JOIN lmm
    )
    SELECT h.doc_id, q_heur, q_model, q_lm,
           q_heur + q_model + q_lm AS ensemble_q,
           CAST(q_heur + q_model + q_lm AS DOUBLE) / 3000000.0
               AS ensemble
    FROM hn h JOIN mn2 USING (doc_id) JOIN ln2 USING (doc_id)
    ORDER BY h.doc_id
"""


# X126: the X121 chunk oracle + the keep-first duplicate report
EXT_ORACLE_SQL["dedup_chunks_exact"] = f"""
    WITH ch AS MATERIALIZED ({EXT_ORACLE_SQL["docs_chunk_overlap"]}),
    r AS (
        SELECT chunk_text, doc_id, chunk_idx,
               COUNT(*) OVER (PARTITION BY chunk_text) AS n_copies,
               ROW_NUMBER() OVER (PARTITION BY chunk_text
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM ch
    )
    SELECT doc_id AS first_doc, chunk_idx AS first_chunk,
           CAST(n_copies AS BIGINT) AS n_copies, chunk_text
    FROM r
    WHERE rn = 1 AND n_copies >= 2
    ORDER BY 1, 2
"""


def _label_audit_sql() -> str:
    """X128 oracle, generated: each method's registered top-5 SQL
    replayed as a MATERIALIZED CTE, label relevance and the quantized
    MRR contributions computed per method, 1-row aggregates joined
    via CROSS JOIN (never per-row scalar subqueries — the PCA-oracle
    lesson)."""
    methods = {
        "brute": EXT_ORACLE_SQL["ann_topk_brute"],
        "ivf": EXT_ORACLE_SQL["ann_topk_ivf"],
        "ivfpq": EXT_ORACLE_SQL["ann_topk_ivfpq"],
        "ivfpq_t": EXT_ORACLE_SQL["ann_topk_ivfpq_trained"],
        "lsh": EXT_ORACLE_SQL["ann_topk_lsh"],
        "lsh_multi": EXT_ORACLE_SQL["ann_topk_lsh_multi"],
        "pq": EXT_ORACLE_SQL["ann_topk_pq"],
    }
    ctes, unions = [], []
    for name, sql in sorted(methods.items()):
        s = name.replace("_", "")
        ctes.append(f"m_{s} AS MATERIALIZED ({sql})")
        ctes.append(f"""rel_{s} AS (
        SELECT m.query_id, m.rank, (ql.label = nl.label) AS rel
        FROM m_{s} m
        JOIN embeddings ql ON ql.vec_id = m.query_id
        JOIN embeddings nl ON nl.vec_id = m.neighbor_id
    )""")
        ctes.append(
            f"fr_{s} AS (SELECT query_id, MIN(rank) AS fr "
            f"FROM rel_{s} WHERE rel GROUP BY 1)"
        )
        ctes.append(f"""rr_{s} AS (
        SELECT COALESCE(CAST(ROUND(1000000.0 / fr, 0) AS BIGINT), 0) AS rrq
        FROM (SELECT DISTINCT query_id FROM m_{s}) q
        LEFT JOIN fr_{s} USING (query_id)
    )""")
        ctes.append(
            f"a_{s} AS (SELECT CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) "
            f"AS BIGINT) AS n_rel FROM rel_{s})"
        )
        ctes.append(
            f"b_{s} AS (SELECT CAST(SUM(rrq) AS BIGINT) AS mrr_q "
            f"FROM rr_{s})"
        )
        unions.append(
            f"SELECT '{name}' AS method, n_rel, mrr_q "
            f"FROM a_{s} CROSS JOIN b_{s}"
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT method, n_rel, mrr_q,\n"
        + "           CAST(n_rel AS DOUBLE) / 50.0 AS precision_at_k,\n"
        + "           CAST(mrr_q AS DOUBLE) / 10000000.0 AS mrr\n"
        + "    FROM (\n        "
        + "\n        UNION ALL ".join(unions)
        + "\n    )\n    ORDER BY method"
    )


EXT_ORACLE_SQL["ann_label_audit"] = _label_audit_sql()


# X128 clustered variant: the embeddings CTE shadows the view with the
# clustered fixture AND replaces the label with the generating cluster
# id, exactly as the Spark side does
_lbl_audit_sql = EXT_ORACLE_SQL["ann_label_audit"].lstrip()
assert _lbl_audit_sql.upper().startswith("WITH")
EXT_ORACLE_SQL["ann_label_audit_clustered"] = (
    "WITH embeddings AS (SELECT vec_id, embedding,"
    " CAST(vec_id % 8 AS INTEGER) AS label FROM ("
    + _CLUSTERED_EMB
    + ")),\n    "
    + _lbl_audit_sql[len("WITH"):]
)


# X129: the X125 ensemble oracle feeding fixed-threshold tiers, the
# 3-phase admitted grid, and X81's integer allocation arithmetic
EXT_ORACLE_SQL["corpus_curriculum_plan"] = f"""
    WITH ens AS MATERIALIZED ({EXT_ORACLE_SQL["text_quality_ensemble"]}),
    tok AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
    tiers AS (
        SELECT tier, tier_rank, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
        FROM (
            SELECT CASE WHEN ensemble_q >= 2000000 THEN 'high'
                        WHEN ensemble_q >= 1000000 THEN 'mid'
                        ELSE 'low' END AS tier,
                   CASE WHEN ensemble_q >= 2000000 THEN 1
                        WHEN ensemble_q >= 1000000 THEN 2
                        ELSE 3 END AS tier_rank,
                   n_tokens
            FROM ens JOIN tok USING (doc_id)
        )
        GROUP BY 1, 2
    ),
    phases AS (SELECT CAST(unnest([1, 2, 3]) AS INTEGER) AS phase),
    grid AS (
        SELECT phase, tier, n_docs, avail_tokens
        FROM tiers CROSS JOIN phases
        WHERE tier_rank <= phase
    ),
    ptot AS (
        SELECT phase, CAST(SUM(avail_tokens) AS BIGINT) AS phase_total
        FROM grid GROUP BY 1
    )
    SELECT g.phase, g.tier, g.n_docs, g.avail_tokens,
           g.avail_tokens * {CURRICULUM_BUDGET} // p.phase_total
               AS target_tokens,
           LEAST(g.avail_tokens,
                 g.avail_tokens * {CURRICULUM_BUDGET} // p.phase_total)
               AS alloc_tokens,
           CASE WHEN g.avail_tokens * {CURRICULUM_BUDGET}
                     // p.phase_total = 0 THEN 1.0
                ELSE CAST(LEAST(g.avail_tokens,
                          g.avail_tokens * {CURRICULUM_BUDGET}
                          // p.phase_total) AS DOUBLE)
                     / CAST(g.avail_tokens * {CURRICULUM_BUDGET}
                            // p.phase_total AS DOUBLE)
           END AS fill_ratio
    FROM grid g JOIN ptot p USING (phase)
    ORDER BY g.phase, g.tier
"""


# X131: the registered MinHash pair oracle mapped to canonicalized
# (source, source) cells
EXT_ORACLE_SQL["dedup_source_matrix"] = f"""
    WITH pairs AS MATERIALIZED ({EXT_ORACLE_SQL["dedup_minhash_lsh"]}),
    j AS (
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b
        FROM pairs p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b, COUNT(*) AS n_pairs
    FROM j GROUP BY 1, 2
    ORDER BY 1, 2
"""


# X132: the X121 chunk oracle + composite uid + the X13 prefix-sum
# shard arithmetic at the chunk grain
EXT_ORACLE_SQL["docs_pack_chunks"] = f"""
    WITH ch AS MATERIALIZED ({EXT_ORACLE_SQL["docs_chunk_overlap"]}),
    c2 AS (
        SELECT doc_id * {CHUNK_UID_MOD} + chunk_idx AS uid,
               n_chunk_tokens AS n_tokens
        FROM ch
    ),
    pc AS (
        SELECT uid, n_tokens,
               COALESCE(SUM(n_tokens) OVER (ORDER BY uid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb
        FROM c2
    )
    SELECT CAST(uid // {CHUNK_UID_MOD} AS BIGINT) AS src_doc_id,
           CAST(uid % {CHUNK_UID_MOD} AS BIGINT) AS chunk_idx,
           n_tokens,
           CAST(cb // 512 AS BIGINT) AS shard_id,
           CAST(cb % 512 AS BIGINT) AS shard_offset,
           CAST(CASE WHEN n_tokens > 0 THEN
               (cb + n_tokens - 1) // 512 - cb // 512 + 1
           ELSE 1 END AS BIGINT) AS n_shards_spanned
    FROM pc
    ORDER BY 1, 2
"""


# X134: full-vocabulary tf/df aggregates, the X120 idf quantization,
# per-doc top-3 panels
EXT_ORACLE_SQL["text_keywords"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM toks),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY 1, 2
    ),
    dfs AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    idf AS (
        SELECT tok,
               CAST(ROUND(1000000.0 * (n_docs + 1) / (df + 1), 0)
                    AS BIGINT) AS idf_w
        FROM dfs CROSS JOIN n
    )
    SELECT doc_id, tok AS keyword, tf, tf * idf_w AS score_q,
           CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT doc_id, tok, tf, idf_w,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tf * idf_w DESC, tok) AS rank
        FROM tf JOIN idf USING (tok)
    )
    WHERE rank <= 3
    ORDER BY doc_id, rank
"""


def _lpa_oracle_sql(rounds: int) -> str:
    """X135 oracle, generated: the LPA rounds unrolled (the kmeans/
    BPE/PCA idiom) — per round a (node, label) multiplicity count and
    the (cnt DESC, lbl ASC) argmax via ROW_NUMBER; MATERIALIZED CTEs
    keep DuckDB's inlining linear."""
    ctes = [
        """e0 AS MATERIALIZED (
        SELECT DISTINCT o_custkey AS u, l_suppkey + 1000000000 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )""",
        """ed AS MATERIALIZED (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS lbl FROM ed)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""c{r} AS MATERIALIZED (
        SELECT ed.v AS node, l.lbl, COUNT(*) AS cnt
        FROM ed JOIN l{r - 1} l ON l.node = ed.u
        GROUP BY 1, 2
    )""")
        ctes.append(f"""l{r} AS MATERIALIZED (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, lbl) AS r
            FROM c{r}
        ) WHERE r = 1
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, lbl AS community FROM l{rounds}"
        + "\n    ORDER BY node"
    )


EXT_ORACLE_SQL["graph_communities_lpa"] = _lpa_oracle_sql(graph.LPA_ROUNDS)


# X136 entity resolution: the quadratic-reference verify (equi-filter
# on the agreement attributes FIRST — it is the blocking key in the
# engine — then one levenshtein per surviving pair) nested under the
# recursive-CTE closure; n_records/canonical derive from the labels.
EXT_ORACLE_SQL["er_entity_ids"] = """
    WITH RECURSIVE
    pairs AS (
        SELECT a.c_custkey AS u, b.c_custkey AS v
        FROM customer a
        JOIN customer b
          ON a.c_custkey < b.c_custkey
         AND a.c_nationkey = b.c_nationkey
         AND a.c_mktsegment = b.c_mktsegment
         AND levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
        SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT c_custkey, c_custkey FROM customer
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    lab AS (SELECT u AS custkey, MIN(r) AS entity_id FROM reach GROUP BY u)
    SELECT custkey, entity_id,
           COUNT(*) OVER (PARTITION BY entity_id) AS n_records,
           custkey = entity_id AS canonical
    FROM lab
    ORDER BY custkey
"""


def _unigram_oracle_sql(
    rounds: int = text.UNIGRAM_ROUNDS, final: str = "vocab"
) -> str:
    """X139 oracle, GENERATED (the BPE/LPA unrolling idiom): the
    bounded hard-EM unigram training replayed as chained CTEs — the
    substring lattice, the seed counts, and per EM round one Viterbi
    DP unrolled position-by-position (UNIGRAM_MAX_WORD steps; each
    step a ROW_NUMBER pick under the exact lexicographic objective
    (k ASC, −s ASC, i ASC), paths carried as list columns so recount
    needs no backtrace), then the recount + prune M-step; one final
    E-step segments under the final vocabulary. AS MATERIALIZED on
    every multiply-referenced CTE (the k-core inlining lesson)."""
    L = text.UNIGRAM_MAX_WORD
    P = text.UNIGRAM_MAX_PIECE
    prune = text.UNIGRAM_PRUNE_MIN
    ctes = [
        f"""w AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ) WHERE len(word) > 0 AND len(word) <= {L} GROUP BY 1
    )""",
        f"""occs AS MATERIALIZED (
        SELECT word, freq, i, j,
               substr(word, CAST(i + 1 AS INT), CAST(j - i AS INT))
                   AS piece
        FROM w,
             unnest(generate_series(0, len(word) - 1)) AS ui(i),
             unnest(generate_series(i + 1,
                                    least(i + {P}, len(word)))) AS uj(j)
    )""",
        """chars AS MATERIALIZED (
        SELECT DISTINCT piece FROM occs WHERE len(piece) = 1
    )""",
        """cnt0 AS MATERIALIZED (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM occs GROUP BY 1
    )""",
    ]

    def dp_chain(r: int, prev_cnt: str) -> str:
        """Append one Viterbi pass's CTEs; returns the seg CTE name."""
        ctes.append(f"""cand_{r} AS MATERIALIZED (
        SELECT o.word, o.i, o.j, o.piece, c.cnt
        FROM occs o JOIN {prev_cnt} c USING (piece)
    )""")
        ctes.append(f"""dp_{r}_0 AS (
        SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS k,
               CAST(0 AS BIGINT) AS s, CAST([] AS VARCHAR[]) AS path
        FROM w
    )""")
        for j in range(1, L + 1):
            prevs = " UNION ALL ".join(
                f"SELECT * FROM dp_{r}_{i}"
                for i in range(max(0, j - P), j)
            )
            ctes.append(f"""dp_{r}_{j} AS MATERIALIZED (
        SELECT word, {j} AS pos, k, s, path FROM (
            SELECT c.word, b.k + 1 AS k, b.s + c.cnt AS s,
                   list_append(b.path, c.piece) AS path,
                   ROW_NUMBER() OVER (PARTITION BY c.word
                       ORDER BY b.k + 1, -(b.s + c.cnt), c.i) AS rn
            FROM cand_{r} c
            JOIN ({prevs}) b ON b.word = c.word AND b.pos = c.i
            WHERE c.j = {j}
        ) WHERE rn = 1
    )""")
        finals = " UNION ALL ".join(
            f"SELECT word, k, s, path FROM dp_{r}_{j} "
            f"WHERE len(word) = {j}"
            for j in range(1, L + 1)
        )
        ctes.append(f"""seg_{r} AS MATERIALIZED (
        SELECT f.word, w.freq, f.k, f.s, f.path
        FROM ({finals}) f JOIN w USING (word)
    )""")
        return f"seg_{r}"

    prev_cnt = "cnt0"
    for r in range(1, rounds + 1):
        seg = dp_chain(r, prev_cnt)
        ctes.append(f"""rec_{r} AS MATERIALIZED (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT word, freq, unnest(path) AS piece FROM {seg}
        ) GROUP BY 1
    )""")
        ctes.append(f"""cnt{r} AS MATERIALIZED (
        SELECT piece, MAX(cnt) AS cnt FROM (
            SELECT piece, cnt FROM rec_{r} WHERE cnt >= {prune}
            UNION ALL
            SELECT c.piece, CAST(COALESCE(rec.cnt, 0) AS BIGINT) AS cnt
            FROM chars c LEFT JOIN rec_{r} rec USING (piece)
        ) GROUP BY 1
    )""")
        prev_cnt = f"cnt{r}"
    seg_final = dp_chain(rounds + 1, prev_cnt)

    if final == "vocab":
        tail = f"""
    SELECT piece, CAST(len(piece) AS INT) AS piece_len, cnt
    FROM {prev_cnt}
    ORDER BY cnt DESC, piece LIMIT 200"""
    elif final == "coverage":
        # X194: the BPE coverage arithmetic over the final Viterbi
        # piece table (universe = segmentable words, the X124 rule)
        ctes.append(f"""wp AS MATERIALIZED (
        SELECT word, piece, CAST(COUNT(*) AS BIGINT) AS k FROM (
            SELECT word, unnest(path) AS piece FROM {seg_final}
        ) GROUP BY 1, 2
    )""")
        ctes.append("""lw AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS occ FROM (
            SELECT lang,
                   unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ) WHERE len(word) > 0 GROUP BY 1, 2
    )""")
        ctes.append("""fr AS (
        SELECT word, CAST(SUM(occ) AS BIGINT) AS freq FROM lw GROUP BY 1
    )""")
        ctes.append("""pt AS (
        SELECT piece, CAST(SUM(fr.freq * wp.k) AS BIGINT) AS total
        FROM wp JOIN fr USING (word) GROUP BY 1
    )""")
        ctes.append("""pr AS (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY total DESC, piece)
                   AS rnk
        FROM pt
    )""")
        ctes.append("""lp AS (
        SELECT lang, piece, CAST(SUM(occ * k) AS BIGINT) AS n
        FROM lw JOIN wp USING (word) GROUP BY 1, 2
    )""")
        ctes.append("vs(vocab_size) AS (VALUES (%s))" % _VS_VALUES)
        tail = """
    SELECT 'unigram' AS tokenizer, lang,
           CAST(vocab_size AS INT) AS vocab_size,
           CAST(SUM(CASE WHEN rnk <= vocab_size THEN n ELSE 0 END)
                AS BIGINT) AS covered_occurrences,
           CAST(SUM(n) AS BIGINT) AS total_occurrences,
           CAST(SUM(CASE WHEN rnk <= vocab_size THEN n ELSE 0 END)
                AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS coverage
    FROM lp JOIN pr USING (piece) CROSS JOIN vs
    GROUP BY 1, 2, 3"""
    else:
        ctes.append(f"""wt AS MATERIALIZED (
        SELECT word, k AS n_pieces FROM {seg_final}
    )""")
        ctes.append("""docw AS (
        SELECT doc_id, word FROM (
            SELECT doc_id,
                   unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents
        ) WHERE len(word) > 0
    )""")
        tail = """
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(n_pieces) AS BIGINT) AS n_unigram_tokens
    FROM docw JOIN wt USING (word)
    GROUP BY 1 ORDER BY 1"""
    return "WITH " + ",\n    ".join(ctes) + tail



# X142 audio energy-fingerprint near-dup: window SUMS of character
# codes over the 72-way payload partition (list arithmetic — empty
# windows coalesce to 0), then the identical gradient-bit banding,
# pigeonhole join and popcount verify the image oracle uses
# X159 video near-dup: the quadratic reference join within equal-
# frame-count groups (an equi-join on length) over the identical
# 32-char stride-2 frame-hash sequences; the blocking guarantees the
# Spark side finds exactly these pairs (FastSS pigeonhole, k=1)
EXT_ORACLE_SQL["mm_video_near_dup"] = """
    WITH viddocs AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 3 = 2 AND len(text) > 0
        UNION ALL
        SELECT doc_id + 30000000,
               substr(text, 1, len(text) // 2) || 'z' ||
               substr(text, len(text) // 2 + 2)
        FROM documents WHERE doc_id % 30 = 2 AND len(text) >= 96
    ),
    frames AS (
        SELECT d.doc_id AS asset_id, t.i AS fidx,
               md5(substr(d.text, CAST(t.i * 32 + 1 AS INT), 32)) AS fh
        FROM viddocs d,
             unnest(generate_series(0,
                 CAST(ceil(len(d.text) / 32.0) AS BIGINT) - 1, 2)) AS t(i)
    ),
    seqs AS (
        SELECT asset_id, list(fh ORDER BY fidx) AS seq
        FROM frames GROUP BY 1
    ),
    pairs AS (
        SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
               len(a.seq) AS n_frames,
               len(list_filter(range(1, len(a.seq) + 1),
                               i -> a.seq[i] != b.seq[i])) AS n_diff
        FROM seqs a JOIN seqs b
          ON len(a.seq) = len(b.seq) AND a.asset_id < b.asset_id
    )
    SELECT asset_a, asset_b, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_diff AS BIGINT) AS n_diff
    FROM pairs WHERE n_diff <= 1 AND n_frames - n_diff >= 1
    ORDER BY asset_a, asset_b
"""


EXT_ORACLE_SQL["mm_afp_near_dup"] = """
    WITH auddocs AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 3 = 1 AND len(text) > 0
        UNION ALL
        SELECT doc_id + 30000000,
               substr(text, 1, len(text) // 2) || 'z' ||
               substr(text, len(text) // 2 + 2)
        FROM documents WHERE doc_id % 30 = 1 AND len(text) > 0
    ),
    px AS (
        SELECT d.doc_id AS asset_id, t1.r, t2.c,
               COALESCE(list_sum(list_transform(
                   generate_series(
                       CAST(((t1.r * 9 + t2.c) * len(d.text)) // 72 + 1
                            AS INT),
                       CAST((((t1.r * 9 + t2.c) + 1) * len(d.text)) // 72
                            AS INT)),
                   p -> unicode(substr(d.text, CAST(p AS INT), 1)))),
                 0) AS p
        FROM auddocs d,
             unnest(generate_series(0, 7)) AS t1(r),
             unnest(generate_series(0, 8)) AS t2(c)
    ),
    bits AS (
        SELECT a.asset_id, a.r, a.c,
               CASE WHEN a.p < b.p THEN 1 ELSE 0 END AS bit
        FROM px a
        JOIN px b ON b.asset_id = a.asset_id AND b.r = a.r
                 AND b.c = a.c + 1
        WHERE a.c < 8
    ),
    bands AS (
        SELECT asset_id, CAST(r // 2 AS INT) AS band,
               CAST(SUM(bit * CAST(pow(2, (r % 2) * 8 + c) AS BIGINT))
                    AS BIGINT) AS val
        FROM bits GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.val = b.val
                    AND a.asset_id < b.asset_id
    ),
    ham AS (
        SELECT c.asset_a, c.asset_b,
               CAST(SUM(bit_count(xor(x.val, y.val))) AS INT) AS hamming
        FROM cand c
        JOIN bands x ON x.asset_id = c.asset_a
        JOIN bands y ON y.asset_id = c.asset_b AND y.band = x.band
        GROUP BY 1, 2
    )
    SELECT asset_a, asset_b, hamming FROM ham WHERE hamming <= 3
    ORDER BY asset_a, asset_b
"""


# X165 cross-modality keep-list: the three pair oracles unioned under
# the same recursive closure; kind from the id arithmetic
EXT_ORACLE_SQL["mm_canonical_media"] = f"""
    WITH RECURSIVE
    ph AS ({EXT_ORACLE_SQL["mm_phash_near_dup"]}),
    af AS ({EXT_ORACLE_SQL["mm_afp_near_dup"]}),
    vd AS ({EXT_ORACLE_SQL["mm_video_near_dup"]}),
    allp AS (
        SELECT asset_a, asset_b FROM ph
        UNION ALL SELECT asset_a, asset_b FROM af
        UNION ALL SELECT asset_a, asset_b FROM vd
    ),
    nodes AS (
        SELECT doc_id AS asset_id FROM documents
        WHERE doc_id % 3 = 0 AND len(text) > 0
        UNION ALL
        SELECT doc_id + 30000000 FROM documents
        WHERE doc_id % 30 = 0 AND len(text) >= 72
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id % 3 = 1 AND len(text) > 0
        UNION ALL
        SELECT doc_id + 30000000 FROM documents
        WHERE doc_id % 30 = 1 AND len(text) > 0
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id % 3 = 2 AND len(text) > 0
        UNION ALL
        SELECT doc_id + 30000000 FROM documents
        WHERE doc_id % 30 = 2 AND len(text) >= 96
    ),
    edges AS (
        SELECT asset_a AS u, asset_b AS v FROM allp
        UNION
        SELECT asset_b AS u, asset_a AS v FROM allp
    ),
    reach(u, r) AS (
        SELECT asset_id, asset_id FROM nodes
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    comp AS (
        SELECT u AS asset_id, MIN(r) AS component_id FROM reach GROUP BY u
    )
    SELECT component_id AS asset_id,
           CASE CAST(component_id % 3 AS INT)
                WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM comp
    GROUP BY 1, 2
    ORDER BY 1
"""



# X143 per-group fixed-k: identical md5 rank inside each language
EXT_ORACLE_SQL["docs_sample_fixed_per_lang"] = """
    SELECT doc_id, lang, source, CAST(grp_rank AS INT) AS grp_rank
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS grp_rank
        FROM documents
    )
    WHERE grp_rank <= 20
    ORDER BY lang, grp_rank
"""


# X144 linkage: the quadratic reference join over the same engineered
# dirty list (midpoint 'z' substitution on every 10th customer name)
EXT_ORACLE_SQL["er_link_dirty_names"] = """
    WITH dirty AS (
        SELECT c_custkey + 10000000 AS dirty_id,
               substr(c_name, 1, len(c_name) // 2) || 'z' ||
               substr(c_name, len(c_name) // 2 + 2) AS dirty_name
        FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT d.dirty_id, c.c_custkey AS custkey,
           CAST(levenshtein(d.dirty_name, c.c_name) AS BIGINT) AS dist
    FROM dirty d JOIN customer c
      ON levenshtein(d.dirty_name, c.c_name) <= 1
    ORDER BY dirty_id, custkey
"""


# X147 sketch accuracy: the theta estimate joined to the exact
# distinct count, same shingle stream, signed relative error
# X158 HLL audit: identical register arithmetic — first md5 byte mod
# 64 buckets, rho = 61 - bitlength of the next 60 bits (61 for w=0),
# exact fixed-point register sum in HUGEINT, the SAME pre-folded
# double numerator, one division per key
EXT_ORACLE_SQL["docs_hll_distinct_audit"] = f"""
    WITH g AS (
        SELECT lang, unnest({_shingles(3)}) AS gram
        FROM (SELECT lang, {_TOKS} AS t FROM documents)
    ),
    h AS (SELECT DISTINCT lang, md5(gram) AS hx FROM g),
    r AS (
        SELECT lang,
               CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) % 64 AS reg,
               CAST(concat('0x', substr(hx, 3, 15)) AS BIGINT) AS w
        FROM h
    ),
    m AS (
        SELECT lang, reg,
               MAX(CASE WHEN w = 0 THEN 61 ELSE 61 - len(bin(w)) END) AS rho
        FROM r GROUP BY 1, 2
    ),
    s AS (
        SELECT lang,
               SUM(CAST(1 AS HUGEINT) << (61 - rho))
                   + (64 - COUNT(*)) * (CAST(1 AS HUGEINT) << 61) AS s_all,
               CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs
        FROM m GROUP BY 1
    ),
    ex AS (
        SELECT lang, CAST(COUNT(DISTINCT gram) AS BIGINT) AS exact_distinct
        FROM g GROUP BY 1
    )
    SELECT s.lang, s.n_zero_regs,
           {sketch.HLL_EST_NUM!r} / CAST(s_all AS DOUBLE) AS est_distinct,
           ex.exact_distinct,
           ({sketch.HLL_EST_NUM!r} / CAST(s_all AS DOUBLE)
                - CAST(exact_distinct AS DOUBLE))
               / CAST(exact_distinct AS DOUBLE) AS rel_err
    FROM s JOIN ex USING (lang)
    ORDER BY lang
"""


EXT_ORACLE_SQL["sketch_accuracy_audit"] = f"""
    WITH g AS (
        SELECT lang, unnest({_shingles(3)}) AS gram
        FROM (SELECT lang, {_TOKS} AS t FROM documents)
    ),
    est AS (
        SELECT lang,
               COUNT(DISTINCT md5(gram)) AS n_sampled,
               COUNT(DISTINCT md5(gram)) * 16 AS est_distinct
        FROM g WHERE substr(md5(gram), 1, 1) = '0'
        GROUP BY lang
    ),
    ex AS (
        SELECT lang, COUNT(DISTINCT gram) AS exact_distinct
        FROM g GROUP BY lang
    )
    SELECT lang, n_sampled, est_distinct, exact_distinct,
           CAST(est_distinct - exact_distinct AS DOUBLE)
               / CAST(exact_distinct AS DOUBLE) AS rel_err
    FROM est JOIN ex USING (lang)
    ORDER BY lang
"""


# X148 curation funnel: every stage spliced from its standalone
# oracle fragment (keep-first window / closure / quality formula /
# contamination probe), five aggregates stacked with shares of raw
EXT_ORACLE_SQL["corpus_funnel_report"] = """
    WITH tok AS (
        SELECT doc_id, CAST(len({toks}) AS BIGINT) AS ntok
        FROM documents
    ),
    lined AS ({lined}),
    lntok AS (SELECT doc_id, CAST(len({toks}) AS BIGINT) AS ntok
              FROM lined),
    ctok AS (SELECT doc_id, cntok AS ntok FROM {cleanntok} c2),
    ex AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text
                                              ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1
    ),
    comp AS ({comp}),
    can AS (SELECT doc_id FROM comp WHERE doc_id = component_id),
    q AS ({quality}),
    qf AS (
        SELECT c.doc_id FROM can c JOIN q USING (doc_id)
        WHERE q.quality_score >= {floor}
    ),
    cont AS ({contam}),
    dec AS (
        SELECT doc_id FROM qf
        WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    semhits AS ({semhits}),
    sem AS (
        SELECT doc_id FROM dec
        WHERE NOT EXISTS (SELECT 1 FROM semhits s
                          WHERE s.doc_id = dec.doc_id
                            AND s.d2 <= 120000000)
    ),
    raw AS (SELECT CAST(COUNT(*) AS BIGINT) AS rn FROM tok),
    st AS (
        SELECT '1_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS n_tokens
        FROM lntok
        UNION ALL
        SELECT '2_exact_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM lntok JOIN ex USING (doc_id)
        UNION ALL
        SELECT '2b_line_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM ctok JOIN ex USING (doc_id)
        UNION ALL
        SELECT '3_near_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN can USING (doc_id)
        UNION ALL
        SELECT '4_quality_floor', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN qf USING (doc_id)
        UNION ALL
        SELECT '5_decontaminated', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN dec USING (doc_id)
        UNION ALL
        SELECT '6_semantic_decontaminated', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN sem USING (doc_id)
    )
    SELECT stage, n_docs, n_tokens,
           CAST(n_docs AS DOUBLE) / CAST(raw.rn AS DOUBLE) AS pct_docs
    FROM st CROSS JOIN raw
    ORDER BY stage
""".format(
    toks=_TOKS,
    comp=EXT_ORACLE_SQL["dedup_components"],
    quality=EXT_ORACLE_SQL["text_quality_score"],
    floor=QUALITY_FLOOR,
    contam=EXT_ORACLE_SQL["dedup_contamination"],
    lined=_LINED_SQL,
    cleanntok=_CLEAN_NTOK_SQL,
    semhits=_SEM_HITS.format(comp=_COMP),
)


# X162 per-source funnel: the X148 stage CTEs verbatim, grouped by
# source over a (source x stage) grid so zero-survivor rows appear
EXT_ORACLE_SQL["corpus_funnel_by_source"] = """
    WITH tok AS (
        SELECT doc_id, source, CAST(len({toks}) AS BIGINT) AS ntok
        FROM documents
    ),
    lined AS ({lined}),
    lntok AS (SELECT doc_id, source,
                     CAST(len({toks}) AS BIGINT) AS ntok
              FROM lined),
    ctok AS (SELECT doc_id, source, cntok AS ntok
             FROM {cleanntok} c2),
    ex AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text
                                              ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1
    ),
    comp AS ({comp}),
    can AS (SELECT doc_id FROM comp WHERE doc_id = component_id),
    q AS ({quality}),
    qf AS (
        SELECT c.doc_id FROM can c JOIN q USING (doc_id)
        WHERE q.quality_score >= {floor}
    ),
    cont AS ({contam}),
    dec AS (
        SELECT doc_id FROM qf
        WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    semhits AS ({semhits}),
    sem AS (
        SELECT doc_id FROM dec
        WHERE NOT EXISTS (SELECT 1 FROM semhits s
                          WHERE s.doc_id = dec.doc_id
                            AND s.d2 <= 120000000)
    ),
    src AS (SELECT DISTINCT source FROM documents),
    stages(stage) AS (VALUES ('1_raw'), ('2_exact_dedup'),
                             ('2b_line_dedup'),
                             ('3_near_dedup'), ('4_quality_floor'),
                             ('5_decontaminated'),
                             ('6_semantic_decontaminated')),
    st AS (
        SELECT source, '1_raw' AS stage, CAST(COUNT(*) AS BIGINT)
                   AS n_docs,
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS n_tokens
        FROM lntok GROUP BY 1
        UNION ALL
        SELECT source, '2_exact_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM lntok JOIN ex USING (doc_id) GROUP BY 1
        UNION ALL
        SELECT source, '2b_line_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM ctok JOIN ex USING (doc_id) GROUP BY 1
        UNION ALL
        SELECT source, '3_near_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN can USING (doc_id) GROUP BY 1
        UNION ALL
        SELECT source, '4_quality_floor', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN qf USING (doc_id) GROUP BY 1
        UNION ALL
        SELECT source, '5_decontaminated', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN dec USING (doc_id) GROUP BY 1
        UNION ALL
        SELECT source, '6_semantic_decontaminated',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
        FROM tok JOIN sem USING (doc_id) GROUP BY 1
    ),
    raw AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS rn
        FROM tok GROUP BY 1
    )
    SELECT g.source, g.stage,
           COALESCE(st.n_docs, 0) AS n_docs,
           COALESCE(st.n_tokens, 0) AS n_tokens,
           CAST(COALESCE(st.n_docs, 0) AS DOUBLE) / CAST(raw.rn AS DOUBLE)
               AS pct_docs
    FROM (SELECT s.source, t.stage FROM src s CROSS JOIN stages t) g
    LEFT JOIN st ON st.source = g.source AND st.stage = g.stage
    JOIN raw ON raw.source = g.source
    ORDER BY g.source, g.stage
""".format(
    toks=_TOKS,
    comp=EXT_ORACLE_SQL["dedup_components"],
    quality=EXT_ORACLE_SQL["text_quality_score"],
    floor=QUALITY_FLOOR,
    contam=EXT_ORACLE_SQL["dedup_contamination"],
    lined=_LINED_SQL,
    cleanntok=_CLEAN_NTOK_SQL,
    semhits=_SEM_HITS.format(comp=_COMP),
)


# X149 k-anonymity: identical QI binning + threshold
# X160 k-generalization report: the ladder unrolled into one CTE
# chain per level (generated from the SAME K_GEN_LADDER the Spark
# apply walks — divergence is structurally impossible)
def _k_gen_oracle_sql(final: str = "report") -> str:
    ctes = [
        "u0 AS (SELECT c_custkey, c_nationkey, c_mktsegment, "
        "c_acctbal FROM customer)"
    ]
    for lvl, (kn, ks, w) in enumerate(K_GEN_LADDER):
        qn = "CAST(c_nationkey AS VARCHAR)" if kn else "'*'"
        qs = "c_mktsegment" if ks else "'*'"
        qb = (
            f"'b{w}:' || CAST(CAST(floor(c_acctbal / {w}) AS BIGINT) "
            "AS VARCHAR)"
            if w
            else "'*'"
        )
        ctes.append(
            f"""q{lvl} AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
               {qn} AS qi_n, {qs} AS qi_s, {qb} AS qi_b
        FROM u{lvl})"""
        )
        ctes.append(
            f"""g{lvl} AS (
        SELECT qi_n, qi_s, qi_b, COUNT(*) AS n
        FROM q{lvl} GROUP BY 1, 2, 3)"""
        )
        ctes.append(
            f"""j{lvl} AS (
        SELECT q.*, g.n FROM q{lvl} q
        JOIN g{lvl} g USING (qi_n, qi_s, qi_b))"""
        )
        ctes.append(
            f"""u{lvl + 1} AS (
        SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal
        FROM j{lvl} WHERE n < {K_ANON})"""
        )
    if final in ("ldiv", "tclose"):
        # X196: frozen assignments per level + binary sensitive join
        frozen = "\n        UNION ALL\n        ".join(
            f"SELECT c_custkey, {lvl} AS level, qi_n, qi_s, qi_b "
            f"FROM j{lvl} WHERE n >= {K_ANON}"
            for lvl in range(len(K_GEN_LADDER))
        )
        ctes.append(f"""asg AS (
        {frozen})""")
        ctes.append("""sens AS (
        SELECT c_custkey, c_acctbal < 0 AS sens FROM customer)""")
        if final == "tclose":
            # X207: per-class binary-EMD vs the pooled release
            # distribution — identical integer cross-multiplication
            ctes.append("""cls AS (
        SELECT level, qi_n, qi_s, qi_b,
               CAST(COUNT(*) AS BIGINT) AS n_c,
               CAST(SUM(CASE WHEN sens THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_c
        FROM asg JOIN sens USING (c_custkey)
        GROUP BY 1, 2, 3, 4)""")
            ctes.append("""gtot AS (
        SELECT CAST(SUM(n_c) AS BIGINT) AS nn,
               CAST(SUM(d_c) AS BIGINT) AS dd FROM cls)""")
            ctes.append(f"""scored AS (
        SELECT level,
               CAST(ABS(d_c * nn - dd * n_c) AS DOUBLE)
                   / CAST(n_c * nn AS DOUBLE) AS t,
               CASE WHEN {T_CLOSE_DEN} * ABS(d_c * nn - dd * n_c)
                         > n_c * nn THEN 1 ELSE 0 END AS ab
        FROM cls CROSS JOIN gtot)""")
            return (
                "WITH "
                + ",\n    ".join(ctes)
                + """
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
           MAX(t) AS max_t,
           CAST(SUM(ab) AS BIGINT) AS n_above_t,
           CAST(SUM(ab) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS above_share
    FROM scored GROUP BY 1 ORDER BY 1"""
            )
        ctes.append("""cls AS (
        SELECT level, qi_n, qi_s, qi_b,
               CAST(COUNT(DISTINCT sens) AS BIGINT) AS l
        FROM asg JOIN sens USING (c_custkey)
        GROUP BY 1, 2, 3, 4)""")
        return (
            "WITH "
            + ",\n    ".join(ctes)
            + """
    SELECT level, CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_homogeneous,
           CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS homogeneous_share
    FROM cls GROUP BY 1 ORDER BY 1"""
        )
    rows = []
    for lvl in range(len(K_GEN_LADDER)):
        rows.append(
            f"""    SELECT {lvl} AS level,
           CAST((SELECT COUNT(*) FROM u{lvl}) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM j{lvl} WHERE n >= {K_ANON})
               AS BIGINT) AS n_satisfied,
           CAST((SELECT COUNT(*) FROM u{lvl + 1}) AS BIGINT) AS n_promoted"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n"
        + "\n    UNION ALL\n".join(rows)
        + "\n    ORDER BY level"
    )


EXT_ORACLE_SQL["customers_k_generalize"] = _k_gen_oracle_sql()
EXT_ORACLE_SQL["customers_l_diversity"] = _k_gen_oracle_sql(final="ldiv")
EXT_ORACLE_SQL["customers_t_closeness"] = _k_gen_oracle_sql(final="tclose")


EXT_ORACLE_SQL["customers_k_anonymity"] = """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS balance_band,
           CAST(COUNT(*) AS BIGINT) AS group_size
    FROM customer
    GROUP BY 1, 2, 3
    HAVING COUNT(*) < 5
    ORDER BY 1, 2, 3
"""


# X150 PIT: the oracle aggregates the RAW snapshot definitions — a
# value-hash match proves the SCD2 history reconstructs each snapshot
EXT_ORACLE_SQL["scd2_point_in_time"] = """
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ),
    nw AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM old WHERE o_orderkey % 97 != 0
        UNION ALL
        SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
        FROM old WHERE o_orderkey % 101 = 0
    )
    SELECT 1 AS as_of_version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM old GROUP BY 2
    UNION ALL
    SELECT 2, o_orderstatus, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM nw GROUP BY 2
    ORDER BY as_of_version, o_orderstatus
"""


# X151 phrase search oracle: DIRECT token-array scan (independent of
# the posting-intersection algorithm) for the same data-derived phrase
EXT_ORACLE_SQL["text_phrase_search"] = f"""
    WITH ph AS (
        SELECT t[1] AS w1, t[2] AS w2, t[3] AS w3
        FROM (SELECT {_TOKS} AS t FROM documents WHERE doc_id = 0)
    ),
    tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    hits AS (
        SELECT doc_id, i
        FROM tok, ph, unnest(generate_series(1, len(t) - 2)) AS u(i)
        WHERE t[CAST(i AS INT)] = ph.w1
          AND t[CAST(i AS INT) + 1] = ph.w2
          AND t[CAST(i AS INT) + 2] = ph.w3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM hits GROUP BY 1 ORDER BY 1
"""


# X152 content fingerprints: identical canonical projection + md5
# prefix + commutative int64 sum
def _fp_tok_sql(col: str) -> str:
    """DuckDB twin of corpus_content_hashes' ``tok``: NULL → bare
    'N', else '<len>:<value>' (length prefix makes embedded '|'
    unambiguous)."""
    s = f"CAST({col} AS VARCHAR)"
    return (
        f"CASE WHEN {s} IS NULL THEN 'N' "
        f"ELSE concat(CAST(len({s}) AS VARCHAR), ':', {s}) END"
    )


def _fp_table_sql(table: str, cols: list[str], first: bool) -> str:
    canon = "concat_ws('|', " + ", ".join(_fp_tok_sql(c) for c in cols) + ")"
    head = (
        f"SELECT '{table}' AS table_name, "
        "CAST(COUNT(*) AS BIGINT) AS n_rows,"
        if first
        else f"SELECT '{table}', CAST(COUNT(*) AS BIGINT),"
    )
    alias = " AS content_hash" if first else ""
    return f"""
    {head}
           CAST(SUM(CAST(CAST(concat('0x', substr(md5({canon}), 1, 15))
                AS BIGINT) AS HUGEINT)) % 9223372036854775783 AS BIGINT)
               {alias}
    FROM {table}"""


EXT_ORACLE_SQL["corpus_content_hashes"] = (
    _fp_table_sql(
        "customer",
        ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
        True,
    )
    + "\n    UNION ALL"
    + _fp_table_sql("documents", ["doc_id", "lang", "source", "text"], False)
    + "\n    UNION ALL"
    + _fp_table_sql(
        "orders", ["o_orderkey", "o_custkey", "o_orderstatus"], False
    )
    + "\n    ORDER BY table_name\n"
)

# X153 weighted exactly-k: same integer priority key arithmetic
EXT_ORACLE_SQL["docs_sample_weighted_k"] = """
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                         1, 15)) AS BIGINT)
                // GREATEST(CAST(n_chars AS BIGINT), 1) AS BIGINT)
               AS priority_key
    FROM documents
    ORDER BY priority_key, doc_id
    LIMIT 100
"""


# X154 per-user anomalies: identical expanding leak-free baseline,
# integer cross-multiplied flag, one double division for the ratio
EXT_ORACLE_SQL["events_user_anomalies"] = """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    sc AS (
        SELECT user_id, day, CAST(n AS BIGINT) AS n_events,
               CAST(COALESCE(COUNT(*) OVER w, 0) AS BIGINT)
                   AS prior_days,
               CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS prior_total
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, day, n_events, prior_days, prior_total,
           CAST(n_events AS DOUBLE) * CAST(prior_days AS DOUBLE)
               / CAST(prior_total AS DOUBLE) AS ratio
    FROM sc
    WHERE prior_days >= 7 AND n_events * prior_days > 2 * prior_total
    ORDER BY user_id, day
"""


# X155 streaming per-user anomalies: the X154 oracle restricted to
# watermark-CLOSED days (the streaming_cusum_gate day-universe rule)
EXT_ORACLE_SQL["streaming_user_anomalies"] = """
    WITH daily AS (
        SELECT user_id, day, n FROM (
            SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <=
              (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    ),
    sc AS (
        SELECT user_id, day, CAST(n AS BIGINT) AS n_events,
               CAST(COALESCE(COUNT(*) OVER w, 0) AS BIGINT)
                   AS prior_days,
               CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS prior_total
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, day, n_events, prior_days, prior_total,
           CAST(n_events AS DOUBLE) * CAST(prior_days AS DOUBLE)
               / CAST(prior_total AS DOUBLE) AS ratio
    FROM sc
    WHERE prior_days >= 7 AND n_events * prior_days > 2 * prior_total
    ORDER BY user_id, day
"""

# X163 HLL daily+merge: per-day registers AND the total computed
# DIRECTLY over all events — hash-equal to Spark's merged total only
# because register merge ≡ direct (the cross-engine mergeability proof)
EXT_ORACLE_SQL["events_hll_users_daily"] = """
    WITH keyed AS (
        SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
                   AS scope,
               CAST(user_id AS VARCHAR) AS uid
        FROM events
    ),
    scoped AS (
        SELECT scope, uid FROM keyed
        UNION ALL
        SELECT 'total', uid FROM keyed
    ),
    h AS (SELECT DISTINCT scope, md5(uid) AS hx FROM scoped),
    r AS (
        SELECT scope,
               CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) % 64 AS reg,
               CAST(concat('0x', substr(hx, 3, 15)) AS BIGINT) AS w
        FROM h
    ),
    m AS (
        SELECT scope, reg,
               MAX(CASE WHEN w = 0 THEN 61 ELSE 61 - len(bin(w)) END) AS rho
        FROM r GROUP BY 1, 2
    ),
    s AS (
        SELECT scope,
               SUM(CAST(1 AS HUGEINT) << (61 - rho))
                   + (64 - COUNT(*)) * (CAST(1 AS HUGEINT) << 61) AS s_all,
               CAST(64 - COUNT(*) AS BIGINT) AS n_zero_regs
        FROM m GROUP BY 1
    ),
    ex AS (
        SELECT scope, CAST(COUNT(DISTINCT uid) AS BIGINT) AS exact_distinct
        FROM scoped GROUP BY 1
    )
    SELECT s.scope, s.n_zero_regs,
           {num!r} / CAST(s_all AS DOUBLE) AS est_distinct,
           ex.exact_distinct,
           ({num!r} / CAST(s_all AS DOUBLE)
                - CAST(exact_distinct AS DOUBLE))
               / CAST(exact_distinct AS DOUBLE) AS rel_err
    FROM s JOIN ex USING (scope)
    ORDER BY scope
""".format(num=sketch.HLL_EST_NUM)


EXT_ORACLE_SQL["text_unigram_vocab"] = _unigram_oracle_sql(final="vocab")
EXT_ORACLE_SQL["text_unigram_segment"] = _unigram_oracle_sql(final="segment")

# X145 tokenizer A/B: both generated segment oracles composed, the
# same inner-join universe and exact-int fertility arithmetic
EXT_ORACLE_SQL["text_tokenizer_compare"] = f"""
    WITH b AS ({{bpe}}),
    u AS ({{uni}})
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_words) AS BIGINT) AS n_words,
           CAST(SUM(u.n_words) AS BIGINT) AS u_words,
           CAST(SUM(b.n_bpe_tokens) AS BIGINT) AS bpe_tokens,
           CAST(SUM(u.n_unigram_tokens) AS BIGINT) AS unigram_tokens,
           CAST(SUM(b.n_bpe_tokens) AS DOUBLE)
               / CAST(SUM(b.n_words) AS DOUBLE) AS bpe_fertility,
           CAST(SUM(u.n_unigram_tokens) AS DOUBLE)
               / CAST(SUM(u.n_words) AS DOUBLE) AS unigram_fertility
    FROM b
    JOIN u USING (doc_id)
    JOIN documents d USING (doc_id)
    GROUP BY 1 ORDER BY 1
""".format(
    bpe=EXT_ORACLE_SQL["text_bpe_segment"],
    uni=EXT_ORACLE_SQL["text_unigram_segment"],
)

# X146 split-leakage audit: the pair oracle + the closure oracle +
# both split policies' bucket arithmetic, stacked to two rows
EXT_ORACLE_SQL["docs_split_leakage_audit"] = """
    WITH pairs AS ({pairs}),
    comp AS ({comp}),
    lab AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                        1, 7)) AS BIGINT) % 100 AS hn,
               CAST(concat('0x', substr(md5(CAST(component_id AS VARCHAR)),
                                        1, 7)) AS BIGINT) % 100 AS hs
        FROM comp
    ),
    sp AS (
        SELECT doc_id,
               CASE WHEN hn < 90 THEN 'train' WHEN hn < 95 THEN 'val'
                    ELSE 'test' END AS s_naive,
               CASE WHEN hs < 90 THEN 'train' WHEN hs < 95 THEN 'val'
                    ELSE 'test' END AS s_safe
        FROM lab
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN a.s_naive != b.s_naive THEN 1 ELSE 0 END)
                    AS BIGINT) AS naive_straddle,
               CAST(SUM(CASE WHEN a.s_safe != b.s_safe THEN 1 ELSE 0 END)
                    AS BIGINT) AS safe_straddle
        FROM pairs p
        JOIN sp a ON a.doc_id = p.doc_a
        JOIN sp b ON b.doc_id = p.doc_b
    )
    SELECT 'component_hash' AS split_policy, n_pairs,
           safe_straddle AS n_straddling FROM agg
    UNION ALL
    SELECT 'per_doc_hash' AS split_policy, n_pairs,
           naive_straddle AS n_straddling FROM agg
    ORDER BY split_policy
""".format(
    pairs=EXT_ORACLE_SQL["dedup_minhash_lsh"],
    comp=EXT_ORACLE_SQL["dedup_components"],
)


# X166 known-item eval: the batch BM25 replayed with the identical
# log-free formula, per-query panels from each doc's own first 3
# distinct tokens, reciprocal rank in exact integer ppm
EXT_ORACLE_SQL["retrieval_known_item_eval"] = f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    kw AS ({EXT_ORACLE_SQL["text_keywords"]}),
    q AS (
        SELECT DISTINCT doc_id AS query_id, keyword AS term
        FROM kw WHERE doc_id < 20
    ),
    lens AS (SELECT doc_id, len(t) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM lens
    ),
    hits AS (
        SELECT doc_id, tok, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        WHERE tok IN (SELECT term FROM q)
        GROUP BY 1, 2
    ),
    dfs AS (SELECT tok, COUNT(*) AS df FROM hits GROUP BY 1),
    contrib AS (
        SELECT h.doc_id, h.tok,
               ((n_docs - df + 0.5) / (df + 0.5))
                 * (tf * 2.2)
                 / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS c
        FROM hits h
        JOIN lens USING (doc_id)
        JOIN dfs USING (tok)
        CROSS JOIN stats
    ),
    per_q AS (
        SELECT q.query_id, c.doc_id,
               CAST(SUM(CAST(c.c AS DECIMAL(18,6))) AS DOUBLE) AS score
        FROM contrib c JOIN q ON q.term = c.tok
        GROUP BY 1, 2
    ),
    top AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rank
            FROM per_q
        ) WHERE rank <= 10
    ),
    qid AS (SELECT DISTINCT query_id FROM q),
    selfr AS (
        SELECT query_id, rank AS self_rank FROM top
        WHERE doc_id = query_id
    )
    SELECT qid.query_id,
           CAST(selfr.self_rank AS INT) AS self_rank,
           CAST(COALESCE(1000000 // selfr.self_rank, 0) AS BIGINT)
               AS rr_ppm,
           selfr.self_rank IS NOT NULL AS hit_at_10
    FROM qid LEFT JOIN selfr USING (query_id)
    ORDER BY query_id
"""

# X167 summary: one double division per metric over exact int sums
EXT_ORACLE_SQL["retrieval_eval_mrr"] = f"""
    WITH per AS ({{per}})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN hit_at_10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
           CAST(SUM(rr_ppm) AS DOUBLE) / 1000000.0
               / CAST(COUNT(*) AS DOUBLE) AS mrr_at_10,
           CAST(SUM(CASE WHEN hit_at_10 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS recall_at_10
    FROM per
""".format(per=EXT_ORACLE_SQL["retrieval_known_item_eval"])


# X168 PII extraction: one UNION ALL branch per pattern class over the
# same synthesized fixture, regexp_extract_all + unnest, every
# occurrence kept (generated from text.PII_PATTERNS)
def _pii_extract_oracle() -> str:
    synth = """
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 2 = 0 THEN ' contact user'
                    || CAST(doc_id AS VARCHAR) || '@example.com'
                  ELSE '' END
               || CASE WHEN doc_id % 3 = 0 THEN ' call +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' ip 10.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                  ELSE '' END
               AS t
        FROM documents"""
    branches = []
    for name, pat, _repl in text.PII_PATTERNS:
        esc = pat.replace("'", "''")
        branches.append(
            f"""
        SELECT doc_id, '{name}' AS entity_type,
               unnest(regexp_extract_all(t, '{esc}')) AS match_text
        FROM s"""
        )
    return (
        "WITH s AS (" + synth + ")\n"
        + "\n        UNION ALL\n".join(branches)
        + "\n    ORDER BY doc_id, entity_type, match_text"
    )


EXT_ORACLE_SQL["text_pii_extract"] = _pii_extract_oracle()

# X169 join-key skew: exact per-key counts, top-10, single-division
# ratios against the 1-row stats
EXT_ORACLE_SQL["events_user_skew"] = """
    WITH counts AS (
        SELECT user_id AS key_value, COUNT(*) AS n_rows
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT COUNT(*) AS n_keys, SUM(n_rows) AS n_total FROM counts
    ),
    top AS (
        SELECT key_value, n_rows,
               ROW_NUMBER() OVER (ORDER BY n_rows DESC, key_value)
                   AS key_rank
        FROM counts
        ORDER BY n_rows DESC, key_value
        LIMIT 10
    )
    SELECT CAST(key_rank AS INT) AS key_rank, key_value,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
           CAST(n_rows * n_keys AS DOUBLE) / CAST(n_total AS DOUBLE)
               AS ratio_vs_avg
    FROM top CROSS JOIN stats
    ORDER BY key_rank
"""


# X170 FK audit: orphan counts via NOT EXISTS per declared edge —
# NOT EXISTS, not NOT IN, so the oracle carries the LEFT ANTI join's
# exact NULL semantics (a NULL child key IS an orphan; a NULL parent
# key never vacuously matches everything) — r11 ADVICE #2
EXT_ORACLE_SQL["warehouse_fk_audit"] = """
    WITH e AS (
        SELECT 'orders.o_custkey->customer' AS fk,
               (SELECT COUNT(*) FROM orders) AS child_rows,
               (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                   AS orphan_rows
        UNION ALL
        SELECT 'lineitem.l_orderkey->orders',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               (SELECT COUNT(*) FROM lineitem),
               (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               (SELECT COUNT(*) FROM customer),
               (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
                (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        UNION ALL
        SELECT 'supplier.s_nationkey->nation',
               (SELECT COUNT(*) FROM supplier),
               (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS
                (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        UNION ALL
        SELECT 'nation.n_regionkey->region',
               (SELECT COUNT(*) FROM nation),
               (SELECT COUNT(*) FROM nation n WHERE NOT EXISTS
                (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
    )
    SELECT fk, CAST(child_rows AS BIGINT) AS child_rows,
           CAST(orphan_rows AS BIGINT) AS orphan_rows,
           CAST(orphan_rows AS DOUBLE) / CAST(child_rows AS DOUBLE)
               AS orphan_share
    FROM e ORDER BY fk
"""

# X171 deletion propagation: every derived store recounted before and
# after on the identical definitions (chunk window arithmetic, df >= 5
# postings REBUILT on the retained corpus, vec_id-keyed embeddings)
EXT_ORACLE_SQL["corpus_delete_apply"] = f"""
    WITH tok_all AS (SELECT doc_id, {{toks}} AS t FROM documents),
    tok_kept AS (SELECT * FROM tok_all WHERE doc_id % {{m}} != 0),
    chunks_of AS (
        SELECT doc_id,
               CASE WHEN len(t) <= {{W}} THEN 1
                    ELSE (len(t) - {{W}} + {{S}} - 1) // {{S}} + 1 END AS nc
        FROM tok_all WHERE len(t) >= 1
    ),
    post_all AS (
        SELECT tok FROM (
            SELECT DISTINCT doc_id, unnest(t) AS tok FROM tok_all
        ) GROUP BY tok HAVING COUNT(*) >= 5
    ),
    post_kept AS (
        SELECT tok FROM (
            SELECT DISTINCT doc_id, unnest(t) AS tok FROM tok_kept
        ) GROUP BY tok HAVING COUNT(*) >= 5
    ),
    e AS (
        SELECT 'documents' AS table_name,
               (SELECT COUNT(*) FROM documents) AS b,
               (SELECT COUNT(*) FROM documents
                WHERE doc_id % {{m}} != 0) AS a
        UNION ALL
        SELECT 'chunks',
               (SELECT COALESCE(SUM(nc), 0) FROM chunks_of),
               (SELECT COALESCE(SUM(nc), 0) FROM chunks_of
                WHERE doc_id % {{m}} != 0)
        UNION ALL
        SELECT 'postings',
               (SELECT COUNT(*) FROM post_all),
               (SELECT COUNT(*) FROM post_kept)
        UNION ALL
        SELECT 'embeddings',
               (SELECT COUNT(*) FROM embeddings),
               (SELECT COUNT(*) FROM embeddings WHERE vec_id % {{m}} != 0)
    )
    SELECT table_name, CAST(b AS BIGINT) AS rows_before,
           CAST(a AS BIGINT) AS rows_after,
           CAST(b - a AS BIGINT) AS rows_purged
    FROM e ORDER BY table_name
""".format(
    toks=_TOKS,
    m=DELETE_MOD,
    W=text.CHUNK_TOKENS,
    S=text.CHUNK_STRIDE,
)


# X177 completeness profile: one single-pass aggregate CTE per table,
# unpivoted by UNION (generated from NULL_PROFILE_TABLES)
def _null_profile_oracle() -> str:
    ctes, rows = [], []
    for table, cols in NULL_PROFILE_TABLES.items():
        sums = ",\n               ".join(
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS z{i}"
            for i, c in enumerate(cols)
        )
        ctes.append(
            f"a_{table} AS (\n        SELECT COUNT(*) AS n,"
            f"\n               {sums}\n        FROM {table})"
        )
        for i, c in enumerate(cols):
            rows.append(
                f"    SELECT '{table}' AS table_name, '{c}' AS column_name,"
                f"\n           CAST(n AS BIGINT) AS n_rows,"
                f"\n           CAST(COALESCE(z{i}, 0) AS BIGINT) AS n_null,"
                f"\n           CAST(COALESCE(z{i}, 0) AS DOUBLE)"
                f" / CAST(n AS DOUBLE) AS null_share"
                f"\n    FROM a_{table}"
            )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n"
        + "\n    UNION ALL\n".join(rows)
        + "\n    ORDER BY table_name, column_name"
    )


EXT_ORACLE_SQL["warehouse_null_profile"] = _null_profile_oracle()


# X178 scorer agreement: the ensemble oracle's normalized signals,
# exact HUGEINT sufficient stats, the X82 sqrt-formula double
def _scorer_agreement_oracle() -> str:
    stanzas = []
    for name, xc, yc in (
        ("heur_vs_model", "q_heur", "q_model"),
        ("heur_vs_lm", "q_heur", "q_lm"),
        ("model_vs_lm", "q_model", "q_lm"),
    ):
        stanzas.append(
            f"""    SELECT '{name}' AS pair,
           CAST(n AS BIGINT) AS n_docs,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS pearson_r
    FROM (
        SELECT COUNT(*) AS n,
               SUM(CAST({xc} AS HUGEINT)) AS sx,
               SUM(CAST({yc} AS HUGEINT)) AS sy,
               SUM(CAST({xc} AS HUGEINT) * CAST({xc} AS HUGEINT)) AS sxx,
               SUM(CAST({yc} AS HUGEINT) * CAST({yc} AS HUGEINT)) AS syy,
               SUM(CAST({xc} AS HUGEINT) * CAST({yc} AS HUGEINT)) AS sxy
        FROM ens
    )"""
        )
    return (
        'WITH ens AS MATERIALIZED ('
        + EXT_ORACLE_SQL["text_quality_ensemble"]
        + ")\n"
        + "\n    UNION ALL\n".join(stanzas)
        + "\n    ORDER BY pair"
    )


EXT_ORACLE_SQL["quality_scorer_agreement"] = _scorer_agreement_oracle()


# X179 streaming decontamination: the batch contamination oracle's
# rows restricted to the delta universe — per-doc rows are
# independent, so the filter IS the streaming verdict set; the
# double-delivered fixture cannot add rows (post-drain DISTINCT)
EXT_ORACLE_SQL["streaming_decontamination_gate"] = f"""
    WITH full_report AS ({EXT_ORACLE_SQL["dedup_contamination"]})
    SELECT doc_id, n_hit_grams, n_benchmark_docs
    FROM full_report
    WHERE doc_id % 10 >= {_DELTA_PCT}
    ORDER BY doc_id
"""


# X181 CMS daily merge: the oracle builds the range sketch DIRECTLY
# over all events (no day split) — hash-equal to Spark's merged daily
# cells only because counter-sum merge ≡ direct
EXT_ORACLE_SQL["events_cms_users_daily"] = """
    WITH occ AS (
        SELECT CAST(user_id AS VARCHAR) AS item FROM events
    ),
    cells AS (
        SELECT dd.d,
               CAST(concat('0x', substr(md5(CAST(dd.d AS VARCHAR) || ':'
                    || item), 1, 7)) AS BIGINT) % 256 AS c,
               COUNT(*) AS n
        FROM occ, (SELECT unnest(generate_series(0, 3)) AS d) dd
        GROUP BY 1, 2
    ),
    cand AS (SELECT DISTINCT item FROM occ),
    est AS (
        SELECT e.item, CAST(MIN(c2.n) AS BIGINT) AS cm_estimate
        FROM cand e,
             (SELECT unnest(generate_series(0, 3)) AS d) dd
        JOIN cells c2
          ON c2.d = dd.d
         AND c2.c = CAST(concat('0x', substr(md5(CAST(dd.d AS VARCHAR)
                    || ':' || e.item), 1, 7)) AS BIGINT) % 256
        GROUP BY 1
    ),
    ex AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_count
        FROM occ GROUP BY 1
    )
    SELECT est.item AS user_id, cm_estimate, exact_count,
           CAST(cm_estimate - exact_count AS BIGINT) AS overestimate
    FROM est JOIN ex USING (item)
    ORDER BY user_id
"""


# X183 mixture actuals: the plan oracle joined to the funnel's
# decontaminated-stage token inventory (same stage CTEs as X148/X162)
EXT_ORACLE_SQL["corpus_mixture_actuals"] = """
    WITH plan AS ({plan}),
    tok AS (
        SELECT doc_id, source, CAST(len({toks}) AS BIGINT) AS ntok
        FROM documents
    ),
    ex AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text
                                              ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1
    ),
    comp AS ({comp}),
    can AS (SELECT doc_id FROM comp WHERE doc_id = component_id),
    q AS ({quality}),
    qf AS (
        SELECT c.doc_id FROM can c JOIN q USING (doc_id)
        WHERE q.quality_score >= {floor}
    ),
    cont AS ({contam}),
    dec AS (
        SELECT doc_id FROM qf
        WHERE doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    act AS (
        SELECT source, CAST(SUM(ntok) AS BIGINT) AS actual_tokens
        FROM tok JOIN dec USING (doc_id)
        GROUP BY 1
    )
    SELECT p.source, p.alloc_tokens,
           CAST(COALESCE(a.actual_tokens, 0) AS BIGINT) AS actual_tokens,
           CAST(GREATEST(p.alloc_tokens
                         - COALESCE(a.actual_tokens, 0), 0) AS BIGINT)
               AS shortfall_tokens,
           CAST(COALESCE(a.actual_tokens, 0) AS DOUBLE)
               / CAST(p.alloc_tokens AS DOUBLE) AS coverage
    FROM plan p LEFT JOIN act a USING (source)
    ORDER BY p.source
""".format(
    plan=EXT_ORACLE_SQL["corpus_mixture_plan"],
    toks=_TOKS,
    comp=EXT_ORACLE_SQL["dedup_components"],
    quality=EXT_ORACLE_SQL["text_quality_score"],
    floor=QUALITY_FLOOR,
    contam=EXT_ORACLE_SQL["dedup_contamination"],
)


# X184 language-ID confusion: the classifier oracle cross-tabulated
EXT_ORACLE_SQL["docs_language_confusion"] = """
    WITH pred AS ({pred}),
    conf AS (
        SELECT labeled_lang, predicted_lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2
    ),
    pl AS (
        SELECT labeled_lang, SUM(n_docs) AS ln FROM conf GROUP BY 1
    ),
    acc AS (
        SELECT CAST(SUM(CASE WHEN labeled_lang = predicted_lang
                             THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS a
        FROM pred
    )
    SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
           CAST(c.n_docs AS DOUBLE) / CAST(pl.ln AS DOUBLE)
               AS share_of_label,
           acc.a AS overall_accuracy
    FROM conf c JOIN pl USING (labeled_lang) CROSS JOIN acc
    ORDER BY 1, 2
""".format(pred=EXT_ORACLE_SQL["text_language_id"])

# X185 shard manifest: one aggregate over the packing oracle
EXT_ORACLE_SQL["docs_pack_manifest"] = """
    WITH packed AS ({packed})
    SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
           CAST(SUM(CASE WHEN n_shards_spanned > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_straddlers
    FROM packed GROUP BY 1 ORDER BY 1
""".format(packed=EXT_ORACLE_SQL["text_pack_sequences"])

# X186 weekly profile: DuckDB dayofweek is 0=Sunday, Spark is 1=Sunday
EXT_ORACLE_SQL["events_weekly_profile"] = """
    WITH cells AS (
        SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    pd AS (SELECT dow, SUM(n_events) AS dn FROM cells GROUP BY 1)
    SELECT c.dow, c.hour, c.n_events,
           CAST(c.n_events AS DOUBLE) / CAST(pd.dn AS DOUBLE)
               AS share_of_dow
    FROM cells c JOIN pd USING (dow)
    ORDER BY c.dow, c.hour
"""


# X187 streaming quality gate: the X9 oracle's rows restricted to the
# delta universe and the below-floor band
EXT_ORACLE_SQL["streaming_quality_gate"] = """
    WITH q AS ({quality})
    SELECT doc_id, n_tokens, quality_score FROM q
    WHERE doc_id % 10 >= {delta} AND quality_score < {floor}
    ORDER BY doc_id
""".format(
    quality=EXT_ORACLE_SQL["text_quality_score"],
    delta=_DELTA_PCT,
    floor=QUALITY_FLOOR,
)


EXT_ORACLE_SQL["dedup_boilerplate_lines"] = f"""
    WITH lined AS ({_LINED_SQL}),
    ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls
           FROM lined),
    l AS (SELECT doc_id, source, unnest(ls) AS line,
                 generate_subscripts(ls, 1) AS pos
          FROM ls),
    pl AS (SELECT source, line,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
           FROM l GROUP BY 1, 2),
    ss AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nsrc
           FROM lined GROUP BY 1),
    fl AS (SELECT pl.source, pl.line, nd,
                  (nd >= {BOILERPLATE_MIN_DOCS}
                   AND CAST(nd AS DOUBLE) >=
                       {BOILERPLATE_MAX_SHARE!r} * CAST(nsrc AS DOUBLE))
                      AS is_bp,
                  CAST(len({_LINE_TOKS}) AS BIGINT) AS ltok
           FROM pl JOIN ss USING (source))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
           CAST(SUM(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boilerplate_lines,
           CAST(SUM(CASE WHEN is_bp THEN ltok * nd ELSE 0 END) AS DOUBLE)
               / CAST(SUM(ltok * nd) AS DOUBLE) AS bp_token_share
    FROM fl GROUP BY source ORDER BY source
"""

EXT_ORACLE_SQL["dedup_strip_boilerplate"] = f"""
    WITH lined AS ({_LINED_SQL}),
    ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls
           FROM lined),
    l AS (SELECT doc_id, source, unnest(ls) AS line,
                 generate_subscripts(ls, 1) AS pos
          FROM ls),
    pl AS (SELECT source, line,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
           FROM l GROUP BY 1, 2),
    ss AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nsrc
           FROM lined GROUP BY 1),
    bp AS (SELECT pl.source, pl.line
           FROM pl JOIN ss USING (source)
           WHERE nd >= {BOILERPLATE_MIN_DOCS}
             AND CAST(nd AS DOUBLE) >=
                 {BOILERPLATE_MAX_SHARE!r} * CAST(nsrc AS DOUBLE)),
    kept AS (
        SELECT l.* FROM l
        LEFT JOIN bp ON bp.source = l.source AND bp.line = l.line
        WHERE bp.line IS NULL
    ),
    re AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept_lines,
               string_agg(line, chr(10) ORDER BY pos) AS text_clean
        FROM kept GROUP BY 1
    ),
    nl AS (
        SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM l GROUP BY 1, 2
    )
    SELECT nl.doc_id, nl.source, nl.n_lines,
           COALESCE(re.n_kept_lines, 0) AS n_kept_lines,
           CAST(len(list_filter(string_split_regex(
                    lower(trim(COALESCE(re.text_clean, ''))), '\\s+'),
                    t -> t != '')) AS BIGINT) AS n_tokens_clean,
           md5(COALESCE(re.text_clean, '')) AS clean_md5
    FROM nl LEFT JOIN re USING (doc_id)
    ORDER BY nl.doc_id
"""


# X192 semantic contamination report: exact quantized probe vs the
# 25 benchmark vectors, per-doc hit count + nearest distance
EXT_ORACLE_SQL["emb_semantic_contamination"] = f"""
    WITH d AS ({_SEM_HITS.format(comp=_COMP)})
    SELECT doc_id,
           CAST(COUNT(DISTINCT bench_id) AS BIGINT) AS n_bench_hits,
           CAST(MIN(d2) AS DOUBLE) / 100000000.0 AS min_dist2
    FROM d WHERE d2 <= 120000000
    GROUP BY doc_id ORDER BY doc_id
"""

# X193 combined decontamination apply: X122's n-gram flag CTE unioned
# with the X192 semantic flags, NOT EXISTS-dropped from the corpus
EXT_ORACLE_SQL["dedup_decontaminate_semantic"] = f"""
    WITH cg AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform({_shingles(5)},
                   s -> CAST(concat('0x', substr(md5(s), 1,
                        7)) AS BIGINT)))) AS gram
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    ),
    bg AS (SELECT doc_id AS bench_id, gram FROM cg WHERE doc_id < 25),
    sd AS ({_SEM_HITS.format(comp=_COMP)}),
    flagged AS (
        SELECT DISTINCT c.doc_id FROM cg c JOIN bg b ON c.gram = b.gram
        UNION
        SELECT DISTINCT doc_id FROM sd WHERE d2 <= 120000000
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
    ORDER BY d.doc_id
"""


# X194 vocabulary-coverage audit: both tokenizers' generated coverage
# chains unioned — each is its own scoped subquery so the EM / merge
# CTE names cannot collide; VOCAB_SIZES interpolates via _VS_VALUES
EXT_ORACLE_SQL["text_vocab_coverage"] = f"""
    WITH b AS ({_bpe_oracle_sql(8, final="coverage")}),
    u AS ({_unigram_oracle_sql(final="coverage")})
    SELECT * FROM b UNION ALL SELECT * FROM u
    ORDER BY tokenizer, lang, vocab_size
"""


# X197 temperature mixture: identical sqrt-chain weights, one
# round-to-int64 quantization per (source, tau), integer allocation
EXT_ORACLE_SQL["corpus_mixture_temperature"] = f'''
    WITH per_source AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total
            FROM per_source),
    sh AS (
        SELECT source, n_docs, avail_tokens,
               CAST(avail_tokens AS DOUBLE) / CAST(total AS DOUBLE)
                   AS natural_share
        FROM per_source CROSS JOIN tot
    ),
    wq AS (
        SELECT source, CAST(t.tau AS DOUBLE) AS tau, n_docs,
               avail_tokens, natural_share,
               CAST(ROUND(CASE t.tau
                   WHEN 1.0 THEN natural_share
                   WHEN 0.5 THEN sqrt(natural_share)
                   ELSE sqrt(sqrt(natural_share)) END
                   * {float(sampling.MIX_W_SCALE)!r}, 0) AS BIGINT)
                   AS wqv
        FROM sh CROSS JOIN (VALUES (1.0), (0.5), (0.25)) t(tau)
    ),
    ws AS (SELECT tau, CAST(SUM(wqv) AS BIGINT) AS wsum
           FROM wq GROUP BY 1)
    SELECT wq.source, wq.tau, wq.n_docs, wq.avail_tokens,
           wq.natural_share,
           CAST(wqv AS DOUBLE) / CAST(wsum AS DOUBLE) AS sample_prob,
           CAST(wqv * 100000 // wsum AS BIGINT) AS target_tokens,
           (CAST(wqv AS DOUBLE) / CAST(wsum AS DOUBLE))
               / natural_share AS oversample_factor
    FROM wq JOIN ws USING (tau)
    ORDER BY wq.source, wq.tau
'''


# X195 streaming boilerplate gate: static replay — the lined delta's
# boilerplate-line hits per doc, under the corpus-learned flag rule
EXT_ORACLE_SQL["streaming_boilerplate_gate"] = f"""
    WITH lined AS ({_LINED_SQL}),
    ls AS (SELECT doc_id, source, string_split(text, chr(10)) AS ls
           FROM lined),
    l AS (SELECT doc_id, source, unnest(ls) AS line,
                 generate_subscripts(ls, 1) AS pos
          FROM ls),
    pl AS (SELECT source, line,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
           FROM l GROUP BY 1, 2),
    ss AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nsrc
           FROM lined GROUP BY 1),
    bp AS (SELECT pl.source, pl.line
           FROM pl JOIN ss USING (source)
           WHERE nd >= {BOILERPLATE_MIN_DOCS}
             AND CAST(nd AS DOUBLE) >=
                 {BOILERPLATE_MAX_SHARE!r} * CAST(nsrc AS DOUBLE))
    SELECT l.doc_id,
           CAST(COUNT(DISTINCT l.pos) AS BIGINT) AS n_boilerplate_lines
    FROM l JOIN bp ON bp.source = l.source AND bp.line = l.line
    WHERE l.doc_id % 10 >= {_DELTA_PCT}
    GROUP BY 1 ORDER BY 1
"""


# X216 streaming Bloom gate: static replay — retained-corpus bits,
# probe batch = delta ∪ every-7th retained re-crawl, identical md5
# position arithmetic; flagged = all k positions set; truth by exact
# text membership in the retained corpus
EXT_ORACLE_SQL["streaming_bloom_gate"] = f"""
    WITH retained AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 < {_DELTA_PCT}
    ),
    probes AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 10 >= {_DELTA_PCT}
        UNION ALL
        SELECT doc_id, text FROM retained WHERE doc_id % 7 = 0
    ),
    hi AS (SELECT unnest(generate_series(0, {sketch.BLOOM_K - 1})) AS hi),
    bits AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(text || ':'
                    || CAST(hi AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {sketch.BLOOM_M} AS pos
        FROM retained CROSS JOIN hi
    ),
    ppos AS (
        SELECT doc_id, hi,
               CAST(concat('0x', substr(md5(text || ':'
                    || CAST(hi AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {sketch.BLOOM_M} AS pos
        FROM probes CROSS JOIN hi
    ),
    per AS (
        SELECT doc_id,
               MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END) AS all_set
        FROM ppos p LEFT JOIN bits b ON b.pos = p.pos
        GROUP BY 1
    )
    SELECT f.doc_id,
           EXISTS(SELECT 1 FROM retained r WHERE r.text = p.text)
               AS is_true_dup
    FROM (SELECT doc_id FROM per WHERE all_set = 1) f
    JOIN probes p USING (doc_id)
    ORDER BY f.doc_id
"""


# X198 cross-source vocab overlap: identical KMV arithmetic — md5 of
# the 28-bit gram (cast to plain digits), per-source k smallest,
# union-k Jaccard estimate — joined to the exact pairwise Jaccard
EXT_ORACLE_SQL["dedup_source_vocab_overlap"] = """
    WITH sg AS (
        SELECT DISTINCT source,
               unnest(list_transform({sh},
                   s -> CAST(concat('0x', substr(md5(s), 1, 7))
                        AS BIGINT))) AS gram
        FROM (SELECT source, {toks} AS t FROM documents)
    ),
    hs AS (
        SELECT DISTINCT source, md5(CAST(gram AS VARCHAR)) AS h FROM sg
    ),
    sk AS (
        SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h)
                       AS rk
            FROM hs
        ) WHERE rk <= {k}
    ),
    pr AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM (SELECT DISTINCT source FROM sk) a
        JOIN (SELECT DISTINCT source FROM sk) b
          ON a.source < b.source
    ),
    uni AS (
        SELECT source_a, source_b, h,
               MAX(in_a) AS in_a, MAX(in_b) AS in_b
        FROM (
            SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
            FROM pr p JOIN sk s ON s.source = p.source_a
            UNION ALL
            SELECT p.source_a, p.source_b, s.h, 0, 1
            FROM pr p JOIN sk s ON s.source = p.source_b
        ) GROUP BY 1, 2, 3
    ),
    topu AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source_a, source_b ORDER BY h) AS rk
            FROM uni
        ) WHERE rk <= {k}
    ),
    est AS (
        SELECT source_a, source_b,
               CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1
                        THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS est_jaccard
        FROM topu GROUP BY 1, 2
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY 1),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_inter
        FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT i.source_a, i.source_b,
               CAST(i.n_inter AS DOUBLE)
                   / CAST(sa.n + sb.n - i.n_inter AS DOUBLE)
                   AS exact_jaccard
        FROM inter i
        JOIN sizes sa ON sa.source = i.source_a
        JOIN sizes sb ON sb.source = i.source_b
    )
    SELECT e.source_a, e.source_b, e.est_jaccard, x.exact_jaccard,
           e.est_jaccard - x.exact_jaccard AS err
    FROM est e JOIN exact x USING (source_a, source_b)
    ORDER BY e.source_a, e.source_b
""".format(sh=_shingles(3), toks=_TOKS, k=sketch.KMV_K)


# X199 catalog statistics: generated from COLUMN_STATS_SPEC — per
# column one stats SELECT + one HLL-register subquery (the
# docs_hll_distinct_audit arithmetic, ungrouped), unioned
def _col_stats_oracle_sql() -> str:
    blocks = []
    for table, col, kind in COLUMN_STATS_SPEC:
        if kind == "int":
            key = f"CAST(CAST({col} AS BIGINT) AS VARCHAR)"
        elif kind == "dec2":
            key = (
                f"CAST(CAST(ROUND({col} * 100, 0) AS BIGINT) AS VARCHAR)"
            )
        else:
            key = col
        if kind == "str":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            mns, mxs = f"MIN({col})", f"MAX({col})"
        else:
            mn, mx = (
                f"CAST(MIN({col}) AS DOUBLE)",
                f"CAST(MAX({col}) AS DOUBLE)",
            )
            mns, mxs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        est = f"""(
            WITH h AS (SELECT DISTINCT md5({key}) AS hx FROM {table}
                       WHERE {col} IS NOT NULL),
            r AS (SELECT CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT)
                             % 64 AS reg,
                         CAST(concat('0x', substr(hx, 3, 15)) AS BIGINT)
                             AS w
                  FROM h),
            m AS (SELECT reg,
                         MAX(CASE WHEN w = 0 THEN 61
                             ELSE 61 - len(bin(w)) END) AS rho
                  FROM r GROUP BY 1),
            s AS (SELECT SUM(CAST(1 AS HUGEINT) << (61 - rho))
                         + (64 - COUNT(*))
                             * (CAST(1 AS HUGEINT) << 61) AS s_all
                  FROM m)
            SELECT {sketch.HLL_EST_NUM!r} / CAST(s_all AS DOUBLE) FROM s
        )"""
        blocks.append(f"""    SELECT '{table}' AS table_name,
           '{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {key}) AS BIGINT) AS ndv_exact,
           {est} AS ndv_est,
           ({est} - CAST(COUNT(DISTINCT {key}) AS DOUBLE))
               / CAST(COUNT(DISTINCT {key}) AS DOUBLE) AS ndv_rel_err,
           {mn} AS min_num, {mx} AS max_num,
           {mns} AS min_str, {mxs} AS max_str
    FROM {table}""")
    return (
        "\n    UNION ALL\n".join(blocks)
        + "\n    ORDER BY table_name, column_name"
    )


EXT_ORACLE_SQL["warehouse_column_stats"] = _col_stats_oracle_sql()


# X200 benchmark canaries: the inverse aggregations of the X5 n-gram
# probe and the X192 exact semantic probe, per benchmark doc
EXT_ORACLE_SQL["dedup_benchmark_canaries"] = """
    WITH cg AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform({sh},
                   s -> CAST(concat('0x', substr(md5(s), 1,
                        7)) AS BIGINT)))) AS gram
        FROM (SELECT doc_id, {toks} AS t FROM documents)
    ),
    bg AS (SELECT doc_id AS bench_id, gram FROM cg WHERE doc_id < 25),
    ng AS (
        SELECT b.bench_id,
               CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_ngram_docs
        FROM cg c JOIN bg b ON c.gram = b.gram
        WHERE c.doc_id >= 25
        GROUP BY 1
    ),
    sd AS ({semhits}),
    sm AS (
        SELECT bench_id,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_semantic_docs
        FROM sd WHERE d2 <= 120000000 GROUP BY 1
    )
    SELECT d.doc_id AS bench_id,
           COALESCE(ng.n_ngram_docs, 0) AS n_ngram_docs,
           COALESCE(sm.n_semantic_docs, 0) AS n_semantic_docs,
           COALESCE(ng.n_ngram_docs, 0)
               + COALESCE(sm.n_semantic_docs, 0) > 0 AS compromised
    FROM documents d
    LEFT JOIN ng ON ng.bench_id = d.doc_id
    LEFT JOIN sm ON sm.bench_id = d.doc_id
    WHERE d.doc_id < 25
    ORDER BY d.doc_id
""".format(sh=_shingles(5), toks=_TOKS, semhits=_SEM_HITS.format(comp=_COMP))


# X201 cluster-size histogram: the registered component labeling as a
# CTE, cluster-grain then size-grain aggregates, exact integer
# removable mass per cluster before summation
EXT_ORACLE_SQL["dedup_cluster_size_histogram"] = '''
    WITH comp AS ({comp}),
    tok AS (
        SELECT doc_id, CAST(len({toks}) AS BIGINT) AS ntok
        FROM documents
    ),
    pc AS (
        SELECT component_id,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(ntok) AS BIGINT) AS cluster_tokens
        FROM comp JOIN tok ON tok.doc_id = comp.doc_id
        GROUP BY 1
    ),
    pr AS (
        SELECT *, CAST(cluster_tokens * (k - 1) // k AS BIGINT)
                   AS removable
        FROM pc
    )
    SELECT k AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(removable) AS BIGINT) AS removable_tokens
    FROM pr GROUP BY 1 ORDER BY 1
'''.format(comp=EXT_ORACLE_SQL["dedup_components"], toks=_TOKS)


# X202 Zipf octaves: identical integer bit-length binning
EXT_ORACLE_SQL["text_zipf_octaves"] = """
    WITH wf AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT lang, unnest({toks}) AS word FROM documents
        ) GROUP BY 1, 2
    ),
    per AS (
        SELECT lang, CAST(len(bin(freq)) - 1 AS INT) AS octave,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(freq) AS BIGINT) AS n_occurrences
        FROM wf GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(SUM(n_occurrences) AS BIGINT) AS lt
            FROM per GROUP BY 1)
    SELECT per.lang, octave, n_types, n_occurrences,
           CAST(n_occurrences AS DOUBLE) / CAST(lt AS DOUBLE)
               AS occurrence_share
    FROM per JOIN tot ON tot.lang = per.lang
    ORDER BY per.lang, octave
""".format(toks=_TOKS)


# X203 inter-arrival quantiles: identical lag/gap/rank arithmetic
EXT_ORACLE_SQL["events_interarrival_quantiles"] = """
    WITH e AS (
        SELECT user_id, event_type, event_id, epoch_ns(ts) AS ns
        FROM events
    ),
    g AS (
        SELECT event_type,
               ns - LAG(ns) OVER (PARTITION BY event_type, user_id
                                  ORDER BY ns, event_id) AS gap_ns
        FROM e
    ),
    gg AS (SELECT event_type, gap_ns FROM g WHERE gap_ns IS NOT NULL),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps
          FROM gg GROUP BY 1),
    dv AS (
        SELECT event_type, gap_ns,
               SUM(COUNT(*)) OVER (PARTITION BY event_type
                                   ORDER BY gap_ns) AS cum
        FROM gg GROUP BY 1, 2
    ),
    q(q_pct) AS (VALUES (50), (90), (99))
    SELECT n.event_type, CAST(q.q_pct AS INT) AS q_pct, n.n_gaps,
           CAST(MIN(dv.gap_ns) AS DOUBLE) / 1000000000.0 AS gap_seconds
    FROM n CROSS JOIN q
    JOIN dv ON dv.event_type = n.event_type
           AND 100 * dv.cum >= q.q_pct * n.n_gaps
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
"""


# X204 pHash distance histogram: the X104 pair oracle minus the
# threshold cut, aggregated into the cumulative histogram
_PHASH_ALL_PAIRS = EXT_ORACLE_SQL["mm_phash_near_dup"].replace(
    "SELECT asset_a, asset_b, hamming FROM ham WHERE hamming <= 3\n"
    "        ORDER BY asset_a, asset_b",
    "SELECT asset_a, asset_b, hamming FROM ham",
)
assert "WHERE hamming <= 3" not in _PHASH_ALL_PAIRS
EXT_ORACLE_SQL["mm_phash_distance_histogram"] = f'''
    WITH pairs AS ({_PHASH_ALL_PAIRS}),
    per AS (
        SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM per)
    SELECT hamming, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY hamming) AS BIGINT)
               AS cum_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY hamming) AS DOUBLE)
               / CAST(tot.t AS DOUBLE) AS cum_share
    FROM per CROSS JOIN tot
    ORDER BY hamming
'''


# X205 quality-by-length: the registered X9 score as a CTE, NTILE
# deciles, quantize-once exact mean
EXT_ORACLE_SQL["docs_quality_by_length"] = """
    WITH q AS ({quality}),
    d AS (
        SELECT doc_id, n_tokens, quality_score,
               CAST(ROUND(quality_score * 1000000.0, 0) AS BIGINT) AS qq,
               NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS decile
        FROM q
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(CASE WHEN quality_score < {floor} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_below_floor,
           CAST(SUM(qq) AS DOUBLE)
               / (1000000.0 * CAST(COUNT(*) AS DOUBLE)) AS mean_quality
    FROM d GROUP BY 1 ORDER BY 1
""".format(quality=EXT_ORACLE_SQL["text_quality_score"], floor=QUALITY_FLOOR)


# X206 Gini: identical rank formula, integer sums, one division
EXT_ORACLE_SQL["events_user_gini"] = """
    WITH pu AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY x, user_id) AS i
        FROM pu
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(x) AS BIGINT) AS n_events,
           CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE)
               / CAST(COUNT(*) * SUM(x) AS DOUBLE) AS gini
    FROM r GROUP BY 1 ORDER BY 1
"""


# X208 order→ship latency: identical day-gap / rank-quantile arithmetic
EXT_ORACLE_SQL["orders_ship_latency"] = """
    WITH gaps AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE)) AS BIGINT)
                   AS ship_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    n AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items
          FROM gaps GROUP BY 1),
    dv AS (
        SELECT o_orderpriority, ship_days,
               SUM(COUNT(*)) OVER (PARTITION BY o_orderpriority
                                   ORDER BY ship_days) AS cum
        FROM gaps GROUP BY 1, 2
    ),
    q(q_pct) AS (VALUES (50), (90), (99))
    SELECT n.o_orderpriority, CAST(q.q_pct AS INT) AS q_pct, n.n_items,
           CAST(MIN(dv.ship_days) AS BIGINT) AS ship_days
    FROM n CROSS JOIN q
    JOIN dv ON dv.o_orderpriority = n.o_orderpriority
           AND 100 * dv.cum >= q.q_pct * n.n_items
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
"""


# X209 hourly-volume ACF: identical integer hour binning, sufficient
# statistics, and one IEEE double combination per lag
EXT_ORACLE_SQL["events_hourly_acf"] = f"""
    WITH hourly AS (
        SELECT epoch_ns(ts) // 3600000000000 AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG_H})) AS lag),
    pairs AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM hourly a CROSS JOIN lags l
        JOIN hourly b ON b.h = a.h + l.lag
    ),
    stats AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT CAST(lag AS INT) AS lag, n_pairs,
           CAST(n_pairs * sxy - sx * sy AS DOUBLE)
               / NULLIF(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)),
                        0.0) AS acf
    FROM stats ORDER BY lag
"""


# X210 supplier Jaccard similarity: identical per-part candidate
# generation, integer common/degree counts, one division, same
# deterministic total order at the LIMIT boundary
EXT_ORACLE_SQL["graph_supplier_similarity"] = f"""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    deg AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS deg
            FROM ps GROUP BY 1),
    common AS (
        SELECT a.l_suppkey AS s_a, b.l_suppkey AS s_b,
               CAST(COUNT(*) AS BIGINT) AS common
        FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
                            AND a.l_suppkey < b.l_suppkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {SIM_MIN_COMMON}
    )
    SELECT s_a, s_b, common, da.deg AS deg_a, db.deg AS deg_b,
           CAST(common AS DOUBLE)
               / CAST(da.deg + db.deg - common AS DOUBLE) AS jaccard
    FROM common JOIN deg da ON da.l_suppkey = s_a
                JOIN deg db ON db.l_suppkey = s_b
    ORDER BY jaccard DESC, s_a, s_b
    LIMIT {SIM_TOPK}
"""


# X211 Bloom FPR: identical md5 hash family, bit-set build, and
# all-positions-set probe test; geometry constants interpolated
EXT_ORACLE_SQL["sketch_bloom_fpr"] = f"""
    WITH cust AS (
        SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS item FROM customer
    ),
    hi AS (SELECT unnest(generate_series(0, {sketch.BLOOM_K - 1})) AS hi),
    bits AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(item || ':'
                    || CAST(hi AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {sketch.BLOOM_M} AS pos
        FROM cust CROSS JOIN hi
    ),
    probes AS (
        SELECT 'p:' || CAST(i AS VARCHAR) AS item
        FROM (SELECT unnest(generate_series(1, {BLOOM_PROBES})) AS i)
    ),
    ppos AS (
        SELECT DISTINCT item,
               CAST(concat('0x', substr(md5(item || ':'
                    || CAST(hi AS VARCHAR)), 1, 15)) AS BIGINT)
                   % {sketch.BLOOM_M} AS pos
        FROM probes CROSS JOIN hi
    ),
    per AS (
        SELECT item,
               MIN(CASE WHEN bits.pos IS NULL THEN 0 ELSE 1 END)
                   AS all_set
        FROM ppos LEFT JOIN bits ON bits.pos = ppos.pos
        GROUP BY 1
    ),
    fp AS (SELECT CAST(SUM(all_set) AS BIGINT) AS n_false_positives
           FROM per),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bits_set FROM bits),
    nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM cust)
    SELECT n_keys, CAST({sketch.BLOOM_M} AS BIGINT) AS m_bits,
           CAST({sketch.BLOOM_K} AS INT) AS k_hashes, n_bits_set,
           CAST(n_bits_set AS DOUBLE) / {float(sketch.BLOOM_M)!r}
               AS fill_share,
           CAST({BLOOM_PROBES} AS BIGINT) AS n_probes,
           n_false_positives,
           CAST(n_false_positives AS DOUBLE) / {float(BLOOM_PROBES)!r}
               AS measured_fpr
    FROM nk CROSS JOIN nb CROSS JOIN fp
"""


# X212 distance octaves: identical KMV-rule sample, quantized int64
# distance arithmetic, bit-length octave binning
EXT_ORACLE_SQL["emb_distance_octaves"] = f"""
    WITH s AS (
        SELECT vec_id, embedding FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {DIST_SAMPLE_N}
    ),
    comp AS (
        SELECT vec_id, i,
               CAST(ROUND(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT) AS qx
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM s)
    ),
    d2 AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2q
        FROM comp a JOIN comp b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    per AS (
        SELECT CAST(len(bin(d2q)) - 1 AS INT) AS octave,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               MIN(d2q) AS mn, MAX(d2q) AS mx
        FROM d2 GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM per)
    SELECT octave, n_pairs,
           CAST(mn AS DOUBLE) / 100000000.0 AS min_d2,
           CAST(mx AS DOUBLE) / 100000000.0 AS max_d2,
           CAST(n_pairs AS DOUBLE) / CAST(t AS DOUBLE) AS pair_share
    FROM per CROSS JOIN tot ORDER BY octave
"""


# X213 nDCG@10: X166's per-query panel + the python-folded ppm
# discount table as a CASE lookup — no libm log in either engine
EXT_ORACLE_SQL["retrieval_eval_ndcg"] = f"""
    WITH per AS ({{kie}}),
    d AS (
        SELECT CASE self_rank
               {' '.join(f'WHEN {r} THEN {ppm}' for r, ppm in enumerate(NDCG_DISC_PPM, 1))}
               ELSE 0 END AS ndcg_ppm
        FROM per
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(ndcg_ppm) AS BIGINT) AS sum_ndcg_ppm,
           CAST(SUM(ndcg_ppm) AS DOUBLE) / 1000000.0
               / CAST(COUNT(*) AS DOUBLE) AS mean_ndcg_at_10
    FROM d
""".format(kie=EXT_ORACLE_SQL["retrieval_known_item_eval"])


# X214 Pettitt: identical doubled-average-rank integer arithmetic
EXT_ORACLE_SQL["events_pettitt_changepoint"] = """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT day,
               2 * RANK() OVER (ORDER BY c)
                   + COUNT(*) OVER (PARTITION BY c) - 1 AS r2,
               ROW_NUMBER() OVER (ORDER BY day) AS t,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    u AS (
        SELECT day,
               CAST(SUM(r2) OVER (ORDER BY day) - t * (n + 1) AS BIGINT)
                   AS u_stat,
               t, CAST(n AS BIGINT) AS n_days
        FROM r
    )
    SELECT n_days, day AS cp_day, u_stat,
           CAST(ABS(u_stat) AS BIGINT) AS k_stat
    FROM u WHERE t < n_days
    ORDER BY k_stat DESC, cp_day LIMIT 1
"""


# X215 storage profile: identical 4+strlen byte model (the asset
# synthesis contract), NTILE by the same deterministic order
EXT_ORACLE_SQL["mm_storage_profile"] = f"""
    WITH a AS (
        SELECT doc_id AS asset_id, {{kind}} AS kind,
               CAST(4 + strlen(text) AS BIGINT) AS n_bytes
        FROM documents
    ),
    d AS (
        SELECT kind,
               NTILE(10) OVER (PARTITION BY kind
                               ORDER BY n_bytes, asset_id) AS decile,
               n_bytes
        FROM a
    ),
    per AS (
        SELECT kind, CAST(decile AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(MIN(n_bytes) AS BIGINT) AS min_bytes,
               CAST(MAX(n_bytes) AS BIGINT) AS max_bytes,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        FROM d GROUP BY 1, 2
    ),
    tot AS (SELECT kind, CAST(SUM(total_bytes) AS BIGINT) AS kt
            FROM per GROUP BY 1)
    SELECT per.kind, decile, n_assets, min_bytes, max_bytes, total_bytes,
           CAST(total_bytes AS DOUBLE) / CAST(kt AS DOUBLE) AS byte_share
    FROM per JOIN tot ON tot.kind = per.kind
    ORDER BY per.kind, decile
""".format(kind=_MM_KIND)


# X219 Benford: identical cents quantization, string-head first digit,
# python-folded expected-ppm table (no libm log in either engine)
EXT_ORACLE_SQL["events_benford_audit"] = f"""
    WITH q AS (
        SELECT CAST(ROUND(CAST(value AS DOUBLE) * 100, 0) AS BIGINT) AS q
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    ),
    d AS (
        SELECT CAST(substr(CAST(q AS VARCHAR), 1, 1) AS INT) AS digit
        FROM q WHERE q > 0
    ),
    per AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_values
        FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_values) AS BIGINT) AS t FROM per),
    exp_t(digit, ppm) AS (VALUES {", ".join(f"({d}, {ppm})" for d, ppm in enumerate(BENFORD_PPM, 1))})
    SELECT per.digit, n_values,
           CAST(n_values AS DOUBLE) / CAST(t AS DOUBLE) AS observed_share,
           CAST(ppm AS DOUBLE) / 1000000.0 AS benford_share,
           CAST(n_values AS DOUBLE) / CAST(t AS DOUBLE)
               - CAST(ppm AS DOUBLE) / 1000000.0 AS deviation
    FROM per CROSS JOIN tot JOIN exp_t ON exp_t.digit = per.digit
    ORDER BY per.digit
"""


# X217 band-bucket load: the SAME signature + banding CTEs the five
# other MinHash oracles share, aggregated into the octave histogram
EXT_ORACLE_SQL["dedup_band_load_octaves"] = f"""
    WITH {_MINHASH_SIGS},
    banded AS (
        {_banded_sql('sigs')}
    ),
    bk AS (
        SELECT b, band_key, CAST(COUNT(*) AS BIGINT) AS sz
        FROM banded GROUP BY 1, 2
    )
    SELECT CAST(b AS INT) AS band,
           CAST(len(bin(sz)) - 1 AS INT) AS octave,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_candidate_pairs
    FROM bk GROUP BY 1, 2
    ORDER BY 1, 2
"""


# X218 degree octaves: identical distinct-edge degree counts, both
# bipartite sides, bit-length binning
EXT_ORACLE_SQL["graph_degree_octaves"] = """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    degs AS (
        SELECT 'supplier' AS side, CAST(COUNT(*) AS BIGINT) AS deg
        FROM ps GROUP BY l_suppkey
        UNION ALL
        SELECT 'part' AS side, CAST(COUNT(*) AS BIGINT) AS deg
        FROM ps GROUP BY l_partkey
    )
    SELECT side, CAST(len(bin(deg)) - 1 AS INT) AS octave,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg) AS BIGINT) AS total_degree
    FROM degs GROUP BY 1, 2
    ORDER BY 1, 2
"""


# X220 calibration matrix: both scorer CTEs verbatim, identical
# quantize-once / (score, doc_id) decile orders
EXT_ORACLE_SQL["quality_calibration_matrix"] = """
    WITH q AS ({quality}),
    lm AS ({lm}),
    b AS (
        SELECT q.doc_id,
               CAST(ROUND(quality_score * 1000000.0, 0) AS BIGINT) AS qq,
               lm.lm_score
        FROM q JOIN lm ON lm.doc_id = q.doc_id
    ),
    d AS (
        SELECT NTILE(10) OVER (ORDER BY qq, doc_id) AS q_decile,
               NTILE(10) OVER (ORDER BY lm_score, doc_id) AS lm_decile
        FROM b
    ),
    per AS (
        SELECT CAST(q_decile AS INT) AS q_decile,
               CAST(lm_decile AS INT) AS lm_decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM d GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM per)
    SELECT q_decile, lm_decile, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(t AS DOUBLE) AS share
    FROM per CROSS JOIN tot ORDER BY 1, 2
""".format(
    quality=EXT_ORACLE_SQL["text_quality_score"],
    lm=EXT_ORACLE_SQL["text_lm_score"],
)


# X221 funnel latency: the SAME strictly-after first-event chain as
# the events_funnel oracle, then exact ns gaps + rank quantiles
EXT_ORACLE_SQL["events_funnel_latency"] = """
    WITH b AS (SELECT user_id, event_type, ts AS t FROM events),
    s1 AS (
        SELECT user_id, MIN(t) AS t1 FROM b
        WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
        SELECT b.user_id, MIN(t) AS t2 FROM b JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND t > t1 GROUP BY 1
    ),
    s3 AS (
        SELECT b.user_id, MIN(t) AS t3 FROM b JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND t > t2 GROUP BY 1
    ),
    g AS (
        SELECT '1_view_to_click' AS transition,
               epoch_ns(t2) - epoch_ns(t1) AS gap_ns
        FROM s2 JOIN s1 USING (user_id)
        UNION ALL
        SELECT '2_click_to_purchase',
               epoch_ns(t3) - epoch_ns(t2)
        FROM s3 JOIN s2 USING (user_id)
    ),
    n AS (SELECT transition, CAST(COUNT(*) AS BIGINT) AS n_users
          FROM g GROUP BY 1),
    dv AS (
        SELECT transition, gap_ns,
               SUM(COUNT(*)) OVER (PARTITION BY transition
                                   ORDER BY gap_ns) AS cum
        FROM g GROUP BY 1, 2
    ),
    q(q_pct) AS (VALUES (50), (90), (99))
    SELECT n.transition, CAST(q.q_pct AS INT) AS q_pct, n.n_users,
           CAST(MIN(dv.gap_ns) AS DOUBLE) / 1000000000.0 AS gap_seconds
    FROM n CROSS JOIN q
    JOIN dv ON dv.transition = n.transition
           AND 100 * dv.cum >= q.q_pct * n.n_users
    GROUP BY 1, 2, 3
    ORDER BY 1, 2
"""


# X222 floor sweep: quantize-once scores, the SAME ppm ladder literal
EXT_ORACLE_SQL["docs_quality_floor_sweep"] = """
    WITH q AS ({quality}),
    s AS (
        SELECT CAST(ROUND(quality_score * 1000000.0, 0) AS BIGINT) AS qq,
               CAST(n_tokens AS BIGINT) AS nt
        FROM q
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(nt) AS BIGINT) AS tok FROM s),
    ladder(floor_ppm) AS (VALUES {ladder}),
    per AS (
        SELECT floor_ppm,
               CAST(SUM(CASE WHEN qq < floor_ppm THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rejected,
               CAST(SUM(CASE WHEN qq < floor_ppm THEN nt ELSE 0 END)
                    AS BIGINT) AS tokens_rejected
        FROM s CROSS JOIN ladder GROUP BY 1
    )
    SELECT CAST(floor_ppm AS BIGINT) AS floor_ppm, n_rejected,
           tokens_rejected,
           CAST(n_rejected AS DOUBLE) / CAST(n AS DOUBLE)
               AS doc_reject_share,
           CAST(tokens_rejected AS DOUBLE) / CAST(tok AS DOUBLE)
               AS token_reject_share
    FROM per CROSS JOIN tot ORDER BY floor_ppm
""".format(
    quality=EXT_ORACLE_SQL["text_quality_score"],
    ladder=", ".join(f"({p})" for p in FLOOR_SWEEP_PPM),
)


# X223 streaming as-of enrichment: static replay — the SAME quote
# synthesis as the X21 oracle, compiled to LEAD intervals, probed by
# containment over the streamed 10% order slice
EXT_ORACLE_SQL["streaming_asof_rates"] = """
    WITH quotes AS (
        SELECT p.o_orderpriority,
               CAST(DATE '1995-01-01' + mm.m * INTERVAL 1 MONTH
                    AS DATE) AS quote_date,
               1.0 + ((mm.m * 7 + strlen(p.o_orderpriority)) % 13)
                   / 100.0 AS rate
        FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
             (SELECT unnest(generate_series(0, 83)) AS m) mm
    ),
    iv AS (
        SELECT o_orderpriority, quote_date,
               LEAD(quote_date) OVER (PARTITION BY o_orderpriority
                                      ORDER BY quote_date) AS valid_to,
               rate
        FROM quotes
    )
    SELECT o.o_orderkey, o.o_orderpriority AS priority,
           iv.quote_date, iv.rate
    FROM orders o
    JOIN iv ON o.o_orderpriority = iv.o_orderpriority
           AND CAST(o.o_orderdate AS DATE) >= iv.quote_date
           AND (iv.valid_to IS NULL
                OR CAST(o.o_orderdate AS DATE) < iv.valid_to)
    WHERE o.o_orderkey % 10 = 0
    ORDER BY o.o_orderkey
"""


# X224 partition advisor: identical per-layout key aggregates
EXT_ORACLE_SQL["warehouse_partition_advisor"] = """
    WITH base AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        FROM events
    ),
    l1 AS (SELECT event_type AS pk FROM base),
    l2 AS (SELECT day AS pk FROM base),
    l3 AS (SELECT event_type || '|' || day AS pk FROM base),
    agg AS (
        SELECT '1_by_event_type' AS layout, pk,
               CAST(COUNT(*) AS BIGINT) AS n FROM l1 GROUP BY 2
        UNION ALL
        SELECT '2_by_day', pk, CAST(COUNT(*) AS BIGINT)
        FROM l2 GROUP BY 2
        UNION ALL
        SELECT '3_by_type_day', pk, CAST(COUNT(*) AS BIGINT)
        FROM l3 GROUP BY 2
    )
    SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MIN(n) AS BIGINT) AS min_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(MAX(n) * COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
               AS skew_ratio
    FROM agg GROUP BY 1 ORDER BY 1
"""


# X225 PQ distortion: the emb_pq_codes assignment CTEs, aggregated
# per subspace instead of per vector
EXT_ORACLE_SQL["emb_pq_distortion"] = f"""
    WITH stride AS (
        SELECT GREATEST(CAST(floor(sqrt(COUNT(*))) AS BIGINT), 1) AS s
        FROM embeddings
    ),
    comp AS ({_COMP}),
    dims AS (SELECT vec_id, len(embedding) AS d FROM embeddings),
    subs AS (
        SELECT c.vec_id,
               CAST((c.i - 1) // (d.d // 4) AS INT) AS sub,
               CAST((c.i - 1) % (d.d // 4) AS INT) AS pos,
               c.qx
        FROM comp c JOIN dims d USING (vec_id)
        WHERE (c.i - 1) // (d.d // 4) < 4
    ),
    cd AS (
        SELECT a.vec_id, a.sub, b.vec_id AS cell,
               CAST(SUM((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS d2
        FROM subs a
        JOIN subs b ON b.sub = a.sub AND b.pos = a.pos
        WHERE b.vec_id % (SELECT s FROM stride) = 0
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT vec_id, sub, cell, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                  ORDER BY d2, cell) AS rn
        FROM cd
    ),
    per AS (
        SELECT CAST(sub AS INT) AS subspace,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(SUM(d2) AS BIGINT) AS sum_d2q,
               CAST(MAX(d2) AS BIGINT) AS max_d2q
        FROM best WHERE rn = 1 GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(sum_d2q) AS BIGINT) AS t FROM per)
    SELECT subspace, n_vectors,
           CAST(sum_d2q AS DOUBLE) / 100000000.0
               / CAST(n_vectors AS DOUBLE) AS mean_distortion,
           CAST(max_d2q AS DOUBLE) / 100000000.0 AS max_distortion,
           CAST(sum_d2q AS DOUBLE) / CAST(t AS DOUBLE) AS distortion_share
    FROM per CROSS JOIN tot ORDER BY subspace
"""


# X226 split balance: the X80 assignment CTE + three-level shares
EXT_ORACLE_SQL["docs_split_balance"] = """
    WITH asg AS ({asg}),
    per AS (
        SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM asg GROUP BY 1, 2
    ),
    st AS (SELECT split, CAST(SUM(n_docs) AS BIGINT) AS s
           FROM per GROUP BY 1),
    lt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS l
           FROM per GROUP BY 1),
    g AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS gt FROM per)
    SELECT per.split, per.lang, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(s AS DOUBLE) AS split_share,
           CAST(l AS DOUBLE) / CAST(gt AS DOUBLE) AS corpus_share,
           CAST(n_docs AS DOUBLE) / CAST(s AS DOUBLE)
               - CAST(l AS DOUBLE) / CAST(gt AS DOUBLE) AS deviation
    FROM per JOIN st ON st.split = per.split
             JOIN lt ON lt.lang = per.lang
             CROSS JOIN g
    ORDER BY per.split, per.lang
""".format(asg=EXT_ORACLE_SQL["docs_split_assign"])


# X227 session profile: the SAME lag/island arithmetic as the X46
# sessionization oracle, in exact epoch-ns, octave-binned
EXT_ORACLE_SQL["events_session_profile"] = """
    WITH o AS (
        SELECT user_id, epoch_ns(ts) AS ns,
               CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                         OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
                            >= 28800000000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts))
    ),
    s AS (
        SELECT user_id, ns,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ns
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    ),
    sess AS (
        SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS n_events,
               MAX(ns) - MIN(ns) AS span_ns
        FROM s GROUP BY 1, 2
    )
    SELECT CAST(len(bin(n_events)) - 1 AS INT) AS octave,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events_total,
           CAST(MIN(span_ns) AS DOUBLE) / 1000000000.0 AS min_duration_s,
           CAST(MAX(span_ns) AS DOUBLE) / 1000000000.0 AS max_duration_s
    FROM sess GROUP BY 1 ORDER BY 1
"""


# X228 margin profile: the kie oracle's shared prefix (tokenize/tf/
# idf/per_q — sliced verbatim so the scoring can never drift), then
# rank-1/rank-2 margins
_KIE_PREFIX = EXT_ORACLE_SQL["retrieval_known_item_eval"].split(
    "    top AS ("
)[0]
assert _KIE_PREFIX.rstrip().endswith("),"), "kie oracle shape changed"
EXT_ORACLE_SQL["retrieval_margin_profile"] = _KIE_PREFIX + """ranked AS (
        SELECT query_id, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank
        FROM per_q
    )
    SELECT a.query_id, a.score AS top_score, b.score AS second_score,
           a.score - b.score AS margin,
           (a.doc_id = a.query_id) AS top_is_self
    FROM ranked a JOIN ranked b ON b.query_id = a.query_id
                              AND b.rank = 2
    WHERE a.rank = 1
    ORDER BY a.query_id
"""
