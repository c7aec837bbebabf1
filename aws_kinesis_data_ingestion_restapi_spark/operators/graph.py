"""Connected components over pair graphs (dedup clustering).

Near-dup operators (MinHash LSH, SimHash, n-gram Jaccard) emit PAIRS;
production dedup needs CLUSTERS — every document labeled with a
canonical component id so "keep one per cluster" is a groupBy away.
This is min-label propagation expressed in DataFrame ops: each node
repeatedly adopts the smallest label among itself and its neighbors
until fixpoint. The component id is therefore the smallest doc_id in
the component — deterministic, engine-independent, and exactly what a
DuckDB recursive CTE computes for the oracle.

Scale shape: each iteration is one equi-join (edges ⋈ labels, shuffled
on the node key) plus one aggregate — no driver-side graph, no
adjacency materialization beyond the edge list. Iteration count is
bounded by the component diameter; near-dup graphs are clique-like
(diameter 1-3), so the loop converges in 2-4 rounds. For adversarial
long-chain graphs the alternating large-star/small-star variant
(Kiveris et al., SoCC'14) converges in O(log n) rounds —
implemented below as :func:`connected_components_star` (identical
labels, property-tested) — while this loop is the simple form, with
``max_iter`` as the guard rail.
Lineage is truncated each round via :mod:`.ckpt` (localCheckpoint by
default, reliable ``df.checkpoint()`` when a checkpoint dir is
configured — the executor-loss-safe mode for real clusters) so the
plan does not grow with iterations (the standard iterative-DataFrame
trap).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import materialize, release

_LOG = logging.getLogger(__name__)

#: Convergence telemetry of the most recent :func:`connected_components`
#: run: ``rounds_used``, ``max_iter``, and ``relabeled`` (nodes
#: relabeled per round, ending with the 0 that proved fixpoint). Callers surface this so a corpus
#: whose diameter creeps toward ``max_iter`` is visible BEFORE a later
#: run raises mid-pipeline — check ``rounds_used`` against ``max_iter``
#: after clustering a new corpus shape.
LAST_CC_REPORT: dict = {}


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Label every node with its component's minimum node id.

    ``pairs``: two-column DataFrame of undirected edges (any names;
    taken positionally). ``nodes``: optional one-column universe —
    nodes with no edges become singleton components of themselves
    (pass the full doc_id set for dedup so every document gets a
    label). Returns (node, component).

    Min-label propagation needs ~graph-diameter rounds; if the loop
    exhausts ``max_iter`` before fixpoint the labels are PARTIAL, so
    that case raises rather than returning plausible-looking wrong
    components (near-dup graphs have tiny diameters — clusters of
    mutual near-copies — so 20 rounds is generous there; raise
    ``max_iter`` for long-chain graphs).
    """
    a, b = pairs.columns[:2]
    edges = pairs.select(
        F.col(a).alias("u"), F.col(b).alias("v")
    ).union(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
    edges = materialize(edges.distinct(), eager=True)

    universe = edges.select(F.col("u").alias("node"))
    if nodes is not None:
        universe = universe.union(
            nodes.select(F.col(nodes.columns[0]).alias("node"))
        )
    labels = materialize(
        universe.distinct().select("node", F.col("node").alias("component")),
        eager=True,
    )

    if max_iter < 1:
        # an empty loop would leave `changed` unbound and the raise
        # below would die with UnboundLocalError instead of the
        # convergence message
        raise ValueError(f"max_iter={max_iter} must be >= 1")

    relabeled: list[int] = []
    prev_ckpt: DataFrame = labels  # the initial checkpoint dies after round 1
    for rounds in range(1, max_iter + 1):
        nbr_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("_nbr"))
        )
        updated = (
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                "component",
                F.least(
                    F.col("component"), F.coalesce("_nbr", F.col("component"))
                ).alias("_new"),
            )
        )
        updated = materialize(updated, eager=True)
        # the new checkpoint fully replaces the previous round's —
        # release those blocks now, or a deep run pins up to max_iter
        # label-frame copies in executor storage until the (30-min)
        # periodic ContextCleaner catches up
        release(prev_ckpt)
        prev_ckpt = updated
        changed = updated.filter(F.col("_new") < F.col("component")).count()
        relabeled.append(changed)
        labels = updated.select("node", F.col("_new").alias("component"))
        if changed == 0:
            LAST_CC_REPORT.clear()
            LAST_CC_REPORT.update(
                {"rounds_used": rounds, "max_iter": max_iter,
                 "relabeled": relabeled}
            )
            _LOG.info(
                "connected_components converged in %d/%d rounds "
                "(relabeled per round: %s)", rounds, max_iter, relabeled
            )
            if rounds > max_iter - 3:
                _LOG.warning(
                    "connected_components used %d of max_iter=%d rounds — "
                    "this graph's diameter is near the guard rail; raise "
                    "max_iter before the corpus grows", rounds, max_iter
                )
            release(edges)
            return labels
    release(edges)
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        f"rounds (last round still relabeled {changed} nodes); labels would "
        "be partially propagated — raise max_iter for long-chain graphs"
    )


def _large_star(d: DataFrame) -> DataFrame:
    """One large-star round over a BIDIRECTIONAL edge frame (u, v):
    every node u connects its LARGER neighbors to min(Γ(u) ∪ {u}).
    Output edges are canonical (big, small) — v > u ≥ m always."""
    mins = d.groupBy("u").agg(F.min("v").alias("_mn"))
    mins = mins.select("u", F.least("_mn", F.col("u")).alias("m"))
    return (
        d.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("big"), F.col("m").alias("small"))
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round over CANONICAL (big, small) edges: every
    node u connects its smaller-or-equal neighborhood (and itself) to
    its minimum. Keeps the (big, small) canonical form."""
    mins = e.groupBy("big").agg(F.min("small").alias("m"))
    relink = (
        e.join(mins, "big")
        .filter(F.col("small") != F.col("m"))
        .select(F.col("small").alias("big"), F.col("m").alias("small"))
    )
    selfedge = mins.select(F.col("big"), F.col("m").alias("small"))
    return (
        relink.unionByName(selfedge)
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by the ALTERNATING-STAR algorithm
    (Kiveris et al., SoCC'14 "Connected Components in MapReduce and
    Beyond") — the O(log n)-round form for adversarial long-chain
    graphs, where :func:`connected_components`' min-label propagation
    needs diameter-many rounds (its docstring names this variant as
    the escape hatch; this is that escape hatch, delivered).

    Identical contract and output as :func:`connected_components`:
    (node, component) with component = the component's minimum node
    id, singletons included via ``nodes``. Each round is a
    large-star then a small-star — per round two groupBy-min
    aggregations and two equi-joins on node keys, lineage truncated
    via ckpt.materialize; convergence is an edge-set fixpoint (the
    canonical (big, small) form makes set equality meaningful), after
    which every surviving edge points directly at its component root.

    Scale shape: no driver-side graph, no adjacency beyond the edge
    list, and — unlike min-label — round count independent of
    diameter: a 200-edge path converges in ~6 rounds here vs 201
    there (pinned in tests/test_extensions.py). Telemetry lands in
    :data:`LAST_CC_REPORT` with ``algorithm: "star"``."""
    a, b = pairs.columns[:2]
    e = (
        pairs.select(
            F.greatest(F.col(a), F.col(b)).alias("big"),
            F.least(F.col(a), F.col(b)).alias("small"),
        )
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )
    e = materialize(e, eager=True)
    edge_counts: list[int] = [e.count()]
    for rounds in range(1, max_iter + 1):
        d = e.select(F.col("big").alias("u"), F.col("small").alias("v")).union(
            e.select(F.col("small").alias("u"), F.col("big").alias("v"))
        )
        nxt = materialize(_small_star(_large_star(d)), eager=True)
        # both frames are distinct sets, so equal cardinality plus
        # one-direction emptiness proves set equality — one exceptAll
        # probe per round, not two (the count doubles as telemetry)
        n_nxt = nxt.count()
        changed = (
            1
            if n_nxt != edge_counts[-1]
            else nxt.exceptAll(e).limit(1).count()
        )
        edge_counts.append(n_nxt)
        release(e)  # the replaced round's edge set
        e = nxt
        if changed == 0:
            LAST_CC_REPORT.clear()
            # edges_per_round carries exactly one entry per round (the
            # same shape contract as min-label's "relabeled"); the
            # pre-round-1 canonical edge count gets its own key
            LAST_CC_REPORT.update(
                {"rounds_used": rounds, "max_iter": max_iter,
                 "initial_edges": edge_counts[0],
                 "edges_per_round": edge_counts[1:], "algorithm": "star"}
            )
            _LOG.info(
                "connected_components_star converged in %d/%d rounds",
                rounds, max_iter,
            )
            # stars: every edge is node→root; roots and singletons map
            # to themselves
            labels = e.select(
                F.col("big").alias("node"), F.col("small").alias("component")
            )
            universe = pairs.select(F.col(a).alias("node")).union(
                pairs.select(F.col(b).alias("node"))
            )
            if nodes is not None:
                universe = universe.union(
                    nodes.select(F.col(nodes.columns[0]).alias("node"))
                )
            selfroots = universe.distinct().join(
                labels.select("node"), "node", "left_anti"
            ).select("node", F.col("node").alias("component"))
            return labels.unionByName(selfroots)
    raise RuntimeError(
        f"connected_components_star did not converge within "
        f"max_iter={max_iter} rounds — the alternating-star fixpoint "
        "should need O(log n) rounds; this indicates a pathological "
        "input (inspect the edge frame) rather than a tuning problem"
    )


# Fixed-point scale for exact pagerank arithmetic. Overflow bound: the
# per-node aggregate is damping_pct * Σ contributions ≤ 85 × in_deg ×
# ONE (worst case: every in-neighbor has out-degree 1), so int64 holds
# hubs up to ~10^7 in-degree at this scale — beyond that, drop ONE a
# decimal digit per 10× hub size. 10 significant digits is ample rank
# resolution.
ONE = 10**10


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = ONE,
) -> DataFrame:
    """PageRank with EXACT fixed-point integer arithmetic — every rank
    is an int64 scaled by ``scale``, every per-edge contribution is an
    integer division by out-degree, and the damping mix is integer
    percent math. Floating-point PageRank diverges across engines and
    partitionings in the low bits; this form is bit-identical anywhere
    (same reason functions/exact.py routes money through decimal), so
    a DuckDB oracle can replay the same ``iterations`` rounds and
    value-hash the result.

    ``edges``: (src, dst) directed edge list, taken positionally.
    Every node must have at least one out-edge (callers with dangling
    nodes should add reverse edges or self-loops first — the bipartite
    wrapper in registry_ext does the former, which also makes the walk
    undirected). Nodes with zero IN-edges need no special handling:
    each round rebuilds the rank vector over the full node universe
    with the aggregated in-flow coalesced to zero, so an in-degree-0
    node retains the base rank and keeps contributing to its
    out-neighbors every round (round-4 ADVICE: the earlier form
    reassigned ranks to the per-dst aggregate, silently dropping such
    nodes after round 1).

    Scale shape: each round is one equi-join (ranks ⋈ edges on src)
    plus one aggregate (sum by dst) — both hash shuffles on node keys
    that AQE co-partitions; no driver-side graph, no adjacency matrix.
    Fixed iteration count (rank quality, not convergence detection, is
    the contract — the standard production choice; at 100 TB each
    round is a bounded pair of shuffles). Per-round lineage
    truncation is unnecessary at 3 rounds; callers iterating deeper
    should truncate lineage as connected_components does."""
    s, d = edges.columns[0], edges.columns[1]
    # Materialize the edge list once: every iteration joins it, and an
    # upstream edge DERIVATION (e.g. the orders⋈lineitem bipartite
    # build) would otherwise re-execute per iteration per use — the
    # iterative-DataFrame lineage trap connected_components documents.
    # ckpt.materialize truncates the plan to the materialized frame.
    e = materialize(
        edges.select(F.col(s).alias("src"), F.col(d).alias("dst")),
        eager=False,
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # Full node universe: sources ∪ sinks. Rebuilding the rank vector
    # over this set each round keeps in-degree-0 nodes alive (base
    # rank, still contributing) and sink nodes present in the output.
    universe = (
        deg.select("src")
        .union(e.select(F.col("dst").alias("src")))
        .distinct()
    )
    universe = materialize(universe, eager=False)
    ranks = universe.select("src", F.lit(scale).cast("long").alias("rank"))
    base = ((100 - damping_pct) * scale) // 100
    for _ in range(iterations):
        in_flow = (
            e.join(ranks, "src")
            .join(deg, "src")
            .select("dst", F.expr("rank DIV out_deg").alias("contrib"))
            .groupBy(F.col("dst").alias("src"))
            .agg(F.sum("contrib").alias("_in"))
        )
        ranks = universe.join(in_flow, "src", "left").select(
            "src",
            (
                F.lit(base).cast("long")
                + F.expr(f"{damping_pct} * coalesce(_in, 0L) DIV 100")
            ).alias("rank"),
        )
    return ranks.select(F.col("src").alias("node"), "rank")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count by DEGREE ORIENTATION — the O(m^1.5)
    distributed algorithm (Suri & Vassilvitskii, WWW'11 "MapReduce
    triangle counting"; the arboricity bound is Chiba-Nishizeki):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher one, count wedges only at each edge's SOURCE, and
    close them against the oriented edge set. Each triangle
    x ≺ y ≺ z is counted exactly once (as the wedge x→y, x→z closed
    by y→z), and no node generates more than O(√m) wedges — the
    skew-killer that naive wedge counting at high-degree hubs lacks.

    ``edges``: two-column undirected edge list (any names, taken
    positionally; self-loops and duplicates removed here). Returns a
    1-row frame (n_nodes, n_edges, n_triangles) — exact integers.

    Scale shape: degree join, one wedge self-join on the oriented
    source (bounded per node by the orientation), one closing
    equi-join on (x, y) — all hash shuffles on node keys; no
    adjacency materialization, no driver-side graph."""
    a, b = edges.columns[:2]
    e0 = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e0.select(F.col("u").alias("n"))
        .union(e0.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        e0.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    directed = withdeg.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(ku < kv, kv).otherwise(ku).alias("dstk"),
    )
    w1 = directed.select("src", F.col("dst").alias("x"), F.col("dstk").alias("xk"))
    w2 = directed.select("src", F.col("dst").alias("y"), F.col("dstk").alias("yk"))
    wedges = w1.join(w2, "src").filter(F.col("xk") < F.col("yk")).select("x", "y")
    closing = directed.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = e0.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nn.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 8,
    rounds: int = 8,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Bounded-round k-core peeling — the degeneracy-based community /
    spam filter web-graph curation pipelines run (Seidman 1983 k-core;
    the standard distributed rendition peels iteratively: drop every
    node with degree < k, recompute, repeat). The contract is a FIXED
    number of peel rounds in BOTH engines, so results are equal by
    construction whether or not the peel has converged — the same
    bounded-iteration honesty as the PageRank/k-means entries (a
    convergence assertion on the registered fixture lives in pytest,
    so there the output IS the true k-core).

    Input: an undirected edge list (deduped here to u < v canonical
    form). Output: one row per surviving node, (node, degree) with
    the degree measured in the SURVIVING subgraph, ordered by node.

    Scale shape: each round is one degree aggregate (map-side partial
    count on short keys) + two semi-joins of the edge list against
    the ≥k survivor set — all equi-joins on node ids, no all-pairs
    anywhere; lineage is truncated per round via ckpt.materialize so
    plan depth stays O(1) in rounds, the CC/k-means pattern."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
        RoundDriver,
        materialize,
    )

    e = (
        edges.select(
            F.least(F.col(u_col), F.col(v_col)).alias("u"),
            F.greatest(F.col(u_col), F.col(v_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # r12 optimization (guide §1.2 "don't compute things you throw
    # away"): peeling only REMOVES edges, so an unchanged edge COUNT
    # after a round proves the edge SET is a fixpoint and every
    # remaining round is the identity — the early exit returns
    # bit-identical rows to running all ``rounds`` (the oracle still
    # replays the full unrolled ladder; equal by the fixpoint
    # argument). That convergence read needs per-round rows, so the
    # loop runs the RoundDriver at batch=1 (each count is one
    # metadata-sized job on the freshly truncated frame); measured at
    # sf0.1 the purchase graph converges after round 1, so 6 of the 8
    # rounds' aggregate + dual semi-join work disappears.
    drv = RoundDriver(batch=1)
    e = drv.adopt(materialize(e, eager=True))
    prev_n = e.count()
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionByName(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("n")
        e = drv.step(
            e.join(keep.select(F.col("n").alias("u")), "u", "left_semi")
            .join(keep.select(F.col("n").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
        n = e.count()
        if n == prev_n:
            break
        prev_n = n
    e = drv.finish(e)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.select(
        F.col("n").alias("node"), F.col("d").cast("long").alias("degree")
    ).orderBy("node")


LPA_ROUNDS = 4  # bounded synchronous rounds (replayed by the oracle)


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """X135: community detection by SYNCHRONOUS label propagation
    (Raghavan et al. 2007) with a deterministic tie-break — the
    near-linear community pass web-graph curation runs between the
    connectivity extremes the family already covers (X35 CC = "any
    path connects", X106 k-core = "densely embedded"; LPA finds the
    in-between: groups denser inside than across).

    Determinism (the CC/PageRank/k-core bounded-round contract):
    every node starts as its own label; each round every node adopts
    the label with the highest neighbor multiplicity, ties broken by
    SMALLEST label — an exact integer argmax both engines replay
    identically, computed as max(struct(count, −label)) so the
    aggregate keeps a map-side partial (never a per-node sort).
    Synchronous updates + a fixed round count ⇒ no dependence on
    visit order (the asynchronous variant's nondeterminism is
    exactly what this rendition removes). A fixed small round count
    is also the production shape: LPA label quality plateaus within
    a few rounds and unbounded iteration oscillates on bipartite
    structure.

    Scale shape per round: one hash join of the d-directed edge list
    to the label frame on the source node + one (node, label)
    aggregate with map-side combine + the argmax aggregate — two
    keyed shuffles, lineage truncated per round via ckpt.materialize.
    Output: (node, community) for every node with an edge."""
    from aws_kinesis_data_ingestion_restapi_spark.operators.ckpt import (
        RoundDriver,
    )

    ed = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = ed.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    # fixed-round synchronous loop -> batched truncation (r10 ask #7)
    drv = RoundDriver()
    for _ in range(rounds):
        counts = (
            ed.join(labels, ed.u == labels.node)
            .groupBy(F.col("v").alias("n2"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        nxt = (
            counts.groupBy(F.col("n2").alias("node"))
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("lbl")).alias("neg"))
                ).alias("m")
            )
            .select("node", (-F.col("m.neg")).alias("lbl"))
        )
        labels = drv.step(nxt)
    labels = drv.finish(labels)
    return labels.select(
        "node", F.col("lbl").alias("community")
    ).orderBy("node")


def incremental_components(
    base_labels: DataFrame,
    delta_pairs: DataFrame,
    new_nodes: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """X141: incremental connected-components maintenance — update an
    existing (node, component) labeling with NEW edges without
    re-running CC over the full pair graph, the closure-side
    companion of the X90/X115 incremental pair finders (they find the
    delta's pairs cheaply; this applies them to the cluster state
    cheaply).

    Only components TOUCHED by a delta endpoint (plus brand-new
    nodes from ``new_nodes``/the delta edges) recompute: a min-label
    component labeling IS a star edge set (node → component), so the
    union of the affected components' stars with the delta edges is
    a tiny subgraph whose CC yields the updated labels; every
    untouched component passes through byte-identical. Exactness:
    output ≡ connected_components(base edges ∪ delta edges) — the
    registry query's oracle literally reuses the full-recompute
    closure SQL, making the equivalence a value-hashed proof. The
    inner closure runs :func:`connected_components_star` (r10
    ADVICE): the base stars have diameter ≤ 2, but DELTA edges
    chaining k distinct components build a path of diameter O(k), and
    min-label propagation would need ~k rounds — the alternating-star
    form converges in O(log n) rounds regardless of chain length.

    At 100 TB this is the difference between re-clustering the
    corpus nightly and touching |affected components| ≪ |corpus|:
    the only full-width work is one hash join of the label table
    against the delta endpoints."""
    a, b = delta_pairs.columns[:2]
    dp = delta_pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    dnodes = (
        dp.select(F.col("u").alias("node"))
        .union(dp.select(F.col("v").alias("node")))
    )
    if new_nodes is not None:
        dnodes = dnodes.union(
            new_nodes.select(F.col(new_nodes.columns[0]).alias("node"))
        )
    dnodes = dnodes.distinct()
    touched = (
        base_labels.join(dnodes, "node").select("component").distinct()
    )
    affected = base_labels.join(touched, "component").select(
        "node", "component"
    )
    star = affected.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("u"), F.col("component").alias("v")
    )
    sub_nodes = affected.select("node").union(dnodes).distinct()
    relabeled = connected_components_star(
        star.union(dp), nodes=sub_nodes, max_iter=max_iter
    )
    untouched = base_labels.join(touched, "component", "left_anti")
    return untouched.select("node", "component").unionByName(
        relabeled.select("node", "component")
    )
