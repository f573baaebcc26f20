"""Graph analytics over edge DataFrames.

Parity: terminus-server exposes graph traversals through WOQL path
queries; analytical whole-graph algorithms (components, centrality)
are the Spark-side extension (SURVEY §2.2).  GraphX is JVM-only and
GraphFrames isn't a baked-in dependency, so these are pure DataFrame
implementations — which is also the honest scale story: each
iteration is a shuffle-on-key join that AQE can re-plan, and state is
localCheckpoint-ed so lineage stays bounded.

Edges: DataFrame (src: string|long, dst: same type).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from terminus_server_spark.checkpoint import (
    loop_checkpoint,
    loop_checkpoint_count,
    loop_checkpoint_sum,
    loop_tuning,
    plan_checkpoint,
)

from terminus_server_spark.operators.path import no_constraint_propagation
from terminus_server_spark.session import local_frame


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view of a directed edge frame: both orientations,
    NULL endpoints and self-loops dropped, distinct — the shared
    preamble of every undirected-graph operator here."""
    return (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, out_degree, in_degree, degree) — two partial aggs and a
    full-outer merge; no driver collection."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def connected_components(
    edges: DataFrame, max_iters: int = 50, assume_symmetric: bool = False
) -> DataFrame:
    """(node, component) with component = min node id reachable over
    undirected edges.  Min-label propagation with pointer jumping:
    each round propagates labels over graph edges AND shortcuts
    through the label mapping itself (component := label(label(node))),
    so label trees halve in depth every round — fixpoint in
    O(log diameter) shuffle rounds instead of O(diameter), the same
    trick as the two-phase large-star/small-star CC algorithms.

    ``assume_symmetric``: the caller already symmetrized+deduped the
    frame (``_symmetrize``) — skip the redundant union/distinct pass
    (one full exchange over the edge set)."""
    with no_constraint_propagation(edges.sparkSession):
        und = (
            edges.select("src", "dst").transform(loop_checkpoint)
            if assume_symmetric
            else (
                edges.select("src", "dst")
                .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
                .distinct()
                .transform(loop_checkpoint)
            )
        )
        labels, n_lab = loop_checkpoint_count(
            und.select(F.col("src").alias("node"))
            .union(und.select(F.col("dst").alias("node")))
            .distinct()
            .withColumn("component", F.col("node"))
        )
        with loop_tuning(edges.sparkSession, n_lab):
            labels = _cc_loop(und, labels, max_iters)
    return labels


def _cc_loop(und: DataFrame, labels: DataFrame, max_iters: int) -> DataFrame:
    for _ in range(max_iters):
        # candidate labels arriving over edges
        prop = (
            und.join(labels, und["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "component")
        )
        propagated = (
            labels.select("node", "component")
            .union(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: follow the label chain one hop
        # (component := component's component), halving chain depth
        new_labels = (
            propagated.alias("l1")
            .join(
                propagated.select(
                    F.col("node").alias("c_node"), F.col("component").alias("c_comp")
                ).alias("l2"),
                F.col("l1.component") == F.col("c_node"),
                "left_outer",
            )
            .select(
                F.col("l1.node").alias("node"),
                F.least(
                    F.col("l1.component"), F.coalesce(F.col("c_comp"), F.col("l1.component"))
                ).alias("component"),
            )
            # fixpoint flag computed inside the same plan so the
            # checkpoint job doubles as the changed-count probe
            .join(
                labels.select("node", F.col("component").alias("_old")), "node"
            )
            .select(
                "node",
                "component",
                (F.col("component") != F.col("_old")).cast("int").alias("_chg"),
            )
        )
        new_labels, n_changed = loop_checkpoint_sum(new_labels, "_chg")
        labels = new_labels.drop("_chg")
        if n_changed == 0:
            break
    return labels


def connected_components_incremental(
    labels: DataFrame, delta_edges: DataFrame, max_iters: int = 50
) -> DataFrame:
    """(node, component): fold a DELTA edge batch into existing
    component labels WITHOUT re-running CC on the full graph — the
    incremental form a versioned store runs per commit: the delta
    edges' label PAIRS form a tiny meta-graph whose components
    contract the old labels.  Because a label is the min node id of
    its class, the contracted class's min is the global min of the
    merged node set — the result is EXACTLY what full CC on
    base+delta would produce, at a cost that scales with the delta
    (|delta| label lookups + label propagation over a graph with at
    most |delta| edges), not the 100 TB base graph.

    ``labels``: (node, component) from a previous run; ``delta_edges``
    must connect existing nodes (new nodes enter as singleton labels
    before the call)."""
    pairs = (
        delta_edges.select("src", "dst")
        .join(
            labels.select(F.col("node").alias("src"), F.col("component").alias("_ca")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("component").alias("_cb")),
            "dst",
        )
        .where(F.col("_ca") != F.col("_cb"))
        .select(F.col("_ca").alias("src"), F.col("_cb").alias("dst"))
        .distinct()
    )
    # The label-pair meta-graph is delta-bounded — label it through
    # the adaptive cc_metadata path (driver union-find under the
    # 100k-edge guard, distributed loop fallback above it).
    mapping = cc_metadata(pairs, max_iters=max_iters).select(
        F.col("node").alias("component"), F.col("component").alias("_super")
    )
    # the mapping is bounded by the delta's label pairs — broadcast it
    # EXPLICITLY: the checkpointed loop output carries no size stats,
    # so the planner would otherwise sort-merge, shuffling the full
    # stored label table per commit (AQE can only downgrade that to a
    # local-read after the store's shuffle files are already written)
    return labels.join(F.broadcast(mapping), "component", "left_outer").select(
        "node", F.coalesce("_super", "component").alias("component")
    )


def connected_components_decremental(
    labels: DataFrame,
    base_edges: DataFrame,
    delete_edges: DataFrame,
    max_iters: int = 50,
    canonical_base: bool = False,
) -> DataFrame:
    """(node, component): component labels AFTER a delete-only commit
    delta — the reverse of ``connected_components_incremental``, and
    the direction where merging tricks don't apply: a deletion can
    SPLIT a component, and a split can only happen inside a component
    that actually lost an edge.  So the update recomputes CC only on
    the DIRTY components (those owning a really-deleted edge) over
    the post-delete edge set, and every other component's labels pass
    through verbatim:

    1. really-deleted = delete ∩ base (canonical pairs; deleting an
       absent edge is a no-op) — a map-side broadcast semi join;
       with ``canonical_base=True`` (the caller guarantees the base
       is already canonical a<b and duplicate-free, e.g. the
       streaming edge store) the base is never shuffled at all —
       otherwise one canonicalizing ``distinct()`` pass over the
       base runs first; when it is empty the labels pass through
       unchanged after that one job;
    2. dirty = the deleted endpoints' component ids (delta-sized);
    3. the affected subgraph = post-delete edges with an endpoint in
       a dirty component (base edges never cross components, so one
       endpoint's membership implies both);
    4. batch CC on that subgraph + singleton labels for affected
       nodes that lost their last edge;
    5. untouched ∪ recomputed ∪ singletons — exactly batch CC of
       base∖delete, because labels are component MINIMA and minima
       are local to components.

    Cost rides the dirty components' size, never the corpus: at
    100 TB a commit deleting edges in k components re-runs CC on
    those k components only."""

    def und(e):
        return (
            e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    if canonical_base:
        # caller guarantees the base is already canonical (a<b) and
        # duplicate-free — skips the full-base distinct() exchange,
        # the only base-sized shuffle in the steady streaming path
        eb = base_edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
    else:
        eb = und(base_edges)
    dels = und(delete_edges)
    real = eb.join(F.broadcast(dels), ["a", "b"], "left_semi")
    real, n_real = loop_checkpoint_count(real)
    if n_real == 0:
        # no delete hits a stored edge: nothing can split
        return labels
    e_new = eb.join(F.broadcast(dels), ["a", "b"], "left_anti")
    # deleted-endpoint → component lookup: broadcast the (delta-sized)
    # endpoint set so the stored label table is probed MAP-SIDE — the
    # plain join shuffled the whole store per commit (the endpoint set
    # is a checkpoint leaf with no stats, so the planner can't see
    # it's small)
    _del_nodes = (
        real.select(F.col("a").alias("node"))
        .union(real.select(F.col("b")))
        .distinct()
    )
    dirty = (
        labels.join(F.broadcast(_del_nodes), "node", "left_semi")
        .select("component")
        .distinct()
    )
    dirty = loop_checkpoint(dirty)
    lab_aff = labels.join(F.broadcast(dirty), "component", "left_semi")
    untouched = labels.join(F.broadcast(dirty), "component", "left_anti")
    aff_nodes = loop_checkpoint(lab_aff.select("node"))
    sub = e_new.join(
        aff_nodes.select(F.col("node").alias("a")), "a", "left_semi"
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    # Dirty-component internal edges are delta-bounded in the common
    # case — adaptive driver/distributed labeling, see cc_metadata.
    recomputed = cc_metadata(sub, max_iters=max_iters)
    singles = aff_nodes.join(
        recomputed.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return untouched.unionByName(recomputed).unionByName(singles)


def cc_metadata(
    edges: DataFrame,
    limit: int | None = None,
    max_iters: int = 50,
) -> DataFrame:
    """(node, component): UNDIRECTED connected components of a graph
    expected to be delta/metadata-sized — the cc analogue of
    ``scc_metadata`` and the label engine for the incremental
    maintainers' meta-graphs (a commit delta's label pairs, a dirty
    component's internal edges).  Under ``limit`` distinct edge rows
    the graph is collected and labeled with driver-side union-find
    (each round of the distributed loop costs more in plan analysis
    and job scheduling than the whole walk); above it, the
    distributed ``connected_components`` loop is the fallback, so a
    pathological delta still converges at scale.  Labels are the
    component-minimum node id — identical to the distributed
    operator bit-for-bit (component membership is
    algorithm-independent; Python's string ordering agrees with
    Spark's binary UTF-8 ordering, both codepoint-monotone)."""
    if limit is None:
        limit = _METADATA_SCC_LIMIT
    base = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    rows = base.limit(limit + 1).collect()
    if len(rows) > limit:
        return connected_components(base, max_iters)

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        for n in (r.src, r.dst):
            if n not in parent:
                parent[n] = n
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        m = comp_min.get(root)
        if m is None or n < m:
            comp_min[root] = n
    src_type = base.schema["src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", src_type, True),
            T.StructField("component", src_type, True),
        ]
    )
    return local_frame(
        edges.sparkSession, [(n, comp_min[find(n)]) for n in parent], out_schema
    )


def _edge_nodes(edges):
    """Distinct node set of an edge frame, checkpointed with its
    count fused into the materializing job."""
    return loop_checkpoint_count(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def _power_iterations(base, links, ranks, iters, damping, restart_term, share_ci):
    """The pagerank family's shared fixed-point power loop: per round
    one links⋈ranks join emitting floor-scaled integer contributions
    (``share_ci``), one decimal(38,0) sum (exact, order-free — a hot
    node's in-degree × 1e15 exceeds bigint range long before real
    graph scale), one left join back onto ``base`` applying
    ``restart_term`` + damping·contrib.  Rounds checkpoint LAZILY so
    a fixed iteration count chains into one job cascade; the CALLER
    eagerly materializes the result inside its loop_tuning context so
    the clamp + AQE-off actually govern execution."""
    for _ in range(iters):
        contribs = (
            links.join(ranks, links["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), share_ci.alias("ci"))
            .groupBy("node")
            .agg(
                (
                    F.sum(F.col("ci").cast("decimal(38,0)")).cast("double") / F.lit(1e15)
                ).alias("contrib")
            )
        )
        ranks = (
            base.join(contribs, "node", "left_outer")
            .select(
                "node",
                (
                    restart_term
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
            .transform(plan_checkpoint)
        )
    return ranks


def _uniform_share():
    """The unweighted per-edge contribution: rank / out_degree,
    floor-scaled onto the 1e-15 fixed-point grid."""
    return F.floor((F.col("rank") / F.col("out_degree")) * F.lit(1e15))


def pagerank(
    edges: DataFrame, damping: float = 0.85, iters: int = 10
) -> DataFrame:
    """(node, rank) after fixed iterations of the classic power
    method as repeated join-agg (dangling nodes simply emit no
    contribution, mirroring the oracle's left join + coalesce).

    Contributions are summed on a fixed-point 1e-15 grid: per-row
    rank/out_degree stays an IEEE-exact double division, floor(x *
    1e15) is a deterministic integer (double→decimal casts round
    differently across engines; floor does not), the sum runs in
    decimal(38,0), and the one division back stays under 2^53 so it
    is again exact.  Result: bit-identical ranks regardless of
    partitioning AND reproducible by a sequential SQL engine (DuckDB
    widens to HUGEINT on the same sums), which upgrades PageRank from
    a rows-only check to an exact value-hash oracle.  Loop body:
    :func:`_power_iterations` (shared with the weighted, warm-start,
    and personalized variants)."""
    with no_constraint_propagation(edges.sparkSession):
        nodes, n_nodes = _edge_nodes(edges)
        if n_nodes == 0:  # empty graph: empty typed rank table
            return nodes.withColumn("rank", F.lit(0.0))
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        links = edges.join(out_deg, "src").transform(loop_checkpoint)
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            ranks = loop_checkpoint(
                _power_iterations(
                    nodes, links, ranks, iters, damping,
                    F.lit((1.0 - damping) / n_nodes), _uniform_share(),
                )
            )
    return ranks


def pagerank_weighted(
    edges: DataFrame, damping: float = 0.85, iters: int = 4
) -> DataFrame:
    """(node, rank): PageRank over WEIGHTED edges — each neighbor
    receives rank · w / W_out(src) instead of rank / out_degree (the
    natural form when edges carry interaction counts or affinities).
    Same exact-arithmetic discipline as :func:`pagerank` (the shared
    :func:`_power_iterations` loop with a weighted share column).
    ``edges``: (src, dst, w) with positive integer-valued weights."""
    with no_constraint_propagation(edges.sparkSession):
        nodes, n_nodes = _edge_nodes(edges)
        if n_nodes == 0:  # empty graph: empty typed rank table
            return nodes.withColumn("rank", F.lit(0.0))
        wout = edges.groupBy("src").agg(F.sum("w").alias("w_out"))
        links = edges.join(wout, "src").transform(loop_checkpoint)
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        share = F.floor(
            (F.col("rank") * F.col("w").cast("double") / F.col("w_out").cast("double"))
            * F.lit(1e15)
        )
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            ranks = loop_checkpoint(
                _power_iterations(
                    nodes, links, ranks, iters, damping,
                    F.lit((1.0 - damping) / n_nodes), share,
                )
            )
    return ranks


def pagerank_warm(
    edges: DataFrame,
    init_ranks: DataFrame,
    damping: float = 0.85,
    iters: int = 2,
) -> DataFrame:
    """(node, rank): power iterations WARM-STARTED from carried ranks
    — the incremental-analytics pattern for a versioned store: after
    a delta layer adds/removes edges, restart the power method from
    the previous commit's converged ranks and run a FEW iterations
    instead of a cold full run (the same "recompute only what moved"
    philosophy as the IVM rollup verbs; Langville & Meyer's warm
    restart analysis).  ``init_ranks`` (node, rank) must cover every
    node of the updated graph — for pure edge deltas (no new nodes)
    the previous result does.  Identical arithmetic to
    :func:`pagerank` (shared :func:`_power_iterations` loop), so warm
    rounds are bit-reproducible and the oracle replays cold+warm
    exactly."""
    with no_constraint_propagation(edges.sparkSession):
        nodes, n_nodes = _edge_nodes(edges)
        if n_nodes == 0:  # empty graph: empty typed rank table
            return nodes.withColumn("rank", F.lit(0.0))
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        links = edges.join(out_deg, "src").transform(loop_checkpoint)
        ranks = nodes.join(init_ranks, "node").transform(loop_checkpoint)
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            ranks = loop_checkpoint(
                _power_iterations(
                    nodes, links, ranks, iters, damping,
                    F.lit((1.0 - damping) / n_nodes), _uniform_share(),
                )
            )
    return ranks


def personalized_pagerank(
    edges: DataFrame, sources: DataFrame, damping: float = 0.85, iters: int = 4
) -> DataFrame:
    """(node, rank): PageRank with restart mass confined to a source
    set — the recommendation / relevance-propagation primitive
    (Jeh & Widom 2003's personalized variant of the power method).
    ``sources``: (node) frame; restart vector is uniform 1/|S| over it.

    Same exact-arithmetic treatment as ``pagerank`` (shared
    :func:`_power_iterations` loop; the restart term reads the
    per-node restart column instead of a constant).  |S| enters the
    plan as a broadcast scalar (no collect), restart is checkpointed
    once, and the fixed-round loop chains lazily into one tuned job
    cascade like ``pagerank``."""
    with no_constraint_propagation(edges.sparkSession):
        nodes, n_nodes = _edge_nodes(edges)
        n_src = sources.agg(F.count(F.lit(1)).alias("_ns"))
        restart = (
            nodes.join(sources.select("node").distinct().withColumn("_in", F.lit(1)),
                       "node", "left_outer")
            .crossJoin(F.broadcast(n_src))
            .select(
                "node",
                F.when(F.col("_in").isNotNull(), F.lit(1.0) / F.col("_ns"))
                .otherwise(F.lit(0.0))
                .alias("restart"),
            )
            .transform(loop_checkpoint)
        )
        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        links = edges.join(out_deg, "src").transform(loop_checkpoint)
        ranks = restart.select("node", F.col("restart").alias("rank"))
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            ranks = loop_checkpoint(
                _power_iterations(
                    restart, links, ranks, iters, damping,
                    F.lit(1.0 - damping) * F.col("restart"), _uniform_share(),
                )
            )
    return ranks


def katz_centrality(
    edges: DataFrame, iters: int = 4, alpha_denom: int = 8
) -> DataFrame:
    """(node, katz): Katz centrality truncated at ``iters`` rounds —
    c[v] = Σ_{t=0..T} α^t · (#walks of length t ending at v), with
    α = 1/``alpha_denom`` (Katz 1953; the damped-walk complement of
    PageRank's random-surfer model — no out-degree normalization, so
    a node is central when MANY attenuated walks reach it, not when
    important nodes split their mass toward it).

    Exact arithmetic without the pagerank family's floor-grid: work
    in the α^{-t}-scaled integer basis.  With s_t = alpha_denom^t·c_t
    the recurrence c_{t+1}[v] = 1 + α·Σ_{u→v} c_t[u] becomes

        s_0[v] = 1,   s_{t+1}[v] = alpha_denom^{t+1} + Σ_{u→v} s_t[u]

    — pure integer adds, order-free, engine-portable.  Sums run in
    decimal(38,0) (a hot in-degree times alpha_denom^T walks exceeds
    bigint long before real graph scale; DuckDB widens its BIGINT sum
    to HUGEINT on the same values), and the single final division
    s_T / alpha_denom^T is one IEEE-exact double op, so the oracle's
    unrolled CTE reproduces the result bit-for-bit.

    Per round: one edges⋈scores shuffle on src, one sum-by-dst, one
    left join back onto the node set — frontier is always the whole
    node set, so ``loop_tuning`` clamps the exchanges to the node
    count and disables per-exchange AQE re-planning for the fixed
    cascade, same as the pagerank loops."""
    with no_constraint_propagation(edges.sparkSession):
        nodes, n_nodes = _edge_nodes(edges)
        if n_nodes == 0:  # empty graph: empty typed score table
            return nodes.withColumn("katz", F.lit(0.0))
        e = edges.select("src", "dst").where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        ).transform(loop_checkpoint)
        scores = nodes.withColumn("s", F.lit(1).cast("decimal(38,0)"))
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            for t in range(1, iters + 1):
                contrib = (
                    e.join(
                        scores.select(F.col("node").alias("src"), "s"), "src"
                    )
                    .groupBy(F.col("dst").alias("node"))
                    .agg(F.sum("s").alias("c"))
                )
                scores = (
                    nodes.join(contrib, "node", "left_outer")
                    .select(
                        "node",
                        (
                            F.lit(alpha_denom**t).cast("decimal(38,0)")
                            + F.coalesce(F.col("c"), F.lit(0))
                        ).cast("decimal(38,0)").alias("s"),
                    )
                )
            scores = loop_checkpoint(scores)
    scale = float(alpha_denom**iters)
    return scores.select(
        "node", (F.col("s").cast("double") / F.lit(scale)).alias("katz")
    )


def dag_path_counts(
    edges: DataFrame, targets: DataFrame, max_iters: int = 100
) -> DataFrame:
    """(node, n_paths): number of DISTINCT directed paths from each
    node to the target set in a DAG — the counting DP behind
    provenance multiplicity, attack-path enumeration and DAG
    centralities: cnt[v] = [v ∈ T] + Σ_{v→u} cnt[u].

    BSP relaxation: after t rounds cnt_t[v] counts paths of length
    ≤ t, so the fixpoint arrives in longest-path rounds (cycle ⇒
    no fixpoint ⇒ the round cap raises, doubling as a cycle check —
    same contract as topo_layers).  Counts accumulate in
    decimal(38,0): path counts grow EXPONENTIALLY in depth (that is
    the point of counting instead of enumerating), and bigint
    overflows at depth ~90 of a binary DAG.  Per round: one
    edges⋈counts shuffle + one sum-by-src + one left join onto the
    node set, loop-tuned."""
    with no_constraint_propagation(edges.sparkSession):
        e = edges.select("src", "dst").where(
            F.col("src").isNotNull() & F.col("dst").isNotNull()
        ).transform(loop_checkpoint)
        nodes, n_nodes = loop_checkpoint_count(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .union(targets.select("node"))
            .distinct()
        )
        if n_nodes == 0:
            return nodes.withColumn("n_paths", F.lit(0).cast("decimal(38,0)"))
        base = nodes.join(
            targets.select("node").distinct().withColumn("_t", F.lit(1)),
            "node",
            "left_outer",
        ).select(
            "node",
            F.coalesce(F.col("_t"), F.lit(0)).cast("decimal(38,0)").alias("_seed"),
        ).transform(loop_checkpoint)
        counts = base.select("node", F.col("_seed").alias("n_paths"))
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            for _ in range(max_iters):
                succ = (
                    e.join(
                        counts.select(F.col("node").alias("dst"), "n_paths"), "dst"
                    )
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.sum("n_paths").alias("_s"))
                )
                stepped = base.join(succ, "node", "left_outer").select(
                    "node",
                    (
                        F.col("_seed")
                        + F.coalesce(F.col("_s"), F.lit(0)).cast("decimal(38,0)")
                    ).cast("decimal(38,0)").alias("n_paths"),
                    "_seed",
                )
                joined = stepped.join(
                    counts.select("node", F.col("n_paths").alias("_prev")), "node"
                ).select(
                    "node",
                    "n_paths",
                    F.when(F.col("n_paths") != F.col("_prev"), 1)
                    .otherwise(0)
                    .alias("_chg"),
                )
                joined, n_chg = loop_checkpoint_sum(joined, "_chg", size_hint=n_nodes)
                counts = joined.select("node", "n_paths")
                if n_chg == 0:
                    break
            else:
                raise RuntimeError(
                    f"dag_path_counts did not converge in {max_iters} rounds — "
                    "the graph has a cycle reaching the target set (path count "
                    "diverges) or longest path exceeds max_iters"
                )
    # DOUBLE on the wire (engine-portable); the accumulator above
    # stays decimal(38,0) so intermediate sums never overflow.
    return counts.select("node", F.col("n_paths").cast("double").alias("n_paths"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangles in the undirected simple graph.

    Canonical orientation (low id → high id) keeps each wedge join
    skew-bounded; one row out: (n_triangles)."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    canon = und.where(F.col("src") < F.col("dst")).transform(loop_checkpoint)
    a = canon.alias("a")
    b = canon.alias("b")
    c = canon.alias("c")
    wedges = a.join(b, F.col("a.dst") == F.col("b.src")).select(
        F.col("a.src").alias("x"), F.col("a.dst").alias("y"), F.col("b.dst").alias("z")
    )
    tris = wedges.join(
        c, (F.col("x") == F.col("c.src")) & (F.col("z") == F.col("c.dst"))
    )
    return tris.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def quadrilateral_count(edges: DataFrame) -> DataFrame:
    """Total 4-cycles (quadrilaterals) in the undirected simple
    graph — the next motif after triangles (graph-similarity /
    spam-farm signals; bipartite cores show up as C4 mass where
    triangles are blind).

    Identity: every C4 is determined by an opposite-vertex pair
    {u,v} plus a 2-subset of their common neighbors, and has exactly
    two opposite pairs — so Q = (1/2)·Σ_{u<v} C(codegree(u,v), 2).
    Plan: one wedge self-join through the center (canonical u<v
    endpoint pair keeps each key once), one (u,v) count aggregation
    at the CODEGREE grain (|pairs with a common neighbor| rows, not
    |wedges| — the groupBy is the compression), one scalar sum.
    Same cost family as triangle counting (Σ deg² wedge work); the
    chordal diagonal is irrelevant to the cycle so no adjacency
    check is needed — one row out: (n_quads)."""
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    adj = und.transform(loop_checkpoint)
    a = adj.alias("a")
    b = adj.alias("b")
    codeg = (
        a.join(b, F.col("a.src") == F.col("b.src"))
        .where(F.col("a.dst") < F.col("b.dst"))
        .groupBy(F.col("a.dst").alias("u"), F.col("b.dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # Σ c(c−1) = 4Q exactly; decimal(38,0) keeps the sum exact at any
    # scale, and 4 divides it by construction
    return codeg.agg(
        (
            F.sum(
                (F.col("c") * (F.col("c") - F.lit(1))).cast("decimal(38,0)")
            )
            / F.lit(4)
        )
        .cast("bigint")
        .alias("n_quads")
    )


def shortest_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_iters: int = 50,
    assume_undirected: bool = False,
) -> DataFrame:
    """Multi-source BFS: (source, node, hops) minimum hop counts from
    each source node.  sources: DataFrame(node).  Semi-naive frontier
    expansion like path closure, but keyed by (source, node).

    ``assume_undirected``: the caller guarantees ``edges`` is
    symmetric — then BFS layers are exact distance classes, a level-d
    expansion can only collide with levels d and d−1, and the
    dedup anti-join runs against those two layers instead of the
    cumulative reached set (frontier-sized rounds at any depth; the
    general directed case keeps the full anti-join because a back
    edge may jump to any earlier level)."""
    with no_constraint_propagation(edges.sparkSession):
        e = edges.select("src", "dst").distinct().transform(loop_checkpoint)
        frontier, n_src = loop_checkpoint_count(
            sources.select(
                F.col("node").alias("source"), F.col("node").alias("node"), F.lit(0).alias("hops")
            )
        )
        layers = [frontier]
        with loop_tuning(edges.sparkSession, n_src):
            layers = _hops_loop(e, frontier, layers, max_iters, assume_undirected)
        reached = layers[0]
        for layer in layers[1:]:
            reached = reached.union(layer)
    return reached


def _hops_loop(e, frontier, layers, max_iters, assume_undirected=False):
    reached_keys = frontier.select("source", "node")
    with no_constraint_propagation(e.sparkSession):
        for _ in range(max_iters):
            grown = (
                frontier.join(e, frontier["node"] == e["src"])
                .select("source", F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops"))
            )
            if assume_undirected:
                anti = layers[-1].select("source", "node")
                if len(layers) >= 2:
                    anti = anti.union(layers[-2].select("source", "node"))
            else:
                anti = reached_keys
            new = (
                grown.join(anti, ["source", "node"], "left_anti")
                .groupBy("source", "node")
                .agg(F.min("hops").alias("hops"))
            )
            new, n_new = loop_checkpoint_count(new)
            if n_new == 0:
                break
            layers.append(new)
            if not assume_undirected:
                reached_keys = reached_keys.union(new.select("source", "node"))
            frontier = new
    return layers


def landmark_distance_audit(
    edges: DataFrame, landmarks: DataFrame, queries: DataFrame, max_iters: int = 50
) -> DataFrame:
    """(u, v, est, exact, rel_err): landmark-labeling distance
    estimation (the ALT / 2-hop-labeling family) with its own exact
    audit — THE approximate-shortest-path shape at 100 TB: |L| BFS
    passes precompute (landmark, node, hops) labels once (state
    |L|·|V|, reusable across every later query), and a distance query
    is then a pure JOIN — est(u,v) = min_L d(u,L) + d(L,v), an upper
    bound that is exact whenever some landmark lies on a shortest
    u-v path.  No per-query traversal: the label table is the index.

    The audit runs the exact multi-source BFS from the query sources
    (bounded by the query set, so it stays cheap) and reports per-pair
    rel_err — the same audited-approximation pattern as
    graph_ball_sketch.  Distances are over the UNDIRECTED graph
    (edges symmetrized internally, like ``betweenness``).

    Query pairs that the labels CANNOT answer still appear: a pair
    with no landmark common to both sides keeps ``est`` NULL, an
    unreachable pair keeps ``exact`` NULL, and ``rel_err`` is NULL
    whenever either side is — the failures a landmark audit exists to
    surface must not silently vanish from it.

    ``landmarks``: (node); ``queries``: (u, v) pairs to estimate."""
    und = _symmetrize(edges)
    lab = shortest_hops(und, landmarks, max_iters, assume_undirected=True)
    du = lab.select(
        F.col("source").alias("_L"), F.col("node").alias("u"), F.col("hops").alias("_du")
    )
    dv = lab.select(
        F.col("source").alias("_L"), F.col("node").alias("v"), F.col("hops").alias("_dv")
    )
    est = (
        queries.join(du, "u")
        .join(dv, ["_L", "v"])
        .groupBy("u", "v")
        .agg(F.min(F.col("_du") + F.col("_dv")).alias("est"))
    )
    exact = shortest_hops(
        und, queries.select(F.col("u").alias("node")).distinct(), max_iters,
        assume_undirected=True,
    ).select(
        F.col("source").alias("u"), F.col("node").alias("v"), F.col("hops").alias("exact")
    )
    return (
        queries.join(est, ["u", "v"], "left_outer")
        .join(exact, ["u", "v"], "left_outer")
        .select(
            "u",
            "v",
            "est",
            "exact",
            F.when(F.col("est").isNull() | F.col("exact").isNull(), F.lit(None))
            .when(
                F.col("exact") > 0,
                F.round(
                    F.abs(F.col("est") - F.col("exact")).cast("double")
                    / F.col("exact").cast("double"),
                    6,
                ),
            )
            .otherwise(F.abs(F.col("est")).cast("double"))
            .alias("rel_err"),
        )
    )


def betweenness(
    edges: DataFrame, sources: DataFrame | None = None, max_iters: int = 50
) -> DataFrame:
    """(node, betweenness): exact Brandes betweenness centrality over
    the undirected, unweighted graph, restricted to shortest paths
    FROM the pivot set ``sources`` (None = every node = the exact
    measure).  Pivot restriction is the standard scale path —
    betweenness is inherently all-pairs, so at 100 TB you hand in a
    hash-sampled pivot set and scale the estimate by n/|pivots|; with
    all nodes as pivots the undirected double-count divides out by 2.

    Forward pass: multi-source BFS carrying shortest-path counts σ
    (one frame per level, (source, node, sigma), semi-naive — rounds
    = diameter).  Backward pass: Brandes dependency accumulation,
    level by level — a BFS DAG only has edges between adjacent
    levels, so δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w)) needs
    exactly one join per level.  State is Σ_pivots |reached|, never
    node²-materialized paths."""
    und = _symmetrize(edges)
    und = loop_checkpoint(und)
    if sources is None:
        sources = und.select(F.col("src").alias("node")).distinct()
    frontier = sources.select(
        F.col("node").alias("source"),
        F.col("node").alias("node"),
        F.lit(1.0).alias("sigma"),
    )
    frontier, n_f = loop_checkpoint_count(frontier)
    with loop_tuning(edges.sparkSession, n_f), no_constraint_propagation(
        edges.sparkSession
    ):
        return _betweenness_passes(und, frontier, n_f, max_iters)


def _betweenness_passes(und, frontier, n_f, max_iters):
    levels = [frontier]
    for _ in range(max_iters):
        grown = frontier.join(und, frontier["node"] == und["src"]).select(
            "source", F.col("dst").alias("node"), "sigma"
        )
        # ``und`` is symmetric, so BFS levels are exact distance
        # classes and a candidate grown from level d can only collide
        # with levels d and d−1 (an undirected edge changes distance
        # by at most 1).  Anti-join against those two levels instead
        # of the full cumulative seen set: the per-round anti-join
        # input stays frontier-sized at ANY depth, where the seen set
        # grows to Σ|levels| = |reached| — the difference between a
        # bounded round cost and one that scales with the whole
        # traversal at 100 TB (and the round's plan keeps a constant
        # two leaves instead of k).
        recent = levels[-1].select("source", "node")
        if len(levels) >= 2:
            recent = recent.union(levels[-2].select("source", "node"))
        new = (
            grown.join(recent, ["source", "node"], "left_anti")
            .groupBy("source", "node")
            .agg(F.sum("sigma").alias("sigma"))
        )
        new, n_new = loop_checkpoint_count(new, size_hint=n_f)
        if n_new == 0:
            break
        levels.append(new)
        frontier, n_f = new, n_new
    # backward: deepest level depends on nothing
    delta = levels[-1].select(
        "source", "node", "sigma", F.lit(0.0).alias("delta")
    )
    parts = []
    for lv in range(len(levels) - 1, 0, -1):
        parts.append(delta)
        upper = delta.select(
            "source",
            F.col("node").alias("w"),
            ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias("_q"),
        )
        lower = levels[lv - 1]
        contrib = (
            upper.join(und.select(F.col("src").alias("node"), F.col("dst").alias("w")), "w")
            .join(lower.select("source", "node"), ["source", "node"], "left_semi")
            .groupBy("source", "node")
            .agg(F.sum("_q").alias("_c"))
        )
        delta = (
            lower.join(contrib, ["source", "node"], "left_outer")
            .select(
                "source",
                "node",
                "sigma",
                (F.coalesce(F.col("_c"), F.lit(0.0)) * F.col("sigma")).alias("delta"),
            )
        )
        # LAZY checkpoint: each level's delta is referenced twice (the
        # parts union and the next level's join), so it must be
        # materialized-once — but materializing eagerly costs one job
        # per level.  The lazy form persists each delta on first
        # computation inside the single final aggregation job, so the
        # whole backward pass runs as ONE job instead of depth jobs.
        delta = plan_checkpoint(delta)
    parts.append(delta)
    alld = parts[0]
    for p in parts[1:]:
        alld = alld.unionByName(p)
    return (
        alld.where(F.col("node") != F.col("source"))
        .groupBy("node")
        .agg(F.round(F.sum("delta") / F.lit(2.0), 6).alias("betweenness"))
    )


def betweenness_incremental(
    old_edges: DataFrame,
    added_edges: DataFrame,
    bc_old: DataFrame,
    max_iters: int = 50,
) -> DataFrame:
    """(node, betweenness): fold an edge-insertion batch into an
    existing exact betweenness table WITHOUT re-running Brandes from
    every pivot — the iCentral decomposition (Jamour et al., public
    literature): for an unweighted undirected graph, inserting edge
    (u, v) changes the shortest-path DAG of pivot s iff
    |d_old(s, u) − d_old(s, v)| ≥ 1 (equal distances cannot create a
    new shortest path — parity), including the case where exactly one
    side is reachable.  So:

    1. BFS from the |endpoints(Δ)| changed-edge endpoints over the
       OLD graph (undirected ⇒ d(s, u) = d(u, s)) — cost scales with
       the delta, not the pivot count;
    2. affected pivots = nodes where some new edge's two endpoint
       distances differ (NULL-asymmetric counts as differing);
    3. recompute Brandes restricted to the affected pivot set twice —
       old graph (subtract) and new graph (add) — and patch
       ``bc_old`` with the difference.

    At 100 TB the win is |affected| ≪ |V|: a commit's delta touches a
    few components and every other pivot's contribution is carried
    forward untouched.  Exactness: contributions are linear over
    pivots, so old_total − old_affected + new_affected is exactly
    full Brandes on the new graph.

    ``bc_old`` must be ``betweenness(old_edges)`` (all-pivot exact
    mode); ``added_edges``: (src, dst) insertions."""
    und_old = _symmetrize(old_edges)
    eps = (
        added_edges.select(F.col("src").alias("node"))
        .union(added_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    d = shortest_hops(und_old, eps, max_iters, assume_undirected=True)
    big = F.lit(1 << 40)
    du = d.select(
        F.col("source").alias("_u"), F.col("node").alias("pivot"), F.col("hops").alias("_du")
    )
    dv = d.select(
        F.col("source").alias("_v"), F.col("node").alias("pivot"), F.col("hops").alias("_dv")
    )
    pairs = added_edges.select(F.col("src").alias("_u"), F.col("dst").alias("_v")).distinct()
    side_u = pairs.join(du, "_u")
    side_v = pairs.join(dv, "_v")
    affected = (
        side_u.join(side_v, ["_u", "_v", "pivot"], "full_outer")
        .where(F.abs(F.coalesce("_du", big) - F.coalesce("_dv", big)) >= 1)
        .select(F.col("pivot").alias("node"))
        .distinct()
    )
    # lazy: materializes inside the first restricted-Brandes pass and
    # is reused (persisted blocks) by the second — one fewer job
    affected = plan_checkpoint(affected)
    all_edges = old_edges.select("src", "dst").unionByName(
        added_edges.select("src", "dst")
    )
    bc_aff_old = betweenness(old_edges, sources=affected, max_iters=max_iters).select(
        "node", F.col("betweenness").alias("_old")
    )
    bc_aff_new = betweenness(all_edges, sources=affected, max_iters=max_iters).select(
        "node", F.col("betweenness").alias("_new")
    )
    patch = (
        bc_aff_old.join(bc_aff_new, "node", "full_outer")
        .select(
            "node",
            (F.coalesce("_new", F.lit(0.0)) - F.coalesce("_old", F.lit(0.0))).alias(
                "_delta"
            ),
        )
    )
    return (
        bc_old.join(patch, "node", "full_outer")
        .select(
            "node",
            F.round(
                F.coalesce("betweenness", F.lit(0.0)) + F.coalesce("_delta", F.lit(0.0)),
                6,
            ).alias("betweenness"),
        )
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(node, degree, n_tri, coeff): local clustering coefficient —
    the fraction of a node's neighbor pairs that are themselves
    connected: 2·tri(v) / (deg(v)·(deg(v)−1)), 0 when deg < 2.

    Same canonical-orientation triangle enumeration as
    ``triangle_count`` (each triangle materialized once, wedge join
    bounded by orienting low→high id), then one explode distributes
    each triangle to its three corners — per-node counts come from a
    map-side-combinable aggregation, no per-node neighbor lists are
    ever collected.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    canon = und.where(F.col("src") < F.col("dst")).transform(loop_checkpoint)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    a, b, c = canon.alias("a"), canon.alias("b"), canon.alias("c")
    tris = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("x"), F.col("a.dst").alias("y"), F.col("b.dst").alias("z"))
        .join(c, (F.col("x") == F.col("c.src")) & (F.col("z") == F.col("c.dst")))
        .select("x", "y", "z")
    )
    tri_nodes = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    return deg.join(tri_nodes, "node", "left_outer").select(
        "node",
        "degree",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias("n_tri"),
        F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
            / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )


def kcore(
    edges: DataFrame, k: int = 3, rounds: int = 4, broadcast_edge_limit: int = 2_000_000
) -> DataFrame:
    """(node, degree): nodes surviving ``rounds`` of k-core pruning
    (drop nodes with degree < k, recompute, repeat) over the
    undirected graph, with their degree in the surviving subgraph.

    Bounded rounds keep the operator a *fixed* dataflow: each round
    is one degree aggregate + two semi-joins, so the plan (and the
    unrolled-CTE oracle) is deterministic whether or not the pruning
    has reached its fixpoint — callers pick rounds >= expected
    peel-off depth.  Scale: per-round shuffle is keyed by node id
    with map-side partial counts; the edge set only shrinks.

    The keep-set broadcast is *gated* on the surviving edge count
    (already known from the fixpoint check): on a billion-node graph
    the keep-set exceeds any broadcast budget and must flow as a
    shuffled semi-join instead — AQE still upgrades it to broadcast
    at runtime if post-pruning stats fit."""
    cur, n_edges = loop_checkpoint_count(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    with loop_tuning(edges.sparkSession, n_edges), no_constraint_propagation(
        edges.sparkSession
    ):
        return _kcore_loop(cur, n_edges, k, rounds, broadcast_edge_limit)


def _kcore_loop(cur, n_edges, k, rounds, broadcast_edge_limit):
    for _ in range(rounds):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        # keep-set size is bounded by the surviving node count (≤ edge
        # count): broadcast both probes only while that bound fits the
        # budget, so each round is one map-side-filtered pass over the
        # edges rather than two edge-set shuffles
        keep = deg.where(F.col("d") >= k).select("src")
        keep_dst = keep.select(F.col("src").alias("dst"))
        if n_edges <= broadcast_edge_limit:
            keep, keep_dst = F.broadcast(keep), F.broadcast(keep_dst)
        # checkpoint + fixpoint probe fused into one job per round:
        # pruning is monotone (edges only ever leave), so an unchanged
        # count IS the fixpoint — identical output to running the
        # remaining rounds, at zero cost
        cur, new_n = loop_checkpoint_count(
            cur.join(keep, "src", "left_semi").join(keep_dst, "dst", "left_semi")
        )
        if new_n == n_edges:
            break
        n_edges = new_n
    return cur.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("degree"))


def _decrement_peel(adj, cur0, k, max_iters, key, err, size_hint=None):
    """Shared from-above peel for the k-core maintainers: ``cur0`` is
    (key, d) candidate degrees; rounds drop every row with d < k and
    DECREMENT only the dropped rows' surviving neighbors.  ONE Spark
    job per round — the drop flag is summed in the same action that
    materializes the round (loop_checkpoint_sum), replacing the
    separate survivor-count + re-checkpoint pair (2 jobs/round) the
    loops previously paid.  Returns the converged survivors with
    their fixpoint degrees; raises ``err`` past ``max_iters``."""
    flag = F.when(F.col("d") < k, 1).otherwise(0)
    stepped, n_drop = loop_checkpoint_sum(
        cur0.withColumn("_drop", flag), "_drop", size_hint=size_hint
    )
    for _ in range(max_iters):
        if n_drop == 0:
            return stepped.select(key, "d")
        dropped = stepped.where(F.col("_drop") == 1)
        surv = stepped.where(F.col("_drop") == 0)
        dec = (
            adj.join(dropped.select(F.col(key).alias("b")), "b", "left_semi")
            .join(surv.select(F.col(key).alias("a")), "a", "left_semi")
            .groupBy(F.col("a").alias(key))
            .agg(F.count(F.lit(1)).alias("_dec"))
        )
        nxt = surv.join(dec, key, "left_outer").select(
            key,
            (F.col("d") - F.coalesce(F.col("_dec"), F.lit(0))).alias("d"),
        )
        stepped, n_drop = loop_checkpoint_sum(
            nxt.withColumn("_drop", flag), "_drop", size_hint=size_hint
        )
    raise RuntimeError(err)


def kcore_incremental(
    core_old: DataFrame,
    base_edges: DataFrame,
    delta_edges: DataFrame,
    k: int = 3,
    max_iters: int = 30,
    canonical_base: bool = False,
) -> DataFrame:
    """(node, degree): the k-core AFTER an insert-only commit delta,
    at delta-cascade cost — the node-grain sibling of
    ``ktruss_incremental``, on the same two maximality facts:

    1. Insert-only ⇒ the old core is FROZEN IN: the k-core is the
       maximal subgraph with minimum degree k, adding edges cannot
       lower any old-core degree, so core_old ⊆ core_new.
    2. A non-core node can enter only through a delta edge or an
       ENTERING neighbor: if u already had >= k neighbors inside
       core_old, then core_old ∪ {u} qualified and core_old was not
       maximal.  So candidates = non-core nodes reachable from the
       delta's non-core endpoints through NON-CORE adjacency — a
       frontier-sized closure.

    Candidates then peel from above at DELTA-CASCADE cost, the exact
    mirror of ``kcore_decremental``'s never-re-aggregated decrements:
    candidate degrees (within core_old ∪ candidates) are aggregated
    ONCE over candidate-incident edges only, and every later round
    only DECREMENTS neighbors of dropped candidates — no round ever
    re-aggregates the stored core's internal edges.  Output degrees
    are assembled incrementally too: when ``core_old`` carries its
    stored ``degree`` column (what this function and batch ``kcore``
    both emit — pass it back in), old-core degrees are updated as
    d_old + (edges to entering candidates) + (delta-only edges to
    old-core nodes), both cascade/delta-sized aggregates; without the
    column a one-time cold-start aggregate over the old core's
    internal edges is paid (documented fallback, not the steady
    state).  Raises ``RuntimeError`` if the candidate closure or the
    peel fails to reach fixpoint within ``max_iters`` (matching
    ``ktruss_incremental`` — silent fall-through would return an
    incomplete closure / unconverged core).  Deletions invalidate
    fact 1 — route them through ``kcore_decremental`` or batch
    ``kcore``."""
    spark = core_old.sparkSession
    has_deg = "degree" in core_old.columns
    old = core_old.select("node").distinct()
    old = loop_checkpoint(old)

    def und(e):
        # canonical (min,max) pairs: reversed redeliveries of the
        # same undirected edge dedup instead of double-counting
        return (
            e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    if canonical_base:
        # caller guarantees the base is already canonical (a<b) and
        # duplicate-free — e.g. the streaming edge store, written
        # with least/greatest + distinct.  Skips the only full-base
        # shuffle in the steady path.
        base_und = base_edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
    else:
        base_und = und(base_edges)
    delta_und = und(delta_edges)
    # delta edges not already present in the base — the only edges
    # that can raise an old-core-internal degree.  The base is first
    # narrowed map-side to delta-endpoint-incident rows (broadcast
    # semi join, no base shuffle), so the anti join is tiny × tiny
    delta_only = delta_und.join(
        base_und.join(
            F.broadcast(delta_und.select("a").distinct()), "a", "left_semi"
        ),
        ["a", "b"],
        "left_anti",
    )
    delta_only = loop_checkpoint(delta_only)
    # base ∪ (delta \ base) is a DISJOINT union of two deduped sets —
    # no distinct over the full edge list is ever needed
    e_new = base_und.unionByName(delta_only)
    e_new, n_e = loop_checkpoint_count(e_new)
    adj = e_new.union(
        e_new.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )

    def _old_core_inc(surv_nodes):
        """Per-old-node degree increments: edges (in E_new) to
        entering candidates + delta-only edges to old-core nodes.
        Both aggregates are cascade/delta-sized."""
        inc1 = (
            adj.join(surv_nodes.select(F.col("n").alias("b")), "b", "left_semi")
            .join(old.select(F.col("node").alias("a")), "a", "left_semi")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("_i1"))
        )
        d_oo = (
            delta_only.join(
                old.select(F.col("node").alias("a")), "a", "left_semi"
            ).join(old.select(F.col("node").alias("b")), "b", "left_semi")
        )
        inc2 = (
            d_oo.select(F.col("a").alias("node"))
            .unionByName(d_oo.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("_i2"))
        )
        return inc1, inc2

    def _old_out(surv_nodes):
        inc1, inc2 = _old_core_inc(surv_nodes)
        if has_deg:
            # steady state: stored degrees are within core_old under
            # E_old, so add delta-only internal edges (inc2) on top
            base_deg = core_old.select(
                "node", F.col("degree").cast("long").alias("_d0")
            )
        else:
            # cold-start fallback: one aggregate over the old core's
            # internal edges under E_NEW — delta-internal edges are
            # already counted here, so inc2 must NOT be added again
            # (steady state passes the stored degrees back in and
            # never pays this)
            base_deg = (
                adj.join(
                    old.select(F.col("node").alias("a")), "a", "left_semi"
                )
                .join(old.select(F.col("node").alias("b")), "b", "left_semi")
                .groupBy(F.col("a").alias("node"))
                .agg(F.count(F.lit(1)).alias("_d0"))
            )
            inc2 = inc2.limit(0)
        return (
            base_deg.join(inc1, "node", "left_outer")
            .join(inc2, "node", "left_outer")
            .select(
                "node",
                (
                    F.col("_d0")
                    + F.coalesce(F.col("_i1"), F.lit(0))
                    + F.coalesce(F.col("_i2"), F.lit(0))
                ).cast("long").alias("degree"),
            )
        )

    non_core_sel = lambda df: df.join(
        old.select(F.col("node").alias("n")), "n", "left_anti"
    )
    seeds = non_core_sel(
        delta_und.select(F.col("a").alias("n"))
        .union(delta_und.select(F.col("b")))
        .distinct()
    )
    x, n_x = loop_checkpoint_count(seeds)
    empty_cand = old.select(F.col("node").alias("n")).limit(0)
    if n_x == 0:
        # no non-core endpoint ⇒ core membership unchanged; only
        # old-core degrees can grow, via delta-only internal edges
        return _old_out(empty_cand)
    with loop_tuning(spark, n_e), no_constraint_propagation(spark):
        # closure rounds at ONE job each: the frontier count doubles
        # as the fixpoint probe and the accumulated candidate set is a
        # plain union of the checkpointed frontier leaves (never
        # re-checkpointed per round — rounds are cascade-depth few)
        frontier, parts, n_cand = x, [x], n_x
        closed = False
        for _ in range(max_iters):
            nbrs = (
                adj.join(
                    frontier.select(F.col("n").alias("a")), "a", "left_semi"
                )
                .select(F.col("b").alias("n"))
                .distinct()
            )
            xall = parts[0]
            for p in parts[1:]:
                xall = xall.unionByName(p)
            fresh = non_core_sel(nbrs).join(xall, "n", "left_anti")
            fresh, n_fresh = loop_checkpoint_count(fresh, size_hint=n_cand)
            if n_fresh == 0:
                closed = True
                break
            parts.append(fresh)
            n_cand += n_fresh
            frontier = fresh
        if not closed:
            raise RuntimeError(
                f"kcore_incremental: candidate closure did not "
                f"converge within max_iters={max_iters}; an incomplete "
                f"closure would silently miss entering nodes — raise "
                f"max_iters"
            )
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        # candidate degrees within core_old ∪ candidates, aggregated
        # ONCE over candidate-incident edges (a ∈ cand); old-core
        # internal edges are never touched
        in_set = old.select(F.col("node").alias("n")).unionByName(cand)
        deg0 = (
            adj.join(cand.select(F.col("n").alias("a")), "a", "left_semi")
            .join(in_set.select(F.col("n").alias("b")), "b", "left_semi")
            .groupBy(F.col("a").alias("n"))
            .agg(F.count(F.lit(1)).alias("d"))
        )
        cur0 = cand.join(deg0, "n", "left_outer").select(
            "n", F.coalesce(F.col("d"), F.lit(0)).alias("d")
        )
        # decrement-only from-above peel, one job per round
        cur = _decrement_peel(
            adj,
            cur0,
            k,
            max_iters,
            "n",
            f"kcore_incremental: candidate peel did not converge "
            f"within max_iters={max_iters}; an unconverged peel "
            f"would admit under-degree candidates — raise max_iters",
            size_hint=n_cand,
        )
        surv_out = cur.select(
            F.col("n").alias("node"), F.col("d").cast("long").alias("degree")
        )
        return _old_out(cur.select("n")).unionByName(surv_out)


def kcore_decremental(
    core_old: DataFrame,
    base_edges: DataFrame,
    delete_edges: DataFrame,
    k: int = 3,
    max_iters: int = 30,
    canonical_base: bool = False,
) -> DataFrame:
    """(node, degree): the k-core AFTER a delete-only commit delta —
    the reverse direction of ``kcore_incremental``, and the easy one
    for peeling structures: removing edges can only SHRINK the core
    (the new core is a min-degree-k subgraph of the old graph too,
    so core_new ⊆ core_old by maximality), which means the update is
    a peel of core_old over the post-delete edge set, seeded at the
    nodes that lost an edge — the cascade frontier, never the whole
    graph.  Non-dirty nodes keep their membership until a neighbor
    leaves; each round recomputes degrees only over the surviving
    core subgraph (the peel is the batch loop restricted to
    core_old).  Raises ``RuntimeError`` if the peel fails to reach
    fixpoint within ``max_iters`` (matching ``ktruss_decremental`` —
    a silent fall-through would keep under-degree nodes in the
    core).  Insertions route through ``kcore_incremental``.
    ``canonical_base=True`` promises the base is already canonical
    (a<b, duplicate-free — e.g. the streaming edge store) and skips
    the full-base canonicalizing ``distinct()``."""
    spark = core_old.sparkSession

    def und(e):
        # canonical (min,max) pairs so a delete listed in either
        # orientation removes the base edge regardless of how the
        # base stored it
        return (
            e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    if canonical_base:
        eb = base_edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
    else:
        eb = und(base_edges)
    dels = und(delete_edges)
    e_new = eb.join(dels, ["a", "b"], "left_anti")
    e_new, n_e = loop_checkpoint_count(e_new)
    adj = e_new.union(
        e_new.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    old_nodes = core_old.select("node").distinct()
    old_nodes = loop_checkpoint(old_nodes)
    with loop_tuning(spark, n_e), no_constraint_propagation(spark):
        # stored degrees within core_old ∩ E_new — computed ONCE;
        # every later round only DECREMENTS neighbors of dropped
        # nodes (frontier-sized joins), never re-aggregates the core
        deg0 = (
            adj.join(old_nodes.select(F.col("node").alias("a")), "a", "left_semi")
            .join(old_nodes.select(F.col("node").alias("b")), "b", "left_semi")
            .groupBy(F.col("a").alias("node"))
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # isolated core nodes (all edges deleted) never appear in
        # deg0 — they drop with degree 0
        cur0 = old_nodes.join(deg0, "node", "left_outer").select(
            "node", F.coalesce(F.col("d"), F.lit(0)).alias("d")
        )
        # decrement-only from-above peel, one job per round
        cur = _decrement_peel(
            adj,
            cur0,
            k,
            max_iters,
            "node",
            f"kcore_decremental: peel did not converge within "
            f"max_iters={max_iters}; an unconverged peel would keep "
            f"under-degree nodes in the core — raise max_iters",
        )
        return cur.select("node", F.col("d").cast("bigint").alias("degree"))


def ktruss_decremental(
    truss_old: DataFrame,
    delete_edges: DataFrame,
    k: int = 4,
    max_iters: int = 30,
) -> DataFrame:
    """(a, b): the k-truss AFTER a delete-only commit delta — the
    reverse of ``ktruss_incremental``: removing edges can only
    SHRINK the truss (truss_new qualifies inside the old graph, so
    truss_new ⊆ truss_old by maximality), and a surviving edge can
    lose a triangle only through an edge that shared one — which
    shares an endpoint with it.  So the update peels ``truss_old``
    minus the deleted edges, recomputing support ONLY for edges
    incident to a deleted (or later dropped) endpoint; untouched
    edges keep their membership.  Cost ∝ the deletion cascade, never
    a full re-peel.  Edges deleted outside the old truss change
    nothing (they were already peeled).  Insertions route through
    ``ktruss_incremental``."""
    spark = truss_old.sparkSession
    t_old = truss_old.select("a", "b").distinct()
    dels = _und(delete_edges)
    removed = dels.join(t_old, ["a", "b"], "left_semi")
    removed = plan_checkpoint(removed)
    cur_edges = t_old.join(dels, ["a", "b"], "left_anti")
    cur_edges, n_e = loop_checkpoint_count(cur_edges)
    need = k - 2
    dirty_nodes = (
        removed.select(F.col("a").alias("n"))
        .union(removed.select(F.col("b")))
        .distinct()
    )
    with loop_tuning(spark, n_e), no_constraint_propagation(spark):
        for _ in range(max_iters):
            touched = (
                cur_edges.join(
                    dirty_nodes.select(F.col("n").alias("a")), "a", "left_semi"
                )
                .unionByName(
                    cur_edges.join(
                        dirty_nodes.select(F.col("n").alias("b")), "b", "left_semi"
                    )
                )
                .distinct()
            )
            sup = touched.join(
                _edge_support(touched, cur_edges), ["a", "b"], "left_outer"
            ).select(
                "a",
                "b",
                F.coalesce(F.col("_sup"), F.lit(0).cast("bigint")).alias("_sup"),
            )
            dropped = sup.where(F.col("_sup") < need).select("a", "b")
            dropped, n_drop = loop_checkpoint_count(dropped)
            if n_drop == 0:
                return cur_edges
            cur_edges = cur_edges.join(dropped, ["a", "b"], "left_anti")
            cur_edges, n_e = loop_checkpoint_count(cur_edges, size_hint=n_e)
            dirty_nodes = (
                dropped.select(F.col("a").alias("n"))
                .union(dropped.select(F.col("b")))
                .distinct()
            )
    raise RuntimeError(f"ktruss_decremental did not converge in {max_iters} rounds")


def _delta_triangle_terms(ed: DataFrame, e_all: DataFrame, out_col: str) -> DataFrame:
    """One-row (out_col): distinct triangles of the ``e_all`` edge set
    containing >= 1 ``ed`` edge, via the t1 − p + t3 identity (see
    triangle_count_incremental).  ``ed`` must be a subset-disjoint
    canonical (a, b) frame; ``e_all`` the canonical full set the
    triangles close within."""
    adj = e_all.union(
        e_all.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    closed = lambda l, r: (
        F.least(l, r) == F.col("_x")
    ) & (F.greatest(l, r) == F.col("_y"))
    canon = e_all.select(F.col("a").alias("_x"), F.col("b").alias("_y"))
    t1 = (
        ed.join(adj.select("a", F.col("b").alias("c")), "a")
        .where(F.col("c") != F.col("b"))
        .join(canon, closed(F.col("b"), F.col("c")), "left_semi")
        .agg(F.count(F.lit(1)).alias("t1"))
    )
    dadj = ed.select("a", "b").union(
        ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    p = (
        dadj.alias("x")
        .join(dadj.alias("y"), "a")
        .where(F.col("x.b") < F.col("y.b"))
        .join(canon, closed(F.col("x.b"), F.col("y.b")), "left_semi")
        .agg(F.count(F.lit(1)).alias("p"))
    )
    t3 = (
        ed.alias("x")
        .join(ed.alias("y"), F.col("x.b") == F.col("y.a"))
        .join(
            ed.alias("z"),
            (F.col("z.a") == F.col("x.a")) & (F.col("z.b") == F.col("y.b")),
            "left_semi",
        )
        .agg(F.count(F.lit(1)).alias("t3"))
    )
    return (
        t1.crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(t3))
        .select(
            (F.col("t1") - F.col("p") + F.col("t3")).cast("bigint").alias(out_col)
        )
    )


def triangle_count_incremental(
    old_count: DataFrame,
    base_edges: DataFrame,
    delta_edges: DataFrame,
    delete_edges: DataFrame | None = None,
    canonical_base: bool = False,
) -> DataFrame:
    """(n_triangles): the triangle count AFTER an insert-only delta,
    by exact inclusion-exclusion over the delta's wedge neighborhood
    — never a full-graph triangle recount (the standard incremental
    triangle-maintenance identity; cost ∝ delta wedges):

        T_new = T_old + t1 − p + t3

    where, for the EFFECTIVE delta D = delta \\ base, t1 counts
    (delta edge, common neighbor in E_new) pairs — each new triangle
    once per delta edge it contains (multiplicity a1+2a2+3a3), p
    counts vertex-sharing pairs of delta edges closed by any E_new
    edge (a2+3a3: one pair in an exactly-2-delta triangle, three in
    an all-delta one), and t3 counts all-delta triangles (a3); the
    alternating sum telescopes to a1+a2+a3, the distinct new
    triangles.  ``old_count``: one-row (n_triangles) frame (the
    stored statistic — triangle state is a single number, the
    cheapest incremental state there is).

    ``delete_edges``: a delete-only (or mixed) delta — deletions
    apply FIRST with the same identity mirrored (triangles of E_OLD
    containing a deleted edge subtract), then insertions count
    against the post-delete edge set; an edge both deleted and
    re-added cancels exactly.

    ``canonical_base=True``: the caller guarantees ``base_edges`` is
    already canonical (src<dst) and duplicate-free — e.g. the
    streaming edge store — skipping the full-base canonicalizing
    ``distinct()``, the only base-sized shuffle in the steady
    streaming path (the same escape hatch as
    ``connected_components_decremental`` / ``kcore_incremental``)."""

    def canon(e):
        return (
            e.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        )

    if canonical_base:
        eb = base_edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
    else:
        eb = canon(base_edges)
    total = old_count.select(F.col("n_triangles").cast("bigint").alias("n_triangles"))
    if delete_edges is not None:
        edel = canon(delete_edges).join(eb, ["a", "b"], "left_semi")
        edel = plan_checkpoint(edel)
        eb_all = plan_checkpoint(eb)
        gone = _delta_triangle_terms(edel, eb_all, "gone")
        total = total.crossJoin(F.broadcast(gone)).select(
            (F.col("n_triangles") - F.col("gone")).alias("n_triangles")
        )
        eb = eb_all.join(edel, ["a", "b"], "left_anti")
    ed = canon(delta_edges).join(eb, ["a", "b"], "left_anti")
    ed = plan_checkpoint(ed)
    e_new = plan_checkpoint(eb.unionByName(ed))
    new = _delta_triangle_terms(ed, e_new, "new")
    return total.crossJoin(F.broadcast(new)).select(
        (F.col("n_triangles") + F.col("new")).cast("bigint").alias("n_triangles")
    )


def core_numbers(
    edges: DataFrame, max_k: int = 8, rounds_per_k: int = 10_000
) -> DataFrame:
    """(node, core): the FULL coreness decomposition — each node's
    core number is the largest k for which it survives k-core pruning
    (Batagelj-Zaversnik peeling, the distributed bucket form):
    for k = 1, 2, ... peel nodes of degree <= k to FIXPOINT, labeling
    each peeled node core = k, until the graph empties or ``max_k``
    caps the walk (remaining nodes then report the cap value as a
    truthful "core > max_k").  The graded sibling of :func:`kcore`'s
    single-k filter — coreness is THE standard graph feature column
    (influence/robustness tiers).

    Same monotone-pruning dataflow as kcore: per peel round one
    degree aggregate + two semi-joins, the edge set only shrinks.
    The per-k peel MUST reach its fixpoint or later phases would
    mislabel unfinished nodes with higher cores (a 100-node path
    needs ~50 rounds at k=1 — peel depth is O(longest chain), NOT the
    degeneracy), so ``rounds_per_k`` is a loud safety valve, not a
    tuning knob: exceeding it raises instead of silently corrupting
    the labels.  Isolated base nodes never enter (edge-derived), so
    every input node with an edge gets a core."""
    cur, n_edges = loop_checkpoint_count(
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    spark = edges.sparkSession
    done: list[DataFrame] = []
    empty = cur.select(F.col("src").alias("node"), F.lit(0).alias("core")).limit(0)
    done.append(empty)
    with loop_tuning(spark, n_edges), no_constraint_propagation(spark):
        for k in range(1, max_k + 1):
            if n_edges == 0:
                break
            at_fixpoint = False
            for _ in range(rounds_per_k):
                deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
                peel = deg.where(F.col("d") <= k).select("src")
                keep = deg.where(F.col("d") > k).select("src")
                done.append(
                    peel.select(F.col("src").alias("node"), F.lit(k).alias("core"))
                )
                cur, new_n = loop_checkpoint_count(
                    cur.join(keep, "src", "left_semi").join(
                        keep.select(F.col("src").alias("dst")), "dst", "left_semi"
                    ),
                    size_hint=n_edges,
                )
                # a keep-node can lose ALL its edges this round (every
                # neighbor was peeled): its degree drops past k with no
                # edge row left to witness it in the next deg aggregate,
                # so it must be labeled core = k here or it would vanish
                # from the output (3-node path a-b-c: b at k=1)
                done.append(
                    keep.join(cur.select("src").distinct(), "src", "left_anti")
                    .select(F.col("src").alias("node"), F.lit(k).alias("core"))
                )
                if new_n == n_edges:
                    at_fixpoint = True
                    break
                n_edges = new_n
                if n_edges == 0:
                    at_fixpoint = True
                    break
            if not at_fixpoint:
                raise RuntimeError(
                    f"core_numbers: k={k} peel did not reach fixpoint within "
                    f"rounds_per_k={rounds_per_k}; raise the cap (peel depth "
                    "is O(longest chain))"
                )
        if n_edges > 0:
            done.append(
                cur.select(F.col("src").alias("node")).distinct().select(
                    "node", F.lit(max_k + 1).alias("core")
                )
            )
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.groupBy("node").agg(F.max("core").alias("core"))


def shortest_weighted(
    edges: DataFrame, sources: DataFrame, rounds: int = 9
) -> DataFrame:
    """(node, dist): minimum path weight from any source node reachable
    within ``rounds`` relaxation rounds — Bellman-Ford as bounded
    semi-naive iteration (the weighted sibling of ``shortest_hops``).

    edges: (src, dst, w); sources: (node).  Each round relaxes every
    edge once (dist-join-edges, union, min-aggregate) — per-round cost
    is one shuffle keyed by node, the frontier never materializes a
    pair space, and the bounded round count mirrors the unrolled-CTE
    oracle exactly (min over identical candidate sets of exact double
    path sums, so the result hash-matches any engine)."""
    dist = sources.select(F.col("node"), F.lit(0.0).alias("dist"))
    for i in range(rounds):
        relax = dist.join(edges, dist["node"] == edges["src"]).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = dist.unionByName(relax).groupBy("node").agg(F.min("dist").alias("dist"))
        # Bounded rounds need no fixpoint probe, so nothing forces a
        # job per round: mark a LAZY checkpoint every third round
        # (enough to keep lineage/codegen bounded — each groupBy is a
        # shuffle boundary anyway) and let the caller's single action
        # materialize the whole chain.  9 eager jobs -> 1 job cascade,
        # ~2x wall at sf0.1.  plan_checkpoint honors the
        # reliableCheckpoint switch like every other loop.
        if (i + 1) % 3 == 0 or i == rounds - 1:
            dist = plan_checkpoint(dist)
    return dist


MAX_FEATURE_FANOUT = 1000


def node_jaccard(
    bipartite: DataFrame,
    node_col: str,
    feature_col: str,
    k: int = 20,
    max_fanout: int = MAX_FEATURE_FANOUT,
) -> DataFrame:
    """(s1, s2, inter, jaccard): top-k node pairs by Jaccard
    similarity of their feature/neighbor sets — the link-prediction /
    entity-resolution primitive (e.g. suppliers ranked by shared part
    catalogs).

    Candidate pairs are generated ONLY through shared features (a
    self-join keyed on the feature column), so the cost is
    sum-over-features(deg²) — bounded by feature fan-out, never the
    node-count quadratic.  Hot-feature cap (the 100 TB guard, in the
    function — not deferred to the caller): a feature shared by more
    than ``max_fanout`` nodes would alone contribute deg² pair rows
    (one stop-word-like tag = a full cross join) while carrying almost
    no similarity signal — exactly IDF's rationale — so features over
    the cap are dropped from BOTH pair generation and the degree
    counts (jaccard stays a true Jaccard over the filtered feature
    space).  The filter is one aggregate on the join key the self-join
    already shuffles on.  Use :func:`hot_features` to audit what was
    dropped.  Integer intersection/degree counts; one rounded double
    division at the end."""
    ps = bipartite.select(
        F.col(feature_col).alias("p"), F.col(node_col).alias("s")
    ).distinct()
    keep = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("_fan"))
        .where(F.col("_fan") <= max_fanout)
        .select("p")
    )
    ps = ps.join(keep, "p", "left_semi").transform(plan_checkpoint)
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = ps.select("p", F.col("s").alias("s1"))
    b = ps.select("p", F.col("s").alias("s2"))
    pairs = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "s1", "s2")
        .limit(k)
    )


def adamic_adar(
    bipartite: DataFrame,
    node_col: str,
    feature_col: str,
    k: int = 20,
    max_fanout: int = MAX_FEATURE_FANOUT,
) -> DataFrame:
    """(s1, s2, inter, aa): top-k node pairs by Adamic-Adar score —
    the frequency-weighted link-prediction sibling of
    :func:`node_jaccard`: each shared feature c contributes
    ``1/ln(fanout(c))``, so rare shared features count more than
    ubiquitous ones (the same rationale as IDF, but per-feature
    inside the score rather than as a filter).

    Same scale shape as node_jaccard: candidates ONLY via the
    shared-feature self-join (cost Σ_c fanout(c)², never node²) with
    the hot-feature cap on both generation and scoring.  Fanout-1
    features are filtered from the fan table BEFORE the weight is
    evaluated: they can never form a pair, and under ANSI mode
    1/ln(1) would raise DIVIDE_BY_ZERO at the weight expression even
    though no pair stage ever reads it.  With fan ≥ 2,
    ln(fanout) ≥ ln 2 > 0.  The per-feature weight is computed
    ONCE in the (broadcastable) fan table as a 1e9 fixed-point
    BIGINT — the Σ fan² pair stage then pays one integer add per
    row, not a log+round+decimal-cast (measured 5× on the pair
    stage), the sum stays associative/engine-portable, and the cap
    bounds it far from bigint overflow."""
    ps = bipartite.select(
        F.col(feature_col).alias("p"), F.col(node_col).alias("s")
    ).distinct()
    fan = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("fan"))
        .where((F.col("fan") >= 2) & (F.col("fan") <= max_fanout))
        .select(
            "p",
            F.round(F.lit(1e9) / F.log(F.col("fan").cast("double")), 0)
            .cast("bigint")
            .alias("_w9"),
        )
    )
    from pyspark.sql.functions import broadcast

    ps = ps.join(broadcast(fan), "p").transform(plan_checkpoint)
    a = ps.select("p", F.col("s").alias("s1"), "_w9")
    b = ps.select("p", F.col("s").alias("s2"))
    pairs = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("inter"), F.sum("_w9").alias("_aa9"))
    )
    return (
        pairs.select(
            "s1",
            "s2",
            "inter",
            F.round(F.col("_aa9").cast("double") / F.lit(1e9), 6).alias("aa"),
        )
        .orderBy(F.col("aa").desc(), "s1", "s2")
        .limit(k)
    )


def hot_features(
    bipartite: DataFrame,
    node_col: str,
    feature_col: str,
    max_fanout: int = MAX_FEATURE_FANOUT,
) -> DataFrame:
    """(feature, fanout): the features :func:`node_jaccard` drops
    under its fan-out cap — the audit a pipeline logs next to the
    similarity output (same discipline as the LSH template-cluster
    diversion in dedup)."""
    ps = bipartite.select(
        F.col(feature_col).alias("feature"), F.col(node_col).alias("s")
    ).distinct()
    return (
        ps.groupBy("feature")
        .agg(F.count(F.lit(1)).alias("fanout"))
        .where(F.col("fanout") > max_fanout)
    )


def hits(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(node, hub, auth): HITS hubs-and-authorities after ``iters``
    fixed iterations with L1 normalization — the link-analysis
    companion of PageRank (Kleinberg 1999).

    Same determinism treatment as ``pagerank``: per-edge
    contributions floor-scale to 1e15 integers before summing (exact,
    order-free), and each normalization divides two integer-derived
    doubles — bit-identical on any engine / partitioning, so the
    oracle replays the iterations exactly.  Per round: two keyed
    join+agg shuffles; lineage bounded by checkpointing."""
    with no_constraint_propagation(edges.sparkSession):
        e = edges.select("src", "dst").distinct().transform(loop_checkpoint)
        nodes, n_nodes = loop_checkpoint_count(
            e.select(F.col("src").alias("node")).union(e.select("dst")).distinct()
        )
        hubs = nodes.withColumn("hub", F.lit(1.0))

        def normalize(raw: DataFrame, val: str, out: str) -> DataFrame:
            # the global L1 total is a sum of 1e15-scaled integers —
            # decimal(38,0) keeps it exact past 2^63 (node counts
            # beyond ~9k overflow a bigint; DuckDB's HUGEINT widens
            # automatically, so this is what keeps parity too)
            total = raw.agg(F.sum(F.col(val).cast("decimal(38,0)")).alias("_s"))
            return (
                nodes.join(raw, "node", "left_outer")
                .crossJoin(F.broadcast(total))
                .select(
                    "node",
                    (
                        F.coalesce(F.col(val), F.lit(0)).cast("double")
                        / F.col("_s").cast("double")
                    ).alias(out),
                )
            )

        # lazy per-half-round checkpoints chain the rounds into one
        # cascade; the eager final checkpoint executes it inside the
        # tuned context (state-clamped shuffle width, AQE off)
        with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
            for _ in range(iters):
                auth_raw = (
                    e.join(hubs, e["src"] == hubs["node"])
                    .groupBy(F.col("dst").alias("node"))
                    .agg(
                        F.sum(F.floor(F.col("hub") * F.lit(1e15)).cast("decimal(38,0)")).alias(
                            "ai"
                        )
                    )
                )
                auth = normalize(auth_raw, "ai", "auth").transform(plan_checkpoint)
                hub_raw = (
                    e.join(auth, e["dst"] == auth["node"])
                    .groupBy(F.col("src").alias("node"))
                    .agg(
                        F.sum(F.floor(F.col("auth") * F.lit(1e15)).cast("decimal(38,0)")).alias(
                            "hi"
                        )
                    )
                )
                hubs = normalize(hub_raw, "hi", "hub").transform(plan_checkpoint)
            out = loop_checkpoint(
                hubs.join(auth, "node").select(
                    "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
                )
            )
    return out


def strongly_connected_components(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(node, component): directed SCCs — component = the minimum
    node id of the node's mutual-reachability class (reference
    exposes only undirected reach via path queries; SCC is the
    directed-graph completion of ``connected_components``).

    Algorithm: trim + coloring (Orzan; the multistep family of
    distributed SCC).  Per outer round: (1) TRIM to fixpoint — a node
    with no in-edge or no out-edge in the remaining graph is a
    singleton SCC, peeled immediately (semi-join, no pair
    materialization); (2) FORWARD COLORING — every node takes the min
    node id that reaches it, propagated hop-by-hop to fixpoint;
    (3) BACKWARD MARK — a color class's root (color == own id) plus
    the same-color nodes that reach it form exactly the root's SCC
    (any path from a class member back to its root stays inside the
    class — a smaller-id node touching the path would recolor the
    root), peeled in parallel across ALL color classes.  Outer rounds
    ~ depth of the condensation DAG; state is O(V + E) per round —
    never the O(n²) transitive closure the naive mutual-reachability
    formulation materializes (one social-graph-sized SCC would make
    |closure| = n² rows; see ``scc_by_closure``, kept as the
    small-graph audit).  Labels match the closure form bit-for-bit:
    SCCs are algorithm-independent and whole classes peel together,
    so the class min is the global min.
    """
    base = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).distinct()
    rem, n_rem = loop_checkpoint_count(
        base.select(F.col("src").alias("n")).union(base.select(F.col("dst"))).distinct()
    )
    e, n_e = loop_checkpoint_count(base)

    # Size the loop's shuffles to the FRONTIER, not the session
    # default: every inner round shuffles the remaining node/edge
    # state, and a 32-way exchange over a few thousand rows is pure
    # task-scheduling overhead repeated tens of times.  Restored on
    # exit; the first materializations above already ran at session
    # width, so only loop state is affected.
    spark = edges.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    loop_parts = max(1, min(int(prev_parts), -(-n_rem // 50_000)))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    # AQE re-plans (and schedules a job per) EVERY exchange — on the
    # loop's frontier-sized state that is pure per-round overhead
    # (measured ~18 % of SCC wall time at sf0.1), and its main
    # benefit, small-partition coalescing, is already delivered by
    # the frontier-sized partition clamp above.  Restored on exit;
    # only loop-internal plans are affected.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # Materialize the labeling before handing it back: the loop's
        # result is a union of one lazy anti-join / mark frame per
        # peel, and callers consume it MORE THAN ONCE (condensation
        # joins it on both endpoints, topo layering reads it again
        # for the node set) — every consumption would re-execute the
        # whole multi-branch union under the session's full shuffle
        # width and AQE re-planning (measured 4.4 s per evaluation at
        # sf0.1 vs ~0.5 s materialized here under the loop's tuned
        # conf).  One eager checkpoint inside the tuned scope turns
        # the result into a single leaf.  Constraint propagation is
        # scoped off like the closure loops in operators/path.py: it
        # proves nothing here (inputs are not-null-filtered up front)
        # and its optimizer cost repeats on every one of the loop's
        # ~60 tiny per-round jobs.
        with no_constraint_propagation(spark):
            return loop_checkpoint(
                _scc_loop(e, n_e, rem, n_rem, _restrict_fn, max_iters),
                size_hint=n_rem,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def _restrict_fn(edges_df: DataFrame, nodes_df: DataFrame) -> DataFrame:
    return (
        edges_df.join(nodes_df.select(F.col("n").alias("src")), "src", "left_semi")
        .join(nodes_df.select(F.col("n").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
    )


def _scc_loop(e, n_e, rem, n_rem, _restrict, max_iters: int) -> DataFrame:
    # Empty typed seed: an empty/all-NULL edge frame must yield an
    # empty (node, component) frame, not an IndexError — and it keeps
    # the union chain below total when the loop never appends.
    empty = rem.select(
        F.col("n").alias("node"), F.col("n").alias("component")
    ).limit(0)
    done: list[DataFrame] = [empty]

    for _ in range(max_iters):
        if n_rem == 0:
            break
        # (1) trim: peel zero-in/zero-out nodes until none remain.
        # One Spark job per peel round: ``live`` (nodes with BOTH an
        # in- and an out-edge in the remaining graph) is exactly the
        # next ``rem``, so counting it doubles as the fixpoint probe
        # (n_live == n_rem ⇒ nothing trivial this round), the peeled
        # frame is the lazy anti-join of two already-materialized
        # leaves, and the restricted edge set is checkpointed *lazily*
        # so its blocks materialize inside the NEXT round's count job.
        # (Unrolling several lazy peels per job was tried and is a
        # LOSS: the semi-join/union structure duplicates subplans 4×
        # per level, and the duplicated exchanges execute for real —
        # job count drops but wall time rises.)
        def _live_of(ed):
            return (
                ed.select(F.col("src").alias("n"), F.lit(1).alias("o"), F.lit(0).alias("i"))
                .union(ed.select("dst", F.lit(0), F.lit(1)))
                .groupBy("n")
                .agg(F.max("o").alias("o"), F.max("i").alias("i"))
                .where((F.col("o") == 1) & (F.col("i") == 1))
                .select("n")
            )

        while True:
            live, n_live = loop_checkpoint_count(_live_of(e), size_hint=n_rem)
            if n_live == n_rem:
                break
            done.append(
                rem.join(live, "n", "left_anti").select(
                    F.col("n").alias("node"), F.col("n").alias("component")
                )
            )
            rem, n_rem = live, n_live
            if n_rem == 0:
                break
            e = plan_checkpoint(_restrict(e, rem), size_hint=n_e)
        if n_rem == 0:
            break
        # (2) forward min-color propagation to fixpoint, with a
        # pointer-jumping step: color[v] is always the id of SOME
        # node that reaches v, so color[color[v]] reaches color[v]
        # reaches v — taking the min of (own color, in-neighbors'
        # colors, color's color) per round is sound and turns the
        # round count from the longest condensation path L into
        # O(log L): the hop step alone walked a chain one edge per
        # Spark round.
        colors = rem.select(F.col("n").alias("node"), F.col("n").alias("color"))
        while True:
            inc = (
                e.join(
                    colors.select(F.col("node").alias("src"), F.col("color").alias("c_in")),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("c_in").alias("c_min"))
            )
            jump = colors.join(
                colors.select(
                    F.col("node").alias("color"), F.col("color").alias("c_jump")
                ),
                "color",
            ).select("node", "c_jump")
            stepped = (
                colors.join(inc, "node", "left_outer")
                .join(jump, "node", "left_outer")
                .select(
                    "node",
                    F.least(
                        F.col("color"),
                        F.coalesce("c_min", "color"),
                        F.coalesce("c_jump", "color"),
                    ).alias("color"),
                    F.when(
                        (
                            F.col("c_min").isNotNull()
                            & (F.col("c_min") < F.col("color"))
                        )
                        | (
                            F.col("c_jump").isNotNull()
                            & (F.col("c_jump") < F.col("color"))
                        ),
                        1,
                    )
                    .otherwise(0)
                    .alias("_chg"),
                )
            )
            stepped, n_chg = loop_checkpoint_sum(stepped, "_chg", size_hint=n_rem)
            colors = stepped.select("node", "color")
            if n_chg == 0:
                break
        # (3) backward mark from each class root over same-color edges
        same = plan_checkpoint(
            e.join(
                colors.select(F.col("node").alias("src"), F.col("color").alias("c_s")),
                "src",
            )
            .join(
                colors.select(F.col("node").alias("dst"), F.col("color").alias("c_d")),
                "dst",
            )
            .where(F.col("c_s") == F.col("c_d"))
            .select("src", "dst", F.col("c_s").alias("color"))
        )
        # One job per mark round: grow-and-count in the same action
        # (monotone set union — the count stalls exactly at the
        # reachability fixpoint), instead of a count job for the
        # frontier plus an eager checkpoint job for the union.  The
        # root seed itself is never counted separately: the first
        # grow already includes it via the union.
        marked = plan_checkpoint(
            colors.where(F.col("color") == F.col("node")), size_hint=n_rem
        )
        n_marked = -1
        while True:
            grown, n_grown = loop_checkpoint_count(
                same.join(
                    marked.select(F.col("node").alias("dst"), "color"),
                    ["dst", "color"],
                )
                .select(F.col("src").alias("node"), "color")
                .union(marked)
                .distinct(),
                size_hint=n_rem,
            )
            if n_grown == n_marked:
                break
            marked, n_marked = grown, n_grown
        done.append(marked.select("node", F.col("color").alias("component")))
        peeled = marked.select(F.col("node").alias("n"))
        # marked ⊆ rem, so the surviving count is exact arithmetic —
        # no count job for the peel itself.
        rem = plan_checkpoint(rem.join(peeled, "n", "left_anti"), size_hint=n_rem)
        n_rem -= n_marked
        e = plan_checkpoint(_restrict(e, rem), size_hint=n_e)
    if n_rem > 0:
        raise RuntimeError(
            f"strongly_connected_components did not converge in {max_iters} "
            f"outer rounds ({n_rem} nodes unlabeled); the condensation DAG "
            "is deeper than max_iters — raise max_iters"
        )
    out = done[0]
    for frame in done[1:]:
        out = out.unionByName(frame)
    return out


_METADATA_SCC_LIMIT = 100_000


def scc_metadata(
    edges: DataFrame,
    limit: int = _METADATA_SCC_LIMIT,
    max_iters: int = 50,
) -> DataFrame:
    """(node, component): SCCs of a METADATA-sized graph — the schema
    subsumption hierarchy, whose size is set by the human-authored
    schema and does not grow with instance data.  Same design as
    versioning/dag.py's driver walk over the commit graph: under
    ``limit`` distinct edge rows the graph is collected and labeled
    with an iterative Tarjan on the driver (each round of the
    distributed loop costs more in plan analysis and job scheduling
    than the whole walk — a dozen sequential one-task jobs for a
    ten-edge hierarchy); above it, the distributed
    ``strongly_connected_components`` loop is the fallback, so a
    pathological caller still converges at scale.  The guard is one
    ``limit(N+1)`` collect, not a count() job plus a second collect.

    Labels are the class minimum node id — identical to the
    distributed operator (SCC membership is algorithm-independent and
    Python's string ordering agrees with Spark's binary UTF-8
    ordering, both being codepoint-monotone), so the two paths are
    interchangeable bit-for-bit."""
    base = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    rows = base.limit(limit + 1).collect()
    if len(rows) > limit:
        return strongly_connected_components(edges, max_iters)

    adj: dict = {}
    nodes: set = set()
    for r in rows:
        nodes.add(r.src)
        nodes.add(r.dst)
        adj.setdefault(r.src, []).append(r.dst)

    # Iterative Tarjan (explicit stack — schema hierarchies are
    # shallow but recursion limits are not worth betting on).
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp_of: dict = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        work = [(root, iter(adj.get(root, ())))]
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                label = min(comp)
                for w in comp:
                    comp_of[w] = label

    src_type = base.schema["src"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", src_type, True),
            T.StructField("component", src_type, True),
        ]
    )
    return local_frame(
        edges.sparkSession, [(n, comp_of[n]) for n in nodes], out_schema
    )


def scc_by_closure(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(node, component): SCCs via the full mutual-reachability
    closure — R = plus-closure ∪ identity joined with its transpose
    on both endpoints.  O(|closure|) = O(n²) on one big SCC, so this
    is strictly the SMALL-GRAPH AUDIT for
    ``strongly_connected_components`` (the two must agree exactly;
    SCC labels are algorithm-independent).  Not registered as a
    scale path."""
    from terminus_server_spark.operators.path import transitive_closure

    base = edges.select("src", "dst").where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    nodes = (
        base.select(F.col("src").alias("n"))
        .union(base.select(F.col("dst")))
        .distinct()
    )
    reach = (
        transitive_closure(base, max_iters=max_iters)
        .union(nodes.select(F.col("n").alias("src"), F.col("n").alias("dst")))
        .distinct()
    ).transform(loop_checkpoint)
    back = reach.select(F.col("dst").alias("b_src"), F.col("src").alias("b_dst"))
    mutual = reach.join(
        back,
        (F.col("src") == F.col("b_src")) & (F.col("dst") == F.col("b_dst")),
    ).select(F.col("src").alias("node"), F.col("dst").alias("mate"))
    return mutual.groupBy("node").agg(F.min("mate").alias("component"))


def harmonic_centrality(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """(node, n_reached, harmonic): bounded-radius harmonic centrality
    — Σ 1/d(v,u) over nodes u reachable from v within ``max_hops``
    (the standard practical form: unbounded closeness needs the full
    all-pairs diameter; a 2-4 hop radius captures the local influence
    signal and bounds state at |V|·|ball| instead of |V|²).

    Built on the multi-source BFS (shortest_hops) from every source
    at once — frontier rows are (source, node) pairs, so the work is
    the neighborhood function's, not |V| sequential BFS runs.  Each
    1/d term is cast to decimal(28,12) before the per-source sum so
    the centrality is partition-independent.  At extreme scale swap
    the exact ball for a HyperBall/HLL neighborhood sketch; this
    operator is the exact form that validates it."""
    sp = shortest_hops(edges, sources, max_iters=max_hops)
    term = (F.lit(1.0) / F.col("hops").cast("double")).cast("decimal(28,12)")
    agg = (
        sp.where(F.col("hops") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum(term).alias("_h"),
        )
        .withColumnRenamed("source", "node")
    )
    return sources.select("node").join(agg, "node", "left").select(
        "node",
        F.coalesce(F.col("n_reached"), F.lit(0)).cast("bigint").alias("n_reached"),
        F.round(F.coalesce(F.col("_h").cast("double"), F.lit(0.0)), 6).alias(
            "harmonic"
        ),
    )


def neighborhood_sketch_audit(
    edges: DataFrame, sources: DataFrame, hops: int = 3, k: int = 8
) -> DataFrame:
    """(node, n_sketch, est, n_exact, rel_err): HyperBall-style
    neighborhood-function estimation — each node carries a KMV sketch
    of its h-hop ball, merged along edges for ``hops`` rounds — AND
    the exact ball size it approximates, so the estimator ships with
    its own error audit (the same audited-approximation pattern as
    dedup_lsh_recall).

    This is the 100 TB form of ball-size/centrality computation: the
    exact multi-source BFS carries |V|·|ball| (source, node) state,
    while the sketch carries |V|·k hashes regardless of ball size —
    HyperBall (Boldi & Vigna) with a KMV sketch instead of HLL
    because md5-derived k-min fractions are engine-portable and
    bit-deterministic (the module's KMV convention,
    pipeline.kmv_distinct_estimate).  Merge = union of sorted k-min
    lists, re-sorted, clipped to k — associative and exact, so round
    results are partition-independent; each round is plan-checkpointed
    (the state feeds both its own carry-over and the edge
    contribution).  Estimate: exact |sketch| while the ball is
    smaller than k, else (k-1)/theta."""
    from terminus_server_spark.checkpoint import plan_checkpoint

    frac = (
        F.conv(F.substring(F.md5(F.col("node")), 1, 8), 16, 10).cast("double")
        / F.lit(float(16**8))
    )
    nodes, n_nodes = loop_checkpoint_count(
        sources.select("node")
        .union(edges.select(F.col("src").alias("node")))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = edges.select("src", "dst").transform(loop_checkpoint)
    state = nodes.select("node", F.array(frac).alias("sk"))
    # the merge rounds chain lazily; the eager final checkpoint runs
    # the cascade inside the tuned context (state is |V|·k hashes, so
    # the clamp sizes shuffles to the node count, AQE off per round)
    with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
        for _ in range(hops):
            contrib = e.join(
                state.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("node"), "sk")
            state = plan_checkpoint(
                state.unionByName(contrib)
                .groupBy("node")
                .agg(
                    F.slice(
                        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sk")))),
                        1,
                        k,
                    ).alias("sk")
                )
            )
        state = loop_checkpoint(state)
    est = F.when(F.size("sk") < k, F.size("sk").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.element_at("sk", k)
    )
    sketched = state.select("node", F.size("sk").alias("n_sketch"), est.alias("est"))
    exact = (
        shortest_hops(edges, sources, max_iters=hops)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .withColumnRenamed("source", "node")
    )
    return (
        sources.select("node")
        .join(sketched, "node")
        .join(exact, "node")
        .select(
            "node",
            "n_sketch",
            F.round("est", 6).alias("est"),
            "n_exact",
            F.round(
                F.abs(F.col("est") - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )


def harmonic_sketch_audit(
    edges: DataFrame, sources: DataFrame, hops: int = 3, k: int = 8
) -> DataFrame:
    """(node, h_est, h_exact, rel_err): harmonic centrality from the
    HyperBall recurrence — Σ_r (|B_r| − |B_{r−1}|)/r over estimated
    ball sizes — audited against the exact bounded-radius harmonic
    (harmonic_centrality).  THIS is how centralities are actually
    computed at 100 TB (Boldi & Vigna's HyperBall): per-node state is
    k hashes instead of the |ball| pair set, and the per-round merge
    is the same edge join either way.

    Ball estimates are monotone across rounds (the k-min set only
    improves), so the per-round deltas are nonnegative; every term is
    derived from md5-exact sketch state, so the ESTIMATE itself is
    bit-reproducible — approximate vs the graph, exact vs the
    oracle."""
    from terminus_server_spark.checkpoint import plan_checkpoint

    frac = (
        F.conv(F.substring(F.md5(F.col("node")), 1, 8), 16, 10).cast("double")
        / F.lit(float(16**8))
    )
    nodes, n_nodes = loop_checkpoint_count(
        sources.select("node")
        .union(edges.select(F.col("src").alias("node")))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = edges.select("src", "dst").transform(loop_checkpoint)
    state = nodes.select("node", F.array(frac).alias("sk"))

    def est_col():
        return F.when(F.size("sk") < k, F.size("sk").cast("double")).otherwise(
            F.lit(float(k - 1)) / F.element_at("sk", k)
        )

    ests = state.select("node", est_col().alias("est_0"))
    # same tuned-cascade shape as neighborhood_sketch_audit
    with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
        for r in range(1, hops + 1):
            contrib = e.join(
                state.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("node"), "sk")
            state = plan_checkpoint(
                state.unionByName(contrib)
                .groupBy("node")
                .agg(
                    F.slice(
                        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sk")))),
                        1,
                        k,
                    ).alias("sk")
                )
            )
            ests = ests.join(state.select("node", est_col().alias(f"est_{r}")), "node")
        ests = loop_checkpoint(ests)
    h_est = _sum_cols(
        [
            (F.col(f"est_{r}") - F.col(f"est_{r - 1}")) / F.lit(float(r))
            for r in range(1, hops + 1)
        ]
    )
    exact = harmonic_centrality(edges, sources, max_hops=hops).select(
        "node", F.col("harmonic").alias("h_exact")
    )
    return (
        sources.select("node")
        .join(ests, "node")
        .join(exact, "node")
        .select(
            "node",
            F.round(h_est, 6).alias("h_est"),
            "h_exact",
            F.round(
                F.when(F.col("h_exact") > 0, F.abs(h_est - F.col("h_exact")) / F.col("h_exact"))
                .otherwise(F.abs(h_est)),
                6,
            ).alias("rel_err"),
        )
    )


def _sum_cols(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def effective_diameter_sketch(
    edges: DataFrame, sources: DataFrame, hops: int = 3, k: int = 8
) -> DataFrame:
    """(r, np_est, frac, is_eff): the HyperANF neighborhood function —
    NP(r) = Σ_v |B_r(v)| estimated from the per-round KMV ball
    sketches — and the effective diameter read off it (smallest r
    whose cumulative pair fraction reaches 0.9).  Running the exact
    version needs all-pairs distances; the sketch form is how
    four-degrees-of-separation-style measurements are actually done
    (Boldi & Vigna, HyperANF).

    Per-node estimates are cast to decimal(28,12) before the global
    sum (order-free), so NP(r), the fractions, and the effective
    diameter are bit-reproducible.  One aggregate over the |V|·k
    sketch state per round — no pairwise anything."""
    from terminus_server_spark.checkpoint import plan_checkpoint

    frac_hash = (
        F.conv(F.substring(F.md5(F.col("node")), 1, 8), 16, 10).cast("double")
        / F.lit(float(16**8))
    )
    nodes, n_nodes = loop_checkpoint_count(
        sources.select("node")
        .union(edges.select(F.col("src").alias("node")))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = edges.select("src", "dst").transform(loop_checkpoint)
    state = nodes.select("node", F.array(frac_hash).alias("sk"))

    def est_col():
        return F.when(F.size("sk") < k, F.size("sk").cast("double")).otherwise(
            F.lit(float(k - 1)) / F.element_at("sk", k)
        )

    rounds = [state.select("node", est_col().alias("est_0"))]
    # same tuned-cascade shape as neighborhood_sketch_audit
    with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
        for r in range(1, hops + 1):
            contrib = e.join(
                state.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("node"), "sk")
            state = plan_checkpoint(
                state.unionByName(contrib)
                .groupBy("node")
                .agg(
                    F.slice(
                        F.array_sort(F.array_distinct(F.flatten(F.collect_list("sk")))),
                        1,
                        k,
                    ).alias("sk")
                )
            )
            rounds.append(state.select("node", est_col().alias(f"est_{r}")))
        ests = rounds[0]
        for fr in rounds[1:]:
            ests = ests.join(fr, "node")
        # restrict the neighborhood function to the tracked sources
        ests = loop_checkpoint(sources.select("node").join(ests, "node"))
    sums = ests.agg(
        *[
            F.sum(F.col(f"est_{r}").cast("decimal(28,12)")).alias(f"np_{r}")
            for r in range(hops + 1)
        ]
    )
    arms = []
    for r in range(hops + 1):
        frac = F.col(f"np_{r}").cast("double") / F.col(f"np_{hops}").cast("double")
        prev = (
            F.col(f"np_{r - 1}").cast("double") / F.col(f"np_{hops}").cast("double")
            if r > 0
            else F.lit(0.0)
        )
        arms.append(
            sums.select(
                F.lit(r).alias("r"),
                F.round(F.col(f"np_{r}").cast("double"), 6).alias("np_est"),
                F.round(frac, 6).alias("frac"),
                ((frac >= 0.9) & (prev < 0.9)).alias("is_eff"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def lpa_communities(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic synchronous label propagation: (node, community).

    Parity: community detection sits beside components/PageRank in the
    analytics family terminus-server reaches through WOQL path queries
    (SURVEY §2.2); classic async LPA is visit-order dependent — useless
    for an engine whose every operator carries an exact oracle — so
    this is the synchronous variant with a total tie-break: every node
    starts labeled with itself, and each round adopts the most frequent
    label among its undirected neighbors, ties broken by the smallest
    label.  Fixed ``rounds`` (not convergence) keeps the result a pure
    function of the edge set.

    Scale: each round is two key-shuffles — groupBy(node, label) with
    map-side partial counts, then an argmax per node expressed as
    max(struct(n, -label)) so it also partial-aggregates (no window, no
    single-partition stage).  Labels checkpoint every round, so lineage
    stays bounded on deep runs; state is |V| rows regardless of rounds.
    """
    und = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(plan_checkpoint)
    )
    labels, n_lab = loop_checkpoint_count(
        und.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    )
    with loop_tuning(edges.sparkSession, n_lab):
        for _ in range(rounds):
            nbr = und.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            ).select(F.col("src").alias("node"), "label")
            cnt = nbr.groupBy("node", "label").agg(F.count(F.lit(1)).alias("n"))
            # min(struct(-n, label)) = most-frequent label, smallest-label
            # tie-break — struct ordering works for string AND integral node
            # ids (a bigint cast would NULL out 'C/…'-style ids), and min()
            # still partial-aggregates map-side.
            labels = (
                cnt.groupBy("node")
                .agg(F.min(F.struct((-F.col("n")).alias("negn"), F.col("label").alias("lbl"))).alias("m"))
                .select("node", F.col("m.lbl").alias("label"))
                .transform(loop_checkpoint)
            )
    return labels.select("node", F.col("label").alias("community"))


def label_spread(
    edges: DataFrame, seeds: DataFrame, rounds: int = 3
) -> DataFrame:
    """(node, label): SEMI-SUPERVISED label spreading — a small seed
    set carries ground-truth labels and everything else adopts the
    modal neighbor label, synchronously, for a fixed number of rounds
    (Zhu & Ghahramani's label propagation with clamped seeds; the
    auto-labeling complement of ``lpa_communities``, which starts
    every node as its own community).  Per round:
    label_{t+1}(v) = seed(v) if seeded, else the most frequent label
    among v's undirected neighbors' labels_t (count desc, smallest
    label tie-break), else — no labeled neighbor yet — the carried
    labels_t(v).  Seeds are CLAMPED (they never flip), adoption is
    monotone in reach, and fixed rounds keep the result a pure
    function of (edges, seeds).

    Scale: each round is the LPA shape — groupBy(node, label) with
    map-side partial counts, argmax via min(struct(-n, label)) (no
    window), three broadcast-or-key left joins to apply clamp /
    adopt / carry; state is |V| rows regardless of rounds, loop-tuned
    shuffles, labels checkpointed per round."""
    und = _symmetrize(edges).transform(plan_checkpoint)
    nodes, n_nodes = _edge_nodes(und)
    seed_l = seeds.select("node", F.col("label").alias("_sl")).transform(
        loop_checkpoint
    )
    labels = nodes.join(seed_l, "node", "left_outer").select(
        "node", F.col("_sl").alias("label")
    )
    with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
        for _ in range(rounds):
            nbr = (
                und.join(
                    labels.select(F.col("node").alias("src"), F.col("label").alias("l")),
                    "src",
                )
                .where(F.col("l").isNotNull())
                .groupBy(F.col("dst").alias("node"), "l")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            best = (
                nbr.groupBy("node")
                .agg(
                    F.min(
                        F.struct((-F.col("n")).alias("negn"), F.col("l").alias("lbl"))
                    ).alias("m")
                )
                .select("node", F.col("m.lbl").alias("_bl"))
            )
            labels = (
                nodes.join(seed_l, "node", "left_outer")
                .join(best, "node", "left_outer")
                .join(
                    labels.select("node", F.col("label").alias("_pl")),
                    "node",
                    "left_outer",
                )
                .select(
                    "node",
                    F.coalesce("_sl", "_bl", "_pl").alias("label"),
                )
                .transform(loop_checkpoint)
            )
    return labels


def reciprocity(edges: DataFrame) -> DataFrame:
    """One row (n_edges, n_reciprocated, reciprocity): the fraction of
    directed edges whose reverse edge also exists — the standard
    directed-graph reciprocity statistic.  A self-semi-join on the
    reversed key pair and two counts; map-side distinct partials, no
    driver state, ratio computed in the plan."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    return e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        recip.agg(F.count(F.lit(1)).alias("n_reciprocated"))
    ).select(
        "n_edges",
        "n_reciprocated",
        (F.col("n_reciprocated").cast("double") / F.col("n_edges").cast("double")).alias(
            "reciprocity"
        ),
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """One row (n_edges, assortativity): Pearson correlation between
    the out-degree of src and in-degree of dst across directed edges
    — the Newman assortativity coefficient in its directed form.

    Every moment (Σx, Σy, Σxy, Σx², Σy²) is an integer sum of bigint
    degrees, so the statistic is exact and order-free in any engine;
    only the final closed-form division is floating point.  Dataflow:
    two degree aggregates joined onto the edge list (both keyed joins
    AQE can broadcast when the degree tables are small), one global
    aggregate of five integer partials."""
    out_d = edges.groupBy(F.col("src").alias("n")).agg(F.count(F.lit(1)).alias("xd"))
    in_d = edges.groupBy(F.col("dst").alias("n")).agg(F.count(F.lit(1)).alias("yd"))
    pairs = (
        edges.join(out_d, edges["src"] == out_d["n"])
        .drop("n")
        .join(in_d, edges["dst"] == in_d["n"])
        .select(F.col("xd").cast("bigint").alias("x"), F.col("yd").cast("bigint").alias("y"))
    )
    # moments in decimal: a bigint x*y (and its bigint SUM over the
    # edge set) overflows int64 once a hub's degree reaches ~1e8 —
    # decimal(19,0) operands multiply in decimal(38,0), exact at any
    # degree distribution (same discipline as events_cuped/agg_corr)
    dx = F.col("x").cast("decimal(19,0)")
    dy = F.col("y").cast("decimal(19,0)")
    m = pairs.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dy * dy).cast("decimal(38,0)")).alias("syy"),
    )
    n = F.col("n_edges").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return m.select("n_edges", (num / den).alias("assortativity"))


def topo_layers(nodes: DataFrame, edges: DataFrame, max_iters: int = 100) -> DataFrame:
    """(node, layer): longest-path depth of every node of an acyclic
    graph — the topological layering a scheduler executes level by
    level (and the order dependency analysis reads off a
    condensation).  BSP relaxation: every round each node takes
    ``max(own, 1 + max over in-neighbors)``; rounds = DAG depth,
    state one row per node — the standard bounded-round shape, with
    the fixpoint probe fused into the materializing job.

    ``nodes``: one column ``node``; ``edges``: (src, dst), assumed
    acyclic (run condensation first — on a cyclic input the layer
    relaxation would never converge, so exhausting ``max_iters``
    raises rather than returning wrong depths).

    Frontier-restricted: only nodes whose layer CHANGED last round
    re-emit candidates (a node's layer is monotone and every
    in-neighbor's final layer is emitted on its last change, so the
    max still accumulates exactly); the frontier is broadcast once it
    fits, turning the per-round edge join map-side.  Edges are
    materialized once up front (callers hand in computed DAGs —
    typically a condensation — and re-running that lineage every
    round would dominate), and the loop's shuffles are sized to the
    node count, not the session default, as in SCC."""
    layers, n_nodes = loop_checkpoint_count(
        nodes.select(F.col("node"), F.lit(0).cast("bigint").alias("layer"))
    )
    edges, _ = loop_checkpoint_count(edges.select("src", "dst"))
    with loop_tuning(edges.sparkSession, n_nodes), no_constraint_propagation(
        edges.sparkSession
    ):
        frontier, n_front = layers, n_nodes
        for _ in range(max_iters):
            f_src = frontier.select(
                F.col("node").alias("src"), F.col("layer").alias("_sl")
            )
            if n_front <= 200_000:
                f_src = F.broadcast(f_src)
            cand = (
                edges.join(f_src, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg((F.max("_sl") + 1).alias("_cand"))
            )
            stepped = layers.join(cand, "node", "left_outer").select(
                "node",
                F.greatest(F.col("layer"), F.coalesce("_cand", F.col("layer"))).alias(
                    "layer"
                ),
                F.when(
                    F.col("_cand").isNotNull() & (F.col("_cand") > F.col("layer")), 1
                )
                .otherwise(0)
                .alias("_chg"),
            )
            stepped, n_chg = loop_checkpoint_sum(stepped, "_chg", size_hint=n_nodes)
            layers = stepped.select("node", "layer")
            if n_chg == 0:
                return layers
            frontier = stepped.where(F.col("_chg") == 1).select("node", "layer")
            n_front = n_chg
    raise RuntimeError(f"topo_layers did not converge in {max_iters} rounds (cycle?)")


def ktruss(edges: DataFrame, k: int = 4, max_iters: int = 30) -> DataFrame:
    """(a, b): the k-truss of the undirected graph — the maximal
    subgraph where every edge closes at least ``k-2`` triangles
    (cohesive-community mining; the edge-grain analogue of k-core and
    a much stronger filter against star/boilerplate shapes).

    Iterative support pruning with INCREMENTAL maintenance: the first
    round computes every edge's triangle support (one two-hop
    self-join keyed on the edge's endpoints — pairs never materialize
    beyond actual wedges); every later round recomputes support ONLY
    for survivor edges incident to a deleted edge's endpoint (any
    triangle (a,b,c) an edge (a,b) loses must have lost (a,c) or
    (b,c), both of which share an endpoint with (a,b)), carrying the
    stored support for untouched edges.  Cascade-deep graphs thus pay
    per round for the cascade's *frontier*, not a full wedge join.
    Edge state shrinks monotonically and is checkpointed per round;
    the k-truss is unique, so peel order cannot affect the result."""

    def _support(lhs, full):
        # triangle support of each lhs edge against the full survivor
        # set: wedge (a,b)+(a,c), closed iff (min,max)(b,c) is an edge
        adj = full.select("a", "b").union(
            full.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        return (
            lhs.join(adj.select(F.col("a"), F.col("b").alias("c")), "a")
            .where(F.col("c") != F.col("b"))
            .join(
                full.select(F.col("a").alias("_x"), F.col("b").alias("_y")),
                (F.least("b", "c") == F.col("_x"))
                & (F.greatest("b", "c") == F.col("_y")),
                "left_semi",
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("_sup"))
        )

    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
    )
    und, n_e = loop_checkpoint_count(und)
    need = k - 2
    if n_e == 0:
        return und
    # cur: (a, b, _sup) — stored support, exact vs the current edge set
    cur = und.join(_support(und, und), ["a", "b"], "left_outer").select(
        "a", "b", F.coalesce(F.col("_sup"), F.lit(0).cast("bigint")).alias("_sup")
    )
    cur, n_e = loop_checkpoint_count(cur, size_hint=n_e)
    with loop_tuning(edges.sparkSession, n_e), no_constraint_propagation(
        edges.sparkSession
    ):
        return _ktruss_loop(cur, n_e, need, max_iters, _support)


def _ktruss_loop(cur, n_e, need, max_iters, _support):
    for _ in range(max_iters):
        dropped = cur.where(F.col("_sup") < need)
        surv = cur.where(F.col("_sup") >= need).select("a", "b", "_sup")
        surv, n_surv = loop_checkpoint_count(surv, size_hint=n_e)
        if n_surv == n_e:
            return surv.select("a", "b")
        if n_surv == 0:
            return surv.select("a", "b")
        # endpoints of this round's deletions — only survivor edges
        # touching them can have lost a triangle
        dirty = (
            dropped.select(F.col("a").alias("n"))
            .union(dropped.select(F.col("b")))
            .distinct()
        )
        edges_only = surv.select("a", "b")
        touched = edges_only.join(
            dirty.select(F.col("n").alias("a")), "a", "left_semi"
        ).unionByName(
            edges_only.join(dirty.select(F.col("n").alias("b")), "b", "left_semi")
        ).distinct()
        fresh = touched.join(_support(touched, edges_only), ["a", "b"], "left_outer").select(
            "a", "b", F.coalesce(F.col("_sup"), F.lit(0).cast("bigint")).alias("_sup")
        )
        cur = (
            surv.join(touched, ["a", "b"], "left_anti")
            .unionByName(fresh)
        )
        cur, n_e = loop_checkpoint_count(cur, size_hint=n_surv)
    raise RuntimeError(f"ktruss did not converge in {max_iters} rounds")


def _edge_support(lhs: DataFrame, full: DataFrame) -> DataFrame:
    """(a, b, _sup): triangle support of each ``lhs`` edge within the
    ``full`` edge set — wedge (a,b)+(a,c) closed iff (min,max)(b,c)
    is a ``full`` edge.  Shared by the batch k-truss peel and the
    incremental maintenance below."""
    adj = full.select("a", "b").union(
        full.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return (
        lhs.join(adj.select(F.col("a"), F.col("b").alias("c")), "a")
        .where(F.col("c") != F.col("b"))
        .join(
            full.select(F.col("a").alias("_x"), F.col("b").alias("_y")),
            (F.least("b", "c") == F.col("_x"))
            & (F.greatest("b", "c") == F.col("_y")),
            "left_semi",
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_sup"))
    )


def _und(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(
            F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
        )
        .distinct()
    )


def ktruss_incremental(
    truss_old: DataFrame,
    base_edges: DataFrame,
    delta_edges: DataFrame,
    k: int = 4,
    max_iters: int = 30,
    canonical_base: bool = False,
) -> DataFrame:
    """(a, b): the k-truss AFTER an insert-only commit delta, at cost
    proportional to the delta's cascade region — never a full-graph
    re-peel (the incremental-analytics pattern of
    ``connected_components_incremental`` / warm PageRank applied to
    truss maintenance; reference locus: commit-delta layers over the
    graph fragment).

    Correctness rests on two facts, both from the k-truss's
    MAXIMALITY (the truss is the largest subgraph where every edge
    closes >= k-2 triangles inside the subgraph):

    1. Insert-only ⇒ ``T_old ⊆ T_new``: adding edges cannot destroy
       T_old's internal triangles, so T_old still qualifies and the
       maximal T_new contains it — T_old edges are FROZEN IN, never
       re-examined.
    2. A previously-pruned edge can enter T_new only if one of its
       triangles contains another ENTERING edge: if all its >= k-2
       triangle partners were already in T_old, then T_old ∪ {e}
       qualified and maximality of T_old is contradicted.  So the
       candidate set is the CLOSURE of the delta under
       shares-a-triangle-with, intersected with the non-truss edges
       — computed by frontier-sized wedge joins, exactly the cascade
       region and nothing more.

    The peel then runs only over the candidate set (support measured
    within T_old ∪ candidates, T_old frozen), with the same
    dirty-endpoint incremental recomputation as the batch peel.
    DELETIONS are not handled here: a delete can evict T_old edges,
    which invalidates fact 1 — route deletion deltas through the
    batch ``ktruss`` (its inner loop already recomputes only
    cascade frontiers)."""
    spark = truss_old.sparkSession
    t_old = truss_old.select("a", "b").distinct()
    delta_und = _und(delta_edges)
    if canonical_base:
        # caller guarantees the base is already canonical (a<b) and
        # duplicate-free (the streaming edge store contract): e_new
        # is the DISJOINT union of the base and the delta-only
        # remainder — no full-store distinct() exchange (the same
        # escape hatch as kcore_incremental / the decremental verbs)
        base_und = base_edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
        delta_only = delta_und.join(
            base_und.join(
                F.broadcast(delta_und.select("a").distinct()),
                "a",
                "left_semi",
            ),
            ["a", "b"],
            "left_anti",
        )
        e_new = base_und.unionByName(delta_only)
    else:
        e_new = _und(base_edges).unionByName(delta_und).distinct()
    e_new, n_new = loop_checkpoint_count(e_new)
    not_t = e_new.join(t_old, ["a", "b"], "left_anti")
    not_t = loop_checkpoint(not_t)
    x = delta_und.join(t_old, ["a", "b"], "left_anti")
    x, n_x = loop_checkpoint_count(x)
    need = k - 2
    if n_x == 0:
        return t_old
    with loop_tuning(spark, n_new), no_constraint_propagation(spark):
        # --- closure: pull in non-truss edges sharing a triangle
        # with the frontier, to fixpoint (fact 2's candidate set)
        frontier = x
        for _ in range(max_iters):
            adj = e_new.select("a", "b").union(
                e_new.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            tris = (
                frontier.join(
                    adj.select(F.col("a"), F.col("b").alias("c")), "a"
                )
                .where(F.col("c") != F.col("b"))
                .join(
                    e_new.select(F.col("a").alias("_x"), F.col("b").alias("_y")),
                    (F.least("b", "c") == F.col("_x"))
                    & (F.greatest("b", "c") == F.col("_y")),
                    "left_semi",
                )
            )
            partners = (
                tris.select(
                    F.least("a", "c").alias("a"), F.greatest("a", "c").alias("b")
                )
                .unionByName(
                    tris.select(
                        F.least("b", "c").alias("a"),
                        F.greatest("b", "c").alias("b"),
                    )
                )
                .distinct()
            )
            fresh = (
                partners.join(not_t, ["a", "b"], "left_semi")
                .join(x, ["a", "b"], "left_anti")
            )
            fresh, n_fresh = loop_checkpoint_count(fresh)
            if n_fresh == 0:
                break
            x = x.unionByName(fresh)
            x, n_x = loop_checkpoint_count(x, size_hint=n_x + n_fresh)
            frontier = fresh
        # --- peel the candidates over T_old ∪ X (T_old frozen)
        g_c = t_old.unionByName(x)
        cur = x.join(_edge_support(x, g_c), ["a", "b"], "left_outer").select(
            "a", "b", F.coalesce(F.col("_sup"), F.lit(0).cast("bigint")).alias("_sup")
        )
        cur, n_c = loop_checkpoint_count(cur, size_hint=n_x)
        for _ in range(max_iters):
            dropped = cur.where(F.col("_sup") < need)
            surv = cur.where(F.col("_sup") >= need).select("a", "b", "_sup")
            surv, n_surv = loop_checkpoint_count(surv, size_hint=n_c)
            if n_surv == n_c:
                return t_old.unionByName(surv.select("a", "b"))
            if n_surv == 0:
                return t_old
            dirty = (
                dropped.select(F.col("a").alias("n"))
                .union(dropped.select(F.col("b")))
                .distinct()
            )
            survivor_graph = t_old.unionByName(surv.select("a", "b"))
            edges_only = surv.select("a", "b")
            touched = (
                edges_only.join(
                    dirty.select(F.col("n").alias("a")), "a", "left_semi"
                )
                .unionByName(
                    edges_only.join(
                        dirty.select(F.col("n").alias("b")), "b", "left_semi"
                    )
                )
                .distinct()
            )
            fresh_sup = touched.join(
                _edge_support(touched, survivor_graph), ["a", "b"], "left_outer"
            ).select(
                "a",
                "b",
                F.coalesce(F.col("_sup"), F.lit(0).cast("bigint")).alias("_sup"),
            )
            cur = surv.join(touched, ["a", "b"], "left_anti").unionByName(fresh_sup)
            cur, n_c = loop_checkpoint_count(cur, size_hint=n_surv)
        raise RuntimeError(f"ktruss_incremental did not converge in {max_iters} rounds")


def msf_boruvka(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """(a, b, w): minimum spanning forest by Borůvka rounds — the
    distributed MST algorithm (each round every component picks its
    minimum-weight outgoing edge, picked edges join the forest,
    touching components merge; components at least halve per round,
    so rounds = O(log n)).  Requires distinct weights within any
    component's candidate set for a unique forest (ties would make
    the result engine-dependent); the (w, a, b) ordering makes the
    pick deterministic regardless.

    Per round: one cross-component edge filter (two hash joins
    against the label frame), one per-component min (map-side
    combined), and a pointer-jumping label merge over the PICKED
    edges only — a frame bounded by the component count, not the
    edge count."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("w").cast("double").alias("w"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    und, n_e = loop_checkpoint_count(und)
    labels = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )
    # lazy: materializes inside round 1's cross-edge count job
    labels = plan_checkpoint(labels)
    forest_parts: list[DataFrame] = [und.limit(0)]
    with loop_tuning(edges.sparkSession, n_e), no_constraint_propagation(
        edges.sparkSession
    ):
        return _msf_loop(und, n_e, labels, forest_parts, max_iters)


def _msf_loop(und, n_e, labels, forest_parts, max_iters):
    for _ in range(max_iters):
        lab_a = labels.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        lab_b = labels.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        cross = (
            und.join(lab_a, "a").join(lab_b, "b").where(F.col("ca") != F.col("cb"))
        )
        cross, n_cross = loop_checkpoint_count(cross)
        if n_cross == 0:
            break
        # each component's minimum outgoing edge, deterministic order;
        # carry the OTHER endpoint's component so the same aggregate
        # yields both the forest edges and the merge's parent pointers
        cand = cross.select(
            F.col("ca").alias("comp"), F.col("cb").alias("oc"), "a", "b", "w"
        ).union(
            cross.select(F.col("cb").alias("comp"), F.col("ca").alias("oc"), "a", "b", "w")
        )
        pick = plan_checkpoint(
            cand.groupBy("comp").agg(F.min(F.struct("w", "a", "b", "oc")).alias("m")),
            size_hint=n_cross,
        )
        picked = pick.select(
            F.col("m.a").alias("a"), F.col("m.b").alias("b"), F.col("m.w").alias("w")
        ).distinct()
        picked = plan_checkpoint(picked)
        forest_parts.append(picked)
        # merge touched components — NOT a generic CC call: each
        # touched component has exactly one pick, so comp → picked
        # neighbor is a functional graph whose only cycles are
        # 2-cycles (following min picks, edge structs are
        # non-increasing around a cycle, and structs are unique ⇒
        # cycle length 2).  Break the 2-cycles to min-of-pair
        # self-rooted roots, then pointer-jump the resulting forest
        # to its roots in O(log depth) component-bounded self-joins.
        p = pick.select("comp", F.col("m.oc").alias("parent"))
        gp = (
            p.alias("x")
            .join(
                p.alias("y").select(
                    F.col("comp").alias("parent"), F.col("parent").alias("gp")
                ),
                "parent",
            )
            .select("comp", "parent", "gp")
        )
        ptr = gp.select(
            "comp",
            F.when(F.col("gp") == F.col("comp"), F.least("comp", "parent"))
            .otherwise(F.col("parent"))
            .alias("parent"),
        )
        # lazy: the count was only a size hint — ptr materializes
        # inside the first jump round's sum job (it is self-joined
        # there, so the lazy checkpoint also stops plan duplication)
        ptr, n_ptr = plan_checkpoint(ptr, size_hint=n_cross), n_cross
        for _ in range(max_iters):
            jumped = (
                ptr.alias("x")
                .join(
                    ptr.alias("y").select(
                        F.col("comp").alias("parent"), F.col("parent").alias("_np")
                    ),
                    "parent",
                )
                .select(
                    "comp",
                    F.col("_np").alias("parent"),
                    F.when(F.col("_np") != F.col("parent"), 1).otherwise(0).alias("_chg"),
                )
            )
            jumped, n_jchg = loop_checkpoint_sum(jumped, "_chg", size_hint=n_ptr)
            ptr = jumped.select("comp", "parent")
            if n_jchg == 0:
                break
        labels = (
            labels.join(
                ptr.select("comp", F.col("parent").alias("lab")), "comp", "left_outer"
            )
            .select("node", F.coalesce("lab", F.col("comp")).alias("comp"))
        )
        # lazy: the count was discarded anyway — the frame is
        # referenced twice next round (lab_a/lab_b) and materializes
        # once inside that round's cross count; the FINAL round's
        # labels (loop exit) are never materialized at all
        labels = plan_checkpoint(labels)
    out = forest_parts[0]
    for p in forest_parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def msf_incremental(
    forest_old: DataFrame, delta_edges: DataFrame, max_iters: int = 30
) -> DataFrame:
    """(a, b, w): the minimum spanning forest AFTER an insert-only
    commit delta, by the SPARSIFICATION identity (Eppstein et al.,
    "Sparsification — a technique for speeding up dynamic graph
    algorithms", JACM 1997, public result):

        MSF(E ∪ Δ) = MSF(MSF(E) ∪ Δ)

    — an MSF edge of the union that lies in E must already be an
    MSF(E) edge (dropping a non-forest E edge never breaks the cycle
    rule), so the Borůvka rounds re-run over only ``|V|-ish forest
    edges + |Δ|`` rows instead of the full edge set.  Edge SWAPS are
    handled exactly: a delta edge closing a cycle through the old
    forest evicts the cycle's maximum-weight edge, whichever side it
    came from.  Same determinism precondition as ``msf_boruvka``
    (distinct weights within any component's candidate set); deletes
    invalidate the identity — route them through the batch MSF."""
    union = forest_old.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionByName(
        delta_edges.select("src", "dst", F.col("w").cast("double").alias("w"))
    )
    return msf_boruvka(union, max_iters=max_iters)


def msf_decremental(
    forest_old: DataFrame,
    labels: DataFrame,
    base_edges: DataFrame,
    delete_edges: DataFrame,
    max_iters: int = 30,
) -> DataFrame:
    """(a, b, w): the minimum spanning forest AFTER a delete-only
    commit delta — the direction the sparsification identity does NOT
    cover (a deleted forest edge may be REPLACED by a previously
    non-forest edge, so the old forest alone is not enough).  The
    locality fact that replaces it: MSFs are per-component, and a
    deletion can only change the forest inside a base-graph component
    that actually lost an edge.  So, mirroring
    ``connected_components_decremental``:

    1. really-deleted = delete ∩ base (canonical (a,b) pairs;
       deleting an absent edge is a no-op) — broadcast semi join,
       the base is never shuffled;
    2. dirty = the deleted endpoints' component labels
       (``labels``: (node, component) stored state from the base
       graph — the spanning forest labels the same components);
    3. untouched components' forest edges pass through verbatim;
    4. dirty components re-run Borůvka over their post-delete edges
       (replacement edges rejoin here; a component split simply
       yields two trees).

    With distinct weights per component the result is the unique
    MSF of base∖delete; under ties it is a valid deterministic MSF
    but may tie-break differently from the stored forest.  Cost
    rides the dirty components, never the corpus."""

    def und(e):
        return (
            e.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col("w").cast("double").alias("w"),
            )
            .where(F.col("a") != F.col("b"))
        )

    eb = und(base_edges)
    dels = und(delete_edges).select("a", "b").distinct()
    real = eb.join(F.broadcast(dels), ["a", "b"], "left_semi")
    real = loop_checkpoint(real)
    e_new = eb.join(F.broadcast(dels), ["a", "b"], "left_anti")
    # deleted-endpoint → component lookup: broadcast the (delta-sized)
    # endpoint set so the stored label table is probed MAP-SIDE — the
    # plain join shuffled the whole store per commit (the endpoint set
    # is a checkpoint leaf with no stats, so the planner can't see
    # it's small)
    _del_nodes = (
        real.select(F.col("a").alias("node"))
        .union(real.select(F.col("b")))
        .distinct()
    )
    dirty = (
        labels.join(F.broadcast(_del_nodes), "node", "left_semi")
        .select("component")
        .distinct()
    )
    dirty = loop_checkpoint(dirty)
    dirty_nodes = loop_checkpoint(
        labels.join(F.broadcast(dirty), "component", "left_semi").select(
            "node"
        )
    )
    untouched = forest_old.join(
        dirty_nodes.select(F.col("node").alias("a")), "a", "left_anti"
    ).select("a", "b", "w")
    sub = e_new.join(
        dirty_nodes.select(F.col("node").alias("a")), "a", "left_semi"
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
    return untouched.unionByName(msf_boruvka(sub, max_iters=max_iters))


def random_walks(
    edges: DataFrame, starts: DataFrame, length: int = 4, seed: str = ""
) -> DataFrame:
    """(walk_id, step, node): deterministic hash-seeded walks over
    the undirected graph — the node2vec/DeepWalk sampling primitive
    for embedding-training pipelines, made RNG-free so every engine
    (and every re-run) draws the SAME walks: the step-t transition
    from node u picks neighbor index md5(seed|walk_id|t) mod deg(u)
    over u's dst-sorted adjacency ranks.

    One walk starts per ``starts`` row (walk_id = start node).  Each
    step is one join keyed by the current node against the ranked
    adjacency (built once: two windows over the symmetrized edge
    set, checkpointed) — L steps = L bounded shuffles whose width is
    the number of LIVE walks, never |V|; a walk reaching a node with
    no neighbors simply ends (the join drops it), matching the
    sequential semantics.  At 100 TB the walk count is the knob —
    the per-step state is one row per walk."""
    from pyspark.sql import Window

    und = _symmetrize(edges)
    wrk = Window.partitionBy("src").orderBy("dst")
    wdeg = Window.partitionBy("src")
    adj = loop_checkpoint(
        und.select(
            "src",
            "dst",
            F.row_number().over(wrk).alias("_rk"),
            F.count(F.lit(1)).over(wdeg).alias("_deg"),
        )
    )
    state = starts.select(
        F.col("node").alias("walk_id"), F.lit(0).alias("step"), F.col("node").alias("node")
    )
    parts = [state]
    for t in range(length):
        idx = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.lit(seed), F.col("walk_id").cast("string"), F.lit(str(t))
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("_deg")
        )
        # lazy: each step is referenced twice (output union + next
        # step's join) so it must materialize once, but the whole walk
        # can run as ONE job — an eager checkpoint here was a job per
        # step (see _betweenness_passes's backward pass)
        state = plan_checkpoint(
            state.join(adj, state["node"] == adj["src"])
            .where(F.col("_rk") == idx + 1)
            .select("walk_id", F.lit(t + 1).alias("step"), F.col("dst").alias("node"))
        )
        parts.append(state)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def distance_stats(
    edges: DataFrame, sources: DataFrame | None = None, max_iters: int = 50
) -> DataFrame:
    """(node, n_reached, ecc, closeness): exact per-node distance
    statistics over DIRECTED reachability — closeness centrality
    (classic (r−1)/Σd within the reachable set, 0 for sinks) and
    eccentricity (max distance reached), from one multi-source BFS:
    the per-source aggregation of :func:`shortest_hops` layers, so
    the cost and scale story are exactly the BFS's (frontier-sized
    rounds, Σ|reached| state — at 100 TB you pass a sampled
    ``sources`` set, the same pivot discipline as betweenness).

    ``sources`` None = every edge endpoint (exact mode)."""
    if sources is None:
        sources = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    d = shortest_hops(edges, sources, max_iters)
    r = F.count(F.lit(1))
    s = F.sum("hops")
    return (
        d.groupBy(F.col("source").alias("node"))
        .agg(
            r.cast("bigint").alias("n_reached"),
            F.max("hops").cast("int").alias("ecc"),
            F.when(
                s > 0,
                F.round((r - 1).cast("double") / s.cast("double"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("closeness"),
        )
    )


def luby_mis(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(node, in_mis): maximal independent set by Luby's parallel
    algorithm with FIXED hash priorities (p(v) = md5(v), distinct
    with overwhelming probability and identical in every engine) —
    deterministic, so the parallel rounds converge to EXACTLY the
    sequential greedy MIS in priority order, and an unrolled SQL
    oracle can replay it.

    Each round, an undecided node enters the MIS iff no undecided
    neighbor has a smaller priority (one edge-grain anti-join — the
    'loser' side is the node that sees a smaller neighbor priority);
    winners' undecided neighbors become excluded; both sets leave the
    frontier.  Expected O(log n) rounds on random priorities; every
    round's shuffles are sized by the UNDECIDED subgraph, which
    shrinks geometrically — the classic symmetry-breaking primitive
    under the same loop_tuning clamp as the other fixpoints."""
    und = _symmetrize(edges)
    und = loop_checkpoint(und)
    nodes = und.select(F.col("src").alias("node")).distinct()
    pri = loop_checkpoint(
        nodes.select("node", F.md5(F.col("node").cast("string")).alias("_p"))
    )
    undecided, n_u = loop_checkpoint_count(pri)
    mis_parts = []
    with loop_tuning(edges.sparkSession, n_u):
        for _ in range(max_iters):
            if n_u == 0:
                break
            live = (
                und.join(
                    undecided.select(F.col("node").alias("src"), F.col("_p").alias("_pa")),
                    "src",
                )
                .join(
                    undecided.select(F.col("node").alias("dst"), F.col("_p").alias("_pb")),
                    "dst",
                )
            )
            losers = live.where(F.col("_pb") < F.col("_pa")).select(
                F.col("src").alias("node")
            ).distinct()
            winners = loop_checkpoint(
                undecided.select("node").join(losers, "node", "left_anti")
            )
            mis_parts.append(winners)
            excluded = (
                und.join(winners.withColumnRenamed("node", "src"), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
            )
            undecided, n_u = loop_checkpoint_count(
                undecided.join(winners, "node", "left_anti").join(
                    excluded, "node", "left_anti"
                )
            )
    if n_u > 0:
        raise RuntimeError(
            f"luby_mis: {n_u} nodes still undecided after max_iters rounds; "
            "raise max_iters (rounds are bounded by the longest "
            "decreasing-priority path)"
        )
    if not mis_parts:  # empty graph
        return nodes.select("node", F.lit(False).alias("in_mis"))
    mis = mis_parts[0]
    for p in mis_parts[1:]:
        mis = mis.unionByName(p)
    mis = mis.select("node", F.lit(True).alias("in_mis"))
    return nodes.join(mis, "node", "left_outer").select(
        "node", F.coalesce("in_mis", F.lit(False)).alias("in_mis")
    )


def bidirectional_distance(
    edges: DataFrame,
    src_nodes: DataFrame,
    dst_nodes: DataFrame,
    max_iters: int = 50,
) -> DataFrame:
    """One row (hops): exact shortest hop distance between two node
    SETS over the undirected graph by BIDIRECTIONAL BFS — the
    point-to-point query shape where unidirectional BFS wastes a
    ball of radius d while two balls of radius ~d/2 meet touching
    O(sqrt) of the nodes a single ball would.  Each round expands
    whichever side currently has the SMALLER frontier (measured, not
    assumed), then probes the ball intersection; by the midpoint
    argument a path of length L ≤ r_a + r_b must have a node in both
    balls, so the first probe where best ≤ r_a + r_b is exact and
    the loop stops.  Unreachable pairs return hops NULL.

    State: two (node, dist) balls + frontier-sized expansions —
    at 100 TB this is the difference between touching a diameter-d
    neighborhood and two d/2 neighborhoods."""
    und = loop_checkpoint(_symmetrize(edges))

    def ball0(nodes):
        return loop_checkpoint_count(
            nodes.select(F.col("node"), F.lit(0).alias("dist")).distinct()
        )

    (ball_a, n_fa), (ball_b, n_fb) = ball0(src_nodes), ball0(dst_nodes)
    front_a, front_b = ball_a, ball_b
    ra = rb = 0
    spark = edges.sparkSession

    def probe(ba, bb):
        # frontier-vs-ball, not ball-vs-ball: after the first probe a
        # new common node can only enter through a freshly expanded
        # frontier, so each round's probe joins the (small) frontier
        # against the other side's ball
        j = ba.join(bb.select(F.col("node"), F.col("dist").alias("_db")), "node")
        row = j.agg(F.min(F.col("dist") + F.col("_db")).alias("h")).collect()[0]
        return row["h"]

    def expand(front, own_ball, other_ball):
        # ONE job per round (was three): the lazily-checkpointed
        # frontier materializes inside an aggregation that counts it
        # AND runs the midpoint probe against the other ball in the
        # same pass.  Ball node sets are duplicate-free (every level
        # anti-joins its ball), so the left-outer join preserves the
        # frontier's cardinality and count(1) is exactly |grown|,
        # while min(dist + _db) over the matched rows is the probe.
        grown = plan_checkpoint(
            front.join(und, front["node"] == und["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .join(own_ball.select("node"), "node", "left_anti")
            .distinct()
        )
        row = (
            grown.join(
                other_ball.select("node", F.col("dist").alias("_db")),
                "node",
                "left_outer",
            )
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(F.col("dist") + F.col("_db")).alias("_h"),
            )
            .collect()[0]
        )
        return grown, int(row["_n"]), row["_h"]

    best = probe(ball_a, ball_b)
    with loop_tuning(spark, max(n_fa, n_fb)):
        for _ in range(max_iters):
            if best is not None and best <= ra + rb:
                break
            if n_fa == 0 and n_fb == 0:
                break
            expand_a = n_fb == 0 or (n_fa != 0 and n_fa <= n_fb)
            if expand_a:
                grown, n_fa, cand = expand(front_a, ball_a, ball_b)
                front_a = grown
                # union of already-checkpointed leaves — no re-materialization
                ball_a = ball_a.unionByName(grown)
                ra += 1
            else:
                grown, n_fb, cand = expand(front_b, ball_b, ball_a)
                front_b = grown
                ball_b = ball_b.unionByName(grown)
                rb += 1
            if cand is not None and (best is None or cand < best):
                best = cand
    proven = (best is not None and best <= ra + rb) or (n_fa == 0 and n_fb == 0)
    if not proven:
        raise RuntimeError(
            "bidirectional_distance: round cap hit before the midpoint "
            "stopping rule proved exactness; raise max_iters"
        )
    # JVM-side one-row result: a literal on range(1) needs no rows
    # shipped at all (driver-built row lists go through
    # session.local_frame, never a pickled createDataFrame).
    return spark.range(1).select(F.lit(best).cast("bigint").alias("hops"))


def jones_plassmann_coloring(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(node, color): greedy graph coloring by the Jones-Plassmann
    parallel schedule with FIXED md5 priorities — deterministic, so
    the parallel rounds produce EXACTLY the sequential greedy
    coloring in priority order (the same fixed-priority trick as
    :func:`luby_mis`, which this generalizes: a node colors as soon
    as every uncolored neighbor has a larger priority, taking the
    smallest color its already-colored neighbors don't use).

    Per round: one edge-grain join finds blocked nodes (an uncolored
    smaller-priority neighbor exists), the unblocked frontier
    collects its colored-neighbor color set (bounded by degree) and
    takes the minimum absent value of 1..deg+1 — pure array algebra,
    no UDF.  Rounds are bounded by the longest decreasing-priority
    path; every round's shuffles shrink with the uncolored set.
    Register allocation / schedule-conflict shape at 100 TB."""
    und = loop_checkpoint(_symmetrize(edges))
    nodes = und.select(F.col("src").alias("node")).distinct()
    pri = nodes.select("node", F.md5(F.col("node").cast("string")).alias("_p"))
    uncolored, n_u = loop_checkpoint_count(pri)
    colored = None
    with loop_tuning(edges.sparkSession, n_u):
        for _ in range(max_iters):
            if n_u == 0:
                break
            blocked = (
                und.join(
                    uncolored.select(F.col("node").alias("src"), F.col("_p").alias("_pa")),
                    "src",
                )
                .join(
                    uncolored.select(F.col("node").alias("dst"), F.col("_p").alias("_pb")),
                    "dst",
                )
                .where(F.col("_pb") < F.col("_pa"))
                .select(F.col("src").alias("node"))
                .distinct()
            )
            frontier = uncolored.select("node").join(blocked, "node", "left_anti")
            if colored is not None:
                nb = (
                    und.join(frontier.withColumnRenamed("node", "src"), "src")
                    .join(
                        colored.select(
                            F.col("node").alias("dst"), F.col("color").alias("_c")
                        ),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("node"))
                    .agg(F.collect_set("_c").alias("_cols"))
                )
            else:
                nb = None
            fc = frontier if nb is None else frontier.join(nb, "node", "left_outer")
            cols = (
                F.coalesce(F.col("_cols"), F.array().cast("array<int>"))
                if nb is not None
                else F.array().cast("array<int>")
            )
            pick = F.array_min(
                F.filter(
                    F.sequence(F.lit(1), F.size(cols) + 1),
                    lambda x: ~F.array_contains(cols, x),
                )
            ).cast("int")
            # lazy: newly materializes inside the uncolored-count job
            # below (which anti-joins it) and its persisted blocks are
            # reused by later rounds' neighbor joins; the cumulative
            # colored set is a union of checkpointed leaves — ONE job
            # per round where this loop ran three
            newly = plan_checkpoint(fc.select("node", pick.alias("color")))
            colored = newly if colored is None else colored.unionByName(newly)
            uncolored, n_u = loop_checkpoint_count(
                uncolored.join(newly.select("node"), "node", "left_anti")
            )
    if n_u > 0:
        raise RuntimeError(
            f"jones_plassmann_coloring: {n_u} nodes still uncolored after "
            "max_iters rounds; raise max_iters"
        )
    if colored is None:  # empty graph
        return nodes.select("node", F.lit(None).cast("int").alias("color")).where(
            F.lit(False)
        )
    return colored


def bipartite_check(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(component, n_nodes, n_odd_edges, is_bipartite): two-colorable
    test per connected component — BFS parity labels from each
    component's minimum node, then one edge-grain probe for edges
    whose endpoints share a parity (each is a witness to an odd
    cycle, so a component is bipartite iff it has none).  Reuses the
    CC fixpoint + multi-source BFS machinery (their loop_tuning and
    frontier discipline included); the parity probe is a single join
    keyed by the node — nothing here is new state beyond the label
    tables."""
    und = loop_checkpoint(_symmetrize(edges))
    comp = connected_components(und, max_iters)
    roots = comp.select(F.col("component").alias("node")).distinct()
    hops = shortest_hops(und, roots, max_iters, assume_undirected=True).select(
        F.col("node"), (F.col("hops") % 2).alias("_par")
    )
    labeled = comp.join(hops, "node")
    par_a = labeled.select(
        F.col("node").alias("src"), F.col("component"), F.col("_par").alias("_pa")
    )
    par_b = labeled.select(F.col("node").alias("dst"), F.col("_par").alias("_pb"))
    odd = (
        und.where(F.col("src") < F.col("dst"))
        .join(par_a, "src")
        .join(par_b, "dst")
        .where(F.col("_pa") == F.col("_pb"))
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_odd_edges"))
    )
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("n_nodes"))
    return sizes.join(odd, "component", "left_outer").select(
        "component",
        F.col("n_nodes").cast("bigint").alias("n_nodes"),
        F.coalesce("n_odd_edges", F.lit(0)).cast("bigint").alias("n_odd_edges"),
        (F.coalesce("n_odd_edges", F.lit(0)) == 0).alias("is_bipartite"),
    )


def maximal_matching(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(a, b): a maximal matching by greedy edge selection with FIXED
    md5 edge priorities — the third symmetry-breaking primitive next
    to :func:`luby_mis` / :func:`jones_plassmann_coloring`, i.e.
    Luby's algorithm on the LINE graph: each round an edge whose
    priority beats every adjacent live edge (sharing an endpoint,
    both endpoints unmatched) enters the matching, its endpoints
    leave, and the live edge set shrinks geometrically.
    Deterministic ⇒ identical to sequential greedy in priority
    order, replayed by an unrolled oracle.

    Per round: explode live edges to their two endpoint stubs, one
    endpoint-keyed self-join finds edges that see a smaller-priority
    neighbor (losers), winners = live − losers; all shuffles sized
    by the live subgraph."""
    canon = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    live, n_l = loop_checkpoint_count(
        canon.select(
            "a",
            "b",
            F.md5(F.concat_ws("~", F.col("a").cast("string"), F.col("b").cast("string"))).alias(
                "_p"
            ),
        )
    )
    matched_parts = []
    with loop_tuning(edges.sparkSession, n_l):
        for _ in range(max_iters):
            if n_l == 0:
                break
            stubs = live.select(F.col("a").alias("node"), "a", "b", "_p").unionByName(
                live.select(F.col("b").alias("node"), "a", "b", "_p")
            )
            rival = stubs.select(
                "node", F.col("_p").alias("_q"), F.col("a").alias("_ra"), F.col("b").alias("_rb")
            )
            losers = (
                stubs.join(rival, "node")
                .where(
                    (F.col("_q") < F.col("_p"))
                    & ~((F.col("_ra") == F.col("a")) & (F.col("_rb") == F.col("b")))
                )
                .select("a", "b")
                .distinct()
            )
            winners = loop_checkpoint(live.join(losers, ["a", "b"], "left_anti"))
            matched_parts.append(winners.select("a", "b"))
            mnodes = (
                winners.select(F.col("a").alias("node"))
                .unionByName(winners.select(F.col("b").alias("node")))
                .distinct()
            )
            live, n_l = loop_checkpoint_count(
                live.join(mnodes.withColumnRenamed("node", "a"), "a", "left_anti").join(
                    mnodes.withColumnRenamed("node", "b"), "b", "left_anti"
                ).select("a", "b", "_p")
            )
    if n_l > 0:
        raise RuntimeError(
            f"maximal_matching: {n_l} live edges remain after max_iters "
            "rounds; raise max_iters"
        )
    if not matched_parts:  # empty graph
        return canon.where(F.lit(False))
    out = matched_parts[0]
    for p in matched_parts[1:]:
        out = out.unionByName(p)
    return out


def euler_classify(edges: DataFrame, max_iters: int = 50) -> DataFrame:
    """(component, n_nodes, n_odd, euler): Euler-walk classification
    per connected component — 'circuit' (every degree even), 'path'
    (exactly two odd-degree nodes), or 'none' — the classic
    degree-parity corollary, computed as one degree aggregate over
    the symmetrized edges joined to the CC labels.  The route-
    inspection shape (can this pipeline of edges be walked once?)."""
    und = _symmetrize(edges)
    comp = connected_components(und, max_iters, assume_symmetric=True)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    labeled = comp.join(deg, "node")
    return (
        labeled.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.when(F.col("_d") % 2 == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_odd"),
        )
        .select(
            "component",
            "n_nodes",
            "n_odd",
            F.when(F.col("n_odd") == 0, F.lit("circuit"))
            .when(F.col("n_odd") == 2, F.lit("path"))
            .otherwise(F.lit("none"))
            .alias("euler"),
        )
    )


def link_prediction_scores(
    bipartite: DataFrame,
    node_col: str,
    feature_col: str,
    k: int = 20,
    max_fanout: int = MAX_FEATURE_FANOUT,
) -> DataFrame:
    """(s1, s2, cn, pa, ra9): the three classical link-prediction
    scores beside Jaccard / Adamic-Adar (Liben-Nowell & Kleinberg,
    "The link-prediction problem for social networks", public
    literature) in ONE shared-feature pass: COMMON NEIGHBORS
    (cn = |Γ(u) ∩ Γ(v)|), PREFERENTIAL ATTACHMENT (pa = d(u)·d(v) —
    the only score needing per-node degrees, not shared features),
    and RESOURCE ALLOCATION (ra = Σ_c 1/fanout(c) over shared
    features — Zhou-Lü-Zhang's sharper Adamic-Adar, penalizing hub
    features linearly instead of logarithmically).

    Same scale shape as :func:`node_jaccard`: candidate pairs ONLY
    via the shared-feature self-join (cost Σ_c fanout(c)², never
    node²) with the hot-feature cap applied to generation, degrees,
    and scoring alike — one filtered feature space, so all three
    scores describe the same graph.  RA's per-feature weight is a
    1e9 fixed-point BIGINT computed once in the fan table (the
    adamic_adar discipline): the pair stage pays one integer add per
    row, the sum is associative/engine-portable, and ``ra9`` ships
    as the raw integer (exact; callers divide by 1e9 for display).
    Ranked by ra desc with (s1, s2) tie-break — deterministic
    total order."""
    ps = bipartite.select(
        F.col(feature_col).alias("p"), F.col(node_col).alias("s")
    ).distinct()
    fan = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("fan"))
        .where(F.col("fan") <= max_fanout)
        .select(
            "p",
            F.round(F.lit(1e9) / F.col("fan").cast("double"), 0)
            .cast("bigint")
            .alias("_w9"),
        )
    )
    ps = ps.join(F.broadcast(fan), "p").transform(plan_checkpoint)
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = ps.select("p", F.col("s").alias("s1"), "_w9")
    b = ps.select("p", F.col("s").alias("s2"))
    pairs = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("cn"), F.sum("_w9").alias("ra9"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "cn",
            (F.col("d1") * F.col("d2")).cast("bigint").alias("pa"),
            F.col("ra9").cast("bigint").alias("ra9"),
        )
        .orderBy(F.col("ra9").desc(), "s1", "s2")
        .limit(k)
    )


def scc_incremental(
    labels: DataFrame,
    condensation: DataFrame,
    delta_edges: DataFrame,
    max_iters: int = 50,
) -> DataFrame:
    """(node, component): strongly connected components AFTER an
    insert-only commit delta, maintained from the stored labels plus
    the stored CONDENSATION — the directed completion of
    ``connected_components_incremental``, closing the incremental
    family (cc/kcore/ktruss/msf/triangles/betweenness all maintain
    in both directions; SCC's insert direction lives here).  The
    monotonicity fact: edge INSERTION never splits an SCC, it can
    only merge whole classes — so the new classes are exactly the
    SCCs of the QUOTIENT graph (condensation edges ∪ delta edges
    mapped to their endpoint labels), and each merged group takes
    min-of-mins, which IS the global min because stored labels are
    class minima.  Deletions invalidate the monotonicity — route
    them through the batch algorithm.

    Cost rides the CONDENSATION + delta, never the raw edge set: a
    quotient graph is typically orders of magnitude smaller than E
    (one social-graph-sized SCC contracts to a single node), the
    delta maps to labels with two delta-sized joins, and the
    relabel is one |V|-sized join at the end.  ``condensation``:
    (src_comp, dst_comp) distinct inter-class edges, the
    ``condensation_dag`` shape a versioned store keeps as a stored
    layer beside the labels."""
    lab_s = labels.select(
        F.col("node").alias("src"), F.col("component").alias("_ls")
    )
    lab_d = labels.select(
        F.col("node").alias("dst"), F.col("component").alias("_ld")
    )
    d = (
        delta_edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    dl = (
        d.join(lab_s, "src", "left_outer")
        .join(lab_d, "dst", "left_outer")
        .select(
            F.coalesce(F.col("_ls"), F.col("src")).alias("src"),
            F.coalesce(F.col("_ld"), F.col("dst")).alias("dst"),
        )
    )
    meta = (
        condensation.select(
            F.col("src_comp").alias("src"), F.col("dst_comp").alias("dst")
        )
        .unionByName(dl)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # The merge runs over the QUOTIENT graph (condensation ∪ mapped
    # delta) — typically orders of magnitude smaller than E.  Label
    # it through the adaptive scc_metadata path: under the 100k-edge
    # guard the distributed loop's ~60 driver-scheduled rounds cost
    # more than collecting the whole quotient and running iterative
    # Tarjan (bit-identical labels, see scc_metadata); above the
    # guard the distributed loop is the fallback, so a huge quotient
    # still converges at scale.
    mscc = scc_metadata(meta, max_iters=max_iters)
    relab = mscc.select(
        F.col("node").alias("component"), F.col("component").alias("_newc")
    )
    d_nodes = (
        d.select(F.col("src").alias("node"))
        .union(d.select(F.col("dst")))
        .distinct()
    )
    fresh = d_nodes.join(labels.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    base = labels.unionByName(fresh)
    return base.join(relab, "component", "left_outer").select(
        "node", F.coalesce(F.col("_newc"), F.col("component")).alias("component")
    )


def scc_decremental(
    labels: DataFrame,
    base_edges: DataFrame,
    delete_edges: DataFrame,
    max_iters: int = 50,
    canonical_base: bool = False,
) -> DataFrame:
    """(node, component): strongly connected components AFTER a
    delete-only commit delta — the split direction
    :func:`scc_incremental`'s monotonicity cannot cover, solved with
    the same locality fact as ``connected_components_decremental``
    made DIRECTED: the mutual-reachability paths that define a class
    lie entirely INSIDE the class, so (a) deleting an INTER-class
    edge changes no label at all (classes cannot merge by deletion),
    and (b) deleting an INTRA-class edge can only split THAT class —
    so only the DIRTY classes (those owning a really-deleted internal
    edge) re-run SCC, over their own internal post-delete edges, and
    every other label passes through verbatim.  Dirty-class minima
    are global minima for their (subset) classes, so the result
    equals batch SCC of base∖delete bit-for-bit.

    Cost: one map-side broadcast semi join over the base (never
    shuffled; ``canonical_base=True`` additionally skips the
    distinct() when the store is already directed-distinct), then
    everything rides the dirty classes' size.  Deleting an absent
    edge is a no-op."""
    if canonical_base:
        eb = base_edges.select("src", "dst")
    else:
        eb = (
            base_edges.select("src", "dst")
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
        )
    dels = (
        delete_edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    real = eb.join(F.broadcast(dels), ["src", "dst"], "left_semi")
    real = loop_checkpoint(real)
    lab_s = labels.select(
        F.col("node").alias("src"), F.col("component").alias("_ls")
    )
    lab_d = labels.select(
        F.col("node").alias("dst"), F.col("component").alias("_ld")
    )
    # dirty = classes owning a really-deleted INTRA-class edge
    dirty = (
        real.join(lab_s, "src")
        .join(lab_d, "dst")
        .where(F.col("_ls") == F.col("_ld"))
        .select(F.col("_ls").alias("component"))
        .distinct()
    )
    dirty = loop_checkpoint(dirty)
    dirty_nodes = loop_checkpoint(
        labels.join(F.broadcast(dirty), "component", "left_semi").select(
            "node"
        )
    )
    untouched = labels.join(
        F.broadcast(dirty), "component", "left_anti"
    )
    # the dirty classes' INTERNAL post-delete edges: both endpoints
    # dirty AND same old class (intra-class by construction)
    e_new = eb.join(F.broadcast(dels), ["src", "dst"], "left_anti")
    sub = (
        e_new.join(
            F.broadcast(dirty_nodes.select(F.col("node").alias("src"))),
            "src",
            "left_semi",
        )
        .join(lab_s, "src")
        .join(lab_d, "dst")
        .where(F.col("_ls") == F.col("_ld"))
        .select("src", "dst")
    )
    # Dirty-class internal edges are delta-bounded in the common
    # case; the adaptive scc_metadata path labels them driver-side
    # under the 100k-edge guard (bit-identical, see scc_incremental's
    # quotient note) and falls back to the distributed loop above it.
    relabeled = scc_metadata(sub, max_iters=max_iters)
    singletons = dirty_nodes.join(
        relabeled.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return untouched.unionByName(relabeled).unionByName(singletons)
