"""Connected components over pair edges — the cluster step of dedup.

MinHash/SimHash emit near-duplicate PAIRS; an actual deduplicated corpus
needs CLUSTERS (every doc labeled with a canonical representative, e.g.
the min id reachable through any chain of pairs). That is connected
components, an iterative algorithm Spark has no builtin for.

The implementation is hash-to-min label propagation: every node starts
labeled with its own id; each round, a node's label becomes the min of
its own and its neighbors' labels; stop when no label changes. Rounds
needed = graph diameter — for dedup graphs (near-cliques around a
template) that is 2-3, not log n. Each round is one shuffle on node id;
`localCheckpoint` truncates the growing lineage so round N's plan does
not replay rounds 1..N-1 (the classic iterative-DataFrame trap at
scale).

This replaces nothing in the reference (it has no joins at all —
SURVEY §2.1); it is part of the beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_plumber_spark.plans.scale import truncate_lineage


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    *,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node in ``edges`` with the min node id of its
    component. Returns (node, component).

    Nodes are whatever appears in ``src``/``dst``; isolated docs (no
    pair) are not emitted — callers left-join and coalesce to the doc's
    own id (see :func:`dedup_clusters`).

    ``checkpoint_dir``: when set, between-round materialization uses
    reliable ``checkpoint`` into that directory instead of
    ``localCheckpoint`` — survives executor loss on long cluster runs
    (see :func:`...plans.scale.truncate_lineage`).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # undirected: propagate both ways each round
    adj = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    adj = truncate_lineage(adj, checkpoint_dir)

    labels = (
        adj.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = truncate_lineage(labels, checkpoint_dir)

    for _ in range(max_iter):
        neighbor_min = (
            adj.join(labels, adj["d"] == labels["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # The convergence flag is computed IN the same join that builds
        # the new labels (old component and nbr_min are both in scope),
        # and the change count rides the materialization pass itself:
        # truncate_lineage(eager=False) defers persistence to the first
        # action, and the full-scan sum aggregate below is that action.
        # One job per round instead of the previous three (checkpoint
        # job + a labels-self-join + limit(1).count() job) — at a
        # 25-round ceiling that was ~50 extra job launches of pure
        # scheduling latency per call.
        #
        # POINTER JUMPING (VERDICT r11 item 5 — fewer ROUNDS, the
        # remaining per-call cost being round-count x job latency): the
        # tentative label t = min(own, nbr_min) is compressed through
        # the PREVIOUS round's materialized labels, new = label_prev(t).
        # t is itself a node id in the same component (labels only ever
        # hold reachable node ids) and label_prev(t) <= t (a node's
        # label never exceeds its id), so the hop stays inside the
        # component and keeps the update monotone — the fixpoint is
        # unchanged (no change requires nbr_min >= component AND the
        # compression hop already settled, the same local-minimum
        # condition as plain propagation, hence the identical
        # (node, min-id) output). Label distance to the component
        # minimum now roughly HALVES per round (each round applies one
        # adjacency hop plus one label hop) — diameter-bound walks
        # converge in ~log2(d) rounds instead of d. Cost: one extra
        # node-grain equi-join per round against the already-
        # checkpointed labels frame; the edge-grain join count is
        # unchanged, and the round is still ONE job.
        half = labels.join(neighbor_min, "node", "left").select(
            "node",
            "component",
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("_t"),
        )
        hop = labels.select(
            F.col("node").alias("_t"), F.col("component").alias("_tc")
        )
        new_labels = half.join(hop, "_t", "left").select(
            "node",
            # _tc is always present (t is a node), but coalesce keeps
            # the expression total; least() guards the (impossible by
            # monotonicity) _tc > _t case so the label never increases.
            F.least(F.col("_t"), F.coalesce("_tc", F.col("_t"))).alias(
                "_new"
            ),
            F.col("component").alias("_old"),
        ).select(
            "node",
            F.col("_new").alias("component"),
            # NULL-safe: _new is never NULL; strict < mirrors the old
            # nbr_min < component flag (rows whose label is unchanged
            # contribute 0 / NULL to the sum either way).
            (F.col("_new") < F.col("_old")).alias("_chg"),
        )
        new_labels = truncate_lineage(
            new_labels, checkpoint_dir, eager=False
        )
        changed = (
            new_labels.agg(
                F.sum(F.col("_chg").cast("int")).alias("c")
            ).collect()[0]["c"]
            or 0
        )
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select("node", "component")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    weight: str | None = None,
    damping: float = 0.85,
    iterations: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted PageRank over an edge list, fixed iteration count.

    Returns (node, rank) for every node appearing as a source OR a
    destination. Classic unnormalized formulation:

        rank'(v) = (1 - d) + d * sum_{u->v} rank(u) * w(u,v) / out_w(u)

    Dangling nodes (no out-edges) keep receiving mass but distribute
    none — their mass evaporates rather than being redistributed, which
    keeps the recurrence a pure join+groupBy and makes the result
    reproducible term-for-term in any SQL engine (the oracle unrolls
    the same ``iterations`` steps as chained CTEs).

    A FIXED iteration count (not convergence detection) is deliberate:
    it makes the operator deterministic and oracle-replayable, and at
    scale it removes the per-round ``count()`` barrier — each round is
    exactly one shuffle of (dst, contribution) pairs, map-side
    combined. Out-weights are computed once and re-joined each round;
    lineage truncation between rounds keeps round N's plan from
    replaying rounds 1..N-1 (the iterative-DataFrame trap); pass
    ``checkpoint_dir`` to make it reliable (executor-loss-tolerant)
    instead of ``localCheckpoint`` — see
    :func:`...plans.scale.truncate_lineage`.

    Beyond-reference surface: graph authority scoring for source/domain
    weighting in corpus curation (reference has no joins at all,
    SURVEY §2.1).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w.alias("w")
    )
    e = truncate_lineage(e, checkpoint_dir)

    out_w = e.groupBy(F.col("e_src").alias("ow_node")).agg(
        F.sum("w").alias("out_w")
    )
    # contribution edges: src -> dst carrying w / out_w(src); computed
    # once, reused every round (out_w is O(#src nodes), one shuffle).
    contrib_e = (
        e.join(out_w, e["e_src"] == out_w["ow_node"])
        .select("e_src", "e_dst", (F.col("w") / F.col("out_w")).alias("share"))
    )
    contrib_e = truncate_lineage(contrib_e, checkpoint_dir)

    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    nodes = truncate_lineage(nodes, checkpoint_dir)
    ranks = nodes.withColumn("rank", F.lit(1.0))

    d = float(damping)
    for _ in range(int(iterations)):
        inbound = (
            contrib_e.join(ranks, contrib_e["e_src"] == ranks["node"])
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.col("share") * F.col("rank")).alias("inflow"))
        )
        ranks = (
            nodes.join(inbound, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - d) + F.lit(d) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        ranks = truncate_lineage(ranks, checkpoint_dir)
    return ranks


def pagerank_oracle_sql(
    edges_sql: str,
    *,
    damping: float = 0.85,
    iterations: int = 5,
    round_to: int = 6,
) -> str:
    """DuckDB oracle for :func:`pagerank`: the same fixed-point steps
    unrolled as chained CTEs (standard SQL forbids aggregates in a
    recursive CTE member, so unrolling IS the portable encoding).

    ``edges_sql`` must select columns (src, dst, w).
    """
    d = float(damping)
    parts = [
        f"WITH e AS ({edges_sql}),",
        "ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),",
        "ce AS (SELECT e.src, e.dst, e.w / ow.out_w AS share"
        " FROM e JOIN ow USING (src)),",
        "nodes AS (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),",
        "r0 AS (SELECT node, 1.0::DOUBLE AS rank FROM nodes),",
    ]
    for i in range(int(iterations)):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, "
            f"{1.0 - d} + {d} * coalesce(i.inflow, 0.0) AS rank "
            f"FROM nodes n LEFT JOIN (SELECT ce.dst AS node, "
            f"sum(ce.share * r.rank) AS inflow FROM ce "
            f"JOIN r{i} r ON r.node = ce.src GROUP BY ce.dst) i "
            f"USING (node)),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT node, round(rank, {round_to}) AS rank"
        f" FROM r{int(iterations)}"
    )
    return "\n".join(parts)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    src: str = "a_id",
    dst: str = "b_id",
    broadcast_threshold: int | None = 5_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Assign every document a cluster id (min doc id of its
    near-duplicate component; singletons cluster with themselves) and a
    keep flag (True on the canonical representative).

    The components frame is O(docs that appear in some near-dup pair) —
    NOT an invariantly tiny set: at web-crawl dup rates (30-50%) it is a
    large fraction of the corpus, and force-broadcasting it would OOM the
    driver. So the broadcast hint is applied only when the component
    count (a cheap count over an already-checkpointed frame) is under
    ``broadcast_threshold`` rows (~2 longs/row → tens of MB); otherwise
    the join is left to AQE, which picks shuffled-hash/sort-merge on the
    (id, component) pairs — still only 16 bytes/row of shuffle.
    Pass ``broadcast_threshold=None`` to always defer to AQE.
    """
    comp = connected_components(
        pairs, src, dst, checkpoint_dir=checkpoint_dir
    ).withColumnRenamed("node", id_col)
    if broadcast_threshold is not None:
        # comp is checkpointed by connected_components, so this
        # count reuses materialized blocks rather than recomputing.
        if comp.count() <= broadcast_threshold:
            comp = F.broadcast(comp)
    out = (
        docs.join(comp, id_col, "left")
        .withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
        .drop("component")
    )
    return out.withColumn("keep", F.col(id_col) == F.col("cluster_id"))


def triangle_counts(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
) -> DataFrame:
    """Per-node triangle counts on an undirected graph.

    Returns ``(node, triangles)`` for every node that closes at least
    one triangle. Input edges may contain duplicates, self-loops, and
    both orientations — they are canonicalized first.

    Algorithm: degree-ordered edge orientation (the standard trick that
    bounds the wedge join). Each undirected edge is directed from the
    LOWER-degree endpoint to the higher (ties by id), so every vertex's
    out-degree is O(sqrt(m)) on real graphs; wedges are then
    ``dir(a,b) JOIN dir(b,c)`` — an equi-join on the middle vertex whose
    fan-out is out-degree squared, not total-degree squared (a celebrity
    node with 10M followers contributes ~0 wedges instead of 10^14) —
    and each wedge closes by probing ``dir(a,c)``. Every join is
    equi-keyed; no window, no iteration. Triangle membership is
    orientation-independent, so per-node counts match a naive oracle.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        canon.select(F.col("u").alias("n"))
        .unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    # direct low-degree -> high-degree (ties: low id -> high id)
    directed = (
        canon.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    )
    e1 = directed.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = directed.select(F.col("s").alias("b"), F.col("t").alias("c"))
    wedges = e1.join(e2, "b").where(F.col("a") != F.col("c"))
    # directed is a row-wise reorientation of canon, so the closure
    # probe can reuse canon (already u < v) instead of replanning the
    # degree/orientation subtree a third time
    e3 = canon.select(F.col("u").alias("_lo"), F.col("v").alias("_hi"))
    tris = wedges.join(
        e3,
        (F.least("a", "c") == F.col("_lo")) & (F.greatest("a", "c") == F.col("_hi")),
    ).select("a", "b", "c")
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def label_propagation(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    *,
    weight: str | None = None,
    iterations: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts as its own community; each round it adopts the label with
    the largest total (weighted) presence among its neighbors, ties
    broken by MIN label. Returns (node, label).

    Fixed ``iterations`` synchronous rounds + the min tie-break make
    the fixpoint fully deterministic and oracle-replayable (the
    :func:`label_propagation_oracle_sql` builder unrolls the identical
    rounds as chained CTEs) — asynchronous LPA's update-order
    dependence is exactly what a distributed engine cannot reproduce.

    ``weight`` must be an integer column when given (exact argmax; a
    float weight would make the max comparison summation-order
    sensitive). Edges are mirrored internally (undirected); passing an
    already-symmetric edge set just doubles every neighbor weight,
    which cannot change any argmax.

    Scale: each round is two map-combinable aggregates (neighbor-label
    counts on (node, label); per-node max) plus one equi-join — the
    standard distributed-LPA shape; shuffles carry (id, id, count)
    triples only. Lineage is severed per round (``checkpoint_dir`` for
    the executor-loss-tolerant variant, see :func:`connected_components`).
    """
    w = (
        F.col(weight).cast("long")
        if weight is not None
        else F.lit(1).cast("long")
    )
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w"))
    adj = e.union(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"), "w")
    )
    adj = truncate_lineage(adj, checkpoint_dir)

    labels = (
        adj.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = truncate_lineage(labels, checkpoint_dir)

    for _ in range(int(iterations)):
        counts = (
            adj.join(labels, adj["d"] == labels["node"])
            .groupBy(F.col("s"), F.col("label"))
            .agg(F.sum("w").cast("long").alias("c"))
        )
        mx = counts.groupBy("s").agg(F.max("c").alias("mc"))
        labels = (
            counts.join(mx, "s")
            .filter(F.col("c") == F.col("mc"))
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("label").alias("label"))
        )
        labels = truncate_lineage(labels, checkpoint_dir)
    return labels.select("node", "label")


def label_propagation_oracle_sql(
    edges_sql: str, *, iterations: int = 5
) -> str:
    """DuckDB oracle for :func:`label_propagation`: the same synchronous
    rounds unrolled as chained CTEs (aggregates are not allowed in a
    recursive CTE member, so unrolling is the portable encoding).

    ``edges_sql`` must select columns (src, dst, w) with integer w.
    Every CTE is ``MATERIALIZED``: each round reads ``c{i}`` twice, and
    inlined the plan would double per round.
    """
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        "adj AS MATERIALIZED (SELECT src AS s, dst AS d, w FROM e"
        " UNION ALL SELECT dst, src, w FROM e),",
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM"
        " (SELECT DISTINCT s AS node FROM adj)),",
    ]
    for i in range(int(iterations)):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT adj.s, l.label,"
            f" CAST(sum(adj.w) AS BIGINT) AS c"
            f" FROM adj JOIN l{i} l ON l.node = adj.d GROUP BY 1, 2),"
        )
        parts.append(
            f"l{i + 1} AS MATERIALIZED (SELECT s AS node, min(label) AS label FROM c{i}"
            f" JOIN (SELECT s, max(c) AS mc FROM c{i} GROUP BY s) m"
            f" USING (s) WHERE c = mc GROUP BY s),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node, label FROM l{int(iterations)}")
    return "\n".join(parts)


def dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    src: str = "a_id",
    dst: str = "b_id",
    broadcast_threshold: int | None = 5_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, weight every
    document by ``1 / |its duplicate cluster|`` so each semantic unit
    contributes one document's worth of training mass (the
    downweight-don't-delete strategy, e.g. SoftDeDup) — keeps rare
    in-cluster variation while removing duplicate over-representation.

    Returns every doc with ``cluster_id``, ``cluster_size`` and
    ``weight`` (rounded 6 dp; singletons weigh 1.0). Costs
    :func:`dedup_clusters` plus one O(clusters) size aggregate joined
    back on the cluster id.
    """
    clustered = dedup_clusters(
        docs,
        pairs,
        id_col,
        src=src,
        dst=dst,
        broadcast_threshold=broadcast_threshold,
        checkpoint_dir=checkpoint_dir,
    ).drop("keep")
    sizes = clustered.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return clustered.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "a_id",
    dst: str = "b_id",
    *,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The k-core: iteratively peel nodes with (undirected) degree < k
    until a fixpoint — the standard dense-substructure extractor
    (spam-farm detection in link graphs, loyal-cohort extraction in
    interaction graphs; a node in the k-core has >= k neighbors that
    each have >= k neighbors, recursively). Returns the surviving
    nodes as (node, degree) with degrees measured inside the core.

    Distributed-exact: peeling is order-free (removing ALL deg<k nodes
    each round is the synchronous variant, which converges to the same
    unique k-core as sequential peeling), so a fixed ``max_iter``
    unroll replays in SQL — extra rounds past the fixpoint are no-ops,
    which is what makes engine early-exit and oracle unroll agree.

    Per round: one map-combinable degree aggregate + two semi-joins
    that shrink the edge set; lineage severed per round
    (``checkpoint_dir`` = executor-loss-tolerant)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    und = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    und = truncate_lineage(und, checkpoint_dir)
    for _ in range(int(max_iter)):
        deg = und.groupBy("s").agg(F.count("*").cast("long").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("s")
        pruned = und.join(keep, "s").join(
            keep.withColumnRenamed("s", "d"), "d"
        ).select("s", "d")
        pruned = truncate_lineage(pruned, checkpoint_dir)
        # fixpoint: no edge removed this round
        if pruned.count() == und.count():
            und = pruned
            break
        und = pruned
    return (
        und.groupBy(F.col("s").alias("node"))
        .agg(F.count("*").cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def kcore_oracle_sql(edges_sql: str, *, k: int, rounds: int = 10) -> str:
    """DuckDB oracle for :func:`kcore`: the synchronous peeling rounds
    unrolled (rounds past the fixpoint are no-ops, so a fixed unroll
    matches the engine's early exit). ``edges_sql`` selects (src, dst).
    Every CTE is ``MATERIALIZED``: each round reads ``k{i}`` twice and
    an inlined CTE re-plans its whole history per reference, so the
    unmaterialized plan grows ~3x per round."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        "u0 AS MATERIALIZED (SELECT src AS s, dst AS d FROM e"
        " UNION ALL SELECT dst, src FROM e),",
    ]
    for i in range(int(rounds)):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT s FROM u{i} GROUP BY s"
            f" HAVING count(*) >= {int(k)}),"
        )
        parts.append(
            f"u{i + 1} AS MATERIALIZED (SELECT u.s, u.d FROM u{i} u"
            f" JOIN k{i} a ON a.s = u.s"
            f" JOIN k{i} b ON b.s = u.d),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT s AS node, CAST(count(*) AS BIGINT) AS degree"
        f" FROM u{int(rounds)} GROUP BY s HAVING count(*) >= {int(k)}"
    )
    return "\n".join(parts)


def adamic_adar(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    *,
    max_degree: int | None = None,
    value_scale: int = 10**9,
) -> DataFrame:
    """Adamic-Adar link prediction over an undirected graph: for every
    NON-adjacent node pair sharing at least one neighbor, returns
    ``(node_a, node_b, common_neighbors, adamic_adar)`` with
    ``node_a < node_b`` and
    ``adamic_adar = sum_z 1/ln(deg(z))`` over common neighbors ``z``.

    The classic "who should be connected" primitive (recommendation,
    dedup-cluster stitching, knowledge-graph completion): common
    neighbors weighted by how selective they are — a shared rare
    neighbor is strong evidence, a shared hub is noise. Existing edges
    are anti-joined away; only predicted links remain.

    Scale design: wedges are generated through the CENTER vertex, so
    fan-out per center is deg^2 — pass ``max_degree`` to drop
    super-hub centers (standard: a hub's 1/ln(deg) contribution is
    ~noise, and it's the one vertex class that makes the wedge join
    quadratic; dropped centers are simply excluded from scores, a
    documented approximation). Every stage is an equi-join or
    map-combinable aggregate; the 1/ln terms are summed as scaled
    longs (9 dp), order-proof and SQL-replayable. A wedge center
    always has degree >= 2, so ln(deg) > 0.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # adjacency, both directions: (center z, neighbor n)
    adj = canon.select(
        F.col("u").alias("z"), F.col("v").alias("n")
    ).unionAll(canon.select(F.col("v").alias("z"), F.col("u").alias("n")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg if max_degree is None else deg.where(
        F.col("deg") <= int(max_degree)
    )

    a = adj.select("z", F.col("n").alias("x"))
    b = adj.select("z", F.col("n").alias("y"))
    wedges = (
        a.join(b, "z")
        .where(F.col("x") < F.col("y"))
        .join(centers, "z")  # degree ride-along (and the hub cap)
    )
    term = F.lit(1.0) / F.log(F.col("deg").cast("double"))
    scored = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        (
            F.sum(F.round(term * value_scale, 0).cast("long")).cast("double")
            / value_scale
        ).alias("_aa"),
    )
    # predicted links only: drop pairs that are already edges
    out = scored.join(
        canon,
        (scored["x"] == canon["u"]) & (scored["y"] == canon["v"]),
        "left_anti",
    )
    return out.select(
        F.col("x").alias("node_a"),
        F.col("y").alias("node_b"),
        "common_neighbors",
        F.round("_aa", 6).alias("adamic_adar"),
    )


def neighborhood_jaccard(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    *,
    max_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-Jaccard link prediction — :func:`adamic_adar`'s
    size-normalized sibling: for every NON-adjacent node pair sharing
    at least one neighbor, ``jaccard = |N(a) & N(b)| / |N(a) | N(b)|``
    with ``node_a < node_b``. Where Adamic-Adar rewards rare shared
    neighbors, Jaccard asks what FRACTION of the combined
    neighborhoods is shared — the right score for dedup-cluster
    stitching, where two records are the same entity when most of
    their connections coincide, however common those connections are.

    Scale design: identical wedge machinery to :func:`adamic_adar`
    (wedges through the center vertex, ``max_degree`` caps super-hub
    centers — dropped centers shrink COMMON counts only, a documented
    approximation), plus two equi-joins against the O(V) degree table
    for the endpoints' own degrees. jaccard = common /
    (deg_a + deg_b - common) is an exact integer ratio divided once
    (6 dp) — SQL replays it bit-for-bit. Existing edges are
    anti-joined away; only predicted links remain.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = canon.select(
        F.col("u").alias("z"), F.col("v").alias("n")
    ).unionAll(canon.select(F.col("v").alias("z"), F.col("u").alias("n")))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    centers = (
        deg
        if max_degree is None
        else deg.where(F.col("deg") <= int(max_degree))
    )

    a = adj.select("z", F.col("n").alias("x"))
    b = adj.select("z", F.col("n").alias("y"))
    wedges = (
        a.join(b, "z")
        .where(F.col("x") < F.col("y"))
        .join(centers.select("z"), "z", "left_semi")
    )
    common = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common_neighbors")
    )
    scored = (
        common.join(
            deg.select(F.col("z").alias("x"), F.col("deg").alias("_da")),
            "x",
        )
        .join(
            deg.select(F.col("z").alias("y"), F.col("deg").alias("_db")),
            "y",
        )
    )
    out = scored.join(
        canon,
        (scored["x"] == canon["u"]) & (scored["y"] == canon["v"]),
        "left_anti",
    )
    union = F.col("_da") + F.col("_db") - F.col("common_neighbors")
    return out.select(
        F.col("x").alias("node_a"),
        F.col("y").alias("node_b"),
        "common_neighbors",
        F.round(
            F.col("common_neighbors").cast("double") / union.cast("double"),
            6,
        ).alias("jaccard"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    weight: str | None = None,
    iterations: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED edge list, fixed
    iteration count — PageRank's bipartite-flavored sibling: an
    authority is pointed at by good hubs, a hub points at good
    authorities. The natural scorer when edges have producer/consumer
    direction (customers -> suppliers, crawlers -> sites, citers ->
    cited): :func:`pagerank` mixes both roles into one number, HITS
    keeps them apart. Returns (node, hub, auth) for every node
    appearing as a source OR destination; nodes with no out-edges get
    hub 0, no in-edges get auth 0.

    Kleinberg's power iteration with MAX-normalization each half-step
    (auth then hub), so the top node of each score is pinned at 1.0 —
    max is an order-insensitive reduction, which keeps the iteration
    free of the order-dependent global-sum normalizer L2/L1 variants
    carry; ranking and ratios are what callers consume, and those are
    normalization-invariant. A FIXED iteration count (not convergence
    detection), same rationale as :func:`pagerank`: deterministic,
    oracle-replayable (the oracle unrolls the same steps as chained
    CTEs), and no per-round count() barrier.

    Scale design: per round exactly two shuffles — (dst, w*hub) and
    (src, w*auth) contribution aggregates, both map-side combined —
    plus a 1-row max broadcast; out/in edges are scanned from the same
    cached frame; lineage truncation between rounds (pass
    ``checkpoint_dir`` on a real cluster — see
    :func:`...plans.scale.truncate_lineage`).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), w.alias("w")
    )
    e = truncate_lineage(e, checkpoint_dir)

    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    # Scores iterate SPARSE: after round 1 ``auth`` holds only nodes
    # with in-edges (``hub`` only nodes with out-edges). A node absent
    # from the sparse frame has score exactly 0 and contributes exactly
    # 0 to the next half-step's weighted sum, so dropping it from the
    # loop is value-identical to the old dense nodes-left-join form —
    # the dense fill happens ONCE at the end instead of twice per
    # iteration (two joins per half-step removed).
    #
    # (An all-lazy unrolled form was tried and is dramatically WORSE:
    # each half-step's contribution aggregate feeds both its max-
    # normalizer scalar subquery and the next round, and scalar-
    # subquery branches do not reliably hit AQE exchange reuse, so the
    # recomputation compounds per round — 68 s vs 6.6 s at sf0.1. The
    # per-half-step truncate_lineage below is what keeps round N's work
    # linear in N.)
    hub = nodes.withColumn("h", F.lit(1.0))

    auth = None
    for i in range(int(iterations)):
        if i == 0:
            # Round-1 shortcut: the initial hub score is 1.0 for EVERY
            # node, and every non-NULL e_src is in ``nodes`` by
            # construction, so the join degenerates to an identity —
            # sum(w * 1.0) grouped by dst ≡ sum(w) grouped by dst. The
            # isNotNull guard replicates the equi-join's NULL-key drop
            # exactly. This keeps the whole nodes subtree (two edge
            # scans + a union-distinct exchange) out of the hot loop;
            # nodes is only computed once, in the final dense fill.
            a_raw = (
                e.where(F.col("e_src").isNotNull())
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.col("w")).alias("a"))
            )
        else:
            a_raw = (
                e.join(hub, e["e_src"] == hub["node"])
                .groupBy(F.col("e_dst").alias("node"))
                .agg(F.sum(F.col("w") * F.col("h")).alias("a"))
            )
        # Checkpoint the RAW half-step aggregate LAZILY and make the
        # max-normalizer's aggregate the materializing action (the
        # connected-components trick, VERDICT r11 item 6): ONE job per
        # half-step computes the contribution aggregate, persists it,
        # and returns the max as a DRIVER scalar — where the previous
        # shape ran an eager checkpoint job per half-step and then
        # re-derived the max inside the NEXT job's broadcast scalar-
        # subquery branch (an extra stage per half-step, and the
        # subquery branches bloated the final frame's lazy plan). The
        # max is an iterative-operator normalizer scalar, the same
        # collect contract as connected components' change count; the
        # full-scan max aggregate computes every partition, so the
        # checkpoint is fully persisted before anything else consumes
        # it — no concurrent-branch race (each half-step's cache is
        # complete before the next half-step's plan is even built).
        # py4j round-trips the IEEE double exactly (binary-exact
        # literal back into the plan), so the normalized per-element
        # division is bit-identical to the old broadcast-column form.
        # (The all-lazy and broadcast-score alternatives measured and
        # rejected in r11 are documented above / in OPTIMIZATION_r11.)
        a_raw = truncate_lineage(a_raw, checkpoint_dir, eager=False)
        a_max = a_raw.agg(F.max("a")).collect()[0][0]
        auth = a_raw.select(
            "node",
            F.coalesce(
                F.col("a") / F.nullif(F.lit(a_max).cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("a"),
        )
        h_raw = (
            e.join(auth, e["e_dst"] == auth["node"])
            .groupBy(F.col("e_src").alias("node"))
            .agg(F.sum(F.col("w") * F.col("a")).alias("hh"))
        )
        h_raw = truncate_lineage(h_raw, checkpoint_dir, eager=False)
        h_max = h_raw.agg(F.max("hh")).collect()[0][0]
        hub = h_raw.select(
            "node",
            F.coalesce(
                F.col("hh") / F.nullif(F.lit(h_max).cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ).alias("h"),
        )

    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("a"), F.lit(0.0)).alias("auth"),
        )
    )


def hits_oracle_sql(
    edges_sql: str,
    *,
    iterations: int = 5,
    round_to: int = 6,
) -> str:
    """DuckDB oracle for :func:`hits`: the same max-normalized power
    iteration unrolled as chained CTEs. ``edges_sql`` must select
    columns (src, dst, w). Every CTE is ``MATERIALIZED``: each round
    reads its raw scores twice (max normalizer + normalized join), and
    an inlined CTE re-plans its whole history per reference, so the
    unmaterialized plan grows ~4x per round."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),",
        "h0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS h FROM nodes),",
    ]
    for i in range(int(iterations)):
        parts.append(
            f"a{i + 1}r AS MATERIALIZED (SELECT e.dst AS node,"
            f" sum(e.w * h{i}.h) AS a"
            f" FROM e JOIN h{i} ON e.src = h{i}.node GROUP BY e.dst),"
        )
        parts.append(
            f"a{i + 1}m AS MATERIALIZED (SELECT max(a) AS m FROM a{i + 1}r),"
        )
        parts.append(
            f"a{i + 1} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(a{i + 1}r.a / nullif(a{i + 1}m.m, 0.0), 0.0) AS a"
            f" FROM nodes n LEFT JOIN a{i + 1}r ON n.node = a{i + 1}r.node"
            f" CROSS JOIN a{i + 1}m),"
        )
        parts.append(
            f"h{i + 1}r AS MATERIALIZED (SELECT e.src AS node,"
            f" sum(e.w * a{i + 1}.a) AS h"
            f" FROM e JOIN a{i + 1} ON e.dst = a{i + 1}.node"
            f" GROUP BY e.src),"
        )
        parts.append(
            f"h{i + 1}m AS MATERIALIZED (SELECT max(h) AS m FROM h{i + 1}r),"
        )
        parts.append(
            f"h{i + 1} AS MATERIALIZED (SELECT n.node,"
            f" coalesce(h{i + 1}r.h / nullif(h{i + 1}m.m, 0.0), 0.0) AS h"
            f" FROM nodes n LEFT JOIN h{i + 1}r ON n.node = h{i + 1}r.node"
            f" CROSS JOIN h{i + 1}m)"
        )
        if i + 1 < int(iterations):
            parts[-1] += ","
    n = int(iterations)
    parts.append(
        f"SELECT h{n}.node, round(h{n}.h, {round_to}) AS hub,"
        f" round(a{n}.a, {round_to}) AS auth"
        f" FROM h{n} JOIN a{n} ON h{n}.node = a{n}.node"
    )
    return "\n".join(parts)


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman's r) of the undirected
    simple graph — do high-degree nodes link to other high-degree
    nodes (r > 0, social networks) or to low-degree leaves (r < 0,
    hub-and-spoke / star topologies)? The one-number structural
    summary that tells a dedup-cluster or link-graph audit whether
    the pair graph is a healthy mesh or a few superhubs stitching
    everything together (the failure mode that makes
    connected-components collapse into one giant cluster). One row
    ``(n_nodes, n_edges, r)``; r NULL when all degrees are equal
    (zero variance — e.g. a perfect cycle) or there are no edges.

    Exactness: r is the Pearson correlation of (deg(u), deg(v)) over
    the DIRECTED both-orientations edge list, which is exactly the
    undirected assortativity. Degrees are integers, so every moment
    (M, S = sum j, Q = sum j^2, X = sum j*k) is an exact integer on
    decimal(38,0) — by symmetry the two endpoint marginals coincide,
    leaving r = (M*X - S^2) / (M*Q - S^2): one double division. SQL
    replays bit-for-bit (networkx
    ``degree_assortativity_coefficient`` agrees on simple graphs).

    Scale design: dedup to undirected simple edges (one collapse),
    one degree aggregate, two equi-joins of the degree table onto the
    edge endpoints (AQE handles the skew; degrees are O(V) rows),
    one map-combinable moment fold. No windows, no iteration.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    both = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("_du"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    pairs = (
        both.join(deg, "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("_du").alias("_dv")),
            "v",
        )
        .select("_du", "_dv")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_m"),
        F.coalesce(
            F.sum("_du").cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_s"),
        F.coalesce(
            F.sum(
                dec(F.col("_du").cast("decimal(19,0)"))
                * F.col("_du").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_q"),
        F.coalesce(
            F.sum(
                dec(F.col("_du").cast("decimal(19,0)"))
                * F.col("_dv").cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_x"),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("_nn"))
    out = agg.crossJoin(F.broadcast(nodes))
    num = F.col("_m") * F.col("_x") - F.col("_s") * F.col("_s")
    den = F.col("_m") * F.col("_q") - F.col("_s") * F.col("_s")
    return out.select(
        F.col("_nn").cast("long").alias("n_nodes"),
        (F.col("_m") / 2).cast("long").alias("n_edges"),
        F.round(
            num.cast("double")
            / F.nullif(den.cast("double"), F.lit(0.0)),
            6,
        ).alias("r"),
    )


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global and average-local clustering coefficients of the
    undirected simple graph — HOW CLIQUEY is it? Global C =
    3*triangles / wedges (the chance two neighbors of a node are
    themselves linked); average-local C is Watts-Strogatz's mean of
    per-node t_v / C(d_v, 2) over nodes with degree >= 2. Together
    with :func:`degree_assortativity` this is the two-line structural
    data card for any pair/link graph: a dedup graph with high C and
    r < 0 is hub-stitched near-clique blocks (healthy); low C with a
    giant component says chains of weak links glued everything
    together (the transitive-closure failure mode). One row
    ``(n_nodes, n_edges, n_wedges, n_triangles, global_c,
    avg_local_c)``; coefficients NULL when there are no wedges / no
    degree>=2 nodes.

    Exactness: triangle counts ride the degree-ordered wedge join of
    :func:`triangle_counts` (hub-capped, exact); wedges are the exact
    integer sum of d(d-1)/2; each node's local ratio 2*t/(d*(d-1)) is
    frozen to a 1e-9 scaled integer so the average is an exact
    integer sum with one divide back. SQL replays bit-for-bit.
    networkx parity: ``transitivity`` agrees with global_c;
    avg_local_c averages over degree>=2 nodes INCLUDING the
    triangle-free ones (their local coefficient enters as zero), so
    it matches NEITHER networkx flag exactly: it equals
    ``average_clustering(G, count_zeros=True)`` restricted to
    degree>=2 nodes. ``count_zeros=False`` would also drop the
    zero-triangle degree>=2 nodes from the denominator (the two
    disagree on any graph with a triangle-free degree>=2 node), and
    the default ``count_zeros=True`` additionally folds degree<2
    nodes in as zeros, reading lower on any graph with leaf or
    isolated-endpoint nodes.

    Scale design: one edge dedup, one degree aggregate, the
    triangle_counts wedge join, one broadcast join of the O(V)
    per-node triangle table onto the O(V) degree table, two 1-row
    folds. No iteration.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e = truncate_lineage(e)
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    tri = triangle_counts(e, "u", "v")
    per = deg.join(
        tri.withColumnRenamed("triangles", "_t"), ["node"], "left"
    ).select(
        "node",
        "_d",
        F.coalesce(F.col("_t"), F.lit(0)).alias("_t"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    local = F.round(
        F.lit(2.0)
        * F.col("_t").cast("double")
        / (
            F.col("_d").cast("double")
            * (F.col("_d").cast("double") - F.lit(1.0))
        )
        * F.lit(1e9)
    ).cast("decimal(38,0)")
    agg = per.agg(
        F.count(F.lit(1)).alias("_nn"),
        F.coalesce(
            F.sum(
                dec(F.col("_d").cast("decimal(19,0)"))
                * (F.col("_d") - 1).cast("decimal(19,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_w2"),
        F.coalesce(
            F.sum("_t").cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_tsum"),
        F.coalesce(
            F.sum(F.when(F.col("_d") >= 2, local)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("_lsum"),
        F.coalesce(
            F.sum(F.when(F.col("_d") >= 2, 1).otherwise(0)),
            F.lit(0),
        ).alias("_deg2"),
    )
    m = e.agg(F.count(F.lit(1)).alias("_m"))
    out = agg.crossJoin(F.broadcast(m))
    wedges = (F.col("_w2") / 2).cast("decimal(38,0)")
    # each triangle is counted at all three corners in _tsum
    global_c = F.when(
        wedges > 0,
        F.round(
            F.col("_tsum").cast("double")
            / wedges.cast("double"),
            6,
        ),
    )
    avg_local = F.when(
        F.col("_deg2") > 0,
        F.round(
            F.col("_lsum").cast("double")
            / F.lit(1e9)
            / F.col("_deg2").cast("double"),
            6,
        ),
    )
    return out.select(
        F.col("_nn").cast("long").alias("n_nodes"),
        F.col("_m").cast("long").alias("n_edges"),
        wedges.cast("long").alias("n_wedges"),
        (F.col("_tsum") / 3).cast("long").alias("n_triangles"),
        global_c.alias("global_c"),
        avg_local.alias("avg_local_c"),
    )
