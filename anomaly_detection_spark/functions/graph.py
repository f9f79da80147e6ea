"""Iterative graph primitives on DataFrames (no GraphFrames dependency).

≈ the reference's supervisor-hierarchy level propagation — a bounded-depth
BFS over parent edges (`/root/reference/anomaly_detection/analyzers/
org_analyzer.py:36-70`, max 20 iterations) — re-expressed as an iterative
DataFrame join loop: the only pattern in the engine where the driver loops,
because BFS depth is a genuine sequential dependency (SURVEY.md §2.5 W7).

Scale notes: each iteration is one broadcast-or-shuffle join frontier ⋈
edges; ``localCheckpoint`` truncates the growing lineage so iteration N
does not replay iterations 1..N-1; total work is O(edges × depth), and the
loop exits as soon as a frontier comes back empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.pairs import cap_blocks


def bfs_levels(edges: DataFrame, root_id, max_iter: int = 20,
               id_col: str = "id", parent_col: str = "parent") -> DataFrame:
    """(id, level) for every node reachable from ``root_id`` following
    child→parent edges in reverse (level 0 = root, 1 = direct children, …).

    ``edges`` holds one row per non-root node: (id, parent). Nodes not
    reached within ``max_iter`` levels are omitted (the reference's bounded
    -depth semantics).
    """
    spark = edges.sparkSession
    levels = spark.createDataFrame([(root_id, 0)], f"{id_col} long, level int")
    frontier = levels
    for _ in range(max_iter):
        children = (
            edges.join(
                frontier.select(F.col(id_col).alias(parent_col), "level"),
                parent_col,
            )
            .select(F.col(id_col), (F.col("level") + 1).alias("level"))
            .join(levels.select(id_col), id_col, "left_anti")
            .localCheckpoint()
        )
        if children.isEmpty():
            break
        levels = levels.unionByName(children).localCheckpoint()
        frontier = children
    return levels


def weighted_edges(df: DataFrame, src_col: str, dst_col: str,
                   weight_out: str = "weight") -> DataFrame:
    """Weighted edge list from an interaction frame: one row per (src, dst)
    with the interaction count as weight (≈ the reference's email-exchange
    edge build, ``graph_builder.py:32-81``, where each sender→recipient email
    increments the edge weight). One hash aggregation — map-side partial
    combine collapses the shuffle to one row per distinct edge."""
    return (
        df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias(weight_out))
    )


def co_activity_pairs(df: DataFrame, entity_col: str, key_cols: list[str],
                      max_entities_per_key: int = 10_000) -> DataFrame:
    """(entity_a, entity_b, shared) — pairwise counts of entities sharing the
    same activity key (≈ high-risk user-pair interaction counts,
    ``multidimensional_detector.py:662-676``), with the self-join bounded.

    The pair space is Σ_key |entities(key)|² — one degenerate key (a day
    every user is active on) is quadratic at scale, so keys with more than
    ``max_entities_per_key`` distinct entities are DROPPED via a map-side-
    combinable count + broadcast anti-join before the self-join (same
    discipline as ``dedup.lsh_candidate_pairs``). Pass a cap above the true
    max co-activity for exact results; the default bounds worst-case pair
    expansion at cap²·n_keys."""
    keyed = df.select(F.col(entity_col).alias("_e"), *key_cols).distinct()
    kept = cap_blocks(keyed, key_cols, max_entities_per_key)
    a = kept.select(F.col("_e").alias("entity_a"), *key_cols)
    b = kept.select(F.col("_e").alias("entity_b"), *key_cols)
    return (
        a.join(b, key_cols)
        .filter(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count("*").alias("shared"))
    )


def _sym(edges: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Undirected (node, other[, w]) view — both directions exploded from
    each edge row so the upstream edge-build plan executes once (a union of
    two selects would execute it twice)."""
    w = [F.col(weight_col).alias("w")] if weight_col else []
    return edges.select(
        F.explode(F.array(
            F.struct(F.col("src").alias("node"), F.col("dst").alias("other"), *w),
            F.struct(F.col("dst").alias("node"), F.col("src").alias("other"), *w),
        )).alias("_e")
    ).select("_e.*")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient
    (≈ ``graph_metrics.py:70-74`` nx.triangles / nx.clustering).

    Degree-oriented wedge enumeration — each undirected edge is directed
    from its lower-(degree, id) endpoint to its higher one, wedges are
    enumerated at the low-rank apex, and a semi-join against the directed
    edge set closes them. Each triangle is found exactly once and the wedge
    count is Σ outdeg² with outdeg ≤ O(√|E|) under degree orientation — the
    standard bound that keeps one celebrity node from going quadratic at
    10^12 edges (id-orientation has no such bound). Output per node:
    ``degree``, ``triangles``, and ``clustering_micros`` =
    floor(1e6 · 2·tri / (deg·(deg−1)) + 0.5) (0 when deg < 2)."""
    e = (
        edges.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = _sym(e.select(F.col("a").alias("src"), F.col("b").alias("dst"))) \
        .groupBy("node").agg(F.count("*").alias("deg"))
    ranked = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    fwd = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    w1 = fwd.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = fwd.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    wedges = w1.join(w2, "u").filter(x_first)
    closing = fwd.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    per_node = (
        tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("triangles"))
    )
    out = deg.join(per_node, "node", "left").select(
        "node", "deg", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    clus = F.col("triangles") * 2e6 / (F.col("deg") * (F.col("deg") - 1.0))
    return out.select(
        "node", F.col("deg").alias("degree"), "triangles",
        F.when(F.col("deg") < 2, F.lit(0)).otherwise(
            F.floor(clus + 0.5).cast("long")
        ).alias("clustering_micros"),
    )


def eigenvector_scores(edges: DataFrame, weight_col: str = "weight",
                       iters: int = 4) -> DataFrame:
    """Eigenvector centrality by power iteration
    (≈ ``graph_metrics.py:63-67`` nx.eigenvector_centrality).

    ``iters`` un-normalized integer iterations s_{k+1}(u) = Σ_v w(u,v)·s_k(v)
    from s_0 ≡ 1, then one normalization by the max — exact int64 arithmetic
    end to end, so the result is bit-identical across engines (a float power
    iteration is summation-order-dependent). Caller must keep
    (max weighted degree)^iters < 2^63 — at larger scale switch to doubles
    with per-iteration normalization and drop exact-oracle comparability.
    Each iteration is one shuffle join + aggregation; no driver loop state.

    The final max-score normalization branch re-executes the iteration chain
    (column pruning makes the two subtrees non-identical, so exchange reuse
    cannot collapse them); at 10^12 edges, localCheckpoint the edge frame —
    or the returned frame before the final select — to pay the chain once."""
    adj = _sym(edges, weight_col)
    s = adj.select("node").distinct().select(
        "node", F.lit(1).cast("long").alias("score")
    )
    for _ in range(iters):
        s = (
            adj.join(s.withColumnRenamed("node", "other"), "other")
            .groupBy("node")
            .agg(F.sum(F.col("w") * F.col("score")).alias("score"))
        )
    mx = s.agg(F.max("score").alias("_mx"))
    return s.crossJoin(F.broadcast(mx)).select(
        "node", "score",
        F.floor(F.col("score") * 1e6 / F.col("_mx") + 0.5)
        .cast("long").alias("eigen_micros"),
    )


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """(node, component) with component = min node id reachable — min-label
    propagation to fixpoint, the scalable stand-in for the reference's
    community detection (``graph_metrics.py:76-81``; greedy modularity is
    inherently sequential, label propagation is the standard distributed
    substitute). Each round is a neighbor-min join + a pointer-jump join
    (component ← component's component, i.e. path compression), so
    convergence is O(log diameter) rounds, not O(diameter) — on a 10^12-edge
    graph with a long chain that is the difference between ~40 and ~10^6
    shuffles. The adjacency is materialized once (localCheckpoint — at real
    scale a disk-persisted checkpoint) so the upstream edge build does not
    re-execute every round; lineage truncated per round. Works on any node
    id type (string doc_ids included): convergence is witnessed by an exact
    any-label-changed probe, not an arithmetic aggregate over the ids."""
    adj = _sym(edges).localCheckpoint()
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("component")
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            adj.join(
                labels.select(F.col("node").alias("other"),
                              F.col("component").alias("_nc")),
                "other",
            )
            .groupBy("node").agg(F.min("_nc").alias("_m"))
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least("component", F.coalesce("_m", "component")).alias("component"),
        )
        # pointer jump: every component id is itself a node, so one join
        # rewrites each label to its label's label, halving chain lengths
        new = (
            stepped.join(
                stepped.select(F.col("node").alias("component"),
                               F.col("component").alias("_cc")),
                "component",
            )
            .select("node", F.least("component", "_cc").alias("component"))
            .localCheckpoint()
        )
        # exact convergence witness, valid for ANY id type: did any node's
        # label change this round? (Σcomponent would crash on string ids
        # under ANSI mode and NULL-out under non-ANSI.) Both sides are
        # checkpointed, and limit(1) lets the probe short-circuit on the
        # first changed row in the common still-converging rounds.
        changed = (
            new.join(labels.select("node", F.col("component").alias("_prev")),
                     "node")
            .filter(F.col("component") != F.col("_prev"))
            .limit(1).count()
        )
        labels = new
        if changed == 0:
            break
    return labels


def community_labels(edges: DataFrame, weight_col: str = "weight",
                     iters: int = 4) -> DataFrame:
    """(node, label) COMMUNITY assignment by synchronous weighted label
    propagation with a total tie-break — the distributed analogue of the
    reference's greedy modularity communities
    (``/root/reference/anomaly_detection/graph_analysis/
    graph_metrics.py:77`` nx.community.greedy_modularity_communities,
    which is inherently sequential: each merge depends on every prior
    merge). Unlike ``connected_components`` (which gives one label per
    connected subgraph), label propagation splits a connected graph into
    densely-linked groups: every round, each node adopts the label with
    the greatest total incident edge weight among its neighbors.

    Determinism: the round count is FIXED (``iters``, no data-dependent
    stopping), the vote is an exact integer weight sum, and ties break by
    the smallest label (``min(struct(-w, label))`` — a total order), so
    the result is bit-identical run-to-run and engine-to-engine; the
    oracle is the same recurrence unrolled as plain SQL. Each node also
    casts a weight-1 vote for its OWN current label — the standard
    inertia term that breaks synchronous-LPA's oscillations on symmetric
    structures (the classic two-node flip-flop) deterministically
    without abandoning the synchronous (order-free, hence distributed)
    update.

    Scale: each round is ONE shuffle join (adjacency ⋈ labels on the
    neighbor id) + two hash aggregations, all map-side combined; the
    adjacency is checkpointed once so the upstream edge build never
    re-executes, and per-round localCheckpoints truncate lineage. Work
    per round is O(|E|); total O(|E|·iters) with no driver-side data."""
    adj = _sym(edges, weight_col).localCheckpoint()
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("label"))
    for _ in range(int(iters)):
        votes = (
            adj.join(labels.select(F.col("node").alias("other"), "label"),
                     "other")
            .select("node", "label", F.col("w").alias("_w"))
            .unionByName(labels.select(
                "node", "label", F.lit(1).cast("long").alias("_w")))
            .groupBy("node", "label").agg(F.sum("_w").alias("_w"))
        )
        labels = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("_w")).alias("nw"),
                                F.col("label").alias("l"))).alias("_b"))
            .select("node", F.col("_b.l").alias("label"))
            .localCheckpoint()
        )
    return labels


def community_modularity(edges: DataFrame, labels: DataFrame,
                         weight_col: str = "weight") -> DataFrame:
    """Per-community Newman modularity contribution over an undirected
    weighted graph: ``(community, n_nodes, in2_w, tot_w, q_micro)`` where
    ``in2_w`` = 2× the intra-community edge weight, ``tot_w`` = the summed
    weighted degree of members, and ``q_micro`` = floor(1e6·(in2/2m −
    (tot/2m)²) + 0.5). Σ q_micro/1e6 ≈ the global modularity Q the
    reference maximizes (``graph_metrics.py:77``); per-community rows make
    WEAK communities visible (q ≤ 0 ⇒ no denser than random).

    Exactness: in2, tot and 2m are exact integer weight sums (every sym
    row counted once, so intra edges contribute twice — the 2× Newman
    convention); only the final two-division expression is double, and it
    is the identical IEEE tree in the SQL oracle. Plan: two shuffle joins
    of the symmetric adjacency against the labels frame + three hash
    aggs; the 1-row 2m total is crossJoin-broadcast. O(|E|) — no
    pair-enumeration anywhere."""
    sym = _sym(edges, weight_col)
    deg = sym.groupBy("node").agg(F.sum("w").alias("_wdeg"))
    m2 = sym.agg(F.sum("w").alias("_m2"))
    intra = (
        sym.join(labels.withColumnRenamed("label", "_la"), "node")
        .join(labels.select(F.col("node").alias("other"),
                            F.col("label").alias("_lb")), "other")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("community"))
        .agg(F.sum("w").alias("in2_w"))
    )
    tot = (
        labels.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"),
             F.sum("_wdeg").alias("tot_w"))
    )
    m2d = F.col("_m2").cast("double")
    in2d = F.col("in2_w").cast("double")
    totd = F.col("tot_w").cast("double")
    return (
        tot.join(intra, "community", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "community", "n_nodes",
            F.coalesce("in2_w", F.lit(0)).alias("in2_w"), "tot_w",
            F.floor(
                F.lit(1e6) * (F.coalesce(in2d, F.lit(0.0)) / m2d
                              - (totd / m2d) * (totd / m2d))
                + F.lit(0.5)
            ).cast("long").alias("q_micro"),
        )
    )


def _landmark_bfs(adj: DataFrame, n_landmarks: int, max_depth: int) -> DataFrame:
    """(root, node, d) exact shortest distances from the ``n_landmarks``
    smallest-id nodes, bounded at ``max_depth`` — multi-source BFS as an
    iterative frontier join, state O(V·|landmarks|), lineage truncated per
    level. ``adj`` must already be materialized (localCheckpoint)."""
    landmarks = (
        adj.select("node").distinct().orderBy("node").limit(n_landmarks)
        .select(F.col("node").alias("root"))
    )
    visited = landmarks.select(
        "root", F.col("root").alias("node"), F.lit(0).alias("d")
    ).localCheckpoint()
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(adj, "node")
            .select("root", F.col("other").alias("node"), F.lit(depth).alias("d"))
            .distinct()
            .join(visited.select("root", "node"), ["root", "node"], "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def landmark_closeness(edges: DataFrame, n_landmarks: int = 8,
                       max_depth: int = 4) -> DataFrame:
    """Closeness centrality against a deterministic landmark set — the
    sampled-BFS stand-in for ``graph_metrics.py:49-50`` nx.closeness
    (exact all-pairs BFS is O(V·E); landmark BFS is the standard scale
    substitute, state O(V·|landmarks|)). Landmarks are the ``n_landmarks``
    smallest node ids. Per node (landmarks at distance ≥ 1 within
    ``max_depth``): ``n_reached``, ``total_dist``, ``closeness_micros`` =
    floor(1e6 · n_reached / total_dist + 0.5). The adjacency is materialized
    once so the edge build does not re-execute per BFS level."""
    adj = _sym(edges).localCheckpoint()
    reached = _landmark_bfs(adj, n_landmarks, max_depth).filter(F.col("d") > 0)
    return reached.groupBy("node").agg(
        F.count("*").alias("n_reached"),
        F.sum("d").alias("total_dist"),
        F.floor(F.count("*") * 1e6 / F.sum("d") + 0.5)
        .cast("long").alias("closeness_micros"),
    )


def landmark_stress(edges: DataFrame, n_landmarks: int = 8,
                    max_depth: int = 4) -> DataFrame:
    """Sampled-source betweenness as exact stress centrality: the number of
    shortest paths from the landmark set that pass THROUGH each node
    (endpoints excluded) — the integer-arithmetic member of the
    betweenness family (≈ ``graph_metrics.py:53-60`` sampled
    nx.betweenness_centrality; Brandes' fractional dependency accumulation
    needs float divisions whose summation order is engine-dependent, so the
    exact path-count variant is what an oracle can check bit-for-bit).

    Per landmark root, over the shortest-path DAG (edges level l → l+1):
    forward   σ(v) = Σ_{u ∈ pred(v)} σ(u)          (σ(root) = 1)
    backward  T(u) = Σ_{v ∈ succ(u)} (1 + T(v))    (T at max depth = 0)
    stress(v) = Σ_roots σ(v) · T(v) — every shortest path s→v→t counted
    once. Both recurrences are level-ordered join+agg loops with fixed
    ``max_depth`` trip count (no convergence actions); the DAG is
    materialized once. σ and T are int64 path counts — bounded by the
    product of DAG level widths, far inside int64 at sane depths."""
    adj = _sym(edges).localCheckpoint()
    dist = _landmark_bfs(adj, n_landmarks, max_depth)
    du = dist.select("root", F.col("node").alias("u"), F.col("d").alias("du"))
    dv = dist.select("root", F.col("node").alias("v"), F.col("d").alias("dv"))
    dag = (
        adj.select(F.col("node").alias("u"), F.col("other").alias("v"))
        .join(du, "u")
        .join(dv, ["root", "v"])
        .filter(F.col("dv") == F.col("du") + 1)
        .select("root", "u", "v", "du")
        .localCheckpoint()
    )
    # forward: σ per level
    frontier = dist.filter(F.col("d") == 0).select(
        "root", "node", F.lit(1).cast("long").alias("sigma")
    )
    sigmas = []
    for lvl in range(1, max_depth + 1):
        frontier = (
            dag.filter(F.col("du") == lvl - 1)
            .join(frontier.select("root", F.col("node").alias("u"), "sigma"),
                  ["root", "u"])
            .groupBy("root", F.col("v").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        sigmas.append(frontier)
    all_sigma = sigmas[0]
    for s in sigmas[1:]:
        all_sigma = all_sigma.unionByName(s)
    # backward: T per level (deepest level has no successors → 0)
    deepest = dist.filter(F.col("d") == max_depth).select(
        "root", "node", F.lit(0).cast("long").alias("t")
    )
    t_frames = [deepest]
    succ_t = deepest
    for lvl in range(max_depth - 1, 0, -1):
        contrib = (
            dag.filter(F.col("du") == lvl)
            .join(succ_t.select("root", F.col("node").alias("v"), "t"),
                  ["root", "v"])
            .groupBy("root", F.col("u").alias("node"))
            .agg(F.sum(F.col("t") + 1).alias("t"))
        )
        cur = (
            dist.filter(F.col("d") == lvl).select("root", "node")
            .join(contrib, ["root", "node"], "left")
            .select("root", "node",
                    F.coalesce("t", F.lit(0).cast("long")).alias("t"))
        )
        t_frames.append(cur)
        succ_t = cur
    all_t = t_frames[0]
    for t in t_frames[1:]:
        all_t = all_t.unionByName(t)
    through = (
        all_sigma.join(all_t, ["root", "node"])
        .groupBy("node")
        .agg(F.sum(F.col("sigma") * F.col("t")).alias("stress"))
    )
    return (
        adj.select("node").distinct()
        .join(through, "node", "left")
        .select("node", F.coalesce("stress", F.lit(0).cast("long")).alias("stress"))
    )


def pagerank_fixed(edges: DataFrame, iters: int = 5,
                   scale: int = 10**9) -> DataFrame:
    """PageRank over the undirected view, in FIXED-POINT integer arithmetic:
    scores are int64 "nanos" (``scale`` = 1.0), damping 0.85 = 17/20 applied
    as exact integer multiply-then-floor-divide, so every iteration is a sum
    of integers — bit-identical across engines and partitionings, unlike
    float PageRank whose per-node contribution sums are order-dependent.
    pr₀ = scale/N; prₖ₊₁(v) = base + Σ_{u∼v} (prₖ(u)·17) div (20·deg(u)),
    base = (scale·3) div (20·N). Floor loss slightly deflates the total
    mass; ranking semantics are standard. One join+agg per iteration; the
    adjacency and degree frames are materialized once so the edge build
    does not re-execute per iteration."""
    adj = _sym(edges).localCheckpoint()
    deg = adj.groupBy("node").agg(F.count("*").alias("deg")).localCheckpoint()
    nn = deg.agg(F.count("*").alias("_n"))
    pr = deg.crossJoin(F.broadcast(nn)).select(
        "node", "deg", F.expr(f"CAST({scale} AS BIGINT) div _n").alias("pr"), "_n",
    )
    for _ in range(iters):
        contrib = (
            adj.join(
                pr.select(F.col("node").alias("other"),
                          F.expr("(pr * 17) div (20 * deg)").alias("_c")),
                "other",
            )
            .groupBy("node").agg(F.sum("_c").alias("_s"))
        )
        pr = (
            deg.crossJoin(F.broadcast(nn))
            .join(contrib, "node")
            .select("node", "deg",
                    F.expr(f"(CAST({scale} AS BIGINT) * 3) div (20 * _n) + _s")
                    .alias("pr"),
                    "_n")
        )
    return pr.select("node", F.col("pr").alias("pagerank_nanos"))


def degree_centrality(edges: DataFrame, weight_col: str = "weight") -> DataFrame:
    """Per-node degree centrality over an undirected view of weighted edges
    (≈ ``graph_metrics.py:46-52`` nx.degree_centrality + weighted degree).

    Outputs per node: ``n_neighbors`` (distinct adjacent nodes),
    ``weighted_degree`` (Σ edge weights), and ``centrality_micros`` =
    floor(1e6 · n_neighbors / (N − 1) + 0.5) with N the total node count —
    networkx's normalization in exact integer micro-units. Cost: one union + one aggregation + one broadcast of the
    1-row node count; no iteration, no driver collect — the cheap win of the
    centrality family at 10^12 edges (betweenness/closeness need sampled
    shortest paths and stay out of the default suite)."""
    sym = _sym(edges, weight_col)
    deg = sym.groupBy("node").agg(
        F.countDistinct("other").alias("n_neighbors"),
        F.sum("w").alias("weighted_degree"),
    )
    n_nodes = deg.agg(F.count("*").alias("_n"))
    # centrality in exact integer micro-units: floor on identical doubles is
    # cross-engine tie-break-free, unlike decimal ROUND (oracle-compared)
    cent = F.col("n_neighbors") * 1e6 / (F.col("_n") - 1.0)
    return deg.crossJoin(F.broadcast(n_nodes)).select(
        "node", "n_neighbors", "weighted_degree",
        F.floor(cent + 0.5).cast("long").alias("centrality_micros"),
    )


def exact_betweenness(edges: DataFrame, max_component: int = 5_000,
                      max_iter: int = 50) -> DataFrame:
    """(node, betweenness, stress) — exact Brandes dependency accumulation,
    run independently per connected component inside one grouped Arrow pass
    (``applyInPandas``). The verification twin of ``landmark_stress``: the
    reference's exact branch (``graph_metrics.py:46-60`` runs
    nx.betweenness_centrality exactly on small graphs, sampled on big ones)
    has per-source sequential structure that no join loop expresses, so the
    exact form runs WHERE it is tractable — inside a component small enough
    for one task — and the landmark approximation covers the rest.

    Semantics (undirected, unweighted, endpoints excluded):

    * ``betweenness`` — Σ_{s≠v≠t} σ_st(v)/σ_st, each unordered pair counted
      once (the per-source accumulation double-counts undirected pairs, so
      the total is halved — networkx's convention, unnormalized).
    * ``stress`` — integer count of shortest paths THROUGH the node, each
      path counted from both endpoints — exactly what ``landmark_stress``
      computes when its landmark set covers every node and ``max_depth``
      reaches the component diameter, which is the parity assertion in
      ``tests/test_graph.py``.

    Scale shape: components are the grouping key, so the exact pass is
    embarrassingly parallel across components; one component's O(V·E)
    Brandes runs single-task, which is why components larger than
    ``max_component`` are EXCLUDED (count + broadcast anti-join — their
    nodes fall back to the landmark approximation, they don't crash an
    executor). Node ids are cast to string so any id type groups cleanly
    through Arrow."""
    import pandas as pd

    comp = connected_components(edges, max_iter=max_iter)
    kept = cap_blocks(comp, "component", max_component)
    sym = _sym(edges)
    e = (
        sym.join(kept, "node")
        .select(
            F.col("component").cast("string").alias("component"),
            F.col("node").cast("string").alias("src"),
            F.col("other").cast("string").alias("dst"),
        )
    )

    def brandes(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import deque

        adj: dict[str, set] = {}
        for s, d in zip(pdf["src"], pdf["dst"]):
            adj.setdefault(s, set()).add(d)
        nodes = sorted(adj)
        bet = dict.fromkeys(nodes, 0.0)
        stress = dict.fromkeys(nodes, 0)
        for s in nodes:
            dist = {s: 0}
            sigma = {s: 1}
            preds: dict[str, list] = {s: []}
            order = []
            q = deque([s])
            while q:
                u = q.popleft()
                order.append(u)
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        sigma[w] = 0
                        preds[w] = []
                        q.append(w)
                    if dist[w] == dist[u] + 1:
                        sigma[w] += sigma[u]
                        preds[w].append(u)
            delta = dict.fromkeys(order, 0.0)
            tcnt = dict.fromkeys(order, 0)
            for w in reversed(order):
                for u in preds[w]:
                    delta[u] += (sigma[u] / sigma[w]) * (1.0 + delta[w])
                    tcnt[u] += 1 + tcnt[w]
                if w != s:
                    bet[w] += delta[w]
                    stress[w] += sigma[w] * tcnt[w]
        return pd.DataFrame(
            {
                "node": nodes,
                # halve: undirected pairs were accumulated from both ends
                "betweenness": [bet[v] / 2.0 for v in nodes],
                "stress": [stress[v] for v in nodes],
            }
        )

    return e.groupBy("component").applyInPandas(
        brandes, "node string, betweenness double, stress long"
    )
