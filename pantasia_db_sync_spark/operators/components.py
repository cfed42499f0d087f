"""Connected components — near-dup cluster canonicalization.

A dedup pipeline's final step: near-dup PAIRS (from MinHash/SimHash/
cosine banding) must become per-document canonical ids, i.e. connected
components of the similarity graph with ``component_id = min(doc_id)``
per component (the transitive closure of "is a near-dup of").

Implementation: iterative min-label propagation — each round every
node takes the min of its own label and its neighbors' labels; the
loop converges in graph-diameter rounds. Near-dup components are tiny
(pairs → clusters of a handful of docs), so diameter is small; per
round the work is one equi-join + one groupBy, both shuffle-partitioned
on the node id — no driver-side graph state, nothing collected. Labels
are localCheckpoint'ed per round to cut the growing lineage.

At extreme scale (billions of edges, adversarial diameter) the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond") converges in O(log n) rounds with
the same join-shape per round; the propagation loop below keeps the
simpler shape since near-dup graphs are shallow by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .ckpt import LoopCheckpointer, freeze


def _local_frame(spark, rows, schema: str):
    """Tiny driver-resident frame as ONE partition: the default
    createDataFrame parallelizes to defaultParallelism slices, so every
    job touching a 1-5-row seed frame dragged 31 empty tasks along."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    comp_col: str = "component_id",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component_id) with component_id = min node id reachable.

    ``edges`` are undirected pairs; ``nodes`` lists every node so
    singletons (no edges) appear with their own id as component.
    Deterministic: the result depends only on the graph, not on
    partitioning or iteration order. Raises RuntimeError if the graph
    diameter exceeds ``max_iter`` (labels still changing) — a silently
    partial canonicalization would keep duplicate documents.
    """
    # Freeze the symmetric edge list ONCE: every round joins it, and
    # without the checkpoint each round's job re-derives the upstream
    # edge producer from scratch (for the dedup query that is the whole
    # MinHash banding pipeline — measured ~1.5s per round of pure
    # recompute at sf0.1).
    sym = freeze(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    )
    all_nodes = nodes.select(F.col(node_col).alias("node")).distinct()
    # Only nodes with at least one edge can ever change label, so the
    # iteration runs over the edge-touched subgraph and singletons are
    # unioned back at the end as their own components. In a real dedup
    # graph the vast majority of documents are singletons — they skip
    # every per-round join/checkpoint instead of being dragged through
    # the loop.
    edge_nodes = sym.select("src").distinct().withColumnRenamed("src", "node")
    singletons = all_nodes.join(edge_nodes, "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    # Superseded rounds' checkpoint blocks are freed as the loop
    # advances (operators/ckpt.py) — round t's labels are dead by
    # construction once round t+1 is materialized, and leaving them
    # pinned degrades every later job in a long-lived session.
    ck = LoopCheckpointer()
    labels = ck.step(
        all_nodes.join(edge_nodes, "node", "left_semi").withColumn(
            "label", F.col("node")
        )
    )
    from pyspark.sql import Observation

    converged = False
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("dst", "node")
        )
        # Convergence detection rides the SAME job as the label update:
        # an Observation on the eager checkpoint counts changed labels
        # during materialization, replacing the per-round count job and
        # its join against the previous labels (2 jobs/round -> 1).
        new_col = F.least("label", F.coalesce("nbr_label", "label"))
        obs = Observation()
        new_labels = ck.step(
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                new_col.alias("__new"),
                (new_col != F.col("label")).cast("int").alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("n"))
            .select("node", F.col("__new").alias("label"))
        )
        labels = new_labels
        if int(obs.get["n"] or 0) == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter too large) — raise max_iter, or switch to "
            "the large-star/small-star O(log n) variant"
        )
    return labels.unionByName(singletons).select(
        F.col("node"), F.col("label").alias(comp_col)
    )


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set, canonically directed high→low, self-loops
    dropped, deduped."""
    u, v = F.col("src"), F.col("dst")
    return (
        edges.select(
            F.greatest(u, v).alias("src"), F.least(u, v).alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: every node links its strictly-larger neighbors to
    the minimum of its neighborhood (incl. itself)."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: every node links its smaller-or-equal neighbors
    (and itself) to the minimum of that set."""
    canon = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = canon.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = canon.select("src", "dst").union(
        mins.select("src", F.col("src").alias("dst"))
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def connected_components_logn(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    comp_col: str = "component_id",
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    converges in O(log n) rounds regardless of graph DIAMETER, unlike
    min-label propagation's O(diameter). Each round is two
    groupBy+join passes over the edge list — the same shuffle shape,
    just exponentially fewer rounds on chain-like graphs. Use this
    variant when clusters can be deep (e.g. transitive similarity
    chains); `connected_components` is simpler and equally fast on the
    shallow graphs near-dup detection usually produces.
    """
    # keep=2: the convergence delta below consumes ``cur`` AFTER
    # ``stepped`` is materialized, so the previous generation must stay
    # live one round longer (operators/ckpt.py)
    ck = LoopCheckpointer()
    cur = ck.step(
        _canonical_edges(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        )
    )
    converged = cur.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        stepped = ck.step(_canonical_edges(_small_star(_large_star(cur))))
        # converged when the canonical edge set is stable
        delta = (
            stepped.exceptAll(cur).count() + cur.exceptAll(stepped).count()
        )
        cur = stepped
        if delta == 0:
            converged = True
    if not converged:
        raise RuntimeError(
            f"connected_components_logn did not converge in {max_iter} rounds"
        )
    # at convergence every edge points node→component-min (a star)
    centers = cur.groupBy("src").agg(F.min("dst").alias("label"))
    return (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(centers.withColumnRenamed("src", "node"), "node", "left")
        .select(
            "node",
            F.least(F.col("node"), F.coalesce("label", F.col("node"))).alias(
                comp_col
            ),
        )
    )


def bfs_distances(
    edges: DataFrame,
    src: int,
    hops: int = 4,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """(node, dist): single-source shortest HOP distance, exact for
    distances ≤ ``hops``; nodes not reached within the cap keep NULL.

    Iterative relaxation — the BFS twin of connected_components' label
    propagation: each round the frontier's distances flow one hop over
    the symmetric edge list and every node keeps its MIN. Per round the
    work is one equi-join + one combinable groupBy, both partitioned on
    the node id; distances are localCheckpoint'ed per round to cut the
    growing lineage (same hygiene as the components loop). No driver
    graph state — the only scalar is the caller-chosen source id.

    The hop cap is part of the CONTRACT, not a shortcut: it makes the
    operator engine-portable (the oracle is a depth-capped recursive
    CTE) and at 100 TB a bounded number of BFS rounds is what you can
    actually schedule; uncapped BFS is the same loop run to fixpoint.
    """
    # frozen once: sym is joined EVERY round — without the checkpoint
    # each round's job re-executes the caller's whole edge-list
    # derivation (scan + self-join + distinct for the co-purchase
    # queries), the defect the sssp/pagerank twins never had
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    ck = LoopCheckpointer()
    dist = ck.step(
        nodes.select(
            "node",
            F.when(F.col("node") == F.lit(src), F.lit(0))
            .otherwise(F.lit(None))
            .cast("int")
            .alias("d"),
        )
    )
    for _ in range(hops):
        cand = (
            dist.where(F.col("d").isNotNull())
            .join(sym, dist["node"] == sym["a"])
            .select(F.col("b").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = ck.step(
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("d").cast("int").alias("d"))
        )
    return dist.select("node", F.col("d").alias("dist"))


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int | None = 4,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """(node, degree): the nodes surviving k-core PEELING (repeatedly
    delete nodes of degree < k and their edges), with their degree in
    the surviving subgraph.

    ``rounds=None`` (the user-facing contract at scale) peels to the
    FIXPOINT: rounds run until one removes nothing, detected by the
    edge count each checkpoint job observes (the initial freeze's
    included) — no count job of its own, so convergence costs one
    no-op round, never a recount of unmaterialized plans. An integer
    ``rounds`` caps the peeling instead; that form is engine-portable
    (the oracle replays the same rounds as chained CTE stages) and is
    what the registered query pins. A capped run that reaches a round
    removing nothing has converged and equals the fixpoint.

    Per round: one combinable degree count + one semi-join filter of
    the edge list — both partitioned on the node id; the shrinking
    edge list is checkpointed per round (components-loop hygiene).
    Cohesion primitive for dedup/spam graph audits: the k-core is
    where dense near-dup communities live, rank-robust unlike raw
    degree."""
    # the symmetric edge list IS the evolving state here (peeled each
    # round): track it so superseded rounds' blocks are freed
    ck = LoopCheckpointer()

    def step(s: DataFrame, obs: Observation | None = None) -> DataFrame:
        if obs is not None:
            # the edge count rides the checkpoint job (the
            # connected_components Observation move) — the fixed-point
            # probe cost one extra count job per round
            s = s.observe(obs, F.count(F.lit(1)).alias("n"))
        return ck.step(s)

    def peel(s: DataFrame, obs: Observation | None = None) -> DataFrame:
        deg = s.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("a")
        return step(
            s.join(keep, "a", "left_semi").join(
                keep.withColumnRenamed("a", "b"), "b", "left_semi"
            ),
            obs,
        )

    obs = Observation() if rounds is None else None
    sym = step(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b")).unionAll(
            edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b"))
        ),
        obs,
    )
    if rounds is None:
        prev = int(obs.get["n"] or 0)
        while True:
            obs = Observation()
            sym = peel(sym, obs)
            cur = int(obs.get["n"] or 0)
            if cur == prev:
                break
            prev = cur
    else:
        for _ in range(rounds):
            sym = peel(sym)
    return (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .where(F.col("degree") >= k)
        .select(F.col("a").alias("node"), "degree")
    )


def shortest_paths(
    edges: DataFrame,
    src: int,
    rounds: int = 4,
    u_col: str = "u",
    v_col: str = "v",
    w_col: str = "w",
) -> DataFrame:
    """(node, dist): single-source WEIGHTED shortest distance over
    undirected edges, exact for paths of ≤ ``rounds`` edges (the
    Bellman-Ford relaxation count); unreached nodes keep NULL.

    The weighted generalization of :func:`bfs_distances`: each round
    every known distance flows over the symmetric edge list adding the
    edge weight, and every node keeps its MIN. One equi-join + one
    combinable groupBy per round, distances checkpointed per round —
    the connected_components loop shape, no driver graph state.

    CONTRACT: integer (BIGINT) non-negative weights — the micro-unit
    discipline; integer min/plus is order-free, so the result is
    engine-exact (the oracle is a hop-capped recursive CTE). The round
    cap is part of the contract, not a shortcut, same as the BFS twin:
    ``rounds`` relaxations = exact minimum over ≤``rounds``-edge paths,
    and at 100 TB a bounded round count is what you can schedule
    (|V|−1 rounds is textbook-exact Bellman-Ford, same loop)."""
    sym = freeze(edges.select(  # joined every round
        F.col(u_col).alias("a"), F.col(v_col).alias("b"),
        F.col(w_col).cast("bigint").alias("w"),
    ).unionAll(
        edges.select(
            F.col(v_col).alias("a"), F.col(u_col).alias("b"),
            F.col(w_col).cast("bigint").alias("w"),
        )
    ))
    nodes = sym.select(F.col("a").alias("node")).distinct()
    ck = LoopCheckpointer()
    dist = ck.step(
        nodes.select(
            "node",
            F.when(F.col("node") == F.lit(src), F.lit(0))
            .otherwise(F.lit(None))
            .cast("bigint")
            .alias("d"),
        )
    )
    for _ in range(rounds):
        cand = (
            dist.where(F.col("d").isNotNull())
            .join(sym, dist["node"] == sym["a"])
            .select(F.col("b").alias("node"), (F.col("d") + F.col("w")).alias("d"))
        )
        dist = ck.step(
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("d").cast("bigint").alias("d"))
        )
    return dist.select("node", F.col("d").alias("dist"))


def pagerank(
    edges: DataFrame,
    rounds: int = 3,
    u_col: str = "u",
    v_col: str = "v",
    micro: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """(node, rank_micro): round-capped PageRank over the symmetrized
    edge list, in INTEGER MICRO-UNITS — every arithmetic step is
    int64, so the result is bit-identical across engines and
    partitionings (float PageRank drifts in the last ulps per round as
    summation order changes; the integer formulation has no order to
    disagree about — the corpus_temperature_mix / shortest_paths
    micro-unit discipline applied to rank mass).

    Semantics (pinned): every node starts at ``micro``; each round a
    node sends each neighbor ``(damp_num * rank) DIV (damp_den * deg)``
    (floor division — the sub-unit remainder is dropped, a documented
    leak of < deg micro-units per node per round) and every node
    restarts with ``micro * (damp_den - damp_num) / damp_den``. The
    round cap is the engine-portable contract (the oracle replays the
    rounds as chained CTE stages), same as kcore / BFS / SSSP.

    Scale shape per round: one equi-join of the rank frame onto the
    (frozen) symmetric edge list + one combinable groupBy(dst) — no
    driver graph state; ranks are checkpointed per round
    (components-loop hygiene). Degrees are computed once and reused."""
    base = micro * (damp_den - damp_num) // damp_den
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    # frozen once: deg is joined every round — unfrozen, each round's
    # job re-runs the degree groupBy over sym (one extra shuffle/round)
    deg = freeze(
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    r = deg.select("a", F.lit(micro).cast("bigint").alias("r"))
    ck = LoopCheckpointer()
    for _ in range(rounds):
        contrib = (
            sym.join(r.join(deg, "a"), "a")
            .select(
                F.col("b").alias("a"),
                F.expr(
                    f"CAST(({damp_num} * r) DIV ({damp_den} * deg) AS BIGINT)"
                ).alias("c"),
            )
        )
        r = ck.step(
            contrib.groupBy("a").agg(
                (F.lit(base) + F.sum("c")).cast("bigint").alias("r")
            )
        )
    return r.select(F.col("a").alias("node"), F.col("r").alias("rank_micro"))


def multi_bfs_distances(
    edges: DataFrame,
    seeds: list[int],
    hops: int = 4,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """(seed, node, dist): hop distances from EVERY seed at once, exact
    to ``hops`` — the multi-source generalization of bfs_distances that
    centrality computations need (one BFS per seed would be |seeds|
    sequential job chains; this runs them as ONE chain with a composite
    (seed, node) label key).

    Per round: one equi-join of the frontier against the symmetric edge
    list + one combinable (seed, node) min — both shuffle on the node
    id, so the per-round cost is |frontier| x avg-degree regardless of
    seed count, and the label state is at most |seeds| x |reachable|
    rows.  Distances are localCheckpoint'ed per round (the components
    loop's lineage hygiene).  Only reached (seed, node) pairs appear in
    the output.
    """
    # frozen once: joined every round (see bfs_distances — without
    # this each of the ``hops`` round jobs re-executes the caller's
    # edge-list derivation from the raw scans)
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    # Seed the frontier directly from the seeds list (one (s, s, 0) row
    # per distinct seed) rather than by filtering the graph's node set:
    # a seed absent from the edge list still gets its (seed, seed, 0)
    # row — it is a real vertex at distance 0 from itself — instead of
    # being silently dropped from every downstream centrality.
    spark = edges.sparkSession
    ck = LoopCheckpointer()
    dist = ck.step(
        _local_frame(
            spark,
            [(int(s), int(s), 0) for s in dict.fromkeys(seeds)],
            "seed bigint, node bigint, d int",
        )
    )
    for _ in range(hops):
        cand = dist.join(sym, dist["node"] == sym["a"]).select(
            "seed", F.col("b").alias("node"), (F.col("d") + 1).cast("int").alias("d")
        )
        dist = ck.step(
            dist.unionByName(cand)
            .groupBy("seed", "node")
            .agg(F.min("d").cast("int").alias("d"))
        )
    return dist.select("seed", "node", F.col("d").alias("dist"))


def _oriented_triangles(
    e: DataFrame,
    deg: DataFrame | None = None,
    ck: "LoopCheckpointer | None" = None,
) -> DataFrame:
    """(x, y, z): each triangle of the canonical (u < v, distinct)
    undirected edge list exactly once, enumerated under the
    (degree, id) total order — the compact-forward orientation shared
    with the triangle/clustering plans (plans/extras.py): the
    max-degree hub has out-degree 0 and pivots zero wedges, so wedge
    volume is arboricity-bounded instead of Sigma d(hub)^2.

    ``deg``: optional precomputed (node, d) degree frame over ``e`` —
    callers that already aggregate degrees for their own output (the
    clustering-coefficient plan) pass it in so the union+groupBy over
    the edge list is planned once, not twice."""
    if deg is None:
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o_plan = j.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    # ck: loop callers (truss peeling) route this per-round lazy freeze
    # through their tracker so its blocks are freed once superseded
    o = ck.step(o_plan, eager=False) if ck else freeze(o_plan, eager=False)
    e1 = o.select("a", "b")
    e2 = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    closing = o.select("a", F.col("b").alias("c"))
    return e1.join(e2, "b").join(closing, ["a", "c"]).select("a", "b", "c")


def ktruss(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """(u, v, support): the edges surviving ``rounds`` of k-TRUSS
    peeling — repeatedly delete every edge in fewer than k-2 triangles
    — with their triangle support in the surviving subgraph. The truss
    is the EDGE-cohesion ladder above the k-core's node degrees: a hub
    touching many stringy neighbors survives any degree filter but its
    spokes sit in no triangles and die in truss round 1, so trusses
    isolate genuinely dense communities (Cohen 2008).

    Per round: one degree-oriented triangle enumeration
    (`_oriented_triangles` — arboricity-bounded wedges, no hot-key
    funnel), one explode of each triangle to its three canonical
    edges, one combinable (u, v) support count, and a filter; the
    shrinking edge list is localCheckpoint'ed per round (the
    components-loop lineage hygiene). The round cap is the
    engine-portable contract (the registered query's oracle replays
    exactly those rounds as chained CTE stages, the kcore pairing); a
    round that deletes nothing has converged and equals the fixpoint.
    """
    # keep=3: generations alternate edge-list / triangle-freeze
    # (e_0, o_1, e_1, o_2, ...) and the returned support frame
    # references the previous round's edge list AND this round's
    # triangle freeze — the newest three generations cover both
    ck = LoopCheckpointer(keep=3)
    e = ck.step(
        edges.select(
            F.least(u_col, v_col).alias("u"),
            F.greatest(u_col, v_col).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
    )
    sup = None
    for _ in range(rounds):
        tri = _oriented_triangles(e, ck=ck)
        # explode, not a 3-leg union: the union form re-plans the whole
        # wedge-join subtree once per corner edge (3x the shuffles for
        # the same rows — seen in the r16 before-plan); one Generate
        # emits the identical edge multiset from a single enumeration
        corners = tri.select(
            F.explode(
                F.array(
                    F.array("a", "b"), F.array("b", "c"), F.array("a", "c")
                )
            ).alias("uv")
        ).select(
            F.least(F.col("uv")[0], F.col("uv")[1]).alias("u"),
            F.greatest(F.col("uv")[0], F.col("uv")[1]).alias("v"),
        )
        tri_sup = corners.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("bigint").alias("support")
        )
        # left-join back onto the surviving edge list: a triangle-free
        # edge has support 0, which the k <= 2 truss (support >= k-2
        # <= 0) must KEEP — dropping it would make ktruss(k=2) empty
        # instead of the whole graph (round-13 review finding)
        sup = e.join(tri_sup, ["u", "v"], "left").select(
            "u",
            "v",
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
        )
        e = ck.step(sup.where(F.col("support") >= k - 2).select("u", "v"))
    if sup is None:
        raise ValueError("ktruss: rounds must be >= 1")
    return sup.where(F.col("support") >= k - 2).select("u", "v", "support")


def personalized_pagerank(
    edges: DataFrame,
    seed: int,
    rounds: int = 4,
    u_col: str = "u",
    v_col: str = "v",
    micro: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """(node, rank_micro): round-capped PERSONALIZED PageRank — all
    restart mass returns to ``seed`` instead of spreading uniformly, so
    rank measures proximity TO THE SEED (the similar-items / local-
    community primitive behind who-to-follow and related-docs ranking;
    Jeh & Widom 2003). Same integer micro-unit discipline as
    ``pagerank``: every step is int64 floor division, bit-identical
    across engines and partitionings.

    The 100 TB property pagerank lacks: the rank frame is SPARSE —
    round t holds only nodes within t hops of the seed with nonzero
    floored rank, so per-round cost is |local neighborhood| x degree,
    never |graph| (zero-rank rows are dropped each round, and the
    registered query's oracle replays the identical sparse frames)."""
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    # frozen once: deg is joined every round (see pagerank)
    deg = freeze(
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    spark = edges.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    def _one_row(rows, names):
        # a 1-row local frame must be ONE partition — the default
        # createDataFrame parallelizes to defaultParallelism slices, so
        # every round's union dragged 31 empty tasks into its job
        # nullable=True matches the string-schema createDataFrame the
        # original form used — keeps union/output schemas byte-identical
        schema = StructType([StructField(n, LongType(), True) for n in names])
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        )

    # loop-invariant: the same (seed, 0) row every round — built once
    seed_row = freeze(_one_row([(int(seed), 0)], ["node", "c"]))
    ck = LoopCheckpointer()
    r = ck.step(_one_row([(int(seed), int(micro))], ["a", "r"]))
    restart = (micro * (damp_den - damp_num)) // damp_den
    for _ in range(rounds):
        contrib = (
            r.join(sym, "a")
            .join(deg, "a")
            .select(
                F.col("b").alias("node"),
                F.floor(
                    (damp_num * F.col("r")) / (damp_den * F.col("deg"))
                )
                .cast("bigint")
                .alias("c"),
            )
        )
        seeded = contrib.unionByName(seed_row)
        r = ck.step(
            seeded.groupBy("node")
            .agg(
                (
                    F.sum("c")
                    + F.when(F.col("node") == int(seed), restart).otherwise(0)
                )
                .cast("bigint")
                .alias("r")
            )
            .where(F.col("r") > 0)
            .select(F.col("node").alias("a"), "r")
        )
    return r.select(F.col("a").alias("node"), F.col("r").alias("rank_micro"))


def brandes_dependency(
    edges: DataFrame,
    seed: int,
    hops: int = 3,
    micro: int = 1_000_000,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """(node, dist, sigma, delta_micro): the Brandes (2001)
    single-source betweenness CONTRIBUTION from ``seed``, hop-capped —
    forward BFS accumulating shortest-path counts sigma, then the
    backward dependency pass delta(v) = sum over successors w of
    sigma(v)/sigma(w) * (1 + delta(w)). Summing delta over sampled
    seeds is the standard approximate betweenness estimator
    (Brandes–Pich 2007); one seed's pass is the building block.

    Engine-portable integer discipline: the backward accumulation is
    FLOORED per term — delta_micro(v) = sum_w (sigma(v) * (micro +
    delta_micro(w))) // sigma(w) — so every level is an int64 sum of
    int64 terms, order-free across partitions and engines (the
    pagerank_micro discipline applied to dependency mass; a float
    Brandes would drift in the last ulps with neighbor order). sigma
    itself is exact by construction (integer path counts).

    Shape per level, both passes: one equi-join of the level frontier
    against the symmetric edge list + one combinable groupBy — the
    multi_bfs/pagerank loop; frontiers are localCheckpoint'ed. Work is
    O(edges within ``hops`` of the seed) per pass, never |graph|."""
    spark = edges.sparkSession
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    # forward: per-level frontiers carrying exact path counts sigma
    levels = [
        freeze(_local_frame(
            spark, [(int(seed), 1)], "node bigint, sigma bigint"
        ))
    ]
    # keep=1: only the seen freezes themselves are tracked (the level
    # frontiers stay live for the backward pass); a superseded freeze
    # is dead once the next is materialized
    seen_ck = LoopCheckpointer(keep=1)
    seen = seen_ck.step(levels[0].select("node"))
    for _ in range(hops):
        # frontier-exhausted detection rides the SAME job as the
        # checkpoint materialization (the connected_components
        # Observation move): isEmpty() after the eager checkpoint cost
        # one extra Spark job per level
        obs = Observation()
        nxt = freeze(
            levels[-1]
            .join(sym, levels[-1]["node"] == sym["a"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(seen, "node", "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if int(obs.get["n"] or 0) == 0:
            break
        levels.append(nxt)
        # seen is a union of already-CHECKPOINTED frames — its lineage
        # is one union node over RDD scans, so a PER-LEVEL re-freeze
        # buys nothing but an extra materialization job; but the union
        # chain still deepens by one node per level, so re-freeze every
        # 8 levels to bound plan depth on deep graphs (no-op at the
        # registered hop caps)
        seen = seen.unionByName(nxt.select("node"))
        if len(levels) % 8 == 0:
            seen = seen_ck.step(seen)
    # backward: floored integer dependency accumulation
    deltas: list[DataFrame] = [None] * len(levels)
    deltas[-1] = levels[-1].select(
        "node", F.lit(0).cast("bigint").alias("delta_micro")
    )
    for t in range(len(levels) - 2, -1, -1):
        succ = levels[t + 1].join(deltas[t + 1], "node").select(
            F.col("node").alias("w"),
            F.col("sigma").alias("sigma_w"),
            "delta_micro",
        )
        # per-term INTEGER division (Spark `div` == DuckDB `//` on
        # positives) — int64-exact regardless of magnitude, no double
        # rounding anywhere in the accumulation
        contrib = (
            levels[t]
            .join(sym, levels[t]["node"] == sym["a"])
            .join(succ, sym["b"] == succ["w"])
            .select(
                "node",
                F.expr(
                    f"(sigma * ({micro} + delta_micro)) div sigma_w"
                )
                .cast("bigint")
                .alias("term"),
            )
        )
        deltas[t] = freeze(
            levels[t]
            .select("node")
            .join(
                contrib.groupBy("node").agg(
                    F.sum("term").cast("bigint").alias("delta_micro")
                ),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce("delta_micro", F.lit(0))
                .cast("bigint")
                .alias("delta_micro"),
            )
        )
    out = None
    for t, (lv, dl) in enumerate(zip(levels, deltas)):
        leg = lv.join(dl, "node").select(
            "node", F.lit(t).cast("int").alias("dist"), "sigma", "delta_micro"
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def brandes_dependency_multi(
    edges: DataFrame,
    seeds: list[int],
    hops: int = 3,
    micro: int = 1_000_000,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """(seed, node, dist, sigma, delta_micro): ``brandes_dependency``
    from EVERY seed at once — the sampled-betweenness estimator's inner
    loop (Brandes–Pich 2007: sum/average delta over k sampled sources).
    K sequential single-seed chains would pay K x (2 x hops) Spark jobs
    plus K checkpoint barriers; this runs them as ONE chain with a
    composite (seed, node) key, exactly the ``multi_bfs_distances``
    move (measured there at 4.6x for K=6) applied to both the forward
    sigma pass and the backward dependency pass.

    Same integer discipline as the single-seed operator: sigma is an
    exact int64 path count, the backward accumulation floors per term
    (sigma_v * (micro + delta_w)) div sigma_w, so every level is an
    order-free int64 sum and the oracle is hash-equal.

    Scale shape per level, both passes: one equi-join of the composite
    frontier against the symmetric edge list + one combinable
    groupBy(seed, node) — both shuffle on the node id, so per-level
    cost is |frontier| x avg-degree with the seed dimension riding the
    same exchange, never K separate shuffles. State is at most
    |seeds| x |reachable| rows; frontiers are localCheckpoint'ed (the
    components-loop lineage hygiene)."""
    spark = edges.sparkSession
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    levels = [
        freeze(_local_frame(
            spark,
            [(int(s), int(s), 1) for s in dict.fromkeys(seeds)],
            "seed bigint, node bigint, sigma bigint",
        ))
    ]
    seen_ck = LoopCheckpointer(keep=1)
    seen = seen_ck.step(levels[0].select("seed", "node"))
    for _ in range(hops):
        # exhaustion probe rides the checkpoint job (see
        # brandes_dependency) — one job per level, not two
        obs = Observation()
        nxt = freeze(
            levels[-1]
            .join(sym, levels[-1]["node"] == sym["a"])
            .groupBy("seed", F.col("b").alias("node"))
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(seen, ["seed", "node"], "left_anti")
            .observe(obs, F.count(F.lit(1)).alias("n"))
        )
        if int(obs.get["n"] or 0) == 0:
            break
        levels.append(nxt)
        # union of checkpointed frames — re-freeze only every 8 levels
        # to bound plan depth on deep graphs (see brandes_dependency)
        seen = seen.unionByName(nxt.select("seed", "node"))
        if len(levels) % 8 == 0:
            seen = seen_ck.step(seen)
    deltas: list[DataFrame] = [None] * len(levels)
    deltas[-1] = levels[-1].select(
        "seed", "node", F.lit(0).cast("bigint").alias("delta_micro")
    )
    for t in range(len(levels) - 2, -1, -1):
        succ = (
            levels[t + 1]
            .join(deltas[t + 1], ["seed", "node"])
            .select(
                F.col("seed").alias("s_seed"),
                F.col("node").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.col("delta_micro").alias("delta_w"),
            )
        )
        contrib = (
            levels[t]
            .join(sym, levels[t]["node"] == sym["a"])
            .join(
                succ,
                (sym["b"] == succ["w"])
                & (levels[t]["seed"] == succ["s_seed"]),
            )
            .select(
                "seed",
                "node",
                F.expr(f"(sigma * ({micro} + delta_w)) div sigma_w")
                .cast("bigint")
                .alias("term"),
            )
        )
        deltas[t] = freeze(
            levels[t]
            .select("seed", "node")
            .join(
                contrib.groupBy("seed", "node").agg(
                    F.sum("term").cast("bigint").alias("delta_micro")
                ),
                ["seed", "node"],
                "left",
            )
            .select(
                "seed",
                "node",
                F.coalesce("delta_micro", F.lit(0))
                .cast("bigint")
                .alias("delta_micro"),
            )
        )
    out = None
    for t, (lv, dl) in enumerate(zip(levels, deltas)):
        leg = lv.join(dl, ["seed", "node"]).select(
            "seed",
            "node",
            F.lit(t).cast("int").alias("dist"),
            "sigma",
            "delta_micro",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def betweenness_sampled_uniform(
    edges: DataFrame,
    k: int = 4,
    hops: int = 3,
    seed: int = 42,
    micro: int = 1_000_000,
    u_col: str = "u",
    v_col: str = "v",
    seed_order: str = "xxhash64",
) -> DataFrame:
    """PRODUCTION-FORM sampled betweenness (Brandes–Pich 2007): K
    source seeds drawn UNIFORMLY (deterministic given ``seed`` — nodes
    ordered by xxhash64(node, seed), the reproducible stand-in for a
    uniform draw), Brandes dependency summed over the sample, and the
    estimate RESCALED by |V|/K so it is an unbiased estimator of the
    exact betweenness (each node's dependency is an equal-weight term
    of the full |V|-source sum; sampling K uniformly and scaling by
    |V|/K preserves the expectation). The registered
    graph_betweenness_sampled keeps its 4-smallest-ids form for oracle
    replay; THIS is the form a 100 TB deployment runs, and its
    rank-fidelity (the property the estimator exists for) is pinned by
    tests/test_properties.py::test_sampled_betweenness_rank_corr —
    Spearman rank correlation vs exact Brandes across independent
    seed draws on a fixture graph.

    Error shape (Brandes–Pich; Hoeffding): each node's estimate is a
    mean of K iid terms bounded by micro*(|V|-2)... rescaled, the
    standard error decays as 1/sqrt(K) with constants proportional to
    the node's dependency spread — ranks converge much faster than
    values, which is why K=O(log|V|) pivots suffice for top-k
    centrality screens in practice.

    Same integer discipline and per-level shape as
    brandes_dependency_multi (one composite-key chain, not K
    sequential ones); the only extra cost is the K-row seed probe and
    one |V| count scalar.

    ``seed_order`` picks the deterministic uniform stand-in:
    'xxhash64' (default, JVM-native) or 'portable' (round 16 — the
    md5-based portable_hash60 of ``node || ':' || seed``, byte-
    identical in DuckDB, so the registered graph_betweenness_uniform
    entry's oracle REPLAYS the exact seed draw instead of settling
    for a rows-only check; both orders are equally uniform)."""
    spark = edges.sparkSession
    nodes = freeze(
        edges.select(F.col(u_col).alias("n"))
        .unionAll(edges.select(F.col(v_col).alias("n")))
        .distinct()
    )
    n_nodes = nodes.count()  # scalar probe
    k = min(k, n_nodes)
    if seed_order == "portable":
        from ..functions.text import portable_hash60

        order = portable_hash60(
            F.concat(F.col("n").cast("string"), F.lit(f":{seed}"))
        )
    elif seed_order == "xxhash64":
        order = F.xxhash64(F.col("n"), F.lit(seed))
    else:
        raise ValueError(f"unknown seed_order {seed_order!r}")
    seeds = [
        int(r.n)
        for r in nodes.orderBy(order, F.col("n"))
        .limit(k)
        .collect()  # K-row seed probe
    ]
    res = brandes_dependency_multi(
        edges, seeds, hops=hops, micro=micro, u_col=u_col, v_col=v_col
    )
    return (
        res.where(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.expr(f"(sum(delta_micro) * {n_nodes}) div {k}")
            .cast("bigint")
            .alias("bc_est_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_seeds_reaching"),
        )
    )


def hyperanf_rounds(
    edges: DataFrame,
    rounds: int = 3,
    u_col: str = "u",
    v_col: str = "v",
    lgk: int | None = None,
) -> DataFrame:
    """(t, est_pairs): the HyperANF neighborhood function estimate
    (Boldi–Rosa–Vigna 2011) for t = 0..rounds — est_pairs(t) ~ the
    number of (u, v) pairs with dist(u, v) <= t, from which distance
    distribution and EFFECTIVE DIAMETER (smallest t reaching 90% of
    all reachable pairs) fall out in O(rounds) combinable passes.

    The 100 TB move: each node carries an HLL SKETCH of its t-ball
    (Spark's Datasketches hll_sketch_agg); a round unions each node's
    sketch with its neighbors' (hll_union_agg — mergeable, fixed-size,
    order-free), so the per-round cost is ONE equi-join of the sketch
    frame onto the symmetric edge list + one combinable groupBy(node),
    state O(|V|) sketch bytes — where the exact computation would carry
    O(|V|^2) pair state (the exact multi-BFS this repo uses as the
    fixture-scale audit). N(t) folds to one scalar per round via
    hll_sketch_estimate. Sketch frames are localCheckpoint'ed per
    round (the components-loop lineage hygiene).

    ``lgk`` overrides the Datasketches lgConfigK (default 12). Two
    regimes matter: below ~3/4*2^lgk distinct items per sketch the HLL
    stays in its coupon (LIST/SET) stage and estimates are EXACT
    integers — at fixture scale (every ball < 200 nodes) the
    default-lgk output is therefore hash-comparable to an exact
    oracle; above it the estimate carries the ~1.04/sqrt(2^lgk)
    relative error every 100 TB deployment accepts (lgk=4 forces that
    regime at fixture scale — the tolerance property test's lever)."""
    agg = f"hll_sketch_agg(node, {lgk})" if lgk else "hll_sketch_agg(node)"
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    sk = freeze(
        nodes.groupBy("node")
        .agg(F.expr(agg).alias("sk"))
    )

    def est_frame(t: int, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.sum(F.expr("hll_sketch_estimate(sk)")).alias("est_pairs")
        ).select(F.lit(t).cast("int").alias("t"), "est_pairs")

    out = est_frame(0, sk)
    for t in range(1, rounds + 1):
        contrib = sym.join(sk, sym["a"] == sk["node"]).select(
            F.col("b").alias("node"), "sk"
        )
        sk = freeze(
            sk.unionByName(contrib)
            .groupBy("node")
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        )
        out = out.unionByName(est_frame(t, sk))
    return out


def hyperball_harmonic(
    edges: DataFrame,
    rounds: int = 3,
    u_col: str = "u",
    v_col: str = "v",
    lgk: int | None = None,
    integer_sixths: bool = False,
) -> DataFrame:
    """(node, harmonic_est): PER-NODE harmonic centrality estimates
    from the HyperANF ball series — the HyperBall algorithm (Boldi &
    Vigna 2013): with |B_t(v)| the HLL-estimated size of v's t-ball,
    the count of nodes at distance EXACTLY t is |B_t|-|B_{t-1}| and
    harmonic(v) ~ sum_t (|B_t|-|B_{t-1}|)/t, folded in one fixed IEEE
    order. Exact per-node harmonic needs one BFS per node (all-pairs);
    this gets every node's estimate from the SAME O(rounds) sketch
    loop as the neighborhood function — per round one equi-join of the
    sketch frame onto the edges + one combinable groupBy(node), state
    O(|V|) fixed-size sketches. The per-round ball sizes land as
    columns of one node-keyed frame (rounds node-keyed equi-joins, no
    widening shuffle).

    ``lgk`` as in :func:`hyperanf_rounds` (coupon-exact below
    ~3/4*2^lgk items per sketch, real estimation above).
    ``integer_sixths=True`` returns ``harmonic_sixths`` = 6*c1 + 3*c2
    + 2*c3 (rounds=3) as int64 — pure integer arithmetic over the
    integer ball estimates, engine-portable and hash-exact in the
    coupon regime; the caller divides by 6 for the centrality value."""
    agg = f"hll_sketch_agg(node, {lgk})" if lgk else "hll_sketch_agg(node)"
    sym = freeze(
        edges.select(F.col(u_col).alias("a"), F.col(v_col).alias("b"))
        .unionAll(edges.select(F.col(v_col).alias("a"), F.col(u_col).alias("b")))
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    sk = freeze(
        nodes.groupBy("node")
        .agg(F.expr(agg).alias("sk"))
    )
    balls = sk.select(
        "node", F.expr("hll_sketch_estimate(sk)").alias("e0")
    )
    for t in range(1, rounds + 1):
        contrib = sym.join(sk, sym["a"] == sk["node"]).select(
            F.col("b").alias("node"), "sk"
        )
        sk = freeze(
            sk.unionByName(contrib)
            .groupBy("node")
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
        )
        balls = balls.join(
            sk.select("node", F.expr("hll_sketch_estimate(sk)").alias(f"e{t}")),
            "node",
        )
    if integer_sixths:
        # lcm(1..rounds)-scaled integer fold: exact int64 arithmetic
        # over the integer ball estimates (no libm in either engine)
        import math

        lcm = math.lcm(*range(1, rounds + 1))
        est = None
        for t in range(1, rounds + 1):
            term = (F.col(f"e{t}") - F.col(f"e{t - 1}")) * (lcm // t)
            est = term if est is None else est + term
        return balls.select(
            "node", est.cast("bigint").alias(f"harmonic_x{lcm}")
        )
    est = None
    for t in range(1, rounds + 1):
        term = (F.col(f"e{t}") - F.col(f"e{t - 1}")) / float(t)
        est = term if est is None else est + term
    return balls.select("node", est.alias("harmonic_est"))
