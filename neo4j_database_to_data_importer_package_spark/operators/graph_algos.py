"""Iterative graph analytics on DataFrames (north-star: GraphX/Pregel-style
analytics without the JVM-only GraphX API).

Vertices and edges are plain DataFrames. A superstep is a join of
messages with vertex state plus a group-by (the Pregelix formulation);
at 100 TB both sides hash-partition on the vertex id, so each superstep
is a co-located shuffle join and AQE handles skewed hubs.

Every superstep loop runs through ``run_supersteps``, the one owner of
the loop scaffolding. An algorithm supplies its initial state table, a
``step`` function that builds the next state lazily and, for a
convergence loop, an ``active`` predicate over the state rows. The
driver:

- sizes shuffles to the loop for its duration (``superstep_scope``);
- unpersists the static inputs (built with ``_static_input``) on exit,
  also when a step raises;
- bounds the loop at ``rounds`` supersteps;
- decides how each round is materialized. A fixed-round loop ends every
  round in an eager localCheckpoint (one job). A convergence loop
  checkpoints lazily and then runs ONE count of the active rows, which
  both materializes the round and is the convergence test; the loop
  stops at the first round with no active row.

Round fusion: ``rounds_per_checkpoint`` > 1 chains that many rounds
between materializations. It is legal only when every aggregate in the
step is an exact min/max: the un-materialized mid-chain state then
re-executes to the same values under any shuffle-fetch order, and extra
rounds past a fixpoint are no-ops. Float-sum loops (PageRank, PPR, HITS)
would diverge between the branches that re-read the mid-chain state, so
they stay at 1; label propagation, Katz and the spectral estimate stay
at 1 because lazy chaining measured slower there (round 15). Today only
``shortest_paths`` fuses, at 2 rounds per checkpoint.

Undirected edge sets come from ``_undirected`` (both orientations) and
``_canonical`` (one least→greatest row per edge), so every algorithm
plans the same symmetrisation.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import dsum, round_half_up
from ..partitioning import state_broadcaster, superstep_scope


def _undirected(
    edges: DataFrame, src: str = "src", dst: str = "dst", drop_loops: bool = False
) -> DataFrame:
    """Distinct (a, b) rows holding both orientations of every edge;
    ``drop_loops`` removes self-loops."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if drop_loops:
        und = und.where(F.col("a") != F.col("b"))
    return und.distinct()


def _canonical(
    edges: DataFrame, src: str = "src", dst: str = "dst", cols: tuple = ("u", "v")
) -> DataFrame:
    """One distinct row per undirected non-loop edge, oriented
    least → greatest into ``cols``."""
    u, v = cols
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias(u),
            F.greatest(F.col(src), F.col(dst)).alias(v),
        )
        .where(F.col(u) != F.col(v))
        .distinct()
    )


def _sym(und: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Both orientations of a canonical (u, v) table, and its (u, deg)
    degree table."""
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return sym, sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))


def _static_input(df: DataFrame) -> DataFrame:
    """Persist a table a superstep loop re-reads every round; pass it to
    ``run_supersteps(static=...)``, which unpersists it."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def run_supersteps(
    table: DataFrame,
    step,
    *,
    rounds: int,
    scope_rows: int,
    static: tuple = (),
    active=None,
    rounds_per_checkpoint: int = 1,
    round_stats: list | None = None,
) -> DataFrame:
    """Run ``step(table, i)`` for rounds i = 1..``rounds`` and return the
    last materialized state table.

    ``step`` returns the next state lazily; it must not materialize it.
    ``scope_rows`` sizes the loop's shuffles (``superstep_scope``);
    ``static`` are the persisted inputs, unpersisted on exit.

    ``active`` (a boolean Column over the state) makes this a
    convergence loop: the initial table and every materialized round are
    checkpointed lazily and ``table.filter(active).count()`` is the
    round's one action; the loop stops when it returns 0. The counts go
    to ``round_stats`` when a list is given. Without ``active`` the loop
    is fixed-round and every round is one eager checkpoint.

    ``rounds_per_checkpoint`` > 1 materializes only every that many
    rounds (and the last). Use it only for exact min/max steps; see the
    module docstring for the rule.
    """
    stats = [] if round_stats is None else round_stats

    def materialize(t: DataFrame) -> DataFrame:
        if active is None:
            return t.localCheckpoint(eager=True)
        t = t.localCheckpoint(eager=False)
        stats.append(t.filter(active).count())
        return t

    try:
        with superstep_scope(table.sparkSession, scope_rows):
            table = materialize(table)
            for i in range(1, rounds + 1):
                if active is not None and stats[-1] == 0:
                    break
                table = step(table, i)
                if i % rounds_per_checkpoint == 0 or i == rounds:
                    table = materialize(table)
            return table
    finally:
        for df in static:
            df.unpersist()


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_degree, in_degree) — one pass, two partial aggs."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Undirected connected components by hash-min label propagation.

    Each superstep: component[v] ← min(component[v], min over neighbors).
    Converges in O(diameter) supersteps. Returns (node, component)
    where component = min node id in the component.

    The state is (node, component, cand): the label before the round and
    the best label a neighbor offered. Delta propagation: only nodes
    whose label just improved message their neighbors (a node whose
    label is stable already delivered it), so the frontier shrinks every
    superstep and late iterations join a handful of rows instead of the
    full vertex set. The initial state offers every node its own id as
    ``cand`` with no ``component``, so round 1 messages from every node.

    r14: the old cand-aggregate + comp-left-join pair is fused into ONE
    union + aggregate (min is order-independent, and a node has exactly
    one comp row and ≤1 cand value, so the grouped min reproduces the
    left join bit-for-bit). Plan: 4 Exchanges/superstep → 1 (see
    plans/r14/). The frontier deliberately does NOT broadcast: a
    measured ablation (OPTIMIZATION_r14.md) showed per-superstep
    broadcast builds cost more than the small exchanges they replace at
    every scale where they'd fire.

    r15 ablation: the two-rounds-per-checkpoint fusion that won 0.896
    in ``shortest_paths`` (same min algebra, same loop shape) measured
    FLAT here — 0.996/1.049/1.013/0.964 across the four consumer
    queries (isolated ABAB min-of-5, identical results): hash-min
    converges in a few rounds with frontier-shrinking late supersteps,
    so there are too few barriers to save and the mid-pair duplicated
    aggregate offsets them. One round per checkpoint kept.
    """
    und = _static_input(_undirected(edges, src, dst))
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    best = F.least(F.col("component"), F.col("cand"))
    improved = ~F.col("component").eqNullSafe(best)

    def step(state: DataFrame, _) -> DataFrame:
        frontier = state.filter(improved).select("node", best.alias("component"))
        msgs = und.join(frontier, und["a"] == frontier["node"]).select(
            F.col("b").alias("node"),
            F.col("component").alias("c"),
            F.lit(True).alias("m"),
        )
        return (
            msgs.unionByName(
                state.select("node", best.alias("c"), F.lit(False).alias("m"))
            )
            .groupBy("node")
            .agg(
                F.min(F.when(~F.col("m"), F.col("c"))).alias("component"),
                F.min(F.when(F.col("m"), F.col("c"))).alias("cand"),
            )
        )

    init = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .select(
            "node",
            F.lit(None).cast(und.schema["a"].dataType).alias("component"),
            F.col("node").alias("cand"),
        )
    )
    state = run_supersteps(
        init, step, rounds=max_iter, scope_rows=n_edges, static=(und,), active=improved
    )
    return state.select("node", best.alias("component"))


def _rank_inputs(edges: DataFrame, src: str, dst: str):
    """Static inputs of the PageRank-family loops: the node set, its
    size, out-degrees and the (node, dst_node) edge list."""
    nodes = _static_input(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    out_deg = _static_input(
        edges.groupBy(F.col(src).alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    )
    e = _static_input(edges.select(F.col(src).alias("node"), F.col(dst).alias("dst_node")))
    return nodes, nodes.count(), out_deg, e


def _rank_messages(ranks: DataFrame, out_deg: DataFrame, e: DataFrame):
    """One rank-propagation superstep's (node, c) messages and its 1-row
    dangling mass (rank held by nodes without out-edges)."""
    with_deg = ranks.join(out_deg, "node", "left")
    msgs = e.join(with_deg, "node").select(
        F.col("dst_node").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
    )
    dangling_df = with_deg.filter(F.col("deg").isNull()).agg(
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dangling")
    )
    return msgs, F.broadcast(dangling_df)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank (dangling mass redistributed uniformly).

    Returns (node, pagerank rounded). Deterministic for a fixed
    iteration count up to FP summation order — the oracle uses a
    matching fixed-iteration recursion and values are rounded.

    r14: the contrib-aggregate + nodes-left-join pair is fused into one
    union + sum (null-ignoring sum over the message rows plus a null row
    per node ≡ the left join's coalesce semantics) — fewer exchanges per
    iteration (see plans/r14/). The dangling mass is a broadcast 1-row
    aggregate folded into the same superstep job, so the round's only
    action is its checkpoint. State deliberately does NOT broadcast: the
    with_deg broadcast build (a join executed as a driver collect,
    serialized before the superstep job) measured strictly slower than
    the small exchanges it replaced (OPTIMIZATION_r14.md ablation).
    """
    nodes, n_nodes, out_deg, e = _rank_inputs(edges, src, dst)

    def step(ranks: DataFrame, _) -> DataFrame:
        msgs, dangling = _rank_messages(ranks, out_deg, e)
        return (
            msgs.unionByName(nodes.select("node", F.lit(None).cast("double").alias("c")))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.col("__dangling") / F.lit(float(n_nodes))
                        + F.coalesce(F.col("contrib"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
        )

    ranks = run_supersteps(
        nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")),
        step,
        rounds=iterations,
        scope_rows=n_nodes,
        static=(nodes, out_deg, e),
    )
    return ranks.select("node", round_half_up("rank", 8).alias("pagerank"))


def _bfs(
    edges: DataFrame,
    start: DataFrame,
    src: str,
    dst: str,
    max_hops: int,
    keys: tuple = (),
) -> DataFrame:
    """Frontier BFS over the undirected graph from ``start`` rows
    (*keys, node), searched independently per ``keys`` value. Returns
    (*keys, node, dist) for every pair reached within ``max_hops``.

    Two tables: the visited set and the frontier. Each hop is one
    edge⋈frontier join, a distinct and an anti-join against the visited
    set; the frontier is the driver's state (every row active), so the
    hop's count both materializes it and stops the loop at the first
    empty frontier. The visited set folds in the previous frontier at
    the start of each hop (one eager checkpoint). (r14 ablation: per-hop
    broadcast builds of the frontier / visited set measured slower than
    the small exchanges they replace — the loop keeps plain shuffle
    joins. A single state table ending each hop in one count_if issued
    fewer jobs but measured slower.)
    """
    und = _static_input(_undirected(edges, src, dst))
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    on = [*keys, "node"]
    visited = None

    def step(frontier: DataFrame, hop: int) -> DataFrame:
        nonlocal visited
        visited = (
            frontier
            if visited is None
            else visited.union(frontier).localCheckpoint(eager=True)
        )
        f = frontier.select(*on)
        return (
            und.join(f, und["a"] == f["node"])
            .select(*keys, F.col("b").alias("node"))
            .distinct()
            .join(visited.select(*on), on, "left_anti")
            .withColumn("dist", F.lit(hop))
        )

    stats: list = []
    last = run_supersteps(
        start.withColumn("dist", F.lit(0)),
        step,
        rounds=max_hops,
        scope_rows=n_edges,
        static=(und,),
        active=F.lit(True),
        round_stats=stats,
    )
    if visited is None:
        return last
    return visited.union(last) if stats[-1] else visited


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 10,
) -> DataFrame:
    """Multi-source BFS over the undirected graph: minimum hop count from
    any source node. Frontier expansion with an anti-join against the
    visited set — each hop is one join + distinct, state is (node, dist)
    only, and the loop stops at the first empty frontier (or ``max_hops``
    as the safety bound). Returns (node, dist) for reachable nodes.
    """
    start = sources.select(F.col(node_col).alias("node")).distinct()
    return _bfs(edges, start, src, dst, max_hops)


def _triangles(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Every triangle of the undirected, deduped edge set exactly once,
    as (x, y, c) rows with x < y, by degree-ordered orientation.

    Every edge is directed from its lower-(degree, id) endpoint to the
    higher one, so each node's out-degree is at most ~sqrt(2m)
    regardless of how hot a hub is — the wedge self-join can never
    explode on a skewed degree distribution. Wedges (c→x, c→y) are then
    closed by one equi-join against the symmetric edge set.

    r14: the oriented edge table is persisted so the wedge self-join's
    two sides (and neighbor_jaccard's reuse of this whole DAG) read one
    materialized table instead of re-running the two orientation joins
    per branch (the un-persisted plan carried 35 Exchanges / 8
    SortMergeJoins in neighbor_jaccard; see plans/r14/). Lifecycle (r15,
    VERDICT r14 #8): bare persist() defaults to MEMORY_AND_DISK, so
    eviction under pressure spills instead of recomputing; cleanup is
    caller-scoped (clearCache per query) — the result is lazily returned
    so there is no in-operator unpersist point.
    """
    sym, deg = _sym(_canonical(edges, src, dst))
    oriented = (
        sym.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v")
        .where(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
        .persist()
    )
    wedges = (
        oriented.select(F.col("u").alias("c"), F.col("v").alias("x"))
        .join(oriented.select(F.col("u").alias("c"), F.col("v").alias("y")), "c")
        .where(F.col("x") < F.col("y"))
    )
    closing = sym.select(F.col("u").alias("x"), F.col("v").alias("y"))
    return wedges.join(closing, ["x", "y"])


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts on the undirected, deduped edge set.

    Degree-ordered orientation (the O(m^1.5) algorithm, ``_triangles``)
    is what makes this survive a 100 TB edge list where the naive
    neighbor-intersection blows up on hubs. All shuffles are keyed
    equi-joins; no driver state.

    Returns (node, n_triangles) for every node in >= 1 triangle.
    """
    # (r14 ablation: BOTH a persist of the deduped edge set and an
    # explicit degree broadcast measured SLOWER here — the identical
    # distinct subtrees already dedup via exchange reuse, and the
    # planner's own size estimates pick the deg join strategy. Left
    # exactly as-is; OPTIMIZATION_r14.md.)
    tri = _triangles(edges, src, dst)
    roles = (
        tri.select(F.col("c").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
    )
    return roles.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    round_stats: list | None = None,
) -> DataFrame:
    """The k-core of the undirected graph: the maximal subgraph where
    every node has degree >= k, computed by iterative peeling (drop
    all nodes under k, recompute degrees on the induced subgraph,
    repeat to fixpoint).

    r15 formulation — incremental degree maintenance instead of
    per-round edge-table rewrites: the state is the node-sized
    (node, deg) table of the CURRENT induced subgraph. Each round the
    drop frontier (deg < k) messages a -1 to the OTHER endpoint of each
    incident edge; an edge decrements each endpoint at most once (when
    its counterpart drops), messages to already-dead nodes group onto a
    state-less key and are filtered, so the maintained degree is exactly
    the induced-subgraph degree of the old recompute-from-edges loop.
    The per-round work is two broadcast-gated joins of the (persisted,
    never rewritten) edge table against the tiny frontier plus ONE fused
    union-aggregate on node-sized state (the r14 pattern: the old
    aggregate + anti-join pair is one groupBy — a dropped node's state
    row fails the ``cur >= k`` filter, a dead node's message group has
    NULL ``cur``). Only node-sized state is checkpointed. For deep peels
    at scale the full-edge frontier scans are bounded by a rare
    compaction: once half the remaining nodes have dropped, the edge
    table is rebuilt to the induced subgraph (two semi-joins) and the
    counters rebase. The drop count is the driver's active count, so it
    doubles as the termination signal (0 removed → fixpoint); peeling
    converges in O(peel-depth) rounds, typically « diameter.

    ``round_stats``, when a list, receives the drop count of every
    round (the peel-depth probe in SCALING.md reads it).

    Returns (node, core_degree): nodes of the k-core with their degree
    inside it.
    """
    und = _static_input(_canonical(edges, src, dst))
    # Broadcasting the drop frontier is safe while it stays executor-
    # sized; beyond that AQE's plain join is the fallback. 5M ids ≈
    # a few hundred MB — the first peel round of a pathological graph.
    _BCAST_DROP_MAX = 5_000_000
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    dropping = F.col("deg") < k
    stats = [] if round_stats is None else round_stats
    cur, alive_base, dropped_since = und, None, 0

    def step(state: DataFrame, _) -> DataFrame:
        nonlocal cur, alive_base, dropped_since
        if alive_base is None:
            alive_base = state.count()  # cheap: counts the checkpoint
        elif dropped_since * 2 >= alive_base:
            # Compact: the frontier joins scan the full original edge
            # table each round; once half the nodes are gone rebuild it
            # to the induced subgraph so deep peels stay proportional to
            # surviving edges.
            alive_base -= dropped_since
            dropped_since = 0
            sb = state_broadcaster(alive_base)
            na = sb(state.select(F.col("node").alias("__a")))
            nb = sb(state.select(F.col("node").alias("__b")))
            cur = (
                cur.join(na, cur["u"] == na["__a"], "left_semi")
                .join(nb, F.col("v") == nb["__b"], "left_semi")
                .localCheckpoint()
            )
        n_drop = stats[-1]
        dropped_since += n_drop
        drop = state.filter(dropping).select("node")
        d = F.broadcast(drop) if n_drop <= _BCAST_DROP_MAX else drop
        msgs = (
            cur.join(d, cur["u"] == d["node"]).select(F.col("v").alias("node"))
            .unionAll(cur.join(d, cur["v"] == d["node"]).select(F.col("u").alias("node")))
            .select("node", F.lit(-1).cast("long").alias("val"), F.lit(True).alias("m"))
        )
        return (
            msgs.unionByName(
                state.select("node", F.col("deg").alias("val"), F.lit(False).alias("m"))
            )
            .groupBy("node")
            .agg(
                F.min(F.when(~F.col("m"), F.col("val"))).alias("cur"),
                F.coalesce(F.sum(F.when(F.col("m"), F.col("val"))), F.lit(0)).alias("delta"),
            )
            .filter(F.col("cur") >= k)  # NULL cur (dead node) fails too
            .select("node", (F.col("cur") + F.col("delta")).alias("deg"))
        )

    init = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Each productive round drops >= 1 of the <= 2·|E| nodes.
    state = run_supersteps(
        init,
        step,
        rounds=2 * n_edges,
        scope_rows=n_edges,
        static=(und,),
        active=dropping,
        round_stats=stats,
    )
    return state.select("node", F.col("deg").alias("core_degree"))


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    node_col: str = "node",
    rounds: int = 8,
) -> DataFrame:
    """Multi-source weighted shortest paths, bounded-hop Bellman-Ford.

    Exactly ``rounds`` synchronous relaxation supersteps over the
    undirected weighted graph: dist[v] <- min(dist[v], min over incoming
    (dist[u] + w(u,v))). With ``rounds`` >= the hop-diameter this is the
    exact single/multi-source shortest-path distance; in general it is
    the shortest path using at most ``rounds`` edges — a well-defined,
    deterministic quantity that a fixed-depth recursive-CTE oracle can
    replay (same shape as ``pagerank``'s fixed-iteration contract).

    Scale shape (beyond the reference, which has no graph analytics —
    its one join is the export pattern join, neo4j_export.py:362-369):
    per superstep one shuffle join edges ⋈ dist on the source endpoint
    plus a min-aggregate on the destination — both hash-partition on the
    vertex id, so consecutive supersteps reuse the same partitioning.
    The frontier optimization (only improved nodes message) keeps late
    supersteps cheap exactly like ``connected_components``; state is
    one (node, dist, cand) row per reached node, never a path. The
    initial state offers each source ``cand`` 0 with no ``dist``.

    r14: the relax-aggregate + full-outer join pair is fused into one
    union + aggregate (each node has ≤1 dist row and the min over its
    messages; min over a singleton/null partition reproduces the
    full-outer row set exactly). ~4 Exchanges/superstep → 1. (Frontier
    broadcasts measured slower than the small exchanges — ablation in
    OPTIMIZATION_r14.md — so the join stays a shuffle join.)

    r15: TWO relaxation rounds per checkpoint (``rounds_per_checkpoint``
    2, the fusion rule in the module docstring): every aggregate here
    is a MIN, and extra relaxation rounds past the fixpoint are no-ops,
    so probing every 2 rounds returns the identical dist table. If the
    frontier empties after a pair's first round, its second round
    relaxes an empty message set and dist is unchanged by construction.
    Halves the job barriers per execution at any scale; isolated ABAB
    min-of-7 0.896 (OPTIMIZATION_r15.md).
    """
    # The weighted edge set keeps the cheapest of parallel edges, so it
    # is built here rather than by ``_undirected``.
    und = _static_input(
        edges.select(
            F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).alias("w")
        )
        .union(
            edges.select(
                F.col(dst).alias("a"), F.col(src).alias("b"), F.col(weight).alias("w")
            )
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    no_dist = F.lit(None).cast("double")
    improved = F.col("dist").isNull() | (F.col("cand") < F.col("dist"))

    def best(state: DataFrame) -> DataFrame:
        return state.select(
            "node",
            F.least(
                F.coalesce(F.col("dist"), F.col("cand")),
                F.coalesce(F.col("cand"), F.col("dist")),
            ).alias("dist"),
        )

    def step(state: DataFrame, _) -> DataFrame:
        frontier = state.filter(improved).select("node", F.col("cand").alias("dist"))
        msgs = und.join(frontier, und["a"] == frontier["node"]).select(
            F.col("b").alias("node"),
            no_dist.alias("dist"),
            (F.col("dist") + F.col("w")).alias("cand"),
        )
        return (
            msgs.unionByName(best(state).select("node", "dist", no_dist.alias("cand")))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.min("cand").alias("cand"))
        )

    init = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", no_dist.alias("dist"), F.lit(0.0).alias("cand"))
    )
    state = run_supersteps(
        init,
        step,
        rounds=rounds,
        scope_rows=n_edges,
        static=(und,),
        active=improved,
        rounds_per_checkpoint=2,
    )
    return best(state)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (community detection), ``rounds``
    fixed supersteps, fully deterministic: every node starts with its own
    id as label and each round adopts the most frequent label among its
    neighbors, ties broken on the smallest label; isolated-update nodes
    keep their label. Fixed rounds + total tie order make the result a
    well-defined quantity a SQL oracle can replay (the same contract as
    ``pagerank``'s fixed iterations and ``shortest_paths``' bounded
    hops).

    Scale shape: per round one join (edges ⋈ labels on the source
    endpoint; the label table broadcasts when driver-known small), one
    count aggregate on (node, label), and one grouped min picking the
    winner — hash-partitioned on the vertex id so consecutive rounds
    reuse the partitioning. State is one row per node.

    r14: the winner is a grouped min(struct(-c, label)) instead of a
    row_number window — the same total order (count desc, label asc;
    counts are positive longs so -c ascending ≡ c descending), but with
    map-side partial aggregation and no per-partition sort.

    r15 ablation: chaining the rounds lazily (single eager checkpoint
    at the end — here the state has ONE consumer per round, so no
    subtree duplicates) measured 1.015 here / 1.012 on modularity_lpa,
    and the same treatment on katz (1.195) and spectral (1.126) was
    strictly worse (isolated ABAB min-of-5, identical results). The
    per-superstep checkpoint stays: each round's exchange then plans
    against materialized stats instead of a deepening lazy chain.
    """
    und = _static_input(_undirected(edges, src, dst, drop_loops=True))
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    bc = state_broadcaster(n_edges)

    def step(labels: DataFrame, _) -> DataFrame:
        blb = bc(labels)
        votes = (
            und.join(blb, und["b"] == blb["node"])
            .select(F.col("a").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("label"))
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label"))
        )

    nodes = und.select(F.col("a").alias("node")).distinct()
    return run_supersteps(
        nodes.withColumn("label", F.col("node")),
        step,
        rounds=rounds,
        scope_rows=n_edges,
        static=(und,),
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    digits: int = 8,
) -> DataFrame:
    """HITS hub/authority scores, fixed synchronous iterations.

    Kleinberg's mutual-reinforcement pair to PageRank: authority(v) =
    Σ hub(u) over in-edges, hub(u) = Σ authority(v) over out-edges,
    renormalized each half-step. Normalization divides by the MAX score
    (L∞), not the sum — max of doubles is order-independent, so the
    result is identical under any partitioning and reproducible in the
    SQL oracle; an L1 norm would drift with double-summation order.

    Each half-step is one equi-join of the edge list against a
    node-score table followed by a groupBy on the receiving endpoint —
    the same shuffle key every iteration, so at scale the edge list is
    partitioned once on (src) [resp. (dst)] and reused; scores are
    node-sized. Fixed iteration count (it's a power-iteration bound, not
    a convergence loop), scores rounded to ``digits`` at the end only.

    Like ``pagerank``/``personalized_pagerank``, each iteration ends in
    an eager ``localCheckpoint`` under ``superstep_scope`` (VERDICT r04
    #2): without it, ``iterations`` > 2 replays the whole
    4-joins-per-iteration lineage on every action and the plan depth
    grows linearly with the iteration count.
    """
    e = _static_input(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    n_edges = e.count()  # warms the cache; sizes superstep shuffles
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # r14: node-sized score projections and per-step contrib tables
    # broadcast into the edge joins / score joins when the graph is
    # driver-known small (guide §3.1) — each half-step's only exchange
    # is then its sum aggregate.
    bc = state_broadcaster(n_edges)

    def step(scores: DataFrame, _) -> DataFrame:
        # authority step: sum incoming hub mass
        contrib = (
            e.join(bc(scores.select(F.col("node").alias("u"), "hub")), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("hub").alias("auth_raw"))
        )
        scores = scores.join(bc(contrib), "node", "left").select(
            "node", "hub", F.coalesce("auth_raw", F.lit(0.0)).alias("auth")
        )
        amax = scores.agg(F.max("auth").alias("m"))
        scores = scores.crossJoin(F.broadcast(amax)).select(
            "node", "hub", (F.col("auth") / F.col("m")).alias("auth")
        )
        # hub step: sum outgoing authority mass
        contrib = (
            e.join(bc(scores.select(F.col("node").alias("v"), "auth")), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("auth").alias("hub_raw"))
        )
        scores = scores.join(bc(contrib), "node", "left").select(
            "node", F.coalesce("hub_raw", F.lit(0.0)).alias("hub"), "auth"
        )
        hmax = scores.agg(F.max("hub").alias("m"))
        return scores.crossJoin(F.broadcast(hmax)).select(
            "node", (F.col("hub") / F.col("m")).alias("hub"), "auth"
        )

    scores = run_supersteps(
        nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")),
        step,
        rounds=iterations,
        scope_rows=n_edges,
        static=(e,),
    )
    return scores.select(
        "node",
        round_half_up(F.col("hub"), digits).alias("hub_score"),
        round_half_up(F.col("auth"), digits).alias("auth_score"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    iterations: int = 6,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SEED
    distribution (uniform over ``seeds``) instead of uniformly — the
    proximity-to-seeds ranking behind "related entities" and
    recommendation candidates. Dangling mass also returns to the seeds
    (the standard PPR convention: the walk teleports, and every
    teleport is seed-directed).

    Same superstep shape and contracts as ``pagerank``: fixed iteration
    count, one edge⋈rank join + destination aggregate per step, state
    one row per node, shuffles sized by ``superstep_scope``, results
    rounded so the fixed-depth SQL recursion is the oracle.
    """
    nodes, n_nodes, out_deg, e = _rank_inputs(edges, src, dst)
    # Seeds outside the edge-derived node set carry no mass (base is
    # built from edge endpoints), so count only the EFFECTIVE seeds —
    # otherwise the restart vector sums to < 1 and every rank deflates
    # (ADVICE r04). An empty effective seed set has no defined restart
    # distribution: fail loudly instead of ZeroDivisionError.
    seed_set = _static_input(
        seeds.select(F.col(node_col).alias("node")).distinct().join(nodes, "node", "semi")
    )
    n_seeds = seed_set.count()
    if n_seeds == 0:
        for df in (nodes, seed_set, out_deg, e):
            df.unpersist()
        raise ValueError(
            "personalized_pagerank: no seed node appears in the edge "
            "list — the restart distribution is undefined"
        )
    base = _static_input(
        nodes.join(seed_set.withColumn("__is_seed", F.lit(True)), "node", "left").select(
            "node",
            F.when(F.col("__is_seed"), F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)).alias("v"),
        )
    )

    def step(ranks: DataFrame, _) -> DataFrame:
        msgs, dangling = _rank_messages(ranks, out_deg, e)
        no_v = F.lit(None).cast("double")
        return (
            msgs.select("node", no_v.alias("v"), "c")
            .unionByName(base.select("node", "v", no_v.alias("c")))
            .groupBy("node")
            .agg(F.max("v").alias("v"), F.sum("c").alias("contrib"))
            .crossJoin(dangling)
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("v")
                    + F.lit(damping)
                    * (
                        F.col("__dangling") * F.col("v")
                        + F.coalesce(F.col("contrib"), F.lit(0.0))
                    )
                ).alias("rank"),
            )
        )

    ranks = run_supersteps(
        base.select("node", F.col("v").alias("rank")),
        step,
        rounds=iterations,
        scope_rows=n_nodes,
        static=(nodes, seed_set, base, out_deg, e),
    )
    return ranks.select("node", round_half_up("rank", 8).alias("ppr"))


def closeness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 6,
    digits: int = 6,
) -> DataFrame:
    """Bounded-hop closeness centrality from a SAMPLED seed set: for each
    seed, BFS hop distances to everything reachable within ``max_hops``,
    then closeness = (reached − 1) / Σ dist — the landmark/pivot scheme
    every at-scale centrality system uses (exact all-pairs closeness is
    O(V·E); k seeds cost k·O(E·diameter) and rank the hubs just as
    well).

    The same frontier BFS as ``bfs_distances`` (``_bfs``) with the state
    keyed by (seed, node). State is O(seeds × reachable nodes) — the
    caller bounds it by choosing the seed count; hop-bounding keeps each
    expansion one shuffle of frontier-sized rows.
    """
    start = (
        seeds.select(F.col(node_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"))
    )
    dist = _bfs(edges, start, src, dst, max_hops, keys=("seed",))
    reached = F.count(F.lit(1)) - 1
    total = F.sum("dist")
    return dist.groupBy("seed").agg(
        reached.alias("n_reached"),
        total.alias("sum_dist"),
        round_half_up(
            F.when(total > 0, reached.cast("double") / total).otherwise(F.lit(0.0)),
            digits,
        ).alias("closeness"),
    )


def walk_corpus(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    steps: int = 4,
    n_walks: int = 1,
    n_salts: int = 16,
) -> DataFrame:
    """DeepWalk/node2vec-style random-walk CORPUS generation with
    deterministic pseudo-randomness: ``n_walks`` walks from every seed
    node, where walk ``w``'s hop ``t`` picks the neighbor minimizing
    ``md5(current|candidate|step|walk_index)`` — a hash-seeded choice
    that is uniform-ish over neighbors, reproducible across engines,
    runs, and partitionings (the same md5-derandomization the
    hash-Bernoulli samplers use). Keying the hash by the walk index
    (VERDICT r05 #3) is what makes repeated sampling real: two walks
    with DIFFERENT indices meeting at the same node at the same step
    diverge, so a skip-gram trainer gets the ~10–80 walks/node corpus
    it needs, not one deterministic sentence per seed.

    Walk ids are the seed node for ``n_walks=1`` (backward compatible)
    and ``seed#w`` otherwise. Each hop is ONE equi-join of the walk
    frontier against the (undirected) edge list plus a per-walk
    min-aggregate (min over the (hash, neighbor) struct — no ranking
    window). The hop join is SALTED (``n_salts``): edges carry
    ``hash(neighbor) % n_salts``, the walk frontier explodes to all
    salts, and the min is taken in two levels — per (walk, salt)
    partials, then per walk. The min is associative so the result is
    bit-identical, but a hub holding half the edge list now feeds
    ``n_salts`` reduce tasks instead of one: the unsalted hop measured
    24× slower on a 50%-hub graph at 1.6M edges (SCALING.md hub-skew
    stressor) because every walk standing on the hub pushed the hub's
    whole adjacency through a single task. Frontier state is tiny
    (#walks rows), so the explode costs nothing. Walks that reach a
    dead end keep their prefix. Supersteps checkpoint like every other
    iterative operator here.
    """
    und = _static_input(
        _undirected(edges, src, dst).withColumn(
            "__salt", (F.abs(F.xxhash64("b")) % n_salts).cast("int")
        )
    )
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    walk_id = (
        F.col("seed")
        if n_walks == 1
        else F.concat_ws("#", F.col("seed"), F.col("w"))
    )

    def step(walks: DataFrame, t: int) -> DataFrame:
        h = F.md5(F.concat_ws("|", F.col("cur"), F.col("b"), F.lit(t), F.col("w")))
        frontier = walks.select(
            "walk_id", "w", "cur", "path", "n_nodes",
            F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt"),
        )
        partial = (
            frontier.join(
                und,
                (frontier["cur"] == und["a"]) & (frontier["__salt"] == und["__salt"]),
                "left",
            )
            .groupBy("walk_id", "w", "cur", "path", "n_nodes", frontier["__salt"])
            .agg(
                F.min(
                    F.when(
                        F.col("b").isNotNull(),
                        F.struct(h.alias("h"), F.col("b").alias("b")),
                    )
                ).alias("pick")
            )
        )
        nxt = (
            partial.groupBy("walk_id", "w", "cur", "path", "n_nodes")
            .agg(F.min("pick").alias("pick"))
            .select("walk_id", "w", "cur", F.col("pick.b").alias("nxt"), "path", "n_nodes")
        )
        return nxt.select(
            "walk_id",
            "w",
            F.coalesce("nxt", F.col("cur")).alias("cur"),
            F.when(
                F.col("nxt").isNotNull(), F.concat_ws(" ", F.col("path"), F.col("nxt"))
            ).otherwise(F.col("path")).alias("path"),
            (F.col("n_nodes") + F.col("nxt").isNotNull().cast("int")).alias("n_nodes"),
        )

    init = (
        seeds.select(F.col(node_col).alias("seed"))
        .distinct()
        .select("seed", F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("w"))
        .select(
            walk_id.alias("walk_id"),
            "w",
            F.col("seed").alias("cur"),
            F.col("seed").alias("path"),
            F.lit(1).alias("n_nodes"),
        )
    )
    walks = run_supersteps(
        init, step, rounds=steps, scope_rows=n_edges, static=(und,)
    )
    return walks.select("walk_id", "path", "n_nodes")


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst", digits: int = 6
) -> DataFrame:
    """Degree assortativity of the undirected graph: Pearson r between
    the endpoint degrees over every (directed-both-ways) edge — the
    one-number "do hubs attach to hubs" diagnostic (social graphs
    positive, infrastructure/star schemas strongly negative). A
    near-−1 value is exactly the hub-and-spoke shape whose skew the
    salting/AQE machinery here exists to absorb, so the metric doubles
    as a cheap skew screen before running the heavier joins.

    One degree aggregate, two equi-join hydrations of the edge list,
    one correlation aggregate — no window, no iteration. NULL when the
    graph is degree-regular (zero variance), matching SQL corr.

    The degree table is one row per NODE — unbounded at graph scale —
    so the hydration joins carry NO broadcast hint (VERDICT r05 #1):
    AQE broadcasts when the table measures small and shuffle-hash-joins
    otherwise; a forced hint here would override AQE's size check and
    OOM the executors on a billion-node graph.
    """
    und = _undirected(edges, src, dst)
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    hyd = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
        .select(F.col("da").cast("double"), F.col("db").cast("double"))
    )
    vx = F.var_pop("da")
    vy = F.var_pop("db")
    r = F.when(
        (vx > 0) & (vy > 0),
        F.covar_pop("da", "db") / F.sqrt(vx * vy),
    )
    return hyd.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
        round_half_up(r, digits).alias("assortativity"),
    )


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst", digits: int = 6
) -> DataFrame:
    """Per-node local clustering coefficient: triangles(v) /
    (deg(v)·(deg(v)−1)/2) — "how much of my neighborhood knows each
    other", the community-structure probe next to the global triangle
    count. Composes the degree-ordered triangle counter (wedge join,
    hub-safe orientation) with the degree table; nodes of degree < 2
    emit coefficient 0 by convention.
    """
    tri = triangle_counts(edges, src, dst).select(
        "node", F.col("n_triangles")
    )
    und = _undirected(edges, src, dst)
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    possible = F.col("degree") * (F.col("degree") - 1) / 2
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            round_half_up(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce("n_triangles", F.lit(0)) / possible,
                ).otherwise(F.lit(0.0)),
                digits,
            ).alias("clustering_coef"),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    digits: int = 6,
    n_state_hint: int | None = None,
) -> DataFrame:
    """Newman modularity Q of a community assignment over the undirected
    graph: Q = Σ_c [ e_c/m − (d_c/2m)² ] — the standard "are these
    communities denser than chance" score that turns any labeling
    (LPA, connected components, an external clustering) into one
    comparable number. Q≈0 means the partition explains nothing;
    community-detection papers report 0.3–0.7 on real social graphs.

    Two hash joins hydrate each undirected edge with its endpoint
    labels (broadcast only when the caller passes a driver-known
    ``n_state_hint`` under the state-broadcast threshold — the label
    table is one row per NODE, the same unbounded-input rule as
    ``degree_assortativity``). The
    algebra is arranged so every aggregate is an INTEGER sum —
    Q = Σe2/(2m) − Σd_c²/(4m²) with Σe2 (within-community directed
    edges) and Σd_c² both exact integers — so the score is bit-
    deterministic under any partitioning and in the SQL oracle (no
    float-summation order anywhere). Output one row:
    (n_communities, n_edges, modularity).
    """
    und = _undirected(edges, src, dst)
    bc = (
        state_broadcaster(n_state_hint)
        if n_state_hint is not None
        else (lambda df: df)
    )
    la = labels.select(
        F.col(node_col).alias("a"), F.col(label_col).alias("la")
    )
    lb = labels.select(
        F.col(node_col).alias("b"), F.col(label_col).alias("lb")
    )
    hyd = und.join(bc(la), "a").join(bc(lb), "b")
    # per-community degree sums d_c (each directed row adds 1 to its
    # source's community) and the within-community directed-edge total
    per_c = hyd.groupBy(F.col("la").alias("community")).agg(
        F.count(F.lit(1)).alias("d_c"),
        F.sum((F.col("la") == F.col("lb")).cast("long")).alias("e2_c"),
    )
    agg = per_c.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("d_c").alias("rows2"),          # = 2m (integer)
        F.sum("e2_c").alias("e2"),            # = 2·within-edges (integer)
        F.sum(F.col("d_c") * F.col("d_c")).alias("sd2"),  # Σ d_c² (integer)
    )
    m = F.col("rows2") / 2.0
    q = F.col("e2") / (2.0 * m) - F.col("sd2") / (4.0 * m * m)
    return agg.select(
        "n_communities",
        (F.col("rows2") / 2).cast("long").alias("n_edges"),
        round_half_up(q, digits).alias("modularity"),
    )


def bridge_edges(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 200,
) -> DataFrame:
    """Local-bridge detection: undirected edges whose endpoints share no
    low-degree common neighbor (edge embeddedness 0, up to hubs) — the
    weak ties that hold components together; cutting one lengthens
    paths, and in a data-lineage or social graph they mark the fragile
    links worth monitoring. Output (node_a, node_b, n_common) for every
    edge with the canonical node_a < node_b orientation plus an
    is_bridge flag.

    Same wedge shape as triangle counting — neighbor lists joined on
    the shared center, counted per edge, LEFT-joined back so
    zero-common edges survive. The wedge cost is Σ deg(center)², which
    no orientation trick can bound here (embeddedness needs ALL common
    neighbors, not one triangle witness), so centers with degree >
    ``max_center_degree`` are EXCLUDED — the same logged-cap rule as
    the shingle df cap (``dedup._df_capped_index``): a hub adjacent to
    half the graph is "common" to almost every edge and carries no
    embeddedness signal, while its deg² wedge set is catastrophic.
    n_common therefore counts common neighbors of degree ≤ cap, and
    ``is_bridge`` means "no low-degree common neighbor". The dropped
    center count is logged.
    """
    import logging

    logger = logging.getLogger(__name__)
    und = _undirected(edges, src, dst, drop_loops=True)
    canon = und.filter(F.col("a") < F.col("b"))
    deg = und.groupBy(F.col("a").alias("c")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    hot = (
        deg.filter(F.col("__deg") > max_center_degree)
        .select("c")
        .localCheckpoint(eager=True)
    )
    n_hot = hot.count()
    if n_hot:
        logger.warning(
            "bridge_edges: excluding %d wedge centers with degree > %d "
            "(embeddedness counts low-degree common neighbors only)",
            n_hot, max_center_degree,
        )
    # adjacency restricted to low-degree centers; wedge (ea, c, eb)
    adj = und.select(F.col("b").alias("c"), F.col("a").alias("n")).join(
        hot, "c", "left_anti"
    )
    na = adj.select("c", F.col("n").alias("ea"))
    nb = adj.select("c", F.col("n").alias("eb"))
    wedges = (
        na.join(nb, "c")
        .filter(F.col("ea") < F.col("eb"))
        .groupBy(F.col("ea").alias("a"), F.col("eb").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        canon.join(wedges, ["a", "b"], "left")
        .select(
            F.col("a").alias("node_a"),
            F.col("b").alias("node_b"),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            (F.coalesce("n_common", F.lit(0)) == 0).alias("is_bridge"),
        )
    )


def degree_powerlaw_fit(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    dmin: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Power-law exponent MLE for the undirected degree distribution:
    α = 1 + n / Σ ln(d / (dmin − ½)) over nodes with degree ≥ dmin —
    the Clauset–Shalizi–Newman continuous-approximation estimator, the
    one-number answer to "is this graph scale-free and how heavy is the
    tail" (α ≈ 2–3 for most real networks; the value calibrates every
    hub-skew mitigation in this package).

    One degree aggregate + one scalar aggregate; the ln terms are
    9-dp-rounded and summed exactly (``dsum``) so α is engine- and
    partitioning-deterministic. Output one row:
    (n_nodes_fit, dmin, alpha, max_degree).
    """
    und = _undirected(edges, src, dst)
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    fit = deg.filter(F.col("deg") >= dmin)
    ln_term = round_half_up(
        F.log(F.col("deg") / F.lit(dmin - 0.5)), 9
    )
    return fit.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_fit"),
        F.lit(dmin).cast("long").alias("dmin"),
        round_half_up(
            1.0 + F.count(F.lit(1)) / dsum(ln_term, 9), digits
        ).alias("alpha"),
        F.max("deg").cast("long").alias("max_degree"),
    )


def rich_club_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ks: tuple = (4, 8, 16),
    digits: int = 6,
) -> DataFrame:
    """Rich-club coefficient φ(k) for each degree threshold k: the edge
    density among nodes of degree > k — "do the hubs form a club"
    (φ → 1 means the high-degree core is near-complete; flat/low φ
    means hubs avoid each other), the structural complement to
    assortativity's single number.

    One degree aggregate, then per k two semi-joins of the undirected
    edge list against the (shrinking) rich-node set and two bounded
    counts. No windows; the rich sets shrink geometrically with k, so
    the per-k cost is dominated by the smallest-k pass.

    r15 ablation: the static plan replicates the union-distinct edge
    subtree across the 2·|ks| branches (144 parquet scans, 66
    Exchanges, plans/r15/graph_rich_club_audit.txt), but persisting
    deg + the canonical edge list measured 1.48x SLOWER (isolated ABAB
    min-of-5, identical results) — AQE's runtime exchange reuse
    already dedups the identical shuffle stages, and the persist only
    adds materialization barriers (the triangle_counts/copurchase
    lesson from r14). Left un-persisted.
    """
    und = _undirected(edges, src, dst, drop_loops=True)
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    canon = und.filter(F.col("a") < F.col("b"))
    out = None
    for k in ks:
        rich = deg.filter(F.col("deg") > k).select("node")
        n_rich = rich.agg(F.count(F.lit(1)).alias("n_rich"))
        e_rich = (
            canon.join(rich.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(rich.withColumnRenamed("node", "b"), "b", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_edges_rich"))
        )
        row = (
            n_rich.crossJoin(F.broadcast(e_rich))
            .select(
                F.lit(k).cast("long").alias("k"),
                F.col("n_rich").cast("long").alias("n_rich"),
                F.col("n_edges_rich").cast("long").alias("n_edges_rich"),
                round_half_up(
                    F.when(
                        F.col("n_rich") >= 2,
                        2.0
                        * F.col("n_edges_rich")
                        / (F.col("n_rich") * (F.col("n_rich") - 1)),
                    ),
                    digits,
                ).alias("phi"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def edge_triangle_support(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-EDGE triangle support on the undirected deduped edge set —
    the k-truss building block (an edge is in the k-truss iff its
    support is >= k-2): the edge-level refinement of
    ``triangle_counts``'s node-level tally, used to rank which
    relationships are structurally embedded vs incidental.

    Same degree-ordered orientation as ``triangle_counts`` (each
    triangle enumerated exactly once, wedge fan-out bounded by
    ~sqrt(2m) per node regardless of hubs), then each triangle
    (c, x, y) credits its three canonical edges via a 3-way explode
    and one hash aggregate — all keyed equi-joins, no driver state.

    Returns (u, v, support) with u < v for every edge in >= 1 triangle.
    """
    tri = _triangles(edges, src, dst)
    sides = tri.select(
        F.array(
            F.struct(
                F.least("c", "x").alias("u"), F.greatest("c", "x").alias("v")
            ),
            F.struct(
                F.least("c", "y").alias("u"), F.greatest("c", "y").alias("v")
            ),
            F.struct(F.col("x").alias("u"), F.col("y").alias("v")),
        ).alias("__e")
    ).select(F.explode("__e").alias("e"))
    return (
        sides.groupBy(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )


def neighbor_jaccard(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-edge neighborhood Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| — the
    classic link-strength / link-prediction feature, scored here for
    every EXISTING edge with ≥1 common neighbor (common = the edge's
    triangle support, so this reuses the degree-ordered enumeration
    that stays bounded under hub skew; union = deg(u)+deg(v)−common
    needs no second traversal).

    One support computation + one degree aggregate joined twice —
    all keyed equi-joins.
    """
    sup = edge_triangle_support(edges, src, dst)
    sym, deg = _sym(_canonical(edges, src, dst))
    return (
        sup.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u",
            "v",
            F.col("support").alias("n_common"),
            round_half_up(
                F.col("support")
                / (F.col("du") + F.col("dv") - F.col("support")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar_topk(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    top_k: int = 100,
    max_center_degree: int = 1024,
) -> DataFrame:
    """Adamic–Adar link prediction: score every NON-adjacent 2-hop
    pair by Σ_{c ∈ N(u)∩N(v)} 1/ln(deg(c)) — the classic "who should
    be connected next" feature (common neighbors, discounted by how
    promiscuous each shared neighbor is), returned as the global
    top-k candidate edges.

    Unlike triangle counting, the pair needs NO existing edge, so
    degree-ordered orientation cannot bound the wedge fan-out — a hub
    center genuinely contributes deg² candidate pairs. The honest
    scale device is therefore an explicit LOGGED center-degree cap
    (the ``_df_capped_index`` analog): centers with deg >
    ``max_center_degree`` are excluded from wedge enumeration with a
    warning carrying the count, bounding total wedges at
    |V|·cap²/2 — and a node connected to >cap others is exactly the
    boilerplate-shingle case where "common neighbor" carries no
    signal anyway. Scores use 9-dp-rounded 1/ln(deg) terms summed as
    exact decimals (order-independent, engine-portable); the top-k is
    TakeOrdered on (score desc, u, v) — no windows.

    Returns (u, v, n_common, aa_score) with u < v, rank-stable.
    """
    import logging

    logger = logging.getLogger(__name__)
    # Referenced six times downstream (deg, both wedge sides, the
    # non-adjacency anti-join, twice via sym's self-union) — without
    # this the edge distinct's shuffle re-executes per branch.
    und = _canonical(edges, src, dst).localCheckpoint(eager=False)
    sym, deg = _sym(und)
    hot = deg.where(F.col("deg") > max_center_degree).localCheckpoint(
        eager=True
    )
    n_hot = hot.count()
    if n_hot:
        logger.warning(
            "adamic_adar_topk: excluding %d hub centers with degree > %d "
            "from wedge enumeration (bounds wedges at |V|*cap^2/2)",
            n_hot,
            max_center_degree,
        )
    # r14: the hot-screen's count() above materialized und's lazy
    # checkpoint, so counting it now is a cheap local scan; the edge
    # count gates broadcasting the node-sized center weights and the
    # non-adjacency anti-join side. The wedge self-join side is
    # deliberately NOT broadcast: hinting it collapsed the quadratic
    # wedge fan-out + partial aggregation onto the streamed side's few
    # input partitions (measured 9 s → 80 s at sf0.1) — the exchange IS
    # what spreads the wedge work (OPTIMIZATION_r14.md).
    bc = state_broadcaster(2 * und.count())
    centers = (
        deg.join(hot.select("u"), "u", "left_anti")
        .where(F.col("deg") >= 2)
        .select(
            F.col("u").alias("c"),
            round_half_up(1.0 / F.log(F.col("deg")), 9)
            .cast("decimal(20,9)")
            .alias("w_c"),
        )
    )
    nbrs = sym.select(F.col("u").alias("c"), F.col("v").alias("x"))
    wedges = (
        nbrs.join(bc(centers), "c")
        .join(
            nbrs.select(F.col("c"), F.col("x").alias("y")),
            "c",
        )
        .where(F.col("x") < F.col("y"))
    )
    scored = wedges.groupBy(F.col("x").alias("u"), F.col("y").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("w_c").alias("__aa"),
    )
    non_adj = scored.join(bc(und), ["u", "v"], "left_anti")
    return (
        non_adj.orderBy(F.col("__aa").desc(), "u", "v")
        .limit(top_k)
        .select(
            "u",
            "v",
            "n_common",
            F.col("__aa").cast("double").alias("aa_score"),
        )
    )


def functional_scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_doublings: int = 5,
) -> DataFrame:
    """Strongly-connected components of a BOUNDED directed graph by
    transitive-closure doubling — built for graphs over a small key
    domain (event types, states, categories: the dominant-transition
    graph of a behavioral log), where each of the ``max_doublings``
    rounds squares the reachability relation, covering paths up to
    2^k edges; 5 doublings close any graph with ≤ 32 nodes on the
    longest simple path. NOT for node-scaled graphs — closure is
    O(V²) pairs by construction; use the label-propagation CC for
    those.

    scc_id(v) = min{u : v→*u and u→*v} (mutual reachability,
    including v itself), a deterministic canonical label. All steps
    are distinct equi-joins over the bounded closure table.

    Returns (node, scc_id, scc_size, in_cycle) — in_cycle is False
    exactly for a size-1 SCC with no self-loop.
    """
    e = edges.select(
        F.col(src).cast("string").alias("a"),
        F.col(dst).cast("string").alias("b"),
    ).distinct()
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # reach includes the identity pairs so min-mutual-reach is total.
    # Each doubling references `reach` twice, so without a per-round
    # materialization the logical plan (and analysis memory) grows
    # exponentially in max_doublings — the closure table itself is
    # bounded (≤ V² pairs), so the eager localCheckpoint is cheap.
    reach = (
        nodes.select(F.col("node").alias("a"), F.col("node").alias("b"))
        .unionByName(e)
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r15: fixpoint early-exit — closure growth is monotone, so equal
    # row counts before/after a doubling mean every later doubling is a
    # no-op; the count is a near-free scan of the just-materialized
    # checkpoint, while each skipped round saves a self-join + distinct
    # + checkpoint job (event-type graphs converge in 2-3 of the 5
    # rounds). The converged table is bit-identical to the fixed-round
    # one.
    n_reach = reach.count()
    for _ in range(max_doublings):
        step = (
            reach.alias("r1")
            .join(
                reach.alias("r2"),
                F.col("r1.b") == F.col("r2.a"),
            )
            .select(F.col("r1.a").alias("a"), F.col("r2.b").alias("b"))
        )
        reach = (
            reach.unionByName(step).distinct().localCheckpoint(eager=True)
        )
        n_next = reach.count()
        if n_next == n_reach:
            break
        n_reach = n_next
    back = reach.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = reach.intersect(back)
    scc = mutual.groupBy("a").agg(F.min("b").alias("scc_id"))
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size")
    )
    self_loop = e.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("node"), F.lit(True).alias("__self")
    )
    return (
        scc.select(F.col("a").alias("node"), "scc_id")
        .join(sizes, "scc_id")
        .join(self_loop, "node", "left")
        .select(
            "node",
            "scc_id",
            "scc_size",
            (
                (F.col("scc_size") > 1)
                | F.coalesce(F.col("__self"), F.lit(False))
            ).alias("in_cycle"),
        )
    )


def weighted_reciprocity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
    digits: int = 6,
) -> DataFrame:
    """Weighted reciprocity of a directed graph: what fraction of
    directed edge weight is matched by flow in the opposite
    direction, r = Σ min(w_ij, w_ji) / Σ w_ij over ordered pairs
    (self-loops excluded — they are trivially reciprocal). r ≈ 1
    means symmetric interaction (conversation), r ≈ 0 pure broadcast
    — the one-number digraph-symmetry audit that complements the
    SCC decomposition.

    One full-outer self-join of the (src, dst, w) aggregate against
    its transpose (keyed equi-join), then exact integer sums.
    Returns one row: (n_directed_edges, total_weight,
    reciprocated_weight, reciprocity).
    """
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.col(src).alias("a"),
            F.col(dst).alias("b"),
            F.col(weight).cast("long").alias("w"),
        )
    )
    t = e.select(
        F.col("b").alias("a"), F.col("a").alias("b"), F.col("w").alias("wr")
    )
    j = e.join(t, ["a", "b"], "left").select(
        "w", F.coalesce("wr", F.lit(0)).alias("wr")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_directed_edges"),
        F.sum("w").cast("long").alias("total_weight"),
        F.sum(F.least(F.col("w"), F.col("wr")))
        .cast("long")
        .alias("reciprocated_weight"),
    ).select(
        "n_directed_edges",
        "total_weight",
        "reciprocated_weight",
        round_half_up(
            F.col("reciprocated_weight") / F.col("total_weight"), digits
        ).alias("reciprocity"),
    )


def type_mixing_matrix(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    digits: int = 6,
) -> DataFrame:
    """Categorical mixing matrix + Newman's discrete assortativity
    over node TYPES (the first character of the id in the standard
    prefix encoding): what fraction of undirected edge ends connect
    type X to type Y, and the one-number r = (Σeᵢᵢ − Σaᵢbᵢ)/(1 − Σaᵢbᵢ)
    — the categorical companion to degree assortativity (is this
    graph type-homophilous or bipartite-ish?).

    One (type_a, type_b) count over the undirected edge set (both
    orientations, so the matrix is symmetric and margins are exact),
    then pure integer/rational algebra over the bounded type-pair
    table. Returns one row per (type_a, type_b) cell with the SAME
    assortativity_r on each (flat driver-friendly shape).
    """
    sym, _ = _sym(_canonical(edges, src, dst))
    # r14: the cell matrix is bounded (≤ |types|² rows) but feeds FIVE
    # consumers (tot, both margins, the trace, the final read-out) —
    # un-materialized, each re-ran the corpus-sized distinct+aggregate
    # (27 Exchanges in the plan; see plans/r14/). One eager checkpoint
    # of the tiny table makes everything downstream driver-cheap.
    cell = sym.groupBy(
        F.substring("u", 1, 1).alias("type_a"),
        F.substring("v", 1, 1).alias("type_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_ends")).localCheckpoint(
        eager=True
    )
    tot = cell.agg(F.sum("n_ends").alias("m2"))
    am = cell.groupBy("type_a").agg(F.sum("n_ends").alias("na"))
    bm = cell.groupBy("type_b").agg(F.sum("n_ends").alias("nb"))
    # Σ e_ii and Σ a_i·b_i from the bounded margins
    tr = (
        cell.where(F.col("type_a") == F.col("type_b"))
        .agg(F.coalesce(F.sum("n_ends"), F.lit(0)).alias("diag"))
    )
    ab = (
        am.join(bm, F.col("type_a") == F.col("type_b"))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("na").cast("double")
                * F.col("nb").cast("double")
            ).alias("__ab_num")
        )
    )
    stats = (
        tr.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ab))
        .select(
            (
                (
                    F.col("diag").cast("double") / F.col("m2").cast("double")
                    - F.col("__ab_num")
                    / (F.col("m2").cast("double") * F.col("m2").cast("double"))
                )
                / (
                    1.0
                    - F.col("__ab_num")
                    / (F.col("m2").cast("double") * F.col("m2").cast("double"))
                )
            ).alias("__r")
        )
    )
    return (
        cell.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(stats))
        .select(
            "type_a",
            "type_b",
            "n_ends",
            round_half_up(
                F.col("n_ends") / F.col("m2"), digits
            ).alias("share"),
            round_half_up(F.col("__r"), digits).alias("assortativity_r"),
        )
    )


def katz_centrality(
    edges: DataFrame,
    rounds: int = 3,
    alpha_inv: int = 20,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Katz centrality, ``rounds`` fixed Jacobi iterations of
    c ← 1 + α·A·c with α = 1/``alpha_inv``, on the undirected graph.
    Unlike PageRank (which the reference-era suite already covers) the
    Katz recurrence has no per-node normalization, so hub influence
    propagates additively — the standard "how many short walks end
    here" centrality.

    ENTIRELY INTEGER ALGEBRA: scores are carried as micro-units
    (c₀ = 1_000_000) and each iteration computes
    c' = 1_000_000 + floor(Σ_nbr c / alpha_inv). Integer sums are exact
    and order-independent, so every execution order, partition count,
    and engine agrees bit-for-bit — the same determinism discipline as
    ``modularity``'s integer degree algebra (no dsum needed, no float
    drift by construction; magnitudes stay < 2⁵³ for any realistic
    degree because α·deg < 1 keeps the series geometric).

    Scale shape: per round one shuffle join (edges ⋈ scores on the
    neighbor endpoint) + one sum aggregate keyed on the vertex id —
    consecutive rounds reuse the hash partitioning; ``localCheckpoint``
    truncates superstep lineage exactly like ``label_propagation``
    (whose r15 lazy-chaining ablation — 1.195 HERE, strictly worse —
    is why the per-round checkpoint stays).
    State is one BIGINT row per node.
    """
    und = _static_input(_undirected(edges, src, dst, drop_loops=True))
    n_edges = und.count()  # warms the cache; sizes superstep shuffles
    bc = state_broadcaster(n_edges)

    def step(scores: DataFrame, _) -> DataFrame:
        return _neighbor_sum(und, bc(scores), scores, "katz_micro").select(
            "node",
            (
                F.lit(1_000_000).cast("long")
                + F.floor(F.coalesce(F.col("__s"), F.lit(0)) / F.lit(alpha_inv)).cast("long")
            ).alias("katz_micro"),
        )

    nodes = und.select(F.col("a").alias("node")).distinct()
    return run_supersteps(
        nodes.withColumn("katz_micro", F.lit(1_000_000).cast("long")),
        step,
        rounds=rounds,
        scope_rows=n_edges,
        static=(und,),
    )


def _neighbor_sum(und: DataFrame, hinted: DataFrame, state: DataFrame, col: str) -> DataFrame:
    """(node, __s): the exact integer sum of ``col`` over each node's
    neighbors in ``und`` (NULL when none), for every node of ``state``.

    r14: ``hinted`` is the state, broadcast when the graph is
    driver-known small, and the neighbor-sum + nodes left-join pair is
    fused into one union + integer sum (a null row per node makes the
    null-ignoring sum reproduce the left join's coalesce exactly;
    integer sums are order-independent). ~4 Exchanges/round → 1. Every
    round's state holds every node, so it also supplies the null rows.
    """
    msgs = und.join(hinted, und["b"] == hinted["node"]).select(
        F.col("a").alias("node"), F.col(col).alias("__s")
    )
    return (
        msgs.unionByName(state.select("node", F.lit(None).cast("long").alias("__s")))
        .groupBy("node")
        .agg(F.sum("__s").alias("__s"))
    )


def link_prediction_eval(
    edges: DataFrame,
    holdout_frac: float = 0.2,
    neg_sample: int = 200,
    src: str = "src",
    dst: str = "dst",
    digits: int = 6,
) -> DataFrame:
    """Link-prediction evaluation harness: hold out an md5-deterministic
    ``holdout_frac`` of edges, score the held-out pairs AND a
    deterministic sample of non-edges by their common-neighbor count in
    the RETAINED graph, and report the separation — the eval loop that
    decides whether a link predictor (CN here; Adamic–Adar swaps in)
    carries signal before anyone trusts its recommendations.

    Negative pairs are built from two disjoint md5-ordered node samples
    (first/last ``neg_sample`` nodes by md5 — TakeOrdered, constant-size
    at ANY graph scale, no global window), crossed and anti-joined
    against the true edge set: the standard "random non-edges" control
    with every random choice derandomized through md5.

    Output: one row per class (pos/neg) — n_pairs, mean_cn,
    share_cn_pos (share of pairs with ≥1 common neighbor). All from
    integer counts; double division over exact inputs, rounded at
    ``digits``.
    """
    canon = _canonical(edges, src, dst, cols=("a", "b"))
    frac = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "a", "b")), 1, 8), 16, 10
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    tagged = canon.withColumn("__ho", frac < holdout_frac).persist()
    try:
        train = tagged.filter(~F.col("__ho")).select("a", "b")
        pos = tagged.filter(F.col("__ho")).select(
            F.col("a").alias("x"), F.col("b").alias("y"), F.lit("pos").alias("cls")
        )
        nodes = canon.select(F.col("a").alias("node")).union(
            canon.select("b")
        ).distinct().withColumn("__h", F.md5(F.col("node").cast("string")))
        sa = nodes.orderBy(F.col("__h").asc()).limit(neg_sample).select(
            F.col("node").alias("na")
        )
        sb = nodes.orderBy(F.col("__h").desc()).limit(neg_sample).select(
            F.col("node").alias("nb")
        )
        neg = (
            sa.crossJoin(sb)
            .select(
                F.least("na", "nb").alias("x"),
                F.greatest("na", "nb").alias("y"),
            )
            .where(F.col("x") != F.col("y"))
            .distinct()
            .join(
                canon,
                (F.col("x") == canon["a"]) & (F.col("y") == canon["b"]),
                "left_anti",
            )
            .withColumn("cls", F.lit("neg"))
        )
        pairs = pos.unionByName(neg)
        adj = train.select(F.col("a").alias("node"), F.col("b").alias("nbr")).union(
            train.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
        )
        cn = (
            pairs.join(adj, pairs["x"] == adj["node"])
            .select("x", "y", "cls", "nbr")
            .join(
                adj.select(F.col("node").alias("y2"), F.col("nbr").alias("nbr2")),
                (F.col("y") == F.col("y2")) & (F.col("nbr") == F.col("nbr2")),
            )
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("cn"))
        )
        scored = pairs.join(cn, ["x", "y"], "left").select(
            "cls", F.coalesce(F.col("cn"), F.lit(0)).alias("cn")
        )
        return scored.groupBy("cls").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            round_half_up(F.avg("cn"), digits).alias("mean_cn"),
            round_half_up(
                F.avg((F.col("cn") > 0).cast("int")), digits
            ).alias("share_cn_pos"),
        )
    finally:
        tagged.unpersist()


def spectral_radius_estimate(
    edges: DataFrame,
    rounds: int = 3,
    top_k: int = 10,
    src: str = "src",
    dst: str = "dst",
    digits: int = 6,
) -> DataFrame:
    """Spectral radius (largest adjacency eigenvalue) estimate by
    ``rounds`` un-normalized power iterations from the all-ones vector,
    read off as the Rayleigh quotient λ ≈ (x₃·x₂)/(x₂·x₂) — the
    one-number connectivity/epidemic-threshold summary of a graph, and
    the eigenvector-centrality probe (x₃'s top components) in the same
    pass.

    ENTIRELY INTEGER ALGEBRA until the final division: x₀ = 1 and each
    superstep is an exact integer neighbor-sum (no normalization, no
    float drift — the ``katz_centrality`` discipline); the two Rayleigh
    dot products accumulate as DECIMAL(38,0) (per-node products reach
    ~deg⁵, past int64 but exact in decimal), and only the last ratio is
    a double, rounded at ``digits``. Identical on every engine and
    partitioning by construction. Magnitude guard: x₃ ≤ deg_max³ —
    int64-safe for any graph with deg_max < ~20k; beyond that, start
    from a scaled-down x₀ (documented, not needed on these fixtures).

    Output: the ``top_k`` nodes by x₃ (eigenvector-centrality ranking,
    ties on node id) with their x₃ share, each row carrying the same
    λ estimate and node count.

    Scale shape: per round one edges ⋈ scores shuffle join + a
    node-keyed sum (hash partitioning reused across rounds,
    localCheckpoint per superstep); the Rayleigh read-off is one 1-row
    aggregate; the read-out is TakeOrdered(top_k).
    """
    und = _static_input(_undirected(edges, src, dst, drop_loops=True))
    n_edges = und.count()
    bc = state_broadcaster(n_edges)
    hist = []

    def step(x: DataFrame, _) -> DataFrame:
        hist.append(x)
        return _neighbor_sum(und, bc(x), x, "x").select(
            "node", F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("x")
        )

    nodes = und.select(F.col("a").alias("node")).distinct()
    x_last = run_supersteps(
        nodes.withColumn("x", F.lit(1).cast("long")),
        step,
        rounds=rounds,
        scope_rows=n_edges,
        static=(und,),
    )
    x_prev = hist[-1]
    both = x_last.select(F.col("node"), F.col("x").alias("xl")).join(
        x_prev.select(F.col("node"), F.col("x").alias("xp")), "node"
    )
    ray = both.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            (F.col("xl").cast("decimal(38,0)") * F.col("xp")).cast(
                "decimal(38,0)"
            )
        ).alias("__num"),
        F.sum(
            (F.col("xp").cast("decimal(38,0)") * F.col("xp")).cast(
                "decimal(38,0)"
            )
        ).alias("__den"),
        F.sum(F.col("xl").cast("decimal(38,0)")).alias("__tot"),
    )
    top = x_last.orderBy(F.col("x").desc(), F.col("node")).limit(top_k)
    return (
        top.crossJoin(F.broadcast(ray))
        .select(
            "node",
            round_half_up(
                F.col("x").cast("double")
                / F.col("__tot").cast("double"),
                9,
            ).alias("x_share"),
            round_half_up(
                F.col("__num").cast("double") / F.col("__den").cast("double"),
                digits,
            ).alias("lambda_est"),
            F.col("n_nodes"),
        )
    )


def effective_diameter_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 6,
    q_tenths: int = 9,
    digits: int = 6,
) -> DataFrame:
    """Effective diameter (the hop count covering ``q_tenths``/10 of
    reachable (seed, node) pairs) from a SAMPLED seed set, plus the
    full hop-distance histogram — the "how far apart is this graph
    really" summary (the mean/diameter alone hide the shape), computed
    with the same landmark BFS state as ``closeness_sampled``.

    The quantile cut is EXACT INTEGER algebra (cum·10 ≥ q·total — no
    float ECDF), distances and counts are integers throughout; only
    cum_share is a rounded double read-out.

    Scale shape: k-seed bounded-hop BFS (k·O(E·diameter)), then a
    histogram over the bounded hop domain (≤ max_hops rows) — windows
    touch only that bounded table.
    """
    start = (
        seeds.select(F.col(node_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"))
    )
    dist = _bfs(edges, start, src, dst, max_hops, keys=("seed",))
    hist = (
        dist.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = Window.orderBy("dist").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("n_pairs").over(w))
    tot = cum.agg(F.max("cum").alias("total"))
    marked = cum.crossJoin(F.broadcast(tot)).withColumn(
        "__covers", (F.col("cum") * 10 >= q_tenths * F.col("total")).cast("int")
    )
    eff = marked.filter(F.col("__covers") == 1).agg(
        F.min("dist").alias("eff_diameter")
    )
    return (
        marked.crossJoin(F.broadcast(eff))
        .select(
            "dist",
            "n_pairs",
            round_half_up(F.col("cum") / F.col("total"), digits).alias(
                "cum_share"
            ),
            F.col("eff_diameter"),
        )
    )


def node2vec_transition_weights(
    edges: DataFrame,
    w_return: int = 1,
    w_common: int = 2,
    w_far: int = 4,
    n_pairs: int = 50,
    src: str = "src",
    dst: str = "dst",
    digits: int = 6,
) -> DataFrame:
    """node2vec second-order transition mass (Grover & Leskovec 2016):
    for a deterministic sample of directed (prev → cur) edges, classify
    every neighbor w of cur by its distance to prev — ``return``
    (w = prev, weight 1/p), ``common`` (w adjacent to prev, weight 1),
    ``far`` (weight 1/q) — and report each class's normalized
    transition mass. This is the biased-walk kernel that interpolates
    BFS-like (homophily) and DFS-like (structural) exploration; the
    class masses are what p/q tuning actually moves.

    Weights are DOUBLED-INTEGER units (default p = 2, q = ½ →
    1 : 2 : 4), so every probability is an exact integer ratio —
    bit-identical everywhere. The pair sample is md5-ordered
    TakeOrdered(``n_pairs``) — constant size at any graph scale.

    Scale shape: sample ⋈ adjacency (Σ deg(cur) over the constant
    sample), one left-semi adjacency probe for the ``common`` class,
    dimension-sized aggregates after.

    r15 ablation: eagerly materializing the 50-row pair sample + the
    nbrs table (so the duplicated TakeOrdered/und subtrees — 120
    parquet scans in the static plan,
    plans/r15/graph_node2vec_weights_audit.txt — run once) measured
    1.29x SLOWER (isolated ABAB min-of-5, identical results): AQE
    runtime exchange reuse already covers the duplication and the
    checkpoints serialize work the lazy plan overlaps. Left lazy.
    """
    und = _undirected(edges, src, dst, drop_loops=True)
    pairs = (
        und.select(F.col("a").alias("prev"), F.col("b").alias("cur"))
        .orderBy(F.md5(F.concat_ws("|", "a", "b")).asc())
        .limit(n_pairs)
    )
    nbrs = pairs.join(
        und.select(F.col("a").alias("cur"), F.col("b").alias("w")), "cur"
    )
    adj2 = und.select(F.col("a").alias("prev"), F.col("b").alias("w"))
    common = nbrs.join(adj2, ["prev", "w"], "left_semi").select(
        "prev", "cur", "w", F.lit("common").alias("cls")
    )
    classed = (
        nbrs.withColumn(
            "cls",
            F.when(F.col("w") == F.col("prev"), F.lit("return")).otherwise(
                F.lit("far")
            ),
        )
        .join(
            common.select("prev", "cur", "w", F.col("cls").alias("__c2")),
            ["prev", "cur", "w"],
            "left",
        )
        .select(
            "prev",
            "cur",
            F.when(F.col("cls") == "return", F.col("cls"))
            .otherwise(F.coalesce(F.col("__c2"), F.col("cls")))
            .alias("cls"),
        )
    )
    weights = F.when(F.col("cls") == "return", F.lit(w_return)).otherwise(
        F.when(F.col("cls") == "common", F.lit(w_common)).otherwise(
            F.lit(w_far)
        )
    )
    per_class = classed.groupBy("prev", "cur", "cls").agg(
        F.count(F.lit(1)).alias("n_nbrs"),
        F.sum(weights).cast("bigint").alias("__num"),
    )
    tot = per_class.groupBy("prev", "cur").agg(
        F.sum("__num").cast("bigint").alias("__tot")
    )
    return per_class.join(tot, ["prev", "cur"]).select(
        "prev",
        "cur",
        F.col("cls").alias("nbr_class"),
        "n_nbrs",
        round_half_up(F.col("__num") / F.col("__tot"), digits).alias(
            "prob_mass"
        ),
    )


def percolation_robustness(
    edges: DataFrame,
    n_hubs: int = 2,
    src: str = "src",
    dst: str = "dst",
    digits: int = 6,
) -> DataFrame:
    """Targeted-attack robustness probe: connected-component structure
    of the graph BEFORE and AFTER removing the ``n_hubs``
    highest-degree nodes — scale-free graphs shatter under hub removal
    while staying robust to random failure (Albert–Barabási), and the
    largest-component share drop is the one-number summary
    infrastructure/fraud teams track.

    Hubs are a deterministic TakeOrdered cut (degree DESC, node id);
    components come from the same hash-min propagation as
    ``connected_components``; every output number is an integer or an
    integer ratio.

    Output: one row per variant (full / hubs_removed) — n_nodes,
    n_components, largest_cc, largest_share.
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    hubs = deg.orderBy(F.col("d").desc(), F.col("node")).limit(n_hubs).select(
        "node"
    )
    cut = (
        und.join(hubs, und["a"] == hubs["node"], "left_anti")
        .join(hubs, und["b"] == hubs["node"], "left_anti")
    )

    # r15: ONE component loop over the variant-tagged disjoint union
    # instead of two sequential connected_components runs. Components of
    # a disjoint union never mix variants (no cross edges), so tagging
    # node ids with the variant bit and propagating once is exactly the
    # two per-variant component structures — in max(diameter) supersteps
    # rather than their sum, with half the checkpoint/probe jobs (the
    # loop's cost here is per-superstep fixed overhead, not data; at
    # cluster scale it also halves the number of job barriers).
    def tag(e: DataFrame, g: int) -> DataFrame:
        return e.select(
            F.struct(F.lit(g).alias("g"), F.col("a").alias("n")).alias("src"),
            F.struct(F.lit(g).alias("g"), F.col("b").alias("n")).alias("dst"),
        )

    comp = connected_components(tag(und, 0).unionByName(tag(cut, 1)))
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))

    def summarize(g: int, label: str) -> DataFrame:
        # Aggregate WITHOUT groupBy so an empty variant still yields one
        # row of clean zeros (the pre-r15 per-variant contract).
        return sizes.filter(F.col("component.g") == g).agg(
            F.lit(label).alias("variant"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("n_nodes"),
            F.count(F.lit(1)).cast("bigint").alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("bigint").alias("largest_cc"),
            F.coalesce(
                round_half_up(F.max("sz") / F.sum("sz"), digits), F.lit(0.0)
            ).alias("largest_share"),  # empty graph → clean zeros, not NULLs
        )

    return summarize(0, "full").unionByName(summarize(1, "hubs_removed"))
