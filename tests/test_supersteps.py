"""The superstep driver (``graph_algos.run_supersteps``) and the loops
built on it: driver contract tests, then a bounded property test of the
convergence loops against pure-Python references on random small
graphs (self-loops, duplicate edges, isolated or absent seeds)."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest
from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from neo4j_database_to_data_importer_package_spark.operators import graph_algos as ga
from neo4j_database_to_data_importer_package_spark.operators.graph_algos import (
    run_supersteps,
)

_ACTIONS = ("count", "collect", "take", "head", "first", "toPandas", "foreach", "toLocalIterator")


@pytest.fixture()
def calls(monkeypatch):
    """Record every DataFrame action and checkpoint call, in order:
    ("count", None), ("localCheckpoint", eager), ..."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as Concrete
    except ImportError:  # Spark 3.x
        from pyspark.sql.dataframe import DataFrame as Concrete
    log: list = []

    def spy(name, orig):
        def wrapped(self, *args, **kwargs):
            log.append((name, None))
            return orig(self, *args, **kwargs)

        return wrapped

    for name in _ACTIONS:
        monkeypatch.setattr(Concrete, name, spy(name, getattr(Concrete, name)))
    orig_ckpt = Concrete.localCheckpoint

    def ckpt(self, eager=True, *args, **kwargs):
        log.append(("localCheckpoint", eager))
        return orig_ckpt(self, eager, *args, **kwargs)

    monkeypatch.setattr(Concrete, "localCheckpoint", ckpt)
    return log


def _countdown(spark, values):
    return spark.createDataFrame([(v,) for v in values], "n long")


def _decrement(t, _):
    return t.select((F.col("n") - 1).alias("n"))


def test_convergence_loop_stops_at_first_empty_round(spark):
    steps, stats = [], []

    def step(t, i):
        steps.append(i)
        return _decrement(t, i)

    out = run_supersteps(
        _countdown(spark, [3, 1]),
        step,
        rounds=10,
        scope_rows=2,
        active=F.col("n") > 0,
        round_stats=stats,
    )
    assert steps == [1, 2, 3]
    assert stats == [2, 1, 1, 0]
    assert sorted(r["n"] for r in out.collect()) == [-2, 0]


def test_convergence_loop_never_runs_past_rounds(spark):
    steps, stats = [], []

    def step(t, i):
        steps.append(i)
        return _decrement(t, i)

    out = run_supersteps(
        _countdown(spark, [5]), step, rounds=2, scope_rows=1,
        active=F.col("n") > 0, round_stats=stats,
    )
    assert steps == [1, 2]
    assert stats == [1, 1, 1]
    assert [r["n"] for r in out.collect()] == [3]


def test_no_round_runs_when_nothing_is_active(spark):
    steps = []
    run_supersteps(
        _countdown(spark, [0]), lambda t, i: steps.append(i) or t, rounds=5,
        scope_rows=1, active=F.col("n") > 0,
    )
    assert steps == []


def test_step_failure_restores_conf_and_unpersists_static(spark):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    static = spark.range(10).persist()
    static.count()
    assert static.is_cached
    inside = []

    def step(t, i):
        inside.append(spark.conf.get("spark.sql.shuffle.partitions"))
        if i == 2:
            raise RuntimeError("boom")
        return _decrement(t, i)

    try:
        with pytest.raises(RuntimeError, match="boom"):
            run_supersteps(
                _countdown(spark, [9]), step, rounds=5, scope_rows=1,
                static=(static,), active=F.col("n") > 0,
            )
        assert inside == ["8", "8"]  # the scope's floor while the loop runs
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
        assert not static.is_cached
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_convergence_round_issues_exactly_one_action(spark, calls):
    rounds_seen = []

    def step(t, i):
        rounds_seen.append(len(calls))
        return _decrement(t, i)

    run_supersteps(
        _countdown(spark, [3]), step, rounds=10, scope_rows=1, active=F.col("n") > 0
    )
    assert len(rounds_seen) == 3
    # The initial table and every round: one lazy checkpoint, one count.
    boundaries = [0, *rounds_seen, len(calls)]
    for lo, hi in zip(boundaries, boundaries[1:]):
        assert calls[lo:hi] == [("localCheckpoint", False), ("count", None)]


def test_fixed_round_loop_is_one_eager_checkpoint_per_round(spark, calls):
    run_supersteps(_countdown(spark, [3]), _decrement, rounds=3, scope_rows=1)
    assert calls == [("localCheckpoint", True)] * 4


def test_fused_rounds_materialize_every_second_round_and_the_last(spark, calls):
    seen = []

    def step(t, i):
        seen.append((i, len(calls)))
        return _decrement(t, i)

    run_supersteps(
        _countdown(spark, [9]), step, rounds=5, scope_rows=1,
        active=F.col("n") > 0, rounds_per_checkpoint=2,
    )
    # init, after round 2, after round 4, after round 5 (the last)
    assert calls.count(("localCheckpoint", False)) == 4
    assert calls.count(("count", None)) == 4
    assert [n for _, n in seen] == [2, 2, 4, 4, 6]


# ---------------------------------------------------------------------------
# Property test: the convergence loops against pure-Python references
# ---------------------------------------------------------------------------


def _adj(edges):
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def _py_bfs(edges, sources, max_hops):
    adj = _adj(edges)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for hop in range(1, max_hops + 1):
        frontier = {m for n in frontier for m in adj[n]} - dist.keys()
        if not frontier:
            break
        dist.update((n, hop) for n in frontier)
    return dist


def _py_components(edges):
    adj = _adj(edges)
    comp = {}
    for n in sorted(adj):
        if n in comp:
            continue
        seen, todo = {n}, [n]
        while todo:
            for m in adj[todo.pop()] - seen:
                seen.add(m)
                todo.append(m)
        comp.update((m, min(seen)) for m in seen)
    return comp


def _py_k_core(edges, k):
    adj = _adj((a, b) for a, b in edges if a != b)
    while True:
        drop = [n for n, ns in adj.items() if len(ns) < k]
        if not drop:
            return {n: len(ns) for n, ns in adj.items()}
        for n in drop:
            for m in adj.pop(n):
                if m in adj:
                    adj[m].discard(n)


def _py_shortest(wedges, sources, rounds):
    w = {}
    for a, b, c in wedges:
        for x, y in ((a, b), (b, a)):
            w[(x, y)] = min(c, w.get((x, y), c))
    dist = {s: 0.0 for s in sources}
    for _ in range(rounds):
        new = dict(dist)
        for (a, b), c in w.items():
            if a in dist and dist[a] + c < new.get(b, math.inf):
                new[b] = dist[a] + c
        dist = new
    return dist


def _rhu(x, digits):
    scale = float(10**digits)
    return math.floor(x * scale + 0.5) / scale


_graphs = st.integers(1, 7).flatmap(
    lambda n: st.tuples(
        st.lists(st.tuples(st.integers(0, n - 1), st.integers(0, n - 1), st.integers(1, 4)), max_size=12),
        # seeds may be isolated (no edge) or absent from the node set
        st.lists(st.integers(0, n + 1), min_size=0, max_size=3, unique=True),
        st.integers(0, 4),
        st.integers(1, 3),
    )
)


# Every example runs six Spark loops: a few examples, a fixed seed, and
# no shrinking (each shrink step would rerun them all).
@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    phases=(Phase.explicit, Phase.generate),
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_graphs)
def test_convergence_loops_match_python_references(spark, graph):
    wedges, seeds, hops, k = graph
    edges = [(a, b) for a, b, _ in wedges]
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "node long")

    got = {r["node"]: r["dist"] for r in ga.bfs_distances(e, s, max_hops=hops).collect()}
    assert got == _py_bfs(edges, seeds, hops)

    per_seed = {x: _py_bfs(edges, [x], hops) for x in seeds}
    got = {
        r["seed"]: (r["n_reached"], r["sum_dist"], r["closeness"])
        for r in ga.closeness_sampled(e, s, max_hops=hops).collect()
    }
    want = {}
    for x, d in per_seed.items():
        total = sum(d.values())
        want[x] = (len(d) - 1, total, _rhu((len(d) - 1) / total, 6) if total > 0 else 0.0)
    assert got == want

    hist = defaultdict(int)
    for d in per_seed.values():
        for v in d.values():
            if v > 0:
                hist[v] += 1
    got = {
        r["dist"]: (r["n_pairs"], r["cum_share"], r["eff_diameter"])
        for r in ga.effective_diameter_sampled(e, s, max_hops=hops).collect()
    }
    want, cum, total = {}, 0, sum(hist.values())
    eff = min((h for h in sorted(hist) if sum(hist[j] for j in hist if j <= h) * 10 >= 9 * total), default=None)
    for h in sorted(hist):
        cum += hist[h]
        want[h] = (hist[h], _rhu(cum / total, 6), eff)
    assert got == want

    got = {r["node"]: r["component"] for r in ga.connected_components(e).collect()}
    assert got == _py_components(edges)

    drops: list = []
    got = {r["node"]: r["core_degree"] for r in ga.k_core(e, k=k, round_stats=drops).collect()}
    assert got == _py_k_core(edges, k)
    # one drop count per peel round, ending at the fixpoint's 0
    assert drops[-1] == 0
    assert sum(drops) == len(_adj((a, b) for a, b in edges if a != b)) - len(got)

    we = spark.createDataFrame(
        [(a, b, float(c)) for a, b, c in wedges], "src long, dst long, weight double"
    )
    rounds = max(hops, 1)
    got = {r["node"]: r["dist"] for r in ga.shortest_paths(we, s, rounds=rounds).collect()}
    assert got == _py_shortest(wedges, seeds, rounds)
