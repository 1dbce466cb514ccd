"""Round plans of the iterative graph kernels (``operators/graph.py``).

- ``bfs_hops`` equals a Python BFS on seeded random graphs with an
  isolated source, self-loops and duplicate edges.
- Each round reads the previous state once, so the jobs a warm
  ``bfs_hops`` / ``bellman_ford`` launches grow linearly in the round
  count (a state read twice per round nests 2^k copies of the seed
  plan by round k).
- ``triangle_counts``, ``bfs_hops`` and ``bellman_ford`` leave no
  persisted RDD and no checkpoint behind once the registry is cleared.
"""

from __future__ import annotations

import random
from collections import deque

import pytest

from product_analytics_spark import cache
from product_analytics_spark.operators import graph


def _random_graph(seed: int, n: int = 40, m: int = 70):
    """Undirected edges over vertices 0..n-1 plus a few self-loops and
    duplicates (both orientations); vertex ``n`` has no edge at all."""
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges += [(v, v) for v in rng.sample(range(n), 3)]
    edges += [edges[i] for i in rng.sample(range(m), 5)]
    edges += [(b, a) for a, b in rng.sample(edges[:m], 5)]
    return edges, n


def _python_bfs(edges, sources, max_hops):
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    hops = {s: 0 for s in sources}
    frontier = deque(sources)
    while frontier:
        v = frontier.popleft()
        if hops[v] == max_hops:
            continue
        for u in adj.get(v, ()):
            if u not in hops:
                hops[u] = hops[v] + 1
                frontier.append(u)
    return hops


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("max_hops", [1, 3, 6])
def test_bfs_hops_matches_python_bfs(spark, seed, max_hops):
    edges, isolated = _random_graph(seed)
    sources = [edges[0][0], isolated]
    e = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(s,) for s in sources], "id long")
    try:
        got = {r.id: r.hops for r in graph.bfs_hops(e, src, max_hops=max_hops).collect()}
    finally:
        cache.clear_all()
    assert got == _python_bfs(edges, sources, max_hops)
    assert got[isolated] == 0


def _warm_jobs(spark, run, group: str) -> int:
    """Jobs launched by ``run()`` after one warm-up call, counted
    through a statusTracker job group."""
    sc = spark.sparkContext
    try:
        run().collect()
        cache.clear_all()
        sc.setJobGroup(group, group)
        try:
            run().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    finally:
        cache.clear_all()
    return len(list(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.mark.parametrize("kernel", ["bfs_hops", "bellman_ford"])
def test_jobs_grow_linearly_in_rounds(spark, kernel):
    edges, _ = _random_graph(7, n=60, m=200)
    e = spark.createDataFrame(
        [(a, b, (a + b) % 7 + 1) for a, b in edges], "src long, dst long, w long"
    )
    src = spark.createDataFrame([(edges[0][0],)], "id long")
    if kernel == "bfs_hops":
        def run(k):
            return graph.bfs_hops(e, src, max_hops=k)
    else:
        def run(k):
            return graph.bellman_ford(e, src, rounds=k)
    jobs = {k: _warm_jobs(spark, lambda k=k: run(k), f"{kernel}-rounds-{k}") for k in (3, 6)}
    # Jobs linear in k (a fixed build cost plus a per-round cost) at
    # most double when k doubles; a state read twice per round roughly
    # doubles them with every round (25 → 100 jobs for k = 3 → 6 here).
    assert jobs[6] <= 2 * jobs[3], jobs


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize("kernel", ["triangle_counts", "bfs_hops", "bellman_ford"])
def test_kernels_leave_nothing_persisted(spark, kernel):
    edges, _ = _random_graph(5)
    e = spark.createDataFrame(
        [(a, b, (a * b) % 5 + 1) for a, b in edges], "src long, dst long, w long"
    )
    src = spark.createDataFrame([(edges[0][0],)], "id long")
    run = {
        "triangle_counts": lambda: graph.triangle_counts(e),
        "bfs_hops": lambda: graph.bfs_hops(e, src, max_hops=6),
        "bellman_ford": lambda: graph.bellman_ford(e, src, rounds=6),
    }[kernel]
    cache.clear_all()
    before = _persistent_ids(spark)
    out = run()
    # only the returned (registered) checkpoint outlives the call
    assert len(_persistent_ids(spark) - before) == 1
    out.collect()
    cache.clear_all()
    left = _persistent_ids(spark) - before
    assert not left, f"RDDs still persisted after clear_all: {sorted(left)}"
