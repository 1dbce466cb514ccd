"""Connected components over near-duplicate pair graphs.

Pairwise near-dup detection (``operators.text``/``similarity``) yields
EDGES; a training-data pipeline needs CLUSTERS — each group of mutual
near-dups collapses to one canonical document. Pairs → clusters is
connected components: every vertex gets the minimum doc id reachable
through any chain of near-dup pairs.

Spark mapping — iterative min-label propagation on the DataFrame API:

    labels(v) = v
    repeat:  labels(v) = min(labels(v), min over neighbors u of labels(u))
    until no label changed

Each iteration is one self-join + hash-agg (two shuffles on the same
8-byte key). Convergence needs O(diameter) iterations; near-dup
graphs are overwhelmingly tiny star/clique clusters (diameter ≤ ~3),
so 5-10 rounds close virtually all components and the loop exits
early on a converged count. ``localCheckpoint`` truncates the lineage
each round so the plan does not grow exponentially.

Scale notes (100 TB corpus → billions of edges):
- state per round is the (vertex, label) relation — 16 bytes/vertex,
  shuffled on vertex id; edges are re-used each round, so each
  kernel builds its edge relation once (one eager checkpoint) before
  the rounds read it;
- the classic worst case (one long chain) needs O(n) rounds of THIS
  algorithm; the published fix is large-star/small-star (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) which
  converges in O(log n) rounds — the hook ``max_iterations`` bounds
  runaway chains and the function raises if not converged, which in a
  dedup pipeline signals a pathological (and investigable) graph;
- the convergence check is a ``first()`` on a 1-row aggregate, not a
  collect of the labels.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from product_analytics_spark import cache


def _checkpoint_over(prev: DataFrame | None, df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df``, then release ``prev``, the
    checkpoint it supersedes: once the new one is materialized nothing
    reads the old one, which would otherwise stay persisted until the
    JVM collector happens to run Spark's context cleaner."""
    out = df.localCheckpoint(eager=True)
    if prev is not None:
        cache.release_checkpoint(prev)
    return out


@contextmanager
def _built(df: DataFrame):
    """``df`` materialized by one eager ``localCheckpoint`` job, for a
    relation that one query scans several times, released on exit.
    A lazily persisted relation becomes one table-cache stage job per
    scan under AQE, and those jobs all wait on the same blocks while
    holding executor slots."""
    out = df.localCheckpoint(eager=True)
    try:
        yield out
    finally:
        cache.release_checkpoint(out)


def _both_ways(edges: DataFrame, src_col: str, dst_col: str, a: str, b: str) -> DataFrame:
    """Each edge in both orientations, as columns ``a``, ``b``, from one
    scan of ``edges`` (a union of two projections scans it twice)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src_col).alias(a), F.col(dst_col).alias(b)),
                F.struct(F.col(dst_col).alias(a), F.col(src_col).alias(b)),
            )
        ).alias("_e")
    ).select("_e.*")


def _min_fold(e: DataFrame, state: DataFrame, rounds: int, col: str, step: Column) -> DataFrame:
    """``rounds`` relaxation rounds of ``state`` (id, ``col``) over the
    edges ``e`` (s, d, ...): each round reads the previous state once.
    The state is left-joined onto the edges, each joined row explodes
    into itself and its relaxed neighbour (d, ``col`` + ``step``), null
    ids (no out-edge) drop, and a min() agg folds each vertex. A vertex
    without out-edges, an isolated source included, keeps its row
    through the left join. Reading the state twice per round (once in
    the join, once in a union) would nest 2^k copies of the seed plan
    by round k. A checkpoint every 5 rounds truncates the lineage; the
    result is an eager checkpoint registered with the cache."""
    ckpt = None
    for i in range(rounds):
        state = (
            state.join(e, F.col("id") == F.col("s"), "left")
            .select(
                F.explode(
                    F.array(
                        F.struct("id", col),
                        F.struct(F.col("d").alias("id"), (F.col(col) + step).alias(col)),
                    )
                ).alias("_r")
            )
            .select("_r.*")
            .where(F.col("id").isNotNull())
            .groupBy("id")
            .agg(F.min(col).alias(col))
        )
        if (i + 1) % 5 == 0:
            state = ckpt = _checkpoint_over(ckpt, state)
    return cache.register_checkpoint(_checkpoint_over(ckpt, state))


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 15,
) -> DataFrame:
    """Resolve undirected edges to components: (id, component) where
    component is the minimum vertex id reachable from ``id``.

    Only vertices appearing in ``edges`` are returned (isolated
    documents are their own cluster by definition — callers left-join
    and coalesce to the doc's own id).

    The edges are symmetrized from one scan of ``edges`` and built
    once (``_built``) before the rounds: the initial labels and every
    round's join read them, and they are released on return, when the
    labels no longer need them.
    """
    # Symmetrize once; each round then needs only one join direction.
    sym = _both_ways(edges, src_col, dst_col, "src", "dst").distinct()
    with _built(sym) as e:
        # Fused initialization: label(v) = min(v, min neighbor) — the
        # identity init plus the first propagation round in ONE hash-agg
        # (the symmetrized edge set lists every vertex as src, so this
        # covers all vertices). Saves a full join+agg+checkpoint round;
        # star/clique clusters (the overwhelming near-dup shape) are
        # already converged after it.
        # Round-13 (guide §1.2): the per-round checkpoint is LAZY and
        # the convergence probe right after is its materializing
        # action — the full-relation aggregate computes (and caches)
        # every checkpoint partition, so pin + probe cost ONE job per
        # round instead of the old eager-checkpoint-then-agg two; the
        # next round's join reads the same materialized labels, and
        # the superseded round's checkpoint is released right after.
        labels = (
            e.groupBy("src")
            .agg(F.min("dst").alias("_mdst"))
            .select(
                F.col("src").alias("id"),
                F.least(F.col("src"), F.col("_mdst")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )

        def label_sum(df: DataFrame) -> int:
            # Labels only ever decrease, so the sum strictly decreases
            # until the fixpoint — an O(1)-result convergence probe
            # (one aggregate, no join against the previous labels).
            # decimal(38,0) so billions of 8-byte ids cannot overflow.
            return df.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).first()[0]

        prev = label_sum(labels)
        for _ in range(max_iterations):
            # Candidate labels flowing along edges this round.
            prop = (
                e.join(labels, e.src == labels.id)
                .select(F.col("dst").alias("id"), F.col("component"))
                .union(labels)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
            nxt = prop.localCheckpoint(eager=False)
            cur = label_sum(nxt)
            cache.release_checkpoint(labels)
            labels = nxt
            if cur == prev:
                return cache.register_checkpoint(labels)
            prev = cur
        cache.release_checkpoint(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds — "
            "pathological chain graph; switch to large-star/small-star"
        )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Canonicalize a corpus against near-dup pairs: every document
    gets a ``cluster_id`` (min doc id of its component; its own id if
    un-paired) and ``is_canonical`` (true for the cluster minimum —
    the one copy a dedup pipeline keeps).

    The components relation is |paired docs| rows — tiny next to the
    corpus — so the final join broadcasts at any scale.
    """
    comp = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    return (
        docs.join(
            F.broadcast(comp.withColumnRenamed("id", id_col)), id_col, "left"
        )
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
        .withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))
    )


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-vertex triangle counts via DEGREE-ORDERED edge orientation
    (the MapReduce-era standard: Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11).

    Input: undirected edges, one row per edge (either orientation,
    duplicates tolerated — symmetrized+distinct internally). Output:
    (id, n_triangles) for every vertex in >= 1 triangle.

    Why orientation matters at scale: enumerating wedges from raw
    adjacency costs Σ deg(v)² — a single celebrity vertex with 10^7
    neighbors yields 10^14 wedges. Orienting every edge from its
    lower-(degree, id) endpoint to its higher one bounds out-degree by
    O(√m), so wedge count is O(m^1.5) TOTAL and no reducer sees a
    skewed neighborhood. Each triangle then has exactly ONE vertex
    with out-edges to the other two, so it is enumerated exactly once.

    Plan: degree hash-agg → two broadcast-or-hash joins (orientation
    keys), wedge self-join on the 8-byte src key, semi-join-shaped
    closure check against the oriented edge set, one final count agg.
    All keys are vertex ids — AQE skew handling covers residual heavy
    keys.
    """
    und_q = (
        _both_ways(edges, src_col, dst_col, "a", "b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # und feeds the degree agg and both orientation joins, and the
    # oriented edges feed both wedge sides and the closure check: each
    # is built once (``_built``) so the query reading it does not run
    # the caller's edge derivation, or a table-cache job, per scan.
    with _built(und_q) as und:
        # Total-order key: deg*2^32 + id — one long compare orients edges
        # deterministically (degree asc, id asc tie-break).
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        keyed = und.join(deg, "a").select(
            "a",
            "b",
            (F.col("deg") * F.lit(1 << 32) + F.col("a")).alias("ka"),
        )
        degb = deg.select(F.col("a").alias("b"), (F.col("deg") * F.lit(1 << 32) + F.col("a")).alias("kb"))
        oriented = (
            keyed.join(degb, "b")
            .filter(F.col("ka") < F.col("kb"))
            .select(F.col("a").alias("src"), F.col("b").alias("dst"), F.col("kb").alias("kdst"))
        )
        with _built(oriented) as e:
            e1 = e.select(F.col("src"), F.col("dst").alias("v"), F.col("kdst").alias("kv"))
            e2 = e.select(F.col("src"), F.col("dst").alias("w"), F.col("kdst").alias("kw"))
            wedges = e1.join(e2, "src").filter(F.col("kv") < F.col("kw"))
            closure = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
            tri = wedges.join(closure, ["v", "w"]).select("src", "v", "w")
            per_vertex = (
                tri.select(F.col("src").alias("id"))
                .union(tri.select(F.col("v").alias("id")))
                .union(tri.select(F.col("w").alias("id")))
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("n_triangles"))
            )
            # Materialize before release: callers get a plain DataFrame.
            return cache.checkpoint(per_vertex)


def bfs_hops(
    edges: DataFrame,
    source_ids: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Minimum hop distance from a seed set over undirected edges,
    bounded at ``max_hops`` — frontier-expansion BFS as k rounds of
    (state ⟕ edges → min-hop agg), see ``_min_fold``.

    State per round is the (vertex, hops) relation — 12 bytes/vertex,
    the same scale posture as connected_components. The join is keyed
    on vertex id; reached vertices are folded with a min() agg so
    re-discovery never raises a hop count. There is no per-round
    convergence probe (the hop bound is fixed), so the rounds between
    checkpoints run as one query: each round adds its shuffle stages
    to it, and the symmetrized edge set is built once beforehand.
    Returns (id, hops) with hops in [0, max_hops].
    """
    sym = _both_ways(edges, src_col, dst_col, "s", "d").distinct()
    with _built(sym) as e:
        reached = source_ids.select(F.col(id_col).alias("id"), F.lit(0).alias("hops"))
        return _min_fold(e, reached, max_hops, "hops", F.lit(1))


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """Weighted PageRank by fixed-point power iteration, in INTEGER
    arithmetic so the result is bit-identical on any cluster (and in
    any SQL engine): ranks live as BIGINT ``scale``-ths, per-edge
    contributions use floor division ``(rank * w) div W_src`` and the
    damping mix is ``(15*scale) div (100*N) + (85*incoming) div 100``
    — floats never enter, so partition/merge order cannot perturb a
    single bit. (Float PageRank sums contributions in shuffle arrival
    order — non-deterministic in the low bits across runs.)

    Each iteration = one join of the rank relation onto the edge
    relation (broadcast when |nodes| is dim-sized, hash otherwise) +
    one hash-agg shuffle keyed on dst — the textbook Pregel step as
    two Catalyst ops. The edge and node relations are read every
    round, so each is built once by an eager checkpoint. Dangling
    mass is NOT redistributed (documented deviation; deterministic
    either way).

    100 TB notes: state is 16 bytes/node; the edge join key should be
    the pre-partitioned src column so iterations reuse one exchange;
    ``localCheckpoint`` every ~5 rounds truncates lineage growth.
    """
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("_src"),
        F.col(dst_col).alias("_dst"),
        w.cast("long").alias("_w"),
    )
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_wsum"))
    # Every iteration's plan scans the edge and node relations again:
    # uncached, a k-iteration run recomputes the edge derivation ~2k
    # times; lazily persisted, each scan of a not-yet-built relation
    # is its own table-cache job. One eager checkpoint each, released
    # by the cache registry.
    e = cache.checkpoint(e.join(out_w, "_src"))

    nodes = cache.checkpoint(
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()  # driver scalar: |node types|, not |rows|
    base = (100 - damping_pct) * scale
    ranks = nodes.select("node", F.lit(scale // n_nodes).cast("long").alias("rank_scaled"))

    for _ in range(iterations):
        contrib = (
            e.join(ranks, e["_src"] == ranks["node"])
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank_scaled * _w div _wsum").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base // (100 * n_nodes)).cast("long")
                    + F.expr(f"{damping_pct} * coalesce(_in, 0L) div 100")
                ).alias("rank_scaled"),
            )
        )
    return ranks.select(
        "node",
        "rank_scaled",
        (F.col("rank_scaled") / F.lit(float(scale))).alias("rank"),
    )


def bellman_ford(
    edges: DataFrame,
    source_ids: DataFrame,
    rounds: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    id_col: str = "id",
) -> DataFrame:
    """Bounded single-source shortest path over WEIGHTED directed
    edges — Bellman-Ford as ``rounds`` relaxation passes: each round
    joins the current distance relation to the edge list and folds
    with a min() agg (the min-plus semiring analog of bfs_hops, which
    this generalizes: BFS is the all-weights-1 special case).

    After k rounds the relation holds the exact shortest distance for
    every path of at most k edges — the standard bounded-horizon
    guarantee; negative weights are handled (no early exit on
    convergence), cycles cannot loop because the horizon is fixed.

    Scale: state is (vertex, dist) — 16 bytes/vertex; each round is
    one left join onto the edge list and one min() agg keyed on vertex
    id (``_min_fold``), and the rounds between checkpoints run as one
    query (no convergence probe) over an edge list built once
    beforehand. Distances must be integral for bit-exact results on
    any partitioning (min of integers is order-free; float path sums
    would not be).
    """
    weighted = (
        edges.select(
            F.col(src_col).alias("s"),
            F.col(dst_col).alias("d"),
            F.col(weight_col).cast("bigint").alias("w"),
        )
        .distinct()
    )
    with _built(weighted) as e:
        dist = source_ids.select(
            F.col(id_col).alias("id"), F.lit(0).cast("bigint").alias("dist")
        )
        return _min_fold(e, dist, rounds, "dist", F.col("w"))
