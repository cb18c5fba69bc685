"""Distributed connected components (alternating large-star / small-star).

The dedup-clustering step of an LLM data pipeline: near-dup *pairs* (from
MinHash/LSH, n-gram Jaccard, SimHash, or cosine threshold — operators/
dedup.py, similarity.py) must be closed into *clusters* so one canonical
document per cluster survives. That closure is connected components over the
pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — converges in O(log n) rounds
independent of graph diameter, each round a groupBy + join, i.e. exactly the
shuffle-shaped work Spark schedules well at 100 TB. The naive alternative
(min-label propagation) needs O(diameter) rounds, which is unbounded on
chain-shaped duplicate clusters (doc A ≈ B ≈ C ≈ ... happens constantly in
crawl data); large-star collapses such chains exponentially fast.

Each round the edge list is localCheckpoint()ed: iterative DataFrame loops
otherwise accrete a lineage tree whose re-evaluation is exponential and whose
plan compile time alone would dominate. Checkpointing materializes the edge
set (small: ≤ |V| after the first rounds) and truncates lineage — the
standard Spark idiom for iterative graph algorithms (GraphX/Pregel does the
same internally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import bounded_collect, local_frame

#: Canonical-edge count under which the component closure finishes on the
#: driver instead of running distributed star rounds. A bounded local finish
#: is the standard last mile of MapReduce CC (Kiveris et al. §6 run the tail
#: of the contraction on one machine once the graph fits): each distributed
#: round here costs ~15 Spark jobs (star shuffles + checkpoint + convergence
#: probes) regardless of size, which is pure scheduler overhead on a graph of
#: a few hundred edges, while 200k canonical edges are a few MB on the driver
#: and union-find closes them in O(E α(E)) — well under the cost of ONE
#: distributed round. The bound is a constant independent of corpus size, so
#: driver memory stays bounded at 100 TB: bigger graphs take the distributed
#: path (and contract toward the bound every round, so huge graphs still
#: finish locally once they've shrunk).
LOCAL_CC_MAX_EDGES = 200_000


def _local_components(pairs) -> list:
    """Union-find closure of an iterable of (a, b) pairs → [(node, min-of-
    component)] for every vertex present. Driver-side; callers bound size."""
    parent: dict = {}
    sz: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                sz[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:  # union by size
            if sz[ra] < sz[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            sz[ra] += sz[rb]

    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    return [(v, comp_min[find(v)]) for v in parent]


def _star_round(nbrs: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star round over a bidirectional edge list.

    ``nbrs`` holds (u, v) with both directions present.  With
    m(u) = min(N(u) ∪ {u}):

      large-star: connect every *strictly larger* neighbor of u to m(u);
      small-star: connect every *not-larger* neighbor of u, and u itself,
                  to the min over just those.

    Both emit (x, m) pairs with x > m — the edge list stays canonicalized as
    (hi, lo) which keeps round-over-round comparison cheap.
    """
    if large:
        m = (
            nbrs.select("u", "v")
            .union(nbrs.select("u", F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("m"))
        )
        out = (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
    else:
        small = nbrs.where(F.col("v") <= F.col("u")).select("u", "v")
        small = small.union(small.select("u", F.col("u").alias("v")).distinct())
        m = small.groupBy("u").agg(F.min("v").alias("m"))
        out = small.join(m, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    return out.where(F.col("a") != F.col("b")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """Label every vertex of an undirected edge list with its component min.

    Returns (node, component) for every vertex that appears in ``edges``;
    ``component`` is the smallest vertex id reachable from ``node`` (the
    usual canonical-document convention: min doc_id survives). Vertices with
    no edges simply don't appear — callers left-join and coalesce to
    themselves (a singleton IS its own canonical doc).

    ``max_rounds`` bounds the large+small-star alternation; convergence takes
    O(log n) rounds so 25 covers any graph that fits on hardware that exists.
    A non-converged exit raises rather than returning a wrong labeling.

    Hybrid finish (round 8): at every round boundary the canonical edge set
    is already materialized (checkpointed), so its count is one cheap probe;
    once it is ≤ ``LOCAL_CC_MAX_EDGES`` (read at call time) the closure
    finishes with driver-side union-find instead of paying ~15 scheduler
    jobs per star round — the Kiveris-et-al. single-machine tail. Star
    rounds only ever shrink the edge set (contraction), so the local finish
    triggers for every graph eventually; vertices are never dropped by a
    star round and contraction preserves connectivity, so the min-label
    closure of the current edge set equals that of the original. The
    property tests patch the bound to 0 to force the pure distributed path
    and pin both paths against python union-find.
    """
    from pyspark.sql.types import StructField, StructType

    # Canonicalize to (a=hi, b=lo), dedup, drop self-loops.
    e = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("a"),
        F.least(F.col(src), F.col(dst)).alias("b"),
    ).where(F.col("a") != F.col("b")).distinct()

    e = e.localCheckpoint(eager=True)
    dt = e.schema["a"].dataType
    label_schema = StructType(
        [StructField("node", dt, False), StructField("component", dt, False)]
    )
    for _ in range(max_rounds):
        # Size probe and collect in one action (io.bounded_collect); above
        # the bound it ships threshold+1 edge rows (~3 MB Arrow at the default).
        pdf = bounded_collect(e, LOCAL_CC_MAX_EDGES)
        if pdf is not None:
            labels = _local_components(
                zip(pdf["a"].tolist(), pdf["b"].tolist())
            )
            # ≤ 2 × LOCAL_CC_MAX_EDGES label rows (≈6 MB at the default bound,
            # under Arrow's 48 MB localRelationThreshold) go back as a
            # LocalTableScan. The pickled createDataFrame path ran
            # defaultParallelism Python worker tasks, ≈0.2 s of CPU each,
            # on every execution of the caller's query (PERF.md §76).
            return local_frame(e.sparkSession, labels, label_schema)
        nbrs = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        after_large = _star_round(nbrs, large=True)
        nbrs2 = after_large.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(after_large.select(F.col("b").alias("u"), F.col("a").alias("v")))
        after_small = _star_round(nbrs2, large=False).localCheckpoint(eager=True)

        # Converged when the canonical edge set is unchanged: every edge is
        # then (node, component-min) — a star forest.
        if (
            after_small.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(after_small).limit(1).count() == 0
        ):
            stars = after_small
            break
        e = after_small
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_rounds} rounds")

    roots = stars.select(F.col("b").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    members = stars.select(F.col("a").alias("node"), F.col("b").alias("component"))
    return members.union(roots).distinct()


def attach_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label every row of ``nodes`` with its component (itself if isolated)."""
    cc = connected_components(edges, src=src, dst=dst)
    joined = nodes.join(cc, nodes[id_col] == cc["node"], "left")
    return joined.select(
        *[nodes[c] for c in nodes.columns],
        F.coalesce(cc["component"], nodes[id_col]).alias("component"),
    )


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → (node, rank).

    Each iteration is the classic two-shuffle shape: contributions fan out
    along edges (join ranks to edges on src, divide by out-degree), then
    fan in (groupBy dst, sum), then the teleport term. Ranks are
    localCheckpoint()ed per round — same lineage-truncation idiom as
    :func:`connected_components`; without it the plan doubles per iteration.

    Deterministic for a fixed iteration count (float sum order varies, but
    that's sub-ulp — callers round for comparison). Dangling nodes (out-
    degree 0) leak their mass, matching the simple textbook recurrence; a
    co-activity graph (symmetric edges) has none. The node set is every id
    appearing as a source or target; isolated nodes don't participate.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # empty graph: no nodes, no ranks (not a 0-division)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).cast("double").alias("deg"))
    fan = (
        edges.join(out_deg, src)
        .select(F.col(src).alias("u"), F.col(dst).alias("v"), "deg")
        .localCheckpoint()
    )
    teleport = (1.0 - damping) / n
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("rank"))
    for _ in range(iterations):
        contribs = (
            fan.join(ranks, fan.u == ranks.node)
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def bfs_levels(
    edges: DataFrame,
    source,
    *,
    max_depth: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Frontier-expansion BFS: (node, dist) for every vertex within
    ``max_depth`` hops of ``source`` along directed edges.

    Each round joins the CURRENT FRONTIER (not the whole visited set)
    against edges on src, anti-joins the visited set, and
    localCheckpoint()s so the plan stays O(1) deep; rounds = min(graph
    eccentricity, max_depth), shuffle volume per round = frontier fan-out.
    The textbook distributed BFS — the driver loop only orchestrates,
    no per-node data collects.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    spark = edges.sparkSession
    root = local_frame(spark, [(int(source), 0)], "node long, dist int")
    visited = root.localCheckpoint(eager=True)
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited
