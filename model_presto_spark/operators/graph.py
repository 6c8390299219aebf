"""Connected components over duplicate-pair edges: transitive dedup
clustering.

``keep_representatives`` (operators/dedup.py) applies the cheap
pairwise min-id rule; full dedup at corpus scale needs *transitive*
clusters (a~b, b~c => {a,b,c} share one representative). This is the
min-label-propagation algorithm accelerated with pointer jumping
(path doubling, as in Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): each round lowers every node's
component label to the min over itself, its neighbors' labels, AND
its label's label (``comp(n) <- comp(comp(n))``). The jump step
halves the remaining label-chain depth each round, so convergence is
O(log diameter) — a 1M-node path graph converges in ~20 rounds where
plain neighbor propagation would need 1M.

Spark-first: edges and labels are plain DataFrames; each iteration
is a join + groupBy (no vertex-centric framework needed). Labels only
decrease, so the round's groupBy also keeps each node's previous
label and the round's one action counts the labels that went down;
the driver loop reads that one scalar, never the data, and stops at
zero (the same test for every id type). Iterations localCheckpoint
to truncate lineage, the standard guard against plan blowup in
iterative Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Pointer squarings per connected_components round: each one is one
# more self-join of the materialized label table and, from 2 on, at
# least quarters the remaining chain depth per round. 2 is the sweet
# spot when round scheduling overhead dominates (small/medium graphs).
_JUMP_SQUARINGS = 2


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(src, dst) edge list -> (id, component) with component = min
    node id reachable. Nodes appearing only as isolated edges map to
    their own pair-minimum; nodes absent from ``pairs`` are absent
    from the output (callers left-join and coalesce to self). Raises
    RuntimeError when round ``max_iter`` still lowers a label, rather
    than return unconverged labels.
    """
    # Materialize the directed edge list BEFORE symmetrizing: the
    # union below references ``edges`` twice, and Spark has no
    # cross-branch CSE — an un-materialized edge plan would run the
    # full upstream pair-generation lineage (e.g. the MinHash
    # pipeline) twice inside the next checkpoint, and again on every
    # later reference (the sf1.0 stress bench measured 121s -> 3s for
    # the CC stage from this pair of checkpoints).
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=True)
    )
    # undirected: keep both directions for neighborhood scans.
    # (single distinct AFTER the symmetric union covers both the
    # duplicate-input and both-directions-present cases in one shuffle)
    # lazy checkpoint: the first action touching ``sym`` (the initial
    # label aggregation below) materializes it; eager would spend a
    # whole extra job. (``edges`` above must stay eager: it is
    # referenced twice inside sym's one materialization job, and a
    # lazy checkpoint only deduplicates compute across jobs, not
    # within one.)
    sym = (
        edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    # label(n) starts as min(n, min neighbor). The table is
    # checkpointed EAGERLY because every round references it ~5x
    # (propagation sides, union, jump self-joins) within one job, and
    # a lazy checkpoint only deduplicates compute across jobs, not
    # within one; materializing it also materializes the lazy ``sym``
    # checkpoint above.
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("id"), F.least(F.col("u"), F.col("mv")).alias("comp")
        )
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # propagate: every node's component <- min over its neighbors'
        # components (self label re-enters via the union below, so one
        # join + one groupBy — not two joins — per round; sym is
        # symmetric, so grouping by the v side sees every neighbor)
        lab_u = labels.select(F.col("id").alias("u"), F.col("comp").alias("cu"))
        prop = (
            sym.join(lab_u, "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("cu").alias("comp"))
        )
        # pointer jump with in-plan path doubling: comp <- comp(comp),
        # squared _JUMP_SQUARINGS times in ONE plan. Labels always
        # point at a node present in ``labels`` (min-so-far node ids),
        # so every inner join is total. Each squaring self-joins the
        # previous jump plan, so one round follows 2^k pointer hops —
        # the label table is localCheckpoint-materialized, so the
        # 2^k-way join re-reads cached rows, not lineage.
        jump = labels
        for _ in range(_JUMP_SQUARINGS):
            jump = jump.join(
                jump.select(
                    F.col("id").alias("comp"), F.col("comp").alias("comp2")
                ),
                "comp",
            ).select("id", F.col("comp2").alias("comp"))
        # convergence test, any id type: labels only ever DECREASE, so
        # the union tags each node's current label as ``old`` (null on
        # the prop/jump sides, which min ignores) and the round's one
        # materializing action counts the labels that went down (a
        # separate probe would be one more action per round); the
        # count reads the checkpointed partitions, so the next round's
        # joins re-read cached rows, not lineage. Round 1 compares against the
        # initial labels, so a graph whose initial labels are already
        # the fixpoint (star edge lists: q55-style blocking keys emit
        # hub->member stars) stops after one round.
        new_labels = (
            labels.select("id", "comp", F.col("comp").alias("old"))
            .unionByName(prop, allowMissingColumns=True)
            .unionByName(jump, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("old").alias("old"))
            .localCheckpoint(eager=False)  # truncate iterative lineage
        )
        labels = new_labels.select("id", "comp")
        lowered = new_labels.agg(
            F.count_if(F.col("comp") < F.col("old"))
        ).collect()[0][0]
        if lowered == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changed in round "
            f"max_iter={max_iter}; raise max_iter"
        )
    return labels


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Attach a ``cluster`` column: transitive-closure representative
    (min id in the duplicate cluster; singletons are their own
    cluster). The full-strength version of
    dedup.keep_representatives."""
    comp = connected_components(pairs)
    return df.join(
        comp.withColumnRenamed("id", id_col), id_col, "left"
    ).withColumn("cluster", F.coalesce(F.col("comp"), F.col(id_col))).drop("comp")


def keep_cluster_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep exactly one row (the min-id) per transitive dup cluster."""
    clustered = dedup_clusters(df, pairs, id_col)
    return clustered.filter(F.col(id_col) == F.col("cluster")).drop("cluster")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank by distributed power iteration.

    Per round: one edges-by-src join + one groupBy(dst) — the same
    join+aggregate shape as connected components, so it scales the
    same way (both sides hash-partitioned on the join key, map-side
    combined). Dangling mass (rank sitting on nodes with no
    out-edges) is redistributed uniformly each round; it is computed
    as a one-row aggregate crossJoined back into the plan — never a
    driver-side collect. ``localCheckpoint`` per round truncates the
    lineage exactly like the CC loop.

    Fixed ``n_iter`` (no convergence probe) keeps the computation
    restatable as plain SQL for the oracle. Returns (node, rank).
    """
    # Eager checkpoints on the loop-invariant relations (nodes, deg,
    # e): each is referenced every round, and a lazy checkpoint only
    # deduplicates across jobs, not within one — same discipline as
    # connected_components above.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.groupBy(F.col(src).alias("node"))
        .agg(F.count("*").alias("out_deg"))
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # O(1) scalar, computed once
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))  # empty, typed
    d = damping
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    e = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    for _ in range(n_iter):
        with_deg = ranks.join(deg, "node", "left")
        contrib = (
            with_deg.join(e, "node")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        dang = with_deg.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit((1.0 - d) / n_nodes)
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dang") / n_nodes
                    )
                ).alias("rank"),
            )
            # eager: next round reads ranks through two branches
            # (contributions + dangling mass); see the CC note on
            # lazy checkpoints not deduplicating within a job
            .localCheckpoint(eager=True)
        )
    return ranks


def _simple_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The simple undirected graph of ``edges``: each edge once as
    (a, b) with a < b, self-loops dropped."""
    return (
        edges.selectExpr(
            f"least(`{src}`, `{dst}`) AS a", f"greatest(`{src}`, `{dst}`) AS b"
        )
        .where("a != b")
        .distinct()
    )


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_out_deg: int | None = None,
) -> DataFrame:
    """Exact triangle count + global clustering coefficient for the
    undirected graph (self-loops dropped, edges deduplicated).

    Node-iterator with DEGREE ORDERING: every edge is directed from
    its (degree, id)-smaller endpoint, so each node's out-degree is
    O(sqrt(m)) on skewed graphs and the wedge self-join never
    explodes on hubs — the standard distributed-triangle trick.
    Wedges close against the directed edge list via one equi-join;
    every triangle is produced exactly once.

    ``max_out_deg`` is the hot-key guard for graphs whose degree
    ordering is defeated by near-uniform hub cliques: the directed
    out-adjacency of any node is SAMPLED down to ``max_out_deg``
    rows (deterministic, see ``skew.cap_key_multiplicity``) before
    the wedge self-join, bounding per-node pair cost at
    O(max_out_deg^2). With the cap above the true max out-degree the
    count stays exact; when it fires, the triangle count becomes a
    per-hub subsample (undercount ~ (cap/d)^2 on capped hubs) and
    the drop is logged. Default None = exact.

    One row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering = 3*triangles/wedges).
    """
    e = _simple_edges(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # total order key: degree-major, id-minor — a STRUCT compared
    # lexicographically (no packed-integer overflow for any id range)
    key = F.struct(F.col("deg"), F.col("node")).alias("k")
    kd = deg.select("node", key)
    withk = (
        e.join(kd.withColumnRenamed("node", "a").withColumnRenamed("k", "ka"), "a")
        .join(kd.withColumnRenamed("node", "b").withColumnRenamed("k", "kb"), "b")
    )
    d = withk.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("v"),
        F.least("ka", "kb").alias("ku"),
        F.greatest("ka", "kb").alias("kv"),
    ).localCheckpoint(eager=True)
    if max_out_deg is not None:
        from model_presto_spark.operators.skew import cap_key_multiplicity

        d = cap_key_multiplicity(
            d, "u", max_out_deg, mode="sample", log_label="triangle_stats.u"
        ).localCheckpoint(eager=True)
    d1 = d.select(F.col("u"), F.col("v").alias("v1"), F.col("kv").alias("kv1"))
    d2 = d.select(F.col("u"), F.col("v").alias("v2"), F.col("kv").alias("kv2"))
    wedges = d1.join(d2, "u").where(F.col("kv1") < F.col("kv2"))
    closing = d.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).agg(
        F.count("*").alias("n_triangles")
    )
    summary = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.expr("sum(deg * (deg - 1) div 2)").alias("n_wedges"),
        )
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri)
    )
    return summary.select(
        "n_nodes",
        "n_edges",
        F.col("n_wedges").cast("bigint").alias("n_wedges"),
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.when(
            F.col("n_wedges") > 0,
            3.0 * F.col("n_triangles") / F.col("n_wedges").cast("double"),
        ).otherwise(F.lit(0.0)).alias("global_clustering"),
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_neighbor_deg: int | None = None,
) -> DataFrame:
    """Link-prediction scores for non-adjacent node pairs:
    ``AA(u,v) = sum over common neighbors w of 1/ln(deg(w))``
    (plus common-neighbor counts).

    Wedge generation through the shared neighbor — the same
    inverted-index shape as n-gram dedup: each neighbor w emits the
    pairs of its adjacency list (u < v), weighted by 1/ln(deg(w));
    one groupBy sums the evidence, one anti-join removes pairs that
    are already edges. Hub neighbors dominate cost exactly like
    stop-grams — a neighbor of degree d emits O(d^2) wedge pairs —
    so ``max_neighbor_deg`` DROPS wedge generation through neighbors
    above that degree (the stop-gram cut; the 1/ln(deg) weight
    already discounts their signal to near-noise). With the cap
    above the true max degree the scores are exact; when it fires
    the drop is logged (see ``skew.cap_key_multiplicity`` drop
    semantics). Default None = exact.

    Output: (u, v, common_neighbors, aa_score) for pairs with at
    least ``min_common`` shared neighbors, excluding existing edges.
    """
    e = _simple_edges(edges, src, dst).localCheckpoint(eager=True)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("w"), F.col("b").alias("n"))
    deg = sym.groupBy("w").agg(F.count("*").alias("deg"))
    adj = sym.join(deg, "w")
    if max_neighbor_deg is not None:
        import logging

        n_hubs = deg.where(F.col("deg") > max_neighbor_deg).count()
        if n_hubs:
            logging.getLogger(__name__).info(
                "adamic_adar: dropping wedges through %d hub neighbor(s) "
                "with deg > %d",
                n_hubs,
                max_neighbor_deg,
            )
        adj = adj.where(F.col("deg") <= max_neighbor_deg)
    n1 = adj.select("w", F.col("n").alias("u"), "deg")
    n2 = adj.select("w", F.col("n").alias("v"))
    wedges = n1.join(n2, "w").where(F.col("u") < F.col("v"))
    scored = wedges.groupBy("u", "v").agg(
        F.count("*").alias("common_neighbors"),
        F.sum(
            F.when(F.col("deg") > 1, 1.0 / F.log(F.col("deg").cast("double")))
            .otherwise(F.lit(0.0))
        ).alias("aa_score"),
    ).where(F.col("common_neighbors") >= min_common)
    existing = e.select(F.col("a").alias("u"), F.col("b").alias("v"))
    return scored.join(existing, ["u", "v"], "left_anti")


def bfs_levels(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Unweighted single-source(-set) shortest paths, bounded hops.

    Level-synchronous BFS as join+groupBy rounds: each round relaxes
    every edge once (frontier = whole current distance relation —
    simple and restatable as SQL; a production variant would keep
    only the newly-settled frontier). Eager localCheckpoint per
    round, same discipline as CC/PageRank. Returns (node, dist) for
    nodes within ``max_hops`` of any source.
    """
    spark = edges.sparkSession
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)
    dist = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node bigint, dist int"
    )
    for _ in range(max_hops):
        relaxed = (
            sym.join(dist.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def weighted_sssp(
    edges: DataFrame,
    sources: list[int],
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_rounds: int = 4,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths by bounded
    Bellman-Ford relaxation (the weighted sibling of
    :func:`bfs_levels`).

    Each round relaxes every edge once: dist'(v) = min(dist(v),
    min over edges (u,v) of dist(u) + w(u,v)) — one edges-by-node
    join + one min-groupBy per round, both hash-partitioned on their
    key, map-side combined. After k rounds every shortest path using
    <= k edges is exact (full Bellman-Ford would run |V|-1 rounds or
    until a fixpoint; the bounded form keeps the computation
    restatable as unrolled SQL, the same contract as
    pagerank/bfs_levels/kcore). Eager localCheckpoint per round
    truncates lineage. Edges are treated as DIRECTED; symmetrize
    before calling for undirected graphs. Parallel edges collapse to
    their MIN weight so the relation is a function of (u, v).

    Integer weights keep distances exact across engines. Returns
    (node, dist) for nodes reachable within ``n_rounds`` edges.
    """
    spark = edges.sparkSession
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    dist = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node bigint, dist bigint"
    )
    for _ in range(n_rounds):
        relaxed = e.join(dist.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al. 2007), made deterministic for oracle parity.

    Init: label(v) = v. Each round, EVERY node simultaneously adopts
    the most frequent label among its neighbors, breaking ties by the
    smallest label (classic LPA breaks ties randomly; the min-label
    rule is deterministic and engine-independent). Isolated update
    order effects vanish because updates are synchronous. Fixed
    ``n_iter`` rounds so the whole computation restates as unrolled
    SQL (the same contract as pagerank/bfs_levels).

    Per round: one edges-by-node join + one (node, label) groupBy +
    one per-node argmax — all key-partitioned shuffles, no windows
    over the whole graph, eager localCheckpoint truncating lineage.
    Returns (node, label) after ``n_iter`` rounds; connected
    components this is NOT (labels stabilize on local majorities,
    splitting dense regions into communities).
    """
    e = _simple_edges(edges, src, dst)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).select(F.col("a").alias("u"), F.col("b").alias("v")).localCheckpoint(
        eager=True
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(n_iter):
        votes = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # per-node argmax with (count desc, label asc) tie-break:
        # max_by over an orderable struct — no window over the graph
        labels = votes.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), -F.col("label"))
            ).alias("label")
        ).localCheckpoint(eager=True)
    return labels


def kcore_peel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """Bounded k-core peeling: repeatedly drop nodes with degree < k
    (undirected, dedup'd edges) for a FIXED number of rounds, then
    report every original node with its final degree and whether it
    survived. With enough rounds this converges to the true k-core;
    fixing ``rounds`` keeps the whole computation restatable as
    unrolled SQL (the pagerank/BFS/LPA contract) — callers wanting
    the fixpoint loop until the drop count hits zero (each round is
    one degree aggregation + one semi-join, the CC shape, eager
    checkpoint per round).

    Output: (node, degree, in_core) — degree within the peeled
    subgraph (0 if peeled out).
    """
    e = _simple_edges(edges, src, dst).localCheckpoint(eager=True)
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    cur = e
    for _ in range(rounds):
        sym = cur.select(F.col("a").alias("n")).unionByName(
            cur.select(F.col("b").alias("n"))
        )
        deg = sym.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.where(F.col("d") >= k).select("n")
        cur = (
            cur.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    sym = cur.select(F.col("a").alias("node")).unionByName(
        cur.select(F.col("b").alias("node"))
    )
    final_deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        all_nodes.join(final_deg, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("degree"), F.lit(0)).cast("bigint").alias(
                "degree"
            ),
            (F.coalesce(F.col("degree"), F.lit(0)) >= k).alias("in_core"),
        )
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores with a fixed unrolled
    iteration count, integer-exact.

    Scores stay UN-normalized through the iterations — starting from
    hub=1 they remain integers (authority = sum of incident hubs,
    hub = sum of incident authorities), so any engine reproduces
    them bit-for-bit; the caller normalizes once at the end (the
    returned ``authority`` column is authority_raw / sum). Each
    iteration is one edge equi-join + one groupBy — identical
    shuffle shape per round to ``pagerank``. The edge list is
    localCheckpoint-materialized up front: each iteration references
    it twice (hub and authority passes), and an un-materialized plan
    would re-run the whole upstream join/distinct per reference
    (the q137 plan audit measured 24 scans -> 2 from this line).

    Multigraph semantics: duplicate (src, dst) rows count as parallel
    edges and weight the scores accordingly — pass a ``.distinct()``
    edge list for simple-graph HITS (q137 does).

    Returns (dst, authority_raw BIGINT, authority DOUBLE).
    """
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).localCheckpoint(eager=False)
    # hub == 1 initially -> first authority pass is plain indegree
    auth = e.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    for _ in range(iterations - 1):
        hub = (
            e.join(auth, "v")
            .groupBy("u")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        auth = (
            e.join(hub, "u")
            .groupBy("v")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
    total = auth.agg(F.sum("a").cast("double").alias("s"))
    return (
        auth.crossJoin(F.broadcast(total))
        .select(
            F.col("v").alias("dst"),
            F.col("a").alias("authority_raw"),
            (F.col("a").cast("double") / F.col("s")).alias("authority"),
        )
    )


def grid_density_clusters(
    cells: DataFrame,
    row_col: str = "r",
    col_col: str = "c",
    grid_w: int = 32,
) -> DataFrame:
    """DBSCAN-style density clustering on a pre-bucketed grid:
    orthogonally-adjacent dense cells merge into clusters.

    ``cells`` must already be the DENSE cell relation (one row per
    cell that passed the density threshold) with integer (row, col)
    coordinates in [0, grid_w). The distributed work is the upstream
    quantization + density aggregation over the raw points (that is
    what scales to 100 TB — the classic grid-DBSCAN reduction that
    replaces any distance cross-join); the dense-cell GRAPH is
    bounded by the grid itself (<= grid_w^2 nodes regardless of data
    volume), so its transitive closure runs as driver-side
    union-find — the "model crosses the driver, not the data"
    contract shared with PCA's d x d eigensolve and IVF's k
    centroids. (``connected_components`` stays the tool for
    UNBOUNDED node sets, e.g. q55's document graph; a percolation-
    regime grid would cost it tens of min-propagation rounds for a
    graph that fits in L2 cache.) Isolated dense cells become
    singleton clusters.

    Returns (cell_id, cluster) with cluster = min cell_id reachable.
    """
    ids = cells.select(
        (F.col(row_col).cast("bigint") * grid_w + F.col(col_col)).alias(
            "cell_id"
        )
    )
    dense = sorted(r.cell_id for r in ids.collect())  # <= grid_w^2 rows
    dense_set = set(dense)
    parent = {cid: cid for cid in dense}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min keeps the label = min reachable cell id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    for cid in dense:
        c = cid % grid_w
        r = cid // grid_w
        if c < grid_w - 1 and (cid + 1) in dense_set:
            union(cid, cid + 1)
        if r < grid_w - 1 and (cid + grid_w) in dense_set:
            union(cid, cid + grid_w)

    spark = cells.sparkSession
    mapping = spark.createDataFrame(
        [(cid, find(cid)) for cid in dense], "cell_id long, cluster long"
    )
    return mapping
