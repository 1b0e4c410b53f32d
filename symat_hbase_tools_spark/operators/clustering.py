"""Duplicate-cluster assignment: connected components over near-dup pairs.

Pairwise dedup output (ngram_jaccard / minhash_lsh / simhash pairs) tells
you WHICH documents are near-duplicates; keeping one document per GROUP
needs the transitive closure — if A~B and B~C, all three are one cluster
even when A~C was never emitted. This is connected components on the
similarity graph.

Algorithm: iterative min-label propagation. Every node starts labeled with
itself; each round a node takes the min of its own and its neighbors'
labels; converged when no label changes. Each round is one shuffle (join on
node + min-aggregate); rounds needed = graph diameter, and near-dup graphs
are shallow (tight clusters), so 3-5 rounds is typical. For adversarial
long-chain graphs pass ``algorithm="star"``: the large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce and Beyond",
``_star_components``) converges in O(log n) rounds regardless of diameter
— parity-tested against union-find on a 10^5-node path. The propagation
loop stays the default for dedup workloads. Lineage is broken per round
(localCheckpoint) so the plan doesn't grow with iterations — the standard
Spark iterative-algorithm discipline.

min(doc_id) per cluster = the canonical survivor, matching exact_dedup's
keep-lowest-id convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.sources.io import local_frame


#: below this edge count the transitive closure runs as driver-side
#: union-find instead of the distributed loop. 2M edges collect to tens of
#: MB — driver-safe — and finish in milliseconds, where every distributed
#: round costs several scheduled stages regardless of data size. Near-dup
#: edge lists are orders of magnitude smaller than the corpus that produced
#: them, so even 100 TB corpora usually land here; genuinely huge graphs
#: take the iterative path unchanged.
DRIVER_UNION_FIND_MAX_EDGES = 2_000_000


def _driver_union_find(spark, edges, id_type) -> DataFrame:
    """Union-find with path compression over an Arrow table of (a, b)
    edges; union-by-min keeps every root the min id of its component,
    matching the distributed algorithm's labels. Direction- and
    duplicate-insensitive, so it consumes the raw pair rows with no
    doubling/distinct pass.

    The labels enter Spark as one Arrow table (``local_frame``), a
    ``LocalTableScan``: a Python list would be a PythonRDD scan that starts
    a Python worker on every run. ``coalesce(1)`` makes that one partition,
    so an aggregate over the labels (``dedup_clusters``' per-cluster count)
    runs without an exchange: one job, where the scan's default split would
    take two. Every consumer joins the labels as the broadcast side, so the
    corpus side keeps its partitioning."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges.column("a").to_pylist(), edges.column("b").to_pylist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("node", id_type, False), StructField("cluster", id_type, False)]
    )
    rows = [(node, find(node)) for node in parent]
    return local_frame(spark, rows, schema).coalesce(1)


def _star_components(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond" — the public
    MapReduce formulation, re-expressed as DataFrame aggregates).

    Each round halves long chains: large-star hangs every neighbor larger
    than u off the minimum of u's neighborhood; small-star re-points the
    smaller neighbors (and u) at that minimum. Convergence in O(log n)
    rounds on ANY graph — including adversarial long paths where plain
    min-label propagation with path-halving needs O(log diameter) rounds of
    full-edge joins but each star round also SHRINKS the edge list toward
    star graphs rooted at component minima, so per-round cost falls as the
    algorithm proceeds. Both phases are a groupBy-min plus one join on the
    grouping key; lineage is cut per round (localCheckpoint), the standard
    Spark iterative-algorithm discipline.

    ``edges`` must be the undirected edge list with BOTH orientations
    present and no self-loops. Returns (node, cluster = component min).
    """
    u, v = F.col("u"), F.col("v")
    cur = edges
    prev_sig = None
    for _ in range(max_iter):
        # ---- large-star: for each u, m = min(N(u) ∪ {u});
        #      emit (x, m) for every neighbor x > u  (keeps both orientations
        #      implicit — the next doubling restores them)
        mins = (
            cur.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("mn"), u).alias("m"))
        )
        large = (
            cur.filter(v > u)
            .join(mins, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star on the large-star output: orient every edge
        #      (max, min); for each u, m = min neighbor; re-point the
        #      smaller neighbors and u itself at m
        directed = large.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        ).distinct()
        mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            directed.join(mins2, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # convergence: the directed (max->min) edge set is stable. One cheap
        # order-free checksum pass instead of a set-difference join (bit_xor:
        # commutative AND overflow-free under ANSI mode, unlike sum; the
        # edge set is distinct so xor cancellation needs a hash collision)
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        # re-double for the next large-star round
        cur = small.union(
            small.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    # at convergence every edge of the directed view points node -> component
    # min; roots appear only on the right-hand side
    stars = cur.select(
        F.greatest(F.col("u"), F.col("v")).alias("node"),
        F.least(F.col("u"), F.col("v")).alias("cluster"),
    ).distinct()
    roots = stars.select(F.col("cluster").alias("node")).subtract(
        stars.select("node")
    )
    return stars.unionByName(
        roots.select("node", F.col("node").alias("cluster"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
    max_driver_edges: int = DRIVER_UNION_FIND_MAX_EDGES,
    algorithm: str = "propagate",
) -> DataFrame:
    """Cluster id (= min member id) for every node appearing in ``pairs``.

    Output: node, cluster. Deterministic: labels are ids, min is order-free.

    Up to ``max_driver_edges`` edges the labels come from a driver-side
    union-find over one bounded Arrow collect of the pairs; the pair plan
    runs once. A larger graph takes the distributed path, and its pair
    plan runs twice: once in that bounded collect, once to build the edge
    list. ``algorithm`` selects the distributed path: ``propagate``
    (min-label propagation with path halving — the right default for
    shallow near-dup graphs) or ``star`` (alternating large-star/small-star,
    Kiveris et al. — O(log n) rounds on adversarial long-chain graphs
    regardless of diameter).
    """
    # One bounded Arrow collect both picks the route and carries the edge
    # list: at most max_driver_edges + 1 rows reach the driver, and a
    # result within the threshold IS the whole edge list, so no count runs
    # first and nothing is persisted. Union-find is direction- and
    # duplicate-insensitive, so the doubling union, distinct exchange,
    # checkpoint pass and per-round stages of the iterative path never run.
    # Near-dup edge lists are orders of magnitude smaller than the corpus,
    # so even 100 TB corpora usually land here. (The limited collect runs
    # the pair plan's stages once, as an unlimited one would; it is not
    # take(N+1)'s incremental scan of partitions.)
    sel = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    bounded = sel.limit(max_driver_edges + 1).toArrow()
    if bounded.num_rows <= max_driver_edges:
        return _driver_union_find(
            pairs.sparkSession, bounded, pairs.schema[src].dataType
        )
    # big graph: the pair plan runs a second time, to build the doubled
    # edge list (the bounded collect kept no cache of it)
    edges = (
        sel.unionByName(sel.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # right-size the iteration: the edge list is usually MUCH smaller than
    # the corpus that produced it (near-dup pairs are rare). Counting the
    # checkpointed edges is free, and coalescing to ~1M edges/partition
    # keeps every per-round stage from paying 32-task scheduling overhead
    # on a few hundred rows — the same arithmetic that keeps partitions
    # right-sized when the edge list is billions of rows at corpus scale.
    n_edges = edges.count()
    parts = max(1, min(edges.rdd.getNumPartitions(), n_edges // 1_000_000 + 1))
    if parts < edges.rdd.getNumPartitions():
        edges = edges.coalesce(parts)
    if algorithm == "star":
        star = _star_components(
            edges.filter(F.col("a") != F.col("b")).select(
                F.col("a").alias("u"), F.col("b").alias("v")
            ),
            max_iter,
        )
        # nodes whose only edges were self-loops vanish from the star
        # output; they are their own (singleton) cluster
        nodes = edges.select(F.col("a").alias("node")).distinct()
        return nodes.join(star, "node", "left").select(
            "node", F.coalesce("cluster", F.col("node")).alias("cluster")
        )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("cluster", F.col("node"))
    )
    for _ in range(max_iter):
        # neighbor minimum, merged with own label
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("cluster").alias("n_min"))
        )
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.a, "left"
        ).select(
            "node",
            F.col("cluster").alias("prev"),
            F.least(
                F.col("cluster"), F.coalesce(F.col("n_min"), F.col("cluster"))
            ).alias("cluster"),
        )
        # pointer jumping (path halving): follow each label to ITS label —
        # convergence in O(log diameter) rounds instead of O(diameter),
        # which is what makes iterative CC viable on long chains at scale.
        # The moved flag rides along so the convergence check below is a
        # filter over the checkpointed result, not another join.
        lut = propagated.select(
            F.col("node").alias("_n"), F.col("cluster").alias("_c")
        )
        new_labels = (
            propagated.join(lut, propagated.cluster == lut._n, "left")
            .select(
                "node",
                F.coalesce(F.col("_c"), F.col("cluster")).alias("cluster"),
                (F.coalesce(F.col("_c"), F.col("cluster")) != F.col("prev")).alias(
                    "moved"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("moved").limit(1).count()
        labels = new_labels.select("node", "cluster")
        if changed == 0:
            break
    return labels.select("node", "cluster")


def dedup_clusters(pairs: DataFrame, src: str = "d1", dst: str = "d2") -> DataFrame:
    """Cluster report over near-dup pairs: cluster id (canonical survivor),
    member count, members dropped by dedup (size - 1)."""
    cc = connected_components(pairs, src, dst)
    return (
        cc.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .withColumn("n_dropped", (F.col("n_members") - 1).cast("bigint"))
    )


def dedup_keep_best(
    docs_with_quality: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality_score",
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """Canonical selection: one surviving document per near-dup cluster —
    the member with the highest quality score (ties -> lowest id). Documents
    in no cluster survive as their own singleton.

    This is the step after pair generation + connected components in a real
    dedup pipeline: instead of keeping an arbitrary cluster member, keep the
    best one (RefinedWeb / FineWeb keep-best-of-cluster policy).

    Output: one row per SURVIVOR — id, cluster id, cluster size, the
    survivor's quality. Deterministic cross-engine: quality doubles are
    bit-identical (same exact-integer ratio formula both sides) and ties
    break on the id.

    Shape: components over the (tiny) edge list, left-join the full corpus
    against the node->cluster map (broadcast — the map is dup-cluster-sized,
    orders of magnitude smaller than the corpus), one window partitioned by
    cluster. Singleton clusters (= almost all of the corpus) have cluster =
    own id, so the window partitions stay tiny at any scale.
    """
    cc = connected_components(pairs, src, dst)
    labeled = (
        docs_with_quality.join(
            F.broadcast(cc.withColumnRenamed("node", id_col)), id_col, "left"
        )
        .withColumn("cluster", F.coalesce(F.col("cluster"), F.col(id_col)))
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc(quality_col), F.col(id_col).asc()
    )
    counts = Window.partitionBy("cluster")
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(counts).cast("bigint"))
        .filter(F.col("rk") == 1)
        .select(id_col, "cluster", "n_members", quality_col)
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fractions: tuple[float, float] = (0.8, 0.9),
    seed: int = 42,
) -> DataFrame:
    """Train/valid/test split that near-duplicates cannot straddle.

    Hash-splitting documents independently leaks: if A~B are near-dups and
    A lands in train while B lands in test, the eval set is contaminated
    by construction. The standard fix (this operator) keys the split hash
    on the near-dup CLUSTER representative instead of the document — every
    member of a cluster shares a split key, so cross-split near-dup pairs
    are structurally impossible; singletons (almost all of a real corpus)
    key on their own id.

    Split membership is the portable md5 scheme of operators/sampling.py:
    first 8 hex of md5(seed \\x1f key) against fixed hex cutoffs, so any
    md5-capable engine re-derives the identical assignment.

    Scale shape: the node->cluster map is dup-cluster-sized (orders of
    magnitude smaller than the corpus) and broadcast; the corpus-side work
    is one narrow projection. The leakage audit joins the (small) pair
    list against the assignment twice and counts cross-split pairs — zero
    by construction, emitted as a per-row boolean so the invariant is
    hash-verified rather than assumed.

    Output: one row per split — split, n_docs, n_clustered_docs,
    no_cross_split_pairs.
    """
    from symat_hbase_tools_spark.operators.sampling import _HEX_WIDTH, _md5_cut

    cc = connected_components(pairs)
    labeled = docs.select(id_col).join(
        F.broadcast(cc.withColumnRenamed("node", id_col)), id_col, "left"
    )
    split_key = F.coalesce(F.col("cluster"), F.col(id_col))
    hexval = F.substring(
        F.md5(F.concat_ws("\x1f", F.lit(str(seed)), split_key)), 1, _HEX_WIDTH
    )
    lo, hi = fractions
    split = (
        F.when(hexval < F.lit(_md5_cut(lo)), F.lit("train"))
        .when(hexval < F.lit(_md5_cut(hi)), F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    assigned = labeled.select(
        F.col(id_col), F.col("cluster"), split.alias("split")
    )
    census = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("cluster").alias("n_clustered_docs"),
    )
    a1 = assigned.select(F.col(id_col).alias("d1"), F.col("split").alias("s1"))
    a2 = assigned.select(F.col(id_col).alias("d2"), F.col("split").alias("s2"))
    leaks = (
        pairs.join(a1, "d1")
        .join(a2, "d2")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("s1") != F.col("s2"), 1).otherwise(0)), F.lit(0)
            ).alias("n_leaks")
        )
    )
    return (
        census.crossJoin(F.broadcast(leaks))
        .select(
            "split",
            "n_docs",
            "n_clustered_docs",
            (F.col("n_leaks") == 0).alias("no_cross_split_pairs"),
        )
    )


def softdedup_weights(spark, sf_dir: str) -> DataFrame:
    """Soft dedup: REWEIGHT duplicates instead of dropping them (the
    SoftDeDup idea, ACL 2024 — hard dedup throws away the signal that a
    document was independently produced N times; a 1/N sampling weight
    keeps the corpus distribution while removing the over-count). Every
    document in a near-dup cluster (n-gram Jaccard >= 0.5, the
    doc_dedup_clusters graph) gets weight 1/cluster_size; singletons keep
    weight 1. Output: (doc_id, cluster, cluster_size, weight).

    Scale shape: the pair graph is the bucketed Jaccard join; connected
    components is the engine's alternating-min label propagation; the
    weight step is one count aggregate on the O(clustered docs) label
    table joined back BROADCAST (clusters are tiny relative to any real
    corpus). Weight divides exact integers — hash-stable cross-engine."""
    from symat_hbase_tools_spark.operators.dedup import ngram_jaccard_pairs
    from symat_hbase_tools_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs)  # (node, cluster)
    sizes = labels.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    member = labels.join(F.broadcast(sizes), "cluster").select(
        F.col("node").alias("doc_id"), "cluster", "cluster_size"
    )
    return docs.join(F.broadcast(member), "doc_id", "left").select(
        "doc_id",
        "cluster",
        F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias(
            "cluster_size"
        ),
        (
            F.lit(1.0)
            / F.coalesce(F.col("cluster_size"), F.lit(1)).cast("double")
        ).alias("weight"),
    )
