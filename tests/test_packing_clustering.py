"""Sequence-packing and dedup-clustering operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.clustering import (
    connected_components,
    dedup_clusters,
)
from symat_hbase_tools_spark.operators.packing import pack_sequences, packing_stats

BUDGET = 100


def test_packing_is_a_contiguous_tape(spark, documents):
    packed = pack_sequences(documents, BUDGET).orderBy("doc_id").collect()
    # offsets chain: each doc starts where the previous one ended
    tape = 0
    for r in packed:
        assert r["start_offset"] == tape
        assert r["seq_id"] == tape // BUDGET
        tape += r["n_tokens"]
    assert tape == sum(r["n_tokens"] for r in packed)


def test_packing_is_layout_independent(spark, documents):
    a = {(r["doc_id"], r["seq_id"]) for r in pack_sequences(documents, BUDGET).collect()}
    b = {
        (r["doc_id"], r["seq_id"])
        for r in pack_sequences(documents.repartition(13), BUDGET, n_partitions=3).collect()
    }
    assert a == b


def test_packing_stats_fill(spark, documents):
    packed = pack_sequences(documents, BUDGET)
    stats = packing_stats(packed, BUDGET)
    total_docs = documents.count()
    assert stats.agg(F.sum("n_docs")).collect()[0][0] == total_docs
    # every fully-interior sequence starts at most `budget` tokens
    assert stats.filter(F.col("fill") < 0).count() == 0


#: every execution path: driver union-find, distributed propagation,
#: distributed large-star/small-star
_CC_PATHS = [(2_000_000, "propagate"), (0, "propagate"), (0, "star")]


@pytest.mark.parametrize("max_driver_edges,algorithm", _CC_PATHS)
def test_connected_components_transitive(spark, max_driver_edges, algorithm):
    # chain 1-2-3, pair 10-11, singleton edge 20-21: three clusters.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "d1 long, d2 long"
    )
    got = {
        (r["node"], r["cluster"])
        for r in connected_components(
            pairs, max_driver_edges=max_driver_edges, algorithm=algorithm
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


@pytest.mark.parametrize("max_driver_edges,algorithm", _CC_PATHS)
def test_connected_components_long_chain_converges(spark, max_driver_edges, algorithm):
    # worst-case diameter: a 12-node path; min label must reach the far end
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "d1 long, d2 long"
    )
    labels = connected_components(
        pairs, max_driver_edges=max_driver_edges, algorithm=algorithm
    )
    assert labels.filter(F.col("cluster") != 0).count() == 0


def test_star_components_path_graph_parity_with_union_find(spark):
    """Adversarial long chain at scale: a 10^5-node path (diameter 10^5).
    The star algorithm must converge inside the default iteration cap —
    its O(log n) round bound, vs O(diameter) for naive propagation — and
    label every node exactly as driver union-find does (everything in
    cluster 0)."""
    n = 100_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("d1"), (F.col("id") + 1).alias("d2")
    )
    truth = {
        (r["node"], r["cluster"])
        for r in connected_components(pairs).collect()  # driver union-find
    }
    star = {
        (r["node"], r["cluster"])
        for r in connected_components(
            pairs, max_driver_edges=0, algorithm="star"
        ).collect()
    }
    assert star == truth
    assert star == {(i, 0) for i in range(n)}


def test_star_components_random_graph_parity(spark):
    import random

    rng = random.Random(11)
    pairs = spark.createDataFrame(
        [(rng.randrange(200), rng.randrange(200)) for _ in range(150)],
        "d1 long, d2 long",
    )
    fast = {
        (r["node"], r["cluster"]) for r in connected_components(pairs).collect()
    }
    star = {
        (r["node"], r["cluster"])
        for r in connected_components(
            pairs, max_driver_edges=0, algorithm="star"
        ).collect()
    }
    assert star == fast


def test_connected_components_paths_agree(spark):
    # random graph: driver union-find and distributed propagation must
    # produce identical labelings
    import random

    rng = random.Random(7)
    pairs = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(80)],
        "d1 long, d2 long",
    )
    fast = {
        (r["node"], r["cluster"]) for r in connected_components(pairs).collect()
    }
    dist = {
        (r["node"], r["cluster"])
        for r in connected_components(pairs, max_driver_edges=0).collect()
    }
    assert fast == dist


def test_driver_union_find_labels_are_a_local_table_scan(spark):
    """The driver union-find's labels enter Spark as Arrow, one partition:
    a LocalTableScan under a Coalesce 1, not a PythonRDD scan that starts a
    Python worker. So dedup_clusters' per-cluster count runs without an
    exchange."""
    from symat_hbase_tools_spark.plans.explain import executed_nodes

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "d1 long, d2 long")
    labels = connected_components(pairs)
    plan = labels._jdf.queryExecution().executedPlan()
    assert plan.toString().startswith("Coalesce 1"), plan.toString()
    assert [n.nodeName() for n in executed_nodes(labels)] == [
        "Coalesce", "LocalTableScan"
    ]
    assert sorted(tuple(r) for r in labels.collect()) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    ]
    assert [f.nullable for f in labels.schema.fields] == [False, False]
    report = dedup_clusters(pairs)
    assert report.count() == 2
    names = [n.nodeName() for n in executed_nodes(report)]
    assert "Exchange" not in names, names


def test_driver_route_threshold_is_exact(spark):
    """At exactly ``max_driver_edges`` edges the driver union-find runs
    (its labels are a LocalTableScan); one edge more takes the distributed
    route. Both label the graph alike."""
    edges = [(1, 2), (2, 3), (10, 11), (3, 4), (11, 12)]
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    driver = connected_components(pairs, max_driver_edges=len(edges))
    dist = connected_components(pairs, max_driver_edges=len(edges) - 1)
    assert "LocalTableScan" in plan(driver), plan(driver)
    assert "LocalTableScan" not in plan(dist), plan(dist)
    want = [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (12, 10)]
    assert sorted(tuple(r) for r in driver.collect()) == want
    assert sorted(tuple(r) for r in dist.collect()) == want


def _leaf_names(node) -> set[str]:
    from symat_hbase_tools_spark.plans.explain import plan_children

    kids = plan_children(node)
    if not kids:
        return {node.nodeName()}
    return set().union(*(_leaf_names(k) for k in kids))


def _labels_join_builds(df) -> list[bool]:
    """For every join in the executed plan of the collected ``df`` between
    the labels (LocalTableScan leaves only) and the corpus (a read of stored
    data, a file scan or a cached table, among its leaves): whether it
    broadcasts the labels as its build side."""
    from symat_hbase_tools_spark.plans.explain import executed_nodes, plan_children

    builds = []
    for node in executed_nodes(df):
        name = node.nodeName()
        if "Join" not in name:
            continue
        sides = [_leaf_names(side) for side in plan_children(node)]
        labels = [leaves == {"LocalTableScan"} for leaves in sides]
        corpus = [bool(leaves - {"LocalTableScan"}) for leaves in sides]
        if (labels[0] and corpus[1]) or (labels[1] and corpus[0]):
            builds.append(
                name == "BroadcastHashJoin"
                and (node.buildSide().toString() == "BuildRight") == labels[1]
            )
    return builds


@pytest.mark.parametrize(
    "query",
    ["doc_dedup_keep_best", "doc_leakage_safe_split", "doc_softdedup_weights"],
)
def test_labels_stay_the_broadcast_build_side(spark, query):
    """The one-partition labels are joined to the corpus as the broadcast
    build side, so the corpus side keeps its partitioning (streaming the
    corpus through one label partition would leave one task)."""
    from symat_hbase_tools_spark.entry import QUERIES
    from tests.conftest import SF_DIR

    df = QUERIES[query].__wrapped__(spark, SF_DIR)
    assert df.collect()
    builds = _labels_join_builds(df)
    assert builds and all(builds), builds


def test_dedup_clusters_report(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "d1 long, d2 long")
    got = {
        (r["cluster"], r["n_members"], r["n_dropped"])
        for r in dedup_clusters(pairs).collect()
    }
    assert got == {(1, 3, 2), (10, 2, 1)}


def test_contamination_flags_only_train_docs(spark):
    from symat_hbase_tools_spark.operators.contamination import benchmark_contamination
    from tests.conftest import SF_DIR

    out = benchmark_contamination(spark, SF_DIR)
    rows = out.collect()
    assert all(r["doc_id"] % 50 != 0 for r in rows)  # benchmark never flags itself
    assert all(r["n_overlap"] >= 5 for r in rows)


def test_dedup_keep_best_survivor_is_max_quality(spark):
    from symat_hbase_tools_spark.entry import doc_dedup_keep_best
    from symat_hbase_tools_spark.operators import dedup, text_analysis
    from symat_hbase_tools_spark.operators.clustering import connected_components
    from tests.conftest import SF_DIR

    out = doc_dedup_keep_best(spark, SF_DIR).collect()
    assert out, "no survivors"
    # survivors are unique per cluster, and clusters partition the corpus
    clusters = [r["cluster"] for r in out]
    assert len(clusters) == len(set(clusters))
    quality = {
        r["doc_id"]: r["quality_score"]
        for r in text_analysis.quality_score(spark, SF_DIR)
        .select("doc_id", "quality_score")
        .collect()
    }
    assert len(out) == len(quality) - (
        # members dropped = all clustered nodes minus one survivor per cluster
        connected_components(dedup.ngram_jaccard_pairs(spark, SF_DIR)).count()
        - len(
            set(
                r["cluster"]
                for r in connected_components(
                    dedup.ngram_jaccard_pairs(spark, SF_DIR)
                ).collect()
            )
        )
    )
    # the survivor beats every co-cluster member on (quality, -doc_id)
    cc = {
        r["node"]: r["cluster"]
        for r in connected_components(dedup.ngram_jaccard_pairs(spark, SF_DIR)).collect()
    }
    members: dict = {}
    for doc_id, q in quality.items():
        members.setdefault(cc.get(doc_id, doc_id), []).append((q, doc_id))
    for r in out:
        best_q, best_id = max(members[r["cluster"]], key=lambda t: (t[0], -t[1]))
        assert r["doc_id"] == best_id
        assert r["quality_score"] == best_q
        assert r["n_members"] == len(members[r["cluster"]])


def test_contamination_bloom_equals_exact(spark):
    """The bloom-screened path must produce byte-identical output to the
    exact operator (no false negatives by construction; every survivor
    exactly verified)."""
    from symat_hbase_tools_spark.operators.contamination import (
        benchmark_contamination,
        benchmark_contamination_bloom,
    )
    from tests.conftest import SF_DIR

    exact = {
        (r["doc_id"], r["n_overlap"])
        for r in benchmark_contamination(spark, SF_DIR).collect()
    }
    bloom = {
        (r["doc_id"], r["n_overlap"])
        for r in benchmark_contamination_bloom(spark, SF_DIR).collect()
    }
    assert bloom == exact and len(exact) > 0


def test_contamination_bloom_screen_prunes(spark):
    """The bitmap screen must actually prune: the survivor stream entering
    the verify join is a small fraction of the train shingle stream (true
    matches + ~0.8% false positives), not a pass-through."""
    import numpy as np

    from symat_hbase_tools_spark.operators.contamination import (
        BLOOM_BITS_PER_ELEMENT,
        BLOOM_NUM_HASHES,
        _splitmix_positions,
    )

    rng = np.random.default_rng(3)
    members = rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64)
    probes = rng.integers(-(2**62), 2**62, size=100_000, dtype=np.int64)
    m_bits = 1 << int(np.ceil(np.log2(len(members) * BLOOM_BITS_PER_ELEMENT)))
    words = np.zeros(m_bits // 64 + 1, dtype=np.uint64)
    for pos in _splitmix_positions(members, m_bits, BLOOM_NUM_HASHES):
        np.bitwise_or.at(
            words, pos // 64, np.uint64(1) << (pos.astype(np.uint64) % np.uint64(64))
        )
    keep = np.ones(len(probes), dtype=bool)
    for pos in _splitmix_positions(probes, m_bits, BLOOM_NUM_HASHES):
        keep &= (
            words[pos // 64] >> (pos.astype(np.uint64) % np.uint64(64))
        ) & np.uint64(1) != 0
    # members always pass
    keep_m = np.ones(len(members), dtype=bool)
    for pos in _splitmix_positions(members, m_bits, BLOOM_NUM_HASHES):
        keep_m &= (
            words[pos // 64] >> (pos.astype(np.uint64) % np.uint64(64))
        ) & np.uint64(1) != 0
    assert keep_m.all()
    # random non-members pass at ~the theoretical fp rate, well under 5%
    assert keep.mean() < 0.05, keep.mean()


def test_contamination_overlap_census_properties(spark):
    """Overlap-fraction census invariants: covers EVERY train doc exactly
    once (including zero-overlap docs — a decontamination report that
    drops clean docs can't prove coverage), excludes benchmark docs,
    severity bands match the fraction, and the docs the absolute-count
    op flags are a subset of the docs with n_overlap >= its threshold."""
    from symat_hbase_tools_spark.operators.contamination import (
        benchmark_contamination,
        contamination_overlap_census,
    )
    from symat_hbase_tools_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    census = contamination_overlap_census(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    n_bench = load_table(spark, SF_DIR, "documents").filter("doc_id % 50 = 0").count()
    assert len(census) == n_docs - n_bench
    assert len({r["doc_id"] for r in census}) == len(census)
    for r in census:
        assert r["doc_id"] % 50 != 0
        assert 0 <= r["n_overlap"] <= r["n_shingles"]
        f = r["overlap_frac"]
        want = ("leaked" if f >= 0.5 else "partial" if f >= 0.05 else "clean")
        assert r["severity"] == want, (r, want)
    flagged = {r["doc_id"] for r in benchmark_contamination(spark, SF_DIR).collect()}
    heavy = {r["doc_id"] for r in census if r["n_overlap"] >= 5}
    assert flagged == heavy


def test_leakage_safe_split_property_and_negative_control(spark, documents):
    """(1) Every near-dup pair lands in ONE split (the operator's whole
    point); (2) negative control: the naive per-doc hash split DOES leak
    on the same corpus — proving the invariant is earned by cluster
    keying, not vacuous."""
    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.operators import dedup
    from symat_hbase_tools_spark.operators.clustering import leakage_safe_split
    from symat_hbase_tools_spark.operators.sampling import _HEX_WIDTH, _md5_cut
    from tests.conftest import SF_DIR

    pairs = dedup.ngram_jaccard_pairs(spark, SF_DIR).persist()
    assert pairs.count() > 0, "corpus must have near-dup pairs for this test"

    out = leakage_safe_split(documents, pairs).collect()
    assert {r["split"] for r in out} <= {"train", "valid", "test"}
    assert all(r["no_cross_split_pairs"] for r in out)
    assert sum(r["n_docs"] for r in out) == documents.count()

    # negative control: naive independent per-doc hashing
    hexval = F.substring(
        F.md5(F.concat_ws("\x1f", F.lit("42"), F.col("doc_id"))), 1, _HEX_WIDTH
    )
    naive = documents.select(
        "doc_id",
        F.when(hexval < F.lit(_md5_cut(0.5)), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    n1 = naive.select(F.col("doc_id").alias("d1"), F.col("split").alias("s1"))
    n2 = naive.select(F.col("doc_id").alias("d2"), F.col("split").alias("s2"))
    leaks = (
        pairs.join(n1, "d1").join(n2, "d2")
        .filter(F.col("s1") != F.col("s2"))
        .count()
    )
    pairs.unpersist()
    assert leaks > 0, "naive split should leak on a corpus with near-dups"
