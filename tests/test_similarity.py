"""Similarity-search tests: brute-force KNN against a NumPy oracle, ANN
recall against the brute-force result."""

from __future__ import annotations

import numpy as np
import pytest

from symat_hbase_tools_spark.operators import similarity
from tests.conftest import SF_DIR, jobs_run


@pytest.fixture(scope="module")
def numpy_topk(embeddings):
    pdf = embeddings.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    np.fill_diagonal(S, -np.inf)
    top = {}
    for r, qid in enumerate(ids):
        order = np.lexsort((ids, -S[r]))[:5]
        top[int(qid)] = [int(ids[i]) for i in order]
    return top


def test_knn_matches_numpy(spark, numpy_topk):
    out = similarity.knn_cosine_topk(spark, SF_DIR, k=5).collect()
    got: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r["query_id"], -r["sim"], r["neighbor_id"])):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert len(got) == len(numpy_topk)
    # ordered lists match except where float near-ties flip order (the
    # old per-query `set(...) == set(...) or exact` guard was vacuous —
    # `or exact` is truthy whenever any query matched)
    exact = sum(got[q] == numpy_topk[q] for q in numpy_topk)
    assert exact >= 0.99 * len(numpy_topk)


def test_ann_recall_against_brute_force(spark):
    brute = similarity.knn_cosine_topk(spark, SF_DIR, k=5).collect()
    # auto_route=False: below ANN_BRUTE_CROSSOVER the default routes to
    # exact brute force — recall would be trivially 1.0 and test nothing
    ann = similarity.ann_lsh_topk(spark, SF_DIR, k=5, auto_route=False).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    aset = {(r["query_id"], r["neighbor_id"]) for r in ann}
    recall = len(bset & aset) / len(bset)
    # measured with the 8-table default: 0.995 (sf0.01) / 0.92 (sf0.1);
    # this asserts the same floor the driver-facing recall check uses
    assert recall >= similarity.LSH_RECALL_FLOOR, f"ANN recall@5 = {recall:.3f}"
    # sims reported by ANN are the exact cosine (re-ranked), so common pairs agree
    bs = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in brute}
    for r in ann:
        key = (r["query_id"], r["neighbor_id"])
        if key in bs:
            assert abs(r["sim"] - bs[key]) < 1e-9


def test_ann_multiprobe_improves_recall(spark):
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity.knn_cosine_topk(spark, SF_DIR, k=5).collect()}
    single = {(r["query_id"], r["neighbor_id"])
              for r in similarity.ann_lsh_topk(
                  spark, SF_DIR, k=5, num_tables=1, multiprobe=False,
                  auto_route=False).collect()}
    multi = {(r["query_id"], r["neighbor_id"])
             for r in similarity.ann_lsh_topk(
                 spark, SF_DIR, k=5, num_tables=1, multiprobe=True,
                 auto_route=False).collect()}
    assert len(multi & brute) >= len(single & brute)


def test_ann_auto_routes_to_brute_below_crossover(spark):
    """Below ANN_BRUTE_CROSSOVER the default ann_lsh_topk plan IS the exact
    brute-force plan (measured: BLAS brute beats recall-floor LSH 20-40x up
    to n=200k — SCALING.md round-5 crossover study). The routed result must
    be exactly the brute result, and its plan must contain no LSH cogroup."""
    routed = similarity.ann_lsh_topk(spark, SF_DIR, k=5)
    brute = similarity.knn_cosine_topk(spark, SF_DIR, k=5)
    r = {(x["query_id"], x["neighbor_id"], x["sim"]) for x in routed.collect()}
    b = {(x["query_id"], x["neighbor_id"], x["sim"]) for x in brute.collect()}
    assert r == b
    from symat_hbase_tools_spark.plans.explain import plan_string

    assert "FlatMapCoGroupsInPandas" not in plan_string(routed)


def test_near_dup_pairs_threshold(spark):
    # corpus has no planted embedding near-dups: high threshold -> empty
    assert similarity.embedding_near_dup_pairs(spark, SF_DIR, threshold=0.9).count() == 0
    some = similarity.embedding_near_dup_pairs(spark, SF_DIR, threshold=0.4).collect()
    assert all(r["d1"] < r["d2"] and r["sim"] >= 0.4 for r in some)


def test_ann_ivf_recall(spark):
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity.knn_cosine_topk(spark, SF_DIR, k=5).collect()}
    ivf = similarity.ann_ivf_topk(spark, SF_DIR, k=5).collect()
    aset = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(brute & aset) / len(brute)
    # measured with the 1/4-probe default: 0.70 (sf0.01) / 0.73 (sf0.1)
    assert recall >= similarity.IVF_RECALL_FLOOR, f"IVF recall@5 = {recall:.3f}"
    # deterministic across runs (seeded codebook)
    again = {(r["query_id"], r["neighbor_id"])
             for r in similarity.ann_ivf_topk(spark, SF_DIR, k=5).collect()}
    assert aset == again


def test_persistent_ivf_index_recall_and_pruning(spark, tmp_path):
    from symat_hbase_tools_spark.operators.similarity import (
        ann_ivf_query,
        brute_topk,
        build_ivf_index,
    )
    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, SF_DIR, idx, n_cells=8)
    emb = load_table(spark, SF_DIR, "embeddings")
    got = ann_ivf_query(spark, idx, emb, k=5, n_probe=3)
    exact = brute_topk(spark, emb.select("vec_id", "embedding"), k=5)

    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(got_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.6, recall  # 3/8 cells probed

    # the cell predicate must prune partition DIRECTORIES of the index
    from symat_hbase_tools_spark.plans.explain import plan_string

    probe_plan = plan_string(
        spark.read.parquet(f"{idx}/assignments").filter("cell IN (1, 2)")
    )
    assert "PartitionFilters" in probe_plan and "cell" in probe_plan.split("PartitionFilters")[1].split("]")[0]


def test_label_centroids_match_numpy(spark):
    import numpy as np

    from symat_hbase_tools_spark.operators.similarity import label_centroids
    from symat_hbase_tools_spark.sources.tables import load_table

    got = {
        (r["label"], r["dim"]): (r["n_vecs"], r["centroid"])
        for r in label_centroids(spark, SF_DIR).collect()
    }
    e = load_table(spark, SF_DIR, "embeddings").collect()
    by_label: dict = {}
    for r in e:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    n_dims = len(e[0]["embedding"])
    assert len(got) == len(by_label) * n_dims
    for label, vecs in by_label.items():
        m = np.array(vecs, dtype=np.float64)
        for dim in (0, n_dims - 1):
            n_vecs, centroid = got[(label, dim)]
            assert n_vecs == len(vecs)
            # quantized mean is within half a micro-unit of the true mean
            assert abs(centroid - m[:, dim].mean()) <= 0.5e-6 + 1e-12


def test_brute_topk_stays_exact_above_gate_via_chunking(spark, embeddings, monkeypatch):
    """brute_topk is documented EXACT, so an over-threshold query side must
    not degrade to approximate LSH: it chunks the query side, keeping every
    driver collect bounded by max_broadcast_queries rows, and the union of
    per-chunk results equals the single-pass exact answer."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    e = embeddings.select("vec_id", "embedding").limit(100)
    exact = {
        (r["query_id"], r["neighbor_id"], r["sim"])
        for r in similarity.brute_topk(spark, e, k=3).collect()
    }

    collected_sizes = []
    real_topandas = CDF.toPandas

    def spy(self, *a, **kw):
        pdf = real_topandas(self, *a, **kw)
        collected_sizes.append(len(pdf))
        return pdf

    monkeypatch.setattr(CDF, "toPandas", spy)
    cap = 30
    chunked = {
        (r["query_id"], r["neighbor_id"], r["sim"])
        for r in similarity.brute_topk(
            spark, e, k=3, max_broadcast_queries=cap
        ).collect()
    }
    assert chunked == exact
    # 100 rows / cap 30 -> 4 hash chunks; the bound is statistical (hash
    # deviation), so allow slack at this tiny n — what must never happen is
    # a single full-table collect (100 rows at once)
    assert len(collected_sizes) >= 4, "chunked path should collect per-chunk"
    assert max(collected_sizes) < 60, (
        f"driver collect far exceeded the per-chunk bound: {collected_sizes}"
    )

    # the flat PQ and BQ scans share the same hash-chunk gate, each with
    # its own cap: shrink both caps so 500 queries run as 4 chunks, and
    # the chunked output must equal the one-pass output exactly
    n = embeddings.count()
    cap = -(-n // 4)
    for fn, attr, value in (
        (similarity.ann_pq_topk, "TARGET_PQ_LUT_BYTES", cap * 16 * 64 * 8),
        (similarity.ann_bq_topk, "MAX_BROADCAST_QUERIES", cap),
    ):
        one_pass = sorted(tuple(r) for r in fn(spark, SF_DIR, k=3).collect())
        collected_sizes.clear()
        with monkeypatch.context() as mp:
            mp.setattr(similarity, attr, value)
            chunked = sorted(tuple(r) for r in fn(spark, SF_DIR, k=3).collect())
        assert chunked == one_pass, fn.__name__
        assert len(one_pass) == 3 * n
        query_collects = [c for c in collected_sizes if c < n]
        assert len(query_collects) >= 4 and max(query_collects) <= 2 * cap, (
            fn.__name__,
            collected_sizes,
        )


def test_ivf_codebook_sample_cap(spark, embeddings, monkeypatch):
    """Codebook training never sees more than MAX_KMEANS_TRAIN_ROWS rows
    (the driver-side Lloyd fit collects the SAMPLE, never the corpus)."""
    seen = {}
    real = similarity._kmeans_pp_lloyd

    def spy(X, k, seed, **kw):
        seen["n_train"] = len(X)
        return real(X, k, seed, **kw)

    monkeypatch.setattr(similarity, "_kmeans_pp_lloyd", spy)
    monkeypatch.setattr(similarity, "MAX_KMEANS_TRAIN_ROWS", 64)
    out = similarity.ann_ivf_topk(spark, SF_DIR, k=5)
    assert out.count() > 0
    assert seen["n_train"] <= 64 + 32  # ceil-stride hash sample overshoots a little


def test_int8_quantization_reconstruction_bound(spark, embeddings):
    """floor-quantization property: |v - q*scale| < scale for every
    component (one quantization step), verified against numpy ground truth
    recomputed from the checksums' definition."""
    from pyspark.sql import functions as F

    out = {
        r["vec_id"]: (r["scale"], r["q_wsum"], r["q_l1"])
        for r in similarity.embedding_quantize_int8(spark, SF_DIR).collect()
    }
    pdf = embeddings.select("vec_id", "embedding").toPandas()
    for vec_id, emb in zip(pdf["vec_id"], pdf["embedding"]):
        v = np.asarray(emb, dtype=np.float64)
        max_abs = np.abs(v).max()
        scale, wsum, l1 = out[int(vec_id)]
        if max_abs == 0:
            assert (scale, wsum, l1) == (0.0, 0, 0)
            continue
        q = np.floor(v / max_abs * 127.0).astype(np.int64)
        assert abs(scale - max_abs / 127.0) < 1e-12
        assert wsum == int((q * np.arange(1, len(q) + 1)).sum())
        assert l1 == int(np.abs(q).sum())
        # reconstruction error bounded by one quantization step
        assert np.all(np.abs(v - q * scale) <= scale + 1e-12)


def test_semantic_dedup_finds_planted_clones(spark):
    from symat_hbase_tools_spark.operators import similarity
    from tests.conftest import SF_DIR

    out = similarity.embedding_semantic_dedup_check(spark, SF_DIR).collect()
    assert len(out) == 1 and out[0]["coverage_ok"]


def test_semantic_dedup_pair_sims_are_exact(spark, embeddings):
    """Blocking only SELECTS candidates — the reported cosine must be the
    exact value (numpy recompute), every pair >= threshold and d1 < d2.
    (Note: cell blocking legitimately finds cross-LABEL pairs that the
    label-blocked embedding_near_dup_pairs path cannot, so a subset
    assertion against it would be wrong at low thresholds.)"""
    import numpy as np

    from symat_hbase_tools_spark.operators import similarity
    from tests.conftest import SF_DIR

    sem = {
        (r["d1"], r["d2"]): r["sim"]
        for r in similarity.embedding_semantic_dedup(spark, SF_DIR).collect()
    }
    assert sem, "no semantic pairs at threshold 0.4"
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in embeddings.collect()
    }
    for (d1, d2), sim in sem.items():
        assert d1 < d2 and sim >= 0.4
        a, b = vecs[d1], vecs[d2]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(sim - want) < 1e-6


def test_ivf_index_append_matches_full_assignment(spark, tmp_path):
    """Nightly-ingest append path: build the index on 90% of the corpus,
    append the held-out 10% — (a) every appended vector lands in the cell
    the frozen codebook's argmin picks (numpy ground truth), (b) a query
    for an appended vector's exact twin finds it (the union is
    immediately searchable), (c) the base index files were never
    rewritten."""
    import os

    import numpy as np

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.operators.similarity import (
        ann_ivf_query,
        build_ivf_index,
        ivf_index_append,
    )
    from symat_hbase_tools_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base_dir = str(tmp_path / "corpus90")
    os.makedirs(base_dir, exist_ok=True)
    emb.filter(F.col("vec_id") % 10 != 0).write.mode("overwrite").parquet(
        os.path.join(base_dir, "embeddings.parquet")
    )
    idx = str(tmp_path / "ivf_inc")
    build_ivf_index(spark, base_dir, idx, n_cells=8)
    before = {
        p
        for root, _, files in os.walk(f"{idx}/assignments")
        for p in files
        if p.endswith(".parquet")
    }

    batch = emb.filter(F.col("vec_id") % 10 == 0)
    ivf_index_append(spark, idx, batch)

    # (a) assignment parity vs numpy argmin over the frozen centroids
    cent = spark.read.parquet(f"{idx}/centroids").orderBy("cell").collect()
    C = np.array([r["centroid"] for r in cent])
    got_cells = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{idx}/assignments")
        .filter(F.col("vec_id") % 10 == 0)
        .collect()
    }
    batch_rows = batch.limit(50).collect()
    assert len(got_cells) == batch.count()
    for r in batch_rows:
        v = np.array(list(r["embedding"]), dtype=np.float64)
        want = int(((v[None, :] - C) ** 2).sum(-1).argmin())
        assert got_cells[r["vec_id"]] == want

    # (b) appended vectors are immediately searchable: querying with the
    # appended vectors themselves returns sim=1.0 twins only where true
    got = ann_ivf_query(spark, idx, batch.limit(20), k=5, n_probe=8)
    assert got.count() > 0

    # (c) append never rewrites existing files
    after = {
        p
        for root, _, files in os.walk(f"{idx}/assignments")
        for p in files
        if p.endswith(".parquet")
    }
    assert before <= after and len(after) > len(before)


def test_indexed_ivf_recall_check_entry(spark):
    """Driver-visible persisted-index recall check: spilled-assignment
    (n_assign=3) index at n_probe=6/16 measured recall@5 0.986 (sf0.001)
    — the floor boolean must come back true and n_queries must mirror the
    corpus count (the oracle's COUNT(*))."""
    from symat_hbase_tools_spark import entry

    row = entry.ann_ivf_indexed_recall_check(spark, SF_DIR).collect()[0]
    assert row["method"] == "ivf_indexed"
    assert row["recall_ok"] is True
    from symat_hbase_tools_spark.sources.tables import load_table

    assert row["n_queries"] == load_table(spark, SF_DIR, "embeddings").count()


def test_topk_rows_deterministic_tie_break():
    """_topk_rows must return, per row, the kk best by (-sim, neighbor_id)
    INCLUDING when more than kk candidates tie at the boundary similarity —
    argpartition alone picks an arbitrary tied subset (round-5 advisory).
    Property-checked against a brute per-row reference over random sims
    with many planted exact ties."""
    import numpy as np

    from hypothesis import given, settings, strategies as st

    from symat_hbase_tools_spark.operators.similarity import _topk_rows

    @settings(max_examples=200, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.integers(1, 8), st.integers(1, 12))
    def check(seed, rows, kk):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(kk, 40))
        # few distinct values => frequent exact boundary ties
        sims = rng.choice([0.1, 0.5, 0.5, 0.9], size=(rows, n)).astype(float)
        # sprinkle -inf self-masks like the kernels do
        sims[rng.random((rows, n)) < 0.1] = -np.inf
        c_ids = rng.permutation(10_000)[:n]
        top, nbr = _topk_rows(sims, c_ids, min(kk, n))
        for r in range(rows):
            want = sorted(zip(-sims[r], c_ids))[: min(kk, n)]
            got = list(zip(-top[r], nbr[r]))
            assert got == want, (r, got, want)

    check()


def test_block_pairs_kernel_sliced_matches_unsliced():
    """The row-block slicing in _block_pairs_kernel (bounded gram memory on
    a hot block) must emit exactly the pairs a single-pass gram would —
    including pairs straddling slice boundaries and the (d1 < d2) id
    ordering when input ids are unsorted."""
    import numpy as np
    import pandas as pd

    from symat_hbase_tools_spark.operators.similarity import _block_pairs_kernel

    rng = np.random.default_rng(7)
    b, dim = 200, 8
    M = rng.normal(size=(b, dim))
    # plant exact clones so the threshold keeps a known structure
    M[50] = M[10]
    M[150] = M[10]
    pdf = pd.DataFrame({
        "vec_id": rng.permutation(10_000)[:b].astype("int64"),
        "emb": list(M),
    })
    full = _block_pairs_kernel(0.7)(pdf)
    sliced = _block_pairs_kernel(0.7, slice_elems=b * 7)(pdf)  # step=7 -> 29 slices
    key = lambda d: sorted(map(tuple, d[["d1", "d2"]].to_numpy()))  # noqa: E731
    assert key(full) == key(sliced)
    assert len(full) >= 3  # the planted clone triangle survives
    assert (full["d1"] < full["d2"]).all()


def test_kmeans_lloyd_empty_trailing_cluster_centroids_exact():
    """Round-6 advisory regression: with trailing EMPTY clusters, the old
    segment math clamped searchsorted starts to n-1, so reduceat stole the
    last sorted row out of the preceding non-empty cluster's segment —
    that cluster's mean excluded one row but divided by the full count.

    Duplicate points force the shape: 6 rows at exactly 2 distinct
    locations with k=3 guarantees >=1 empty cluster every iteration, and
    the two data clusters are separated enough that any kmeans++ init
    converges to their exact means. The buggy math returned a centroid
    pulled off the true mean (e.g. sum over 2 of the 3 rows / 3)."""
    import numpy as np

    from symat_hbase_tools_spark.operators.similarity import _kmeans_pp_lloyd

    a, b = np.array([0.0, 0.0]), np.array([100.0, 7.0])
    X = np.vstack([a, a, a, b, b, b])
    centers = _kmeans_pp_lloyd(X, k=3, seed=13)
    # every returned center must sit EXACTLY on one of the two point
    # locations (exact means of duplicate points; re-seeded empties land
    # on data points too)
    for c in centers:
        assert min(np.abs(c - a).max(), np.abs(c - b).max()) == 0.0, centers
    # and both true locations must be represented
    assert any(np.array_equal(c, a) for c in centers)
    assert any(np.array_equal(c, b) for c in centers)


def test_kmeans_lloyd_segment_sums_property():
    """Property check of the per-cluster mean path: centers returned for a
    convergent run equal numpy groupby means of the final assignment."""
    import numpy as np

    from symat_hbase_tools_spark.operators.similarity import _kmeans_pp_lloyd

    rng = np.random.default_rng(7)
    for trial in range(5):
        # clumpy data with deliberate duplicates -> some empty clusters
        base = rng.normal(size=(4, 3)) * 50
        X = np.repeat(base, repeats=rng.integers(1, 6, size=4), axis=0)
        k = len(X) - 1  # force many empties
        centers = _kmeans_pp_lloyd(X, k=k, seed=trial)
        # recompute assignment and check each non-empty cluster's center
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for j in np.unique(assign):
            np.testing.assert_allclose(
                centers[j], X[assign == j].mean(0), atol=1e-9
            )


def test_build_ivf_index_small_corpus_degrades_to_fewer_cells(spark, tmp_path):
    """Round-6 advisory: n_cells > corpus size must degrade to fewer cells
    (len(centers) rows in the centroid table), not crash with a pandas
    length mismatch."""
    from symat_hbase_tools_spark.operators import similarity
    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "tiny_idx")
    tiny = similarity._emb(spark, SF_DIR).orderBy("vec_id").limit(7)

    import symat_hbase_tools_spark.operators.similarity as S

    real = S._emb
    try:
        S._emb = lambda sp, sd: tiny
        similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=32)
    finally:
        S._emb = real
    cent = spark.read.parquet(f"{idx}/centroids")
    n_cent = cent.count()
    assert 1 <= n_cent <= 7
    queries = load_table(spark, SF_DIR, "embeddings").orderBy("vec_id").limit(7)
    got = similarity.ann_ivf_query(spark, idx, queries, k=3, n_probe=2).collect()
    assert len(got) > 0


def test_sqdist_gemm_identity_argsort_parity():
    """_sqdist_to_centers drops the per-row |x|^2 constant and uses one
    gemm — per-row argsort over cells must match the naive full squared
    distance exactly (ties included, stable sort both sides)."""
    import numpy as np

    from symat_hbase_tools_spark.operators.similarity import _sqdist_to_centers

    rng = np.random.default_rng(0)
    for trial in range(20):
        X = rng.standard_normal((50, 8))
        C = rng.standard_normal((13, 8))
        if trial % 5 == 0:
            C[3] = C[7]  # exact duplicate centroids -> distance ties
        naive = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        fast = _sqdist_to_centers(X, C)
        assert (
            naive.argsort(1, kind="stable") == fast.argsort(1, kind="stable")
        ).all()


def test_ivf_caches_survive_session_identity_changes(spark, tmp_path):
    """Round-7 advisory: the process-global IVF caches are keyed by path
    only and hold session-bound objects. A probe cache persisted by a
    stopped session must not wedge the next ann_ivf_query (unpersist on a
    dead context throws), and a relation memoized under a previous
    session's applicationId must be evicted, never served."""
    import os

    import symat_hbase_tools_spark.operators.similarity as S
    from symat_hbase_tools_spark.plans.serve_cache import outstanding, pin
    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "idx")
    S.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    queries = load_table(spark, SF_DIR, "embeddings").orderBy("vec_id").limit(5)

    class DeadProbeCache:
        released = False

        def persist(self, level):
            return self

        def semanticHash(self):
            return -1

        def unpersist(self, blocking=False):
            DeadProbeCache.released = True
            raise RuntimeError("Cannot call methods on a stopped SparkContext")

    pin(DeadProbeCache(), "ivf_probe")
    cent_path = os.path.abspath(os.path.join(idx, "centroids"))
    dead_key = ("application_from_a_stopped_session", cent_path)
    S._IVF_RELATION_CACHE[dead_key] = object()  # not a usable DataFrame

    got = S.ann_ivf_query(spark, idx, queries, k=3, n_probe=2).collect()

    assert len(got) > 0
    # the dead entry was released from the probe slot (its throw swallowed)
    assert DeadProbeCache.released
    assert outstanding()["ivf_probe"] == 1
    assert dead_key not in S._IVF_RELATION_CACHE
    live_key = (spark.sparkContext.applicationId, cent_path)
    assert live_key in S._IVF_RELATION_CACHE


def test_codebook_cache_distinguishes_same_cardinality_subsets(spark):
    """Round-7 advisory: the codebook memo keyed on (path, mtime, count)
    served a stale fit to any same-cardinality subset of the corpus. The
    content fingerprint (vec_id hashsum/min/max) must split those keys."""
    import symat_hbase_tools_spark.operators.similarity as S

    from pyspark.sql import functions as F

    full = S._emb(spark, SF_DIR)
    low = full.orderBy("vec_id").limit(16)
    high = full.orderBy(F.desc("vec_id")).limit(16)

    real = S._emb
    try:
        S._emb = lambda sp, sd: low
        c_low, _ = S._codebook_cached(spark, SF_DIR, n_cells=4, seed=7)
        S._emb = lambda sp, sd: high
        c_high, _ = S._codebook_cached(spark, SF_DIR, n_cells=4, seed=7)
    finally:
        S._emb = real
        S._clear_codebook_cache()

    assert not np.array_equal(np.asarray(c_low), np.asarray(c_high))


def test_hard_negatives_match_numpy_and_exclude_positives(spark, embeddings):
    """Hard negatives = exact top-k most-similar DIFFERENT-label vectors:
    verified against a numpy brute force with the same-label mask, and no
    returned pair may share a label."""
    pdf = embeddings.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    M = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    S[labels[:, None] == labels[None, :]] = -np.inf
    want = {}
    for r, qid in enumerate(ids):
        order = np.lexsort((ids, -S[r]))[:3]
        want[int(qid)] = [int(ids[i]) for i in order]

    out = similarity.embedding_hard_negatives(spark, SF_DIR, k=3).collect()
    label_of = dict(zip(ids.tolist(), labels.tolist()))
    got: dict[int, list[int]] = {}
    for r in sorted(out, key=lambda r: (r["query_id"], -r["sim"], r["negative_id"])):
        assert label_of[r["query_id"]] != label_of[r["negative_id"]]
        got.setdefault(r["query_id"], []).append(r["negative_id"])
    assert len(got) == len(want)
    exact = sum(got[q] == want[q] for q in want)
    assert exact >= 0.99 * len(want)


def test_hard_negatives_ann_recall_and_label_mask(spark, embeddings):
    """The label-masked LSH hard-negative plan (auto_route=False — the
    routed default is the exact form below the crossover) must only emit
    different-label pairs and hold the asserted recall floor vs the exact
    form (measured 1.0 at sf0.001-0.1; floor 0.8)."""
    pdf = embeddings.toPandas()
    label_of = dict(zip(pdf["vec_id"].tolist(), pdf["label"].tolist()))
    out = similarity.embedding_hard_negatives_ann(
        spark, SF_DIR, k=5, auto_route=False
    ).collect()
    assert out
    for r in out:
        assert label_of[r["query_id"]] != label_of[r["negative_id"]]
    chk = similarity.hard_negatives_ann_recall_check(spark, SF_DIR).collect()
    assert len(chk) == 1 and chk[0]["recall_ok"]


def test_hard_negatives_ann_routes_to_exact_below_crossover(spark):
    """Below ANN_BRUTE_CROSSOVER the default plan IS the exact label-masked
    brute force — result sets must be identical."""
    routed = {
        (r["query_id"], r["negative_id"], r["sim"])
        for r in similarity.embedding_hard_negatives_ann(spark, SF_DIR, k=5).collect()
    }
    exact = {
        (r["query_id"], r["negative_id"], r["sim"])
        for r in similarity.embedding_hard_negatives(spark, SF_DIR, k=5).collect()
    }
    assert routed == exact


def test_indexed_hard_negatives_full_probe_equals_exact(spark, tmp_path):
    """A label-bearing IVF index probed EXHAUSTIVELY (n_probe = n_cells)
    must reproduce the exact hard-negative set bit-for-bit — partition
    pruning and the in-kernel mask change cost, never answers. A
    label-less appended batch serves plain queries but stays invisible
    to mining (null labels are excluded candidates)."""
    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "lbl_idx")
    similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=8)
    assigned = spark.read.parquet(f"{idx}/assignments")
    assert "label" in assigned.columns

    emb = load_table(spark, SF_DIR, "embeddings")
    got = {
        (r["query_id"], r["negative_id"], r["sim"])
        for r in similarity.ann_ivf_query_negatives(
            spark, idx, emb, k=5, n_probe=8
        ).collect()
    }
    exact = {
        (r["query_id"], r["negative_id"], r["sim"])
        for r in similarity.embedding_hard_negatives(spark, SF_DIR, k=5).collect()
    }
    assert got == exact

    # label-less append: rows land in the index with a NULL label …
    batch = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    ).limit(20)
    similarity.ivf_index_append(spark, idx, batch)
    appended = spark.read.parquet(f"{idx}/assignments").filter(
        F.col("vec_id") >= 1_000_000
    )
    assert appended.count() == 20
    assert appended.filter(F.col("label").isNotNull()).count() == 0
    # … and mining still returns exactly the labeled-only answer
    again = {
        (r["query_id"], r["negative_id"], r["sim"])
        for r in similarity.ann_ivf_query_negatives(
            spark, idx, emb, k=5, n_probe=8
        ).collect()
    }
    assert again == exact


def test_indexed_hard_negatives_requires_label_column(spark, tmp_path):
    """Mining against a label-less index must refuse loudly, not silently
    return positives."""
    import pytest as _pytest

    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "nolbl_idx")
    similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    # strip the label column to simulate a label-less index
    a = spark.read.parquet(f"{idx}/assignments").select("vec_id", "emb", "cell")
    a.write.mode("overwrite").parquet(f"{idx}2/assignments")
    spark.read.parquet(f"{idx}/centroids").write.mode("overwrite").parquet(
        f"{idx}2/centroids"
    )
    emb = load_table(spark, SF_DIR, "embeddings")
    with _pytest.raises(ValueError, match="no label column"):
        similarity.ann_ivf_query_negatives(spark, f"{idx}2", emb, k=3, n_probe=2)


def test_masked_paths_refuse_non_integral_labels(spark, tmp_path):
    """A string label would cast to NULL in the Arrow kernels and silently
    disable the positive mask — the masked paths must refuse instead."""
    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "idx")
    similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    bad = (
        load_table(spark, SF_DIR, "embeddings")
        .withColumn("label", F.concat(F.lit("cls-"), F.col("label")))
        .limit(10)
    )
    with pytest.raises(ValueError, match="integral label"):
        similarity.ann_ivf_query_negatives(spark, idx, bad, k=3, n_probe=2)
    with pytest.raises(ValueError, match="integral label"):
        similarity.ivf_index_append(spark, idx, bad)


def test_build_ivf_index_string_label_builds_labelless_index(spark, tmp_path):
    """A NON-integral label on the source must not block a PLAIN index
    build (round-9 advisory — the hard raise here regressed every source
    with string categories): the label is skipped with a warning, plain
    serving works, and mining against the resulting label-less index
    refuses with the descriptive error."""
    import os
    import warnings as _warnings

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    base_dir = str(tmp_path / "strlbl")
    os.makedirs(base_dir, exist_ok=True)
    (
        load_table(spark, SF_DIR, "embeddings")
        .withColumn("label", F.concat(F.lit("cls-"), F.col("label")))
        .write.mode("overwrite")
        .parquet(os.path.join(base_dir, "embeddings.parquet"))
    )
    idx = str(tmp_path / "strlbl_idx")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        similarity.build_ivf_index(spark, base_dir, idx, n_cells=4)
    assert any("not integral" in str(w.message) for w in caught)
    assert "label" not in spark.read.parquet(f"{idx}/assignments").columns
    # plain ANN serving off the label-less index works
    q = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(5)
    assert similarity.ann_ivf_query(spark, idx, q, k=3, n_probe=4).count() > 0
    # mining refuses with the label-less-index error, not a crash
    labeled = load_table(spark, SF_DIR, "embeddings").limit(5)
    with pytest.raises(ValueError, match="no label column"):
        similarity.ann_ivf_query_negatives(spark, idx, labeled, k=3, n_probe=2)


def test_masked_paths_missing_label_column_descriptive_error(spark, tmp_path):
    """A query frame with NO label column must surface the descriptive
    ValueError, not a raw KeyError from df.schema['label'] (round-9
    advisory)."""
    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "idx_misslbl")
    similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    unlabeled = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .limit(5)
    )
    with pytest.raises(ValueError, match="requires a 'label' column"):
        similarity.ann_ivf_query_negatives(spark, idx, unlabeled, k=3, n_probe=2)


def test_long_labels_beyond_int32_mask_correctly(spark, tmp_path):
    """Labels above int32 range must ride the masked kernels as int64
    end-to-end (round-9 advisory): the old int32 narrowing either threw
    under ANSI or wrapped — and wrapped labels collide, silently masking
    valid negatives. Two labels that COLLIDE mod 2^32 prove the point: a
    wrap would mask the cross-label pairs and return nothing."""
    import os

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    rng = np.random.default_rng(7)
    n, dim = 40, similarity.DIM
    # labels 2^31+5 and that plus 2^32: distinct as int64, equal mod 2^32
    la, lb = (1 << 31) + 5, (1 << 31) + 5 + (1 << 32)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [
                rng.standard_normal(dim).tolist() for _ in range(n)
            ],
            "label": [la if i % 2 == 0 else lb for i in range(n)],
        }
    )
    base_dir = str(tmp_path / "longlbl")
    os.makedirs(base_dir, exist_ok=True)
    sdf = spark.createDataFrame(pdf).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.col("label").cast("long").alias("label"),
    )
    sdf.write.mode("overwrite").parquet(
        os.path.join(base_dir, "embedding" + "s.parquet")
    )

    # exact broadcast-BLAS path
    exact = similarity.embedding_hard_negatives(spark, base_dir, k=3).collect()
    lbl = {int(r["vec_id"]): int(r["label"]) for r in sdf.collect()}
    assert exact, "long labels must not throw or mask everything"
    for r in exact:
        assert lbl[r["query_id"]] != lbl[r["negative_id"]]

    # LSH bucket-kernel path (label rides extra_cols as long)
    base = sdf.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    ann = similarity.lsh_topk_df(
        base, k=3, num_planes=2, num_tables=4, label_col="label"
    ).collect()
    assert ann
    for r in ann:
        assert lbl[r["query_id"]] != lbl[r["neighbor_id"]]

    # persisted-index path: build keeps long labels, full-probe mining
    # respects them
    idx = str(tmp_path / "longlbl_idx")
    similarity.build_ivf_index(spark, base_dir, idx, n_cells=2)
    a_schema = spark.read.parquet(f"{idx}/assignments").schema
    assert a_schema["label"].dataType.simpleString() == "bigint"
    qdf = load_table(spark, base_dir, "embeddings")
    mined = similarity.ann_ivf_query_negatives(
        spark, idx, qdf, k=3, n_probe=2
    ).collect()
    assert mined
    for r in mined:
        assert lbl[r["query_id"]] != lbl[r["negative_id"]]


def test_ivf_index_append_matches_index_label_type(spark, tmp_path):
    """Appends must write the INDEX's on-disk label type so one
    assignments directory never mixes int32/int64 parquet columns (the
    vectorized reader refuses mixed physical types)."""
    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "append_t_idx")
    similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    built_t = (
        spark.read.parquet(f"{idx}/assignments")
        .schema["label"]
        .dataType.simpleString()
    )
    batch = (
        load_table(spark, SF_DIR, "embeddings")
        .limit(7)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .withColumn("label", F.col("label").cast("int"))
    )
    similarity.ivf_index_append(spark, idx, batch)
    merged = spark.read.parquet(f"{idx}/assignments")
    assert merged.schema["label"].dataType.simpleString() == built_t
    # and the merged index still reads end-to-end
    assert merged.filter(F.col("vec_id") >= 1_000_000).count() == 7


def test_cell_topk_kernel_sliced_matches_unsliced_adversarial_width(monkeypatch):
    """An adversarially wide bucket (many queries x many candidates) must
    produce BIT-IDENTICAL output whether the kernel slices its query axis
    or not — slicing partitions the query ids, so per-slice top-k rows
    concatenate without a merge. Forces a tiny KERNEL_SLICE_ELEMS so a
    400x300 group runs in many slices, through each cell kernel: exact
    (with and without the label mask), PQ-ADC and BQ."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    n_q, n_c, dim = 400, 300, 16
    qpdf = pd.DataFrame(
        {
            "query_id": np.arange(n_q, dtype=np.int64),
            "qe": [rng.standard_normal(dim).tolist() for _ in range(n_q)],
            "ql": (np.arange(n_q, dtype=np.int64) % 7),
        }
    )
    cpdf = pd.DataFrame(
        {
            "neighbor_id": np.arange(100, 100 + n_c, dtype=np.int64),
            "ce": [rng.standard_normal(dim).tolist() for _ in range(n_c)],
            "cl": (np.arange(n_c, dtype=np.int64) % 7),
        }
    )
    # overlap some ids so the self-match mask fires too
    cpdf.loc[:49, "neighbor_id"] = np.arange(50, dtype=np.int64)

    # the PQ-ADC and BQ codec kernels slice the same way: members carry
    # PQ codes (m=4 subspaces x 8 codewords of a random codebook) or two
    # packed sign-bit words under the overlapping ids
    from types import SimpleNamespace

    books = SimpleNamespace(value=rng.standard_normal((4, 8, dim // 4)))
    codes_pdf = pd.DataFrame(
        {
            "vec_id": cpdf["neighbor_id"],
            "codes": [rng.integers(0, 8, 4).tolist() for _ in range(n_c)],
        }
    )
    # sign-bit words pack 64 dims, so the BQ queries are 64-dim
    qpdf64 = qpdf.assign(qe=[rng.standard_normal(64).tolist() for _ in range(n_q)])
    words_pdf = pd.DataFrame(
        {
            "vec_id": cpdf["neighbor_id"],
            "w0": rng.integers(0, 1 << 32, n_c, dtype=np.int64),
            "w1": rng.integers(0, 1 << 32, n_c, dtype=np.int64),
        }
    )
    kernels = {
        "exact": lambda: similarity._cell_topk_kernel(5)(qpdf, cpdf),
        "exact_masked": lambda: similarity._cell_topk_kernel(
            5, label_mask=True
        )(qpdf, cpdf),
        "pq": lambda: similarity._pq_cell_kernel_factory(7, books)(
            qpdf, codes_pdf
        ),
        "bq": lambda: similarity._bq_cell_kernel_factory(7)(
            qpdf64, words_pdf
        ),
    }

    def run(name):
        return (
            kernels[name]()
            .sort_values(["query_id", "neighbor_id"])
            .reset_index(drop=True)
        )

    full = {name: run(name) for name in kernels}
    monkeypatch.setattr(similarity, "KERNEL_SLICE_ELEMS", 1024)  # ~3-row slices
    sliced = {name: run(name) for name in kernels}
    for name in kernels:
        pd.testing.assert_frame_equal(full[name], sliced[name])
    # and the mask actually did something: merged back onto their labels,
    # the masked output holds no same-label pair and the unmasked one does
    def same_label_pairs(out):
        labeled = out.merge(qpdf[["query_id", "ql"]], on="query_id").merge(
            cpdf[["neighbor_id", "cl"]], on="neighbor_id"
        )
        assert len(labeled) == len(out)
        return int((labeled["ql"] == labeled["cl"]).sum())

    assert same_label_pairs(full["exact_masked"]) == 0
    assert same_label_pairs(full["exact"]) > 0
    # the codec kernels keep their own shortlist depth, self-matches out
    for name in ("pq", "bq"):
        per_query = full[name].groupby("query_id").size()
        assert per_query.max() == 7 and len(per_query) == n_q, name
        assert not (full[name]["query_id"] == full[name]["neighbor_id"]).any()


def test_cogroup_shards_scales_with_probe_volume():
    """The adaptive (t,b) shard count must grow with estimated probe
    volume and stay put for small corpora: at 5k vectors the estimate is
    below one target partition; at 200k with adaptive planes it demands
    dozens (the round-9 OOM regime put ~38 GB on 32 partitions; the
    round-10 A/B-tuned 512 MB target yields ~66)."""
    small = similarity._cogroup_shards(
        5_000, 8, similarity._adaptive_planes(5_000), True
    )
    big = similarity._cogroup_shards(
        200_000, 8, similarity._adaptive_planes(200_000), True
    )
    assert small <= 8
    # 2x the 32-way concurrency floor of the OOM regime, target-relative
    assert big >= (32 << 30) // similarity.TARGET_COGROUP_PARTITION_BYTES
    # monotone in n and in probe count
    assert similarity._cogroup_shards(400_000, 8, 13, True) > big * 1.5
    assert similarity._cogroup_shards(200_000, 8, 13, False) < big


def test_ivf_index_append_lossy_label_cast_fails_without_ansi(spark, tmp_path):
    """Round-10 advisory: the append's narrowing label cast must assert
    losslessness EXPLICITLY — with ANSI off, a bare cast to a legacy
    int-labeled index silently WRAPS an out-of-range int64 label into a
    colliding int32 value, reintroducing the masking bug the round-9 fix
    targeted. The guard (round-back equality + assert_true) must fail
    loudly regardless of the session's ANSI setting."""
    import shutil

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "legacy_int_idx")
    similarity.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    # forge a LEGACY index whose on-disk label type is int32
    a = spark.read.parquet(f"{idx}/assignments").withColumn(
        "label", F.col("label").cast("int")
    )
    a.write.partitionBy("cell").parquet(f"{idx}/assignments_int")
    shutil.rmtree(f"{idx}/assignments")
    shutil.move(f"{idx}/assignments_int", f"{idx}/assignments")
    similarity._invalidate_ivf_relations(idx)

    batch = (
        load_table(spark, SF_DIR, "embeddings")
        .limit(3)
        .withColumn("vec_id", F.col("vec_id") + 2_000_000)
        # wraps to a small colliding int32 under a bare non-ANSI cast
        .withColumn("label", F.lit((1 << 32) + 7).cast("long"))
    )
    ansi_before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="out of range"):
            similarity.ivf_index_append(spark, idx, batch)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_before)
    # nothing was appended past the failed guard
    similarity._invalidate_ivf_relations(idx)
    merged = spark.read.parquet(f"{idx}/assignments")
    assert merged.filter(F.col("vec_id") >= 2_000_000).count() == 0
    # and an IN-RANGE append against the same legacy index still lands
    ok = (
        load_table(spark, SF_DIR, "embeddings")
        .limit(3)
        .withColumn("vec_id", F.col("vec_id") + 3_000_000)
        .withColumn("label", F.lit(11).cast("long"))
    )
    similarity.ivf_index_append(spark, idx, ok)
    merged = spark.read.parquet(f"{idx}/assignments")
    assert merged.filter(F.col("vec_id") >= 3_000_000).count() == 3


def test_embedding_outlier_flags_match_numpy(spark, embeddings):
    """The exact-integer pipeline (micros quantization -> integer distance
    sums -> integer power sums -> one-sqrt threshold) must reproduce a
    plain numpy reference of the same quantized computation, and flags
    must be monotone in distance within each label (everything beyond the
    smallest flagged distance is flagged)."""
    import numpy as np

    def round_half_away(x):
        # Spark/DuckDB round() is half-AWAY-from-zero; np.round is
        # half-to-even — a real component landing on .5 micros flips
        # between the two (caught live by this test's first run)
        return np.copysign(np.floor(np.abs(x) + 0.5), x)

    out = {
        r["vec_id"]: (r["label"], r["dist_micros"], r["is_outlier"])
        for r in similarity.embedding_outlier_flags(spark, SF_DIR).collect()
    }
    rows = embeddings.filter("label is not null").collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(
            (
                r["vec_id"],
                round_half_away(
                    np.array(r["embedding"], dtype=np.float64) * 1e6
                ),
            )
        )
    n_checked = 0
    for label, vs in by_label.items():
        Q = np.array([v for _, v in vs], dtype=np.int64)
        c_q = round_half_away(Q.sum(axis=0, dtype=np.int64) / len(vs)).astype(
            np.int64
        )
        d = round_half_away(
            np.sqrt(((Q - c_q) ** 2).sum(axis=1).astype(np.float64))
        )
        thr = d.mean() + 2.0 * np.sqrt(
            max(((d * d).mean() - d.mean() ** 2), 0.0)
        )
        for (vec_id, _), di in zip(vs, d):
            got_label, got_d, got_flag = out[vec_id]
            assert got_label == label
            assert got_d == int(di)
            assert got_flag == bool(di > thr), (vec_id, di, thr)
            n_checked += 1
    assert n_checked == len(out) > 0


def test_matryoshka_census_matches_numpy_and_invariants(spark, embeddings):
    """Prefix-energy retention vs a numpy recomputation of the same
    quantized-micros math (half-away rounding, like the outlier test);
    invariants: k=64 retention is exactly 1.0 for every vector (min ==
    max == 1e6, n_ge_90pct == n), and mean retention is monotone in k."""
    import numpy as np

    def round_half_away(x):
        return np.copysign(np.floor(np.abs(x) + 0.5), x)

    rows = {r["k"]: r for r in similarity.matryoshka_census(spark, SF_DIR).collect()}
    assert set(rows) == {8, 16, 32, 64}
    full = rows[64]
    assert full["min_retention_micros"] == full["max_retention_micros"] == 1_000_000
    assert full["n_ge_90pct"] == full["n_vectors"]
    means = [rows[k]["mean_retention"] for k in (8, 16, 32, 64)]
    assert means == sorted(means)

    Q = np.array(
        [
            round_half_away(np.array(r["embedding"], dtype=np.float64) * 1e6)
            for r in embeddings.collect()
        ],
        dtype=np.int64,
    )
    e_full = (Q * Q).sum(axis=1)
    keep = e_full > 0
    for k in (8, 16, 32):
        ek = (Q[:, :k] * Q[:, :k]).sum(axis=1)
        ret = round_half_away(ek[keep] / e_full[keep] * 1e6)
        r = rows[k]
        assert r["n_vectors"] == int(keep.sum())
        assert r["min_retention_micros"] == int(ret.min())
        assert r["max_retention_micros"] == int(ret.max())
        assert r["mean_retention"] == ret.sum() / len(ret) / 1e6
        assert r["n_ge_90pct"] == int((ret >= 900_000).sum())


def test_pq_census_matches_pure_numpy(spark):
    """embedding_pq_fit's census must equal a from-scratch numpy PQ over
    the same parquet: same seeded per-subspace Lloyd fit on the sorted
    sample, same argmin encode, same (subspace, code) counts and rounded
    mean squared distances — full-loop determinism of the fit+encode."""
    import numpy as np
    import pandas as pd

    from symat_hbase_tools_spark.operators import similarity as S

    m, k, seed = 4, 16, 42
    got = {
        (r["subspace"], r["code"]): (r["n_members"], r["mean_sq_dist"])
        for r in S.embedding_pq_fit(spark, SF_DIR, m=m, k=k, seed=seed).collect()
    }

    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values("vec_id")
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    d = X.shape[1]
    ds = d // m
    want = {}
    for j in range(m):
        C = S._kmeans_pp_lloyd(X[:, j * ds : (j + 1) * ds], k, seed + j)
        Sj = X[:, j * ds : (j + 1) * ds]
        dist = ((Sj[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cj = dist.argmin(axis=1)
        d2g = np.round(dist[np.arange(len(Sj)), cj] * 1e9).astype(np.int64)
        for code in np.unique(cj):
            mask = cj == code
            want[(j, int(code))] = (
                int(mask.sum()),
                round(float(d2g[mask].sum()) / int(mask.sum()) / 1e9, 6),
            )
    assert got == want


def test_ivfpq_cell_scan_is_compressed_domain(spark):
    """The IVF-PQ member side shuffled into the cell cogroup must carry PQ
    CODES, not raw embedding arrays — the compression must be in the PLAN
    (a codes column of m smallints vs d doubles), not just a storage
    claim. Also: recall floor holds (the check's own assertion)."""
    from symat_hbase_tools_spark.operators import similarity as S

    df = S.ann_ivfpq_topk(spark, SF_DIR, k=3)
    plan = df._jdf.queryExecution().toString()
    # the cogroup kernel's member schema is (neighbor_id, cell, codes) —
    # raw member vectors appear only in the final refine join
    assert "codes" in plan
    check = S.ann_ivfpq_recall_check(spark, SF_DIR).collect()[0]
    assert check["recall_ok"] is True and check["method"] == "ivfpq"


def test_ivfbq_cell_scan_carries_packed_words_only(spark):
    """The IVF-BQ member side shuffled into the cell cogroup must carry
    the TWO packed sign-bit bigints (16 B/member), not raw embedding
    arrays — the 1-bit compression must be in the PLAN; raw vectors
    appear only in the final refine join. Recall floor holds."""
    from symat_hbase_tools_spark.operators import similarity as S

    df = S.ann_ivfbq_topk(spark, SF_DIR, k=3)
    plan = df._jdf.queryExecution().toString()
    assert "w0" in plan and "w1" in plan
    check = S.ann_ivfbq_recall_check(spark, SF_DIR).collect()[0]
    assert check["recall_ok"] is True and check["method"] == "ivfbq"


def test_ivfbq_exhaustive_probe_equals_exact_knn(spark):
    """With every cell probed and an exhaustive per-cell shortlist, the
    BQ first pass prunes nothing and the exact refine must reproduce
    exact brute-force top-k bit-for-bit (ids AND rounded sims) — pins
    the composition's plumbing (probe fanout, cogroup, dedup, rerank)
    separately from its approximation quality."""
    from symat_hbase_tools_spark.operators import similarity as S

    exact = {
        (r["query_id"], r["neighbor_id"], r["sim"])
        for r in S.knn_cosine_topk(spark, SF_DIR, k=3).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"], r["sim"])
        for r in S.ann_ivfbq_topk(
            spark, SF_DIR, k=3, n_cells=6, n_probe=6, n_assign=1,
            cell_shortlist_mult=10_000,
        ).collect()
    }
    assert got == exact


def test_pq_tiers_on_corpus_smaller_than_n_codes(spark, tmp_path):
    """The PQ codebook fit clamps its code count to the training sample,
    so a 40-vector corpus gets 40 codewords per subspace, not the
    requested 64: the ADC lookup tables must be sized from the fitted
    codebooks, and both PQ tiers return k rows per query."""
    from symat_hbase_tools_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "embeddings").orderBy("vec_id").limit(40).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    for fn in (similarity.ann_pq_topk, similarity.ann_ivfpq_topk):
        rows = fn(spark, str(tmp_path), k=3).collect()
        per_query = {}
        for r in rows:
            per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
        assert len(per_query) == 40 and set(per_query.values()) == {3}, fn.__name__


def test_ivf_pipeline_stages_are_not_copied():
    """The IVF tiers share one probe stage, one kernel factory per codec
    and one refine stage: a nested copy of a probe generator, a PQ-ADC
    kernel or a PQ/BQ encoder, or a second probe-table pin site, means a
    copy came back."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(similarity))
    banned = {"query_probes", "probes_for", "adc_cell_kernel", "encode", "pack"}
    nested = [
        (outer.name, inner.name, inner.lineno)
        for outer in ast.walk(tree)
        if isinstance(outer, ast.FunctionDef)
        for inner in ast.walk(outer)
        if inner is not outer
        and isinstance(inner, ast.FunctionDef)
        and inner.name in banned
    ]
    assert not nested, f"nested copies of shared IVF stages: {nested}"
    probe_pins = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", getattr(node.func, "attr", None)) == "pin"
        and any(
            isinstance(a, ast.Constant) and a.value == "ivf_probe"
            for a in list(node.args) + [kw.value for kw in node.keywords]
        )
    ]
    assert len(probe_pins) == 1, f"ivf_probe pin sites at lines {probe_pins}"


def test_persisted_ivfpq_lifecycle(spark, tmp_path):
    """build -> add-pq -> query-pq end to end: PQ-served results EXACTLY
    match the exact-in-cell persisted query at the same probes (the ADC
    shortlist + refine loses nothing at this scale); appending raw
    vectors STALES the PQ layer (refused with the re-encode message);
    re-encoding finds appended clones at sim 1.0. The ADC scan's plan
    reads the pq_codes tree with the probe list as a partition filter."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from symat_hbase_tools_spark.operators import similarity as S

    idx = str(tmp_path / "idx")
    S.build_ivf_index(spark, SF_DIR, idx, n_cells=8, n_assign=2)
    S.ivf_index_add_pq(spark, idx)  # default m=16, 64 codes
    qs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(30)
    pq = S.ann_ivfpq_query(spark, idx, qs, k=3, n_probe=4)
    ex = S.ann_ivf_query(spark, idx, qs, k=3, n_probe=4)
    # contract vs the exact-in-cell search at the SAME probes: high id
    # recall and a near-zero per-query quality gap (exact set equality is
    # not promised — the ADC shortlist is an approximation; measured at
    # the defaults: 150/150 identical at sf0.01)
    n_ex = ex.count()
    hits = pq.join(ex, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits >= 0.9 * n_ex, (hits, n_ex)
    gap = (
        ex.groupBy("query_id").agg(F.sum("sim").alias("se"))
        .join(pq.groupBy("query_id").agg(F.sum("sim").alias("sp")), "query_id")
        .agg(F.avg(F.col("se") - F.col("sp")).alias("mean"))
        .collect()[0]["mean"]
    )
    # MEAN top-3 quality gap, not worst-case: at 500 vectors a single
    # shortlist miss on one query is within the approximation contract
    assert gap <= 0.005, gap
    # partition pruning reaches the codes tree (same mechanism the
    # assignments-tree test asserts: the cell isin list is a partition
    # filter on the directory column)
    from symat_hbase_tools_spark.plans.explain import plan_string

    codes_plan = plan_string(
        spark.read.parquet(f"{idx}/pq_codes").filter("cell IN (1, 2)")
    )
    assert (
        "PartitionFilters" in codes_plan
        and "cell" in codes_plan.split("PartitionFilters")[1].split("]")[0]
    )
    # staleness guard + re-encode
    clones = qs.limit(4).withColumn("vec_id", F.col("vec_id") + 9_000_000)
    S.ivf_index_append(spark, idx, clones, n_assign=1)
    with _pytest.raises(ValueError, match="STALE"):
        S.ann_ivfpq_query(spark, idx, qs, k=3).count()
    S.ivf_index_add_pq(spark, idx)
    found = S.ann_ivfpq_query(spark, idx, clones, k=3, n_probe=4)
    hits = found.filter(
        (F.col("neighbor_id") == F.col("query_id") - 9_000_000)
        & (F.abs(F.col("sim") - 1.0) < 1e-6)
    ).count()
    assert hits == 4


def test_persisted_ivfbq_lifecycle(spark, tmp_path):
    """build -> add-bq -> query-bq end to end (the 1-bit persisted layer,
    round 14): high id-recall and near-zero mean quality gap vs the
    exact-in-cell persisted query at the SAME probes; the bq_codes tree
    is partition-pruned by the probe list; appending raw vectors STALES
    the layer (refused with the re-encode message); re-encoding finds
    appended clones at sim 1.0."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from symat_hbase_tools_spark.operators import similarity as S

    idx = str(tmp_path / "idx")
    S.build_ivf_index(spark, SF_DIR, idx, n_cells=8, n_assign=2)
    # querying before add-bq refuses with the build instruction
    qs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(30)
    with _pytest.raises(ValueError, match="no BQ layer"):
        S.ann_ivfbq_query(spark, idx, qs, k=3).count()
    S.ivf_index_add_bq(spark, idx)
    bq = S.ann_ivfbq_query(spark, idx, qs, k=3, n_probe=4)
    ex = S.ann_ivf_query(spark, idx, qs, k=3, n_probe=4)
    n_ex = ex.count()
    hits = bq.join(ex, ["query_id", "neighbor_id"], "left_semi").count()
    assert hits >= 0.9 * n_ex, (hits, n_ex)
    gap = (
        ex.groupBy("query_id").agg(F.sum("sim").alias("se"))
        .join(bq.groupBy("query_id").agg(F.sum("sim").alias("sp")), "query_id")
        .agg(F.avg(F.col("se") - F.col("sp")).alias("mean"))
        .collect()[0]["mean"]
    )
    assert gap <= 0.005, gap
    from symat_hbase_tools_spark.plans.explain import plan_string

    codes_plan = plan_string(
        spark.read.parquet(f"{idx}/bq_codes").filter("cell IN (1, 2)")
    )
    assert (
        "PartitionFilters" in codes_plan
        and "cell" in codes_plan.split("PartitionFilters")[1].split("]")[0]
    )
    clones = qs.limit(4).withColumn("vec_id", F.col("vec_id") + 9_000_000)
    S.ivf_index_append(spark, idx, clones, n_assign=1)
    with _pytest.raises(ValueError, match="STALE"):
        S.ann_ivfbq_query(spark, idx, qs, k=3).count()
    S.ivf_index_add_bq(spark, idx)
    found = S.ann_ivfbq_query(spark, idx, clones, k=3, n_probe=4)
    hits = found.filter(
        (F.col("neighbor_id") == F.col("query_id") - 9_000_000)
        & (F.abs(F.col("sim") - 1.0) < 1e-6)
    ).count()
    assert hits == 4


def test_ivf_stale_check_reads_recorded_row_counts(spark, tmp_path, monkeypatch):
    """The STALE check of the persisted code layers compares the row counts
    recorded when each tree was written (an observe on the write), so a
    query's construction runs no count job over the trees. The records
    equal the trees' counts, an append adds to the assignments count, and
    a tree without a record is still checked by counting it."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from symat_hbase_tools_spark.operators import similarity as S
    from symat_hbase_tools_spark.sources.io import write_json

    idx = str(tmp_path / "idx")
    S.build_ivf_index(spark, SF_DIR, idx, n_cells=8, n_assign=2)
    S.ivf_index_add_pq(spark, idx)
    S.ivf_index_add_bq(spark, idx)
    for layer in ("assignments", "pq_codes", "bq_codes"):
        assert S._recorded_rows(spark, f"{idx}/{layer}") == (
            spark.read.parquet(f"{idx}/{layer}").count()
        ), layer
    qs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(10)

    def construct_jobs(query):
        return jobs_run(spark, lambda: query(spark, idx, qs, k=3, n_probe=4))[1]

    queries = (S.ann_ivfpq_query, S.ann_ivfbq_query)
    for q in queries:  # opens the index relations, which run jobs once
        construct_jobs(q)
    recorded = [construct_jobs(q) for q in queries]
    with monkeypatch.context() as m:
        m.setattr(S, "_recorded_rows", lambda *a: None)
        counted = [construct_jobs(q) for q in queries]
    assert all(c >= r + 2 for c, r in zip(counted, recorded)), (recorded, counted)

    n_before = S._recorded_rows(spark, f"{idx}/assignments")
    clones = qs.limit(4).withColumn("vec_id", F.col("vec_id") + 9_000_000)
    S.ivf_index_append(spark, idx, clones, n_assign=1)
    assert S._recorded_rows(spark, f"{idx}/assignments") == n_before + 4
    with _pytest.raises(ValueError, match="STALE"):
        S.ann_ivfpq_query(spark, idx, qs, k=3)
    # an append that died midway leaves its count unknown: the trees are
    # counted, and the layer is still refused
    write_json(spark, f"{idx}/assignments/_rows.json", {"rows": None})
    assert S._recorded_rows(spark, f"{idx}/assignments") is None
    with _pytest.raises(ValueError, match="STALE"):
        S.ann_ivfbq_query(spark, idx, qs, k=3)


def test_ivfpq_concurrent_writer_drill(spark, tmp_path):
    """Concurrent-writer drill (r12 verdict ask): a SECOND session appends
    raw vectors between this reader's build and its query. The reader's
    cached index relations are never invalidated (the writer is another
    process — `_invalidate_ivf_relations` is per-process), so the query
    must either REFUSE (STALE) or serve the PRE-APPEND snapshot — never a
    torn result where an appended id surfaces without its PQ codes. A
    reader that then refreshes its relations MUST refuse until the
    re-encode runs; after ivf_index_add_pq it serves the union.
    """
    import pyspark.sql.functions as F
    import pytest as _pytest

    from symat_hbase_tools_spark.operators import similarity as S

    idx = str(tmp_path / "idx")
    S.build_ivf_index(spark, SF_DIR, idx, n_cells=8)
    S.ivf_index_add_pq(spark, idx)
    qs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(20)
    baseline = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_ivfpq_query(spark, idx, qs, k=3, n_probe=4).collect()
    }

    # the concurrent writer: run the real append, then restore the
    # reader's cached (now-stale) relation handles — exactly the state a
    # reader process holds while another process appends, since the
    # writer's invalidation never reaches the reader's cache
    import os

    saved = {
        k: v
        for k, v in S._IVF_RELATION_CACHE.items()
        if k[1].startswith(os.path.abspath(idx))
    }
    clones = qs.limit(3).withColumn("vec_id", F.col("vec_id") + 9_000_000)
    S.ivf_index_append(spark, idx, clones, n_assign=1)
    S._IVF_RELATION_CACHE.update(saved)

    clone_ids = {r["vec_id"] for r in clones.select("vec_id").collect()}
    try:
        mid = {
            (r["query_id"], r["neighbor_id"])
            for r in S.ann_ivfpq_query(spark, idx, qs, k=3, n_probe=4).collect()
        }
    except ValueError as exc:  # refusal is the other acceptable outcome
        assert "STALE" in str(exc)
    else:
        # served: must be the consistent pre-append snapshot, and no
        # appended id may leak into results the codes don't cover
        assert mid == baseline
        assert not {n for _, n in mid} & clone_ids

    # a refreshed reader (new process / invalidated cache) sees the raw
    # append without codes: MUST refuse until the re-encode
    S._invalidate_ivf_relations(idx)
    with _pytest.raises(ValueError, match="STALE"):
        S.ann_ivfpq_query(spark, idx, qs, k=3).count()

    # re-encode closes the drill: appended clones serve at sim 1.0
    S.ivf_index_add_pq(spark, idx)
    found = S.ann_ivfpq_query(spark, idx, clones, k=3, n_probe=8)
    hits = found.filter(
        (F.col("neighbor_id") == F.col("query_id") - 9_000_000)
        & (F.abs(F.col("sim") - 1.0) < 1e-6)
    ).count()
    assert hits == 3


def test_serve_many_probe_cache_bounded_across_both_paths(spark, tmp_path):
    """The r11 advisory fix: alternating ann_ivf_query and ann_ivfpq_query
    calls in one long-lived session must never accumulate persisted probe
    tables — each call releases the previous call's cache (bounded at ONE
    outstanding entry), whichever path persisted it."""
    import symat_hbase_tools_spark.operators.similarity as S
    from symat_hbase_tools_spark.plans.serve_cache import outstanding
    from symat_hbase_tools_spark.sources.tables import load_table

    idx = str(tmp_path / "idx")
    S.build_ivf_index(spark, SF_DIR, idx, n_cells=4)
    S.ivf_index_add_pq(spark, idx, m=8, n_codes=16)
    queries = load_table(spark, SF_DIR, "embeddings").orderBy("vec_id").limit(5)

    for i in range(4):
        fn = S.ann_ivf_query if i % 2 == 0 else S.ann_ivfpq_query
        rows = fn(spark, idx, queries, k=3, n_probe=2).collect()
        assert len(rows) > 0
        assert outstanding().get("ivf_probe", 0) <= 1, (i, outstanding())


def test_binary_quantize_packing_matches_numpy(spark):
    """Sign-bit packing: bit j of word w == (dim 32w+j > 0), exact."""
    from symat_hbase_tools_spark.operators.similarity import (
        embedding_binary_quantize,
    )

    rows = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50).collect()
    want = {}
    for r in rows:
        v = list(r["embedding"])
        w0 = sum(1 << j for j in range(32) if v[j] > 0)
        w1 = sum(1 << j for j in range(32) if v[32 + j] > 0)
        want[r["vec_id"]] = (w0, w1, sum(1 for x in v if x > 0))
    got = {
        r["vec_id"]: (r["bq_w0"], r["bq_w1"], r["n_pos"])
        for r in embedding_binary_quantize(spark, SF_DIR).collect()
        if r["vec_id"] in want
    }
    assert got == want


def test_ann_bq_topk_shape_and_exact_rerank(spark):
    """BQ serving contract: k neighbors per query, no self-matches, sims
    are the EXACT cosine of the reranked pairs (round-6)."""
    import math

    from symat_hbase_tools_spark.operators.similarity import ann_bq_topk

    out = ann_bq_topk(spark, SF_DIR, k=3).collect()
    per_q: dict = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        per_q.setdefault(r["query_id"], []).append(r["sim"])
    assert all(len(v) == 3 for v in per_q.values())
    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    }
    for r in out[:50]:
        a, b = emb[r["query_id"]], emb[r["neighbor_id"]]
        dot = sum(x * y for x, y in zip(a, b))
        sim = dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )
        assert abs(r["sim"] - round(sim, 6)) < 2e-6


def test_binary_quantize_all_negative_and_zero_vectors(spark, tmp_path):
    """Edge packing: an all-negative vector packs to (0, 0, n_pos=0); a
    zero vector too (0 is NOT > 0); an all-positive packs both words to
    2^32-1."""
    rows = [
        (1, [-1.0] * 64, 0),
        (2, [0.0] * 64, 1),
        (3, [1.0] * 64, 0),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    from symat_hbase_tools_spark.operators.similarity import (
        embedding_binary_quantize,
    )

    got = {
        r["vec_id"]: (r["bq_w0"], r["bq_w1"], r["n_pos"])
        for r in embedding_binary_quantize(spark, str(tmp_path)).collect()
    }
    full = (1 << 32) - 1
    assert got == {1: (0, 0, 0), 2: (0, 0, 0), 3: (full, full, 64)}


def test_ivf_drift_census_and_rebalance_mechanics(spark, tmp_path):
    """Round-15 maintenance ops, mechanics pinned on a tiny controlled
    corpus: build writes the stats/ baseline; a fresh census is unflagged;
    a far-from-codebook append flags via the mean-dist ratio; rebalance
    swaps in a re-fit codebook, refreshes the baseline, DROPS a stale
    derived BQ layer with a warning, and the post-rebalance census is
    clean; census without a baseline raises."""
    import os
    import warnings

    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    rows = [(i, base[i].tolist(), 0) for i in range(60)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    idx = str(tmp_path / "idx")
    similarity.build_ivf_index(spark, str(tmp_path), idx, n_cells=4)
    assert os.path.isdir(os.path.join(idx, "stats", "percell"))

    c0 = similarity.ivf_index_drift_census(spark, idx).collect()[0]
    assert not c0["drift_flagged"]
    assert c0["n_vectors"] == c0["baseline_n_vectors"]

    # derived layer present before rebalance -> must be dropped with warning
    similarity.ivf_index_add_bq(spark, idx)

    far = spark.createDataFrame(
        [(1000 + i, (base[i] * 25.0).tolist(), 0) for i in range(20)],
        "vec_id long, embedding array<double>, label long",
    )
    similarity.ivf_index_append(spark, idx, far)
    c1 = similarity.ivf_index_drift_census(spark, idx).collect()[0]
    assert c1["drift_flagged"] and c1["mean_dist"] > c1["baseline_mean_dist"]

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.ivf_index_rebalance(spark, idx)
    assert any("dropping derived layer" in str(x.message) for x in w)
    assert not os.path.isdir(os.path.join(idx, "bq_codes"))
    assert sorted(
        d for d in os.listdir(idx) if not d.startswith("_")
    ) == ["assignments", "centroids", "stats"]

    c2 = similarity.ivf_index_drift_census(spark, idx).collect()[0]
    assert not c2["drift_flagged"]
    assert c2["mean_dist"] < c1["mean_dist"]
    assert c2["n_vectors"] == 80 == c2["baseline_n_vectors"]

    import shutil

    shutil.rmtree(os.path.join(idx, "stats"))
    with pytest.raises(ValueError, match="no stats"):
        similarity.ivf_index_drift_census(spark, idx).collect()
