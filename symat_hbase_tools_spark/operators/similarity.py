"""Similarity search over the embeddings table (ArrayType(FloatType), dim 64).

  * knn_cosine_topk — exact brute-force cosine top-k for every vector.
    JVM-side higher-order functions (zip_with/aggregate) over a broadcast of
    the (smaller) query side; norms are precomputed once per side. This is
    the CORRECTNESS baseline and fine up to ~10^4 queries x 10^6 candidates
    per executor-hour; beyond that use the LSH path.
  * ann_lsh_topk    — random-hyperplane LSH (sign sketches, multiprobe).
    Buckets come from fixed-seed ±1 planes (one numpy matmul per Arrow
    batch) so results are reproducible across runs/clusters. The scale
    path: candidate generation shuffles on bucket ids only; exact cosine
    re-ranks candidates in Arrow batches.

At 100 TB the embeddings table is bucketed by id; the LSH bucket id is a
narrow per-row expression, so candidate generation adds exactly one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.vectors import as_double, cosine
from symat_hbase_tools_spark.plans.serve_cache import pin
from symat_hbase_tools_spark.sources.io import read_json, write_json
from symat_hbase_tools_spark.sources.tables import load_table

DIM = 64


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", as_double(F.col("embedding")).alias("emb"))


def _label_is_integral(df: DataFrame) -> bool:
    """True when ``df`` has an integral ``label`` column (byte through
    long — labels ride the Arrow kernels as int64, so the full long range
    is representable without narrowing)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if "label" not in df.columns:
        return False
    return isinstance(
        df.schema["label"].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    )


def _require_integral_label(df: DataFrame, who: str) -> None:
    """The label-masked ANN/IVF paths carry labels through Arrow kernels
    typed ``long``; silently casting a string label would turn every
    label NULL and disable the positive mask — the masked search would
    then quietly return positives. Refuse loudly instead. Missing-column
    gets the same descriptive error, not a raw KeyError (round-9
    advisory)."""
    if "label" not in df.columns:
        raise ValueError(
            f"{who} requires a 'label' column and the input has none: "
            f"columns are {df.columns}"
        )
    if not _label_is_integral(df):
        t = df.schema["label"].dataType
        raise ValueError(
            f"{who} requires an integral label column, got "
            f"{t.simpleString()}: integer-encode labels first (a non-int "
            "label would cast to NULL and silently disable the same-label "
            "mask)"
        )


# Hard ceiling on the number of query vectors brute_topk will collect and
# broadcast. 1M x 64 dims x 8 bytes = ~0.5 GiB broadcast — the upper edge of
# sane. Above it the query side is NOT "a handful of items to look up", it's
# the corpus itself, and the right plan is LSH bucketing (one shuffle on
# bucket ids) rather than an all-pairs scan against a driver-collected matrix.
MAX_BROADCAST_QUERIES = 1_000_000


def _topk_rows(sims, c_ids, kk):
    """Deterministic per-row top-``kk`` by ``(-sim, neighbor_id)``.

    ``argpartition`` alone picks an ARBITRARY subset when more than ``kk``
    candidates tie at the boundary similarity — the survivors then differ
    run to run and the downstream global window tie-break cannot recover a
    tied neighbor that was dropped locally (round-5 advisory).  Fix: take
    the k-th best value as a pivot, widen the selection window to include
    every boundary tie, then lexsort that window by ``(-sim, neighbor_id)``
    and truncate.  Ties are rare, so the window is almost always exactly
    ``kk`` wide and the cost stays argpartition-shaped, not full-sort.

    Returns ``(top, nbr)`` arrays of shape ``(rows, kk)``.
    """
    import numpy as np

    rows, n = sims.shape
    full = np.broadcast_to(c_ids, sims.shape)
    width = n
    if kk < n:
        pivot = -np.partition(-sims, kk - 1, axis=1)[:, kk - 1 : kk]
        if np.isfinite(pivot).all():
            width = min(int((sims >= pivot).sum(axis=1).max()), n)
    if width < n:
        idx = np.argpartition(-sims, width - 1, axis=1)[:, :width]
        top = np.take_along_axis(sims, idx, axis=1)
        nbr = np.take_along_axis(full, idx, axis=1)
    else:
        top, nbr = sims, full
    order = np.lexsort((nbr, -top), axis=1)[:, :kk]
    return (
        np.take_along_axis(top, order, axis=1),
        np.take_along_axis(nbr, order, axis=1),
    )


def knn_cosine_topk(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (query_id, neighbor_id, sim)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return brute_topk(spark, e, k=k)


def brute_topk(
    spark: SparkSession,
    e: DataFrame,
    k: int = 5,
    max_broadcast_queries: int = MAX_BROADCAST_QUERIES,
    n_queries: int | None = None,
    label_mask: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k over a (vec_id, embedding) DataFrame.

    Distributed brute-force pattern: the QUERY side (here: the whole input —
    the standard case for "find neighbors of these items") ships to every
    task as a normalized float64 matrix; candidates stream through
    mapInPandas where one BLAS matmul per Arrow batch computes all sims and
    a per-batch top-k prunes to k rows per query per batch; a final window
    merges the per-batch winners. ~60x faster than the per-pair
    higher-order-function formulation and the same shape scales to 10^9
    CANDIDATES (candidate scan is embarrassingly parallel; the merge handles
    batches*k*queries rows only).

    Scale guard: the broadcast is only sane for a bounded QUERY side, but
    this entry point is documented EXACT, so an over-threshold query side
    must not silently degrade to approximate LSH recall. Instead the query
    side is split into ``ceil(n / max_broadcast_queries)`` deterministic
    hash chunks, each chunk broadcast-matmul'd against the full candidate
    set, and the per-chunk exact top-k union'd (chunks partition the query
    ids, so no cross-chunk merge is needed). Cost is n_chunks candidate
    passes — the honest price of exactness at that scale; callers who want
    one-pass behavior above the gate should call ``lsh_topk_df`` /
    ``ann_lsh_topk`` explicitly. The count gate is a cheap
    parquet-metadata count; chunks are hash-partitioned, so each driver
    collect is ~``max_broadcast_queries`` rows (exact split would need a
    global sort — hash deviation at the >=1M-row scale the gate fires at
    is O(sqrt(n)), well under a percent). Callers that already know the
    row count pass ``n_queries`` so routing layers don't run a second
    count job (round-5 advisory: the auto-routed ann path counted twice).
    """
    if n_queries is None:
        n_queries = e.count()
    return _hash_chunked(
        e,
        n_queries,
        max_broadcast_queries,
        lambda queries: _brute_topk_one_chunk(
            spark, queries, e, k=k, n_cand=n_queries, label_mask=label_mask
        ),
    )


def _hash_chunked(queries: DataFrame, n: int, cap: int, run) -> DataFrame:
    """``run(queries)``, or — when the ``n`` query rows exceed ``cap`` —
    the union of ``run`` over ``ceil(n / cap)`` deterministic
    ``pmod(xxhash64(id), n_chunks)`` chunks of the query side (id = its
    first column). The broadcast-query scans use it to keep each driver
    collect and broadcast near ``cap`` rows; chunks partition the query
    ids, so no cross-chunk merge is needed."""
    from functools import reduce

    if n <= cap:
        return run(queries)
    n_chunks = -(-n // cap)  # ceil
    chunk = F.pmod(F.xxhash64(F.col(queries.columns[0])), F.lit(n_chunks))
    return reduce(
        lambda a, b: a.unionByName(b),
        [run(queries.filter(chunk == i)) for i in range(n_chunks)],
    )


def _brute_topk_one_chunk(
    spark: SparkSession,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    n_cand: int | None = None,
    label_mask: bool = False,
) -> DataFrame:
    """One exact broadcast-matmul pass: ``queries`` (bounded, collected and
    broadcast as a normalized float64 matrix) against every ``candidates``
    row. See ``brute_topk`` for the full pattern description.

    label_mask=True (hard-negative mining): both frames carry ``label``
    and same-label pairs go to -inf before the per-batch top-k — one
    kernel for both searches so memory-bound/tie-break fixes can never
    drift between them."""
    import numpy as np

    e = candidates
    q_pdf = queries.toPandas().sort_values("vec_id")
    q_ids = q_pdf["vec_id"].to_numpy()
    q_labels = q_pdf["label"].to_numpy() if label_mask else None
    q_mat = np.array(q_pdf["embedding"].tolist(), dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_labels, q_mat))

    def topk_per_batch(batches):
        ids, labels, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            c_labels = pdf["label"].to_numpy() if label_mask else None
            c_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            # the sims matrix is (n_queries x batch) — at 200k broadcast
            # queries and a 10k-row Arrow batch that is 16 GB and kills the
            # worker; _sliced_topk slices the QUERY axis, and its
            # vectorized top-k has no per-query Python loop (at 10^6
            # broadcast queries the loop itself would dominate)
            yield _sliced_topk(
                ids,
                c_ids,
                k,
                lambda lo, hi: qm[lo:hi] @ c_mat.T,
                "sim_raw",
                # positives out (self shares its own label anyway)
                (lambda lo, hi: labels[lo:hi, None] == c_labels[None, :])
                if label_mask
                else None,
            )

    # task count sized to the MATMUL FLOPs, not input bytes: each candidate
    # row costs n_queries x dim mults, so a 10 MB candidate file can still
    # be hours of compute. Target ~2 GFLOP per task (sub-second of BLAS),
    # capped at cluster parallelism, floored at 2. (The old fixed cap of 8
    # left 3/4 of a 32-core executor idle at n=20k: 14.0 s -> measured
    # below after the fix.)
    if n_cand is None:
        n_cand = e.count()
    q_rows = len(q_ids)
    flops = 2.0 * q_rows * n_cand * DIM
    dp = spark.sparkContext.defaultParallelism
    parts = max(2, min(dp, int(flops // 2e9) + 1))
    sims = e.repartition(parts).mapInPandas(
        topk_per_batch, schema="query_id long, neighbor_id long, sim_raw double"
    )
    return _rounded(_top_per_query(sims, "sim_raw", k))


def embedding_hard_negatives(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """Contrastive hard-negative mining: for every vector, the ``k`` MOST
    similar vectors carrying a DIFFERENT label — the standard
    hard-negative selection step when building contrastive /
    retrieval-training pairs from a labeled (or pseudo-labeled) corpus
    (harder negatives = higher training signal than random negatives).

    Exact and deterministic: this IS ``brute_topk`` (broadcast-chunk
    BLAS, query-axis slicing, FLOP-sized task count, hash-chunking above
    the 1M broadcast gate) with ``label_mask=True`` — the same-label
    positive mask runs inside the shared kernel, so the per-batch
    pruning never wastes its k slots on positives and any future fix to
    the brute kernel applies to both searches. Rows with a NULL label
    are excluded on both sides (no label = no positive/negative
    contract), matching the SQL oracle's ``q.label <> c.label`` null
    semantics.
    """
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select("vec_id", "embedding", "label")
    )
    return brute_topk(spark, e, k=k, label_mask=True).withColumnRenamed(
        "neighbor_id", "negative_id"
    )


def embedding_hard_negatives_ann(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    auto_route: bool = True,
) -> DataFrame:
    """ANN-backed hard negatives — the >1M-vector scale path for
    ``embedding_hard_negatives`` (whose exact broadcast-BLAS form is the
    right plan only up to ~1M broadcast queries per pass).

    The label mask runs INSIDE the LSH bucket kernel (``lsh_topk_df``
    with ``label_col``): same-label pairs go to -inf before each
    bucket's local top-k, so all k emitted slots hold usable negatives
    and the merge volume is identical to a plain LSH top-k. The first
    cut of this operator overfetched k*8 ANN rows and label-filtered
    afterwards — 8x the merge rows, and recall still capped by however
    deep the positives pushed the negatives; kernel masking removes
    both. Recall vs the exact form is floor-asserted by
    ``hard_negatives_ann_recall_check``.

    auto_route: below ANN_BRUTE_CROSSOVER vectors this routes to the
    exact broadcast-BLAS form — the same measured crossover logic as
    ann_lsh_topk (approximate search under ~1M vectors is pure cost).
    The LSH plan stays reachable via auto_route=False, which is what the
    recall check exercises.
    """
    base = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select(
            "vec_id", as_double(F.col("embedding")).alias("emb"), "label"
        )
    )
    n = base.count()
    if auto_route and n <= ANN_BRUTE_CROSSOVER:
        return embedding_hard_negatives(spark, sf_dir, k=k)
    _require_integral_label(base, "embedding_hard_negatives_ann (LSH path)")
    out = lsh_topk_df(
        base,
        k=k,
        num_planes=_adaptive_planes(n),
        num_tables=8,
        multiprobe=True,
        label_col="label",
        n_rows=n,
    )
    return out.withColumnRenamed("neighbor_id", "negative_id")


#: recall@5 floor hard_negatives_ann_recall_check asserts vs the exact
#: hard-negative set. Lower than the plain LSH floor by design: hard
#: negatives sit DEEPER in each query's similarity ranking than the
#: global top-k (every same-label nearer neighbor pushes them down), and
#: LSH probe recall decays with rank depth. Measured recall@5 with the
#: kernel label mask: 1.0 at sf0.001/0.01/0.1; see SCALING.md round 8 for
#: the 200k probe.
HARD_NEG_ANN_RECALL_FLOOR = 0.8


def hard_negatives_ann_recall_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-row bounded-quality check of the ANN hard-negative path vs the
    exact broadcast-BLAS form (same tolerance-oracle pattern as the
    ann_*_recall_check family). auto_route=False: the check certifies the
    label-masked LSH plan itself — routed brute would self-compare at
    recall 1.0 and prove nothing."""
    exact = embedding_hard_negatives(spark, sf_dir, k=5)
    ann = embedding_hard_negatives_ann(spark, sf_dir, k=5, auto_route=False)
    hits = ann.join(exact, ["query_id", "negative_id"], "left_semi")
    stats = (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_true")))
        .crossJoin(
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("label").isNotNull())
            .agg(F.count(F.lit(1)).alias("n_queries"))
        )
    )
    return stats.select(
        F.lit("lsh+labelmask").alias("method"),
        F.col("n_queries"),
        (
            F.col("n_hits")
            >= F.lit(HARD_NEG_ANN_RECALL_FLOOR) * F.col("n_true")
        ).alias("recall_ok"),
    )


#: expected vectors per LSH bucket the plane count targets. Bucket work per
#: probe is O(bucket_size); candidate volume per query ~ probes x bucket
#: size. 512 (raised from 32, round-5 crossover study): fewer planes =
#: higher per-plane collision probability, which is what holds recall as n
#: grows — measured recall@5 at n=200k: 0.82 with 32-occupancy planes (11)
#: vs 0.97 with 512-occupancy planes (9), at comparable wall time. Extra
#: per-bucket rows are one BLAS matmul column each — far cheaper than the
#: probe multiplication needed to win the recall back at narrow buckets.
LSH_TARGET_BUCKET = 512

#: below this corpus size ann_lsh_topk routes to exact brute force. Measured
#: (SCALING.md, round 5): flop-parallelized BLAS brute is 0.9 s at n=2k,
#: 1.6 s at n=20k, ~2 min at n=200k on local[32]; recall-floor-holding LSH
#: costs 2.6 s / 37 s / ~6 min at those sizes. Brute grows ~100x per decade
#: (n^2), recall-holding LSH ~10-15x, so the curves cross around 10^6
#: vectors — below that, approximate search is all cost and no benefit.
#: The threshold does NOT scale with cluster cores: both paths distribute,
#: so cores cancel out of the crossover (brute ~ a*n^2/C vs LSH ~
#: b*n*probes/C); what pins it near 10^6 on ANY cluster is the
#: MAX_BROADCAST_QUERIES gate — past 1M query vectors brute_topk must
#: hash-chunk the broadcast and re-scan candidates per chunk, turning its
#: n^2 into n^2 * n_chunks while per-executor broadcast memory stays the
#: binding constraint. Callers can pass auto_route=False to force LSH.
ANN_BRUTE_CROSSOVER = 1_000_000


def _adaptive_planes(n: int, target: int = LSH_TARGET_BUCKET) -> int:
    """ceil(log2(n / target)), floored at 4 planes (16 buckets), capped at
    20 (1M buckets — beyond that bucket ids stop being selective for any
    realistic per-partition candidate join)."""
    import math

    if n <= target:
        return 4
    return max(4, min(20, math.ceil(math.log2(n / target))))


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    num_planes: int | None = None,
    num_tables: int = 8,
    multiprobe: bool = True,
    auto_route: bool = True,
) -> DataFrame:
    """Approximate top-k: LSH bucket candidates + exact cosine re-rank.

    Recall knobs (the two standard LSH levers):
      * num_tables — independent plane sets OR-ed together; a true neighbor
        is a candidate if it collides in ANY table. Default 8: measured
        recall@5 0.995 (sf0.01) / 0.92 (sf0.1) vs 0.86/0.61 at the old
        default of 3, for ~8/3 the candidate volume;
      * multiprobe — within each table also search every bucket at hamming
        distance 1 from the query's bucket PLUS the hamming-2 flips of the
        lowest-margin planes (query-directed, Lv et al.): recall@5 at
        sf0.1 0.92 -> 0.991, comfortably above the asserted 0.9 floor
        (LSH_RECALL_FLOOR), for ~13/7 the h1 probe volume.
    Candidate generation shuffles on (table, bucket) only; exact cosine
    re-ranks candidates, so reported sims are exact for returned pairs.

    num_planes defaults ADAPTIVELY: ceil(log2(n/LSH_TARGET_BUCKET)) so
    expected bucket occupancy stays ~LSH_TARGET_BUCKET regardless of corpus
    size (512 since the round-5 recall study — wide buckets hold recall at
    scale, probe counts don't). A fixed plane count is a scale bug —
    4 planes = 16 buckets turns the bucket join quadratic the moment the
    table grows.

    auto_route (round-5 crossover study, SCALING.md): below
    ANN_BRUTE_CROSSOVER vectors this routes to EXACT brute force — measured
    at n<=200k the BLAS matmul beats any recall-floor-holding LSH
    configuration by 20-40x, so approximate search there is pure cost. The
    result is exact (recall 1.0, sims identical); the LSH plan remains
    available via auto_route=False and is what the recall check exercises.
    """
    # count the RAW table once and reuse it for both the route decision and
    # brute_topk's chunk gate — the routed path must not pay a second count
    # job or the _emb projection it would discard (round-5 advisory)
    e_raw = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e_raw.count()
    if auto_route and n <= ANN_BRUTE_CROSSOVER:
        return brute_topk(spark, e_raw, k=k, n_queries=n)
    if num_planes is None:
        num_planes = _adaptive_planes(n)
    return lsh_topk_df(
        _emb(spark, sf_dir),
        k=k,
        num_planes=num_planes,
        num_tables=num_tables,
        multiprobe=multiprobe,
        n_rows=n,
    )


#: target on-disk bytes per (table, bucket) cogroup shuffle partition. The
#: probe explosion is n x tables x probes rows EACH CARRYING the 64-dim
#: vector — at 200k vectors with adaptive planes that is ~38 GB into the
#: default 32 shuffle partitions: >1 GB per task of group buffers + sort +
#: Arrow pinned memory across 32 concurrent tasks was the round-8 GCLocker
#: pressure and, re-probed in round 9, a stage OOM. AQE can only COALESCE
#: partitions, never split them, so the fan-out must be explicit.
#:
#: 512 MB (round-10 retune, from 128 MB): the same-day 200k A/B
#: (tools/ab_masked_lsh.py, SCALING.md round-10 table) measured 128 MB /
#: 261 shards at 1460 s, the unsharded 32-way at 929 s (the OOM-edge
#: regime), and 512 MB / 66 shards at 758 s — the per-task fixed costs
#: (python worker round-trips, sort/group setup, under-filled BLAS
#: batches) dominate below ~0.5 GB/partition. Peak KERNEL memory is
#: bucket-bound (Arrow cogroup ships whole (t, b) groups; group size is
#: LSH_TARGET_BUCKET-bound and the kernel slices at KERNEL_SLICE_ELEMS),
#: and the shuffle-sort side spills — so the target trades disk/task
#: overhead, not the OOM property, which the 2x headroom vs the measured
#: 1.2 GB/task OOM regime preserves.
TARGET_COGROUP_PARTITION_BYTES = 512 << 20


def _cogroup_shards(
    n_rows: int, num_tables: int, num_planes: int, multiprobe: bool
) -> int:
    """Estimated (table, bucket) shuffle partition count that keeps each
    cogroup partition near TARGET_COGROUP_PARTITION_BYTES. Row estimate =
    query probes (1 home + hamming-1 + directed hamming-2 per table) plus
    candidate home buckets; bytes/row ~ vector + ids + overhead."""
    probes = 1
    if multiprobe:
        h2 = min(H2_DIRECTED_PLANES, num_planes)
        probes = 1 + num_planes + (h2 * (h2 - 1)) // 2
    est_rows = n_rows * num_tables * (probes + 1)
    est_bytes = est_rows * (DIM * 8 + 48)
    return int(est_bytes // TARGET_COGROUP_PARTITION_BYTES) + 1


def lsh_topk_df(
    base: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    multiprobe: bool = True,
    label_col: str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """LSH top-k over a (vec_id, emb: array<double>) DataFrame — the
    DataFrame-level core of ann_lsh_topk, also the fallback path for
    brute_topk's over-threshold query sides.

    multiprobe=True probes, per table, the home bucket + every hamming-1
    flip + query-directed hamming-2 flips (see _lsh_buckets_arrow) —
    measured recall@5 at sf0.1: 0.92 (h1 only) -> 0.991.

    Execution shape (round-5 rewrite): BUCKET-LOCAL MATMUL. The old plan
    joined query probes to candidates and shipped BOTH 64-dim float64
    arrays on every candidate-pair row through the join AND through a
    dropDuplicates shuffle — ~1 KB x candidate volume of shuffle bytes
    (the 58 s sf0.1 cold sweep entry, round-4 verdict). Now each side
    shuffles ONCE on (table, bucket) — a vector moves per-probe, not
    per-pair — and a cogrouped Arrow kernel runs one BLAS matmul per
    bucket, emitting only per-query LOCAL top-k (id, id, sim) rows
    (sound: a global top-k neighbor found in bucket B is necessarily in
    B's local top-k for that query). The merge dedups/top-ks
    ~n x probes x k 24-byte rows instead of full-array pair rows.
    Candidate-pair FLOPs are unchanged — they were never the problem; the
    shuffle bytes were.

    label_col (round 8): carry this column of ``base`` through the
    bucket stage and mask same-label pairs to -inf INSIDE the kernel —
    the hard-negative search shape. Every emitted row is already a
    valid negative, so k stays k (an outer overfetch-then-filter
    composition multiplied the merge volume by the overfetch factor and
    still lost recall when a query's nearest m*k rows were all
    same-label).

    n_rows sizes the adaptive cogroup sharding (round 9). NOTE: when
    n_rows is None this builder runs an EAGER ``base.count()`` job at
    plan-construction time to estimate probe volume — it is not fully
    lazy in that case. Callers that know the corpus size (all in-repo
    callers) should pass n_rows to keep construction lazy."""
    import numpy as np
    import pandas as pd

    base = _lsh_buckets_arrow(
        base,
        num_planes,
        num_tables,
        probes=multiprobe,
        extra_cols={label_col: "long"} if label_col else None,
    )

    if multiprobe:
        # NB: the tag lambda must take exactly ONE parameter — F.transform
        # passes the element INDEX to any second parameter, so the usual
        # `lambda b, t=t:` closure idiom silently replaces the table id
        # with the probe position (cost a 0.92->0.70 recall regression
        # before it was caught)
        def _tag(t: int):
            return F.transform(
                F.col(f"probes_{t}"),
                lambda b: F.struct(F.lit(t).alias("t"), b.alias("b")),
            )

        q_probes = [_tag(t) for t in range(num_tables)]
        q_probe_col = F.explode(
            F.array_distinct(F.flatten(F.array(*q_probes)))
        ).alias("bucket")
    else:
        q_probe_col = F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("b"))
                    for t in range(num_tables)
                ]
            )
        ).alias("bucket")
    c_buckets = [
        F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("b"))
        for t in range(num_tables)
    ]
    q_extra = [F.col(label_col).alias("ql")] if label_col else []
    c_extra = [F.col(label_col).alias("cl")] if label_col else []
    q = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        *q_extra,
        q_probe_col,
    ).select(
        "query_id",
        "qe",
        *(["ql"] if label_col else []),
        F.col("bucket.t").alias("t"),
        F.col("bucket.b").alias("b"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("ce"),
        *c_extra,
        F.explode(F.array(*c_buckets)).alias("bucket"),
    ).select(
        "neighbor_id",
        "ce",
        *(["cl"] if label_col else []),
        F.col("bucket.t").alias("t"),
        F.col("bucket.b").alias("b"),
    )

    # Adaptive cogroup sharding (round 9): explicitly hash-repartition both
    # sides on (t, b) to a partition count sized to the ESTIMATED probe
    # volume — HashPartitioning(t, b) satisfies the cogroup's required
    # distribution, so this replaces (not adds to) the default exchange.
    # Left at the session's 32 shuffle partitions, the 200k probe put
    # >1 GB of group/sort/Arrow buffers on every one of 32 concurrent
    # tasks (GCLocker retries in round 8; an outright executor OOM on the
    # round-9 re-probe). defaultParallelism floors it so small corpora
    # keep their current plans; 4096 caps runaway estimates.
    if n_rows is None:
        n_rows = base.count()
    spark = base.sparkSession
    shards = int(
        min(
            4096,
            max(
                spark.sparkContext.defaultParallelism,
                _cogroup_shards(n_rows, num_tables, num_planes, multiprobe),
            ),
        )
    )
    q = q.repartition(shards, "t", "b")
    c = c.repartition(shards, "t", "b")
    local = (
        q.groupby("t", "b")
        .cogroup(c.groupby("t", "b"))
        .applyInPandas(
            _cell_topk_kernel(k, label_mask=bool(label_col)),
            schema="query_id long, neighbor_id long, sim_raw double",
        )
    )
    # the same (query, neighbor) pair surfaces from every colliding probe
    # with an IDENTICAL exact sim — dedup on ids alone is sound
    return _rounded(_top_per_query(local, "sim_raw", k, dedup=True))


#: query-directed hamming-2 multiprobe: flip PAIRS among this many
#: lowest-|margin| planes per query. The near-miss neighbor most likely
#: differs in exactly the bits whose projections sit closest to the
#: hyperplane, so directed pairs buy most of exhaustive hamming-2's recall
#: at a fraction of its probe volume. 8 (raised from 4, round-5): the h2
#: budget must GROW with the plane count or recall collapses as n scales —
#: at 10 planes the old 6 directed pairs covered 13% of the hamming-2 ball
#: and recall@5 fell to 0.83; 28 pairs (8 planes' worth) holds 0.90+.
#: Effective budget is min(H2_DIRECTED_PLANES, num_planes) per table.
H2_DIRECTED_PLANES = 8


def _lsh_buckets_arrow(
    base: DataFrame,
    num_planes: int,
    num_tables: int,
    probes: bool = False,
    extra_cols: dict[str, str] | None = None,
) -> DataFrame:
    """All (table, bucket) sign-sketch ids in ONE Arrow kernel.

    One numpy matmul per Arrow batch — (batch x dim) @ (dim x tables*planes)
    — replaces tables*planes interpreted higher-order-function projections
    per row (measured ~10x on the bucket stage). Planes are ±1 entries from
    a fixed-seed numpy Philox stream, rebuilt identically in every task, so
    bucket ids are deterministic across runs, partitionings and clusters.

    probes=True additionally emits probes_<t>: the QUERY-side multiprobe
    sequence per table — the home bucket, every hamming-1 flip, and the
    hamming-2 flips of the H2_DIRECTED_PLANES lowest-|projection| planes
    (Lv et al.'s query-directed multiprobe, rank order collapsed to a
    fixed flip set so the probe list stays a deterministic per-row array).
    Candidate rows never need probes — index one bucket, probe many.

    extra_cols ({name: sql_type}) pass through the kernel untouched —
    the label-masked hard-negative path carries its label column this
    way instead of re-joining it onto candidate rows afterwards.
    """
    import numpy as np
    import pandas as pd

    extra_cols = extra_cols or {}
    schema = "vec_id long, emb array<double>, " + ", ".join(
        f"bucket_{t} long" for t in range(num_tables)
    )
    if probes:
        schema += ", " + ", ".join(
            f"probes_{t} array<long>" for t in range(num_tables)
        )
    if extra_cols:
        schema += ", " + ", ".join(f"{c} {t}" for c, t in extra_cols.items())

    def gen(batches):
        rng = np.random.default_rng(7)
        planes = rng.choice([-1.0, 1.0], size=(DIM, num_tables * num_planes))
        weights = 1 << np.arange(num_planes, dtype=np.int64)
        from itertools import combinations

        h2_pairs = list(combinations(range(min(H2_DIRECTED_PLANES, num_planes)), 2))
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf["emb"].tolist(), dtype=np.float64)
            proj = M @ planes  # (n, tables*planes)
            bits = proj > 0
            out = {"vec_id": pdf["vec_id"], "emb": pdf["emb"]}
            for t in range(num_tables):
                sl = slice(t * num_planes, (t + 1) * num_planes)
                chunk = bits[:, sl]
                bucket = chunk @ weights
                out[f"bucket_{t}"] = bucket
                if probes:
                    # lowest-|margin| plane indices per row, ascending
                    order = np.argsort(np.abs(proj[:, sl]), axis=1)
                    cols = [bucket]
                    cols += [bucket ^ (1 << j) for j in range(num_planes)]
                    for a, b in h2_pairs:
                        cols.append(
                            bucket
                            ^ (np.int64(1) << order[:, a])
                            ^ (np.int64(1) << order[:, b])
                        )
                    out[f"probes_{t}"] = list(np.stack(cols, axis=1))
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return base.mapInPandas(gen, schema=schema)


# Cap on rows fed to KMeans codebook training. Coarse quantization needs a
# representative sample, not the corpus: 16-256 centroids fitted on 200k
# points are statistically indistinguishable from centroids fitted on 10^9.
# The training sample is selected by a PORTABLE hash of vec_id (not
# df.sample), so the codebook is identical regardless of partition layout —
# same result on local[8] and a 1000-executor cluster.
MAX_KMEANS_TRAIN_ROWS = 200_000


def _kmeans_pp_lloyd(X, k: int, seed: int, max_iter: int = 30, n_init: int | None = None):
    """Seeded k-means++ init + Lloyd's iterations, pure numpy on the
    driver, best-of-``n_init`` restarts by inertia (a single ++ run can
    land in a visibly worse optimum than ml's kmeans|| — one restart cost
    the sf0.001 IVF recall floor; default 4 restarts up to 50k rows, 2
    above, where init sensitivity is lower and each run costs seconds).

    Written allocation-lean for the 200k x 447 regime: init distances via
    one gemv per pick (never an (n,d) temporary), per-cluster means via
    stable-sort + add.reduceat (the naive 447-mask loop measured 10x the
    whole fit), distance matrix via one gemm. Deterministic: fixed rng,
    fixed input order (callers sort the sample by vec_id so partition
    layout can't change the result). Empty clusters re-seed to the
    points farthest from their assigned centers (keeps the
    every-cluster-non-empty invariant the kmeans check asserts).
    Early-stops when assignments stop changing."""
    import numpy as np

    n, d = X.shape
    k = min(k, n)
    if n_init is None:
        n_init = 4 if n <= 50_000 else 2
    x2 = (X**2).sum(1)

    def one_run(rng):
        centers = np.empty((k, d), dtype=np.float64)
        centers[0] = X[rng.integers(n)]
        d2 = np.maximum(x2 - 2.0 * (X @ centers[0]) + (centers[0] ** 2).sum(), 0)
        for j in range(1, k):
            tot = d2.sum()
            p = d2 / tot if tot > 0 else None
            centers[j] = X[rng.choice(n, p=p)]
            nd = x2 - 2.0 * (X @ centers[j]) + (centers[j] ** 2).sum()
            np.minimum(d2, np.maximum(nd, 0), out=d2)
        prev = None
        D = None
        assign = np.zeros(n, dtype=np.int64)
        for _ in range(max_iter):
            D = -2.0 * (X @ centers.T)
            D += (centers**2).sum(1)[None, :]
            assign = D.argmin(1)
            if prev is not None and (assign == prev).all():
                break
            prev = assign
            order = np.argsort(assign, kind="stable")
            counts = np.bincount(assign, minlength=k)
            ok = counts > 0
            # reduceat only over NON-EMPTY clusters' segment starts: empty
            # clusters contribute no rows, so consecutive ok-starts are
            # exact segment boundaries and every start index is < n.
            # (Clamping all k starts to n-1 stole the last sorted row out
            # of the preceding cluster's segment when trailing clusters
            # were empty — wrong centroid for that cluster.)
            starts = np.searchsorted(assign[order], np.arange(k))
            centers[ok] = (
                np.add.reduceat(X[order], starts[ok], axis=0)
                / counts[ok][:, None]
            )
            if (~ok).any():
                # empty clusters re-seed to the farthest points
                dmin = D[np.arange(n), assign] + x2
                far = np.argsort(-dmin, kind="stable")[: int((~ok).sum())]
                centers[~ok] = X[far]
        inertia = np.maximum(D[np.arange(n), assign] + x2, 0).sum()
        return inertia, centers

    best = None
    for r in range(n_init):
        inertia, centers = one_run(np.random.default_rng((seed, r)))
        if best is None or inertia < best[0]:
            best = (inertia, centers)
    return best[1]


def _fit_codebook(base: DataFrame, n_cells: int, seed: int):
    """Fit the IVF coarse quantizer on a hash-capped sample; returns
    (centers ndarray, the input DataFrame for assignment).

    Round-6 change: the fit runs as DRIVER-SIDE numpy Lloyd's on the
    collected sample instead of pyspark.ml.KMeans — the sample is already
    capped at MAX_KMEANS_TRAIN_ROWS (<= ~100 MB), and the ml estimator
    paid ~220 s at 200k x 64 where the BLAS loop pays ~15 s for the same
    seeded, layout-independent codebook. The distributed part of IVF was
    never the fit; it is the assignment/search, which stays on executors
    (_cell_assign / the cell kernels)."""
    import numpy as np

    n = base.count()
    train = base.select("vec_id", "emb")
    if n > MAX_KMEANS_TRAIN_ROWS:
        stride = -(-n // MAX_KMEANS_TRAIN_ROWS)  # ceil
        train = train.filter(
            F.pmod(F.xxhash64(F.lit(seed), F.col("vec_id")), F.lit(stride)) == 0
        )
    pdf = train.toPandas().sort_values("vec_id")
    X = np.array(pdf["emb"].tolist(), dtype=np.float64)
    return _kmeans_pp_lloyd(X, n_cells, seed), base


#: fitted-codebook memo, keyed (embeddings path, mtime, n, n_cells, seed).
#: The fit is seeded and layout-independent (see _fit_codebook), so every
#: re-fit in a process recomputes the IDENTICAL ndarray — caching it is the
#: same amortization contract as the fixture / persisted-index caches
#: (mtime-keyed: testdata regeneration refits). n in the key guards callers
#: that rebind _emb to a subset (tests): different corpus -> different key.
_CODEBOOK_CACHE: dict[tuple, object] = {}
_CODEBOOK_CACHE_MAX = 8


def _clear_codebook_cache() -> None:
    """Explicit invalidation hook — tests that rebind ``_emb`` (or any
    caller that changes the fit input out-of-band) call this instead of
    relying on the key to notice."""
    _CODEBOOK_CACHE.clear()


def _codebook_cached(spark: SparkSession, sf_dir: str, n_cells: int, seed: int):
    """Memoized ``_fit_codebook`` over the sf_dir embeddings: returns
    (centers, base). Serve-many sessions, recall checks, and bench repeats
    all refit the same deterministic codebook otherwise — at 200k x 707
    that is minutes of driver BLAS per query for a bit-identical result."""
    import os

    base = _emb(spark, sf_dir)
    try:
        p = os.path.join(sf_dir, "embeddings.parquet")
        # CONTENT fingerprint of the fit input, not just its cardinality:
        # two same-cardinality subsets (a monkeypatched _emb, a future
        # filter change) must not collide — count alone would serve a
        # stale codebook silently. One cheap aggregate job; the fit it
        # saves is minutes of driver BLAS.
        fp = base.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold, not sum: order-independent AND overflow-free under
            # ANSI mode (sum(xxhash64) throws ARITHMETIC_OVERFLOW)
            F.expr("bit_xor(xxhash64(vec_id))").alias("id_hashsum"),
            F.min("vec_id").alias("id_min"),
            F.max("vec_id").alias("id_max"),
        ).collect()[0]
        # MAX_KMEANS_TRAIN_ROWS is in the key because it changes the fit
        # input (tests patch it; a config change must not serve stale fits)
        key = (
            os.path.abspath(p),
            os.path.getmtime(p),
            fp["n"],
            fp["id_hashsum"],
            fp["id_min"],
            fp["id_max"],
            n_cells,
            seed,
            MAX_KMEANS_TRAIN_ROWS,
        )
    except OSError:
        return _fit_codebook(base, n_cells=n_cells, seed=seed)
    if key not in _CODEBOOK_CACHE:
        while len(_CODEBOOK_CACHE) >= _CODEBOOK_CACHE_MAX:
            _CODEBOOK_CACHE.pop(next(iter(_CODEBOOK_CACHE)))
        _CODEBOOK_CACHE[key] = _fit_codebook(base, n_cells=n_cells, seed=seed)[0]
    return _CODEBOOK_CACHE[key], base


def _adaptive_cells(n: int) -> int:
    """IVF codebook size ~ sqrt(n) (the standard IVF sizing: balances
    codebook-scan cost against cell-member re-rank cost), floored at 16,
    capped at 4096 (beyond that train on more data, not more cells)."""
    import math

    return max(16, min(4096, int(math.sqrt(max(n, 1)))))


def _sqdist_to_centers(X, C):
    """Squared distances to centroids via the gemm identity, up to the
    per-row constant |x|² (irrelevant for per-row argmin/argsort over
    cells): -2·X·Cᵀ + |c|². The naive broadcast form
    ((X[:,None,:]-C[None,:,:])**2).sum(-1) materializes a
    (batch, cells, dim) temporary — 7.2 GB per 10k-row batch at 1414
    cells — and turned the 2M index build into a memory-bound crawl
    (measured round 7); the gemm form is one BLAS call and a rank-1 add."""
    return -2.0 * (X @ C.T) + (C**2).sum(1)[None, :]


def _nearest_cells(df: DataFrame, bc, n: int) -> DataFrame:
    """Expand every row to its ``n`` nearest cells of the broadcast
    centroid matrix ``bc`` — the one probe/assignment kernel of the IVF
    family. ``df``'s first two columns are (id, vector); the output
    repeats each row ``n`` times with an int ``cell`` column inserted
    after the vector, any further columns riding through. Narrow
    mapInPandas stage: one gemm (``_sqdist_to_centers``) and a stable
    argsort per Arrow batch, so ties between equidistant cells break by
    cell id everywhere."""
    import numpy as np

    head, rest = df.columns[:2], df.columns[2:]
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    schema = ", ".join(
        [f"{c} {types[c]}" for c in head]
        + ["cell int"]
        + [f"{c} {types[c]}" for c in rest]
    )

    def gen(batches):
        import pandas as pd

        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.array(pdf[head[1]].tolist(), dtype=np.float64)
            d = _sqdist_to_centers(E, C)
            cells = np.argsort(d, axis=1, kind="stable")[:, :n]
            out = {c: pdf[c].repeat(n) for c in head}
            out["cell"] = cells.ravel()
            for c in rest:
                out[c] = pdf[c].repeat(n)
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema=schema)


def _cell_assign(
    df: DataFrame, bc, n_assign: int, extra_cols: dict[str, str] | None = None
) -> DataFrame:
    """Spilled assignment: each (vec_id, emb) row lands in its
    ``n_assign`` nearest codebook cells (``_nearest_cells``). The input is
    fanned OUT to its bytes-proportional task count first (a 550 MB
    single-file corpus otherwise funnels the whole kernel through 2-4
    parquet splits — the 2M index build measured 22 min on 2 effective
    tasks; fanout never coalesces, so a many-split 100 TB source is
    untouched).

    extra_cols ({name: sql_type}) ride through untouched (repeated per
    spilled copy) — the label-bearing index carries its label this way."""
    from symat_hbase_tools_spark.plans.partitioning import fanout as _fanout

    extra = [F.col(c).cast(t).alias(c) for c, t in (extra_cols or {}).items()]
    df = _fanout(df.sparkSession, df.select("vec_id", "emb", *extra))
    return _nearest_cells(df, bc, n_assign)


def _ivf_session(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int | None,
    n_probe: int | None,
    n_assign: int,
    seed: int,
):
    """Probe stage of the in-session IVF tiers (``ann_ivf_topk``,
    ``ann_ivfpq_topk``, ``ann_ivfbq_topk``), which all run one pipeline:

      1. probe — a seeded k-means coarse codebook (cached, ~sqrt(n)
         cells) is broadcast; every vector is assigned to its
         ``n_assign`` nearest cells (spilled assignment) and every query
         probes its ``n_probe`` nearest cells;
      2. cogroup on cell id — both sides shuffle once on the cell;
      3. codec kernel — per cell, every probing query is scored against
         the cell's members: exact cosine on raw vectors
         (``_cell_topk_kernel``), PQ-ADC on codes
         (``_pq_cell_kernel_factory``) or asymmetric sign-bit scoring on
         packed words (``_bq_cell_kernel_factory``), each keeping a
         per-query local top list by (-score, neighbor_id);
      4. shortlist merge — ``_top_per_query`` drops the duplicates spilled
         assignment creates and keeps each query's global top: k for the
         exact kernel, the per-cell depth x max(1, n_probe // 2) for the
         compressed codecs;
      5. exact refine — the compressed codecs re-rank the merged
         shortlist against the raw vectors (``_exact_cosine_rerank``).

    The persisted-index tiers run the same pipeline off disk
    (``_ivf_index_probe``).

    Returns (base, assigned, q, n_probe): the (vec_id, emb) corpus, its
    spilled (vec_id, emb, cell) assignment and the (query_id, qe, cell)
    probe rows. n_cells defaults to ~sqrt(n) and n_probe to a constant
    FRACTION (~1/3) of the cells, so the candidate set per query grows as
    sqrt(n) while recall stays roughly flat."""
    base = _emb(spark, sf_dir)
    if n_cells is None:
        n_cells = _adaptive_cells(base.count())
    if n_probe is None:
        # probe a constant FRACTION of cells (~1/3), not a constant count:
        # with n_cells ~ sqrt(n), a fixed n_probe makes recall decay as the
        # corpus grows. History: 1/8 measured recall@5 0.53/0.50; 1/4
        # reached 0.95 with n_assign=3 on the ml-kmeans codebook; the
        # round-6 numpy-Lloyd codebook has a slightly different boundary
        # structure (same inertia class, lower IVF recall at 1/4:
        # 0.88-0.90) — 1/3 restores the margin for 4/3 the candidate
        # volume: measured recall@5 0.949 (sf0.001) / 0.956 (sf0.01) /
        # 0.997 (sf0.1) vs the 0.9 IVF_RECALL_FLOOR. Lesson recorded in
        # NEXT: k-means INERTIA does not track IVF recall — probe/spill
        # fractions are the honest levers, not restarts.
        n_probe = max(3, n_cells // 3)
    centers, with_vec = _codebook_cached(spark, sf_dir, n_cells, seed)
    bc = spark.sparkContext.broadcast(centers)
    assigned = _cell_assign(with_vec, bc, n_assign)
    q = _nearest_cells(
        base.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")),
        bc,
        n_probe,
    )
    return base, assigned, q, n_probe


def _ivf_search(
    q: DataFrame, members: DataFrame, kernel, score_col: str, depth: int
) -> DataFrame:
    """Cogroup the probe rows ``q`` with the cell ``members`` on cell id,
    score each cell with ``kernel`` and merge the per-cell lists into each
    query's top ``depth`` (``_top_per_query``). See ``_ivf_session`` for
    the whole pipeline."""
    local = (
        q.groupby("cell")
        .cogroup(members.groupby("cell"))
        .applyInPandas(
            kernel, schema=f"query_id long, neighbor_id long, {score_col} double"
        )
    )
    return _top_per_query(local, score_col, depth, dedup=True)


def _top_per_query(
    df: DataFrame, score_col: str, depth: int, dedup: bool = False
) -> DataFrame:
    """Each query's top ``depth`` rows by (-score, neighbor_id) — the one
    deterministic merge window of every scan in this module. dedup=True
    first drops repeated (query, neighbor) pairs (spilled assignment puts
    one member in several probed cells)."""
    if dedup:
        df = df.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), "neighbor_id")
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= depth)
        .select("query_id", "neighbor_id", score_col)
    )


def _rounded(df: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, sim) with sim_raw rounded to 6 places."""
    return df.select("query_id", "neighbor_id", F.round("sim_raw", 6).alias("sim"))


def ann_ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int | None = None,
    n_assign: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the shared IVF pipeline
    (``_ivf_session``) with the EXACT cell kernel — each query scores
    only the raw members of its n_probe nearest cells, no refine needed.
    Expected candidate fraction ~ n_assign * n_probe / n_cells.

    Spilled assignment (ScaNN/SOAR-style): the recall killer in
    single-assignment IVF is the cell-boundary effect — a true neighbor
    whose nearest centroid differs from every probed cell. Duplicating each
    indexed vector into its n_assign nearest cells multiplies index size
    by n_assign but converts most boundary misses into hits. Measured
    recall@5 at sf0.1 with probe=cells/4: 0.73 (n_assign=1) -> 0.89 (2)
    -> 0.95 (3, the round-4 default — cheaper than widening the probe
    fraction, which reaches 0.94 only at cells/3 and 0.99 at cells/2 for
    4.6x the wall time).

    The cell-local matmul (round 5) replaced a probe-to-member join that
    shipped both embedding arrays on every candidate pair (~1 KB x
    candidate volume of shuffle; at n=200k it never finished): the merge
    now handles ~n x n_probe x k 24-byte rows.
    """
    _, assigned, q, _ = _ivf_session(spark, sf_dir, n_cells, n_probe, n_assign, seed)
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ce"), "cell"
    )
    return _rounded(_ivf_search(q, c, _cell_topk_kernel(k), "sim_raw", k))


#: ceiling on the elements of any one (queries-slice x candidates) sims
#: matrix inside _cell_topk_kernel: 2^25 float64 = 256 MB of matmul output
#: (plus same-shape boolean mask temporaries). An adversarially hot LSH
#: bucket or IVF cell — the round-8 200k GCLocker observation taken to its
#: limit — would otherwise allocate n_q x n_c in one piece and kill the
#: worker. Module-level so the adversarial-width test can shrink it and
#: prove sliced == unsliced.
KERNEL_SLICE_ELEMS = 1 << 25


def _sliced_topk(q_ids, c_ids, r: int, score, score_col: str, mask=None):
    """Per-query top ``r`` of a (queries x candidates) score matrix by
    (-score, neighbor_id), with self-matches (query id == candidate id)
    and, when ``mask(lo, hi)`` is given, its True pairs excluded.
    ``score(lo, hi)`` scores query rows [lo, hi) against every candidate.

    The QUERY axis is sliced so no score/mask allocation exceeds
    KERNEL_SLICE_ELEMS (read at call time) — the bounded-memory rule
    (round-5 lesson: a 16 GB sims alloc killed workers at 200k). Slices
    partition the query ids, so per-slice rows just concatenate and the
    output is bit-identical to the unsliced form. The local truncation is
    deterministic (``_topk_rows``): a boundary tie dropped HERE could
    never be recovered by the global window tie-break (round-5
    advisory)."""
    import numpy as np
    import pandas as pd

    q_step = max(1, KERNEL_SLICE_ELEMS // max(1, len(c_ids)))
    out_q, out_n, out_s = [], [], []
    for lo in range(0, len(q_ids), q_step):
        hi = lo + q_step
        ids_s = q_ids[lo:hi]
        sims = score(lo, hi)
        sims[ids_s[:, None] == c_ids[None, :]] = -np.inf
        if mask is not None:
            sims[mask(lo, hi)] = -np.inf
        rr = min(r, sims.shape[1])
        top, nbr = _topk_rows(sims, c_ids, rr)
        keep = np.isfinite(top).ravel()
        out_q.append(np.repeat(ids_s, rr)[keep])
        out_n.append(nbr.ravel()[keep])
        out_s.append(top.ravel()[keep])
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            score_col: np.concatenate(out_s),
        }
    )


def _empty_pairs(score_col: str):
    """The typed empty result of a cell kernel (a cell no query probed,
    or a probed cell with no members)."""
    import pandas as pd

    return pd.DataFrame(
        {"query_id": [], "neighbor_id": [], score_col: []}
    ).astype({"query_id": "int64", "neighbor_id": "int64", score_col: "float64"})


def _cell_topk_kernel(k: int, label_mask: bool = False):
    """Exact cell kernel: cosine of every query in the cell against every
    raw member (``qe``/``ce`` vectors), per-query local top-k out.

    label_mask=True (round 8, hard-negative mining): the group frames
    carry ``ql``/``cl`` label columns and same-label pairs are masked to
    -inf BEFORE the local top-k — so every one of the k slots holds a
    usable negative. Masking after the fact (an overfetched top-k*m then
    a label filter) multiplies the merge volume m-fold and still loses
    recall whenever a query's m*k nearest are all same-label; masking
    inside the kernel costs one numpy comparison per pair that the
    matmul already paid for."""
    import numpy as np

    def kernel(qpdf, cpdf):
        if qpdf.empty or cpdf.empty:
            return _empty_pairs("sim_raw")
        qm = np.array(qpdf["qe"].tolist(), dtype=np.float64)
        cm = np.array(cpdf["ce"].tolist(), dtype=np.float64)
        qm /= np.linalg.norm(qm, axis=1, keepdims=True)
        cm /= np.linalg.norm(cm, axis=1, keepdims=True)
        mask = None
        if label_mask:
            q_lab = qpdf["ql"].to_numpy()
            c_lab = cpdf["cl"].to_numpy()
            mask = lambda lo, hi: q_lab[lo:hi, None] == c_lab[None, :]  # noqa: E731
        return _sliced_topk(
            qpdf["query_id"].to_numpy(),
            cpdf["neighbor_id"].to_numpy(),
            k,
            lambda lo, hi: qm[lo:hi] @ cm.T,
            "sim_raw",
            mask,
        )

    return kernel


def _pq_cell_kernel_factory(r_cell: int, bc_books):
    """PQ-ADC cell kernel: each query's (m x n_codes) lookup table of
    exact subspace distances (``_pq_lut``, on the L2-normalized query)
    gathered against the cell members' PQ ``codes`` — m table gathers
    and adds per candidate, no multiplies, and the member payload is m
    ints instead of d doubles. Emits each query's top ``r_cell`` by
    (-distance, vec_id) as ``neg_d2``. ``bc_books`` is the broadcast
    (m, n_codes, d/m) codebook array. The tables are rebuilt per probed
    cell: m*n_codes*d/m flops per query-probe, amortized over the cell's
    members."""
    import numpy as np

    def kernel(qg, cg):
        if qg.empty or cg.empty:
            return _empty_pairs("neg_d2")
        books = bc_books.value
        Q = np.array(qg["qe"].tolist(), dtype=np.float64)
        Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        codes = np.array(cg["codes"].tolist(), dtype=np.int64)
        return _sliced_topk(
            qg["query_id"].to_numpy(),
            cg["vec_id"].to_numpy(),
            r_cell,
            lambda lo, hi: _pq_neg_d2(_pq_lut(Q[lo:hi], books), codes),
            "neg_d2",
        )

    return kernel


def _bq_cell_kernel_factory(r_cell: int):
    """BQ cell kernel: unpack the members' two packed sign-bit words to a
    (members, 64) {-1,+1} matrix and score the normalized queries against
    it (asymmetric q . sign(c)); emits each query's top ``r_cell`` by
    (-score, vec_id) as ``s_bq``."""
    import numpy as np

    def kernel(qg, cg):
        if qg.empty or cg.empty:
            return _empty_pairs("s_bq")
        Q = np.array(qg["qe"].tolist(), dtype=np.float64)
        Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        j32 = np.arange(32, dtype=np.uint64)
        w0 = cg["w0"].to_numpy().astype(np.uint64)
        w1 = cg["w1"].to_numpy().astype(np.uint64)
        bits = np.concatenate(
            [
                (w0[:, None] >> j32[None, :]) & 1,
                (w1[:, None] >> j32[None, :]) & 1,
            ],
            axis=1,
        )
        Bpm = bits.astype(np.float64) * 2.0 - 1.0
        return _sliced_topk(
            qg["query_id"].to_numpy(),
            cg["vec_id"].to_numpy(),
            r_cell,
            lambda lo, hi: Q[lo:hi] @ Bpm.T,
            "s_bq",
        )

    return kernel


def _pq_encode(E, books):
    """PQ-encode the rows of ``E`` against the (m, n_codes, d/m) codebooks:
    returns (codes (n, m) int32, each row's squared subspace distance to
    its chosen codeword (n, m))."""
    import numpy as np

    m, _, ds = books.shape
    codes = np.empty((len(E), m), dtype=np.int32)
    d2 = np.empty((len(E), m), dtype=np.float64)
    rows = np.arange(len(E))
    for j in range(m):
        S = E[:, j * ds : (j + 1) * ds]
        # (n, k) distances via the broadcast form — S and books[j] are
        # small (<=16 dims x 64 codes), no 256 MB slicing needed
        dist = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
        cj = dist.argmin(axis=1)
        codes[:, j] = cj
        d2[:, j] = dist[rows, cj]
    return codes, d2


def _pq_lut(Q, books):
    """Per-query ADC lookup tables: (queries, m, n_codes) exact squared
    subspace distances to every codeword. The code count comes from the
    fitted codebooks, which ``_kmeans_pp_lloyd`` clamps to the training
    sample size on a small corpus."""
    import numpy as np

    m, n_codes, ds = books.shape
    L = np.empty((len(Q), m, n_codes), dtype=np.float64)
    for j in range(m):
        Sq = Q[:, j * ds : (j + 1) * ds]
        L[:, j, :] = ((Sq[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
    return L


def _pq_neg_d2(L, codes):
    """ADC score: minus the summed table distances of every (query,
    candidate) pair — m gathers and adds per pair."""
    import numpy as np

    d2 = np.zeros((L.shape[0], len(codes)))
    for j in range(L.shape[1]):
        d2 += L[:, j, :][:, codes[:, j]]
    return -d2


def _bq_pack(E):
    """Pack the sign bits of 64-dim rows into two int64 words: bit j of
    word w is set iff dim 32w+j > 0 (sign(raw) == sign(normalized) for a
    nonzero norm, so no normalization is needed)."""
    import numpy as np

    bits = E > 0
    j32 = np.arange(32, dtype=np.uint64)
    w0 = (bits[:, :32].astype(np.uint64) << j32[None, :]).sum(axis=1)
    w1 = (bits[:, 32:64].astype(np.uint64) << j32[None, :]).sum(axis=1)
    return w0.astype(np.int64), w1.astype(np.int64)


def _encode_rows(df: DataFrame, bc_books=None) -> DataFrame:
    """Narrow Arrow map replacing each row's raw ``emb`` with its
    compressed form: PQ ``codes array<int>`` of the L2-normalized vector
    when ``bc_books`` (broadcast codebooks) is given, else the two packed
    sign-bit words ``w0``/``w1``. Every other column rides through, in
    order, ahead of the codes."""
    import numpy as np

    keep = [c for c in df.columns if c != "emb"]
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    schema = ", ".join(f"{c} {types[c]}" for c in keep)
    schema += ", codes array<int>" if bc_books is not None else ", w0 long, w1 long"

    def gen(batches):
        import pandas as pd

        books = None if bc_books is None else bc_books.value
        for b in batches:
            if b.empty:
                continue
            E = np.array(b["emb"].tolist(), dtype=np.float64)
            out = {c: b[c] for c in keep}
            if books is None:
                out["w0"], out["w1"] = _bq_pack(E)
            else:
                E = E / np.linalg.norm(E, axis=1, keepdims=True)
                out["codes"] = list(_pq_encode(E, books)[0])
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, schema=schema)


def embedding_near_dup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (d1 < d2, sim >= threshold).

    Exact within-label blocking: class labels partition the candidate space
    (a near-dup of a vector shares its label in this corpus), cutting the
    quadratic term by the label cardinality. The unblocked scale path is
    ann_lsh_topk with a threshold filter.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("emb")
    )
    a = e.select(
        F.col("label"), F.col("vec_id").alias("d1"), F.col("emb").alias("e1")
    )
    b = e.select(
        F.col("label"), F.col("vec_id").alias("d2"), F.col("emb").alias("e2")
    )
    return (
        a.join(b, "label")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.round(cosine(F.col("e1"), F.col("e2")), 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def embedding_near_dup_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    num_planes: int | None = None,
    num_tables: int = 3,
) -> DataFrame:
    """Embedding near-dup pairs via LSH blocking — the UNBLOCKED scale path
    (no label assumption, unlike ``embedding_near_dup_pairs``).

    Candidates = pairs colliding in ANY table's bucket; exact cosine
    (Arrow batch) filters to >= threshold. The self-join shuffles on
    (table, bucket) only; adaptive plane count keeps bucket occupancy — and
    therefore per-bucket pair volume — flat as the corpus grows. High-sim
    pairs collide with prob 1-(1-p^planes)^tables, p = 1 - angle/pi; the
    coverage floor vs the exact path is asserted by
    ``embedding_near_dup_lsh_check`` and the recall test.
    """
    base = _emb(spark, sf_dir)
    return near_dup_lsh_df(
        base, threshold=threshold, num_planes=num_planes, num_tables=num_tables
    )


def _block_pairs_kernel(threshold: float, slice_elems: int = 1 << 25):
    """Grouped-map kernel over one candidate block (LSH bucket / k-means
    cell): all (d1 < d2, raw cosine >= threshold-eps) pairs via one gram
    matmul, row-block-sliced so memory stays bounded on a hot block.

    Emitting (id, id, sim) rows here is the same round-5/6 rewrite as the
    top-k kernels: the old plan self-joined the block and shipped BOTH
    64-dim arrays on every candidate-pair row through the join AND the
    dropDuplicates shuffle. The eps guard keeps the legacy semantics of
    filtering on the ROUNDED sim downstream (a raw 0.3999997 that rounds
    to 0.4 must still reach the final >= threshold filter)."""
    import numpy as np
    import pandas as pd

    def kernel(pdf):
        empty = pd.DataFrame({"d1": [], "d2": [], "sim_raw": []}).astype(
            {"d1": "int64", "d2": "int64", "sim_raw": "float64"}
        )
        b = len(pdf)
        if b < 2:
            return empty
        ids = pdf["vec_id"].to_numpy()
        M = np.array(pdf["emb"].tolist(), dtype=np.float64)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        cut = threshold - 1e-6
        step = max(1, slice_elems // b)  # <=256 MB gram slice per pass
        cols = np.arange(b)
        frames = []
        for lo in range(0, b, step):
            rows = np.arange(lo, min(lo + step, b))
            S = M[rows] @ M.T
            mask = (cols[None, :] > rows[:, None]) & (S >= cut)
            ri, ci = np.nonzero(mask)
            if len(ri):
                x, y = ids[rows[ri]], ids[ci]
                frames.append(
                    pd.DataFrame(
                        {
                            "d1": np.minimum(x, y),
                            "d2": np.maximum(x, y),
                            "sim_raw": S[ri, ci],
                        }
                    )
                )
        return pd.concat(frames) if frames else empty

    return kernel


def near_dup_lsh_df(
    base: DataFrame,
    threshold: float,
    num_planes: int | None = None,
    num_tables: int = 3,
) -> DataFrame:
    """LSH near-dup core over a (vec_id, emb: array<double>) DataFrame.

    BLOCK-LOCAL MATMUL shape: members shuffle ONCE on (table, bucket),
    one gram matmul per bucket emits only (d1, d2, sim) candidate rows,
    and the cross-table dedup handles 24-byte rows — not full-array pair
    rows (the old join+dropDuplicates plan, round-6 rewrite; same class
    as lsh_topk_df's round-5 one)."""
    if num_planes is None:
        num_planes = _adaptive_planes(base.count())
    with_buckets = _lsh_buckets_arrow(base, num_planes, num_tables)
    members = with_buckets.select(
        "vec_id",
        "emb",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("b")
                    )
                    for t in range(num_tables)
                ]
            )
        ).alias("bucket"),
    ).select("vec_id", "emb", F.col("bucket.t").alias("t"), F.col("bucket.b").alias("b"))
    local = members.groupBy("t", "b").applyInPandas(
        _block_pairs_kernel(threshold), schema="d1 long, d2 long, sim_raw double"
    )
    return (
        local.dropDuplicates(["d1", "d2"])
        .select("d1", "d2", F.round("sim_raw", 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


#: vec_id offset for planted duplicates in the LSH near-dup check
_PLANT_OFFSET = 10_000_000


def embedding_near_dup_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-duplicate coverage check for the LSH near-dup path.

    The synthetic corpus contains no true near-dups (max within-label cosine
    < 0.8), so a native high-threshold check would be vacuous. Instead every
    vector gets a deterministically-jittered clone (first component +0.01 →
    cosine ~0.999); the LSH path at threshold 0.99 must recover >= 95% of
    the planted (original, clone) pairs. Sign-LSH collision probability for
    a ~1-degree angle is (1-θ/π)^planes ≈ 0.97/table before multiprobe, so
    3 tables push expected misses below 1e-3 — a real detector test, where
    sub-0.5-cosine "near dups" (which no curation pipeline blocks on) are
    fundamentally outside sign-LSH's operating range.
    One row: n_planted (hash-comparable = table count) + coverage boolean.
    """
    base = _emb(spark, sf_dir)
    clone = base.select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("emb", 1) + F.lit(0.01)),
            F.slice("emb", 2, DIM - 1),
        ).alias("emb"),
    )
    lsh = near_dup_lsh_df(base.unionByName(clone), threshold=0.99)
    planted_found = lsh.filter(F.col("d2") == F.col("d1") + _PLANT_OFFSET)
    return (
        base.agg(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(planted_found.agg(F.count(F.lit(1)).alias("n_found")))
        .select(
            "n_planted",
            (F.col("n_found") >= 0.95 * F.col("n_planted")).alias("coverage_ok"),
        )
    )


def semantic_dedup_pairs_df(
    spark: SparkSession,
    base: DataFrame,
    threshold: float,
    n_cells: int | None = None,
    n_assign: int = 2,
    seed: int = 42,
    centers=None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): k-means
    cells as semantic blocks, exact cosine within blocks.

    The cluster-then-compare shape is what makes semantic dedup tractable
    at corpus scale: candidate pairs are confined to cells of ~sqrt(n)
    expected occupancy, so pair volume grows ~n^1.5/cells instead of n².
    Spilled assignment (n_assign=2, same kernel as the IVF index) removes
    the cell-boundary misses that single-assignment SemDeDup suffers.

    Scale shape: codebook broadcast; assignment is a narrow Arrow map; the
    self-join shuffles on cell id only; exact cosine re-ranks candidates in
    Arrow batches. Deterministic: seeded sample-trained codebook.
    """
    import numpy as np

    if n_cells is None:
        n_cells = _adaptive_cells(base.count())
    if centers is None:
        centers, _ = _fit_codebook(base, n_cells=n_cells, seed=seed)
    bc = spark.sparkContext.broadcast(centers)
    assigned = _cell_assign(base, bc, n_assign)
    # BLOCK-LOCAL MATMUL (round-6, same rewrite as near_dup_lsh_df): one
    # shuffle of members on cell id, one gram matmul per cell, (id,id,sim)
    # rows out — never full-array pair rows through join+dropDuplicates
    local = assigned.groupBy("cell").applyInPandas(
        _block_pairs_kernel(threshold), schema="d1 long, d2 long, sim_raw double"
    )
    return (
        local.dropDuplicates(["d1", "d2"])
        .select("d1", "d2", F.round("sim_raw", 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def embedding_semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4
) -> DataFrame:
    """Semantic near-dup pairs over the embeddings table (rows-only entry —
    a k-means codebook is not SQL-expressible; coverage is oracle-checked by
    ``embedding_semantic_dedup_check``)."""
    base = _emb(spark, sf_dir)
    n_cells = _adaptive_cells(base.count())
    centers, _ = _codebook_cached(spark, sf_dir, n_cells, seed=42)
    return semantic_dedup_pairs_df(
        spark, base, threshold, n_cells=n_cells, centers=centers
    )


def embedding_semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-duplicate coverage check for the semantic-dedup path (same
    protocol as ``embedding_near_dup_lsh_check``): every vector gets a
    jittered clone (cosine ~0.999); cell blocking with spilled assignment
    must co-locate and recover >= 95% of the planted pairs. One row:
    n_planted (hash-comparable) + coverage boolean."""
    base = _emb(spark, sf_dir)
    clone = base.select(
        (F.col("vec_id") + _PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at("emb", 1) + F.lit(0.01)),
            F.slice("emb", 2, DIM - 1),
        ).alias("emb"),
    )
    pairs = semantic_dedup_pairs_df(
        spark, base.unionByName(clone), threshold=0.99
    )
    planted_found = pairs.filter(F.col("d2") == F.col("d1") + _PLANT_OFFSET)
    return (
        base.agg(F.count(F.lit(1)).alias("n_planted"))
        .crossJoin(planted_found.agg(F.count(F.lit(1)).alias("n_found")))
        .select(
            "n_planted",
            (F.col("n_found") >= 0.95 * F.col("n_planted")).alias("coverage_ok"),
        )
    )


# -- persistent IVF index (build once / query many) --------------------------


def _write_centroids(spark: SparkSession, centers, path: str) -> None:
    """Persist a codebook as (cell, centroid) rows. len(centers), not the
    requested n_cells: _kmeans_pp_lloyd clamps k to the (sampled) corpus
    size, so a small corpus degrades to fewer cells instead of a pandas
    length-mismatch crash."""
    import pandas as pd

    spark.createDataFrame(
        pd.DataFrame({"cell": range(len(centers)), "centroid": centers.tolist()})
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _index_centroids(spark: SparkSession, index_dir: str):
    """The persisted codebook, collected in cell order and broadcast."""
    import numpy as np

    cent = _ivf_relation(spark, index_dir, "centroids").orderBy("cell").collect()
    C = np.array([r["centroid"] for r in cent], dtype=np.float64)
    return spark.sparkContext.broadcast(C)


def _write_cell_tree(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write an index tree partitioned by cell and record its row count in
    ``<path>/_rows.json`` for the STALE check of ``_ivf_index_probe``.

    Repartitioned on cell BEFORE the dynamic-partition write: a scan with
    few input splits otherwise funnels the whole index through one or two
    writer tasks routing rows across n_cells directories (measured ~200 s
    of the 200k build); hashed on cell the write is cells-way parallel and
    each directory gets whole files. The count is an ``observe`` on the
    write itself, after the shuffle (a result stage counts a retried task
    once), so it costs no job. An append adds to the recorded count; its
    record is marked unknown before the write, so an append that dies
    midway leaves no count to trust and the check counts the trees."""
    spark = df.sparkSession
    record = f"{path}/_rows.json"
    before = 0
    if mode == "append":
        before = _recorded_rows(spark, path)
        write_json(spark, record, {"rows": None})
    counted = Observation()
    (
        df.repartition("cell")
        .observe(counted, F.count(F.lit(1)).alias("rows"))
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )
    if before is not None:
        write_json(spark, record, {"rows": before + counted.get["rows"]})


def _recorded_rows(spark: SparkSession, path: str) -> int | None:
    """The row count ``_write_cell_tree`` recorded for the tree at
    ``path``; ``None`` when there is none."""
    record = read_json(spark, f"{path}/_rows.json")
    return record.get("rows") if record else None


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n_cells: int = 16,
    seed: int = 42,
    n_assign: int = 1,
) -> None:
    """Build and persist an IVF index: seeded k-means centroids + the vector
    table partitioned BY CELL on disk.

    The on-disk layout is the index: `assignments/cell=N/` directories mean
    a query that probes 3 of 16 cells reads 3/16ths of the data — Spark's
    partition pruning turns the probe list into directory pruning, no file
    even opens for unprobed cells. This is how IVF earns its keep at 100 TB
    (the in-memory variant ann_ivf_topk re-clusters per query run).

    n_assign > 1 applies the same SPILLED assignment as ann_ivf_topk
    (each vector lands in its n_assign nearest cells): index size
    multiplies by n_assign, boundary misses turn into hits — measured
    recall@5 at sf0.01 with n_probe=6/16: 0.83 (n_assign=1) vs 0.97 (3,
    round-6 numpy-Lloyd codebook).
    Disk-for-recall is usually the right trade for a SERVING index; the
    default stays 1 so append-path assignment parity (argmin) holds.

    Round 8: when the source embeddings carry a ``label`` column it is
    stored alongside each assignment row (4 bytes/row), which is what
    lets ``ann_ivf_query_negatives`` serve label-masked hard-negative
    mining straight off the index — no join back to the corpus at query
    time. Label-less sources build the old schema unchanged.
    """
    centers, with_vec = _codebook_cached(spark, sf_dir, n_cells, seed)
    _write_centroids(spark, centers, f"{index_dir}/centroids")
    bc = spark.sparkContext.broadcast(centers)
    raw = load_table(spark, sf_dir, "embeddings")
    # Store the label alongside each assignment row ONLY when it is
    # integral (the type the masked kernels carry). A non-integral label —
    # e.g. a string category on a source never used for mining — must not
    # block a PLAIN index build (round-9 advisory: the previous hard raise
    # here regressed label-less use cases); it is skipped with a warning,
    # and the hard _require_integral_label guard stays on the MINING entry
    # points (ann_ivf_query_negatives / masked append) where correctness
    # actually depends on it.
    extra = None
    if "label" in raw.columns:
        if _label_is_integral(raw):
            extra = {"label": "long"}
        else:
            import warnings

            warnings.warn(
                "build_ivf_index: 'label' column is "
                f"{raw.schema['label'].dataType.simpleString()}, not "
                "integral — building a LABEL-LESS index (plain ANN serving "
                "works; hard-negative mining off this index will refuse). "
                "Integer-encode labels and rebuild to enable mining.",
                stacklevel=2,
            )
    if extra:
        # _emb drops label (most callers never need it); rebuild the
        # assignment input with it — tests that monkeypatch _emb to a
        # subset keep working because with_vec IS the patched frame and
        # the label rejoin is keyed on its vec_ids
        with_vec = with_vec.join(
            raw.select("vec_id", "label"), "vec_id", "left"
        )
    _write_cell_tree(
        _cell_assign(with_vec, bc, n_assign, extra_cols=extra),
        f"{index_dir}/assignments",
    )
    # a rebuild replaces the on-disk layout: drop any cached relations
    _invalidate_ivf_relations(index_dir)
    # persist the drift baseline (round 15): per-cell sizes + assignment
    # distances at build time, the yardstick ivf_index_drift_census
    # measures frozen-codebook append drift against
    ivf_index_write_stats(spark, index_dir, n_assign=n_assign)


def ivf_index_append(
    spark: SparkSession, index_dir: str, new_vectors: DataFrame, n_assign: int = 1
) -> None:
    """Append a NEW batch of vectors to a persisted IVF index — the nightly
    embedding-ingest path (the ANN sibling of dedup's
    ``incremental_dedup_indexed``).

    The codebook is FROZEN: new vectors are assigned to the existing
    centroids (broadcast, one Arrow argmin per batch) and appended into
    the matching ``assignments/cell=N/`` directories. Per-ingest cost is
    O(|batch| x n_cells); the existing index is never read or rewritten,
    and queries see the union immediately because search is directory
    pruning + re-rank, not a monolithic structure rebuild. Centroid drift
    under sustained ingest degrades cell balance, not correctness —
    re-run build_ivf_index when the append volume rivals the base (the
    same compaction trade HBase/LSM stores make).

    new_vectors: (vec_id, embedding) with the embeddings-table schema.
    n_assign should MATCH the build's n_assign so base and appended
    vectors get equal boundary-spill recall treatment (n_assign=1 is
    plain frozen-codebook argmin — the parity-tested default).
    """
    bc = _index_centroids(spark, index_dir)
    # align the label column with the EXISTING index schema: a
    # label-bearing index appends labels (null when the batch lacks
    # them — those rows serve plain queries but are invisible to
    # label-masked mining); a label-less index drops any batch labels so
    # every assignment file keeps one schema and reads need no merge
    assignments_rel = _ivf_relation(spark, index_dir, "assignments")
    index_has_label = "label" in assignments_rel.columns
    sel = ["vec_id", as_double(F.col("embedding")).alias("emb")]
    extra = None
    if index_has_label:
        # match the INDEX's on-disk label type (new builds write long so
        # >int32 labels can neither throw under ANSI nor wrap into a
        # colliding value that silently masks a valid negative — round-9
        # advisory): one physical type per assignments directory. The
        # lossless-ness of the narrowing cast is asserted EXPLICITLY
        # (round-back equality + assert_true) rather than relying on the
        # session's ANSI setting — with ANSI off, a bare cast would wrap
        # silently and reintroduce the label-collision masking bug for
        # legacy int-labeled indexes (round-10 advisory).
        idx_label_t = assignments_rel.schema["label"].dataType.simpleString()
        extra = {"label": idx_label_t}
        if "label" in new_vectors.columns:
            _require_integral_label(new_vectors, "ivf_index_append")
            lab_col = F.col("label")
        else:
            lab_col = F.lit(None)
        casted = lab_col.cast(idx_label_t)
        lossless = lab_col.isNull() | (
            casted.cast("long") == lab_col.cast("long")
        )
        sel.append(
            F.when(
                F.assert_true(
                    lossless,
                    F.concat(
                        F.lit(
                            "ivf_index_append: batch label out of range for "
                            f"the index's on-disk label type {idx_label_t}: "
                        ),
                        lab_col.cast("string"),
                    ),
                ).isNull(),
                casted,
            ).alias("label")
        )
    vecs = new_vectors.select(*sel)
    _write_cell_tree(
        _cell_assign(vecs, bc, n_assign, extra_cols=extra),
        f"{index_dir}/assignments",
        mode="append",
    )
    # new files on disk: cached relations would miss them
    _invalidate_ivf_relations(index_dir)


# --- IVF index drift census + rebalance (round 15) -------------------------
#
# Frozen-codebook appends (ivf_index_append) degrade cell balance and
# recall over sustained ingest with no measurement: a drifting embedding
# distribution piles new vectors into few cells (probe cost concentrates,
# per-cell kernels skew) and pushes mean assignment distance up (the
# quantizer fits the data worse, so a fixed n_probe recalls less). The
# census makes that drift a measured, thresholded quantity against a
# build-time baseline persisted in stats/; the rebalance op is the re-fit
# + re-encode maintenance step (the LSM-compaction analog the append
# docstring promised).

#: drift flags when cell-size imbalance grows past this multiple of the
#: build-time baseline...
DRIFT_IMBALANCE_RATIO = 1.5
#: ...or mean assignment distance grows past this multiple of baseline
DRIFT_DIST_RATIO = 1.2


def _ivf_percell_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """(cell, n_members, sum_dist) over the CURRENT assignments: one
    Arrow-batched pass computing each stored vector's L2 distance to its
    own cell's centroid (broadcast codebook), partially aggregated per
    batch so the shuffle carries one row per (task, cell)."""
    bc = _index_centroids(spark, index_dir)

    def gen(batches):
        import numpy as np
        import pandas as pd

        Cv = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.array(pdf["emb"].tolist(), dtype=np.float64)
            cells = pdf["cell"].to_numpy().astype(np.int64)
            d = np.linalg.norm(E - Cv[cells], axis=1)
            g = (
                pd.DataFrame({"cell": cells, "d": d})
                .groupby("cell")["d"]
                .agg(["count", "sum"])
                .reset_index()
            )
            yield pd.DataFrame(
                {"cell": g["cell"], "n": g["count"], "s": g["sum"]}
            )

    part = (
        _ivf_relation(spark, index_dir, "assignments")
        .select("emb", "cell")
        .mapInPandas(gen, schema="cell int, n long, s double")
    )
    return part.groupBy("cell").agg(
        F.sum("n").alias("n_members"), F.sum("s").alias("sum_dist")
    )


def ivf_index_write_stats(
    spark: SparkSession, index_dir: str, n_assign: int = 1
) -> None:
    """Persist the drift BASELINE: stats/percell (cell, n_members,
    sum_dist) + stats/meta (n_assign — rebalance re-assigns with the
    build's spill factor). Called by build_ivf_index and
    ivf_index_rebalance; appends deliberately do NOT refresh it — the
    baseline is what drift is measured against."""
    _ivf_percell_stats(spark, index_dir).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/stats/percell")
    spark.createDataFrame(
        [(int(n_assign),)], "n_assign int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats/meta")


def ivf_index_drift_census(spark: SparkSession, index_dir: str) -> DataFrame:
    """One-row drift report for a persisted IVF index vs its build-time
    baseline: (n_vectors, baseline_n_vectors, imbalance,
    baseline_imbalance, mean_dist, baseline_mean_dist, drift_flagged).
    imbalance = max cell size / mean cell size (1.0 = perfectly even);
    mean_dist = corpus-mean L2 distance to the assigned centroid.
    drift_flagged when either metric grows past its ratio threshold
    (DRIFT_IMBALANCE_RATIO / DRIFT_DIST_RATIO) — the signal to run
    ivf_index_rebalance. Cost: one scan of assignments (the same pass a
    single query's cell kernel pays over probed cells, here over all)."""
    import os

    if not os.path.isdir(os.path.join(index_dir, "stats", "percell")):
        raise ValueError(
            f"index at {index_dir} has no stats/ baseline — rebuild with "
            "build_ivf_index (round 15+) or run ivf_index_write_stats once"
        )

    def summarize(percell: DataFrame, prefix: str) -> DataFrame:
        return percell.agg(
            F.sum("n_members").alias(f"{prefix}n_vectors"),
            (
                F.max("n_members").cast("double")
                / F.avg("n_members")
            ).alias(f"{prefix}imbalance"),
            (F.sum("sum_dist") / F.sum("n_members")).alias(
                f"{prefix}mean_dist"
            ),
        )

    cur = summarize(_ivf_percell_stats(spark, index_dir), "")
    base = summarize(
        spark.read.parquet(f"{index_dir}/stats/percell"), "baseline_"
    )
    return cur.crossJoin(base).select(
        "n_vectors",
        "baseline_n_vectors",
        F.round("imbalance", 4).alias("imbalance"),
        F.round("baseline_imbalance", 4).alias("baseline_imbalance"),
        F.round("mean_dist", 6).alias("mean_dist"),
        F.round("baseline_mean_dist", 6).alias("baseline_mean_dist"),
        (
            (
                F.col("imbalance")
                > F.col("baseline_imbalance") * F.lit(DRIFT_IMBALANCE_RATIO)
            )
            | (
                F.col("mean_dist")
                > F.col("baseline_mean_dist") * F.lit(DRIFT_DIST_RATIO)
            )
        ).alias("drift_flagged"),
    )


def ivf_index_rebalance(
    spark: SparkSession, index_dir: str, seed: int = 43
) -> None:
    """Re-fit + re-encode maintenance for a drifted IVF index: fit a fresh
    codebook on the CURRENT contents (hash-capped sample, driver-side
    Lloyd — the build's own fit path), re-assign every vector with the
    build's n_assign (from stats/meta), and swap the new
    centroids/assignments in with directory renames (write-beside — the
    span_index_append commit pattern; a parquet tree can't be overwritten
    while it is the job's input). The baseline stats/ are refreshed so
    the next census measures drift from THIS rebalance.

    Derived code layers (pq_codes/bq_codes + their codebooks) are DROPPED
    with a warning: their rows are keyed by the OLD cell partitioning, and
    the count-based staleness guard cannot see a same-count re-layout —
    re-run ivf_index_add_pq / ivf_index_add_bq to re-encode. Labels ride
    through like ivf_index_append."""
    import shutil
    import warnings

    meta = spark.read.parquet(f"{index_dir}/stats/meta").collect()
    n_assign = int(meta[0]["n_assign"])
    n_cells = _ivf_relation(spark, index_dir, "centroids").count()
    asg = _ivf_relation(spark, index_dir, "assignments")
    has_label = "label" in asg.columns
    cols = ["vec_id", "emb"] + (["label"] if has_label else [])
    vecs = asg.select(*cols).dropDuplicates(["vec_id"])
    centers, _ = _fit_codebook(
        vecs.select("vec_id", "emb"), int(n_cells), seed
    )
    import numpy as np

    _write_centroids(spark, centers, f"{index_dir}/centroids__new")
    bc = spark.sparkContext.broadcast(np.asarray(centers))
    extra = (
        {"label": asg.schema["label"].dataType.simpleString()}
        if has_label
        else None
    )
    _write_cell_tree(
        _cell_assign(vecs, bc, n_assign, extra_cols=extra),
        f"{index_dir}/assignments__new",
    )
    for part in ("centroids", "assignments"):
        live, new = f"{index_dir}/{part}", f"{index_dir}/{part}__new"
        bak = f"{index_dir}/{part}__old"
        shutil.move(live, bak)
        shutil.move(new, live)
        shutil.rmtree(bak)
    import os

    for layer in ("pq_codes", "pq_codebooks", "bq_codes"):
        p = os.path.join(index_dir, layer)
        if os.path.isdir(p):
            warnings.warn(
                f"ivf_index_rebalance: dropping derived layer {layer} — "
                "its rows are keyed by the old cell partitioning; re-run "
                "the matching add-pq/add-bq to re-encode",
                stacklevel=2,
            )
            shutil.rmtree(p)
    _invalidate_ivf_relations(index_dir)
    ivf_index_write_stats(spark, index_dir, n_assign=n_assign)


#: per-process memo of the index relations (the DataFrame handle, NOT the
#: data): re-issuing spark.read.parquet per query re-runs the parallel
#: leaf-file LISTING job — at 1414 cell directories that is a 1414-task
#: metadata job per serve call (measured at the 2M probe). Holding the
#: relation reuses its InMemoryFileIndex; per-query partition pruning is a
#: plan-time filter and still applies. Invalidated by build/append IN THIS
#: process; an external writer requires a fresh session or a manual
#: _invalidate_ivf_relations — the standard Spark REFRESH TABLE contract.
#: Keyed by (applicationId, path): a DataFrame is bound to the session
#: that created it, so after a stop()/restart (the documented remedy for
#: an externally rewritten index) a path-only key would keep serving a
#: dead-session relation and break every query until process restart.
_IVF_RELATION_CACHE: dict[tuple, DataFrame] = {}


def _ivf_relation(spark: SparkSession, index_dir: str, part: str) -> DataFrame:
    import os

    path = os.path.abspath(os.path.join(index_dir, part))
    app = spark.sparkContext.applicationId
    # a new session means every same-path entry from the old one is dead
    # weight — drop them so the cache stays bounded across restarts
    for k in [k for k in _IVF_RELATION_CACHE if k[1] == path and k[0] != app]:
        _IVF_RELATION_CACHE.pop(k, None)
    key = (app, path)
    df = _IVF_RELATION_CACHE.get(key)
    if df is None:
        df = spark.read.parquet(path)
        _IVF_RELATION_CACHE[key] = df
    return df


def _invalidate_ivf_relations(index_dir: str) -> None:
    import os

    base = os.path.abspath(index_dir)
    for key in [k for k in _IVF_RELATION_CACHE if k[1].startswith(base)]:
        _IVF_RELATION_CACHE.pop(key, None)


def _ivf_index_probe(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    n_probe: int,
    layer: str = "assignments",
    label_mask: bool = False,
):
    """Probe stage of the persisted-index tiers (``ann_ivf_query``,
    ``ann_ivf_query_negatives``, ``ann_ivfpq_query``, ``ann_ivfbq_query``):
    the same pipeline as in session (see ``_ivf_session``), with the
    codebook, assignments and code layers read from ``index_dir``.

    The centroids (tiny) are collected and broadcast and each query's
    ``n_probe`` nearest cells computed in mapInPandas. The probe table is
    pinned: it is referenced TWICE (the probed-cell collect and the
    cogroup) — without the pin the query scan + probe kernel run twice
    per call, and a NONDETERMINISTIC queries plan (.limit/.sample) could
    probe one set of cells and then cogroup a different set of query rows
    whose cells were pruned away. The distinct probed cells (O(n_cells)
    driver rows, bounded by the codebook size, never by data) become a
    static ``isin`` filter on ``layer``'s partition column, so only the
    probed ``cell=N/`` directories are ever opened (cogroup cannot
    trigger DPP the way a join could, so prune explicitly).

    ``layer`` is the cell tree the codec kernel scans: ``assignments``
    (raw vectors), ``pq_codes`` or ``bq_codes``; a code layer that is
    missing, or STALE (raw appends since it was encoded leave it smaller
    than assignments — compared on the row counts recorded when each tree
    was written, see ``_write_cell_tree``), is refused with the re-encode
    instruction instead of silently missing the appended vectors.
    label_mask=True is the hard-negative variant: queries with a null
    label are dropped, the query label rides the probe rows as ``ql`` and
    the index label the members as ``cl`` (null-label members excluded —
    the labeled-only mining contract), both cast to long: int32 narrowing
    could throw (ANSI) or wrap, and wrapped labels collide, silently
    masking valid negatives.

    Returns (q, members, probed): the pinned (query_id, qe, cell[, ql])
    probe rows, ``layer`` pruned to the probed cells, and the probed
    cell list."""
    import os

    if layer != "assignments":
        tag, add = layer[:2].upper(), f"ivf_index_add_{layer[:2]}"
        if not os.path.isdir(os.path.join(index_dir, layer)):
            raise ValueError(
                f"index at {index_dir} has no {tag} layer; run {add} first"
            )
        n_assigned = _recorded_rows(spark, f"{index_dir}/assignments")
        n_encoded = _recorded_rows(spark, f"{index_dir}/{layer}")
        if n_assigned is None or n_encoded is None:  # no record: count
            n_assigned = _ivf_relation(spark, index_dir, "assignments").count()
            n_encoded = _ivf_relation(spark, index_dir, layer).count()
        if n_assigned != n_encoded:
            raise ValueError(
                f"{tag} layer is STALE ({n_encoded} encoded of {n_assigned} "
                f"indexed rows — vectors were appended after {add}); "
                f"re-run {add} to re-encode"
            )
    bc = _index_centroids(spark, index_dir)
    q_cols = [
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qe"),
    ]
    if label_mask:
        queries = queries.filter(F.col("label").isNotNull())
        q_cols.append(F.col("label").cast("long").alias("ql"))
    q = pin(_nearest_cells(queries.select(*q_cols), bc, n_probe), "ivf_probe")
    probed = [r["cell"] for r in q.select("cell").distinct().collect()]
    members = _ivf_relation(spark, index_dir, layer).filter(
        F.col("cell").isin(probed)
    )
    if label_mask:
        members = members.filter(F.col("label").isNotNull()).withColumn(
            "cl", F.col("label").cast("long")
        )
    return q, members, probed


def _ivf_index_refine(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    probed: list,
    shortlist: DataFrame,
    k: int,
) -> DataFrame:
    """Exact refine of a persisted code layer's shortlist: neighbor
    vectors come from the PRUNED raw cells (the only read of the raw
    tree), query vectors ride from the input."""
    raw = (
        _ivf_relation(spark, index_dir, "assignments")
        .filter(F.col("cell").isin(probed))
        .select("vec_id", "emb")
        .dropDuplicates(["vec_id"])
    )
    qv = queries.select("vec_id", as_double(F.col("embedding")))
    return _exact_cosine_rerank(shortlist, qv, raw, k)


def _ivf_query_impl(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int,
    n_probe: int,
    label_mask: bool,
) -> DataFrame:
    """The exact persisted-IVF search behind ``ann_ivf_query`` and
    ``ann_ivf_query_negatives``: the shared probe stage over the raw
    ``assignments`` tree and the exact cell kernel (label-masked for
    mining)."""
    q, members, _ = _ivf_index_probe(
        spark, index_dir, queries, n_probe, label_mask=label_mask
    )
    cols = [
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("ce"),
        "cell",
    ] + (["cl"] if label_mask else [])
    kernel = _cell_topk_kernel(k, label_mask=label_mask)
    return _rounded(_ivf_search(q, members.select(*cols), kernel, "sim_raw", k))


def ann_ivf_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """Top-k search against a PERSISTED IVF index: the exact cell kernel
    over the probed ``assignments/cell=N/`` directories only (the shared
    probe stage: ``_ivf_index_probe``) — for a bounded query set against
    a big index, most of the index is never read. Each side shuffles once
    on cell id and the global merge handles ~n_queries x n_probe x k
    24-byte rows.
    """
    return _ivf_query_impl(
        spark, index_dir, queries, k=k, n_probe=n_probe, label_mask=False
    )


def ann_ivf_query_negatives(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """Hard-negative mining against a PERSISTED label-bearing IVF index —
    the build-once/serve-many shape of ``embedding_hard_negatives``: for
    each (vec_id, embedding, label) query row, the top-k most-similar
    indexed vectors with a DIFFERENT label, reading only the probed
    ``cell=N/`` directories.

    Same plan as ``ann_ivf_query`` (one shared implementation), with the
    query label riding the probe table and the index label riding the
    assignment rows, so the same-label mask runs INSIDE the cell kernel
    (see _cell_topk_kernel / the round-8 LSH lesson: post-hoc label
    filtering overfetches and still loses recall). Null-label index rows
    (e.g. appended from a label-less batch) are excluded from the
    candidate side, mirroring the exact form's labeled-only contract.

    Requires an index built (or appended) from a label-bearing source —
    raises ValueError on a label-less index rather than silently mining
    positives.
    """
    assigned_rel = _ivf_relation(spark, index_dir, "assignments")
    if "label" not in assigned_rel.columns:
        raise ValueError(
            f"index at {index_dir} carries no label column; rebuild from a "
            "label-bearing embeddings source to mine hard negatives"
        )
    _require_integral_label(queries, "ann_ivf_query_negatives")
    return _ivf_query_impl(
        spark, index_dir, queries, k=k, n_probe=n_probe, label_mask=True
    ).withColumnRenamed("neighbor_id", "negative_id")


#: recall floors the ANN check queries assert — per method, since the
#: methods sit at different points on the recall/cost curve. Measured
#: recall@5 with the default knobs: LSH 0.92 (sf0.1) - 0.995 (sf0.01);
#: IVF 0.70-0.73. The floors sit a margin below the measured values so the
#: deterministic pipelines re-pass on regenerated testdata.
#: raised 0.8 -> 0.9 in round 4: query-directed hamming-2 multiprobe lifted
#: LSH recall@5 to 0.991 (sf0.1); n_assign=3 spilled assignment lifted IVF
#: to 0.95
LSH_RECALL_FLOOR = 0.9
IVF_RECALL_FLOOR = 0.9


def _ann_recall_check(
    spark: SparkSession,
    sf_dir: str,
    method: str,
    ann: DataFrame,
    k: int = 5,
    floor: float = LSH_RECALL_FLOOR,
) -> DataFrame:
    """One-row bounded-quality check: recall@k of ``ann`` vs exact brute
    force, floor-asserted. The boolean (not the raw recall, which is
    engine/plane specific) is what the DuckDB oracle confirms — the same
    tolerance-oracle pattern as the sketch queries."""
    exact = knn_cosine_topk(spark, sf_dir, k=k)
    hits = ann.join(exact, ["query_id", "neighbor_id"], "left_semi")
    stats = (
        hits.agg(F.count(F.lit(1)).alias("n_hits"))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_true")))
        # n_queries mirrors the oracle's COUNT(*) FROM embeddings directly —
        # deriving it as n_true/k diverges whenever a query has fewer than k
        # exact neighbors (n <= k corpora) and would fail the hash compare
        .crossJoin(
            load_table(spark, sf_dir, "embeddings").agg(
                F.count(F.lit(1)).alias("n_queries")
            )
        )
    )
    return stats.select(
        F.lit(method).alias("method"),
        F.col("n_queries"),
        (F.col("n_hits") >= F.lit(floor) * F.col("n_true")).alias("recall_ok"),
    )


def ann_lsh_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # auto_route=False: the check certifies the LSH plan itself — routed
    # brute would trivially self-compare at recall 1.0 and prove nothing
    return _ann_recall_check(
        spark, sf_dir, "lsh", ann_lsh_topk(spark, sf_dir, k=5, auto_route=False),
        floor=LSH_RECALL_FLOOR,
    )


def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_check(
        spark, sf_dir, "ivf", ann_ivf_topk(spark, sf_dir, k=5),
        floor=IVF_RECALL_FLOOR,
    )


def knn_label_vote(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Leave-one-out kNN-probe accuracy — the non-parametric companion to
    the linear probe (``regression.doc_probe_ridge``): how well do raw
    embedding neighborhoods predict labels? The standard representation-
    quality eval (kNN probe, e.g. DINO/SimCLR protocols): each labeled
    vector is classified by majority vote of its k exact cosine neighbors
    (self excluded), ties broken by smallest label for cross-engine
    determinism.

    Output census per true label: n_queries, n_correct, accuracy — the
    per-class confusion diagonal, hash-comparable (counts are exact
    integers; accuracy divides them).

    Scale shape: the kNN set comes from the same broadcast-chunk BLAS
    kernel as ``knn_cosine_topk`` (corpus streamed, never collected); the
    vote is two partial-aggregated groupBys on (query, label) then one
    window row_number over k rows per query — O(n*k) rows after the
    search, nothing quadratic."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select("vec_id", "embedding", F.col("label").cast("long").alias("label"))
    )
    knn = brute_topk(spark, e.select("vec_id", "embedding"), k=k)
    n_lbl = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        knn.join(n_lbl, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("c"), F.asc("n_label"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("n_label").alias("predicted"))
    )
    truth = e.select(F.col("vec_id").alias("query_id"), "label")
    return (
        truth.join(pred, "query_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            (
                F.col("n_correct").cast("double")
                / F.col("n_queries").cast("double")
            ).alias("accuracy"),
        )
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4x storage cut
    for embedding tables at corpus scale (float32 -> int8 + one float scale).

    q_i = floor(v_i / max_abs * 127); scale = max_abs / 127 reconstructs
    v_i ~ q_i * scale. floor (not round) is deliberate: floor is tie-free,
    so Spark and the DuckDB oracle agree bit-for-bit, where half-way
    rounding conventions could differ.

    Output is verification-shaped: per vector the scale plus two exact
    integer checksums of the quantized values — a position-weighted sum
    (pins every q_i to its dim) and the L1 mass. All narrow per-row
    expressions; zero shuffles except the final driver fetch.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(
        v, lambda x, i: F.floor(x / max_abs * F.lit(127.0)).cast("long")
    )
    zero = F.lit(0).cast("long")
    wsum = F.aggregate(
        F.zip_with(q, F.sequence(F.lit(1), F.size(q)), lambda a, i: a * i),
        zero,
        lambda acc, x: acc + x,
    )
    l1 = F.aggregate(q, zero, lambda acc, x: acc + F.abs(x))
    return e.select(
        "vec_id",
        F.when(max_abs == 0.0, F.lit(0.0))
        .otherwise(max_abs / F.lit(127.0))
        .alias("scale"),
        F.when(max_abs == 0.0, zero).otherwise(wsum).alias("q_wsum"),
        F.when(max_abs == 0.0, zero).otherwise(l1).alias("q_l1"),
    )


def embedding_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution of the embedding table, 0.25-wide buckets —
    the standard embedding-QA sweep (collapsed or exploded norms signal a
    broken encoder batch). One narrow per-row expression + one tiny
    partial-agg shuffle on the bucket id."""
    e = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    bucket = F.floor(norm / F.lit(0.25)).cast("long")
    return (
        e.select(bucket.alias("norm_bucket"))
        .groupBy("norm_bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroid (prototype vector), one row per (label, dim).

    The mean is accumulated as EXACT integer micro-units: each float32
    component is quantized once (round(v * 1e6) as long), summed exactly,
    and divided back at the end — cross-engine bit-stable, where a plain
    double SUM would differ from the oracle in the last ulp because
    distributed summation order differs (same discipline as the money-sum
    template in entry.py).

    Scale: posexplode is a narrow 64x fan-out; the only shuffle is the
    (label, dim) hash aggregate with map-side partial sums — at 10^9
    vectors the exchange still carries only labels x dims x tasks rows.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1e6).cast("long").alias("q"),
    )
    return (
        q.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("q").alias("sq"))
        .select(
            "label",
            "dim",
            "n_vecs",
            (F.col("sq").cast("double") / (F.col("n_vecs") * 1e6)).alias("centroid"),
        )
    )


# -- k-means clustering as a first-class operator ----------------------------


def embedding_kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = 10, seed: int = 42
) -> DataFrame:
    """Per-cluster census of a k-means clustering over the embeddings table
    (rows-only — Lloyd's iterations are not SQL-expressible; invariants are
    oracle-checked by ``embedding_kmeans_check``).

    Reuses the IVF machinery: codebook fit on a portable-hash-capped sample
    (layout-independent), broadcast centroids, one Arrow-batched assignment
    pass (``_cell_assign`` with n_assign=1 — each vector to its single
    nearest centroid), then a k-row aggregate: cluster size + mean squared
    distance to the centroid (the per-cluster inertia contribution).
    Scale: the only data-scale stages are the narrow assignment map and one
    partial-aggregated k-group shuffle.
    """
    import numpy as np

    base = _emb(spark, sf_dir)
    C, with_vec = _codebook_cached(spark, sf_dir, k, seed)
    bc = spark.sparkContext.broadcast(C)
    assigned = _cell_assign(base, bc, n_assign=1)

    def with_dist(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            E = np.array(pdf["emb"].tolist(), dtype=np.float64)
            d2 = ((E - C[pdf["cell"].to_numpy()]) ** 2).sum(axis=1)
            yield pd.DataFrame({"cell": pdf["cell"], "d2": d2})

    dists = assigned.mapInPandas(with_dist, schema="cell int, d2 double")
    return dists.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("d2"), 6).alias("mean_sq_dist"),
    )


def embedding_kmeans_check(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Oracle-paired invariants for ``embedding_kmeans_fit``: membership is
    a partition (sizes sum to the corpus count — the oracle's COUNT(*)),
    every cluster is non-empty, and the clustering strictly beats the
    trivial 1-cluster solution: total within-cluster inertia < total
    variance around the GLOBAL mean (sum ||x - mean||^2, from the same
    distributed moment pass PCA uses)."""
    from symat_hbase_tools_spark.operators.pca import _moment_stats

    census = embedding_kmeans_fit(spark, sf_dir, k=k)
    base = _emb(spark, sf_dir)
    d = len(base.select("emb").first()["emb"])
    stats = _moment_stats(base.select(F.col("emb").alias("embedding")), d)
    n, s = stats[0], stats[1 : 1 + d]
    gram_diag_sum = stats[1 + d :].reshape(d, d).trace()
    total_var = gram_diag_sum - (s @ s) / n

    rows = census.collect()
    sizes = {r["cell"]: r["n_members"] for r in rows}
    inertia = sum(r["n_members"] * r["mean_sq_dist"] for r in rows)
    return spark.createDataFrame(
        [
            (
                int(sum(sizes.values())),
                int(k),
                bool(len(sizes) == k and min(sizes.values()) > 0),
                bool(inertia < total_var),
            )
        ],
        "n_vectors long, k int, partition_ok boolean, inertia_ok boolean",
    )


def embedding_outlier_flags(
    spark: SparkSession, sf_dir: str, n_sigma: float = 2.0
) -> DataFrame:
    """Per-vector embedding-space outlier flags against the vector's own
    class prototype — the embedding-cleaning pass that drops mislabeled /
    corrupted vectors before contrastive training or ANN index builds: a
    vector farther than mean + ``n_sigma`` * stddev of its label's
    prototype-distance distribution is flagged.

    Exactness discipline (everything an aggregate touches is an integer):
    components quantize once to micros (the label_centroids idiom); the
    per-(label, dim) prototype re-quantizes to micros (round of an
    exact-rounded double division of identical bigints — bit-stable);
    per-vector squared distance is an exact bigint SUM of (q - c_q)^2
    (~1e12 per dim * 64 dims, far inside int64); the per-vector distance
    fixes to micros via one exact-rounded sqrt; the per-label mean/stddev
    derive from integer power sums (the price_quantity_stats idiom —
    sum(d) ~ 8e6 * n, sum(d^2) ~ 6.4e13 * n, both safe past 10^4 vectors
    per label at int64; distance is deliberately NOT kept squared, whose
    power sums would overflow at ~10^5). No distributed float summation
    anywhere, so the flag boundary is exact cross-engine.

    Scale shape: posexplode is the narrow 64x fan-out; prototype table is
    labels x dims rows (broadcast); ONE data-scale shuffle (the vec_id
    partial-aggregated distance sum); per-label stats are a label-count
    aggregate broadcast back. At 10^9 vectors: one exchange of narrow
    rows, everything else map-side.

    Output: (vec_id, label, dist_micros, is_outlier), one row per vector
    with a non-null label.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull()
    )
    q = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1e6).cast("long").alias("q"),
    )
    cent = (
        q.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("q").alias("sq"))
        .select(
            "label",
            "dim",
            F.round(F.col("sq").cast("double") / F.col("n"))
            .cast("long")
            .alias("c_q"),
        )
    )
    per_vec = (
        q.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("q") - F.col("c_q")) * (F.col("q") - F.col("c_q")))
            .alias("s2")
        )
        .select(
            "vec_id",
            "label",
            F.round(F.sqrt(F.col("s2").cast("double")))
            .cast("long")
            .alias("dist_micros"),
        )
    )
    stats = per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist_micros").alias("sd"),
        F.sum(F.col("dist_micros") * F.col("dist_micros")).alias("sdd"),
    )
    mean = F.col("sd").cast("double") / F.col("n")
    var = (
        F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd") / F.col("n")
    ) / F.col("n")
    thresholds = stats.select(
        "label",
        (mean + F.lit(float(n_sigma)) * F.sqrt(F.greatest(var, F.lit(0.0))))
        .alias("thr"),
    )
    return per_vec.join(F.broadcast(thresholds), "label").select(
        "vec_id",
        "label",
        "dist_micros",
        (F.col("dist_micros").cast("double") > F.col("thr")).alias(
            "is_outlier"
        ),
    )


#: prefix lengths the matryoshka census evaluates (full dim last so the
#: retention-1.0 row doubles as a self-check)
MATRYOSHKA_PREFIXES = (8, 16, 32, 64)


def matryoshka_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-embedding quality census: how much of each
    vector's energy (squared L2 norm) survives truncation to the first k
    dimensions — the go/no-go diagnostic for MRL-style dimension cuts
    (serve 16 of 64 dims at 1/4 the index cost IF retention holds).
    For randomly-oriented embeddings retention concentrates near k/64;
    MRL-trained embeddings front-load energy — this census is how you
    tell which corpus you have before cutting.

    Exactness: components quantize once to micros; full and prefix
    energies are exact bigint sums of q^2 (6.4e13 max, far inside
    int64); per-vector retention fixes to micros via one exact-rounded
    division+round of identical bigints; the per-k aggregate then sums
    only bigints (mean = sum/count, another identical-bigint division).
    No distributed float accumulation anywhere.

    Scale shape: posexplode (narrow 64x fan-out) -> ONE vec-keyed
    partial aggregate computing all prefix sums as conditional sums in a
    single pass -> a len(MATRYOSHKA_PREFIXES)-group aggregate (explode
    of a 4-struct array, map-side combined). One data-scale shuffle.

    Output per k: (k, n_vectors, mean_retention, min_retention_micros,
    max_retention_micros, n_ge_90pct).
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("v").cast("double") * 1e6).cast("long").alias("q"),
    )
    qq = F.col("q") * F.col("q")
    prefix_sums = [
        F.sum(F.when(F.col("dim") < k, qq).otherwise(F.lit(0))).alias(
            f"e{k}"
        )
        for k in MATRYOSHKA_PREFIXES
    ]
    per_vec = q.groupBy("vec_id").agg(*prefix_sums).filter(
        F.col(f"e{MATRYOSHKA_PREFIXES[-1]}") > 0
    )
    full = F.col(f"e{MATRYOSHKA_PREFIXES[-1]}")
    rets = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.round(
                    F.col(f"e{k}").cast("double") / full * 1e6
                )
                .cast("long")
                .alias("ret"),
            )
            for k in MATRYOSHKA_PREFIXES
        ]
    )
    per_k = per_vec.select(F.explode(rets).alias("r")).select(
        F.col("r.k").alias("k"), F.col("r.ret").alias("ret")
    )
    return (
        per_k.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("ret").alias("_s"),
            F.min("ret").alias("min_retention_micros"),
            F.max("ret").alias("max_retention_micros"),
            F.count_if(F.col("ret") >= 900_000).alias("n_ge_90pct"),
        )
        .select(
            "k",
            "n_vectors",
            (F.col("_s").cast("double") / F.col("n_vectors") / 1e6).alias(
                "mean_retention"
            ),
            "min_retention_micros",
            "max_retention_micros",
            "n_ge_90pct",
        )
    )


#: overflow-guard assumption for the PQ census integer grid: a single
#: (subspace, code) cell is assumed to hold at most this many members
#: (10^9 rows in ONE of the m*k cells is beyond a 100 TB corpus); the
#: encode kernel asserts every per-item grid value leaves this much
#: summation headroom inside int64 — i.e. per-item d2 <= ~9.2, which
#: normalized embeddings always satisfy (subspace slices have norm <= 1,
#: so d2 <= 4) while huge unnormalized magnitudes trip loudly
PQ_CENSUS_MAX_CELL = 10**9


def embedding_pq_fit(
    spark: SparkSession, sf_dir: str, m: int = 4, k: int = 16, seed: int = 42
) -> DataFrame:
    """Product-quantization codebook fit + encode census (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", PAMI 2011 — the PQ
    half of the FAISS-style IVF-PQ serving stack; the engine's IVF coarse
    quantizer is the other half). The D-dim space splits into ``m``
    subspaces of D/m dims; each gets its own ``k``-centroid codebook, so a
    vector compresses to m small codes (m=4, k=16 -> 2 BYTES per 64-dim
    float64 vector, a 256x storage cut) while distances remain computable
    per-subspace from lookup tables.

    Rows-only census (Lloyd's iterations are not SQL-expressible; the
    oracle-paired invariants live in ``embedding_pq_check``): one row per
    (subspace, code) with member count and mean squared subspace
    distance — the per-cell quantization-error contribution.

    Scale shape: the fit is driver-side seeded numpy Lloyd's per subspace
    on the SAME portable-hash-capped sample the IVF codebook uses
    (layout-independent, <= MAX_KMEANS_TRAIN_ROWS rows collected once; m
    independent fits over column slices of one matrix). Encoding is one
    Arrow-batched map over the corpus with the m codebooks broadcast —
    narrow, no shuffle — followed by a partial-aggregated (subspace, code)
    census of m*k groups. Nothing data-scale after the map.
    """
    import numpy as np

    base = _emb(spark, sf_dir)
    codebooks, _d, _n = _pq_fit_codebooks(base, m, k, seed, normalize=False)
    bc = spark.sparkContext.broadcast(codebooks)

    def census_rows(batches):
        import pandas as pd

        C = bc.value
        for b in batches:
            if b.empty:
                continue
            E = np.array(b["emb"].tolist(), dtype=np.float64)
            codes, d2 = _pq_encode(E, C)
            # freeze each squared distance to the exact 1e-9 integer grid:
            # the census sum is then an order-free BIGINT sum —
            # partitioning/batching cannot move the rounded mean by an ulp
            # (the module's exact-integer-sum discipline)
            d2_grid = np.round(d2 * 1e9).astype(np.int64)
            # overflow headroom: the per-cell BIGINT sum is exact only
            # while sum(d2_1e9) < 2^63. Guard per item against the
            # documented corpus bound — if every item in a cell hit this
            # magnitude the cell would need > PQ_CENSUS_MAX_CELL members
            # to overflow. Unnormalized embeddings with huge magnitudes
            # trip this loudly instead of silently corrupting
            # mean_sq_dist; remedy: normalize the vectors or census on a
            # coarser grid.
            worst = int(np.abs(d2_grid).max()) if d2_grid.size else 0
            if worst > (2**63 - 1) // PQ_CENSUS_MAX_CELL:
                raise ValueError(
                    "embedding_pq_fit: subspace squared distance "
                    f"{worst / 1e9:.3e} exceeds the int64 census "
                    f"headroom for {PQ_CENSUS_MAX_CELL:.0e} members "
                    "per cell — normalize the embeddings or use a "
                    "coarser grid"
                )
            # subspace-major rows, as (subspace, code, d2) per item
            yield pd.DataFrame(
                {
                    "subspace": np.repeat(
                        np.arange(m, dtype=np.int32), len(E)
                    ),
                    "code": codes.T.ravel(),
                    "d2_1e9": d2_grid.T.ravel(),
                }
            )

    enc = base.mapInPandas(census_rows, schema="subspace int, code int, d2_1e9 long")
    return enc.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(
            F.sum("d2_1e9").cast("double") / F.count(F.lit(1)) / 1e9, 6
        ).alias("mean_sq_dist"),
    )


def embedding_pq_check(
    spark: SparkSession, sf_dir: str, m: int = 4, k: int = 16
) -> DataFrame:
    """Oracle-paired invariants for ``embedding_pq_fit``: every subspace's
    code counts sum to the corpus size (each vector gets exactly one code
    per subspace — a partition, m times over), no subspace uses more than
    k codes, and total quantization error beats the trivial
    one-code-per-subspace solution: sum over cells of n*mean_sq_dist <
    total variance around the GLOBAL mean (the same distributed moment
    pass PCA and the k-means check use — quantizing with k=16 codes per
    subspace must do better than collapsing each subspace to its mean).
    """
    from symat_hbase_tools_spark.operators.pca import _moment_stats

    census = embedding_pq_fit(spark, sf_dir, m=m, k=k)
    base = _emb(spark, sf_dir)
    d = len(base.select("emb").first()["emb"])
    stats = _moment_stats(base.select(F.col("emb").alias("embedding")), d)
    n, s = stats[0], stats[1 : 1 + d]
    gram_diag_sum = stats[1 + d :].reshape(d, d).trace()
    total_var = gram_diag_sum - (s @ s) / n

    rows = census.collect()
    per_sub: dict[int, int] = {}
    max_codes: dict[int, int] = {}
    err = 0.0
    for r in rows:
        per_sub[r["subspace"]] = per_sub.get(r["subspace"], 0) + r["n_members"]
        max_codes[r["subspace"]] = max_codes.get(r["subspace"], 0) + 1
        err += r["n_members"] * r["mean_sq_dist"]
    partition_ok = len(per_sub) == m and all(
        v == int(n) for v in per_sub.values()
    )
    codes_ok = all(v <= k for v in max_codes.values())
    return spark.createDataFrame(
        [
            (
                int(n),
                int(m),
                int(k),
                bool(partition_ok),
                bool(codes_ok),
                bool(err < total_var),
            )
        ],
        "n_vectors long, m int, k int, partition_ok boolean, "
        "codes_ok boolean, quantization_ok boolean",
    )


#: per-task LUT allocation target for the ADC scan: the query chunk size
#: is derived from it as TARGET_PQ_LUT_BYTES // (m * n_codes * 8), so the
#: (chunk, m, n_codes) float64 table a task materializes stays ~256 MB at
#: ANY (m, n_codes) — a fixed query-count cap would be wrong by the
#: parameter ratio (m=16/codes=64 is 4x the bytes of m=8/codes=32).
TARGET_PQ_LUT_BYTES = 256 << 20
#: recall@5 floor for the PQ-ADC + exact-re-rank serving path (measured
#: 0.971-0.988 at sf0.001/0.01/0.1 with the m=16, 64-code, 16k-shortlist
#: defaults; the sweep: m=8/32-code/4k read 0.42-0.63 — these embeddings
#: are unclustered, so the shortlist depth and code granularity carry the
#: recall, not corpus structure)
PQ_RECALL_FLOOR = 0.9


def _pq_fit_codebooks(base: DataFrame, m: int, k: int, seed: int, normalize: bool):
    """Seeded per-subspace Lloyd codebooks on the portable-hash-capped
    sample (the embedding_pq_fit / ann_pq_topk shared fit). Returns
    (codebooks (m, k, d/m), d, n_rows). normalize=True fits on
    L2-normalized vectors — squared L2 on normalized vectors is monotone
    with cosine, which is what makes ADC rank like the exact cosine
    searches."""
    import numpy as np

    d = len(base.select("emb").first()["emb"])
    if d % m != 0:
        raise ValueError(f"embedding dim {d} not divisible by m={m} subspaces")
    ds = d // m
    n = base.count()
    train = base
    if n > MAX_KMEANS_TRAIN_ROWS:
        stride = -(-n // MAX_KMEANS_TRAIN_ROWS)
        train = base.filter(
            F.pmod(F.xxhash64(F.lit(seed), F.col("vec_id")), F.lit(stride)) == 0
        )
    pdf = train.select("vec_id", "emb").toPandas().sort_values("vec_id")
    X = np.array(pdf["emb"].tolist(), dtype=np.float64)
    if normalize:
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
    books = np.stack(
        [_kmeans_pp_lloyd(X[:, j * ds : (j + 1) * ds], k, seed + j) for j in range(m)]
    )
    return books, d, n


def ann_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    m: int = 16,
    n_codes: int = 64,
    shortlist_mult: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine neighbors via PRODUCT-QUANTIZATION ADC +
    exact re-rank — the serving shape FAISS calls IVFPQ-with-refine, here
    as the flat-PQ variant (the IVF cell pruning half already exists as
    ``ann_ivf_topk``; this is the compressed-domain scan half).

    Pipeline:
      1. fit m per-subspace codebooks on L2-NORMALIZED vectors (driver
         Lloyd on the capped sample — squared L2 on normalized vectors is
         monotone with cosine, so ADC ranks like the exact searches);
      2. encode the corpus to m small codes per vector (the compressed
         table a 100 TB index actually scans: m bytes/vector, a 64x read
         cut vs float64 — the scan streams CODES, never raw vectors);
      3. Asymmetric Distance Computation: per query, a (m x n_codes)
         lookup table of exact subspace distances to every codeword;
         candidate distance = m table gathers + adds, no multiplies;
         per-batch shortlist of shortlist_mult*k by (distance,
         neighbor_id) — deterministic;
      4. EXACT re-rank of the shortlist (``_exact_cosine_rerank``).

    Scale shape: the fit is driver-side on a capped sample; the encode and
    the ADC scan are narrow Arrow-batched maps (no shuffle; query vectors
    broadcast, hash-chunked by ``_hash_chunked`` so each task's LUT stays
    under TARGET_PQ_LUT_BYTES); the shortlist merge window and the
    re-rank join handle O(n_queries x shortlist) rows only. Rows-only in the registry —
    recall is floor-asserted by the oracle-paired ``ann_pq_recall_check``.
    """
    import numpy as np

    base = _emb(spark, sf_dir)
    books, _, n = _pq_fit_codebooks(base, m, n_codes, seed, normalize=True)
    bc_books = spark.sparkContext.broadcast(books)
    # ADAPTIVE shortlist: a fixed depth loses recall as the corpus grows
    # (measured at the 10x probe: 80-deep read recall@5 0.880 — under the
    # 0.9 floor — 240-deep 0.976). Flat PQ on UNCLUSTERED vectors needs a
    # corpus-proportional shortlist (~1%) to hold recall; real deployments
    # bound this with IVF cell pruning (ann_ivf_topk), which is exactly
    # why flat-PQ serving pairs with a coarse quantizer at scale.
    R = max(int(shortlist_mult) * int(k), n // 100)
    enc = _encode_rows(base, bc_books)

    def adc_chunk(queries: DataFrame) -> DataFrame:
        # broadcast the normalized query VECTORS (d*8 bytes/query), not
        # their LUTs (m*n_codes*8 — 16x bigger at the defaults): chunk
        # broadcasts are created eagerly for the whole union plan, so
        # resident broadcast memory is the FULL query side — vectors keep
        # that at corpus-scan order (the brute_topk contract) while each
        # task builds its own LUT once below (a few hundred MFLOPs,
        # amortized over the task's batches).
        q_pdf = queries.toPandas().sort_values("vec_id")
        q_ids = q_pdf["vec_id"].to_numpy()
        Q = np.array(q_pdf["emb"].tolist(), dtype=np.float64)
        Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((q_ids, Q))

        def scan(batches):
            ids, Qm = bc.value
            # per-query exact subspace distance tables, built ONCE per
            # task: (chunk, m, n_codes) <= TARGET_PQ_LUT_BYTES by the
            # chunk-size derivation
            L = _pq_lut(Qm, bc_books.value)
            for b in batches:
                if b.empty:
                    continue
                codes = np.array(b["codes"].tolist(), dtype=np.int64)
                yield _sliced_topk(
                    ids,
                    b["vec_id"].to_numpy(),
                    R,
                    lambda lo, hi: _pq_neg_d2(L[lo:hi], codes),
                    "neg_d2",
                )

        return enc.mapInPandas(
            scan, schema="query_id long, neighbor_id long, neg_d2 double"
        )

    scored = _hash_chunked(
        base, n, max(1, TARGET_PQ_LUT_BYTES // (m * n_codes * 8)), adc_chunk
    )
    shortlist = _top_per_query(scored, "neg_d2", R)
    return _exact_cosine_rerank(shortlist, base, base, k)


def _exact_cosine_rerank(
    shortlist: DataFrame, queries: DataFrame, neighbors: DataFrame, k: int
) -> DataFrame:
    """Exact refine stage of the compressed tiers: JVM-side cosine of each
    (query_id, neighbor_id) shortlist pair against the RAW vectors, then
    each query's top k. ``queries`` and ``neighbors`` are (id, vector)
    frames — the same corpus in session, the query input and the pruned
    raw cells on a persisted index. zip_with dot in fixed evaluation
    order (deterministic); the window runs over the bounded shortlist
    rows only."""
    qv = queries.toDF("query_id", "qe")
    nv = neighbors.toDF("neighbor_id", "ne")
    dot = F.aggregate(
        F.zip_with("qe", "ne", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    ranked = (
        shortlist.select("query_id", "neighbor_id")
        .join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot / (nrm(F.col("qe")) * nrm(F.col("ne")))).alias("sim_raw"),
        )
    )
    return _rounded(_top_per_query(ranked, "sim_raw", k))


def ann_pq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_check(
        spark, sf_dir, "pq", ann_pq_topk(spark, sf_dir, k=5),
        floor=PQ_RECALL_FLOOR,
    )


#: BQ (asymmetric) with exact re-rank at the n/10 shortlist depth;
#: measured recall@5 0.960/0.959/0.968 at sf0.001/0.01/0.1 (floor at the
#: family's 0.9)
BQ_RECALL_FLOOR = 0.9


def _bq_word_expr(col: str, lo: int) -> F.Column:
    """BIGINT packing 32 sign bits of ``col`` dims [lo, lo+32): bit j set
    iff element lo+j+1 (1-based) > 0. Pure JVM fold — exact integers,
    bit-identical to the DuckDB packing."""
    return F.expr(
        f"CAST(aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, j) -> "
        f"acc + IF(element_at({col}, j + {lo + 1}) > CAST(0 AS DOUBLE), "
        f"shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT))) AS BIGINT)"
    )


def embedding_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) quantization census — the 1-bit end of the
    quantization ladder next to int8 (``embedding_quantize_int8``) and PQ
    (``embedding_pq_fit``): each 64-dim vector packs to TWO bigint words
    (bit j of word w = sign of dim 32w+j), a 32x read cut vs float64.
    Output: (vec_id, bq_w0, bq_w1, n_pos) — exact integers, oracle-paired.

    Shape: one map-only JVM fold per word, no shuffle; the packed table is
    what ``ann_bq_topk`` scans (hamming distance in the compressed domain,
    XOR + popcount — no floats until the re-rank).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        _bq_word_expr("embedding", 0).alias("bq_w0"),
        _bq_word_expr("embedding", 32).alias("bq_w1"),
        F.size(F.filter(F.col("embedding"), lambda v: v > 0))
        .cast("long")
        .alias("n_pos"),
    )


def ann_bq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    shortlist_mult: int = 16,
) -> DataFrame:
    """Approximate top-k cosine neighbors via ASYMMETRIC binary
    quantization with IN-KERNEL exact rescoring — the cheapest serving
    tier (1 bit/dim of index payload): the first pass scores q . sign(c)
    (float query x {-1,+1} corpus bits — what vector stores run for BQ;
    symmetric hamming measured recall@5 ~0.80 on this fixture's 64
    random dims and was rejected), keeps the per-batch top ~10% of
    candidates, exact-rescores ONLY those against the co-located raw
    vectors, and emits just k exact-scored rows per (query, batch).

    Why rescoring lives INSIDE the scan: the first design shuffled the
    n/10-deep shortlist to a global window + raw-vector re-rank join —
    n x n/10 rows with 1 KB vector payloads, measured 205 s at the 20k
    sf1 probe (a quadratic-row shuffle). Per-batch exact top-k commutes
    with the global top-k (an exact-scored candidate can only win
    globally if it wins its batch), so the shuffle carries
    n_queries x k x n_batches skinny rows instead. Recall is the same
    candidate criterion (a true neighbor is found iff it ranks in its
    batch's BQ top fraction, rescored exactly).

    Scale shape: at 100 TB the packed words are the INDEX (the
    `embedding_binary_quantize` census table — 16 bytes/vector, 32x
    smaller than raw); serving scans segments where codes and raw
    vectors are co-located (the BQ + rescore segment layout) and the
    query side broadcasts normalized float vectors under the 1M
    hash-chunk gate (the brute_topk contract). Rows-only in the
    registry; recall floor-asserted by the oracle-paired
    ``ann_bq_recall_check`` (measured 0.96-0.99 at three scales).
    """
    import numpy as np

    base = _emb(spark, sf_dir)
    n = base.count()

    def bq_chunk(queries: DataFrame) -> DataFrame:
        q_pdf = queries.toPandas().sort_values("vec_id")
        q_ids = q_pdf["vec_id"].to_numpy()
        Q = np.array(q_pdf["emb"].tolist(), dtype=np.float64)
        Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((q_ids, Q))

        def scan(batches):
            import pandas as pd

            ids, Qm = bc.value
            for b in batches:
                if b.empty:
                    continue
                c_ids = b["vec_id"].to_numpy()
                E = np.array(b["emb"].tolist(), dtype=np.float64)
                En = E / np.maximum(
                    np.linalg.norm(E, axis=1, keepdims=True), 1e-12
                )
                Bpm = np.where(En > 0, 1.0, -1.0)
                nb = len(c_ids)
                # per-batch candidate depth: the measured ~10% fraction
                # BQ needs at 64 bits (1 bit/dim is coarser than PQ's
                # ~4 — see the recall sweep in the module docstring)
                r_b = min(nb, max(int(shortlist_mult) * int(k), -(-nb // 10)))
                # chunk queries so the (q, r_b, d) rescore gather stays
                # ~256 MB
                q_step = max(
                    1, (1 << 25) // max(1, r_b * En.shape[1])
                )
                for lo in range(0, len(ids), q_step):
                    ids_s = ids[lo : lo + q_step]
                    Qs = Qm[lo : lo + q_step]
                    s_bq = Qs @ Bpm.T
                    s_bq[ids_s[:, None] == c_ids[None, :]] = -np.inf
                    cand = np.argpartition(-s_bq, r_b - 1, axis=1)[:, :r_b]
                    # exact cosine of candidates only: (q, r_b, d) gather
                    sims = np.einsum(
                        "qd,qrd->qr", Qs, En[cand], optimize=True
                    )
                    sims[np.take_along_axis(
                        s_bq, cand, axis=1
                    ) == -np.inf] = -np.inf
                    kk = min(int(k), r_b)
                    nbr_ids = c_ids[cand]
                    # exact per-batch top-k with (sim desc, id asc) ties
                    order = np.lexsort((nbr_ids, -sims), axis=1)[:, :kk]
                    top = np.take_along_axis(sims, order, axis=1)
                    nbr = np.take_along_axis(nbr_ids, order, axis=1)
                    keep = np.isfinite(top).ravel()
                    yield pd.DataFrame(
                        {
                            "query_id": np.repeat(ids_s, kk)[keep],
                            "neighbor_id": nbr.ravel()[keep],
                            "sim_raw": top.ravel()[keep],
                        }
                    )

        return base.mapInPandas(
            scan, schema="query_id long, neighbor_id long, sim_raw double"
        )

    # same broadcast gate as brute_topk/ann_pq_topk: above 1M queries the
    # query side hash-chunks so resident broadcast memory stays bounded
    scored = _hash_chunked(base, n, MAX_BROADCAST_QUERIES, bq_chunk)
    return _rounded(_top_per_query(scored, "sim_raw", k))


def ann_bq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_check(
        spark, sf_dir, "bq", ann_bq_topk(spark, sf_dir, k=5),
        floor=BQ_RECALL_FLOOR,
    )


def ann_ivfbq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int | None = None,
    n_assign: int = 3,
    cell_shortlist_mult: int = 16,
    seed: int = 42,
) -> DataFrame:
    """IVF-BQ approximate top-k — the 1-bit in-cell rung of the serving
    ladder (round-13 verdict lead 5): the shared IVF pipeline
    (``_ivf_session``) with the BQ codec — members carry their packed
    sign bits and are scored asymmetrically, q . sign(c) (the
    ``ann_bq_topk`` half; symmetric hamming measured ~0.80 recall and was
    rejected for the flat tier) — then the exact refine.

    vs IVF-PQ (``ann_ivfpq_topk``): the cogrouped member payload is TWO
    bigints per vector (16 B — 4x under PQ's m=16 int32 codes, 32x under
    raw float64) and the in-cell kernel is one gemm against a {-1,+1}
    matrix instead of m LUT gathers per candidate; the price is a coarser
    first-pass score (1 bit/dim vs PQ's ~4), paid for with a deeper
    per-cell shortlist (mult 16 vs PQ's 8). vs flat BQ: each query scans
    only ~n_assign * n_probe / n_cells of the corpus instead of all of
    it, so the scan cost per query grows as sqrt(n), not n.

    Rows-only in the registry (k-means is not SQL-expressible); the
    oracle-paired ``ann_ivfbq_recall_check`` floor-asserts the
    composition end-to-end.
    """
    base, assigned, q, n_probe = _ivf_session(
        spark, sf_dir, n_cells, n_probe, n_assign, seed
    )
    members = _encode_rows(assigned)
    r_cell = int(cell_shortlist_mult) * int(k)
    shortlist = _ivf_search(
        q,
        members,
        _bq_cell_kernel_factory(r_cell),
        "s_bq",
        r_cell * max(1, n_probe // 2),
    )
    return _exact_cosine_rerank(shortlist, base, base, k)


def ann_ivfbq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_check(
        spark, sf_dir, "ivfbq", ann_ivfbq_topk(spark, sf_dir, k=5),
        floor=BQ_RECALL_FLOOR,
    )


def ann_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    m: int = 16,
    n_codes: int = 64,
    n_cells: int | None = None,
    n_probe: int | None = None,
    n_assign: int = 3,
    cell_shortlist_mult: int = 8,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed 100 TB serving
    architecture (FAISS's IVFPQ + refine): the shared IVF pipeline
    (``_ivf_session``) with the PQ-ADC codec. m PQ codebooks are fit on
    L2-normalized vectors and the spilled members encoded ONCE, so the
    cogrouped member payload is m ints instead of d doubles (the
    compression is IN THE PLAN, not just on disk) and the cell kernel
    never touches raw member vectors; the exact refine restores
    precision. ``ann_ivf_topk`` is the exact-in-cell half,
    ``ann_pq_topk`` the flat-compressed half; this composes them.

    Recall comes from three levers (probe fraction, spill, shortlist
    depth); the oracle-paired ``ann_ivfpq_recall_check`` floor-asserts
    the composition end-to-end. Rows-only in the registry (k-means +
    Lloyd are not SQL-expressible).
    """
    base, assigned, q, n_probe = _ivf_session(
        spark, sf_dir, n_cells, n_probe, n_assign, seed
    )
    books, _, _ = _pq_fit_codebooks(base, m, n_codes, seed + 100, normalize=True)
    bc_books = spark.sparkContext.broadcast(books)
    members = _encode_rows(assigned, bc_books)
    r_cell = int(cell_shortlist_mult) * int(k)
    shortlist = _ivf_search(
        q,
        members,
        _pq_cell_kernel_factory(r_cell, bc_books),
        "neg_d2",
        r_cell * max(1, n_probe // 2),
    )
    return _exact_cosine_rerank(shortlist, base, base, k)


def ann_ivfpq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_check(
        spark, sf_dir, "ivfpq", ann_ivfpq_topk(spark, sf_dir, k=5),
        floor=PQ_RECALL_FLOOR,
    )


def ivf_index_add_pq(
    spark: SparkSession,
    index_dir: str,
    m: int = 16,
    n_codes: int = 64,
    seed: int = 4242,
) -> None:
    """Attach a PQ layer to a PERSISTED IVF index — the serve-many form of
    the in-session ``ann_ivfpq_topk``: codebooks fit once, every indexed
    vector encoded once, and the compressed table stored as its OWN
    cell-partitioned tree so the ADC scan never opens the raw-vector
    files at all (stronger than column pruning: separate directories).

    Layout added (existing trees untouched — the plain ``ann_ivf_query``
    path is unaffected):
      * ``pq_codebooks/``  (subspace, code, center) — m*n_codes tiny rows;
      * ``pq_codes/cell=N/`` (vec_id, codes array<int>) — mirrors the
        assignment tree's partitioning, so the probe list prunes the SAME
        directories.

    Codebooks fit on the DISTINCT indexed vectors (spilled assignment
    duplicates rows; a duplicate-weighted fit would bias centroids toward
    boundary vectors), L2-normalized (ADC ranks like cosine). Appending
    raw vectors AFTER add_pq leaves the PQ layer STALE — ``ann_ivfpq_query``
    compares both trees' recorded row counts and refuses with the
    re-encode instruction rather than silently missing the appended
    vectors.
    """
    import pandas as pd

    assigned = _ivf_relation(spark, index_dir, "assignments")
    base = assigned.select("vec_id", "emb").dropDuplicates(["vec_id"])
    books, _, _ = _pq_fit_codebooks(base, m, n_codes, seed, normalize=True)
    kk = books.shape[1]
    spark.createDataFrame(
        pd.DataFrame(
            {
                "subspace": [j for j in range(m) for _ in range(kk)],
                "code": [c for _ in range(m) for c in range(kk)],
                "center": [books[j][c].tolist() for j in range(m) for c in range(kk)],
            }
        )
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/pq_codebooks")
    bc = spark.sparkContext.broadcast(books)
    _write_cell_tree(
        _encode_rows(assigned.select("vec_id", "emb", "cell"), bc),
        f"{index_dir}/pq_codes",
    )
    _invalidate_ivf_relations(index_dir)


def ann_ivfpq_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    cell_shortlist_mult: int = 8,
) -> DataFrame:
    """Top-k search against a persisted IVF index's PQ LAYER
    (``ivf_index_add_pq``): the shared persisted pipeline
    (``_ivf_index_probe``) scans the probed ``pq_codes/cell=N/``
    directories with the PQ-ADC kernel — the raw-vector tree is opened
    only by the refine, and only for the probed cells. The serve-many
    composition of ``ann_ivf_query`` (pruning) and ``ann_pq_topk``
    (ADC): codebooks and codes amortize across queries. A missing or
    STALE layer is refused with the re-encode instruction.
    """
    import numpy as np

    q, codes, probed = _ivf_index_probe(
        spark, index_dir, queries, n_probe, layer="pq_codes"
    )
    cb = _ivf_relation(spark, index_dir, "pq_codebooks").collect()
    m = max(r["subspace"] for r in cb) + 1
    kk = max(r["code"] for r in cb) + 1
    books = np.zeros((m, kk, len(cb[0]["center"])), dtype=np.float64)
    for r in cb:
        books[r["subspace"], r["code"]] = r["center"]
    bc_books = spark.sparkContext.broadcast(books)
    r_cell = int(cell_shortlist_mult) * int(k)
    shortlist = _ivf_search(
        q,
        codes,
        # the same-id mask matches the exact persisted path: a query never
        # retrieves the indexed row with its own vec_id
        _pq_cell_kernel_factory(r_cell, bc_books),
        "neg_d2",
        r_cell * max(1, n_probe // 2),
    )
    return _ivf_index_refine(spark, index_dir, queries, probed, shortlist, k)


def ivf_index_add_bq(spark: SparkSession, index_dir: str) -> None:
    """Attach a BINARY-quantization layer to a PERSISTED IVF index — the
    serve-many form of the in-session ``ann_ivfbq_topk`` and the 1-bit
    sibling of ``ivf_index_add_pq``: every indexed vector's sign bits
    packed once into two bigint words and stored as their OWN
    cell-partitioned tree, so the first-pass scan opens 16-byte rows and
    never touches the raw-vector files.

    Simpler than the PQ layer by construction: sign-bit packing has no
    codebooks to fit (it is data-independent), so there is nothing to
    train, nothing to broadcast at build time, and the encode is a pure
    narrow map over the assignment tree. Layout added (existing trees
    untouched): ``bq_codes/cell=N/`` (vec_id, w0, w1), mirroring the
    assignment tree's partitioning so the probe list prunes the SAME
    directories. Appends after add_bq leave the layer STALE —
    ``ann_ivfbq_query`` refuses with the re-encode instruction (same
    guard as the PQ layer).
    """
    _write_cell_tree(
        _encode_rows(
            _ivf_relation(spark, index_dir, "assignments").select(
                "vec_id", "emb", "cell"
            )
        ),
        f"{index_dir}/bq_codes",
    )
    _invalidate_ivf_relations(index_dir)


def ann_ivfbq_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    cell_shortlist_mult: int = 16,
) -> DataFrame:
    """Top-k search against a persisted IVF index's BQ LAYER
    (``ivf_index_add_bq``): the shared persisted pipeline
    (``_ivf_index_probe``) scans the probed ``bq_codes/cell=N/``
    directories (16-byte rows) with the asymmetric sign-bit kernel. The
    serve-many composition of ``ann_ivf_query`` (pruning) and
    ``ann_bq_topk`` (scoring); shortlist mult defaults 16 — one notch
    deeper than PQ's 8, the 1-bit coarseness lever (see
    ``ann_ivfbq_topk``). A missing or STALE layer is refused with the
    re-encode instruction.
    """
    q, codes, probed = _ivf_index_probe(
        spark, index_dir, queries, n_probe, layer="bq_codes"
    )
    r_cell = int(cell_shortlist_mult) * int(k)
    shortlist = _ivf_search(
        q,
        codes,
        _bq_cell_kernel_factory(r_cell),
        "s_bq",
        r_cell * max(1, n_probe // 2),
    )
    return _ivf_index_refine(spark, index_dir, queries, probed, shortlist, k)
