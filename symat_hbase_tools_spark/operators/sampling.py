"""Deterministic, partitioning-independent sampling.

``df.sample(fraction, seed)`` is seed-deterministic only for a FIXED
partitioning — repartition the input and the sample changes, which breaks
reproducibility across cluster layouts. At 100 TB the correct tool is
consistent hash sampling: a row is in the sample iff a hash of its key
lands under the cut-off. Properties that matter at scale:

  * layout-independent: same rows sampled on 1 or 1000 executors;
  * coordinated: the same key samples identically across tables/runs
    (joinable samples);
  * narrow: a filter, no shuffle, fully pushable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from symat_hbase_tools_spark.sources.io import local_frame

_BUCKETS = 1_000_000


def hash_sample(df: DataFrame, key_cols: list[str], fraction: float, seed: int = 42) -> DataFrame:
    """Keep rows whose key-hash bucket falls below fraction."""
    cut = int(fraction * _BUCKETS)
    bucket = F.pmod(F.xxhash64(F.lit(seed), *[F.col(c) for c in key_cols]), _BUCKETS)
    return df.filter(bucket < cut)


def stratified_hash_sample(
    df: DataFrame, strata_col: str, fractions: dict[str, float], seed: int = 42
) -> DataFrame:
    """Per-stratum fractions (e.g. downsample a dominant language)."""
    cut: Column = F.lit(0)
    for value, frac in fractions.items():
        cut = F.when(F.col(strata_col) == value, int(frac * _BUCKETS)).otherwise(cut)
    bucket = F.pmod(F.xxhash64(F.lit(seed), *[F.col(c) for c in df.columns]), _BUCKETS)
    return df.filter(bucket < cut)


# -- cross-engine-portable variant ------------------------------------------
# xxhash64 above is the fast path but is Spark-specific. When the sample
# membership itself must be reproducible in OTHER engines (an oracle check, a
# downstream DuckDB/Trino consumer re-deriving the same split), hash with md5
# — every engine agrees on md5 — and compare the leading hex digits against a
# fixed-width hex cutoff. Still a narrow, pushable filter; md5 costs more CPU
# than xxhash64 but the plan shape (no shuffle, layout-independent) is the
# same.

_HEX_WIDTH = 8  # 16^8 buckets: cutoff resolution ~2e-10


def _md5_cut(fraction: float) -> str:
    return format(min(int(fraction * 16**_HEX_WIDTH), 16**_HEX_WIDTH - 1), f"0{_HEX_WIDTH}x")


def portable_sample(
    df: DataFrame, key_cols: list[str], fraction: float, seed: int = 42
) -> DataFrame:
    """Sample whose membership any md5-capable engine reproduces exactly.

    Keeps rows where the first 8 hex chars of md5(seed \\x1f key...) sort
    below the fraction's hex cutoff; fixed-width lexicographic comparison of
    lowercase hex equals numeric comparison, so DuckDB's
    ``substr(md5(concat_ws(chr(31), ...)), 1, 8) < '<cut>'`` selects the
    identical row set.
    """
    hexval = F.md5(F.concat_ws("\x1f", F.lit(str(seed)), *[F.col(c) for c in key_cols]))
    return df.filter(F.substring(hexval, 1, _HEX_WIDTH) < F.lit(_md5_cut(fraction)))


def portable_stratified_sample(
    df: DataFrame,
    key_cols: list[str],
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum portable sampling (same md5 scheme, CASE over cutoffs)."""
    cut: Column = F.lit(_md5_cut(default_fraction))
    for value, frac in fractions.items():
        cut = F.when(F.col(strata_col) == value, F.lit(_md5_cut(frac))).otherwise(cut)
    hexval = F.md5(F.concat_ws("\x1f", F.lit(str(seed)), *[F.col(c) for c in key_cols]))
    return df.filter(F.substring(hexval, 1, _HEX_WIDTH) < cut)


# -- training-data assembly: deterministic global shuffle & reservoirs -------

_HEX16 = "0123456789abcdef"


def _portable_hex(key_cols: list[str], seed: int) -> Column:
    return F.md5(F.concat_ws("\x1f", F.lit(str(seed)), *[F.col(c) for c in key_cols]))


def shuffle_assign(
    df: DataFrame, key_cols: list[str], n_shards: int = 256, seed: int = 42
) -> DataFrame:
    """Deterministic global training-data shuffle: every row gets a (shard,
    pos) such that reading shards in order, each sorted by pos, is a uniform
    random permutation of the corpus — reproducible on any engine/layout.

    Mechanics: h = md5(seed, key); shard = first byte of h (256 shards);
    pos = rank of h within the shard. The shard assignment is a narrow
    pushable expression; the per-shard rank is ONE window partitioned by
    shard — i.e., the whole "shuffle the corpus" job costs exactly one
    repartition + per-shard sort, which is the information-theoretic floor
    for a permutation. At 100 TB use more shards (two leading bytes =
    65536) so a shard fits an executor; the shape is unchanged.

    Any md5-capable engine re-derives identical (shard, pos) — the split
    manifest needs no export.
    """
    from pyspark.sql import Window

    h = _portable_hex(key_cols, seed)
    df = df.withColumn("h", h)
    nib1 = F.expr(f"instr('{_HEX16}', substr(h, 1, 1)) - 1")
    nib2 = F.expr(f"instr('{_HEX16}', substr(h, 2, 1)) - 1")
    shard = (nib1 * 16 + nib2) % n_shards
    w = Window.partitionBy("shard").orderBy("h", *key_cols)
    return (
        df.withColumn("shard", shard.cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("h")
    )


def reservoir_per_group(
    df: DataFrame, group_cols: list[str], key_cols: list[str], n: int, seed: int = 42
) -> DataFrame:
    """Deterministic n-per-group sample (the distributed stand-in for
    per-group reservoir sampling): rank rows within each group by their
    portable key-hash and keep the n smallest.

    Equivalent in distribution to a uniform without-replacement reservoir,
    but layout-independent, reproducible, and cross-engine verifiable.
    One window partitioned by the group columns — partial sort per group,
    no global ordering. Groups with fewer than n rows keep everything.
    """
    from pyspark.sql import Window

    h = _portable_hex(key_cols, seed)
    w = Window.partitionBy(*group_cols).orderBy(h, *key_cols)
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n)
        .drop("rk")
    )


def unimax_resample_census(
    df: DataFrame,
    group_col: str,
    weight_col: Column,
    key_cols: list[str],
    budget_frac: float = 0.5,
    seed: int = 57,
) -> DataFrame:
    """UniMax-style per-domain budget resampling census (Chung et al. 2023,
    the mixing rule behind mT5/uL2-scale corpora): give every domain the
    same token budget C = budget_frac * total / n_domains, keep each
    domain's rows with probability min(1, C / domain_total) via the
    portable md5 scheme, and report the per-domain outcome. Over-budget
    domains are downsampled toward the uniform share; under-budget domains
    are kept whole — the mixture flattens without ever upsampling.

    Determinism: C and the keep fractions are built from exact bigint
    totals with an identical float expression on both engines, and
    membership compares a 24-bit md5 prefix fraction against that cutoff —
    layout- and engine-independent, no RNG state.

    Shape: pass 1 partial-aggregates (group, weight) totals — output is
    domain-sized, broadcast back; pass 2 re-scans the narrow
    (group, weight, hash) projection and aggregates the kept counts. At
    100 TB both passes are single shuffles keyed on the domain column;
    persist the projection between passes if the scan dominates.
    """
    w = weight_col.cast("bigint")
    per_row = df.select(
        F.col(group_col).alias("grp"),
        w.alias("wgt"),
        _portable_hex(key_cols, seed).alias("h"),
    )
    totals = per_row.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("wgt").alias("grp_weight")
    )
    overall = totals.agg(
        F.sum("grp_weight").alias("total_weight"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    budget = (
        F.lit(budget_frac) * F.col("total_weight") / F.col("n_groups")
    ).alias("budget")
    cuts = totals.crossJoin(F.broadcast(overall)).select(
        "grp",
        "n_rows",
        "grp_weight",
        F.least(F.lit(1.0), budget / F.col("grp_weight")).alias("keep_frac"),
    )
    # 24-bit md5 prefix as a uniform fraction in [0, 1)
    val = F.conv(F.substring("h", 1, 6), 16, 10).cast("bigint")
    frac = val / F.lit(float(16**6))
    kept = (
        per_row.withColumn("frac", frac)
        .join(F.broadcast(cuts), "grp")
        .groupBy("grp", "n_rows", "grp_weight", "keep_frac")
        .agg(
            F.sum(F.when(F.col("frac") < F.col("keep_frac"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(
                F.when(F.col("frac") < F.col("keep_frac"), F.col("wgt")).otherwise(0)
            )
            .cast("bigint")
            .alias("weight_kept"),
        )
    )
    return kept.select(
        F.col("grp").alias(group_col),
        "n_rows",
        "grp_weight",
        "keep_frac",
        "n_kept",
        "weight_kept",
    )

def unimax_resample(
    df: DataFrame,
    group_col: str,
    weight_col: Column,
    key_cols: list[str],
    budget_frac: float = 0.5,
    seed: int = 57,
) -> DataFrame:
    """The row-filtering twin of ``unimax_resample_census``: returns the
    KEPT rows of ``df`` (all original columns) under the identical
    per-domain budget rule, so a pipeline can materialize the resampled
    corpus, not just the census. Same cutoffs, same md5 membership —
    row-for-row consistent with what the census counts."""
    w = weight_col.cast("bigint")
    with_h = df.withColumn("_wgt", w).withColumn(
        "_h", _portable_hex(key_cols, seed)
    )
    totals = with_h.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum("_wgt").alias("grp_weight")
    )
    overall = totals.agg(
        F.sum("grp_weight").alias("total_weight"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    budget = F.lit(budget_frac) * F.col("total_weight") / F.col("n_groups")
    cuts = totals.crossJoin(F.broadcast(overall)).select(
        "grp",
        F.least(F.lit(1.0), budget / F.col("grp_weight")).alias("_keep_frac"),
    )
    val = F.conv(F.substring("_h", 1, 6), 16, 10).cast("bigint")
    frac = val / F.lit(float(16**6))
    return (
        with_h.withColumn("_frac", frac)
        .join(F.broadcast(cuts), F.col(group_col) == F.col("grp"))
        .filter(F.col("_frac") < F.col("_keep_frac"))
        .drop("_wgt", "_h", "_frac", "_keep_frac", "grp")
    )


def pps_systematic(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    target_k: int,
    n_partitions: int | None = None,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: lay rows on a
    weight tape in ``id_col`` order and pick every ``stride``-th point
    (stride = total_weight div target_k) — a row is selected iff a stride
    multiple lands inside its weight interval, so selection probability is
    proportional to weight and heavy rows are picked deterministically.

    Chosen over Efraimidis-Spirakis (u^(1/w) keys) as the weighted-sampling
    primitive here because it is EXACT-INTEGER arithmetic end to end:
    cross-engine bit-equal, no pow/ln ulp risk in the ranking, and the
    sample is identical on any partition layout. The classic use: pick k
    documents for human eval with long docs proportionally represented.

    Scale shape: the same distributed prefix sum as packing.pack_sequences
    (range partition by id -> per-partition window cumsum -> O(partitions)
    driver offsets broadcast back); selection itself is then a pure filter.
    Output: (id, weight, sample_rank) for selected rows, sample_rank the
    index of the stride point that landed in the row's interval.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from symat_hbase_tools_spark.plans.partitioning import scan_fanout

    spark = df.sparkSession
    base = df.select(
        F.col(id_col), F.col(weight_col).cast("long").alias("_w")
    )
    parts = n_partitions or scan_fanout(spark, df)
    ranged = base.repartitionByRange(parts, id_col).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("_local_cum", F.sum("_w").over(w)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    totals = local.groupBy("_pid").agg(F.max("_local_cum").alias("_total")).collect()
    offsets, running = {}, 0
    for r in sorted(totals, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = running
        running += r["_total"] or 0
    stride = max(running // max(target_k, 1), 1)
    off_df = local_frame(
        spark, [(pid, off) for pid, off in offsets.items()], "_pid int, _offset long"
    )
    cum = (F.col("_local_cum") - F.col("_w") + F.col("_offset")).alias("_cum")
    tape = local.join(F.broadcast(off_df), "_pid").select(id_col, "_w", cum)
    first_point = F.expr(f"(_cum + {stride} - 1) div {stride}")
    last_point = F.expr(f"(_cum + _w - 1) div {stride}")
    return (
        tape.filter((F.col("_w") > 0) & (last_point >= first_point))
        .select(
            F.col(id_col),
            F.col("_w").alias(weight_col),
            first_point.cast("long").alias("sample_rank"),
        )
    )


# --- k-center (farthest-point) diversity selection --------------------------

#: default selection size for the registry form
KCENTER_K = 8


def kcenter_select(
    spark, sf_dir: str, k: int = KCENTER_K
) -> DataFrame:
    """Greedy k-center (farthest-point) DIVERSITY selection over the
    embedding corpus — the coverage-maximizing subset a curation pipeline
    uses where PPS/stratified sampling would oversample dense regions
    (facility-location/coreset selection, the Gonzalez 2-approximation).

    Protocol (deterministic, layout-independent): vectors are L2
    normalized; the first center is the vector farthest from the corpus
    MEAN (tie -> smallest vec_id); each next center is the vector with
    the largest distance to its nearest already-selected center (same
    tie-break). Output: (rank, vec_id, sel_dist) where sel_dist is the
    point's min-distance-to-selected AT SELECTION TIME — by the greedy
    property this sequence is non-increasing (asserted by the check
    twin), and sel_dist of the last row bounds the covering radius of
    the whole corpus within a factor 2.

    Scale shape: k passes, each a NARROW Arrow-batched map (centers
    broadcast — k*d doubles) + one max_by aggregate; nothing is ever
    collected except the k chosen vectors (k*d doubles/round). O(n*k*d)
    work per pass is the honest cost of exact greedy; k is small by
    construction (a diversity quota, not a sample size).
    """
    import numpy as np

    from symat_hbase_tools_spark.operators.similarity import as_double
    from symat_hbase_tools_spark.sources.tables import load_table

    base = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("emb"))
        .persist()
    )

    def mind_kernel(centers_bc):
        def run(batches):
            import pandas as pd

            C = centers_bc.value  # (m, d) normalized
            for pdf in batches:
                if pdf.empty:
                    continue
                E = np.array(pdf["emb"].tolist(), dtype=np.float64)
                # zero-norm guard: without it a zero embedding yields NaN
                # min-distance, and NaN sorts above every double in the
                # struct max, so that row would win every greedy round
                # (mirrors the `or 1.0` guard on the mean seed below)
                En = E / np.maximum(
                    np.linalg.norm(E, axis=1, keepdims=True), 1e-12
                )
                d2 = ((En[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                # the NORMALIZED vector rides along so the winning center
                # comes back in the same pass — no second corpus scan to
                # re-fetch it by id
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "mind": np.sqrt(d2.min(axis=1)),
                        "nemb": list(En),
                    }
                )

        return run

    # seed reference: the corpus mean direction (one exact per-dimension
    # moment pass — O(d) result rows, never the vectors themselves)
    dim_sums = (
        base.select(F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("dim")
        .collect()
    )
    mean = np.array([r["s"] / r["c"] for r in dim_sums], dtype=np.float64)
    mean = mean / (np.linalg.norm(mean) or 1.0)

    k = min(int(k), base.count())  # metadata-cheap; guards tiny corpora
    centers: list[np.ndarray] = [mean]
    chosen: list[tuple[int, int, float]] = []
    chosen_ids: set[int] = set()
    for rank in range(1, int(k) + 1):
        bc = spark.sparkContext.broadcast(
            np.array(centers, dtype=np.float64)
        )
        scored = base.mapInPandas(
            mind_kernel(bc), schema="vec_id long, mind double, nemb array<double>"
        ).filter(~F.col("vec_id").isin(list(chosen_ids)) if chosen_ids else F.lit(True))
        # farthest point, ties to the smallest vec_id: max over the
        # (mind, -vec_id) struct order — nemb rides as a NEVER-COMPARED
        # trailing field (vec_id is unique, so comparison always resolves
        # at the second key), returning the winning normalized vector in
        # the SAME pass
        top = scored.agg(
            F.max(
                F.struct(
                    F.col("mind"),
                    (-F.col("vec_id")).alias("nid"),
                    F.col("nemb"),
                )
            ).alias("w")
        ).collect()[0]["w"]
        # release this round's broadcast eagerly (the pass is fully
        # materialized by the collect) — k handles per call would
        # otherwise pile up in a long-lived session
        bc.unpersist(blocking=False)
        sel_id, sel_d = -top["nid"], float(top["mind"])
        vec = np.array(top["nemb"], dtype=np.float64)
        if rank == 1:
            centers = [vec]  # drop the mean seed — it is not a member
        else:
            centers.append(vec)
        chosen.append((rank, sel_id, round(sel_d, 6)))
        chosen_ids.add(sel_id)
    base.unpersist()
    return local_frame(spark, chosen, "rank int, vec_id long, sel_dist double")


def kcenter_check(spark, sf_dir: str, k: int = KCENTER_K) -> DataFrame:
    """Oracle-paired invariants for the greedy k-center selection: exactly
    k distinct centers chosen from the corpus, and the selection-time
    distances are NON-INCREASING from rank 2 on (the Gonzalez greedy
    property: once a point is covered at radius r, no later selection can
    sit farther than r from the selected set). Rank 1's distance is to
    the mean seed, a different reference — excluded from the monotone
    claim."""
    from symat_hbase_tools_spark.sources.tables import load_table

    sel = kcenter_select(spark, sf_dir, k=k)
    from pyspark.sql import Window

    w = Window.orderBy("rank")
    mono = sel.filter(F.col("rank") >= 2).select(
        (F.col("sel_dist") <= F.lag("sel_dist", 1, float("inf")).over(w))
        .alias("ok")
    )
    n = load_table(spark, sf_dir, "embeddings").count()
    return sel.agg(
        F.lit(min(int(k), n)).cast("long").alias("k_selected"),
        F.count_distinct("vec_id").cast("long").alias("n_distinct"),
    ).crossJoin(
        mono.agg(
            F.coalesce(F.min(F.col("ok").cast("int")) == 1, F.lit(True)).alias(
                "monotone_ok"
            )
        )
    ).select(
        "k_selected",
        (F.col("n_distinct") == F.col("k_selected")).alias("distinct_ok"),
        "monotone_ok",
    )
