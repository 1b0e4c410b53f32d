"""Benchmark-contamination detection — n-gram overlap between a training
corpus and an evaluation/benchmark set.

Before training on a crawled corpus you must find documents that leak the
eval benchmarks (the classic train/test contamination sweep). Operator:
count distinct word-n-gram shingles each training document shares with ANY
benchmark document; above a threshold the document is flagged.

Scale shape: benchmark suites are tiny (MBs) next to a 100 TB corpus, so
the benchmark shingle set is DISTINCTed and broadcast — the train side
never shuffles for the join; only the per-doc overlap count aggregates
(partial map-side combine, one narrow shuffle on doc_id). Same xxhash64
shingle keys as the dedup family (fixed-width long joins; collision math in
dedup.py applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.text import shingle_hashes
from symat_hbase_tools_spark.operators.dedup import _doc_shingles
from symat_hbase_tools_spark.plans.serve_cache import pin


def benchmark_contamination(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    min_overlap: int = 5,
    benchmark_mod: int = 50,
) -> DataFrame:
    """Training docs sharing >= min_overlap distinct n-gram shingles with the
    benchmark subset (doc_id % benchmark_mod == 0 models the eval set).

    Output: doc_id, n_overlap.
    """
    # persist=True: the shingle table is referenced twice (bench + train
    # sides) and Spark does not dedupe common subplans
    sh = _doc_shingles(spark, sf_dir, n, persist=True).select(
        "doc_id", F.explode(shingle_hashes(F.col("sh"))).alias("s")
    )
    is_bench = F.col("doc_id") % benchmark_mod == 0
    bench = sh.filter(is_bench).select("s").distinct()
    train = sh.filter(~is_bench)
    return (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


#: bloom sizing: ~10 bits per element + 7 hashes -> ~0.8% false-positive
#: rate; false positives only cost verify-join volume, never correctness
BLOOM_BITS_PER_ELEMENT = 10
BLOOM_NUM_HASHES = 7


def _splitmix_positions(hashes, m_bits: int, k: int):
    """k bloom bit positions per input hash — numpy splitmix64 remixes of
    the JVM xxhash64 shingle key. Build and probe share this function, so
    no cross-engine hash agreement is needed."""
    import numpy as np

    h = hashes.astype(np.uint64)
    out = []
    # mod-2^64 wraparound is the point of the mix; silence numpy's scalar
    # overflow RuntimeWarning so real warnings aren't drowned (r4 verdict)
    with np.errstate(over="ignore"):
        for i in range(k):
            x = h + np.uint64(0x9E3779B97F4A7C15) * np.uint64(i + 1)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x = x ^ (x >> np.uint64(31))
            out.append((x % np.uint64(m_bits)).astype(np.int64))
    return out


def benchmark_contamination_bloom(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    min_overlap: int = 5,
    benchmark_mod: int = 50,
) -> DataFrame:
    """The 100 TB notch of ``benchmark_contamination``: identical output
    (bloom filters have NO false negatives and every survivor is exactly
    verified — shares the exact operator's oracle), different screening
    cost.

    The exact operator broadcasts the benchmark's full distinct shingle
    set — 8+ bytes per shingle, GBs once the eval suite covers hundreds of
    millions of shingles. Here the broadcast is a ~10-bit-per-element
    bloom BITMAP (6-50x smaller), the corpus-side screen is a numpy
    bitmap probe inside one Arrow kernel (no join, no shuffle), and only
    the survivors — true matches plus the ~0.8%% false-positive trickle —
    reach the exact verify join and the per-doc overlap aggregate. The
    bitmap ships once per executor via SparkContext.broadcast.
    """
    import numpy as np

    # persist=True: referenced twice — the bloom build collects the bench
    # side, then the screened train side re-reads the same shingle table
    sh = _doc_shingles(spark, sf_dir, n, persist=True).select(
        "doc_id", F.explode(shingle_hashes(F.col("sh"))).alias("s")
    )
    is_bench = F.col("doc_id") % benchmark_mod == 0
    bench = sh.filter(is_bench).select("s").distinct()

    bench_hashes = bench.toPandas()["s"].to_numpy(dtype=np.int64)
    n_elems = max(len(bench_hashes), 1)
    m_bits = 1 << int(np.ceil(np.log2(n_elems * BLOOM_BITS_PER_ELEMENT)))
    words = np.zeros(m_bits // 64 + 1, dtype=np.uint64)
    for pos in _splitmix_positions(bench_hashes, m_bits, BLOOM_NUM_HASHES):
        np.bitwise_or.at(
            words, pos // 64, np.uint64(1) << (pos.astype(np.uint64) % np.uint64(64))
        )
    bc = spark.sparkContext.broadcast((words, m_bits))

    def screen(batches):
        bitmap, m = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            h = pdf["s"].to_numpy(dtype=np.int64)
            keep = np.ones(len(h), dtype=bool)
            for pos in _splitmix_positions(h, m, BLOOM_NUM_HASHES):
                keep &= (
                    bitmap[pos // 64] >> (pos.astype(np.uint64) % np.uint64(64))
                ) & np.uint64(1) != 0
            yield pdf[keep]

    survivors = (
        sh.filter(~is_bench)
        .mapInPandas(screen, schema="doc_id long, s long")
    )
    return (
        survivors.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def contamination_overlap_census(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    benchmark_mod: int = 50,
) -> DataFrame:
    """Per-document overlap-FRACTION census against the benchmark set —
    the decontamination report shape the big-model papers use (fraction of
    a train doc's distinct n-grams that appear anywhere in the eval
    suite), where ``benchmark_contamination`` only flags docs past an
    absolute count. EVERY train document appears, including zero-overlap
    and shingle-less ones — a decontamination report that silently drops
    clean docs can't prove coverage.

    Output: doc_id, n_shingles, n_overlap, overlap_frac, severity
    (clean < 5% <= partial < 50% <= leaked — the conventional bands).

    Scale shape: identical to benchmark_contamination — the benchmark
    shingle set is distinct-ed and BROADCAST (eval suites are MBs against
    a 100 TB corpus), the train side never shuffles for the membership
    probe, and the per-doc aggregate partial-combines map-side into one
    narrow shuffle on doc_id. overlap_frac divides two exact integers in
    double, so the value is bit-identical cross-engine and the severity
    band compares are deterministic.
    """
    # pin the POST-HASH (doc_id, hs) table, not the shingle arrays (round
    # 16, the minhash_lsh_pairs discipline): it feeds BOTH the bench and
    # train sides, the cached unit is ~8 bytes/shingle instead of the
    # shingle text, and — the correctness-of-plan point — the later
    # explodes make InferFiltersFromGenerate inject `size(hs) > 0 AND
    # isnotnull(hs)` filters, which over a cached hs column are cheap
    # column reads. With the cache one level lower (the sh arrays), those
    # inferred filters re-inlined the interpreted shingle_hashes transform
    # into a Filter above the cache (the round-9 double-eval class, caught
    # by the HOF plan gate — it had been masked by a leaked minhash cache
    # entry for exactly this subplan, which the round-16 pin hygiene
    # stopped leaking).
    hs = pin(
        _doc_shingles(spark, sf_dir, n).select(
            "doc_id", shingle_hashes(F.col("sh")).alias("hs")
        ),
        "contamination_hs",
    )
    is_bench = F.col("doc_id") % benchmark_mod == 0
    bench = (
        hs.filter(is_bench)
        .select(F.explode("hs").alias("s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = hs.filter(~is_bench).select(
        "doc_id",
        F.size("hs").cast("long").alias("n_shingles"),
        F.explode_outer("hs").alias("s"),
    )
    counted = (
        train.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id", "n_shingles")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_overlap"))
    )
    frac = F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
        F.col("n_overlap") / F.col("n_shingles")
    )
    return counted.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        F.when(frac >= 0.5, "leaked")
        .when(frac >= 0.05, "partial")
        .otherwise("clean")
        .alias("severity"),
    )


def benchmark_contamination_fuzzy(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    benchmark_mod: int = 50,
) -> DataFrame:
    """FUZZY train/eval contamination: training documents that are a
    NEAR-DUPLICATE of some benchmark document (MinHash-LSH candidates,
    exact-Jaccard verified) — the fuzzy decontamination pass of the
    GPT-3/Llama lineage, catching paraphrased or lightly-edited benchmark
    leaks the exact n-gram overlap sweep (``benchmark_contamination``)
    underweights.

    Same banding parameters as ``dedup.minhash_lsh_pairs``, whose output
    is oracle-proven EXACT (every true pair >= threshold survives the
    bands) at sf0.001/0.01/0.1 — contamination pairs are a subset of
    those pairs, so the completeness evidence transfers verbatim.

    Scale shape: the benchmark side is tiny (MBs vs 100 TB), so its
    banded buckets BROADCAST — the train side's buckets never shuffle for
    the candidate join; the verify join ships only candidate rows plus
    the two shingle-set lookups (bench side broadcast again). One
    doc-keyed aggregate picks the best match.

    Output: (doc_id, bench_doc, jaccard) — one row per CONTAMINATED
    training doc with its best-matching benchmark doc (max jaccard,
    bench_doc tie-break), jaccard >= threshold.
    """
    from symat_hbase_tools_spark.operators.dedup import (
        NUM_BANDS,
        NUM_HASHES,
        _minhash_sig_from_hashed,
    )

    rows_per_band = NUM_HASHES // NUM_BANDS
    # pin + filter-above-the-boundary: the minhash_lsh_pairs idiom
    # (the pushed-down size filter would re-inline the shingle HOF)
    hashed = pin(
        _doc_shingles(spark, sf_dir, n).select(
            "doc_id", shingle_hashes(F.col("sh")).alias("hs")
        ),
        "contamination_fuzzy_hashed",
    ).filter(F.size("hs") > 0)
    sig = _minhash_sig_from_hashed(hashed, NUM_HASHES)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    F.slice("sig", b * rows_per_band + 1, rows_per_band),
                ).alias("bh"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    buckets = sig.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    is_bench = F.col("doc_id") % benchmark_mod == 0
    bench_b = buckets.filter(is_bench).select(
        "band", "bh", F.col("doc_id").alias("bench_doc")
    )
    cand = (
        buckets.filter(~is_bench)
        .join(F.broadcast(bench_b), ["band", "bh"])
        .select("doc_id", "bench_doc")
        .distinct()
    )
    tr = hashed.select("doc_id", F.col("hs").alias("sh_t"))
    be = hashed.select(
        F.col("doc_id").alias("bench_doc"), F.col("hs").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_t", "sh_b"))
    union = F.size("sh_t") + F.size("sh_b") - inter
    scored = (
        cand.join(tr, "doc_id")
        .join(F.broadcast(be), "bench_doc")
        .select("doc_id", "bench_doc", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # best benchmark match per contaminated doc: max jaccard, then the
    # SMALLEST bench_doc (negating the id inside the ordering struct
    # makes struct-max deliver exactly that tie-break)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard"), (-F.col("bench_doc")).alias("nb")
                )
            ).alias("m")
        )
        .select(
            "doc_id",
            (-F.col("m.nb")).cast("long").alias("bench_doc"),
            F.col("m.jaccard").alias("jaccard"),
        )
    )
