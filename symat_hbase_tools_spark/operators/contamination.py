"""Benchmark-contamination detection — n-gram overlap between a training
corpus and an evaluation/benchmark set.

Before training on a crawled corpus you must find documents that leak the
eval benchmarks (the classic train/test contamination sweep). Operator:
count distinct word-n-gram shingles each training document shares with ANY
benchmark document; above a threshold the document is flagged.

Scale shape: benchmark suites are tiny (MBs) next to a 100 TB corpus, so
the benchmark side is DISTINCTed and broadcast — the train side never
shuffles for the join; only the per-doc aggregate shuffles (partial
map-side combine, one narrow shuffle on doc_id).

Every operator here runs the near-dup pipeline of ``dedup.py`` (its module
docstring states each stage's rationale once): the exact-overlap operators
read its shingle rows or hashed sets and end in a per-document count, and
the fuzzy one runs MinHash LSH bands, the array-set Jaccard verify and the
best-match step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.dedup import (
    NUM_BANDS,
    NUM_HASHES,
    _best_match,
    _doc_shingles,
    _hashed_sets,
    _minhash_bands,
    _minhash_sig_from_hashed,
    _shingle_rows,
    _verify_jaccard,
)


def _train_and_bench(
    spark: SparkSession, sf_dir: str, n: int, benchmark_mod: int
) -> tuple[DataFrame, DataFrame]:
    """(doc_id, s) shingle rows of the training docs, and the benchmark
    docs' distinct s. Both read one pinned shingle table: Spark does not
    dedupe common subplans."""
    sh = _shingle_rows(
        _doc_shingles(spark, sf_dir, n, persist=True), drop_empty=True
    ).select("doc_id", "s")
    is_bench = F.col("doc_id") % benchmark_mod == 0
    return sh.filter(~is_bench), sh.filter(is_bench).select("s").distinct()


def _overlaps(train: DataFrame, bench: DataFrame, min_overlap: int) -> DataFrame:
    """(doc_id, n_overlap) of the training docs sharing >= min_overlap
    distinct shingles with the broadcast benchmark set."""
    return (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


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
    train, bench = _train_and_bench(spark, sf_dir, n, benchmark_mod)
    return _overlaps(train, bench, min_overlap)


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

    # the bloom build collects the bench side, then the screened train
    # side re-reads the same pinned shingle table
    train, bench = _train_and_bench(spark, sf_dir, n, benchmark_mod)
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

    survivors = train.mapInPandas(screen, schema="doc_id long, s long")
    return _overlaps(survivors, bench, min_overlap)


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
    # the hashed sets feed BOTH the bench and train sides, so they are
    # pinned, and the explodes below run over the pinned hs column: the
    # filters an inner explode makes Catalyst infer are cheap reads of
    # it, never the shingle lambda (dedup module docstring, stage 1)
    hs = _hashed_sets(_doc_shingles(spark, sf_dir, n), "contamination_hs")
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
    # pinned sets with the size filter above the pin, as in
    # dedup.minhash_lsh_pairs
    hashed = _hashed_sets(
        _doc_shingles(spark, sf_dir, n), "contamination_fuzzy_hashed"
    ).filter(F.size("hs") > 0)
    sig = _minhash_sig_from_hashed(hashed, NUM_HASHES)
    buckets = _minhash_bands(sig, "doc_id", NUM_HASHES, NUM_BANDS)
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
    # the bench sets broadcast again on the verify join
    scored = _verify_jaccard(
        cand, hashed, "doc_id", "bench_doc", threshold, broadcast_right=True
    )
    return _best_match(scored, "doc_id", "bench_doc")
