"""Document deduplication operators (SURVEY.md §2.5 / north-star extension).

Two exact fingerprints over the ``documents`` table, ``exact_dedup``
(normalize + md5 + groupBy, keeper = min(doc_id)) and
``bow_fingerprint_dedup`` (sorted distinct tokens -> md5, catches
token-permuted copies), and the near-dup family.

The near-dup operators in this module, in ``contamination.py`` and
``text_analysis.ngram_novelty`` run one pipeline, and each stage has one
implementation:

  1. Shingle rows. ``_shingles_of`` gives (doc_id, sh), the distinct word
     n-gram shingles (``_doc_shingles`` for the documents table).
     ``_hashed_sets`` gives the sets (doc_id, hs), one xxhash64 per shingle
     (fixed-width long keys; a collision needs two distinct shingles of one
     corpus to share an xxhash64, p < n^2 / 2^64), pinned under the
     caller's site when its plan reads them more than once.
     ``_shingle_rows`` gives (doc_id, n_sh, s), one row per shingle hash
     with the set size riding along. The shingle lambda runs interpreted,
     and three guards keep it from running twice per row:
       * the rows come from ``explode_outer`` over the hs column: an inner
         explode lets Catalyst infer size(hs) > 0 and push it into the
         projection that runs the lambda. A document without shingles
         keeps one null-s row, which no join matches; ``drop_empty``
         removes it before a count, a collect or a written index;
       * a filter on hs sits above the pin: the in-memory relation is a
         pushdown barrier, while a filter below it re-inlines the lambda
         (measured 0.3 -> 5.4 s at sf0.1);
       * n_sh is nullable, and a grouping on it or a filter over it lets
         Catalyst infer isnotnull(n_sh) into the lambda's projection:
         aggregate it with max, or coalesce it to a non-nullable column.
  2. Signature codec: the exact set itself, MinHash
     (``_minhash_sig_from_hashed``, an Arrow/numpy kernel) or 64-bit SimHash
     (bit votes of the shingle hashes).
  3. Candidate generator: the self-join on s (``_intersection_pairs``,
     exact, with the df-capped census when the cap can bind), MinHash LSH
     bands (``_minhash_bands``: a pair at Jaccard j collides in some band
     with p = 1-(1-j^r)^b), 4 x 16-bit hamming bands
     (``banded_hamming_pairs``: exact for hamming <= 3 by pigeonhole), or
     prefix filtering (``prefix_filter_pairs``, exact).
  4. Verify: ``_jaccard`` is i / (n1 + n2 - i) over integer counts,
     divided in double, so it is bit-identical to the DuckDB oracles.
     ``_verify_jaccard`` computes it from the two hashed sets of each
     candidate pair.
  5. Pairs, or one best match per document (``_best_match``: max Jaccard,
     ties to the smaller id).

Everything is built-in expressions — xxhash64, array ops, joins — apart
from the Arrow kernels of the MinHash and portable SimHash codecs.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.text import (
    minhash_permutations,
    shingle_hashes,
    shingles_from_words,
    simhash_from_votes,
    simhash_vote_aggs,
)
from symat_hbase_tools_spark.plans.partitioning import fanout
from symat_hbase_tools_spark.plans.serve_cache import pin
from symat_hbase_tools_spark.sources.io import local_frame, rows_exceed
from symat_hbase_tools_spark.sources.tables import load_table, table_path

_LOG = logging.getLogger(__name__)

#: 16 bands x 4 rows: for a true pair at jaccard j, P(missed) = (1-j^4)^16 —
#: 1.6e-7 at j=0.89, 2.2e-4 at j=0.8, 0.36 at j=0.5. The t2-gate corpus
#: (sf0.01) has min planted-pair similarity 0.90, so LSH output equals the
#: exact operator's with P(any miss) < 1e-5; corpora with borderline pairs
#: (sf0.1 has some at 0.8) need more bands or the exact operator. Signature
#: cost is linear in NUM_HASHES and cheap (codegen'd aggregate).
NUM_HASHES = 64
NUM_BANDS = 16


def _normalized(text: F.Column) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(_normalized(F.col("text"))).alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def bow_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    )
    return (
        docs.groupBy(fp.alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _shingles_of(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh) of a (doc_id, text) table, in two projections: the
    words array is materialized, THEN shingled, which keeps the split out
    of the interpreted shingle lambda (see shingles_from_words)."""
    return docs.withColumn("words", F.split(F.col("text"), " ")).select(
        "doc_id", shingles_from_words(F.col("words"), n=n).alias("sh")
    )


def _doc_shingles(
    spark: SparkSession, sf_dir: str, n: int, persist: bool = False
) -> DataFrame:
    """persist=True when the caller's plan references the shingle table more
    than once (candidate generation + verification sides): Spark does not
    dedupe common subplans, so without caching the scan+shingle work runs
    once per reference (~3x measured). MEMORY_AND_DISK + LRU eviction keeps
    it safe on clusters; the cached unit is the post-shingle table, which is
    the same order of size as the input text."""
    # The signature/shingle math is compute-bound per row: fan the scan out
    # to one task per ~512 KB of text (capped at cluster parallelism). A
    # small corpus collapses to few fat tasks instead of 32 near-empty ones;
    # at real scale the source has more splits than cores and this is left
    # untouched (fan OUT only — never pay a full shuffle to coalesce).
    out = _shingles_of(fanout(spark, load_table(spark, sf_dir, "documents")), n)
    if persist:
        out = pin(out, "doc_shingles")
    return out


def _hashed_sets(shingles: DataFrame, site: str | None = None) -> DataFrame:
    """(doc_id, hs) from (doc_id, sh): stage 1 (module docstring), pinned
    under ``site`` when given. A pinned set keeps ~8 bytes per shingle
    instead of the shingle text."""
    hs = shingles.select("doc_id", shingle_hashes(F.col("sh")).alias("hs"))
    return hs if site is None else pin(hs, site)


def _shingle_rows(shingles: DataFrame, drop_empty: bool = False) -> DataFrame:
    """(doc_id, n_sh, s) from (doc_id, sh): stage 1 (module docstring). The
    shingles are distinct strings, so n_sh = size(hs) is the set size (up
    to an xxhash64 collision). ``drop_empty`` drops the null-s row of a
    document without shingles."""
    rows = _hashed_sets(shingles).select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_sh"),
        F.explode_outer("hs").alias("s"),
    )
    return rows.filter(F.col("s").isNotNull()) if drop_empty else rows


def _jaccard(i: str, n1: str, n2: str) -> F.Column:
    """Set Jaccard from the intersection and the two set sizes: stage 4
    (module docstring)."""
    return F.col(i) / (F.col(n1) + F.col(n2) - F.col(i))


def _verify_jaccard(
    pairs: DataFrame,
    sets: DataFrame,
    left: str,
    right: str,
    threshold: float,
    broadcast_right: bool = False,
) -> DataFrame:
    """``pairs`` plus the exact Jaccard of the two (doc_id, hs) ``sets``
    its ``left`` and ``right`` id columns name, kept at >= threshold:
    stage 4 for the candidate generators that carry no counts. The work is
    per pair, proportional to the two sets, never a corpus-wide join."""
    one = sets.select(F.col("doc_id").alias(left), F.col("hs").alias("_hs1"))
    two = sets.select(F.col("doc_id").alias(right), F.col("hs").alias("_hs2"))
    joined = pairs.join(one, left).join(
        F.broadcast(two) if broadcast_right else two, right
    )
    return (
        joined.select(
            *pairs.columns,
            F.size(F.array_intersect("_hs1", "_hs2")).alias("i"),
            F.size("_hs1").alias("n1"),
            F.size("_hs2").alias("n2"),
        )
        .select(*pairs.columns, _jaccard("i", "n1", "n2").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _best_match(pairs: DataFrame, doc: str, match: str) -> DataFrame:
    """(doc, match, jaccard): each ``doc``'s max-Jaccard ``match``, ties
    to the smaller ``match`` id: stage 5 (module docstring). One
    doc-keyed aggregate, which combines map-side; negating the id inside
    the ordering struct makes struct-max deliver exactly that tie-break."""
    best = F.max(F.struct("jaccard", (-F.col(match)).alias("neg"))).alias("m")
    return pairs.groupBy(doc).agg(best).select(
        doc, (-F.col("m.neg")).alias(match), F.col("m.jaccard").alias("jaccard")
    )


# Default document-frequency cap for the shingle self-join. The candidate
# pairs produced by a shingle with document frequency d grow as d^2/2 — one
# boilerplate shingle shared by 1M docs would alone emit 5*10^11 pairs. Any
# shingle in more than MAX_SHINGLE_DF docs is boilerplate, not signal; it is
# dropped from BOTH the intersection and the set sizes (consistent "capped
# Jaccard" semantics). Exactness caveat: with the cap active, pairs whose
# similarity rests on ultra-common shingles score lower than text-book
# Jaccard — the behavior you want for dedup, but set max_shingle_df=None for
# the uncapped textbook definition on bounded corpora. The hot-shingle
# census runs only when the cap can bind: a corpus of at most
# MAX_SHINGLE_DF documents has no shingle above it (``_binding_cap``).
MAX_SHINGLE_DF = 10_000


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (d1 < d2, jaccard >= threshold).

    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — integer counts divided in double,
    bit-identical to the DuckDB oracle (oracle parity holds because the test
    corpora's max shingle df is far below the default cap; see MAX_SHINGLE_DF
    for the capped-Jaccard caveat on corpora that exceed it).
    """
    rows = _shingle_rows(_doc_shingles(spark, sf_dir, n))
    return _jaccard_pairs_from_shingles(
        rows, threshold, _binding_cap(spark, sf_dir, max_shingle_df)
    )


def _binding_cap(
    spark: SparkSession, sf_dir: str, max_shingle_df: int | None
) -> int | None:
    """``max_shingle_df`` when it can bind, else None. A shingle's document
    frequency is at most the number of documents, so with at most
    ``max_shingle_df`` documents no shingle is hot and the census has
    nothing to remove. The documents table's parquet footers decide it on
    the driver (``sources.io.rows_exceed``): no Spark job, and no footer
    is read once the running row count passes the cap. The scan is the
    caller's (``_doc_shingles`` opened it), so its column count, which
    bounds the partition levels, costs no job either."""
    if max_shingle_df is None:
        return None
    levels = len(load_table(spark, sf_dir, "documents").columns)
    binds = rows_exceed(spark, table_path(sf_dir, "documents"), max_shingle_df, levels)
    return max_shingle_df if binds else None


def _set_sizes(sh: DataFrame) -> DataFrame:
    """(doc_id, n_sh, s) from (doc_id, s) rows, n_sh counted per document
    (null ``s`` rows count 0)."""
    sizes = sh.groupBy("doc_id").agg(F.count("s").alias("n_sh"))
    return sh.join(sizes, "doc_id")


def _intersection_pairs(
    rows: DataFrame, max_shingle_df: int | None
) -> DataFrame:
    """(d1 < d2, i, n1, n2) from (doc_id, n_sh, s: long) shingle rows
    (``_shingle_rows``) — the shared candidate pipeline under BOTH
    similarity scores (Jaccard and containment finish it with different
    formulas, so the df-cap semantics and the join strategy can never drift
    between them).

    One self-join on s: both sides are the same plan, so they read one
    reused shuffle exchange, and the (d1, d2) aggregate counts the
    intersection i while n1/n2 are max(n_sh) of each side — the sizes ride
    the rows instead of being joined back.

    ``max_shingle_df`` is the cap when it can bind (``_binding_cap``), else
    None. With a cap, the census drops shingles above it from both the
    intersection and the sizes (consistent capped semantics, see
    MAX_SHINGLE_DF) and recounts n_sh.
    """
    if max_shingle_df is not None:
        # census branch: pin the exploded (doc_id, s) table BEFORE the cap,
        # hash-partitioned on s. The hot census, the capped table, the
        # sizes aggregate and both self-join sides all read the pin, so the
        # explode+xxhash shingle pass runs once. The census aggregate and
        # the self-join find the pin already partitioned on s (a pinned
        # table keeps its cached plan's partitioning) and the broadcast
        # anti-join keeps it, so both sides read the pin's one exchange.
        # Spark could not reuse an exchange of their own: every read of a
        # pin is its own TableCacheQueryStage, and the stage id is part of
        # the plan Spark compares. The size join keeps the partitioning
        # while the sizes table broadcasts; a larger one is joined through
        # a shuffle on doc_id, and each side is then exchanged on s again.
        # The recounted sizes join the rows, not the pair table: at the cap
        # a shingle can still emit ~cap^2/2 pairs, so the pair table can
        # outgrow the rows.
        sh = pin(rows.select("doc_id", "s").repartition("s"), "intersection_pairs")
        hot = sh.groupBy("s").count().filter(F.col("count") > max_shingle_df)
        rows = _set_sizes(sh.join(F.broadcast(hot.select("s")), "s", "left_anti"))
    # SHUFFLE_HASH: the equi-self-join would default to sort-merge, paying a
    # full sort of the exploded shingle table on BOTH sides; hash join skips
    # the sorts and streams one side against the other's hash map. (A
    # collect_list-posting-list + pair-explosion rewrite was tried and is
    # ~3x SLOWER: the nested-transform pair generator runs interpreted,
    # while this join stays inside whole-stage codegen.)
    a, b = rows.alias("a"), rows.hint("shuffle_hash").alias("b")
    return (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.max("a.n_sh").alias("n1"),
            F.max("b.n_sh").alias("n2"),
        )
    )


def _jaccard_pairs_from_shingles(
    rows: DataFrame, threshold: float, max_shingle_df: int | None
) -> DataFrame:
    """Jaccard finisher over ``_intersection_pairs`` (see its docstring)."""
    return (
        _intersection_pairs(rows, max_shingle_df)
        .select("d1", "d2", _jaccard("i", "n1", "n2").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _pairs_from_sorted_ids(ids_col: str) -> F.Column:
    """All (x, y) combinations with x<y from a sorted id array — JVM-side."""
    ids = F.col(ids_col)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("d1"), y.alias("d2")),
            ),
        )
    )


def _minhash_signatures_arrow(docs: DataFrame, num_hashes: int) -> DataFrame:
    """MinHash signatures from a (doc_id, sh) table — Arrow/numpy kernel.

    The shingle xxhash64 stays JVM-side (``shingle_hashes``); the 64
    permutation-mins run as ONE numpy matrix op per Arrow batch:
    (A·h + B) mod M over the flattened hash array, then a segmented
    ``minimum.reduceat`` back to per-doc signatures. Bit-identical to the
    explode → 64×min() hash aggregate (same constants, same mod — parity
    asserted in tests) but NARROW: no explode, no exchange, signature cost
    stays inside the scan stage. At 10^9 docs the agg formulation shuffles
    nothing either (partial agg), but pays 64 interpreted-expression
    evaluations per shingle row; the numpy kernel is one BLAS-shaped pass.
    """
    return _minhash_sig_from_hashed(_hashed_sets(docs), num_hashes)


def _minhash_sig_from_hashed(
    hashed: DataFrame, num_hashes: int, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Arrow/numpy MinHash kernel over a pre-hashed (doc_id, hs) table —
    split out so callers that already materialize the hashed shingle table
    (``minhash_lsh_pairs`` persists it for signature + both verify sides)
    don't re-run the string xxhash64 pass inside the kernel's input plan.

    ``passthrough`` names extra long-typed input columns copied verbatim to
    the output (e.g. the exact-set group id ``gid``): riding the map-only
    kernel is free, while re-attaching them downstream would cost a join
    that shuffles the signature table (~520 B/doc at num_hashes=64)."""
    import numpy as np
    import pandas as pd

    from symat_hbase_tools_spark.functions.text import _permutation_constants

    consts = _permutation_constants(num_hashes)
    A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
    mask31 = (1 << 31) - 1

    def batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            lens = pdf["hs"].str.len().to_numpy()
            flat = np.concatenate(pdf["hs"].to_numpy()) & mask31
            perms = (A * flat[None, :] + B) % mask31  # (num_hashes, n_shingles)
            offs = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            mins = np.minimum.reduceat(perms, offs, axis=1)
            out = {"doc_id": pdf["doc_id"]}
            for c in passthrough:
                out[c] = pdf[c]
            out["sig"] = list(mins.T)
            yield pd.DataFrame(out)

    extra = "".join(f", {c} long" for c in passthrough)
    return hashed.mapInPandas(batches, schema=f"doc_id long{extra}, sig array<long>")


def minhash_signatures(
    docs: DataFrame, num_hashes: int = NUM_HASHES, use_arrow: bool = True
) -> DataFrame:
    """(doc_id, sig) MinHash signatures over a (doc_id, sh) shingle table.

    use_arrow=True (default): numpy segmented-min kernel, see
    ``_minhash_signatures_arrow``. use_arrow=False: the pure-JVM explode →
    codegen'd hash aggregate (64 min() aggs, map-side partial aggregation) —
    same bits, kept as the no-Python-workers path and the parity witness.
    """
    if use_arrow:
        return _minhash_signatures_arrow(docs, num_hashes)
    exploded = docs.select(
        "doc_id", F.explode(shingle_hashes(F.col("sh"))).alias("h")
    )
    perms = minhash_permutations(F.col("h"), num_hashes)
    return (
        exploded.groupBy("doc_id")
        .agg(*[F.min(p).alias(f"m{j}") for j, p in enumerate(perms)])
        .select(
            "doc_id", F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig")
        )
    )


# Cap on the number of DISTINCT SHINGLE SETS allowed in one (band, band_hash)
# LSH bucket. The guard runs AFTER the exact-set pre-group — exact/permuted
# duplicates (the 10^5-10^7-copy hazard of a crawled corpus, where every band
# collides) collapse to ONE group id before bucketing, so an over-cap bucket
# means > max_bucket_size structurally-distinct documents agreeing on a whole
# band: a boilerplate template family. Such buckets are DROPPED before any
# collect, bounding the per-bucket pair expansion at cap^2/2 (~134 MB of id
# pairs at 4096) and the bucket row itself at 8*cap bytes. Recall semantics:
# a true near-dup pair loses only this band's vote and keeps its other
# num_bands-1 chances (two docs at jaccard j still collide elsewhere with
# p = 1-(1-j^r)^(b-1)); for exhaustive semantics on a bounded corpus raise
# the cap or use ngram_jaccard_pairs.
MAX_LSH_BUCKET = 4096


def _minhash_bands(
    sig: DataFrame, id_col: str, num_hashes: int, num_bands: int
) -> DataFrame:
    """(id_col, band, bh) LSH band keys of a table of MinHash ``sig``
    arrays: stage 3 (module docstring). Band b of r = num_hashes //
    num_bands signature rows is keyed by xxhash64(b, slice), so the
    candidate join shuffles only on (band, bh)."""
    r = num_hashes // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.lit(b), F.slice("sig", b * r + 1, r)).alias("bh"),
            )
            for b in range(num_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def _lsh_group_candidates(
    hashed: DataFrame,
    num_hashes: int,
    num_bands: int,
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """LSH candidate generation over exact-shingle-set GROUPS.

    Input: the persisted (doc_id, hs) hashed-shingle table. Returns
    (members, reps, candidates):

      members    — (gid, doc_id), every doc keyed by its exact-set group
      reps       — (gid, rep): min doc_id per group
      candidates — (g1, g2) distinct group pairs sharing >= 1 LSH bucket,
                   g1 < g2 by gid value

    gid = xxhash64(array_sort(hs)) is computed ABOVE the persist barrier
    (array_sort over cached long arrays — cheap), never below it: below,
    projection collapse would re-inline the interpreted shingle-hash HOF
    into the sort argument and run the shingle pass twice during cache fill.
    """
    gid = F.xxhash64(F.array_sort("hs")).alias("gid")
    members = hashed.select(gid, "doc_id")  # (gid, doc_id) — 16 B/doc, narrow
    reps = members.groupBy("gid").agg(F.min("doc_id").alias("rep"))
    # signatures for ALL docs stay map-only (no pre-filter join); dedup to
    # one row per gid happens in the bucket aggregate below, where
    # collect_set's map-side partial agg collapses same-gid rows locally.
    sig = _minhash_sig_from_hashed(
        hashed.select("doc_id", gid, "hs"), num_hashes, passthrough=("gid",)
    )
    buckets = _minhash_bands(sig, "gid", num_hashes, num_bands)
    if max_bucket_size is not None:
        hot = (
            buckets.groupBy("band", "bh")
            .agg(F.count_distinct("gid").alias("n"))
            .filter(F.col("n") > max_bucket_size)
        )
        buckets = buckets.join(
            F.broadcast(hot.select("band", "bh")), ["band", "bh"], "left_anti"
        )
    candidates = (
        buckets.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_set("gid")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(_pairs_from_sorted_ids("ids")).alias("p"))
        .select(F.col("p.d1").alias("g1"), F.col("p.d2").alias("g2"))
        .distinct()
    )
    return members, reps, candidates


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    max_bucket_size: int | None = MAX_LSH_BUCKET,
) -> DataFrame:
    """MinHash-LSH candidates, exact-Jaccard verified. Output = (d1, d2, jaccard).

    Scale shape (the duplicate-heavy-corpus path): documents are first
    grouped by their exact shingle SET — gid = xxhash64(array_sort(hs)).
    ``hs`` is already distinct (shingles_from_words applies array_distinct)
    and both the MinHash signature and the exact-Jaccard verify are
    order-insensitive, so every member of a group is interchangeable in
    candidacy AND scoring: LSH runs on ONE representative per group, and
    member pairs are re-attached afterwards by join (within-group pairs
    score exactly 1.0; cross-group pairs inherit the representative pair's
    jaccard). A crawled corpus where one page has 10^6 exact copies thus
    contributes ONE bucket entry instead of a 10^6-id collect_list row and
    a 5*10^11-pair single-task expansion. gid collision risk: two distinct
    sets sharing an xxhash64 — p < n_docs^2 / 2^64, the same budget accepted
    for the shingle-hash join key in _jaccard_pairs_from_shingles.

    ``max_bucket_size`` (see MAX_LSH_BUCKET) then bounds the residual
    hazard — many DISTINCT near-dup sets (a template family) agreeing on
    one band. Over-cap buckets are detected with a count aggregate and
    anti-joined away BEFORE collect_set, so no giant bucket row is ever
    materialized (the max_shingle_df pattern from ngram_jaccard_pairs).
    None = uncapped. The final pair output is inherently |pairs|-sized —
    a corpus with a 10^7-copy group owes C(10^7,2) rows by contract; the
    expansion here is a distributed self-join, not a per-task blowup.
    """
    # the hashed sets feed the signature kernel AND both verify sides
    # (three plan references), so they are pinned; the size filter sits
    # above the pin (module docstring, stage 1)
    hashed = _hashed_sets(_doc_shingles(spark, sf_dir, n), "minhash_hashed").filter(
        F.size("hs") > 0
    )
    members, reps, candidates = _lsh_group_candidates(
        hashed, num_hashes, num_bands, max_bucket_size
    )
    # verify ONE representative pair per candidate group pair
    rep_pairs = candidates.join(
        reps.select(F.col("gid").alias("g1"), F.col("rep").alias("d1")), "g1"
    ).join(reps.select(F.col("gid").alias("g2"), F.col("rep").alias("d2")), "g2")
    verified = _verify_jaccard(rep_pairs, hashed, "d1", "d2", threshold).select(
        "g1", "g2", "jaccard"
    )
    # re-attach members: cross-group pairs inherit the verified jaccard ...
    m1 = members.select(F.col("gid").alias("g1"), F.col("doc_id").alias("x"))
    m2 = members.select(F.col("gid").alias("g2"), F.col("doc_id").alias("y"))
    cross = (
        verified.join(m1, "g1")
        .join(m2, "g2")
        .select(
            F.least("x", "y").alias("d1"),
            F.greatest("x", "y").alias("d2"),
            "jaccard",
        )
    )
    # ... and within-group pairs are exact duplicates of the shingle set:
    # intersect == union == |set|, so jaccard is exactly 1.0 in both this
    # engine and the SQL oracle. Distributed self-join on gid (narrow rows).
    a, b = members.alias("a"), members.hint("shuffle_hash").alias("b")
    within = (
        a.join(b, "gid")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if threshold > 1.0:  # degenerate: nothing can pass, incl. exact dups
        within = within.filter(F.lit(False))
    return cross.unionByName(within)


def banded_hamming_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """All id pairs with hamming(fp64) <= max_hamming over a
    (id, 64-bit fingerprint) table — EXACT under 4 x 16-bit band blocking
    (pigeonhole: <= 3 bit flips leave at least one of 4 bands untouched),
    while the self-join only ever shuffles on 16-bit band keys. The one
    hamming candidate generator (stage 3, module docstring): simhash_pairs,
    simhash_portable_pairs and the perceptual media near-dup
    (multimodal.near_dup_pairs) all call it. Output: (d1 < d2, hamming)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(fp_col, 16 * b)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("bh"),
            )
            for b in range(4)
        ]
    )
    buckets = fps.select(
        F.col(id_col).alias("doc_id"), F.col(fp_col).alias("fp")
    ).select("doc_id", "fp", F.explode(bands).alias("bb")).select(
        "doc_id", "fp", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.fp").alias("fp1"),
            F.col("b.fp").alias("fp2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2")))
    return cand.select(
        "d1", "d2", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_pairs(
    spark: SparkSession, sf_dir: str, n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """All document pairs with hamming(simhash64) <= max_hamming, exact
    for max_hamming <= 3 (``banded_hamming_pairs``). The 64 bit votes are
    a codegen'd hash aggregate over the shingle rows."""
    fps = (
        _shingle_rows(_doc_shingles(spark, sf_dir, n), drop_empty=True)
        .groupBy("doc_id")
        .agg(*simhash_vote_aggs(F.col("s")))
        .select("doc_id", simhash_from_votes().alias("fp"))
    )
    return banded_hamming_pairs(fps, max_hamming=max_hamming)


def dup_span_census(
    spark: SparkSession, sf_dir: str, k: int = 20
) -> DataFrame:
    """Exact duplicated-span detection: per-document count and fraction of
    k-token windows that also occur (verbatim) in at least one OTHER document.

    The blocked form of exact substring dedup (RefinedWeb / Lee et al.
    "Deduplicating Training Data Makes Language Models Better"): a full
    suffix-array pass is impractical distributed, but hashing every
    overlapping k-token window and grouping on the hash finds every
    duplicated span of >= k tokens exactly — a shared longer span simply
    contributes several shared windows. Output: (doc_id, n_windows,
    n_dup_windows, dup_fraction) for documents with at least one shared
    window; downstream curation drops or trims them.

    Scale: windows are one narrow explode (O(total tokens) rows); the only
    wide ops are the hash groupBy (partial count + two-phase distinct) and
    one join back, both on the 8-byte window hash. Boilerplate-heavy hashes
    skew the join key at corpus scale; they are exactly the rows the
    ``nd > 1`` filter keeps, and AQE skew-join splits them.
    """
    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    words = docs.withColumn("words", F.split(F.col("text"), " ")).filter(
        F.size("words") >= k
    )
    # window hashes: slice-and-hash inside transform runs interpreted, but
    # the work is inherently O(tokens * k) characters either way; xxhash64
    # keeps the grouping key fixed-width (the hash never leaves the plan,
    # so it need not match the oracle's md5 — only group identically).
    wins = pin(
        words.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("words") - (k - 1)),
                    lambda i: F.xxhash64(
                        F.concat_ws(" ", F.slice("words", i, k))
                    ),
                )
            ).alias("h"),
        ),
        "span_census",
    )
    # persisted: the plan references wins twice (shared-count aggregate +
    # join back) and the slice+hash transform is the expensive pass — see
    # _window_hashes_of(persist=True) for the full rationale (round 15)
    shared = wins.groupBy("h").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        wins.join(shared, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            (
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double")
            ).alias("dup_fraction"),
        )
    )


def _window_hashes_of(docs: DataFrame, k: int, persist: bool = False) -> DataFrame:
    """(doc_id, pos, h) for every overlapping k-token window of ``docs``:
    the shared input table of the exact-substring-dedup family (census /
    maximal spans / trim / per-partner refinement / persisted index). pos
    is 1-based token position; h is xxhash64 of the space-joined window
    (engine-internal — only the grouping must agree with the oracle's
    md5, and it does because both hash identical window strings).

    ``persist=True`` for callers whose plan references the window table
    more than once (round 15, same rationale as ``_doc_shingles``): the
    slice+concat+xxhash transform is the family's expensive pass
    (O(tokens x k) characters, interpreted HOF), Spark does not dedupe
    common subplans, and runtime exchange reuse cannot fire here because
    the two consumers shuffle different row shapes (partial-agg counts vs
    raw positions). Without caching, dup_span_census / max_dup_spans ran
    the pass twice and dup_span_partners FOUR times per action (verified
    in executed plans). MEMORY_AND_DISK — the cached unit is ~24 bytes
    per token, the same order as the input text."""
    docs = fanout(docs.sparkSession, docs)
    words = docs.withColumn("words", F.split(F.col("text"), " ")).filter(
        F.size("words") >= k
    )
    out = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("words") - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("words", i, k))),
            )
        ).alias("p0", "h"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h")
    if persist:
        out = pin(out, "window_hashes")
    return out


def _window_hash_positions(
    spark: SparkSession, sf_dir: str, k: int, persist: bool = False
) -> DataFrame:
    return _window_hashes_of(
        load_table(spark, sf_dir, "documents"), k, persist=persist
    )


def _merged_spans(dup: DataFrame, keys: list, k: int) -> DataFrame:
    """Gaps-and-islands over duplicated positions, then an interval-merge
    pass folding token-overlapping extents (islands with positional gap
    <= k-2) into truly disjoint maximal spans (Lee et al. merge-before-
    trim). Both window passes partition by the span keys, so state is
    bounded per document, never corpus-sized. Input: (keys..., pos);
    output: (keys..., start_pos, span_tokens)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy("pos")
    isl = dup.withColumn("grp", F.col("pos") - F.row_number().over(w))
    ext = isl.groupBy(*keys, "grp").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + (k - 1)).alias("e"),
    )
    # a new merged group starts where this extent begins past every
    # earlier extent's end (running max over starts-so-far); adjacent-
    # but-disjoint extents (gap exactly k-1) stay separate
    w2 = Window.partitionBy(*keys).orderBy("s")
    prev_end = F.max("e").over(w2.rowsBetween(Window.unboundedPreceding, -1))
    merged = ext.withColumn(
        "ng",
        F.when(F.col("s") > F.coalesce(prev_end, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "gid", F.sum("ng").over(w2.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        merged.groupBy(*keys, "gid")
        .agg(
            F.min("s").cast("long").alias("start_pos"),
            (F.max("e") - F.min("s") + 1).cast("long").alias("span_tokens"),
        )
        .select(*keys, "start_pos", "span_tokens")
    )


def max_dup_spans(
    spark: SparkSession, sf_dir: str, k: int = 20, within_doc: bool = False
) -> DataFrame:
    """MAXIMAL duplicated-span extraction: merge runs of adjacent
    duplicated k-token windows per document into (doc_id, start_pos,
    span_tokens) maximal extents — the actionable form of exact substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): where ``dup_span_census`` answers "how much of this
    doc is duplicated", this answers "WHICH tokens to trim".

    Semantics: a position p is *duplicated* when the k-token window
    starting at p occurs verbatim in at least one OTHER document. A
    maximal run of consecutive duplicated positions p..q is exactly a
    maximal duplicated span of tokens [p, q+k-1] (length q-p+k): any
    shared substring of length L >= k contributes precisely its L-k+1
    interior windows, and the windows straddling its boundary do not
    match, so the island recovers the span boundaries exactly. Spans
    whose consecutive windows match *different* partner docs still merge
    — "this text exists elsewhere" is the trim criterion, not "exists in
    one particular partner" (the per-pair refinement is a groupBy key
    away but quadratic in partners).

    Gaps-and-islands: island id = pos - row_number() per doc ordered by
    pos — consecutive positions share the id. Two islands separated by a
    POSITIONAL gap of <= k-2 still overlap at the TOKEN level (island one's
    extent reaches k-1 tokens past its last window start), so a second
    interval-merge pass folds token-overlapping extents together; the
    emitted spans are therefore truly disjoint in token space (Lee et al.
    merge-before-trim) and summing span_tokens is exact coverage.
    Adjacent-but-disjoint extents (positional gap exactly k-1) stay
    separate. Both window passes partition by doc_id, so state is bounded
    by tokens-per-document, never corpus size; everything wide (the
    window-hash groupBy, the semi join back) keys on the 8-byte hash
    exactly like the census.

    ``k`` is the window width AND the detection floor: a duplicated span
    of < k tokens is invisible by construction — run with k=8 (registry:
    ``doc_max_dup_spans_k8``) to catch sub-20-token boilerplate at
    modestly more window rows (len-k+1 per doc; ~1.3x at this corpus's
    lengths) and cheaper per-window hashing (8 tokens joined vs 20). ``within_doc=True`` additionally counts a
    window repeated ONLY inside one document as duplicated (the full Lee
    et al. criterion: the suffix array sees self-repeats too); the
    default counts cross-document sharing only.
    """
    wins = _window_hash_positions(spark, sf_dir, k, persist=True)
    dup_cond = (
        (F.count(F.lit(1)) > 1)
        if within_doc
        else (F.count_distinct("doc_id") > 1)
    )
    shared = wins.groupBy("h").agg(dup_cond.alias("dup")).filter("dup").select("h")
    dup = wins.join(shared, "h", "left_semi")
    return _merged_spans(dup, ["doc_id"], k)


def trim_dup_spans(
    spark: SparkSession, sf_dir: str, k: int = 20, within_doc: bool = False
) -> DataFrame:
    """The WRITE form of ``max_dup_spans``: remove every maximal
    duplicated span's tokens from each document — the boilerplate-trim
    step a curation pipeline actually materializes (Lee et al. 2022
    pipeline: census -> spans -> trim).

    Output: (doc_id, n_tokens, n_removed, n_kept, trimmed_text) for EVERY
    document — untouched docs pass through with their original text.
    n_removed is computed from ACTUAL coverage (n_tokens - n_kept), not by
    summing span lengths: coverage is correct by construction even if a
    spans source ever emits token-overlapping extents (max_dup_spans now
    merges them, but the count must not depend on that invariant).

    Shape: the span table is doc-keyed and much smaller than the corpus
    (only duplicated docs appear); one left join back + a map-only HOF
    pass that drops covered token positions (O(tokens x spans-per-doc),
    spans-per-doc bounded by doc length / k). The HOF lives in a Project,
    never a Filter.
    """
    spans = max_dup_spans(spark, sf_dir, k, within_doc=within_doc)
    return trim_with_spans(load_table(spark, sf_dir, "documents"), spans)


def trim_with_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply a (doc_id, start_pos, span_tokens) span table to ``docs`` —
    the trim-application half shared by the in-corpus operator and the
    indexed incremental path (CLI ``span-index --action trim``). Output
    and counting contract as ``trim_dup_spans``."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_pos", "span_tokens")).alias("spans"),
    )
    docs = docs.withColumn("words", F.split(F.col("text"), " "))
    j = docs.join(per_doc, "doc_id", "left")
    idx = F.sequence(F.lit(1), F.size("words"))
    kept = F.when(F.col("spans").isNull(), F.col("words")).otherwise(
        F.transform(
            F.filter(
                F.arrays_zip(F.col("words").alias("w"), idx.alias("i")),
                lambda s: ~F.exists(
                    F.col("spans"),
                    lambda sp: s["i"].between(
                        sp["start_pos"],
                        sp["start_pos"] + sp["span_tokens"] - 1,
                    ),
                ),
            ),
            lambda s: s["w"],
        )
    )
    return j.select(
        "doc_id",
        F.size("words").cast("long").alias("n_tokens"),
        (F.size("words") - F.size(kept)).cast("long").alias("n_removed"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("trimmed_text"),
    )


#: partner-refinement fan-out cap: a window hash owned by MORE than this
#: many distinct documents (corpus-wide boilerplate — license headers,
#: navigation chrome) is DEMOTED from pair-level to doc-level attribution.
#: Without the cap a hash shared by m docs emits Theta(m^2) pair rows —
#: AQE skew-split spreads that work but cannot shrink it. 64 partners is
#: already past what a human forensics pass reads pair-by-pair; above it
#: "shared with the hot-list boilerplate" is the useful answer.
DEFAULT_MAX_PARTNERS_PER_HASH = 64

#: partner_id emitted for spans attributed at doc level because every
#: covering window hash exceeded the partner cap (doc ids are >= 0)
HOT_PARTNER_SENTINEL = -1

#: bounded collect for the demotion log line (examples only — the full
#: hot list is a first-class query, ``dup_span_hot_list``)
MAX_LOGGED_HOT_SPAN_HASHES = 1_000


def _span_partner_census(wins: DataFrame) -> DataFrame:
    """(h, nd) per distinct window hash: nd = distinct owning docs. The
    shared fan-out census of the partner refinement and its hot list."""
    return (
        wins.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
    )


def dup_span_partners(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    max_partners_per_hash: int = DEFAULT_MAX_PARTNERS_PER_HASH,
    log_hot: bool = True,
) -> DataFrame:
    """``dup_span_partners_of`` over the corpus ``documents`` table."""
    return dup_span_partners_of(
        load_table(spark, sf_dir, "documents"),
        k=k,
        max_partners_per_hash=max_partners_per_hash,
        log_hot=log_hot,
    )


def dup_span_partners_of(
    docs: DataFrame,
    k: int = 20,
    max_partners_per_hash: int = DEFAULT_MAX_PARTNERS_PER_HASH,
    log_hot: bool = True,
) -> DataFrame:
    """Per-PARTNER duplicated-span refinement: (doc_id, partner_id,
    start_pos, span_tokens) — the attribution form of ``max_dup_spans``.
    Where the doc-level spans merge runs matched against ANY other
    document (the trim criterion), this keys the gaps-and-islands +
    interval-merge per (doc, partner), so a trim decision can be traced
    to the document(s) the text was shared with (licensing audits,
    boilerplate-source attribution, crawl-overlap forensics).

    Fan-out cap (round 15): a window hash owned by more than
    ``max_partners_per_hash`` distinct docs would contribute m*(m-1)
    pair rows — Theta(m^2) for corpus-wide boilerplate, the one shape
    AQE skew-split spreads but cannot shrink. Such HOT hashes are
    demoted to doc-level attribution: each owning doc still gets its
    span, keyed ``partner_id = HOT_PARTNER_SENTINEL`` (-1) instead of
    one row per partner, and the demotion is logged (bounded collect of
    the census — no silent caps). The hot boilerplate itself is a
    first-class query: ``dup_span_hot_list`` returns (window_text, nd)
    per demoted hash. Hashes at or below the cap keep exact pair-level
    attribution, so output is unchanged on corpora with no hot
    boilerplate. Pair volume is now bounded by
    (shared windows) x min(partners, cap), never corpus^2.
    """
    wins = _window_hashes_of(docs, k, persist=True)
    census = _span_partner_census(wins)
    hot = census.filter(F.col("nd") > max_partners_per_hash)
    if log_hot:
        top = (
            hot.orderBy(F.desc("nd"))
            .limit(MAX_LOGGED_HOT_SPAN_HASHES)
            .collect()
        )
        if top:
            _LOG.warning(
                "dup_span_partners: %s%d window hash(es) exceed "
                "max_partners_per_hash=%d (max nd=%d) — demoted to "
                "doc-level attribution (partner_id=%d); run "
                "dup_span_hot_list for the boilerplate text",
                ">=" if len(top) == MAX_LOGGED_HOT_SPAN_HASHES else "",
                len(top),
                max_partners_per_hash,
                top[0]["nd"],
                HOT_PARTNER_SENTINEL,
            )
    cold_wins = wins.join(
        census.filter(F.col("nd") <= max_partners_per_hash).select("h"),
        "h",
        "left_semi",
    )
    other = wins.select(F.col("doc_id").alias("partner_id"), "h").distinct()
    pairs = (
        cold_wins.join(other, "h")
        .filter(F.col("doc_id") != F.col("partner_id"))
        .select("doc_id", "partner_id", "pos")
        .distinct()
    )
    hot_doc = (
        wins.join(hot.select("h"), "h", "left_semi")
        .select(
            "doc_id",
            F.lit(HOT_PARTNER_SENTINEL).cast("long").alias("partner_id"),
            "pos",
        )
        .distinct()
    )
    return _merged_spans(
        pairs.unionByName(hot_doc), ["doc_id", "partner_id"], k
    )


def dup_span_hot_list(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    max_partners_per_hash: int = DEFAULT_MAX_PARTNERS_PER_HASH,
) -> DataFrame:
    """``dup_span_hot_list_of`` over the corpus ``documents`` table."""
    return dup_span_hot_list_of(
        load_table(spark, sf_dir, "documents"),
        k=k,
        max_partners_per_hash=max_partners_per_hash,
    )


def dup_span_hot_list_of(
    docs: DataFrame,
    k: int = 20,
    max_partners_per_hash: int = DEFAULT_MAX_PARTNERS_PER_HASH,
) -> DataFrame:
    """The partner-refinement HOT LIST as a first-class query:
    (window_text, nd) per window hash owned by more than
    ``max_partners_per_hash`` distinct documents — exactly the hashes
    ``dup_span_partners`` demotes to doc-level attribution. window_text
    is reconstructed from the lexicographically-first occurrence
    ((doc_id, pos) min), which is well-defined because every occurrence
    of a hash is the identical k-token string.

    Shape: census groupBy on the 8-byte hash (the same shuffle the
    partner op pays), then ONE representative occurrence per hot hash
    joins back to its document row to slice the window out — the join is
    hot-list-sized (tiny by construction), never corpus-sized.
    """
    wins = _window_hashes_of(docs, k, persist=True)
    hot = _span_partner_census(wins).filter(
        F.col("nd") > max_partners_per_hash
    )
    rep = (
        wins.join(hot, "h")
        .groupBy("h", "nd")
        .agg(F.min(F.struct("doc_id", "pos")).alias("o"))
        .select("h", "nd", F.col("o.doc_id").alias("doc_id"), F.col("o.pos").alias("pos"))
    )
    docs = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    )
    return rep.join(docs, "doc_id").select(
        F.concat_ws(" ", F.slice("words", F.col("pos"), k)).alias(
            "window_text"
        ),
        F.col("nd").cast("long").alias("nd"),
    )


def build_span_index(
    spark: SparkSession, sf_dir: str, index_dir: str, k: int = 20
) -> None:
    """Persist the exact-substring-dedup WINDOW-HASH INDEX over a corpus —
    the build-once half of incremental span dedup: a nightly crawl batch
    is trimmed against the full historical corpus WITHOUT recomputing the
    corpus side (the dedup-family sibling of ``build_ivf_index``).

    Layout: ``span_hashes/`` (h, nd, d0) — one narrow row per DISTINCT
    k-token window: its 8-byte hash, the count of distinct owning docs,
    and one owner id (nd + d0 together let a corpus-member batch doc
    exclude ITSELF exactly: a window is duplicated for doc d iff nd > 1
    or its sole owner is not d). ``meta/`` records k so a query with a
    mismatched window width is refused instead of silently diluted.

    Scale: the index is one partial-aggregated groupBy on the 8-byte hash
    — the same shuffle the direct operators pay once per RUN, paid here
    once per CORPUS; it stores distinct windows (narrow), not positions.
    """
    wins = _window_hash_positions(spark, sf_dir, k)
    (
        wins.groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("d0"),
        )
        .write.mode("overwrite")
        .parquet(f"{index_dir}/span_hashes")
    )
    spark.createDataFrame([(int(k),)], "k int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/meta")


def span_index_append(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> dict:
    """Merge a BATCH of documents' window hashes into a persisted
    ``build_span_index`` index IN PLACE — the incremental-maintenance
    half the overwrite-only builder lacked (round 15): a nightly crawl
    both trims against the standing index AND joins it for the next
    night, without ever rebuilding over the full corpus (the dedup
    sibling of the IVF index's raw-append path; matches the reference's
    operate-on-a-live-table posture, CorruptRowsMR.java:127-166).

    Recombine is ONE aggregate + ONE full-outer join on the 8-byte hash:
    per hash, nd adds the batch's distinct-owner count and d0 takes the
    least owner id. This is EXACT (appended index == full rebuild over
    corpus + batch) precisely when the batch's doc ids are new to the
    index — the nightly-crawl contract, identical to ``assume_new``
    trim semantics. Re-appending an already-indexed doc id inflates nd
    for its hashes (the index stores counts, not owner sets); dedupe the
    batch stream upstream or rebuild.

    Commit: the merged table is written BESIDE the live one and swapped
    in with two directory renames (a parquet dir cannot be overwritten
    while it is an input to the job writing it). On HDFS/S3 committers
    this maps to FileSystem.rename / a manifest swap.

    k is read from the index meta — a batch windowed at a different k
    cannot be appended by construction. Returns {"windows", "added",
    "k"} for the CLI counters.
    """
    import shutil

    meta = spark.read.parquet(f"{index_dir}/meta").collect()
    k = int(meta[0]["k"])
    live = f"{index_dir}/span_hashes"
    old = spark.read.parquet(live)
    batch = (
        _window_hashes_of(docs, k)
        .groupBy("h")
        .agg(
            F.count_distinct("doc_id").alias("nd_b"),
            F.min("doc_id").alias("d0_b"),
        )
    )
    merged = old.join(batch, "h", "full_outer").select(
        "h",
        (
            F.coalesce(F.col("nd"), F.lit(0))
            + F.coalesce(F.col("nd_b"), F.lit(0))
        ).cast("long").alias("nd"),
        F.least("d0", "d0_b").alias("d0"),
    )
    tmp = f"{index_dir}/span_hashes__new"
    merged.write.mode("overwrite").parquet(tmp)
    n_old = old.count()
    bak = f"{index_dir}/span_hashes__old"
    shutil.move(live, bak)
    shutil.move(tmp, live)
    shutil.rmtree(bak)
    n_after = spark.read.parquet(live).count()
    return {"windows": n_after, "added": n_after - n_old, "k": k}


def max_dup_spans_indexed(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    assume_new: bool = False,
) -> DataFrame:
    """Maximal duplicated spans of a BATCH of documents against a
    persisted ``build_span_index`` corpus index — the query-many half of
    incremental span dedup. Semantics match ``max_dup_spans`` exactly
    when the batch docs are corpus members (a window counts as duplicated
    iff it occurs in at least one OTHER corpus document: nd > 1 or the
    sole indexed owner differs); with ``assume_new=True`` the batch is
    treated as disjoint from the corpus (any indexed occurrence counts —
    the nightly-crawl case), and intra-batch sharing is deliberately NOT
    consulted (run the in-batch operator for that; composing both is a
    union of the two dup tables before the islands pass).

    Shape: batch windows inner-join the index on the 8-byte hash (the
    batch side is the small side — broadcast below the threshold), then
    the shared islands+merge. The corpus is never rescanned.
    """
    meta = spark.read.parquet(f"{index_dir}/meta").collect()
    k = int(meta[0]["k"])
    idx = spark.read.parquet(f"{index_dir}/span_hashes")
    wins = _window_hashes_of(docs, k)
    j = wins.join(idx, "h")
    cond = (
        F.lit(True)
        if assume_new
        else (F.col("nd") > 1) | (F.col("d0") != F.col("doc_id"))
    )
    dup = j.filter(cond).select("doc_id", "pos")
    return _merged_spans(dup, ["doc_id"], k)


def simhash_portable_pairs(
    spark: SparkSession, sf_dir: str, n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs over a PORTABLE hash — full cross-engine oracle.

    Same algorithm as ``simhash_pairs`` (per-bit ±1 votes, 4x16-bit band
    blocking, exhaustive for hamming <= 3 by pigeonhole) but the per-shingle
    hash is the first 64 bits of md5 — computable bit-identically in DuckDB
    (``('0x'||substr(md5(s),1,8))::BIGINT``) — handled as two 32-bit halves
    so no intermediate ever overflows a signed 64-bit in either engine.
    ``simhash_pairs`` (xxhash64) stays the fast engine path: one hash call
    vs md5's ~3x cost; THIS variant is the verification twin that makes the
    simhash family oracle-checkable end-to-end. Output: (d1, d2, hamming).
    """
    # no size filter (module docstring, stage 1): fp_kernel skips
    # documents without shingles itself
    docs = _doc_shingles(spark, sf_dir, n)

    # Fingerprints via an Arrow kernel: the expression-tree formulation (64
    # vote aggregates + 2x32-term assembly) costs ~7 s of WHOLE-STAGE
    # CODEGEN COMPILATION alone — a per-plan constant, data-size
    # independent. hashlib.md5 in Python is bit-identical to both engines'
    # md5, and the numpy vote fold is one pass per batch.
    def fp_kernel(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        jbits = np.arange(32, dtype=np.uint64)
        for pdf in batches:
            ids, lows, highs = [], [], []
            for doc_id, sh in zip(pdf["doc_id"], pdf["sh"]):
                # NULL text -> NULL shingle array arrives as None (the
                # removed size() pre-filter used to drop it: size(NULL)=-1)
                if sh is None or len(sh) == 0:
                    continue
                dig = [hashlib.md5(s.encode("utf-8")).digest() for s in sh]
                hi = np.array(
                    [int.from_bytes(d[0:4], "big") for d in dig], dtype=np.uint64
                )
                lo = np.array(
                    [int.from_bytes(d[4:8], "big") for d in dig], dtype=np.uint64
                )
                votes_lo = (
                    ((lo[:, None] >> jbits) & 1).astype(np.int64) * 2 - 1
                ).sum(0)
                votes_hi = (
                    ((hi[:, None] >> jbits) & 1).astype(np.int64) * 2 - 1
                ).sum(0)
                lows.append(int(((votes_lo > 0).astype(np.uint64) << jbits).sum()))
                highs.append(int(((votes_hi > 0).astype(np.uint64) << jbits).sum()))
                ids.append(doc_id)
            yield pd.DataFrame({"doc_id": ids, "fp_lo": lows, "fp_hi": highs})

    # persist: one 24-byte row per doc, referenced by BOTH sides of the
    # band self-join — without it the shingle+md5+vote pipeline runs twice
    fps = pin(
        docs.mapInPandas(
            fp_kernel, schema="doc_id long, fp_lo long, fp_hi long"
        ),
        "simhash_fps",
    )
    # the two unsigned 32-bit halves pack into one 64-bit fingerprint with
    # the same four 16-bit band keys and the same popcount
    packed = fps.select(
        "doc_id", F.shiftleft("fp_hi", 32).bitwiseOR(F.col("fp_lo")).alias("fp")
    )
    return banded_hamming_pairs(packed, max_hamming=max_hamming).select(
        "d1", "d2", F.col("hamming").cast("bigint").alias("hamming")
    )


def incremental_dedup(
    spark: SparkSession, sf_dir: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup — the nightly-ingest shape.

    New documents (modeled as doc_id % 10 == 0) are checked against the
    EXISTING corpus (the rest) only: exact duplicates by normalized md5
    anti-semantics, near-duplicates by shingle Jaccard restricted to
    (new x corpus) pairs — never corpus x corpus, which is the whole point:
    incremental cost is O(|batch| x avg-postings), not O(|corpus|^2).
    At 100 TB the corpus side's shingle postings come from a maintained
    index table; here they are recomputed, but the join is still one-sided.
    Output per new doc: its dedup verdict ('exact_dup', 'near_dup',
    'unique') + the best-matching corpus doc (deterministic: highest
    jaccard, then lowest doc_id).
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    fp = F.md5(_normalized(F.col("text"))).alias("fp")
    new_fp = docs.filter(is_new).select("doc_id", fp)
    corpus_fp = docs.filter(~is_new).select(F.col("doc_id").alias("c_doc"), fp)
    exact = (
        new_fp.join(corpus_fp, "fp")
        .groupBy("doc_id")
        .agg(F.min("c_doc").alias("exact_match"))
    )

    # the set sizes ride the rows (max per pair, module docstring stage 1)
    sh = _shingle_rows(_doc_shingles(spark, sf_dir, n, persist=True))
    new_sh = sh.filter(is_new)
    corpus_sh = sh.filter(~is_new).select(
        F.col("doc_id").alias("c_doc"), F.col("n_sh").alias("n2"), "s"
    )
    jac = (
        new_sh.join(corpus_sh.hint("shuffle_hash"), "s")
        .groupBy("doc_id", "c_doc")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.max("n_sh").alias("n1"),
            F.max("n2").alias("n2"),
        )
        .select("doc_id", "c_doc", _jaccard("i", "n1", "n2").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    near = _best_match(jac, "doc_id", "c_doc").select(
        "doc_id",
        F.col("c_doc").alias("near_match"),
        F.round("jaccard", 6).alias("best_jaccard"),
    )
    return (
        docs.filter(is_new)
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), "exact_dup")
            .when(F.col("near_match").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("match_doc"),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        )
    )


# -- persisted shingle index (build once / ingest nightly) -------------------


def build_shingle_index(
    spark: SparkSession, sf_dir: str, index_dir: str, n: int = 3, n_buckets: int = 64
) -> None:
    """Persist the corpus's shingle postings as a bucketed table.

    The index is (s: shingle xxhash64, doc_id, n_sh: the doc's shingle
    count) written BUCKETED BY s, so the nightly batch's probe join reads
    co-partitioned buckets — the corpus side never re-shingles and never
    shuffles for the join. This is what makes ``incremental_dedup_indexed``
    truly incremental: per-ingest cost is O(|batch| x avg posting length),
    with the 100 TB corpus touched only through its (much smaller) index.
    """
    (
        _shingle_rows(_doc_shingles(spark, sf_dir, n), drop_empty=True)
        .select("doc_id", "s", "n_sh")
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "s")
        .sortBy("s")
        .option("path", index_dir)
        .saveAsTable("shingle_index")
    )


def incremental_dedup_indexed(
    spark: SparkSession,
    new_docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    index_table: str = "shingle_index",
) -> DataFrame:
    """Near-dup verdicts for a NEW batch against the persisted shingle index.

    The batch side shingles in-flight (it is small); the corpus side is the
    bucketed index table, so the probe join shuffles ONLY the batch side
    (hash-partitioned to the index's buckets). Output mirrors
    ``incremental_dedup``'s near-dup columns: (doc_id, near_match,
    best_jaccard) for batch docs with a corpus match >= threshold.
    """
    # the batch side is read once, so it is not pinned; a batch document
    # without shingles keeps one null-s row, which no index row matches.
    # n1 rides the rows, coalesced to a non-nullable key so the grouping
    # on it infers no filter into the shingle projection (module
    # docstring, stage 1); it is functionally dependent on doc_id, so it
    # adds no groups
    batch = _shingle_rows(_shingles_of(new_docs, n)).select(
        "doc_id", F.coalesce("n_sh", F.lit(-1)).alias("n1"), "s"
    )
    idx = spark.table(index_table).select(
        F.col("doc_id").alias("c_doc"), "s", F.col("n_sh").alias("n2")
    )
    jac = (
        batch.join(idx, "s")
        .groupBy("doc_id", "c_doc", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("i"))
        .select("doc_id", "c_doc", _jaccard("i", "n1", "n2").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return _best_match(jac, "doc_id", "c_doc").select(
        "doc_id",
        F.col("c_doc").alias("near_match"),
        F.round("jaccard", 6).alias("best_jaccard"),
    )


#: A shingle shared by d documents routes ~d^2/2 candidate pairs through the
#: prefix join if it lands in prefixes; demote any shingle with df >= this
#: cutoff to the END of every document's canonical order (out of all
#: prefixes). 256^2/2 = 32k pairs per hot shingle is the bounded worst case.
DEFAULT_HOT_DF = 256
#: Hot-shingle detection samples at most this many documents — the detection
#: pass stays O(constant) as the corpus grows, and the hot list it produces
#: is capped, so the broadcast stays small at any corpus size.
HOT_SAMPLE_DOCS = 200_000
MAX_HOT_SHINGLES = 100_000


#: exact-route admission bound (round-11): the uncapped exploded self-join
#: shuffles ~sum(df^2) rows; admit it only when the sampled estimate of
#: that volume is at most this. This is a Catalyst-broadcast-style
#: SMALL-INPUT fast path, not a scale path: ~8M exploded rows execute in
#: well under a second on a 32-core host, below the prefix machinery's
#: fixed pipeline floor (census join + candidate aggregate + verify join),
#: while any corpus past it — and certainly 100 TB — takes the prefix
#: route whose candidate pruning pays for itself. Measured: sf0.1
#: estimates ~2.8M (exact 0.6 s vs prefix 0.9-1.8 s), the 10x probe ~28M
#: (exact 9.1 s vs prefix 1.9 s) — the bound sits ~3x from both.
#: exact-route volume budget PER PARALLEL SLOT. The round-11 measurement
#: (8M exploded self-join rows was the break-even on the 32-core test
#: host) normalizes to 250k rows/slot; the router multiplies by the
#: session's defaultParallelism so a 1000-executor cluster admits
#: proportionally larger corpora on the exact path while a 4-core laptop
#: flips to prefix earlier. Cluster-portable by construction — the
#: threshold tracks the hardware instead of hard-coding this host.
EXACT_ROUTE_ROWS_PER_SLOT = 250_000

#: legacy fixed threshold (the round-11 32-core measurement); kept for
#: reference and as the floor so tiny local[1] test sessions don't flip
#: mid-suite
EXACT_ROUTE_MAX_JOIN_ROWS = 8_000_000


def exact_route_max_join_rows(spark: SparkSession) -> int:
    """Parallelism-scaled exact-route threshold: max(legacy 8M floor,
    250k rows per default-parallelism slot). On this 32-core host the
    product equals the measured 8M; on a 1000-slot cluster it grows to
    250M — the exploded self-join is embarrassingly parallel after the
    shuffle, so per-slot work is the quantity that must stay bounded."""
    par = max(1, int(spark.sparkContext.defaultParallelism))
    return max(EXACT_ROUTE_MAX_JOIN_ROWS, EXACT_ROUTE_ROWS_PER_SLOT * par)


def _shingle_df_census(
    spark: SparkSession, sf_dir: str, n: int, cutoff: int = DEFAULT_HOT_DF
) -> tuple[list, float]:
    """(hot-shingle hashes, estimated sum(df^2) join volume) from ONE
    sampled aggregation over at most HOT_SAMPLE_DOCS documents.

    Hot = document frequency >= cutoff; the filter uses half the scaled
    cutoff so borderline-hot shingles are flagged (flagging extra shingles
    is harmless — it just reorders tokens — while missing one only costs
    candidate volume, never correctness).

    The volume estimate drives the exact-vs-prefix ROUTE: sum(df^2) is the
    exploded self-join's shuffle row count. Under sampling probability p, a
    df-d shingle's sampled count c ~ Binomial(d, p), so
    E[c^2] = p^2 d^2 + p(1-p) d and
    sum(d^2) ~ (sum(c^2) - (1-p) sum(c)) / p^2.
    The estimate only picks between two EXACT physical plans — a wrong
    pick costs time, never pairs."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet metadata count — no data scan
    p = min(1.0, HOT_SAMPLE_DOCS / max(n_docs, 1))
    sample = docs
    if p < 1.0:
        sample = docs.filter(
            F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(1_000_000))
            < F.lit(int(p * 1_000_000))
        )
    sh = _shingle_rows(_shingles_of(sample, n), drop_empty=True)
    per_shingle = sh.groupBy("s").agg(F.count(F.lit(1)).alias("c")).persist()
    hot = (
        per_shingle.filter(F.col("c") >= max(2.0, cutoff * p * 0.5))
        .limit(MAX_HOT_SHINGLES)
        .collect()
    )
    m = per_shingle.agg(
        F.sum("c").alias("sc"), F.sum(F.col("c") * F.col("c")).alias("sc2")
    ).collect()[0]
    per_shingle.unpersist()
    sc, sc2 = (m["sc"] or 0), (m["sc2"] or 0)
    volume = ((sc2 - (1.0 - p) * sc) / (p * p)) if sc else 0.0
    return [r["s"] for r in hot], volume


def _hot_shingle_list(
    spark: SparkSession, sf_dir: str, n: int, cutoff: int = DEFAULT_HOT_DF
) -> list:
    """Hot-shingle hashes only (see _shingle_df_census)."""
    return _shingle_df_census(spark, sf_dir, n, cutoff=cutoff)[0]


def prefix_filter_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    hot_df_cutoff: int = DEFAULT_HOT_DF,
    route: str = "auto",
) -> DataFrame:
    """Exact shingle-Jaccard pairs via PREFIX FILTERING (the ppjoin-family
    candidate generator; Chaudhuri et al.'s SSJoin / Xiao et al.'s ppjoin):
    order every document's shingles under a common global order and join
    only each document's PREFIX — the first |S| - ceil(t*|S|) + 1
    shingles. Two sets with Jaccard >= t MUST share a prefix token under a
    common global order, so candidate generation is COMPLETE: unlike
    MinHash-LSH there are no false negatives, and unlike the DF-capped
    shingle self-join (``ngram_jaccard_pairs``) no hot-shingle cap is
    needed.

    ``route`` (round-11): ``"auto"`` picks the physical plan from the
    sampled df census — ``"exact"`` (uncapped exploded self-join,
    shuffle volume ~ sum(df^2)) only when no hot shingle is detected AND
    the estimated volume is at most EXACT_ROUTE_MAX_JOIN_ROWS (a
    broadcast-style small-input fast path — 100 TB always takes prefix);
    ``"prefix"`` (this function's namesake machinery below) otherwise.
    Both routes produce the identical exact pair set; forcing either is
    safe for correctness and only moves cost.

    Canonical order (completeness holds under ANY consistent total order;
    the order only controls candidate volume): plain shingle-hash order —
    a uniform pseudo-random permutation of the vocabulary — with
    BOILERPLATE shingles demoted to the very end. A sampled detection
    pass (O(HOT_SAMPLE_DOCS) regardless of corpus size) finds shingles
    with df >= hot_df_cutoff; those route ~df^2/2 pairs through the join
    if they reach a prefix, so demotion is what keeps candidate volume
    linear-ish on power-law corpora. When the hot set is EMPTY (measured:
    this corpus's max shingle df is 10 at sf0.1) the per-document
    canonical arrays are built MAP-ONLY — sort_array over each row's
    hashes, no exchange at all — replacing round-3's corpus-wide
    window-df pass, which cost a full explode shuffle + SortExec and was
    ~half the operator's runtime while buying nothing on a flat df
    distribution. With hot shingles present, the demotion flag comes from
    a broadcast hash-set join on the exploded table (one groupBy doc_id
    shuffle), never a corpus-wide sort.

    The candidate self-join touches only prefixes; verification joins the
    per-doc arrays onto the candidate pairs and counts the overlap with
    array_intersect — per-pair work proportional to the two documents,
    never a corpus-wide token join. Output is identical to brute force
    (same oracle as ``dedup_ngram_jaccard``).

    Three candidate-side prunes on top of the plain prefix join (each
    conservative-complete: they can only ADMIT extra candidates relative
    to the final float ``jaccard >= threshold`` predicate, never drop a
    qualifying pair — boundary ceils subtract a 1e-9 epsilon so binary
    rounding of thresholds like 0.1/0.7 cannot shorten a prefix, per the
    round-3 advisory):

    * **length filter** inside the join: min(|A|,|B|) >= t*max(|A|,|B|).
    * **asymmetric prefixes** (Xiao et al. ppjoin indexing trick): under a
      (length, doc_id) total order, the shorter side of any qualifying
      pair must share a token within its SHORT prefix of
      |x| - ceil(2t/(1+t)*|x|) + 1 tokens (since overlap alpha >=
      2t/(1+t)*|x| when the partner is no shorter), while the longer side
      needs only the standard |y| - ceil(t*|y|) + 1 prefix. The join
      probes short-vs-long, cutting raw match volume ~quadratically in
      the prefix shrink.
    * **positional filter** at aggregate time: for a candidate pair let
      t_last be the LARGEST shared joined token (positions i,j — under
      the per-doc canonical order, max(i) and max(j) both belong to
      t_last) and cnt the number of shared joined tokens. Every shared
      token <= t_last sits before (i,j) in both docs, hence inside both
      joined prefixes, hence is one of the cnt — so
      overlap <= cnt + min(|A|-i, |B|-j). Pairs with that bound below
      alpha = ceil(t/(1+t)*(|A|+|B|)) are pruned before the verify join
      (round-3 measurement: 310k candidates for 256 real pairs at sf0.1
      without this; the verify join was ~2/3 of the operator).
    """
    eps = 1e-9
    if route not in ("auto", "exact", "prefix"):
        raise ValueError(
            f"route must be 'auto', 'exact' or 'prefix', got {route!r}"
        )
    if route == "auto":
        hot, volume = _shingle_df_census(spark, sf_dir, n, cutoff=hot_df_cutoff)
        route = (
            "exact"
            if not hot and volume <= exact_route_max_join_rows(spark)
            else "prefix"
        )
    elif route == "prefix":
        # forced prefix still needs the HOT LIST (demotion order); a
        # forced exact route skips the census entirely — the caller
        # opted out of the cost decision it feeds
        hot = _hot_shingle_list(spark, sf_dir, n, cutoff=hot_df_cutoff)
    if route == "exact":
        # COST-BASED ROUTE (round-11): the sampled detection pass certifies
        # a COLD df distribution (no shingle at df >= hot_df_cutoff), so the
        # plain exploded self-join computes the intersection counts exactly
        # with volume <= hot_df_cutoff * corpus-token-count — linear in the
        # corpus with a bounded constant — and skips the candidate
        # aggregate AND the array-shipping verify join entirely (measured at
        # sf0.1: 208k candidate pairs for 256 real pairs made the verify
        # join ~2/3 of the operator; the exact join matches
        # dedup_ngram_jaccard's 3x-faster profile while staying UNCAPPED,
        # hence textbook-exact). Both routes emit the identical pair set —
        # the router is a physical-plan choice, never a semantics choice.
        # The prefix+verify route remains the plan for corpora where
        # detection finds boilerplate (df^2 pair blowup through a plain
        # self-join). Sampling exposure is shared by both routes and is a
        # volume risk only, never a correctness risk (a missed hot shingle
        # adds join rows here exactly as it adds candidate rows there).
        # orientation already canonical: the self-join keeps a.doc_id <
        # b.doc_id, the same (d1 < d2) the prefix route's least/greatest emits
        rows = _shingle_rows(_doc_shingles(spark, sf_dir, n))
        return _jaccard_pairs_from_shingles(rows, threshold, max_shingle_df=None)
    if not hot:
        # forced prefix route on a cold corpus (route="prefix" — tests pin
        # this to keep the no-demotion canonical order covered): hash order,
        # built map-only per row — no exchange before the prefix join
        per_doc = pin(
            _hashed_sets(_doc_shingles(spark, sf_dir, n))
            .select("doc_id", F.sort_array(F.array_distinct("hs")).alias("toks"))
            .withColumn("n_sh", F.size("toks")),
            "prefix_per_doc",
        )
    else:
        # demote boilerplate: order by (is_hot, s). The hot set is a capped
        # broadcast build side; the only full-data exchange is the
        # groupBy(doc_id) that reassembles the canonical arrays.
        sh = _shingle_rows(_doc_shingles(spark, sf_dir, n), drop_empty=True)
        hot_df = F.broadcast(
            local_frame(spark, [(s,) for s in hot], "s long").withColumn(
                "hot", F.lit(1)
            )
        )
        per_doc = pin(
            sh.join(hot_df, "s", "left")
            .groupBy("doc_id")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.coalesce("hot", F.lit(0)).alias("h"), "s"))
                ).alias("o"),
                F.count(F.lit(1)).alias("n_sh"),
            )
            .withColumn("toks", F.col("o.s"))
            .drop("o"),
            "prefix_per_doc",
        )
    t = float(threshold)
    long_len = (
        F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(eps)) + 1
    ).cast("int")
    short_len = (
        F.col("n_sh")
        - F.ceil(F.lit(2.0 * t / (1.0 + t)) * F.col("n_sh") - F.lit(eps))
        + 1
    ).cast("int")
    def _prefix(plen):
        return per_doc.select(
            "doc_id",
            "n_sh",
            F.posexplode(F.slice("toks", 1, plen)).alias("pos0", "s"),
        ).select("doc_id", "n_sh", "s", (F.col("pos0") + 1).alias("p"))

    a = _prefix(short_len).alias("a")
    b = _prefix(long_len).hint("shuffle_hash").alias("b")
    # (n_sh, doc_id) total order picks the short-prefix side; the length
    # filter runs INSIDE the join so mismatched-size pairs never reach the
    # candidate aggregate (the volume hot spot at low thresholds)
    raw = a.join(b, "s").filter(
        (
            F.struct(F.col("a.n_sh"), F.col("a.doc_id"))
            < F.struct(F.col("b.n_sh"), F.col("b.doc_id"))
        )
        & (F.col("a.n_sh") >= F.lit(t) * F.col("b.n_sh") - F.lit(eps))
    )
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("n1") + F.col("n2")) - F.lit(eps)
    )
    cands = (
        raw.groupBy(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("a.p").alias("ia"),
            F.max("b.p").alias("ib"),
        )
        .filter(
            F.col("cnt")
            + F.least(F.col("n1") - F.col("ia"), F.col("n2") - F.col("ib"))
            >= alpha
        )
        .select("da", "db")
    )
    sets = per_doc.select("doc_id", F.col("toks").alias("hs"))
    return _verify_jaccard(cands, sets, "da", "db", threshold).select(
        F.least("da", "db").alias("d1"),
        F.greatest("da", "db").alias("d2"),
        "jaccard",
    )


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Near-CONTAINMENT pairs: shingle containment of the smaller set,
    C = |A∩B| / min(|A|,|B|) >= threshold. The asymmetric companion to
    Jaccard dedup — a short document quoted inside a long one scores low
    Jaccard (the union is huge) but high containment, which is exactly the
    quote/subset/boilerplate-inclusion case corpus curation wants to
    catch (the same motivation as RefinedWeb's substring dedup, at
    set-of-shingles granularity).

    Length filtering is deliberately ABSENT: containment pairs are
    precisely the size-mismatched ones a Jaccard length filter prunes.
    Candidate generation is the df-capped shingle self-join
    (``MAX_SHINGLE_DF`` semantics as in ``ngram_jaccard_pairs``: capped
    shingles leave both the intersection and the sizes — consistent
    "capped containment"; this corpus sits far below the cap so the
    output is textbook-exact, oracle-verified).

    Scale shape: identical to the Jaccard join (``_intersection_pairs``) —
    the SHUFFLE_HASH shingle self-join and a (d1, d2) aggregate that counts
    the intersection and carries the sizes, with the df-cap census only
    when the cap can bind. Output: d1 < d2,
    n1, n2 (the CAPPED per-side sizes — consumers deriving a drop side
    must use these, not recomputed uncapped sizes, so the orientation
    always agrees with the containment denominator), n_small,
    containment (rounded 6).
    """
    rows = _shingle_rows(_doc_shingles(spark, sf_dir, n))
    return (
        _intersection_pairs(rows, _binding_cap(spark, sf_dir, max_shingle_df))
        .select(
            "d1",
            "d2",
            F.col("n1"),
            F.col("n2"),
            F.least("n1", "n2").alias("n_small"),
            F.round(
                F.col("i").cast("double") / F.least("n1", "n2"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
