"""Text-analysis operators over the documents table.

Language-ID, quality scoring, token statistics, and document fingerprinting —
the per-document scans a training-data pipeline runs over every corpus.
Pure built-in expressions (whole-stage codegen) everywhere except the
Unicode-NFC pass, which is an Arrow-batched pandas UDF (Spark has no NFC
built-in); every operator has an exact DuckDB oracle twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.text import (
    bpe_ish_token_count,
    rolling_fingerprint,
    shingles_from_words,
    stopword_hits,
    token_count,
    tokens,
)
from symat_hbase_tools_spark.plans.serve_cache import pin
from symat_hbase_tools_spark.sources.io import local_frame
from symat_hbase_tools_spark.sources.tables import load_table

def lang_id_expr(text: F.Column) -> F.Column:
    """Rule-based language ID: Unicode-script presence, then stopword cues.

    On real corpora the script rules dominate; this synthetic corpus is
    ASCII word-salad, so everything lands in the final en/unknown rule —
    the operator's value here is exercising the classification plumbing
    end-to-end with an oracle twin.
    """
    return (
        # kana before CJK: Japanese text contains kanji, so the kana rule
        # must win first
        F.when(text.rlike("[぀-ヿ]"), "ja")
        .when(text.rlike("[一-鿿]"), "zh")
        .when(text.rlike("[Ѐ-ӿ]"), "ru")
        .when(text.rlike("[؀-ۿ]"), "ar")
        .when(text.rlike("(^| )(der|die|das|und) "), "de")
        .when(text.rlike("(^| )(el|la|los|las) "), "es")
        .when(text.rlike("(^| )(the|a|of|and) "), "en")
        .otherwise("unknown")
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted language vs. the corpus label — confusion counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id_expr(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + a composite score.

    All ratios are exact-integer divisions in double — bit-identical across
    engines; no rounding needed.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout

    # pure map over heavy regex passes: fan a few fat parquet splits out to
    # the cluster (bytes-proportional; a many-split 100 TB source is
    # untouched). Without this the sf1 probe ran the whole table's regex
    # work on ONE core (single 6 MB split): 2.9 s where 0.4 s is available.
    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    n_tokens = token_count(text)
    n_chars = F.length(text).cast("bigint")
    # characters that are neither lowercase letters nor spaces = "punct-ish".
    # (round-15 A/B note: len(translate(text, "a-z ", "")) computes the same
    # count and LOOKS cheaper, but measured 0.082 s vs 0.069 s for this
    # regexp_replace over the sf0.1 scan floor — StringTranslate's per-char
    # map lookup loses to the regex engine's char-class scan. Kept as-is.)
    non_word = n_chars - F.length(F.regexp_replace(text, "[^a-z ]", "")).cast("bigint")
    word_chars = F.length(F.translate(text, " ", "")).cast("bigint")
    stop_hits = stopword_hits(text)
    avg_word_len = F.when(n_tokens > 0, word_chars / n_tokens).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, non_word / n_chars).otherwise(F.lit(0.0))
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (1 - punct_ratio) * 0.2
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        score.alias("quality_score"),
    )


#: Gopher rule thresholds (Rae et al. 2021 §A1.1, the rule-based filter
#: reused by MassiveText/FineWeb lineages), adapted to the whitespace
#: tokenization this repo's text family shares
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_DISTINCT_STOPWORDS = 2


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021): the classic
    hand-rule gate every large text pipeline runs BEFORE model-based
    scoring — word-count bounds, mean-word-length band, symbol ratio
    ('#' and '...' per word), alphabetic-word fraction, and the
    distinct-stopword floor; ``keep`` is the conjunction.

    Exactness: every ratio is one division of identical bigints
    (bit-stable cross-engine); the rule booleans compare those doubles
    against literal thresholds, so the keep boundary is exact. Shape:
    one fanned-out map-only projection — no shuffle at all, and since
    round 15 no higher-order functions either: the alphabetic-token
    filter and the distinct-stopword count are single codegen'd regex
    passes (see _ALPHA_FREE_RE / _STOPWORD_RE), so the whole operator is
    one WholeStageCodegen span with no interpreted per-element work and
    no materialized token array.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout
    from symat_hbase_tools_spark.functions.text import (
        _ALPHA_FREE_RE,
        _STOPWORD_RE,
    )

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    n_words = token_count(text)
    word_chars = F.length(F.translate(text, " ", "")).cast("bigint")
    hash_cnt = (
        F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    ).cast("bigint")
    ell_cnt = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit(""))))
        / F.lit(3)
    ).cast("bigint")
    # round-15 optimization (guide §4.1): the per-token higher-order
    # F.filter(words, w -> w.rlike("[a-z]")) ran INTERPRETED per element
    # (HOFs get no whole-stage codegen) — one codegen'd regexp_count pass
    # counts the alpha-free tokens instead. Equivalence: tokens() splits
    # trimmed text on runs of spaces, so a token contains no [a-z] iff it
    # is a maximal space-bounded run of non-space non-[a-z] characters —
    # exactly what _ALPHA_FREE_RE matches (the lookahead leaves the
    # trailing space unconsumed so consecutive alpha-free tokens each
    # match; same construction as _STOPWORD_RE). Measured: the HOF form
    # +0.075 s over the scan floor at sf0.1, the regex form +0.012 s.
    alpha_words = (
        n_words - F.regexp_count(text, F.lit(_ALPHA_FREE_RE))
    ).cast("bigint")
    # distinct-stopword count via one regexp_extract_all pass over the SAME
    # whole-token stopword regex stopword_hits() uses (group 2 = the
    # matched stopword), de-duped with array_distinct. Replaces
    # array_intersect(words, lit-array) — measured cost-neutral by itself,
    # but together with the regex alpha count it removes the LAST consumer
    # of the materialized words array, so the split() token-array
    # allocation drops out of the plan entirely (the only remaining
    # tokens() use is size() for n_words).
    n_stops = F.size(
        F.array_distinct(F.regexp_extract_all(text, F.lit(_STOPWORD_RE), 2))
    ).cast("bigint")
    mean_wl = F.when(
        n_words > 0, word_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    sym_ratio = F.when(
        n_words > 0, (hash_cnt + ell_cnt).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0, alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    keep = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wl.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (n_stops >= GOPHER_MIN_DISTINCT_STOPWORDS)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stops.alias("n_stop_distinct"),
        keep.alias("keep"),
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per (lang, source) — the pre-training census."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text)).alias("total_tokens"),
        F.sum(bpe_ish_token_count(text)).alias("total_bpe_tokens"),
        F.sum(F.col("n_chars")).alias("total_chars"),
        (F.sum(token_count(text)).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling-hash fingerprint per document."""
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    return docs.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp"))


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: top-unigram
    fraction, distinct-token ratio, top-bigram fraction.

    Repetitious machine-generated text shows a high top-n-gram share; these
    are the standard filters a pre-training pipeline computes per document.
    Shape: posexplode(tokens) -> one window (lead) partitioned by doc_id for
    bigrams -> two partial-aggregated groupBys keyed by doc. Everything is
    keyed on doc_id or (doc_id, gram), so partitions stay balanced at any
    corpus size; no per-row Python. Fractions divide the same exact integers
    on both engines — bit-identical doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "word")
    )
    uni_counts = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    uni = uni_counts.groupBy("doc_id").agg(
        F.max("c").alias("top_unigram_cnt"),
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("word").over(w)
    bigrams = words.select(
        "doc_id",
        F.when(nxt.isNotNull(), F.concat_ws(" ", F.col("word"), nxt)).alias("bigram"),
    ).filter(F.col("bigram").isNotNull())
    bi = (
        bigrams.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_cnt"))
    )
    n_tok = F.col("n_tokens")
    return (
        docs.select("doc_id")
        .join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(n_tok, F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
            F.when(n_tok > 0, F.col("top_unigram_cnt") / n_tok)
            .otherwise(F.lit(0.0))
            .alias("top_unigram_frac"),
            F.when(n_tok > 0, F.col("n_distinct") / n_tok)
            .otherwise(F.lit(0.0))
            .alias("distinct_ratio"),
            F.when(n_tok > 1, F.col("top_bigram_cnt") / (n_tok - 1))
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
        )
    )


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus mixture census and resampling weights to a
    uniform target mix — the bookkeeping step before weighted sampling
    assembles a training blend.

    weight > 1 means the group must be upsampled to reach the uniform
    target share, < 1 downsampled. The global totals are a second (tiny)
    aggregation over the grouped result, broadcast back as a 1-row cross
    join — the fact table scans once.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
    )
    tot = g.agg(
        F.sum("n_docs").alias("corpus_docs"), F.count(F.lit(1)).alias("n_groups")
    )
    return g.join(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        (F.col("n_docs") / F.col("corpus_docs")).alias("share"),
        ((F.col("corpus_docs") / F.col("n_groups")) / F.col("n_docs")).alias("weight"),
    )


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document length histogram in 200-char buckets — the length-filter
    design census (choose truncation/min-length cutoffs from it)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / 200).cast("bigint")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
        )
        .withColumn("bucket_lo", (F.col("bucket") * 200).cast("bigint"))
    )


def boilerplate_shingles(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k word-trigram shingles by document frequency — boilerplate
    detection (navigation chrome, license headers, templated sentences
    recur across many documents and get stripped before training).

    Shingles are distinct-per-document (shingles_from_words), so COUNT(*)
    after the explode IS document frequency; one partial-aggregated shuffle
    on the shingle, then a driver-side top-k of an already-aggregated set.
    Deterministic under ties via the shingle-string tiebreak.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.withColumn("words", F.split(F.col("text"), " "))
        .select("doc_id", F.explode(shingles_from_words(F.col("words"))).alias("shingle"))
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "shingle")
        .limit(k)
    )


def clean_text_expr(text: F.Column) -> F.Column:
    """Pre-training text normalization as one built-in expression chain:
    collapse whitespace runs, strip non-printable ASCII, trim. (Unicode NFC
    is the separate ``text_nfc_clean`` pass below — it needs a real Unicode
    library, so it runs as an Arrow-batched pandas UDF rather than a
    built-in expression.)"""
    no_ctl = F.regexp_replace(text, "[\\x00-\\x08\\x0b-\\x1f\\x7f]", "")
    one_space = F.regexp_replace(no_ctl, "[ \\t\\r\\n]+", " ")
    return F.trim(one_space)


def nfc_normalize_udf() -> F.Column:
    """Arrow-batched NFC normalizer (python stdlib unicodedata — Unicode's
    normalization stability policy guarantees NFC agreement across
    implementations, so DuckDB's utf8proc ``nfc_normalize`` is an exact
    cross-engine oracle; parity is property-tested in
    tests/test_text_analysis.py). A pandas UDF is the honest implementation:
    Spark SQL has no NFC built-in, and per-row unicodedata through Arrow
    batches is the standard shape for library-backed string transforms."""

    @F.pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: x if x is None else unicodedata.normalize("NFC", x)
        )

    return _nfc


def text_nfc_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-NFC cleaning census — the normalization pass real multilingual
    corpora need before dedup (byte-identical duplicates can differ only in
    composed-vs-decomposed accents).

    The synthetic corpus is pure ASCII (NFC = identity), so the query first
    DERIVES a deterministic non-ASCII view — docs with doc_id % 3 == 0 get
    every 'a' decomposed to 'a' + U+0300 (combining grave) — then
    normalizes, reporting per document whether NFC changed the text, the
    code-point counts before/after, and an md5 content fingerprint of the
    normalized text. Both engines build the identical decorated input, so
    every column is exact cross-engine.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    decorated = F.when(
        F.col("doc_id") % 3 == 0,
        F.regexp_replace(F.col("text"), "a", "a\u0300"),  # a + combining grave
    ).otherwise(F.col("text"))
    nfc = nfc_normalize_udf()
    d = docs.select("doc_id", decorated.alias("t")).withColumn("nt", nfc(F.col("t")))
    return d.select(
        "doc_id",
        (F.col("t") != F.col("nt")).alias("changed"),
        F.length("t").cast("bigint").alias("cp_before"),
        F.length("nt").cast("bigint").alias("cp_after"),
        F.md5(F.encode(F.col("nt"), "UTF-8")).alias("nfc_fp"),
    )


def text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning census: per document, the normalized text's fingerprint and
    how many characters cleaning removed — the audit a pipeline runs before
    committing a cleaning pass to 100 TB. Narrow per-row expressions only;
    the rolling fingerprint doubles as the cross-engine content check."""
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    cleaned = clean_text_expr(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("raw_chars"),
        F.length(cleaned).cast("bigint").alias("clean_chars"),
        (F.length("text") - F.length(cleaned)).cast("bigint").alias("removed"),
        rolling_fingerprint(cleaned).alias("clean_fp"),
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM quality score per document (the CCNet-style
    perplexity-proxy filter): score = mean over the document's tokens of
    -ln(P(w)), with P(w) = corpus_count(w) / corpus_tokens. Documents full
    of rare (or machine-garbled) tokens score high; repetitive common-token
    text scores low — the standard cheap LM-quality signal a pipeline
    computes before committing to a real-LM perplexity pass.

    Scale shape: one explode -> partial-aggregated vocab count (vocab-sized,
    tiny vs corpus) -> vocab broadcast back onto the token stream -> one
    partial-aggregated per-doc mean. The corpus-total is a 1-row broadcast.
    No Python anywhere; ln() last-ulp noise is absorbed by round-6 (same
    discipline as BM25). Every corpus token is in the corpus vocab by
    construction, so no smoothing term is needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("n_corpus"))
    scored = (
        words.join(F.broadcast(vocab), "word")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(-F.log(F.col("c") / F.col("n_corpus"))).alias("raw"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round("raw", 6).alias("avg_neg_logprob"),
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    query_terms: tuple[str, ...] = ("hash", "join", "scan"),
    k: int = 20,
) -> DataFrame:
    """BM25 retrieval over the corpus — the inverted-index scoring shape.

    Pipeline: explode tokens -> tf per (doc, term) restricted to the
    (broadcast) query terms BEFORE any aggregation, df per term from the
    restricted postings, document lengths + corpus avgdl as 1-row broadcast
    stats. Only documents containing a query term are ever scored, exactly
    like walking the query terms' posting lists. Scores are rounded to 6
    decimals and ranked (score, doc_id) so the top-k SET is deterministic
    cross-engine despite last-ulp libm ln() differences.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    # pin the (doc_id, dl) table (round 16): it has TWO plan references
    # (the 1-row corpus stats aggregate + the per-candidate length join) and
    # each re-ran the documents scan + tokenize — with the words explode
    # that made THREE tokenize passes over the corpus per action. The cached
    # unit is 16 bytes/doc. Interleaved A/B on doc_hybrid_search_rrf at the
    # 10x probe: 0.387/0.441 -> 0.315/0.365 s min/med (with the q-norm hoist
    # in pipeline.py); a corpus-sized token-array pin measured the same win,
    # so the tiny doclen cache is kept (guide §5: cache competes with
    # execution memory).
    doclen = pin(
        docs.select("doc_id", token_count(F.col("text")).alias("dl")),
        "bm25_doclen",
    )
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    qt = local_frame(spark, [(t,) for t in query_terms], "term string")
    tf = (
        words.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = F.col("n_docs").cast("double")
    idf = F.log((n - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(k)


def vocab_coverage(spark: SparkSession, sf_dir: str, vocab_size: int = 10) -> DataFrame:
    """Tokenizer-vocabulary build + coverage report, per language.

    Builds the top-``vocab_size`` token vocabulary over the whole corpus
    (count desc, token asc — the deterministic tie-break), then reports per
    language: total token occurrences, occurrences outside the vocabulary,
    and the OOV rate a tokenizer trained with this vocab would see. The
    classic pre-tokenizer census: pick V, know the coverage before training.

    Scale: token counts are one partial-aggregated shuffle; the top-V cut is
    a global sort of the (distinct-token) count table, tiny next to the
    corpus; the vocabulary is broadcast back against the token stream, so
    the coverage pass adds no shuffle on the big side.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # top-V cut via orderBy().limit() — TakeOrderedAndProject (per-partition
    # heaps), not the single-partition sort a row_number window over the
    # full count table would force; ranks are then assigned over the
    # already-limited V rows, a bounded constant at any corpus size
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .withColumn("rk", F.row_number().over(w))
    )
    return (
        toks.join(F.broadcast(vocab.select("tok", "rk")), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("rk").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
                "oov_rate"
            ),
        )
    )


# PII patterns kept to RE2-compatible constructs (char classes, bounded
# repetition, \b) so Spark's Java regex and DuckDB's RE2 agree exactly.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_INTL_PHONE = r"\+\d{7,15}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction census — the audit a corpus runs before release.

    Per document: match counts per PII class (emails, IPv4 literals,
    international phone numbers) and the rolling fingerprint of the REDACTED
    text (each match replaced by a typed token), so the oracle verifies the
    scrubbed bytes, not just the counts. All narrow per-row regex
    expressions — at 100 TB this is a pure map stage, no shuffle at all
    until the driver fetch.
    """
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_INTL_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4)).cast("bigint").alias("n_ipv4"),
        F.regexp_count(F.col("text"), F.lit(PII_INTL_PHONE))
        .cast("bigint")
        .alias("n_phones"),
        rolling_fingerprint(scrubbed).alias("scrubbed_fp"),
    )


def bpe_pair_stats(spark: SparkSession, sf_dir: str, top_n: int = 50) -> DataFrame:
    """Top adjacent-token-pair frequencies — the BPE merge-selection step.

    One iteration of byte-pair-encoding training picks the most frequent
    adjacent symbol pair across the corpus; this computes the full ranked
    candidate table. Shape: arrays_zip of the token array against its own
    tail builds the pair list without a lambda (stays codegen-able, unlike
    transform/zip_with which evaluate interpreted per element), then
    explode -> partial-aggregated groupBy on the pair string -> TakeOrdered
    top-N. At 100 TB this is one shuffle keyed on the pair, and the top-N
    never materializes the full tail on the driver.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n = F.size(toks)
    zipped = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"),
            F.slice(toks, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = docs.select(F.explode(zipped).alias("z")).select(
        F.concat_ws(" ", F.col("z.w1"), F.col("z.w2")).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(top_n)
    )


def tfidf_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document — keyword extraction over the corpus.

    idf = ln((N + 1) / (df + 1)) + 1 (smoothed, sklearn-style); score =
    tf * idf, rounded to 6 places BEFORE ranking so a sub-ulp libm
    difference between engines cannot flip the top-k cut (mathematically
    equal scores tie-break on the term string).

    Shape: explode -> one partial-aggregated groupBy on (doc_id, term) for
    tf, then document frequency as an unbounded COUNT window over term ON
    THE TF ROWS — one linear pipeline (no second scan of the corpus: a
    groupBy-on-term formulation duplicates the whole explode+tf subtree
    because Spark does not share subplans), then the per-doc top-k window.
    Three shuffles total — (doc_id, term), term, doc_id — each on a
    well-distributed key. No Python anywhere.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    wdf = Window.partitionBy("term")
    tf = tf.withColumn("df", F.count(F.lit(1)).over(wdf).cast("bigint"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("tf")
        * (
            F.log(
                (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
            )
            + F.lit(1.0)
        ),
        6,
    )
    scored = tf.crossJoin(F.broadcast(stats)).select(
        "doc_id", "term", "tf", "df", score.alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "df", "score", F.col("rk").cast("bigint").alias("rk"))
    )


#: hashed-feature classifier: salt for the feature hash, bucket count 256
#: (two md5 nibbles). Integer bucket weights keep the per-doc sum EXACT
#: (bigint) so the score divides the same integers on both engines —
#: bit-identical doubles with no rounding tolerance needed.
CLASSIFIER_SALT = "cls7"
_HEX16 = "0123456789abcdef"


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear text classifier (fastText-style scorer).

    The standard cheap quality gate over a pre-training corpus: hash each
    token into one of 256 buckets, look up an integer bucket weight
    (deterministically derived from the hash itself here — a trained model
    would broadcast a weight table), average over the document, threshold.
    Score = sum(bucket - 128) / (256 * n_tokens): the numerator accumulates
    exactly in bigint, so there is no float-summation-order drift.

    Shape: posexplode -> narrow md5 + nibble arithmetic per (doc, token)
    row (whole-stage codegen; md5 on exploded rows, never inside a
    higher-order lambda) -> one partial-aggregated groupBy on doc_id. At
    100 TB: one shuffle keyed on doc_id, uniformly distributed.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    h = F.md5(F.concat_ws("\x1f", F.lit(CLASSIFIER_SALT), F.col("term")))
    words = words.withColumn("h", h)
    nib1 = F.expr(f"instr('{_HEX16}', substr(h, 1, 1)) - 1")
    nib2 = F.expr(f"instr('{_HEX16}', substr(h, 2, 1)) - 1")
    bucket = nib1 * 16 + nib2
    per_tok = words.select("doc_id", (bucket - F.lit(128)).cast("bigint").alias("wgt"))
    agg = per_tok.groupBy("doc_id").agg(
        F.sum("wgt").alias("wsum"), F.count(F.lit(1)).alias("n_tokens")
    )
    score = F.col("wsum") / (F.lit(256.0) * F.col("n_tokens"))
    return agg.select(
        "doc_id",
        "n_tokens",
        "wsum",
        score.alias("score"),
        (score > 0).alias("keep"),
    )


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain (chosen, rejected) preference-pair construction — the
    reward-model / DPO data-prep step: within every (lang, source) domain,
    pair the highest-quality document against the lowest-quality one, with
    the quality margin as the pair's training weight.

    Quality is the exact-bigint hashed-feature ``quality_classifier``
    score, so the ordering is bit-identical cross-engine (both engines
    derive the same double from the same (wsum, n_tokens) bigints). Ties
    break on doc_id: chosen = (score desc, doc_id asc), rejected =
    (score asc, doc_id asc) — a group whose docs all tie collapses to
    chosen == rejected and is dropped (margin must be strictly positive:
    a zero-margin pair carries no preference signal).

    Scale shape: classifier (one doc_id-keyed partial-agg shuffle) ->
    broadcast-or-shuffle join back to (lang, source) -> ONE partial
    aggregation on the domain key using struct-ordered max/min (argmax
    with tie-break inside the aggregate — no window, no per-domain
    sort). Domains are dimension-cardinality, so the reduce side is
    trivial at any corpus size.
    """
    scores = quality_classifier(spark, sf_dir).select("doc_id", "score")
    dims = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    s = scores.join(dims, "doc_id")
    # struct ordering is lexicographic: (score, -doc_id) max = highest
    # score then LOWEST doc_id; (score, doc_id) min = lowest score then
    # lowest doc_id
    agg = s.groupBy("lang", "source").agg(
        F.max(
            F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))
        ).alias("ch"),
        F.min(F.struct(F.col("score"), F.col("doc_id").alias("id"))).alias(
            "rj"
        ),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        agg.select(
            "lang",
            "source",
            (-F.col("ch.nid")).alias("chosen_id"),
            F.col("rj.id").alias("rejected_id"),
            (F.col("ch.score") - F.col("rj.score")).alias("margin"),
            "n_docs",
        )
        .filter(F.col("margin") > 0)
    )


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy-to-hard curriculum ordering with cross-domain interleave — the
    data-ordering step of curriculum training: within every language,
    documents order by ascending difficulty (token count, doc_id
    tie-break), and the global schedule interleaves languages so early
    training never sees one domain exclusively (position ordered by
    (within-language rank, lang): the k-th easiest doc of EVERY language
    precedes any (k+1)-th).

    Both ranks come from the distributed ranking machinery
    (plans/ranking.py) — a ``row_number() OVER (PARTITION BY lang ...)``
    window would funnel each language through ONE task, and language
    cardinality is tiny, so at corpus scale that is a handful of tasks
    sorting billions of rows each. Instead: one global rank over
    (lang, difficulty, doc_id) makes language blocks contiguous, the
    per-language rank is the global rank minus the language's broadcast
    min-rank offset (dimension-sized aggregate), and a second global
    rank over (lang_rank, lang) yields the interleaved schedule.
    """
    from symat_hbase_tools_spark.plans.ranking import global_order_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    ranked, _n = global_order_rank(
        docs, [F.col("lang"), F.col("n_tokens"), F.col("doc_id")], "g_rank"
    )
    offsets = ranked.groupBy("lang").agg(F.min("g_rank").alias("rk0"))
    with_lang_rank = (
        ranked.join(F.broadcast(offsets), "lang")
        .withColumn(
            "lang_rank",
            (F.col("g_rank") - F.col("rk0") + F.lit(1)).cast("bigint"),
        )
        .select("doc_id", "lang", "n_tokens", "lang_rank")
    )
    final, _n2 = global_order_rank(
        with_lang_rank,
        [F.col("lang_rank"), F.col("lang")],
        "curriculum_rank",
    )
    return final.select(
        "doc_id", "lang", "n_tokens", "lang_rank", "curriculum_rank"
    )


def token_budget_select(
    spark: SparkSession,
    sf_dir: str,
    budget_num: int = 1,
    budget_den: int = 2,
) -> DataFrame:
    """Token-budgeted corpus selection: greedily keep the highest-quality
    documents until a global token budget is spent — the "we can only
    train on X tokens, which documents make the cut" step of a
    pre-training pipeline. Quality = the ``quality_classifier`` score
    (exact-bigint hashed-feature sum, so the order is bit-stable
    cross-engine); budget = ``total_tokens * budget_num div budget_den``
    (exact integer arithmetic — a float fraction of a 100-TB token count
    would wobble past 2^53).

    Output: one row per SELECTED document —
    (doc_id, n_tokens, wsum, score, sel_rank, cum_tokens), where
    sel_rank is the 1-based global quality rank and cum_tokens the
    inclusive running token total in (score DESC, doc_id) order; a
    document is selected iff its cum_tokens <= budget (greedy prefix).

    Scale shape — the global ordered prefix sum, NOT a partition-less
    window (which funnels the corpus through one task):

      1. range-repartition on (score DESC, doc_id) — data-adaptive
         partition count, total order across partitions;
      2. per-partition row_number + running token sum (window keyed on
         spark_partition_id);
      3. exclusive per-partition offsets for BOTH counters via the lazy
         triangular broadcast subplan (O(partitions^2) tiny rows, zero
         plan-build driver jobs — the plans/ranking.py round-5 lesson);
      4. budget as a broadcast one-row total joined onto every row.

    Driver state O(partitions); identical result on 1 or 1000 executors
    because step 1 pins the order.
    """
    q = quality_classifier(spark, sf_dir)
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    ranged = q.repartitionByRange(*order).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # pinned: bench repeats and the CLI action's multiple references would
    # otherwise leave one dead cached copy of the scored corpus per call
    local = pin(
        ranged.withColumn("_rn", F.row_number().over(w)).withColumn(
            "_cum_local", F.sum("n_tokens").over(w)
        ),
        "token_budget_ranked",
    )
    counts = local.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum("n_tokens").alias("_tok")
    )
    prior = counts.select(
        F.col("_pid").alias("_ppid"),
        F.col("_cnt").alias("_pcnt"),
        F.col("_tok").alias("_ptok"),
    )
    off = (
        counts.join(prior, F.col("_ppid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            F.coalesce(F.sum("_pcnt"), F.lit(0)).alias("_rank_off"),
            F.coalesce(F.sum("_ptok"), F.lit(0)).alias("_tok_off"),
        )
    )
    # budget from the PERSISTED per-partition totals — hanging it off the
    # raw `q` would re-run the whole tokenize+hash corpus scan a second
    # time just to sum a column the ranged table already holds
    budget = counts.agg(
        F.expr(
            f"(sum(_tok) * {int(budget_num)}) div {int(budget_den)}"
        ).alias("_budget")
    )
    return (
        local.join(F.broadcast(off), "_pid")
        .crossJoin(F.broadcast(budget))
        .withColumn(
            "sel_rank", (F.col("_rn") + F.col("_rank_off")).cast("bigint")
        )
        .withColumn(
            "cum_tokens",
            (F.col("_cum_local") + F.col("_tok_off")).cast("bigint"),
        )
        .filter(F.col("cum_tokens") <= F.col("_budget"))
        .select(
            "doc_id", "n_tokens", "wsum", "score", "sel_rank", "cum_tokens"
        )
    )


#: context-window chunking: 32-token windows, stride 24 (8-token overlap) —
#: the prepare-for-training split applied after packing-length analysis
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_census(
    spark: SparkSession,
    sf_dir: str,
    chunk: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window document chunking census — the context-window split a
    training pipeline applies to long documents (chunk tokens per window,
    chunk-stride overlap so no boundary context is lost).

    Chunk i covers tokens [i*stride, i*stride + chunk); windows start while
    i*stride < n_tokens, so tails shorter than a full chunk are kept (the
    last partial window still trains). Every chunk carries a portable md5
    fingerprint of its joined tokens, so the oracle verifies the chunk
    CONTENT, not just the counts.

    Shape: pure per-row expressions (sequence -> explode -> slice ->
    array_join -> md5), all inside codegen; the explode fan-out is
    ~n_tokens/stride per document. No shuffle at all until the driver
    fetch — at 100 TB this is a map-only stage writing sharded output.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.ceil(n / F.lit(float(stride))).cast("int")
    starts = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    out = docs.select(
        "doc_id", toks.alias("w"), F.explode(starts).alias("i")
    ).select(
        "doc_id",
        F.col("i").cast("bigint").alias("chunk_id"),
        (F.col("i") * stride).cast("bigint").alias("start_tok"),
        F.slice(F.col("w"), F.col("i") * stride + 1, chunk).alias("cw"),
    )
    return out.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size("cw").cast("bigint").alias("chunk_tokens"),
        F.md5(F.array_join("cw", " ")).alias("chunk_fp"),
    )


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal under an add-1-smoothed corpus
    bigram LM — one LM-quality notch above ``unigram_logprob`` (CCNet-style
    filtering ladder: cheap n-gram LM before paying for a real-LM
    perplexity pass). score = mean over the doc's bigrams of
    -ln((c(w1,w2)+1) / (c(w1)+V)), with c(w1) the CONTEXT count (bigrams
    starting at w1) and V the corpus vocabulary size.

    Scale shape: bigrams come from zipping the token array against itself
    shifted by one — a MAP-ONLY derivation (no window sort over positions,
    which would shuffle the whole token stream by doc_id). The bigram and
    context count tables are partial-aggregated (vocab-sized); the score
    join shuffles on (w1, w2) — the one honest data-scale shuffle. V and
    the context counts ride along broadcast. ln() last-ulp noise absorbed
    by round-6, the module's established discipline.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    bg = (
        docs.filter(n >= 2)
        .select("doc_id", F.explode(zipped).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bigram_c = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    context_c = bigram_c.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        docs.select(F.explode(toks).alias("w"))
        .agg(F.count_distinct("w").alias("v"))
    )
    scored = (
        bg.join(bigram_c, ["w1", "w2"])
        .join(F.broadcast(context_c), "w1")
        .join(F.broadcast(vocab))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg(-F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))).alias("raw"),
    )
    return per_doc.select(
        "doc_id", "n_bigrams", F.round("raw", 6).alias("avg_surprisal")
    )


def mixture_temperature(
    spark: SparkSession, sf_dir: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-scaled sampling distribution over (lang, source) groups —
    the multilingual-corpus rebalancing rule (sample group i with
    p_i ∝ share_i^alpha): alpha=1 keeps the natural mix, alpha->0
    approaches uniform, 0.5 is the square-root rule. Companion to
    ``mixture_weights`` (uniform target).

    Oracle determinism: with alpha=0.5, share^alpha ∝ sqrt(n_i). The
    weights are frozen to exact integers — round(sqrt(n_i) * 1e6) — so the
    normalizing sum is an EXACT integer sum (order-free); p and boost are
    then assembled in one mirrored double-expression order. (sqrt is
    IEEE-correctly-rounded; a pow() formulation would not be portable
    bit-for-bit.)

    Scale: one partial-aggregated group census, a 1-row total, broadcast
    back. Nothing data-scale after the first aggregate.
    """
    assert alpha == 0.5, "only the square-root rule is frozen for the oracle"
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = F.round(F.sqrt(F.col("n_docs")) * 1e6).cast("long").alias("w")
    gw = g.select("lang", "source", "n_docs", w)
    tot = gw.agg(
        F.sum("w").alias("w_total"), F.sum("n_docs").alias("corpus_docs")
    )
    j = gw.join(F.broadcast(tot))
    share = F.col("n_docs").cast("double") / F.col("corpus_docs")
    p = F.col("w").cast("double") / F.col("w_total")
    return j.select(
        "lang",
        "source",
        "n_docs",
        share.alias("share"),
        p.alias("p_temp"),
        (
            F.col("w").cast("double")
            / F.col("w_total")
            * F.col("corpus_docs")
            / F.col("n_docs")
        ).alias("boost"),
    )


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: least-squares slope of
    ln(freq) against ln(rank) — the one-row corpus-health diagnostic
    (natural text sits near slope -1; a pile of boilerplate or synthetic
    junk does not).

    Shape: one explode -> vocab-sized count aggregate, a rank window over
    vocab rows with a unique tie-break (count DESC, word), then a 1-row
    regression from sum aggregates. The log sums are order-dependent
    doubles, but with |terms| ~ 1e5 the fold-order error is ~1e-7 —
    absorbed by round-6, the module discipline. At web-corpus vocab sizes
    the rank window would restrict to the top-N words (the fit only needs
    the head); here vocab is small enough to rank exactly.
    """
    from symat_hbase_tools_spark.plans.ranking import global_order_rank

    docs = load_table(spark, sf_dir, "documents")
    vocab = docs.select(F.explode(tokens(F.col("text"))).alias("w")).groupBy(
        "w"
    ).agg(F.count(F.lit(1)).alias("c"))
    # the regression needs log(rank) for EVERY vocab word, so this is a
    # genuine global rank — computed distributed (plans/ranking.py), not
    # with a partition-less row_number window that would sort the whole
    # vocabulary in one task at web-corpus sizes
    ranked, _n = global_order_rank(
        vocab, [F.col("c").desc(), F.col("w").asc()], "rk"
    )
    xy = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (num * num) / (
        den * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("n").alias("n_vocab"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


#: DSIR hashed-feature space: 2 md5 nibbles = 256 buckets, same idiom as
#: the quality classifier (portable: DuckDB md5 is bit-identical), with a
#: distinct salt so the two feature spaces never alias
DSIR_SALT = "dsir1"
DSIR_BUCKETS = 256

#: DSIR selection rate: keep the top 1/5 of documents by importance weight
DSIR_KEEP_DEN = 5


def dsir_select(
    spark: SparkSession, sf_dir: str, target_lang: str = "en"
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    the log importance ratio of a TARGET-domain hashed-unigram model over
    the SOURCE (whole-corpus) model, then keep the top fraction — the
    standard cheap "select pretraining data that looks like the target
    domain" pass.

    Model: tokens hash into ``DSIR_BUCKETS`` md5 buckets; both models are
    add-1-smoothed bucket unigram distributions (target = documents with
    ``lang = target_lang``, source = all documents). Per-bucket log ratio
    ln(p_t[b]) - ln(p_s[b]) is fixed to integer MICROS at the 256-row
    weight table (the mixture_temperature discipline), so every per-doc
    score is an EXACT bigint sum — no float accumulation order anywhere.
    Selection ranks on the PER-TOKEN mean log ratio (logw_micros /
    n_tokens): the raw sum carries the smoothing's negative per-token
    bias times length, so it degenerates into shortest-doc selection
    (measured: en share of the top fifth 0.48 raw vs 0.50 normalized at
    sf0.001); the mean is the per-token cross-entropy difference, the
    length-debiased quantity. The division is a double over two
    identical bigints — IEEE division is correctly rounded, so the order
    is still bit-stable cross-engine (the token_budget_select argument).
    Deterministic greedy top-k with doc_id tie-break stands in for the
    paper's Gumbel-noised sampling (noise would un-oracle the op; the
    ranking is the engine-relevant part).

    Scale shape: one exploded token scan feeds ONE 256-row aggregate
    (count + conditional count per bucket — partial-agg'd map-side); the
    weight table and its totals are broadcast; per-doc scores are one
    doc-keyed shuffle with map-side combine; selection rank comes from
    the distributed ranking machinery (plans/ranking.py), never a
    single-partition window. At 100 TB: two data-scale shuffles (explode
    is map-only), both uniformly keyed.

    Output: (doc_id, lang, n_tokens, logw_micros, lw_per_token,
    selected) for every document with >= 1 token; selected = rank <=
    floor(n_docs / 5) under (lw_per_token DESC, doc_id) order.
    """
    from symat_hbase_tools_spark.plans.partitioning import fanout
    from symat_hbase_tools_spark.plans.ranking import global_order_rank

    docs = fanout(spark, load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    toks = toks.withColumn(
        "h", F.md5(F.concat_ws("\x1f", F.lit(DSIR_SALT), F.col("term")))
    )
    nib1 = F.expr(f"instr('{_HEX16}', substr(h, 1, 1)) - 1")
    nib2 = F.expr(f"instr('{_HEX16}', substr(h, 2, 1)) - 1")
    tok_b = toks.select(
        "doc_id",
        "lang",
        (nib1 * 16 + nib2).cast("int").alias("bucket"),
    )

    # 256-row model table in ONE pass: source count + target count per
    # bucket (count_if keeps it a single aggregate, no second scan)
    cnt = tok_b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.count_if(F.col("lang") == target_lang).alias("c_t"),
    )
    tot = cnt.agg(
        F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
    )
    b = F.lit(DSIR_BUCKETS)
    lw = (
        F.log((F.col("c_t") + 1) / (F.col("n_t") + b))
        - F.log((F.col("c_s") + 1) / (F.col("n_s") + b))
    )
    weights = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket", F.round(lw * 1e6).cast("bigint").alias("lw_micros")
    )

    per_doc = (
        tok_b.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.first("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lw_micros").alias("logw_micros"),
        )
    )
    per_doc = per_doc.withColumn(
        "lw_per_token",
        F.col("logw_micros").cast("double") / F.col("n_tokens"),
    )
    ranked, n_docs = global_order_rank(
        per_doc,
        [(-F.col("lw_per_token")).alias("_negw"), F.col("doc_id")],
        "_dsir_rank",
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        "logw_micros",
        "lw_per_token",
        (F.col("_dsir_rank") <= F.floor(n_docs / DSIR_KEEP_DEN)).alias(
            "selected"
        ),
    )


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document with the corpus bigram LM (``bigram_surprisal`` — the cheap
    n-gram stand-in for CCNet's KenLM pass), then split EACH LANGUAGE
    into equal head/middle/tail thirds by ascending surprisal — the
    classic "train on head+middle, drop tail" quality gate, language-
    stratified so low-resource languages are never filtered against the
    dominant language's fluency scale.

    Determinism: buckets cut by per-language RANK (ntile semantics), not
    by percentile VALUES — a value cut interpolates floats and goes
    boundary-unstable cross-engine; a rank cut over the total order
    (score_micros, doc_id) is exact integer arithmetic end-to-end
    (score_micros = round-6 surprisal in micros, the module's established
    float fixpoint).

    Scale shape: the LM's shuffles (bigram_surprisal), one doc-keyed join
    to re-attach lang, ONE distributed global rank over
    (lang, score_micros, doc_id) with broadcast per-language offsets and
    counts (curriculum_order's idiom — never a PARTITION BY lang window,
    which would funnel each language through one task).

    Output: (doc_id, lang, n_bigrams, avg_surprisal, ppl_bucket) for
    every document with >= 1 bigram; ppl_bucket in head/middle/tail.
    """
    from symat_hbase_tools_spark.plans.ranking import (
        global_order_rank,
        ntile_from_rank,
    )

    scores = bigram_surprisal(spark, sf_dir).withColumn(
        "score_micros", F.round(F.col("avg_surprisal") * 1e6).cast("bigint")
    )
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = scores.join(langs, "doc_id")

    ranked, _n = global_order_rank(
        scored,
        [F.col("lang"), F.col("score_micros"), F.col("doc_id")],
        "g_rank",
    )
    per_lang = ranked.groupBy("lang").agg(
        F.min("g_rank").alias("rk0"), F.count(F.lit(1)).alias("n_lang")
    )
    with_rank = ranked.join(F.broadcast(per_lang), "lang").withColumn(
        "lang_rank", (F.col("g_rank") - F.col("rk0") + F.lit(1)).cast("bigint")
    )
    tercile = ntile_from_rank(F.col("lang_rank"), F.col("n_lang"), 3)
    bucket = (
        F.when(tercile == 1, "head")
        .when(tercile == 2, "middle")
        .otherwise("tail")
    )
    return with_rank.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "avg_surprisal",
        bucket.alias("ppl_bucket"),
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-fertility census — the multilingual-tokenizer
    diagnostic (fertility = subword tokens per word; bytes per subword
    token): a language whose fertility is far above the corpus norm is
    poorly served by the tokenizer and burns context length, the standard
    argument for vocabulary rebalancing (e.g. the XLM-R / NLLB analyses).
    Subword counts use the repo's BPE stand-in (``bpe_ish_token_count``).

    Exactness: all three sums (words, subword tokens, UTF-8 bytes) are
    bigint aggregates of per-doc bigints; the two ratios are double
    divisions of identical bigints — bit-stable cross-engine. Shape: one
    map-only projection (the HOF stays in a Project, never a Filter) +
    one language-keyed partial aggregate; at 100 TB the exchange carries
    languages x tasks rows.

    Output: (lang, n_docs, n_words, n_subtokens, n_bytes, fertility,
    bytes_per_subtoken) for documents with >= 1 word.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        token_count(F.col("text")).alias("n_w"),
        bpe_ish_token_count(F.col("text")).alias("n_s"),
        F.octet_length(F.col("text")).cast("bigint").alias("n_b"),
    ).filter(F.col("n_w") >= 1)
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_w").alias("n_words"),
        F.sum("n_s").alias("n_subtokens"),
        F.sum("n_b").alias("n_bytes"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_subtokens",
        "n_bytes",
        (F.col("n_subtokens").cast("double") / F.col("n_words")).alias(
            "fertility"
        ),
        (F.col("n_bytes").cast("double") / F.col("n_subtokens")).alias(
            "bytes_per_subtoken"
        ),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY under first-occurrence attribution —
    the corpus-diversity / memorization-risk diagnostic: every distinct
    shingle is attributed to the document where it first appears (min
    doc_id — the standard "first writer owns it" convention of streaming
    dedup ledgers), and a document's novelty is the share of its
    distinct shingles it owns. Boilerplate-heavy or near-duplicate
    documents score near 0; the corpus's genuinely new text scores near
    1. The aggregate novelty curve is what "we are running out of new
    tokens" analyses plot over crawl snapshots.

    Exactness: counts and first-owner ids are integers; the ratio is one
    double division of identical bigints (bit-stable cross-engine).

    Scale shape: one (shingle-key) aggregate finds each shingle's owner
    (partial map-side combine on xxhash64 longs; its output exchange is
    reused as the join's build-side distribution), the probe side pays
    one shuffle on the same uniformly-distributed long key, then one
    doc-keyed count aggregate. No skew pressure: the owner table has
    exactly one row per distinct shingle however hot the shingle is.

    Output: (doc_id, n_shingles, n_owned, novelty) for documents with
    >= 1 shingle.
    """
    from symat_hbase_tools_spark.operators.dedup import _doc_shingles

    from symat_hbase_tools_spark.functions.text import shingle_hashes

    sh = _doc_shingles(spark, sf_dir, n).select(
        "doc_id", F.explode(shingle_hashes(F.col("sh"))).alias("s")
    )
    owner = sh.groupBy("s").agg(F.min("doc_id").alias("owner_doc"))
    per_doc = (
        sh.join(owner, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_if(F.col("owner_doc") == F.col("doc_id")).alias(
                "n_owned"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_owned",
        (F.col("n_owned").cast("double") / F.col("n_shingles")).alias(
            "novelty"
        ),
    )


def pmi_collocations(
    spark: SparkSession, sf_dir: str, min_count: int = 5, top_k: int = 200
) -> DataFrame:
    """Top adjacent-word collocations by pointwise mutual information —
    the classic phrase-mining pass (Church & Hanks 1990; the same statistic
    word2vec-phrases/Gensim use to merge "new york" into one token before
    training). High-PMI pairs are candidates for tokenizer merges and for
    template/boilerplate discovery.

    PMI over the corpus bigram-event space: for an adjacent pair (w1, w2),
    pmi = ln(c12 * N / (cl(w1) * cr(w2))) with c12 the pair count, N total
    bigrams, cl/cr the left/right marginal counts (bigrams with w1 /
    w2 in that slot). min_count prunes noise pairs; output is the top_k by
    (rounded pmi desc, w1, w2) — a TOTAL order, so the cut is
    deterministic cross-engine.

    Scale shape: bigrams derive MAP-ONLY from the token array (the
    ``bigram_surprisal`` zip idiom — no position window); pair counts are
    one partial-aggregated shuffle on (w1, w2); marginals re-aggregate the
    REDUCED pair table and join back broadcast (vocab-scale, never
    corpus-scale). The final top-k is a TakeOrdered over the pruned
    vocab^2-bounded table — a distributed heap, not a single-partition
    sort. All counts exact integers; ln at the very end, round(6) before
    ranking so a sub-ulp libm drift cannot flip the cut (the module's
    established discipline).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )
    bg = (
        docs.filter(n >= 2)
        .select(F.explode(zipped).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    left = pairs.groupBy("w1").agg(F.sum("c12").alias("cl"))
    right = pairs.groupBy("w2").agg(F.sum("c12").alias("cr"))
    total = pairs.agg(F.sum("c12").alias("nn"))
    scored = (
        pairs.filter(F.col("c12") >= int(min_count))
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("nn").cast("double")
                    / (F.col("cl").cast("double") * F.col("cr").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(int(top_k))


def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution Shannon entropy — the repetitiveness
    signal quality filters threshold on (a keyboard-mash or template-loop
    document has low entropy for its length; Gopher-style pipelines cut
    on exactly this family). Complements ``text_repetition_signals``
    (top-n-gram share) with the full-distribution statistic.

    entropy = -sum_w (c_w/n) ln(c_w/n) over the doc's token counts, in
    nats; norm_entropy = entropy / ln(n_distinct) in [0, 1] (1 = all
    distinct words equally frequent; NULL when n_distinct = 1 — a
    one-word-vocabulary doc has no scale to normalize against).

    Determinism: c_w and n are exact integers; entropy is assembled as
    (ln(n) - sum(c ln c)/n) — ONE floating sum of per-word exact-integer
    ln terms... but floating SUMS are order-sensitive cross-engine, so the
    per-word terms are rounded to exact 1e-9 grid integers first and
    summed as BIGINTs (the module's exact-integer-sum discipline for
    order-free cross-engine totals); the final assembly mirrors the
    oracle's expression order. round(6) output.

    Scale shape: explode -> (doc_id, word) partial-aggregated count ->
    (doc_id) aggregate. Two shuffles, both keyed on doc_id+word then
    doc_id; no window, no array re-assembly.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # per-word term c*ln(c) on the exact 1e-9 grid -> BIGINT (order-free sum)
    term = F.round(
        F.col("c").cast("double") * F.log(F.col("c").cast("double")) * 1e9
    ).cast("long")
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(term).alias("clnc_1e9"),
    )
    entropy = F.log(F.col("n_tokens").cast("double")) - (
        F.col("clnc_1e9").cast("double") / 1e9
    ) / F.col("n_tokens").cast("double")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.round(entropy, 6).alias("entropy"),
        F.round(
            F.when(
                F.col("n_distinct") > 1,
                entropy / F.log(F.col("n_distinct").cast("double")),
            ),
            6,
        ).alias("norm_entropy"),
    )
