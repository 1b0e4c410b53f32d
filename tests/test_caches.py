"""Prepared-plan and scan cache invalidation: regenerated testdata (new file
mtimes) must never be served a stale plan, and both caches stay bounded."""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import functions as F

from symat_hbase_tools_spark import entry
from tests.conftest import SF_DIR


def _copy_sf(tmp_path, name="sf"):
    d = str(tmp_path / name)
    os.makedirs(d)
    for f in os.listdir(SF_DIR):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SF_DIR, f), os.path.join(d, f))
    return d


def test_plan_cache_invalidates_on_regenerated_testdata(spark, tmp_path):
    d = _copy_sf(tmp_path)
    q = entry.QUERIES["q1_pricing_summary"]
    df1 = q(spark, d)
    assert q(spark, d) is df1, "same (session, query, sf_dir, mtime) must hit"
    # regenerate one table: halve lineitem
    li_path = os.path.join(d, "lineitem.parquet")
    half = spark.read.parquet(li_path).filter(F.col("l_orderkey") % 2 == 0)
    tmp_out = str(tmp_path / "li_new")
    half.coalesce(1).write.parquet(tmp_out)
    part = [f for f in os.listdir(tmp_out) if f.endswith(".parquet")][0]
    shutil.rmtree(li_path) if os.path.isdir(li_path) else os.remove(li_path)
    shutil.copy(os.path.join(tmp_out, part), li_path)
    os.utime(li_path)  # ensure a fresh mtime even on coarse filesystems
    df2 = q(spark, d)
    assert df2 is not df1, "regenerated testdata must miss the plan cache"
    assert df2.count() > 0  # the fresh plan executes against the new file


def test_plan_cache_bounded(spark, tmp_path):
    entry._PLAN_CACHE.clear()
    entry._PLAN_CACHE.update(
        {("fake", i): None for i in range(entry._PLAN_CACHE_MAX)}
    )
    q = entry.QUERIES["q1_pricing_summary"]
    q(spark, SF_DIR)
    assert len(entry._PLAN_CACHE) <= entry._PLAN_CACHE_MAX
    entry._PLAN_CACHE.clear()


def _load_bench():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE name must be a registered query (a typo here
    would fail the per-round bench artifact, not CI, without this guard) and
    oracle-paired (the embedded DuckDB control times the same names)."""
    bench = _load_bench()
    from symat_hbase_tools_spark.entry import ORACLE_SQL, QUERIES

    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert missing == [], missing
    unpaired = [n for n in bench.HEADLINE if n not in ORACLE_SQL]
    assert unpaired == [], unpaired
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)


def test_bench_summary_keep_names_resolve():
    """Every bench.py SUMMARY_KEEP name must be a registered query, listed
    once: the fixed truncation order silently skips a typo or a retired
    name, and a duplicate shifts every later name's priority."""
    bench = _load_bench()
    from symat_hbase_tools_spark.entry import QUERIES

    missing = [n for n in bench.SUMMARY_KEEP if n not in QUERIES]
    assert missing == [], missing
    assert len(set(bench.SUMMARY_KEEP)) == len(bench.SUMMARY_KEEP)


#: a shingle df cap below sf0.001's 500 documents: the cap can bind, so the
#: dedup pair operators run the hot-shingle census and its
#: ``intersection_pairs`` pin (at the default cap they pin nothing)
CENSUS_CAP = 100


def test_dedup_pin_hygiene_bounded(spark):
    """Serve-many hygiene (round 16): repeated dedup-operator calls keep at
    most ONE outstanding pinned table per pin site — previous calls' pins
    are released at the site before the new pin (plans/serve_cache.py)."""
    from symat_hbase_tools_spark.operators import dedup
    from symat_hbase_tools_spark.plans.serve_cache import outstanding

    for _ in range(3):
        dedup.ngram_jaccard_pairs(spark, SF_DIR, max_shingle_df=CENSUS_CAP).collect()
        dedup.containment_pairs(spark, SF_DIR, max_shingle_df=CENSUS_CAP).collect()
    pins = outstanding()
    assert "intersection_pairs" in pins, "expected pinned slots to be registered"
    for slot, n in pins.items():
        assert n <= 1, (
            f"slot {slot!r} accumulated {n} pins — release-"
            "before-pin hygiene broken"
        )


def test_shared_plan_pin_release_keeps_pushdown_barrier(spark):
    """Round-16 regression (caught by the HOF plan gate): several operators
    pin the SAME shared subplan (_doc_shingles serves the contamination
    family AND incremental_dedup), and Spark's CacheManager matches entries
    by analyzed plan — so releasing another operator's pin removed the
    InMemoryRelation pushdown barrier and Catalyst re-inlined the
    interpreted shingle HOF into a Filter (double-eval class). The pin-site
    release-then-repin discipline must keep the barrier intact for a plan
    built before the other operator ran."""
    from symat_hbase_tools_spark.operators import contamination, dedup
    from symat_hbase_tools_spark.plans.explain import assert_no_hof_in_filters

    df = contamination.contamination_overlap_census(spark, SF_DIR)
    # a different operator re-pinning the same shingle subplan must not
    # strip df's barrier (the old entry-point release did exactly that)
    dedup.incremental_dedup(spark, SF_DIR).collect()
    assert_no_hof_in_filters(df)
    assert df.count() > 0


def _has_cached_data(df) -> bool:
    return "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()


def test_pin_refcount_keeps_shared_plan_cached(spark):
    """Spark's CacheManager keys entries by analyzed plan, so two sites that
    pin the same plan share ONE entry: re-pinning one site must not drop the
    entry the other site still holds (that would strip its pushdown
    barrier). The last holder's release unpersists it."""
    from symat_hbase_tools_spark.plans.serve_cache import outstanding, pin

    def shared():
        return spark.range(50).selectExpr("id * 7 AS x")

    # (plans are checked only after the re-pin: a DataFrame memoizes its
    # cache-substituted plan the first time it is planned)
    pin(shared(), "refcount_test_a")
    b = pin(shared(), "refcount_test_b")
    pin(spark.range(3), "refcount_test_a")
    assert _has_cached_data(b), "re-pinning site A dropped site B's entry"
    assert _has_cached_data(shared())
    assert b.count() == 50
    # B is now the last holder: re-pinning it releases the shared entry
    pin(spark.range(4), "refcount_test_b")
    assert not _has_cached_data(shared())
    pins = outstanding()
    assert pins["refcount_test_a"] == pins["refcount_test_b"] == 1


def test_serve_many_pins_bounded_across_families(spark, tmp_path):
    """Every pin family stays bounded in a long-lived session: three rounds
    of one pinning operator per module, each result collected, hold at most
    one pin per site, and the SparkContext's persistent RDDs do not grow
    between the second and the third round. Each round reads its own copy
    of the tables, so every call pins a NEW plan (re-persisting an
    identical plan is a CacheManager no-op and could not show a leak)."""
    from symat_hbase_tools_spark.operators import (
        contamination,
        dedup,
        multimodal,
        rangejoin,
        text_analysis,
        timeseries,
    )
    from symat_hbase_tools_spark.plans.serve_cache import outstanding

    ops = [
        functools.partial(dedup.ngram_jaccard_pairs, max_shingle_df=CENSUS_CAP),
        timeseries.events_gap_fill,
        text_analysis.bm25_search,
        text_analysis.token_budget_select,
        multimodal.multimodal_near_dup,
        rangejoin.events_session_window_hits,
        contamination.benchmark_contamination_fuzzy,
    ]
    persistent = []
    for r in range(3):
        sf = _copy_sf(tmp_path, f"sf{r}")
        for op in ops:
            op(spark, sf).collect()
        persistent.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    pins = outstanding()
    for site in (
        "intersection_pairs",
        "gapfill_hourly",
        "bm25_doclen",
        "token_budget_ranked",
        "phash_fps",
        "session_intervals",
        "contamination_fuzzy_hashed",
    ):
        assert pins.get(site) == 1, (site, pins)
    assert all(n <= 1 for n in pins.values()), pins
    assert persistent[2] <= persistent[1], persistent


def test_no_hand_rolled_pin_registries():
    """One pin facility: outside plans/serve_cache.py no module may define
    its own ``_pin``, call ``release_all``, or keep a module-level
    ``*_CACHES`` / ``*_PERSIST_CACHE`` persist registry."""
    import re

    import symat_hbase_tools_spark

    root = os.path.dirname(symat_hbase_tools_spark.__file__)
    allowed = os.path.join(root, "plans", "serve_cache.py")
    banned = re.compile(
        r"^[ \t]*def _pin\(|\brelease_all\b|^\w*(_CACHES|_PERSIST_CACHE)\s*[:=]",
        re.M,
    )
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == allowed:
                continue
            with open(path) as fh:
                src = fh.read()
            offenders += [
                f"{os.path.relpath(path, root)}: {m.group(0).strip()}"
                for m in banned.finditer(src)
            ]
    assert offenders == [], offenders
