#!/usr/bin/env python
"""Engine benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <dir>}

Each query is timed over full materialization (Arrow-batched toPandas — the
same rows a real client would pull, minus the row-at-a-time driver
deserialization tax of .collect()) so lazy plans can't hide work. One tiny
warm-up action runs first so JVM/codegen startup isn't billed to the first
query. The headline `value` is the STEADY-STATE total (prepared-plan reuse,
best of 2 warm runs); `cold_total_sec`/`cold_queries` report the
first-invocation times including per-plan construction+analysis, so both
regimes are visible. Run `python bench.py --baseline` to time the same
queries on DuckDB (the BASELINE.md numbers).

`--only q1,q2` re-times just the named queries (engine AND the embedded
DuckDB control, same min-of-N protocol) — the 10-second flagged-list
adjudication path (round-12 verdict ask): a contended-host flag is
adjudicated by whether engine and control moved TOGETHER on the idle
re-time. Accepts any registry query, not just headline members.
--only runs never overwrite BENCH_DETAIL.json (they are adjudications,
not official records).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

#: headline set — every category of the engine exercised at bench scale
HEADLINE = [
    "kv_audit_report",
    "kv_latest_version",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "min_cost_supplier",
    "market_share",
    "top_parts_per_brand",
    "customer_order_deltas",
    "purchase_attribution",
    "kv_repair_replica",
    "events_hourly",
    "events_sessionize",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "doc_dedup_clusters",
    "doc_dup_spans",
    "doc_contamination",
    "doc_pack_sequences",
    "knn_cosine_topk",
    "text_quality_score",
    "text_token_stats",
    "multimodal_features",
    "multimodal_resize_census",
    "q18_large_volume_customers",
    "q19_disjunctive_revenue",
    "price_quantity_stats",
    "text_repetition_signals",
    "doc_shuffle_assign",
    # round-3 operators
    "bpe_pair_stats",
    "text_tfidf_topk",
    "doc_quality_classifier",
    "doc_unimax_resample",
    "doc_dedup_keep_best",
    # round-3: event-time analytics + data quality + LM scoring
    "events_funnel",
    "events_gap_fill",
    "events_ohlc_daily",
    "events_hourly_incremental",
    "events_attribution_decay",
    "orders_profile",
    "referential_integrity_census",
    "text_bigram_surprisal",
    "events_active_users",
    "events_mean_shift",
    "doc_sample_weighted",
    "events_interarrival_histogram",
    "users_rfm_segments",
    "events_type_correlation",
    "users_dn_retention",
    "events_skew_report",
    "orders_equidepth_histogram",
    "events_active_users_approx",
    "text_zipf_fit",
    "dedup_prefix_filter",
    "events_session_paths",
    "events_markov_transitions",
    # round-4: bloom-screened contamination + distributed-rank rewrites are
    # covered by existing entries; the bloom path is its own headline entry
    "doc_contamination_bloom",
    "doc_contamination_overlap",
    "q7_volume_shipping",
    "price_percentiles_exact_rank",
    "orders_zorder_census",
    # round-5: robust-stats + drift data-quality gates
    "orders_price_mad",
    "events_value_drift",
    # round-8: token-budgeted corpus selection + hard-negative mining
    "doc_token_budget_select",
    "embedding_hard_negatives",
    # round-9 operators, seated round 10 (verdict ask #1): preference-pair
    # construction + curriculum ordering get paired bench timings
    "doc_preference_pairs",
    "doc_curriculum_order",
    # round-10 operators: DSIR importance selection + CCNet perplexity
    # buckets + embedding outlier cleaning
    "doc_dsir_select",
    "doc_ccnet_buckets",
    "embedding_outlier_flags",
    "text_tokenizer_fertility",
    "doc_contamination_fuzzy",
    "doc_ngram_novelty",
    "embedding_matryoshka_census",
    "events_ewma",
    "orders_benford",
    "users_cohort_matrix",
    "kv_region_stats",
    "part_affinity_lift",
    # round-11 operators: split-point advisor, seasonal profile/backtest +
    # burst audit, phrase mining + entropy, FD census, containment dedup,
    # binary payload dedup, PQ-ADC serving recall
    "kv_split_points",
    "events_seasonal_hourly",
    "events_seasonal_naive_backtest",
    "events_burst_users",
    "text_pmi_collocations",
    "text_word_entropy",
    "orders_fd_check",
    "doc_containment_pairs",
    "multimodal_payload_dedup",
    "ann_pq_recall_check",
    # late-round-11 operators (headline was frozen at 90 for artifact
    # coherence last round — seated now per the r11 verdict ask #1)
    "kv_salt_census",
    "kv_merge_candidates",
    "customer_abc_analysis",
    "orders_duplicate_payments",
    "lineitem_constraint_check",
    # round-12 operators: perceptual media near-dup, keyless range join +
    # sweep concurrency, kNN probe, hybrid RRF retrieval
    "multimodal_near_dup_check",
    "events_session_window_hits",
    "events_concurrency",
    "embedding_knn_label_vote",
    "doc_hybrid_search_rrf",
    "doc_softdedup_weights",
    "events_percentile_sketch_check",
    "kv_snapshot_manifest",
    # round-13 operators (unigram learn stays out like bpe learn — EM
    # passes are tokenizer TRAINING, not a serving-query shape)
    "doc_max_dup_spans",
    "doc_trim_dup_spans",
    "doc_gopher_quality",
    # round-14 operators (ann_ivfbq_topk stays out like the other ANN topk
    # serving paths — the recall checks carry their claims in the sweeps;
    # unigram sampling is training-time like the learners)
    "doc_max_dup_spans_k8",
    "doc_trim_dup_spans_k8",
    "doc_max_dup_spans_withindoc",
    "doc_dup_span_partners",
    "ann_ivfbq_recall_check",
    "events_heavy_hitters",
    "doc_dup_spans_indexed",
]

#: Names kept (in priority order) when the one-line summary must be
#: truncated to the driver's ~2000-char stdout window. Round-15 verdict:
#: "drop the cheapest until it fits" was noise-ordered, so ~9 sub-0.06 s
#: queries churned in/out of the driver's PERF per-query record every round
#: and were mislabeled dropped_from_bench/new_in_bench. This FIXED list (the
#: 53 queries that survived in BENCH_r15.json, ordered by their committed
#: r15 cost, most expensive first) makes the surviving subset a deterministic
#: function of the query-name set: names not listed here drop first
#: (name-sorted), then listed names drop from the END of this list. The full
#: per-query map is always in BENCH_DETAIL.json and the verbose detail line.
SUMMARY_KEEP = [
    "text_quality_score", "multimodal_features", "doc_gopher_quality",
    "q18_large_volume_customers", "kv_latest_version", "orders_price_mad",
    "dedup_prefix_filter", "doc_containment_pairs", "events_concurrency",
    "events_percentile_sketch_check", "dedup_ngram_jaccard", "customer_order_deltas",
    "doc_trim_dup_spans_k8", "min_cost_supplier", "doc_dsir_select",
    "events_active_users_approx", "kv_repair_replica", "part_affinity_lift",
    "orders_duplicate_payments", "events_sessionize", "knn_cosine_topk",
    "doc_curriculum_order", "price_quantity_stats", "doc_trim_dup_spans",
    "doc_ccnet_buckets", "kv_audit_report", "text_tfidf_topk",
    "purchase_attribution", "events_ewma", "q3_shipping_priority",
    "events_gap_fill", "doc_dedup_keep_best", "doc_hybrid_search_rrf",
    "events_funnel", "dedup_minhash_lsh", "doc_quality_classifier",
    "doc_token_budget_select", "events_hourly_incremental", "text_repetition_signals",
    "events_ohlc_daily", "embedding_hard_negatives", "multimodal_resize_census",
    "doc_max_dup_spans_k8", "events_session_paths", "doc_pack_sequences",
    "events_attribution_decay", "events_hourly", "orders_zorder_census",
    "q1_pricing_summary", "q5_local_supplier_volume", "doc_dup_span_partners",
    "text_token_stats", "events_type_correlation",
]


def run_spark() -> tuple[dict, dict]:
    from symat_hbase_tools_spark import entry as entry_mod
    from symat_hbase_tools_spark.entry import QUERIES, prewarm_fixtures
    from symat_hbase_tools_spark.session import get_spark

    spark = get_spark("symat-bench", cpus=CPUS)
    # warm-up: JVM + codegen + parquet footer caches out of the timings,
    # and one mapInPandas that imports the Arrow-kernel stack so Python
    # worker fork/import cost is session startup, not any one query's work
    spark.range(1000).selectExpr("sum(id)").collect()

    def _np_warm(it):
        import numpy  # noqa: F401 — imported for the worker-pool side effect
        import pandas  # noqa: F401

        yield from it

    spark.range(int(CPUS) * 4).repartition(int(CPUS)).mapInPandas(
        _np_warm, schema="id long"
    ).count()
    QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001").collect()
    # cells fixtures are BENCH INPUTS the testdata doesn't ship (synthesized
    # versioned/corrupted tables) — building them is data prep, billed to
    # setup like testdata generation, not to the first kv query's cold time.
    # The prepared-plan cache is cleared afterwards so every query still
    # pays its own plan construction in the cold pass.
    prewarm_fixtures(spark, SF_DIR)
    entry_mod._PLAN_CACHE.clear()
    spark.catalog.clearCache()

    # Two regimes, both reported:
    #   cold  — first invocation: plan construction (py4j Column trees +
    #           Catalyst analysis, a ~0.3-0.9 s driver-side constant per
    #           fresh plan at any SF) + execution.
    #   value — steady state: prepared-plan reuse (the engine's plan cache,
    #           entry.py) with codegen compiled — the regime a long-lived
    #           query service operates in, and the one that actually
    #           proxies 100 TB efficiency, where execution dwarfs the
    #           per-plan constant. spark.catalog.clearCache() runs BEFORE
    #           EVERY timed repeat so plans that persist() an intermediate
    #           (minhash/ngram shingles, simhash fingerprints, packing)
    #           re-materialize it within the timed action instead of
    #           reusing a previous iteration's blocks — the DuckDB baseline
    #           fully re-executes each repeat, so the engine must too
    #           (within-action reuse stays, matching a materialized CTE).
    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for i in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, SF_DIR).toPandas()
            dt = time.perf_counter() - t0
            if i == 0:
                cold[name] = round(dt, 3)
            else:
                best = min(best, dt)
        timings[name] = round(best, 3)
        print(
            f"# {name}: {timings[name]:.3f}s warm / {cold[name]:.3f}s cold"
            f" ({len(rows)} rows)",
            file=sys.stderr,
        )
    return timings, cold


def run_duckdb_baseline() -> dict:
    import duckdb

    from symat_hbase_tools_spark.entry import ORACLE_SQL

    con = duckdb.connect()
    con.execute(f"SET threads TO {CPUS}")
    tables = (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in ORACLE_SQL:
            continue
        # same steady-state protocol as the engine side: best of 2 repeats
        # (OS page cache + DuckDB object cache warm) so the comparison is
        # warm-vs-warm, not engine-warm-vs-duckdb-cold
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(ORACLE_SQL[name]).fetchall()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# duckdb {name}: {timings[name]:.3f}s", file=sys.stderr)
    return timings


def _parse_only() -> list[str] | None:
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            return [n for n in sys.argv[i + 1].split(",") if n]
        if a.startswith("--only="):
            return [n for n in a.split("=", 1)[1].split(",") if n]
    return None


def main() -> None:
    baseline = "--baseline" in sys.argv
    only = _parse_only()
    if only:
        from symat_hbase_tools_spark.entry import ORACLE_SQL, QUERIES

        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            print(f"error: unknown queries {unknown}", file=sys.stderr)
            sys.exit(1)
        no_ctl = [n for n in only if n not in ORACLE_SQL]
        if no_ctl:
            print(
                f"# note: no DuckDB control for rows-only {no_ctl}",
                file=sys.stderr,
            )
        HEADLINE[:] = only
    if baseline:
        timings = run_duckdb_baseline()
        detail = {
            "metric": "duckdb_baseline_total_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
        }
        summary = dict(detail)
    else:
        timings, cold = run_spark()
        detail = {
            "metric": "bench_total_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "cold_total_sec": round(sum(cold.values()), 3),
            "cold_queries": cold,
            "sf": SF_DIR,
            "cpus": int(CPUS),
        }
        # SAME-SESSION DuckDB control (round-10 lesson: a hot host inflated
        # the r10 artifact 1.5x and cost a regression investigation that
        # adjudicated to noise). Carrying a flat control in the artifact
        # itself makes every future reading self-adjudicating: if engine
        # AND control moved together, it's the host; if only the engine
        # moved, it's the code. Skippable via SPARK_GRAFT_NO_CONTROL=1.
        if os.environ.get("SPARK_GRAFT_NO_CONTROL") != "1":
            try:
                control = run_duckdb_baseline()
            except Exception as exc:  # control is diagnostic, never fatal
                print(f"# duckdb control failed: {exc}", file=sys.stderr)
                control = None
            if control:
                paired = [n for n in timings if n in control]
                ctot = round(sum(control.values()), 3)
                etot = round(sum(timings[n] for n in paired), 3)
                detail["duckdb_control"] = {
                    "total_sec": ctot,
                    "n_paired": len(paired),
                    "paired_engine_total_sec": etot,
                    "engine_over_duckdb": round(etot / ctot, 3) if ctot else None,
                    # watch list: >2x the control AND >=0.3 s absolute (the
                    # r6-adjudicated threshold below which per-query constants
                    # dominate and ratios are noise)
                    "flagged": sorted(
                        n
                        for n in paired
                        if timings[n] >= 0.3 and timings[n] > 2 * control[n]
                    ),
                    "queries": control,
                }
        # The driver records only the LAST ~2000 chars of stdout and parses
        # the final JSON line (round-3 lesson: the one-line-with-everything
        # format outgrew that window and the official record lost the
        # headline — BENCH_r03.json "parsed": null). So: full detail goes
        # to a file + a verbose first line; the LAST line is a compact
        # summary (no cold_queries) guarded to stay inside the window.
        # cpus stays detail-only: the summary line is at its 1900-char budget
        # and 12 more chars of overhead would push the 53rd SUMMARY_KEEP
        # query out of the driver's per-query record
        summary = {
            k: v for k, v in detail.items() if k not in ("cold_queries", "cpus")
        }
        if "duckdb_control" in summary:
            # compact control for the driver's 2000-char stdout window; the
            # per-query control timings live in BENCH_DETAIL.json
            summary["duckdb_control"] = {
                k: v
                for k, v in detail["duckdb_control"].items()
                if k != "queries"
            }
    if not only:  # adjudication runs never overwrite the official record
        repo = os.path.dirname(os.path.abspath(__file__))
        # Only a default-CPU run at the official SF owns the in-place record;
        # a low-core scaling run (round-15 verdict: the driver's
        # SPARK_GRAFT_CPUS=8 pass clobbered BENCH_DETAIL.json and pre-seeded
        # the next round's sidecar with 8-core numbers) or an sf-probe run
        # (the long-standing "git checkout BENCH_DETAIL.json after an sf1
        # probe" gotcha) writes to a suffixed file instead.
        default_cpus = int(CPUS) == (os.cpu_count() or int(CPUS))
        official_sf = os.path.realpath(SF_DIR) == os.path.realpath(
            "/root/testdata/sf0.1"
        )
        # both suffixes when both differ (BENCH_DETAIL_sf1_c8.json): an
        # sf-probe run at a low core count must not clobber the _c{N} record
        detail_name = "BASELINE_DETAIL" if baseline else "BENCH_DETAIL"
        if not official_sf:
            detail_name += "_" + (os.path.basename(os.path.normpath(SF_DIR)) or "probe")
        if not default_cpus:
            detail_name += f"_c{int(CPUS)}"
        detail_name += ".json"
        try:
            with open(os.path.join(repo, detail_name), "w") as f:
                json.dump(detail, f, indent=1)
        except OSError:
            pass
        # round-keyed sidecar (round-13 verdict: BENCH_DETAIL.json is
        # overwritten in place and the driver's BENCH_r{N} tail capture
        # truncates the per-query map — this file is the stable
        # round-over-round per-query record). Round = SPARK_GRAFT_ROUND if
        # set, else one past the newest driver CORRECTNESS artifact.
        # Official-sf runs only: an sf1-probe run must not clobber the
        # round's sf0.1 record (BENCH_DETAIL.json restore already covers
        # the in-place file; this covers the sidecar).
        if not baseline and default_cpus and official_sf:
            rnd = os.environ.get("SPARK_GRAFT_ROUND")
            if not rnd:
                import re as _re

                seen = [
                    int(m.group(1))
                    for fn in os.listdir(repo)
                    for m in [_re.match(r"CORRECTNESS_r(\d+)\.json$", fn)]
                    if m
                ]
                if not seen:
                    rnd = "0"
                else:
                    # the round being MEASURED (round-14 verdict: the
                    # driver writes CORRECTNESS_r{N} BEFORE benching
                    # round N and BENCH_r{N} after, so newest-corr+1
                    # mislabeled the driver's own capture): a missing
                    # BENCH_r{N} for the newest correctness round means
                    # round N is still being measured; both present
                    # means this run is mid round N+1.
                    n = max(seen)
                    done = os.path.exists(
                        os.path.join(repo, f"BENCH_r{n:02d}.json")
                    )
                    rnd = str(n + 1 if done else n)
            try:
                with open(
                    os.path.join(repo, f"BENCH_DETAIL_r{int(rnd):02d}.json"),
                    "w",
                ) as f:
                    json.dump(detail, f, indent=1)
            except (OSError, ValueError):
                pass
    line = json.dumps(summary)
    if len(line) > 1900:
        # deterministic truncation (round-15 verdict ask #1): drop entries in
        # a FIXED order — names outside SUMMARY_KEEP first (name-sorted),
        # then SUMMARY_KEEP names from the end of the list — so the surviving
        # subset is identical round-over-round instead of churning with
        # timing noise. The full dict is always in BENCH_DETAIL.json.
        q = dict(summary.get("queries", {}))
        summary["queries_truncated"] = True
        keep_rank = {n: i for i, n in enumerate(SUMMARY_KEEP)}
        drop_order = sorted(
            (n for n in q if n not in keep_rank), reverse=True
        ) + [n for n in reversed(SUMMARY_KEEP) if n in q]
        for name in drop_order:
            q.pop(name)
            summary["queries"] = q
            line = json.dumps(summary)
            if len(line) <= 1900:
                break
    print(json.dumps(detail))
    print(line)


if __name__ == "__main__":
    main()
