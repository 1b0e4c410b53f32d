"""CLI entry points mirroring the reference tools' flags.

  copy-row     — /root/reference/.../CopyRow.java usage (lines 45-56 / 70-79):
                 reference-exact spellings --sourceTable --destTable
                 --rowKeyByteString --override <true|false>
                 --timestampToUse are accepted verbatim, alongside the
                 engine's own --destinationTable/--rowKey/--timestamp
                 aliases and bare store-true --override.
  corrupt-rows — CorruptRowsMR.java usage (lines 187-196 / 205-214):
                 --table, --output (reference-exact) / --outputDir alias,
                 --traceCells <true|false> (value optional).

Table arguments accept logical ``ns:table`` names (``CorruptRowsMR.java:191``,
``TableName.valueOf`` in ``CopyRow.java:107``) resolved through
``sources/catalog.py`` — the twin of the namespace handling MRUtil.java
exists to fix — as well as plain paths.

Improvement over the reference: errors propagate as a nonzero exit code
instead of being swallowed (CopyRow.java:145-147 logs and returns normally).

Tables are parquet-backed cells directories in this environment; against a
real cluster the same flags resolve through sources/hbase.py.
"""

from __future__ import annotations

import argparse
import sys

from symat_hbase_tools_spark.functions.bytes_binary import to_bytes_binary
from symat_hbase_tools_spark.operators.audit import audit, counters_of, write_report_tsv
from symat_hbase_tools_spark.operators.copy_row import copy_row, copy_row_in_place
from symat_hbase_tools_spark.session import get_spark
from symat_hbase_tools_spark.sources.catalog import (
    overwrite_table_in_place,
    resolve_table,
)
from symat_hbase_tools_spark.sources.io import read_cells


def _parse_bool(v) -> bool:
    """``Boolean.parseBoolean`` semantics (CopyRow.java:77): case-insensitive
    "true" is True, everything else — including "false", "1", garbage — is
    False. A bare flag (argparse const) arrives as True already."""
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() == "true"


def _write_trimmed_corpus(docs, trimmed, output: str) -> None:
    """Rejoin a span-trim result to its corpus, write the trimmed corpus,
    and print the DOCS_TOTAL/DOCS_TRIMMED/TOKENS_REMOVED counters — the
    output contract shared by ``trim-spans`` and ``span-index --action
    trim``."""
    from pyspark.sql import functions as F

    cols = docs.columns
    out = (
        docs.drop("text", "n_chars")
        .join(
            trimmed.select("doc_id", "n_removed", "trimmed_text"),
            "doc_id",
        )
        .withColumn("text", F.col("trimmed_text"))
        .withColumn("n_chars", F.length("text").cast("long"))
        .select(*cols, "n_removed")
    )
    out.drop("n_removed").write.mode("overwrite").parquet(output)
    stats = out.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("n_removed") > 0, 1)).alias("touched"),
        F.sum("n_removed").alias("removed"),
    ).collect()[0]
    print(
        f"DOCS_TOTAL={stats['total']} DOCS_TRIMMED={stats['touched']} "
        f"TOKENS_REMOVED={stats['removed']}"
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="symat-spark")
    sub = parser.add_subparsers(dest="tool", required=True)

    cp = sub.add_parser("copy-row", help="copy one row between cells tables")
    cp.add_argument("--sourceTable", required=True)
    # reference spelling --destTable (CopyRow.java:72) + engine alias
    cp.add_argument("--destinationTable", "--destTable", dest="destinationTable", required=True)
    # reference spelling --rowKeyByteString (CopyRow.java:74) + engine alias
    cp.add_argument(
        "--rowKey", "--rowKeyByteString", dest="rowKey", required=True,
        help="toBytesBinary-escaped key",
    )
    # reference form is `--override <true|false>` (CopyRow.java:76-77);
    # nargs="?" keeps the engine's bare store-true form working too
    cp.add_argument(
        "--override", nargs="?", const=True, default=False,
        help="rewrite cell timestamps (true|false; bare flag = true)",
    )
    # reference spelling --timestampToUse (CopyRow.java:78) + engine alias
    cp.add_argument(
        "--timestamp", "--timestampToUse", dest="timestamp", type=int, default=None,
        help="epoch millis for --override",
    )
    cp.add_argument(
        "--output", default=None,
        help="path for the updated dest cells (default: rewrite the "
        "destination table in place, like the reference)",
    )

    cr = sub.add_parser("corrupt-rows", help="row-integrity audit")
    cr.add_argument("--table", required=True)
    # reference spelling --output (CorruptRowsMR.java:210) + engine alias
    cr.add_argument("--outputDir", "--output", dest="outputDir", required=True)
    # reference form is `--traceCells <true|false>` (CorruptRowsMR.java:213)
    cr.add_argument(
        "--traceCells", nargs="?", const=True, default=False,
        help="log failing cells, true|false (never in prod)",
    )

    rp = sub.add_parser(
        "repair", help="make a replica cells table match an authoritative one"
    )
    rp.add_argument("--authoritativeTable", required=True)
    rp.add_argument("--replicaTable", required=True)
    rp.add_argument("--output", required=True, help="path for the repaired cells")
    rp.add_argument(
        "--repairTimestamp",
        type=int,
        default=None,
        help="epoch millis for repair versions (default: now, like CopyRow)",
    )

    cm = sub.add_parser("compact", help="major-compact a cells table")
    cm.add_argument("--table", required=True)
    cm.add_argument("--output", required=True, help="path for the compacted cells")

    sq = sub.add_parser("sql", help="run ad-hoc Spark SQL over the test tables")
    sq.add_argument("--sfDir", default="/root/testdata/sf0.001")
    sq.add_argument("--limit", type=int, default=20, help="rows to display")
    sq.add_argument("--output", default=None, help="optional parquet output path")
    sq.add_argument("statement", help="SQL over tables region/nation/.../embeddings")

    dd = sub.add_parser(
        "dedup", help="write a deduplicated documents corpus (the pipeline action)"
    )
    dd.add_argument("--sfDir", default="/root/testdata/sf0.001")
    dd.add_argument(
        "--method",
        choices=["exact", "minhash", "ngram", "containment"],
        default="minhash",
        help="exact = normalized-md5; minhash/ngram = near-dup clusters, "
        "keep min doc_id; containment = drop the SMALLER doc of each "
        "high-containment pair (quote/subset subsumption)",
    )
    dd.add_argument("--output", required=True, help="parquet path for survivors")

    tsp = sub.add_parser(
        "trim-spans",
        help="write a corpus with maximal duplicated spans trimmed "
        "(the Lee et al. 2022 exact-substring-dedup pipeline action)",
    )
    tsp.add_argument("--sfDir", default="/root/testdata/sf0.001")
    tsp.add_argument(
        "--minSpan",
        type=int,
        default=20,
        help="window size k — only verbatim cross-document spans of >= k "
        "tokens are detected and trimmed",
    )
    tsp.add_argument(
        "--withinDoc",
        action="store_true",
        help="also trim spans repeated ONLY inside one document (the full "
        "Lee et al. self-repeat criterion; default trims cross-document "
        "sharing only)",
    )
    tsp.add_argument("--output", required=True, help="parquet path for the trimmed corpus")

    si = sub.add_parser(
        "span-index",
        help="build a persisted window-hash index over a corpus, or trim "
        "a batch of documents against it (incremental exact-substring "
        "dedup: the corpus is never rescanned)",
    )
    si.add_argument(
        "--action", choices=["build", "append", "trim"], required=True
    )
    si.add_argument(
        "--sfDir",
        default="/root/testdata/sf0.001",
        help="corpus table dir (build) or batch table dir (append/trim); "
        "append merges the batch's window hashes into the index in place "
        "(batch doc ids must be new to the index — nightly-crawl contract)",
    )
    si.add_argument("--indexDir", required=True)
    si.add_argument(
        "--minSpan",
        type=int,
        default=20,
        help="window size k recorded in the index (build only; trim reads "
        "k from the index meta)",
    )
    si.add_argument(
        "--assumeNew",
        action="store_true",
        help="treat the batch as disjoint from the indexed corpus (any "
        "indexed occurrence counts; default excludes each batch doc's own "
        "indexed windows by id)",
    )
    si.add_argument(
        "--output", default=None, help="trimmed batch path (trim only)"
    )

    dc = sub.add_parser(
        "decontaminate",
        help="drop benchmark-contaminated docs and write the clean corpus",
    )
    dc.add_argument("--sfDir", default="/root/testdata/sf0.001")
    dc.add_argument(
        "--minOverlap",
        type=int,
        default=5,
        help="min shared shingles with the benchmark set to drop a doc",
    )
    dc.add_argument(
        "--benchmarkMod",
        type=int,
        default=50,
        help="benchmark subset = doc_id %% mod == 0 (stand-in for an eval list)",
    )
    dc.add_argument(
        "--method",
        choices=["exact", "bloom"],
        default="exact",
        help="exact shingle join, or bloom bitmap screen + exact verify",
    )
    dc.add_argument("--output", required=True, help="parquet path for the clean corpus")

    bt = sub.add_parser(
        "bpe-train", help="learn a BPE merge table over the documents corpus"
    )
    bt.add_argument("--sfDir", default="/root/testdata/sf0.001")
    bt.add_argument("--merges", type=int, default=8, help="number of merges to learn")
    bt.add_argument("--output", required=True, help="TSV path for the merge table")

    tk = sub.add_parser(
        "tokenize", help="write the BPE-tokenized corpus (doc_id, n_tokens, tokens)"
    )
    tk.add_argument("--sfDir", default="/root/testdata/sf0.001")
    tk.add_argument("--merges", type=int, default=8, help="merge-table size to learn")
    tk.add_argument("--output", required=True, help="parquet path for tokenized docs")

    pk = sub.add_parser(
        "pack", help="write the packed-sequence assignment under a token budget"
    )
    pk.add_argument("--sfDir", default="/root/testdata/sf0.001")
    pk.add_argument("--budget", type=int, default=2048, help="tokens per sequence")
    pk.add_argument("--output", required=True, help="parquet path for the assignment")

    rs = sub.add_parser(
        "resample",
        help="write a UniMax per-domain budget-resampled documents corpus",
    )
    rs.add_argument("--sfDir", default="/root/testdata/sf0.001")
    rs.add_argument("--groupBy", default="source", help="domain column")
    rs.add_argument(
        "--budgetFrac", type=float, default=0.5, help="overall token budget fraction"
    )
    rs.add_argument("--output", required=True, help="parquet path for kept docs")

    ch = sub.add_parser(
        "chunk", help="write the sliding-window chunked corpus (context-window split)"
    )
    ch.add_argument("--sfDir", default="/root/testdata/sf0.001")
    ch.add_argument("--output", required=True, help="parquet path for chunk census")

    se = sub.add_parser(
        "select",
        help="write the token-budgeted training corpus (greedy quality "
        "prefix under budget = total_tokens * num/den)",
    )
    se.add_argument("--sfDir", default="/root/testdata/sf0.001")
    se.add_argument("--budgetNum", type=int, default=1, help="budget numerator")
    se.add_argument("--budgetDen", type=int, default=2, help="budget denominator")
    se.add_argument("--output", required=True, help="parquet path for selected docs")

    cu = sub.add_parser(
        "curate",
        help="write a quality-curated documents corpus (ccnet = per-"
        "language perplexity buckets, keep head/middle by default; "
        "dsir = importance selection toward a target language)",
    )
    cu.add_argument("--sfDir", default="/root/testdata/sf0.001")
    cu.add_argument("--method", choices=["ccnet", "dsir"], default="ccnet")
    cu.add_argument(
        "--keepBuckets",
        default="head,middle",
        help="ccnet: comma-separated subset of head,middle,tail to keep. "
        "Docs with no perplexity score (fewer than 2 words) have no "
        "bucket: they are dropped unless ALL THREE buckets are "
        "requested, in which case they are kept with NULL score "
        "columns. dsir likewise drops 0-token docs (unscorable).",
    )
    cu.add_argument(
        "--targetLang", default="en", help="dsir: target-domain language"
    )
    cu.add_argument("--output", required=True, help="parquet path for kept docs")

    dv = sub.add_parser(
        "select-diverse",
        help="greedy k-center (farthest-point) diversity selection over "
        "the embedding corpus — the coverage-maximizing subset where "
        "PPS/stratified sampling would oversample dense regions",
    )
    dv.add_argument("--sfDir", default="/root/testdata/sf0.001")
    dv.add_argument("--k", type=int, default=8)
    dv.add_argument(
        "--output",
        required=True,
        help="parquet path for (rank, vec_id, sel_dist)",
    )

    mn = sub.add_parser(
        "mine-negatives",
        help="write contrastive hard negatives: top-k most-similar "
        "different-label vectors per query (exact below 1M vectors, "
        "label-masked LSH above)",
    )
    mn.add_argument("--sfDir", default="/root/testdata/sf0.001")
    mn.add_argument("--k", type=int, default=5)
    mn.add_argument(
        "--indexDir",
        default=None,
        help="mine against a persisted label-bearing IVF index instead of "
        "recomputing (the build-once/serve-many shape)",
    )
    mn.add_argument(
        "--vectors",
        default=None,
        help="indexed mining: parquet (or ns:table) of query "
        "(vec_id, embedding, label); default = the sfDir embeddings",
    )
    mn.add_argument(
        "--nProbe", type=int, default=None,
        help="indexed mining: cells probed per query (default cells/4)",
    )
    mn.add_argument("--output", required=True, help="parquet path for (query_id, negative_id, sim)")

    ai = sub.add_parser(
        "ann-index",
        help="build / append to / query a persisted IVF ANN index "
        "(build once, serve many — the >1M-vector regime)",
    )
    ai.add_argument(
        "--action",
        choices=["build", "append", "query", "add-pq", "query-pq", "add-bq", "query-bq"],
        required=True,
        help="add-pq attaches the compressed PQ layer (codebooks + "
        "cell-partitioned codes); query-pq serves from it (ADC scan of "
        "codes only + exact refine). add-bq/query-bq are the 1-bit "
        "sibling (packed sign bits, 16 B/row scan). Re-run add-pq/"
        "add-bq after append.",
    )
    ai.add_argument("--indexDir", required=True, help="index root (centroids/ + assignments/)")
    ai.add_argument("--sfDir", default="/root/testdata/sf0.001",
                    help="build: corpus dir containing embeddings.parquet")
    ai.add_argument("--vectors", default=None,
                    help="append/query: parquet (or ns:table) of (vec_id, embedding)")
    ai.add_argument("--cells", type=int, default=None,
                    help="build: codebook size (default ~sqrt(n))")
    ai.add_argument("--nAssign", type=int, default=3,
                    help="spilled assignment fan-out (recall lever; match on append)")
    ai.add_argument("--nProbe", type=int, default=None,
                    help="query: cells probed per query (default cells/4)")
    ai.add_argument("--k", type=int, default=5)
    ai.add_argument("--output", default=None, help="query: parquet output path")

    sp = sub.add_parser(
        "split-points",
        help="suggest region split keys at a target bytes-per-region "
        "(the actionable output of the region_stats hotspot census)",
    )
    sp.add_argument("--table", required=True, help="cells table (path or ns:table)")
    sp.add_argument(
        "--targetBytes",
        type=int,
        default=10 * 1024 * 1024 * 1024,
        help="target bytes per region (default 10 GiB — HBase-realistic; "
        "use small values on test fixtures)",
    )
    sp.add_argument("--output", help="optional parquet path for the full region report")

    q = sub.add_parser("query", help="run any inventory query against a test-data dir")
    q.add_argument("--name", required=True, help="queries() name, or 'list' to enumerate")
    q.add_argument("--sfDir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20, help="rows to display")
    q.add_argument("--output", default=None, help="optional parquet output path")

    args = parser.parse_args(argv)
    spark = get_spark(f"symat-spark-{args.tool}")
    try:
        if args.tool == "copy-row":
            import time

            key = to_bytes_binary(args.rowKey)
            ts = None
            if _parse_bool(args.override):
                ts = args.timestamp if args.timestamp is not None else int(time.time() * 1000)
            src = read_cells(spark, resolve_table(args.sourceTable))
            same = args.destinationTable == args.sourceTable
            # reference semantics: CopyRow mutates the destination TABLE
            # itself (CopyRow.java:118-131) — no --output flag exists. A
            # region-addressed table rewrites only the key's region.
            n = (
                copy_row_in_place(src, key, ts)
                if same and args.output is None
                else None
            )
            if n is None:
                dst = (
                    src
                    if same
                    else read_cells(spark, resolve_table(args.destinationTable))
                )
                new_dest, n = copy_row(src, dst, key, ts)
                if n and args.output is not None:
                    from symat_hbase_tools_spark.sources.bloom import with_row_bloom

                    with_row_bloom(new_dest.write.mode("overwrite")).parquet(
                        args.output
                    )
                elif n:
                    overwrite_table_in_place(
                        new_dest, resolve_table(args.destinationTable)
                    )
            if n == 0:
                print(f"no data found for row key {args.rowKey!r}; nothing written")
                return 0
            print(f"copied {n} cells of row {args.rowKey!r}")
            return 0
        if args.tool == "repair":
            import time

            from symat_hbase_tools_spark.operators.repair import (
                repair,
                repair_counters,
            )

            ts = (
                args.repairTimestamp
                if args.repairTimestamp is not None
                else int(time.time() * 1000)
            )
            auth = read_cells(spark, resolve_table(args.authoritativeTable))
            replica = read_cells(spark, resolve_table(args.replicaTable))
            repaired, changeset = repair(auth, replica, ts)
            from symat_hbase_tools_spark.sources.bloom import with_row_bloom

            with_row_bloom(repaired.write.mode("overwrite")).parquet(args.output)
            c = repair_counters(changeset).collect()[0]
            print(
                f"RESTORED_CELLS={c['restored']} BACKFILLED_CELLS={c['backfilled']} "
                f"DELETED_CELLS={c['deleted']}"
            )
            n_changes = c["restored"] + c["backfilled"] + c["deleted"]
            return 0 if n_changes == 0 else 2
        if args.tool == "compact":
            from symat_hbase_tools_spark.operators.compaction import (
                major_compact_counted,
            )
            from symat_hbase_tools_spark.sources.bloom import with_row_bloom

            compacted, counters = major_compact_counted(
                read_cells(spark, resolve_table(args.table))
            )
            with_row_bloom(compacted.write.mode("overwrite")).parquet(args.output)
            r = counters.get
            print(
                f"CELLS_BEFORE={r['cells_before']} CELLS_AFTER={r['cells_after']} "
                f"RECLAIMED={r['cells_before'] - r['cells_after']}"
            )
            return 0
        if args.tool == "sql":
            from symat_hbase_tools_spark.sources.tables import register_views

            register_views(spark, args.sfDir)
            df = spark.sql(args.statement)
            df.show(args.limit, truncate=False)
            if args.output:
                df.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}")
            return 0
        if args.tool == "dedup":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators import dedup as dd_ops
            from symat_hbase_tools_spark.operators.clustering import (
                connected_components,
            )
            from symat_hbase_tools_spark.sources.tables import load_table

            docs = load_table(spark, args.sfDir, "documents")
            n_before = docs.count()
            if args.method == "exact":
                keepers = dd_ops.exact_dedup(spark, args.sfDir).select(
                    F.col("keep_doc_id").alias("doc_id")
                )
                survivors = docs.join(keepers, "doc_id", "left_semi")
            elif args.method == "containment":
                # a contained (smaller) doc is subsumed by its container:
                # drop it. The drop side comes from the CAPPED sizes the
                # pair itself carries (n1/n2) — recomputing uncapped sizes
                # here could disagree with the containment denominator
                # when max_shingle_df is active. Ties (equal shingle
                # counts) drop the larger doc_id for determinism.
                pairs = dd_ops.containment_pairs(spark, args.sfDir)
                drops = (
                    pairs.select(
                        F.when(F.col("n1") < F.col("n2"), F.col("d1"))
                        .when(F.col("n2") < F.col("n1"), F.col("d2"))
                        .otherwise(F.greatest("d1", "d2"))
                        .alias("doc_id")
                    )
                    .distinct()
                )
                survivors = docs.join(drops, "doc_id", "left_anti")
            else:
                pairs = (
                    dd_ops.minhash_lsh_pairs(spark, args.sfDir)
                    if args.method == "minhash"
                    else dd_ops.ngram_jaccard_pairs(spark, args.sfDir)
                )
                # drop every cluster member except the canonical min-id keeper
                labels = connected_components(pairs.select("d1", "d2"))
                drops = labels.filter(F.col("node") != F.col("cluster")).select(
                    F.col("node").alias("doc_id")
                )
                survivors = docs.join(drops, "doc_id", "left_anti")
            survivors.write.mode("overwrite").parquet(args.output)
            n_after = spark.read.parquet(args.output).count()
            print(
                f"DOCS_BEFORE={n_before} DOCS_AFTER={n_after} "
                f"DROPPED={n_before - n_after}"
            )
            return 0
        if args.tool == "trim-spans":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators import dedup as dd_ops
            from symat_hbase_tools_spark.sources.tables import load_table

            docs = load_table(spark, args.sfDir, "documents")
            if args.minSpan < 1:
                print("error: --minSpan must be >= 1", file=sys.stderr)
                return 1
            trimmed = dd_ops.trim_dup_spans(
                spark, args.sfDir, k=args.minSpan, within_doc=args.withinDoc
            )
            _write_trimmed_corpus(docs, trimmed, args.output)
            return 0
        if args.tool == "span-index":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators import dedup as dd_ops
            from symat_hbase_tools_spark.sources.tables import load_table

            if args.action == "build":
                if args.minSpan < 1:
                    print("error: --minSpan must be >= 1", file=sys.stderr)
                    return 1
                dd_ops.build_span_index(
                    spark, args.sfDir, args.indexDir, k=args.minSpan
                )
                n = spark.read.parquet(f"{args.indexDir}/span_hashes").count()
                print(f"SPAN_INDEX_BUILT windows={n} k={args.minSpan}")
                return 0
            if args.action == "append":
                docs = load_table(spark, args.sfDir, "documents")
                st = dd_ops.span_index_append(spark, docs, args.indexDir)
                print(
                    f"SPAN_INDEX_APPENDED windows={st['windows']} "
                    f"added={st['added']} k={st['k']}"
                )
                return 0
            if not args.output:
                print("error: --output required for trim", file=sys.stderr)
                return 1
            docs = load_table(spark, args.sfDir, "documents")
            spans = dd_ops.max_dup_spans_indexed(
                spark, docs, args.indexDir, assume_new=args.assumeNew
            )
            trimmed = dd_ops.trim_with_spans(docs, spans)
            _write_trimmed_corpus(docs, trimmed, args.output)
            return 0
        if args.tool == "decontaminate":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators import contamination as ct
            from symat_hbase_tools_spark.sources.tables import load_table

            docs = load_table(spark, args.sfDir, "documents")
            n_before = docs.count()
            fn = (
                ct.benchmark_contamination
                if args.method == "exact"
                else ct.benchmark_contamination_bloom
            )
            hits = fn(
                spark,
                args.sfDir,
                min_overlap=args.minOverlap,
                benchmark_mod=args.benchmarkMod,
            ).select("doc_id")
            # the benchmark set itself stays out of the TRAINING corpus too
            is_bench = F.col("doc_id") % args.benchmarkMod == 0
            clean = docs.filter(~is_bench).join(hits, "doc_id", "left_anti")
            clean.write.mode("overwrite").parquet(args.output)
            n_after = spark.read.parquet(args.output).count()
            n_bench = docs.filter(is_bench).count()
            print(
                f"DOCS_BEFORE={n_before} BENCHMARK_DOCS={n_bench} "
                f"CONTAMINATED_DROPPED={n_before - n_bench - n_after} "
                f"DOCS_AFTER={n_after}"
            )
            return 0
        if args.tool == "bpe-train":
            import os

            from symat_hbase_tools_spark.operators import bpe

            rows = bpe.learn_merges(spark, args.sfDir, n_merges=args.merges).collect()
            os.makedirs(os.path.dirname(args.output) or ".", exist_ok=True)
            with open(args.output, "w") as f:
                for r in rows:
                    f.write(
                        f"{r['merge_rank']}\t{r['left']}\t{r['right']}\t{r['pair_count']}\n"
                    )
            print(f"LEARNED_MERGES={len(rows)}")
            return 0
        if args.tool == "tokenize":
            from symat_hbase_tools_spark.operators import bpe

            out = bpe.tokenize_corpus(spark, args.sfDir, n_merges=args.merges)
            out.write.mode("overwrite").parquet(args.output)
            back = spark.read.parquet(args.output)
            from pyspark.sql import functions as F

            r = back.agg(
                F.count(F.lit(1)).alias("docs"), F.sum("n_tokens").alias("toks")
            ).collect()[0]
            print(f"DOCS={r['docs']} TOTAL_TOKENS={r['toks']} MERGES={args.merges}")
            return 0
        if args.tool == "pack":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators.packing import (
                pack_sequences,
                packing_stats,
            )
            from symat_hbase_tools_spark.sources.tables import load_table

            docs = load_table(spark, args.sfDir, "documents")
            packed = pack_sequences(docs, budget=args.budget)
            packed.write.mode("overwrite").parquet(args.output)
            st = packing_stats(spark.read.parquet(args.output), args.budget)
            r = st.agg(
                F.count(F.lit(1)).alias("seqs"),
                F.sum("n_tokens").alias("toks"),
                F.avg("fill").alias("fill"),
            ).collect()[0]
            print(
                f"SEQUENCES={r['seqs']} TOTAL_TOKENS={r['toks']} "
                f"MEAN_FILL={r['fill']:.4f} BUDGET={args.budget}"
            )
            return 0
        if args.tool == "resample":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.functions.text import token_count
            from symat_hbase_tools_spark.operators.sampling import unimax_resample
            from symat_hbase_tools_spark.sources.tables import load_table

            docs = load_table(spark, args.sfDir, "documents")
            n_before = docs.count()
            kept = unimax_resample(
                docs,
                args.groupBy,
                token_count(F.col("text")),
                ["doc_id"],
                budget_frac=args.budgetFrac,
            )
            kept.write.mode("overwrite").parquet(args.output)
            n_after = spark.read.parquet(args.output).count()
            print(
                f"DOCS_BEFORE={n_before} DOCS_AFTER={n_after} "
                f"DROPPED={n_before - n_after}"
            )
            return 0
        if args.tool == "chunk":
            from symat_hbase_tools_spark.operators import text_analysis

            chunks = text_analysis.chunk_census(spark, args.sfDir)
            chunks.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
            n_chunks = out.count()
            n_docs = out.select("doc_id").distinct().count()
            print(f"DOCS={n_docs} CHUNKS={n_chunks}")
            return 0
        if args.tool == "select":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators import text_analysis
            from symat_hbase_tools_spark.sources.tables import load_table

            sel = text_analysis.token_budget_select(
                spark,
                args.sfDir,
                budget_num=args.budgetNum,
                budget_den=args.budgetDen,
            )
            # write the selected DOCUMENTS (the training corpus), with the
            # selection metadata alongside for provenance
            docs = load_table(spark, args.sfDir, "documents")
            kept = docs.join(
                sel.select("doc_id", "score", "sel_rank", "cum_tokens"), "doc_id"
            )
            kept.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
            n_total = docs.count()
            n_kept = out.count()
            tok_kept = sel.agg(F.sum("n_tokens")).collect()[0][0] or 0
            print(
                f"DOCS_TOTAL={n_total} DOCS_SELECTED={n_kept} "
                f"TOKENS_SELECTED={tok_kept}"
            )
            return 0
        if args.tool == "select-diverse":
            from symat_hbase_tools_spark.operators.sampling import kcenter_select

            if args.k < 1:
                print("error: --k must be >= 1", file=sys.stderr)
                return 1
            sel = kcenter_select(spark, args.sfDir, k=args.k)
            sel.coalesce(1).write.mode("overwrite").parquet(args.output)
            n = sel.count()
            print(f"SELECTED={n} K_REQUESTED={args.k}")
            print(f"wrote {args.output}")
            return 0
        if args.tool == "curate":
            from pyspark.sql import functions as F

            from symat_hbase_tools_spark.operators import text_analysis
            from symat_hbase_tools_spark.sources.tables import load_table

            docs = load_table(spark, args.sfDir, "documents")
            if args.method == "ccnet":
                keep = [b.strip() for b in args.keepBuckets.split(",") if b.strip()]
                bad = set(keep) - {"head", "middle", "tail"}
                if bad or not keep:
                    print(
                        "error: --keepBuckets must be a non-empty subset of "
                        f"head,middle,tail (got {args.keepBuckets!r})",
                        file=sys.stderr,
                    )
                    return 1
                scored = text_analysis.ccnet_buckets(spark, args.sfDir)
                # docs with <2 words have no perplexity row: an inner join
                # drops them silently even when every bucket is requested.
                # With all three buckets kept, curation expresses "keep
                # everything" — left-join so unscored docs survive with
                # NULL score columns; any narrower subset is a real
                # quality cut and unscorable docs stay excluded.
                how = "left" if set(keep) == {"head", "middle", "tail"} else "inner"
                kept = docs.join(
                    scored.filter(F.col("ppl_bucket").isin(keep)).select(
                        "doc_id", "avg_surprisal", "ppl_bucket"
                    ),
                    "doc_id",
                    how,
                )
            else:
                sel = text_analysis.dsir_select(
                    spark, args.sfDir, target_lang=args.targetLang
                )
                kept = docs.join(
                    sel.filter("selected").select(
                        "doc_id", "logw_micros", "lw_per_token"
                    ),
                    "doc_id",
                )
            kept.write.mode("overwrite").parquet(args.output)
            n_total = docs.count()
            n_kept = spark.read.parquet(args.output).count()
            print(
                f"DOCS_TOTAL={n_total} DOCS_KEPT={n_kept} "
                f"DROPPED={n_total - n_kept} METHOD={args.method}"
            )
            return 0
        if args.tool == "mine-negatives":
            import os as _os

            from symat_hbase_tools_spark.operators import similarity as S

            # NB: resolve_table is the MODULE-level import (line 36); a
            # local re-import here would shadow it for the whole function
            # and break the ann-index branch with UnboundLocalError
            if not args.indexDir and (
                args.vectors or args.nProbe is not None
            ):
                # corpus-wide mining has no query file / probe knob —
                # silently mining the default corpus for the wrong
                # vectors would "succeed" with the wrong answer
                print(
                    "error: --vectors/--nProbe require --indexDir "
                    "(indexed mining)",
                    file=sys.stderr,
                )
                return 1
            if args.indexDir:
                if args.vectors:
                    queries = spark.read.parquet(resolve_table(args.vectors))
                else:
                    queries = spark.read.parquet(
                        _os.path.join(args.sfDir, "embeddings.parquet")
                    )
                n_cells = spark.read.parquet(
                    f"{args.indexDir}/centroids"
                ).count()
                if args.nProbe is not None and args.nProbe < 1:
                    # `or`-defaulting treated an explicit --nProbe 0 as
                    # "use the default" — reject instead (round-9 advisory)
                    print(
                        "error: --nProbe must be >= 1", file=sys.stderr
                    )
                    return 1
                n_probe = (
                    args.nProbe
                    if args.nProbe is not None
                    else max(1, n_cells // 4)
                )
                negs = S.ann_ivf_query_negatives(
                    spark, args.indexDir, queries, k=args.k, n_probe=n_probe
                )
            else:
                negs = S.embedding_hard_negatives_ann(spark, args.sfDir, k=args.k)
            negs.write.mode("overwrite").parquet(args.output)
            out = spark.read.parquet(args.output)
            n_pairs = out.count()
            n_queries = out.select("query_id").distinct().count()
            print(f"QUERIES={n_queries} NEGATIVE_PAIRS={n_pairs}")
            return 0
        if args.tool == "ann-index":
            from symat_hbase_tools_spark.operators import similarity as S

            if args.action == "build":
                import os as _os

                emb = spark.read.parquet(
                    _os.path.join(args.sfDir, "embeddings.parquet")
                )
                cells = args.cells or S._adaptive_cells(emb.count())
                S.build_ivf_index(
                    spark, args.sfDir, args.indexDir,
                    n_cells=cells, n_assign=args.nAssign,
                )
                print(f"built index at {args.indexDir}: cells={cells} n_assign={args.nAssign}")
                return 0
            if args.action == "add-pq":
                S.ivf_index_add_pq(spark, args.indexDir)
                n = spark.read.parquet(f"{args.indexDir}/pq_codes").count()
                print(f"encoded {n} rows into {args.indexDir}/pq_codes")
                return 0
            if args.action == "add-bq":
                S.ivf_index_add_bq(spark, args.indexDir)
                n = spark.read.parquet(f"{args.indexDir}/bq_codes").count()
                print(f"packed {n} rows into {args.indexDir}/bq_codes")
                return 0
            if not args.vectors:
                print("error: --vectors required for append/query", file=sys.stderr)
                return 1
            vecs = spark.read.parquet(resolve_table(args.vectors))
            if args.action == "append":
                S.ivf_index_append(spark, args.indexDir, vecs, n_assign=args.nAssign)
                print(f"appended {vecs.count()} vectors into {args.indexDir}")
                return 0
            n_cells = spark.read.parquet(f"{args.indexDir}/centroids").count()
            if args.nProbe is not None and args.nProbe < 1:
                print("error: --nProbe must be >= 1", file=sys.stderr)
                return 1
            n_probe = (
                args.nProbe if args.nProbe is not None else max(3, n_cells // 4)
            )
            query_fn = {
                "query-pq": S.ann_ivfpq_query,
                "query-bq": S.ann_ivfbq_query,
            }.get(args.action, S.ann_ivf_query)
            out = query_fn(spark, args.indexDir, vecs, k=args.k, n_probe=n_probe)
            out.show(20, truncate=False)
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}")
            return 0
        if args.tool == "split-points":
            from symat_hbase_tools_spark.operators.kv import split_points

            if args.targetBytes < 1:
                print("error: --targetBytes must be >= 1", file=sys.stderr)
                return 1
            cells = read_cells(spark, resolve_table(args.table))
            report = split_points(cells, target_bytes=args.targetBytes).cache()
            # order by region_seq (the byte-tape order = HBase key order);
            # sorting the RENDERED strings would misplace escaped keys
            # (backslash 0x5C sorts before ']'..'~')
            splits = [
                r["split_key"]
                for r in sorted(
                    report.filter("region_seq >= 1").collect(),
                    key=lambda r: r["region_seq"],
                )
            ]
            n_regions = report.count()
            print(f"REGIONS={n_regions} SPLITS={len(splits)} TARGET_BYTES={args.targetBytes}")
            for k in splits:
                print(f"SPLIT\t{k}")
            if args.output:
                report.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}")
            return 0
        if args.tool == "query":
            from symat_hbase_tools_spark.entry import QUERIES

            if args.name == "list":
                for name in sorted(QUERIES):
                    print(name)
                return 0
            if args.name not in QUERIES:
                print(f"error: unknown query {args.name!r}; try --name list", file=sys.stderr)
                return 1
            df = QUERIES[args.name](spark, args.sfDir)
            df.show(args.limit, truncate=False)
            if args.output:
                df.write.mode("overwrite").parquet(args.output)
                print(f"wrote {args.output}")
            return 0
        cells = read_cells(spark, resolve_table(args.table))
        report, counters = audit(cells)
        if _parse_bool(args.traceCells):
            report.show(100, truncate=False)
        write_report_tsv(report, args.outputDir)
        c = counters_of(counters)
        print(f"TOTAL_ROWS={c.total} SUCCESS_ROWS={c.success} FAILED_ROWS={c.failed}")
        return 0 if c.failed == 0 else 2
    except SystemExit:
        raise
    except Exception as exc:  # noqa: BLE001
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
