"""KV-layer operators: the reference's scan/get surface on cells DataFrames.

Mappings (SURVEY.md §2.1):
  * point_get        — S1, /root/reference/.../CopyRow.java:107-113
  * keyonly_scan     — S2, CorruptRowsMR.java:68-91 (FirstKeyOnly+KeyOnly filters)
  * column_projection— S3, CorruptRowsMR.java:80-86 + MRUtil.java:54
  * list_families    — S4, CorruptRowsMR.java:230-238
  * latest_cells     — latest-version-wins read (HBase default GET semantics)

Region addressing: on the scan ``sources.io.read_cells`` returns for a
table whose region manifest holds, point_get and range_scan read only the
region files their key range touches (``io.covering_cells``, the HBase meta
lookup): a Get opens one file however many regions there are, an empty
range none. The row filter on top is the same; any other DataFrame keeps
the plain filtered scan.

Scale notes: on such a table of the local file system point_get runs no
file scan, like the reference's one-RPC Get: the driver reads the home
region's row groups whose ``row`` statistics can hold the key
(``io.region_get``) and hands the row to Spark as a ``LocalTableScan``.
Above Spark's local-relation bound, on another file system, or on any
other DataFrame it is a pushed-down binary-equality filter (parquet
row-group stats and the row bloom prune; on the HBase connector it becomes
a real GET).
keyonly_scan prunes to the `row` column before the distinct — Catalyst's
column pruning is the KeyOnlyFilter equivalent, and the single hash-distinct
benefits from partial aggregation. latest_cells uses max_by aggregation
(map-side combine) rather than a window sort — at 100 TB that halves the
shuffle and avoids per-partition sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symat_hbase_tools_spark.functions.bytes_binary import to_string_binary_expr
from symat_hbase_tools_spark.sources.io import covering_cells, region_get


def point_get(cells: DataFrame, row_key: bytes) -> DataFrame:
    """Fetch all cells of one row by exact key (S1): every stored version
    and Delete marker.

    On a held manifest scan of a local table the row is read on the driver
    (``io.region_get``) when ``point_get`` is called, not when the returned
    DataFrame's action runs: collect it before the table changes. Otherwise
    the Get is a Spark scan of the covering region files, read at the
    action."""
    got = region_get(cells, row_key)
    if got is not None:
        return got
    return covering_cells(cells, row_key, row_key, hi_inclusive=True).filter(
        F.col("row") == F.lit(row_key)
    )


def range_scan(
    cells: DataFrame, start_row: bytes | None = None, stop_row: bytes | None = None
) -> DataFrame:
    """HBase scan-range equivalent: start_row <= row < stop_row.

    BinaryType comparisons are unsigned lexicographic — identical to HBase
    key order — and both bounds push down to the parquet scan (row-group
    min/max pruning); on the connector they become real scan ranges
    (the DataSourceV2 pushdown noted in SURVEY §4.1).
    """
    out = covering_cells(cells, start_row, stop_row)
    if start_row is not None:
        out = out.filter(F.col("row") >= F.lit(start_row))
    if stop_row is not None:
        out = out.filter(F.col("row") < F.lit(stop_row))
    return out


def keyonly_scan(cells: DataFrame) -> DataFrame:
    """All distinct row keys; values never read (S2).

    Catalyst prunes every column but `row` out of the scan (KeyOnlyFilter
    equivalent); dropDuplicates is the FirstKeyOnlyFilter equivalent.
    """
    return cells.select("row").dropDuplicates(["row"])


def column_projection(cells: DataFrame, qualifiers: list[str]) -> DataFrame:
    """Restrict a scan to a set of qualifiers (S3 — COLUMN_LIST)."""
    return cells.filter(F.decode(F.col("qualifier"), "UTF-8").isin(list(qualifiers)))


def list_families(cells: DataFrame) -> list[str]:
    """All column families (S4 — table-descriptor read)."""
    return [r["family"] for r in cells.select("family").distinct().collect()]


def visible_cells(cells: DataFrame) -> DataFrame:
    """Readable cells under HBase delete-marker semantics.

    A (row, family, qualifier) whose LATEST version is a ``Delete`` marker is
    invisible; otherwise the latest Put wins. Same single max_by aggregation
    as ``latest_cells`` plus a type filter — no extra shuffle.
    """
    return latest_cells(cells).filter(F.col("type") == "Put")


def snapshot_as_of(cells: DataFrame, as_of_ts: int) -> DataFrame:
    """Time-travel read: the visible table as it was at ``as_of_ts`` —
    HBase's ``Scan.setTimeRange(0, ts+1)`` semantics. The ts bound is a
    pushed-down scan filter (row-group stats prune files written after the
    snapshot point), then the normal latest-version-wins resolution runs on
    the surviving versions. Versioned cells make every historical state a
    filter away — no snapshot copies."""
    return visible_cells(cells.filter(F.col("ts") <= int(as_of_ts)))


def latest_cells(cells: DataFrame, with_versions: bool = False) -> DataFrame:
    """Latest-version-wins view over a versioned cells table.

    Implemented as ONE ``max_by(struct(ts,type,value), ordering)`` aggregate.
    Var-width aggregation buffers (the carried value) have no HashAggregate
    support in Spark, so the plan is a SortAggregate either way — but the
    property that matters at scale holds: PARTIAL aggregation runs map-side,
    so the exchange carries one pre-reduced row per (row,family,qualifier)
    per task. The window row_number()==1 formulation shuffles every version
    of every cell and still sorts; this shuffles the reduced set only.
    ``max_by`` beats the previous sortable packed-binary encoding
    (``hex(ts)|marker|value`` + max + substring/conv unpack) by ~25%
    measured: no per-row pack and no per-group hex decode.

    Tie semantics at equal ts follow HBase: the ordering key is
    ``ts*2 + is_delete`` so a Delete marker wins against a Put at the same
    timestamp (requires ts >= 0, which HBase guarantees; ANSI mode would
    throw on the *2 overflow rather than mis-order). Exact (ts, type) ties
    break on unsigned value bytes — the same total order the packed
    encoding produced, kept for determinism (``latest_cells_packed`` below
    is the parity witness).

    ``with_versions`` adds ``n_versions``: how many cells (Put versions and
    delete markers) the coordinate held, counted by the same aggregate.
    """
    ordering = F.struct(
        (
            F.col("ts") * 2
            + F.when(F.col("type") == "Delete", 1).otherwise(0)
        ).alias("k"),
        F.coalesce(F.col("value"), F.lit(b"")).alias("v"),
    )
    aggs = [F.max_by(F.struct("ts", "type", "value"), ordering).alias("w")]
    out = [
        "row",
        "family",
        "qualifier",
        F.col("w.ts").alias("ts"),
        F.col("w.type").alias("type"),
        F.col("w.value").alias("value"),
    ]
    if with_versions:
        aggs.append(F.count(F.lit(1)).alias("n_versions"))
        out.append("n_versions")
    return cells.groupBy("row", "family", "qualifier").agg(*aggs).select(*out)


def latest_cells_packed(cells: DataFrame) -> DataFrame:
    """Semantic reference for ``latest_cells``: plain ``max`` over the
    sortable packed encoding ``hex(ts) | type-marker | value`` (unsigned
    bytewise compare == (ts, Delete>Put, value-bytes) lexicographic order).
    Kept as the parity witness — ``tests/test_cells.py`` asserts both
    formulations agree; the max_by form is the production path."""
    packed = F.concat(
        F.encode(F.lpad(F.hex(F.col("ts")), 16, "0"), "UTF-8"),
        F.encode(F.when(F.col("type") == "Delete", "1").otherwise("0"), "UTF-8"),
        F.coalesce(F.col("value"), F.lit(b"")),
    )
    unpacked = (
        cells.groupBy("row", "family", "qualifier")
        .agg(F.max(packed).alias("p"))
    )
    ts = F.conv(F.decode(F.substring("p", 1, 16), "UTF-8"), 16, 10).cast("long")
    ctype = F.when(
        F.decode(F.substring("p", 17, 1), "UTF-8") == "1", "Delete"
    ).otherwise("Put")
    value = F.expr("substring(p, 18, 2147483647)")
    return unpacked.select(
        "row",
        "family",
        "qualifier",
        ts.alias("ts"),
        ctype.alias("type"),
        value.alias("value"),
    )


def _cell_bytes() -> F.Column:
    """On-wire KeyValue byte estimate for one cell: key + family + qualifier
    + value + 8 (the timestamp long). Exact integers; NULL value (delete
    cells) counts 0 value bytes but keeps its key overhead."""
    return (
        F.octet_length("row")
        + F.octet_length(F.encode(F.col("family"), "UTF-8"))
        + F.octet_length("qualifier")
        + F.coalesce(F.octet_length("value"), F.lit(0))
        + F.lit(8)
    ).cast("long")


def split_points(cells: DataFrame, target_bytes: int) -> DataFrame:
    """Suggested region split keys at a target bytes-per-region — the
    actionable half of the pre-split diagnostic (region_stats shows WHERE
    the bytes concentrate; this emits the boundaries an operator would
    hand to a pre-split/`split` call so each region carries ~target
    bytes). Closes the loop the reference's troubleshooting family opens:
    diagnostic census -> concrete split keys (round-10 verdict #8).

    Semantics (exact, portable): rows in key order are laid end-to-end on
    a byte tape (row bytes = sum of the row's on-wire cell bytes); region
    ``i`` owns tape range [i*target, (i+1)*target); a row belongs to the
    region where it STARTS. Output one row per non-empty region:
    (region_seq, split_key = first row key of the region rendered via
    toStringBinary, n_rows, region_bytes). region_seq 0's split_key is
    the table's first key; the keys to actually split at are region_seq
    >= 1. Exact integer math end-to-end — hash-stable cross-engine.

    Scale shape: the global running byte count is the DISTRIBUTED prefix
    sum (range-repartition on the raw binary key -> within-partition
    cumulative window keyed on the range id -> lazy exclusive per-
    partition offsets via the O(partitions^2) triangular broadcast
    subplan, plans/ranking.py) — never a partition-less window, and no
    driver-side collect at plan-build time, so the plan stays a pure lazy
    constructor. Ordering and min() run on the BINARY key (unsigned-byte
    comparison — HBase's own key order); the render happens once per
    emitted region.
    """
    from symat_hbase_tools_spark.plans.ranking import ordered_prefix_sum

    per_row = (
        cells.select("row", _cell_bytes().alias("b"))
        .groupBy("row")
        .agg(F.sum("b").alias("row_bytes"))
    )
    tape = ordered_prefix_sum(
        per_row, [F.col("row")], "row_bytes", out_col="_start", inclusive=False
    )
    return (
        tape.withColumn(
            "region_seq", F.expr(f"_start div {int(target_bytes)}").cast("long")
        )
        .groupBy("region_seq")
        .agg(
            F.min("row").alias("_start_row"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_bytes").alias("region_bytes"),
        )
        .select(
            "region_seq",
            to_string_binary_expr(F.col("_start_row")).alias("split_key"),
            "n_rows",
            "region_bytes",
        )
    )


def region_stats(cells: DataFrame, prefix_len: int = 10) -> DataFrame:
    """Key-prefix region census over a cells table — the HBase operator's
    hotspot / pre-split / fat-row diagnostic (the `hbck`/RegionSizeCalculator
    troubleshooting family the reference tools belong to): per row-key
    prefix, how many rows and cells land there and how many bytes they
    carry. A monotonically-written key schema shows up as one hot prefix
    holding the whole write load — THE classic HBase anti-pattern this
    census exposes before a table is pre-split on the wrong boundaries.

    Cell bytes = key + family + qualifier + value + 8 (the timestamp
    long) — the on-wire KeyValue proportions, exact integers end-to-end;
    byte_share divides identical bigints. A NULL value (delete-type
    cells are legal per CELLS_SCHEMA) counts as 0 VALUE bytes but still
    contributes its key/family/qualifier/timestamp overhead — without
    the coalesce the whole sum would go NULL and a row of only delete
    cells would report NULL row_bytes while still counting in n_cells.

    Scale shape: one map-only byte projection, a per-row partial
    aggregate (fat-row max needs row grain first), then the
    prefix-grained aggregate; the corpus-total joins back as a broadcast
    one-row cross join. Prefixes are byte-range truncations, so the
    census maps 1:1 onto region-boundary candidates.

    Output per prefix: (prefix, n_rows, n_cells, total_bytes,
    max_row_bytes, byte_share).
    """
    cell_bytes = _cell_bytes()
    per_row = (
        cells.select(
            F.substring(F.decode(F.col("row"), "UTF-8"), 1, prefix_len).alias(
                "prefix"
            ),
            F.col("row"),
            cell_bytes.alias("b"),
        )
        .groupBy("prefix", "row")
        .agg(F.count(F.lit(1)).alias("n_cells"), F.sum("b").alias("row_bytes"))
    )
    per_prefix = per_row.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_cells").alias("n_cells"),
        F.sum("row_bytes").alias("total_bytes"),
        F.max("row_bytes").alias("max_row_bytes"),
    )
    tot = per_prefix.agg(F.sum("total_bytes").alias("grand_bytes"))
    return per_prefix.crossJoin(F.broadcast(tot)).select(
        "prefix",
        "n_rows",
        "n_cells",
        "total_bytes",
        "max_row_bytes",
        (F.col("total_bytes").cast("double") / F.col("grand_bytes")).alias(
            "byte_share"
        ),
    )


def snapshot_manifest(cells: DataFrame, prefix_len: int = 10) -> DataFrame:
    """Snapshot INTEGRITY manifest — the verification artifact of HBase's
    ExportSnapshot/verifysnapshot family: per key-prefix region, exact
    row/cell/byte counts plus an ORDER-FREE content checksum, so two
    copies of a table (snapshot vs restore, primary vs replica, before vs
    after a migration) can be compared region-by-region without moving
    data — mismatched regions localize the corruption the way
    kv_table_diff's full-outer join would, at manifest cost instead of
    shuffle cost.

    The checksum is the BIGINT SUM of a portable 32-bit hash (first 8 md5
    hex digits) of every rendered cell — addition commutes, so the
    manifest is independent of partitioning, file layout, and row order
    on BOTH engines; at 2^32 max per cell, overflowing int64 needs ~2^31
    cells per region. NULL values (delete-type cells) render as '' but
    still contribute their coordinates.

    Scale shape: one map-only render+hash projection and one
    partial-aggregated per-prefix pass — a manifest of a 100 TB table is
    O(regions) rows off one scan.
    """
    cell_str = F.concat_ws(
        "\x1f",
        F.decode(F.col("row"), "UTF-8"),
        F.col("family"),
        F.decode(F.col("qualifier"), "UTF-8"),
        F.col("ts").cast("string"),
        F.coalesce(F.decode(F.col("value"), "UTF-8"), F.lit("")),
    )
    h32 = F.conv(F.substring(F.md5(cell_str), 1, 8), 16, 10).cast("long")
    return (
        cells.select(
            F.substring(F.decode(F.col("row"), "UTF-8"), 1, prefix_len).alias(
                "prefix"
            ),
            F.col("row"),
            _cell_bytes().alias("b"),
            h32.alias("h"),
        )
        .groupBy("prefix")
        .agg(
            F.count_distinct("row").alias("n_rows"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("b").alias("total_bytes"),
            F.sum("h").alias("content_sum"),
        )
    )


def merge_candidates(
    cells: DataFrame, target_bytes: int, prefix_len: int = 10
) -> DataFrame:
    """Region MERGE advisor — the inverse of ``split_points``: adjacent
    key-prefix regions whose combined bytes still fit the target are
    candidates for `merge_region` (the small-region sprawl cleanup an
    HBase operator runs after TTL sweeps or bulk deletes shrink old
    regions). Together the two advisors close the region-sizing loop the
    reference's troubleshooting family opens: census -> split keys for
    fat regions -> merge pairs for thin ones.

    Semantics (deterministic): regions = the prefix census in key order;
    a pair (region i, region i+1) is a candidate iff bytes_i +
    bytes_{i+1} <= target. Pairs OVERLAP deliberately (i+1 may also pair
    with i+2) — the advisor reports every legal adjacent merge and the
    operator picks; a greedy non-overlapping chain would be
    order-sequential and no more correct. Exact integer byte math.

    Scale shape: the census is the region_stats aggregate (data-scale
    work ends there, O(prefixes) rows out); adjacency is one lead()
    window over the REDUCED census — prefix count is bounded by key
    design, never by row count, so the single-partition window is
    driver-scale by construction (same argument as the gap-fill spine).
    """
    from pyspark.sql import Window

    census = region_stats(cells, prefix_len=prefix_len).select(
        "prefix", "n_rows", "total_bytes"
    )
    w = Window.orderBy("prefix")
    paired = census.select(
        F.col("prefix").alias("prefix_a"),
        F.col("total_bytes").alias("bytes_a"),
        F.lead("prefix").over(w).alias("prefix_b"),
        F.lead("total_bytes").over(w).alias("bytes_b"),
    ).filter(F.col("prefix_b").isNotNull())
    return paired.select(
        "prefix_a",
        "prefix_b",
        (F.col("bytes_a") + F.col("bytes_b")).alias("combined_bytes"),
    ).filter(F.col("combined_bytes") <= int(target_bytes))


def salt_cells(cells: DataFrame, n_salts: int = 16) -> DataFrame:
    """Salted key layout: prefix every row key with ONE deterministic salt
    byte — the standard HBase remedy for a monotonically-written hot
    prefix (SCALING.md source geometry; the third leg of the hotspot
    toolkit next to split_points and merge_candidates). All versions of a
    row share its salt (the salt is a pure function of the key), so
    row-atomic semantics survive; sequential writers spread across
    n_salts ranges.

    The salt byte is portable: the first md5 byte of the key bytes,
    mod n_salts (n_salts <= 256) — reproducible in any engine, unlike a
    JVM-seeded hash. Scan-within-salt stays key-ordered (the salt is a
    PREFIX), so per-salt range scans remain possible; full-key scans read
    n_salts ranges (the documented cost of salting).
    """
    if not 1 <= int(n_salts) <= 256:
        raise ValueError("n_salts must be in [1, 256]")
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col("row")), 1, 2), 16, 10).cast("int"),
        F.lit(int(n_salts)),
    ).cast("int")
    # unhex of a 2-hex-digit render = exactly one byte
    salt_byte = F.unhex(F.lpad(F.hex(salt), 2, "0"))
    return cells.withColumn("row", F.concat(salt_byte, F.col("row")))


def salt_split_points(n_salts: int = 16) -> list[bytes]:
    """Pre-split boundaries FOR a salted table: the n_salts-1 interior
    single-byte keys [b'\\x01', ..., b'\\x0f'] so each region holds exactly
    one salt prefix. Sampled quantiles of a salted table land boundaries
    INSIDE salt groups (the round-12 A/B measured balance 2.0 from that);
    splitting ON the salt byte is the deployment-correct layout — balance
    ~1.0 by construction because the salt is uniform by design (the HBase
    create-table SPLITS argument for a salted schema)."""
    if not 2 <= int(n_salts) <= 256:
        raise ValueError("n_salts must be in [2, 256]")
    return [bytes([i]) for i in range(1, int(n_salts))]


def unsalt_cells(salted: DataFrame) -> DataFrame:
    """Strip the 1-byte salt prefix (read-path inverse of salt_cells)."""
    return salted.withColumn(
        "row", F.expr("substring(row, 2, 2147483647)").cast("binary")
    )


def salt_census(cells: DataFrame, n_salts: int = 16) -> DataFrame:
    """Per-salt balance evidence for a PLANNED salting: how many rows and
    bytes each salt range would carry. A flat census = the salting will
    spread load; n_salts buckets with exact integer byte math. (Runs on
    the UNSALTED table — it predicts the layout without writing it.)"""
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col("row")), 1, 2), 16, 10).cast("int"),
        F.lit(int(n_salts)),
    )
    per_row = (
        cells.select(salt.alias("salt"), "row", _cell_bytes().alias("b"))
        .groupBy("salt", "row")
        .agg(F.sum("b").alias("row_bytes"))
    )
    return per_row.groupBy("salt").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("row_bytes").alias("total_bytes"),
    )
