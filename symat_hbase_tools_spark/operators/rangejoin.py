"""Keyless range joins and interval sweeps — the two scale-safe plans for
point-in-interval questions Spark has no native operator for.

A keyless ``points JOIN intervals ON lo <= p AND p <= hi`` falls to
BroadcastNestedLoopJoin (fine only while one side broadcasts) or a
cartesian. The classic distributed remedies, both implemented here:

* **Grid bucketing** (``range_bucket_join``): quantize the axis into
  buckets of width g; each interval replicates into every bucket it
  covers, each point maps to its single bucket, and the join becomes a
  plain equi-join on the bucket key plus the containment filter. A
  (point, interval) pair shares exactly ONE bucket — the point's — so the
  output needs no dedup. Cost: interval replication = span/g + 1 rows;
  pick g near the median interval span so replication stays O(1) per
  interval while the bucket key stays selective. This is the strategy the
  as-of join docstring (relational.py) names for the no-equi-key case.

* **Sweep line** (``interval_concurrency``): for COUNTING overlaps a join
  is overkill — unpivot intervals into +1/-1 boundary deltas and take an
  exact distributed prefix sum over the time order (the
  ``plans.ranking.ordered_prefix_sum`` machinery: range repartition +
  within-range window + lazy triangular offsets, never a single-partition
  window). O(2 * intervals) rows, no join at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.relational import SESSION_GAP_US
from symat_hbase_tools_spark.plans.ranking import ordered_prefix_sum
from symat_hbase_tools_spark.plans.serve_cache import pin
from symat_hbase_tools_spark.sources.tables import load_table

#: default grid width for the micro-epoch axis: 6 hours. Session intervals
#: in the fixture span minutes-to-days, so 6 h keeps replication at a few
#: rows per interval while the bucket key stays selective; residual bucket
#: skew (everyone's Monday morning) is AQE skew-join territory.
DEFAULT_BUCKET_US = 6 * 3600 * 1_000_000


#: replication ceiling for the WORST interval under an autotuned grid:
#: the width floor max_span/4096 guarantees no single interval explodes
#: into more than ~4096 bucket rows (a whale session in a short-median
#: corpus would otherwise drive span/median past Spark's array limit)
MAX_BUCKETS_PER_INTERVAL = 4096


def autotune_bucket_width(
    intervals: DataFrame, lo_col: str, hi_col: str
) -> int | None:
    """Grid width from ONE partial-aggregated pass over the intervals:
    the approximate median span (percentile_approx — the mergeable
    quantile sketch, so the pass is map-side-combined at any scale)
    floored by exact_max_span / MAX_BUCKETS_PER_INTERVAL so a long-tail
    whale interval can never replicate past the ceiling. None on empty."""
    row = intervals.select(
        (F.col(hi_col) - F.col(lo_col)).alias("s")
    ).agg(
        F.percentile_approx("s", 0.5, 10000).alias("med"),
        F.max("s").alias("mx"),
    ).collect()[0]
    if row["med"] is None:
        return None
    return max(
        int(row["med"]), int(row["mx"]) // MAX_BUCKETS_PER_INTERVAL, 1
    )


def range_bucket_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int | None = None,
) -> DataFrame:
    """Inner join of points to every interval containing them (inclusive
    bounds), via grid bucketing — no cartesian, no nested-loop join.

    ``bucket_width=None`` AUTOTUNES: the grid width is the approximate
    MEDIAN interval span from one partial-aggregated census pass
    (percentile_approx + exact max), floored at
    max_span/MAX_BUCKETS_PER_INTERVAL so no whale interval can explode
    past the replication ceiling — a typical interval replicates into
    ~2 buckets while the bucket key stays selective, corpus-portable
    instead of fixture-tuned. Because the autotune census and the join
    both consume the intervals plan, the autotune path PERSISTS
    ``intervals`` (unless the caller already did) under the serve-many
    release discipline, so an expensive unpersisted intervals shuffle is
    never paid twice. Any width produces the identical row set
    (bucketing is a physical-plan choice, never semantics).

    Column contract: ``points`` and ``intervals`` must not share column
    names (callers alias first); all three key columns are integral.
    """
    if bucket_width is None:
        sl = intervals.storageLevel
        if not (sl.useMemory or sl.useDisk):
            intervals = pin(intervals, "session_intervals")
        bucket_width = (
            autotune_bucket_width(intervals, lo_col, hi_col)
            or DEFAULT_BUCKET_US
        )
    g = max(int(bucket_width), 1)
    p_b = points.withColumn("_b", (F.col(point_col) / g).cast("long"))
    i_b = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                (F.col(lo_col) / g).cast("long"),
                (F.col(hi_col) / g).cast("long"),
            )
        ),
    )
    return (
        p_b.join(i_b, "_b")
        .filter(
            (F.col(lo_col) <= F.col(point_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("_b")
    )


def session_intervals(
    events: DataFrame, min_events: int = 1
) -> DataFrame:
    """Per-user session intervals from the 8h-gap sessionization (the
    events_sessionize rule): (user_id, session_seq, start_us, end_us,
    n_events), keeping sessions with at least ``min_events`` events.

    One window pass per user (lag + running sum of session starts) then a
    partial-aggregated groupBy — the standard sessionize shape, partitioned
    on user_id at any scale."""
    base = events.select(
        "user_id", F.unix_micros(F.col("ts")).alias("t_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    prev = F.lag("t_us").over(w)
    is_new = (
        F.when(prev.isNull(), 0)
        .when(F.col("t_us") - prev > SESSION_GAP_US, 1)
        .otherwise(0)
    )
    return (
        base.withColumn("session_seq", F.sum(is_new).over(w))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .filter(F.col("n_events") >= int(min_events))
    )


def events_session_window_hits(
    spark: SparkSession,
    sf_dir: str,
    min_session_events: int = 3,
    bucket_width: int | None = None,
) -> DataFrame:
    """KEYLESS range join, end to end: for every purchase event, how many
    HEAVY sessions (any user, >= min_session_events events) were active at
    that instant — the cross-user concurrency-at-a-point question no
    equi-key can answer (purchase_attribution's interval join has user_id
    to hash on; this deliberately does not).

    Output: (event_id, t_us, n_active_sessions) for purchases inside at
    least one heavy session, counts as exact integers.

    Scale shape: grid-bucket equi-join (see range_bucket_join) — interval
    side replicated ~span/6h rows, point side mapped to one bucket each,
    then a partial-aggregated count per purchase. The DuckDB oracle runs
    the naive inequality join (its IEJoin handles small scales); the
    engine never does."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", F.unix_micros(F.col("ts")).alias("t_us")
    )
    ivals = session_intervals(events, min_events=min_session_events).select(
        F.col("user_id").alias("s_user"),
        "session_seq",
        "start_us",
        "end_us",
    )
    if bucket_width is None:
        # the interval table feeds BOTH the autotune census and the join;
        # pin so the sessionization shuffle runs once (one slot shared
        # with range_bucket_join's autotune pin)
        ivals = pin(ivals, "session_intervals")
    hits = range_bucket_join(
        purchases, ivals, "t_us", "start_us", "end_us", bucket_width
    )
    return hits.groupBy("event_id", "t_us").agg(
        F.count(F.lit(1)).alias("n_active_sessions")
    )


def interval_concurrency(
    intervals: DataFrame, order_tail: list[Column]
) -> DataFrame:
    """Sweep-line concurrency over (start_us, end_us) intervals: +1/-1
    boundary deltas, exact distributed prefix sum. ``order_tail`` must
    complete a TOTAL order after (t_us, delta DESC) — at equal timestamps
    starts are processed before ends (inclusive-bounds semantics: a
    zero-length touch still counts as concurrent).

    Output: one row per boundary with the running ``n_active`` AFTER the
    boundary — the full step function of concurrency over time.

    Boundary generation is one ``explode`` of a two-struct array per
    interval (round-15 optimization, guide §2.4 "remove shuffles/passes
    outright"): the previous Union-of-two-projections form duplicated the
    ENTIRE upstream subplan — Spark does not dedupe common subplans, so
    events_concurrency ran its sessionize window stack (scan + two
    windows + two aggregates) TWICE, once per Union branch (visible as
    two identical Scan->Window->HashAggregate towers in the r15 before
    plan). The explode form computes the intervals once and emits both
    boundary rows from each; output rows are identical (set-equal
    verified at sf0.001/0.01/0.1, and the downstream prefix sum imposes
    the total order)."""
    other = [c for c in intervals.columns if c not in ("start_us", "end_us")]
    boundary = F.explode(
        F.array(
            F.struct(F.col("start_us").alias("t_us"), F.lit(1).alias("delta")),
            F.struct(F.col("end_us").alias("t_us"), F.lit(-1).alias("delta")),
        )
    ).alias("_b")
    deltas = intervals.select(boundary, *other).select(
        F.col("_b.t_us").alias("t_us"),
        F.col("_b.delta").alias("delta"),
        *other,
    )
    return ordered_prefix_sum(
        deltas,
        [F.col("t_us"), F.desc("delta"), *order_tail],
        "delta",
        out_col="n_active",
    )


def events_concurrency(
    spark: SparkSession, sf_dir: str, min_session_events: int = 2
) -> DataFrame:
    """Session-concurrency step function over the whole event stream: at
    every session boundary, how many sessions (>= min_session_events
    events, any user) are active. The sweep-line form of the question
    events_session_window_hits answers pointwise — O(2 * sessions) rows
    and NO join, the plan a 100 TB ops dashboard needs (the naive form is
    a self range-join).

    Determinism: the sweep order (t_us, delta DESC, user_id, session_seq)
    is total, so every row's running count is identical cross-engine; the
    oracle is one window cumsum over the same order."""
    events = load_table(spark, sf_dir, "events")
    ivals = session_intervals(events, min_events=min_session_events).select(
        "user_id", "session_seq", "start_us", "end_us"
    )
    out = interval_concurrency(
        ivals, [F.col("user_id"), F.col("session_seq")]
    )
    return out.select(
        "t_us",
        "user_id",
        "session_seq",
        F.col("delta").cast("int").alias("delta"),
        F.col("n_active").cast("long").alias("n_active"),
    )
