"""Event-time analytics operators: funnels, gap-fill, anomaly flags,
range-band joins, OHLC downsampling.

The reference engine's scan surface stops at raw KV reads
(/root/reference — see SURVEY.md §2.5); these are the standard event-stream
analytics a warehouse user runs daily, expressed so Catalyst keeps every
stage on the codegen fast path:

  * every per-key reduction is an AGGREGATE (map-side partial combine),
    never a window sort, unless ordering semantics force one;
  * time spines / band dimensions are tiny derived tables joined with an
    explicit ``F.broadcast`` — the fact table is scanned exactly once;
  * float determinism follows the house rules (entry.py module docstring):
    integer sums first, one mirrored double expression last.

Scale notes per operator in each docstring — all shapes hold when events is
100 TB because reductions happen before any join and every join's build side
is O(groups), not O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from symat_hbase_tools_spark.operators.relational import money_sum
from symat_hbase_tools_spark.plans.serve_cache import pin
from symat_hbase_tools_spark.sources.io import local_frame
from symat_hbase_tools_spark.sources.tables import load_table

#: funnel stage sequence (strictly-increasing event times between stages)
FUNNEL_STAGES = ("view", "click", "purchase")

#: |z| above which an hourly count is flagged anomalous
ANOMALY_Z = 2.5

#: irregular value bands for the broadcast range join (lo inclusive, hi
#: exclusive; the last band is open-ended)
VALUE_BANDS = (
    ("micro", 0.0, 1.0),
    ("small", 1.0, 5.0),
    ("mid", 5.0, 20.0),
    ("large", 20.0, 100.0),
    ("whale", 100.0, float("inf")),
)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase.

    A user converts at stage k only with a stage-k event STRICTLY after
    their stage-(k-1) conversion time (first-touch semantics: the earliest
    qualifying event per stage). Output is one row per stage with the
    surviving user count and the mean seconds spent in the hop — the
    standard product-analytics funnel report.

    Scale shape: each stage is filter -> per-user min-aggregate (map-side
    combine, output O(users)) -> equi-join on user_id with the previous
    stage's O(users) frame. No window sorts, no self-join of raw events;
    at 100 TB the three filtered aggregates scan events once each (or once
    total if the source is persisted) and every join handles user-sized
    inputs. gap sums are exact integer microseconds; the mean is assembled
    by ONE double division mirrored in the oracle.
    """
    events = load_table(spark, sf_dir, "events")
    e = events.select("user_id", "event_type", F.unix_micros("ts").alias("us"))

    def stage_min(event_type: str, prev: DataFrame | None) -> DataFrame:
        s = e.filter(F.col("event_type") == event_type)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("us") > F.col("prev_us"))
        return s.groupBy("user_id").agg(F.min("us").alias("prev_us"))

    stages, prev = [], None
    for name in FUNNEL_STAGES:
        prev = stage_min(name, prev)
        stages.append((name, prev))

    reports = []
    for i, (name, frame) in enumerate(stages):
        if i == 0:
            rep = frame.agg(
                F.lit(i + 1).cast("int").alias("stage"),
                F.lit(name).alias("event_type"),
                F.count(F.lit(1)).alias("n_users"),
                F.lit(None).cast("double").alias("avg_hop_seconds"),
            )
        else:
            joined = stages[i - 1][1].select(
                "user_id", F.col("prev_us").alias("from_us")
            ).join(frame, "user_id")
            rep = joined.agg(
                F.lit(i + 1).cast("int").alias("stage"),
                F.lit(name).alias("event_type"),
                F.count(F.lit(1)).alias("n_users"),
                (
                    F.sum(F.col("prev_us") - F.col("from_us")).cast("double")
                    / F.count(F.lit(1))
                    / 1e6
                ).alias("avg_hop_seconds"),
            )
        reports.append(rep)
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled + forward-filled hourly series per event type.

    Builds the dense hour spine [min_hour, max_hour] x event_type, left
    joins the hourly aggregate onto it, zero-fills counts, and
    forward-fills the hourly closing value (latest event's value in the
    hour, carried across empty hours) — the gap-fill/LOCF shape every
    time-series store exposes (`time_bucket_gapfill` et al.).

    Scale shape: the expensive part is ONE partial-aggregated pass over
    events (O(hours x types) output). The spine is sequence()+explode over
    a 1-row bounds aggregate cross-joined with the distinct types. Both
    fill-join sides are O(hours x types) — on a multi-year stream with
    many types NEITHER fits a broadcast (the round-3 advisory caught an
    explicit broadcast(hourly) hint here contradicting exactly that) — so
    the join carries no hint: AQE broadcasts the build side while it is
    small and falls back to a shuffle join when it isn't. The forward-fill
    window partitions by event_type over O(hours) rows: driver-scale, not
    data-scale. The hourly close uses max_by with a fixed-width
    (epoch, event_id) string ordering key so ties resolve identically in
    the oracle (same trick as kv.latest_cells).
    """
    events = load_table(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    ord_key = F.format_string("%018d%010d", F.unix_micros("ts"), F.col("event_id"))
    # persist the hourly aggregate (round-16, the round-15 span-family
    # pattern): THREE plan references follow (bounds aggregate, distinct
    # types, the fill join) and each re-ran the full events scan + partial
    # aggregation — verified in the executed plan (ReusedExchange: 0, three
    # distinct parquet scans): column pruning specializes each reference's
    # aggregate (bounds keeps hour_epoch only, types event_type only, the
    # fill join all four columns), so the three exchanges are not identical
    # and runtime exchange reuse cannot fire. The cached unit is
    # O(hours x types) rows, orders of magnitude below the events table;
    # probe-scale timing is neutral (the sf1 events scan costs ~20 ms) —
    # the win is the dominant-term scan count at real scale, 3 -> 1.
    hourly = pin(
        events.groupBy(hour.alias("hour_epoch"), F.col("event_type")).agg(
            F.count(F.lit(1)).alias("n"),
            F.max_by("value", ord_key).alias("close"),
        ),
        "gapfill_hourly",
    )
    bounds = hourly.agg(
        F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi")
    )
    types = hourly.select("event_type").distinct()
    spine = (
        bounds.select(
            F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_epoch")
        )
        .crossJoin(F.broadcast(types))
    )
    filled = spine.join(hourly, ["hour_epoch", "event_type"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "hour_epoch",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("close", ignorenulls=True).over(w).alias("filled_close"),
    )


def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-count anomalies per type (z-score over the type's own
    hourly distribution) — the cheap burst/outage detector run over a
    metrics stream before alerting.

    Only hours with |z| > ANOMALY_Z survive. Determinism: the per-type
    moments are EXACT integer sums (count, sum n, sum n^2); mean/variance/z
    are then computed in one fixed double-expression order mirrored
    verbatim in the oracle, so both engines round identically (all inputs
    exact integers, each double op correctly rounded). Sample variance
    (H-1) is used.

    Scale shape: one partial-aggregated pass to O(hours x types), a second
    O(types) aggregate, broadcast back. Nothing data-scale after the first
    aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    hourly = events.groupBy(hour.alias("hour_epoch"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("h"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("q"),
    )
    j = hourly.join(F.broadcast(stats), "event_type")
    mean = F.col("s").cast("double") / F.col("h")
    var = (
        F.col("q").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("h")
    ) / (F.col("h") - F.lit(1))
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        j.select(
            "event_type",
            "hour_epoch",
            F.col("n").alias("n_events"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > ANOMALY_Z)
    )


def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: classify every event's value into an IRREGULAR
    band dimension — the canonical inequality join (price tiers, latency
    SLO buckets, age bands).

    Spark has no range-join optimizer rule; the right physical plan for a
    tiny band table is an explicit BroadcastNestedLoopJoin: each executor
    streams its events partition against the ~5-row broadcast dimension,
    no shuffle of the fact side at all (plan-asserted in tests). For a
    LARGE band table the idiom flips to bucketing both sides on a
    coarsened key (floor(value / g)) and equi-joining bucket-to-candidate
    -bands — same trick dup_span_census uses for time windows.

    Aggregate output: count + exact money sum per band.
    """
    events = load_table(spark, sf_dir, "events")
    bands = local_frame(
        spark,
        [(n, lo, hi) for n, lo, hi in VALUE_BANDS],
        "band string, lo double, hi double",
    )
    cond = (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    joined = events.join(F.broadcast(bands), cond, "inner")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum(F.col("value"), "sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) + volume per event type — the
    classic market-data downsample, reused verbatim for any metered stream.

    ONE aggregate: open/close are min_by/max_by with a fixed-width
    (epoch_us, event_id) string ordering key (total order even under equal
    timestamps, identical on both engines — DuckDB 1.0's arg_min can't
    take a composite key, so the key is a zero-padded string on both
    sides). high/low are plain min/max; volume is the exact-integer money
    sum. Map-side combine applies to all six aggregates: the shuffle
    carries O(days x types) rows regardless of input size.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    ord_key = F.format_string("%018d%010d", F.unix_micros("ts"), F.col("event_id"))
    return events.groupBy(day.alias("day"), F.col("event_type")).agg(
        F.min_by("value", ord_key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ord_key).alias("close"),
        money_sum(F.col("value"), "volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


#: attribution lookback window (purchase credits clicks within this span)
ATTRIB_WINDOW_US = 7 * 24 * 3600 * 1_000_000
#: exponential decay time constant (credit halves roughly every tau*ln2)
ATTRIB_TAU_US = 24 * 3600 * 1_000_000.0


def events_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every purchase distributes credit
    exp(-gap/tau) to each of the user's clicks in the preceding 7 days —
    the standard position-free alternative to last-touch
    (purchase_attribution is the as-of/last-touch sibling).

    Scale shape: clicks x purchases join ONLY on user_id with the time
    predicate applied in the join filter — pair fan-out is bounded by
    per-user activity, never cross-corpus; skewed users are AQE's
    skew-join case. Credit sums are doubles; round-6 absorbs fold-order
    ulps (house discipline for exp/ln aggregates).
    """
    events = load_table(spark, sf_dir, "events")
    e = events.select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("click_us")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("us").alias("purchase_us")
    )
    pairs = clicks.join(purchases, "user_id").filter(
        (F.col("click_us") < F.col("purchase_us"))
        & (F.col("purchase_us") - F.col("click_us") <= ATTRIB_WINDOW_US)
    )
    credit = F.exp(
        -(F.col("purchase_us") - F.col("click_us")) / F.lit(ATTRIB_TAU_US)
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_touch_pairs"),
        F.round(F.sum(credit), 6).alias("total_credit"),
    )




#: integer-micros money-state constants (shared with the streaming rollup)
_STATE_MICROS = 1_000_000
_STATE_SPLIT = 1_000_000_000

#: the mergeable-state key
HOURLY_STATE_KEYS = ("hour_epoch", "event_type")


def hourly_partial_state(df: DataFrame) -> DataFrame:
    """Mergeable hourly rollup state for an event batch: per (hour, type)
    count + exact integer-micro money sums in hi/lo-split longs. Partial
    states of any two disjoint batches ADD with plain integer + — the
    property that makes the rollup maintainable from deltas (batch) or
    micro-batches (streaming) without re-reading history."""
    m = F.round(F.col("value") * _STATE_MICROS).cast("long")
    lo = F.pmod(m, F.lit(_STATE_SPLIT).cast("long"))
    hi = ((m - lo) / _STATE_SPLIT).cast("long")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    return df.groupBy(hour.alias("hour_epoch"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(hi).alias("hi"),
        F.sum(lo).alias("lo"),
    )


def merge_hourly_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two hourly states (full outer on the key, integer adds)."""
    keys = list(HOURLY_STATE_KEYS)
    return a.join(b, keys, "full_outer").select(
        *keys,
        *[
            (F.coalesce(a[c], F.lit(0)) + F.coalesce(b[c], F.lit(0))).alias(c)
            for c in ("n", "hi", "lo")
        ],
    )


def render_hourly_state(state: DataFrame) -> DataFrame:
    """Assemble the user-facing rollup from a state table (double built once
    from the exact integer totals)."""
    return state.select(
        "hour_epoch",
        "event_type",
        F.col("n").alias("n_events"),
        (
            (
                F.col("hi").cast("double") * float(_STATE_SPLIT)
                + F.col("lo").cast("double")
            )
            / float(_STATE_MICROS)
        ).alias("sum_value"),
    )



def events_hourly_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, proven lossless: the
    hourly rollup is computed as stored-aggregate MERGE delta-aggregate
    (simulating a nightly batch landing: every 7th event is "new"), and
    the oracle recomputes the rollup over ALL events directly — equality
    IS the proof that the merge loses nothing.

    The mergeable representation keeps counts and exact integer-micro
    money sums (hi/lo longs, the money_sum internals): partial states add
    with plain integer +, so merge is associative and the stored view
    never re-reads history — THE pattern for keeping a 100 TB rollup
    fresh from deltas. The double renders once, after the merge, from the
    identical integer totals the one-shot aggregate would produce.
    """
    events = load_table(spark, sf_dir, "events")
    base = events.filter(F.pmod(F.col("event_id"), F.lit(7)) != 0)
    delta = events.filter(F.pmod(F.col("event_id"), F.lit(7)) == 0)

    return render_hourly_state(
        merge_hourly_states(hourly_partial_state(base), hourly_partial_state(delta))
    )


#: trailing windows for active-user counts (days)
ACTIVE_WINDOWS = (1, 7, 30)


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU: per day, distinct users active in the trailing 1,
    7, and 30 days — the standard engagement report.

    Distinct-over-sliding-window doesn't decompose into partial aggregates,
    so the scalable shape is: (1) reduce the stream to DISTINCT (day, user)
    pairs — one partial-agg shuffle, output O(days x users); (2) fan each
    pair out to the <=30 report days whose trailing window contains it
    (explode of a sequence — bounded by the window length, not the data);
    (3) one count_distinct per (report_day, window). The fan-out join is
    the textbook alternative to a quadratic day-x-day self-join; HLL
    sketches (approx_count_distinct partial states) are the next notch if
    users x days stops fitting — the exact formulation is what the oracle
    can mirror.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    pairs = events.select(
        (F.unix_timestamp(day) / 86400).cast("long").alias("day_no"),
        "user_id",
    ).distinct()
    # (bounds off `pairs` is safe: RemoveRedundantAggregates drops the
    # distinct under the max, so this branch is scan -> partial max only)
    bounds = pairs.agg(F.max("day_no").alias("hi"))
    # Round-15 rewrite (guide §2.4 — do fewer passes): the previous
    # per-window loop referenced the distinct-pairs subplan FOUR times
    # (one fan per window + the bounds aggregate), and Spark does not
    # dedupe common subplans, so the event scan + pair-distinct shuffle
    # ran 4x. One fan to the WIDEST window now emits each pair's
    # (report_day, window) memberships directly — gap = report_day -
    # day_no falls in window w iff gap < w, so the second explode picks
    # the suffix of the sorted window list via a codegen'd when-chain
    # (no interpreted HOF per fanned row) — and a single
    # count_distinct(user) per (report_day, window) replaces the three
    # per-window aggregates + union. Total fanned rows are identical
    # (sum of window lengths per pair); scans and distinct shuffles drop
    # 4x -> 1x. Output proven set-equal at sf0.001/sf0.1.
    ws = sorted(ACTIVE_WINDOWS)
    gap = F.col("report_day") - F.col("day_no")
    # when-chain over the sorted windows: the first branch containing gap
    # selects its window suffix (gap < ws[-1] always holds — the fan stops
    # at ws[-1] - 1 — so the innermost otherwise is the last window alone)
    memberships = F.array(F.lit(ws[-1]))
    for i in range(len(ws) - 2, -1, -1):
        memberships = F.when(
            gap < ws[i], F.array(*[F.lit(w) for w in ws[i:]])
        ).otherwise(memberships)
    fan = pairs.select(
        "user_id",
        "day_no",
        F.explode(
            F.sequence(F.col("day_no"), F.col("day_no") + ws[-1] - 1)
        ).alias("report_day"),
    )
    fan2 = fan.select(
        "user_id", "report_day", F.explode(memberships).alias("window_days")
    )
    counted = (
        fan2.join(F.broadcast(bounds), F.col("report_day") <= F.col("hi"))
        .groupBy("report_day", "window_days")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return counted.select(
        F.date_format(
            F.to_timestamp(F.col("report_day") * 86400), "yyyy-MM-dd"
        ).alias("day"),
        F.col("window_days").cast("int").alias("window_days"),
        "n_active",
    )


#: trailing/leading comparison span for the mean-shift detector (hours)
SHIFT_SPAN = 24
#: minimum |level shift| in events/hour to flag, as a fraction of the
#: trailing mean
SHIFT_FRACTION = 0.75


def events_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint (level-shift) detection on the hourly series: for every
    hour, compare the mean rate over the PREVIOUS 24 h against the NEXT
    24 h (current inclusive) and flag hours where the level jumps by more
    than SHIFT_FRACTION of the trailing mean — the two-window mean-shift
    test, the standard cheap changepoint detector.

    Builds on the dense gap-filled spine (missing hours count as zero —
    without the spine, frame offsets silently skip empty hours and the
    windows stop being time-aligned). Frame sums are exact integers; the
    shift test is one mirrored double expression. The frames run per
    event_type over O(hours) rows — driver-scale after the first
    aggregate, like the gap fill itself.
    """
    filled = events_gap_fill(spark, sf_dir)
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(-SHIFT_SPAN, -1)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(0, SHIFT_SPAN - 1)
    )
    scored = filled.select(
        "event_type",
        "hour_epoch",
        F.sum("n_events").over(w_prev).alias("s_prev"),
        F.count(F.lit(1)).over(w_prev).alias("c_prev"),
        F.sum("n_events").over(w_next).alias("s_next"),
        F.count(F.lit(1)).over(w_next).alias("c_next"),
    ).filter((F.col("c_prev") == SHIFT_SPAN) & (F.col("c_next") == SHIFT_SPAN))
    mean_prev = F.col("s_prev").cast("double") / F.col("c_prev")
    mean_next = F.col("s_next").cast("double") / F.col("c_next")
    shift = mean_next - mean_prev
    return scored.select(
        "event_type",
        "hour_epoch",
        mean_prev.alias("mean_prev"),
        mean_next.alias("mean_next"),
        shift.alias("shift"),
    ).filter(
        F.abs(shift) > F.lit(SHIFT_FRACTION) * mean_prev
    )


#: fixed inter-arrival latency buckets (upper bounds in seconds; integer
#: comparisons — portable, unlike a log2() bucket whose boundary ulps
#: could differ cross-engine)
INTERARRIVAL_BUCKETS = (60, 600, 3600, 21600, 86400)


def events_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type histogram of user inter-arrival gaps — the latency/
    engagement-cadence distribution (how long between a user's consecutive
    events of each type).

    The one honest data-scale stage is the per-(user, type) ordered lag
    window (shuffle + sort on the partition key — unavoidable: gaps are a
    sequential property). Bucketing is a CASE ladder over integer second
    bounds, then a tiny (types x buckets) aggregate with exact integer gap
    sums for the per-bucket mean.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gaps = (
        events.select(
            "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
        )
        .withColumn("gap_s", (F.col("us") - F.lag("us").over(w)) / 1_000_000)
        .filter(F.col("gap_s").isNotNull())
        .withColumn("gap_s", F.col("gap_s").cast("long"))
    )
    bucket = F.lit(f">{INTERARRIVAL_BUCKETS[-1]}s")
    for bound in reversed(INTERARRIVAL_BUCKETS):
        bucket = F.when(F.col("gap_s") < bound, F.lit(f"<{bound}s")).otherwise(bucket)
    return gaps.groupBy(F.col("event_type"), bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("sum_gap_s"),
    )


def _rfm_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(F.unix_micros("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("frequency"),
            money_sum(F.col("value"), "monetary"),
        )
    )


def _rfm_segment_col() -> F.Column:
    return F.format_string(
        "R%dF%dM%d",
        F.col("r_quintile"),
        F.col("f_quintile"),
        F.col("m_quintile"),
    )


def users_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation over
    purchase events — the classic customer-value scoring.

    One per-user aggregate, then quintile assignments with a unique
    tie-break (user_id) so bucketing is total-ordered and cross-engine
    identical. Quintiles come from the DISTRIBUTED global rank
    (plans/ranking.py: range repartition + per-partition offsets), not
    ``ntile().over(Window.orderBy(...))`` — the partition-less window is
    a single-task sort over O(users) rows, which at 100 TB of events is
    billions of users through one executor thread.

    Round-9 (the round-7 lead, finally measured worth it at 4.4 s cold):
    ONE ranking pass instead of three chained ones. The three metrics
    MELT into (metric_idx, order_value, user_id) rows — order values
    negated longs so every metric is "desc, then user_id" under one
    ascending total order (monetary is micros-exact in double, so its
    long micros preserve its exact order) — and one global rank over
    (metric_idx, order_value, user_id) ranks the three metric blocks
    contiguously: rank within metric = global_rank - metric_idx x
    n_users, with n_users = n/3 exactly (every user carries all three
    metrics). A groupBy(user_id) pivot reassembles one row per user.
    Plan: one range shuffle + one hash shuffle, vs three chained
    range-repartition rank passes (each with its own persist + offsets
    subplan). Output is bit-identical to the three-pass form
    (``users_rfm_segments_threepass``, parity-tested).
    """
    from symat_hbase_tools_spark.plans.ranking import (
        global_order_rank,
        ntile_from_rank,
    )

    per_user = _rfm_per_user(spark, sf_dir)
    melted = per_user.select(
        "user_id",
        "frequency",
        "monetary",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("mi"), (-F.col("last_us")).alias("ov")
                ),
                F.struct(
                    F.lit(1).alias("mi"), (-F.col("frequency")).alias("ov")
                ),
                F.struct(
                    F.lit(2).alias("mi"),
                    (
                        -F.round(F.col("monetary") * F.lit(1_000_000.0)).cast(
                            "long"
                        )
                    ).alias("ov"),
                ),
            )
        ).alias("m"),
    ).select(
        "user_id",
        "frequency",
        "monetary",
        F.col("m.mi").alias("mi"),
        F.col("m.ov").alias("ov"),
    )
    ranked, n = global_order_rank(
        melted, [F.col("mi"), F.col("ov"), F.col("user_id")], "g_rank"
    )
    n_users = (n / F.lit(3)).cast("long")
    metric_rank = F.col("g_rank") - F.col("mi").cast("long") * n_users
    q = ntile_from_rank(metric_rank, n_users, 5)
    return (
        ranked.groupBy("user_id")
        .agg(
            F.first("frequency").alias("frequency"),
            F.first("monetary").alias("monetary"),
            F.max(F.when(F.col("mi") == 0, q)).alias("r_quintile"),
            F.max(F.when(F.col("mi") == 1, q)).alias("f_quintile"),
            F.max(F.when(F.col("mi") == 2, q)).alias("m_quintile"),
        )
        .withColumn("segment", _rfm_segment_col())
    )


def users_rfm_segments_threepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-round-9 three-chained-rank form of
    :func:`users_rfm_segments`, kept as its bit-parity witness."""
    from symat_hbase_tools_spark.plans.ranking import (
        global_order_rank,
        ntile_from_rank,
    )

    per_user = _rfm_per_user(spark, sf_dir)
    ranked, n = global_order_rank(
        per_user, [F.col("last_us").desc(), F.col("user_id")], "r_rank"
    )
    ranked, _ = global_order_rank(
        ranked, [F.col("frequency").desc(), F.col("user_id")], "f_rank"
    )
    ranked, _ = global_order_rank(
        ranked, [F.col("monetary").desc(), F.col("user_id")], "m_rank"
    )
    return ranked.select(
        "user_id",
        "frequency",
        "monetary",
        ntile_from_rank(F.col("r_rank"), n, 5).alias("r_quintile"),
        ntile_from_rank(F.col("f_rank"), n, 5).alias("f_quintile"),
        ntile_from_rank(F.col("m_rank"), n, 5).alias("m_quintile"),
    ).withColumn("segment", _rfm_segment_col())


def events_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event types' hourly count
    series — the ops-diagnostics question "do error spikes track traffic?".

    Correlates over the DENSE hour spine (zero hours included — skipping
    them biases r upward, the classic mistake). All moments (n, Σx, Σy,
    Σxy, Σx², Σy²) are exact integer sums over the O(hours x type-pairs)
    self-joined series; r is assembled in ONE mirrored double expression.
    Everything after the first aggregate is driver-scale.
    """
    # persist: the filled series is BOTH self-join sides; Spark does not
    # dedupe common subplans (round-3 advisory — without this the events
    # scan + hourly aggregate + spine + fill window run twice per action)
    filled = pin(
        events_gap_fill(spark, sf_dir).select(
            "hour_epoch", "event_type", F.col("n_events").alias("n")
        ),
        "type_correlation_filled",
    )
    a, b = filled.alias("a"), filled.alias("b")
    pairs = a.join(b, "hour_epoch").filter(
        F.col("a.event_type") < F.col("b.event_type")
    )
    mom = pairs.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a.n")).alias("sx"),
        F.sum(F.col("b.n")).alias("sy"),
        F.sum(F.col("a.n") * F.col("b.n")).alias("sxy"),
        F.sum(F.col("a.n") * F.col("a.n")).alias("sxx"),
        F.sum(F.col("b.n") * F.col("b.n")).alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    )
    return mom.select("type_a", "type_b", "n", (num / den).alias("pearson_r"))


#: retention check offsets (days after signup)
RETENTION_DAYS = (1, 7, 30)


def users_dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D7/D30 retention by signup-day cohort — the growth metric next
    to DAU/WAU/MAU: of the users who first signed up on day X, how many
    were active (any event) exactly k days later.

    Scale shape: signups reduce to one row per user (min-aggregate);
    activity reduces to DISTINCT (user, day) — both partial-aggregated
    to user-scale before the one equi-join on user_id. The retention
    flags are conditional count-distincts over the joined frame, so the
    whole report is one more k-group aggregate. Rates divide two exact
    integers, mirrored.
    """
    events = load_table(spark, sf_dir, "events")
    day_no = (
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
    ).cast("long")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day_no).alias("cohort_day"))
    )
    activity = events.select("user_id", day_no.alias("act_day")).distinct()
    j = signups.join(activity, "user_id")
    aggs = [F.count_distinct("user_id").alias("n_signups")]
    for k in RETENTION_DAYS:
        aggs.append(
            F.count_distinct(
                F.when(F.col("act_day") - F.col("cohort_day") == k, F.col("user_id"))
            ).alias(f"d{k}_active")
        )
    out = j.groupBy("cohort_day").agg(*aggs)
    rate_cols = [
        (F.col(f"d{k}_active").cast("double") / F.col("n_signups")).alias(
            f"d{k}_rate"
        )
        for k in RETENTION_DAYS
    ]
    return out.select(
        F.date_format(
            F.to_timestamp(F.col("cohort_day") * 86400), "yyyy-MM-dd"
        ).alias("cohort"),
        "n_signups",
        *[F.col(f"d{k}_active") for k in RETENTION_DAYS],
        *rate_cols,
    )


def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics over user_id — the report that decides whether
    a join/aggregate on this key needs salting (operators/skew.py) or AQE
    skew handling: key count, hottest-key share, top-10 share, and the
    Gini coefficient of the per-key event-count distribution.

    Shape: one partial-aggregated count per key (the only data-scale
    stage), then a DISTRIBUTED ascending rank over O(keys) rows
    (plans/ranking.py — a partition-less row_number window would funnel
    every key through one task at 100 TB) and a 1-row moment aggregate.
    The top-10 slice is an ``orderBy().limit(10)`` — Catalyst plans it as
    TakeOrderedAndProject (per-partition heaps, no global sort) — joined
    in as a 1-row broadcast. Gini uses the rank formula
    G = (2*Σ(i*c_i) - (n+1)*Σc) / (n*Σc) with counts sorted ascending and
    a unique tie-break — every term an exact integer, one mirrored double
    expression at the end.
    """
    from symat_hbase_tools_spark.plans.ranking import global_order_rank

    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    ranked, _n = global_order_rank(
        counts, [F.col("c").asc(), F.col("user_id").asc()], "i"
    )
    top10 = (
        counts.orderBy(F.col("c").desc(), F.col("user_id").asc())
        .limit(10)
        .agg(F.sum("c").alias("top10"))
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total"),
        F.max("c").alias("max_c"),
        F.sum(F.col("i") * F.col("c")).alias("ic"),
    ).crossJoin(F.broadcast(top10))
    return m.select(
        "n_keys",
        F.col("total").alias("total_events"),
        F.col("max_c").alias("max_key_events"),
        (F.col("max_c").cast("double") / F.col("total")).alias("top1_share"),
        (F.col("top10").cast("double") / F.col("total")).alias("top10_share"),
        (
            (
                F.lit(2.0) * F.col("ic")
                - (F.col("n_keys") + F.lit(1)).cast("double") * F.col("total")
            )
            / (F.col("n_keys").cast("double") * F.col("total"))
        ).alias("gini"),
    )


def events_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB notch of ``events_active_users``: trailing-7-day active
    users via the mergeable HLL sketch (``approx_count_distinct``) next to
    the exact count, tolerance-oracle form (the approx_distinct_parts
    pattern): the query emits the EXACT count (hash-comparable) plus a
    boolean asserting the sketch is within 5% relative error — sketch
    drift flips the boolean and fails the driver's hash compare.

    Why this is THE scale path: the exact fan-out shuffles (user, day)
    pairs; the sketch version partial-aggregates HLL registers map-side,
    so the shuffle carries O(days x register_width) regardless of user
    count, and day sketches are mergeable across arbitrary re-partitions.
    """
    events = load_table(spark, sf_dir, "events")
    day_no = (
        F.unix_timestamp(F.date_trunc("day", F.col("ts"))) / 86400
    ).cast("long")
    pairs = events.select(day_no.alias("day_no"), "user_id").distinct()
    # (round-15 audit note: this pairs reference does NOT re-run the
    # distinct — Catalyst's RemoveRedundantAggregates drops the distinct
    # under a max, so the bounds branch is already scan -> partial max;
    # verified in plans/r15/events_active_users_approx_before.txt)
    bounds = pairs.agg(F.max("day_no").alias("hi"))
    fan = pairs.select(
        "user_id",
        F.explode(F.sequence(F.col("day_no"), F.col("day_no") + 6)).alias(
            "report_day"
        ),
    ).join(F.broadcast(bounds), F.col("report_day") <= F.col("hi"))
    counted = fan.groupBy("report_day").agg(
        F.count_distinct("user_id").alias("wau_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    )
    return counted.select(
        F.date_format(
            F.to_timestamp(F.col("report_day") * 86400), "yyyy-MM-dd"
        ).alias("day"),
        "wau_exact",
        (
            F.abs(F.col("approx") - F.col("wau_exact"))
            <= 0.05 * F.col("wau_exact")
        ).alias("sketch_ok"),
    )


def events_percentile_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed-quantile serving notch (companion to the HLL WAU
    gate above): ``percentile_approx`` — Spark's mergeable Greenwald-
    Khanna-style quantile sketch, the aggregate a 100 TB latency/value
    dashboard actually runs — next to the EXACT percentile, tolerance-
    oracle form: the query emits the exact p50/p95 (hash-comparable,
    round-6) plus a boolean asserting the sketch lands within 5% relative
    error (+1e-6 absolute floor for near-zero medians). Sketch drift
    flips the boolean and fails the driver's hash compare.

    Why this is the scale path: the exact percentile sorts every group's
    values; the sketch partial-aggregates bounded summaries map-side, so
    the shuffle carries O(types x sketch_size) regardless of event count,
    mergeable across arbitrary re-partitions.

    Accepted ulp risk (same class as bm25's ln() note): the exact
    columns hash-compare Spark's ``percentile`` against DuckDB's
    ``quantile_cont``. Both linearly interpolate, but the interpolation
    arithmetic can differ in the last ulp, which on an adversarial value
    sitting within one ulp of a 0.5e-6 rounding boundary could flip the
    6th decimal. On this fixture the nearest p50/p95 values sit >>1e-9
    from any such boundary; if a future fixture trips it, switch the
    exact columns to the same relative-tolerance boolean as sketch_ok.
    """
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50x"),
        F.percentile("value", 0.95).alias("p95x"),
        F.percentile_approx("value", 0.5, 10000).alias("p50a"),
        F.percentile_approx("value", 0.95, 10000).alias("p95a"),
    )
    tol = lambda a, x: (  # noqa: E731
        F.abs(F.col(a) - F.col(x)) <= 0.05 * F.abs(F.col(x)) + 1e-6
    )
    return g.select(
        "event_type",
        F.round("p50x", 6).alias("p50_exact"),
        F.round("p95x", 6).alias("p95_exact"),
        (tol("p50a", "p50x") & tol("p95a", "p95x")).alias("sketch_ok"),
    )


#: top-N session paths reported
TOP_PATHS = 20


def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session journeys: the most common ordered event-type sequences
    within a session (8h-gap sessionization, same rule as
    events_sessionize) — the path/journey analysis behind "what do users
    actually do in a visit".

    Shape: one window pass per user assigns session ids (lag-gap +
    running sum — the standard sessionize recurrence), a per-session
    ordered aggregate renders the path string (sort_array over
    (us, event_id, type) structs keeps ordering INSIDE the aggregate —
    no second window), then a path-count aggregate and an exact top-N
    with a path tie-break. Everything after the per-user window is
    session-scale.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    prev = F.lag(us).over(w)
    is_new = (
        F.when(prev.isNull(), 0)
        .when(us - prev > 8 * 3600 * 1_000_000, 1)
        .otherwise(0)
    )
    sess = events.select(
        "user_id",
        us.alias("us"),
        "event_id",
        "event_type",
        F.sum(is_new).over(w).alias("session_no"),
    )
    paths = sess.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.sort_array(
                F.collect_list(F.struct("us", "event_id", "event_type"))
            ).getField("event_type"),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_sessions"))
    # top-k via orderBy().limit(): Catalyst plans TakeOrderedAndProject
    # (per-partition heaps) instead of the single-partition sort a
    # row_number window forces; the rank column is then a window over the
    # ALREADY-LIMITED k rows — constant-size at any corpus scale
    w_top = Window.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return (
        counted.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(TOP_PATHS)
        .withColumn("rank", F.row_number().over(w_top))
        .select("rank", "path", "n_sessions")
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types per user
    stream — the journey model behind next-action prediction and funnel
    design: P(next = to | current = from).

    Shape: one per-user ordered lag window derives consecutive pairs (the
    honest sequential shuffle), then a (from, to)-keyed aggregate and a
    broadcast of per-from totals; probabilities divide two exact
    integers.
    """
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    pairs = (
        events.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("p"),
    )


#: EWMA window depth: weights 2^-(j+1) for lag j — the alpha = 1/2
#: exponential kernel truncated at 16 hours (weight < 1e-5 past it)
EWMA_LAGS = 16


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly EWMA of event value per type — exponential smoothing, the
    baseline every drift/alerting pipeline draws under the raw series.

    EXACT-DYADIC formulation (no float accumulation anywhere): alpha is
    fixed at 1/2, so the truncated kernel's weights are powers of two —
    numerator = sum over the last ``EWMA_LAGS`` zero-filled hours of
    v_micros[t-j] * 2^(LAGS-1-j) and denominator = the sum of the
    weights present (series starts see fewer) are both EXACT bigint
    sums; the smoothed value is one division of identical bigints.
    A float pow()-kernel EWMA would accumulate in engine-specific order
    and drift in the last ulp; this one hash-matches bit-for-bit.
    Headroom: the 16-term numerator's weights sum to 2^16 - 1 = 65535,
    so hourly value sums are safe up to int64_max / 65535 ~ 1.4e14
    micros (~$140M/hour at micro-dollar quantization) — rescale the
    quantization unit past that. ANSI mode throws loudly on overflow
    rather than wrapping.

    Scale shape: ONE partial-aggregated pass over events (exact micros
    sum per hour x type); the spine/zero-fill and the 16-lag window run
    over the O(hours x types) hourly table — driver-scale after the
    aggregate, the events_gap_fill argument. The 16 lags share one
    window spec (single pass).

    Output: (hour_epoch, event_type, n_events, v_micros, ewma).
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
    vm = F.round(F.col("value") * 1e6).cast("long")
    hourly = events.groupBy(hour.alias("hour_epoch"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(vm).alias("v")
    )
    bounds = hourly.agg(
        F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi")
    )
    types = hourly.select("event_type").distinct()
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600))).alias("hour_epoch")
    ).crossJoin(F.broadcast(types))
    grid = (
        spine.join(hourly, ["hour_epoch", "event_type"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
        .withColumn("v", F.coalesce("v", F.lit(0)))
    )
    w = Window.partitionBy("event_type").orderBy("hour_epoch")
    num = None
    den = None
    for j in range(EWMA_LAGS):
        lv = F.lag("v", j).over(w) if j else F.col("v")
        weight = 1 << (EWMA_LAGS - 1 - j)
        t_num = F.coalesce(lv * F.lit(weight), F.lit(0))
        t_den = F.when(
            (F.lag("v", j).over(w) if j else F.col("v")).isNotNull(),
            F.lit(weight),
        ).otherwise(F.lit(0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return grid.select(
        "hour_epoch",
        "event_type",
        F.col("n").alias("n_events"),
        F.col("v").alias("v_micros"),
        (num.cast("double") / den / 1e6).alias("ewma"),
    )


def users_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full weekly cohort-retention TRIANGLE — signup week x weeks
    since signup -> active-user counts and rates — the matrix behind
    every retention heatmap (``users_dn_retention`` reports the D1/D7/D30
    slices of the same construction at day grain).

    Scale shape: signups reduce to one row per user (min-aggregate),
    activity to DISTINCT (user, week) — both partial-aggregated to
    user-scale BEFORE the single equi-join on user_id; the matrix is one
    (cohort_week, week_no) aggregate over the joined frame. Rates divide
    exact integers (count_distinct of user ids), mirrored bit-for-bit.

    Output: (cohort_week, week_no, n_cohort, n_active, retention_rate)
    for week_no >= 0 — one row per realized (cohort, offset) cell.
    """
    events = load_table(spark, sf_dir, "events")
    # the Monday's epoch seconds — week offsets are then exact integer
    # divisions by 604800 (Monday-to-Monday distances are exact weeks)
    wk = F.unix_timestamp(F.date_trunc("week", F.col("ts")))
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(wk).alias("cohort_wk"))
    )
    cohort_sizes = signups.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    activity = events.select("user_id", wk.alias("act_wk")).distinct()
    cells = (
        signups.join(activity, "user_id")
        .filter(F.col("act_wk") >= F.col("cohort_wk"))
        .groupBy(
            "cohort_wk",
            ((F.col("act_wk") - F.col("cohort_wk")) / 604800)
            .cast("long")
            .alias("week_no"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(cohort_sizes), "cohort_wk").select(
        F.date_format(F.to_timestamp("cohort_wk"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        "week_no",
        "n_cohort",
        "n_active",
        (F.col("n_active").cast("double") / F.col("n_cohort")).alias(
            "retention_rate"
        ),
    )


def events_seasonal_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type — the diurnal shape a
    capacity planner or anomaly baseline needs (the companion to
    ``events_anomaly_hours``: that scores hours against a FLAT mean, this
    exposes the systematic 24h cycle that should be removed first).

    Per (event_type, hour_of_day 0-23): event count, the type's share of
    events landing in that hour, and the mean event value. Determinism:
    counts and value sums are EXACT integers (micro-quantized values, the
    module's money-state discipline); share and avg_value are single
    divisions of exact integers, mirrored verbatim in the oracle.
    hour_of_day is pure integer epoch arithmetic ((epoch_s // 3600) % 24)
    — no session-timezone dependence on either engine.

    Scale shape: ONE partial-aggregated pass over events to O(types x 24)
    rows; the per-type totals aggregate those same rows and broadcast
    back. Nothing data-scale after the first aggregate.
    """
    events = load_table(spark, sf_dir, "events")
    # POSITIVE-EPOCH ASSUMPTION (here and in events_burst_users /
    # the seasonal backtest): Spark's floor()/pmod() floor toward -inf
    # while the DuckDB oracle's // and % truncate toward zero — the two
    # agree only for ts >= 1970-01-01. Event-log timestamps satisfy this
    # by construction; a corpus with pre-epoch timestamps would need the
    # oracle rewritten with explicit floor-division semantics.
    hod = F.pmod(F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000), 24).cast(
        "long"
    )
    micros = F.round(F.col("value") * 1_000_000).cast("long")
    cell = events.groupBy(F.col("event_type"), hod.alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(micros).alias("sm"),
    )
    totals = cell.groupBy("event_type").agg(F.sum("n_events").alias("tot"))
    return cell.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        (F.col("n_events").cast("double") / F.col("tot")).alias("share"),
        F.round(
            F.col("sm").cast("double") / F.col("n_events") / 1_000_000.0, 6
        ).alias("avg_value"),
    )


def events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the SEASONAL-NAIVE hourly forecast (predict this hour's
    event count with the count 24h earlier) — the baseline every real
    forecasting model must beat, and the sanity number a pipeline owner
    reads before trusting any fancier predictor.

    Scored hours: every hour h in [first_hour + 24h, last_hour] (bounds
    from the stream itself, broadcast as a one-row subplan) where the hour
    OR its 24h-earlier partner had any events; a missing side counts as 0
    events — a forecast that misses an outage hour is an error, not a
    skipped row. (Hours empty on BOTH sides have zero error and are
    excluded from the denominator — on a dense stream there are none.)
    Per event_type: hours scored, total absolute error, MAE, and mean
    signed bias. All error sums are EXACT integers; the two divisions are
    mirrored in the oracle.

    Scale shape: one partial-aggregated pass to O(hours x types); the
    forecast join is a self-join of that REDUCED table on (type, hour-24h)
    — never a data-scale shuffle; bounds ride along broadcast.
    """
    events = load_table(spark, sf_dir, "events")
    # positive-epoch assumption — see events_seasonal_hourly
    hour = (F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000) * 3600).cast(
        "long"
    )
    hourly = events.groupBy(
        F.col("event_type"), hour.alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = hourly.agg(
        F.min("h").alias("h_min"), F.max("h").alias("h_max")
    )
    actual = hourly.select(
        "event_type", "h", F.col("n").alias("n_act")
    )
    forecast = hourly.select(
        "event_type", (F.col("h") + 86400).alias("h"), F.col("n").alias("n_fc")
    )
    scored = (
        actual.join(forecast, ["event_type", "h"], "full_outer")
        .select(
            "event_type",
            "h",
            F.coalesce("n_act", F.lit(0)).alias("n_act"),
            F.coalesce("n_fc", F.lit(0)).alias("n_fc"),
        )
        .crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("h") >= F.col("h_min") + 86400) & (F.col("h") <= F.col("h_max"))
        )
    )
    err = F.col("n_act") - F.col("n_fc")
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(F.abs(err)).alias("total_abs_err"),
        F.round(
            F.sum(F.abs(err)).cast("double") / F.count(F.lit(1)), 6
        ).alias("mae"),
        F.round(F.sum(err).cast("double") / F.count(F.lit(1)), 6).alias("bias"),
    )


def events_burst_users(
    spark: SparkSession, sf_dir: str, per_minute_limit: int = 2
) -> DataFrame:
    """Rate-limit audit: users whose event rate hit ``per_minute_limit``
    events inside one tumbling minute — the would-have-been-throttled
    report an abuse/quota owner runs before turning a limiter on (and the
    skew input: these users are the hot keys of every user-keyed
    aggregate downstream).

    Per flagged user: burst minutes, the worst minute's count, total
    events, and the first burst minute's epoch. Exact integers
    throughout; minute = pure epoch arithmetic, timezone-free.

    Scale shape: one partial-aggregated (user, minute) pass, then a
    per-user aggregate of the reduced table — two shuffles, both on the
    natural keys; the total-events column rides the same reduced rows
    (sum of minute counts), never a second scan.
    """
    events = load_table(spark, sf_dir, "events")
    # positive-epoch assumption — see events_seasonal_hourly
    minute = (F.floor(F.unix_micros(F.col("ts")) / 60_000_000) * 60).cast("long")
    per_min = events.groupBy(
        F.col("user_id"), minute.alias("m")
    ).agg(F.count(F.lit(1)).alias("c"))
    lim = int(per_minute_limit)
    return (
        per_min.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("c") >= lim, 1).otherwise(0)).alias(
                "n_burst_minutes"
            ),
            F.max("c").alias("max_per_minute"),
            F.sum("c").alias("total_events"),
            F.min(F.when(F.col("c") >= lim, F.col("m"))).alias(
                "first_burst_minute"
            ),
        )
        .filter(F.col("n_burst_minutes") >= 1)
    )


def events_heavy_hitters(
    spark: SparkSession, sf_dir: str, phi: int = 128, capacity: int = 256
) -> DataFrame:
    """EXACT heavy hitters (users with > n/phi of all events) found at
    bounded state: per-partition Misra-Gries summaries (mergeable-summary
    merge: add batch value_counts, then subtract the (capacity+1)-th
    largest and drop non-positive — Agarwal et al., "Mergeable
    Summaries") generate a candidate set that PROVABLY contains every
    global item with frequency > n/(capacity+1); the candidates are then
    exactly recounted with one semi join and thresholded. With phi <=
    capacity the guarantee covers the asked threshold, so the output is
    EXACT — the sketch is the candidate generator, not the answer.

    Why not plain groupBy(user).count() alone: at 100 TB the full
    per-user count table is itself corpus-scale state through the
    shuffle; MG caps per-task state at `capacity` entries and the only
    wide ops are a candidate-set distinct (<= capacity x tasks tiny
    rows) and one recount aggregate over the semi-joined slice. Output:
    (user_id, n_events, share) for users over the threshold; share is
    the division of identical bigints (bit-stable cross-engine).
    """
    if phi > capacity:
        raise ValueError(f"phi={phi} must be <= capacity={capacity}")
    events = load_table(spark, sf_dir, "events")

    def mg(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            for u, c in pdf["user_id"].value_counts().items():
                counts[u] = counts.get(u, 0) + int(c)
                # prune as soon as the dict overflows so task state is
                # truly <= capacity + 1 entries at every point (not
                # capacity + one batch's distinct keys); subtracting the
                # (capacity+1)-th largest drops at least the min entry,
                # and MG's decrement-mass bound holds for any prune
                # schedule, so the candidate guarantee is unchanged
                if len(counts) > capacity:
                    kth = sorted(counts.values(), reverse=True)[capacity]
                    counts = {x: v - kth for x, v in counts.items() if v > kth}
        yield pd.DataFrame({"user_id": list(counts.keys())})

    cands = events.select("user_id").mapInPandas(
        mg, schema="user_id long"
    ).dropDuplicates(["user_id"])
    tot = events.agg(F.count(F.lit(1)).alias("n_total"))
    counted = (
        events.join(F.broadcast(cands), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        counted.crossJoin(F.broadcast(tot))
        .filter(F.col("n_events") * phi > F.col("n_total"))
        .select(
            "user_id",
            "n_events",
            F.round(
                F.col("n_events").cast("double") / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
        )
    )
