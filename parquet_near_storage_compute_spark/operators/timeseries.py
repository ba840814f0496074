"""Time-series / semi-structured operators over the ``events`` table.

The reference treats timestamps as plain Int64 columns (SURVEY.md §1.1); this
module adds the time-bucketing, sessionization and JSON-extraction surface a
telemetry workload (Snowset is one) actually needs — all with native
functions, no UDFs.

Time buckets are emitted as formatted strings: Spark reads the parquet
timestamps as TIMESTAMP_NTZ while DuckDB sees TIMESTAMP, and a string output
makes the oracle comparison representation-stable.

Scale design: tumbling-window aggregation is a single hash aggregate on
(bucket, key) — identical shuffle profile to any group-by. Sessionization is
one window pass per user partition + one aggregate; no self-joins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.tables import (
    load_table,
    local_literal_df,
)

_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows via F.window (Structured-Streaming-compatible
    windowing in batch mode)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", _FMT).alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h window, 1h slide): each event lands in 2 buckets."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", _FMT).alias("win_start"),
            F.date_format("w.end", _FMT).alias("win_end"),
            "n_events",
        )
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative-sum
    session ids, then per-user session stats.

    Bit-exact since r10 (VERDICT r9 #6): the two-level value sum runs over
    integer CENTS (events.value is 2-decimal money), so the result no
    longer depends on IEEE summation order across the unordered two-level
    aggregation; the single cents/100.0 at the end is exactly determined."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    with_flag = ev.withColumn(
        "new_session",
        F.when(F.lag("ts", 1).over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    with_sess = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        with_sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("session_cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            (F.sum("session_cents") / 100.0).alias("total_value"),
        )
    )


def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: parse the JSON payload with a declared schema
    (F.from_json → typed struct; SURVEY §7.4) and aggregate on it."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("k", F.from_json("props", "k INT").getField("k"))
    return parsed.groupBy("event_type").agg(
        F.avg("k").alias("avg_k"),
        F.max("k").alias("max_k"),
        F.count(F.when(F.col("k") > 50, F.lit(1))).alias("n_k_gt_50"),
    )


def datetime_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime field extraction (year/month/dow/hour) + group-by."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour_of_day")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in session windows (F.session_window, 30-min gap) —
    the declarative form of ``sessionize``; same shuffle profile as any
    keyed aggregation and directly reusable under Structured Streaming.

    Bit-exact since r10 (VERDICT r9 #6): integer-cents value sums, the
    same device as ``sessionize`` (see there)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("session_cents"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            (F.sum("session_cents") / 100.0).alias("total_value"),
        )
    )


def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-calendar gap filling: hourly (hour, event_type) counts with
    missing slots emitted as zeros — what downstream charting/anomaly
    jobs need (a silent hour IS the signal, and a sparse group-by can't
    show it).

    Scale shape: the fact side collapses to an (hours × types) aggregate
    BEFORE any join, so every join here is dimension-sized — the calendar
    is built by exploding a sequence off the 1-row min/max frame and
    cross-joining the distinct-types frame (a deliberate tiny-side
    nested-loop join, whitelisted in test_plan_quality), then the counts
    left-join onto it. Nothing row-level ever re-shuffles."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    span = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = span.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    cal = hours.crossJoin(ev.select("event_type").distinct())
    return (
        cal.join(counts, ["h", "event_type"], "left")
        .select(
            F.date_format("h", _FMT).alias("hour_start"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.col("n").isNull().alias("was_gap"),
        )
        .orderBy("hour_start", "event_type")
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (round 4): users grouped by first-seen day; for
    each (cohort_day, day_offset) the distinct users active that many days
    after joining, plus the fraction of the cohort retained — the standard
    product-analytics curve, and for a training-data pipeline the
    freshness/activity profile of a telemetry source.

    Scale shape: the cohort day comes from a min-window over the user
    partition (ONE shuffle on user_id, no join back — the groupBy+rejoin
    form would shuffle events twice), then one aggregate on
    (cohort, offset) keys. Cohort sizes are the aggregate's own offset-0
    rows, read via a window over the cohort partition of the tiny
    (cohorts×offsets) frame — a filter+broadcast-rejoin would re-execute
    the whole events subtree for a dimension-sized branch. The retention
    fraction divides two exact counts, so both engines compute the
    identical double."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn("cohort_d", F.min("d").over(w))
    ret = cohorted.groupBy(
        "cohort_d", F.datediff("d", "cohort_d").alias("day_offset")
    ).agg(F.countDistinct("user_id").alias("n_users"))
    wc = Window.partitionBy("cohort_d")
    return (
        ret.withColumn(
            "cohort_size",
            F.max(F.when(F.col("day_offset") == 0, F.col("n_users"))).over(wc),
        )
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_users",
            "cohort_size",
            (F.col("n_users") / F.col("cohort_size")).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day (round 4) — 'cumulative uniques',
    the growth curve every telemetry dashboard wants and a naive
    countDistinct-over-window cannot compute at scale (distinct state per
    frame grows unboundedly).

    The classic reformulation: a user counts on every day ≥ their first-seen
    day, so cumulative uniques at day d = #users with first_seen ≤ d. One
    user-keyed aggregate (first_seen), one day-keyed count, then a running
    sum over the ≤#days frame — the unbounded-state window never exists;
    the single-partition window at the end spans only #days rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("first_d"))
    per_day = first.groupBy("first_d").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    w = Window.orderBy("first_d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.date_format("first_d", "yyyy-MM-dd").alias("day"),
        "n_new_users",
        F.sum("n_new_users").over(w).alias("cum_users"),
    ).orderBy("day")


#: MAD anomaly threshold: a bucket is anomalous when
#: |n − median| > MAD_K × MAD. All quantities are exact binary fractions
#: (medians of integers interpolate to halves), so the comparison cannot
#: drift between engines.
MAD_K = 3


def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection per event type (round 4): hourly
    counts vs the type's median ± MAD_K × MAD (median absolute deviation) —
    the monitoring pass a pipeline runs over its own telemetry; MAD ignores
    the outliers that corrupt a stddev rule.

    Scale shape: one (hour, type) aggregate over the events — the ONLY
    row-level shuffle and the only execution of the events subtree. The
    median and MAD are whole-partition window aggregates over the
    ≤hours×types counts frame, partitioned by event_type (the
    groupBy+broadcast-join form would re-execute the events aggregate for
    each statistics branch). Exactness: counts are integers, medians
    interpolate to binary halves, MAD_K is an integer — every comparison
    is exact in both engines."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type")
    dev = hourly.withColumn(
        "med", F.percentile("n", F.lit(0.5)).over(wt)
    ).withColumn("adev", F.abs(F.col("n") - F.col("med")))
    flagged = dev.withColumn(
        "mad", F.percentile("adev", F.lit(0.5)).over(wt)
    )
    return (
        flagged.filter(F.col("adev") > MAD_K * F.col("mad"))
        .select(
            F.date_format("h", _FMT).alias("hour_start"),
            "event_type",
            "n",
            "med",
            "mad",
        )
        .orderBy("hour_start", "event_type")
    )


#: Funnel stage order (event sequence a conversion must follow).
FUNNEL_STAGES = ("view", "click", "purchase")


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose first view precedes their
    first click precedes their first purchase. The classic product-analytics
    query — and a stage-ordering pattern SQL engines usually need window
    functions or self-joins for.

    Shape: one conditional min-aggregate per stage keyed on user_id (a
    single shuffle, map-side combined), then a 1-row stage summary unpivoted
    via struct-explode (same device as train_profile_columns). No self-join,
    no window over the fact table — at 100 TB the per-user frame is the only
    exchange and it's the minimal one."""
    ev = load_table(spark, sf_dir, "events")
    first = [
        F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
        for s in FUNNEL_STAGES
    ]
    per_user = ev.groupBy("user_id").agg(*first)
    s1, s2, s3 = (F.col(f"t_{s}") for s in FUNNEL_STAGES)
    reached = [
        s1.isNotNull(),
        s1.isNotNull() & (s2 > s1),
        s1.isNotNull() & (s2 > s1) & (s3 > s2),
    ]
    one = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        *[
            F.sum(r.cast("long")).alias(f"n_{i+1}")
            for i, r in enumerate(reached)
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(s).alias("stage_name"),
                F.col(f"n_{i+1}").alias("n_users"),
                (F.col(f"n_{i+1}").cast("double") / F.col("n_users")).alias(
                    "frac_of_users"
                ),
            )
            for i, s in enumerate(FUNNEL_STAGES)
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.stage", "r.stage_name", "r.n_users", "r.frac_of_users")
        .orderBy("stage")
    )


#: Chunk size for the EWMA fold: no aggregation buffer ever holds more
#: than this many events of one user (VERDICT r5 #5). At contract corpora
#: (≤99 events/user) every user is single-chunk, so the output is
#: bit-identical to the unchunked r5 form.
EWMA_CHUNK = 1024
EWMA_ALPHA = 0.5


def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event values —
    the smoothing primitive behind rate limiting, anomaly scoring, and
    engagement decay. EWMA is inherently sequential (s_i depends on
    s_{i-1}), which SQL engines cannot window-ize; the Spark form is a
    per-user left fold: ``collect_list(struct(event_id, value))`` →
    ``sort_array`` → ``F.aggregate`` with ``s + α·(x − s)``, all inside
    whole-stage codegen — no UDF.

    Bounded state (r6, VERDICT r5 #5): the fold is CHUNKED so a hot user
    never lands in one aggregation buffer. Events are split into
    EWMA_CHUNK-sized runs by per-user ordinal; each chunk folds
    independently (the first chunk seeded with its first value — the
    original semantics — later chunks seeded with 0, giving the partial
    P_c = Σ α(1−α)^{c_k−j} x_j); the linearity of the recurrence
    s' = (1−α)^k·s + P then collapses the stitch into a suffix-decay sum:
    s = Σ_c contrib_c·(1−α)^{n_after_c}, folded per user over n/CHUNK
    summary rows. Per-task memory is therefore ≤ EWMA_CHUNK structs plus
    n/EWMA_CHUNK summaries, at any per-user event count.

    Engine-exactness discipline: both engines run the
    IDENTICAL op sequence — per-chunk ``list_reduce`` folds in event_id
    order, α = 0.5 an exact binary scale, decay (1−α)^n an exact power
    of two, and the stitch a sequential sum in chunk order — so the
    result stays bit-identical cross-engine; in the single-chunk regime
    it is also bit-identical to the unchunked form (0.0 + s·1.0 is
    exact)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    chunked = ev.select("user_id", "event_id", "value").withColumn(
        "chunk",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(EWMA_CHUNK)).cast("long"),
    )
    arr = F.sort_array(F.collect_list(F.struct("event_id", "value")))
    vals = F.transform(arr, lambda s: s["value"])
    rest = F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    step = lambda acc, x: acc + F.lit(EWMA_ALPHA) * (x - acc)
    per_chunk = chunked.groupBy("user_id", "chunk").agg(
        F.count(F.lit(1)).alias("k"),
        # first-chunk form: seeded with the chunk's first value
        F.aggregate(rest, F.element_at(vals, 1), step).alias("seeded"),
        # later-chunk form: the seed-0 partial of the same recurrence
        F.aggregate(vals, F.lit(0.0), step).alias("partial"),
    )
    wc = Window.partitionBy("user_id").orderBy("chunk")
    wu = Window.partitionBy("user_id")
    summaries = per_chunk.select(
        "user_id",
        "chunk",
        "k",
        (F.sum("k").over(wu) - F.sum("k").over(wc)).alias("n_after"),
        F.when(F.col("chunk") == 0, F.col("seeded"))
        .otherwise(F.col("partial"))
        .alias("contrib"),
    )
    stitched = summaries.groupBy("user_id").agg(
        F.sum("k").alias("n_events"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "chunk",
                            (F.col("contrib") * F.pow(F.lit(0.5), F.col("n_after"))).alias("c"),
                        )
                    )
                ),
                lambda s: s["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ewma_value"),
    )
    return stitched.select("user_id", "n_events", "ewma_value").orderBy("user_id")


#: Resample grid step in seconds (6-hour grid). The grid is data-derived:
#: per user, slots span ⌈first_event/STEP⌉ .. ⌊last_event/STEP⌋, so grid
#: volume is bounded by users × span/STEP regardless of event rate.
RESAMPLE_SEC = 21600


def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with linear interpolation: each user's
    irregular event values sampled onto a fixed 6-hour grid — the
    align-before-correlate step every multi-series analysis (joins across
    sensors, correlation matrices, model features) needs, and the family
    member gap_fill (step/zero fill) and EWMA (smoothing) don't cover:
    values BETWEEN observations estimated from both neighbours.

    Shape: grid slots derive from the per-user (min, max) aggregate (a
    users-sized frame, exploded to slots), then ONE window shuffle on
    user_id over the events ∪ grid union finds each grid point's last
    event at-or-before (``last ignorenulls`` over the preceding frame)
    and first event after (``first ignorenulls`` over the following
    frame) in a single per-user sort — the classic as-of alignment with
    no self-join and no per-grid-point probe. Events are read twice (span
    + union), the gap_fill trade. A user's window rows = its events + its
    slots: the same per-user bound sessionize carries.

    Engine-exactness: everything is integer algebra. Times are truncated
    epoch SECONDS (the sessionize device; event ties broken by event_id,
    grid rows sort after same-second events), values integer cents, and
    the interpolated value is emitted in integer MILLI-units via
    ``(c0·10·(t1−t) + c1·10·(t−t0)) div (t1−t0)`` — integer-quantized
    linear interpolation. Quantization is truncation-toward-ZERO, not
    floor (ADVICE r10): cents can be negative (event values are signed),
    and both Spark ``div`` and DuckDB ``//`` truncate toward zero on a
    negative numerator — the engines agree bit-for-bit either way, which
    is the property that matters; the weights (time deltas) are
    non-negative, so the numerator's sign is the blended value's sign.
    Every grid point has both neighbours by construction: slots lie in
    [first, last], an event at t0 == t short-circuits to c0·10 (also the
    t1-is-null case when the last event sits exactly on the grid).
    Magnitudes: cents·10·span_secs < 2^63 up to ~$10M values over a
    ~30-year span — 100 TB-safe."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    span = ev.groupBy("user_id").agg(
        F.min("sec").alias("s_min"), F.max("sec").alias("s_max")
    )
    slots = (
        span.select(
            "user_id",
            F.expr(f"(s_min + {RESAMPLE_SEC - 1}) div {RESAMPLE_SEC}").alias(
                "slot0"
            ),
            F.expr(f"s_max div {RESAMPLE_SEC}").alias("slot1"),
        )
        .filter(F.col("slot0") <= F.col("slot1"))
        .select("user_id", F.explode(F.sequence("slot0", "slot1")).alias("slot"))
    )
    grid = slots.select(
        "user_id",
        (F.col("slot") * RESAMPLE_SEC).alias("sec"),
        F.lit(1).alias("kind"),
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("cents"),
    )
    union = ev.select(
        "user_id", "sec", F.lit(0).alias("kind"), "event_id", "cents"
    ).unionByName(grid)
    order = [F.col("sec"), F.col("kind"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_ev = F.col("kind") == 0
    nb = union.select(
        "user_id",
        "sec",
        "kind",
        F.last(F.when(is_ev, F.col("sec")), ignorenulls=True).over(wb).alias("t0"),
        F.last(F.when(is_ev, F.col("cents")), ignorenulls=True).over(wb).alias("c0"),
        F.first(F.when(is_ev, F.col("sec")), ignorenulls=True).over(wf).alias("t1"),
        F.first(F.when(is_ev, F.col("cents")), ignorenulls=True).over(wf).alias("c1"),
    )
    interp = F.when(F.col("t0") == F.col("sec"), F.col("c0") * 10).otherwise(
        F.expr("(c0 * 10 * (t1 - sec) + c1 * 10 * (sec - t0)) div (t1 - t0)")
    )
    return nb.filter(F.col("kind") == 1).select(
        "user_id",
        F.col("sec").alias("grid_sec"),
        interp.cast("long").alias("interp_milli"),
    )


#: LTTB bucket span (6 hours — the resample grid's step, so the two
#: downsampling views align): one representative point kept per
#: (user, non-empty bucket).
LTTB_BUCKET_SEC = 21600


def downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets plot downsampling (r11), the
    fixed-bucket CENTROID variant: per user and 6-hour bucket, keep the
    ONE point forming the largest triangle with the neighbouring
    buckets' centroids — the standard visual-fidelity reducer
    (Steinarsson 2013; what Grafana/Influx apply before plotting) that
    keeps spikes and inflection points where per-bucket avg/OHLC smear
    them. Completes the downsampling family: gap_fill (regularize),
    EWMA (smooth), OHLC (summarize), resample (interpolate), LTTB
    (select). The canonical LTTB ranks against the previously SELECTED
    point — an inherently sequential chain per series; this variant
    substitutes the previous bucket's centroid (the same simplification
    the parallel implementations ship), which keeps the op one window +
    one aggregate and makes every bucket independent. First/last
    buckets keep the user's first/last point verbatim (the LTTB
    endpoint rule); a single-bucket user keeps its earliest point.

    Exact-integer form: times are truncated epoch seconds, values
    integer cents (ROUND(value·100) — the resample device). The triangle
    area for point P against prev-centroid A = (pt/pn, pv/pn) and
    next-centroid C = (nt/nn, nv/nn) is compared via the integer
    numerator ``|(pt − pn·sec)·(nv − nn·cents) − (pv − pn·cents)·
    (nt − nn·sec)|`` — 2·area·pn·nn, a constant multiple within the
    bucket, so the argmax is the true LTTB argmax with NO division and
    no float. Overflow envelope (corrected r12): each FACTOR is a
    neighbour-local DIFFERENCE (origin cancels: pt − pn·sec =
    Σ(t_i − sec)), bounded by points-per-bucket × neighbour time/value
    spread, and must fit int64 — holds to ~10k-point buckets with
    ~30M-year gaps, far past real data. The PRODUCTS would NOT fit
    int64 at the extremes (two n×spread factors multiply: year-long
    gaps × $100k cents cross 2^63 at ~120 points/bucket), so they are
    computed in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): any two
    int64 factors' product < 8.6e37 is exact, and the score difference
    is exact up to 10^38−1 (HUGEINT to 1.7e38) — ~10^19× past the raw
    int64 product envelope; the committed corpora sit ~8 orders below
    even the factor bound. Ties (equal areas — exact duplicates)
    break by (sec, event_id): a total order, bit-stable across engines
    and partitionings.

    Scale shape: one map-side-combining (user, bucket) centroid
    aggregate; one user-keyed window over the BUCKET frame (rows =
    non-empty buckets, not events) for the neighbour sums; one 1:1 join
    back to the event stream (bucket-keyed — co-partitioned with the
    centroid exchange); one per-(user, bucket) argmax window whose
    partition is a single bucket's points (the per-key bound OHLC
    carries). Output = one row per non-empty (user, bucket) — the
    downsampling ratio IS the bound. No self-join, nothing quadratic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev = ev.withColumn(
        "bucket", F.expr(f"sec div {LTTB_BUCKET_SEC}").cast("long")
    )
    cent = ev.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pts"),
        F.sum("sec").cast("bigint").alias("st"),
        F.sum("cents").cast("bigint").alias("sv"),
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    nb = cent.select(
        "user_id",
        "bucket",
        "n_pts",
        F.lag("n_pts").over(w).alias("pn"),
        F.lag("st").over(w).alias("pt"),
        F.lag("sv").over(w).alias("pv"),
        F.lead("n_pts").over(w).alias("nn"),
        F.lead("st").over(w).alias("nt"),
        F.lead("sv").over(w).alias("nv"),
    )
    pts = ev.join(nb, ["user_id", "bucket"]).withColumn(
        "kind",
        F.when(F.col("pn").isNull(), "first")
        .when(F.col("nn").isNull(), "last")
        .otherwise("mid"),
    )
    # The four factors are neighbour-local differences, exact in int64 up
    # to points-per-bucket × neighbour spread < 2^63; the PRODUCTS are
    # taken in decimal so two near-full factors can't wrap (r12, ADVICE):
    # each |factor| < 2^63 has ≤ 19 digits, so each product < 8.6e37 fits
    # DECIMAL(38,0) exactly and their difference is exact up to 10^38−1
    # (the oracle's HUGEINT is exact to 1.7e38 — identical argmax
    # everywhere both are exact; past 10^38 Spark non-ANSI yields NULL
    # rather than a silently wrong argmax).
    d19 = "decimal(19,0)"
    f_pt = (F.col("pt") - F.col("pn") * F.col("sec")).cast(d19)
    f_nv = (F.col("nv") - F.col("nn") * F.col("cents")).cast(d19)
    f_pv = (F.col("pv") - F.col("pn") * F.col("cents")).cast(d19)
    f_nt = (F.col("nt") - F.col("nn") * F.col("sec")).cast(d19)
    score = F.abs(f_pt * f_nv - f_pv * f_nt)
    scored = pts.withColumn(
        "score", F.when(F.col("kind") == "mid", score)
    )
    # one total order serving all three kinds: first = (sec, event_id)
    # asc; last = the same desc (negated); mid = largest area first,
    # ties by (sec, event_id)
    o1 = (
        F.when(F.col("kind") == "first", F.col("sec"))
        .when(F.col("kind") == "last", -F.col("sec"))
        .otherwise(-F.col("score"))
    )
    o2 = F.when(F.col("kind") == "last", -F.col("sec")).otherwise(
        F.col("sec")
    )
    o3 = F.when(F.col("kind") == "last", -F.col("event_id")).otherwise(
        F.col("event_id")
    )
    wsel = Window.partitionBy("user_id", "bucket").orderBy(o1, o2, o3)
    return (
        scored.withColumn("rn", F.row_number().over(wsel))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "bucket", "event_id", "sec", "cents", "n_pts", "kind"
        )
    )


def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (candlestick bars): per (hour, event_type), the
    opening value, high, low, closing value, and volume — the standard
    time-series compaction that turns a raw event stream into a bounded
    per-window summary (finance bars, metrics rollups, dashboard
    downsampling all share this shape).

    Open/close need a deterministic FIRST/LAST within the bar: since r6
    they come from ``min_by``/``max_by`` over the (ts, event_id) ordering
    struct — part of the SAME hash aggregate as high/low/volume, so the
    whole op is ONE map-side-combinable exchange with no per-bar sort at
    all (the r5 form paid two extra window passes that ranked every event
    ascending and descending; min_by/max_by partials merge associatively,
    so a hot bar costs bounded per-task state instead of a full-bar sort).
    Output volume is bounded by bars×types no matter the event rate.
    Values as integer cents (floor(value·100)) — engine-exact; ordering
    ties broken by the unique event_id."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", "ts"), _FMT).alias("bar_start")
    base = ev.select(
        hour,
        "event_type",
        F.struct("ts", "event_id").alias("ord"),
        F.floor(F.col("value") * 100).alias("cents"),
    )
    return (
        base.groupBy("bar_start", "event_type")
        .agg(
            F.min_by("cents", "ord").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", "ord").alias("close_cents"),
            F.count(F.lit(1)).alias("volume"),
        )
        .orderBy("bar_start", "event_type")
    )


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (path analysis): for every consecutive
    pair of events per user, count (from_type → to_type) — the full
    Markov-chain view that funnels (fixed sequences) are a slice of.
    One lag window per user partition + one #types²-row aggregate; the
    transition share is emitted as integer basis points of the from-type's
    outgoing total (bp = 10000·n/total via integer division — engine-exact,
    no float ratio). At 100 TB: the window shuffle on user_id is the whole
    cost; the matrix is bounded by types² regardless of event volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .select("from_type", F.col("event_type").alias("to_type"))
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wout = Window.partitionBy("from_type")
    return (
        counts.withColumn("out_total", F.sum("n_transitions").over(wout))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr("CAST((10000 * n_transitions) div out_total AS BIGINT)").alias(
                "share_bp"
            ),
        )
        .orderBy("from_type", "to_type")
    )


#: Holt fixed point: level/trend are integers scaled by HOLT_SCALE;
#: α = 1/2 and β = 1/4 are exact binary scales (the EWMA discipline),
#: and every division in the recurrence is pinned to TRUNCATING integer
#: division (toward zero) — the semantics Spark's `div` and DuckDB's
#: `//` SHARE (measured: DuckDB (-7)//4 = -1, i.e. `//` truncates,
#: it does not floor — the sign matters because trends go negative).
HOLT_SCALE = 1 << 20


def holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend; Holt 1957 — the
    2-parameter tier of Holt-Winters) of each user's value series on the
    regular 6-hour grid: the forecasting primitive behind capacity
    planning and engagement-trend alerts, completing the smoothing
    family next to EWMA (level only). Per user, bucket means fold
    through the exact integer recurrence

        l' = (l + b + m·S) div 2              (α = 1/2)
        b' = (l' − l) div 4 + (3b) div 4      (β = 1/4)

    (div = truncating integer division, identical in Spark `div` and
    DuckDB `//`)

    seeded l₁ = m₁·S, b₁ = 0, with S = HOLT_SCALE; the report carries
    the final level/trend and the one-step forecast l + b.

    Like EWMA the recurrence is inherently sequential, but unlike EWMA
    the coupled (l, b) state breaks the suffix-decay chunk-stitch (the
    truncations make the affine map non-linear), so the fold deliberately
    runs UNCHUNKED — and stays bounded anyway because it folds over
    BUCKET MEANS, not events: per-user state is ≤ the calendar bucket
    count (68 at sf0.1; ~1.5k for a decade of 6-hour buckets), a
    schema-level dimension independent of event volume. Shape: one
    (user, bucket)-keyed combinable aggregate over the events, one
    user-keyed fold over ≤ calendar-many summary rows inside
    whole-stage codegen (F.aggregate, no UDF). The DuckDB oracle replays
    the identical floor steps as a recursive CTE keyed (user, ordinal).
    Citations: Holt 1957 / Hyndman & Athanasopoulos (fpp3) §8.2; the
    bucket/cents devices are `time_downsample_lttb`'s."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("sec"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn(
            "bucket", F.expr(f"sec div {LTTB_BUCKET_SEC}").cast("long")
        )
    )
    means = ev.groupBy("user_id", "bucket").agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("m")
    )

    def _tdiv(x, d: int):
        # truncating division (toward zero, = Spark `div` = DuckDB `//`)
        # as Column algebra: x − x % d is the toward-zero multiple of d
        # (Spark % follows the dividend's sign) and the final division
        # of an exact multiple is exact in double for |x| < 2^53
        return ((x - (x % F.lit(d))) / F.lit(d)).cast("long")

    arr = F.sort_array(F.collect_list(F.struct("bucket", "m")))
    ms = F.transform(arr, lambda s: s["m"])
    seed = F.struct(
        (F.element_at(ms, 1) * HOLT_SCALE).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
    )
    rest = F.slice(ms, 2, F.greatest(F.size(ms) - 1, F.lit(0)))

    def step(acc, m):
        lp = _tdiv(acc["l"] + acc["b"] + m * HOLT_SCALE, 2)
        bn = _tdiv(lp - acc["l"], 4) + _tdiv(3 * acc["b"], 4)
        return F.struct(lp.alias("l"), bn.alias("b"))

    folded = means.groupBy("user_id").agg(
        F.size(F.collect_list("m")).cast("long").alias("n_buckets"),
        F.aggregate(rest, seed, step).alias("s"),
    )
    return folded.select(
        "user_id",
        "n_buckets",
        F.col("s.l").alias("level_fp"),
        F.col("s.b").alias("trend_fp"),
        (F.col("s.l") + F.col("s.b")).cast("long").alias("forecast1_fp"),
    )


_HOLT_ORACLE = f"""
        WITH RECURSIVE ev AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        m AS (
          SELECT user_id, CAST(sec // {LTTB_BUCKET_SEC} AS BIGINT) AS bucket,
                 CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mv
          FROM ev GROUP BY user_id, bucket
        ),
        ord AS (
          SELECT user_id, mv,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket)
                   AS i,
                 COUNT(*) OVER (PARTITION BY user_id) AS k
          FROM m
        ),
        rec AS (
          SELECT user_id, 1 AS i, k,
                 CAST(mv * {HOLT_SCALE} AS BIGINT) AS l,
                 CAST(0 AS BIGINT) AS b
          FROM ord WHERE i = 1
          UNION ALL
          SELECT r.user_id, r.i + 1, r.k,
                 CAST((r.l + r.b + o.mv * {HOLT_SCALE}) // 2 AS BIGINT),
                 CAST((((r.l + r.b + o.mv * {HOLT_SCALE}) // 2) - r.l) // 4
                      + (3 * r.b) // 4 AS BIGINT)
          FROM rec r
          JOIN ord o ON o.user_id = r.user_id AND o.i = r.i + 1
        )
        SELECT user_id, CAST(k AS BIGINT) AS n_buckets,
               l AS level_fp, b AS trend_fp,
               CAST(l + b AS BIGINT) AS forecast1_fp
        FROM rec WHERE i = k
    """


#: PageRank fixed point: ranks are integers scaled by PR_SCALE, damping
#: d = PR_DAMP_NUM/PR_DAMP_DEN, PR_ITERS synchronous iterations — every
#: step a floor division, so the trajectory is engine-exact (Python
#: big-ints on the driver, HUGEINT in the oracle's unrolled CTEs; the
#: final ranks fit BIGINT).
PR_SCALE = 10**12
PR_ITERS = 8
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin & Page 1998) over the event-type transition graph —
    the centrality view of `events_markov_transitions`' matrix: which
    event types user flows concentrate on, with edge weights = transition
    counts and dangling mass (types with no outgoing transition)
    redistributed uniformly. Exact integer trajectory:

        R_{k+1}(v) = (15·S) // (100·N)
                   + (85·Σ_{out(u)=0} R_k(u)) // (100·N)
                   + Σ_u (85·R_k(u)·w(u,v)) // (100·out(u))

    with S = PR_SCALE, R_0(v) = S // N, every step a floor division —
    identical in the driver loop (Python big-ints) and the oracle's
    PR_ITERS unrolled MATERIALIZED CTEs (HUGEINT: 85·R·w can reach
    ~1e21 at 100 TB edge counts, past int64 but far inside HUGEINT; the
    final ranks are ≤ ~S and returned as BIGINT).

    Scale shape — the sim_mmr_select / PQ-train split: ONE corpus pass
    builds the transition matrix (the markov lag window per user + a
    #types²-row aggregate — the user-keyed window shuffle is the whole
    cost); the iteration then runs driver-side over the collected ≤ N²+N
    rows, where N is the EVENT-TYPE VOCABULARY (a schema dimension, 5
    here, maybe hundreds in a real product — never corpus-sized). A
    declarative per-iteration loop would pay a job per round for
    kilobytes of state. Result is a ≤N-row LocalTableScan in rank order
    (declared presentation sort)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .select("from_type", F.col("event_type").alias("to_type"))
    )
    edges = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    nodes = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )
    n = len(nodes)
    out_total = {
        v: sum(cnt for (u, _), cnt in edges.items() if u == v) for v in nodes
    }
    rank = {v: PR_SCALE // n for v in nodes}
    for _ in range(PR_ITERS):
        dangling = sum(rank[v] for v in nodes if out_total[v] == 0)
        base = (15 * PR_SCALE) // (PR_DAMP_DEN * n) + (
            PR_DAMP_NUM * dangling
        ) // (PR_DAMP_DEN * n)
        nxt = {v: base for v in nodes}
        for (u, v), cnt in edges.items():
            nxt[v] += (PR_DAMP_NUM * rank[u] * cnt) // (
                PR_DAMP_DEN * out_total[u]
            )
        rank = nxt
    rows = sorted(
        ((v, out_total[v], rank[v]) for v in nodes),
        key=lambda r: (-r[2], r[0]),
    )
    # declared ≤N-row presentation sort over a JVM-pure literal frame
    # (local_literal_df: createDataFrame's pickled-RDD relation paid a
    # Python-worker launch per action — 0.53 s noop runs for ≤20 rows;
    # a coalesce(1) single-task form measured ~8× slower still)
    return local_literal_df(
        spark, rows, "event_type string, out_total long, rank_fp long"
    ).orderBy(F.col("rank_fp").desc(), "event_type")


def _pagerank_oracle_sql() -> str:
    """PR_ITERS unrolled MATERIALIZED CTEs mirroring the driver loop step
    for step (the sim_mmr_select lesson: each round references the
    previous rank frame three times, so inlined CTEs would expand the
    scan tree exponentially)."""
    parts = [
        """pairs AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type,
                 event_type AS to_type
          FROM events
        ),
        w AS (
          SELECT from_type, to_type, CAST(COUNT(*) AS HUGEINT) AS n
          FROM pairs WHERE from_type IS NOT NULL
          GROUP BY from_type, to_type
        ),
        nodes AS (SELECT DISTINCT event_type FROM events),
        outt AS (
          SELECT nd.event_type,
                 CAST(COALESCE(SUM(w.n), 0) AS HUGEINT) AS out_total
          FROM nodes nd LEFT JOIN w ON w.from_type = nd.event_type
          GROUP BY nd.event_type
        ),
        nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n_nodes FROM nodes),"""
        + f"""
        r0 AS MATERIALIZED (
          SELECT event_type,
                 CAST({PR_SCALE} AS HUGEINT) // (SELECT n_nodes FROM nn) AS r
          FROM nodes
        )"""
    ]
    for k in range(1, PR_ITERS + 1):
        parts.append(
            f"""d{k} AS (
          SELECT CAST(COALESCE(SUM(p.r), 0) AS HUGEINT) AS dang
          FROM r{k - 1} p JOIN outt o USING (event_type)
          WHERE o.out_total = 0
        ),
        c{k} AS (
          SELECT w.to_type AS event_type,
                 SUM(({PR_DAMP_NUM} * p.r * w.n)
                     // ({PR_DAMP_DEN} * o.out_total)) AS contrib
          FROM r{k - 1} p
          JOIN w ON w.from_type = p.event_type
          JOIN outt o ON o.event_type = p.event_type
          GROUP BY w.to_type
        ),
        r{k} AS MATERIALIZED (
          SELECT nd.event_type,
                 ({15 * PR_SCALE} // ({PR_DAMP_DEN} * (SELECT n_nodes FROM nn)))
                 + (({PR_DAMP_NUM} * (SELECT dang FROM d{k}))
                    // ({PR_DAMP_DEN} * (SELECT n_nodes FROM nn)))
                 + COALESCE(c.contrib, 0) AS r
          FROM nodes nd LEFT JOIN c{k} c USING (event_type)
        )"""
        )
    body = ",\n        ".join(parts)
    return f"""
        WITH {body}
        SELECT nd.event_type AS event_type,
               CAST(o.out_total AS BIGINT) AS out_total,
               CAST(p.r AS BIGINT) AS rank_fp
        FROM nodes nd
        JOIN outt o USING (event_type)
        JOIN r{PR_ITERS} p USING (event_type)
        ORDER BY rank_fp DESC, event_type
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "time_tumbling_hourly": tumbling_hourly,
    "time_ohlc_bars": ohlc_bars,
    "events_markov_transitions": markov_transitions,
    "events_pagerank": pagerank,
    "time_holt_trend": holt_trend,
    "time_ewma": ewma_per_user,
    "time_sliding_window": sliding_window,
    "time_sessionize": sessionize,
    "time_session_window_native": session_window_native,
    "time_json_extract": json_extract,
    "time_datetime_parts": datetime_parts,
    "time_gap_fill": gap_fill_hourly,
    "time_resample_interpolate": resample_interpolate,
    "time_downsample_lttb": downsample_lttb,
    "events_funnel": events_funnel,
    "events_retention_cohorts": retention_cohorts,
    "events_cumulative_users": cumulative_distinct_users,
    "events_anomaly_mad": anomaly_mad,
}

ORACLE_SQL: dict[str, str] = {
    "events_pagerank": _pagerank_oracle_sql(),
    "time_holt_trend": _HOLT_ORACLE,
    "events_markov_transitions": """
        WITH pairs AS (
          SELECT LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS from_type,
                 event_type AS to_type
          FROM events
        ),
        counts AS (
          SELECT from_type, to_type, COUNT(*) AS n_transitions
          FROM pairs WHERE from_type IS NOT NULL
          GROUP BY from_type, to_type
        )
        SELECT from_type, to_type,
               CAST(n_transitions AS BIGINT) AS n_transitions,
               CAST((10000 * n_transitions)
                    // SUM(n_transitions) OVER (PARTITION BY from_type)
                    AS BIGINT) AS share_bp
        FROM counts ORDER BY from_type, to_type
    """,
    "time_ohlc_bars": """
        WITH base AS (
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                   AS bar_start,
                 event_type, ts, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY bar_start, event_type
                                    ORDER BY ts, event_id) AS rn_a,
                 ROW_NUMBER() OVER (PARTITION BY bar_start, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM base
        )
        SELECT bar_start, event_type,
               CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT)
                 AS open_cents,
               CAST(MAX(cents) AS BIGINT) AS high_cents,
               CAST(MIN(cents) AS BIGINT) AS low_cents,
               CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT)
                 AS close_cents,
               CAST(COUNT(*) AS BIGINT) AS volume
        FROM ranked GROUP BY bar_start, event_type
        ORDER BY bar_start, event_type
    """,
    # chunked fold, mirrored op-for-op (see ewma_per_user): per-chunk
    # list_reduce folds in event_id order, exact power-of-two suffix
    # decay, sequential stitch sum in chunk order
    "time_ewma": f"""
        WITH ord AS (
          SELECT user_id, event_id, value,
                 (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
                  - 1) // {EWMA_CHUNK} AS chunk
          FROM events
        ),
        per_chunk AS (
          SELECT user_id, chunk,
                 COUNT(*) AS k,
                 list_reduce(list(value ORDER BY event_id),
                             (a, b) -> a + {EWMA_ALPHA} * (b - a)) AS seeded,
                 list_reduce(
                   list_prepend(0.0::DOUBLE, list(value ORDER BY event_id)),
                   (a, b) -> a + {EWMA_ALPHA} * (b - a)) AS partial
          FROM ord GROUP BY user_id, chunk
        ),
        summaries AS (
          SELECT user_id, chunk, k,
                 SUM(k) OVER (PARTITION BY user_id)
                   - SUM(k) OVER (PARTITION BY user_id ORDER BY chunk
                                  ROWS UNBOUNDED PRECEDING) AS n_after,
                 CASE WHEN chunk = 0 THEN seeded ELSE partial END AS contrib
          FROM per_chunk
        )
        SELECT user_id,
               CAST(SUM(k) AS BIGINT) AS n_events,
               CAST(list_reduce(
                 list_prepend(0.0::DOUBLE,
                   list(contrib * pow(0.5, n_after) ORDER BY chunk)),
                 (a, b) -> a + b) AS DOUBLE) AS ewma_value
        FROM summaries GROUP BY user_id ORDER BY user_id
    """,
    "events_cumulative_users": """
        WITH first AS (
          SELECT user_id, MIN(CAST(ts AS DATE)) AS first_d
          FROM events GROUP BY user_id
        ),
        per_day AS (
          SELECT first_d, CAST(COUNT(*) AS BIGINT) AS n_new_users
          FROM first GROUP BY first_d
        )
        SELECT strftime(first_d, '%Y-%m-%d') AS day,
               n_new_users,
               CAST(SUM(n_new_users) OVER (ORDER BY first_d
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        FROM per_day ORDER BY day
    """,
    "events_anomaly_mad": f"""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS h, event_type,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ),
        med AS (
          SELECT event_type, median(n) AS med FROM hourly GROUP BY event_type
        ),
        dev AS (
          SELECT hourly.*, med.med, abs(n - med.med) AS adev
          FROM hourly JOIN med USING (event_type)
        ),
        mad AS (
          SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
        )
        SELECT strftime(dev.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
               dev.event_type, dev.n, dev.med, mad.mad
        FROM dev JOIN mad USING (event_type)
        WHERE dev.adev > {MAD_K} * mad.mad
        ORDER BY hour_start, event_type
    """,
    "events_retention_cohorts": """
        WITH ev AS (
          SELECT user_id, CAST(ts AS DATE) AS d,
                 MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_d
          FROM events
        ),
        ret AS (
          SELECT cohort_d, date_diff('day', cohort_d, d) AS day_offset,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM ev GROUP BY cohort_d, day_offset
        ),
        sizes AS (
          SELECT cohort_d, n_users AS cohort_size FROM ret WHERE day_offset = 0
        )
        SELECT strftime(r.cohort_d, '%Y-%m-%d') AS cohort_day,
               CAST(r.day_offset AS INT) AS day_offset,
               r.n_users,
               s.cohort_size,
               CAST(r.n_users AS DOUBLE) / s.cohort_size AS retention
        FROM ret r JOIN sizes s USING (cohort_d)
        ORDER BY cohort_day, day_offset
    """,
    "events_funnel": """
        WITH per_user AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                 MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          FROM events GROUP BY user_id
        ),
        one AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(CASE WHEN t_view IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
                 CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_2,
                 CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                               AND t_purchase > t_click
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_3
          FROM per_user
        )
        SELECT CAST(s.stage AS INT) AS stage, s.stage_name,
               CASE s.stage WHEN 1 THEN n_1 WHEN 2 THEN n_2 ELSE n_3 END
                 AS n_users,
               CAST(CASE s.stage WHEN 1 THEN n_1 WHEN 2 THEN n_2 ELSE n_3 END
                    AS DOUBLE) / one.n_users AS frac_of_users
        FROM one, (VALUES (1, 'view'), (2, 'click'), (3, 'purchase'))
             AS s(stage, stage_name)
        ORDER BY stage
    """,
    # mirrored op-for-op (see downsample_lttb): integer triangle-area
    # numerators against neighbour-bucket centroid sums, the same
    # three-kind total order, ROW_NUMBER argmax per (user, bucket)
    "time_downsample_lttb": f"""
        WITH ev AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 event_id,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        bk AS (
          SELECT *, CAST(sec // {LTTB_BUCKET_SEC} AS BIGINT) AS bucket
          FROM ev
        ),
        cent AS (
          SELECT user_id, bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_pts,
                 CAST(SUM(sec) AS BIGINT) AS st,
                 CAST(SUM(cents) AS BIGINT) AS sv
          FROM bk GROUP BY user_id, bucket
        ),
        nb AS (
          SELECT user_id, bucket, n_pts,
                 LAG(n_pts) OVER w AS pn, LAG(st) OVER w AS pt,
                 LAG(sv) OVER w AS pv,
                 LEAD(n_pts) OVER w AS nn, LEAD(st) OVER w AS nt,
                 LEAD(sv) OVER w AS nv
          FROM cent
          WINDOW w AS (PARTITION BY user_id ORDER BY bucket)
        ),
        pts AS (
          SELECT bk.user_id, bk.bucket, bk.sec, bk.event_id, bk.cents,
                 nb.n_pts, nb.pn, nb.pt, nb.pv, nb.nn, nb.nt, nb.nv,
                 CASE WHEN nb.pn IS NULL THEN 'first'
                      WHEN nb.nn IS NULL THEN 'last'
                      ELSE 'mid' END AS kind
          FROM bk JOIN nb USING (user_id, bucket)
        ),
        scored AS (
          -- products in HUGEINT (int128): exact for ANY int64 factors,
          -- mirroring the Spark side's DECIMAL(38,0) products (r12)
          SELECT *,
                 CASE WHEN kind = 'mid' THEN
                   abs(CAST(pt - pn * sec AS HUGEINT)
                         * (nv - nn * cents)
                       - CAST(pv - pn * cents AS HUGEINT)
                         * (nt - nn * sec))
                 END AS score
          FROM pts
        ),
        ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY user_id, bucket ORDER BY
                   CASE WHEN kind = 'first' THEN sec
                        WHEN kind = 'last' THEN -sec
                        ELSE -score END,
                   CASE WHEN kind = 'last' THEN -sec ELSE sec END,
                   CASE WHEN kind = 'last' THEN -event_id
                        ELSE event_id END) AS rn
          FROM scored
        )
        SELECT user_id, bucket, event_id, sec, cents, n_pts, kind
        FROM ranked WHERE rn = 1
    """,
    # mirrored op-for-op (see resample_interpolate): truncated epoch
    # seconds, integer cents, grid rows sorting after same-second events
    # (kind 1, event_id -1), floor-quantized milli-unit interpolation
    "time_resample_interpolate": f"""
        WITH ev AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 event_id,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        span AS (
          SELECT user_id, MIN(sec) AS s_min, MAX(sec) AS s_max
          FROM ev GROUP BY user_id
        ),
        slots AS (
          SELECT user_id,
                 unnest(generate_series(
                   (s_min + {RESAMPLE_SEC - 1}) // {RESAMPLE_SEC},
                   s_max // {RESAMPLE_SEC})) AS slot
          FROM span
        ),
        u AS (
          SELECT user_id, sec, 0 AS kind, event_id, cents FROM ev
          UNION ALL
          SELECT user_id, slot * {RESAMPLE_SEC} AS sec, 1 AS kind,
                 CAST(-1 AS BIGINT) AS event_id, NULL AS cents
          FROM slots
        ),
        nb AS (
          SELECT user_id, sec, kind,
                 last_value(CASE WHEN kind = 0 THEN sec END IGNORE NULLS)
                   OVER wb AS t0,
                 last_value(CASE WHEN kind = 0 THEN cents END IGNORE NULLS)
                   OVER wb AS c0,
                 first_value(CASE WHEN kind = 0 THEN sec END IGNORE NULLS)
                   OVER wf AS t1,
                 first_value(CASE WHEN kind = 0 THEN cents END IGNORE NULLS)
                   OVER wf AS c1
          FROM u
          WINDOW wb AS (PARTITION BY user_id ORDER BY sec, kind, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wf AS (PARTITION BY user_id ORDER BY sec, kind, event_id
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, sec AS grid_sec,
               CAST(CASE WHEN t0 = sec THEN c0 * 10
                    ELSE (c0 * 10 * (t1 - sec) + c1 * 10 * (sec - t0))
                         // (t1 - t0) END AS BIGINT) AS interp_milli
        FROM nb WHERE kind = 1
    """,
    "time_gap_fill": """
        WITH counts AS (
          SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        span AS (
          SELECT date_trunc('hour', MIN(ts)) AS h0,
                 date_trunc('hour', MAX(ts)) AS h1
          FROM events
        ),
        hours AS (
          SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM span
        ),
        cal AS (
          SELECT h, event_type
          FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events)
        )
        SELECT strftime(cal.h, '%Y-%m-%d %H:%M:%S') AS hour_start,
               cal.event_type,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
               c.n IS NULL AS was_gap
        FROM cal LEFT JOIN counts c
          ON cal.h = c.h AND cal.event_type = c.event_type
        ORDER BY hour_start, cal.event_type
    """,
    "time_tumbling_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(value) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "time_sliding_window": """
        -- each event belongs to 2 sliding buckets: [trunc(ts)-1h, +2h) and
        -- [trunc(ts), +2h)
        WITH expanded AS (
          SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start FROM events
          UNION ALL
          SELECT date_trunc('hour', ts) AS win_start FROM events
        )
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
               strftime(win_start + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS win_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM expanded GROUP BY 1, 2
    """,
    "time_sessionize": """
        WITH flagged AS (
          SELECT user_id, value, ts, event_id,
                 -- date_trunc('second') matches Spark's unix_timestamp()
                 -- truncation of sub-second parts
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR epoch(date_trunc('second', ts))
                           - epoch(date_trunc('second', LAG(ts) OVER w)) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessioned AS (
          SELECT user_id, value,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
          FROM flagged
        ),
        per_session AS (
          -- integer-cents sums (r10): order-free integer addition, one
          -- exactly-determined /100.0 at the end — bit-exact vs Spark
          SELECT user_id, session_id,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                     AS session_cents
          FROM sessioned GROUP BY user_id, session_id
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(MAX(n_events) AS BIGINT) AS max_session_events,
               CAST(SUM(session_cents) AS BIGINT) / 100.0 AS total_value
        FROM per_session GROUP BY user_id
    """,
    "time_session_window_native": """
        -- Spark session_window semantics: events merge while the new
        -- event is <= previous event + gap (END-INCLUSIVE — empirically
        -- two events exactly 30min apart share one session), so a new
        -- session starts only when ts is STRICTLY past previous + gap.
        -- The r5 oracle used >= here ("end exclusive"); the r10
        -- randomized differential caught it on the 10-second-grid random
        -- corpus, where exactly-1800s gaps are common (the fixed corpus
        -- never hits the boundary).
        WITH flagged AS (
          SELECT user_id, value, ts, event_id,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessioned AS (
          SELECT user_id, value,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
          FROM flagged
        ),
        per_session AS (
          -- integer-cents sums (r10): same device as time_sessionize
          SELECT user_id, session_id,
                 COUNT(*) AS n_events,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                     AS session_cents
          FROM sessioned GROUP BY user_id, session_id
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(MAX(n_events) AS BIGINT) AS max_session_events,
               CAST(SUM(session_cents) AS BIGINT) / 100.0 AS total_value
        FROM per_session GROUP BY user_id
    """,
    "time_json_extract": """
        WITH parsed AS (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
          FROM events
        )
        SELECT event_type,
               CAST(AVG(k) AS DOUBLE) AS avg_k,
               CAST(MAX(k) AS INT) AS max_k,
               CAST(COUNT(CASE WHEN k > 50 THEN 1 END) AS BIGINT) AS n_k_gt_50
        FROM parsed GROUP BY event_type
    """,
    "time_datetime_parts": """
        SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
               CAST(hour(ts) AS INT) AS hour_of_day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    """,
}
