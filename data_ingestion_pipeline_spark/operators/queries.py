"""The reference's query-service surface, re-expressed on DataFrames.

Maps the three REST query endpoints plus the stored-proc-only
latest-per-station (SURVEY.md §2.3-§2.6) onto the driver testdata's
``events`` table — the weather-reading analog (user_id ≡ station_id,
value ≡ measure, ts ≡ timestamp):

- raw scan-filter-sort   ≡ GET /weather/{station_id}
  (`services/query/main.py:170-223`)
- grouped aggregate      ≡ GET /weather/aggregate/{station_id}
  (`services/query/main.py:262-272`)
- time-bucketed agg      ≡ GET /weather/timeseries/{station_id}
  (`services/query/main.py:342-354`; time_bucket ≡ tumbling window)
- latest per station     ≡ get_latest_weather_data DISTINCT ON
  (`migrations/db.sql:80-92`)

Scale notes: every function is a single declarative chain —
filter+projection push to the parquet scan; the aggregates do
map-side partial aggregation then one shuffle on the group key; the
global sort is the only range shuffle and is at the API boundary
(the reference also sorts only for presentation). At 100 TB the
time-range predicate would additionally prune partitions of a
time-partitioned table (see operators/upsert.py for the writer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.exact import dec_avg
from data_ingestion_pipeline_spark.sources.tables import load_table

# Query parameters (the REST path/query params, frozen for the oracle
# harness). user 7 ≡ {station_id}; the time range ≡ start_time/end_time.
STATION = 7
START = "2024-01-05 00:00:00"
END = "2024-01-20 00:00:00"


def raw_filter_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw readings for one station in a time range, newest first.

    ≡ `SELECT station_id, temperature, ... WHERE station_id=? AND
    timestamp BETWEEN ? AND ? ORDER BY timestamp DESC`
    (`services/query/main.py:200-212`).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("user_id") == STATION)
            & F.col("ts").between(F.lit(START).cast("timestamp"), F.lit(END).cast("timestamp"))
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("ts").desc())
    )


def raw_filter_open_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional-predicate variant: no time bounds supplied.

    The reference includes the BETWEEN clause only when both bounds
    are present (`services/query/main.py:207-209`); conditional plan
    construction is ordinary DataFrame code here.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") == STATION)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("ts").desc())
    )


def grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate stats for one station (avg/min/max/count).

    ≡ `services/query/main.py:262-272` (A1). Aliases match the
    oracle exactly (driver hashes by sorted column name).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("user_id") == STATION)
            & F.col("ts").between(F.lit(START).cast("timestamp"), F.lit(END).cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            dec_avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("reading_count"),
        )
    )


def grouped_agg_all_stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station stats over all stations.

    The multi-station endpoint the reference's integration tests
    probe but never implemented (`/weather/all`,
    `services/query/tests/test_query_integration.py:241-281`) —
    trivially the same plan without the station predicate. The group
    key is the natural shuffle key; partial aggregation means each
    of the ~1000 executors ships one row per station, not raw rows.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        dec_avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count(F.lit(1)).alias("reading_count"),
    )


def timeseries_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate for one station.

    ≡ `time_bucket('1 hour', timestamp)` + AVG + COUNT(*) GROUP BY
    bucket (`services/query/main.py:342-354`, default interval).
    date_trunc is the hour-aligned tumbling window; both engines
    align buckets identically.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("user_id") == STATION)
            & F.col("ts").between(F.lit(START).cast("timestamp"), F.lit(END).cast("timestamp"))
        )
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            dec_avg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("reading_count"),
        )
        .orderBy("bucket")
    )


def timeseries_15m_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute tumbling windows per station and event_type.

    The interval-parameterized variant (UI exercises 15m…1d,
    `services/query/main.py:324`); uses Spark's `window()` — the
    general `time_bucket` equivalent (epoch-aligned) — and a
    composite group key. Returns window start as `bucket`.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "15 minutes").alias("w"),
            F.col("user_id"),
            F.col("event_type"),
        )
        .agg(
            dec_avg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("reading_count"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "user_id",
            "event_type",
            "avg_value",
            "reading_count",
        )
    )


def raw_filter_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated raw query: page 2 of 20 rows, newest first.

    The reference never implemented pagination — its integration
    tests probe page/page_size and tolerate either answer
    (`services/query/tests/test_query_integration.py:167-201`,
    `README.md:361` lists it as future work). Spark 4 has
    offset/limit natively; the sort key includes event_id so page
    boundaries are deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") == STATION)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .offset(20)
        .limit(20)
    )


def raw_marshal_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP/JSON result marshal (K7 + F3): rows → JSON response
    strings with ISO-8601 timestamps.

    ≡ the query service's tuple→dict→isoformat marshal
    (`services/query/main.py:217-223`). Built with format_string +
    date_format so the byte layout is explicit (and oracle-matched
    via strftime); the engine-level point is that result marshal is a
    projection, not a driver-side loop.
    """
    ev = load_table(spark, sf_dir, "events")
    body = F.format_string(
        '{"event_id":%d,"ts":"%s","user_id":%d,"event_type":"%s","value":%.2f}',
        F.col("event_id"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
    )
    return (
        ev.filter(
            (F.col("user_id") == STATION)
            & F.col("ts").between(
                F.lit(START).cast("timestamp"), F.lit(END).cast("timestamp")
            )
        )
        .select(F.col("event_id").alias("event_id"), body.alias("json"))
    )


def latest_per_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest reading per station.

    ≡ `SELECT DISTINCT ON (station_id) ... ORDER BY station_id,
    timestamp DESC` (`migrations/db.sql:80-92`). row_number over a
    per-key window; ties broken by event_id so the result is
    deterministic under any partitioning.
    """
    return latest_of(load_table(spark, sf_dir, "events"))


def latest_of(ev: DataFrame) -> DataFrame:
    """latest_per_station over an already-loaded events frame (the
    serving facade passes its pinned-schema scan)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


def station_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station reading-to-reading change (lag window): the
    successive-difference primitive behind rate/derivative endpoints
    the reference's DB offers via LAG but its query service never
    exposed. One shuffle on user_id; (ts, event_id) ordering makes the
    frame total even if a station ever records two events in the same
    microsecond. IEEE double subtraction of identical inputs is
    correctly rounded, so the deltas are engine-identical with no
    decimal detour.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


DEBOUNCE_GAP_S = 60  # drop a repeat reading within this many seconds


def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensor-bounce removal: within each (station, event_type)
    stream, drop any reading that arrives less than DEBOUNCE_GAP_S
    after its immediate predecessor — the contact-debounce /
    duplicate-trigger filter a physical-sensor ingest runs before
    aggregation.

    Rule: gap-from-previous-RAW-row (one lag window, O(n), frame
    [-1,-1], one shuffle on the key, SQL-expressible on any engine).
    The alternative "gap from previous KEPT row" chains keep decisions
    through bursts and is inherently sequential (stateful scan per
    key — applyInPandasWithState territory, the session-window
    machinery); for debouncing, bursts shorter than the window make
    the two rules agree, and this feed's per-key cadence (minutes)
    vs the 60 s window is firmly in that regime — the oracle pins the
    lag rule exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    return (
        ev.withColumn("_gap", gap)
        .filter(F.col("_gap").isNull() | (F.col("_gap") >= DEBOUNCE_GAP_S))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def station_moving_avg_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24-hour moving average per station — a RANGE-frame
    window (frame bounded by time VALUE, not row count), the moving-
    aggregate shape TimescaleDB serves with window functions over
    hypertables.

    The frame is defined on unix seconds so the bound is an exact
    integer range; the windowed average uses decimal sums (exact,
    associative) over the frame SET, so equal-timestamp peers —
    included by RANGE in both engines — cannot reorder a float
    accumulation. One shuffle on user_id, sort by time within.
    """
    from data_ingestion_pipeline_spark.functions.exact import SCALE

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        (
            F.sum(F.col("value").cast(f"decimal(38,{SCALE})")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("avg_24h"),
        F.count(F.lit(1)).over(w).alias("n_24h"),
    )


def asof_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event annotated with the most recent
    click (ts ≤ purchase ts) by the same station — the classic
    event-attribution / point-in-time-correct lookup (DuckDB spells it
    ASOF JOIN; the oracle uses exactly that).

    Spark has no asof-join operator; the scalable formulation is the
    union + last(ignorenulls) pattern: tag both sides, union, and take
    the running last click over a per-station (ts, kind) ordering —
    clicks sort BEFORE purchases at equal ts, matching ASOF's
    inclusive bound. ONE shuffle on user_id and a linear merge —
    never the range-join explosion (a theta join on ts ≤ ts is O(n·m)
    per station), and never a driver-side loop. (user_id, ts) is
    unique in the data, so the ordering is total and the match
    deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        "event_id",
        "value",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = clicks.unionByName(purchases)
    return (
        u.select(
            "user_id",
            "ts",
            "kind",
            "event_id",
            "value",
            F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
            F.last("click_ts", ignorenulls=True).over(w).alias("click_ts"),
            F.last("click_value", ignorenulls=True).over(w).alias("click_value"),
        )
        .filter(F.col("kind") == 1)
        .select(
            "event_id", "user_id", "ts", "value", "click_id", "click_ts", "click_value"
        )
    )


def user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-station cumulative sum (ROWS UNBOUNDED PRECEDING frame) —
    the running-meter/odometer shape. The accumulation is a decimal
    sum over a totally-ordered frame ((ts, event_id) is a total
    order), so the value is exact and engine-identical at every row —
    a float running sum would disagree with any engine that
    accumulates in a different association. One shuffle on user_id.
    """
    from data_ingestion_pipeline_spark.functions.exact import SCALE

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum(F.col("value").cast(f"decimal(38,{SCALE})"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


CTX_WINDOW_SEC = 900  # 15-minute trailing context window


def range_join_error_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join with NO equi-key: every error event annotated
    with the count/sum of ALL events (any station) in its trailing
    15-minute window (err_ts−15m, err_ts].

    A naive formulation is a pure inequality (theta) join — Spark
    plans it as BroadcastNestedLoop/cartesian, O(n·m) comparisons at
    any scale. The scale-safe shape implemented here is BUCKETED
    range join: both sides bucket ts to the window width; a context
    row in bucket b can only serve errors in buckets {b, b+1}, so
    exploding the context side to those two keys turns the range join
    into an equi-join on bucket (shuffle hash join, each row compared
    only against its two neighboring buckets) followed by the exact
    range predicate. Cost O(n·d) where d = events per window — linear
    at fixed density, vs O(n²); the same construction is how
    interval-join engines (Flink interval join, range-partitioned
    merge joins) bound work. Plan non-cartesianness is asserted in
    tests/test_plans.py.

    The error row itself falls inside its own window (ts ≤ ts) and is
    counted — documented, matches the oracle.
    """
    from data_ingestion_pipeline_spark.functions.exact import SCALE

    ev = load_table(spark, sf_dir, "events")
    bkt = F.floor(F.unix_timestamp(F.col("ts")) / CTX_WINDOW_SEC)
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("err_ts"),
        bkt.alias("bucket"),
    )
    ctx = ev.select(
        F.col("ts").alias("ctx_ts"),
        F.col("value").alias("ctx_value"),
        F.explode(F.array(bkt, bkt + 1)).alias("bucket"),
    )
    return (
        err.join(ctx, "bucket")
        .filter(
            (F.col("ctx_ts") > F.col("err_ts") - F.expr(f"INTERVAL {CTX_WINDOW_SEC} SECONDS"))
            & (F.col("ctx_ts") <= F.col("err_ts"))
        )
        .groupBy("err_id", "err_ts")
        .agg(
            F.count(F.lit(1)).alias("n_ctx"),
            F.sum(F.col("ctx_value").cast(f"decimal(38,{SCALE})"))
            .cast("double")
            .alias("sum_ctx_value"),
        )
        .select(
            F.col("err_id").alias("event_id"),
            F.col("err_ts").alias("ts"),
            "n_ctx",
            "sum_ctx_value",
        )
    )


def parse_time_bound(bound: str) -> F.Column:
    """Input-boundary predicate (P6): parse an ISO-8601 bound, failing
    fast on garbage instead of silently matching nothing.

    The reference 400s on unparseable start/end times
    (`services/query/main.py:253-259`). In Spark, `to_timestamp`
    returns null on parse failure — which would silently turn a range
    scan into a full-miss filter. Under Spark 4's default ANSI mode
    the parse itself already raises CAST_INVALID_INPUT; the
    assert_true preserves fail-fast on non-ANSI clusters. assert_true
    evaluates to NULL when the check passes, so coalesce yields the
    parsed timestamp.
    """
    ts = F.to_timestamp(F.lit(bound))
    check = F.assert_true(ts.isNotNull(), F.lit(f"unparseable time bound: {bound!r}"))
    return F.coalesce(check.cast("timestamp"), ts)


def rollup_multires_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-station stats derived by RE-AGGREGATING 15-minute
    partials — the continuous-aggregate / hypertable-rollup pattern.

    At scale the fine-grained rollup (sum, count per 15m bucket) is
    maintained incrementally by the streaming pipeline
    (streaming/pipeline.py maintains exactly such a table); coarser
    resolutions then read the small rollup, never the raw events.
    Decimal partial sums recompose exactly, so the two-level result
    is bit-identical to aggregating the raw data directly — which is
    what the oracle asserts.
    """
    from data_ingestion_pipeline_spark.functions.exact import SCALE

    ev = load_table(spark, sf_dir, "events")
    dec = f"decimal(38,{SCALE})"
    fine = ev.groupBy(
        F.window("ts", "15 minutes").alias("w"), F.col("user_id")
    ).agg(
        F.sum(F.col("value").cast(dec)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        fine.groupBy(
            F.date_trunc("day", F.col("w.start")).alias("bucket"), "user_id"
        )
        .agg(
            (F.sum("s").cast("double") / F.sum("c")).alias("avg_value"),
            F.sum("c").alias("reading_count"),
        )
        .select("bucket", "user_id", "avg_value", "reading_count")
    )


def timeseries_sliding_1h15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate: 1-hour windows every 15 minutes for
    one station (SURVEY.md §2.7 notes sliding windows are free in
    Spark; the reference has only tumbling). Each event lands in 4
    overlapping windows — the fan-out happens inside the window()
    expression, before partial aggregation, so the shuffle still
    carries one row per (window, group)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("user_id") == STATION)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            dec_avg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("reading_count"),
        )
        .select(F.col("w.start").alias("bucket"), "avg_value", "reading_count")
    )


def session_windows_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap, per station.

    Spark's session_window merges events closer than the gap; a
    session spans [first_ts, last_ts + gap). The oracle reproduces
    exactly this with gaps-and-islands SQL (break when the gap is
    >= 30 minutes, matching Spark's exclusive session end).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dec_avg("value").alias("avg_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
            "avg_value",
        )
    )


def timeseries_1h_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series per station — the analog of
    TimescaleDB's time_bucket_gapfill + locf (the reference's DB
    offers it; its query service never got there).

    Pure JVM plan, no Python workers: the hourly aggregate is exact
    decimal aggregation; the per-station hour grid is
    ``sequence(min, max, interval 1 hour)`` exploded from the
    per-station bounds (one tiny row per station before the explode);
    locf is ``last(avg_value, ignorenulls=True)`` over an ordered
    per-station window. Filled values are COPIES of exact aggregates,
    so cross-engine equality is preserved bit-for-bit. Scale: the
    grid explode fans out from one row per station (not per event),
    the left join and the fill window share the user_id shuffle key,
    and everything stays inside whole-stage codegen.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("user_id"), F.date_trunc("hour", "ts").alias("bucket")
    ).agg(dec_avg("value").alias("avg_value"))

    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 hour"))
            ).alias("bucket"),
        )
    )
    joined = grid.join(hourly, ["user_id", "bucket"], "left")
    fill_w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "bucket",
        F.last("avg_value", ignorenulls=True).over(fill_w).alias("avg_value"),
        F.col("avg_value").isNull().alias("filled"),
    )
