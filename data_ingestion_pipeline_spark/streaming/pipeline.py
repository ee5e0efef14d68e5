"""Streaming ingest pipeline: replay → watermarked dedup → triggered
micro-batch upsert, with observable counters.

The reference's consumer loop is: Kafka poll → keyed in-flight dedup
in a shared dict (services/consumer/main.py:326-346) → size/time-
triggered flush (:348-353, :462-489) → per-row PK upsert (:225-249)
→ graceful drain on shutdown (:42-90). The Structured Streaming
re-expression, one concern per operator:

- T1 keyed dedup     → ``withWatermark`` + ``dropDuplicatesWithinWatermark``
                       (bounded state — strictly stronger than the
                       reference's unbounded dict).
- T2 size trigger    → ``maxFilesPerTrigger`` bounds micro-batch size.
- T3 time trigger    → ``trigger(processingTime=...)`` in deployment;
                       tests use ``availableNow`` for determinism.
- T4 graceful drain  → ``availableNow`` processes the backlog then
                       stops; checkpointed offsets make resume exact.
- T5 at-least-once + idempotent sink → ``foreachBatch`` into the
                       partition-overwrite upsert (operators/
                       upsert.py): replaying a batch rewrites the
                       same partitions to the same content.
- A4 counters        → ``observe()`` metrics per micro-batch
                       (messages/valid), aggregated after the drain —
                       the analog of the consumer's /stats
                       (messages_processed, in_memory_duplicates,
                       batches_persisted).

Late-data semantics (SURVEY.md §2.7), verified empirically in
tests/test_streaming.py: ``dropDuplicatesWithinWatermark`` ACCEPTS
arbitrarily late rows — matching the reference — because the
watermark only bounds dedup-state retention, it does not filter
input. The narrow divergence: a duplicate arriving more than the
horizon after its original is no longer in state and passes the
stream dedup — and is then collapsed anyway by the idempotent keyed
upsert sink, exactly as the reference's PK upsert absorbs
redeliveries. Defense in depth: state bounds memory, the sink
guarantees correctness.

Determinism note for the oracle-checked entries: injected duplicates
are verbatim copies (ingest._with_injected_duplicates), so the
surviving row per key is byte-identical no matter which micro-batch
wins, and the drained table equals the batch dedup of the same feed
under ANY file/batch ordering.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from data_ingestion_pipeline_spark.functions.exact import dec_avg, dec_sum
from data_ingestion_pipeline_spark.operators.ingest import _with_injected_duplicates
from data_ingestion_pipeline_spark.operators.upsert import (
    read_table,
    scratch_path,
    upsert_into_table,
)
from data_ingestion_pipeline_spark.sources.tables import load_table

# Flat record schema of the replay feed (the file-stream stand-in for
# the Kafka topic; schemas.EVENTS minus the free-form props column).
FEED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

FEED_COLS = [f.name for f in FEED_SCHEMA.fields]


# Bump when the feed layout/content rule changes — invalidates cached
# feed dirs built by earlier code.
_FEED_VERSION = "v1:4+2:mod5"
_FEED_MARKER = "_FEED_COMPLETE"


def _feed_is_current(feed_dir: str, key: str) -> bool:
    """True when feed_dir holds a completed build for `key` that still
    replays in write order. The file stream source replays files by
    modification time (millisecond resolution), so a copy that reset
    the mtimes (`cp -r`) would replay the feed in copy order: reuse
    requires every file of each recorded write to be strictly newer,
    in ms, than every file of the write before it. Anything else —
    no marker, another key, a missing file, mtimes out of order — is
    a miss, and the caller rebuilds."""
    try:
        with open(os.path.join(feed_dir, _FEED_MARKER)) as fh:
            marker = json.load(fh)
        if marker["key"] != key:
            return False
        ms = [
            [os.stat(os.path.join(feed_dir, n)).st_mtime_ns // 1_000_000 for n in w]
            for w in marker["writes"]
        ]
    except (OSError, ValueError, KeyError, TypeError):
        return False
    ms = [w for w in ms if w]
    return all(max(a) < min(b) for a, b in zip(ms, ms[1:]))


def _write_feed(feed_dir: str, key: str, writes: list[DataFrame]) -> None:
    """Rebuild feed_dir: append each frame as its own write, in order
    (sequential appends give each write strictly newer mtimes, which
    is the replay order), then mark the build complete with `key` and
    the file names of every write. A crashed half-build has no marker
    and is rebuilt."""
    shutil.rmtree(feed_dir, ignore_errors=True)
    seen: set[str] = set()
    names = []
    for df in writes:
        df.write.mode("append").parquet(feed_dir)
        new = {n for n in os.listdir(feed_dir) if n.endswith(".parquet")} - seen
        names.append(sorted(new))
        seen |= new
    with open(os.path.join(feed_dir, _FEED_MARKER), "w") as fh:
        json.dump({"key": key, "writes": names}, fh)


def build_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, with_dups: bool = True
) -> None:
    """Materialize the (optionally 20%-duplicated) events feed as a
    multi-file stream-source directory.

    Originals and duplicates are written separately (4 + 2 files), so
    a duplicate usually arrives in a DIFFERENT micro-batch than its
    original — exercising cross-batch dedup state, not just
    within-batch dropDuplicates.

    The feed is a pure function of (sf_dir, version) over read-only
    testdata, so a completed build is REUSED across invocations
    (_feed_is_current / _write_feed).
    """
    key = f"{_FEED_VERSION}:{sf_dir}:{with_dups}"
    if _feed_is_current(feed_dir, key):
        return
    ev = load_table(spark, sf_dir, "events").select(*FEED_COLS)
    writes = [ev.repartition(4)]
    if with_dups:
        writes.append(ev.filter(F.col("event_id") % 5 == 0).repartition(2))
    _write_feed(feed_dir, key, writes)


def _ordered_slices(df: DataFrame, n: int, *order: str) -> list[DataFrame]:
    """df cut into n contiguous ranges of `order`, one single-file
    write each, first range first."""
    from pyspark.sql import Window as W

    sliced = df.withColumn("_slice", F.ntile(n).over(W.orderBy(*order)))
    return [
        sliced.filter(F.col("_slice") == k).drop("_slice").coalesce(1)
        for k in range(1, n + 1)
    ]


def build_ordered_feed(
    spark: SparkSession, sf_dir: str, feed_dir: str, n_files: int = 4
) -> None:
    """Materialize the events feed as n_files stream-source files in
    GLOBAL time order: file k holds the k-th contiguous ts-range and
    is written (hence micro-batched) after file k-1 — the shape a real
    Kafka topic partition has, and the precondition for a meaningful
    watermark / disorder horizon (stream_session_windows_bounded).

    Fixture-builder note: the ntile split runs a global sort at test
    scale; this is harness setup simulating an ordered topic backlog —
    a production stream gets its order from the source itself, and a
    batch backfill would repartitionByRange instead.
    """
    key = f"{_FEED_VERSION}:ordered{n_files}:{sf_dir}"
    if not _feed_is_current(feed_dir, key):
        ev = load_table(spark, sf_dir, "events").select(*FEED_COLS)
        _write_feed(feed_dir, key, _ordered_slices(ev, n_files, "ts", "event_id"))


def build_ordered_feed_with_sentinel(
    spark: SparkSession, sf_dir: str, feed_dir: str
) -> None:
    """Ordered feed + a FINAL file holding two far-future sentinel
    rows (a click and, 4 h later, a purchase — user_id −1, matching
    nothing real and not each other: 4 h > the 1 h join window).

    Why: an outer stream-stream join emits an unmatched row only when
    the watermark passes its join-window end, and the watermark is
    max(event time seen) − delay — after the LAST real batch it sits
    2 h behind the newest event, so the newest unmatched rows would
    stay buffered forever (measured: 204 of 205 unmatched clicks at
    sf0.001 without the sentinel). The sentinel drags the final
    watermark past every real row's window; real deployments do
    exactly this with heartbeat/punctuation events on idle partitions.
    The sentinel rows are filtered from the join output by user_id."""
    key = f"{_FEED_VERSION}:ordered-sentinel:{sf_dir}"
    if _feed_is_current(feed_dir, key):
        return
    ev = load_table(spark, sf_dir, "events").select(*FEED_COLS)
    mx = ev.agg(F.max("ts").alias("m")).filter(F.col("m").isNotNull())
    sent = mx.selectExpr(
        "stack(2,"
        " -1L, m + INTERVAL 240 HOURS, -1L, 'click',    0.0D,"
        " -2L, m + INTERVAL 244 HOURS, -1L, 'purchase', 0.0D)"
        " AS (event_id, ts, user_id, event_type, value)"
    ).select(*FEED_COLS)
    _write_feed(
        feed_dir, key, [*_ordered_slices(ev, 4, "ts", "event_id"), sent.coalesce(1)]
    )


def prewarm_feeds(spark: SparkSession, sf_dir: str) -> None:
    """Build (or reuse) the stream-source fixture directories for every
    streaming entry. The feed simulates a Kafka topic's backlog — it is
    harness setup, not engine work, so the bench builds it untimed the
    same way testdata generation is untimed."""
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    build_feed(spark, sf_dir, scratch_path("stream_dedup", sf_name, "feed"))
    build_feed(
        spark, sf_dir, scratch_path("stream_ts1h", sf_name, "feed"), with_dups=False
    )
    build_ordered_feed(spark, sf_dir, scratch_path("stream_ordered", sf_name, "feed"))
    build_doc_feed(spark, sf_dir, scratch_path("stream_corpus", sf_name, "feed"))


# Stateful-stream shuffle/state partition count. The state store
# creates one provider (and its per-batch delta/snapshot files) per
# shuffle partition, fixed at first checkpoint; our streaming state is
# dimension-sized (≤ a few thousand groups), so inheriting the
# relational shuffle width (32 locally, 200 on a vanilla session)
# multiplies per-batch fixed costs — state files, Python workers for
# applyInPandasWithState — by 4-25× for zero parallelism gain
# (measured: 19.5 s → ~6 s for the first-seen drain at sf0.1). On a
# real cluster with high-cardinality keys, size this to the executor
# count instead; it is a parameter, not a constant of the design.
STREAM_SHUFFLE_PARTITIONS = 8

# File-count floor below which the session sink's MERGE skips stats
# pruning: the probe (incremental footer refresh + candidate filter)
# costs ~3 small jobs, which beats scanning only once the table has
# enough files for range locality to skip most of them. Toy-SF drains
# stay under this; a production stream crosses it within hours.
MERGE_PRUNE_MIN_FILES = 64


@contextmanager
def _stream_shuffle(spark: SparkSession, n: int = STREAM_SHUFFLE_PARTITIONS):
    """Temporarily pin spark.sql.shuffle.partitions for a streaming
    drain (AQE is disabled in stateful workloads, so the static value
    is what the state store and every foreachBatch job get)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


class _ObservedCounter(StreamingQueryListener):
    """Accumulates the `source` observed metric across ALL progress
    events of one query run.

    ``query.recentProgress`` retains only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    entries, so summing it after the drain silently undercounts
    replays longer than 100 micro-batches. Listener events carry
    every progress exactly once; QueryTerminated arrives after the
    last progress, so waiting on it makes the post-drain read safe.
    """

    def __init__(self) -> None:
        self.run_id: str | None = None
        self.messages = 0
        self.terminated = threading.Event()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        if self.run_id is not None and str(event.progress.runId) != self.run_id:
            return
        om = event.progress.observedMetrics.get("source")
        if om is not None:
            self.messages += om["messages"]

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if self.run_id is None or str(event.runId) == self.run_id:
            self.terminated.set()


def run_dedup_ingest(
    spark: SparkSession,
    feed_dir: str,
    table_path: str,
    checkpoint_dir: str,
    watermark: str = "30 days",
    max_files_per_trigger: int = 2,
) -> dict[str, int]:
    """Drain the feed through watermarked dedup into the partitioned
    upsert table; returns the /stats-style counters.

    availableNow + maxFilesPerTrigger = process the whole backlog as a
    sequence of bounded micro-batches, then stop (graceful drain). In
    a live deployment swap the trigger for processingTime="5 seconds"
    (T3) — nothing else changes.
    """
    persisted = {"rows": 0, "batches": 0}

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        bdf = bdf.persist()
        n = bdf.count()
        upsert_into_table(spark, table_path, bdf, ["user_id", "ts"], ts_col="ts")
        bdf.unpersist()
        persisted["rows"] += n
        persisted["batches"] += 1

    stream = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
        .observe("source", F.count(F.lit(1)).alias("messages"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "ts"])
    )
    counter = _ObservedCounter()
    spark.streams.addListener(counter)
    try:
        with _stream_shuffle(spark):
            query = (
                stream.writeStream.foreachBatch(_sink)
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start()
            )
            counter.run_id = str(query.runId)
            query.awaitTermination()
        counter.terminated.wait(timeout=60)
    finally:
        spark.streams.removeListener(counter)
    return {
        "messages_processed": counter.messages,
        "rows_persisted": persisted["rows"],
        "in_memory_duplicates": counter.messages - persisted["rows"],
        "batches_persisted": persisted["batches"],
    }


def stream_dedup_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle entry for the full streaming slice (T1+T2+T4+T5): replay
    the duplicated feed, dedup in-stream, upsert per micro-batch,
    return the drained table.

    Oracle = batch dedup of the same feed (same SQL as dedup_exact):
    the streamed result must equal the batch result exactly.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_dedup", sf_name, "feed")
    table = scratch_path("stream_dedup", sf_name, "table")
    ckpt = scratch_path("stream_dedup", sf_name, "ckpt")
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    build_feed(spark, sf_dir, feed)  # reused across invocations
    run_dedup_ingest(spark, feed, table, ckpt)
    return read_table(spark, table).select(*FEED_COLS)


def stream_timeseries_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the 1-hour timeseries aggregate (A3): windowed
    avg/count in update mode, each micro-batch upserting refreshed
    windows into a result table keyed by bucket.

    The final table state after the drain equals the batch aggregate
    over the whole feed — update-mode re-emits a window whenever a
    batch touches it, and the upsert keeps the latest emit, so the
    last write per window reflects all of its rows regardless of how
    the feed was batched.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_ts1h", sf_name, "feed")
    table = scratch_path("stream_ts1h", sf_name, "table")
    ckpt = scratch_path("stream_ts1h", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    build_feed(spark, sf_dir, feed, with_dups=False)  # reused across invocations

    agg = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
        .withWatermark("ts", "30 days")
        .filter(
            (F.col("user_id") == 7)
            & F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            dec_avg("value").alias("avg_value"),
            F.count(F.lit(1)).alias("reading_count"),
        )
        .select(
            F.col("w.start").alias("bucket"), "avg_value", "reading_count"
        )
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        upsert_into_table(spark, table, bdf, ["bucket"], ts_col="bucket")

    with _stream_shuffle(spark):
        query = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return read_table(spark, table).select("bucket", "avg_value", "reading_count")


def stream_ohlc_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the hourly OHLC candlestick
    (operators/toolkit.py::timeseries_ohlc_1h, station-7 slice):
    open/close as min/max of a (ts, event_id, value) struct are
    RE-MERGEABLE aggregates, so streaming state per window is one
    struct pair + two doubles + a count — constant per window
    regardless of batching — and update-mode re-emits upserted per
    bucket converge to the batch answer (hash-identical oracle), the
    same argument as the avg/count twin above.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_ts1h", sf_name, "feed")  # shared fixture
    table = scratch_path("stream_ohlc", sf_name, "table")
    ckpt = scratch_path("stream_ohlc", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    build_feed(spark, sf_dir, feed, with_dups=False)

    agg = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
        .withWatermark("ts", "30 days")
        .filter(
            (F.col("user_id") == 7)
            & F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
        )
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.min(F.struct("ts", "event_id", "value")).alias("o"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "event_id", "value")).alias("c"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            F.col("o.value").alias("open"),
            "high",
            "low",
            F.col("c.value").alias("close"),
            "n_readings",
        )
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        upsert_into_table(spark, table, bdf, ["bucket"], ts_col="bucket")

    with _stream_shuffle(spark):
        query = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return read_table(spark, table).select(
        "bucket", "open", "high", "low", "close", "n_readings"
    )


def stream_validate_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the validate/DLQ split (P2/K2): ONE drain,
    TWO idempotent sinks from the same micro-batch — valid rows upsert
    into the day-partitioned readings table, rejects land in a
    dead-letter table WITH their error envelope. The fan-out happens
    inside foreachBatch, so both routes observe the identical batch
    (no second subscription, no divergence window) — the reference
    does this with a Kafka DLQ produce per bad record
    (services/consumer/main.py:163-187); here both sides are
    replay-idempotent keyed upserts, so at-least-once delivery still
    yields exactly-once tables.

    Returns the union view (route = valid | dlq) so one oracle checks
    BOTH routes and their disjointness.
    """
    from data_ingestion_pipeline_spark.operators.ingest import _validity

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_ts1h", sf_name, "feed")  # shared dup-free fixture
    vt = scratch_path("stream_fanout", sf_name, "valid")
    dt = scratch_path("stream_fanout", sf_name, "dlq")
    ckpt = scratch_path("stream_fanout", sf_name, "ckpt")
    for p in (vt, dt, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    build_feed(spark, sf_dir, feed, with_dups=False)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # persist(), not localCheckpoint(eager=True): both evaluate the
        # validation rules once for the two-sink fan-out, but
        # localCheckpoint truncates lineage into executor-pinned blocks
        # — on a real cluster a lost executor kills the query instead
        # of recomputing. persist keeps lineage, so the cached split is
        # an optimization, never a failure domain.
        v = _validity(bdf).persist()
        try:
            upsert_into_table(
                spark,
                vt,
                v.filter(F.col("validation_error").isNull()).select(*FEED_COLS),
                ["user_id", "ts"],
            )
            upsert_into_table(
                spark,
                dt,
                v.filter(F.col("validation_error").isNotNull()).select(
                    *FEED_COLS, F.col("validation_error").alias("error")
                ),
                ["user_id", "ts"],
            )
        finally:
            v.unpersist()

    with _stream_shuffle(spark):
        query = (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(feed)
            .writeStream.foreachBatch(_sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    def _route(path: str, route: str, with_err: bool) -> DataFrame:
        if not os.path.isdir(path):
            return spark.createDataFrame(
                [],
                "route string, event_id bigint, ts timestamp, user_id bigint,"
                " event_type string, value double, error string",
            )
        df = read_table(spark, path)
        err = F.col("error") if with_err else F.lit(None).cast("string")
        return df.select(
            F.lit(route).alias("route"), *FEED_COLS, err.alias("error")
        )

    return _route(vt, "valid", False).unionByName(_route(dt, "dlq", True))


def stream_enriched_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — in-flight dimension enrichment: the
    purchase stream joins the customer dimension INSIDE the streaming
    plan (broadcast hash join, re-planned per micro-batch, so a
    dimension refresh is picked up on the next batch without
    restarting the query), then aggregates daily revenue per market
    segment. The canonical "enrich events with a dimension while they
    flow" pattern — at 100 TB the stream side never shuffles for the
    join; only the segment-day aggregate exchanges, and that is
    segment × day sized.

    Update-mode + keyed upsert sink: the drained table equals the
    batch join-aggregate over the whole feed (same last-write-wins
    convergence argument as stream_timeseries_1h); exact decimal sums
    keep it hash-identical to the SQL oracle.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_ts1h", sf_name, "feed")  # shared dup-free fixture
    table = scratch_path("stream_enrich", sf_name, "table")
    ckpt = scratch_path("stream_enrich", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    build_feed(spark, sf_dir, feed, with_dups=False)

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
        .filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .withWatermark("ts", "30 days")
        .groupBy(
            F.window("ts", "1 day").alias("w"), F.col("c_mktsegment")
        )
        .agg(
            dec_sum("value").alias("revenue"),
            F.count(F.lit(1)).alias("n_purchases"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "c_mktsegment",
            "revenue",
            "n_purchases",
        )
    )

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        upsert_into_table(
            spark, table, bdf, ["bucket", "c_mktsegment"], ts_col="bucket"
        )

    with _stream_shuffle(spark):
        query = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return read_table(spark, table).select(
        "bucket", "c_mktsegment", "revenue", "n_purchases"
    )


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join — the attribution shape: every purchase
    a station makes within one hour AFTER one of its clicks, joined
    while BOTH sides are unbounded streams (the reference queries this
    only at rest; Spark's watermarked stream-stream join maintains it
    continuously).

    Construction: the ordered feed is read as two independent file
    streams (clicks / purchases), each event-time-watermarked at a
    2-hour disorder horizon; the join condition is the equi-key
    (user_id) PLUS the event-time range purchase_ts ∈
    [click_ts, click_ts + 1 h]. Spark derives the state-retention
    bound from exactly that pair: a buffered click is dropped once the
    purchase-side watermark passes click_ts + 1 h + horizon, so state
    is rate × (join window + disorder horizon) — bounded on an endless
    stream, never total-history. That state math is THE reason the
    range condition must live in the join clause (a post-join filter
    would force unbounded buffering). Inner join → append mode → plain
    parquet sink; the checkpointed availableNow drain makes replays
    exactly-once (same file-idempotent contract as the parquet sink's
    _spark_metadata log).

    Matches the batch oracle exactly because the feed's disorder (one
    file boundary) is far inside the horizon — the same
    disorder-covering argument as stream_session_windows_bounded.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    table = scratch_path("stream_ssjoin", sf_name, "table")
    ckpt = scratch_path("stream_ssjoin", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    feed = scratch_path("stream_ordered", sf_name, "feed")
    build_ordered_feed(spark, sf_dir, feed)

    def _side(etype: str, id_alias: str, ts_alias: str) -> DataFrame:
        return (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(feed)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("user_id").alias(f"{id_alias[:-3]}_user"),
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "2 hours")
        )

    clicks = _side("click", "click_id", "click_ts")
    purchases = _side("purchase", "purchase_id", "purchase_ts")
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )

    with _stream_shuffle(spark):
        query = (
            joined.writeStream.format("parquet")
            .option("path", table)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    out_schema = (
        "user_id bigint, click_id bigint, click_ts timestamp, "
        "purchase_id bigint, purchase_ts timestamp"
    )
    import glob as _glob

    if not _glob.glob(os.path.join(table, "*.parquet")):
        # zero matches across the whole drain: the parquet stream sink
        # wrote only its metadata log — return the empty typed frame
        return spark.createDataFrame([], out_schema)
    return spark.read.parquet(table).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts"
    )


def stream_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join — attribution WITH the misses:
    every click, paired with its within-1-hour purchase or with NULLs
    if none ever arrives. Harder than the inner form: an unmatched
    click can only be emitted once the watermark PROVES no matching
    purchase can still arrive (purchase-side watermark past
    click_ts + 1 h), so correctness depends on watermark advancement,
    not just state retention. The feed therefore ends with a
    far-future sentinel file (see build_ordered_feed_with_sentinel) —
    the punctuation/heartbeat pattern real deployments use — so the
    final no-data batch flushes every pending unmatched click and the
    drained table equals the batch LEFT JOIN exactly.

    The watermark is applied BEFORE the event-type filter on each
    side: Catalyst pushes the type predicate below the watermark
    operator, so ordering them the other way would filter the
    sentinel out before it ever advanced the clock. For the same
    reason the sentinel CLICK must NOT be filtered inside the
    streaming plan at all: a post-join `click_user >= 0` predicate
    references only the left side, so Catalyst pushes it below the
    clicks-side EventTimeWatermark and the sentinel click never
    advances the clicks-side clock — the global watermark stalls at
    min(sides) and the last `horizon` hours of unmatched clicks stay
    buffered forever (the exact r6 failure: 1999/2006 rows). The
    sentinel rows instead flow through the join and are dropped on
    the drained READ-BACK, where no watermark exists to poison.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    table = scratch_path("stream_ssleft", sf_name, "table")
    ckpt = scratch_path("stream_ssleft", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    feed = scratch_path("stream_ordered_sent", sf_name, "feed")
    build_ordered_feed_with_sentinel(spark, sf_dir, feed)

    def _side(etype: str, id_alias: str, ts_alias: str) -> DataFrame:
        return (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(feed)
            .withWatermark("ts", "2 hours")
            .filter(F.col("event_type") == etype)
            .select(
                F.col("user_id").alias(f"{etype}_user"),
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
        )

    clicks = _side("click", "click_id", "click_ts")
    purchases = _side("purchase", "purchase_id", "purchase_ts")
    joined = (
        clicks.join(
            purchases,
            (F.col("click_user") == F.col("purchase_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_outer",
        )
        .select(
            F.col("click_user").alias("user_id"),
            "click_id",
            "click_ts",
            "purchase_id",
            "purchase_ts",
        )
    )

    with _stream_shuffle(spark):
        query = (
            joined.writeStream.format("parquet")
            .option("path", table)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    out_schema = (
        "user_id bigint, click_id bigint, click_ts timestamp, "
        "purchase_id bigint, purchase_ts timestamp"
    )
    import glob as _glob

    if not _glob.glob(os.path.join(table, "*.parquet")):
        return spark.createDataFrame([], out_schema)
    # Sentinel rows (user_id < 0) are dropped HERE, on the batch
    # read-back — never inside the streaming plan, where the filter
    # would be pushed below the watermark operator (see docstring).
    return (
        spark.read.parquet(table)
        .filter(F.col("user_id") >= 0)
        .select("user_id", "click_id", "click_ts", "purchase_id", "purchase_ts")
    )


# ---- custom stateful operator: applyInPandasWithState ----

FIRST_SEEN_OUT = (
    "user_id bigint, event_type string, first_ts timestamp, "
    "first_event_id bigint, first_value double"
)
# State granularity is a PERFORMANCE DIAL: the dominant cost of a
# Python stateful operator is per-(group × batch) invocation overhead,
# so the state is keyed by station only (5× fewer groups than
# station × type) and holds the per-type minima as one JSON dict —
# identical semantics, measured ~2× faster drain at sf0.1. The same
# dial at 100 TB: pick the coarsest key whose state row stays small.
FIRST_SEEN_STATE = "state string"  # JSON {event_type: [ts_us, event_id, value]}


def _first_seen_fn(key, pdfs, state):
    """Per-station running minima by event type — state is a dict of
    the best (ts, event_id, value) per type. Emits ONLY the types this
    batch improved (update-mode delta): a batch of pure duplicates
    emits nothing at all. Min-merge is associative and idempotent, so
    replayed batches, duplicate feed rows, and suppressed no-change
    emits cannot change the drained result (the sink min-merges
    whatever subset each batch emits). Doubles round-trip the JSON
    state exactly (repr-based encoding).
    """
    import json

    import numpy as np
    import pandas as pd

    best = json.loads(state.get[0]) if state.exists else {}
    changed: dict[str, list] = {}
    for pdf in pdfs:
        # normalize to ns first: pandas may hold datetime64[ns] or [us]
        ts_us = pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
        eid = pdf["event_id"].to_numpy()
        val = pdf["value"].to_numpy()
        et = pdf["event_type"].to_numpy()
        batch_min: dict[str, tuple] = {}
        for i in np.lexsort((eid, ts_us)):  # first hit per type = batch min
            t = et[i]
            if t not in batch_min:
                batch_min[t] = (int(ts_us[i]), int(eid[i]), float(val[i]))
        for t, cand in batch_min.items():
            cur = best.get(t)
            if cur is None or list(cand[:2]) < cur[:2]:
                best[t] = list(cand)
                changed[t] = best[t]
    if changed:
        state.update((json.dumps(best),))
        types = sorted(changed)
        yield pd.DataFrame(
            {
                "user_id": np.full(len(types), key[0], dtype=np.int64),
                "event_type": types,
                "first_ts": np.array(
                    [changed[t][0] for t in types], dtype="datetime64[us]"
                ),
                "first_event_id": np.array(
                    [changed[t][1] for t in types], dtype=np.int64
                ),
                "first_value": np.array(
                    [changed[t][2] for t in types], dtype=np.float64
                ),
            }
        )


# ---- custom stateful operator #2: incremental sessionization ----

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap
SESSION_OUT = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "event_count bigint, avg_value double"
)
SESSION_STATE = "sessions string"  # JSON [[start_us, last_us, n, cents], ...]


def merge_sessions(sess: list, points: list) -> list:
    """Fold session summaries + new point-events into the canonical
    merged session list ([start_us, last_us, n, cents] each).
    Associative: any batching of the same points yields the same list
    (tests/test_streaming.py::test_session_merge_is_associative)."""
    merged: list[list[int]] = []
    for s in sorted(sess + points):
        if merged and s[0] < merged[-1][1] + SESSION_GAP_US:
            m = merged[-1]
            m[1] = max(m[1], s[1])
            m[2] += s[2]
            m[3] += s[3]
        else:
            merged.append(list(s))
    return merged


def _session_merge_fn_factory(horizon_us: int | None):
    """Build the per-station incremental sessionization function.

    ``horizon_us=None`` → accept-arbitrarily-late (NoTimeout; state
    grows with open sessions forever — the adversarial-replay
    setting). ``horizon_us=N`` → EventTimeTimeout deployment mode:
    sessions whose close precedes the watermark can never be touched
    again (the watermark bounds how late an event may arrive), so
    they are evicted from state on timeout — state holds only
    sessions within the disorder horizon, bounding it by stream RATE,
    not stream LENGTH.
    """

    def _session_merge_fn(key, pdfs, state):
        """Per-station incremental sessionization: state is the open
        interval-merge of everything seen so far, as
        [start_us, last_event_us, n, value_cents] summaries.

        Correctness rests on sessionization being ASSOCIATIVE under
        interval merge: a session summary retains its boundary
        events, so folding batches in any order and merging summaries
        whose gap is < SESSION_GAP_US yields exactly the sessions of
        the union of events — the drained result equals batch
        sessionization no matter how the replay was batched or
        (dis)ordered. Count/sum merge additively; the sum is held in
        exact integer cents (the feed's values are 2-decimal by
        construction), so the final (cents/100)/n average bit-matches
        the batch dec_avg.

        Emits a CHANGED-SESSIONS DELTA: sessions new or modified by
        this batch, plus tombstones (event_count=0) for prior
        sessions absorbed by a merge. The sink replaces exactly the
        emitted (user_id, session_start) keys, so per-batch emit size
        is O(sessions touched), not O(all sessions per touched
        station) — the r4 full-list emit grew with total sessions per
        station over the stream's life (ADVICE r4). Replay-idempotent:
        re-applying the same delta is a no-op.
        """
        import json

        import numpy as np
        import pandas as pd

        def frame(rows):
            return pd.DataFrame(
                {
                    "user_id": np.full(len(rows), key[0], dtype=np.int64),
                    "session_start": np.array(
                        [m[0] for m in rows], dtype="datetime64[us]"
                    ),
                    "session_end": np.array(
                        [m[1] + SESSION_GAP_US for m in rows],
                        dtype="datetime64[us]",
                    ),
                    "event_count": np.array([m[2] for m in rows], dtype=np.int64),
                    "avg_value": np.array(
                        [((m[3] / 100.0) / m[2]) if m[2] else 0.0 for m in rows]
                    ),
                }
            )

        if horizon_us is not None and state.hasTimedOut:
            # Watermark passed the timeout: sessions closed more than
            # the horizon ago are final (no acceptable event can merge
            # into them) and were already emitted — drop them from
            # state; keep open/recent ones and re-arm.
            sess = json.loads(state.get[0]) if state.exists else []
            wm_us = state.getCurrentWatermarkMs() * 1000
            keep = [s for s in sess if s[1] + SESSION_GAP_US >= wm_us]
            if keep:
                state.update((json.dumps(keep),))
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + horizon_us // 1000 + 1
                )
            else:
                state.remove()
            return

        sess = json.loads(state.get[0]) if state.exists else []
        new_rows = []
        for pdf in pdfs:
            ts_us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 1000
            )
            cents = np.rint(pdf["value"].to_numpy() * 100).astype("int64")
            new_rows += [[int(t), int(t), 1, int(c)] for t, c in zip(ts_us, cents)]
        if not new_rows:
            return
        merged = merge_sessions(sess, new_rows)
        if horizon_us is None:
            state.update((json.dumps(merged),))
        else:
            # Bounded mode prunes on the DATA path too: a group that
            # receives events every batch never gets a timeout call,
            # so finality must be applied here — a session whose close
            # precedes the watermark by more than the horizon cannot
            # be touched by any event the horizon contract admits, and
            # its final delta was already emitted. State carries only
            # the horizon's worth of sessions: bounded by stream rate,
            # not stream length.
            wm_us = state.getCurrentWatermarkMs() * 1000
            keep = [
                m for m in merged if m[1] + SESSION_GAP_US + horizon_us >= wm_us
            ]
            state.update((json.dumps(keep),))
            last_close_us = max(m[1] for m in merged) + SESSION_GAP_US
            state.setTimeoutTimestamp(
                max(
                    state.getCurrentWatermarkMs() + 1,
                    last_close_us // 1000 + horizon_us // 1000,
                )
            )
        cur = {m[0]: m for m in merged}
        prior = {s[0]: s for s in sess}
        changed = [m for m in merged if prior.get(m[0]) != m]
        gone = [[s[0], s[0], 0, 0] for s in sess if s[0] not in cur]
        yield frame(changed + gone)

    return _session_merge_fn


_session_merge_fn = _session_merge_fn_factory(None)


def stream_session_windows(
    spark: SparkSession, sf_dir: str, disorder_horizon_s: int | None = None
) -> DataFrame:
    """CUSTOM stateful streaming operator #2: session windows with a
    30-minute inactivity gap, maintained incrementally across
    micro-batches (Spark's built-in ``session_window`` streaming agg
    cannot emit exact decimal averages nor tolerate this fixture's
    unbounded disorder without dropping rows — the escape hatch is
    warranted). Oracle: identical gaps-and-islands SQL as the batch
    twin session_windows_30m — streamed and batch results must match
    hash-for-hash.

    ``disorder_horizon_s=None`` (registry default) replays the
    adversarially-unordered feed with NoTimeout — no event-time
    horizon short of the whole feed could finalize a session early,
    matching the reference's accept-arbitrarily-late policy
    (SURVEY.md §2.7). ``disorder_horizon_s=N`` is the production
    deployment mode for a mostly-ordered stream (see
    stream_session_windows_bounded): a watermark at the disorder
    horizon plus EventTimeTimeout evicts sessions closed more than
    the horizon ago, so state is bounded by stream rate × horizon
    instead of growing with total sessions — the 100 TB construction.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    bounded = disorder_horizon_s is not None
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    variant = "stream_sessions_bounded" if bounded else "stream_sessions"
    table = scratch_path(variant, sf_name, "table")
    ckpt = scratch_path(variant, sf_name, "ckpt")
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    if bounded:
        feed = scratch_path("stream_ordered", sf_name, "feed")
        build_ordered_feed(spark, sf_dir, feed)
    else:
        feed = scratch_path("stream_ts1h", sf_name, "feed")  # dup-free fixture
        build_feed(spark, sf_dir, feed, with_dups=False)

    source = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
    )
    if bounded:
        source = source.withWatermark("ts", f"{disorder_horizon_s} seconds")
    stream = source.groupBy("user_id").applyInPandasWithState(
        _session_merge_fn_factory(
            disorder_horizon_s * 1_000_000 if bounded else None
        ),
        outputStructType=SESSION_OUT,
        stateStructType=SESSION_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if bounded
            else GroupStateTimeout.NoTimeout
        ),
    )

    from data_ingestion_pipeline_spark.operators import versioned as V

    os.makedirs(table, exist_ok=True)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # Delta semantics: each emitted (user_id, session_start) —
        # changed row or event_count=0 tombstone — replaces that key
        # in the table; unchanged sessions of a touched station are
        # NOT re-emitted and must be retained. The batch lands as ONE
        # three-clause MOR MERGE (update / tombstone-delete /
        # guarded insert): the commit writes O(emitted) delta files +
        # DV positions, never a rewrite of the whole session table —
        # the r15 phase probe attributed 86% of this entry's wall
        # time to the sink's previous per-batch full-table commits,
        # and at stream scale the session table grows with total
        # sessions while a micro-batch stays rate-bounded, so the
        # rewrite shape was O(table) per batch where the merge is
        # O(batch) writes (the 100 TB requirement; the base-side scan
        # the merge join reads is carried-by-reference parquet, cost
        # shared with any read). Exactly-once: batch-id meta replay
        # skip, backstopped by the merge's content-idempotence (a
        # replayed tombstone re-matches nothing and fails the insert
        # guard — apply_changes_mor's argument).
        sess = bdf.sparkSession
        if batch_id <= V.manifest_meta(table).get("batch_id", -1):
            return  # replayed batch: already committed
        if V.current_version(table) == 0:
            V.commit_version(
                sess,
                table,
                bdf.filter(F.col("event_count") > 0),
                meta={"batch_id": batch_id},
            )
            return
        attrs = ["session_end", "event_count", "avg_value"]
        # Adaptive stats pruning (r16): in bounded mode every emitted
        # session's session_start lies within the disorder horizon of
        # the watermark, while the table's files are naturally
        # time-clustered (each batch appends recent sessions) — so
        # prune_on='session_start' makes the merge's target scan
        # O(touched files) instead of O(table), the last O(table)
        # term in the sink (SESSION_SINK_GROWTH.json recent_touch
        # sweep). Only once the table outgrows a handful of files:
        # below that, one probe + incremental stats refresh costs
        # more than just scanning, and the unbounded variant's
        # arbitrarily-late sessions defeat range locality anyway.
        prune = (
            "session_start"
            if bounded
            and len(V._manifest(table)["files"]) > MERGE_PRUNE_MIN_FILES
            else None
        )
        V.merge_into_mor(
            sess,
            table,
            bdf,  # emitted keys unique per batch by construction
            ["user_id", "session_start"],
            prune_on=prune,
            when_matched=[
                (
                    "update",
                    {c: f"s.{c}" for c in attrs},
                    "s.event_count > 0",
                ),
                ("delete", None, "s.event_count = 0"),
            ],
            insert_not_matched={
                c: f"s.{c}"
                for c in ["user_id", "session_start", *attrs]
            },
            insert_not_matched_cond="s.event_count > 0",
            meta={"batch_id": batch_id},
        )

    with _stream_shuffle(spark):
        query = (
            stream.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return V.read_version(spark, table).select(
        "user_id", "session_start", "session_end", "event_count", "avg_value"
    )


def stream_session_windows_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deployment-mode sessionization: watermark + EventTimeTimeout at
    a 1-hour disorder horizon over a time-ordered replay (the shape a
    real Kafka topic has — per-partition approximate time order).
    State holds only sessions whose close is within the horizon of
    the watermark; everything older is evicted after its final delta
    emit, so state size is rate-bounded — the production answer to
    the NoTimeout variant's unbounded-state caveat. Same
    gaps-and-islands oracle as the unbounded twin: with the horizon
    covering the feed's actual disorder, eviction never changes the
    answer, only the state footprint.
    """
    return stream_session_windows(spark, sf_dir, disorder_horizon_s=3600)


def stream_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator (applyInPandasWithState —
    the escape hatch for semantics dropDuplicates/window aggs can't
    express): per (station, event_type), the FIRST event ever seen,
    maintained incrementally across micro-batches.

    State is keyed by STATION, holding the per-type minima as one
    small dict (see FIRST_SEEN_STATE: granularity is the performance
    dial — per-group invocation overhead dominates, so coarser keys
    with slightly larger state rows drain faster; bounded by the key
    domain, not the stream length). The sink min-merges emits into a
    compact result table: read-modify-overwrite of a ~750-row table
    per batch — the result is dimension-sized, so a full rewrite is
    cheaper than partition bookkeeping, and min-merge (not
    last-write-wins) makes the sink idempotent under at-least-once
    batch replay WITHOUT relying on emit order.

    Oracle: batch argmin — row_number over (user_id, event_type ORDER
    BY ts, event_id) = 1 on the same feed's underlying events; the
    injected feed duplicates are verbatim copies, so they cannot move
    the minimum.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_dedup", sf_name, "feed")  # shared fixture
    table = scratch_path("stream_first_seen", sf_name, "table")
    ckpt = scratch_path("stream_first_seen", sf_name, "ckpt")
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    build_feed(spark, sf_dir, feed)

    # 3 files/trigger → a 2-batch drain. The dominant cost of a Python
    # stateful operator is per-(group × batch) invocation overhead —
    # every extra micro-batch re-touches every group — so the batch
    # count is kept at the minimum that still exercises cross-batch
    # state (batch 2 carries original file 4 + both duplicate files).
    stream = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 3)
        .parquet(feed)
        .groupBy("user_id")
        .applyInPandasWithState(
            _first_seen_fn,
            outputStructType=FIRST_SEEN_OUT,
            stateStructType=FIRST_SEEN_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    from data_ingestion_pipeline_spark.operators import versioned as V

    os.makedirs(table, exist_ok=True)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # min-merge commit through the manifest-versioned path: the
        # merged snapshot lands in a fresh data/v{N+1} directory while
        # v{N} stays the durable current version until the atomic
        # pointer swap — no overwrite-own-input window (r7 durability
        # debt); min-merge already made replays value-idempotent, and
        # the batch-id meta short-circuits them entirely.
        sess = bdf.sparkSession
        if batch_id <= V.manifest_meta(table).get("batch_id", -1):
            return  # replayed batch: already committed
        if V.current_version(table) > 0:
            merged = V.read_version(sess, table).unionByName(bdf)
        else:
            merged = bdf
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id", "event_type").orderBy(
            "first_ts", "first_event_id"
        )
        out = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        V.commit_version(sess, table, out, meta={"batch_id": batch_id})

    with _stream_shuffle(spark):
        query = (
            stream.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return V.read_version(spark, table).select(
        "user_id", "event_type", "first_ts", "first_event_id", "first_value"
    )


# ---- streaming corpus ingest (continuous-crawl twin of K5 + the
# incremental dedup batch operator) ----

DOC_FEED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)
DOC_FEED_COLS = [f.name for f in DOC_FEED_SCHEMA.fields]
DOC_DUP_ID_OFFSET = 10_000_000  # injected re-crawls get new ids, same text


def build_doc_feed(spark: SparkSession, sf_dir: str, feed_dir: str) -> None:
    """Materialize the documents table as a stream-source directory
    simulating a continuous crawl: 4 sequential files of originals in
    doc_id order, then 2 files of re-crawled duplicates (same text,
    new doc_id) — so a duplicate usually lands in a LATER micro-batch
    than its original, exercising cross-batch content-hash state, not
    just within-batch dedup.

    The doc_id-ordered slices are what make the entry ORACLE-EXACT:
    the corpus contains naturally duplicated texts (not only the
    injected re-crawls), and first-arrival-wins only equals the SQL
    oracle's min-doc_id-wins if arrival order respects doc_id order.
    Sequential appends give strictly increasing mtimes, which is the
    file source's replay order (same technique as build_ordered_feed).
    Same reuse-marker protocol as build_feed."""
    key = f"{_FEED_VERSION}:docs-v2-ordered:{sf_dir}"
    if _feed_is_current(feed_dir, key):
        return
    docs = load_table(spark, sf_dir, "documents").select(*DOC_FEED_COLS)
    recrawl = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + DOC_DUP_ID_OFFSET
    )
    _write_feed(
        feed_dir, key, [*_ordered_slices(docs, 4, "doc_id"), recrawl.repartition(2)]
    )


def corpus_ingest_batch(spark: SparkSession, table: str, bdf: DataFrame) -> None:
    """One crawl micro-batch into the content-addressed corpus table:
    within-batch first-wins by content hash, anti-join against the
    table's hash set, append survivors. Module-level so the
    at-least-once replay test can drive it directly.

    The content hash is PERSISTED as a table column: the per-batch
    state read then projects only that 32-byte column (parquet column
    pruning), never re-reading or re-hashing the corpus text — the
    difference between a narrow metadata scan and a full-text scan of
    the table per micro-batch at 100 TB.
    """
    from pyspark.sql import Window as W

    h = F.md5(F.col("text"))
    w = W.partitionBy(h).orderBy(F.col("doc_id"))
    batch_unique = (
        bdf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("content_hash", h)
    )
    if os.path.isdir(table) and any(
        f.endswith(".parquet") for f in os.listdir(table)
    ):
        ingested = spark.read.parquet(table).select("content_hash").distinct()
        fresh = batch_unique.join(ingested, "content_hash", "left_anti")
    else:
        fresh = batch_unique
    fresh.write.mode("append").parquet(table)


def stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus ingestion with first-wins content dedup: the
    streaming twin of ``docs_incremental_dedup`` — every crawl
    micro-batch is deduped (a) within itself by content hash (min
    doc_id survives) and (b) against everything already ingested, via
    a LEFT ANTI join on the table's hash set, then appended. The
    standing crawl pipeline of a training-data system: state is the
    TABLE ITSELF (content hashes at rest), so the dedup guarantee
    survives restarts with no streaming state to rebuild, and a
    replayed batch (at-least-once delivery) re-arrives, anti-joins
    against its own earlier append, and drops out — idempotent by
    construction, the same defense-in-depth as the keyed upsert sink.

    At scale the anti-join's build side is hash-only (32 bytes/doc)
    and shuffles on the uniformly-distributed content hash, read from
    the table's PERSISTED content_hash column — parquet column pruning
    makes the per-batch state read a narrow metadata scan, never a
    re-read of the corpus text (corpus_ingest_batch).

    Deterministic result under ANY batch boundary: the feed's files
    are doc_id-ordered slices (originals ascending, then the
    higher-id re-crawls — build_doc_feed), so within a batch the
    min-doc_id window and across batches the first-wins anti-join
    both resolve to the global min doc_id per content hash — which is
    exactly the SQL oracle, including for the corpus's NATURAL text
    duplicates, not just the injected re-crawls.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_corpus", sf_name, "feed")
    table = scratch_path("stream_corpus", sf_name, "table")
    ckpt = scratch_path("stream_corpus", sf_name, "ckpt")
    shutil.rmtree(table, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    build_doc_feed(spark, sf_dir, feed)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        corpus_ingest_batch(spark, table, bdf)

    stream = (
        spark.readStream.schema(DOC_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
    )
    with _stream_shuffle(spark):
        query = (
            stream.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.read.parquet(table).select(*DOC_FEED_COLS)


def stream_versioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink on the manifest-versioned table
    (operators/versioned.py): each micro-batch commits a snapshot
    whose manifest records the BATCH ID; a replayed batch (restart
    recovery, at-least-once delivery) finds its id already committed
    and skips. At-least-once delivery + transactional idempotence =
    exactly-once TABLE STATE — the construction Delta's
    txnAppId/txnVersion sink and Iceberg's commit-dedup use; here the
    whole mechanism is visible in ~10 lines over the atomic-pointer
    protocol. Drained result must equal the batch source exactly
    (identity oracle); replay idempotence and the skip path are
    additionally pinned in tests/test_versioned.py.
    """
    from data_ingestion_pipeline_spark.operators import versioned as V

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_ts1h", sf_name, "feed")  # shared no-dup fixture
    table = scratch_path("stream_versioned", sf_name, "table")
    ckpt = scratch_path("stream_versioned", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(table, exist_ok=True)

    build_feed(spark, sf_dir, feed, with_dups=False)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= V.manifest_meta(table).get("batch_id", -1):
            return  # replayed batch: already committed, exactly-once skip
        meta = {"batch_id": batch_id}
        if V.current_version(table) == 0:
            V.commit_version(spark, table, bdf, meta=meta)
        else:
            V.upsert_version(spark, table, bdf, ["event_id"], meta=meta)

    with _stream_shuffle(spark):
        query = (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(feed)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return V.read_version(spark, table).select(*FEED_COLS)


def stream_versioned_append_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest with O(micro-batch) COMMITS — the
    100 TB shape of the versioned sink. stream_versioned_ingest's
    upsert path re-reads and rewrites the WHOLE snapshot every
    micro-batch (fine at test scale, fatal on a long-lived stream);
    this entry keeps table state identical while every batch costs
    only its own size:

    1. FIRST-WINS DEDUP, bloom-pruned with NO driver-side key list:
       the batch's keys stay executor-side — their distinct bloom
       BIT-TUPLES (bounded ~1 MB metadata, never O(batch); see
       bloom_candidate_files_df) probe the table's bloom index, and
       only candidate files are read (key column pruned) for the
       left-anti join. No candidate files → no table I/O at all.
       Bloom's no-false-negative guarantee makes the dedup exact; a
       saturating probe set (None) falls back to the full carried
       list, which is what the probe would have returned anyway.
    2. APPEND-SHAPED COMMIT: surviving rows land day-partitioned via
       commit_version_partitioned with EVERY prior file carried by
       reference — manifest delta bytes + new-rows write, never a
       table rewrite. The batch_id meta gives replay skips
       (exactly-once) exactly as the upsert twin.
    3. INCREMENTAL INDEX MAINTENANCE: the first batch that commits
       files builds the bloom index; from then on each commit's
       publish refreshes it with a segment of ONLY the batch's new
       files (operators/versioned.py, _refresh_indexes), so step 1
       finds it fresh at O(batch) forever.

    Drained result must equal the batch first-wins dedup of the
    duplicated feed (duplicates are verbatim copies, so first-wins ==
    value identity with the source — same oracle as
    stream_versioned_ingest). O(batch) commit shape (carried file
    reuse, per-batch harvest telemetry) pinned in
    tests/test_streaming.py."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_dedup", sf_name, "feed")  # shared dup fixture
    table = scratch_path("stream_vappend", sf_name, "table")
    ckpt = scratch_path("stream_vappend", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(table, exist_ok=True)

    build_feed(spark, sf_dir, feed, with_dups=True)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= V.manifest_meta(table).get("batch_id", -1):
            return  # replayed batch: already committed, exactly-once skip
        batch = bdf.dropDuplicates(["event_id"])
        carried: list[str] = []
        m = None
        if V.current_version(table) > 0:
            m = V._manifest(table)
            carried = list(m["files"])
            if carried:
                # probe from the RAW batch: the probe's distinct
                # bit-pair aggregation dedupes anyway, so routing it
                # around dropDuplicates saves that exchange in the
                # per-batch probe plan (pure fixed overhead at toy SF)
                cand = V.bloom_candidate_files_df(
                    spark, table, "event_id", bdf.select("event_id"),
                    manifest=m,
                )
                if cand is None:
                    cand = carried  # probe saturated: scan everything
                if cand:
                    existing = V._read_files_as_snapshot(
                        spark,
                        m,
                        [os.path.join(table, c) for c in cand],
                        path=table,
                    ).select("event_id")
                    batch = batch.join(existing, "event_id", "left_anti")
        # the already-resolved snapshot rides along: the commit
        # follows it (its DV pointer carries) without resolving the
        # chain again
        V.commit_version_partitioned(
            spark, table, batch, ts_col="ts", carried=carried,
            meta={"batch_id": batch_id}, prev=m,
        )
        if not carried:
            # the first batch with files creates the index; every
            # later commit's publish appends its files to it
            V.build_bloom_index(spark, table, "event_id")

    with _stream_shuffle(spark):
        query = (
            spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(feed)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return V.read_version(spark, table).select(*FEED_COLS)


def stream_versioned_ingest_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The maintenance composition streaming tables live by at scale:
    the exactly-once drain (stream_versioned_ingest) leaves the
    current snapshot as shuffle-partition-count small files — the
    classic micro-batch debris — and OPTIMIZE (compact_files,
    unpartitioned branch) bin-packs them into target-size files as a
    new manifest version. The replay guard's batch_id meta MUST ride
    through the compaction (its manifest carries prior meta forward):
    a restart after maintenance still skips already-committed batches.
    Result must STILL equal the batch source (same identity oracle as
    the uncompacted entry); the file-count shrink and meta carry are
    pinned in tests/test_streaming.py."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    stream_versioned_ingest(spark, sf_dir)  # drain into the scratch table
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    table = scratch_path("stream_versioned", sf_name, "table")
    V.compact_files(spark, table)
    return V.read_version(spark, table).select(*FEED_COLS)


def build_cdc_feed(spark: SparkSession, sf_dir: str, feed_dir: str) -> None:
    """Materialize a 3-stage CDC stream over the events table (the
    shape a Debezium/CDC topic has): stage 1 INSERTs event_id %4 ∈
    {0,1,2}, stage 2 UPDATEs %4==0 (value +100, postimage rows),
    stage 3 DELETEs %4==1 and INSERTs %4==3. Sequential appends →
    strictly increasing mtimes → the file stream replays the stages
    in order (build_ordered_feed's established construction); every
    stage has unique keys, so each micro-batch satisfies MERGE
    cardinality by construction."""
    key = f"{_FEED_VERSION}:cdc3:{sf_dir}"
    if _feed_is_current(feed_dir, key):
        return
    ev = load_table(spark, sf_dir, "events").select(*FEED_COLS)
    b = F.col("event_id") % 4
    stages = [
        ev.filter(b.isin(0, 1, 2)).withColumn(
            "_change_type", F.lit("insert")
        ),
        ev.filter(b == 0)
        .withColumn("value", F.col("value") + 100.0)
        .withColumn("_change_type", F.lit("update_postimage")),
        ev.filter(b == 1)
        .withColumn("_change_type", F.lit("delete"))
        .unionByName(
            ev.filter(b == 3).withColumn("_change_type", F.lit("insert"))
        ),
    ]
    _write_feed(feed_dir, key, [st.coalesce(1) for st in stages])


CDC_FEED_SCHEMA = T.StructType(
    FEED_SCHEMA.fields + [T.StructField("_change_type", T.StringType())]
)


def stream_cdc_merge_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the streaming CDC MERGE sink — a change stream
    (insert / update_postimage / delete rows, the Debezium-topic
    shape) applied to a versioned table with ONE three-clause
    apply_changes_mor per micro-batch, exactly-once via the
    batch_id-in-manifest replay guard (same construction as
    stream_versioned_ingest). This is Delta's `foreachBatch +
    MERGE` CDC-apply recipe end to end: per batch the cost is one
    equi-keyed join of the live snapshot against the CHANGE-SIZED
    batch plus O(changed rows) DV/image writes — zero rewritten
    files, so a long-lived stream never pays table-sized commits
    (contrast stream_versioned_ingest's whole-snapshot upsert).
    Bootstrap commits an EMPTY v1 so every batch — including the
    first — flows through the same MERGE path (the all-files-dead
    degenerate branch inserts). Drained table must equal the oracle's
    replay of the three stages; version count, per-version merge
    counts and replay idempotence are pinned in
    tests/test_streaming.py."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_cdc", sf_name, "feed")
    table = scratch_path("stream_cdc", sf_name, "table")
    ckpt = scratch_path("stream_cdc", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(table, exist_ok=True)

    build_cdc_feed(spark, sf_dir, feed)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        if batch_id <= V.manifest_meta(table).get("batch_id", -1):
            return  # replayed batch: already committed, exactly-once skip
        if V.current_version(table) == 0:
            V.commit_version(
                spark, table, spark.createDataFrame([], FEED_SCHEMA)
            )
        V.apply_changes_mor(
            spark, table, bdf, ["event_id"], meta={"batch_id": batch_id}
        )

    with _stream_shuffle(spark):
        query = (
            spark.readStream.schema(CDC_FEED_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return V.read_version(spark, table).select(*FEED_COLS)


TRENDING_TOPK = 3


def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-MODE windowed counts — the missing window-FINALITY
    lifecycle: every (1-hour window × event type) count is emitted
    EXACTLY ONCE, when the watermark proves the window complete
    (update-mode twins like stream_timeseries_1h re-emit and rely on
    an upsert sink; append mode needs no keyed sink at all — a plain
    parquet append is already correct, which is why finalized-window
    output is the cheapest streaming shape at scale: state drops as
    windows close, sink is append-only blob storage).

    Watermark mechanics shared with the outer stream-stream join: the
    feed ends with far-future sentinel rows that drag the final
    watermark past every real window's end, so the drain's last batch
    flushes them all. Sentinels stay IN the streaming plan (filtering
    them pre-watermark would stall the clock — the r6 left-join
    lesson); their own far-future windows are dropped on the batch
    read-back, bounded by the real feed's max event time.

    The trending rank (top-K types per window) is a post-pass on the
    drained, window-domain-sized table — rank-over-finalized-windows,
    not a streaming global sort.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    table = scratch_path("stream_trend", sf_name, "table")
    ckpt = scratch_path("stream_trend", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    feed = scratch_path("stream_ordered_sent", sf_name, "feed")
    build_ordered_feed_with_sentinel(spark, sf_dir, feed)

    counts = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
    )
    with _stream_shuffle(spark):
        query = (
            counts.writeStream.format("parquet")
            .option("path", table)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    import glob as _glob

    out_schema = "bucket timestamp, event_type string, n bigint, rk int"
    if not _glob.glob(os.path.join(table, "*.parquet")):
        return spark.createDataFrame([], out_schema)
    # sentinel windows (far past the real feed) drop here, on the
    # batch read-back — never inside the watermarked plan
    max_real = (
        load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("bucket").orderBy(F.col("n").desc(), "event_type")
    )
    return (
        spark.read.parquet(table)
        .filter(F.col("bucket") <= F.lit(max_real))
        .withColumn("rk", rk)
        .filter(F.col("rk") <= TRENDING_TOPK)
        .select("bucket", "event_type", F.col("n").cast("bigint").alias("n"), "rk")
    )


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark`` — the
    BOUNDED-STATE twin of stream_dedup_to_table's state-store dedup:
    first arrival of each event_id is emitted immediately (append
    mode, plain parquet sink — no keyed upsert needed), duplicates
    arriving within the watermark horizon are dropped, and the
    operator GUARANTEES state eviction once the watermark passes a
    key's event time — state ∝ rate × horizon by API contract, the
    dial real deployments tune.

    The horizon must cover the feed's DISORDER: this replay fixture
    interleaves duplicates across the whole month in arbitrary file
    order, so the horizon is the full span (31 days — same posture as
    stream_timeseries_1h's 30-day watermark; an ordered production
    stream runs the same code with a horizon of hours). Keyed by
    event_id: injected duplicates are exact row copies, so first-wins
    is arrival-order-independent and the drained table equals the
    events table exactly.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    feed = scratch_path("stream_dedup", sf_name, "feed")  # shared dup fixture
    table = scratch_path("stream_dedupww", sf_name, "table")
    ckpt = scratch_path("stream_dedupww", sf_name, "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    build_feed(spark, sf_dir, feed, with_dups=True)

    deduped = (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(feed)
        .withWatermark("ts", "31 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    with _stream_shuffle(spark):
        query = (
            deduped.writeStream.format("parquet")
            .option("path", table)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    import glob as _glob

    if not _glob.glob(os.path.join(table, "*.parquet")):
        return spark.createDataFrame([], FEED_SCHEMA)
    return spark.read.parquet(table).select(*FEED_COLS)


# ---- CDF as a Structured Streaming source ---------------------------
# The versioned format's change feed, consumed the way Delta users
# consume theirs: `readStream` (VERDICT r14 task 6). The insight that
# makes this a THIN wrapper instead of a custom engine: the table's
# COMMIT LOG IS ALREADY A FILE STREAM — one atomically-renamed JSON
# manifest object per version, in mtime order — so Spark's built-in
# file source provides discovery, ordering, backlog replay, and
# checkpointed offsets over the table's history for free, and the
# heavy diff (table_changes) runs inside foreachBatch as ordinary
# distributed jobs. Reference analog: the consumer service's poll
# loop (services/consumer/main.py) — here the micro-batch engine is
# the poll loop.


def stream_table_commits(spark: SparkSession, table_path: str) -> DataFrame:
    """readStream over a versioned table's commit log: one row
    (version long) per manifest object. maxFilesPerTrigger=1 yields
    per-commit micro-batches; the foreachBatch applier diffs
    acked→max(batch) net, so coarser batching collapses intermediate
    versions exactly like consume_changes does. Scale note: the
    stream carries O(commits) 100-byte rows, never data — the data
    motion happens in the applier's table_changes join, which prunes
    to the two snapshots' manifests."""
    return (
        spark.readStream.format("json")
        .schema("version long")
        .option("pathGlobFilter", "manifest_v*.json")
        .option("maxFilesPerTrigger", 1)
        .load(table_path)
    )


def run_cdf_replica_stream(
    spark: SparkSession,
    src_path: str,
    rep_path: str,
    keys: list[str],
    ckpt: str,
) -> None:
    """Drain the source table's commit stream into a replica table:
    the first commit seen SEEDS the replica (snapshot read at that
    version), every later micro-batch applies the NET diff
    acked→batch-max through apply_changes_mor's idempotent
    three-clause merge. The replica's own manifest meta carries the
    acked source version, so the cursor is transactional WITH the
    data it acknowledges — a crash between replica commit and stream
    checkpoint replays the batch, the acked guard skips it, and the
    merge's content-idempotence backstops even a torn guard:
    at-least-once delivery, exactly-once replica state.

    The cursor READ walks replica history backward to the newest
    commit that carries ``cdf_acked`` (ADVICE r15): reading only the
    CURRENT manifest's meta was the same meta-riding trap the
    identity high-water mark escaped in r15 — any non-stream commit
    to the replica (compaction, DDL, maintenance) rides in with its
    own meta, the cursor would silently read as 0, and the next batch
    would call table_changes(src, 0, hi) and wedge the stream with a
    misleading 'vacuumed' error. The walk is newest-first and the
    stream's own commits all carry the key, so it terminates in
    O(maintenance commits since the last drain), not O(history)."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    os.makedirs(rep_path, exist_ok=True)

    def _acked() -> int:
        for v in range(V.current_version(rep_path), 0, -1):
            meta = V.manifest_meta(rep_path, v)
            if "cdf_acked" in meta:
                return int(meta["cdf_acked"])
        return 0

    def _apply(bdf: DataFrame, batch_id: int) -> None:
        sess = bdf.sparkSession
        versions = [r.version for r in bdf.select("version").collect()]
        if not versions:
            return
        hi = max(versions)
        acked = _acked()
        if hi <= acked:
            return  # replayed batch: already applied
        if V.current_version(rep_path) == 0:
            V.commit_version(
                sess,
                rep_path,
                V.read_version(sess, src_path, hi),
                meta={"cdf_acked": hi},
            )
            return
        try:
            diff = V.table_changes(sess, src_path, acked, hi, keys)
        except FileNotFoundError as e:
            # the acked snapshot was vacuumed out from under a slow
            # stream — same condition (and remedy) as the batch
            # cursor's consume_changes
            raise ValueError(
                f"acked version v{acked} of {src_path} has been "
                "vacuumed; the stream cannot reconstruct the gap — "
                "re-seed the replica (table_changes_between_tables) "
                "and restart from a fresh checkpoint"
            ) from e
        V.apply_changes_mor(
            sess, rep_path, diff, keys, meta={"cdf_acked": hi}
        )

    with _stream_shuffle(spark):
        query = (
            stream_table_commits(spark, src_path)
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()


def stream_cdf_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the change feed consumed AS A STREAM —
    readStream-shaped micro-batches over the commit log, drained into
    a replica. Source lifecycle (committed before the drain, so the
    stream replays history from its checkpointed offsets): commit
    events (v1), upsert every 10th value +1000 (v2), DV-delete the
    clicks (v3). The drain seeds at v1 then applies two net diffs;
    the replica snapshot must equal the source's final state (same
    oracle as the batch-cursor twin cdf_replica_sync). Exactly-once
    under checkpoint replay is pinned in
    tests/test_streaming.py::test_stream_cdf_replica_replay_is_noop."""
    import shutil as _shutil

    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.operators.upsert import scratch_path

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    root = scratch_path("stream_cdf", sf_name, "run")
    _shutil.rmtree(root, ignore_errors=True)
    src_path = os.path.join(root, "source")
    rep_path = os.path.join(root, "replica")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src_path, exist_ok=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    V.commit_version(spark, src_path, ev)
    V.upsert_version(
        spark,
        src_path,
        ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + 1000.0
        ),
        ["event_id"],
    )
    V.delete_rows_dv(spark, src_path, F.col("event_type") == "click")

    run_cdf_replica_stream(spark, src_path, rep_path, ["event_id"], ckpt)
    return V.read_version(spark, rep_path).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
