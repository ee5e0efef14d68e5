"""Partitioned-upsert mechanics: the property that matters at 100 TB
is that merging an update batch rewrites ONLY the day-partitions the
batch touches — verified here at the filesystem level.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.upsert import (
    read_table,
    scratch_path,
    upsert_into_table,
    write_time_partitioned,
)
from data_ingestion_pipeline_spark.sources.tables import load_table
from data_ingestion_pipeline_spark.streaming.pipeline import FEED_COLS
from tests.conftest import SF_TEST

TOUCHED_DAY = "2024-01-05"
UNTOUCHED_DAY = "2024-01-10"


def _files(table: str, day: str) -> dict[str, tuple[float, int]]:
    return {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{table}/p_date={day}/*.parquet")
    }


def test_upsert_rewrites_only_touched_partitions(spark):
    table = scratch_path("t_prune", "table")
    shutil.rmtree(table, ignore_errors=True)

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    write_time_partitioned(ev, table)
    n = ev.count()

    before_touched = _files(table, TOUCHED_DAY)
    before_untouched = _files(table, UNTOUCHED_DAY)
    assert before_touched and before_untouched, "both days must exist"

    updates = ev.filter(F.to_date("ts") == TOUCHED_DAY).withColumn(
        "value", F.col("value") + F.lit(7.0)
    )
    n_upd = updates.count()
    assert n_upd > 0
    upsert_into_table(spark, table, updates, ["user_id", "ts"])

    # untouched day: byte-identical files, not even re-written
    assert _files(table, UNTOUCHED_DAY) == before_untouched
    # touched day: rewritten
    assert _files(table, TOUCHED_DAY) != before_touched

    merged = read_table(spark, table)
    assert merged.count() == n
    got_updated = merged.filter(
        (F.to_date("ts") == TOUCHED_DAY)
    ).agg(F.sum("value")).first()[0]
    want_updated = updates.agg(F.sum("value")).first()[0]
    assert abs(got_updated - want_updated) < 1e-6


def test_written_table_prunes_partitions(spark):
    """A date predicate on the day-partitioned table must prune at the
    scan (PartitionFilters), standing in for TimescaleDB chunk
    exclusion — the read-side payoff of the write layout."""
    import contextlib
    import io

    table = scratch_path("t_prune2", "table")
    shutil.rmtree(table, ignore_errors=True)
    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    write_time_partitioned(ev, table)

    df = spark.read.parquet(table).filter(
        F.col("p_date") == TOUCHED_DAY
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "p_date" in pf, pf
    # and the pruned read returns exactly that day's rows
    assert df.count() == ev.filter(F.to_date("ts") == TOUCHED_DAY).count()


def test_distribute_for_write_layout(spark, tmp_path):
    """The REBALANCE-based write distribution (guide §2.5/§6, VERDICT
    r16 task 2) must cover three shapes:

    - many-small-inputs: a 32-partition input collapses to ~1 file per
      day instead of O(partitions × days) small files;
    - engine-internal layout: a spread_scan-widened frame (a
      repartition at the top of its plan) is clustered like any other
      input — its partitioning is not caller layout;
    - one-hot-partition: a skewed day SPLITS across multiple write
      tasks (AQE optimizeSkewsInRebalancePartitions) instead of
      funneling through one task / one giant file — the failure mode
      plain repartition(PART_COL) bakes in.
    """
    from data_ingestion_pipeline_spark.operators.upsert import distribute_for_write
    from data_ingestion_pipeline_spark.sources.tables import spread_scan

    def max_files_per_day(table: str) -> int:
        days = glob.glob(f"{table}/p_date=*")
        assert days
        return max(len(glob.glob(f"{d}/*.parquet")) for d in days)

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)

    # plan shape: the injected distribution is a REBALANCE (AQE can
    # both coalesce and skew-split it), never a plain hash repartition
    planned = distribute_for_write(ev.withColumn("d", F.to_date("ts")), "d")
    assert "rebalance" in planned._jdf.queryExecution().analyzed().toString().lower()

    # many-small-inputs: 32 input partitions, files/day must not be 32
    t1 = str(tmp_path / "collapsed")
    write_time_partitioned(ev.repartition(32), t1)
    assert max_files_per_day(t1) <= 2  # collapsed by the rebalance

    # spread_scan widens the small scan to the session's parallelism
    # with a repartition at the top of the plan; the write still
    # clusters by day
    spread = spread_scan(spark, ev, f"{SF_TEST}/events.parquet")
    assert spread.rdd.getNumPartitions() > 2  # precondition: widened
    t2 = str(tmp_path / "spread")
    write_time_partitioned(spread, t2)
    assert max_files_per_day(t2) <= 2

    # one-hot-partition: with a small advisory size the hot day must
    # write through >1 task (AQE splits the skewed rebalance output);
    # the advisory size is set on a separate session so it cannot
    # leak into later tests
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    t3 = str(tmp_path / "skew")
    hot = (
        load_table(s2, SF_TEST, "events")
        .select(*FEED_COLS)
        .repartition(32)
        .withColumn("ts", F.lit("2024-01-05 00:00:00").cast("timestamp"))
    )
    write_time_partitioned(hot, t3)
    hot_files = glob.glob(f"{t3}/p_date=2024-01-05/*.parquet")
    assert len(hot_files) > 1, "hot day must split across write tasks"


def test_stateful_foreach_batch_write_keeps_distribution(spark, tmp_path):
    """A stateful drain runs foreachBatch on a cloned session with AQE
    off, where a REBALANCE hint analyses to its bare child (no
    distribution at all). The write distribution planned inside such a
    micro-batch must still be the hash repartition on the partition
    column, never a silently dropped hint, and the batch's write lands
    one file per day."""
    import re

    from data_ingestion_pipeline_spark.operators.upsert import (
        PARTITION_COL,
        distribute_for_write,
        with_partition_col,
    )
    from data_ingestion_pipeline_spark.streaming.pipeline import FEED_SCHEMA

    feed = str(tmp_path / "feed")
    load_table(spark, SF_TEST, "events").select(*FEED_COLS).limit(200).coalesce(
        1
    ).write.parquet(feed)
    out = str(tmp_path / "out")
    plans = []

    def sink(bdf, _batch_id):
        planned = distribute_for_write(with_partition_col(bdf), PARTITION_COL)
        plans.append(planned._jdf.queryExecution().analyzed().toString())
        planned.write.mode("append").partitionBy(PARTITION_COL).parquet(out)

    query = (
        spark.readStream.schema(FEED_SCHEMA)
        .parquet(feed)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["user_id", "ts"])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # one data batch (one feed file), then availableNow's no-data
    # batch that advances the watermark
    assert plans
    for plan in plans:
        assert re.search(rf"RepartitionByExpression \[{PARTITION_COL}#", plan), plan
    days = glob.glob(f"{out}/{PARTITION_COL}=*")
    assert days
    for day in days:
        assert len(glob.glob(f"{day}/*.parquet")) == 1, day


def test_clustered_writers_land_one_file_per_partition(spark, tmp_path):
    """On small input every clustered writer emits one file per
    partition value, whatever the input partitioning: a clustered
    append to a versioned table, and a rollup refresh — which also
    leaves the session's partition-overwrite conf untouched (dynamic
    overwrite is a writer option)."""
    import collections

    from data_ingestion_pipeline_spark.operators import rollup as R
    from data_ingestion_pipeline_spark.operators import versioned as V

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS).repartition(16)

    path = str(tmp_path / "appended")
    os.makedirs(path)
    V.append_version_clustered(spark, path, ev, "event_type")
    per_part = collections.Counter(V._manifest(path)["partitions"].values())
    assert len(per_part) > 1 and set(per_part.values()) == {1}

    conf = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(conf)
    base, roll = str(tmp_path / "base"), str(tmp_path / "roll")
    write_time_partitioned(ev, base)
    days = [TOUCHED_DAY, UNTOUCHED_DAY]
    R.refresh_rollup(spark, base, roll, days)
    assert spark.conf.get(conf) == mode
    for day in days:
        assert len(glob.glob(f"{roll}/p_date={day}/*.parquet")) == 1, day


def test_upsert_after_empty_create_heals_layout(spark, tmp_path):
    """An empty first batch creates the plain-layout placeholder (no
    partition dirs); a later non-empty upsert must RE-CREATE the
    table partitioned rather than dynamic-overwriting on top of it —
    mixing root-level files with partition dirs breaks partition
    discovery on read."""
    from data_ingestion_pipeline_spark.operators.upsert import (
        read_table,
        upsert_into_table,
    )
    from data_ingestion_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_TEST

    path = str(tmp_path / "t")
    ev = load_table(spark, SF_TEST, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upsert_into_table(spark, path, ev.limit(0), ["user_id", "ts"])  # empty create
    assert read_table(spark, path).count() == 0
    rows = ev.limit(200)
    upsert_into_table(spark, path, rows, ["user_id", "ts"])  # must heal
    got = read_table(spark, path)
    assert got.count() == 200
    assert set(got.columns) == {"event_id", "ts", "user_id", "event_type", "value"}


def test_scd2_repeated_apply_keeps_history_clean(spark):
    """The defining SCD2 operation is applying batch after batch to a
    dimension that already holds history. Pin the invariants the
    pre-r6 whole-dimension join broke: exactly one is_current row per
    key, closed rows' valid_to never rewritten, versions contiguous,
    and a no-op batch (identical attributes) changes nothing.
    """
    from data_ingestion_pipeline_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", 10.0, 1, "2024-01-01 00:00:00", None, True),
         (2, "b", 20.0, 1, "2024-01-01 00:00:00", None, True)],
        "k int, name string, bal double, version int, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "name", "bal", "version",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    b1 = spark.createDataFrame([(1, "a", 11.0)], "k int, name string, bal double")
    b2 = spark.createDataFrame([(1, "a", 12.0)], "k int, name string, bal double")

    d2 = scd2_apply(dim, b1, "k", "2024-02-01 00:00:00")
    d3 = scd2_apply(d2, b2, "k", "2024-03-01 00:00:00")
    rows = {(r.k, r.version): r for r in d3.collect()}

    assert len(rows) == 4  # k=1 v1,v2,v3 + k=2 v1 — no duplicates
    cur = [r for r in rows.values() if r.is_current]
    assert sorted((r.k, r.version, r.bal) for r in cur) == [(1, 3, 12.0), (2, 1, 20.0)]
    # closed rows keep their ORIGINAL close timestamps
    assert rows[(1, 1)].valid_to.isoformat() == "2024-02-01T00:00:00"
    assert rows[(1, 2)].valid_to.isoformat() == "2024-03-01T00:00:00"

    # idempotence: re-applying the same attributes is a no-op
    d4 = scd2_apply(d3, b2, "k", "2024-04-01 00:00:00")
    assert d4.count() == 4
    assert d4.filter(F.col("is_current")).count() == 2


def test_scd2_fingerprint_sees_null_position(spark):
    """(x, NULL) -> (NULL, x) must register as a change: naive
    xxhash64 over nullable args skips nulls without advancing
    position and would hash both rows identically."""
    from data_ingestion_pipeline_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "x", None, 1, "2024-01-01 00:00:00", None, True)],
        "k int, a string, b string, version int, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "a", "b", "version",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    upd = spark.createDataFrame([(1, None, "x")], "k int, a string, b string")
    out = scd2_apply(dim, upd, "k", "2024-02-01 00:00:00")
    assert out.count() == 2  # closed v1 + opened v2, not a silent no-op
    cur = out.filter(F.col("is_current")).collect()
    assert [(r.a, r.b, r.version) for r in cur] == [(None, "x", 2)]
