"""Incrementally-maintained time rollup — the continuous-aggregate
analog of the reference's TimescaleDB hypertable (migrations/db.sql:
14-15 chunks the base table; the reference recomputes every
time_bucket query from raw rows, services/query/main.py:324,345).

A 100 TB deployment cannot re-aggregate the full history whenever a
correction batch lands. The pattern built here:

- the ROLLUP TABLE stores re-mergeable partial aggregates (count +
  exact decimal sum — never bare averages, which don't merge),
  day-partitioned by the SAME derived key as the base table, so a
  base partition maps 1:1 onto a rollup partition;
- an upsert's touched-day list (already collected as partition
  metadata by upsert_into_table) doubles as the rollup refresh list:
  re-aggregate ONLY those days — a partition-pruned scan of the base
  — and dynamic-partition-overwrite exactly those rollup partitions.

Refresh cost is proportional to the corrected days, not the table.
tests/test_rollup.py proves untouched rollup partition files are
byte-identical (same names, same mtimes) across a refresh.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.exact import dec_sum
from data_ingestion_pipeline_spark.operators.upsert import (
    PARTITION_COL,
    distribute_for_write,
    read_table,
    scratch_path,
    upsert_into_table,
    with_partition_col,
    write_time_partitioned,
)
from data_ingestion_pipeline_spark.sources.tables import load_table

# The correction batch's day — at sf0.01 one of 30 day-partitions.
ROLLUP_DAY = "2024-01-07"


def hourly_rollup(df: DataFrame) -> DataFrame:
    """Hourly per-type partial aggregates: count + exact decimal sum
    (order-independent, hence identical whether computed in one full
    build or per-day refreshes), avg derived from the two."""
    agg = df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )
    return agg.withColumn(
        "avg_value", F.col("sum_value") / F.col("n_events")
    )


def refresh_rollup(
    spark: SparkSession, base_path: str, rollup_path: str, touched_days: list[str]
) -> None:
    """Recompute the rollup for ``touched_days`` only: partition-pruned
    base scan → re-aggregate → dynamic partition overwrite of exactly
    those rollup day-partitions. Hour buckets never span days, so the
    day mapping between base and rollup partitions is exact."""
    if not touched_days:
        return
    base_slice = (
        spark.read.parquet(base_path)
        .filter(F.col(PARTITION_COL).isin(touched_days))
        .drop(PARTITION_COL)
    )
    fresh = with_partition_col(hourly_rollup(base_slice), "hour_bucket")
    distribute_for_write(fresh, PARTITION_COL).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(PARTITION_COL).parquet(rollup_path)


def rollup_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end continuous-aggregate lifecycle: full build → a
    one-day correction batch upserted into the base → rollup refreshed
    for that day alone → final rollup read back.

    Oracle: the hourly rollup of the corrected event history — the
    incrementally-maintained table must equal the from-scratch
    aggregate exactly (exact decimal sums make this bit-for-bit).
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    base = scratch_path("rollup", sf_name, "base")
    roll = scratch_path("rollup", sf_name, "rollup")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(roll, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_time_partitioned(ev, base)
    write_time_partitioned(hourly_rollup(read_table(spark, base)), roll, "hour_bucket")

    updates = ev.filter(F.date_format("ts", "yyyy-MM-dd") == ROLLUP_DAY).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    upsert_into_table(spark, base, updates, ["user_id", "ts"])
    touched = [
        r[0]
        for r in with_partition_col(updates)
        .select(PARTITION_COL)
        .distinct()
        .collect()
    ]
    refresh_rollup(spark, base, roll, touched)
    return read_table(spark, roll).select(
        "hour_bucket", "event_type", "n_events", "sum_value", "avg_value"
    )


# The real-time watermark: rollup materialized through this day; raw
# tail after it. At sf0.01 (30 days) this puts ~1/4 of the history in
# the tail — both halves of the union carry real weight.
REALTIME_WATERMARK = "2024-01-22"


def realtime_rollup(
    spark: SparkSession, base_path: str, rollup_path: str, watermark_day: str
) -> DataFrame:
    """Real-time continuous aggregate — TimescaleDB's signature
    behavior (the reference's stack recomputes every time_bucket
    query from raw rows, services/query/main.py:324,345; Timescale's
    real-time CAGG is the production answer): buckets at or before
    the refresh WATERMARK are served from the MATERIALIZED partial
    aggregates (a partition-pruned rollup read — no raw I/O), buckets
    after it are aggregated ON THE FLY from only the raw tail's
    day-partitions (partition-pruned base read). The union is exact
    because hour buckets never span days and the rollup stores
    re-mergeable partials (count + exact decimal sum): a query is
    always current with no refresh on the write path — refresh
    cadence becomes a cost dial, not a staleness bug. At 100 TB the
    query cost is O(materialized buckets + tail days), never
    O(history)."""
    mat = (
        spark.read.parquet(rollup_path)
        .filter(F.col(PARTITION_COL) <= watermark_day)
        .drop(PARTITION_COL)
    )
    tail_raw = (
        spark.read.parquet(base_path)
        .filter(F.col(PARTITION_COL) > watermark_day)
        .drop(PARTITION_COL)
    )
    return mat.unionByName(hourly_rollup(tail_raw))


def realtime_rollup_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: materialize the hourly rollup ONLY through
    REALTIME_WATERMARK (a lagging refresh, the realistic state), then
    serve the real-time view — materialized partials ∪ on-the-fly
    tail — which must equal the from-scratch hourly aggregate of the
    whole history (oracle). Partition pruning on both sides is pinned
    in tests/test_rollup.py."""
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    base = scratch_path("rt_rollup", sf_name, "base")
    roll = scratch_path("rt_rollup", sf_name, "rollup")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(roll, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_time_partitioned(ev, base)
    materialized_slice = with_partition_col(read_table(spark, base)).filter(
        F.col(PARTITION_COL) <= REALTIME_WATERMARK
    ).drop(PARTITION_COL)
    write_time_partitioned(
        hourly_rollup(materialized_slice), roll, "hour_bucket"
    )
    return realtime_rollup(spark, base, roll, REALTIME_WATERMARK).select(
        "hour_bucket", "event_type", "n_events", "sum_value", "avg_value"
    )
