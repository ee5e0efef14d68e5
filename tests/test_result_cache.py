"""K6 analog: TTL'd result cache behavior."""

from __future__ import annotations

import glob
import os
import shutil
import sys

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.result_cache import (
    RESULT_FILE,
    cached,
    plan_key,
)
from data_ingestion_pipeline_spark.operators.queries import grouped_agg_all_stations
from data_ingestion_pipeline_spark.operators.upsert import scratch_path
from tests.conftest import SF_TEST, run_counting_jobs


def _entry_files(root: str, key: str):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(root, key, "*"))
    }


def test_cache_hit_serves_stored_result_and_expires(spark):
    # cache_root CONTAINS the entries (entry dir = root/<plan_key>)
    root = scratch_path("t_cache")
    shutil.rmtree(root, ignore_errors=True)

    df = grouped_agg_all_stations(spark, SF_TEST)
    key = plan_key(df)
    expected = sorted(tuple(r) for r in df.collect())

    first = sorted(tuple(r) for r in cached(df, cache_root=root).collect())
    files_after_first = _entry_files(root, key)
    assert first == expected and files_after_first

    # hit: same rows, stored files untouched (no rewrite)
    second = sorted(tuple(r) for r in cached(df, cache_root=root).collect())
    assert second == expected
    assert _entry_files(root, key) == files_after_first

    # same query text in a fresh plan object → same key (expr ids normalized)
    assert plan_key(grouped_agg_all_stations(spark, SF_TEST)) == key

    # ttl=0: entry is stale, gets rewritten
    third = sorted(tuple(r) for r in cached(df, ttl_seconds=0, cache_root=root).collect())
    assert third == expected
    assert _entry_files(root, key) != files_after_first


def test_hit_runs_no_job_and_a_miss_runs_only_the_query(spark, tmp_path):
    """A miss runs exactly the jobs of collecting the query as Arrow,
    and a hit is a local relation over the stored rows: building it
    and collecting it run no job."""
    root = str(tmp_path / "cache")
    df = grouped_agg_all_stations(spark, SF_TEST)
    expected = sorted(tuple(r) for r in df.collect())
    _, arrow_jobs = run_counting_jobs(spark, df.toArrow)
    _, miss_jobs = run_counting_jobs(spark, lambda: cached(df, cache_root=root))
    assert arrow_jobs > 0 and miss_jobs == arrow_jobs

    hit, build_jobs = run_counting_jobs(spark, lambda: cached(df, cache_root=root))
    rows, collect_jobs = run_counting_jobs(spark, hit.collect)
    assert (build_jobs, collect_jobs) == (0, 0)
    assert sorted(tuple(r) for r in rows) == expected


def _ordered_frames(spark):
    """An ORDER BY over 8 input partitions whose result spans several
    files when Spark writes it, plus timestamp and decimal(20,4)
    columns and an empty result of the same shape."""
    ordered = (
        spark.range(0, 200_000, numPartitions=8)
        .withColumn("h", F.sha2(F.col("id").cast("string"), 256))
        .withColumn("ts", F.timestamp_micros(F.col("id") * 1_000_003))
        .withColumn("d", (F.col("id") / 7).cast("decimal(20,4)"))
        .orderBy(F.col("id").desc())
    )
    return {"ordered": ordered, "empty": ordered.filter(F.col("id") < 0)}


def test_miss_and_hit_keep_order_and_schema(spark, tmp_path):
    root = str(tmp_path / "cache")
    for name, df in _ordered_frames(spark).items():
        expected = df.collect()
        miss = cached(df, cache_root=root)
        hit = cached(df, cache_root=root)
        assert miss.collect() == expected, name
        assert hit.collect() == expected, name
        assert miss.schema == df.schema and hit.schema == df.schema, name
    assert expected == []  # the empty frame came last


def test_entry_without_result_file_is_a_miss_and_rewritten(spark, tmp_path):
    """A fresh _SUCCESS beside no result file (a torn write, or an
    entry in the older many-part layout) is rewritten, not served,
    and the stray files go."""
    root = str(tmp_path / "cache")
    df = grouped_agg_all_stations(spark, SF_TEST)
    entry = os.path.join(root, plan_key(df))
    df.write.parquet(entry)  # the older layout: part files + _SUCCESS
    assert not os.path.exists(os.path.join(entry, RESULT_FILE))

    rows = sorted(tuple(r) for r in cached(df, cache_root=root).collect())
    assert rows == sorted(tuple(r) for r in df.collect())
    assert sorted(os.listdir(entry)) == ["_SUCCESS", RESULT_FILE]


def test_concurrent_rewrites_of_one_entry_never_tear(spark, tmp_path):
    """ttl=0 makes every call a rewrite of the same entry: two threads
    rewriting and reading it at once must each get the whole result,
    and no temp directory is left in the cache root."""
    from pyspark import InheritableThread

    root = str(tmp_path / "cache")
    df = grouped_agg_all_stations(spark, SF_TEST)
    expected = sorted(tuple(r) for r in df.collect())
    errors: list[Exception] = []
    responses: list[list[tuple]] = []

    def client() -> None:
        for _ in range(20):
            try:
                got = cached(df, ttl_seconds=0, cache_root=root).collect()
                responses.append(sorted(tuple(r) for r in got))
            except Exception as e:  # reported below
                errors.append(e)

    threads = [InheritableThread(target=client) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the two writers finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(responses) == 40 and all(r == expected for r in responses)
    assert os.listdir(root) == [plan_key(df)]
    assert sorted(os.listdir(os.path.join(root, plan_key(df)))) == [
        "_SUCCESS", RESULT_FILE,
    ]
