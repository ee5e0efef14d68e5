"""K6 analog: TTL'd result cache behavior."""

from __future__ import annotations

import glob
import os
import shutil

from data_ingestion_pipeline_spark.functions.result_cache import cached, plan_key
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


def test_hit_builds_without_a_job_and_a_miss_runs_only_the_write(spark, tmp_path):
    """An entry is read with the caller's schema, so no read of it
    infers one: a miss runs exactly the jobs of writing the result, a hit's build
    runs none, and collecting a hit runs one."""
    root = str(tmp_path / "cache")
    df = grouped_agg_all_stations(spark, SF_TEST)
    expected = sorted(tuple(r) for r in df.collect())
    _, write_jobs = run_counting_jobs(
        spark, lambda: df.write.parquet(str(tmp_path / "plain"))
    )
    _, miss_jobs = run_counting_jobs(spark, lambda: cached(df, cache_root=root))
    assert write_jobs > 0 and miss_jobs == write_jobs

    hit, build_jobs = run_counting_jobs(spark, lambda: cached(df, cache_root=root))
    rows, collect_jobs = run_counting_jobs(spark, hit.collect)
    assert (build_jobs, collect_jobs) == (0, 1)
    assert sorted(tuple(r) for r in rows) == expected
