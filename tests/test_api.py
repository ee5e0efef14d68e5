"""QueryAPI facade: the reference's REST parameter surface must
behave exactly like the oracle-verified registry twins, plus the
parameterized behaviors the frozen entries can't exercise
(pagination math, invalid-time failure, cache hits)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.api import QueryAPI
from data_ingestion_pipeline_spark.operators import queries
from data_ingestion_pipeline_spark.operators.queries import END, START, STATION
from tests.conftest import SF_TEST, run_counting_jobs


def _multiset(df):
    from collections import Counter

    cols = sorted(df.columns)
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def test_aggregate_matches_registry_twin(spark):
    got = QueryAPI(spark, SF_TEST).aggregate(STATION, START, END)
    want = queries.grouped_agg(spark, SF_TEST)
    assert _multiset(got) == _multiset(want)


def test_timeseries_matches_registry_twin(spark):
    got = QueryAPI(spark, SF_TEST).timeseries(STATION, START, END, "1 hour")
    want = queries.timeseries_1h(spark, SF_TEST)
    assert _multiset(got) == _multiset(want)


def test_raw_open_range_matches_registry_twin(spark):
    got = QueryAPI(spark, SF_TEST).raw(STATION)
    want = queries.raw_filter_open_range(spark, SF_TEST)
    assert _multiset(got) == _multiset(want)


def test_raw_pagination_is_consistent(spark):
    api = QueryAPI(spark, SF_TEST)
    full = [r.event_id for r in api.raw(STATION, START, END).collect()]
    paged = []
    page, off = 7, 0
    while True:
        chunk = [
            r.event_id
            for r in api.raw(STATION, START, END, limit=page, offset=off).collect()
        ]
        if not chunk:
            break
        paged.extend(chunk)
        off += page
    assert paged == full


def test_invalid_time_bound_raises(spark):
    with pytest.raises(Exception, match="unparseable|ASSERT|CAST_INVALID_INPUT"):
        QueryAPI(spark, SF_TEST).aggregate(STATION, "garbage", END).collect()


def test_cache_hit_returns_same_result(spark, tmp_path, monkeypatch):
    import data_ingestion_pipeline_spark.functions.result_cache as rc

    monkeypatch.setattr(rc, "scratch_path", lambda *a: str(tmp_path / "cache"))
    api = QueryAPI(spark, SF_TEST, cache=True)
    first = _multiset(api.timeseries(STATION, START, END, "30 minutes"))
    again = _multiset(api.timeseries(STATION, START, END, "30 minutes"))
    assert first == again
    # and a different parameterization must MISS, not collide
    other = _multiset(api.timeseries(STATION, START, END, "1 hour"))
    assert other != first


def test_latest_matches_registry_twin(spark):
    got = QueryAPI(spark, SF_TEST).latest()
    want = queries.latest_per_station(spark, SF_TEST)
    assert _multiset(got) == _multiset(want)


def test_requests_run_no_schema_inference_job(spark):
    """The events schema is read once, when the QueryAPI is built:
    building any request, the first and every later one, runs no
    Spark job."""
    api = QueryAPI(spark, SF_TEST)
    for build in (
        lambda: api.raw(STATION),
        lambda: api.raw(STATION, START, END, limit=5),
        lambda: api.aggregate(STATION, START, END),
        lambda: api.timeseries(STATION, START, END, "1 day"),
        api.latest,
    ):
        _, jobs = run_counting_jobs(spark, build)
        assert jobs == 0


def test_cache_hit_request_builds_without_a_job(spark, tmp_path, monkeypatch):
    import data_ingestion_pipeline_spark.functions.result_cache as rc

    monkeypatch.setattr(rc, "scratch_path", lambda *a: str(tmp_path / "cache"))
    api = QueryAPI(spark, SF_TEST, cache=True)
    first = _multiset(api.timeseries(STATION, START, END, "30 minutes"))
    hit, build_jobs = run_counting_jobs(
        spark, lambda: api.timeseries(STATION, START, END, "30 minutes")
    )
    rows, collect_jobs = run_counting_jobs(spark, hit.collect)
    assert (build_jobs, collect_jobs) == (0, 1)
    assert _multiset(hit) == first


def test_long_lived_api_sees_a_replaced_events_file(spark, tmp_path, monkeypatch):
    """Only the schema is pinned: files are listed per request, so an
    events.parquet replaced after the first request (same schema, more
    rows) is what the next miss reads."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import data_ingestion_pipeline_spark.functions.result_cache as rc

    monkeypatch.setattr(rc, "scratch_path", lambda *a: str(tmp_path / "cache"))
    sf = tmp_path / "sf"
    sf.mkdir()
    events = str(sf / "events.parquet")
    shutil.copy(os.path.join(SF_TEST, "events.parquet"), events)
    api = QueryAPI(spark, str(sf), cache=True)
    before = api.aggregate(STATION, START, END).collect()[0].reading_count
    assert before > 0

    tbl = pq.read_table(events)
    extra = tbl.filter(pc.equal(tbl["user_id"], STATION))
    i = extra.schema.get_field_index("event_id")
    extra = extra.set_column(
        i, "event_id", pc.add(extra["event_id"], pa.scalar(10**9, pa.int64()))
    )
    pq.write_table(pa.concat_tables([tbl, extra]), str(sf / "_next.parquet"))
    os.replace(str(sf / "_next.parquet"), events)

    # a parameter tuple not served before: a miss, read from the new file
    end2 = "2024-01-20 00:00:01"
    after = api.aggregate(STATION, START, end2).collect()[0].reading_count
    fresh = QueryAPI(spark, str(sf)).aggregate(STATION, START, end2)
    assert after == fresh.collect()[0].reading_count
    assert after >= 2 * before


def test_toolkit_delegates_match_twins(spark):
    """The facade's toolkit methods must be the oracle-verified
    operators, not reimplementations."""
    from data_ingestion_pipeline_spark.operators import toolkit

    api = QueryAPI(spark, SF_TEST)
    assert _multiset(api.candlestick()) == _multiset(
        toolkit.timeseries_ohlc_1h(spark, SF_TEST)
    )
    assert _multiset(api.timeseries_interpolate()) == _multiset(
        toolkit.timeseries_1h_interpolate(spark, SF_TEST)
    )
    assert _multiset(api.sessions()) == _multiset(
        queries.session_windows_30m(spark, SF_TEST)
    )
    assert _multiset(api.timeseries_gapfill()) == _multiset(
        queries.timeseries_1h_gapfill(spark, SF_TEST)
    )
