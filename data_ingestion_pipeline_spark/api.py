"""User-facing query API: the reference's REST parameter surface as
plain Python methods returning DataFrames.

A user of the reference calls three endpoints with (station_id,
start_time, end_time, interval, limit/offset) parameters
(`services/query/main.py:170-398`); this facade exposes the same
parameter surface over the engine — the registry entries freeze
specific parameter values for the oracle harness, while this class
is what an application imports. Methods are thin: they validate the
way the reference does (fail-fast ISO parse ≡ its HTTP 400,
`parse_time_bound`) and delegate to the operator layer, so every
code path here is the same plan the oracle-verified entries pin.

Caching mirrors the reference's Redis layer (`services/query/
main.py:60-124`, TTL 300 s): pass ``cache=True`` and results flow
through functions/result_cache.py — a TTL'd cache of whole
responses, one parquet file each, keyed by the normalized optimized
plan, so two textually different but plan-identical queries share an
entry, and any parameter change misses.

Building a request's DataFrame runs no Spark job: a ``QueryAPI``
reads the raw events schema once, when it is constructed, and every
request scans with that schema (``load_table(..., schema)``), so
only the inference is skipped — the files are still listed per
request and a rewritten ``events.parquet`` is seen. With the cache
on, a miss runs only the query's own jobs, and every cached response
is a local relation with the request's own schema and row order: a
hit's build and its collect run no job at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.exact import dec_avg
from data_ingestion_pipeline_spark.operators.queries import (
    latest_of,
    parse_time_bound,
)
from data_ingestion_pipeline_spark.sources.tables import load_table, raw_schema


class QueryAPI:
    """``QueryAPI(spark, sf_dir).timeseries(7, start, end, "30 minutes")``
    — the `/weather/*` surface on DataFrames."""

    def __init__(
        self, spark: SparkSession, sf_dir: str, cache: bool = False
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.cache = cache
        self._raw_schema = raw_schema(spark, sf_dir, "events")

    def _events(self) -> DataFrame:
        return load_table(self.spark, self.sf_dir, "events", self._raw_schema)

    def _finish(self, df: DataFrame) -> DataFrame:
        if not self.cache:
            return df
        from data_ingestion_pipeline_spark.functions.result_cache import (
            cached,
        )

        return cached(df)

    def _bounded(self, station_id: int, start_time: str | None, end_time: str | None):
        """Station filter plus the reference's conditional BETWEEN —
        bounds included only when both are present
        (`services/query/main.py:207-209`), each failing fast on
        garbage like its HTTP 400."""
        ev = self._events().filter(F.col("user_id") == int(station_id))
        if start_time is not None and end_time is not None:
            ev = ev.filter(
                F.col("ts").between(
                    parse_time_bound(start_time), parse_time_bound(end_time)
                )
            )
        return ev

    def raw(
        self,
        station_id: int,
        start_time: str | None = None,
        end_time: str | None = None,
        limit: int | None = None,
        offset: int = 0,
    ) -> DataFrame:
        """GET /weather/{station_id}: newest-first readings, optional
        time range, optional limit/offset pagination."""
        out = (
            self._bounded(station_id, start_time, end_time)
            .select("event_id", "ts", "user_id", "event_type", "value")
            .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        )
        if limit is not None:
            out = out.offset(offset).limit(limit)
        return self._finish(out)

    def aggregate(
        self, station_id: int, start_time: str, end_time: str
    ) -> DataFrame:
        """GET /weather/aggregate/{station_id}: avg/min/max/count."""
        out = (
            self._bounded(station_id, start_time, end_time)
            .groupBy("user_id")
            .agg(
                dec_avg("value").alias("avg_value"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
                F.count(F.lit(1)).alias("reading_count"),
            )
        )
        return self._finish(out)

    def timeseries(
        self,
        station_id: int,
        start_time: str,
        end_time: str,
        interval: str = "1 hour",
    ) -> DataFrame:
        """GET /weather/timeseries/{station_id}: generic time_bucket —
        any Spark interval string ('30 minutes', '1 day', ...), the
        reference's arbitrary-interval parameter (its registry twins
        freeze '1 hour'/'15 minutes'). ``window()`` aligns buckets to
        the epoch exactly as TimescaleDB's time_bucket does for
        calendar-aligned intervals."""
        out = (
            self._bounded(station_id, start_time, end_time)
            .groupBy(F.window("ts", interval).alias("w"))
            .agg(
                dec_avg("value").alias("avg_value"),
                F.count(F.lit(1)).alias("reading_count"),
            )
            .select(F.col("w.start").alias("bucket"), "avg_value", "reading_count")
            .orderBy("bucket")
        )
        return self._finish(out)

    def latest(self) -> DataFrame:
        """The stored-proc latest-per-station (DISTINCT ON analog)."""
        return self._finish(latest_of(self._events()))

    # The toolkit surface (a TimescaleDB user's `CREATE EXTENSION`
    # territory) delegates to the oracle-verified operators — exposed
    # here so the one facade covers everything an application calls.

    def timeseries_gapfill(self) -> DataFrame:
        """Gap-filled hourly series, locf (time_bucket_gapfill+locf)."""
        from data_ingestion_pipeline_spark.operators.queries import (
            timeseries_1h_gapfill,
        )

        return self._finish(timeseries_1h_gapfill(self.spark, self.sf_dir))

    def timeseries_interpolate(self) -> DataFrame:
        """Gap-filled hourly series, linear interpolation."""
        from data_ingestion_pipeline_spark.operators.toolkit import (
            timeseries_1h_interpolate,
        )

        return self._finish(timeseries_1h_interpolate(self.spark, self.sf_dir))

    def candlestick(self) -> DataFrame:
        """Hourly OHLC per station (candlestick_agg)."""
        from data_ingestion_pipeline_spark.operators.toolkit import (
            timeseries_ohlc_1h,
        )

        return self._finish(timeseries_ohlc_1h(self.spark, self.sf_dir))

    def sessions(self) -> DataFrame:
        """30-minute-gap session windows per station (batch)."""
        from data_ingestion_pipeline_spark.operators.queries import (
            session_windows_30m,
        )

        return self._finish(session_windows_30m(self.spark, self.sf_dir))

    def streaming_sessions(
        self, disorder_horizon_s: int = 3600
    ) -> DataFrame:
        """Streaming sessionization — ALWAYS the bounded variant for
        deployments: watermark + EventTimeTimeout at the disorder
        horizon, so state is bounded by stream rate × horizon instead
        of growing with total session count. Size the horizon to the
        source's real disorder (a Kafka topic's per-partition time
        skew, typically minutes). The unbounded NoTimeout twin
        (stream_session_windows with disorder_horizon_s=None) exists
        as the adversarial-disorder replay fixture and is deliberately
        NOT reachable from this facade — on an endless stream its
        state never shrinks."""
        from data_ingestion_pipeline_spark.streaming.pipeline import (
            stream_session_windows,
        )

        return stream_session_windows(
            self.spark, self.sf_dir, disorder_horizon_s=disorder_horizon_s
        )


def timeseries_30m_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the facade's generic-interval path at
    '30 minutes' — an interval no other entry freezes, so the
    window()-based bucketing gets its own oracle."""
    from data_ingestion_pipeline_spark.operators.queries import END, START, STATION

    return QueryAPI(spark, sf_dir).timeseries(STATION, START, END, "30 minutes")
