"""TTL'd query-result cache (K6 analog), written and read on the driver.

The reference caches marshaled query results in Redis under
SHA-256(query + params) with a 300 s TTL
(services/query/main.py:66-79,226-234): a hit is one in-memory value
the client receives whole. The engine-level equivalent: key the
OPTIMIZED LOGICAL PLAN (Catalyst has already folded the parameters
into it), store the response as one parquet file in scratch space,
and serve reads from that file while it is younger than the TTL.
``df.cache()`` covers intra-session reuse; this layer is the
cross-session / serving-tier analog with explicit expiry, kept
deliberately tiny.

Plan keys normalize away per-session expression ids (``#123``), so
the same query text from two sessions hits the same entry. Two
different queries collide only if their optimized plans are
identical modulo ids — i.e. they are the same query.

A miss collects the query as Arrow (``df.toArrow()``, which runs the
query's own jobs and nothing else) and writes that table with
pyarrow; a hit reads the file with pyarrow. Both return
``spark.createDataFrame(table, schema=df.schema)``, a local relation:
building and collecting it run no Spark job, and its rows keep the
order the query produced them in, so an ORDER BY survives the cache.
An equal key means the same query, so the caller's ``df.schema`` is
the entry's schema.

An entry is the directory ``<root>/<plan key>/`` holding
``result.parquet`` and ``_SUCCESS``, whose mtime is the TTL clock.
A write goes to a temp file beside the result and is ``os.replace``d
onto it before ``_SUCCESS`` is touched, and the directory is never
removed: a concurrent reader gets the old file or the new one whole.
An entry with a fresh ``_SUCCESS`` but no result file (a torn write,
or an entry of the older many-part layout) is a miss and is
rewritten; any other file left in the directory goes then.

Like the reference's Redis value, the entry is the whole response:
``spark.driver.maxResultSize`` bounds it, and a larger result fails
the request.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import re
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from data_ingestion_pipeline_spark.operators.upsert import scratch_path

DEFAULT_TTL_SECONDS = 300  # the reference's CACHE_TTL
RESULT_FILE = "result.parquet"
_TMP_PREFIX = RESULT_FILE + ".tmp-"


def plan_key(df: DataFrame) -> str:
    """Stable cache key for a DataFrame's optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    normalized = re.sub(r"#\d+L?", "#", plan)
    return hashlib.sha256(normalized.encode()).hexdigest()


def _is_fresh(path: str, ttl_seconds: int) -> bool:
    marker = os.path.join(path, "_SUCCESS")
    return (
        os.path.exists(os.path.join(path, RESULT_FILE))
        and os.path.exists(marker)
        and (time.time() - os.path.getmtime(marker)) < ttl_seconds
    )


def _drop_strays(path: str) -> None:
    """Remove what is neither the entry nor a write in flight: the
    part files and checksums of the older layout, a crashed Spark
    write's ``_temporary``."""
    for name in os.listdir(path):
        if name in (RESULT_FILE, "_SUCCESS") or name.startswith(_TMP_PREFIX):
            continue
        p = os.path.join(path, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except FileNotFoundError:  # a concurrent miss removed it
                pass


def _publish(path: str, table) -> None:
    os.makedirs(path, exist_ok=True)
    _drop_strays(path)
    tmp = os.path.join(path, _TMP_PREFIX + uuid.uuid4().hex[:8])
    try:
        # no ARROW:schema footer copy (~500 B an entry): a reader
        # casts to the caller's df.schema anyway
        pq.write_table(table, tmp, store_schema=False)
        os.replace(tmp, os.path.join(path, RESULT_FILE))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    pathlib.Path(path, "_SUCCESS").touch()


def cached(
    df: DataFrame,
    ttl_seconds: int = DEFAULT_TTL_SECONDS,
    cache_root: str | None = None,
) -> DataFrame:
    """Serve `df`'s result from the cache if a fresh entry exists;
    otherwise collect it, store it, and serve the collected copy.

    Either way the result is a local relation over the stored rows,
    so collecting it is O(result size) and runs no Spark job, like
    the reference's Redis hit.
    """
    spark = df.sparkSession
    root = cache_root or scratch_path("result_cache")
    path = os.path.join(root, plan_key(df))
    if _is_fresh(path, ttl_seconds):
        table = pq.read_table(os.path.join(path, RESULT_FILE))
    else:
        table = df.toArrow()
        _publish(path, table)
    return spark.createDataFrame(table, schema=df.schema)
