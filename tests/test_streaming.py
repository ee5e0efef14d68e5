"""Streaming slice tests (SURVEY.md §2.7).

Result-equality of the streamed tables vs the DuckDB oracle is
covered by test_oracle_parity (stream_dedup_upsert,
stream_timeseries_1h are ordinary registry entries). Here: the
/stats-style counters recover the known injected duplicate rate, and
the sink is idempotent under batch replay (T5).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.upsert import (
    read_table,
    scratch_path,
    upsert_into_table,
)
from data_ingestion_pipeline_spark.sources.tables import load_table
from data_ingestion_pipeline_spark.streaming.pipeline import (
    FEED_COLS,
    build_feed,
    run_dedup_ingest,
)
from tests.conftest import SF_TEST


def test_stream_dedup_counters(spark):
    """The drained counters must recover the generator's injected
    duplicate rate exactly: messages = n + n/5, persisted = n,
    duplicates = n/5 (injected copies are verbatim; no natural
    (user_id, ts) collisions exist in the testdata)."""
    feed = scratch_path("t_counters", "feed")
    table = scratch_path("t_counters", "table")
    ckpt = scratch_path("t_counters", "ckpt")
    for p in (table, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    ev = load_table(spark, SF_TEST, "events")
    n = ev.count()
    n_dups = ev.filter(F.col("event_id") % 5 == 0).count()

    build_feed(spark, SF_TEST, feed)
    counters = run_dedup_ingest(spark, feed, table, ckpt)

    assert counters["messages_processed"] == n + n_dups
    assert counters["rows_persisted"] == n
    assert counters["in_memory_duplicates"] == n_dups
    assert counters["batches_persisted"] >= 2, "feed must span micro-batches"
    assert read_table(spark, table).count() == n


def test_upsert_replay_idempotent(spark):
    """T5: re-applying the same update batch must leave the table
    byte-identical — at-least-once delivery is harmless."""
    table = scratch_path("t_replay", "table")
    shutil.rmtree(table, ignore_errors=True)

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    batch = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "value", F.col("value") + F.lit(5.0)
    )
    upsert_into_table(spark, table, ev, ["user_id", "ts"])
    upsert_into_table(spark, table, batch, ["user_id", "ts"])
    once = sorted(tuple(r) for r in read_table(spark, table).collect())
    upsert_into_table(spark, table, batch, ["user_id", "ts"])  # replay
    twice = sorted(tuple(r) for r in read_table(spark, table).collect())
    assert once == twice


def test_ordered_feed_reuse_requires_replay_order(spark, tmp_path):
    """The file stream source replays an ordered feed by file mtime. A
    cached feed whose mtimes no longer follow its write order (a
    `cp -r` copy resets them in copy order) must be rebuilt, not
    reused: reversed mtimes would replay the slices newest first."""
    import glob
    import time

    from data_ingestion_pipeline_spark.streaming.pipeline import (
        build_ordered_feed,
    )

    feed = str(tmp_path / "feed")

    def by_replay_order() -> list[str]:
        return sorted(
            glob.glob(f"{feed}/*.parquet"), key=lambda f: os.stat(f).st_mtime_ns
        )

    def replays_in_time_order() -> bool:
        spans = [
            spark.read.parquet(f).agg(F.min("ts"), F.max("ts")).first()
            for f in by_replay_order()
        ]
        spans = [sp for sp in spans if sp[0] is not None]
        return all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))

    build_ordered_feed(spark, SF_TEST, feed)
    assert len(by_replay_order()) == 4
    assert replays_in_time_order()

    now = time.time()
    for i, f in enumerate(by_replay_order()):  # first written → newest
        os.utime(f, (now - 60 * i, now - 60 * i))
    assert not replays_in_time_order()  # precondition: order broken

    build_ordered_feed(spark, SF_TEST, feed)
    assert replays_in_time_order()


def test_late_data_accepted_and_upsert_collapses(spark):
    """Late-data semantics with a SHORT watermark horizon:

    1. rows arriving long after the watermark passed their event time
       are still ACCEPTED (dropDuplicatesWithinWatermark bounds state,
       not input) — matching the reference's accept-arbitrarily-late
       behavior;
    2. a duplicate arriving beyond the horizon escapes the stream's
       dedup state but is collapsed by the idempotent keyed upsert —
       the final table has exactly one row per key regardless.
    """
    import time

    from pyspark.sql import functions as F

    feed = scratch_path("t_late", "feed")
    table = scratch_path("t_late", "table")
    ckpt = scratch_path("t_late", "ckpt")
    for p in (feed, table, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    recent = ev.filter(F.col("ts") >= "2024-01-25")
    old = ev.filter(F.col("ts") < "2024-01-03")
    dup_of_recent = recent.filter(F.col("event_id") % 3 == 0)

    # file 1: recent data (advances the watermark past `old` + horizon)
    recent.repartition(1).write.mode("overwrite").parquet(feed)
    time.sleep(1.2)  # file-source orders by mod time; force batch order
    # file 2: arbitrarily-late originals + beyond-horizon duplicates
    old.unionAll(dup_of_recent).repartition(1).write.mode("append").parquet(feed)

    counters = run_dedup_ingest(
        spark, feed, table, ckpt, watermark="1 day", max_files_per_trigger=1
    )
    n_recent, n_old, n_dup = recent.count(), old.count(), dup_of_recent.count()
    assert counters["messages_processed"] == n_recent + n_old + n_dup
    got = read_table(spark, table)
    # every distinct key exactly once: late originals accepted, late
    # duplicates collapsed by the sink
    assert got.count() == n_recent + n_old
    assert got.select("user_id", "ts").distinct().count() == n_recent + n_old


def test_bounded_session_state_is_pruned(spark):
    """Deployment-mode sessionization (watermark + EventTimeTimeout +
    data-path finality pruning) must produce the IDENTICAL session
    table as the unbounded accept-arbitrarily-late twin while leaving
    strictly less state behind — state bounded by the disorder
    horizon, not the stream length. Read back via Spark's statestore
    data source on each drain's checkpoint."""
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        stream_session_windows,
    )

    bounded = stream_session_windows(spark, SF_TEST, disorder_horizon_s=3600)
    rows_b = sorted(map(tuple, bounded.collect()))
    unbounded = stream_session_windows(spark, SF_TEST)
    rows_u = sorted(map(tuple, unbounded.collect()))
    assert rows_b == rows_u, "horizon eviction must not change the answer"

    sf_name = SF_TEST.rstrip("/").rsplit("/", 1)[1]
    n_bounded = (
        spark.read.format("statestore")
        .load(scratch_path("stream_sessions_bounded", sf_name, "ckpt"))
        .count()
    )
    n_unbounded = (
        spark.read.format("statestore")
        .load(scratch_path("stream_sessions", sf_name, "ckpt"))
        .count()
    )
    assert n_bounded < n_unbounded, (n_bounded, n_unbounded)


def test_bounded_session_sink_prunes_and_matches(spark, monkeypatch):
    """r16 adaptive stats pruning in the bounded session sink: with
    the file-count floor forced to 0, every post-seed merge engages
    prune_on='session_start' (telemetry lands in the final commit
    meta) and the drained table is STILL identical to the unbounded
    twin — pruning may only skip files that provably hold no touched
    session, never change the answer."""
    from data_ingestion_pipeline_spark.streaming import pipeline as P
    from data_ingestion_pipeline_spark.operators import versioned as V

    monkeypatch.setattr(P, "MERGE_PRUNE_MIN_FILES", 0)
    bounded = P.stream_session_windows(spark, SF_TEST, disorder_horizon_s=3600)
    rows_b = sorted(map(tuple, bounded.collect()))
    sf_name = SF_TEST.rstrip("/").rsplit("/", 1)[1]
    table = scratch_path("stream_sessions_bounded", sf_name, "table")
    mm = V.manifest_meta(table)["merge"]
    assert "files_scanned" in mm and "files_pruned" in mm, mm
    monkeypatch.undo()
    unbounded = P.stream_session_windows(spark, SF_TEST)
    rows_u = sorted(map(tuple, unbounded.collect()))
    assert rows_b == rows_u


def test_session_merge_is_associative():
    """The incremental sessionization (stream_session_windows) is
    correct under ANY batching iff summary interval-merge is
    associative; fold random event splits in random orders and
    require the identical session list each time."""
    import json
    import random

    from data_ingestion_pipeline_spark.streaming.pipeline import merge_sessions as merge

    rng = random.Random(42)
    for trial in range(50):
        n = rng.randint(1, 40)
        ts = sorted(rng.randrange(0, 6 * 3600 * 1_000_000) for _ in range(n))
        pts = [[t, t, 1, rng.randrange(0, 10000)] for t in ts]
        expected = merge([], [list(p) for p in pts])
        shuffled = [list(p) for p in pts]
        rng.shuffle(shuffled)
        state = []
        while shuffled:
            k = rng.randint(1, len(shuffled))
            state = merge(state, shuffled[:k])
            shuffled = shuffled[k:]
        assert json.dumps(state) == json.dumps(expected), trial


def test_replayed_batch_after_dv_delete_adds_no_rows(spark, tmp_path):
    """The replay guard reads the newest batch_id any commit carries,
    not the head manifest's: a DV delete publishes its own meta, and a
    batch replayed after it must still be skipped. The sink here is a
    plain append, so a replay the guard let through would add its rows
    again."""
    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        exactly_once_sink,
    )

    table = str(tmp_path / "table")
    os.makedirs(table)
    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    batch = ev.filter(F.col("event_id") % 20 == 0)
    sink = exactly_once_sink(
        table,
        lambda bdf, batch_id: V.append_version_clustered(
            spark, table, bdf, None, meta={"batch_id": batch_id}
        ),
    )
    sink(batch, 0)
    V.delete_rows_dv(spark, table, F.col("event_id") % 40 == 0)
    assert "batch_id" not in V.manifest_meta(table)  # the head hides it
    live = V.read_version(spark, table).count()
    assert 0 < live < batch.count()

    sink(batch, 0)  # replay after the delete
    assert V.read_version(spark, table).count() == live
    sink(ev.filter(F.col("event_id") % 20 == 1), 1)  # a new batch lands
    assert V.read_version(spark, table).count() > live


def test_corpus_ingest_replay_idempotent(spark, tmp_path):
    """At-least-once absorption for the corpus ingest: replaying an
    already-applied crawl batch against the table adds zero rows (the
    anti-join sees its own earlier append), and the within-batch
    survivor is the min doc_id."""
    from pyspark.sql import Row

    from data_ingestion_pipeline_spark.streaming.pipeline import (
        corpus_ingest_batch,
    )

    table = str(tmp_path / "corpus_table")
    batch = spark.createDataFrame(
        [
            Row(doc_id=7, text="a b c", lang="en", source="s", n_chars=5),
            Row(doc_id=3, text="a b c", lang="en", source="s", n_chars=5),
            Row(doc_id=9, text="x y z", lang="en", source="s", n_chars=5),
        ]
    )
    corpus_ingest_batch(spark, table, batch)
    first = {(r.doc_id, r.text) for r in spark.read.parquet(table).collect()}
    assert first == {(3, "a b c"), (9, "x y z")}
    # replay the same batch (at-least-once redelivery)
    corpus_ingest_batch(spark, table, batch)
    again = [(r.doc_id, r.text) for r in spark.read.parquet(table).collect()]
    assert sorted(again) == sorted(first)
    # a later crawl with only known content adds nothing either
    later = spark.createDataFrame(
        [Row(doc_id=1000, text="x y z", lang="en", source="s", n_chars=5)]
    )
    corpus_ingest_batch(spark, table, later)
    assert spark.read.parquet(table).count() == 2


def test_versioned_ingest_compaction_composes(spark):
    """OPTIMIZE after the exactly-once drain: the compacted snapshot
    equals the source, the micro-batch debris shrinks to fewer files,
    and the replay guard's batch_id meta rides through the compaction
    manifest (a restart after maintenance must still skip committed
    batches)."""
    import os

    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        stream_versioned_ingest_compacted,
    )

    out = stream_versioned_ingest_compacted(spark, SF_TEST)
    got = sorted(map(tuple, out.collect()))
    want = sorted(
        map(
            tuple,
            load_table(spark, SF_TEST, "events")
            .select(*FEED_COLS)
            .collect(),
        )
    )
    assert got == want

    table = scratch_path(
        "stream_versioned", os.path.basename(SF_TEST.rstrip("/")), "table"
    )
    m = V._manifest(table)
    comp = m["meta"]["compaction"]
    assert comp["files_out"] < comp["files_in"]
    assert isinstance(m["meta"]["batch_id"], int)  # replay guard survives


def test_stream_append_ingest_commits_are_batch_sized(spark):
    """The O(micro-batch) sink contract: every post-batch-1 manifest
    carries ALL earlier files by reference (no rewrite — v1's physical
    files appear verbatim in the final manifest), the per-batch bloom
    refresh harvests only that batch's new files, and the drained
    table still equals the first-wins dedup of the duplicated feed."""
    import json
    import os

    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.operators.upsert import scratch_path
    from data_ingestion_pipeline_spark.sources.tables import load_table
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        stream_versioned_append_ingest,
    )
    from tests.conftest import SF_TEST

    got = stream_versioned_append_ingest(spark, SF_TEST)
    ev = load_table(spark, SF_TEST, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ev.collect()))

    sf_name = os.path.basename(SF_TEST.rstrip("/"))
    table = scratch_path("stream_vappend", sf_name, "table")
    cur = V.current_version(table)
    assert cur >= 2, "expected multiple micro-batch commits"
    m_final = V._manifest(table)
    m1 = V._manifest(table, 1)
    assert m1["files"], "first batch committed no files"
    assert set(m1["files"]) <= set(m_final["files"]), (
        "an append-shaped commit rewrote earlier batches' files"
    )
    # each version adds files, never drops (append-only chain)
    prev = set()
    for v in range(1, cur + 1):
        files = set(V._manifest(table, v)["files"])
        assert prev <= files
        prev = files
    # last bloom refresh harvested only the final batch's delta
    with open(os.path.join(table, "_BLOOM_event_id.json")) as fh:
        idx = json.load(fh)
    last_delta = len(m_final["files"]) - len(V._manifest(table, cur - 1)["files"])
    assert idx["version"] == cur
    assert idx["harvested_files"] == last_delta
    assert idx["carried_files"] == len(m_final["files"]) - last_delta


def test_stream_cdc_merge_versions_and_replay(spark):
    """CDC MERGE sink: the drained table equals the staged replay,
    each micro-batch is ONE merge commit with the right per-clause
    counts recorded, the delete stage leaves a DV (zero rewrites),
    and a replayed batch id skips without a new version."""
    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        stream_cdc_merge_ingest,
    )

    got = stream_cdc_merge_ingest(spark, SF_TEST)
    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    want = {
        r.event_id: (r.value + 100.0 if r.event_id % 4 == 0 else r.value)
        for r in ev.collect()
        if r.event_id % 4 != 1
    }
    assert {r.event_id: r.value for r in got.collect()} == want

    sf_name = SF_TEST.rstrip("/").rsplit("/", 1)[-1]
    table = scratch_path("stream_cdc", sf_name, "table")
    # v1 bootstrap (empty) + one merge commit per stage file
    assert V.current_version(table) == 4
    n = {k: 0 for k in ("updated", "deleted", "inserted")}
    for v in (2, 3, 4):
        merge = V.manifest_meta(table, v)["merge"]
        for k in n:
            n[k] += merge[k]
    n_b = {b: sum(1 for r in ev.collect() if r.event_id % 4 == b) for b in range(4)}
    assert n == {
        "inserted": n_b[0] + n_b[1] + n_b[2] + n_b[3],
        "updated": n_b[0],
        "deleted": n_b[1],
    }
    # delete stage rode a DV — no data files were rewritten
    assert V._manifest(table)["dv"]["rows"] >= n_b[1]

    # the replay guard's precondition: the LAST batch id is in the
    # current manifest meta, so any redelivered id (≤ it) skips — the
    # guard branch itself is pinned by the identical construction's
    # test (test_stream_versioned_sink_replay_is_exactly_once)
    assert V.manifest_meta(table)["batch_id"] == 2

    # re-applying the final stage batch out-of-band is content-
    # idempotent even WITHOUT the guard (apply_changes_mor contract):
    # a crash between apply and checkpoint-commit cannot corrupt state
    stage3 = (
        ev.filter(F.col("event_id") % 4 == 1)
        .withColumn("_change_type", F.lit("delete"))
        .unionByName(
            ev.filter(F.col("event_id") % 4 == 3).withColumn(
                "_change_type", F.lit("insert")
            )
        )
    )
    V.apply_changes_mor(spark, table, stage3, ["event_id"])
    assert {
        r.event_id: r.value
        for r in V.read_version(spark, table)
        .select(*FEED_COLS)
        .collect()
    } == want


def test_stream_cdf_replica_replay_is_noop(spark, tmp_path):
    """CDF-as-a-stream exactly-once: (1) the drained replica equals
    the source's final snapshot; (2) a FULL replay from a fresh
    checkpoint re-delivers every commit and the acked guard skips all
    of them — zero new replica versions; (3) a commit landing after
    the first drain is picked up incrementally by the same
    checkpoint."""
    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        run_cdf_replica_stream,
    )

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    os.makedirs(src)
    ev = (
        load_table(spark, SF_TEST, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .limit(400)
    )
    V.commit_version(spark, src, ev)
    V.upsert_version(
        spark,
        src,
        ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + 1000.0
        ),
        ["event_id"],
    )
    V.delete_rows_dv(spark, src, F.col("event_type") == "click")

    run_cdf_replica_stream(spark, src, rep, ["event_id"], str(tmp_path / "ck1"))
    want = sorted(map(tuple, V.read_version(spark, src).collect()))
    assert sorted(map(tuple, V.read_version(spark, rep).collect())) == want
    v_after = V.current_version(rep)
    assert int(V.manifest_meta(rep)["cdf_acked"]) == V.current_version(src)

    # full replay (fresh checkpoint): every batch re-delivered, every
    # batch skipped — replica untouched
    run_cdf_replica_stream(spark, src, rep, ["event_id"], str(tmp_path / "ck2"))
    assert V.current_version(rep) == v_after
    assert sorted(map(tuple, V.read_version(spark, rep).collect())) == want

    # incremental pickup on the original checkpoint
    V.upsert_version(
        spark,
        src,
        ev.filter(F.col("event_id") % 7 == 0).withColumn(
            "value", F.lit(-5.0)
        ),
        ["event_id"],
    )
    run_cdf_replica_stream(spark, src, rep, ["event_id"], str(tmp_path / "ck1"))
    want2 = sorted(map(tuple, V.read_version(spark, src).collect()))
    assert sorted(map(tuple, V.read_version(spark, rep).collect())) == want2
    assert int(V.manifest_meta(rep)["cdf_acked"]) == V.current_version(src)


def test_stream_cdf_replica_survives_replica_maintenance(spark, tmp_path):
    """ADVICE r15 (low): a non-stream commit to the REPLICA
    (compaction here; any maintenance/DDL commit behaves the same)
    rides in with its own meta, so a cursor that read only the current
    manifest's 'cdf_acked' silently saw 0 and the next batch wedged on
    table_changes(src, 0, hi) with a misleading 'vacuumed' error. The
    cursor read now walks replica history backward to the newest
    commit carrying the key, so the drain after maintenance applies
    exactly the new source commits and converges."""
    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.streaming.pipeline import (
        run_cdf_replica_stream,
    )

    src = str(tmp_path / "src")
    rep = str(tmp_path / "rep")
    os.makedirs(src)
    ev = (
        load_table(spark, SF_TEST, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .limit(300)
    )
    V.commit_version(spark, src, ev)
    V.upsert_version(
        spark,
        src,
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "value", F.col("value") + 77.0
        ),
        ["event_id"],
    )
    ck = str(tmp_path / "ck")
    run_cdf_replica_stream(spark, src, rep, ["event_id"], ck)
    acked_src = V.current_version(src)

    # maintenance commits on the replica: DV materialization then a
    # bin-pack compaction — neither meta carries cdf_acked
    V.materialize_deletes(spark, rep)
    V.compact_files(spark, rep, min_files=1)
    assert "cdf_acked" not in V.manifest_meta(rep)

    # a new source commit, then the drain: pre-fix this raised the
    # 'vacuumed' ValueError via table_changes(src, 0, hi)
    V.delete_rows_dv(spark, src, F.col("event_type") == "click")
    run_cdf_replica_stream(spark, src, rep, ["event_id"], ck)
    want = sorted(map(tuple, V.read_version(spark, src).collect()))
    assert sorted(map(tuple, V.read_version(spark, rep).collect())) == want
    assert int(V.manifest_meta(rep)["cdf_acked"]) == V.current_version(src)
    assert V.current_version(src) == acked_src + 1
