"""Manifest-versioned tables: snapshot isolation, merge semantics,
crash-window atomicity, vacuum."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import versioned
from data_ingestion_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_TEST


def _events(spark):
    return load_table(spark, SF_TEST, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def test_time_travel_and_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    assert versioned.commit_version(spark, path, ev) == 1
    updates = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + 1000.0
    )
    assert versioned.upsert_version(spark, path, updates, ["event_id"]) == 2

    # v1 unchanged by the later commit (snapshot isolation)
    v1 = versioned.read_version(spark, path, 1)
    assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, ev.collect()))

    # current = merge: updated keys carry +1000, others untouched
    cur = {r.event_id: r.value for r in versioned.read_version(spark, path).collect()}
    for r in ev.collect():
        want = r.value + 1000.0 if r.event_id % 10 == 0 else r.value
        assert cur[r.event_id] == want, r.event_id
    assert versioned.current_version(path) == 2


def test_crash_before_pointer_swap_is_invisible(spark, tmp_path):
    """Data files + manifest written but pointer NOT swapped — the
    exact crash window upsert.py documents as its known bound — must
    leave readers on the previous snapshot."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev)

    # simulate the torn commit: everything except the os.replace
    import json

    data_dir = os.path.join(path, "data", "v2")
    ev.limit(5).write.mode("overwrite").parquet(data_dir)
    files = sorted(
        os.path.join("data", "v2", f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    with open(os.path.join(path, "manifest_v2.json"), "w") as fh:
        json.dump({"version": 2, "files": files}, fh)

    assert versioned.current_version(path) == 1
    assert versioned.read_version(spark, path).count() == ev.count()

    # and a subsequent real commit heals over the orphan (v3 dir name
    # would collide with nothing: next version is pointer+1 = 2 — the
    # torn attempt's directory is simply overwritten by the retry)
    v = versioned.commit_version(spark, path, ev.limit(7))
    assert v == 2
    assert versioned.read_version(spark, path).count() == 7


def test_manifest_deltas_checkpoints_and_commit_cost_at_1e4_files(
    spark, tmp_path
):
    """The manifest scale contract (r10 VERDICT finding b): commits
    between checkpoints write O(changed files) bytes, not O(table
    files) — measured here against a synthetic 10,000-file snapshot —
    while every reader sees the same materialized shape a checkpoint
    has. Cadence: v1 and every CHECKPOINT_EVERY-th version are full;
    versions between are {base, add, remove} deltas."""
    import json as _json

    path = str(tmp_path / "t")
    os.makedirs(path)

    # synthetic 10^4-file snapshot: encoding/resolution never stat
    # data files, so the file list can be fabricated — this measures
    # the MANIFEST layer at a scale where full rewrites visibly hurt
    n = 10_000
    files1 = sorted(f"data/v1/part-{i:05d}.parquet" for i in range(n))
    m1 = {
        "version": 1,
        "files": files1,
        "schema": spark.createDataFrame([], "k int").schema.json(),
        "committed_at": 0.0,
        "meta": {},
    }
    versioned._publish_manifest(path, 1, m1, None)
    assert versioned.current_version(path) == 1
    full_bytes = os.path.getsize(os.path.join(path, "manifest_v1.json"))
    assert full_bytes > 100_000  # the cost a delta must not pay

    # an append-shaped commit: +2 files, -1 file out of 10,000
    files2 = sorted(files1[1:] + ["data/v2/a.parquet", "data/v2/b.parquet"])
    m2 = dict(m1, version=2, files=files2, committed_at=1.0,
              meta={"batch": 2})
    versioned._publish_manifest(path, 2, m2, None)
    delta_bytes = os.path.getsize(os.path.join(path, "manifest_v2.json"))
    assert delta_bytes < 2_000, delta_bytes  # O(delta), ~50x under full
    raw2 = _json.loads(open(os.path.join(path, "manifest_v2.json")).read())
    assert "files" not in raw2 and raw2["base"] == 1
    assert sorted(raw2["add"]) == ["data/v2/a.parquet", "data/v2/b.parquet"]
    assert raw2["remove"] == [files1[0]]

    # resolution materializes the delta exactly; scalars stay inline
    got2 = versioned._manifest(path, 2)
    assert got2["files"] == files2 and got2["meta"] == {"batch": 2}
    assert versioned.manifest_meta(path) == {"batch": 2}  # no chain walk

    # walk to the checkpoint boundary: v3..v9 deltas, v10 full
    files = files2
    for v in range(3, 11):
        files = sorted(files + [f"data/v{v}/x.parquet"])
        versioned._publish_manifest(
            path, v, dict(m1, version=v, files=files, committed_at=float(v)),
            None,
        )
    raw9 = _json.loads(open(os.path.join(path, "manifest_v9.json")).read())
    raw10 = _json.loads(open(os.path.join(path, "manifest_v10.json")).read())
    assert "files" not in raw9 and "files" in raw10  # checkpoint cadence
    assert versioned._manifest(path, 10)["files"] == files
    # chain depth is bounded by the cadence
    _, chain = versioned._resolve_chain(path, 9)
    assert chain == [9, 8, 7, 6, 5, 4, 3, 2, 1]


def test_write_time_stats_maintenance(spark, tmp_path):
    """commit_version(stats_cols=[...]) rebuilds the skipping index as
    part of the commit (the Delta/Iceberg write-time collection shape):
    a metadata probe right after the commit serves WITHOUT the
    stale-rebuild path, and a second commit keeps it current."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(
        spark, path, ev.repartitionByRange(4, "event_id"),
        stats_cols=["event_id"],
    )
    # metadata-only probe succeeds immediately — no StaleStatsIndexError
    cand = versioned.stats_candidate_files(spark, path, "event_id", 0, 10)
    assert cand and len(cand) < len(versioned._manifest(path)["files"])

    versioned.commit_version(
        spark, path, ev.limit(50).repartition(2), stats_cols=["event_id"]
    )
    cand2 = versioned.stats_candidate_files(spark, path, "event_id", 0, 10)
    assert cand2  # still current at v2, again without a rebuild


def test_stats_index_exact_above_2_53_and_stale_old_pointers(
    spark, tmp_path
):
    """(a) Precision: a bigint column holding values above 2^53 must
    never be pruned by float rounding — the sidecar stores exact
    string reprs (a double column would collapse 2^53+1 onto 2^53 and
    silently drop the file). (b) Upgrade path: a pre-sidecar pointer
    JSON (inline payloads, no 'sidecar' key) must read as STALE so
    lookups rebuild instead of KeyError-ing."""
    import json as _json

    path = str(tmp_path / "t")
    os.makedirs(path)
    big = 2**53  # float64 rounds big+1 down onto this
    df = spark.createDataFrame(
        [(big - 5,), (big + 1,), (big + 7,)], "k bigint"
    )
    versioned.commit_version(spark, path, df.repartition(1))
    versioned.build_column_stats(spark, path, "k")
    got = versioned.stats_lookup(spark, path, "k", big + 1, big + 1)
    assert [r.k for r in got.collect()] == [big + 1]
    # the metadata probe agrees (file not pruned)
    assert versioned.stats_candidate_files(spark, path, "k", big + 1, big + 1)

    # (b) simulate an r10-era pointer: payload inline, no sidecar key
    sp = os.path.join(path, "_STATS_k.json")
    _json.dump(
        {"col": "k", "version": versioned.current_version(path),
         "format": 2, "files": {"data/v1/x.parquet": None}},
        open(sp, "w"),
    )
    import pytest as _pytest

    with _pytest.raises(versioned.StaleStatsIndexError):
        versioned.stats_candidate_files(spark, path, "k", 0, 1)
    # and the lookup transparently rebuilds + serves
    assert versioned.stats_lookup(spark, path, "k", big + 1, big + 1).count() == 1

    bp = os.path.join(path, "_BLOOM_k.json")
    _json.dump(
        {"key_col": "k", "version": versioned.current_version(path),
         "bits": versioned.BLOOM_BITS, "hashes": versioned.BLOOM_HASHES,
         "files": {"data/v1/x.parquet": "AAAA"}},
        open(bp, "w"),
    )
    with _pytest.raises(versioned.StaleBloomIndexError):
        versioned.bloom_candidate_files(spark, path, "k", [big + 1])
    assert versioned.bloom_lookup(spark, path, "k", [big + 1]).count() == 1


def test_parquet_checkpoint_externalizes_large_file_lists(
    spark, tmp_path, monkeypatch
):
    """Above FILES_REF_MIN files, a checkpoint's file list moves to a
    parquet sidecar (_manifest_files/) and the JSON keeps a pointer —
    Delta's parquet-checkpoint shape. Resolution is identical to the
    inline form, deltas stack on top unchanged, and vacuum reclaims
    exactly the sidecars no retained manifest references."""
    import glob
    import json as _json

    monkeypatch.setattr(versioned, "FILES_REF_MIN", 100)
    path = str(tmp_path / "t")
    os.makedirs(path)

    n = 10_000
    files1 = sorted(f"data/v1/part-{i:05d}.parquet" for i in range(n))
    m1 = {
        "version": 1,
        "files": files1,
        "partitions": {f: f[13:15] for f in files1},
        "schema": spark.createDataFrame([], "k int").schema.json(),
        "committed_at": 0.0,
        "meta": {},
    }
    versioned._publish_manifest(path, 1, dict(m1), None)
    raw1 = _json.loads(open(os.path.join(path, "manifest_v1.json")).read())
    assert "files" not in raw1 and raw1["files_ref"].startswith(
        "_manifest_files"
    )
    assert os.path.getsize(os.path.join(path, "manifest_v1.json")) < 1024
    sidecars = glob.glob(os.path.join(path, "_manifest_files", "*.parquet"))
    assert len(sidecars) == 1

    got1 = versioned._manifest(path, 1)
    assert got1["files"] == files1
    assert got1["partitions"] == m1["partitions"]

    # a delta on top of the parquet checkpoint resolves through it
    files2 = sorted(files1[2:] + ["data/v2/a.parquet"])
    m2 = dict(m1, version=2, files=files2,
              partitions={f: f[13:15] for f in files2}, committed_at=1.0)
    versioned._publish_manifest(path, 2, dict(m2), None)
    raw2 = _json.loads(open(os.path.join(path, "manifest_v2.json")).read())
    assert raw2.get("base") == 1  # delta, not another checkpoint
    got2 = versioned._manifest(path, 2)
    assert got2["files"] == files2
    assert got2["partitions"] == m2["partitions"]

    # vacuum past v1: v2's chain crossed it, so v2 materializes (as a
    # parquet checkpoint again at this size) and v1's sidecar is
    # reclaimed while v2's stays
    removed = versioned.vacuum(path, keep_from=2)
    assert versioned._manifest(path, 2)["files"] == files2
    live = _json.loads(
        open(os.path.join(path, "manifest_v2.json")).read()
    )["files_ref"]
    left = {
        os.path.relpath(p_, path)
        for p_ in glob.glob(os.path.join(path, "_manifest_files", "*.parquet"))
    }
    assert left == {os.path.normpath(live)}
    assert any("_manifest_files" in r for r in removed)


def test_manifest_deltas_compose_with_vacuum_and_time_travel(
    spark, tmp_path
):
    """Vacuuming past a delta's base must not strand it: retained
    manifests whose chain crosses the horizon are materialized to
    checkpoint form, so every retained version (and AS-OF time travel
    onto it) keeps reading after the horizon moves."""
    import json as _json

    path = str(tmp_path / "t")
    os.makedirs(path)
    df = spark.createDataFrame([(i, float(i)) for i in range(40)], "k int, v double")
    # v1 full; v2..v6 deltas via append-only commits
    versioned.commit_version(spark, path, df.limit(10).coalesce(1))
    for v in range(2, 7):
        versioned.append_version_clustered(
            spark, path, df.filter((F.col("k") >= v * 5) & (F.col("k") < v * 5 + 3)),
            partition_col="k",
        )
    assert versioned.current_version(path) == 6
    raw4 = _json.loads(open(os.path.join(path, "manifest_v4.json")).read())
    assert "files" not in raw4  # precondition: deltas exist

    counts = {v: versioned.read_version(spark, path, v).count() for v in range(1, 7)}
    removed = versioned.vacuum(path, keep_from=4)
    assert any("manifest_v1.json" in r for r in removed)
    # v4 (chain crossed v1-v3) was materialized; v4..v6 still read
    raw4b = _json.loads(open(os.path.join(path, "manifest_v4.json")).read())
    assert "files" in raw4b
    for v in range(4, 7):
        assert versioned.read_version(spark, path, v).count() == counts[v]
    # AS-OF resolution over the retained range still works
    import time as _time

    assert versioned.read_as_of(spark, path, _time.time()).count() == counts[6]


def test_vacuum_drops_history_keeps_current(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.limit(3))
    versioned.commit_version(spark, path, ev.limit(5))
    versioned.commit_version(spark, path, ev.limit(7))
    removed = versioned.vacuum(path, keep_from=3)
    assert removed
    assert not os.path.isfile(os.path.join(path, "manifest_v1.json"))
    assert versioned.read_version(spark, path).count() == 7


def test_optimistic_concurrency_conflict(spark, tmp_path):
    """A writer that read v1 must fail (without moving the pointer or
    clobbering the winner's manifest) when another writer publishes
    v2 first."""
    import json

    import pytest

    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.limit(3))

    # winner publishes v2 while the loser still believes current=1
    versioned.commit_version(spark, path, ev.limit(5), expected_current=1)
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.commit_version(spark, path, ev.limit(7), expected_current=1)

    assert versioned.current_version(path) == 2
    assert len(versioned._manifest(path, 2)["files"]) > 0
    assert versioned.read_version(spark, path).count() == 5


def test_stream_versioned_sink_replay_is_exactly_once(spark, tmp_path):
    """Committing the same batch id twice must be a no-op the second
    time — the manifest's batch_id gates the commit."""
    from data_ingestion_pipeline_spark.operators.versioned import (
        commit_version,
        current_version,
        manifest_meta,
        upsert_version,
    )

    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)

    def sink(bdf, batch_id):
        if batch_id <= manifest_meta(path).get("batch_id", -1):
            return
        meta = {"batch_id": batch_id}
        if current_version(path) == 0:
            commit_version(spark, path, bdf, meta=meta)
        else:
            upsert_version(spark, path, bdf, ["event_id"], meta=meta)

    sink(ev.limit(10), 0)
    sink(ev.limit(20), 1)
    v_after = current_version(path)
    sink(ev.limit(20), 1)  # replay
    sink(ev.limit(10), 0)  # stale replay
    assert current_version(path) == v_after == 2
    assert manifest_meta(path)["batch_id"] == 1


def test_cow_upsert_reuses_untouched_files(spark, tmp_path):
    """COW MERGE touching one day must (a) produce the full merged
    state, (b) carry every other day's files into the new manifest BY
    PATH — same relpaths, bytes untouched on disk — and (c) rewrite
    only the touched partition."""
    import hashlib
    import json

    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    m1 = versioned._manifest(path, 1)

    def sha(rel):
        with open(os.path.join(path, rel), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    pre = {f: sha(f) for f in m1["files"]}

    day = "2024-01-10"
    updates = ev.filter(F.to_date("ts") == F.lit(day).cast("date")).withColumn(
        "value", F.col("value") + 1000.0
    )
    assert updates.count() > 0
    versioned.upsert_version_cow(spark, path, updates, ["event_id"])
    m2 = versioned._manifest(path, 2)

    untouched_v1 = [f for f in m1["files"] if m1["partitions"][f] != day]
    assert set(untouched_v1) <= set(m2["files"])
    for f in untouched_v1:
        assert sha(f) == pre[f], f
    for f in m2["files"]:
        if m2["partitions"][f] == day:
            assert f.startswith(os.path.join("data", "v2")), f

    cur = {r.event_id: r.value for r in versioned.read_version(spark, path).collect()}
    for r in ev.collect():
        bump = 1000.0 if r.ts.date().isoformat() == day else 0.0
        assert cur[r.event_id] == r.value + bump, r.event_id


def test_pruned_read_selects_only_requested_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    day = "2024-01-10"
    got = versioned.read_version_pruned(spark, path, [day])
    assert got.count() == ev.filter(F.to_date("ts") == F.lit(day).cast("date")).count()
    # metadata pruning: the scan's file list contains ONLY the
    # requested partition's files
    files = got.inputFiles()
    assert files and all(f"{versioned.PART_COL}={day}" in f for f in files)


def test_cdf_insert_update_delete(spark, tmp_path):
    """table_changes must classify all three change kinds: v2 deletes
    some keys, updates others, and inserts a new one."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark).limit(20)
    versioned.commit_version(spark, path, ev)

    rows = ev.collect()
    keep = [r for r in rows if r.event_id % 3 != 0]  # %3==0 deleted
    v2 = spark.createDataFrame(keep, ev.schema)
    v2 = v2.withColumn(
        "value",
        F.when(F.col("event_id") % 2 == 0, F.col("value") + 5.0).otherwise(
            F.col("value")
        ),
    )
    new_row = spark.createDataFrame(
        [(10_000_000, rows[0].ts, 1, "click", 9.9)], ev.schema
    )
    versioned.commit_version(spark, path, v2.unionByName(new_row))

    cdf = versioned.table_changes(spark, path, 1, 2, ["event_id"]).collect()
    by_type: dict = {}
    for r in cdf:
        by_type.setdefault(r._change_type, set()).add(r.event_id)

    assert by_type["delete"] == {r.event_id for r in rows if r.event_id % 3 == 0}
    assert by_type["insert"] == {10_000_000}
    updated = {
        r.event_id for r in rows if r.event_id % 3 != 0 and r.event_id % 2 == 0
    }
    assert by_type["update_preimage"] == updated
    assert by_type["update_postimage"] == updated
    # unchanged rows emit nothing
    silent = {r.event_id for r in rows if r.event_id % 3 != 0 and r.event_id % 2 == 1}
    touched = set().union(*by_type.values())
    assert not (silent & touched)


def test_tags_pin_snapshots_across_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.limit(3))
    versioned.tag_version(path, "corpus-v1.0")
    versioned.commit_version(spark, path, ev.limit(9))
    assert versioned.read_tag(spark, path, "corpus-v1.0").count() == 3
    assert versioned.read_version(spark, path).count() == 9
    # re-tagging moves the ref
    versioned.tag_version(path, "corpus-v1.0")
    assert versioned.read_tag(spark, path, "corpus-v1.0").count() == 9


def test_vacuum_preserves_cow_carried_files_and_tags(spark, tmp_path):
    """Vacuum must reference-count, not sweep directories: a COW
    snapshot carries v1 files by reference, so vacuuming v1's
    manifest must keep exactly the carried files alive; and a tagged
    old version survives any horizon."""
    import json

    path = str(tmp_path / "t")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    versioned.tag_version(path, "release-1")

    day = "2024-01-10"
    updates = ev.filter(F.to_date("ts") == F.lit(day).cast("date")).withColumn(
        "value", F.col("value") + 1000.0
    )
    versioned.upsert_version_cow(spark, path, updates, ["event_id"])

    # tag pins v1: nothing removable
    assert versioned.vacuum(path, keep_from=2) == []
    assert versioned.read_tag(spark, path, "release-1").count() == ev.count()

    # retag to current, vacuum again: v1's manifest goes, but the v1
    # files v2 carries MUST survive and v2 must still read in full
    versioned.tag_version(path, "release-1")
    removed = versioned.vacuum(path, keep_from=2)
    assert os.path.join(path, "manifest_v1.json") in removed
    m2 = versioned._manifest(path, 2)
    for f in m2["files"]:
        assert os.path.isfile(os.path.join(path, f)), f
    assert versioned.read_version(spark, path).count() == ev.count()
    # and only v1's TOUCHED-day files were reclaimable
    assert all(f"{versioned.PART_COL}={day}" in r or r.endswith(".json")
               for r in removed), removed


def test_empty_commit_is_readable(spark, tmp_path):
    """commit_version of a zero-row frame must stay readable even when
    the write emits no part files: the manifest carries the schema for
    the _empty_snapshot fallback (pre-r6 only the partitioned commit
    recorded it)."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    empty = spark.createDataFrame([], "k int, v string")
    v = versioned.commit_version(spark, path, empty)
    # force the no-files path regardless of what the writer emitted
    import json as _json

    mp = versioned._manifest_path(path, v)
    with open(mp) as fh:
        m = _json.load(fh)
    m["files"] = []
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    got = versioned.read_version(spark, path, v)
    assert got.count() == 0
    assert got.columns == ["k", "v"]


def test_vacuum_sweeps_torn_manifests(spark, tmp_path):
    """A torn commit (manifest written, pointer never swapped) leaves
    manifest_v{cur+1}; vacuum must remove it along with its data,
    or read_version(path, cur+1) dangles into deleted files."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    df = spark.range(10).select(F.col("id").alias("k"))
    versioned.commit_version(spark, path, df)
    v2 = versioned.commit_version(spark, path, df)
    # simulate the torn commit: write manifest v3, crash before swap
    import json as _json

    with open(versioned._manifest_path(path, v2 + 1), "w") as fh:
        _json.dump({"version": v2 + 1, "files": [], "meta": {},
                    "schema": df.schema.json()}, fh)
    removed = versioned.vacuum(path, keep_from=v2)
    assert versioned._manifest_path(path, v2 + 1) in removed
    assert not os.path.isfile(versioned._manifest_path(path, v2 + 1))
    # current stays readable
    assert versioned.read_version(spark, path).count() == 10


def test_cdf_fingerprint_sees_null_position(spark, tmp_path):
    """A value moving across a NULL column between snapshots is an
    update, not a no-op: naive xxhash64 skips null args without
    advancing position so (x, NULL) and (NULL, x) would collide."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    v1 = spark.createDataFrame([(1, "x", None)], "k int, a string, b string")
    v2 = spark.createDataFrame([(1, None, "x")], "k int, a string, b string")
    versioned.commit_version(spark, path, v1)
    versioned.commit_version(spark, path, v2)
    ch = versioned.table_changes(spark, path, 1, 2, ["k"]).collect()
    kinds = sorted(r._change_type for r in ch)
    assert kinds == ["update_postimage", "update_preimage"]


def test_cdc_apply_closes_the_loop(spark, tmp_path):
    """The CDF consumer contract: applying table_changes(v1→v2) onto
    the v1 snapshot reconstructs v2 exactly — inserts, deletes, and
    update postimages all round-trip."""
    from data_ingestion_pipeline_spark.operators.upsert import cdc_apply

    path = str(tmp_path / "t")
    os.makedirs(path)
    v1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k int, s string, v double"
    )
    v2 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 20.0), (4, "d", 4.0)], "k int, s string, v double"
    )
    versioned.commit_version(spark, path, v1)
    versioned.commit_version(spark, path, v2)
    ch = versioned.table_changes(spark, path, 1, 2, ["k"])
    applied = cdc_apply(versioned.read_version(spark, path, 1), ch, ["k"])
    got = sorted(map(tuple, applied.collect()))
    want = sorted(map(tuple, versioned.read_version(spark, path, 2).collect()))
    assert got == want


def test_versioned_schema_evolution(spark, tmp_path):
    """Adding a column between commits must leave every snapshot
    readable WITH ITS OWN schema (manifests list only their own
    files, so time travel never mixes layouts), and vacuum keeps both
    readable while horizons allow."""
    path = str(tmp_path / "t")
    os.makedirs(path)
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    v2 = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
        "k int, v string, extra double",
    )
    versioned.commit_version(spark, path, v1)
    versioned.commit_version(spark, path, v2)
    r1 = versioned.read_version(spark, path, 1)
    r2 = versioned.read_version(spark, path, 2)
    assert r1.columns == ["k", "v"] and r1.count() == 2
    assert r2.columns == ["k", "v", "extra"] and r2.count() == 3
    versioned.vacuum(path, keep_from=1)
    assert versioned.read_version(spark, path, 1).count() == 2
    assert versioned.read_version(spark, path, 2).count() == 3


def test_read_as_of_timestamp(spark, tmp_path):
    """AS-OF-timestamp resolution: a time between two commits reads
    the earlier snapshot; after the latest commit reads the latest;
    before the first retained commit raises."""
    import time as _time

    import pytest

    path = str(tmp_path / "t")
    os.makedirs(path)
    versioned.commit_version(
        spark, path, spark.createDataFrame([(1,)], "k int")
    )
    t_between = _time.time()
    _time.sleep(0.05)
    versioned.commit_version(
        spark, path, spark.createDataFrame([(1,), (2,)], "k int")
    )
    assert versioned.read_as_of(spark, path, t_between).count() == 1
    assert versioned.read_as_of(spark, path, _time.time()).count() == 2
    with pytest.raises(ValueError, match="no snapshot"):
        versioned.read_as_of(spark, path, 0.0)


def test_purge_rows_erases_across_history(spark, tmp_path):
    """GDPR purge: the key disappears from EVERY retained snapshot
    (including via COW-shared files), untouched files stay
    byte-identical, and table structure (versions, partitions map)
    survives."""
    import glob

    from data_ingestion_pipeline_spark.operators.versioned import purge_rows

    path = str(tmp_path / "t")
    os.makedirs(path)
    rows = [(i, f"2024-01-{(i % 3) + 1:02d} 00:00:00", float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "k int, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    versioned.commit_version_partitioned(spark, path, df)
    # COW upsert touching only one day: other days' files are SHARED
    upd = df.filter(F.col("k") == 1).withColumn("v", F.col("v") + 100.0)
    versioned.upsert_version_cow(spark, path, upd, ["k"])

    before = {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    }
    audit = purge_rows(spark, path, "k", [7, 1])
    assert audit, "purge must have rewritten at least one file"

    for v in (1, 2):
        got = versioned.read_version(spark, path, v)
        assert got.filter(F.col("k").isin(7, 1)).count() == 0, v
        # everything else survives
        assert got.count() == 28, v
    # untouched files byte-identical (not rewritten)
    untouched = [
        p for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
        if p in before
    ]
    assert untouched, "some files must have been untouched"
    for p in untouched:
        assert (os.path.getmtime(p), os.path.getsize(p)) == before[p], p
    # vacuum still reference-counts correctly after the repoint
    versioned.vacuum(path, keep_from=2)
    assert versioned.read_version(spark, path, 2).count() == 28


def test_evolve_schema_is_metadata_only(spark, tmp_path):
    """ADD COLUMN must touch no data file (the lakehouse DDL
    contract): same file set, same bytes, same mtimes — only a new
    manifest + pointer. Old rows read back null-filled."""
    import glob

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    versioned.commit_version(spark, path, df)
    before = {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    }
    v = versioned.evolve_schema(spark, path, [("note", "string")])
    assert v == 2
    after = {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    }
    assert after == before, "evolution must not write or touch data files"
    got = versioned.read_version(spark, path)
    assert got.columns == ["k", "v", "note"]
    assert got.filter(F.col("note").isNull()).count() == 10
    # an upsert carrying the new column then serves mixed rows
    upd = spark.range(3).select(
        F.col("id").alias("k"), F.lit(0.0).alias("v"), F.lit("x").alias("note")
    )
    versioned.upsert_version(spark, path, upd, ["k"])
    got = versioned.read_version(spark, path)
    assert got.filter(F.col("note") == "x").count() == 3
    assert got.filter(F.col("note").isNull()).count() == 7
    # duplicate column name refused
    try:
        versioned.evolve_schema(spark, path, [("note", "string")])
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_bloom_index_prunes_files(spark, tmp_path):
    """The point of the index: a point lookup reads a strict subset
    of the files (no false negatives — every true match present; the
    exact filter removes false positives)."""
    path = str(tmp_path / "tbl")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(8))
    versioned.build_bloom_index(spark, path, "event_id")
    cand = versioned.bloom_candidate_files(spark, path, "event_id", [7, 901])
    total = len(versioned._manifest(path)["files"])
    assert total == 8
    assert 0 < len(cand) < total, (len(cand), total)
    got = versioned.bloom_lookup(spark, path, "event_id", [7, 901])
    rows = {r.event_id for r in got.collect()}
    assert rows == {7, 901}
    # a key that exists nowhere: candidates may be fp-nonempty but the
    # lookup is exactly empty
    assert versioned.bloom_lookup(
        spark, path, "event_id", [10**12]
    ).count() == 0


def test_retention_is_metadata_only(spark, tmp_path):
    """drop_chunks must write no data file and touch none: surviving
    files byte-identical, dropped days still served by time travel to
    the pre-retention version, and vacuum reclaims them only past the
    horizon."""
    import glob

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    before = {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    }
    n_all = ev.count()
    v = versioned.drop_partitions_before(spark, path, "2024-01-12")
    assert v == 2
    after = {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    }
    assert after == before, "retention must not write or touch data files"
    kept = versioned.read_version(spark, path)
    n_kept = kept.count()
    assert 0 < n_kept < n_all
    assert kept.filter(F.col("ts") < "2024-01-12 00:00:00").count() == 0
    # time travel: v1 still serves the dropped days
    assert versioned.read_version(spark, path, 1).count() == n_all
    # vacuum past the horizon reclaims the dropped chunks' files
    versioned.vacuum(path, keep_from=2)
    assert versioned.read_version(spark, path).count() == n_kept


def test_dv_file_tag_byte_stable_on_encoded_paths(spark, tmp_path):
    """r16: _norm_input_path moved its source column from
    nondeterministic input_file_name() (a whole-stage-codegen fence —
    measured 5× on the scan+join leg of a 40M-row merge,
    SESSION_SINK_GROWTH.json) to the _metadata.file_path
    pseudo-column. DV sidecars PERSIST the normalized relpaths and
    match them by string equality forever after, so the two
    expressions must be byte-identical — pinned directly on a table
    path exercising every encoding hazard ('+' which url_decode
    mishandles, space, '%', non-ASCII), then proven live by a DV
    delete + read over that table (a tag mismatch would silently
    resurrect the deleted rows instead of failing)."""
    path = str(tmp_path / "t +%25 spacé漢")
    os.makedirs(path)
    ev = _events(spark).limit(200)
    versioned.commit_version(spark, path, ev.repartition(3))
    m = versioned._manifest(path)
    df = spark.read.schema(versioned._manifest_read_schema(m)).parquet(
        *[os.path.join(path, f) for f in m["files"]]
    )
    old = F.regexp_replace(
        F.url_decode(F.regexp_replace(F.input_file_name(), r"\+", "%2B")),
        "^file:/+",
        "/",
    )
    mismatch = (
        df.select(old.alias("a"), versioned._norm_input_path().alias("b"))
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert mismatch == 0
    # live proof: DV delete masks through the tag equality, and the
    # masked rows stay gone on read (resurrection = tag drift)
    n_del = ev.filter(F.col("event_id") % 7 == 0).count()
    versioned.delete_rows_dv(spark, path, F.col("event_id") % 7 == 0)
    got = versioned.read_version(spark, path)
    assert got.count() == 200 - n_del
    assert got.filter(F.col("event_id") % 7 == 0).count() == 0


def test_purge_keeps_null_keys_and_decodes_uri_paths(spark, tmp_path):
    """Two silent-loss regressions pinned at once: (1) rows whose key
    is NULL are never purge targets and must survive every rewrite
    (`~isin` alone evaluates to NULL for them); (2) a table path with
    a space exercises input_file_name()'s percent-encoding — the
    rewrite's URI→file map must decode it or survivors vanish into
    the NULL-index partition."""
    from data_ingestion_pipeline_spark.operators.versioned import purge_rows

    path = str(tmp_path / "t with space")
    os.makedirs(path)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "null-key-1"), (3, "c"), (None, "null-key-2")],
        "k int, v string",
    )
    versioned.commit_version(spark, path, df.repartition(2))
    audit = purge_rows(spark, path, "k", [2])
    assert audit, "the key exists, so at least one file must rewrite"
    got = versioned.read_version(spark, path)
    assert got.filter(F.col("k") == 2).count() == 0
    assert got.filter(F.col("k").isNull()).count() == 2, (
        "NULL-keyed rows must survive a purge of other keys"
    )
    assert got.count() == 4


def test_purge_preserves_per_file_original_schema(spark, tmp_path):
    """Purge across a schema-evolved history: files written before the
    ADD COLUMN must be rewritten WITHOUT the added column (their
    original footer schema), files written after keep their values —
    a single mergeSchema union write would widen/drop silently."""
    import glob

    import pyarrow.parquet as pq

    from data_ingestion_pipeline_spark.operators.versioned import purge_rows

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "k int, v double")
    versioned.commit_version(spark, path, df.coalesce(1))  # v1: (k, v)
    versioned.evolve_schema(spark, path, [("q", "string")])  # v2: metadata-only
    df2 = spark.createDataFrame(
        [(i, float(i), "new") for i in range(10, 20)], "k int, v double, q string"
    )
    versioned.commit_version(spark, path, df2.coalesce(1))  # v3: (k, v, q)

    # one purged key per schema generation → both files rewrite
    audit = purge_rows(spark, path, "k", [3, 13])
    assert sum(1 for v in audit.values() if v) == 2
    # v1-era rewrite keeps the ORIGINAL two-column footer schema
    schemas = {
        tuple(pq.read_schema(p).names)
        for p in glob.glob(f"{path}/data/**/*.parquet", recursive=True)
    }
    assert ("k", "v") in schemas and ("k", "v", "q") in schemas, schemas
    got = versioned.read_version(spark, path)  # v3 current
    assert got.filter(F.col("k").isin(3, 13)).count() == 0
    assert got.filter(F.col("q") == "new").count() == 9, (
        "post-evolution column values must survive the rewrite"
    )
    # time travel through the projected v2 still null-fills old rows
    v2 = versioned.read_version(spark, path, 2)
    assert v2.columns == ["k", "v", "q"]
    assert v2.filter(F.col("k") == 3).count() == 0
    assert v2.count() == 9


def test_bloom_index_stale_after_commit(spark, tmp_path):
    """A pointer the table has moved past (here: left behind at v1, as
    a lost refresh race leaves it) is a wrong answer (missing new rows
    / referencing purged files): the metadata probe must refuse to
    serve it, a later commit's publish must leave it where it is
    rather than claim files it never indexed, and bloom_lookup must
    transparently rebuild and serve current data. A commit's own
    publish keeps a current pointer current."""
    import json as _json

    import pytest

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    df = spark.createDataFrame([(i, f"r{i}") for i in range(20)], "k int, v string")
    versioned.commit_version(spark, path, df.repartition(4))
    versioned.build_bloom_index(spark, path, "k")
    assert versioned.bloom_candidate_files(spark, path, "k", [7])  # fresh: serves
    pj = os.path.join(path, "_BLOOM_k.json")
    with open(pj) as fh:
        at_v1 = _json.load(fh)
    versioned.upsert_version(spark, path,
        spark.createDataFrame([(99, "new")], "k int, v string"), ["k"])
    assert versioned.bloom_candidate_files(spark, path, "k", [99])  # refreshed
    with open(pj, "w") as fh:
        _json.dump(at_v1, fh)  # the pointer lags the table
    with pytest.raises(versioned.StaleBloomIndexError):
        versioned.bloom_candidate_files(spark, path, "k", [7])
    versioned.upsert_version(spark, path,
        spark.createDataFrame([(98, "newer")], "k int, v string"), ["k"])
    with open(pj) as fh:
        assert _json.load(fh)["version"] == 1  # not advanced by the hook
    with pytest.raises(versioned.StaleBloomIndexError):
        versioned.bloom_candidate_files(spark, path, "k", [7])
    got = versioned.bloom_lookup(spark, path, "k", [99])  # rebuilds
    assert [r.v for r in got.collect()] == ["new"]
    # and the rebuilt index is current again
    assert versioned.bloom_candidate_files(spark, path, "k", [99])


def test_index_pointer_json_is_payload_free_and_vacuum_reclaims_sidecars(
    spark, tmp_path
):
    """The 100 TB contract of the index rework (r10 VERDICT finding a):
    the pointer JSONs beside the manifests carry a SIDECAR PATH, never
    per-file payloads (no bitmaps, no per-file stats — the JSON stays
    O(1) at any file count); per-file rows live in an executor-written
    parquet sidecar; a rebuild orphans the previous sidecar dir and
    vacuum reclaims exactly the orphans, keeping the active ones
    serving."""
    import glob
    import json as _json

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(400)], "k int, v string"
    )
    versioned.commit_version(spark, path, df.repartition(6))
    versioned.build_bloom_index(spark, path, "k")
    versioned.build_column_stats(spark, path, "k")

    for pj in ("_BLOOM_k.json", "_STATS_k.json"):
        idx = _json.loads(open(os.path.join(path, pj)).read())
        assert "files" not in idx  # pointer, not payload
        assert idx["sidecar"].startswith("_index" + os.sep)
        assert os.path.getsize(os.path.join(path, pj)) < 1024
        # sidecar rows == data files, written as parquet
        sc = spark.read.parquet(os.path.join(path, idx["sidecar"]))
        assert sc.count() == len(versioned._manifest(path)["files"])

    # a commit + rebuild orphans both old sidecars
    versioned.upsert_version(
        spark, path, spark.createDataFrame([(999, "x")], "k int, v string"), ["k"]
    )
    versioned.build_bloom_index(spark, path, "k")
    versioned.build_column_stats(spark, path, "k")
    all_dirs = {
        os.path.relpath(d, path)
        for d in glob.glob(os.path.join(path, "_index", "*", "v*"))
    }
    active = {
        os.path.normpath(
            _json.loads(open(os.path.join(path, pj)).read())["sidecar"]
        )
        for pj in ("_BLOOM_k.json", "_STATS_k.json")
    }
    assert len(all_dirs) == 4 and len(active) == 2

    removed = versioned.vacuum(path, keep_from=1)
    left = {
        os.path.relpath(d, path)
        for d in glob.glob(os.path.join(path, "_index", "*", "v*"))
    }
    assert left == active, (left, active)
    assert all_dirs - active <= {os.path.relpath(r, path) for r in removed}
    # and the surviving indexes still serve correctly
    got = versioned.bloom_lookup(spark, path, "k", [999])
    assert [r.v for r in got.collect()] == ["x"]
    assert versioned.stats_lookup(spark, path, "k", 999, None).count() == 1


def test_metadata_ddl_occ_conflict(spark, tmp_path):
    """evolve_schema / drop_partitions_before follow commit_version's
    optimistic-concurrency protocol: a stale expected_current aborts
    before any shared-name write (no manifest clobber, no version
    skip)."""
    import pytest

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    rows = [(i, f"2024-01-{(i % 3) + 1:02d} 00:00:00", float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "k int, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    versioned.commit_version_partitioned(spark, path, df)  # v1
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.evolve_schema(spark, path, [("q", "string")], expected_current=0)
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.drop_partitions_before(
            spark, path, "2024-01-02", expected_current=7
        )
    assert versioned.current_version(path) == 1, "loser must not publish"
    assert not os.path.exists(versioned._manifest_path(path, 2))
    # correct token commits fine
    assert versioned.evolve_schema(
        spark, path, [("q", "string")], expected_current=1
    ) == 2


def test_compaction_binpacks_and_preserves_rows(spark, tmp_path):
    """OPTIMIZE contract: (a) selected partitions' many small files
    become one ~target file each, (b) the snapshot is row-identical,
    (c) a below-min_files partition's file carries into the new
    manifest BY REFERENCE (same v1 relpath, never rewritten), (d) the
    manifest records compaction telemetry, and (e) a no-gain rerun
    publishes no new version."""
    import collections

    path = str(tmp_path / "c")
    os.makedirs(path)
    ev = _events(spark)
    # 4 files per day for most days; day 2024-01-03 committed alone in
    # a single file so min_files=2 excludes it
    lone_day = F.to_date("ts") == F.lit("2024-01-03").cast("date")
    versioned.commit_version_partitioned(
        spark, path, ev.filter(~lone_day).repartition(4), cluster=False
    )
    m1 = versioned._manifest(path)
    lone = ev.filter(lone_day).coalesce(1)
    versioned.upsert_version_cow(spark, path, lone, ["event_id"])
    m2 = versioned._manifest(path)
    lone_files = sorted(set(m2["files"]) - set(m1["files"]))
    assert len(lone_files) == 1

    before = sorted(map(tuple, versioned.read_version(spark, path).collect()))
    by_part = collections.Counter(m2["partitions"].values())
    assert max(by_part.values()) >= 4

    stats = versioned.compact_files(spark, path)
    assert stats["version"] == 3
    m3 = versioned._manifest(path)
    # (a) every compacted partition now holds exactly one file
    after_parts = collections.Counter(m3["partitions"].values())
    for pval in stats["partitions"]:
        assert after_parts[pval] == 1, pval
    assert stats["files_out"] < stats["files_in"]
    # (b) rows identical
    after = sorted(map(tuple, versioned.read_version(spark, path).collect()))
    assert after == before
    # (c) the lone single-file partition was not selected and its v2
    # file carries by reference
    assert m2["partitions"][lone_files[0]] not in stats["partitions"]
    assert lone_files[0] in m3["files"]
    # (d) telemetry in manifest meta
    assert m3["meta"]["compaction"]["files_in"] == stats["files_in"]
    # (e) rerun is a no-op: nothing left to gain
    again = versioned.compact_files(spark, path)
    assert again["version"] == 3 and again["files_in"] == 0
    assert versioned.current_version(path) == 3


def test_stats_index_prunes_files_and_serves_ranges(spark, tmp_path):
    """Data-skipping contract: (a) on a range-clustered column the
    probe's candidate set (and the scan's inputFiles) is a strict
    subset of the snapshot, (b) results equal the plain filtered scan
    for int AND timestamp probes, (c) a file without usable stats is
    always a candidate (no false negatives), and (d) a commit's
    publish refreshes the index, while a pointer the table has moved
    past makes metadata-only probes raise stale and stats_lookup
    rebuilds transparently."""
    import datetime
    import json as _json

    import pytest as _pytest

    path = str(tmp_path / "s")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartitionByRange(8, "event_id"))
    versioned.build_column_stats(spark, path, "event_id")
    m = versioned._manifest(path)

    cand = versioned.stats_candidate_files(spark, path, "event_id", 100, 200)
    assert 0 < len(cand) < len(m["files"])
    got = versioned.stats_lookup(spark, path, "event_id", 100, 200)
    assert set(got.inputFiles()) <= {
        "file://" + os.path.join(path, f) for f in cand
    } | {"file:" + os.path.join(path, f) for f in cand}
    want = sorted(
        map(tuple, ev.filter(F.col("event_id").between(100, 200)).collect())
    )
    assert sorted(map(tuple, got.collect())) == want

    # timestamp kind: every file spans all days (clustered by id), so
    # candidates = all files — and the result is still exact
    versioned.build_column_stats(spark, path, "ts")
    lo, hi = datetime.datetime(2024, 1, 10), datetime.datetime(2024, 1, 11)
    got_ts = versioned.stats_lookup(spark, path, "ts", lo, hi)
    want_ts = ev.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    ).count()
    assert got_ts.count() == want_ts

    # (c) a statless entry is always a candidate: flip one sidecar
    # row's has_stats off in place and re-probe
    import glob as _glob

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    sp = os.path.join(path, "_STATS_event_id.json")
    sc_rel = _json.loads(open(sp).read())["sidecar"]
    victim = None
    for shard in sorted(
        _glob.glob(os.path.join(path, sc_rel, "*.parquet"))
    ):
        t = _pq.read_table(shard).to_pandas()
        if len(t) and victim is None:
            victim = sorted(t["file"])[0]
            t.loc[t["file"] == victim, "has_stats"] = False
            _pq.write_table(
                _pa.Table.from_pandas(t, preserve_index=False), shard
            )
            # the in-place rewrite invalidates Hadoop's .crc sibling
            crc = os.path.join(
                os.path.dirname(shard), "." + os.path.basename(shard) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
    assert victim in versioned.stats_candidate_files(
        spark, path, "event_id", 100, 200
    )

    # (d) staleness: a new commit refreshes the index; a pointer left
    # at the old version → metadata probe raises, lookup rebuilds
    with open(sp) as fh:
        at_v1 = fh.read()
    versioned.upsert_version(
        spark, path, ev.limit(5).withColumn("value", F.lit(0.0)), ["event_id"]
    )
    assert versioned.stats_candidate_files(spark, path, "event_id", 100, 200)
    with open(sp, "w") as fh:
        fh.write(at_v1)
    with _pytest.raises(versioned.StaleStatsIndexError):
        versioned.stats_candidate_files(spark, path, "event_id", 100, 200)
    relookup = versioned.stats_lookup(spark, path, "event_id", 100, 200)
    assert relookup.count() == len(want)


def test_vacuum_after_compaction_reclaims_replaced_files(spark, tmp_path):
    """Compaction + vacuum compose: past the horizon, the REPLACED
    small files are reclaimed (no retained manifest references them),
    the carried single-file partition survives (the compacted manifest
    still references it by its old relpath), and the current snapshot
    is untouched."""
    path = str(tmp_path / "cv")
    os.makedirs(path)
    ev = _events(spark)
    lone_day = F.to_date("ts") == F.lit("2024-01-03").cast("date")
    versioned.commit_version_partitioned(
        spark, path, ev.filter(~lone_day).repartition(4), cluster=False
    )
    versioned.upsert_version_cow(
        spark, path, ev.filter(lone_day).coalesce(1), ["event_id"]
    )
    m2 = versioned._manifest(path)
    stats = versioned.compact_files(spark, path)
    assert stats["version"] == 3
    m3 = versioned._manifest(path)
    carried = set(m2["files"]) & set(m3["files"])
    replaced = set(m2["files"]) - set(m3["files"])
    assert carried and replaced

    before = sorted(map(tuple, versioned.read_version(spark, path).collect()))
    versioned.vacuum(path, keep_from=3)
    for f in replaced:
        assert not os.path.exists(os.path.join(path, f)), f
    for f in carried:
        assert os.path.exists(os.path.join(path, f)), f
    after = sorted(map(tuple, versioned.read_version(spark, path).collect()))
    assert after == before


def test_compaction_carries_meta_and_survives_torn_run(spark, tmp_path):
    """Two publication-safety contracts: (a) prior manifest meta rides
    through a compaction (a rows-identical rewrite must not destroy
    the streaming sinks' replay batch_id or a persisted index's
    model), and (b) debris a torn earlier attempt left under data/ is
    never referenced or double-counted (outputs land in a unique
    per-attempt dir) — a retry after an aborted compaction must
    succeed, and a concurrent writer's in-flight v{N+1} files are
    never touched."""
    import glob
    import shutil

    path = str(tmp_path / "cm")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(
        spark, path, ev.repartition(4), meta={"batch_id": 7, "model": "m1"},
        cluster=False,
    )
    before = sorted(map(tuple, versioned.read_version(spark, path).collect()))

    # torn-run debris: a parquet file at the exact next version dir
    junk_dir = os.path.join(path, "data", "v2", f"{versioned.PART_COL}=2024-01-01")
    os.makedirs(junk_dir)
    src = glob.glob(os.path.join(path, "data", "v1*", "*", "*.parquet"))[0]
    shutil.copy(src, os.path.join(junk_dir, "junk.parquet"))

    stats = versioned.compact_files(spark, path)
    assert stats["version"] == 2
    m2 = versioned._manifest(path)
    # (a) meta carried forward, telemetry added
    assert m2["meta"]["batch_id"] == 7 and m2["meta"]["model"] == "m1"
    assert m2["meta"]["compaction"]["files_in"] == stats["files_in"]
    # (b) debris neither referenced nor double-counted
    assert not any(f.endswith("junk.parquet") for f in m2["files"])
    after = sorted(map(tuple, versioned.read_version(spark, path).collect()))
    assert after == before


def test_stats_date_column_probed_with_datetime_has_no_false_negatives(
    spark, tmp_path
):
    """Cross-kind probe: a DATE-typed column probed with datetime
    bounds must surface every matching file — dates canonicalize to
    midnight ISO datetimes in the index, so the interval compare and
    Spark's own date→timestamp coercion agree."""
    import datetime

    path = str(tmp_path / "sd")
    os.makedirs(path)
    df = spark.createDataFrame(
        [(i, datetime.date(2024, 1, 1 + i % 20)) for i in range(1000)],
        "id bigint, d date",
    )
    versioned.commit_version(spark, path, df.repartitionByRange(5, "d"))
    versioned.build_column_stats(spark, path, "d")
    lo = datetime.datetime(2024, 1, 5)      # == a date boundary exactly
    hi = datetime.datetime(2024, 1, 9, 12)  # mid-day: excludes 1-10
    got = versioned.stats_lookup(spark, path, "d", lo, hi).count()
    want = df.filter(
        (F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi))
    ).count()
    assert got == want > 0
    # and pruning still happens on the range-clustered layout
    cand = versioned.stats_candidate_files(spark, path, "d", lo, hi)
    assert len(cand) < len(versioned._manifest(path)["files"])


def test_incremental_index_maintenance_harvests_only_new_files(spark, tmp_path):
    """The Delta/Iceberg write-time contract: after an APPEND (prior
    files carried by reference), rebuilding the stats/bloom index must
    scan ONLY the appended files — the pointer's harvested_files
    telemetry proves it — and the incremental sidecar must serve the
    exact same candidates as a from-scratch rebuild."""
    path = str(tmp_path / "inc")
    os.makedirs(path)
    ev = _events(spark)
    base = ev.filter(F.col("event_id") < 500)
    extra = ev.filter(F.col("event_id") >= 500)
    versioned.commit_version_clustered(
        spark, path, base.repartitionByRange(4, "event_id"), "event_type"
    )
    idx1 = versioned.build_column_stats(spark, path, "event_id")
    b1 = versioned.build_bloom_index(spark, path, "event_id")
    n1 = len(versioned._manifest(path)["files"])
    assert idx1["harvested_files"] == n1 and idx1["carried_files"] == 0
    assert b1["harvested_files"] == n1 and b1["carried_files"] == 0

    versioned.append_version_clustered(
        spark, path, extra.repartition(2), "event_type"
    )
    m2 = versioned._manifest(path)
    n_added = len(m2["files"]) - n1
    assert n_added > 0

    idx2 = versioned.build_column_stats(spark, path, "event_id")
    b2 = versioned.build_bloom_index(spark, path, "event_id")
    assert idx2["harvested_files"] == n_added, "stats re-harvested old files"
    assert idx2["carried_files"] == n1
    assert b2["harvested_files"] == n_added, "bloom re-scanned old files"
    assert b2["carried_files"] == n1

    inc_stats = versioned.stats_candidate_files(spark, path, "event_id", 490, 510)
    inc_bloom = versioned.bloom_candidate_files(spark, path, "event_id", [499, 501])

    # from-scratch rebuild (pointer removed → incremental prior gone)
    os.remove(os.path.join(path, "_STATS_event_id.json"))
    os.remove(os.path.join(path, "_BLOOM_event_id.json"))
    full_stats_idx = versioned.build_column_stats(spark, path, "event_id")
    full_bloom_idx = versioned.build_bloom_index(spark, path, "event_id")
    assert full_stats_idx["harvested_files"] == len(m2["files"])
    assert full_bloom_idx["harvested_files"] == len(m2["files"])
    assert versioned.stats_candidate_files(
        spark, path, "event_id", 490, 510
    ) == inc_stats
    assert versioned.bloom_candidate_files(
        spark, path, "event_id", [499, 501]
    ) == inc_bloom

    # and the lookups stay exact through the incremental sidecars
    got = versioned.stats_lookup(spark, path, "event_id", 490, 510).count()
    want = ev.filter(F.col("event_id").between(490, 510)).count()
    assert got == want > 0


def test_incremental_maintenance_after_compaction_drops_removed_files(
    spark, tmp_path
):
    """Compaction rewrites files: the incremental rebuild must drop
    the removed files' rows (a stale carried row would name a deleted
    file as a candidate) and harvest only the compacted outputs."""
    path = str(tmp_path / "cmp")
    os.makedirs(path)
    ev = _events(spark)
    # two commits: every event_type partition holds two files
    first = F.col("event_id") % 2 == 0
    versioned.commit_version_clustered(spark, path, ev.filter(first), "event_type")
    versioned.append_version_clustered(spark, path, ev.filter(~first), "event_type")
    versioned.build_column_stats(spark, path, "event_id")
    m1 = set(versioned._manifest(path)["files"])
    stats = versioned.compact_files(spark, path, target_bytes=1 << 30)
    assert stats["files_out"] < stats["files_in"]
    m2 = versioned._manifest(path)
    added = sorted(set(m2["files"]) - m1)

    idx = versioned.build_column_stats(spark, path, "event_id")
    assert idx["harvested_files"] == len(added)
    cand = versioned.stats_candidate_files(spark, path, "event_id", None, None)
    assert set(cand) <= set(m2["files"]), "carried row names a removed file"
    got = versioned.stats_lookup(spark, path, "event_id", 0, 10**9).count()
    assert got == 1000


def test_fresh_same_version_index_build_is_a_noop(spark, tmp_path):
    """Sidecars are immutable: re-running the build at an unchanged
    version returns the existing pointer without writing a new
    sidecar dir."""
    path = str(tmp_path / "noop")
    os.makedirs(path)
    versioned.commit_version(spark, path, _events(spark).limit(500))
    idx1 = versioned.build_column_stats(spark, path, "event_id")
    idx2 = versioned.build_column_stats(spark, path, "event_id")
    assert idx2["sidecar"] == idx1["sidecar"]
    b1 = versioned.build_bloom_index(spark, path, "event_id")
    b2 = versioned.build_bloom_index(spark, path, "event_id")
    assert b2["sidecar"] == b1["sidecar"]


def test_index_maintenance_failure_is_distinct_and_commit_durable(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: stats maintenance runs after the pointer swap — a
    failure there must surface as IndexMaintenanceError (carrying the
    committed version), never as a generic commit failure a caller
    would retry into a double-commit."""
    import pytest

    path = str(tmp_path / "imf")
    os.makedirs(path)

    def boom(*a, **k):
        raise RuntimeError("index build exploded")

    monkeypatch.setattr(versioned, "build_column_stats", boom)
    with pytest.raises(versioned.IndexMaintenanceError) as ei:
        versioned.commit_version(
            spark, path, _events(spark).limit(100), stats_cols=["event_id"]
        )
    assert ei.value.committed_version == 1
    # the commit IS durable and readable despite the raised error
    assert versioned.current_version(path) == 1
    assert versioned.read_version(spark, path).count() == 100


def test_harvest_tasks_scales_with_file_count():
    """Footer-harvest parallelism derives from file count (r11 pinned
    it at 32, a serial bottleneck at 10⁵-10⁶ files on a wide cluster)."""
    assert versioned._harvest_tasks(4) == 4
    assert versioned._harvest_tasks(500) == 32
    assert versioned._harvest_tasks(10_000) == 40
    assert versioned._harvest_tasks(1_000_000) == 3907


def test_deletion_vector_deletes_without_rewrite_and_time_travels(
    spark, tmp_path
):
    """The DV contract: a delete commit rewrites NO data file (file
    lists identical across versions), the current read drops exactly
    the matched rows, cumulative deletes compose, re-deleting is a
    no-op, and time travel still serves the pre-delete snapshot."""
    path = str(tmp_path / "dv")
    os.makedirs(path)
    ev = _events(spark)
    total = ev.count()
    versioned.commit_version(spark, path, ev.repartition(6))
    f1 = versioned._manifest(path)["files"]

    v2 = versioned.delete_rows_dv(spark, path, F.col("event_id") % 7 == 0)
    assert v2 == 2
    m2 = versioned._manifest(path)
    assert m2["files"] == f1, "a DV delete rewrote data files"
    n_del = ev.filter(F.col("event_id") % 7 == 0).count()
    assert m2["dv"]["rows"] == n_del
    assert versioned.read_version(spark, path).count() == total - n_del

    # cumulative second delete; overlap with the first is a no-op
    versioned.delete_rows_dv(spark, path, F.col("event_id") % 2 == 0)
    m3 = versioned._manifest(path)
    assert m3["files"] == f1
    want = ev.filter(
        ~((F.col("event_id") % 7 == 0) | (F.col("event_id") % 2 == 0))
    )
    got = versioned.read_version(spark, path)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # re-delete already-deleted rows: sidecar row count unchanged
    n3 = m3["dv"]["rows"]
    versioned.delete_rows_dv(spark, path, F.col("event_id") % 14 == 0)
    assert versioned._manifest(path)["dv"]["rows"] == n3

    # snapshot isolation: v1 sees everything, v2 only the first delete
    assert versioned.read_version(spark, path, 1).count() == total
    assert versioned.read_version(spark, path, 2).count() == total - n_del


def test_deletion_vector_survives_evolve_append_and_cow_upsert(
    spark, tmp_path
):
    """Carried-by-reference DVs: schema evolution, clustered appends
    and partition-granular COW upserts must none of them resurrect
    soft-deleted rows — and the COW rewrite materializes deletes for
    the partitions it touches."""
    path = str(tmp_path / "dvc")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    versioned.delete_rows_dv(spark, path, F.col("event_id") % 5 == 0)
    alive = versioned.read_version(spark, path).count()

    versioned.evolve_schema(spark, path, [("note", "string")])
    got = versioned.read_version(spark, path)
    assert got.count() == alive and "note" in got.columns

    # COW upsert touching one day: carried partitions keep their DV
    upd = ev.filter(
        (F.col("event_id") % 5 != 0) & (F.col("event_id") % 3 == 0)
    ).withColumn("value", F.col("value") + 1000.0).withColumn(
        "note", F.lit("u")
    )
    one_day = upd.filter(F.to_date("ts") == F.lit("2024-01-10"))
    versioned.upsert_version_cow(spark, path, one_day, ["event_id"])
    cur = versioned.read_version(spark, path)
    assert cur.filter(F.col("event_id") % 5 == 0).count() == 0, "resurrected"
    assert cur.count() == alive


def test_deletion_vector_blocks_rewrites_until_materialized(spark, tmp_path):
    """compact_files and purge_rows shift row ordinals — both must
    refuse a DV-bearing history; materialize_deletes folds the DV into
    a fresh snapshot after which compaction succeeds and vacuum
    reclaims the orphaned DV sidecars."""
    import pytest

    path = str(tmp_path / "dvm")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(8))
    versioned.delete_rows_dv(spark, path, F.col("event_id") < 100)
    alive = versioned.read_version(spark, path).count()

    with pytest.raises(ValueError, match="deletion vector"):
        versioned.compact_files(spark, path)
    with pytest.raises(ValueError, match="deletion vector"):
        versioned.purge_rows(spark, path, "event_id", [5])

    v = versioned.materialize_deletes(spark, path)
    m = versioned._manifest(path)
    assert "dv" not in m and versioned.read_version(spark, path).count() == alive
    stats = versioned.compact_files(spark, path)
    assert stats["version"] == v + 1
    assert versioned.read_version(spark, path).count() == alive

    # vacuum past the DV versions reclaims their sidecars
    removed = versioned.vacuum(path, keep_from=stats["version"])
    dv_root = os.path.join(path, versioned.DV_DIR)
    assert not os.path.isdir(dv_root) or os.listdir(dv_root) == []
    assert any(versioned.DV_DIR + os.sep in r for r in removed)
    assert versioned.read_version(spark, path).count() == alive


def test_deletion_vector_respected_by_stats_lookup_and_cdf(spark, tmp_path):
    """Index-served reads flow through the same DV filter (a pruned
    candidate read must not resurrect rows), and table_changes reports
    DV-deleted rows as removed."""
    path = str(tmp_path / "dvs")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(
        spark, path, ev.repartitionByRange(6, "event_id"),
        stats_cols=["event_id"],
    )
    versioned.delete_rows_dv(spark, path, F.col("event_id").between(100, 199))
    got = versioned.stats_lookup(spark, path, "event_id", 50, 250)
    want = ev.filter(
        F.col("event_id").between(50, 250)
        & ~F.col("event_id").between(100, 199)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    ch = versioned.table_changes(spark, path, 1, 2, ["event_id"])
    rows = ch.collect()
    kinds = {r._change_type for r in rows}
    assert kinds == {"delete"}
    assert len(rows) == ev.filter(F.col("event_id").between(100, 199)).count()


def test_write_time_bloom_maintenance(spark, tmp_path):
    """commit_version(bloom_cols=[...]) keeps the point-lookup index
    current as part of the commit — the stats_cols twin: a metadata
    probe right after the commit serves without the stale-rebuild
    path."""
    path = str(tmp_path / "wb")
    os.makedirs(path)
    versioned.commit_version(
        spark, path, _events(spark).repartition(4), bloom_cols=["event_id"]
    )
    cand = versioned.bloom_candidate_files(spark, path, "event_id", [7])
    assert cand  # fresh index served, no StaleBloomIndexError
    got = versioned.bloom_lookup(spark, path, "event_id", [7])
    assert got.count() == 1


def test_append_write_time_maintenance_is_incremental(spark, tmp_path):
    """append_version_clustered(stats_cols=..., bloom_cols=...): the
    commit-time refresh harvests only the appended files — the
    incremental path, proven by the pointer telemetry — and probes
    serve immediately without the stale-rebuild pass."""
    path = str(tmp_path / "awm")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_clustered(
        spark, path, ev.filter(F.col("event_id") < 800).repartition(4),
        "event_type",
    )
    versioned.build_column_stats(spark, path, "event_id")
    versioned.build_bloom_index(spark, path, "event_id")
    n1 = len(versioned._manifest(path)["files"])

    versioned.append_version_clustered(
        spark, path, ev.filter(F.col("event_id") >= 800).repartition(2),
        "event_type", stats_cols=["event_id"], bloom_cols=["event_id"],
    )
    n_added = len(versioned._manifest(path)["files"]) - n1
    import json as _json

    with open(os.path.join(path, "_STATS_event_id.json")) as fh:
        assert _json.load(fh)["harvested_files"] == n_added
    with open(os.path.join(path, "_BLOOM_event_id.json")) as fh:
        assert _json.load(fh)["harvested_files"] == n_added
    # both probes serve fresh, and results are exact
    assert versioned.stats_lookup(spark, path, "event_id", 790, 810).count() == 21
    assert versioned.bloom_lookup(spark, path, "event_id", [799, 800]).count() == 2


def test_vacuum_keeps_dv_sidecars_of_retained_versions(spark, tmp_path):
    """Reference-counting must extend to DV sidecars: vacuuming PAST a
    DV version reclaims its sidecar, but a retained DV version keeps
    its sidecar readable (time travel into it still filters)."""
    path = str(tmp_path / "dvv")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(4))     # v1
    versioned.delete_rows_dv(spark, path, F.col("event_id") < 50)  # v2 (dv A)
    versioned.delete_rows_dv(spark, path, F.col("event_id") < 100)  # v3 (dv B)

    # retain v2+: dv A (v2's sidecar) must survive, and v2 still reads
    versioned.vacuum(path, keep_from=2)
    assert versioned.read_version(spark, path, 2).count() == 1000 - 50
    assert versioned.read_version(spark, path, 3).count() == 1000 - 100
    dv_root = os.path.join(path, versioned.DV_DIR)
    assert len(os.listdir(dv_root)) == 2  # both referenced sidecars kept

    # drop v2 from the horizon: dv A is orphaned and reclaimed
    versioned.vacuum(path, keep_from=3)
    assert len(os.listdir(dv_root)) == 1
    assert versioned.read_version(spark, path, 3).count() == 1000 - 100

    # read_as_of resolves through the DV-bearing snapshot too
    import time as _time

    assert versioned.read_as_of(spark, path, _time.time()).count() == 1000 - 100


def test_delete_matching_nothing_leaves_no_dv(spark, tmp_path):
    """A delete that matches zero rows (and no prior DV) commits a new
    version WITHOUT a dv key — readers never pay an anti-join for an
    empty sidecar."""
    path = str(tmp_path / "dv0")
    os.makedirs(path)
    versioned.commit_version(spark, path, _events(spark).limit(200))
    v = versioned.delete_rows_dv(spark, path, F.col("event_id") < 0)
    assert v == 2
    m = versioned._manifest(path)
    assert "dv" not in m and m["meta"]["dv_rows"] == 0
    assert versioned.read_version(spark, path).count() == 200


def test_bloom_candidate_files_df_matches_value_list_probe(spark, tmp_path):
    """The DataFrame-native probe (VERDICT r12 finding c) must return
    exactly the value-list probe's candidates for the same key set —
    the bit arithmetic is the same _bloom_positions spec, computed
    JVM-side instead of driver-side. Empty key frame → no candidates;
    a saturating probe set → None (pruning powerless, caller scans)."""
    path = str(tmp_path / "bdf")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartitionByRange(8, "event_id"))
    versioned.build_bloom_index(spark, path, "event_id")
    m = versioned._manifest(path)

    keys = [3, 1500, 4242, 9001]
    want = versioned.bloom_candidate_files(spark, path, "event_id", keys, manifest=m)
    keys_df = spark.createDataFrame([(k,) for k in keys], "event_id bigint")
    got = versioned.bloom_candidate_files_df(spark, path, "event_id", keys_df, manifest=m)
    assert got == want and want  # same candidates, non-trivial probe

    empty = spark.createDataFrame([], "event_id bigint")
    assert versioned.bloom_candidate_files_df(spark, path, "event_id", empty, manifest=m) == []

    # saturation: more distinct pairs than max_pairs → None
    assert (
        versioned.bloom_candidate_files_df(
            spark, path, "event_id", ev.select("event_id"), manifest=m,
            max_pairs=16,
        )
        is None
    )


def test_stream_versioned_append_sink_never_collects_key_values(spark):
    """VERDICT r12 finding c 'done' criterion: zero collect() of key
    values in the streaming sink path. Every DataFrame.collect during
    the stream run must be metadata-shaped (bloom bit-tuples,
    candidate file names, partition tags) — never a frame carrying
    the event_id key column."""
    from unittest import mock

    from pyspark.sql import DataFrame

    from data_ingestion_pipeline_spark.streaming.pipeline import (
        stream_versioned_append_ingest,
    )

    offenders: list[list[str]] = []
    real_collect = DataFrame.collect

    def spying_collect(self):
        if "event_id" in self.columns:
            offenders.append(list(self.columns))
        return real_collect(self)

    with mock.patch.object(DataFrame, "collect", spying_collect):
        out = stream_versioned_append_ingest(spark, SF_TEST)
        n = out.count()
    assert n > 0
    assert offenders == [], offenders


def test_dv_commit_drops_fully_dead_files_from_probes(spark, tmp_path):
    """VERDICT r12 task 7: bloom/stats sidecars index rows a deletion
    vector has since masked — without maintenance, probes return dead
    files forever between delete and materialize. A DV commit on an
    indexed table records files whose EVERY row is deleted; probes
    and read_version skip them, reads stay exact."""
    path = str(tmp_path / "dvdead")
    os.makedirs(path)
    ev = _events(spark)
    # range-cluster so one file holds exactly event_id < threshold
    versioned.commit_version(
        spark, path, ev.repartitionByRange(8, "event_id"),
        stats_cols=["event_id"], bloom_cols=["event_id"],
    )
    m1 = versioned._manifest(path)
    # find the file with the smallest event_id range and kill it whole
    import pyarrow.parquet as pq

    spans = {}
    for rel in m1["files"]:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        idx = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).path == "event_id"
        )
        st = md.row_group(0).column(idx).statistics
        lo = min(
            md.row_group(g).column(idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(idx).statistics.max
            for g in range(md.num_row_groups)
        )
        spans[rel] = (lo, hi)
    victim = min(spans, key=lambda f: spans[f][0])
    lo, hi = spans[victim]

    versioned.delete_rows_dv(spark, path, F.col("event_id") <= hi)
    m2 = versioned._manifest(path)
    assert victim in m2["dv"]["dead_files"]

    # rebuild indexes at the new version, then probe for a deleted key:
    # the dead file must NOT be served, files with live rows may be
    versioned.build_bloom_index(spark, path, "event_id")
    versioned.build_column_stats(spark, path, "event_id")
    cand = versioned.bloom_candidate_files(
        spark, path, "event_id", [lo], manifest=m2
    )
    assert victim not in cand
    scand = versioned.stats_candidate_files(
        spark, path, "event_id", lo, hi, manifest=m2
    )
    assert victim not in scand

    # reads stay exact: current snapshot == anti-filtered source
    got = sorted(
        r.event_id for r in versioned.read_version(spark, path).collect()
    )
    want = sorted(
        r.event_id for r in ev.filter(F.col("event_id") > hi).collect()
    )
    assert got == want


def test_commit_partitioned_inherits_dv_when_carrying(spark, tmp_path):
    """ADVICE r12: a caller passing `carried` without threading `dv`
    silently dropped the deletion vector and resurrected soft-deleted
    rows. The carry must be safe by default: carried files keep their
    DV unless the caller explicitly threads one."""
    path = str(tmp_path / "dvcarry")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    versioned.delete_rows_dv(spark, path, F.col("event_type") == "error")
    n_after_delete = versioned.read_version(spark, path).count()
    assert n_after_delete < ev.count()

    # append-shaped commit carrying every prior file, dv NOT threaded
    m = versioned._manifest(path)
    extra = ev.limit(0)  # empty append: table content must not change
    versioned.commit_version_partitioned(
        spark, path, extra, carried=list(m["files"])
    )
    assert versioned._manifest(path).get("dv"), "DV pointer dropped on carry"
    assert versioned.read_version(spark, path).count() == n_after_delete


def test_vacuum_sidecar_grace_spares_inflight_dv(spark, tmp_path):
    """ADVICE r12: vacuum reclaims any unreferenced _dv sidecar, which
    also kills the sidecar an in-flight delete wrote before publishing
    its manifest. With a grace window, young unreferenced sidecars
    survive (Delta's VACUUM retention); at grace 0 the documented
    no-concurrent-writer contract applies and they are reclaimed."""
    path = str(tmp_path / "dvgrace")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(4))
    # simulate the in-flight delete: sidecar written, manifest not yet
    sidecar_rel = os.path.join(versioned.DV_DIR, "v99-inflight")
    sidecar_dir = os.path.join(path, sidecar_rel)
    spark.createDataFrame(
        [("data/v1/x.parquet", 0)], "file string, pos bigint"
    ).write.parquet(sidecar_dir)

    versioned.vacuum(path, keep_from=1, sidecar_grace_sec=3600.0)
    assert os.path.isdir(sidecar_dir), "grace window must spare it"

    versioned.vacuum(path, keep_from=1)
    assert not os.path.isdir(sidecar_dir), "grace 0 reclaims orphans"


def test_zorder_interleave_matches_pure_python(spark):
    """The Morton z-value expression must equal a from-scratch bit
    interleave for every (bucket, bucket) pair at full resolution."""
    rows = [(a, b) for a in (0, 1, 5, 127, 200, 255) for b in (0, 3, 64, 255)]
    df = spark.createDataFrame(rows, "ba int, bb int")
    got = {
        (r.ba, r.bb): r.z
        for r in df.select(
            "ba",
            "bb",
            versioned._zorder_value([F.col("ba"), F.col("bb")], 8).alias("z"),
        ).collect()
    }

    def morton(a: int, b: int) -> int:
        z = 0
        for bit in range(8):
            z |= ((a >> bit) & 1) << (bit * 2)
            z |= ((b >> bit) & 1) << (bit * 2 + 1)
        return z

    for a, b in rows:
        assert got[(a, b)] == morton(a, b), (a, b)


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """The layout claim: after ZORDER BY (event_id, value), the stats
    probe on EACH column admits a strict subset of files — a 1-D
    range layout prunes only its own sort column — and the 2-D
    candidate intersection is no larger than either. Results stay
    exact (equality with the plain doubly-filtered scan)."""
    path = str(tmp_path / "zord")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(8))
    versioned.zorder_cluster(spark, path, ["event_id", "value"], target_files=16)
    m = versioned._manifest(path)
    n_files = len(m["files"])
    assert n_files >= 8

    ids = [r.event_id for r in ev.select("event_id").collect()]
    lo_id, hi_id = sorted(ids)[len(ids) // 4], sorted(ids)[len(ids) // 2]
    cand_id = versioned.stats_candidate_files(
        spark, path, "event_id", lo_id, hi_id, manifest=m
    )
    cand_val = versioned.stats_candidate_files(
        spark, path, "value", 20.0, 60.0, manifest=m
    )
    assert 0 < len(cand_id) < n_files, (len(cand_id), n_files)
    assert 0 < len(cand_val) < n_files, (len(cand_val), n_files)
    both = set(cand_id) & set(cand_val)
    assert len(both) <= min(len(cand_id), len(cand_val))

    got = sorted(
        (r.event_id, r.value)
        for r in versioned.stats_lookup_multi(
            spark,
            path,
            [("event_id", lo_id, hi_id), ("value", 20.0, 60.0)],
        ).collect()
    )
    want = sorted(
        (r.event_id, r.value)
        for r in ev.filter(
            (F.col("event_id") >= lo_id)
            & (F.col("event_id") <= hi_id)
            & (F.col("value") >= 20.0)
            & (F.col("value") <= 60.0)
        ).collect()
    )
    assert got == want and got


def test_update_mor_appends_without_rewrite(spark, tmp_path):
    """Merge-on-read UPDATE: one commit, every pre-existing file
    carried byte-identical, matched rows' old images DV-masked and
    their updated images appended as new files. Current snapshot ==
    CASE-expression scan; time travel to v1 sees original values;
    a second update compounds (plain UPDATE semantics)."""
    path = str(tmp_path / "mor")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(6))
    m1 = versioned._manifest(path)

    v2 = versioned.update_rows_mor(
        spark, path,
        F.col("event_type") == "error",
        {"value": F.col("value") + 1000.0},
    )
    m2 = versioned._manifest(path)
    assert v2 == 2
    # every v1 file carried by reference; only appended files are new
    assert set(m1["files"]) <= set(m2["files"])
    new = set(m2["files"]) - set(m1["files"])
    assert new and all(f.startswith(os.path.join("data", "v2")) for f in new)
    n_err = ev.filter(F.col("event_type") == "error").count()
    assert m2["meta"]["updated_rows"] == n_err
    assert m2["dv"]["rows"] == n_err

    want = {
        r.event_id: r.value + (1000.0 if r.event_type == "error" else 0.0)
        for r in ev.collect()
    }
    got = {
        r.event_id: r.value
        for r in versioned.read_version(spark, path).collect()
    }
    assert got == want

    # time travel: v1 still serves the original values
    v1_vals = {
        r.event_id: r.value
        for r in versioned.read_version(spark, path, 1).collect()
    }
    assert v1_vals == {r.event_id: r.value for r in ev.collect()}

    # second update re-matches (updated images still 'error'): +2000
    versioned.update_rows_mor(
        spark, path,
        F.col("event_type") == "error",
        {"value": F.col("value") + 1000.0},
    )
    got2 = {
        r.event_id: r.value
        for r in versioned.read_version(spark, path).collect()
    }
    assert got2 == {
        # double semantics: (v + 1000) + 1000, NOT v + 2000 — the
        # engine applies the expressions sequentially like SQL would
        r.event_id: (
            (r.value + 1000.0) + 1000.0 if r.event_type == "error" else r.value
        )
        for r in ev.collect()
    }

    # no-match update: new version, content unchanged, no new files
    before = versioned._manifest(path)
    v4 = versioned.update_rows_mor(
        spark, path, F.col("event_id") < 0, {"value": F.lit(0.0)}
    )
    after = versioned._manifest(path)
    assert v4 == before["version"] + 1
    assert after["files"] == before["files"]
    assert after["dv"] == before["dv"]
    assert after["meta"]["updated_rows"] == 0

    # maintenance interplay: compact refuses until materialize
    import pytest

    with pytest.raises(ValueError):
        versioned.compact_files(spark, path, target_bytes=1 << 30)
    versioned.materialize_deletes(spark, path)
    assert versioned.read_version(spark, path).count() == ev.count()

    # guards: unknown column, partitioned snapshot
    with pytest.raises(ValueError, match="unknown column"):
        versioned.update_rows_mor(spark, path, "value > 0", {"nope": F.lit(1)})
    ppath = str(tmp_path / "morp")
    os.makedirs(ppath)
    versioned.commit_version_partitioned(spark, ppath, ev)
    with pytest.raises(ValueError, match="unpartitioned"):
        versioned.update_rows_mor(spark, ppath, "value > 0", {"value": F.lit(1.0)})


def test_restore_is_forward_and_reference_counted(spark, tmp_path):
    """RESTORE semantics: rollback is a NEW metadata-only commit (the
    bad state stays time-travelable), restored file references are
    byte-identical (no data movement), vacuum keeps files the restored
    manifest references, and restoring a vacuumed version refuses."""
    import pytest

    path = str(tmp_path / "rst")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(4))
    m1 = versioned._manifest(path)
    versioned.delete_rows_dv(spark, path, F.col("event_type") == "error")

    v3 = versioned.restore_version(spark, path, 1)
    m3 = versioned._manifest(path)
    assert v3 == 3
    assert m3["files"] == m1["files"]  # by reference, no data write
    assert "dv" not in m3 and m3["meta"]["restored_from"] == 1
    assert versioned.read_version(spark, path).count() == ev.count()
    # the bad state is still there: v2 time-travels
    n_err = ev.filter(F.col("event_type") == "error").count()
    assert versioned.read_version(spark, path, 2).count() == ev.count() - n_err

    # history, newest first, metadata only
    hist = versioned.table_history(path)
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[0]["dv_rows"] == 0 and hist[1]["dv_rows"] == n_err

    # vacuum past v1/v2: restored manifest still references v1 files,
    # so reference counting must keep them readable
    versioned.vacuum(path, keep_from=3)
    assert versioned.read_version(spark, path).count() == ev.count()
    assert [h["version"] for h in versioned.table_history(path)] == [3]

    # restoring a vacuumed version refuses loudly
    with pytest.raises(ValueError, match="vacuumed"):
        versioned.restore_version(spark, path, 2)
    # a DV-bearing restore target carries its DV pointer
    versioned.delete_rows_dv(spark, path, F.col("value") < 5.0)  # v4
    n4 = versioned.read_version(spark, path).count()
    versioned.commit_version(spark, path, ev.limit(10))  # v5
    versioned.restore_version(spark, path, 4)  # v6
    m6 = versioned._manifest(path)
    assert m6.get("dv") and versioned.read_version(spark, path).count() == n4


def test_zorder_on_dv_snapshot_materializes_deletes(spark, tmp_path):
    """OPTIMIZE over a DV-bearing snapshot: the rewrite reads through
    the anti-join, so soft-deleted rows fold away and the committed
    manifest is DV-FREE — a clustered layout never carries position-
    keyed deletes across its own rewrite."""
    path = str(tmp_path / "zdv")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(4))
    versioned.delete_rows_dv(spark, path, F.col("event_type") == "error")
    survivors = versioned.read_version(spark, path).count()
    versioned.zorder_cluster(spark, path, ["event_id", "value"], target_files=8)
    m = versioned._manifest(path)
    assert "dv" not in m
    assert versioned.read_version(spark, path).count() == survivors


def test_merge_mor_three_clauses(spark, tmp_path):
    """MERGE INTO: conditional matched-update, matched-delete and
    not-matched-insert in one commit — file reuse, clause routing,
    counts, time travel and read-back all pinned."""
    path = str(tmp_path / "merge")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(spark, path, ev.repartition(6))
    m1 = versioned._manifest(path)

    bucket = F.col("event_id") % 10
    source = (
        ev.filter(bucket == 0)
        .select("event_id", "ts", "user_id", "event_type",
                (F.col("value") * 2).alias("value"),
                F.lit("update").alias("op"))
        .unionByName(ev.filter(bucket == 1).select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.lit("delete").alias("op")))
        .unionByName(ev.filter(bucket == 2).select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "ts", "user_id", F.lit("inserted").alias("event_type"),
            F.lit(-1.0).alias("value"), F.lit("insert").alias("op")))
    )
    v2 = versioned.merge_into_mor(
        spark, path, source, ["event_id"],
        when_matched=[
            ("update", {"value": "s.value", "event_type": "'merged'"},
             "s.op = 'update'"),
            ("delete", None, "s.op = 'delete'"),
        ],
        insert_not_matched=True,
    )
    assert v2 == 2
    m2 = versioned._manifest(path)
    # every v1 file carried byte-identical; only image files are new
    assert set(m1["files"]) <= set(m2["files"])
    n0 = ev.filter(bucket == 0).count()
    n1 = ev.filter(bucket == 1).count()
    n2 = ev.filter(bucket == 2).count()
    assert m2["meta"]["merge"] == {
        "updated": n0, "deleted": n1, "inserted": n2,
    }
    assert m2["dv"]["rows"] == n0 + n1

    got = {r.event_id: r for r in versioned.read_version(spark, path).collect()}
    for r in ev.collect():
        b = r.event_id % 10
        if b == 0:
            assert got[r.event_id].value == r.value * 2
            assert got[r.event_id].event_type == "merged"
        elif b == 1:
            assert r.event_id not in got
        else:
            assert got[r.event_id].value == r.value
            assert got[r.event_id].event_type == r.event_type
        if b == 2:
            ins = got[r.event_id + 10_000_000]
            assert ins.value == -1.0 and ins.event_type == "inserted"
    assert len(got) == ev.count() - n1 + n2

    # time travel: v1 intact
    assert versioned.read_version(spark, path, 1).count() == ev.count()


def test_merge_prune_matches_unpruned_exactly(spark, tmp_path):
    """r16 stats-pruned MERGE: with prune_on=<merge key>, only files
    whose footer [min, max] on the key overlaps the source's range
    are scanned — bit-identical results to the unpruned merge (a
    pruned file provably holds no matching key, and unmatched target
    rows are untouched by MERGE semantics), with files_pruned > 0
    telemetry on a range-clustered table whose source touches one
    range. Also pinned: the all-NULL-key source skips the scan
    entirely (NULL never equals → inserts only), and prune_on must be
    a merge key."""
    import pytest

    ev = _events(spark)
    ids = sorted(r.event_id for r in ev.select("event_id").collect())
    qs = [ids[len(ids) * i // 4] for i in range(1, 4)]
    slices = [
        ev.filter(F.col("event_id") < qs[0]),
        ev.filter((F.col("event_id") >= qs[0]) & (F.col("event_id") < qs[1])),
        ev.filter((F.col("event_id") >= qs[1]) & (F.col("event_id") < qs[2])),
        ev.filter(F.col("event_id") >= qs[2]),
    ]
    paths = {}
    for name in ("pruned", "plain"):
        p = str(tmp_path / name)
        os.makedirs(p)
        versioned.commit_version(spark, p, slices[0].coalesce(1))
        for s in slices[1:]:
            # insert-only merges append each disjoint slice as its own
            # file(s), prior files carried by reference — a
            # range-clustered unpartitioned table, the layout a
            # time-keyed streaming sink produces naturally
            versioned.merge_into_mor(
                spark, p, s.coalesce(1), ["event_id"],
                insert_not_matched=True,
            )
        paths[name] = p

    # source touches ONLY the top quartile: updates half of it,
    # deletes a sliver, inserts brand-new ids above everything
    top = ev.filter(F.col("event_id") >= qs[2])
    source = (
        top.filter(F.col("event_id") % 2 == 0)
        .select("event_id", "ts", "user_id", "event_type",
                (F.col("value") + 100.0).alias("value"),
                F.lit("update").alias("op"))
        .unionByName(
            top.filter(F.col("event_id") % 2 == 1).limit(5).select(
                "event_id", "ts", "user_id", "event_type", "value",
                F.lit("delete").alias("op")))
        .unionByName(
            top.limit(3).select(
                (F.col("event_id") + 50_000_000).alias("event_id"),
                "ts", "user_id", F.lit("ins").alias("event_type"),
                F.lit(-1.0).alias("value"), F.lit("insert").alias("op")))
    )
    args = dict(
        when_matched=[
            ("update", {"value": "s.value"}, "s.op = 'update'"),
            ("delete", None, "s.op = 'delete'"),
        ],
        insert_not_matched=True,
    )
    versioned.merge_into_mor(
        spark, paths["pruned"], source, ["event_id"],
        prune_on="event_id", **args,
    )
    versioned.merge_into_mor(spark, paths["plain"], source, ["event_id"], **args)

    got_p = sorted(map(tuple, versioned.read_version(spark, paths["pruned"]).collect()))
    got_n = sorted(map(tuple, versioned.read_version(spark, paths["plain"]).collect()))
    assert got_p == got_n
    mm_p = versioned._manifest(paths["pruned"])["meta"]["merge"]
    mm_n = versioned._manifest(paths["plain"])["meta"]["merge"]
    assert (mm_p["updated"], mm_p["deleted"], mm_p["inserted"]) == (
        mm_n["updated"], mm_n["deleted"], mm_n["inserted"])
    assert mm_p["files_pruned"] > 0, mm_p
    assert mm_p["files_scanned"] >= 1

    # all-NULL source key: no row can match — scan skipped outright,
    # inserts still land, both tables agree
    null_src = top.limit(4).select(
        F.lit(None).cast("long").alias("event_id"),
        "ts", "user_id", F.lit("nullins").alias("event_type"),
        F.lit(-2.0).alias("value"), F.lit("insert").alias("op"))
    versioned.merge_into_mor(
        spark, paths["pruned"], null_src, ["event_id"],
        prune_on="event_id", **args)
    versioned.merge_into_mor(
        spark, paths["plain"], null_src, ["event_id"], **args)
    got_p = sorted(
        (r.event_type, r.value)
        for r in versioned.read_version(spark, paths["pruned"]).collect())
    got_n = sorted(
        (r.event_type, r.value)
        for r in versioned.read_version(spark, paths["plain"]).collect())
    assert got_p == got_n
    mm_p = versioned._manifest(paths["pruned"])["meta"]["merge"]
    assert mm_p["files_scanned"] == 0 and mm_p["inserted"] == 4

    with pytest.raises(ValueError, match="merge keys"):
        versioned.merge_into_mor(
            spark, paths["pruned"], source, ["event_id"],
            prune_on="user_id", **args)


def test_merge_mor_clause_order_and_cardinality(spark, tmp_path):
    """First matching clause wins per row (Delta clause-order
    semantics); a matched row satisfying no clause is untouched; two
    source rows modifying one target row raise
    MergeCardinalityError before any write."""
    import pytest

    path = str(tmp_path / "merge2")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 100)
    versioned.commit_version(spark, path, ev)

    # both clauses' conditions hold for bucket-0 rows: the FIRST
    # (update) must win, the delete clause must see nothing
    src = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", F.lit("both").alias("op"))
    versioned.merge_into_mor(
        spark, path, src, ["event_id"],
        when_matched=[
            ("update", {"value": "t.value + 1.0"}, "s.op = 'both'"),
            ("delete", None, "s.op = 'both'"),
        ],
    )
    m = versioned._manifest(path)
    assert m["meta"]["merge"]["updated"] == src.count()
    assert m["meta"]["merge"]["deleted"] == 0
    assert versioned.read_version(spark, path).count() == ev.count()

    # matched row matching NO clause: untouched, not DV-masked
    src2 = ev.limit(5).select("event_id", F.lit("noop").alias("op"))
    v = versioned.merge_into_mor(
        spark, path, src2, ["event_id"],
        when_matched=[("delete", None, "s.op = 'never'")],
    )
    m2 = versioned._manifest(path)
    assert m2["version"] == v
    assert m2["meta"]["merge"] == {"updated": 0, "deleted": 0, "inserted": 0}
    assert versioned.read_version(spark, path).count() == ev.count()

    # ambiguous source: two rows per key, both modifying → refuse
    dup_src = src.unionByName(src)
    before = versioned.current_version(path)
    with pytest.raises(versioned.MergeCardinalityError):
        versioned.merge_into_mor(
            spark, path, dup_src, ["event_id"],
            when_matched=[("delete", None, None)],
        )
    assert versioned.current_version(path) == before  # nothing committed

    # guards: partitioned snapshot, bad clause, missing insert column
    ppath = str(tmp_path / "mergep")
    os.makedirs(ppath)
    versioned.commit_version_partitioned(spark, ppath, _events(spark))
    with pytest.raises(ValueError, match="unpartitioned"):
        versioned.merge_into_mor(spark, ppath, src, ["event_id"])
    with pytest.raises(ValueError, match="unknown matched clause"):
        versioned.merge_into_mor(
            spark, path, src, ["event_id"],
            when_matched=[("upsert", None, None)])
    with pytest.raises(ValueError, match="missing columns"):
        versioned.merge_into_mor(
            spark, path, src, ["event_id"],
            insert_not_matched={"event_id": "s.event_id"})


def test_cdf_consumer_replays_unacked_batch(spark, tmp_path):
    """Durable-cursor CDF consumption: nothing-new returns None, an
    un-acked batch replays identically (at-least-once), a slow
    consumer gets the NET diff across skipped versions, and acking
    backwards refuses."""
    import pytest

    path = str(tmp_path / "t")
    os.makedirs(path)
    cursor = str(tmp_path / "cursor.json")
    ev = _events(spark).filter(F.col("event_id") < 200)
    versioned.commit_version(spark, path, ev)
    versioned.init_changes_cursor(cursor, versioned.current_version(path))

    # nothing new
    df, v = versioned.consume_changes(spark, path, cursor, ["event_id"])
    assert df is None and v == 1

    versioned.upsert_version(
        spark, path,
        ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + 1.0),
        ["event_id"],
    )
    b1, v1 = versioned.consume_changes(spark, path, cursor, ["event_id"])
    first = sorted(map(tuple, b1.collect()))
    # crash before ack: the SAME batch replays
    b1r, v1r = versioned.consume_changes(spark, path, cursor, ["event_id"])
    assert v1r == v1 and sorted(map(tuple, b1r.collect())) == first
    versioned.ack_changes(cursor, v1)

    # two commits between consumes → ONE net batch: the second update
    # supersedes the first, so the pair is v2-image → v4-image
    versioned.upsert_version(
        spark, path,
        ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + 2.0),
        ["event_id"],
    )
    versioned.delete_rows_dv(spark, path, F.col("event_id") == 3)
    b2, v2 = versioned.consume_changes(spark, path, cursor, ["event_id"])
    assert v2 == 4
    rows = b2.collect()
    kinds = {r._change_type for r in rows}
    assert kinds == {"update_preimage", "update_postimage", "delete"}
    for r in rows:
        if r._change_type == "update_postimage":
            assert r.event_id % 10 == 0
        if r._change_type == "delete":
            assert r.event_id == 3
    # net semantics: exactly one pre/post pair per updated key that
    # actually changed (id 3 %10 !=0 so disjoint from updates)
    n_upd = ev.filter((F.col("event_id") % 10 == 0)).count()
    assert sum(1 for r in rows if r._change_type == "update_postimage") == n_upd
    versioned.ack_changes(cursor, v2)

    with pytest.raises(ValueError, match="refusing to regress"):
        versioned.ack_changes(cursor, 1)
    df3, _ = versioned.consume_changes(spark, path, cursor, ["event_id"])
    assert df3 is None


def test_check_constraints_enforced_on_every_ingest_path(spark, tmp_path):
    """CHECK constraints: inline enforcement on commit/upsert/MOR
    paths, NULL-passes semantics, add-time validation of existing
    data, and drop restores writability."""
    import pytest

    path = str(tmp_path / "c")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 300)
    versioned.add_constraint(spark, path, "cap", "value <= 1000")
    versioned.commit_version(spark, path, ev)

    # plain commit of violating rows refuses; table unmoved
    bad = ev.withColumn("value", F.col("value") + 100000.0)
    with pytest.raises(versioned.ConstraintViolationError, match="cap"):
        versioned.commit_version(spark, path, bad)
    assert versioned.current_version(path) == 1

    # upsert funnels through commit_version → refused too
    with pytest.raises(versioned.ConstraintViolationError):
        versioned.upsert_version(spark, path, bad.limit(3), ["event_id"])
    assert versioned.current_version(path) == 1

    # MOR update whose images violate → refused, no DV landed
    with pytest.raises(versioned.ConstraintViolationError):
        versioned.update_rows_mor(
            spark, path, "event_id % 2 = 0", {"value": F.lit(99999.0)}
        )
    assert versioned.current_version(path) == 1
    assert "dv" not in versioned._manifest(path)

    # MERGE images violate → refused
    src = ev.limit(5).select("event_id")
    with pytest.raises(versioned.ConstraintViolationError):
        versioned.merge_into_mor(
            spark, path, src, ["event_id"],
            when_matched=[("update", {"value": "99999.0"}, None)],
        )
    assert versioned.current_version(path) == 1

    # conforming MOR update passes with constraints live
    versioned.update_rows_mor(
        spark, path, "event_id = 0", {"value": F.lit(1.0)}
    )
    assert versioned.current_version(path) == 2

    # NULL evaluates as pass (SQL CHECK unknown ≠ violated)
    nulls = ev.limit(2).withColumn("value", F.lit(None).cast("double"))
    versioned.upsert_version(spark, path, nulls, ["event_id"])

    # add-time validation: a constraint existing data violates refuses
    with pytest.raises(versioned.ConstraintViolationError, match="neg"):
        versioned.add_constraint(spark, path, "neg", "value < 0")
    assert "neg" not in versioned.table_constraints(path)
    # duplicate name refuses
    with pytest.raises(ValueError, match="already exists"):
        versioned.add_constraint(spark, path, "cap", "value <= 9")

    # drop → previously-refused rows commit fine
    versioned.drop_constraint(path, "cap")
    versioned.commit_version(spark, path, bad)
    assert versioned.current_version(path) == 4

    # partitioned path enforced as well
    p2 = str(tmp_path / "cp")
    os.makedirs(p2)
    versioned.add_constraint(spark, p2, "cap", "value <= 1000")
    versioned.commit_version_partitioned(spark, p2, ev)
    with pytest.raises(versioned.ConstraintViolationError):
        versioned.upsert_version_cow(spark, p2, bad.limit(4), ["event_id"])
    assert versioned.current_version(p2) == 1


def test_cdf_replica_reapply_is_content_idempotent(spark, tmp_path):
    """Crash between apply and ack re-delivers the batch: re-applying
    it must leave the replica content-identical (postimages re-assert
    equal values, deletes match nothing, inserts match and fall
    through untouched)."""
    src_path = str(tmp_path / "src")
    rep_path = str(tmp_path / "rep")
    os.makedirs(src_path)
    os.makedirs(rep_path)
    ev = _events(spark).filter(F.col("event_id") < 200)
    versioned.commit_version(spark, src_path, ev)
    # replica starts EMPTY-seeded with a disjoint subset so the batch
    # exercises inserts too: seed only half the keys
    versioned.commit_version(
        spark, rep_path, ev.filter(F.col("event_id") % 2 == 0)
    )

    versioned.upsert_version(
        spark, src_path,
        ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "value", F.col("value") + 7.0),
        ["event_id"],
    )
    versioned.delete_rows_dv(spark, src_path, F.col("event_id") % 5 == 1)

    # diff against the REPLICA's seeded state: net changes the replica
    # needs (v0 of the source chain isn't what the replica holds, so
    # diff source-current vs replica-current directly)
    changes = versioned.table_changes_between_tables(
        spark, rep_path, src_path, ["event_id"]
    )
    changes = changes.localCheckpoint(eager=True)
    versioned.apply_changes_mor(spark, rep_path, changes, ["event_id"])

    want = sorted(map(tuple, versioned.read_version(spark, src_path).collect()))
    got1 = sorted(map(tuple, versioned.read_version(spark, rep_path).collect()))
    assert got1 == want

    # re-apply the SAME batch: content unchanged
    versioned.apply_changes_mor(spark, rep_path, changes, ["event_id"])
    got2 = sorted(map(tuple, versioned.read_version(spark, rep_path).collect()))
    assert got2 == want


def test_drop_column_is_metadata_only_and_name_retires(spark, tmp_path):
    """DROP COLUMN: zero data writes, time travel intact, dropped
    name retired forever, guards enforced."""
    import pytest

    path = str(tmp_path / "d")
    os.makedirs(path)
    ev6 = load_table(spark, SF_TEST, "events").filter(F.col("event_id") < 300)
    versioned.commit_version(spark, path, ev6)
    m1 = versioned._manifest(path)

    v2 = versioned.drop_column(spark, path, "props")
    m2 = versioned._manifest(path)
    assert v2 == 2
    # metadata-only: identical file list, no new data dirs
    assert m2["files"] == m1["files"]
    cur = versioned.read_version(spark, path)
    assert "props" not in cur.columns
    assert cur.count() == ev6.count()
    # time travel: the 6-column version still serves props
    assert "props" in versioned.read_version(spark, path, 1).columns

    # retired name refuses; a fresh name adds fine and null-fills
    with pytest.raises(ValueError, match="retired"):
        versioned.evolve_schema(spark, path, [("props", "string")])
    versioned.evolve_schema(spark, path, [("quality", "string")])
    assert versioned.read_version(spark, path).filter(
        F.col("quality").isNotNull()
    ).count() == 0

    # post-drop MOR update writes narrow images that read back clean
    versioned.update_rows_mor(
        spark, path, "event_id % 2 = 0", {"quality": F.lit("even")}
    )
    got = versioned.read_version(spark, path)
    assert got.filter(F.col("quality") == "even").count() == ev6.filter(
        F.col("event_id") % 2 == 0
    ).count()

    # guards: unknown column, constraint-referenced column
    with pytest.raises(ValueError, match="no such column"):
        versioned.drop_column(spark, path, "nope")
    versioned.add_constraint(spark, path, "vcap", "value <= 1e9")
    with pytest.raises(ValueError, match="CHECK constraint"):
        versioned.drop_column(spark, path, "value")
    versioned.drop_constraint(path, "vcap")

    # cluster-column guard (the day-partitioned layout's p_date is a
    # DERIVED directory column, absent from the schema — dropping it
    # correctly fails "no such column"; the guard protects CLUSTERED
    # manifests whose cluster column IS a schema column)
    p2 = str(tmp_path / "dp")
    os.makedirs(p2)
    versioned.commit_version_clustered(
        spark,
        p2,
        ev6.select("event_id", "ts", "user_id", "event_type", "value"),
        partition_col="event_type",
    )
    with pytest.raises(ValueError, match="partition/cluster"):
        versioned.drop_column(spark, p2, "event_type")

    # index pointer on the dropped column is removed with it
    p3 = str(tmp_path / "di")
    os.makedirs(p3)
    versioned.commit_version(
        spark, p3,
        ev6.select("event_id", "ts", "user_id", "event_type", "value"),
        bloom_cols=["user_id"],
    )
    assert os.path.isfile(os.path.join(p3, "_BLOOM_user_id.json"))
    versioned.drop_column(spark, p3, "user_id")
    assert not os.path.exists(os.path.join(p3, "_BLOOM_user_id.json"))


def test_zorder_incremental_rewrites_only_new_files(spark, tmp_path):
    """Incremental OPTIMIZE: carried clustered files byte-identical,
    only the unclustered tail rewritten, no-op when fully clustered,
    full-cluster fallback without a baseline, DV deletes in the tail
    materialize into the new layer."""
    path = str(tmp_path / "zi")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 2000)
    versioned.commit_version(spark, path, ev.repartition(4))

    # no baseline → falls back to ONE full cluster
    v = versioned.zorder_cluster_incremental(
        spark, path, ["event_id", "value"], target_files=4)
    m_full = versioned._manifest(path)
    assert v == 2 and m_full["meta"]["zorder_by"] == ["event_id", "value"]
    assert "zorder_incremental" not in m_full["meta"]

    # fully clustered → no-op, no new version
    assert versioned.zorder_cluster_incremental(
        spark, path, ["event_id", "value"]) == 2
    assert versioned.current_version(path) == 2

    # append new keys, soft-delete some of them, then incremental
    shifted = ev.withColumn("event_id", F.col("event_id") + 100_000)
    versioned.merge_into_mor(
        spark, path, shifted, ["event_id"], insert_not_matched=True)
    versioned.delete_rows_dv(
        spark, path, F.col("event_id") >= 100_000 + 1000)
    m_before = versioned._manifest(path)
    v2 = versioned.zorder_cluster_incremental(
        spark, path, ["event_id", "value"], target_files=2)
    m_after = versioned._manifest(path)
    assert v2 == m_before["version"] + 1
    # every clustered (v2-layer) file carried byte-identical
    carried = set(m_full["files"]) & set(m_before["files"])
    assert carried <= set(m_after["files"])
    rewritten = set(m_before["files"]) - set(m_after["files"])
    assert rewritten and carried.isdisjoint(rewritten)
    assert m_after["meta"]["zorder_incremental"]["carried"] == len(carried)

    # content: originals + the NON-deleted shifted rows (the tail's
    # deletes materialized into the new layer)
    got = versioned.read_version(spark, path)
    assert got.count() == ev.count() + ev.filter(
        F.col("event_id") + 100_000 < 101_000).count()

    # a 2-D probe inside the new layer prunes every original-layer file
    cand_ev = versioned.stats_candidate_files(
        spark, path, "event_id", 100_000, 100_500)
    assert set(cand_ev).isdisjoint(carried)
    rows = versioned.stats_lookup_multi(
        spark, path,
        [("event_id", 100_000, 100_500), ("value", 0.0, 1e9)],
    ).collect()
    want = {
        r.event_id + 100_000
        for r in ev.filter(
            (F.col("event_id") + 100_000).between(100_000, 100_500)
        ).collect()
    }
    assert {r.event_id for r in rows} == want


def _kv(spark, keys, n_files):
    return spark.createDataFrame(
        [(k, float(k % 7)) for k in keys], "k int, v double"
    ).repartition(n_files)


def test_zorder_incremental_clusters_an_append(spark, tmp_path):
    """An append merges prior meta forward, so it carries `zorder_by`;
    the incremental pass once took the append itself as its baseline
    and left the appended files unclustered. The baseline is now the
    version the last z-order published, so the pass rewrites exactly
    the appended files and carries the clustered layer."""
    path = str(tmp_path / "zapp")
    os.makedirs(path)
    versioned.commit_version(spark, path, _kv(spark, range(40), 4))
    assert versioned.zorder_cluster_incremental(
        spark, path, ["k", "v"], target_files=2) == 2
    layer = set(versioned._manifest(path)["files"])
    versioned.append_version_clustered(
        spark, path, _kv(spark, range(40, 52), 3), None)
    appended = set(versioned._manifest(path)["files"]) - layer
    assert len(appended) == 3

    assert versioned.zorder_cluster_incremental(
        spark, path, ["k", "v"], target_files=1) == 4
    m = versioned._manifest(path)
    assert layer <= set(m["files"]) and appended.isdisjoint(m["files"])
    assert m["meta"]["zorder_incremental"] == {
        "rewrote": 3, "carried": len(layer)}
    got = sorted(r.k for r in versioned.read_version(spark, path).collect())
    assert got == list(range(52))
    # fully clustered again: no commit
    assert versioned.zorder_cluster_incremental(spark, path, ["k", "v"]) == 4
    # the baseline version vacuumed: the pass rewrites the whole table
    versioned.append_version_clustered(
        spark, path, _kv(spark, range(52, 55), 1), None)
    versioned.vacuum(path, keep_from=5)
    assert versioned.zorder_cluster_incremental(spark, path, ["k", "v"]) == 6
    m = versioned._manifest(path)
    assert "zorder_incremental" not in m["meta"] and not layer & set(m["files"])


def test_zorder_cluster_aborts_on_a_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """A full z-order once planned its version after its own read and
    quantile pass, so an append landing in between was overwritten
    with no error. The rewrite now publishes from the snapshot it
    read: the publish raises ConcurrentCommitError and the appended
    rows stay current."""
    path = str(tmp_path / "zrace")
    os.makedirs(path)
    versioned.commit_version(spark, path, _kv(spark, range(40), 4))
    shape = versioned._zorder_frame

    def racing(df, *args):
        versioned.append_version_clustered(
            spark, path, _kv(spark, range(40, 50), 1), None)
        return shape(df, *args)

    monkeypatch.setattr(versioned, "_zorder_frame", racing)
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.zorder_cluster(spark, path, ["k", "v"], target_files=2)
    assert versioned.current_version(path) == 2
    assert versioned.read_version(spark, path).count() == 50


def test_compaction_across_schema_evolution_keeps_every_version(
    spark, tmp_path
):
    """Compaction reads its files through the snapshot scan, so files
    written before ADD COLUMN and before a type widening compact into
    files that carry the current logical schema, and both the current
    and the pre-evolution version read unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "cev")
    os.makedirs(path)
    versioned.commit_version(spark, path, _kv(spark, range(20), 3))
    v1 = sorted(map(tuple, versioned.read_version(spark, path, 1).collect()))
    versioned.evolve_schema(spark, path, [("note", "string")])
    versioned.append_version_clustered(
        spark, path,
        spark.createDataFrame(
            [(k, 1.0, f"n{k}") for k in range(20, 30)],
            "k int, v double, note string"), None)
    versioned.widen_column_type(spark, path, "k", "bigint")
    versioned.append_version_clustered(
        spark, path,
        spark.createDataFrame(
            [(k, 2.0, None) for k in range(30, 40)],
            "k bigint, v double, note string"), None)
    before = sorted(map(tuple, versioned.read_version(spark, path).collect()))
    m = versioned._manifest(path)

    r = versioned.compact_files(spark, path)
    assert r["files_in"] == len(m["files"]) and r["files_out"] == 1
    after = versioned._manifest(path)
    assert after["version"] == m["version"] + 1
    assert sorted(map(tuple, versioned.read_version(spark, path).collect())) == before
    assert sorted(map(tuple, versioned.read_version(spark, path, 1).collect())) == v1
    for f in after["files"]:
        schema = pq.read_schema(os.path.join(path, f))
        assert schema.names == ["k", "v", "note"]
        assert schema.field("k").type == pa.int64()


def test_cdf_partition_pruning_is_exact(spark, tmp_path):
    """COW-partitioned CDF: the diff prunes — in pure metadata — to
    partitions whose file sets differ, and its output equals the
    unpruned snapshot diff; a DV delta disables pruning (unsound)
    but never changes results."""
    path = str(tmp_path / "cdfp")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    one_day = ev.filter(F.dayofmonth("ts") == 2).withColumn(
        "value", F.col("value") + 9.0
    )
    assert one_day.count() > 0
    versioned.upsert_version_cow(spark, path, one_day, ["event_id"])

    ma = versioned._manifest(path, 1)
    mb = versioned._manifest(path, 2)
    pruned = versioned._cdf_changed_files(ma, mb)
    assert pruned is not None
    fa, fb = pruned
    # strictly fewer files than the full manifests on both sides
    assert 0 < len(fa) < len(ma["files"])
    assert 0 < len(fb) < len(mb["files"])
    # pruned partitions agree: only the touched day differs
    parts = {ma["partitions"][f] for f in fa} | {
        mb["partitions"][f] for f in fb
    }
    assert len(parts) == 1

    got = sorted(
        map(tuple, versioned.table_changes(spark, path, 1, 2, ["event_id"]).collect())
    )
    full = sorted(
        map(
            tuple,
            versioned.snapshot_changes(
                versioned.read_version(spark, path, 1),
                versioned.read_version(spark, path, 2),
                ["event_id"],
            ).collect(),
        )
    )
    assert got == full and len(got) == 2 * one_day.count()

    # DV delta: pruning declines, results still exact
    versioned.delete_rows_dv(spark, path, F.col("event_id") % 100 == 3)
    m3 = versioned._manifest(path, 3)
    assert versioned._cdf_changed_files(mb, m3) is None
    ch = versioned.table_changes(spark, path, 2, 3, ["event_id"])
    assert {r._change_type for r in ch.collect()} == {"delete"}
    assert ch.count() == ev.filter(F.col("event_id") % 100 == 3).count()


def test_merge_cow_rewrites_only_touched_days(spark, tmp_path):
    """Partitioned MERGE: untouched days' files carried byte-identical,
    touched days rewritten with clause semantics, counts recorded,
    cardinality enforced."""
    import pytest

    path = str(tmp_path / "mc")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version_partitioned(spark, path, ev)
    m1 = versioned._manifest(path)

    day2 = F.dayofmonth("ts") == 2
    src = (
        ev.filter(day2 & (F.col("event_id") % 2 == 0))
        .select("event_id", "ts", "user_id", "event_type", "value",
                F.lit("update").alias("op"))
        .unionByName(
            ev.filter(day2 & (F.col("event_id") % 2 == 1)).select(
                "event_id", "ts", "user_id", "event_type", "value",
                F.lit("delete").alias("op"))
        )
    )
    n_upd = src.filter(F.col("op") == "update").count()
    n_del = src.filter(F.col("op") == "delete").count()
    versioned.merge_into_cow(
        spark, path, src, ["event_id"],
        when_matched=[
            ("update", {"value": "t.value + 5.0"}, "s.op = 'update'"),
            ("delete", None, "s.op = 'delete'"),
        ],
    )
    m2 = versioned._manifest(path)
    assert m2["meta"]["merge"] == {
        "updated": n_upd, "deleted": n_del, "inserted": 0}
    # every non-day-2 file carried byte-identical
    day2_parts = {
        p for f, p in m1["partitions"].items() if p.endswith("-02")
    }
    carried_expect = {
        f for f, p in m1["partitions"].items() if p not in day2_parts
    }
    assert carried_expect <= set(m2["files"])
    assert not day2_parts & {
        m2["partitions"][f]
        for f in set(m2["files"]) & set(m1["files"])
    }

    got = {r.event_id: r.value for r in versioned.read_version(spark, path).collect()}
    for r in ev.collect():
        if r.ts.day == 2 and r.event_id % 2 == 1:
            assert r.event_id not in got
        elif r.ts.day == 2 and r.event_id % 2 == 0:
            assert got[r.event_id] == r.value + 5.0
        else:
            assert got[r.event_id] == r.value

    # ambiguity refusal
    with pytest.raises(versioned.MergeCardinalityError):
        versioned.merge_into_cow(
            spark, path,
            src.filter(F.col("op") == "update").unionByName(
                src.filter(F.col("op") == "update")),
            ["event_id"],
            when_matched=[("delete", None, None)],
        )
    # unpartitioned snapshot refused
    p2 = str(tmp_path / "mcu")
    os.makedirs(p2)
    versioned.commit_version(spark, p2, ev.limit(10))
    with pytest.raises(ValueError, match="day-partitioned"):
        versioned.merge_into_cow(spark, p2, src, ["event_id"])


def test_merge_differential_against_python_reference(spark, tmp_path):
    """Seeded randomized differential test: merge_into_mor (and the
    COW twin on one case) vs a pure-Python first-clause-wins
    reference over random targets/sources — clause routing,
    no-clause fallthrough, guarded inserts and source-null keys all
    exercised beyond the fixed fixtures."""
    import datetime
    import random

    CLAUSES = [
        ("update", {"value": "s.value"}, "s.op = 'u1'"),
        ("update", {"value": "t.value + 10.0"}, "s.op = 'u2'"),
        ("delete", None, "s.op = 'd'"),
    ]
    INS_COND = "s.op IN ('u1', 'i')"

    def ref_merge(target, source):
        # first-clause-wins per matched target row; guarded inserts
        by_key = {}
        for srow in source:
            by_key.setdefault(srow["event_id"], []).append(srow)
        out = []
        matched_src = set()
        for trow in target:
            srows = by_key.get(trow["event_id"], [])
            if srows:
                matched_src.add(trow["event_id"])
                s0 = srows[0]
                if s0["op"] == "u1":
                    out.append({**trow, "value": s0["value"]})
                elif s0["op"] == "u2":
                    out.append({**trow, "value": trow["value"] + 10.0})
                elif s0["op"] == "d":
                    pass
                else:  # no clause satisfied: untouched
                    out.append(trow)
            else:
                out.append(trow)
        for srow in source:
            # a NULL-keyed source row never matches → NOT MATCHED
            # fires (Delta's null-merge-key semantics): it inserts
            # when the clause guard passes
            if srow["event_id"] is not None and srow["event_id"] in {
                t["event_id"] for t in target
            }:
                continue
            if srow["op"] in ("u1", "i"):
                out.append(
                    {k: srow[k] for k in ("event_id", "ts", "user_id",
                                          "event_type", "value")}
                )
        return sorted(
            (
                (r["event_id"] is None, r["event_id"] or 0),
                round(r["value"], 6),
                r["event_type"],
            )
            for r in out
        )

    base_ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    for case, seed in enumerate([7, 23, 101]):
        rng = random.Random(seed)
        n_t = rng.randint(50, 120)
        target = [
            {
                "event_id": i,
                "ts": base_ts + datetime.timedelta(hours=i % 48),
                "user_id": rng.randint(1, 9),
                "event_type": rng.choice(["a", "b", "c"]),
                "value": float(rng.randint(0, 500)),
            }
            for i in range(n_t)
        ]
        src_keys = rng.sample(range(n_t * 2), k=rng.randint(20, 60))
        source = [
            {
                "event_id": k,
                "ts": base_ts + datetime.timedelta(hours=k % 48),
                "user_id": rng.randint(1, 9),
                "event_type": "src",
                "value": float(rng.randint(1000, 2000)),
                "op": rng.choice(["u1", "u2", "d", "i", "x"]),
            }
            for k in src_keys
        ]
        if case == 2:  # a null source key never matches; it INSERTS
            # (null-keyed row with op 'u1' passes the insert guard)
            source.append({**source[0], "event_id": None, "op": "u1"})

        path = str(tmp_path / f"diff{case}")
        os.makedirs(path)
        tdf = spark.createDataFrame(
            [tuple(r.values()) for r in target],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        )
        sdf = spark.createDataFrame(
            [tuple(r.values()) for r in source],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, op string",
        )
        if case == 1:
            versioned.commit_version_partitioned(spark, path, tdf)
            versioned.merge_into_cow(
                spark, path, sdf, ["event_id"],
                when_matched=CLAUSES, insert_not_matched=True,
                insert_not_matched_cond=INS_COND,
            )
        else:
            versioned.commit_version(spark, path, tdf)
            versioned.merge_into_mor(
                spark, path, sdf, ["event_id"],
                when_matched=CLAUSES, insert_not_matched=True,
                insert_not_matched_cond=INS_COND,
            )
        got = sorted(
            (
                (r.event_id is None, r.event_id or 0),
                round(r.value, 6),
                r.event_type,
            )
            for r in versioned.read_version(spark, path).collect()
        )
        assert got == ref_merge(target, source), f"case {case} diverged"


def test_apply_changes_dispatches_to_cow_on_partitioned_replica(spark, tmp_path):
    """A day-partitioned replica applies a CDF batch through the COW
    path: untouched days carried byte-identical, content converges to
    the source, re-apply is content-idempotent."""
    src_path = str(tmp_path / "s")
    rep_path = str(tmp_path / "r")
    os.makedirs(src_path)
    os.makedirs(rep_path)
    ev = _events(spark)
    versioned.commit_version(spark, src_path, ev)
    versioned.commit_version_partitioned(spark, rep_path, ev)
    m1 = versioned._manifest(rep_path)

    day2 = F.dayofmonth("ts") == 2
    versioned.upsert_version(
        spark, src_path,
        ev.filter(day2).withColumn("value", F.col("value") + 3.0),
        ["event_id"],
    )
    changes = versioned.table_changes(
        spark, src_path, 1, 2, ["event_id"]
    ).localCheckpoint(eager=True)
    versioned.apply_changes(spark, rep_path, changes, ["event_id"])
    m2 = versioned._manifest(rep_path)
    # COW shape: day-2 files rewritten, every other day carried
    untouched = {
        f for f, p in m1["partitions"].items() if not p.endswith("-02")
    }
    assert untouched <= set(m2["files"])
    assert m2["meta"]["merge"]["updated"] == ev.filter(day2).count()

    want = sorted(map(tuple, versioned.read_version(spark, src_path).collect()))
    assert sorted(
        map(tuple, versioned.read_version(spark, rep_path).collect())
    ) == want
    # re-apply: content-idempotent through the COW path too
    versioned.apply_changes(spark, rep_path, changes, ["event_id"])
    assert sorted(
        map(tuple, versioned.read_version(spark, rep_path).collect())
    ) == want


def test_consume_changes_vacuumed_cursor_raises_actionably(spark, tmp_path):
    """A slow consumer whose acked snapshot was vacuumed gets the
    re-seed error, not a raw FileNotFoundError; the documented
    recovery (diff replica vs table, apply, re-init cursor)
    converges."""
    import pytest

    path = str(tmp_path / "t")
    rep = str(tmp_path / "r")
    os.makedirs(path)
    os.makedirs(rep)
    cursor = str(tmp_path / "cursor.json")
    ev = _events(spark).filter(F.col("event_id") < 100)
    versioned.commit_version(spark, path, ev)
    versioned.commit_version(spark, rep, ev)
    versioned.init_changes_cursor(cursor, 1)

    for i in range(3):  # push v1 beyond the retention horizon
        versioned.upsert_version(
            spark, path,
            ev.limit(5).withColumn("value", F.col("value") + float(i)),
            ["event_id"],
        )
    versioned.vacuum(path, keep_from=versioned.current_version(path))
    with pytest.raises(ValueError, match="re-seed"):
        versioned.consume_changes(spark, path, cursor, ["event_id"])

    # documented recovery: full diff against the replica, apply, re-init
    fix = versioned.table_changes_between_tables(
        spark, rep, path, ["event_id"]
    )
    versioned.apply_changes(spark, rep, fix, ["event_id"])
    versioned.init_changes_cursor(cursor, versioned.current_version(path))
    assert sorted(
        map(tuple, versioned.read_version(spark, rep).collect())
    ) == sorted(map(tuple, versioned.read_version(spark, path).collect()))
    df, _ = versioned.consume_changes(spark, path, cursor, ["event_id"])
    assert df is None


def test_verify_replica_and_checksum_sensitivity(spark, tmp_path):
    """Checksum equality on identical content regardless of layout;
    sensitivity to a single changed value, a dropped row and a
    duplicated row; verify_replica match/mismatch."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    os.makedirs(a)
    os.makedirs(b)
    ev = _events(spark).filter(F.col("event_id") < 400)
    versioned.commit_version(spark, a, ev.repartition(7))
    versioned.commit_version_partitioned(spark, b, ev)  # different layout
    ca = versioned.table_checksum(spark, a)
    assert ca == versioned.table_checksum(spark, b)
    assert versioned.verify_replica(spark, a, b)

    # one changed value flips it
    versioned.update_rows_mor(
        spark, a, "event_id = 7", {"value": F.col("value") + 0.000001}
    )
    c1 = versioned.table_checksum(spark, a)
    assert c1 != ca and not versioned.verify_replica(spark, a, b)

    # a deleted row flips it (and rows drops)
    versioned.delete_rows_dv(spark, a, F.col("event_id") == 7)
    c2 = versioned.table_checksum(spark, a)
    assert c2["rows"] == ca["rows"] - 1 and c2 != c1

    # a duplicated row: xor alone is blind to the pair, the decimal
    # sum is not — the composite catches it
    dup = ev.filter(F.col("event_id") == 3)
    versioned.commit_version(
        spark, b, versioned.read_version(spark, b).unionByName(dup)
    )
    cb = versioned.table_checksum(spark, b)
    assert cb["rows"] == ca["rows"] + 1
    assert cb["sum"] != ca["sum"]

    # time-travel checksum: v1 of table a still matches the original
    assert versioned.table_checksum(spark, a, version=1) == ca


# ---- r14: ADVICE fixes ----------------------------------------------


def test_merge_cow_dup_keyed_source_keeps_target_once(spark, tmp_path):
    """ADVICE r13 high: a dup-keyed source where copies route to
    DIFFERENT outcomes must not duplicate the target row. One
    modifying + one non-modifying match → the updated image ONLY;
    two non-modifying matches → the original row ONCE."""
    path = str(tmp_path / "mcd")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 200)
    versioned.commit_version_partitioned(spark, path, ev)
    n0 = ev.count()

    # key 10: two copies, only op='hit' routes to the update clause;
    # key 11: two copies, NEITHER routes to any clause
    k = ev.filter(F.col("event_id").isin(10, 11)).select(
        "event_id", "ts", "user_id", "event_type", "value")
    src = (
        k.withColumn("op", F.when(F.col("event_id") == 10, "hit")
                           .otherwise("miss"))
        .unionByName(k.withColumn("op", F.lit("miss")))
    )
    versioned.merge_into_cow(
        spark, path, src, ["event_id"],
        when_matched=[("update", {"value": "t.value + 100.0"},
                       "s.op = 'hit'")],
    )
    cur = versioned.read_version(spark, path)
    assert cur.count() == n0  # no duplicates anywhere
    base = {r.event_id: r.value for r in ev.collect()}
    got10 = cur.filter(F.col("event_id") == 10).collect()
    got11 = cur.filter(F.col("event_id") == 11).collect()
    assert len(got10) == 1 and got10[0].value == base[10] + 100.0
    assert len(got11) == 1 and got11[0].value == base[11]
    m = versioned._manifest(path)
    assert m["meta"]["merge"] == {"updated": 1, "deleted": 0, "inserted": 0}

    # MOR twin agrees on the same construction (parity of semantics)
    p2 = str(tmp_path / "mmd")
    os.makedirs(p2)
    versioned.commit_version(spark, p2, ev)
    versioned.merge_into_mor(
        spark, p2, src, ["event_id"],
        when_matched=[("update", {"value": "t.value + 100.0"},
                       "s.op = 'hit'")],
    )
    mor = versioned.read_version(spark, p2)
    assert mor.count() == n0
    assert mor.filter(F.col("event_id") == 10).collect()[0].value == base[10] + 100.0
    assert mor.filter(F.col("event_id") == 11).collect()[0].value == base[11]


def test_drop_column_refuses_partition_deriving_ts(spark, tmp_path):
    """ADVICE r13 medium: on a day-partitioned table the column the
    layout DERIVES from (ts_col) must be undroppable — dropping it
    would retire the name and brick every later partitioned write."""
    import pytest

    path = str(tmp_path / "ddl")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 100)
    versioned.commit_version_partitioned(spark, path, ev)
    assert versioned._manifest(path)["ts_col"] == "ts"

    with pytest.raises(ValueError, match="day-partition layout"):
        versioned.drop_column(spark, path, "ts")

    # a harmless column still drops, ts_col survives the metadata-only
    # commit, and the NEXT partitioned write (the path the bug
    # bricked) succeeds
    v = versioned.drop_column(spark, path, "user_id")
    assert versioned._manifest(path)["ts_col"] == "ts"
    with pytest.raises(ValueError, match="day-partition layout"):
        versioned.drop_column(spark, path, "ts")
    more = ev.select("event_id", "ts", "event_type", "value").withColumn(
        "value", F.col("value") + 1.0)
    assert versioned.upsert_version_cow(
        spark, path, more, ["event_id"]) == v + 1


def test_table_checksum_large_double_sensitivity(spark, tmp_path):
    """ADVICE r13 low: |value| >= 1e12 overflowed decimal(18,6) to
    NULL, so two different huge values checksummed equal. Widened to
    decimal(38,6) + overflow sentinel: they must differ."""
    a = str(tmp_path / "big_a")
    b = str(tmp_path / "big_b")
    for p, v in ((a, 2.5e13), (b, 3.5e13)):
        os.makedirs(p)
        df = spark.createDataFrame([(1, v)], "id bigint, value double")
        versioned.commit_version(spark, p, df)
    ca = versioned.table_checksum(spark, a)
    cb = versioned.table_checksum(spark, b)
    assert ca != cb
    # beyond decimal(38,6) too: the sentinel keeps sensitivity
    c = str(tmp_path / "big_c")
    d = str(tmp_path / "big_d")
    for p, v in ((c, 1e33), (d, 2e33)):
        os.makedirs(p)
        df = spark.createDataFrame([(1, v)], "id bigint, value double")
        versioned.commit_version(spark, p, df)
    assert versioned.table_checksum(spark, c) != versioned.table_checksum(spark, d)
    # and a genuine NULL stays distinct from overflow
    e = str(tmp_path / "big_e")
    os.makedirs(e)
    versioned.commit_version(
        spark, e,
        spark.createDataFrame([(1, None)], "id bigint, value double"))
    assert versioned.table_checksum(spark, e) != versioned.table_checksum(spark, c)


def test_constraint_ddl_occ_and_serialization(spark, tmp_path):
    """ADVICE r13 low: constraint DDL honors the OCC protocol — a
    stale expected_current aborts, and a commit landing during the
    validation scan aborts the ADD (verdict no longer describes the
    current snapshot)."""
    import pytest

    path = str(tmp_path / "cocc")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 50)
    versioned.commit_version(spark, path, ev)

    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.add_constraint(
            spark, path, "cap", "value <= 1e9", expected_current=99)
    assert "cap" not in versioned.table_constraints(path)

    versioned.add_constraint(
        spark, path, "cap", "value <= 1e9", expected_current=1)
    assert "cap" in versioned.table_constraints(path)
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.drop_constraint(path, "cap", expected_current=99)
    versioned.drop_constraint(path, "cap", expected_current=1)
    assert versioned.table_constraints(path) == {}

    # mid-validation commit detection: simulate the interleaving by
    # advancing the table from inside the validation read path via a
    # monkeypatched read_version
    real_read = versioned.read_version

    def advancing_read(s, p, v=None, **kw):
        out = real_read(s, p, v, **kw)
        versioned.commit_version(
            s, p, real_read(s, p).limit(1).withColumn(
                "event_id", F.col("event_id") + 1_000_000))
        return out

    versioned.read_version = advancing_read
    try:
        with pytest.raises(versioned.ConcurrentCommitError,
                           match="during constraint validation"):
            versioned.add_constraint(spark, path, "c2", "value IS NOT NULL")
    finally:
        versioned.read_version = real_read
    assert "c2" not in versioned.table_constraints(path)


def test_merge_mor_degenerate_noop_skips_version_bump(spark, tmp_path):
    """ADVICE r13 low: all prior files DV-dead + no insert clause =
    nothing to do — the merge returns the current version WITHOUT
    publishing a churn-only manifest."""
    path = str(tmp_path / "noop")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 20)
    versioned.commit_version(spark, path, ev)
    # dead-file detection runs only on indexed tables (the tables
    # where dead-candidate growth hurts) — build one, then kill
    # every row so the whole file list is DV-dead
    versioned.build_column_stats(spark, path, "event_id")
    versioned.delete_rows_dv(spark, path, F.lit(True))
    assert set(versioned._manifest(path)["dv"]["dead_files"]) == set(
        versioned._manifest(path)["files"])
    before = versioned.current_version(path)

    v = versioned.merge_into_mor(
        spark, path, ev.select("event_id", "value"), ["event_id"],
        when_matched=[("update", {"value": "s.value"}, None)],
    )
    assert v == before
    assert versioned.current_version(path) == before
    # an update over no live rows is the same no-op
    v = versioned.update_rows_mor(spark, path, "value > 0", {"value": "0.0"})
    assert v == before
    assert versioned.current_version(path) == before
    # with an insert clause it still degenerates to a pure insert
    v2 = versioned.merge_into_mor(
        spark, path, ev, ["event_id"], insert_not_matched=True)
    assert v2 == before + 1
    assert versioned.read_version(spark, path).count() == ev.count()


def test_update_mor_checks_assignments_before_any_job(spark, tmp_path):
    """An assignment to a column the table lacks raises before any
    Spark job runs and commits nothing — whether the predicate
    matches no row or some rows."""
    import pytest

    path = str(tmp_path / "upd_bad")
    os.makedirs(path)
    versioned.commit_version(
        spark, path, spark.range(20).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("x")
        ),
    )
    before = versioned.current_version(path)
    sc = spark.sparkContext
    for i, pred in enumerate(("k < 0", "k < 5")):
        group = f"upd-bad-{i}"
        sc.setJobGroup(group, "update_rows_mor with an unknown column")
        try:
            with pytest.raises(ValueError, match="unknown column"):
                versioned.update_rows_mor(spark, path, pred, {"nope": "1"})
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert versioned.current_version(path) == before


def test_dv_invariant_across_delete_update_merge(spark, tmp_path):
    """delete → update → three-clause merge → delete over overlapping
    keys on a stats-indexed table (dead-file detection on). After each
    commit the cumulative DV sidecar holds no duplicate (file, pos),
    its row count is the manifest's dv.rows and meta["dv_rows"], every
    dead file is fully masked, and the snapshot equals a plain-Python
    replay. Deleting every row then leaves no live file, and an
    update there is a no-op that keeps the current version."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "dv_inv")
    os.makedirs(path)
    # four files of ten contiguous keys each
    base = spark.range(40).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x")
    )
    versioned.commit_version(
        spark, path, base.repartitionByRange(4, "k"), stats_cols=["k"]
    )
    ref = {k: float(k) for k in range(40)}

    def check():
        m = versioned._manifest(path)
        got = {r.k: r.x for r in versioned.read_version(spark, path).collect()}
        assert got == ref
        if "dv" not in m:
            assert m["meta"]["dv_rows"] == 0
            return m
        dv = spark.read.parquet(os.path.join(path, m["dv"]["sidecar"]))
        n = dv.count()
        assert n == dv.select("file", "pos").distinct().count()
        assert n == m["dv"]["rows"] == m["meta"]["dv_rows"]
        per_file = {
            r.file: r.n
            for r in dv.groupBy("file").agg(F.count("*").alias("n")).collect()
        }
        for f in m["dv"].get("dead_files", []):
            rows = pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            assert per_file[f] == rows
        return m

    versioned.delete_rows_dv(spark, path, F.col("k") < 10)
    for k in range(10):
        del ref[k]
    m1 = check()
    assert len(m1["dv"]["dead_files"]) == 1

    # keys 5-9 are already deleted: only 10-14 match
    versioned.update_rows_mor(
        spark, path, "k >= 5 AND k < 15", {"x": F.col("x") + 100.0}
    )
    for k in range(10, 15):
        ref[k] += 100.0
    m = check()
    assert m["meta"]["updated_rows"] == 5
    images = set(m["files"]) - set(m1["files"])

    src = spark.createDataFrame(
        [(12, "u", 1012.0), (14, "d", 0.0), (20, "u", 1020.0),
         (21, "d", 0.0), (50, "i", 50.5), (3, "i", 3.5), (25, "i", 0.0)],
        "k long, op string, x double",
    )
    versioned.merge_into_mor(
        spark, path, src, ["k"],
        when_matched=[
            ("update", {"x": "s.x"}, "s.op = 'u'"),
            ("delete", None, "s.op = 'd'"),
        ],
        insert_not_matched=True,
        insert_not_matched_cond="s.op = 'i'",
        prune_on="k",
    )
    ref.update({12: 1012.0, 20: 1020.0, 50: 50.5, 3: 3.5})
    del ref[14], ref[21]
    m = check()
    assert m["meta"]["merge"]["updated"] == 2
    assert m["meta"]["merge"]["deleted"] == 2
    assert m["meta"]["merge"]["inserted"] == 2

    # kills the rest of keys 10-19: their original file and the
    # update's image file go fully dead
    versioned.delete_rows_dv(spark, path, "k >= 10 AND k < 20")
    for k in range(10, 20):
        ref.pop(k, None)
    m = check()
    dead = set(m["dv"]["dead_files"])
    assert images <= dead and len(dead & set(m1["files"])) == 2

    # an update matching nothing still commits, carrying the DV
    v = versioned.update_rows_mor(spark, path, "k < 0", {"x": "0.0"})
    m2 = check()
    assert v == m["version"] + 1 and m2["dv"] == m["dv"]
    assert m2["meta"]["updated_rows"] == 0


# ---- r14: RENAME COLUMN ---------------------------------------------


def test_rename_column_lifecycle(spark, tmp_path):
    """Metadata-only rename: files byte-identical, values survive,
    time travel serves both names, post-rename writes mix physical
    schemas correctly, chains work, old names retire."""
    import pytest

    path = str(tmp_path / "rn")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 200)
    versioned.commit_version(spark, path, ev)
    m1 = versioned._manifest(path)
    base = {r.event_id: r.value for r in ev.collect()}

    v2 = versioned.rename_column(spark, path, "value", "reading")
    assert v2 == 2
    m2 = versioned._manifest(path)
    assert m2["files"] == m1["files"]  # zero data movement
    assert "reading" in m2["renames"]
    cur = versioned.read_version(spark, path)
    assert cur.columns == ["event_id", "ts", "user_id", "event_type",
                           "reading"]
    assert {r.event_id: r.reading for r in cur.collect()} == base

    # time travel: v1 serves the OLD name with the same values
    old = versioned.read_version(spark, path, 1)
    assert old.columns[-1] == "value"
    assert {r.event_id: r.value for r in old.collect()} == base

    # post-rename write: new files physically carry `reading`; the
    # mixed-generation snapshot still reads correctly
    ups = cur.filter(F.col("event_id") < 20).withColumn(
        "reading", F.col("reading") + 5.0)
    versioned.upsert_version(spark, path, ups, ["event_id"])
    got = {r.event_id: r.reading
           for r in versioned.read_version(spark, path).collect()}
    for k, v in base.items():
        assert got[k] == v + (5.0 if k < 20 else 0.0)

    # retirement: the old name can never come back
    with pytest.raises(ValueError, match="retired"):
        versioned.evolve_schema(spark, path, [("value", "double")])
    with pytest.raises(ValueError, match="retired"):
        versioned.rename_column(spark, path, "reading", "value")

    # chain: reading -> measurement keeps resolving all generations
    versioned.rename_column(spark, path, "reading", "measurement")
    got2 = {r.event_id: r.measurement
            for r in versioned.read_version(spark, path).collect()}
    assert got2 == got

    # guards: unknown column, existing name
    with pytest.raises(ValueError, match="no such column"):
        versioned.rename_column(spark, path, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        versioned.rename_column(spark, path, "measurement", "event_id")


def test_rename_column_dv_merge_and_partitioned(spark, tmp_path):
    """Rename interplay: DV deletes and MOR merges keep working on a
    renamed table; partitioned tables refuse renaming the layout-
    deriving ts column but rename data columns fine (COW rewrite of a
    touched day mixes physical schemas within one partition)."""
    import pytest

    path = str(tmp_path / "rnd")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 100)
    versioned.commit_version(spark, path, ev)
    versioned.rename_column(spark, path, "value", "reading")
    n0 = ev.count()

    versioned.delete_rows_dv(spark, path, F.col("event_id") == 3)
    assert versioned.read_version(spark, path).count() == n0 - 1
    versioned.merge_into_mor(
        spark, path,
        ev.limit(5).select("event_id", F.lit(7.0).alias("m")),
        ["event_id"],
        when_matched=[("update", {"reading": "s.m"}, None)],
    )
    cur = versioned.read_version(spark, path)
    assert cur.filter(F.col("reading") == 7.0).count() >= 4

    # CHECK constraint referencing the column blocks the rename
    versioned.add_constraint(spark, path, "cap", "reading <= 1e9")
    with pytest.raises(ValueError, match="CHECK constraint"):
        versioned.rename_column(spark, path, "reading", "blocked")
    versioned.drop_constraint(path, "cap")

    # partitioned twin
    p2 = str(tmp_path / "rnp")
    os.makedirs(p2)
    versioned.commit_version_partitioned(spark, p2, ev)
    with pytest.raises(ValueError, match="day-partition"):
        versioned.rename_column(spark, p2, "ts", "event_ts")
    versioned.rename_column(spark, p2, "value", "reading")
    up = versioned.read_version(spark, p2).limit(5).withColumn(
        "reading", F.lit(-1.0))
    versioned.upsert_version_cow(spark, p2, up, ["event_id"])
    assert versioned.read_version(spark, p2).filter(
        "reading = -1.0").count() == 5


def test_rename_column_compaction_normalizes_and_stats_follow(
    spark, tmp_path
):
    """Compaction outputs carry the CURRENT logical names (the rename
    map only ever shrinks); index pointers follow the rename and
    incremental stats refresh keeps working across it."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "rnc")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 200)
    versioned.commit_version(spark, path, ev.repartition(6))
    versioned.build_column_stats(spark, path, "value")
    base = {r.event_id: r.value for r in ev.collect()}

    versioned.rename_column(spark, path, "value", "reading")
    assert os.path.isfile(os.path.join(path, "_STATS_reading.json"))
    assert not os.path.isfile(os.path.join(path, "_STATS_value.json"))
    # the pointer's recorded column follows; refresh under the NEW
    # name is incremental (version bumped by the rename commit)
    versioned.build_column_stats(spark, path, "reading")
    lo = min(base.values())
    hi = max(base.values())
    served = versioned.stats_lookup(spark, path, "reading", lo, hi)
    assert served.count() == len(base)  # full range serves every row

    r = versioned.compact_files(spark, path, target_bytes=10**9,
                                min_files=2)
    assert r["files_out"] >= 1
    m = versioned._manifest(path)
    for f in m["files"]:
        names = pq.ParquetFile(os.path.join(path, f)).schema_arrow.names
        assert "reading" in names and "value" not in names
    got = {r_.event_id: r_.reading
           for r_ in versioned.read_version(spark, path).collect()}
    assert got == base
    # post-compaction, no live file carries the old physical name —
    # the map entries are inert (sidecar lists reference only dead
    # relpaths) and a vacuum past the rename reclaims them with the
    # pre-compaction manifests


def test_two_process_occ_race_exactly_one_winner(spark, tmp_path):
    """REAL concurrent writers (two subprocesses, separate Spark
    sessions) hammer OCC commits on one table: every marker each
    process reports as committed must be present exactly once (no
    lost update — the flock-serialized publish arbitrates contested
    version numbers), the version chain has no holes, and losers
    always retried cleanly (ConcurrentCommitError only)."""
    import subprocess
    import sys
    import textwrap
    import time as _time

    path = str(tmp_path / "race")
    os.makedirs(path)
    seed = spark.createDataFrame(
        [(0, "seed", 0)], "marker bigint, proc string, seq int"
    )
    versioned.commit_version(spark, path, seed)
    start_flag = str(tmp_path / "go")

    worker = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from data_ingestion_pipeline_spark.operators import versioned as V

        proc, path, flag = sys.argv[1], sys.argv[2], sys.argv[3]
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false")
                 .appName("race-" + proc).getOrCreate())
        while not os.path.exists(flag):
            time.sleep(0.01)
        committed = 0
        for seq in range(10):
            marker = (1 if proc == "a" else 2) * 1000 + seq
            row = spark.createDataFrame(
                [(marker, proc, seq)],
                "marker bigint, proc string, seq int")
            for attempt in range(60):
                cur = V.current_version(path)
                snap = V.read_version(spark, path, cur)
                try:
                    V.commit_version(
                        spark, path, snap.unionByName(row),
                        expected_current=cur)
                    committed += 1
                    break
                except V.ConcurrentCommitError:
                    continue
            else:
                print("GAVE_UP", proc, seq, flush=True)
                sys.exit(3)
        print("DONE", proc, committed, flush=True)
        """
    ).format(root=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, p, path, start_flag],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for p in ("a", "b")
    ]
    _time.sleep(1)
    open(start_flag, "w").close()
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("DONE" in o for o in outs), outs

    # no lost update: all 20 markers present exactly once, plus seed
    final = versioned.read_version(spark, path)
    markers = sorted(r.marker for r in final.collect())
    expect = [0] + [1000 + i for i in range(10)] + [2000 + i for i in range(10)]
    assert markers == expect
    # exactly one winner per version: the chain is dense 1..21 and
    # every manifest resolves (no clobbered/torn member)
    assert versioned.current_version(path) == 21
    for v in range(1, 22):
        assert versioned._manifest(path, v)["version"] == v


# ---- r14: SHALLOW CLONE ---------------------------------------------


def test_shallow_clone_lifecycle(spark, tmp_path):
    """Zero-copy clone: no data file lands under the clone, content
    matches the source snapshot, writes on the clone localize only
    what they touch, the source never changes, and cloning a PINNED
    older version serves that version."""
    import glob

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    os.makedirs(src)
    ev = _events(spark).filter(F.col("event_id") < 300)
    versioned.commit_version_partitioned(spark, src, ev)
    versioned.add_constraint(spark, src, "cap", "value <= 1e9")
    base = {r.event_id: r.value for r in ev.collect()}

    assert versioned.clone_table(spark, src, dst) == 1
    assert not glob.glob(
        os.path.join(dst, "data", "**", "*.parquet"), recursive=True
    )
    got = {r.event_id: r.value
           for r in versioned.read_version(spark, dst).collect()}
    assert got == base
    # table properties carry
    assert versioned.table_constraints(dst) == {"cap": "value <= 1e9"}

    # a write on the clone rewrites ONLY the touched day locally
    up = (versioned.read_version(spark, dst)
          .filter(F.to_date("ts") == F.lit("2024-01-02").cast("date"))
          .withColumn("value", F.col("value") + 1000.0))
    n_up = up.count()
    versioned.upsert_version_cow(spark, dst, up, ["event_id"])
    m2 = versioned._manifest(dst)
    assert any(f.startswith("..") for f in m2["files"])  # still shallow
    assert any(f.startswith("data/") for f in m2["files"])  # localized day
    got2 = {r.event_id: r.value
            for r in versioned.read_version(spark, dst).collect()}
    bumped = sum(1 for k in base if got2[k] == base[k] + 1000.0)
    assert bumped == n_up
    # source byte-identical
    assert {r.event_id: r.value
            for r in versioned.read_version(spark, src).collect()} == base

    # clone of a PINNED older version (tag → version → clone)
    versioned.commit_version_partitioned(
        spark, src, ev.withColumn("value", F.lit(-1.0)))
    versioned.tag_version(src, "release-1", 1)
    dst2 = str(tmp_path / "dst2")
    versioned.clone_table(spark, src, dst2, version=1)
    assert {r.event_id: r.value
            for r in versioned.read_version(spark, dst2).collect()} == base

    # destination with commits refuses
    import pytest
    with pytest.raises(ValueError, match="already has commits"):
        versioned.clone_table(spark, src, dst)


def test_compaction_on_a_shallow_clone_keeps_partitions(spark, tmp_path):
    """Compaction works on a shallow clone as-is: the rewrite's scan
    keys a file outside the table by its absolute path, and the
    partition map follows, so the clone's day layout survives."""
    import datetime

    src = str(tmp_path / "csrc")
    dst = str(tmp_path / "cdst")
    os.makedirs(src)
    rows = [(k, datetime.datetime(2024, 1, 1 + k % 3, 12)) for k in range(30)]
    df = spark.createDataFrame(rows, "k int, ts timestamp").repartition(4)
    versioned.commit_version_partitioned(spark, src, df, cluster=False)
    versioned.clone_table(spark, src, dst)
    r = versioned.compact_files(spark, dst)
    assert r["files_out"] == 3 and len(r["partitions"]) == 3
    m = versioned._manifest(dst)
    assert not any(f.startswith("..") for f in m["files"])
    assert sorted(m["partitions"].values()) == r["partitions"]
    got = versioned.read_version(spark, dst).collect()
    assert sorted(row.k for row in got) == list(range(30))


def test_shallow_clone_dv_rename_and_localize(spark, tmp_path):
    """Clone of a table with a live deletion vector AND a renamed
    column: both carry (deletes stay deleted, the physical-name map
    re-keys); guarded ops refuse until localize_clone, which
    materializes externals (DV applied, logical names) and lifts the
    restriction."""
    import pytest

    src = str(tmp_path / "s2")
    dst = str(tmp_path / "d2")
    os.makedirs(src)
    ev = _events(spark).filter(F.col("event_id") < 200)
    versioned.commit_version(spark, src, ev)
    versioned.delete_rows_dv(spark, src, F.col("event_id") == 5)
    versioned.rename_column(spark, src, "value", "reading")
    base = {r.event_id: r.value for r in ev.collect()}

    versioned.clone_table(spark, src, dst)
    got = {r.event_id: r.reading
           for r in versioned.read_version(spark, dst).collect()}
    assert 5 not in got and len(got) == len(base) - 1
    assert got[7] == base[7]

    for op, call in (
        ("delete_rows_dv",
         lambda: versioned.delete_rows_dv(spark, dst, F.lit(True))),
        ("merge_into_mor",
         lambda: versioned.merge_into_mor(
             spark, dst, ev.limit(1).select("event_id"), ["event_id"],
             when_matched=[("delete", None, None)])),
        ("build_column_stats",
         lambda: versioned.build_column_stats(spark, dst, "event_id")),
        ("build_bloom_index",
         lambda: versioned.build_bloom_index(spark, dst, "event_id")),
        ("purge_rows",
         lambda: versioned.purge_rows(spark, dst, "event_id", [7])),
    ):
        with pytest.raises(ValueError, match="localize_clone"):
            call()

    v = versioned.localize_clone(spark, dst)
    m = versioned._manifest(dst)
    assert not any(f.startswith("..") for f in m["files"])
    got3 = {r.event_id: r.reading
            for r in versioned.read_version(spark, dst).collect()}
    assert got3 == got  # DV + rename both survived materialization
    versioned.delete_rows_dv(spark, dst, F.col("event_id") == 7)
    assert versioned.read_version(spark, dst).count() == len(got) - 1
    # localize is idempotent
    assert versioned.localize_clone(spark, dst) == versioned.current_version(dst)


def test_widen_column_type_metadata_only(spark, tmp_path):
    """Widening is metadata-only (files byte-identical), mixed
    narrow/wide generations read losslessly, time travel serves the
    narrow type, narrowing and lossy changes refuse, and widening
    composes with RENAME (old-name files read under the wide type)."""
    import pytest
    from pyspark.sql import types as T

    path = str(tmp_path / "w")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 100).select(
        "event_id", "ts",
        F.col("user_id").cast("int").alias("user_id"),
        "event_type",
        F.col("value").cast("float").alias("value"))
    versioned.commit_version(spark, path, ev)
    m1 = versioned._manifest(path)
    base = {r.event_id: (r.user_id, r.value) for r in ev.collect()}

    assert versioned.widen_column_type(spark, path, "user_id", "bigint") == 2
    assert versioned.widen_column_type(spark, path, "value", "double") == 3
    m3 = versioned._manifest(path)
    assert m3["files"] == m1["files"]  # zero data movement
    cur = versioned.read_version(spark, path)
    sch = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
    assert sch["user_id"] == "bigint" and sch["value"] == "double"
    got = {r.event_id: (r.user_id, r.value) for r in cur.collect()}
    for k, (u, v) in base.items():
        assert got[k][0] == u and abs(got[k][1] - v) < 1e-6
    # time travel: v1 serves the narrow types
    old = versioned.read_version(spark, path, 1)
    osch = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    assert osch["user_id"] == "int" and osch["value"] == "float"

    # same-type is a no-op (no churn commit); narrowing refuses
    assert versioned.widen_column_type(spark, path, "value", "double") == 3
    with pytest.raises(ValueError, match="lossless widening"):
        versioned.widen_column_type(spark, path, "user_id", "int")
    with pytest.raises(ValueError, match="lossless widening"):
        versioned.widen_column_type(spark, path, "value", "string")
    with pytest.raises(ValueError, match="no such column"):
        versioned.widen_column_type(spark, path, "nope", "bigint")

    # mixed generations: wide update images + narrow originals
    versioned.merge_into_mor(
        spark, path, ev.limit(7).select("event_id"), ["event_id"],
        when_matched=[("update", {"value": "t.value + 1.5"}, None)])
    got2 = {r.event_id: r.value
            for r in versioned.read_version(spark, path).collect()}
    assert sum(1 for k in base
               if abs(got2[k] - (base[k][1] + 1.5)) < 1e-6) == 7

    # composes with RENAME: old-name files read under the wide type
    versioned.rename_column(spark, path, "value", "reading")
    got3 = {r.event_id: r.reading
            for r in versioned.read_version(spark, path).collect()}
    assert got3 == got2

    # decimal lattice
    assert versioned._is_widening(T.DecimalType(10, 2), T.DecimalType(20, 2))
    assert versioned._is_widening(T.DecimalType(10, 2), T.DecimalType(14, 4))
    assert not versioned._is_widening(T.DecimalType(10, 2), T.DecimalType(9, 2))
    assert not versioned._is_widening(T.DecimalType(10, 2), T.DecimalType(10, 4))


def test_two_process_concurrent_appends_rebase(spark, tmp_path):
    """Blind appends COMMUTE: two processes append concurrently with
    NO caller-side retry loop — the commit self-rebases on conflict
    (data files written once, conflicts resolved in metadata) — and
    every appended row survives."""
    import subprocess
    import sys
    import textwrap
    import time as _time

    path = str(tmp_path / "apprace")
    os.makedirs(path)
    start_flag = str(tmp_path / "go")

    worker = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession, functions as F
        from data_ingestion_pipeline_spark.operators import versioned as V

        proc, path, flag = sys.argv[1], sys.argv[2], sys.argv[3]
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false")
                 .appName("app-" + proc).getOrCreate())
        while not os.path.exists(flag):
            time.sleep(0.01)
        basev = 0 if proc == "a" else 100
        for seq in range(8):
            df = spark.createDataFrame(
                [(basev + seq, proc, seq % 2)],
                "marker bigint, proc string, shard int")
            V.append_version_clustered(spark, path, df, "shard")
        print("DONE", proc, flush=True)
        """
    ).format(root=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, p, path, start_flag],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        for p in ("a", "b")
    ]
    _time.sleep(1)
    open(start_flag, "w").close()
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs

    final = versioned.read_version(spark, path)
    markers = sorted(r.marker for r in final.collect())
    assert markers == sorted(list(range(8)) + [100 + i for i in range(8)])
    assert versioned.current_version(path) == 16  # one version per append


def test_identity_assignment_distributed(spark):
    """Identity ids are the deterministic global rank regardless of
    partition count (range boundaries cannot change ranks of a total
    order), dense from `start`, and stable across reruns."""
    df = _events(spark).filter(F.col("event_id") < 500).select(
        "event_id", "value")
    a = {r.event_id: r.rid for r in versioned.assign_identity(
        df, "rid", ["event_id"], start=100, num_partitions=7).collect()}
    b = {r.event_id: r.rid for r in versioned.assign_identity(
        df, "rid", ["event_id"], start=100, num_partitions=13).collect()}
    assert a == b  # partitioning-independent
    ranks = sorted(a.items())  # by event_id
    assert [rid for _k, rid in ranks] == list(
        range(100, 100 + len(ranks)))  # dense rank of the order key


def test_identity_hwm_survives_appends(spark, tmp_path):
    """A third append continues where the entry's two left off — no
    id reuse. (The authoritative mark is the _IDENTITY.json property
    since r15; the commit meta copy asserted here is the audit
    trail.)"""
    import shutil

    # run the registry lifecycle into a private scratch
    sf = "/root/testdata/sf0.001"
    out = versioned.identity_column_appends(spark, sf)
    n = out.count()
    ids = [r.row_id for r in out.collect()]
    assert sorted(ids) == list(range(n))  # gap-free union of appends
    path = versioned.scratch_path("identity", "sf0.001", "table")
    m = versioned._manifest(path)
    assert m["meta"]["id_hwm"] == n
    more = _events(spark).filter(F.col("event_id") < 10).select(
        "event_id", "event_type", "value")
    tagged = versioned.assign_identity(
        more, "row_id", ["event_id"], start=m["meta"]["id_hwm"]
    ).withColumn("p_shard", F.col("event_type"))
    versioned.append_version_clustered(
        spark, path, tagged, "p_shard",
        meta={"id_hwm": m["meta"]["id_hwm"] + more.count()})
    allids = [r.row_id for r in versioned.read_version(spark, path)
              .select("row_id").collect()]
    assert sorted(allids) == list(range(n + more.count()))


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    """DRY RUN returns exactly the removal list a real vacuum then
    acts on, deleting nothing and rewriting no manifest."""
    import glob

    path = str(tmp_path / "vdr")
    os.makedirs(path)
    df = spark.range(50).select(F.col("id").alias("k"))
    versioned.commit_version(spark, path, df)
    versioned.commit_version(spark, path, df.filter("k < 30"))
    versioned.commit_version(spark, path, df.filter("k < 10"))

    before = sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True))
    mtimes = {p: os.path.getmtime(p) for p in before if os.path.isfile(p)}
    preview = versioned.vacuum(path, keep_from=3, dry_run=True)
    assert preview  # v1/v2 manifests + their orphaned data files
    after = sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True))
    assert after == before  # nothing deleted
    assert {p: os.path.getmtime(p) for p in after
            if os.path.isfile(p)} == mtimes  # nothing rewritten
    # current snapshot untouched and still readable
    assert versioned.read_version(spark, path).count() == 10

    real = versioned.vacuum(path, keep_from=3)
    assert sorted(real) == sorted(preview)
    for p in preview:
        assert not os.path.exists(p), p
    assert versioned.read_version(spark, path).count() == 10


# --- ADVICE r14 fixes: restore×rename, bloom×widen, pointer -------
# migration, retirement ordering


def test_restore_between_chained_renames_carries_target_map(
    spark, tmp_path
):
    """RESTORE to a version between two chained renames (value→v_b at
    v2, v_b→v_c at v3, restore to v2) must carry the TARGET manifest's
    own rename map — not inherit the CURRENT one keyed to 'v_c', which
    is inert against the restored schema and makes pre-rename files
    read 'v_b' as NULL (ADVICE r14 medium)."""
    path = str(tmp_path / "rr")
    os.makedirs(path)
    ev = _events(spark).filter(F.col("event_id") < 50)
    versioned.commit_version(spark, path, ev)  # v1: physical 'value'
    base = {r.event_id: r.value for r in ev.collect()}
    versioned.rename_column(spark, path, "value", "v_b")  # v2
    versioned.rename_column(spark, path, "v_b", "v_c")  # v3

    assert versioned.restore_version(spark, path, 2) == 4
    m = versioned._manifest(path)
    assert set(m.get("renames") or {}) == {"v_b"}  # target's map
    got = {
        r.event_id: r.v_b
        for r in versioned.read_version(spark, path).collect()
    }
    assert got == base  # pre-rename files serve values, never NULL

    # restore all the way to the pre-rename v1: the explicit empty
    # map suppresses prev-inheritance entirely
    assert versioned.restore_version(spark, path, 1) == 5
    m = versioned._manifest(path)
    assert not m.get("renames")
    got = {
        r.event_id: r.value
        for r in versioned.read_version(spark, path).collect()
    }
    assert got == base


def test_bloom_index_full_rebuild_after_widen(spark, tmp_path):
    """float→double widening changes the key's string render
    ('0.1' vs '0.10000000149011612'); an incremental bloom refresh
    must not carry float-render bitmaps — carried files would test
    false-negative for values they contain (ADVICE r14 medium). The
    recorded key_type forces one full rebuild across the widen."""
    path = str(tmp_path / "bw")
    os.makedirs(path)
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") / F.lit(10.0)).cast("float").alias("val"),
    )
    versioned.commit_version(spark, path, df.repartition(4))
    b1 = versioned.build_bloom_index(spark, path, "val")
    assert b1["key_type"] == "float"
    versioned.widen_column_type(spark, path, "val", "double")
    b2 = versioned.build_bloom_index(spark, path, "val")
    assert b2["key_type"] == "double"
    assert b2["carried_files"] == 0  # every bitmap re-harvested
    assert b2["harvested_files"] == 4
    # no false negatives under the new render: probe the exact double
    # the widened table now serves for k=1 (float 0.1's double image,
    # which renders differently from the float it was built under)
    probe = [
        r.val
        for r in versioned.read_version(spark, path)
        .filter(F.col("k") == 1)
        .collect()
    ]
    assert "0.1" != str(probe[0])  # the render actually changed
    cand = versioned.bloom_candidate_files(spark, path, "val", probe)
    assert cand  # the file holding k=1 survives pruning


@pytest.mark.parametrize("kind", ["bloom", "stats"])
def test_rename_migrates_index_pointer_for_incremental_refresh(
    spark, tmp_path, kind
):
    """Bloom pointers record the column as 'key_col', stats pointers
    as 'col'; the rename migration must rewrite the kind's field, else
    the advertised pointer-follow silently degrades to a full rebuild
    on every refresh (ADVICE r14 low)."""
    import json as _json

    path = str(tmp_path / "bp")
    os.makedirs(path)
    build, pointer, field, candidates = {
        "bloom": (
            versioned.build_bloom_index, "_BLOOM_reading.json", "key_col",
            lambda v: versioned.bloom_candidate_files(
                spark, path, "reading", [v]
            ),
        ),
        "stats": (
            versioned.build_column_stats, "_STATS_reading.json", "col",
            lambda v: versioned.stats_candidate_files(
                spark, path, "reading", v, v
            ),
        ),
    }[kind]
    versioned.commit_version(
        spark, path, _events(spark).limit(60).repartition(3)
    )
    build(spark, path, "value")
    versioned.rename_column(spark, path, "value", "reading")
    with open(os.path.join(path, pointer)) as fh:
        p = _json.load(fh)
    assert p[field] == "reading"
    b = build(spark, path, "reading")
    assert b["harvested_files"] == 0  # carried, not rebuilt
    assert b["carried_files"] == 3
    probe = [
        r.reading
        for r in versioned.read_version(spark, path).limit(1).collect()
    ]
    assert candidates(probe[0])


@pytest.mark.parametrize(
    "kind,part",
    [("bloom", "sidecar"), ("stats", "sidecar"),
     ("bloom", "segment"), ("stats", "segment")],
    ids=["bloom", "stats", "bloom-segment", "stats-segment"],
)
def test_missing_sidecar_reads_as_stale_and_lookup_rebuilds(
    spark, tmp_path, kind, part
):
    """A pointer whose sidecar base or any segment directory is gone
    is stale, like an absent pointer: the metadata probe raises the
    kind's stale error (not a raw PATH_NOT_FOUND on every call, and
    never silently skipping the part) and the lookup rebuilds the
    index and serves the right row."""
    import shutil

    path = str(tmp_path / "ms")
    os.makedirs(path)
    build, stale, candidates, lookup = {
        "bloom": (
            versioned.build_bloom_index, versioned.StaleBloomIndexError,
            lambda: versioned.bloom_candidate_files(spark, path, "k", [7]),
            lambda: versioned.bloom_lookup(spark, path, "k", [7]),
        ),
        "stats": (
            versioned.build_column_stats, versioned.StaleStatsIndexError,
            lambda: versioned.stats_candidate_files(spark, path, "k", 7, 7),
            lambda: versioned.stats_lookup(spark, path, "k", 7, 7),
        ),
    }[kind]
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(40)], "k int, v string"
    )
    if part == "sidecar":
        versioned.commit_version(spark, path, df.repartition(4))
        assert len(versioned._manifest(path)["files"]) == 4
        idx = build(spark, path, "k")
        shutil.rmtree(os.path.join(path, idx["sidecar"]))
    else:
        # the one row the probes look for lives in the segment only
        versioned.commit_version(
            spark, path, df.filter("k != 7").repartition(4)
        )
        build(spark, path, "k")
        versioned.append_version_clustered(
            spark, path, df.filter("k = 7").coalesce(1), None
        )
        idx = build(spark, path, "k")
        assert len(idx["segments"]) == 1
        shutil.rmtree(os.path.join(path, idx["segments"][0]))
    with pytest.raises(stale):
        candidates()
    assert [r.v for r in lookup().collect()] == ["r7"]
    assert candidates()  # the rebuilt index serves again


def test_zero_row_files_get_no_index_row(spark, tmp_path):
    """An empty commit or append adds a zero-row data file. Its footer
    has no row group, so it has no min/max; the stats index must still
    give it no row (as the bloom index does), else the file is a
    candidate for every range probe forever."""
    import json as _json

    import pyarrow.parquet as pq

    path = str(tmp_path / "zr")
    os.makedirs(path)
    schema = "k int, v string"
    versioned.commit_version(spark, path, spark.createDataFrame([], schema))
    versioned.append_version_clustered(
        spark, path,
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(100)], schema
        ).coalesce(1),
        None,
    )
    versioned.append_version_clustered(
        spark, path, spark.createDataFrame([], schema), None
    )
    files = versioned._manifest(path)["files"]
    full = [
        f for f in files
        if pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    ]
    assert len(files) == 3 and len(full) == 1

    versioned.build_column_stats(spark, path, "k")
    versioned.build_bloom_index(spark, path, "k")
    assert versioned.stats_candidate_files(spark, path, "k", 1000, 2000) == []
    assert versioned.stats_candidate_files(spark, path, "k", 5, 5) == full
    for pj in ("_STATS_k.json", "_BLOOM_k.json"):
        with open(os.path.join(path, pj)) as fh:
            sidecar = _json.load(fh)["sidecar"]
        assert spark.read.parquet(os.path.join(path, sidecar)).count() == 1
    got = versioned.stats_lookup(spark, path, "k", 5, 5).collect()
    assert [r.k for r in got] == [5]
    assert versioned.stats_lookup(spark, path, "k", 1000, 2000).count() == 0
    assert versioned.stats_lookup(spark, path, "k", None, None).count() == 100


def test_retirement_precedes_ddl_publish(spark, tmp_path, monkeypatch):
    """A crash between the rename/drop publish and the retirement
    sidecar must err RETIRED-BUT-STILL-LIVE (harmless: retirement only
    gates re-ADDING a name) — never live-DDL-but-unretired, where a
    later evolve_schema re-adds the old name and pre-DDL files
    resurrect its physical values (ADVICE r14 low). Pin the order by
    failing the publish and observing retirement already durable."""
    import pytest

    path = str(tmp_path / "ord")
    os.makedirs(path)
    versioned.commit_version(spark, path, _events(spark).limit(20))

    def boom(*a, **k):
        raise RuntimeError("simulated crash at publish")

    monkeypatch.setattr(versioned, "_publish_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        versioned.rename_column(spark, path, "value", "reading")
    assert versioned.current_version(path) == 1  # rename not live
    assert "value" in versioned._retired_cols(path)  # retired first
    monkeypatch.undo()

    # the early retirement is harmless: the retry completes, reads
    # serve the new name, and the old name stays blocked
    versioned.rename_column(spark, path, "value", "reading")
    assert versioned.current_version(path) == 2
    assert versioned.read_version(spark, path).select("reading").count() == 20
    with pytest.raises(ValueError, match="retired"):
        versioned.evolve_schema(spark, path, [("value", "double")])

    # same ordering for DROP
    monkeypatch.setattr(versioned, "_publish_manifest", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        versioned.drop_column(spark, path, "event_type")
    assert versioned.current_version(path) == 2
    assert "event_type" in versioned._retired_cols(path)
    monkeypatch.undo()
    versioned.drop_column(spark, path, "event_type")
    assert versioned.current_version(path) == 3


def test_conditional_put_loss_retries_cleanly(spark, tmp_path):
    """Object-store mapping made executable (VERDICT r14 task 7): the
    pointer swap is a pluggable CAS primitive. Install one that LOSES
    the first conditional put — a competing writer's no-op commit
    takes the contested version between our pointer read and our put,
    the store's precondition then rejects us (the S3/GCS 412 path) —
    and drive the documented OCC conflict loop through it: the losing
    attempt aborts before any shared-name mutation, the retry
    re-reads the competing snapshot and wins the next version, and
    every row (base + upsert) survives."""
    import time as _time

    path = str(tmp_path / "cas")
    os.makedirs(path)
    ev = _events(spark).limit(100)
    versioned.commit_version(spark, path, ev)  # v1

    class LoseFirstPut:
        """First swap: a competing commit lands (manifest object for
        the contested version + its winning conditional put), then our
        own put is refused — exactly what a real store's precondition
        failure looks like from the caller."""

        def __init__(self, inner):
            self.inner = inner
            self.armed = True

        def publish_lock(self, p):
            return self.inner.publish_lock(p)

        def swap(self, p, expected, new):
            if self.armed:
                self.armed = False
                m = versioned._manifest(p)
                competing = {
                    "version": new,
                    "files": m["files"],  # a no-op commit: carry v1
                    "schema": m["schema"],
                    "committed_at": _time.time(),
                    "meta": {"writer": "competing"},
                }
                versioned._atomic_json(
                    versioned._manifest_path(p, new), competing
                )
                self.inner.swap(p, expected, new)  # competitor wins
            return self.inner.swap(p, expected, new)

    prev_cas = versioned.set_pointer_cas(
        LoseFirstPut(versioned.LocalPointerCAS())
    )
    try:
        extra = ev.withColumn("event_id", F.col("event_id") + 1_000_000)
        for _ in range(3):  # the documented re-read-and-retry loop
            try:
                versioned.upsert_version(spark, path, extra, ["event_id"])
                break
            except versioned.ConcurrentCommitError:
                continue
        else:
            raise AssertionError("retry loop never won")
    finally:
        versioned.set_pointer_cas(prev_cas)

    assert versioned.current_version(path) == 3  # competing v2, ours v3
    assert versioned._manifest(path, 2)["meta"]["writer"] == "competing"
    assert versioned.read_version(spark, path).count() == 200
    # the losing attempt mutated nothing shared: time travel intact
    assert versioned.read_version(spark, path, 2).count() == 100
    assert versioned.read_version(spark, path, 1).count() == 100


def test_same_version_loser_cannot_clobber_published_manifest(
    spark, tmp_path
):
    """ADVICE r15 (medium): the version-named manifest write routes
    through the CAS object's put_if_absent, so in no-lock object-store
    mode a same-version loser whose competitor ALREADY published
    (manifest object + winning pointer put, both landing between the
    loser's monotonicity check and its manifest write) fails its
    conditional CREATE before touching the winner's manifest — the
    published version's content survives intact."""
    import json as _json

    import pytest
    from contextlib import nullcontext

    path = str(tmp_path / "casmf")
    os.makedirs(path)
    ev = _events(spark).limit(50)
    versioned.commit_version(spark, path, ev)  # v1

    local = versioned.LocalPointerCAS()

    class ObjectStoreCAS:
        """publish_lock degraded to a no-op (the documented mode);
        manifests are conditional creates. The first put is
        interleaved with a competitor's full same-version publish."""

        def __init__(self):
            self.armed = True

        def publish_lock(self, p):
            return nullcontext()

        def swap(self, p, expected, new):
            local.swap(p, expected, new)

        def put_if_absent(self, p, name, payload):
            target = os.path.join(p, name)
            if self.armed:
                self.armed = False
                v = int(name[len("manifest_v"):-len(".json")])
                competing = dict(payload)
                competing["meta"] = {"writer": "competing"}
                with open(target, "x") as fh:  # competitor's create
                    _json.dump(competing, fh)
                local.swap(p, v - 1, v)  # competitor's winning put
            try:
                with open(target, "x") as fh:
                    _json.dump(payload, fh)
            except FileExistsError:
                raise versioned.ConcurrentCommitError(
                    f"conditional create of {name} rejected "
                    f"(If-None-Match precondition failed)"
                )

    prev_cas = versioned.set_pointer_cas(ObjectStoreCAS())
    try:
        extra = ev.withColumn("event_id", F.col("event_id") + 1_000_000)
        with pytest.raises(versioned.ConcurrentCommitError):
            versioned.upsert_version(spark, path, extra, ["event_id"])
        # the winner's published manifest was never clobbered
        assert versioned.current_version(path) == 2
        assert versioned._manifest(path, 2)["meta"]["writer"] == "competing"
        # the documented re-read-and-retry loop then wins v3
        for _ in range(3):
            try:
                versioned.upsert_version(spark, path, extra, ["event_id"])
                break
            except versioned.ConcurrentCommitError:
                continue
        else:
            raise AssertionError("retry loop never won")
    finally:
        versioned.set_pointer_cas(prev_cas)

    assert versioned.current_version(path) == 3
    assert versioned._manifest(path, 2)["meta"]["writer"] == "competing"
    assert versioned.read_version(spark, path).count() == 100


def test_orphan_manifest_takeover_local(spark, tmp_path):
    """Crash-retry liveness under the local flock: a crashed attempt's
    orphan manifest (object present, pointer never advanced) must not
    wedge the version — under the lock no live competitor can be
    mid-publish, so LocalPointerCAS.put_if_absent takes the orphan
    over and the retry commits normally."""
    import json as _json

    path = str(tmp_path / "orphan")
    os.makedirs(path)
    ev = _events(spark).limit(40)
    versioned.commit_version(spark, path, ev)  # v1
    # simulate: a writer crashed after its manifest write, before swap
    with open(versioned._manifest_path(path, 2), "w") as fh:
        _json.dump({"version": 2, "files": [], "schema": [], "torn": 1}, fh)
    assert versioned.current_version(path) == 1
    versioned.commit_version(
        spark, path, ev.withColumn("value", F.col("value") * 2)
    )
    assert versioned.current_version(path) == 2
    m = versioned._manifest(path, 2)
    assert "torn" not in m and versioned.read_version(
        spark, path, 2
    ).count() == 40


def test_unretire_column_escape_hatch(spark, tmp_path, monkeypatch):
    """ADVICE r15 (low): a rename/drop whose publish ABORTS
    (ConcurrentCommitError, never retried) leaves its retirement
    sidecar as residue — the name is retired while the column stays
    live. unretire_column clears exactly that case (column still in
    the current schema), refuses the genuinely hazardous one (column
    gone: pre-DDL files physically carry it) without force=True, and
    is a no-op for never-retired names."""
    import pytest

    path = str(tmp_path / "unret")
    os.makedirs(path)
    versioned.commit_version(spark, path, _events(spark).limit(30))

    def lose(*a, **k):
        raise versioned.ConcurrentCommitError("simulated OCC loss")

    monkeypatch.setattr(versioned, "_publish_manifest", lose)
    with pytest.raises(versioned.ConcurrentCommitError):
        versioned.rename_column(spark, path, "value", "reading")
    monkeypatch.undo()
    # the residue: aborted DDL, name retired but column live
    assert versioned.current_version(path) == 1
    assert "value" in versioned._retired_cols(path)

    versioned.unretire_column(path, "value")
    assert "value" not in versioned._retired_cols(path)
    versioned.unretire_column(path, "never_retired")  # no-op

    # a COMPLETED drop: unretiring without force is the resurrection
    # hazard and must be refused; force clears it
    versioned.drop_column(spark, path, "event_type")
    with pytest.raises(ValueError, match="force=True"):
        versioned.unretire_column(path, "event_type")
    versioned.unretire_column(path, "event_type", force=True)
    assert "event_type" not in versioned._retired_cols(path)


def test_identity_hwm_survives_ddl_and_restore(spark, tmp_path):
    """The identity high-water mark is a TABLE PROPERTY, not commit
    meta (r15 audit): DDL, RESTORE, and maintenance commits write
    their own meta, and the old meta-riding mark vanished with them —
    the next append restarted at 0 and silently REUSED ids. The
    sidecar survives all of it, monotonic forever."""
    import pytest

    path = str(tmp_path / "idhwm")
    os.makedirs(path)
    ev = _events(spark).limit(90).select("event_id", "event_type", "value")

    first = versioned.assign_identity(
        ev.filter(F.col("event_id") % 2 == 0), "row_id", ["event_id"]
    )
    versioned.commit_version(spark, path, first)
    n1 = first.count()
    versioned.advance_identity(path, "row_id", n1)
    assert versioned.identity_high_water(path, "row_id") == n1

    # an intervening DDL commit (its own meta) must not reset the mark
    versioned.evolve_schema(spark, path, [("note", "string")])
    assert versioned.identity_high_water(path, "row_id") == n1

    hwm = versioned.identity_high_water(path, "row_id")
    second = versioned.assign_identity(
        ev.filter(F.col("event_id") % 2 == 1),
        "row_id",
        ["event_id"],
        start=hwm,
    ).withColumn("note", F.lit(None).cast("string"))
    versioned.commit_version(
        spark,
        path,
        versioned.read_version(spark, path).unionByName(second),
    )
    n2 = second.count()
    versioned.advance_identity(path, "row_id", hwm + n2)

    ids = [r.row_id for r in versioned.read_version(spark, path).collect()]
    assert sorted(ids) == list(range(n1 + n2))  # gap-free, no reuse

    # RESTORE to v1 rolls the data back but NEVER the mark: ids the
    # later commits assigned may live downstream already
    versioned.restore_version(spark, path, 1)
    assert versioned.identity_high_water(path, "row_id") == n1 + n2
    third_start = versioned.identity_high_water(path, "row_id")
    assert third_start == n1 + n2  # continues past everything assigned

    # regression refused
    with pytest.raises(ValueError, match="refusing"):
        versioned.advance_identity(path, "row_id", 3)

    # clone carries the property
    dst = str(tmp_path / "idclone")
    versioned.clone_table(spark, path, dst)
    assert versioned.identity_high_water(dst, "row_id") == n1 + n2


def test_restore_and_clone_validate_live_constraints(spark, tmp_path):
    """RESTORE (and CLONE of an older version) must not resurrect
    rows that violate a CHECK constraint added after the target
    version — the constraint was validated against a later snapshot,
    and serving pre-constraint rows under it means a constrained
    table violates its contract with no write ever having failed
    (r15 audit)."""
    import pytest

    path = str(tmp_path / "rc")
    os.makedirs(path)
    ev = _events(spark).limit(60).select("event_id", "event_type", "value")
    dirty = ev.withColumn(
        "value", F.when(F.col("event_id") % 5 == 0, -1.0).otherwise(F.col("value"))
    )
    versioned.commit_version(spark, path, dirty)  # v1: has negatives
    versioned.commit_version(
        spark, path, dirty.filter(F.col("value") >= 0)
    )  # v2: clean
    versioned.add_constraint(spark, path, "nonneg", "value >= 0")  # valid at v2

    with pytest.raises(versioned.ConstraintViolationError, match="resurrect"):
        versioned.restore_version(spark, path, 1)
    assert versioned.current_version(path) == 2  # nothing published

    # clone of the dirty version refuses; clone of current succeeds
    with pytest.raises(versioned.ConstraintViolationError, match="clone"):
        versioned.clone_table(spark, path, str(tmp_path / "c1"), version=1)
    versioned.clone_table(spark, path, str(tmp_path / "c2"))
    assert versioned.table_constraints(str(tmp_path / "c2")) == {
        "nonneg": "value >= 0"
    }

    # dropping the constraint unblocks the restore (documented path)
    versioned.drop_constraint(path, "nonneg")
    assert versioned.restore_version(spark, path, 1) == 3

    # a constraint referencing a column the target schema lacks also
    # refuses, with the drop-it-first message
    versioned.evolve_schema(spark, path, [("note", "string")])  # v4
    versioned.add_constraint(
        spark, path, "notelen", "note IS NULL OR length(note) < 99"
    )
    with pytest.raises(versioned.ConstraintViolationError, match="schema"):
        versioned.restore_version(spark, path, 3)


def test_rename_migrates_identity_high_water(spark, tmp_path):
    """Renaming the identity column must carry its high-water key —
    a stranded key reads as 0 under the new name and the next append
    would reuse assigned ids (r15 audit)."""
    path = str(tmp_path / "ri")
    os.makedirs(path)
    ev = _events(spark).limit(40).select("event_id", "value")
    tagged = versioned.assign_identity(ev, "row_id", ["event_id"])
    versioned.commit_version(spark, path, tagged)
    versioned.advance_identity(path, "row_id", 40)

    versioned.rename_column(spark, path, "row_id", "rid")
    assert versioned.identity_high_water(path, "rid") == 40
    assert versioned.identity_high_water(path, "row_id") == 0  # key moved


def test_two_process_identity_reservation_race(spark, tmp_path):
    """Two PROCESSES append identity-tagged batches concurrently with
    NO coordination beyond reserve_identity: the flock-held
    read-and-advance makes their ranges disjoint before either
    commits, the blind appends self-rebase, and the final table holds
    every row with globally UNIQUE, DENSE ids (no crash → no gap)."""
    import subprocess
    import sys
    import textwrap
    import time as _time

    path = str(tmp_path / "idrace")
    os.makedirs(path)
    start_flag = str(tmp_path / "go")

    worker = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession, functions as F
        from data_ingestion_pipeline_spark.operators import versioned as V

        proc, path, flag = sys.argv[1], sys.argv[2], sys.argv[3]
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false")
                 .appName("idrace-" + proc).getOrCreate())
        while not os.path.exists(flag):
            time.sleep(0.01)
        basev = 0 if proc == "a" else 1000
        for seq in range(5):
            rows = [(basev + seq * 10 + k,) for k in range(10)]
            df = spark.createDataFrame(rows, "marker bigint")
            start = V.reserve_identity(path, "rid", df.count())
            tagged = V.assign_identity(
                df, "rid", ["marker"], start=start
            ).withColumn("shard", (F.col("marker") % 2).cast("int"))
            V.append_version_clustered(spark, path, tagged, "shard")
        print("DONE", proc, flush=True)
        """
    ).format(root=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, p, path, start_flag],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        for p in ("a", "b")
    ]
    _time.sleep(1)
    open(start_flag, "w").close()
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs

    rows = versioned.read_version(spark, path).collect()
    assert len(rows) == 100  # 2 procs x 5 batches x 10 rows
    ids = sorted(r.rid for r in rows)
    assert ids == list(range(100))  # unique AND dense: no clash, no gap
    assert versioned.identity_high_water(path, "rid") == 100


def test_decimal_stats_index_is_exact(spark, tmp_path):
    """The min/max index on a decimal column: Spark stores
    decimal(10,2) as INT64 (pyarrow cannot extract that statistic) and
    decimal(20,2) as FIXED_LEN_BYTE_ARRAY (pyarrow returns Decimal).
    Both are decoded exactly and compare as numbers — not as strings,
    where "10.00" < "5" would prune both files."""
    from decimal import Decimal

    for width in (10, 20):
        path = str(tmp_path / f"dec{width}")
        os.makedirs(path)
        df = spark.createDataFrame(
            [(1, Decimal("9.50")), (2, Decimal("10.00"))],
            f"k int, d decimal({width},2)",
        )
        versioned.commit_version(
            spark, path, df.repartition(2, "k"), stats_cols=["d"]
        )
        full = versioned.read_version(spark, path)
        for lo, hi in (
            (Decimal("5"), Decimal("20")),
            (Decimal("9.75"), None),
            (None, Decimal("9.50")),
            (5, 9.6),
            (Decimal("10.01"), None),
        ):
            got = versioned.stats_lookup(spark, path, "d", lo, hi)
            want = full
            if lo is not None:
                want = want.filter(F.col("d") >= F.lit(lo))
            if hi is not None:
                want = want.filter(F.col("d") <= F.lit(hi))
            assert sorted(r.k for r in got.collect()) == sorted(
                r.k for r in want.collect()
            ), (width, lo, hi)
        # exact bounds prune: each file holds one value
        assert len(versioned.stats_candidate_files(
            spark, path, "d", Decimal("9.75"), None
        )) == 1


def _check_indexes_current(spark, path, op):
    """Both indexes on event_id sit at the table's version with no
    explicit build, and their lookups equal the filtered snapshot."""
    import json as _json

    cur = versioned.current_version(path)
    for pj in ("_STATS_event_id.json", "_BLOOM_event_id.json"):
        with open(os.path.join(path, pj)) as fh:
            assert _json.load(fh)["version"] == cur, (op, pj)
    snap = versioned.read_version(spark, path)
    got = versioned.stats_lookup(spark, path, "event_id", 100, 400)
    want = snap.filter(F.col("event_id").between(100, 400))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    ), op
    ids = [7, 123, 555, 901, 10_001]
    got = versioned.bloom_lookup(spark, path, "event_id", ids)
    want = snap.filter(F.col("event_id").isin(ids))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    ), op


def test_every_commit_path_refreshes_indexes(spark, tmp_path):
    """The publish hook keeps both index kinds current through every
    commit path: after each commit the pointers sit at the new
    version without an explicit build, and stats/bloom lookups equal
    the filtered snapshot."""
    import json as _json

    ev = _events(spark)
    path = str(tmp_path / "mor")
    os.makedirs(path)
    versioned.commit_version(
        spark, path, ev.filter(F.col("event_id") < 600).repartitionByRange(
            4, "event_id"
        ),
        stats_cols=["event_id"], bloom_cols=["event_id"],
    )
    src = ev.filter(F.col("event_id").between(550, 650)).withColumn(
        "value", F.col("value") + 1.0
    )
    ops = [
        ("compact_files", lambda: versioned.compact_files(spark, path)),
        ("merge_into_mor", lambda: versioned.merge_into_mor(
            spark, path, src, ["event_id"],
            when_matched=[("update", {"value": "s.value"}, None)],
            insert_not_matched=True, prune_on="event_id")),
        ("delete_rows_dv", lambda: versioned.delete_rows_dv(
            spark, path, F.col("event_id") % 7 == 0)),
        ("update_rows_mor", lambda: versioned.update_rows_mor(
            spark, path, "event_id < 200", {"value": "value * 2"})),
        ("append_version_clustered", lambda: versioned.append_version_clustered(
            spark, path, ev.filter(F.col("event_id") >= 900).repartition(2), None)),
        ("evolve_schema", lambda: versioned.evolve_schema(
            spark, path, [("note", "string")])),
    ]
    for op, run in ops:
        before = versioned.current_version(path)
        run()
        assert versioned.current_version(path) == before + 1, op
        _check_indexes_current(spark, path, op)
        if op == "compact_files":
            # a commit that removed files folds: one fresh base
            with open(os.path.join(path, "_STATS_event_id.json")) as fh:
                assert _json.load(fh)["segments"] == []

    cow = str(tmp_path / "cow")
    os.makedirs(cow)
    versioned.commit_version_partitioned(spark, cow, ev)
    versioned.build_column_stats(spark, cow, "event_id")
    versioned.build_bloom_index(spark, cow, "event_id")
    day2 = ev.filter(F.dayofmonth("ts") == 2)
    versioned.merge_into_cow(
        spark, cow, day2.withColumn("value", F.col("value") + 5.0),
        ["event_id"], when_matched=[("update", {"value": "s.value"}, None)],
    )
    _check_indexes_current(spark, cow, "merge_into_cow")


def test_stats_refresh_and_probe_run_no_spark_job(spark, tmp_path):
    """A one-file commit refreshes the min/max index with a segment
    read and written on the driver, and the probe that follows reads
    the sidecar parts on the driver: zero Spark jobs for both."""
    import json as _json
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nojob")
    os.makedirs(path)
    versioned.commit_version(
        spark, path,
        spark.range(100).selectExpr("id as k", "cast(id as string) as v")
        .repartitionByRange(2, "k"),
        stats_cols=["k"],
    )
    m = versioned._manifest(path)
    rel = os.path.join("data", "v2-onefile", "part-00000.parquet")
    os.makedirs(os.path.join(path, os.path.dirname(rel)))
    pq.write_table(
        pa.table({"k": pa.array([500], pa.int64()), "v": ["500"]}),
        os.path.join(path, rel),
    )
    sc = spark.sparkContext
    group = "stats-refresh-no-job"
    sc.setJobGroup(group, "one-file commit + stats probe")
    try:
        versioned._publish_manifest(
            path, 2,
            {**m, "version": 2, "files": sorted(m["files"] + [rel]),
             "committed_at": _time.time()},
            None, prev=m,
        )
        cand = versioned.stats_candidate_files(spark, path, "k", 450, 550)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert cand == [rel]
    with open(os.path.join(path, "_STATS_k.json")) as fh:
        idx = _json.load(fh)
    assert idx["version"] == 2 and len(idx["segments"]) == 1
    assert idx["harvested_files"] == 1 and idx["carried_files"] == 2
    assert [r.k for r in versioned.stats_lookup(spark, path, "k", 450, 550)
            .collect()] == [500]


def test_segments_fold_at_checkpoint_cadence(spark, tmp_path, monkeypatch):
    """Append-only commits grow the index by one segment each until
    the pointer lists CHECKPOINT_EVERY parts; the next refresh folds
    every part into one base, and the lookup stays exact throughout."""
    import json as _json

    monkeypatch.setattr(versioned, "CHECKPOINT_EVERY", 3)
    path = str(tmp_path / "fold")
    os.makedirs(path)
    schema = "k bigint, v string"
    versioned.commit_version(
        spark, path, spark.createDataFrame([(0, "a")], schema),
        stats_cols=["k"],
    )
    seen = []
    for i in range(1, 5):
        versioned.append_version_clustered(
            spark, path,
            spark.createDataFrame([(i * 10, "b")], schema).coalesce(1), None,
        )
        with open(os.path.join(path, "_STATS_k.json")) as fh:
            idx = _json.load(fh)
        assert idx["version"] == versioned.current_version(path)
        seen.append(len(idx["segments"]))
        got = versioned.stats_lookup(spark, path, "k", i * 10, i * 10)
        assert [r.k for r in got.collect()] == [i * 10]
    assert seen == [1, 2, 0, 1]


def test_vacuum_keeps_every_index_part(spark, tmp_path):
    """Three refreshes leave each pointer listing a base plus three
    segments: vacuum must keep all of them, and lookups after it
    return the same rows as before."""
    import json as _json

    path = str(tmp_path / "vac")
    os.makedirs(path)
    ev = _events(spark)
    versioned.commit_version(
        spark, path, ev.filter(F.col("event_id") < 500).repartition(2),
        stats_cols=["event_id"], bloom_cols=["event_id"],
    )
    for lo in (500, 700, 900):
        versioned.append_version_clustered(
            spark, path,
            ev.filter(F.col("event_id").between(lo, lo + 199)).coalesce(1),
            None,
        )

    def lookups():
        return (
            sorted(map(tuple, versioned.stats_lookup(
                spark, path, "event_id", 450, 950).collect())),
            sorted(map(tuple, versioned.bloom_lookup(
                spark, path, "event_id", [7, 555, 777, 901]).collect())),
        )

    before = lookups()
    versioned.vacuum(path, keep_from=versioned.current_version(path))
    for pj in ("_STATS_event_id.json", "_BLOOM_event_id.json"):
        with open(os.path.join(path, pj)) as fh:
            idx = _json.load(fh)
        assert len(idx["segments"]) == 3
        for part in versioned._index_parts(idx):
            assert os.path.isdir(os.path.join(path, part)), part
    assert lookups() == before
    assert before[0] and before[1]
