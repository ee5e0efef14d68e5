"""A table's layout is manifest metadata no commit may lose: every
commit builds its manifest from the snapshot it follows
(versioned._next_manifest), and one predicate (versioned._layout_col)
says how a snapshot is laid out."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import versioned as V

SCHEMA = "k int, ts timestamp, v double, cell int"


def _rows(keys):
    return [
        (k, dt.datetime(2024, 1, 1 + k % 4, 12), float(k), k % 3) for k in keys
    ]


def _create(spark, path, layout, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    if layout == "day":
        V.commit_version_partitioned(spark, path, df, ts_col="ts")
    elif layout == "clustered":
        V.commit_version_clustered(spark, path, df, "cell")
    else:
        V.commit_version(spark, path, df)


# layout → (what _layout_col reads, the recorded ts_col)
LAYOUTS = {
    "day": (V.PART_COL, "ts"),
    "clustered": ("cell", None),
    "unpartitioned": (None, None),
}


@pytest.mark.parametrize("layout", sorted(LAYOUTS))
def test_layout_survives_every_commit_path(spark, tmp_path, layout):
    """Run every commit kind that applies to the layout, and after
    each one check the layout, ts_col and the snapshot's rows against
    a reference kept in Python."""
    path = str(tmp_path / layout)
    os.makedirs(path)
    want_layout, want_ts = LAYOUTS[layout]
    # reference: k → [ts, value, cell]; the value column's name follows
    # the DDL steps, and a clustered table's reads omit its cluster column
    ref = {r[0]: list(r[1:]) for r in _rows(range(40))}
    _create(spark, path, layout, _rows(range(40)))
    state = {"val": "v", "extra": set()}

    def check(step):
        m = V._manifest(path)
        assert V._layout_col(m) == want_layout, step
        assert m.get("ts_col") == want_ts, step
        if want_layout is None:
            assert "partitions" not in m and "partition_col" not in m, step
        got = V.read_version(spark, path)
        want_cols = {"k", "ts", state["val"], *state["extra"]} | (
            set() if layout == "clustered" else {"cell"}
        )
        assert set(got.columns) == want_cols, (step, got.columns)
        rows = sorted((r.k, r.ts, r[state["val"]]) for r in got.collect())
        assert rows == sorted((k, t, v) for k, (t, v, _) in ref.items()), step

    V.evolve_schema(spark, path, [("note", "string")])
    state["extra"] = {"note"}
    check("evolve_schema")
    V.widen_column_type(spark, path, "k", "bigint")
    check("widen_column_type")
    V.rename_column(spark, path, "v", "val")
    state["val"] = "val"
    check("rename_column")
    V.drop_column(spark, path, "note")
    state["extra"] = set()
    check("drop_column")

    V.delete_rows_dv(spark, path, "k % 5 = 0")
    ref = {k: r for k, r in ref.items() if k % 5}
    check("delete_rows_dv")
    if layout == "unpartitioned":
        src = spark.createDataFrame(
            [(k, 100.0) for k in range(1, 4)], "k bigint, s double"
        )
        V.merge_into_mor(
            spark, path, src, ["k"], when_matched=[("update", {"val": "s.s"}, None)]
        )
        for k in range(1, 4):
            ref[k][1] = 100.0
        check("merge_into_mor")
    elif layout == "day":
        up = V.read_version(spark, path).filter("k < 4")
        up = up.withColumn("val", F.lit(100.0))
        V.upsert_version_cow(spark, path, up, ["k"])
        for k in range(1, 4):
            ref[k][1] = 100.0
        check("upsert_version_cow")
    assert V._manifest(path).get("dv")
    V.materialize_deletes(spark, path)
    assert not V._manifest(path).get("dv")
    check("materialize_deletes")
    V.compact_files(spark, path)
    check("compact_files")

    if want_layout:
        cutoff = "2024-01-02" if layout == "day" else "1"
        V.drop_partitions_before(spark, path, cutoff)
        if layout == "day":
            ref = {k: r for k, r in ref.items() if r[0].day >= 2}
        else:
            ref = {k: r for k, r in ref.items() if r[2] >= 1}
        check("drop_partitions_before")
    else:
        V.zorder_cluster_incremental(spark, path, ["k"])
        check("zorder_cluster_incremental")
        V.zorder_cluster(spark, path, ["val", "k"], target_files=2)
        check("zorder_cluster")

    before_append = V.current_version(path)
    saved = {k: list(r) for k, r in ref.items()}
    new = spark.createDataFrame(
        _rows(range(100, 106)), "k bigint, ts timestamp, val double, cell int"
    )
    if layout == "day":
        carried = list(V._manifest(path)["files"])
        V.commit_version_partitioned(spark, path, new, carried=carried)
    else:
        V.append_version_clustered(spark, path, new, want_layout)
    ref.update({r[0]: list(r[1:]) for r in _rows(range(100, 106))})
    check("append")

    V.restore_version(spark, path, before_append)
    ref = saved
    check("restore_version")


def test_materialize_keeps_day_layout_so_cow_upsert_stays_unique(spark, tmp_path):
    """materialize_deletes once rewrote a day-partitioned table
    unpartitioned; the next upsert_version_cow then carried every file
    and returned both the old and the new row for the upserted key.
    The rewrite keeps the day layout now, and the COW writers refuse a
    snapshot that is not day-partitioned."""
    path = str(tmp_path / "mat")
    os.makedirs(path)
    rows = [(k, dt.datetime(2024, 1, 1 + k % 3, 12), float(k)) for k in range(9)]
    schema = "k int, ts timestamp, v double"
    V.commit_version_partitioned(spark, path, spark.createDataFrame(rows, schema))
    V.delete_rows_dv(spark, path, "k = 0")
    V.materialize_deletes(spark, path)
    up = spark.createDataFrame([(4, rows[4][1], 100.0)], schema)
    V.upsert_version_cow(spark, path, up, ["k"])
    got = sorted(
        (r.k, r.v) for r in V.read_version(spark, path).filter("k = 4").collect()
    )
    assert got == [(4, 100.0)]
    assert V.read_version(spark, path).count() == 8
    m = V._manifest(path, 3)  # the materialized snapshot
    assert m.get("partitions") and m.get("ts_col") == "ts"

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    V.commit_version(spark, flat, spark.createDataFrame(rows, schema))
    with pytest.raises(ValueError, match="day-partitioned"):
        V.upsert_version_cow(spark, flat, up, ["k"])


def test_retention_keeps_cluster_column(spark, tmp_path):
    """drop_partitions_before on a clustered table once dropped
    partition_col, so the cluster column came back in reads as an
    all-NULL column."""
    path = str(tmp_path / "ret")
    os.makedirs(path)
    df = spark.createDataFrame([(k, k % 3) for k in range(12)], "k int, cell int")
    V.commit_version_clustered(spark, path, df, "cell")
    assert V.read_version(spark, path).columns == ["k"]
    V.drop_partitions_before(spark, path, "1")
    got = V.read_version(spark, path)
    assert got.columns == ["k"]
    assert sorted(r.k for r in got.collect()) == [k for k in range(12) if k % 3]
    assert V._manifest(path).get("partition_col") == "cell"


@pytest.mark.parametrize("op", ["compact_files", "zorder_incremental", "drop_ts"])
def test_append_without_layout_column_is_unpartitioned(spark, tmp_path, op):
    """append_version_clustered(partition_col=None) once wrote
    `partitions: {f: null}` and `partition_col: null` — the shape of
    every near-dup index table. Compaction then saw no partition to
    pack and did nothing, incremental z-order refused the table as
    partitioned, and drop_column refused a timestamp column as the
    day-partition column. Such an append now writes neither key."""
    path = str(tmp_path / op)
    os.makedirs(path)
    for i in range(4):
        rows = [(i * 10 + j, dt.datetime(2024, 1, 1, j)) for j in range(5)]
        V.append_version_clustered(
            spark, path,
            spark.createDataFrame(rows, "k int, ts timestamp").coalesce(1),
            None,
        )
    m = V._manifest(path)
    want = sorted(i * 10 + j for i in range(4) for j in range(5))
    if op == "compact_files":
        stats = V.compact_files(spark, path)
        assert stats["files_in"] == 4 and stats["files_out"] == 1
    elif op == "zorder_incremental":
        V.zorder_cluster_incremental(spark, path, ["k"])
        assert V.manifest_meta(path)["zorder_by"] == ["k"]
    else:
        V.drop_column(spark, path, "ts")
        assert V.read_version(spark, path).columns == ["k"]
    assert sorted(r.k for r in V.read_version(spark, path).collect()) == want
    assert "partitions" not in m and "partition_col" not in m


@pytest.mark.parametrize("layout", ["day", "clustered"])
def test_zorder_refuses_partitioned_layouts(spark, tmp_path, layout):
    """A full zorder_cluster once rewrote a partitioned table as an
    unpartitioned one: the layout column, ts_col and every partition
    tag were gone from the manifest. Both z-order passes now refuse a
    partitioned layout and commit nothing."""
    path = str(tmp_path / layout)
    os.makedirs(path)
    _create(spark, path, layout, _rows(range(12)))
    for zorder in (V.zorder_cluster, V.zorder_cluster_incremental):
        with pytest.raises(ValueError, match="unpartitioned"):
            zorder(spark, path, ["k"])
    m = V._manifest(path)
    assert m["version"] == 1
    assert (V._layout_col(m), m.get("ts_col")) == LAYOUTS[layout]
