"""Column DDL and table properties: the guards every column DDL shares
(versioned._column_ddl) and the locked update every table property
write goes through (versioned._update_property)."""

from __future__ import annotations

import datetime as dt
import fcntl
import os
import threading

import pytest

from data_ingestion_pipeline_spark.operators import versioned as V


@pytest.mark.parametrize(
    "ddl",
    [
        lambda spark, p: V.evolve_schema(spark, p, [(V.PART_COL, "string")]),
        lambda spark, p: V.rename_column(spark, p, "v", V.PART_COL),
    ],
    ids=["evolve_schema", "rename_column"],
)
def test_ddl_refuses_the_day_layout_column_name(spark, tmp_path, ddl):
    """A day table's PART_COL is a directory column outside the
    schema; a schema column of that name would never be read (a
    renamed column's values would vanish from every read)."""
    path = str(tmp_path / "day")
    os.makedirs(path)
    rows = [(k, float(k), dt.datetime(2024, 1, 1 + k % 3, 12)) for k in range(12)]
    V.commit_version_partitioned(
        spark, path, spark.createDataFrame(rows, "k int, v double, ts timestamp")
    )
    with pytest.raises(ValueError, match="partition column"):
        ddl(spark, path)
    assert V.current_version(path) == 1
    got = V.read_version(spark, path)
    assert got.columns == ["k", "v", "ts"]
    assert sorted(r.v for r in got.collect()) == [float(k) for k in range(12)]


def test_concurrent_drops_both_retire(spark, tmp_path, monkeypatch):
    """Two DROP COLUMNs race: drop(b) runs while drop(a) is between
    reading the retired-name list and writing it. Whichever publish
    wins, both names must end up retired, so a dropped column can
    never be re-added and serve its pre-drop values. The interleaving
    is forced by events, not timing: drop(a) pauses at its retired-list
    write until drop(b) has either finished or blocked on the
    property lock."""
    path = str(tmp_path / "race")
    os.makedirs(path)
    V.commit_version(
        spark,
        path,
        spark.createDataFrame(
            [(k, k * 3, k * 3) for k in range(10)], "k int, a long, b long"
        ),
    )
    b_parked = threading.Event()  # drop(b) finished or waits on a lock
    errors: dict = {}

    def drop_b():
        try:
            V.drop_column(spark, path, "b")
        except Exception as e:  # noqa: BLE001 — inspected below
            errors["b"] = e
        finally:
            b_parked.set()

    b_thread = threading.Thread(target=drop_b, name="drop-b")
    real_flock = fcntl.flock

    def flock(fd, op):
        if op == fcntl.LOCK_EX and threading.current_thread() is b_thread:
            try:
                return real_flock(fd, op | fcntl.LOCK_NB)
            except BlockingIOError:
                b_parked.set()
        return real_flock(fd, op)

    real_write = V._atomic_json
    waited = []

    def write(file_path, obj):
        if (
            file_path.endswith(V.RETIRED_COLS_FILE)
            and threading.current_thread() is threading.main_thread()
            and not b_thread.is_alive()
            and not waited
        ):
            b_thread.start()
            waited.append(b_parked.wait(timeout=300))
        return real_write(file_path, obj)

    monkeypatch.setattr(fcntl, "flock", flock)
    monkeypatch.setattr(V, "_atomic_json", write)
    try:
        V.drop_column(spark, path, "a")
    except V.ConcurrentCommitError as e:
        errors["a"] = e
    b_thread.join(timeout=300)
    monkeypatch.undo()
    assert waited == [True] and not b_thread.is_alive()

    # exactly one drop published; the other lost the version race
    assert len(errors) == 1, errors
    assert isinstance(next(iter(errors.values())), V.ConcurrentCommitError)
    assert V.current_version(path) == 2
    assert sorted(V._retired_cols(path)) == ["a", "b"]
    dropped = "b" if "a" in errors else "a"
    assert dropped not in V.read_version(spark, path).columns
    with pytest.raises(ValueError, match="retired"):
        V.evolve_schema(spark, path, [(dropped, "long")])


def test_tag_version_refuses_versions_the_table_cannot_serve(spark, tmp_path):
    """A tag names a retained snapshot: a future version would name
    whatever later becomes it, and a vacuumed one cannot be read."""
    path = str(tmp_path / "tags")
    os.makedirs(path)
    df = spark.createDataFrame([(k,) for k in range(6)], "k int")
    V.commit_version(spark, path, df.limit(3))
    V.commit_version(spark, path, df)
    with pytest.raises(ValueError, match="not a version"):
        V.tag_version(path, "future", 99)
    with pytest.raises(ValueError, match="not a version"):
        V.tag_version(path, "zero", 0)
    V.vacuum(path, keep_from=2)
    with pytest.raises(ValueError, match="vacuumed"):
        V.tag_version(path, "gone", 1)
    assert V._read_property(path, V.TAGS_FILE, {}) == {}
    assert V.tag_version(path, "now", 2) == 2
    assert V.read_tag(spark, path, "now").count() == 6


def test_drop_constraint_names_a_missing_constraint(spark, tmp_path):
    path = str(tmp_path / "dc")
    os.makedirs(path)
    V.commit_version(spark, path, spark.createDataFrame([(1,)], "k int"))
    V.add_constraint(spark, path, "pos", "k > 0")
    with pytest.raises(ValueError, match="no such constraint 'nope'"):
        V.drop_constraint(path, "nope")
    assert V.table_constraints(path) == {"pos": "k > 0"}


def test_read_tag_names_an_unknown_tag(spark, tmp_path):
    path = str(tmp_path / "rt")
    os.makedirs(path)
    V.commit_version(spark, path, spark.createDataFrame([(1,)], "k int"))
    V.tag_version(path, "now")
    with pytest.raises(ValueError, match=r"no such tag 'nope'; tags: \['now'\]"):
        V.read_tag(spark, path, "nope")
    assert V.read_tag(spark, path, "now").count() == 1
