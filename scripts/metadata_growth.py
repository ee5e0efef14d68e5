"""Empirical growth check for the versioned-format METADATA path.

GROWTH_CURVE.json's candidate-generation rows pin the data-path
operators; this harness pins the claims BASELINE.md makes about the
table format itself — "the sidecar/delta-log structure holds at
10⁵-10⁶ files" — by measuring, against synthetic tables of 10² → 10³
→ 10⁴ one-row files (generated once, cached under .growth_fixture/):

  stats_full      build_column_stats from scratch   (alpha ≈ 1: one
                  footer read per file, distributed)
  stats_incr      append_version_clustered of K_APPEND rows to the
                  indexed snapshot: its publish refreshes the index
                  with one segment of the appended files' footer rows,
                  read and written on the driver (alpha ≈ 0: the work
                  is O(K_APPEND), and no prior row is re-read)
  stats_probe     stats_candidate_files range probe  (alpha ≈ 1 upper
                  bound: a driver-side pyarrow read of the sidecar
                  parts and a vectorized overlap test)
  resolve_chain   _resolve_chain driver-side manifest materialization
                  (alpha ≈ 1: the checkpoint parquet read is O(files))

alpha = log(t_big/t_small) / log(files_big/files_small), fitted per
segment exactly as growth_curve.py does. Gates: alpha < 1.3 for the
O(files) paths (linear + fixed overhead), alpha < 0.5 for the
incremental build (its work is O(K_APPEND + sidecar), not O(files)).
Fixed Spark job overhead dominates the 10² point, which DEFLATES
alphas on the first segment; the 10³→10⁴ segment is the honest one.

Results merge into GROWTH_CURVE.json under "metadata_path" (the
candidate-generation "ops" block is left untouched; growth_curve.py
symmetrically preserves "metadata_path").

Usage: python scripts/metadata_growth.py   (~3-5 min, local[32])
"""

from __future__ import annotations

import json
import math
import os
import pathlib
import shutil
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from data_ingestion_pipeline_spark.operators import versioned  # noqa: E402
from data_ingestion_pipeline_spark.session import get_spark  # noqa: E402

SIZES = [100, 1000, 10000]
K_APPEND = 10
LINEAR_GATE = 1.3
INCR_GATE = 0.5
FIXTURE_VERSION = "v1"  # bump to regenerate the cached tables


def _fixture_root() -> pathlib.Path:
    return (
        pathlib.Path(__file__).resolve().parents[1]
        / ".growth_fixture"
        / f"meta_{FIXTURE_VERSION}"
    )


def ensure_table(spark, n_files: int) -> str:
    """A committed versioned table of exactly n_files one-row parquet
    files, event_id range-clustered so every footer carries a distinct
    [min, max] — the many-file manifest shape a streaming sink
    produces before compaction. Cached across runs."""
    path = _fixture_root() / f"files_{n_files}"
    done = path / "_FIXTURE_DONE"
    if done.is_file():
        return str(path)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    df = (
        spark.range(n_files)
        .select(
            F.col("id").cast("bigint").alias("event_id"),
            (F.col("id") * 7 % 100).cast("double").alias("value"),
        )
        .repartitionByRange(n_files, "event_id")
    )
    versioned.commit_version(spark, str(path), df)
    got = len(versioned._manifest(str(path))["files"])
    assert got == n_files, (got, n_files)
    done.write_text("ok")
    return str(path)


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("metadata-growth", cpus=cpus)

    # warmup: JVM boot + python workers off the first measured point
    w = ensure_table(spark, SIZES[0])
    try:
        os.remove(versioned._pointer_path(w, "stats", "event_id"))
    except FileNotFoundError:
        pass
    versioned.build_column_stats(spark, w, "event_id")

    metrics: dict[str, list[float]] = {
        "stats_full": [],
        "stats_incr": [],
        "stats_probe": [],
        "resolve_chain": [],
    }
    for n in SIZES:
        path = ensure_table(spark, n)
        # reset to the base snapshot state: drop any prior index and
        # appended versions from an earlier run by regenerating when
        # the table moved past v1
        if versioned.current_version(path) != 1:
            shutil.rmtree(path, ignore_errors=True)
            path = ensure_table(spark, n)
        pointer = versioned._pointer_path(path, "stats", "event_id")
        try:
            os.remove(pointer)
        except FileNotFoundError:
            pass

        t0 = time.perf_counter()
        idx = versioned.build_column_stats(spark, path, "event_id")
        metrics["stats_full"].append(round(time.perf_counter() - t0, 2))
        assert idx["harvested_files"] == n

        extra = spark.range(K_APPEND).select(
            (F.col("id") + 10_000_000).alias("event_id"),
            F.lit(0.0).alias("value"),
            F.lit("x").alias("pcol"),
        )
        # the refresh runs inside the append's publish
        t0 = time.perf_counter()
        versioned.append_version_clustered(spark, path, extra, "pcol")
        metrics["stats_incr"].append(round(time.perf_counter() - t0, 2))
        with open(pointer) as fh:
            idx = json.load(fh)
        assert idx["version"] == versioned.current_version(path)
        assert idx["harvested_files"] <= K_APPEND + 2  # appended files only
        assert idx["carried_files"] == n

        t0 = time.perf_counter()
        cand = versioned.stats_candidate_files(
            spark, path, "event_id", n // 2, n // 2 + max(n // 100, 1)
        )
        metrics["stats_probe"].append(round(time.perf_counter() - t0, 2))
        assert 0 < len(cand) < n  # pruning actually happened

        t0 = time.perf_counter()
        m, _ = versioned._resolve_chain(path, versioned.current_version(path))
        metrics["resolve_chain"].append(round(time.perf_counter() - t0, 3))
        assert len(m["files"]) == n + idx["harvested_files"]

        print(
            f"n_files={n}: "
            + " ".join(f"{k}={v[-1]}s" for k, v in metrics.items()),
            flush=True,
        )

    out, failed = {}, []
    for name, times in metrics.items():
        gate = INCR_GATE if name == "stats_incr" else LINEAR_GATE
        alphas = [
            round(
                math.log(max(times[i], 1e-3) / max(times[i - 1], 1e-3))
                / math.log(SIZES[i] / SIZES[i - 1]),
                3,
            )
            for i in range(1, len(SIZES))
        ]
        # fixed overhead deflates the first segment; gate the LAST
        # segment (10³→10⁴), report both
        ok = alphas[-1] < gate
        out[name] = {
            "files": SIZES,
            "sec": times,
            "alpha_time": alphas,
            "gate": gate,
            "ok": ok,
        }
        print(f"{name}: sec={times} alpha={alphas} {'OK' if ok else 'BREACH'}")
        if not ok:
            failed.append(name)

    root = pathlib.Path(__file__).resolve().parents[1]
    gc_path = root / "GROWTH_CURVE.json"
    doc = json.loads(gc_path.read_text()) if gc_path.is_file() else {}
    doc["metadata_path"] = {
        "sizes": SIZES,
        "k_append": K_APPEND,
        "segments": [f"{SIZES[i-1]}->{SIZES[i]}" for i in range(1, len(SIZES))],
        "ops": out,
    }
    gc_path.write_text(json.dumps(doc, indent=1))
    spark.stop()
    if failed:
        print(f"METADATA GROWTH GATE BREACH: {failed}")
        sys.exit(1)
    print("metadata path within gates (last-segment alpha)")


if __name__ == "__main__":
    main()
