"""The two workloads: set-up, timed operations, output check, metrics.

Each workload calls the package's public functions only, on inputs the
generators wrote. ``setup`` builds the program-side initial state in a
fresh directory; the run repeats it and keeps the last copy. After the
first set-up, ``warm_up`` runs the timed operations once on that
throwaway copy, so the timed phase pays no first-call costs.
``run_timed`` runs the operations; ``check`` compares every recorded
output with the generator's answer. An operation that raises is a
failed operation, and so is an output that fails its check.

``e2e`` returns the workload's figures by the names perfbench/README.md
defines, the end-to-end metrics among them. ``layers`` returns its
per-layer metrics; ``prefixes`` names the layers the workload
exercises.
"""

from __future__ import annotations

import calendar
import math
import os
import shutil
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import EventLog, Tracer, median, pct


class Workload:
    name = ""
    prefixes: tuple[str, ...] = ()
    setup_reps = 2

    def __init__(self, work: str, seed: int, seconds: float) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attach(self, spark, tracer: Tracer) -> None:
        """Bind the session; inputs are generated before it exists."""
        self.spark = spark
        self.tracer = tracer

    def warm_up(self) -> None:
        pass

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(what)


def _files_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _tree_parquet(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")]


def _manifest_files(path: str) -> list[str]:
    from data_ingestion_pipeline_spark.operators import versioned as V

    m = V._manifest(path)
    dead = set(m.get("dv", {}).get("dead_files", []))
    return [os.path.join(path, f) for f in m["files"] if f not in dead]


# ---------------------------------------------------------------- ingest


class Ingest(Workload):
    """A feed backlog drained by one ``run_dedup_ingest`` call (one file
    per trigger) into the day-partitioned upsert table.

    Each set-up drains the first file into a fresh table. The timed
    phase puts the rest of the backlog in place and drains it in one
    call, the reference's consumer path: batch latencies come from the
    stream listener, rows/s from the drain's wall time.
    """

    name = "ingest"
    prefixes = ("streaming", "upsert")
    rows_per_file = 4000
    # backlog files per second of --seconds: one micro-batch takes about
    # 1.7 s on 4 cores, so the drain lasts about --seconds
    files_per_second = 0.6

    def generate(self) -> None:
        self.n_files = 1 + max(4, round(self.seconds * self.files_per_second))
        self.g = gen.gen_ingest(self.seed, os.path.join(self.work, "staging"), self.n_files, self.rows_per_file)
        self.feed = os.path.join(self.work, "feed")
        os.makedirs(self.feed)
        self.next_file = 0
        self.mtime0 = int(time.time()) - 100_000
        self._arrive(1)

    def _arrive(self, n: int) -> list[str]:
        """Move the next n backlog files into the feed directory, with
        strictly increasing mtimes so the stream replays them in order."""
        moved = []
        for p in self.g["files"][self.next_file : self.next_file + n]:
            dst = os.path.join(self.feed, os.path.basename(p))
            shutil.move(p, dst)
            t = self.mtime0 + self.next_file
            os.utime(dst, (t, t))
            self.next_file += 1
            moved.append(dst)
        return moved

    def attach(self, spark, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        super().attach(spark, tracer)

        class Progress(StreamingQueryListener):
            def __init__(self) -> None:
                self.batches: list[dict] = []
                self.terminated = threading.Event()

            def onQueryStarted(self, event) -> None:  # noqa: N802
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                p = event.progress
                if p.numInputRows > 0:
                    so = p.stateOperators[0] if p.stateOperators else None
                    self.batches.append(
                        {
                            "rows": p.numInputRows,
                            "ms": dict(p.durationMs),
                            "state_rows": so.numRowsTotal if so else 0,
                            "state_bytes": so.memoryUsedBytes if so else 0,
                        }
                    )

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                self.terminated.set()

        self.progress = Progress()
        spark.streams.addListener(self.progress)

    def _drain(self) -> dict:
        from data_ingestion_pipeline_spark.streaming.pipeline import run_dedup_ingest

        self.progress.terminated.clear()
        with self.tracer.span("streaming", "run_dedup_ingest") as s:
            s["stream"] = True
            stats = run_dedup_ingest(self.spark, self.feed, self.table, self.ckpt, max_files_per_trigger=1)
        self.progress.terminated.wait(timeout=30)
        return stats

    def setup(self, rep: int) -> None:
        self.table = os.path.join(self.work, f"table{rep}")
        self.ckpt = os.path.join(self.work, f"ckpt{rep}")
        self._drain()

    def run_timed(self, seconds: float) -> None:
        moved = self._arrive(self.n_files)
        self.timed_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in moved)
        self.timed_bytes = _files_bytes(moved)
        self.progress.batches.clear()
        self.t_start = time.time()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.stats = self._drain()
        except Exception as e:  # counted as a failed operation
            self.stats = {"messages_processed": 0, "rows_persisted": 0}
            self.fail(f"drain: {type(e).__name__}: {e}"[:300])
        self.elapsed = time.perf_counter() - t0

    def check(self) -> None:
        self.spark.streams.removeListener(self.progress)
        from data_ingestion_pipeline_spark.operators.upsert import read_table

        self.attempted += 1
        got = (
            read_table(self.spark, self.table)
            .selectExpr("event_id", "unix_micros(ts) AS ts", "user_id", "event_type", "value")
            .toPandas()
        )
        exp = self.g["prefix"][self.next_file - 1]
        if len(got) != exp["distinct"] or gen.row_hash(gen._canon_events(got)) != exp["hash"]:
            self.fail(f"drained table: {len(got)} rows, expected {exp['distinct']} (or content differs)")
        if len(self.progress.batches) != self.n_files - 1:
            self.fail(f"{len(self.progress.batches)} micro-batches for {self.n_files - 1} backlog files")
        self.live_rows = len(got)

    def e2e(self) -> dict:
        lat = [b["ms"]["triggerExecution"] / 1000.0 for b in self.progress.batches]
        return {
            "rows_per_s": (self.timed_rows / self.elapsed, "rows/s"),
            "batch_p50_s": (median(lat), "s"),
            "batch_p90_s": (pct(lat, 90), "s"),
            "stored_bytes_per_row": (_files_bytes(_tree_parquet(self.table)) / max(1, self.live_rows), "B/row"),
            "batches": (len(lat), "count"),
        }

    def layers(self, log: EventLog | None) -> dict:
        bs = self.progress.batches
        n = max(1, len(bs))

        def ms(*keys):
            return sum(b["ms"].get(k, 0) for b in bs for k in keys) / 1000.0

        parts = [d for d in os.listdir(self.table) if d.startswith("p_date=")]
        messages = self.stats["messages_processed"]
        out = {
            "streaming.batches": len(bs),
            "streaming.offsets_s": ms("latestOffset", "getBatch"),
            "streaming.planning_s": ms("queryPlanning"),
            "streaming.sink_s": ms("addBatch"),
            "streaming.log_s": ms("walCommit", "commitOffsets"),
            "streaming.state_rows": bs[-1]["state_rows"] if bs else 0,
            "streaming.state_bytes": bs[-1]["state_bytes"] if bs else 0,
            "streaming.dup_dropped_share": (messages - self.stats["rows_persisted"]) / max(1, messages),
            "upsert.files_per_partition": len(_tree_parquet(self.table)) / max(1, len(parts)),
        }
        if log is not None:
            jobs = log.jobs_of(lambda j: j["batch"] is not None and j["start"] >= self.t_start)
            w = log.writes_of(jobs)
            out.update(
                {
                    "streaming.jobs_per_batch": len(jobs) / n,
                    "streaming.tasks_per_batch": sum(j["tasks"] for j in jobs) / n,
                    "upsert.partitions_per_batch": w["parts"] / n,
                    "upsert.files_written_per_batch": w["files"] / n,
                    "upsert.bytes_written_per_input_byte": w["bytes"] / max(1, self.timed_bytes),
                }
            )
        return out


# ----------------------------------------------------------------- serve


def _us(dt) -> int:
    return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond


def _iso(us: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(us // 1_000_000))


def _same(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


class Serve(Workload):
    """Closed loop: 2 client threads over ``QueryAPI(cache=True)``."""

    name = "serve"
    prefixes = ("api", "queries", "result_cache")
    n_rows, n_requests, clients = 200_000, 1000, 2

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        self.g = gen.gen_serve(self.seed, self.sf_dir, self.n_rows, self.n_requests)

    def _cache_root(self) -> str:
        from data_ingestion_pipeline_spark.operators.upsert import scratch_path

        return scratch_path("result_cache")

    def _call(self, req: tuple):
        kind = req[0]
        if kind == "raw":
            return self.api.raw(req[1], _iso(req[2]), _iso(req[3]), limit=req[4], offset=req[5])
        if kind == "aggregate":
            return self.api.aggregate(req[1], _iso(req[2]), _iso(req[3]))
        if kind == "timeseries":
            return self.api.timeseries(req[1], _iso(req[2]), _iso(req[3]), req[4])
        return self.api.latest()

    @staticmethod
    def _rows(kind: str, rows) -> list[tuple]:
        if kind == "raw":
            return [(r.event_id, _us(r.ts), r.user_id, r.event_type, r.value) for r in rows]
        if kind == "aggregate":
            return [(r.user_id, r.avg_value, r.min_value, r.max_value, r.reading_count) for r in rows]
        if kind == "timeseries":
            return [(_us(r.bucket), r.avg_value, r.reading_count) for r in rows]
        return sorted((r.user_id, r.event_id, _us(r.ts), r.event_type, r.value) for r in rows)

    def setup(self, rep: int) -> None:
        """A fresh facade over an empty cache. The cache root is fixed
        by the package and its TTL outlives a run, so it is cleared
        here: a run must not start with hits left by the warm-up or by
        an earlier run."""
        from data_ingestion_pipeline_spark.api import QueryAPI

        shutil.rmtree(self._cache_root(), ignore_errors=True)
        self.api = QueryAPI(self.spark, self.sf_dir, cache=True)

    def warm_up(self) -> None:
        """One request of each kind, on tuples the schedule never uses;
        the repeated ``latest`` runs the hit path too."""
        lo, hi = gen.EPOCH_US, gen.EPOCH_US + gen.DAY_US
        for req in (("raw", -1, lo, hi, 10, 0), ("aggregate", -1, lo, hi),
                    ("timeseries", -1, lo, hi, "1 hour"), ("latest",), ("latest",)):
            self._call(req).collect()

    def run_timed(self, seconds: float) -> None:
        from pyspark import InheritableThread

        self.records: list[dict] = []
        lock = threading.Lock()
        tuple_locks: dict[tuple, threading.Lock] = {}
        completed: set[tuple] = set()
        state = {"next": 0}
        t0 = time.perf_counter()

        def client() -> None:
            while True:
                with lock:
                    i = state["next"]
                    if i >= len(self.g["requests"]) or time.perf_counter() - t0 >= seconds:
                        return
                    state["next"] += 1
                    req = self.g["requests"][i]
                    tl = tuple_locks.setdefault(req, threading.Lock())
                # one request per parameter tuple at a time: the cache
                # has no single-flight, and two writers of one entry race
                with tl:
                    rec = {"i": i, "req": req, "hit": req in completed}
                    try:
                        with self.tracer.span("api", req[0], req=i):
                            a = time.perf_counter()
                            df = self._call(req)
                            b = time.perf_counter()
                            rows = df.collect()
                            c = time.perf_counter()
                        rec.update(build=b - a, fetch=c - b, lat=c - a, rows=self._rows(req[0], rows))
                        with lock:
                            completed.add(req)
                    except Exception as e:  # counted as a failed request
                        rec["error"] = f"{type(e).__name__}: {e}"[:300]
                    with lock:
                        self.records.append(rec)

        threads = [InheritableThread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.n_entries_expected = len(completed)
        self.elapsed = time.perf_counter() - t0

    def check(self) -> None:
        ev = self.g["events"]
        expected: dict[tuple, list] = {}
        for rec in self.records:
            self.attempted += 1
            if "error" in rec:
                self.fail(f"request {rec['i']} {rec['req']}: {rec['error']}")
                continue
            req = rec["req"]
            if req not in expected:
                expected[req] = gen.serve_expected(ev, req)
            if not _same(rec["rows"], expected[req]):
                self.fail(f"request {rec['i']} {req}: {len(rec['rows'])} rows differ from expected {len(expected[req])}")
        # hits are known from the request history; the cache must hold
        # exactly one entry per distinct tuple served
        self.attempted += 1
        root = self._cache_root()
        self.entries = [d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))] if os.path.isdir(root) else []
        if len(self.entries) != self.n_entries_expected:
            self.fail(f"cache holds {len(self.entries)} entries for {self.n_entries_expected} distinct requests")

    def _ok(self):
        return [r for r in self.records if "error" not in r]

    def e2e(self) -> dict:
        lat = [r["lat"] for r in self._ok()]
        return {
            "query_p50_s": (median(lat), "s"),
            "query_p90_s": (pct(lat, 90), "s"),
            "queries_per_s": (len(lat) / self.elapsed, "req/s"),
            "requests": (len(lat), "count"),
        }

    def layers(self, log: EventLog | None) -> dict:
        ok = self._ok()
        out = {f"api.{k}_p50_s": median([r["lat"] for r in ok if r["req"][0] == k])
               for k in ("raw", "aggregate", "timeseries", "latest")}
        hits = [r["lat"] for r in ok if r["hit"]]
        misses = [r["lat"] for r in ok if not r["hit"]]
        root = self._cache_root()
        out.update(
            {
                "api.build_p50_s": median([r["build"] for r in ok]),
                "api.fetch_p50_s": median([r["fetch"] for r in ok]),
                "result_cache.hit_share": len(hits) / max(1, len(ok)),
                "result_cache.hit_p50_s": median(hits),
                "result_cache.miss_p50_s": median(misses),
                "result_cache.bytes_written": _files_bytes(_tree_parquet(root)) if os.path.isdir(root) else 0,
            }
        )
        if log is not None:
            groups = {f"perfbench-{s['id']}" for s in self.tracer.spans if s["layer"] == "api" and s["req"] is not None}
            jobs = log.jobs_of(lambda j: j["group"] in groups)
            out["queries.jobs_per_request"] = len(jobs) / max(1, len(ok))
            out["queries.tasks_per_request"] = sum(j["tasks"] for j in jobs) / max(1, len(ok))
        return out


class IngestServe:
    """The reference's service in one session: the consumer drains a
    feed backlog into the upsert table (``Ingest``), then two API
    clients query a separate events file through the result cache
    (``Serve``). Each part gets half of the run's seconds. The serve
    part reads its own file, not the ingested table, so a change to the
    write path leaves its data and plans as they were.
    """

    name = "ingest_serve"
    prefixes = Ingest.prefixes + Serve.prefixes
    setup_reps = 2

    def __init__(self, work: str, seed: int, seconds: float) -> None:
        self.ingest = Ingest(os.path.join(work, "ingest"), seed, seconds / 2)
        self.serve = Serve(os.path.join(work, "serve"), seed, seconds / 2)
        self.parts = (self.ingest, self.serve)

    attempted = property(lambda self: sum(p.attempted for p in self.parts))
    failed = property(lambda self: sum(p.failed for p in self.parts))
    errors = property(lambda self: [e for p in self.parts for e in p.errors])

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def attach(self, spark, tracer: Tracer) -> None:
        for p in self.parts:
            p.attach(spark, tracer)

    def setup(self, rep: int) -> None:
        for p in self.parts:
            p.setup(rep)

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def run_timed(self, seconds: float) -> None:
        self.ingest.run_timed(seconds / 2)
        self.serve.run_timed(seconds / 2)

    def check(self) -> None:
        for p in self.parts:
            p.check()

    def e2e(self) -> dict:
        return {**self.ingest.e2e(), **self.serve.e2e()}

    def layers(self, log: EventLog | None) -> dict:
        return {**self.ingest.layers(log), **self.serve.layers(log)}


# ----------------------------------------------------------- merge_dedup


class MergeDedup(Workload):
    """A CDC table and two near-duplicate indexes, all on the versioned
    store, in one session.

    One cycle: merge a CDC batch into the versioned table with
    ``merge_into_mor`` and read it four ways (point lookup, range
    lookup, snapshot aggregate, time travel); then probe one crawl batch
    against the MinHash and embedding indexes and append it to both.
    After the timed cycles, one ``materialize_deletes`` +
    ``compact_files`` maintenance pass runs and is timed on its own.
    """

    name = "merge_dedup"
    prefixes = ("versioned", "dedup", "similarity")
    setup_reps = 3
    n_rows, batch_rows = 20_000, 400
    n_initial, batch_docs = 1000, 200
    # cycles per second of --seconds: a cycle takes 8-15 s on 4 cores.
    # The count is fixed before the run, so a fast and a slow host run
    # the same cycles (a time-bound loop would run one or two).
    cycles_per_second = 1 / 12

    def generate(self) -> None:
        self.n_cycles = max(1, round(self.seconds * self.cycles_per_second))
        self.tm = gen.gen_table_merge(self.seed, self.n_rows, self.n_cycles, self.batch_rows)
        self.cr = gen.gen_crawl(self.seed, self.n_initial, self.n_cycles, self.batch_docs)
        d = os.path.join(self.work, "in")
        os.makedirs(d)
        self.base_path = os.path.join(d, "base.parquet")
        pq.write_table(pa.Table.from_pandas(self.tm["base"], preserve_index=False), self.base_path)
        self.batch_paths = []
        for i, b in enumerate(self.tm["batches"]):
            p = os.path.join(d, f"cdc-{i:04d}.parquet")
            pq.write_table(pa.Table.from_pandas(b, preserve_index=False), p)
            self.batch_paths.append(p)
        self.crawl_paths = []
        docs, vecs = self.cr["docs"], self.cr["vecs"]
        for b, (lo, hi) in enumerate(self.cr["bounds"]):
            dp, ep = os.path.join(d, f"docs-{b:04d}.parquet"), os.path.join(d, f"emb-{b:04d}.parquet")
            pq.write_table(pa.Table.from_pandas(docs.iloc[lo:hi], preserve_index=False), dp)
            emb = pa.table({
                "vec_id": pa.array(np.arange(lo + 1, hi + 1, dtype=np.int64)),
                "embedding": pa.array(list(vecs[lo:hi]), pa.list_(pa.float32())),
            })
            pq.write_table(emb, ep)
            self.crawl_paths.append((dp, ep))

    def setup(self, rep) -> None:
        """A fresh versioned table at the initial state."""
        from data_ingestion_pipeline_spark.operators import versioned as V

        self.path = os.path.join(self.work, f"table{rep}")
        with self.tracer.span("versioned", "commit_version"):
            v = V.commit_version(self.spark, self.path, self.spark.read.parquet(self.base_path), stats_cols=["k"])
        self.vmap = {v: 0}
        self._reset()

    def warm_up(self) -> None:
        """Index the initial corpus, once: it is set-up too, but nothing
        before the timed phase changes the indexes, so one copy serves.
        Then one merge with its four reads, on the throwaway table of
        the first set-up. The probes get no warm-up of their own: that
        would cost most of a cycle per run, and the appends already ran
        the code they share."""
        from data_ingestion_pipeline_spark.operators import dedup, similarity

        self.mpath = os.path.join(self.work, "minhash")
        self.epath = os.path.join(self.work, "emb")
        dp, ep = self.crawl_paths[0]
        with self.tracer.span("dedup", "minhash_index_append"):
            dedup.minhash_index_append(self.spark, self.mpath, self.spark.read.parquet(dp))
        with self.tracer.span("similarity", "embedding_index_append"):
            similarity.embedding_index_append(self.spark, self.epath, self.spark.read.parquet(ep))
        self._merge_and_read(0)

    def _reset(self) -> None:
        self.cycles: list[float] = []
        self.merges: list[float] = []
        self.merge_versions: list[int] = []
        self.reads: list[dict] = []
        self.manifest: list[float] = []
        self.batches: list[dict] = []
        self.rows_merged = 0
        self.source_bytes = 0
        self.docs_done = 0

    def run_timed(self, seconds: float) -> None:
        """``n_cycles`` cycles; ``seconds`` set their number."""
        self._reset()
        self.t_start = time.time()
        t0 = time.perf_counter()
        for i in range(self.n_cycles):
            self.attempted += 1
            try:
                a = time.perf_counter()
                self._merge_and_read(i)
                self._append(self._probe(i + 1))
                self.cycles.append(time.perf_counter() - a)
            except Exception as e:  # a failed operation is counted, not fatal
                self.fail(f"cycle {i}: {type(e).__name__}: {e}"[:300])
                break
            self.rows_merged += len(self.tm["batches"][i])
            self.source_bytes += os.path.getsize(self.batch_paths[i])
            self.docs_done += self.batch_docs
        self.elapsed = time.perf_counter() - t0

    # ------------------------------------------------ versioned table

    @staticmethod
    def _agg(df) -> list[tuple]:
        from pyspark.sql import functions as F

        return sorted(
            (r.g, r.n, r.s) for r in df.groupBy("g").agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
        )

    def _read(self, kind: str, fn, expect) -> None:
        a = time.perf_counter()
        with self.tracer.span("versioned", kind):
            got = fn()
        self.reads.append({"kind": kind, "lat": time.perf_counter() - a, "got": got, "expect": expect})

    def _merge_and_read(self, i: int) -> None:
        from data_ingestion_pipeline_spark.operators import versioned as V

        spark, path = self.spark, self.path
        a = time.perf_counter()
        with self.tracer.span("versioned", "merge_into_mor"):
            v = V.merge_into_mor(
                spark, path, spark.read.parquet(self.batch_paths[i]), ["k"],
                when_matched=[("delete", None, "s.op = 'D'"), ("update", {"v": "s.v"}, "s.op = 'U'")],
                insert_not_matched={"k": "s.k", "v": "s.v", "g": "s.g"},
                insert_not_matched_cond="s.op = 'I'",
                prune_on="k",
            )
        self.merges.append(time.perf_counter() - a)
        self.merge_versions.append(v)
        self.vmap[v] = i + 1

        a = time.perf_counter()
        cur = V.current_version(path)
        V.manifest_meta(path)
        self.manifest.append(time.perf_counter() - a)

        state = self.tm["states"][i + 1]
        rng = np.random.default_rng([self.seed, 30, i])
        keys = state["k"].to_numpy()
        key = int(keys[-1 - int(rng.integers(0, min(len(keys), 2000)))])
        lo = int(keys[int(rng.integers(0, len(keys)))])

        def rows(df):
            return sorted((r.k, r.v, r.g) for r in df.select("k", "v", "g").collect())

        def expect_rows(sel):
            return sorted(zip(sel["k"].tolist(), sel["v"].tolist(), sel["g"].tolist()))

        def expect_agg(st):
            g = st.groupby("g")["v"].agg(["count", "sum"])
            return sorted((int(k), int(n), int(s)) for k, n, s in zip(g.index, g["count"], g["sum"]))

        self._read("lookup", lambda: rows(V.stats_lookup(spark, path, "k", key, key)),
                   expect_rows(state[state["k"] == key]))
        self._read("lookup", lambda: rows(V.stats_lookup(spark, path, "k", lo, lo + 99)),
                   expect_rows(state[(state["k"] >= lo) & (state["k"] <= lo + 99)]))
        self._read("snapshot", lambda: self._agg(V.read_version(spark, path)), expect_agg(state))
        old = max(1, cur - 2)
        self._read("time_travel", lambda: self._agg(V.read_version(spark, path, old)),
                   expect_agg(self.tm["states"][self.vmap[old]]) if old in self.vmap else None)

    def _maintain(self) -> None:
        from data_ingestion_pipeline_spark.operators import versioned as V

        a = time.perf_counter()
        with self.tracer.span("versioned", "maintenance"):
            done = len(self.merges)
            self.vmap[V.materialize_deletes(self.spark, self.path)] = done
            self.vmap[V.compact_files(self.spark, self.path)["version"]] = done
        self.maintenance = time.perf_counter() - a

    # ---------------------------------------------- near-dup indexes

    def _probe(self, b: int) -> dict:
        from data_ingestion_pipeline_spark.operators import dedup, similarity

        dp, ep = self.crawl_paths[b]
        rec = {"b": b, "docs": self.spark.read.parquet(dp), "emb_df": self.spark.read.parquet(ep)}
        t0 = time.perf_counter()
        with self.tracer.span("dedup", "minhash_index_probe"):
            rec["mh"] = [(r.doc_a, r.doc_b, r.est_jaccard)
                         for r in dedup.minhash_index_probe(self.spark, self.mpath, rec["docs"]).collect()]
        t1 = time.perf_counter()
        with self.tracer.span("similarity", "embedding_index_probe"):
            rec["emb"] = [(r.vec_a, r.vec_b, r.cosine)
                          for r in similarity.embedding_index_probe(self.spark, self.epath, rec["emb_df"]).collect()]
        rec.update(mh_probe=t1 - t0, emb_probe=time.perf_counter() - t1)
        return rec

    def _append(self, rec: dict) -> None:
        from data_ingestion_pipeline_spark.operators import dedup, similarity

        t0 = time.perf_counter()
        with self.tracer.span("dedup", "minhash_index_append"):
            dedup.minhash_index_append(self.spark, self.mpath, rec.pop("docs"))
        t1 = time.perf_counter()
        with self.tracer.span("similarity", "embedding_index_append"):
            similarity.embedding_index_append(self.spark, self.epath, rec.pop("emb_df"))
        rec.update(mh_append=t1 - t0, emb_append=time.perf_counter() - t1)
        self.batches.append(rec)

    def _index_bytes(self) -> int:
        from data_ingestion_pipeline_spark.operators.similarity import _EMB_INDEX_BANDS, _EMB_INDEX_VECTORS

        return _files_bytes(
            _manifest_files(self.mpath)
            + _manifest_files(os.path.join(self.epath, _EMB_INDEX_BANDS))
            + _manifest_files(os.path.join(self.epath, _EMB_INDEX_VECTORS))
        )

    # ------------------------------------------------------- checks

    def check(self) -> None:
        from data_ingestion_pipeline_spark.operators import versioned as V
        from data_ingestion_pipeline_spark.operators.dedup import JACCARD_THRESHOLD
        from data_ingestion_pipeline_spark.operators.similarity import NEAR_DUP_COSINE

        self.attempted += 1
        try:
            self._maintain()
        except Exception as e:  # counted as a failed operation
            self.maintenance = 0.0
            self.fail(f"maintenance: {type(e).__name__}: {e}"[:300])

        for r in self.reads:
            self.attempted += 1
            if r["expect"] is None or r["got"] != r["expect"]:
                self.fail(f"{r['kind']} read differs from the replay")
        self.attempted += 1
        final = sorted((r.k, r.v, r.g) for r in V.read_version(self.spark, self.path).select("k", "v", "g").collect())
        st = self.tm["states"][len(self.merges)]
        if final != sorted(zip(st["k"].tolist(), st["v"].tolist(), st["g"].tolist())):
            self.fail("final snapshot differs from the replay")
        self.live_rows = len(final)

        vecs, toks = self.cr["vecs"], self.cr["tokens"]
        mh, emb = set(), set()
        self.true_pos = 0
        for rec in self.batches:
            lo, hi = self.cr["bounds"][rec["b"]]
            bad = [p for p in rec["mh"] if p[2] < JACCARD_THRESHOLD or not (lo < p[1] <= hi or lo < p[0] <= hi)]
            bad += [p for p in rec["emb"] if gen.cosine(vecs, p[0], p[1]) < NEAR_DUP_COSINE - 1e-3]
            if bad:
                self.fail(f"crawl batch {rec['b']}: {len(bad)} reported pairs below threshold, e.g. {bad[0]}")
            mh |= {(a, b) for a, b, _ in rec["mh"]}
            emb |= {(a, b) for a, b, _ in rec["emb"]}
            self.true_pos += sum(
                gen.jaccard(gen.shingle_set(toks[a - 1]), gen.shingle_set(toks[b - 1])) >= JACCARD_THRESHOLD
                for a, b, _ in rec["mh"]
            )
        done_hi = self.cr["bounds"][self.batches[-1]["b"]][1] if self.batches else 0
        planted = [p for p in self.cr["planted"] if self.n_initial < p[1] <= done_hi]
        self.n_reported = len(mh)
        self.mh_recall = sum(p in mh for p in planted) / max(1, len(planted))
        self.emb_recall = sum(p in emb for p in planted) / max(1, len(planted))
        # the recall floors tests/test_dedup.py and tests/test_similarity.py hold
        self.attempted += 1
        if planted and (self.mh_recall < 0.9 or self.emb_recall < 0.8):
            self.fail(f"planted-pair recall minhash {self.mh_recall:.2f} embedding {self.emb_recall:.2f}")

    # ------------------------------------------------------ metrics

    def e2e(self) -> dict:
        reads = [r["lat"] for r in self.reads]
        # the mean of each cycle's four reads: one point lookup, one
        # range, one snapshot and one time travel, whatever their order
        rounds = [sum(reads[i : i + 4]) / 4 for i in range(0, len(reads), 4)]
        crawl = [r["mh_probe"] + r["emb_probe"] + r["mh_append"] + r["emb_append"] for r in self.batches]
        table_bpr = _files_bytes(_manifest_files(self.path)) / max(1, self.live_rows)
        index_bpr = self._index_bytes() / (self.n_initial + self.docs_done)
        return {
            "rows_per_s": ((self.rows_merged + self.docs_done) / self.elapsed, "rows/s"),
            # one cycle's two commits: the CDC merge and the crawl batch
            "batch_p50_s": (median([m + c for m, c in zip(self.merges, crawl)]), "s"),
            "query_p50_s": (median(rounds), "s"),
            "query_p90_s": (pct(reads, 90), "s"),
            # geometric mean, so a change to either store moves it
            "stored_bytes_per_row": (math.sqrt(table_bpr * index_bpr), "B/row"),
            "merge_p50_s": (median(self.merges), "s"),
            "crawl_batch_p50_s": (median(crawl), "s"),
            "table_bytes_per_row": (table_bpr, "B/row"),
            "index_bytes_per_doc": (index_bpr, "B/row"),
            "cycle_p50_s": (median(self.cycles), "s"),
            "cycles": (len(self.cycles), "count"),
        }

    @staticmethod
    def _growth(xs: list[float]) -> float:
        q = max(1, len(xs) // 4)
        return median(xs[-q:]) / median(xs[:q]) if xs else 0.0

    def layers(self, log: EventLog | None) -> dict:
        from data_ingestion_pipeline_spark.operators import versioned as V

        pruned = scanned = 0
        for v in self.merge_versions:
            m = V.manifest_meta(self.path, v).get("merge", {})
            pruned += m.get("files_pruned", 0)
            scanned += m.get("files_scanned", 0)

        def lat(kind):
            return median([r["lat"] for r in self.reads if r["kind"] == kind])

        bs = self.batches
        docs = max(1, self.docs_done)
        out = {
            "versioned.manifest_p50_s": median(self.manifest),
            "versioned.lookup_p50_s": lat("lookup"),
            "versioned.snapshot_p50_s": lat("snapshot"),
            "versioned.time_travel_p50_s": lat("time_travel"),
            "versioned.maintenance_s": self.maintenance,
            "versioned.live_files": len(_manifest_files(self.path)),
            "versioned.files_pruned_share": pruned / max(1, pruned + scanned),
            "dedup.probe_p50_s": median([r["mh_probe"] for r in bs]),
            "dedup.append_p50_s": median([r["mh_append"] for r in bs]),
            "dedup.probe_growth": self._growth([r["mh_probe"] for r in bs]),
            "dedup.candidates_per_doc": self.n_reported / docs,
            "dedup.recall": self.mh_recall,
            "dedup.precision": self.true_pos / max(1, sum(len(r["mh"]) for r in bs)),
            "similarity.probe_p50_s": median([r["emb_probe"] for r in bs]),
            "similarity.append_p50_s": median([r["emb_append"] for r in bs]),
            "similarity.probe_growth": self._growth([r["emb_probe"] for r in bs]),
            "similarity.recall": self.emb_recall,
        }
        if log is not None:
            groups = {f"perfbench-{s['id']}" for s in self.tracer.spans
                      if s["name"] == "merge_into_mor" and s["start"] >= self.t_start}
            jobs = log.jobs_of(lambda j: j["group"] in groups)
            out["versioned.bytes_written_per_source_byte"] = log.writes_of(jobs)["bytes"] / max(1, self.source_bytes)
            out["versioned.jobs_per_merge"] = len(jobs) / max(1, len(self.merges))
        return out


WORKLOADS = {w.name: w for w in (IngestServe, MergeDedup)}
