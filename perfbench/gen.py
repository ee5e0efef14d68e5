"""Seeded input generators and their expected answers.

numpy/pyarrow/pandas only, no Spark: the inputs and the answers the
benchmark checks the program against are computed here, from the seed
alone, before the program sees a file. Every generator writes into a
fresh per-run directory; nothing is cached between runs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in microseconds
EPOCH_US = 1_704_067_200_000_000
HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US


def row_hash(df: pd.DataFrame) -> int:
    """Order-independent content hash: the wrapping sum of per-row
    hashes, so a table read back in any row order hashes the same."""
    if df.empty:
        return 0
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return int(h.sum(dtype=np.uint64))


def _stations(rng: np.random.Generator, n: int, perm: np.ndarray) -> np.ndarray:
    """Zipf-skewed station ids; ``perm`` maps popularity rank to id, so
    the hot stations are not simply ids 1, 2, 3."""
    ranks = rng.zipf(1.3, n)
    ranks = np.where(ranks > len(perm), rng.integers(1, len(perm) + 1, n), ranks)
    return perm[ranks - 1].astype(np.int64)


def _events(rng: np.random.Generator, n: int, perm: np.ndarray, span_us: int) -> pd.DataFrame:
    """Time-ordered events with unique microsecond timestamps (so the
    (user_id, ts) key of every original is unique by construction)."""
    gaps = rng.integers(1, max(2, 2 * span_us // n), n)
    ts = EPOCH_US + np.cumsum(gaps)
    return pd.DataFrame(
        {
            "event_id": np.arange(1, n + 1, dtype=np.int64),
            "ts": ts.astype(np.int64),
            "user_id": _stations(rng, n, perm),
            "event_type": rng.choice(["click", "view", "purchase"], n, p=[0.5, 0.4, 0.1]),
            "value": np.round(rng.normal(20.0, 8.0, n), 2),
        }
    )


def _feed_table(df: pd.DataFrame) -> pa.Table:
    """FEED_SCHEMA as parquet (ts as UTC TIMESTAMP_MICROS)."""
    return pa.table(
        {
            "event_id": pa.array(df["event_id"].to_numpy(), pa.int64()),
            "ts": pa.array(df["ts"].to_numpy(), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(df["user_id"].to_numpy(), pa.int64()),
            "event_type": pa.array(df["event_type"].to_numpy(), pa.string()),
            "value": pa.array(df["value"].to_numpy(), pa.float64()),
        }
    )


# ---------------------------------------------------------------- ingest


def gen_ingest(seed: int, out_dir: str, n_files: int, rows_per_file: int) -> dict:
    """A backlog of feed files in arrival order.

    Events are time-ordered (each file ~2 hours of traffic) over ~1,000
    Zipf-skewed stations. 20% of rows are verbatim duplicates of an
    original from the same or the previous file; ~5% of originals
    arrive 1-6 hours late, so a file near midnight touches two days.

    Expected answers: for every prefix of k files, the distinct-row
    count and content hash of the dedup on (user_id, ts).
    """
    rng = np.random.default_rng([seed, 1])
    n_orig = int(n_files * rows_per_file * 0.8)
    ev = _events(rng, n_orig, rng.permutation(1000) + 1, n_files * 2 * HOUR_US)
    late = rng.random(n_orig) < 0.05
    ev.loc[late, "ts"] -= rng.integers(HOUR_US, 6 * HOUR_US, int(late.sum()))
    # ts moved back may collide with another station's ts but never with
    # the same station's — keep keys unique anyway by nudging collisions
    while ev.duplicated(["user_id", "ts"]).any():
        d = ev.duplicated(["user_id", "ts"])
        ev.loc[d, "ts"] += 1
    per_file = np.array_split(np.arange(n_orig), n_files)
    os.makedirs(out_dir, exist_ok=True)
    paths, prefix = [], []
    rows_in, distinct, acc_hash = 0, 0, 0
    for k, idx in enumerate(per_file):
        orig = ev.iloc[idx]
        n_dup = rows_per_file - len(orig)
        pool = orig if k == 0 else pd.concat([ev.iloc[per_file[k - 1]], orig])
        dups = pool.iloc[rng.integers(0, len(pool), n_dup)]
        rows = pd.concat([orig, dups]).sample(frac=1.0, random_state=int(rng.integers(2**31)))
        p = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(_feed_table(rows), p)
        paths.append(p)
        # duplicates only repeat originals of this or the previous file,
        # so the dedup of files[:k+1] is exactly their originals
        rows_in += len(rows)
        distinct += len(orig)
        acc_hash = (acc_hash + row_hash(_canon_events(orig))) % 2**64
        prefix.append({"rows_in": rows_in, "distinct": distinct, "hash": acc_hash})
    return {"files": paths, "prefix": prefix}


def _canon_events(df: pd.DataFrame) -> pd.DataFrame:
    out = df[["event_id", "ts", "user_id", "event_type", "value"]].copy()
    for c in ("event_id", "ts", "user_id"):
        out[c] = out[c].astype(np.int64)
    out["event_type"] = out["event_type"].astype(str)
    out["value"] = out["value"].astype(np.float64)
    return out.reset_index(drop=True)


# ----------------------------------------------------------------- serve

SERVE_INTERVALS = {"15 minutes": 15 * 60_000_000, "30 minutes": 30 * 60_000_000, "1 hour": HOUR_US, "1 day": DAY_US}


def gen_serve(seed: int, sf_dir: str, n_rows: int, n_requests: int) -> dict:
    """A time-sorted ``events.parquet`` (schemas.EVENTS) and a request
    schedule.

    Mix per block of ten requests: 4 raw (limit/offset), 2 aggregate,
    3 timeseries (interval from 15m/30m/1h/1d), 1 latest; the block is
    shuffled, so every prefix has nearly the exact mix. Stations are
    Zipf. Every third non-latest request repeats the parameter tuple
    of a request 3-12 positions earlier (a cache hit once that one has
    been served); the rest are fresh tuples. With the repeated
    ``latest``, about a third of all requests are hits. The repeats
    come at fixed positions instead of being drawn at random, so every
    prefix of the schedule has the same hit share. Hits are about twice
    as fast as misses; at a share near one half the latency median
    would jump between the two with the seed's luck; at a third it
    sits among the misses.
    """
    rng = np.random.default_rng([seed, 2])
    span_us = 14 * DAY_US
    perm = rng.permutation(1000) + 1
    ev = _events(rng, n_rows, perm, span_us)
    ev["props"] = None
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ev["event_id"].to_numpy(), pa.int64()),
                "ts": pa.array(ev["ts"].to_numpy(), pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(ev["user_id"].to_numpy(), pa.int64()),
                "event_type": pa.array(ev["event_type"].to_numpy(), pa.string()),
                "value": pa.array(ev["value"].to_numpy(), pa.float64()),
                "props": pa.array([None] * n_rows, pa.string()),
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )
    block = ["raw"] * 4 + ["aggregate"] * 2 + ["timeseries"] * 3 + ["latest"]
    reqs: list[tuple] = []
    fresh = 0
    while len(reqs) < n_requests:
        for kind in rng.permutation(block):
            kind = str(kind)
            if kind == "latest":
                reqs.append(("latest",))
                continue
            earlier = [i for i in range(max(0, len(reqs) - 12), len(reqs) - 2) if reqs[i][0] != "latest"]
            if fresh >= 2 and earlier:
                reqs.append(reqs[int(rng.choice(earlier))])
                fresh = 0
                continue
            fresh += 1
            station = int(_stations(rng, 1, perm)[0])
            # whole seconds: the API takes ISO strings
            lo = EPOCH_US + int(rng.integers(0, (span_us - DAY_US) // 1_000_000)) * 1_000_000
            hi = lo + int(rng.integers(6 * 3600, 7 * 86400)) * 1_000_000
            if kind == "raw":
                reqs.append(("raw", station, lo, hi, int(rng.choice([10, 50, 100])), int(rng.choice([0, 0, 10, 50]))))
            elif kind == "aggregate":
                reqs.append(("aggregate", station, lo, hi))
            else:
                reqs.append(("timeseries", station, lo, hi, str(rng.choice(list(SERVE_INTERVALS)))))
    return {"events": ev, "requests": reqs[:n_requests]}


def serve_expected(ev: pd.DataFrame, req: tuple) -> list[tuple]:
    """The pandas evaluation of one request, rows as plain tuples in the
    order the API returns them (ts as epoch microseconds)."""
    kind = req[0]
    if kind == "latest":
        last = ev.sort_values(["user_id", "ts", "event_id"]).groupby("user_id").tail(1)
        return sorted(
            (int(r.user_id), int(r.event_id), int(r.ts), r.event_type, float(r.value)) for r in last.itertuples()
        )
    station, lo, hi = req[1], req[2], req[3]
    sel = ev[(ev["user_id"] == station) & (ev["ts"] >= lo) & (ev["ts"] <= hi)]
    if kind == "raw":
        limit, offset = req[4], req[5]
        s = sel.sort_values(["ts", "event_id"], ascending=False).iloc[offset : offset + limit]
        return [(int(r.event_id), int(r.ts), int(r.user_id), r.event_type, float(r.value)) for r in s.itertuples()]
    cents = np.round(sel["value"].to_numpy() * 100).astype(np.int64)
    if kind == "aggregate":
        if sel.empty:
            return []
        return [(station, int(cents.sum()) / 100 / len(sel), float(sel["value"].min()), float(sel["value"].max()), len(sel))]
    width = SERVE_INTERVALS[req[4]]
    bucket = (sel["ts"].to_numpy() // width) * width
    g = pd.DataFrame({"b": bucket, "c": cents}).groupby("b")["c"].agg(["sum", "count"]).sort_index()
    return [(int(b), int(s) / 100 / int(c), int(c)) for b, s, c in zip(g.index, g["sum"], g["count"])]


# ----------------------------------------------------------- table_merge


def gen_table_merge(seed: int, n_rows: int, n_batches: int, batch_rows: int) -> dict:
    """The initial table and a chain of CDC batches, replayed in pandas.

    Table: (k, v, g), unique int64 key k, int64 payload v, group g.
    Each batch: ~60% updates and ~20% deletes of live keys skewed
    toward recent (high) keys, ~20% inserts of new keys. One change
    row per key, so the merge's cardinality rule always holds.
    ``states[i]`` is the table after i batches.
    """
    rng = np.random.default_rng([seed, 3])
    base = pd.DataFrame(
        {
            "k": np.arange(n_rows, dtype=np.int64),
            "v": rng.integers(0, 1_000_000, n_rows, dtype=np.int64),
            "g": rng.integers(0, 16, n_rows, dtype=np.int64),
        }
    )
    states = [base]
    batches = []
    next_key = n_rows
    cur = base.set_index("k")
    for _ in range(n_batches):
        live = cur.index.to_numpy()
        n_ins = batch_rows // 5
        n_old = batch_rows - n_ins
        # exponential skew toward the newest keys
        pos = len(live) - 1 - np.minimum(rng.exponential(len(live) / 8, 4 * n_old).astype(np.int64), len(live) - 1)
        touched = pd.unique(live[np.sort(pos)])[:n_old]
        ops = rng.choice(np.array(["U", "D"]), len(touched), p=[0.75, 0.25])
        ins = np.arange(next_key, next_key + n_ins, dtype=np.int64)
        next_key += n_ins
        src = pd.DataFrame(
            {
                "k": np.concatenate([touched, ins]).astype(np.int64),
                "op": np.concatenate([ops, np.full(n_ins, "I")]),
                "v": rng.integers(0, 1_000_000, len(touched) + n_ins, dtype=np.int64),
                "g": rng.integers(0, 16, len(touched) + n_ins, dtype=np.int64),
            }
        )
        batches.append(src)
        upd = src[src["op"] == "U"].set_index("k")
        cur = cur.copy()
        cur.loc[upd.index, "v"] = upd["v"]
        cur = cur.drop(src.loc[src["op"] == "D", "k"].to_numpy())
        new = src[src["op"] == "I"].set_index("k")[["v", "g"]]
        cur = pd.concat([cur, new])
        states.append(cur.reset_index())
    return {"base": base, "batches": batches, "states": states}


# ----------------------------------------------------------- crawl_dedup

DIM = 64


def gen_crawl(seed: int, n_initial: int, n_batches: int, batch_docs: int) -> dict:
    """An initial corpus and crawl batches of (doc_id, text, embedding).

    Texts are 40-80 tokens from a 20k-word vocabulary, so unrelated
    documents share almost no 3-shingles. ~10% of each batch are
    planted near-duplicates of a document from an EARLIER batch or the
    initial corpus: 1-2 replaced tokens (Jaccard ~0.85) and Gaussian
    vector noise (cosine ~0.95). ``planted`` lists those pairs as
    (earlier_id, new_id).
    """
    rng = np.random.default_rng([seed, 4])
    total = n_initial + n_batches * batch_docs
    texts: list[list[int]] = []
    vecs = np.empty((total, DIM), np.float32)
    planted = []
    for i in range(total):
        batch_start = n_initial + ((i - n_initial) // batch_docs) * batch_docs if i >= n_initial else None
        if batch_start is not None and rng.random() < 0.10:
            src = int(rng.integers(0, batch_start))
            toks = list(texts[src])
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = int(rng.integers(0, 20_000))
            texts.append(toks)
            vecs[i] = vecs[src] + rng.normal(0, 0.33 / np.sqrt(DIM), DIM) * np.linalg.norm(vecs[src])
            planted.append((src + 1, i + 1))
        else:
            texts.append([int(t) for t in rng.integers(0, 20_000, int(rng.integers(40, 81)))])
            vecs[i] = rng.normal(0, 1, DIM)
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(1, total + 1, dtype=np.int64),
            "text": [" ".join(f"w{t}" for t in toks) for toks in texts],
        }
    )
    bounds = [(0, n_initial)] + [
        (n_initial + b * batch_docs, n_initial + (b + 1) * batch_docs) for b in range(n_batches)
    ]
    return {"docs": docs, "vecs": vecs, "bounds": bounds, "planted": planted, "tokens": texts}


def shingle_set(tokens: list[int], k: int = 3) -> set:
    return {tuple(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def cosine(vecs: np.ndarray, a: int, b: int) -> float:
    x, y = vecs[a - 1].astype(np.float64), vecs[b - 1].astype(np.float64)
    return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
