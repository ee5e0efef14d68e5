"""Hypothesis property tests for the pure cores the distributed
operators lean on. These run without a SparkSession, so they explore
orders of magnitude more inputs per second than the end-to-end
fixtures — and the properties they pin (batching invariance,
bit-exact packing round-trips, bucket-edge validity) are exactly the
claims the streaming/LSH/LTTB correctness arguments cite.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from data_ingestion_pipeline_spark.streaming.pipeline import (
    SESSION_GAP_US,
    merge_sessions,
)

# ---- streaming sessionization: the associativity claim -------------

_point = st.tuples(
    st.integers(min_value=0, max_value=100 * SESSION_GAP_US),
    st.integers(min_value=0, max_value=3),  # duration in gap units / 2
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=0, max_value=10_000),
).map(lambda t: [t[0], t[0] + t[1] * SESSION_GAP_US // 2, t[2], t[3]])


@settings(max_examples=300, deadline=None)
@given(
    points=st.lists(_point, min_size=0, max_size=40),
    cuts=st.lists(st.integers(min_value=0, max_value=40), max_size=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_session_merge_batching_invariance(points, cuts, seed):
    """Folding merge_sessions over ANY partition of ANY permutation
    of the points equals one merge of everything — the exact property
    that makes the streaming operator's drained state independent of
    micro-batch boundaries and feed order."""
    rng = np.random.default_rng(seed)
    perm = [points[i] for i in rng.permutation(len(points))]
    bounds = sorted({min(c, len(perm)) for c in cuts} | {0, len(perm)})
    acc: list = []
    for lo, hi in zip(bounds, bounds[1:]):
        acc = merge_sessions(acc, perm[lo:hi])
    assert acc == merge_sessions([], points)


@settings(max_examples=200, deadline=None)
@given(points=st.lists(_point, min_size=0, max_size=40))
def test_session_merge_output_is_canonical(points):
    """Merged sessions are sorted, non-overlapping, separated by at
    least the gap, and conserve event counts and value cents."""
    out = merge_sessions([], points)
    for a, b in zip(out, out[1:]):
        assert b[0] >= a[1] + SESSION_GAP_US
    assert sum(s[2] for s in out) == sum(p[2] for p in points)
    assert sum(s[3] for s in out) == sum(p[3] for p in points)
    for s in out:
        assert s[1] >= s[0]


# ---- signature packing: bit-exact round-trip -----------------------


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=20),
    nbits=st.integers(min_value=1, max_value=192),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_pack_words_roundtrip(n, nbits, seed):
    """_pack_words packs bool rows into int64 words bit j of word i =
    bit 64i+j; unpacking must reproduce the input exactly (two's
    complement: bit 63 lands in the sign)."""
    from data_ingestion_pipeline_spark.operators.similarity import _pack_words

    rng = np.random.default_rng(seed)
    bits = rng.integers(0, 2, size=(n, nbits)).astype(bool)
    words = _pack_words(bits)
    assert len(words) == -(-nbits // 64)
    for j in range(nbits):
        w, b = divmod(j, 64)
        got = (words[w].view(np.uint64) >> np.uint64(b)) & np.uint64(1)
        assert (got.astype(bool) == bits[:, j]).all()


# ---- LTTB bucket edges: validity for every (n, k) ------------------


@settings(max_examples=500, deadline=None)
@given(
    n=st.integers(min_value=4, max_value=100_000),
    k=st.integers(min_value=3, max_value=500),
)
def test_lttb_edges_always_valid(n, k):
    """The integer bucket-edge construction must be strictly
    increasing with first edge 1 and last edge n-1 whenever n > k —
    the invariant that makes every argmax slice non-empty (the
    linspace().round() edges this replaced could collapse)."""
    if n <= k:
        return
    edges = np.arange(k - 1, dtype=np.int64) * (n - 2) // (k - 2) + 1
    assert edges[0] == 1 and edges[-1] == n - 1
    assert (np.diff(edges) >= 1).all()


# ---- stats-index data skipping: the no-false-negative claim --------

import datetime as _dt

from data_ingestion_pipeline_spark.operators.versioned import (
    _stats_encode,
    _stats_overlaps,
)


def _coerce(v):
    """Spark's date→timestamp coercion: a date compares as midnight."""
    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    return v


_num = st.one_of(
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
)
_temporal = st.one_of(
    st.dates(min_value=_dt.date(1900, 1, 1), max_value=_dt.date(2199, 12, 31)),
    st.datetimes(
        min_value=_dt.datetime(1900, 1, 1),
        max_value=_dt.datetime(2199, 12, 31),
    ),
)
_strs = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=12,
)


def _no_false_negative(values, bounds):
    """Core property: a file whose [min,max] stats come from `values`
    must be a candidate for every probe [lo,hi] that matches ANY of
    its values — across every supported kind, including date/datetime
    mixing (Spark coerces dates to midnight; the encoding must agree)."""
    lo, hi = bounds
    if lo is not None and hi is not None and _coerce(lo) > _coerce(hi):
        lo, hi = hi, lo
    key = _coerce
    mm = [
        _stats_encode(min(values, key=key)),
        _stats_encode(max(values, key=key)),
    ]
    contains = any(
        (lo is None or _coerce(lo) <= _coerce(v))
        and (hi is None or _coerce(v) <= _coerce(hi))
        for v in values
    )
    if contains:
        assert _stats_overlaps(mm, lo, hi), (values, lo, hi)
    assert _stats_overlaps(None, lo, hi)  # statless → always candidate


@settings(max_examples=400, deadline=None)
@given(
    values=st.lists(_num, min_size=1, max_size=20),
    bounds=st.tuples(st.none() | _num, st.none() | _num),
)
def test_stats_skipping_no_false_negatives_numeric(values, bounds):
    _no_false_negative(values, bounds)


@settings(max_examples=400, deadline=None)
@given(
    values=st.lists(_temporal, min_size=1, max_size=20),
    bounds=st.tuples(st.none() | _temporal, st.none() | _temporal),
)
def test_stats_skipping_no_false_negatives_temporal(values, bounds):
    """Mixed date/datetime universes: the r10 review found the
    original short-ISO date encoding pruned files whose max DATE
    equaled a datetime probe's lower bound; the canonical
    midnight-datetime encoding must agree with Spark's coercion for
    every mixture."""
    _no_false_negative(values, bounds)


@settings(max_examples=300, deadline=None)
@given(
    values=st.lists(_strs, min_size=1, max_size=20),
    bounds=st.tuples(st.none() | _strs, st.none() | _strs),
)
def test_stats_skipping_no_false_negatives_strings(values, bounds):
    _no_false_negative(values, bounds)


_dec = st.decimals(
    min_value=-(10**12), max_value=10**12, places=2,
    allow_nan=False, allow_infinity=False,
)


@settings(max_examples=300, deadline=None)
@given(
    values=st.lists(_dec, min_size=1, max_size=20),
    bounds=st.tuples(st.none() | _dec | _num, st.none() | _dec | _num),
)
def test_stats_skipping_no_false_negatives_decimal(values, bounds):
    """Decimal stats are "num" values: they compare numerically with
    decimal, int and float probe bounds (as strings, "10.00" < "5")."""
    _no_false_negative(values, bounds)


# The driver probe (_stats_match) must keep exactly the files the
# per-row predicate keeps. "num" universes mix ints, floats and
# decimals, with values packed around 2^53 so float64 ties are common
# — the rows the vectorized path must re-test exactly. NaN gets a
# float-only universe: Decimal refuses to order against it.
_wide_num = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.integers(min_value=2**53 - 4, max_value=2**53 + 4),
    st.floats(width=64, allow_nan=False),
    st.decimals(
        min_value=-(10**20), max_value=10**20, places=3,
        allow_nan=False, allow_infinity=False,
    ),
    st.decimals(
        min_value=2**53 - 4, max_value=2**53 + 4, places=1,
        allow_nan=False, allow_infinity=False,
    ),
)


@settings(max_examples=400, deadline=None)
@given(
    case=st.sampled_from([_wide_num, st.floats(), _temporal, _strs]).flatmap(
        lambda u: st.tuples(
            st.lists(
                st.none() | st.lists(u, min_size=1, max_size=4),
                max_size=12,
            ),
            st.tuples(st.none() | u, st.none() | u),
        )
    )
)
def test_stats_driver_probe_matches_per_row_candidacy(case):
    """Vectorized candidacy over a sidecar table == _stats_overlaps on
    every row (None file = statless), for every kind: never a file
    pruned that the per-row test keeps, nor one kept that it prunes."""
    import pyarrow as pa

    from data_ingestion_pipeline_spark.operators.versioned import (
        _STATS_COLS,
        _stats_arrow_schema,
        _stats_match,
        _stats_row,
    )

    files, (lo, hi) = case

    def mm(vs):
        if vs is None:
            return None, None, False
        return min(vs, key=_coerce), max(vs, key=_coerce), True

    rows = [_stats_row(f"f{i}", mm(vs)) for i, vs in enumerate(files)]
    t = pa.Table.from_pylist(
        [dict(zip(_STATS_COLS, r)) for r in rows], schema=_stats_arrow_schema()
    )
    want = [
        _stats_overlaps(
            None if vs is None
            else [_stats_encode(mm(vs)[0]), _stats_encode(mm(vs)[1])],
            lo, hi,
        )
        for vs in files
    ]
    assert _stats_match(t, lo, hi).tolist() == want, (files, lo, hi)


# ---- manifest delta-log: encode/resolve round-trip ------------------
# _publish_manifest needs no SparkSession: the delta-vs-checkpoint
# choice and the chain resolution are pure JSON-on-filesystem logic,
# so hypothesis can drive hundreds of commit histories through it.

_fname = st.integers(min_value=0, max_value=200).map(
    lambda i: f"data/f{i:03d}.parquet"
)


@settings(max_examples=60, deadline=None)
@given(
    steps=st.lists(
        st.tuples(
            st.sets(_fname, max_size=12),   # files added this commit
            st.sets(_fname, max_size=12),   # files dropped this commit
            st.booleans(),                  # partitioned table?
        ),
        min_size=1,
        max_size=25,
    )
)
def test_manifest_encode_resolve_roundtrip(tmp_path_factory, steps):
    """For ANY commit history (adds, drops, partitioned or not, across
    checkpoint boundaries), resolving version v must reproduce exactly
    the file set and partition tags the writer intended at v — the
    invariant that makes the on-disk delta encoding invisible to every
    reader."""
    import json
    import os

    from data_ingestion_pipeline_spark.operators import versioned as V

    path = str(tmp_path_factory.mktemp("mt"))
    cur: set[str] = set()
    partitioned = steps[0][2]
    intents = []
    for i, (add, drop, _) in enumerate(steps, start=1):
        cur = (cur - drop) | add
        m = {
            "version": i,
            "files": sorted(cur),
            "schema": '{"type":"struct","fields":[]}',
            "committed_at": float(i),
            "meta": {"i": i},
        }
        if partitioned:
            m["partitions"] = {f: f[5:9] for f in sorted(cur)}
        intents.append(m)
        V._publish_manifest(path, i, dict(m), None)

    assert V.current_version(path) == len(steps)
    for i, intent in enumerate(intents, start=1):
        got = V._manifest(path, i)
        assert got["files"] == intent["files"], i
        assert got.get("partitions") == intent.get("partitions"), i
        assert got["meta"] == {"i": i}
    # checkpoint cadence holds on disk: v1 and multiples of
    # CHECKPOINT_EVERY are full; other versions are deltas unless the
    # encoder chose full because the delta wasn't smaller
    for i in range(1, len(steps) + 1):
        raw = json.loads(open(os.path.join(path, f"manifest_v{i}.json")).read())
        if i == 1 or i % V.CHECKPOINT_EVERY == 0:
            assert "files" in raw, i
