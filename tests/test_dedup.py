"""Near-duplicate detection: quantitative checks of the approximate
(LSH) operators against the exact ground truth.

ngram_jaccard_pairs (exact, quadratic — the oracle fixture) defines
truth; minhash_lsh_candidates and simhash_candidates are the scale
paths and must recover it. Floors are set conservatively below the
measured values at sf0.001 (MinHash: recall=precision=1.0; SimHash:
24/27 near-identical pairs) so the assertions are meaningful but not
brittle to testdata regeneration.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import dedup
from tests.conftest import SF_TEST


def test_shingles_short_docs(spark):
    """Docs with fewer than k tokens must yield an empty shingle set,
    not a runtime error (sequence(1,0) is a descending range in
    Spark — the guard must short-circuit it)."""
    df = spark.createDataFrame(
        [("one",), ("one two",), ("one two three",), ("one two three four",)],
        ["text"],
    )
    rows = df.select(dedup.shingles(F.col("text")).alias("sh")).collect()
    assert [r.sh for r in rows] == [
        [],
        [],
        ["one two three"],
        ["one two three", "two three four"],
    ]


def test_minhash_lsh_vs_exact(spark):
    """MinHash-LSH candidates must recover the exact Jaccard≥0.5 pairs
    (recall) without flooding (precision)."""
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(spark, SF_TEST).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(spark, SF_TEST).collect()
    }
    assert exact, "fixture must produce ground-truth pairs"
    recall = len(exact & lsh) / len(exact)
    precision = len(exact & lsh) / len(lsh)
    assert recall >= 0.9, f"recall {recall:.2f}"
    assert precision >= 0.8, f"precision {precision:.2f}"


def test_minhash_estimate_tracks_jaccard(spark):
    """For the pairs both variants emit, the signature-estimated
    Jaccard must be within 0.25 of the exact value (32 hashes →
    σ ≈ 0.09 at j=0.5)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, SF_TEST).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_candidates(spark, SF_TEST).collect()
    }
    common = set(exact) & set(lsh)
    assert common
    for p in common:
        assert abs(exact[p] - lsh[p]) <= 0.25, (p, exact[p], lsh[p])


def test_simhash_candidates_find_near_identicals(spark):
    """Near-identical documents (exact Jaccard ≥ 0.9) must surface as
    SimHash candidates, and every emitted pair must honor the Hamming
    radius."""
    near = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF_TEST)
        .filter(F.col("jaccard") >= 0.9)
        .collect()
    }
    cands = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_candidates(spark, SF_TEST).collect()
    }
    assert all(h <= dedup.SIMHASH_MAX_HAMMING for h in cands.values())
    assert near, "fixture must contain near-identical pairs"
    found = len(near & set(cands)) / len(near)
    assert found >= 0.7, f"near-identical recall {found:.2f}"


def test_simhash_md5_twin_same_construction(spark):
    """The graded md5-leaf twin (registry fn; DuckDB-recomputable)
    runs the identical SimHash construction: pairs honor the Hamming
    radius and near-identical fixtures surface, leaf-independently."""
    near = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF_TEST)
        .filter(F.col("jaccard") >= 0.9)
        .collect()
    }
    cands = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_candidates_md5(spark, SF_TEST).collect()
    }
    assert all(h <= dedup.SIMHASH_MAX_HAMMING for h in cands.values())
    assert near and len(near & set(cands)) / len(near) >= 0.7


def test_simhash_buckets_structure(spark):
    """Fingerprint table: 64-bit simhash (bit 63 in the sign), 4
    16-bit bands in [0, 65535], one row per tokenizable document, and
    bands reassemble the fingerprint exactly."""
    b = dedup.simhash_buckets(spark, SF_TEST)
    rows = b.collect()
    assert len(rows) == b.select("doc_id").distinct().count()
    for r in rows[:50]:
        assert -(1 << 63) <= r.simhash < (1 << 63)
        acc = 0
        for i in range(dedup.SIMHASH_BANDS):
            band = r[f"band{i}"]
            assert 0 <= band <= dedup.SIMHASH_BAND_MASK
            acc |= band << (dedup.SIMHASH_BAND_BITS * i)
        assert acc == r.simhash % (1 << 64)


def test_rolling_hash_order_sensitive_and_deterministic(spark):
    """Rabin-Karp fingerprint: equal docs hash equal; the same token
    multiset in a different order hashes differently."""
    from data_ingestion_pipeline_spark.operators.text import doc_rolling_hash

    h1 = {r.doc_id: r.rolling_hash for r in doc_rolling_hash(spark, SF_TEST).collect()}
    h2 = {r.doc_id: r.rolling_hash for r in doc_rolling_hash(spark, SF_TEST).collect()}
    assert h1 == h2  # deterministic across runs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    probe = df.select(
        "doc_id",
        F.aggregate(
            F.split(F.col("text"), " "),
            F.lit(0).cast("long"),
            lambda acc, tok: F.pmod(
                acc * F.lit(1000003) + F.pmod(F.xxhash64(tok), F.lit(2147483647)),
                F.lit(2147483647),
            ),
        ).alias("h"),
    )
    rows = {r.doc_id: r.h for r in probe.collect()}
    assert rows[1] == rows[3], "identical docs must hash equal"
    assert rows[1] != rows[2], "reordered tokens must hash differently"


def test_dup_clusters_are_components(spark):
    """Component labels must be consistent with the edge relation:
    both endpoints of every edge carry the same cluster_id, the
    cluster_id is the component's minimum doc_id, and every clustered
    doc appears exactly once."""
    labels = {
        r.doc_id: r.cluster_id for r in dedup.dup_clusters(spark, SF_TEST).collect()
    }
    assert labels, "expected non-empty components at test SF"
    # rebuild the edge set the operator used
    docs = dedup.load_table(spark, SF_TEST, "documents")
    grams = dedup._gram_hashes(docs).distinct()
    capped = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= dedup.CLUSTER_GRAM_DF_MIN)
            & (F.col("df") <= dedup.CLUSTER_GRAM_DF_MAX)
        )
        .select("gh")
    )
    g = grams.join(capped, "gh")
    edges = (
        g.select("gh", F.col("doc_id").alias("src"))
        .join(g.select("gh", F.col("doc_id").alias("dst")), "gh")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .collect()
    )
    assert edges, "expected edges at test SF"
    for e in edges:
        assert labels[e.src] == labels[e.dst], (e.src, e.dst)
    # label = min of its component
    from collections import defaultdict

    members = defaultdict(list)
    for d, c in labels.items():
        members[c].append(d)
    for c, ms in members.items():
        assert c == min(ms), (c, ms)


def test_decontaminate_excludes_benchmark_docs(spark):
    """The contamination report covers corpus docs only (benchmark
    members are the reference, not subjects), and every flagged doc
    really shares ≥1 gram with some benchmark doc."""
    out = dedup.decontaminate_ngram(spark, SF_TEST).collect()
    for r in out:
        assert r.doc_id % 97 != 0
        assert r.n_shared_grams >= 1


def test_doc_repetition_matches_python_reference(spark):
    """Seeded fuzz: the sorted-array-fold multiplicity computation in
    doc_repetition must agree with a pure-Python Counter reference on
    adversarial token streams (runs, alternations, singletons, empty
    bigram edge at n=1)."""
    import random
    from collections import Counter

    from pyspark.sql import Row

    from data_ingestion_pipeline_spark.operators.text import _max_run

    rng = random.Random(42)
    vocab = ["a", "b", "c", "aa", "ab"]
    docs = []
    for i in range(200):
        n = rng.choice([1, 2, 3, 5, 20, 50])
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.3:  # inject a heavy run
            toks[: n // 2] = [toks[0]] * (n // 2)
        docs.append(Row(doc_id=i, text=" ".join(toks)))

    df = spark.createDataFrame(docs)
    toks_col = F.split(F.col("text"), " ")
    got = {
        r.doc_id: (r.m_tok, r.m_big)
        for r in df.select(
            "doc_id",
            _max_run(F.array_sort(toks_col)).alias("m_tok"),
            _max_run(
                F.array_sort(
                    F.filter(
                        F.zip_with(
                            toks_col,
                            F.slice(
                                toks_col, 2, F.greatest(F.size(toks_col) - 1, F.lit(0))
                            ),
                            lambda a, b: F.concat(a, F.lit(" "), b),
                        ),
                        lambda g: g.isNotNull(),
                    )
                )
            ).alias("m_big"),
        ).collect()
    }
    for row in docs:
        toks = row.text.split(" ")
        bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        want = (
            max(Counter(toks).values()),
            max(Counter(bigs).values()) if bigs else 0,
        )
        assert got[row.doc_id] == want, (row.doc_id, got[row.doc_id], want)


def test_dup_clusters_reliable_checkpoint_path(spark, tmp_path):
    """The cluster-deployment path (durable checkpoint dir instead of
    executor-memory localCheckpoint) must produce the identical
    labeling and actually write checkpoint files."""
    import os

    ckdir = str(tmp_path / "ck")
    default = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dup_clusters(spark, SF_TEST).collect()
    }
    reliable = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dup_clusters(spark, SF_TEST, checkpoint_dir=ckdir).collect()
    }
    assert reliable == default
    found = [
        os.path.join(d, f)
        for d, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert found, "reliable path must persist checkpoint files"


def test_jaccard_prefix_join_equals_exact(spark):
    """The prefix-filtered equi-join variant must reproduce the
    quadratic ground truth EXACTLY — same pairs, same jaccard values
    (both compute |A∩B|/|A∪B| over the same shingle sets, so even the
    float division is identical)."""
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(spark, SF_TEST).collect()
    }
    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.jaccard_prefix_join(spark, SF_TEST).collect()
    }
    assert fast == exact and len(exact) > 0


def test_jaccard_prefix_join_durable_checkpoint(spark, tmp_path):
    """The cluster deployment option: with a durable checkpoint_dir
    the intermediates land in a reliable store (checkpoint files exist
    on disk) and the result is identical to the localCheckpoint
    default — the lost-executor story costs a re-read, not the job."""
    base = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in dedup.jaccard_prefix_join(spark, SF_TEST).collect()
    }
    ckdir = str(tmp_path / "ck")
    durable = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in dedup.jaccard_prefix_join(
            spark, SF_TEST, checkpoint_dir=ckdir
        ).collect()
    }
    assert durable == base and len(base) > 0
    import os

    found = []
    for root, _dirs, files in os.walk(ckdir):
        found += files
    assert found, "durable checkpoint dir is empty"


def test_bigram_logprob_is_word_order_sensitive(spark):
    """The bigram score must see what unigrams can't: on the fixture
    corpus every score is a log-probability (ln p ≤ 0) and n_bigrams
    is the NON-EMPTY token count − 1; on a constructed corpus, two
    docs with identical token MULTISETS but different orderings score
    differently (the operator's whole point — unigram scores tie),
    irregular whitespace doesn't distort pairing, and a 1-token doc
    drops out."""
    from data_ingestion_pipeline_spark.operators import text

    out = {r.doc_id: r for r in text.doc_bigram_logprob(spark, SF_TEST).collect()}
    assert out and all(r.avg_bigram_logprob <= 0.0 for r in out.values())
    real_counts = {
        r.doc_id: r.n
        for r in text.load_table(spark, SF_TEST, "documents")
        .select(
            "doc_id",
            F.size(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("n"),
        )
        .collect()
    }
    for did, r in out.items():
        assert r.n_bigrams == real_counts[did] - 1, did

    tiny = spark.createDataFrame(
        [
            # 1 & 2: same multiset {a:3, b:2, c:2}, different order
            (1, "a b c a b c a"),
            (2, "a a  a b b c c"),  # double space: empties must not pair
            (3, "lonely"),          # <2 real tokens: no transitions
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in text.bigram_logprob(tiny).collect()}
    assert 3 not in got
    assert got[1].n_bigrams == 6 and got[2].n_bigrams == 6
    assert got[1].avg_bigram_logprob != got[2].avg_bigram_logprob


def test_train_bpe_matches_reference_and_is_deterministic(spark):
    """The distributed-count + driver-merge BPE trainer must reproduce
    a from-scratch pure-Python reference run on the same corpus
    (word-freq from raw text, greedy max-weight merges, lexicographic
    tie-break) and be run-to-run deterministic. Also pins the stop
    rule: no pair with weight >= 2 -> training halts (merging a
    singleton pair adds vocab without compression)."""
    from collections import Counter

    import duckdb

    from data_ingestion_pipeline_spark.operators.text import train_bpe
    from tests.conftest import SF_TEST

    got = train_bpe(spark, SF_TEST, num_merges=12)
    assert got == train_bpe(spark, SF_TEST, num_merges=12)  # deterministic

    texts = duckdb.sql(
        f"SELECT text FROM '{SF_TEST}/documents.parquet'"
    ).fetchall()
    freq = Counter(
        w for (t,) in texts for w in t.split(" ") if w
    )
    words = {tuple(w): c for w, c in freq.items()}
    want = []
    for _ in range(12):
        counts = Counter()
        for syms, c in words.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        want.append(best)
        merged = best[0] + best[1]
        nxt = {}
        for syms, c in words.items():
            acc, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    acc.append(merged)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            key = tuple(acc)
            nxt[key] = nxt.get(key, 0) + c
        words = nxt
    assert got == want, (got, want)


def test_incremental_merge_loop_matches_reference_fuzz():
    """_merge_loop (pair→words inverted index + lazy max-heap) must be
    output-identical to the textbook full-recount loop on adversarial
    small-alphabet corpora — ties, singleton stops, re-formed pairs."""
    import random

    from data_ingestion_pipeline_spark.operators.text import (
        _merge_loop,
        _merge_loop_reference,
    )

    rng = random.Random(7)
    for trial in range(150):
        words = {}
        for _ in range(rng.randint(1, 40)):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 9)))
            words[tuple(w)] = rng.randint(1, 9)
        nm = rng.randint(1, 30)
        assert _merge_loop(dict(words), nm) == _merge_loop_reference(
            dict(words), nm
        ), (trial, words, nm)


def test_incremental_merge_loop_is_faster_at_vocab_scale(monkeypatch):
    """The r11 loop rescanned every word type per merge; the
    incremental loop touches only affected words (11.9x faster at 50k
    types x 256 merges). Gate the work, not the wall clock: the
    reference rewrites every word type once per merge, and the
    incremental loop must rewrite far fewer (39x fewer on this seeded
    corpus; the gate asks for 10x)."""
    import random

    from data_ingestion_pipeline_spark.operators import text

    rng = random.Random(1)
    words = {}
    while len(words) < 20000:
        w = "".join(
            rng.choice("abcdefghijklmnop") for _ in range(rng.randint(3, 12))
        )
        words[tuple(w)] = rng.randint(1, 1000)
    ref = text._merge_loop_reference(dict(words), 128)
    rewrites = []
    apply_merge = text._apply_merge_word

    def counting(syms, a, b):
        rewrites.append(1)
        return apply_merge(syms, a, b)

    monkeypatch.setattr(text, "_apply_merge_word", counting)
    inc = text._merge_loop(dict(words), 128)
    assert inc == ref
    assert len(rewrites) * 10 <= len(ref) * len(words), len(rewrites)


def test_bpe_encode_roundtrip_against_pure_python(spark):
    """Train on the corpus, encode the corpus distributed, and match a
    from-scratch pure-Python sequential-apply encoder word for word.
    Also pins the shipped artifact's provenance: BPE_MERGES_V1 is
    exactly train_bpe(sf0.001, 24)."""
    from data_ingestion_pipeline_spark.operators.text import (
        BPE_MERGES_V1,
        bpe_encode,
        load_table,
        train_bpe,
    )
    from tests.conftest import SF_TEST

    merges = train_bpe(spark, SF_TEST, num_merges=24)
    assert merges == BPE_MERGES_V1

    docs = load_table(spark, SF_TEST, "documents")
    got = {
        r.doc_id: [list(toks) for toks in r.bpe_tokens]
        for r in bpe_encode(docs, merges).select("doc_id", "bpe_tokens").collect()
    }

    def encode_word(w: str) -> list[str]:
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    rows = docs.select("doc_id", "text").collect()
    assert len(got) == len(rows) > 0
    compressed_somewhere = False
    for r in rows:
        words = [w for w in r.text.split(" ") if w]
        want = [encode_word(w) for w in words]
        assert got[r.doc_id] == want, r.doc_id
        for w, toks in zip(words, want):
            assert "".join(toks) == w  # lossless
            if len(toks) < len(w):
                compressed_somewhere = True
    assert compressed_somewhere  # the merges actually fired


def test_bpe_vocab_ids_match_pure_python(spark):
    """Token-ID encode: Spark's map-lookup ids must equal a pure-Python
    encode+lookup over the same frozen artifact, and the vocab id
    scheme is deterministic (base alphabet then merge order)."""
    from data_ingestion_pipeline_spark.operators.text import (
        BPE_BASE_ALPHABET,
        BPE_MERGES_V1,
        bpe_encode_ids_corpus,
        bpe_vocab,
        load_table,
    )
    from tests.conftest import SF_TEST

    vocab = bpe_vocab(BPE_MERGES_V1)
    assert [vocab[c] for c in BPE_BASE_ALPHABET] == list(range(36))
    assert vocab[BPE_MERGES_V1[0][0] + BPE_MERGES_V1[0][1]] == 36

    def encode_word(w):
        syms = list(w)
        for a, b in BPE_MERGES_V1:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {r.doc_id: r for r in bpe_encode_ids_corpus(spark, SF_TEST).collect()}
    rows = load_table(spark, SF_TEST, "documents").select("doc_id", "text").collect()
    for r in rows:
        ids = [
            vocab[t]
            for w in r.text.split(" ")
            if w
            for t in encode_word(w)
        ]
        assert got[r.doc_id].n_tokens == len(ids)
        assert got[r.doc_id].id_sum == sum(ids)


def test_bpe_encode_fuzz_column_vs_pure_python(spark):
    """ADVICE r12 (high): the r12 replace chain matched across symbol
    boundaries — 'cow' encoded to the OOV symbol ['cow'] instead of
    ['c','ow'] because merge ('c','o') matched 'c<SEP>ow'. The
    corpus-pinned tests couldn't catch it (the corpus lacks triggering
    substrings); this fuzz test compares BOTH column encodes (the
    sentinel-anchored JVM chain and the rank-kernel Arrow stage)
    against the pure-Python sequential-apply spec on RANDOM strings."""
    import random

    from data_ingestion_pipeline_spark.operators.text import (
        BPE_MERGES_V1,
        BPE_SEP,
        _bpe_encode_col,
        bpe_encode,
        bpe_encode_word,
    )

    rng = random.Random(77)
    words = ["cow", "scow", "cowow"] + [
        "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
            for _ in range(rng.randint(1, 14))
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    for r in df.select(
        "w", _bpe_encode_col(F.col("w"), BPE_MERGES_V1).alias("enc")
    ).collect():
        assert r.enc == BPE_SEP.join(bpe_encode_word(r.w, BPE_MERGES_V1)), r.w

    docs = spark.createDataFrame(
        [(i, " ".join(words[i::10])) for i in range(10)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bpe_tokens for r in bpe_encode(docs, BPE_MERGES_V1).collect()}
    for i in range(10):
        want = [bpe_encode_word(w, BPE_MERGES_V1) for w in words[i::10]]
        assert [list(t) for t in got[i]] == want, i


def test_bpe_rank_kernel_equals_sequential_on_trained_lists(spark):
    """The production encoder's fast path (GPT-2 rank kernel) must
    equal the sequential-apply spec for every trained merge list; the
    soundness precondition (_rank_kernel_sound) holds for single-run
    train_bpe output, and an adversarial list violating it must fall
    back to the sequential path rather than diverge."""
    import random

    from data_ingestion_pipeline_spark.operators.text import (
        _merge_loop,
        _rank_kernel_sound,
        bpe_encode_word,
        make_bpe_encoder,
    )

    rng = random.Random(5)
    for trial in range(12):
        words = {}
        for _ in range(rng.randint(10, 60)):
            w = "".join(rng.choice("abcdef") for _ in range(rng.randint(2, 9)))
            words[tuple(w)] = rng.randint(1, 40)
        merges = _merge_loop(dict(words), rng.randint(1, 40))
        assert _rank_kernel_sound(merges), (trial, merges)
        enc = make_bpe_encoder(merges)
        for _ in range(150):
            w = "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 12)))
            assert enc(w) == bpe_encode_word(w, merges), (trial, w, merges)

    # adversarial: later merge's result == earlier merge's component
    # ('a','b') needs symbol 'ab' which merge 2 later produces via a
    # DIFFERENT decomposition — rank kernel would re-fire rank 0
    bad = [("ab", "c"), ("a", "b")]
    assert not _rank_kernel_sound(bad)
    enc = make_bpe_encoder(bad)  # must take the sequential path
    for w in ["abc", "abcabc", "aabbcc", "ababc"]:
        assert enc(w) == bpe_encode_word(w, bad), w


def _synthetic_trained_merges(n: int, seed: int = 3) -> list:
    """A structurally-valid (rank-kernel-sound) merge list of size n:
    components always exist before use, every result string is new."""
    import random

    rng = random.Random(seed)
    alphabet = list("abcdefghijklmnopqrstuvwxyz0123456789")
    symbols = list(alphabet)
    seen = set(symbols)
    merges = []
    while len(merges) < n:
        a = rng.choice(symbols)
        b = rng.choice(symbols)
        if len(a) + len(b) > 24:
            continue
        if (res := a + b) in seen:
            continue
        merges.append((a, b))
        seen.add(res)
        symbols.append(res)
    return merges


def test_bpe_encode_cost_flat_in_merge_count():
    """VERDICT r12 task 1 'done' criterion: per-word encode cost must
    be flat in merge-list size (1k/8k/32k). The rank kernel looks
    pairs up in a dict — |merges| only affects the one-time factory
    build — so a 32× larger vocabulary must not cost anywhere near
    32× per word. Generous 4× gate absorbs host variance."""
    import random
    import time

    from data_ingestion_pipeline_spark.operators.text import (
        _rank_kernel_sound,
        make_bpe_encoder,
    )

    merges_32k = _synthetic_trained_merges(32768)
    assert _rank_kernel_sound(merges_32k)
    rng = random.Random(11)
    words = [
        "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
            for _ in range(rng.randint(3, 14))
        )
        for _ in range(4000)
    ]

    def per_word_cost(n_merges: int) -> float:
        enc = make_bpe_encoder(merges_32k[:n_merges], memo_cap=0)  # no memo
        t0 = time.perf_counter()
        for w in words:
            enc(w)
        return time.perf_counter() - t0

    t_1k = per_word_cost(1024)
    t_32k = per_word_cost(32768)
    assert t_32k / max(t_1k, 1e-9) < 4.0, (t_1k, t_32k)


def test_bpe_jvm_chain_refuses_production_vocab():
    """Expression-depth contract (VERDICT r12 task 8): the JVM replace
    chain nests one Catalyst expression per merge — at 32k merges it
    would die inside codegen at plan time, so the builder refuses
    loudly with the Arrow alternative named, converting a 100×-scale
    cliff into an error message."""
    import pytest

    from data_ingestion_pipeline_spark.operators.text import (
        BPE_JVM_MAX_MERGES,
        _bpe_encode_col,
    )

    merges = _synthetic_trained_merges(BPE_JVM_MAX_MERGES + 1)
    with pytest.raises(ValueError, match="bpe_encode"):
        _bpe_encode_col(F.lit("word"), merges)


def test_bpe_arrow_path_compiles_at_production_vocab(spark):
    """The production path must actually WORK at 32k merges — not just
    refuse: the plan is a single Arrow stage whose size is independent
    of the merge list (it rides a broadcast), so 32k merges compile
    and execute where the expression chain could not."""
    from data_ingestion_pipeline_spark.operators.text import (
        bpe_encode,
        bpe_encode_word,
    )

    merges = _synthetic_trained_merges(32768)
    docs = spark.createDataFrame(
        [(1, "cow scanned window order"), (2, "sort column art")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bpe_tokens for r in bpe_encode(docs, merges).collect()}
    assert [list(t) for t in got[1]] == [
        bpe_encode_word(w, merges) for w in "cow scanned window order".split()
    ]
    assert [list(t) for t in got[2]] == [
        bpe_encode_word(w, merges) for w in "sort column art".split()
    ]


def test_minhash_index_probe_matches_batch_lsh(spark, tmp_path):
    """The persisted-index probe finds EXACTLY the batch-LSH pairs
    that involve ≥1 batch doc: signatures and bucket keys are pure
    functions of the text, so index rows persisted earlier cogroup
    identically to rows the batch operator computes fresh. Also pins
    the O(batch) append shape (prior index files carried by
    reference) and the param-mismatch refusal."""
    import os

    import pytest

    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_TEST, "documents")
    path = str(tmp_path / "mhidx")
    os.makedirs(path)

    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    dedup.minhash_index_append(spark, path, corpus)
    m1 = V._manifest(path)

    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_index_probe(spark, path, batch).collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_candidates(spark, SF_TEST).collect()
        if r.doc_a % 3 == 0 or r.doc_b % 3 == 0
    }
    assert got == want

    # append is O(batch): every prior index file carries by reference,
    # and a coalesce(1) batch adds exactly one file (no band layout
    # directories)
    dedup.minhash_index_append(spark, path, batch.coalesce(1))
    m2 = V._manifest(path)
    assert set(m1["files"]) <= set(m2["files"])
    added = set(m2["files"]) - set(m1["files"])
    assert len(added) == 1, sorted(added)

    # after the append, probing a FURTHER batch sees the first batch
    # as part of the indexed corpus (here: empty batch → no pairs)
    empty = batch.filter(F.lit(False))
    assert dedup.minhash_index_probe(spark, path, empty).count() == 0

    # param drift refuses instead of serving incomparable buckets
    meta_path = os.path.join(path, f"manifest_v{m2['version']}.json")
    import json as _json

    with open(meta_path) as fh:
        mm = _json.load(fh)
    mm["meta"]["minhash_index"] = {**mm["meta"]["minhash_index"], "n_bands": 4}
    V._atomic_json(meta_path, mm)
    with pytest.raises(ValueError, match="rebuild"):
        dedup.minhash_index_probe(spark, path, batch)
    with pytest.raises(ValueError, match="rebuild"):
        dedup.minhash_index_append(spark, path, batch)


def test_minhash_index_remove_and_meta_survives_maintenance(
    spark, tmp_path
):
    """r16 index maintenance: minhash_index_remove DV-masks the named
    docs in one commit (no band files rewritten — removed docs stop
    appearing as candidates immediately), and the stored params
    SURVIVE the maintenance commit: the param read walks history
    newest-first instead of trusting the head manifest's meta (the
    ADVICE r15 meta-riding trap — a DV commit writes its own meta,
    and a head-only read made the index 'disappear' after the first
    removal)."""
    import os

    import pytest

    from data_ingestion_pipeline_spark.operators import versioned as V
    from data_ingestion_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF_TEST, "documents")
    path = str(tmp_path / "mhidx_rm")
    os.makedirs(path)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    dedup.minhash_index_append(spark, path, corpus)
    before = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_index_probe(spark, path, batch).collect()
    }
    assert before, "fixture produced no cross pairs"
    victims = sorted(
        {d for a, b in before for d in (a, b) if d % 3 != 0}
    )[:2]
    assert victims
    m_files_before = set(V._manifest(path)["files"])
    dedup.minhash_index_remove(spark, path, victims)
    # params survive the DV commit's own meta (history walk)
    assert "minhash_index" not in V.manifest_meta(path)
    after = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_index_probe(spark, path, batch).collect()
    }
    gone = set(victims)
    assert after == {
        p for p in before if not (gone & set(p))
    }
    m2 = V._manifest(path)
    assert set(m2["files"]) == m_files_before  # nothing rewritten
    assert m2["dv"]["rows"] > 0
    # appends still work post-removal, DV carried by reference
    dedup.minhash_index_append(spark, path, batch)
    grown = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_index_probe(
            spark, path, batch.filter(F.lit(False))
        ).collect()
    }
    assert grown == set()
    with pytest.raises(ValueError, match="empty"):
        dedup.minhash_index_remove(spark, path, [])
