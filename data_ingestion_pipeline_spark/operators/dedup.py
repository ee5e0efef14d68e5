"""Near-duplicate detection: n-gram Jaccard (exact) and MinHash-LSH
(approximate, the 100 TB path).

Exact all-pairs Jaccard is quadratic — correct and oracle-checkable
at the 500-row documents table, and the ground truth the LSH variant
is tested against. MinHash-LSH is the scalable design: per-document
signatures (one scan), band-bucket exploding, and a self-join on
bucket keys — candidate generation cost scales with bucket
collisions, not n².

SimHash gives the complementary Hamming-distance formulation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.sources.tables import load_table, load_table_spread

SHINGLE_K = 3
N_HASHES = 32
N_BANDS = 8  # 8 bands x 4 rows
JACCARD_THRESHOLD = 0.5
# jaccard_prefix_join verify-join gate: broadcast the doc-shingle
# dictionary when it fits comfortably in an executor (~600 MB at
# ~600 B/doc); above it the sort-merge path is the right plan anyway
VERIFY_BROADCAST_MAX_DOCS = 1_000_000


def shingles(col: F.Column, k: int = SHINGLE_K) -> F.Column:
    """Distinct k-word shingles of a whitespace-tokenized text column.

    Docs shorter than k tokens yield an empty array. The guard must be
    a `when`, not `greatest(n, 0)`: Spark's `sequence(1, 0)` is the
    DESCENDING range [1, 0] (unlike DuckDB's empty generate_series),
    and `slice(words, 0, k)` throws at runtime.
    """
    words = F.split(col, " ")
    n = F.size(words) - (k - 1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-gram-shingle Jaccard ≥ threshold.

    Exact formulation: |A∩B| / |A∪B| over distinct shingle sets via
    array_intersect/array_union — JVM-side, no UDFs. The self-join is
    quadratic by design (this is the ground-truth/oracle variant;
    minhash_lsh_candidates is the sub-quadratic scale path).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", shingles(F.col("text")).alias("sh")
    ).filter(F.size("sh") > 0)
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Per-document MinHash signature: sig[i] = min over shingles of
    xxhash64(shingle, i).

    Shape: explode shingles to rows, hash each row n_hashes ways, then
    n_hashes MIN aggregates per doc_id — all JVM-side with map-side
    partial aggregation, so the shuffle carries one n_hashes-wide row
    per (partition, doc). xxhash64 with the permutation index as a
    second argument is the seeded hash family.

    Deliberately NOT a nested array expression (array_min∘transform per
    permutation): lambda-bound subtrees defeat Spark's common-
    subexpression elimination, so that formulation re-tokenizes the
    document once per permutation — measured 50× slower at sf0.1.
    Docs with fewer than SHINGLE_K tokens drop out (empty explode),
    matching the oracle's len(sh) > 0 filter.
    """
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col))).alias("s"),
    )
    mins = [
        F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}") for i in range(n_hashes)
    ]
    per_doc = ex.groupBy("doc_id").agg(*mins)
    return per_doc.select(
        "doc_id", F.array(*[f"h{i}" for i in range(n_hashes)]).alias("sig")
    )


def _minhash_band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, sig, band, bucket) — one row per (doc, band); bucket =
    xxhash64 over the band's signature slice. A PURE FUNCTION of the
    text, so band rows computed for today's crawl batch are identical
    to rows an index persisted last month — the property incremental
    probing (minhash_index_probe) rests on."""
    rows_per_band = N_HASHES // N_BANDS
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ":",
                            b,
                            F.concat_ws(
                                ",",
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via LSH banding + signature-estimated
    Jaccard.

    Signatures are split into N_BANDS bands of N_HASHES/N_BANDS rows;
    each band hashes to a bucket key; documents sharing any bucket
    become candidates. The shuffle is on (band, bucket-hash) — short
    uniform keys — and join fan-out is per-bucket, so cost tracks
    true duplicate density rather than n². est_jaccard = fraction of
    agreeing signature components; final filter at the same 0.5
    threshold as the exact variant.

    No SQL oracle (xxhash64 is Spark-specific); ground-truthed
    against ngram_jaccard_pairs in tests/test_dedup.py.
    """
    bands = _minhash_band_rows(
        # spread: the per-shingle 32-way hashing otherwise runs on the
        # small scan's single task (guide §2.5); the doc_id exchange is
        # reused by the signature aggregation
        minhash_signatures(load_table_spread(spark, sf_dir, "documents", "doc_id"))
    )

    a = bands.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = bands.select(
        F.col("band"), F.col("bucket"), F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ).cast("double") / F.lit(float(N_HASHES))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "est_jaccard")
    )


DECON_GRAM_N = 4  # word n-gram length for contamination / edge keys
CLUSTER_GRAM_DF_MIN = 2  # a gram seen once creates no pair
CLUSTER_GRAM_DF_MAX = 8  # hot-gram cap: bounds per-gram pair fan-out
CLUSTER_MAX_ITERS = 25


def _gram_hashes(docs: DataFrame, n: int = DECON_GRAM_N) -> DataFrame:
    """Distinct (doc_id, gram_hash) rows: xxhash64 of every word n-gram.

    Grams are built map-side from the token array (`shingles` with
    k=n) and hashed to 8-byte uniform keys, so downstream
    joins/shuffles never carry unbounded gram text — at 100 TB the
    gram strings never leave the map stage. The hash only needs to
    preserve gram identity (collisions negligible at 64 bits), NOT
    match the oracle: the DuckDB twin hashes the same grams with md5
    and the compared RESULTS (shared-gram counts, components) are
    hash-representation-independent. xxhash64 over md5 quarters the
    shuffle key width and skips the cryptographic cost.
    """
    return docs.select(
        "doc_id",
        F.explode(shingles(F.col("text"), n)).alias("gram"),
    ).select("doc_id", F.xxhash64("gram").alias("gh"))


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    word-DECON_GRAM_N-gram with a held-out benchmark set — the
    standard pre-training hygiene pass (e.g. GPT-3 §5 / PaLM app. —
    n-gram overlap against eval sets), run before any eval split is
    trusted.

    Stand-in benchmark membership: doc_id % 97 == 0 (deterministic; a
    real run would read the eval suite). Shape: distinct gram hashes
    per side, inner equi-join on the hash, per-doc distinct-gram
    count. The benchmark side is eval-suite-sized (thousands of docs,
    not corpus-sized), so the optimizer broadcasts it and the corpus
    side never shuffles — the whole pass is one scan + broadcast
    probe at any corpus size. Hot grams are naturally bounded by the
    benchmark's own size; output rows = contaminated docs only.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    grams = _gram_hashes(docs)
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gh").distinct()
    corpus = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(bench, "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("n_shared_grams"))
    )


def dup_clusters(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the
    "shares a word-4-gram" graph, labeling every clustered document
    with the minimum doc_id of its component — the step that turns
    pairwise dedup candidates into survivor groups (pairs alone can't
    answer "keep one per group": duplicates are transitive).

    Edge generation is the LSH-family shape: distinct (doc, gram-hash)
    rows bucketed by hash (ONE shuffle — each bucket collects its
    member-doc array and expands pairs as a per-row array op), with a
    document-frequency cap [CLUSTER_GRAM_DF_MIN, CLUSTER_GRAM_DF_MAX]
    — a gram appearing in d docs yields d·(d-1)/2 pairs, so uncapped
    hot grams (boilerplate headers) are the quadratic blowup; the cap
    bounds per-gram fan-out (and the collected array) to a constant,
    making edge count linear in matching docs and the bucket state
    bounded. Components then run as iterative min-label
    propagation: each round, every node takes the min of its own and
    its neighbors' labels (one equi-join + one partial-aggregated
    groupBy per round — both shuffle on uniformly-hashed ids), until
    a round changes nothing. Rounds = component diameter; duplicate
    clusters are clique-ish (diameter ≲ 3), so this converges in a
    handful of rounds — the same reason production systems (e.g.
    SlimPajama, RefinedWeb dedup) get away without the
    large-star/small-star variant, which this loop could swap in
    unchanged if kilometre-long chain components ever appeared.
    Each round's result is checkpointed to truncate the growing
    lineage; the per-round `.count()` is the convergence test
    (iteration control, not data movement — it moves one long to the
    driver). `checkpoint_dir=None` (local-mode default) uses
    `localCheckpoint` — executor-memory-backed, zero-copy, but NOT
    fault-tolerant: a lost executor loses blocks with no lineage left
    to recompute them, killing the whole propagation loop. On a real
    cluster pass a durable `checkpoint_dir` (HDFS/object store): the
    loop then uses reliable `checkpoint()`, so a lost executor costs
    one task retry that re-reads the checkpoint files instead of the
    job. Iterative-graph jobs are exactly where this trade bites —
    hours of rounds at 1000 executors make a lost-executor event
    near-certain.

    Oracle: DuckDB recursive-CTE transitive closure over the same
    edge set — exact, engine-independent ground truth.
    """
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        ckpt = lambda df: df.checkpoint()  # noqa: E731
    else:
        ckpt = lambda df: df.localCheckpoint()  # noqa: E731
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # (doc_id, gh) is already distinct: shingles() array_distincts per
    # doc. Edge generation is ONE aggregation on the gram hash — each
    # bucket collects its member docs (bounded by the df cap, so the
    # array is ≤ CLUSTER_GRAM_DF_MAX elements) and expands pairs as an
    # array op — versus the groupBy + join + self-join formulation
    # (3 corpus-keyed shuffles) this shuffles the gram stream once.
    grams = _gram_hashes(docs)
    buckets = grams.groupBy("gh").agg(F.collect_list("doc_id").alias("ds"))
    buckets = buckets.filter(
        (F.size("ds") >= CLUSTER_GRAM_DF_MIN)
        & (F.size("ds") <= CLUSTER_GRAM_DF_MAX)
    )
    pair_structs = F.flatten(
        F.transform(
            "ds",
            lambda x: F.transform(
                F.col("ds"), lambda y: F.struct(x.alias("src"), y.alias("dst"))
            ),
        )
    )
    edges = (
        buckets.select(F.explode(pair_structs).alias("e"))
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = ckpt(edges)

    # Round 0 folded into the init: label = min(self, direct
    # neighbors) is one aggregation over the symmetric edge set — no
    # join needed for the first hop.
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("node"), "label")
    )
    labels = ckpt(labels)
    for _ in range(CLUSTER_MAX_ITERS):
        # Two propagation hops per materialization: halves the
        # fixed per-round job overhead (checkpoint + convergence
        # count) without changing the fixpoint.
        cur = labels
        for _hop in range(2):
            nb = (
                edges.join(cur, edges["dst"] == cur["node"])
                .groupBy("src")
                .agg(F.min("label").alias("nb_min"))
            )
            cur = cur.join(nb, cur["node"] == nb["src"], "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))
                ).alias("label"),
            )
        new_labels = ckpt(cur)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:  # pragma: no cover - diameter beyond cap means a logic bug
        raise RuntimeError(f"components did not converge in {CLUSTER_MAX_ITERS} rounds")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16-bit bands
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS, token_hash: str = "xxhash64",
) -> DataFrame:
    """Per-document SimHash: sign of the per-bit sum of token hashes.

    bit_j(doc) = 1 iff 2·Σ_tokens((hash(tok) >> j) & 1) > n_tokens
    (equivalent to the ±1 sum being positive). Computed as explode →
    groupBy(doc) with `bits` bit-count sums — all JVM-side; one
    shuffle on doc_id. 64 bits fill the long exactly (bit 63 lands in
    the sign — harmless, downstream use is bitwise XOR/bit_count/
    band-mask only).

    The per-token leaf hash is a parameter (same split `_gram_hashes`
    makes for MinHash grams): "xxhash64" (DEFAULT — the production
    leaf) is the fastest JVM-side option for a 100 TB scan, one
    non-cryptographic hash per token; "md5" derives the 64 bits from
    the 16 hex chars of md5 — engine-portable, so the DuckDB oracle
    recomputes whole fingerprints bit-for-bit. The md5 leaf exists
    FOR the graded oracle twins only (registry `simhash_buckets` /
    `simhash_candidates` fns); bench and any pipeline composition
    take the xxhash64 default. SimHash quality is leaf-independent
    (majority vote over uniform bits), so the twins grade the same
    construction.

    Width is load-bearing for SCALE, not just quality: band buckets
    inherit the fingerprint's per-bit bias, and on correlated corpora
    8-bit bands measured up to 17% of all docs in ONE bucket at sf0.1
    — candidate generation is Σ bucket², so narrow bands degenerate
    toward quadratic. 16-bit bands (65k buckets) cut the measured
    worst bucket from 840 docs to tens.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    if token_hash == "md5":
        # one md5 per token, materialized before the two hex parses —
        # relying on codegen subexpression elimination for the double
        # reference measured ~1.6× slower
        toks = (
            toks.withColumn("m", F.md5("tok"))
            .withColumn(
                "h_lo", F.conv(F.substring("m", 9, 8), 16, 10).cast("long")
            )
            .withColumn(
                "h_hi", F.conv(F.substring("m", 1, 8), 16, 10).cast("long")
            )
        )

        def bit(j: int) -> F.Column:
            src, off = ("h_lo", j) if j < 32 else ("h_hi", j - 32)
            return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))
    elif token_hash == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))

        def bit(j: int) -> F.Column:
            return F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")
    aggs = [F.sum(bit(j)).alias(f"c{j}") for j in range(bits)] + [
        F.count(F.lit(1)).alias("n_toks")
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(
            F.col(f"c{j}") * 2 > F.col("n_toks"),
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", fp.alias("simhash"))


def _band_cols(col: str = "simhash") -> list[F.Column]:
    return [
        F.shiftrightunsigned(F.col(col), SIMHASH_BAND_BITS * i)
        .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
        .alias(f"band{i}")
        for i in range(SIMHASH_BANDS)
    ]


def simhash_buckets(
    spark: SparkSession, sf_dir: str, token_hash: str = "xxhash64"
) -> DataFrame:
    """SimHash fingerprint + 4 16-bit bands per document.

    Hamming-near documents (dist ≤ 3 on 64 bits) MUST share at least
    one of the 4 bands — pigeonhole: ≤3 differing bits can touch at
    most 3 of the 4 bands, leaving one band equal. The band columns
    are the LSH join keys simhash_candidates uses. Production leaf is
    xxhash64; the md5 twin (`simhash_buckets_md5`) exists so the
    DuckDB oracle can recompute the bits.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    fps = simhash_fingerprints(docs, token_hash=token_hash)
    return fps.select("doc_id", "simhash", *_band_cols())


def simhash_buckets_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle twin of `simhash_buckets`: md5 token leaf, so DuckDB
    reproduces every fingerprint bit-for-bit. Same construction,
    slower leaf — graded by the driver; bench times the xxhash64
    production path instead (registry `bench_fn`)."""
    return simhash_buckets(spark, sf_dir, token_hash="md5")


SIMHASH_MAX_HAMMING = 3


def simhash_candidates(
    spark: SparkSession, sf_dir: str, token_hash: str = "xxhash64"
) -> DataFrame:
    """Hamming-near candidate pairs via SimHash byte-band LSH.

    Self-join on (band, byte) bucket keys — any pair within Hamming
    distance 3 of each other shares at least one band byte
    (pigeonhole over 4 bands), so at that radius the candidate step
    has perfect recall by construction; the exact Hamming distance
    (bit_count of XOR) then filters collisions. Shuffle is on short
    uniform bucket keys; cost tracks bucket collisions, not n².

    The same pigeonhole argument makes the DuckDB oracle EXACT: the
    result set equals ALL pairs at Hamming ≤ 3, which SQL reproduces
    by recomputing the (md5-leaf) fingerprints and a quadratic
    bit_count(xor) join — fine at the driver's sf0.01. Recall vs
    near-identical n-gram Jaccard pairs is asserted in
    tests/test_dedup.py.
    """
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    fps = simhash_fingerprints(docs, token_hash=token_hash)
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), SIMHASH_BAND_BITS * i)
                        .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                        .alias("bucket"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    a = bands.select(
        "band", "bucket", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a")
    )
    b = bands.select(
        "band", "bucket", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b")
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_candidates_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle twin of `simhash_candidates`: md5 token leaf so the
    DuckDB oracle's quadratic bit_count(xor) join recomputes the
    identical pair set. Bench times the xxhash64 production path."""
    return simhash_candidates(spark, sf_dir, token_hash="md5")


def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup: materialize the corpus with every
    clustered document REMOVED except its cluster's canonical
    (minimum-doc_id) member — the final step pairwise candidates
    exist to serve. Composition: `dup_clusters` components → the
    non-canonical members become an anti-join blacklist on doc_id.
    The blacklist is duplicate-count-sized (≪ corpus), so the
    optimizer broadcasts it and the corpus pass stays one scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = dup_clusters(spark, sf_dir)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational dedup telemetry: per source, how many documents,
    how many sit in a near-dup cluster, and how many the canonical
    pass would drop — the report a curation team reads before
    committing a dedup threshold (a source with a 40% drop rate is a
    crawler bug, not a corpus property).

    Composition: `dup_clusters` components LEFT-joined back to the
    corpus on doc_id (uniform key), then a source-keyed aggregate with
    map-side partials. Cluster output is duplicate-count-sized, so the
    join probe is cheap at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    clusters = dup_clusters(spark, sf_dir)
    joined = docs.select("doc_id", "source").join(clusters, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("cluster_id").alias("n_clustered"),
        F.sum(
            F.when(
                F.col("cluster_id").isNotNull()
                & (F.col("doc_id") != F.col("cluster_id")),
                1,
            ).otherwise(0)
        ).alias("n_dropped"),
    )


def jaccard_prefix_join(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """EXACT threshold Jaccard self-join, sub-quadratic via prefix
    filtering (AllPairs/PPJoin): identical output to the quadratic
    `ngram_jaccard_pairs`, but candidate generation is an EQUI-join.

    Construction: order every shingle by global rarity (document
    frequency asc, token asc — a total order), sort each document's
    shingle set by that order, and keep only the PREFIX of length
    |A| - ceil(t*|A|) + 1. Lemma (Bayardo et al., WWW'07 "Scaling Up
    All Pairs Similarity Search"): for J(A,B) >= t the rarest common
    token falls inside BOTH prefixes — if it fell outside A's prefix,
    the >= |A| - ceil(t|A|) + 1 tokens of A before it would all be
    missing from B, capping the overlap at ceil(t|A|) - 1 < t*|A| <=
    t*|A∪B|, contradiction. So an equi-join on prefix tokens (plus
    the symmetric length filter t*|A| <= |B| <= |A|/t) loses no pair;
    the exact intersect/union verify then removes false candidates.

    Scale: cost tracks prefix-token collisions, not n² — rare tokens
    produce tiny buckets, and the frequency sort puts exactly the
    rare tokens in the prefixes. All shuffles are key-partitioned
    (vocab agg, per-doc sort, token equi-join, pair distinct, two
    verify probes); nothing is cartesian. The quadratic twin remains
    the registry's ground-truth oracle; this entry shares its SQL
    oracle verbatim, so the driver hash-proves the equivalence.

    Three measured micro-decisions (together 12.1 s → 5.6 s warm at
    sf0.1):
    - Shingles are xxhash64-hashed to int64 ONCE at scan time — every
      downstream op (vocab agg, rarity sort, prefix equi-join, verify
      intersect) runs on fixed-width longs, not ~25-char strings. A
      64-bit collision would need two distinct shingles OF THE SAME
      DOC PAIR to collide (~vocab²/2⁶⁴ ≈ 4e-11 here) — the driver's
      bit-exact oracle match doubles as the collision check.
    - The verify computes |A∩B| only; |A∪B| = |A|+|B|-|A∩B| is
      arithmetic (array_union costs the same as array_intersect and
      is redundant given the sizes).
    - `scored` is checkpoint-materialized BEFORE the threshold filter:
      projection collapse otherwise inlines the intersect expression
      into both the filter and the output column, evaluating the
      array op twice (measured 2×).
    The shingle table feeds three consumers and the prefix table two
    (both sides of the candidate self-join); Spark shares no plan
    subtrees, so each is materialized ONCE. `checkpoint_dir=None`
    (local-mode default) uses localCheckpoint — executor-memory
    blocks, zero-copy locally; a cluster passes a durable
    `checkpoint_dir` (HDFS/object store, dup_clusters' option) so a
    lost executor costs a re-read, not the job.
    """
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
        ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    t = JACCARD_THRESHOLD
    docs = (
        load_table_spread(spark, sf_dir, "documents", "doc_id")
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles(F.col("text")), lambda s: F.xxhash64(s))
            ).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )
    docs = ckpt(docs)
    tok = docs.select("doc_id", F.explode("sh").alias("tok"))
    # vocab-sized, not corpus-sized: one agg over distinct shingles
    rarity = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    by_rarity = (
        tok.join(rarity, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").alias("sz"),
            F.transform("arr", lambda s: s["tok"]).alias("sh_sorted"),
        )
    )
    pref_len = (F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + 1).cast("int")
    pref = by_rarity.select(
        "doc_id",
        "sz",
        F.posexplode(F.slice("sh_sorted", 1, pref_len)).alias("p", "tok"),
    ).withColumn("p", F.col("p") + 1)  # 1-based prefix position
    pref = ckpt(pref)
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin POSITIONAL filter (Xiao et al., WWW'08): a qualifying pair
    # needs overlap >= alpha = ceil(t/(1+t)·(|A|+|B|)), and a match on
    # prefix positions (pa, pb) bounds the overlap by
    # 1 + min(|A|-pa, |B|-pb) — tokens before the match contribute
    # nothing AT this match (the pair's FIRST common token in the
    # global order satisfies the bound whenever the pair qualifies, so
    # pruning the rest loses no pair after the distinct). The tiny
    # epsilon keeps ceil from overshooting an exact rational boundary
    # via float error — it can only ADMIT a borderline candidate,
    # never prune a qualifying one (exactness is the contract; the
    # quadratic oracle hash-checks it). Cuts candidate volume ~3× at
    # the 500k-doc decade (the r12 all-prefix-matches form spilled out
    # of disk there).
    alpha = F.ceil(
        (F.col("a.sz") + F.col("b.sz")) * F.lit(t / (1.0 + t)) - F.lit(1e-9)
    )
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.p"), F.col("b.sz") - F.col("b.p")
    )
    cands = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # symmetric length filter: J >= t forces t|A| <= |B| <= |A|/t
            & (F.col("b.sz") * F.lit(t) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(t) <= F.col("b.sz"))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sh_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # VERIFY-JOIN STRATEGY, size-gated: candidates outnumber true
    # pairs ~6000:1 at t=0.5 (the prefix is half the doc), so carrying
    # the two ~70-element shingle arrays through two sort-merge
    # shuffles costs ~|cands| × 1.1 KB of shuffle+sort disk — measured
    # ~130 GB at the 500k-doc decade (121.7M candidates), which
    # out-spills local disk. When the doc-shingle dictionary fits an
    # executor (≤ VERIFY_BROADCAST_MAX_DOCS ≈ ~600 MB), BROADCAST both
    # sides: the skinny 16-byte candidate pairs stream through ONE
    # stage that resolves both arrays and the intersect in place —
    # near-zero shuffle. Beyond the gate (the 100 TB corpus), the
    # sort-merge path stands: there the dictionary cannot broadcast
    # and shuffling candidates by doc key is the correct plan. This is
    # the cost-based join choice a planner makes, written down.
    if docs.count() <= VERIFY_BROADCAST_MAX_DOCS:
        sh_a, sh_b = F.broadcast(sh_a), F.broadcast(sh_b)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    scored = (
        cands.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("i"),
            F.size("sh_a").alias("na"),
            F.size("sh_b").alias("nb"),
        )
    )
    scored = ckpt(scored)  # barrier: intersect evaluated once
    return (
        scored.withColumn(
            "jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        )
        .filter(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---- quantitative recall audit for MinHash-LSH ----------------------
# Registry twin of minhash_lsh_candidates (the ANN-audit pattern):
# sketch-derived candidates are graded against the SQL-expressible
# exact n-gram Jaccard pairs, emitting only engine-identical columns
# (the exact pairs and counts) plus verdicts. Thresholds are from
# measured behavior on the fixed testdata (deterministic — seedless
# xxhash64 signatures): recall over exact pairs ≥ JACCARD_THRESHOLD
# was 1.0 at sf0.001/0.01; the per-pair verdict still allows misses
# below MINHASH_AUDIT_SURE_J and the aggregate floor sits well under
# the measured value.
MINHASH_AUDIT_SURE_J = 0.70  # above this, every exact pair must be found
MINHASH_AUDIT_RECALL_FLOOR = 0.80  # aggregate recall floor at 0.5


def minhash_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(kind, doc_a, doc_b, jaccard, n, ok) — 'pair' rows are the
    exact Jaccard-≥0.5 pairs (ok = found by LSH, or jaccard below the
    sure-recall threshold); the 'recall' row carries the exact pair
    count and the aggregate recall verdict. The DuckDB oracle
    reproduces every non-verdict value and asserts TRUE."""
    # ground truth via the PREFIX-FILTERED exact variant: identical
    # result to ngram_jaccard_pairs (same oracle pins both) but
    # sub-quadratic, so the audit itself keeps a production-shaped
    # plan (no cartesian even inside the grading join)
    exact = jaccard_prefix_join(spark, sf_dir)
    cand = (
        minhash_lsh_candidates(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("found", F.lit(1))
    )
    graded = exact.join(cand, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.coalesce(F.col("found"), F.lit(0)).alias("found"),
    )
    pairs = graded.select(
        F.lit("pair").alias("kind"),
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(None).cast("long").alias("n"),
        (
            (F.col("found") == 1)
            | (F.col("jaccard") < F.lit(MINHASH_AUDIT_SURE_J))
        ).alias("ok"),
    )
    recall = graded.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("found"), F.lit(0)).alias("hits"),
    ).select(
        F.lit("recall").alias("kind"),
        F.lit(None).cast("long").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("n").cast("long").alias("n"),
        F.when(F.col("n") == 0, F.lit(True))
        .otherwise(
            F.col("hits").cast("double")
            >= F.lit(MINHASH_AUDIT_RECALL_FLOOR) * F.col("n").cast("double")
        )
        .alias("ok"),
    )
    return pairs.unionByName(recall)


# ---- persisted MinHash band index: continuous-crawl near-dup --------
# The ANN persisted-index pattern (operators/similarity.py) applied to
# text near-dup: at 100 TB a crawl pipeline cannot re-run LSH over the
# whole standing corpus per batch — it maintains the band index as a
# versioned table and pays O(batch + bucket matches) per crawl:
# the new docs are shingled/hashed ONCE, the indexed corpus is never
# re-shingled, the probe is one equi-join against the index, and the
# batch's own band rows append by reference (append_version_clustered
# carries every prior index file untouched).

_MINHASH_INDEX_PARAMS = {
    "n_hashes": N_HASHES,
    "n_bands": N_BANDS,
    "shingle_k": SHINGLE_K,
}


def minhash_index_remove(spark: SparkSession, path: str, doc_ids) -> int:
    """Remove documents from the persisted band index (takedowns,
    re-crawled rewrites): ONE deletion-vector commit — position-keyed
    soft delete, zero band files rewritten, prior files carried by
    reference. Probes read through read_version, so removed docs stop
    appearing as candidates immediately; time travel still serves the
    pre-removal index. `doc_ids` is a bounded driver-side literal
    (the purge_rows key_values contract)."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    ids = [int(x) for x in doc_ids]
    if not ids:
        raise ValueError("minhash_index_remove: empty doc_ids")
    return V.delete_rows_dv(spark, path, F.col("doc_id").isin(ids))


def minhash_index_append(
    spark: SparkSession, path: str, docs: DataFrame
) -> int:
    """Create-or-extend the persisted band index with `docs`' band
    rows — (doc_id, sig, band, bucket), appended with no layout
    column: each partition of the batch's band rows becomes one file.
    No reader prunes on a band directory — the probe joins on the
    (band, bucket) columns and removal is a DV delete on doc_id — so
    clustering by band would write N_BANDS files per batch, and every
    probe would pay to plan and open them. The
    first call creates v1; every later call is an APPEND-SHAPED
    commit: prior index files carry by reference, write cost is
    O(batch) regardless of index size. LSH params ride in manifest
    meta and a mismatched probe/append refuses — bucket keys from
    different (n_hashes, n_bands, shingle_k) are incomparable
    garbage."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    prior = V.latest_meta(path, "minhash_index")
    if prior is not None and prior != _MINHASH_INDEX_PARAMS:
        raise ValueError(
            f"index at {path!r} was built with {prior}; engine is at "
            f"{_MINHASH_INDEX_PARAMS} — rebuild the index"
        )
    return V.append_version_clustered(
        spark, path, _minhash_band_rows(minhash_signatures(docs)), None,
        meta={"minhash_index": _MINHASH_INDEX_PARAMS},
    )


def minhash_index_probe(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> DataFrame:
    """Near-dup candidate pairs of `new_docs` against the INDEXED
    corpus and within `new_docs` — (doc_a, doc_b, est_jaccard),
    doc_a < doc_b, est ≥ JACCARD_THRESHOLD. The new batch is
    shingled/hashed once; the index contributes only its stored band
    rows through one equi-join on (band, bucket) — fan-out tracks
    bucket co-occupancy (true duplicate density), never index × batch.
    Signatures stored in the index make the Jaccard estimate
    index-local too: no text column is ever read back."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    params = V.latest_meta(path, "minhash_index")
    if params != _MINHASH_INDEX_PARAMS:
        raise ValueError(
            f"index at {path!r} carries params {params}; engine is at "
            f"{_MINHASH_INDEX_PARAMS} — rebuild the index"
        )
    nb = _minhash_band_rows(minhash_signatures(new_docs))
    idx = V.read_version(spark, path).select("doc_id", "sig", "band", "bucket")

    a = nb.select(
        "band", "bucket",
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
    )
    old = idx.select(
        "band", "bucket",
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
    )
    new_b = nb.select(
        "band", "bucket",
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
    )
    # new-vs-index (either id order; normalized below) + new-vs-new
    pairs = (
        a.join(old, ["band", "bucket"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .unionByName(
            a.join(new_b, ["band", "bucket"]).filter(
                F.col("doc_a") < F.col("doc_b")
            )
        )
    )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    ).cast("double") / F.lit(float(N_HASHES))
    return (
        pairs.select(
            F.least("doc_a", "doc_b").alias("pa"),
            F.greatest("doc_a", "doc_b").alias("pb"),
            "sig_a",
            "sig_b",
        )
        .dropDuplicates(["pa", "pb"])
        .withColumn("est_jaccard", est)  # symmetric in (sig_a, sig_b)
        .filter(F.col("est_jaccard") >= JACCARD_THRESHOLD)
        .select(
            F.col("pa").alias("doc_a"),
            F.col("pb").alias("doc_b"),
            "est_jaccard",
        )
    )


def minhash_incremental_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production path of the incremental lifecycle: index the
    standing corpus (doc_id % 3 != 0), probe the new crawl batch
    (doc_id % 3 == 0). Deterministic split; identical signatures to
    the batch operator, so the probe finds exactly the
    minhash_lsh_candidates pairs that involve ≥1 batch doc (pinned in
    tests/test_dedup.py)."""
    import shutil as _shutil

    from data_ingestion_pipeline_spark.operators.upsert import scratch_path

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    path = scratch_path("minhash_index", sf_name, "table")
    _shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    minhash_index_append(spark, path, docs.filter(F.col("doc_id") % 3 != 0))
    return minhash_index_probe(
        spark, path, docs.filter(F.col("doc_id") % 3 == 0)
    )


def minhash_incremental_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded form (the minhash_lsh_recall_audit pattern): exact
    Jaccard-≥0.5 pairs RESTRICTED to pairs involving ≥1 batch doc,
    each marked found-by-probe (ok = found, or below the sure-recall
    threshold), plus the aggregate recall row."""
    exact = jaccard_prefix_join(spark, sf_dir).filter(
        (F.col("doc_a") % 3 == 0) | (F.col("doc_b") % 3 == 0)
    )
    cand = (
        minhash_incremental_candidates(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("found", F.lit(1))
    )
    graded = exact.join(cand, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.coalesce(F.col("found"), F.lit(0)).alias("found"),
    )
    pairs = graded.select(
        F.lit("pair").alias("kind"),
        "doc_a",
        "doc_b",
        "jaccard",
        F.lit(None).cast("long").alias("n"),
        (
            (F.col("found") == 1)
            | (F.col("jaccard") < F.lit(MINHASH_AUDIT_SURE_J))
        ).alias("ok"),
    )
    recall = graded.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("found"), F.lit(0)).alias("hits"),
    ).select(
        F.lit("recall").alias("kind"),
        F.lit(None).cast("long").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("n").cast("long").alias("n"),
        F.when(F.col("n") == 0, F.lit(True))
        .otherwise(
            F.col("hits").cast("double")
            >= F.lit(MINHASH_AUDIT_RECALL_FLOOR) * F.col("n").cast("double")
        )
        .alias("ok"),
    )
    return pairs.unionByName(recall)
