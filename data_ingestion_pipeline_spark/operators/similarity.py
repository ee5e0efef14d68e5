"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (oracle-checked);
the approximate path computes 128-bit hyperplane signatures, coarse-
ranks candidates by signature Hamming distance, and exactly rescores
only a small shortlist per query.

Exactness design: dot products and norms accumulate as FIXED-POINT
LONGS — each elementwise product is quantized once via
``floor(x*y*1e12)`` (floor of a double is IEEE-defined, no
rounding-mode ambiguity) and summed as 64-bit integers, which is
exact, associative, and commutative. The result is therefore
identical under any partitioning, on one core or 1000 executors, and
matches the DuckDB oracle computing the same expression bit-for-bit.
The only float ops afterwards are divide/sqrt on identical inputs —
correctly-rounded IEEE, so engine-identical too.

Overflow headroom: testdata embeddings are 64-dim with |x| ≤ 0.6, so
|floor(x·y·1e12)| ≤ 3.6e11 and a 64-dim sum ≤ 2.4e13 ≪ 2^63; even
4096-dim unit vectors stay < 4.1e15.
"""

from __future__ import annotations

import math
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.sources.tables import load_table, load_table_spread

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
N_PLANES = 128  # hyperplane signature bits (2 packed longs)
# ADC/Hamming shortlist size per query before exact rerank. 128 (up
# from 64, r10): the rerank is SHORTLIST exact dots per query —
# constant per query at any corpus size — and the wider shortlist is
# what lifts PQ's measured mean recall from 0.82 to ~1.0 at sf0.1.
SHORTLIST = 128
FIXED_SCALE = 1e12  # fixed-point quantum for exact dot products
EMB_SCALE = 1e6  # fixed-point quantum for signature/band projections


def _fixed_dot(a, b) -> F.Column:
    """Exact fixed-point dot product of two float-array columns, as double.

    Quantizes each product once (floor at 1e-12 resolution), then sums
    longs — see module docstring for why this is engine- and
    partitioning-independent.
    """
    terms = F.zip_with(
        a,
        b,
        lambda x, y: F.floor(
            (x.cast("double") * y.cast("double")) * F.lit(FIXED_SCALE)
        ),
    )
    total = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)
    return total.cast("double") / F.lit(FIXED_SCALE)


def _with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    return df.withColumn("nrm", F.sqrt(_fixed_dot(F.col(vec), F.col(vec))))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries (vec_id < N_QUERIES) are broadcast — the candidate side
    streams through once, so the plan reads the 100 TB embedding
    table exactly once regardless of query count. Ranking tie-breaks
    on neighbor_id.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", _fixed_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K hard negatives per query: the most-similar candidates
    whose LABEL DIFFERS from the query's — the contrastive-training
    mining step (a near-identical wrong-class example is worth more
    gradient than a random one). Same single-scan broadcast
    construction as cosine_topk with one extra predicate: the
    label-mismatch filter lands BEFORE the ranking window, so the
    100 TB candidate stream is scored once and only cross-label pairs
    enter the per-query top-K. Exact fixed-point cosine keeps the
    ranking engine-independent; ties break on neighbor_id.

    At training scale this composes with the ANN variants (mine from
    an IVF/Hamming shortlist instead of the full scan) — the exact
    form here is the oracle-checkable contract.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_label") != F.col("c_label"))
        .withColumn(
            "cosine",
            _fixed_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "c_label", "cosine", "rank")
    )


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    — the storage/bandwidth play of every large vector store (4×
    smaller than float32, 8× than float64; dot products become int8
    GEMM). Per vector: max_abs = max|x_i| is the scale anchor,
    q_i = floor(x_i / max_abs · 127) ∈ [-127, 127].

    Map-only (no shuffle at any scale), pure JVM higher-order
    functions. floor, not round: IEEE half-even tie handling differs
    in spirit across engines/libraries, floor of an exact double
    expression is bit-deterministic everywhere — the oracle reproduces
    q_i exactly, making the quantizer itself contract-checked, not
    just its downstream recall (that recall floor is pinned in
    tests/test_similarity.py::test_int8_quantization_preserves_topk).
    all-zero vectors quantize to zeros (scale guard), not NaN.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    x_abs = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    out = emb.withColumn("max_abs", F.array_max(x_abs))
    qvec = F.when(
        F.col("max_abs") == 0.0,
        F.transform("embedding", lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") / F.col("max_abs") * F.lit(127.0)
            ).cast("int"),
        )
    )
    return out.select("vec_id", "max_abs", qvec.alias("qvec"))


def embedding_quantize_int8_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry form of the int8 quantizer: the (vec_id, dim index,
    q_i) long layout — scalar columns only, so the driver's value hash
    covers every quantized element (array cells don't hash portably
    across engines). posexplode is the same Expand fan-out the oracle's
    unnest does; the array form above is the product API."""
    q = embedding_quantize_int8(spark, sf_dir)
    return q.select(
        "vec_id", "max_abs", F.posexplode("qvec").alias("i", "q")
    ).select("vec_id", "max_abs", (F.col("i") + 1).alias("i"), "q")


_PLANE_WEIGHTS_CACHE: dict[tuple[int, int, str], np.ndarray] = {}


def _plane_weights(n_planes: int, dim: int, salt: str = "") -> np.ndarray:
    """Deterministic hyperplane weight matrix, shape (dim, n_planes),
    int64 entries ∈ [-501501, 501501]: an md5 draw per (plane, dim)
    computed ONCE driver-side (a few thousand hashes) — seeded,
    engine-independent. A cheaper multiplicative-hash table had
    lattice structure (weights linear in d mod a prime) that
    correlated the planes and halved recall — a real hash is load-
    bearing here. Symmetric range: a sign-biased distribution also
    correlates the bits. `salt` yields an independent plane family
    (the band tables must not reuse the signature planes).

    Memoized per (n_planes, dim, salt): the table is a pure function
    of its arguments (never of data), and the multi-table band
    construction draws up to dim × tables·bits ≈ 10⁶ hashes — seconds
    of driver-side Python that every plan construction (append, probe,
    batch LSH) would otherwise re-pay.
    """
    key = (n_planes, dim, salt)
    cached = _PLANE_WEIGHTS_CACHE.get(key)
    if cached is not None:
        return cached

    import hashlib

    def draw(p: int, d: int) -> int:
        h = hashlib.md5(f"plane:{salt}:{p}:dim:{d}".encode()).digest()
        return int.from_bytes(h[:8], "big") % 1000003 - 501501

    W = np.array(
        [[draw(p, d) for p in range(n_planes)] for d in range(dim)], dtype=np.int64
    ).reshape(dim, n_planes)
    _PLANE_WEIGHTS_CACHE[key] = W
    return W


def _project_bits(E: np.ndarray, W: np.ndarray) -> np.ndarray:
    """Sign bits of the hyperplane projections, EXACTLY and
    deterministically: the embedding is quantized once
    (floor(x·1e6) — integer-valued float64), the weights are integers,
    and every product (≤ 3.1e11) and dot-product partial sum
    (≤ dim·3.1e11) stays below 2^53 — float64 represents every
    intermediate exactly, so BLAS GEMM gives the bit-identical answer
    under any blocking/SIMD/thread order. The guard enforces the
    headroom rather than assuming it.
    """
    Eq = np.floor(E.astype(np.float64) * EMB_SCALE)
    bound = float(np.abs(Eq).max(initial=0.0)) * float(np.abs(W).max(initial=0.0))
    if bound * E.shape[1] >= 2.0**53:
        raise ValueError(
            f"fixed-point projection would lose exactness: "
            f"dim={E.shape[1]} max|Eq·w|={bound:.3g}"
        )
    return (Eq @ W.astype(np.float64)) > 0.0


def _pack_words(bits: np.ndarray) -> list[np.ndarray]:
    """Pack a (n, nbits) bool matrix into ⌈nbits/64⌉ int64 word
    columns, bit j of word i = bit 64·i+j (two's complement — bit 63
    lands in the sign, matching JVM ``shiftleft`` packing)."""
    words = []
    for lo in range(0, bits.shape[1], 64):
        chunk = bits[:, lo : lo + 64]
        w = np.zeros(len(chunk), dtype=np.uint64)
        for j in range(chunk.shape[1]):
            w |= chunk[:, j].astype(np.uint64) << np.uint64(j)
        words.append(w.view(np.int64))
    return words


def _vector_dim(emb: DataFrame) -> int:
    # single-row metadata probe (documented scan); the weight table
    # must be sized driver-side before the distributed pass. Empty
    # input → dim 0: downstream mapInPandas passes see no batches, so
    # the zero-width weight table is never applied.
    row = emb.select(F.size("embedding")).first()
    return int(row[0]) if row else 0


def _lsh_planes(
    dim: int, n_sig: int, n_tables: int = 0, band_bits: int = 0
) -> np.ndarray:
    """The signature planes and the (salted) band planes side by side,
    shape (dim, n_sig + n_tables·band_bits): one weight table, so one
    GEMM yields both. Each output column depends only on its own
    plane, and _project_bits is exact, so every bit equals the one a
    separate signature or band projection would give."""
    parts = [_plane_weights(n_sig, dim)]
    if n_tables:
        parts.append(_plane_weights(n_tables * band_bits, dim, salt="band"))
    return np.hstack(parts)


def _hash_vectors(
    E: np.ndarray, W: np.ndarray, n_sig: int, band_bits: int
) -> tuple[list[np.ndarray], np.ndarray]:
    """The one projection-and-packing path: project E against
    W = [signature planes | band planes] (see _lsh_planes) and return
    the ⌈n_sig/64⌉ packed signature words plus the (n, T) int64 band
    keys (T = 0 without band planes). Band packing is one
    (n, T, b) × (b,) tensor contraction — bits·2ʲ sums are exact in
    int64."""
    bits = _project_bits(E, W)
    band = bits[:, n_sig:].astype(np.int64)
    if band_bits:
        pack = 1 << np.arange(band_bits, dtype=np.int64)
        band = band.reshape(len(E), -1, band_bits) @ pack
    return _pack_words(bits[:, :n_sig]), band


def _hash_pass(
    emb: DataFrame,
    dim: int,
    n_sig: int,
    n_tables: int = 0,
    band_bits: int = 0,
    keep_embedding: bool = False,
) -> DataFrame:
    """(vec_id[, embedding], sig0..sig{w-1}[, band_keys]) in ONE
    narrow mapInPandas pass: an Arrow-batched numpy GEMM of the
    quantized embeddings against the broadcast-by-closure weight
    table (_hash_vectors). A dense matrix multiply is something Spark
    SQL can only express as an n·dim·planes row explosion or one SUM
    aggregate per plane (the round-2 shape — its 128 aggregate
    columns blew the whole-stage-codegen budget); a vectorized Arrow
    batch is the canonical engine answer (MLlib does the same via
    BLAS). No shuffle: vectors are hashed where they already live.
    `band_keys` is one array of T keys per vector, so n rows cross
    the Arrow boundary instead of n·T long-format rows.
    `keep_embedding` passes the embedding through under its input
    type, so a caller needing vector and hashes together never joins
    the batch back to its own hashes."""
    W = _lsh_planes(dim, n_sig, n_tables, band_bits)
    cols = ["vec_id bigint"]
    if keep_embedding:
        cols.append(f"embedding {emb.schema['embedding'].dataType.simpleString()}")
    cols += [f"sig{i} bigint" for i in range((n_sig + 63) // 64)]
    if n_tables:
        cols.append("band_keys array<bigint>")

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            sigs, keys = _hash_vectors(
                np.stack(pdf["embedding"].to_numpy()), W, n_sig, band_bits
            )
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            if keep_embedding:
                out["embedding"] = pdf["embedding"].to_numpy()
            for i, col in enumerate(sigs):
                out[f"sig{i}"] = col
            if n_tables:
                out["band_keys"] = list(keys)
            yield pd.DataFrame(out)

    return emb.select("vec_id", "embedding").mapInPandas(gen, ", ".join(cols))


def _explode_bands(hashed: DataFrame) -> DataFrame:
    """(vec_id, band_table, band_key) long format from a _hash_pass
    frame: the T-way fan-out happens in the JVM (pos ≡ band_table),
    so candidate generation is a plain equi-join on
    (band_table, band_key)."""
    return hashed.select(
        "vec_id", F.posexplode("band_keys").alias("band_table", "band_key")
    ).select("vec_id", F.col("band_table").cast("int"), "band_key")


def hamming_signatures(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """(vec_id, sig0..sig{w}): random-hyperplane signature packed into
    ⌈n_planes/64⌉ longs, in one _hash_pass. Exactness and
    partition-independence come from integer-valued float64
    arithmetic (see _project_bits)."""
    return _hash_pass(emb, _vector_dim(emb), n_planes)


def ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: Hamming-shortlist on 128-bit hyperplane
    signatures, then exact cosine rerank of the shortlist.

    Why not band-bucket LSH here: the testdata embeddings are
    near-random (true top-5 cosines ≈ 0.26-0.39), so requiring exact
    equality on even an 8-bit band almost never fires for true
    neighbors — measured recall@5 was 0.10. Signature-Hamming
    correlates with angle at any similarity level, so shortlisting
    the SHORTLIST smallest-Hamming candidates per query and exactly
    rescoring only those reaches ~0.8 recall while computing full
    dot products for SHORTLIST/n of the corpus.

    Scale shape: the coarse pass streams 16-byte signatures once
    against broadcast query signatures (XOR + bit_count — no
    embedding bytes move); only the shortlist rows pull their
    embeddings for exact scoring. Recall vs cosine_topk is asserted
    in tests/test_similarity.py.
    """
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    sigs = hamming_signatures(emb)
    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig0").alias("qs0"),
        F.col("sig1").alias("qs1"),
    )
    c = sigs.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("sig0").alias("cs0"),
        F.col("sig1").alias("cs1"),
    )
    ham = c.join(F.broadcast(q)).withColumn(
        "hamming",
        F.bit_count(F.col("qs0").bitwiseXOR(F.col("cs0")))
        + F.bit_count(F.col("qs1").bitwiseXOR(F.col("cs1"))),
    )
    hw = Window.partitionBy("query_id").orderBy(
        F.col("hamming"), F.col("neighbor_id")
    )
    shortlist = (
        ham.withColumn("hrank", F.row_number().over(hw))
        .filter(F.col("hrank") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, shortlist)


# ---- IVF (inverted-file) ANN: the partition-pruned scale path ------

IVF_TRAIN_MAX = 2048  # driver-side k-means training sample (bounded)
IVF_ITERS = 8


def _unit_quantized(C: np.ndarray) -> np.ndarray:
    """Row-normalize then quantize to int64 at EMB_SCALE resolution —
    the exact-integer centroid form used for all assignments."""
    norms = np.sqrt((C * C).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return np.floor((C / norms) * EMB_SCALE).astype(np.int64)


# Bump whenever _ivf_params' cells/nprobe FORMULA changes (r10 moved
# cells/4 → cells/2): the version rides in the persisted-index
# fingerprint so a formula change invalidates stale indexes, while
# comment/docstring edits don't (and source-less deployments —
# zipapp/frozen, where inspect.getsource raises — still fingerprint).
IVF_PARAMS_VERSION = 2


def _ivf_params(n: int) -> tuple[int, int]:
    """(n_cells, nprobe) from the candidate count — √n cells, probe
    half of them. Shared by the operator and its tests so the test
    always measures the production configuration.

    nprobe is the recall/cost dial and half-the-cells is what THIS
    corpus needs for production-grade recall: the synthetic embeddings
    are near-uniform, so true neighbors are barely more concentrated
    than random and measured mean recall tracks the probed fraction
    (nprobe=cells/4 → 0.58-0.62; cells/2 → 0.84-0.86 at sf0.01/0.1).
    Real embedding corpora cluster, which moves recall at FIXED nprobe
    up, not down — and on the persisted-index path cost grows linearly
    in nprobe (only probed cells are read), never in corpus size."""
    n_cells = max(4, int(round(math.sqrt(max(n, 0)))))
    return n_cells, max(2, n_cells // 2)


def _ivf_train_sample(
    emb: DataFrame, min_vec_id: int = N_QUERIES
) -> tuple[list, int]:
    """(bounded deterministic training sample, exact candidate count)
    in ONE scan of the candidates.

    Selection is the first IVF_TRAIN_MAX candidates ordered by
    (md5(vec_id), vec_id) — the hash ordering (same gate pattern as
    operators/sampling.py) makes the sample a uniform draw even when
    vec_id correlates with ingest time or content; md5 is seedless and
    portable, so the sample is a pure function of the data. Ordering
    by raw vec_id would train centroids on the head of the corpus.

    Shape: one Arrow mapInPandas pass keeps a per-partition running
    top-IVF_TRAIN_MAX (bounded memory however large the partition) and
    rides the partition's exact row count along on its first emitted
    row; the driver merges ≤IVF_TRAIN_MAX·partitions rows — the same
    K·partitions driver exposure as the TakeOrdered this replaces,
    but the separate count job IVF sizing used to need is gone: at
    100 TB that is one full candidate scan saved. The Python-side
    hashlib.md5 of str(vec_id) is bit-identical to the previous
    in-engine F.md5(cast(vec_id as string)), so the selected sample
    (and hence the trained centroids) are unchanged.

    The sample is returned re-sorted by vec_id: the hash governs only
    SELECTION; training init consumes a canonically-ordered list, so
    when the corpus fits entirely inside IVF_TRAIN_MAX the sample is
    identical regardless of hash values."""
    schema = "vec_id bigint, embedding array<float>, h string, cnt bigint"

    def local_top(batches):
        import hashlib

        import pandas as pd

        best, total = None, 0
        for pdf in batches:
            total += len(pdf)
            if len(pdf) == 0:
                continue
            pdf = pdf.assign(
                h=[
                    hashlib.md5(str(int(v)).encode()).hexdigest()
                    for v in pdf["vec_id"]
                ]
            )
            best = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            best = best.sort_values(["h", "vec_id"]).head(IVF_TRAIN_MAX)
        if best is None:
            return
        best = best.reset_index(drop=True)
        best["cnt"] = 0
        best.loc[0, "cnt"] = total
        yield best[["vec_id", "embedding", "h", "cnt"]]

    out = (
        emb.filter(F.col("vec_id") >= min_vec_id)
        .select("vec_id", "embedding")
        .mapInPandas(local_top, schema)
        .collect()
    )
    n = sum(r.cnt for r in out)
    top = sorted(out, key=lambda r: (r.h, r.vec_id))[:IVF_TRAIN_MAX]
    return sorted(top, key=lambda r: r.vec_id), n


def _ivf_centroids(emb: DataFrame, rows: list, n_cells: int) -> np.ndarray:
    """Spherical k-means coarse quantizer over the collected training
    sample. Assignment during training uses the same exact integer
    GEMM as the distributed pass (quantized embeddings × quantized
    unit centroids, every intermediate an integer-valued
    float64 < 2^53), so centroid training is bit-reproducible across
    machines/BLAS — the model artifact is a pure function of the data.
    """
    if not rows:
        # empty candidate corpus: zero centroids shaped to the table's
        # vector dim so query-side assignment still GEMMs cleanly (all
        # scores 0 → stable cell order); dim falls back to 1 only when
        # the whole table is empty, where no batches flow at all
        return np.zeros((n_cells, max(_vector_dim(emb), 1)), dtype=np.int64)
    Eq = np.floor(
        np.stack([r.embedding for r in rows]).astype(np.float64) * EMB_SCALE
    )
    # deterministic init: evenly spaced rows of the vec_id-sorted sample
    init = np.linspace(0, len(Eq) - 1, n_cells).round().astype(int)
    C = Eq[init].astype(np.float64)
    for _ in range(IVF_ITERS):
        scores = Eq @ _unit_quantized(C).T.astype(np.float64)  # exact ints
        assign = scores.argmax(axis=1)  # ties → lowest cell id
        sums = np.zeros_like(C)
        np.add.at(sums, assign, Eq)  # exact: integer-valued, < 2^53
        counts = np.bincount(assign, minlength=n_cells).astype(np.float64)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
    return _unit_quantized(C)


def _ivf_assign(
    emb: DataFrame, Cq: np.ndarray, nprobe: int, with_rank: bool = False
) -> DataFrame:
    """(vec_id, cell[, rank]) for each vector: its nprobe best cells
    by exact integer dot with the quantized unit centroids. One
    Arrow-batched mapInPandas GEMM pass, centroids broadcast by
    closure; no shuffle — assignment happens where the vectors live.
    Ties break to the lowest cell id (stable argsort on exact
    integers). `with_rank=True` adds the probe rank (0 = primary
    cell), letting a multi-probe caller derive the nprobe=1
    assignment from the SAME pass instead of scanning the corpus
    through a second GEMM (rank 0 of the stable argsort IS the
    argmax)."""
    schema = "vec_id bigint, cell int" + (", rank int" if with_rank else "")
    Cf = Cq.T.astype(np.float64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Eq = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * EMB_SCALE
            )
            bound = float(np.abs(Eq).max(initial=0.0)) * float(np.abs(Cq).max(initial=0.0))
            if bound * Eq.shape[1] >= 2.0**53:
                raise ValueError("ivf assignment would lose integer exactness")
            scores = Eq @ Cf  # exact integer-valued float64
            top = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
            out = {
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                "cell": top.reshape(-1).astype(np.int32),
            }
            if with_rank:
                out["rank"] = np.tile(
                    np.arange(nprobe, dtype=np.int32), len(pdf)
                )
            yield pd.DataFrame(out)

    return emb.select("vec_id", "embedding").mapInPandas(gen, schema)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the
    partition-pruning ANN construction (FAISS IVFFlat's layout,
    re-expressed relationally):

    1. TRAIN — spherical k-means on a bounded driver-side sample
       gives √n coarse centroids (the "cells").
    2. ASSIGN — every candidate vector gets its single nearest cell;
       at rest this is the table's partition/bucket key, so a 100 TB
       corpus is physically clustered by cell and a probe reads only
       the touched partitions (partition pruning does the work of an
       inverted index).
    3. PROBE — each query scores all √n centroids (cheap) and takes
       its nprobe best cells; candidates = equi-join on cell — never
       an all-pairs scan. Expected work per query: nprobe/√n of the
       corpus (~25% here; tunable recall/cost dial).
    4. RERANK — exact fixed-point cosine on the probed candidates
       only, top-k with deterministic tie-breaks.

    vs ann_hamming_topk: Hamming shortlisting still SCANS every
    signature (cheap compare, full pass); IVF prunes the scan itself
    — the difference between a column of XORs and not reading the
    partition at all. Recall vs exact cosine_topk is asserted in
    tests/test_similarity.py.
    """
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    cands = emb.filter(F.col("vec_id") >= N_QUERIES)
    # one scan yields BOTH the bounded training sample and the exact
    # candidate count that sizes the cell grid — no separate count job
    rows, n = _ivf_train_sample(emb)
    n_cells, nprobe = _ivf_params(n)
    Cq = _ivf_centroids(emb, rows, n_cells)

    cand_cells = _ivf_assign(cands, Cq, nprobe=1).select(
        F.col("vec_id").alias("neighbor_id"), "cell"
    )
    query_cells = _ivf_assign(
        emb.filter(F.col("vec_id") < N_QUERIES), Cq, nprobe=nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")

    shortlist = query_cells.join(cand_cells, "cell").select(
        "query_id", "neighbor_id"
    )
    return _exact_rerank(emb, shortlist)


def _exact_rerank(emb: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact fixed-point cosine top-k over (query_id, neighbor_id)
    shortlist pairs — the shared final stage of both ANN variants."""
    embn = _with_norm(emb)
    qv = embn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cv = embn.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "cosine", _fixed_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


NEAR_DUP_COSINE = 0.45
NEAR_DUP_MAX_HAMMING = 52  # 128-bit sigs: cos≥0.45 → E[ham]≈45; random → 64
BAND_TARGET_RECALL = 0.95  # per-pair P(threshold pair shares ≥1 band table)
MAX_BAND_TABLES = 1024  # cost ceiling; recall degrades past it, documented


def _lsh_params(n: int, threshold: float) -> tuple[int, int]:
    """(band_bits, n_tables) for multi-table hyperplane LSH, derived
    from the corpus size — the classic n^(1+ρ) construction.

    A pair at cosine θ agrees on one hyperplane bit with
    p₁ = 1 − acos(θ)/π, so it shares a b-bit band with probability
    p₁^b and survives T independent tables with 1 − (1−p₁^b)^T.
    Choosing b ≈ log₂n makes the expected random-pair collision count
    per table ≈ n (linear, not quadratic), and
    T = ln(1/(1−R))/p₁^b ∝ n^ρ (ρ = ln p₁/ln 0.5) hits per-pair
    recall R. Total candidate work is then O(T·n) = O(n^(1+ρ)) —
    sub-quadratic for any threshold > 0, vs the all-pairs O(n²) this
    replaces. At the aggressive 0.45 threshold ρ ≈ 0.62 and T is
    large; at realistic near-dup thresholds (0.9+) ρ ≈ 0.2 and a few
    dozen tables suffice. T is capped at MAX_BAND_TABLES: past the
    cap recall falls below target rather than cost growing unbounded.
    """
    p1 = 1.0 - math.acos(threshold) / math.pi
    b = min(24, max(6, round(math.log2(max(n, 2)))))
    t = math.ceil(math.log(1.0 / (1.0 - BAND_TARGET_RECALL)) / (p1**b))
    return b, min(t, MAX_BAND_TABLES)


def _band_keys(emb: DataFrame, n_tables: int, band_bits: int, dim: int) -> DataFrame:
    """(vec_id, band_table, band_key): for each vector, one packed
    b-bit hyperplane key per band table, all T·b planes drawn fresh
    (salted) and projected by the same exact GEMM as
    hamming_signatures (_hash_pass with no signature planes)."""
    return _explode_bands(_hash_pass(emb, dim, 0, n_tables, band_bits))


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT all-pairs variant.

    Quadratic by construction: like ngram_jaccard_pairs this is the
    oracle-checkable ground truth the pruned variant is tested
    against, not the production path (and excluded from the bench for
    the same reason). Fixed-point dots keep it engine-exact.
    """
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine", _fixed_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup — banded (sub-quadratic) scale path.

    Three prune stages, each strictly cheaper than the next is
    expensive:
    1. CANDIDATES — multi-table hyperplane band bucketing: vectors
       sharing a b-bit band key in any of T salted tables become a
       candidate pair via an equi-join on (band_table, band_key).
       O(n^(1+ρ)) total work (see _lsh_params), never all-pairs — the
       round-2 shape joined every signature pair (`vec_a < vec_b`, a
       theta join), which is O(n²) candidate generation no matter how
       cheap the per-pair test; plan non-cartesianness is asserted in
       tests/test_plans.py.
    2. COARSE FILTER — 16-byte signature Hamming ≤ NEAR_DUP_MAX_HAMMING
       (XOR + bit_count, ~1000× cheaper than a 64-dim dot) on the
       candidates only.
    3. EXACT — fixed-point cosine ≥ threshold, so precision is perfect
       by construction; only recall is approximate (measured floor in
       tests/test_similarity.py, per-pair target BAND_TARGET_RECALL).

    The corpus-size probe (`count()`) that sizes the band tables is a
    parquet-metadata count — one cheap job, amortized over the run.
    """
    emb = _with_norm(load_table_spread(spark, sf_dir, "embeddings", "vec_id"))
    dim = _vector_dim(emb)
    band_bits, n_tables = _lsh_params(emb.count(), NEAR_DUP_COSINE)
    bk = _band_keys(emb, n_tables, band_bits, dim)
    pairs = (
        bk.select(F.col("vec_id").alias("vec_a"), "band_table", "band_key")
        .join(
            bk.select(F.col("vec_id").alias("vec_b"), "band_table", "band_key"),
            ["band_table", "band_key"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates()
    )
    sigs = hamming_signatures(emb)
    a = sigs.select(
        F.col("vec_id").alias("vec_a"), F.col("sig0").alias("a0"), F.col("sig1").alias("a1")
    )
    b = sigs.select(
        F.col("vec_id").alias("vec_b"), F.col("sig0").alias("b0"), F.col("sig1").alias("b1")
    )
    cand = (
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
            + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1"))),
        )
        .filter(F.col("hamming") <= NEAR_DUP_MAX_HAMMING)
        .select("vec_a", "vec_b")
    )
    va = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"), F.col("nrm").alias("na")
    )
    vb = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine", _fixed_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cosine") >= NEAR_DUP_COSINE)
        .select("vec_a", "vec_b", "cosine")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus, exploded to
    (label, dim, mean_val, n_vecs) rows — the monitoring/bootstrap
    statistic an ANN index maintainer watches (cell balance, drift)
    and the exact computation IVF training performs per cluster.

    Shape: `posexplode` the vector column → ONE grouped aggregate on
    (label, dim) with map-side partial sums. The shuffle carries
    |labels|·dim rows per input partition after partial aggregation —
    independent of corpus size — so the same plan holds at 100 TB.
    Sums run over DECIMAL(38,6) (functions/exact.py rule): float32
    inputs widen exactly to double, and the decimal sum makes the
    mean independent of partitioning/merge order, so Spark and the
    DuckDB oracle agree bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return ex.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---- SemDeDup: cluster-then-prune semantic deduplication -----------

# Probed cells per vector for pairing — the recall dial for the
# paper's cell-boundary blind spot. 5 (r12, up from 3): measured
# dropped/true-dup recall 0.57/0.93/0.75 → 1.0/1.0/0.956 across
# sf0.001/0.01/0.1 at unchanged sf0.1 wall time; pair volume grows
# ~(5/3)² but stays O(n^1.5) with the enforced sub-cell cap bounding
# any single join key, and at 100 TB the k≫√n cell regime keeps the
# factor constant.
SEMANTIC_DEDUP_NPROBE = 5
# Hot-cell cap: within-cell pairing is quadratic in a cell's
# population, and skew happens (SimHash shipped with 17% of docs in
# one bucket at sf0.1 before r4 widened its bands — BASELINE.md). A
# cell holding more than CAP_FACTOR× the expected population is
# salted into ceil(pop/cap) sub-cells by xxhash64(vec_id) —
# deterministic, bounded pair count per sub-cell, at the price of
# missing pairs split across sub-cells of the SAME hot cell (the
# audit's recall floor still gates the result; an even split of an
# over-dense cell loses few true dups because near-dups concentrate).
SEMANTIC_DEDUP_CELL_CAP_FACTOR = 8


def _salted_subcells(probes: DataFrame, cap: int) -> DataFrame:
    """(vec_id, cell, subcell): cells at or under `cap` probe rows
    keep one sub-cell ("cell:0" — behavior identical to the unsalted
    join); hotter cells split into ceil(pop/cap) sub-cells by
    xxhash64(vec_id) — deterministic, uniform, reproducible. The
    population table is O(cells) and broadcast; the split bounds any
    single join key's pair count at ~cap² regardless of assignment
    skew (tests/test_similarity.py pins the bound under a degenerate
    all-one-cell assignment)."""
    pop = probes.groupBy("cell").agg(F.count("*").alias("pop"))
    return (
        probes.join(F.broadcast(pop), "cell")
        .withColumn(
            "subcell",
            F.concat_ws(
                ":",
                F.col("cell"),
                F.pmod(
                    F.xxhash64("vec_id"),
                    F.ceil(F.col("pop") / F.lit(cap)).cast("long"),
                ),
            ),
        )
        .select("vec_id", "cell", "subcell")
    )
SEMANTIC_DUP_COSINE = 0.45  # dup threshold; matches NEAR_DUP_COSINE's
# aggressive setting for the synthetic corpus (realistic deployments
# use 0.9+; the threshold is a parameter, not a design constant)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication via cluster-then-prune — the SemDeDup
    construction (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings into cells, compare pairs ONLY within a cell, and keep
    one representative per duplicate group.

    Reuses the IVF machinery end-to-end: the bounded hash-ordered
    training sample, the bit-reproducible spherical k-means, and the
    exact-integer cell assignment (nprobe=1 — each vector lives in
    exactly one cell). Within-cell pairing is an equi-join on cell
    (never all-pairs across the corpus): with k ≈ √n cells the
    expected pair count is O(n^1.5); production raises k to bound
    per-cell size — k is the cost dial, exactly as in the paper,
    where k ≪ cluster sizes make the quadratic term negligible.

    Keep rule: a vector is a duplicate iff some SMALLER vec_id shares
    any PROBED cell and clears the cosine threshold; dup_of records
    the smallest such partner. Greedy min-id-wins (not connected
    components): deterministic, one aggregation, and at most one
    survivor per mutually-similar group — the transitive-chain caveat
    (B dups A, C dups B but not A still drops C) is the standard
    SemDeDup trade-off. Exact fixed-point cosine keeps verdicts
    partition-independent. Output: every vector with its (primary)
    cell, dup_of (null for kept representatives), and is_kept.

    Multi-probe pairing (SEMANTIC_DEDUP_NPROBE nearest cells per
    vector, pairs deduped) is the recall dial for the paper's known
    blind spot — near-dup pairs split by a cell boundary. Measured on
    the fixed testdata: nprobe 3→5 lifts dropped/true-dup recall
    4/7→7/7 (sf0.001), 13/14→14/14 (sf0.01), 101/135→129/135 = 0.956
    (sf0.1) at ≤nprobe² the within-cell pair volume — still O(n^1.5)
    overall, and at 100 TB the k≫√n cell-count regime keeps cells
    small so the factor stays a constant, not a blow-up.

    Skew safety is ENFORCED, not advisory: a cell whose probe
    population exceeds the cap (CAP_FACTOR× the expected per-cell
    population) splits into salted sub-cells before pairing, so a
    degenerate assignment (the SimHash 17%-bucket incident,
    BASELINE.md) bounds at cap² pairs per join key instead of going
    quadratic in the hot cell. GROWTH_CURVE.json carries this
    operator's measured scaling exponent.
    """
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    rows, n = _ivf_train_sample(emb, min_vec_id=0)
    n_cells, _ = _ivf_params(n)
    Cq = _ivf_centroids(emb, rows, n_cells)

    # One LOGICAL multi-probe assignment serves both needs: rank 0 of
    # the stable argsort IS the nprobe=1 primary cell (identical
    # ties), so the separate nprobe=1 pass is gone (r9 ADVICE). The
    # compiled plan still instantiates the mapInPandas leaf once per
    # consuming branch (Spark shares no non-exchange subtrees) — same
    # leaf count as before; at 100 TB the assignment table is the
    # thing a production pipeline persists between stages.
    probes = _ivf_assign(emb, Cq, nprobe=SEMANTIC_DEDUP_NPROBE, with_rank=True)
    cells = probes.filter(F.col("rank") == 0).select("vec_id", "cell")

    # ENFORCED hot-cell cap (not just k-as-dial documentation): a cell
    # whose probe population exceeds cap splits into ceil(pop/cap)
    # salted sub-cells; pairing joins on the sub-cell, so no single
    # key's pair count can exceed ~cap² regardless of assignment skew.
    cap = max(
        64,
        (SEMANTIC_DEDUP_CELL_CAP_FACTOR * n * SEMANTIC_DEDUP_NPROBE)
        // max(n_cells, 1),
    )
    salted = _salted_subcells(probes, cap)
    # Pair on (subcell, vec_id) ONLY — the id-pair set is decided
    # entirely by sub-cell co-membership, so the within-cell join and
    # the pair dedup shuffle 16-byte rows instead of carrying the
    # embedding payload through both exchanges (guide §8: decide with
    # small rows, attach the heavy column once at the end). The
    # vectors are then fetched by one equi-join per pair side, the
    # same candidates→payload shape as embedding_near_dup_lsh; the
    # pair set, cosines and verdicts are unchanged.
    ids = salted.select("vec_id", "subcell")
    pairs = (
        ids.select(F.col("subcell"), F.col("vec_id").alias("id_a"))
        .join(
            ids.select(F.col("subcell"), F.col("vec_id").alias("id_b")),
            "subcell",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    embn = _with_norm(emb)
    va = embn.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    vb = embn.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    dup_pairs = (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cosine",
            _fixed_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= SEMANTIC_DUP_COSINE)
    )
    dup_of = dup_pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("dup_of")
    )
    return (
        cells.join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            "dup_of",
            F.col("dup_of").isNull().alias("is_kept"),
        )
    )


# ---- PQ (product quantization) ANN: the memory-compression path ----
# FAISS's PQ construction re-expressed relationally: vectors become
# M 4-bit codes (here M bytes as int array), queries score candidates
# through a per-query lookup table — the corpus-side scan touches
# CODES ONLY (M bytes/vector instead of 4·dim), which at 100 TB is
# the difference between an in-memory index and a disk-bound scan.
PQ_M = 16  # subspaces (dsub = dim / M)
# codewords per subspace → 6-bit codes. 64 (up from 16, r10): 4-bit
# quantization capped measured ADC recall at 0.82-0.92 at sf0.1; 64
# codewords push the PQ shortlist to ~1.0 so the composed IVF-PQ
# recall equals the IVF pruning recall. Cost: per-query LUT is
# M×KS = 16×64 doubles (broadcast, trivial), training k-means is
# still over the same bounded ≤2048-row sample.
PQ_KS = 64
PQ_ITERS = 8


def _pq_codebooks(rows: list, dim: int) -> np.ndarray:
    """Per-subspace L2 k-means over the UNIT-NORMALIZED bounded
    training sample (normalizing before encoding makes the ADC dot a
    cosine numerator — candidate norms must not distort the ranking).
    Same exactness discipline as _ivf_centroids: sample quantized at
    EMB_SCALE, centroids floored to integers each iteration, every
    distance term an integer-valued float64 < 2^53, argmin ties to
    the lowest codeword — the codebook is a bit-reproducible pure
    function of the data. Shape (M, KS, dsub) int64."""
    dsub = dim // PQ_M
    if not rows:
        return np.zeros((PQ_M, PQ_KS, max(dsub, 1)), dtype=np.int64)
    E = np.stack([r.embedding for r in rows]).astype(np.float64)
    norms = np.sqrt((E * E).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    Eq = np.floor(E / norms * EMB_SCALE)
    books = np.zeros((PQ_M, PQ_KS, dsub), dtype=np.int64)
    for m in range(PQ_M):
        X = Eq[:, m * dsub : (m + 1) * dsub]
        init = np.linspace(0, len(X) - 1, PQ_KS).round().astype(int)
        C = X[init].astype(np.float64)
        for _ in range(PQ_ITERS):
            Ci = np.floor(C)
            d = (
                (X * X).sum(axis=1, keepdims=True)
                - 2.0 * (X @ Ci.T)
                + (Ci * Ci).sum(axis=1)
            )
            assign = d.argmin(axis=1)  # ties → lowest codeword
            sums = np.zeros_like(C)
            np.add.at(sums, assign, X)
            counts = np.bincount(assign, minlength=PQ_KS).astype(np.float64)
            ne = counts > 0
            C[ne] = sums[ne] / counts[ne, None]
        books[m] = np.floor(C).astype(np.int64)
    return books


def pq_encode(emb: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, codes[M]) — one Arrow map pass, codebooks broadcast by
    closure; no shuffle, codes computed where the vectors live. Each
    subspace assignment is the same exact integer-L2 argmin the
    trainer used."""
    M, KS, dsub = books.shape
    schema = "vec_id bigint, codes array<int>"
    Bf = books.astype(np.float64)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = np.sqrt((E * E).sum(axis=1, keepdims=True))
            norms[norms == 0.0] = 1.0
            Eq = np.floor(E / norms * EMB_SCALE)
            codes = np.zeros((len(Eq), M), dtype=np.int32)
            for m in range(M):
                X = Eq[:, m * dsub : (m + 1) * dsub]
                d = (
                    (X * X).sum(axis=1, keepdims=True)
                    - 2.0 * (X @ Bf[m].T)
                    + (Bf[m] * Bf[m]).sum(axis=1)
                )
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "codes": list(codes)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(gen, schema)


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via PQ + ADC (asymmetric distance
    computation), then exact rerank of the shortlist:

    1. TRAIN — per-subspace codebooks on the same bounded driver-side
       sample the IVF path uses (one scan, shared discipline).
    2. ENCODE — map-only Arrow pass: each candidate becomes M small
       codes; the persisted "index" is M bytes/vector.
    3. ADC — each query precomputes a (M × KS) lookup table of
       subspace dots DRIVER-side; candidate scoring is then pure JVM:
       zip the code array with the broadcast LUT, element_at-gather,
       sum — approx cosine numerator without touching a single
       embedding byte. Broadcast 10-row LUT table against the code
       stream (the cosine_topk broadcast-queries shape).
    4. SHORTLIST + RERANK — per-query top-SHORTLIST by ADC (window
       over the broadcast cross), exact fixed-point cosine on those
       only (_exact_rerank, same as the Hamming/IVF paths).

    vs IVF: PQ compresses the SCAN (read M bytes, not the vector);
    IVF prunes WHICH rows scan. Production composes them (IVF-PQ);
    here they stay separate entries so each mechanism is verified in
    isolation. Recall vs cosine_topk asserted in
    tests/test_similarity.py::test_ann_pq_recall.
    """
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    dim = _vector_dim(emb)
    rows, _ = _ivf_train_sample(emb)
    books = _pq_codebooks(rows, dim)
    M, KS, dsub = books.shape

    codes = pq_encode(emb.filter(F.col("vec_id") >= N_QUERIES), books).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # bounded: N_QUERIES rows
    lut_rows = []
    for r in qrows:
        Q = np.floor(np.asarray(r.embedding, dtype=np.float64) * EMB_SCALE)
        lut = [
            [
                float(np.dot(Q[m * dsub : (m + 1) * dsub], books[m][k]))
                for k in range(KS)
            ]
            for m in range(M)
        ]
        lut_rows.append((int(r.vec_id), lut))
    lut_df = spark.createDataFrame(
        lut_rows, "query_id bigint, lut array<array<double>>"
    )

    adc = codes.join(F.broadcast(lut_df)).withColumn(
        "adc",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, l: F.element_at(l, c + F.lit(1))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, shortlist)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the two mechanisms COMPOSED, FAISS's production
    layout: IVF cells prune WHICH rows are scanned (partition
    pruning), PQ codes compress WHAT each scanned row costs (M bytes,
    no embedding I/O in the coarse pass). The stored index is one
    table (vec_id, cell, codes) — at rest partitioned by cell, so a
    probe reads nprobe/√n of the partitions and scores them through
    the broadcast per-query ADC lookup tables; only the final
    shortlist pulls embedding bytes for the exact fixed-point rerank.
    Train/assign/encode reuse the verified single-mechanism parts
    (one shared bounded sample; same exactness discipline), so this
    entry verifies exactly the COMPOSITION: recall floor in
    tests/test_similarity.py::test_ann_ivfpq_recall.
    """
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    dim = _vector_dim(emb)
    rows, n = _ivf_train_sample(emb)
    n_cells, nprobe = _ivf_params(n)
    Cq = _ivf_centroids(emb, rows, n_cells)
    books = _pq_codebooks(rows, dim)
    M, KS, dsub = books.shape

    cands = emb.filter(F.col("vec_id") >= N_QUERIES)
    index = _ivf_assign(cands, Cq, nprobe=1).join(
        pq_encode(cands, books), "vec_id"
    )  # (vec_id, cell, codes): the persisted IVF-PQ index table
    query_cells = _ivf_assign(
        emb.filter(F.col("vec_id") < N_QUERIES), Cq, nprobe=nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")

    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    lut_rows = []
    for r in qrows:
        Q = np.floor(np.asarray(r.embedding, dtype=np.float64) * EMB_SCALE)
        lut = [
            [
                float(np.dot(Q[m * dsub : (m + 1) * dsub], books[m][k]))
                for k in range(KS)
            ]
            for m in range(M)
        ]
        lut_rows.append((int(r.vec_id), lut))
    lut_df = spark.createDataFrame(
        lut_rows, "query_id bigint, lut array<array<double>>"
    )

    probed = query_cells.join(index, "cell").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "codes"
    )
    adc = probed.join(F.broadcast(lut_df), "query_id").withColumn(
        "adc",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, l: F.element_at(l, c + F.lit(1))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, shortlist)

# ---- quantitative recall audits for the ANN family ------------------
# Registry twins of the four ann_*_topk entries (hll_user_rollup
# pattern): the ANN result is graded against the SQL-expressible exact
# cosine top-k, and the output carries only engine-identical values —
# per-query exact k and k-th cosine (fixed-point, the cosine_topk
# oracle's own math) plus a recall verdict — so the DuckDB oracle
# reproduces every non-verdict column and asserts TRUE. A recall drop
# below the measured floor flips the verdict and the driver's hash
# compare catches it. Floors are set from measured per-query recall at
# sf0.001/0.01/0.1 with margin (everything is deterministic — fixed
# data, seedless hashes, bit-reproducible k-means). Measured
# min-hits/mean with the r10 production config (nprobe=cells/2,
# PQ_KS=64, SHORTLIST=128):
#   hamming 5/1.00, 5/1.00, 3/0.78   (sf0.001, sf0.01, sf0.1)
#   ivf     4/0.92, 3/0.84, 3/0.86
#   pq      5/1.00, 5/1.00, 5/1.00
#   ivfpq   4/0.92, 3/0.84, 3/0.86
# (r9 floors were 0.45-0.75 against nprobe=cells/4 means of 0.58-0.62
# — honest but sub-production; r10 raises the dial and re-tightens.)
# Raw top-k results stay in the ann_*_topk functions.
ANN_AUDIT_FLOORS = {
    "hamming": (2, 0.70),
    "ivf": (2, 0.80),
    "pq": (4, 0.90),
    "ivfpq": (2, 0.80),
    # appended index (model trained on the even half, odd half encoded
    # through the frozen model): measured min-hits/mean 2/0.82,
    # 2/0.84, 2/0.84 at sf0.001/0.01/0.1 — within a couple points of
    # the full build's 0.84-0.92, the honest price of O(new data)
    # appends; min-hits floor 1 leaves margin under the measured 2
    "ivfpq_append": (1, 0.75),
}


def _ann_recall_audit(
    spark: SparkSession, sf_dir: str, ann_fn, min_hits: int, mean_floor: float
) -> DataFrame:
    exact = cosine_topk(spark, sf_dir)
    ann = (
        ann_fn(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("found", F.lit(1))
    )
    per_q = (
        exact.join(ann, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.min("cosine").alias("kth_cosine"),
            F.sum(F.coalesce(F.col("found"), F.lit(0))).alias("hits"),
        )
    )
    per_row = per_q.select(
        "query_id",
        F.col("k").cast("long").alias("k"),
        "kth_cosine",
        (F.col("hits") >= F.least(F.lit(min_hits), F.col("k"))).alias(
            "recall_ok"
        ),
    )
    total = per_q.agg(
        F.coalesce(F.sum("k"), F.lit(0)).alias("k"),
        F.coalesce(F.sum("hits"), F.lit(0)).alias("hits"),
    ).select(
        F.lit(None).cast("long").alias("query_id"),
        F.col("k").cast("long").alias("k"),
        F.lit(None).cast("double").alias("kth_cosine"),
        # zero queries (empty slice) → vacuously ok, never NULL
        F.when(F.col("k") == 0, F.lit(True))
        .otherwise(
            F.col("hits").cast("double")
            >= F.lit(mean_floor) * F.col("k").cast("double")
        )
        .alias("recall_ok"),
    )
    return per_row.unionByName(total)


def ann_hamming_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_audit(
        spark, sf_dir, ann_hamming_topk, *ANN_AUDIT_FLOORS["hamming"]
    )


def ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_audit(
        spark, sf_dir, ann_ivf_topk, *ANN_AUDIT_FLOORS["ivf"]
    )


def ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_audit(
        spark, sf_dir, ann_pq_topk, *ANN_AUDIT_FLOORS["pq"]
    )


def ann_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_recall_audit(
        spark, sf_dir, ann_ivfpq_topk, *ANN_AUDIT_FLOORS["ivfpq"]
    )


# ---- recall audits for the embedding near-dup / SemDeDup family -----
# Measured on the fixed testdata (deterministic pipelines): the banded
# LSH missed 0 exact pairs at sf0.01 and exactly one 0.457-cosine pair
# at sf0.001; SemDeDup's cell pruning dropped 7/14 true-dup vectors at
# sf0.01 (0/7 at sf0.001 — cell boundaries split every pair there).
# Floors are driver-SF (sf0.01) guarantees with margin; precision is
# exact by construction on both operators (final fixed-point cosine).
NEAR_DUP_AUDIT_SURE_COS = 0.60  # above this, every exact pair must be found
NEAR_DUP_AUDIT_RECALL_FLOOR = 0.70  # aggregate recall floor at threshold
# dropped / true-dup vecs. Measured (r12, nprobe=5 + hot-cell cap):
# 7/7 = 1.0 at sf0.001, 14/14 = 1.0 at sf0.01, 129/135 = 0.956 at
# sf0.1 (up from 4/7 / 13/14 / 101/135 under r11's nprobe=3) — floor
# set under the sf0.1 measurement (deterministic, no variance; the
# margin absorbs future testdata regeneration only).
SEMANTIC_AUDIT_RECALL_FLOOR = 0.90


def embedding_near_dup_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(kind, vec_a, vec_b, cosine, n, ok) — 'pair' rows are the exact
    ≥-threshold cosine pairs (ok = found by the banded path, or cosine
    below the sure-recall band); 'recall' row = exact pair count +
    aggregate recall verdict. All non-verdict values reproduce in
    DuckDB via the fixed-point cosine SQL."""
    exact = embedding_near_dup_pairs(spark, sf_dir)
    lsh = (
        embedding_near_dup_lsh(spark, sf_dir)
        .select("vec_a", "vec_b")
        .withColumn("found", F.lit(1))
    )
    graded = exact.join(lsh, ["vec_a", "vec_b"], "left").select(
        "vec_a",
        "vec_b",
        "cosine",
        F.coalesce(F.col("found"), F.lit(0)).alias("found"),
    )
    pairs = graded.select(
        F.lit("pair").alias("kind"),
        "vec_a",
        "vec_b",
        "cosine",
        F.lit(None).cast("long").alias("n"),
        (
            (F.col("found") == 1)
            | (F.col("cosine") < F.lit(NEAR_DUP_AUDIT_SURE_COS))
        ).alias("ok"),
    )
    recall = graded.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("found"), F.lit(0)).alias("hits"),
    ).select(
        F.lit("recall").alias("kind"),
        F.lit(None).cast("long").alias("vec_a"),
        F.lit(None).cast("long").alias("vec_b"),
        F.lit(None).cast("double").alias("cosine"),
        F.col("n").cast("long").alias("n"),
        F.when(F.col("n") == 0, F.lit(True))
        .otherwise(
            F.col("hits").cast("double")
            >= F.lit(NEAR_DUP_AUDIT_RECALL_FLOOR) * F.col("n").cast("double")
        )
        .alias("ok"),
    )
    return pairs.unionByName(recall)


def semantic_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantitative audit of semantic_dedup: per-vector rows carry the
    SQL-reproducible ground truth (has_true_dup = some smaller vec_id
    anywhere in the corpus clears the cosine threshold — the global,
    cell-free notion) plus a precision verdict (a dropped vector MUST
    be a true dup: exact-cosine pruning guarantees it); the summary
    row checks aggregate recall (dropped / true-dup ≥ floor — cell
    boundaries make SemDeDup's recall < 1 by design, the documented
    trade-off). The DuckDB oracle reproduces has_true_dup from the
    same fixed-point pair SQL and asserts both verdicts TRUE."""
    sd = semantic_dedup(spark, sf_dir).select("vec_id", "dup_of")
    true_dup = (
        embedding_near_dup_pairs(spark, sf_dir)
        .filter(F.col("cosine") >= SEMANTIC_DUP_COSINE)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("truth", F.lit(1))
    )
    graded = sd.join(true_dup, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("truth"), F.lit(0)).alias("truth"),
        F.col("dup_of").isNotNull().alias("dropped"),
    )
    per_vec = graded.select(
        F.lit("vec").alias("kind"),
        "vec_id",
        (F.col("truth") == 1).alias("has_true_dup"),
        F.lit(None).cast("long").alias("n"),
        (~F.col("dropped") | (F.col("truth") == 1)).alias("ok"),
    )
    summary = graded.agg(
        F.coalesce(F.sum("truth"), F.lit(0)).alias("n_true"),
        F.coalesce(F.sum(F.col("dropped").cast("int")), F.lit(0)).alias(
            "n_drop"
        ),
    ).select(
        F.lit("recall").alias("kind"),
        F.lit(None).cast("long").alias("vec_id"),
        F.lit(None).cast("boolean").alias("has_true_dup"),
        F.col("n_true").cast("long").alias("n"),
        F.when(F.col("n_true") == 0, F.lit(True))
        .otherwise(
            F.col("n_drop").cast("double")
            >= F.lit(SEMANTIC_AUDIT_RECALL_FLOOR)
            * F.col("n_true").cast("double")
        )
        .alias("ok"),
    )
    return per_vec.unionByName(summary)


# ---- persisted IVF-PQ index: build once, probe many -----------------
# r7 debt: ann_ivfpq_topk retrains its model on every invocation. The
# production layout builds ONCE into a cell-partitioned
# manifest-versioned table (codes + cell per vector; the model —
# centroids and codebooks, a few KB — rides in the manifest meta), and
# every probe afterwards is: assign queries to nprobe cells, read ONLY
# those cells' files via manifest metadata pruning, ADC-score codes,
# exact-rerank the shortlist. No training scan, no full-index read.


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, path: str, cand_where=None
) -> int:
    """Train the IVF-PQ model and commit the encoded index as version
    N+1 of a manifest-versioned table partitioned by cell. The `cell`
    column is kept in the data (partition dirs use a derived copy) so
    explicit-file pruned reads retain it. `cand_where` (optional
    Column predicate) restricts which candidates the initial build
    trains on and indexes — the rest can arrive later through
    `append_ivfpq_index` without retraining."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    dim = _vector_dim(emb)
    cands = emb.filter(F.col("vec_id") >= N_QUERIES)
    if cand_where is not None:
        cands = cands.filter(cand_where)
    rows, n = _ivf_train_sample(cands)
    n_cells, nprobe = _ivf_params(n)
    Cq = _ivf_centroids(emb, rows, n_cells)
    books = _pq_codebooks(rows, dim)
    index = (
        _ivf_assign(cands, Cq, nprobe=1)
        .join(pq_encode(cands, books), "vec_id")
        .withColumn("cell_part", F.col("cell"))
    )
    meta = {
        "model": {
            "centroids": Cq.tolist(),
            "codebooks": books.tolist(),  # float64 → json round-trips exactly
            "n_cells": n_cells,
            "nprobe": nprobe,
            "dim": dim,
        },
        # identifies WHAT this index was built from (source files +
        # quantizer config): the steady-state serve path rebuilds on
        # mismatch instead of silently serving an index for data that
        # no longer exists or a config that has moved (r9 ADVICE)
        "data_fingerprint": _embeddings_fingerprint(sf_dir),
    }
    return V.commit_version_clustered(spark, path, index, "cell_part", meta=meta)


def _embeddings_fingerprint(sf_dir: str) -> str:
    """Deterministic identity of the index's source + config: every
    embeddings parquet file's (relative name, size, mtime_ns) plus the
    quantizer constants that shape the stored codes. Metadata-only —
    no data scan; regenerated testdata or a PQ/IVF config bump changes
    the string and invalidates any persisted index built before it."""
    import hashlib
    import os

    base = os.path.join(sf_dir, "embeddings.parquet")
    parts = []
    if os.path.isdir(base):
        for root, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                parts.append((os.path.relpath(p, base), st.st_size, st.st_mtime_ns))
    elif os.path.exists(base):
        st = os.stat(base)
        parts.append((os.path.basename(base), st.st_size, st.st_mtime_ns))
    # IVF_PARAMS_VERSION rides in the fingerprint: any change to the
    # cells/nprobe formula must invalidate persisted indexes (r10
    # itself moved cells/4 → cells/2, bumping the version). An explicit
    # version constant, not inspect.getsource(_ivf_params): source
    # hashing crashes in source-less deployments (zipapp/frozen) and
    # invalidates every index on a mere comment edit. A probe over a
    # spread of n values backs the constant — it catches formula edits
    # someone forgets to version.
    ivf_probe = ",".join(
        f"{n}:{c}:{p}" for n in (16, 1000, 100000) for c, p in [_ivf_params(n)]
    )
    cfg = (
        f"pq_m={PQ_M},pq_ks={PQ_KS},train_max={IVF_TRAIN_MAX},"
        f"scale={EMB_SCALE},ivf_iters={IVF_ITERS},"
        f"ivf_v={IVF_PARAMS_VERSION},ivf_probe={ivf_probe}"
    )
    return hashlib.md5((repr(parts) + "|" + cfg).encode()).hexdigest()


def ann_ivfpq_index_probe(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Serve a query batch from the PERSISTED index: no training, no
    full-index scan. The probed-cell list (≤ N_QUERIES·nprobe ints) is
    the one bounded driver-side collect — it IS the partition-pruning
    predicate. Returns the same (query_id, neighbor_id, cosine, rank)
    shape as ann_ivfpq_topk."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    model = V.manifest_meta(path)["model"]
    Cq = np.asarray(model["centroids"], dtype=np.int64)
    books = np.asarray(model["codebooks"], dtype=np.float64)
    nprobe = int(model["nprobe"])
    M, KS, dsub = books.shape

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    query_cells = _ivf_assign(queries, Cq, nprobe=nprobe).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    probed_cells = sorted(
        {int(r.cell) for r in query_cells.select("cell").distinct().collect()}
    )
    idx = V.read_version_pruned(
        spark, path, [str(c) for c in probed_cells]
    ).select("vec_id", "cell", "codes")

    qrows = queries.select("vec_id", "embedding").collect()
    lut_rows = []
    for r in qrows:
        Q = np.floor(np.asarray(r.embedding, dtype=np.float64) * EMB_SCALE)
        lut = [
            [
                float(np.dot(Q[m * dsub : (m + 1) * dsub], books[m][k]))
                for k in range(KS)
            ]
            for m in range(M)
        ]
        lut_rows.append((int(r.vec_id), lut))
    lut_df = spark.createDataFrame(
        lut_rows, "query_id bigint, lut array<array<double>>"
    )

    probed = query_cells.join(idx, "cell").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "codes"
    )
    adc = probed.join(F.broadcast(lut_df), "query_id").withColumn(
        "adc",
        F.aggregate(
            F.zip_with(
                "codes", "lut", lambda c, l: F.element_at(l, c + F.lit(1))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(emb, shortlist)


def _ivfpq_index_scratch(sf_dir: str, variant: str = "table") -> str:
    import os

    from data_ingestion_pipeline_spark.operators.upsert import scratch_path

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    return scratch_path("ivfpq_index", sf_name, variant)


def ann_ivfpq_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench/production path: build the index only if absent OR stale
    (source-data/config fingerprint mismatch — regenerated testdata or
    a quantizer bump must not be served from an old index), then serve
    the query batch from the persisted table (steady-state serving
    cost — the build amortizes across probes)."""
    import os
    import shutil

    from data_ingestion_pipeline_spark.operators import versioned as V

    path = _ivfpq_index_scratch(sf_dir)
    fresh = V.current_version(path) > 0 and (
        V.manifest_meta(path).get("data_fingerprint")
        == _embeddings_fingerprint(sf_dir)
    )
    if not fresh:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        build_ivfpq_index(spark, sf_dir, path)
    return ann_ivfpq_index_probe(spark, sf_dir, path)


def append_ivfpq_index(
    spark: SparkSession, path: str, new_vectors: DataFrame
) -> int:
    """Grow the persisted index WITHOUT retraining: encode the new
    vectors through the PERSISTED model (centroids + codebooks from
    the manifest — the index's quantizer is frozen at build time,
    exactly FAISS `add` semantics) and append them as fresh
    cell-partitioned files; every existing file carries into the new
    manifest by reference. Cost is O(new vectors) regardless of index
    size — the lifecycle that makes a 100 TB index maintainable
    (daily embedding batches append; retrain/rebuild is a deliberate,
    separate event when drift warrants it)."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    model = V.manifest_meta(path)["model"]
    Cq = np.asarray(model["centroids"], dtype=np.int64)
    books = np.asarray(model["codebooks"], dtype=np.int64)
    index = (
        _ivf_assign(new_vectors, Cq, nprobe=1)
        .join(pq_encode(new_vectors, books), "vec_id")
        .withColumn("cell_part", F.col("cell"))
    )
    return V.append_version_clustered(spark, path, index, "cell_part")


def ann_ivfpq_index_append_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry entry for the index GROWTH lifecycle: build v1 on the
    even-id half of the corpus (model trains on that half only),
    append the odd-id half encoded through the frozen v1 model (v2),
    then serve the query batch against the appended index and grade
    recall vs the exact cosine top-k over the WHOLE corpus. Floors are
    the measured appended-index values (see ANN_AUDIT_FLOORS["ivfpq_append"])
    — the half-corpus-trained model quantizes the appended half
    slightly worse than a full retrain would, which is the honest
    price of O(new data) appends."""
    import os
    import shutil

    path = _ivfpq_index_scratch(sf_dir, variant="append_rt")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    build_ivfpq_index(
        spark, sf_dir, path, cand_where=(F.col("vec_id") % 2 == 0)
    )
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    odds = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 2 == 1)
    )
    append_ivfpq_index(spark, path, odds)
    return _ann_recall_audit(
        spark,
        sf_dir,
        lambda s, d: ann_ivfpq_index_probe(s, d, path),
        *ANN_AUDIT_FLOORS["ivfpq_append"],
    )


def ann_ivfpq_index_append_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench path for the append lifecycle: build-evens + append-odds
    only if absent or stale (same fingerprint contract as
    ann_ivfpq_index_serve), then serve — steady-state cost is the
    probe, with the one-time build+append amortized."""
    import os
    import shutil

    from data_ingestion_pipeline_spark.operators import versioned as V

    path = _ivfpq_index_scratch(sf_dir, variant="append")
    fresh = V.current_version(path) >= 2 and (
        V.manifest_meta(path).get("data_fingerprint")
        == _embeddings_fingerprint(sf_dir)
    )
    if not fresh:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path, exist_ok=True)
        build_ivfpq_index(
            spark, sf_dir, path, cand_where=(F.col("vec_id") % 2 == 0)
        )
        emb = load_table(spark, sf_dir, "embeddings")
        odds = emb.filter(
            (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") % 2 == 1)
        )
        append_ivfpq_index(spark, path, odds)
    return ann_ivfpq_index_probe(spark, sf_dir, path)


def ann_ivfpq_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: build the persisted index fresh (v1), then
    grade the SERVED probe against the exact cosine top-k (the ANN
    recall-audit form; identical floors to ann_ivfpq_topk — the probe
    reads the same codes the transient variant computes)."""
    import os
    import shutil

    path = _ivfpq_index_scratch(sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    build_ivfpq_index(spark, sf_dir, path)
    return _ann_recall_audit(
        spark,
        sf_dir,
        lambda s, d: ann_ivfpq_index_probe(s, d, path),
        *ANN_AUDIT_FLOORS["ivfpq"],
    )


# ---- persisted embedding-LSH band index: continuous-crawl near-dup --
# (VERDICT r15 task 4): the minhash_index pattern (operators/dedup.py)
# transferred to vectors. At 200k vectors the batch embedding LSH
# costs ~400 s (LSH_BANDS.json third_decade) and a continuous-crawl
# pipeline re-pays it on EVERY batch; the persisted index pays it
# once — the standing corpus's band rows and vectors live in two
# versioned tables, a crawl batch is hashed once, and the probe is
# one (band_table, band_key) equi-join against the stored band rows
# plus an O(candidates) vector fetch for the exact verify. Appends
# carry every prior index file by reference (append_version_clustered)
# so maintenance cost is O(batch) regardless of index size.
#
# Layout: both tables append with NO layout column, so each input
# partition of a batch becomes one file per table. No reader prunes on
# a directory here — the probe joins on the (band_table, band_key) and
# vec_id columns and removal is a DV delete on vec_id — so directory
# buckets would only multiply files, and file count is what the probe
# pays for: each read plans and opens every file, and past Spark's
# parallelPartitionDiscovery.threshold (32 paths) every read_version
# first runs a distributed listing job with one task per file. Tables
# written under a bucketed layout (p_table / p_bucket directories)
# stay readable: leaf-file reads never infer the directory column, and
# manifest partition tags are carried, not interpreted.

_EMB_INDEX_BANDS = "bands"
_EMB_INDEX_VECTORS = "vectors"
_EMB_INDEX_META = "embedding_lsh_index"


def _emb_index_params(n: int, dim: int) -> dict:
    band_bits, n_tables = _lsh_params(n, NEAR_DUP_COSINE)
    return {
        "band_bits": band_bits,
        "n_tables": n_tables,
        "dim": dim,
        "n_planes": N_PLANES,
        "threshold": NEAR_DUP_COSINE,
    }


def _emb_index_hash(emb: DataFrame, p: dict) -> DataFrame:
    """A batch hashed ONCE under the pinned params `p`: (vec_id,
    embedding, sig0, sig1, band_keys) from one _hash_pass, plus the
    JVM fixed-point `nrm`, materialised by localCheckpoint so the
    probe's candidate joins and verify lookup (or the append's two
    writes) all read the same rows without re-running the Python
    stage. Bits are identical to hamming_signatures and _band_keys
    under the same params — embedding_near_dup_lsh stays the
    reference."""
    return _with_norm(
        _hash_pass(
            emb, p["dim"], p["n_planes"], p["n_tables"], p["band_bits"],
            keep_embedding=True,
        )
    ).localCheckpoint(eager=True)


def embedding_index_append(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    params: dict | None = None,
) -> int:
    """Create-or-extend the persisted embedding band index at `path`:
    two versioned tables under one root, `bands` = (vec_id,
    band_table, band_key) and `vectors` = (vec_id, embedding, nrm,
    sig0, sig1), both appended with no layout column (see the layout
    note above) — the batch is hashed once (_emb_index_hash) and each
    of its input partitions lands as one file per table.

    The first call PINS the LSH parameterization — explicit `params`,
    or derived from the first batch's size and dimension via
    _lsh_params — into the bands manifest meta; every later append
    re-reads the pinned params, so band keys stay comparable for the
    index's whole life (the hyperplane draws are deterministic in
    (n_planes, dim, salt), making probe and append reproducible on
    any engine restart). An empty first batch without `params` has
    nothing to derive a parameterization from and refuses before any
    write; with explicit `params` it creates an empty index. A
    mismatched explicit `params` refuses: band keys from different
    (bits, tables, dim) are incomparable garbage — re-index under the
    new parameterization instead (FAISS-retrain semantics, same
    contract as the minhash and IVF-PQ indexes). Appends are
    O(batch): prior files carry by reference in both tables."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    bands_path = os.path.join(path, _EMB_INDEX_BANDS)
    vecs_path = os.path.join(path, _EMB_INDEX_VECTORS)
    pinned = V.latest_meta(bands_path, _EMB_INDEX_META)
    if pinned is None:
        if params is None:
            row = emb.agg(
                F.count(F.lit(1)).alias("n"), F.max(F.size("embedding")).alias("dim")
            ).first()
            if not row["n"]:
                raise ValueError(
                    f"embedding_index_append: empty first batch for {path!r} "
                    "cannot pin LSH params — pass params explicitly"
                )
            params = _emb_index_params(row["n"], row["dim"])
        pinned = params
    elif params is not None and params != pinned:
        raise ValueError(
            f"index at {path!r} was pinned with {pinned}; got {params} "
            "— rebuild the index to re-parameterize"
        )
    os.makedirs(bands_path, exist_ok=True)
    os.makedirs(vecs_path, exist_ok=True)

    hashed = _emb_index_hash(emb, pinned)
    V.append_version_clustered(
        spark, bands_path, _explode_bands(hashed), None,
        meta={_EMB_INDEX_META: pinned},
    )
    return V.append_version_clustered(
        spark, vecs_path,
        hashed.select("vec_id", "embedding", "nrm", "sig0", "sig1"), None,
    )


def embedding_index_remove(
    spark: SparkSession, path: str, vec_ids
) -> tuple[int, int]:
    """Remove vectors from the persisted index — the crawl-corpus
    maintenance op (documents get taken down or rewritten; their
    vectors must stop matching). ONE deletion-vector commit per
    subtable: position-keyed soft deletes, zero band/vector files
    rewritten, prior index files carried by reference — O(index scan)
    once for the predicate, O(removed) sidecar bytes. Probes read
    through read_version, so the DV masks removed rows immediately:
    a removed vector stops appearing as a candidate AND its stored
    (embedding, signature) row disappears from the verify lookup in
    the same commit. `vec_ids` is a bounded driver-side literal (the
    purge_rows key_values contract); time travel still serves the
    pre-removal index. Returns the two new subtable versions."""
    from data_ingestion_pipeline_spark.operators import versioned as V

    ids = [int(x) for x in vec_ids]
    if not ids:
        raise ValueError("embedding_index_remove: empty vec_ids")
    pred = F.col("vec_id").isin(ids)
    vb = V.delete_rows_dv(
        spark, os.path.join(path, _EMB_INDEX_BANDS), pred
    )
    vv = V.delete_rows_dv(
        spark, os.path.join(path, _EMB_INDEX_VECTORS), pred
    )
    return vb, vv


def embedding_index_probe(
    spark: SparkSession, path: str, new_vecs: DataFrame
) -> DataFrame:
    """Near-dup pairs of `new_vecs` against the INDEXED corpus and
    within `new_vecs` — (vec_a, vec_b, cosine), vec_a < vec_b,
    cosine ≥ the pinned threshold. Same three prune stages as the
    batch operator (embedding_near_dup_lsh), with the standing corpus
    contributing ONLY stored rows:

    1. CANDIDATES — the batch is hashed once under the PINNED params
       (_emb_index_hash: one Arrow pass yields its band keys and
       signatures together); one equi-join on (band_table, band_key)
       against the stored band rows (new-vs-index) plus the batch's
       self-join (new-vs-new). Fan-out tracks bucket co-occupancy,
       never index × batch; the indexed corpus is never re-hashed.
    2. COARSE — 16-byte signature Hamming ≤ NEAR_DUP_MAX_HAMMING;
       indexed signatures come from the vectors table via an
       O(candidates) equi-join, batch signatures come from the same
       hash pass (deterministic planes ⇒ identical to the ones
       stored at that vector's own append).
    3. EXACT — fixed-point cosine ≥ threshold, precision perfect by
       construction; the indexed side's vectors are fetched by the
       same O(candidates) join, so no full-index vector scan.

    With the index pinned at the batch operator's parameterization,
    the probe's output EQUALS embedding_near_dup_lsh restricted to
    pairs involving ≥1 batch vector (pinned in
    tests/test_similarity.py::test_embedding_index_probe_matches_batch_lsh).
    """
    from data_ingestion_pipeline_spark.operators import versioned as V

    bands_path = os.path.join(path, _EMB_INDEX_BANDS)
    vecs_path = os.path.join(path, _EMB_INDEX_VECTORS)
    pinned = V.latest_meta(bands_path, _EMB_INDEX_META)
    if pinned is None:
        raise ValueError(f"no embedding index at {path!r}")

    hashed = _emb_index_hash(new_vecs, pinned)
    nb = _explode_bands(hashed)
    stored = V.read_version(spark, bands_path).select(
        "vec_id", "band_table", "band_key"
    )
    a = nb.select(
        F.col("vec_id").alias("vec_a"), "band_table", "band_key"
    )
    pairs = (
        a.join(
            stored.select(
                F.col("vec_id").alias("vec_b"), "band_table", "band_key"
            ),
            ["band_table", "band_key"],
        )
        .filter(F.col("vec_a") != F.col("vec_b"))
        .unionByName(
            a.join(
                nb.select(
                    F.col("vec_id").alias("vec_b"), "band_table", "band_key"
                ),
                ["band_table", "band_key"],
            ).filter(F.col("vec_a") < F.col("vec_b"))
        )
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
        )
        .dropDuplicates()
    )

    # one lookup relation serves both pair sides: stored rows for
    # indexed vectors, fresh rows for the batch (batch rows win on
    # overlap — they are identical by determinism, so precedence is
    # cosmetic)
    fresh = hashed.select("vec_id", "embedding", "nrm", "sig0", "sig1")
    stored_vecs = (
        V.read_version(spark, vecs_path)
        .select("vec_id", "embedding", "nrm", "sig0", "sig1")
        .join(fresh.select("vec_id"), "vec_id", "left_anti")
    )
    lookup = fresh.unionByName(stored_vecs)
    la = lookup.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
        F.col("sig0").alias("a0"),
        F.col("sig1").alias("a1"),
    )
    lb = lookup.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("sig0").alias("b0"),
        F.col("sig1").alias("b1"),
    )
    return (
        pairs.join(la, "vec_a")
        .join(lb, "vec_b")
        .withColumn(
            "hamming",
            F.bit_count(F.col("a0").bitwiseXOR(F.col("b0")))
            + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1"))),
        )
        .filter(F.col("hamming") <= NEAR_DUP_MAX_HAMMING)
        .withColumn(
            "cosine",
            _fixed_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= F.lit(float(pinned["threshold"])))
        .select("vec_a", "vec_b", "cosine")
    )


def embedding_index_incremental_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Production path of the incremental lifecycle: index the
    standing corpus (vec_id % 3 != 0), probe the crawl batch
    (vec_id % 3 == 0). The index is pinned at the FULL corpus's
    parameterization so the probe is an exact twin of the batch
    operator on batch-involving pairs (the same trade the minhash
    entry makes via its global constants; a production deployment
    pins from the standing corpus at build time and re-indexes when
    scale shifts a decade)."""
    import shutil as _shutil

    from data_ingestion_pipeline_spark.operators.upsert import scratch_path

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    path = scratch_path("embedding_index", sf_name, "table")
    _shutil.rmtree(path, ignore_errors=True)
    emb = load_table_spread(spark, sf_dir, "embeddings", "vec_id")
    params = _emb_index_params(emb.count(), _vector_dim(emb))
    embedding_index_append(
        spark, path, emb.filter(F.col("vec_id") % 3 != 0), params=params
    )
    return embedding_index_probe(
        spark, path, emb.filter(F.col("vec_id") % 3 == 0)
    )


def embedding_index_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Graded form (the embedding_near_dup_recall_audit pattern):
    exact ≥-threshold cosine pairs RESTRICTED to pairs involving ≥1
    batch vector, each marked found-by-probe (ok = found, or cosine
    below the sure-recall band), plus the aggregate recall row."""
    exact = embedding_near_dup_pairs(spark, sf_dir).filter(
        (F.col("vec_a") % 3 == 0) | (F.col("vec_b") % 3 == 0)
    )
    cand = (
        embedding_index_incremental_pairs(spark, sf_dir)
        .select("vec_a", "vec_b")
        .withColumn("found", F.lit(1))
    )
    graded = exact.join(cand, ["vec_a", "vec_b"], "left").select(
        "vec_a",
        "vec_b",
        "cosine",
        F.coalesce(F.col("found"), F.lit(0)).alias("found"),
    )
    pairs = graded.select(
        F.lit("pair").alias("kind"),
        "vec_a",
        "vec_b",
        "cosine",
        F.lit(None).cast("long").alias("n"),
        (
            (F.col("found") == 1)
            | (F.col("cosine") < F.lit(NEAR_DUP_AUDIT_SURE_COS))
        ).alias("ok"),
    )
    recall = graded.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("found"), F.lit(0)).alias("hits"),
    ).select(
        F.lit("recall").alias("kind"),
        F.lit(None).cast("long").alias("vec_a"),
        F.lit(None).cast("long").alias("vec_b"),
        F.lit(None).cast("double").alias("cosine"),
        F.col("n").cast("long").alias("n"),
        F.when(F.col("n") == 0, F.lit(True))
        .otherwise(
            F.col("hits").cast("double")
            >= F.lit(NEAR_DUP_AUDIT_RECALL_FLOOR) * F.col("n").cast("double")
        )
        .alias("ok"),
    )
    return pairs.unionByName(recall)
