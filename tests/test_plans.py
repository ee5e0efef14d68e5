"""Physical-plan shape assertions — the 100 TB contract.

Correctness tests prove the operators compute the right answer at
small SF; these prove the PLANS are the ones that survive a 1000×
scale-up: filters and projections reach the parquet scan, dimension
joins broadcast instead of shuffling the fact table, aggregates
combine map-side, and the LSH operators never degenerate into
cartesian products. A regression here is invisible to the oracle but
catastrophic at scale, so it gets its own gate.
"""

from __future__ import annotations

import contextlib
import io

from data_ingestion_pipeline_spark.operators import analytics, dedup, queries, similarity
from tests.conftest import SF_TEST


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_raw_scan_pushes_filters(spark):
    """The station/time predicates must reach the parquet reader as
    PushedFilters, not run as a post-scan Filter only."""
    plan = plan_of(queries.raw_filter_sort(spark, SF_TEST))
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "user_id" in pushed and "ts" in pushed, pushed


def test_doc_scan_prunes_columns(spark):
    """doc_stats reads 3 of the documents table's columns; the scan
    schema must not include the unused ones."""
    plan = plan_of(queries.load_table(spark, SF_TEST, "documents").select("doc_id"))
    # sanity of the probe itself: ReadSchema appears for parquet scans
    assert "ReadSchema" in plan
    from data_ingestion_pipeline_spark.operators.text import doc_stats

    plan = plan_of(doc_stats(spark, SF_TEST))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema
    assert "source" not in read_schema and "n_chars" not in read_schema, read_schema


def test_star_join_broadcasts_dimensions(spark):
    """revenue_by_nation joins lineitem against orders/customer/
    nation/region: the dimension sides must broadcast — a shuffle of
    the fact table per dimension would dominate at scale."""
    plan = plan_of(analytics.revenue_by_nation(spark, SF_TEST))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_agg_is_partial_then_final(spark):
    """q1 must do map-side partial aggregation (each task ships a few
    rows per group, not its raw rows)."""
    plan = plan_of(analytics.q1_pricing_summary(spark, SF_TEST))
    assert "partial_" in plan, "no map-side combine in aggregate"


def test_minhash_lsh_is_not_allpairs(spark):
    """The LSH candidate join must be an equi-join on bucket keys —
    never a cartesian/nested-loop over documents."""
    plan = plan_of(dedup.minhash_lsh_candidates(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_candidates_is_not_allpairs(spark):
    plan = plan_of(dedup.simhash_candidates(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_lsh_is_not_allpairs(spark):
    """The banded near-dup candidate join must be an equi-join on
    (band_table, band_key) — the round-2 shape was a theta join over
    every signature pair (O(n²) candidates regardless of per-pair
    cost)."""
    plan = plan_of(similarity.embedding_near_dup_lsh(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_index_probe_is_not_allpairs(spark, tmp_path):
    """The persisted-index probe's candidate stage must be an
    equi-join of the batch's band keys against the STORED band rows —
    never a cartesian/nested-loop, and never a re-hash of the indexed
    corpus (the index side reads only its two versioned tables). The
    batch is hashed in one Arrow pass, materialised before the joins:
    the probe's plan holds at most one MapInPandas node."""
    from pyspark.sql import functions as F

    from data_ingestion_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, SF_TEST, "embeddings")
    path = str(tmp_path / "embidx_plan")
    similarity.embedding_index_append(
        spark, path, emb.filter(F.col("vec_id") % 3 != 0)
    )
    probe = similarity.embedding_index_probe(
        spark, path, emb.filter(F.col("vec_id") % 3 == 0)
    )
    plan = plan_of(probe)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan_of(probe, "simple").count("MapInPandas") <= 1


def test_asof_join_has_no_join(spark):
    """The as-of lookup must compile to union + window (one shuffle on
    user_id, linear merge) — not a range join, whose ts <= ts theta
    condition explodes to O(n·m) comparisons per station."""
    plan = plan_of(queries.asof_latest_click(spark, SF_TEST))
    assert "Join" not in plan, plan
    assert "Union" in plan and "Window" in plan


def test_cosine_topk_broadcasts_queries(spark):
    """The exact scorer is a deliberate broadcast cross: the tiny
    query set is broadcast and the candidate table streams once. The
    plan must show the broadcast on the query side — a shuffled or
    partitioned cross would re-read the big side per query batch."""
    plan = plan_of(similarity.cosine_topk(spark, SF_TEST))
    assert "BroadcastNestedLoopJoin" in plan


def test_wire_parse_single_scan(spark):
    """The valid-route parse is one pass: scan → project/filter, no
    shuffle (Exchange) anywhere in the plan."""
    from data_ingestion_pipeline_spark.operators.wire import wire_parse_valid

    plan = plan_of(wire_parse_valid(spark, SF_TEST))
    assert "Exchange" not in plan, "wire parse should be shuffle-free"


def test_parse_time_bound_fail_fast(spark):
    """P6: valid bounds parse; garbage raises at execution instead of
    silently matching nothing."""
    import pytest
    from pyspark.sql import functions as F

    ok = spark.range(1).select(
        queries.parse_time_bound("2024-01-05 00:00:00").alias("t")
    ).first()
    assert ok.t is not None
    # Spark 4 ANSI mode already raises CAST_INVALID_INPUT at the
    # to_timestamp; the assert_true covers non-ANSI deployments
    with pytest.raises(Exception, match="unparseable|ASSERT|CAST_INVALID_INPUT"):
        spark.range(1).select(
            queries.parse_time_bound("not-a-time").alias("t")
        ).first()


def test_range_join_is_bucketed_equi_join(spark):
    """The no-equi-key time-range join must compile to an equi-join on
    the bucket key (shuffle/broadcast HASH join) — the naive pure-
    inequality formulation plans as BroadcastNestedLoop, O(n·m)
    comparisons at any cluster size."""
    plan = plan_of(queries.range_join_error_context(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan, plan


def test_ann_ivf_is_cell_pruned_equi_join(spark):
    """IVF candidate generation must be an equi-join on the cell id,
    never an all-pairs scan."""
    plan = plan_of(similarity.ann_ivf_topk(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed anywhere in this plan family is the
    # deliberate broadcast-queries cross of the exact scorer, which
    # ann_ivf's rerank joins by key instead
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_map_only(spark):
    """The hash-gated sample is a per-row predicate: no shuffle, no
    Python — a scan with a filter."""
    from data_ingestion_pipeline_spark.operators.sampling import (
        stratified_sample_docs,
    )

    plan = plan_of(stratified_sample_docs(spark, SF_TEST))
    assert "Exchange" not in plan, "sampling must not shuffle"
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_vocab_topk_is_take_ordered(spark):
    """The vocabulary top-K cut must plan as TakeOrderedAndProject —
    each partition keeps its local top K — never as a global window
    that funnels the entire (potentially billion-token) vocabulary
    into a single partition (VERDICT r4 §wrong 1)."""
    from data_ingestion_pipeline_spark.operators.text import vocab_top_tokens

    plan = plan_of(vocab_top_tokens(spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan, plan
    # the only Window allowed is the post-limit rank over K rows; the
    # plan must not sort the full vocabulary before the limit — i.e.
    # no single-partition Exchange feeding anything but the final
    # K-row ranking stage
    before_limit = plan.split("TakeOrderedAndProject")[-1]
    assert "Exchange SinglePartition" not in before_limit, plan


def test_doc_tfidf_join_is_not_forced_broadcast(spark):
    """The tf×df join's build side is vocabulary-sized: the strategy
    must be optimizer-chosen (broadcast while small under AQE, shuffle
    hash/sort-merge when not), never a cartesian — and the logical
    plan must not carry a forced broadcast hint that would OOM the
    driver on a web-scale vocabulary (VERDICT r4 §wrong 2)."""
    from data_ingestion_pipeline_spark.operators.text import doc_tfidf_topk

    df = doc_tfidf_topk(spark, SF_TEST)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical, logical
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_corpus_ops_are_map_only_jvm(spark):
    """The corpus-construction operators (chunking, pseudonymization,
    split assignment) are per-row transforms: no shuffle, no Python
    workers — a 100 TB corpus pass at scan cost."""
    from data_ingestion_pipeline_spark.operators import corpus

    for fn in (corpus.doc_chunks, corpus.doc_pseudonymize, corpus.corpus_split_assign):
        plan = plan_of(fn(spark, SF_TEST))
        assert "Exchange" not in plan, f"{fn.__name__} must not shuffle:\n{plan}"
        assert "InPandas" not in plan and "EvalPython" not in plan, fn.__name__


def test_salted_join_is_shuffled_hash(spark):
    """The salted replicate-join demonstrates the no-broadcast skew
    path: the plan must be a shuffled hash join on (key, salt) — not a
    broadcast (which would make salting a no-op) and never a
    cartesian."""
    from data_ingestion_pipeline_spark.functions.skew import (
        events_customer_join_salted,
    )

    plan = plan_of(events_customer_join_salted(spark, SF_TEST))
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_is_hash_equi_join(spark):
    """Incremental corpus dedup: window + anti-join both key on the
    content hash — no cartesian, no nested loop."""
    from data_ingestion_pipeline_spark.operators.text import docs_incremental_dedup

    plan = plan_of(docs_incremental_dedup(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_is_jvm_only(spark):
    """Gap-filling must stay inside whole-stage codegen: no Python
    workers (ArrowEvalPython/FlatMapGroupsInPandas) in the plan."""
    plan = plan_of(queries.timeseries_1h_gapfill(spark, SF_TEST))
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    # grid explode fans out from one row per station, not per event
    assert "Generate" in plan and "explode(sequence(" in plan, plan


def test_doc_repetition_is_map_only_jvm(spark):
    """Repetition stats compute per-row multiplicities via sorted-
    array folds — the plan must be a single scan with no shuffle and
    no Python workers (the explode+groupBy formulation would shuffle
    the corpus's full token stream)."""
    from data_ingestion_pipeline_spark.operators.text import doc_repetition

    plan = plan_of(doc_repetition(spark, SF_TEST))
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan


def test_mix_resample_is_map_only(spark):
    """Corpus mixing is per-row CASE + sequence/explode fan-out: no
    shuffle, no Python, and the fan-out generator present."""
    from data_ingestion_pipeline_spark.operators.corpus import corpus_mix_resample

    plan = plan_of(corpus_mix_resample(spark, SF_TEST))
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    assert "Generate" in plan, plan


def test_pack_sequences_single_shard_exchange(spark):
    """Sequence packing is ONE hash exchange on the shard key feeding
    a per-shard sort — no global (single-partition) exchange, no
    second shuffle."""
    from data_ingestion_pipeline_spark.operators.corpus import pack_sequences

    simple = plan_of(pack_sequences(spark, SF_TEST), "simple")
    assert simple.count("Exchange") == 1, simple
    plan = plan_of(pack_sequences(spark, SF_TEST))
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(shard" in plan, plan


def test_decontaminate_is_equi_join(spark):
    """Benchmark decontamination joins on the gram hash: never a
    cartesian/nested-loop, and the join key is the md5 hash (fixed
    width), not the gram text."""
    from data_ingestion_pipeline_spark.operators.dedup import decontaminate_ngram

    plan = plan_of(decontaminate_ngram(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "gh" in plan


def test_dup_cluster_edges_are_joinless_bucket_expansion(spark):
    """The component edge set is ONE aggregation on the gram hash
    (collect member docs per bucket, expand pairs as an array op) —
    the plan must contain no join of any kind and exactly one
    pre-distinct exchange on the hash. (The label-propagation loop
    materializes via localCheckpoint, so we assert on the
    edge-building plan.)"""
    from data_ingestion_pipeline_spark.operators import dedup
    from data_ingestion_pipeline_spark.operators.dedup import _gram_hashes
    from data_ingestion_pipeline_spark.operators.queries import load_table

    import pyspark.sql.functions as F

    docs = load_table(spark, SF_TEST, "documents")
    grams = _gram_hashes(docs)
    buckets = grams.groupBy("gh").agg(F.collect_list("doc_id").alias("ds")).filter(
        (F.size("ds") >= dedup.CLUSTER_GRAM_DF_MIN)
        & (F.size("ds") <= dedup.CLUSTER_GRAM_DF_MAX)
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
    plan = plan_of(edges)
    assert "Join" not in plan, plan
    simple = plan_of(edges, "simple")
    assert simple.count("Exchange") == 2, simple  # gh agg + pair distinct


def test_label_centroids_partial_agg(spark):
    """Centroid aggregation must combine map-side: two HashAggregate
    levels around one Exchange on (label, dim) — the shuffle carries
    labels·dim rows per partition, never the exploded corpus."""
    from data_ingestion_pipeline_spark.operators.similarity import label_centroids

    simple = plan_of(label_centroids(spark, SF_TEST), "simple")
    assert simple.count("HashAggregate") == 2, simple
    assert simple.count("Exchange") == 1, simple


def test_quality_gate_is_map_only_jvm(spark):
    """The composite quality gate evaluates all rules per-row from
    array expressions: one scan, no shuffle, no Python workers."""
    from data_ingestion_pipeline_spark.operators.text import quality_filter_verdicts

    plan = plan_of(quality_filter_verdicts(spark, SF_TEST))
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan


def test_ohlc_is_partial_then_final(spark):
    """OHLC's open/close are min/max of a (ts, event_id, value)
    struct — ordinary partial-aggregable min/max, so the plan must
    show map-side combine and no window (a first_value-over-window
    formulation would add a sort and a second exchange)."""
    from data_ingestion_pipeline_spark.operators import toolkit

    plan = plan_of(toolkit.timeseries_ohlc_1h(spark, SF_TEST))
    assert "partial_" in plan, "no map-side combine in OHLC aggregate"
    assert "Window" not in plan, plan


def test_interpolate_is_jvm_only(spark):
    """Linear interpolation must stay inside whole-stage codegen (no
    Python workers) and fan the hour grid out from one row per
    station, same contract as the locf gapfill."""
    from data_ingestion_pipeline_spark.operators import toolkit

    plan = plan_of(toolkit.timeseries_1h_interpolate(spark, SF_TEST))
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    assert "Generate" in plan and "explode(sequence(" in plan, plan


def test_twa_and_uptime_share_one_exchange(spark):
    """The lead() window and the groupBy both key on user_id; Spark
    must reuse the window's hash partitioning for the aggregate —
    exactly one shuffle in the whole plan."""
    from data_ingestion_pipeline_spark.operators import toolkit

    import re

    for fn in (
        toolkit.station_time_weighted_avg,
        toolkit.station_uptime_heartbeat,
        toolkit.station_counter_total,
    ):
        plan = plan_of(fn(spark, SF_TEST))
        detail_nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
        assert detail_nodes.count("Exchange") == 1, plan
        assert "hashpartitioning(user_id" in plan, plan


def test_semantic_dedup_is_cell_pruned_equi_join(spark):
    """SemDeDup's within-cell pairing must be an equi-join on the
    cell id — never a corpus-wide all-pairs product."""
    plan = plan_of(similarity.semantic_dedup(spark, SF_TEST))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_unigram_logprob_broadcasts_total_only(spark):
    """The 1-row corpus total joins by broadcast; the token-stream ×
    vocabulary join must be a keyed join (hash or sort-merge on
    token), and the whole plan stays JVM-side."""
    from data_ingestion_pipeline_spark.operators.text import doc_unigram_logprob

    plan = plan_of(doc_unigram_logprob(spark, SF_TEST))
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_bm25_is_take_ordered_with_broadcast_stats(spark):
    """BM25's final cut must be TakeOrderedAndProject (K rows per
    partition, never a global sort of all matching docs), with the
    tiny df/stats sides broadcast, and document length computed
    map-only (no token-stream shuffle for dl)."""
    from data_ingestion_pipeline_spark.operators.text import bm25_topk

    plan = plan_of(bm25_topk(spark, SF_TEST))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan, plan


def test_scd2_is_single_keyed_join(spark):
    """The SCD2 merge must be ONE equi-join on the dimension key plus
    a union — never a cartesian, and never a second scan-join of the
    dimension per branch."""
    from data_ingestion_pipeline_spark.operators.upsert import scd2_customer_history

    plan = plan_of(scd2_customer_history(spark, SF_TEST))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Union" in plan, plan


def test_span_dedup_first_occurrence_is_partial_agg(spark):
    """Span dedup's global first-occurrence must be a map-side
    combinable min of a (doc_id, span_id) struct — one aggregate on
    the span key, an equi-join back, and an array_sort reassembly;
    no window over the corpus-sized span table and no cartesian."""
    from data_ingestion_pipeline_spark.operators.corpus import span_dedup_docs

    plan = plan_of(span_dedup_docs(spark, SF_TEST))
    assert "partial_min" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_no_accidental_cross_joins_anywhere(spark):
    """Standing audit: EVERY batch entry's physical plan is free of
    CartesianProduct and BroadcastNestedLoopJoin, except the
    deliberate crosses in DELIBERATE — a new operator that silently plans a cross
    join fails here even before anyone writes it a dedicated test.
    Streaming entries are excluded (constructing them runs a full
    drain); their batch twins are covered."""
    from data_ingestion_pipeline_spark.registry import REGISTRY

    DELIBERATE = {
        # 1-row corpus-stat broadcast (keyless by construction)
        "doc_unigram_logprob",
        "bm25_topk",
        # quadratic oracle fixtures — all-pairs IS their definition
        "ngram_jaccard_pairs",
        "embedding_near_dup_pairs",
        # broadcast-queries × candidate-stream exact scorers
        "cosine_topk",
        "ann_hamming_topk",
        # same broadcast-queries cross, theta'd on label mismatch
        "hard_negative_mining",
        # broadcast 10-row ADC lookup table × candidate code stream
        "ann_pq_topk",
        # 1-row total-distinct broadcast for the union-audit row
        "hll_user_rollup",
        # r9 recall-audit entries: each grades its approximate
        # production path against a DELIBERATE exact cross — the
        # broadcast-queries cosine top-k (ann_*) or the all-pairs
        # embedding ground truth (near-dup / SemDeDup). The raw
        # production operators stay pinned non-cartesian by their
        # dedicated plan tests below.
        "ann_ivf_topk",
        "ann_ivfpq_topk",
        "ann_ivfpq_index_roundtrip",
        "ann_ivfpq_index_append_roundtrip",
        "embedding_near_dup_lsh",
        "semantic_dedup",
        # r16: same recall-audit shape — grades the persisted-index
        # probe against the all-pairs exact oracle; the probe itself
        # is pinned non-cartesian in
        # test_embedding_index_probe_is_not_allpairs
        "embedding_index_probe",
    }
    flagged = {}
    for name, spec in REGISTRY.items():
        if name.startswith("stream_") or name in DELIBERATE:
            continue
        plan = plan_of(spec.fn(spark, SF_TEST))
        tags = [
            t
            for t in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if t in plan
        ]
        if tags:
            flagged[name] = tags
    assert not flagged, flagged


def test_pii_redact_is_map_only_jvm(spark):
    """PII detection/redaction is a per-row regex pass: no shuffle, no
    Python — runs at scan cost like the other quality gates."""
    from data_ingestion_pipeline_spark.operators import corpus

    plan = plan_of(corpus.doc_pii_redact(spark, SF_TEST))
    assert "Exchange" not in plan, plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_cms_estimate_join_broadcasts_sketch(spark):
    """The CMS estimate join must broadcast the depth×width cell table
    (≈256 rows) into the key-domain side — shuffling keys against a
    constant-size sketch would be backwards at scale."""
    plan = plan_of(analytics.cms_heavy_hitters(spark, SF_TEST))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_jaccard_prefix_join_is_not_allpairs(spark):
    """Prefix filtering must make the exact Jaccard join an equi-join
    on prefix tokens (length filter riding as residual) — never a
    cartesian/nested-loop like its quadratic oracle twin."""
    plan = plan_of(dedup.jaccard_prefix_join(spark, SF_TEST))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pit_join_is_broadcast(spark):
    """The point-in-time probe must broadcast the dimension history:
    the fact side stays unshuffled and the disjoint-interval residual
    keeps output cardinality at exactly the fact count."""
    from data_ingestion_pipeline_spark.operators import upsert

    df = upsert.pit_join_orders(spark, SF_TEST)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    n_orders = spark.read.parquet(f"{SF_TEST}/orders.parquet").count()
    assert df.count() == n_orders
