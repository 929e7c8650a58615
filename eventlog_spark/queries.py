"""Central query registry — the driver-checked surface.

Every implemented operator from SURVEY.md §2 is exposed here as a named
query: a ``(spark, sf_dir) -> DataFrame`` callable plus (where SQL can
express it) an equivalent ANSI-SQL oracle string that DuckDB runs on the
same parquet tables. The driver hash-compares both sides at sf0.01.

Determinism rules used throughout (so value-hashes match across engines):

* Money aggregates cast inputs to ``DECIMAL(12,2)`` *before* summing —
  decimal addition is exact and order-independent, unlike double sums
  which vary with partition order.
* Averages are computed as ``CAST(decimal_sum AS DOUBLE) / count`` —
  both engines then divide identical doubles by identical longs.
* No ``ROUND`` on doubles (Spark rounds HALF_UP, DuckDB HALF_EVEN).
* Every computed column is aliased identically in both dialects.
* Session timezone is UTC on the Spark side (session.py) to match DuckDB.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .session import ship_package


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def canonicalize_output(df: DataFrame) -> DataFrame:
    """Canonicalize FINAL output dtypes so pandas renders both engines
    identically (the driver hash-compares pandas-converted values):

    * DECIMAL → DOUBLE. Decimal math stays exact inside the plan
      (order-independent sums); only the top-of-plan column is cast.
      DuckDB's pandas path coerces DECIMAL to float64, so a Spark-side
      Decimal would render ``253942.00`` vs DuckDB's ``253942.0``.
    * TIMESTAMP_NTZ → TIMESTAMP (session TZ is UTC, value-identical).
    * DATE → TIMESTAMP (midnight): Spark's toPandas renders DATE as
      datetime.date ("2024-01-01") while DuckDB's .df() coerces DATE to
      datetime64 ("2024-01-01 00:00:00"); both render the timestamp
      form identically.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, DecimalType, TimestampNTZType

    exprs, changed = [], False
    for f in df.schema.fields:
        if isinstance(f.dataType, DecimalType):
            exprs.append(F.col(f.name).cast("double").alias(f.name))
            changed = True
        elif isinstance(f.dataType, (TimestampNTZType, DateType)):
            exprs.append(F.col(f.name).cast("timestamp").alias(f.name))
            changed = True
        else:
            exprs.append(F.col(f.name))
    return df.select(*exprs) if changed else df


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ship_package(spark)  # before fn builds any Python function
            return canonicalize_output(fn(spark, sf_dir))

        REGISTRY[name] = QuerySpec(fn=wrapped, oracle=oracle, doc=doc)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


_loaded = False

# The driver produces CORRECTNESS rows for exactly the FIRST 50 registry
# entries, so registration order is part of the verification surface.
# The only query with catalog side effects (join_bucketed_colocated)
# goes dead LAST so a harness abort there cannot cost any other query
# its row.
#
# ROUND-12 ROTATION (executes the round-11 note + the r11 verdict's
# item 1): every query is cumulatively green (187/187, zero
# latest-red), so the window is freshness- and touch-driven:
# (a) the 10 log-family queries — the storage layer changed AGAIN this
#     round (round-11 advice: the ambiguous-PUT retry arm now decides
#     a losing retry by content read-back; the arbiter-claim sidecar
#     publishes via hard-linked whole files and repairs torn claims;
#     bootstrap became a private keyword-only flag; plus the round-12
#     group-commit coalescing of concurrent interactive appends into
#     one commit section), so everything that creates/opens/appends/
#     scans/compacts through the engine re-proves on the new paths;
# (b) the 15 rows deferred from round 7 (twice-deferred, now oldest):
#     q4/q6/q7/q8/q13/q14/q15/q16/q17/q19/q20/q22, date_functions,
#     scalar_functions, window_running_total;
# (c) 24 of the alphabetically-first rows of the 41-row round-8 cohort
#     (the next-oldest latest-checks), plus join_skew_salted — round 12
#     changed its join strategy (shuffle_hash → merge: the sf3 sweep
#     proved the pinned shuffled hash join OOM-fatal at scale, its
#     build map can't spill), so it re-proves this round;
#     incremental_agg_merge moves to the round-13 cohort to make room.
#     join_bucketed_colocated stays pinned in _LAST (side-effectful)
#     and is checked by its own suite tests.
# ROUND-13 ROTATION (executes the round-12 note): (a) everything round
# 13 touched re-proves — the streamed ordered bulk-ingest path (the
# four ingest-bearing log queries), the vectorized WAV/JPEG decode
# internals (four media queries), the sqrt state sizing (the two
# pandas-stateful streams), the tokenize-once text pins, and the
# driver-side IVF-PQ routing/LUTs with their two consumers; (b) the 17
# round-8 rows deferred at round 12 (now the oldest latest-checks);
# (c) the 17 alphabetically-first remaining round-9 rows.
# ROUND-14 NOTE: rotate in the remaining 17 r9 rows (q9_product_type_profit, scd2_user_state, setop_union,
# sketch_bloom_filter, sketch_count_min, stream_real_availablenow,
# stream_sliding_window, subquery_above_group_avg,
# subquery_argmin_per_group, text_repetition_score,
# udaf_pandas_weighted_avg, udtf_span_split, vocab_topk,
# window_range_frame, window_rank_suite, window_sessionize,
# zorder_layout_key) plus the oldest r10 cohort, plus anything round
# 14 touches.
_FIRST_50 = [
    # (a) round-13-touched: streamed ordered ingest
    "eventlog_engine_roundtrip",
    "eventlog_inmem_roundtrip",
    "log_compact_label_clustered",
    "log_scan_label_pruned",
    # (a) vectorized media decode internals
    "multimodal_audio_decode",
    "multimodal_jpeg_decode",
    "multimodal_video_frames",
    "multimodal_video_scene_cuts",
    # (a) sqrt state-partition sizing
    "stream_real_stateful",
    "stream_real_restart",
    # (a) tokenize-once pins
    "tfidf_top_terms",
    "text_bigram_surprisal",
    # (a) driver-side IVF-PQ routing/LUTs + consumers
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    "ann_recall_report",
    "ann_hard_negatives",
    # (b) the 17 round-8 rows deferred at round 12
    "incremental_agg_merge",
    "merge_upsert_orders",
    "multimodal_manifest",
    "pack_token_budget",
    "quality_gopher_rules",
    "quality_model_scores",
    "quality_relative_filter",
    "sample_hash_stats",
    "sample_stratified",
    "sample_temperature_mixture",
    "source_overlap_matrix",
    "stream_late_arrival_audit",
    "text_blocklist_filter",
    "text_bpe_pair_counts",
    "text_decontaminate",
    "text_inverse_freq_score",
    # (b') text_bigram_surprisal is the 17th r8-deferred row — it
    # already sits in group (a) (touched this round), so its slot goes
    # to the 18th-oldest r9 row
    "q5_local_supplier_volume",
    # (c) 17 alphabetically-first remaining round-9 rows
    "corpus_diversity_simpson",
    "dedup_exact",
    "dedup_simhash",
    "graph_pagerank",
    "join_full_outer",
    "multimodal_decode_features",
    "multimodal_frame_sample",
    "multimodal_header_probe",
    "pipeline_curate",
    "pivot_returnflag",
    "q10_returned_items",
    "q11_important_stock",
    "q12_shipping_priority",
    "q18_large_volume_customer",
    "q1_pricing_summary",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
]

# catalog side effects (SparkSQL bucketed-table DDL) — dead last in the
# whole registry so a harness abort there cannot cost any query its row
_LAST: list[str] = ["join_bucketed_colocated"]


def _ensure_loaded() -> None:
    """Import every module that registers queries (import-time side effect),
    then reorder the registry: family-covering first 50, side-effectful
    catalog demo last."""
    global _loaded
    if _loaded:
        return
    from .operators import relational  # noqa: F401
    from .operators import tpch  # noqa: F401
    from .operators import tpch2  # noqa: F401
    from .operators import advanced  # noqa: F401
    from .operators import approx  # noqa: F401
    from .operators import analytics  # noqa: F401
    from .operators import corpus  # noqa: F401
    from .operators import curation  # noqa: F401
    from .operators import bpe_scale  # noqa: F401
    from .operators import dedup  # noqa: F401
    from .operators import similarity  # noqa: F401
    from .operators import text  # noqa: F401
    from .operators import multimodal  # noqa: F401
    from .operators import streamlike  # noqa: F401
    from .operators import pipeline  # noqa: F401
    from .operators import udf  # noqa: F401
    from .operators import recall  # noqa: F401  (composes similarity+curation oracles)
    from . import logqueries  # noqa: F401

    missing = [n for n in _FIRST_50 + _LAST if n not in REGISTRY]
    assert not missing, f"registry reorder references unknown queries: {missing}"
    assert len(_FIRST_50) == 50, f"driver checks exactly 50: {len(_FIRST_50)}"
    middle = [n for n in REGISTRY if n not in _FIRST_50 and n not in _LAST]
    ordered = _FIRST_50 + middle + _LAST
    reordered = {name: REGISTRY[name] for name in ordered}
    REGISTRY.clear()
    REGISTRY.update(reordered)

    _loaded = True
