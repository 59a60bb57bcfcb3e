"""Query registry — the single source of truth behind ``__spark_entry__.py``.

Each :class:`QuerySpec` pairs a Spark DataFrame builder (idiomatic
DataFrame-API plan; Catalyst owns the physical strategy) with an equivalent
DuckDB oracle SQL statement used by the driver's correctness gate. Builders
take ``(spark, sf_dir)`` and must alias every computed column identically to
the oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup, multimodal, pipeline, similarity, textops
from ..operators import observability as obs
from ..operators import tpch
from ..sources.tables import load_tables
from ..sources.telemetry import task_metrics
from .obs_oracles import OBS_ORACLES
from .tpch_oracles import TPCH_ORACLES


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def _register(name: str, builder: Callable[[SparkSession, str], DataFrame],
              oracle: Optional[str]) -> None:
    REGISTRY[name] = QuerySpec(name, builder, oracle)


def _tm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return task_metrics(load_tables(spark, sf_dir)["events"])


# --- Group O: observability core -------------------------------------------
_OBS_BUILDERS = {
    "obs_task_metrics": lambda s, d: obs.task_metrics_table(_tm(s, d)),
    "obs_stage_agg_skewness": lambda s, d: obs.stage_agg_skewness(_tm(s, d)),
    "obs_skew_distribution": lambda s, d: obs.skew_distribution(_tm(s, d)),
    "obs_app_summary": lambda s, d: obs.app_summary(_tm(s, d)),
    "obs_cardinality": lambda s, d: obs.cardinality_tiles(_tm(s, d)),
    "obs_date_histogram": lambda s, d: obs.date_histogram(_tm(s, d)),
    "obs_top_n_skew": lambda s, d: obs.top_n_skew(_tm(s, d)),
    "obs_task_percentiles": lambda s, d: obs.task_percentiles(_tm(s, d)),
    "obs_batch_flush": lambda s, d: obs.batch_flush(_tm(s, d)),
    "obs_retry_backoff": lambda s, d: obs.retry_backoff(_tm(s, d)),
    "obs_log_enrich": lambda s, d: obs.log_enrich(_tm(s, d)),
    "obs_error_rate": lambda s, d: obs.error_rate(_tm(s, d)),
    "obs_executor_utilization": lambda s, d: obs.executor_utilization(_tm(s, d)),
    "obs_session_windows": lambda s, d: obs.session_windows(_tm(s, d)),
    "obs_skew_timeline": lambda s, d: obs.skew_timeline(_tm(s, d)),
    "stream_metrics_window": lambda s, d: obs.stream_metrics_window(_tm(s, d)),
    "obs_log_search": lambda s, d: obs.log_search(_tm(s, d)),
    "obs_counter_rate": lambda s, d: obs.counter_rate(_tm(s, d)),
    "obs_gap_fill": lambda s, d: obs.gap_fill(_tm(s, d)),
    "obs_anomaly_zscore": lambda s, d: obs.anomaly_zscore(_tm(s, d)),
    "obs_log_templates": lambda s, d: obs.log_templates(_tm(s, d)),
    "obs_heavy_hitters_cms": lambda s, d: obs.heavy_hitters_cms(_tm(s, d)),
    "obs_error_rate_moving_avg": lambda s, d: obs.error_rate_moving_avg(_tm(s, d)),
    "obs_alert_rules": lambda s, d: obs.alert_rules(_tm(s, d)),
    "obs_props_variant_stats": lambda s, d: obs.props_variant_stats(
        load_tables(s, d)["events"]
    ),
}
for _name, _b in _OBS_BUILDERS.items():
    _register(_name, _b, OBS_ORACLES[_name])


# --- Group T: general OLAP engine ------------------------------------------
def _t(name):
    def get(spark, sf_dir, _name=name):
        return load_tables(spark, sf_dir)[_name]

    return get


_TPCH_BUILDERS = {
    "tpch_q1_pricing_summary": lambda s, d: tpch.q1_pricing_summary(
        load_tables(s, d)["lineitem"]
    ),
    "tpch_q3_shipping_priority": lambda s, d: (
        lambda t: tpch.q3_shipping_priority(t["customer"], t["orders"], t["lineitem"])
    )(load_tables(s, d)),
    "tpch_q5_local_supplier": lambda s, d: (
        lambda t: tpch.q5_local_supplier(
            t["customer"], t["orders"], t["lineitem"], t["supplier"], t["nation"], t["region"]
        )
    )(load_tables(s, d)),
    "tpch_q10_returned_items": lambda s, d: (
        lambda t: tpch.q10_returned_items(t["customer"], t["orders"], t["lineitem"], t["nation"])
    )(load_tables(s, d)),
    "star_join_broadcast": lambda s, d: (
        lambda t: tpch.star_join_broadcast(t["lineitem"], t["supplier"], t["nation"], t["region"])
    )(load_tables(s, d)),
    "window_running_totals": lambda s, d: tpch.window_running_totals(
        load_tables(s, d)["orders"]
    ),
    "rollup_priority_status": lambda s, d: tpch.rollup_priority_status(
        load_tables(s, d)["orders"]
    ),
    "asof_join_attribution": lambda s, d: tpch.asof_join_attribution(
        load_tables(s, d)["events"]
    ),
    "promo_revenue_share": lambda s, d: (
        lambda t: tpch.promo_revenue_share(t["lineitem"], t["part"])
    )(load_tables(s, d)),
    "events_funnel": lambda s, d: tpch.events_funnel(load_tables(s, d)["events"]),
    "tpch_q4_order_priority": lambda s, d: (
        lambda t: tpch.q4_order_priority(t["orders"], t["lineitem"])
    )(load_tables(s, d)),
    "anti_join_inactive_customers": lambda s, d: (
        lambda t: tpch.inactive_customers(t["customer"], t["orders"])
    )(load_tables(s, d)),
    "tpch_q18_large_orders": lambda s, d: (
        lambda t: tpch.q18_large_orders(t["customer"], t["orders"], t["lineitem"])
    )(load_tables(s, d)),
    "tpch_q13_customer_distribution": lambda s, d: (
        lambda t: tpch.q13_customer_distribution(t["customer"], t["orders"])
    )(load_tables(s, d)),
    "tpch_q19_discounted_revenue": lambda s, d: (
        lambda t: tpch.q19_discounted_revenue(t["lineitem"], t["part"])
    )(load_tables(s, d)),
    "tpch_q22_dormant_balance": lambda s, d: (
        lambda t: tpch.q22_dormant_high_balance(t["customer"], t["orders"])
    )(load_tables(s, d)),
    "tpch_q12_priority_by_status": lambda s, d: (
        lambda t: tpch.q12_priority_by_status(t["orders"], t["lineitem"])
    )(load_tables(s, d)),
    "tpch_q6_forecast_revenue": lambda s, d: tpch.q6_forecast_revenue(
        load_tables(s, d)["lineitem"]
    ),
    "tpch_q15_top_supplier": lambda s, d: (
        lambda t: tpch.q15_top_supplier(t["lineitem"], t["supplier"])
    )(load_tables(s, d)),
    "tpch_q16_supplier_counts": lambda s, d: (
        lambda t: tpch.q16_supplier_counts(t["lineitem"], t["part"], t["supplier"])
    )(load_tables(s, d)),
    "tpch_q17_small_qty_revenue": lambda s, d: (
        lambda t: tpch.q17_small_qty_revenue(t["lineitem"], t["part"])
    )(load_tables(s, d)),
    "tpch_q21_waiting_supplier": lambda s, d: (
        lambda t: tpch.q21_waiting_supplier(t["lineitem"], t["orders"], t["supplier"])
    )(load_tables(s, d)),
    "tpch_q7_volume_shipping": lambda s, d: (
        lambda t: tpch.q7_volume_shipping(
            t["lineitem"], t["orders"], t["customer"], t["supplier"], t["nation"]
        )
    )(load_tables(s, d)),
    "tpch_q8_market_share": lambda s, d: (
        lambda t: tpch.q8_market_share(
            t["lineitem"], t["orders"], t["customer"], t["supplier"],
            t["nation"], t["region"], t["part"],
        )
    )(load_tables(s, d)),
    "tpch_q20_excess_share": lambda s, d: (
        lambda t: tpch.q20_excess_share_suppliers(
            t["lineitem"], t["part"], t["supplier"]
        )
    )(load_tables(s, d)),
    "pivot_status_by_priority": lambda s, d: tpch.pivot_status_by_priority(
        load_tables(s, d)["orders"]
    ),
    "events_retention": lambda s, d: tpch.events_retention(load_tables(s, d)["events"]),
    "window_lead_lag_ntile": lambda s, d: tpch.window_lead_lag_ntile(
        load_tables(s, d)["orders"]
    ),
    "set_ops_customers": lambda s, d: (
        lambda t: tpch.set_ops_customers(t["customer"], t["orders"])
    )(load_tables(s, d)),
    "merge_scd1_customers": lambda s, d: (
        lambda t: tpch.merge_scd1_customers(t["customer"], t["orders"])
    )(load_tables(s, d)),
    "merge_scd2_customers": lambda s, d: (
        lambda t: tpch.merge_scd2_customers(t["customer"], t["orders"])
    )(load_tables(s, d)),
    "customers_monthly_cohorts": lambda s, d: tpch.customers_monthly_cohorts(
        load_tables(s, d)["orders"]
    ),
    "tpch_q9_profit": lambda s, d: tpch.q9_profit(
        load_tables(s, d)["lineitem"],
        load_tables(s, d)["orders"],
        load_tables(s, d)["part"],
        load_tables(s, d)["supplier"],
        load_tables(s, d)["nation"],
    ),
    "tpch_q11_important_parts": lambda s, d: tpch.q11_important_parts(
        load_tables(s, d)["lineitem"], load_tables(s, d)["part"]
    ),
    "customers_abc_pareto": lambda s, d: tpch.customers_abc_pareto(
        load_tables(s, d)["orders"]
    ),
    "customers_rfm_segments": lambda s, d: tpch.customers_rfm_segments(
        load_tables(s, d)["orders"]
    ),
    "events_rolling_wau": lambda s, d: tpch.events_rolling_wau(
        load_tables(s, d)["events"]
    ),
    "tpch_q2_min_cost_supplier": lambda s, d: (
        lambda t: tpch.q2_min_cost_supplier(
            t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"]
        )
    )(load_tables(s, d)),
    "grouping_sets_mixed": lambda s, d: tpch.grouping_sets_mixed(
        load_tables(s, d)["orders"]
    ),
    "events_transition_matrix": lambda s, d: tpch.events_transition_matrix(
        load_tables(s, d)["events"]
    ),
    "orders_seasonality": lambda s, d: tpch.orders_seasonality(
        load_tables(s, d)["orders"]
    ),
}
for _name, _b in _TPCH_BUILDERS.items():
    _register(_name, _b, TPCH_ORACLES[_name])


# --- Group D: dedup & similarity -------------------------------------------
from .dedup_oracles import DEDUP_ORACLES  # noqa: E402

_DEDUP_BUILDERS = {
    "dedup_exact": lambda s, d: dedup.dedup_exact(load_tables(s, d)["documents"]),
    "dedup_ngram_jaccard": lambda s, d: dedup.dedup_ngram_jaccard(
        load_tables(s, d)["documents"]
    ),
    "dedup_minhash_lsh": lambda s, d: dedup.dedup_minhash_lsh(
        load_tables(s, d)["documents"]
    ),
    "dedup_simhash": lambda s, d: dedup.dedup_simhash(load_tables(s, d)["documents"]),
    "dedup_embedding_cosine": lambda s, d: similarity.embedding_near_dups(
        load_tables(s, d)["embeddings"]
    ),
    "similarity_topk_bruteforce": lambda s, d: similarity.topk_bruteforce(
        load_tables(s, d)["embeddings"]
    ),
    "similarity_ivf": lambda s, d: similarity.topk_ivf(load_tables(s, d)["embeddings"]),
    "similarity_ann_lsh": lambda s, d: similarity.topk_ann_lsh(
        load_tables(s, d)["embeddings"]
    ),
}
for _name, _b in _DEDUP_BUILDERS.items():
    _register(_name, _b, DEDUP_ORACLES[_name])

_register(
    "dedup_containment",
    lambda s, d: dedup.dedup_containment(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_containment"],
)

_register(
    "dedup_containment_banded",
    lambda s, d: dedup.dedup_containment_banded(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_containment_banded"],
)

_register(
    "dedup_minhash_estimate",
    lambda s, d: dedup.dedup_minhash_estimate(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_minhash_estimate"],
)

# D43 (r13): fuzzy dedup at PARAGRAPH granularity (the RefinedWeb line/
# paragraph layer between D34's exact spans and D3's whole-doc signatures)
# — the D15 candidate→exact-verify shape over _paragraph_base's re-keyed
# corpus, rolled up to per-doc dup mass. Fully hash-exact.
_register(
    "dedup_paragraph_minhash",
    lambda s, d: dedup.dedup_paragraph_minhash(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_paragraph_minhash"],
)

_register(
    "similarity_range_search",
    lambda s, d: similarity.range_search(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["similarity_range_search"],
)

_register(
    "embedding_dup_groups",
    lambda s, d: similarity.embedding_dup_groups(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["embedding_dup_groups"],
)

_register(
    "similarity_ivf_multiprobe",
    lambda s, d: similarity.topk_ivf_multiprobe(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["similarity_ivf_multiprobe"],
)

# D5's BLAS scale path computes the identical integer-exact cosines, so it
# shares D5's exact oracle (equality with D5 also asserted in tests).
_register(
    "dedup_embedding_cosine_blas",
    lambda s, d: similarity.embedding_near_dups_blas(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["dedup_embedding_cosine"],
)

_register(
    "embedding_centroids",
    lambda s, d: similarity.embedding_centroids(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["embedding_centroids"],
)

_register(
    "similarity_knn_classify",
    lambda s, d: similarity.knn_classify(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["similarity_knn_classify"],
)

# Rows-only: Lloyd's k-means (iterative, driver-held centroids; float
# inertia is summation-order dependent so there is no exact SQL oracle).
# Convergence + coverage asserted in tests/test_operators.py.
_register(
    "embedding_kmeans",
    lambda s, d: similarity.embedding_kmeans(load_tables(s, d)["embeddings"]),
    None,
)

# Rows-only: D17 — IVF search over the k-means-TRAINED coarse quantizer
# (iterative training, same no-oracle rationale as D12); cell balance and
# recall-vs-untrained asserted in tests/test_operators.py.
_register(
    "similarity_ivf_trained",
    lambda s, d: similarity.topk_ivf_trained(load_tables(s, d)["embeddings"]),
    None,
)

# Rows-only: PQ codebooks are engine-specific float training loops (same
# class as D12/D17); planted-copy retrieval + ranking-signal pinned in tests.
_register(
    "similarity_pq",
    lambda s, d: similarity.similarity_pq(load_tables(s, d)["embeddings"]),
    None,
)

# Rows-only: the IVF-PQ composition (trained coarse cells + PQ codes);
# cell-bound candidates + planted-copy retrieval pinned in tests.
_register(
    "similarity_ivf_pq",
    lambda s, d: similarity.similarity_ivf_pq(load_tables(s, d)["embeddings"]),
    None,
)

# Rows-only: residual-encoded IVF-PQ (the FAISS by_residual formulation —
# PQ codebooks train on x − centroid(cell)); planted-copy top-1 and
# recall ≥ global-code D21 pinned in tests.
_register(
    "similarity_ivf_pq_residual",
    lambda s, d: similarity.similarity_ivf_pq_residual(
        load_tables(s, d)["embeddings"]
    ),
    None,
)

# D25: Hamming-distance SimHash pairs — pigeonhole-complete 4×16-bit
# banding over a 64-bit two-half signature, exact popcount verdict.
_register(
    "dedup_simhash_hamming",
    lambda s, d: dedup.dedup_simhash_hamming(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_simhash_hamming"],
)

# D34: exact repeated-substring (span-level) dedup — Lee et al. 2022's
# "any w-token span seen twice" rule; w=16 here (driver docs average ~54
# tokens; the function defaults to the paper's 50).
_register(
    "dedup_repeated_spans",
    lambda s, d: dedup.dedup_repeated_spans(
        load_tables(s, d)["documents"], span_tokens=16
    ),
    DEDUP_ORACLES["dedup_repeated_spans"],
)

# D35: the D34 APPLY path — cleaned corpus, canonical span occurrence kept.
_register(
    "dedup_repeated_spans_scrub",
    lambda s, d: dedup.dedup_repeated_spans_scrub(
        load_tables(s, d)["documents"], span_tokens=16
    ),
    DEDUP_ORACLES["dedup_repeated_spans_scrub"],
)

# D37: span-dedup evaluation report — D35 graded per planted-dup class.
_register(
    "dedup_repeated_spans_eval",
    lambda s, d: dedup.dedup_repeated_spans_eval(
        load_tables(s, d)["documents"], span_tokens=16
    ),
    DEDUP_ORACLES["dedup_repeated_spans_eval"],
)

# D39: SemDeDup (Abbas et al. 2023) — cluster-blocked semantic near-dup
# removal: fixed-centroid cells (the D7 assignment) bound the candidate
# pairs, D5's cosine bar decides, lowest vec_id survives.
_register(
    "dedup_semantic",
    lambda s, d: similarity.semantic_dedup(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["dedup_semantic"],
)

# D40: SemDeDup evaluation report — D39 graded against the planted exact
# copies (recall-1.0 theorem pinned in tests) vs the base corpus.
_register(
    "dedup_semantic_eval",
    lambda s, d: similarity.semantic_dedup_eval(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["dedup_semantic_eval"],
)

# D42 (r13): SemDeDup with TRAINED cells — D12's Lloyd centroids through
# the trained-model registry drive the SAME semantic_removals algebra, so
# verdicts differ from D39 only by assignment. Rows-only (iterative float
# training); plant recall 1.0 and D17's balanced-cell bound pinned in
# tests/test_operators.py.
_register(
    "dedup_semantic_trained",
    lambda s, d: similarity.semantic_dedup_trained(load_tables(s, d)["embeddings"]),
    None,
)

# D24: scalar-quantized SQ8 search — min/max codec + integer ranking
# surrogate, the one quantized searcher with a full hash-exact oracle.
_register(
    "similarity_sq8",
    lambda s, d: similarity.similarity_sq8(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["similarity_sq8"],
)

# Rows-only: D23 — multi-probe residual IVF-PQ (n_probe nearest cells,
# per-cell residual ADC tables, family-shared trained structures);
# boundary-query recall ≥ single-probe D22 pinned in tests.
_register(
    "similarity_ivf_pq_multiprobe",
    lambda s, d: similarity.similarity_ivf_pq_multiprobe(
        load_tables(s, d)["embeddings"]
    ),
    None,
)

# Rows-only: D26 (r8) — trained-ANN model persistence across sessions:
# train → snapshot-commit → registry wipe → reload → replay, with
# model-bit-equality, key-resolution, and search-row-identity asserted
# loud in the runner (cross-PROCESS twin in tests/test_operators.py).
_register(
    "similarity_index_persist_report",
    lambda s, d: similarity.index_persist_report(s, d),
    None,
)


# --- Group P: training-data pipeline ----------------------------------------
from .pipeline_oracles import PIPELINE_ORACLES  # noqa: E402

_PIPELINE_BUILDERS = {
    "decontaminate": lambda s, d: pipeline.decontaminate(
        load_tables(s, d)["documents"]
    ),
    "mixture_sample": lambda s, d: pipeline.mixture_sample(
        load_tables(s, d)["documents"]
    ),
    "incremental_dedup": lambda s, d: pipeline.incremental_dedup(
        load_tables(s, d)["documents"]
    ),
    "train_val_split": lambda s, d: pipeline.train_val_split(
        load_tables(s, d)["documents"]
    ),
    "sample_stratified": lambda s, d: pipeline.sample_stratified(
        load_tables(s, d)["documents"]
    ),
    "pack_sequences": lambda s, d: pipeline.pack_sequences(
        load_tables(s, d)["documents"]
    ),
    "dup_groups": lambda s, d: pipeline.dup_groups(load_tables(s, d)["documents"]),
    "corpus_curation_pipeline": lambda s, d: pipeline.curation_pipeline(
        load_tables(s, d)["documents"]
    ),
}
for _name, _b in _PIPELINE_BUILDERS.items():
    _register(_name, _b, PIPELINE_ORACLES[_name])

_register(
    "corpus_curation_pipeline_v2",
    lambda s, d: pipeline.curation_pipeline_v2(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["corpus_curation_pipeline_v2"],
)

_register(
    "split_leak_proof",
    lambda s, d: pipeline.split_leak_proof(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["split_leak_proof"],
)

_register(
    "dataset_card_report",
    lambda s, d: pipeline.dataset_card_report(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["dataset_card_report"],
)

_register(
    "filter_ablation",
    lambda s, d: pipeline.filter_ablation(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["filter_ablation"],
)

_register(
    "vocab_coverage",
    lambda s, d: pipeline.vocab_coverage(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["vocab_coverage"],
)

# P17: dedup scale paths graded against the exact baseline (precision/
# recall of LSH candidates, banded re-score, sketch estimate).
_register(
    "dedup_eval_report",
    lambda s, d: pipeline.dedup_eval_report(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["dedup_eval_report"],
)

# P15 computes P4's exact groups by the O(log diameter) star algorithm, so
# it SHARES P4's recursive-CTE oracle (equality also pinned in tests).
_register(
    "dup_groups_star",
    lambda s, d: pipeline.dup_groups_star(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["dup_groups"],
)

# P20 (r8): multi-epoch mixture plan — BIGINT epoch arithmetic off one
# token aggregation; shares P7's srcN weight-parsing rule.
_register(
    "mixture_epoch_plan",
    lambda s, d: pipeline.mixture_epoch_plan(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["mixture_epoch_plan"],
)

# P30 (r14): temperature-scaled mixture at α=0.5 (the Conneau & Lample
# square-root sampling recipe) — corpus-derived milli-sqrt weights, exact
# BIGINT shares/targets, epoch realization mirroring P20; hash-exact.
_register(
    "mixture_temperature_plan",
    lambda s, d: pipeline.mixture_temperature_plan(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["mixture_temperature_plan"],
)

# P31 (r14): the decontamination family's evaluation report — all three
# gates (P6 n-gram, P22 near-dup containment, P28 semantic) graded against
# their planted leak classes in one row-per-gate report; hash-exact via
# the gates' own embedded oracle SQL.
_register(
    "decontaminate_eval_report",
    lambda s, d: pipeline.decontaminate_eval_report(
        load_tables(s, d)["documents"], load_tables(s, d)["embeddings"]
    ),
    PIPELINE_ORACLES["decontaminate_eval_report"],
)

# P32 (r15): paragraph-granularity decontamination — D43's paragraph
# re-keying applied to the TRAIN side of P22's lossless bipartite prefix
# filter (bounded side flipped: paragraph prefixes vs a broadcast full
# bench index), so fragment leaks that dilute below any doc-level bar are
# caught at containment(paragraph in bench) ≥ 80%; hash-exact.
_register(
    "decontaminate_paragraph",
    lambda s, d: pipeline.decontaminate_paragraph(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["decontaminate_paragraph"],
)

# P19 (r8): incremental dup-group maintenance — prior labels contracted to
# their roots, only the NEW batch's edges re-clustered, composed labels
# identical to a full recompute (two-level contraction), so it SHARES
# P4's oracle too; merge-across-old-groups path pinned in tests.
_register(
    "dup_groups_incremental",
    lambda s, d: pipeline.dup_groups_incremental(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["dup_groups"],
)

_register(
    "cross_source_overlap",
    lambda s, d: pipeline.cross_source_overlap(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["cross_source_overlap"],
)

# P3's two-phase prefix-sum scale path is result-identical to the single
# window formulation, so it shares P3's exact oracle (equality also
# asserted in tests/test_operators.py).
_register(
    "pack_sequences_distributed",
    lambda s, d: pipeline.pack_sequences_distributed(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["pack_sequences"],
)


# --- Groups X (text analysis) and M (multimodal) ---------------------------
from .text_oracles import TEXT_ORACLES  # noqa: E402

_TEXT_BUILDERS = {
    "text_lang_id": lambda s, d: textops.lang_id(load_tables(s, d)["documents"]),
    "text_quality_score": lambda s, d: textops.quality_score(
        load_tables(s, d)["documents"]
    ),
    "text_token_count": lambda s, d: textops.token_count(load_tables(s, d)["documents"]),
    # X21 (r13): the Gopher rule set (Rae et al. 2021) as rules-as-columns
    # — per-rule signal + pass flag + conjunction; fully hash-exact.
    "text_gopher_quality": lambda s, d: textops.gopher_quality(
        load_tables(s, d)["documents"]
    ),
    # X22 (r14): the Gopher LINE-SHAPE rules (bullet-start / ellipsis-end
    # fractions) over a deterministic multi-line view — real newlines
    # first, blocks wrapped at 32 tokens; fully hash-exact.
    "text_gopher_line_shape": lambda s, d: textops.gopher_line_shape(
        load_tables(s, d)["documents"]
    ),
    # X23 (r14): Naive Bayes language ID at integer-log2 granularity —
    # the trained upgrade of X1's marker heuristic; fully hash-exact.
    "text_nb_langid": lambda s, d: textops.text_nb_langid(
        load_tables(s, d)["documents"]
    ),
    "text_fingerprint": lambda s, d: textops.fingerprint(load_tables(s, d)["documents"]),
    "docs_stats_by_source": lambda s, d: textops.stats_by_source(
        load_tables(s, d)["documents"]
    ),
    "text_winnow_fingerprint": lambda s, d: textops.winnow_fingerprint(
        load_tables(s, d)["documents"]
    ),
    "text_winnow_rolling": lambda s, d: textops.winnow_fingerprint_rolling(
        load_tables(s, d)["documents"]
    ),
    "text_pii_redact": lambda s, d: textops.pii_redact(load_tables(s, d)["documents"]),
    "text_bigram_stats": lambda s, d: textops.bigram_stats(load_tables(s, d)["documents"]),
    "text_inverted_index": lambda s, d: textops.inverted_index(
        load_tables(s, d)["documents"]
    ),
    "text_lang_confusion": lambda s, d: textops.lang_confusion(
        load_tables(s, d)["documents"]
    ),
    "text_repetition_stats": lambda s, d: textops.repetition_stats(
        load_tables(s, d)["documents"]
    ),
    "text_top_terms": lambda s, d: textops.top_terms(load_tables(s, d)["documents"]),
    "text_bigram_lift": lambda s, d: textops.bigram_lift(load_tables(s, d)["documents"]),
    "text_tfidf_topk": lambda s, d: textops.tfidf_topk(load_tables(s, d)["documents"]),
    "mm_binary_meta": lambda s, d: multimodal.binary_meta(load_tables(s, d)["documents"]),
    "mm_frame_sample": lambda s, d: multimodal.frame_sample_plan(
        load_tables(s, d)["documents"]
    ),
    "mm_feature_extract": lambda s, d: multimodal.feature_extract(
        load_tables(s, d)["documents"]
    ),
    "mm_audio_chunks": lambda s, d: multimodal.audio_chunk_plan(
        load_tables(s, d)["documents"]
    ),
    "mm_shard_manifest": lambda s, d: multimodal.shard_manifest(
        load_tables(s, d)["documents"]
    ),
}
for _name, _b in _TEXT_BUILDERS.items():
    _register(_name, _b, TEXT_ORACLES[_name])

# M8 rides the D-group oracle module: it is D1's arithmetic over binary
# payloads (corpus plants are the true positives).
_register(
    "mm_dedup_exact",
    lambda s, d: multimodal.mm_dedup_exact(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["mm_dedup_exact"],
)

# Rows-only: HLL sketch values are engine-specific (no exact DuckDB oracle);
# accuracy vs the exact tiles is asserted in tests/test_plans.py.
_register(
    "obs_cardinality_approx",
    lambda s, d: obs.cardinality_tiles_approx(_tm(s, d)),
    None,
)

# Rows-only: KLL sketch percentiles (scale path for obs_task_percentiles);
# closeness to exact asserted in tests/test_plans.py.
_register(
    "obs_task_percentiles_approx",
    lambda s, d: obs.task_percentiles_approx(_tm(s, d)),
    None,
)

_register(
    "cube_priority_segment",
    lambda s, d: (lambda t: tpch.cube_priority_segment(t["orders"], t["customer"]))(
        load_tables(s, d)
    ),
    TPCH_ORACLES["cube_priority_segment"],
)

# Rows-only (non-SQL-expressible): Arrow-batched decode stub via mapInPandas.
_register(
    "mm_decode_frames",
    lambda s, d: multimodal.decoded_frame_summary(load_tables(s, d)["documents"]),
    None,
)

# Rows-only: Arrow-batched resize stub (real metadata routing + plumbing,
# deterministic fake resample); dims/determinism asserted in
# tests/test_operators.py.
_register(
    "mm_resize",
    lambda s, d: multimodal.resize_images_stub(load_tables(s, d)["documents"]),
    None,
)


# Rows-only: LIVE self-observation — runs a real marker workload, harvests
# its actual task metrics from the status REST API (CustomMetricsListener
# parity), and aggregates them with the O2 skewness plan. Values are
# run-dependent by nature (real runtimes/bytes), hence no SQL oracle.
def _live_collector(s, d):
    from ..sources.live_metrics import live_stage_skewness

    return live_stage_skewness(s, d)


_register("obs_live_collector", _live_collector, None)


# Rows-only: real Structured Streaming ingest (O16) — runs availableNow to
# completion and returns the per-route record counts.
def _stream_pipeline(s, d):
    from ..streaming.collector import run_collector_pipeline

    return run_collector_pipeline(s, d)


_register("stream_collector_pipeline", _stream_pipeline, None)


# Rows-only: streaming twin of obs_stage_agg_skewness — foreachBatch closes
# stages with the exact batch plan; row-parity with O2 asserted in
# tests/test_streaming.py.
def _stream_stage_agg(s, d):
    from ..streaming.collector import run_streaming_stage_agg

    return run_streaming_stage_agg(s, d)


_register("stream_stage_agg", _stream_stage_agg, None)


# Rows-only: native streaming session windows; row-parity with the batch
# O14 sessionization asserted in tests/test_streaming.py.
def _stream_sessions(s, d):
    from ..streaming.collector import run_streaming_sessions

    return run_streaming_sessions(s, d)


_register("stream_session_windows", _stream_sessions, None)


# Rows-only: watermarked dropDuplicates over a deliberately-duplicated
# delivery; exact-once parity with batch distinct asserted in
# tests/test_streaming.py.
def _stream_dedup(s, d):
    from ..streaming.collector import run_streaming_dedup

    return run_streaming_dedup(s, d)


_register("stream_dedup_ingest", _stream_dedup, None)


# Rows-only: streaming alert engine — foreachBatch applies the exact batch
# violation plan per micro-batch; rollup row-parity with obs_alert_rules
# asserted in tests/test_streaming.py.
def _stream_alerts(s, d):
    from ..streaming.collector import run_streaming_alerts

    return run_streaming_alerts(s, d)


_register("stream_alert_rules", _stream_alerts, None)


# Rows-only: stream-static anti-join dedup (streaming twin of P8); per-source
# kept counts match the batch verdicts, asserted in tests/test_streaming.py.
def _stream_inc_dedup(s, d):
    from ..streaming.collector import run_streaming_incremental_dedup

    return run_streaming_incremental_dedup(s, d)


_register("stream_incremental_dedup", _stream_inc_dedup, None)


# Rows-only: mergeable-CMS streaming heavy hitters; merged-partial estimates
# are row-identical to batch O30, asserted in tests/test_streaming.py.
def _stream_heavy_hitters(s, d):
    from ..streaming.collector import run_streaming_heavy_hitters

    return run_streaming_heavy_hitters(s, d)


_register("stream_heavy_hitters", _stream_heavy_hitters, None)


# Rows-only: streaming rolling WAU — each (user, report_day) membership is
# emitted exactly once by a streaming dropDuplicates (first-seen identity),
# so per-day WAU is an additive rollup; row parity with batch T42 asserted
# in tests/test_streaming.py.
def _stream_rolling_wau(s, d):
    from ..streaming.collector import run_streaming_rolling_wau

    return run_streaming_rolling_wau(s, d)


_register("stream_rolling_wau", _stream_rolling_wau, None)


# Rows-only: streaming twin of O60 — tail-based sampling on ingest with
# history-trained thresholds; rollup parity with batch O60 asserted in
# tests/test_streaming.py.
def _stream_tail_sampling(s, d):
    from ..streaming.collector import run_streaming_tail_sampling

    return run_streaming_tail_sampling(s, d)


_register("stream_tail_sampling", _stream_tail_sampling, None)


# Rows-only: P18 — NEAR-dup dedup on ingest (stream-static LSH band index
# probe + sketch-estimate confirm); cross-pair verdict parity with the
# batch D18 computation asserted in tests/test_streaming.py.
def _stream_near_dedup(s, d):
    from ..streaming.collector import run_streaming_near_dedup

    return run_streaming_near_dedup(s, d)


_register("stream_near_dedup_ingest", _stream_near_dedup, None)


# Rows-only: O62 (r8) — CUSUM drift ON INGEST: reference level trained on
# the history table (the O61 threshold pattern), running cross-multiplied
# S per type in keyed streaming state (applyInPandasWithState, six
# BIGINTs/type); final extremes/changepoints identical to batch O59 when
# history == streamed series, pinned in tests/test_streaming.py across a
# multi-file ordered re-drop.
def _stream_cusum(s, d):
    from ..streaming.stateful import run_streaming_cusum

    return run_streaming_cusum(s, d)


_register("stream_cusum_drift", _stream_cusum, None)


# Rows-only: O65 (r8) — gap-fill/forward-fill ON INGEST: per-executor
# fill frontier (last minute, last value) in keyed streaming state,
# dense minute grid emitted incrementally; hourly rollup row-identical
# to batch O27 under the whole-minutes-in-order contract, pinned in
# tests/test_streaming.py across a minute-aligned multi-file drive.
def _stream_gap_fill(s, d):
    from ..streaming.stateful import run_streaming_gap_fill

    return run_streaming_gap_fill(s, d)


_register("stream_gap_fill", _stream_gap_fill, None)


# Rows-only: S12 (r8) — incremental materialized-view maintenance off
# snapshot manifest DIFFS (delta files = vN minus vN-1, append-only):
# per-commit cost ∝ commit, with view == full-recompute asserted loud on
# every real commit inside the runner.
def _incremental_view(s, d):
    from ..sources.incremental_view import incremental_view_report

    return incremental_view_report(s, d)


_register("source_incremental_view", _incremental_view, None)


# Rows-only: O66 (r8) — trend regression ON INGEST via sufficient-
# statistic additivity (zero state, per-batch exact DECIMAL partials);
# slope/intercept/r² bit-identical to batch O63, pinned in
# tests/test_streaming.py.
def _stream_trend(s, d):
    from ..streaming.collector import run_streaming_trend_regression

    return run_streaming_trend_regression(s, d)


_register("stream_trend_regression", _stream_trend, None)


# Rows-only: table-maintenance jobs exposed as driver-checkable reports
# (values depend on local file sizes/dates; semantics pinned in
# tests/test_sources.py).
def _compaction_report(s, d):
    from ..sources.compaction import compaction_report

    return compaction_report(s, d)


_register("source_compaction_report", _compaction_report, None)


def _retention_report(s, d):
    from ..sources.retention import retention_report

    return retention_report(s, d)


_register("source_retention_report", _retention_report, None)


# Rows-only: schema-evolution invariants (S8) — merged-footer read over two
# file generations, NULL-fill + pruning semantics pinned in
# tests/test_sources.py.
def _evolution_report(s, d):
    from ..sources.evolution import schema_evolution_report

    return schema_evolution_report(s, d)


_register("source_schema_evolution_report", _evolution_report, None)


# Rows-only: sort-clustered layout + row-group zone-map skipping (S9) —
# footer-stat geometry is environment-dependent; skipping inequality +
# result-equality invariants pinned in tests/test_sources.py.
def _clustering_report(s, d):
    from ..sources.clustering import clustering_report

    return clustering_report(s, d)


_register("source_clustering_report", _clustering_report, None)


# Rows-only: manifest-pinned snapshot tables (S10) — snapshot isolation,
# append visibility, orphan invisibility and expiry proven on real commits;
# invariants also pinned in tests/test_sources.py.
def _snapshot_report(s, d):
    from ..sources.snapshots import snapshot_report

    return snapshot_report(s, d)


_register("source_snapshot_report", _snapshot_report, None)


# Rows-only: stream-STREAM watermarked interval join (O48) — error stream ⋈
# metric stream on executor + event-time range; rollup parity with the batch
# twin asserted in tests/test_streaming.py.
def _stream_metric_log_join(s, d):
    from ..streaming.collector import run_streaming_metric_log_join

    return run_streaming_metric_log_join(s, d)


_register("stream_metric_log_join", _stream_metric_log_join, None)

# O21's salted aggregation with a HARD driver check: summing integer cents
# is order-independent, so the salted two-stage result must be bit-equal to
# the oracle's direct unsalted GROUP BY — the strongest possible evidence
# the salting is lossless.
def _salted_sum_cents(s, d):
    from pyspark.sql import functions as F

    from ..operators.skew import salted_sum

    events = load_tables(s, d)["events"].withColumn(
        "value_cents", F.floor(F.col("value") * 100 + 0.5).cast("long")
    )
    return salted_sum(
        events, ["event_type"], ["value_cents"], salt_from="event_id", n_salts=16
    )


_register(
    "skew_salted_sum",
    _salted_sum_cents,
    """
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM events GROUP BY 1
""",
)


# T46 (r8): open-order backlog over time — sweep-line (+1/−1) interval
# overlap on business data; bounded calendar day axis.
_register(
    "orders_backlog_timeline",
    lambda s, d: (
        lambda t: tpch.orders_backlog_timeline(t["lineitem"], t["orders"])
    )(load_tables(s, d)),
    TPCH_ORACLES["orders_backlog_timeline"],
)

# M9 (r8): deterministic byte-budget media sample per modality — md5
# permutation + two-phase cumulative bytes; budgets are integer shares.
_register(
    "mm_media_sample",
    lambda s, d: multimodal.mm_media_sample(load_tables(s, d)["documents"]),
    TEXT_ORACLES["mm_media_sample"],
)

# T45: order→ship latency percentiles per priority (fulfillment SLA).
_register(
    "orders_ship_latency",
    lambda s, d: (
        lambda t: tpch.orders_ship_latency(t["lineitem"], t["orders"])
    )(load_tables(s, d)),
    TPCH_ORACLES["orders_ship_latency"],
)

# T44: market-basket association rules (brand co-purchase support/
# confidence/lift; bounded within-order pair fan-out, broadcast dims).
_register(
    "orders_market_basket",
    lambda s, d: (
        lambda t: tpch.orders_market_basket(t["lineitem"], t["part"])
    )(load_tables(s, d)),
    TPCH_ORACLES["orders_market_basket"],
)


# S11: ANALYZE-style per-column table statistics — the one S-group entry
# with a full hash-exact oracle (counts/ndv/min-max are engine-portable).
def _table_stats(s, d):
    from ..sources.stats import table_stats_report

    return table_stats_report(s, d)


def _table_stats_oracle():
    from ..sources.stats import TABLE_STATS_ORACLE

    return TABLE_STATS_ORACLE


_register("source_table_stats", _table_stats, _table_stats_oracle())


# O44: O8's result-identical two-phase scale path shares O8's exact oracle
# (equality also implied by both parity tests passing).
_register(
    "obs_task_percentiles_distributed",
    lambda s, d: obs.task_percentiles_distributed(_tm(s, d)),
    OBS_ORACLES["obs_task_percentiles"],
)


# --- Late observability additions (O38-O49 tail): rollup / SLO / histogram /
# correlation / panel percentiles / exemplars / concurrency / debounce.
# Dict position is irrelevant to the driver window — _PRIORITY owns order.
_LATE_OBS_BUILDERS = {
    "obs_tail_sampling": lambda s, d: obs.tail_sampling(_tm(s, d)),
    "obs_cusum_drift": lambda s, d: obs.cusum_drift(_tm(s, d)),
    "obs_anomaly_mad": lambda s, d: obs.anomaly_mad(_tm(s, d)),
    "obs_alert_debounce": lambda s, d: obs.alert_debounce(_tm(s, d)),
    "obs_straggler_detect": lambda s, d: obs.straggler_detect(_tm(s, d)),
    "obs_log_sample": lambda s, d: obs.log_sample(_tm(s, d)),
    "obs_latency_heatmap": lambda s, d: obs.latency_heatmap(_tm(s, d)),
    "obs_job_critical_stage": lambda s, d: obs.job_critical_stage(_tm(s, d)),
    "obs_percentile_timeline": lambda s, d: obs.percentile_timeline(_tm(s, d)),
    "obs_apdex": lambda s, d: obs.apdex(_tm(s, d)),
    "obs_seasonal_baseline": lambda s, d: obs.seasonal_baseline(_tm(s, d)),
    "obs_top_movers": lambda s, d: obs.top_movers(_tm(s, d)),
    "obs_skew_exemplars": lambda s, d: obs.skew_exemplars(_tm(s, d)),
    "obs_executor_concurrency": lambda s, d: obs.executor_concurrency(_tm(s, d)),
    "obs_downsample_rollup": lambda s, d: obs.downsample_rollup(_tm(s, d)),
    "obs_slo_burn_rate": lambda s, d: obs.slo_burn_rate(_tm(s, d)),
    "obs_value_histogram": lambda s, d: obs.value_histogram(_tm(s, d)),
    "obs_metric_log_correlate": lambda s, d: obs.metric_log_correlate(_tm(s, d)),
    "obs_input_bytes_percentiles": lambda s, d: obs.input_bytes_percentiles(_tm(s, d)),
    # r8: O63 least-squares trend, O64 pairwise Pearson correlation —
    # exact integer sufficient statistics, IEEE-identical DOUBLE closed
    # forms (sqrt is correctly-rounded per IEEE-754, unlike ln).
    "obs_trend_regression": lambda s, d: obs.trend_regression(_tm(s, d)),
    "obs_metric_correlation": lambda s, d: obs.metric_correlation(_tm(s, d)),
}
for _name, _b in _LATE_OBS_BUILDERS.items():
    _register(_name, _b, OBS_ORACLES[_name])


# --- Driver-exposure ordering ------------------------------------------------
# The verification driver records CORRECTNESS rows for the FIRST 50 registry
# entries only (insertion order), so the window ROTATES each round until
# every entry has a green driver row. Ledger (also in SURVEY §2):
#   r1+r2 window: O1-O34 core + T1-T26  → r2 rows were the events.ts
#     regression fails; fix verified by the r4 window.
#   r3 window:    D1-D12, P1-P8, X1-X11, M1-M4+decode, T tail (T14, T27-34),
#     O38-O42 → 48 hash-exact green + 2 rows-only ran, 0 fails.
#   r4 window:    re-exposed r2-fail entries + r3 post-slot-50 additions +
#     D15 + the 10 never-checked rows-only runners → 39 hash-exact green +
#     11 rows-only ran, 0 fails (obs_live_collector's row was 0 rows — the
#     UI-off silent-empty bug, fixed since).
#   r5 window (this one, 50 slots exactly):
#     slots 1-9   — the 9 entries with NO driver row yet (local-oracle-green
#                   only): the two sketch scale-paths, then the r4 additions
#                   registered beyond slot 50. Closes the coverage ledger —
#                   after this round every registry entry has driver evidence.
#     slot  10    — obs_live_collector, re-exposed post-fix (AppStatusStore
#                   fallback + fail-loud guard) so its driver row is
#                   non-trivial instead of the r4 0-row record.
#     slots 11-13 — entries whose CODE changed since their r4-green row:
#                   O9/O10 (full retry/batching state machine, new oracles)
#                   and D15 (single shared shingle-base derivation).
#     slots 14-37 — oldest-evidence backfill: the r2-green T group + O34
#                   (last green row is round 2; re-acquire fresh evidence).
#     slots 38-50 — r3-green backfill: the D group + decontaminate and
#                   mixture_sample (rows-only embedding_kmeans excluded in
#                   favor of hash-checked sql entries).
# This changes dict ORDER only — names, builders, oracles are untouched.
#
# r9 window (50 slots exactly), GENERATED by the codified recipe:
#   python tools/evidence_ledger.py --priority --changed <r9-changed list>
# (never-checked first, then code-changed-since-evidence, then
# oldest-evidence backfill ascending by last driver round.)
_PRIORITY = [
    # r16 window (50 slots exactly), GENERATED by the codified recipe:
    #   python tools/evidence_ledger.py --priority --changed <the 50
    #   entries whose CODE/plan changed in the r15-r16 optimization
    #   commits — see SURVEY §2's r16 row for the exact argument>
    #   slots 1-21  — the sql-backed changed entries: the curation
    #                 funnels + eval report + dedup/CC family now served
    #                 by the session shared candidate-graph frames and
    #                 the prefix-filter truth join (2708fd2), and the
    #                 trained-ANN family's cold-path rework (ee96cf7):
    #                 one-pass corpora, no per-round back-join,
    #                 overlapped D21 training. An optimization round's
    #                 window is dominated by group 2 of the recipe —
    #                 there are no new entries, and nothing outranks
    #                 re-verifying every plan the round touched.
    #   slots 22-49 — the streaming runners: all sized per their actual
    #                 source glob (4101764), the five stateful.py sites
    #                 newly wrapped (ae736c1), the three ingest gates'
    #                 split committed-side indexes (7bc6f31).
    #   slot  50    — source_incremental_view (sizing glob change).
    #   Backfill contributes nothing this round: the changed set alone
    #   fills the window; the r10-evidence remainder (export_order_plan
    #   onward) stays queued for a future window.
    "corpus_curation_pipeline",
    "corpus_curation_pipeline_v2",
    "corpus_curation_pipeline_v3",
    "dedup_eval_report",
    "similarity_pq",
    "similarity_ivf_pq",
    "similarity_ivf_pq_residual",
    "similarity_ivf_pq_multiprobe",
    "similarity_eval_report",
    "embedding_kmeans",
    "similarity_ivf_trained",
    "dedup_semantic_trained",
    # persist_report LAST among the family: its restart simulation wipes
    # the session model/frame registries (trained_cache_clear), so any
    # family member ordered after it re-trains cold in the rows section.
    "similarity_index_persist_report",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_containment_banded",
    "dup_groups",
    "dup_groups_star",
    "dup_groups_incremental",
    "split_leak_proof",
    "stream_paragraph_decon_ingest",
    "stream_ewma_smooth",
    "stream_error_budget",
    "stream_burn_rate",
    "stream_histogram_rollup",
    "stream_metrics_window",
    "stream_collector_pipeline",
    "stream_stage_agg",
    "stream_session_windows",
    "stream_dedup_ingest",
    "stream_alert_rules",
    "stream_incremental_dedup",
    "stream_heavy_hitters",
    "stream_rolling_wau",
    "stream_tail_sampling",
    "stream_near_dedup_ingest",
    "stream_cusum_drift",
    "stream_gap_fill",
    "stream_trend_regression",
    "stream_metric_log_join",
    "stream_alert_flap",
    "stream_red_panel",
    "stream_forecast_linear",
    "stream_metric_correlation",
    "stream_media_dedup_ingest",
    "stream_bloom_build",
    "stream_repeated_spans_scrub",
    "stream_prefix_dedup_ingest",
    "stream_semantic_dedup_ingest",
    "source_incremental_view",
]

# r15 window (kept for the ledger's history; superseded by the r16
# rotation above), GENERATED by the codified recipe:
#   python tools/evidence_ledger.py --priority --changed \
#     decontaminate_eval_report,dup_groups_star,dup_groups_incremental,\
#     dup_groups_nightly
    #   slots 1-3   — the THREE r15 additions with no driver row: P32
    #                 decontaminate_paragraph (paragraph-granularity
    #                 decontamination, hash-exact), O85
    #                 obs_dashboard_parity (dashboard-bundle parity
    #                 report, rows-only), P33
    #                 stream_paragraph_decon_ingest (P32 on ingest,
    #                 rows-only, batch-parity pinned).
    #   slots 4-7   — entries whose CODE/plan changed in r15: P31
    #                 decontaminate_eval_report (fourth 'paragraph' gate
    #                 row) and the star-CC consumers P15/P19/P23 (Arrow
    #                 label frames in the driver union-find; the nightly
    #                 additionally gets size-known fold dispatch, warm
    #                 state mirrors, measured-byte commits, verify=False
    #                 default).
    #   slots 8-15  — the 8 r8-evidence overflow entries from the
    #                 committed r14 plan (obs_ewma_smooth,
    #                 similarity_eval_report, obs_error_budget,
    #                 stream_ewma_smooth, obs_distinct_rollup_hll,
    #                 obs_burn_rate_multiwindow, dedup_cdc_chunks,
    #                 stream_error_budget).
    #   slots 16-18 — the 3 r10-evidence entries (obs_heavy_hitters_cms,
    #                 obs_error_rate_moving_avg, obs_alert_rules).
    #   slots 19-50 — r10-evidence backfill in ledger order (32 of the
    #                 r10 block fit; the remainder — export_order_plan
    #                 onward — stays queued behind the r16 changed set).
    # (the full r15 list lives in SURVEY §2's r15 row and git history)





def _apply_priority_order() -> None:
    ordered = {name: REGISTRY[name] for name in _PRIORITY}  # KeyError = typo
    for name, spec in REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    REGISTRY.clear()
    REGISTRY.update(ordered)

# T47 (r8): time-constrained funnel (ClickHouse windowFunnel) — sequence
# matching via two stacked strict-before window maxima, no self-joins.
_register(
    "events_funnel_windowed",
    lambda s, d: tpch.events_funnel_windowed(load_tables(s, d)["events"]),
    TPCH_ORACLES["events_funnel_windowed"],
)

# D26 (r8): KMV/theta-sketch cross-source overlap estimation — the
# sketch path for P16's exact overlap; two-phase distributed k-minimum.
_register(
    "docs_kmv_overlap",
    lambda s, d: dedup.docs_kmv_overlap(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["docs_kmv_overlap"],
)

# O67 (r8): dyadic truncated EWMA — exact integer num/den, one final
# division; integer cross-multiplied spike flag vs the prior-8 EWMA.
_register(
    "obs_ewma_smooth",
    lambda s, d: obs.ewma_smooth(_tm(s, d)),
    OBS_ORACLES["obs_ewma_smooth"],
)

# D27 (r8): ANN recall eval report — deterministic searchers graded vs
# brute-force truth at their driver-checked settings (P17's pattern for
# the similarity family); fully hash-exact, truth included.
_register(
    "similarity_eval_report",
    lambda s, d: similarity.similarity_eval_report(
        load_tables(s, d)["embeddings"]
    ),
    DEDUP_ORACLES["similarity_eval_report"],
)

# O68 (r8): SLO error-budget burn-down — all-BIGINT cumulative budget,
# cross-multiplied exhaustion flag (companion panel to O39).
_register(
    "obs_error_budget",
    lambda s, d: obs.error_budget(_tm(s, d)),
    OBS_ORACLES["obs_error_budget"],
)

# Rows-only: O69 (r8) — dyadic EWMA ON INGEST: each app's last-8 minute
# sums in keyed streaming state (8 BIGINTs + frontier), the exact O67 row
# emitted per minute; bit-identity with batch ewma_smooth pinned in
# tests/test_streaming.py across a minute-aligned ordered 4-file drive.
def _stream_ewma(s, d):
    from ..streaming.stateful import run_streaming_ewma

    return run_streaming_ewma(s, d)


_register("stream_ewma_smooth", _stream_ewma, None)


# Rows-only: O70 (r8) — HLL sketch-partial distinct rollup (minute
# partials → hour/day by register-max union; raw never re-scanned per
# level); merge-identity with a direct per-level scan pinned in tests.
_register(
    "obs_distinct_rollup_hll",
    lambda s, d: obs.distinct_rollup_hll(_tm(s, d)),
    None,
)


# O71 (r8): Google SRE multi-window multi-burn-rate alert — RANGE-framed
# trailing sums, cross-multiplied burn inequalities, zero divisions.
_register(
    "obs_burn_rate_multiwindow",
    lambda s, d: obs.burn_rate_multiwindow(_tm(s, d)),
    OBS_ORACLES["obs_burn_rate_multiwindow"],
)


# D29 (r8): content-defined chunking partial-dup detection — Rabin-style
# rolling-hash chunk boundaries, md5 span fingerprints, chunk-level
# containment; the rsync/LBFS storage-dedup family member.
_register(
    "dedup_cdc_chunks",
    lambda s, d: dedup.dedup_cdc_chunks(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_cdc_chunks"],
)


# Rows-only: O72 (r8) — SLO error-budget burn-down ON INGEST: additive
# per-batch (app, day) BIGINT partials (zero state, the O66 pattern),
# merged panel bit-identical to batch O68 (pinned in tests).
def _stream_error_budget(s, d):
    from ..streaming.collector import run_streaming_error_budget

    return run_streaming_error_budget(s, d)


_register("stream_error_budget", _stream_error_budget, None)


# Rows-only: O73 (r8) — multi-window burn-rate alerts ON INGEST: additive
# hourly partials + O71's shared tail (burn_rate_multiwindow_tail);
# bit-identical to batch O71, pinned in tests. Registered beyond the
# finalized r8 window; leads the r9 never-checked list.
def _stream_burn_rate(s, d):
    from ..streaming.collector import run_streaming_burn_rate

    return run_streaming_burn_rate(s, d)


_register("stream_burn_rate", _stream_burn_rate, None)


# O74 (r8): threshold-crossing forecast (predict_linear shape) — O63's
# exact sufficient statistics + a layered double forecast select; no
# float->int cast (Spark truncates, DuckDB rounds). Beyond the finalized
# r8 window; leads the r9 never-checked list.
_register(
    "obs_forecast_linear",
    lambda s, d: obs.forecast_linear(_tm(s, d)),
    OBS_ORACLES["obs_forecast_linear"],
)


# X15 (r8): per-source document-length distribution — shared O8/T45
# order-statistic convention + X3's token definition; the length-gate
# design panel. Beyond the finalized r8 window; r9 never-checked list.
_register(
    "text_length_percentiles",
    lambda s, d: textops.length_percentiles(load_tables(s, d)["documents"]),
    TEXT_ORACLES["text_length_percentiles"],
)


# O75 (r8): percentile rollup from fixed-bin histogram partials — O70's
# hierarchy shape for the percentile family, all-integer and hash-exact
# (the one sketch rollup a cross-engine oracle can pin bit-for-bit).
# Beyond the finalized r8 window; r9 never-checked list.
_register(
    "obs_histogram_rollup",
    lambda s, d: obs.histogram_rollup(_tm(s, d)),
    OBS_ORACLES["obs_histogram_rollup"],
)


# D31 (r8): prefix-filtering exact join (AllPairs/PPJoin) — lossless
# candidate pruning by the prefix-overlap theorem; output equals D2
# row-for-row (pinned), candidates bounded by rare-token prefixes.
# Beyond the finalized r8 window; r9 never-checked list.
_register(
    "dedup_prefix_filter",
    lambda s, d: dedup.dedup_prefix_filter(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_prefix_filter"],
)


# O77 (r8): alert flap detection — minute-grain firing states over O33's
# OWN rules/metric mapping (shared _rules_checked), lag transitions,
# trailing-1h RANGE flap verdicts; all-integer, hash-exact. Beyond the
# finalized r8 window; r9 never-checked list.
_register(
    "obs_alert_flap",
    lambda s, d: obs.alert_flap_detect(_tm(s, d)),
    OBS_ORACLES["obs_alert_flap"],
)


# Rows-only: S13 (r8) — zone-map file-skipping report: the same rows
# written range-clustered vs hash-scattered, per-layout skippable-file
# counts for a date predicate plus on-data verification of the zone-map
# guarantee (every match lives in a scanned file). Values depend on local
# file placement → rows-only; contract + ordering pinned in tests.
# Beyond the finalized r8 window; r9 never-checked list.
def _zone_map_report(s, d):
    from ..sources.zonemap import zone_map_report

    return zone_map_report(s, d)


_register("source_zone_map_report", _zone_map_report, None)


# X16 (r8): Heaps-law vocabulary growth per source — equal-rank doc
# slices, types attributed to their min bucket (exact: bucket monotone in
# rank), cumulative vocab/token panel. Beyond the finalized r8 window;
# r9 never-checked list.
_register(
    "text_vocab_growth",
    lambda s, d: textops.vocab_growth(load_tables(s, d)["documents"]),
    TEXT_ORACLES["text_vocab_growth"],
)


# D30 (r8): sorted-neighborhood near-dups — the Hernández-Stolfo SNM
# blocking baseline: two-phase global rank on a 40-char prefix key, rank
# band rewritten as a bucket EQUI-join, exact Jaccard on candidates only.
# Beyond the finalized r8 window; r9 never-checked list.
_register(
    "dedup_sorted_neighborhood",
    lambda s, d: dedup.dedup_sorted_neighborhood(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_sorted_neighborhood"],
)


# Rows-only: O76 (r8) — percentile-rollup histograms ON INGEST: additive
# per-batch (type, minute, bin) partials through the SAME binning
# expression as batch O75, merged panel bit-identical (pinned in tests).
# Beyond the finalized r8 window; r9 never-checked list.
def _stream_histogram_rollup(s, d):
    from ..streaming.collector import run_streaming_histogram_rollup

    return run_streaming_histogram_rollup(s, d)


_register("stream_histogram_rollup", _stream_histogram_rollup, None)


# O79 (r8): RED-method panel per (app, hour) — rate/errors/duration from
# the shared order-stat + cross-multiplied-verdict conventions; the
# Grafana-default service dashboard triple. Beyond the finalized r8
# window; r9 never-checked list.
_register(
    "obs_red_panel",
    lambda s, d: obs.red_panel(_tm(s, d)),
    OBS_ORACLES["obs_red_panel"],
)


# X17 (r8): duplicate-fraction distribution — the soft-dedup weighting
# signal: per-doc share of corpus-duplicated shingles, binned by the
# cross-multiplied integer rule into a per-source panel. Beyond the
# finalized r8 window; r9 never-checked list.
_register(
    "text_dup_fraction",
    lambda s, d: textops.dup_fraction(load_tables(s, d)["documents"]),
    TEXT_ORACLES["text_dup_fraction"],
)


# P22 (r8): near-dup decontamination — bipartite prefix filter
# (containment variant of D31's theorem; lexicographic order, bench-side
# prefixes only), pairwise "which eval item leaked into which doc"
# verdicts. Beyond the finalized r8 window; r9 never-checked list.
_register(
    "decontaminate_neardup",
    lambda s, d: pipeline.decontaminate_neardup(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["decontaminate_neardup"],
)


# P21 (r8): deterministic export order + shard/offset plan — md5(doc_id)
# permutation rank via the shared two-phase rank (fixed in the operator),
# integer shard arithmetic; the resumable training-order export step.
# Beyond the finalized r8 window; r9 never-checked list.
_register(
    "export_order_plan",
    lambda s, d: pipeline.export_order_plan(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["export_order_plan"],
)


# T48 (r8): multi-touch attribution — per-user lookback join, recency
# touch ranks, EXACT largest-remainder cent split (credit conservation
# is an identity, not an approximation). Beyond the finalized r8 window;
# r9 never-checked list.
_register(
    "events_attribution_multitouch",
    lambda s, d: tpch.events_attribution_multitouch(
        load_tables(s, d)["events"]
    ),
    TPCH_ORACLES["events_attribution_multitouch"],
)


# M10 (r8): cross-video shared-frame detection — content-addressed frame
# fingerprints over M1's frame geometry, D29's containment shape at media
# granularity (M8 only catches byte-identical payloads). Beyond the
# finalized r8 window; r9 never-checked list.
_register(
    "mm_frame_dedup",
    lambda s, d: multimodal.mm_frame_dedup(load_tables(s, d)["documents"]),
    TEXT_ORACLES["mm_frame_dedup"],
)


# Rows-only: S14 (r8) — snapshot diff / incremental-read report: manifest
# comparison yields added/removed files (pure metadata), and the
# append-only contract (added-files read == full anti-join diff) is
# verified on real commits. Beyond the finalized r8 window; r9
# never-checked list.
def _snapshot_diff_report(s, d):
    from ..sources.snapshots import snapshot_diff_report

    return snapshot_diff_report(s, d)


_register("source_snapshot_diff_report", _snapshot_diff_report, None)


# Rows-only: O78 (r8) — alert flap detection ON INGEST: per-batch
# per-(rule, app, minute) firing MAXIMA (maxima merge — the O76 pattern
# with MAX) through the SAME alert_minute_states as batch O77, merged
# panel bit-identical (pinned in tests). Beyond the finalized r8 window;
# r9 never-checked list.
def _stream_alert_flap(s, d):
    from ..streaming.collector import run_streaming_alert_flap

    return run_streaming_alert_flap(s, d)


_register("stream_alert_flap", _stream_alert_flap, None)


# Rows-only: O80 (r8) — RED panel ON INGEST: additive count partials
# (O72 pattern) + mergeable histogram-bin durations (O75 pattern);
# rate/error half bit-identical to batch O79, duration edges bit-identical
# to the shared histogram tail (both pinned). Beyond the finalized r8
# window; r9 never-checked list.
def _stream_red_panel(s, d):
    from ..streaming.collector import run_streaming_red_panel

    return run_streaming_red_panel(s, d)


_register("stream_red_panel", _stream_red_panel, None)


# Rows-only: O81 (r9) — streaming twin of O74 predict_linear: zero-state
# additive regression partials (DECIMAL sums + MAX t), history-trained
# t0, the shared forecast_tail; bit-identity with batch O74 pinned.
def _stream_forecast_linear(s, d):
    from ..streaming.collector import run_streaming_forecast_linear

    return run_streaming_forecast_linear(s, d)


_register("stream_forecast_linear", _stream_forecast_linear, None)


# X18 (r9): unigram-LM surprisal quality score — the perplexity-filter
# signal at integer-exact log2 granularity (bitlen arithmetic, no float
# log), corpus mean broadcast, cross-multiplied verdict.
_register(
    "text_unigram_surprisal",
    lambda s, d: textops.text_unigram_surprisal(load_tables(s, d)["documents"]),
    TEXT_ORACLES["text_unigram_surprisal"],
)


# P24 (r9): soft dedup at sampling time — each n-copy cluster contributes
# ~one copy in expectation via a deterministic per-doc hash keep rule;
# unique docs always kept (pinned invariant); per-source token-mass report.
_register(
    "mixture_soft_dedup",
    lambda s, d: pipeline.mixture_soft_dedup(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["mixture_soft_dedup"],
)


# P28 (r12): SEMANTIC decontamination — the embedding member of the P6/
# P22 decontamination family: bench slice broadcast, exact lossless
# cosine gate over the training side, paraphrase-robust where n-gram
# overlap is not.
_register(
    "decontaminate_semantic",
    lambda s, d: similarity.decontaminate_semantic(load_tables(s, d)["embeddings"]),
    DEDUP_ORACLES["decontaminate_semantic"],
)


# P27 (r12): the curation funnel composed with the span-scrub mass stage
# (D35) and the DSIR target gate (P25) — each stage reuses its family's
# exact operator; the oracle embeds their driver SQL via shared CTE
# builders, so the whole composition is hash-exact.
_register(
    "corpus_curation_pipeline_v3",
    lambda s, d: pipeline.curation_pipeline_v3(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["corpus_curation_pipeline_v3"],
)


# P25 (r12): DSIR importance weights (Xie et al. 2023) — hashed-ngram
# bag models of target (lang slice) vs raw pool; per-bucket log ratio is
# the FIRST-ORDER truncated-integer milli LLR ⌊1000·(p/q − 1)⌋ (exact in
# both engines; X18's bit-length log2 was tried and rejected as too
# coarse — see the operator docstring).
_register(
    "dsir_importance_weights",
    lambda s, d: pipeline.dsir_importance_weights(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["dsir_importance_weights"],
)


# P26 (r12): the DSIR resampling step — exact top-k manifest by weight
# through the O44 distributed two-phase rank (no single global sort task).
_register(
    "dsir_topk_sample",
    lambda s, d: pipeline.dsir_topk_sample(load_tables(s, d)["documents"]),
    PIPELINE_ORACLES["dsir_topk_sample"],
)


# P29 (r13): the paper's ACTUAL resampling — Gumbel-top-k ∝ weight over
# P25's milli LLR, hashed-uniform noise (seed-deterministic rerun) through
# the shared O44 two-phase rank. Rows-only: −ln(−ln u) is engine-specific
# at the last ulp; inclusion∝weight and same-seed determinism pinned in
# tests/test_operators.py.
_register(
    "dsir_gumbel_sample",
    lambda s, d: pipeline.dsir_gumbel_sample(load_tables(s, d)["documents"]),
    None,
)


# Rows-only: O82 (r9) — streaming twin of O64 metric correlation: additive
# (hour, type) cent-sum bucket partials via the shared metric_hour_buckets,
# merged by summation through the shared metric_correlation_tail;
# bit-identity with batch O64 pinned (including the IEEE sqrt pearson_r).
def _stream_metric_correlation(s, d):
    from ..streaming.collector import run_streaming_metric_correlation

    return run_streaming_metric_correlation(s, d)


_register("stream_metric_correlation", _stream_metric_correlation, None)


# X19 (r9): token-distribution drift between committed corpus and arriving
# batch — exact integer L1 → total-variation distance, vocabulary churn;
# the crawl-shift monitor.
_register(
    "text_distribution_drift",
    lambda s, d: textops.text_distribution_drift(load_tables(s, d)["documents"]),
    TEXT_ORACLES["text_distribution_drift"],
)


# D32 (r9): deterministic Bloom-filter ingest gate + its own error audit —
# mergeable bit_or word partials (the O70/O75 pattern for membership),
# broadcast-sized filter, no-false-negative theorem surfaced as a column.
_register(
    "dedup_bloom_gate",
    lambda s, d: dedup.dedup_bloom_gate(load_tables(s, d)["documents"]),
    DEDUP_ORACLES["dedup_bloom_gate"],
)


# Rows-only: P23 (r9) — the P19 fold closed into the production nightly
# loop: three REAL S10 commits (docs + append-only band index + label
# table), delta edges from probing the stored index (bounded by the
# batch). Since r15 the runner defaults to the production posture:
# warm in-session state mirrors + verify=False; the per-night fold ≡
# full-recompute equality and the cold manifest-diff read-back path are
# pinned in tests/test_operators.py and the SCALE probe.
def _dup_groups_nightly(s, d):
    from ..operators.pipeline import dup_groups_nightly_report

    return dup_groups_nightly_report(s, d)


_register("dup_groups_nightly", _dup_groups_nightly, None)


# Rows-only: O85 (r15) — dashboard-bundle parity report: one row per
# saved object in the reference's data-skew.ndjson × its twin in this
# engine (registry query / typed schema / layout) × the twin's freshest
# driver evidence from the committed CORRECTNESS artifacts; every-panel-
# has-a-twin pinned in tests.
def _dashboard_parity(s, d):
    from ..operators.observability import dashboard_parity_report

    return dashboard_parity_report(s)


_register("obs_dashboard_parity", _dashboard_parity, None)


# Rows-only: P33 (r15) — paragraph decontamination ON INGEST: P32's
# lossless prefix-filter + exact-verify gate applied per micro-batch
# against a static broadcast bench index (zero streaming state, the
# P18/D38/D41 ingest pattern); kept counts pinned row-identical to the
# batch P32 verdicts in tests/test_streaming.py.
def _stream_paragraph_decon(s, d):
    from ..streaming.collector import run_streaming_paragraph_decon

    return run_streaming_paragraph_decon(s, d)


_register("stream_paragraph_decon_ingest", _stream_paragraph_decon, None)


# Rows-only: M11 (r9) — media ingest dedup: M8's byte-exact gate as a
# zero-state STREAM-STATIC anti-join (the O43/P18 ingest pattern); the
# arriving micro-batches' (modality, payload_md5) fingerprints — the
# SAME media_fingerprints definition batch M8 uses — probe the static
# corpus dictionary; kept-counts parity with the batch formulation
# pinned in tests/test_streaming.py.
def _stream_media_dedup(s, d):
    from ..streaming.collector import run_streaming_media_dedup

    return run_streaming_media_dedup(s, d)


_register("stream_media_dedup_ingest", _stream_media_dedup, None)


# Rows-only: D33 (r9) — the Bloom filter MAINTAINED on ingest: per-batch
# bit_or word partials via the shared bloom_words (one definition with
# D32); merge is associative AND idempotent, so the maintained filter is
# exact under any batch split and at-least-once re-delivery; the whole
# D32 audit frame pinned row-identical in tests.
def _stream_bloom_build(s, d):
    from ..streaming.collector import run_streaming_bloom_build

    return run_streaming_bloom_build(s, d)


_register("stream_bloom_build", _stream_bloom_build, None)


# Rows-only: D36 (r11) — span-level scrub ON INGEST: batch spans probed
# against the append-only span-hash index + the D35 canonical window over
# index misses; output row-identical to batch D35 restricted to the new
# docs (pinned in tests/test_streaming.py).
def _stream_repeated_spans(s, d):
    from ..streaming.collector import run_streaming_repeated_spans

    return run_streaming_repeated_spans(s, d)


_register("stream_repeated_spans_scrub", _stream_repeated_spans, None)


# Rows-only: D38 (r12) — LOSSLESS near-dup dedup on ingest: the D31
# prefix-filter gate under the lexicographic global order (recall 1.0 by
# the prefix theorem, exact-Jaccard verified), probing append-only
# prefix-posting + shingle-array index tables; single-batch output
# row-identical per source to batch D31's cross-boundary verdicts
# (pinned in tests/test_streaming.py).
def _stream_prefix_dedup(s, d):
    from ..streaming.collector import run_streaming_prefix_dedup

    return run_streaming_prefix_dedup(s, d)


_register("stream_prefix_dedup_ingest", _stream_prefix_dedup, None)


# Rows-only: D41 (r12) — SemDeDup on ingest: arriving vectors are
# cell-assigned with the committed corpus's centroids (shared
# assign_cells definition) and gated by the shared semantic_removals
# join against the append-only cell index ∪ the batch; verdicts
# row-identical to batch D39 restricted to the arriving ids (pinned
# single-batch and two-batch in tests/test_streaming.py).
def _stream_semantic_dedup(s, d):
    from ..streaming.collector import run_streaming_semantic_dedup

    return run_streaming_semantic_dedup(s, d)


_register("stream_semantic_dedup_ingest", _stream_semantic_dedup, None)


# Applied LAST so every registration above (including late additions) is
# eligible for the driver window.
_apply_priority_order()
