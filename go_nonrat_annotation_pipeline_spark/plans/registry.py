"""Driver-facing query registry.

Each entry demonstrates one operator from SURVEY.md §2 (or a north-star
extension) as a (PySpark callable, DuckDB oracle SQL) pair over the
driver's synthetic tables (TESTDATA.md). The driver runs both at sf0.01
and hash-compares row-count + schema + values (CORRECTNESS_r{N}.json).

Float discipline: aggregates over double columns are computed in DECIMAL
in BOTH engines (exact arithmetic → bit-identical results), then cast to
a fixed decimal type aliased identically on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Q:
    """One registered query: Spark implementation + DuckDB oracle."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None → driver records rows-only check
    doc: str = ""


_REGISTRY: dict[str, Q] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        # A duplicate name would silently shadow the earlier
        # implementation; fail loudly at import instead.
        if name in _REGISTRY:
            raise ValueError(
                f"query name {name!r} already registered "
                f"(by {_REGISTRY[name].spark.__module__}); "
                f"pick a distinct name"
            )
        _REGISTRY[name] = Q(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Q]:
    """Every registered query, in registration order.

    Importing the query modules populates the registry. Shared SQL
    fragments live in shared_sql.py and batch staging in staging.py
    (neither registers), so no module import drags another registering
    module in early.
    """
    from . import (  # noqa: F401
        queries_r4_fixes,
        queries_retrieval,
        queries_dedup_attested,
        queries_similarity_ann,
        queries_sketches,
        queries_joins,
        queries_quality,
        queries_graph,
        queries_layout,
        queries_streaming_sliding,
        queries_relational,
        queries_consolidate,
        queries_closure,
        queries_upsert,
        queries_window,
        queries_pipeline,
        queries_similarity,
        queries_dedup,
        queries_text,
        queries_streaming,
        queries_multimodal,
        queries_analytics,
        queries_sampling,
        queries_curation,
        queries_similarity_pq,
        queries_diff,
        queries_sketches_hist,
        queries_dedup_incremental,
        queries_quality_rare,
        queries_streaming_incdedup,
        queries_bpe,
        queries_curation_canonical,
        queries_langid,
        queries_validation,
        queries_streaming_cms,
        queries_sampling_pps,
        queries_streaming_enrich,
        queries_analytics_r4,
        queries_sinks_r4,
        queries_semdedup,
        queries_pii,
        queries_corpus_e2e,
        queries_refresh_e2e,
        queries_bpe_batched,
        queries_dsir,
        queries_boilerplate,
        queries_ann_recall,
        queries_formats_r6,
        queries_dedup_recall,
        queries_streaming_dsir,
        queries_shards,
        queries_build_e2e,
        queries_lmquality,
        queries_graphrank,
        queries_hamming,
        queries_incragg,
        queries_intervals,
        queries_streaming_r6c,
        queries_dupspan,
        queries_substring_e2e,
        queries_packing,
        queries_mixture,
        queries_scd,
        queries_ppjoin,
        queries_calibrate,
        queries_streaming_scd,
        queries_layout_e2e,
        queries_rproj,
        queries_incrjoin,
        queries_streaming_late,
        queries_entity_e2e,
        queries_textnorm,
        queries_transitions,
        queries_deadletter,
        queries_binpack,
        queries_hilbert,
        queries_dedupaware,
        queries_streaming_hll,
        queries_streaming_deadletter,
        queries_knnjoin,
        queries_lengthbucket,
        queries_pack_e2e,
        queries_csv_deadletter,
        queries_budget,
        queries_chunk_overlap,
        queries_joinsize,
        queries_streaming_incrjoin,
        queries_mm_aspect,
        queries_bbit,
        queries_cohort,
        queries_erasure,
        queries_rfm,
        queries_negatives,
        queries_bootstrap,
        queries_hilbert3,
        queries_ivm_retract,
        queries_layout3_e2e,
        queries_decontam,
        queries_split,
        queries_fim,
        queries_epochshuffle,
        queries_pmi,
        queries_streaming_decontam,
        queries_trainsplit_e2e,
        queries_priority,
        queries_minmax_ivm,
        queries_survivorship,
        queries_streaming_priority,
        queries_fertility,
        queries_epoch_e2e,
        queries_fellegi,
        queries_semantic_decontam,
        queries_linkage_e2e,
        queries_streaming_semdecontam,
        queries_bitemporal,
        queries_repeat_budget,
        queries_clustering_depth,
        queries_streaming_bitemporal,
        queries_max_ivm,
        queries_cube,
        queries_pivot,
        queries_streaming_wmdedup,
        queries_quantile_exact,
        queries_minmax_rescan,
        queries_semantic_decontam_ann,
        queries_pivot_dynamic,
        queries_streaming_btcompact,
        queries_dedup_exact_cells,
        queries_dedup_exact_cells2,
        queries_streaming_btcompact2,
        queries_semantic_decontam_ann2,
        queries_streaming_semdecontam2,
        queries_neardup_exact_e2e,
        queries_kmv_jaccard,
        queries_knn_exact,
        queries_rrf_fusion,
        queries_streaming_knn,
        queries_dedup_exact_incr,
        queries_mmr,
        queries_stats_assoc,
        queries_dedup_exact_cells3,
        queries_mmr_multi,
        queries_rrf_multi,
        queries_skyline,
        queries_stats_rank,
        queries_hll_intersect,
        queries_tfidf_pairs,
        queries_robust_stats,
        queries_regression,
        queries_assoc_rules,
        queries_streaming_skyline,
        queries_dbscan,
        queries_inequality,
        queries_zipf,
        queries_benford,
        queries_streaming_assoc,
        queries_l_diversity,
        queries_linkpred,
        queries_tpch_q3,
        queries_survival,
        queries_psi,
        queries_lorenz,
        queries_monitoring,
        queries_tpch_suite,
        queries_tpch_suite2,
        queries_privacy2,
        queries_timeseries2,
        queries_sequences2,
        queries_kcore,
        queries_streaming_ewma,
        queries_analytics2,
        queries_hardneg,
        queries_sessions2,
        queries_srcsim,
    )

    return dict(_REGISTRY)
