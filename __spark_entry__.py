"""Driver contract for the spark-graft builder (PySpark target).

Every operator from SURVEY.md §2 that is implemented gets a
``queries()`` entry; SQL-expressible ones also get the equivalent
DuckDB oracle in ``oracle_sql()``.  Column names and float rounding are
kept in lockstep between both sides (the driver hashes values after
sorting columns by name).

Shared contracts (see qurio_spark.functions.text):
  - tokenize  = lowercase, split [^a-z0-9]+, drop empties
  - BM25      = k1 1.2, b 0.75, idf ln(1 + (N-df+0.5)/(df+0.5))
  - fusion    = min-max normalize each score over the candidate set,
                alpha*vec + (1-alpha)*bm25   (SURVEY §2 Q2)
  - hash64    = first 15 hex digits of md5 as bigint (engine-portable)
  - scores rounded to 4 decimals in BOTH engines; ranking ties broken
    by id so top-k sets are deterministic
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Shared helpers and the index/oracle hooks, re-exported for tests/tools.
from qurio_spark.queries.common import (  # noqa: F401
    QUERY_TEXT,
    _docs_with_vecs,
    _epoch_secs,
    _events,
    _normalize_events_ts,
    _qvec,
    _t,
)
from qurio_spark.queries.indexes import prepare_indexes  # noqa: F401
from qurio_spark.queries.oracles import _pii_sql, oracle_sql  # noqa: F401
from qurio_spark.queries.search import _BATCH_QUERIES, q_hybrid_topk  # noqa: F401

from qurio_spark.queries import (
    breadth,
    catalog,
    dedup,
    events_tpch,
    ingest,
    media,
    pipelines,
    relational,
    search,
    temporal,
    textstats,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: hybrid search (Q1+F1+Q2+Q6) at sf0.001."""
    return q_hybrid_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordering contract: the driver's correctness gate checks the
    FIRST 50 dict entries, so positions 1-50 are exactly 50
    oracle-backed queries, one or more per operator family, with every
    entry a change touched rotated into the window so the gate
    re-verifies it; long-green entries with an in-window sibling
    rotate out to make room.  Positions 51+ are oracle-backed entries
    whose operator an in-window sibling proves, then the rows-only
    (non-SQL-expressible) entries.  Past rotations and their reasons
    are in git history.

    EVERY entry, in-window or not, is additionally oracle-compared at
    sf0.001 by ``tests/test_queries_full.py`` on each pytest run
    (rows-only entries against golden row-hashes where pinned)."""
    return {
        # -- driver-checked window (all oracle-backed) ----------------
        "catalog_crud": catalog.q_catalog_crud,
        "filter_equality": catalog.q_filter_equality,
        "snap_dropcol": relational.q_snap_dropcol,
        "snap_dv": relational.q_snap_dv,
        "curate": breadth.q_curate,
        "exact_dedup": dedup.q_exact_dedup,
        "bm25_topk": search.q_bm25_topk,
        "bm25_maxscore": search.q_bm25_maxscore,
        "canonical_docs": dedup.q_canonical_docs,
        "hybrid_topk": search.q_hybrid_topk,
        "tpch_q9": events_tpch.q_tpch_q9,
        "tpch_q21": events_tpch.q_tpch_q21,
        "tpch_q19": relational.q_tpch_q19,
        "ann_ivfpq": pipelines.q_ann_ivfpq,
        "dsir_weights": breadth.q_dsir_weights,
        "fuzzy_join": dedup.q_fuzzy_join,
        "span_dedup": dedup.q_span_dedup,
        "fuzzy_join2": dedup.q_fuzzy_join2,
        "ngram_jaccard": dedup.q_ngram_jaccard,
        "streaming_join": events_tpch.q_streaming_join,
        "bm25_incremental": search.q_bm25_incremental,
        "streaming_sessions_final": events_tpch.q_streaming_sessions_final,
        "streaming_ingest": ingest.q_streaming_ingest,
        "pack_sequences": breadth.q_pack_sequences,
        "stratified_sample": breadth.q_stratified_sample,
        "tpch_q8": events_tpch.q_tpch_q8,
        "streaming_near_dedup": ingest.q_streaming_near_dedup,
        "tpch_q13": relational.q_tpch_q13,
        "snap_scan": relational.q_snap_scan,
        "snap_merge": relational.q_snap_merge,
        "lm_quality": textstats.q_lm_quality,
        "events_top_users": events_tpch.q_events_top_users,
        "lm_buckets": textstats.q_lm_buckets,
        "tpch_q15": events_tpch.q_tpch_q15,
        "snap_bloom": relational.q_snap_bloom,
        "anomaly_events": events_tpch.q_anomaly_events,
        "rollup_daily": events_tpch.q_rollup_daily,
        "quantile_view": events_tpch.q_quantile_view,
        "export_shards": breadth.q_export_shards,
        "snap_renamecol": relational.q_snap_renamecol,
        "tpch_q17": events_tpch.q_tpch_q17,
        "tpch_q12": relational.q_tpch_q12,
        "tpch_q7": events_tpch.q_tpch_q7,
        "minhash_lsh": dedup.q_minhash_lsh,
        "events_funnel": breadth.q_events_funnel,
        "snap_compact": relational.q_snap_compact,
        "near_dup_clusters": events_tpch.q_near_dup_clusters,
        "incremental_hourly": events_tpch.q_incremental_hourly,
        "bloom_semi_join": relational.q_bloom_semi_join,
        "sample_mixture": breadth.q_sample_mixture,
        # -- 51+: oracle-backed, operator proven by in-window sibling -
        "line_dedup": dedup.q_line_dedup,
        "read_page": catalog.q_read_page,
        "vector_topk": search.q_vector_topk,
        "triangle_count": dedup.q_triangle_count,
        "tpch_q22": events_tpch.q_tpch_q22,
        "bm25_blockmax": search.q_bm25_blockmax,
        "batch_hybrid_ivf": search.q_batch_hybrid_ivf,
        "tpch_q10": relational.q_tpch_q10,
        "events_range_left": temporal.q_events_range_left,
        "snap_zorder": relational.q_snap_zorder,
        "gopher_rules": textstats.q_gopher_rules,
        "snap_widen": relational.q_snap_widen,
        "resize_targets": media.q_resize_targets,
        "lsh_prebuilt": pipelines.q_lsh_prebuilt,
        "snap_quarantine": relational.q_snap_quarantine,
        "stats_fanin": catalog.q_stats_fanin,
        "hybrid_rrf": search.q_hybrid_rrf,
        "decontaminate": textstats.q_decontaminate,
        "link_filter_chain": breadth.q_link_filter_chain,
        "events_retention": events_tpch.q_events_retention,
        "events_gapfill": events_tpch.q_events_gapfill,
        "pagerank_centrality": dedup.q_pagerank_centrality,
        "tpch_q2": events_tpch.q_tpch_q2,
        "rerank_overlap": ingest.q_rerank_overlap,
        "cheapest_order_per_customer": events_tpch.q_cheapest_order_per_customer,
        "events_sessions": breadth.q_events_sessions,
        "time_travel": relational.q_time_travel,
        "batch_ann_pq": pipelines.q_batch_ann_pq,
        "ann_pq": pipelines.q_ann_pq,
        "pack_shards": breadth.q_pack_shards,
        "dedup_anti_join": catalog.q_dedup_anti_join,
        "merge_orders": ingest.q_merge_orders,
        "events_cube": breadth.q_events_cube,
        "events_asof_recovery": temporal.q_events_asof_recovery,
        "events_range_proximity": temporal.q_events_range_proximity,
        "audio_features": media.q_audio_features,
        "bm25_prebuilt": search.q_bm25_prebuilt,
        "source_list": catalog.q_source_list,
        "events_histogram": breadth.q_events_histogram,
        "events_unpivot": breadth.q_events_unpivot,
        "streaming_hourly": events_tpch.q_streaming_hourly,
        "word_concentration": textstats.q_word_concentration,
        "embedding_near_dup": dedup.q_embedding_near_dup,
        "tpch_q1": events_tpch.q_tpch_q1,
        "tpch_q3": events_tpch.q_tpch_q3,
        "tpch_q5": events_tpch.q_tpch_q5,
        "ann_ivf": search.q_ann_ivf,
        "revenue_rollup": breadth.q_revenue_rollup,
        "first_order_per_customer": breadth.q_first_order_per_customer,
        "tpch_q20": events_tpch.q_tpch_q20,
        "tpch_q11": events_tpch.q_tpch_q11,
        "filter_offset": catalog.q_filter_offset,
        "source_completion": breadth.q_source_completion,
        "parts_never_shipped": relational.q_parts_never_shipped,
        "tpch_q18": relational.q_tpch_q18,
        "sitemap_urls": ingest.q_sitemap_urls,
        "doc_meta_norm": ingest.q_doc_meta_norm,
        "stuck_reset": ingest.q_stuck_reset,
        "dlq_retry": ingest.q_dlq_retry,
        "events_hourly": events_tpch.q_events_hourly,
        "events_pivot": breadth.q_events_pivot,
        "quality_scores": textstats.q_quality_scores,
        "lang_id": textstats.q_lang_id,
        "pii_redact": textstats.q_pii_redact,
        "reingest_upsert": ingest.q_reingest_upsert,
        "md_extract": ingest.q_md_extract,
        "hybrid_filtered": search.q_hybrid_filtered,
        "batch_hybrid": search.q_batch_hybrid,
        "events_json": events_tpch.q_events_json,
        "reingest_skip_unchanged": ingest.q_reingest_skip_unchanged,
        "token_counts": textstats.q_token_counts,
        "fingerprints": textstats.q_fingerprints,
        "content_hash": ingest.q_content_hash,
        "lsh_topk": pipelines.q_lsh_topk,
        "minhash": dedup.q_minhash,
        "events_moving_avg": breadth.q_events_moving_avg,
        "tpch_q4": relational.q_tpch_q4,
        "lsh_multiprobe": pipelines.q_lsh_multiprobe,
        "data_quality": breadth.q_data_quality,
        "count_global": catalog.q_count_global,
        "count_filtered": catalog.q_count_filtered,
        "simhash": dedup.q_simhash,
        "top_customers": events_tpch.q_top_customers,
        "tpch_q6": breadth.q_tpch_q6,
        "tpch_q14": relational.q_tpch_q14,
        "events_setops": breadth.q_events_setops,
        "value_percentiles": breadth.q_value_percentiles,
        "ngram_jaccard_capped": dedup.q_ngram_jaccard_capped,
        "events_asof_attribution": temporal.q_events_asof_attribution,
        "repetition": textstats.q_repetition,
        "keyword_extract": textstats.q_keyword_extract,
        "simhash_near": dedup.q_simhash_near,
        "weighted_sample": breadth.q_weighted_sample,
        "tpch_q16": events_tpch.q_tpch_q16,
        # -- rows-only (non-SQL-expressible) ---------------------------
        "chunk_corpus": pipelines.q_chunk_corpus,
        "ingest_pipeline": pipelines.q_ingest_pipeline,
        "kmeans_ivf": pipelines.q_kmeans_ivf,
        "semantic_dedup": pipelines.q_semantic_dedup,
        "bpe_tokenize": textstats.q_bpe_tokenize,
    }
