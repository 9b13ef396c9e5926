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

# Shared helpers + frozen constants (re-exported for tests/tools).
from qurio_spark.queries.common import (  # noqa: F401
    QUERY_TEXT,
    QUERY_VEC_ID,
    _docs_with_vecs,
    _epoch_secs,
    _events,
    _normalize_events_ts,
    _qvec,
    _t,
)

from qurio_spark.queries.indexes import prepare_indexes  # noqa: F401
from qurio_spark.queries.search import _BATCH_QUERIES  # noqa: F401

from qurio_spark.queries.catalog import (  # noqa: F401
    q_catalog_crud,
    q_count_filtered,
    q_count_global,
    q_dedup_anti_join,
    q_filter_equality,
    q_filter_offset,
    q_read_page,
    q_source_list,
    q_stats_fanin,
)
from qurio_spark.queries.search import (  # noqa: F401
    q_ann_ivf,
    q_batch_hybrid,
    q_batch_hybrid_ivf,
    q_bm25_blockmax,
    q_bm25_incremental,
    q_bm25_maxscore,
    q_bm25_prebuilt,
    q_bm25_topk,
    q_hybrid_filtered,
    q_hybrid_rrf,
    q_hybrid_topk,
    q_vector_topk,
)
from qurio_spark.queries.textstats import (  # noqa: F401
    q_decontaminate,
    q_fingerprints,
    q_bpe_tokenize,
    q_gopher_rules,
    q_lm_buckets,
    q_lm_quality,
    q_keyword_extract,
    q_lang_id,
    q_pii_redact,
    q_quality_scores,
    q_repetition,
    q_token_counts,
    q_word_concentration,
)
from qurio_spark.queries.dedup import (  # noqa: F401
    q_canonical_docs,
    q_fuzzy_join,
    q_fuzzy_join2,
    q_line_dedup,
    q_span_dedup,
    q_triangle_count,
    q_embedding_near_dup,
    q_exact_dedup,
    q_minhash,
    q_minhash_lsh,
    q_ngram_jaccard,
    q_ngram_jaccard_capped,
    q_pagerank_centrality,
    q_simhash,
    q_simhash_near,
)
from qurio_spark.queries.events_tpch import (  # noqa: F401
    q_anomaly_events,
    q_cheapest_order_per_customer,
    q_tpch_q2,
    q_events_hourly,
    q_events_gapfill,
    q_events_json,
    q_events_retention,
    q_events_top_users,
    q_incremental_hourly,
    q_quantile_view,
    q_rollup_daily,
    q_near_dup_clusters,
    q_streaming_hourly,
    q_streaming_join,
    q_streaming_sessions_final,
    q_top_customers,
    q_tpch_q1,
    q_tpch_q3,
    q_tpch_q5,
    q_tpch_q7,
    q_tpch_q8,
    q_tpch_q9,
    q_tpch_q11,
    q_tpch_q15,
    q_tpch_q16,
    q_tpch_q17,
    q_tpch_q20,
    q_tpch_q21,
    q_tpch_q22,
)
from qurio_spark.queries.breadth import (  # noqa: F401
    q_curate,
    q_data_quality,
    q_dsir_weights,
    q_export_shards,
    q_events_cube,
    q_events_funnel,
    q_events_histogram,
    q_events_moving_avg,
    q_events_pivot,
    q_events_sessions,
    q_events_setops,
    q_events_unpivot,
    q_first_order_per_customer,
    q_link_filter_chain,
    q_pack_sequences,
    q_pack_shards,
    q_revenue_rollup,
    q_sample_mixture,
    q_source_completion,
    q_stratified_sample,
    q_weighted_sample,
    q_tpch_q6,
    q_value_percentiles,
)
from qurio_spark.queries.ingest import (  # noqa: F401
    q_content_hash,
    q_dlq_retry,
    q_doc_meta_norm,
    q_md_extract,
    q_merge_orders,
    q_reingest_skip_unchanged,
    q_reingest_upsert,
    q_rerank_overlap,
    q_sitemap_urls,
    q_streaming_ingest,
    q_streaming_near_dedup,
    q_stuck_reset,
)
from qurio_spark.queries.relational import (  # noqa: F401
    q_bloom_semi_join,
    q_snap_compact,
    q_snap_bloom,
    q_snap_dv,
    q_snap_merge,
    q_snap_dropcol,
    q_snap_renamecol,
    q_snap_widen,
    q_snap_quarantine,
    q_snap_zorder,
    q_parts_never_shipped,
    q_tpch_q4,
    q_tpch_q10,
    q_tpch_q12,
    q_tpch_q13,
    q_tpch_q14,
    q_snap_scan,
    q_time_travel,
    q_tpch_q18,
    q_tpch_q19,
)
from qurio_spark.queries.media import (  # noqa: F401
    q_audio_features,
    q_resize_targets,
)
from qurio_spark.queries.temporal import (  # noqa: F401
    q_events_asof_attribution,
    q_events_asof_recovery,
    q_events_range_left,
    q_events_range_proximity,
)
from qurio_spark.queries.pipelines import (  # noqa: F401
    q_ann_ivfpq,
    q_ann_pq,
    q_batch_ann_pq,
    q_chunk_corpus,
    q_ingest_pipeline,
    q_kmeans_ivf,
    q_semantic_dedup,
    q_lsh_multiprobe,
    q_lsh_prebuilt,
    q_lsh_topk,
)

# Oracle SQL aggregation + the helpers tests import directly.
from qurio_spark.queries.oracles import (  # noqa: F401
    BPEISH_RE_SQL,
    _pii_sql,
    oracle_sql,
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
        "catalog_crud": q_catalog_crud,
        "filter_equality": q_filter_equality,
        "snap_dropcol": q_snap_dropcol,
        "snap_dv": q_snap_dv,
        "curate": q_curate,
        "exact_dedup": q_exact_dedup,
        "bm25_topk": q_bm25_topk,
        "bm25_maxscore": q_bm25_maxscore,
        "canonical_docs": q_canonical_docs,
        "hybrid_topk": q_hybrid_topk,
        "tpch_q9": q_tpch_q9,
        "tpch_q21": q_tpch_q21,
        "tpch_q19": q_tpch_q19,
        "ann_ivfpq": q_ann_ivfpq,
        "dsir_weights": q_dsir_weights,
        "fuzzy_join": q_fuzzy_join,
        "span_dedup": q_span_dedup,
        "fuzzy_join2": q_fuzzy_join2,
        "ngram_jaccard": q_ngram_jaccard,
        "streaming_join": q_streaming_join,
        "bm25_incremental": q_bm25_incremental,
        "streaming_sessions_final": q_streaming_sessions_final,
        "streaming_ingest": q_streaming_ingest,
        "pack_sequences": q_pack_sequences,
        "stratified_sample": q_stratified_sample,
        "tpch_q8": q_tpch_q8,
        "streaming_near_dedup": q_streaming_near_dedup,
        "tpch_q13": q_tpch_q13,
        "snap_scan": q_snap_scan,
        "snap_merge": q_snap_merge,
        "lm_quality": q_lm_quality,
        "events_top_users": q_events_top_users,
        "lm_buckets": q_lm_buckets,
        "tpch_q15": q_tpch_q15,
        "snap_bloom": q_snap_bloom,
        "anomaly_events": q_anomaly_events,
        "rollup_daily": q_rollup_daily,
        "quantile_view": q_quantile_view,
        "export_shards": q_export_shards,
        "snap_renamecol": q_snap_renamecol,
        "tpch_q17": q_tpch_q17,
        "tpch_q12": q_tpch_q12,
        "tpch_q7": q_tpch_q7,
        "minhash_lsh": q_minhash_lsh,
        "events_funnel": q_events_funnel,
        "snap_compact": q_snap_compact,
        "near_dup_clusters": q_near_dup_clusters,
        "incremental_hourly": q_incremental_hourly,
        "bloom_semi_join": q_bloom_semi_join,
        "sample_mixture": q_sample_mixture,
        # -- 51+: oracle-backed, operator proven by in-window sibling -
        "line_dedup": q_line_dedup,
        "read_page": q_read_page,
        "vector_topk": q_vector_topk,
        "triangle_count": q_triangle_count,
        "tpch_q22": q_tpch_q22,
        "bm25_blockmax": q_bm25_blockmax,
        "batch_hybrid_ivf": q_batch_hybrid_ivf,
        "tpch_q10": q_tpch_q10,
        "events_range_left": q_events_range_left,
        "snap_zorder": q_snap_zorder,
        "gopher_rules": q_gopher_rules,
        "snap_widen": q_snap_widen,
        "resize_targets": q_resize_targets,
        "lsh_prebuilt": q_lsh_prebuilt,
        "snap_quarantine": q_snap_quarantine,
        "stats_fanin": q_stats_fanin,
        "hybrid_rrf": q_hybrid_rrf,
        "decontaminate": q_decontaminate,
        "link_filter_chain": q_link_filter_chain,
        "events_retention": q_events_retention,
        "events_gapfill": q_events_gapfill,
        "pagerank_centrality": q_pagerank_centrality,
        "tpch_q2": q_tpch_q2,
        "rerank_overlap": q_rerank_overlap,
        "cheapest_order_per_customer": q_cheapest_order_per_customer,
        "events_sessions": q_events_sessions,
        "time_travel": q_time_travel,
        "batch_ann_pq": q_batch_ann_pq,
        "ann_pq": q_ann_pq,
        "pack_shards": q_pack_shards,
        "dedup_anti_join": q_dedup_anti_join,
        "merge_orders": q_merge_orders,
        "events_cube": q_events_cube,
        "events_asof_recovery": q_events_asof_recovery,
        "events_range_proximity": q_events_range_proximity,
        "audio_features": q_audio_features,
        "bm25_prebuilt": q_bm25_prebuilt,
        "source_list": q_source_list,
        "events_histogram": q_events_histogram,
        "events_unpivot": q_events_unpivot,
        "streaming_hourly": q_streaming_hourly,
        "word_concentration": q_word_concentration,
        "embedding_near_dup": q_embedding_near_dup,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q5": q_tpch_q5,
        "ann_ivf": q_ann_ivf,
        "revenue_rollup": q_revenue_rollup,
        "first_order_per_customer": q_first_order_per_customer,
        "tpch_q20": q_tpch_q20,
        "tpch_q11": q_tpch_q11,
        "filter_offset": q_filter_offset,
        "source_completion": q_source_completion,
        "parts_never_shipped": q_parts_never_shipped,
        "tpch_q18": q_tpch_q18,
        "sitemap_urls": q_sitemap_urls,
        "doc_meta_norm": q_doc_meta_norm,
        "stuck_reset": q_stuck_reset,
        "dlq_retry": q_dlq_retry,
        "events_hourly": q_events_hourly,
        "events_pivot": q_events_pivot,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "pii_redact": q_pii_redact,
        "reingest_upsert": q_reingest_upsert,
        "md_extract": q_md_extract,
        "hybrid_filtered": q_hybrid_filtered,
        "batch_hybrid": q_batch_hybrid,
        "events_json": q_events_json,
        "reingest_skip_unchanged": q_reingest_skip_unchanged,
        "token_counts": q_token_counts,
        "fingerprints": q_fingerprints,
        "content_hash": q_content_hash,
        "lsh_topk": q_lsh_topk,
        "minhash": q_minhash,
        "events_moving_avg": q_events_moving_avg,
        "tpch_q4": q_tpch_q4,
        "lsh_multiprobe": q_lsh_multiprobe,
        "data_quality": q_data_quality,
        "count_global": q_count_global,
        "count_filtered": q_count_filtered,
        "simhash": q_simhash,
        "top_customers": q_top_customers,
        "tpch_q6": q_tpch_q6,
        "tpch_q14": q_tpch_q14,
        "events_setops": q_events_setops,
        "value_percentiles": q_value_percentiles,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "events_asof_attribution": q_events_asof_attribution,
        "repetition": q_repetition,
        "keyword_extract": q_keyword_extract,
        "simhash_near": q_simhash_near,
        "weighted_sample": q_weighted_sample,
        "tpch_q16": q_tpch_q16,
        # -- rows-only (non-SQL-expressible) ---------------------------
        "chunk_corpus": q_chunk_corpus,
        "ingest_pipeline": q_ingest_pipeline,
        "kmeans_ivf": q_kmeans_ivf,
        "semantic_dedup": q_semantic_dedup,
        "bpe_tokenize": q_bpe_tokenize,
    }
