"""Relational + LLM-pipeline operators.

Composable DataFrame→DataFrame operators. Everything is built from
declarative Spark primitives (the physical strategy — broadcast vs
sort-merge, partial aggregation, AQE skew handling — stays Catalyst's
call); Python only orchestrates plan construction.
"""

from tia_data_pipeline_spark.operators.dedup import (
    cut_duplicated_spans,
    duplicated_spans,
    exact_dedup,
    minhash_near_duplicates,
    minhash_signature_frame,
    minhash_write_index,
    ngram_jaccard_pairs,
    simhash,
    simhash_write_index,
    substring_overlap_pairs,
    word_shingles,
)
from tia_data_pipeline_spark.operators.features import zscore
from tia_data_pipeline_spark.operators.index import (
    EMBEDDING,
    IVF,
    MINHASH,
    SIMHASH,
    TEXT,
    IndexFamily,
    index_append,
    index_compact,
    index_delete,
    index_meta,
    index_probe,
    index_probe_scoped,
    index_stats,
)
from tia_data_pipeline_spark.operators.graph import (
    connected_components,
    dedup_components,
    thread_closure,
)
from tia_data_pipeline_spark.operators.incremental import (
    dedup_batch,
    incremental_append,
    merge_upsert_plan,
)
from tia_data_pipeline_spark.operators.multimodal import (
    attach_payload,
    decode_payloads,
    resize_images,
    sample_frames,
)
from tia_data_pipeline_spark.operators.sampling import hash_sample, stratified_hash_sample
from tia_data_pipeline_spark.operators.scale import (
    salted_group_count,
    salted_join,
    write_bucketed,
)
from tia_data_pipeline_spark.operators.text_index import (
    build_text_index,
    text_index_append,
    text_index_compact,
    text_index_delete,
)
from tia_data_pipeline_spark.operators.similarity import (
    brute_force_top_k,
    embedding_near_duplicates,
    embedding_write_index,
    ivf_build_index,
    ivf_drift_stats,
    ivf_index_append,
    ivf_index_compact,
    ivf_index_delete,
    ivf_index_meta,
    ivf_search_batch,
    ivf_write_index,
    projection_bits_for,
    knn_join,
    knn_join_bucketed,
    lsh_top_k,
    semantic_dedup_pairs,
)
from tia_data_pipeline_spark.operators.windows import (
    daily_window,
    sessionize,
    sliding_window,
)

__all__ = [
    "exact_dedup",
    "duplicated_spans",
    "cut_duplicated_spans",
    "substring_overlap_pairs",
    "IndexFamily",
    "MINHASH",
    "SIMHASH",
    "EMBEDDING",
    "IVF",
    "TEXT",
    "index_probe",
    "index_probe_scoped",
    "index_append",
    "index_delete",
    "index_compact",
    "index_stats",
    "index_meta",
    "minhash_write_index",
    "build_text_index",
    "simhash_write_index",
    "text_index_append",
    "text_index_compact",
    "text_index_delete",
    "embedding_write_index",
    "ivf_search_batch",
    "semantic_dedup_pairs",
    "connected_components",
    "dedup_components",
    "minhash_near_duplicates",
    "minhash_signature_frame",
    "ngram_jaccard_pairs",
    "simhash",
    "word_shingles",
    "zscore",
    "thread_closure",
    "incremental_append",
    "dedup_batch",
    "merge_upsert_plan",
    "attach_payload",
    "decode_payloads",
    "resize_images",
    "sample_frames",
    "hash_sample",
    "stratified_hash_sample",
    "salted_join",
    "salted_group_count",
    "write_bucketed",
    "brute_force_top_k",
    "embedding_near_duplicates",
    "ivf_build_index",
    "ivf_drift_stats",
    "ivf_index_append",
    "ivf_index_compact",
    "ivf_index_delete",
    "ivf_index_meta",
    "ivf_write_index",
    "projection_bits_for",
    "knn_join",
    "knn_join_bucketed",
    "lsh_top_k",
    "daily_window",
    "sessionize",
    "sliding_window",
]
