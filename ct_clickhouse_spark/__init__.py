"""ct_clickhouse_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference CT-log analytics platform
(stefanpejcic/ct-clickhouse), re-expressed Spark-first.

Layout:
  session    — SparkSession factory tuned for columnar OLAP (AQE, Arrow, UTC)
  catalog    — explicit schemas + loaders for the fixture tables
  artifacts  — the one registry of derived index state, keyed on the
               state of the source files it was built from
  cert_domains — deterministic synthesis of the reference's one fact table
                 (reference: clickhouse/init.sql:3-18) from the fixtures
  api_queries  — the 8 reference REST query shapes (reference: api/app.py)
  operators/ — relational, window, dedup, similarity, text operators
  functions/ — scalar function layer (public-suffix, X.509 parse UDFs)
  sources/   — CT-log streaming source (Python DataSource API)
  streaming/ — Structured Streaming ingest pipeline
  serving/   — Flask API mirroring the reference endpoints
"""

__version__ = "0.1.0"

# Frame-level operator API: the reusable operators that take DataFrames
# (not fixture paths), for use on a caller's own tables. Lazily imported
# (PEP 562) so `import ct_clickhouse_spark` stays light.
_FRAME_API = {
    "asof_join": ("ct_clickhouse_spark.operators.windows", "asof_join"),
    "label_propagate": (
        "ct_clickhouse_spark.operators.similarity",
        "label_propagate",
    ),
    "ngram_jaccard_pairs_for": (
        "ct_clickhouse_spark.operators.dedup",
        "ngram_jaccard_pairs_for",
    ),
    "salted_join": ("ct_clickhouse_spark.operators.relational", "salted_join"),
    "running_user_totals": (
        "ct_clickhouse_spark.streaming.stateful",
        "running_user_totals",
    ),
    "streaming_asof_last_view": (
        "ct_clickhouse_spark.streaming.stateful",
        "streaming_asof_last_view",
    ),
    "streaming_window_kmv": (
        "ct_clickhouse_spark.streaming.stateful",
        "streaming_window_kmv",
    ),
    "compact_parquet": (
        "ct_clickhouse_spark.plans.maintenance",
        "compact_parquet",
    ),
    "delete_where": (
        "ct_clickhouse_spark.plans.maintenance",
        "delete_where",
    ),
    "update_where": (
        "ct_clickhouse_spark.plans.maintenance",
        "update_where",
    ),
    "merge_upsert": (
        "ct_clickhouse_spark.plans.maintenance",
        "merge_upsert",
    ),
    "register_tables": ("ct_clickhouse_spark.catalog", "register_tables"),
    "hash_sample": ("ct_clickhouse_spark.operators.sampling", "hash_sample"),
    "redact_pii": ("ct_clickhouse_spark.operators.text", "redact_pii"),
    "mix_sources": ("ct_clickhouse_spark.operators.sampling", "mix_sources"),
    "pack_documents": ("ct_clickhouse_spark.operators.sampling", "pack_documents"),
    "stratified_sample": (
        "ct_clickhouse_spark.operators.sampling",
        "stratified_sample",
    ),
    "remove_duplicate_spans": (
        "ct_clickhouse_spark.operators.dedup",
        "remove_duplicate_spans",
    ),
    "incremental_dedup": (
        "ct_clickhouse_spark.operators.dedup",
        "incremental_dedup",
    ),
    "kmv_sketch": ("ct_clickhouse_spark.operators.sketches", "kmv_sketch"),
    "kmv_pairwise": ("ct_clickhouse_spark.operators.sketches", "kmv_pairwise"),
    "sq8_quantize": (
        "ct_clickhouse_spark.operators.similarity",
        "sq8_quantize",
    ),
    "rp_project": (
        "ct_clickhouse_spark.operators.similarity",
        "rp_project",
    ),
    "interval_join": ("ct_clickhouse_spark.operators.rangejoin", "interval_join"),
    "bloom_prune": ("ct_clickhouse_spark.operators.bloomjoin", "bloom_prune"),
    "bloom_pruned_join": (
        "ct_clickhouse_spark.operators.bloomjoin",
        "bloom_pruned_join",
    ),
    "with_zorder_key": (
        "ct_clickhouse_spark.plans.clustering",
        "with_zorder_key",
    ),
    "zorder_write": ("ct_clickhouse_spark.plans.clustering", "zorder_write"),
    "hourly_rollup": ("ct_clickhouse_spark.streaming.rollup", "hourly_rollup"),
    "start_rollup": ("ct_clickhouse_spark.streaming.rollup", "start_rollup"),
    "backfill_rollup_kmv": (
        "ct_clickhouse_spark.streaming.rollup",
        "backfill_rollup_kmv",
    ),
    "returning_users": (
        "ct_clickhouse_spark.streaming.rollup",
        "returning_users",
    ),
    "backfill_rollup_histogram": (
        "ct_clickhouse_spark.streaming.rollup",
        "backfill_rollup_histogram",
    ),
    "range_quantiles": (
        "ct_clickhouse_spark.streaming.rollup",
        "range_quantiles",
    ),
    "start_incremental_dedup": (
        "ct_clickhouse_spark.streaming.ingest",
        "start_incremental_dedup",
    ),
    "chunk_documents": ("ct_clickhouse_spark.operators.text", "chunk_documents"),
    "lm_score": ("ct_clickhouse_spark.operators.text", "lm_score"),
    "quality_filter": ("ct_clickhouse_spark.operators.text", "quality_filter"),
    "normalize_text": ("ct_clickhouse_spark.operators.text", "normalize_text"),
    "corpus_report": ("ct_clickhouse_spark.operators.text", "corpus_report"),
    "hashed_tf": ("ct_clickhouse_spark.operators.text", "hashed_tf"),
    "bpe_train": ("ct_clickhouse_spark.operators.text", "bpe_train"),
    "bpe_encode": ("ct_clickhouse_spark.operators.text", "bpe_encode"),
    "stream_interval_join": (
        "ct_clickhouse_spark.streaming.joins",
        "stream_interval_join",
    ),
    "cms_build": ("ct_clickhouse_spark.operators.sketches", "cms_build"),
    "cms_estimate": ("ct_clickhouse_spark.operators.sketches", "cms_estimate"),
    "backfill_rollup_cms": (
        "ct_clickhouse_spark.streaming.rollup",
        "backfill_rollup_cms",
    ),
    "range_freq": ("ct_clickhouse_spark.streaming.rollup", "range_freq"),
    "init_versioned": ("ct_clickhouse_spark.plans.versioned", "init_versioned"),
    "rewrite_versioned": (
        "ct_clickhouse_spark.plans.versioned",
        "rewrite_versioned",
    ),
    "read_versioned": ("ct_clickhouse_spark.plans.versioned", "read_versioned"),
    "prune_versions": ("ct_clickhouse_spark.plans.versioned", "prune_versions"),
    "versions": ("ct_clickhouse_spark.plans.versioned", "versions"),
    # media codecs (all real: containers AND content)
    "png_encode": ("ct_clickhouse_spark.operators.multimodal", "png_encode"),
    "png_decode_pixels": (
        "ct_clickhouse_spark.operators.multimodal",
        "png_decode_pixels",
    ),
    "jpeg_encode_gray": ("ct_clickhouse_spark.functions.jpeg", "jpeg_encode_gray"),
    "jpeg_decode_gray": ("ct_clickhouse_spark.functions.jpeg", "jpeg_decode_gray"),
    "jpeg_parse_sof": (
        "ct_clickhouse_spark.operators.multimodal",
        "jpeg_parse_sof",
    ),
    "wav_encode": ("ct_clickhouse_spark.operators.multimodal", "wav_encode"),
    "wav_decode_samples": (
        "ct_clickhouse_spark.operators.multimodal",
        "wav_decode_samples",
    ),
    "mp4_encode": ("ct_clickhouse_spark.operators.multimodal", "mp4_encode"),
    "mp4_parse_mvhd": (
        "ct_clickhouse_spark.operators.multimodal",
        "mp4_parse_mvhd",
    ),
    # perceptual near-dup kernels + the shared Hamming band-join
    "phash64": ("ct_clickhouse_spark.operators.multimodal", "phash64"),
    "dhash64": ("ct_clickhouse_spark.operators.multimodal", "dhash64"),
    "audio_fingerprint64": (
        "ct_clickhouse_spark.operators.multimodal",
        "audio_fingerprint64",
    ),
    "hamming_near_dup_pairs": (
        "ct_clickhouse_spark.operators.multimodal",
        "hamming_near_dup_pairs",
    ),
}


def __getattr__(name: str):
    try:
        module, attr = _FRAME_API[name]
    except KeyError:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(module), attr)


def __dir__():
    return sorted(list(globals()) + list(_FRAME_API))
