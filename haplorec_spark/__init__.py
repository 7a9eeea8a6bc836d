"""haplorec_spark — the innovativemedicine/haplorec pharmacogenomics
system on PySpark.

The reference (read-only at /root/reference) is a MySQL + Groovy
pipeline that turns a patient genotyping file into haplotype, genotype,
phenotype and drug-recommendation calls. It has three layers, each
re-expressed here as Spark DataFrame compositions (see SURVEY.md §2):

1. Relational operators the reference builds its stages from, which
   Spark lacks as one-liners (``operators/``): relational division
   (``division``), ordered positional pivot (``pivot``), the report
   row-condensing chain (``rows``), surrogate-id / foreign-key
   resolution (``fk``) and wide <-> long reshape (``reshape``).
2. The eight-stage patient pipeline: ``sources.variant_source`` reads
   the genotyping export, ``pipeline.Pipeline.run_job`` builds the
   job_id-partitioned stage tables (variant, hetVariant, geneHaplotype,
   novelHaplotype, genotype, genePhenotype and the two
   drug-recommendation stages), ``Pipeline.materialize`` writes them and
   ``report`` condenses them into the two drug-recommendation reports.
   ``matrix`` (broadcast gene-haplotype matrices), ``algorithm`` (het
   disambiguation), ``plans/`` (the stage dependency DAG) and
   ``streaming.incremental_variant_ingest`` (one job per micro-batch)
   serve it.
3. PharmGKB reference-data ingest: ``sources.dsv_source``, ``schema``
   (the reference DDL), ``warehouse`` (CTAS / insert-select /
   materialization modes), ``functions/`` (phenotype-name normalizer
   and the "Phenotype (Genotype)" text grammar) and ``operators.fk``.

The package also still holds modules outside these layers, which no
patient job reaches: corpus curation (``curation``), the text, dedup,
similarity, sampling and training-data operators, event analytics
(funnel, retention, as-of and range joins, percentiles), the query
registry with its DuckDB oracles (``queries``), the rest of
``streaming`` and the JSONL / WARC sources. Their root-level names
below are resolved on first use, so importing the patient path does
not load them.
"""

from importlib import import_module

__version__ = "0.1.0"

from haplorec_spark.operators.division import (  # noqa: E402
    select_where_either_subset_of,
    select_where_subset_of,
)
from haplorec_spark.operators.pivot import grouped_rows_to_columns  # noqa: E402
from haplorec_spark.pipeline import Pipeline, ReferenceTables  # noqa: E402
from haplorec_spark.session import get_spark  # noqa: E402

# Root-level names of the modules outside the three layers, by module.
_LAZY_MODULES: dict[str, tuple[str, ...]] = {
    "curation": ("CurationConfig", "curate_documents", "curation_report"),
    "operators.asof": ("asof_join",),
    "operators.ranges": ("interval_join",),
    "operators.packing": (
        "pack_sequences", "pack_token_ids", "write_id_sequence_shards",
        "write_training_shards",
    ),
    "operators.multimodal": (
        "media_duplicate_pairs", "synthesize_media_table",
    ),
    "operators.profiling": (
        "frequent_values", "numeric_quantiles", "profile_drift",
        "profile_table", "text_corpus_profile", "value_histogram_psi",
    ),
    "operators.relevance": ("bm25_rank", "tfidf"),
    "operators.sampling": (
        "contamination_report", "decontaminate", "hash_fraction_sample",
        "hash_split", "leakage_safe_split", "mixture_sample",
        "top_fraction_by_score", "weighted_sample",
    ),
    "operators.web": (
        "canonicalize_urls", "cap_per_domain", "filter_blocked_domains",
        "parse_urls",
    ),
    "operators.dedup": (
        "cluster_size_profile", "dedup_survivors", "duplicate_ngram_spans",
        "compact_lsh_store", "lsh_parameters", "lsh_verified_pairs",
        "strip_duplicate_ngram_spans", "verification_profile",
        "verify_jaccard_pairs",
    ),
    "operators.percentiles": ("group_percentiles",),
    "operators.similarity": (
        "ann_recall", "ann_recall_summary", "cell_profile",
        "compact_pq_store", "rebalance_pq_store", "rebalance_sq_store",
        "rebuild_pq_store", "rebuild_sq_store", "store_cell_stats",
        "store_health", "StoreHealth", "incremental_semantic_pairs",
        "ivf_pq_topk", "ivf_sq_topk", "pq_encode", "pq_store_topk",
        "pq_topk", "pq_train", "refine_topk", "sq_bounds", "sq_encode",
        "sq_store_topk", "sq_topk", "sq_train", "write_sq_store",
        "train_pq_index", "write_pq_store", "semantic_dedup_pairs",
        "write_semantic_store",
    ),
    "operators.bloom": (
        "compact_bloom_store", "bloom_build", "bloom_decontaminate",
        "bloom_parameters", "bloom_probe",
    ),
    "operators.funnel": (
        "funnel_counts", "funnel_depth", "funnel_step_timings",
    ),
    "operators.html": ("extract_html_text",),
    "operators.retention": ("retention_cohorts",),
    "operators.text": (
        "encoding_quality", "fix_encoding", "with_fixed_encoding",
        "bigram_logprob_score", "blocked_term_fraction", "build_vocab",
        "chunk_documents", "language_id_model", "linear_text_score",
        "normalize_text", "perplexity_buckets", "redact_pii",
        "script_fractions", "strip_boilerplate_lines",
        "trigram_logprob_score", "unigram_logprob_score",
    ),
    "operators.training": (
        "LanguageIdModel", "LinearTextModel", "calibration_buckets",
        "evaluate_binary_classifier", "load_language_model",
        "load_text_model", "save_language_model", "save_text_model",
        "top_features", "train_language_classifier",
        "train_linear_text_classifier",
    ),
    "sources": ("jsonl_sink", "jsonl_source", "warc_source", "wet_source"),
    "streaming": (
        "compact_funnel_state", "compact_retention_state",
        "funnel_state_counts", "funnel_state_depths",
        "funnel_state_step_timings", "retention_state_cohorts",
        "stream_bloom_dedup_ingest", "stream_funnel_ingest",
        "stream_dedup_events", "stream_dedup_ingest",
        "stream_drift_monitor", "stream_pq_index_ingest",
        "stream_retention_ingest", "stream_semantic_dedup_ingest",
        "stream_tokenizer_drift",
    ),
}
_LAZY = {
    name: module for module, names in _LAZY_MODULES.items() for name in names
}


def __getattr__(name: str):
    module = _LAZY.get(name)
    if module is None:
        raise AttributeError(
            f"module {__name__!r} has no attribute {name!r}"
        )
    value = getattr(import_module(f"{__name__}.{module}"), name)
    globals()[name] = value
    return value


__all__ = [
    "Pipeline",
    "ReferenceTables",
    "get_spark",
    "grouped_rows_to_columns",
    "select_where_either_subset_of",
    "select_where_subset_of",
    "__version__",
    *_LAZY,
]
