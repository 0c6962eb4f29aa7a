"""hpv_etl_code_spark — a PySpark-native analytics/ETL engine.

A ground-up, Spark-first rebuild of the query and data-processing
capabilities of the reference ``ncl-cancer-alliance/hpv_etl_code``
pipeline (a single-node eager pandas ETL, see SURVEY.md), generalized
into a lazy, distributed engine:

- sources/   — source registry (parquet star schema), wide-table ingestion,
               sinks with overwrite (truncate-reload) semantics
- functions/ — scalar/cleaning/vector expression helpers (all native
               Column expressions; zero row-at-a-time Python UDFs in the
               core paths)
- operators/ — reshaping (unpivot/pivot), grouping-sets rollups, dedup,
               similarity search, text analysis, multimodal plumbing
- plans/     — composed end-to-end pipelines (the reference-parity HPV
               pipeline among them)
- streaming/ — Structured Streaming windows/state on the events table

Design stance (SURVEY.md §7): idiomatic Spark, not a port. Everything is
a lazy DataFrame plan; Catalyst optimizes; the only actions are sinks and
tiny driver-side metadata reads.
"""

__version__ = "0.1.0"

# Public API — a reference user's entry points, importable flat:
#   from hpv_etl_code_spark import get_spark, run_hpv_job, JobConfig
from .session import get_spark  # noqa: E402


def __getattr__(name):  # lazy — operator modules need an active JVM only at use
    import importlib

    surface = {
        "JobConfig": ("hpv_etl_code_spark.plans.job", "JobConfig"),
        "run_hpv_job": ("hpv_etl_code_spark.plans.job", "run_hpv_job"),
        "run_pipeline": ("hpv_etl_code_spark.plans.hpv_pipeline", "run_pipeline"),
        "catalog": ("hpv_etl_code_spark.catalog", None),
        "load_table": ("hpv_etl_code_spark.sources.registry", "load_table"),
        "register_views": ("hpv_etl_code_spark.sources.registry", "register_views"),
        "overwrite_parquet": ("hpv_etl_code_spark.sources.sinks", "overwrite_parquet"),
        "overwrite_jdbc": ("hpv_etl_code_spark.sources.sinks", "overwrite_jdbc"),
        "read_jdbc": ("hpv_etl_code_spark.sources.sinks", "read_jdbc"),
        "read_sheets": ("hpv_etl_code_spark.sources.sheets", "read_sheets"),
        "read_sheets_csv": ("hpv_etl_code_spark.sources.sheets", "read_sheets_csv"),
        "read_sheets_excel": (
            "hpv_etl_code_spark.sources.sheets",
            "read_sheets_excel",
        ),
        # operator surface, importable flat
        "asof_join_backward": ("hpv_etl_code_spark.operators.asof", "asof_join_backward"),
        "asof_join_forward": ("hpv_etl_code_spark.operators.asof", "asof_join_forward"),
        "proximity_self_join": (
            "hpv_etl_code_spark.operators.rangejoin",
            "proximity_self_join",
        ),
        "merge_upsert": ("hpv_etl_code_spark.operators.merge", "merge_upsert"),
        "salted_join": ("hpv_etl_code_spark.operators.skew", "salted_join"),
        "write_bucketed": ("hpv_etl_code_spark.operators.skew", "write_bucketed"),
        "unpivot": ("hpv_etl_code_spark.operators.reshape", "unpivot"),
        "cube_rollup_labeled": (
            "hpv_etl_code_spark.operators.rollup",
            "cube_rollup_labeled",
        ),
        "exact_dedup_keepers": (
            "hpv_etl_code_spark.operators.dedup",
            "exact_dedup_keepers",
        ),
        "minhash_lsh_pairs": (
            "hpv_etl_code_spark.operators.dedup",
            "minhash_lsh_pairs",
        ),
        "lsh_params_for": (
            "hpv_etl_code_spark.operators.dedup",
            "lsh_params_for",
        ),
        "scaled_lsh_params": (
            "hpv_etl_code_spark.operators.dedup",
            "scaled_lsh_params",
        ),
        "ann_params_for": (
            "hpv_etl_code_spark.operators.similarity",
            "ann_params_for",
        ),
        "scaled_ann_params": (
            "hpv_etl_code_spark.operators.similarity",
            "scaled_ann_params",
        ),
        "shingles": (
            "hpv_etl_code_spark.operators.textops",
            "shingles",
        ),
        "dedup": (
            "hpv_etl_code_spark.operators.frontdoor",
            "dedup",
        ),
        "bpe_train": (
            "hpv_etl_code_spark.operators.bpe",
            "bpe_train",
        ),
        "bpe_token_counts": (
            "hpv_etl_code_spark.operators.bpe",
            "bpe_token_counts",
        ),
        "logreg_train": (
            "hpv_etl_code_spark.operators.mlprims",
            "logreg_train",
        ),
        "logreg_score": (
            "hpv_etl_code_spark.operators.mlprims",
            "logreg_score",
        ),
        "pca_power_iteration": (
            "hpv_etl_code_spark.operators.mlprims",
            "pca_power_iteration",
        ),
        "pca_two_components": (
            "hpv_etl_code_spark.operators.mlprims",
            "pca_two_components",
        ),
        "logreg_train_multi": (
            "hpv_etl_code_spark.operators.mlprims",
            "logreg_train_multi",
        ),
        "resolve_dedup_method": (
            "hpv_etl_code_spark.operators.frontdoor",
            "resolve_dedup_method",
        ),
        "write_training_shards": (
            "hpv_etl_code_spark.sources.sinks",
            "write_training_shards",
        ),
        "strip_duplicate_passages": (
            "hpv_etl_code_spark.operators.frontdoor",
            "strip_duplicate_passages",
        ),
        "dsir_select": (
            "hpv_etl_code_spark.operators.dsir",
            "dsir_select",
        ),
        "video_codec_census": (
            "hpv_etl_code_spark.operators.video",
            "video_codec_census",
        ),
        "write_epoch_buckets": (
            "hpv_etl_code_spark.plans.packing_queries",
            "write_epoch_buckets",
        ),
        "epoch_order_from_buckets": (
            "hpv_etl_code_spark.plans.packing_queries",
            "epoch_order_from_buckets",
        ),
        "lsh_dedup_keepers": (
            "hpv_etl_code_spark.operators.dedup",
            "lsh_dedup_keepers",
        ),
        "simhash_near_pairs": (
            "hpv_etl_code_spark.operators.dedup",
            "simhash_near_pairs",
        ),
        "connected_components": (
            "hpv_etl_code_spark.operators.components",
            "connected_components",
        ),
        "dedup_component_keepers": (
            "hpv_etl_code_spark.operators.components",
            "dedup_component_keepers",
        ),
        "brute_force_topk": (
            "hpv_etl_code_spark.operators.similarity",
            "brute_force_topk",
        ),
        "ann_topk": ("hpv_etl_code_spark.operators.similarity", "ann_topk"),
        "ivf_topk": ("hpv_etl_code_spark.operators.ivf", "ivf_topk"),
        "ivf_index_append_autorebuild": (
            "hpv_etl_code_spark.operators.ivf",
            "ivf_index_append_autorebuild",
        ),
        "neardup_pairs_blocked": (
            "hpv_etl_code_spark.operators.similarity",
            "neardup_pairs_blocked",
        ),
        "per_group_trend_ols": (
            "hpv_etl_code_spark.operators.grouped",
            "per_group_trend_ols",
        ),
        "sessionize_stream": (
            "hpv_etl_code_spark.streaming.stateful",
            "sessionize_stream",
        ),
        "stream_upsert_to_parquet": (
            "hpv_etl_code_spark.streaming.stream",
            "stream_upsert_to_parquet",
        ),
        "textops": ("hpv_etl_code_spark.operators.textops", None),
        # round-2 additions
        "dedup_incremental_survivors": (
            "hpv_etl_code_spark.operators.dedup",
            "dedup_incremental_survivors",
        ),
        "quantize_scale": ("hpv_etl_code_spark.functions.vector", "quantize_scale"),
        "quantize_int8": ("hpv_etl_code_spark.functions.vector", "quantize_int8"),
        "dequantize": ("hpv_etl_code_spark.functions.vector", "dequantize"),
        "epoch_shuffle": (
            "hpv_etl_code_spark.plans.packing_queries",
            "epoch_shuffle",
        ),
        "scrub_pii": ("hpv_etl_code_spark.operators.textops", "scrub_pii"),
        "token_chunks": ("hpv_etl_code_spark.operators.textops", "token_chunks"),
        "compact_parquet": ("hpv_etl_code_spark.sources.sinks", "compact_parquet"),
        "HpvSheetsDataSource": (
            "hpv_etl_code_spark.sources.datasource",
            "HpvSheetsDataSource",
        ),
        # continuation-session additions
        "global_row_index": (
            "hpv_etl_code_spark.operators.layout",
            "global_row_index",
        ),
        "morton_z16": ("hpv_etl_code_spark.operators.layout", "morton_z16"),
        "zorder_layout": ("hpv_etl_code_spark.operators.layout", "zorder_layout"),
        "lint_plan": ("hpv_etl_code_spark.plans.lint", "lint_plan"),
        "assert_scalable": ("hpv_etl_code_spark.plans.lint", "assert_scalable"),
        "split_assign": ("hpv_etl_code_spark.operators.quality", "split_assign"),
        "data_quality_report": (
            "hpv_etl_code_spark.operators.quality",
            "data_quality_report",
        ),
        "table_diff": ("hpv_etl_code_spark.operators.reconcile", "table_diff"),
        "build_corpus_index": (
            "hpv_etl_code_spark.operators.dedup",
            "build_corpus_index",
        ),
        "stream_ingest_dedup": (
            "hpv_etl_code_spark.streaming.stream",
            "stream_ingest_dedup",
        ),
        "diff_summary": (
            "hpv_etl_code_spark.operators.reconcile",
            "diff_summary",
        ),
    }
    if name in surface:
        mod, attr = surface[name]
        m = importlib.import_module(mod)
        return m if attr is None else getattr(m, attr)
    raise AttributeError(name)
