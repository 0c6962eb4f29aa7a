"""Every name in the package's flat public surface must resolve —
insurance against refactors breaking the lazy __getattr__ map."""

from __future__ import annotations


def test_all_flat_exports_resolve():
    import hpv_etl_code_spark as e

    # pull the surface map by probing a known name first (loads module)
    import hpv_etl_code_spark as pkg

    surface_names = [
        "JobConfig", "run_hpv_job", "run_pipeline", "catalog", "load_table",
        "register_views", "overwrite_parquet", "overwrite_jdbc", "read_jdbc",
        "read_sheets", "read_sheets_csv", "read_sheets_excel", "asof_join_backward",
        "asof_join_forward", "proximity_self_join", "merge_upsert",
        "salted_join", "write_bucketed", "unpivot", "cube_rollup_labeled",
        "exact_dedup_keepers", "minhash_lsh_pairs", "lsh_dedup_keepers",
        "simhash_near_pairs", "connected_components", "dedup_component_keepers",
        "brute_force_topk", "ann_topk", "ivf_topk", "neardup_pairs_blocked",
        "per_group_trend_ols", "sessionize_stream", "stream_upsert_to_parquet",
        "textops", "dedup_incremental_survivors", "quantize_scale",
        "quantize_int8", "dequantize", "epoch_shuffle", "scrub_pii",
        "token_chunks", "compact_parquet", "HpvSheetsDataSource",
        "get_spark",
        "global_row_index", "morton_z16", "zorder_layout",
        "lint_plan", "assert_scalable", "split_assign", "data_quality_report",
        "table_diff", "diff_summary", "build_corpus_index", "stream_ingest_dedup",
        "lsh_params_for", "scaled_lsh_params", "ann_params_for",
        "scaled_ann_params", "shingles", "video_codec_census",
        "write_epoch_buckets", "epoch_order_from_buckets",
        "dedup", "resolve_dedup_method", "ivf_index_append_autorebuild",
        "bpe_train", "bpe_token_counts",
        "logreg_train", "logreg_score", "pca_power_iteration",
        "logreg_train_multi", "pca_two_components",
    ]
    for name in surface_names:
        assert getattr(pkg, name) is not None, name
