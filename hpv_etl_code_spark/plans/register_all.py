"""Registration hub for all non-flagship catalog entries.

Grows as operators land (SURVEY.md §7 milestones). Each section imports
an operator module and registers its queries + oracles.
"""

from __future__ import annotations


def populate(register) -> None:  # noqa: ANN001 — see catalog.register
    from . import (
        analytics_queries,
        battery_queries,
        behavior_queries,
        corpus_pipeline,
        decontam_queries,
        format_queries,
        func_batteries2,
        governance_queries,
        func_batteries3,
        inference_queries,
        image_queries,
        merged_queries,
        mining_queries,
        mleval_queries,
        olap_queries,
        ops_queries,
        packing_queries,
        parity_queries,
        profiling_queries,
        quality_queries,
        relational_queries,
        passage_queries,
        robust_queries,
        search_queries,
        scale_queries,
        selection_queries,
        simjoin_queries,
        stats_queries,
        stream_queries,
        survival_queries,
        temporal_graph_queries,
        text_queries,
        tokenizer_queries,
        train_queries,
        timeseries_queries,
        tpch_queries,
        tpch_queries2,
        tpch_queries3,
        vector_queries,
    )

    parity_queries.register_entries(register)
    merged_queries.register_entries(register)
    relational_queries.register_entries(register)
    text_queries.register_entries(register)
    vector_queries.register_entries(register)
    stream_queries.register_entries(register)
    tpch_queries.register_entries(register)
    tpch_queries2.register_entries(register)
    tpch_queries3.register_entries(register)
    battery_queries.register_entries(register)
    func_batteries2.register_entries(register)
    func_batteries3.register_entries(register)
    corpus_pipeline.register_entries(register)
    decontam_queries.register_entries(register)
    packing_queries.register_entries(register)
    analytics_queries.register_entries(register)
    profiling_queries.register_entries(register)
    scale_queries.register_entries(register)
    search_queries.register_entries(register)
    passage_queries.register_entries(register)
    selection_queries.register_entries(register)
    behavior_queries.register_entries(register)
    quality_queries.register_entries(register)
    image_queries.register_entries(register)
    temporal_graph_queries.register_entries(register)
    mining_queries.register_entries(register)
    olap_queries.register_entries(register)
    governance_queries.register_entries(register)
    stats_queries.register_entries(register)
    inference_queries.register_entries(register)
    simjoin_queries.register_entries(register)
    format_queries.register_entries(register)
    ops_queries.register_entries(register)
    mleval_queries.register_entries(register)
    survival_queries.register_entries(register)
    tokenizer_queries.register_entries(register)
    train_queries.register_entries(register)
    timeseries_queries.register_entries(register)
    robust_queries.register_entries(register)
