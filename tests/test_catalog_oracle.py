"""The differential gate, in-repo: every catalog entry with an oracle is
run against DuckDB at sf0.001 (fast) — mirroring what the driver does at
sf0.01. Entries without an oracle are checked for executability + rows.
"""

from __future__ import annotations

import pytest

from hpv_etl_code_spark import catalog
from tests.oracle_util import compare


def _entry_names():
    return sorted(catalog.entries())


@pytest.mark.parametrize("name", _entry_names())
def test_catalog_entry_matches_oracle(spark, sf_dir, name):
    e = catalog.entries()[name]
    df = e.fn(spark, sf_dir)
    if e.oracle is None:
        # rows-only: plan executes and yields a stable, non-erroring result
        assert df.count() >= 0
    else:
        compare(df, e.oracle, sf_dir)


def test_priority_entries_lead_the_order():
    """The static _PRIORITY head leads the catalog order."""
    assert list(catalog.entries())[: len(catalog._PRIORITY)] == list(
        catalog._PRIORITY
    )


def test_components_gate_params_match_runtime_derivation(spark, sf_dir):
    """Round 8 (VERDICT r7 #1): dedup_components_portable (and, round
    9, dedup_shingles_scaled) band with runtime corpus-sized parameters
    while their DuckDB twins pin the sf0.01-decade values
    (_GATE_NH/_GATE_BANDS). Those must be the SAME
    numbers at gate scale, or the differential compare silently checks
    two different banding regimes. Decade rounding makes the pin stable
    for 11..1000 documents; this asserts the actual test corpus is
    inside that window."""
    from hpv_etl_code_spark.plans.shared_cache import corpus_lsh_params
    from hpv_etl_code_spark.plans.text_queries import _GATE_BANDS, _GATE_NH

    assert corpus_lsh_params(spark, sf_dir) == (_GATE_NH, _GATE_BANDS)


def test_ann_gate_params_match_runtime_derivation(spark, sf_dir):
    """Round 8 (VERDICT r7 #3): embedding_neardup_scaled buckets with
    runtime corpus-sized hyperplane parameters while its DuckDB twin
    embeds the gate-scale decade values as plane literals. Same-number
    assertion as the components pin."""
    from hpv_etl_code_spark.operators.similarity import scaled_ann_params
    from hpv_etl_code_spark.plans.vector_queries import (
        _ANN_GATE_NBITS,
        _ANN_GATE_NTABLES,
    )
    from hpv_etl_code_spark.sources.registry import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    assert scaled_ann_params(n) == (_ANN_GATE_NBITS, _ANN_GATE_NTABLES)
