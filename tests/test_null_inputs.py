"""NULL-heavy-input robustness: the representative entries must
execute when ~a third of every nullable column is NULL — the dirty-data
case (failed upstream extracts, optional fields, late-arriving
dimensions) that hits every production pipeline.

The fixture NULLs out value/text/embedding/timestamp/key columns on a
deterministic id-hash so runs are reproducible. The invariant is NO
exception; outputs may legitimately shrink (NULL keys drop from joins,
NULL texts tokenize to nothing) but must stay well-defined.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hpv_etl_code_spark import catalog
from hpv_etl_code_spark.sources.registry import load_table

# REGISTRY-DRIVEN (VERDICT r6 #8): every catalog entry runs against the
# NULL-heavy tables BY DEFAULT; exceptions live in SKIP with a
# documented reason (asserted non-empty below).
SKIP: dict[str, str] = {
    "hpv_pipeline_e2e": "reads the repo's bundled HPV sheet fixtures "
        "(reference parity requires byte-identical input), not the ten "
        "parquet tables this fixture NULLs; its own dirty-input coverage "
        "lives in tests/test_hpv_pipeline.py",
}


def _entry_names():
    return [n for n in sorted(catalog.entries()) if n not in SKIP]


def test_skip_list_is_documented_and_current():
    es = catalog.entries()
    for n, why in SKIP.items():
        assert n in es, f"SKIP names unknown entry {n}"
        assert len(why) >= 20, f"SKIP[{n}] needs a real reason"
    assert len(es) - len(SKIP) >= 200, "suite must cover >=200 entries"


_NULL_EVERY = 3  # ~1/3 of rows get NULLs


def _nullify(df, id_col, cols):
    cond = F.pmod(F.xxhash64(F.col(id_col)), F.lit(_NULL_EVERY)) == 0
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.when(cond, F.lit(None).cast(df.schema[c].dataType)).otherwise(F.col(c))
        )
    return out


@pytest.fixture(scope="module")
def nullheavy_sf_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("null_sf")
    plans = {
        "region": ("r_regionkey", ()),
        "nation": ("n_nationkey", ()),
        "customer": ("c_custkey", ("c_acctbal", "c_mktsegment")),
        "supplier": ("s_suppkey", ()),
        "part": ("p_partkey", ("p_retailprice", "p_size", "p_name")),
        "orders": ("o_orderkey", ("o_totalprice", "o_orderdate", "o_orderstatus")),
        "lineitem": ("l_orderkey", ("l_quantity", "l_extendedprice", "l_discount")),
        "events": ("event_id", ("value", "event_type", "props")),
        "documents": ("doc_id", ("text", "lang")),
        "embeddings": ("vec_id", ("embedding", "label")),
    }
    for t, (idc, cols) in plans.items():
        _nullify(load_table(spark, sf_dir, t), idc, cols).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", _entry_names())
def test_entry_survives_null_heavy_tables(spark, nullheavy_sf_dir, name):
    fn = catalog.entries()[name].fn
    fn(spark, nullheavy_sf_dir).collect()  # invariant: no exception


def test_skyline_oracle_parity_on_null_dimensions(spark, nullheavy_sf_dir):
    """NULL-dimension rows are incomparable and excluded from BOTH
    engines (review finding: SQL NOT EXISTS vacuously KEEPS them while
    the frontier join-back drops them — parity requires the explicit
    filter on both sides). This runs the full differential compare on
    the NULL-heavy tables, not just a no-crash check."""
    from hpv_etl_code_spark.plans.olap_queries import SKYLINE_PARTS_SQL
    from tests.oracle_util import compare

    compare(
        catalog.entries()["skyline_parts"].fn(spark, nullheavy_sf_dir),
        SKYLINE_PARTS_SQL,
        nullheavy_sf_dir,
    )
