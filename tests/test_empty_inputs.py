"""Empty-input robustness: every representative catalog entry must
plan and execute against ZERO-ROW tables without raising — the
degenerate case every production backfill eventually hits (an empty
partition, a filtered-out day, a brand-new tenant).

The fixture writes schema-correct empty parquet for all ten tables;
entries are expected to return an empty (or defined-degenerate) result,
never to throw. Divide-by-zero, NULL bounds from min/max over nothing,
empty broadcast sides and empty window partitions are exactly the seams
this exercises.
"""

from __future__ import annotations

import pytest

from hpv_etl_code_spark import catalog
from hpv_etl_code_spark.sources.registry import load_table

# REGISTRY-DRIVEN (VERDICT r6 #8): every catalog entry runs against the
# empty tables BY DEFAULT; exceptions live in SKIP with a documented
# reason (asserted non-empty below). Round 6's ANSI divide-by-zero in
# clustering_coefficient_sampled was caught only because someone
# hand-added the entry to the old opt-in list — generation inverts
# that default.
SKIP: dict[str, str] = {
    "hpv_pipeline_e2e": "reads the repo's bundled HPV sheet fixtures "
        "(reference parity requires byte-identical input), not the ten "
        "parquet tables this fixture empties; its own degenerate-input "
        "coverage lives in tests/test_hpv_pipeline.py",
}


def _entry_names():
    return [n for n in sorted(catalog.entries()) if n not in SKIP]


def test_skip_list_is_documented_and_current():
    es = catalog.entries()
    for n, why in SKIP.items():
        assert n in es, f"SKIP names unknown entry {n}"
        assert len(why) >= 20, f"SKIP[{n}] needs a real reason"
    assert len(es) - len(SKIP) >= 200, "suite must cover >=200 entries"


@pytest.fixture(scope="module")
def empty_sf_dir(spark, sf_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        load_table(spark, sf_dir, t).limit(0).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", _entry_names())
def test_entry_survives_empty_tables(spark, empty_sf_dir, name):
    fn = catalog.entries()[name].fn
    rows = fn(spark, empty_sf_dir).collect()
    # empty input → empty or defined-degenerate output; the invariant
    # under test is NO exception, but also bound the output size so a
    # literal-generating bug can't fabricate data from nothing
    assert len(rows) <= 20, (name, rows[:5])
