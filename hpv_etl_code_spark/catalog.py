"""Query/oracle catalog — the single registry behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 registers here as a
``(name, spark_callable, oracle_sql_or_None)`` triple. The driver runs
the Spark callable and the DuckDB oracle side-by-side at sf=0.01 and
hash-compares; entries with ``oracle=None`` are non-SQL-expressible and
get a rows-only check backed by invariant tests in ``tests/``. Each
entry has exactly one certification path, its own check: in-repo at
sf0.001 (``tests/test_catalog_oracle.py``) and at the driver's sf0.01
(``scripts/driver_emulation.py``), both over every entry.

Order is static: the ``_PRIORITY`` head, then registration order.
Building the catalog reads no file.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # include in bench.py


_ENTRIES: dict[str, CatalogEntry] = {}


def register(
    name: str, fn: QueryFn, oracle: str | None, headline: bool = False
) -> None:
    if name in _ENTRIES:
        raise ValueError(f"duplicate catalog entry {name!r}")
    _ENTRIES[name] = CatalogEntry(name, fn, oracle, headline)


def entries() -> dict[str, CatalogEntry]:
    _ensure_populated()
    return dict(_ENTRIES)


def queries() -> dict[str, QueryFn]:
    return {n: e.fn for n, e in entries().items()}


def oracle_sql() -> dict[str, str]:
    return {n: e.oracle for n, e in entries().items() if e.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    return {n: e.fn for n, e in entries().items() if e.headline}


_POPULATED = False

# Static head of the registration order: the flagships, the e2e parity
# entries and one representative per headline family come first, so a
# consumer that checks only a prefix of ``entries()`` still covers every
# headline family. Everything else follows in registration order.
_PRIORITY: tuple[str, ...] = (
    "pricing_summary",
    "hpv_pipeline_e2e",
    "llm_corpus_pipeline_portable",
    "range_join_events",
    "merge_upsert_orders",
    "window_topk_per_group",
    "join_broadcast_dims",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "text_metrics",
    "dedup_minhash_portable",
    "stream_windows",
    "image_pixel_stats",
    "knn_graph",
)


def _ensure_populated() -> None:
    """Import operator modules for their registration side effects."""
    global _POPULATED, _ENTRIES
    if _POPULATED:
        return
    from .plans import flagship

    register(
        "pricing_summary",
        flagship.pricing_summary,
        flagship.PRICING_SUMMARY_SQL,
        headline=True,
    )

    from .plans import register_all  # noqa: F401  (registers the rest)

    register_all.populate(register)

    missing = [n for n in _PRIORITY if n not in _ENTRIES]
    if missing:
        raise ValueError(f"priority entries not registered: {missing}")
    ordered = {n: _ENTRIES[n] for n in _PRIORITY}
    ordered.update({n: e for n, e in _ENTRIES.items() if n not in ordered})
    _ENTRIES = ordered
    _POPULATED = True
