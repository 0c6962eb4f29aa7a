"""End-to-end HPV job orchestration — the reference's ``main.py``
equivalent (SURVEY §3.4): env-driven config → glob discovery → pipeline
→ truncate-reload sink → row-count report.

The reference wires this as a top-to-bottom script with ~15 eager
materializations and a Snowflake sink
(``/root/reference/src/main.py:122-141``); here it is config + one lazy
plan + one write action.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..sources.sheets import read_sheets
from ..sources.sinks import overwrite_parquet
from .hpv_pipeline import melted_to_final


@dataclass(frozen=True)
class JobConfig:
    """Env-driven job identity (reference: ``sample.env`` +
    ``src/main.py:123-139`` — connection/destination via dotenv)."""

    data_glob: str
    output_path: str
    extract_date: dt.date
    #: partition the sink by academic year and overwrite only the years
    #: present in the batch — the incremental alternative to the
    #: reference's truncate-everything (README.md:57)
    incremental_by_year: bool = False

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "JobConfig":
        e = env if env is not None else dict(os.environ)
        date_s = e.get("HPV_EXTRACT_DATE")
        return cls(
            data_glob=e["HPV_DATA_GLOB"],
            output_path=e["HPV_OUTPUT_PATH"],
            # reference stamps datetime.today() once at import (main.py:12);
            # an env override keeps runs reproducible
            extract_date=(
                dt.date.fromisoformat(date_s) if date_s else dt.date.today()
            ),
            incremental_by_year=e.get("HPV_INCREMENTAL", "") == "1",
        )


def run_hpv_job(spark: SparkSession, config: JobConfig) -> int:
    """Discover → transform → truncate-load; returns rows written (the
    reference prints this count, database_util.py:54)."""
    # each file's parser follows its own extension (sheets.parse_sheet)
    melted = read_sheets(spark, config.data_glob)
    final = melted_to_final(melted, config.extract_date)
    if config.incremental_by_year:
        return overwrite_parquet(
            final,
            config.output_path,
            partition_by=("ACADEMIC_YEAR_END_DATE",),
            dynamic=True,
        )
    return overwrite_parquet(final, config.output_path)
