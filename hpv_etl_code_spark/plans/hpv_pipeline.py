"""The reference-parity HPV coverage pipeline, Spark-first.

End-to-end re-expression of ``/root/reference/src/main.py`` (the whole
205-line pandas ETL) as one lazy DataFrame plan over MELTED sheet cells
(``sources/sheets.py::MELTED_SCHEMA``, one row per data cell, the A1
text carried per row):

  melted cells of every file                    (main.py:27-45 + :77;
                                                 the reader or
                                                 run_pipeline's adapter)
    → drop '%' / '2 doses' categories           (main.py:40-42)
    → trim/initcap borough                      (main.py:36-37)
    → derive YearGroup / Gender / Metric        (main.py:48-50)
    → A1-derived academic year + extract date   (main.py:60-70)
    → pivot Metric → measure columns            (main.py:53)
    → drop null-measure rows, sentinels → NULL  (main.py:80-83)
    → CUBE(Gender='Both', YearGroup='All') base ∪ rollups
                                                (main.py:87-119, one pass
                                                 here — see operators/rollup.py)
    → UPPERCASE columns, fixed 8-col schema     (main.py:120,
                                                 docs/Create HPV Table.sql:1-10)

Scale story: every stage before the pivot is narrow (no shuffle); the
pivot and the rollup are the only exchanges; file parallelism comes
from the scan, so 10 files or 10 million behave identically. No
collect() anywhere — the A1 metadata travels as a column (the
reference's header-cell read is driver-side, main.py:30,60).

Documented divergences from the reference (all strictly more defined):
- ``initcap`` vs pandas ``str.title()`` on non-letter boundaries (F2).
- ``Academic_Year_Text`` always exists; no-match A1 → NULL (the §1.3
  conditional-column hazard becomes total semantics).
- Null grouping keys form groups (pandas groupby drops them).
- Sum of an all-NULL group is NULL, not 0 (A3).
- Sentinel replace is scoped to the measure columns, not every column (P6).
"""

from __future__ import annotations

import datetime as dt
import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.cleaning import initcap_trim, regexp_extract_null, sentinels_to_null
from ..operators.rollup import cube_rollup_labeled

ID_COL = "Local authority"
ACADEMIC_YEAR_RE = r"([A-Za-z]+ \d{4} to [A-Za-z]+ \d{4})"

FINAL_COLUMNS = (
    "BOROUGH_NAME",
    "YEAR_GROUP_NUMBER",
    "GENDER_NAME",
    "STUDENTS_TOTAL",
    "STUDENTS_VACCINATED",
    "ACADEMIC_YEAR_END_DATE",
    "ACADEMIC_YEAR_TEXT",
    "DATE_EXTRACT",
)


def academic_year_meta(a1_text: Column) -> tuple[Column, Column]:
    """A1 header text → (end-year int, academic-year text) as Columns.

    The reference does this driver-side on the collected cell value
    (main.py:60-67); here it is a per-row expression over the A1 text
    the sheet reader carries. No-match → NULLs (total semantics vs the
    reference's missing column).
    """
    year_end = F.try_element_at(F.split(F.trim(a1_text), " "), F.lit(-1)).try_cast("int")
    year_text = regexp_extract_null(a1_text, ACADEMIC_YEAR_RE)
    return year_end, year_text


def derive_dimensions(melted: DataFrame, extract_date: dt.date) -> DataFrame:
    """Melted cells → dimension columns (reference main.py:36-70): the
    '%' / '2 doses' category drops, borough trim/initcap, year-group
    digits, gender/metric containment mapping, A1-derived academic
    year and the extract date."""
    cat = F.col("Category")
    year_end, year_text = academic_year_meta(F.col("__a1_text"))
    return melted.filter(~cat.contains("%") & ~cat.contains("2 doses")).select(
        initcap_trim(ID_COL).alias("Borough_Name"),
        regexp_extract_null(cat, r"(\d+)").alias("Year_Group_Number"),
        F.when(cat.contains("females"), F.lit("Female"))
        .otherwise(F.lit("Male"))
        .alias("Gender_Name"),
        F.when(F.lower(cat).contains("vaccinated"), F.lit("Number_Vaccinated"))
        .otherwise(F.lit("Number"))
        .alias("Metric"),
        F.col("Value"),
        year_end.alias("Academic_Year_End_Date"),
        year_text.alias("Academic_Year_Text"),
        F.lit(extract_date).cast("date").alias("Date_Extract"),
    )


PIVOT_KEYS = (
    "Borough_Name",
    "Year_Group_Number",
    "Gender_Name",
    "Academic_Year_End_Date",
    "Academic_Year_Text",
    "Date_Extract",
)


def pivot_measures(long_df: DataFrame) -> DataFrame:
    """Metric → two measure columns (reference main.py:53), ONE pivot over
    the union of all files (the per-file metadata columns are in the key,
    so files never collide unless they share identical metadata — in
    which case their cells merge; the reference would instead keep
    duplicate output rows, a latent bug we do not reproduce).

    Keys are unique per wide cell by construction; ``first`` is exact."""
    return (
        long_df.groupBy(*PIVOT_KEYS)
        .pivot("Metric", ["Number", "Number_Vaccinated"])
        .agg(F.first("Value"))
        .withColumnsRenamed(
            {"Number": "Students_Total", "Number_Vaccinated": "Students_Vaccinated"}
        )
    )


def clean_measures(df: DataFrame) -> DataFrame:
    """Reference main.py:80-83, order preserved: drop rows whose RAW
    measure is null (blank cells), then sentinel→NULL, then explicit
    try_cast to long (the dirty→typed boundary the reference left to
    Snowflake)."""
    df = df.na.drop(subset=["Students_Total", "Students_Vaccinated"])
    for c in ("Students_Total", "Students_Vaccinated"):
        df = df.withColumn(c, sentinels_to_null(c).try_cast("long"))
    return df


def rollup_cube(df: DataFrame) -> DataFrame:
    """Base ∪ 'Both'-gender ∪ 'All'-years ∪ both — one grouping-sets pass
    (reference main.py:87-119; see operators/rollup.py)."""
    return cube_rollup_labeled(
        df,
        fixed_dims=[
            "Borough_Name",
            "Academic_Year_End_Date",
            "Academic_Year_Text",
            "Date_Extract",
        ],
        labeled_dims={"Gender_Name": "Both", "Year_Group_Number": "All"},
        aggs=[
            F.sum("Students_Total").alias("Students_Total"),
            F.sum("Students_Vaccinated").alias("Students_Vaccinated"),
        ],
    )


def finalize(df: DataFrame) -> DataFrame:
    """UPPERCASE names + fixed column order (reference main.py:120 +
    docs/Create HPV Table.sql)."""
    return df.toDF(*[c.upper() for c in df.columns]).select(*FINAL_COLUMNS)


def melted_to_final(melted: DataFrame, extract_date: dt.date) -> DataFrame:
    """Melted cells (``MELTED_SCHEMA``, any number of files) → the final
    8-column frame: narrow derive → one pivot → one grouping-sets
    rollup. Shuffle topology is file-count independent; the reference
    executes 2 + 3N pandas materializations for the same result."""
    return finalize(
        rollup_cube(clean_measures(pivot_measures(derive_dimensions(melted, extract_date))))
    )


def run_pipeline(
    files: Sequence[tuple[DataFrame, str | None]],
    extract_date: dt.date,
) -> DataFrame:
    """The whole reference ETL over N wide in-memory sheets, each paired
    with its A1 text: melt every frame into the ``MELTED_SCHEMA`` shape
    the sheet reader emits (measures cast to string, as parsed cells
    are) and run :func:`melted_to_final` on their union."""
    melted = [
        df.to(StructType([StructField(c, StringType()) for c in df.columns]))
        .unpivot([ID_COL], None, "Category", "Value")
        .select(
            F.lit(None).cast("string").alias("source_file"),
            F.lit(a1).cast("string").alias("__a1_text"),
            ID_COL,
            "Category",
            "Value",
        )
        for df, a1 in files
    ]
    return melted_to_final(functools.reduce(DataFrame.union, melted), extract_date)
