"""Spreadsheet-contract sources (reference S1-S3, SURVEY §2.1).

The reference's input contract (``/root/reference/README.md:46-57``):
cell A1 holds descriptive text ending in the academic year, headers live
on row 3, data starts at row 4; one sheet per file; files are discovered
by glob (``src/main.py:17``) and each workbook is read twice — once for
data (``:27``), once headerless for A1 (``:30``).

Spark-first rebuild — **executor-side, single-pass, any file count**:
``spark.read.format("binaryFile")`` lists and reads the files in
parallel (glob pushdown at the source), and an Arrow-batched
``mapInPandas`` stage parses each sheet ONCE, emitting melted rows
``(a1_text, borough, category, value)`` directly — the A1 metadata
travels as a column instead of a driver round-trip, and the reference's
double-read disappears. Downstream, the rows join the exact same
pipeline as wide in-memory frames (plans/hpv_pipeline.py).

Both formats are native: CSV (layout mirrors the sheet contract) and
real ``.xlsx`` — parsed with a dependency-free stdlib reader
(``zipfile`` + ``ElementTree``; xlsx IS zip-of-XML), covering the cell
types the contract produces (shared strings, inline strings, numbers,
rich-text runs). :func:`parse_sheet` picks the parser from each file's
own extension, so one glob may mix both formats.
"""

from __future__ import annotations

import csv
import io
import os
import re
import zipfile
from collections.abc import Iterator
from xml.etree import ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

MELTED_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("__a1_text", StringType()),
        StructField("Local authority", StringType()),
        StructField("Category", StringType()),
        StructField("Value", StringType()),
    ]
)

HEADER_ROW = 2  # 0-based row 3 — the contract's header line
DATA_ROW = 3  # data from row 4


def _melt_grid(path: str, grid: list[list]) -> Iterator[tuple]:
    """Sheet grid → melted cells under the contract (A1 metadata, header
    row 3, data from row 4). Blank cells yield None (Excel-blank parity:
    the reference sees NaN, we see NULL)."""
    if len(grid) <= DATA_ROW:
        return
    a1 = grid[0][0] if grid[0] else None
    headers = list(grid[HEADER_ROW])
    # dense grids (xlsx) pad the header row to the widest data row —
    # trailing blanks are not measure columns (CSV's ragged rows never
    # see them; a fuzz test caught the divergence)
    while headers and headers[-1] in (None, ""):
        headers.pop()
    measure_cols = headers[1:]
    for r in grid[DATA_ROW:]:
        if not r or r[0] in (None, ""):
            continue
        borough = r[0]
        for i, cat in enumerate(measure_cols, start=1):
            v = r[i] if i < len(r) else None
            yield (path, a1, borough, cat, None if v in (None, "") else v)


def _parse_sheet_csv(path: str, raw: bytes) -> Iterator[tuple]:
    """One CSV sheet → melted cells."""
    rows = list(csv.reader(io.StringIO(raw.decode("utf-8"))))
    yield from _melt_grid(path, rows)


# ------------------------------------------------------ xlsx (stdlib)

_CELL_REF = re.compile(r"([A-Z]+)([0-9]+)")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _col_index(letters: str) -> int:
    v = 0
    for ch in letters:
        v = v * 26 + (ord(ch) - 64)
    return v - 1


def _first_sheet_path(z: zipfile.ZipFile) -> str:
    """Resolve the workbook's FIRST sheet (the contract: one sheet per
    file) through workbook.xml + its rels; fall back to sheet1.xml."""
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rid_to_target = {
            r.attrib["Id"]: r.attrib["Target"] for r in rels if "Id" in r.attrib
        }
        for el in wb.iter():
            if _local(el.tag) == "sheet":
                rid = next(
                    (v for k, v in el.attrib.items() if _local(k) == "id"), None
                )
                target = rid_to_target.get(rid, "worksheets/sheet1.xml")
                return "xl/" + target.lstrip("/").removeprefix("xl/")
    except (KeyError, ET.ParseError):
        pass
    return "xl/worksheets/sheet1.xml"


def _parse_sheet_xlsx(path: str, raw: bytes) -> Iterator[tuple]:
    """One .xlsx workbook → melted cells, stdlib-only (zipfile + XML).

    Covers the cell types the contract produces: shared strings (with
    rich-text runs), inline strings, numbers, booleans. Cells carry
    explicit A1-style refs, so sparse rows land in the right columns.

    Adversarial-workbook behavior (differential-tested in
    tests/test_sheets_job.py):

    - **Formula cells**: the CACHED ``<v>`` value is used, the ``<f>``
      formula text ignored — same as pandas/openpyxl ``data_only``
      readers; a formula cell with no cached value reads as blank.
    - **1904-epoch workbooks** (``workbookPr date1904="1"``): no
      effect — this parser never interprets numeric serials as dates
      (the contract's measures are counts/rates), so raw values pass
      through identically under either epoch.
    - **Merged cells** (incl. spans across the header row): NOT
      expanded — only the anchor cell carries the value, spanned cells
      read as blank, which is exactly what the reference's
      ``pandas.read_excel`` sees (NaN). Trailing blank headers are
      dropped; an interior blank header melts its column with a NULL
      category.
    - **Empty or truncated shared-string tables**: a cell referencing a
      missing sst index reads as blank instead of crashing the task.
    """
    with zipfile.ZipFile(io.BytesIO(raw)) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")):
                shared.append(
                    "".join(
                        t.text or ""
                        for t in si.iter()
                        if _local(t.tag) == "t"
                    )
                )
        sheet = ET.fromstring(z.read(_first_sheet_path(z)))

    cells: dict[int, dict[int, str | None]] = {}
    next_row, next_col = 0, 0  # refs are optional in the spec
    for c in sheet.iter():
        tag = _local(c.tag)
        if tag == "row" and "r" in c.attrib:
            next_row, next_col = int(c.attrib["r"]) - 1, 0
            continue
        if tag != "c":
            continue
        ref = c.attrib.get("r")
        if ref and (m := _CELL_REF.match(ref)):
            col, row = _col_index(m.group(1)), int(m.group(2)) - 1
        else:
            col, row = next_col, next_row
        next_col = col + 1
        ctype = c.attrib.get("t", "n")
        value: str | None = None
        if ctype == "inlineStr":
            value = "".join(
                t.text or "" for t in c.iter() if _local(t.tag) == "t"
            )
        else:
            v = next((ch for ch in c if _local(ch.tag) == "v"), None)
            if v is not None and v.text is not None:
                if ctype == "s":
                    i = int(v.text)
                    # truncated/empty sst: blank beats a task crash
                    value = shared[i] if 0 <= i < len(shared) else None
                else:
                    value = v.text
        cells.setdefault(row, {})[col] = value

    if not cells:
        return
    ncols = max(max(cols) for cols in cells.values()) + 1
    grid = [
        [cells.get(r, {}).get(i) for i in range(ncols)]
        for r in range(max(cells) + 1)
    ]
    yield from _melt_grid(path, grid)


_PARSERS = {".csv": _parse_sheet_csv, ".xlsx": _parse_sheet_xlsx}


def parse_sheet(path: str, raw: bytes) -> Iterator[tuple]:
    """One sheet file → melted cells, the parser chosen by the file's
    own extension (``.xlsx`` or ``.csv``); anything else is an error
    naming the file, never a mis-decode."""
    ext = os.path.splitext(path)[1].lower()
    if ext not in _PARSERS:
        raise ValueError(f"{path}: not a sheet file (want .xlsx or .csv)")
    return _PARSERS[ext](path, raw)


def read_sheets(spark: SparkSession, glob_path: str) -> DataFrame:
    """Glob → melted long frame, fully executor-side.

    binaryFile gives (path, modificationTime, length, content); the
    parser runs per Arrow batch. Each file's bytes must fit an executor
    task comfortably — always true for spreadsheet-shaped inputs. The
    A1 double-read of the reference (``src/main.py:27,30``) stays fused
    into the single pass.
    """
    files = spark.read.format("binaryFile").load(glob_path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                out.extend(parse_sheet(path, bytes(content)))
            yield pd.DataFrame(
                out, columns=[f.name for f in MELTED_SCHEMA.fields]
            )

    return files.select("path", "content").mapInPandas(parse, MELTED_SCHEMA)


# names perfbench, tests and the package surface call; any mix of formats
read_sheets_csv = read_sheets_excel = read_sheets
