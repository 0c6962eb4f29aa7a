"""`hpv_sheets` — the sheet contract as a Spark streaming source.

Reference analog: the glob-discover + per-file pandas read loop
(``/root/reference/src/main.py:17-30``). Here the same contract (cell A1
metadata, headers on row 3, data from row 4 — ``README.md:46-57``) is a
registered Python Data Source (Spark 4 ``pyspark.sql.datasource``), so
newly-dropped sheets become micro-batches with plain reader syntax:

    spark.dataSource.register(HpvSheetsDataSource)
    s = spark.readStream.format("hpv_sheets").load("/drop/*.xlsx")

It returns the same melted frame as the batch reader
``sources/sheets.py::read_sheets`` (``MELTED_SCHEMA``: source_file,
__a1_text, Local authority, Category, Value) and parses each file with
the same :func:`~.sheets.parse_sheet` — one code path for cell
semantics, two transports (binaryFile+mapInPandas for batch, this
source for streaming).

Stream: :class:`SimpleDataSourceStreamReader` (driver-side reads, the
documented fit for low-volume sources — spreadsheet drops are that).
The offset is the lexicographically-largest file name consumed, so
drops must arrive with non-decreasing names (e.g. date-stamped
exports); ``readBetweenOffsets`` replays any (start, end] range
bit-identically for checkpoint recovery.
"""

from __future__ import annotations

import glob as _glob
import re
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from .sheets import MELTED_SCHEMA, parse_sheet


def _brace_patterns(pattern: str) -> list[str]:
    """Expand ``{a,b}`` alternation (innermost group first, so groups
    nest) into plain patterns: Python's glob has none, Hadoop's glob —
    the batch reader's — does."""
    m = re.search(r"\{([^{}]*)\}", pattern)
    if m is None:
        return [pattern]
    head, tail = pattern[: m.start()], pattern[m.end() :]
    return [
        p for alt in m.group(1).split(",") for p in _brace_patterns(head + alt + tail)
    ]


class _SheetsStreamReader(SimpleDataSourceStreamReader):
    """Micro-batches of newly-dropped sheet files, tracked by file name.

    Offset = {"last": <largest file name consumed>} — primitive-typed and
    checkpoint-serializable. New files must sort AFTER already-seen ones.
    """

    def __init__(self, options) -> None:
        self._path = options.get("path")
        if not self._path:
            raise ValueError(
                "hpv_sheets: a path is required — .load('/dir/*.xlsx')"
            )

    def _files_after(self, last: str, until: str | None = None) -> list[str]:
        names = sorted(
            {n for p in _brace_patterns(self._path) for n in _glob.glob(p)}
        )
        return [
            n for n in names if n > last and (until is None or n <= until)
        ]

    def _parse_all(self, paths: list[str]) -> Iterator[tuple]:
        # a LIST iterator, not a generator: Spark's prefetch cache
        # copy.copy()s the returned iterator for replay, and generators
        # aren't copyable. Driver-side materialization is the documented
        # SimpleDataSourceStreamReader trade-off (low-volume sources).
        rows: list[tuple] = []
        for p in paths:
            with open(p, "rb") as f:
                raw = f.read()
            rows.extend(parse_sheet(p, raw))
        return iter(rows)

    def initialOffset(self) -> dict:
        return {"last": ""}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        new = self._files_after(start["last"])
        if not new:
            return iter(()), start
        return self._parse_all(new), {"last": new[-1]}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self._parse_all(self._files_after(start["last"], end["last"]))


class HpvSheetsDataSource(DataSource):
    """Register with ``spark.dataSource.register(HpvSheetsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "hpv_sheets"

    def schema(self) -> StructType:
        return MELTED_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _SheetsStreamReader(self.options)
