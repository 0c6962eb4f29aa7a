"""Seeded ``.xlsx`` workbooks for the HPV job, and the job's expected output.

One workbook per (region, academic year). Each follows the reference
ETL's input contract: cell A1 holds text ending in the academic year,
headers sit on row 3, data starts on row 4, one row per local authority. Every sheet has 24 measure columns: for
Year 8, 9 and 10 and each gender, a ``number``, a ``number vaccinated``,
a ``% vaccinated`` and a ``2 doses number`` column (the last two are
dropped by the job). Cells carry the suppression sentinels ``*``,
``[E]`` and ``[DS]``, and some are blank.

Authority names are unique per region, so every (authority, academic
year) key appears in exactly one workbook and the job's pivot sees one
value per cell. Names are written with messy case and padding; the job
trims and title-cases them.

:func:`expected_output` is a pure-Python model of
``plans.job.run_hpv_job`` over the same generated cells: it returns the
final rows the job must write.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import random
import zipfile
from dataclasses import dataclass
from xml.sax.saxutils import escape

YEAR_GROUPS = ("8", "9", "10")
GENDERS = ("females", "males")
AUTHORITIES_PER_REGION = 33
SENTINELS = ("*", "[E]", "[DS]")
A1_PREFIXES = (
    "HPV vaccination coverage for",
    "Human papillomavirus vaccine uptake,",
    "Adolescent vaccination coverage",
)
FIRST_YEAR = 2008


@dataclass(frozen=True)
class Sheet:
    """One generated workbook: A1 text, header row, data rows. A data
    cell is an ``int``, a sentinel/percent ``str`` or ``None`` (blank)."""

    name: str
    a1: str
    headers: tuple[str, ...]
    rows: tuple[tuple, ...]


def _measure_headers() -> list[str]:
    out = []
    for yg in YEAR_GROUPS:
        for g in GENDERS:
            out += [
                f"Year {yg} {g} number",
                f"Year {yg} {g} number vaccinated",
                f"Year {yg} {g} % vaccinated",
                f"Year {yg} {g} 2 doses number",
            ]
    return out


def _word(i: int) -> str:
    a = "bcdfghjklmnprstvwz"
    v = "aeiou"
    out = ""
    while True:
        out += a[i % len(a)] + v[i // len(a) % len(v)]
        i //= len(a) * len(v)
        if not i:
            return out


def _messy(rng: random.Random, name: str) -> str:
    style = rng.randrange(4)
    s = (name.upper(), name.lower(), name.title(), name)[style]
    return " " * rng.randrange(2) + s + " " * rng.randrange(2)


def _cell(rng: random.Random, value: int, blank_p: float, sentinel_p: float):
    r = rng.random()
    if r < blank_p:
        return None
    if r < blank_p + sentinel_p:
        return rng.choice(SENTINELS)
    return value


def generate(seed: int, n_regions: int, n_years: int) -> list[Sheet]:
    """The workbooks' contents, deterministic in ``seed``."""
    rng = random.Random(seed)
    measures = _measure_headers()
    sheets = []
    for region in range(n_regions):
        names = [
            f"{_word(region * AUTHORITIES_PER_REGION + k + 7)} {_word(region + 3)}"
            for k in range(AUTHORITIES_PER_REGION)
        ]
        for y in range(n_years):
            start = FIRST_YEAR + y
            a1 = f"{rng.choice(A1_PREFIXES)} September {start} to August {start + 1}"
            cols = measures[:]
            rng.shuffle(cols)
            rows = []
            for name in names:
                # one cohort size per (year group, gender): "Year 8 females"
                total = {f"Year {yg} {g}": rng.randint(40, 2500)
                         for yg in YEAR_GROUPS for g in GENDERS}
                row = [_messy(rng, name)]
                for c in cols:
                    t = total[" ".join(c.split()[:3])]
                    if c.endswith("number vaccinated"):
                        v = rng.randint(0, t)
                        row.append(_cell(rng, v, 0.03, 0.04))
                    elif "%" in c:
                        row.append(f"{rng.randint(0, 100)}%")
                    elif "2 doses" in c:
                        row.append(_cell(rng, rng.randint(0, t), 0.05, 0.0))
                    else:
                        row.append(_cell(rng, t, 0.03, 0.04))
                rows.append(tuple(row))
            sheets.append(
                Sheet(
                    f"region{region:02d}_{start}.xlsx",
                    a1,
                    ("Local authority", *cols),
                    tuple(rows),
                )
            )
    return sheets


# ------------------------------------------------------------ xlsx writer

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_DOC_REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_CT = "application/vnd.openxmlformats-officedocument.spreadsheetml"
_STATIC = {
    "[Content_Types].xml": (
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/'
        'vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="{_CT}.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" '
        f'ContentType="{_CT}.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" '
        f'ContentType="{_CT}.sharedStrings+xml"/></Types>'
    ),
    "_rels/.rels": (
        f'<Relationships xmlns="{_REL_NS}"><Relationship Id="rId1" '
        f'Type="{_DOC_REL}/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    ),
    "xl/workbook.xml": (
        f'<workbook xmlns="{_NS}" xmlns:r="{_DOC_REL}"><sheets>'
        '<sheet name="Coverage" sheetId="1" r:id="rId1"/></sheets></workbook>'
    ),
    "xl/_rels/workbook.xml.rels": (
        f'<Relationships xmlns="{_REL_NS}">'
        f'<Relationship Id="rId1" Type="{_DOC_REL}/worksheet" '
        'Target="worksheets/sheet1.xml"/>'
        f'<Relationship Id="rId2" Type="{_DOC_REL}/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>'
    ),
}
_XML_HEAD = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'


def _col_letters(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def xlsx_bytes(sheet: Sheet) -> bytes:
    """Render one sheet as an Excel-style workbook: strings in the
    shared-string table, numbers as numeric cells, blanks omitted."""
    sst: dict[str, int] = {}

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, int):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="s"><v>{sst.setdefault(v, len(sst))}</v></c>'

    grid = [(sheet.a1,), (), sheet.headers, *sheet.rows]
    rows_xml = []
    for r, values in enumerate(grid, start=1):
        cells = "".join(cell(f"{_col_letters(c)}{r}", v) for c, v in enumerate(values))
        rows_xml.append(f'<row r="{r}">{cells}</row>')
    sheet_xml = f'<worksheet xmlns="{_NS}"><sheetData>{"".join(rows_xml)}</sheetData></worksheet>'
    sst_xml = (
        f'<sst xmlns="{_NS}" count="{len(sst)}" uniqueCount="{len(sst)}">'
        + "".join(f"<si><t xml:space=\"preserve\">{escape(s)}</t></si>" for s in sst)
        + "</sst>"
    )
    parts = {
        **_STATIC,
        "xl/worksheets/sheet1.xml": sheet_xml,
        "xl/sharedStrings.xml": sst_xml,
    }
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            # fixed timestamps: the same seed gives byte-identical files
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, _XML_HEAD + body)
    return buf.getvalue()


def write_workbooks(out_dir: str, sheets: list[Sheet]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for s in sheets:
        with open(os.path.join(out_dir, s.name), "wb") as f:
            f.write(xlsx_bytes(s))


# --------------------------------------------------- expected-output model


def _initcap_trim(s: str) -> str:
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.strip().split(" "))


def _measure(v):
    return None if v in SENTINELS else int(v)


def _sum(values: list):
    present = [v for v in values if v is not None]
    return sum(present) if present else None


def expected_output(sheets: list[Sheet], extract_date: dt.date) -> list[tuple]:
    """Final rows of ``run_hpv_job`` in ``FINAL_COLUMNS`` order:
    (BOROUGH_NAME, YEAR_GROUP_NUMBER, GENDER_NAME, STUDENTS_TOTAL,
    STUDENTS_VACCINATED, ACADEMIC_YEAR_END_DATE, ACADEMIC_YEAR_TEXT,
    DATE_EXTRACT)."""
    base: list[tuple] = []
    for s in sheets:
        tail = s.a1.split("September ", 1)[1]
        year_text, year_end = "September " + tail, int(tail.rsplit(" ", 1)[1])
        idx = {h: i for i, h in enumerate(s.headers)}
        for row in s.rows:
            borough = _initcap_trim(row[0])
            for yg in YEAR_GROUPS:
                for g in GENDERS:
                    total = row[idx[f"Year {yg} {g} number"]]
                    vacc = row[idx[f"Year {yg} {g} number vaccinated"]]
                    if total is None or vacc is None:
                        continue  # the job drops rows with a blank raw measure
                    gender = "Female" if g == "females" else "Male"
                    base.append(
                        ((borough, year_end, year_text), yg, gender,
                         _measure(total), _measure(vacc))
                    )
    groups: dict[tuple, list[tuple]] = {}
    for key, yg, gender, total, vacc in base:
        for k in (
            (key, yg, gender),
            (key, yg, "Both"),
            (key, "All", gender),
            (key, "All", "Both"),
        ):
            groups.setdefault(k, []).append((total, vacc))
    return [
        (
            key[0], yg, gender,
            _sum([t for t, _ in vals]), _sum([v for _, v in vals]),
            key[1], key[2], extract_date,
        )
        for (key, yg, gender), vals in groups.items()
    ]

