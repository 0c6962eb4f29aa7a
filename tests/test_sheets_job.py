"""End-to-end job test: spreadsheet-contract CSV/xlsx files on disk →
distributed melt → pipeline → parquet sink; the result must equal the
DuckDB oracle rendered from the same fixture (an independent route to
one answer)."""

from __future__ import annotations

import collections
import csv

import duckdb
import pytest

from hpv_etl_code_spark.plans import hpv_fixture
from hpv_etl_code_spark.plans.job import JobConfig, run_hpv_job
from hpv_etl_code_spark.sources.sheets import read_sheets_excel


def _oracle_rows():
    return collections.Counter(duckdb.sql(hpv_fixture.render_oracle_sql()).fetchall())


def _job_rows(spark, data_glob, out_path):
    n = run_hpv_job(spark, JobConfig(data_glob, out_path, hpv_fixture.EXTRACT_DATE))
    assert n > 0
    return collections.Counter(tuple(r) for r in spark.read.parquet(out_path).collect())


def _write_sheet(path, cols, rows, a1):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow([a1])
        w.writerow([])
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if v is None else v for v in r])


@pytest.fixture()
def sheet_dir(tmp_path):
    for i, (cols, rows, a1) in enumerate(hpv_fixture.FILES, 1):
        _write_sheet(tmp_path / f"file{i}.csv", cols, rows, a1)
    return tmp_path


def test_csv_job_equals_inmemory_pipeline(spark, sheet_dir, tmp_path):
    """CSV sheets through the whole job equal the DuckDB oracle."""
    got = _job_rows(spark, str(sheet_dir / "*.csv"), str(tmp_path / "out"))
    assert got == _oracle_rows()


def test_incremental_job_overwrites_only_present_years(spark, tmp_path):
    """A batch containing only the 2024 file must replace the 2024
    partition and leave 2023 untouched."""
    full_dir, inc_dir = tmp_path / "full", tmp_path / "inc"
    full_dir.mkdir(), inc_dir.mkdir()
    for i, (cols, rows, a1) in enumerate(hpv_fixture.FILES[:2], 1):
        _write_sheet(full_dir / f"f{i}.csv", cols, rows, a1)
    # the incremental batch: 2024 data again, but camden numbers doubled
    cols, rows, a1 = hpv_fixture.FILES[0]
    new_rows = [("camden", "200", "160", "180", "140", "240", "192", "80%", "60")]
    _write_sheet(inc_dir / "f1.csv", cols, new_rows, a1)

    out = str(tmp_path / "out")
    run_hpv_job(
        spark,
        JobConfig(str(full_dir / "*.csv"), out, hpv_fixture.EXTRACT_DATE, True),
    )
    base = spark.read.parquet(out)
    n_2023 = base.filter("ACADEMIC_YEAR_END_DATE = 2023").count()
    assert n_2023 > 0

    run_hpv_job(
        spark,
        JobConfig(str(inc_dir / "*.csv"), out, hpv_fixture.EXTRACT_DATE, True),
    )
    after = spark.read.parquet(out)
    # 2023 partition untouched; 2024 replaced with the doubled batch
    assert after.filter("ACADEMIC_YEAR_END_DATE = 2023").count() == n_2023
    camden = after.filter(
        "ACADEMIC_YEAR_END_DATE = 2024 AND BOROUGH_NAME = 'Camden' "
        "AND YEAR_GROUP_NUMBER = '8' AND GENDER_NAME = 'Female'"
    ).collect()
    assert [r.STUDENTS_TOTAL for r in camden] == [200]


def test_job_config_from_env():
    cfg = JobConfig.from_env(
        {
            "HPV_DATA_GLOB": "/data/*.csv",
            "HPV_OUTPUT_PATH": "/out",
            "HPV_EXTRACT_DATE": "2026-01-15",
        }
    )
    assert cfg.data_glob == "/data/*.csv"
    assert str(cfg.extract_date) == "2026-01-15"


def _xlsx_grid(cols, rows, a1):
    return [[a1], [], list(cols), *[list(r) for r in rows]]


@pytest.fixture()
def xlsx_dir(tmp_path):
    from tests.xlsx_util import write_xlsx

    for i, (cols, rows, a1) in enumerate(hpv_fixture.FILES, 1):
        # alternate shared-string and inline-string encodings, and
        # exercise rich-text runs on one file's A1 cell
        write_xlsx(
            tmp_path / f"file{i}.xlsx",
            _xlsx_grid(cols, rows, a1),
            inline=(i % 2 == 0),
            rich_text_a1=(i == 1),
        )
    return tmp_path


def test_xlsx_melt_equals_csv_melt(spark, sheet_dir, xlsx_dir):
    """The stdlib xlsx parser and the CSV parser are two routes to the
    same melted rows (paths aside)."""
    from hpv_etl_code_spark.sources.sheets import read_sheets_csv

    def key(df):
        return {
            (r["__a1_text"], r["Local authority"], r["Category"], r["Value"])
            for r in df.collect()
        }

    got = key(read_sheets_excel(spark, str(xlsx_dir / "*.xlsx")))
    want = key(read_sheets_csv(spark, str(sheet_dir / "*.csv")))
    assert got == want and got


def test_xlsx_job_equals_inmemory_pipeline(spark, xlsx_dir, tmp_path):
    """Full job over REAL .xlsx files (the reference's input format)
    equals the DuckDB oracle."""
    got = _job_rows(spark, str(xlsx_dir / "*.xlsx"), str(tmp_path / "out_xlsx"))
    assert got == _oracle_rows()


@pytest.mark.parametrize("pattern", ["*.{csv,xlsx}", "*.{xlsx,csv}"])
def test_mixed_format_glob_equals_oracle(spark, tmp_path, pattern):
    """One glob over a directory holding both formats: each file is
    parsed by its own extension, whatever order the glob names them."""
    from tests.xlsx_util import write_xlsx

    data = tmp_path / "mixed"
    data.mkdir()
    for i, (cols, rows, a1) in enumerate(hpv_fixture.FILES, 1):
        if i % 2:
            write_xlsx(data / f"file{i}.xlsx", _xlsx_grid(cols, rows, a1))
        else:
            _write_sheet(data / f"file{i}.csv", cols, rows, a1)
    got = _job_rows(spark, str(data / pattern), str(tmp_path / "out"))
    assert got == _oracle_rows()


def test_unsupported_extension_names_the_file(spark, sheet_dir, tmp_path):
    (sheet_dir / "stray.ods").write_bytes(b"not a sheet")
    with pytest.raises(Exception, match=r"stray\.ods"):
        run_hpv_job(
            spark,
            JobConfig(
                str(sheet_dir / "*.{csv,ods}"),
                str(tmp_path / "out"),
                hpv_fixture.EXTRACT_DATE,
            ),
        )


def test_xlsx_sparse_rows_land_in_right_columns(spark, tmp_path):
    """Blank cells are OMITTED from the xlsx XML (not written as empty)
    — explicit cell refs must still place values correctly."""
    from tests.xlsx_util import write_xlsx

    grid = [
        ["Data through 2023/24"],
        [],
        ["Local authority", "m1", "m2", "m3"],
        ["camden", None, "7", None],
        ["barnet", "1", None, "2"],
    ]
    write_xlsx(tmp_path / "sparse.xlsx", grid)
    got = {
        (r["Local authority"], r["Category"], r["Value"])
        for r in read_sheets_excel(spark, str(tmp_path / "sparse.xlsx")).collect()
    }
    assert got == {
        ("camden", "m1", None),
        ("camden", "m2", "7"),
        ("camden", "m3", None),
        ("barnet", "m1", "1"),
        ("barnet", "m2", None),
        ("barnet", "m3", "2"),
    }


# ------------------------- adversarial workbooks (round-3 hardening)

_WS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
    "{body}</worksheet>"
)


def _melt(spark, path):
    return {
        (r["Local authority"], r["Category"], r["Value"])
        for r in read_sheets_excel(spark, str(path)).collect()
    }


def test_xlsx_formula_cells_use_cached_value(spark, tmp_path):
    """A formula cell carries <f> + the cached <v>; the cached value is
    read (pandas data_only parity). A formula with NO cached value reads
    blank. String-result formulas (t=\"str\") read the cached text."""
    from tests.xlsx_util import write_xlsx_parts

    body = (
        "<sheetData>"
        '<row r="1"><c r="A1" t="inlineStr"><is><t>Data through 2023/24</t></is></c></row>'
        '<row r="3">'
        '<c r="A3" t="inlineStr"><is><t>Local authority</t></is></c>'
        '<c r="B3" t="inlineStr"><is><t>m1</t></is></c>'
        '<c r="C3" t="inlineStr"><is><t>m2</t></is></c>'
        "</row>"
        '<row r="4">'
        '<c r="A4" t="inlineStr"><is><t>camden</t></is></c>'
        '<c r="B4"><f>SUM(X1:X9)</f><v>42</v></c>'
        '<c r="C4" t="str"><f>CONCAT(Y1,Y2)</f><v>hi</v></c>'
        "</row>"
        '<row r="5">'
        '<c r="A5" t="inlineStr"><is><t>barnet</t></is></c>'
        '<c r="B5"><f>BROKEN()</f></c>'
        "</row>"
        "</sheetData>"
    )
    write_xlsx_parts(tmp_path / "formula.xlsx", _WS.format(body=body))
    assert _melt(spark, tmp_path / "formula.xlsx") == {
        ("camden", "m1", "42"),
        ("camden", "m2", "hi"),
        ("barnet", "m1", None),
        ("barnet", "m2", None),
    }


def test_xlsx_1904_epoch_flag_is_inert(spark, tmp_path):
    """date1904 workbooks: raw numeric values flow through unchanged —
    the parser never interprets serials as dates, so the epoch flag
    cannot shift any value."""
    from tests.xlsx_util import write_xlsx_parts

    wb_1904 = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<workbookPr date1904="1"/>'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    body = (
        "<sheetData>"
        '<row r="1"><c r="A1" t="inlineStr"><is><t>Data through 2023/24</t></is></c></row>'
        '<row r="3">'
        '<c r="A3" t="inlineStr"><is><t>Local authority</t></is></c>'
        '<c r="B3" t="inlineStr"><is><t>m1</t></is></c>'
        "</row>"
        '<row r="4">'
        '<c r="A4" t="inlineStr"><is><t>camden</t></is></c>'
        '<c r="B4"><v>45000</v></c>'
        "</row>"
        "</sheetData>"
    )
    write_xlsx_parts(
        tmp_path / "epoch.xlsx", _WS.format(body=body), workbook_xml=wb_1904
    )
    assert _melt(spark, tmp_path / "epoch.xlsx") == {("camden", "m1", "45000")}


def test_xlsx_merged_header_cells_read_as_blank(spark, tmp_path):
    """Merged ranges are not expanded: only the anchor carries the
    value (exactly what pandas.read_excel sees). A merge spanning
    header columns leaves the spanned header blank → interior blank
    headers melt with a NULL category; trailing ones are dropped."""
    from tests.xlsx_util import write_xlsx_parts

    body = (
        "<sheetData>"
        '<row r="1"><c r="A1" t="inlineStr"><is><t>Data through 2023/24</t></is></c></row>'
        '<row r="3">'
        '<c r="A3" t="inlineStr"><is><t>Local authority</t></is></c>'
        '<c r="B3" t="inlineStr"><is><t>m1</t></is></c>'
        '<c r="D3" t="inlineStr"><is><t>m2</t></is></c>'
        "</row>"
        '<row r="4">'
        '<c r="A4" t="inlineStr"><is><t>camden</t></is></c>'
        '<c r="B4"><v>1</v></c><c r="C4"><v>2</v></c><c r="D4"><v>3</v></c>'
        "</row>"
        "</sheetData>"
        '<mergeCells count="1"><mergeCell ref="B3:C3"/></mergeCells>'
    )
    write_xlsx_parts(tmp_path / "merged.xlsx", _WS.format(body=body))
    # B3:C3 merged under header "m1": C3 is blank (anchor-only), so
    # camden's C-column value melts with a NULL category
    assert _melt(spark, tmp_path / "merged.xlsx") == {
        ("camden", "m1", "1"),
        ("camden", None, "2"),
        ("camden", "m2", "3"),
    }


def test_xlsx_empty_and_truncated_shared_strings(spark, tmp_path):
    """An empty <sst/> plus a cell referencing a missing shared-string
    index reads as blank instead of crashing the executor task."""
    from tests.xlsx_util import write_xlsx_parts

    empty_sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'count="0" uniqueCount="0"/>'
    )
    body = (
        "<sheetData>"
        '<row r="1"><c r="A1" t="inlineStr"><is><t>Data through 2023/24</t></is></c></row>'
        '<row r="3">'
        '<c r="A3" t="inlineStr"><is><t>Local authority</t></is></c>'
        '<c r="B3" t="inlineStr"><is><t>m1</t></is></c>'
        "</row>"
        '<row r="4">'
        '<c r="A4" t="inlineStr"><is><t>camden</t></is></c>'
        '<c r="B4" t="s"><v>7</v></c>'
        "</row>"
        "</sheetData>"
    )
    write_xlsx_parts(
        tmp_path / "sst.xlsx", _WS.format(body=body), sst_xml=empty_sst
    )
    assert _melt(spark, tmp_path / "sst.xlsx") == {("camden", "m1", None)}
