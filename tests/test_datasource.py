"""The `hpv_sheets` Python Data Source (sources/datasource.py): the
streaming reader must yield the same melted rows as the batch
binaryFile+mapInPandas route."""

from __future__ import annotations

import pytest

from hpv_etl_code_spark.plans import hpv_fixture
from hpv_etl_code_spark.sources.datasource import HpvSheetsDataSource
from hpv_etl_code_spark.sources.sheets import read_sheets_excel


def _key(rows):
    return {
        (r["__a1_text"], r["Local authority"], r["Category"], r["Value"])
        for r in rows
    }


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(HpvSheetsDataSource)


def test_stream_source_consumes_incremental_drops(spark, tmp_path):
    """Name-ordered file drops become micro-batches; the cumulative sink
    equals a batch read of everything dropped so far."""
    from tests.xlsx_util import write_xlsx

    drop = tmp_path / "drop"
    drop.mkdir()
    files = list(enumerate(hpv_fixture.FILES, 1))

    def write(i, spec):
        cols, rows, a1 = spec
        write_xlsx(drop / f"{i:05d}.xlsx", [[a1], [], list(cols), *map(list, rows)])

    write(*files[0])
    stream = spark.readStream.format("hpv_sheets").load(str(drop / "*.xlsx"))
    q = (
        stream.writeStream.format("memory")
        .queryName("sheet_drops")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        for spec in files[1:]:
            write(*spec)
        q.processAllAvailable()
        got = _key(spark.sql("SELECT * FROM sheet_drops").collect())
    finally:
        q.stop()
    want = _key(read_sheets_excel(spark, str(drop / "*.xlsx")).collect())
    assert got == want and got


def test_stream_source_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Kill the query, drop more files, restart from the SAME checkpoint:
    the resumed query must process only files after the committed offset
    — each sheet lands in the sink exactly once."""
    from tests.xlsx_util import write_xlsx

    drop = tmp_path / "drop"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    drop.mkdir()
    files = list(enumerate(hpv_fixture.FILES, 1))

    def write(i, spec):
        cols, rows, a1 = spec
        write_xlsx(drop / f"{i:05d}.xlsx", [[a1], [], list(cols), *map(list, rows)])

    def run_once():
        stream = spark.readStream.format("hpv_sheets").load(str(drop / "*.xlsx"))
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write(*files[0])
    run_once()
    for spec in files[1:]:
        write(*spec)
    run_once()

    sunk = spark.read.parquet(out)
    want = read_sheets_excel(spark, str(drop / "*.xlsx"))
    assert sunk.count() == want.count()  # exactly-once: no replayed rows
    assert _key(sunk.collect()) == _key(want.collect())
