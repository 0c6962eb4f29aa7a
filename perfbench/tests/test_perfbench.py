"""Self-tests of the benchmark: deterministic inputs, an expected-output
model that agrees with the job, and metric names that match
``BENCHMARK.json``.

Run from the repository root: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen_sheets  # noqa: E402
import gen_tables  # noqa: E402


def test_sheet_generator_is_deterministic():
    a, b = gen_sheets.generate(5, 2, 3), gen_sheets.generate(5, 2, 3)
    assert a == b
    assert [gen_sheets.xlsx_bytes(s) for s in a] == [gen_sheets.xlsx_bytes(s) for s in b]
    assert gen_sheets.generate(6, 2, 3) != a


def test_sheets_cover_the_input_contract():
    sheets = gen_sheets.generate(5, 3, 4)
    cells = [v for s in sheets for r in s.rows for v in r[1:]]
    for sentinel in gen_sheets.SENTINELS:
        assert sentinel in cells
    assert None in cells
    headers = sheets[0].headers
    assert sum("%" in h for h in headers) == 6
    assert sum("2 doses" in h for h in headers) == 6
    assert all(s.a1.split()[-3:-1] == ["to", "August"] for s in sheets)
    keys = [
        (gen_sheets._initcap_trim(r[0]), s.a1[-4:]) for s in sheets for r in s.rows
    ]
    assert len(keys) == len(set(keys))


def test_table_generator_is_deterministic(tmp_path):
    names = ("orders", "events")
    gen_tables.write_tables(str(tmp_path / "a"), 9, 0.002, names)
    gen_tables.write_tables(str(tmp_path / "b"), 9, 0.002, names)
    gen_tables.write_tables(str(tmp_path / "c"), 10, 0.002, names)
    for n in names:
        a = pq.read_table(tmp_path / "a" / f"{n}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{n}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{n}.parquet"))


def test_corpus_is_fixed(tmp_path):
    # the pinned digests hold for this one corpus only
    gen_tables.write_corpus(str(tmp_path / "a"))
    gen_tables.write_corpus(str(tmp_path / "b"))
    a = pq.read_table(tmp_path / "a" / "documents.parquet")
    assert a.equals(pq.read_table(tmp_path / "b" / "documents.parquet"))
    assert a.num_rows == gen_tables.CORPUS_DOCS
    words = {w for t in a.column("text").to_pylist() for w in t.split()}
    assert words == {*gen_tables.VOCAB, "dup"}


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _) in run.LAYER_METRICS.items()
    }
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from hpv_etl_code_spark.session import get_spark

    s = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_model_matches_run_hpv_job(spark, tmp_path):
    from hpv_etl_code_spark.plans.hpv_pipeline import FINAL_COLUMNS
    from hpv_etl_code_spark.plans.job import JobConfig, run_hpv_job

    sheets = gen_sheets.generate(11, 2, 2)
    gen_sheets.write_workbooks(str(tmp_path / "in"), sheets)
    date = dt.date(2026, 1, 15)
    out = str(tmp_path / "out")
    n = run_hpv_job(spark, JobConfig(str(tmp_path / "in" / "*.xlsx"), out, date))
    expected = gen_sheets.expected_output(sheets, date)
    assert n == len(expected)
    want = checks.summarize(list(FINAL_COLUMNS), expected)
    assert checks.summarize_spark(spark.read.parquet(out)) == want
