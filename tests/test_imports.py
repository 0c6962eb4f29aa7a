"""Import-level contracts: the benchmark's program names keep resolving,
and Python workers import the package from any driver directory."""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
from pathlib import Path


ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hpv_etl_code_spark"


def _perfbench_uses() -> set[tuple[str, str]]:
    """(module, name) for every package name perfbench/ imports, plus
    (module.name, attr) for every attribute read off an imported module
    (``shared_cache.clear_cache``, ``catalog.queries``)."""
    uses: set[tuple[str, str]] = set()
    for path in sorted((ROOT / "perfbench").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        bound: dict[str, str] = {}  # local name → module.name it binds
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
                for alias in node.names:
                    uses.add((node.module, alias.name))
                    bound[alias.asname or alias.name] = f"{node.module}.{alias.name}"
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in bound
            ):
                uses.add((bound[node.value.id], node.attr))
    return uses


def _resolve(dotted: str):
    """A module, or a name inside one (``pkg.mod.fn``)."""
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        mod, _, name = dotted.rpartition(".")
        return getattr(_resolve(mod), name)


def test_perfbench_program_names_resolve():
    uses = _perfbench_uses()
    assert (f"{PACKAGE}.plans.job", "melted_to_final") in uses
    missing = []
    for owner, name in sorted(uses):
        try:
            _resolve(f"{owner}.{name}")
        except (AttributeError, ModuleNotFoundError):
            missing.append(f"{owner}.{name}")
    assert not missing, missing


def test_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the repo with no PYTHONPATH: the job's
    Python parse stage still finds the package on the workers."""
    script = tmp_path / "job.py"
    script.write_text(
        f"""
import csv, sys
sys.path.insert(0, {str(ROOT)!r})
from hpv_etl_code_spark.plans import hpv_fixture
from hpv_etl_code_spark.plans.job import JobConfig, run_hpv_job
from hpv_etl_code_spark.session import get_spark

cols, rows, a1 = hpv_fixture.FILES[0]
with open("sheet.csv", "w", newline="") as f:
    w = csv.writer(f)
    w.writerows([[a1], [], cols, *[["" if v is None else v for v in r] for r in rows]])
spark = get_spark(app_name="cwd_probe")
n = run_hpv_job(spark, JobConfig({str(tmp_path / "*.csv")!r}, {str(tmp_path / "out")!r},
                                 hpv_fixture.EXTRACT_DATE))
print("ROWS", n)
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS " in proc.stdout and int(proc.stdout.split("ROWS ")[1]) > 0
