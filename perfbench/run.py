"""Repository benchmark: one closed-loop client driving one workload.

Usage (from the repository root)::

    python3 perfbench/run.py --workload hpv_etl --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``hpv_etl`` and ``olap_mix``; the
traced run of ``olap_mix`` also measures the corpus-dedup layers. Inputs
are generated from ``--seed`` under ``.perfbench_work/`` and removed
afterwards. Spark runs ``local[N]`` with N the number of usable cores.

A run sets up (inputs, expected outputs, Spark session, warm-up ops; the
first warm-up op also checks the full output values), then runs ops back
to back for ``--seconds``, checking each op's row count. With
``--trace 0`` it reports the end-to-end metrics. With ``--trace 1`` every
second op of the window runs traced; it reports the per-layer metrics
from the traced ops and the layer probes, and the tracing overhead (the
median of each traced op's time minus the mean of its untraced
neighbours).

Human-readable lines come first; the last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)
from workloads import CORPUS_QUERIES, OLAP_QUERIES, WORKLOADS  # noqa: E402


def _layer_metric_specs() -> dict[str, tuple[str, str]]:
    """Per-layer metric -> (unit, the end-to-end metric it should move)."""
    hpv = "hpv_etl op_p50_s, ops_per_s"
    specs = {
        "session.start_s": ("s", "setup_s on every workload"),
        "sources.sheets.discover_s": ("s", hpv),
        "sources.sheets.discover_tasks": ("count", hpv),
        "sources.sheets.parse_s": ("s", hpv),
        "sources.sheets.cells_per_s": ("1/s", hpv),
        "sources.sheets.jvm_cpu_share": ("ratio", hpv),
        "plans.hpv_pipeline.plan_s": ("s", "hpv_etl op_p50_s"),
        "plans.hpv_pipeline.exec_s": ("s", "hpv_etl op_p50_s"),
        "plans.hpv_pipeline.shuffle_bytes": ("bytes", "hpv_etl op_p50_s"),
        "plans.hpv_pipeline.exchanges": ("count", "hpv_etl op_p50_s"),
        "sources.sinks.write_s": ("s", "hpv_etl op_p50_s"),
        "sources.sinks.files_written": ("count", "hpv_etl op_p50_s"),
        "sources.sinks.bytes_per_row": ("bytes", "output size only; not olap_mix"),
    }
    for moves, names in (
        ("olap_mix op_p50_s, ops_per_s", OLAP_QUERIES),
        ("no end-to-end run: corpus passes run in traced olap_mix only", CORPUS_QUERIES),
    ):
        for q in names:
            specs[f"plans.{q}.plan_s"] = ("s", moves)
            specs[f"plans.{q}.exec_s"] = ("s", moves)
            specs[f"plans.{q}.spark_jobs"] = ("count", moves)
            specs[f"plans.{q}.shuffle_bytes"] = ("bytes", moves)
    specs.update(
        {
            "plans.shared_cache.build_s": ("s", "corpus passes (traced olap_mix); 0 on hpv_etl"),
            "plans.shared_cache.hit_s": ("s", "corpus passes (traced olap_mix); 0 on hpv_etl"),
            "plans.artifacts.cached_mb": ("MB", "run.peak_rss_mb of traced olap_mix"),
            "run.cpu_util": ("ratio", "ops_per_s (serial planning phases show low)"),
            "run.gc_s": ("s", "op_p50_s (per traced op)"),
            "run.tasks": ("count", "op_p50_s (per traced op)"),
            "run.spill_bytes": ("bytes", "op_p50_s (per traced op)"),
            "run.steal_pct": ("%", "diagnostic only"),
            "run.peak_rss_mb": ("MB", "memory traded for time by caching changes"),
            "trace.overhead_s": ("s", "none: traced op minus the mean of its untraced neighbours"),
        }
    )
    return specs


LAYER_METRICS = _layer_metric_specs()
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "ok_ratio": "ratio",
}


class ProcStat:
    """CPU shares over a window, from the first line of /proc/stat."""

    def __init__(self):
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def shares(self) -> tuple[float, float]:
        d = [b - a for a, b in zip(self.start, self._read())]
        total = max(sum(d[:8]), 1)
        user_sys = d[0] + d[1] + d[2]
        return user_sys / total, 100.0 * d[7] / total


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _percentile_report(durations: list[float]) -> str:
    n = len(durations)
    cands = [p for p in (50, 75, 90, 95, 99, 99.9) if n * (1 - p / 100) >= 10]
    if not cands:
        return f"no percentile has 10 samples beyond it (n={n})"
    p = cands[-1]
    v = statistics.quantiles(durations, n=1000)[int(p * 10) - 1]
    return f"p{p}={v:.4f} s (n={n}, {int(n * (1 - p / 100))} beyond)"


def _timed_window(spark, wl, seconds: float, tracer=None):
    """Run ops back to back for ``seconds``. With a tracer, every second op
    runs traced, and the window starts and ends with an untraced op, so each
    traced op has an untraced op on either side. Returns (untraced
    durations, traced durations, wall, failures)."""
    durations: list[float] = []
    traced: list[float] = []
    failed = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or (
        tracer is not None and len(durations) <= len(traced)
    ):
        on = tracer is not None and len(durations) > len(traced)
        t = time.perf_counter()
        try:
            if on:
                tracer.op = len(traced)
                try:
                    with tracer.span(f"{wl.name}.op"):
                        wl.op(spark, tracer)
                finally:
                    tracer.op = None
            else:
                wl.op(spark)
        except Exception:
            failed += 1
            traceback.print_exc()
        (traced if on else durations).append(time.perf_counter() - t)
    return durations, traced, time.perf_counter() - t0, failed


def _start_spark(get_spark, work_dir: str):
    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # no hsperfdata files outside the work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _layer_metrics(spark, wl, tracer) -> dict[str, float]:
    """Per-layer metrics from the traced ops' spans plus the layer probes."""
    ops = [s for s in tracer.spans if s.name == f"{wl.name}.op"]
    m = {k: 0.0 for k in LAYER_METRICS}
    # per traced op: the number of ops in the window depends on their speed
    m["run.gc_s"] = sum(s.stages.get("gc_ms", 0) for s in ops) / 1000.0 / len(ops)
    m["run.tasks"] = sum(s.stages.get("tasks", 0) for s in ops) / len(ops)
    m["run.spill_bytes"] = sum(
        s.stages.get("spill_mem", 0) + s.stages.get("spill_disk", 0) for s in ops
    ) / len(ops)
    m.update(wl.probe(spark, tracer))
    for q in [*OLAP_QUERIES, *CORPUS_QUERIES]:
        plans = [s for s in tracer.spans if s.name == f"plans.{q}.plan"]
        execs = [s for s in tracer.spans if s.name == f"plans.{q}.exec"]
        if not plans:
            continue
        m[f"plans.{q}.plan_s"] = statistics.median(s.seconds for s in plans)
        m[f"plans.{q}.exec_s"] = statistics.median(s.seconds for s in execs)
        m[f"plans.{q}.spark_jobs"] = len(plans[-1].jobs) + len(execs[-1].jobs)
        m[f"plans.{q}.shuffle_bytes"] = (
            plans[-1].stages.get("shuffle_bytes", 0) + execs[-1].stages.get("shuffle_bytes", 0)
        )
    return m


def run(args, work_dir: str, report: list[str], env: dict) -> dict:
    wl = WORKLOADS[args.workload](work_dir, args.seed, trace=bool(args.trace))
    # inputs and expected outputs are made while the JVM starts; the
    # session factory is imported first so the two threads never wait on
    # each other's imports
    from hpv_etl_code_spark.session import get_spark

    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(wl.prepare)
        t = time.perf_counter()
        spark = _start_spark(get_spark, work_dir)
        session_s = time.perf_counter() - t
    env["session_start_s"] = session_s
    try:
        prepared.result()
        # the first warm-up op is also the full value check
        try:
            mismatches = wl.verify(spark)
        except Exception:
            traceback.print_exc()
            mismatches = ["the checked op raised"]
        for msg in mismatches:
            print("MISMATCH", msg, file=sys.stderr)
        warm_failed = 0
        for _ in range(wl.warmup_ops - 1):
            try:
                wl.op(spark)
            except Exception:
                warm_failed += 1
                traceback.print_exc()
        setup_s = time.perf_counter() - T_START

        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
        proc = ProcStat()
        durations, traced, wall, failed = _timed_window(spark, wl, args.seconds, tracer)
        env["cpu_util"], env["steal_pct"] = proc.shares()
        attempted = len(durations) + len(traced)
        layers = None
        if tracer is not None:
            layers = _layer_metrics(spark, wl, tracer)
            layers["session.start_s"] = session_s
            layers["run.cpu_util"], layers["run.steal_pct"] = env["cpu_util"], env["steal_pct"]
            # each traced op against the mean of its untraced neighbours, so
            # the op times' fall during the window does not bias the overhead
            overhead = statistics.median(
                t - (durations[i] + durations[i + 1]) / 2 for i, t in enumerate(traced)
            )
            layers["trace.overhead_s"] = overhead
            report.append(
                f"traced op_p50_s={statistics.median(traced):.4f} untraced op_p50_s="
                f"{statistics.median(durations):.4f} overhead={overhead:.4f} s"
            )
            # beside the work directory, which is removed at exit
            spans = os.path.join(os.path.dirname(work_dir), f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write(spans)
            report.append(f"spans: {os.path.relpath(spans, ROOT)}")
        attempted += wl.warmup_ops
        failed += bool(mismatches) + warm_failed

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss_kb = _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        env["java"] = spark._jvm.System.getProperty("java.version")
    finally:
        _stop_spark(spark)

    report.append("op seconds: " + " ".join(f"{d:.3f}" for d in durations))
    report.append(f"tail latency: {_percentile_report(durations)}")
    report.append(f"fail_ratio={failed / attempted:.4f} ({failed}/{attempted})")
    if layers is not None:
        layers["run.peak_rss_mb"] = rss_kb / 1024.0
        metrics = layers
        units = {k: u for k, (u, _) in LAYER_METRICS.items()}
        for k, (u, moves) in LAYER_METRICS.items():
            report.append(f"{k} = {metrics[k]:.6g} {u}  -> {moves}")
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(durations),
            "ops_per_s": len(durations) / wall,
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
        for k, u in units.items():
            report.append(f"{k} = {metrics[k]:.6g} {u}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hpv_etl_code_spark")):
        print("perfbench: the hpv_etl_code_spark package is not next to perfbench/", file=sys.stderr)
        return 2

    import pyspark

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(os.path.join(work_dir, "tmp"))
    nproc = len(os.sched_getaffinity(0))
    # Spark's Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    sys.path.insert(0, ROOT)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }
    report: list[str] = []
    try:
        result = run(args, work_dir, report, env)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
