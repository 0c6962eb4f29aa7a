"""The benchmark's workloads: inputs, one op, its checks, and the traced
layer probes.

Every workload is driven by one closed-loop client: the next op starts
when the previous one has returned. An op raises :class:`WrongOutput`
when its result's row count disagrees with the expected one. The full
value checks (:meth:`Workload.verify`) run as the first warm-up op,
outside the timed window.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import statistics

import checks
import gen_sheets
import gen_tables

EXTRACT_DATE = dt.date(2026, 1, 15)
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

OLAP_QUERIES = (
    "pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "cube_pricing_rollup",
    "join_fact_fact",
    "window_topk_per_group",
    "range_join_events",
    "asof_join_signup",
    "stream_session_windows",
)
CORPUS_QUERIES = (
    "llm_corpus_pipeline",
    "dedup_minhash_lsh",
    "dedup_incremental_fast",
    "dup_passage_spans",
)
# The xxhash64 entries have no oracle; their outputs on the fixed corpus
# (gen_tables.write_corpus) are pinned: (rows, checks.spark_digest).
# dup_passage_spans is checked against its DuckDB oracle instead.
CORPUS_PINNED = {
    "llm_corpus_pipeline": (2060, "562784958138074574825"),
    "dedup_minhash_lsh": (2704754, "14492096525066129978456"),
    "dedup_incremental_fast": (256, "-146727992215467922663"),
}
SHARED_CACHE_CALLS = (
    "pipeline_exact_deduped",
    "pipeline_grouped",
    "grouped_corpus",
    "incremental_grouped",
)


class WrongOutput(Exception):
    pass


def _expect_rows(name: str, got: int, want: int) -> None:
    if got != want:
        raise WrongOutput(f"{name}: {got} rows, expected {want}")


class Workload:
    name = ""
    #: ops run before the timed window (the first one is :meth:`verify`),
    #: so JIT and caches settle
    warmup_ops = 1

    def __init__(self, work_dir: str, seed: int, trace: bool = False):
        self.work_dir = work_dir
        self.seed = seed
        self.trace = trace
        self.input_dir = os.path.join(work_dir, "inputs")

    def prepare(self) -> None:
        """Generate inputs and expected outputs (no Spark)."""
        raise NotImplementedError

    def op(self, spark, tracer=None) -> None:
        raise NotImplementedError

    def verify(self, spark) -> list[str]:
        """One op whose full output values are checked; returns the
        mismatches."""
        raise NotImplementedError

    def probe(self, spark, tracer) -> dict[str, float]:
        """Traced per-layer measurements beyond the traced ops; raises
        :class:`WrongOutput` on a wrong result."""
        return {}


# ------------------------------------------------------------------ hpv_etl


class HpvEtl(Workload):
    """``plans.job.run_hpv_job`` over seeded workbooks into a parquet
    truncate-load, one job per op."""

    name = "hpv_etl"
    # op times fall over the first ~7 ops of a fresh JVM (JIT compilation)
    warmup_ops = 5
    regions, years = 4, 10

    def prepare(self) -> None:
        self.sheets = gen_sheets.generate(self.seed, self.regions, self.years)
        sheet_dir = os.path.join(self.input_dir, "sheets")
        gen_sheets.write_workbooks(sheet_dir, self.sheets)
        self.glob = os.path.join(sheet_dir, "*.xlsx")
        self.out_path = os.path.join(self.work_dir, "hpv_out")
        self.cells = len(self.sheets) * gen_sheets.AUTHORITIES_PER_REGION * 24
        from hpv_etl_code_spark.plans.hpv_pipeline import FINAL_COLUMNS

        expected = gen_sheets.expected_output(self.sheets, EXTRACT_DATE)
        self.expected = checks.summarize(list(FINAL_COLUMNS), expected)

    def op(self, spark, tracer=None) -> None:
        from hpv_etl_code_spark.plans.job import JobConfig, run_hpv_job

        cfg = JobConfig(self.glob, self.out_path, EXTRACT_DATE)
        _expect_rows(self.name, run_hpv_job(spark, cfg), self.expected.rows)

    def verify(self, spark) -> list[str]:
        self.op(spark)
        got = checks.summarize_spark(spark.read.parquet(self.out_path))
        return [] if got == self.expected else [f"hpv_etl output {got} != model {self.expected}"]

    def probe(self, spark, tracer) -> dict[str, float]:
        """Each layer of the job on its own, three times; medians."""
        from hpv_etl_code_spark.plans.job import melted_to_final
        from hpv_etl_code_spark.plans.profile import execute_and_profile, materialize
        from hpv_etl_code_spark.sources.sheets import read_sheets_excel
        from hpv_etl_code_spark.sources.sinks import overwrite_parquet

        runs: dict[str, list[float]] = {}

        def add(k, v):
            runs.setdefault(k, []).append(float(v))

        sink_path = os.path.join(self.work_dir, "hpv_probe_out")
        for _ in range(3):
            with tracer.span("sources.sheets.discover") as s:
                melted = read_sheets_excel(spark, self.glob)
            add("sources.sheets.discover_s", s.seconds)
            add("sources.sheets.discover_tasks", s.stages.get("tasks", 0))
            with tracer.span("sources.sheets.parse") as s:
                n = materialize(melted)
            _expect_rows("melted", n, self.cells)
            add("sources.sheets.parse_s", s.seconds)
            add("sources.sheets.cells_per_s", n / s.seconds)
            add("sources.sheets.jvm_cpu_share",
                s.stages.get("cpu_ns", 0) / 1e6 / max(s.stages.get("run_ms", 0), 1))

            melted_in = melted.localCheckpoint(eager=True)
            with tracer.span("plans.hpv_pipeline.plan") as s:
                final = melted_to_final(melted_in, EXTRACT_DATE)
                final._jdf.queryExecution().executedPlan()
            add("plans.hpv_pipeline.plan_s", s.seconds)
            with tracer.span("plans.hpv_pipeline.exec") as s:
                prof = execute_and_profile(final)
            _expect_rows("final", prof.rows, self.expected.rows)
            add("plans.hpv_pipeline.exec_s", s.seconds)
            add("plans.hpv_pipeline.shuffle_bytes", prof.shuffle_bytes)
            add("plans.hpv_pipeline.exchanges", prof.n_exchanges)

            final_in = final.localCheckpoint(eager=True)
            with tracer.span("sources.sinks.write") as s:
                n = overwrite_parquet(final_in, sink_path)
            _expect_rows("sink", n, self.expected.rows)
            parts = glob.glob(os.path.join(sink_path, "part-*"))
            add("sources.sinks.write_s", s.seconds)
            add("sources.sinks.files_written", len(parts))
            add("sources.sinks.bytes_per_row", sum(map(os.path.getsize, parts)) / n)
            melted_in.unpersist()
            final_in.unpersist()
        return {k: statistics.median(v) for k, v in runs.items()}


# ------------------------------------------------------- catalog workloads


class CatalogPass(Workload):
    """One op is one pass over a fixed list of catalog entries, each fully
    executed with ``plans.profile.materialize``. Each entry's output is
    checked against its DuckDB oracle, or against a pinned digest."""

    tables: tuple[str, ...] = ()
    sf = 0.0
    entries: tuple[str, ...] = ()
    #: entry name -> (rows, checks.spark_digest) of its expected output
    pinned: dict[str, tuple[int, str]] = {}

    def write_inputs(self) -> None:
        gen_tables.write_tables(self.input_dir, self.seed, self.sf, self.tables)

    def prepare(self) -> None:
        self.write_inputs()
        from hpv_etl_code_spark import catalog

        self.fns = catalog.queries()
        sqls = catalog.oracle_sql()
        self.expected = checks.duckdb_summaries(
            self.input_dir,
            self.tables,
            {name: sqls[name] for name in self.entries if name not in self.pinned},
        )
        self.rows = {name: self.expected[name].rows for name in self.expected}
        self.rows.update({name: rows for name, (rows, _) in self.pinned.items()})

    def start_pass(self) -> None:
        pass

    def op(self, spark, tracer=None) -> None:
        from hpv_etl_code_spark.plans.profile import materialize

        self.start_pass()
        for name in self.entries:
            fn = self.fns[name]
            if tracer is None:
                n = materialize(fn(spark, self.input_dir))
            else:
                with tracer.span(f"plans.{name}.plan"):
                    df = fn(spark, self.input_dir)
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"plans.{name}.exec"):
                    n = materialize(df)
            _expect_rows(name, n, self.rows[name])

    def verify(self, spark) -> list[str]:
        bad = []
        self.start_pass()
        for name in self.entries:
            df = self.fns[name](spark, self.input_dir)
            if name in self.pinned:
                got, want = checks.spark_digest(df), self.pinned[name]
            else:
                got, want = checks.summarize_spark(df), self.expected[name]
            if got != want:
                bad.append(f"{name}: {got} != expected {want}")
        return bad


class CorpusDedup(CatalogPass):
    """LLM-corpus dedup entries sharing session-cached artifacts; each pass
    starts from cleared caches, as a batch with several downstream jobs.

    Not an end-to-end workload: a run of it would not fit the benchmark's
    time budget at a steady length. Its layers are measured in the traced
    run of ``olap_mix`` (:meth:`OlapMix.probe`)."""

    name = "corpus_dedup"
    tables = ("documents",)
    entries = CORPUS_QUERIES
    pinned = CORPUS_PINNED

    def write_inputs(self) -> None:
        gen_tables.write_corpus(self.input_dir)

    def start_pass(self) -> None:
        from hpv_etl_code_spark.plans import artifacts, shared_cache

        shared_cache.clear_cache()
        artifacts.clear_cache()

    def probe(self, spark, tracer) -> dict[str, float]:
        """A checked cold pass, a traced pass, the memory and disk its
        artifacts hold, then the shared-cache calls on a cleared cache
        and the same calls warm (three times; medians)."""
        from hpv_etl_code_spark.plans import shared_cache

        mismatches = self.verify(spark)
        if mismatches:
            raise WrongOutput("; ".join(mismatches))
        self.op(spark, tracer)
        held = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        m = {"plans.artifacts.cached_mb": sum(i.memSize() + i.diskSize() for i in held) / 2**20}
        build, hit = [], []
        for _ in range(3):
            self.start_pass()
            for timings in (build, hit):
                with tracer.span("plans.shared_cache.calls") as s:
                    for fn in SHARED_CACHE_CALLS:
                        getattr(shared_cache, fn)(spark, self.input_dir)
                timings.append(s.seconds)
        m["plans.shared_cache.build_s"] = statistics.median(build)
        m["plans.shared_cache.hit_s"] = statistics.median(hit)
        return m


class OlapMix(CatalogPass):
    """Read-only analyst queries over the seeded star schema. Its traced
    run also measures the corpus-dedup layers."""

    name = "olap_mix"
    tables = STAR_TABLES
    sf = 0.1
    entries = OLAP_QUERIES

    def prepare(self) -> None:
        super().prepare()
        if self.trace:
            self.corpus = CorpusDedup(os.path.join(self.work_dir, "corpus"), self.seed)
            self.corpus.prepare()

    def probe(self, spark, tracer) -> dict[str, float]:
        return self.corpus.probe(spark, tracer)


WORKLOADS = {w.name: w for w in (HpvEtl, OlapMix)}
