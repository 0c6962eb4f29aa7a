"""The stage-artifact cache: every strategy materializes
the same rows; parquet truncates lineage to a durable scan; names never
alias across different content. The strategy comes from the deployment
(``stage_storage``); tests pick one by patching that function."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hpv_etl_code_spark.plans import artifacts
from hpv_etl_code_spark.plans.artifacts import stage_artifact, stage_storage


@pytest.fixture(autouse=True)
def _clean_artifact_cache():
    artifacts.clear_cache()
    yield
    artifacts.clear_cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def use_storage(monkeypatch):
    """Stage with the given strategy, as the deployment would pick it."""

    def use(storage):
        monkeypatch.setattr(artifacts, "stage_storage", lambda spark: storage)

    return use


def test_strategies_are_result_equivalent(spark, use_storage):
    df = spark.range(100).select(
        "id", (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    base = _rows(df)
    for storage in ("memory", "checkpoint", "parquet"):
        use_storage(storage)
        artifacts.clear_cache()
        assert _rows(stage_artifact(df, "eq_test")) == base, storage


def test_checkpoint_truncates_lineage(spark, use_storage):
    """The round-9 default strategy must return a LEAF logical plan —
    the whole point is that downstream references stop re-optimizing
    the frame's full lineage (guide §3.3/§7.3)."""
    df = spark.range(50).select("id", (F.col("id") * 2).alias("v"))
    use_storage("checkpoint")
    out = stage_artifact(df, "ckpt_lineage_test")
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan
    assert "Range" not in plan, f"lineage not truncated: {plan}"


def test_parquet_truncates_lineage(spark, use_storage):
    use_storage("parquet")
    df = spark.range(50).groupBy((F.col("id") % 5).alias("k")).count()
    out = stage_artifact(df, "lineage_test")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the read-back frame is a bare parquet scan — no aggregate lineage
    assert "parquet" in plan.lower()
    assert "HashAggregate" not in plan


def test_same_name_different_content_never_aliases(spark, use_storage):
    a = spark.range(10).select(F.lit("a").alias("tag"), "id")
    b = spark.range(10).select(F.lit("b").alias("tag"), "id")
    for storage in ("memory", "parquet"):
        use_storage(storage)
        artifacts.clear_cache()
        got_a = stage_artifact(a, "alias_test")
        got_b = stage_artifact(b, "alias_test")
        assert {r.tag for r in got_a.collect()} == {"a"}
        assert {r.tag for r in got_b.collect()} == {"b"}


def test_repeated_calls_return_cached_frame(spark, use_storage):
    use_storage("memory")
    df = spark.range(10)
    first = stage_artifact(df, "cache_test")
    second = stage_artifact(df, "cache_test")
    assert first is second


def test_rebuilt_plan_hits_the_cache(spark, sf_dir, use_storage):
    """Spark assigns fresh expression IDs each time a plan is built —
    the fingerprint must normalize them, or every re-built (identical)
    plan misses the cache and re-derives the artifact at full cost
    (the r6 sf1 sweep caught exactly this on the components artifact).
    Uses a FILE-BACKED frame — its semanticHash is rebuild-stable
    (local relations over-distinguish and simply miss, which is safe)."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.sources.registry import load_table

    def build():
        return (
            load_table(spark, sf_dir, "orders")
            .select((F.col("o_orderkey") % 4).alias("k"))
            .groupBy("k")
            .count()
        )

    use_storage("memory")
    first = stage_artifact(build(), "rebuild_test")
    second = stage_artifact(build(), "rebuild_test")
    assert first is second


def test_invalid_inputs_raise(spark):
    """The name check runs for every strategy and both entry points."""
    df = spark.range(1)
    with pytest.raises(ValueError, match="filesystem-safe"):
        stage_artifact(df, "../escape")
    with pytest.raises(ValueError, match="filesystem-safe"):
        artifacts.stage_artifact_from(spark, lambda: df, "../escape", "ck")


def test_default_storage_is_deploy_mode_aware(spark, monkeypatch):
    """A local master stages with checkpoint
    (single JVM — plan truncation is pure win), a CLUSTER master with
    parquet (localCheckpoint blocks are unrecoverable on executor loss,
    so a real cluster must stage durably) when a shared artifact dir is
    set, else with memory."""

    class _Ctx:
        def __init__(self, master):
            self.master = master

    class _Stub:
        def __init__(self, master):
            self.sparkContext = _Ctx(master)

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", "/shared/artifacts")
    assert stage_storage(_Stub("local[32]")) == "checkpoint"
    assert stage_storage(_Stub("local[*]")) == "checkpoint"
    assert stage_storage(_Stub("local")) == "checkpoint"
    assert stage_storage(_Stub("spark://host:7077")) == "parquet"
    assert stage_storage(_Stub("yarn")) == "parquet"
    assert stage_storage(_Stub("k8s://https://host:443")) == "parquet"
    # a local-cluster master runs separate executor JVMs: cluster branch
    assert stage_storage(_Stub("local-cluster[2,1,1024]")) == "parquet"
    assert stage_storage(spark) == "checkpoint"  # the test session is local
    # no shared artifact dir: parquet would land in a node-local tempdir
    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR")
    assert stage_storage(_Stub("yarn")) == "memory"
    assert stage_storage(_Stub("local-cluster[2,1,1024]")) == "memory"
    assert stage_storage(_Stub("local[4]")) == "checkpoint"


def test_cache_key_includes_resolved_storage(spark, use_storage):
    """Changing the strategy mid-session must stage a new frame, not
    serve the one materialized under the old strategy."""
    df = spark.range(5).withColumn("v", F.col("id") * 7)
    use_storage("memory")
    persisted = stage_artifact(df, "storage_key")
    use_storage("checkpoint")
    checkpointed = stage_artifact(df, "storage_key")
    assert checkpointed is not persisted
    assert "InMemoryTableScan" in persisted._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in checkpointed._jdf.queryExecution().executedPlan().toString()
    assert stage_artifact(df, "storage_key") is checkpointed


def test_clear_cache_keeps_checkpoint_blocks_alive_for_holders(
    spark, use_storage
):
    """ADVICE r9 follow-up, resolved the OTHER way in round 10:
    clear_cache must NOT eagerly destroy checkpoint blocks — a
    checkpoint frame has no lineage, so any surviving holder (a caller
    still holding a frame it was handed) would fail its next job instead
    of recomputing. Reclamation belongs to GC + ContextCleaner, which
    free the blocks exactly when no frame can read them."""
    df = spark.range(1000).select("id", (F.col("id") * 2).alias("v"))
    use_storage("checkpoint")
    out = stage_artifact(df, "ckpt_free_test")
    n = out.count()
    artifacts.clear_cache()
    # the surviving holder must still be fully readable
    assert out.count() == n


def test_basket_rules_storage_equivalence(spark, sf_dir, use_storage):
    """VERDICT r5 #7 done-criterion: the durable-parquet form of the
    basket stage produces byte-identical rules to the in-memory form
    (the former localCheckpoint path)."""
    from hpv_etl_code_spark.plans.mining_queries import market_basket_rules

    use_storage("memory")
    mem = _rows(market_basket_rules(spark, sf_dir))
    artifacts.clear_cache()
    use_storage("parquet")
    pq = _rows(market_basket_rules(spark, sf_dir))
    assert pq == mem


def test_shared_cache_parquet_equivalence(spark, sf_dir, use_storage):
    """The shared corpus cache built through parquet artifacts yields
    the same enriched frame as the memory path."""
    from hpv_etl_code_spark.plans import shared_cache

    def enriched_rows():
        shared_cache.clear_cache()
        return _rows(
            shared_cache.enriched_documents(spark, sf_dir)
            .select("doc_id", "quality", "n_tokens", "fingerprint", "gkey")
        )

    try:
        use_storage("memory")
        mem = enriched_rows()
        use_storage("parquet")
        assert enriched_rows() == mem
    finally:
        shared_cache.clear_cache()


def test_same_shape_different_source_never_aliases(spark, tmp_path, use_storage):
    """Identical plan SHAPE over different source directories must
    fingerprint apart — the analyzed plan text elides parquet paths, so
    data identity rides on semanticHash (r6: the empty-table suite was
    served a previous run's cached baskets; r7: ditto through
    CacheManager substitution, see the sibling test below)."""
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(5).selectExpr("id AS k").write.parquet(a_dir)
    spark.range(9).selectExpr("id AS k").write.parquet(b_dir)

    def build(d):
        return spark.read.parquet(d).groupBy().count()

    use_storage("memory")
    got_a = stage_artifact(build(a_dir), "src_alias_test")
    got_b = stage_artifact(build(b_dir), "src_alias_test")
    assert got_a.first()[0] == 5
    assert got_b.first()[0] == 9


def test_concurrent_staging_builds_once(spark, use_storage):
    """VERDICT r6 #4: two threads staging the same artifact must not
    double-build — the per-key lock serializes build-and-insert."""
    import threading

    from hpv_etl_code_spark.plans.artifacts import stage_artifact_from

    calls = []

    def builder():
        calls.append(1)
        return spark.range(1000).select(
            "id", F.md5(F.col("id").cast("string")).alias("h")
        )

    use_storage("memory")
    results = [None] * 8
    def work(i):
        results[i] = stage_artifact_from(spark, builder, "conc_test", "ck1")

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1, f"builder ran {len(calls)} times"
    base = _rows(results[0])
    assert all(_rows(r) == base for r in results[1:])


def test_frames_without_file_provenance_never_alias(spark, use_storage):
    """Stale-serve regression guard: two DIFFERENT local-relation
    frames staged under the same name must never serve each other's
    rows — they have no inputFiles(), so data identity must come from
    semanticHash (which distinguishes local-relation contents)."""
    a = spark.createDataFrame([(1, "a")], "id INT, tag STRING")
    b = spark.createDataFrame([(2, "b")], "id INT, tag STRING")
    for storage in ("memory", "parquet"):
        use_storage(storage)
        artifacts.clear_cache()
        got_a = stage_artifact(a, "nofiles_test")
        got_b = stage_artifact(b, "nofiles_test")
        assert {r.tag for r in got_a.collect()} == {"a"}
        assert {r.tag for r in got_b.collect()} == {"b"}


def test_cache_substitution_never_aliases_across_directories(
    spark, sf_dir, tmp_path, use_storage
):
    """Round-7 regression (the full-suite market_basket_rules stale
    serve): persist a subplan, then stage the SAME-SHAPE pipeline over
    a DIFFERENT directory under the same artifact name. inputFiles()
    returns [] after CacheManager substitution, so a files-based
    fingerprint collides — the semanticHash-based one must not."""
    import os

    from pyspark.sql import functions as F

    from hpv_etl_code_spark.sources.registry import load_table

    empty = str(tmp_path / "alias_sf")
    os.makedirs(empty)
    load_table(spark, sf_dir, "orders").limit(0).write.parquet(
        os.path.join(empty, "orders.parquet")
    )

    def build(d):
        return (
            load_table(spark, d, "orders")
            .select((F.col("o_orderkey") % 4).alias("k"))
            .groupBy("k")
            .count()
        )

    # persist the small-side subplan so rebuilt twins lose inputFiles()
    pinned = build(sf_dir).persist()
    pinned.count()
    try:
        assert build(sf_dir).inputFiles() == []  # substitution in effect
        use_storage("memory")
        got_small = stage_artifact(build(sf_dir), "subst_test")
        got_empty = stage_artifact(build(empty), "subst_test")
        assert got_small.count() > 0
        assert got_empty.count() == 0, "stale artifact served across dirs"
    finally:
        pinned.unpersist()


def test_write_once_needs_shared_dir_on_a_cluster(spark, monkeypatch, tmp_path):
    """Executors of a cluster master cannot write a copy that is read
    back into node-local tempdirs: without a shared artifact dir
    write_once refuses and names the variable; with one it writes under
    ``<dir>/<appId>/<name>_<digest>`` exactly once."""

    class _Ctx:
        master = "spark://host:7077"
        applicationId = "app-cluster"
        # the _SUCCESS check goes through a real Hadoop FileSystem
        _jvm = spark.sparkContext._jvm
        _jsc = spark.sparkContext._jsc

    class _Stub:
        sparkContext = _Ctx()

    writes = []

    def write(path):
        writes.append(path)
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    monkeypatch.delenv("SPARK_GRAFT_ARTIFACT_DIR", raising=False)
    with pytest.raises(ValueError, match="SPARK_GRAFT_ARTIFACT_DIR"):
        artifacts.write_once(_Stub(), "replay", "ck", write)
    assert writes == []
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    path = artifacts.write_once(_Stub(), "replay", "ck", write)
    assert artifacts.write_once(_Stub(), "replay", "ck", write) == path
    assert writes == [path]
    assert path.startswith(str(tmp_path / "app-cluster" / "replay_"))


def test_write_once_sees_success_under_a_uri_dir(spark, monkeypatch, tmp_path):
    """A ``file://`` artifact dir (as an ``hdfs://``/``s3a://`` one would)
    must be recognized as already written: the second call reuses the
    copy instead of rewriting it."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", f"file://{tmp_path}")
    writes = []

    def write(path):
        writes.append(path)
        spark.range(3).write.mode("overwrite").parquet(path)

    path = artifacts.write_once(spark, "uri_replay", "ck", write)
    assert path.startswith(f"file://{tmp_path}/")
    assert artifacts.write_once(spark, "uri_replay", "ck", write) == path
    assert writes == [path]
    assert spark.read.parquet(path).count() == 3
