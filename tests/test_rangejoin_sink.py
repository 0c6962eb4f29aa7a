"""Range-join semantics vs naive join; dynamic partition overwrite."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from hpv_etl_code_spark.operators.rangejoin import proximity_self_join
from hpv_etl_code_spark.sources.registry import load_table
from hpv_etl_code_spark.sources.sinks import overwrite_parquet


def test_proximity_join_equals_naive(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    banded = proximity_self_join(ev, "user_id", "ts", "event_id", 600)
    a, b = ev.alias("a"), ev.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (
                F.abs(
                    F.unix_timestamp(F.col("a.ts")) - F.unix_timestamp(F.col("b.ts"))
                )
                <= 600
            ),
        )
        .select(F.col("a.event_id").alias("id_a"), F.col("b.event_id").alias("id_b"))
    )
    got = {(r.id_a, r.id_b) for r in banded.collect()}
    want = {(r.id_a, r.id_b) for r in naive.collect()}
    assert got == want and got, "banded range join must equal the naive join"


def test_proximity_join_pairs_unique_without_dedup(spark, sf_dir):
    """±1-bucket replication on one side yields each qualifying pair
    exactly once (a's single bucket matches exactly one of b's three
    distinct replicas; id_a < id_b kills the mirror) — which is why the
    operator carries no dropDuplicates and no second shuffle."""
    ev = load_table(spark, sf_dir, "events")
    banded = proximity_self_join(ev, "user_id", "ts", "event_id", 600)
    total = banded.count()
    distinct = banded.select("id_a", "id_b").distinct().count()
    assert total == distinct and total > 0


def test_proximity_join_single_exchange_per_side(spark, sf_dir):
    """Plan shape: one hash-partitioning exchange per join side (the
    equi-join on (k, bucket)) and nothing else — no extra pair-dedup
    exchange, no nested-loop/cartesian fallback."""
    ev = load_table(spark, sf_dir, "events")
    plan = (
        proximity_self_join(ev, "user_id", "ts", "event_id", 600)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 2, plan


def test_dynamic_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "partitioned")
    df1 = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "2024-01-02")], ["v", "day"]
    )
    overwrite_parquet(df1, path, partition_by=["day"])
    # overwrite ONLY the 01-02 partition; 01-01 must survive
    df2 = spark.createDataFrame([(99, "2024-01-02")], ["v", "day"])
    # the return value counts the rows this write produced, not the table
    assert overwrite_parquet(df2, path, partition_by=["day"], dynamic=True) == 1
    # partition columns are type-inferred on read ("day" becomes DATE)
    got = {(r.v, str(r.day)) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "2024-01-01"), (99, "2024-01-02")}
