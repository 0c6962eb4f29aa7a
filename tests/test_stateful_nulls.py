"""Stateful stream folds against their batch twins on a NULL value, and
the no-timeout rule for late rows.

NULL fixture: one parquet file (one micro-batch), all rows on
2024-03-01. User 7: event 1 at 09:00 = 1.0, event 2 at 10:00 = NULL,
event 3 at 11:00 = 3.0. User 8: event 4 at 09:00 = 2.0, event 5 at
10:00 = 4.0. The stream's final row per key must equal the batch
twin's row: a NULL-value row is counted and follows the batch's NULL
rules, never skipped."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hpv_etl_code_spark.plans.inference_queries import cusum_segments
from hpv_etl_code_spark.plans.mining_queries import ewma_simple_fold
from hpv_etl_code_spark.plans.robust_queries import burstiness_over
from hpv_etl_code_spark.plans.timeseries_queries import holt_simple_fold
from hpv_etl_code_spark.streaming.stateful import (
    burstiness_stream,
    cusum_stream,
    ewma_stream,
    holt_stream,
)
from hpv_etl_code_spark.streaming.stream import run_to_memory_sink

_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def _write_drops(spark, root, drops) -> str:
    """One parquet file per drop in ``root/data``, with strictly
    increasing mtimes (the file source's processing order)."""
    d = os.path.join(root, "data")
    os.makedirs(d)
    for i, rows in enumerate(drops):
        out = os.path.join(root, f"drop{i}")
        spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.parquet(out)
        dest = os.path.join(d, f"{i:05d}.parquet")
        shutil.copy(glob.glob(out + "/part-*.parquet")[0], dest)
        os.utime(dest, (1_700_000_000 + i * 1000,) * 2)
    return d


def _stream(spark, d):
    return (
        spark.readStream.format("parquet")
        .schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )


@pytest.fixture(scope="module")
def null_dir(spark, tmp_path_factory):
    def at(h):
        return dt.datetime(2024, 3, 1, h)

    rows = [
        (1, 7, "click", at(9), 1.0),
        (2, 7, "click", at(10), None),
        (3, 7, "click", at(11), 3.0),
        (4, 8, "click", at(9), 2.0),
        (5, 8, "click", at(10), 4.0),
    ]
    return _write_drops(spark, str(tmp_path_factory.mktemp("nulls")), [rows])


def _cents(ev):
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )


# name → (stream operator, batch twin over the same rows); the cusum
# reference level is the batch's own k = sum(cents) DIV count(*) = 200
CASES = {
    "ewma": (ewma_stream, ewma_simple_fold),
    "holt": (holt_stream, holt_simple_fold),
    "cusum": (
        lambda s: cusum_stream(s, k=200, h_mult=8),
        lambda ev: cusum_segments(_cents(ev)),
    ),
    "burstiness": (burstiness_stream, burstiness_over),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_null_value_matches_batch_twin(spark, null_dir, name):
    stream_op, batch_op = CASES[name]
    sink = f"stateful_nulls_{name}"
    run_to_memory_sink(stream_op(_stream(spark, null_dir)), sink, output_mode="update")
    got = {tuple(r) for r in spark.sql(f"SELECT * FROM {sink}").collect()}
    want = {tuple(r) for r in batch_op(spark.read.parquet(null_dir)).collect()}
    assert got, "stream must emit"
    assert got == want


def test_no_timeout_fold_keeps_late_rows(spark, tmp_path):
    """A no-timeout fold folds a row behind the watermark: Spark drops
    late rows for ``applyInPandasWithState`` only under an event-time
    timeout, which is why the no-timeout operators take no watermark."""
    first = [
        (1, 7, "click", dt.datetime(2024, 3, 5, 9), 1.0),
        (2, 8, "click", dt.datetime(2024, 3, 5, 9), 2.0),
    ]
    late = [(3, 7, "click", dt.datetime(2024, 3, 1, 9), 5.0)]  # 4 days behind
    d = _write_drops(spark, str(tmp_path), [first, late])
    stream = _stream(spark, d).withWatermark("ts", "1 second")
    run_to_memory_sink(ewma_stream(stream), "stateful_late_ewma", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.ewma_value, r.last_value)
        for r in spark.sql(
            "SELECT user_id, max_by(struct(n_events, ewma_value, last_value), n_events) r"
            " FROM stateful_late_ewma GROUP BY user_id"
        ).select("user_id", "r.*").collect()
    }
    assert got == {7: (2, 1.8, 5.0), 8: (1, 2.0, 2.0)}
