"""Event-time sessionization (applyInPandasWithState + EventTimeTimeout):
closed sessions emitted by the stream must exactly match the batch
session_window result for every session the watermark had time to close."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hpv_etl_code_spark.sources.registry import load_table
from hpv_etl_code_spark.streaming.stateful import sessionize_stream
from hpv_etl_code_spark.streaming.stream import run_to_memory_sink
from hpv_etl_code_spark.streaming.windows import session_windows




def test_sessionizer_matches_batch_session_window(spark, ordered_stream_dir):
    schema = spark.read.parquet(ordered_stream_dir).schema
    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .load(ordered_stream_dir)
    )
    out = sessionize_stream(stream, gap="4 hours", watermark="1 hour")
    run_to_memory_sink(out, "sessions_stateful", output_mode="append")
    got = {
        (r.user_id, str(r.session_start)): (r.n_events, round(r.sum_value, 4))
        for r in spark.sql("SELECT * FROM sessions_stateful").collect()
    }
    assert got, "stream must emit closed sessions"

    batch = {
        (r.user_id, str(r.session_start)): (r.n_events, round(float(r.sum_value), 4))
        for r in session_windows(
            spark.read.parquet(ordered_stream_dir), gap="4 hours"
        ).collect()
    }
    # every emitted session must be a real batch session, byte-identical
    for k, v in got.items():
        assert batch[k] == v, f"session {k}: stream={v} batch={batch[k]}"
    # and the stream must have closed the overwhelming majority (only
    # sessions still open at the final watermark may be missing)
    assert len(got) >= 0.8 * len(batch), (len(got), len(batch))


def test_gap_string_parses_to_seconds():
    from hpv_etl_code_spark.streaming.stateful import _parse_gap

    assert _parse_gap("30 minutes") == 1800
    assert _parse_gap("4 hours") == 4 * 3600
    assert _parse_gap("1 day") == 86400
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _parse_gap("4h")
