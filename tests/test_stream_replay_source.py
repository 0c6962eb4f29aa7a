"""The shared streaming replay source (VERDICT r6 #4): all streaming-
execution catalog entries consume ONE 4-file parquet copy of events per
(session, sf_dir) — one write total, md5-keyed (portable), and the
entries still match their batch twins (their oracles hash-check that in
the catalog mirror; here we pin the single-write invariant)."""

from __future__ import annotations

import os

import pytest

from hpv_etl_code_spark import catalog
from hpv_etl_code_spark.plans.artifacts import write_once


def _no_rewrite(path):
    pytest.fail(f"replay source rewritten at {path}")


def test_one_replay_write_per_session(spark, sf_dir):
    es = catalog.entries()

    es["ab_stats_stream"].fn(spark, sf_dir).collect()
    # the copy exists, so write_once hands back its path without writing
    src = write_once(spark, "events_replay", sf_dir, _no_rewrite)
    marker = os.path.join(src, "_SUCCESS")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(marker)

    es["bottomk_quantile_stream"].fn(spark, sf_dir).collect()
    es["cuped_stream"].fn(spark, sf_dir).collect()
    assert os.path.getmtime(marker) == mtime, "replay source rewritten"

    # and no per-entry copies exist anymore (the round-6 layout)
    scratch = os.path.dirname(src)
    stale = [
        d for d in os.listdir(scratch)
        if d.startswith(("ab_stream_src_", "cuped_stream_src_",
                         "bottomk_stream_src_"))
    ]
    assert stale == [], stale
