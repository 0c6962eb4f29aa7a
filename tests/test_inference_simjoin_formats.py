"""Invariant tests for the round-5 session-3 entries beyond the generic
oracle mirror: OLS closed form vs numpy, entropy analytic identities,
prefix-filter completeness vs brute force, phrase-search overlapping
occurrences, and round-trip checksum sensitivity / microsecond
preservation."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from hpv_etl_code_spark.plans import (
    format_queries,
    inference_queries,
    simjoin_queries,
)
from hpv_etl_code_spark.sources.registry import load_table


# ---------------------------------------------------------------- OLS


def test_ols_matches_numpy_lstsq(spark, sf_dir):
    """The exact-decimal normal equations must agree with numpy's
    float64 least squares to well inside the 6dp output round."""
    rows = inference_queries.ols_segment_trend(spark, sf_dir).collect()
    assert rows
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    pdf = (
        orders.join(
            customer.select("c_custkey", "c_mktsegment"),
            orders.o_custkey == customer.c_custkey,
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
            ).alias("x"),
            (F.col("o_totalprice").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("y"),
        )
        .toPandas()
    )
    for r in rows:
        g = pdf[pdf.segment == r.segment]
        slope, intercept = np.polyfit(
            g.x.astype(float), g.y.astype(float), 1
        )
        assert abs(r.slope_cents_per_day - slope) < 1e-3, r.segment
        assert abs(r.intercept_cents - intercept) < 1.0, r.segment
        corr = np.corrcoef(g.x.astype(float), g.y.astype(float))[0, 1]
        assert abs(r.r2 - corr * corr) < 1e-6, r.segment
        assert r.n_orders == len(g)


def test_ols_zero_variance_regressor_yields_null(spark):
    """All-identical x → varx = 0 → slope/intercept/r2 NULL (the CASE
    guard), never a division error (Spark 4 ANSI)."""
    df = spark.createDataFrame(
        [("A", 5, 100), ("A", 5, 200), ("A", 5, 300)], "seg string, x long, y long"
    )
    g = df.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    varx_n = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    out = g.select(
        F.when(varx_n != 0, F.lit(1.0)).alias("guarded")
    ).collect()
    assert out[0].guarded is None


# ------------------------------------------------------------- entropy


def test_entropy_analytic_identities(spark):
    """Uniform distribution → H = ln(vocab) and norm_entropy = 1;
    single-token source → H = 0."""
    docs = spark.createDataFrame(
        [
            ("u", "a b c d"),  # uniform over 4 tokens
            ("s", "z z z z"),  # single token
        ],
        "source string, text string",
    )
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cd = F.col("c").cast("double")
    per = counts.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((cd * F.log(cd)).cast("decimal(20,8)")).cast("double").alias("s"),
    )
    res = {
        r.source: math.log(float(r.n)) - r.s / float(r.n)
        for r in per.collect()
    }
    # terms ride DECIMAL(20,8) → quantization bounds error at ~1e-8/term
    assert abs(res["u"] - math.log(4)) < 1e-7
    assert abs(res["s"]) < 1e-7


def test_entropy_entry_bounds(spark, sf_dir):
    """0 ≤ H ≤ ln(vocab) and norm in [0, 1] on real data."""
    for r in inference_queries.token_entropy_by_source(
        spark, sf_dir
    ).collect():
        assert 0.0 <= r.entropy <= math.log(r.vocab) + 1e-6, r
        if r.norm_entropy is not None:
            assert 0.0 <= r.norm_entropy <= 1.0 + 1e-9, r


# ------------------------------------------------------- prefix filter


def test_prefix_filter_equals_brute_force(spark, sf_dir):
    """No false negatives, no false positives: the prefix-filtered
    output must equal the quadratic all-pairs answer on the same
    sample (the PPJoin correctness theorem, checked end-to-end)."""
    out = {
        (r.src, r.dst): (r.i_size, r.u_size)
        for r in simjoin_queries.prefix_filter_jaccard_pairs(
            spark, sf_dir
        ).collect()
    }
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % simjoin_queries._PF_MOD == 0)
        .select(
            "doc_id",
            F.array_distinct(F.split("text", " ")).alias("toks"),
        )
        .filter(F.size("toks") > 0)
        .collect()
    )
    brute = {}
    for i in range(len(d)):
        for j in range(len(d)):
            a, b = d[i], d[j]
            if a.doc_id >= b.doc_id:
                continue
            inter = len(set(a.toks) & set(b.toks))
            union = len(set(a.toks) | set(b.toks))
            if simjoin_queries._TAU_DEN * inter >= (
                simjoin_queries._TAU_NUM * union
            ):
                brute[(a.doc_id, b.doc_id)] = (inter, union)
    assert out == brute
    assert brute  # non-vacuous at sf0.001


def test_prefix_filter_excludes_empty_and_subthreshold(spark):
    """Synthetic corner cases: empty docs never pair (ADVICE r4), and a
    pair sharing only rare tokens but below τ is rejected by the exact
    verification even though it IS a candidate."""
    import hpv_etl_code_spark.plans.simjoin_queries as sq
    from unittest import mock

    docs = spark.createDataFrame(
        [
            (0, ""),  # empty → excluded
            (3, "a b c d e f g h i j"),
            (6, "a b c d e f g h i j"),  # exact dup of 3 → jaccard 1
            (9, "a q r s t u v w x y"),  # shares 'a' only → 1/19 < 0.9
        ],
        "doc_id long, text string",
    )
    with mock.patch.object(sq, "load_table", lambda s, d, t: docs):
        rows = sq.prefix_filter_jaccard_pairs(spark, "ignored").collect()
    pairs = {(r.src, r.dst): r.jaccard for r in rows}
    assert pairs == {(3, 6): 1.0}


# -------------------------------------------------------- phrase search


def test_phrase_search_counts_overlapping_occurrences(spark):
    """'a a a a a' contains trigram 'a a a' three times (overlap
    counts); first_pos is the earliest start."""
    import hpv_etl_code_spark.plans.simjoin_queries as sq
    from unittest import mock

    docs = spark.createDataFrame(
        [(1, "a a a a a"), (2, "b a a a c")],
        "doc_id long, text string",
    )
    with mock.patch.object(sq, "load_table", lambda s, d, t: docs):
        rows = sq.phrase_search_docs(spark, "ignored").collect()
    got = {r.doc_id: (r.phrase, r.n_occurrences, r.first_pos) for r in rows}
    assert got == {1: ("a a a", 3, 0), 2: ("a a a", 1, 1)}


# ----------------------------------------------------------- roundtrip


def test_roundtrip_certificate_matches_parquet_direct(spark, sf_dir):
    """The certificate computed through each codec equals the
    certificate computed straight off parquet — field-level fidelity
    including the microsecond timestamp pin."""
    direct = {
        r.event_type: r
        for r in format_queries._certificate(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    for fn in (
        format_queries.roundtrip_json_events,
        format_queries.roundtrip_orc_events,
        format_queries.roundtrip_csv_events,
    ):
        got = {r.event_type: r for r in fn(spark, sf_dir).collect()}
        assert got.keys() == direct.keys(), fn.__name__
        for k in direct:
            assert got[k] == direct[k], (fn.__name__, k)


def test_roundtrip_checksum_detects_field_damage(spark, sf_dir):
    """Sensitivity: truncating timestamps to milliseconds (the Spark
    default JSON/CSV behavior the entries pin away) must shift sig_sum
    — i.e. the certificate actually catches the classic silent loss."""
    ev = load_table(spark, sf_dir, "events")
    honest = format_queries._certificate(ev).collect()
    mangled = format_queries._certificate(
        ev.withColumn(
            "ts",
            F.timestamp_micros(
                (F.unix_micros("ts") / 1000).cast("bigint") * 1000
            ),
        )
    ).collect()
    h = {r.event_type: r.sig_sum for r in honest}
    m = {r.event_type: r.sig_sum for r in mangled}
    assert h != m


# --------------------------------------------------------------- CUSUM


def test_cusum_chunk_invariance_and_reference(spark, sf_dir):
    """Integer (max,+) is associative, so the segmented fold must be
    EXACTLY invariant to chunk width — and match a sequential Python
    reference of the clamped recurrence."""
    from hpv_etl_code_spark.plans.inference_queries import cusum_segments

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint").alias("cents"),
    )
    base = {
        r.user_id: (r.n_events, r.final_cusum, r.max_cusum, r.alarmed)
        for r in cusum_segments(ev, chunk=32).collect()
    }
    for width in (1, 7, 10**9):
        got = {
            r.user_id: (r.n_events, r.final_cusum, r.max_cusum, r.alarmed)
            for r in cusum_segments(ev, chunk=width).collect()
        }
        assert got == base, width
    # sequential reference on the driver
    pdf = ev.toPandas()
    k = int(pdf.cents.sum()) // len(pdf)
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    for uid, g in list(pdf.groupby("user_id"))[:20]:
        s = mx = 0
        for c in g.cents:
            s = max(0, s + (int(c) - k))
            mx = max(mx, s)
        assert base[uid][1] == s and base[uid][2] == mx, uid


def test_cusum_null_value_matches_oracle(spark, tmp_path):
    """A NULL value leaves the CUSUM unchanged, as the oracle's
    NULL-skipping running SUM does (user 1: 5.0, NULL, 1.0), and a user
    whose values are all NULL ends with NULL statistics (user 3)."""
    import datetime as dt

    import duckdb

    from hpv_etl_code_spark.plans.inference_queries import (
        CUSUM_SQL,
        cusum_user_cents,
    )

    def at(h):
        return dt.datetime(2024, 3, 1, h)

    rows = [
        (1, 1, at(9), 5.0), (2, 1, at(10), None), (3, 1, at(11), 1.0),
        (4, 2, at(9), 2.0), (5, 2, at(10), 2.0),
        (6, 3, at(9), None), (7, 3, at(10), None),
    ]
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    ).coalesce(1).write.parquet(out)
    got = {tuple(r) for r in cusum_user_cents(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{out}/*.parquet'")
    want = set(con.sql(CUSUM_SQL).fetchall())
    assert got == want, (got, want)


def test_cusum_long_key_single_chunk_memory_shape(spark):
    """A 20k-event key folds correctly through 32-wide chunks (the
    long-tail-entity guard: per-task state is bounded by the chunk,
    per-user compose by n/chunk summaries)."""
    from hpv_etl_code_spark.plans.inference_queries import cusum_segments

    n = 20000
    ev = spark.range(n).select(
        F.lit(1).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1000000).alias("ts"),
        F.col("id").alias("event_id"),
        # alternating +/- drift with a burst in the middle
        F.when(F.col("id").between(9000, 11000), F.lit(500))
        .otherwise((F.col("id") % 7) - 3)
        .cast("bigint")
        .alias("cents"),
    )
    row = cusum_segments(ev, chunk=32).collect()[0]
    # python reference
    import pandas as pd

    pdf = ev.toPandas().sort_values("event_id")
    k = int(pdf.cents.sum()) // n
    s = mx = 0
    for c in pdf.cents:
        s = max(0, s + (int(c) - k))
        mx = max(mx, s)
    assert (row.n_events, row.final_cusum, row.max_cusum) == (n, s, mx)


# ------------------------------------------------------------ bootstrap


def test_bootstrap_envelope_contains_population_mean(spark, sf_dir):
    """Sanity of the deterministic subsample bootstrap: the 5–95%
    order-statistic envelope should bracket the full-sample mean
    (half-samples of an i.i.d.-ish column; deterministic, so this is a
    stable fact of the dataset, not a flaky statistical test), and the
    bounds must be ordered."""
    from hpv_etl_code_spark.plans.inference_queries import bootstrap_ci_mean

    for r in bootstrap_ci_mean(spark, sf_dir).collect():
        assert r.n_replicates == 40, r
        assert r.ci_lo <= r.ci_hi, r
        assert r.ci_lo <= r.mean_cents <= r.ci_hi, r
