"""Inference-style analytics entries (round 5, session 3): closed-form
OLS regression per group via exact-decimal normal equations, and
Shannon token entropy per corpus slice.

Both follow the repo determinism contract (``functions/numeric.py``):
every aggregate runs in EXACT integer/decimal space (order-independent
across shuffles), and floats appear only in a single fixed IEEE op
chain mirrored verbatim in the DuckDB oracle, rounded to 6dp.

Reference parity note: the reference (src/main.py) has no statistics
surface at all — these are north-star extension entries for the
training-data-pipeline use case (feature trends, corpus balance).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.registry import load_table

# Epoch for the day-offset regressor: the corpus's first order date.
_OLS_EPOCH = "1995-01-01"


def ols_segment_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment OLS trend of order value over time — slope /
    intercept / R² of ``o_totalprice`` (cents) against the day offset
    from the corpus epoch, via the closed-form normal equations.

    Determinism: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are EXACT — x is an integer day offset, y integer cents, and
    the product sums go through DECIMAL(38,0) (DuckDB's BIGINT sums
    promote to exact HUGEINT), so they are shuffle-order-independent.
    Only then does one fixed IEEE chain produce slope =
    (n·Σxy − Σx·Σy)/(n·Σx² − Σx·Σx), intercept = (Σy − slope·Σx)/n and
    R² = (n·Σxy − Σx·Σy)² / ((n·Σx² − Σx·Σx)(n·Σy² − Σy·Σy)) — the
    oracle repeats the identical op tree, so both engines emit the same
    double before the 6dp round. Zero-variance groups yield NULL via
    the same CASE guard in both (Spark 4 ANSI division).

    Scale: broadcast dim join (customer is the small side) + ONE hash
    aggregation with map-side partials; the chain runs on ≤|segments|
    metadata rows. Sufficient statistics are mergeable, so the same
    plan serves incremental refresh (add partial sums per batch).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(F.col("o_orderdate"), F.lit(_OLS_EPOCH).cast("date"))
        .cast("bigint")
        .alias("x"),
        (F.col("o_totalprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    return ols_trend(j)


def ols_trend(j: DataFrame) -> DataFrame:
    """OLS over a (segment, x, y) frame — exact-decimal sufficient
    statistics + the fixed IEEE chain (see :func:`ols_segment_trend`).
    Split out so the STREAMING path can reuse it verbatim: the
    statistics are plain mergeable sums, i.e. a native Structured
    Streaming aggregation (complete mode), no custom state — the
    stream ≡ batch equality is locked in tests/test_streaming_ols.py.
    """
    g = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    cov_n = nd * sxyd - sxd * syd
    varx_n = nd * sxxd - sxd * sxd
    vary_n = nd * syyd - syd * syd
    slope = F.when(varx_n != 0, cov_n / varx_n)
    return g.select(
        "segment",
        F.col("n").alias("n_orders"),
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(
            F.when(varx_n != 0, (syd - (cov_n / varx_n) * sxd) / nd), 6
        ).alias("intercept_cents"),
        F.round(
            F.when(
                (varx_n != 0) & (vary_n != 0),
                (cov_n * cov_n) / (varx_n * vary_n),
            ),
            6,
        ).alias("r2"),
        F.round(syd / nd, 6).alias("mean_cents"),
    )


OLS_SEGMENT_TREND_SQL = f"""
WITH j AS (
  SELECT c_mktsegment AS segment,
         date_diff('day', TIMESTAMP '{_OLS_EPOCH}', o_orderdate)::BIGINT AS x,
         (CAST(o_totalprice AS DECIMAL(12,2)) * 100)::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT segment, COUNT(*)::BIGINT AS n,
         SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
         SUM(x * y)::DOUBLE AS sxy, SUM(x * x)::DOUBLE AS sxx,
         SUM(y * y)::DOUBLE AS syy
  FROM j GROUP BY 1
), c AS (
  SELECT segment, n, sx::DOUBLE AS sxd, sy::DOUBLE AS syd, sxy, sxx, syy,
         n::DOUBLE * sxy - sx::DOUBLE * sy::DOUBLE AS cov_n,
         n::DOUBLE * sxx - sx::DOUBLE * sx::DOUBLE AS varx_n,
         n::DOUBLE * syy - sy::DOUBLE * sy::DOUBLE AS vary_n
  FROM g
)
SELECT segment, n AS n_orders,
  ROUND(CASE WHEN varx_n <> 0 THEN cov_n / varx_n END, 6)
    AS slope_cents_per_day,
  ROUND(CASE WHEN varx_n <> 0
             THEN (syd - (cov_n / varx_n) * sxd) / n::DOUBLE END, 6)
    AS intercept_cents,
  ROUND(CASE WHEN varx_n <> 0 AND vary_n <> 0
             THEN (cov_n * cov_n) / (varx_n * vary_n) END, 6) AS r2,
  ROUND(syd / n::DOUBLE, 6) AS mean_cents
FROM c
"""


def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per document source —
    the corpus-balance diagnostic (low entropy = repetitive/templated
    slice; normalized entropy compares slices with different vocab).

    H = ln(N) − (Σ c·ln c)/N over per-(source, token) counts c. Each
    term is one int→double conversion, one ln, one multiply (identical
    in both engines); the term SUM — the only order-sensitive step —
    goes through DECIMAL(20,8) (PSI-total pattern,
    ``olap_queries.psi_value_drift``), so the final H chain sees
    identical operands in both engines.

    Scale: explode → ONE (source, token) hash aggregation with partial
    counts → source-sized agg. Per-token counts are mergeable across
    batches; vocab-sized state only.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cd = F.col("c").cast("double")
    term = cd * F.log(cd)
    per_src = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(term.cast("decimal(20,8)")).cast("double").alias("__s"),
    )
    nd = F.col("n_tokens").cast("double")
    h = F.log(nd) - F.col("__s") / nd
    return per_src.select(
        "source",
        "n_tokens",
        "vocab",
        F.round(h, 6).alias("entropy"),
        F.round(
            F.when(
                F.col("vocab") > 1, h / F.log(F.col("vocab").cast("double"))
            ),
            6,
        ).alias("norm_entropy"),
    )


TOKEN_ENTROPY_SQL = """
WITH counts AS (
  SELECT source, tok, COUNT(*)::BIGINT AS c FROM (
    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY 1, 2
), s AS (
  SELECT source, SUM(c)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS vocab,
    CAST(CAST(SUM(CAST(c::DOUBLE * ln(c::DOUBLE) AS DECIMAL(20,8)))
         AS VARCHAR) AS DOUBLE) AS sterm
  FROM counts GROUP BY 1
)
SELECT source, n_tokens, vocab,
  ROUND(ln(n_tokens::DOUBLE) - sterm / n_tokens::DOUBLE, 6) AS entropy,
  ROUND(CASE WHEN vocab > 1 THEN
        (ln(n_tokens::DOUBLE) - sterm / n_tokens::DOUBLE)
        / ln(vocab::DOUBLE) END, 6) AS norm_entropy
FROM s
"""


# ------------------------------------------------ CUSUM change detection

_CUSUM_CHUNK = 32  # small so the gate data exercises multi-chunk compose
_CUSUM_H_MULT = 8  # alarm threshold = 8·k (k = global mean cents)


def _cusum_compose(a, b):  # noqa: ANN001 — Column struct lambda
    """Associative composition of CUSUM chunk summaries in the exact
    integer (max, +) algebra. Summary of a chunk: t = Σz; m = final
    CUSUM entering at 0 (= max clamped suffix sum); mt = max prefix
    total; mm = max CUSUM over the chunk's prefixes entering at 0."""
    return F.struct(
        (a["t"] + b["t"]).alias("t"),
        F.greatest(b["m"], a["m"] + b["t"]).alias("m"),
        F.greatest(a["mt"], a["t"] + b["mt"]).alias("mt"),
        F.greatest(a["mm"], b["mm"], a["m"] + b["mt"]).alias("mm"),
    )


def cusum_user_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM change detection over event values (Page 1954):
    s_i = max(0, s_{i−1} + z_i) with z_i = cents_i − k (k = global mean
    cents, integer DIV) — the classic sequential drift alarm. Emits the
    final CUSUM state, the running maximum (the detection statistic),
    and the alarm flag max ≥ 8k.

    The clamped recurrence is NOT a window frame, but it IS an
    associative fold in the exact integer (max, +) algebra: a chunk
    summarizes to (Σz, max-clamped-suffix, max-prefix-total,
    max-prefix-CUSUM) and summaries compose left-to-right — the same
    segmented decomposition as ``ewma_user_values``, with one decisive
    difference: every operation is INTEGER max/plus, so reassociation
    is EXACT (no IEEE seam), chunk-size invariance is an identity
    rather than a 6dp contract (property-tested at widths 1/7/32/∞),
    and the DuckDB oracle can run the plain whole-history fold.

    Scale: per-chunk state is ≤ chunk values, per-user compose holds
    n/chunk summaries (the long-tail-entity OOM guard); one exchange
    computes rn + chunking, and the 1-row k is a broadcast scalar.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    return cusum_segments(ev, chunk=_CUSUM_CHUNK)


def cusum_segments(ev: DataFrame, chunk: int = _CUSUM_CHUNK) -> DataFrame:
    """The segmented fold over a (user_id, ts, event_id, cents) frame —
    output is EXACTLY chunk-size-invariant (integer max/plus is
    associative; property-tested at widths 1/7/32/10⁹).

    A NULL value is counted and leaves the CUSUM unchanged, as the
    oracle's NULL-skipping running SUM does: its unit is the
    composition's identity (t = 0; m, mt, mm NULL — ``greatest`` skips
    NULLs), so a user whose values are all NULL ends with NULL
    statistics."""
    k1 = ev.agg(
        F.expr("CAST(sum(cents) DIV count(*) AS BIGINT)").alias("__k")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = (
        ev.join(F.broadcast(k1))
        .withColumn("z", F.col("cents") - F.col("__k"))
        .withColumn("rn", F.row_number().over(w))
    )
    zs = F.transform(
        F.array_sort(F.collect_list(F.struct("rn", "z"))), lambda s: s["z"]
    )
    zero = F.lit(0).cast("long")

    def unit(z: Column) -> Column:
        pos = F.when(z.isNotNull(), F.greatest(zero, z))
        return F.struct(
            F.coalesce(z, zero).alias("t"), pos.alias("m"), z.alias("mt"), pos.alias("mm")
        )

    units = F.transform(zs, unit)
    chunk_summary = F.aggregate(
        F.slice(units, 2, F.size(units) - 1),
        F.element_at(units, 1),
        _cusum_compose,
    )
    summaries = (
        ordered.withColumn("cid", F.expr(f"(rn - 1) DIV {chunk}"))
        .groupBy("user_id", "cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            chunk_summary.alias("cs"),
            F.max("__k").alias("__k"),
        )
    )
    per_user = summaries.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("cs")))
        ).alias("css"),
        F.max("__k").alias("__k"),
    )
    folded = F.aggregate(
        F.transform(
            F.slice(F.col("css"), 2, F.size("css") - 1), lambda s: s["cs"]
        ),
        F.element_at(F.col("css"), 1)["cs"],
        _cusum_compose,
    )
    return per_user.select(
        "user_id",
        "n_events",
        folded["m"].alias("final_cusum"),
        folded["mm"].alias("max_cusum"),
        (folded["mm"] >= F.lit(_CUSUM_H_MULT) * F.col("__k")).alias(
            "alarmed"
        ),
    )


# Oracle: the closed-form window identity for the clamped recurrence —
# s_i = P_i − min(0, min_{l≤i} P_l) with P the prefix sum of z. Exact
# integers, so equality with the segmented Spark fold IS the
# associativity theorem. (A list_reduce twin hit a DuckDB v1.0.0 lambda
# mis-evaluation on ≥3-element struct folds; the window form is also
# simply stronger as an independent oracle.)
CUSUM_SQL = f"""
WITH ev AS (
  SELECT user_id, ts, event_id,
         (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT AS cents
  FROM events
), kk AS (
  SELECT (SUM(cents) // COUNT(*))::BIGINT AS k FROM ev
), p AS (
  SELECT user_id, k,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    SUM(cents - k) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS pf
  FROM ev CROSS JOIN kk
), s AS (
  SELECT user_id, k, rn,
    (pf - least(0, MIN(pf) OVER (PARTITION BY user_id ORDER BY rn
                                 ROWS UNBOUNDED PRECEDING)))::BIGINT AS si
  FROM p
)
SELECT user_id, COUNT(*)::BIGINT AS n_events,
       max_by(si, rn)::BIGINT AS final_cusum,
       MAX(si)::BIGINT AS max_cusum,
       MAX(si) >= {_CUSUM_H_MULT} * MAX(k) AS alarmed
FROM s GROUP BY user_id
"""


# ------------------------------------------------ deterministic bootstrap

_BOOT_B = 40  # replicates = one bit each of the 60-bit row hash
_BOOT_LO_K, _BOOT_HI_K = 2, 39  # order statistics ≈ 5% / 95% envelope


def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type bootstrap confidence envelope for the mean value —
    resampling WITHOUT randomness: replicate b keeps a row iff bit b of
    the row's 60-bit md5 hash is set (40 independent fair half-samples,
    the m-out-of-n subsample bootstrap with m≈n/2). Deterministic by
    construction, so the driver hash-checks a procedure that is usually
    unreproducible across engines; replicate means use exact decimal
    sums (one double division each) and the envelope is pure
    order-statistic selection (ranks 2/39 of 40, ties broken by
    replicate id) — no interpolated quantile seam.

    Scale: the replicate dimension is a 40× map-side expansion feeding
    ONE partial-agg exchange keyed (event_type, b) — state is
    40·|types| cells regardless of input rows; the envelope selection
    runs on 40-row groups. Subsampling keeps every replicate half-size,
    so memory never exceeds the plain aggregation's.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    reps = (
        ev.select(
            "event_type",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
            "h",
        )
        .filter(F.expr("(h >> b) & 1 = 1"))
        .groupBy("event_type", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum(F.col("cents").cast("decimal(20,8)"))
            .cast("double")
            .alias("s"),
        )
        .withColumn("mean_b", F.col("s") / F.col("m").cast("double"))
    )
    w = Window.partitionBy("event_type").orderBy("mean_b", "b")
    ranked = reps.withColumn("rk", F.row_number().over(w))
    env = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.round(
            F.max(F.when(F.col("rk") == _BOOT_LO_K, F.col("mean_b"))), 6
        ).alias("ci_lo"),
        F.round(
            F.max(F.when(F.col("rk") == _BOOT_HI_K, F.col("mean_b"))), 6
        ).alias("ci_hi"),
    )
    full = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(
            F.sum(F.col("cents").cast("decimal(20,8)")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_cents"),
    )
    return full.join(env, "event_type").select(
        "event_type",
        "n_events",
        "mean_cents",
        "n_replicates",
        "ci_lo",
        "ci_hi",
    )


BOOTSTRAP_CI_SQL = f"""
WITH ev AS (
  SELECT event_type,
         (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT AS cents,
         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), reps AS (
  SELECT event_type, b,
         COUNT(*)::BIGINT AS m,
         CAST(CAST(SUM(CAST(cents AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE)
           / COUNT(*)::DOUBLE AS mean_b
  FROM ev CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b)
  WHERE (h >> b) & 1 = 1
  GROUP BY 1, 2
), ranked AS (
  SELECT event_type, mean_b,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY mean_b, b) AS rk
  FROM reps
), env AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_replicates,
         ROUND(MAX(CASE WHEN rk = {_BOOT_LO_K} THEN mean_b END), 6) AS ci_lo,
         ROUND(MAX(CASE WHEN rk = {_BOOT_HI_K} THEN mean_b END), 6) AS ci_hi
  FROM ranked GROUP BY 1
), overall AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_events,
         ROUND(CAST(CAST(SUM(CAST(cents AS DECIMAL(20,8))) AS VARCHAR)
               AS DOUBLE) / COUNT(*)::DOUBLE, 6) AS mean_cents
  FROM ev GROUP BY 1
)
SELECT overall.event_type, n_events, mean_cents, n_replicates, ci_lo, ci_hi
FROM overall JOIN env ON overall.event_type = env.event_type
"""


def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² test of independence on the event_type × ISO-weekday
    contingency table, with Cramér's V effect size — "does activity mix
    shift by weekday", the categorical-association companion to
    `ab_welch_ttest` (means) and `ks_test_drift` (distributions).

    Determinism: observed counts, row/column margins and N are exact
    integers; each cell's χ² term uses the cross-multiplied identity
    (O·N − r·c)²/(N·r·c) — numerator root is an exact BIGINT squared in
    a double (exactly representable: |O·N − r·c| < 2⁵³ far beyond
    100 TB), the denominator is the double product (N·r)·c in that
    literal association order, terms sum through DECIMAL(20,8), and
    Cramér's V is one IEEE sqrt (correctly rounded in both engines).

    Scale: one groupBy over the raw table to ≤ types×7 cells; margins,
    terms and the 1-row summary are all metadata-side (broadcast
    joins). dof and the min(R,C)−1 normalizer come from the observed
    table, not assumptions.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    row_m = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    col_m = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("n_rows_dim"),
        F.countDistinct("dow").cast("bigint").alias("n_cols_dim"),
    )
    joined = (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .join(F.broadcast(tot))
    )
    dev = (F.col("o") * F.col("n") - F.col("r") * F.col("c")).cast("double")
    denom = (F.col("n").cast("double") * F.col("r").cast("double")) * F.col(
        "c"
    ).cast("double")
    agg = joined.groupBy("n", "n_rows_dim", "n_cols_dim").agg(
        F.sum((dev * dev / denom).cast("decimal(20,8)"))
        .cast("double")
        .alias("chi2")
    )
    dof = (F.col("n_rows_dim") - 1) * (F.col("n_cols_dim") - 1)
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("n").cast("double")
            * (F.least(F.col("n_rows_dim"), F.col("n_cols_dim")) - 1).cast(
                "double"
            )
        )
    )
    return agg.select(
        F.col("n").alias("n_obs"),
        dof.alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


CHI_SQUARE_SQL = """
WITH cells AS (
  SELECT event_type, isodow(ts)::BIGINT AS dow, COUNT(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
), row_m AS (
  SELECT event_type, SUM(o)::BIGINT AS r FROM cells GROUP BY 1
), col_m AS (
  SELECT dow, SUM(o)::BIGINT AS c FROM cells GROUP BY 1
), tot AS (
  SELECT SUM(o)::BIGINT AS n,
         COUNT(DISTINCT event_type)::BIGINT AS n_rows_dim,
         COUNT(DISTINCT dow)::BIGINT AS n_cols_dim
  FROM cells
), agg AS (
  SELECT n, n_rows_dim, n_cols_dim,
    CAST(CAST(SUM(CAST(
      ((o * n - r * c)::DOUBLE * (o * n - r * c)::DOUBLE)
        / ((n::DOUBLE * r::DOUBLE) * c::DOUBLE)
      AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS chi2
  FROM cells
  JOIN row_m USING (event_type) JOIN col_m USING (dow) CROSS JOIN tot
  GROUP BY 1, 2, 3
)
SELECT n AS n_obs,
  (n_rows_dim - 1) * (n_cols_dim - 1) AS dof,
  ROUND(chi2, 6) AS chi2,
  ROUND(sqrt(chi2 / (n::DOUBLE
        * (least(n_rows_dim, n_cols_dim) - 1)::DOUBLE)), 6) AS cramers_v
FROM agg
"""


_PERM_R = 40


def permutation_test_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the purchase-vs-view mean-cents gap —
    resampling WITHOUT randomness (the `bootstrap_ci_mean` trick):
    replicate b relabels each row to pseudo-group-A iff bit b of the
    row's 60-bit md5 hash is set (40 independent fair relabelings under
    H₀: labels are exchangeable), and the two-sided p-value is the
    smoothed exceedance rank (#{|Δ_b| ≥ |Δ_obs|} + 1)/(R + 1) — the
    nonparametric companion to `ab_welch_ttest` that assumes no
    variance model at all.

    Determinism: group sums are exact integer cents; each replicate's
    Δ_b is two double divisions and one subtraction; the exceedance
    count is an integer; the driver hash-checks a procedure that is
    usually unreproducible across engines.

    Scale: the replicate dimension is a 40× map-side expansion feeding
    ONE partial-agg exchange keyed (b) — state is 40 cells regardless
    of input rows; the observed gap is a second 1-row aggregate and
    the comparison is a broadcast of one row.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    base = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("in_a"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    obs = base.agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("n_b"),
        F.sum(F.col("in_a") * F.col("cents")).cast("bigint").alias("s_a"),
        F.sum((1 - F.col("in_a")) * F.col("cents"))
        .cast("bigint")
        .alias("s_b"),
    )
    d_obs = F.col("s_a").cast("double") / F.col("n_a").cast("double") - F.col(
        "s_b"
    ).cast("double") / F.col("n_b").cast("double")
    reps = (
        base.select(
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_R - 1))).alias("b"),
            F.expr("(h >> b) & 1").cast("int").alias("ra"),
        )
        .groupBy("b")
        .agg(
            F.sum("ra").cast("bigint").alias("m_a"),
            F.sum(1 - F.col("ra")).cast("bigint").alias("m_b"),
            F.sum(F.col("ra") * F.col("cents")).cast("bigint").alias("t_a"),
            F.sum((1 - F.col("ra")) * F.col("cents"))
            .cast("bigint")
            .alias("t_b"),
        )
    )
    d_b = F.col("t_a").cast("double") / F.col("m_a").cast("double") - F.col(
        "t_b"
    ).cast("double") / F.col("m_b").cast("double")
    joined = reps.join(F.broadcast(obs))
    summary = joined.agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.round(F.max(d_obs), 6).alias("diff_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.sum((F.abs(d_b) >= F.abs(d_obs)).cast("int"))
        .cast("bigint")
        .alias("n_extreme"),
    )
    return summary.select(
        "n_a",
        "n_b",
        "diff_obs",
        "n_replicates",
        "n_extreme",
        F.round(
            (F.col("n_extreme") + 1).cast("double")
            / (F.col("n_replicates") + 1).cast("double"),
            6,
        ).alias("p_value"),
    )


PERMUTATION_SQL = f"""
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS in_a,
         (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT AS cents,
         ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events WHERE event_type IN ('purchase', 'view')
), obs AS (
  SELECT SUM(in_a)::BIGINT AS n_a, SUM(1 - in_a)::BIGINT AS n_b,
         SUM(in_a * cents)::BIGINT AS s_a,
         SUM((1 - in_a) * cents)::BIGINT AS s_b
  FROM base
), reps AS (
  SELECT b,
    SUM(ra)::BIGINT AS m_a, SUM(1 - ra)::BIGINT AS m_b,
    SUM(ra * cents)::BIGINT AS t_a, SUM((1 - ra) * cents)::BIGINT AS t_b
  FROM (
    SELECT cents, u.b, ((h >> u.b) & 1)::INT AS ra
    FROM base CROSS JOIN (SELECT unnest(range(0, {_PERM_R})) AS b) u
  ) GROUP BY b
), summary AS (
  SELECT MAX(n_a) AS n_a, MAX(n_b) AS n_b,
    ROUND(MAX(s_a::DOUBLE / n_a::DOUBLE - s_b::DOUBLE / n_b::DOUBLE), 6)
      AS diff_obs,
    COUNT(*)::BIGINT AS n_replicates,
    SUM(CASE WHEN abs(t_a::DOUBLE / m_a::DOUBLE - t_b::DOUBLE / m_b::DOUBLE)
             >= abs(s_a::DOUBLE / n_a::DOUBLE - s_b::DOUBLE / n_b::DOUBLE)
        THEN 1 ELSE 0 END)::BIGINT AS n_extreme
  FROM reps CROSS JOIN obs
)
SELECT n_a, n_b, diff_obs, n_replicates, n_extreme,
  ROUND((n_extreme + 1)::DOUBLE / (n_replicates + 1)::DOUBLE, 6) AS p_value
FROM summary
"""


def register_entries(register) -> None:  # noqa: ANN001 — see catalog.register
    register("ols_segment_trend", ols_segment_trend, OLS_SEGMENT_TREND_SQL)
    register(
        "chi_square_independence", chi_square_independence, CHI_SQUARE_SQL
    )
    register("permutation_test_cents", permutation_test_cents, PERMUTATION_SQL)
    register("srm_assignment_check", srm_assignment_check, SRM_SQL)
    register("diff_in_diff_cents", diff_in_diff_cents, DIFF_IN_DIFF_SQL)
    register(
        "cuped_variance_reduction", cuped_variance_reduction, CUPED_SQL
    )
    register(
        "token_entropy_by_source", token_entropy_by_source, TOKEN_ENTROPY_SQL
    )
    register("cusum_user_cents", cusum_user_cents, CUSUM_SQL)
    register("bootstrap_ci_mean", bootstrap_ci_mean, BOOTSTRAP_CI_SQL)
    register("qini_uplift_deciles", qini_uplift_deciles, QINI_SQL)


def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift curve for the md5-assigned experiment: users ranked
    by a pre-treatment engagement score (total VIEW cents) are cut into
    ten deciles, and each decile reports the treated/control conversion
    split plus the cumulative Qini value
    Q(k) = ΣOᵗ(k) − ΣOᶜ(k)·ΣNᵗ(k)/ΣNᶜ(k) — the uplift-model readout
    (who to TARGET, not just whether the treatment worked) that
    completes the experimentation kit after SRM/power/Welch/CUPED/DiD.

    Determinism: score, arms, outcomes and all decile counts are exact
    integers (the score rank uses the ``global_row_index`` two-phase
    numbering on the NEGATED score — descending order, (score, user)
    tie-broken); uplift and Qini are fixed-order double arithmetic on
    cumulative integers, rounded 6dp.

    Scale: one user-level aggregate (the only full pass), one two-phase
    rank on the user frame, one 10-group aggregate, a 10-row window.
    """
    from pyspark.sql import Window

    from ..operators.layout import global_row_index

    ev = load_table(spark, sf_dir, "events")
    arm_of = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 2
    )
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "view",
                    (F.col("value").cast("decimal(12,2)") * 100).cast(
                        "bigint"
                    ),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("score"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("converted"),
        )
        .select(arm_of.alias("arm"), "user_id", "score", "converted")
        .withColumn("negscore", -F.col("score"))
    )
    idx = global_row_index(
        per_user, key="negscore", tiebreak=("user_id",), index_col="i"
    )
    n = idx.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    per_dec = (
        idx.join(F.broadcast(n))
        .withColumn("decile", F.expr("((i - 1) * 10) DIV __n + 1"))
        .groupBy("decile")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_t"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_c"),
            F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
            .cast("bigint")
            .alias("o_t"),
            F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
            .cast("bigint")
            .alias("o_c"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = lambda c: F.sum(c).over(w).cast("bigint")  # noqa: E731
    # empty-arm deciles (possible at tiny scale): the guard lives INSIDE
    # the divisor (NULLIF pattern) — ANSI mode + CSE hoists divisions
    # out of WHEN branches, the chi_square_independence lesson
    safe = lambda c: F.nullif(c.cast("double"), F.lit(0.0))  # noqa: E731
    uplift = (
        F.col("o_t").cast("double") / safe(F.col("n_t"))
        - F.col("o_c").cast("double") / safe(F.col("n_c"))
    )
    qini = cum("o_t").cast("double") - cum("o_c").cast("double") * (
        cum("n_t").cast("double") / safe(cum("n_c"))
    )
    return per_dec.select(
        "decile",
        "n_t",
        "n_c",
        "o_t",
        "o_c",
        F.round(uplift, 6).alias("uplift"),
        F.round(qini, 6).alias("qini_cum"),
    )


QINI_SQL = """
WITH per_user AS (
  SELECT
    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm,
    user_id,
    SUM(CASE WHEN event_type = 'view'
        THEN (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT ELSE 0
        END)::BIGINT AS score,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), ranked AS (
  SELECT arm, converted,
    ROW_NUMBER() OVER (ORDER BY -score, user_id)::BIGINT AS i,
    COUNT(*) OVER ()::BIGINT AS n
  FROM per_user
), per_dec AS (
  SELECT ((i - 1) * 10) // n + 1 AS decile,
    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
    SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END)::BIGINT AS o_t,
    SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END)::BIGINT AS o_c
  FROM ranked GROUP BY 1
)
SELECT decile, n_t, n_c, o_t, o_c,
  ROUND(o_t::DOUBLE / NULLIF(n_t::DOUBLE, 0.0)
        - o_c::DOUBLE / NULLIF(n_c::DOUBLE, 0.0), 6) AS uplift,
  ROUND((SUM(o_t) OVER (ORDER BY decile))::DOUBLE
        - (SUM(o_c) OVER (ORDER BY decile))::DOUBLE
          * ((SUM(n_t) OVER (ORDER BY decile))::DOUBLE
             / NULLIF((SUM(n_c) OVER (ORDER BY decile))::DOUBLE, 0.0)), 6)
    AS qini_cum
FROM per_dec
"""


def srm_assignment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 experiment
    assignment: users are bucketed by md5 bit 0 (the deterministic
    assignment a real experimentation system would persist), and the
    1-dof χ² against the nominal split — (n₀−n₁)²/N for equal arms —
    flags broken randomization (the FIRST check any A/B readout must
    pass; an SRM'd experiment invalidates `ab_welch_ttest` downstream).
    Also reports per-arm event volume so traffic-level SRM is visible
    separately from user-level SRM.

    Determinism: arm assignment is the portable md5 hash; all counts
    are exact integers; χ² is one double division. The 3.841 flag
    threshold (95th pct of χ²₁) is a literal in both engines.

    Scale: one user-level aggregate (map-side partial) and one 2-row
    summary — nothing else touches the data.
    """
    ev = load_table(spark, sf_dir, "events")
    arm_of = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ev")
    ).select(arm_of.alias("arm"), "n_ev")
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
    )
    summary = arms.agg(
        F.sum("n_users").cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_users")).otherwise(0))
        .cast("bigint")
        .alias("n_arm0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_users")).otherwise(0))
        .cast("bigint")
        .alias("n_arm1"),
        F.sum(F.when(F.col("arm") == 0, F.col("n_events")).otherwise(0))
        .cast("bigint")
        .alias("ev_arm0"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_events")).otherwise(0))
        .cast("bigint")
        .alias("ev_arm1"),
    )
    diff = (F.col("n_arm0") - F.col("n_arm1")).cast("double")
    chi2 = diff * diff / F.col("n_total").cast("double")
    return summary.select(
        "n_total",
        "n_arm0",
        "n_arm1",
        "ev_arm0",
        "ev_arm1",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_flag"),
    )


SRM_SQL = """
WITH per_user AS (
  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm,
         COUNT(*)::BIGINT AS n_ev
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, COUNT(*)::BIGINT AS n_users, SUM(n_ev)::BIGINT AS n_events
  FROM per_user GROUP BY arm
), summary AS (
  SELECT SUM(n_users)::BIGINT AS n_total,
    SUM(CASE WHEN arm = 0 THEN n_users ELSE 0 END)::BIGINT AS n_arm0,
    SUM(CASE WHEN arm = 1 THEN n_users ELSE 0 END)::BIGINT AS n_arm1,
    SUM(CASE WHEN arm = 0 THEN n_events ELSE 0 END)::BIGINT AS ev_arm0,
    SUM(CASE WHEN arm = 1 THEN n_events ELSE 0 END)::BIGINT AS ev_arm1
  FROM arms
)
SELECT n_total, n_arm0, n_arm1, ev_arm0, ev_arm1,
  ROUND((n_arm0 - n_arm1)::DOUBLE * (n_arm0 - n_arm1)::DOUBLE
        / n_total::DOUBLE, 6) AS chi2,
  ((n_arm0 - n_arm1)::DOUBLE * (n_arm0 - n_arm1)::DOUBLE
   / n_total::DOUBLE) > 3.841 AS srm_flag
FROM summary
"""


def diff_in_diff_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate for the md5-assigned
    experiment (same arms as `srm_assignment_check`): the observation
    window splits at its midpoint date (integer date arithmetic on the
    observed bounds), cell means are exact-integer sums over the four
    (arm, period) cells, and DiD = (T₂−T₁) − (C₂−C₁) — the causal
    readout when assignment precedes the period boundary. Together
    with SRM (integrity) and CUPED (power) this completes the
    experimentation kit.

    Determinism: the period boundary is exact date arithmetic; cell
    sums/counts are integers; each mean is one division; DiD is three
    IEEE subtractions in a fixed order.

    Scale: one bounds aggregate (broadcast 1 row) + one 4-cell
    aggregate — two passes, no joins beyond the broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    arm_of = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 2
    )
    cells = (
        ev.join(F.broadcast(bounds))
        .select(
            arm_of.alias("arm"),
            (
                F.datediff(F.to_date("ts"), F.col("d0")) * 2
                >= F.datediff(F.col("d1"), F.col("d0"))
            )
            .cast("int")
            .alias("period"),
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("s"),
        )
    )
    mean_of = lambda a, p: F.max(  # noqa: E731
        F.when(
            (F.col("arm") == a) & (F.col("period") == p),
            F.col("s").cast("double") / F.col("n").cast("double"),
        )
    )
    n_of = lambda a, p: F.sum(  # noqa: E731
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col("n")).otherwise(0)
    ).cast("bigint")
    agg = cells.agg(
        n_of(1, 0).alias("n_t_pre"),
        n_of(1, 1).alias("n_t_post"),
        n_of(0, 0).alias("n_c_pre"),
        n_of(0, 1).alias("n_c_post"),
        mean_of(1, 0).alias("m_t_pre"),
        mean_of(1, 1).alias("m_t_post"),
        mean_of(0, 0).alias("m_c_pre"),
        mean_of(0, 1).alias("m_c_post"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    return agg.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.round("m_t_pre", 6).alias("m_t_pre"),
        F.round("m_t_post", 6).alias("m_t_post"),
        F.round("m_c_pre", 6).alias("m_c_pre"),
        F.round("m_c_post", 6).alias("m_c_post"),
        F.round(did, 6).alias("did_cents"),
    )


DIFF_IN_DIFF_SQL = """
WITH bounds AS (
  SELECT MIN(ts::DATE) AS d0, MAX(ts::DATE) AS d1 FROM events
), cells AS (
  SELECT
    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 AS arm,
    CASE WHEN date_diff('day', d0, ts::DATE) * 2
              >= date_diff('day', d0, d1) THEN 1 ELSE 0 END AS period,
    COUNT(*)::BIGINT AS n,
    SUM((CAST(value AS DECIMAL(12,2)) * 100)::BIGINT)::BIGINT AS s
  FROM events CROSS JOIN bounds
  GROUP BY 1, 2
), agg AS (
  SELECT
    SUM(CASE WHEN arm = 1 AND period = 0 THEN n ELSE 0 END)::BIGINT AS n_t_pre,
    SUM(CASE WHEN arm = 1 AND period = 1 THEN n ELSE 0 END)::BIGINT AS n_t_post,
    SUM(CASE WHEN arm = 0 AND period = 0 THEN n ELSE 0 END)::BIGINT AS n_c_pre,
    SUM(CASE WHEN arm = 0 AND period = 1 THEN n ELSE 0 END)::BIGINT AS n_c_post,
    MAX(CASE WHEN arm = 1 AND period = 0 THEN s::DOUBLE / n::DOUBLE END) AS m_t_pre,
    MAX(CASE WHEN arm = 1 AND period = 1 THEN s::DOUBLE / n::DOUBLE END) AS m_t_post,
    MAX(CASE WHEN arm = 0 AND period = 0 THEN s::DOUBLE / n::DOUBLE END) AS m_c_pre,
    MAX(CASE WHEN arm = 0 AND period = 1 THEN s::DOUBLE / n::DOUBLE END) AS m_c_post
  FROM cells
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
  ROUND(m_t_pre, 6) AS m_t_pre,
  ROUND(m_t_post, 6) AS m_t_post,
  ROUND(m_c_pre, 6) AS m_c_pre,
  ROUND(m_c_post, 6) AS m_c_post,
  ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did_cents
FROM agg
"""


def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED covariance adjustment on user-level pre/post metrics: with
    the same midpoint period split as `diff_in_diff_cents`, each user's
    pre- and post-period cents totals give
    θ = cov(pre, post)/var(pre), and the adjusted-metric variance
    shrinks by exactly corr² — reported as theta, the pre/post
    correlation and the variance-reduction percentage the experiment
    gains for free.

    Determinism: the ÷n-free centering trick (the `acf_daily_cents`
    playbook) keeps cov·n² = Σ(n·x−Sx)(n·y−Sy) and both var·n² terms
    EXACT integers through DECIMAL products/sums; θ, corr and the
    reduction are three fixed-order double divisions.

    Scale: one user-level aggregate (the only full pass), one totals
    aggregate broadcast back, one decimal-sum aggregate over users —
    no joins beyond two broadcasts.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    per_user = (
        ev.join(F.broadcast(bounds))
        .select(
            "user_id",
            (
                F.datediff(F.to_date("ts"), F.col("d0")) * 2
                >= F.datediff(F.col("d1"), F.col("d0"))
            )
            .cast("int")
            .alias("period"),
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("period") == 0, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("pre"),
            F.sum(F.when(F.col("period") == 1, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("post"),
        )
    )
    totals = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pre").cast("bigint").alias("sx"),
        F.sum("post").cast("bigint").alias("sy"),
    )
    dx = F.col("n") * F.col("pre") - F.col("sx")
    dy = F.col("n") * F.col("post") - F.col("sy")
    agg = (
        per_user.join(F.broadcast(totals))
        .agg(
            F.max("n").alias("n_users"),
            F.sum(dx.cast("decimal(19,0)") * dy.cast("decimal(19,0)")).alias(
                "cov_n2"
            ),
            F.sum(dx.cast("decimal(19,0)") * dx.cast("decimal(19,0)")).alias(
                "varx_n2"
            ),
            F.sum(dy.cast("decimal(19,0)") * dy.cast("decimal(19,0)")).alias(
                "vary_n2"
            ),
        )
    )
    theta = F.col("cov_n2").cast("double") / F.col("varx_n2").cast("double")
    corr = F.col("cov_n2").cast("double") / F.sqrt(
        F.col("varx_n2").cast("double") * F.col("vary_n2").cast("double")
    )
    return agg.select(
        "n_users",
        F.round(theta, 6).alias("theta"),
        F.round(corr, 6).alias("corr_pre_post"),
        F.round(corr * corr * F.lit(100.0), 6).alias("var_reduction_pct"),
    )


CUPED_SQL = """
WITH bounds AS (
  SELECT MIN(ts::DATE) AS d0, MAX(ts::DATE) AS d1 FROM events
), per_user AS (
  SELECT user_id,
    SUM(CASE WHEN date_diff('day', d0, ts::DATE) * 2
             >= date_diff('day', d0, d1)
        THEN 0 ELSE (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT
        END)::BIGINT AS pre,
    SUM(CASE WHEN date_diff('day', d0, ts::DATE) * 2
             >= date_diff('day', d0, d1)
        THEN (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT ELSE 0
        END)::BIGINT AS post
  FROM events CROSS JOIN bounds
  GROUP BY user_id
), totals AS (
  SELECT COUNT(*)::BIGINT AS n, SUM(pre)::BIGINT AS sx,
         SUM(post)::BIGINT AS sy
  FROM per_user
), agg AS (
  SELECT MAX(n) AS n_users,
    SUM((n * pre - sx)::DECIMAL(19,0) * (n * post - sy)::DECIMAL(19,0))
      AS cov_n2,
    SUM((n * pre - sx)::DECIMAL(19,0) * (n * pre - sx)::DECIMAL(19,0))
      AS varx_n2,
    SUM((n * post - sy)::DECIMAL(19,0) * (n * post - sy)::DECIMAL(19,0))
      AS vary_n2
  FROM per_user CROSS JOIN totals
)
SELECT n_users,
  ROUND(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
        / CAST(CAST(varx_n2 AS VARCHAR) AS DOUBLE), 6) AS theta,
  ROUND(CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
        / sqrt(CAST(CAST(varx_n2 AS VARCHAR) AS DOUBLE)
               * CAST(CAST(vary_n2 AS VARCHAR) AS DOUBLE)), 6)
    AS corr_pre_post,
  ROUND((CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
         / sqrt(CAST(CAST(varx_n2 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(vary_n2 AS VARCHAR) AS DOUBLE)))
        * (CAST(CAST(cov_n2 AS VARCHAR) AS DOUBLE)
           / sqrt(CAST(CAST(varx_n2 AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(vary_n2 AS VARCHAR) AS DOUBLE)))
        * 100.0, 6) AS var_reduction_pct
FROM agg
"""
