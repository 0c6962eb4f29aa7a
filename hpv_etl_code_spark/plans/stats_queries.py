"""Statistical-profiling entries (round 5, session 2): portable
HyperLogLog distinct sketch, PMI token co-occurrence, purged
time-series cross-validation with embargo, and a Benford first-digit
forensics profile.

All four are pure DataFrame compositions with exact DuckDB twins — no
UDFs. Float outputs ride single fixed IEEE op chains (one division /
one log) mirrored verbatim in the oracle SQL, per the repo's
determinism contract (see ``functions/numeric.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table

# ------------------------------------------------ HyperLogLog (portable)

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256 registers
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
# raw-estimate numerator alpha * m^2 * 2^53 — folded to one double
# literal so both engines perform exactly ONE division
_HLL_C = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53)
_HLL_SMALL = 2.5 * _HLL_M  # linear-counting switchover


def hll_distinct_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007),
    p=8 → 256 registers, PORTABLE hash family — completes the
    mergeable-sketch quartet (bloom / KMV / CMS / HLL).

    Unlike ``approx_sketches`` (engine-internal HLL++ state, rows-only
    check), every piece of this sketch is reproducible by any engine
    with md5: the 60-bit hash splits into an 8-bit register index and a
    52-bit suffix whose leading-zero count is EXACT INTEGER logic
    (string length of the binary representation — no float log2, whose
    off-by-one at powers of two would diverge engines). Register state
    is max(rho) per register: mergeable by max, 256 bytes per group,
    re-aggregable across partitions/days.

    The harmonic mean is computed in EXACT integer arithmetic: each
    register contributes 2^(53-rho) (≤2^53; the 256-register sum is
    ≤2^61, inside BIGINT), so the only float ops are one int→double
    conversion, one division by the folded constant, and — on the
    small-range branch — one ln. Estimator error vs the exact distinct
    count rides along per group.

    Scale: one (group, register) hash aggregation — partial max
    map-side — then a group-sized agg; the exact-count branch is the
    usual count-distinct expand. No window, no sort.
    """
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    hashed = ev.select("event_type", h.alias("h"))
    regs = hashed.select(
        "event_type",
        (F.col("h") % _HLL_M).alias("reg"),
        F.expr(f"shiftright(h, {_HLL_P})").alias("w"),
    ).select(
        "event_type",
        "reg",
        F.when(F.col("w") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin("w")))
        .alias("rho"),
    )
    per_reg = regs.groupBy("event_type", "reg").agg(F.max("rho").alias("m_rho"))
    agg = per_reg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_registers_hit"),
        F.sum(F.expr("shiftleft(cast(1 as bigint), cast(53 - m_rho as int))"))
        .cast("bigint")
        .alias("s_present"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    v = F.lit(_HLL_M) - F.col("n_registers_hit")
    s_total = (
        F.col("s_present") + v.cast("bigint") * F.lit(1 << 53)
    ).cast("double")
    raw = F.lit(_HLL_C) / s_total
    est = F.when(
        (v > 0) & (raw <= F.lit(_HLL_SMALL)),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    joined = agg.join(F.broadcast(exact), "event_type")
    est_r = F.round(est, 4)
    return joined.select(
        "event_type",
        "n_exact",
        "n_registers_hit",
        est_r.alias("hll_estimate"),
        F.round(
            F.abs(est_r - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_error"),
    )


HLL_DISTINCT_SQL = f"""
WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), r AS (
  SELECT event_type, h % {_HLL_M} AS reg,
         CASE WHEN (h >> {_HLL_P}) = 0 THEN 53
              ELSE 53 - length(bin(h >> {_HLL_P})) END AS rho
  FROM h
), m AS (
  SELECT event_type, reg, MAX(rho) AS m_rho FROM r GROUP BY 1, 2
), s AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_registers_hit,
         SUM(1::BIGINT << (53 - m_rho))::BIGINT AS s_present
  FROM m GROUP BY 1
), x AS (
  SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact
  FROM events GROUP BY 1
), est AS (
  SELECT s.event_type, x.n_exact, s.n_registers_hit,
    ROUND(CASE
      WHEN ({_HLL_M} - s.n_registers_hit) > 0
       AND {_HLL_C!r} / (s.s_present
             + ({_HLL_M} - s.n_registers_hit) * {1 << 53}::BIGINT)::DOUBLE
           <= {_HLL_SMALL!r}
      THEN {float(_HLL_M)!r} * LN({float(_HLL_M)!r}
             / ({_HLL_M} - s.n_registers_hit)::DOUBLE)
      ELSE {_HLL_C!r} / (s.s_present
             + ({_HLL_M} - s.n_registers_hit) * {1 << 53}::BIGINT)::DOUBLE
    END, 4) AS hll_estimate
  FROM s JOIN x USING (event_type)
)
SELECT event_type, n_exact, n_registers_hit, hll_estimate,
  ROUND(abs(hll_estimate - n_exact::DOUBLE) / n_exact::DOUBLE, 6)
    AS rel_error
FROM est
"""

# ------------------------------------------------ PMI co-occurrence

_PMI_MIN_PAIRS = 5


def pmi_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring within
    documents — the corpus-statistics pass behind collocation mining
    and phrase vocabularies. Output per qualifying pair: document
    frequencies, PMI = ln(p(a,b)/(p(a)p(b))) and its [-1,1]
    normalization NPMI = PMI / -ln p(a,b).

    Scale (same algebra as ``market_basket_rules``): each doc's
    DISTINCT sorted tokens expand their own C(m,2) ordered pairs
    row-locally inside codegen — no token self-join shuffle; pair and
    token counts are two hash aggregations whose output is bounded by
    the vocabulary (pairs ≤ |V|²/2), not the corpus. The PMI arithmetic
    is exact BIGINT products ending in one double division + one ln —
    deterministic across engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    baskets = docs.select(
        F.array_sort(
            F.array_remove(F.array_distinct(F.split("text", " ")), "")
        ).alias("items")
    )
    n_frame = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tok_counts = (
        baskets.select(F.explode("items").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    )
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda a, i: F.transform(
                F.slice("items", i + 2, F.size("items")),
                lambda b: F.struct(a.alias("tok_a"), b.alias("tok_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIRS)
    )
    ta = tok_counts.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    tb = tok_counts.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    joined = (
        pairs.join(F.broadcast(ta), "tok_a")
        .join(F.broadcast(tb), "tok_b")
        .crossJoin(F.broadcast(n_frame))
    )
    ratio_ln = F.log(
        (F.col("n_ab") * F.col("n_docs")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return joined.select(
        "tok_a",
        "tok_b",
        "n_a",
        "n_b",
        "n_ab",
        F.round(ratio_ln, 6).alias("pmi"),
        F.when(F.col("n_ab") == F.col("n_docs"), F.lit(1.0))
        .otherwise(
            F.round(
                ratio_ln
                / F.log(
                    F.col("n_docs").cast("double") / F.col("n_ab").cast("double")
                ),
                6,
            )
        )
        .alias("npmi"),
    )


PMI_TOKEN_SQL = f"""
WITH d AS (
  SELECT row_number() OVER () AS did,
         list_sort(list_distinct(
           list_filter(string_split(text, ' '), x -> x <> ''))) AS items
  FROM documents
), n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM d),
tok AS (
  SELECT did, unnest(items) AS tok FROM d
), tc AS (SELECT tok, COUNT(*)::BIGINT AS n_tok FROM tok GROUP BY tok),
pc AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*)::BIGINT AS n_ab
  FROM tok a JOIN tok b ON a.did = b.did AND a.tok < b.tok
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_PMI_MIN_PAIRS}
)
SELECT tok_a, tok_b, ta.n_tok AS n_a, tb.n_tok AS n_b, n_ab,
  ROUND(LN((n_ab * n_docs)::DOUBLE / (ta.n_tok * tb.n_tok)::DOUBLE), 6)
    AS pmi,
  CASE WHEN n_ab = n_docs THEN 1.0::DOUBLE
       ELSE ROUND(
         LN((n_ab * n_docs)::DOUBLE / (ta.n_tok * tb.n_tok)::DOUBLE)
         / LN(n_docs::DOUBLE / n_ab::DOUBLE), 6) END AS npmi
FROM pc
JOIN tc ta ON pc.tok_a = ta.tok
JOIN tc tb ON pc.tok_b = tb.tok
CROSS JOIN n
"""

# ------------------------------------------------ purged time-series CV

_CV_K = 5
_CV_EMBARGO = 86_400  # 1 day, seconds


def purged_timeseries_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold time-series cross-validation with an embargo gap
    (López de Prado 2018) — the leakage-aware split a temporal model
    pipeline needs where ``fold_assignment_leakfree`` handles the
    entity-level case: each fold's TEST span is a contiguous time
    range, and training excludes everything within the embargo window
    around it, so label horizons that straddle the boundary can't
    leak. Output per fold: the span, test/purged/train counts, and the
    surviving train fraction.

    Scale: one min/max/count aggregation fixes the fold grid; the grid
    (K rows) broadcasts back over the events for a single
    classify-and-aggregate pass — partial map-side aggregation leaves
    K rows per partition in the shuffle. No sort, no window; epoch
    arithmetic is exact BIGINT.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_timestamp("ts").alias("at")
    )
    bounds = ev.agg(
        F.min("at").alias("t0"),
        F.max("at").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    width = F.floor((F.col("t1") - F.col("t0") + 1) / _CV_K).cast("bigint")
    folds = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(_CV_K - 1))).alias("fold_i"),
            "t0",
            "t1",
            "n_total",
        )
        .select(
            F.col("fold_i").cast("bigint").alias("fold"),
            (F.col("t0") + F.col("fold_i").cast("bigint") * width).alias("fold_start"),
            F.when(F.col("fold_i") == _CV_K - 1, F.col("t1") + 1)
            .otherwise(F.col("t0") + (F.col("fold_i").cast("bigint") + 1) * width)
            .alias("fold_end"),
            "n_total",
        )
    )
    is_test = (F.col("at") >= F.col("fold_start")) & (F.col("at") < F.col("fold_end"))
    in_embargo = (F.col("at") >= F.col("fold_start") - _CV_EMBARGO) & (
        F.col("at") < F.col("fold_end") + _CV_EMBARGO
    )
    return (
        ev.crossJoin(F.broadcast(folds))
        .groupBy("fold", "fold_start", "fold_end")
        .agg(
            F.sum(is_test.cast("int")).cast("bigint").alias("n_test"),
            F.sum((in_embargo & ~is_test).cast("int")).cast("bigint").alias("n_purged"),
            F.sum((~in_embargo).cast("int")).cast("bigint").alias("n_train"),
            F.round(
                F.sum((~in_embargo).cast("int")).cast("double")
                / F.max("n_total").cast("double"),
                6,
            ).alias("train_frac"),
        )
    )


PURGED_CV_SQL = f"""
WITH e AS (SELECT FLOOR(epoch(ts))::BIGINT AS at FROM events),
b AS (SELECT MIN(at) AS t0, MAX(at) AS t1, COUNT(*)::BIGINT AS n_total
      FROM e),
f AS (
  SELECT k.fold,
         b.t0 + k.fold * ((b.t1 - b.t0 + 1) // {_CV_K}) AS fold_start,
         CASE WHEN k.fold = {_CV_K - 1} THEN b.t1 + 1
              ELSE b.t0 + (k.fold + 1) * ((b.t1 - b.t0 + 1) // {_CV_K})
         END AS fold_end,
         b.n_total
  FROM b CROSS JOIN (
    SELECT unnest([{", ".join(str(k) for k in range(_CV_K))}])::BIGINT AS fold
  ) k
)
SELECT f.fold, f.fold_start, f.fold_end,
  SUM(CASE WHEN e.at >= f.fold_start AND e.at < f.fold_end
           THEN 1 ELSE 0 END)::BIGINT AS n_test,
  SUM(CASE WHEN e.at >= f.fold_start - {_CV_EMBARGO}
            AND e.at < f.fold_end + {_CV_EMBARGO}
            AND NOT (e.at >= f.fold_start AND e.at < f.fold_end)
           THEN 1 ELSE 0 END)::BIGINT AS n_purged,
  SUM(CASE WHEN e.at < f.fold_start - {_CV_EMBARGO}
            OR e.at >= f.fold_end + {_CV_EMBARGO}
           THEN 1 ELSE 0 END)::BIGINT AS n_train,
  ROUND(SUM(CASE WHEN e.at < f.fold_start - {_CV_EMBARGO}
                  OR e.at >= f.fold_end + {_CV_EMBARGO}
                 THEN 1 ELSE 0 END)::DOUBLE / MAX(f.n_total)::DOUBLE, 6)
    AS train_frac
FROM e CROSS JOIN f
GROUP BY 1, 2, 3
"""

# ------------------------------------------------ Benford profile


def benford_digit_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law — the classic fabricated-data screen a data-quality
    suite runs over monetary columns. Output per digit 1-9: count,
    observed share, Benford expectation log10(1+1/d), and the
    chi-square contribution.

    Determinism: the digit comes from the DECIMAL(18,2) string
    rendering (exact HALF_UP in both engines — no float log10 digit
    extraction, which is off-by-one near powers of ten); shares and
    chi-square terms are single fixed IEEE chains mirrored in the
    oracle. Scale: one 9-group hash aggregation + a one-row broadcast.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("n_total"))
    p = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    expected = F.col("n_total").cast("double") * p
    diff = F.col("n").cast("double") - expected
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("n_total").cast("double"), 6).alias(
            "obs_share"
        ),
        F.round(p, 6).alias("benford_share"),
        F.round(diff * diff / expected, 6).alias("chisq_term"),
    )


BENFORD_SQL = """
WITH d AS (
  SELECT substr(o_totalprice::DECIMAL(18,2)::VARCHAR, 1, 1)::INT AS digit
  FROM orders WHERE o_totalprice >= 1
), c AS (SELECT digit, COUNT(*)::BIGINT AS n FROM d GROUP BY digit),
t AS (SELECT SUM(n)::BIGINT AS n_total FROM c)
SELECT digit, n,
  ROUND(n::DOUBLE / n_total::DOUBLE, 6) AS obs_share,
  ROUND(LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE), 6) AS benford_share,
  ROUND((n::DOUBLE - n_total::DOUBLE
           * LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE))
        * (n::DOUBLE - n_total::DOUBLE
           * LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE))
        / (n_total::DOUBLE
           * LOG10(1.0::DOUBLE + 1.0::DOUBLE / digit::DOUBLE)), 6)
    AS chisq_term
FROM c CROSS JOIN t
"""


# ------------------------------------------------ LSH recall eval

_EVAL_SAMPLE_MOD = 10  # deterministic 10% doc sample
_EVAL_BLOCKS = 8
_EVAL_THRESHOLD = 0.8


def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality of the MinHash/LSH banding scheme,
    measured the way a dedup pipeline should be audited: on a
    DETERMINISTIC document sample, compare the banding's candidate
    pairs against exact-Jaccard ground truth (≥ 0.8 on distinct token
    sets) and report recall (truth pairs the bands surfaced) and
    precision (candidates that were truly similar). The final LSH
    output refines candidates with exact Jaccard, so candidate RECALL
    is the only quality risk — this entry puts a number on it.

    Scale: ground truth is inherently all-pairs, so it runs on a
    bounded sample (doc_id % 10) through the same block-pair
    partitioning as ``neardup_pairs_blocked`` — every unordered block
    pair is one join group, a task's working set is two blocks, no
    cartesian task, no broadcast of the sample. The banding side is
    the production portable chain (16 md5 min-hashes, 4 bands) over
    the same sample. Both pair sets are output-bounded; the final
    metric agg is one full-outer join of pair keys + one row.
    """
    from ..operators.dedup import distinct_tokens, jaccard, minhash_lsh_pairs

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _EVAL_SAMPLE_MOD == 0
    )
    from .artifacts import stage_artifact

    # feeds truth + banding branches — storage seam (VERDICT r5 #7)
    base = stage_artifact(
        d.select(
            F.col("doc_id").alias("id"), distinct_tokens("text").alias("toks")
        ),
        "lsh_recall_sample",
    )

    # ground truth: blocked all-pairs exact Jaccard over the sample
    blk = base.withColumn("b", F.pmod(F.xxhash64("id"), F.lit(_EVAL_BLOCKS)))
    a = blk.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("b").alias("p"),
        F.explode(F.sequence(F.col("b"), F.lit(_EVAL_BLOCKS - 1))).alias("q"),
    )
    bb = blk.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.explode(F.sequence(F.lit(0), F.col("b"))).alias("p"),
        F.col("b").alias("q"),
    )
    truth = (
        a.join(bb, ["p", "q"])
        .filter((F.col("p") < F.col("q")) | (F.col("id_a") < F.col("id_b")))
        .filter(
            F.round(jaccard(F.col("toks_a"), F.col("toks_b")), 6)
            >= _EVAL_THRESHOLD
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )

    # production banding chain over the same sample, stopped at the
    # deduplicated candidates (empty token sets carry no hashes —
    # dropped, mirroring the oracle's natural drop)
    cand = minhash_lsh_pairs(
        base.filter(F.size("toks") > 0), "id", "toks", threshold=None,
        hash_family="portable", tokens=F.col("toks"),
    )

    joined = truth.withColumn("in_t", F.lit(1)).join(
        cand.withColumn("in_c", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    n_truth = F.count("in_t").cast("bigint")
    n_cand = F.count("in_c").cast("bigint")
    n_tp = (
        F.sum((F.col("in_t").isNotNull() & F.col("in_c").isNotNull()).cast("int"))
        .cast("bigint")
    )
    return joined.agg(
        n_truth.alias("n_truth"),
        n_cand.alias("n_candidates"),
        n_tp.alias("n_tp"),
        F.when(
            n_cand > 0, F.round(n_tp.cast("double") / n_cand.cast("double"), 6)
        ).alias("precision"),
        F.when(
            n_truth > 0, F.round(n_tp.cast("double") / n_truth.cast("double"), 6)
        ).alias("recall"),
    )


LSH_RECALL_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id % {_EVAL_SAMPLE_MOD} = 0
), truth AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM d a JOIN d b ON a.id < b.id
  WHERE ROUND(len(list_intersect(a.toks, b.toks)) * 1.0 /
        greatest(len(a.toks) + len(b.toks)
                 - len(list_intersect(a.toks, b.toks)), 1), 6)
        >= {_EVAL_THRESHOLD}
), e AS (
  SELECT id, unnest(toks) AS tok FROM d
), h AS (
  SELECT id, s.seed,
    MIN(('0x' || substr(md5(s.seed::VARCHAR || '|' || tok), 1, 15))::BIGINT)
      AS mh
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY id, s.seed
), bands AS (
  SELECT id, seed // 4 AS band,
    md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bkey
  FROM h GROUP BY id, seed // 4
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
), j AS (
  SELECT coalesce(t.id_a, c.id_a) AS id_a,
         coalesce(t.id_b, c.id_b) AS id_b,
         t.id_a IS NOT NULL AS in_t, c.id_a IS NOT NULL AS in_c
  FROM truth t
  FULL OUTER JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT
  SUM(CASE WHEN in_t THEN 1 ELSE 0 END)::BIGINT AS n_truth,
  SUM(CASE WHEN in_c THEN 1 ELSE 0 END)::BIGINT AS n_candidates,
  SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END)::BIGINT AS n_tp,
  CASE WHEN SUM(CASE WHEN in_c THEN 1 ELSE 0 END) > 0 THEN
    ROUND(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END)::DOUBLE
          / SUM(CASE WHEN in_c THEN 1 ELSE 0 END)::DOUBLE, 6)
  END AS precision,
  CASE WHEN SUM(CASE WHEN in_t THEN 1 ELSE 0 END) > 0 THEN
    ROUND(SUM(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END)::DOUBLE
          / SUM(CASE WHEN in_t THEN 1 ELSE 0 END)::DOUBLE, 6)
  END AS recall
FROM j
"""


# ------------------------------------------ sliding HLL distinct


def hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per TRAILING 7-day window, via merged HyperLogLog
    register states — the query that shows WHY mergeable sketches earn
    their keep at 100 TB: exact sliding distinct must re-scan every
    window's raw rows (7× read amplification, unbounded per-window
    state), while HLL keeps 256 bytes per day and merges windows by
    ``max`` per register. Same portable register algebra as
    :func:`hll_distinct_portable`; the merge is the window function.

    Plan: one (day, register) aggregation over the events; densify
    against the 256-register grid (a broadcast dimension, constant
    size); one RANGE window (6 preceding days) per register; one
    day-level aggregation. Everything before the final division is
    exact integer arithmetic.
    """
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    e = ev.select(
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("di"),
        h.alias("h"),
    )
    r = e.select(
        "di",
        (F.col("h") % _HLL_M).alias("reg"),
        F.expr(f"shiftright(h, {_HLL_P})").alias("w"),
    ).select(
        "di",
        "reg",
        F.when(F.col("w") == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.bin("w")))
        .alias("rho"),
    )
    m = r.groupBy("di", "reg").agg(F.max("rho").alias("m_rho"))
    days = e.select("di").distinct()
    regs = spark.range(_HLL_M).select(F.col("id").cast("int").alias("reg"))
    grid = days.crossJoin(F.broadcast(regs))
    j = grid.join(m, ["di", "reg"], "left")
    from pyspark.sql import Window

    w7 = Window.partitionBy("reg").orderBy("di").rangeBetween(-6, 0)
    merged = j.select("di", "reg", F.max("m_rho").over(w7).alias("m7"))
    s = merged.groupBy("di").agg(
        F.count("m7").cast("bigint").alias("n_regs_hit"),
        F.sum(
            F.when(F.col("m7").isNull(), F.lit(1 << 53)).otherwise(
                F.expr("shiftleft(cast(1 as bigint), cast(53 - m7 as int))")
            )
        )
        .cast("bigint")
        .alias("stot"),
    )
    v = F.lit(_HLL_M) - F.col("n_regs_hit")
    raw = F.lit(_HLL_C) / F.col("stot").cast("double")
    est = F.when(
        (v > 0) & (raw <= F.lit(_HLL_SMALL)),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return s.select(
        "di", "n_regs_hit", F.round(est, 4).alias("hll_7d_estimate")
    )


HLL_SLIDING_SQL = f"""
WITH e AS (
  SELECT (FLOOR(epoch(ts))::BIGINT // 86400) AS di,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
  FROM events
), r AS (
  SELECT di, h % {_HLL_M} AS reg,
         CASE WHEN (h >> {_HLL_P}) = 0 THEN 53
              ELSE 53 - length(bin(h >> {_HLL_P})) END AS rho
  FROM e
), m AS (
  SELECT di, reg, MAX(rho) AS m_rho FROM r GROUP BY 1, 2
), days AS (SELECT DISTINCT di FROM e),
grid AS (
  SELECT d.di, g.reg
  FROM days d CROSS JOIN
       (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS reg) g
), j AS (
  SELECT grid.di, grid.reg, m.m_rho
  FROM grid LEFT JOIN m ON grid.di = m.di AND grid.reg = m.reg
), w AS (
  SELECT di, reg,
         MAX(m_rho) OVER (PARTITION BY reg ORDER BY di
                          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS m7
  FROM j
), s AS (
  SELECT di, COUNT(m7)::BIGINT AS n_regs_hit,
         SUM(CASE WHEN m7 IS NULL THEN {1 << 53}::BIGINT
                  ELSE 1::BIGINT << (53 - m7) END)::BIGINT AS stot
  FROM w GROUP BY di
)
SELECT di, n_regs_hit,
  ROUND(CASE
    WHEN ({_HLL_M} - n_regs_hit) > 0
     AND {_HLL_C!r} / stot::DOUBLE <= {_HLL_SMALL!r}
    THEN {float(_HLL_M)!r} * LN({float(_HLL_M)!r}
           / ({_HLL_M} - n_regs_hit)::DOUBLE)
    ELSE {_HLL_C!r} / stot::DOUBLE
  END, 4) AS hll_7d_estimate
FROM s
"""

# ------------------------------------------------ LOO target encoding


def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature — the
    leak-aware way to turn ``c_mktsegment`` into a numeric feature:
    each row's encoding is the mean target (account balance) of its
    OWN category EXCLUDING the row itself, so the feature never
    memorizes its own label (the companion, at the fold level, is
    ``fold_assignment_leakfree``).

    Determinism: LOO mean = (S − x)/(n − 1) with S an exact DECIMAL
    sum and x exact (2-dp money) — one float division per row, no
    float accumulation across partitions. Scale: one category-sized
    aggregation broadcast back over the rows; no window, no
    per-category shuffle of the fact side.
    """
    from ..functions.numeric import _dec

    c = load_table(spark, sf_dir, "customer")
    segs = c.groupBy("c_mktsegment").agg(
        F.sum(_dec("c_acctbal")).alias("s_dec"),
        F.count(F.lit(1)).cast("bigint").alias("n_seg"),
    )
    j = c.join(F.broadcast(segs), "c_mktsegment")
    return j.select(
        "c_custkey",
        "c_mktsegment",
        "n_seg",
        F.when(
            F.col("n_seg") > 1,
            F.round(
                (F.col("s_dec") - _dec("c_acctbal")).cast("double")
                / (F.col("n_seg") - 1).cast("double"),
                6,
            ),
        ).alias("loo_enc"),
    )


TARGET_ENCODING_SQL = """
WITH s AS (
  SELECT c_mktsegment,
         SUM(CAST(c_acctbal AS DECIMAL(20,8))) AS s_dec,
         COUNT(*)::BIGINT AS n_seg
  FROM customer GROUP BY 1
)
SELECT c.c_custkey, c.c_mktsegment, s.n_seg,
  CASE WHEN s.n_seg > 1 THEN
    ROUND(CAST(CAST(s.s_dec - CAST(c.c_acctbal AS DECIMAL(20,8)) AS VARCHAR)
               AS DOUBLE) / (s.n_seg - 1)::DOUBLE, 6)
  END AS loo_enc
FROM customer c JOIN s USING (c_mktsegment)
"""

# ------------------------------------------------ KS two-sample drift

_KS_CRIT_95 = 1.358  # c(alpha) for alpha = 0.05


def ks_test_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type: split
    the stream at its time midpoint and compare early-vs-late value
    distributions — the exact-statistic companion to the binned
    ``psi_value_drift`` (PSI needs bin choices; KS is bin-free).

    Determinism: the KS statistic is computed ENTIRELY in integer
    arithmetic — D = max |cumA·nB − cumB·nA| over the merged distinct
    values, divided ONCE by nA·nB at the end — so no float
    accumulation ever crosses a shuffle. The 95% critical value is one
    sqrt (correctly-rounded IEEE) mirrored in the oracle.

    Scale: one (type, value) pre-aggregation collapses the window
    input to distinct values; the cumulative window then runs per
    event type — parallelism is bounded by type cardinality, so a
    wide-type deployment would pre-bucket values (the PSI entry's
    shape) or range-repartition within type. No global sort.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("at"))
    )
    mid_frame = ev.agg(
        F.floor((F.min("at") + F.max("at")) / 2).cast("bigint").alias("mid")
    )
    counts = (
        ev.crossJoin(F.broadcast(mid_frame))
        .groupBy("event_type", "value")
        .agg(
            F.sum((F.col("at") < F.col("mid")).cast("int")).cast("bigint").alias("ca"),
            F.sum((F.col("at") >= F.col("mid")).cast("int")).cast("bigint").alias("cb"),
        )
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    stepped = counts.select(
        "event_type",
        F.sum("ca").over(wcum).alias("cuma"),
        F.sum("cb").over(wcum).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    agg = stepped.groupBy("event_type").agg(
        F.max("na").alias("n_early"),
        F.max("nb").alias("n_late"),
        F.max(
            F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na"))
        ).alias("dmax"),
    )
    ks_d = F.round(
        F.col("dmax").cast("double")
        / (F.col("n_early") * F.col("n_late")).cast("double"),
        6,
    )
    ks_crit = F.round(
        F.lit(_KS_CRIT_95)
        * F.sqrt(
            (F.col("n_early") + F.col("n_late")).cast("double")
            / (F.col("n_early") * F.col("n_late")).cast("double")
        ),
        6,
    )
    return agg.select(
        "event_type",
        "n_early",
        "n_late",
        ks_d.alias("ks_d"),
        ks_crit.alias("ks_crit"),
        (ks_d > ks_crit).alias("drifted"),
    )


KS_DRIFT_SQL = f"""
WITH e AS (
  SELECT event_type, value, FLOOR(epoch(ts))::BIGINT AS at
  FROM events WHERE value IS NOT NULL
), b AS (SELECT (MIN(at) + MAX(at)) // 2 AS mid FROM e),
c AS (
  SELECT event_type, value,
    SUM(CASE WHEN at < mid THEN 1 ELSE 0 END)::BIGINT AS ca,
    SUM(CASE WHEN at >= mid THEN 1 ELSE 0 END)::BIGINT AS cb
  FROM e CROSS JOIN b GROUP BY 1, 2
), w AS (
  SELECT event_type,
    SUM(ca) OVER (PARTITION BY event_type ORDER BY value
                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cuma,
    SUM(cb) OVER (PARTITION BY event_type ORDER BY value
                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cumb,
    SUM(ca) OVER (PARTITION BY event_type)::BIGINT AS na,
    SUM(cb) OVER (PARTITION BY event_type)::BIGINT AS nb
  FROM c
)
SELECT event_type, MAX(na) AS n_early, MAX(nb) AS n_late,
  ROUND(MAX(abs(cuma * nb - cumb * na))::DOUBLE
        / (MAX(na) * MAX(nb))::DOUBLE, 6) AS ks_d,
  ROUND({_KS_CRIT_95!r} * sqrt((MAX(na) + MAX(nb))::DOUBLE
        / (MAX(na) * MAX(nb))::DOUBLE), 6) AS ks_crit,
  ROUND(MAX(abs(cuma * nb - cumb * na))::DOUBLE
        / (MAX(na) * MAX(nb))::DOUBLE, 6)
    > ROUND({_KS_CRIT_95!r} * sqrt((MAX(na) + MAX(nb))::DOUBLE
        / (MAX(na) * MAX(nb))::DOUBLE), 6) AS drifted
FROM w GROUP BY event_type
"""

# ------------------------------------------------ zone-map pruning

_ZM_ROWS_PER_FILE = 1000
_ZM_CK_LO, _ZM_CK_HI = 40, 80  # custkey rectangle [lo, hi)
_ZM_PQ_LO, _ZM_PQ_HI = 2000, 6000  # quantized-price rectangle [lo, hi)


def zonemap_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY Z-order: simulate per-file zone maps (min/max column stats)
    under two physical layouts of the same table — insertion order vs
    Morton Z-order on (custkey, quantized price) — and measure how many
    files a 2-D rectangle predicate must actually read. Natural order
    gives tight stats on the insertion key only, so a rectangle on two
    OTHER columns hits nearly every file; Z-order keeps both dimensions
    locally bounded per file, so most files are skipped. Output per
    layout: file/row counts, rows scanned vs rows matching, and the
    read amplification — the number the layout operator
    (``operators/layout.py::zorder_layout``) exists to shrink.

    Scale: file ids come from the two-phase bucketed global index (no
    single-partition sort); zone-map stats are one hash aggregation per
    layout; everything else is integer arithmetic on file summaries.
    """
    from ..operators.layout import global_row_index, morton_z16

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") / 32).cast("bigint").alias("price_q"),
    )
    base = o.withColumn("zval", morton_z16(F.col("o_custkey"), F.col("price_q")))
    lay_nat = global_row_index(base, key="o_orderkey").withColumn(
        "layout", F.lit("natural")
    )
    lay_z = global_row_index(base, key="zval", tiebreak=("o_orderkey",)).withColumn(
        "layout", F.lit("zorder")
    )
    both = lay_nat.unionByName(lay_z).withColumn(
        "file_id", F.floor((F.col("global_idx") - 1) / _ZM_ROWS_PER_FILE)
    )
    match = (
        (F.col("o_custkey") >= _ZM_CK_LO)
        & (F.col("o_custkey") < _ZM_CK_HI)
        & (F.col("price_q") >= _ZM_PQ_LO)
        & (F.col("price_q") < _ZM_PQ_HI)
    )
    per_file = both.groupBy("layout", "file_id").agg(
        F.min("o_custkey").alias("ck_min"),
        F.max("o_custkey").alias("ck_max"),
        F.min("price_q").alias("pq_min"),
        F.max("price_q").alias("pq_max"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(match.cast("int")).cast("bigint").alias("n_match"),
    )
    hit = (
        (F.col("ck_max") >= _ZM_CK_LO)
        & (F.col("ck_min") < _ZM_CK_HI)
        & (F.col("pq_max") >= _ZM_PQ_LO)
        & (F.col("pq_min") < _ZM_PQ_HI)
    )
    scanned = F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).cast("bigint")
    matching = F.sum("n_match").cast("bigint")
    return per_file.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(hit.cast("int")).cast("bigint").alias("n_files_read"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        scanned.alias("n_rows_scanned"),
        matching.alias("n_rows_matching"),
        F.when(
            matching > 0, F.round(scanned.cast("double") / matching.cast("double"), 4)
        ).alias("read_amplification"),
    )


def _zonemap_sql() -> str:
    from ..operators.layout import morton_z16_sql

    z = morton_z16_sql("o_custkey", "CAST(floor(o_totalprice / 32) AS BIGINT)")
    pred = (
        f"o_custkey >= {_ZM_CK_LO} AND o_custkey < {_ZM_CK_HI} "
        f"AND price_q >= {_ZM_PQ_LO} AND price_q < {_ZM_PQ_HI}"
    )
    hit = (
        f"ck_max >= {_ZM_CK_LO} AND ck_min < {_ZM_CK_HI} "
        f"AND pq_max >= {_ZM_PQ_LO} AND pq_min < {_ZM_PQ_HI}"
    )
    return f"""
WITH b AS (
  SELECT o_orderkey, o_custkey,
         CAST(floor(o_totalprice / 32) AS BIGINT) AS price_q,
         {z} AS zval
  FROM orders
), lay AS (
  SELECT 'natural' AS layout,
         row_number() OVER (ORDER BY o_orderkey) AS gi, o_custkey, price_q
  FROM b
  UNION ALL
  SELECT 'zorder',
         row_number() OVER (ORDER BY zval, o_orderkey), o_custkey, price_q
  FROM b
), f AS (
  SELECT layout, (gi - 1) // {_ZM_ROWS_PER_FILE} AS file_id,
         MIN(o_custkey) AS ck_min, MAX(o_custkey) AS ck_max,
         MIN(price_q) AS pq_min, MAX(price_q) AS pq_max,
         COUNT(*)::BIGINT AS n_rows,
         SUM(CASE WHEN {pred} THEN 1 ELSE 0 END)::BIGINT AS n_match
  FROM lay GROUP BY 1, 2
)
SELECT layout, COUNT(*)::BIGINT AS n_files,
  SUM(CASE WHEN {hit} THEN 1 ELSE 0 END)::BIGINT AS n_files_read,
  SUM(n_rows)::BIGINT AS n_rows,
  SUM(CASE WHEN {hit} THEN n_rows ELSE 0 END)::BIGINT AS n_rows_scanned,
  SUM(n_match)::BIGINT AS n_rows_matching,
  CASE WHEN SUM(n_match) > 0 THEN
    ROUND(SUM(CASE WHEN {hit} THEN n_rows ELSE 0 END)::DOUBLE
          / SUM(n_match)::DOUBLE, 4)
  END AS read_amplification
FROM f GROUP BY layout
"""


_TRIM_PCT = 10  # trim this percent from EACH tail


def trimmed_mean_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of event cents per type — the robust location
    estimate between the mean (`agg_battery`) and the median
    (`percentile_battery`): rank-select the middle 80% (drop ⌊n·0.1⌋
    from each tail, pure integer bounds, ties broken by event_id) and
    average exactly.

    Determinism: trim bounds are integer arithmetic on exact ranks;
    the trimmed sum is an exact bigint; one final division.

    Scale: one rank window per type (partition-parallel) + one
    aggregate — same shape as `percentile_battery`'s exact path.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.withColumn("r", F.row_number().over(w).cast("bigint")).withColumn(
        "n", F.count(F.lit(1)).over(wn).cast("bigint")
    )
    lo = F.expr(f"n * {_TRIM_PCT} DIV 100")  # drop ranks ≤ lo
    kept = ranked.filter(
        (F.col("r") > lo) & (F.col("r") <= F.col("n") - lo)
    )
    return kept.groupBy("event_type").agg(
        F.max("n").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.round(
            F.sum("cents").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("trimmed_mean_cents"),
    )


TRIMMED_MEAN_SQL = f"""
WITH ranked AS (
  SELECT event_type,
    (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT AS cents,
    row_number() OVER (PARTITION BY event_type
      ORDER BY (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT, event_id)::BIGINT
      AS r,
    (COUNT(*) OVER (PARTITION BY event_type))::BIGINT AS n
  FROM events
)
SELECT event_type, MAX(n) AS n_total, COUNT(*)::BIGINT AS n_kept,
  ROUND(SUM(cents)::DOUBLE / COUNT(*)::DOUBLE, 6) AS trimmed_mean_cents
FROM ranked
WHERE r > n * {_TRIM_PCT} // 100 AND r <= n - n * {_TRIM_PCT} // 100
GROUP BY event_type
"""


_WINSOR_PCT = 5


def winsorized_mean_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean of event cents per type — the robust-location
    sibling of ``trimmed_mean_cents`` that CLAMPS the tails to the
    p5/p95 order statistics instead of dropping them (keeps n constant,
    the estimator of choice when the tail rows carry weight you must
    not discard). Ranks come from ``grouped_row_index``
    (operators/layout.py), NOT ``row_number() OVER (PARTITION BY
    event_type)`` — with only a handful of types each partition window
    would be one giant task; the grouped two-phase numbering ranks all
    types bucket-parallel.

    Determinism: clamp thresholds are the exact order statistics at
    integer ranks lo+1 and n−lo (ties broken by event_id); every
    clamped value is an exact BIGINT; one final double division.
    """
    from ..operators.layout import grouped_row_index

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    ranked = grouped_row_index(
        ev, group="event_type", key="cents", tiebreak=("event_id",), index_col="r"
    )
    ns = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    with_n = ranked.join(F.broadcast(ns), "event_type")
    lo = F.expr(f"n * {_WINSOR_PCT} DIV 100")
    thresholds = (
        with_n.filter(
            (F.col("r") == lo + 1) | (F.col("r") == F.col("n") - lo)
        )
        .groupBy("event_type")
        .agg(
            F.min("cents").alias("__lo_val"),
            F.max("cents").alias("__hi_val"),
        )
    )
    clamped = with_n.join(F.broadcast(thresholds), "event_type").select(
        "event_type",
        "n",
        F.greatest(
            F.col("__lo_val"), F.least(F.col("__hi_val"), F.col("cents"))
        ).alias("w"),
    )
    return clamped.groupBy("event_type").agg(
        F.max("n").alias("n_total"),
        F.round(
            F.sum("w").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("winsorized_mean_cents"),
    )


WINSORIZED_MEAN_SQL = f"""
WITH ranked AS (
  SELECT event_type,
    (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT AS cents,
    row_number() OVER (PARTITION BY event_type
      ORDER BY (CAST(value AS DECIMAL(12,2)) * 100)::BIGINT, event_id)::BIGINT
      AS r,
    (COUNT(*) OVER (PARTITION BY event_type))::BIGINT AS n
  FROM events
), thresholds AS (
  SELECT event_type, MIN(cents) AS lo_val, MAX(cents) AS hi_val
  FROM ranked
  WHERE r = n * {_WINSOR_PCT} // 100 + 1 OR r = n - n * {_WINSOR_PCT} // 100
  GROUP BY event_type
)
SELECT r.event_type, MAX(n) AS n_total,
  ROUND(SUM(greatest(lo_val, least(hi_val, cents)))::DOUBLE
        / COUNT(*)::DOUBLE, 6) AS winsorized_mean_cents
FROM ranked r JOIN thresholds USING (event_type)
GROUP BY r.event_type
"""


def register_entries(register) -> None:  # noqa: ANN001
    register("hll_distinct_portable", hll_distinct_portable, HLL_DISTINCT_SQL)
    register("trimmed_mean_cents", trimmed_mean_cents, TRIMMED_MEAN_SQL)
    register(
        "winsorized_mean_cents", winsorized_mean_cents, WINSORIZED_MEAN_SQL
    )
    register("pmi_token_pairs", pmi_token_pairs, PMI_TOKEN_SQL)
    register("purged_timeseries_cv", purged_timeseries_cv, PURGED_CV_SQL)
    register("benford_digit_profile", benford_digit_profile, BENFORD_SQL)
    register("lsh_recall_eval", lsh_recall_eval, LSH_RECALL_SQL)
    register("ks_test_drift", ks_test_drift, KS_DRIFT_SQL)
    register("zonemap_prune_stats", zonemap_prune_stats, _zonemap_sql())
    register("target_encoding_loo", target_encoding_loo, TARGET_ENCODING_SQL)
    register("hll_sliding_distinct", hll_sliding_distinct, HLL_SLIDING_SQL)
