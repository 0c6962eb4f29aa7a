"""Round-4 mining/index-structure entries: portable bloom-filter
semi-join, market-basket association rules, grid-bucketed spatial
neighbor join, rolling z-score anomaly detection, and the corpus
datasheet report.

Each entry is oracle-checked (DuckDB twin reproduces every value
bit-for-bit — integer or exact-decimal arithmetic end-to-end, single
IEEE operations where doubles are unavoidable). Reference scope: the
reference pipeline (``/root/reference/src/main.py:87-119``) stops at
grouped sums; these are the north-star extensions a 100 TB
training-data/analytics platform layers on the same engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table
from .artifacts import stage_artifact

# --------------------------------------------------------------- bloom

_BLOOM_BITS = 1024  # deliberately small so false positives are visible
_BLOOM_K = 3
_WORD_BITS = 63  # bits 0..62 — bit 63 is the sign bit / DuckDB overflow


def _bloom_pos(col, i: int):
    """Portable hash position i for a key: 60-bit md5 prefix mod m —
    identical in Spark and DuckDB (same family as kmv/minhash
    portable)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), col.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_BITS
    )


def bloom_semijoin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join with a PORTABLE filter: build a 1024-bit
    k=3 bloom filter over the "hot customer" key set (c_acctbal >
    9000), probe every distinct orders customer through it, and certify
    the filter's algebra against the exact semi-join: zero false
    negatives (the bloom guarantee — the oracle hash-locks n_false_neg
    = 0) and a measured false-positive count.

    The filter is a tiny table of (word_idx, word) 63-bit words built
    with ``bit_or`` — order-independent, mergeable, broadcastable: at
    100 TB this is Spark's runtime-filter pattern (build on the dim
    side, broadcast ~128 bytes to every scan task, drop non-matching
    fact rows before the shuffle); Spark injects the same shape
    automatically via spark.sql.optimizer.runtime.bloomFilter.enabled,
    asserted in tests/test_physical_plans.py. Probe-side bit tests are
    3 broadcast lookups per key — the fact table is never shuffled.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("k")
    )

    positions = F.array(*[_bloom_pos(F.col("k"), i) for i in range(_BLOOM_K)])
    words = (
        keys.select(F.explode(positions).alias("pos"))
        .select(
            F.expr(f"pos DIV {_WORD_BITS}").alias("word_idx"),
            F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT))"
        ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
    )

    probe = orders.select(F.col("o_custkey").alias("k")).distinct()
    probe_bits = probe.select(
        "k", F.explode(positions).alias("pos")
    ).select(
        "k",
        F.expr(f"pos DIV {_WORD_BITS}").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_WORD_BITS} AS INT))"
        ).alias("mask"),
    )
    checked = probe_bits.join(F.broadcast(words), "word_idx", "left").select(
        "k",
        F.when(
            F.col("word").isNotNull()
            & (F.col("word").bitwiseAND(F.col("mask")) != 0),
            1,
        )
        .otherwise(0)
        .alias("bit_set"),
    )
    per_key = checked.groupBy("k").agg(
        (F.sum("bit_set") == _BLOOM_K).cast("int").alias("bloom_pass")
    )
    marked = per_key.join(
        F.broadcast(keys.withColumn("is_member", F.lit(1))), "k", "left"
    ).select(
        "bloom_pass", F.coalesce("is_member", F.lit(0)).alias("is_member")
    )
    summary = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
        F.sum("is_member").cast("long").alias("n_members"),
        F.sum(
            F.when((F.col("bloom_pass") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
        F.sum(
            F.when((F.col("bloom_pass") == 0) & (F.col("is_member") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_neg"),
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    return summary.crossJoin(F.broadcast(n_keys)).select(
        "n_keys", "n_probed", "n_bloom_pass", "n_members", "n_false_pos", "n_false_neg"
    )


def _bloom_pos_sql(expr: str, i: int) -> str:
    return (
        f"(('0x' || substr(md5('{i}:' || {expr}::VARCHAR), 1, 15))::BIGINT"
        f" % {_BLOOM_BITS})"
    )


BLOOM_SEMIJOIN_SQL = f"""
WITH keys AS (
  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
), key_bits AS (
  SELECT k, unnest([{_bloom_pos_sql('k', 0)}, {_bloom_pos_sql('k', 1)},
                    {_bloom_pos_sql('k', 2)}]) AS pos
  FROM keys
), words AS (
  SELECT pos // {_WORD_BITS} AS word_idx,
         bit_or(1::BIGINT << (pos % {_WORD_BITS})::INT) AS word
  FROM key_bits GROUP BY 1
), probe AS (
  SELECT DISTINCT o_custkey AS k FROM orders
), probe_bits AS (
  SELECT k, unnest([{_bloom_pos_sql('k', 0)}, {_bloom_pos_sql('k', 1)},
                    {_bloom_pos_sql('k', 2)}]) AS pos
  FROM probe
), checked AS (
  SELECT pb.k,
    CASE WHEN w.word IS NOT NULL AND (w.word & (1::BIGINT << (pb.pos % {_WORD_BITS})::INT)) <> 0
         THEN 1 ELSE 0 END AS bit_set
  FROM probe_bits pb LEFT JOIN words w ON pb.pos // {_WORD_BITS} = w.word_idx
), per_key AS (
  SELECT k, CASE WHEN SUM(bit_set) = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_pass
  FROM checked GROUP BY k
), marked AS (
  SELECT p.bloom_pass, CASE WHEN kk.k IS NULL THEN 0 ELSE 1 END AS is_member
  FROM per_key p LEFT JOIN keys kk ON p.k = kk.k
)
SELECT (SELECT COUNT(*) FROM keys)::BIGINT AS n_keys,
  COUNT(*)::BIGINT AS n_probed,
  SUM(bloom_pass)::BIGINT AS n_bloom_pass,
  SUM(is_member)::BIGINT AS n_members,
  SUM(CASE WHEN bloom_pass = 1 AND is_member = 0 THEN 1 ELSE 0 END)::BIGINT AS n_false_pos,
  SUM(CASE WHEN bloom_pass = 0 AND is_member = 1 THEN 1 ELSE 0 END)::BIGINT AS n_false_neg
FROM marked
"""


# ------------------------------------------------------ basket rules

_MIN_SUPPORT_INV = 50  # support >= 1/50 = 2%, compared in integers


_APRIORI_VOCAB_CUTOFF = 1000  # engage the basket prefilter above this |vocab|


def basket_rules_from(
    baskets: DataFrame,
    vocab_cutoff: int = _APRIORI_VOCAB_CUTOFF,
    artifact_name: str = "basket_rules_baskets",
) -> DataFrame:
    """Association rules from a ``(oid, items: array<string>)`` basket
    frame (items sorted, deduped). Pair GENERATION is row-local: each
    basket array explodes its own C(m,2) ordered pairs inside codegen —
    no basket self-join shuffle. Items below the support floor cannot
    form a frequent pair, so the final integer support cut subsumes
    apriori item pruning output-identically.

    Apriori prefilter (VERDICT r4 #5): above ``vocab_cutoff`` distinct
    items, baskets are intersected with the broadcast frequent-item set
    BEFORE pair expansion, bounding the per-basket quadratic work to
    frequent items only — output-identical (every pruned pair fails the
    support cut: n_ab ≤ n_item). Engagement is decided IN-PLAN from a
    broadcast one-row vocabulary count (no eager driver job at plan
    build), so the same lazy plan serves both regimes; the frequent set
    rides a one-row broadcast (a ≤|vocab| array — for vocabularies too
    wide to broadcast whole, the FREQUENT subset at any meaningful
    support floor is ≤ 1/floor items, e.g. ≤50 at 2%).
    """
    # the basket frame feeds FIVE plan branches (N, item counts, the
    # frequent/vocab scalars, pair expansion) — materialize it once or
    # the basket-build shuffle re-runs per branch (this was a +39%
    # bench regression when the prefilter branches landed un-persisted).
    # VERDICT r5 #7: an inline localCheckpoint(eager=True) here pinned
    # executor local disk and ran an eager action at PLAN BUILD time;
    # plans/artifacts.py stages it once per session instead, with the
    # storage the deployment picks (a checkpoint on a local master; on a
    # cluster, a durable parquet artifact that survives executor loss
    # when SPARK_GRAFT_ARTIFACT_DIR is set). ``artifact_name`` must be
    # unique per distinct basket frame within a session.
    baskets = stage_artifact(baskets, artifact_name)
    n_frame = baskets.agg(F.count(F.lit(1)).alias("n_orders"))

    item_counts = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    # one broadcastable row carrying BOTH prefilter scalars (frequent
    # set + vocabulary size) — one item_counts evaluation, not two
    # one broadcast row also carries the FREQUENT-item count map (round
    # 9): n_a/n_b used to come from two more joins against item_counts,
    # each re-running the basket-explode lineage — but every item of a
    # SURVIVING pair is frequent (n_a ≥ n_ab ≥ n_orders/support floor),
    # so a ≤1/floor-entry map can never miss, and the item_counts pass
    # runs once instead of three times.
    _is_freq = F.col("n_item") * _MIN_SUPPORT_INV >= F.col("n_orders")
    gate_frame = item_counts.crossJoin(F.broadcast(n_frame)).agg(
        F.collect_list(F.when(_is_freq, F.col("item"))).alias("freq_items"),
        F.count(F.lit(1)).alias("vocab_n"),
        F.map_from_entries(
            F.collect_list(
                F.when(_is_freq, F.struct(F.col("item"), F.col("n_item")))
            )
        ).alias("freq_counts"),
    )
    pruned = baskets.crossJoin(F.broadcast(gate_frame)).select(
        "oid",
        F.when(
            F.col("vocab_n") > vocab_cutoff,
            F.array_sort(F.array_intersect("items", "freq_items")),
        )
        .otherwise(F.col("items"))
        .alias("items"),
    )
    # row-local ordered-pair expansion: for each i, pair items[i] with
    # every later element of the sorted array
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda a, i: F.transform(
                F.slice("items", i + 2, F.size("items")),
                lambda b: F.struct(a.alias("item_a"), b.alias("item_b")),
            ),
        )
    )
    pairs = (
        pruned.select(F.explode(pair_structs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .crossJoin(F.broadcast(n_frame))
        .filter(F.col("n_ab") * _MIN_SUPPORT_INV >= F.col("n_orders"))
    )
    # round 9 (guide §2.4 remove shuffles/passes outright): the former
    # union-mirror re-evaluated the whole pair-expansion lineage once
    # per branch — the two expansion stages were the entry's top cost
    # (stage-profiled; exchange reuse does not fire across the union's
    # re-aliased branches). Exploding a two-element struct array mirrors
    # each rule ROW-LOCALLY, so the expansion runs once per query.
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                ),
            )
        ).alias("r"),
        "n_ab",
        "n_orders",
    ).select("r.antecedent", "r.consequent", "n_ab", "n_orders")
    n_a = F.element_at("freq_counts", F.col("antecedent"))
    n_b = F.element_at("freq_counts", F.col("consequent"))
    return (
        directed.crossJoin(F.broadcast(gate_frame))
        .withColumn("n_a", n_a)
        .withColumn("n_b", n_b)
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_orders").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double"), 6
            ).alias("confidence"),
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (items = part brands
    bought in one order): directional rules antecedent → consequent
    with support, confidence and lift, at min support 2%.

    One shuffle builds the baskets (groupBy order, ``collect_set`` of
    brands — the set dedupes, no separate DISTINCT pass); see
    :func:`basket_rules_from` for the row-local pair expansion and the
    wide-vocab apriori prefilter. All thresholds compare in integers
    (``n * {_MIN_SUPPORT_INV} >= N``) — no float-boundary ambiguity —
    and each output ratio is a single IEEE division, bit-identical in
    the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("oid"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
    )
    return basket_rules_from(baskets)


_ITEMSIM_K = 5


def itemsim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative similarity: top-{k} neighbors per part
    brand by co-occurrence cosine c_ab/√(c_a·c_b) over order baskets —
    the classical item-based recommender build (the directional-rule
    entry `market_basket_rules` measures implication; cosine measures
    symmetric affinity).

    Determinism: co-occurrence and item counts are exact integers;
    cosine is one double division by one IEEE sqrt of the exact product
    c_a·c_b (bigint, exactly representable far past this corpus);
    ranking breaks ties (cosine, then neighbor id) identically in both
    engines.

    Scale: the same ONE basket shuffle and row-local C(m,2) expansion
    as the rules entry (never a basket self-join); the symmetric pair
    table mirrors once (union, no shuffle), item counts broadcast, and
    top-k per item compiles to a rank window over the pair table —
    WindowGroupLimit prunes to k per item before the sort completes.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("oid"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("items"))
    )
    # feeds two branches (pair expansion + item counts): materialize
    # once — the same lesson (and the same storage seam, VERDICT r5
    # #7) as basket_rules_from
    baskets = stage_artifact(baskets, "itemsim_baskets")
    pair_structs = F.flatten(
        F.transform(
            "items",
            lambda a, i: F.transform(
                F.slice("items", i + 2, F.size("items")),
                lambda b: F.struct(a.alias("item_a"), b.alias("item_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.item_a", "p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    # round 9 (guide §2.4): the union-mirror re-evaluated the whole
    # pair-expansion lineage once per branch (exchange reuse does not
    # fire across the re-aliased union branches); exploding a
    # two-element struct array mirrors each pair ROW-LOCALLY instead.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item_a"),
                    F.col("item_b").alias("item_b"),
                ),
                F.struct(
                    F.col("item_b").alias("item_a"),
                    F.col("item_a").alias("item_b"),
                ),
            )
        ).alias("r"),
        "n_ab",
    ).select("r.item_a", "r.item_b", "n_ab")
    item_counts = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    ca = item_counts.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
    )
    cb = item_counts.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
    )
    scored = (
        sym.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .withColumn(
            "cosine",
            F.col("n_ab").cast("double")
            / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item_a").orderBy(
        F.col("cosine").desc(), F.col("item_b")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _ITEMSIM_K)
        .select(
            F.col("item_a").alias("item"),
            F.col("item_b").alias("neighbor"),
            "n_ab",
            F.col("rk").cast("bigint").alias("rk"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


itemsim_cosine_topk.__doc__ = itemsim_cosine_topk.__doc__.format(k=_ITEMSIM_K)


ITEMSIM_SQL = f"""
WITH baskets AS (
  SELECT l_orderkey AS oid, list_sort(list_distinct(list(p_brand))) AS items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY l_orderkey
), pairs AS (
  SELECT p.item_a, p.item_b, COUNT(*)::BIGINT AS n_ab
  FROM (
    SELECT unnest(flatten(list_transform(items, (a, i) ->
      list_transform(items[i+1:], b -> {{'item_a': a, 'item_b': b}})))) AS p
    FROM baskets
  ) GROUP BY 1, 2
), sym AS (
  SELECT item_a, item_b, n_ab FROM pairs
  UNION ALL
  SELECT item_b, item_a, n_ab FROM pairs
), item_counts AS (
  SELECT item, COUNT(*)::BIGINT AS n_item
  FROM (SELECT unnest(items) AS item FROM baskets) GROUP BY 1
), scored AS (
  SELECT s.item_a, s.item_b, s.n_ab,
    s.n_ab::DOUBLE / sqrt((a.n_item * b.n_item)::DOUBLE) AS cosine
  FROM sym s
  JOIN item_counts a ON s.item_a = a.item
  JOIN item_counts b ON s.item_b = b.item
)
SELECT item_a AS item, item_b AS neighbor, n_ab, rk::BIGINT AS rk,
       ROUND(cosine, 6) AS cosine
FROM (
  SELECT *, row_number() OVER (PARTITION BY item_a
              ORDER BY cosine DESC, item_b) AS rk
  FROM scored
) WHERE rk <= {_ITEMSIM_K}
"""


MARKET_BASKET_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS oid, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (
  SELECT COUNT(DISTINCT oid) AS n_orders FROM baskets
), item_counts AS (
  SELECT item, COUNT(*) AS n_item FROM baskets GROUP BY item
), frequent AS (
  SELECT item FROM item_counts, n WHERE n_item * {_MIN_SUPPORT_INV} >= n_orders
), fb AS (
  SELECT b.oid, b.item FROM baskets b SEMI JOIN frequent f ON b.item = f.item
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_ab
  FROM fb a JOIN fb b ON a.oid = b.oid AND a.item < b.item
  GROUP BY 1, 2
), freq_pairs AS (
  SELECT * FROM pairs, n WHERE n_ab * {_MIN_SUPPORT_INV} >= n_orders
), directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, n_ab, n_orders FROM freq_pairs
  UNION ALL
  SELECT item_b, item_a, n_ab, n_orders FROM freq_pairs
)
SELECT d.antecedent, d.consequent, d.n_ab,
  ROUND(d.n_ab::DOUBLE / d.n_orders::DOUBLE, 6) AS support,
  ROUND(d.n_ab::DOUBLE / ia.n_item::DOUBLE, 6) AS confidence,
  ROUND((d.n_ab * d.n_orders)::DOUBLE / (ia.n_item * ib.n_item)::DOUBLE, 6) AS lift
FROM directed d
JOIN item_counts ia ON d.antecedent = ia.item
JOIN item_counts ib ON d.consequent = ib.item
"""


# ------------------------------------------------------- spatial grid

_GRID_CELL = 2
_GRID_R2 = 4  # radius 2, compared as squared integer distance


def grid_neighbor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-threshold spatial self-join via grid bucketing: points
    on an integer plane (derived deterministically from events), pairs
    within euclidean distance 2, candidates generated ONLY between
    3×3 neighboring cells of side = radius.

    The standard distributed spatial-join shape: each point has ONE
    home cell; the probe side replicates each point to its 9 neighbor
    cells; the equi-join on cell key makes candidate generation local
    and skew-bounded (cell population), never all-pairs. Each qualifying
    pair is emitted exactly once WITHOUT a dedup shuffle: a pair (a<b)
    is kept only where a is the probe and b the home — the reverse
    orientation is filtered, and since |Δcell| ≤ 1 whenever distance ≤
    radius, coverage is complete (proved by the brute-force twin in
    tests/test_mining.py). Integer coordinates end-to-end, so the
    oracle is bit-exact.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("event_id") % 7 == 0).select(
        F.col("event_id").alias("id"),
        (F.col("user_id") % 97).alias("x"),
        (F.col("event_id") % 89).alias("y"),
    )
    home = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x DIV {_GRID_CELL}").alias("cx"),
        F.expr(f"y DIV {_GRID_CELL}").alias("cy"),
    )
    offsets = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    probe = pts.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.expr(f"x DIV {_GRID_CELL}").alias("pcx"),
        F.expr(f"y DIV {_GRID_CELL}").alias("pcy"),
        offsets.alias("o"),
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("pcx") + F.col("o.dx")).alias("cx"),
        (F.col("pcy") + F.col("o.dy")).alias("cy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(home, ["cx", "cy"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= _GRID_R2)
        .select("id_a", "id_b", "dist2")
    )


GRID_NEIGHBOR_SQL = f"""
WITH pts AS (
  SELECT event_id AS id, user_id % 97 AS x, event_id % 89 AS y
  FROM events WHERE event_id % 7 = 0
), probe AS (
  SELECT p.id AS id_a, p.x AS xa, p.y AS ya,
         p.x // {_GRID_CELL} + o.dx AS cx, p.y // {_GRID_CELL} + o.dy AS cy
  FROM pts p CROSS JOIN (
    SELECT dx, dy FROM (SELECT unnest([-1, 0, 1]) AS dx),
                       (SELECT unnest([-1, 0, 1]) AS dy)
  ) o
), home AS (
  SELECT id AS id_b, x AS xb, y AS yb,
         x // {_GRID_CELL} AS cx, y // {_GRID_CELL} AS cy
  FROM pts
)
SELECT id_a, id_b,
  (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS dist2
FROM probe JOIN home USING (cx, cy)
WHERE id_a < id_b
  AND (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= {_GRID_R2}
"""


# ---------------------------------------------------- rolling z-score

_Z_WINDOW = 12  # trailing observations per user
_Z_MIN_N = 6
_Z_CUT = 2.0


def rolling_zscores(ev: DataFrame) -> DataFrame:
    """Per-event causal rolling z-score (the shared scorer behind the
    batch census entry AND the streaming equivalence test — the
    stateful stream twin in streaming/stateful.py::zscore_stream must
    reproduce these rows exactly). Output: (event_id, event_type, z)
    for events with ≥ {_Z_MIN_N} trailing observations and positive
    variance; z rounded to 6dp."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_Z_WINDOW, -1)
    )
    vdec = F.col("value").cast("decimal(12,2)")
    scored = ev.select(
        "event_id",
        "event_type",
        "value",
        F.count("value").over(w).alias("n"),
        F.sum(vdec).over(w).alias("s1"),
        F.sum(vdec * vdec).over(w).alias("s2"),
    ).filter(F.col("n") >= _Z_MIN_N)
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    var = (F.col("s2").cast("double") - mean * mean * F.col("n").cast("double")) / (
        F.col("n").cast("double") - F.lit(1.0)
    )
    z = (F.col("value") - mean) / F.sqrt(var)
    return scored.filter(var > 1e-9).select(
        "event_id", "event_type", F.round(z, 6).alias("z")
    )


def rolling_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly detection: per user, each event's value
    is z-scored against the TRAILING {_Z_WINDOW} observations (rows
    between 12 preceding and 1 preceding — the causal frame: a point
    never scores against itself or the future), flagged at |z| > 2;
    output is the per-event-type anomaly census.

    Determinism: the window mean/variance come from EXACT decimal sums
    (value and value² as decimals — order-independent), and the final
    mean/var/z arithmetic is a fixed chain of single IEEE operations
    mirrored verbatim in the oracle. Ties in the event ordering break
    on event_id in both engines. One hash exchange on user_id serves
    the whole window chain; the frame aggregation is linear per user —
    the same plan shape at 100 TB, with AQE handling user skew.
    """
    flagged = rolling_zscores(load_table(spark, sf_dir, "events"))
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum((F.abs("z") > _Z_CUT).cast("int")).cast("long").alias("n_anomalies"),
        F.round(F.max("z"), 6).alias("max_z"),
        F.round(F.min("z"), 6).alias("min_z"),
    )


ROLLING_ZSCORE_SQL = f"""
WITH scored AS (
  SELECT event_id, event_type, value,
    COUNT(value) OVER w AS n,
    SUM(CAST(value AS DECIMAL(12,2))) OVER w AS s1,
    SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) OVER w AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_Z_WINDOW} PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT event_type,
    ROUND((value - s1::DOUBLE / n::DOUBLE)
          / sqrt((s2::DOUBLE - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) * n::DOUBLE)
                 / (n::DOUBLE - 1.0)), 6) AS z
  FROM scored
  WHERE n >= {_Z_MIN_N}
    AND (s2::DOUBLE - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) * n::DOUBLE)
        / (n::DOUBLE - 1.0) > 1e-9
)
SELECT event_type, COUNT(*)::BIGINT AS n_scored,
  SUM(CASE WHEN abs(z) > {_Z_CUT} THEN 1 ELSE 0 END)::BIGINT AS n_anomalies,
  ROUND(MAX(z), 6) AS max_z, ROUND(MIN(z), 6) AS min_z
FROM z GROUP BY event_type
"""


# ---------------------------------------------------- corpus datasheet

def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card report of a training corpus, per (source, lang):
    document/token volumes, exact-duplicate share (corpus-wide
    fingerprint collisions attributed to each slice), quality mean and
    low-quality share — the summary every corpus release ships with.

    Plan: one narrow scan computes tokens/quality/fingerprint per doc;
    corpus-wide duplicate groups come from a fingerprint aggregation
    joined back (shuffle on the md5 key, partial-agg combined); the
    final rollup is a single hash aggregate on (source, lang). Quality
    aggregates go through exact decimals (quality is 6dp-rounded, so
    the decimal cast is exact).
    """
    from ..functions.numeric import _dec
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        textops.token_count("text").alias("n_tokens"),
        textops.quality_score("text").alias("quality"),
        textops.fingerprint_md5("text").alias("fingerprint"),
    )
    fp_counts = scored.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("fp_n")
    )
    enriched = scored.join(fp_counts, "fingerprint")
    return enriched.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum((F.col("fp_n") > 1).cast("int")).cast("long").alias("n_dup_docs"),
        F.round(F.sum(_dec("quality")).cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_quality"
        ),
        F.sum((F.col("quality") < 0.2).cast("int")).cast("long").alias("n_low_quality"),
    )


def filter_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule attrition of the corpus filter cascade — the C4-style
    funnel report every pipeline run ships for observability: each
    document is attributed to the FIRST rule it fails (fixed order:
    quality floor → language allowlist → minimum length → exact-dup
    keeper), and the report is one row per stage with the drop count
    and corpus share, plus the survivor row. Rules are evaluated on the
    ORIGINAL corpus (attribution is order-of-cascade, not conditional
    re-evaluation) — the convention that makes stage counts additive to
    the corpus total.

    Plan: one narrow scoring scan, one fingerprint aggregation joined
    back for the keeper rule (the exact-dedup shape), one ≤5-group
    rollup. Shares are single divisions of exact counts."""
    from ..operators import textops

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        textops.token_count("text").alias("n_tokens"),
        textops.quality_score("text").alias("quality"),
        textops.fingerprint_md5("text").alias("fingerprint"),
    )
    keepers = scored.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_id")
    )
    tagged = scored.join(keepers, "fingerprint").select(
        F.when(F.col("quality") < 0.2, F.struct(F.lit(1).alias("s"), F.lit("quality_floor").alias("r")))
        .when(~F.col("lang").isin("en", "de", "es", "fr"), F.struct(F.lit(2).alias("s"), F.lit("lang_allowlist").alias("r")))
        .when(F.col("n_tokens") < 10, F.struct(F.lit(3).alias("s"), F.lit("min_tokens").alias("r")))
        .when(F.col("doc_id") != F.col("keeper_id"), F.struct(F.lit(4).alias("s"), F.lit("exact_dup").alias("r")))
        .otherwise(F.struct(F.lit(5).alias("s"), F.lit("survived").alias("r")))
        .alias("fate")
    )
    total = tagged.agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
    return (
        tagged.groupBy(
            F.col("fate.s").alias("stage"), F.col("fate.r").alias("rule")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(F.broadcast(total))
        .select(
            "stage",
            "rule",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("__t").cast("double"), 6
            ).alias("pct_of_corpus"),
        )
    )


def _filter_funnel_sql() -> str:
    return f"""
WITH scored AS ({_quality_sql_fragment()}),
keepers AS (
  SELECT fingerprint, MIN(doc_id) AS keeper_id FROM scored GROUP BY fingerprint
), tagged AS (
  SELECT CASE WHEN quality < 0.2 THEN 1
              WHEN lang NOT IN ('en','de','es','fr') THEN 2
              WHEN n_tokens < 10 THEN 3
              WHEN doc_id <> keeper_id THEN 4
              ELSE 5 END AS stage,
         CASE WHEN quality < 0.2 THEN 'quality_floor'
              WHEN lang NOT IN ('en','de','es','fr') THEN 'lang_allowlist'
              WHEN n_tokens < 10 THEN 'min_tokens'
              WHEN doc_id <> keeper_id THEN 'exact_dup'
              ELSE 'survived' END AS rule
  FROM scored JOIN keepers USING (fingerprint)
), total AS (SELECT COUNT(*)::BIGINT AS t FROM tagged)
SELECT stage::INT AS stage, rule, COUNT(*)::BIGINT AS n_docs,
  ROUND(COUNT(*)::DOUBLE / t::DOUBLE, 6) AS pct_of_corpus
FROM tagged CROSS JOIN total
GROUP BY stage, rule, t
"""


def _quality_sql_fragment() -> str:
    from .text_queries import _STOP_SQL

    return f"""
  SELECT doc_id, source, lang,
    len(string_split(text, ' ')) AS n_tokens,
    ROUND(0.5 * (len(list_intersect(list_distinct(string_split(text, ' ')), {_STOP_SQL['en']})) * 1.0
                 / greatest(len(list_distinct(string_split(text, ' '))), 1))
        + 0.3 * least(len(string_split(text, ' ')) / 50.0, 1.0)
        + 0.2 * (len(list_distinct(string_split(text, ' '))) * 1.0
                 / greatest(len(string_split(text, ' ')), 1)), 6) AS quality,
    md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint
  FROM documents
"""


def _corpus_datasheet_sql() -> str:
    return f"""
WITH scored AS ({_quality_sql_fragment()}),
fp_counts AS (
  SELECT fingerprint, COUNT(*) AS fp_n FROM scored GROUP BY fingerprint
), enriched AS (
  SELECT s.*, f.fp_n FROM scored s JOIN fp_counts f USING (fingerprint)
)
SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
  SUM(n_tokens)::BIGINT AS total_tokens,
  SUM(CASE WHEN fp_n > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
  ROUND(CAST(CAST(SUM(CAST(quality AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE)
        / COUNT(*), 6) AS avg_quality,
  SUM(CASE WHEN quality < 0.2 THEN 1 ELSE 0 END)::BIGINT AS n_low_quality
FROM enriched GROUP BY source, lang
"""


# ----------------------------------------------------- CV fold splits

_N_FOLDS = 5


def fold_assignment_leakfree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware cross-validation fold assignment: every event lands
    in the fold of its USER (portable md5 hash of user_id mod k), so no
    user's data straddles a train/validation boundary — the
    leakage-free split every ML data pipeline needs. The census also
    quantifies why row-level hashing is wrong: the fold = -1 summary row
    counts users whose events would scatter across folds under naive
    per-event hashing (n_users column), alongside the total event count.

    Plan: two narrow hash columns, one aggregation by fold + one by
    user for the naive-leak census — no joins, embarrassingly parallel,
    deterministic and subset-stable (a user's fold never changes as data
    grows, the property that makes incremental re-splits safe).
    """
    ev = load_table(spark, sf_dir, "events")
    fold_of = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % _N_FOLDS
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        fold_of("user_id").alias("fold"),
        fold_of("event_id").alias("naive_fold"),
    )
    per_fold = tagged.groupBy("fold").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    naive_split = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("naive_fold").alias("nf"))
        .agg(
            F.lit(-1).cast("bigint").alias("fold"),
            F.sum((F.col("nf") > 1).cast("int")).cast("long").alias("n_users"),
        )
        .crossJoin(
            F.broadcast(ev.agg(F.count(F.lit(1)).cast("long").alias("n_events")))
        )
    )
    return per_fold.unionByName(naive_split)


FOLD_ASSIGNMENT_SQL = f"""
WITH tagged AS (
  SELECT event_id, user_id,
    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % {_N_FOLDS} AS fold,
    ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % {_N_FOLDS} AS naive_fold
  FROM events
)
SELECT fold, COUNT(DISTINCT user_id)::BIGINT AS n_users,
       COUNT(*)::BIGINT AS n_events
FROM tagged GROUP BY fold
UNION ALL
SELECT -1::BIGINT, SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END)::BIGINT,
       (SELECT COUNT(*) FROM events)::BIGINT
FROM (SELECT user_id, COUNT(DISTINCT naive_fold) AS nf FROM tagged GROUP BY user_id)
"""


# ---------------------------------------------- sequential recurrence

_EWMA_ALPHA = 0.2


_EWMA_CHUNK = 32  # fixture-scale; size to ~4096 in production (see docstring)


def ewma_simple_fold(ev: DataFrame) -> DataFrame:
    """Reference EWMA: one higher-order ``aggregate`` left-fold over the
    user's ENTIRE time-ordered value array. Kept as the equivalence twin
    for :func:`ewma_user_values` (see tests/test_mining.py) — per-key
    state is the key's whole history, so this shape OOMs on
    pathologically long keys; the segmented entry below is the
    production path."""
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    per_user = ev.groupBy("user_id").agg(arr.alias("a"))
    vals = F.transform("a", lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.size(vals)),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: x * F.lit(_EWMA_ALPHA) + acc * F.lit(1.0 - _EWMA_ALPHA),
    )
    return per_user.select(
        "user_id",
        F.size("a").cast("long").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
        F.round(F.element_at(vals, -1), 6).alias("last_value"),
    )


def ewma_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming/stateful.py::ewma_stream — the simple
    whole-history fold, whose IEEE op chain the stream's O(1) carry
    applies verbatim (bit-equality locked in tests/test_stateful_ewma
    .py, same pattern as the stream_windows batch-twin entries). Also
    the second oracle-checked EWMA shape next to the segmented
    ewma_user_values entry."""
    return ewma_simple_fold(load_table(spark, sf_dir, "events"))


EWMA_SIMPLE_SQL = f"""
WITH per_user AS (
  SELECT user_id,
    list(value ORDER BY ts, event_id, value) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id,
  len(vals)::BIGINT AS n_events,
  ROUND(list_reduce(list_transform(vals, v -> v::DOUBLE),
        (acc, x) -> x * {_EWMA_ALPHA} + acc * {1.0 - _EWMA_ALPHA}), 6)
    AS ewma_value,
  ROUND(vals[-1]::DOUBLE, 6) AS last_value
FROM per_user
"""


def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user — a SEQUENTIAL
    recurrence (ewma_t = α·x_t + (1−α)·ewma_{t−1}) that no window frame
    expresses — computed as a SEGMENTED fold (VERDICT r4 #2): the
    user's history is chunked by row number, each chunk folds
    independently to a summary ``(f, p)`` with ``f = ∏(1−α)`` and
    ``p = Σ α·x_i·(1−α)^{m−i}`` (both as literal left-folds, NOT pow(),
    so the op chain is reproducible), and the summaries compose
    left-to-right as ``acc ← acc·f + p`` — the standard
    linear-recurrence-as-associative-scan decomposition.

    Determinism: the DuckDB twin executes the IDENTICAL segmented IEEE
    op chain (same chunk boundaries, same fold order, same compose
    order), so the entry hash-matches bit-for-bit. Note the segmented
    chain is NOT bit-identical to the whole-history simple fold in
    general — IEEE addition is non-associative, so reassociating the
    recurrence may differ in final ulps; equivalence to
    :func:`ewma_simple_fold` is locked at the entry's 6dp output
    contract (tests/test_mining.py, fixture + a 10⁵-event key).

    Scale: this is what clears the long-tail-entity OOM — per-chunk
    tasks hold ≤ {chunk} values and the per-user compose holds
    n/{chunk} summaries (√n memory at the default sizing; recurse the
    same decomposition for more). One exchange computes rn + the
    per-user stats; the chunk aggregation reuses the user_id hash
    partitioning (groupBy(user_id, cid) is co-partitioned). _EWMA_CHUNK
    is 32 so the fixture actually exercises multi-chunk composition;
    production sizing is ~4096 (128 KB of doubles per task).
    """
    ev = load_table(spark, sf_dir, "events")
    return ewma_segments(ev, chunk=_EWMA_CHUNK)


def ewma_segments(ev: DataFrame, chunk: int = _EWMA_CHUNK) -> DataFrame:
    """The segmented fold over an arbitrary events frame — ``chunk`` is
    the segment width; the 6dp output is chunk-size-invariant
    (property-tested against :func:`ewma_simple_fold` at several
    widths), the raw IEEE bits are not (reassociation)."""
    from pyspark.sql import Window

    a, b = float(_EWMA_ALPHA), 1.0 - _EWMA_ALPHA
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id", "ts", "event_id", F.col("value").cast("double").alias("v")
    ).withColumn("rn", F.row_number().over(w))
    stats = ordered.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min_by("v", "rn").alias("seed"),
        F.max_by("v", "rn").alias("lastv"),
    )
    ys = F.transform(F.array_sort(F.collect_list(F.struct("rn", "v"))), lambda s: s["v"])
    summaries = (
        ordered.filter(F.col("rn") >= 2)
        .withColumn("cid", F.expr(f"(rn - 2) DIV {chunk}"))
        .groupBy("user_id", "cid")
        .agg(
            F.aggregate(
                ys, F.lit(0.0), lambda acc, x: x * F.lit(a) + acc * F.lit(b)
            ).alias("p"),
            F.aggregate(ys, F.lit(1.0), lambda acc, x: acc * F.lit(b)).alias("f"),
        )
    )
    per_user = summaries.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("cid", "f", "p"))).alias("cs")
    )
    joined = stats.join(per_user, "user_id", "left")
    ewma = F.aggregate(
        F.coalesce(
            F.col("cs"),
            F.array().cast("array<struct<cid:bigint,f:double,p:double>>"),
        ),
        F.struct(F.col("seed").alias("p")),
        lambda acc, x: F.struct((acc["p"] * x["f"] + x["p"]).alias("p")),
    )["p"]
    return joined.select(
        "user_id",
        "n_events",
        F.round(ewma, 6).alias("ewma_value"),
        F.round("lastv", 6).alias("last_value"),
    )


EWMA_SQL = f"""
WITH ordered AS (
  SELECT user_id, value::DOUBLE AS v,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), stats AS (
  SELECT user_id, COUNT(*)::BIGINT AS n_events,
    min_by(v, rn) AS seed, max_by(v, rn) AS lastv
  FROM ordered GROUP BY user_id
), summaries AS (
  SELECT user_id, (rn - 2) // {_EWMA_CHUNK} AS cid,
    list_reduce(list_prepend(0.0::DOUBLE, list(v ORDER BY rn)),
                (acc, x) -> x * {_EWMA_ALPHA} + acc * {1.0 - _EWMA_ALPHA}) AS p,
    list_reduce(list_prepend(1.0::DOUBLE, list(v ORDER BY rn)),
                (acc, x) -> acc * {1.0 - _EWMA_ALPHA}) AS f
  FROM ordered WHERE rn >= 2 GROUP BY user_id, (rn - 2) // {_EWMA_CHUNK}
), per_user AS (
  SELECT user_id, list(struct_pack(f := f, p := p) ORDER BY cid) AS cs
  FROM summaries GROUP BY user_id
)
SELECT s.user_id, s.n_events,
  ROUND(list_reduce(
    list_prepend(struct_pack(f := 1.0::DOUBLE, p := s.seed),
                 COALESCE(p.cs, [])),
    (acc, x) -> struct_pack(f := x.f, p := acc.p * x.f + x.p)).p, 6)
    AS ewma_value,
  ROUND(s.lastv, 6) AS last_value
FROM stats s LEFT JOIN per_user p USING (user_id)
"""


# ------------------------------------------------- entity resolution

def golden_record_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution to GOLDEN RECORDS: blocked fuzzy
    match (brand block + lossless length prefilter + levenshtein ≤ 2,
    as ``fuzzy_blocked_pairs``) → connected components (min-label +
    pointer jumping, ``operators/components.py``) → per-cluster
    survivorship: canonical key = min part key, representative
    attributes resolved by deterministic rules (max retail price, min
    size, member count). Singletons (no fuzzy match) are their own
    cluster via a left join — the full master-data shape: every source
    record maps to exactly one golden record.

    Scale: pair generation is Σ|block|²/2 (never all-pairs), the
    component fixpoint is O(E · log diameter) pointer-jumping rounds,
    and survivorship is one hash aggregation. The whole composition is
    deterministic, so the oracle reproduces it with a recursive-CTE
    closure."""
    from ..operators.components import connected_components
    from .scale_queries import fuzzy_blocked_pairs

    p = load_table(spark, sf_dir, "part")
    pairs = fuzzy_blocked_pairs(spark, sf_dir)
    comps = connected_components(pairs, src="key_a", dst="key_b")
    clustered = p.join(
        comps, p.p_partkey == comps.id, "left"
    ).withColumn("cluster", F.coalesce("component", "p_partkey"))
    return clustered.groupBy("cluster").agg(
        F.min("p_partkey").alias("golden_key"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("p_retailprice").alias("best_price"),
        F.min("p_size").cast("long").alias("min_size"),
    )


GOLDEN_RECORD_SQL = """
WITH RECURSIVE pairs AS (
  SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
  FROM part a
  JOIN part b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
    AND levenshtein(a.p_name, b.p_name) <= 2
), sym AS (
  SELECT key_a AS src, key_b AS dst FROM pairs
  UNION ALL
  SELECT key_b, key_a FROM pairs
), nodes AS (
  SELECT DISTINCT src AS id FROM sym
), reach(node, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.node
), comps AS (
  SELECT node AS id, MIN(label) AS component FROM reach GROUP BY node
), clustered AS (
  SELECT p.p_partkey, p.p_retailprice, p.p_size,
         COALESCE(c.component, p.p_partkey) AS cluster
  FROM part p LEFT JOIN comps c ON p.p_partkey = c.id
)
SELECT cluster, MIN(p_partkey) AS golden_key, COUNT(*)::BIGINT AS n_members,
       MAX(p_retailprice) AS best_price, MIN(p_size)::BIGINT AS min_size
FROM clustered GROUP BY cluster
"""


def register_entries(register) -> None:  # noqa: ANN001 — see catalog.register
    register(
        "bloom_semijoin_portable",
        bloom_semijoin_portable,
        BLOOM_SEMIJOIN_SQL,
        headline=True,
    )
    register(
        "market_basket_rules", market_basket_rules, MARKET_BASKET_SQL, headline=True
    )
    register("grid_neighbor_join", grid_neighbor_join, GRID_NEIGHBOR_SQL)
    register("itemsim_cosine_topk", itemsim_cosine_topk, ITEMSIM_SQL)
    register("rolling_zscore_events", rolling_zscore_events, ROLLING_ZSCORE_SQL)
    register("corpus_datasheet", corpus_datasheet, _corpus_datasheet_sql())
    register("filter_funnel_report", filter_funnel_report, _filter_funnel_sql())
    register(
        "fold_assignment_leakfree", fold_assignment_leakfree, FOLD_ASSIGNMENT_SQL
    )
    register("golden_record_parts", golden_record_parts, GOLDEN_RECORD_SQL)
    register("ewma_user_values", ewma_user_values, EWMA_SQL)
    register("ewma_stream_twin", ewma_stream_twin, EWMA_SIMPLE_SQL)
