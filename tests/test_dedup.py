"""Invariant/recall tests for the non-oracle dedup operators (MinHash
LSH, SimHash) plus exact-dedup determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from hpv_etl_code_spark.operators.dedup import (
    FAMILIES,
    exact_dedup_keepers,
    jaccard,
    minhash_lsh_pairs,
    simhash64,
    simhash_near_pairs,
)
from hpv_etl_code_spark.operators.textops import distinct_tokens
from hpv_etl_code_spark.sources.registry import load_table


def test_exact_dedup_normalizes_and_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            (1, "The  Quick Fox"),
            (2, "the quick fox"),   # same after normalization
            (3, "another doc"),
        ],
        ["doc_id", "text"],
    )
    out = {r.keeper_id: r.n_dups for r in exact_dedup_keepers(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def _truth_pairs(spark, sf_dir, threshold):
    """Brute-force ground truth: all pairs with unigram-set Jaccard ≥ t."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", distinct_tokens("text").alias("toks")
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("t_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("t_b"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("j", jaccard(F.col("t_a"), F.col("t_b")))
        .filter(F.col("j") >= threshold)
    )
    return {(r.id_a, r.id_b) for r in pairs.collect()}


def test_minhash_signatures_not_degenerate(spark, sf_dir):
    """k minhash positions must be (near-)independent hashes — guards the
    pyspark transform (element, index) lambda trap that once collapsed
    every position to one value."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import minhash_signature

    d = load_table(spark, sf_dir, "documents")
    sig = d.select(
        minhash_signature(
            F.transform(distinct_tokens("text"), lambda t: F.xxhash64(t)), 16
        ).alias("sig")
    )
    nd = sig.select(F.avg(F.size(F.array_distinct("sig"))).alias("m")).collect()[0].m
    assert nd > 12, f"signature positions look correlated (avg distinct {nd})"


def test_minhash_lsh_recall_and_precision(spark, sf_dir):
    truth = _truth_pairs(spark, sf_dir, 0.8)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            threshold=0.8,
            max_bucket=10_000,
        ).collect()
    }
    assert got, "LSH should find near-duplicates in the dense corpus"
    # precision is exact by construction (candidates verified with true Jaccard)
    assert got <= truth
    # banding recall at j≥0.8 with k=16,b=4,r=4 is ≈0.88 in expectation
    assert len(got) / max(len(truth), 1) >= 0.5


def test_chunked_hot_buckets_equal_unlimited(spark, sf_dir):
    """Chunk-splitting hot buckets redistributes work WITHOUT changing
    the result: output must equal a run where no bucket is hot."""
    d = load_table(spark, sf_dir, "documents")
    chunked = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", 0.8, max_bucket=50
        ).collect()
    }
    unlimited = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            d, "doc_id", "text", 0.8, max_bucket=10_000_000
        ).collect()
    }
    assert chunked == unlimited and chunked


def test_grouped_collapse_equals_uncollapsed(spark, sf_dir):
    """The identical-tokset collapse (tokset_groups +
    minhash_lsh_pairs_grouped) must reproduce the flat miner's output
    pair-for-pair INCLUDING est/jaccard values, at several max_bucket
    settings (hot-classification is gn-weighted)."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import (
        minhash_lsh_pairs_grouped,
        minhash_signature,
        tokset_groups,
    )
    from hpv_etl_code_spark.operators.textops import distinct_tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.transform(distinct_tokens("text"), lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).withColumn("sig", minhash_signature(F.col("toks"), 16))
    members, groups = tokset_groups(base)
    for mb in (10, 200, 10_000_000):
        flat = minhash_lsh_pairs(d, "doc_id", "text", threshold=0.8, max_bucket=mb)
        grouped = minhash_lsh_pairs_grouped(
            members, groups, threshold=0.8, max_bucket=mb
        )
        rows = lambda df: {tuple(r) for r in df.collect()}
        assert rows(flat) == rows(grouped) and flat.count() > 0


def test_incremental_grouped_equals_flat_fast(spark, sf_dir):
    """incremental_survivors_grouped must reproduce the flat fast-family
    dedup_incremental_survivors survivor set exactly (same batch/corpus
    split as the dedup_incremental_fast entry)."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental_survivors,
        incremental_survivors_grouped,
        tokset_groups,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    flat = dedup_incremental_survivors(
        new, corpus, "doc_id", "text", threshold=0.8, hash_family="fast"
    )

    new_idx = build_corpus_index(new, "doc_id", "text", hash_family="fast")
    corpus_idx = build_corpus_index(corpus, "doc_id", "text", hash_family="fast")
    _, batch_groups = tokset_groups(new_idx.select("id", "toks", "sig"))
    _, corpus_groups = tokset_groups(corpus_idx.select("id", "toks", "sig"))
    new_docs = new_idx.withColumn(
        "gkey", F.xxhash64(F.array_sort("toks"))
    ).select("id", "text", "fp", "gkey")
    grouped = incremental_survivors_grouped(
        new_docs, batch_groups, corpus_idx.select("fp"), corpus_groups, threshold=0.8
    )
    rows = lambda df: {tuple(r) for r in df.collect()}
    assert rows(flat) == rows(grouped) and flat.count() > 0


def test_simhash_identical_texts_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "spark shuffle join window group"),
            (2, "spark shuffle join window group"),       # identical
            (3, "completely different words entirely here unrelated"),
        ],
        ["doc_id", "text"],
    )
    sh = {r.id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    assert sh[1] == sh[2]
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(df, "doc_id", "text").collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_pairs_unique_and_bounded(spark, sf_dir):
    out = simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )
    rows = out.collect()
    keys = [(r.id_a, r.id_b) for r in rows]
    assert len(keys) == len(set(keys))  # deduped pairs
    assert all(r.id_a < r.id_b and r.hamming <= 3 for r in rows)


def test_incremental_dedup_survivors(spark):
    """Exact dups and near-dups of the corpus are dropped; novel docs
    survive; corpus size never enters the output."""
    from hpv_etl_code_spark.operators.dedup import dedup_incremental_survivors

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally unrelated corpus text here"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # exact dup of 1
            (11, "one two three four five six seven eight nine zero"),  # near-dup of 2
            (12, "completely fresh content nothing shared"),  # novel
        ],
        ["doc_id", "text"],
    )
    out = dedup_incremental_survivors(new, corpus, "doc_id", "text", threshold=0.8)
    assert {r["id"] for r in out.collect()} == {12}

    # empty corpus → everything survives
    empty = corpus.filter(F.lit(False))
    out2 = dedup_incremental_survivors(new, empty, "doc_id", "text", threshold=0.8)
    assert {r["id"] for r in out2.collect()} == {10, 11, 12}


def test_incremental_dedup_fast_family_semantics(spark):
    """Exact-dup drops are hash-family-independent; the fast family
    enforces the same survivor invariants."""
    from hpv_etl_code_spark.operators.dedup import dedup_incremental_survivors

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"), (11, "novel text here")],
        ["doc_id", "text"],
    )
    for fam in ("portable", "fast"):
        out = dedup_incremental_survivors(
            new, corpus, "doc_id", "text", threshold=0.8, hash_family=fam
        )
        assert {r["id"] for r in out.collect()} == {11}, fam


def test_incremental_dedup_with_prebuilt_index_round_trip(spark, sf_dir, tmp_path):
    """The steady-state path: build the corpus index once, round-trip it
    through parquet, and dedup a batch against it — output identical to
    the inline (recompute-everything) path."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental_survivors,
    )
    from hpv_etl_code_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    inline = dedup_incremental_survivors(
        batch, corpus, "doc_id", "text", threshold=0.8
    )

    idx_path = str(tmp_path / "corpus_index")
    build_corpus_index(corpus, "doc_id", "text").write.parquet(idx_path)
    prebuilt = dedup_incremental_survivors(
        batch,
        None,
        "doc_id",
        "text",
        threshold=0.8,
        corpus_index=spark.read.parquet(idx_path),
    )
    # passing both (or neither) corpus forms is rejected outright
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly one"):
        dedup_incremental_survivors(
            batch, corpus, "doc_id", "text",
            corpus_index=spark.read.parquet(idx_path),
        )
    with _pytest.raises(ValueError, match="exactly one"):
        dedup_incremental_survivors(batch, None, "doc_id", "text")
    assert inline.exceptAll(prebuilt).count() == 0
    assert prebuilt.exceptAll(inline).count() == 0
    assert prebuilt.count() > 0


def test_incremental_rejects_narrower_index_than_banding(spark, sf_dir, tmp_path):
    """ADVICE r8: banding with num_hashes WIDER than the persisted
    index's signature must raise at runtime, not silently truncate band
    keys (degraded recall). Narrower-than-index banding stays exact via
    the prefix property (covered by the round-trip test above).

    Matches on the MESSAGE, not the exception class: when AQE
    materializes several stages concurrently the raise_error surfaces
    wrapped in STAGE_MATERIALIZATION_MULTIPLE_FAILURES (a Py4JJavaError)
    instead of SparkRuntimeException — which failure count wins is
    scheduling-dependent, and pinning the class made this test flaky
    under load."""
    import pytest
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental_survivors,
        incremental_survivors_grouped,
        tokset_groups,
    )
    from hpv_etl_code_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    narrow = build_corpus_index(corpus, "doc_id", "text", num_hashes=8)
    with pytest.raises(Exception, match="signature width"):
        dedup_incremental_survivors(
            batch, None, "doc_id", "text",
            num_hashes=16, bands=4, corpus_index=narrow,
        ).count()

    # grouped path: 8-wide group signatures, 16-hash banding -> raise
    def signed(df):
        from hpv_etl_code_spark.operators.dedup import minhash_signature
        from hpv_etl_code_spark.operators.textops import distinct_tokens

        return df.select(
            F.col("doc_id").alias("id"),
            F.array_distinct(
                F.transform(distinct_tokens("text"), lambda t: F.xxhash64(t))
            ).alias("toks"),
        ).withColumn("sig", minhash_signature(F.col("toks"), 8))

    _, bg = tokset_groups(signed(batch))
    _, cg = tokset_groups(signed(corpus))
    new_docs = batch.select(
        F.col("doc_id").alias("id"), "text",
        F.md5("text").alias("fp"),
        F.xxhash64(F.array_sort(F.array_distinct(
            F.transform(
                F.split(F.trim(F.col("text")), r"\s+"), lambda t: F.xxhash64(t)
            )
        ))).alias("gkey"),
    )
    with pytest.raises(Exception, match="signature width"):
        incremental_survivors_grouped(
            new_docs, bg, corpus.select(F.md5("text").alias("fp")), cg,
            num_hashes=16, bands=4,
        ).count()


def test_grouped_paths_match_flat_on_empty_toksets(spark, sf_dir):
    """ADVICE r4: the flat path computes jaccard([],[]) = 0 (via
    greatest(union,1)) and drops empty-tokset pairs for threshold > 0;
    the grouped fast paths (within-group pair emission / same-gkey
    dooming) must exclude empty-tokset groups to stay
    output-equivalent. The standard tokenizer never yields an empty
    tokset (the empty string hashes to a token), so empty ``toks``
    arrays are injected at the signed-base level — the shape a custom
    tokenizer that strips empty/stopword-only docs would produce."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import (
        incremental_survivors_grouped,
        minhash_lsh_pairs_grouped,
        minhash_signature,
        tokset_groups,
    )
    from hpv_etl_code_spark.operators.textops import distinct_tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.transform(distinct_tokens("text"), lambda t: F.xxhash64(t))
        ).alias("toks"),
    )
    empty = spark.range(9_000_001, 9_000_004).select(
        F.col("id"), F.array().cast("array<bigint>").alias("toks")
    )
    base = base.unionByName(empty).withColumn(
        "sig", minhash_signature(F.col("toks"), 16)
    )
    members, groups = tokset_groups(base)
    # the flat miner over the same token sets: the injected ids take an
    # empty token set through the ``tokens`` override
    injected = F.col("doc_id") >= 9_000_001
    flat = minhash_lsh_pairs(
        d.unionByName(
            empty.select(F.col("id").alias("doc_id"), F.lit("").alias("text"))
        ),
        "doc_id",
        "text",
        threshold=0.8,
        max_bucket=200,
        tokens=F.when(injected, F.array().cast("array<string>")).otherwise(
            distinct_tokens("text")
        ),
    )
    grouped = minhash_lsh_pairs_grouped(members, groups, threshold=0.8)
    rows = lambda df: {tuple(r) for r in df.collect()}
    got = rows(grouped)
    assert rows(flat) == got and got
    empty_ids = {9_000_001, 9_000_002, 9_000_003}
    assert not any(a in empty_ids or b in empty_ids for a, b, *_ in got)

    # incremental same-gkey dooming: an empty-tokset batch doc whose
    # gkey matches an empty-tokset corpus group must SURVIVE (the flat
    # path's jaccard([],[]) = 0 < threshold) unless its exact
    # fingerprint is in the corpus
    def idx(df):
        keyed = df.withColumn("gkey", F.xxhash64(F.array_sort("toks")))
        _, g = tokset_groups(keyed.select("id", "toks", "sig"))
        return keyed, g

    corpus_base = base.filter(
        ((F.col("id") % 2 == 0) & (F.col("id") < 9_000_000))
        | (F.col("id") == 9_000_001)
    )
    batch_base = base.subtract(corpus_base)
    corpus_keyed, corpus_groups = idx(corpus_base)
    batch_keyed, batch_groups = idx(batch_base)
    new_docs = batch_keyed.select(
        "id",
        F.concat(F.lit("doc-"), F.col("id")).alias("text"),
        F.md5(F.concat(F.lit("doc-"), F.col("id"))).alias("fp"),
        "gkey",
    )
    survivors = incremental_survivors_grouped(
        new_docs,
        batch_groups,
        corpus_keyed.select(F.md5(F.concat(F.lit("corpus-"), F.col("id"))).alias("fp")),
        corpus_groups,
        threshold=0.8,
    )
    survivor_ids = {r.id for r in survivors.collect()}
    # 9000002/9000003 are empty-tokset batch docs; 9000001 is an
    # empty-tokset CORPUS doc sharing their gkey — they must survive
    assert {9_000_002, 9_000_003} <= survivor_ids


def test_portable_grouped_equals_flat(spark, sf_dir):
    """The portable identical-tokset collapse must reproduce the flat
    portable miner pair-for-pair INCLUDING the rounded jaccard values,
    and must exclude empty-tokset groups from the within fast path."""
    from pyspark.sql import functions as F

    from hpv_etl_code_spark.operators.dedup import minhash_lsh_pairs_grouped
    from hpv_etl_code_spark.operators.textops import distinct_tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    flat = minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.8, hash_family="portable"
    )

    keyed = d.select(
        F.col("doc_id").alias("id"), distinct_tokens("text").alias("toks")
    ).withColumn(
        "gkey", F.xxhash64(F.array_sort(F.transform("toks", lambda t: F.xxhash64(t))))
    )
    members = keyed.select("id", "gkey")
    pgroups = keyed.groupBy("gkey").agg(
        F.count(F.lit(1)).alias("gn"), F.first("toks").alias("toks")
    ).withColumn("sig", FAMILIES["portable"].signature("toks", 16))
    grouped = minhash_lsh_pairs_grouped(
        members, pgroups, threshold=0.8, hash_family="portable"
    )
    rows = lambda df: {tuple(r) for r in df.collect()}
    assert rows(flat) == rows(grouped) and flat.count() > 0


def test_group_graph_components_equal_member_graph(spark, sf_dir):
    """dedup_components_portable now contracts identical-tokset groups
    to single nodes before the component fixpoint; the (doc_id,
    component) output must equal components over the full member pair
    list — including min-doc labels, pairless-singleton exclusion and
    empty-tokset exclusion. Round 8: the entry bands with corpus-sized
    parameters (corpus_lsh_params), so the flat member-graph reference
    must mine pairs at the SAME regime — the (16, 4) pin
    (dedup_minhash_portable) is a different banding by design."""
    import hpv_etl_code_spark.plans.text_queries as tq
    from hpv_etl_code_spark.operators.components import connected_components
    from hpv_etl_code_spark.plans.shared_cache import corpus_lsh_params

    grouped = tq.dedup_components_portable(spark, sf_dir)
    nh, bands = corpus_lsh_params(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    member_pairs = minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.8, num_hashes=nh, bands=bands,
        hash_family="portable",
    )
    flat = connected_components(member_pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    rows = lambda df: {tuple(r) for r in df.collect()}
    got = rows(grouped)
    assert got == rows(flat) and got


def test_lsh_params_for_scales_with_corpus():
    """The round-7 sizing helper: the false-positive budget binds r to
    grow with corpus size (constant-parameter banding is FP-quadratic —
    SCALING.md round-7 finding), while recall just above the threshold
    stays over the floor (default 0.9 since round 8 — the measured-good
    r=8/r=10 class; 0.99 forces r>=13 at t=0.8) and the S-curve
    midpoint sits at the threshold."""
    from hpv_etl_code_spark.operators.dedup import lsh_params_for

    prev_r = 0
    for n in (10_000, 500_000, 50_000_000, 5_000_000_000):
        num_hashes, bands = lsh_params_for(n, threshold=0.8,
                                           baseline_jaccard=0.2)
        r = num_hashes // bands
        assert num_hashes == r * bands
        assert r >= prev_r, (n, r, prev_r)
        prev_r = r
        # recall just above the threshold clears the (default) floor
        recall = 1 - (1 - 0.9**r) ** bands
        assert recall >= 0.9, (n, r, bands, recall)
        # FP budget honored
        assert n * bands * 0.2**r <= 1.0 + 1e-9
    # the sf10 rehearsal regime (393.5k tokset groups) needs r >= 8
    nh, b = lsh_params_for(393_500, threshold=0.8, baseline_jaccard=0.2)
    assert nh // b >= 8, (nh, b)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_params_for(1000, threshold=0.8, baseline_jaccard=0.9)


def test_scaled_lsh_params_decade_steps():
    """The round-8 default-path seam: decade rounding makes the regime a
    step function of corpus magnitude (stable under row-count drift
    inside a decade) and monotone non-decreasing in r across decades.
    The documented bench-scale regimes are pinned — the components
    oracle (plans/text_queries.py::_GATE_NH/_GATE_BANDS) embeds the
    sf0.01 value, so a drift here is an oracle break, not a tweak."""
    from hpv_etl_code_spark.operators.dedup import scaled_lsh_params

    # stable within a decade
    assert scaled_lsh_params(101) == scaled_lsh_params(1000)
    assert scaled_lsh_params(1001) == scaled_lsh_params(10_000)
    # pinned bench-scale regimes (sf0.01 / sf0.1 / sf1 / sf10)
    assert scaled_lsh_params(500) == (15, 3)
    assert scaled_lsh_params(5_000) == (35, 5)
    assert scaled_lsh_params(50_000) == (63, 7)
    assert scaled_lsh_params(500_000) == (90, 9)
    # the 0.9-threshold regime (corpus pipeline) is always narrower
    # than the 0.8 width whose signature it shares (prefix property)
    for n in (500, 5_000, 50_000, 500_000, 5_000_000):
        assert scaled_lsh_params(n, 0.9)[0] <= scaled_lsh_params(n, 0.8)[0]


def test_minhash_oracle_builder_default_matches_literal():
    """The parameterized oracle builder must reproduce the certification
    literal exactly at its defaults — a drift here would silently change
    what dedup_minhash_portable is checked against."""
    from hpv_etl_code_spark.plans.text_queries import (
        DEDUP_MINHASH_PORTABLE_SQL,
        _minhash_portable_sql,
    )

    assert _minhash_portable_sql().strip() == DEDUP_MINHASH_PORTABLE_SQL.strip()
    scaled = _minhash_portable_sql(num_hashes=32, rows_per_band=8)
    assert "generate_series(0, 31)" in scaled and "seed // 8" in scaled


def test_fast_components_equal_member_graph(spark, sf_dir):
    """dedup_components_fast (round 8 — the xxhash64 production
    components path over the shared-cache group frame) must equal
    connected components over the member pair list mined at the SAME
    corpus-sized parameters (dedup_minhash_lsh's output) — group
    contraction preserves connectivity and min-doc labels."""
    import hpv_etl_code_spark.plans.text_queries as tq
    from hpv_etl_code_spark.operators.components import connected_components

    grouped = tq.dedup_components_fast(spark, sf_dir)
    member_pairs = tq.dedup_minhash_lsh(spark, sf_dir)
    flat = connected_components(member_pairs, src="id_a", dst="id_b").select(
        F.col("id").alias("doc_id"), "component"
    )
    rows = lambda df: {tuple(r) for r in df.collect()}
    got = rows(grouped)
    assert got == rows(flat) and got


def test_shingles_expression(spark):
    """w-shingling edge cases: order preserved inside shingles, docs
    shorter than w yield the EMPTY set (Spark's descending-sequence
    trap), duplicates collapse."""
    from hpv_etl_code_spark.operators.textops import shingles

    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b"),          # shorter than w=3 -> no shingle
            (3, "x y x y x y"),  # repeated shingles collapse
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: sorted(r.sh)
        for r in df.select("doc_id", shingles("text", 3).alias("sh")).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []
    assert got[3] == ["x y x", "y x y"]


def test_doomed_equals_pair_listing(spark, sf_dir):
    """lsh_doomed_grouped (round 9, both hash families) must equal
    ``pairs.select('id_b').distinct()`` of the corresponding grouped
    pair miner — the group-minimum rule replaces the quadratic
    member-pair expansion output-identically, at several thresholds
    (cross-group doom paths only engage at lower thresholds)."""
    from hpv_etl_code_spark.operators.dedup import (
        lsh_doomed_grouped,
        minhash_lsh_pairs_grouped,
        minhash_signature,
        tokset_groups,
    )

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            F.transform(distinct_tokens("text"), lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).withColumn("sig", minhash_signature(F.col("toks"), 16))
    members, groups = tokset_groups(base)
    ids = lambda df, c: {r[0] for r in df.select(c).collect()}
    for thr in (0.5, 0.8, 0.9):
        pairs = minhash_lsh_pairs_grouped(
            members, groups, threshold=thr, max_bucket=10_000_000
        )
        doomed = lsh_doomed_grouped(
            members, groups, threshold=thr, max_bucket=10_000_000
        )
        expect = ids(pairs.select("id_b").distinct(), "id_b")
        assert ids(doomed, "id") == expect and len(expect) > 0

    pbase = d.select(
        F.col("doc_id").alias("id"), distinct_tokens("text").alias("toks")
    ).withColumn("sig", FAMILIES["portable"].signature("toks", 16))
    pmembers, pgroups = tokset_groups(pbase)
    for thr in (0.5, 0.9):
        ppairs = minhash_lsh_pairs_grouped(
            pmembers, pgroups, threshold=thr, hash_family="portable"
        )
        pdoomed = lsh_doomed_grouped(
            pmembers, pgroups, threshold=thr, hash_family="portable"
        )
        pexpect = ids(ppairs.select("id_b").distinct(), "id_b")
        assert ids(pdoomed, "id") == pexpect and len(pexpect) > 0


def test_portable_chunked_hot_buckets_equal_oracle(spark, sf_dir):
    """Hot-bucket chunking is output-complete for the portable family
    too: the flat portable miner with a ``max_bucket`` small enough to
    split hot buckets must equal the DuckDB twin of the unchunked
    (16, 4) banding."""
    from hpv_etl_code_spark.plans.text_queries import _minhash_portable_sql
    from tests.oracle_util import compare

    d = load_table(spark, sf_dir, "documents")
    fam = FAMILIES["portable"]
    keys = F.array(*[F.struct(F.lit(b), fam.band_key(b, 4)) for b in range(4)])
    hottest = (
        fam.signed(d, F.col("doc_id"), distinct_tokens("text"), 16)
        .select(F.explode(keys).alias("bucket"))
        .groupBy("bucket")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert hottest > 2, "fixture must hold a bucket the cap splits"
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.8, max_bucket=2, hash_family="portable"
    )
    compare(pairs, _minhash_portable_sql(16, 4), sf_dir)
