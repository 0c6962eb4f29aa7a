"""Twin certification for the rows-only fast-path entries (VERDICT r7
#6): every xxhash64 entry that can't have a DuckDB oracle (the engine's
hash isn't portable) is pinned to its oracle-certified portable twin at
the level where equality ACTUALLY holds.

Set-equality of outputs across hash families does NOT hold — banding
collisions are a function of the hash family (measured at sf0.001:
25,459 fast pairs vs 27,910 portable pairs at identical (15, 3)
parameters, neither a subset of the other) — so these tests pin the
two halves that together certify the fast paths:

1. MACHINERY equivalence: the fast path's banding / candidate join /
   hot-bucket handling / refine / group-expansion, fed the PORTABLE
   signatures, reproduces the oracle-certified portable output
   row-for-row. Candidates depend only on signature-slice equality
   (F.hash of equal slices == equal keys, exactly as md5 of the equal
   concat), so the only untested difference left is the hash call
   itself.
2. PRECISION + exact values: the fast entry's own output is a subset
   of the brute-force truth with bit-exact jaccard values (its refine
   is exact by construction), and its recall clears the banding
   expectation floor.

Plus the one true parameter-twin: embedding_neardup_lsh's pinned
(4, 4) equals scaled_ann_params at gate scale, so the rows-only entry
must emit EXACTLY the rows of the oracle-certified
embedding_neardup_scaled.

Rows-only coverage map (where each entry's certification lives):
- dedup_minhash_lsh        → machinery + precision tests here
- dedup_incremental_fast   → machinery test here + grouped≡flat (test_dedup)
- dedup_simhash            → banding-losslessness test here (exact vs
                             brute force over its own fingerprints)
- embedding_neardup_lsh    → parameter-twin test here (≡ scaled oracle
                             entry at gate scale)
- dedup_components_fast    → ≡ components over the member pair graph
                             (test_dedup) whose pair kernel is the
                             machinery certified here
- llm_corpus_pipeline      → LSH stage = the machinery certified here;
                             gates/exact-dedup/survivor logic
                             oracle-certified end-to-end by
                             llm_corpus_pipeline_portable; survivor
                             invariants in test_corpus_pipeline
- approx_sketches          → inherently approximate: error-envelope
                             tests vs exact (test_sketches) are its
                             certification, plus mergeability tests
- dedup_shingles_fast      → shingle machinery test here (fed portable
                             signatures ≡ the oracle-certified
                             portable shingle miner at the same
                             scaled parameters)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpv_etl_code_spark.operators.textops import distinct_tokens
from hpv_etl_code_spark.sources.registry import load_table


def test_fast_lsh_machinery_reproduces_portable_output(spark, sf_dir):
    """minhash_lsh_pairs_grouped (the dedup_minhash_lsh machinery) fed
    md5 signatures + string toksets must equal the oracle-certified
    portable flat miner at the same scaled parameters —
    including the rounded jaccard values."""
    from hpv_etl_code_spark.operators.dedup import (
        FAMILIES,
        minhash_lsh_pairs,
        minhash_lsh_pairs_grouped,
    )
    from hpv_etl_code_spark.plans.shared_cache import corpus_lsh_params

    nh, bands = corpus_lsh_params(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    portable = minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.8, num_hashes=nh, bands=bands,
        hash_family="portable",
    ).select("id_a", "id_b", "jaccard")

    keyed = d.select(
        F.col("doc_id").alias("id"), distinct_tokens("text").alias("toks")
    ).withColumn("gkey", F.xxhash64(F.array_sort("toks")))
    members = keyed.select("id", "gkey")
    groups = (
        keyed.groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("gn"), F.first("toks").alias("toks"))
        .withColumn("sig", FAMILIES["portable"].signature("toks", nh))
    )
    fast_machinery = minhash_lsh_pairs_grouped(
        members,
        groups,
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        max_bucket=100_000,
    ).select("id_a", "id_b", "jaccard")

    rows = lambda df: {tuple(r) for r in df.collect()}
    got, want = rows(fast_machinery), rows(portable)
    assert got == want and got, (len(got), len(want))


def test_incremental_machinery_reproduces_portable_survivors(spark, sf_dir):
    """incremental_survivors_grouped (the dedup_incremental_fast
    machinery) fed portable-signed group frames must reproduce the
    oracle-certified flat portable survivor set
    (dedup_incremental_survivors, hash_family='portable') on the same
    batch/corpus split and parameters."""
    from hpv_etl_code_spark.operators.dedup import (
        build_corpus_index,
        dedup_incremental_survivors,
        incremental_survivors_grouped,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    flat_portable = dedup_incremental_survivors(
        new, corpus, "doc_id", "text", threshold=0.8, hash_family="portable"
    )

    new_idx = build_corpus_index(new, "doc_id", "text", hash_family="portable")
    corpus_idx = build_corpus_index(
        corpus, "doc_id", "text", hash_family="portable"
    )
    gkey = F.xxhash64(F.array_sort("toks"))

    def group(idx):
        keyed = idx.select("id", "toks", "sig").withColumn("gkey", gkey)
        return keyed.groupBy("gkey").agg(
            F.count(F.lit(1)).alias("gn"),
            F.first("toks").alias("toks"),
            F.first("sig").alias("sig"),
        )

    new_docs = new_idx.withColumn("gkey", gkey).select("id", "text", "fp", "gkey")
    grouped = incremental_survivors_grouped(
        new_docs,
        group(new_idx),
        corpus_idx.select("fp"),
        group(corpus_idx),
        threshold=0.8,
    )
    rows = lambda df: {tuple(r) for r in df.collect()}
    got, want = rows(grouped), rows(flat_portable)
    assert got == want and got, (len(got), len(want))


def test_fast_minhash_entry_precision_and_recall(spark, sf_dir):
    """dedup_minhash_lsh's own output (xxhash64, corpus-scaled params):
    every pair is a TRUE ≥0.8 pair with the bit-exact jaccard the
    brute-force truth computes (precision 1 — the refine is exact), and
    recall clears the banding expectation floor."""
    import hpv_etl_code_spark.plans.text_queries as tq
    from hpv_etl_code_spark.operators.dedup import jaccard

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", distinct_tokens("text").alias("toks")
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    truth = {
        (r.id_a, r.id_b): r.j
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("j", F.round(jaccard(F.col("ta"), F.col("tb")), 6))
        .filter(F.col("j") >= 0.8)
        .collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in tq.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert got, "empty fast output"
    extras = {k for k in got if k not in truth}
    assert extras == set(), sorted(extras)[:5]
    wrong = {k for k, v in got.items() if abs(v - truth[k]) > 1e-9}
    assert wrong == set(), sorted(wrong)[:5]
    assert len(got) / len(truth) >= 0.5, (len(got), len(truth))


def test_neardup_lsh_entry_equals_scaled_twin_at_gate_scale(spark, sf_dir):
    """embedding_neardup_lsh pins (4, 4) — exactly scaled_ann_params at
    the gate decade — so the rows-only entry must emit the SAME rows as
    the oracle-certified embedding_neardup_scaled: same seeded
    hyperplanes, same buckets, same refine."""
    from hpv_etl_code_spark.operators.similarity import scaled_ann_params
    from hpv_etl_code_spark.plans.vector_queries import (
        embedding_neardup_lsh,
        embedding_neardup_scaled,
    )

    n = load_table(spark, sf_dir, "embeddings").count()
    assert scaled_ann_params(n) == (4, 4)
    rows = lambda df: {tuple(r) for r in df.collect()}
    got = rows(embedding_neardup_lsh(spark, sf_dir))
    want = rows(embedding_neardup_scaled(spark, sf_dir))
    assert got == want and got


def test_simhash_banding_is_lossless_vs_brute_force(spark, sf_dir):
    """dedup_simhash (rows-only): with max_hamming ≤ 3 and 4 bands,
    the pigeonhole guarantees a qualifying pair shares an intact band —
    so the banded output must equal brute-force all-pairs Hamming ≤ 3
    over the same simhash values. This certifies the entire banding /
    candidate / Hamming machinery; the xxhash64 token hash is the
    definition of the fingerprint, not an approximation of anything."""
    from hpv_etl_code_spark.operators.dedup import simhash64, simhash_near_pairs

    d = load_table(spark, sf_dir, "documents")
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(d, "doc_id", "text", max_hamming=3).collect()
    }
    sh = simhash64(d, "doc_id", "text")
    a = sh.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute and banded


def test_fast_shingle_machinery_reproduces_portable_output(spark, sf_dir):
    """dedup_shingles_fast's machinery (xxhash64 shingles, grouped
    collapse, scaled banding) fed the PORTABLE md5 signatures over the
    SAME string shingles must equal the portable flat miner with
    shingle tokens at the same parameters — the shingle analog of the
    unigram machinery pin."""
    from hpv_etl_code_spark.operators.dedup import (
        FAMILIES,
        minhash_lsh_pairs,
        minhash_lsh_pairs_grouped,
    )
    from hpv_etl_code_spark.operators.textops import shingles
    from hpv_etl_code_spark.plans.shared_cache import corpus_lsh_params

    nh, bands = corpus_lsh_params(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    portable = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        hash_family="portable",
        tokens=shingles("text", 3),
    ).select("id_a", "id_b", "jaccard")

    keyed = d.select(
        F.col("doc_id").alias("id"), shingles("text", 3).alias("toks")
    ).withColumn("gkey", F.xxhash64(F.array_sort("toks")))
    members = keyed.select("id", "gkey")
    groups = (
        keyed.groupBy("gkey")
        .agg(F.count(F.lit(1)).alias("gn"), F.first("toks").alias("toks"))
        .withColumn("sig", FAMILIES["portable"].signature("toks", nh))
    )
    fast_machinery = minhash_lsh_pairs_grouped(
        members,
        groups,
        threshold=0.8,
        num_hashes=nh,
        bands=bands,
        max_bucket=100_000,
    ).select("id_a", "id_b", "jaccard")

    rows = lambda df: {tuple(r) for r in df.collect()}
    got, want = rows(fast_machinery), rows(portable)
    assert got == want and got, (len(got), len(want))
