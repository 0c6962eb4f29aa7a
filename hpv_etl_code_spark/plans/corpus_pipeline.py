"""The composed LLM training-corpus pipeline — the north-star showcase
(BASELINE.json): raw documents → quality gate → language gate → exact
dedup → near-dup removal → clean corpus with features.

Stage order is deliberate for scale: cheap narrow filters (quality,
language) FIRST shrink the corpus before the shuffling stages (exact
dedup, LSH); the expensive near-dup pass runs last on the smallest set.
Every stage is a previously-tested operator — this entry proves they
compose into one lazy plan (a single job at the sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textops
from ..operators.dedup import (
    exact_dedup_keepers,
    lsh_doomed_grouped,
    minhash_lsh_pairs,
)
from ..sources.registry import load_table


def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → filtered, deduped corpus with quality/token features.

    Rows-only in the driver gate (LSH inside); invariants tested in
    tests/test_corpus_pipeline.py, incl. the pairwise-non-duplicate
    guarantee of the survivor set.

    Runs from the session-cached frames (plans/shared_cache.py), shared
    with ``dedup_minhash_lsh`` / ``dedup_incremental_fast``: the NARROW
    per-document frame (scalars + gkey — no signature payload, round 9)
    feeds the gates/exact-dedup/survivor stages, and the per-distinct-
    tokset group frame carries the MinHash signatures only into the
    banding stage — so per-entry cost is the join topology, not a
    corpus re-tokenization, and no stage moves signature bytes it
    doesn't band with.
    """
    from .shared_cache import (
        corpus_lsh_params,
        pipeline_exact_deduped,
        pipeline_grouped,
    )

    # narrow gates + exact dedup come persisted from the shared cache
    # (quality floor, language allowlist, min-id-per-fingerprint keeper)
    exact_deduped = pipeline_exact_deduped(spark, sf_dir)
    # near-dup removal last, on the smallest set, over the identical-
    # tokset-collapsed base (greedy lowest-id-wins, as lsh_dedup_keepers)
    members, groups = pipeline_grouped(spark, sf_dir)
    # Round 8 (VERDICT r7 #1): banding auto-sizes with the corpus. The
    # 0.9-threshold regime is always narrower than the 0.8-sized
    # persisted signature (for fixed r, bands≈t^-r shrinks as t grows),
    # so the prefix property lets it band off the shared sig column.
    nh, bands = corpus_lsh_params(spark, sf_dir, threshold=0.9)
    # optimization round 9: the survivor set only needs the DOOMED ids,
    # so the quadratic member-pair expansion (m² rows per m-member
    # identical cluster) is replaced by the group-minimum rule —
    # output-equal by construction (operators/dedup.py::
    # _doomed_from_rep_pairs), linear in members + refined rep pairs.
    doomed = lsh_doomed_grouped(
        members,
        groups,
        threshold=0.9,
        num_hashes=nh,
        bands=bands,
        max_bucket=100_000,
    ).select(F.col("id").alias("doc_id"))
    return exact_deduped.join(doomed, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "quality", "n_tokens", "fingerprint"
    )


def _corpus_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared quality→language→exact-dedup prefix of both variants."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        "source",
        textops.quality_score("text").alias("quality"),
        textops.token_count("text").alias("n_tokens"),
        textops.fingerprint_md5("text").alias("fingerprint"),
    )
    gated = scored.filter(
        (F.col("quality") >= 0.2) & F.col("lang").isin("en", "de", "es", "fr")
    )
    keepers = exact_dedup_keepers(gated, "text", "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    return gated.join(keepers, "doc_id", "left_semi")


def llm_corpus_pipeline_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME composed pipeline, ORACLE-CHECKED end-to-end: the
    near-dup stage uses the portable md5 MinHash family
    (operators/dedup.py::FAMILIES), so DuckDB reproduces every stage —
    quality gate, language gate, exact dedup, LSH candidates, greedy
    lowest-id-wins survivor set — bit-for-bit.

    Round 5: the LSH stage rides the portable identical-tokset collapse
    (plans/shared_cache.py::pipeline_portable_grouped +
    operators/dedup.py::lsh_doomed_grouped) — one md5
    signature chain per distinct surviving tokset; pair output is
    test-locked identical to the flat miner, so the end-to-end oracle
    is unchanged."""
    from .shared_cache import pipeline_exact_deduped, pipeline_portable_grouped

    ed = pipeline_exact_deduped(spark, sf_dir)
    members, pgroups = pipeline_portable_grouped(spark, sf_dir)
    # round 9: doomed ids via the group-minimum rule instead of the
    # quadratic member-pair expansion — output-equal (the end-to-end
    # oracle hash is unchanged; see _doomed_from_rep_pairs)
    doomed = lsh_doomed_grouped(
        members, pgroups, threshold=0.9, hash_family="portable"
    ).select(F.col("id").alias("doc_id"))
    return ed.join(doomed, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "quality", "n_tokens", "fingerprint"
    )


def _corpus_oracle_sql() -> str:
    from .text_queries import _STOP_SQL

    quality = f"""ROUND(0.5 * (len(list_intersect(dtoks, {_STOP_SQL['en']})) * 1.0
               / greatest(len(dtoks), 1))
      + 0.3 * least(len(tk) / 50.0, 1.0)
      + 0.2 * (len(dtoks) * 1.0 / greatest(len(tk), 1)), 6)"""
    return f"""
WITH base AS (
  SELECT doc_id, text, lang, source,
    string_split(text, ' ') AS tk,
    list_distinct(string_split(text, ' ')) AS dtoks
  FROM documents
), scored AS (
  SELECT doc_id, text, lang, source, dtoks,
    {quality} AS quality,
    len(tk)::INT AS n_tokens,
    md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint
  FROM base
), gated AS (
  SELECT * FROM scored
  WHERE quality >= 0.2 AND lang IN ('en', 'de', 'es', 'fr')
), ed AS (
  SELECT * FROM gated
  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY fingerprint)
), e AS (
  SELECT doc_id, unnest(dtoks) AS tok FROM ed
), h AS (
  SELECT doc_id, s.seed,
    MIN(('0x' || substr(md5(s.seed::VARCHAR || '|' || tok), 1, 15))::BIGINT) AS mh
  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, s.seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
    md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), doomed AS (
  SELECT DISTINCT id_b FROM cand
  JOIN ed ta ON ta.doc_id = cand.id_a
  JOIN ed tb ON tb.doc_id = cand.id_b
  WHERE ROUND(len(list_intersect(ta.dtoks, tb.dtoks)) * 1.0 /
        greatest(len(ta.dtoks) + len(tb.dtoks)
                 - len(list_intersect(ta.dtoks, tb.dtoks)), 1), 6) >= 0.9
)
SELECT doc_id, lang, source, quality, n_tokens, fingerprint
FROM ed WHERE doc_id NOT IN (SELECT id_b FROM doomed)
"""


#: resample budget for the selection tail of the v2 pipeline.
_SELECT_K = 150


def llm_corpus_pipeline_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 end-to-end composition, ORACLE-CHECKED through every
    stage: raw documents → quality gate → language gate → exact dedup →
    portable-MinHash near-dup survivors → **duplicated-passage strip**
    (keep-first, operators/spandedup.py) → **DSIR Gumbel top-k
    selection** over the CLEANED text (operators/dsir.py) — the full
    training-data-prep chain as ONE lazy plan.

    Stage order is the scale order: narrow gates shrink the corpus
    before any shuffle; doc-level dedup before passage work (fewer
    windows); selection last (its TakeOrdered tail is k rows). The
    passage strip feeds DSIR its ``text_clean``, so importance grams
    are computed over deduplicated passages — boilerplate mass cannot
    dominate the bucket models, which is the practical reason these
    stages compose in this order in a real pipeline.

    Certified end-to-end: every stage (including the Gumbel noise and
    the integer micro-unit weight accumulation) is md5-derived, so the
    DuckDB twin reproduces the selected set bit-for-bit."""
    from ..operators import dsir, spandedup

    g = _corpus_stages(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        g, "doc_id", "text", threshold=0.9, hash_family="portable"
    )
    doomed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    surv = g.join(doomed, "doc_id", "left_anti")

    w = spandedup.window_hashes(surv, "text", "doc_id", spandedup.K_TOKENS)
    rem = spandedup.duplicated_windows(w, "doc_id", keep_first=True)
    spans = spandedup.merge_spans(rem, "doc_id", spandedup.K_TOKENS)
    clean = spandedup.strip_spans(surv, spans, "text", "doc_id", emit_text=True)
    cdocs = clean.join(surv.select("doc_id", "lang"), "doc_id")

    is_t = (F.col("lang") == "en") & (F.col("doc_id") % 5 == 0)
    # round 9: fit and score share one explode+md5 pass (see
    # operators/dsir.py::doc_bucket_counts) — bit-identical weights,
    # one less full pass over the cleaned corpus
    dc = dsir.doc_bucket_counts(cdocs, "text_clean", "doc_id", is_t)
    lam = dsir.importance_lambda(dsir.bucket_counts_from(dc))
    wts = dsir.doc_logweights_from(dc, "doc_id", lam)
    sel = dsir.gumbel_topk(wts, "doc_id", _SELECT_K)
    return (
        sel.join(cdocs.select("doc_id", "lang", "tok_after"), "doc_id")
        .select(
            "doc_id",
            "lang",
            F.col("tok_after").alias("tok_clean"),
            F.round(F.col("logw_micro") / dsir.MICRO, 6).alias("logw"),
            F.round(F.col("key_micro") / dsir.MICRO, 6).alias("gumbel_key"),
        )
        .orderBy(F.desc("gumbel_key"), "doc_id")
    )


def _select_oracle_sql() -> str:
    """The v2 chain: the portable-pipeline oracle through ``doomed``,
    then the passage CTEs (k = spandedup.K_TOKENS) over the survivor
    set, then the DSIR chain over the STRIPPED text."""
    from ..operators.spandedup import K_TOKENS as K

    base = _corpus_oracle_sql()
    head = base[: base.index("\nSELECT doc_id, lang, source")]
    return f"""{head},
surv AS (
  SELECT doc_id, lang, text FROM ed
  WHERE doc_id NOT IN (SELECT id_b FROM doomed)
),
pt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM surv),
pw0 AS (
  SELECT doc_id,
         unnest([{{'pos': i,
                   'h': md5(array_to_string(ts[i:i+{K - 1}], ' '))}}
                 for i in range(1, greatest(len(ts) - {K - 2}, 1))]) AS u
  FROM pt
),
pw AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM pw0),
pr AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY h) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
  FROM pw
),
pd AS (SELECT doc_id, pos FROM pr WHERE n_occ >= 2 AND rn >= 2),
pg AS (
  SELECT doc_id, pos,
         MAX(pos + {K - 1}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM pd
),
pisl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM pg
),
ps AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {K - 1} AS span_end
  FROM pisl GROUP BY doc_id, island
),
ptok AS (
  SELECT doc_id,
         unnest([{{'tok': ts[i], 'p': i}}
                 for i in range(1, len(ts) + 1)]) AS u
  FROM pt
),
pkept AS (
  SELECT tp.doc_id, (tp.u).tok AS tok, (tp.u).p AS p
  FROM ptok tp
  WHERE NOT EXISTS (
    SELECT 1 FROM ps
    WHERE ps.doc_id = tp.doc_id
      AND (tp.u).p BETWEEN ps.span_start AND ps.span_end)
),
pclean AS (
  SELECT doc_id, COUNT(*) AS tok_after,
         string_agg(tok, ' ' ORDER BY p) AS txt
  FROM pkept GROUP BY doc_id
),
ct AS (
  SELECT surv.doc_id, surv.lang,
         COALESCE(pclean.tok_after, 0)::BIGINT AS tok_clean,
         string_split(COALESCE(pclean.txt, ''), ' ') AS ts2
  FROM surv LEFT JOIN pclean USING (doc_id)
),
dgrams AS (
  SELECT doc_id, (lang = 'en' AND doc_id % 5 = 0) AS is_t,
         unnest(ts2 || [ts2[i]||'_'||ts2[i+1]
                        for i in range(1, greatest(len(ts2), 1))]) AS gram
  FROM ct
),
db2 AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5('f|' || gram), 1, 15))::BIGINT % 64 AS bucket
  FROM dgrams
),
dcnt AS (
  SELECT bucket,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct_t,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS ct_r
  FROM db2 GROUP BY bucket
),
dtot AS (SELECT SUM(ct_t) AS tt, SUM(ct_r) AS tr FROM dcnt),
dlam AS (
  SELECT bucket,
         CAST(ROUND((LN((ct_t + 1.0) / (tt + 64.0))
                   - LN((ct_r + 1.0) / (tr + 64.0))) * 1000000) AS BIGINT)
           AS lam_micro
  FROM dcnt CROSS JOIN dtot
),
ddoc AS (
  SELECT doc_id, bucket, COUNT(*) AS n
  FROM db2 WHERE NOT is_t GROUP BY doc_id, bucket
),
dsc AS (
  SELECT doc_id, SUM(n * lam_micro)::BIGINT AS logw_micro
  FROM ddoc JOIN dlam USING (bucket) GROUP BY doc_id
),
dsel AS (
  SELECT ct.doc_id, ct.lang, ct.tok_clean,
         COALESCE(dsc.logw_micro, 0)::BIGINT AS logw_micro,
         COALESCE(dsc.logw_micro, 0)::BIGINT
           + CAST(ROUND(-LN(-LN(
               (('0x' || substr(md5('u|' || ct.doc_id), 1, 15))::BIGINT + 0.5)
                 / 1152921504606846976.0)) * 1000000) AS BIGINT) AS key_micro
  FROM ct LEFT JOIN dsc USING (doc_id)
  WHERE NOT (ct.lang = 'en' AND ct.doc_id % 5 = 0)
)
SELECT doc_id, lang, tok_clean,
       ROUND(logw_micro / 1000000.0, 6) AS logw,
       ROUND(key_micro / 1000000.0, 6) AS gumbel_key
FROM dsel ORDER BY key_micro DESC, doc_id LIMIT {_SELECT_K}
"""


def register_entries(register) -> None:  # noqa: ANN001
    register("llm_corpus_pipeline", llm_corpus_pipeline, None, headline=True)
    register(
        "llm_corpus_pipeline_portable",
        llm_corpus_pipeline_portable,
        _corpus_oracle_sql(),
    )
    register(
        "llm_corpus_pipeline_select",
        llm_corpus_pipeline_select,
        _select_oracle_sql(),
    )
