"""The front-door dedup API — ONE call from raw frame to decision
records (round 9, VERDICT r8 #6).

Every underlying operator has existed (and been certified) for rounds:
exact fingerprint keepers, unigram-MinHash LSH, Broder w-shingle LSH,
semantic (embedding-cosine) near-dup, connected components, and the
corpus-magnitude sizing seams (``scaled_lsh_params`` /
``scaled_ann_params``). What a USER reaches for, though, is one
composition: "dedup this frame on this column" — pick the method from
the column type and the parameters from the corpus size, and hand back
an auditable per-row verdict. That is :func:`dedup`.

Output contract (every method, the ``embedding_dedup_survivors``
decision-record shape): one row per input row —

- ``id``       — the row's id (``id_col`` cast to long)
- ``cluster``  — the duplicate family's label = the MINIMUM id in the
  family (a row with no duplicates is its own singleton family)
- ``is_keeper`` — 1 for exactly one row per family (the minimum id),
  0 for every row that would be dropped

so ``filter(is_keeper = 1)`` is the surviving corpus and
``filter(is_keeper = 0)`` is the audit trail of what was folded into
what. Because the family label is the family minimum, ``is_keeper`` is
simply ``id == cluster``.

Reference basis: the reference pipeline (``/root/reference/src/main.py``)
has no dedup at all — this module is part of the mandated
training-data-pipeline extension surface (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textops import distinct_tokens, shingles

# auto policy: text corpora at or below this many rows take the
# w-shingle unit (stricter phrasing-level semantics; shingle sets are
# ~|tokens| long so the extra cost over unigrams is a constant factor);
# above it, unigram token sets (the cheapest signature unit — at the
# 10⁶+ decades the signature/banding cost dominates and the unigram
# fast path is the measured-good regime, SCALING.md).
_AUTO_SHINGLE_MAX_DOCS = 100_000
_METHODS = ("auto", "exact", "minhash", "shingles", "semantic")


def _is_vector_type(df: DataFrame, col: str) -> bool:
    from pyspark.sql.types import ArrayType, NumericType

    t = df.schema[col].dataType
    return isinstance(t, ArrayType) and isinstance(t.elementType, NumericType)


def resolve_dedup_method(
    df: DataFrame, col: str, method: str = "auto", n_rows: int | None = None
) -> str:
    """The ``method='auto'`` policy, exposed for inspection/testing:
    numeric-array column → ``semantic``; string column → ``shingles``
    up to ``100_000`` rows, ``minhash`` (unigram) beyond. Explicit
    methods pass through after a type check (asking for a text method
    on an embedding column — or vice versa — is a caller bug and
    raises rather than hashing array<float> as text)."""
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}, got {method!r}")
    vec = _is_vector_type(df, col)
    if method == "auto":
        if vec:
            return "semantic"
        n = df.count() if n_rows is None else n_rows
        return "shingles" if n <= _AUTO_SHINGLE_MAX_DOCS else "minhash"
    if vec != (method == "semantic"):
        kind = "numeric-array" if vec else "string"
        raise ValueError(
            f"method {method!r} does not apply to {kind} column {col!r}"
        )
    return method


def _records_from_components(
    ids: DataFrame, comps: DataFrame
) -> DataFrame:
    """Shared tail: every id labeled with its family minimum.
    ``ids``: one ``id`` row per input row; ``comps``: (id, component)
    for edge-touched ids with component already the family minimum
    (the :func:`~.components.connected_components` contract)."""
    labeled = ids.join(comps, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("cluster")
    )
    return labeled.select(
        "id",
        "cluster",
        (F.col("id") == F.col("cluster")).cast("int").alias("is_keeper"),
    )


def _exact_records(df: DataFrame, id_col: str, col: str) -> DataFrame:
    """Exact dedup decision records: whitespace-normalized md5
    fingerprint families, minimum id keeps (one hash-groupBy + one
    broadcastable join back — the cheapest method and the only one
    where EMPTY texts are duplicates of each other, matching
    :func:`~.dedup.exact_dedup_keepers` semantics)."""
    from .textops import fingerprint_md5

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        fingerprint_md5(col).alias("__fp"),
    )
    fams = base.groupBy("__fp").agg(F.min("id").alias("cluster"))
    return base.join(fams, "__fp").select(
        "id",
        "cluster",
        (F.col("id") == F.col("cluster")).cast("int").alias("is_keeper"),
    )


def _text_records(
    df: DataFrame,
    id_col: str,
    col: str,
    tok_expr: Column,
    threshold: float,
    n_rows: int,
    hash_family: str,
) -> DataFrame:
    """Text near-dup decision records via the measured scale path, for
    either hash family: the family's token/shingle sets → identical-
    tokset collapse → corpus-magnitude-scaled banding over one
    representative per distinct tokset → group-graph connected
    components (the ``dedup_components_fast`` composition, generalized
    to any frame and extended to label EVERY row, not only edge-touched
    ones). ``hash_family='portable'`` (md5) costs ~10× the hashing but
    is bit-reproducible by an independent engine; it backs the
    oracle-certified catalog entry."""
    from .dedup import (
        HashFamily,
        lsh_components_grouped,
        scaled_lsh_params,
        tokset_groups,
    )

    fam = HashFamily.named(hash_family)
    nh, bands = scaled_lsh_params(n_rows, threshold)
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    members, groups = tokset_groups(
        fam.signed(df, F.col(id_col).cast("long"), tok_expr, nh)
    )
    fam_labels = lsh_components_grouped(
        members, groups, threshold=threshold, num_hashes=nh, bands=bands,
        max_bucket=100_000, hash_family=hash_family,
    )
    return _records_from_components(ids, fam_labels)


def _semantic_records(
    df: DataFrame, id_col: str, col: str, threshold: float, n_rows: int
) -> DataFrame:
    """Embedding near-dup decision records: auto-sized hyperplane-LSH
    candidate pairs + exact cosine refine → connected components →
    keeper flags (the ``embedding_dedup_survivors_scaled`` composition
    over any frame)."""
    from .components import connected_components
    from .similarity import neardup_pairs_lsh, scaled_ann_params

    nbits, ntables = scaled_ann_params(n_rows, threshold=min(threshold, 0.99))
    pairs = neardup_pairs_lsh(
        df, id_col, col, threshold=threshold, nbits=nbits, ntables=ntables
    )
    ids = df.select(F.col(id_col).cast("long").alias("id"))
    comps = connected_components(pairs, src="id_a", dst="id_b")
    return _records_from_components(ids, comps)


def strip_duplicate_passages(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    k: int | None = None,
) -> DataFrame:
    """Front door for PASSAGE-level dedup — the granularity
    :func:`dedup` cannot see: two mostly distinct documents sharing one
    verbatim paragraph both survive every doc-level method, yet the
    shared paragraph is the memorization hazard (Lee et al., ACL 2022).

    One call: k-token duplicated windows (corpus-wide occurrence ≥ 2)
    → keep-first (the min ``(id, pos)`` occurrence survives) → island-
    merged spans → token strip. Returns one row per input row:
    ``(id, tok_before, tok_after, text_clean)`` — ``text_clean`` is the
    document with every non-canonical duplicated passage removed, so
    the frame is a drop-in replacement for the input corpus.

    ``k`` defaults to :data:`~.spandedup.K_TOKENS`; larger k = stricter
    (longer passages only). Plan shape and the 100 TB story live in
    operators/spandedup.py. Certified at the driver gate as
    ``corpus_strip_duplicate_passages`` (plans/passage_queries.py —
    same composition, hash-narrow output).
    """
    from .spandedup import (
        K_TOKENS,
        duplicated_windows,
        merge_spans,
        strip_spans,
        window_hashes,
    )

    kk = K_TOKENS if k is None else k
    w = window_hashes(df, col, id_col, kk)
    rem = duplicated_windows(w, id_col, keep_first=True)
    spans = merge_spans(rem, id_col, kk)
    return strip_spans(df, spans, col, id_col, emit_text=True)


def dedup(
    df: DataFrame,
    col: str,
    id_col: str = "doc_id",
    method: str = "auto",
    threshold: float = 0.8,
    hash_family: str = "fast",
    n_rows: int | None = None,
) -> DataFrame:
    """Deduplicate ``df`` on ``col`` — one call, auditable output.

    - ``method='auto'`` (default): numeric-array column → ``semantic``
      (cosine near-dup at ``threshold``); string column → ``shingles``
      (w=3 Broder shingles) up to 10⁵ rows, ``minhash`` (unigram sets)
      beyond. Pass ``exact`` for fingerprint-only dedup, or name a
      method to override the policy.
    - Banding / hyperplane parameters auto-size from the corpus
      magnitude (``scaled_lsh_params`` / ``scaled_ann_params`` — the
      decade-stepped seams every certified default path uses). Pass
      ``n_rows`` to skip the count job when the caller already knows it
      (at 100 TB: parquet footer metadata).
    - ``hash_family``: ``'fast'`` (xxhash64 — the production path) or
      ``'portable'`` (md5 — reproducible by an independent engine; the
      oracle-certification path); both run the identical-tokset
      collapse and group-graph components.
    - Returns ``(id, cluster, is_keeper)`` — one row per input row;
      ``cluster`` is the duplicate family's minimum id, ``is_keeper``
      marks exactly the minimum of each family. ``threshold`` is
      ignored by ``exact`` (byte-level after whitespace normalization).

    Certified at the driver gate as ``dedup_auto_survivors``
    (plans/text_queries.py — the portable twin of this call at the
    gate decade); fast≡portable structural invariants and the policy
    table are locked in tests/test_frontdoor.py.
    """
    resolved = resolve_dedup_method(df, col, method, n_rows)
    if resolved == "exact":
        return _exact_records(df, id_col, col)
    n = df.count() if n_rows is None else n_rows
    if resolved == "semantic":
        return _semantic_records(df, id_col, col, threshold, n)
    tok_expr = (
        shingles(col, 3) if resolved == "shingles" else distinct_tokens(col)
    )
    return _text_records(
        df, id_col, col, tok_expr, threshold, n, hash_family
    )
