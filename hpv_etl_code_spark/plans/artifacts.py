"""Durable stage artifacts — the storage seam for multi-branch plans
(VERDICT r5 #7).

A DataFrame that feeds several plan branches must be materialized once
or Spark recomputes its whole lineage per branch. Four materialization
strategies, selected per call or globally via
``SPARK_GRAFT_STAGE_STORAGE``:

- ``checkpoint`` (the LOCAL-master default since optimization round 9;
  round 10 made the default deploy-mode-aware — a cluster master
  defaults to ``parquet`` instead, see :func:`stage_storage`) —
  ``localCheckpoint(eager=True)``: blocks live in the block manager
  like a persist, AND the logical plan is truncated to a leaf
  (``LogicalRDD``). The truncation is the point: the dedup/pipeline
  plans reference these frames from many branches, and with ``memory``
  every reference dragged the frame's FULL text-processing lineage
  (35-lambda MinHash trees, quality-score expressions) through
  analysis/optimization/canonicalization on every run — measured
  1.7-3.9 s of pure DRIVER planning per heavy-entry execution at
  sf0.1, ~40 % of wall (guide §3.3/§7.3: very large plans make
  planning itself the bottleneck; materialise intermediates). On
  executor loss the blocks are unrecoverable (no lineage) — a
  single-JVM local run dies with its executor anyway; cluster runs
  wanting durability use ``parquet``.
- ``memory`` — plain ``persist()`` (MEMORY_AND_DISK), lineage kept: on
  executor loss the frame silently recomputes. The pre-round-9
  default, kept for callers that want recomputability over plan size.
- ``parquet`` — write the frame to a per-session scratch directory and
  read it back: the lineage is TRUNCATED at a durable file, so a
  cluster run survives executor loss without recompute storms, and the
  artifact is inspectable/reusable across jobs — the
  ``build_corpus_index`` pattern generalized. This is what a 100 TB
  deployment should run with (pointing ``SPARK_GRAFT_ARTIFACT_DIR`` at
  reliable storage, e.g. an HDFS/S3 path).
- ``none`` — pass-through (recompute per branch); the measurement
  baseline.

Artifacts are cached per (SparkSession, name): the caller's ``name``
must uniquely identify the frame CONTENT within a session (include the
sf_dir / table identity), exactly like ``plans/shared_cache.py`` keys.

Results are storage-invariant by construction — every strategy
materializes the same rows (equivalence-tested in
``tests/test_artifacts.py``).
"""

from __future__ import annotations

import os
import re
import tempfile
import threading

from pyspark.sql import DataFrame

_STORAGE_ENV = "SPARK_GRAFT_STAGE_STORAGE"
_DIR_ENV = "SPARK_GRAFT_ARTIFACT_DIR"
_REUSE_ENV = "SPARK_GRAFT_ARTIFACT_REUSE"
_STRATEGIES = ("checkpoint", "memory", "parquet", "none")

# (applicationId, name, fingerprint-or-content-key, storage) → frame
_CACHE: dict[tuple[str, str, str, str], DataFrame] = {}
# Serializes build-and-insert per key so two threads staging the same
# artifact never double-build (the same race the recursive-CTE conf
# override was locked against in round 6). One global mutex guards the
# dicts; the per-key lock is held across the (possibly long) build so
# DIFFERENT artifacts still build concurrently.
_CACHE_MUTEX = threading.Lock()
_KEY_LOCKS: dict[tuple[str, ...], threading.Lock] = {}


def _key_lock(key: tuple[str, ...]) -> threading.Lock:
    with _CACHE_MUTEX:
        return _KEY_LOCKS.setdefault(key, threading.Lock())


def stage_storage(spark=None) -> str:
    """The session-default strategy: ``$SPARK_GRAFT_STAGE_STORAGE`` if
    set, else deploy-mode-aware (VERDICT r9 #5 / ADVICE r9): a
    ``local[*]`` master defaults to ``checkpoint`` (the single JVM dies
    with its executor anyway, so checkpoint's no-lineage blocks lose
    nothing and the plan truncation is pure win), while a CLUSTER
    master (``local-cluster[...]`` included: its executors are separate
    JVMs) defaults to ``parquet`` — ``localCheckpoint`` blocks are
    unrecoverable on executor loss, so a default that lands on a real
    cluster must be the durable one — or to ``memory`` when
    ``$SPARK_GRAFT_ARTIFACT_DIR`` is unset, since parquet artifacts in a
    node-local tempdir are unreadable from the other nodes. Unknown
    values fail loudly — a typo silently degrading to
    recompute-per-branch would be a 100 TB performance bug."""
    s = os.environ.get(_STORAGE_ENV)
    if s is not None:
        if s not in _STRATEGIES:
            raise ValueError(
                f"{_STORAGE_ENV}={s!r}: expected one of {_STRATEGIES}"
            )
        return s
    if spark is None:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.getActiveSession()
            or SparkSession._instantiatedSession
        )
    if spark is None or re.match(r"local(\[|$)", spark.sparkContext.master):
        return "checkpoint"
    # parquet needs storage every node shares; the tempdir fallback of
    # _scratch_dir is node-local, so without one stay lineage-backed
    return "parquet" if os.environ.get(_DIR_ENV) else "memory"


def stage_artifact(
    df: DataFrame, name: str, storage: str | None = None
) -> DataFrame:
    """Materialize ``df`` once under ``name`` and return the frame every
    downstream branch should read. ``storage=None`` uses
    :func:`stage_storage`; see the module docstring for strategies."""
    storage = stage_storage(df.sparkSession) if storage is None else storage
    if storage not in _STRATEGIES:
        raise ValueError(f"storage={storage!r}: expected one of {_STRATEGIES}")
    if storage == "none":
        return df
    if not re.fullmatch(r"[A-Za-z0-9._\-]+", name):
        raise ValueError(
            f"artifact name {name!r} must be filesystem-safe "
            "([A-Za-z0-9._-]+) — it becomes a directory name"
        )
    spark = df.sparkSession
    # key includes a fingerprint of the ANALYZED logical plan: two
    # frames sharing a name but holding different content (e.g. the
    # same pipeline at two sf_dirs in one session) must never alias —
    # deterministic plans with equal text produce equal rows, so a
    # fingerprint hit is a true content hit
    fp = _plan_fingerprint(df)
    key = (spark.sparkContext.applicationId, name, fp, storage)
    if key in _CACHE:
        return _CACHE[key]
    with _key_lock(key):
        if key in _CACHE:  # built by a concurrent thread while we waited
            return _CACHE[key]
        _prune_dead_entries()
        if storage == "memory":
            out = df.persist()
        elif storage == "checkpoint":
            out = df.localCheckpoint(eager=True)
        else:  # parquet
            path = _artifact_path(spark, name, fp)
            if not (_reuse_enabled() and _is_complete(path)):
                df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
        with _CACHE_MUTEX:
            _CACHE[key] = out
    return out


def stage_artifact_from(
    spark,
    builder,
    name: str,
    content_key: str,
    storage: str | None = None,
) -> DataFrame:
    """Builder-deferred variant of :func:`stage_artifact`, for frames
    whose BUILD is itself expensive — iterative algorithms (pointer-
    jumping connected components, PageRank) run eager jobs at
    plan-construction time, so a plan-fingerprint cache would pay the
    full build cost on every call just to discover the hit. Keyed on
    the caller-supplied ``content_key`` (e.g. the sf_dir) instead;
    ``builder()`` runs only on a miss."""
    storage = stage_storage(spark) if storage is None else storage
    if storage == "none":
        return builder()
    key = (spark.sparkContext.applicationId, name, f"ck:{content_key}", storage)
    if key in _CACHE:
        return _CACHE[key]
    with _key_lock(key):
        if key in _CACHE:  # built by a concurrent thread while we waited
            return _CACHE[key]
        _prune_dead_entries()
        if storage == "parquet":
            if not re.fullmatch(r"[A-Za-z0-9._\-]+", name):
                raise ValueError(
                    f"artifact name {name!r} must be filesystem-safe"
                )
            path = _artifact_path(spark, name, _key_digest(content_key))
            # cross-session rehydration (VERDICT r6 #6): with
            # SPARK_GRAFT_ARTIFACT_REUSE=1 a completed artifact from a
            # PREVIOUS session is read back and the (expensive) builder
            # never runs — (name, content_key) must identify the frame
            # content globally, which is already this function's
            # documented key contract.
            if not (_reuse_enabled() and _is_complete(path)):
                builder().write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
        elif storage == "checkpoint":
            out = builder().localCheckpoint(eager=True)
        else:  # memory — session-local by nature
            out = builder().persist()
        with _CACHE_MUTEX:
            _CACHE[key] = out
    return out


def _key_digest(content_key: str) -> str:
    import hashlib

    return hashlib.md5(str(content_key).encode()).hexdigest()[:12]


def _plan_fingerprint(df: DataFrame) -> str:
    """md5 of (normalized analyzed-plan text, semanticHash): Spark
    assigns fresh `#NNN` ids every time a plan is BUILT, so two calls
    of the same builder produce textually different but semantically
    identical plans — without normalization the cache never hits for
    re-built plans (the r6 sf1 sweep caught
    dedup_cluster_sizes_indexed re-deriving the components artifact at
    full cost). The analyzed plan's ``Relation`` nodes ELIDE file
    paths, so data identity comes from ``df.semanticHash()`` — the
    canonicalized LOGICAL-plan hash, which keeps the relation paths.

    Round-7 hard lesson: the previous scheme folded in
    ``df.inputFiles()``, but inputFiles() consults the plan AFTER
    CacheManager substitution — once any identical subplan is
    persisted, a rebuilt frame reports ZERO input files, so two
    same-shape pipelines over DIFFERENT directories collided at
    ``text + ""`` and one served the other's rows (market_basket_rules
    returned real baskets on empty input whenever the itemsim sibling
    had persisted the shared basket subplan first — full-suite-order
    dependent). semanticHash operates on the logical plan, so it is
    immune to cache substitution (measured: stable across rebuilds and
    persists, distinct across directories, distinct across
    local-relation contents)."""
    import hashlib

    text = re.sub(
        r"#\d+", "#", df._jdf.queryExecution().analyzed().toString()
    )
    sem = df.semanticHash()
    return hashlib.md5(f"{text}\x00{sem}".encode()).hexdigest()[:12]


def _reuse_enabled() -> bool:
    """``SPARK_GRAFT_ARTIFACT_REUSE=1`` opts parquet artifacts into
    CROSS-SESSION reuse: paths drop the applicationId component, and a
    completed artifact directory from a previous session is rehydrated
    instead of rebuilt. Off by default — reuse is only sound when the
    artifact store outlives sessions on purpose (a cluster pointing
    ``SPARK_GRAFT_ARTIFACT_DIR`` at reliable shared storage) and keys
    honor the content-identity contract (they do: plan fingerprints
    fold normalized analyzed-plan text + ``df.semanticHash()`` — see
    :func:`_fingerprint`, which is immune to CacheManager substitution
    unlike the retired inputFiles() component; content_keys are
    caller-owned)."""
    return os.environ.get(_REUSE_ENV, "") == "1"


def _is_complete(path: str) -> bool:
    """Only a _SUCCESS-marked directory is reusable — a crashed writer
    leaves a partial directory that must be overwritten, not served."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _artifact_path(spark, name: str, digest: str) -> str:
    base = (
        _shared_dir() if _reuse_enabled() else _scratch_dir(spark)
    )
    return os.path.join(base, f"{name}_{digest}")


def _shared_dir() -> str:
    """Session-independent artifact root for the cross-session reuse
    mode (``$SPARK_GRAFT_ARTIFACT_DIR/shared`` or a stable tempdir)."""
    base = os.environ.get(_DIR_ENV) or tempfile.gettempdir()
    d = os.path.join(base, "spark_graft_artifacts_shared")
    os.makedirs(d, exist_ok=True)
    return d


def _scratch_dir(spark) -> str:
    """$SPARK_GRAFT_ARTIFACT_DIR (the durable location a cluster run
    points at reliable storage) or a per-application tempdir."""
    base = os.environ.get(_DIR_ENV)
    if base:
        return os.path.join(base, spark.sparkContext.applicationId)
    d = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_artifacts_{spark.sparkContext.applicationId}",
    )
    os.makedirs(d, exist_ok=True)
    return d


def _prune_dead_entries() -> None:
    """Drop cache entries bound to stopped SparkSessions (same hygiene
    as ``shared_cache._prune_dead_entries`` — a cycling driver must
    never be handed a frame of a dead context)."""
    with _CACHE_MUTEX:
        snapshot = list(_CACHE.items())
    dead = []
    for key, df in snapshot:
        try:
            if df.sparkSession.sparkContext._jsc.sc().isStopped():
                dead.append(key)
        except Exception:  # noqa: BLE001 — unreachable JVM == dead session
            dead.append(key)
    with _CACHE_MUTEX:
        for key in dead:
            _CACHE.pop(key, None)
            # lock hygiene (ADVICE r7): dead-session keys never rebuild
            # under the same key, so their lock entry is pure leak
            _KEY_LOCKS.pop(key, None)
        # round-8 review: keys cleared by clear_cache BEFORE their
        # session died are unreachable through _CACHE above — reclaim
        # locks whose applicationId provably belongs to a DEAD session
        # (key[0] is the appId; a dead app never builds again, so no
        # thread can be between fetching and acquiring such a lock —
        # pruning merely-unheld locks of LIVE sessions would re-open
        # the double-build race through exactly that window)
        try:
            from pyspark.sql import SparkSession

            # getActiveSession is THREAD-local (None in worker
            # threads); _instantiatedSession is process-global — check
            # both so liveness never misreads a builder thread
            active = (
                SparkSession.getActiveSession()
                or SparkSession._instantiatedSession
            )
            live = {active.sparkContext.applicationId} if active else set()
        except Exception:  # noqa: BLE001 — no JVM ⇒ nothing is live
            live = set()
        live |= {k[0] for k in _CACHE}
        for key in [
            k
            for k, lk in _KEY_LOCKS.items()
            if k[0] not in live and not lk.locked()
        ]:
            _KEY_LOCKS.pop(key, None)


def clear_cache() -> None:
    """Unpersist/drop all artifacts (tests / teardown). Parquet scratch
    files are left for the OS tempdir policy — they may still back live
    reader DataFrames elsewhere."""
    with _CACHE_MUTEX:
        frames = list(_CACHE.values())
        _CACHE.clear()
        # _KEY_LOCKS deliberately survives clear_cache (ADVICE r7):
        # clearing it while a builder holds a per-key lock mints a
        # fresh lock for the same key and re-opens the double-build
        # race the locks exist to prevent. Locks are tiny and
        # idempotent; dead-session entries are pruned by
        # _prune_dead_entries instead.
    for df in frames:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — read-back frames aren't persisted
            pass
    # checkpoint-strategy frames: df.unpersist() is a deliberate no-op
    # here (localCheckpoint persists the backing RDD outside the
    # CacheManager — ADVICE r9). Their blocks are reclaimed by Python/
    # JVM GC + ContextCleaner once the last reference drops. Eagerly
    # unpersisting the LogicalRDD's RDD was tried in round 10 and
    # REVERTED: a checkpoint frame has NO lineage, so destroying its
    # blocks breaks every holder that survives this cache (e.g.
    # plans/shared_cache.py keeps its own references to staged frames;
    # a memory-persist consumer would transparently recompute, a
    # checkpoint consumer fails the job) — reproduced by
    # tests/test_graph_health.py::test_indexed_sizes_plan_reads_artifact_not_pairs
    # in the full suite. GC ownership is the correct contract: the
    # ContextCleaner frees the blocks exactly when no frame can read
    # them anymore.
