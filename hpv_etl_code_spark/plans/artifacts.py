"""Durable stage artifacts — the one cache for frames that several plan
branches read.

A DataFrame that feeds several plan branches must be materialized once
or Spark recomputes its whole lineage per branch. The strategy is chosen
by the deployment alone (:func:`stage_storage`), never by the caller:

- ``checkpoint`` (a ``local`` / ``local[...]`` master) —
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
  single-JVM local run dies with its executor anyway.
- ``parquet`` (a cluster master with ``SPARK_GRAFT_ARTIFACT_DIR`` set) —
  write the frame under that directory and read it back: the lineage is
  TRUNCATED at a durable file, so a cluster run survives executor loss
  without recompute storms — the ``build_corpus_index`` pattern
  generalized. The directory must be storage every node shares (e.g. an
  HDFS/S3 path).
- ``memory`` (any other cluster master) — plain ``persist()``
  (MEMORY_AND_DISK), lineage kept: on executor loss the frame silently
  recomputes.

Artifacts are cached per (SparkSession, name, content, strategy):
:func:`stage_artifact` keys on a fingerprint of the frame's plan,
:func:`stage_artifact_from` on a caller-supplied content key (the
sf_dir, as in ``plans/shared_cache.py``). Results are storage-invariant
by construction — every strategy materializes the same rows
(equivalence-tested in ``tests/test_artifacts.py``).
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile
import threading

from pyspark.sql import DataFrame

_DIR_ENV = "SPARK_GRAFT_ARTIFACT_DIR"

# (applicationId, name, content digest, storage) → frame
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


def _is_local(spark) -> bool:
    # local-cluster[...] runs separate executor JVMs: not local
    return bool(re.match(r"local(\[|$)", spark.sparkContext.master))


def stage_storage(spark) -> str:
    """The strategy this deployment stages with: a ``local[*]`` master
    gets ``checkpoint`` (the single JVM dies with its executor anyway,
    so checkpoint's no-lineage blocks lose nothing and the plan
    truncation is pure win). A CLUSTER master gets
    ``parquet`` under ``$SPARK_GRAFT_ARTIFACT_DIR`` — ``localCheckpoint``
    blocks are unrecoverable on executor loss, so a cluster must stage
    durably — or ``memory`` when that directory is unset, since parquet
    artifacts in a node-local tempdir are unreadable from the other
    nodes."""
    if _is_local(spark):
        return "checkpoint"
    return "parquet" if os.environ.get(_DIR_ENV) else "memory"


def stage_artifact(df: DataFrame, name: str) -> DataFrame:
    """Materialize ``df`` once under ``name`` and return the frame every
    downstream branch should read (strategy: :func:`stage_storage`).
    The key includes a fingerprint of the ANALYZED logical plan: two
    frames sharing a name but holding different content (e.g. the same
    pipeline at two sf_dirs in one session) must never alias —
    deterministic plans with equal text produce equal rows, so a
    fingerprint hit is a true content hit."""
    return _stage(df.sparkSession, _plan_fingerprint(df), name, lambda: df)


def stage_artifact_from(
    spark, builder, name: str, content_key: str
) -> DataFrame:
    """Builder-deferred variant of :func:`stage_artifact`, for frames
    whose BUILD is itself expensive — iterative algorithms (pointer-
    jumping connected components, PageRank) run eager jobs at
    plan-construction time, so a plan-fingerprint cache would pay the
    full build cost on every call just to discover the hit. Keyed on
    the caller-supplied ``content_key`` (e.g. the sf_dir) instead, which
    must identify the frame content within a session; ``builder()``
    runs only on a miss."""
    return _stage(spark, _key_digest(content_key), name, builder)


def _stage(spark, key: str, name: str, build) -> DataFrame:
    """The one materialize body: cache lookup, per-key lock, dead-entry
    pruning, materialize by strategy, insert."""
    if not re.fullmatch(r"[A-Za-z0-9._\-]+", name):
        raise ValueError(
            f"artifact name {name!r} must be filesystem-safe "
            "([A-Za-z0-9._-]+) — it becomes a directory name"
        )
    storage = stage_storage(spark)
    ckey = (spark.sparkContext.applicationId, name, key, storage)
    if ckey in _CACHE:
        return _CACHE[ckey]
    with _key_lock(ckey):
        if ckey in _CACHE:  # built by a concurrent thread while we waited
            return _CACHE[ckey]
        _prune_dead_entries()
        if storage == "checkpoint":
            out = build().localCheckpoint(eager=True)
        elif storage == "memory":
            out = build().persist()
        else:  # parquet
            path = _artifact_path(spark, name, key)
            build().write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
        with _CACHE_MUTEX:
            _CACHE[ckey] = out
    return out


def write_once(spark, name: str, content_key: str, write) -> str:
    """The ``<scratch>/<name>_<digest>`` directory for ``content_key``,
    written by ``write(path)`` only while it holds no ``_SUCCESS``
    marker — once per session, serialized by the per-key lock, for
    callers that read the files back themselves (e.g. a file-stream
    replay copy). Raises ``ValueError`` on a cluster master without
    ``$SPARK_GRAFT_ARTIFACT_DIR``: files the executors wrote to their
    node-local tempdirs could not be read back."""
    path = _artifact_path(spark, name, _key_digest(content_key))
    with _key_lock((spark.sparkContext.applicationId, name, path)):
        if not _is_written(spark, path):
            write(path)
    return path


def _is_written(spark, path: str) -> bool:
    """``<path>/_SUCCESS`` exists, tested through the path's Hadoop
    FileSystem so ``file://``, ``hdfs://`` and ``s3a://`` paths resolve
    the way the writer resolved them (``os.path`` sees none of them)."""
    sc = spark.sparkContext
    marker = sc._jvm.org.apache.hadoop.fs.Path(path, "_SUCCESS")
    return marker.getFileSystem(sc._jsc.hadoopConfiguration()).exists(marker)


def _key_digest(content_key: str) -> str:
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
    text = re.sub(
        r"#\d+", "#", df._jdf.queryExecution().analyzed().toString()
    )
    sem = df.semanticHash()
    return hashlib.md5(f"{text}\x00{sem}".encode()).hexdigest()[:12]


def _artifact_path(spark, name: str, digest: str) -> str:
    """``$SPARK_GRAFT_ARTIFACT_DIR/<appId>/<name>_<digest>`` (the
    durable location a cluster run points at shared storage) or, on a
    local master only, a per-application tempdir."""
    app = spark.sparkContext.applicationId
    base = os.environ.get(_DIR_ENV)
    if base:
        return os.path.join(base, app, f"{name}_{digest}")
    if not _is_local(spark):
        raise ValueError(
            f"{_DIR_ENV} is unset: a cluster master needs a directory "
            "every node shares for its scratch artifacts"
        )
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_artifacts_{app}")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{name}_{digest}")


def _prune_dead_entries() -> None:
    """Drop cache entries bound to stopped SparkSessions — a process
    cycling get_spark()/spark.stop() (repeated bench invocations,
    notebook restarts) must neither leak handles for dead sessions nor
    ever be handed a frame of a dead context. Called on cache misses —
    the hit path stays dict-lookup-only."""
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
    # blocks breaks every holder that survives this cache (a caller
    # still holding a frame it was handed; a memory-persist consumer
    # would transparently recompute, a checkpoint consumer fails the
    # job) — reproduced by
    # tests/test_graph_health.py::test_indexed_sizes_plan_reads_artifact_not_pairs
    # in the full suite. GC ownership is the correct contract: the
    # ContextCleaner frees the blocks exactly when no frame can read
    # them anymore.
