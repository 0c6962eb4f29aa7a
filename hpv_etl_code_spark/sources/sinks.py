"""Sinks: the reference's truncate-and-reload contract, Spark-native.

Reference analog (``/root/reference/src/utils/database_util.py:10-62``):
TRUNCATE destination → ``write_pandas`` chunks → ROLLBACK on failure.
Spark's ``mode("overwrite")`` gives the same all-or-nothing semantics via
the file-commit protocol (staged writes + atomic commit) — no manual
rollback, and executors write partitions in parallel.

Scale option the reference lacks: ``partition_by`` + dynamic partition
overwrite replaces only the partitions present in the incoming data —
the incremental-load story for a 100 TB table where truncate-reload is
not viable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an observed row count: once an action on the returned
    frame has run, ``obs.get["rows"]`` is the rows that action produced.
    Writers return it instead of re-reading the destination, which costs
    a scan and, after a dynamic partition overwrite, also counts the
    partitions the write left alone."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def overwrite_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    dynamic: bool = False,
) -> int:
    """Truncate-and-load a parquet destination; returns rows written
    (the reference prints this count, database_util.py:54)."""
    out, obs = _counted(df)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        if dynamic:
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
    return obs.get["rows"]


def overwrite_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    truncate: bool = True,
    options: dict[str, str] | None = None,
) -> None:
    """Truncate-and-load a WAREHOUSE table over JDBC — the direct analog
    of the reference's ``TRUNCATE → write_pandas → ROLLBACK`` contract
    (``/root/reference/src/utils/database_util.py:39-57``).

    ``truncate=True`` maps to Spark's ``truncate`` writer option:
    overwrite issues ``TRUNCATE TABLE`` (preserving DDL, grants and
    indexes — same reason the reference truncates instead of dropping)
    and reloads. Executors write partitions in parallel, each in its own
    transaction; for the reference's single-transaction atomicity on an
    engine without atomic partition commits, stage into a side table and
    swap (``RENAME``) — or write parquet (:func:`overwrite_parquet`),
    where the file-commit protocol gives atomicity for free.

    Tested against Spark's bundled embedded Derby (tests/test_asof_sink.py).
    """
    writer = (
        df.write.format("jdbc")
        .mode("overwrite")
        .option("url", url)
        .option("dbtable", table)
        .option("truncate", "true" if truncate else "false")
    )
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save()


def read_jdbc(
    spark,
    url: str,
    table: str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read a JDBC table/query. For big tables pass partitionColumn/
    lowerBound/upperBound/numPartitions in ``options`` so the read is
    split across executors instead of one serial cursor."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def overwrite_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Truncate-and-load an ORC destination (Spark-native columnar
    alternative to parquet — same commit-protocol atomicity, same
    predicate pushdown / column pruning at the scan). Returns rows
    written."""
    out, obs = _counted(df)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
    return obs.get["rows"]


def overwrite_jsonl(df: DataFrame, path: str) -> int:
    """Truncate-and-load newline-delimited JSON — the interchange format
    of LLM corpus tooling. Row-oriented: no column pruning at the scan,
    so it's an EDGE format (ingest/export), not a pipeline-internal one;
    convert to parquet/ORC before heavy queries. Returns rows written."""
    out, obs = _counted(df)
    out.write.mode("overwrite").json(path)
    return obs.get["rows"]


def read_jsonl(spark, path: str, schema: str | None = None) -> DataFrame:
    """Read newline-delimited JSON. ALWAYS pass ``schema`` in production:
    schema inference is a full extra pass over the data — at 100 TB
    that's a 2× read before the query starts (and inferred types can
    drift run-to-run with the sampled files)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    token_col: str,
    target_tokens: int,
    id_col: str = "doc_id",
) -> dict:
    """Token-balanced sharded export — the last mile of a training-data
    pipeline: docs fill contiguous-``id_col``-range shards of
    ~``target_tokens`` each (plans/packing_queries.py::
    assign_training_shards — scalable two-phase prefix sum, never a
    single-partition sort), written as one parquet directory per shard
    (``shard_id=N/``) plus a ``_manifest.json`` with per-shard doc and
    token counts.

    The manifest is the resumability contract: a training loader reads
    it to map shard → (first_doc, last_doc, tokens) without listing or
    scanning the data files; the per-shard stats are a
    shard-count-sized collect (metadata class). Returns the manifest
    dict."""
    import json
    import os

    from ..plans.packing_queries import assign_training_shards

    assigned = assign_training_shards(df, token_col, target_tokens, id_col)
    assigned.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    stats = (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(token_col).cast("long").alias("tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
        .orderBy("shard_id")
        .collect()
    )
    manifest = {
        "target_tokens": target_tokens,
        "n_shards": len(stats),
        "total_docs": int(sum(r["n_docs"] for r in stats)),
        "total_tokens": int(sum(r["tokens"] for r in stats)),
        "shards": [
            {
                "shard_id": int(r["shard_id"]),
                "n_docs": int(r["n_docs"]),
                "tokens": int(r["tokens"]),
                "first_doc": int(r["first_doc"]),
                "last_doc": int(r["last_doc"]),
            }
            for r in stats
        ],
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def compact_parquet(
    spark,  # noqa: ANN001 — SparkSession
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Compact a small-file parquet directory in place: rewrite into
    ``ceil(total_bytes / target_file_bytes)`` files, stage-then-publish.

    The small-file problem is the classic operational failure of
    incremental/streaming sinks at scale (every micro-batch appends a
    few KB files; a year later the table has 10⁷ files and planning
    takes longer than scanning). Total size comes from the Hadoop
    FileSystem API — works on any FS (local, HDFS, S3A) without
    listing file contents.

    Stage-then-publish (see stream_upsert_to_parquet): the compacted
    copy is FULLY written to a side directory before the target is
    overwritten, so the job never reads the files it is replacing.

    Returns (files_before, files_after).
    """
    import math

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    summary = fs.getContentSummary(jpath)
    total_bytes = summary.getLength()
    files_before = sum(
        1
        for f in fs.listStatus(jpath)
        if f.getPath().getName().endswith(".parquet")
    )
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    stage = path.rstrip("/") + "__compact_stage"
    df = spark.read.parquet(path)
    # coalesce, not repartition: narrowing file count must not shuffle
    df.coalesce(n_out).write.mode("overwrite").parquet(stage)
    spark.read.parquet(stage).write.mode("overwrite").parquet(path)
    fs.delete(jvm.org.apache.hadoop.fs.Path(stage), True)

    files_after = sum(
        1
        for f in fs.listStatus(jpath)
        if f.getPath().getName().endswith(".parquet")
    )
    return files_before, files_after
