"""The touched-partition rewrite shared by the streaming merge sinks,
plus the streaming query runners' guards.

Four sinks fold each micro-batch into a partitioned parquet table: the
ticker meta table (`reactive.merge_ticker_meta_batch`), the dedup
registry (`dedup.merge_dedup_registry_batch`), the SCD2 dimension
(`scd2.merge_scd2_batch`) and the general upsert
(`operators.upsert.upsert_partitioned`). Each supplies its batch
partial and a ``merge(existing, partial)`` function;
:func:`rewrite_touched_partitions` reads ONLY the partitions the
partial touches and dynamic-overwrites them with the merge. Every
sink's merge is idempotent (monotone min/max, version-wins or
change-point rebuild), so a replayed micro-batch rewrites the same
partitions with the same rows: exactly-once effects from at-least-once
delivery, the idempotent-sink design of Structured Streaming.

The read has exactly one benign failure mode - the table does not
exist yet (first batch) - and every other failure (IO error,
permissions, corrupt footer) MUST propagate: treating a transient read
error as "empty table" would make the partition overwrite rewrite the
touched partitions from the batch alone, silently deleting the
existing rows for untouched keys that live in those partitions.
Failing the micro-batch instead lets the checkpoint retry it.
"""

from __future__ import annotations

from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.relational import free_local_checkpoint


def await_finished(q: StreamingQuery, timeout: int = 300) -> None:
    """Block until the availableNow query terminates; on timeout, stop
    it and raise a DESCRIPTIVE error instead of letting the caller read
    a partially-built output table (which would surface downstream as
    an opaque hash mismatch in the correctness gate)."""
    if q.awaitTermination(timeout):
        return
    try:
        q.stop()
    finally:
        raise TimeoutError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout}s - output table is incomplete; not reading it"
        )


def existing_or_empty(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    prune: Column | None = None,
) -> DataFrame:
    """The existing table at ``path`` read with the declared ``schema``
    (StructType or DDL; partition-pruned by ``prune``), or an empty
    frame of that schema IFF the table genuinely does not exist yet
    (``PATH_NOT_FOUND``). Any other read error propagates so the
    micro-batch fails and retries."""
    try:
        existing = spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        if cond != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)
    return existing.filter(prune) if prune is not None else existing


def rewrite_touched_partitions(
    partial: DataFrame,
    path: str,
    part_col: str,
    schema: StructType | str,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> None:
    """Fold ``partial`` into the ``part_col``-partitioned table at
    ``path``: write ``merge(existing, partial)`` over exactly the
    partitions whose ``part_col`` value occurs in ``partial``, where
    ``existing`` is those partitions read with the declared ``schema``.

    ``partial`` feeds both the touched-value listing and the merge, so
    it is persisted, and unpersisted on every exit, failures included.
    The merged rows are materialized by an eager ``localCheckpoint``
    so the overwrite never reads the files it replaces; its blocks are
    freed after the write."""
    partial = partial.persist()
    merged = None
    try:
        touched = [r[0] for r in partial.select(part_col).distinct().collect()]
        if not touched:
            return
        existing = existing_or_empty(
            partial.sparkSession, path, schema, prune=F.col(part_col).isin(touched)
        )
        merged = merge(existing, partial).localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(path)
        )
    finally:
        partial.unpersist()
        if merged is not None:
            free_local_checkpoint(merged)
