"""General last-writer-wins upsert into a bucket-partitioned parquet
table - the engine's MERGE INTO.

The streaming sinks already ship two SPECIALIZED merges (monotone
min/max for the ticker/dedup registries, change-point rebuild for
SCD2); this is the general form for mutable reference data: each
upsert batch touches only the hash-buckets of the keys it carries, and
conflicts resolve by a version column (ties favor the incoming batch).

Scale shape (the touched-partition rewrite every merge sink shares,
``streaming.merge_util.rewrite_touched_partitions``): per batch, read
ONLY touched buckets (partition pruning), one key-partitioned
``max_by`` to resolve winners (partial-aggregates map-side), one
dynamic partition overwrite. Bucket count sizes a bucket's rewrite to
executor memory. Re-applying a batch is a no-op (max_by of identical
versions picks the same row), so at-least-once delivery is safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..streaming.merge_util import rewrite_touched_partitions

UPSERT_BUCKETS = 64


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
    n_buckets: int = UPSERT_BUCKETS,
) -> None:
    """Fold ``updates`` into the table at ``path``: per key, the row
    with the highest ``version_col`` wins; on equal versions the
    incoming row wins (idempotent replay). ``updates`` must carry the
    full table schema (minus the managed ``bucket``/``__src`` columns).
    """
    data_cols = updates.columns
    schema = T.StructType([*updates.schema.fields, T.StructField("bucket", T.LongType())])

    def merge(existing: DataFrame, tagged: DataFrame) -> DataFrame:
        return (
            existing.withColumn("__src", F.lit(0))
            .unionByName(tagged.withColumn("__src", F.lit(1)))
            .groupBy(*key_cols)
            .agg(
                F.max_by(
                    F.struct(*[c for c in data_cols if c not in key_cols], "bucket"),
                    F.struct(F.col(version_col).alias("v"), F.col("__src").alias("s")),
                ).alias("__win")
            )
            .select(*key_cols, "__win.*")
        )

    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
    rewrite_touched_partitions(
        updates.withColumn("bucket", bucket), path, "bucket", schema, merge
    )


def read_upserted(spark: SparkSession, path: str) -> DataFrame:
    """The table without its managed bucket column."""
    return spark.read.parquet(path).drop("bucket")


def upsert_stream_run(
    spark: SparkSession,
    src_dir: str,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    version_col: str,
    table: str = "events",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Maintain the upserted table from a file stream: each micro-batch
    folds through :func:`upsert_partitioned` (same exactly-once story
    as the other merge sinks - replay is a no-op by version rule)."""
    from ..sources.registry import read_stream

    st = read_stream(
        spark, src_dir, table, max_files_per_trigger=max_files_per_trigger
    )
    writer = (
        st.writeStream.outputMode("update")
        .foreachBatch(
            lambda b, _i: upsert_partitioned(
                spark, path, b, key_cols, version_col
            )
        )
        .option("checkpointLocation", checkpoint)
        .queryName("upsert_sink")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def delete_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_cols: list[str],
    n_buckets: int = UPSERT_BUCKETS,
) -> None:
    """Targeted key deletion (the right-to-be-forgotten primitive) from
    an :func:`upsert_partitioned` table: read ONLY the buckets the key
    set hashes into, anti-join the keys out, dynamically overwrite
    those buckets. Cost is O(touched buckets), not O(table); deleting
    an absent key is a no-op; idempotent under replay."""
    bucket = F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
    tagged = keys.select(*key_cols).distinct().withColumn("bucket", bucket).persist()
    try:
        buckets = [r["bucket"] for r in tagged.select("bucket").distinct().collect()]
        if not buckets:
            return
        existing = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
        remaining = existing.join(
            F.broadcast(tagged.select(*key_cols)), key_cols, "left_anti"
        )
        remaining = remaining.localCheckpoint(eager=True)
        # Dynamic overwrite only replaces partitions PRESENT in the write:
        # a bucket whose every row was deleted would keep its old files.
        # Those buckets are removed explicitly through the Hadoop FS.
        present = {
            r["bucket"] for r in remaining.select("bucket").distinct().collect()
        }
        if present:
            (
                remaining.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(path)
            )
        jvm = spark._jvm  # type: ignore[attr-defined]
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
        for b in set(buckets) - present:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/bucket={b}"), True)
    finally:
        tagged.unpersist()
