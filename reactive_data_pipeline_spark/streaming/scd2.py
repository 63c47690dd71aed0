"""Streaming incremental SCD2 dimension maintenance.

The reactive-warehouse counterpart of the batch build
(`queries/etl.py::scd2_user_tier_dim`): each micro-batch of events
folds into a persistent type-2 dimension table, touching only the
hash-buckets of the users the batch observed. It is the shared
touched-partition rewrite (`merge_util.rewrite_touched_partitions`)
applied to interval maintenance.

Per trigger:

1. reduce the batch to (user_id, event_id, ts_us, tier) observations;
2. read ONLY the touched buckets of the existing dimension (partition
   pruning on the ``bucket`` column - O(touched), not O(table));
3. split those buckets' rows into touched users (semi join against the
   batch's key set - never a collected user list) and untouched users;
4. rebuild the touched users' intervals from their stored CHANGE POINTS
   plus the new observations. Change points are a lossless basis for
   re-running change detection under in-order arrival, and feeding a
   user's own intervals back through ``scd2_intervals`` reproduces them
   exactly, so a REPLAYED batch is a no-op (union+distinct absorbs the
   duplicate observations) - exactly-once effects from at-least-once
   delivery;
5. union with the untouched users' rows and dynamic-overwrite the
   touched buckets.

Arrival-order contract: per user, a batch's events must not predate an
already-recorded change point (the file-stream / bus sources deliver in
file order; late data belongs upstream in a watermarked dedup). At
100 TB, `SCD2_BUCKETS` sizes one bucket's rewrite to executor memory -
the dimension is change-compressed, orders of magnitude smaller than
the event stream feeding it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.scd import scd2_intervals
from .merge_util import rewrite_touched_partitions

SCD2_BUCKETS = 64

_DIM_SCHEMA = (
    "user_id long, version long, tier long, valid_from_us long, "
    "valid_to_us long, is_current boolean, event_id long, bucket long"
)


def event_observations(events: DataFrame) -> DataFrame:
    """(user_id, event_id, ts_us, tier) from raw events - tier is the
    props.k quartile band (k div 25), integer-exact."""
    return events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 25").alias("tier"),
    )


def _bucket(col: str = "user_id"):
    return F.pmod(F.xxhash64(col), F.lit(SCD2_BUCKETS))


def merge_scd2_batch(batch: DataFrame, out_path: str) -> None:
    """Fold one micro-batch of raw events into the dimension table."""

    def merge(existing: DataFrame, obs: DataFrame) -> DataFrame:
        batch_users = obs.select("user_id").distinct()
        touched = existing.join(F.broadcast(batch_users), "user_id", "left_semi")
        untouched = existing.join(F.broadcast(batch_users), "user_id", "left_anti")
        # Stored change points, re-expressed as observations. valid_from_us
        # is the change's own event time; event_id keeps the total order
        # stable and makes a replayed batch's union collapse in distinct().
        hist_obs = touched.select(
            "user_id",
            "event_id",
            F.col("valid_from_us").alias("ts_us"),
            "tier",
        )
        all_obs = hist_obs.unionByName(obs.select(*hist_obs.columns)).distinct()
        rebuilt = scd2_intervals(all_obs, keep_event_id=True).withColumn(
            "bucket", _bucket()
        )
        return untouched.unionByName(rebuilt.select(*untouched.columns))

    obs = event_observations(batch).withColumn("bucket", _bucket())
    rewrite_touched_partitions(obs, out_path, "bucket", _DIM_SCHEMA, merge)


def scd2_stream_run(
    spark: SparkSession,
    src_dir: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the SCD2 dimension from an events file stream."""
    from ..sources.registry import read_stream

    ev = read_stream(
        spark, src_dir, "events", max_files_per_trigger=max_files_per_trigger
    )
    writer = (
        ev.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: merge_scd2_batch(b, out_path))
        .option("checkpointLocation", checkpoint)
        .queryName("scd2_dim")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_scd2_dim(spark: SparkSession, out_path: str) -> DataFrame:
    """The maintained dimension in the batch query's column shape."""
    return spark.read.parquet(out_path).select(
        "user_id", "version", "tier", "valid_from_us", "valid_to_us", "is_current"
    )
