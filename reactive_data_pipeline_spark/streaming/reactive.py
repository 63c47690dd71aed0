"""The reactive pipeline: events stream -> ticker -> incremental
ticker_meta (SURVEY.md sections 2.9, 7.4).

Design: **incremental view maintenance by monotone merge**, not a
stateful streaming aggregation. Each micro-batch computes its own
per-(symbol, Bangkok-day) min/max partials - a tiny, fully map-side
aggregation - and merges them into the stored derived table by
overwriting only the touched day partitions (dynamic partition
overwrite). Because min/max merges are idempotent and commutative,
replaying a batch after a failure converges to the same table: the
exactly-once property the reference gets from Dagster ``run_key`` dedup
(``sensors.py:15``) falls out of the algebra instead of distributed
state. No watermark state is held for the aggregate itself, so the
derived table is correct even for arbitrarily late rows; the optional
``dropDuplicatesWithinWatermark`` guard (R2) only bounds the dedup
buffer.

Scale notes: per batch, the work is one narrow aggregation of the new
files plus a partition-pruned read of only the affected days of the
derived table - independent of total history size. This is the property
that keeps the reactive layer O(new data) at 100 TB of accumulated
events.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..operators.ticker import build_ticker_meta, derive_ticker
from ..sources.registry import read_stream
from .merge_util import rewrite_touched_partitions
from .. import schemas


def events_stream(
    spark: SparkSession,
    path: str | None = None,
    max_files_per_trigger: int | None = None,
    dedup_watermark: str | None = "2 hours",
    bus: DataFrame | None = None,
) -> DataFrame:
    """R1's event source: normalized event rows, optionally dedup'd by
    event_id within a watermark (R2 - ``sensors.py:15``'s run_key
    semantics per event).

    Two interchangeable inputs: ``path`` file-streams a directory of
    events parquet parts; ``bus`` accepts a Kafka-wire-shaped streaming
    frame (``sources.bus`` - real Kafka or the dependency-free rate
    twin) and decodes its JSON payloads. Everything downstream is
    source-agnostic.
    """
    if (path is None) == (bus is None):
        raise ValueError("exactly one of path/bus must be given")
    if bus is not None:
        from ..sources.bus import decode_bus_events

        ev = decode_bus_events(bus)
    else:
        ev = read_stream(spark, path, "events", max_files_per_trigger=max_files_per_trigger)
    if dedup_watermark is not None:
        # Watermark needs an instant-typed column; session tz is pinned UTC.
        ev = (
            ev.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", dedup_watermark)
            .dropDuplicatesWithinWatermark(["event_id"])
            .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        )
    return ev


def merge_ticker_meta_batch(ticker: DataFrame, out_path: str) -> None:
    """Merge one micro-batch of ``derive_ticker`` rows into the derived
    table: the batch's per-(symbol, day) min/max partials (map-side; a
    batch touches few days) are unioned with ONLY those day partitions
    of the table and re-aggregated by monotone min/max
    (`merge_util.rewrite_touched_partitions`)."""

    def merge(existing: DataFrame, partial: DataFrame) -> DataFrame:
        return (
            existing.unionByName(partial)
            .groupBy("symbol", "partition")
            .agg(
                F.max("monthly_max_market_price").alias("monthly_max_market_price"),
                F.min("monthly_min_market_price").alias("monthly_min_market_price"),
            )
            .select("symbol", "monthly_max_market_price", "monthly_min_market_price", "partition")
        )

    partial = build_ticker_meta(ticker)
    rewrite_touched_partitions(partial, out_path, "partition", schemas.TICKER_META, merge)


def reactive_ticker_meta_run(
    spark: SparkSession,
    source_dir: str | None,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    dedup_watermark: str | None = "2 hours",
    observe: bool = True,
    max_files_per_trigger: int | None = None,
    bus: DataFrame | None = None,
):
    """Launch the reactive derived-table maintenance query.

    ``available_now=True`` is the R4 backfill/cron shape (process all
    pending files, then stop - the engine-side equivalent of the
    reference's daily 10:00 schedule, ``schedules.py:63-74``);
    ``False`` runs continuously with a 10 s micro-batch trigger,
    mirroring the sensor's ``minimum_interval_seconds=10``
    (``sensors.py:9``). Returns the StreamingQuery.

    ``dedup_watermark`` bounds the event-id dedup buffer; rows arriving
    later than the delay are dropped as late data, so a historical
    backfill replaying out-of-time-order files needs a delay covering
    the replayed span (or ``None`` to disable dedup - the min/max merge
    itself is idempotent under replays either way).

    Pass ``bus`` (a Kafka-wire streaming frame from ``sources.bus``) to
    run off a message bus instead of a file directory - the reference's
    sensor-on-event-log shape with a real broker.

    The ``derive_ticker`` projection is applied to the streaming frame
    here, once, so each micro-batch's callback builds only the merge.
    """
    ev = events_stream(
        spark,
        source_dir if bus is None else None,
        dedup_watermark=dedup_watermark,
        max_files_per_trigger=max_files_per_trigger,
        bus=bus,
    )
    if observe:
        ev = ev.observe(
            "ticker_ingest",
            F.count(F.lit(1)).alias("rows"),
            F.max("ts").alias("max_ts"),
        )
    writer = (
        derive_ticker(ev)
        .writeStream.foreachBatch(lambda b, _id: merge_ticker_meta_batch(b, out_path))
        .option("checkpointLocation", checkpoint_dir)
        .queryName("reactive_ticker_meta")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def read_ticker_meta(spark: SparkSession, out_path: str) -> DataFrame:
    """Scan the derived table with its declared schema (column order as
    TICKER_META; partition column comes back as string)."""
    df = spark.read.parquet(out_path)
    return df.select(
        "symbol",
        "monthly_max_market_price",
        "monthly_min_market_price",
        F.col("partition").cast("string").alias("partition"),
    )


@dataclass
class ObservedMetrics(StreamingQueryListener):
    """R7: capture ``observe`` metrics per micro-batch (the reference
    attaches count/last-5 metadata to each run, ``resources.py:28-38``)."""

    rows: list[dict] = field(default_factory=list)

    def onQueryStarted(self, event):  # noqa: D102
        pass

    def onQueryProgress(self, event):  # noqa: D102
        m = event.progress.observedMetrics.get("ticker_ingest")
        if m is not None:
            self.rows.append(m.asDict())

    def onQueryIdle(self, event):  # noqa: D102
        pass

    def onQueryTerminated(self, event):  # noqa: D102
        pass


def stream_to_jdbc(
    stream_df: DataFrame,
    url: str,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
):
    """Stream into an external JDBC table via ``foreachBatch``,
    idempotently per micro-batch.

    The structured-streaming side of the reference's SQLite append sink
    (``resources.py:40-53``): each micro-batch is one transactional
    batch insert. A bare foreachBatch append is only at-least-once (a
    crash between the insert and the checkpoint commit replays the
    batch); this sink upgrades it to effectively-once by stamping every
    row with the checkpoint's ``_batch_id`` and deleting that batch's
    rows before re-inserting - the replayed batch replaces its own
    earlier partial write instead of duplicating it. Returns the
    StreamingQuery.
    """
    import pyspark.sql.functions as F

    from ..sources.registry import write_jdbc

    def _sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # Delete any rows a previous (failed) attempt of this batch
        # wrote. The only benign skip is the table not existing yet
        # (first batch) - probed via JDBC metadata, NOT a swallowed
        # exception: a transient DELETE failure against an existing
        # table must fail the batch (checkpoint retries), or the replay
        # appends on top of the earlier partial write and duplicates it.
        conn = spark._jvm.java.sql.DriverManager.getConnection(url)
        try:
            tables = conn.getMetaData().getTables(None, None, "%", None)
            exists = False
            while tables.next():
                if tables.getString("TABLE_NAME").upper() == table.upper():
                    exists = True
                    break
            tables.close()
            if exists:
                stmt = conn.createStatement()
                stmt.executeUpdate(f'DELETE FROM {table} WHERE "_batch_id" = {int(batch_id)}')
                stmt.close()
        finally:
            conn.close()
        write_jdbc(batch.withColumn("_batch_id", F.lit(int(batch_id))), url, table, mode="append")

    writer = (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"jdbc_sink_{table}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
