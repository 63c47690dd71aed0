"""Streaming dedup-registry tests: stream-batch equivalence and
incremental convergence as new document files arrive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactive_data_pipeline_spark.dedup import exact_dedup_groups
from reactive_data_pipeline_spark.operators.ticker import derive_ticker
from reactive_data_pipeline_spark.operators.upsert import upsert_partitioned
from reactive_data_pipeline_spark.sources import read_table
from reactive_data_pipeline_spark.streaming import (
    merge_dedup_registry_batch,
    merge_ticker_meta_batch,
    streaming_dedup_run,
    streaming_dedup_update_run,
)
from reactive_data_pipeline_spark.streaming.scd2 import merge_scd2_batch

from .conftest import SF_DIR
from .helpers import assert_df_equal


def _run(spark, src, out, ckpt):
    q = streaming_dedup_run(spark, str(src), out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive


def test_streaming_registry_equals_batch(spark, tmp_path):
    src = tmp_path / "docs_in"
    src.mkdir()
    out, ckpt = str(tmp_path / "registry"), str(tmp_path / "ckpt")
    docs = read_table(spark, SF_DIR, "documents")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(
            str(src)
        )
    _run(spark, src, out, ckpt)
    assert_df_equal(spark.read.parquet(out), exact_dedup_groups(docs))


def test_streaming_registry_converges_on_arrival(spark, tmp_path):
    """A new file shifts only the groups it touches; after the second
    drain the registry equals the batch aggregate over everything."""
    src = tmp_path / "docs_in"
    src.mkdir()
    out, ckpt = str(tmp_path / "registry"), str(tmp_path / "ckpt")
    docs = read_table(spark, SF_DIR, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    _run(spark, src, out, ckpt)
    n_first = spark.read.parquet(out).count()
    assert n_first > 0
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    _run(spark, src, out, ckpt)  # same checkpoint: only the new file replays
    assert_df_equal(spark.read.parquet(out), exact_dedup_groups(docs))


def _registry(spark, out):
    return spark.read.parquet(out).select("keeper_doc_id", "n_copies", "fingerprint")


def test_update_mode_registry_equals_batch(spark, tmp_path):
    """The production update-mode path: registry table built by the
    idempotent bucket-merge sink equals the batch aggregate."""
    src = tmp_path / "docs_in"
    src.mkdir()
    out, ckpt = str(tmp_path / "registry"), str(tmp_path / "ckpt")
    docs = read_table(spark, SF_DIR, "documents")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode("append").parquet(
            str(src)
        )
    q = streaming_dedup_update_run(spark, str(src), out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert not q.isActive
    assert_df_equal(_registry(spark, out), exact_dedup_groups(docs))


def test_update_mode_incremental_and_bucket_pruned(spark, tmp_path):
    """Second drain over a new file converges to the full batch
    aggregate, and the materialized table is bucket-partitioned (the
    merge only rewrites touched buckets)."""
    src = tmp_path / "docs_in"
    src.mkdir()
    out, ckpt = str(tmp_path / "registry"), str(tmp_path / "ckpt")
    docs = read_table(spark, SF_DIR, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    q = streaming_dedup_update_run(spark, str(src), out, ckpt, available_now=True)
    q.awaitTermination(120)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    q = streaming_dedup_update_run(spark, str(src), out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert_df_equal(_registry(spark, out), exact_dedup_groups(docs))
    # Hive-style bucket partition dirs prove the dynamic-overwrite layout.
    import os

    assert any(d.startswith("bucket=") for d in os.listdir(out))


def test_merge_replay_is_noop(spark, tmp_path):
    """Replaying the SAME update batch (the failure-recovery case) and
    even re-applying a STALE earlier batch after a newer one leaves the
    registry unchanged - the monotone min/max merge contract."""
    out = str(tmp_path / "registry")
    docs = read_table(spark, SF_DIR, "documents")
    full = exact_dedup_groups(docs)
    half = exact_dedup_groups(docs.filter(F.col("doc_id") % 2 == 0))
    merge_dedup_registry_batch(half, out)       # batch 0
    merge_dedup_registry_batch(full, out)       # batch 1 (superset state)
    after_full = _registry(spark, out).toPandas()
    merge_dedup_registry_batch(full, out)       # replay batch 1
    merge_dedup_registry_batch(half, out)       # stale batch 0 re-applied
    assert_df_equal(_registry(spark, out), full)
    final = _registry(spark, out).toPandas()
    pd_sort = lambda d: d.sort_values(list(d.columns)).reset_index(drop=True)  # noqa: E731
    assert pd_sort(after_full).equals(pd_sort(final))


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _merge_sink(spark, sink, out):
    """One of the four merge sinks, bound to a small static batch."""
    if sink == "ticker":
        events = read_table(spark, SF_DIR, "events").limit(50)
        return lambda: merge_ticker_meta_batch(derive_ticker(events), out)
    if sink == "dedup":
        updates = exact_dedup_groups(read_table(spark, SF_DIR, "documents").limit(20))
        return lambda: merge_dedup_registry_batch(updates, out)
    if sink == "scd2":
        events = read_table(spark, SF_DIR, "events").limit(50)
        return lambda: merge_scd2_batch(events, out)
    rows = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(20)], "id long, val string, ver long"
    )
    return lambda: upsert_partitioned(spark, out, rows, ["id"], "ver")


@pytest.mark.parametrize("sink", ["ticker", "dedup", "scd2", "upsert"])
def test_merge_fails_on_corrupt_registry_instead_of_data_loss(spark, tmp_path, sink):
    """A transient/corrupt read of a NON-EMPTY table must fail the
    micro-batch (checkpoint retries it) - never be treated as 'first
    batch', which would dynamic-overwrite the touched partitions from
    the batch alone and silently delete co-partitioned entries. The
    failed merge must not leave its batch partial cached either."""
    out = str(tmp_path / "table")
    merge = _merge_sink(spark, sink, out)
    merge()
    n_before = spark.read.parquet(out).count()
    assert n_before > 0

    # corrupt every parquet footer under the table root
    import glob as _glob
    import os

    for f in _glob.glob(f"{out}/**/*.parquet", recursive=True):
        with open(f, "r+b") as fh:
            fh.seek(0, os.SEEK_END)
            size = fh.tell()
            fh.truncate(max(4, size // 2))
    cached = _persistent_rdd_ids(spark)
    with pytest.raises(Exception) as exc:
        merge()
    # the failure is a read error, not a silent success
    assert "PATH_NOT_FOUND" not in str(exc.value)
    # no RDD registered by the failed call is left persisted (a set, not
    # a count: the context cleaner may free older RDDs meanwhile)
    assert _persistent_rdd_ids(spark) <= cached


def test_merge_bootstraps_only_on_missing_path(spark, tmp_path):
    """PATH_NOT_FOUND (table genuinely absent) is the one benign case:
    the merge bootstraps an empty registry and writes the batch."""
    out = str(tmp_path / "fresh_registry")
    docs = read_table(spark, SF_DIR, "documents").limit(10)
    merge_dedup_registry_batch(exact_dedup_groups(docs), out)
    assert spark.read.parquet(out).count() > 0
