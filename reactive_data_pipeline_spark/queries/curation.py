"""Corpus-curation catalog queries: contamination checking, domain
mixing, PII scrubbing (functions.curation; SURVEY.md section 7.5
rounding-out set - what a training-data pipeline runs between dedup and
chunking)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.curation import (
    contamination_overlap,
    digit_count,
    scrub_digit_runs,
    stratified_keep,
)
from ..functions import text as TX
from ..sources import read_table
from . import QUERIES, register, work_dir
from .llm import _NORM, _TOKS, _docs, _stop_sql

#: DuckDB twin of token_ngrams(text, 3) (matches llm.ngram3 oracle).
_GRAMS3 = (
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
    "FOR i IN generate_series(1, len(t) - 2)])"
)


@register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (SELECT doc_id, {_GRAMS3} AS g FROM toks),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 50 <> 0)
    SELECT corpus.doc_id,
           COUNT(*) AS n_grams,
           COUNT(bench.gram) AS n_contaminated,
           round(CAST(COUNT(bench.gram) AS DOUBLE) / COUNT(*), 6)
             AS contamination_ratio
    FROM corpus LEFT JOIN bench ON corpus.gram = bench.gram
    GROUP BY corpus.doc_id
    """,
    tags=("text", "contamination", "curation"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-training-doc count of word
    trigrams leaked from the held-out set (docs with doc_id % 50 == 0
    stand in for the eval suite). The benchmark gram set broadcasts -
    eval suites are tiny next to a 100 TB corpus - so the corpus scan
    joins map-side and the only shuffle is the per-doc count."""
    d = _docs(spark, sf_dir)
    return contamination_overlap(
        d.filter(F.col("doc_id") % 50 != 0),
        d.filter(F.col("doc_id") % 50 == 0),
        n=3,
    )


@register(
    "domain_mix_sample",
    oracle="""
    WITH rated AS (
      SELECT source,
             CAST(CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                       THEN 0.8 ELSE 0.25 END AS DOUBLE) AS target_rate,
             (doc_id * 1000003) % 1000 AS residue
      FROM documents
    )
    SELECT source, target_rate,
           COUNT(*) AS n_total,
           COUNT(CASE WHEN residue < target_rate * 1000 THEN 1 END) AS n_kept,
           round(CAST(COUNT(CASE WHEN residue < target_rate * 1000 THEN 1 END)
                      AS DOUBLE) / COUNT(*), 6) AS achieved_rate
    FROM rated
    GROUP BY source, target_rate
    """,
    tags=("sampling", "curation"),
)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: down-sample each source to a per-domain target
    rate (even-indexed sources 0.8, odd 0.25) with a deterministic
    hash-residue predicate - reproducible across engines, runs and
    partitionings, unlike sample(). Reports achieved vs target rate per
    stratum. Pure per-row predicate + one agg: no extra shuffle at any
    scale."""
    d = read_table(spark, sf_dir, "documents")
    rate = F.when(F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(0.8)).otherwise(
        F.lit(0.25)
    )
    kept = stratified_keep(d, rate, "doc_id")
    return (
        d.select("source", rate.alias("target_rate"), kept.cast("int").alias("__k"))
        .groupBy("source", "target_rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("__k").alias("n_kept"),
        )
        .select(
            "source",
            "target_rate",
            "n_total",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_total"), 6).alias("achieved_rate"),
        )
    )


@register(
    "streaming_dedup_docs",
    oracle=f"""
    SELECT MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           md5(norm) AS fingerprint
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    GROUP BY norm
    """,
    tags=("dedup", "streaming", "curation"),
)
def streaming_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup registry maintained BY THE STREAM: run the Structured
    Streaming availableNow job over the documents as a file stream
    (streaming/dedup.py), then return the materialized registry. The
    oracle is the plain batch aggregation - stream-batch equivalence as
    a value-hash-checked driver query, the LLM-pipeline counterpart of
    reactive_ticker_meta_stream."""
    import os

    from ..sources.registry import table_path
    from ..streaming import await_finished, streaming_dedup_run

    work = work_dir("streaming_dedup_")
    out, ckpt = f"{work}/registry", f"{work}/ckpt"
    src = f"{work}/docs_in"
    os.mkdir(src)
    os.symlink(table_path(sf_dir, "documents"), f"{src}/documents.parquet")
    q = streaming_dedup_run(spark, src, out, ckpt, available_now=True)
    await_finished(q)
    return spark.read.parquet(out)


@register(
    "streaming_dedup_update",
    oracle=f"""
    SELECT MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           md5(norm) AS fingerprint
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    GROUP BY norm
    """,
    tags=("dedup", "streaming", "curation"),
)
def streaming_dedup_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup-registry path under the same stream-batch
    equivalence oracle as streaming_dedup_docs: update-output mode
    emits only changed fingerprints per trigger and the idempotent
    bucket-merge sink folds them into the partitioned registry table
    (streaming/dedup.py:merge_dedup_registry_batch) - per trigger cost
    O(changed keys) instead of complete mode's O(registry)."""
    import os

    from ..sources.registry import table_path
    from ..streaming import await_finished, streaming_dedup_update_run

    work = work_dir("streaming_dedup_upd_")
    out, ckpt = f"{work}/registry", f"{work}/ckpt"
    src = f"{work}/docs_in"
    os.mkdir(src)
    os.symlink(table_path(sf_dir, "documents"), f"{src}/documents.parquet")
    q = streaming_dedup_update_run(spark, src, out, ckpt, available_now=True)
    await_finished(q)
    return spark.read.parquet(out).select("keeper_doc_id", "n_copies", "fingerprint")


@register(
    "corpus_ingest_manifest",
    oracle=f"""
    WITH dedup AS (
      SELECT doc_id, text, norm FROM (
        SELECT doc_id, text, norm,
               MIN(doc_id) OVER (PARTITION BY norm) AS keeper
        FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents)
      ) WHERE doc_id = keeper
    ),
    scored AS (
      SELECT doc_id, norm,
             round(least(1.0, CAST(len(string_split(norm, ' ')) AS DOUBLE) / 50.0) * 0.5
                   + least(1.0, (CAST({_stop_sql('en')} AS DOUBLE)
                                 / len(string_split(norm, ' '))) * 5.0) * 0.3
                   + (1.0 - least(1.0, (CAST(len(regexp_extract_all(text, '{TX.PUNCT_CLASS}')) AS DOUBLE)
                                        / length(text)) * 10.0)) * 0.2, 6) AS quality,
             {_stop_sql('en')} AS s_en, {_stop_sql('es')} AS s_es,
             {_stop_sql('fr')} AS s_fr, {_stop_sql('de')} AS s_de
      FROM dedup
    ),
    kept AS (
      SELECT doc_id, norm FROM scored
      WHERE quality >= 0.5 AND s_en > 0
        AND s_en = greatest(s_en, s_es, s_fr, s_de)
    ),
    toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM kept),
    chunks AS (
      SELECT doc_id, chunk_idx,
             len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS n_tokens
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(
                 0, CAST(greatest(ceil((len(t) - 8) / 24.0), 1) AS INT) - 1)) AS chunk_idx
        FROM toks
      )
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(floor(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY doc_id % 32
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 128.0) AS BIGINT)
               * 32 + (doc_id % 32) AS bin_id
      FROM chunks
    )
    SELECT CAST(0 AS BIGINT) AS ingest_batch,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
           (SELECT CAST(COUNT(DISTINCT {_NORM}) AS BIGINT) FROM documents)
             AS n_registered
    FROM packed
    """,
    tags=("dedup", "streaming", "curation", "export"),
)
def corpus_ingest_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reactive corpus-ingest job (streaming/corpus.py) under the
    full value-hash oracle: run the availableNow file-stream ingest -
    in-batch exact dedup, registry anti-join, quality+language filter,
    chunk, bucket-pack, per-batch shard export - then read back the
    written shards and registry and emit one manifest row per ingest
    batch. The oracle recomputes the whole flow batch-side in DuckDB
    (dedup-first order, unlike training_data_pipeline's filter-first),
    so the streaming path's row counts, token totals, bin count and
    registry size are all hash-proven, not just pytest-proven."""
    import os

    from ..sources.registry import table_path
    from ..streaming import await_finished, corpus_ingest_run

    work = work_dir("corpus_ingest_")
    reg, shards, ckpt = f"{work}/registry", f"{work}/shards", f"{work}/ckpt"
    src = f"{work}/docs_in"
    os.mkdir(src)
    os.symlink(table_path(sf_dir, "documents"), f"{src}/documents.parquet")
    q = corpus_ingest_run(spark, src, reg, shards, ckpt, available_now=True)
    await_finished(q)
    packed = spark.read.parquet(shards)  # partition-discovers ingest_batch
    return _ingest_manifest_frame(spark, reg, packed)


def _ingest_manifest_frame(spark, reg: str, packed: DataFrame) -> DataFrame:
    """Per-ingest-batch shard manifest + the global registry size."""
    n_reg = spark.read.parquet(reg).agg(
        F.count(F.lit(1)).cast("long").alias("n_registered")
    )
    manifest = packed.groupBy(
        F.col("ingest_batch").cast("long").alias("ingest_batch")
    ).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("bin_id").alias("n_bins"),
    )
    # 1-row x N-row: broadcast nested-loop of a 1-row aggregate, not a
    # data-sized cartesian.
    return manifest.crossJoin(F.broadcast(n_reg))


def _ingest_kept_sql(src: str) -> str:
    """DuckDB fragment: the ingest quality+language gate over a CTE with
    (doc_id, text, norm) columns -> (doc_id, norm) survivors."""
    return f"""
      SELECT doc_id, norm FROM (
        SELECT doc_id, norm,
               round(least(1.0, CAST(len(string_split(norm, ' ')) AS DOUBLE) / 50.0) * 0.5
                     + least(1.0, (CAST({_stop_sql('en')} AS DOUBLE)
                                   / len(string_split(norm, ' '))) * 5.0) * 0.3
                     + (1.0 - least(1.0, (CAST(len(regexp_extract_all(text, '{TX.PUNCT_CLASS}')) AS DOUBLE)
                                          / length(text)) * 10.0)) * 0.2, 6) AS quality,
               {_stop_sql('en')} AS s_en, {_stop_sql('es')} AS s_es,
               {_stop_sql('fr')} AS s_fr, {_stop_sql('de')} AS s_de
        FROM {src}
      )
      WHERE quality >= 0.5 AND s_en > 0
        AND s_en = greatest(s_en, s_es, s_fr, s_de)
    """


def _ingest_pack_sql(kept: str) -> str:
    """DuckDB fragment: chunk + bucket-pack the (doc_id, norm)
    survivors of one ingest batch (32/8 chunking, 128-token bins,
    bucket = doc_id % 32)."""
    return f"""
      SELECT doc_id, n_tokens,
             CAST(floor(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY doc_id % 32
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 128.0) AS BIGINT)
               * 32 + (doc_id % 32) AS bin_id
      FROM (
        SELECT doc_id, chunk_idx,
               len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS n_tokens
        FROM (
          SELECT doc_id, t,
                 unnest(generate_series(
                   0, CAST(greatest(ceil((len(t) - 8) / 24.0), 1) AS INT) - 1)) AS chunk_idx
          FROM (SELECT doc_id, string_split(norm, ' ') AS t FROM {kept})
        )
      )
    """


def _ingest_manifest_row_sql(batch_id: int, packed: str) -> str:
    return f"""
      SELECT CAST({batch_id} AS BIGINT) AS ingest_batch,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins
      FROM {packed}
    """


@register(
    "corpus_ingest_incremental",
    oracle=f"""
    WITH a_dedup AS (
      SELECT doc_id, text, norm FROM (
        SELECT doc_id, text, norm,
               MIN(doc_id) OVER (PARTITION BY norm) AS keeper
        FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents
              WHERE doc_id % 2 = 0)
      ) WHERE doc_id = keeper
    ),
    b_dedup AS (
      SELECT doc_id, text, norm FROM (
        SELECT doc_id, text, norm,
               MIN(doc_id) OVER (PARTITION BY norm) AS keeper
        FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents
              WHERE doc_id % 2 = 1)
      ) WHERE doc_id = keeper
    ),
    b_fresh AS (
      SELECT * FROM b_dedup WHERE norm NOT IN (SELECT norm FROM a_dedup)
    ),
    a_kept AS ({{A_KEPT}}),
    b_kept AS ({{B_KEPT}}),
    a_packed AS ({{A_PACK}}),
    b_packed AS ({{B_PACK}}),
    reg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a_dedup)
             + (SELECT CAST(COUNT(*) AS BIGINT) FROM b_fresh) AS n_registered
    )
    SELECT m.*, reg.n_registered FROM (
      {{ROW0}}
      UNION ALL
      {{ROW1}}
    ) m, reg
    """.replace("{A_KEPT}", _ingest_kept_sql("a_dedup"))
    .replace("{B_KEPT}", _ingest_kept_sql("b_fresh"))
    .replace("{A_PACK}", _ingest_pack_sql("a_kept"))
    .replace("{B_PACK}", _ingest_pack_sql("b_kept"))
    .replace("{ROW0}", _ingest_manifest_row_sql(0, "a_packed"))
    .replace("{ROW1}", _ingest_manifest_row_sql(1, "b_packed")),
    tags=("dedup", "streaming", "curation", "export"),
)
def corpus_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL half of the reactive corpus ingest under the
    value hash: two deterministic arrival waves (even doc_ids, then
    odd, forced into separate micro-batches via mtime ordering +
    maxFilesPerTrigger=1), so batch 1 exercises the registry ANTI-JOIN
    against a NON-EMPTY registry - the path the single-batch
    corpus_ingest_manifest cannot reach. The oracle recomputes both
    waves batch-side: wave-B survivors are wave-B's in-batch keepers
    whose normalized content wave A did not already register. A
    replay/anti-join bug (e.g. re-exporting already-seen content)
    shifts batch 1's chunk/doc/token counts off the oracle's and fails
    the hash."""

    from ..streaming import await_finished, corpus_ingest_run

    work = work_dir("corpus_incr_")
    reg, shards, ckpt = f"{work}/registry", f"{work}/shards", f"{work}/ckpt"
    src = _write_two_waves(read_table(spark, sf_dir, "documents"), work)
    q = corpus_ingest_run(
        spark, src, reg, shards, ckpt, available_now=True, max_files_per_trigger=1
    )
    await_finished(q)
    return _ingest_manifest_frame(spark, reg, spark.read.parquet(shards))


def _write_two_waves(docs: DataFrame, work: str) -> str:
    """Materialize ``docs`` as two single-file arrival waves (even
    doc_ids then odd) whose modification times pin the FileStreamSource
    order; with maxFilesPerTrigger=1 each wave is its own micro-batch.
    Returns the stream source directory."""
    import glob
    import os
    import shutil

    src = f"{work}/docs_in"
    os.mkdir(src)
    for tag, residue, mtime in (("a", 0, 1_000_000_000), ("b", 1, 2_000_000_000)):
        half_dir = f"{work}/half_{tag}"
        docs.filter(F.col("doc_id") % 2 == residue).coalesce(1).write.parquet(half_dir)
        part = glob.glob(f"{half_dir}/part-*.parquet")[0]
        dst = f"{src}/{tag}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))
    return src


@register(
    "streaming_neardup_contract",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM toks
    ),
    exact AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS equals_batch_twin,
           TRUE AS meets_recall_floor,
           TRUE AS meets_precision_floor
    FROM exact
    """,
    tags=("dedup", "simhash", "streaming", "contract"),
)
def streaming_neardup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming NEAR-dup registry (streaming/neardup.py) under the
    recall-contract hash: documents arrive in two forced waves
    (mtime-ordered files + maxFilesPerTrigger=1), so wave B's pairs mix
    in-batch candidates with registry probes against wave A. The
    contract emits (1) exact stream==batch pair-set equality against
    the batch simhash operator - deterministic by construction, both
    engine-side - and (2) the same recall/precision floors as
    simhash_recall_contract against the trigram-Jaccard >= 0.5 ground
    truth, whose ``n_exact_pairs`` the ORACLE recomputes in DuckDB. A
    broken registry probe, banding, replay guard or verification stage
    flips a boolean or shifts the anchored count and fails the hash."""

    from ..dedup import simhash_near_pairs
    from ..dedup.ngram import ngram_jaccard_pairs
    from ..streaming import (
        await_finished,
        read_neardup_pairs,
        streaming_neardup_run,
    )

    work = work_dir("stream_neardup_")
    reg, pairs_root, ckpt = f"{work}/registry", f"{work}/pairs", f"{work}/ckpt"
    docs = read_table(spark, sf_dir, "documents")
    src = _write_two_waves(docs, work)
    q = streaming_neardup_run(
        spark, src, reg, pairs_root, ckpt,
        available_now=True, max_files_per_trigger=1,
    )
    await_finished(q)
    streamed = read_neardup_pairs(spark, pairs_root).select("doc_a", "doc_b")
    batch = simhash_near_pairs(docs, max_hamming=3).select("doc_a", "doc_b")
    # quotient=True (optimization round 13, the round-12 verdict's item
    # 4): the ground-truth leg is the query's volume cost, and this
    # fixture's duplicate multiplicity grows with SF - the direct leg's
    # candidate-multiplied gram arrays burned 565 s of disk in the sf4
    # sweep (r12 SCALING.md). Output-identical by the quotient argument
    # (pinned by test_ngram_jaccard_prefix_filter_matches_brute_force
    # in both modes + this query's own DuckDB-recomputed n_exact_pairs).
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.5, quotient=True).select(
        "doc_a", "doc_b"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_stream = streamed.agg(F.count(F.lit(1)).alias("__n_s"))
    only_stream = streamed.exceptAll(batch).agg(F.count(F.lit(1)).alias("__d1"))
    only_batch = batch.exceptAll(streamed).agg(F.count(F.lit(1)).alias("__d2"))
    hits = streamed.join(exact, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("__hits")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_stream))
        .crossJoin(F.broadcast(only_stream))
        .crossJoin(F.broadcast(only_batch))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_exact_pairs",
            ((F.col("__d1") == 0) & (F.col("__d2") == 0)).alias("equals_batch_twin"),
            (F.col("__hits") >= 0.5 * F.col("n_exact_pairs")).alias(
                "meets_recall_floor"
            ),
            (F.col("__hits") >= 0.5 * F.col("__n_s")).alias("meets_precision_floor"),
        )
    )


@register(
    "pii_scrub_customers",
    oracle="""
    SELECT c_custkey,
           regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS masked_name,
           length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
             AS n_masked
    FROM customer
    """,
    tags=("pii", "curation"),
)
def pii_scrub_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask digit runs (account-number-shaped tokens) in
    customer names and count masked characters. Per-row JVM regex in
    whole-stage codegen - linear, no shuffle; the template for
    email/phone/SSN patterns on a real corpus."""
    c = read_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        scrub_digit_runs("c_name").alias("masked_name"),
        digit_count("c_name").alias("n_masked"),
    )


@register(
    "cms_user_frequencies",
    oracle="""
    SELECT user_id,
           COUNT(*) AS exact_n,
           TRUE AS est_ge_exact,
           TRUE AS within_eps
    FROM events GROUP BY user_id
    """,
    tags=("sketch", "agg", "curation"),
)
def cms_user_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch per-user event frequencies (sketches.py) under
    the sketch-family tolerance contract: the estimate is one-sidedly
    >= the exact count, and over by at most ceil(e*N/w) (the CMS bound,
    deterministic here given fixed seeds). The sketch itself is d*w
    cells - constant size at any input scale, mergeable cell-wise."""
    from ..sketches import W_BUCKETS, cms_build, cms_estimate

    ev = read_table(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_estimate(sketch, exact.select("user_id"), "user_id")
    # Total-N rides in as a broadcast 1-row aggregate (never a
    # whole-frame window - that serializes onto one task at scale).
    totals = ev.agg(F.count(F.lit(1)).alias("__N"))
    eps_bound = F.ceil(F.lit(2.718281828) * F.col("__N") / F.lit(W_BUCKETS))
    return (
        exact.join(est, "user_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "user_id",
            "exact_n",
            (F.col("est_n") >= F.col("exact_n")).alias("est_ge_exact"),
            ((F.col("est_n") - F.col("exact_n")) <= eps_bound).alias("within_eps"),
        )
    )


_TDP_ORACLE = QUERIES["training_data_pipeline"].oracle


@register(
    "training_shards_manifest",
    oracle=f"""
    WITH tdp AS ({_TDP_ORACLE})
    SELECT bin_id % 8 AS shard,
           COUNT(*) AS n_chunks,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM tdp GROUP BY bin_id % 8
    """,
    tags=("export", "curation", "pipeline"),
    bench=True,
)
def training_shards_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export step's manifest, oracle-checked end-to-end THROUGH the
    whole pipeline: run the composed pipeline, assign deterministic
    bin-residue shards (export.assign_shards semantics: shard =
    bin_id mod 8), aggregate per-shard chunk/doc/token counts.

    Aggregation is bucket-decomposed: shard = bin_id % 8 =
    pack_bucket % 8 (8 divides the 32 pack buckets, and every doc's
    chunks share its bucket), so per-bucket partials - computed INSIDE
    the pack window's existing hash partitioning, including the
    distinct-doc count - merge exactly into shard rows. Zero
    chunk-scale exchanges after packing; the old groupBy(shard) +
    countDistinct re-shuffled every chunk row on (shard, doc_id). The
    filesystem write itself (one sorted writer task per shard +
    xxhash64 content fingerprint) is exercised in tests/test_export.py
    - engine-specific hashes stay out of the cross-engine oracle."""
    from .llm import _training_pipeline_packed

    packed = _training_pipeline_packed(spark, sf_dir, keep_bucket=True)
    per_bucket = packed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__nc"),
        F.countDistinct("doc_id").alias("__nd"),
        F.sum("n_tokens").alias("__nt"),
    )
    return (
        per_bucket.groupBy(F.pmod("bucket", F.lit(8)).cast("long").alias("shard"))
        .agg(
            F.sum("__nc").cast("long").alias("n_chunks"),
            F.sum("__nd").cast("long").alias("n_docs"),
            F.sum("__nt").cast("long").alias("n_tokens"),
        )
    )


@register(
    "dq_star_schema_suite",
    oracle="""
    SELECT 'not_null:o_custkey' AS check_name, 'orders' AS table_name,
           (SELECT COUNT(*) - COUNT(o_custkey) FROM orders) = 0 AS passed,
           round(CAST((SELECT COUNT(*) - COUNT(o_custkey) FROM orders) AS DOUBLE)
                 / (SELECT COUNT(*) FROM orders), 6) AS observed
    UNION ALL
    SELECT 'unique:o_orderkey', 'orders',
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) = 0,
           CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey', 'orders',
           (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey
            WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) = 0,
           CAST((SELECT COUNT(*) FROM orders o LEFT JOIN customer c
                 ON o.o_custkey = c.c_custkey
                 WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS DOUBLE)
    UNION ALL
    SELECT 'fk:l_orderkey->o_orderkey', 'lineitem',
           (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
            ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) = 0,
           CAST((SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
                 ON l.l_orderkey = o.o_orderkey
                 WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) AS DOUBLE)
    UNION ALL
    SELECT 'domain:o_orderstatus', 'orders',
           (SELECT COUNT(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                              AND o_orderstatus IS NOT NULL THEN 1 END)
            FROM orders) = 0,
           CAST((SELECT COUNT(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                                   AND o_orderstatus IS NOT NULL THEN 1 END)
                 FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'range:l_discount', 'lineitem',
           (SELECT COUNT(CASE WHEN l_discount IS NOT NULL
                              AND (l_discount < 0 OR l_discount > 0.1) THEN 1 END)
            FROM lineitem) = 0,
           CAST((SELECT COUNT(CASE WHEN l_discount IS NOT NULL
                                   AND (l_discount < 0 OR l_discount > 0.1) THEN 1 END)
                 FROM lineitem) AS DOUBLE)
    """,
    tags=("quality", "curation", "agg"),
)
def dq_star_schema_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-quality gate as a query: null-rate, key-uniqueness,
    referential-integrity, domain, and range checks over the star
    schema, one result row per check (quality.py). Each check is a
    single aggregate / anti join; the whole suite is a handful of scans
    at any scale."""
    from ..quality import (
        check_in_domain,
        check_not_null,
        check_range,
        check_references,
        check_unique,
        run_suite,
    )

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    c = read_table(spark, sf_dir, "customer")
    return run_suite(
        [
            check_not_null(o, "orders", "o_custkey"),
            check_unique(o, "orders", ["o_orderkey"]),
            check_references(o, "orders", "o_custkey", c, "c_custkey"),
            check_references(li, "lineitem", "l_orderkey", o, "o_orderkey"),
            check_in_domain(o, "orders", "o_orderstatus", ["F", "O", "P"]),
            check_range(li, "lineitem", "l_discount", 0.0, 0.1),
        ]
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
      GROUP BY doc_id, t
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, tf.term AS term,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf, df, n WHERE tf.term = df.term
    )
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT doc_id, term, tfidf,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS INT) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    tags=("text", "tfidf", "curation"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms - the classic corpus-mining
    ranking. One explode feeds both the per-doc TF and the corpus DF;
    the vocabulary-sized IDF table broadcasts back onto TF; ranking is
    one doc-keyed window. Scores round to 6dp BEFORE ranking so the
    (score, term) tie-break is identical cross-engine (libm ln tails
    sit ~1e-14 below the rounding grid)."""
    from pyspark.sql import Window

    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    terms = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy_any
      FROM events GROUP BY user_id
    ),
    ordered AS (
      SELECT user_id, t_view,
             CASE WHEN t_click_any > t_view THEN t_click_any END AS t_click
      FROM stages
    ),
    full_funnel AS (
      SELECT o.user_id, o.t_view, o.t_click,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > o.t_click
                      THEN e.ts END) AS t_buy
      FROM ordered o LEFT JOIN events e ON e.user_id = o.user_id
      GROUP BY o.user_id, o.t_view, o.t_click
    )
    SELECT CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
           CAST(COUNT(t_click) AS BIGINT) AS n_clicked_after_view,
           CAST(COUNT(t_buy) AS BIGINT) AS n_purchased_after_click,
           round(CAST(COUNT(t_buy) AS DOUBLE) / COUNT(t_view), 6) AS conversion
    FROM full_funnel
    """,
    tags=("events", "funnel", "agg"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked after
    viewing, then purchased after that click - the classic
    strictly-ordered conversion funnel. One conditional-min aggregation
    per user resolves the first two stages; the purchase-after-click
    stage re-aggregates against the per-user click time (a second
    user-keyed pass, same shuffle key - co-partitioned). Counts reduce
    to a single row."""
    ev = read_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click_any"),
    )
    ordered = stages.select(
        "user_id",
        "t_view",
        F.when(F.col("t_click_any") > F.col("t_view"), F.col("t_click_any")).alias(
            "t_click"
        ),
    )
    funnel = (
        ev.filter(F.col("event_type") == "purchase")
        .join(ordered, "user_id", "right")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(F.when(F.col("ts") > F.col("t_click"), F.col("ts"))).alias("t_buy")
        )
    )
    return funnel.agg(
        F.count("t_view").cast("long").alias("n_viewed"),
        F.count("t_click").cast("long").alias("n_clicked_after_view"),
        F.count("t_buy").cast("long").alias("n_purchased_after_click"),
        F.round(F.count("t_buy") / F.count("t_view"), 6).alias("conversion"),
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(floor(date_diff('day', DATE '1995-01-01', f.d0) / 7.0) AS BIGINT)
               AS cohort_week,
             CAST(floor(date_diff('day', f.d0, CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
               AS week_no
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_no, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity GROUP BY cohort_week, week_no
    """,
    tags=("events", "cohort", "agg"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted as active in each week-offset since. Week keys are pure
    day-arithmetic from a fixed epoch (no engine week-start
    conventions). Two user-keyed aggregations on the same shuffle key -
    co-partitioned, no extra exchange for the join."""
    ev = read_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("d0"))
    epoch = F.to_date(F.lit("1995-01-01"))
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.floor(F.datediff(F.col("d0"), epoch) / 7).alias("cohort_week"),
            F.floor(F.datediff(day, F.col("d0")) / 7).alias("week_no"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_no").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )


@register(
    "boilerplate_strip_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks)
      GROUP BY tok
    ),
    boiler AS (
      SELECT COALESCE(list(tok), []) AS bl
      FROM (SELECT tok FROM df, n WHERE df > 0.5 * n_docs)
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(t, x -> NOT list_contains(bl, x))) AS BIGINT)
             AS n_kept,
           round(1.0 - CAST(len(list_filter(t, x -> NOT list_contains(bl, x)))
                 AS DOUBLE) / len(t), 6) AS boilerplate_ratio
    FROM toks, boiler
    """,
    tags=("text", "boilerplate", "curation"),
)
def boilerplate_strip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate stripping: tokens appearing in more than half the
    corpus are boilerplate (navigation chrome / license headers on a
    real crawl); report per-doc token counts before/after removal. The
    boilerplate vocabulary is corpus-bounded and broadcasts; the strip
    is a JVM array filter - no per-doc shuffle."""
    d = _docs(spark, sf_dir)
    from ..functions.text import tokens

    toks = d.select("doc_id", tokens("text").alias("t"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df = (
        toks.select("doc_id", F.explode(F.array_distinct("t")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    boiler = (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df") > 0.5 * F.col("n_docs"))
        .agg(F.sort_array(F.collect_set("tok")).alias("__bl"))
    )
    stripped = F.filter(
        F.col("t"), lambda x: ~F.array_contains(F.col("__bl"), x)
    )
    return (
        toks.crossJoin(F.broadcast(boiler))
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.size(stripped).cast("long").alias("n_kept"),
            F.round(1.0 - F.size(stripped) / F.size("t"), 6).alias(
                "boilerplate_ratio"
            ),
        )
    )


@register(
    "sft_pair_stats",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    halves AS (
      SELECT doc_id, len(t) AS n,
             CAST(floor(len(t) / 2) AS INT) AS cut
      FROM toks WHERE len(t) >= 8
    )
    SELECT doc_id,
           CAST(cut AS BIGINT) AS prompt_tokens,
           CAST(n - cut AS BIGINT) AS completion_tokens,
           round(CAST(cut AS DOUBLE) / n, 6) AS prompt_frac
    FROM halves
    """,
    tags=("text", "sft", "curation"),
)
def sft_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair construction (completion-style): split
    each sufficiently long document at its token midpoint into
    (prompt, completion) and report the token budget per side - the
    deterministic skeleton of SFT-pair building (real pipelines cut at
    semantic boundaries; the budget accounting is identical). Pure
    per-row arithmetic over the token array - no shuffle."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    t = tokens("text")
    n = F.size(t)
    cut = F.floor(n / 2).cast("int")
    return (
        d.select("doc_id", n.alias("n"), cut.alias("cut"))
        .filter(F.col("n") >= 8)
        .select(
            "doc_id",
            F.col("cut").cast("long").alias("prompt_tokens"),
            (F.col("n") - F.col("cut")).cast("long").alias("completion_tokens"),
            F.round(F.col("cut") / F.col("n"), 6).alias("prompt_frac"),
        )
    )


@register(
    "packing_efficiency",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(
               0, CAST(greatest(ceil((len(t) - 8) / 24.0), 1) AS INT) - 1)) AS chunk_idx
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, chunk_idx,
             len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS n_tokens
      FROM idx
    ),
    packed AS (
      SELECT n_tokens,
             CAST(floor(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY doc_id % 32
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 128.0)
               AS BIGINT) * 32 + (doc_id % 32) AS bin_id
      FROM chunks
    ),
    bins AS (SELECT bin_id, SUM(n_tokens) AS fill FROM packed GROUP BY bin_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MIN(fill) AS BIGINT) AS min_fill,
           CAST(MAX(fill) AS BIGINT) AS max_fill,
           round(CAST(SUM(fill) AS DOUBLE) / (COUNT(*) * 128), 6) AS utilization
    FROM bins
    """,
    tags=("text", "packing", "curation"),
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing quality audit: bin count, min/max fill, and mean
    utilization of the running-sum sequence packer against its
    bin_tokens budget - the metric that tells you whether packed
    batches waste accelerator time as padding."""
    from ..functions.chunking import chunk_documents, pack_bins

    chunks = chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8).drop(
        "chunk_text"
    )
    packed = pack_bins(chunks, bin_tokens=128)
    bins = packed.groupBy("bin_id").agg(F.sum("n_tokens").alias("fill"))
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.min("fill").cast("long").alias("min_fill"),
        F.max("fill").cast("long").alias("max_fill"),
        F.round(F.sum("fill") / (F.count(F.lit(1)) * 128), 6).alias("utilization"),
    )


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_words,
             round(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6)
               AS mean_word_len,
             round(CASE WHEN len(t) >= 3 THEN
               1.0 - CAST(len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                             FOR i IN generate_series(1, len(t) - 2)])) AS DOUBLE)
                     / (len(t) - 2)
             ELSE 0.0 END, 6) AS dup_trigram_ratio,
             round(CAST(list_max(list_transform(list_distinct(t),
                   x -> len(list_filter(t, y -> y = x)))) AS DOUBLE) / len(t), 6)
               AS top_token_ratio
      FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, dup_trigram_ratio, top_token_ratio,
           n_words BETWEEN 20 AND 10000 AS ok_word_count,
           mean_word_len BETWEEN 2.0 AND 10.0 AS ok_mean_word_len,
           dup_trigram_ratio <= 0.05 AS ok_dup_trigrams,
           top_token_ratio <= 0.15 AS ok_top_token,
           (n_words BETWEEN 20 AND 10000) AND (mean_word_len BETWEEN 2.0 AND 10.0)
             AND dup_trigram_ratio <= 0.05 AND top_token_ratio <= 0.15 AS keep
    FROM m
    """,
    tags=("text", "quality", "curation", "gopher"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published repetition/quality heuristics for pretraining corpora
    (the Gopher rules, Rae et al. 2021, adapted to this corpus's word
    range): per-document word count bounds, mean word length bounds,
    duplicate-trigram fraction, and single-token dominance, each as a
    measured value plus a pass flag and a composite ``keep``. Every
    signal is a per-row JVM HOF over the token array - one narrow map,
    zero shuffle, linear at corpus scale (the filter you run over 100 TB
    BEFORE any pairwise dedup machinery)."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    t = tokens("text")
    n = F.size(t)
    tri = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1), F.element_at(t, i + 2)
        ),
    )
    dup3 = F.when(
        n >= 3,
        F.round(1.0 - F.size(F.array_distinct(tri)).cast("double") / (n - 2), 6),
    ).otherwise(F.lit(0.0))
    toptok = F.round(
        F.array_max(
            F.transform(
                F.array_distinct(t),
                lambda x: F.size(F.filter(t, lambda y: y == x)),
            )
        ).cast("double")
        / n,
        6,
    )
    mwl = F.round(F.length(F.array_join(t, "")).cast("double") / n, 6)
    m = d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mwl.alias("mean_word_len"),
        dup3.alias("dup_trigram_ratio"),
        toptok.alias("top_token_ratio"),
    )
    ok_wc = F.col("n_words").between(20, 10000)
    ok_mwl = F.col("mean_word_len").between(2.0, 10.0)
    ok_dup = F.col("dup_trigram_ratio") <= 0.05
    ok_top = F.col("top_token_ratio") <= 0.15
    return m.select(
        "*",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_dup.alias("ok_dup_trigrams"),
        ok_top.alias("ok_top_token"),
        (ok_wc & ok_mwl & ok_dup & ok_top).alias("keep"),
    )


@register(
    "doc_length_histogram",
    oracle=f"""
    SELECT bin,
           CAST(bin * 10 AS BIGINT) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS total_tokens
    FROM (SELECT CAST(len({_TOKS}) // 10 AS BIGINT) AS bin,
                 len({_TOKS}) AS n
          FROM documents)
    GROUP BY bin
    """,
    tags=("text", "histogram", "curation"),
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length planning histogram: width-10 token-count bins with
    doc and token mass per bin - what you consult before choosing
    chunk/pack sizes (partial agg on a tiny key space: map-side combine
    collapses it before the one exchange)."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    n = F.size(tokens("text"))
    return (
        d.select(F.floor(n / 10).cast("long").alias("bin"), n.alias("__n"))
        .groupBy("bin")
        .agg(
            (F.first("bin") * 10).cast("long").alias("bin_lo"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
        .select("bin", "bin_lo", "n_docs", "total_tokens")
    )


@register(
    "oov_rate_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    counts AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(t) AS tok FROM toks)
      GROUP BY tok
    ),
    vocab AS (
      SELECT COALESCE(list(tok), []) AS v FROM (
        SELECT tok FROM counts
        ORDER BY cnt DESC, tok
        LIMIT 100
      )
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(t, x -> NOT list_contains(v, x))) AS BIGINT)
             AS n_oov,
           round(CAST(len(list_filter(t, x -> NOT list_contains(v, x))) AS DOUBLE)
                 / len(t), 6) AS oov_rate
    FROM toks, vocab
    """,
    tags=("text", "quality", "vocabulary", "curation"),
)
def oov_rate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage quality signal (the CCNet-style LM filter's
    integer-deterministic cousin): build the corpus top-100 token
    vocabulary (count desc, token asc - total order, no ties), then
    score each document by its out-of-vocabulary token fraction. High
    OOV = noise/garble on a real crawl. One explode -> tiny agg for the
    vocabulary (broadcast; bounded by K, not corpus), then a per-row
    JVM array filter - the corpus never shuffles."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens("text").alias("t"))
    counts = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = (
        counts.orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(100)
        .agg(F.sort_array(F.collect_set("tok")).alias("__v"))
    )
    oov = F.filter(F.col("t"), lambda x: ~F.array_contains(F.col("__v"), x))
    return toks.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(oov).cast("long").alias("n_oov"),
        F.round(F.size(oov).cast("double") / F.size("t"), 6).alias("oov_rate"),
    )


@register(
    "unigram_logprob_docs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    counts AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(t) AS tok FROM toks)
      GROUP BY tok
    ),
    tot AS (SELECT SUM(cnt) AS total FROM counts),
    vocab AS (
      SELECT map_from_entries(list(struct_pack(
               k := tok,
               v := round(ln(CAST(cnt AS DOUBLE) / total), 6)))) AS m
      FROM counts, tot
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(t, x -> m[x][1])),
                 (acc, y) -> acc + y) / len(t), 6) AS avg_logprob
    FROM toks, vocab
    """,
    tags=("text", "quality", "lm", "curation"),
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring (the CCNet/KenLM perplexity
    filter's self-contained form): train the unigram LM on the corpus
    itself (token counts -> log p), broadcast the vocabulary map, and
    score each document by mean token log-probability - low scorers are
    the unnatural outliers you drop or down-weight before training.

    Determinism across engines: each log-prob is rounded to 6dp BEFORE
    the per-document fold, and the fold is a sequential left fold over
    the document's token order (Spark ``aggregate`` == DuckDB
    ``list_reduce``, identical IEEE op sequence -> bit-identical sums -
    the doc_fingerprints/_DOT pattern for doubles).

    Scale shape: token counts collapse map-side to |vocab| per task;
    the vocab map broadcasts (bounded by vocabulary, not corpus - cap
    with a top-K + OOV floor on an open-vocabulary crawl); the corpus
    scan itself never shuffles."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", tokens("text").alias("t"))
    counts = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    vocab = (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.struct(
                F.col("tok").alias("k"),
                F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 6).alias(
                    "v"
                ),
            ).alias("e")
        )
        .agg(F.map_from_entries(F.collect_list("e")).alias("__m"))
    )
    fold = F.aggregate(
        F.transform(F.col("t"), lambda x: F.element_at(F.col("__m"), x)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    return toks.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.round(fold / F.size("t"), 6).alias("avg_logprob"),
    )
