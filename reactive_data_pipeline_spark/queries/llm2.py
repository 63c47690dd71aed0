"""Round-4 catalog additions: nearest-centroid routing + iterative
k-means, Bloom-filter decontamination (fixed-size broadcast scale
path), temperature-scaled domain mixing, the cogrouped-pandas as-of
twin, bucketized interval join, BPE pair stats, grouped-map gap stats,
UDTF + LATERAL, winsorized robust stats, token co-occurrence,
deterministic epoch reshuffling, group-aware K-fold, the v2 composed
pipeline (decontamination + mixing), and the raw mapInArrow surface.

Same determinism rules as queries/llm.py: decimal-exact summation
wherever float addition order could differ between engines, IEEE-exact
``sqrt`` instead of ``pow`` (pow is not correctly-rounded and may differ
in the last ulp between libm and java.lang.Math), rounding before every
argmax/tie-break, and aliases identical on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bloom import bloom_build, bloom_might_contain
from ..functions.curation import stratified_keep
from ..operators.cogroup import asof_join_cogroup
from ..similarity.centroid import label_centroids, lloyd, nearest_centroid
from ..sources import read_table
from . import register
from .llm import _cos_sql, _emb, _lloyd_sql

# ---------------------------------------------------------------------------
# Nearest-centroid assignment (classification / cluster routing)
# ---------------------------------------------------------------------------


@register(
    "nearest_centroid_confusion",
    oracle=f"""
    WITH comp AS (
      SELECT label, pos, CAST(embedding[pos] AS DOUBLE) AS v
      FROM (SELECT label, embedding,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
    ),
    cent AS (
      SELECT label, pos,
             CAST(SUM(CAST(CAST(v AS DECIMAL(20,12)) * 1000000000000 AS BIGINT))
                  AS DOUBLE) / (COUNT(*) * 1e12) AS c
      FROM comp GROUP BY label, pos
    ),
    cvecs AS (SELECT label AS cand_label, list(c ORDER BY pos) AS cvec
              FROM cent GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label AS true_label, c.cand_label,
             round({_cos_sql('e.embedding', 'c.cvec')}, 6) AS cos
      FROM embeddings e CROSS JOIN cvecs c
    ),
    assigned AS (
      SELECT vec_id, true_label, cand_label, cos,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cand_label) AS rn
      FROM scored
    )
    SELECT true_label, cand_label AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(CAST(cos AS DECIMAL(10,6)) * 1000000 AS BIGINT))
                AS BIGINT) AS sum_cos_e6
    FROM assigned WHERE rn = 1 GROUP BY true_label, cand_label
    """,
    tags=("similarity", "classification"),
)
def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route every vector to its nearest label centroid and emit the
    confusion matrix (true_label x assigned_label counts + the
    e6-scaled integer cosine sum - integer-exact cross-engine; divide by
    1e6*n_vecs for the mean).
    Centroids are decimal-exact component means (one combined shuffle,
    size labels x dim); assignment is a broadcast scan + map-combined
    ``min_by`` argmax - the corpus never shuffles (similarity.centroid).
    """
    emb = _emb(spark, sf_dir)
    assigned = nearest_centroid(emb, label_centroids(emb))
    return assigned.groupBy("true_label", "assigned_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            (F.col("cos_sim").cast("decimal(10,6)") * F.lit(10**6)).cast("long")
        ).cast("long").alias("sum_cos_e6"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (fixed-size broadcast scale path)
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 20
_BLOOM_K = 5

#: DuckDB twin of dedup.ngram.token_ngrams(text, 3) over normalized text
#: (mirrors queries/curation.py's _GRAMS3 but inlined with its toks CTE).
_NORM_SQL = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS_SQL = r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"
_GRAMS3_SQL = (
    "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
    "FOR i IN generate_series(1, len(t) - 2)])"
)


@register(
    "bloom_decontam_contract",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (SELECT doc_id, {_GRAMS3_SQL} AS g FROM toks),
    bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 50 <> 0),
    truth AS (
      SELECT DISTINCT corpus.doc_id
      FROM corpus JOIN bench ON corpus.gram = bench.gram
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_contaminated,
           CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS true_doc_id_sum,
           CAST(0 AS BIGINT) AS n_missed,
           TRUE AS fp_rate_ok
    FROM truth
    """,
    tags=("curation", "contamination", "bloom", "contract"),
)
def bloom_decontam_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-filter decontamination gate as a hash-checked contract
    (minhash_recall_contract's pattern): build a 2^20-bit / k=5 filter
    over the eval suite's distinct trigrams (docs with doc_id%50==0
    stand in for the benchmark), flag every corpus doc with any
    might-contain gram, and compare against the EXACT broadcast-join
    ground truth. A Bloom filter admits no false negatives, so
    ``n_missed`` (truly-contaminated docs the filter failed to flag)
    must be 0 by construction, and ``fp_rate_ok`` pins the
    false-positive overhead under 1% of clean docs - both recomputed
    here while the oracle recomputes the exact contaminated set and its
    id-sum checksum.

    Scale: the filter is CONSTANT-size (128 KB here; size bits ~ 10x
    eval grams) however large the eval suite's text grows, and the probe
    is a JVM forall over each doc's grams - no shuffle, no UDF, no
    per-executor copy of the gram strings (functions/bloom.py).
    """
    from ..dedup.ngram import token_ngrams
    from .llm import _docs

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)

    bench_grams = bench.select(
        F.explode(token_ngrams("text", 3)).alias("gram")
    ).distinct()
    bf = bloom_build(bench_grams, "gram", num_bits=_BLOOM_BITS, k=_BLOOM_K)

    # One pass over the exploded corpus grams computes BOTH the bloom
    # probe and the exact membership; the per-doc reduction happens
    # before the contract's four legs fan out, and the tiny per-doc
    # verdict table is checkpointed so the legs don't re-run the
    # explode+hash scan (it dominated: ~6 recomputations without this).
    verdicts = (
        corpus.select("doc_id", F.explode(token_ngrams("text", 3)).alias("gram"))
        .crossJoin(F.broadcast(bf))
        .join(
            F.broadcast(bench_grams.withColumn("__true", F.lit(1))), "gram", "left"
        )
        .select(
            "doc_id",
            bloom_might_contain(
                "bloom_words", "gram", num_bits=_BLOOM_BITS, k=_BLOOM_K
            ).alias("__hit"),
            F.col("__true").isNotNull().alias("__exact"),
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.col("__hit")).alias("flagged"),
            F.max(F.col("__exact")).alias("contaminated"),
        )
        .localCheckpoint(eager=False)
    )
    flagged = verdicts.filter("flagged").select("doc_id")
    truth = verdicts.filter("contaminated").select("doc_id")

    t = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_contaminated"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias("true_doc_id_sum"),
    )
    missed = truth.join(flagged, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("n_missed")
    )
    n_corpus = corpus.agg(F.count(F.lit(1)).alias("__n_corpus"))
    fp_cnt = flagged.join(truth, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("__n_fp")
    )
    # fp docs <= max(1, 1% of clean docs), evaluated lazily in-plan.
    return (
        t.crossJoin(F.broadcast(missed))
        .crossJoin(F.broadcast(fp_cnt))
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "n_true_contaminated",
            "true_doc_id_sum",
            "n_missed",
            (
                F.col("__n_fp")
                <= F.greatest(
                    F.lit(1).cast("long"),
                    F.floor(
                        (F.col("__n_corpus") - F.col("n_true_contaminated")) * 0.01
                    ),
                )
            ).alias("fp_rate_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing
# ---------------------------------------------------------------------------


@register(
    "temperature_mix_rates",
    oracle="""
    WITH stats AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS n FROM stats),
    w AS (
      SELECT source, n_docs,
             round(sqrt(CAST(n_docs AS DOUBLE) / n), 12) AS wgt, n
      FROM stats, tot
    ),
    wtot AS (SELECT CAST(SUM(CAST(wgt AS DECIMAL(38,12))) AS DOUBLE) AS wsum FROM w),
    rates AS (
      SELECT source, n_docs,
             round(wgt / wsum, 6) AS mix_share,
             round(least(1.0, (wgt / wsum) * n * 0.5 / n_docs), 6) AS target_rate,
             least(1.0, (wgt / wsum) * n * 0.5 / n_docs) AS rate_raw
      FROM w, wtot
    )
    SELECT r.source, r.n_docs, r.mix_share, r.target_rate,
           CAST(COUNT(CASE WHEN (d.doc_id * 1000003) % 1000 < r.rate_raw * 1000
                           THEN 1 END) AS BIGINT) AS n_kept
    FROM rates r JOIN documents d ON d.source = r.source
    GROUP BY r.source, r.n_docs, r.mix_share, r.target_rate
    """,
    tags=("curation", "sampling"),
)
def temperature_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (the multilingual-LM sampling
    rule: weight_s proportional to p_s^alpha, alpha=0.5, here via
    IEEE-exact ``sqrt`` so every engine computes bit-identical weights)
    for a half-corpus token budget, plus the docs actually kept by the
    deterministic residue sampler.

    Scale: two tiny aggregates (per-source counts, then the weight
    normalizer) broadcast back over the corpus; the keep-predicate is
    the multiplicative-hash residue from functions.curation -
    reproducible across engines/runs/partitionings, so a resumed build
    selects the identical subset. The corpus itself is scanned once and
    never shuffled (the final per-source count partial-aggregates).
    """
    docs = read_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = stats.agg(F.sum("n_docs").alias("__n"))
    w = stats.crossJoin(F.broadcast(tot)).withColumn(
        "__w", F.round(F.sqrt(F.col("n_docs") / F.col("__n")), 12)
    )
    wtot = w.agg(
        F.sum(F.col("__w").cast("decimal(38,12)")).cast("double").alias("__wsum")
    )
    rates = (
        w.crossJoin(F.broadcast(wtot))
        .withColumn("__rate", F.least(F.lit(1.0), F.col("__w") / F.col("__wsum") * F.col("__n") * 0.5 / F.col("n_docs")))
        .select(
            "source",
            "n_docs",
            F.round(F.col("__w") / F.col("__wsum"), 6).alias("mix_share"),
            F.round("__rate", 6).alias("target_rate"),
            "__rate",
        )
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .withColumn(
            "__keep", stratified_keep(docs, F.col("__rate"), key="doc_id")
        )
        .groupBy("source", "n_docs", "mix_share", "target_rate")
        .agg(F.count(F.when(F.col("__keep"), 1)).cast("long").alias("n_kept"))
    )
    return kept


# ---------------------------------------------------------------------------
# Cogrouped-pandas as-of twin
# ---------------------------------------------------------------------------


@register(
    "asof_cogroup_pandas",
    oracle="""
    SELECT l.event_id, l.user_id,
           epoch_us(CAST(l.ts AS TIMESTAMP)) AS ts_us,
           r.value AS last_purchase_value,
           epoch_us(CAST(r.ts AS TIMESTAMP)) AS last_purchase_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    tags=("join", "asof", "pandas", "cogroup"),
)
def asof_cogroup_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join through ``groupBy().cogroup().applyInPandas``
    (operators/cogroup.py) - same key shuffle count as the JVM
    union-window path in asof_purchase_before_click and pinned by the
    IDENTICAL oracle, demonstrating the escape hatch for per-key merge
    logic Spark's built-ins can't express. pd.merge_asof(backward,
    exact-match) == nearest prior purchase per click per user.
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join_cogroup(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts"
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").alias("last_purchase_value"),
        F.unix_micros(F.col("ts_r").cast("timestamp")).alias("last_purchase_ts_us"),
    )


# ---------------------------------------------------------------------------
# Bucketized point-in-interval join (scale path for range joins)
# ---------------------------------------------------------------------------


@register(
    "interval_attribution_counts",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS purchase_ts_us,
           CAST(COUNT(*) AS BIGINT) AS n_clicks_2h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 2 HOUR
    GROUP BY p.event_id, p.user_id, p.ts
    """,
    tags=("join", "range", "interval"),
)
def interval_attribution_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within 2 hours AFTER each purchase, counted per purchase -
    a point-in-interval join executed as a keyed EQUI join
    (operators.joins.interval_bucket_join): intervals explode into the
    1-3 hour-buckets they cover, points compute one bucket, the join
    shuffles on (user, bucket) like any equi join, and the exact bound
    is a residual filter. This is the range-join shape that survives
    when NEITHER side broadcasts (vs range_join_value_bands' broadcast
    band dim and the streaming interval join's watermarked form).
    """
    from ..operators.joins import interval_bucket_join

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), "user_id", F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("p_end"),
    )
    joined = interval_bucket_join(
        clicks, purchases, on="user_id", ts="ts", start="p_start", end="p_end",
        bucket_seconds=3600,
    )
    return joined.groupBy("event_id", "user_id", "p_start").agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks_2h")
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros(F.col("p_start").cast("timestamp")).alias("purchase_ts_us"),
        "n_clicks_2h",
    )


# ---------------------------------------------------------------------------
# BPE-style pair statistics (tokenizer induction primitive)
# ---------------------------------------------------------------------------


@register(
    "bpe_pair_merges",
    oracle=f"""
    WITH words AS (
      SELECT unnest({_TOKS_SQL.replace("text", "text")}) AS w FROM documents
    ),
    pairs AS (
      SELECT unnest([substr(w, i, 2) FOR i IN generate_series(1, length(w) - 1)]) AS pair
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("text", "tokenizer"),
    bench=True,
)
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge-table step: global frequencies of adjacent
    character pairs inside words, top-20 with a deterministic (count
    desc, pair asc) order - the primitive a corpus-level tokenizer
    induction loop iterates. All-JVM: normalize -> split -> per-word
    pair explode (substring over an index sequence) -> one count
    shuffle; the LIMIT plans as TakeOrderedAndProject, never a global
    sort.
    """
    from ..functions.text import tokens
    from .llm import _docs

    words = _docs(spark, sf_dir).select(F.explode(tokens("text")).alias("w"))
    pairs = words.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return counted.orderBy(F.desc("n"), F.asc("pair")).limit(20)


# ---------------------------------------------------------------------------
# Iterative k-means (Lloyd's algorithm), fully oracle-checked
# ---------------------------------------------------------------------------

_KM_ITERS = 3


@register(
    "kmeans_embedding_clusters",
    oracle=f"""
    WITH {_lloyd_sql("SELECT vec_id, label, embedding FROM embeddings", _KM_ITERS)}
    SELECT cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(CAST(cos AS DECIMAL(10,6)) * 1000000 AS BIGINT)) AS BIGINT)
             AS sum_cos_e6
    FROM lloyd_assign GROUP BY cl
    """,
    tags=("similarity", "clustering", "iterative"),
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three Lloyd iterations of cosine k-means over the embeddings
    (seeded by the per-label means), value-hash checked end-to-end -
    iterative ML with a REAL cross-engine oracle, like
    pagerank_copurchase for graphs. Emits per-cluster size and the
    e6-scaled integer cosine sum after the final assignment.

    Determinism per iteration: (1) update - centroid components are
    integer-exact e12-scaled means (order-independent under any
    partitioning AND ulp-identical across engines - see
    similarity/centroid.py);
    (2) assignment - cosines round to 6 decimals before the argmax and
    ties break toward the smaller cluster id. Identical rules in the
    unrolled DuckDB CTE chain (``_lloyd_sql``), so both engines walk the
    same centroid trajectory; empty clusters drop out identically on
    both sides. The loop is ``similarity.centroid.lloyd``, the same one
    IVF's coarse quantizer runs.

    Scale shape per iteration (similarity/centroid.py): broadcast the
    codebook, score map-side, min_by partial-agg argmax (one exchange
    keyed vec_id), then one (cluster, pos) exchange of partial sums
    bounded by k x dim x partitions. Each codebook is localCheckpointed
    and the previous one freed - the fixed-size state truncates the
    iterative lineage.
    """
    assigned, _ = lloyd(_emb(spark, sf_dir), F.col("label"), _KM_ITERS)
    return assigned.groupBy(F.col("assigned_label").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            (F.col("cos_sim").cast("decimal(10,6)") * F.lit(10**6)).cast("long")
        ).cast("long").alias("sum_cos_e6"),
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas (per-key custom reduction)
# ---------------------------------------------------------------------------


@register(
    "user_gap_stats_pandas",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us,
           CAST(MIN(gap) AS BIGINT) AS min_gap_us
    FROM (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap
      FROM events
    )
    GROUP BY user_id
    """,
    tags=("window", "pandas", "grouped-map"),
)
def user_gap_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap extremes via plain grouped-map
    ``applyInPandas`` - the remaining section-2.10 UDF shape, done with
    INTEGER microsecond arithmetic so the pandas path is value-hash
    comparable to the window-SQL oracle (consecutive gaps of a sorted
    multiset are tie-order independent). Single-event users emit typed
    NULL gaps (nullable Int64 - the Arrow batch-schema rule from
    operators/cogroup.py). Scale: one shuffle on user_id, same exchange
    a window would need; per-task memory bounds at the largest key.
    """
    import pandas as pd

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")

    def gaps(pdf: pd.DataFrame) -> pd.DataFrame:
        us = (
            pd.to_datetime(pdf["ts"]).astype("int64").sort_values() // 1000
        )
        d = us.diff().dropna()
        has = len(d) > 0
        return pd.DataFrame(
            {
                "user_id": pd.Series([pdf["user_id"].iloc[0]], dtype="int64"),
                "n_events": pd.Series([len(pdf)], dtype="int64"),
                "max_gap_us": pd.Series(
                    [int(d.max()) if has else None], dtype="Int64"
                ),
                "min_gap_us": pd.Series(
                    [int(d.min()) if has else None], dtype="Int64"
                ),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        gaps, "user_id long, n_events long, max_gap_us long, min_gap_us long"
    )


# ---------------------------------------------------------------------------
# Python UDTF + LATERAL join (table-function surface)
# ---------------------------------------------------------------------------


@register(
    "udtf_trigram_top",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    grams AS (SELECT unnest({_GRAMS3_SQL}) AS gram FROM toks)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
    FROM grams GROUP BY gram ORDER BY n DESC, gram LIMIT 20
    """,
    tags=("text", "udtf", "lateral"),
)
def udtf_trigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams through a PYTHON UDTF consumed
    by a LATERAL join - the table-function surface of section 2.10
    (1 row -> N rows from arbitrary Python, Arrow-batched via
    ``useArrow``), pinned by the exact oracle the JVM
    ``token_ngrams``-explode path answers. Policy note: the JVM HOF
    explode (chunk/ngram/contamination queries) IS the production path;
    this query exists so the escape hatch itself is hash-proven. The
    LIMIT still plans as TakeOrderedAndProject above one count shuffle.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="gram string", useArrow=True)
    class Trigrams:
        def eval(self, text: str):
            import re

            toks = re.sub(r"\s+", " ", (text or "").strip().lower()).split(" ")
            seen = set()
            for i in range(len(toks) - 2):
                g = " ".join(toks[i : i + 3])
                if g not in seen:
                    seen.add(g)
                    yield (g,)

    spark.udtf.register("rdps_trigrams", Trigrams)
    read_table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    grams = spark.sql(
        "SELECT g.gram FROM __udtf_docs, LATERAL rdps_trigrams(text) AS g"
    )
    counted = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return counted.orderBy(F.desc("n"), F.asc("gram")).limit(20)


# ---------------------------------------------------------------------------
# Robust statistics: winsorized mean via bounded-domain order statistics
# ---------------------------------------------------------------------------


@register(
    "winsorized_quantity_stats",
    oracle="""
    WITH counts AS (
      SELECT l_quantity AS q, COUNT(*) AS c FROM lineitem GROUP BY l_quantity
    ),
    cum AS (
      SELECT a.q, SUM(b.c) AS cum_c
      FROM counts a JOIN counts b ON b.q <= a.q
      GROUP BY a.q
    ),
    tot AS (SELECT SUM(c) AS n FROM counts),
    lo AS (SELECT MIN(q) AS p05 FROM cum, tot WHERE cum_c >= CAST(ceil(0.05 * n) AS BIGINT)),
    hi AS (SELECT MIN(q) AS p95 FROM cum, tot WHERE cum_c >= CAST(ceil(0.95 * n) AS BIGINT))
    SELECT CAST(lo.p05 AS BIGINT) AS p05,
           CAST(hi.p95 AS BIGINT) AS p95,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN l.l_quantity < lo.p05 OR l.l_quantity > hi.p95
                           THEN 1 END) AS BIGINT) AS n_clipped,
           round(CAST(SUM(CAST(least(greatest(l.l_quantity, lo.p05), hi.p95)
                               AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)
             AS winsorized_mean
    FROM lineitem l, lo, hi
    GROUP BY lo.p05, hi.p95
    """,
    tags=("aggregate", "robust-stats"),
)
def winsorized_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (5%/95%-clipped) mean of order quantities - robust
    statistics with EXACT order-statistic thresholds and NO global
    window/sort: quantities live on a bounded integer domain, so the
    p05/p95 cut points come from cumulative counts over the ~50-value
    aggregated domain (a broadcast self-join of the tiny counts dim),
    then one clipped decimal-exact mean over the fact scan. This is the
    scale pattern for exact percentiles of low-cardinality measures -
    two tiny aggregates + one linear pass; contrast
    `approx_percentile_quantity` (sketch path for unbounded domains)
    and `percentiles_quantity` (per-group exact percentiles).
    """
    li = read_table(spark, sf_dir, "lineitem").select("l_quantity")
    counts = li.groupBy(F.col("l_quantity").alias("q")).agg(
        F.count(F.lit(1)).alias("c")
    )
    a, b = counts.alias("a"), counts.alias("b")
    cum = (
        a.join(F.broadcast(b), F.col("b.q") <= F.col("a.q"))
        .groupBy(F.col("a.q").alias("q"))
        .agg(F.sum("b.c").alias("cum_c"))
    )
    tot = counts.agg(F.sum("c").alias("n"))
    cumn = cum.crossJoin(F.broadcast(tot))
    lo = cumn.filter(
        F.col("cum_c") >= F.ceil(F.lit(0.05) * F.col("n")).cast("long")
    ).agg(F.min("q").cast("long").alias("p05"))
    hi = cumn.filter(
        F.col("cum_c") >= F.ceil(F.lit(0.95) * F.col("n")).cast("long")
    ).agg(F.min("q").cast("long").alias("p95"))
    clipped = li.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))
    return clipped.groupBy("p05", "p95").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(
            F.when(
                (F.col("l_quantity") < F.col("p05"))
                | (F.col("l_quantity") > F.col("p95")),
                1,
            )
        )
        .cast("long")
        .alias("n_clipped"),
        F.round(
            F.sum(
                F.least(F.greatest(F.col("l_quantity"), F.col("p05")), F.col("p95"))
                .cast("decimal(18,2)")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
    ).select("p05", "p95", "n_rows", "n_clipped", "winsorized_mean")


# ---------------------------------------------------------------------------
# Token co-occurrence statistics
# ---------------------------------------------------------------------------


@register(
    "token_cooccurrence_top",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_TOKS_SQL})) AS tok FROM documents
    ),
    top AS (
      SELECT tok FROM toks GROUP BY tok
      ORDER BY COUNT(*) DESC, tok LIMIT 30
    ),
    ft AS (SELECT DISTINCT doc_id, toks.tok FROM toks JOIN top ON toks.tok = top.tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, n_docs FROM pairs
    ORDER BY n_docs DESC, tok_a, tok_b LIMIT 20
    """,
    tags=("text", "cooccurrence"),
)
def token_cooccurrence_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level co-occurrence counts for the 30 most frequent
    tokens (the statistic behind PMI features and embedding
    co-occurrence matrices), top-20 pairs with a deterministic total
    order. The vocabulary dim is chosen by a bounded top-k
    (TakeOrderedAndProject) and BROADCASTS, so the per-doc pair
    explosion is capped at 30x29/2 regardless of document length and
    the corpus scan joins map-side; only (pair, count) partials
    shuffle.
    """
    from ..functions.text import tokens
    from .llm import _docs

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("tok"))
        .limit(30)
        .select("tok")
    )
    ft = toks.join(F.broadcast(top), "tok").select("doc_id", "tok").distinct()
    a = ft.select("doc_id", F.col("tok").alias("tok_a"))
    b = ft.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return pairs.orderBy(F.desc("n_docs"), F.asc("tok_a"), F.asc("tok_b")).limit(20)


# ---------------------------------------------------------------------------
# Deterministic epoch reshuffling (training-serving order)
# ---------------------------------------------------------------------------


@register(
    "epoch_shuffle_order",
    oracle=r"""
    WITH chunks AS (
      SELECT doc_id,
             CAST(floor(
               CAST(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE) / 24
             ) AS BIGINT) % 64 AS bin_bucket
      FROM documents
    ),
    bins AS (SELECT DISTINCT bin_bucket AS bin_id FROM chunks),
    epochs AS (SELECT unnest([0, 1]) AS epoch)
    SELECT e.epoch, b.bin_id,
           CAST((b.bin_id * 1000003 + e.epoch * 7919) % 1000000007 AS BIGINT)
             AS shuffle_key
    FROM bins b CROSS JOIN epochs e
    """,
    tags=("export", "training", "sampling"),
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch training-order permutation WITHOUT data movement:
    each epoch assigns every bin/shard a deterministic multiplicative
    shuffle key ((bin*1000003 + epoch*7919) mod p); the trainer sorts
    its manifest by the key per epoch and streams shards in that order.
    Reproducible across engines, runs, and partitionings (resumable
    training), zero bytes of corpus rewritten per epoch, and the
    manifest-scale output never needs a global window. The bin domain
    here is a cheap token-count residue stand-in for the packed bin
    ids (the real manifest plugs `training_shards_manifest`'s shard
    column into the same key).
    """
    from ..functions.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    # token_count passes TOKEN_PATTERN as a plain literal; embedding it
    # in an F.expr SQL string would let the SQL parser eat the \s escape.
    chunks = docs.select(
        (F.floor(token_count("text") / F.lit(24)).cast("long") % 64).alias("bin_id")
    )
    bins = chunks.distinct()
    epochs = spark.range(2).select(F.col("id").alias("epoch"))
    return bins.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "bin_id",
        ((F.col("bin_id") * 1000003 + F.col("epoch") * 7919) % 1000000007)
        .cast("long")
        .alias("shuffle_key"),
    )


# ---------------------------------------------------------------------------
# Group-aware K-fold split (leakage-safe evaluation)
# ---------------------------------------------------------------------------


@register(
    "group_kfold_sources",
    oracle="""
    WITH folded AS (
      SELECT doc_id, source,
             (CAST(substr(source, 4) AS BIGINT) * 1000003) % 5 AS fold
      FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM folded GROUP BY fold
    """,
    tags=("sampling", "splits", "curation"),
)
def group_kfold_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 5-fold split: every document of a source lands in
    the same fold (fold = multiplicative hash of the source id), so
    near-duplicate documents within a source can never leak across the
    train/eval boundary - the GroupKFold discipline for corpus
    evaluation, complementing the row-level `train_val_split`. Emits
    per-fold doc counts, source counts (group atomicity: folds
    partition the source set), and an id-sum checksum. Pure per-row
    arithmetic + one constant-size aggregate; reproducible across
    engines and re-runs like every sampler here."""
    docs = read_table(spark, sf_dir, "documents")
    folded = docs.select(
        "doc_id",
        "source",
        (
            (F.substring("source", 4, 10).cast("long") * F.lit(1000003)) % 5
        ).alias("fold"),
    )
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
    )


# ---------------------------------------------------------------------------
# Flagship pipeline v2: + decontamination + temperature mixing
# ---------------------------------------------------------------------------


def _v2_oracle() -> str:
    from ..functions import text as TX
    from .llm import _NORM, _stop_sql

    grams3 = (
        "list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
        "FOR i IN generate_series(1, len(t) - 2)])"
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, source, text, norm,
             round(least(1.0, CAST(len(string_split(norm, ' ')) AS DOUBLE) / 50.0) * 0.5
                   + least(1.0, (CAST({_stop_sql('en')} AS DOUBLE)
                                 / len(string_split(norm, ' '))) * 5.0) * 0.3
                   + (1.0 - least(1.0, (CAST(len(regexp_extract_all(text, '{TX.PUNCT_CLASS}')) AS DOUBLE)
                                        / length(text)) * 10.0)) * 0.2, 6) AS quality
      FROM (SELECT doc_id, source, text, {_NORM} AS norm FROM documents
            WHERE doc_id % 50 <> 0)
    ),
    kept AS (
      SELECT doc_id, source, norm FROM (
        SELECT doc_id, source, norm, quality,
               {_stop_sql('en')} AS s_en, {_stop_sql('es')} AS s_es,
               {_stop_sql('fr')} AS s_fr, {_stop_sql('de')} AS s_de
        FROM scored
      )
      WHERE quality >= 0.5 AND s_en > 0
        AND s_en = greatest(s_en, s_es, s_fr, s_de)
    ),
    bench AS (
      SELECT DISTINCT unnest(g) AS gram FROM (
        SELECT {grams3.replace('t[', 'tt[').replace('len(t)', 'len(tt)')} AS g
        FROM (SELECT string_split({_NORM}, ' ') AS tt FROM documents
              WHERE doc_id % 50 = 0)
      )
    ),
    kgrams AS (
      SELECT doc_id, unnest(g) AS gram FROM (
        SELECT doc_id, {grams3.replace('t[', 'tt[').replace('len(t)', 'len(tt)')} AS g
        FROM (SELECT doc_id, string_split(norm, ' ') AS tt FROM kept)
      )
    ),
    contaminated AS (
      SELECT DISTINCT kgrams.doc_id FROM kgrams JOIN bench USING (gram)
    ),
    clean AS (
      SELECT k.* FROM kept k LEFT JOIN contaminated c USING (doc_id)
      WHERE c.doc_id IS NULL
    ),
    stats AS (SELECT source, COUNT(*) AS n_docs FROM clean GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS n FROM stats),
    w AS (SELECT source, n_docs,
                 round(sqrt(CAST(n_docs AS DOUBLE) / n), 12) AS wgt, n
          FROM stats, tot),
    wtot AS (SELECT CAST(SUM(CAST(wgt AS DECIMAL(38,12))) AS DOUBLE) AS wsum FROM w),
    rates AS (SELECT source,
                     least(1.0, (wgt / wsum) * n * 0.5 / n_docs) AS rate_raw
              FROM w, wtot),
    mixed AS (
      SELECT c.doc_id, c.norm FROM clean c JOIN rates r ON c.source = r.source
      WHERE (c.doc_id * 1000003) % 1000 < r.rate_raw * 1000
    ),
    dedup AS (
      SELECT doc_id, norm FROM (
        SELECT doc_id, norm, MIN(doc_id) OVER (PARTITION BY norm) AS keeper
        FROM mixed
      ) WHERE doc_id = keeper
    ),
    toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM dedup),
    chunks AS (
      SELECT doc_id, chunk_idx,
             len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS n_tokens
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(
                 0, CAST(greatest(ceil((len(t) - 8) / 24.0), 1) AS INT) - 1)) AS chunk_idx
        FROM toks
      )
    )
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY doc_id % 32
             ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 128.0) AS BIGINT)
             * 32 + (doc_id % 32) AS bin_id
    FROM chunks
    """


@register(
    "training_data_pipeline_v2",
    oracle=_v2_oracle(),
    tags=("text", "pipeline", "dedup", "chunking", "curation", "contamination"),
    bench=True,  # round-5 headline: the most complete single plan in the repo
)
def training_data_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 flagship: the full curation surface as ONE plan -
    quality -> language -> BENCHMARK DECONTAMINATION (Bloom prefilter +
    exact verify) -> temperature-scaled domain mixing -> exact dedup ->
    chunk -> bucket-packed bins, every stage value-hash checked.

    The decontamination stage is the two-phase scale shape: the
    constant-size Bloom filter flags a superset of contaminated docs in
    a narrow pass (no shuffle, no gram strings shipped), and only the
    FLAGGED docs' grams go through the exact broadcast join - so the
    expensive verify runs on a sliver of the corpus while the dropped
    set stays EXACTLY the true contaminated set (which is what the
    oracle recomputes; Bloom false positives cost verify work, never
    rows). Mixing reuses the IEEE-exact temperature weights; the tail
    is the v1 dedup->chunk->pack plan with the keyed pack window.
    """
    from ..dedup.exact import dedup_documents
    from ..dedup.ngram import token_ngrams
    from ..functions import text as TX
    from ..functions.chunking import chunk_documents, pack_bins
    from .llm import _docs

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    # evaluate_once: score each doc exactly once (Filter predicates get
    # no CSE, so the raw conjunction re-tokenized ~6x per doc); the
    # Generate barrier keeps it one pipelined pass. A/B at sf1:
    # 3.66s -> 1.45s for this stage.
    from ..operators.relational import evaluate_once

    scored = evaluate_once(
        corpus, {"__q": TX.quality_score("text"), "__l": TX.lang_id("text")}
    )
    kept = scored.filter(
        (F.col("__q") >= 0.5) & (F.col("__l") == "en")
    ).select(*corpus.columns)

    # The eval gram set and the post-curation doc set each feed TWO
    # consumers; checkpointing the small frames keeps Catalyst from
    # duplicating their whole upstream subtrees (26 -> ~8 exchanges).
    bench_grams = (
        bench.select(F.explode(token_ngrams("text", 3)).alias("gram"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    bf = bloom_build(bench_grams, "gram", num_bits=_BLOOM_BITS, k=_BLOOM_K)
    kept_grams = kept.select(
        "doc_id", F.explode(token_ngrams("text", 3)).alias("gram")
    )
    suspects = (
        kept_grams.crossJoin(F.broadcast(bf))
        .filter(
            bloom_might_contain(
                "bloom_words", "gram", num_bits=_BLOOM_BITS, k=_BLOOM_K
            )
        )
        .select("doc_id", "gram")
    )
    confirmed = (
        suspects.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = kept.join(confirmed, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )

    stats = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = stats.agg(F.sum("n_docs").alias("__n"))
    w = stats.crossJoin(F.broadcast(tot)).withColumn(
        "__w", F.round(F.sqrt(F.col("n_docs") / F.col("__n")), 12)
    )
    wtot = w.agg(
        F.sum(F.col("__w").cast("decimal(38,12)")).cast("double").alias("__wsum")
    )
    rates = w.crossJoin(F.broadcast(wtot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.col("__w") / F.col("__wsum") * F.col("__n") * 0.5 / F.col("n_docs"),
        ).alias("__rate"),
    )
    mixed = (
        clean.join(F.broadcast(rates), "source")
        .filter(stratified_keep(clean, F.col("__rate"), key="doc_id"))
        .select("doc_id", "text")
    )

    deduped = dedup_documents(mixed)
    chunks = chunk_documents(deduped, chunk_tokens=32, overlap=8).drop("chunk_text")
    return pack_bins(chunks, bin_tokens=128)


# ---------------------------------------------------------------------------
# mapInArrow (raw Arrow-batch surface)
# ---------------------------------------------------------------------------


@register(
    "arrow_char_lengths",
    oracle="""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_arrow
    FROM documents
    """,
    tags=("text", "arrow", "udf"),
)
def arrow_char_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LOWEST-level Python surface: ``mapInArrow`` hands raw
    ``pyarrow.RecordBatch``es to Python with no pandas materialization -
    the zero-copy path for columnar libraries (vectorized tokenizers,
    Arrow-native codecs). The transform here is row-wise (1->1 via
    ``pyarrow.compute``), so the output is independent of batch
    boundaries and sits under the exact oracle. Completes the
    section-2.10 ladder: built-ins > pandas_udf > mapInPandas >
    grouped/cogrouped > UDTF > mapInArrow.
    """

    def lengths(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("doc_id")),
                    pc.cast(
                        pc.utf8_length(
                            b.column(b.schema.get_field_index("text"))
                        ),
                        pa.int64(),
                    ),
                ],
                names=["doc_id", "n_chars_arrow"],
            )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(lengths, "doc_id long, n_chars_arrow long")


# ---------------------------------------------------------------------------
# Corpus-level source similarity (vocabulary Jaccard)
# ---------------------------------------------------------------------------


@register(
    "source_vocab_jaccard",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    tags=("text", "similarity", "corpus-analytics"),
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document sources - the
    corpus-composition analytic behind domain-overlap dashboards and
    mixture design. Inverted-index shape: one (source, token) distinct
    set, self-joined ON TOKEN (each token contributes its own source
    pairs - linear in token-postings, never an all-pairs scan of the
    corpus), then tiny per-source sizes broadcast back. Integer
    intersection counts; the Jaccard ratio divides exact integers in
    double (identical on every engine)."""
    from ..functions.text import tokens
    from .llm import _docs

    st = (
        _docs(spark, sf_dir)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source duplication dashboard
# ---------------------------------------------------------------------------


@register(
    "dedup_rate_by_source",
    oracle=f"""
    WITH n AS (SELECT doc_id, source, {_NORM_SQL} AS norm FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT norm) AS BIGINT) AS n_dupes,
           round(CAST(COUNT(*) - COUNT(DISTINCT norm) AS DOUBLE) / COUNT(*), 6)
             AS dup_rate
    FROM n GROUP BY source
    """,
    tags=("dedup", "curation", "corpus-analytics"),
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate rate (the curation dashboard number
    that decides which feeds need aggressive dedup): normalized-content
    distinct counts per source, integer ratios. One shuffle; at scale
    substitute xxhash64(norm) for the distinct key so the exchange
    carries 8-byte hashes instead of document text (same guidance as
    dedup/exact.py)."""
    from ..functions.text import normalize_ws
    from .llm import _docs

    n = _docs(spark, sf_dir).select(
        "source", normalize_ws("text").alias("norm")
    )
    return n.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("norm").cast("long").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("norm")).cast("long").alias("n_dupes"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct("norm")) / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Embedding dimension audit (integer-exact moments)
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_moments",
    oracle="""
    WITH comp AS (
      SELECT pos, CAST(floor(CAST(embedding[pos] AS DOUBLE) * 1000000 + 0.5)
                       AS BIGINT) AS v_e6
      FROM (SELECT embedding, unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
    )
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v_e6) AS BIGINT) AS sum_e6,
           CAST(SUM(v_e6 * v_e6) AS BIGINT) AS sumsq_e12
    FROM comp GROUP BY pos
    """,
    tags=("similarity", "profiling"),
)
def embedding_dim_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension first and second moments of the embedding space -
    the dead/degenerate-dimension audit an embedding pipeline runs
    before indexing (variance per coordinate = (n*sumsq - sum^2) /
    n^2, derivable from the emitted integers). Components quantize to
    e6 integers via floor(x*1e6+0.5) (engine-neutral half-up - decimal
    casts are NOT, see the commit trail), so sums and squared sums are
    EXACT 64-bit arithmetic:
    order-independent, ulp-free on every engine, and safely sized
    (|x|<=1 => x_e6^2 <= 1e12; 1e6 rows per dimension stays < 2^63).
    One posexplode + one (pos)-keyed partial-combined aggregate; output
    is dim-sized regardless of corpus row count."""
    comp = _emb(spark, sf_dir).select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
    )
    # floor(x*1e6 + 0.5), NOT a decimal cast: DuckDB's double->decimal
    # cast is itself inexact near .5 ulp boundaries, while double
    # multiply + exact floor is bit-identical on every engine.
    v_e6 = F.floor(F.col("v") * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        comp.select((F.col("pos0") + 1).cast("long").alias("pos"), v_e6.alias("v_e6"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v_e6").cast("long").alias("sum_e6"),
            F.sum(F.col("v_e6") * F.col("v_e6")).cast("long").alias("sumsq_e12"),
        )
    )
