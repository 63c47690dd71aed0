"""Nearest-centroid assignment over an embedding column - the
classification / cluster-assignment operator a curation pipeline runs to
route documents to topical buckets (and the assignment half of a k-means
iteration; similarity.ivf uses the same shape for its coarse quantizer).

Scale shape (the only one that survives 100 TB):

1. centroid build - ``posexplode`` the vectors to (label, pos, value)
   and aggregate per component. Partial aggregation combines map-side,
   so the single shuffle carries at most ``n_labels * dim * partitions``
   partial sums - independent of corpus size. Component sums go through
   ``decimal(38,12)`` so the result is order-independent (bit-identical
   across engines and partitionings - same trick as the decimal-exact
   moment aggregates in queries/relational_ext.py).
2. assignment - the centroid table is tiny (labels x dim) and
   BROADCASTS; every partition scores its vectors against all centroids
   with a JVM ``zip_with``/``aggregate`` dot product (no Python, no
   shuffle of the vectors). The argmax is ``min_by`` under a composite
   (-cos, label) key, so it partial-aggregates map-side too - the
   post-score shuffle carries one candidate row per (vector, partition),
   never the ``n_vecs x n_labels`` score matrix.

Determinism: cosines are rounded to 6 decimals before the argmax and
ties break toward the smaller label, so the assignment is reproducible
in any engine (the DuckDB oracle in queries/llm2.py recomputes the same
decimal-exact centroids and the same rounded argmax).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..operators.relational import free_local_checkpoint


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """(label, centroid: array<double>) - component-wise mean per label,
    decimal-exact summation (order-independent)."""
    comp = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
    )
    # Exactness detail: components are summed as e12-scaled INTEGERS,
    # not as decimals cast to double - a decimal->double cast is only
    # correctly rounded on some engines (DuckDB's can differ from the
    # JVM's by 1 ulp on non-representable values, which flips a later
    # round(cos, 6) at a tie). Integer sums below 2^53 convert to
    # double EXACTLY on every engine, so the division is bit-identical.
    v_e12 = (F.col("v").cast("decimal(20,12)") * F.lit(10**12)).cast("long")
    per_comp = comp.groupBy("label", "pos").agg(
        (
            F.sum(v_e12).cast("double")
            / (F.count(F.lit(1)) * F.lit(1e12))
        ).alias("c")
    )
    return per_comp.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )


def nearest_centroid(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its most-cosine-similar centroid.

    Returns (vec_id, true_label, assigned_label, cos_sim). ``centroids``
    is (label, centroid) from :func:`label_centroids` (or any external
    codebook); it broadcasts, so the corpus scan never shuffles - the
    only exchange is the map-combined ``min_by`` argmax keyed by
    ``vec_id``.
    """
    cand = centroids.select(
        F.col("label").alias("__cand"), F.col("centroid").alias("__cvec")
    )
    scored = emb.crossJoin(F.broadcast(cand)).select(
        F.col(id_col),
        F.col(label_col).alias("true_label"),
        F.col("__cand"),
        F.round(cosine(vec_col, "__cvec"), 6).alias("__cos"),
    )
    # argmax(cos) with deterministic label tie-break, as a partial-agg
    # min_by under the composite (-cos, label) ordering key.
    best = scored.groupBy(id_col, "true_label").agg(
        F.min_by(
            F.struct(
                F.col("__cand").alias("assigned_label"),
                F.col("__cos").alias("cos_sim"),
            ),
            F.struct((-F.col("__cos")).alias("a"), F.col("__cand").alias("b")),
        ).alias("__best")
    )
    return best.select(
        id_col, "true_label", "__best.assigned_label", "__best.cos_sim"
    )


def lloyd(
    emb: DataFrame,
    labels: Column,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """``iters`` rounds of cosine k-means (Lloyd's algorithm) seeded by
    the per-row ``labels`` expression: centroids of the current labels
    (:func:`label_centroids`), then every row of ``emb`` reassigned to
    its nearest centroid (:func:`nearest_centroid`).

    Returns (assignment, codebook): the last round's (id_col,
    true_label = seed label, assigned_label, cos_sim) and the (label,
    centroid) codebook it was assigned against. Empty clusters drop out
    of the next codebook.

    Each updated codebook is an eager ``localCheckpoint`` (a tiny,
    fixed-size state that truncates the iterative lineage; the seed
    codebook is computed once, inside the first update's job), and each
    round assigns ``emb`` itself rather than the previous round's
    labelled rows, so only the newest codebook is live: the one before
    it is freed as soon as the next has materialized. The DuckDB twin is
    ``queries.llm._lloyd_sql``."""
    seeded = emb.select(id_col, vec_col, labels.alias("__seed"))
    cents = label_centroids(seeded, label_col="__seed", vec_col=vec_col)
    for i in range(1, iters + 1):
        assigned = nearest_centroid(
            seeded, cents, id_col=id_col, label_col="__seed", vec_col=vec_col
        )
        if i < iters:
            relabeled = seeded.join(assigned.select(id_col, "assigned_label"), id_col)
            prev = cents
            cents = label_centroids(
                relabeled, label_col="assigned_label", vec_col=vec_col
            ).localCheckpoint(eager=True)
            if i > 1:
                free_local_checkpoint(prev)
    return assigned, cents
