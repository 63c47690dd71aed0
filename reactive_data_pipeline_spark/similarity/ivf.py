"""IVF (inverted-file) approximate nearest-neighbor search.

The classic two-level ANN index: a k-means coarse quantizer partitions
the vector space into ``n_cells`` Voronoi cells; each vector is assigned
to its nearest centroid; a query scores only the vectors in the
``nprobe`` cells whose centroids are closest to it. Recall/cost dial:
``nprobe = n_cells`` degenerates to exact brute force, ``nprobe = 1``
scans ~1/n_cells of the table.

Spark shape: the quantizer is the repo's one DETERMINISTIC Lloyd loop
(``similarity.centroid.lloyd``: decimal-exact e12-integer component sums
for the update step, round-6 cosines with a label-ascending tie-break
for the assignment step), seeded by an md5 hash of each id into
``n_cells`` cells. Round-6 lesson: ``pyspark.ml.clustering.KMeans``
aggregates float partial sums whose result depends on partition count,
so the SAME seed gave different centroids under local[8] vs local[16] -
an index build that isn't reproducible across cluster layouts can't be
oracle-checked (and at 100 TB means two runs of the same job disagree).
The decimal loop is order-independent under any partitioning, and md5 is
the one hash DuckDB computes identically, so the oracle
(``queries.llm.knn_ivf_cosine``) recomputes every cell, the probe cells
and the approximate top-k. Assignment and probe are fully declarative -
query row and centroid table are broadcast, cell selection is a top-k
over n_cells rows, candidates come from an equi join on the cell id - so
nothing but the tiny codebook is collected. Writing the assigned table
``partitionBy('ivf_cell')`` turns the probe into a pruned file scan,
which is the deployment layout at scale.

Approximate by construction; the exact baseline is
similarity.brute.knn_brute (tests assert exact equality at
nprobe = n_cells).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..operators.relational import ensure_parallelism, top_k
from .centroid import lloyd

#: Lloyd rounds of the coarse quantizer.
IVF_ITERS = 2


def cell_seed(id_col: str, n_cells: int) -> Column:
    """Seed cell ``pmod(int(md5('cell:' || id)[:8 hex]), n_cells)``; md5
    keeps it recomputable in DuckDB (the ``plane:...`` tag convention of
    ``dedup.embedding.md5_planes``)."""
    tag = F.concat(F.lit("cell:"), F.col(id_col).cast("string"))
    h = F.conv(F.substring(F.md5(tag), 1, 8), 16, 10)
    return F.pmod(h.cast("long"), F.lit(n_cells)).cast("int")


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Fit the coarse quantizer and assign every row to a cell.

    Returns (table + ``ivf_cell`` column, [(cell, centroid), ...]): the
    cells of the last of ``IVF_ITERS`` Lloyd rounds and the codebook they
    were assigned against. The centroid list is tiny (<= n_cells x dim)
    and becomes a broadcast literal table in the probe plan; cells that
    empty out during Lloyd rounds drop from it (ids stay
    sparse-but-stable)."""
    emb = ensure_parallelism(emb)
    assigned, cents = lloyd(emb, cell_seed(id_col, n_cells), IVF_ITERS, id_col, vec_col)
    centers = [
        (int(r["label"]), [float(x) for x in r["centroid"]])
        for r in cents.orderBy("label").collect()
    ]
    cells = emb.join(
        assigned.select(id_col, F.col("assigned_label").alias("ivf_cell")), id_col
    )
    return cells, centers


def knn_ivf_and_brute(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(approx, exact) top-k cosine neighbors of ``query_id`` (excluded
    from both), each (vec_id, cos_sim rounded to 6 dp) in the total order
    cos_sim desc, vec_id asc. ``approx`` ranks only the rows of the
    ``nprobe`` cells whose centroids have the highest (unrounded) cosine
    to the query, cell id ascending on ties; ``exact`` ranks every row
    (the brute-force yardstick, equal to ``knn_brute``).

    ONE scoring pass: the assigned table is scored once with the exact
    cosine, the narrow (id, cos, cell) relation is checkpointed, and the
    approx leg is a broadcast cell semi-join over it instead of a second
    scan. The query vector comes straight from ``emb`` rather than the
    assigned table - its cell is never used, and reading it through the
    assignment join re-ran the whole Lloyd join-back per consumer."""
    assigned, centers = ivf_assign(emb, n_cells=n_cells, vec_col=vec_col, id_col=id_col)
    spark = emb.sparkSession
    cent = spark.createDataFrame(centers, "ivf_cell int, center array<double>")
    q = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("__q"))
    probe_cells = top_k(
        cent.crossJoin(F.broadcast(q)).select(
            "ivf_cell", cosine("center", "__q").alias("__d")
        ),
        [F.desc("__d"), F.asc("ivf_cell")],
        nprobe,
    ).select("ivf_cell")
    scored = (
        assigned.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine(vec_col, "__q"), 6).alias("cos_sim"),
            "ivf_cell",
        )
        .localCheckpoint(eager=True)
    )
    order = [F.desc("cos_sim"), F.asc("vec_id")]
    approx = top_k(
        scored.join(F.broadcast(probe_cells), "ivf_cell").select("vec_id", "cos_sim"),
        order,
        k,
    )
    exact = top_k(scored.select("vec_id", "cos_sim"), order, k)
    return approx, exact
