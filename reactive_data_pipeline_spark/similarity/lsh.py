"""Sign-LSH approximate nearest-neighbor search, validated against the
exact top-k in the same pass.

Buckets are the near-dup pipeline's keys (``dedup.embedding.sign_keys``)
with one band of ``num_planes`` md5-derived integer hyperplanes: bit i
is set iff the quantized vector's integer dot with plane i is positive.
The collision probability of two vectors is about (1 - theta/pi)^bits,
so bucket-mates are cosine-close with high probability. A query probes
its own bucket plus every bucket within ``probe_radius`` bit flips
(multi-probe LSH).

The keys are exact integer arithmetic on any vector dimension (the
planes are built for the corpus's own dimension), so the DuckDB oracle
recomputes every bucket, and with them the approximate top-k, row for
row (``queries.llm.knn_lsh_cosine``).
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dedup.embedding import md5_planes, sign_keys
from ..operators.relational import top_k
from .dense import _block, cosines


def _scored(batches, q, lq, q_bucket, planes, probe_radius, id_col, vec_col):
    """Per Arrow batch: each row's exact cosine to the query ``q`` (NaN
    where ``functions.vectors.cosine`` is NULL) and whether its bucket is
    within ``probe_radius`` bit flips of ``q_bucket``. No query row: no
    output."""
    if not len(q):
        return
    bits = len(planes)  # one band
    for pdf in batches:
        A, la = _block(pdf[vec_col].to_numpy(), q.shape[1])
        flips = sign_keys(A, planes, bits)[:, 0] ^ q_bucket[0]
        yield pd.DataFrame(
            {
                "vec_id": pdf[id_col].to_numpy(),
                "cos": cosines(A, la, q, lq)[:, 0],
                "hit": sum((flips >> b) & 1 for b in range(bits)) <= probe_radius,
            }
        )


def knn_lsh_and_brute(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    num_planes: int = 8,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(approx, exact) top-k cosine neighbors of ``query_id`` (excluded
    from both), each (vec_id, cos_sim rounded to 6 dp) in the total order
    cos_sim desc, vec_id asc. ``approx`` ranks only the rows whose bucket
    is within ``probe_radius`` bit flips of the query's; ``exact`` ranks
    every row (the brute-force yardstick).

    The query row is collected once at build time and its bucket computed
    on the driver by the same ``sign_keys``. One ``mapInPandas`` pass then
    emits (vec_id, cos, hit) per row, with ``cos`` from the dense kernel's
    fold (bit-identical to ``functions.vectors.cosine``, so ``exact``
    equals ``knn_brute``); the narrow relation is checkpointed once and
    both top-ks are TakeOrdered reads of it."""
    vecs = (
        emb.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>"))
        .limit(1)
        .toPandas()
        .iloc[:, 0]
        .to_numpy()
    )
    dim = len(vecs[0]) if len(vecs) and vecs[0] is not None else 0
    q, lq = _block(vecs, dim)
    planes = md5_planes(1, num_planes, dim)
    q_bucket = sign_keys(q, planes, num_planes)[:, 0]
    id_type = emb.schema[id_col].dataType.simpleString()
    scored = (
        emb.filter(F.col(id_col) != query_id)
        .select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
        .mapInPandas(
            partial(
                _scored,
                q=q,
                lq=lq,
                q_bucket=q_bucket,
                planes=planes,
                probe_radius=probe_radius,
                id_col=id_col,
                vec_col=vec_col,
            ),
            f"vec_id {id_type}, cos double, hit boolean",
        )
        .select("vec_id", F.round("cos", 6).alias("cos_sim"), "hit")
        .localCheckpoint(eager=True)
    )
    order = [F.desc("cos_sim"), F.asc("vec_id")]
    approx = top_k(scored.filter("hit").drop("hit"), order, k)
    exact = top_k(scored.drop("hit"), order, k)
    return approx, exact
