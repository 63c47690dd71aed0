"""Brute-force cosine top-k (exact ANN baseline).

Both entry points are calls to the exact dense kernel,
:func:`.dense.topk`: the query vectors are collected once at build time,
one Arrow pass scores every corpus batch against all of them and keeps
only the candidates that can reach the top k, and a rank over those
survivors finishes. The corpus is never joined, broadcast against or
shuffled by query; LSH (similarity.lsh) and IVF (similarity.ivf) trade
recall for scan fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import top_k
from .dense import topk


def knn_brute(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k most-cosine-similar rows to the row with ``query_id``
    (excluded from results). Columns: vec_id, cos_sim, in rank order
    under a ``TakeOrderedAndProject``."""
    hits = topk(emb, emb.filter(F.col(id_col) == query_id), k, id_col, vec_col)
    return top_k(hits.select("vec_id", "cos_sim"), [F.desc("cos_sim"), F.asc("vec_id")], k)


def knn_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k per query for a whole query SET - the realistic batch
    retrieval workload (a single-query top-k is the degenerate case).

    Columns: query_id, vec_id, cos_sim, rank (1..k per query_id, total
    order: cos desc, vec_id asc).

    The query block is collected to the driver at build time (query
    batches are KBs-MBs against a TB corpus) and each Arrow batch of the
    corpus keeps about k candidates per query, so only (query,
    candidate, score) triples reach the rank - never vectors. For huge
    query sets, chunk the queries and union, or move to the bucketed
    LSH/IVF paths (similarity.lsh / similarity.ivf), which prune
    candidates before scoring."""
    return topk(emb, queries, k, id_col, vec_col)
