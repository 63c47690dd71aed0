"""Similarity search over embedding columns (SURVEY.md section 7.5):
brute-force cosine top-k as the exact baseline (one dense Arrow kernel,
similarity.dense), and two approximate methods, each validated against
that baseline in one scoring pass: sign-LSH over the near-dup
pipeline's md5 integer planes (similarity.lsh) and an IVF index whose
coarse quantizer is the one decimal-exact Lloyd loop
(similarity.centroid.lloyd, seeded by md5). Both approximate legs are
deterministic integer/decimal arithmetic, so the DuckDB oracle
recomputes them row for row."""

from .brute import knn_batch, knn_brute
from .lsh import knn_lsh_and_brute
from .ivf import ivf_assign, knn_ivf_and_brute

__all__ = [
    "knn_brute",
    "knn_batch",
    "knn_lsh_and_brute",
    "ivf_assign",
    "knn_ivf_and_brute",
]
