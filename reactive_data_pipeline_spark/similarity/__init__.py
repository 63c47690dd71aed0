"""Similarity search over embedding columns (SURVEY.md section 7.5):
brute-force cosine top-k as the exact baseline (one dense Arrow kernel,
similarity.dense); hyperplane-LSH bucketing and an IVF (k-means
inverted-file) index as the scale paths."""

from .brute import knn_batch, knn_brute
from .lsh import hyperplanes, with_lsh_bucket, knn_lsh, knn_lsh_and_brute
from .ivf import ivf_assign, knn_ivf, knn_ivf_and_brute

__all__ = [
    "knn_brute",
    "knn_batch",
    "hyperplanes",
    "with_lsh_bucket",
    "knn_lsh",
    "knn_lsh_and_brute",
    "ivf_assign",
    "knn_ivf",
    "knn_ivf_and_brute",
]
