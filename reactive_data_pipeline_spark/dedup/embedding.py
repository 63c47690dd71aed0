"""Embedding-cosine near-duplicate pairs.

Exact mode compares all pairs (broadcast-nested-loop on ``id_a < id_b``)
with norms computed once per row - correct at correctness-harness scale
and the oracle-checkable ground truth. The scale path is
``embedding_neardup_lsh``: banded sign-LSH signatures over md5-derived
integer hyperplanes, an equi join on the (band, bucket) key for
candidates, then the SAME exact cosine verification - the
minhash_lsh_pairs shape applied to dense vectors, linear in data +
candidates instead of O(N^2). The signatures are exact integer
arithmetic, so DuckDB recomputes every band key and the whole pipeline
is hash-checked.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.storagelevel import StorageLevel

from ..functions.vectors import dot, l2_norm
from ..operators.relational import ensure_parallelism

#: Vectors are quantized as floor(x * 2^20): a power-of-two scale is
#: exact in every engine, and floor rounds the same way everywhere.
QUANT_SCALE = 1 << 20


def md5_plane_component(tag: str) -> int:
    """Integer hyperplane component for ``tag`` (``plane:{band}:{bit}:{i}``):
    the sum of four 20-bit md5 uniforms ``md5(f"{tag}:{j}")[:5 hex]``,
    j = 0..3, minus their mean 4 * 2^19. The Irwin-Hall sum is close to
    Gaussian (so the planes are near-uniform directions) and lies in
    [-2^21, 2^21). md5 is the only hash Spark, DuckDB and hashlib compute
    identically, so the DuckDB oracle regenerates the same integers."""
    return sum(
        int(hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:5], 16) for j in range(4)
    ) - (4 << 19)


@lru_cache(maxsize=None)
def md5_planes(num_bands: int, bits_per_band: int, dim: int) -> np.ndarray:
    """(num_bands * bits_per_band, dim) float64 array of integer plane
    components, row ``band * bits_per_band + bit``. Built on first use
    (~0.2 s for 32 x 8 x 64) and cached per shape; read-only."""
    planes = np.array(
        [
            [md5_plane_component(f"plane:{band}:{bit}:{i}") for i in range(dim)]
            for band in range(num_bands)
            for bit in range(bits_per_band)
        ],
        dtype=np.float64,
    )
    planes.flags.writeable = False
    return planes


def sign_keys(X: np.ndarray, planes: np.ndarray, bits_per_band: int) -> np.ndarray:
    """(n, bands) int64 sign-LSH keys of the rows of ``X`` under
    ``planes`` (an :func:`md5_planes` array of ``bands * bits_per_band``
    rows): ``band * 2^bits + bucket``, where bucket bit ``bit`` is set iff
    the integer dot ``floor(x * 2^20) . plane`` is positive. The one place
    that knows the key format; the DuckDB oracle's
    ``queries.llm._lsh_keys_sql`` is its SQL twin.

    Exactness: every quantized component is an integer with
    ``|q| <= |x| * 2^20 + 1`` and every plane component an integer of
    magnitude at most 2^21, so each product and every partial sum of a
    dot is an integer of magnitude at most ``(max|x| + 2^-20) * dim *
    2^41``. The dots are therefore EXACT while ``max|x| * dim < 4096``
    (less a 2^-20 * dim rounding margin): everything stays below 2^53,
    so the float64 BLAS matmul is exact in ANY summation order and the
    keys equal DuckDB's integer ``SUM(q * c) > 0``. Unit vectors of dim
    64 sit far inside the bound."""
    num_bands = len(planes) // bits_per_band
    weights = np.int64(1) << np.arange(bits_per_band, dtype=np.int64)
    offsets = np.arange(num_bands, dtype=np.int64) << bits_per_band
    bits = (np.floor(X * QUANT_SCALE) @ planes.T) > 0  # (n, bands * bits)
    return bits.reshape(len(X), num_bands, bits_per_band) @ weights + offsets


def band_keys(vectors: DataFrame, num_bands: int, bits_per_band: int, dim: int) -> DataFrame:
    """(id, bk) rows - one per vector and band - of the ``(id, v)``
    vectors, ``bk`` the :func:`sign_keys` key. ONE numpy matmul per Arrow
    batch (a pandas_udf: 256+ dot products per row is matrix work, where
    interpreted Catalyst HOFs would evaluate 16k lambda steps per row).
    The planes are built once here and ride in the UDF's closure."""
    planes = md5_planes(num_bands, bits_per_band, dim)

    @pandas_udf("array<long>")
    def keys(v: pd.Series) -> pd.Series:
        return pd.Series(list(sign_keys(np.vstack(v.to_numpy()), planes, bits_per_band)))

    return vectors.select(
        "id", F.explode(keys(F.col("v").cast("array<double>"))).alias("bk")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (vec_a < vec_b) with cosine >= threshold.

    Columns: vec_a, vec_b, cos_sim (rounded 6dp).
    """
    # The non-broadcast side's partition count is the parallelism of the
    # nested-loop join; a single-file input must not serialize N^2/2 dot
    # products onto one core.
    emb = ensure_parallelism(emb)
    sides = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), l2_norm(vec_col).alias("nrm")
    )
    a = sides.select(F.col("id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = sides.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return pairs.filter(cos >= threshold).select(
        "vec_a", "vec_b", F.round(cos, 6).alias("cos_sim")
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.5,
    bits_per_band: int = 8,
    num_bands: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs: same output contract as
    ``embedding_neardup_pairs`` (vec_a < vec_b, exact cosine >=
    threshold, rounded 6dp) but candidates come from an equi join on
    (band, bucket) keys instead of the all-pairs nested loop.

    Shape (the minhash_lsh_pairs pipeline for dense vectors):

    1. signatures - ``num_bands * bits_per_band`` md5-derived integer
       hyperplanes (``md5_planes``); per band the packed sign bits form a
       bucket id (``band_keys``). The integer dots are exact in float64
       while ``max|x| * dim < 4096`` (see ``sign_keys``), so DuckDB
       recomputes the identical keys and the WHOLE pipeline - signatures,
       banding, candidate join, exact-cosine verification - is
       hash-checked end to end.
    2. explode to (id, band_key), self-join on the key with id_a < id_b,
       distinct - linear in data + bucket collisions.
    3. verify candidates with the exact JVM-side cosine, so output pairs
       are never false positives; recall is the banding collision
       probability 1-(1-p^b)^B with p = 1 - theta/pi.

    Parameter regimes (collision math + measured on the driver corpus):
    production near-dup dedup (threshold ~0.9) wants
    ``bits_per_band=12, num_bands=24`` -> ~98% recall while passing
    ~0.6% of random pairs. The defaults here (8, 32) are tuned for this
    corpus's much looser 0.5 tail - uniform-on-the-sphere vectors with
    NO planted duplicates, the worst case for any geometric blocking -
    at ~7x candidate reduction; measured recall against the exact pairs
    is 9/14 at sf0.01 (threshold 0.45) and 8/14 at sf0.1 (threshold 0.5)
    (tests/test_dedup_similarity.py pins both regimes).

    SCALE GUARDS (measured, round 6 - the 40x-volume bench): a band has
    only ``2^bits_per_band`` buckets, so once N outgrows the key space
    every bucket holds ~N/2^bits members and step 2 degenerates to
    ~num_bands * N^2 / 2^bits candidate rows ON ANY DATA - at 80k
    vectors the uncapped (8, 32) regime built ~10^9 candidate rows and
    filled 70 GB of disk with sort spill. Two levers:

    * Size ``bits_per_band`` ~ log2(N/target_bucket) so expected bucket
      occupancy stays O(1) - the deployment-owned sizing rule (raising
      bits lowers per-band true-pair collision p^b, so ``num_bands``
      must rise to hold recall at 1-(1-p^b)^B; at loose thresholds the
      p-gap between true and random pairs is narrow and this gets
      expensive - tight-threshold dedup (~0.9) is what sign-LSH is for).
    * ``max_bucket`` - drop (band, bucket) groups larger than this
      before the self-join, bounding candidates by ~N*B*max_bucket/2
      regardless of N. Oversized buckets on high-entropy data are
      low-information bands; true near-dup cliques bigger than the cap
      (mirror corpora) should be collapsed by exact/fingerprint dedup
      BEFORE geometric blocking, same composition rule as the minhash
      pipeline's dedup-before-LSH. None (default) preserves exhaustive
      banding for the contract/recall paths at check scales.
    """
    emb = ensure_parallelism(emb)
    sides = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), l2_norm(vec_col).alias("nrm")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    buckets = band_keys(sides, num_bands, bits_per_band, dim)
    if max_bucket is not None:
        # One bk-keyed window pass - the same shuffle key the self-join
        # needs anyway, and no broadcast whose size would track the
        # bucket-key space (num_bands * 2^bits grows with auto-sized
        # bits; a bk partition is never larger than the hottest bucket).
        from pyspark.sql import Window

        buckets = (
            buckets.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy("bk")))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    # Persist the EXPLODED (and, when capped, already cap-filtered)
    # bucket keys: both join aliases consume this subtree, and without
    # the persist the signature pass runs twice (A/B at sf0.1:
    # 2.3s -> 1.6s). Persisting AFTER the max_bucket window
    # (optimization round 12) means the cap's exchange + window run
    # once instead of once per join side (plan: two Window+Exchange
    # branches -> one), and the cached partitioning (hashpartitioning
    # on bk, established by the window) feeds both sides of the
    # candidate self-join with no further exchange. At corpus scale
    # this is also the canonical materialization point - signatures are
    # 8-byte keys, far smaller than the vectors.
    buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = buckets.alias("a"), buckets.alias("b")
    # The dedup exchange is a USER repartition on the distinct keys
    # (optimization round 13, guide section 2.5): the downstream
    # verification is compute-bound (one interpreted 64-dim dot fold
    # per candidate) on BYTE-tiny rows, so AQE's byte-based partition
    # coalescing was folding the whole verify onto 1-2 tasks (measured
    # 1.5s on 2 tasks at sf0.1). An explicit repartition pins the
    # parallelism AQE cannot see it needs; dropDuplicates reuses the
    # same partitioning, so the exchange count is unchanged vs the old
    # ``.distinct()`` and the partition count equals what the shuffle
    # conf would have given pre-AQE.
    par = emb.sparkSession.sparkContext.defaultParallelism
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("vec_a"), F.col("b.id").alias("vec_b"))
        .repartition(par, "vec_a", "vec_b")
        .dropDuplicates()
    )
    va = sides.select(F.col("id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = sides.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    verified = cand.join(va, "vec_a").join(vb, "vec_b")
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return verified.filter(cos >= threshold).select(
        "vec_a", "vec_b", F.round(cos, 6).alias("cos_sim")
    )
