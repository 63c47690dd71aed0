"""Behavioral tests for dedup + similarity operators on constructed
near-duplicates (the catalog parity test covers value-level oracles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reactive_data_pipeline_spark.dedup import (
    dedup_documents,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_docs,
    simhash_near_pairs,
)
from reactive_data_pipeline_spark.similarity import (
    knn_brute,
    knn_ivf_and_brute,
    knn_lsh_and_brute,
)

BASE = "the quick brown fox jumps over the lazy dog and runs far away home tonight"


def _docs(spark):
    near = BASE.replace("lazy", "sleepy")
    rows = [
        (1, BASE, "en", "s", len(BASE)),
        (2, "  THE  quick brown fox jumps over the lazy dog and runs far away home tonight ", "en", "s", 10),
        (3, near, "en", "s", len(near)),
        (4, "completely different words about spark engines and parquet columns here", "en", "s", 10),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_normalizes_case_and_ws(spark):
    groups = exact_dedup_groups(_docs(spark))
    by_keeper = {r.keeper_doc_id: r.n_copies for r in groups.collect()}
    assert by_keeper[1] == 2  # docs 1 and 2 are the same after normalization
    assert dedup_documents(_docs(spark)).count() == 3
    assert sorted(r.doc_id for r in dedup_documents(_docs(spark)).collect()) == [1, 3, 4]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(_docs(spark), n=1, threshold=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_finds_exact_and_near(spark):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(_docs(spark), n=2, num_hashes=32, bands=16, threshold=0.4).collect()}
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (1, 4) not in pairs


def test_simhash_identical_and_near(spark):
    sh = {r.doc_id: r.simhash for r in simhash_docs(_docs(spark)).collect()}
    assert sh[1] == sh[2]
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    ham14 = bin(sh[1] ^ sh[4]).count("1")
    assert ham13 < ham14
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(_docs(spark), max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0], 1),  # opposite
        (4, [0.7, 0.7, 0.0], 0),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_knn_brute_ranks_by_cosine(spark):
    got = [r.vec_id for r in knn_brute(_emb(spark), query_id=0, k=3).collect()]
    assert got == [1, 4, 2]


def _overlaps(approx, exact):
    """(overlap@10, overlap@5) of two (vec_id, cos_sim) top-10 legs."""
    rank = lambda df: [r.vec_id for r in sorted(df.collect(), key=lambda r: (-r.cos_sim, r.vec_id))]
    a, e = rank(approx), rank(exact)
    return len(set(a) & set(e)), len(set(a[:5]) & set(e[:5]))


def test_knn_lsh_recall_on_testdata(spark):
    """The knn_lsh_cosine configuration (4 md5 planes, radius-2 probe)
    keeps its recall floors at both check SFs: overlap with the exact
    top-10 >= 7, and with the exact top-5 >= 4 (measured 10/5 at sf0.001
    and 9/5 at sf0.01)."""
    for sf in ("sf0.001", "sf0.01"):
        emb = spark.read.parquet(f"/root/testdata/{sf}/embeddings.parquet")
        approx, exact = knn_lsh_and_brute(
            emb, query_id=0, k=10, num_planes=4, probe_radius=2
        )
        o10, o5 = _overlaps(approx, exact)
        assert o10 >= 7 and o5 >= 4, (sf, o10, o5)


def test_knn_lsh_buckets_any_dimension(spark):
    """The sign-LSH planes are built for the corpus's own dimension: 200
    random 8-dim vectors spread over several of the 16 buckets of 4
    planes, and a radius-0 probe ranks fewer rows than the table holds
    (the approximate leg is not a full scan)."""
    import numpy as np

    from reactive_data_pipeline_spark.dedup.embedding import md5_planes, sign_keys

    rng = np.random.RandomState(3)
    X = rng.standard_normal((200, 8))
    buckets = sign_keys(X, md5_planes(1, 4, 8), 4)[:, 0]
    assert len(set(buckets.tolist())) > 1
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    approx, exact = knn_lsh_and_brute(emb, query_id=0, k=200, num_planes=4, probe_radius=0)
    n_probed = approx.count()
    assert n_probed == int((buckets[1:] == buckets[0]).sum()) < exact.count() == 199


def test_knn_ivf_exact_when_probing_all_cells(spark):
    """nprobe = n_cells degenerates IVF to exhaustive search: results
    must equal the brute-force baseline exactly."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = [(r.vec_id, r.cos_sim) for r in knn_brute(emb, query_id=0, k=10).collect()]
    approx, _ = knn_ivf_and_brute(emb, query_id=0, k=10, n_cells=8, nprobe=8)
    assert [(r.vec_id, r.cos_sim) for r in approx.collect()] == exact


def test_knn_ivf_partial_probe_recall(spark):
    """Probing half the cells keeps k results and decent recall on the
    weak-neighbor synthetic embeddings."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r.vec_id for r in knn_brute(emb, query_id=0, k=10).collect()}
    approx, _ = knn_ivf_and_brute(emb, query_id=0, k=10, n_cells=8, nprobe=4)
    approx = [r.vec_id for r in approx.collect()]
    assert len(approx) == 10
    assert len(exact & set(approx)) >= 4


def test_knn_ivf_deterministic_under_repartitioning(spark):
    """Round-6 regression guard: the IVF quantizer must produce
    IDENTICAL results under any input partitioning - pyspark.ml
    KMeans (the previous quantizer) aggregated float partial sums, so
    the same seed gave different centroids under local[8] vs local[16]
    and the knn_ivf_cosine oracle contract red/greened with
    parallelism. The decimal-exact Lloyd loop is order-independent;
    1-partition and 16-partition inputs must agree bit-for-bit."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    runs = [
        [
            (r.vec_id, r.cos_sim)
            for r in knn_ivf_and_brute(
                emb.repartition(p), query_id=0, k=10, n_cells=16, nprobe=4
            )[0].collect()
        ]
        for p in (1, 16)
    ]
    assert runs[0] == runs[1]
    assert len(runs[0]) == 10


def test_connected_components_chain_star_singleton(spark):
    from reactive_data_pipeline_spark.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # chain 0-1-2-3 (diameter 3), star 4-{5,6}, singleton 7
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (2, 3), (4, 5), (4, 6)], "a long, b long"
    )
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7}


def test_embedding_lsh_planted_neardups_full_recall(spark):
    """Production regime (threshold 0.9, 12-bit x 24 bands): jittered
    copies of real vectors are near-dups by construction and every
    planted pair must be found; verification guarantees no pair below
    threshold."""
    import numpy as np

    from reactive_data_pipeline_spark.dedup import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.limit(30).collect()
    rng = np.random.RandomState(7)
    rows = [(r.vec_id, [float(x) for x in r.embedding]) for r in base]
    planted = set()
    for r in base:
        v = np.array(r.embedding, dtype=np.float64)
        jit = v + rng.normal(scale=0.03 * np.linalg.norm(v) / 8.0, size=v.shape)
        dup_id = r.vec_id + 100000
        rows.append((dup_id, [float(x) for x in jit]))
        planted.add((r.vec_id, dup_id))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_neardup_lsh(
        df, threshold=0.9, bits_per_band=12, num_bands=24
    ).collect()
    pairs = {(r.vec_a, r.vec_b) for r in got}
    assert planted <= pairs, f"missed planted pairs: {planted - pairs}"
    assert all(r.cos_sim >= 0.9 for r in got)


def test_embedding_lsh_recall_and_precision_vs_exact(spark):
    """Continuum regime on the real table (no planted dups - the hard
    case): the banded path must return a SUBSET of the exact all-pairs
    result with identical cos values, at the recall the collision math
    predicts for theta ~63deg."""
    from reactive_data_pipeline_spark.dedup import (
        embedding_neardup_lsh,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r.vec_a, r.vec_b): r.cos_sim
             for r in embedding_neardup_pairs(emb, threshold=0.45).collect()}
    approx = {(r.vec_a, r.vec_b): r.cos_sim
              for r in embedding_neardup_lsh(emb, threshold=0.45).collect()}
    assert set(approx) <= set(exact)          # verification: no false positives
    for k, v in approx.items():
        assert v == exact[k]                  # same exact cosine, same rounding
    assert len(approx) / len(exact) >= 0.5    # measured ~0.6+ at b=8,B=32


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_embedding_recall_contract_floors(spark, sf):
    """embedding_recall_contract's floors at the check SFs: every LSH
    pair is an exact pair (verification leaves no false positive), and
    the LSH pairs cover at least 70% of the exact pairs. At sf0.1 the
    recall is 8/14, below the floor (ENGINEERING.md records it)."""
    from reactive_data_pipeline_spark.queries import QUERIES

    (row,) = QUERIES["embedding_recall_contract"].build(spark, f"/root/testdata/{sf}").collect()
    assert row.lsh_hits == row.n_lsh_pairs
    assert row.lsh_hits >= 0.7 * row.n_exact_pairs, row


def test_embedding_lsh_bucket_cap_identity_and_bound(spark):
    """The round-6 scale guard: ``max_bucket`` must be a no-op at check
    scale (every bucket far below the cap -> bit-identical output,
    which is what lets the benched query carry it), and on a planted
    hot bucket it must actually drop the saturated groups - the
    uncapped candidate blow-up measured 70 GB of sort spill at 40x
    bench volume."""
    import numpy as np

    from reactive_data_pipeline_spark.dedup import embedding_neardup_lsh
    from reactive_data_pipeline_spark.dedup.embedding import band_keys

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    un = sorted(map(tuple, embedding_neardup_lsh(emb, threshold=0.5).collect()))
    ca = sorted(map(tuple, embedding_neardup_lsh(emb, threshold=0.5, max_bucket=64).collect()))
    assert un == ca and len(ca) >= 1

    # 300 near-identical vectors saturate their buckets in every band,
    # so the quadratic 300-clique (44,850 pairs) must NOT be emitted.
    # One md5 plane is almost orthogonal to the hot direction (|cos|
    # ~1.5e-4), so the jitter flips that bit for some vectors and splits
    # one band's group in two; a split-off group at or under the cap is
    # kept, so the capped output is exactly the pairs that share some
    # bucket of at most 64 members.
    rng = np.random.RandomState(11)
    v = rng.standard_normal(64)
    rows = [(i, [float(x) for x in v + rng.normal(scale=1e-3, size=64)]) for i in range(300)]
    hot = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = embedding_neardup_lsh(hot, threshold=0.9, max_bucket=64).count()
    uncapped = embedding_neardup_lsh(hot, threshold=0.9).count()
    assert uncapped == 300 * 299 // 2
    members: dict[int, list[int]] = {}
    hot_vectors = hot.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    for r in band_keys(hot_vectors, 32, 8, 64).collect():
        members.setdefault(r.bk, []).append(r.id)
    small = {(a, b) for m in members.values() if len(m) <= 64
             for a in m for b in m if a < b}
    assert capped == len(small) < uncapped // 50


def test_embedding_lsh_integer_planes_match_duckdb(spark):
    """The one signature path is exact integer arithmetic: (1) the md5
    plane components are frozen for two tags, so neither the tag scheme
    nor the Irwin-Hall offset can drift under the committed oracle; (2)
    the operator's band keys equal the DuckDB oracle's recomputation
    from the same md5 tags, row for row; (3) the keys do not change
    under a permuted dimension order, i.e. the float64 matmul is exact
    in any summation order."""
    import duckdb
    import numpy as np

    from reactive_data_pipeline_spark.dedup.embedding import (
        band_keys,
        md5_plane_component,
        md5_planes,
    )
    from reactive_data_pipeline_spark.queries.llm import _lsh_keys_sql

    assert md5_plane_component("plane:0:0:0") == -18799
    assert md5_plane_component("plane:31:7:63") == 57779

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path)
    vectors = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    got = band_keys(vectors, 32, 8, 64)
    spark_keys = sorted(map(tuple, got.collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    duck_keys = sorted(
        con.execute(f"WITH {_lsh_keys_sql(32, 8)} SELECT id, bk FROM keys").fetchall()
    )
    assert len(spark_keys) == 32 * emb.count()
    assert spark_keys == duck_keys

    # Recompute the keys with numpy over a permuted dimension order.
    ids, vecs = zip(*con.execute("SELECT vec_id, embedding FROM embeddings").fetchall())
    perm = np.random.RandomState(5).permutation(64)
    q = np.floor(np.array(vecs, dtype=np.float64) * (1 << 20))[:, perm]
    bits = (q @ np.ascontiguousarray(md5_planes(32, 8, 64)[:, perm]).T) > 0
    permuted = bits.reshape(len(q), 32, 8) @ (1 << np.arange(8)) + (np.arange(32) << 8)
    assert sorted((i, int(k)) for i, row in zip(ids, permuted) for k in row) == duck_keys


def test_simhash_fingerprint_distinct_blocking_output_identical(spark):
    """The round-6 rework bands on DISTINCT fingerprints (so an
    exact-dup fingerprint mass can't multiply the band self-join) -
    output must stay exactly the per-document banding result, i.e. the
    brute-force hamming<=3 pair set, including the clique pairs of
    replicated documents at hamming 0."""
    from pyspark.sql import functions as F

    from reactive_data_pipeline_spark.dedup.simhash import simhash_docs, simhash_near_pairs

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    # plant an exact-dup mass: 5 copies of each doc under distinct ids
    docs = base
    for c in range(1, 5):
        docs = docs.unionByName(
            base.withColumn("doc_id", F.col("doc_id") + F.lit(c * 10_000_000))
        )
    got = sorted(tuple(r) for r in simhash_near_pairs(docs).collect())
    sh = {r.doc_id: r.simhash for r in simhash_docs(docs).collect()}
    ids = sorted(sh)
    exp = sorted(
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    )
    assert got == exp
    # the dup mass makes hamming-0 cliques: every base doc contributes
    # at least C(5,2)=10 same-fingerprint pairs
    assert sum(1 for _, _, h in got if h == 0) >= 40 * 10


def test_quantization_error_bounded_by_half_step(spark):
    """Round-to-nearest symmetric quantization can never err more than
    half a quantization step; the scale must cover the max element."""
    from reactive_data_pipeline_spark.functions.vectors import (
        quantize_error,
        quantize_scale,
    )

    emb = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [2.0, 1.0, -2.0, 0.5]), (3, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    s = quantize_scale("embedding")
    rows = {
        r.vec_id: r
        for r in emb.select(
            "vec_id", s.alias("s"), quantize_error("embedding", s).alias("e")
        ).collect()
    }
    assert rows[1].e <= rows[1].s / 2 + 1e-12
    assert rows[2].e <= rows[2].s / 2 + 1e-12
    assert abs(rows[1].s - 1.0 / 127) < 1e-12
    assert rows[3].s is None  # zero vector: nothing to quantize


def test_duplicated_ngram_spans_hand_computed(spark):
    """Shared 8-gram across docs marks exactly its span; unique docs
    report zero; interval union caps within-doc overlapping repeats at
    n_tokens (the Lee-et-al substring-dedup approximation)."""
    from reactive_data_pipeline_spark.dedup import duplicated_ngram_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y"),   # shares grams with doc 2
            (2, "z a b c d e f g h w"),
            (3, "q r s t u v w0 w1"),     # 8 tokens, unique gram
            (4, "m m m m m m m m m m m m"),  # 12 tokens, self-repeating
            (5, "too short"),             # < n tokens: no starts at all
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_starts, r.dup_covered_tokens, r.dup_ratio)
        for r in duplicated_ngram_spans(docs, n=8, min_count=2).collect()
    }
    # docs 1/2: one shared gram -> 8 covered of 10 tokens
    assert got[1] == (10, 1, 8, 0.8)
    assert got[2] == (10, 1, 8, 0.8)
    assert got[3] == (8, 0, 0, 0.0)
    # all 5 starts of doc 4 are the same gram; union = whole doc, not 5*8
    assert got[4] == (12, 5, 12, 1.0)
    assert got[5] == (2, 0, 0, 0.0)


def test_duplicated_ngram_spans_plan_shape(spark):
    """Token-scale work stays in two keyed window exchanges; no
    self-join / cartesian anywhere."""
    from reactive_data_pipeline_spark.dedup import duplicated_ngram_spans
    from reactive_data_pipeline_spark.sources import read_table

    from .conftest import SF_DIR

    df = duplicated_ngram_spans(read_table(spark, SF_DIR, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_ngram_jaccard_prefix_filter_matches_brute_force(spark):
    """The prefix-filtered set-similarity join must emit EXACTLY the
    brute-force pair set at several thresholds - the prefix theorem
    says no qualifying pair can be pruned, and the verify step kills
    every false candidate. Randomized docs over a small vocabulary so
    gram document-frequencies span rare->ubiquitous (the regime the
    rarest-first order must handle)."""
    import itertools
    import random

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(1, 25))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {i: frozenset(t.split()) for i, t in rows}
    for threshold in (0.3, 0.5, 0.9):
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            j = inter / union if union else 0.0
            if j >= threshold:
                want[(a, b)] = round(j, 6)
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, n=1, threshold=threshold).collect()
        }
        assert got == want, (threshold, got.keys() ^ want.keys())
        # Both explicit quotient modes must emit the identical pair set
        # (round 12: the exact-class quotient is an internal
        # optimization, never a semantic switch).
        for quotient in (True, False):
            got_q = {
                (r.doc_a, r.doc_b): r.jaccard
                for r in ngram_jaccard_pairs(
                    docs, n=1, threshold=threshold, quotient=quotient
                ).collect()
            }
            assert got_q == want, (threshold, quotient, got_q.keys() ^ want.keys())


def test_minhash_lsh_pairs_quotient_identical(spark):
    """minhash_lsh_pairs(quotient=True) must emit the IDENTICAL pair
    set as the direct pipeline - signatures are pure functions of the
    gram set, so the quotient is a cost transform, not a semantic one
    (round 12). Includes exact-duplicate classes so the intra-class
    leg is exercised."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the lazy dog again and often"),
        (4, "completely different text about spark optimization and shuffles"),
        (5, "completely different text about spark optimization and shuffles"),
        (6, "short"),  # empty trigram set
        (7, "tiny doc"),  # empty trigram set
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for threshold in (0.5, 0.9):
        direct = sorted(map(tuple, minhash_lsh_pairs(
            docs, n=3, num_hashes=32, bands=8, threshold=threshold).collect()))
        quot = sorted(map(tuple, minhash_lsh_pairs(
            docs, n=3, num_hashes=32, bands=8, threshold=threshold, quotient=True).collect()))
        assert direct == quot, (threshold, direct, quot)
        assert (1, 2) in {(a, b) for a, b, _ in direct}


def test_exact_neardup_groups_matches_full_graph_components(spark):
    """The quotient groups path (round 12) must produce exactly the
    groups of components over the FULL exact-Jaccard pair graph,
    including duplicate classes, singletons, and n>=2 empty-gram-set
    docs (mutual J = 0/0 = NULL - never grouped)."""
    import random

    from reactive_data_pipeline_spark.dedup import exact_neardup_groups, neardup_groups
    from reactive_data_pipeline_spark.dedup.ngram import ngram_jaccard_pairs

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(20)]
    rows = []
    for i in range(40):
        rows.append((i, " ".join(rng.choices(vocab, k=rng.randint(1, 12)))))
    # exact duplicates (same token set, several copies)
    rows += [(100, "alpha beta gamma"), (101, "alpha beta gamma"),
             (102, "gamma beta alpha alpha")]
    # two docs too short for trigrams: empty gram sets, must stay singletons
    rows += [(200, "one two"), (201, "one two")]
    # NULL-text docs: tokens(NULL) is a NULL gram array at every n - the
    # documented contract (and the full-graph path) leaves them
    # singletons; the round-12 advice caught the collapse fusing them
    # into ONE class via the constant xxhash64(NULL) key.
    rows += [(300, None), (301, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for n, threshold in ((1, 0.5), (3, 0.5)):
        pairs = ngram_jaccard_pairs(docs, n=n, threshold=threshold, quotient=False)
        want = sorted(map(tuple, neardup_groups(docs, pairs).collect()))
        got = sorted(map(tuple, exact_neardup_groups(docs, n=n, threshold=threshold).collect()))
        assert got == want, (n, threshold)
        for r in got:
            if r[0] in (300, 301):
                assert r[2] == 1 and r[0] == r[1], r  # NULL text stays singleton


def test_knn_fused_matches_separate_legs(spark):
    """The fused single-scan contracts (knn_lsh_and_brute /
    knn_ivf_and_brute) must emit an exact leg row-identical to
    knn_brute - the fusion is a scan-sharing cost transform (guide
    section 2.4), never a semantic one."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = lambda df: sorted(map(tuple, df.collect()))
    brute = rows(knn_brute(emb, query_id=0, k=10))
    assert rows(knn_lsh_and_brute(emb, query_id=0, k=10, num_planes=4, probe_radius=2)[1]) == brute
    assert rows(knn_ivf_and_brute(emb, query_id=0, k=10, n_cells=16, nprobe=4)[1]) == brute


def test_resolve_quotient_auto_switch(spark, monkeypatch):
    """The round-13 data-derived quotient switch: below the size gate
    the direct path applies with no sampling job; above it the sampled
    mean class multiplicity decides (>= the threshold picks the
    quotient). Gates monkeypatched so both regimes run on a tiny
    frame."""
    from reactive_data_pipeline_spark.dedup import ngram as N

    dup = [(i, "same text everywhere for all copies") for i in range(64)]
    uniq = [(1000 + i, f"unique text number {i} with words w{i} w{i+1}") for i in range(8)]
    docs = spark.createDataFrame(dup + uniq, "doc_id long, text string")

    # Below the gate the direct path rules, no estimate is computed. A
    # createDataFrame plan has UNKNOWN stats (Long.MaxValue -> routed to
    # the sampling side), so pin the probe to a small value here.
    monkeypatch.setattr(N, "_plan_size_bytes", lambda df: 1 << 10)
    assert N.resolve_quotient(docs, 3, "text", "doc_id") is False

    # Above the gate: multiplicity (72 docs / ~9 distinct sets ~ 8)
    # crosses a low threshold and not a high one.
    monkeypatch.setattr(N, "_plan_size_bytes", lambda df: 1 << 40)
    est = N.estimate_class_multiplicity(docs, 3)
    assert est > 2.0
    monkeypatch.setattr(N, "QUOTIENT_MIN_MULTIPLICITY", 2.0)
    assert N.resolve_quotient(docs, 3, "text", "doc_id") is True
    monkeypatch.setattr(N, "QUOTIENT_MIN_MULTIPLICITY", 1e9)
    assert N.resolve_quotient(docs, 3, "text", "doc_id") is False


def test_exact_class_collapse_mega_class(spark):
    """Degenerate mega-class multiplicity (one boilerplate text, many
    copies) through the round-13 groupBy+min_by collapse: one class,
    rep = min id, rep_base carries exactly one row for the class plus
    each empty/NULL-set singleton (the regime the round-12 advice
    flagged for the window form - partial aggregation collapses the
    class map-side)."""
    from reactive_data_pipeline_spark.dedup.ngram import exact_class_collapse

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(500)]
    rows += [(1000, "a genuinely different document"), (1001, None), (1002, "x y")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    members, rep_base = exact_class_collapse(docs, n=3)
    m = {r.doc: r.rep for r in members.collect()}
    assert len(m) == 503
    assert all(m[i] == 0 for i in range(500))
    assert m[1000] == 1000 and m[1001] == 1001 and m[1002] == 1002
    reps = sorted(r.doc for r in rep_base.collect())
    assert reps == [0, 1000, 1001, 1002]


def test_connected_components_randomized_vs_union_find(spark):
    """Round-7 rewrite guard (large-star/small-star): random graphs vs
    a plain python union-find — labels must be the min reachable id."""
    import random

    from reactive_data_pipeline_spark.dedup import connected_components

    rng = random.Random(71)
    for trial, (n, m) in enumerate([(40, 25), (60, 90), (30, 0), (50, 200)]):
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        pairs = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        pairs = [(a, b) for a, b in pairs if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {i: find(i) for i in range(n)}
        edges = spark.createDataFrame(pairs or [(0, 0)], "a long, b long")
        got = {
            r.id: r.component
            for r in connected_components(nodes, edges).collect()
        }
        assert got == want, f"trial {trial}"


def test_connected_components_frontier_shrinks(spark):
    """The at-scale property the round-7 rewrite exists for: the live
    edge set COLLAPSES as stars form (a k-clique's k(k-1)/2 edges
    become k-1 after one round), so late rounds shuffle only the
    unconverged frontier — and the round count is far below the
    O(diameter) of label propagation."""
    import itertools

    from reactive_data_pipeline_spark.dedup import connected_components

    clique = list(itertools.combinations(range(30), 2))  # 435 edges
    chain = [(i, i + 1) for i in range(100, 164)]  # diameter 64
    nodes = spark.createDataFrame(
        [(i,) for i in range(30)] + [(i,) for i in range(100, 165)], "id long"
    )
    edges = spark.createDataFrame(clique + chain, "a long, b long")
    stats: list = []
    got = connected_components(nodes, edges, stats_out=stats).collect()
    comps = {r.id: r.component for r in got}
    assert all(comps[i] == 0 for i in range(30))
    assert all(comps[i] == 100 for i in range(100, 165))
    counts = [s["edges"] for s in stats]
    # clique collapsed in round 1: 435+64 edges -> ~29+64 live
    assert counts[0] <= 29 + 64
    # monotone non-increasing live set (the frontier never grows)
    assert all(a >= b for a, b in zip(counts, counts[1:])), counts
    # O(log^2) rounds, not O(diameter)=64
    assert len(counts) <= 12, counts


def test_connected_components_adversarial_topologies(spark):
    """Round-8 pin (round-7 verdict #6): the star loop is proven on
    dup-graph shapes (cliques, which collapse in round 1) and random
    graphs; pin the known WORST cases for star contraction - a long
    path (diameter >> log n) and a broom (long handle + wide brush) -
    at 10k nodes. Alternating large/small star must converge in
    O(log n) rounds (measured: path-10k 15, path-100k 18, broom 14;
    label propagation would need O(diameter) ~ 10^4), label every node
    with the min reachable id, and never grow the live edge set."""
    import math

    from reactive_data_pipeline_spark.dedup import connected_components

    n = 10_000
    bound = 2 * math.ceil(math.log2(n)) + 4  # 32 >> measured 14-15

    # long path: 0-1-2-...-9999 (diameter n-1)
    nodes = spark.range(n).toDF("id")
    edges = spark.range(n - 1).selectExpr("id as a", "id + 1 as b")
    stats: list = []
    got = connected_components(nodes, edges, stats_out=stats)
    assert got.filter("component != 0").count() == 0
    assert len(stats) <= bound, [s["edges"] for s in stats]
    counts = [s["edges"] for s in stats]
    assert all(x >= y for x, y in zip(counts, counts[1:])), counts

    # broom: path handle 0..4999 with 5000 leaves on its far end -
    # the high-degree node sits at maximal distance from the min label
    h = n // 2
    nodes = spark.range(n).toDF("id")
    handle = spark.range(h - 1).selectExpr("id as a", "id + 1 as b")
    brush = spark.range(h, n).selectExpr(f"{h - 1} as a", "id as b")
    stats = []
    got = connected_components(nodes, handle.union(brush), stats_out=stats)
    assert got.filter("component != 0").count() == 0
    assert len(stats) <= bound, [s["edges"] for s in stats]


def test_minhash_groups_mega_class_multiplicity(spark):
    """Round-9 pin: the degenerate dup-multiplicity shape - ONE content
    class repeated 100k times (boilerplate at corpus scale) plus a
    cross-class near-dup and two singletons. The quotient path must
    (a) produce the exact partition (mega class + its near-dup in one
    group, min-id keeper; singletons untouched) with candidate work
    driven by the 4 representatives, never the 100k members, and
    (b) key the collapse shuffle on the 128-bit content hash - the
    sorted gram ARRAY (~ the document text) must not appear as a
    shuffle key column anywhere in the plan."""
    from reactive_data_pipeline_spark.dedup import minhash_neardup_groups

    near = BASE.replace("lazy", "sleepy")
    mega = spark.range(100_000).selectExpr(
        "id as doc_id", f"'{BASE}' as text"
    )
    extras = spark.createDataFrame(
        [
            (200_000, near),
            (300_000, "completely different words about spark engines here"),
            (300_001, "unrelated second singleton text payload entirely"),
        ],
        "doc_id long, text string",
    )
    docs = mega.union(extras)
    out = minhash_neardup_groups(docs, n=1, threshold=0.8)

    plan = out._jdf.queryExecution().toString()
    assert "__ck1" in plan and "__ck2" in plan
    assert "hashpartitioning(__gset" not in plan and "__gset" not in plan

    rows = out.collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(rows) == 100_003
    # mega class + near-dup: one group, labelled and kept by min id 0
    assert by_doc[0].group_id == 0 and by_doc[0].is_keeper
    assert by_doc[200_000].group_id == 0 and not by_doc[200_000].is_keeper
    assert by_doc[0].group_size == 100_001
    assert by_doc[99_999].group_id == 0 and not by_doc[99_999].is_keeper
    # singletons stay their own keepers
    for sid in (300_000, 300_001):
        assert by_doc[sid].group_id == sid and by_doc[sid].group_size == 1
        assert by_doc[sid].is_keeper


def test_content_key_salt_first_seeding(spark):
    """Round-10 (r9 advice, high): the second content-key hash must be
    independently SEEDED. Spark's xxhash64 folds children left-to-right
    using the running hash as the next seed, so xxhash64(lit(1), gset)
    hashes the content under seed xxh64(1L, 42) - a second, independent
    64-bit view - while the previous xxhash64(gset, lit(1)) was
    xxh64(1L, seed=__ck1): a pure function of __ck1, silently degrading
    the "128-bit" composite to 64 bits (every __ck1 collision was
    automatically a __ck2 collision; ~m^2/2^65 expected class merges,
    ~27k at a trillion distinct docs)."""
    from reactive_data_pipeline_spark.dedup import minhash_neardup_groups

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    out = minhash_neardup_groups(docs, n=1, threshold=0.9)
    plan = out._jdf.queryExecution().analyzed().toString()
    # salt-first form present; content-first (seed-chained) form absent
    assert "xxhash64(1, sort_array" in plan
    assert ", 1, 42)" not in plan
    # value pin for the chosen form (computed once on Spark 4.1.2): a
    # regression to salt-last changes these and fails loudly.
    r = (
        spark.range(1)
        .select(
            F.xxhash64(F.lit(1), F.lit("abc")).alias("salt_first"),
            F.xxhash64(F.lit("abc"), F.lit(1)).alias("salt_last"),
        )
        .first()
    )
    assert r.salt_first == -3712979484889829503
    assert r.salt_last == 615990704253164077
    assert r.salt_first != r.salt_last


def test_simhash_md5_keying_matches_hashlib_and_bruteforce(spark):
    """Round-11: the md5 keying's cross-engine contract, pinned against
    a THIRD implementation (hashlib). Spark computes the per-token hash
    as conv(substring(md5(tok),1,15),16,10) and DuckDB's oracle as
    ('0x'||substring(md5(tok),1,15))::BIGINT - both must equal
    int(md5(utf8).hexdigest()[:15], 16). A drift in any engine's md5,
    substring, or hex-parse semantics breaks this pin before it breaks
    the driver's value hash. Also brute-verifies the md5-keyed pair set
    (banding exactness is keying-independent but re-proven here)."""
    import hashlib

    from pyspark.sql import functions as F

    from reactive_data_pipeline_spark.dedup.simhash import (
        KEYINGS,
        _token_hash,
        simhash_docs,
        simhash_near_pairs,
    )

    toks = ["hello", "world", "", "café", "a b", "123"]
    got = (
        spark.createDataFrame([(t,) for t in toks], "tok string")
        .select("tok", _token_hash("tok", "md5").alias("h"))
        .collect()
    )
    for r in got:
        assert r.h == int(hashlib.md5(r.tok.encode("utf-8")).hexdigest()[:15], 16)

    bits, band_bits = KEYINGS["md5"]
    assert bits == 60 and band_bits == 15 and 4 * band_bits == bits

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    sh = {r.doc_id: r.simhash for r in simhash_docs(docs, keying="md5").collect()}
    assert all(0 <= v < (1 << 60) for v in sh.values())
    ids = sorted(sh)
    exp = sorted(
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    )
    got_pairs = sorted(tuple(r) for r in simhash_near_pairs(docs, keying="md5").collect())
    assert got_pairs == exp


def _hof_knn(emb, queries, k):
    """The pre-kernel exact path, kept as the tests' reference: the
    ``cosine`` HOF fold over a broadcast nested-loop join, ranked by a
    window over every scored pair."""
    from pyspark.sql import Window

    from reactive_data_pipeline_spark.functions.vectors import cosine

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q"))
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", "vec_id", F.round(cosine("embedding", "__q"), 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def test_knn_batch_zero_null_and_empty_vectors_rank_last(spark):
    """A zero or empty vector has no cosine: NULL (DuckDB's x / 0.0),
    not ANSI DIVIDE_BY_ZERO, and it ranks after every scored row, by id,
    like a NULL vector. A zero query scores nothing."""
    from reactive_data_pipeline_spark.functions.vectors import cosine
    from reactive_data_pipeline_spark.similarity import knn_batch

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),
        (3, []),
        (4, None),
        (5, [0.5, 0.5, 0.1]),
        (6, [0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, knn_batch(emb, emb.filter("vec_id IN (0, 6)"), k=5).collect()))
    assert got == sorted(map(tuple, _hof_knn(emb, emb.filter("vec_id IN (0, 6)"), 5).collect()))
    by_query = {}
    for qid, vid, cos, rank in sorted(got, key=lambda r: (r[0], r[3])):
        by_query.setdefault(qid, []).append((vid, cos))
    assert [v for v, _ in by_query[0]] == [1, 5, 2, 3, 4]
    assert [c is None for _, c in by_query[0]] == [False, False, True, True, True]
    assert by_query[6] == [(0, None), (1, None), (2, None), (3, None), (4, None)]
    zero = emb.filter("vec_id = 2").select(F.col("embedding").alias("z"))
    assert {r.c for r in emb.crossJoin(zero).select(cosine("embedding", "z").alias("c")).collect()} == {None}


def test_dense_cosines_equal_the_hof_fold_bit_for_bit(spark):
    """The kernel's unrounded scores are the ``cosine`` expression's
    doubles, not merely equal after 6-dp rounding: same fold order, same
    norms, same division."""
    import numpy as np

    from reactive_data_pipeline_spark.functions.vectors import cosine
    from reactive_data_pipeline_spark.similarity import dense

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.select("vec_id", F.col("embedding").cast("array<double>")).toPandas()
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    A, la = dense._block(pdf["embedding"].to_numpy(), 64)
    q = (pdf["vec_id"] % 100 == 0).to_numpy()
    got = dense.cosines(A, la, A[q], la[q])
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    ref = (
        emb.crossJoin(qs)
        .select("vec_id", "query_id", cosine("embedding", "qv").alias("c"))
        .toPandas()
        .pivot(index="vec_id", columns="query_id", values="c")
        .sort_index()
    )
    assert list(ref.index) == list(pdf["vec_id"])
    assert list(ref.columns) == list(pdf["vec_id"][q])
    assert got.shape == (500, 5)
    assert np.array_equal(got.view(np.int64), ref.to_numpy().view(np.int64))


def test_knn_batch_ties_at_the_k_boundary(spark):
    """Duplicate and near-duplicate vectors straddling rank k, spread
    over many Arrow batches: each batch keeps every candidate within the
    margin of its own k-th best, so the rank sees every tie and breaks it
    by vec_id, exactly as ranking all pairs does."""
    from reactive_data_pipeline_spark.similarity import knn_batch

    base = [[1.0, 0.0, 0.0], [0.6, 0.8, 0.0], [0.0, 0.6, 0.8]]
    rows = [(0, base[0]), (1, base[1]), (2, base[2])]
    # 12 exact duplicates of each query, ids interleaved so every batch
    # holds some, plus copies nudged by less than a rounding cell.
    for i in range(36):
        rows.append((100 - i, list(base[i % 3])))
    for i in range(9):
        v = list(base[i % 3])
        v[2] += 1e-8 * (i + 1)
        rows.append((200 + i, v))
    rows.append((300, [0.3, 0.3, 0.3]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter("vec_id < 3")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        for k in (1, 5, 12, 13, 20):
            got = sorted(map(tuple, knn_batch(emb, queries, k=k).collect()))
            want = sorted(map(tuple, _hof_knn(emb, queries, k).collect()))
            assert got == want, k
            assert len(got) == 3 * k
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
