"""MinHash + LSH near-duplicate detection (approximate, scale path).

Pure DataFrame pipeline - shingle -> k minhashes -> band -> bucket join
-> exact-Jaccard verification of candidates:

1. explode each doc's distinct n-grams; hash each gram with k seeds
   (``xxhash64(gram, seed)``) and take per-doc minima -> the k-wide
   MinHash signature (one shuffle, map-side partial min).
2. split the signature into b bands of r values (k = b*r); hash each
   band; docs sharing any (band_id, band_hash) bucket become candidates
   (equi join on the bucket key - this replaces the quadratic all-pairs
   comparison; collision probability ~ 1-(1-J^r)^b).
3. verify candidates with exact Jaccard over the stored gram arrays
   (JVM ``array_intersect``), so output pairs are never false positives;
   recall is the LSH collision probability (hence no SQL oracle - the
   driver records a rows-only check; the exact counterpart
   dedup.ngram.ngram_jaccard_pairs has the full oracle).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators.relational import ensure_parallelism
from .ngram import token_ngrams



def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc, grams, sig): k-wide minhash signature per document.

    The signature is a pure per-row expression: ``sig[i] =
    array_min(transform(grams, g -> xxhash64(g, i)))``. No explode, no
    groupBy, no join-back - one narrow map stage, so downstream plans
    that branch on the signatures (bucket join + verification) recompute
    only a cheap map instead of a shuffle pipeline. At 100 TB this is
    the difference between zero extra shuffles and three.

    The input is repartitioned to the session's default parallelism
    first: shingling + k hashes is CPU-bound, and a small upstream file
    count (e.g. one parquet file) must not serialize it onto one core.
    """
    docs = ensure_parallelism(docs)
    grams = docs.select(
        F.col(id_col).alias("doc"), token_ngrams(text_col, n).alias("grams")
    )
    return _signatures_from_grams(grams, num_hashes)


def _signatures_from_grams(grams: DataFrame, num_hashes: int) -> DataFrame:
    """(doc, grams, sig) from a prepared ``(doc, grams)`` relation.

    Hash each variable-length gram to a long ONCE, then derive the k
    minhash values by re-hashing that fixed 8-byte long with k seeds -
    the "one content hash + k cheap permutations" MinHash construction
    (a seeded long hash is ANSI-safe, unlike wrap-around multiply-add).

    All k minima fold in ONE aggregate pass over __h: acc is the
    k-wide running-min array, each step least()s in xxhash64(h, i)
    (the binary transform lambda binds i to the array index = the
    seed). Measured vs k separate transform+array_min passes: ~10%
    faster steady-state and one generated expression instead of k,
    so plan codegen is ~3x cheaper - identical signature values.
    """
    base = grams.select(
        "doc", "grams", F.transform("grams", lambda g: F.xxhash64(g)).alias("__h")
    )
    max_long = (1 << 63) - 1
    sig = F.aggregate(
        "__h",
        F.array_repeat(F.lit(max_long).cast("long"), num_hashes),
        lambda acc, h: F.transform(acc, lambda a, i: F.least(a, F.xxhash64(h, i))),
    )
    return base.select("doc", "grams", sig.alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    quotient: bool | None = None,
) -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, exact jaccard >= threshold) found
    via LSH banding. Columns: doc_a, doc_b, jaccard.

    ``quotient=None`` (optimization round 13, the round-12 verdict's
    item 3) derives the switch from the data via
    ``dedup.ngram.resolve_quotient``: small inputs keep the direct
    pipeline with zero extra work (plan-identical to the old
    ``quotient=False`` default - the measured-faster choice at thin
    duplicate mass), large inputs pay one sampled class-multiplicity
    estimate and quotient when the C(c,2) candidate mass would dominate
    (measured 3.3x at 400x volume, multiplicity ~44 - the regime that
    previously needed the manual flag).

    ``quotient=True`` (optimization round 12, guide section 8) runs the
    whole signature -> banding -> verification pipeline over ONE
    representative per distinct gram set and expands member pairs at
    the end. Output is row-for-row IDENTICAL, including the approximate
    misses: a minhash signature is a pure function of the gram SET
    (min over per-gram hashes), so identical sets get identical
    signatures - same-class pairs collide in every band and verify to
    J = 1.0, and a cross-class pair is banded/verified exactly as its
    representative pair is. What changes is the COST on duplicate-heavy
    corpora: a class of c copies used to pay c signatures, c*bands
    bucket rows, C(c,2)*bands candidate rows, and C(c,2) verifications
    that each ship both full gram arrays (the quadratic-in-multiplicity
    candidate mass measured at the 400x fixture, ~16x its 100x cost) -
    the quotient pays all of that once per class plus narrow
    (id, id, jaccard) expansion rows."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    if quotient is None:
        from .ngram import resolve_quotient

        quotient = resolve_quotient(docs, n, text_col, id_col)
    members = None
    if quotient:
        from .ngram import exact_class_collapse

        members, rep_base = exact_class_collapse(docs, n, text_col, id_col)
        sig_input = rep_base.select("doc", F.col("g").alias("grams"))
        sigs = _signatures_from_grams(sig_input, num_hashes).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    else:
        # The signature relation feeds three plan branches (buckets, and
        # both sides of the verification join); persist it so
        # shingling+hashing runs once. At scale this is the standard
        # materialize-signatures step of an LSH dedup pipeline
        # (MEMORY_AND_DISK spills rather than OOMs).
        sigs = minhash_signatures(
            docs, n=n, num_hashes=num_hashes, text_col=text_col, id_col=id_col
        ).persist(StorageLevel.MEMORY_AND_DISK)
    grams_only = sigs.select("doc", "grams")
    buckets = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col("sig")[b * r + j] for j in range(r)]).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bh")
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    ga = grams_only.select(F.col("doc").alias("doc_a"), F.col("grams").alias("ga"))
    gb = grams_only.select(F.col("doc").alias("doc_b"), F.col("grams").alias("gb"))
    verified = cand.join(ga, "doc_a").join(gb, "doc_b")
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    # Two EMPTY gram sets share the all-max signature, so they reach
    # verification with union = 0; guard the division (ANSI mode errors
    # on 0/0 where legacy mode returned the NULL the filter drops).
    union = F.size("ga") + F.size("gb") - inter
    jac = F.when(union > 0, inter / union).alias("jaccard")
    pairs = (
        verified.select("doc_a", "doc_b", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    if members is None:
        return pairs
    from .ngram import expand_member_pairs

    # Intra-class pairs: identical signatures collide in EVERY band, so
    # the direct pipeline always emits them with the verify value for
    # identical sets, |g|/(2|g|-|g|) = 1.0 (empty sets verify to NULL
    # and are dropped - exact_class_collapse keeps them singletons).
    sizes = members.groupBy("rep").agg(F.count(F.lit(1)).alias("__m"))
    intra_classes = (
        sigs.select("doc", F.size("grams").alias("__ng"))
        .join(sizes, F.col("doc") == F.col("rep"))
        .filter((F.col("__m") >= 2) & (F.col("__ng") > 0) & (F.lit(1.0) >= threshold))
        .select("rep", F.lit(1.0).alias("jaccard"))
    )
    rep_pairs = pairs.select(
        F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b"), "jaccard"
    )
    return expand_member_pairs(members, intra_classes, rep_pairs)


def minhash_neardup_groups(
    docs: DataFrame,
    n: int = 1,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup groups (doc_id, group_id, group_size, is_keeper) over the
    MinHash+LSH edge set - the LINEAR at-scale grouping path.

    Feeding raw LSH pairs into connected components is output-bound on
    exact-duplicate mass: a cluster of c identical docs emits C(c,2)
    verified pairs (J=1 collides in EVERY band), so a corpus with heavy
    dup multiplicity pays quadratic candidate work for edges that carry
    no grouping information (measured: the sf4 fixture's ~4.4-copy
    exact-dup classes pushed the naive form past 600 s). This operator
    first QUOTIENTS the graph by exact n-gram-set equality:

    1. collapse - group docs on a 128-bit content key (two
       independently-seeded ``xxhash64`` values of the sorted distinct
       gram array) -> one representative (min id) per content class.
       The hash key IS the default (round-9, promoted from a docstring
       note): the sorted gram array is ~the document's token mass, so
       keying the shuffle on it ships every document's content TWICE
       (grouped and joined back) - at 100 TB that doubles the largest
       shuffle in the pipeline, while the composite hash is 16 bytes
       per row. The salt literal must come FIRST: Spark's xxhash64
       folds children left-to-right using the running hash as the
       next seed, so ``xxhash64(lit(1), gset)`` hashes the content
       under seed ``xxh64(1L, seed=42)`` - a second, independent
       64-bit view - whereas ``xxhash64(gset, lit(1))`` is
       ``xxh64(1L, seed=__ck1)``, a pure function of ``__ck1`` (every
       __ck1 collision is automatically a __ck2 collision and the
       "128-bit" key silently degrades to 64 bits: ~m^2/2^65 expected
       merges, ~27k at m = 10^12). With independent seeds the birthday
       bound is ~m^2/2^129; at m = 10^12 (a trillion distinct docs)
       that is ~1.5e-15 - far below the corpus's bit-rot floor. A
       collision would MERGE two classes (never split), so the failure
       mode is one spurious dedup group, not a crash;
    2. LSH + exact-Jaccard verification over REPRESENTATIVES only -
       candidate mass is now driven by cross-class near-dups, not dup
       multiplicity;
    3. large-star/small-star components over the representative graph;
    4. expand members back through the class map.

    Semantics are EXACTLY those of components over the full J >=
    threshold graph: same-class docs have J=1 >= threshold (edge
    implied), and any cross-class edge (J computed on identical token
    sets) exists between classes iff it exists between any of their
    members - a quotient graph yields the same partition. Labels are
    preserved too: each class rep is its min doc id, so the component
    min over reps IS the min doc id of the whole group.
    """
    from .components import connected_components

    gset = F.sort_array(token_ngrams(text_col, n))
    keyed = docs.select(
        F.col(id_col).alias("doc"),
        F.xxhash64(gset).alias("__ck1"),
        F.xxhash64(F.lit(1), gset).alias("__ck2"),
    )
    classes = keyed.groupBy("__ck1", "__ck2").agg(F.min("doc").alias("rep"))
    # A degenerate mega-class (boilerplate: one text repeated 100k+
    # times) concentrates ONE key on the members join's left side; the
    # classes side is one row per key, so AQE's skew-join split can
    # replicate it across the oversized partition - and the partial
    # aggregation above already collapses the mega-class map-side.
    members = keyed.join(classes, ["__ck1", "__ck2"]).select("doc", "rep")
    rep_docs = docs.join(
        classes.select(F.col("rep").alias(id_col)), id_col, "semi"
    )
    pairs = minhash_lsh_pairs(
        rep_docs,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        # rep_docs is already one doc per exact class - multiplicity 1
        # by construction, so skip the auto-switch's sampling job.
        quotient=False,
    )
    comp = connected_components(
        classes.select(F.col("rep").alias("id")),
        pairs,
        node_col="id",
        src_col="doc_a",
        dst_col="doc_b",
    )
    doc_comp = members.join(comp, members.rep == comp.id).select("doc", "component")
    sizes = doc_comp.groupBy("component").agg(F.count(F.lit(1)).alias("group_size"))
    return doc_comp.join(sizes, "component").select(
        F.col("doc").alias(id_col),
        F.col("component").alias("group_id"),
        "group_size",
        (F.col("doc") == F.col("component")).alias("is_keeper"),
    )
