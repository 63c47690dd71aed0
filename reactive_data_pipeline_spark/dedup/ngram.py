"""N-gram Jaccard near-duplicate detection (exact, inverted-index form).

The exact near-dup algorithm, in its scalable form: a PREFIX-FILTERED
set-similarity self-join (AllPairs/PPJoin, Bayardo et al. 2007 "Scaling
Up All Pairs Similarity Search") - index only each document's
rarest-first prefix grams, join on those, verify every candidate with
the full intersection. Exact output (the prefix theorem guarantees no
qualifying pair is pruned); candidates scale with rare-gram document
frequencies instead of the full inverted-index fanout. This is the
exact counterpart that MinHash+LSH approximates; at web scale you run
LSH first and this only on candidates (dedup.minhash does exactly that).

Scale notes: the candidate join shuffles on prefix grams; the
rarest-first order makes those the lowest-fanout keys. The worst case
(every doc's grams all near-ubiquitous) remains inherently quadratic -
``max_doc_freq`` stays exposed as the approximation lever for that
regime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import tokens
from ..operators.relational import ensure_parallelism

#: Auto-quotient gates (optimization round 13, guide section 8). Inputs
#: whose optimizer size estimate is below MIN_BYTES keep the direct path
#: with ZERO extra work (the check/bench fixtures); above it, one cheap
#: sampled aggregate measures the mean exact-class multiplicity and the
#: quotient engages when duplicate mass is heavy enough to pay for the
#: collapse (measured: multiplicity ~4.4 at 40x volume is a wash, ~44
#: at 400x is 3.3x - the threshold sits between).
#: The byte gate is calibrated against the OPTIMIZER's estimate of the
#: compressed input (the check/bench documents fixture is ~0.6 MB, the
#: 10x one 5.3 MB, the 40x one 12 MB, the 400x one 99 MB): 8 MB keeps
#: every bench/check plan untouched and starts paying the one sampling
#: job from ~40x volume up, where it is noise against the pipeline.
QUOTIENT_AUTO_MIN_BYTES = 8 << 20
QUOTIENT_MIN_MULTIPLICITY = 8.0
_QUOTIENT_SAMPLE_MOD = 16


def token_ngrams(text: Column | str, n: int) -> Column:
    """Distinct word n-grams of the normalized text (JVM-side
    transform/sequence; no UDF). n=1 yields the distinct token set."""
    t = tokens(text)
    if n == 1:
        return F.array_distinct(t)
    idx = F.sequence(F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(0)))
    gram = lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)])
    return F.array_distinct(F.when(F.size(t) >= n, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    ))



def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer size estimate of a frame's plan - free (no job); for a
    parquet-backed plan it derives from the file footprint. 0 when
    unavailable OR unknown: plans without stats (LogicalRDD /
    createDataFrame inputs) report spark.sql.defaultSizeInBytes =
    Long.MaxValue, which must not be read as "huge" - it would engage
    scale machinery (max-partition repartitions, sampling jobs) on
    arbitrarily small inputs."""
    try:
        v = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - estimate only, never fatal
        return 0
    return 0 if v >= (1 << 62) else v


def estimate_class_multiplicity(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> float:
    """Sampled mean exact-class multiplicity (docs per distinct n-gram
    SET) - the statistic that decides direct vs quotient. One cheap
    aggregate over a deterministic 1/16 hash slice (map-side HLL
    partial agg, no shuffle of content); both pipelines are
    output-identical either way, so an estimate only ever affects cost,
    never rows."""
    s = docs.filter(
        F.pmod(F.xxhash64(F.col(id_col), F.lit(7)), F.lit(_QUOTIENT_SAMPLE_MOD)) == 0
    )
    gset = F.sort_array(token_ngrams(F.col(text_col), n))
    row = (
        s.select(F.xxhash64(gset).alias("__ck"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("__ck").alias("d"),
        )
        .head()
    )
    if not row or not row["n"] or not row["d"]:
        return 1.0
    return float(row["n"]) / float(row["d"])


def resolve_quotient(docs: DataFrame, n: int, text_col: str, id_col: str) -> bool:
    """Data-derived direct-vs-quotient switch (optimization round 13,
    the round-12 verdict's item 3): below the size gate the direct path
    (the measured-faster choice at thin duplicate mass) applies with no
    extra job; above it the sampled multiplicity decides."""
    if _plan_size_bytes(docs) < QUOTIENT_AUTO_MIN_BYTES:
        return False
    return (
        estimate_class_multiplicity(docs, n, text_col, id_col)
        >= QUOTIENT_MIN_MULTIPLICITY
    )


def _prefix_verified_pairs(
    base: DataFrame,
    threshold: float,
    max_doc_freq: int | None,
    df_source: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The AllPairs/PPJoin core over a ``(doc, g)`` relation: returns
    ``(pairs, sides)`` where ``pairs`` is (doc_a < doc_b, jaccard
    rounded 6dp) verified exactly, and ``sides`` is the per-doc
    verification view (doc, n_grams, gv).

    Prefix-filtered candidate generation (AllPairs / PPJoin family,
    Bayardo et al. 2007; Xiao et al. 2008): under any global total
    order on grams, two sets with J(a,b) >= t must share a gram within
    each set's first |s| - ceil(t*|s|) + 1 grams (J >= t implies
    overlap >= ceil(t*|s|) for BOTH sets, and an overlap that large
    cannot hide entirely in a suffix shorter than itself). Ordering
    grams rarest-first makes those prefixes the lowest-fanout index
    keys, so the self-join touches only rare grams - this is what
    turns the tiny-vocabulary unigram case from quadratic-in-df
    (timed out at 10x volume) into seconds, with EXACT output: the
    prefix filter only prunes candidates, and every candidate is
    verified with the full intersection.

    ``df_source``: optional ``(doc, gram)`` relation to count document
    frequencies over, when it must differ from ``base``'s own explode
    (the quotient path under ``max_doc_freq``: caps change VALUES, and
    document frequency counts every document, duplicates included).
    """
    ex = base.select("doc", F.explode("g").alias("gram"))
    df_ex = df_source if df_source is not None else ex
    df_tbl = df_ex.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    if max_doc_freq is not None:
        df_tbl = df_tbl.filter(F.col("df") <= max_doc_freq)
    # Rarest-first global order = (df, gram): deterministic, total.
    ordered = (
        ex.join(df_tbl, "gram")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("df", "gram"))).alias("sg"))
    )
    # floor() instead of the theorem's ceil(): FP-safe in the conservative
    # direction - a too-long prefix only adds candidates, never drops one.
    plen = F.greatest(
        F.size("sg") - F.floor(F.lit(threshold) * F.size("sg")).cast("int") + 1,
        F.lit(1),
    )
    prefix = ordered.select(
        "doc",
        F.size("sg").alias("nidx"),
        F.explode(F.transform(F.slice("sg", F.lit(1), plen), lambda s: s["gram"])).alias(
            "gram"
        ),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # Length filter (the AllPairs companion prune): J >= t forces
    # min(|a|,|b|) >= t*max(|a|,|b|); checked loosely (+1 slack) so FP
    # rounding can only ADMIT extra candidates - the verify stays exact.
    len_ok = (
        F.least(F.col("a.nidx"), F.col("b.nidx")) + 1
        >= F.lit(threshold) * F.greatest(F.col("a.nidx"), F.col("b.nidx"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc") < F.col("b.doc"))
            & len_ok,
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # Exact verification on the full distinct-gram sets. With
    # max_doc_freq set, capped grams are excluded from the index AND the
    # intersection (the candidate-control approximation the cap buys)
    # while |a|,|b| stay the true set sizes - same contract as the old
    # inverted-index form.
    if max_doc_freq is not None:
        idx_grams = (
            ex.join(df_tbl, "gram")
            .groupBy("doc")
            .agg(F.collect_set("gram").alias("gi"))
        )
        sides = base.join(idx_grams, "doc", "left").select(
            "doc",
            F.size("g").alias("n_grams"),
            F.coalesce("gi", F.array().cast("array<string>")).alias("gv"),
        )
    else:
        sides = base.select("doc", F.size("g").alias("n_grams"), F.col("g").alias("gv"))
    va = sides.select(
        F.col("doc").alias("doc_a"), F.col("n_grams").alias("na"), F.col("gv").alias("ga")
    )
    vb = sides.select(
        F.col("doc").alias("doc_b"), F.col("n_grams").alias("nb"), F.col("gv").alias("gb")
    )
    # Verification joins are SHUFFLED HASH, not sort-merge (optimization
    # round 13, guide sections 2.3/5 - the round-12 verdict's item 8):
    # the second join's stream side is candidate rows ALREADY carrying
    # ga (the full gram array), so an SMJ would sort candidate-
    # multiplied document mass - the measured 40x disk-burn mechanism
    # (70 GB sort spill; streaming_neardup_contract's 565 s in-sweep
    # disk exhaustion). SHJ builds the per-DOC side (one bounded array
    # per doc) and STREAMS the fat candidate rows unsorted, so the
    # heavy bytes cross the exchange once and never enter a sort.
    # SHJ builds do not spill, so above the size gate the build sides
    # are repartitioned on the join key with a bytes-derived count
    # (size_fact_side's rule): per-task build stays ~constant at any SF.
    conf_p = int(sides.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n_raw = -(-_plan_size_bytes(base) // (32 << 20))
    if n_raw > 2 * conf_p:
        n_p = min(n_raw, 4096)
        va = va.repartition(n_p, "doc_a")
        vb = vb.repartition(n_p, "doc_b")
    shared = F.size(F.array_intersect("ga", "gb"))
    jac = shared.cast("double") / (F.col("na") + F.col("nb") - shared)
    pairs = (
        cand.join(va.hint("shuffle_hash"), "doc_a")
        .join(vb.hint("shuffle_hash"), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    return pairs, sides


def exact_class_collapse(
    docs: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Quotient a corpus by exact n-gram-SET equality: returns
    ``(members, rep_base)`` where ``members`` is (doc, rep) - every doc
    mapped to its class representative (min id) - and ``rep_base`` is
    the (doc, g) gram relation of representatives only, both backed by
    one persisted window pass.

    The class key is the round-9 128-bit salt-first xxhash64 content
    key over the SORTED distinct gram array (see minhash_neardup_groups
    for the collision arithmetic: independent-seed birthday bound
    ~m^2/2^129; a collision MERGES classes, never splits). One exchange
    keyed on the content hash carries the gram arrays exactly once
    (guide section 8: heavy bytes move once, every other shuffle in the
    caller sees narrow id rows).

    Shape (optimization round 13, the round-12 advice): groupBy +
    join-back like minhash_neardup_groups's collapse, NOT a window -
    a content-keyed window forces every row of a duplicate class (each
    carrying its full gram array) into ONE task's sort, exactly the
    degenerate-mega-class regime (100k copies of boilerplate) the
    groupBy form survives by map-side partial aggregation: ``min_by``
    keeps one candidate (rep id + its gram array) per class per map
    task, so the reduce side sees O(map tasks) rows per class however
    large the class. The join back to members ships only narrow
    (doc, 16-byte key) rows. Empty AND NULL gram sets (tokens(NULL) is
    a NULL array whose constant hash would otherwise fuse every
    NULL-text doc into one class - the round-12 advice's defect) stay
    singletons: two empty sets have J = 0/0 = NULL, not 1.
    """
    keyed_g = F.sort_array(F.col("g"))
    keyed = (
        ensure_parallelism(docs)
        .select(F.col(id_col).alias("doc"), token_ngrams(text_col, n).alias("g"))
        .select(
            "doc",
            "g",
            F.xxhash64(keyed_g).alias("__ck1"),
            F.xxhash64(F.lit(1), keyed_g).alias("__ck2"),
            (F.col("g").isNull() | (F.size("g") == 0)).alias("__single"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    grouped = keyed.filter(~F.col("__single"))
    classes = (
        grouped.groupBy("__ck1", "__ck2")
        .agg(F.min("doc").alias("rep"), F.min_by("g", "doc").alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    singles = keyed.filter(F.col("__single"))
    members = (
        grouped.select("doc", "__ck1", "__ck2")
        .join(classes.select("__ck1", "__ck2", "rep"), ["__ck1", "__ck2"])
        .select("doc", "rep")
        .unionByName(singles.select("doc", F.col("doc").alias("rep")))
    )
    rep_base = classes.select(F.col("rep").alias("doc"), "g").unionByName(
        singles.select("doc", "g")
    )
    return members, rep_base


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 1,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    quotient: bool | None = None,
) -> DataFrame:
    """All pairs (doc_a < doc_b) with n-gram-set Jaccard >= threshold.

    Columns: doc_a, doc_b, jaccard (rounded to 6dp).

    ``quotient`` (optimization round 12, guide sections 2.3/8) runs the
    prefix-filtered join over one representative per distinct gram SET
    and expands member pairs afterwards, so exact-duplicate mass
    multiplies only narrow (id, id, jaccard) rows instead of candidate
    and verification work - a class of c identical sets used to ship
    its full gram arrays through C(c,2) pair-keyed join rows (the
    measured 70 GB sort-spill mechanism at 40x volume). Output is
    row-for-row identical either way (pinned by
    test_ngram_jaccard_prefix_filter_matches_brute_force in both modes
    and the DuckDB oracles of every registered caller): intra-class
    pairs get exactly the value the verify expression computes for two
    identical sets, and cross-class pairs the representative pair's.

    Default ``None`` (optimization round 13, data-derived - the
    round-12 verdict's item 3): unigram (n == 1) always quotients -
    token-set dedup is the high-dup-mass regime AND its distinct-token
    arrays are vocabulary-bounded, so the collapse's one content-keyed
    exchange is cheap (measured at 10x volume: 138s -> 96s). Shingle
    similarity (n >= 2) carries document-mass gram arrays where the
    collapse only pays off under heavy duplicate multiplicity (measured
    at n=3: 19s -> 32s LOSS at 10x thin-dup volume, ~wash at 40x
    multiplicity ~4.4, 3.3x WIN at 400x multiplicity ~44), so the
    switch comes from the data via :func:`resolve_quotient`: small
    inputs keep the direct path free of charge, large ones pay one
    sampled multiplicity estimate. Callers that KNOW their corpus
    shape should pass the bool explicitly.
    """
    if quotient is None:
        quotient = True if n == 1 else resolve_quotient(docs, n, text_col, id_col)
    if not quotient:
        base = (
            ensure_parallelism(docs)
            .select(F.col(id_col).alias("doc"), token_ngrams(text_col, n).alias("g"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        pairs, _ = _prefix_verified_pairs(base, threshold, max_doc_freq)
        return pairs

    members, rep_base = exact_class_collapse(docs, n, text_col, id_col)
    # Under max_doc_freq, document frequencies must be counted over the
    # FULL corpus (duplicates included) for the capped output to stay
    # identical to the non-quotient form; uncapped, df only steers the
    # rarest-first candidate order (any total order is correct by the
    # prefix theorem), so the cheaper rep-only frequencies serve.
    df_source = None
    if max_doc_freq is not None:
        full_base = ensure_parallelism(docs).select(
            F.col(id_col).alias("doc"), token_ngrams(text_col, n).alias("g")
        )
        df_source = full_base.select("doc", F.explode("g").alias("gram"))
    rep_pairs_raw, sides = _prefix_verified_pairs(
        rep_base, threshold, max_doc_freq, df_source=df_source
    )
    rep_pairs = rep_pairs_raw.select(
        F.col("doc_a").alias("rep_a"), F.col("doc_b").alias("rep_b"), "jaccard"
    )

    # Expansion back to member pairs - narrow (id, id, jaccard) rows.
    # Intra-class: every member pair of a class whose self-Jaccard
    # passes (uncapped that is |g|/(2|g|-|g|) = 1.0 whenever the set is
    # non-empty; capped it is |gv|/(2n-|gv|), exactly what the verify
    # expression would compute for two identical sets). The passing
    # filter comes BEFORE the member self-join so a mega-class of
    # empty/failing sets never materializes its quadratic pair mass.
    sizes = members.groupBy("rep").agg(F.count(F.lit(1)).alias("__m"))
    self_shared = F.size("gv")
    # Guarded like the pair division: an empty set's self-union is 0
    # (ANSI mode errors on 0/0; such classes are singletons anyway).
    self_union = F.col("n_grams") + F.col("n_grams") - self_shared
    self_jac = F.when(self_union > 0, self_shared.cast("double") / self_union)
    # size(gv) > 0 mirrors candidate generation (round-12 advice): a
    # class whose grams are ALL capped away has no index grams, so the
    # direct path never forms its self-candidate - without this guard
    # the degenerate threshold=0.0 + max_doc_freq corner would emit
    # intra pairs (self_jac = 0.0 passes >= 0.0) the direct path omits.
    intra_classes = (
        sides.join(sizes, sides.doc == sizes.rep)
        .filter((F.col("__m") >= 2) & (self_shared > 0) & (self_jac >= threshold))
        .select("rep", F.round(self_jac, 6).alias("jaccard"))
    )
    return expand_member_pairs(members, intra_classes, rep_pairs)


def expand_member_pairs(
    members: DataFrame, intra_classes: DataFrame, rep_pairs: DataFrame
) -> DataFrame:
    """Expand a class quotient's pair relation back to member pairs -
    narrow (doc_a < doc_b, jaccard) rows only. ``members``: (doc, rep);
    ``intra_classes``: (rep, jaccard) for classes whose (identical-set)
    self-pair qualifies; ``rep_pairs``: (rep_a, rep_b, jaccard) verified
    representative pairs. Classes partition the docs, so intra and
    cross pairs are disjoint and no dedup pass is needed."""
    ma = members.select("rep", F.col("doc").alias("doc_a"))
    mb = members.select("rep", F.col("doc").alias("doc_b"))
    intra = (
        intra_classes.join(ma, "rep")
        .join(mb, "rep")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "jaccard")
    )
    # Cross-class: each verified rep pair fans out over both classes'
    # members.
    cross = (
        rep_pairs.join(
            members.select(F.col("rep").alias("rep_a"), F.col("doc").alias("da")),
            "rep_a",
        )
        .join(
            members.select(F.col("rep").alias("rep_b"), F.col("doc").alias("db")),
            "rep_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def exact_neardup_groups(
    docs: DataFrame,
    n: int = 1,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup groups (doc_id, group_id, group_size, is_keeper) over the
    EXACT n-gram Jaccard graph, computed on the class quotient
    (optimization round 12, guide section 8) - the exact counterpart of
    ``minhash_neardup_groups`` with the same contraction:

    1. collapse docs to one representative per distinct gram set
       (``exact_class_collapse``; empty sets stay singletons);
    2. prefix-filtered AllPairs join + exact verification over
       REPRESENTATIVES only;
    3. large-star/small-star components over the representative graph;
    4. expand members through the class map.

    Semantics are EXACTLY components over the full J >= threshold
    graph (the quotient argument in minhash_neardup_groups's
    docstring: same-class docs are mutually J=1 >= t, cross-class
    edges exist between classes iff between any members, labels are
    preserved because each rep is its class's min id) - but the
    C(c,2) intra-class edge mass of duplicate-heavy corpora is never
    materialized: components see one node per class and only verified
    cross-class edges. The old form (full pair list -> components)
    fed the iterative loop 11.58M edges at the 10x fixture where the
    quotient graph has ~45k nodes; measured 98s -> 35s there, and it
    removes the 40x fixture's 70 GB pair-verification sort spill
    entirely. Oracle: the same recursive-CTE components ground truth
    as neardup_groups_connected (value-hash checked).
    """
    from .components import connected_components

    members, rep_base = exact_class_collapse(docs, n, text_col, id_col)
    rep_pairs, _ = _prefix_verified_pairs(rep_base, threshold, None)
    comp = connected_components(
        members.select(F.col("rep").alias("id")).distinct(),
        rep_pairs,
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
