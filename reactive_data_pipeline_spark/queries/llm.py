"""LLM-data-pipeline catalog queries (SURVEY.md section 7.5): text
analysis, dedup (exact + near-dup), similarity search, multimodal.

Oracle notes: the DuckDB twins mirror the Spark expressions exactly -
same normalization, same fold order for floating point (``list_reduce``
with explicit 0.0 init == Spark ``aggregate`` with 0.0 init), ratios of
integers elsewhere - so value hashes match bit-for-bit. Hash-based and
probabilistic operators are oracle-paired by keying them on md5 (the
one hash all three engines compute identically): minhash pins vs the
exact all-pairs ground truth, simhash (round 11) and the banded
sign-LSH embedding path (round 12, md5-derived hyperplanes) have their
fingerprints/signatures recomputed by DuckDB end to end - the catalog
carries ZERO rows-only entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import multimodal
from ..dedup import (
    embedding_neardup_lsh,
    embedding_neardup_pairs,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ..functions import text as TX
from ..operators.relational import ensure_parallelism, top_k
from ..similarity import knn_brute
from ..similarity.ivf import IVF_ITERS
from ..sources import read_table
from . import register

#: Shared normalization SQL (twin of functions.text.normalize_ws).
_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _docs(spark, sf_dir):
    # Regex/shingle/hash work over documents is CPU-bound; never let a
    # single-file layout serialize it (no-op on a well-laid-out dataset).
    return ensure_parallelism(read_table(spark, sf_dir, "documents"))


def _emb(spark, sf_dir):
    return ensure_parallelism(read_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split(norm, ' ')) AS n_words,
           len(regexp_extract_all(text, '{TX.TOKEN_PATTERN}')) AS n_tokens,
           length(text) AS n_chars_obs,
           round(CAST(length(replace(norm, ' ', '')) AS DOUBLE)
                 / len(string_split(norm, ' ')), 4) AS avg_word_len
    FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents)
    """,
    tags=("text",),
    bench=True,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats, all JVM expressions (one narrow
    map, no shuffle)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.word_count("text").alias("n_words"),
        TX.token_count("text").alias("n_tokens"),
        TX.char_count("text").alias("n_chars_obs"),
        F.round(TX.avg_word_len("text"), 4).alias("avg_word_len"),
    )


def _stop_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return f"len(list_filter(string_split(norm, ' '), t -> list_contains([{lst}], t)))"


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           round(stop_ratio, 6) AS stop_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           round(least(1.0, CAST(n_words AS DOUBLE) / 50.0) * 0.5
                 + least(1.0, stop_ratio * 5.0) * 0.3
                 + (1.0 - least(1.0, punct_ratio * 10.0)) * 0.2, 6) AS quality
    FROM (
      SELECT doc_id,
             len(string_split(norm, ' ')) AS n_words,
             CAST({_stop_sql('en')} AS DOUBLE) / len(string_split(norm, ' ')) AS stop_ratio,
             CAST(len(regexp_extract_all(text, '{TX.PUNCT_CLASS}')) AS DOUBLE)
               / length(text) AS punct_ratio
      FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents)
    )
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length credit + stopword naturalness - punctuation
    noise (deterministic heuristic, functions.text.quality_score)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(TX.stopword_ratio("text"), 6).alias("stop_ratio"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        TX.quality_score("text").alias("quality"),
    )


def _lang_case_sql() -> str:
    scores = {lang: _stop_sql(lang) for lang in TX.STOPWORDS}
    best = "greatest(" + ", ".join(f"s_{l}" for l in TX.STOPWORDS) + ")"
    whens = "\n".join(f"WHEN s_{l} = best THEN '{l}'" for l in TX.STOPWORDS)
    inner = ",\n".join(f"{sql} AS s_{l}" for l, sql in scores.items())
    return f"""
    SELECT doc_id, lang,
           CASE WHEN best <= 0 THEN 'und'
                {whens}
                ELSE 'und' END AS lang_pred
    FROM (
      SELECT doc_id, lang, s_en, s_es, s_fr, s_de, {best} AS best
      FROM (SELECT doc_id, lang, {inner}
            FROM (SELECT doc_id, lang, {_NORM} AS norm FROM documents))
    )
    """


@register("lang_id_docs", oracle=_lang_case_sql(), tags=("text",))
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (argmax with fixed tie priority)."""
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", TX.lang_id("text").alias("lang_pred")
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(norm) AS fp_md5,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(norm, ''), c -> c != ''),
                              c -> CAST(ascii(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % {TX.FINGERPRINT_MOD}) AS fp_roll
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    """,
    tags=("text", "fingerprint"),
    bench=True,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digests: md5 + rolling polynomial hash (both JVM-side)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.fingerprint_md5("text").alias("fp_md5"),
        TX.fingerprint_rolling("text").alias("fp_roll"),
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    oracle=f"""
    SELECT MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies,
           md5(norm) AS fingerprint
    FROM (SELECT doc_id, {_NORM} AS norm FROM documents)
    GROUP BY norm
    """,
    tags=("dedup",),
    bench=True,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (hash-groupBy on normalized content)."""
    return exact_dedup_groups(_docs(spark, sf_dir))


@register(
    "dedup_keep_one",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             MIN(doc_id) OVER (PARTITION BY {_NORM}) AS keeper
      FROM documents
    ) WHERE doc_id = keeper
    """,
    tags=("dedup",),
)
def dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup deliverable for exact dedup: the retained corpus (one
    deterministic min-id keeper per content group via a content-keyed
    window - stable across partitionings, unlike dropDuplicates)."""
    from ..dedup import dedup_documents

    return dedup_documents(_docs(spark, sf_dir)).select("doc_id", "lang", "n_chars")


@register(
    "dup_ngram_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    starts AS (
      SELECT doc_id, len(t) AS n_tokens, i AS pos,
             md5(array_to_string(t[i:i+7], ' ')) AS gk
      FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      WHERE len(t) >= 8
    ),
    marked AS (
      SELECT doc_id, pos,
             least(8, pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
                                     pos - 8)) AS contrib
      FROM (SELECT *, COUNT(*) OVER (PARTITION BY gk) AS c FROM starts)
      WHERE c >= 2
    ),
    covered AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_starts,
             CAST(SUM(contrib) AS BIGINT) AS dup_covered_tokens
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.t) AS BIGINT) AS n_tokens,
           COALESCE(c.n_dup_starts, 0) AS n_dup_starts,
           COALESCE(c.dup_covered_tokens, 0) AS dup_covered_tokens,
           round(CAST(COALESCE(c.dup_covered_tokens, 0) AS DOUBLE)
                 / greatest(len(d.t), 1), 6) AS dup_ratio
    FROM toks d LEFT JOIN covered c ON d.doc_id = c.doc_id
    """,
    tags=("dedup", "ngram", "substring"),
)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication report (the fixed-n distributable
    form of Lee et al. 2022 suffix-array dedup): per document, how many
    8-gram starts are duplicated corpus-wide and how many token
    positions those duplicated spans cover (interval union via the
    sorted-starts lag rule). Two token-scale keyed exchanges - gram
    fingerprint, then doc_id - plus a doc-count-sized join-back; no
    self-join (dedup/substring.py)."""
    from ..dedup import duplicated_ngram_spans

    return duplicated_ngram_spans(_docs(spark, sf_dir), n=8, min_count=2)


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents)
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
               / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jac
      FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    ) WHERE jac >= 0.9
    """,
    tags=("dedup", "ngram"),
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs by token-set Jaccard (inverted-index join;
    the synthetic corpus's tiny vocabulary makes unigram sets the
    discriminative shingle here)."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=1, threshold=0.9)


@register(
    "ngram3_jaccard_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM toks
    )
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    ) WHERE jac >= 0.5
    """,
    tags=("dedup", "ngram"),
)
def ngram3_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup pairs (the classic shingle size)."""
    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.5)


@register(
    "neardup_groups_connected",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jac
        FROM (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents) a
        JOIN (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents) b
          ON a.doc_id < b.doc_id
      ) WHERE jac >= 0.9
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.u AS id, r.label
      FROM reach r JOIN edges e ON e.v = r.id
      WHERE r.label < e.u
    ),
    comp AS (SELECT id, MIN(label) AS group_id FROM reach GROUP BY id)
    SELECT id AS doc_id, group_id,
           COUNT(*) OVER (PARTITION BY group_id) AS group_size,
           id = group_id AS is_keeper
    FROM comp
    """,
    tags=("dedup", "components", "iterative"),
)
def neardup_groups_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup deliverable: connected components over exact-Jaccard
    near-dup pairs (alternating large-star/small-star contraction,
    dedup.components) vs a DuckDB recursive CTE - a distributed
    iterative graph algorithm held to a value-hash oracle.

    Optimization round 12: runs on the exact-class QUOTIENT
    (dedup.ngram.exact_neardup_groups) - identical groups (same
    recursive-CTE oracle, value-hash checked), but the components loop
    sees one node per distinct gram set and only verified cross-class
    edges instead of the full pair list, and the C(c,2) duplicate-class
    edge mass (the 40x fixture's 70 GB pair-verification sort spill)
    is never materialized. Measured 98s -> 35s at the 10x fixture."""
    from ..dedup import exact_neardup_groups

    return exact_neardup_groups(_docs(spark, sf_dir), n=1, threshold=0.9)


@register(
    "neardup_groups_minhash",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                 / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) AS jac
        FROM (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents) a
        JOIN (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents) b
          ON a.doc_id < b.doc_id
      ) WHERE jac >= 0.9
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.u AS id, r.label
      FROM reach r JOIN edges e ON e.v = r.id
      WHERE r.label < e.u
    ),
    comp AS (SELECT id, MIN(label) AS group_id FROM reach GROUP BY id)
    SELECT id AS doc_id, group_id,
           COUNT(*) OVER (PARTITION BY group_id) AS group_size,
           id = group_id AS is_keeper
    FROM comp
    """,
    tags=("dedup", "minhash", "components", "contract"),
)
def neardup_groups_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR dedup-group path a 100 TB run would actually use
    (round-7 verdict #5): same group semantics as
    ``neardup_groups_connected`` (unigram token-set Jaccard >= 0.9,
    large-star/small-star components, one keeper per group) but built
    as exact-dup collapse -> banded MinHash LSH over representatives
    -> components -> member expansion (dedup.minhash_neardup_groups).
    The exact AllPairs path is output-bound (11.58M real pairs at sf1;
    ~480 s of the sf4 wall) and raw LSH pairs are quadratic in
    exact-dup multiplicity (J=1 collides in every band); the collapsed
    form is O(docs) + O(cross-class candidates), the at-scale shape.

    Banding: 32 hashes as 8 bands x r=4 -> collision probability at
    J=0.9 is 1-(1-0.9^4)^8 ~ 0.9998 per qualifying cross-class pair;
    verification is exact Jaccard, so false positives are impossible
    and the result can differ from the exact twin only by a MISSED
    cross-class edge. The oracle is the SAME exact recursive-CTE
    components ground truth as neardup_groups_connected - a value-hash
    match certifies end-to-end recall 1.0 on the checked corpus
    (exact-dup edges are collapsed, not LSH'd, so only the rare
    0.9<=J<1 cross-class edges depend on banding at all). Components
    also tolerate missed edges inside well-connected clusters (any
    spanning connection yields the same partition), which is why the
    group deliverable is the right home for the approximate edge set."""
    from ..dedup import minhash_neardup_groups

    return minhash_neardup_groups(
        _docs(spark, sf_dir), n=1, num_hashes=32, bands=8, threshold=0.9
    )


@register(
    "minhash_neardup_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM toks
    )
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
               / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    ) WHERE jac >= 0.5
    """,
    tags=("dedup", "minhash", "lsh", "contract"),
    bench=True,
)
def minhash_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidates verified by exact Jaccard, hash-checked
    against the ALL-PAIRS exact trigram-Jaccard ground truth (round-6
    verdict #2: was rows-only). The oracle is exact; the Spark side is
    the banded-LSH pipeline - the value hash therefore matches only if
    LSH recall is exactly 1.0 AND verification emits the same rational
    jaccards, both measured true at sf0.001 and sf0.01 (28/28 and 25/25
    pairs, 0 missed, 0 false positives; deterministic xxhash64 seeds).
    minhash_recall_contract keeps the looser >=0.8 floor as the
    SF-independent gate; this entry pins the stronger pairwise identity
    at driver scale while the BENCH still times only the linear LSH
    path."""
    return minhash_lsh_pairs(_docs(spark, sf_dir), n=3, num_hashes=32, bands=8, threshold=0.5)


# SimHash under the md5 keying (dedup/simhash.py KEYINGS): 60 fingerprint
# bits from the top 15 hex chars of md5(token), so DuckDB recomputes the
# IDENTICAL fingerprints, banded candidate set, and verified pairs. The
# vote/pack levels are generated here once (60 conditional sums, then a
# sign-packed BIGINT) - nested aggregates need the two CTE levels.
_SH_BITS, _SH_BAND_BITS = 60, 15
_SH_VOTES = ",\n             ".join(
    f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}" for j in range(_SH_BITS)
)
_SH_PACK = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SH_BITS))


@register(
    "simhash_near_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
    votes AS (SELECT doc_id, {_SH_VOTES}
              FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({_SH_PACK} AS BIGINT) AS simhash FROM votes),
    fps AS (SELECT DISTINCT simhash FROM fp),
    bands AS (SELECT simhash, b,
                     (simhash >> (b * {_SH_BAND_BITS})) & {(1 << _SH_BAND_BITS) - 1} AS bv
              FROM fps, unnest([0, 1, 2, 3]) AS u(b)),
    near_fp AS (
      SELECT sh_a, sh_b FROM (
        SELECT DISTINCT a.simhash AS sh_a, b.simhash AS sh_b
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bv = b.bv AND a.simhash < b.simhash)
      WHERE bit_count(xor(sh_a, sh_b)) <= 3),
    cross_pairs AS (
      SELECT least(da.doc_id, db.doc_id) AS doc_a,
             greatest(da.doc_id, db.doc_id) AS doc_b,
             CAST(bit_count(xor(n.sh_a, n.sh_b)) AS INTEGER) AS hamming
      FROM near_fp n
      JOIN fp da ON da.simhash = n.sh_a
      JOIN fp db ON db.simhash = n.sh_b),
    within AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INTEGER) AS hamming
      FROM fp a JOIN fp b ON a.simhash = b.simhash AND a.doc_id < b.doc_id)
    SELECT * FROM cross_pairs UNION ALL SELECT * FROM within
    """,
    tags=("dedup", "simhash"),
)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 3 under the md5 keying
    (round-11: graduated from rows-only to an exact oracle - the twin
    recomputes the identical 60-bit fingerprints from md5(token), the
    same 4x15-bit banding, and the same bit_count verification, so the
    value hash pins fingerprinting, banding, AND verification)."""
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3, keying="md5")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "[CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "FOR i IN generate_series(1, len({a}))]), (acc, x) -> acc + x)"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)}))"
    )


def _lloyd_sql(seed: str, iters: int) -> str:
    """Unrolled chained-CTE twin of ``similarity.centroid.lloyd`` (the
    pagerank_copurchase pattern for iterative ML), ``iters`` rounds from
    the ``seed`` query's (vec_id, label, embedding) rows. Defines
    ``lloyd_assign(vec_id, cl, cos)``, the last round's assignment, and
    ``lloyd_codebook(cl, cvec)``, the codebook it was assigned against.
    Exactness is by the same two rules every round: centroid component
    means via e12-scaled integer sums (order-independent), assignments
    via cosines ROUNDED to 6 decimals with a label-ascending tie-break -
    so both engines walk the identical centroid trajectory."""
    ctes = [
        f"seed AS ({seed})",
        "comp AS (SELECT vec_id, label, pos, CAST(embedding[pos] AS DOUBLE) AS v"
        " FROM (SELECT vec_id, label, embedding,"
        " unnest(generate_series(1, len(embedding))) AS pos FROM seed))",
        "c0 AS (SELECT label, pos,"
        " CAST(SUM(CAST(CAST(v AS DECIMAL(20,12)) * 1000000000000 AS BIGINT))"
        " AS DOUBLE) / (COUNT(*) * 1e12) AS c"
        " FROM comp GROUP BY label, pos)",
        "v0 AS (SELECT label AS cl, list(c ORDER BY pos) AS cvec FROM c0 GROUP BY label)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"s{i} AS (SELECT e.vec_id, c.cl,"
            f" round({_cos_sql('e.embedding', 'c.cvec')}, 6) AS cos"
            f" FROM seed e CROSS JOIN v{i - 1} c)"
        )
        ctes.append(
            f"a{i} AS (SELECT vec_id, cl, cos FROM ("
            f"SELECT vec_id, cl, cos, ROW_NUMBER() OVER"
            f" (PARTITION BY vec_id ORDER BY cos DESC, cl) AS rn FROM s{i})"
            f" WHERE rn = 1)"
        )
        if i < iters:
            ctes.append(
                f"c{i} AS (SELECT a.cl AS label, comp.pos,"
                f" CAST(SUM(CAST(CAST(comp.v AS DECIMAL(20,12)) * 1000000000000"
                f" AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e12) AS c"
                f" FROM comp JOIN a{i} AS a USING (vec_id)"
                f" GROUP BY a.cl, comp.pos)"
            )
            ctes.append(
                f"v{i} AS (SELECT label AS cl, list(c ORDER BY pos) AS cvec"
                f" FROM c{i} GROUP BY label)"
            )
    ctes.append(f"lloyd_assign AS (SELECT * FROM a{iters})")
    ctes.append(f"lloyd_codebook AS (SELECT * FROM v{iters - 1})")
    return ",\n".join(ctes)


def _lsh_keys_sql(bands: int, bits: int) -> str:
    """CTEs ``planes``, ``quant`` and ``keys(id, bk)``: the DuckDB twin of
    ``dedup.embedding.sign_keys`` over the embeddings table, ``bands`` x
    ``bits`` md5-derived integer hyperplanes over 64 dims. Plane
    component c = the sum over j = 0..3 of
    int(md5('plane:band:bit:i:j')[:5 hex]) minus 2^21, vector component
    q = floor(double(x) * 2^20), bucket bit ``bit`` set iff the integer
    dot SUM(q * c) > 0, and bk = band * 2^bits + bucket. Both engines
    take that dot in float64 (Spark a numpy matmul, DuckDB
    list_dot_product over DOUBLE[] casts), which is exact in any
    summation order while max|x| * dim < 4096: |q * c| <= max|x| * 2^41,
    so every product and partial sum stays below 2^53. DuckDB therefore
    regenerates the IDENTICAL keys."""
    return f"""
    planes AS (
      SELECT band, bit, list(c ORDER BY i) AS c FROM (
        SELECT band, bit, i,
               SUM(CAST(('0x' || substring(md5('plane:' || band || ':' || bit
                   || ':' || i || ':' || j), 1, 5)) AS BIGINT)) - 2097152 AS c
        FROM range({bands}) gb(band), range({bits}) gt(bit), range(64) gi(i), range(4) gj(j)
        GROUP BY band, bit, i
      ) GROUP BY band, bit
    ),
    quant AS (
      SELECT vec_id AS id,
             [CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT) FOR x IN embedding] AS q
      FROM embeddings
    ),
    keys AS (
      SELECT e.id, CAST(p.band AS BIGINT) * {1 << bits}
               + CAST(SUM(CASE WHEN list_dot_product(CAST(e.q AS DOUBLE[]), CAST(p.c AS DOUBLE[])) > 0
                          THEN CAST(1 AS BIGINT) << p.bit ELSE 0 END) AS BIGINT) AS bk
      FROM quant e CROSS JOIN planes p
      GROUP BY e.id, p.band
    )"""


@register(
    "knn_brute_cosine",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(cos, 6) AS cos_sim FROM (
      SELECT e.vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos
      FROM embeddings e, q WHERE e.vec_id <> 0
    ) ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    tags=("similarity",),
    bench=True,
)
def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors of vec_id=0 (the dense Arrow kernel
    with one query, then TakeOrderedAndProject; see similarity.dense)."""
    return knn_brute(read_table(spark, sf_dir, "embeddings"), query_id=0, k=10)


@register(
    "knn_batch_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 100 = 0),
    s AS (SELECT q.query_id, e.vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos
          FROM embeddings e, q WHERE e.vec_id <> q.query_id)
    SELECT query_id, vec_id, round(cos, 6) AS cos_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 6) DESC, vec_id) AS INT)
             AS rank
    FROM s
    QUALIFY rank <= 10
    """,
    tags=("similarity", "batch"),
)
def knn_batch_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: exact top-10 per query for the whole query set
    (every 100th vector). The query block is collected at build time,
    one Arrow pass scores the corpus and keeps per-batch candidates, and
    a row_number ranks only those - see similarity.dense."""
    from ..similarity import knn_batch

    emb = read_table(spark, sf_dir, "embeddings")
    return knn_batch(emb, emb.filter(F.col("vec_id") % 100 == 0), k=10)


@register(
    "embedding_quantize_stats",
    oracle="""
    SELECT vec_id,
           round(scale, 6) AS scale,
           round(list_max(list_transform(emb,
                 x -> abs(x - floor(x / scale + 0.5) * scale))), 6) AS max_err
    FROM (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
               AS scale
      FROM embeddings
    )
    WHERE scale > 0
    """,
    tags=("similarity", "quantization"),
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization audit: per-vector scale (max|x|/127)
    and max reconstruction error - the 4x-memory-reduction preprocessing
    step for ANN serving, held to a cross-engine oracle through the
    whole round-trip arithmetic. Pure per-row HOF expressions, zero
    shuffle."""
    from ..functions.vectors import quantize_error, quantize_scale

    e = _emb(spark, sf_dir)
    scale = quantize_scale("embedding", bits=8)
    return (
        e.select(
            "vec_id",
            scale.alias("__s"),
            quantize_error("embedding", scale).alias("__e"),
        )
        .filter(F.col("__s").isNotNull())
        .select(
            "vec_id",
            F.round("__s", 6).alias("scale"),
            F.round("__e", 6).alias("max_err"),
        )
    )


def _knn_rank_contract(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Rank-overlap contract between an approximate top-10 and the exact
    brute-force top-10 (both (vec_id, cos_sim round-6), total order cos
    DESC, vec_id ASC), one row: the exact leg's count and id checksum,
    the approximate leg's count and rank-1 (id, cos), and the overlap
    counts @10 and @5. Every value is recomputed by the oracle
    (``_knn_contract_sql``); recall floors live in the tests at the
    check SFs. Every aggregate runs on a <=10-row TakeOrdered result; no
    windows.

    Both inputs are eagerly localCheckpointed first: the contract fans
    each into 3-4 plan branches (stats, top-1, two overlap joins), and
    without the checkpoint every branch re-executes the full ANN/brute
    subplan (measured 1.5s -> ~0.6s at sf0.1 for the LSH contract);
    checkpointing 10-row frames costs two tiny jobs."""
    approx = approx.localCheckpoint(eager=True)
    exact = exact.localCheckpoint(eager=True)
    order = [F.desc("cos_sim"), F.asc("vec_id")]
    ex_stats = exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum("vec_id").cast("long").alias("exact_id_sum"),
    )
    ap_stats = approx.agg(
        F.count(F.lit(1)).cast("long").alias("n_approx"),
        F.max_by(
            "vec_id", F.struct(F.col("cos_sim"), (-F.col("vec_id")).alias("nid"))
        )
        .cast("long")
        .alias("top1_id"),
        F.max("cos_sim").alias("top1_cos"),
    )
    h10 = approx.join(exact, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("overlap10")
    )
    h5 = (
        top_k(approx, order, 5)
        .join(top_k(exact, order, 5), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap5"))
    )
    return (
        ex_stats.crossJoin(F.broadcast(ap_stats))
        .crossJoin(F.broadcast(h10))
        .crossJoin(F.broadcast(h5))
        .select(
            "n_exact",
            "exact_id_sum",
            "top1_id",
            "top1_cos",
            "n_approx",
            "overlap10",
            "overlap5",
        )
    )


def _knn_contract_sql(ctes: str) -> str:
    """Oracle of :func:`_knn_rank_contract` for query vector 0: ``ctes``
    defines ``scored(vec_id, cos, hit)`` over every other row, ``hit``
    marking the rows the approximate method ranks."""
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    {ctes},
    ranked AS (SELECT vec_id, round(cos, 6) AS cos_sim, hit FROM scored),
    exact AS (SELECT vec_id, cos_sim FROM ranked
              ORDER BY cos_sim DESC, vec_id LIMIT 10),
    approx AS (SELECT vec_id, cos_sim FROM ranked WHERE hit
               ORDER BY cos_sim DESC, vec_id LIMIT 10),
    exact5 AS (SELECT vec_id FROM exact ORDER BY cos_sim DESC, vec_id LIMIT 5),
    approx5 AS (SELECT vec_id FROM approx ORDER BY cos_sim DESC, vec_id LIMIT 5)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(SUM(vec_id) AS BIGINT) FROM exact) AS exact_id_sum,
           (SELECT CAST(vec_id AS BIGINT) FROM approx
            ORDER BY cos_sim DESC, vec_id LIMIT 1) AS top1_id,
           (SELECT MAX(cos_sim) FROM approx) AS top1_cos,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM approx) AS n_approx,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM approx
            WHERE vec_id IN (SELECT vec_id FROM exact)) AS overlap10,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM approx5
            WHERE vec_id IN (SELECT vec_id FROM exact5)) AS overlap5
    """


@register(
    "knn_ivf_cosine",
    oracle=_knn_contract_sql(f"""
    {_lloyd_sql(
        "SELECT vec_id, CAST(('0x' || substring(md5('cell:' || vec_id), 1, 8))"
        " AS BIGINT) % 16 AS label, embedding FROM embeddings",
        IVF_ITERS,
    )},
    probe AS (SELECT c.cl FROM lloyd_codebook c, q
              ORDER BY {_cos_sql('c.cvec', 'q.qv')} DESC, c.cl LIMIT 4),
    scored AS (
      SELECT e.vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos,
             a.cl IN (SELECT cl FROM probe) AS hit
      FROM embeddings e JOIN lloyd_assign a USING (vec_id), q
      WHERE e.vec_id <> 0
    )"""),
    tags=("similarity", "ivf", "contract"),
)
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted-file) approximate top-10 - scan only the 4
    of 16 cells nearest the query - restated as a rank-overlap contract
    vs the exact brute top-10 (round-6 verdict #2: the raw bucket
    contents were a rows-only check; this form is hash-checked). The
    quantizer is the DETERMINISTIC decimal-exact Lloyd loop seeded by
    ``md5('cell:' || vec_id)`` (similarity/ivf.py), so the oracle
    recomputes its 2 rounds, the probe cells (unrounded centroid cosine
    descending, then cell ascending) and the approximate top-10. No
    recall floor: on this uniform-sphere corpus the IVF overlaps are
    seed luck (ENGINEERING.md records them per SF). Both legs come from
    ONE scoring pass: ``knn_ivf_and_brute`` checkpoints the (id, cos,
    cell) relation once."""
    from ..similarity import knn_ivf_and_brute

    emb = _emb(spark, sf_dir)
    approx, exact = knn_ivf_and_brute(emb, query_id=0, k=10, n_cells=16, nprobe=4)
    return _knn_rank_contract(approx, exact)


@register(
    "knn_lsh_cosine",
    oracle=_knn_contract_sql(f"""
    {_lsh_keys_sql(1, 4)},
    scored AS (
      SELECT e.vec_id, {_cos_sql('e.embedding', 'q.qv')} AS cos,
             bit_count(xor(k.bk, qk.bk)) <= 2 AS hit
      FROM embeddings e JOIN keys k ON k.id = e.vec_id,
           q, (SELECT bk FROM keys WHERE id = 0) qk
      WHERE e.vec_id <> 0
    )"""),
    tags=("similarity", "lsh", "contract"),
    bench=True,
)
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-10 (one band of 4 md5 integer planes,
    radius-2 multi-probe: few planes + wide probing because this corpus's
    neighbors are weak, cosine <= ~0.5), restated as a rank-overlap
    contract vs the exact brute top-10 (round-6 verdict #2). The buckets
    are ``dedup.embedding.sign_keys``, exact integer arithmetic, so the
    oracle recomputes every bucket and the approximate top-10; recall
    floors (overlap@10 >= 7, @5 >= 4) are tests at the check SFs. Still
    benched: the timed work is the LSH path plus the O(N) brute twin -
    the plan you run when validating an ANN index build. Both legs come
    from ONE Arrow pass (``knn_lsh_and_brute``): each row's exact cosine
    and bucket-match flag, checkpointed once, both top-ks reading it."""
    from ..similarity import knn_lsh_and_brute

    emb = _emb(spark, sf_dir)
    approx, exact = knn_lsh_and_brute(
        emb, query_id=0, k=10, num_planes=4, probe_radius=2
    )
    return _knn_rank_contract(approx, exact)


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    SELECT vec_a, vec_b, round(cos, 6) AS cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_cos_sql('a.embedding', 'b.embedding')} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ) WHERE cos >= 0.45
    """,
    tags=("dedup", "similarity"),
)
def embedding_neardup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs. All-pairs O(N^2) BY
    DESIGN: the oracle-checkable ground truth and the recall yardstick
    for the scale path ``embedding_neardup_lsh`` (which IS benched;
    this one is deliberately NOT a bench headline - at 100x rows it is
    10,000x work - it exists as sf-scale ground truth and feeds
    embedding_recall_contract's oracle-recomputed recall gate)."""
    return embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.45)


@register(
    "embedding_neardup_lsh",
    oracle=f"""
    WITH {_lsh_keys_sql(32, 8)},
    filt AS (SELECT id, bk FROM keys QUALIFY count(*) OVER (PARTITION BY bk) <= 64),
    cand AS (SELECT DISTINCT a.id AS vec_a, b.id AS vec_b
             FROM filt a JOIN filt b ON a.bk = b.bk AND a.id < b.id)
    SELECT vec_a, vec_b, round(cos, 6) AS cos_sim FROM (
      SELECT c.vec_a, c.vec_b, {_cos_sql('ea.embedding', 'eb.embedding')} AS cos
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
    ) WHERE cos >= 0.45
    """,
    tags=("dedup", "similarity", "lsh"),
    bench=True,
)
def embedding_neardup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded sign-LSH embedding near-dup (the scale path that the bench
    headlines) with a full exact oracle: band keys come from md5-derived
    integer hyperplanes over vectors quantized as floor(x * 2^20), one
    numpy matmul per Arrow batch that is exact in any summation order,
    so DuckDB recomputes the identical signatures (integer SUM(q*c) > 0
    per bit), banded candidate set, AND exact-cosine verification; the
    value hash pins the whole pipeline. Recall is gated by
    embedding_recall_contract, which runs the same signature path.

    ``max_bucket=64`` is the round-6 scale guard: at the check/bench
    SFs every (band, bucket) group is far below the cap so the output
    is bit-identical to exhaustive banding (pinned in
    tests/test_dedup_similarity.py), while at 10-40x volume - where the
    8-bit key space saturates and uncapped banding degenerates to ~N^2
    candidates (measured: 70 GB of sort spill at 80k vectors) - the
    cap bounds candidates at ~N*bands*cap/2. See the operator docstring
    for the bits~log2(N) deployment sizing rule."""
    return embedding_neardup_lsh(_emb(spark, sf_dir), threshold=0.45, max_bucket=64)


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "mm_payload_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS media_type,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256_hex
    FROM documents
    """,
    tags=("multimodal",),
)
def mm_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads (JVM-side)."""
    return multimodal.payload_meta(_docs(spark, sf_dir))


@register(
    "mm_decode",
    oracle="""
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(NULL AS INTEGER) AS width,
           CAST(NULL AS INTEGER) AS height,
           CAST(NULL AS INTEGER) AS channels,
           CAST(NULL AS INTEGER) AS sample_rate,
           octet_length(encode(text)) AS n_bytes,
           TRUE AS ok,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    """,
    tags=("multimodal", "pandas_udf", "decode"),
)
def mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pluggable media decode (default stdlib header probe) over the
    corpus payloads. UTF-8 text payloads identify as text/plain with
    no image/audio fields - deterministic, hence a full SQL oracle;
    the image/audio header paths are pinned by constructed-payload
    tests (tests/test_text_multimodal.py)."""
    return multimodal.decode_media(_docs(spark, sf_dir))


@register(
    "mm_resize",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             list_transform(range(0, 64),
               k -> CASE
                      WHEN (2*(k//8)+1)*16 + (2*(k%8)+1)
                           < length(coalesce(text, ''))
                      THEN unicode(coalesce(text, '')[CAST(
                             (2*(k//8)+1)*16 + (2*(k%8)+1) + 1 AS INT)]) % 256
                      ELSE 0
                    END) AS vals
      FROM documents
    )
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           md5(list_aggregate(list_transform(vals,
                 v -> CAST(v AS VARCHAR)), 'string_agg', ',')) AS pixel_md5_hex,
           CAST(list_sum(vals) AS BIGINT) AS pixel_sum
    FROM px
    """,
    tags=("multimodal", "codec", "pandas_udf"),
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-REAL resize under the value hash (round-10; previously the
    byte stand-in, rows-only). Each document's first 256 code points
    (mod 256, zero-padded - the mm_codec_roundtrip synthesis at 16x16)
    become a grayscale PNG on the executors, with the scanline filter
    chosen by ``doc_id % 5`` so all five filters feed the resizer
    across the corpus. The payload then takes the REAL catalog resize
    path - :func:`multimodal.resize_media` with
    :func:`multimodal.pixel_aware_resizer` (PNG pixel decode ->
    nearest-neighbor 16x16 -> 8x8 -> PNG re-encode) - and the output
    PNG is decoded back to pixels for the invariant: decoded dims plus
    md5 over the comma-joined pixel values.

    The oracle recomputes the exact resized pixels straight from the
    text, never touching the codecs: nearest-neighbor with the
    pixel-center mapping ``src = floor((dst + 0.5) * 16 / 8) = 2*dst+1``
    (media_codecs.resize_nearest, PIL NEAREST convention), so output
    pixel k reads source byte ``(2*(k//8)+1)*16 + (2*(k%8)+1)``. A
    convention error anywhere in encode -> filter -> decode -> sample
    -> re-encode -> decode breaks the hash. Same ASCII pin as
    mm_codec_roundtrip (both engines index CHARACTERS; corpus verified
    pure ASCII at the check SFs).

    Scale shape: embarrassingly parallel 1->1 Arrow map over one scan,
    no shuffle, bounded per-row cost (256 px in / 64 px out) - the
    plan a 100 TB thumbnailing pass would use.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from ..media_codecs import png_decode, png_encode

    def synth(batches):
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                cps = [ord(c) % 256 for c in (text or "")[:256]]
                arr = np.zeros(256, dtype=np.uint8)
                arr[: len(cps)] = cps
                payloads.append(
                    png_encode(arr.reshape(16, 16, 1),
                               filter_type=int(doc_id) % 5)
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "payload": payloads}
            )

    imgs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    resized = multimodal.resize_media(
        imgs,
        width=8,
        height=8,
        resizer=multimodal.pixel_aware_resizer,
        payload_col="payload",
    )

    def digest(batches):
        for batch in batches:
            if not len(batch):
                continue
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, _c, px = png_decode(bytes(payload))
                flat = px.reshape(-1)
                csv = ",".join(str(int(v)) for v in flat)
                rows.append(
                    (int(doc_id), int(w), int(h),
                     hashlib.md5(csv.encode()).hexdigest(), int(flat.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height",
                         "pixel_md5_hex", "pixel_sum"],
            )

    return resized.mapInPandas(
        digest,
        schema=(
            "doc_id long, width int, height int, "
            "pixel_md5_hex string, pixel_sum long"
        ),
    )


@register(
    "mm_resize_digest",
    oracle="""
    SELECT doc_id,
           md5(rpad(substring(hex(encode(text)), 1, 512), 512, '0'))
             AS payload_md5_hex,
           CAST(256 AS INTEGER) AS n_bytes,
           CAST(16 AS INTEGER) AS width,
           CAST(16 AS INTEGER) AS height
    FROM documents
    """,
    tags=("multimodal", "pandas_udf", "digest"),
)
def mm_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize plumbing under the VALUE-HASH gate: run the real
    Arrow ``mapInPandas`` resize path (truncate/zero-pad to 16x16
    bytes), then digest each output payload as md5-of-hex - a string
    both engines compute identically (hex uppercase, md5 lowercase in
    Spark and DuckDB), so the oracle independently reconstructs the
    exact padded bytes from the source text and the binary payload
    contents are hash-checked, not just row counts. Upgrades the
    mm_resize family from the rows-only check."""
    resized = multimodal.resize_media(_docs(spark, sf_dir), width=16, height=16)
    return resized.select(
        "doc_id",
        F.md5(F.hex("payload")).alias("payload_md5_hex"),
        F.length("payload").cast("int").alias("n_bytes"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH base AS (
      SELECT doc_id, coalesce(text, '') AS t,
             GREATEST(1, LEAST(16,
               CAST(ceil(length(coalesce(text, '')) / 64.0) AS INT))) AS nf
      FROM documents
    ),
    fr AS (
      SELECT doc_id, t, CAST(fi AS INT) AS frame_idx
      FROM base, unnest(generate_series(0, nf - 1, 2)) AS u(fi)
    ),
    px AS (
      SELECT doc_id, frame_idx,
             list_transform(range(0, 256), j -> CASE
                 WHEN j % 4 = 3 THEN 255
                 WHEN (CASE WHEN (j // 4) < 32
                            THEN 64 * frame_idx + (j // 4)
                            ELSE (j // 4) END) < length(t)
                 THEN unicode(t[CAST((CASE WHEN (j // 4) < 32
                                           THEN 64 * frame_idx + (j // 4)
                                           ELSE (j // 4) END) + 1 AS INT)]) % 256
                 ELSE 0 END) AS vals
      FROM fr
    )
    SELECT doc_id, frame_idx,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(4 AS INTEGER) AS channels,
           md5(list_aggregate(list_transform(vals,
                 v -> CAST(v AS VARCHAR)), 'string_agg', ',')) AS pixel_md5_hex,
           CAST(list_sum(vals) AS BIGINT) AS pixel_sum
    FROM px
    """,
    tags=("multimodal", "codec", "pandas_udf"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-REAL keyframe sampling under the value hash (round-11; the
    mm_resize treatment applied to the 1->N shape, previously the
    raw-binary rows-only twin of mm_frame_digest).

    Each document becomes an ANIMATED GIF89a on the executors
    (media_codecs.gif_encode_animation): an 8x8 256-gray canvas whose
    frame 0 paints the full canvas with the doc's first 64 code points
    (mod 256, zero-padded) and whose frame f >= 1 paints only the TOP
    HALF (8x4) with code points [64f, 64f+32) - so every composited
    frame after the first mixes its own window (top) with frame 0's
    persisted bottom half, making the spec's disposal composition
    load-bearing, not decorative. Frame count = max(1, ceil(len/64))
    capped at 16 (bounded per-row cost; the oracle caps identically).

    The payload then takes the REAL catalog path -
    :func:`multimodal.sample_frames` with
    :func:`multimodal.gif_aware_frame_sampler` (GIF frame-by-frame
    decode with disposal composition -> every 2nd composited RGBA
    frame PNG-encoded) - and each sampled frame is decoded back to
    pixels for the invariant: dims, channels, md5 over the
    comma-joined flat RGBA values, and their sum. The oracle
    recomputes the exact composited pixels straight from the text
    (pixel p of frame f reads code point 64f+p for p < 32, else p;
    alpha 255), so a convention error anywhere in LZW encode -> GCE
    parse -> composition -> PNG re-encode -> decode breaks the hash.
    Same ASCII pin as mm_resize/mm_codec_roundtrip.

    Scale shape: embarrassingly parallel 1->N Arrow flatMap over one
    scan, no shuffle, bounded per-row cost (<= 16 frames x 64 px) -
    the plan a 100 TB video-keyframe pass would use.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from ..media_codecs import gif_encode_animation, png_decode

    gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)

    def synth(batches):
        for batch in batches:
            if not len(batch):
                continue
            payloads = []
            for text in batch["text"]:
                cps = [ord(c) % 256 for c in (text or "")]
                n_frames = max(1, min(16, (len(cps) + 63) // 64))

                def window(start, count):
                    arr = np.zeros(count, dtype=np.uint8)
                    seg = cps[start : start + count]
                    arr[: len(seg)] = seg
                    return arr

                blocks = [{"grid": window(0, 64).reshape(8, 8)}]
                for f in range(1, n_frames):
                    blocks.append({"grid": window(64 * f, 32).reshape(4, 8)})
                payloads.append(gif_encode_animation(blocks, 8, 8, gray))
            yield pd.DataFrame({"doc_id": batch["doc_id"], "payload": payloads})

    imgs = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(synth, schema="doc_id long, payload binary")
    )
    frames = multimodal.sample_frames(
        imgs,
        frame_bytes=64,
        every_n=2,
        sampler=multimodal.gif_aware_frame_sampler,
        payload_col="payload",
    )

    def digest(batches):
        for batch in batches:
            if not len(batch):
                continue
            rows = []
            for doc_id, frame_idx, payload in zip(
                batch["doc_id"], batch["frame_idx"], batch["frame_payload"]
            ):
                w, h, c, px = png_decode(bytes(payload))
                flat = px.reshape(-1)
                csv = ",".join(str(int(v)) for v in flat)
                rows.append(
                    (int(doc_id), int(frame_idx), int(w), int(h), int(c),
                     hashlib.md5(csv.encode()).hexdigest(), int(flat.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height",
                         "channels", "pixel_md5_hex", "pixel_sum"],
            )

    return frames.mapInPandas(
        digest,
        schema=(
            "doc_id long, frame_idx int, width int, height int, "
            "channels int, pixel_md5_hex string, pixel_sum long"
        ),
    )


@register(
    "mm_frame_digest",
    oracle="""
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    idx AS (
      SELECT doc_id, hx,
             unnest(generate_series(0, CAST(ceil(n / 64.0) AS INT) - 1, 4))
               AS frame_idx
      FROM h
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           md5(substring(hx, frame_idx * 128 + 1, 128)) AS frame_md5_hex,
           CAST(len(substring(hx, frame_idx * 128 + 1, 128)) / 2 AS BIGINT)
             AS n_bytes
    FROM idx
    """,
    tags=("multimodal", "pandas_udf", "digest"),
)
def mm_frame_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyframe-sampling plumbing under the VALUE-HASH gate (the
    mm_resize_digest pattern for the 1->N flatMap shape): run the real
    Arrow ``mapInPandas`` sampler (every 4th 64-byte frame), digest
    each emitted frame as md5-of-hex; the oracle reconstructs the exact
    frame bytes by hex-slicing the source text, so frame boundaries,
    the short tail frame, and the 1->N row explosion are all
    hash-checked."""
    frames = multimodal.sample_frames(_docs(spark, sf_dir), frame_bytes=64, every_n=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5(F.hex("frame_payload")).alias("frame_md5_hex"),
        "n_bytes",
    )


@register(
    "mm_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_filter(string_split(text, ''), c -> c != ''),
                                 c -> CAST(ascii(c) AS BIGINT))),
                (a, x) -> a + x) % 997 AS BIGINT) AS byte_sum_mod,
           lower(substring(hex(encode(text)), 1, 8)) AS head_hex
    FROM documents
    """,
    tags=("multimodal", "pandas_udf"),
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over payloads
    (deterministic byte-level stand-in features; a real embedding model
    plugs in via ``feature_fn``). UPGRADED from rows-only: the features
    (byte length, byte-sum mod 997, head bytes hex) are reconstructible
    from the source text in SQL (the corpus is ASCII, so per-char ascii
    == per-byte value - the doc_fingerprints precedent), putting the
    whole Arrow batch path under the driver's value hash."""
    return multimodal.extract_features(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Chunking / packing / splits (training-data prep)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE, _OVER = 32, 24, 8


@register(
    "chunk_docs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(
               0, CAST(greatest(ceil((len(t) - {_OVER}) / {_STRIDE}.0), 1) AS INT) - 1
             )) AS chunk_idx
      FROM toks
    )
    SELECT doc_id, chunk_idx,
           len(t[chunk_idx * {_STRIDE} + 1 : chunk_idx * {_STRIDE} + {_CHUNK}]) AS n_tokens,
           array_to_string(t[chunk_idx * {_STRIDE} + 1 : chunk_idx * {_STRIDE} + {_CHUNK}], ' ')
             AS chunk_text
    FROM idx
    """,
    tags=("text", "chunking"),
    bench=True,
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, 8 overlap):
    1->N explode of slice indexes, all JVM (functions.chunking)."""
    from ..functions.chunking import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=_CHUNK, overlap=_OVER)


@register(
    "pack_chunk_bins",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    idx AS (
      SELECT doc_id, t,
             unnest(generate_series(
               0, CAST(greatest(ceil((len(t) - {_OVER}) / {_STRIDE}.0), 1) AS INT) - 1
             )) AS chunk_idx
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, chunk_idx,
             len(t[chunk_idx * {_STRIDE} + 1 : chunk_idx * {_STRIDE} + {_CHUNK}]) AS n_tokens
      FROM idx
    )
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY doc_id % 32
             ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 128.0) AS BIGINT)
             * 32 + (doc_id % 32) AS bin_id
    FROM chunks
    """,
    tags=("text", "chunking", "packing"),
)
def pack_chunk_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: running-token-sum bin assignment (~128 tokens/
    bin) - the window-function form of first-fit that distributes (one
    sort), bounded overflow per bin."""
    from ..functions.chunking import chunk_documents, pack_bins

    chunks = chunk_documents(_docs(spark, sf_dir), chunk_tokens=_CHUNK, overlap=_OVER)
    return pack_bins(chunks.drop("chunk_text"), bin_tokens=128)


@register(
    "train_val_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 10 < 9 THEN 'train' ELSE 'val' END AS split
    FROM documents
    """,
    tags=("text", "split"),
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val split by key residue - reproducible
    across engines/runs/partitionings (production uses a salted hash
    residue the same way; modulo keeps the oracle engine-portable)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 9, "train").otherwise("val").alias("split"),
    )


@register(
    "training_data_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, text, norm,
             round(least(1.0, CAST(len(string_split(norm, ' ')) AS DOUBLE) / 50.0) * 0.5
                   + least(1.0, (CAST({_stop_sql('en')} AS DOUBLE)
                                 / len(string_split(norm, ' '))) * 5.0) * 0.3
                   + (1.0 - least(1.0, (CAST(len(regexp_extract_all(text, '{TX.PUNCT_CLASS}')) AS DOUBLE)
                                        / length(text)) * 10.0)) * 0.2, 6) AS quality
      FROM (SELECT doc_id, text, {_NORM} AS norm FROM documents)
    ),
    kept AS (
      -- lang_id == 'en': the en score is positive and >= every other
      -- language's (en is first in the tie-priority order)
      SELECT doc_id, norm FROM (
        SELECT doc_id, norm, quality,
               {_stop_sql('en')} AS s_en, {_stop_sql('es')} AS s_es,
               {_stop_sql('fr')} AS s_fr, {_stop_sql('de')} AS s_de
        FROM scored
      )
      WHERE quality >= 0.5 AND s_en > 0
        AND s_en = greatest(s_en, s_es, s_fr, s_de)
    ),
    dedup AS (
      SELECT doc_id, norm FROM (
        SELECT doc_id, norm, MIN(doc_id) OVER (PARTITION BY norm) AS keeper FROM kept
      ) WHERE doc_id = keeper
    ),
    toks AS (SELECT doc_id, string_split(norm, ' ') AS t FROM dedup),
    chunks AS (
      SELECT doc_id, chunk_idx,
             len(t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS n_tokens
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(
                 0, CAST(greatest(ceil((len(t) - 8) / 24.0), 1) AS INT) - 1)) AS chunk_idx
        FROM toks
      )
    )
    SELECT doc_id, chunk_idx, n_tokens,
           CAST(floor(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY doc_id % 32
             ORDER BY doc_id, chunk_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 128.0) AS BIGINT)
             * 32 + (doc_id % 32) AS bin_id
    FROM chunks
    """,
    tags=("text", "pipeline", "dedup", "chunking"),
    bench=True,
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data prep flow as ONE declarative plan -
    quality filter -> English filter -> exact dedup keep-one -> token
    chunking -> sequence packing - so Catalyst fuses the text scoring
    into a single scan-side stage, the dedup is the only wide shuffle
    before the packing sort, and every stage stays oracle-checkable.
    (The near-dup LSH stage would slot between dedup and chunking; its
    hash buckets have no SQL twin, so this composed query keeps the
    exact-dedup form.)"""
    return _training_pipeline_packed(spark, sf_dir)


def _training_pipeline_packed(
    spark: SparkSession, sf_dir: str, keep_bucket: bool = False
) -> DataFrame:
    """The shared quality->lang->dedup->chunk->pack build;
    ``keep_bucket=True`` exposes the pack bucket for downstream
    bucket-decomposable aggregation (training_shards_manifest)."""
    from ..functions.chunking import chunk_documents, pack_bins

    d = _docs(spark, sf_dir)
    from ..dedup.exact import dedup_documents

    # evaluate_once: quality/lang re-tokenize per reference inside a raw
    # Filter predicate (no CSE there); the Generate barrier scores each
    # doc exactly once. A/B at sf1: 3.66s -> 1.45s for this stage.
    from ..operators.relational import evaluate_once

    scored = evaluate_once(
        d, {"__q": TX.quality_score("text"), "__l": TX.lang_id("text")}
    )
    kept = scored.filter(
        (F.col("__q") >= 0.5) & (F.col("__l") == "en")
    ).select(*d.columns)
    # One shuffle keyed on the normalized content (min-over-window
    # keeper); the old agg + semi-join form shuffled twice and scored
    # the text in both branches - A/B at sf0.1: 2.3s -> 1.5s.
    deduped = dedup_documents(kept)
    chunks = chunk_documents(deduped, chunk_tokens=32, overlap=8).drop("chunk_text")
    return pack_bins(chunks, bin_tokens=128, keep_bucket=keep_bucket)


@register(
    "minhash_dedup_groups",
    oracle=f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM toks
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
        FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      ) WHERE jac >= 0.5
    ),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (
      SELECT doc_id AS id, doc_id AS label FROM documents
      UNION
      SELECT e.u AS id, r.label
      FROM reach r JOIN edges e ON e.v = r.id
      WHERE r.label < e.u
    ),
    comp AS (SELECT id, MIN(label) AS group_id FROM reach GROUP BY id)
    SELECT id AS doc_id, group_id,
           COUNT(*) OVER (PARTITION BY group_id) AS group_size,
           id = group_id AS is_keeper
    FROM comp
    """,
    tags=("dedup", "minhash", "components", "contract"),
)
def minhash_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale dedup-group pipeline: MinHash+LSH candidate pairs
    (verified by exact Jaccard) -> connected components -> one keeper
    per group, hash-checked against a DuckDB recursive-CTE components
    oracle over the EXACT trigram-Jaccard >= 0.5 edge set (round-6
    verdict #2: was rows-only). Matches only because LSH recall is
    exactly 1.0 at the check SFs (measured, see minhash_neardup_pairs)
    - so the approximate pipeline's group structure is pinned to the
    exact ground truth's; neardup_groups_connected keeps the
    SF-independent exact-edges variant."""
    from ..dedup import minhash_lsh_pairs, neardup_groups

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.5)
    return neardup_groups(docs, pairs)


@register(
    "minhash_recall_contract",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM toks
    ),
    exact AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS no_false_positives,
           TRUE AS meets_recall_floor
    FROM exact
    """,
    tags=("dedup", "minhash", "contract"),
)
def minhash_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash+LSH dedup quality gate as a hash-checked query (the
    knn contracts' pattern for the text path): run the banded LSH
    pipeline AND the exact trigram-Jaccard ground truth, emit the exact
    pair count (oracle-recomputable!) plus zero-false-positive and
    recall >= 0.8 booleans. Measured recall with these seeds is 1.0 at
    sf0.001/sf0.01 - near-dups in this corpus sit far above the 0.5
    banding knee."""
    docs = _docs(spark, sf_dir)
    lsh = minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("__n_lsh"))
    n_hit = lsh.join(exact, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("__hits")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_exact_pairs",
            (F.col("__hits") == F.col("__n_lsh")).alias("no_false_positives"),
            (
                F.col("__hits") >= F.lit(0.8) * F.col("n_exact_pairs")
            ).alias("meets_recall_floor"),
        )
    )


@register(
    "embedding_recall_contract",
    oracle=f"""
    WITH {_lsh_keys_sql(32, 8)},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_cos_sql('a.embedding', 'b.embedding')} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    exact AS (SELECT vec_a, vec_b FROM pairs WHERE cos >= 0.5),
    cand AS (SELECT DISTINCT a.id AS vec_a, b.id AS vec_b
             FROM keys a JOIN keys b ON a.bk = b.bk AND a.id < b.id),
    lsh AS (SELECT vec_a, vec_b FROM cand JOIN pairs USING (vec_a, vec_b)
            WHERE cos >= 0.5)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact_pairs,
           (SELECT CAST(COALESCE(SUM(vec_a + vec_b), 0) AS BIGINT) FROM exact)
             AS exact_pair_id_sum,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh
            SEMI JOIN exact USING (vec_a, vec_b)) AS lsh_hits
    """,
    tags=("dedup", "similarity", "lsh", "contract"),
)
def embedding_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign-LSH embedding near-dup quality gate as a hash-checked
    query (minhash_recall_contract's pattern for the dense-vector path):
    run the banded sign-LSH pipeline (32 bands x 8 bits, uncapped) AND
    the all-pairs exact ground truth at the same threshold, and emit the
    exact pair count, an id-sum checksum of the exact pair set, the LSH
    pair count and how many LSH pairs are exact pairs. The oracle
    recomputes all four: the band keys are exact integer arithmetic
    (``dedup.embedding.sign_keys``). The floors (no false positives,
    recall >= 0.7) are tests at the check SFs. The O(N^2) exact twin
    runs here as sf-scale ground truth only - the bench headlines the
    linear LSH path."""
    emb = _emb(spark, sf_dir)
    exact = embedding_neardup_pairs(emb, threshold=0.5).select("vec_a", "vec_b")
    lsh = embedding_neardup_lsh(emb, threshold=0.5).select("vec_a", "vec_b")
    n_exact = exact.agg(
        F.count(F.lit(1)).alias("n_exact_pairs"),
        F.coalesce(F.sum(F.col("vec_a") + F.col("vec_b")), F.lit(0))
        .cast("long")
        .alias("exact_pair_id_sum"),
    )
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh_pairs"))
    hits = lsh.join(exact, ["vec_a", "vec_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("lsh_hits")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_lsh))
        .crossJoin(F.broadcast(hits))
        .select("n_exact_pairs", "exact_pair_id_sum", "n_lsh_pairs", "lsh_hits")
    )


@register(
    "simhash_recall_contract",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    grams AS (
      SELECT doc_id,
             list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                            FOR i IN generate_series(1, len(t) - 2)]) AS g
      FROM toks
    ),
    exact AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS meets_recall_floor,
           TRUE AS meets_precision_floor
    FROM exact
    """,
    tags=("dedup", "simhash", "contract"),
)
def simhash_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash banded-Hamming quality gate as a hash-checked query
    (third member of the recall-contract family, after minhash and
    sign-LSH): SimHash Hamming <= 3 approximates high token-frequency
    cosine, so against the trigram-Jaccard >= 0.5 ground truth it is a
    DIFFERENT estimator, not a bound - the contract pins loose floors
    (recall >= 0.5, precision >= 0.5) that a broken fingerprint,
    banding, or verification stage would all violate. Round 11: runs
    the md5 keying - the SAME keying the oracle-checked
    ``simhash_near_pairs`` catalog entry ships - so the quality gate
    covers the shipped estimator (measured: recall 0.82/0.52,
    precision 0.92/1.0 at sf0.001/sf0.01; the 63-bit xxhash64 keying
    measured 0.75/0.60 and 0.72/0.79 there). ``n_exact_pairs`` is
    oracle-recomputed by DuckDB."""
    docs = _docs(spark, sf_dir)
    sh = simhash_near_pairs(docs, max_hamming=3, keying="md5").select("doc_a", "doc_b")
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_pairs"))
    n_sh = sh.agg(F.count(F.lit(1)).alias("__n_sh"))
    hits = sh.join(exact, ["doc_a", "doc_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("__hits")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_sh))
        .crossJoin(F.broadcast(hits))
        .select(
            "n_exact_pairs",
            (F.col("__hits") >= 0.5 * F.col("n_exact_pairs")).alias("meets_recall_floor"),
            (F.col("__hits") >= 0.5 * F.col("__n_sh")).alias("meets_precision_floor"),
        )
    )
