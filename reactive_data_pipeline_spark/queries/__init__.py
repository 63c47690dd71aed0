"""Named query catalog: the engine's oracle-checked surface.

Every operator family from SURVEY.md section 2 (plus the section 7.5
LLM-pipeline operators) is represented by at least one named query. Each
entry pairs

* ``build(spark, sf_dir) -> DataFrame`` - the Spark-native implementation,
* ``oracle`` - equivalent ANSI SQL executed by DuckDB on the same parquet
  (``None`` for genuinely non-SQL-expressible ops -> driver records a
  rows-only check).

Determinism rules (enforced throughout, see operators.relational):
aliases match between Spark and SQL; double sums go through decimal;
timestamps leave as epoch-micros/dates; every LIMIT has a total order.
"""

from __future__ import annotations

import functools
import os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

#: Runtime-settable SQL confs every catalog query depends on; applied
#: defensively because the driver harness supplies its own session.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Deployment floor for the derived value (round-12 advice): on a real
#: cluster with dynamic allocation, defaultParallelism read right after
#: startup can reflect ~2 registered executors and undersize every
#: exchange. Local masters report their true core count immediately, so
#: the default floor of 1 leaves the bench/driver behavior untouched;
#: deployments set SPARK_GRAFT_MIN_SHUFFLE_PARTITIONS to their floor.
_MIN_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_MIN_SHUFFLE_PARTITIONS", "1"))


def _apply_runtime_conf(spark: SparkSession) -> None:
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    # The driver's vanilla session defaults to 200 shuffle partitions;
    # at correctness-gate scale that is pure scheduling overhead (AQE
    # coalesces, but fewer initial partitions are still cheaper).
    # Derived from the session's actual parallelism - NOT a constant
    # (optimization round 12, guide section 2.2/2.5): a hard-coded 32
    # was right only on a 32-core local master; at the driver's
    # lower-core scaling runs it over-provisioned small stages, and on
    # a real cluster it would cap every exchange at 32 tasks.
    # defaultParallelism is N on local[N] and total executor cores on a
    # cluster, so engine entry points that size the conf themselves
    # (bench.py, get_spark local mode) see the same number re-applied.
    # Memoized ON the session object (round-12 advice): reading
    # defaultParallelism ONCE per session instead of per build (a)
    # saves py4j round trips on every catalog build and (b) pins the
    # value for the session's lifetime, so a cluster whose executor
    # count ramps after startup (dynamic allocation) cannot flap the
    # setting between builds. The attribute dies with the session - no
    # stale carry-over to a differently-sized successor.
    val = getattr(spark, "_graft_shuffle_partitions", None)
    if val is None:
        val = str(
            max(spark.sparkContext.defaultParallelism, _MIN_SHUFFLE_PARTITIONS)
        )
        spark._graft_shuffle_partitions = val
    spark.conf.set("spark.sql.shuffle.partitions", val)


def work_dir(prefix: str) -> str:
    """A new directory for a query's files (streaming sources, sinks and
    checkpoints; written tables), owned by the active Spark session: it
    lives under the session's driver temp directory
    (``SparkFiles.getRootDirectory()``), which Spark deletes when the
    session stops and when the driver exits."""
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    bench: bool = False  # include in bench.py headline set


QUERIES: dict[str, CatalogQuery] = {}


def register(name: str, oracle: str | None, tags: tuple[str, ...] = (), bench: bool = False):
    """Decorator: add a (spark, sf_dir) -> DataFrame builder to the catalog."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate catalog query {name!r}")

        @functools.wraps(fn)
        def build(spark: SparkSession, sf_dir: str) -> DataFrame:
            _apply_runtime_conf(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = CatalogQuery(name=name, build=build, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


# Import for side effects: each module registers its queries.
from . import relational  # noqa: E402,F401
from . import relational_ext  # noqa: E402,F401
from . import relational_ext2  # noqa: E402,F401
from . import relational_ext3  # noqa: E402,F401
from . import reference  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import llm2  # noqa: E402,F401
from . import llm3  # noqa: E402,F401
from . import curation  # noqa: E402,F401
from . import tpch2  # noqa: E402,F401
from . import etl  # noqa: E402,F401
from . import llm4  # noqa: E402,F401

#: Catalog queries whose underlying machinery was rewritten THIS round
#: - the staleness-clock window (tests/test_catalog_order.py::
#: derive_check_window) pins them for an immediate driver re-check.
#: Round 13 (optimization round 2): (a) embedding_neardup_lsh and
#: embedding_recall_contract share ONE signature path - md5-derived
#: integer hyperplanes, one exact numpy matmul per Arrow batch that the
#: DuckDB oracle recomputes bit for bit - and the candidate dedup is a
#: user repartition AQE cannot under-parallelize (dedup/embedding.py);
#: (b) the knn contracts run BOTH legs off one checkpointed scored scan
#: (similarity/lsh.py::knn_lsh_and_brute,
#: similarity/ivf.py::knn_ivf_and_brute); (c) exact_class_collapse is
#: the groupBy+min_by shape with NULL-set singleton routing, the
#: direct-vs-quotient switch is data-derived (resolve_quotient), and
#: the AllPairs verification joins are shuffled-hash with bytes-sized
#: builds (dedup/ngram.py) - consumed by every exact near-dup query
#: and, via minhash_lsh_pairs' auto default, the minhash family;
#: (d) streaming_neardup_contract's ground-truth leg is quotient=True;
#: (e) knn_lsh_cosine buckets with the near-dup pipeline's md5 integer
#: planes, knn_ivf_cosine seeds its cells by md5 and shares
#: kmeans_embedding_clusters' Lloyd loop (similarity/centroid.py::lloyd),
#: and the three contracts emit counts their oracles recompute.
#: Listed: every registered query whose physical plan or shared
#: machinery changed, including the recall contracts that consume it.
ROUND_CHANGED: tuple[str, ...] = (
    "cross_source_dup_matrix",
    "embedding_neardup_lsh",
    "embedding_recall_contract",
    "kmeans_embedding_clusters",
    "knn_ivf_cosine",
    "knn_lsh_cosine",
    "minhash_dedup_groups",
    "minhash_neardup_pairs",
    "minhash_recall_contract",
    "neardup_groups_connected",
    "neardup_split_leakage",
    "ngram3_jaccard_pairs",
    "ngram_jaccard_pairs",
    "simhash_recall_contract",
    "streaming_neardup_contract",
)

#: The external gate checks a prefix of the catalog in registration
#: order (exactly the first 50). Rounds 1-6 rotated this window for
#: coverage; cumulative driver coverage CLOSED at 228/228 in round 6.
#: From round 7 the window is the STEADY-STATE staleness clock
#: (round-6 verdict #1), derived mechanically - 4 canaries +
#: ROUND_CHANGED + any rows-only entries (none since the round-12
#: embedding_neardup_lsh graduation) + the longest-unchecked queries by
#: last-green round, oldest first (name tiebreak). Generated by
#: `python tools/next_cohort.py --emit`; pinned by
#: tests/test_catalog_order.py::test_window_matches_staleness_policy
#: (a hand-edited list cannot pass). Everything not listed keeps its
#: original relative order after the head; local tools/parity.py
#: checks all entries regardless.
CHECK_PRIORITY: tuple[str, ...] = (
    # --- canaries ---
    "training_data_pipeline",
    "q1_pricing_summary",
    "reactive_ticker_meta_stream",
    "training_data_pipeline_v2",
    # --- this round's changed machinery ---
    "cross_source_dup_matrix",
    "embedding_neardup_lsh",
    "embedding_recall_contract",
    "kmeans_embedding_clusters",
    "knn_ivf_cosine",
    "knn_lsh_cosine",
    "minhash_dedup_groups",
    "minhash_neardup_pairs",
    "minhash_recall_contract",
    "neardup_groups_connected",
    "neardup_split_leakage",
    "ngram3_jaccard_pairs",
    "ngram_jaccard_pairs",
    "simhash_recall_contract",
    "streaming_neardup_contract",
    # --- rows-only (weak check keeps executing) ---
    # --- stale fill: oldest last-green round first ---
    "epoch_shuffle_order",  # r7
    "event_types_per_user",  # r7
    "events_dedup_stats",  # r7
    "having_heavy_users",  # r7
    "kcore_peel_rounds",  # r7
    "left_join_order_counts",  # r7
    "levenshtein_close_names",  # r7
    "moments_price_by_flag",  # r7
    "posexplode_embedding_head",  # r7
    "predicate_algebra_parts",  # r7
    "reagg_daily_to_weekly",  # r7
    "salted_user_totals",  # r7
    "set_nations_except",  # r7
    "set_nations_union",  # r7
    "sliding_window_6h_activity",  # r7
    "string_funcs_parts",  # r7
    "systematic_sample_events",  # r7
    "text_stats",  # r7
    "window_cumsum_customer_spend",  # r7
    "window_lag_events",  # r7
    "anomaly_zscore_events",  # r8
    "big_orders_in_subquery",  # r8
    "cms_user_frequencies",  # r8
    "dq_star_schema_suite",  # r8
    "embedding_quantize_stats",  # r8
    "exists_returned_orders",  # r8
    "filter_events_click",  # r8
    "forward_fill_purchase_value",  # r8
    "full_outer_daily_mix",  # r8
    "funnel_view_click_purchase",  # r8
    "gapfill_daily_event_counts",  # r8
)

_missing = [n for n in CHECK_PRIORITY if n not in QUERIES]
if _missing:  # fail at import, not at driver time
    raise RuntimeError(f"CHECK_PRIORITY names unknown queries: {_missing}")
_rest = {n: q for n, q in QUERIES.items() if n not in set(CHECK_PRIORITY)}
_head = {n: QUERIES[n] for n in CHECK_PRIORITY}
QUERIES.clear()
QUERIES.update(_head)
QUERIES.update(_rest)

__all__ = ["QUERIES", "CatalogQuery", "register", "CHECK_PRIORITY"]
