"""Version-proofing for the Catalyst/Spark behaviors the engine is
built on (round-6 verdict #5). Three load-bearing assumptions encode
CURRENT-Spark behavior; a minor-version bump that changes any of them
must fail HERE, loudly, with the fallback named - not quietly re-slow
or re-break the engine. Referenced from ENGINEERING.md's upgrade
checklist.

1. Filter predicates get NO subexpression elimination, and
   deterministic filters are pushed back through projections - the
   reason ``operators.relational.evaluate_once`` exists.
2. The ``explode(array(struct))`` Generate barrier blocks that
   pushback, so barrier-wrapped expressions are planned exactly once.
3. ``spark.sql.legacy.parquet.nanosAsLong`` makes TIMESTAMP(NANOS)
   parquet readable (events.parquet); sources/registry.py depends on
   it.
4. The radix-digit decomposition in ``exact_sum`` is bit-identical to
   the decimal-buffer sum and is only taken for precision <= 18.
5. A Python task's ``importlib.invalidate_caches()`` re-reads no zip
   directory under the engine's worker daemon (on CPython 3.11 with
   ``pyspark.daemon`` it re-reads 16; see ``session.py``).
6. The native Hadoop library is not loaded, so Hadoop's stock local
   filesystem forks ``chmod`` per create/mkdir and ``readlink`` per
   rename; the engine's ``jvm`` filesystems exist for that (see
   ``session.py``).
"""

import pyspark.sql.functions as F
import pytest

# A distinctive literal: every occurrence in a plan string is one
# evaluation site for the expression tree that contains it.
_MARKER = "__engine_assumption_marker__"


def _heavy(col):
    return F.size(F.split(col, _MARKER))


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_has_no_subexpression_elimination(spark):
    """Assumption 1: a filter over a projected expression is pushed
    back through the projection, substituting the defining tree into
    the condition once PER REFERENCE (no CSE inside Filter). If this
    starts planning the tree once, Catalyst gained Filter-CSE or
    stopped the pushback - evaluate_once may be droppable; re-measure
    the pipeline-v1/v2 scoring stages before removing it."""
    df = spark.createDataFrame([(1, "a b"), (2, "c")], "id long, txt string")
    raw = df.select("id", _heavy(F.col("txt")).alias("s")).filter(
        (F.col("s") >= 1) & (F.col("s") <= 100)
    )
    n = _optimized(raw).count(_MARKER)
    assert n >= 2, (
        f"expression planned {n}x: Catalyst now eliminates/blocks filter "
        "subexpressions - the evaluate_once Generate barrier may be "
        "removable (re-measure queries/llm.py + llm2.py scoring stages)"
    )


def test_generate_barrier_plans_expression_once(spark):
    """Assumption 2 (the fix): behind evaluate_once the tree appears
    exactly once however many times the filter references it - the
    plan-level count-of-evaluations probe. If Generate outputs start
    being pushed through, fall back to localCheckpoint at the scoring
    sites (materializes - wrong at scale, but correct) and re-derive a
    barrier."""
    from reactive_data_pipeline_spark.operators.relational import evaluate_once

    df = spark.createDataFrame([(1, "a b"), (2, "c")], "id long, txt string")
    out = evaluate_once(df, {"s": _heavy(F.col("txt"))}).filter(
        (F.col("s") >= 1) & (F.col("s") <= 100)
    )
    plan = _optimized(out)
    n = plan.count(_MARKER)
    assert n == 1, (
        f"barrier leaked: expression planned {n}x - Generate no longer "
        "blocks predicate pushback; fallback = localCheckpoint barrier "
        "(see evaluate_once docstring)"
    )
    # values survive the barrier (split on an absent marker -> size 1)
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_generate_barrier_evaluation_count_probe(spark):
    """Assumption 2, counted at RUNTIME: an accumulator-instrumented
    UDF behind the barrier must run once per row even when the filter
    references its output twice. (Python UDFs are deduplicated within
    one projection anyway; the probe guards the barrier's contract
    that downstream double references cannot re-inline evaluation.)"""
    from reactive_data_pipeline_spark.operators.relational import evaluate_once

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(s):
        acc.add(1)
        return len(s or "")

    df = spark.createDataFrame([(i, "x" * i) for i in range(6)], "id long, txt string")
    out = evaluate_once(df, {"n": counted(F.col("txt"))}).filter(
        (F.col("n") >= 0) & (F.col("n") <= 100)
    )
    assert out.count() == 6
    assert acc.value == 6, (
        f"UDF evaluated {acc.value}x for 6 rows behind the barrier - "
        "evaluation is being re-inlined past the Generate"
    )


def test_nanos_conf_and_event_time_normalization(spark):
    """Assumption 3: the engine sets
    ``spark.sql.legacy.parquet.nanosAsLong`` so TIMESTAMP(NANOS)
    fixtures read as long nanos, and sources/registry.read_table
    normalizes events.ts to ``timestamp_ntz`` from EITHER encoding
    (driver fixtures have shipped both NANOS and MICROS). If the legacy
    conf disappears in an upgrade, setting it must fail here first -
    fallback: pre-convert TIMESTAMP(NANOS) via pyarrow inside
    read_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")  # must exist
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ts_type = dict(raw.dtypes)["ts"]
    assert ts_type in ("bigint", "timestamp_ntz"), (
        f"events.ts read as {ts_type}: neither the nanos-long path nor the "
        "native micros path - update sources/registry._normalize_events"
    )
    from reactive_data_pipeline_spark.sources.registry import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz", (
        "read_table no longer normalizes events.ts to timestamp_ntz - every "
        "downstream datetime operator assumes it"
    )


def test_exact_sum_radix_path_and_decimal_fallback(spark):
    """Assumption 4: exact_sum's three 21-bit digit sums are
    bit-identical to the decimal(p,s) SUM (associativity of long
    addition on the unscaled value), and precision > 18 must route to
    the decimal-buffer fallback - the escape hatch if a future Spark
    changes long-overflow or decimal semantics."""
    from reactive_data_pipeline_spark.operators.relational import (
        exact_sum_dec,
        split_digits,
    )

    df = spark.createDataFrame(
        [(1, 123.456789), (1, -0.000001), (2, 999999.999999), (2, None)],
        "g long, v double",
    )
    radix = df.groupBy("g").agg(exact_sum_dec("v").alias("s"))
    dec = df.groupBy("g").agg(
        F.sum(F.col("v").cast("decimal(18,6)")).alias("s")
    )
    got = {r.g: str(r.s) for r in radix.collect()}
    want = {r.g: str(r.s) for r in dec.collect()}
    assert got == want, "radix digit sums drifted from the decimal buffer"
    # the decision: precision > 18 must NOT use digit splitting
    wide = exact_sum_dec("v", scale=6, precision=28)
    assert "decimal(28,6)" in str(wide).lower() and "shiftright" not in str(wide).lower(), (
        "precision>18 no longer routes to the decimal-buffer fallback"
    )
    # digit-split plumbing stays 21-bit (overflow bound ~4.4e12 rows/group)
    hi, mid, lo = split_digits(F.col("v"), 6, 18)
    assert "2097151" in str(lo) or "% 2097152" in str(lo) or "2097152" in str(lo), (
        "digit radix changed - re-derive the per-group row bound in "
        "operators/relational.py and ADVICE's overflow note"
    )


def test_fast_quantization_routing_and_domain(spark):
    """Assumption 4b: the unscaled-long quantization runs BigDecimal-free
    (pure double ``sign*floor(|y|+0.5)``) below 2^50 scaled magnitude and
    routes through the exact decimal cast at/above it - the split that
    removed the q1-family's 12x-vs-DuckDB gap at 100x volume without
    narrowing the decimal(18,s) domain.

    Pins: (a) both branches produce the decimal cast's value across the
    fast/slow boundary and deep into the slow domain - using ≤6-decimal
    values, the domain where the fast path is PROVABLY exact (the
    ``_FAST_QUANT_BOUND`` error analysis; full-precision doubles near
    the bound legitimately midpoint-drift between conventions); (b)
    exact ties at the 6th decimal round HALF-AWAY-FROM-ZERO on both
    sides of zero; (c) the decimal fallback expression is really in
    the plan (a future 'simplification' that drops the WHEN would
    silently shrink the exact domain to |x| < ~1.1e9)."""
    from reactive_data_pipeline_spark.operators.relational import exact_sum

    bound = float(1 << 50) / 1e6  # ~1.1e9: fast/slow routing boundary
    vals = [
        0.0000005,      # exact tie at the 6th decimal, fast branch
        -0.0000005,
        123.456789,
        round(bound * 0.99, 2),  # just inside the fast branch, 2dp-exact
        round(bound * 1.01, 2),  # just inside the slow branch
        123456789012.25,  # deep slow domain (decimal(18,6) still fits)
        -123456789012.25,
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "g long, v double")
    got = {r.g: r.s for r in df.groupBy("g").agg(exact_sum("v").alias("s")).collect()}
    want = {
        r.g: r.s
        for r in df.groupBy("g")
        .agg(F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("s"))
        .collect()
    }
    for g, v in enumerate(vals):
        assert repr(got[g]) == repr(want[g]), (v, got[g], want[g])
    # ties round away from zero (the C round() convention)
    assert got[0] == 0.000001 and got[1] == -0.000001
    # the decimal fallback must still be reachable in the expression
    expr = str(exact_sum("v")).lower()
    assert "decimal(18,6)" in expr and "floor" in expr, (
        "quantization lost its fast path or its decimal fallback - "
        "see _unscaled_long in operators/relational.py"
    )


def test_radix_digit_overflow_fails_loudly(spark):
    """ADVICE r6: past ~4.4e12 non-null rows per group the 21-bit digit
    accumulators exceed a long. That bound must fail DETECTABLY, not
    wrap: under ANSI (Spark 4's default, set nowhere to false in this
    repo) a long SUM overflow raises ARITHMETIC_OVERFLOW. Pin both the
    default and the failure mode - if a future session config turns
    ANSI off, exact_sum needs an explicit guard before that ships."""
    import pytest

    assert spark.conf.get("spark.sql.ansi.enabled") == "true", (
        "ANSI off: radix digit sums in exact_sum would WRAP SILENTLY "
        "past ~4.4e12 rows/group - add a runtime guard or route through "
        "the decimal-buffer fallback before disabling ANSI"
    )
    df = spark.createDataFrame([(2**62,), (2**62,), (2**62,)], "v long")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.agg(F.sum("v")).collect()


def test_python_task_rereads_no_zip_directory(spark):
    """Assumption 5: inside a task, the per-task cache invalidation
    PySpark's worker performs reads no archive directory again."""

    def count(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)]})

    got = spark.range(1, numPartitions=1).mapInPandas(count, "reads int").collect()
    assert [r.reads for r in got] == [0]


def test_native_hadoop_library_is_not_loaded(spark):
    """Assumption 6: ``NativeCodeLoader.isNativeCodeLoaded()`` is false,
    which is why stock ``RawLocalFileSystem.setPermission`` and
    ``getFileLinkStatus`` fork. If this fails, the native library now
    loads: the stock filesystem then chmods through JNI (the engine's
    class already defers to it) and only the ``readlink`` fork remains -
    re-measure a ticker trigger before deciding whether the engine's
    filesystem is still needed. Its fallback is the stock filesystem
    (sessions keep it when ``javac`` is missing)."""
    jvm = spark._jvm
    assert not jvm.org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded()
    assert not jvm.org.apache.hadoop.io.nativeio.NativeIO.isAvailable()
