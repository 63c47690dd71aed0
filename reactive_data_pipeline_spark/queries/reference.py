"""Reference-parity catalog queries (SURVEY.md section 7.2).

The reference's exact query shapes (`ticker_count`, `ticker_last5`,
`symbol_minmax`, `ticker_meta_build` - cites in operators.ticker) over
the events-derived ticker fixture, plus the batch views of the reactive
layer's daily semantics (R2/R3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_ops import bangkok_day
from ..operators import ticker as tk
from ..operators.relational import exact_sum
from ..sources import read_table
from . import register, work_dir

#: DuckDB twin of operators.ticker.derive_ticker - the deterministic
#: events -> Ticker projection (FIXTURES.md section 3).
TICKER_CTE = """
WITH ticker AS (
  SELECT event_id AS id,
         (['XT','SCHX','IXJ','WCLD'])[CAST(user_id % 4 AS INT) + 1] AS symbol,
         value AS market_price,
         CAST(ts AS TIMESTAMP) AS created_at
  FROM events
)
"""


def _ticker(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tk.derive_ticker(read_table(spark, sf_dir, "events"))


@register(
    "ticker_count",
    oracle=TICKER_CTE + "SELECT COUNT(id) AS n_rows FROM ticker",
    tags=("reference", "agg"),
)
def ticker_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (resources.py:29)."""
    return tk.ticker_count(_ticker(spark, sf_dir))


@register(
    "ticker_last5",
    oracle=TICKER_CTE
    + """
    SELECT id, symbol, market_price, epoch_us(created_at) AS created_at_us
    FROM ticker ORDER BY created_at DESC, id DESC LIMIT 5
    """,
    tags=("reference", "topk"),
)
def ticker_last5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (resources.py:31)."""
    return tk.ticker_last5(_ticker(spark, sf_dir))


@register(
    "symbol_minmax",
    oracle=TICKER_CTE
    + """
    SELECT MAX(market_price) AS max_market_price,
           MIN(market_price) AS min_market_price,
           'XT' AS symbol
    FROM ticker WHERE symbol = 'XT'
    """,
    tags=("reference", "agg", "filter"),
)
def symbol_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3 (resources.py:58-67), one scan instead of two."""
    return tk.symbol_minmax(_ticker(spark, sf_dir), "XT")


@register(
    "ticker_meta_build",
    oracle=TICKER_CTE
    + """
    SELECT symbol,
           MAX(market_price) AS monthly_max_market_price,
           MIN(market_price) AS monthly_min_market_price,
           strftime(day, '%Y%m%d') AS "partition"
    FROM (SELECT symbol, market_price,
                 CAST(created_at + INTERVAL 7 HOURS AS DATE) AS day
          FROM ticker)
    GROUP BY symbol, day
    """,
    tags=("reference", "agg", "datetime"),
)
def ticker_meta_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 + R3 (resources.py:69-76) with the documented sane-semantics fix."""
    return tk.build_ticker_meta(_ticker(spark, sf_dir))


@register(
    "window_running_minmax_ticker",
    oracle=TICKER_CTE
    + """
    SELECT id, symbol,
           MIN(market_price) OVER w AS run_min,
           MAX(market_price) OVER w AS run_max
    FROM ticker
    WINDOW w AS (PARTITION BY symbol ORDER BY created_at, id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("reference", "window"),
)
def window_running_minmax_ticker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-symbol running min/max that the reference recomputes daily
    (SURVEY.md section 2.5 analogue), as a single window pass."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("symbol")
        .orderBy("created_at", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _ticker(spark, sf_dir).select(
        "id",
        "symbol",
        F.min("market_price").over(w).alias("run_min"),
        F.max("market_price").over(w).alias("run_max"),
    )


@register(
    "events_daily_activity",
    oracle="""
    SELECT CAST(ts + INTERVAL 7 HOURS AS DATE) AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    tags=("reference", "streaming", "datetime"),
    bench=True,
)
def events_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 batch view: tumbling Asia/Bangkok day aggregate. The streaming
    layer (streaming.reactive) maintains exactly this result incrementally;
    the stream-batch equivalence test pins them together."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(bangkok_day("ts").alias("day"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("total_value"),
    )


@register(
    "events_dedup_stats",
    oracle="""
    SELECT COUNT(*) AS n_events, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    """,
    tags=("reference", "dedup"),
)
def events_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 batch view: run-dedup cardinality check (the streaming layer
    enforces it with dropDuplicatesWithinWatermark)."""
    return read_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").alias("n_unique"),
    )


@register(
    "reactive_ticker_meta_stream",
    oracle=TICKER_CTE
    + """
    SELECT symbol,
           MAX(market_price) AS monthly_max_market_price,
           MIN(market_price) AS monthly_min_market_price,
           strftime(day, '%Y%m%d') AS "partition"
    FROM (SELECT symbol, market_price,
                 CAST(created_at + INTERVAL 7 HOURS AS DATE) AS day
          FROM ticker)
    GROUP BY symbol, day
    """,
    tags=("reference", "streaming", "reactive"),
)
def reactive_ticker_meta_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The namesake reactive pipeline, END TO END, under the batch
    oracle: run the Structured Streaming availableNow job (R1/R3/R4/R6 -
    file-stream the events, maintain the ticker_meta derived table by
    incremental monotone merge), then return the materialized table. The
    oracle is the plain batch aggregation - the stream-batch equivalence
    invariant as a value-hash-checked driver query rather than only a
    pytest assertion."""
    import os

    from ..sources.registry import table_path
    from ..streaming import await_finished, reactive_ticker_meta_run, read_ticker_meta

    work = work_dir("reactive_ticker_meta_")
    out, ckpt = f"{work}/ticker_meta", f"{work}/ckpt"
    # The file-stream source watches a directory; expose the single
    # driver file through one (no copy).
    src = f"{work}/events_in"
    os.mkdir(src)
    os.symlink(table_path(sf_dir, "events"), f"{src}/events.parquet")
    q = reactive_ticker_meta_run(
        spark,
        src,
        out,
        ckpt,
        available_now=True,
        dedup_watermark=None,  # driver events are replayed in one batch
    )
    await_finished(q)
    return read_ticker_meta(spark, out)
