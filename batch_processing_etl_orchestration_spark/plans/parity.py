"""Reference-parity query catalog.

Each query re-expresses one (or a few) operators from SURVEY.md §2 —
the complete inventory of data operations the reference performs — as
an idiomatic Catalyst plan over the driver fixtures, paired with an
ANSI-SQL oracle for the DuckDB correctness gate. Operator IDs (A1, P4,
J1, ...) refer to SURVEY §2; reference citations are file:line into
/root/reference/.

Determinism rules (see functions/exact.py): double SUM/AVG/STD go
through DECIMAL, timestamps are emitted as formatted strings, every
ORDER BY ... LIMIT has a unique-key tiebreaker.

Scale notes are inline per query: what shuffles, what broadcasts, what
prunes — written for the 1000-executor / 100 TB case even though tests
run on local[32].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.functions.cleaning import (
    month_end,
    parse_quarter_period,
)
from batch_processing_etl_orchestration_spark.functions.exact import (
    SCALE,
    exact_avg,
    exact_std,
    exact_sum,
    sql_exact_avg,
    sql_exact_std,
    sql_exact_sum,
    sql_ts_str,
    ts_str,
)
from batch_processing_etl_orchestration_spark.plans.registry import register
from batch_processing_etl_orchestration_spark.streaming.sink import drain_files
from batch_processing_etl_orchestration_spark.tables import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# ---------------------------------------------------------------------------
# A1 — flagship: hourly net value by type (reference headline viz:
# hourly net generation by energy source, EIA930PipelineHourlyData.py:111-118)
# ---------------------------------------------------------------------------


@register(
    "q_hourly_net_by_type",
    oracle=f"""
    SELECT {sql_ts_str("date_trunc('hour', ts)")} AS hour,
           event_type,
           {sql_exact_sum('value')} AS total_value,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY 1, 2
    """,
    tags=("A1", "flagship"),
)
def q_hourly_net_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped SUM on (hour, type) — EIA930PipelineHourlyData.py:111-118.

    Scale: partial (map-side) + final hash agg; shuffle key
    (hour, event_type) has bounded cardinality (24×365×|types|/yr) so
    the shuffle is tiny regardless of input size. Scan prunes to
    (ts, event_type, value) columns only.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            ts_str(F.date_trunc("hour", F.col("ts"))).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            exact_sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# A2 — grouped SUM, 4 keys (EIA930PipelineHourlyData.py:125)
# ---------------------------------------------------------------------------


@register(
    "q_daily_sum_by_user_type",
    oracle=f"""
    SELECT {sql_ts_str("date_trunc('day', ts)")} AS day,
           user_id,
           event_type,
           {sql_exact_sum('value')} AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("A2",),
)
def q_daily_sum_by_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-key grouped SUM (day, respondent-analog, type) —
    EIA930PipelineHourlyData.py:125."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        ts_str(F.date_trunc("day", F.col("ts"))).alias("day"),
        "user_id",
        "event_type",
    ).agg(exact_sum("value").alias("total_value"))


# ---------------------------------------------------------------------------
# A3 — grouped SUM by type only (EIA930PipelineHourlyData.py:138)
# ---------------------------------------------------------------------------


@register(
    "q_total_by_type",
    oracle=f"""
    SELECT event_type,
           {sql_exact_sum('value')} AS total_value,
           {sql_exact_avg('value')} AS avg_value,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY 1
    """,
    tags=("A3",),
)
def q_total_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped SUM by type — EIA930PipelineHourlyData.py:138; plus AVG
    (gold-layer extension per SURVEY §2.5)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        exact_sum("value").alias("total_value"),
        exact_avg("value").alias("avg_value"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# A4 + P12 — pivot to wide type columns, then drop incomplete rows
# (pivot_table + dropna, EIA930PipelineHourlyData.py:126-127)
# ---------------------------------------------------------------------------


def _sql_pivot_cols() -> str:
    cols = []
    for t in EVENT_TYPES:
        cols.append(
            "(CAST(SUM(CASE WHEN event_type = '%s' "
            "THEN CAST(ROUND(value * 1000000) AS BIGINT) END) AS DOUBLE)"
            " / 1000000.0) AS %s" % (t, t)
        )
    return ",\n           ".join(cols)


@register(
    "q_pivot_user_type_complete",
    oracle=f"""
    SELECT * FROM (
      SELECT {sql_ts_str("date_trunc('day', ts)")} AS day,
             user_id,
             {_sql_pivot_cols()}
      FROM events
      GROUP BY 1, 2
    )
    WHERE click IS NOT NULL AND error IS NOT NULL AND purchase IS NOT NULL
      AND signup IS NOT NULL AND view IS NOT NULL
    """,
    tags=("A4", "P12"),
)
def q_pivot_user_type_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (day,user) × type → wide D/DF/NG/TI-analog columns, then
    drop rows not reporting all types — EIA930PipelineHourlyData.py:126-127.

    Scale: pivot with an explicit value list is a single hash agg (one
    shuffle on the group keys); no second pass to discover pivot values.
    """
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(
            ts_str(F.date_trunc("day", F.col("ts"))).alias("day"),
            F.col("user_id"),
        )
        .pivot("event_type", EVENT_TYPES)
        .agg(exact_sum("value"))
    )
    return wide.na.drop("any")


# ---------------------------------------------------------------------------
# A5 — single-key pivot (EIA930PipelineHourlyData.py:139)
# ---------------------------------------------------------------------------


@register(
    "q_pivot_day_type",
    oracle=f"""
    SELECT {sql_ts_str("date_trunc('day', ts)")} AS day,
           {_sql_pivot_cols()}
    FROM events
    GROUP BY 1
    """,
    tags=("A5",),
)
def q_pivot_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot day × type — EIA930PipelineHourlyData.py:139."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(ts_str(F.date_trunc("day", F.col("ts"))).alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(exact_sum("value"))
    )


# ---------------------------------------------------------------------------
# J1 — broadcast semi-join of facts against a small dimension
# (isin over BA codes, EIA930PipelineHourlyData.py:104-106)
# ---------------------------------------------------------------------------


@register(
    "q_semi_join_dim",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS total_value
    FROM events
    WHERE user_id IN (SELECT n_nationkey FROM nation)
    GROUP BY 1
    """,
    tags=("J1",),
)
def q_semi_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi-join facts ⋉ dimension — the reference's only join
    (isin against BA codes, EIA930PipelineHourlyData.py:104-106).

    Scale: dimension is broadcast (≤ a few MB) → BroadcastHashJoin
    LeftSemi, zero shuffle of the fact table for the join; only the
    post-join groupBy shuffles, keyed on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "nation")
    joined = ev.join(
        F.broadcast(dim), ev.user_id == dim.n_nationkey, "left_semi"
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# J2 — key-based equi-join through dimension chain (replaces the
# reference's positional state join, OpenMeteoWeatherPipelineHourlyData.py:88-103)
# ---------------------------------------------------------------------------


@register(
    "q_join_dim_chain",
    oracle=f"""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           COUNT(*) AS n_customers,
           {sql_exact_sum('c.c_acctbal')} AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    tags=("J2",),
)
def q_join_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact → dim → dim equi-join chain; key-based replacement for the
    reference's fragile positional join (J2, SURVEY §2.4).

    Scale: both dims broadcast; the fact table is never shuffled for
    the joins (two chained BroadcastHashJoins inside one codegen stage).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            exact_sum("c_acctbal").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# P4/P5 — null-on-error coercion (pd.to_numeric/to_datetime errors='coerce',
# EIA930PipelineHourlyData.py:101,114)
# ---------------------------------------------------------------------------


@register(
    "q_cast_coerce",
    oracle="""
    SELECT event_id,
           TRY_CAST(CASE WHEN event_id % 7 = 0
                         THEN 'x' || CAST(event_id AS VARCHAR)
                         ELSE CAST(event_id AS VARCHAR) END AS DOUBLE)
             AS num_coerced,
           strftime(TRY_CAST(CASE WHEN event_id % 11 = 0
                                  THEN 'not-a-date'
                                  ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END
                             AS TIMESTAMP),
                    '%Y-%m-%d %H:%M:%S') AS ts_coerced
    FROM events
    """,
    tags=("P4", "P5"),
)
def q_cast_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→double and string→timestamp with null-on-error — the
    reference's core cleaning semantic (errors='coerce',
    EIA930PipelineHourlyData.py:101,114). Dirty strings are derived
    deterministically from event_id so both engines see identical input.
    """
    ev = load_table(spark, sf_dir, "events")
    dirty_num = F.when(
        F.col("event_id") % 7 == 0,
        F.concat(F.lit("x"), F.col("event_id").cast("string")),
    ).otherwise(F.col("event_id").cast("string"))
    dirty_ts = F.when(F.col("event_id") % 11 == 0, F.lit("not-a-date")).otherwise(
        ts_str(F.col("ts"))
    )
    return ev.select(
        "event_id",
        dirty_num.try_cast("double").alias("num_coerced"),
        ts_str(dirty_ts.try_cast("timestamp_ntz")).alias("ts_coerced"),
    )


# ---------------------------------------------------------------------------
# P5 (quarterly) — 'YYYY-Qn' period parse (EIA7APipelineQuarterlyData.py:76,90)
# ---------------------------------------------------------------------------


@register(
    "q_quarter_parse",
    oracle=f"""
    SELECT {sql_ts_str("date_trunc('quarter', o_orderdate)")} AS quarter_start,
           COUNT(*) AS n_orders,
           {sql_exact_sum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1
    """,
    tags=("P5",),
)
def q_quarter_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through 'YYYY-Qn' strings and back — the quarterly
    period representation of EIA7APipelineQuarterlyData.py:76,90. The
    custom parse (regexp_extract year/quarter → make_date) is the one
    expression Spark lacks a built-in for (SURVEY §4)."""
    o = load_table(spark, sf_dir, "orders")
    qstr = F.concat(
        F.year("o_orderdate").cast("string"),
        F.lit("-Q"),
        F.quarter("o_orderdate").cast("string"),
    )
    return (
        o.withColumn("qstr", qstr)
        .withColumn("quarter_start", ts_str(parse_quarter_period("qstr")))
        .groupBy("quarter_start")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# P6 — month-end snap (pd.offsets.MonthEnd(0), EIA814PipelineMonthlyData.py:66)
# ---------------------------------------------------------------------------


@register(
    "q_month_end_snap",
    oracle=f"""
    SELECT {sql_ts_str("CAST(last_day(o_orderdate) AS TIMESTAMP)")} AS month_end,
           COUNT(*) AS n_orders,
           {sql_exact_sum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1
    """,
    tags=("P6",),
)
def q_month_end_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end date snap — EIA814PipelineMonthlyData.py:66 → last_day."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(ts_str(month_end("o_orderdate")).alias("month_end"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# P8/P9/P10 — predicates: inequality, temporal range (value-based trim)
# ---------------------------------------------------------------------------


@register(
    "q_predicate_filters",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS n_rows,
           {sql_exact_sum('l_quantity')} AS sum_qty
    FROM lineitem
    WHERE l_returnflag <> 'R'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    """,
    tags=("P8", "P9", "P10"),
)
def q_predicate_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality predicate (.query('... != "Total"'),
    EIA7APipelineQuarterlyData.py:86) + value-based temporal trim
    replacing the reference's positional boundary cut
    (EIA930PipelineHourlyData.py:102; SURVEY P10).

    Scale: both predicates push to the parquet scan (PushedFilters);
    with date-partitioned layout the range prunes partitions entirely.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_returnflag") != "R")
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            exact_sum("l_quantity").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# P11/P12/P13 — null drop / null fill (dropna/fillna,
# EIA7APipelineQuarterlyData.py:80,88; EIA930PipelineHourlyData.py:127)
# ---------------------------------------------------------------------------


@register(
    "q_null_handling",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_total,
           COUNT(CASE WHEN event_type <> 'error' THEN value END) AS n_nonnull,
           {sql_exact_sum("CASE WHEN event_type = 'error' THEN -1.0 ELSE value END")}
             AS sum_filled
    FROM events
    GROUP BY 1
    """,
    tags=("P11", "P13"),
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null injection → dropna-subset count + fillna-constant sum —
    EIA7APipelineQuarterlyData.py:80 (dropna subset) and :88
    (fillna constant)."""
    ev = load_table(spark, sf_dir, "events")
    nulled = F.when(F.col("event_type") == "error", F.lit(None).cast("double")).otherwise(
        F.col("value")
    )
    filled = F.coalesce(nulled, F.lit(-1.0))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(nulled).alias("n_nonnull"),
        exact_sum(filled).alias("sum_filled"),
    )


# ---------------------------------------------------------------------------
# O6 — union of pages (pd.concat of paginated fetches,
# EIA930PipelineHourlyData.py:100)
# ---------------------------------------------------------------------------


@register(
    "q_union_pages",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {sql_exact_sum('l_quantity')} AS sum_qty
    FROM (
      SELECT * FROM lineitem WHERE l_orderkey % 3 = 0
      UNION ALL
      SELECT * FROM lineitem WHERE l_orderkey % 3 = 1
      UNION ALL
      SELECT * FROM lineitem WHERE l_orderkey % 3 = 2
    )
    GROUP BY 1
    """,
    tags=("O6",),
)
def q_union_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of page-slices == whole fetch (pd.concat of pages,
    EIA930PipelineHourlyData.py:100). unionByName keeps schema-drift
    safety (allowMissingColumns for P14 cases)."""
    li = load_table(spark, sf_dir, "lineitem")
    pages = [li.where(F.col("l_orderkey") % 3 == i) for i in range(3)]
    unioned = pages[0].unionByName(pages[1]).unionByName(pages[2])
    return unioned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# O8 — distinct (unique values, OpenMeteoWeatherPipelineHourlyData.py:103)
# ---------------------------------------------------------------------------


@register(
    "q_distinct_user_type",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("O8",),
)
def q_distinct_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection — .unique() analog
    (OpenMeteoWeatherPipelineHourlyData.py:103)."""
    return load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# top-k (O5 LIMIT + sort O1/O2 with deterministic tiebreaker)
# ---------------------------------------------------------------------------


@register(
    "q_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
    tags=("O1", "O5"),
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by value with unique-key tiebreak (multi-key sort O1/O2 +
    LIMIT O5, databaseOperations.py:72-75). Spark executes as
    TakeOrderedAndProject — a per-partition top-k then a k-row merge on
    the driver; no global sort materialization at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Window functions — ranking / lag (gold-layer extension, SURVEY §2.7)
# ---------------------------------------------------------------------------


@register(
    "q_window_lag",
    oracle=f"""
    SELECT * FROM (
      SELECT user_id,
             row_number() OVER w AS rn,
             {sql_ts_str('ts')} AS ts,
             event_type,
             date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE rn <= 5
    """,
    tags=("W",),
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number + lag over per-user event sequences — the window
    surface the reference lacks but its gold layer needs (SURVEY §2.7:
    hour-over-hour deltas). Gap computed with timestamp arithmetic
    (timestampdiff), no epoch/timezone dependence.

    Scale: single shuffle on user_id, then in-partition sort; no
    global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).alias("rn"),
            ts_str(F.col("ts")).alias("ts"),
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND, "
                "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
            ).alias("gap_us"),
        )
        .where(F.col("rn") <= 5)
    )


# ---------------------------------------------------------------------------
# A6/A7 — multi-column mean/std per group (ddof=1),
# OpenMeteoWeatherPipelineHourlyData.py:86-107
# ---------------------------------------------------------------------------

# per-column scale for the squared-term sums: chosen so
# max(x²)·scale2·rows_per_group stays < 2^63 (see functions/exact.py)
_STAT_COLS = {
    "l_quantity": (SCALE, 10**9),
    "l_extendedprice": (SCALE, 10**2),
    "l_discount": (SCALE, 10**12),
}


@register(
    "q_grouped_stats",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {", ".join(
               f"{sql_exact_avg(c, s1)} AS {c}_mean, "
               f"{sql_exact_std(c, s1, s2)} AS {c}_std"
               for c, (s1, s2) in _STAT_COLS.items()
           )}
    FROM lineitem
    GROUP BY 1
    """,
    tags=("A6", "A7"),
)
def q_grouped_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean + sample std (ddof=1) over multiple measure
    columns — the weather per-state-per-hour statistics
    (OpenMeteoWeatherPipelineHourlyData.py:86-107, dispatch :100).
    Derived from exact scaled-long sums so the result is deterministic
    under any parallelism (see functions/exact.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, (s1, s2) in _STAT_COLS.items():
        aggs.append(exact_avg(c, s1).alias(f"{c}_mean"))
        aggs.append(exact_std(c, s1, s2).alias(f"{c}_std"))
    return li.groupBy("l_returnflag").agg(*aggs)


# ---------------------------------------------------------------------------
# ROLLUP — grouping sets (gold-layer extension, SURVEY §2.5)
# ---------------------------------------------------------------------------


@register(
    "q_rollup_returnflag",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS n_rows,
           {sql_exact_sum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("A", "rollup"),
)
def q_rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total) — part of the
    engine's agg surface beyond the reference (SURVEY §2.5 'not
    present' row)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# COUNT DISTINCT (exact) — gold-layer extension
# ---------------------------------------------------------------------------


@register(
    "q_count_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    tags=("A", "distinct"),
)
def q_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count per group. (approx_count_distinct is
    exposed separately without an oracle — sketches are
    engine-specific.)"""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Sessionization — batch formulation (streaming analog in streaming/;
# SURVEY §2.9 'sessionization of events' north-star row)
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min

_SESSIONIZE_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('microsecond', prev_ts, ts) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM seq
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events,
             date_diff('microsecond', MIN(ts), MAX(ts)) AS dur_us
      FROM sess GROUP BY 1, 2
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           MAX(n_events) AS longest_session,
           MAX(dur_us) AS longest_dur_us
    FROM per_session
    GROUP BY 1
    """


def _session_stats(sess: DataFrame) -> DataFrame:
    """Shared tail of both sessionize variants: per-session rollup,
    then per-user stats (column names match _SESSIONIZE_ORACLE)."""
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("timestampdiff(MICROSECOND, MIN(ts), MAX(ts))").alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("longest_session"),
        F.max("dur_us").alias("longest_dur_us"),
    )


@register(
    "q_sessionize_users",
    oracle=_SESSIONIZE_ORACLE,
    tags=("W", "session"),
)
def q_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running
    sum — the batch twin of session_window in streaming/ (SURVEY §2.9).

    Scale: one shuffle on user_id; both windows and the first groupBy
    share that partitioning (no extra exchange — verify in .explain).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(
        "timestampdiff(MICROSECOND, "
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
    )
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0).alias("is_new"),
    )
    sess = marked.withColumn(
        "session_id", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return _session_stats(sess)


@register(
    "q_sessionize_skew_safe",
    oracle=_SESSIONIZE_ORACLE,
    tags=("W", "session", "skew"),
)
def q_sessionize_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sessionization semantics as q_sessionize_users (one
    oracle pins both), computed by the segmented two-phase scan
    (operators/sessionize.py): windows on (user, day-block) bound the
    widest task by a user's events per DAY, and a metadata-sized
    per-user block summary stitches sessions across block boundaries.

    This is the 100 TB answer to the hot-user problem: AQE's skew
    split covers join partitions but NOT window partitions — a user
    owning 80% of the stream is one straggler task (or an OOM) in the
    plain plan, and a bounded set of per-day tasks here. Equivalence
    on an 80%-hot distribution and the live sf1 numbers are pinned by
    tests/test_sessionize.py and SCALE.md §Skew."""
    from batch_processing_etl_orchestration_spark.operators.sessionize import (
        sessionize_blocked,
    )

    ev = load_table(spark, sf_dir, "events")
    return _session_stats(
        sessionize_blocked(ev, gap_us=SESSION_GAP_US)
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary (the canonical grouped-agg workload;
# same shape as the reference's compute* stages at warehouse scale)
# ---------------------------------------------------------------------------


@register(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {sql_exact_sum('l_quantity')} AS sum_qty,
           {sql_exact_sum('l_extendedprice')} AS sum_base_price,
           {sql_exact_sum('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
           {sql_exact_sum('(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)')}
             AS sum_charge,
           {sql_exact_avg('l_quantity')} AS avg_qty,
           {sql_exact_avg('l_extendedprice')} AS avg_price,
           {sql_exact_avg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    """,
    tags=("A1", "bench"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter + 8 aggregates over the
    widest fact table. The per-row products are computed in double with
    fixed parenthesization so both engines fold identically, then
    summed exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(charge).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# JSON extraction (events.props — SURVEY §2.8 JSON family, F7)
# ---------------------------------------------------------------------------


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM (
      SELECT event_type,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    GROUP BY 1
    """,
    tags=("JSON",),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the props column (F7; reference JSON
    path access at EIA930PipelineHourlyData.py:64-66). Integer sums are
    exact in both engines — no decimal detour needed."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# S9 — time-series materialization: sequence + explode, gap-filled join
# (pd.date_range, OpenMeteoWeatherPipelineHourlyData.py:67-70)
# ---------------------------------------------------------------------------

_TS_START = "2024-01-01 00:00:00"
_TS_END = "2024-01-30 23:00:00"


@register(
    "q_timeseries_fill",
    oracle=f"""
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '{_TS_START}',
                                    TIMESTAMP '{_TS_END}',
                                    INTERVAL 1 HOUR)) AS hour
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             COUNT(*) AS n,
             {sql_exact_sum('value')} AS total_value
      FROM events GROUP BY 1
    )
    SELECT {sql_ts_str('s.hour')} AS hour,
           COALESCE(h.n, 0) AS n_events,
           h.total_value AS total_value
    FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
    """,
    tags=("S9",),
)
def q_timeseries_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize an hourly spine (sequence+explode — the Spark analog
    of pd.date_range, OpenMeteoWeatherPipelineHourlyData.py:67-70) and
    left-join hourly aggregates onto it, exposing gap hours as 0/null."""
    ev = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(_TS_START).cast("timestamp_ntz"),
                F.lit(_TS_END).cast("timestamp_ntz"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour")
    )
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value").alias("total_value"),
    )
    return spine.join(hourly, "hour", "left").select(
        ts_str(F.col("hour")).alias("hour"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.col("total_value"),
    )


# ---------------------------------------------------------------------------
# P1 — column-slice projection (iloc[:, :6] analog)
# ---------------------------------------------------------------------------


@register(
    "q_projection_slice",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer",
    tags=("P1", "P16"),
)
def q_projection_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional column-slice projection (.iloc[:, :6],
    EIA930PipelineHourlyData.py:34) → select of the first N columns;
    column pruning reaches the scan (ReadSchema shows 4 columns)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(*c.columns[:4])


# ---------------------------------------------------------------------------
# Anti-join — completes the join surface (SURVEY §2.4 'not present' row)
# ---------------------------------------------------------------------------


@register(
    "q_anti_join_dim",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {sql_exact_sum('value')} AS total_value
    FROM events
    WHERE user_id NOT IN (SELECT n_nationkey FROM nation)
    GROUP BY 1
    """,
    tags=("J",),
)
def q_anti_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti-join: facts whose key is absent from the dimension —
    the complement of J1, used for orphan-key auditing. Broadcast
    anti hash join; dimension keys are non-null so NOT IN == anti."""
    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "nation")
    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.n_nationkey, "left_anti")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# CUBE — full grouping-set surface alongside q_rollup_returnflag
# ---------------------------------------------------------------------------


@register(
    "q_cube_status_priority",
    oracle=f"""
    SELECT o_orderstatus,
           o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_exact_sum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("A", "cube"),
)
def q_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping sets in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Set operations — INTERSECT / EXCEPT (SURVEY §2.6 'not present' row)
# ---------------------------------------------------------------------------


@register(
    "q_set_ops",
    oracle="""
    SELECT 'both' AS bucket, user_id FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    UNION ALL
    SELECT 'purchase_only' AS bucket, user_id FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      EXCEPT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    """,
    tags=("O",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT over per-type user sets."""
    ev = load_table(spark, sf_dir, "events")
    purch = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    err = ev.where(F.col("event_type") == "error").select("user_id").distinct()
    both = purch.intersect(err).select(F.lit("both").alias("bucket"), "user_id")
    only = purch.exceptAll(err).select(F.lit("purchase_only").alias("bucket"), "user_id")
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# Rolling window frame — rowsBetween moving average (SURVEY §2.7
# 'not present' row: rolling frames for gold analytics)
# ---------------------------------------------------------------------------


@register(
    "q_rolling_avg",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n_rows
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           {sql_ts_str('hour_ts')} AS hour,
           n_rows,
           ROUND(AVG(n_rows) OVER (PARTITION BY event_type ORDER BY hour_ts
                                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 6)
             AS rolling_24h_avg
    FROM hourly
    """,
    tags=("W", "rolling"),
)
def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour moving average of hourly event counts per type
    (hour-over-hour gold analytics, SURVEY §2.7). AVG over a bigint
    count inside a ROWS frame; rounded to absorb engine-side division
    ordering."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_ts")
        .rowsBetween(-23, Window.currentRow)
    )
    return hourly.select(
        "event_type",
        ts_str(F.col("hour_ts")).alias("hour"),
        "n_rows",
        F.round(F.avg("n_rows").over(w), 6).alias("rolling_24h_avg"),
    )


# ---------------------------------------------------------------------------
# P7 — relative-date literal arithmetic (anchored, deterministic)
# ---------------------------------------------------------------------------


@register(
    "q_relative_dates",
    oracle=f"""
    WITH anchored AS (
      SELECT TIMESTAMP '2024-02-15 13:45:00' AS now_ts
    )
    SELECT {sql_ts_str("now_ts - INTERVAL 3 DAY")} AS three_days_ago,
           {sql_ts_str("date_trunc('hour', now_ts - INTERVAL 3 DAY)")} AS three_days_ago_hour,
           {sql_ts_str("now_ts - INTERVAL 6 MONTH")} AS six_months_ago,
           {sql_ts_str("date_trunc('quarter', now_ts - INTERVAL 6 MONTH)")} AS six_months_ago_quarter,
           {sql_ts_str("date_trunc('month', now_ts - INTERVAL 3 MONTH)")} AS three_months_ago_month,
           {sql_ts_str("CAST(last_day(CAST(now_ts AS DATE)) AS TIMESTAMP)")} AS this_month_end
    FROM anchored
    """,
    tags=("P7",),
)
def q_relative_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's relative-date literal family (P7): now−3 days
    truncated to hour (EIA930PipelineHourlyData.py:48), now−6 months →
    quarter (EIA7APipelineQuarterlyData.py:51), today−3 months → month
    (EIA814PipelineMonthlyData.py:19), month-end. Anchored at a fixed
    literal so both engines compute the same values (wall-clock 'now'
    is the caller's policy, not the operator's)."""
    anchored = spark.range(1).select(
        F.lit("2024-02-15 13:45:00").cast("timestamp_ntz").alias("now_ts")
    )
    return anchored.select(
        ts_str(F.expr("now_ts - INTERVAL 3 DAY")).alias("three_days_ago"),
        ts_str(F.date_trunc("hour", F.expr("now_ts - INTERVAL 3 DAY"))).alias(
            "three_days_ago_hour"
        ),
        ts_str(F.expr("now_ts - INTERVAL 6 MONTH")).alias("six_months_ago"),
        ts_str(
            F.date_trunc("quarter", F.expr("now_ts - INTERVAL 6 MONTH"))
        ).alias("six_months_ago_quarter"),
        ts_str(
            F.date_trunc("month", F.expr("now_ts - INTERVAL 3 MONTH"))
        ).alias("three_months_ago_month"),
        ts_str(F.last_day(F.col("now_ts").cast("date")).cast("timestamp_ntz")).alias(
            "this_month_end"
        ),
    )


# ---------------------------------------------------------------------------
# Fact-fact join — orders ⋈ lineitem (the big-join shape the gold layer
# needs; neither side broadcastable at 100 TB)
# ---------------------------------------------------------------------------


@register(
    "q_join_fact_fact",
    oracle=f"""
    SELECT o.o_orderstatus,
           l.l_linestatus,
           COUNT(*) AS n_lines,
           {sql_exact_sum('l.l_extendedprice')} AS total_price,
           {sql_exact_sum('o.o_totalprice', 10**4)} AS total_order_price
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY 1, 2
    """,
    tags=("J", "bench"),
)
def q_join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join on the orderkey: at 100 TB neither side
    broadcasts, so this is the shuffle-join shape (sort-merge or
    shuffled-hash, AQE's choice; co-partitioned if both tables are
    bucketed by orderkey at write time — zero join shuffle then).
    The date predicate pushes into the orders scan before the join.

    o_totalprice repeats per line item and sums to ~6e16·scale at
    sf0.1 — scale 1e4 keeps the scaled-long sum far below 2^63.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.where(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum("l_extendedprice").alias("total_price"),
            exact_sum("o_totalprice", 10**4).alias("total_order_price"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-aware aggregation — salted two-phase groupBy (SURVEY §4 skew row)
# ---------------------------------------------------------------------------

_N_SALTS = 8


@register(
    "q_salted_skew_agg",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_rows,
           {sql_exact_sum('value')} AS total_value
    FROM events
    GROUP BY 1
    """,
    tags=("A", "skew"),
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation for hot keys: phase 1 groups on
    (key, salt) spreading each hot key over _N_SALTS reducers, phase 2
    merges the partials. Result is identical to a direct groupBy (the
    oracle is the plain SQL); the plan trades one extra tiny shuffle
    for immunity to single-reducer hot spots — the CISO/MISO-scale-BA
    scenario of SURVEY §4. (AQE skew handling covers joins; salting is
    the aggregation-side tool.)

    The scaled-long partials make the two-phase merge exact — partial
    sums are int64, so re-aggregation loses nothing.
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(_N_SALTS)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col("value") * SCALE).cast("long")).alias("_s"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_rows"),
        (F.sum("_s") / F.lit(float(SCALE))).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Multi-join analytics — TPC-H Q3/Q5 shapes (join reordering +
# mixed broadcast/shuffle strategy selection is Catalyst's job)
# ---------------------------------------------------------------------------


@register(
    "q_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_exact_sum('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue,
           {sql_ts_str('o.o_orderdate')} AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 20
    """,
    tags=("J", "tpch"),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: customer⋈orders⋈lineitem with selective
    predicates on all three tables, grouped revenue, top-20.

    Scale: the customer filter makes that side broadcastable after
    AQE sees the post-filter size; orders⋈lineitem shuffles on
    orderkey (or runs shuffle-free on bucketed tables). All three
    predicates push to their scans. Top-k via TakeOrderedAndProject
    with a unique tiebreaker.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-03-15").cast("timestamp_ntz")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o.where(F.col("o_orderdate") < cutoff), c.c_custkey == o.o_custkey)
        .join(li.where(F.col("l_shipdate") > cutoff), o.o_orderkey == li.l_orderkey)
        .groupBy(
            "l_orderkey",
            ts_str(F.col("o_orderdate")).alias("orderdate"),
            "o_orderpriority",
        )
        .agg(exact_sum(revenue).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(20)
    )


@register(
    "q_regional_volume",
    oracle=f"""
    SELECT r.r_name AS region_name,
           n.n_name AS nation_name,
           COUNT(*) AS n_lines,
           {sql_exact_sum('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    """,
    tags=("J", "tpch"),
)
def q_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: five-table join (two broadcast dims, one
    mid-size dim, two facts) with a date-window predicate, revenue per
    (region, nation). Catalyst orders the joins; the dims broadcast;
    only orders⋈lineitem shuffles."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        F.broadcast(r)
        .join(F.broadcast(n), n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            ),
            o.o_custkey == c.c_custkey,
        )
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(revenue).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Range join — inequality-condition join (SURVEY §2.4: part of the
# engine's join surface; no reference analog)
# ---------------------------------------------------------------------------


@register(
    "q_range_join_periods",
    oracle=f"""
    WITH periods AS (
      SELECT 'H1-1996' AS period_name, TIMESTAMP '1996-01-01' AS p_start,
             TIMESTAMP '1996-07-01' AS p_end
      UNION ALL SELECT 'H2-1996', TIMESTAMP '1996-07-01', TIMESTAMP '1997-01-01'
      UNION ALL SELECT 'H1-1997', TIMESTAMP '1997-01-01', TIMESTAMP '1997-07-01'
    )
    SELECT p.period_name,
           COUNT(*) AS n_lines,
           {sql_exact_sum('l.l_quantity')} AS sum_qty
    FROM lineitem l
    JOIN periods p ON l.l_shipdate >= p.p_start AND l.l_shipdate < p.p_end
    GROUP BY 1
    """,
    tags=("J", "range"),
)
def q_range_join_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: facts against a small interval table on
    start ≤ ts < end. The interval side broadcasts → a broadcast
    nested-loop with both bounds as the join condition; at 100 TB with
    a large interval table the standard rewrite is binning (join on
    date_trunc bucket, then refine) — here the dim is 3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    from batch_processing_etl_orchestration_spark.tables import local_rows_df

    periods = local_rows_df(
        spark,
        [
            ("H1-1996", "1996-01-01 00:00:00", "1996-07-01 00:00:00"),
            ("H2-1996", "1996-07-01 00:00:00", "1997-01-01 00:00:00"),
            ("H1-1997", "1997-01-01 00:00:00", "1997-07-01 00:00:00"),
        ],
        "period_name STRING, p_start STRING, p_end STRING",
    ).select(
        "period_name",
        F.col("p_start").cast("timestamp_ntz").alias("p_start"),
        F.col("p_end").cast("timestamp_ntz").alias("p_end"),
    )
    joined = li.join(
        F.broadcast(periods),
        (li.l_shipdate >= periods.p_start) & (li.l_shipdate < periods.p_end),
    )
    return joined.groupBy("period_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Subqueries — scalar aggregate + EXISTS (Catalyst decorrelation;
# SURVEY §4 'subquery decorrelation' built-in row)
# ---------------------------------------------------------------------------


@register(
    "q_orders_above_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders) * 1.8
    """,
    tags=("subquery",),
)
def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate: orders 1.8× above the global mean.
    Expressed through the SQL surface so Catalyst plans the scalar
    subquery (one-row broadcast), demonstrating the engine's second
    entry point (spark.sql over registered views).

    The comparison predicate is scale-insensitive to double rounding:
    AVG differs between engines only below 1e-12 relative, and the
    1.8× threshold sits in a gap of the price distribution (prices are
    cents-quantized), so the selected set is stable.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders) * 1.8
        """
    )


@register(
    "q_exists_big_spenders",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
    )
    """,
    tags=("subquery", "J"),
)
def q_exists_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS: customers with at least one 400k+ order.
    Catalyst decorrelates to a left semi-join on the filtered orders —
    same physical shape as J1, arrived at from SQL."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_acctbal
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0
        )
        """
    )


# ---------------------------------------------------------------------------
# Percentiles — exact interpolated quantiles + sketch variant
# ---------------------------------------------------------------------------


@register(
    "q_value_percentiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY 1
    """,
    tags=("A", "percentile"),
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`: linear interpolation over the sorted
    values). Rounded to 6dp — the interpolation arithmetic can differ
    by an ulp between engines. At 100 TB the sketch variant
    (approx_percentile, below in q_approx_count_distinct's family)
    replaces the exact sort-based path.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Top-N per group — the per-key ranking pattern
# ---------------------------------------------------------------------------


@register(
    "q_top3_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rk
    FROM (
      SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    WHERE rk <= 3
    """,
    tags=("W", "topn"),
)
def q_top3_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment: broadcast dim join + ranked
    window with unique tiebreak. One shuffle on the partition key;
    Spark pushes a per-partition rank limit (WindowGroupLimit) so the
    sort never materializes beyond k rows per key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Histogram — fixed-width value bucketing
# ---------------------------------------------------------------------------


@register(
    "q_value_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           {sql_exact_sum('value')} AS bucket_sum
    FROM events
    GROUP BY 1, 2
    """,
    tags=("A", "histogram"),
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the value column per type — floor
    bucketing is exact integer arithmetic after one deterministic
    double division."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type",
        F.floor(F.col("value") / F.lit(50.0)).cast("bigint").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum("value").alias("bucket_sum"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS — the general grouping-set surface (ROLLUP and CUBE
# above are its hierarchical/powerset specializations); the set list
# here is deliberately NON-hierarchical, so neither rollup nor cube
# could express it.
# ---------------------------------------------------------------------------


@register(
    "q_grouping_sets",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           COUNT(*) AS n_rows,
           {sql_exact_sum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
    tags=("A", "grouping-sets"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregation with GROUPING() markers (which
    disambiguate a NULL grouping key from a super-aggregate row).
    Catalyst plans one Expand + one hash aggregate — a single scan
    and a single shuffle regardless of how many sets are listed, which
    is exactly the 100 TB-friendly shape (vs one job per set unioned).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag,
               l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               COUNT(*) AS n_rows,
               {sql_exact_sum('l_extendedprice')} AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape — the pure filter-aggregate: every predicate must reach
# the parquet scan, the plan is scan → partial agg → single-row final
# ---------------------------------------------------------------------------


@register(
    "q_filter_agg_pushdown",
    oracle=f"""
    SELECT {sql_exact_sum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("A", "pushdown"),
)
def q_filter_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive range predicates + global aggregate.
    At 100 TB this is the pushdown showcase — all four predicates land
    in the parquet scan (row-group min/max skipping), shipdate prunes
    date partitions, and the aggregate is one partial/final pair with
    a single-row exchange. Product sum at scale 1e6: |x| ≤ 1e4 and
    ~6e5 rows/sf0.1 keep the scaled-long fold far under 2^63."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Window-function variety: rank/dense_rank/lead/first_value with an
# explicit frame (q_window_lag covers lag/row_number)
# ---------------------------------------------------------------------------


@register(
    "q_window_rank_frames",
    oracle="""
    SELECT event_id, user_id, value,
           rank()       OVER w AS value_rank,
           dense_rank() OVER w AS value_dense_rank,
           lead(value)  OVER w AS next_value,
           first_value(value) OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS top_value
    FROM events
    WHERE user_id < 20
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
    tags=("W", "window"),
)
def q_window_rank_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / lead / first_value-with-frame over per-user
    value ordering (event_id tiebreak keeps every function
    deterministic — Spark sorts are not stable, SURVEY O3). One
    window spec → one shuffle+sort serves all four functions."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.rank().over(w).alias("value_rank"),
        F.dense_rank().over(w).alias("value_dense_rank"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(wf).alias("top_value"),
    )


# ---------------------------------------------------------------------------
# Correlated aggregate subquery (TPC-H Q17 shape) — Catalyst must
# decorrelate into one join against the per-group aggregate, not
# re-execute the subquery per row
# ---------------------------------------------------------------------------


@register(
    "q_small_quantity_revenue",
    oracle=f"""
    SELECT l.l_partkey,
           COUNT(*) AS n_small,
           {sql_exact_sum('l.l_extendedprice')} AS small_revenue
    FROM lineitem l
    WHERE l.l_quantity < (
      SELECT 0.4 * AVG(l2.l_quantity)
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY 1
    """,
    tags=("subquery",),
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery (TPC-H Q17 shape): lineitems whose
    quantity is under 40% of their part's average. Catalyst
    decorrelates this into a single aggregate + join — one scan pair,
    not a per-row subquery execution; the 0.4 multiplier lands the
    threshold strictly between integer quantities so the selected set
    is stable under double rounding in either engine."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l.l_partkey,
               COUNT(*) AS n_small,
               {sql_exact_sum('l.l_extendedprice')} AS small_revenue
        FROM lineitem l
        WHERE l.l_quantity < (
          SELECT 0.4 * AVG(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY 1
        """
    )


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas — the batch grouped-UDF surface (the
# streaming flavor is q_stream_stateful_totals; mapInPandas powers the
# multimodal/ANN kernels). Semantics chosen to be integer-exact so the
# Python path still hash-matches the SQL oracle.
# ---------------------------------------------------------------------------


@register(
    "q_grouped_map_deltas",
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           date_diff('microsecond',
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                     ts) AS us_since_prev
    FROM events
    WHERE user_id < 20
    """,
    tags=("W", "udf"),
)
def q_grouped_map_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps via grouped-map ``applyInPandas`` —
    each user's history arrives as one pandas frame (sorted in Python;
    Spark grouped-map gives no intra-group order), the gap is an
    integer microsecond count, so the Arrow path is bit-exact against the
    SQL lag() oracle. At scale the shuffle key is user_id and each
    group must fit one executor's memory — the operator of choice when
    per-entity logic genuinely needs imperative pandas (model scoring,
    per-entity curve fitting), NOT for things a window can express
    (the lag twin q_window_lag stays JVM-side)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20).select(
        "user_id", "event_id", "ts"
    )

    def deltas(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        # integer nanos -> exact microsecond gaps (no float rounding,
        # and microsecond granularity makes 'boundaries crossed' ==
        # 'elapsed units', so it matches date_diff exactly)
        ns = pdf["ts"].astype("int64")
        dif = ns.diff()
        gaps = [None if pd.isna(v) else int(v) // 1000 for v in dif]
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "ts_str": pdf["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                "us_since_prev": gaps,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        deltas, "user_id BIGINT, event_id BIGINT, ts_str STRING, us_since_prev BIGINT"
    )


# ---------------------------------------------------------------------------
# S1-S4 scale path: the Spark 4 Python Data Source (sources/pyds.py)
# exercised end-to-end — page windows planned as input partitions,
# rows fetched executor-side, then a standard silver aggregation.
# The synthetic profile is pure modular arithmetic over the row
# index, so the oracle regenerates the identical dataset with
# generate_series and the whole path hash-checks.
# ---------------------------------------------------------------------------


@register(
    "q_python_datasource_scan",
    oracle="""
    WITH idx AS (SELECT unnest(generate_series(0, 1999)) AS i),
    rows_ AS (
      SELECT 'BA' || CAST((i % 28) // 4 AS VARCHAR) AS respondent,
             CASE i % 4 WHEN 0 THEN 'D' WHEN 1 THEN 'DF'
                        WHEN 2 THEN 'NG' ELSE 'TI' END AS type,
             (i * 37) % 1000 AS v
      FROM idx
    )
    SELECT respondent, type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM rows_ GROUP BY 1, 2
    """,
    tags=("S1", "datasource"),
)
def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan 2000 synthetic endpoint rows through the registered
    restpages data source (4 page windows of 512 → 4 input
    partitions) and aggregate per (respondent, type) — attesting the
    executor-side pagination path itself, not a staged copy. String
    values coerce with try_cast (bronze is all-strings, P4)."""
    from batch_processing_etl_orchestration_spark.sources.pyds import (
        register_restpages,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_restpages(spark)
    df = (
        spark.read.format("restpages")
        .option("n_rows", "2000")
        .option("page_size", "512")
        .load()
    )
    return df.groupBy("respondent", "type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("try_cast(value AS BIGINT)")).alias("sum_value"),
    )


@register(
    "q_python_datasource_pushdown",
    oracle="""
    WITH idx AS (SELECT unnest(generate_series(0, 1999)) AS i),
    rows_ AS (
      SELECT '2024-01-' || lpad(CAST((i // 28) // 24 + 1 AS VARCHAR), 2, '0')
               || 'T' || lpad(CAST((i // 28) % 24 AS VARCHAR), 2, '0') AS period,
             'BA' || CAST((i % 28) // 4 AS VARCHAR) AS respondent,
             (i * 37) % 1000 AS v
      FROM idx
    )
    SELECT period, respondent,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM rows_
    WHERE period >= '2024-01-02T12' AND period < '2024-01-03T00'
    GROUP BY 1, 2
    """,
    tags=("S1", "datasource", "pushdown"),
)
def q_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 server-side range predicate as a plain WHERE clause:
    pushFilters translates the period bounds to an offset range at
    planning time, so only the 6 in-range page windows are planned
    (reference analog: the start/end params the page loop sends at
    EIA930PipelineHourlyData.py:51-53). The oracle regenerates the
    same rows and applies the same range; a pushdown bug that
    mis-prunes a boundary block hash-mismatches immediately."""
    from batch_processing_etl_orchestration_spark.sources.pyds import (
        register_restpages,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_restpages(spark)
    df = (
        spark.read.format("restpages")
        .option("n_rows", "2000")
        .option("page_size", "56")
        .load()
        .where(
            (F.col("period") >= "2024-01-02T12") & (F.col("period") < "2024-01-03T00")
        )
    )
    return df.groupBy("period", "respondent").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("try_cast(value AS BIGINT)")).alias("sum_value"),
    )


@register(
    "q_python_datasource_project",
    oracle="""
    WITH idx AS (SELECT unnest(generate_series(0, 1999)) AS i),
    rows_ AS (
      SELECT 'BA' || CAST((i % 28) // 4 AS VARCHAR) AS respondent,
             (i * 37) % 1000 AS v
      FROM idx
    )
    SELECT respondent,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM rows_ GROUP BY 1
    """,
    tags=("S1", "datasource", "projection"),
)
def q_python_datasource_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 measure projection (reference: data[0]=value at
    EIA930PipelineHourlyData.py:52) through the restpages source's
    ``columns`` option: the source schema narrows to
    (respondent, value) at PLANNING time, so period/type are never
    materialized on any executor — the Python-source equivalent of a
    parquet scan whose ReadSchema lists two columns (PySpark 4.1's
    DataSourceReader has no pushColumns hook, so the option is the
    projection path). The oracle regenerates the same rows from the
    row-index function; a projection bug that shifts or drops a field
    hash-mismatches."""
    from batch_processing_etl_orchestration_spark.sources.pyds import (
        register_restpages,
    )

    # RestPagesReader implements pushFilters, and Spark hard-errors at
    # planning time when the conf is off — a bare driver session does
    # not set it, so the query must (mirrors the _scan/_pushdown twins).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_restpages(spark)
    df = (
        spark.read.format("restpages")
        .option("n_rows", "2000")
        .option("page_size", "512")
        .option("columns", "respondent,value")
        .load()
    )
    assert df.columns == ["respondent", "value"]  # planning-time narrowing
    return df.groupBy("respondent").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("try_cast(value AS BIGINT)")).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# SCD type-2 dimension maintenance (warehouse/scd.py): the attribute-
# history merge the reference's current-state-only warehouse lacks.
# Update batch is deterministic (key-modulo selections, fixed
# effective date) so the full post-apply history hash-checks.
# ---------------------------------------------------------------------------


@register(
    "q_scd2_customer_update",
    oracle="""
    WITH off AS (SELECT MAX(c_custkey) + 1 AS o FROM customer),
    passthrough AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             '1970-01-01' AS valid_from, '9999-12-31' AS valid_to,
             TRUE AS is_current
      FROM customer WHERE c_custkey % 7 <> 3
    ),
    closed AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             '1970-01-01', '2024-06-01', FALSE
      FROM customer WHERE c_custkey % 7 = 3
    ),
    reopened AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100, c_mktsegment,
             '2024-06-01', '9999-12-31', TRUE
      FROM customer WHERE c_custkey % 7 = 3
    ),
    inserted AS (
      SELECT c.c_custkey + off.o, CAST(NULL AS VARCHAR),
             CAST(NULL AS BIGINT), CAST(c.c_custkey % 1000 AS DOUBLE),
             CAST(NULL AS VARCHAR), '2024-06-01', '9999-12-31', TRUE
      FROM customer c, off WHERE c.c_custkey % 50 = 1
    )
    SELECT * FROM passthrough UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM reopened UNION ALL SELECT * FROM inserted
    """,
    tags=("warehouse", "scd2"),
)
def q_scd2_customer_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 apply on the customer dimension: accounts with
    c_custkey % 7 == 3 receive a balance update (close + reopen at
    the effective date), keys shifted past the current max insert as
    brand-new open versions, everything else passes through. The
    oracle regenerates all four branches; matching hashes pin the
    close/reopen/insert logic and untracked-attribute inheritance.

    Scale: one key-shuffle full-outer join against the (small by
    construction) update batch plus unions — no window, no UDF; see
    warehouse/scd.py."""
    from batch_processing_etl_orchestration_spark.warehouse.scd import (
        scd2_apply,
        scd2_init,
    )

    cust = load_table(spark, sf_dir, "customer")
    hist = scd2_init(cust)
    max_key = cust.agg(F.max("c_custkey")).first()[0] + 1
    changes = cust.where(F.col("c_custkey") % 7 == 3).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal")
    )
    news = cust.where(F.col("c_custkey") % 50 == 1).select(
        (F.col("c_custkey") + max_key).alias("c_custkey"),
        (F.col("c_custkey") % 1000).cast("double").alias("c_acctbal"),
    )
    out = scd2_apply(
        hist,
        changes.unionByName(news),
        key_cols=["c_custkey"],
        tracked_cols=["c_acctbal"],
        effective_date="2024-06-01",
    )
    return out.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        "is_current",
    )


@register(
    "q_scd2_point_in_time",
    oracle="""
    SELECT c_custkey, c_acctbal,
           '1970-01-01' AS valid_from
    FROM customer
    """,
    tags=("warehouse", "scd2"),
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time read of the versioned dimension: as of a date
    BEFORE the update batch's effective date, every original key
    resolves to its original version and the inserted keys don't
    exist yet — the join shape every fact-vs-versioned-dim query
    runs. Oracle = the untouched dimension."""
    from batch_processing_etl_orchestration_spark.warehouse.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_init,
    )

    cust = load_table(spark, sf_dir, "customer")
    hist = scd2_init(cust)
    max_key = cust.agg(F.max("c_custkey")).first()[0] + 1
    changes = cust.where(F.col("c_custkey") % 7 == 3).select(
        "c_custkey", (F.col("c_acctbal") + 100).alias("c_acctbal")
    )
    news = cust.where(F.col("c_custkey") % 50 == 1).select(
        (F.col("c_custkey") + max_key).alias("c_custkey"),
        (F.col("c_custkey") % 1000).cast("double").alias("c_acctbal"),
    )
    applied = scd2_apply(
        hist,
        changes.unionByName(news),
        key_cols=["c_custkey"],
        tracked_cols=["c_acctbal"],
        effective_date="2024-06-01",
    )
    return scd2_as_of(applied, "2024-01-01").select(
        "c_custkey",
        "c_acctbal",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
    )


@register(
    "q_corpus_snapshot_diff",
    oracle="""
    SELECT doc_id, 'added' AS change_status
    FROM documents WHERE doc_id % 10 = 7
    UNION ALL
    SELECT doc_id, 'removed' FROM documents WHERE doc_id % 10 = 9
    UNION ALL
    SELECT doc_id, 'changed' FROM documents WHERE doc_id % 10 = 3
    """,
    tags=("warehouse", "cdc"),
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two corpus snapshots
    (warehouse/scd.snapshot_diff): the old snapshot lacks doc_ids
    ending in 7 (they're 'added'), the new one drops ids ending in 9
    ('removed') and revises the text of ids ending in 3 ('changed');
    everything else is unchanged and MUST NOT appear — the diff is
    the incremental pipeline's work queue, and a phantom row means
    reprocessing. Statuses derive from sha2 fingerprints of
    (text, lang, source, n_chars), so wide content never meets the
    join; the oracle enumerates the expected statuses closed-form."""
    from batch_processing_etl_orchestration_spark.warehouse.scd import snapshot_diff

    d = load_table(spark, sf_dir, "documents")
    last = F.col("doc_id") % 10
    old = d.where(last != 7)
    new = d.where(last != 9).withColumn(
        "text",
        F.when(last == 3, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(
        old, new, ["doc_id"], ["text", "lang", "source", "n_chars"]
    )


@register(
    "q_python_datasource_stream",
    oracle="""
    WITH idx AS (SELECT unnest(generate_series(0, 1999)) AS i),
    rows_ AS (
      SELECT 'BA' || CAST((i % 28) // 4 AS VARCHAR) AS respondent,
             (i * 37) % 1000 AS v
      FROM idx
    )
    SELECT respondent,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM rows_ GROUP BY 1
    """,
    tags=("S1", "datasource", "streaming"),
)
def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated endpoint consumed as a STREAM: the restpages
    simple stream reader advances one page window per micro-batch
    (the reference's cron-tick page fetch, with the checkpoint as the
    high-water mark), executed availableNow — 2000 rows over 512-row
    pages = 4+ micro-batches whose drained aggregate must equal the
    batch scan's, which is exactly what the oracle recomputes. A
    lost/duplicated page window changes counts and hash-mismatches."""
    from batch_processing_etl_orchestration_spark.sources.pyds import (
        register_restpages,
    )
    from batch_processing_etl_orchestration_spark.streaming.events import (
        run_stream_until,
    )

    register_restpages(spark)
    stream = (
        spark.readStream.format("restpages")
        .option("n_rows", "2000")
        .option("page_size", "512")
        .load()
    )
    agg = stream.groupBy("respondent").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("try_cast(value AS BIGINT)")).alias("sum_value"),
    )
    # availableNow snapshots only the first read() of a simple stream
    # reader, so drive the stream continuously and stop at the
    # high-water mark: complete-mode totals reach exactly n_rows once
    # every page window has landed (a lost or duplicated page can
    # never sum to 2000).
    return run_stream_until(
        agg, spark, lambda t: t.agg(F.sum("n_rows")).first()[0] == 2000
    )


# ---------------------------------------------------------------------------
# Incremental materialized-aggregate maintenance (warehouse/incremental.py)
# ---------------------------------------------------------------------------


@register(
    "q_incremental_mv_refresh",
    oracle=f"""
    WITH uni AS (
      SELECT CAST(ts AS DATE) AS d, event_type, value FROM events
      UNION ALL
      SELECT CAST(ts AS DATE) AS d, event_type, value * 2 AS value
      FROM events
      WHERE event_type = 'click'
        AND EXTRACT(day FROM ts) BETWEEN 5 AND 7
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           event_type,
           {sql_exact_sum('value')} AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           COUNT(*) AS n_rows
    FROM uni
    GROUP BY d, event_type
    """,
    tags=("warehouse", "incremental"),
)
def q_incremental_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-incremental materialized aggregate: build the daily
    per-type rollup from history (days ≤ 15), then MERGE two deltas —
    the new days 16..30, then a late-arriving correction (clicks on
    days 5..7 re-delivered at 2× value) — and read the MV back. The
    oracle recomputes the whole union from scratch; a hash match pins
    the algebraic-merge refresh (scaled-long partials, dynamic
    partition overwrite) to full-rebuild semantics across both
    forward-fill and late-data paths.

    The reference re-aggregates the full silver table every DAG run
    (EIA930PipelineHourlyData.py:111-118). Here refresh cost is
    O(|delta| + touched MV groups) and never re-reads the fact: at
    100 TB a day's arrivals touch one partition's partials (integer
    merges), while untouched partitions' files are left in place
    (inode-pinned in tests/test_incremental.py)."""
    import shutil

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        MergeableSpec,
        build_mv,
        delta_refresh,
        read_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
        min_cols={"min_value": "value"},
        max_cols={"max_value": "value"},
    )
    from batch_processing_etl_orchestration_spark.tables import fixture_cache_dir

    mv = fixture_cache_dir(sf_dir, "events.parquet", "incr_mv")
    # the scenario mutates the MV, so always start from a clean slate
    # (a stale dir from an aborted run must not merge twice)
    shutil.rmtree(mv, ignore_errors=True)

    build_mv(ev.where(F.dayofmonth("p_date") <= 15), spec, mv)
    delta_refresh(spark, ev.where(F.dayofmonth("p_date") > 15), spec, mv)
    late = (
        ev.where(
            (F.col("event_type") == "click")
            & F.dayofmonth("p_date").between(5, 7)
        ).withColumn("value", F.col("value") * 2)
    )
    delta_refresh(spark, late, spec, mv)

    return read_mv(spark, spec, mv).select(
        F.date_format("p_date", "yyyy-MM-dd").alias("day"),
        "event_type",
        "total_value",
        "min_value",
        "max_value",
        "n_rows",
    )


@register(
    "q_hll_mv_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS sketch_within_bound
    FROM events
    WHERE EXTRACT(day FROM ts) BETWEEN 5 AND 25
    GROUP BY event_type
    """,
    tags=("warehouse", "incremental", "sketch"),
)
def q_hll_mv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users over an arbitrary date range answered from
    STORED daily HLL partials — no fact scan at query time. The MV
    (warehouse/incremental.py, hll_cols) keeps one 16 KiB HLL++ sketch
    per (day, type); the range query filters ~21 partial rows per
    group and merges registers by max. The exact twin recomputes
    COUNT(DISTINCT) from the facts; the emitted bound flag
    (relative error ≤ 5% at lgConfigK=14, ~0.8% expected) is
    hash-checked by the oracle, following q_approx_count_distinct's
    attestation pattern.

    At 100 TB this is the difference between a full shuffle of user
    ids per dashboard query and a metadata-sized merge: partials are
    built once per partition at ingest (delta_refresh merges late
    data bit-identically — pinned in tests/test_incremental.py) and
    any coarser grain (week, month, all-time) derives from them."""
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        MergeableSpec,
        build_mv,
        rollup_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "user_id")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        hll_cols={"approx_users": "user_id"},
    )
    from batch_processing_etl_orchestration_spark.tables import build_once

    # build-once cache: the MV is read-only here; build_once's
    # completion marker + layout-versioned path make the cache
    # self-validating (an interrupted or prior-layout build rebuilds)
    mv = build_once(
        sf_dir, "events.parquet", "hll_mv", lambda p: build_mv(ev, spec, p)
    )
    in_range = F.dayofmonth("p_date").between(5, 25)
    est = rollup_mv(spark, spec, mv, by=["event_type"], where=in_range)
    exact = ev.where(in_range).groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return exact.join(F.broadcast(est), "event_type").select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("sketch_within_bound"),
    )


# ---------------------------------------------------------------------------
# One-pass table profiling (operators/profile.py)
# ---------------------------------------------------------------------------


def _profile_oracle_col(name: str, kind: str) -> str:
    """One UNION ALL branch of the profiling oracle: the same metrics
    profile_table computes, spelled per-column in ANSI SQL."""
    base = (
        f"SELECT '{name}' AS column, COUNT(*) AS n_rows, "
        # CAST: DuckDB SUM(int) yields HUGEINT, which the driver's
        # pandas-based hash renders as float64 and mismatches Spark's
        # bigint — keep every oracle integer column BIGINT.
        f"CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_nulls, "
        f"COUNT(DISTINCT {name}) AS n_distinct, "
    )
    if kind == "num":
        # exact quotient mean (see operators/profile.py): identical
        # scaled-long sum and count, same division order → the doubles
        # agree bit-for-bit (correctly-rounded IEEE divisions)
        avg = (
            f"CAST(SUM(CAST(ROUND(CAST({name} AS DOUBLE) * {SCALE}) "
            f"AS BIGINT)) AS DOUBLE) / COUNT({name}) / {float(SCALE)}"
        )
        return base + (
            f"CAST(MIN({name}) AS DOUBLE) AS min_num, "
            f"CAST(MAX({name}) AS DOUBLE) AS max_num, "
            f"{avg} AS avg_value, "
            f"CAST(NULL AS VARCHAR) AS min_str, "
            f"CAST(NULL AS VARCHAR) AS max_str FROM events"
        )
    rendered = sql_ts_str(name) if kind == "ts" else name
    return base + (
        "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, "
        "CAST(NULL AS DOUBLE) AS avg_value, "
        f"MIN({rendered}) AS min_str, MAX({rendered}) AS max_str FROM events"
    )


@register(
    "q_profile_events",
    oracle=" UNION ALL ".join(
        _profile_oracle_col(n, k)
        for n, k in [
            ("event_id", "num"), ("ts", "ts"), ("user_id", "num"),
            ("event_type", "str"), ("value", "num"), ("props", "str"),
        ]
    ),
    tags=("profile", "quality"),
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style profile of every events column — null counts,
    exact distinct counts, min/max, exact means — from ONE aggregation
    (operators/profile.py). The reference eyeballs frames driver-side;
    here the scan happens once, metrics are map-side partials, and the
    1-row result explodes into a tidy per-column table without
    touching the driver.

    Exact-distinct mode (oracle-reproducible) plans multiple distincts
    with a single Expand shuffle; at 100 TB pass approx_distinct=True
    for HLL partials — same scan, no expand. Numeric min/max/mean stay
    DOUBLE end-to-end (engines disagree on float → string rendering,
    never on values); the mean uses scaled-long exact sums
    (functions/exact.py overflow bounds: |x|·1e6·rows < 2^63 holds
    for every events column through sf1)."""
    from batch_processing_etl_orchestration_spark.operators.profile import (
        profile_table,
    )

    return profile_table(load_table(spark, sf_dir, "events"))


@register(
    "q_zorder_pointlookup",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id BETWEEN 10 AND 20 AND value BETWEEN 100 AND 130
    """,
    tags=("layout", "zorder"),
)
def q_zorder_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective two-dimensional lookup against a Z-ORDERED copy of
    events (warehouse/layout.py zorder_by: equi-depth bucket ranks,
    Morton bit-interleave, repartitionByRange — all JVM expressions).
    The oracle filters the original table; a hash match pins that
    clustering is a pure reorder (no row lost, duplicated, or
    mutated).

    The speed claim is audited separately (tests/test_layout.py): a
    value-only predicate overlaps 16/16 linear-sorted files but ≤ 8/16
    z-ordered ones, and this query's 7%×6% box touches ≤ 4/16 — the
    same footer min/max that parquet row-group pruning and
    Delta/Iceberg file skipping consult at 100 TB, where a linear sort
    can serve only its leading column."""
    import os

    from batch_processing_etl_orchestration_spark.warehouse.layout import zorder_by

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    from batch_processing_etl_orchestration_spark.tables import build_once

    zpath = build_once(
        sf_dir,
        "events.parquet",
        "zorder_events",
        lambda p: zorder_by(ev, ["user_id", "value"], 16, bits_per_dim=4)
        .write.mode("overwrite")
        .parquet(p),
    )
    return spark.read.parquet(zpath).where(
        F.col("user_id").between(10, 20) & F.col("value").between(100, 130)
    ).select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# Data-quality expectations + referential integrity
# (operators/expectations.py)
# ---------------------------------------------------------------------------


_DQ_RULES_SQL = [
    ("quantity_positive", "l_quantity > 0"),
    ("discount_in_range", "l_discount BETWEEN 0 AND 0.1"),
    ("tax_in_range", "l_tax BETWEEN 0 AND 0.08"),
    ("returnflag_domain", "l_returnflag IN ('A','N','R')"),
    ("discount_small", "l_discount <= 0.05"),
    ("shipped_before_1998", "l_shipdate < DATE '1998-01-01'"),
]


@register(
    "q_dq_expectations",
    oracle=" UNION ALL ".join(
        f"SELECT '{name}' AS rule, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN NOT COALESCE({pred}, FALSE) THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS n_violations, "
        f"CAST(COUNT(*) - SUM(CASE WHEN NOT COALESCE({pred}, FALSE) THEN 1 "
        f"ELSE 0 END) AS BIGINT) / COUNT(*) "
        f"AS pass_rate FROM lineitem"
        for name, pred in _DQ_RULES_SQL
    ),
    tags=("quality", "expectations"),
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six declarative rules audited over lineitem in ONE scan
    (operators/expectations.py): every rule is a conditional-sum
    expression in the same aggregation, so rule count never multiplies
    I/O. Four rules hold on the fixture; 'discount_small' and
    'shipped_before_1998' are deliberately violated so nonzero counts
    flow through the oracle hash. NULL rule results count as
    violations (strict audit semantics, mirrored by the oracle's
    COALESCE).

    The reference has no validation between fetch and INSERT
    (databaseOperations.py writes payloads as-is) — this is the audit
    a 100 TB ingest puts in front of the warehouse, with
    split_expectations quarantining the rows rule-by-rule (tested in
    tests/test_expectations.py)."""
    from batch_processing_etl_orchestration_spark.operators.expectations import (
        check_expectations,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rules = {
        "quantity_positive": F.col("l_quantity") > 0,
        "discount_in_range": F.col("l_discount").between(0, 0.1),
        "tax_in_range": F.col("l_tax").between(0, 0.08),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
        "discount_small": F.col("l_discount") <= 0.05,
        "shipped_before_1998": F.col("l_shipdate") < F.lit("1998-01-01").cast("date"),
    }
    return check_expectations(li, rules)


@register(
    "q_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           (SELECT COUNT(*) FROM lineitem) AS n_rows,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
    tags=("quality", "integrity"),
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide foreign-key audit: per FK, one left join against
    the DISTINCT parent keys and a conditional orphan count
    (operators/expectations.py fk_orphans) — the star schema's five
    edges in five key-only joins, dims broadcast, fact keys never
    leaving the JVM. NULL child keys count as orphans.

    The reference's schema declares no FK constraints
    (databaseOperations.py DDL) and Postgres-scale checking wouldn't
    survive 100 TB anyway; distributed key-projection joins are how
    integrity gets audited at that scale."""
    from batch_processing_etl_orchestration_spark.operators.expectations import (
        fk_orphans,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    checks = [
        fk_orphans(li, "l_orderkey", orders, "o_orderkey",
                   "lineitem.l_orderkey->orders"),
        fk_orphans(li, "l_partkey", part, "p_partkey",
                   "lineitem.l_partkey->part"),
        fk_orphans(li, "l_suppkey", supplier, "s_suppkey",
                   "lineitem.l_suppkey->supplier"),
        fk_orphans(orders, "o_custkey", customer, "c_custkey",
                   "orders.o_custkey->customer"),
        fk_orphans(customer, "c_nationkey", nation, "n_nationkey",
                   "customer.c_nationkey->nation"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "q_lambda_serving",
    oracle=f"""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           event_type,
           {sql_exact_sum('value')} AS total_value,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY CAST(ts AS DATE), event_type
    """,
    tags=("warehouse", "incremental", "serving"),
)
def q_lambda_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving view = MV history ∪ live tail: days ≤ 25 come from the
    materialized partial store (finalized, zero fact I/O), days > 25
    from a date-pruned aggregation of the raw events — the
    batch/speed-layer split every dashboard over a 100 TB fact table
    runs. The oracle aggregates everything from raw facts; a hash
    match proves the seam is invisible: no day double-served, none
    dropped, and MV partials finalize to exactly what a fresh
    aggregation of their days would produce.

    Scale: the MV leg reads aggregated partials (partition-pruned to
    its day range); the live leg scans only the tail days' partitions
    of the fact. Query cost is O(tail) + O(served groups), however
    deep the history grows."""
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        MergeableSpec,
        build_mv,
        read_mv,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        sum_cols={"total_value": "value"},
    )
    from batch_processing_etl_orchestration_spark.tables import build_once

    # history ingested through day 25 — build-once, deterministic,
    # self-validating (completion marker + layout-versioned path)
    mv = build_once(
        sf_dir,
        "events.parquet",
        "lambda_mv",
        lambda p: build_mv(ev.where(F.dayofmonth("p_date") <= 25), spec, p),
    )

    history = read_mv(spark, spec, mv)
    live = (
        ev.where(F.dayofmonth("p_date") > 25)
        .groupBy("p_date", "event_type")
        .agg(
            exact_sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return history.unionByName(live).select(
        F.date_format("p_date", "yyyy-MM-dd").alias("day"),
        "event_type",
        "total_value",
        "n_rows",
    )


@register(
    "q_histogram_mv_quantiles",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN 51
                  ELSE 1 + CAST(FLOOR((value - 0.0) * 50 / 500.0) AS INT)
             END AS cell
      FROM events
    ),
    c AS (SELECT event_type, cell, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total
            FROM c GROUP BY 1),
    cum AS (
      SELECT c.event_type, c.cell, t.total,
             SUM(c.cnt) OVER (PARTITION BY c.event_type ORDER BY c.cell)
               AS cum
      FROM c JOIN tot t USING (event_type)
    ),
    cells AS (
      SELECT event_type,
             MIN(CASE WHEN cum >= CAST(CEIL(total * 0.5) AS BIGINT)
                      THEN cell END) AS c50,
             MIN(CASE WHEN cum >= CAST(CEIL(total * 0.9) AS BIGINT)
                      THEN cell END) AS c90,
             ANY_VALUE(total) AS n_rows
      FROM cum GROUP BY event_type
    )
    SELECT event_type,
           CAST(CASE WHEN c50 <= 0 THEN 0.0 WHEN c50 >= 51 THEN 500.0
                ELSE c50 * 10.0 END AS DOUBLE) AS est_p50,
           CAST(CASE WHEN c90 <= 0 THEN 0.0 WHEN c90 >= 51 THEN 500.0
                ELSE c90 * 10.0 END AS DOUBLE) AS est_p90,
           n_rows
    FROM cells
    """,
    tags=("warehouse", "incremental", "sketch"),
)
def q_histogram_mv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles served from STORED histogram partials: the MV keeps
    one 52-cell int64 count-histogram of `value` per (day, type)
    (warehouse/incremental.py hist_cols); the query merges daily
    arrays element-wise per type (exact integer addition — rollup ≡
    direct build, pinned in tests) and walks the merged histogram
    with two JVM higher-order aggregates to the p50/p90 cell upper
    edges. Everything after the build is integer arithmetic, so the
    oracle reproduces the estimates EXACTLY from its own SQL
    histogram — no attestation flag needed; the containment bound
    (the chosen cell holds the rank-⌈q·n⌉ value) is pinned in
    test_incremental.py.

    This is the mergeable answer to percentile queries at 100 TB: a
    median-over-any-date-range touches a few hundred stored longs per
    group, never the fact table; error is bounded by bucket width
    (here 10 over [0, 500]), a knob, not a gamble."""
    import os

    from batch_processing_etl_orchestration_spark.warehouse.incremental import (
        MergeableSpec,
        build_mv,
        hist_quantile,
        rollup_mv,
    )

    lo, hi, n = 0.0, 500.0, 50
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("p_date", F.to_date("ts"))
        .select("p_date", "event_type", "value")
    )
    spec = MergeableSpec(
        partition_col="p_date",
        group_cols=("event_type",),
        hist_cols={"value_hist": ("value", lo, hi, n)},
    )
    from batch_processing_etl_orchestration_spark.tables import build_once

    mv = build_once(
        sf_dir, "events.parquet", "hist_mv", lambda p: build_mv(ev, spec, p)
    )

    return rollup_mv(spark, spec, mv, by=["event_type"]).select(
        "event_type",
        hist_quantile("value_hist", 0.5, lo, hi, n).alias("est_p50"),
        hist_quantile("value_hist", 0.9, lo, hi, n).alias("est_p90"),
        "n_rows",
    )


@register(
    "q_fixed_width_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    tags=("S", "source", "fixedwidth"),
)
def q_fixed_width_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text record scan: the nation dim is rendered to
    8/20/4-byte fields (sources/files.render_fixed_width — concat of
    rpads, JVM-side), written once with the text writer, and parsed
    back by byte range (read_fixed_width: substring + trim +
    try_cast projections, whole-stage codegen — no UDF). The oracle
    is the original table; a hash match proves the render → write →
    scan → parse loop is lossless, exercising the mainframe-style
    format family (COBOL copybook exports, bank/telco feeds) the
    reference's CSV/Excel scans don't cover.

    Scale: parsing is a projection over spark.read.text — splittable,
    pushdown-friendly (ReadSchema carries only `value`), and each
    field costs one substring, so a 100 TB fixed-width feed scans at
    text-source throughput."""
    import os

    from batch_processing_etl_orchestration_spark.sources.files import (
        read_fixed_width,
        render_fixed_width,
    )

    nat = load_table(spark, sf_dir, "nation")
    from batch_processing_etl_orchestration_spark.tables import build_once

    path = build_once(
        sf_dir,
        "nation.parquet",
        "fixed_width",
        lambda p: render_fixed_width(
            nat, [("n_nationkey", 8), ("n_name", 20), ("n_regionkey", 4)]
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(p),
    )
    return read_fixed_width(
        spark,
        path,
        [("n_nationkey", 8, "int"), ("n_name", 20, "string"),
         ("n_regionkey", 4, "int")],
    )


@register(
    "q_fuzzy_join_names",
    oracle="""
    WITH probes AS (
      SELECT c_custkey AS probe_key,
             substr(c_name, 1, c_custkey % 18)
               || 'x'
               || substr(c_name, c_custkey % 18 + 2) AS probe_name
      FROM customer WHERE c_custkey % 10 = 0
    )
    SELECT p.probe_key,
           c.c_custkey AS matched_key,
           levenshtein(p.probe_name, c.c_name) AS dist
    FROM probes p, customer c
    WHERE levenshtein(p.probe_name, c.c_name) <= 1
    """,
    tags=("J", "fuzzy", "resolution"),
)
def q_fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: every 10th customer name gets one
    deterministic character substitution ('x' at position
    custkey % 18), then the corrupted probes are matched back to the
    dimension at edit distance ≤ 1 via pigeonhole segment blocking
    (operators/fuzzy.py) — candidates share an exact half, verify is
    JVM levenshtein on candidates only. The oracle does the honest
    quadratic thing (150×1500 levenshtein at sf0.01); a hash match
    proves blocking lost no pair — the PassJoin pigeonhole is
    complete for substitutions by construction.

    Scale: the shuffle carries (segment, key) rows — never the cross
    product; candidate volume tracks segment selectivity like LSH
    band buckets track Jaccard density. The quadratic oracle is the
    reason this operator exists: at 100 TB nobody can run it."""
    from batch_processing_etl_orchestration_spark.operators.fuzzy import (
        wildcard_fuzzy_join,
    )

    cust = load_table(spark, sf_dir, "customer")
    probes = cust.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("probe_key"),
        F.concat(
            F.expr("substr(c_name, 1, c_custkey % 18)"),
            F.lit("x"),
            F.expr("substr(c_name, c_custkey % 18 + 2)"),
        ).alias("name"),
    )
    cands = cust.select(
        F.col("c_custkey").alias("matched_key"), F.col("c_name").alias("name")
    )
    # Character-deletion neighborhood (VERDICT r6 perf-weak fix):
    # every c_name shares the 'Customer#' prefix, so POSITION-uniform
    # segment blocking stranded segments on the constant region and
    # kept-bucket size grew linearly with sf (22.5× time for 10× data
    # at sf1). The wildcard scheme's buckets are strings agreeing on
    # all but one char — width bounded by the alphabet, never by sf —
    # so candidate volume is output-linear at any scale. Every probe
    # is a same-length substitution, exactly the scheme's
    # completeness domain; blocked_fuzzy_join remains the general-
    # edit path, entropy_blocked_fuzzy_join the long-string path.
    return wildcard_fuzzy_join(
        probes, cands, "name",
        left_keep=["probe_key"], right_keep=["matched_key"],
    )


@register(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE recs AS (
      SELECT c_custkey * 2 AS rid, substr(md5(c_name), 1, 12) AS ident
      FROM customer
      UNION ALL
      SELECT c_custkey * 2 + 1,
             substr(substr(md5(c_name), 1, 12), 1, c_custkey % 12)
               || 'q'
               || substr(substr(md5(c_name), 1, 12), c_custkey % 12 + 2)
      FROM customer WHERE c_custkey % 7 = 3
    ),
    edges0 AS (
      SELECT a.rid AS src, b.rid AS dst
      FROM recs a, recs b
      WHERE a.rid < b.rid AND levenshtein(a.ident, b.ident) <= 1
    ),
    edges AS (
      SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0
    ),
    walk(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src
    ),
    comp AS (
      SELECT src AS rid, LEAST(src, MIN(dst)) AS comp_id
      FROM walk GROUP BY src
    ),
    lab AS (
      SELECT r.rid, COALESCE(c.comp_id, r.rid) AS entity_id
      FROM recs r LEFT JOIN comp c ON r.rid = c.rid
    )
    SELECT entity_id, COUNT(*) AS n_records,
           CAST(SUM(rid) AS BIGINT) AS sum_record_id
    FROM lab GROUP BY 1
    """,
    tags=("J", "fuzzy", "resolution", "graph"),
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution — the full block → match →
    cluster → canonicalize pipeline over a dirty registry: customer
    identifiers (12-hex-char content hashes) plus a corrupted
    re-registration for every 7th customer ('q' substituted at a
    key-derived position — 'q' is outside the hex alphabet, so every
    corruption is a genuine 1-substitution). Matching is the
    character-deletion-neighborhood join (candidates output-linear,
    operators/fuzzy.py); transitive identity is connected components
    with pointer jumping (operators/dedup.py — O(log diameter)
    rounds); the entity id is the component's minimum record id; the
    per-entity rollup is the resolved master the downstream pipeline
    reads. The oracle is the honest quadratic levenshtein cross join
    plus a recursive-CTE walk — exactly what nobody can run at scale,
    which is this operator's reason to exist.

    Scale: every stage is bounded — the match shuffle carries
    ×12 blanked variants of 12-char keys, CC rounds shuffle compact
    (long, long) labels, and the rollup is one groupBy on entity_id.
    No stage is quadratic in records; high-entropy identifiers keep
    deletion-neighborhood buckets at alphabet width. Record ids use
    the 2k/2k+1 bipartite encoding (originals even, re-registrations
    odd) — disjoint at ANY corpus size with no max-key scan; the
    additive offset it replaced overlapped the 15M-key sf100 fixture
    and fused ~714k node ids (r12 review catch — the decade bench's
    row-count deficit exposed it)."""
    from batch_processing_etl_orchestration_spark.operators.dedup import (
        connected_components,
    )
    from batch_processing_etl_orchestration_spark.operators.fuzzy import (
        wildcard_fuzzy_join,
    )

    cust = load_table(spark, sf_dir, "customer")
    ident = F.substring(F.md5(F.col("c_name")), 1, 12)
    # Record ids use the 2k / 2k+1 bipartite encoding (originals even,
    # re-registrations odd): disjoint BY CONSTRUCTION at any corpus
    # size, with no scan to find a safe offset. A fixed additive
    # offset is a scale bug — the r12 sf100 fixture's 15M custkeys
    # overlapped a +10,000,000 offset, fusing ~714k unrelated node ids
    # (caught by the decade row-count deficit; review r12).
    originals = cust.select(
        (F.col("c_custkey") * 2).alias("rid"), ident.alias("ident")
    )
    variants = cust.where(F.col("c_custkey") % 7 == 3).select(
        (F.col("c_custkey") * 2 + 1).alias("rid"),
        F.concat(
            F.expr("substr(substr(md5(c_name), 1, 12), 1, c_custkey % 12)"),
            F.lit("q"),
            F.expr("substr(substr(md5(c_name), 1, 12), c_custkey % 12 + 2)"),
        ).alias("ident"),
    )
    recs = originals.unionByName(variants)
    pairs = wildcard_fuzzy_join(
        recs.select(F.col("rid").alias("rid_a"), "ident"),
        recs.select(F.col("rid").alias("rid_b"), "ident"),
        "ident",
        left_keep=["rid_a"],
        right_keep=["rid_b"],
    ).where(F.col("rid_a") < F.col("rid_b"))
    labels = connected_components(pairs, "rid_a", "rid_b")
    resolved = recs.join(
        labels, recs["rid"] == labels["id"], "left"
    ).select(
        "rid", F.coalesce(F.col("comp"), F.col("rid")).alias("entity_id")
    )
    return resolved.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("rid").alias("sum_record_id"),
    )


def _events_base_and_append(spark: SparkSession, sf_dir: str):
    """Shared v0/v1 construction for ALL versioned-events fixtures
    (_versioned_events, _restored_events, _vacuumed_events):
    v0 = days ≤ 20 in 4 files, v1 = days > 20 in 2 files. One
    definition on purpose — the vacuum oracle's removed_files=6
    constant IS 4+2, and the restore/erase oracles aggregate the same
    split, so a divergent copy in one builder would silently break
    another query's hard-coded expectations."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.to_date("ts").alias("d"),
    )
    return (
        ev.where(F.dayofmonth("d") <= 20).repartition(4),
        ev.where(F.dayofmonth("d") > 20).repartition(2),
    )


def _versioned_events(spark: SparkSession, sf_dir: str):
    """Build-once deterministic version history over events:
    v0 = days ≤ 20, v1 = + days > 20 (append), v2 = GDPR erasure of
    user_id % 37 == 5. Returns the VersionedTable."""

    from batch_processing_etl_orchestration_spark.warehouse.snapshots import (
        VersionedTable,
    )

    from batch_processing_etl_orchestration_spark.tables import build_once

    def _build(path: str) -> None:
        base, extra = _events_base_and_append(spark, sf_dir)
        t = VersionedTable.create(spark, path, base)
        t.append(extra)
        t.erase(F.col("user_id") % 37 == 5)

    path = build_once(sf_dir, "events.parquet", "versioned_events", _build)
    return VersionedTable(spark, path)


@register(
    "q_time_travel_read",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events GROUP BY event_type
    """,
    tags=("warehouse", "snapshot", "timetravel"),
)
def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the manifest-versioned table
    (warehouse/snapshots.py): the table's LATEST version (v2) has a
    user erased, but reading v1 — pinned by its immutable manifest —
    still yields every event, which the oracle checks against the raw
    fixture. Data files are never mutated; a version is a file list,
    so historical reads cost the same plan as current ones and cannot
    be disturbed by later commits (append + erase both happen before
    this read).

    At 100 TB this is the audit/reproducibility primitive: training
    run N pins manifest v_k and re-reads byte-identical input forever
    (Delta/Iceberg's model; built here on plain parquet + atomic
    manifest renames)."""
    t = _versioned_events(spark, sf_dir)
    return t.read(1).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
    )


@register(
    "q_gdpr_erase_versioned",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM events WHERE user_id % 37 <> 5 GROUP BY event_type
    """,
    tags=("warehouse", "snapshot", "erasure"),
)
def q_gdpr_erase_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten on the versioned table: v2 erased
    user_id % 37 == 5 by rewriting ONLY the data files that contained
    their rows (matching-file discovery via input_file_name over a
    predicate-pushed scan; untouched files carry over by reference —
    inode-pinned in tests/test_snapshots.py). The latest read must
    equal the fixture minus the erased user — the oracle says so.

    Erasure cost at 100 TB = the few files the user's rows land in,
    not the table; clustering the table by user (zorder_by) shrinks
    exactly this rewrite set."""
    t = _versioned_events(spark, sf_dir)
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
    )


def _restored_events(spark: SparkSession, sf_dir: str):
    """Build-once RESTORE scenario over events: v0 = days ≤ 20,
    v1 = + days > 20 (append), v2 = GDPR erasure of user_id % 37 == 5,
    v3 = RESTORE to v1 (metadata-only rollback of the erasure).
    Separate fixture from _versioned_events — restoring THAT table
    would change what `read()` (latest) returns for
    q_gdpr_erase_versioned. Returns the VersionedTable."""

    from batch_processing_etl_orchestration_spark.warehouse.snapshots import (
        VersionedTable,
    )

    from batch_processing_etl_orchestration_spark.tables import build_once

    def _build(path: str) -> None:
        base, extra = _events_base_and_append(spark, sf_dir)
        t = VersionedTable.create(spark, path, base)
        t.append(extra)
        t.erase(F.col("user_id") % 37 == 5)
        t.restore(1)

    path = build_once(sf_dir, "events.parquet", "restored_events", _build)
    return VersionedTable(spark, path)


@register(
    "q_restore_versioned",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(1 AS BIGINT) AS restored_from,
           TRUE AS files_shared
    FROM events GROUP BY event_type
    """,
    tags=("warehouse", "snapshot", "restore"),
)
def q_restore_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE TO VERSION AS OF: the table's history is
    create → append → GDPR-erase → restore(v1), and the LATEST read
    must equal the full pre-erasure fixture — the rollback undid the
    erasure without touching a data file (snapshots.py restore():
    v3's manifest lists exactly v1's files by reference, which the
    `files_shared` attestation pins alongside the op metadata; the
    erased v2 stays time-travel-readable for audit). Delta's RESTORE
    model: a rollback is one more commit, so it is itself auditable
    and concurrency-safe under the create-exclusive manifest
    protocol.

    At 100 TB this is the bad-deploy undo: a restore costs one JSON
    rename regardless of table size, where a copy-back rollback would
    rewrite the table."""
    t = _restored_events(spark, sf_dir)
    m3, m1 = t._read_manifest(3), t._read_manifest(1)
    files_shared = (
        m3["op"] == "restore"
        and m3["meta"].get("restored_from") == 1
        and m3["files"] == m1["files"]
    )
    return t.read().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.first(
            F.lit(m3["meta"].get("restored_from")).cast("long")
        ).alias("restored_from"),
        F.first(F.lit(bool(files_shared))).alias("files_shared"),
    )


def _vacuumed_events(spark: SparkSession, sf_dir: str):
    """Build-once VACUUM scenario over events: v0 = days ≤ 20 in 4
    files, v1 = + days > 20 in 2 more (append), v2 = compact into one
    file, then vacuum(keep_last=1) — prunes v0/v1 and deletes their
    now-unreferenced 6 data files. The vacuum stats land in
    `_vacuum_stats.json` inside the table dir (underscore-prefixed:
    invisible to Spark's directory listings) so the query attests the
    build-time outcome without re-running the mutation on a cached
    fixture. Returns the VersionedTable."""

    import json
    import os

    from batch_processing_etl_orchestration_spark.warehouse.snapshots import (
        VersionedTable,
        VersionedTableMaintenance,
    )

    from batch_processing_etl_orchestration_spark.tables import build_once

    def _build(path: str) -> None:
        base, extra = _events_base_and_append(spark, sf_dir)
        t = VersionedTable.create(spark, path, base)
        t.append(extra)
        VersionedTableMaintenance(t).compact(target_rows_per_file=10**9)
        stats = VersionedTableMaintenance(t).vacuum(keep_last=1)
        with open(os.path.join(path, "_vacuum_stats.json"), "w") as f:
            json.dump(stats, f)

    path = build_once(sf_dir, "events.parquet", "vacuumed_events", _build)
    return VersionedTable(spark, path)


@register(
    "q_vacuum_versioned",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(1 AS BIGINT) AS n_versions,
           CAST(2 AS BIGINT) AS pruned_versions,
           CAST(6 AS BIGINT) AS removed_files,
           TRUE AS no_orphans,
           TRUE AS old_read_fails
    FROM events
    """,
    tags=("warehouse", "snapshot", "vacuum"),
)
def q_vacuum_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention VACUUM on the versioned table: after
    create(4 files) → append(2) → compact(1) → vacuum(keep_last=1),
    the surviving version must still read EVERY row (the oracle checks
    the full-fixture aggregate), exactly the 6 data files no kept
    manifest references must be gone (`removed_files`, reference-
    counted — never a blind directory sweep), the on-disk parquet set
    must equal the kept manifest's file list (`no_orphans`), and time
    travel to a pruned version must now FAIL LOUDLY
    (`old_read_fails`) — retention is where history honestly ends,
    Delta VACUUM's contract.

    At 100 TB this is the storage-cost lever for versioned data:
    immutable files shared across manifests mean vacuum touches only
    the unreferenced tail, and because restore() commits file lists
    by reference, reference counting (not version age alone) is the
    ONLY deletion rule that cannot corrupt a live version."""
    import json
    import os

    t = _vacuumed_events(spark, sf_dir)
    with open(os.path.join(t.path, "_vacuum_stats.json")) as f:
        stats = json.load(f)
    vs = t.versions()
    kept_files = set(t._read_manifest(vs[-1])["files"])
    on_disk = set()
    for root, _dirs, names in os.walk(t.path):
        for n in names:
            if n.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, n), t.path)
                on_disk.add(rel)
    try:
        t.read(0)
        old_read_fails = False
    except FileNotFoundError:
        # Only the documented failure mode counts: _read_manifest of a
        # pruned version raises FileNotFoundError. A bare Exception
        # here would let an unrelated error (session death, corrupted
        # surviving manifest) masquerade as the retention contract
        # holding.
        old_read_fails = True
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.first(F.lit(len(vs)).cast("long")).alias("n_versions"),
        F.first(
            F.lit(int(stats["pruned_versions"])).cast("long")
        ).alias("pruned_versions"),
        F.first(
            F.lit(int(stats["removed_files"])).cast("long")
        ).alias("removed_files"),
        F.first(F.lit(bool(on_disk == kept_files))).alias("no_orphans"),
        F.first(F.lit(bool(old_read_fails))).alias("old_read_fails"),
    )


def _merged_customers(spark: SparkSession, sf_dir: str):
    """Build-once MERGE scenario on a versioned customer table:
    v0 = the customer fixture; v1 = one MERGE applying a CDC batch
    derived deterministically from the fixture itself —
      - UPDATE:  c_custkey % 19 == 3  → acctbal + 100
      - DELETE:  c_custkey % 19 == 7  → row removed (flagged by the
                 sentinel acctbal the delete_condition matches)
      - INSERT:  c_custkey % 19 == 11 → new key -c_custkey, bal 50
    Returns the VersionedTable."""

    from batch_processing_etl_orchestration_spark.warehouse.snapshots import (
        VersionedTable,
    )

    from batch_processing_etl_orchestration_spark.tables import build_once

    def _build(path: str) -> None:
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
        )
        t = VersionedTable.create(spark, path, cust.repartition(8))
        k = F.col("c_custkey")
        src = (
            cust.where(k % 19 == 3)
            .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100, 2))
            .unionByName(
                cust.where(k % 19 == 7).withColumn(
                    "c_acctbal", F.lit(-99999.0)
                )
            )
            .unionByName(
                cust.where(k % 19 == 11)
                .withColumn("c_custkey", -k)
                .withColumn("c_acctbal", F.lit(50.0))
            )
        )
        t.merge(
            src, ["c_custkey"], delete_condition=F.col("c_acctbal") == -99999.0
        )

    path = build_once(sf_dir, "customer.parquet", "merged_customers", _build)
    return VersionedTable(spark, path)


@register(
    "q_merge_versioned",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
    ),
    src AS (
      SELECT c_custkey, c_name, c_mktsegment,
             ROUND(c_acctbal + 100, 2) AS c_acctbal, FALSE AS is_del
      FROM base WHERE c_custkey % 19 = 3
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment, -99999.0, TRUE
      FROM base WHERE c_custkey % 19 = 7
      UNION ALL
      SELECT -c_custkey, c_name, c_mktsegment, 50.0, FALSE
      FROM base WHERE c_custkey % 19 = 11
    ),
    merged AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM src
      WHERE NOT is_del
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c_custkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted,
           {sql_exact_sum('c_acctbal')} AS total_bal
    FROM merged
    GROUP BY c_mktsegment
    """,
    tags=("warehouse", "snapshot", "merge"),
)
def q_merge_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on the manifest-versioned table
    (warehouse/snapshots.py VersionedTable.merge): one CDC batch
    carrying updates, deletes, and inserts lands as ONE copy-on-write
    commit, and the post-merge read must equal the oracle's set
    algebra (base minus touched keys, plus surviving source rows).

    The scale story is Delta/Iceberg's: discovery scans only the key
    column + input_file_name under a broadcast semi-join to name the
    files containing matched keys; untouched files carry into the new
    version BY REFERENCE (inode-pinned in tests/test_snapshots.py);
    the rewrite reads only the hit files and replaces matched rows via
    a broadcast anti-join — no full-outer join, no window. At 100 TB,
    MERGE cost tracks the CDC batch (hit files ≈ touched keys when
    the table is clustered on the merge key), not the table size.

    Reference: the Postgres sink re-runs with duplicates (SURVEY K1,
    databaseOperations.py:383-407); this is that ingestion made
    idempotent at warehouse scale."""
    t = _merged_customers(spark, sf_dir)
    return t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_custkey") < 0, 1).otherwise(0)).alias(
            "n_inserted"
        ),
        exact_sum("c_acctbal").alias("total_bal"),
    )


def _evolved_parts(spark: SparkSession, sf_dir: str):
    """Build-once schema-evolution scenario: v0 = even-key parts
    (3 columns); v1 = odd-key parts appended WITH a new p_margin
    column under allow_schema_evolution. Returns the VersionedTable."""

    from batch_processing_etl_orchestration_spark.warehouse.snapshots import (
        VersionedTable,
    )

    from batch_processing_etl_orchestration_spark.tables import build_once

    def _build(path: str) -> None:
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_name", "p_retailprice"
        )
        t = VersionedTable.create(
            spark, path, part.where(F.col("p_partkey") % 2 == 0).repartition(4)
        )
        t.append(
            part.where(F.col("p_partkey") % 2 == 1).withColumn(
                "p_margin", (F.col("p_partkey") % 7).cast("double") / 10.0
            ),
            allow_schema_evolution=True,
        )

    path = build_once(sf_dir, "part.parquet", "evolved_parts", _build)
    return VersionedTable(spark, path)


@register(
    "q_schema_evolution_read",
    oracle=f"""
    WITH merged AS (
      SELECT p_partkey, p_retailprice, CAST(NULL AS DOUBLE) AS p_margin
      FROM part WHERE p_partkey % 2 = 0
      UNION ALL
      SELECT p_partkey, p_retailprice,
             CAST(p_partkey % 7 AS DOUBLE) / 10.0
      FROM part WHERE p_partkey % 2 = 1
    )
    SELECT p_partkey % 4 AS bucket,
           COUNT(*) AS n_rows,
           CAST(COUNT(p_margin) AS BIGINT) AS n_with_margin,
           {sql_exact_sum('p_retailprice')} AS total_price,
           {sql_exact_sum('COALESCE(p_margin, 0)')} AS total_margin
    FROM merged GROUP BY 1
    """,
    tags=("warehouse", "snapshot", "schema-evolution"),
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on the versioned table: v1 appended a
    p_margin column, so the committed manifest schema — not parquet
    footer sampling — plans the scan, and v0's files null-fill the new
    column at read time with ZERO rewrite (Delta's schema-in-the-log
    model). The oracle rebuilds the same union from the raw fixture:
    even keys must read NULL margins, odd keys their computed ones.

    At 100 TB adding a column is a metadata commit: no data movement,
    no footer scan storm (the schema rides the manifest), and old
    versions still read their own narrower schema — which
    tests/test_snapshots.py pins via time travel."""
    t = _evolved_parts(spark, sf_dir)
    return t.read().groupBy(
        (F.col("p_partkey") % 4).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("p_margin").alias("n_with_margin"),
        exact_sum("p_retailprice").alias("total_price"),
        exact_sum(F.coalesce("p_margin", F.lit(0.0))).alias("total_margin"),
    )


@register(
    "q_winsorize_values",
    oracle=f"""
    WITH b AS (
      SELECT event_type, value,
             CASE WHEN value < 0.0 THEN 0
                  WHEN value >= 500.0 THEN 51
                  ELSE 1 + CAST(FLOOR((value - 0.0) * 50 / 500.0) AS INT)
             END AS cell
      FROM events
    ),
    c AS (SELECT event_type, cell, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total
            FROM c GROUP BY 1),
    cum AS (
      SELECT c.event_type, c.cell, t.total,
             SUM(c.cnt) OVER (PARTITION BY c.event_type ORDER BY c.cell)
               AS cum
      FROM c JOIN tot t USING (event_type)
    ),
    cells AS (
      SELECT event_type,
             MIN(CASE WHEN cum >= CAST(CEIL(total * 0.05) AS BIGINT)
                      THEN cell END) AS c05,
             MIN(CASE WHEN cum >= CAST(CEIL(total * 0.95) AS BIGINT)
                      THEN cell END) AS c95
      FROM cum GROUP BY event_type
    ),
    bounds AS (
      SELECT event_type,
             CASE WHEN c05 <= 0 THEN 0.0 WHEN c05 >= 51 THEN 500.0
                  ELSE (c05 - 1) * 10.0 END AS lo,
             CASE WHEN c95 <= 0 THEN 0.0 WHEN c95 >= 51 THEN 500.0
                  ELSE c95 * 10.0 END AS hi
      FROM cells
    )
    SELECT e.event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN e.value < bo.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN e.value > bo.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           CAST(ANY_VALUE(bo.lo) AS DOUBLE) AS clip_lo,
           CAST(ANY_VALUE(bo.hi) AS DOUBLE) AS clip_hi,
           {sql_exact_sum('LEAST(GREATEST(e.value, bo.lo), bo.hi)')}
             AS winsorized_sum
    FROM events e JOIN bounds bo USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("A+", "quality", "sketch"),
)
def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (outlier clipping) of `value` at per-type
    p05/p95 bounds derived from the SAME 52-cell fixed-width histogram
    the quantile MV stores (q_histogram_mv_quantiles): the clip bounds
    snap to histogram cell edges, so they are INTEGER-DETERMINISTIC —
    no interpolated percentile whose last ulp differs across engines —
    and the whole operator is two scans and zero sorts: one histogram
    aggregation (52 cells × types, metadata-sized, broadcast back) and
    one clip-and-aggregate pass. The exact-percentile alternative
    needs a per-group sort of the fact table; at 100 TB the
    bounded-error cell-edge bound is the answer that scales, and the
    bound's error is capped by the cell width by construction.

    Reference analog: the pipelines drop nulls but never treat
    outliers (SURVEY §2.4); winsorizing before the mean/std gold
    aggregates is the standard robustness upgrade."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cell = (
        F.when(F.col("value") < 0.0, 0)
        .when(F.col("value") >= 500.0, 51)
        .otherwise((F.floor(F.col("value") * 50 / 500.0) + 1).cast("int"))
    )
    c = ev.select("event_type", cell.alias("cell")).groupBy(
        "event_type", "cell"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wtot = Window.partitionBy("event_type")
    wcum = wtot.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    cum = c.select(
        "event_type",
        "cell",
        F.sum("cnt").over(wtot).alias("total"),
        F.sum("cnt").over(wcum).alias("cum"),
    )
    cells = cum.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("total") * 0.05), F.col("cell")
            )
        ).alias("c05"),
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("total") * 0.95), F.col("cell")
            )
        ).alias("c95"),
    )
    bounds = cells.select(
        "event_type",
        F.when(F.col("c05") <= 0, 0.0)
        .when(F.col("c05") >= 51, 500.0)
        .otherwise((F.col("c05") - 1) * 10.0)
        .alias("lo"),
        F.when(F.col("c95") <= 0, 0.0)
        .when(F.col("c95") >= 51, 500.0)
        .otherwise(F.col("c95") * 10.0)
        .alias("hi"),
    )
    clipped = ev.join(F.broadcast(bounds), "event_type")
    return clipped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias(
            "n_clipped_low"
        ),
        F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias(
            "n_clipped_high"
        ),
        F.first("lo").alias("clip_lo"),
        F.first("hi").alias("clip_hi"),
        exact_sum(
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
        ).alias("winsorized_sum"),
    )


@register(
    "q_stream_merge_upserts",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
    ),
    src AS (
      SELECT c_custkey, c_name, c_mktsegment,
             ROUND(c_acctbal + 100, 2) AS c_acctbal, FALSE AS is_del
      FROM base WHERE c_custkey % 5 = 1
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment, -99999.0, TRUE
      FROM base WHERE c_custkey % 5 = 2
      UNION ALL
      SELECT -c_custkey, c_name, c_mktsegment, 50.0, FALSE
      FROM base WHERE c_custkey % 5 = 3
    ),
    merged AS (
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM src
      WHERE NOT is_del
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN c_custkey < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inserted,
           {sql_exact_sum('c_acctbal')} AS total_bal
    FROM merged
    GROUP BY c_mktsegment
    """,
    tags=("streaming", "warehouse", "snapshot", "merge"),
)
def q_stream_merge_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert with exactly-once semantics: a CDC stream
    (updates, deletes, and inserts derived from the customer fixture,
    key-range-partitioned into 4 disjoint micro-batches) drains into a
    versioned table via foreachBatch + copy-on-write MERGE
    (warehouse/snapshots.py idempotent_stream_merge). Every batch is
    REDELIVERED immediately (simulating at-least-once) and must no-op;
    the final table must equal applying the whole CDC set once — the
    oracle's set algebra — because disjoint-key batches commute and
    the manifest ledger keeps duplicates out.

    This is Delta's streaming-upsert recipe (foreachBatch + MERGE) on
    the manifest table: per micro-batch cost = discovery + hit-file
    rewrite, so steady-state maintenance tracks the stream's key
    churn, not table size; the batch-id rides the same atomic commit
    as the data, so there is no marker/data divergence window."""
    import os
    import shutil

    from batch_processing_etl_orchestration_spark.warehouse.snapshots import (
        VersionedTable,
        idempotent_stream_merge,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    from batch_processing_etl_orchestration_spark.tables import (
        build_once,
        fixture_cache_dir,
    )

    def _build_src(path: str) -> None:
        k = F.col("c_custkey")
        cdc = (
            cust.where(k % 5 == 1)
            .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100, 2))
            .unionByName(
                cust.where(k % 5 == 2).withColumn(
                    "c_acctbal", F.lit(-99999.0)
                )
            )
            .unionByName(
                cust.where(k % 5 == 3)
                .withColumn("c_custkey", -k)
                .withColumn("c_acctbal", F.lit(50.0))
            )
        )
        # 4 disjoint key ranges → 4 ordered micro-batches
        cdc.repartitionByRange(4, "c_custkey").write.mode(
            "overwrite"
        ).parquet(path)

    src_dir = build_once(
        sf_dir, "customer.parquet", "stream_cdc_src", _build_src
    )

    run = fixture_cache_dir(sf_dir, "customer.parquet", "stream_cdc_run")
    shutil.rmtree(run, ignore_errors=True)  # the scenario mutates state
    t = VersionedTable.create(
        spark, os.path.join(run, "vt"), cust.repartition(8)
    )

    def sink(batch_df, batch_id: int) -> None:
        merged = idempotent_stream_merge(
            t, batch_df, batch_id, ["c_custkey"],
            delete_condition=F.col("c_acctbal") == -99999.0,
        )
        # at-least-once simulation: immediate redelivery must no-op
        assert merged and not idempotent_stream_merge(
            t, batch_df, batch_id, ["c_custkey"],
            delete_condition=F.col("c_acctbal") == -99999.0,
        )

    drain_files(spark, src_dir, sink, os.path.join(run, "ckpt"))

    return t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_custkey") < 0, 1).otherwise(0)).alias(
            "n_inserted"
        ),
        exact_sum("c_acctbal").alias("total_bal"),
    )


@register(
    "q_table_changes",
    oracle="""
    WITH v0 AS (
      SELECT event_id, event_type FROM events
      WHERE date_part('day', CAST(ts AS DATE)) <= 20
    ),
    v2 AS (
      SELECT event_id, event_type FROM events
      WHERE NOT (user_id % 37 = 5)
    ),
    diff AS (
      SELECT COALESCE(a.event_type, b.event_type) AS event_type,
             CASE WHEN a.event_id IS NULL THEN 'added'
                  WHEN b.event_id IS NULL THEN 'removed' END AS change_status
      FROM v0 a FULL OUTER JOIN v2 b USING (event_id)
      WHERE a.event_id IS NULL OR b.event_id IS NULL
    )
    SELECT event_type, change_status, COUNT(*) AS n_rows
    FROM diff GROUP BY 1, 2
    """,
    tags=("warehouse", "snapshot", "cdf"),
)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two versions of the manifest table
    (Delta's table_changes): diff v0 (create: days ≤ 20) against v2
    (after append + GDPR erasure) of the versioned events table —
    added rows are the appended late days minus the erased user's,
    removed rows are the erased user's early-day events. Composition:
    two time-travel reads (immutable manifests) through
    warehouse/scd.snapshot_diff, so the comparison shuffles only
    (key, sha2-fingerprint) pairs — version contents never meet in
    width. Unchanged rows drop out by construction: the CDF IS the
    downstream work queue, which is the whole point at 100 TB (the
    oracle recomputes both version states from the raw fixture and
    takes the same set difference)."""
    from batch_processing_etl_orchestration_spark.warehouse.scd import (
        snapshot_diff,
    )

    t = _versioned_events(spark, sf_dir)
    d = snapshot_diff(
        t.read(0).select("event_id", "event_type"),
        t.read(2).select("event_id", "event_type"),
        key_cols=["event_id"],
        compare_cols=["event_type"],
    )
    changes = d.where(F.col("change_status").isin("added", "removed"))
    # re-attach event_type: an added key exists only in v2, a removed
    # key only in v0 — join each side to ITS version (no union of both
    # corpora, no distinct; the earlier formulation re-scanned and
    # shuffled both full versions just to label the tiny change set)
    typed = (
        changes.where(F.col("change_status") == "added")
        .join(t.read(2).select("event_id", "event_type"), "event_id")
        .unionByName(
            changes.where(F.col("change_status") == "removed").join(
                t.read(0).select("event_id", "event_type"), "event_id"
            )
        )
    )
    return typed.groupBy("event_type", "change_status").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "q_listagg_nations",
    oracle="""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
    tags=("A+", "listagg"),
)
def q_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): nations per
    region as a deterministic comma list. Spark has no ordered
    string_agg; the portable idiom is collect_list → array_sort →
    array_join, which makes the ordering EXPLICIT instead of relying
    on an ORDER BY inside the aggregate (collect_list order is
    otherwise partition-dependent — the nondeterminism trap this
    query exists to document). Dimension-sized here; at scale the
    sort is per-group array-local, not a shuffle."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations_csv"),
        )
    )


@register(
    "q_hll_overlap_users",
    oracle="""
    WITH wk AS (
      SELECT DISTINCT user_id FROM events
      WHERE date_part('dow', CAST(ts AS DATE)) IN (0, 6)
    ),
    wd AS (
      SELECT DISTINCT user_id FROM events
      WHERE date_part('dow', CAST(ts AS DATE)) NOT IN (0, 6)
    )
    SELECT (SELECT COUNT(*) FROM wk) AS exact_weekend,
           (SELECT COUNT(*) FROM wd) AS exact_weekday,
           (SELECT COUNT(*) FROM wk JOIN wd USING (user_id))
             AS exact_overlap,
           TRUE AS est_weekend_ok,
           TRUE AS est_weekday_ok,
           TRUE AS est_overlap_ok
    """,
    tags=("A+", "sketch", "hll"),
)
def q_hll_overlap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: the distinct-user OVERLAP between weekend
    and weekday cohorts estimated purely from HLL sketches via
    inclusion–exclusion (|A∩B| = |A| + |B| − |A∪B|, with |A∪B| from
    hll_union) — the question COUNT(DISTINCT) partials cannot answer
    and re-scanning facts for every cohort pair cannot afford at
    100 TB. Two 16 KiB sketches answer any pairwise overlap.

    Attestation (the sketch-query convention, cf.
    q_approx_distinct_users): the exact cohort sizes ride the result
    and each estimate must land within 5% of its exact value — the
    oracle re-derives the exact values and TRUE flags, so a broken
    union or a degenerate sketch hash-mismatches. Intersection error
    compounds (it's a difference of estimates), which is why the
    bound is stated against the exact value in-query rather than
    assumed."""
    ev = load_table(spark, sf_dir, "events")
    is_weekend = F.dayofweek(F.to_date("ts")).isin(1, 7)  # Sun=1, Sat=7
    tagged = ev.select("user_id", is_weekend.alias("wk"))
    sk = tagged.agg(
        F.hll_sketch_agg(F.when(F.col("wk"), F.col("user_id"))).alias("s_we"),
        F.hll_sketch_agg(F.when(~F.col("wk"), F.col("user_id"))).alias("s_wd"),
        F.hll_sketch_agg("user_id").alias("s_all"),
        F.countDistinct(F.when(F.col("wk"), F.col("user_id"))).alias("x_we"),
        F.countDistinct(F.when(~F.col("wk"), F.col("user_id"))).alias("x_wd"),
        F.countDistinct("user_id").alias("x_all"),
    )
    est = sk.select(
        "x_we",
        "x_wd",
        "x_all",
        F.hll_sketch_estimate("s_we").alias("e_we"),
        F.hll_sketch_estimate("s_wd").alias("e_wd"),
        F.hll_sketch_estimate("s_all").alias("e_all"),
    )

    def within(e, x, tol=0.05):
        return F.abs(e - x) <= tol * x

    overlap_est = F.col("e_we") + F.col("e_wd") - F.col("e_all")
    exact_overlap = F.col("x_we") + F.col("x_wd") - F.col("x_all")
    return est.select(
        F.col("x_we").alias("exact_weekend"),
        F.col("x_wd").alias("exact_weekday"),
        exact_overlap.alias("exact_overlap"),
        within(F.col("e_we"), F.col("x_we")).alias("est_weekend_ok"),
        within(F.col("e_wd"), F.col("x_wd")).alias("est_weekday_ok"),
        within(overlap_est, exact_overlap).alias("est_overlap_ok"),
    )


@register(
    "q_freshness_audit",
    oracle=f"""
    WITH anchor AS (SELECT MAX(ts) AS global_max FROM events),
    per_type AS (
      SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n_rows
      FROM events GROUP BY event_type
    )
    SELECT p.event_type,
           {sql_ts_str("p.last_ts")} AS last_event_at,
           CAST(date_diff('second', p.last_ts, a.global_max) // 60
                AS BIGINT) AS staleness_minutes,
           p.n_rows,
           date_diff('second', p.last_ts, a.global_max) // 60 <= 1440
             AS within_sla
    FROM per_type p CROSS JOIN anchor a
    """,
    tags=("warehouse", "dq", "freshness"),
)
def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit — the ops twin of the value-level DQ
    rules (q_dq_expectations): per stream (event type), when did data
    last arrive and is it within a 24 h staleness SLA, measured
    against the corpus watermark (max ts) so the check is
    reproducible rather than wall-clock-dependent. One aggregation
    over the facts; the anchor is a 1-row broadcast. At 100 TB this
    reads partition-level max statistics from the table format's
    metadata instead of scanning — the plan shape (per-group max vs
    global max) is identical.

    Reference analog: the Airflow DAGs' implicit freshness assumption
    (daily schedule = data arrived); this makes the assumption a
    CHECKED, reported quantity."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    anchor = ev.agg(F.max("ts").alias("global_max"))
    per_type = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_rows")
    )
    lag_min = (
        (
            F.unix_timestamp("global_max") - F.unix_timestamp("last_ts")
        ) / 60
    ).cast("bigint")
    return per_type.crossJoin(F.broadcast(anchor)).select(
        "event_type",
        ts_str(F.col("last_ts")).alias("last_event_at"),
        lag_min.alias("staleness_minutes"),
        "n_rows",
        (lag_min <= 1440).alias("within_sla"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q8/Q9/Q10/Q13 shapes — the remaining classic multi-join
# analytics patterns: conditional market share, profit decomposition,
# returned-item reporting, and outer-join distribution histograms.
# (The reference's pandas analog is chained merge() + groupby().agg(),
# e.g. EIA930PipelineHourlyData.py:111-118 for the merge-then-aggregate
# idiom; these queries exercise the same shapes at fact scale.)
# ---------------------------------------------------------------------------


@register(
    "q_market_share",
    oracle=f"""
    SELECT CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           {sql_exact_sum(
               "CASE WHEN sn.n_name = 'NATION_3' "
               "THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END"
           )} AS focus_volume,
           {sql_exact_sum('l.l_extendedprice * (1.0 - l.l_discount)')}
             AS total_volume,
           {sql_exact_sum(
               "CASE WHEN sn.n_name = 'NATION_3' "
               "THEN l.l_extendedprice * (1.0 - l.l_discount) ELSE 0.0 END"
           )} / {sql_exact_sum('l.l_extendedprice * (1.0 - l.l_discount)')}
             AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
                   AND r.r_name = 'AMERICA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("J", "tpch"),
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a focus nation's share of PROMO-part revenue
    in the AMERICA customer market, per order year — the conditional-
    aggregate-over-a-seven-table-join pattern.

    Determinism: both volumes are scaled-long exact sums; the share is
    then ONE IEEE division of two identical doubles, so no rounding is
    needed (denominator > 0 whenever the group exists, and the
    numerator is a sum of non-negatives, so no signed zero can arise).

    Scale: the PROMO part dim is broadcast into the lineitem scan
    first (~1/6 selectivity before any shuffle), as are the
    supplier→nation map and the customer-side nation⋈region market
    filter. The only fact-sized exchanges are lineitem⋈orders on
    orderkey and the orders⋈customer hop on custkey; the date window
    pushes to the orders scan. Per-year output is tiny; the final
    1-column groupBy is map-combined. At 100 TB the same plan holds —
    all dims stay KB–MB broadcasts while both fact shuffles carry
    pre-pruned rows only."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "AMERICA"
    )
    cust_market = c.join(
        F.broadcast(
            nation.join(
                F.broadcast(region),
                nation["n_regionkey"] == region["r_regionkey"],
            ).select("n_nationkey")
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    focus = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    agg = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_market, o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            exact_sum(focus).alias("focus_volume"),
            exact_sum(vol).alias("total_volume"),
        )
    )
    return agg.select(
        "o_year",
        "focus_volume",
        "total_volume",
        (F.col("focus_volume") / F.col("total_volume")).alias("mkt_share"),
    ).orderBy("o_year")


@register(
    "q_product_type_profit",
    oracle=f"""
    SELECT sn.n_name AS nation_name,
           CAST(YEAR(o.o_orderdate) AS BIGINT) AS o_year,
           COUNT(*) AS n_lines,
           {sql_exact_sum(
               'l.l_extendedprice * (1.0 - l.l_discount)'
               ' - p.p_retailprice * l.l_quantity * 0.1'
           )} AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
                   AND p.p_name LIKE '%gear%'
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("J", "tpch"),
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation, per-year profit on a product family
    selected by part-name substring. This schema has no partsupp, so
    unit cost is proxied as 10% of the part's retail price — the join
    topology and aggregation shape (fact ⋈ filtered part dim ⋈ orders
    ⋈ supplier ⋈ nation, grouped two ways) are Q9's.

    Determinism: the profit expression is evaluated in the same
    operand order in both engines (products/subtraction are single
    IEEE ops on identical inputs), then summed on the scaled-long
    grid. Negative group sums are possible and exact — no signed-zero
    hazard because the grid sum renders -0.0/1e6 as 0.0 on both sides
    (integer 0 → one division).

    Scale: the LIKE-filtered part dim broadcasts into the lineitem
    scan (no leading-wildcard pushdown exists in any engine — the
    prune happens in the broadcast join, which is the right place);
    supplier⋈nation broadcasts; the one fact-sized exchange is
    lineitem⋈orders on orderkey. Overflow headroom: |profit| ≤ ~1e5
    per line → scaled-long sums safe to ~1e8 lines per (nation, year)
    group; beyond that swap exact_sum for decimal_sum
    (functions/exact.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").select(
                    "n_nationkey", "n_name"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation_name"))
    )
    profit = F.col("l_extendedprice") * (
        F.lit(1.0) - F.col("l_discount")
    ) - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    return (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(
            "nation_name", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(profit).alias("sum_profit"),
        )
        .orderBy("nation_name", "o_year")
    )


@register(
    "q_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
           c.c_acctbal,
           COUNT(*) AS n_lines,
           {sql_exact_sum('l.l_extendedprice * (1.0 - l.l_discount)')}
             AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-10-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("J", "tpch"),
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue on RETURNED
    lineitems in a quarter — selective predicates on two facts, a
    broadcast dim for display columns, grouped revenue, top-k.

    Determinism: revenue is a scaled-long exact sum; the top-20 is
    tie-broken by the unique c_custkey. c_acctbal passes through
    untouched (no arithmetic → bit-identical in both engines).

    Scale: the quarter predicate pushes to the orders scan and the
    returnflag predicate to the lineitem scan (both visible as
    PushedFilters), so the orderkey shuffle carries ~1/16 of orders ⋈
    ~1/4 of lineitem; the custkey-side join keys only the surviving
    orders. nation broadcasts. The top-20 runs as
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_sum(revenue).alias("revenue"),
        )
        .select(
            "c_custkey", "c_name", "nation_name", "c_acctbal",
            "n_lines", "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q_customer_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY 1
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("J", "tpch", "outer"),
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of non-urgent orders per
    customer, INCLUDING zero-order customers — the outer-join-with-
    extra-condition + double-aggregation pattern. The filter must live
    in the join condition (not a WHERE), otherwise zero-order
    customers vanish; COUNT(o_orderkey) counts only matched rows, so
    unmatched customers land in the c_count=0 bucket.

    Scale: one custkey shuffle joins the two tables (AQE may instead
    broadcast post-filter orders partials at small SF — either is
    correct); the first groupBy is map-combined on the same custkey
    partitioning (no extra exchange), and the second aggregation runs
    over at most |distinct c_count| ≈ dozens of rows. Output is a
    histogram — constant-size regardless of SF."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )
