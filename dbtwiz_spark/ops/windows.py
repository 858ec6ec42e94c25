"""§2.5 Window functions.

SCD2 and mart models in the reference are window-built warehouse-side
(dbtwiz/model/create.py:418-429 scd2 macro; dbtwiz/admin/backfill.py:584-585
"joins, rolling windows, aggregations"). Every window here orders by a
unique key chain so ranks are deterministic; windowed double sums use the
exact decimal accumulator (DuckDB's segment-tree evaluation adds in a
different order than Spark's running accumulation).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbtwiz_spark.ops.common import views, DEC
from dbtwiz_spark.ops.registry import register

def _by_cust():
    return Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")


@register(
    "win-row-number",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders)
    WHERE rn <= 2
    """,
)
def win_row_number(spark, sf_dir):
    """Dedup-keep-latest ranking: last 2 orders per customer."""
    o = views(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "win-rank",
    oracle="""
    SELECT p_brand, p_partkey,
           RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS price_rank,
           DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_size) AS size_dense_rank,
           NTILE(4) OVER (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey) AS price_quartile
    FROM part
    """,
)
def win_rank(spark, sf_dir):
    """rank / dense_rank / ntile ranking family."""
    p = views(spark, sf_dir).table("part")
    by_price = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    by_size = Window.partitionBy("p_brand").orderBy("p_size")
    by_price_uq = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    return p.select(
        "p_brand",
        "p_partkey",
        F.rank().over(by_price).alias("price_rank"),
        F.dense_rank().over(by_size).alias("size_dense_rank"),
        F.ntile(4).over(by_price_uq).alias("price_quartile"),
    )


@register(
    "win-lag-lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER w,
               CAST(o_orderdate AS DATE)) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lag_lead(spark, sf_dir):
    """lag/lead offsets — the SCD2 validity-interval builder
    (lead(date) over key, dbtwiz/model/create.py:419-428)."""
    o = views(spark, sf_dir).table("orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(_by_cust()).alias("prev_orderkey"),
        F.lead("o_orderkey").over(_by_cust()).alias("next_orderkey"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(_by_cust()))
        ).alias("days_since_prev"),
    )


@register(
    "win-first-last",
    oracle="""
    SELECT DISTINCT o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last(spark, sf_dir):
    """first/last value across the full partition frame."""
    o = views(spark, sf_dir).table("orders")
    full = _by_cust().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        F.first("o_orderkey").over(_by_cust()).alias("first_orderkey"),
        F.last("o_orderkey").over(full).alias("last_orderkey"),
    ).distinct()


@register(
    "win-running-agg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_total,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running_count
    FROM orders
    """,
)
def win_running_agg(spark, sf_dir):
    """Cumulative sum/count per customer over order history."""
    o = views(spark, sf_dir).table("orders")
    cum = _by_cust().rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(cum).cast("double").alias(
            "running_total"
        ),
        F.count("*").over(cum).alias("running_count"),
    )


@register(
    "win-sliding-frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
                OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS trailing_90d_total
    FROM orders
    """,
)
def win_sliding_frame(spark, sf_dir):
    """Rolling 90-day aggregate (the "rolling windows" workload,
    dbtwiz/admin/backfill.py:584-585) — RANGE frame over epoch seconds."""
    o = views(spark, sf_dir).table("orders")
    # o_orderdate is TIMESTAMP_NTZ (parquet ms, no tz); go through an LTZ
    # cast (session tz is UTC) to get epoch seconds like DuckDB's epoch().
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-90 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "trailing_90d_total"
        ),
    )


@register(
    "win-percent",
    oracle="""
    SELECT c_custkey,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pct_rank,
           CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS bal_cume_dist
    FROM customer
    """,
)
def win_percent(spark, sf_dir):
    """percent_rank / cume_dist over a global order — computed scale-safe.

    A bare ``Window.orderBy`` funnels the whole table through ONE task; this
    formulation gets identical values from a range-partitioned parallel rank:

    1. range-partition + local sort on the (unique) order key,
    2. local row_number per physical partition,
    3. tiny per-partition row counts → cumulative offsets on the driver,
    4. global rank = offset + local row_number.

    The order key (c_acctbal, c_custkey) is a unique total order, so
    rank == row_number, percent_rank == (rank-1)/(N-1) and
    cume_dist == rank/N — exactly DuckDB's values, with every step parallel
    (the only serial work is the driver's cumsum of #partitions counts).
    The rank machinery is the shared ``common.parallel_rank`` device (also
    backing agg-gini-concentration).
    """
    from dbtwiz_spark.ops.common import parallel_rank

    cat = views(spark, sf_dir)
    c = cat.table("customer")
    keys = [F.col("c_acctbal"), F.col("c_custkey")]
    ranked = cat.artifact(
        "win-percent:c_acctbal,c_custkey",
        lambda: parallel_rank(c.select("c_custkey", "c_acctbal"), keys),
    ).select("c_custkey", "_rank", "_n")
    return ranked.select(
        "c_custkey",
        F.when(F.col("_n") > 1, (F.col("_rank") - 1) / (F.col("_n") - 1))
        .otherwise(F.lit(0.0))
        .alias("bal_pct_rank"),
        (F.col("_rank") / F.col("_n")).alias("bal_cume_dist"),
    )


@register(
    "win-qualify",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) <= 2
    """,
)
def win_qualify(spark, sf_dir):
    """QUALIFY (BigQuery surface): filter on a window function — top-2
    orders per customer. Spark lacks the clause; the same plan is the
    window + post-filter (identical physical shape: one shuffle on the
    partition key, rank, filter)."""
    o = views(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice",
                 F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= 2)
        .drop("_rn")
    )


@register(
    "win-gaps-islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    grp AS (
        SELECT user_id, d,
               d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS anchor
        FROM days)
    SELECT user_id, CAST(MIN(d) AS VARCHAR) AS streak_start,
           CAST(MAX(d) AS VARCHAR) AS streak_end,
           COUNT(*) AS streak_days
    FROM grp GROUP BY user_id, anchor
    """,
)
def win_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: each user's runs of CONSECUTIVE active days (the
    classic streak/retention query). The date-minus-row_number trick maps
    every island to a constant anchor — consecutive days advance both the
    date and the rank in lockstep — so islands fall out of one ordinary
    groupBy, no iterative logic.

    Three shuffles — the distinct-day reduce on (user_id, day), the rank
    window on user_id, the island groupBy on (user_id, anchor) — every
    key contains user_id, so the work is embarrassingly parallel across
    users at 100 TB and no single key concentrates a partition.
    Dates stringify for the cross-engine hash: Spark's Arrow path yields
    datetime.date while DuckDB's pandas path yields datetime64[ns], so the
    same calendar day would hash differently as a native value."""
    ev = views(spark, sf_dir).table("events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor"),
    )
    return grp.groupBy("user_id", "anchor").agg(
        F.min("d").cast("string").alias("streak_start"),
        F.max("d").cast("string").alias("streak_end"),
        F.count("*").alias("streak_days"),
    ).drop("anchor")


@register(
    "win-funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, ts, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM events),
    s2 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'click' AND ts > t1
                         AND ts <= t1 + INTERVAL 1 DAY THEN ts END)
                 OVER (PARTITION BY user_id) AS t2
        FROM s1),
    s3 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'purchase' AND ts > t2
                         AND ts <= t2 + INTERVAL 1 DAY THEN ts END)
                 OVER (PARTITION BY user_id) AS t3
        FROM s2),
    per_user AS (
        SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
        FROM s3 GROUP BY user_id)
    SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     WHEN t1 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_stage,
           COUNT(*) AS n_users
    FROM per_user GROUP BY 1
    """,
)
def win_funnel(spark, sf_dir):
    """Ordered-funnel analysis (the MATCH_RECOGNIZE/funnel idiom every
    product-analytics engine ships): per user, the earliest view, the
    earliest click strictly AFTER that view, the earliest purchase
    strictly after that click — each within a 1-day conversion window of
    the previous step — then the population histogram by deepest stage
    reached. Sequential "A then B then C within T" semantics, not mere
    event-type presence.

    Scale shape: three chained per-user window minimums over ONE
    exchange — identical partitioning means Spark reuses the shuffle and
    sort for all three passes and the final per-user collapse; no
    self-join per funnel step (the join formulation is step-factorial at
    100 TB). Parallel across users, no global window."""
    e = views(spark, sf_dir).table("events").select(
        "user_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id")
    d = (
        e.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 DAY")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 1 DAY")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = d.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    stage = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.groupBy(stage.cast("long").alias("funnel_stage")).agg(
        F.count("*").alias("n_users")
    )


@register(
    "win-retention-cohort",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    coh AS (
        SELECT user_id, d,
               MIN(d) OVER (PARTITION BY user_id) AS cohort_day
        FROM days)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           CAST(d - cohort_day AS BIGINT) AS offset_days,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
    FROM coh GROUP BY 1, 2
    """,
)
def win_retention_cohort(spark, sf_dir):
    """Retention-cohort triangle: users grouped by first-activity day,
    then counted by how many days after that first day they were active —
    the standard D0/D1/D7 retention table.

    Scale shape: distinct (user, day) reduce, a per-user window minimum
    for the cohort anchor (same user_id partitioning as the reduce —
    exchange reused), then one (cohort, offset) aggregate; every shuffle
    key includes user_id or the small (cohort, offset) pair — nothing
    funnels through a single partition. Dates stringify for the
    cross-engine hash (DateType pandas representations diverge)."""
    ev = views(spark, sf_dir).table("events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id")
    coh = days.withColumn("cohort_day", F.min("d").over(w))
    return (
        coh.groupBy(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.datediff("d", "cohort_day").cast("long").alias("offset_days"),
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_active_users"))
    )


@register(
    "win-ema",
    oracle="""
    WITH l AS (
        SELECT user_id, event_id, value,
               lag(value, 1) OVER w AS x1,
               lag(value, 2) OVER w AS x2,
               lag(value, 3) OVER w AS x3,
               ROW_NUMBER() OVER w AS rn
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           round((value + 0.5 * (x1 + 0.5 * (x2 + 0.5 * x3))) / 1.875, 6)
             AS ema4
    FROM l WHERE rn >= 4
    """,
)
def win_ema(spark, sf_dir):
    """Per-user exponentially-weighted moving average (α=0.5, 4-term
    truncation) over the event stream — the smoothing a metrics pipeline
    applies before thresholding. A true infinite-history EMA is a
    sequential recurrence no engine's window frame expresses; the 4-term
    truncation (residual weight 2⁻⁴ ≈ 6%) is the standard bounded-frame
    form, and it makes the value an EXACT cross-engine expression: α=0.5
    gives power-of-two coefficients (each product a bit-exact scaling)
    and the nested Horner tree fixes the double-addition order, so both
    engines evaluate the identical float expression (round(6) is belt and
    braces). Rows before a full 4-event history are excluded rather than
    renormalized — a ragged-start coalesce would reintroduce
    engine-ordered arithmetic.

    Scale: one hash-partitioned window (user_id), lag-only frame — the
    same single-shuffle shape as win-lag-lead; no global ordering
    anywhere."""
    e = views(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x0 = F.col("value")
    x1, x2, x3 = (F.lag("value", k).over(w) for k in (1, 2, 3))
    return (
        e.select(
            "user_id",
            "event_id",
            x0.alias("v"),
            x1.alias("x1"),
            x2.alias("x2"),
            x3.alias("x3"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 4)
        .select(
            "user_id",
            "event_id",
            F.round(
                (
                    F.col("v")
                    + 0.5 * (F.col("x1") + 0.5 * (F.col("x2") + 0.5 * F.col("x3")))
                )
                / 1.875,
                6,
            ).alias("ema4"),
        )
    )


@register(
    "win-zscore-anomaly",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL),
    f AS (
        SELECT user_id, event_id, value,
               CAST(SUM(CAST(value AS DECIMAL(28, 6))) OVER w AS DOUBLE) AS s,
               CAST(SUM(CAST(value * value AS DECIMAL(28, 6))) OVER w
                    AS DOUBLE) AS s2,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id) AS rn
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
    SELECT user_id, event_id,
           round(CASE WHEN (s2 - s * s / 10) / 9 > 0
                      THEN (value - s / 10) / sqrt((s2 - s * s / 10) / 9)
                      ELSE 0.0 END, 6) AS zscore,
           (abs(round(CASE WHEN (s2 - s * s / 10) / 9 > 0
                           THEN (value - s / 10)
                                / sqrt((s2 - s * s / 10) / 9)
                           ELSE 0.0 END, 6)) > 3.0) AS is_anomaly
    FROM f WHERE rn > 10
    """,
)
def win_zscore_anomaly(spark, sf_dir):
    """Rolling z-score anomaly flag: each event scored against the mean /
    stddev of the SAME user's 10 preceding events (frame excludes the
    current row, so an outlier cannot mask itself) -- the online
    outlier-detection shape a metrics pipeline runs before alerting.
    Frame sums go through exact DECIMAL accumulation (order-independent),
    the two-moment variance combine (s2 - s^2/10)/9 then runs in double on
    bit-identical inputs, and sqrt/divide are IEEE-deterministic -- so the
    z-score is bit-equal across engines before the belt-and-braces
    round(6). The anomaly flag compares the ROUNDED score (a raw-double
    threshold could flip on the last ulp). Degenerate frames (zero
    variance) score 0 rather than dividing by zero. Rows without a full
    10-event history are excluded, not renormalized.

    Scale: one hash-partitioned window on user_id with a bounded ROWS
    frame -- the same single-shuffle shape as win-sliding-frame; no global
    ordering anywhere."""
    e = (
        views(spark, sf_dir)
        .table("events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    frame = w.rowsBetween(-10, -1)
    v = F.col("value")
    f = e.select(
        "user_id",
        "event_id",
        v.alias("v"),
        F.sum(v.cast(DEC)).over(frame).cast("double").alias("s"),
        F.sum((v * v).cast(DEC)).over(frame).cast("double").alias("s2"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") > 10)
    var = (F.col("s2") - F.col("s") * F.col("s") / 10) / 9
    z = F.round(
        F.when(var > 0, (F.col("v") - F.col("s") / 10) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
        6,
    )
    return f.select(
        "user_id",
        "event_id",
        z.alias("zscore"),
        (F.abs(z) > 3.0).alias("is_anomaly"),
    )


@register(
    "win-rolling-median",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(median(l_quantity) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_median_qty
    FROM lineitem WHERE l_suppkey <= 25
    """,
)
def win_rolling_median(spark, sf_dir):
    """Rolling EXACT median of quantity over each supplier's last 11
    shipments -- the robust-trend smoother (median shrugs off the outlier
    bursts that wreck a rolling mean; the z-score op above is the
    complementary detector). Spark has no holistic aggregate over a
    window frame, so the engine collects the bounded frame into an array,
    sorts it, and interpolates the middle (even count uses
    lo + (hi-lo)/2, the same interpolation DuckDB's median applies --
    pinned empirically: DuckDB median of two 1e308 values is 1e308, so
    it cannot be the naive (lo+hi)/2, which differs by 1 ulp on general
    doubles and overflows at the extremes). The frame ORDER BY carries
    the unique (shipdate, orderkey,
    linenumber) key so frame membership is a total order on both engines.

    Scale: single hash-partitioned window on l_suppkey with a bounded
    11-row frame -- collect/sort cost is O(k log k) per row with k=11,
    all inside whole-stage codegen; no global ordering, no UDF. An
    unbounded-frame median would instead need the two-heap
    applyInPandasWithState device; bounded frames never do."""
    li = (
        views(spark, sf_dir)
        .table("lineitem")
        .filter(F.col("l_suppkey") <= 25)
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-10, 0)
    )
    arr = F.array_sort(F.collect_list("l_quantity").over(w))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    # lo + (hi - lo)/2, NOT (lo + hi)/2: matches DuckDB's interpolation
    # exactly -- the two forms differ by 1 ulp on general doubles ((a+b)
    # rounds before halving), and the exact-value compare would flip
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (mid_lo + (mid_hi - mid_lo) / 2).alias("rolling_median_qty"),
    )


@register(
    "win-cusum-changepoint",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL),
    m AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(28, 6))) AS DOUBLE)
                 / COUNT(*) AS mu
        FROM e GROUP BY 1),
    c AS (
        SELECT e.user_id, e.event_id,
               abs(CAST(SUM(CAST(e.value AS DECIMAL(28, 6))) OVER w AS DOUBLE)
                   - (ROW_NUMBER() OVER w) * m.mu) AS abs_cusum
        FROM e JOIN m ON e.user_id = m.user_id
        WINDOW w AS (PARTITION BY e.user_id ORDER BY e.event_id)),
    r AS (
        SELECT user_id, event_id, round(abs_cusum, 6) AS peak,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY round(abs_cusum, 6) DESC,
                                           event_id) AS rn
        FROM c)
    SELECT user_id, event_id AS changepoint_event, peak AS max_abs_cusum
    FROM r WHERE rn = 1
    """,
)
def win_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection per user: the running sum of
    deviations from the user's overall mean peaks where the level
    shifts; the peak's position is the change-point estimate (Page's
    classic offline CUSUM). Two passes: an exact-decimal per-user mean,
    then Σ(x_i - mu) computed as cum(x)::double - rn*mu: the cumulative
    sum runs ONLY over value::DECIMAL (source values are exactly
    representable, the sum is order-independent), and the mean leaves
    decimal once -- no double->decimal conversion of a computed double
    anywhere, because HALF_UP at a conversion boundary is the one place
    Spark (shortest-repr BigDecimal) and DuckDB (true binary value)
    disagree (bit us here: 2 cells per 10k rows). The argmax row is
    picked on the ROUNDED peak with event_id as total-order tie-break.

    Scale: one shuffle for the mean, one hash-partitioned window on
    user_id for the cumulative sum (the mean join is a broadcast at dim
    scale, shuffled co-partitioned above it); the argmax is the same
    window, no extra exchange."""
    e = (
        views(spark, sf_dir)
        .table("events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
    )
    m = e.groupBy("user_id").agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias("mu")
    )
    wcum = Window.partitionBy("user_id").orderBy("event_id")
    c = e.join(m, "user_id").select(
        "user_id",
        "event_id",
        F.abs(
            F.sum(F.col("value").cast(DEC)).over(wcum).cast("double")
            - F.row_number().over(wcum) * F.col("mu")
        ).alias("abs_cusum"),
    )
    wpk = Window.partitionBy("user_id").orderBy(
        F.desc(F.round(F.col("abs_cusum"), 6)), "event_id"
    )
    return (
        c.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("changepoint_event"),
            F.round("abs_cusum", 6).alias("max_abs_cusum"),
        )
    )


@register(
    "win-seasonal-baseline",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type, value,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                 AS dow
        FROM events WHERE value IS NOT NULL),
    m AS (
        SELECT event_type, dow,
               CAST(SUM(CAST(value AS DECIMAL(28, 6))) AS DOUBLE) / COUNT(*)
                 AS baseline
        FROM e GROUP BY 1, 2)
    SELECT e.event_id, e.event_type, e.dow,
           m.baseline,
           e.value - m.baseline AS residual
    FROM e JOIN m ON e.event_type = m.event_type AND e.dow = m.dow
    """,
)
def win_seasonal_baseline(spark, sf_dir):
    """Weekly-seasonality decomposition: each event's value split into
    the (event_type, day-of-week) mean baseline plus a residual -- the
    first step of seasonal anomaly detection (alert on residual, not raw
    value, so Sunday lows stop paging). Day-of-week is epoch-day mod 7,
    NOT the engines' dayofweek() (Spark numbers Sunday=1..7, DuckDB
    Sunday=0..6 -- exact integer date arithmetic sidesteps the
    convention). Baselines are exact-decimal means; the residual is one
    double subtraction on bit-identical operands and ships UNROUNDED --
    every input double is bit-identical across engines, and round() is
    precisely where a boundary value CAN diverge (Spark rounds the
    shortest decimal repr, DuckDB the true binary value; a round() here
    flipped 1 cell in 10k before it was removed).

    Scale: one partial-aggregated groupBy to the (type x 7)-row baseline
    table, broadcast back into the fact stream -- map-side end to end,
    no window at all."""
    e = (
        views(spark, sf_dir)
        .table("events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "value",
            (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")) % 7).alias(
                "dow"
            ),
        )
    )
    m = e.groupBy("event_type", "dow").agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias(
            "baseline"
        )
    )
    return e.join(F.broadcast(m), ["event_type", "dow"]).select(
        "event_id",
        "event_type",
        "dow",
        "baseline",
        (F.col("value") - F.col("baseline")).alias("residual"),
    )


@register(
    "win-rolling-trend",
    oracle="""
    WITH base AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(l_quantity AS DECIMAL(28, 6)) AS yd,
               ROW_NUMBER() OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        FROM lineitem WHERE l_suppkey <= 25),
    e AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, rn,
               COUNT(*) OVER f AS cnt,
               CAST(SUM(yd) OVER f AS DECIMAL(38, 6)) AS sy,
               CAST(SUM(yd * rn) OVER f AS DECIMAL(38, 6)) AS sjy
        FROM base
        WINDOW f AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(10 * (sjy - (rn - 10 + 1) * sy)
                - 45 * sy AS DOUBLE) / 825.0 AS slope,
           (CAST(sy AS DOUBLE) - CAST(10 * (sjy - (rn - 10 + 1) * sy)
                                      - 45 * sy AS DOUBLE) / 825.0 * 45)
             / 10.0
           + CAST(10 * (sjy - (rn - 10 + 1) * sy)
                  - 45 * sy AS DOUBLE) / 825.0 * 10 AS forecast_next
    FROM e WHERE cnt = 10
    """,
)
def win_rolling_trend(spark, sf_dir):
    """Rolling linear-trend forecast: OLS slope over each supplier's
    last 10 shipments (x = position 0..9 in the frame) and the
    one-step-ahead forecast a + slope*10 -- the short-horizon demand
    predictor a replenishment pipeline computes per key. No arrays, no
    UDF: with x anchored to the frame, sum(x*y) telescopes to
    sum(rn*y) - (rn-9)*sum(y), so BOTH regression sums are plain frame
    SUMs over DECIMAL-cast values (exact, order-independent); Sx = 45
    and the variance denominator 10*Sxx - Sx^2 = 825 are compile-time
    constants. Doubles appear only in the final slope division and
    forecast combine, on bit-identical exact operands -- unrounded, per
    the no-round rule for identical doubles.

    Scale: one hash-partitioned window on l_suppkey, bounded ROWS
    frames, everything in whole-stage codegen -- identical shape to
    win-sliding-frame; rows without a full 10-point history are
    excluded, not extrapolated."""
    li = views(spark, sf_dir).table("lineitem").filter(F.col("l_suppkey") <= 25)
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber"
    )
    f = w.rowsBetween(-9, 0)
    base = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        F.col("l_quantity").cast(DEC).alias("yd"),
        F.row_number().over(w).alias("rn"),
    )
    e = base.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "rn",
        F.count("*").over(f).alias("cnt"),
        F.sum("yd").over(f).cast("decimal(38,6)").alias("sy"),
        F.sum(F.col("yd") * F.col("rn")).over(f).cast("decimal(38,6)").alias("sjy"),
    ).filter(F.col("cnt") == 10)
    num = 10 * (F.col("sjy") - (F.col("rn") - 10 + 1) * F.col("sy")) - 45 * F.col(
        "sy"
    )
    slope = num.cast("double") / 825.0
    a = (F.col("sy").cast("double") - slope * 45) / 10.0
    return e.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        slope.alias("slope"),
        (a + slope * 10).alias("forecast_next"),
    )


@register(
    "win-rolling-corr",
    oracle="""
    WITH base AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(l_quantity AS DECIMAL(8, 2)) AS x,
               CAST(l_extendedprice AS DECIMAL(12, 2)) AS y,
               CAST(l_quantity AS DECIMAL(8, 2))
                 * CAST(l_extendedprice AS DECIMAL(12, 2)) AS xy,
               CAST(l_quantity AS DECIMAL(8, 2))
                 * CAST(l_quantity AS DECIMAL(8, 2)) AS xx,
               CAST(l_extendedprice AS DECIMAL(12, 2))
                 * CAST(l_extendedprice AS DECIMAL(12, 2)) AS yy
        FROM lineitem WHERE l_suppkey <= 25),
    e AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               COUNT(*) OVER f AS cnt,
               CAST(SUM(x) OVER f AS DECIMAL(38, 6)) AS sx,
               CAST(SUM(y) OVER f AS DECIMAL(38, 6)) AS sy,
               CAST(SUM(xy) OVER f AS DECIMAL(38, 6)) AS sxy,
               CAST(SUM(xx) OVER f AS DECIMAL(38, 6)) AS sxx,
               CAST(SUM(yy) OVER f AS DECIMAL(38, 6)) AS syy
        FROM base
        WINDOW f AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
    c AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sx * 100 AS BIGINT) AS sxi,
               CAST(sy * 100 AS BIGINT) AS syi,
               CAST(sxy * 10000 AS BIGINT) AS sxyi,
               CAST(sxx * 10000 AS BIGINT) AS sxxi,
               CAST(syy * 10000 AS BIGINT) AS syyi
        FROM e WHERE cnt = 10),
    d AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(10 * sxyi - sxi * syi AS DOUBLE) AS num,
               CAST(10 * sxxi - sxi * sxi AS DOUBLE) AS vx,
               CAST(10 * syyi - syi * syi AS DOUBLE) AS vy
        FROM c)
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN vx > 0 AND vy > 0
                THEN num / sqrt(vx) / sqrt(vy)
                ELSE NULL END AS rolling_corr
    FROM d
    """,
)
def win_rolling_corr(spark, sf_dir):
    """Rolling Pearson correlation of quantity vs extended price over
    each supplier's last 10 shipments -- the co-movement monitor (a price
    and volume decoupling flags demand shifts). All five moment sums are
    plain DECIMAL frame sums over EXACT inputs: each FACTOR is cast to a
    tight decimal first (source values carry <= 2 decimals, so the cast
    is unambiguous) and the products are DECIMAL multiplies whose widths
    stay inside DECIMAL(38). The combine then moves to SCALED BIGINTs
    (x10^2 / x10^4 -- integral by construction, frame-bounded far below
    int64): 10*Sxy - Sx*Sy runs in exact integer arithmetic with the
    scale factors cancelling in the correlation ratio, and the ONLY
    rounding anywhere is the final int64->double conversion + IEEE
    sqrt/divide, all correctly rounded in hardware. Two rejected
    formulations both diverged in the last ulp: combining in DECIMAL
    overflows DECIMAL(38) (Spark truncates, DuckDB promotes to double),
    and casting the WIDE decimal sums to double hits DuckDB's
    int128-then-scale double-rounding (Spark/Java round the decimal
    directly). Output ships unrounded -- it is bit-identical.
    Zero-variance frames return NULL explicitly on both engines (NaN
    equality semantics differ).

    Scale: identical single-shuffle bounded-frame shape as
    win-rolling-trend."""
    li = views(spark, sf_dir).table("lineitem").filter(F.col("l_suppkey") <= 25)
    qd = F.col("l_quantity").cast("decimal(8,2)")
    pd = F.col("l_extendedprice").cast("decimal(12,2)")
    base = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        qd.alias("x"),
        pd.alias("y"),
        (qd * pd).alias("xy"),
        (qd * qd).alias("xx"),
        (pd * pd).alias("yy"),
    )
    f = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-9, 0)
    )
    e = base.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count("*").over(f).alias("cnt"),
        F.sum("x").over(f).cast("decimal(38,6)").alias("sx"),
        F.sum("y").over(f).cast("decimal(38,6)").alias("sy"),
        F.sum("xy").over(f).cast("decimal(38,6)").alias("sxy"),
        F.sum("xx").over(f).cast("decimal(38,6)").alias("sxx"),
        F.sum("yy").over(f).cast("decimal(38,6)").alias("syy"),
    ).filter(F.col("cnt") == 10)
    sxi = (F.col("sx") * 100).cast("bigint")
    syi = (F.col("sy") * 100).cast("bigint")
    sxyi = (F.col("sxy") * 10000).cast("bigint")
    sxxi = (F.col("sxx") * 10000).cast("bigint")
    syyi = (F.col("syy") * 10000).cast("bigint")
    num = (10 * sxyi - sxi * syi).cast("double")
    vx = (10 * sxxi - sxi * sxi).cast("double")
    vy = (10 * syyi - syi * syi).cast("double")
    return e.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.when(
            (vx > 0) & (vy > 0), num / F.sqrt(vx) / F.sqrt(vy)
        ).otherwise(F.lit(None).cast("double")).alias("rolling_corr"),
    )


@register(
    "win-rolling-mad",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(mad(l_quantity) OVER (
               PARTITION BY l_suppkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_mad_qty
    FROM lineitem WHERE l_suppkey <= 25
    """,
)
def win_rolling_mad(spark, sf_dir):
    """Rolling median absolute deviation (unscaled MAD) over each
    supplier's last 11 shipments -- the robust dispersion partner to
    win-rolling-median (a rolling stddev explodes on one outlier; MAD
    shrugs it off, which is why robust z-scores use it). Two median
    passes over the bounded frame: sort the frame array, interpolate
    the median with the pinned lo+(hi-lo)/2 form, transform to absolute
    deviations, sort again, interpolate again. Source values are exact
    small doubles, the median is at worst a .5 value, so every deviation
    is IEEE-exact and the result matches DuckDB's mad() window bit for
    bit, unrounded.

    Scale: identical hash-partitioned bounded-frame shape as
    win-rolling-median; O(k log k) per row with k=11, in codegen."""
    li = views(spark, sf_dir).table("lineitem").filter(F.col("l_suppkey") <= 25)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-10, 0)
    )

    def interp_median(arr):
        n = F.size(arr)
        hi = F.element_at(arr, (n / 2 + 1).cast("int"))
        lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
        return lo + (hi - lo) / 2

    base = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.array_sort(F.collect_list("l_quantity").over(w)).alias("arr"),
    )
    med = interp_median(F.col("arr"))
    devs = F.array_sort(
        F.transform(F.col("arr"), lambda v: F.abs(v - med))
    )
    return base.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        interp_median(devs).alias("rolling_mad_qty"),
    )


@register(
    "win-autocorr",
    oracle="""
    WITH e AS (
        SELECT event_type, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
    lagged AS (
        SELECT event_type, v,
               LAG(v, 1) OVER w AS v1,
               LAG(v, 2) OVER w AS v2,
               LAG(v, 3) OVER w AS v3
        FROM e WINDOW w AS (PARTITION BY event_type ORDER BY event_id)),
    s AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(v) AS HUGEINT) AS sx,
               CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sxx,
               CAST(SUM(CASE WHEN v1 IS NOT NULL
                             THEN CAST(v AS HUGEINT) * v1 END) AS HUGEINT) AS p1,
               COUNT(v1) AS n1,
               CAST(SUM(CASE WHEN v2 IS NOT NULL
                             THEN CAST(v AS HUGEINT) * v2 END) AS HUGEINT) AS p2,
               COUNT(v2) AS n2,
               CAST(SUM(CASE WHEN v3 IS NOT NULL
                             THEN CAST(v AS HUGEINT) * v3 END) AS HUGEINT) AS p3,
               COUNT(v3) AS n3
        FROM lagged GROUP BY 1),
    d AS (
        SELECT event_type, n,
               CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx AS denom,
               CAST(n AS DOUBLE) * p1 * n / n1
                 - CAST(sx AS DOUBLE) * sx AS num1,
               CAST(n AS DOUBLE) * p2 * n / n2
                 - CAST(sx AS DOUBLE) * sx AS num2,
               CAST(n AS DOUBLE) * p3 * n / n3
                 - CAST(sx AS DOUBLE) * sx AS num3
        FROM s)
    SELECT event_type, n,
           CASE WHEN denom > 0 THEN num1 / denom ELSE NULL END AS acf_1,
           CASE WHEN denom > 0 THEN num2 / denom ELSE NULL END AS acf_2,
           CASE WHEN denom > 0 THEN num3 / denom ELSE NULL END AS acf_3
    FROM d
    """,
)
def win_autocorr(spark, sf_dir):
    """Autocorrelation function at lags 1-3 per event-type series -- the
    seasonality/momentum probe (a high acf_1 says smooth drift, a
    negative one says mean reversion; feeding dashboards that decide
    whether the EMA or the seasonal model applies). Estimator: the
    circular-free large-sample form r_k ~ (n*E[x_t*x_(t+k)] - mean^2*n^2)
    / (n*Sxx - Sx^2), with the lag-pair mean scaled by n/n_k so shorter
    pair counts at higher lags stay unbiased.

    Determinism: values go to int64 micro-units (x100) first; every sum
    (Sx, Sxx, lag products) is exact integer (DECIMAL-free, HUGEINT on
    the DuckDB side); doubles appear only in the final combine on
    bit-identical operands, divisions guarded NULL on zero variance --
    the win-rolling-corr discipline end to end.

    Scale: one lag window on event_type + one partial-aggregated
    groupBy -- two exchanges total, lag state is 3 rows deep, no frame
    materialization. HONEST CAVEAT: the series key is low-cardinality
    (5 types), so each series streams through ONE window task; at
    100 TB per-series volume the production formulation range-shards
    each series (e.g. by day) and prepends a 3-row halo from the
    previous shard before the lag -- the overlap-shard device, same
    results, fully parallel. The moment SUMS already shard fine (the
    groupBy partial-aggregates); only the lag pairing needs the halo."""
    e = (
        views(spark, sf_dir)
        .table("events")
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("event_id")
    lagged = e.select(
        "event_type",
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )

    def pair_sum(col):
        return F.sum(
            F.when(
                F.col(col).isNotNull(),
                F.col("v").cast("decimal(30,0)") * F.col(col),
            )
        ).cast("decimal(38,0)")

    s = lagged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # decimal like every other moment: a plain long sum wraps
        # silently at extreme per-series volume while the oracle's
        # HUGEINT stays exact
        F.sum(F.col("v").cast("decimal(30,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("v").cast("decimal(30,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        pair_sum("v1").alias("p1"),
        F.count("v1").alias("n1"),
        pair_sum("v2").alias("p2"),
        F.count("v2").alias("n2"),
        pair_sum("v3").alias("p3"),
        F.count("v3").alias("n3"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    denom = nd * F.col("sxx").cast("double") - sxd * sxd

    def acf(p, nk):
        num = nd * F.col(p).cast("double") * nd / F.col(nk) - sxd * sxd
        return F.when(denom > 0, num / denom).otherwise(
            F.lit(None).cast("double")
        )

    return s.select(
        "event_type",
        "n",
        acf("p1", "n1").alias("acf_1"),
        acf("p2", "n2").alias("acf_2"),
        acf("p3", "n3").alias("acf_3"),
    )


@register(
    "win-max-drawdown",
    oracle="""
    WITH f AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase' THEN value
                    ELSE -value END AS flow
        FROM events WHERE event_type IN ('purchase', 'error')),
    b AS (
        SELECT user_id, ts, event_id,
               SUM(CAST(flow AS DECIMAL(28,6))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
        FROM f),
    p AS (
        SELECT user_id, bal,
               MAX(bal) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM b)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(CAST(MAX(peak - bal) * 1000000 AS BIGINT) AS DOUBLE)
               / 1000000 AS max_drawdown
    FROM p GROUP BY user_id
    """,
)
def win_max_drawdown(spark, sf_dir):
    """Maximum drawdown of each user's running purchase-minus-error
    balance -- the risk metric every portfolio/billing pipeline tracks
    (largest peak-to-trough fall of the cumulative P&L path). Running
    balance and running peak are windowed DECIMAL aggregates (exact, so
    DuckDB's segment-tree and Spark's running accumulation cannot
    diverge); drawdown = peak - balance stays decimal to the final MAX
    and exits through the scaled-BIGINT device.

    Scale: two hash-partitioned windows on user_id (the high-cardinality
    key) with running frames, then one partial-aggregated groupBy -- the
    win-running-agg shape twice; no global window, no UDF."""
    e = views(spark, sf_dir).table("events")
    f = e.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(-F.col("value"))
        .alias("flow"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = f.select(
        "user_id", "ts", "event_id",
        F.sum(F.col("flow").cast(DEC)).over(w).alias("bal"),
    )
    p = b.select(
        "user_id", "bal", F.max("bal").over(w).alias("peak")
    )
    return p.groupBy("user_id").agg(
        F.count("*").alias("n_flows"),
        (
            (F.max(F.col("peak") - F.col("bal")) * 1000000)
            .cast("bigint")
            .cast("double")
            / 1000000
        ).alias("max_drawdown"),
    )


@register(
    "win-theil-sen",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2),
    slopes AS (
        SELECT a.event_type,
               (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.x < b.x)
    SELECT s.event_type,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM daily d
             WHERE d.event_type = s.event_type) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(median(slope) AS DOUBLE) AS theil_sen_slope
    FROM slopes s GROUP BY s.event_type
    """,
)
def win_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per event type: the median of all pairwise
    slopes of the daily-total series -- the outlier-proof alternative to
    least-squares trend (one corrupted day moves an OLS slope arbitrarily,
    but not the median of C(n,2) slopes). Daily totals are exact decimal
    sums cast once to double; each slope is one subtraction and one
    division (correctly rounded, identical in both engines); the median
    interpolates the sorted slope array with the pinned lo + (hi-lo)/2
    form DuckDB's median uses (win-rolling-median precedent). Shipped
    unrounded -- every upstream value is bit-identical by construction.

    Scale: the pairwise self-join is over the DAILY aggregate (bounded by
    the calendar x series keys, never by corpus size -- same bound as
    win-autocorr), so the quadratic blowup is ~366^2 per series key at
    any data scale; the corpus-sized work is one partial-aggregated
    groupBy."""
    e = views(spark, sf_dir).table("events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .alias("x"),
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("y"))
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y"))
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    n_days = daily.groupBy("event_type").agg(F.count("*").alias("n_days"))
    med = slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.array_sort(F.collect_list("slope")).alias("arr"),
    )
    n = F.size("arr")
    mid_hi = F.element_at("arr", (n / 2 + 1).cast("int"))
    mid_lo = F.element_at("arr", ((n + 1) / 2).cast("int"))
    return (
        med.join(F.broadcast(n_days), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            (mid_lo + (mid_hi - mid_lo) / 2).alias("theil_sen_slope"),
        )
    )


@register(
    "win-holt-winters",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2),
    ser AS (
        SELECT event_type, list(y ORDER BY day) AS arr,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1),
    fit AS (
        SELECT event_type, n_days,
               list_reduce(
                   list_prepend(
                       [arr[1], arr[2] - arr[1]],
                       [[v, CAST(0 AS DOUBLE)] for v in arr[2:]]),
                   (acc, e) -> [
                       e[1] / 2 + (acc[1] + acc[2]) / 2,
                       (e[1] / 2 + (acc[1] + acc[2]) / 2 - acc[1]) / 2
                           + acc[2] / 2]) AS hw
        FROM ser WHERE n_days >= 2)
    SELECT event_type, n_days,
           hw[1] AS level, hw[2] AS trend, hw[1] + hw[2] AS forecast_1
    FROM fit
    """,
)
def win_holt_winters(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend) of each event
    type's daily-total series, alpha = beta = 1/2 -- the forecasting
    recurrence S_t = a*y_t + (1-a)(S+B), B_t = b*(S_t-S) + (1-b)*B that no
    window frame expresses (every S_t depends on ALL history through the
    recurrence, unlike win-ema's truncated form). Device: the ORDERED
    FOLD -- collect the day-ordered series into an array and fold it
    sequentially (F.aggregate here, list_reduce in the oracle). Both
    engines then execute the IDENTICAL sequence of IEEE operations --
    halvings are exact, additions order-fixed by the fold -- so the
    result is bit-identical unrounded, with no decimal detour.

    Scale: the corpus-sized work is one partial-aggregated daily groupBy;
    the fold runs over the bounded calendar series (<= 366 elements per
    series key, the win-autocorr bound) inside codegen. The TRUE streaming
    form (unbounded series, O(1) per-key state) is
    streaming/jobs.holt_stream via applyInPandasWithState — bit-equal
    final state, parity pinned in tests/test_streaming.py.

    Init: S_1 = y_1, B_1 = y_2 - y_1; fold over y_2..y_n (standard Holt
    initialization)."""
    e = views(spark, sf_dir).table("events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("y"))
    ser = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))),
            lambda s: s.y,
        ).alias("arr"),
        F.count("*").alias("n_days"),
    )
    arr = F.col("arr")
    # accumulator is a 2-element ARRAY [s, b], not a struct: DuckDB's
    # list_reduce mutates a struct accumulator in place field by field,
    # so a 'b' expression would see the step's already-updated 's'
    # (observed: correct on a 1-step fold, wrong from step 2 on). A fresh
    # list value per step has no aliasing in either engine.
    init = F.array(
        F.element_at(arr, 1),
        F.element_at(arr, 2) - F.element_at(arr, 1),
    )
    rest = F.slice(arr, 2, F.size(arr) - 1)

    def step(acc, y):
        s_old, b_old = F.element_at(acc, 1), F.element_at(acc, 2)
        s_new = y / 2 + (s_old + b_old) / 2
        return F.array(s_new, (s_new - s_old) / 2 + b_old / 2)

    fit = ser.filter(F.col("n_days") >= 2).select(
        "event_type", "n_days", F.aggregate(rest, init, step).alias("hw")
    )
    hw = F.col("hw")
    return fit.select(
        "event_type",
        "n_days",
        F.element_at(hw, 1).alias("level"),
        F.element_at(hw, 2).alias("trend"),
        (F.element_at(hw, 1) + F.element_at(hw, 2)).alias("forecast_1"),
    )


@register(
    "win-rsi-wilder",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)) * 100)
                    AS BIGINT) AS revc
        FROM orders GROUP BY 1, 2),
    dd AS (
        SELECT pri, day,
               revc - LAG(revc) OVER (PARTITION BY pri ORDER BY day) AS d
        FROM daily),
    ser AS (
        SELECT pri,
               list(CAST(d AS DOUBLE) ORDER BY day) AS arr,
               CAST(COUNT(d) AS BIGINT) AS n_deltas
        FROM dd WHERE d IS NOT NULL GROUP BY 1),
    init AS (
        SELECT pri, n_deltas, arr,
               list_reduce(
                   list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
                                [[v, CAST(0 AS DOUBLE)] for v in arr[1:14]]),
                   (acc, e) -> [
                       acc[1] + CASE WHEN e[1] > 0 THEN e[1]
                                     ELSE CAST(0 AS DOUBLE) END,
                       acc[2] + CASE WHEN e[1] < 0 THEN -e[1]
                                     ELSE CAST(0 AS DOUBLE) END]) AS s14
        FROM ser WHERE n_deltas >= 15),
    fit AS (
        SELECT pri, n_deltas,
               list_reduce(
                   list_prepend([s14[1] / 14, s14[2] / 14],
                                [[v, CAST(0 AS DOUBLE)] for v in arr[15:]]),
                   (acc, e) -> [
                       (acc[1] * 13 + CASE WHEN e[1] > 0 THEN e[1]
                                           ELSE CAST(0 AS DOUBLE) END) / 14,
                       (acc[2] * 13 + CASE WHEN e[1] < 0 THEN -e[1]
                                           ELSE CAST(0 AS DOUBLE) END) / 14])
                   AS ag
        FROM init)
    SELECT pri AS o_orderpriority, n_deltas,
           ag[1] AS avg_gain, ag[2] AS avg_loss,
           CASE WHEN ag[2] > 0
                THEN 100 - 100 / (1 + ag[1] / ag[2])
                WHEN ag[1] > 0 THEN CAST(100 AS DOUBLE) END AS rsi
    FROM fit
    """,
)
def win_rsi_wilder(spark, sf_dir):
    """Wilder's RSI(14) over each order priority's daily-revenue series
    -- the momentum oscillator whose smoothing recurrence AG_t =
    (13*AG_{t-1} + gain_t)/14 no window frame expresses (every value
    depends on all history, the win-holt-winters class). Device: daily
    deltas via one lag window on exact integer cents, then the ORDERED
    FOLD -- seed with the mean of the first 14 gains/losses (Wilder's
    init; integer-valued sums, one exact /14 each), fold the remaining
    deltas through the recurrence. Both engines run the identical IEEE
    sequence on identical integer-valued inputs, so avg gain/loss and
    RSI = 100 - 100/(1+RS) ship BIT-IDENTICAL UNROUNDED; all-loss series
    pin RSI=0 via the same arithmetic, all-gain series guard to exactly
    100, flat series (both averages zero) to NULL on both engines.

    Scale: the corpus-sized work is one partial-aggregated daily
    groupBy; the lag window partitions by priority over day-bounded
    rows, and the fold runs inside codegen over the bounded calendar
    series per key (the win-autocorr bound)."""
    o = views(spark, sf_dir).table("orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("long")
        .alias("revc")
    )
    w = Window.partitionBy("pri").orderBy("day")
    dd = daily.select(
        "pri", "day", (F.col("revc") - F.lag("revc").over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    ser = dd.groupBy("pri").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "d"))),
            lambda s: s.d.cast("double"),
        ).alias("arr"),
        F.count("d").alias("n_deltas"),
    ).filter(F.col("n_deltas") >= 15)

    def gain(e):
        return F.when(e > 0, e).otherwise(F.lit(0.0))

    def loss(e):
        return F.when(e < 0, -e).otherwise(F.lit(0.0))

    # accumulator is a 2-element ARRAY [avg_gain, avg_loss] (fresh list
    # per step -- the holt-winters anti-aliasing rule for DuckDB folds)
    s14 = F.aggregate(
        F.slice(F.col("arr"), 1, 14),
        F.array(F.lit(0.0), F.lit(0.0)),
        lambda acc, e: F.array(
            F.element_at(acc, 1) + gain(e), F.element_at(acc, 2) + loss(e)
        ),
    )
    init = ser.select(
        "pri",
        "n_deltas",
        F.slice(F.col("arr"), 15, F.size("arr") - 14).alias("rest"),
        F.array(
            F.element_at(s14, 1) / 14, F.element_at(s14, 2) / 14
        ).alias("seed"),
    )
    fit = init.select(
        "pri",
        "n_deltas",
        F.aggregate(
            F.col("rest"),
            F.col("seed"),
            lambda acc, e: F.array(
                (F.element_at(acc, 1) * 13 + gain(e)) / 14,
                (F.element_at(acc, 2) * 13 + loss(e)) / 14,
            ),
        ).alias("ag"),
    )
    ag, al = F.element_at("ag", 1), F.element_at("ag", 2)
    return fit.select(
        F.col("pri").alias("o_orderpriority"),
        "n_deltas",
        ag.alias("avg_gain"),
        al.alias("avg_loss"),
        F.when(al > 0, 100 - 100 / (1 + ag / al))
        .when(ag > 0, F.lit(100.0))
        .alias("rsi"),
    )


@register(
    "win-bollinger-bands",
    oracle="""
    WITH base AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(l_extendedprice AS DECIMAL(12, 2)) AS y,
               CAST(l_extendedprice AS DECIMAL(12, 2))
                 * CAST(l_extendedprice AS DECIMAL(12, 2)) AS yy
        FROM lineitem WHERE l_suppkey <= 25),
    e AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, y,
               COUNT(*) OVER f AS cnt,
               CAST(SUM(y) OVER f AS DECIMAL(38, 6)) AS sy,
               CAST(SUM(yy) OVER f AS DECIMAL(38, 6)) AS syy
        FROM base
        WINDOW f AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    c AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(y * 100 AS BIGINT) AS yi,
               CAST(sy * 100 AS BIGINT) AS syi,
               CAST(syy * 10000 AS BIGINT) AS syyi
        FROM e WHERE cnt = 20),
    d AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(yi AS DOUBLE) / 100 AS yv,
               CAST(syi AS DOUBLE) / 2000 AS mean,
               CAST(20 * syyi - syi * syi AS DOUBLE) AS vnum
        FROM c)
    SELECT l_suppkey, l_orderkey, l_linenumber, yv AS price, mean,
           CASE WHEN vnum > 0 THEN
               mean + 2 * (sqrt(vnum / 380) / 100) END AS upper_band,
           CASE WHEN vnum > 0 THEN
               mean - 2 * (sqrt(vnum / 380) / 100) END AS lower_band,
           CASE WHEN vnum > 0 THEN
               (yv - (mean - 2 * (sqrt(vnum / 380) / 100)))
               / (4 * (sqrt(vnum / 380) / 100)) END AS pct_b
    FROM d
    """,
)
def win_bollinger_bands(spark, sf_dir):
    """Bollinger bands over each supplier's last 20 shipment prices:
    20-row rolling mean +/- 2 sample standard deviations plus %B (where
    the current price sits inside the band -- the mean-reversion
    signal). Numerics are the win-rolling-corr device verbatim: exact
    DECIMAL frame sums of y and y*y, the combine moved to SCALED
    BIGINTs (x100 / x10000, frame-bounded), and the variance numerator
    20*Syy - Sy^2 computed in exact integer arithmetic; mean, sigma,
    bands, and %B are then compositions of correctly-rounded IEEE ops
    on exact integers (sigma = sqrt(vnum/(20*19))/100 -- the /380 folds
    the n*(n-1) Bessel denominator and the scale correction in ONE
    division each, the same literal sequence in both engines), shipped
    BIT-IDENTICAL UNROUNDED. Degenerate zero-variance frames guard
    NULL.

    Scale: single shuffle on the supplier key, bounded 20-row frames --
    identical shape to win-rolling-corr/-trend; the band math is
    map-side."""
    li = views(spark, sf_dir).table("lineitem").filter(F.col("l_suppkey") <= 25)
    pd_ = F.col("l_extendedprice").cast("decimal(12,2)")
    base = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        pd_.alias("y"),
        (pd_ * pd_).alias("yy"),
    )
    f = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-19, 0)
    )
    e = base.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "y",
        F.count("*").over(f).alias("cnt"),
        F.sum("y").over(f).cast("decimal(38,6)").alias("sy"),
        F.sum("yy").over(f).cast("decimal(38,6)").alias("syy"),
    ).filter(F.col("cnt") == 20)
    c = e.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (F.col("y") * 100).cast("long").alias("yi"),
        (F.col("sy") * 100).cast("long").alias("syi"),
        (F.col("syy") * 10000).cast("long").alias("syyi"),
    )
    yv = F.col("yi").cast("double") / 100
    mean = F.col("syi").cast("double") / 2000
    vnum = (20 * F.col("syyi") - F.col("syi") * F.col("syi")).cast("double")
    sigma = F.sqrt(vnum / 380) / 100
    return c.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        yv.alias("price"),
        mean.alias("mean"),
        F.when(vnum > 0, mean + 2 * sigma).alias("upper_band"),
        F.when(vnum > 0, mean - 2 * sigma).alias("lower_band"),
        F.when(vnum > 0, (yv - (mean - 2 * sigma)) / (4 * sigma)).alias(
            "pct_b"
        ),
    )


@register(
    "win-ohlc-bars",
    oracle="""
    WITH pticks AS (
        SELECT o_orderpriority AS pri,
               date_trunc('week', CAST(o_orderdate AS DATE)) AS wk,
               o_orderdate, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
        FROM orders),
    bars AS (
        SELECT pri, wk, pc,
               ROW_NUMBER() OVER (PARTITION BY pri, wk
                                  ORDER BY o_orderdate, o_orderkey) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY pri, wk
                                  ORDER BY o_orderdate DESC,
                                           o_orderkey DESC) AS rn_d
        FROM pticks)
    SELECT pri AS o_orderpriority, CAST(wk AS TIMESTAMP) AS week_start,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(MAX(CASE WHEN rn_a = 1 THEN pc END) AS DOUBLE) / 100
               AS open,
           CAST(MAX(pc) AS DOUBLE) / 100 AS high,
           CAST(MIN(pc) AS DOUBLE) / 100 AS low,
           CAST(MAX(CASE WHEN rn_d = 1 THEN pc END) AS DOUBLE) / 100
               AS close
    FROM bars GROUP BY 1, 2
    """,
)
def win_ohlc_bars(spark, sf_dir):
    """Weekly OHLC bars per order priority: open/high/low/close of the
    order price stream -- THE time-series downsampling every
    finance/monitoring dashboard draws, and the composite the
    win-first-last device generalizes to (first/last need a unique
    total tick order -- date + orderkey -- or open/close are
    partition-placement-dependent). Prices are exact cents; each bar
    value exits via one int->double conversion and one exact /100.
    First/last materialize as conditional aggregates over ranked rows
    (rank ascending = open, descending = close), so the whole bar
    reduces in ONE grouped pass after the two rankings.

    Scale: two row_number windows over the same (priority, week)
    partitioning -- one exchange, reused sort -- then a partial-
    aggregated reduce on the bounded bar grid."""
    o = views(spark, sf_dir).table("orders")
    pticks = o.select(
        F.col("o_orderpriority").alias("pri"),
        F.date_trunc("week", F.col("o_orderdate").cast("date")).alias("wk"),
        "o_orderdate",
        "o_orderkey",
        # ROUND before the cast: bare double->long truncates in Spark
        # but rounds in DuckDB (the join-star-schema discount lesson)
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    wa = Window.partitionBy("pri", "wk").orderBy("o_orderdate", "o_orderkey")
    wd = Window.partitionBy("pri", "wk").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    bars = pticks.select(
        "pri",
        "wk",
        "pc",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return bars.groupBy(
        F.col("pri").alias("o_orderpriority"),
        F.col("wk").cast("timestamp").alias("week_start"),
    ).agg(
        F.count("*").alias("n_ticks"),
        (F.max(F.when(F.col("rn_a") == 1, F.col("pc"))).cast("double") / 100)
        .alias("open"),
        (F.max("pc").cast("double") / 100).alias("high"),
        (F.min("pc").cast("double") / 100).alias("low"),
        (F.max(F.when(F.col("rn_d") == 1, F.col("pc"))).cast("double") / 100)
        .alias("close"),
    )


@register(
    "win-rolling-beta",
    oracle="""
    WITH base AS (
        SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
               CAST(l_quantity AS DECIMAL(8, 2)) AS x,
               CAST(l_extendedprice AS DECIMAL(12, 2)) AS y,
               CAST(l_quantity AS DECIMAL(8, 2))
                 * CAST(l_extendedprice AS DECIMAL(12, 2)) AS xy,
               CAST(l_quantity AS DECIMAL(8, 2))
                 * CAST(l_quantity AS DECIMAL(8, 2)) AS xx
        FROM lineitem WHERE l_suppkey <= 25),
    e AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               COUNT(*) OVER f AS cnt,
               CAST(SUM(x) OVER f AS DECIMAL(38, 6)) AS sx,
               CAST(SUM(y) OVER f AS DECIMAL(38, 6)) AS sy,
               CAST(SUM(xy) OVER f AS DECIMAL(38, 6)) AS sxy,
               CAST(SUM(xx) OVER f AS DECIMAL(38, 6)) AS sxx
        FROM base
        WINDOW f AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
    c AS (
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(sx * 100 AS BIGINT) AS sxi,
               CAST(sy * 100 AS BIGINT) AS syi,
               CAST(sxy * 10000 AS BIGINT) AS sxyi,
               CAST(sxx * 10000 AS BIGINT) AS sxxi
        FROM e WHERE cnt = 10)
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CASE WHEN 10 * sxxi - sxi * sxi > 0 THEN
               CAST(10 * sxyi - sxi * syi AS DOUBLE)
               / CAST(10 * sxxi - sxi * sxi AS DOUBLE) END AS beta
    FROM c
    """,
)
def win_rolling_beta(spark, sf_dir):
    """Rolling regression beta of extended price on quantity over each
    supplier's last 10 shipments: the local price-per-unit slope a
    pricing monitor tracks (rolling-corr says the co-movement's
    STRENGTH; beta says its RATE). The win-rolling-corr device
    verbatim: exact decimal frame sums moved to scaled BIGINTs, the
    slope numerator/denominator 10*Sxy - SxSy / 10*Sxx - Sx^2 in exact
    integer arithmetic (the x100/x10000 scale factors cancel in the
    ratio up to the documented 100x -- beta here is cents-per-unit
    x100, i.e. dollars-per-unit), and ONE double divide on two exact
    int64->double conversions -- shipped bit-identical unrounded.
    Degenerate variance guards NULL on both engines.

    Scale: the single-shuffle bounded-frame shape of
    win-rolling-corr/-trend/-bollinger."""
    li = views(spark, sf_dir).table("lineitem").filter(F.col("l_suppkey") <= 25)
    qd = F.col("l_quantity").cast("decimal(8,2)")
    pd_ = F.col("l_extendedprice").cast("decimal(12,2)")
    base = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        qd.alias("x"),
        pd_.alias("y"),
        (qd * pd_).alias("xy"),
        (qd * qd).alias("xx"),
    )
    f = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-9, 0)
    )
    e = base.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.count("*").over(f).alias("cnt"),
        F.sum("x").over(f).cast("decimal(38,6)").alias("sx"),
        F.sum("y").over(f).cast("decimal(38,6)").alias("sy"),
        F.sum("xy").over(f).cast("decimal(38,6)").alias("sxy"),
        F.sum("xx").over(f).cast("decimal(38,6)").alias("sxx"),
    ).filter(F.col("cnt") == 10)
    c = e.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (F.col("sx") * 100).cast("long").alias("sxi"),
        (F.col("sy") * 100).cast("long").alias("syi"),
        (F.col("sxy") * 10000).cast("long").alias("sxyi"),
        (F.col("sxx") * 10000).cast("long").alias("sxxi"),
    )
    den = 10 * F.col("sxxi") - F.col("sxi") * F.col("sxi")
    num = 10 * F.col("sxyi") - F.col("sxi") * F.col("syi")
    return c.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.when(den > 0, num.cast("double") / den.cast("double")).alias("beta"),
    )
