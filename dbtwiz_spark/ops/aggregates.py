"""§2.4 Aggregations.

All group-bys are declarative — Catalyst does partial (map-side) aggregation
before the shuffle automatically, which is the property that matters at
100 TB. Double sums/avgs go through the exact-decimal accumulator
(ops.common) for cross-engine determinism.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbtwiz_spark.ops.common import (
    views, dsum, davg, dsum_sql, davg_sql, dsum_scaled, dsum_q4,
    dsum_q4_sql, dsum_q8, dsum_q8_sql, DEC,
)
from dbtwiz_spark.ops.registry import register


@register(
    "agg-group-by",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group_by(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the canonical hash aggregation
    (generated group-by, dbtwiz/admin/cleanup.py:64-76)."""
    li = views(spark, sf_dir).table("lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "2001-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register("agg-count", oracle="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1")
def agg_count(spark, sf_dir):
    """COUNT(*) per group (materialized_counts idiom, dbtwiz/admin/backfill.py:566-569)."""
    o = views(spark, sf_dir).table("orders")
    return o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))


@register(
    "agg-sum",
    oracle=f"SELECT c_nationkey, {dsum_sql('c_acctbal')} AS total_bal FROM customer GROUP BY 1",
)
def agg_sum(spark, sf_dir):
    """SUM per group (exact decimal accumulation)."""
    c = views(spark, sf_dir).table("customer")
    return c.groupBy("c_nationkey").agg(dsum("c_acctbal", "total_bal"))


@register(
    "agg-min",
    oracle="SELECT p_brand, MIN(p_retailprice) AS min_price, MIN(p_size) AS min_size FROM part GROUP BY 1",
)
def agg_min(spark, sf_dir):
    """MIN per group (min-across-models idiom, dbtwiz/admin/backfill.py:91-92)."""
    p = views(spark, sf_dir).table("part")
    return p.groupBy("p_brand").agg(
        F.min("p_retailprice").alias("min_price"), F.min("p_size").alias("min_size")
    )


@register(
    "agg-max",
    oracle="SELECT p_brand, MAX(p_retailprice) AS max_price, MAX(p_size) AS max_size FROM part GROUP BY 1",
)
def agg_max(spark, sf_dir):
    """MAX per group (max-by-length idiom, dbtwiz/admin/backfill.py:151)."""
    p = views(spark, sf_dir).table("part")
    return p.groupBy("p_brand").agg(
        F.max("p_retailprice").alias("max_price"), F.max("p_size").alias("max_size")
    )


@register(
    "agg-avg",
    oracle=f"SELECT c_mktsegment, {davg_sql('c_acctbal')} AS avg_bal FROM customer GROUP BY 1",
)
def agg_avg(spark, sf_dir):
    """AVG per group (deterministic decimal-sum / count)."""
    c = views(spark, sf_dir).table("customer")
    return c.groupBy("c_mktsegment").agg(davg("c_acctbal", "avg_bal"))


@register(
    "agg-count-distinct",
    oracle="""
    SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY 1
    """,
)
def agg_count_distinct(spark, sf_dir):
    """Exact distinct count (expands to a two-phase agg in Catalyst)."""
    o = views(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )


@register(
    "agg-approx-count-distinct",
    oracle="""
    SELECT o_orderpriority, true AS within_bound
    FROM orders GROUP BY 1
    """,
)
def agg_approx_count_distinct(spark, sf_dir):
    """APPROX_COUNT_DISTINCT (BigQuery surface) → Spark HLL++.

    The sketch estimate is engine-specific (HLL++ vs DuckDB's sketch), so
    the raw values can never hash-match. Instead the entry emits the
    *error-bound contract* per group: ``|approx - exact| <= 5% * exact``
    as a boolean, computed entirely Spark-side in one aggregate pass; the
    oracle asserts the same groups each with literal ``true``. A hash
    match therefore proves both the grouping AND that the sketch honours
    its advertised rsd=0.02 bound (with 2.5x slack) on every group.

    rsd=0.02, not 0.01: combining a distinct aggregate with HLL++ forces an
    Expand + hash-aggregate whose per-group buffer embeds the full register
    array; rsd=0.01 means 2^14 registers copied on every buffer update
    (measured 5x slower at sf0.01 than rsd=0.02's 2^12 — and at 100 TB the
    buffer width multiplies shuffle bytes for the partial-agg exchange too).
    """
    o = views(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        (
            F.abs(
                F.approx_count_distinct("o_custkey", 0.02)
                - F.countDistinct("o_custkey")
            )
            <= 0.05 * F.countDistinct("o_custkey")
        ).alias("within_bound")
    )


@register(
    "agg-hll-sketch-merge",
    oracle="""
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_exact,
           true AS est_ok
    FROM orders GROUP BY 1
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT o_custkey), true FROM orders
    """,
)
def agg_hll_sketch_merge(spark, sf_dir):
    """Re-aggregatable distinct-count sketches (Apache DataSketches HLL,
    Spark 3.5 ``hll_sketch_agg``/``hll_union_agg``): build one sketch per
    order status, then MERGE the per-group sketches into a global estimate
    without touching the base table again. Mergeability is the property
    that matters at 100 TB — per-partition/per-day sketches persist as
    binary columns and roll up to any coarser grain (the rollup never
    re-scans raw data), which exact distinct counts fundamentally can't do.

    Certificate encoding (same trick as agg-approx-count-distinct): each
    group row emits ``|estimate - exact| <= 5% * exact`` as a boolean, and
    the merged 'ALL' row certifies the UNIONED sketch against the global
    exact count — a hash match proves the merge path, not just per-group
    estimation. Sketches never leave the engine (binary is engine-specific,
    so the oracle states the contract as literals)."""
    o = views(spark, sf_dir).table("orders")
    per = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("n_exact"),
    )
    per_rows = per.select(
        "o_orderstatus",
        "n_exact",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("est_ok"),
    )
    glob_exact = o.agg(F.countDistinct("o_custkey").alias("n_exact"))
    merged = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(glob_exact))
        .select(
            F.lit("ALL").alias("o_orderstatus"),
            "n_exact",
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("est_ok"),
        )
    )
    return per_rows.unionByName(merged)


def mg_summarizer(k: int):
    """Per-partition Misra-Gries summary as a mapInPandas function: emits
    the <= ``k`` surviving counter keys of the partition's token stream.
    The decrement is the summary-merge "subtract the (k+1)-th largest"
    step applied per Arrow batch (Agarwal et al. 2013) — vectorized
    value_counts, never a per-token Python loop. Module-level (not a
    closure) so tests exercise the same code the operator ships."""
    import pandas as pd

    def mg_summary(batches):
        acc = pd.Series(dtype="int64")
        for pdf in batches:
            acc = acc.add(pdf["token"].value_counts(), fill_value=0)
            if len(acc) > k:
                cut = acc.nlargest(k + 1).iloc[-1]
                acc = acc - cut
                acc = acc[acc > 0]
        yield pd.DataFrame({"token": acc.index.astype(str)})

    return mg_summary


@register(
    "agg-heavy-hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, COUNT(*) AS freq
    FROM toks, tot
    GROUP BY token, n
    HAVING COUNT(*) >= n / 30.0
    """,
)
def agg_heavy_hitters(spark, sf_dir):
    """Exact distributed heavy hitters (tokens with frequency >= n/30) via
    the two-phase Misra-Gries pattern (Misra & Gries 1982; mergeable-
    summaries form per Agarwal et al. 2013): each partition builds a
    64-counter MG summary of its token stream (candidate generation), the
    tiny candidate union broadcasts back for one exact counting pass over
    just those tokens (verification), and the threshold filter runs on
    exact counts.

    Why this is the 100 TB shape: a naive global token groupBy shuffles
    the full token stream; here the only full-stream operators are
    map-side (the MG summary emits <= 64 rows per partition regardless of
    input size, and the verify pass semi-joins against a broadcast
    candidate set before its groupBy, so the exchange carries only
    candidate tokens). MG's deficit bound (per-partition error
    <= n_p/65, summing to < n/65 merged) guarantees every token with true
    frequency >= n/30 > n/65 survives candidate generation — so the final
    answer is EXACT and order-independent, which is what lets an
    approximate-sketch pipeline carry a plain SQL oracle. The summary
    stage is an Arrow-batched mapInPandas with vectorized value_counts
    (the MG decrement is the summary-merge "subtract the (k+1)-th largest"
    step, never a per-token Python loop)."""
    d = views(spark, sf_dir).table("documents")
    K, PHI = 64, 30.0
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    candidates = toks.mapInPandas(mg_summarizer(K), "token string").distinct()
    total = toks.agg(F.count("*").alias("n"))
    return (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") >= F.col("n") / F.lit(PHI))
        .select("token", "freq")
    )


@register(
    "agg-array-agg",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations
    FROM nation GROUP BY 1
    """,
)
def agg_array_agg(spark, sf_dir):
    """ARRAY_AGG per group (dbtwiz/admin/cleanup.py:65); sorted for
    deterministic comparison (collection order is nondeterministic).

    The aggregation itself is collect_set + sort_array; the output is
    serialized to a comma-joined string because the driver's canonicalizer
    (pandas sort_values) cannot hash/sort raw list cells — same operator
    coverage, hashable result on both engines.
    """
    n = views(spark, sf_dir).table("nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("n_name"))).alias("nations")
    )


@register(
    "agg-string-agg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ',' ORDER BY CAST(c_nationkey AS VARCHAR)) AS nation_list
    FROM customer GROUP BY 1
    """,
)
def agg_string_agg(spark, sf_dir):
    """STRING_AGG (reference analog: ','.join, dbtwiz/admin/backfill.py:119)."""
    c = views(spark, sf_dir).table("customer")
    return c.groupBy("c_mktsegment").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_set(F.col("c_nationkey").cast("string")))
        ).alias("nation_list")
    )


@register(
    "agg-grouping-sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """GROUPING SETS multi-aggregation."""
    views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               {dsum_sql('o_totalprice')} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg-rollup",
    oracle="""
    SELECT r_name, n_name, COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals."""
    cat = views(spark, sf_dir)
    n, r = cat.table("nation"), cat.table("region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"))
    )


@register(
    "agg-cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    """CUBE over two dimensions."""
    o = views(spark, sf_dir).table("orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@register(
    "agg-having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS total
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 3
    """,
)
def agg_having(spark, sf_dir):
    """Post-aggregation HAVING filter."""
    o = views(spark, sf_dir).table("orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "agg-filtered",
    oracle=f"""
    SELECT c_nationkey,
           COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS n_building,
           COUNT(*) FILTER (WHERE c_acctbal > 0) AS n_positive,
           {dsum_sql("CASE WHEN c_acctbal > 0 THEN c_acctbal ELSE 0 END")} AS pos_bal
    FROM customer GROUP BY 1
    """,
)
def agg_filtered(spark, sf_dir):
    """Filtered aggregates (BigQuery COUNTIF surface)."""
    c = views(spark, sf_dir).table("customer")
    pos = F.when(F.col("c_acctbal") > 0, F.col("c_acctbal")).otherwise(F.lit(0.0))
    return c.groupBy("c_nationkey").agg(
        F.count(F.when(F.col("c_mktsegment") == "BUILDING", 1)).alias("n_building"),
        F.count(F.when(F.col("c_acctbal") > 0, 1)).alias("n_positive"),
        dsum(pos, "pos_bal"),
    )


@register(
    "agg-approx-quantile",
    oracle="""
    SELECT o_orderpriority,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.9) AS p90
    FROM orders GROUP BY 1
    """,
)
def agg_approx_quantile(spark, sf_dir):
    """APPROX_QUANTILES (BigQuery surface) → percentile_approx.

    With accuracy >= group size the KLL-style sketch is exact and returns an
    actual data value — which is DuckDB's quantile_disc definition, making
    the entry oracle-checkable. At 100 TB the same call with default
    accuracy (10000) is the approximate path.
    """
    o = views(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", 0.5, 1000000).alias("p50"),
        F.percentile_approx("o_totalprice", 0.9, 1000000).alias("p90"),
    )


@register(
    "agg-pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders GROUP BY 1
    """,
)
def agg_pivot(spark, sf_dir):
    """PIVOT (BigQuery PIVOT surface): one column per pivoted status value.

    The value list is EXPLICIT — at 100 TB an implicit pivot would need a
    pre-pass to discover values; Catalyst compiles the explicit form into a
    single partial-aggregated groupBy (one shuffle, no extra scan)."""
    o = views(spark, sf_dir).table("orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


@register(
    "agg-unpivot",
    oracle="""
    SELECT o_orderpriority, metric, val FROM (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS DOUBLE) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total_price
        FROM orders GROUP BY 1)
    UNPIVOT (val FOR metric IN (n_orders, total_price))
    """,
)
def agg_unpivot(spark, sf_dir):
    """UNPIVOT (BigQuery UNPIVOT surface): wide metric columns → long
    (metric, value) rows via the melt/stack expression — map-side only,
    no shuffle beyond the source aggregation."""
    o = views(spark, sf_dir).table("orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        dsum("o_totalprice", "total_price"),
    )
    return wide.unpivot(
        "o_orderpriority", ["n_orders", "total_price"], "metric", "val"
    )


def qd_summarizer(b: int):
    """Per-batch quantile summary as a mapInPandas function: each Arrow
    batch collapses to <= ``b`` (slice-max value, slice-count weight)
    points with exact within-batch ranks; nulls are dropped (pandas sorts
    NaN last — an undropped null would become a top summary point while
    the certificate's comparisons exclude it). Module-level so the
    property test fuzzes the shipped code, not a copy."""
    import pandas as pd

    def summarize(batches):
        for pdf in batches:
            v = pdf["value"].dropna().sort_values().to_numpy()
            n = len(v)
            if n == 0:
                continue
            k = max(1, -(-n // b))  # ceil(n / b) slice width
            ends = list(range(k - 1, n, k))
            if ends[-1] != n - 1:
                ends.append(n - 1)
            prev = -1
            out_v, out_w = [], []
            for e in ends:
                out_v.append(v[e])
                out_w.append(e - prev)
                prev = e
            yield pd.DataFrame({"v": out_v, "w": out_w})

    return summarize


@register(
    "agg-quantile-digest",
    oracle="""
    SELECT CAST(COUNT(value) AS BIGINT) AS n_values,
           true AS median_ok, true AS p90_ok
    FROM events
    """,
)
def agg_quantile_digest(spark, sf_dir):
    """Mergeable quantile digest (the third mergeable-summary family member
    after HLL distinct counts and Misra-Gries heavy hitters): every Arrow
    batch collapses to <= 64 (slice-max, slice-count) points with exact
    within-batch ranks, so summary size is O(batches), not O(rows), and
    the merged summary answers any quantile with rank error
    <= n/64 + #batches (only cross-batch interleaving blurs the exact
    per-batch ranks).

    Scale shape: no sort and no exchange ever touches the full stream —
    each Arrow batch is sorted independently inside the summarizer (10^4
    rows, in-memory), the summary pass emits a bounded stream, and only
    the tiny summary is ever brought together (its global rank runs over
    a bounded table, like ext-vocab-build's vocab). The certificate then verifies the
    approximate median and p90 against EXACT ranks — one map-side count
    per quantile — and emits the bound check as booleans the oracle states
    as literals; n_values hash-pins the scan itself. At 100 TB the same
    digest persists per-partition and rolls up to any grain, which is the
    whole point of mergeable summaries."""
    ev = views(spark, sf_dir).table("events").select("value")
    summary = ev.mapInPandas(qd_summarizer(64), "v double, w long")
    # non-null count: the summarizer drops nulls, so every weight, target
    # threshold, and exact rank below must count the same population
    n_row = ev.agg(F.count("value").alias("n"))
    # cumulative weight over the globally-sorted summary (bounded table —
    # the single-partition window is over O(batches) rows at any scale)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = summary.select("v", F.sum("w").over(w).alias("cw")).crossJoin(
        F.broadcast(n_row)
    )
    approx = cum.agg(
        F.min(F.when(F.col("cw") >= 0.5 * F.col("n"), F.col("v"))).alias("q50"),
        F.min(F.when(F.col("cw") >= 0.9 * F.col("n"), F.col("v"))).alias("q90"),
    )
    # tie-aware check: a heavy value atom inflates the <=-count past any
    # rank bound even for a PERFECT digest, so the certificate is stated
    # from both sides of the returned value's tie range — rank(x < q) must
    # not overshoot the target and rank(x <= q) must reach it (exactly the
    # property-test form; robust if regenerated testdata ever carries
    # repeated values)
    checked = ev.crossJoin(F.broadcast(approx)).agg(
        F.count("value").alias("n_values"),
        F.sum(F.when(F.col("value") < F.col("q50"), 1).otherwise(0)).alias("lo50"),
        F.sum(F.when(F.col("value") <= F.col("q50"), 1).otherwise(0)).alias("hi50"),
        F.sum(F.when(F.col("value") < F.col("q90"), 1).otherwise(0)).alias("lo90"),
        F.sum(F.when(F.col("value") <= F.col("q90"), 1).otherwise(0)).alias("hi90"),
    )
    tol = 0.05

    def _ok(lo, hi, q):
        target = q * F.col("n_values")
        slack = tol * F.col("n_values")
        return (F.col(lo) <= target + slack) & (F.col(hi) >= target - slack)

    return checked.select(
        "n_values",
        _ok("lo50", "hi50", 0.5).alias("median_ok"),
        _ok("lo90", "hi90", 0.9).alias("p90_ok"),
    )


@register(
    "agg-mode-deterministic",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                     ORDER BY cnt DESC, o_orderpriority) AS rn
        FROM c)
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           cnt AS mode_count
    FROM r WHERE rn = 1
    """,
)
def agg_mode_deterministic(spark, sf_dir):
    """Per-group statistical mode with a DETERMINISTIC tie-break (smallest
    value wins): built-in ``mode()`` returns an arbitrary element among
    tied candidates in both engines, which can never hash-match — so the
    engine computes it as count-per-value then an argmax via struct-max
    ordering (count DESC, value ASC), the same two-phase shape Catalyst
    gives any distinct-style aggregate: both groupBys carry map-side
    partial aggregation, and the second operates on the tiny
    (group, value) count table."""
    o = views(spark, sf_dir).table("orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    # struct max over (cnt, reversed-value): Spark compares struct fields
    # left-to-right, so this is argmax by count with min-value tie-break —
    # encode "value ASC on ties" by negating the comparison via a sort on
    # the original value inside min_by's ordering struct
    return c.groupBy("o_orderstatus").agg(
        F.min_by(
            "o_orderpriority",
            F.struct((-F.col("cnt")).alias("neg"), F.col("o_orderpriority").alias("v")),
        ).alias("mode_priority"),
        F.max("cnt").alias("mode_count"),
    )


@register(
    "agg-corr-covar",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               {dsum_sql('l_quantity')} AS sx,
               {dsum_sql('l_extendedprice')} AS sy,
               {dsum_sql('l_quantity * l_extendedprice')} AS sxy,
               {dsum_sql('l_quantity * l_quantity')} AS sxx,
               {dsum_sql('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           round((sxy - sx * sy / n) / n, 2) AS covar_pop,
           round((sxy - sx * sy / n)
                 / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
             AS corr
    FROM m
    """,
)
def agg_corr_covar(spark, sf_dir):
    """Per-group covariance and Pearson correlation — deterministically.
    Built-in ``corr``/``covar_pop`` accumulate doubles in partition order,
    so their low bits differ between engines (and between runs with
    different partitioning); this entry instead reduces the five exact
    moments (n, Σx, Σy, Σxy, Σx², Σy²) through the DECIMAL accumulator
    (ops.common.dsum — order-independent by exactness) and combines them
    in one double expression per group. Rounding absorbs the combine's
    last-ulp variance (JVM vs C++ contraction), sized to the output's
    magnitude: corr is O(1) (ulp ~1e-16, 6 dp boundary gap 5e-7 — flake
    odds negligible), but covar is O(1e8) where a 1-ulp drift (~1.5e-8)
    sits uncomfortably close to a 6 dp boundary, so covar rounds to 2 dp
    (boundary gap 5e-3) — still 10+ significant digits at this
    magnitude.

    One shuffle with map-side partial aggregation, identical to any other
    groupBy — the moment trick costs nothing at scale and is also the
    MERGEABLE form (per-shard moment vectors add), which is how a 100 TB
    pipeline rolls correlation up across partitions without a second
    pass."""
    li = views(spark, sf_dir).table("lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        dsum(x * y, "sxy"),
        dsum(x * x, "sxx"),
        dsum(y * y, "syy"),
    )
    n = F.col("n")
    num = F.col("sxy") - F.col("sx") * F.col("sy") / n
    corr = num / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * (F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(num / n, 2).alias("covar_pop"),
        F.round(corr, 6).alias("corr"),
    )


@register(
    "agg-percentile-exact",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
)
def agg_percentile_exact(spark, sf_dir):
    """Exact per-group continuous percentiles (linear interpolation — the
    PERCENTILE_CONT surface): the exact counterpart to agg-approx-quantile
    and agg-quantile-digest. Both engines compute rank = p*(n-1) and
    interpolate (1-f)*lo + f*hi over the same sorted values with the same
    double expression, so the result is hash-exact; rounded to 6 dp to
    absorb the interpolation's last-ulp multiply-add variance.

    Exact percentiles buffer each group's values — fine when groups are
    few and bounded (5 priorities here), the digest/approx entries are
    the path for high-cardinality or corpus-scale grouping."""
    o = views(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# Count-Min parameters: d hash rows × w counters. Width drives the additive
# error bound (excess ≤ ~N/w expected per row); the certificate below uses
# the generous 4N/w tail bound, whose min-over-d failure odds are
# (1/4)^d = 0.4% per probe — and the data is fixed per sf_dir, so the
# check is deterministic per dataset (verified at every test SF).
_CM_D = 4
_CM_W = 256
_CM_PROBES = ("the", "of", "data", "model", "system", "a")


@register(
    "agg-countmin-sketch",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS true_count, true AS ok
    FROM toks
    WHERE tok IN {_CM_PROBES!r}
    GROUP BY 1
    """,
)
def agg_countmin_sketch(spark, sf_dir):
    """Count-Min sketch over the corpus token stream — the frequency
    member of the mergeable-summary family (HLL cardinality, Misra-Gries
    heavy hitters, quantile digest): a d×w counter matrix answering point
    frequency queries with one-sided error (never under, over by at most
    ~N/w with high probability).

    The merged sketch IS a groupBy: every token contributes d (row,
    bucket) increments, and aggregating counts over the d×w = 1024
    distinct keys collapses map-side (partial_count), so the shuffle
    carries one row per counter per input partition — the distributed
    equivalent of adding per-shard counter matrices, with no driver-side
    state. Probes then look up min over d counters via an equi-join on
    the tiny sketch.

    Driver-checkable certificate shape (same device as the recall
    entries): the output carries each probe's TRUE count (recomputed from
    scratch by the oracle) plus ok = (estimate ≥ true AND estimate ≤
    true + 4N/w); the estimates themselves are seeded-xxhash64-specific
    and stay out of the hashed columns."""
    d = views(spark, sf_dir).table("documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    rb = toks.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            F.xxhash64(F.lit(i), F.col("tok")), F.lit(_CM_W)
                        ).alias("bucket"),
                    )
                    for i in range(_CM_D)
                ]
            )
        ).alias("rb"),
    ).select(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    sketch = rb.groupBy("row", "bucket").agg(F.count("*").alias("c"))
    total = toks.agg(F.count("*").alias("n_total"))
    probes = toks.filter(F.col("tok").isin(*_CM_PROBES))
    true_counts = probes.groupBy(F.col("tok").alias("token")).agg(
        F.count("*").alias("true_count")
    )
    probe_cells = true_counts.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            F.xxhash64(F.lit(i), F.col("token")), F.lit(_CM_W)
                        ).alias("bucket"),
                    )
                    for i in range(_CM_D)
                ]
            )
        ).alias("rb"),
    ).select("token", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    est = (
        probe_cells.join(sketch, ["row", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("est"))
    )
    return (
        true_counts.join(est, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "true_count",
            (
                (F.col("est") >= F.col("true_count"))
                & (
                    F.col("est")
                    <= F.col("true_count") + 4 * F.col("n_total") / _CM_W
                )
            ).alias("ok"),
        )
    )


# Bloom filter parameters: m bits, k hashes. At the test corpora's vocab
# sizes the bit-array load keeps the false-positive rate well under 1%;
# the certificate below asserts only the DETERMINISTIC guarantee (no
# false negatives), so a rare FP on an absent probe can never fail it.
_BLOOM_M = 65536
_BLOOM_K = 4
_BLOOM_PROBES = ("the", "data", "model", "zq_unseen_token_1", "zq_unseen_token_2")


@register(
    "agg-bloom-filter",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents),
    probes AS (
        SELECT unnest({list(_BLOOM_PROBES)!r}) AS token)
    SELECT p.token, (t.tok IS NOT NULL) AS present, true AS ok
    FROM probes p LEFT JOIN toks t ON t.tok = p.token
    """,
)
def agg_bloom_filter(spark, sf_dir):
    """Bloom-filter membership over the corpus vocabulary — the set-
    membership member of the mergeable-summary family (HLL cardinality,
    Misra-Gries heavy hitters, quantile digest, Count-Min frequency):
    m-bit array, k seeded hashes, answering "was this token ever seen"
    in O(m) state regardless of vocab size. The 100 TB use: shipping a
    compact vocab/URL/doc-hash filter to the next pipeline stage so it
    can skip lookups for definitely-new keys.

    The merged filter IS a distinct-aggregate: every distinct token
    contributes k bit positions and ``distinct`` over ≤ m values
    collapses map-side — per-shard filters OR together exactly like the
    bit arrays would. Probes semi-join the bit set and demand all k bits.

    Certificate shape: output carries each probe's TRUE presence
    (recomputed from scratch by the oracle) and ok = present ⇒ member —
    the filter's deterministic no-false-negative guarantee. False
    positives on absent probes are possible by design and deliberately
    not asserted."""
    d = views(spark, sf_dir).table("documents")
    vocab = d.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    bits = vocab.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(i), F.col("tok")), F.lit(_BLOOM_M))
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("bit")
    ).distinct()
    probes = spark.createDataFrame(
        [(t,) for t in _BLOOM_PROBES], "token string"
    )
    probe_bits = probes.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(i), F.col("token")), F.lit(_BLOOM_M)
                    )
                    for i in range(_BLOOM_K)
                ]
            )
        ).alias("bit"),
    )
    member = (
        probe_bits.join(bits, "bit", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("hits"))
        .select("token", (F.col("hits") == _BLOOM_K).alias("member"))
    )
    present = probes.join(
        vocab.withColumnRenamed("tok", "token"), "token", "left_semi"
    ).withColumn("p", F.lit(True))
    return (
        probes.join(present.select("token", "p"), "token", "left")
        .join(member, "token", "left")
        .select(
            "token",
            F.coalesce("p", F.lit(False)).alias("present"),
            (
                ~F.coalesce("p", F.lit(False))
                | F.coalesce("member", F.lit(False))
            ).alias("ok"),
        )
    )


@register(
    "agg-histogram",
    oracle="""
    WITH b AS (
        SELECT CAST(CASE WHEN o_totalprice < 0 THEN -1
                         WHEN o_totalprice >= 600000 THEN 20
                         ELSE floor((o_totalprice - 0) * 20 / 600000)
                    END AS BIGINT) AS bucket
        FROM orders)
    SELECT bucket,
           CAST(0 + bucket * 600000.0 / 20 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n
    FROM b GROUP BY 1
    """,
)
def agg_histogram(spark, sf_dir):
    """Equi-width histogram of a numeric column (20 buckets over a fixed
    [0, 600000) domain, with underflow/overflow buckets) — the data-
    profiling / optimizer-statistics summary every engine ships
    (BigQuery's APPROX_TOP_* family neighbor; Spark's ANALYZE histogram).

    Pure map-side bucket arithmetic + one partial-aggregated groupBy over
    at most n_buckets+2 keys — the shuffle carries one row per bucket per
    input partition regardless of table size, the same mergeable shape as
    the sketch family. The bucket expression is written IDENTICALLY on
    both engines (same association order) so floor() can never flip on a
    last-ulp difference."""
    o = views(spark, sf_dir).table("orders")
    x = F.col("o_totalprice")
    lo, hi, n = 0, 600000, 20
    bucket = (
        F.when(x < lo, -1)
        .when(x >= hi, n)
        .otherwise(F.floor((x - lo) * n / (hi - lo)))
        .cast("long")
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (lo + F.col("bucket") * (hi / n)).cast("double").alias("bucket_lo"),
            "n",
        )
    )


@register(
    "agg-weighted-median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag, l_extendedprice AS val,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1, 2),
    c AS (
        SELECT l_returnflag, val, w,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY val
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
        FROM v)
    SELECT l_returnflag, MIN(val) AS weighted_median, MIN(tw) AS total_weight
    FROM c WHERE 2 * cw >= tw GROUP BY 1
    """,
)
def agg_weighted_median(spark, sf_dir):
    """Per-group weighted median: the smallest value whose cumulative
    weight reaches half the group's total weight (weights =
    ``l_quantity``). The robust center a pricing or quality dashboard
    wants when rows carry multiplicities — plain median over exploded
    rows would be the same answer at explode cost.

    Entirely in exact integer arithmetic: weights are integral
    quantities summed as BIGINT, and the half-total test is
    ``2·cum ≥ total`` — no doubles anywhere, so no cross-engine rounding
    surface at all. Scale shape: a map-side pre-aggregation collapses
    duplicate (group, value) pairs BEFORE the window (one shuffle on the
    group key); the running sum then walks the collapsed per-group value
    list — the same partition-local sort any per-group window costs, with
    cardinality bounded by distinct values, not rows.
    """
    li = views(spark, sf_dir).table("lineitem")
    v = li.groupBy(
        F.col("l_returnflag"), F.col("l_extendedprice").alias("val")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    win = Window.partitionBy("l_returnflag").orderBy("val")
    c = v.select(
        "l_returnflag",
        "val",
        F.sum("w").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("val").alias("weighted_median"),
            F.min("tw").alias("total_weight"),
        )
    )


@register(
    "agg-ab-test",
    oracle=f"""
    WITH m AS (
        SELECT event_type,
               COUNT(*) FILTER (WHERE user_id % 2 = 0) AS na,
               COUNT(*) FILTER (WHERE user_id % 2 = 1) AS nb,
               {dsum_sql('CASE WHEN user_id % 2 = 0 THEN value END')} AS sa,
               {dsum_sql('CASE WHEN user_id % 2 = 1 THEN value END')} AS sb,
               {dsum_sql('CASE WHEN user_id % 2 = 0 THEN value * value END')} AS sqa,
               {dsum_sql('CASE WHEN user_id % 2 = 1 THEN value * value END')} AS sqb
        FROM events GROUP BY 1)
    SELECT event_type, na, nb,
           round(sa / na, 6) AS mean_a,
           round(sb / nb, 6) AS mean_b,
           round((sa / na - sb / nb)
                 / sqrt(((sqa - sa * sa / na) / (na - 1)) / na
                        + ((sqb - sb * sb / nb) / (nb - 1)) / nb), 6)
             AS t_welch
    FROM m
    """,
)
def agg_ab_test(spark, sf_dir):
    """Two-sample A/B comparison per event type: variant = user_id parity
    (the deterministic stand-in for an assignment column), reporting group
    sizes, means, and Welch's t statistic — the experiment-readout query
    every product-analytics warehouse runs daily.

    Numerics follow the agg-corr-covar recipe: reduce exact moments
    (n, Σx, Σx²) per (event_type, variant) through the DECIMAL
    accumulator — order-independent, mergeable across shards — and
    combine them in one double expression per output row; round(…, 6)
    absorbs the combine's last-ulp engine variance. One shuffle with
    map-side partial agg; conditional aggregation folds both variants
    into a single pass instead of two scans + a join.
    """
    ev = views(spark, sf_dir).table("events")
    a = F.col("user_id") % 2 == 0
    val = F.col("value")
    m = ev.groupBy("event_type").agg(
        F.count(F.when(a, 1)).alias("na"),
        F.count(F.when(~a, 1)).alias("nb"),
        dsum(F.when(a, val), "sa"),
        dsum(F.when(~a, val), "sb"),
        dsum(F.when(a, val * val), "sqa"),
        dsum(F.when(~a, val * val), "sqb"),
    )
    na, nb = F.col("na"), F.col("nb")
    sa, sb = F.col("sa"), F.col("sb")
    var_a = (F.col("sqa") - sa * sa / na) / (na - 1)
    var_b = (F.col("sqb") - sb * sb / nb) / (nb - 1)
    t = (sa / na - sb / nb) / F.sqrt(var_a / na + var_b / nb)
    return m.select(
        "event_type",
        "na",
        "nb",
        F.round(sa / na, 6).alias("mean_a"),
        F.round(sb / nb, 6).alias("mean_b"),
        F.round(t, 6).alias("t_welch"),
    )


@register(
    "agg-kmv-intersect",
    oracle="""
    WITH sv AS (
        SELECT hv FROM (SELECT DISTINCT ((user_id % 2147483648) * 2654435761)
                            % 4294967296 AS hv
                        FROM events WHERE event_type = 'view')
        ORDER BY hv LIMIT 64),
    sc AS (
        SELECT hv FROM (SELECT DISTINCT ((user_id % 2147483648) * 2654435761)
                            % 4294967296 AS hv
                        FROM events WHERE event_type = 'click')
        ORDER BY hv LIMIT 64),
    uk AS (
        SELECT hv FROM (SELECT hv FROM sv UNION SELECT hv FROM sc)
        ORDER BY hv LIMIT 64),
    stats AS (
        SELECT MAX(hv) AS m, COUNT(*) AS k_eff,
               SUM(CASE WHEN hv IN (SELECT hv FROM sv)
                         AND hv IN (SELECT hv FROM sc)
                   THEN 1 ELSE 0 END) AS shared
        FROM uk),
    est AS (
        SELECT union_est,
               CASE WHEN k_eff < 64 THEN shared
                    ELSE CAST(FLOOR(shared * union_est / 64) AS BIGINT)
               END AS inter_est
        FROM (
            SELECT shared, k_eff,
                   CASE WHEN k_eff < 64 THEN k_eff
                        ELSE CAST(FLOOR(63 * 4294967296 / m) AS BIGINT)
                   END AS union_est
            FROM stats)),
    truth AS (
        SELECT COUNT(DISTINCT user_id) FILTER (event_type = 'view') AS n_view,
               COUNT(DISTINCT user_id) FILTER (event_type = 'click') AS n_click,
               COUNT(DISTINCT CASE WHEN user_id IN (
                   SELECT user_id FROM events WHERE event_type = 'view')
                   AND user_id IN (
                   SELECT user_id FROM events WHERE event_type = 'click')
                   THEN user_id END) AS inter_true
        FROM events)
    SELECT n_view, n_click, CAST(inter_true AS BIGINT) AS inter_true,
           CAST(union_est AS BIGINT) AS union_est,
           CAST(inter_est AS BIGINT) AS inter_est,
           CAST(ABS(inter_est - inter_true)
                <= 0.35 * GREATEST(inter_true, 1) AS BOOLEAN) AS within_bound
    FROM est, truth
    """,
)
def agg_kmv_intersect(spark, sf_dir):
    """KMV (k-minimum-values) distinct-set sketch, k=64: estimated
    distinct-union and distinct-intersection of two user sets (viewers ∩
    clickers) with the exact counts and an error-bound flag in the same
    row — the set-OPERATION member of the mergeable-summary family (HLL
    counts one set; KMV's k smallest hashes additionally compose across
    sets: union = k smallest of the sketch union, Jaccard = shared
    fraction among them, intersection = Jaccard × union estimate).

    Determinism: the sketch hash is the corpus's exact-BIGINT
    multiplicative hash, so both engines pick the IDENTICAL k-minimum
    sample and every estimate hash-matches — the estimator itself is
    value-checked, not just bounded. Scale shape: per-side distinct is
    the only corpus-sized shuffle; the k-smallest cut is TakeOrdered
    (never a global sort), and all sketch math runs on ≤64-row frames.
    At 1000 executors the same sketches would be collected per partition
    and merged associatively — the k-minimum property is closed under
    union, which is what makes KMV mergeable."""
    from dbtwiz_spark.ops.common import hkey

    K = 64
    M32 = 4294967296
    ev = views(spark, sf_dir).table("events")

    def sketch(side):
        return (
            ev.filter(F.col("event_type") == side)
            .select(hkey(F.col("user_id")).alias("hv"))
            .distinct()
            .orderBy("hv")
            .limit(K)
        )

    sv, sc = sketch("view"), sketch("click")
    uk = sv.union(sc).distinct().orderBy("hv").limit(K)
    in_both = sv.join(sc, "hv", "left_semi")
    stats = uk.agg(
        F.max("hv").alias("m"),
        F.count("*").alias("k_eff"),
    ).crossJoin(
        F.broadcast(uk.join(in_both, "hv", "left_semi")
                    .agg(F.count("*").alias("shared")))
    )
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    truth = (
        ev.agg(
            F.count_distinct(
                F.when(F.col("event_type") == "view", F.col("user_id"))
            ).alias("n_view"),
            F.count_distinct(
                F.when(F.col("event_type") == "click", F.col("user_id"))
            ).alias("n_click"),
        )
        .crossJoin(
            F.broadcast(
                viewers.join(clickers, "user_id", "left_semi")
                .agg(F.count("*").cast("long").alias("inter_true"))
            )
        )
    )
    # unsaturated sketch (k_eff < K) means BOTH sides' full distinct hash
    # sets were observed — the estimates are exact counts, not the
    # (K-1)/m extrapolation (which is undefined off the k-th order
    # statistic it assumes)
    saturated = F.col("k_eff") >= K
    union_est = F.when(
        saturated, F.floor(F.lit((K - 1) * M32) / F.col("m"))
    ).otherwise(F.col("k_eff")).cast("long")
    inter_est = F.when(
        saturated, F.floor(F.col("shared") * union_est / K)
    ).otherwise(F.col("shared")).cast("long")
    out = stats.crossJoin(F.broadcast(truth)).select(
        "n_view",
        "n_click",
        "inter_true",
        union_est.alias("union_est"),
        inter_est.alias("inter_est"),
        (
            F.abs(inter_est - F.col("inter_true"))
            <= 0.35 * F.greatest(F.col("inter_true"), F.lit(1))
        ).alias("within_bound"),
    )
    return out


@register(
    "agg-linear-regression",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               {dsum_sql('l_quantity')} AS sx,
               {dsum_sql('l_extendedprice')} AS sy,
               {dsum_sql('l_quantity * l_extendedprice')} AS sxy,
               {dsum_sql('l_quantity * l_quantity')} AS sxx,
               {dsum_sql('l_extendedprice * l_extendedprice')} AS syy
        FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - sx * (n * sxy - sx * sy) / (n * sxx - sx * sx)) / n,
                 4) AS intercept,
           round(power(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def agg_linear_regression(spark, sf_dir):
    """Per-group ordinary-least-squares fit (slope / intercept / R²) of
    extendedprice on quantity — the ``regr_slope``-family capability
    (BigQuery exposes it as ML.LINEAR_REG / regr_* in GoogleSQL; the
    reference's SQL plane can emit it) computed deterministically: the
    built-in regr_* aggregates accumulate doubles in partition order, so
    instead the five exact DECIMAL moments (n, Σx, Σy, Σxy, Σx², Σy²) are
    reduced (order-independent) and the closed-form OLS combine runs once
    per group in double. Rounding absorbs the combine's last-ulp variance,
    dp sized to output magnitude (slope/R² O(1–1e3) → 6 dp, intercept
    O(1e4) → 4 dp).

    Scale: one shuffle with map-side partial aggregation; the moment
    vector is MERGEABLE (per-shard vectors add), so a 100 TB fit is a
    single pass — and the same vector serves corr/covar (agg-corr-covar)
    and stddev for free."""
    li = views(spark, sf_dir).table("lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        dsum(x * y, "sxy"),
        dsum(x * x, "sxx"),
        dsum(y * y, "syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    num = n * sxy - sx * sy
    slope = num / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - sx * slope) / n, 4).alias("intercept"),
        F.round(
            F.pow(num, 2) / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6
        ).alias("r2"),
    )


@register(
    "agg-entropy",
    oracle="""
    WITH c AS (
        SELECT lang, source, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
    t AS (
        SELECT lang, source, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY lang) AS DOUBLE) AS total
        FROM c)
    SELECT lang,
           COUNT(*) AS n_sources,
           CAST(SUM(CAST(-(cnt / total) * ln(cnt / total)
                         AS DECIMAL(28, 6))) AS DOUBLE) AS entropy_nats
    FROM t GROUP BY 1
    """,
)
def agg_entropy(spark, sf_dir):
    """Per-language Shannon entropy (nats) of the source distribution —
    the diversity metric a training-data pipeline tracks per slice (a
    collapsing entropy flags a crawl that lost a source). Computed as
    count-per-(lang, source), a windowed per-lang total over that TINY
    aggregate (distinct pairs, not the corpus — never a single-partition
    global window), then -Σ p·ln p with each term truncated to
    DECIMAL(28,6) before the sum so the reduction is order-independent
    across engines (the unigram-logprob device; per-term ln() ulp skew
    cannot reorder a truncated sum).

    Scale: one corpus-wide shuffle (the count), everything after runs on
    the distinct-pair table — O(langs × sources) rows at any corpus
    size."""
    d = views(spark, sf_dir).table("documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("cnt"))
    t = c.withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("lang")).cast("double")
    )
    p = F.col("cnt") / F.col("total")
    term = (-p * F.log(p)).cast("decimal(28,6)")
    return t.groupBy("lang").agg(
        F.count("*").alias("n_sources"),
        F.sum(term).cast("double").alias("entropy_nats"),
    )


@register(
    "agg-skewness-kurtosis",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               {dsum_sql('l_quantity')} AS s1,
               {dsum_sql('l_quantity * l_quantity')} AS s2,
               {dsum_sql('l_quantity * l_quantity * l_quantity')} AS s3,
               {dsum_sql('l_quantity * l_quantity * l_quantity * l_quantity')}
                 AS s4
        FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * power(s1 / n, 3))
                 / power(s2 / n - power(s1 / n, 2), 1.5), 6) AS skewness,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * power(s1 / n, 2) * (s2 / n) - 3 * power(s1 / n, 4))
                 / power(s2 / n - power(s1 / n, 2), 2) - 3, 6)
             AS kurtosis_excess
    FROM m
    """,
)
def agg_skewness_kurtosis(spark, sf_dir):
    """Per-group population skewness and excess kurtosis of quantity —
    distribution-shape checks a data pipeline runs per shard (a spike in
    kurtosis flags an outlier burst). Built-in ``skewness``/``kurtosis``
    accumulate central moments in partition order (engine- and
    partitioning-dependent low bits), so the engine reduces the exact
    DECIMAL power sums Σx..Σx⁴ (order-independent) and applies the raw→
    central moment combine once per group in double: m3 = s3/n − 3μ·s2/n
    + 2μ³, m4 = s4/n − 4μ·s3/n + 6μ²·s2/n − 3μ⁴. x is O(50), so Σx⁴ stays
    ≤ 6·10⁶·n — far inside DECIMAL(38,6) at any SF — and the combine's
    cancellation keeps ~10 significant digits, absorbed by round(6).

    Scale: identical single-shuffle shape as agg-corr-covar; the power-sum
    vector is mergeable across shards."""
    li = views(spark, sf_dir).table("lineitem")
    x = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(x, "s1"),
        dsum(x * x, "s2"),
        dsum(x * x * x, "s3"),
        dsum(x * x * x * x, "s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - F.pow(mu, 2)
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * F.pow(mu, 3)
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * F.pow(mu, 2) * (F.col("s2") / n)
        - 3 * F.pow(mu, 4)
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(m3 / F.pow(m2, 1.5), 6).alias("skewness"),
        F.round(m4 / F.pow(m2, 2) - 3, 6).alias("kurtosis_excess"),
    )


@register(
    "agg-chi-squared",
    oracle="""
    WITH c AS (
        SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
    grid AS (
        SELECT r.lang, s.source, COALESCE(c.o, 0) AS o
        FROM (SELECT DISTINCT lang FROM c) r
        CROSS JOIN (SELECT DISTINCT source FROM c) s
        LEFT JOIN c ON c.lang = r.lang AND c.source = s.source),
    t AS (
        SELECT lang, source, o,
               CAST(SUM(o) OVER (PARTITION BY lang) AS DOUBLE) AS r,
               CAST(SUM(o) OVER (PARTITION BY source) AS DOUBLE) AS col_t,
               CAST(SUM(o) OVER () AS DOUBLE) AS n
        FROM grid),
    term AS (
        SELECT lang, source, n,
               CAST(power(o - r * col_t / n, 2) / (r * col_t / n)
                    AS DECIMAL(28, 6)) AS x
        FROM t)
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           (COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS dof,
           CAST(SUM(x) AS DOUBLE) AS chi2
    FROM term
    """,
)
def agg_chi_squared(spark, sf_dir):
    """Pearson chi-squared test of independence between two categorical
    columns (lang x source) -- the drift / contingency check a data
    pipeline runs to ask "did the language mix shift between sources?".
    Observed counts are exact BIGINTs; each cell's (O-E)^2/E is a
    deterministic double expression over exact inputs (E computed as
    double r*c/n so the formula never overflows integer range at any
    corpus size), truncated to DECIMAL(28,6) BEFORE the final sum so the
    cell reduction is order-independent across engines (the agg-entropy
    device). The contingency table is DENSIFIED to the full R x C grid
    first (distinct rows x distinct cols, observed counts left-joined
    in): an unobserved cell still contributes (0-E)^2/E = E, so building
    from observed rows alone understates the statistic. dof = (R-1)(C-1)
    for the caller's p-value lookup.

    Scale: one corpus-wide shuffle (the count); the marginal windows and
    the final reduce run on the distinct (lang, source) pair table --
    O(langs x sources) rows at any corpus size, so the unpartitioned
    total window is provably bounded."""
    d = views(spark, sf_dir).table("documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    # densify to the full R x C grid: an UNOBSERVED cell still contributes
    # (0-E)^2/E = E to the statistic -- building the table from observed
    # rows alone understates chi2 whenever a cell is empty
    grid = (
        c.select("lang")
        .distinct()
        .crossJoin(F.broadcast(c.select("source").distinct()))
        .join(c, ["lang", "source"], "left")
        .fillna(0, ["o"])
    )
    t = (
        grid.withColumn(
            "r", F.sum("o").over(Window.partitionBy("lang")).cast("double")
        )
        .withColumn(
            "col_t",
            F.sum("o").over(Window.partitionBy("source")).cast("double"),
        )
        .withColumn(
            "n",
            F.sum("o").over(
                Window.partitionBy()
            ).cast("double"),
        )
    )
    e = F.col("r") * F.col("col_t") / F.col("n")
    term = (F.pow(F.col("o") - e, 2) / e).cast("decimal(28,6)")
    return t.select("lang", "source", "n", term.alias("x")).agg(
        F.max("n").cast("long").alias("n"),
        (
            (F.count_distinct(F.col("lang")) - 1)
            * (F.count_distinct(F.col("source")) - 1)
        ).alias("dof"),
        F.sum("x").cast("double").alias("chi2"),
    )


@register(
    "agg-market-basket",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
    item AS (SELECT p_brand, COUNT(*) AS supp FROM baskets GROUP BY 1),
    pair AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS supp_pair
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2)
    SELECT p.brand_a, p.brand_b, p.supp_pair,
           round(CAST(p.supp_pair AS DOUBLE) / ia.supp, 6) AS confidence,
           round(CAST(p.supp_pair AS DOUBLE) * n.n_orders
                 / (ia.supp * ib.supp), 6) AS lift
    FROM pair p
    JOIN item ia ON p.brand_a = ia.p_brand
    JOIN item ib ON p.brand_b = ib.p_brand, n
    WHERE p.supp_pair >= 5
    ORDER BY round(CAST(p.supp_pair AS DOUBLE) * n.n_orders
                   / (ia.supp * ib.supp), 6) DESC,
             p.brand_a, p.brand_b
    LIMIT 20
    """,
)
def agg_market_basket(spark, sf_dir):
    """Association rules over order baskets (brand co-occurrence):
    support / confidence / lift, top-20 by lift -- the market-basket
    primitive behind recommendation and affinity marts. All statistics
    derive from integer counts (identical in any engine); confidence and
    lift are single divisions of identical integers, so the doubles are
    bit-equal before the belt-and-braces round(6); ordering is on the
    ROUNDED lift with a full (brand_a, brand_b) tie-break.

    Scale: pair generation self-joins baskets on l_orderkey -- O(k^2) per
    basket with k bounded by the items-per-order (single digits), never
    corpus-quadratic; Catalyst partial-aggregates pair counts map-side.
    The item-support and n_orders sides are vocabulary-sized and
    broadcast into the final enrichment join."""
    cat = views(spark, sf_dir)
    li, p = cat.table("lineitem"), cat.table("part")
    baskets = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = baskets.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = baskets.groupBy("p_brand").agg(F.count("*").alias("supp"))
    a = baskets.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = baskets.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("supp_pair"))
        .filter(F.col("supp_pair") >= 5)
    )
    ia = item.select(F.col("p_brand").alias("brand_a"), F.col("supp").alias("supp_a"))
    ib = item.select(F.col("p_brand").alias("brand_b"), F.col("supp").alias("supp_b"))
    lift = F.round(
        F.col("supp_pair").cast("double")
        * F.col("n_orders")
        / (F.col("supp_a") * F.col("supp_b")),
        6,
    )
    return (
        pair.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "supp_pair",
            F.round(F.col("supp_pair").cast("double") / F.col("supp_a"), 6).alias(
                "confidence"
            ),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "agg-mann-whitney",
    oracle="""
    WITH g AS (
        SELECT l_quantity AS v,
               SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS nr,
               SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS na
        FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
    r AS (
        SELECT v, nr, na, nr + na AS t,
               SUM(nr + na) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
        FROM g),
    s AS (
        SELECT CAST(SUM(nr) AS BIGINT) AS n1, CAST(SUM(na) AS BIGINT) AS n2,
               CAST(SUM(nr + na) AS BIGINT) AS n,
               CAST(SUM(CAST(nr AS HUGEINT)
                        * (2 * COALESCE(cum, 0) + t + 1)) AS DOUBLE) / 2
                 AS rank_sum_r,
               CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE) AS tie_term
        FROM r)
    SELECT n1, n2,
           rank_sum_r - n1 * (n1 + 1) / 2.0 AS u_stat,
           round((rank_sum_r - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0
                        * ((n + 1) - tie_term / (n * (n - 1.0)))), 6) AS z_score
    FROM s
    """,
)
def agg_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test (with tie correction) comparing the
    quantity distributions of returned vs accepted lineitems -- the
    nonparametric A/B device when values are skewed and a t-test's
    normality assumption fails (complements agg-ab-test). Ranks come from
    the DISTINCT-VALUE table: per value, group counts; the average rank
    of a tied block is cum_before + (t+1)/2. Both reductions stay EXACT
    INTEGER all the way: the doubled rank sum Σ nr·(2·cum+t+1) and the
    tie term Σ(t³−t) accumulate in DECIMAL (Spark) / HUGEINT (DuckDB) —
    a plain long t³ wraps once a tie block passes 2^21 rows and a float
    rank sum goes order-dependent past 2^52 — and leave the exact
    domain through one correctly-rounded cast each; every subsequent
    double op runs on bit-identical operands; round(6) absorbs nothing
    but the last ulp.

    Scale: the corpus-wide work is ONE partial-aggregated groupBy on the
    value column; the windowed cumulative rank then runs over the
    distinct-value table (cardinality of the measure's value domain --
    here 50 rows, never corpus-sized; a continuous measure would be
    binned first, same shape). The single-partition window over that
    tiny aggregate is deliberate and bounded."""
    li = (
        views(spark, sf_dir)
        .table("lineitem")
        .filter(F.col("l_returnflag").isin("R", "A"))
    )
    g = li.groupBy(F.col("l_quantity").alias("v")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("nr"),
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("na"),
    )
    t = F.col("nr") + F.col("na")
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "nr",
        "na",
        t.alias("t"),
        F.sum(t).over(w).alias("cum"),
    )
    s = r.agg(
        F.sum("nr").cast("bigint").alias("n1"),
        F.sum("na").cast("bigint").alias("n2"),
        F.sum(F.col("t")).cast("bigint").alias("n"),
        (
            F.sum(
                F.col("nr").cast("decimal(19,0)")
                * (2 * F.coalesce(F.col("cum"), F.lit(0)) + F.col("t") + 1)
            ).cast("double")
            / 2
        ).alias("rank_sum_r"),
        F.sum(
            F.col("t").cast("decimal(12,0)") * F.col("t") * F.col("t") - F.col("t")
        )
        .cast("double")
        .alias("tie_term"),
    )
    n1, n2, n = F.col("n1"), F.col("n2"), F.col("n")
    u = F.col("rank_sum_r") - n1 * (n1 + 1) / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0 * ((n + 1) - F.col("tie_term") / (n * (n - 1.0)))
    )
    return s.select(
        "n1",
        "n2",
        u.alias("u_stat"),
        F.round((u - n1 * n2 / 2.0) / sigma, 6).alias("z_score"),
    )


@register(
    "agg-cramers-v",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id % 5 AS cohort, COUNT(*) AS o
        FROM events GROUP BY 1, 2),
    grid AS (
        SELECT r.event_type, s.cohort, COALESCE(c.o, 0) AS o
        FROM (SELECT DISTINCT event_type FROM c) r
        CROSS JOIN (SELECT DISTINCT cohort FROM c) s
        LEFT JOIN c ON c.event_type = r.event_type AND c.cohort = s.cohort),
    t AS (
        SELECT event_type, cohort, o,
               CAST(SUM(o) OVER (PARTITION BY event_type) AS DOUBLE) AS r,
               CAST(SUM(o) OVER (PARTITION BY cohort) AS DOUBLE) AS col_t,
               CAST(SUM(o) OVER () AS DOUBLE) AS n
        FROM grid),
    term AS (
        SELECT event_type, cohort, n,
               CAST(power(o - r * col_t / n, 2) / (r * col_t / n)
                    AS DECIMAL(28, 6)) AS x
        FROM t),
    s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               COUNT(DISTINCT event_type) AS nr,
               COUNT(DISTINCT cohort) AS nc,
               CAST(SUM(x) AS DOUBLE) AS chi2
        FROM term)
    SELECT n, chi2,
           round(sqrt(chi2 / (n * (CASE WHEN nr < nc THEN nr ELSE nc END - 1))),
                 6) AS cramers_v
    FROM s
    """,
)
def agg_cramers_v(spark, sf_dir):
    """Cramer's V effect size for the association between event type and
    user cohort -- the NORMALIZED companion to agg-chi-squared: chi2
    grows with n, so pipelines alert on V = sqrt(chi2 / (n * (min(R,C)-1)))
    in [0, 1], which is comparable across table sizes. Same determinism
    device as agg-chi-squared (exact counts, DECIMAL-truncated cell
    terms) and the same dense-grid rule (empty cells contribute E);
    the final sqrt runs on a bit-identical double.

    Scale: one corpus-wide count shuffle; everything else on the
    O(types x cohorts) pair table."""
    e = views(spark, sf_dir).table("events")
    c = e.groupBy(
        "event_type", (F.col("user_id") % 5).alias("cohort")
    ).agg(F.count("*").alias("o"))
    # dense R x C grid -- see agg_chi_squared: empty cells must still
    # contribute their expected count to the statistic
    grid = (
        c.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(c.select("cohort").distinct()))
        .join(c, ["event_type", "cohort"], "left")
        .fillna(0, ["o"])
    )
    t = (
        grid.withColumn(
            "r", F.sum("o").over(Window.partitionBy("event_type")).cast("double")
        )
        .withColumn(
            "col_t", F.sum("o").over(Window.partitionBy("cohort")).cast("double")
        )
        .withColumn("n", F.sum("o").over(Window.partitionBy()).cast("double"))
    )
    exp = F.col("r") * F.col("col_t") / F.col("n")
    term = (F.pow(F.col("o") - exp, 2) / exp).cast("decimal(28,6)")
    s = t.select(
        "event_type", "cohort", "n", term.alias("x")
    ).agg(
        F.max("n").cast("long").alias("n"),
        F.count_distinct("event_type").alias("nr"),
        F.count_distinct("cohort").alias("nc"),
        F.sum("x").cast("double").alias("chi2"),
    )
    return s.select(
        "n",
        "chi2",
        F.round(
            F.sqrt(F.col("chi2") / (F.col("n") * (F.least("nr", "nc") - 1))), 6
        ).alias("cramers_v"),
    )


@register(
    "agg-log-histogram",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(value * 1000) AS BIGINT) AS v_ms
        FROM events WHERE value > 0),
    b AS (
        SELECT length(bin(v_ms)) AS bucket_bits, COUNT(*) AS n
        FROM v GROUP BY 1),
    c AS (
        SELECT bucket_bits, n,
               SUM(n) OVER (ORDER BY bucket_bits) AS cum_n,
               SUM(n) OVER () AS total
        FROM b)
    SELECT bucket_bits, n, CAST(cum_n AS BIGINT) AS cum_n,
           round(CAST(cum_n AS DOUBLE) / total, 6) AS cdf
    FROM c
    """,
)
def agg_log_histogram(spark, sf_dir):
    """Log2-bucketed (HdrHistogram-style) value histogram with CDF --
    the latency-distribution summary every metrics pipeline keeps:
    power-of-two buckets give constant relative error with a tiny,
    MERGEABLE state (one counter per bucket, <= 64 buckets for any
    int64). The bucket is length(bin(floor(value*1000))) -- floor is
    explicit because double->int CAST truncates in Spark but rounds in
    DuckDB, and bit-length is exact integer log2, no transcendental
    boundary risk.

    Scale: one partial-aggregated groupBy over the corpus; the CDF
    window runs on the <= 64-row bucket table (bounded, the
    quantile-digest precedent)."""
    e = views(spark, sf_dir).table("events").filter(F.col("value") > 0)
    v = e.select(
        F.floor(F.col("value") * 1000).cast("bigint").alias("v_ms")
    )
    b = v.groupBy(
        F.length(F.bin("v_ms")).alias("bucket_bits")
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy("bucket_bits").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    c = b.select(
        "bucket_bits",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(wt).alias("total"),
    )
    return c.select(
        "bucket_bits",
        "n",
        F.col("cum_n").cast("bigint").alias("cum_n"),
        F.round(F.col("cum_n").cast("double") / F.col("total"), 6).alias("cdf"),
    )


@register(
    "agg-gini-concentration",
    oracle="""
    WITH rev AS (
        SELECT o.o_custkey,
               SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                        AS DECIMAL(28, 6))) AS r
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1),
    rk AS (
        SELECT r,
               ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i,
               COUNT(*) OVER () AS n
        FROM rev)
    SELECT n_customers, total_revenue,
           round(num / (CAST(n_customers AS DOUBLE) * total_revenue), 6) AS gini
    FROM (
        SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
               CAST(CAST(SUM(r) * 1000000 AS BIGINT) AS DOUBLE)
                   / 1000000 AS total_revenue,
               CAST(SUM((2 * i - n - 1) * r) AS DOUBLE) AS num
        FROM rk) t
    """,
)
def agg_gini_concentration(spark, sf_dir):
    """Gini coefficient of revenue concentration across customers -- the
    inequality metric a marketplace team tracks (how dependent is
    revenue on the top accounts). Formula: sum((2i-n-1)*x_(i)) / (n*sum(x))
    over revenues ranked ascending with the unique (revenue, custkey)
    total order. Revenue stays in exact DECIMAL from the sum through the
    (2i-n-1) integer multiply and the final reduction; doubles appear
    only in the last division.

    Scale: the global rank is the shared ``common.parallel_rank`` device
    (also backing win-percent) -- range-partition on the order key,
    per-partition row_number, driver-side partition offsets --
    so no corpus-sized single-partition window exists; the customer-level
    revenue table is dimension-sized, not fact-sized."""
    cat = views(spark, sf_dir)
    o, li = cat.table("orders"), cat.table("lineitem")
    rev = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
            ).alias("r")
        )
    )
    from dbtwiz_spark.ops.common import parallel_rank

    keys = [F.col("r"), F.col("o_custkey")]
    ranked = cat.artifact(
        "agg-gini-concentration:r,o_custkey", lambda: parallel_rank(rev, keys)
    ).select("r", F.col("_rank").alias("i"), "_n")
    s = ranked.agg(
        F.max("_n").cast("bigint").alias("n_customers"),
        # exact-DECIMAL sum exits through a x1e6 BIGINT (integral by
        # construction at scale 6) -- a direct DECIMAL(38,6)->DOUBLE cast
        # double-rounds in DuckDB; int64->double is hardware-identical in
        # both engines (the agg-attribution-linear device).
        ((F.sum("r") * 1000000).cast("bigint").cast("double") / 1000000)
        .alias("total_revenue"),
        F.sum((2 * F.col("i") - F.col("_n") - 1) * F.col("r"))
        .cast("double")
        .alias("num"),
    )
    return s.select(
        "n_customers",
        "total_revenue",
        F.round(
            F.col("num") / (F.col("n_customers").cast("double") * F.col("total_revenue")),
            6,
        ).alias("gini"),
    )


@register(
    "agg-sliding-distinct",
    oracle="""
    WITH ed AS (
        SELECT DISTINCT event_type,
               CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, user_id
        FROM events),
    contrib AS (
        SELECT e.event_type, e.user_id,
               e.day + INTERVAL (o) DAY AS win_end
        FROM ed e, UNNEST(generate_series(0, 6)) AS u(o)),
    wins AS (
        SELECT event_type, win_end, COUNT(DISTINCT user_id) AS u7
        FROM contrib GROUP BY 1, 2)
    SELECT w.event_type, w.win_end, w.u7
    FROM wins w
    JOIN (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ed) b
      ON w.win_end BETWEEN b.lo AND b.hi
    """,
)
def agg_sliding_distinct(spark, sf_dir):
    """Sliding 7-day distinct users per event type -- the rolling-reach
    metric (WAU per surface) that is NOT window-expressible because
    COUNT(DISTINCT) does not decompose over a sliding frame. Each
    (type, day, user) contribution EXPLODES into the <= 7 window
    endpoints it can serve (bounded fan-out, the interval-overlap bucket
    device), turning the sliding distinct into a plain groupBy-distinct
    on (type, window_end); endpoints outside the observed day span are
    clipped so every reported window is fully inside the data.

    Scale: ONE corpus shuffle — the per-(type, user) day-set aggregation
    (partial collect_set merges map-side) — then everything downstream
    runs on user-granular rows: each user's distinct covered window
    endpoints are computed map-side (union of the <= 7-day intervals via
    array_distinct over the calendar-bounded day set), so the final
    per-window reduction is a plain partial-aggregated COUNT, never a
    COUNT DISTINCT. This replaces the r14 shape (corpus-wide
    (type, day, user) DISTINCT, then a 7x exploded two-phase
    count-distinct shuffle): the dedup work moves BEFORE the explode, one
    full shuffle of the exploded table disappears, and the remaining
    shuffles carry user- and window-granular rows only (values
    identical: both count exactly the users whose day set intersects the
    window). An approximate variant swaps the exact count for HLL sketch
    merge (agg-hll-sketch-merge) with identical shape."""
    e = views(spark, sf_dir).table("events")
    day = F.date_trunc("DAY", F.col("ts"))
    udays = e.groupBy("event_type", "user_id").agg(
        F.collect_set(day).alias("days")
    )
    bounds = udays.agg(
        F.min(F.array_min("days")).alias("lo"),
        F.max(F.array_max("days")).alias("hi"),
    )
    covered = udays.select(
        "event_type",
        F.explode(
            F.array_distinct(
                F.flatten(
                    F.expr(
                        "transform(days, d -> transform(sequence(0, 6), "
                        "o -> d + make_interval(0,0,0,o)))"
                    )
                )
            )
        ).alias("win_end"),
    )
    wins = covered.groupBy("event_type", "win_end").agg(
        F.count("*").alias("u7")
    )
    return wins.join(
        F.broadcast(bounds),
        (F.col("win_end") >= F.col("lo")) & (F.col("win_end") <= F.col("hi")),
    ).select("event_type", "win_end", "u7")


@register(
    "agg-attribution-linear",
    oracle="""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'),
    touch AS (
        SELECT user_id, event_type, ts
        FROM events WHERE event_type <> 'purchase'),
    paired AS (
        SELECT c.conv_id, t.event_type
        FROM conv c JOIN touch t
          ON c.user_id = t.user_id
         AND t.ts < c.conv_ts
         AND t.ts >= c.conv_ts - INTERVAL 7 DAY),
    sized AS (
        SELECT conv_id, event_type,
               COUNT(*) OVER (PARTITION BY conv_id) AS n_touches
        FROM paired)
    SELECT event_type,
           COUNT(*) AS n_touch_events,
           CAST(CAST(SUM(CAST(1.0 / n_touches AS DECIMAL(28, 6))) * 1000000
                     AS BIGINT) AS DOUBLE) / 1000000
             AS attributed_conversions
    FROM sized GROUP BY event_type
    """,
)
def agg_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: each purchase distributes one unit
    of credit equally across the user's touch events in the prior 7 days;
    credit is summed per touch channel -- the marketing-mart workhorse
    the reference's mart layer would build in SQL. Each credit term
    1/n_touches is one double division on identical integers, ROUNDED
    (HALF_UP -- no 1/n below n=200k sits on a conversion boundary,
    checked exhaustively) to DECIMAL before the channel sum so the
    reduction is order-independent, and the sum exits the exact domain
    as a SCALED BIGINT (x10^6, integral by construction) rather than a
    wide-decimal->double cast -- the DuckDB double-rounding hazard the
    verify-skill gotchas record from win-rolling-corr.

    Scale: the conversion-touch pairing is an equi-join on user_id with
    the 7-day horizon as a join-time filter (per-user fan-out is bounded
    by a user's own event density -- the stream-join-interval shape, never
    a cartesian); touch counting is one window partitioned by conversion
    id; the final rollup is channel-cardinality sized."""
    e = views(spark, sf_dir).table("events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id"),
        F.col("ts").alias("conv_ts"),
    )
    touch = e.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts"
    )
    paired = conv.join(touch, "user_id").filter(
        (F.col("ts") < F.col("conv_ts"))
        & (F.col("ts") >= F.col("conv_ts") - F.expr("INTERVAL 7 DAYS"))
    )
    sized = paired.select(
        "conv_id",
        "event_type",
        F.count("*").over(Window.partitionBy("conv_id")).alias("n_touches"),
    )
    return sized.groupBy("event_type").agg(
        F.count("*").alias("n_touch_events"),
        (
            (F.sum((F.lit(1.0) / F.col("n_touches")).cast(DEC)) * 1000000)
            .cast("bigint")
            .cast("double")
            / 1000000
        ).alias("attributed_conversions"),
    )


@register(
    "agg-bool-logic",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_large
    FROM orders GROUP BY 1
    """,
)
def agg_bool_logic(spark, sf_dir):
    """Boolean aggregate surface: bool_and / bool_or / count_if per
    group -- the data-quality assertion shape ('every order priced',
    'any outlier present', 'how many match') that dbt tests compile to.
    All-boolean logic over exact comparisons: deterministic by
    construction in any engine or order.

    Scale: single partial-aggregated shuffle; booleans partial-combine
    like any other aggregate."""
    o = views(spark, sf_dir).table("orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias("n_finished"),
        F.count_if(F.col("o_totalprice") > 200000).cast("bigint").alias("n_large"),
    )


@register(
    "agg-cohort-ltv",
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events WHERE event_type = 'signup' GROUP BY 1),
    rev AS (
        SELECT e.user_id,
               date_trunc('month', su.first_day) AS cohort_month,
               date_diff('day', su.first_day, CAST(e.ts AS DATE)) // 7
                 AS weeks_since,
               CAST(e.value AS DECIMAL(28, 6)) AS v
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
          AND e.ts >= CAST(su.first_day AS TIMESTAMP)),
    cs AS (SELECT date_trunc('month', first_day) AS cohort_month,
                  COUNT(*) AS cohort_users
           FROM su GROUP BY 1),
    wk AS (
        SELECT cohort_month, weeks_since,
               SUM(v) AS week_rev
        FROM rev GROUP BY 1, 2),
    cum AS (
        SELECT cohort_month, weeks_since,
               SUM(week_rev) OVER (PARTITION BY cohort_month
                                   ORDER BY weeks_since) AS cum_rev
        FROM wk)
    SELECT CAST(c.cohort_month AS TIMESTAMP) AS cohort_month,
           CAST(c.weeks_since AS BIGINT) AS weeks_since,
           s.cohort_users,
           CAST(CAST(c.cum_rev * 1000000 AS BIGINT) // s.cohort_users
                AS DOUBLE) / 1000000 AS ltv_per_user
    FROM cum c JOIN cs s ON c.cohort_month = s.cohort_month
    """,
)
def agg_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curves: users grouped by signup month, each
    cohort's cumulative purchase revenue per signed-up user by weeks
    since signup -- THE retention-economics mart (which cohorts pay
    back, and how fast). Pipeline: per-user first signup day (one agg),
    purchases joined back and bucketed by elapsed weeks, per-(cohort,
    week) decimal revenue, cumulative window over the WEEK-BUCKET table
    (cohorts x weeks rows, never the fact stream), normalized by
    broadcast cohort sizes through a scaled-BIGINT division exit.

    Determinism: date arithmetic is exact integer; revenue stays DECIMAL
    through the cumulative window; the per-user normalization converts
    the integral-scaled decimal to a x1e6 BIGINT FIRST, floor-divides in
    integer (decimal DIVISION rounds its last digit differently across
    engines -- bit this op), then one exact double divide.

    Scale: two corpus-sized shuffles (signup agg, purchase join on
    user_id -- the signup dim broadcasts at dim scale); everything after
    runs on the bounded cohort x week grid."""
    e = views(spark, sf_dir).table("events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    )
    rev = (
        e.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("first_day").cast("timestamp"))
        .select(
            F.date_trunc("month", F.col("first_day")).alias("cohort_month"),
            (
                F.datediff(F.col("ts").cast("date"), F.col("first_day")) / 7
            ).cast("bigint").alias("weeks_since"),
            F.col("value").cast(DEC).alias("v"),
        )
    )
    cs = su.groupBy(
        F.date_trunc("month", F.col("first_day")).alias("cohort_month")
    ).agg(F.count("*").alias("cohort_users"))
    wk = rev.groupBy("cohort_month", "weeks_since").agg(
        F.sum("v").alias("week_rev")
    )
    wcum = Window.partitionBy("cohort_month").orderBy("weeks_since")
    cum = wk.select(
        "cohort_month",
        "weeks_since",
        F.sum("week_rev").over(wcum).alias("cum_rev"),
    )
    return cum.join(F.broadcast(cs), "cohort_month").select(
        "cohort_month",
        F.col("weeks_since").cast("bigint").alias("weeks_since"),
        "cohort_users",
        (
            F.expr(
                "CAST(cum_rev * 1000000 AS BIGINT) div cohort_users"
            ).cast("double")
            / 1000000
        ).alias("ltv_per_user"),
    )


# Benford first-digit probabilities log10(1 + 1/d) as INTEGER-RATIO
# literals (value = p_int / 1e17): computing them via log10() would
# differ by a ulp between JVM StrictMath and DuckDB libm, and even a
# plain decimal-string literal parses one ulp off in DuckDB
# (0.12493873660829993 -> ...992, measured). int64->double conversion
# and the single divide by the exactly-representable 1e17 are
# hardware-correctly-rounded in both engines, so the ratio is the one
# literal form that is bit-identical.
_BENFORD_P_E17 = {
    1: 30102999566398120,
    2: 17609125905568124,
    3: 12493873660829993,
    4: 9691001300805642,
    5: 7918124604762482,
    6: 6694678963061322,
    7: 5799194697768673,
    8: 5115252244738129,
    9: 4575749056067514,
}


def _benford_case_sql() -> str:
    return (
        "CASE first_digit "
        + " ".join(
            f"WHEN {d} THEN CAST({p} AS DOUBLE) / 1e17"
            for d, p in _BENFORD_P_E17.items()
        )
        + " END"
    )


@register(
    "agg-benford-test",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS first_digit
        FROM orders WHERE o_totalprice >= 1),
    c AS (
        SELECT first_digit, COUNT(*) AS observed,
               SUM(COUNT(*)) OVER () AS n
        FROM d GROUP BY 1),
    x AS (
        SELECT first_digit, observed,
               CAST(n AS DOUBLE) * ({_benford_case_sql()}) AS expected
        FROM c)
    SELECT first_digit, observed, expected,
           (observed - expected) * (observed - expected) / expected
             AS chi2_term
    FROM x
    """,
)
def agg_benford_test(spark, sf_dir):
    """Benford's-law first-digit screen over order totals -- the
    forensic-accounting / fraud-detection staple (fabricated amounts
    drift from the logarithmic digit law; audit teams chi-square exactly
    this table). First digit extracted via integer->string (floor of a
    positive double then substring -- exact in both engines, no log10 on
    data); expected shares are INTEGER-RATIO
    literals (p_int / 1e17) because computing log10(1+1/d) differs by a
    ulp between JVM StrictMath and DuckDB's libm, and DuckDB's
    decimal-string parse itself lands one ulp off — only int->double +
    one divide is correctly rounded everywhere. Each chi-squared term
    is (O-E)*(O-E)/E via plain multiply -- pow() is not correctly
    rounded and diverges between JVM and libm -- over exact counts and
    identical shares, so it ships as an unrounded bit-identical double.

    Scale: one partial-aggregated count shuffle; the digit table is 9
    rows, its total window bounded by construction."""
    o = views(spark, sf_dir).table("orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    c = d.groupBy("first_digit").agg(F.count("*").alias("observed"))
    c = c.withColumn("n", F.sum("observed").over(Window.partitionBy()))
    expected = F.col("n").cast("double") * F.coalesce(
        *[
            F.when(
                F.col("first_digit") == dd,
                F.lit(p).cast("double") / F.lit(1e17),
            )
            for dd, p in _BENFORD_P_E17.items()
        ]
    )
    x = c.select("first_digit", "observed", expected.alias("expected"))
    # plain multiply, NOT pow() (JVM Math.pow vs libm can differ by a
    # ulp), and NO decimal quantization: every operand is bit-identical
    # across engines, so the term ships as an exact unrounded double
    dev = F.col("observed") - F.col("expected")
    term = dev * dev / F.col("expected")
    return x.select("first_digit", "observed", "expected", term.alias("chi2_term"))


@register(
    "agg-ks-test",
    oracle="""
    WITH g AS (
        SELECT value,
               CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS c2
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        GROUP BY value),
    c AS (
        SELECT SUM(c1) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
               SUM(c2) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        FROM g),
    t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2 FROM g)
    SELECT t.n1, t.n2,
           CAST(MAX(ABS(c.cum1 * t.n2 - c.cum2 * t.n1)) AS BIGINT) AS d_num,
           CASE WHEN t.n1 * t.n2 > 0
                THEN CAST(MAX(ABS(c.cum1 * t.n2 - c.cum2 * t.n1)) AS DOUBLE)
                     / CAST(t.n1 * t.n2 AS DOUBLE)
                ELSE NULL END AS ks_d
    FROM c, t GROUP BY t.n1, t.n2
    """,
)
def agg_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic comparing the value
    distributions of click vs view events -- the standard drift detector
    between two samples (did the metric's distribution change?). The
    statistic D = max_x |F1(x) - F2(x)| is computed in EXACT integer
    arithmetic: group by value (one shuffle, the only corpus-sized one),
    then global prefix counts of each sample in value order via the
    ``common.parallel_prefix_sum`` device (range partition + local
    running sums + driver-side partition offsets -- no single-partition
    window), and D's numerator is max |cum1*n2 - cum2*n1| over BIGINTs;
    the one double division happens on the final 1-row result.

    Scale: distinct-value cardinality bounds the prefix stage; the
    device's only serial work is folding #partitions totals on the
    driver. The same shape handles any two-cohort CDF comparison."""
    from dbtwiz_spark.ops.common import parallel_prefix_sum

    cat = views(spark, sf_dir)
    e = cat.table("events")
    g = (
        # NULL values are excluded on BOTH sides: Spark sorts NULLS FIRST,
        # DuckDB NULLS LAST, so a NULL group would shift every prefix count
        e.filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
        )
        .groupBy("value")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("c1"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
        )
    )
    ps = cat.artifact(
        "agg-ks-test:value",
        lambda: parallel_prefix_sum(g, [F.col("value")], ["c1", "c2"]),
    )
    # sample sizes = the FINAL prefix values (prefix sums of nonnegative
    # counts are nondecreasing, so max = last = total): one tiny agg over
    # the memoized prefix table instead of a second full events-scan +
    # groupBy per execution (round-16 optimization; exact BIGINTs, values
    # identical to SUM over g by construction)
    totals = ps.agg(
        F.max("_cum_c1").cast("long").alias("n1"),
        F.max("_cum_c2").cast("long").alias("n2"),
    )
    d = ps.crossJoin(F.broadcast(totals)).agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.max(
            F.abs(F.col("_cum_c1") * F.col("n2") - F.col("_cum_c2") * F.col("n1"))
        ).alias("d_num"),
    )
    # degenerate-denominator guard (ANSI mode throws on double/0 while
    # DuckDB yields NULL — determinism rule 5) and empty-input parity: the
    # oracle's GROUP BY yields zero rows on empty input, Spark's global
    # agg yields one all-NULL row, so drop it
    return d.filter(F.col("d_num").isNotNull()).select(
        "n1",
        "n2",
        "d_num",
        F.when(
            (F.col("n1") * F.col("n2")) > 0,
            F.col("d_num").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double"),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("ks_d"),
    )


@register(
    "agg-markov-transition",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    c AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM s WHERE prev_type IS NOT NULL
        GROUP BY 1, 2),
    t AS (
        SELECT prev_type, CAST(SUM(n) AS BIGINT) AS tot
        FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS prob
    FROM c JOIN t USING (prev_type)
    """,
)
def agg_markov_transition(spark, sf_dir):
    """First-order Markov transition matrix over each user's event
    stream -- the user-journey model (P(next event type | current)) that
    powers funnel diagnostics and session simulation. One lag window per
    user, one count shuffle; probabilities are exact BIGINT counts with a
    single int64->double division each (hardware-identical in both
    engines, no rounding needed).

    Scale: the window partitions on user_id (high cardinality); the
    transition matrix is |types|^2 rows -- dimension-sized output, and
    the per-prev totals join is a broadcast."""
    e = views(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = s.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    t = c.groupBy("prev_type").agg(F.sum("n").cast("long").alias("tot"))
    return c.join(F.broadcast(t), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias("prob"),
    )


@register(
    "agg-survival-km",
    oracle="""
    WITH le AS (
        SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS f,
               MAX(CAST(o_orderdate AS DATE)) AS l
        FROM orders GROUP BY 1),
    mx AS (SELECT MAX(l) AS gmax FROM le),
    lt AS (
        SELECT date_diff('day', f, l) AS t,
               CASE WHEN l < gmax - 90 THEN 1 ELSE 0 END AS death
        FROM le, mx),
    tbl AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS a, CAST(SUM(death) AS BIGINT) AS d
        FROM lt GROUP BY 1),
    n AS (SELECT CAST(SUM(a) AS BIGINT) AS total FROM tbl),
    cum AS (
        SELECT t, a, d,
               SUM(a) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
        FROM tbl),
    dth AS (
        SELECT t, CAST(n.total - ca + a AS BIGINT) AS n_risk, d,
               ROW_NUMBER() OVER (ORDER BY t) AS k
        FROM cum, n WHERE d > 0),
    farr AS (
        SELECT list(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)
                    ORDER BY t) AS arr
        FROM dth)
    SELECT CAST(dth.t AS BIGINT) AS t_days, dth.n_risk, dth.d AS d_events,
           list_reduce(list_prepend(CAST(1 AS DOUBLE), arr[1:k]),
                       (a, x) -> a * x) AS survival
    FROM dth, farr
    """,
)
def agg_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve of customer ordering lifetimes (days
    between a customer's first and last order; a customer whose last
    order falls within 90 days of the dataset's horizon is CENSORED, not
    churned) -- the churn estimator that handles censoring correctly,
    unlike a naive lifetime histogram. (The events table is the wrong
    subject here: its synthetic users are ALL active in the final week,
    so every one is censored and the curve is empty at every scale;
    order histories spread customers' last-activity dates for real.) S(t) = prod_{t_i <= t} (1 - d_i/n_i) over death times: the
    risk sets come from the ``parallel_prefix_sum`` device (n_i = N -
    cum_a + a_i, exact BIGINTs), each factor is one int64->double
    division, and the cumulative product is the ORDERED FOLD over the
    collected factor array (win-holt-winters device) -- both engines
    multiply the identical sequence, so survival ships unrounded.

    Scale: corpus-sized work is the per-user groupBy; everything after
    runs on the lifetime-day table, bounded by the calendar (<= 366 rows)
    -- the fold array and the per-row slice product are O(T^2) on that
    bounded table, never on the corpus.

    Round-16 optimization (plan shape only, values unchanged): the total
    row count is the FINAL prefix value of the memoized prefix table
    (max(_cum_a) -- a >= 1 per row makes the prefix strictly increasing),
    replacing a second full run of the orders->lifetime pipeline per
    execution; and the death-time rank k is an array_position lookup in
    the same sorted factor array the survival fold already collects,
    replacing the parallel_rank device (range partition + truncated
    stage + partition offsets), which earns its machinery on corpus-sized inputs, not
    on the calendar-bounded death-time table the plan collapses to one
    broadcast row anyway."""
    from dbtwiz_spark.ops.common import parallel_prefix_sum

    cat = views(spark, sf_dir)
    o = cat.table("orders")
    le = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("f"),
        F.max(F.col("o_orderdate").cast("date")).alias("l"),
    )
    gmax = le.agg(F.max("l").alias("gmax"))
    lt = le.crossJoin(F.broadcast(gmax)).select(
        F.datediff("l", "f").alias("t"),
        (F.col("l") < F.date_sub("gmax", 90)).cast("long").alias("death"),
    )
    tbl = lt.groupBy("t").agg(
        F.count("*").alias("a"), F.sum("death").cast("long").alias("d")
    )
    cum = cat.artifact(
        "agg-survival-km:t", lambda: parallel_prefix_sum(tbl, [F.col("t")], ["a"])
    )
    n_total = cum.agg(F.max("_cum_a").cast("long").alias("total"))
    dth = (
        cum.crossJoin(F.broadcast(n_total))
        .filter(F.col("d") > 0)
        .select(
            "t",
            (F.col("total") - F.col("_cum_a") + F.col("a")).alias("n_risk"),
            "d",
        )
    )
    # One sorted struct array carries the whole death-time table; the
    # cumulative product is ONE O(T) fold that appends each running value
    # (element i+1 = previous element * fct_i — the identical left-fold
    # multiply chain seeded 1.0 the per-row slice fold executed, so
    # survival is bit-for-bit unchanged), replacing the previous O(T^2)
    # per-row slice-product; rows come back via posexplode, so the
    # death-time table is aggregated ONCE instead of feeding two branches.
    farr = dth.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "t",
                    "n_risk",
                    "d",
                    (
                        (F.col("n_risk") - F.col("d")).cast("double")
                        / F.col("n_risk").cast("double")
                    ).alias("fct"),
                )
            )
        ).alias("arrst")
    )
    surv = F.aggregate(
        F.transform(F.col("arrst"), lambda s: s.fct),
        F.array(F.lit(1.0)),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) * x)),
    )
    return (
        farr.withColumn("sv", surv)
        .select(F.posexplode("arrst").alias("pos", "s"), F.col("sv"))
        .select(
            F.col("s.t").cast("long").alias("t_days"),
            F.col("s.n_risk").alias("n_risk"),
            F.col("s.d").alias("d_events"),
            F.element_at(F.col("sv"), F.col("pos") + F.lit(2)).alias(
                "survival"
            ),
        )
    )


def _reservoir_oracle() -> str:
    from dbtwiz_spark.ops.common import hkey_sql

    return f"""
    SELECT event_type, event_id, hrank FROM (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY {hkey_sql('event_id')}, event_id) AS hrank
        FROM events)
    WHERE hrank <= 20
    """


@register("agg-reservoir-sample", oracle=_reservoir_oracle())
def agg_reservoir_sample(spark, sf_dir):
    """Deterministic fixed-size uniform sample per group (k = 20 events
    per event type) -- the distributed, REPLAYABLE equivalent of
    reservoir sampling: rank rows by the Knuth multiplicative hash of
    their unique key and keep the k smallest. Unlike rand()-based
    sampling this is retry-stable (the ext-sample-importance property)
    and engine-portable, and unlike a true streaming reservoir it needs
    no sequential state.

    Scale: a windowed top-k per group key -- Spark plans the rank filter
    as a partial top-k before the shuffle (WindowGroupLimit), so each
    partition forwards at most k rows per group; the 5-value group key
    is bounded-domain (the win-autocorr caveat), and the same shape on a
    high-cardinality key is fully parallel."""
    from dbtwiz_spark.ops.common import hkey

    e = views(spark, sf_dir).table("events")
    w = Window.partitionBy("event_type").orderBy(
        hkey(F.col("event_id")), "event_id"
    )
    return (
        e.select(
            "event_type", "event_id", F.row_number().over(w).alias("hrank")
        )
        .filter(F.col("hrank") <= 20)
    )


def _bootstrap_ci_oracle() -> str:
    from dbtwiz_spark.ops.common import davg_sql, hkey_sql

    # stride must EXCEED the replicate count: with stride 31 and r in 1..32,
    # (k, r=32) and (k+1, r=1) hash the same input (31k+32 == 31(k+1)+1), so
    # replicate 32 would be replicate 1 shifted by one row — correlated means
    u = hkey_sql("o_orderkey * 37 + r")
    return f"""
    WITH e AS (
        SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(28,6)) AS x, r
        FROM orders, UNNEST(generate_series(1, 32)) AS t(r)),
    wts AS (
        SELECT r, x,
               CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                    WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                    ELSE 4 END AS w
        FROM (SELECT *, ({u}) % 1000000 AS u FROM e)),
    per AS (
        SELECT r,
               CAST(CAST(SUM(w * x) * 1000000 AS BIGINT) AS DOUBLE) AS num,
               CAST(SUM(w) AS BIGINT) AS wsum
        FROM wts GROUP BY r),
    m AS (
        SELECT list_sort(list(num / 1000000 / CAST(wsum AS DOUBLE))) AS a,
               CAST(COUNT(*) AS BIGINT) AS n_replicates
        FROM per WHERE wsum > 0)
    SELECT s.n_rows, s.mean_full, m.n_replicates,
           CASE WHEN m.n_replicates = 32 THEN
               a[1] + (a[2] - a[1]) * (CAST(775 AS DOUBLE) / 1000)
           END AS ci_lo,
           CASE WHEN m.n_replicates = 32 THEN
               a[31] + (a[32] - a[31]) * (CAST(225 AS DOUBLE) / 1000)
           END AS ci_hi
    FROM m, (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                    {davg_sql('o_totalprice')} AS mean_full FROM orders) s
    """


@register("agg-bootstrap-ci", oracle=_bootstrap_ci_oracle())
def agg_bootstrap_ci(spark, sf_dir):
    """95% bootstrap confidence interval for the mean order price via the
    POISSON BOOTSTRAP -- the distributed-systems form of the bootstrap
    (each of 32 resamples weights every row by an independent Poisson(1)
    draw, the n-with-replacement limit; the draw here is DETERMINISTIC:
    Knuth-hash of (row key, replicate id) against exact integer CDF
    thresholds of Poisson(1), so the interval is replayable and
    engine-portable, never rand()). Per-replicate means go through exact
    DECIMAL sums with the scaled-BIGINT exit; the 2.5%/97.5% quantiles
    of the 32 means interpolate with integer-ratio fractions (float
    literals parse differently across engines).

    Scale: the 32x explode is map-side and collapses straight into
    partial aggregation -- the shuffle carries 32 rows per map task, not
    32x the data; everything after runs on a 32-row frame. This is why
    Poisson bootstrap beats resample-materialization at 100 TB."""
    from dbtwiz_spark.ops.common import davg, hkey

    o = views(spark, sf_dir).table("orders")
    e = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast(DEC).alias("x"),
        F.explode(F.sequence(F.lit(1), F.lit(32))).alias("r"),
    )
    u = hkey(F.col("o_orderkey") * 37 + F.col("r")) % 1000000
    w = (
        F.when(u < 367879, 0)
        .when(u < 735759, 1)
        .when(u < 919699, 2)
        .when(u < 981012, 3)
        .otherwise(4)
    )
    per = e.select("r", "x", w.alias("w")).groupBy("r").agg(
        (F.sum(F.col("w") * F.col("x")) * 1000000)
        .cast("bigint")
        .cast("double")
        .alias("num"),
        F.sum("w").cast("long").alias("wsum"),
    )
    # zero-weight replicates (wsum=0 -> NULL mean) are FILTERED, not left
    # NULL: Spark's collect_list drops NULLs while DuckDB's list() keeps
    # them, which would misalign the 32-element quantile indices (and
    # under ANSI mode element_at on the shortened array throws). The
    # explicit WHERE on both engines makes the arrays identically sized
    # by construction (round-8 ADVICE).
    mean_r = F.col("num") / 1000000 / F.col("wsum").cast("double")
    m = per.filter(F.col("wsum") > 0).agg(
        F.array_sort(F.collect_list(mean_r)).alias("a"),
        F.count("*").alias("n_replicates"),
    )
    s = o.agg(
        F.count("*").alias("n_rows"), davg("o_totalprice", "mean_full")
    )
    a = F.col("a")
    frac_lo = F.lit(775).cast("double") / 1000
    frac_hi = F.lit(225).cast("double") / 1000
    # the interpolation hard-indexes elements 1/2/31/32: if ANY replicate
    # drew all-zero Poisson weights (astronomically unlikely but exactly
    # the case the wsum>0 filter handles), element_at(a, 32) would THROW
    # under Spark ANSI while DuckDB's a[32] returns NULL — so both
    # engines guard on the full replicate count and return NULL ci
    # bounds in the degenerate case (round-9 ADVICE)
    full = F.col("n_replicates") == 32
    return m.crossJoin(F.broadcast(s)).select(
        "n_rows",
        "mean_full",
        "n_replicates",
        F.when(
            full,
            F.element_at(a, 1)
            + (F.element_at(a, 2) - F.element_at(a, 1)) * frac_lo,
        ).alias("ci_lo"),
        F.when(
            full,
            F.element_at(a, 31)
            + (F.element_at(a, 32) - F.element_at(a, 31)) * frac_hi,
        ).alias("ci_hi"),
    )


@register(
    "agg-cohen-d",
    oracle="""
    WITH m AS (
        SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000
                         AS BIGINT) AS DOUBLE) / 1000000 AS sx,
               CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))
                             * CAST(value AS DECIMAL(28,6))) * 1000000
                         AS BIGINT) AS DOUBLE) / 1000000 AS sxx
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
        GROUP BY 1),
    w AS (
        SELECT a.n AS n1, a.sx AS sx1, a.sxx AS sxx1,
               b.n AS n2, b.sx AS sx2, b.sxx AS sxx2
        FROM m a, m b WHERE a.g = 'click' AND b.g = 'view')
    SELECT n1, n2, mean_diff,
           CASE WHEN n1 + n2 > 2 AND pooled > 0
                THEN mean_diff / sqrt(pooled) END AS cohen_d
    FROM (
        SELECT n1, n2,
               sx1 / n1 - sx2 / n2 AS mean_diff,
               CASE WHEN n1 + n2 > 2 THEN
                   ((sxx1 - sx1 / n1 * sx1) + (sxx2 - sx2 / n2 * sx2))
                   / (n1 + n2 - 2) END AS pooled
        FROM w) t
    """,
)
def agg_cohen_d(spark, sf_dir):
    """Cohen's d standardized effect size between the click and view
    value distributions -- the parametric counterpart to the
    rank-based agg-mann-whitney (how MANY pooled standard deviations
    apart are the means, the number an experiment readout reports next
    to its p-value). Moments are exact DECIMAL sums exiting through
    scaled BIGINTs (both sums stay under 2^53 micro-units at every test
    scale, so even the int64->double conversions are exact); means,
    pooled variance, and the final sqrt are the identical double
    expression tree on both engines, shipped unrounded.

    Scale: one partial-aggregated groupBy over the two cohorts -- the
    mergeable-moments shape shared with agg-linear-regression and
    agg-skewness-kurtosis."""
    e = views(spark, sf_dir).table("events")
    m = (
        e.filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
        )
        .groupBy(F.col("event_type").alias("g"))
        .agg(
            F.count("*").alias("n"),
            dsum_scaled("value", "sx"),
            (
                (F.sum(F.col("value").cast(DEC) * F.col("value").cast(DEC))
                 * 1000000).cast("bigint").cast("double") / 1000000
            ).alias("sxx"),
        )
    )
    a = m.filter(F.col("g") == "click").select(
        F.col("n").alias("n1"), F.col("sx").alias("sx1"), F.col("sxx").alias("sxx1")
    )
    b = m.filter(F.col("g") == "view").select(
        F.col("n").alias("n2"), F.col("sx").alias("sx2"), F.col("sxx").alias("sxx2")
    )
    w = a.crossJoin(F.broadcast(b))
    mean_diff = F.col("sx1") / F.col("n1") - F.col("sx2") / F.col("n2")
    # pooled computed once, then guarded > 0: zero-variance cohorts give
    # pooled = 0 (ANSI divide-by-zero throws while DuckDB yields NULL),
    # and exact-zero true variance can even cancel to a tiny NEGATIVE,
    # where DuckDB's sqrt ERRORS while Spark returns NaN — rule 5 guard
    # on both engines (the agg-anova-oneway ssw > 0 pattern)
    pooled = (
        (F.col("sxx1") - F.col("sx1") / F.col("n1") * F.col("sx1"))
        + (F.col("sxx2") - F.col("sx2") / F.col("n2") * F.col("sx2"))
    ) / (F.col("n1") + F.col("n2") - 2)
    t = w.select(
        "n1",
        "n2",
        mean_diff.alias("mean_diff"),
        F.when(F.col("n1") + F.col("n2") > 2, pooled).alias("pooled"),
    )
    return t.select(
        "n1",
        "n2",
        "mean_diff",
        F.when(
            (F.col("n1") + F.col("n2") > 2) & (F.col("pooled") > 0),
            F.col("mean_diff") / F.sqrt("pooled"),
        ).alias("cohen_d"),
    )


@register(
    "agg-anova-oneway",
    oracle="""
    WITH m AS (
        SELECT event_type AS g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000
                         AS BIGINT) AS DOUBLE) / 1000000 AS sx,
               CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))
                             * CAST(value AS DECIMAL(28,6))) * 1000000
                         AS BIGINT) AS DOUBLE) / 1000000 AS sxx
        FROM events WHERE value IS NOT NULL
        GROUP BY 1),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(CAST(SUM(CAST(sx AS DECIMAL(28,6))) * 1000000
                         AS BIGINT) AS DOUBLE) / 1000000 AS gx,
               CAST(CAST(SUM(CAST(sxx - sx / n * sx AS DECIMAL(28,6)))
                         * 1000000 AS BIGINT) AS DOUBLE) / 1000000 AS ssw,
               CAST(CAST(SUM(CAST(sx / n * sx AS DECIMAL(28,6))) * 1000000
                         AS BIGINT) AS DOUBLE) / 1000000 AS sgm
        FROM m)
    SELECT k, n_total,
           sgm - gx / n_total * gx AS ss_between,
           ssw AS ss_within,
           CASE WHEN k > 1 AND n_total > k AND ssw > 0 THEN
               ((sgm - gx / n_total * gx) / (k - 1))
               / (ssw / (n_total - k))
           END AS f_stat
    FROM agg
    """,
)
def agg_anova_oneway(spark, sf_dir):
    """One-way ANOVA F-statistic across the event-type cohorts -- the
    k-group generalization of the two-cohort tests (agg-ab-test,
    agg-cohen-d): does ANY cohort's mean value differ. Per-group moments
    are exact DECIMAL sums with scaled-BIGINT exits; the k per-group
    terms (within-group SS, weighted squared means) are truncated to
    DECIMAL(28,6) BEFORE the cross-group sum -- a 5-row double sum would
    otherwise be reduction-order-dependent across engines (the ln-sum
    device). The F ratio is the identical double expression tree on both
    sides, shipped unrounded, NULL-guarded for degenerate inputs.

    Scale: one partial-aggregated groupBy over the cohorts, then a
    k-row reduce -- the mergeable-moments family shape."""
    e = views(spark, sf_dir).table("events")
    m = (
        e.filter(F.col("value").isNotNull())
        .groupBy(F.col("event_type").alias("g"))
        .agg(
            F.count("*").alias("n"),
            dsum_scaled("value", "sx"),
            (
                (F.sum(F.col("value").cast(DEC) * F.col("value").cast(DEC))
                 * 1000000).cast("bigint").cast("double") / 1000000
            ).alias("sxx"),
        )
    )
    # cross-group sums also exit via scaled BIGINT — they are strictly
    # larger than the per-group moments that already pay for it
    agg = m.agg(
        F.count("*").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        dsum_scaled("sx", "gx"),
        dsum_scaled(
            F.col("sxx") - F.col("sx") / F.col("n") * F.col("sx"), "ssw"
        ),
        dsum_scaled(F.col("sx") / F.col("n") * F.col("sx"), "sgm"),
    )
    ssb = F.col("sgm") - F.col("gx") / F.col("n_total") * F.col("gx")
    return agg.select(
        "k",
        "n_total",
        ssb.alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        F.when(
            (F.col("k") > 1) & (F.col("n_total") > F.col("k")) & (F.col("ssw") > 0),
            (ssb / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n_total") - F.col("k"))),
        ).alias("f_stat"),
    )


@register(
    "agg-spearman-corr",
    oracle="""
    WITH li AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
    gx AS (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY 1),
    cx AS (
        SELECT x, 2 * SUM(c) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - c + 1 AS drx
        FROM gx),
    gy AS (
        SELECT y, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY 1),
    cy AS (
        SELECT y, 2 * SUM(c) OVER (ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - c + 1 AS dry
        FROM gy),
    r AS (
        SELECT CAST(drx AS DECIMAL(19,0)) AS drx,
               CAST(dry AS DECIMAL(19,0)) AS dry
        FROM li JOIN cx USING (x) JOIN cy USING (y)),
    mo AS (
        SELECT CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
               CAST(SUM(drx) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(dry) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(drx * dry) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(drx * drx) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(dry * dry) AS DECIMAL(38,0)) AS syy
        FROM r)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
           END AS spearman_rho
    FROM mo
    """,
)
def agg_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between quantity and price -- the
    robust, monotonicity-sensitive complement to agg-corr-covar's
    Pearson (outliers move Pearson arbitrarily; ranks cap their
    leverage). Tie-handling is exact: each distinct value's AVERAGE rank
    comes from cumulative counts over the DISTINCT-VALUE table (the
    agg-mann-whitney doubled-rank device -- doubled ranks are integers,
    so everything to the final ratio is exact integer/DECIMAL
    arithmetic; the DECIMAL(38,0)->DOUBLE casts are scale-0, a single
    int128 conversion in both engines, no scale-divide double-rounding).
    round(6) absorbs the last-ulp sqrt composition.

    Scale: two distinct-value aggregations + two join-backs (the
    quantity side broadcasts at 50 values; the price side shuffles on
    the value key); cumulative ranks over the distinct tables use the
    parallel_prefix_sum device, never a corpus-wide global window. The
    doubled-rank products are cast to DECIMAL BEFORE multiplying --
    int64 products would overflow past ~2e9 rows."""
    from dbtwiz_spark.ops.common import parallel_prefix_sum

    cat = views(spark, sf_dir)
    li = cat.table("lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )

    def ranks(col):
        g = li.groupBy(col).agg(F.count("*").alias("c"))
        cum = cat.artifact(
            f"agg-spearman-corr:{col}",
            lambda: parallel_prefix_sum(g, [F.col(col)], ["c"]),
        )
        return cum.select(
            col,
            (2 * F.col("_cum_c") - F.col("c") + 1).alias(f"dr{col}"),
        )

    r = (
        li.join(F.broadcast(ranks("x")), "x")
        .join(ranks("y"), "y")
        .select(
            F.col("drx").cast("decimal(19,0)").alias("drx"),
            F.col("dry").cast("decimal(19,0)").alias("dry"),
        )
    )
    mo = r.agg(
        F.count("*").cast("decimal(19,0)").alias("n"),
        F.sum("drx").cast("decimal(38,0)").alias("sx"),
        F.sum("dry").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("drx") * F.col("dry")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("drx") * F.col("drx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # a constant column makes its variance term EXACTLY zero (the whole
    # pipeline is exact integer/DECIMAL), so guard the division — ANSI
    # Spark throws on double/0 while DuckDB yields NULL (rule 5)
    return mo.select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.when(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0),
            F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6),
        ).alias("spearman_rho"),
    )


@register(
    "agg-kendall-tau",
    oracle="""
    WITH m AS (
        SELECT n.n_name,
               CAST(EXTRACT(year FROM o.o_orderdate) * 12
                    + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS mi,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6)) * 100)
                    AS BIGINT) AS revc
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2),
    p AS (
        SELECT a.n_name,
               CAST(COUNT(*) FILTER (WHERE b.revc > a.revc) AS BIGINT) AS cc,
               CAST(COUNT(*) FILTER (WHERE b.revc < a.revc) AS BIGINT) AS dd,
               CAST(COUNT(*) FILTER (WHERE b.revc = a.revc) AS BIGINT) AS tt
        FROM m a JOIN m b ON a.n_name = b.n_name AND a.mi < b.mi
        GROUP BY 1),
    k AS (SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months FROM m GROUP BY 1)
    SELECT k.n_name, k.n_months, p.cc + p.dd + p.tt AS n_pairs,
           CASE WHEN p.cc + p.dd + p.tt > 0
                 AND p.cc + p.dd + p.tt - p.tt > 0 THEN
               round(CAST(p.cc - p.dd AS DOUBLE)
                     / (sqrt(CAST(p.cc + p.dd + p.tt AS DOUBLE))
                        * sqrt(CAST(p.cc + p.dd + p.tt - p.tt AS DOUBLE))), 6)
           END AS kendall_tau
    FROM k JOIN p USING (n_name)
    """,
)
def agg_kendall_tau(spark, sf_dir):
    """Kendall rank correlation (tau-b) between calendar month and each
    nation's monthly revenue -- the pairwise-concordance member of the
    correlation family (Pearson agg-corr-covar, Spearman
    agg-spearman-corr): tau reads directly as the probability a later
    month out-earns an earlier one, the trend statistic a revenue
    dashboard wants when the series is short and outlier-prone. The
    month axis is strictly increasing, so x-ties vanish and tau-b =
    (C - D) / (sqrt(n0) * sqrt(n0 - Ty)) over concordant/discordant/
    y-tied pair counts -- ALL exact BIGINTs (revenue compared in exact
    cents), so the only doubles are two sqrt compositions on identical
    integers, rounded to 6 dp (the spearman device). Degenerate guards:
    n0 > 0 and n0 - Ty > 0 (single-month or all-tied series), NULL on
    both engines (ANSI rule 5).

    Scale: the corpus-sized work is one partial-aggregated monthly
    groupBy; the O(k^2) pair self-join runs on the BOUNDED monthly
    table (<= 12*years rows per nation, ~80 here), never on raw orders
    -- pre-aggregate-then-pair is what keeps Kendall feasible at all
    (raw-pair Kendall is quadratic in corpus size)."""
    cat = views(spark, sf_dir)
    o, c, n = cat.table("orders"), cat.table("customer"), cat.table("nation")
    m = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("mi"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
            .cast("long")
            .alias("revc")
        )
    )
    a, b = m.alias("a"), m.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.n_name") == F.col("b.n_name"))
            & (F.col("a.mi") < F.col("b.mi")),
        )
        .groupBy(F.col("a.n_name").alias("n_name"))
        .agg(
            F.sum(F.when(F.col("b.revc") > F.col("a.revc"), 1).otherwise(0))
            .cast("long")
            .alias("cc"),
            F.sum(F.when(F.col("b.revc") < F.col("a.revc"), 1).otherwise(0))
            .cast("long")
            .alias("dd"),
            F.sum(F.when(F.col("b.revc") == F.col("a.revc"), 1).otherwise(0))
            .cast("long")
            .alias("tt"),
        )
    )
    k = m.groupBy("n_name").agg(F.count("*").alias("n_months"))
    n0 = F.col("cc") + F.col("dd") + F.col("tt")
    return k.join(p, "n_name").select(
        "n_name",
        "n_months",
        n0.alias("n_pairs"),
        F.when(
            (n0 > 0) & (n0 - F.col("tt") > 0),
            F.round(
                (F.col("cc") - F.col("dd")).cast("double")
                / (
                    F.sqrt(n0.cast("double"))
                    * F.sqrt((n0 - F.col("tt")).cast("double"))
                ),
                6,
            ),
        ).alias("kendall_tau"),
    )


@register(
    "agg-tukey-fences",
    oracle="""
    WITH v AS (
        SELECT event_type AS pri,
               CAST(floor(value * 100) AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    cum AS (
        SELECT pri, cents, c,
               CAST(SUM(c) OVER (PARTITION BY pri ORDER BY cents
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               CAST(SUM(c) OVER (PARTITION BY pri) AS BIGINT) AS n
        FROM v),
    q AS (
        SELECT pri, MIN(n) AS n,
               MIN(CASE WHEN cw >= (n + 3) // 4 THEN cents END) AS q1c,
               MIN(CASE WHEN cw >= (3 * n + 3) // 4 THEN cents END) AS q3c
        FROM cum GROUP BY 1),
    f AS (
        SELECT pri, n, q1c, q3c,
               10 * q1c - 15 * (q3c - q1c) AS lo10,
               10 * q3c + 15 * (q3c - q1c) AS hi10
        FROM q),
    o AS (
        SELECT v.pri,
               CAST(SUM(CASE WHEN 10 * v.cents < f.lo10 THEN v.c
                             ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN 10 * v.cents > f.hi10 THEN v.c
                             ELSE 0 END) AS BIGINT) AS n_high
        FROM v JOIN f USING (pri) GROUP BY 1)
    SELECT f.pri AS event_type, f.n AS n_rows,
           CAST(f.q1c AS DOUBLE) / 100 AS q1,
           CAST(f.q3c AS DOUBLE) / 100 AS q3,
           CAST(f.lo10 AS DOUBLE) / 1000 AS lo_fence,
           CAST(f.hi10 AS DOUBLE) / 1000 AS hi_fence,
           o.n_low, o.n_high
    FROM f JOIN o USING (pri)
    """,
)
def agg_tukey_fences(spark, sf_dir):
    """Per-group Tukey outlier fences over event values: type-1
    quartiles (the k-th smallest order statistic, k = ceil(n/4) /
    ceil(3n/4)), fences at 1.5 IQR, and the count of rows outside each
    fence -- the robust outlier screen a data-quality dashboard runs
    per segment (the right-skewed value column actually HAS upper
    outliers, ~90 per type at sf0.01 -- asserted non-degenerate in
    tests). Exact integer end-to-end: values become BIGINT cents via
    floor(v*100) -- an explicit floor because a bare double->BIGINT
    cast TRUNCATES in Spark but ROUNDS in DuckDB -- ORDER-STATISTIC
    quartiles (never interpolated -- interpolation is the cross-engine
    divergence surface agg-percentile-exact has to round away), and the
    1.5-IQR fences stay in tenth-of-cent integers (10*q1 - 15*IQR), so
    every comparison and count is exact; the only doubles are final
    int->divide presentation casts, correctly rounded identically in
    both engines.

    Scale: duplicate (group, value) pairs collapse in one map-side
    pre-aggregation before the per-group running sum walks the
    collapsed distinct-value list (the agg-weighted-median shape --
    cardinality bounded by distinct values, not rows); the outlier
    count is one more partial-aggregated pass joined against the
    broadcast 5-row fence table."""
    e = views(spark, sf_dir).table("events")
    v = e.groupBy(
        F.col("event_type").alias("pri"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).agg(F.count("*").alias("c"))
    win = Window.partitionBy("pri").orderBy("cents")
    cum = v.select(
        "pri",
        "cents",
        "c",
        F.sum("c").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("c").over(Window.partitionBy("pri")).alias("n"),
    )
    k1 = F.floor((F.col("n") + 3) / 4)
    k3 = F.floor((3 * F.col("n") + 3) / 4)
    q = cum.groupBy("pri").agg(
        F.min("n").alias("n"),
        F.min(F.when(F.col("cw") >= k1, F.col("cents"))).alias("q1c"),
        F.min(F.when(F.col("cw") >= k3, F.col("cents"))).alias("q3c"),
    )
    f = q.select(
        "pri",
        "n",
        "q1c",
        "q3c",
        (10 * F.col("q1c") - 15 * (F.col("q3c") - F.col("q1c"))).alias("lo10"),
        (10 * F.col("q3c") + 15 * (F.col("q3c") - F.col("q1c"))).alias("hi10"),
    )
    out = (
        v.join(F.broadcast(f), "pri")
        .groupBy("pri")
        .agg(
            F.sum(F.when(10 * F.col("cents") < F.col("lo10"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_low"),
            F.sum(F.when(10 * F.col("cents") > F.col("hi10"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_high"),
        )
    )
    return f.join(out, "pri").select(
        F.col("pri").alias("event_type"),
        F.col("n").alias("n_rows"),
        (F.col("q1c").cast("double") / 100).alias("q1"),
        (F.col("q3c").cast("double") / 100).alias("q3"),
        (F.col("lo10").cast("double") / 1000).alias("lo_fence"),
        (F.col("hi10").cast("double") / 1000).alias("hi_fence"),
        "n_low",
        "n_high",
    )


def _mi_oracle() -> str:
    ratio = (
        "(CAST(cxy AS DOUBLE) * CAST(n AS DOUBLE))"
        " / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))"
    )
    return f"""
    WITH xy AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS cxy
        FROM documents GROUP BY 1, 2),
    x AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cx
          FROM documents GROUP BY 1),
    y AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS cy
          FROM documents GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    cells AS (
        SELECT CAST(cxy AS DECIMAL(9,0))
                   * CAST(ln({ratio}) AS DECIMAL(28,4)) AS term
        FROM xy JOIN x USING (lang) JOIN y USING (source), n)
    SELECT (SELECT n FROM n) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_cells,
           {dsum_q4_sql('term')} / (SELECT n FROM n) AS mi_nats
    FROM cells
    """


@register("agg-mutual-information", oracle=_mi_oracle())
def agg_mutual_information(spark, sf_dir):
    """Mutual information (nats) between the two categorical axes of the
    document corpus (lang x source) -- the dependence screen a mixture
    curator runs before trusting per-axis marginals: MI ~ 0 means
    sampling by source cannot skew language balance, high MI means the
    axes confound. MI = sum over cells c_xy/n * ln(c_xy*n/(c_x*c_y)),
    computed from exact BIGINT counts; each cell's log-likelihood ratio
    is built double-by-double with one correctly-rounded multiply and
    divide (identical in both engines at ANY count magnitude -- never an
    int64 product that could exceed 2^53), its ln() quantized to the
    shared 1e-4 DECIMAL grid (the ln-skew device), weighted by the exact
    cell count in DECIMAL, and the sum exits unrounded through
    ``dsum_q4``. Cell counts are cast DECIMAL(9,0) to keep the weighted
    product inside DECIMAL(38,4) -- bounded by corpus rows per cell.

    Scale: three partial-aggregated groupBys (cells + two marginals) and
    two joins on the bounded cell table (|langs| x |sources| rows, never
    corpus-sized); the marginals broadcast."""
    d = views(spark, sf_dir).table("documents")
    xy = d.groupBy("lang", "source").agg(F.count("*").alias("cxy"))
    x = d.groupBy("lang").agg(F.count("*").alias("cx"))
    y = d.groupBy("source").agg(F.count("*").alias("cy"))
    n = d.agg(F.count("*").alias("n"))
    ratio = (F.col("cxy").cast("double") * F.col("n").cast("double")) / (
        F.col("cx").cast("double") * F.col("cy").cast("double")
    )
    cells = (
        xy.join(F.broadcast(x), "lang")
        .join(F.broadcast(y), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            (
                F.col("cxy").cast("decimal(9,0)")
                * F.log(ratio).cast("decimal(28,4)")
            ).alias("term"),
        )
    )
    return cells.groupBy("n").agg(
        F.count("*").alias("n_cells"),
        (dsum_q4("term") / F.col("n")).alias("mi_nats"),
    ).select(
        F.col("n").alias("n_docs"), "n_cells", "mi_nats"
    )


@register(
    "agg-rfm-segmentation",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', DATE '1990-01-01',
                              CAST(MAX(o_orderdate) AS DATE)) AS BIGINT)
                   AS rec,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)) * 100)
                    AS BIGINT) AS monc
        FROM orders GROUP BY 1),
    rk AS (
        SELECT o_custkey, rec, freq, monc,
               ROW_NUMBER() OVER (ORDER BY rec, o_custkey) AS rr,
               ROW_NUMBER() OVER (ORDER BY freq, o_custkey) AS fr,
               ROW_NUMBER() OVER (ORDER BY monc, o_custkey) AS mr,
               COUNT(*) OVER () AS n
        FROM cust),
    seg AS (
        SELECT CAST((rr - 1) * 5 // n + 1 AS BIGINT) AS r_q,
               CAST((fr - 1) * 5 // n + 1 AS BIGINT) AS f_q,
               CAST((mr - 1) * 5 // n + 1 AS BIGINT) AS m_q,
               monc
        FROM rk)
    SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(SUM(monc) AS BIGINT) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) / 100 AS avg_monetary
    FROM seg GROUP BY 1, 2, 3
    """,
)
def agg_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: every ordering customer lands in a
    (recency, frequency, monetary) quintile cell -- the classic
    marketing-analytics cube (5x5x5 max, sparse in practice) that
    downstream campaign queries join against. Quintiles are the exact
    global rank over a unique (dimension, custkey) order bucketed by
    INTEGER floor-division (the ext-length-decile-mix device -- never
    ntile, never a float divide), recency is exact integer days since
    the epoch anchor, monetary is exact cents; the per-cell average
    exits as two correctly-rounded divisions on exact integers in the
    same order on both engines.

    Scale: one partial-aggregated per-customer groupBy, then THREE
    ``common.parallel_rank`` passes over the bounded customer aggregate
    (range-partition + local row_number + driver-side partition offsets
    -- no single-partition window even at 10^9 customers); the cell reduce is
    partial-aggregated on a <=125-key space."""
    from dbtwiz_spark.ops.common import parallel_rank

    cat = views(spark, sf_dir)
    o = cat.table("orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("rec"),
        F.count("*").alias("freq"),
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100).cast("long").alias("monc"),
    )

    # each axis ranks the per-customer aggregate independently (one
    # artifact per dimension); the three quintile tables join back on
    # the key
    def quint(dim, out):
        r = cat.artifact(
            f"agg-rfm-segmentation:{dim},o_custkey",
            lambda: parallel_rank(cust, [F.col(dim), F.col("o_custkey")]),
        )
        return r.select(
            "o_custkey",
            (F.expr("div((_rank - 1) * 5, _n)") + 1).cast("long").alias(out),
        )

    seg = (
        cust.join(quint("rec", "r_q"), "o_custkey")
        .join(quint("freq", "f_q"), "o_custkey")
        .join(quint("monc", "m_q"), "o_custkey")
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_customers"),
        (
            F.sum("monc").cast("long").cast("double")
            / F.count("*").cast("double")
            / 100
        ).alias("avg_monetary"),
    )


@register(
    "agg-pythagorean-means",
    oracle=f"""
    WITH qc AS (
        SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2),
    ser AS (
        SELECT flag, CAST(SUM(c) AS BIGINT) AS n,
               list([CAST(c AS DOUBLE), CAST(q AS DOUBLE)] ORDER BY q)
                   AS arr,
               {dsum_q4_sql('CAST(c AS DECIMAL(9,0))'
                            ' * CAST(ln(CAST(q AS DOUBLE)) AS DECIMAL(28,4))')}
                   / CAST(SUM(c) AS BIGINT) AS gln
        FROM qc GROUP BY 1)
    SELECT flag AS l_returnflag, n AS n_rows,
           round(CAST(n AS DOUBLE) /
                 list_reduce(
                     list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)], arr),
                     (acc, e) -> [acc[1] + e[1] / e[2], CAST(0 AS DOUBLE)]
                 )[1], 6) AS hmean,
           gln AS gmean_ln,
           round(exp(gln), 6) AS gmean,
           round(CAST((SELECT SUM(CAST(c AS DECIMAL(19,0))
                                  * CAST(q AS DECIMAL(19,0)))
                       FROM qc i WHERE i.flag = ser.flag) AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS amean
    FROM ser
    """,
)
def agg_pythagorean_means(spark, sf_dir):
    """The three Pythagorean means of line quantity per return flag --
    arithmetic, geometric (shipped both as exact mean-ln and as the
    rounded mean itself), harmonic -- the summary triple a rate/ratio
    dashboard needs (harmonic for rates, geometric for multiplicative
    effects), pinned AM >= GM >= HM in tests. Quantity has <= 50
    distinct integer values, so everything reduces over the tiny
    (flag, q) count grid: the arithmetic mean is an exact integer
    product sum over one divide; the geometric mean sums c * ln(q) on
    the shared 1e-4 DECIMAL grid (occ/k device + dsum_q4 exit,
    mean-ln unrounded; exp() is skewed ~ulps between engines so the
    exponentiated mean rounds to 6 dp, the bm25 device); the harmonic
    denominator folds c/q over the q-ORDERED 50-element array (the
    ordered-fold device) -- identical IEEE sequence, bit-exact
    unrounded divide... rounded to 6 dp only because the final n/sum
    composes two correctly-rounded ops.

    Scale: one partial-aggregated groupBy collapses the corpus to the
    value grid; folds and logs run on <= 50 rows per group."""
    li = views(spark, sf_dir).table("lineitem")
    qc = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("q"),
    ).agg(F.count("*").alias("c"))
    ser = qc.groupBy("flag").agg(
        F.sum("c").cast("long").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("q", "c"))),
            lambda s: F.array(s["c"].cast("double"), s["q"].cast("double")),
        ).alias("arr"),
        (
            dsum_q4(
                F.col("c").cast("decimal(9,0)")
                * F.log(F.col("q").cast("double")).cast("decimal(28,4)")
            )
            / F.sum("c").cast("long")
        ).alias("gln"),
        F.sum(
            F.col("c").cast("decimal(19,0)") * F.col("q").cast("decimal(19,0)")
        ).alias("sq"),
    )
    hsum = F.aggregate(
        F.col("arr"),
        F.lit(0.0),
        lambda acc, e: acc + F.element_at(e, 1) / F.element_at(e, 2),
    )
    return ser.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").alias("n_rows"),
        F.round(F.col("n").cast("double") / hsum, 6).alias("hmean"),
        F.col("gln").alias("gmean_ln"),
        F.round(F.exp("gln"), 6).alias("gmean"),
        F.round(F.col("sq").cast("double") / F.col("n").cast("double"), 6).alias(
            "amean"
        ),
    )


@register(
    "agg-retention-triangle",
    oracle="""
    WITH fm AS (
        SELECT o_custkey,
               CAST(MIN(EXTRACT(year FROM o_orderdate) * 12
                        + EXTRACT(month FROM o_orderdate) - 1) AS BIGINT)
                   AS cm
        FROM orders GROUP BY 1),
    act AS (
        SELECT DISTINCT o.o_custkey, f.cm,
               CAST(EXTRACT(year FROM o.o_orderdate) * 12
                    + EXTRACT(month FROM o.o_orderdate) - 1 AS BIGINT) - f.cm
                   AS offs
        FROM orders o JOIN fm f ON f.o_custkey = o.o_custkey),
    size_ AS (
        SELECT cm, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM fm
        GROUP BY 1)
    SELECT CAST(a.cm // 12 AS BIGINT) AS cohort_year,
           CAST(a.cm % 12 AS BIGINT) AS cohort_month0,
           a.offs AS month_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           s.cohort_users,
           CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_users AS DOUBLE)
               AS pct_retained
    FROM act a JOIN size_ s ON s.cm = a.cm
    GROUP BY 1, 2, 3, s.cohort_users
    """,
)
def agg_retention_triangle(spark, sf_dir):
    """The cohort retention triangle: customers grouped by first-order
    month, and for each (cohort, months-since-first) cell the count and
    fraction of the cohort that placed an order that month -- the
    distinct-user companion to agg-cohort-ltv's revenue curves (product
    analytics reads both off the same mart). Months are exact integer
    month-indices (year*12+month, the agg-spearman-corr device -- never
    months_between, whose fractional semantics differ across engines);
    the retained fraction is one correctly-rounded int/int double
    divide, shipped unrounded.

    Scale: one per-customer min (partial-aggregated), one equi-join of
    orders against the broadcast-or-shuffled cohort map, a DISTINCT on
    (customer, cohort, offset) -- the dedup that bounds the cell counts
    -- then a cells-sized reduce. No windows; cohort sizes join on the
    ~months-cardinality key, skew-free."""
    o = views(spark, sf_dir).table("orders")
    # 0-based month index (month - 1): a 1-based index decodes December
    # to month 0 of the FOLLOWING year in the div/mod split below
    mi = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    fm = o.groupBy("o_custkey").agg(F.min(mi).alias("cm"))
    act = (
        o.join(fm, "o_custkey")
        .select("o_custkey", "cm", (mi - F.col("cm")).alias("offs"))
        .distinct()
    )
    size = fm.groupBy("cm").agg(F.count("*").alias("cohort_users"))
    return (
        act.join(size, "cm")
        .groupBy(
            F.expr("div(cm, 12)").alias("cohort_year"),
            F.expr("cm % 12").alias("cohort_month0"),
            F.col("offs").alias("month_offset"),
            "cohort_users",
        )
        .agg(F.count("*").alias("n_active"))
        .select(
            "cohort_year",
            "cohort_month0",
            "month_offset",
            "n_active",
            "cohort_users",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_users").cast("double")
            ).alias("pct_retained"),
        )
    )


@register(
    "agg-hhi-concentration",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, s.s_suppkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6)) * 100)
                    AS DECIMAL(19,0)) AS revc
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2),
    mo AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(revc) AS DECIMAL(38,0)) AS tot,
               CAST(SUM(revc * revc) AS DECIMAL(38,0)) AS sumsq
        FROM rev GROUP BY 1)
    SELECT n_name, n_suppliers,
           CASE WHEN tot > 0 THEN
               round(CAST(sumsq AS DOUBLE)
                     / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
           END AS hhi
    FROM mo
    """,
)
def agg_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman market concentration per nation: the sum of
    squared supplier revenue shares (1/n = perfect competition, 1.0 =
    monopoly) -- the antitrust/marketplace-health metric. Shares never
    materialize: HHI = sum(rev_i^2) / (sum(rev_i))^2 algebraically, so
    both moments accumulate exactly -- revenue as DECIMAL cents, squares
    in DECIMAL(38,0) (cents^2 passes 2^63 already at ~$1B per supplier;
    int64 would overflow silently) -- and the only doubles are the two
    final scale-0 casts, one multiply, one divide, rounded to 6 dp (the
    graph-degree-assortativity exit). Zero-revenue markets guard NULL.

    Scale: one (nation, supplier)-keyed partial-aggregated groupBy over
    the fact stream (supplier/nation dims broadcast), then a
    nations-sized reduce. No window, no share self-join."""
    cat = views(spark, sf_dir)
    li, s, n = cat.table("lineitem"), cat.table("supplier"), cat.table("nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)) * 100)
            .cast("decimal(19,0)")
            .alias("revc")
        )
    )
    mo = rev.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("revc").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("revc") * F.col("revc")).cast("decimal(38,0)").alias("sumsq"),
    )
    return mo.select(
        "n_name",
        "n_suppliers",
        F.when(
            F.col("tot") > 0,
            F.round(
                F.col("sumsq").cast("double")
                / (F.col("tot").cast("double") * F.col("tot").cast("double")),
                6,
            ),
        ).alias("hhi"),
    )


@register(
    "agg-pareto-share",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)) * 100)
                    AS BIGINT) AS revc
        FROM orders GROUP BY 1),
    rk AS (
        SELECT revc,
               ROW_NUMBER() OVER (ORDER BY -revc, o_custkey) AS r,
               COUNT(*) OVER () AS n,
               CAST(SUM(revc) OVER () AS BIGINT) AS tot
        FROM cust),
    th AS (SELECT UNNEST([1, 5, 10, 20, 50]) AS p)
    SELECT CAST(th.p AS BIGINT) AS top_pct,
           CAST(MAX((rk.n * th.p + 99) // 100) AS BIGINT) AS n_top,
           CAST(SUM(CASE WHEN rk.r <= (rk.n * th.p + 99) // 100
                         THEN rk.revc ELSE 0 END) AS DOUBLE)
               / CAST(MAX(rk.tot) AS DOUBLE) AS revenue_share
    FROM rk, th GROUP BY 1
    """,
)
def agg_pareto_share(spark, sf_dir):
    """Pareto revenue concentration: the share of total revenue owned by
    the top 1/5/10/20/50 % of customers -- the 80/20 readout that sits
    next to agg-gini-concentration on every revenue dashboard (Gini is
    the integral; these are the named points procurement actually asks
    for). Customers rank by exact cents revenue DESC with a unique
    custkey tiebreak via ``common.parallel_rank`` (range partition +
    local row_number + driver-side partition offsets -- no
    single-partition window over the customer table); each threshold's head size is exact
    integer ceiling division, and the share is one correctly-rounded
    BIGINT/BIGINT double divide, shipped unrounded.

    Scale: one partial-aggregated per-customer groupBy, one rank pass,
    then a 5-way conditional aggregation over the ranked table -- the
    thresholds fan out as a broadcast literal array, never a self-join
    per threshold."""
    from dbtwiz_spark.ops.common import parallel_rank

    cat = views(spark, sf_dir)
    o = cat.table("orders")
    cust = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("long")
        .alias("revc")
    )
    rk = cat.artifact(
        "agg-pareto-share:_neg,o_custkey",
        lambda: parallel_rank(
            cust.withColumn("_neg", -F.col("revc")), ["_neg", "o_custkey"]
        ),
    )
    tot = rk.agg(F.sum("revc").cast("long").alias("tot"))
    th = F.explode(F.array(*[F.lit(p) for p in (1, 5, 10, 20, 50)])).alias("p")
    fan = rk.crossJoin(F.broadcast(tot)).select(
        "revc", "_rank", "_n", "tot", th
    )
    head = F.expr("div(_n * p + 99, 100)")
    return (
        fan.groupBy(F.col("p").cast("long").alias("top_pct"))
        .agg(
            F.max(head).alias("n_top"),
            (
                F.sum(F.when(F.col("_rank") <= head, F.col("revc")).otherwise(0))
                .cast("long")
                .cast("double")
                / F.max("tot").cast("double")
            ).alias("revenue_share"),
        )
    )


@register(
    "agg-price-elasticity",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand,
               CAST(ln(l.l_extendedprice / l.l_quantity)
                    AS DECIMAL(18,4)) AS x,
               CAST(ln(l.l_quantity) AS DECIMAL(18,4)) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0),
    m AS (
        SELECT p_brand,
               CAST(COUNT(*) AS DECIMAL(12,0)) AS n,
               CAST(SUM(x) AS DECIMAL(19,4)) AS sx,
               CAST(SUM(y) AS DECIMAL(19,4)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(25,8)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(25,8)) AS sxx
        FROM pts GROUP BY 1)
    SELECT p_brand, CAST(n AS BIGINT) AS n_obs,
           CASE WHEN n * sxx - sx * sx > 0 THEN
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS elasticity
    FROM m
    """,
)
def agg_price_elasticity(spark, sf_dir):
    """Per-brand price elasticity of demand: the OLS slope of
    ln(quantity) on ln(unit price) across line items -- the log-log
    regression every pricing team runs (slope ~ -1 means revenue-neutral
    price moves). Numerics compose two proven devices: each ln() lands
    on the 1e-4 DECIMAL grid BEFORE any aggregation (JVM and libm ln
    disagree by ~1e-13 absolute, so per-term truncation to a coarse grid
    is the only order-independent exit -- the bigram-logprob lesson),
    then the five regression moments accumulate EXACTLY over the
    quantized values (moment widths sized so every cross product stays
    inside the 38-digit cap in BOTH engines: n(12,0) x sxy(25,8) and
    sx(19,4) x sy(19,4) -- DuckDB PROMOTES an overflowing decimal
    product to double while Spark truncates, so width discipline is
    correctness, not tuning) and the slope exits through one double
    divide of two exact moments, rounded to 6 dp; degenerate variance
    guards NULL (ANSI rule).

    The unit price itself is a double divide of two identical parquet
    doubles -- bit-identical across engines before the ln.

    Scale: one fact-stream join against the broadcast part dim, one
    partial-aggregated moment reduce per brand (25 keys); mergeable
    moment vectors, single pass -- the agg-linear-regression shape with
    the ln-grid front end."""
    cat = views(spark, sf_dir)
    li, p = cat.table("lineitem"), cat.table("part")
    pts = (
        li.filter(F.col("l_quantity") > 0)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            F.log(F.col("l_extendedprice") / F.col("l_quantity"))
            .cast("decimal(18,4)")
            .alias("x"),
            F.log("l_quantity").cast("decimal(18,4)").alias("y"),
        )
    )
    m = pts.groupBy("p_brand").agg(
        F.count("*").cast("decimal(12,0)").alias("n"),
        # width 19, not 18: DuckDB stores width<=18 decimals in int64
        # and its sx*sx product path overflows int64 at sf0.1 scale
        # (caught by the sf0.1 sweep); width 19 forces the int128 path
        # in DuckDB while 19+19+1 still caps inside Spark's DECIMAL(38)
        F.sum("x").cast("decimal(19,4)").alias("sx"),
        F.sum("y").cast("decimal(19,4)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(25,8)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(25,8)").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    den = n * F.col("sxx") - sx * sx
    return m.select(
        "p_brand",
        n.cast("bigint").alias("n_obs"),
        F.when(
            den > 0,
            F.round(
                (n * F.col("sxy") - sx * sy).cast("double")
                / den.cast("double"),
                6,
            ),
        ).alias("elasticity"),
    )


@register(
    "agg-runs-test",
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
    sg AS (
        SELECT pri, day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
        FROM dd WHERE d IS NOT NULL AND d <> 0),
    ch AS (
        SELECT pri, s,
               CASE WHEN LAG(s) OVER (PARTITION BY pri ORDER BY day)
                         IS DISTINCT FROM s THEN 1 ELSE 0 END AS chg
        FROM sg),
    m AS (
        SELECT pri, CAST(SUM(chg) AS BIGINT) AS runs,
               CAST(COUNT(*) FILTER (WHERE s = 1) AS BIGINT) AS n_up,
               CAST(COUNT(*) FILTER (WHERE s = -1) AS BIGINT) AS n_down
        FROM ch GROUP BY 1)
    SELECT pri AS o_orderpriority, runs, n_up, n_down,
           CASE WHEN n_up > 0 AND n_down > 0 AND n_up + n_down > 1 THEN
               (CAST(runs AS DOUBLE)
                - (1 + 2 * CAST(n_up * n_down AS DOUBLE)
                       / CAST(n_up + n_down AS DOUBLE)))
               / sqrt((2 * CAST(n_up * n_down AS DOUBLE)
                       / CAST(n_up + n_down AS DOUBLE))
                      * (2 * CAST(n_up * n_down AS DOUBLE)
                         / CAST(n_up + n_down AS DOUBLE) - 1)
                      / CAST(n_up + n_down - 1 AS DOUBLE))
           END AS z
    FROM m
    """,
)
def agg_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on each priority's daily-revenue
    direction sequence: count the runs of consecutive up/down days and
    standardize against the randomness null (too FEW runs = trending,
    too MANY = mean-reverting oscillation) -- the classic
    randomness-of-a-series check next to win-autocorr. The first
    changed-sign row counts 1 via IS DISTINCT FROM against the NULL lag
    (so runs = the true run count), n_up/n_down are exact integers, and
    z composes the textbook mu = 1 + 2ab/n, sigma^2 = (mu-1)(mu-2)/(n-1)
    entirely from exact int64->double conversions and correctly-rounded
    IEEE ops on both engines -- shipped bit-identical UNROUNDED.
    Zero-delta days are excluded (ties carry no direction); degenerate
    one-sided series guard NULL.

    Scale: one partial-aggregated daily groupBy, two lag windows over
    calendar-bounded partitions, a 5-key reduce. No fold needed -- the
    run count is order-local (a lag), not a recurrence."""
    o = views(spark, sf_dir).table("orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100).cast("long").alias("revc")
    )
    w = Window.partitionBy("pri").orderBy("day")
    dd = daily.select(
        "pri", "day", (F.col("revc") - F.lag("revc").over(w)).alias("d")
    ).filter(F.col("d").isNotNull() & (F.col("d") != 0))
    sg = dd.select(
        "pri", "day", F.when(F.col("d") > 0, 1).otherwise(-1).alias("s")
    )
    ch = sg.select(
        "pri",
        "s",
        (~F.lag("s").over(w).eqNullSafe(F.col("s"))).cast("long").alias("chg"),
    )
    m = ch.groupBy("pri").agg(
        F.sum("chg").alias("runs"),
        F.sum((F.col("s") == 1).cast("long")).alias("n_up"),
        F.sum((F.col("s") == -1).cast("long")).alias("n_down"),
    )
    # x = 2ab/n computed EXACTLY as in the oracle: integer product, ONE
    # int->double conversion, one divide. (mu-1) recomputed as
    # fl(fl(1+x)-1) would NOT equal x in IEEE — both engines must use x
    # directly in the variance.
    prod = (F.col("n_up") * F.col("n_down")).cast("double")
    ntot = (F.col("n_up") + F.col("n_down")).cast("double")
    x = 2 * prod / ntot
    mu = 1 + x
    var = x * (x - 1) / (F.col("n_up") + F.col("n_down") - 1).cast("double")
    return m.select(
        F.col("pri").alias("o_orderpriority"),
        "runs",
        "n_up",
        "n_down",
        F.when(
            (F.col("n_up") > 0)
            & (F.col("n_down") > 0)
            & (F.col("n_up") + F.col("n_down") > 1),
            (F.col("runs").cast("double") - mu) / F.sqrt(var),
        ).alias("z"),
    )


@register(
    "agg-order-gap-distribution",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day',
                    LAG(CAST(o_orderdate AS DATE)) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey),
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
        FROM orders),
    b AS (
        SELECT CASE WHEN gap = 0 THEN 0
                    WHEN gap <= 7 THEN 1
                    WHEN gap <= 30 THEN 2
                    WHEN gap <= 90 THEN 3
                    WHEN gap <= 365 THEN 4
                    ELSE 5 END AS bucket,
               gap
        FROM gaps WHERE gap IS NOT NULL)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap) AS BIGINT) AS min_days,
           CAST(MAX(gap) AS BIGINT) AS max_days,
           CAST(SUM(gap) AS BIGINT) AS total_days
    FROM b GROUP BY 1
    """,
)
def agg_order_gap_distribution(spark, sf_dir):
    """Inter-purchase gap distribution: days between each customer's
    consecutive orders, bucketed into the standard repeat-purchase bands
    (same-day / week / month / quarter / year / dormant) -- the input to
    every churn-definition debate ("inactive" = which band?). Gaps come
    from one lag window over a unique (date, orderkey) order; buckets,
    counts, and day sums are exact integers end to end -- no float
    surface.

    Scale: one shuffle on the customer key with calendar-bounded
    partitions, then a 6-key partial-aggregated reduce. The histogram
    never materializes per-customer state beyond the lag."""
    o = views(spark, sf_dir).table("orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("gap"),
    ).filter(F.col("gap").isNotNull())
    bucket = (
        F.when(F.col("gap") == 0, 0)
        .when(F.col("gap") <= 7, 1)
        .when(F.col("gap") <= 30, 2)
        .when(F.col("gap") <= 90, 3)
        .when(F.col("gap") <= 365, 4)
        .otherwise(5)
    )
    return gaps.groupBy(bucket.cast("long").alias("bucket")).agg(
        F.count("*").alias("n_gaps"),
        F.min("gap").alias("min_days"),
        F.max("gap").alias("max_days"),
        F.sum("gap").alias("total_days"),
    )


@register(
    "agg-pk-uniqueness-audit",
    oracle="""
    WITH o AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys
        FROM orders),
    l AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT l_orderkey * 16 + l_linenumber)
                    AS BIGINT) AS n_keys
        FROM lineitem),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys
        FROM customer)
    SELECT 'orders' AS table_name, 'o_orderkey' AS key_expr,
           n_rows, n_keys, n_rows - n_keys AS n_dup_rows FROM o
    UNION ALL
    SELECT 'lineitem', 'l_orderkey,l_linenumber', n_rows, n_keys,
           n_rows - n_keys FROM l
    UNION ALL
    SELECT 'customer', 'c_custkey', n_rows, n_keys, n_rows - n_keys FROM c
    """,
)
def agg_pk_uniqueness_audit(spark, sf_dir):
    """Primary-key uniqueness audit over the warehouse's fact/dim keys --
    dbt's built-in ``unique`` test (the reference enforces a primary-key
    constraint on every mart model, dbtwiz/model/validate.py PK rule;
    ``model validate`` runs this exact check warehouse-side). One row
    per audited table: row count, distinct key count, duplicate excess.
    The lineitem composite key packs into a single integer
    (orderkey * 16 + linenumber, linenumber <= 7 in TPC-H) so the
    distinct runs on a primitive -- the composite-key audit device that
    avoids a string concat per fact row. On the synthetic testdata the
    lineitem composite key is genuinely DIRTY (the generator reuses
    line numbers within an order), so the audit reports a real nonzero
    violation count -- pinned in tests as proof the check detects what
    it exists to detect.

    Scale: one exact count-distinct shuffle per table (Spark's expand +
    two-level partial agg), each independent -- a 100 TB audit runs the
    three scans in parallel stages. Exactness is the point of the
    audit; the estimated variant is agg-approx-count-distinct."""
    cat = views(spark, sf_dir)
    o = cat.table("orders").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )
    li = cat.table("lineitem").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(
            F.col("l_orderkey") * 16 + F.col("l_linenumber")
        ).alias("n_keys"),
    )
    c = cat.table("customer").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("c_custkey").alias("n_keys"),
    )

    def tag(df, name, key):
        return df.select(
            F.lit(name).alias("table_name"),
            F.lit(key).alias("key_expr"),
            "n_rows",
            "n_keys",
            (F.col("n_rows") - F.col("n_keys")).alias("n_dup_rows"),
        )

    return (
        tag(o, "orders", "o_orderkey")
        .unionAll(tag(li, "lineitem", "l_orderkey,l_linenumber"))
        .unionAll(tag(c, "customer", "c_custkey"))
    )


@register(
    "agg-forecast-backtest-mape",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
                   AS av
        FROM events GROUP BY 1, 2),
    fc AS (
        SELECT event_type, day, av,
               LAG(av, 7) OVER (PARTITION BY event_type ORDER BY day) AS fv
        FROM daily),
    sc AS (
        SELECT event_type,
               LEAST(CAST(abs(av - fv) AS DOUBLE) / CAST(av AS DOUBLE),
                     CAST(10 AS DOUBLE)) AS ape,
               2 * CAST(abs(av - fv) AS DOUBLE) / CAST(av + fv AS DOUBLE)
                   AS sape
        FROM fc WHERE fv IS NOT NULL AND av > 0 AND av + fv > 0)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           {dsum_q8_sql('ape')} / COUNT(*) AS mape,
           {dsum_q8_sql('sape')} / COUNT(*) AS smape
    FROM sc GROUP BY 1
    """,
)
def agg_forecast_backtest_mape(spark, sf_dir):
    """Forecast backtest: MAPE and sMAPE of the seasonal-naive forecast
    (this weekday last week, the 7-step lag) against each event type's
    realized daily totals -- the accuracy scoreboard any forecasting
    rollout needs BEFORE replacing the naive baseline (if a model can't
    beat lag-7, ship lag-7; companion to win-seasonal-baseline and
    win-holt-winters). Daily totals are exact micro-units (x1e6 scaled
    BIGINTs), so each day's APE is one-or-two correctly-rounded double
    ops on exact integers -- bit-identical per term -- and the per-type
    MEAN quantizes every term to the 1e-8 grid (dsum_q8) so the
    reduction is order-independent across engines. APE is WINSORIZED at
    10 (the standard MAPE fix: a near-zero actual after a normal day
    yields an unbounded ratio -- which would also blow through
    dsum_q8's BIGINT headroom); sMAPE is <= 2 by construction.
    Zero-actual days are excluded on both sides (percentage error is
    undefined there; sMAPE's denominator guard rides along).

    Scale: one partial-aggregated daily groupBy, one lag window over
    calendar-bounded partitions, a types-sized reduce."""
    ev = views(spark, sf_dir).table("events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("value").cast(DEC)) * 1000000).cast("long").alias("av")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    fc = daily.select(
        "event_type", "av", F.lag("av", 7).over(w).alias("fv")
    ).filter(
        F.col("fv").isNotNull() & (F.col("av") > 0)
        & (F.col("av") + F.col("fv") > 0)
    )
    diff = F.abs(F.col("av") - F.col("fv")).cast("double")
    sc = fc.select(
        "event_type",
        F.least(diff / F.col("av").cast("double"), F.lit(10.0)).alias("ape"),
        (2 * diff / (F.col("av") + F.col("fv")).cast("double")).alias("sape"),
    )
    return sc.groupBy("event_type").agg(
        F.count("*").alias("n_days_scored"),
        (dsum_q8("ape") / F.count("*")).alias("mape"),
        (dsum_q8("sape") / F.count("*")).alias("smape"),
    )


@register(
    "agg-growth-accounting",
    oracle="""
    WITH act AS (
        SELECT DISTINCT o_custkey,
               CAST(EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m
        FROM orders),
    lagd AS (
        SELECT o_custkey, m,
               LAG(m) OVER (PARTITION BY o_custkey ORDER BY m) AS prev_m
        FROM act),
    cls AS (
        SELECT m,
               CAST(SUM(CASE WHEN prev_m IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(SUM(CASE WHEN prev_m = m - 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_retained,
               CAST(SUM(CASE WHEN prev_m IS NOT NULL AND prev_m < m - 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        FROM lagd GROUP BY 1),
    chur AS (
        SELECT m + 1 AS m, CAST(COUNT(*) AS BIGINT) AS n_churned
        FROM (
            SELECT o_custkey, m,
                   LEAD(m) OVER (PARTITION BY o_custkey ORDER BY m) AS nxt
            FROM act)
        WHERE nxt IS NULL OR nxt > m + 1
        GROUP BY 1)
    SELECT CAST(c.m // 12 AS BIGINT) AS year,
           CAST(c.m % 12 AS BIGINT) AS month0,
           c.n_new, c.n_retained, c.n_resurrected,
           COALESCE(h.n_churned, 0) AS n_churned
    FROM cls c LEFT JOIN chur h ON h.m = c.m
    """,
)
def agg_growth_accounting(spark, sf_dir):
    """Monthly growth accounting over the customer base: every active
    customer-month classifies as NEW (first month ever), RETAINED
    (active last month too), or RESURRECTED (active before, but not
    last month), and each month reports how many of the previous
    month's actives CHURNED out -- the MAU decomposition
    (new + retained + resurrected = actives;
    actives(t-1) - retained(t) = churned(t)) that product/finance
    reviews read before any topline MAU number. Month indices are
    0-based exact integers (the retention-triangle device); one lag and
    one lead over the same per-customer ordering classify everything;
    all outputs exact counts -- no float surface.

    Scale: one DISTINCT on (customer, month) bounds the stream, two
    windows share ONE customer-keyed exchange, and the reduce is
    months-sized. The identity n_new+n_retained+n_resurrected = MAU is
    pinned in tests."""
    o = views(spark, sf_dir).table("orders")
    mi = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    act = o.select("o_custkey", mi.alias("m")).distinct()
    w = Window.partitionBy("o_custkey").orderBy("m")
    lagd = act.select(
        "m", F.lag("m").over(w).alias("prev_m"), F.lead("m").over(w).alias("nxt")
    )
    # explicit when/otherwise(0): a NULL prev_m makes the == comparison
    # NULL, and a group whose rows are ALL null sums to NULL, not 0
    # (bit the first-month row)
    cls = lagd.groupBy("m").agg(
        F.sum(F.col("prev_m").isNull().cast("long")).alias("n_new"),
        F.sum(
            F.when(F.col("prev_m") == F.col("m") - 1, 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_m").isNotNull()
                & (F.col("prev_m") < F.col("m") - 1),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
    )
    chur = (
        lagd.filter(F.col("nxt").isNull() | (F.col("nxt") > F.col("m") + 1))
        .groupBy((F.col("m") + 1).alias("m"))
        .agg(F.count("*").alias("n_churned"))
    )
    return (
        cls.join(chur, "m", "left")
        .select(
            F.expr("div(m, 12)").alias("year"),
            F.expr("m % 12").alias("month0"),
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).alias("n_churned"),
        )
    )


@register(
    "agg-seasonality-strength",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS day,
               CAST(EXTRACT(isodow FROM o_orderdate) AS BIGINT) AS dow,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)) * 100)
                    AS BIGINT) AS revc
        FROM orders GROUP BY 1, 2, 3),
    per_dow AS (
        SELECT pri, dow, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(revc) AS DECIMAL(38,0)) AS s,
               CAST(SUM(CAST(revc AS DECIMAL(19,0))
                        * CAST(revc AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS ss
        FROM daily GROUP BY 1, 2),
    tot AS (
        SELECT pri, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(s) AS DECIMAL(38,0)) AS s,
               CAST(SUM(ss) AS DECIMAL(38,0)) AS ss,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE) ORDER BY dow)),
                   (a, x) -> a + x) AS grp_sq
        FROM per_dow GROUP BY 1)
    SELECT pri AS o_orderpriority, n AS n_days,
           CASE WHEN CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0 THEN
               (grp_sq - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE))
               / (CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE))
           END AS seasonality_strength
    FROM tot
    """,
)
def agg_seasonality_strength(spark, sf_dir):
    """Weekday-seasonality strength per priority: the share of daily
    revenue variance EXPLAINED by day-of-week (between-group sum of
    squares over total sum of squares -- the one-way ANOVA eta-squared,
    repurposed as the 'is there a weekly cycle worth modeling' gate a
    forecaster checks before win-seasonal-baseline). Moments accumulate
    exactly (cents BIGINTs; squares through DECIMAL(19,0) products
    inside the 38 cap); the seven per-weekday s^2/n terms are each
    composed of correctly-rounded double ops on exact ints and then
    summed by the ORDERED FOLD over the dow-sorted 7-array (a bare
    7-term double sum is reduction-order-dependent, and the terms are
    ~1e19 -- far past any scaled-BIGINT grid); the final ratio is one
    double division, unrounded; zero-variance groups guard NULL.

    Scale: one partial-aggregated daily groupBy, a 7x5-key reduce, a
    5-key reduce. Between/total SS never touches the fact stream
    twice."""
    o = views(spark, sf_dir).table("orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("day"),
        F.dayofweek("o_orderdate").alias("dow_raw"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast(DEC)) * 100)
        .cast("long")
        .alias("revc")
    )
    # isodow (Mon=1..Sun=7) from Spark's dayofweek (Sun=1..Sat=7); the
    # value only partitions groups, but keep it identical anyway
    daily = daily.select(
        "pri",
        "day",
        (((F.col("dow_raw") + 5) % 7) + 1).cast("long").alias("dow"),
        "revc",
    )
    per_dow = daily.groupBy("pri", "dow").agg(
        F.count("*").alias("n"),
        F.sum("revc").cast("decimal(38,0)").alias("s"),
        F.sum(
            F.col("revc").cast("decimal(19,0)")
            * F.col("revc").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    # one shared unresolved expression serves both the per-dow fold term
    # and the per-priority mean square (resolved against each consumer)
    grp_term = (
        F.col("s").cast("double")
        * F.col("s").cast("double")
        / F.col("n").cast("double")
    )
    tot = per_dow.groupBy("pri").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("s"),
        F.sum("ss").cast("decimal(38,0)").alias("ss"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dow", grp_term.alias("t")))
                ),
                lambda e: e.t,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("grp_sq"),
    )
    mean_sq = grp_term
    tss = F.col("ss").cast("double") - mean_sq
    return tot.select(
        F.col("pri").alias("o_orderpriority"),
        F.col("n").alias("n_days"),
        F.when(tss > 0, (F.col("grp_sq") - mean_sq) / tss).alias(
            "seasonality_strength"
        ),
    )


@register(
    "agg-new-vs-repeat-revenue",
    oracle="""
    WITH fo AS (
        SELECT o_custkey, MIN(o_orderdate) AS first_dt
        FROM orders GROUP BY 1),
    cls AS (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) * 12
                    + EXTRACT(month FROM o.o_orderdate) - 1 AS BIGINT) AS m,
               o.o_orderdate = f.first_dt
                   AND o.o_orderkey = (
                       SELECT MIN(o2.o_orderkey) FROM orders o2
                       WHERE o2.o_custkey = o.o_custkey
                         AND o2.o_orderdate = f.first_dt) AS is_first,
               CAST(o.o_totalprice AS DECIMAL(28,6)) AS rev
        FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey)
    SELECT CAST(m // 12 AS BIGINT) AS year,
           CAST(m % 12 AS BIGINT) AS month0,
           CAST(SUM(CASE WHEN is_first THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first_orders,
           CAST(SUM(CASE WHEN NOT is_first THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat_orders,
           CAST(CAST(SUM(CASE WHEN is_first THEN rev END) * 100 AS BIGINT)
                AS DOUBLE) / 100 AS new_revenue,
           CAST(CAST(COALESCE(SUM(CASE WHEN NOT is_first THEN rev END), 0)
                     * 100 AS BIGINT) AS DOUBLE) / 100 AS repeat_revenue
    FROM cls GROUP BY 1, 2
    """,
)
def agg_new_vs_repeat_revenue(spark, sf_dir):
    """Monthly revenue split by acquisition vs retention: each order
    classifies as the customer's FIRST-EVER order (exactly one per
    customer -- ties on the first date break by the minimum order key,
    so multi-order first days don't double-count acquisition) or a
    repeat -- the one chart that says whether growth is new logos or
    the installed base, the revenue companion to agg-growth-accounting.
    Month indices are 0-based exact integers; revenue stays DECIMAL to
    the x100 BIGINT cents exit; repeat revenue coalesces 0 for months
    with no repeats (a sum over an empty side is NULL in both engines,
    but only when EVERY row misses -- explicit on both sides).

    Scale: one per-customer min (partial-aggregated), the first-order
    pick is a per-customer min over the first-date orders (the oracle
    spells it as a correlated min; the engine computes it as one more
    aggregate join -- never a correlated subquery per row), then a
    months-sized reduce."""
    o = views(spark, sf_dir).table("orders")
    fo = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    first_key = (
        o.join(fo, "o_custkey")
        .filter(F.col("o_orderdate") == F.col("first_dt"))
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("first_key"))
    )
    mi = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    ).cast("long")
    cls = (
        o.join(first_key, "o_custkey")
        .select(
            mi.alias("m"),
            (F.col("o_orderkey") == F.col("first_key")).alias("is_first"),
            F.col("o_totalprice").cast(DEC).alias("rev"),
        )
    )
    return cls.groupBy(
        F.expr("div(m, 12)").alias("year"), F.expr("m % 12").alias("month0")
    ).agg(
        F.sum(F.col("is_first").cast("long")).alias("n_first_orders"),
        F.sum((~F.col("is_first")).cast("long")).alias("n_repeat_orders"),
        (
            (F.sum(F.when(F.col("is_first"), F.col("rev"))) * 100)
            .cast("long")
            .cast("double")
            / 100
        ).alias("new_revenue"),
        (
            (
                F.coalesce(
                    F.sum(F.when(~F.col("is_first"), F.col("rev"))),
                    F.lit(0).cast(DEC),
                )
                * 100
            )
            .cast("long")
            .cast("double")
            / 100
        ).alias("repeat_revenue"),
    )
