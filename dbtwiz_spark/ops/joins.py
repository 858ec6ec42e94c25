"""§2.3 Joins.

Scale notes (the part that matters at 100 TB):

- equi-joins are declared, Catalyst+AQE choose broadcast vs shuffled-hash vs
  sort-merge; `join-broadcast` pins the small-dim case explicitly.
- the anti/semi joins mirror the reference's orphan detection
  (dbtwiz/admin/cleanup.py:89-101) — catalog vs manifest reconciliation.
- `join-asof` is implemented with the union+window trick (no native asof in
  Spark SQL): one shuffle on (key), no range explosion — the 100 TB-safe
  formulation. DuckDB's native ASOF JOIN is the oracle.
- `join-range` buckets the probe side to the bucket granularity of the range
  table so the join is equi on the bucket key plus a residual predicate —
  avoids the O(n·m) broadcast-nested-loop that a bare interval predicate
  would produce.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbtwiz_spark.ops.common import views, dsum, dsum_sql
from dbtwiz_spark.ops.registry import register


@register(
    "join-inner-equi",
    oracle=f"""
    SELECT n_name, COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_inner_equi(spark, sf_dir):
    """Equi inner join chain (generated join, dbtwiz/admin/cleanup.py:66-68)."""
    cat = views(spark, sf_dir)
    o, c, n = cat.table("orders"), cat.table("customer"), cat.table("nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "total_price"))
    )


@register(
    "join-left-outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark, sf_dir):
    """Left outer join (dbtwiz/admin/cleanup.py:67-68 TABLES ⟕ TABLE_OPTIONS)."""
    cat = views(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join-right-outer",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def join_right_outer(spark, sf_dir):
    """Right outer join — all customers kept, orders optional ([SURF]
    BigQuery SQL surface via dbtwiz/dbt/run.py:38; mirror of
    join-left-outer, dbtwiz/admin/cleanup.py:67-68)."""
    cat = views(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join-full-outer",
    oracle="""
    WITH cust_nations AS (SELECT DISTINCT c_nationkey AS k FROM customer),
         supp_nations AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
    SELECT COALESCE(c.k, s.k) AS nationkey,
           (c.k IS NOT NULL) AS has_customers,
           (s.k IS NOT NULL) AS has_suppliers
    FROM cust_nations c FULL OUTER JOIN supp_nations s ON c.k = s.k
    """,
)
def join_full_outer(spark, sf_dir):
    """Full outer join: nations with customers and/or suppliers."""
    cat = views(spark, sf_dir)
    c = cat.table("customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = cat.table("supplier").select(F.col("s_nationkey").alias("k")).distinct()
    return c.alias("c").join(s.alias("s"), F.col("c.k") == F.col("s.k"), "full").select(
        F.coalesce(F.col("c.k"), F.col("s.k")).alias("nationkey"),
        F.col("c.k").isNotNull().alias("has_customers"),
        F.col("s.k").isNotNull().alias("has_suppliers"),
    )


@register(
    "join-cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    """,
)
def join_cross(spark, sf_dir):
    """Cartesian product (small-side only; guarded at scale)."""
    r = views(spark, sf_dir).table("region")
    r1, r2 = r.alias("r1"), r.alias("r2")
    return (
        r1.crossJoin(r2)
        .filter(F.col("r1.r_regionkey") != F.col("r2.r_regionkey"))
        .select(
            F.col("r1.r_name").alias("from_region"),
            F.col("r2.r_name").alias("to_region"),
        )
    )


@register(
    "join-broadcast",
    oracle=f"""
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           {dsum_sql('c_acctbal')} AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_broadcast(spark, sf_dir):
    """Explicitly broadcast small dims (region/nation) — the 100 TB pattern:
    fact table never shuffles for dim joins."""
    cat = views(spark, sf_dir)
    c, n, r = cat.table("customer"), cat.table("nation"), cat.table("region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal", "total_acctbal"))
    )


@register(
    "join-semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def join_semi(spark, sf_dir):
    """Left-semi join: EXISTS / IN-subquery (complement of the orphan
    anti-join, dbtwiz/admin/cleanup.py:96-101)."""
    cat = views(spark, sf_dir)
    c = cat.table("customer")
    o = cat.table("orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join-anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def join_anti(spark, sf_dir):
    """Left-anti join — the orphan-detection core
    (dbtwiz/admin/cleanup.py:89-101: in catalog, not in manifest)."""
    cat = views(spark, sf_dir)
    c, o = cat.table("customer"), cat.table("orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join-theta",
    oracle="""
    SELECT s.s_suppkey, COUNT(*) AS n_richer_customers
    FROM supplier s JOIN customer c
      ON c.c_nationkey = s.s_nationkey AND c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey
    """,
)
def join_theta(spark, sf_dir):
    """Non-equi (theta) predicate join; the equi part keys the shuffle so the
    inequality is a residual filter, not a nested loop."""
    cat = views(spark, sf_dir)
    s, c = cat.table("supplier").alias("s"), cat.table("customer").alias("c")
    return (
        s.join(
            c,
            (F.col("c.c_nationkey") == F.col("s.s_nationkey"))
            & (F.col("c.c_acctbal") > F.col("s.s_acctbal")),
        )
        .groupBy("s.s_suppkey")
        .agg(F.count("*").alias("n_richer_customers"))
    )


@register(
    "join-range",
    oracle=f"""
    WITH buckets AS (
        SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-29',
                                      INTERVAL 7 DAY)) AS range_start
    ), ranges AS (
        SELECT range_start, range_start + INTERVAL 7 DAY AS range_end
        FROM buckets
    )
    SELECT range_start, COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM events JOIN ranges ON ts >= range_start AND ts < range_end
    GROUP BY range_start
    """,
)
def join_range(spark, sf_dir):
    """Interval/range join — the reference's date-range-batch idiom
    (dbtwiz/admin/backfill.py:104-114 chunk_date_range).

    Implemented scale-safely: the probe side is bucketed to the range grid
    (7-day floor), so the join is an equi-join on the bucket key; the range
    residual follows. No broadcast-nested-loop.
    """
    ev = views(spark, sf_dir).table("events")
    ranges = spark.sql(
        "SELECT range_start, range_start + INTERVAL 7 DAY AS range_end FROM ("
        "  SELECT explode(sequence(TIMESTAMP '2024-01-01', "
        "                          TIMESTAMP '2024-01-29', INTERVAL 7 DAY)) AS range_start)"
    )
    origin = F.lit("2024-01-01").cast("timestamp")
    week = F.floor(
        (F.col("ts").cast("long") - origin.cast("long")) / (7 * 86400)
    )
    bucketed = ev.withColumn(
        "range_start", F.timestamp_seconds(origin.cast("long") + week * 7 * 86400)
    )
    return (
        bucketed.join(ranges, "range_start")
        .filter((F.col("ts") >= F.col("range_start")) & (F.col("ts") < F.col("range_end")))
        .groupBy("range_start")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
    )


@register(
    "join-asof",
    oracle="""
    WITH cust_events AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'
    ), cust_orders AS (
        SELECT o_custkey, o_orderdate, o_orderkey FROM orders WHERE o_custkey < 15
    )
    SELECT e.event_id, e.user_id,
           o.o_orderkey AS prev_orderkey
    FROM cust_events e
    ASOF LEFT JOIN (
        SELECT o_custkey, o_orderkey,
               TIMESTAMP '2024-01-01' + (o_orderkey % 2592000) * INTERVAL 1 SECOND AS ots
        FROM cust_orders
    ) o ON e.user_id = o.o_custkey AND e.ts >= o.ots
    """,
)
def join_asof(spark, sf_dir):
    """As-of join: for each purchase event, the latest "order" of that user
    at-or-before the event (SCD2 lookup semantics, dbtwiz/model/create.py:419-428).

    No native asof join in Spark SQL — union the two sides tagged, then
    `last(value, ignoreNulls) OVER (PARTITION BY key ORDER BY ts, tag)`:
    one shuffle on the key, linear scan per key, safe at 100 TB. DuckDB's
    native ASOF JOIN is the oracle. Ties (equal ts) resolve to the order row
    ordering first (tag 0 sorts before probe tag 1), matching ASOF `>=`.

    Orders lack an intra-2024 timestamp, so a deterministic synthetic event
    time is derived from o_orderkey on both sides.
    """
    cat = views(spark, sf_dir)
    ev = (
        cat.table("events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id")
    )
    orders = (
        cat.table("orders")
        .filter(F.col("o_custkey") < 15)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderkey"),
            (
                F.lit("2024-01-01").cast("timestamp").cast("long")
                + F.col("o_orderkey") % 2592000
            ).alias("otsl"),
        )
        .withColumn("ots", F.timestamp_seconds(F.col("otsl")))
    )
    left = ev.select(
        "user_id",
        F.col("ts"),
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    right = orders.select(
        "user_id",
        F.col("ots").alias("ts"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        left.unionByName(right)
        .withColumn("prev_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select("event_id", "user_id", "prev_orderkey")
    )


@register(
    "join-self-dag",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS child,
               'r' || CAST(n_regionkey AS VARCHAR) AS parent
        FROM nation
        UNION ALL
        SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR) AS child,
               'n' || CAST(s_nationkey AS VARCHAR) AS parent
        FROM supplier
    )
    , closure AS (
        SELECT child, parent AS ancestor FROM edges
        UNION
        SELECT c.child, e.parent AS ancestor
        FROM closure c JOIN edges e ON c.ancestor = e.child
    )
    SELECT child, ancestor FROM closure
    """,
)
def join_self_dag(spark, sf_dir):
    """Transitive DAG closure by iterated self-join to fixpoint
    (dbtwiz/dbt/manifest.py:340-370 recursive parent/child traversal).

    supplier→nation→region forms a 2-level DAG over a shared node namespace;
    the loop joins the frontier onto the edge list until no new pairs appear
    (BFS over edges — each iteration is one shuffle join; depth = DAG height,
    not data size).
    """
    cat = views(spark, sf_dir)
    n = cat.table("nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("child"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent"),
    )
    s = cat.table("supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("child"),
        F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("parent"),
    ).distinct()
    # the edge list is the DAG's metadata (manifest-scale, not data-scale):
    # broadcast it so every BFS iteration is a map-side hash join instead of
    # re-shuffling the growing frontier
    edges = n.unionByName(s)
    closure = edges.select("child", F.col("parent").alias("ancestor"))
    frontier = closure
    for _ in range(10):  # DAG height bound; loop exits early at fixpoint
        nxt = (
            frontier.alias("c")
            .join(F.broadcast(edges.alias("e")), F.col("c.ancestor") == F.col("e.child"))
            .select(F.col("c.child").alias("child"), F.col("e.parent").alias("ancestor"))
            .distinct()
            .exceptAll(closure)
        )
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt).distinct()
        frontier = nxt
    return closure


@register(
    "join-null-safe",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, NULLIF(o_custkey % 7, 0) AS k FROM orders),
    c AS (
        SELECT NULLIF(c_custkey % 7, 0) AS k, COUNT(*) AS n_cust
        FROM customer GROUP BY 1)
    SELECT o.k AS k, COUNT(*) AS n_orders, MIN(n_cust) AS n_cust
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    GROUP BY 1
    """,
)
def join_null_safe(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics a late-arriving
    dimension with placeholder NULL keys needs (an inner equi-join would
    silently drop every unkeyed row). Keys are synthesized with NULLIF so
    the NULL bucket is exercised on both sides.

    Plan shape is identical to a plain equi-join (hash on the key with
    NULLs hashing to one bucket) — but that is also the scale caveat: the
    NULL bucket is a deliberate skew key, so at 100 TB a large NULL
    population wants the salted-join path (ops/skew.py) or a pre-split."""
    cat = views(spark, sf_dir)
    o = cat.table("orders").select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("k")
    )
    c = (
        cat.table("customer")
        .select(F.nullif(F.col("c_custkey") % 7, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_cust"))
    )
    return (
        o.join(c, o.k.eqNullSafe(c.k))
        .groupBy(o.k.alias("k"))
        .agg(F.count("*").alias("n_orders"), F.min("n_cust").alias("n_cust"))
    )


@register(
    "filter-exists-correlated",
    oracle="""
    SELECT s_suppkey, s_nationkey FROM supplier s
    WHERE EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal > 9000)
      AND NOT EXISTS (
        SELECT 1 FROM customer c2
        WHERE c2.c_nationkey = s.s_nationkey AND c2.c_acctbal < -900)
    """,
)
def filter_exists_correlated(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS subqueries through the SQL surface
    (suppliers in nations that have a high-balance customer and no
    deep-negative one). Catalyst rewrites both into left-semi and
    left-anti joins on the correlation key — the same shuffle shape as
    the explicit join-semi/join-anti entries, which is precisely the
    point: the subquery SURFACE must not cost more than the join it
    means."""
    cat = views(spark, sf_dir)
    cat.register_views(("supplier", "customer"))
    return cat.spark.sql(
        """
        SELECT s_suppkey, s_nationkey FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM customer c
            WHERE c.c_nationkey = s.s_nationkey AND c.c_acctbal > 9000)
          AND NOT EXISTS (
            SELECT 1 FROM customer c2
            WHERE c2.c_nationkey = s.s_nationkey AND c2.c_acctbal < -900)
        """
    )


@register(
    "join-bucketed",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def join_bucketed(spark, sf_dir):
    """Shuffle-free co-located join via bucketing — the physical strategy
    for REPEATED large-fact joins at 100 TB (SURVEY §4): both sides are
    written bucketed+sorted on the join key once (``bucketBy + sortBy``
    into the session catalog), after which every join on that key is a
    SortMergeJoin with ZERO exchanges below it — the per-query shuffle
    cost moves into the one-time layout. The layout build is a catalog
    artifact (once per session, scale and input generation), exactly how
    a warehouse would own a bucketed table pair; results are identical
    to the plain equi-join, which is what the oracle checks (the
    zero-shuffle plan property is pinned in
    tests/test_plans.py::test_bucketed_join_has_no_shuffle).

    Scale note: bucket count is fixed at write time (8 here; sized to
    data volume in production) and both sides MUST agree on it — a
    mismatch silently falls back to a shuffled join."""
    cat = views(spark, sf_dir)
    # lowercased: Spark stores managed database directories lowercased,
    # and the stale-dir cleanup below must hit the ACTUAL path
    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir).lower()
    db = f"bkt_{tag}"

    def _build_layout():
        import shutil
        from pathlib import Path
        from urllib.parse import urlparse

        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        wh_dir = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
        for name, df, col in (
            ("orders_b", cat.table("orders").select("o_orderkey", "o_custkey"), "o_custkey"),
            ("customer_b", cat.table("customer").select("c_custkey", "c_mktsegment"), "c_custkey"),
        ):
            # a NEW session's in-memory catalog does not know about the
            # previous session's managed-table directory, and saveAsTable
            # refuses to create over an existing location — drop both the
            # catalog entry and any stale directory before rebuilding
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
            shutil.rmtree(wh_dir / f"{db}.db" / name, ignore_errors=True)
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(8, col)
                .sortBy(col)
                .saveAsTable(f"{db}.{name}")
            )
        return db

    cat.artifact("join-bucketed:layout", _build_layout)
    o = spark.table(f"{db}.orders_b")
    c = spark.table(f"{db}.customer_b")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "join-interval-overlap",
    oracle="""
    WITH L AS (
        SELECT event_id AS lid, ts AS lstart,
               ts + INTERVAL 2 HOUR AS lend
        FROM events WHERE event_type = 'purchase' AND user_id % 50 = 0),
    R AS (
        SELECT event_id AS rid, user_id, ts AS rstart,
               ts + INTERVAL 30 MINUTE AS rend
        FROM events WHERE event_type = 'click')
    SELECT lid, COUNT(DISTINCT rid) AS n_overlap,
           COUNT(DISTINCT user_id) AS n_users
    FROM L JOIN R ON L.lstart <= R.rend AND R.rstart <= L.lend
    GROUP BY lid
    """,
)
def join_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join with NO equi key — the audit-window
    shape (which click sessions overlap each flagged purchase window;
    reference idiom: the backfill date-chunk ranges of
    dbtwiz/admin/backfill.py:104-114 intersected against partition
    validity intervals).

    A bare mutual-overlap predicate (``l.start <= r.end AND r.start <=
    l.end``) compiles to a broadcast-nested-loop — O(|L|·|R|), a
    scale-killer. Instead both interval sets are expanded onto a fixed
    2-hour bucket grid (each interval covers ≤ ceil(len/2 h)+1 buckets, so
    the blow-up is a small constant); two genuinely overlapping intervals
    always share at least one covered bucket, so an equi-join on the
    bucket key is a superset of the answer and the exact predicate filters
    the residual. count(DISTINCT) de-duplicates pairs that met in two
    buckets. One shuffle on the bucket key; skew is bounded by bucket
    width, which is the tuning knob at 100 TB.
    """
    ev = views(spark, sf_dir).table("events")
    bucket_w = 7200  # seconds; = max interval length on either side

    def expand(df, start, end):
        lo = F.floor(F.col(start).cast("long") / bucket_w)
        hi = F.floor(F.col(end).cast("long") / bucket_w)
        return df.withColumn("bucket", F.explode(F.sequence(lo, hi)))

    left = expand(
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 0))
        .select(
            F.col("event_id").alias("lid"),
            F.col("ts").alias("lstart"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("lend"),
        ),
        "lstart", "lend",
    )
    right = expand(
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("rid"),
            F.col("user_id"),
            F.col("ts").alias("rstart"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("rend"),
        ),
        "rstart", "rend",
    )
    return (
        left.join(right, "bucket")
        .filter((F.col("lstart") <= F.col("rend")) & (F.col("rstart") <= F.col("lend")))
        .groupBy("lid")
        .agg(
            F.countDistinct("rid").alias("n_overlap"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "join-asof-nearest",
    oracle="""
    WITH e AS (
        SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'
    ), o AS (
        SELECT o_custkey AS user_id, o_orderkey,
               TIMESTAMP '2024-01-01'
                 + (o_orderkey % 2592000) * INTERVAL 1 SECOND AS ots
        FROM orders WHERE o_custkey < 15
    ), c AS (
        SELECT e.event_id, o.o_orderkey,
               abs(epoch(e.ts) - epoch(o.ots)) AS dist,
               (o.ots > e.ts) AS is_fwd
        FROM e JOIN o USING (user_id)
    ), r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                     ORDER BY dist, is_fwd, o_orderkey) AS rn
        FROM c)
    SELECT e.event_id, e.user_id,
           r.o_orderkey AS nearest_orderkey, r.dist AS dist_s
    FROM e LEFT JOIN (SELECT event_id, o_orderkey, dist FROM r WHERE rn = 1) r
      USING (event_id)
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-direction as-of join (pandas ``merge_asof(direction=
    'nearest')``): each purchase event pairs with the user's closest
    "order" in time, whichever side it falls on — backward preferred on
    exact distance ties, then smallest key. The lookup shape sensor/event
    enrichment needs when the reference stream is sampled, not
    cumulative.

    Same scale story as join-asof — NO per-user event×order join: the two
    sides are union-tagged and two lag-structured window passes (one
    ascending for the latest at-or-before candidate, one descending for
    the earliest after candidate) each carry a (time, key) struct via
    ``last(ignoreNulls)``; the direction pick is then a per-row CASE.
    One shuffle on the key, two linear scans per key, safe at 100 TB.
    Window tie-order places order rows before event rows at equal time
    (so distance-0 matches are visible to both directions) and scans
    keys descending so the surviving ``last`` is the SMALLEST key —
    matching the oracle's deterministic (dist, direction, key) argmin.

    Epochs compare as exact doubles (integer seconds ≤ 2⁵³), never
    ``unix_timestamp`` (truncates sub-second — testing.py gotcha)."""
    cat = views(spark, sf_dir)
    ev = (
        cat.table("events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "user_id")
    )
    orders = (
        cat.table("orders")
        .filter(F.col("o_custkey") < 15)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderkey",
            F.timestamp_seconds(
                F.lit("2024-01-01").cast("timestamp").cast("long")
                + F.col("o_orderkey") % 2592000
            ).alias("ots"),
        )
    )
    cand = F.struct(F.col("otsd").alias("otsd"), F.col("o_orderkey").alias("k"))
    left = ev.select(
        "user_id",
        F.col("ts").cast("double").alias("tsd"),
        F.lit(1).alias("tag"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("otsd"),
    )
    right = orders.select(
        "user_id",
        F.col("ots").cast("double").alias("tsd"),
        F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        F.col("ots").cast("double").alias("otsd"),
    )
    u = left.unionByName(right).withColumn(
        "cand", F.when(F.col("tag") == 0, cand)
    )
    # ascending pass: latest order at-or-before (same-ts orders sort before
    # events via tag; o_orderkey DESC so `last` keeps the smallest key)
    w_bwd = (
        Window.partitionBy("user_id")
        .orderBy("tsd", "tag", F.col("o_orderkey").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # descending pass: earliest order strictly after (equal-ts orders
    # already belong to the backward side, so exclude them here via tag
    # ordering: events(1) sort before orders(0) at equal tsd)
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(F.col("tsd").desc(), F.col("tag").desc(), F.col("o_orderkey").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    paired = (
        u.withColumn("bwd", F.last("cand", ignorenulls=True).over(w_bwd))
        .withColumn("fwd", F.last("cand", ignorenulls=True).over(w_fwd))
        .filter(F.col("tag") == 1)
    )
    bdist = F.col("tsd") - F.col("bwd.otsd")
    fdist = F.col("fwd.otsd") - F.col("tsd")
    pick_bwd = F.col("fwd").isNull() | (
        F.col("bwd").isNotNull() & (bdist <= fdist)
    )
    return paired.select(
        "event_id",
        "user_id",
        F.when(pick_bwd, F.col("bwd.k")).otherwise(F.col("fwd.k")).alias(
            "nearest_orderkey"
        ),
        F.when(pick_bwd, bdist).otherwise(fdist).alias("dist_s"),
    )


@register(
    "join-spatial-radius",
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               CAST((c_custkey * 7919) % 10000 AS DOUBLE) / 10.0 AS x,
               CAST((c_custkey * 104729) % 10000 AS DOUBLE) / 10.0 AS y
        FROM customer),
    ctr AS (
        SELECT s_suppkey,
               CAST((s_suppkey * 4231) % 10000 AS DOUBLE) / 10.0 AS cx,
               CAST((s_suppkey * 9973) % 10000 AS DOUBLE) / 10.0 AS cy
        FROM supplier WHERE s_suppkey <= 20)
    SELECT p.c_custkey, c.s_suppkey,
           (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy) AS dist2
    FROM pts p, ctr c
    WHERE (p.x - c.cx) * (p.x - c.cx) + (p.y - c.cy) * (p.y - c.cy)
          <= 3600.0
    """,
)
def join_spatial_radius(spark, sf_dir):
    """Radius join: every customer point within distance 60 of any of 20
    hub centers, on a synthetic 1000x1000 plane derived from the keys by
    exact integer arithmetic (same derivation both engines; squared
    Euclidean distance on those doubles is IEEE-exact, so the boundary
    predicate cannot flip cross-engine -- a haversine variant has the
    same plan shape but transcendental ulp risk on the boundary).

    Scale: the oracle's theta cross-join is O(points x centers); the
    engine instead grid-buckets points into radius-sized cells and
    explodes each center to its 3x3 neighbor cells -- candidate
    generation becomes a broadcast EQUI-join on the cell key (any point
    within R of a center lies in one of the 9 cells), then the exact
    distance filter prunes corner candidates. Per point: one cell-key
    hash probe and <= a few center comparisons, independent of corpus
    size; the center side stays a handful of rows per cell even when
    centers number in the millions (hash-partition the cell key then)."""
    cat = views(spark, sf_dir)
    r = F.lit(60.0)
    pts = cat.table("customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 7919) % 10000).cast("double") / 10.0).alias("x"),
        (((F.col("c_custkey") * 104729) % 10000).cast("double") / 10.0).alias("y"),
    ).withColumn("cell_x", F.floor(F.col("x") / r)).withColumn(
        "cell_y", F.floor(F.col("y") / r)
    )
    ctr = (
        cat.table("supplier")
        .filter(F.col("s_suppkey") <= 20)
        .select(
            "s_suppkey",
            (((F.col("s_suppkey") * 4231) % 10000).cast("double") / 10.0).alias("cx"),
            (((F.col("s_suppkey") * 9973) % 10000).cast("double") / 10.0).alias("cy"),
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("cell_x", F.floor(F.col("cx") / r) + F.col("dx"))
        .withColumn("cell_y", F.floor(F.col("cy") / r) + F.col("dy"))
    )
    dist2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")) + (
        F.col("y") - F.col("cy")
    ) * (F.col("y") - F.col("cy"))
    return (
        pts.join(F.broadcast(ctr), ["cell_x", "cell_y"])
        .filter(dist2 <= 3600.0)
        .select("c_custkey", "s_suppkey", dist2.alias("dist2"))
    )


@register(
    "join-fuzzy-string",
    oracle="""
    WITH names AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS noun,
               COUNT(*) AS n_parts
        FROM part GROUP BY 1, 2)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist,
           a.n_parts * b.n_parts AS pair_card
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy_string(spark, sf_dir):
    """Blocked fuzzy self-join: near-identical part names (edit distance
    <= 2) found WITHOUT an all-pairs comparison -- the entity-resolution
    primitive (catalog dedup, vendor-name reconciliation). Levenshtein is
    exact integer DP, identical in both engines.

    Scale: two devices. (1) Compare the NAME VOCABULARY, not the corpus:
    names are first aggregated (count per distinct name), so the
    quadratic step runs on vocabulary cardinality -- corpus growth only
    grows the cheap pre-aggregation. (2) Block on the head noun: the
    O(v^2) candidate space becomes per-block O(b^2) equi-join fan-out;
    real deployments block on soundex/prefix/length-band the same way.
    The edit-distance filter then verifies candidates exactly."""
    names = (
        views(spark, sf_dir)
        .table("part")
        .groupBy(
            F.col("p_name"),
            # coalesce to '' so a single-word name matches DuckDB
            # split_part semantics (empty block) instead of NULL, which
            # would silently drop the row from the equi-join
            F.coalesce(
                F.split(F.col("p_name"), " ").getItem(1), F.lit("")
            ).alias("noun"),
        )
        .agg(F.count("*").alias("n_parts"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("noun"),
        F.col("n_parts").alias("na"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("noun"),
        F.col("n_parts").alias("nb"),
    )
    return (
        a.join(b, "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 2)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
            (F.col("na") * F.col("nb")).alias("pair_card"),
        )
    )


@register(
    "join-interval-coalesce",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + 300000000 AS e
        FROM events),
    fl AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY user_id
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                    OR s > MAX(e) OVER (PARTITION BY user_id
                        ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS new_island
        FROM iv),
    isl AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id
                   ORDER BY s, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM fl),
    m AS (
        SELECT user_id, island, MIN(s) AS st, MAX(e) AS en
        FROM isl GROUP BY 1, 2)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(en - st) AS BIGINT) AS covered_us
    FROM m GROUP BY user_id
    """,
)
def join_interval_coalesce(spark, sf_dir):
    """Interval union (coalesce overlapping ranges): each event opens a
    5-minute activity interval; overlapping/abutting intervals per user
    merge, and the output is each user's merged-interval count and total
    covered time -- the interval-algebra primitive behind uptime
    accounting, ad-exposure dedup, and on-call coverage (distinct from
    gaps-islands, which runs on DISCRETE days; this coalesces
    continuous, overlapping ranges). Classic two-window form: a range is
    a NEW island iff its start exceeds the running MAX of all preceding
    ends; island id = running sum of the flags. All arithmetic is exact
    BIGINT microseconds (unix_micros here, epoch_us in the oracle --
    Spark's unix_timestamp would truncate sub-second precision).

    Scale: two windows on the SAME (user_id, time-ordered) partitioning
    -- one exchange, one sort -- plus two partial-aggregated groupBys.
    The island trick never self-joins intervals (the naive overlap join
    is quadratic per user)."""
    e = views(spark, sf_dir).table("events")
    iv = e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + 300_000_000).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fl = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    # the island cumsum must follow the SAME unique total order as the
    # flag window: ordering by (s, e) alone ties on duplicate timestamps,
    # and engines numbering tied rows differently would split islands
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = fl.select(
        "user_id", "s", "e", F.sum("new_island").over(w_cum).alias("island")
    )
    m = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en")
    )
    return m.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum(F.col("en") - F.col("st")).cast("bigint").alias("covered_us"),
    )


@register(
    "join-star-schema",
    oracle="""
    SELECT r.r_name, p.p_type,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6))
                         * CAST((100 - CAST(ROUND(l.l_discount * 100)
                                            AS BIGINT))
                                AS DECIMAL(28,6)))
                     * 10000 AS BIGINT) AS DOUBLE) / 1000000 AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2, 3
    """,
)
def join_star_schema(spark, sf_dir):
    """The full star-schema rollup: the fact stream joined through FIVE
    dimensions (orders -> customer -> nation -> region, plus part) into
    a (region, part type, year) revenue cube -- the canonical warehouse
    mart query shape the reference's dbt models compile to
    (fct_/dim_ marts, SURVEY §2.3/§2.4). Discounted revenue keeps the
    discount EXACT by converting the <= 2-decimal fraction to an
    integer percentage before the multiply (double l_discount * double
    price would hash-diverge), accumulating in DECIMAL and exiting
    through the scaled-BIGINT device.

    Scale: the plan to insist on at 100 TB -- nation/region (25/5 rows
    forever) are pinned broadcasts; customer and part broadcast at test
    scale and AQE demotes them to shuffle joins when they outgrow the
    threshold, so at any scale the fact stream moves through the
    minimum of shuffles; orders-lineitem co-partition on the order
    key. The
    group-by cube is (regions x types x years) -- bounded output."""
    cat = views(spark, sf_dir)
    li, o, c = cat.table("lineitem"), cat.table("orders"), cat.table("customer")
    n, r, p = cat.table("nation"), cat.table("region"), cat.table("part")
    # ROUND before the integer cast on BOTH sides: Spark's double->long
    # cast truncates while DuckDB's rounds to nearest, so a discount
    # whose x100 repr lands just BELOW its integer (0.29*100 =
    # 28.999999999999996) would silently diverge under a bare cast
    disc_pct = (100 - F.round(F.col("l_discount") * 100).cast("long")).cast(
        "decimal(28,6)"
    )
    rev = F.col("l_extendedprice").cast("decimal(28,6)") * disc_pct
    joined = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        # no broadcast hint on part: it scales with SF (bigger than
        # customer at every scale) — AQE broadcasts it while small and
        # demotes it to a shuffle join when it outgrows the threshold;
        # only the forever-tiny nation/region dims are pinned
        .join(p, p.p_partkey == li.l_partkey)
    )
    return joined.groupBy(
        "r_name", "p_type", F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.count("*").alias("n_lines"),
        ((F.sum(rev) * 10000).cast("long").cast("double") / 1000000).alias(
            "revenue"
        ),
    )
