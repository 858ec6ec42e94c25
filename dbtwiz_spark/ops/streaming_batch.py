"""§2.9 Streaming semantics — batch-checkable forms over `events`.

The reference handles time-ordered reprocessing as date-batch backfill
(dbtwiz/admin/backfill.py:104-114; serial mode dbtwiz/admin/__init__.py:133-144;
retry of failed ranges dbtwiz/admin/backfill.py:475-529). The engine exposes
both that batch plane (dbtwiz_spark.backfill) and true Structured Streaming
(dbtwiz_spark.streaming); these corpus entries are the batch forms the
DuckDB oracle can verify — the streaming runtime reuses the same
transformations over readStream (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbtwiz_spark.ops.common import views, davg, davg_sql, dsum, dsum_sql
from dbtwiz_spark.ops.registry import register


@register(
    "stream-tumbling-window",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day, event_type,
           COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1-day window = the per-day batch unit
    (data_interval vars, dbtwiz/commands/build.py:100)."""
    ev = views(spark, sf_dir).table("events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "stream-sliding-window",
    oracle=f"""
    WITH slid AS (
        SELECT e.*,
               date_trunc('hour', ts)
                 + (CAST(floor(EXTRACT(minute FROM ts) / 15) AS INTEGER) * INTERVAL 15 MINUTE)
                 - (o.k * INTERVAL 15 MINUTE) AS win_start
        FROM events e, UNNEST([0, 1, 2, 3]) AS o(k)
    )
    SELECT win_start, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM slid
    WHERE ts >= win_start AND ts < win_start + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def stream_sliding_window(spark, sf_dir):
    """Sliding 1-hour window, 15-minute slide (rolling windows,
    dbtwiz/admin/backfill.py:585). Each event lands in 4 overlapping windows;
    the oracle reproduces Spark's window assignment arithmetic."""
    ev = views(spark, sf_dir).table("events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("win_start"), "n_events", "total_value")
    )


@register(
    "stream-session-window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, sf_dir):
    """Session windows (30-minute gap) per user. Spark's session_window
    merges events whose gap < 30 min; the oracle is the equivalent
    gaps-and-islands SQL. Output keys on session_start (deterministic);
    session_end = last event + gap is Spark-definitional, so omitted."""
    ev = views(spark, sf_dir).table("events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "stream-watermark-late",
    oracle=f"""
    WITH maxts AS (SELECT MAX(ts) AS m FROM events)
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM events, maxts
    WHERE ts >= m - INTERVAL 1 DAY
    GROUP BY 1
    """,
)
def stream_watermark_late(spark, sf_dir):
    """Watermark semantics, batch form: aggregate only events within the
    1-day watermark of max event time — the batch analog of late-data
    retry over failed ranges (dbtwiz/admin/backfill.py:497-516). The true
    streaming form (withWatermark + update mode) is in
    dbtwiz_spark.streaming and tested via the rate source."""
    ev = views(spark, sf_dir).table("events")
    max_ts = ev.agg(F.max("ts").alias("m"))
    return (
        ev.join(F.broadcast(max_ts))
        .filter(F.col("ts") >= F.col("m") - F.expr("INTERVAL 1 DAY"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
    )


@register(
    "stream-stateful-dedup",
    oracle="""
    SELECT event_id, MIN(user_id) AS user_id, MIN(event_type) AS event_type
    FROM (SELECT * FROM events UNION ALL
          SELECT * FROM events WHERE event_id % 10 = 0)
    GROUP BY event_id
    """,
)
def stream_stateful_dedup(spark, sf_dir):
    """Exactly-once per key across duplicated input — batch form of
    dropDuplicatesWithinWatermark (insert_overwrite idempotency,
    dbtwiz/model/create.py:457). Input is events with 10% of rows
    re-appended to simulate redelivery."""
    ev = views(spark, sf_dir).table("events")
    dup = ev.unionByName(ev.filter(F.col("event_id") % 10 == 0))
    return dup.dropDuplicates(["event_id"]).select("event_id", "user_id", "event_type")


@register(
    "stream-foreachbatch-sink",
    oracle=f"""
    SELECT date_trunc('day', ts) AS partitiondate,
           COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM events
    WHERE date_trunc('day', ts) BETWEEN TIMESTAMP '2024-01-10' AND TIMESTAMP '2024-01-12'
    GROUP BY 1
    """,
)
def stream_foreachbatch_sink(spark, sf_dir):
    """Per-micro-batch partition overwrite, batch form: the daily aggregate
    that foreachBatch writes with dynamic partition overwrite
    (incremental insert_overwrite, dbtwiz/model/create.py:456-460). The
    write-path itself is materialize.insert_overwrite +
    streaming.foreach_batch_overwrite (tested separately)."""
    ev = views(spark, sf_dir).table("events")
    return (
        ev.withColumn("partitiondate", F.date_trunc("day", "ts"))
        .filter(
            F.col("partitiondate").between(
                F.lit("2024-01-10").cast("timestamp"),
                F.lit("2024-01-12").cast("timestamp"),
            )
        )
        .groupBy("partitiondate")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
    )


@register(
    "stream-dedup-near-cert",
    oracle="""
    SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, true AS agree_ok
    FROM documents
    """,
)
def stream_dedup_near_cert(spark, sf_dir):
    """Driver-checkable certificate for the rows-only stream-dedup-near
    entry (same device as ext-dedup-near-recall: the oracle cannot
    reproduce seeded xxhash64 band signatures, but it CAN count the
    corpus and demand full batch/stream agreement hold).

    Replays the corpus through the real streaming sink
    (streaming/jobs.py foreach_batch_near_dedup — persisted signature
    store, per-batch probe, merge upsert of flags) as three doc_id-ordered
    waves, then requires the sink's is_dup flags to equal the batch
    entry's on EVERY document: agree_ok = (n_agree == n_docs), with
    n_docs recomputed from scratch by DuckDB so the row also hash-pins
    corpus cardinality. Arrival order must be doc_id order for the two
    keep-first rules to coincide (sink: min (batch_id, doc_id); batch:
    min doc_id), so waves split on doc_id terciles — two driver-side
    threshold scalars via approxQuantile, never data. Cost: the batch
    side reuses the memoized signature artifact; the sink side is three
    micro-batch writes into a scratch warehouse."""
    from dbtwiz_spark.materialize import Warehouse
    from dbtwiz_spark.ops.common import scratch_dir
    from dbtwiz_spark.streaming.jobs import foreach_batch_near_dedup

    d = views(spark, sf_dir).table("documents")
    t1, t2 = d.approxQuantile("doc_id", [1 / 3, 2 / 3], 0.001)
    wh = Warehouse(spark, scratch_dir("streamcert_"))
    sink = foreach_batch_near_dedup(wh, "sigs", "flags")
    sink(d.filter(F.col("doc_id") < t1), 0)
    sink(d.filter((F.col("doc_id") >= t1) & (F.col("doc_id") < t2)), 1)
    sink(d.filter(F.col("doc_id") >= t2), 2)
    streamed = wh.read("flags").select(
        "doc_id", F.col("is_dup").alias("stream_dup")
    )
    batch = stream_dedup_near(spark, sf_dir).select(
        "doc_id", F.col("is_dup").alias("batch_dup")
    )
    agree = batch.join(streamed, "doc_id").filter(
        F.col("batch_dup") == F.col("stream_dup")
    )
    return (
        batch.agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
        .crossJoin(
            F.broadcast(
                agree.agg(F.count_distinct("doc_id").alias("n_agree"))
            )
        )
        .select(
            "n_docs", (F.col("n_docs") == F.col("n_agree")).alias("agree_ok")
        )
    )


@register("stream-dedup-near", oracle=None)
def stream_dedup_near(spark, sf_dir):
    """Batch-parity form of the streaming near-duplicate detector
    (streaming/jobs.py foreach_batch_near_dedup): per document, is_dup =
    some earlier (smaller doc_id) document shares a MinHash band bucket —
    the keep-first rule the streaming sink applies, here with arrival
    rank = doc_id (the sink generalizes to (batch_id, doc_id) when
    arrival order differs). Rows-only: band signatures are seeded
    xxhash64, which no other engine reproduces. The sink-vs-entry
    agreement when arrival order IS doc_id order is pinned by
    tests/test_streaming.py::test_stream_dedup_near_entry_matches_sink.

    Scale shape: signatures + banding are the shared batch-path helpers
    (one shuffle, persisted via the memoized-artifact pattern because two
    consumers — the bucket-minimum aggregate and the probe join — would
    otherwise each recompute the full shingle->minhash pipeline), and the
    collision test is an equi-join of the band stream against its
    per-bucket minimum — never a pair join."""
    from dbtwiz_spark.ops.ext_llm import band_stack, minhash_signatures, shingles

    cat = views(spark, sf_dir)
    d = cat.table("documents")
    sigs = cat.artifact(
        "stream_band_sigs",
        lambda: band_stack(minhash_signatures(shingles(d, 3))).persist(),
    )
    firsts = sigs.groupBy("band", "sig").agg(F.min("doc_id").alias("first_doc"))
    dups = (
        sigs.join(firsts, ["band", "sig"])
        .filter(F.col("doc_id") > F.col("first_doc"))
        .select("doc_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        d.select("doc_id")
        .join(dups, "doc_id", "left")
        .fillna(False, ["is_dup"])
    )


@register(
    "stream-resample-interpolate",
    oracle=f"""
    WITH pts AS (
        SELECT user_id, ts, {davg_sql('value')} AS v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12'
        GROUP BY user_id, ts),
    grid AS (
        SELECT DISTINCT user_id, g.g AS ts
        FROM pts, UNNEST(generate_series(TIMESTAMP '2024-01-10',
                                         TIMESTAMP '2024-01-11 23:00:00',
                                         INTERVAL 1 HOUR)) AS g(g)),
    u AS (
        SELECT user_id, ts, v, 0 AS isg FROM pts
        UNION ALL
        SELECT user_id, ts, NULL, 1 FROM grid),
    m AS (
        SELECT *,
          last_value(v IGNORE NULLS) OVER w_prev AS prev_v,
          last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
            OVER w_prev AS prev_ts,
          first_value(v IGNORE NULLS) OVER w_next AS next_v,
          first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
            OVER w_next AS next_ts
        FROM u
        WINDOW
          w_prev AS (PARTITION BY user_id ORDER BY ts, isg
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_next AS (PARTITION BY user_id ORDER BY ts, isg
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, ts,
           round(CASE
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             WHEN epoch(next_ts) = epoch(prev_ts) THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * (epoch(ts) - epoch(prev_ts))
                  / (epoch(next_ts) - epoch(prev_ts))
           END, 6) AS value_interp
    FROM m WHERE isg = 1
    """,
)
def stream_resample_interpolate(spark, sf_dir):
    """Time-series resampling onto a regular hourly grid with linear
    interpolation — the gap-filling step any metric/telemetry pipeline
    runs before joining series with different sampling (two days of the
    event stream, one interpolated value per user per hour; grid points
    outside a user's observations take the nearest endpoint).

    Scale shape: NO as-of pair join — the series and the grid union into
    one stream and two per-user windows (last non-null before, first
    non-null after) resolve both interpolation endpoints in a single
    partitioned sort, parallel across users; everything else is row-local
    arithmetic. Same-timestamp event ties are pre-collapsed with the
    exact-DECIMAL mean so both engines see identical inputs; the
    interpolation expression is per-row IEEE arithmetic, rounded at 6 dp
    to absorb last-ulp association differences."""
    ev = views(spark, sf_dir).table("events")
    lo, hi = "2024-01-10", "2024-01-12"
    pts = (
        ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("user_id", "ts")
        .agg(davg("value", "v"))
    )
    grid = pts.select("user_id").distinct().select(
        "user_id",
        F.explode(
            F.sequence(
                F.lit(lo).cast("timestamp"),
                F.lit("2024-01-11 23:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("ts"),
    )
    u = pts.withColumn("isg", F.lit(0)).unionByName(
        grid.withColumn("v", F.lit(None).cast("double")).withColumn(
            "isg", F.lit(1)
        )
    )
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "isg")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("ts", "isg")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_ts = F.when(F.col("v").isNotNull(), F.col("ts"))
    m = (
        u.withColumn("prev_v", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("prev_ts", F.last(obs_ts, ignorenulls=True).over(w_prev))
        .withColumn("next_v", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("next_ts", F.first(obs_ts, ignorenulls=True).over(w_next))
    )
    # fractional epoch seconds: unix_timestamp() truncates sub-second
    # precision while DuckDB's epoch() keeps it — cast-to-double matches
    def ep(c):
        return c.cast("double")
    interp = (
        F.when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .when(ep(F.col("next_ts")) == ep(F.col("prev_ts")), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * (ep(F.col("ts")) - ep(F.col("prev_ts")))
            / (ep(F.col("next_ts")) - ep(F.col("prev_ts")))
        )
    )
    return (
        m.filter(F.col("isg") == 1)
        .select("user_id", "ts", F.round(interp, 6).alias("value_interp"))
    )


@register(
    "stream-join-interval",
    oracle=f"""
    WITH v AS (SELECT user_id, ts AS view_ts FROM events
               WHERE event_type = 'view'),
    c AS (SELECT user_id, ts AS click_ts FROM events
          WHERE event_type = 'click')
    SELECT v.user_id, COUNT(*) AS n_attributed,
           round({davg_sql('epoch(click_ts) - epoch(view_ts)')}, 6)
               AS avg_delay_s
    FROM v JOIN c ON v.user_id = c.user_id
        AND click_ts >= view_ts
        AND click_ts <= view_ts + INTERVAL 10 MINUTE
    GROUP BY 1
    """,
)
def stream_join_interval(spark, sf_dir):
    """Event-attribution interval join — the batch form of a watermarked
    stream-stream join (clicks attributed to the views they followed
    within a 10-minute horizon, per user). The true streaming runtime
    runs the identical predicate through readStream with watermarks on
    both sides (tests/test_streaming.py pins stream/batch agreement).

    Scale shape: equi-join on user_id carries the shuffle; the time
    predicate evaluates inside the join — never a cross join. In
    Structured Streaming the same horizon bounds the join STATE (each
    view is droppable once its 10-minute window passes the watermark),
    which is exactly why the horizon must be explicit at 100 TB: an
    unbounded attribution join accumulates state forever. Delays are
    double-precision epoch differences (unix_timestamp would truncate
    sub-second parts the oracle keeps)."""
    ev = views(spark, sf_dir).table("events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    delay = F.col("click_ts").cast("double") - F.col("view_ts").cast("double")
    return joined.groupBy("user_id").agg(
        F.count("*").alias("n_attributed"),
        F.round(davg(delay), 6).alias("avg_delay_s"),
    )


# Online CUSUM parameters (Page's test): reference level mu0=50.0,
# allowance k=0.5, decision threshold h=25.0 — all in exact integer
# micro-units (x100, events.value carries 2 decimals).
_CUSUM_REF_C = 5050   # (mu0 + k) * 100
_CUSUM_H_C = 2500     # h * 100


@register(
    "stream-cusum-online",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v100
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
    cc AS (
        SELECT user_id, event_id,
               SUM(v100 - {_CUSUM_REF_C}) OVER
                   (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM e),
    c AS (
        SELECT user_id, event_id, cum,
               MIN(cum) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS minc
        FROM cc)
    SELECT user_id, event_id,
           CAST(cum - LEAST(minc, 0) AS BIGINT) AS cusum_c,
           cum - LEAST(minc, 0) > {_CUSUM_H_C} AS alarm
    FROM c
    """,
)
def stream_cusum_online(spark, sf_dir):
    """Online CUSUM drift alarm (Page's test), batch form: per user, the
    one-sided statistic S_t = max(0, S_(t-1) + x_t - mu0 - k) with alarm
    at S > h -- the sequential change detector a metrics stream runs
    per key (the OFFLINE two-pass variant is win-cusum-changepoint; this
    one needs no second pass and so has a true streaming runtime:
    streaming/jobs.cusum_alarm_stream carries S as per-key state through
    applyInPandasWithState, parity pinned in tests/test_streaming.py).

    The recursion is window-expressible through the max-suffix-sum
    closed form S_t = cum_t - min(0, running_min(cum)) -- no iteration,
    two frames over one shuffle. Everything runs in exact BIGINT
    micro-units (x100; source values carry 2 decimals, floor(x*100+0.5)
    rounds the one representation ulp identically in both engines), so
    the statistic and the threshold compare are integer-exact.

    Scale: one hash-partitioned window pair on user_id, ROWS frames,
    no UDF; the streaming form holds O(1) state per key."""
    e = (
        views(spark, sf_dir)
        .table("events")
        # NaN filtered WITH null: the streaming runtime cannot tell them
        # apart after the Arrow transfer, so the shared batch/stream
        # contract is finite values only
        .filter(F.col("value").isNotNull() & ~F.isnan("value"))
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v100"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = e.select(
        "user_id",
        "event_id",
        F.sum(F.col("v100") - _CUSUM_REF_C).over(w).alias("cum"),
    ).select(
        "user_id",
        "event_id",
        "cum",
        F.min("cum").over(w).alias("minc"),
    )
    s = F.col("cum") - F.least(F.col("minc"), F.lit(0))
    return c.select(
        "user_id",
        "event_id",
        s.cast("bigint").alias("cusum_c"),
        (s > _CUSUM_H_C).alias("alarm"),
    )


_RATE_LIMIT_GAP_S = 21600  # keep at most one event per 6h per user


@register(
    "stream-rate-limit",
    oracle=f"""
    WITH s AS (
        SELECT user_id, list(epoch(ts) ORDER BY ts) AS arr,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1),
    f AS (
        SELECT user_id, n_events,
               list_reduce(
                   list_prepend(
                       [arr[1], CAST(1 AS DOUBLE)],
                       [[t, CAST(0 AS DOUBLE)] for t in arr[2:]]),
                   (acc, e) -> CASE
                       WHEN e[1] - acc[1] >= {_RATE_LIMIT_GAP_S}
                       THEN [e[1], acc[2] + 1] ELSE acc END) AS st
        FROM s)
    SELECT user_id, n_events, CAST(st[2] AS BIGINT) AS n_kept
    FROM f
    """,
)
def stream_rate_limit(spark, sf_dir):
    """Per-key rate limiting (debounce): keep an event only if at least
    6 hours have passed since the last KEPT event of the same user --
    the notification-throttle / at-most-one-per-interval semantics. This
    is NOT expressible with lag() or gaps-and-islands: whether an event
    survives depends on the previously SURVIVING event, a data-dependent
    recurrence -- so it uses the ordered-fold device (win-holt-winters):
    fold the time-ordered epoch array with a [last_kept_ts, n_kept] LIST
    accumulator (never a struct, DuckDB list_reduce aliasing). Epochs
    are exact microsecond-resolution doubles (the ts-cast device) and
    the keep test is a subtraction + compare on identical doubles, so
    the kept count is bit-identical across engines. Events sharing an
    exact timestamp fold to the same decision whatever their sort order
    -- the fold reads only the timestamp value.

    Scale: one shuffle on user_id; per-key state is the event-time array
    (bounded by per-user activity). The TRUE streaming form keeps O(1)
    state -- just [last_kept_ts, count] per key via
    applyInPandasWithState: streaming/jobs.rate_limit_stream, parity
    pinned bit-exact in tests/test_streaming.py; this batch form is its
    oracle-checkable replay."""
    e = views(spark, sf_dir).table("events")
    ser = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.col("ts").cast("double"))).alias("arr"),
        F.count("*").alias("n_events"),
    )
    arr = F.col("arr")
    init = F.array(F.element_at(arr, 1), F.lit(1.0))
    rest = F.slice(arr, 2, F.size(arr) - 1)

    def step(acc, t):
        return F.when(
            t - F.element_at(acc, 1) >= F.lit(_RATE_LIMIT_GAP_S),
            F.array(t, F.element_at(acc, 2) + 1),
        ).otherwise(acc)

    return ser.select(
        "user_id",
        "n_events",
        F.element_at(F.aggregate(rest, init, step), 2)
        .cast("long")
        .alias("n_kept"),
    )


@register(
    "stream-top-k-windowed",
    oracle="""
    WITH wc AS (
        SELECT date_trunc('day', ts)
                 + (CAST(EXTRACT(hour FROM ts) AS INTEGER) // 6)
                   * INTERVAL 6 HOUR AS win_start,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
    rk AS (
        SELECT win_start, event_type, n_events,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY win_start
                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
        FROM wc)
    SELECT win_start, event_type, n_events, rk FROM rk WHERE rk <= 3
    """,
)
def stream_top_k_windowed(spark, sf_dir):
    """Windowed top-k (the trending-topics pattern): per tumbling 6-hour
    window, the 3 most frequent event types, ranked with a deterministic
    tiebreak (count desc, then type asc -- ranks over a non-unique order
    are engine-dependent otherwise). Batch form of the streaming
    aggregate + per-trigger ranking job: a true stream computes the
    windowed counts with a watermark and ranks inside foreachBatch
    (ranking is not an incremental operator; the per-window count state
    IS incremental, the top-k is a per-emit decoration -- same split as
    stream-foreachbatch-sink). The TRUE streaming form is
    streaming/jobs.windowed_topk_stream (update-mode watermarked counts
    + a foreachBatch sink that MERGEs per-(window,type) state into a
    persisted counts table and re-ranks touched windows into a topk
    table — state in storage, never the driver) — batch/stream
    agreement pinned across a multi-slice replay in
    tests/test_streaming.py.

    Scale: one partial-aggregated (window, type) count -- the only
    corpus-sized shuffle -- then a window ranking partitioned by
    win_start over the bounded (windows x types) grid. Spark's
    `F.window` assignment is epoch-floor arithmetic; 6 h divides a day,
    so the oracle reproduces it with day-trunc + hour floor-division
    (the stream-sliding-window device)."""
    ev = views(spark, sf_dir).table("events")
    wc = ev.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    rk = F.row_number().over(
        Window.partitionBy("win_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
    )
    return (
        wc.select(
            F.col("w.start").alias("win_start"), "event_type", "n_events"
        )
        .withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "agg-bounce-rate",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                      IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sess AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged),
    per AS (
        SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS bounce_rate,
           CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS events_per_session
    FROM per
    """,
)
def agg_bounce_rate(spark, sf_dir):
    """Bounce rate over 30-minute-gap sessions: the share of sessions
    containing exactly one event, plus mean session depth -- the
    product-health headline read off the same sessionization the
    stream-session-window entry materializes (lag-gap flag + running
    cumsum = session ids, the gaps-and-islands device). Counts are
    exact; the two ratios are single correctly-rounded int/int double
    divides, unrounded.

    Scale: two windows over ONE user-keyed exchange (flag then cumsum
    reuse the sort), a per-session reduce, a 1-row summary. The true
    streaming form is session_window aggregation with a watermark
    (streaming/jobs.sessionized_stream) -- bounce classification is a
    filter on its emitted session sizes."""
    ev = views(spark, sf_dir).table("events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
                >= 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.select(
        "user_id", F.sum("new_session").over(cum).alias("session_id")
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    bounces = F.sum((F.col("n_events") == 1).cast("long"))
    return per.agg(
        F.count("*").alias("n_sessions"),
        bounces.alias("n_bounces"),
        (bounces.cast("double") / F.count("*").cast("double")).alias(
            "bounce_rate"
        ),
        (
            F.sum("n_events").cast("double") / F.count("*").cast("double")
        ).alias("events_per_session"),
    )


@register(
    "stream-gap-detect",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('day', MIN(ts)) AS lo,
               date_trunc('day', MAX(ts)) + INTERVAL 1 DAY AS hi
        FROM events),
    grid AS (
        SELECT event_type, t.win_start
        FROM (SELECT DISTINCT event_type FROM events) e
        CROSS JOIN (
            SELECT unnest(generate_series(
                       (SELECT lo FROM bounds),
                       (SELECT hi FROM bounds) - INTERVAL 30 MINUTE,
                       INTERVAL 30 MINUTE)) AS win_start) t),
    seen AS (
        SELECT DISTINCT event_type,
               date_trunc('hour', ts)
                 + (CAST(EXTRACT(minute FROM ts) AS INTEGER) // 30)
                   * INTERVAL 30 MINUTE AS win_start
        FROM events)
    SELECT g.event_type, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN s.win_start IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps
    FROM grid g LEFT JOIN seen s
      ON s.event_type = g.event_type AND s.win_start = g.win_start
    GROUP BY 1
    """,
)
def stream_gap_detect(spark, sf_dir):
    """Missing-data detection: for each event type, how many 30-minute
    windows of the stream's span carried ZERO events -- the
    pipeline-health monitor that catches a silent upstream outage (an
    aggregate can't report a window it never saw; the DENSE grid is the
    device). The calendar grid generates from the corpus bounds
    (min/max ts -- deterministic; a wall-clock 'now' would not be), the
    seen set is the tumbling-window assignment (30-minute grain so the
    detector demonstrably FIRES at the certification scale),
    and the gap count is a grid-keyed left anti shape. All exact
    integers.

    Scale: the grid is O(types x windows) -- bounded by calendar, not
    corpus; the seen set is one DISTINCT over the windowed assignment;
    the join keys on (type, window). In a true stream this is the
    watermark-driven 'emit empty windows' pattern (flatMapGroupsWithState
    emitting heartbeats); batch form audits retroactively."""
    ev = views(spark, sf_dir).table("events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        (F.date_trunc("day", F.max("ts")) + F.expr("INTERVAL 1 DAY")).alias(
            "hi"
        ),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(
                    F.col("lo"),
                    F.col("hi") - F.expr("INTERVAL 30 MINUTE"),
                    F.expr("INTERVAL 30 MINUTE"),
                )
            ).alias("win_start"),
        )
    )
    seen = (
        ev.select(
            "event_type",
            F.window("ts", "30 minutes").alias("w"),
        )
        .select("event_type", F.col("w.start").alias("win_start"))
        .distinct()
        .withColumn("present", F.lit(True))
    )
    return (
        grid.join(seen, ["event_type", "win_start"], "left")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.col("present").isNull().cast("long")).alias("n_gaps"),
        )
    )
