"""Property-based tests (hypothesis) for the pure engine logic: the
reference's best-covered logic is exactly this layer (batch-size math,
dbtwiz tests/test_backfill.py:71-110), so the engine holds it to the
stronger property-based standard."""

from __future__ import annotations

from datetime import date, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from dbtwiz_spark.backfill import batch_size_from_bytes, chunk_date_range, target_bytes
from dbtwiz_spark.macros import extract_refs, render
from dbtwiz_spark.manifest import Manifest, Model

dates = st.dates(min_value=date(2000, 1, 1), max_value=date(2030, 12, 31))


@given(d1=dates, d2=dates, batch=st.integers(min_value=1, max_value=400))
def test_chunks_tile_the_range_exactly(d1, d2, batch):
    first, last = min(d1, d2), max(d1, d2)
    chunks = chunk_date_range(first, last, batch)
    # contiguous, inclusive, ordered, no overlap, bounded length
    assert chunks[0][0] == first and chunks[-1][1] == last
    for lo, hi in chunks:
        assert lo <= hi and (hi - lo).days + 1 <= batch
    for (_, prev_hi), (lo, _) in zip(chunks, chunks[1:]):
        assert lo == prev_hi + timedelta(days=1)
    covered = sum((hi - lo).days + 1 for lo, hi in chunks)
    assert covered == (last - first).days + 1


@given(first=dates, days_before=st.integers(min_value=1, max_value=1000),
       batch=st.integers(min_value=1, max_value=400))
def test_empty_range_when_inverted(first, days_before, batch):
    assert chunk_date_range(first, first - timedelta(days=days_before), batch) == []


@given(bpd=st.floats(min_value=1.0, max_value=1e15, allow_nan=False),
       default=st.integers(min_value=1, max_value=365))
def test_batch_size_bounds_and_monotonicity(bpd, default):
    b = batch_size_from_bytes(bpd, default=default)
    assert 1 <= b <= default
    # more bytes/day can never increase the batch size
    assert batch_size_from_bytes(bpd * 2, default=default) <= b
    # degenerate estimate falls back to the default (reference fallback)
    assert batch_size_from_bytes(0, default=default) == default
    # exact reference formula: min(default, max(1, target/bytes))
    assert b == int(min(default, max(1, target_bytes() / bpd)))


_ident = st.from_regex(r"[a-z][a-z0-9_]{0,15}", fullmatch=True)


@given(names=st.lists(_ident, min_size=1, max_size=5, unique=True))
def test_extract_refs_finds_every_ref(names):
    sql = " UNION ALL ".join(
        f"SELECT * FROM {{{{ ref('{n}') }}}}" for n in names
    )
    assert sorted(extract_refs(sql)) == sorted(names)


@given(name=_ident, value=st.integers(min_value=0, max_value=10**9))
def test_render_binds_vars_and_refs(name, value):
    sql = "SELECT {{ var('" + name + "', -1) }} AS v FROM {{ ref('t') }}"
    out = render(sql, resolve={"t": "physical_t"}, variables={name: value})
    assert f"SELECT {value} AS v" in out and "physical_t" in out
    # unbound var falls back to its default
    out2 = render(sql, resolve={"t": "t"}, variables={})
    assert "SELECT -1 AS v" in out2


@settings(max_examples=25)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] < e[1]),
        max_size=12,
        unique=True,
    )
)
def test_topo_order_respects_every_edge(edges):
    m = Manifest()
    names = [f"m{i}" for i in range(8)]
    parents: dict[str, list[str]] = {n: [] for n in names}
    for a, b in edges:
        parents[names[b]].append(names[a])  # a -> b (a is parent)
    for n in names:
        refs = " ".join(f"{{{{ ref('{p}') }}}}" for p in parents[n])
        m.add_model(Model(name=n, sql=f"SELECT 1 {refs}"))
    order = m.topo_order()
    pos = {n: i for i, n in enumerate(order)}
    for a, b in edges:
        assert pos[names[a]] < pos[names[b]]
    # and the DAG closures agree with the edge relation
    for a, b in edges:
        assert names[a] in m.upstream(names[b])
        assert names[b] in m.downstream(names[a])


_sql_kw_free = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_ "),
    min_size=0, max_size=40,
)


@given(body=_sql_kw_free, lit=st.text(
    alphabet=st.characters(blacklist_characters="'\\\n", blacklist_categories=("Cs",)),
    max_size=20,
))
@settings(max_examples=60)
def test_fix_sql_is_idempotent_and_literal_safe(body, lit):
    from dbtwiz_spark.model_ops import fix_sql

    sql = f"select {body} from t where x = '{lit}'  \n\n\nand y like '{lit}'\t\n"
    fixed = fix_sql(sql)
    # idempotent
    assert fix_sql(fixed) == fixed
    # string literals byte-identical after normalization
    assert f"'{lit}'" in fixed
    # hygiene invariants hold OUTSIDE protected regions (a tab inside a
    # literal is data and must survive)
    from dbtwiz_spark.model_ops import _PROTECTED_RE

    assert "\t" not in _PROTECTED_RE.sub("", fixed)
    # no trailing whitespace on any line (generated literals are single-line,
    # so every physical line end is outside a literal and gets rstripped)
    assert not any(line != line.rstrip() for line in fixed.split("\n"))
    assert fixed.endswith("\n") and "\n\n\n" not in fixed
    # keywords outside literals are uppercased
    assert fixed.startswith("SELECT")


@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 3), st.text(max_size=5)),
                min_size=1, max_size=30))
@settings(max_examples=30, deadline=None)
def test_pin_survivor_is_deterministic_and_minimal(rows):
    """_pin_survivor keeps exactly one row per key — the minimum by the
    (precedence, other columns) total order — independent of input order."""
    from dbtwiz_spark.materialize import _pin_survivor
    from dbtwiz_spark.session import get_spark

    spark = get_spark("dbtwiz_spark-tests", shuffle_partitions=4)
    df = spark.createDataFrame(rows, "k INT, p INT, v STRING")
    out = {(r.k, r.p, r.v) for r in _pin_survivor(df, ["k"]).collect()}
    # exactly one per key, and it is the lexicographic minimum
    want = {}
    for k, p, v in rows:
        cand = (k, p, v)
        if k not in want or (cand[1], cand[2]) < (want[k][1], want[k][2]):
            want[k] = cand
    assert out == set(want.values())
    # order-independence: reversed input yields the identical survivors
    out2 = {(r.k, r.p, r.v)
            for r in _pin_survivor(
                spark.createDataFrame(list(reversed(rows)), "k INT, p INT, v STRING"),
                ["k"]).collect()}
    assert out2 == out


def test_fix_sql_preserves_multiline_literals():
    """rstrip/blank-collapse must not reach inside a multi-line string
    literal (trailing spaces and blank lines there are data)."""
    from dbtwiz_spark.model_ops import fix_sql

    lit = "a   \n\n\nb"
    sql = f"select '{lit}' as x from t   \n\n\nwhere y = 1\n"
    fixed = fix_sql(sql)
    assert f"'{lit}'" in fixed          # literal byte-identical
    assert fixed.endswith("WHERE y = 1\n")
    # the UNPROTECTED trailing whitespace and blank run were cleaned
    assert "t   \n" not in fixed and "x FROM t\n\nWHERE" in fixed
    assert fix_sql(fixed) == fixed      # idempotent


@settings(deadline=None)
@given(ids=st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=50))
def test_hkey_is_deterministic_bounded_and_overflow_safe(ids):
    """The multiplicative hash must stay inside BIGINT for any plausible id
    (the mod-2^31-before-multiply guard) and land in [0, 2^32) — the range
    the importance-sampling accept test divides by."""
    from dbtwiz_spark.ops.common import KNUTH, M31, M32

    for i in ids:
        h = ((i % M31) * KNUTH) % M32
        assert 0 <= h < M32
        # the pre-multiply operand bound is what keeps Spark's BIGINT from
        # silently wrapping: (2^31 - 1) * KNUTH < 2^63 - 1
        assert (i % M31) * KNUTH <= (M31 - 1) * KNUTH < 2**63 - 1


@settings(deadline=None, max_examples=25)
@given(
    stream=st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=2000
    ),
    n_parts=st.integers(min_value=1, max_value=5),
    batch_rows=st.integers(min_value=1, max_value=257),
)
def test_mg_summarizer_superset_property_pure(stream, n_parts, batch_rows):
    """Misra-Gries candidate union ⊇ all n/30-frequent tokens for ANY
    partitioning and ANY Arrow batch boundaries — the pure-pandas core of
    the agg-heavy-hitters guarantee, fuzzed without a SparkSession."""
    import pandas as pd

    from collections import Counter

    from dbtwiz_spark.ops.aggregates import mg_summarizer

    tokens = [f"t{v}" for v in stream]
    n = len(tokens)
    truth = {t for t, c in Counter(tokens).items() if c >= n / 30.0}

    candidates: set[str] = set()
    mg = mg_summarizer(64)
    for p in range(n_parts):
        part = tokens[p::n_parts]
        batches = (
            pd.DataFrame({"token": part[i : i + batch_rows]})
            for i in range(0, len(part), batch_rows)
        )
        for out in mg(batches):
            candidates.update(out["token"])
    assert truth <= candidates, f"lost {truth - candidates}"


@settings(deadline=None, max_examples=25)
@given(
    values=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=3000,
    ),
    batch_rows=st.integers(min_value=1, max_value=301),
)
def test_quantile_digest_summary_rank_error_bound_pure(values, batch_rows):
    """The per-batch slice-max summary answers the median within the
    documented rank error (n/64 + #batches), for ANY value distribution
    and ANY batch boundaries — fuzzing the SHIPPED summarizer."""
    import pandas as pd

    from dbtwiz_spark.ops.aggregates import qd_summarizer

    n = len(values)
    B = 64
    batches = (
        pd.DataFrame({"value": values[i : i + batch_rows]})
        for i in range(0, n, batch_rows)
    )
    pts = [
        (v, w)
        for out in qd_summarizer(B)(batches)
        for v, w in zip(out["v"], out["w"])
    ]
    pts.sort(key=lambda t: t[0])
    cw = 0
    q50 = None
    for v, w in pts:
        cw += w
        if cw >= 0.5 * n:
            q50 = v
            break
    # with tied values the <=-count jumps by the atom's multiplicity, so
    # the guarantee is interval-form: some rank of q50's tie-range must hit
    # the target within the bound (rank(x < q50) from below, rank(x <= q50)
    # from above). The agg-quantile-digest entry's 5% certificate holds
    # because events.value atoms are far smaller than the tolerance.
    lo = sum(1 for x in values if x < q50)
    hi = sum(1 for x in values if x <= q50)
    n_batches = -(-n // batch_rows)
    bound = n / B + n_batches
    assert lo <= 0.5 * n + bound + 1e-9, f"lo rank {lo} beyond {0.5*n+bound}"
    assert hi >= 0.5 * n - bound - 1e-9, f"hi rank {hi} below {0.5*n-bound}"



def test_chunking_covers_every_token_exactly_once_mod_overlap(spark):
    """Property: concatenating each chunk's non-overlap prefix (the first
    32 tokens; the final chunk contributes everything) reconstructs the
    original document exactly — no token lost or duplicated at chunk
    boundaries."""
    from pyspark.sql import functions as F

    from dbtwiz_spark.ops.ext_pipeline import ext_chunk_documents
    from tests.conftest import SF_DIR

    chunks = ext_chunk_documents(spark, SF_DIR)
    rebuilt = (
        chunks.withColumn("toks", F.split("chunk_text", " "))
        .withColumn("prefix", F.slice("toks", 1, 32))
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_id", "prefix"))
            ).alias("parts")
        )
        .select(
            "doc_id",
            F.array_join(
                F.flatten(F.transform("parts", lambda p: p["prefix"])), " "
            ).alias("rebuilt_text"),
        )
    )
    from dbtwiz_spark.ops.common import views

    orig = views(spark, SF_DIR).table("documents").select("doc_id", "text")
    diff = rebuilt.join(orig, "doc_id").filter(
        F.col("rebuilt_text") != F.col("text")
    )
    assert diff.count() == 0
    assert rebuilt.count() == orig.count()


def test_funnel_stages_partition_the_user_population(spark):
    """Invariants of the ordered funnel: stage counts partition the users
    that appear in events (every user lands in exactly one deepest
    stage), and deeper stages require the shallower ones — a user at
    stage 3 necessarily had a view and a subsequent click."""
    from pyspark.sql import functions as F

    from dbtwiz_spark.ops.common import views
    from dbtwiz_spark.ops.windows import win_funnel
    from tests.conftest import SF_DIR

    stages = {r.funnel_stage: r.n_users
              for r in win_funnel(spark, SF_DIR).collect()}
    ev = views(spark, SF_DIR).table("events")
    n_users = ev.select("user_id").distinct().count()
    assert sum(stages.values()) == n_users
    # stage >= 1 population == users with any 'view' at all
    n_viewers = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id").distinct().count()
    )
    assert sum(v for k, v in stages.items() if k >= 1) == n_viewers


def test_retention_cohort_invariants(spark):
    """Cohort triangle invariants: offset 0 exists for every cohort and
    counts exactly the users whose first activity was that day; summing
    distinct users across a cohort's offsets never exceeds
    cohort_size × n_offsets; offsets are non-negative."""
    from dbtwiz_spark.ops.windows import win_retention_cohort
    from tests.conftest import SF_DIR

    rows = win_retention_cohort(spark, SF_DIR).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_day, {})[r.offset_days] = (
            r.n_active_users
        )
    assert rows and all(r.offset_days >= 0 for r in rows)
    for cohort, offsets in by_cohort.items():
        assert 0 in offsets, f"cohort {cohort} missing day-0 row"
        d0 = offsets[0]
        # retention never exceeds the cohort's own size
        assert all(n <= d0 for n in offsets.values()), cohort


def test_resample_interpolation_is_bounded_by_endpoints(spark):
    """Linear interpolation never extrapolates: every grid value lies
    within [min, max] of the user's observed values in the window, and
    every user has exactly 48 hourly grid rows."""
    from collections import Counter

    from pyspark.sql import functions as F

    from dbtwiz_spark.ops.common import views
    from dbtwiz_spark.ops.streaming_batch import stream_resample_interpolate
    from tests.conftest import SF_DIR

    out = stream_resample_interpolate(spark, SF_DIR).collect()
    per_user = Counter(r.user_id for r in out)
    assert per_user and set(per_user.values()) == {48}  # 2 days hourly
    ev = views(spark, SF_DIR).table("events")
    bounds = {
        r.user_id: (r.lo, r.hi)
        for r in ev.filter(
            (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12")
        )
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    eps = 1e-6  # rounding at 6 dp
    for r in out:
        lo, hi = bounds[r.user_id]
        assert lo - eps <= r.value_interp <= hi + eps, r


def test_interval_overlap_equals_naive_theta_join(spark):
    """The bucketed interval-overlap join must return EXACTLY what the
    naive theta-join formulation returns — bucketing is an optimization,
    not an approximation (missing a pair = a wrong answer; the classic
    bug is an interval spanning a bucket boundary counted 0 or 2 times)."""
    from pyspark.sql import functions as F

    from dbtwiz_spark.ops.common import views
    from dbtwiz_spark.ops.joins import join_interval_overlap
    from tests.conftest import SF_DIR

    got = {
        (r.lid, r.n_overlap, r.n_users)
        for r in join_interval_overlap(spark, SF_DIR).collect()
    }
    ev = views(spark, SF_DIR).table("events")
    left = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 50 == 0)
    ).select(
        F.col("event_id").alias("lid"),
        F.col("ts").alias("lstart"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("lend"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("rid"),
        F.col("user_id"),
        F.col("ts").alias("rstart"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("rend"),
    )
    naive = {
        (r.lid, r.n_overlap, r.n_users)
        for r in left.join(
            right,
            (F.col("lstart") <= F.col("rend")) & (F.col("rstart") <= F.col("lend")),
        )
        .groupBy("lid")
        .agg(
            F.countDistinct("rid").alias("n_overlap"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    }
    assert got == naive and len(got) > 0


def test_split_drift_and_ab_test_invariants(spark):
    """JS-divergence terms are per-domain non-negative (convexity of
    x·ln(x/m) around the midpoint) and the probability columns each sum
    to 1; the weighted median sits inside the group's value range and
    at least half the total weight lies at or below it; Welch's t is
    finite and the group sizes partition each event type."""
    from pyspark.sql import functions as F

    from dbtwiz_spark.ops.aggregates import agg_ab_test, agg_weighted_median
    from dbtwiz_spark.ops.common import views
    from dbtwiz_spark.ops.ext_pipeline import ext_split_drift
    from tests.conftest import SF_DIR

    drift = ext_split_drift(spark, SF_DIR).collect()
    assert all(r.js_term >= 0 for r in drift)
    assert abs(sum(r.p_train for r in drift) - 1.0) < 1e-6
    assert abs(sum(r.p_eval for r in drift) - 1.0) < 1e-6

    li = views(spark, SF_DIR).table("lineitem")
    bounds = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
            F.sum(F.col("l_quantity").cast("long")).alias("tw"),
        )
        .collect()
    }
    for r in agg_weighted_median(spark, SF_DIR).collect():
        b = bounds[r.l_returnflag]
        assert b.lo <= r.weighted_median <= b.hi
        assert r.total_weight == b.tw
        below = (
            li.filter(
                (F.col("l_returnflag") == r.l_returnflag)
                & (F.col("l_extendedprice") <= r.weighted_median)
            )
            .agg(F.sum(F.col("l_quantity").cast("long")))
            .collect()[0][0]
        )
        assert 2 * below >= b.tw

    ev_counts = {
        r.event_type: r["count"]
        for r in views(spark, SF_DIR).table("events").groupBy("event_type").count().collect()
    }
    import math

    for r in agg_ab_test(spark, SF_DIR).collect():
        assert r.na + r.nb == ev_counts[r.event_type]
        assert math.isfinite(r.t_welch)


def test_apply_changes_matches_sequential_reference(spark, tmp_path):
    """apply_changes over a whole changelog batch must equal applying the
    events ONE BY ONE in (seq, op) order to a dict — the definitional CDC
    semantics. Randomized but seeded: deterministic across runs."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(42)
    keys = list(range(12))
    base = {k: f"b{k}" for k in keys if rng.random() < 0.6}
    events = []
    for seq in range(1, 7):
        for k in keys:
            if rng.random() < 0.45:
                op = rng.choice(["U", "D", "I"])
                events.append(
                    (op, seq, k, None if op == "D" else f"v{k}_{seq}"))
    # reference model: strictly sequential application; equal-seq ties
    # resolve upsert-over-delete, matching the documented 'op desc' rule
    state = dict(base)
    latest: dict[int, tuple[int, str, str | None]] = {}
    for op, seq, k, v in events:
        cur = latest.get(k)
        if cur is None or (seq, op) > (cur[0], cur[1]):
            latest[k] = (seq, op, v)
    for k, (_seq, op, v) in latest.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    wh = Warehouse(spark, str(tmp_path / "wh_prop"))
    wh.write_table(
        "t",
        spark.createDataFrame(list(base.items()), "k INT, v STRING"),
        snapshot=False,
    )
    rng.shuffle(events)  # batch order must not matter
    wh.apply_changes(
        "t",
        spark.createDataFrame(events, "op STRING, seq INT, k INT, v STRING"),
        unique_key="k",
    )
    got = {r.k: r.v for r in wh.read("t").collect()}
    assert got == state


def test_partitioned_merge_matches_dict_semantics(spark, tmp_path):
    """Randomized (seeded) partition-scoped merges vs the definitional
    model: updates win on key collision, a key adopts its update's
    partition (including moves that empty a partition), untouched rows
    survive. Three sequential merges exercise overlapping touched sets."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(7)
    days = [f"2024-01-0{d}" for d in range(1, 6)]
    state = {k: (f"b{k}", rng.choice(days)) for k in range(20)}
    wh = Warehouse(spark, str(tmp_path / "wh_merge_prop"))
    wh.write_table(
        "t",
        spark.createDataFrame(
            [(k, v, p) for k, (v, p) in state.items()],
            "k INT, v STRING, partitiondate STRING",
        ),
        partition_by="partitiondate",
        snapshot=False,
    )
    for round_i in range(3):
        updates = []
        for k in rng.sample(range(30), 8):  # keys 20-29 are inserts
            v, p = f"u{round_i}_{k}", rng.choice(days)
            updates.append((k, v, p))
            state[k] = (v, p)
        wh.merge(
            "t",
            spark.createDataFrame(updates, "k INT, v STRING, partitiondate STRING"),
            unique_key="k",
            partition_by="partitiondate",
        )
        got = {r.k: (r.v, r.partitiondate) for r in wh.read("t").collect()}
        assert got == state, f"diverged after merge round {round_i}"


def test_partitioned_apply_changes_matches_dict_semantics(spark, tmp_path):
    """Randomized (seeded) partitioned CDC batches vs the definitional
    model — latest event per key wins, deletes remove, moves into
    OCCUPIED partitions keep the destination's other rows (the shared
    rewrite-core guarantee the merge property test pins)."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(11)
    days = [f"2024-02-0{d}" for d in range(1, 5)]
    state = {k: (f"b{k}", rng.choice(days)) for k in range(15)}
    wh = Warehouse(spark, str(tmp_path / "wh_cdc_prop"))
    wh.write_table(
        "t",
        spark.createDataFrame(
            [(k, v, p) for k, (v, p) in state.items()],
            "k INT, v STRING, partitiondate STRING",
        ),
        partition_by="partitiondate",
        snapshot=False,
    )
    for round_i in range(3):
        events = []
        for k in rng.sample(range(20), 7):
            for seq in (1, 2):
                if rng.random() < 0.5:
                    op = rng.choice(["U", "D", "I"])
                    v, p = f"r{round_i}s{seq}_{k}", rng.choice(days)
                    events.append(
                        (op, seq, k, None if op == "D" else v,
                         rng.choice(days) if op == "D" else p))
        if not events:
            continue
        latest: dict[int, tuple] = {}
        for op, seq, k, v, p in events:
            cur = latest.get(k)
            if cur is None or (seq, op) > (cur[0], cur[1]):
                latest[k] = (seq, op, v, p)
        for k, (_s, op, v, p) in latest.items():
            if op == "D":
                state.pop(k, None)
            else:
                state[k] = (v, p)
        wh.apply_changes(
            "t",
            spark.createDataFrame(
                events, "op STRING, seq INT, k INT, v STRING, partitiondate STRING"),
            unique_key="k",
            partition_by="partitiondate",
        )
        got = {r.k: (r.v, r.partitiondate) for r in wh.read("t").collect()}
        assert got == state, f"diverged after CDC round {round_i}"


def test_scd2_apply_matches_interval_rebuild_model(spark, tmp_path):
    """Randomized (seeded) SCD2 batches vs the definitional model: per
    key, the validity chain equals a from-scratch rebuild of all
    (key, date) states ever applied, update winning over the stored row
    on a restated date; exactly one is_current row per key."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(23)
    days = [f"2024-03-{d:02d}" for d in range(1, 9)]
    hist: dict[tuple[int, str], str] = {}
    wh = Warehouse(spark, str(tmp_path / "wh_scd2_prop"))
    for round_i in range(4):
        batch = []
        for k in rng.sample(range(8), 4):
            d = rng.choice(days)
            v = f"r{round_i}_{k}_{d}"
            batch.append((k, v, d))
            hist[(k, d)] = v  # update wins on a restated (key, date)
        wh.scd2_apply(
            "dim",
            spark.createDataFrame(batch, "k INT, v STRING, partitiondate STRING"),
            unique_key="k",
            date_column="partitiondate",
        )
        # reference model: rebuild intervals from the full state history
        want = set()
        by_key: dict[int, list[str]] = {}
        for (k, d) in hist:
            by_key.setdefault(k, []).append(d)
        for k, ds in by_key.items():
            ds = sorted(set(ds))
            for i, d in enumerate(ds):
                nxt = ds[i + 1] if i + 1 < len(ds) else None
                want.add((k, d, hist[(k, d)], d, nxt, nxt is None))
        got = {
            (r.k, r.partitiondate, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in wh.read("dim").collect()
        }
        assert got == want, f"diverged after scd2 round {round_i}"


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(
            lambda e: e[0] < e[1]
        ),
        max_size=24,
    ),
    pick=st.integers(0, 11),
)
@settings(max_examples=60, deadline=None)
def test_selector_graph_operators_match_closures(edges, pick):
    """For random DAGs: `+n` = ancestors∪{n}, `n+` = descendants∪{n},
    `+n+` = both, results topo-ordered, and exclude subtracts exactly."""
    man = Manifest()
    names = [f"m{i}" for i in range(12)]
    parents: dict[str, set[str]] = {n: set() for n in names}
    for a, b in edges:
        parents[names[b]].add(names[a])
    for n in names:
        refs = " ".join(f"{{{{ ref('{p}') }}}}" for p in sorted(parents[n]))
        man.add_model(Model(n, f"SELECT 1 AS x -- {refs}"))

    def ancestors(n):
        out, stack = set(), list(parents[n])
        while stack:
            p = stack.pop()
            if p not in out:
                out.add(p)
                stack.extend(parents[p])
        return out

    def descendants(n):
        return {m for m in names if n in ancestors(m)}

    n = names[pick]
    assert set(man.select(f"+{n}")) == ancestors(n) | {n}
    assert set(man.select(f"{n}+")) == descendants(n) | {n}
    assert set(man.select(f"+{n}+")) == ancestors(n) | descendants(n) | {n}
    # topo order: every parent precedes its child in the selection
    sel = man.select(f"+{n}")
    pos = {m: i for i, m in enumerate(sel)}
    for m in sel:
        for p in parents[m]:
            if p in pos:
                assert pos[p] < pos[m]
    # exclude subtracts exactly
    assert set(man.select(f"+{n}+", exclude=n)) == (
        ancestors(n) | descendants(n)
    )


def test_insert_overwrite_matches_partition_replace_model(spark, tmp_path):
    """Randomized (seeded) incremental writes vs the definitional model:
    partitions present in the interval are replaced wholesale, absent
    partitions survive untouched, reruns are idempotent."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(31)
    days = [f"2024-04-0{d}" for d in range(1, 6)]
    state: dict[str, list[tuple[int, str]]] = {d: [] for d in days}
    wh = Warehouse(spark, str(tmp_path / "wh_io_prop"))
    next_k = 0
    for round_i in range(4):
        batch_days = rng.sample(days, rng.randint(1, 3))
        rows = []
        for d in batch_days:
            n = rng.randint(1, 4)
            part = [(next_k + i, f"r{round_i}_{d}") for i in range(n)]
            next_k += n
            state[d] = part  # wholesale replace
            rows += [(k, v, d) for k, v in part]
        df = spark.createDataFrame(rows, "k INT, v STRING, partitiondate STRING")
        wh.insert_overwrite("t", df, "partitiondate")
        if rng.random() < 0.5:
            wh.insert_overwrite("t", df, "partitiondate")  # idempotent rerun
        got: dict[str, set] = {}
        for r in wh.read("t").collect():
            got.setdefault(r.partitiondate, set()).add((r.k, r.v))
        want = {d: set(p) for d, p in state.items() if p}
        assert got == want, f"diverged after interval round {round_i}"


def test_compact_after_fragmenting_merges_preserves_content(spark, tmp_path):
    """Chained-subsystem invariant: streaming-style per-batch appends
    fragment partitions into many files; compact() must reduce the file
    count without changing the row multiset — and the table must still
    merge correctly afterwards."""
    import glob
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(43)
    days = [f"2024-05-0{d}" for d in range(1, 4)]
    state = {k: (f"b{k}", rng.choice(days)) for k in range(12)}
    wh = Warehouse(spark, str(tmp_path / "wh_compact_prop"))
    wh.write_table(
        "t",
        spark.createDataFrame(
            [(k, v, p) for k, (v, p) in state.items()],
            "k INT, v STRING, partitiondate STRING",
        ),
        partition_by="partitiondate",
        snapshot=False,
    )
    # the Warehouse's own writes self-compact (one right-sized file per
    # partition via _distribute_for_write), so fragmentation is simulated
    # the way it actually arises: a per-micro-batch streaming sink
    # appending one file per batch directly into the hive layout
    for i in range(5):
        k = 100 + i
        v, p = f"s{i}", rng.choice(days)
        state[k] = (v, p)
        spark.createDataFrame(
            [(k, v, p)], "k INT, v STRING, partitiondate STRING"
        ).coalesce(1).write.mode("append").partitionBy("partitiondate").parquet(
            str(wh.path("t")))

    def files():
        return len(glob.glob(str(wh.path("t") / "partitiondate=*" / "*.parquet")))

    before = files()
    stats = wh.compact("t", target_file_bytes=128 << 20, min_files=2)
    assert stats["files_after"] <= stats["files_before"] == before
    assert files() == stats["files_after"] < before
    got = {r.k: (r.v, r.partitiondate) for r in wh.read("t").collect()}
    assert got == state
    # the compacted table still merges correctly
    state[0] = ("post_compact", days[0])
    wh.merge(
        "t",
        spark.createDataFrame([(0, "post_compact", days[0])],
                              "k INT, v STRING, partitiondate STRING"),
        unique_key="k",
        partition_by="partitiondate",
    )
    got = {r.k: (r.v, r.partitiondate) for r in wh.read("t").collect()}
    assert got == state


def test_time_travel_history_matches_recorded_states(spark, tmp_path):
    """Randomized (seeded) mixed write ops (overwrite / merge /
    insert_overwrite) with a hardlink snapshot after each. Every recorded snapshot id must
    reproduce exactly the state at its moment (history survives later
    overwrites, which MOVE the snapshot dir), and restore() to a
    mid-history id must reproduce it live."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(23)
    days = [f"2024-03-0{d}" for d in range(1, 5)]
    wh = Warehouse(spark, str(tmp_path / "wh_tt_prop"))

    def df_of(rows):
        return spark.createDataFrame(
            [(k, v, p) for k, (v, p) in sorted(rows.items())],
            "k INT, v STRING, partitiondate STRING",
        )

    def live():
        return {r.k: (r.v, r.partitiondate) for r in wh.read("t").collect()}

    state = {k: (f"b{k}", rng.choice(days)) for k in range(12)}
    wh.write_table("t", df_of(state), partition_by="partitiondate", snapshot=False)
    history: dict[int, dict] = {}
    for round_i in range(6):
        op = rng.choice(["overwrite", "overwrite_snap", "merge", "insert_overwrite"])
        if op == "overwrite_snap":
            # the PUBLISH-path snapshot: write_table(snapshot=True) moves
            # the OUTGOING state into a freshly claimed slot item-by-item
            # (the marker-committed path) — the recorded state for the new
            # id is the PRE-overwrite table
            outgoing = dict(state)
            before_ids = set(wh.snapshots("t"))
            state = {
                k: (f"s{round_i}_{k}", rng.choice(days))
                for k in rng.sample(range(18), 8)
            }
            wh.write_table(
                "t", df_of(state), partition_by="partitiondate", snapshot=True
            )
            (new_id,) = set(wh.snapshots("t")) - before_ids
            history[new_id] = outgoing
        elif op == "overwrite":
            state = {
                k: (f"o{round_i}_{k}", rng.choice(days))
                for k in rng.sample(range(18), 10)
            }
            wh.write_table(
                "t", df_of(state), partition_by="partitiondate", snapshot=False
            )
        elif op == "merge":
            ups = {
                k: (f"m{round_i}_{k}", rng.choice(days))
                for k in rng.sample(range(18), 5)
            }
            state.update(ups)
            wh.merge("t", df_of(ups), unique_key="k", partition_by="partitiondate")
        else:
            day = rng.choice(days)
            rows = {k: (f"i{round_i}_{k}", day) for k in rng.sample(range(18), 4)}
            state = {k: vp for k, vp in state.items() if vp[1] != day}
            state.update(rows)
            wh.insert_overwrite("t", df_of(rows), "partitiondate")
        if op != "overwrite_snap":
            sid = wh.snapshot("t")
            history[sid] = dict(state)
        assert live() == state, f"live state diverged after {op} round {round_i}"
    assert sorted(history) == list(history), "snapshot ids must be increasing"
    for sid, snap_state in history.items():
        got = {
            r.k: (r.v, r.partitiondate)
            for r in wh.read_snapshot("t", sid).collect()
        }
        assert got == snap_state, f"snapshot {sid} diverged from recorded state"
    mid = sorted(history)[2]
    wh.restore("t", mid)
    assert live() == history[mid], "restore did not reproduce the snapshot state"
    # expiry endgame: the restore itself snapshotted the pre-restore
    # state, so the listing is history + that one; expiring everything
    # must count each listed slot exactly once, leave the LIVE state
    # untouched, and make every historical read fail loudly (never serve
    # a half-deleted era)
    state = live()
    listed = wh.snapshots("t")
    assert set(history) <= set(listed)
    n = wh.expire_snapshots("t", older_than_days=0)
    assert n == len(listed), f"expired {n} of {len(listed)} listed slots"
    assert wh.snapshots("t") == []
    assert live() == state, "expiry must never touch the live table"
    import pytest as _pytest

    for sid in history:
        with _pytest.raises(ValueError, match="no snapshot"):
            wh.read_snapshot("t", sid)
    # the table keeps working: a fresh snapshot starts a new history
    sid2 = wh.snapshot("t")
    assert wh.snapshots("t") == [sid2]
    got = {
        r.k: (r.v, r.partitiondate) for r in wh.read_snapshot("t", sid2).collect()
    }
    assert got == state


def test_scd2_invalidate_interleaved_matches_model(spark, tmp_path):
    """Randomized (seeded) interleaving of scd2_apply and
    scd2_invalidate_deletes vs the definitional model: an invalidate
    closes the open interval of every key absent from its snapshot at
    the run date; a later apply that RESTATES a key rebuilds its chain
    (reopening it — the engine's documented rebuild semantics); exactly
    one open interval per un-invalidated key."""
    import random

    from dbtwiz_spark.materialize import Warehouse

    rng = random.Random(71)
    days = [f"2024-03-{d:02d}" for d in range(1, 7)]
    hist: dict[tuple[int, str], str] = {}
    closed_at: dict[int, str] = {}
    wh = Warehouse(spark, str(tmp_path / "wh_scd2_inv_prop"))
    # seed: every key gets an initial state
    batch0 = [(k, f"init_{k}", days[0]) for k in range(8)]
    for k, v, d in batch0:
        hist[(k, d)] = v
    wh.scd2_apply(
        "dimi",
        spark.createDataFrame(batch0, "k INT, v STRING, partitiondate STRING"),
        unique_key="k",
        date_column="partitiondate",
    )
    for round_i in range(5):
        if rng.random() < 0.5:
            batch = []
            for k in rng.sample(range(8), 3):
                d = rng.choice(days)
                v = f"r{round_i}_{k}_{d}"
                batch.append((k, v, d))
                hist[(k, d)] = v
                closed_at.pop(k, None)  # a rebuild reopens the chain
            wh.scd2_apply(
                "dimi",
                spark.createDataFrame(
                    batch, "k INT, v STRING, partitiondate STRING"
                ),
                unique_key="k",
                date_column="partitiondate",
            )
        else:
            survivors = rng.sample(range(8), 5)
            as_of = f"2024-04-{10 + round_i:02d}"
            n = wh.scd2_invalidate_deletes(
                "dimi",
                spark.createDataFrame([(k,) for k in survivors], "k INT"),
                unique_key="k",
                date_column="partitiondate",
                as_of=as_of,
            )
            expect_closed = {
                k
                for k in range(8)
                if k not in survivors and k not in closed_at
            }
            assert n == len(expect_closed), (round_i, n, expect_closed)
            for k in expect_closed:
                closed_at[k] = as_of
        # reference model
        want = set()
        by_key: dict[int, list[str]] = {}
        for (k, d) in hist:
            by_key.setdefault(k, []).append(d)
        for k, ds in by_key.items():
            ds = sorted(set(ds))
            for i, d in enumerate(ds):
                nxt = ds[i + 1] if i + 1 < len(ds) else None
                if nxt is None and k in closed_at:
                    want.add((k, d, hist[(k, d)], d, closed_at[k], False))
                else:
                    want.add((k, d, hist[(k, d)], d, nxt, nxt is None))
        got = {
            (r.k, r.partitiondate, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in wh.read("dimi").collect()
        }
        assert got == want, f"diverged after round {round_i}"


def test_reclaim_crash_at_every_fs_point_loses_no_state(spark, tmp_path, fs_faults):
    """Fault injection over _reclaim_one_slot (round-9 ADVICE hardening):
    every filesystem mutation in a reclaim pass (the marker unlink inside
    Path.unlink, the slot/husk rmdir, and the unlinks/rmdirs inside
    shutil.rmtree) is crashed once at each call index, for every slot
    shape (copy crash, a foreign marker next to an __old sibling, empty
    husk). After a second, uninjected recovery pass the invariants of
    the r5 merge-bug method hold:

    - a foreign-marker slot and its __old sibling are byte-stable (the
      pass reports them and mutates nothing);
    - the live table is byte-stable;
    - snapshots() NEVER serves a crashed slot (marker present or empty);
    - committed snapshot history survives verbatim.
    """
    from dbtwiz_spark.materialize import Warehouse

    def build(root, scenario):
        wh = Warehouse(spark, str(root))
        df = spark.createDataFrame(
            [(1, "live", "d")], "k INT, v STRING, partitiondate STRING"
        )
        wh.write_table("t", df)
        wh.write_table("t", df)  # commits one real snapshot of state 1
        wh.INCOMPLETE_RECLAIM_AGE_S = 0
        committed = wh.snapshots("t")
        assert len(committed) == 1
        parent = wh.path("t").parent
        if scenario == "copy":
            ts, dst = wh._claim_snapshot_dir("t")
            (dst / "partial.parquet").write_text("partial")
        elif scenario == "foreign-marker":
            ts, dst = wh._claim_snapshot_dir("t")
            (dst / "_INCOMPLETE").write_text("publish-move:t__old_300")
            (dst / "half.parquet").write_text("half")
            sib = parent / "t__old_300"
            sib.mkdir()
            (sib / "sib.parquet").write_text("sib")
        elif scenario == "husk":
            husk = wh.path("t") / "_snapshots" / str(committed[-1] + 50)
            husk.mkdir()
        return wh, committed

    def check_invariants(root, scenario, committed):
        wh = Warehouse(spark, str(root))
        wh.INCOMPLETE_RECLAIM_AGE_S = 0
        wh._recover("t")  # second pass, uninjected: must converge
        parent = wh.path("t").parent
        # live table byte-stable
        assert {(r.k, r.v) for r in wh.read("t").collect()} == {(1, "live")}
        # committed history survives and nothing crashed got served
        assert wh.snapshots("t") == committed, scenario
        if scenario == "foreign-marker":
            sib = parent / "t__old_300"
            assert [p.name for p in sib.iterdir()] == ["sib.parquet"]
            assert (sib / "sib.parquet").read_text() == "sib"
            (slot,) = [
                p
                for p in (wh.path("t") / "_snapshots").iterdir()
                if (p / "_INCOMPLETE").exists()
            ]
            assert (slot / "_INCOMPLETE").read_text() == "publish-move:t__old_300"
            assert (slot / "half.parquet").read_text() == "half"

    for scenario in ("copy", "foreign-marker", "husk"):
        # dry run counts the fs-mutation call points of one reclaim pass
        # (shared conftest harness — one implementation of the
        # patch/count/inject machinery across the crash tests)
        root = tmp_path / f"dry_{scenario}"
        wh, committed = build(root, scenario)
        inj = fs_faults()
        with inj:
            wh._recover("t")
        total = inj.calls
        if scenario == "foreign-marker":
            # foreign markers are reported, never touched — zero fs
            # mutations IS the property being pinned
            assert total == 0, (
                f"foreign-marker must be reported untouched, saw {total} "
                "fs mutations"
            )
        else:
            assert total >= 1, f"{scenario}: reclaim made no fs mutations"
        check_invariants(root, scenario, committed)

        for point in range(1, total + 1):
            root = tmp_path / f"{scenario}_{point}"
            wh, committed = build(root, scenario)
            inj = fs_faults()
            inj.point = point
            crashed = False
            with inj:
                try:
                    wh._recover("t")
                except fs_faults.Killed:
                    crashed = True
            assert crashed, f"{scenario}: injection at {point} did not fire"
            check_invariants(root, scenario, committed)


def test_marker_write_crash_at_every_fs_point(spark, tmp_path, fs_faults):
    """Fault injection over the round-10 ATOMIC marker protocol: the
    _INCOMPLETE signature is staged in the snapshots ROOT and published
    into the slot by os.replace (claim) — and expire_snapshots marks the
    same way before tearing down. Crash once at every fs mutation point
    (replace/rename/unlink/rmdir) of a claim and of an expiry sweep and
    assert, per the r5 method's dict-model invariants:

    - snapshots() NEVER lists a slot that is not a complete committed
      snapshot (no garbage id, no half-deleted slot, no staging stray);
    - every snapshot still listed after an expiry crash is byte-complete
      (the marker-first teardown keeps partial deletes invisible);
    - no staging file ever lands INSIDE a slot (the commit protocol
      reads slot content — in-root strays are the design);
    - an uninjected retry (recovery pass / second sweep) converges: the
      claim husk is reclaimed, the expiry finishes.
    """
    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME, Warehouse

    df1 = spark.createDataFrame(
        [(1, "s1", "d")], "k INT, v STRING, partitiondate STRING"
    )
    df2 = spark.createDataFrame(
        [(2, "s2", "d")], "k INT, v STRING, partitiondate STRING"
    )

    def build(root):
        wh = Warehouse(spark, str(root))
        wh.write_table("t", df1)
        wh.write_table("t", df2)  # snapshot of state 1 commits
        wh.INCOMPLETE_RECLAIM_AGE_S = 0
        return wh

    def assert_no_in_slot_staging(wh):
        snaps = wh.path("t") / SNAPSHOT_DIRNAME
        for slot in (p for p in snaps.iterdir() if p.is_dir()):
            strays = [
                e.name
                for e in slot.iterdir()
                if e.name.startswith("_INCOMPLETE.tmp.")
            ]
            assert not strays, f"staging leaked into slot {slot.name}: {strays}"

    def assert_listed_are_complete(wh, full_content):
        for s in wh.snapshots("t"):
            slot = wh.path("t") / SNAPSHOT_DIRNAME / str(s)
            names = {p.name for p in slot.rglob("*") if p.is_file()}
            assert names == full_content[s], (
                f"snapshot {s} served incomplete: {names} != {full_content[s]}"
            )

    # ---- claim protocol ----
    root = tmp_path / "claim_dry"
    wh = build(root)
    committed = wh.snapshots("t")
    full = {
        s: {
            p.name
            for p in (wh.path("t") / SNAPSHOT_DIRNAME / str(s)).rglob("*")
            if p.is_file()
        }
        for s in committed
    }
    inj = fs_faults(fn_names=("replace", "rename", "unlink", "rmdir"))
    with inj:
        wh._claim_snapshot_dir("t")
    total = inj.calls
    assert total >= 1, "claim must publish its marker via a replace"
    for point in range(1, total + 1):
        root = tmp_path / f"claim_{point}"
        wh = build(root)
        committed = wh.snapshots("t")
        inj = fs_faults(fn_names=("replace", "rename", "unlink", "rmdir"))
        inj.point = point
        crashed = False
        with inj:
            try:
                wh._claim_snapshot_dir("t")
            except fs_faults.Killed:
                crashed = True
        assert crashed
        assert wh.snapshots("t") == committed, (
            f"claim crash at point {point} leaked a slot into snapshots()"
        )
        assert_no_in_slot_staging(wh)
        wh2 = Warehouse(spark, str(root))
        wh2.INCOMPLETE_RECLAIM_AGE_S = 0
        wh2._recover("t")  # retry pass reclaims the husk / stray
        assert wh2.snapshots("t") == committed
        snaps = wh2.path("t") / SNAPSHOT_DIRNAME
        husks = [
            p.name
            for p in snaps.iterdir()
            if p.is_dir() and not any(p.iterdir())
        ]
        assert not husks, f"empty claim husk survived recovery: {husks}"

    # ---- expiry protocol ----
    root = tmp_path / "expire_dry"
    wh = build(root)
    committed = wh.snapshots("t")
    inj = fs_faults(fn_names=("replace", "rename", "unlink", "rmdir"))
    with inj:
        assert wh.expire_snapshots("t", older_than_days=0) == 1
    total = inj.calls
    assert total >= 3, "expiry = marker replace + teardown unlinks + rmdir"
    for point in range(1, total + 1):
        root = tmp_path / f"expire_{point}"
        wh = build(root)
        committed = wh.snapshots("t")
        full = {
            s: {
                p.name
                for p in (wh.path("t") / SNAPSHOT_DIRNAME / str(s)).rglob("*")
                if p.is_file()
            }
            for s in committed
        }
        inj = fs_faults(fn_names=("replace", "rename", "unlink", "rmdir"))
        inj.point = point
        crashed = False
        with inj:
            try:
                wh.expire_snapshots("t", older_than_days=0)
            except fs_faults.Killed:
                crashed = True
        assert crashed
        # whatever is still listed must be COMPLETE — a half-deleted
        # snapshot must never be served
        assert set(wh.snapshots("t")) <= set(committed)
        assert_listed_are_complete(wh, full)
        assert_no_in_slot_staging(wh)
        # live table unaffected by any expiry crash
        assert {r.v for r in wh.read("t").collect()} == {"s2"}
        # retry converges: recovery finishes a marked teardown, a second
        # sweep finishes an unmarked one
        wh2 = Warehouse(spark, str(root))
        wh2.INCOMPLETE_RECLAIM_AGE_S = 0
        wh2._recover("t")
        wh2.expire_snapshots("t", older_than_days=0)
        wh2._recover("t")
        assert wh2.snapshots("t") == [], (
            f"expiry crash at point {point} never converged"
        )


@settings(max_examples=40, deadline=None)
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(
                st.just("record"),
                st.integers(min_value=0, max_value=5),
                st.sampled_from(["success", "error: boom", "pending"]),
            ),
            st.tuples(st.just("tear")),
            st.tuples(st.just("reopen")),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_journal_tear_property_vs_dict_model(tmp_path_factory, ops):
    """Randomized record/tear/reopen sequences vs a dict model (the r5
    property method applied to the round-10 torn-journal fix): after any
    interleaving of writes, mid-run tears, and process restarts
    (reopen = fresh BackfillJournal instance = fresh mirror), the
    journal on disk must equal the model — every row the CURRENT
    instance wrote since the last tear survives a tear-then-record
    (mirror re-seed), rows from BEFORE a reopen survive only if written
    to disk after the last tear (their loss is parked, never silent),
    and failed_chunks derives exactly the model's non-success rows."""
    import json as _json
    from datetime import date, timedelta

    from dbtwiz_spark.backfill import BackfillJournal

    tmp = tmp_path_factory.mktemp("jprop")
    jpath = tmp / "journal.json"
    j = BackfillJournal(jpath)

    base = date(2024, 1, 1)
    chunk = lambda i: (base + timedelta(days=2 * i), base + timedelta(days=2 * i + 1))
    key = lambda i: f"{chunk(i)[0]}..{chunk(i)[1]}"

    disk: dict | None = {}  # None = torn bytes on disk
    mirror: dict = {}
    expected_parks = 0

    for op in ops:
        if op[0] == "record":
            _, i, status = op
            if disk is None:
                expected_parks += 1
                disk = dict(mirror)  # re-seed: this instance's rows
            disk[key(i)] = status
            mirror[key(i)] = status
            j.record(chunk(i), status)
        elif op[0] == "tear":
            jpath.write_text('{"2024-01-01..2024-01-02": {"status": "er')
            disk = None
        else:  # reopen — new process: fresh mirror, same disk
            j = BackfillJournal(jpath)
            mirror = {}

    parked = list(tmp.glob("journal.json.corrupt.*"))
    assert len(parked) == expected_parks, (
        f"every tear followed by a record parks exactly once: "
        f"{len(parked)} != {expected_parks}"
    )
    if disk is None:
        return  # final state torn: strict load raises (pinned elsewhere)
    on_disk = _json.loads(jpath.read_text()) if jpath.exists() else {}
    got = {k: v["status"] if isinstance(v, dict) else v for k, v in on_disk.items()}
    assert got == disk, f"journal diverged from model: {got} != {disk}"
    want_failed = sorted(k for k, s in disk.items() if s != "success")
    assert sorted(
        f"{a}..{b}" for a, b in j.failed_chunks()
    ) == want_failed


def test_migrate_crash_at_every_fs_point_name_never_breaks(
    spark, tmp_path, fs_faults
):
    """Fault injection over migrate_table's whole protocol (copy,
    verify, view-then-rmtree swap): at EVERY fs mutation crash point the
    OLD NAME must still read — either the original table or the
    replacement view — and the data must be reachable under src or dst.
    This is the invariant the round-10 reorder bought: rmtree-first had
    a window where src was deleted but the view not yet created, taking
    the name down with no self-heal."""
    from dbtwiz_spark.materialize import Warehouse

    def build(root):
        wh = Warehouse(spark, str(root))
        wh.write_table(
            "legacy_m",
            spark.createDataFrame(
                [(1, "a", "d"), (2, "b", "d")],
                "k INT, v STRING, partitiondate STRING",
            ),
        )
        return wh

    root = tmp_path / "dry"
    wh = build(root)
    inj = fs_faults(fn_names=("replace", "rename", "unlink", "rmdir"))
    with inj:
        wh.migrate_table("legacy_m", "modern_m")
    total = inj.calls
    assert total >= 2, "migration must exercise publish + swap mutations"
    assert {r.k for r in wh.read("legacy_m").collect()} == {1, 2}

    for point in range(1, total + 1):
        root = tmp_path / f"p{point}"
        wh = build(root)
        inj = fs_faults(fn_names=("replace", "rename", "unlink", "rmdir"))
        inj.point = point
        crashed = False
        try:
            with inj:
                try:
                    wh.migrate_table("legacy_m", "modern_m")
                except fs_faults.Killed:
                    crashed = True
        except fs_faults.Killed:
            crashed = True
        assert crashed, f"injection at {point} did not fire"
        # a FRESH process must still read the old name — table or view
        wh2 = Warehouse(spark, str(root))
        got = {r.k for r in wh2.read("legacy_m").collect()}
        assert got == {1, 2}, (
            f"crash at fs point {point} broke the migrated name: {got}"
        )


_fs_name_chars = st.characters(
    blacklist_characters="/\x00", blacklist_categories=("Cs",)
)


@settings(max_examples=60, deadline=None)
@given(
    name=st.text(_fs_name_chars, min_size=1, max_size=40).filter(
        lambda s: s not in (".", "..") and not s.endswith(".tmp")
    ),
    suffix=st.sampled_from(["12345", "999.888.7", "0", "1.2"]),
)
def test_stale_tmp_sweep_exact_for_arbitrary_target_names(
    tmp_path_factory, name, suffix
):
    """For ANY filesystem-legal target name — glob metacharacters,
    unicode, dots, spaces — a write to the target sweeps exactly the
    stale digits-suffixed staging siblings of THAT target: the stale
    sibling dies, a fresh sibling survives, a stale sibling of a
    DIFFERENT target survives, and the target's content is the write's
    payload. The round-10 glob interpolation failed the 'dies' leg for
    metacharacter names and could misalign the prefix slice for '?'
    names; startswith matching is name-agnostic by construction."""
    import os
    import time as _time

    from dbtwiz_spark.fsutil import atomic_write_text

    d = tmp_path_factory.mktemp("sweep")
    ancient = _time.time() - 7200
    target = d / name
    stale = d / f"{name}.tmp.{suffix}"
    stale.write_text("abandoned")
    os.utime(stale, (ancient, ancient))
    fresh = d / f"{name}.tmp.111.222.3"
    fresh.write_text("in-flight")
    other = d / f"OTHER-{name}.tmp.{suffix}"
    other.write_text("not ours")
    os.utime(other, (ancient, ancient))

    atomic_write_text(target, "payload")

    assert target.read_text() == "payload"
    assert not stale.exists(), f"stale sibling of {name!r} not swept"
    assert fresh.exists(), "fresh in-flight sibling must survive"
    assert other.exists(), "another target's sibling is not ours to sweep"


@settings(max_examples=60, deadline=None)
@given(
    width=st.integers(1, 17),
    height=st.integers(1, 17),
    n_channels=st.sampled_from([3, 4]),
    data=st.data(),
)
def test_bmp_encode_decode_roundtrip_any_geometry(width, height, n_channels, data):
    """encode_bmp -> decode_image is the identity on the RGB planes for
    ANY geometry — widths that hit every 4-byte row-padding residue (the
    classic BMP corruption point), 1-pixel edges, RGBA inputs (alpha is
    documented as dropped by the 24-bit encoder)."""
    from dbtwiz_spark.multimodal import decode_image, encode_bmp

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=width * height * n_channels,
                max_size=width * height * n_channels,
            )
        )
    )
    out = decode_image(encode_bmp(width, height, pixels, n_channels))
    assert (out["width"], out["height"], out["n_channels"]) == (
        width,
        height,
        3,
    )
    if n_channels == 3:
        assert out["pixels"] == pixels
    else:  # alpha plane dropped, RGB preserved
        rgb = bytes(
            b
            for i in range(0, len(pixels), 4)
            for b in pixels[i : i + 3]
        )
        assert out["pixels"] == rgb


@settings(max_examples=40, deadline=None)
@given(
    width=st.integers(1, 9),
    height=st.integers(1, 9),
    color_type=st.sampled_from([0, 2, 4, 6]),
    data=st.data(),
)
def test_png_decode_any_geometry_any_filters(width, height, color_type, data):
    """The pure-stdlib PNG decoder reconstructs ANY 8-bit non-interlaced
    image exactly, for every per-row filter combination the encoder can
    emit (the forward filter in the test writer is independent code, so
    agreement is evidence of correctness, not shared bugs) and every
    supported color type's normalization to the RGB(A) contract."""
    from tests.test_engine_basics import _hand_png

    from dbtwiz_spark.multimodal import decode_image

    bpp = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    n = width * height * bpp
    pixels = bytes(
        data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    )
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=height, max_size=height)
    )
    out = decode_image(_hand_png(width, height, pixels, color_type, filters))
    assert (out["width"], out["height"]) == (width, height)
    if color_type == 2:
        expect = pixels
    elif color_type == 6:
        expect = pixels
    elif color_type == 0:
        expect = bytes(v for v in pixels for _ in range(3))
    else:  # gray + alpha
        expect = bytes(
            b
            for i in range(0, n, 2)
            for b in (pixels[i], pixels[i], pixels[i], pixels[i + 1])
        )
    assert out["pixels"] == expect


@settings(max_examples=60, deadline=None)
@given(
    frames=st.lists(
        st.tuples(st.integers(0, 500_000), st.integers(1, 9999)),
        min_size=1,
        max_size=30,
    ),
    every_ms=st.integers(0, 2000),
)
def test_sample_timeline_invariants(frames, every_ms):
    """_sample_timeline (the shared GIF/MP3/ADTS stepping device) over
    arbitrary (duration_us, bytes) timelines: row count is
    min(8, ceil(total/every)), offsets are the exact every_ms grid,
    every reported size belongs to the frame COVERING that instant
    (verified against an independent expanded-timeline scan), and a
    zero-total timeline yields None (the fake-branch signal)."""
    from dbtwiz_spark.multimodal import _sample_timeline

    out = _sample_timeline(frames, every_ms)
    total = sum(d for d, _ in frames)
    if total == 0:
        assert out is None
        return
    every_us = max(every_ms, 1) * 1000
    assert len(out) == min(8, max(1, -(-total // every_us)))
    assert [off for off, _ in out] == [k * every_ms for k in range(len(out))]
    # independent check: walk the expanded timeline per sampled instant
    starts = []
    acc = 0
    for d, s in frames:
        starts.append((acc, acc + d, s))
        acc += d
    for k, (_, size) in enumerate(out):
        t = k * every_us
        covering = [s for lo, hi, s in starts if lo <= t < hi]
        expect = covering[0] if covering else frames[-1][1]
        assert size == expect


@settings(max_examples=80, deadline=None)
@given(
    version=st.sampled_from([3, 2, 0]),
    bidx=st.integers(1, 14),
    ridx=st.integers(0, 2),
    mono=st.booleans(),
    crc=st.booleans(),
    pads=st.lists(st.integers(0, 1), min_size=1, max_size=10),
    id3_len=st.integers(-1, 200),  # -1: no tag
    id3_footer=st.booleans(),  # ID3v2.4 footer flag (r15: +10-byte '3DI')
    meta=st.sampled_from([None, b"Xing", b"Info", b"VBRI"]),
)
def test_mp3_demux_header_arithmetic_any_profile(
    version, bidx, ridx, mono, crc, pads, id3_len, id3_footer, meta
):
    """_mp3_frames over streams the test builds independently from the
    SPEC tables, across all MPEG versions x bitrate x rate indices x
    channel modes: every audio frame's (duration_us, size) must match
    the 144/72 x bitrate / samplerate + padding arithmetic, an ID3v2
    prefix of any size — with or without the v2.4 footer trailer
    (r15) — must not shift the timeline, and a leading
    Xing/Info/VBRI metadata frame (spliced at the version/mode/CRC-correct
    side-info offset) must be excluded — same frame count and duration
    as the stream without it (round 14)."""
    from dbtwiz_spark.multimodal import (
        _MP3_BITRATES,
        _MP3_RATES,
        _is_adts,
        _is_mp3,
        _mp3_frames,
    )

    bitrate = _MP3_BITRATES[version][bidx - 1] * 1000
    rate = _MP3_RATES[version][ridx]
    per = 144 if version == 3 else 72
    samples = 1152 if version == 3 else 576
    # protection bit 0 = CRC-protected: a 2-byte CRC precedes the side
    # info, shifting the Xing/Info tag (VBRI's offset is fixed)
    b1 = 0xE0 | (version << 3) | (1 << 1) | (0 if crc else 1)
    b3 = 0xC0 if mono else 0x00
    side = (17 if mono else 32) if version == 3 else (9 if mono else 17)
    meta_off = 36 if meta == b"VBRI" else 4 + (2 if crc else 0) + side
    # the metadata tag only exists when the frame can hold it — the
    # smallest low-bitrate MPEG2/2.5 frames (24 bytes) cannot; skip
    # BEFORE building (a slice-assign past a bytearray's end would
    # silently extend the frame and corrupt the size arithmetic)
    if meta is not None and meta_off + 4 > per * bitrate // rate:
        return

    def frame(pad: int, tag: bytes | None = None) -> bytes:
        size = per * bitrate // rate + pad
        f = bytearray([0xFF, b1, (bidx << 4) | (ridx << 2) | (pad << 1), b3])
        f += bytes(size - 4)
        if tag is not None:
            f[meta_off : meta_off + 4] = tag
        return bytes(f)

    stream = bytearray()
    if id3_len >= 0:
        flags = 0x10 if id3_footer else 0
        size4 = [(id3_len >> 21) & 0x7F, (id3_len >> 14) & 0x7F,
                 (id3_len >> 7) & 0x7F, id3_len & 0x7F]
        stream += b"ID3" + bytes([4, 0, flags] + size4)
        stream += bytes(id3_len)
        if id3_footer:  # 10-byte trailer the syncsafe size does NOT count
            stream += b"3DI" + bytes([4, 0, flags] + size4)
    if meta is not None:
        stream += frame(0, meta)
    for pad in pads:
        stream += frame(pad)
    payload = bytes(stream)
    assert _is_mp3(payload) and not _is_adts(payload)
    frames = _mp3_frames(payload)
    assert len(frames) == len(pads)  # metadata frame never counted
    assert all(d == samples * 1_000_000 // rate for d, _ in frames)
    assert [s for _, s in frames] == [
        per * bitrate // rate + pad for pad in pads
    ]


@settings(max_examples=60, deadline=None)
@given(
    ridx=st.integers(0, 12),
    shape=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 120)),  # (nblocks-1, payload)
        min_size=1,
        max_size=8,
    ),
    id3_len=st.integers(-1, 100),
    id3_footer=st.booleans(),
)
def test_adts_demux_header_arithmetic_any_profile(
    ridx, shape, id3_len, id3_footer
):
    """_adts_frames across every sample-rate index and varying raw-block
    counts / frame lengths: duration is nblocks x 1024 samples at the
    indexed rate, size is the explicit 13-bit length field, and an
    ID3v2 prefix (round 14: taggers wrap raw .aac too) is skipped."""
    from dbtwiz_spark.multimodal import (
        _ADTS_RATES,
        _adts_frames,
        _is_adts,
        _is_mp3,
    )

    stream = bytearray()
    if id3_len >= 0:
        flags = 0x10 if id3_footer else 0
        stream += b"ID3" + bytes([4, 0, flags, 0, 0, 0, id3_len])
        stream += bytes(id3_len)
        if id3_footer:  # r15: footer trailer, uncounted by the size field
            stream += b"3DI" + bytes([4, 0, flags, 0, 0, 0, id3_len])
    for nb1, payload_len in shape:
        length = 7 + payload_len
        stream += bytes(
            [
                0xFF,
                0xF1,
                (1 << 6) | (ridx << 2),
                length >> 11,
                (length >> 3) & 0xFF,
                (length & 7) << 5 | 0x1F,
                0xFC | nb1,
            ]
        )
        stream += bytes(payload_len)
    payload = bytes(stream)
    assert _is_adts(payload) and not _is_mp3(payload)
    frames = _adts_frames(payload)
    assert frames == [
        ((nb1 + 1) * 1024 * 1_000_000 // _ADTS_RATES[ridx], 7 + pl)
        for nb1, pl in shape
    ]


@settings(max_examples=15, deadline=None)
@given(
    width=st.integers(1, 24),
    height=st.integers(1, 24),
    data=st.data(),
)
def test_jpeg_progressive_matches_baseline_any_geometry(width, height, data):
    """Progressive and baseline encodings of the SAME grayscale plane
    decode to IDENTICAL pixels for arbitrary geometry: the successive-
    approximation passes must reconstruct exact coefficients at every
    MCU-padding residue, and the spectral-split scans must cover every
    block grid shape."""
    import numpy as np

    from tests.test_engine_basics import (
        _hand_jpeg,
        _hand_jpeg_progressive,
        _pad8,
    )

    from dbtwiz_spark.multimodal import decode_image

    n = width * height
    vals = data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    plane = _pad8(np.array(vals, float).reshape(height, width))
    base = decode_image(_hand_jpeg([(plane, (1, 1))], width, height))
    prog = decode_image(
        _hand_jpeg_progressive([(plane, (1, 1))], width, height)
    )
    assert prog["pixels"] == base["pixels"]


@settings(max_examples=40, deadline=None)
@given(
    width=st.integers(1, 20),
    height=st.integers(1, 20),
    interlaced=st.booleans(),
    deep=st.booleans(),
    channels=st.sampled_from([3, 4]),
    data=st.data(),
)
def test_png_adam7_and_16bit_any_geometry(
    width, height, interlaced, deep, channels, data
):
    """Round-13 PNG forms over ARBITRARY geometry: Adam7's seven passes
    must tile every raster exactly once (geometries spanning all
    empty/partial-pass residues mod 8), and 16-bit samples downconvert
    by high byte — composing both with the alpha channel."""
    import numpy as np

    from tests.test_engine_basics import _np_png

    from dbtwiz_spark.multimodal import decode_image

    n = width * height * channels
    hi = 65535 if deep else 255
    vals = data.draw(
        st.lists(st.integers(0, hi), min_size=n, max_size=n)
    )
    arr = np.array(vals, np.uint16 if deep else np.uint8).reshape(
        height, width, channels
    )
    payload = _np_png(
        arr,
        interlace=1 if interlaced else 0,
        color_type=2 if channels == 3 else 6,
    )
    out = decode_image(payload)
    assert (out["width"], out["height"], out["n_channels"]) == (
        width, height, channels,
    )
    expect = (arr >> 8).astype(np.uint8) if deep else arr
    assert out["pixels"] == expect.tobytes()


@settings(max_examples=40, deadline=None)
@given(
    width=st.integers(1, 9),
    height=st.integers(1, 9),
    ncolors=st.integers(2, 8),
    interlace=st.booleans(),
    data=st.data(),
)
def test_gif_decode_any_geometry(width, height, ncolors, interlace, data):
    """GIF LZW + palette + optional 4-pass interlace reconstructs any
    index raster exactly (encoder in the test is independent code)."""
    from tests.test_engine_basics import _hand_gif

    from dbtwiz_spark.multimodal import _GIF_INTERLACE, decode_image

    n = width * height
    idx = data.draw(
        st.lists(st.integers(0, ncolors - 1), min_size=n, max_size=n)
    )
    palette = data.draw(
        st.lists(st.integers(0, 255), min_size=3 * ncolors, max_size=3 * ncolors)
    )
    mcs = max(2, (ncolors - 1).bit_length())
    if interlace:
        order = [
            y for first, step in _GIF_INTERLACE for y in range(first, height, step)
        ]
        file_idx = [v for y in order for v in idx[y * width : (y + 1) * width]]
    else:
        file_idx = idx
    img = decode_image(
        _hand_gif(width, height, file_idx, palette, min_code_size=mcs,
                  interlace=interlace)
    )
    assert (img["width"], img["height"], img["n_channels"]) == (width, height, 3)
    assert img["pixels"] == bytes(
        b for v in idx for b in palette[3 * v : 3 * v + 3]
    )


@settings(max_examples=25, deadline=None)
@given(
    width=st.integers(1, 20),
    height=st.integers(1, 20),
    data=st.data(),
)
def test_jpeg_grayscale_decode_any_geometry(width, height, data):
    """Arbitrary random rasters (worst case for the DCT) survive the
    encode(all-ones quant) -> decode round trip within the analytic
    coefficient-rounding bound: per-coefficient error <= 0.5, so spatial
    error <= 0.5 * (sum_u |a_u(x)|)^2 < 5 for the orthonormal basis."""
    import numpy as np

    from tests.test_engine_basics import _hand_jpeg, _pad8

    from dbtwiz_spark.multimodal import decode_image

    n = width * height
    vals = data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n))
    plane = np.array(vals, float).reshape(height, width)
    img = decode_image(_hand_jpeg([(_pad8(plane), (1, 1))], width, height))
    got = np.frombuffer(img["pixels"], np.uint8).reshape(height, width, 3)
    assert (img["width"], img["height"]) == (width, height)
    # clamp the expectation the way the decoder clamps its output
    assert np.abs(got[:, :, 0].astype(float) - plane).max() <= 5


@settings(max_examples=40, deadline=None)
@given(width=st.integers(1, 9), height=st.integers(1, 9), data=st.data())
def test_ppm_decode_any_geometry(width, height, data):
    from dbtwiz_spark.multimodal import decode_image

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=width * height * 3,
                max_size=width * height * 3,
            )
        )
    )
    payload = f"P6\n{width} {height}\n255\n".encode() + pixels
    out = decode_image(payload)
    assert (out["width"], out["height"], out["pixels"]) == (width, height, pixels)
