"""Shared helpers for the operator corpus.

Cross-engine determinism rules used throughout:

- **Exact decimal accumulation.** ``SUM(double)`` is order-dependent; Spark
  and DuckDB aggregate rows in different orders, so raw double sums differ in
  low-order bits and fail the driver's value hash. Casting each addend to a
  DECIMAL makes addition exact and associative; per-row double arithmetic
  (e.g. ``price * (1 - discount)``) is IEEE-deterministic and identical in
  both engines, and double→decimal rounding is round-half-up in both, with
  exact binary ties practically impossible on synthetic data. The final cast
  back to DOUBLE is deterministic. Pattern:
      Spark : dsum(expr)                         -> double
      DuckDB: CAST(SUM(CAST(expr AS DECIMAL(28,6))) AS DOUBLE)
- **Sorted collections** for array_agg-style outputs.
- **Unique total orderings** before any LIMIT / window rank.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from dbtwiz_spark.catalog import Catalog

DEC = "decimal(28,6)"
DEC_SQL = "DECIMAL(28,6)"


_CATALOGS: dict[tuple[SparkSession, str], Catalog] = {}
_LAST_REGISTERED: Catalog | None = None


def views(spark: SparkSession, sf_dir: str) -> Catalog:
    """Load the standard tables and register temp views; return the catalog.

    One shared ``Catalog`` per (session, sf_dir): every operator then builds
    on the same DataFrame objects, so a `Catalog.prime()` done once (bench
    warm-up, long-lived service) benefits the whole corpus, and Spark's
    plan-fragment cache lookup sees identical subtrees across queries.
    Keyed on the session OBJECT, never ``id(spark)``: a GC'd session's
    address can be reused by a new session, which would then receive
    plans bound to the stopped one.

    Every call re-stats the table files; when one was rewritten the old
    catalog is released (primed tables and artifacts unpersisted) and a
    new one built, so no cached table or artifact outlives its input
    generation. Temp views are (re-)registered only when the catalog
    changes — 10 catalog RPCs per query otherwise dominate sub-second
    queries.
    """
    global _LAST_REGISTERED
    key = (spark, sf_dir)
    cat = _CATALOGS.get(key)
    if cat is None or not cat.is_current():
        if cat is not None:
            cat.release()
        cat = _CATALOGS[key] = Catalog(spark, sf_dir)
    if _LAST_REGISTERED is not cat:
        cat.register_views()
        _LAST_REGISTERED = cat
    return cat


def clear_session_memos() -> int:
    """Evict every live catalog's artifacts (`Catalog.clear_memos`, which
    also re-pins spark.sql.exchange.reuse); returns the number dropped.
    testing.run_all calls it after each sweep so a long-lived session
    sweeping many scales holds one sweep's working set, not all of them
    (a 54-entry single-session sweep OOM'd a 1 GiB-driver session)."""
    return sum(cat.clear_memos() for cat in list(_CATALOGS.values()))


# NOTE on priming: `Catalog.prime()` is an EXPLICIT decision (bench warm-up,
# long-lived service), never automatic. Auto-priming here was tried and
# reverted: Spark's CacheManager substitutes cached relations into ANY plan
# whose scan subtree matches, which silently rewrites unrelated queries'
# physical plans (hiding PushedFilters/ReadSchema evidence) for a perf gain
# that measured as noise at test scale.


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """Throwaway directory for corpus write-path entries, parented under ONE
    process-scoped root that is removed at interpreter exit — repeated corpus
    runs (bench best-of-2, test suites) must not leak a /tmp directory full
    of table copies per invocation."""
    import atexit
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="dbtwiz_spark_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent (exact) sum of a double expression, as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Deterministic mean: exact decimal sum divided by count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {DEC_SQL})) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS {DEC_SQL})) AS DOUBLE) / COUNT({expr})"


# Knuth multiplicative hash: deterministic pseudo-random ordering computable
# with exact BIGINT arithmetic in any engine (Spark and DuckDB produce the
# identical value, unlike engine-native hash()/xxhash64 which differ).
# The id is reduced mod 2^31 BEFORE the multiply: (2^31-1) × 2654435761
# ≈ 5.7e18 stays inside BIGINT, whereas a raw multiply overflows for ids
# ≳ 3.5e9 (silent wrap in Spark, error in DuckDB — both fatal to parity).
KNUTH = 2654435761
M31 = 2147483648
M32 = 4294967296


def hkey(col: Column) -> Column:
    return ((col % F.lit(M31)) * F.lit(KNUTH)) % F.lit(M32)


def hkey_sql(expr: str) -> str:
    return f"((({expr}) % {M31}) * {KNUTH}) % {M32}"


def _truncate(df):
    """Eagerly materialize ``df`` and TRUNCATE its lineage, returning a
    DataFrame whose logical plan is a flat scan of the materialized
    result. This is the device that keeps iterative ops' planning cost
    O(rounds): a state table feeding two branches of the next round
    doubles its LOGICAL plan per round, and persist() does not help —
    cache substitution happens after analysis, and InMemoryRelation
    embeds the full build subtree (measured on connected components:
    46 s of driver-side planning → 3.2 s truncated, at sf0.1).

    One rule picks the form. With no SparkContext checkpoint dir (local
    and test sessions) it is ``localCheckpoint`` — eager, zero I/O, but
    its blocks live only in executor memory/disk, so an executor loss
    mid-iteration kills the job. Deployments set Spark's own
    ``spark.checkpoint.dir`` (or call ``sc.setCheckpointDir``) to a
    shared-filesystem path, and the same call becomes a RELIABLE eager
    ``checkpoint()`` there — identical results (pinned by
    test_truncate_reliable_matches_local), executor-loss-safe."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint()
    return df.checkpoint(eager=True)


# Range partitions of the rank/prefix devices: the offset fold is O(P^2)
# on P elements in one tiny task, and every input is ranked with the
# same P.
N_PARTS = 8


def _materialize_and_release_local(out, local) -> None:
    """Fill the ranked/prefixed OUTPUT's cache eagerly and release the
    range-partitioned ``local`` stage's storage: keeping BOTH persisted
    doubled the steady-state executor storage of every rank/prefix
    consumer — the local stage is only needed to pin one physical
    boundary sample while the output is CONSTRUCTED. Ordering is
    load-bearing: the count() materializes the output's InMemoryRelation
    (all columns) while local is still cached, so the output's cached
    child plan bakes local's single boundary sample; only then is local's
    storage freed. Recomputation of lost output partitions replays the
    output's OWN executed physical plan (boundaries live in its shuffle
    dependencies, they are never re-sampled), so releasing local does not
    reopen the independently-sampled-exchange hazard."""
    out.count()
    try:
        local.unpersist(False)
    except Exception:
        pass  # stopped session — nothing to free


def parallel_rank(df, keys):
    """Global 1-based row number over a UNIQUE total order, scale-safe.

    A bare ``Window.orderBy`` funnels the whole table through one task;
    this device gets identical ranks fully in parallel:

    1. range-partition + local sort on the order key,
    2. local row_number per physical partition,
    3. tiny per-partition counts -> cumulative offsets (broadcast),
    4. global rank = offset + local row_number.

    Returns ``df`` plus ``_rank`` (global row number) and ``_n`` (total
    rows), persisted and materialized. The key chain MUST be a unique
    total order or ranks are partition-placement-dependent. The
    range-partitioned+locally-ranked ``local`` stage is persisted while
    the output is built: both the counts and the offset join consume it,
    and its CACHE IDENTITY is what pins one physical boundary sample for
    both consumers (with only plan-level sharing, column pruning
    specializes each branch's projection below the exchange into two
    DIFFERENT range exchanges that sample boundaries independently —
    measured duplicate/missing ranks at sf0.1). The WHOLE ranked output
    (offset join included) is persisted, so a consumer execution is one
    cached scan instead of re-running the counts/offsets chain (3
    adaptive stages); then local's storage is released
    (_materialize_and_release_local), leaving one corpus-sized table per
    input. Callers memoize it with ``Catalog.artifact``. The offset fold
    is O(P^2) on a handful of elements in one tiny task, never a windowed
    cumsum (that would be a single-partition WindowExec); the offset
    expressions are ONE parsed SQL string (per-lambda Column construction
    cost ~300 driver py4j round trips per invocation)."""
    from pyspark.sql.window import Window

    local = (
        df.repartitionByRange(N_PARTS, *keys)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_pid").orderBy(*keys)),
        )
        .persist()
    )
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    carr = counts.agg(
        F.expr("array_sort(collect_list(struct(_pid, _cnt))) AS arr")
    )
    offsets = carr.selectExpr(
        "inline(transform(arr, (s, i) -> named_struct("
        "'_pid', s._pid, "
        "'_off', aggregate(slice(arr, 1, i), CAST(0 AS BIGINT), "
        "(a, x) -> a + x._cnt))))",
        "aggregate(arr, CAST(0 AS BIGINT), (a, x) -> a + x._cnt) AS _n",
    )
    out = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", F.col("_off") + F.col("_rn"))
        .drop("_pid", "_rn", "_off")
        .persist()
    )
    _materialize_and_release_local(out, local)
    return out


def parallel_prefix_sum(df, keys, cols):
    """Global inclusive running SUM of integer ``cols`` in ``keys`` order,
    scale-safe — the prefix-sum generalization of ``parallel_rank``:

    1. range-partition + local sort on the order key,
    2. per-partition running sums (partition-local window),
    3. tiny per-partition totals -> cumulative offsets (broadcast),
    4. global prefix = offset + local running sum.

    Returns ``df`` plus one ``_cum_<col>`` column per input col. The key
    chain must be a unique total order. No global single-partition window
    anywhere; the offset fold is O(P^2) on #partitions elements in one
    tiny task. Backs agg-ks-test (two-sample CDF comparison).

    Persistence and construction mirror ``parallel_rank``: the persisted
    range-partitioned ``local`` stage pins ONE physical boundary sample
    for both the totals and output branches (plan-level sharing alone
    lets column pruning split them into two independently-sampled range
    exchanges — measured wrong prefixes at sf0.1), the WHOLE prefixed
    output is persisted and materialized, and local's storage is then
    released. Callers memoize it with ``Catalog.artifact``."""
    from pyspark.sql.window import Window

    # The offset expressions interpolate each col name into parsed SQL
    # (struct field names and x._t_<c> references) — a name with spaces,
    # dots or backticks would parse wrong or not at all, silently or
    # loudly. Fail loudly up front instead: every internal consumer uses
    # plain identifiers; callers with exotic names alias them first.
    import re as _re

    for c in cols:
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", str(c)):
            raise ValueError(
                f"parallel_prefix_sum: column name {c!r} is not a plain "
                "identifier ([A-Za-z_][A-Za-z0-9_]*) — alias it before "
                "calling (names are interpolated into SQL offset "
                "expressions)"
            )

    w = (
        Window.partitionBy("_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = df.repartitionByRange(N_PARTS, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    for c in cols:
        local = local.withColumn(f"_cum_{c}", F.sum(c).over(w))
    local = local.persist()

    totals = local.groupBy("_pid").agg(
        *[F.sum(c).cast("long").alias(f"_t_{c}") for c in cols]
    )
    struct_cols = ", ".join(["_pid"] + [f"_t_{c}" for c in cols])
    carr = totals.agg(
        F.expr(f"array_sort(collect_list(struct({struct_cols}))) AS arr")
    )
    fields = ", ".join(
        ["'_pid', s._pid"]
        + [
            f"'_off_{c}', aggregate(slice(arr, 1, i), "
            f"CAST(0 AS BIGINT), (a, x) -> a + x._t_{c})"
            for c in cols
        ]
    )
    offsets = carr.selectExpr(
        f"inline(transform(arr, (s, i) -> named_struct({fields})))"
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for c in cols:
        out = out.withColumn(f"_cum_{c}", F.col(f"_off_{c}") + F.col(f"_cum_{c}"))
    out = out.drop("_pid", *[f"_off_{c}" for c in cols]).persist()
    _materialize_and_release_local(out, local)
    return out


def dsum_scaled(col: Column | str, alias: str | None = None) -> Column:
    """Exact decimal sum exiting through a x1e6 BIGINT (integral by
    construction at scale 6), then one int64->double conversion and one
    divide — both hardware-correct and identical across engines. The
    direct DECIMAL(38,6)->DOUBLE cast double-rounds in DuckDB (int128
    conversion, then scale divide) while Spark rounds the decimal once;
    past 2^53 micro-units the two paths differ in the last ulp
    (win-rolling-corr lesson)."""
    c = F.col(col) if isinstance(col, str) else col
    out = (F.sum(c.cast(DEC)) * 1000000).cast("bigint").cast("double") / 1000000
    return out.alias(alias) if alias else out


def dsum_scaled_sql(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS {DEC_SQL})) * 1000000 AS BIGINT) "
        "AS DOUBLE) / 1000000"
    )


def dsum_q4(col: Column | str, alias: str | None = None) -> Column:
    """x1e4 sibling of ``dsum_scaled`` for terms already quantized to
    the 1e-4 DECIMAL(28,4) grid (the LM logprob entries): the x1e4
    scaled sum is integral at scale 4 by construction, so the BIGINT
    exit is exact and any final divide is one correctly-rounded
    operation on identical exact operands in both engines. Kept as a
    separate device (not a scale parameter on dsum_scaled) so editing
    one grid cannot silently re-certify entries pinned on the other."""
    c = F.col(col) if isinstance(col, str) else col
    out = (
        F.sum(c.cast("decimal(28,4)")) * 10000
    ).cast("bigint").cast("double") / 10000
    return out.alias(alias) if alias else out


def dsum_q4_sql(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,4))) * 10000 AS BIGINT) "
        "AS DOUBLE) / 10000"
    )


def dsum_q8(col: Column | str, alias: str | None = None) -> Column:
    """x1e8 sibling of ``dsum_q4`` for O(1)-magnitude terms (embedding
    dot contributions): a finer grid than the LM entries need, exact by
    the same scaled-BIGINT construction. Named per grid (the dsum_q4
    rule) so an edit here cannot silently re-certify the 1e-4 entries
    and the Spark/SQL halves cannot drift apart. BIGINT headroom is
    ~9e18/1e8 of summed mass — shard the exit or coarsen the grid past
    a 10^10-row O(1)-term reduction."""
    c = F.col(col) if isinstance(col, str) else col
    out = (
        F.sum(c.cast("decimal(28,8)")) * 100000000
    ).cast("bigint").cast("double") / 100000000
    return out.alias(alias) if alias else out


def dsum_q8_sql(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,8))) * 100000000 "
        "AS BIGINT) AS DOUBLE) / 100000000"
    )
