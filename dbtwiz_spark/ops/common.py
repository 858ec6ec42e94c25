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

from pyspark.sql import Column, Observation, SparkSession
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
    """Evict every live catalog's artifacts (`Catalog.clear_memos`);
    returns the number dropped.
    scripts/full_sweep.py calls it after its sweep so a long-lived
    session sweeping many scales holds one sweep's working set, not all
    of them (a 54-entry single-session sweep OOM'd a 1 GiB-driver
    session)."""
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
    46 s of driver-side planning → 3.2 s truncated, at sf0.1). The
    result is immutable: every consumer reads the same stored rows.

    One rule picks the form. With no SparkContext checkpoint dir (local
    and test sessions) it is ``localCheckpoint`` — eager, zero I/O, but
    its blocks live only in executor memory/disk, so an executor loss
    mid-iteration kills the job. Deployments set Spark's own
    ``spark.checkpoint.dir`` (or call ``sc.setCheckpointDir``) to a
    shared-filesystem path, and the same call becomes a RELIABLE eager
    ``checkpoint()`` there — identical results (pinned by
    test_truncate_reliable_matches_local), executor-loss-safe. Either
    way the stored RDD lives until the last DataFrame over it is garbage
    collected: Spark's ContextCleaner then drops the blocks, and (with
    ``spark.cleaner.referenceTracking.cleanCheckpoints``, set by
    get_spark) deletes the reliable checkpoint files — found under the
    context's checkpoint dir at that time, so files written under a dir
    since replaced stay."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint()
    return df.checkpoint(eager=True)


def _mirror(pairs):
    """Undirected edge list ``(src, dst, *extra)`` from a directed
    ``(c, s, *extra)`` pair frame. The pair table is truncated FIRST and
    then mirrored, so the result is a union of two scans of one stored
    table: a union whose branches each embed the pair query runs that
    query twice (exchange reuse does not fire across union branches; 0
    ReusedExchange on the executed plan). Memoize the result as is — the
    truncated blocks are its storage."""
    pairs = _truncate(pairs)
    c, s, *extra = pairs.columns
    return pairs.select(
        F.col(c).alias("src"), F.col(s).alias("dst"), *extra
    ).unionAll(pairs.select(F.col(s).alias("src"), F.col(c).alias("dst"), *extra))


def _min_propagate(edges, state, step, rounds):
    """Min-propagation over ``edges`` (``src``, ``dst``, ...) for at most
    ``rounds`` rounds. ``state`` is a ``(node, value)`` frame; each round
    sends ``step`` — a Column over an edge joined to its source's state
    row — to the edge's ``dst`` and keeps the MIN per node over the old
    state and the sent values: BFS (``dist + 1``), min-plus
    (``dist + w``) and hash-min components (``lbl``).

    Every round goes through ``_truncate``: the state feeds two branches
    of the next round (the union and the join), so an untruncated logical
    plan doubles per round (connected components at sf0.1: 46 s of
    driver-side planning → 3.2 s truncated).

    The loop stops once a round's (row count, exact value sum) equals the
    previous round's. Keys only join and values only fall, so an equal
    pair means an unchanged table, and an unchanged table stays unchanged:
    the rows equal those of all ``rounds`` rounds. The pair is observed on
    the frame ``_truncate`` materializes, so the check runs no job."""
    node, val = state.columns
    last = None
    for _ in range(rounds):
        sent = edges.join(state, edges.src == state[node]).select(
            F.col("dst").alias(node), step.alias(val)
        )
        seen = Observation()
        state = _truncate(
            state.unionAll(sent)
            .groupBy(node)
            .agg(F.min(val).alias(val))
            .observe(
                seen,
                F.count("*").alias("n"),
                F.sum(F.col(val).cast("decimal(38,0)")).alias("sum"),
            )
        )
        got = seen.get
        if got == last:
            break
        last = got
    return state


# Range partitions of the rank/prefix devices: one offset literal per
# partition in the output projection, and every input is ranked with the
# same P.
N_PARTS = 8


def _range_stage(df, keys, running):
    """The rank/prefix devices' shared stage: ``df`` range-partitioned on
    ``keys`` plus ``_pid`` and, per ``(name, fn, total)`` in ``running``,
    ``name = fn`` over the partition-local window in key order, truncated
    (``_truncate``) so every consumer reads ONE range-boundary sample.
    Returns the stage, ``offset(i)`` — a BIGINT Column: total ``i``
    summed over the partitions before the row's own, a literal looked up
    by ``_pid`` — and the grand totals. Per-partition totals come from
    one tiny ``groupBy("_pid")`` collect of at most N_PARTS rows and are
    folded in Python, so no offset table, join or persist exists."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stage = df.repartitionByRange(N_PARTS, *keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    stage = _truncate(stage.withColumns({n: fn.over(w) for n, fn, _ in running}))
    per_pid = {
        r[0]: r[1:]
        for r in stage.groupBy("_pid").agg(*[t for _, _, t in running]).collect()
    }
    offsets, acc = [], [0] * len(running)
    for pid in range(N_PARTS):
        offsets.append(acc)
        # a NULL total (all-NULL sum) makes every later offset NULL,
        # as SQL addition would
        acc = [
            None if a is None or t is None else a + t
            for a, t in zip(acc, per_pid.get(pid, [0] * len(running)))
        ]

    def _sql(v):
        return "CAST(NULL AS BIGINT)" if v is None else f"{v}L"

    def offset(i):
        lits = ", ".join(_sql(o[i]) for o in offsets)
        return F.expr(f"element_at(array({lits}), _pid + 1)")

    return stage, offset, acc


def parallel_rank(df, keys):
    """Global 1-based row number over a UNIQUE total order, scale-safe.

    A bare ``Window.orderBy`` funnels the whole table through one task;
    this device gets identical ranks fully in parallel:

    1. range-partition + local sort on the order key,
    2. local row_number per physical partition, truncated once,
    3. tiny per-partition counts -> exclusive offsets on the driver,
    4. global rank = offset literal for the row's partition + local
       row_number.

    Returns ``df`` plus ``_n`` (total rows) and ``_rank`` (global row
    number): a lazy projection over the truncated stage, holding one
    stored RDD per input (freed by Spark's ContextCleaner with the last
    reference). The key chain MUST be a unique total order or ranks are
    partition-placement-dependent. Callers memoize it with
    ``Catalog.artifact``."""
    stage, offset, (n,) = _range_stage(
        df, keys, [("_rn", F.row_number(), F.count("*"))]
    )
    return stage.withColumns(
        {"_n": F.expr(f"{n}L"), "_rank": offset(0) + F.col("_rn")}
    ).drop("_pid", "_rn")


def parallel_prefix_sum(df, keys, cols):
    """Global inclusive running SUM of integer ``cols`` in ``keys`` order,
    scale-safe — the prefix-sum generalization of ``parallel_rank``:

    1. range-partition + local sort on the order key,
    2. per-partition running sums (partition-local window), truncated,
    3. tiny per-partition totals -> exclusive offsets on the driver,
    4. global prefix = offset literal for the row's partition + local
       running sum.

    Returns ``df`` plus one ``_cum_<col>`` column per input col, a lazy
    projection over the truncated stage like ``parallel_rank``'s. The key
    chain must be a unique total order. No global single-partition window
    anywhere. Backs agg-ks-test (two-sample CDF comparison); callers
    memoize it with ``Catalog.artifact``."""
    stage, offset, _ = _range_stage(
        df,
        keys,
        [(f"_cum_{c}", F.sum(c), F.sum(c).cast("long")) for c in cols],
    )
    return stage.withColumns(
        {f"_cum_{c}": offset(i) + F.col(f"_cum_{c}") for i, c in enumerate(cols)}
    ).drop("_pid")


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
