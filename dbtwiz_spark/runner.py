"""Model execution: manifest → macros → Catalyst → materializer (§3.1).

The reference's build path is: selector → manifest DAG → dbt compile
(Jinja→SQL) → warehouse jobs (dbtwiz/commands/build.py:46-124,
dbtwiz/dbt/run.py:8-44). Here the warehouse is Spark: each selected model's
SQL is rendered (ref() → physical table/view name), run through
``spark.sql`` — Catalyst owns optimization — and handed to the
materializer according to the model config, in topological order.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

from dbtwiz_spark.macros import render
from dbtwiz_spark.manifest import Manifest, Model
from dbtwiz_spark.materialize import Warehouse
from dbtwiz_spark.plans import require_partition_filter


@dataclass
class RunResult:
    """One model's outcome. ``rows`` is the number of rows this run wrote
    (dbt's ``rows_affected``), counted during the write: the whole table
    for a ``table`` build or an unpartitioned ``merge``, the rewritten
    partitions for ``insert_overwrite``, a partitioned ``merge`` and
    ``scd2``. None for views, ephemerals and models that did not succeed."""

    model: str
    status: str  # success | error | skipped
    rows: int | None = None
    error: str | None = None


@dataclass
class Runner:
    spark: SparkSession
    manifest: Manifest
    warehouse: Warehouse
    variables: dict = field(default_factory=dict)
    # dbt --defer: unbuilt parents fall back to this (e.g. prod) warehouse
    # when absent from the local one (reference sets defer+state for
    # state:modified builds, dbtwiz/commands/build.py:106-110)
    defer_warehouse: Warehouse | None = None
    # names already pre-registered by _register_unbuilt this process: a
    # backfill calls run() once per chunk, and re-reading every ancestor's
    # parquet schema + re-parsing every view SQL per chunk is pure waste —
    # unbuilt ancestors don't change between chunks, and ancestors built
    # mid-run refresh their own temp views at build time
    _preregistered: set = field(default_factory=set)

    def _sources_read(self, order: list[str]) -> list[str]:
        """The sources a run of ``order`` reads: the upstream closure of the
        selected models, walked through every parent whose SQL this run
        parses — views and ephemerals, built or not, and views persisted in
        either warehouse. A parent read back as a table stops the walk."""
        selected = set(order)
        whs = [w for w in (self.warehouse, self.defer_warehouse) if w is not None]
        seen: set[str] = set()
        stack = list(order)
        while stack:
            name = stack.pop()
            if name in seen:
                continue
            seen.add(name)
            model = self.manifest.models.get(name)
            if model is None:
                continue
            if (
                name in selected
                or model.materialized in ("view", "ephemeral")
                or any(name in w.views for w in whs)
            ):
                stack.extend(self.manifest.parent_map.get(name, ()))
        return [n for n in self.manifest.sources if n in seen]

    def _resolve_map(self, order: list[str] | None = None) -> dict[str, str]:
        """ref()/source() name → readable relation (temp view or path scan).

        Registers the sources ``order`` reads (every source when None). Each
        registration infers the source's schema, one Spark job, so a run
        skips the sources it never reads; the ones it does read are
        registered afresh on every call, since their files may change
        between runs."""
        out: dict[str, str] = {}
        names = self.manifest.sources if order is None else self._sources_read(order)
        for name in names:
            src = self.manifest.sources[name]
            self.spark.read.parquet(src.path).createOrReplaceTempView(name)
            out[name] = name
        for name, model in self.manifest.models.items():
            if model.materialized != "ephemeral":
                out[name] = name
        # ephemeral models inline as subqueries. Rendering one reads
        # self._resolve_cache, so publish the partial map FIRST (rendering
        # inside the dict-building loop crashed on the not-yet-assigned
        # attribute); topological order lets ephemerals reference other
        # ephemerals — parents are already inlined when a child renders.
        self._resolve_cache = out
        for name in self.manifest.topo_order():
            model = self.manifest.models[name]
            if model.materialized == "ephemeral":
                out[name] = f"({self._render(model)})"
        return out

    def _register_unbuilt(self, order: list[str]) -> None:
        """Make refs to models NOT built in this run resolvable: a partial
        selection (``--select child``, ``state:modified+``) must read
        parents built by a PREVIOUS invocation from the warehouse — in a
        fresh process there is no temp view left over from building them.
        Falls back to ``defer_warehouse`` when the local warehouse lacks
        the parent (dbt --defer: a dev build of modified models reads
        untouched parents from prod). Walks the ancestor closure in
        topological order so a persisted view's own parents are registered
        before its SQL is parsed."""
        selected = set(order)
        needed: set[str] = set()
        stack = [p for n in order for p in self.manifest.parent_map.get(n, ())]
        while stack:
            m = stack.pop()
            if m in needed or m in selected:
                continue
            needed.add(m)
            stack.extend(self.manifest.parent_map.get(m, ()))
        for name in self.manifest.topo_order():
            if name not in needed:
                continue
            model = self.manifest.models.get(name)
            if model is None or model.materialized == "ephemeral":
                continue  # sources register in _resolve_map; ephemerals inline
            if name in self._preregistered:
                continue
            for wh in (self.warehouse, self.defer_warehouse):
                if wh is None:
                    continue
                if name in wh.views or wh.exists(name):
                    try:
                        wh.read(name).createOrReplaceTempView(name)
                        if wh is self.warehouse:
                            # memoize LOCAL registrations only: a
                            # defer-warehouse (prod) fallback must re-resolve
                            # on the next run() — the local copy may have
                            # become readable mid-backfill, and pinning the
                            # prod snapshot would silently feed later chunks
                            # stale data
                            self._preregistered.add(name)
                        break
                    except Exception as e:  # noqa: BLE001 — a view whose own
                        # parent is mid-rebuild in THIS run can't parse yet;
                        # the failure will surface (with context) at the
                        # selected model that actually reads it. NO break:
                        # the defer warehouse may hold a readable copy
                        print(f"[runner] could not pre-register {name!r}: {e}")

    def _render(self, model: Model) -> str:
        return render(
            model.sql,
            resolve=self._resolve_cache,
            variables=self.variables,
            interval_start=self.variables.get("data_interval_start"),
            interval_end=self.variables.get("data_interval_end"),
        )

    def run(
        self,
        selector: str = "*",
        state: dict[str, str] | None = None,
        exclude: str | None = None,
        threads: int = 1,
        full_refresh: bool = False,
        fail_fast: bool = False,
    ) -> list[RunResult]:
        """Build the selected models in topological order, at most
        ``threads`` at a time (dbt's --threads): each pass over the order
        starts the first ready model while a slot is free, so width 1 runs
        the serial order. A failed model's downstream is SKIPPED (dbt
        semantics), not built on a missing table; an ephemeral model's own
        ``skipped`` does not cascade. Under ``fail_fast`` no model starts
        after the first error: in-flight models finish and the rest report
        skipped. Every model runs on a pool worker with a copy of the
        caller's local properties (job group, scheduler pool) and tags, so
        its jobs are attributed to the caller at every width."""
        order = self.manifest.select(selector, state=state, exclude=exclude)
        self._resolve_cache = self._resolve_map(order)
        self._register_unbuilt(order)
        selected = set(order)
        parents = {
            n: [p for p in self.manifest.parent_map.get(n, ()) if p in selected]
            for n in order
        }
        results: dict[str, RunResult] = {}
        failed: set[str] = set()  # errored, or skipped below an error
        running: dict = {}  # future -> model name
        halted = False
        with ThreadPoolExecutor(max_workers=threads) as pool:
            while True:
                for name in order if not halted else ():
                    if name in results or name in running.values():
                        continue
                    if any(p in failed for p in parents[name]):
                        failed.add(name)
                        results[name] = RunResult(name, "skipped", error="upstream failed")
                    elif len(running) < threads and all(p in results for p in parents[name]):
                        # one inheritable_thread_target call per model: each
                        # call clones the caller's properties once, and a
                        # clone shared by concurrent models would let one
                        # model's job group or execution id leak into another
                        target = inheritable_thread_target(self.spark)(self._attempt)
                        running[pool.submit(target, name, full_refresh)] = name
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = running.pop(fut)
                    results[name] = fut.result()
                    if results[name].status == "error":
                        failed.add(name)
                        halted = halted or fail_fast
        return [results.get(n) or RunResult(n, "skipped", error="fail-fast") for n in order]

    def _attempt(self, name: str, full_refresh: bool) -> RunResult:
        """One model's run; its exception becomes an error result, so one
        model's failure never stops the others (per-model isolation, like
        dbt)."""
        try:
            return self._run_model(self.manifest.models[name], full_refresh=full_refresh)
        except Exception as e:  # noqa: BLE001
            return RunResult(name, "error", error=f"{type(e).__name__}: {e}")

    def _run_model(self, model: Model, full_refresh: bool = False) -> RunResult:
        if model.materialized == "ephemeral":
            return RunResult(model.name, "skipped")  # inlined at use sites
        sql = self._render(model)
        df = self.spark.sql(sql)
        if model.materialized == "view":
            self.warehouse.create_view(model.name, sql)
            df.createOrReplaceTempView(model.name)
            return RunResult(model.name, "success")
        if model.require_partition_filter and model.partition_by:
            require_partition_filter(df, model.partition_by)
        # every write returns the row count it observed while writing, so
        # the published table is never counted again
        if model.materialized == "incremental" and full_refresh:
            # dbt --full-refresh (reference: dbtwiz/commands/build.py:116 →
            # dbt's full-refresh flag): drop-and-recreate the incremental
            # table from this run's output alone — the recovery path when
            # the schema changed shape between runs. write_table's publish
            # swap keeps the old state readable until the new one lands;
            # snapshot honors the model's own config, exactly like the
            # incremental path it replaces. Falls through to the shared
            # temp-view registration so downstream refs resolve.
            rows = self.warehouse.write_table(
                model.name,
                df,
                model.partition_by,
                model.cluster_by,
                snapshot=model.snapshot,
            )
        elif model.materialized == "table":
            rows = self.warehouse.write_table(
                model.name, df, model.partition_by, model.cluster_by
            )
        elif model.materialized == "incremental":
            if model.incremental_strategy == "merge":
                if not model.unique_key:
                    raise ValueError(f"{model.name}: merge requires unique_key")
                rows = self.warehouse.merge(
                    model.name, df, model.unique_key, model.partition_by
                )
            else:  # insert_overwrite (default, dbtwiz/model/create.py:456)
                if not model.partition_by:
                    raise ValueError(f"{model.name}: insert_overwrite requires partition_by")
                rows = self.warehouse.insert_overwrite(
                    model.name,
                    df,
                    model.partition_by,
                    model.cluster_by,
                    snapshot=model.snapshot,
                )
        elif model.materialized == "scd2":
            if not (model.unique_key and model.partition_by):
                raise ValueError(f"{model.name}: scd2 requires unique_key and partition_by")
            rows = self.warehouse.scd2_apply(
                model.name, df, model.unique_key, model.partition_by
            )
        else:
            raise ValueError(f"unknown materialization: {model.materialized}")
        # register the physical table as a view for downstream models
        self.warehouse.read(model.name).createOrReplaceTempView(model.name)
        return RunResult(model.name, "success", rows=rows)


    # -- compile / explain (dry run) ------------------------------------
    def compiled_sql(self, name: str, _memo: dict[str, str] | None = None) -> str:
        """Fully-inlined SQL for one model: every upstream ref() becomes a
        subquery, sources resolve to registered path views — so a model can
        be compiled and explained WITHOUT building any parent (the dbt
        `compile` + BigQuery dry-run analog; reference estimates bytes via
        dry run in dbtwiz/admin/backfill.py)."""
        from dbtwiz_spark.macros import extract_refs

        memo = _memo
        if memo is None:
            memo = {}
            # register source views ONCE per compile, not per recursive call
            # (each registration is a parquet schema read + catalog RPC)
            for src_name, src in self.manifest.sources.items():
                self.spark.read.parquet(src.path).createOrReplaceTempView(src_name)
        if name in memo:
            return memo[name]
        model = self.manifest.models[name]
        resolve: dict[str, str] = {}
        for dep in extract_refs(model.sql):
            if dep in self.manifest.models:
                resolve[dep] = f"({self.compiled_sql(dep, memo)})"
            else:
                resolve[dep] = dep  # source view
        sql = render(
            model.sql,
            resolve=resolve,
            variables=self.variables,
            interval_start=self.variables.get("data_interval_start"),
            interval_end=self.variables.get("data_interval_end"),
        )
        memo[name] = sql
        return sql

    def explain(self, name: str) -> tuple[str, str, list[str]]:
        """(compiled SQL, formatted physical plan, audit notes) for a model.

        The audit surfaces the scale properties the engine cares about:
        filter pushdown reaching the scan, join strategies, shuffle count,
        and the red flags (cartesian product, single-partition window)."""
        sql = self.compiled_sql(name)
        df = self.spark.sql(sql)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        notes: list[str] = []
        n_ex = plan.count("Exchange")
        notes.append(f"{n_ex} exchange(s) (shuffles/broadcasts)")
        if "PushedFilters: [" in plan and "PushedFilters: []" not in plan:
            notes.append("filter pushdown reaches the scan")
        for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                     "BroadcastNestedLoopJoin"):
            c = plan.count(f"{join} (")
            if c:
                notes.append(f"{c}x {join}")
        if "CartesianProduct" in plan:
            notes.append("WARNING: cartesian product — O(n*m) at scale")
        import re as _re

        for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0]
            if " ASC" in first or " DESC" in first:
                notes.append(
                    "WARNING: window without partitioning — single task sorts everything"
                )
                break
        if "BatchEvalPython" in plan:
            notes.append(
                "WARNING: row-at-a-time Python UDF in the plan — 10-100x "
                "slower than built-ins / pandas_udf at scale"
            )
        elif "ArrowEvalPython" in plan or "MapInPandas" in plan:
            notes.append("Arrow-vectorized Python stage present (ok, but "
                         "built-in expressions beat it where possible)")
        if "HashAggregate" in plan and "partial_" not in plan:
            # plan-GLOBAL heuristic: one partial aggregate anywhere
            # suppresses this note even if a second aggregate in the same
            # plan lacks its partial phase — a per-node check would need
            # to parse each HashAggregate's function list
            notes.append(
                "note: no map-side partial aggregation anywhere in the "
                "plan — the full input stream shuffles (expected for some "
                "distinct/first-value shapes; worth a look on large inputs)"
            )
        # NOTE: no blanket "Exchange SinglePartition" warning — Spark plans
        # a global ORDER BY as a parallel rangepartitioning exchange, and
        # the SinglePartition exchanges that DO appear (global aggregates
        # after map-side combine) carry tiny streams; the harmful case
        # (unpartitioned window) is caught above.
        return sql, plan, notes
