"""The write workload, ``build_backfill``: load a generated dbt-style
project, build it into an empty warehouse, rebuild it against the seeded
update batch, and backfill its events model over 30 days in 10 chunks.

A run does this once, in a fresh process, as the ``build`` and ``backfill``
commands do; its operations are the ``Runner.run`` calls: the build, the
rebuild, and each backfill chunk. Sources are read as parquet on every run
(no primed cache, no session memos). A traced run traces the same sequence.
"""

from __future__ import annotations

import os
from collections import defaultdict
from datetime import date
from pathlib import Path

import duckdb

import gen
import probes
from checks import canonical, checksum_sql
from harness import Run, log, median, now
from spans import self_times

SF = 0.01  # source scale factor
# set-ups per run; setup_s is their median. All but the first are a session
# restart and a project load, 0.1-0.25 s each, so many are affordable.
SETUPS = 9
BACKFILL = ("daily_events", date(2024, 1, 1), date(2024, 1, 30), 3)  # 10 chunks
WAREHOUSE_METHODS = ("create_view", "write_table", "insert_overwrite", "merge", "scd2_apply")


class Project:
    def __init__(self, run: Run):
        self.run = run
        self.root = run.work / "project"
        gen.make_project(self.root, run.seed, SF)
        self.manifest = self.variables = None
        self.groups = None
        self.phase = ""
        self.jobs: dict[str, int] = defaultdict(int)
        self.written: dict[str, float] = defaultdict(float)
        self.chunk_times: list[float] = []

    def setup(self) -> None:
        """Start the session and load the project."""
        from dbtwiz_spark.project import load_project

        def prepare(_spark):
            self.manifest, self.variables = load_project(self.root / "project")

        self.run.layers["project.load_s"] = (self.run.setup(prepare, SETUPS), "s")
        self.groups = probes.JobGroups(self.run.spark.sparkContext, f"perfbench{self.run.seed}")

    # -- instrumentation of the engine's public entry points -------------
    def instrument(self):
        """Wrap ``Warehouse``'s write methods and the runner's ``render``
        in spans (outermost call only), tagging each model's jobs with its
        own job group; returns the undo function."""
        import dbtwiz_spark.runner as runner_mod
        from dbtwiz_spark.materialize import Warehouse

        tr, depth = self.run.tracer, [0]
        saved = {m: getattr(Warehouse, m) for m in WAREHOUSE_METHODS}
        saved_render = runner_mod.render

        def wrap(method, fn):
            def wrapper(wh, name, *a, **k):
                if depth[0] or not tr.enabled:
                    return fn(wh, name, *a, **k)
                with tr.span("trace.probe"):
                    self.groups.set(f"{self.phase}:{name}")
                depth[0] += 1
                try:
                    with tr.span(f"materialize.{method}"):
                        return fn(wh, name, *a, **k)
                finally:
                    depth[0] -= 1

            return wrapper

        def render(*a, **k):
            with tr.span("macros.render"):
                return saved_render(*a, **k)

        for m, fn in saved.items():
            setattr(Warehouse, m, wrap(m, fn))
        runner_mod.render = render

        def undo():
            for m, fn in saved.items():
                setattr(Warehouse, m, fn)
            runner_mod.render = saved_render

        return undo

    def _run(self, original_run, phase: str):
        """``Runner.run`` timed from outside: one operation."""

        def timed_run(*a, **k):
            run, tr = self.run, self.run.tracer
            run.attempted += 1
            groups_before = len(self.groups.groups)
            if tr.enabled:
                with tr.span("trace.probe"):
                    self.groups.set(f"{phase}:run")
            t0 = now()
            try:
                with tr.span("runner.run"):
                    results = original_run(*a, **k)
            finally:
                if tr.enabled:
                    self.groups.clear()
            latency = now() - t0
            run.op_latencies.append(latency)
            if phase == "backfill":
                self.chunk_times.append(latency)
            bad = [r for r in results if r.status != "success"]
            if bad:
                run.fail(f"{phase}: {bad[0].model} {bad[0].status}: {bad[0].error}")
            if tr.enabled:
                with tr.span("trace.probe"):
                    counts = self.groups.counts(self.groups.groups[groups_before:])
                for key, value in counts.items():
                    self.jobs[f"{phase}.{key}"] += value
            return results

        return timed_run

    # -- the build, rebuild and backfill -----------------------------------
    def iteration(self) -> tuple[float, float, float]:
        """Build, rebuild and backfill into an empty warehouse, then check
        every table against DuckDB; returns the three durations."""
        from dbtwiz_spark.backfill import run_backfill
        from dbtwiz_spark.materialize import Warehouse
        from dbtwiz_spark.runner import Runner

        run, tr = self.run, self.run.tracer
        tr.run = "iteration"
        wh_root = run.work / "warehouse"
        wh = Warehouse(run.spark, str(wh_root))
        runner = Runner(run.spark, self.manifest, wh, dict(self.variables))
        original_run = runner.run
        files = {}
        times = []
        for phase, batch in (("build", "v0"), ("rebuild", "v1"), ("backfill", None)):
            self.phase = phase
            runner.run = self._run(original_run, phase)
            if batch:
                gen.use_batch(self.root, batch)
                runner.variables["snapshot_date"] = gen.SNAPSHOT_DATES[batch == "v1"]
            t0 = now()
            if phase == "backfill":
                model, first, last, days = BACKFILL
                with tr.span("backfill.run"):
                    chunks = run_backfill(runner, model, first, last, batch_size=days)
            else:
                runner.run("*")
            times.append(now() - t0)
            if phase == "backfill":
                for chunk, status in chunks:
                    if status != "success":
                        run.fail(f"backfill chunk {chunk}: {status}")
            if tr.enabled:
                after = _files(wh_root)
                new = [size for key, size in after.items() if key not in files]
                self.written["files"] += len(new)
                self.written["mb"] += sum(new) / probes.MB
                files = after
            log(f"{phase}: {times[-1]:.2f} s")
        self.check(wh)  # every model in its v1 state
        log("checked outputs")
        return tuple(times)

    def layer_metrics(self, phases: tuple[float, float, float]) -> None:
        """Self time of each layer over the traced iteration, and its
        counts."""
        run = self.run
        st = self_times(run.spans())
        run.report_overhead(st, sum(phases))
        for name, seconds in zip(("build_s", "rebuild_s", "backfill_s"), phases):
            run.layers[name] = (seconds, "s")
        run.layers["runner.self_s"] = (st.get("runner.run", 0.0), "s")
        run.layers["macros.render_s"] = (st.get("macros.render", 0.0), "s")
        for m in WAREHOUSE_METHODS:
            run.layers[f"materialize.{m}_s"] = (st.get(f"materialize.{m}", 0.0), "s")
        run.layers["materialize.files_written"] = (self.written["files"], "count")
        run.layers["materialize.mb_written"] = (self.written["mb"], "MB")
        run.layers["backfill.chunk_p50_s"] = (median(self.chunk_times), "s")
        run.layers["runner.jobs_per_model"] = (self.jobs["build.jobs"] / len(gen.MODELS), "count")
        for key in ("jobs", "stages", "tasks"):
            total = sum(self.jobs[f"{ph}.{key}"] for ph in ("build", "rebuild", "backfill"))
            run.layers[f"exec.{key}"] = (total, "count")

    # -- output checks ------------------------------------------------------
    def check(self, wh) -> None:
        """After the rebuild and the backfill: every model's row count and
        value checksum against DuckDB over the same sources (the merge and
        scd2 models hold rows of both batches), and per-partition totals of
        the backfilled model against the source events."""
        run = self.run
        con = self._oracle()
        try:
            for name in gen.MODELS:
                expected = _expected_sql(name)
                df = wh.read(name)
                schema = [(f.name, _kind(f.dataType)) for f in df.schema.fields]
                df.createOrReplaceTempView("perfbench_check")
                got = canonical(run.spark.sql(checksum_sql("perfbench_check", schema)).first())
                want = canonical(con.execute(checksum_sql(f"({expected}) t", schema)).fetchone())
                if got != want:
                    run.fail(f"{name}: checksum {got} != {want}")
            model, first, last, _ = BACKFILL
            totals = (
                "SELECT event_date, SUM(n_events) AS n, SUM(total_value) AS v "
                "FROM {t} WHERE event_date BETWEEN '{a}' AND '{b}' GROUP BY 1"
            )
            wh.read(model).createOrReplaceTempView("perfbench_check")
            got = {
                r[0]: canonical(r[1:])
                for r in run.spark.sql(
                    totals.format(t="perfbench_check", a=first, b=last)
                ).collect()
            }
            want = {
                r[0]: canonical(r[1:])
                for r in con.execute(totals.format(t=f"v1.{model}", a=first, b=last)).fetchall()
            }
            if got != want or len(got) != (last - first).days + 1:
                run.fail(f"backfill partition totals differ: {len(got)} vs {len(want)} days")
        finally:
            con.close()

    def _oracle(self) -> duckdb.DuckDBPyConnection:
        """DuckDB with schemas v0 and v1: each batch's sources as views and
        every model's SQL over them, rendered by the engine's own macros."""
        from dbtwiz_spark.macros import render

        con = duckdb.connect()
        for version, snapshot in zip(("v0", "v1"), gen.SNAPSHOT_DATES):
            con.execute(f"CREATE SCHEMA {version}")
            names = list(gen.SOURCES) + list(gen.MODELS)
            resolve = {n: f"{version}.{n}" for n in names}
            for src in gen.SOURCES:
                files = self.root / "batches" / version / src / "*.parquet"
                con.execute(
                    f"CREATE VIEW {version}.{src} AS SELECT * FROM read_parquet('{files}')"
                )
            for name, (_yml, sql) in gen.MODELS.items():
                body = render(sql, resolve=resolve, variables={"snapshot_date": snapshot})
                con.execute(f"CREATE VIEW {version}.{name} AS {body}")
        return con


def _expected_sql(name: str) -> str:
    """What each model should hold after the build of batch v0 and the
    rebuild with batch v1: table models and views are their SQL over the v1
    sources; the merge model is the v0 rows upserted with v1's; the scd2
    model is both snapshots with their validity intervals."""
    if name == "customers_current":
        return (
            "SELECT * FROM v1.customers_current UNION ALL "
            "SELECT * FROM v0.customers_current WHERE c_custkey NOT IN "
            "(SELECT c_custkey FROM v1.customers_current)"
        )
    if name == "customer_history":
        lead = "LEAD(snapshot_date) OVER (PARTITION BY c_custkey ORDER BY snapshot_date)"
        return (
            f"SELECT *, snapshot_date AS valid_from, {lead} AS valid_to, "
            f"{lead} IS NULL AS is_current FROM (SELECT * FROM v0.customer_history "
            "UNION ALL SELECT * FROM v1.customer_history) h"
        )
    return f"SELECT * FROM v1.{name}"


def _kind(dtype) -> str:
    from pyspark.sql.types import BooleanType, NumericType, StringType

    if isinstance(dtype, NumericType):
        return "number"
    if isinstance(dtype, StringType):
        return "string"
    if isinstance(dtype, BooleanType):
        return "boolean"
    return "other"


def _files(root: Path) -> dict[tuple[int, int], int]:
    """Parquet data files under ``root`` keyed by (inode, mtime): a file
    moved or hard-linked into place keeps its key and is not counted as
    written again."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, n))
                out[(st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def build_backfill(run: Run) -> None:
    p = Project(run)
    p.setup()
    undo = p.instrument()
    # one build, rebuild and backfill in a fresh process is what the `build`
    # and `backfill` commands cost; a traced run traces it
    run.tracer.enabled = run.traced
    try:
        phases = p.iteration()
    finally:
        run.tracer.enabled = False
        undo()
    run.e2e["first_pass_s"] = (sum(phases), "s")
    run.report_ops(run.op_latencies)
    run.report_memory()
    if run.traced:
        p.layer_metrics(phases)
