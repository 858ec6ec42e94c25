"""The read workload, ``warm_queries``.

bench.py's read queries run on a primed catalog in one long-lived session.
An operation is one query: the ops call that builds the DataFrame plus its
Spark action (collect for small results, the noop sink for large ones, as in
bench.py). The first pass of the fresh session is the cold path: JIT
warm-up and the similarity-index memo builds; its results are fetched and
checked. The steady passes that follow run with memos warm; a traced run
traces them.

The traced run then evicts every memo and runs the artifact-building
queries once, memo-cold, for the artifact and memo layers.
"""

from __future__ import annotations

from collections import defaultdict

import bench
import gen
import probes
from checks import Oracle
from harness import Run, log, now
from spans import self_times

# bench.py's 15 headline reads (bench.QUERIES minus the write) and the six
# non-iterative extras
WARM = [name for name in bench.QUERIES if name != "q_insert_overwrite"] + [
    "q_sliding_distinct",
    "q_rolling_corr",
    "q_ks_test",
    "q_survival_km",
    "q_holt_winters",
    "q_bootstrap_ci",
]
# the artifact-building queries: the iterative graph builds (memoised,
# lineage truncated per step), BPE training, the perplexity model and the
# two similarity indexes, which WARM also runs. q_hits, q_kcore and
# q_connected_components build artifacts too, but their corpus oracles are
# recursive DuckDB SQL that takes 6-20 s each on these inputs, which a run
# cannot afford, and every query a run makes is checked once.
ARTIFACTS = [
    "q_pagerank",
    "q_bfs_hops",
    "q_minplus_distance",
    "q_triangle_count",
    "q_dedup_near_lsh",
    "q_ann_ivf",
    "q_bpe_train",
    "q_perplexity_filter",
]
BUILDERS = {**bench.QUERIES, **bench.EXTRA_QUERIES}
SF = 0.01  # catalog scale factor
# set-ups per run; setup_s is their median. The first also starts the JVM;
# each later one restarts the session and primes again, 3-6 s.
SETUPS = 2


class Queries:
    """One catalog over the generated tables and the query loop over it."""

    def __init__(self, run: Run):
        self.run = run
        self.sf_dir = str(run.work / "tables")
        gen.make_tables(self.sf_dir, run.seed, SF)
        self.cat = None
        self.groups = None
        self.catalog_mb = 0.0
        # traced counters per pass kind ("warm" or "cold")
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def setup(self) -> None:
        """Start the session, open the catalog (``ops.common.views``) and
        prime it."""
        from dbtwiz_spark.ops.common import views

        run = self.run

        def prepare(spark):
            # views() keys its catalog on id(spark); the catalog it keeps
            # holds the stopped session, so a new one never reuses its id
            self.cat = views(spark, self.sf_dir)
            self.cat.prime()

        run.layers["catalog.prime_s"] = (run.setup(prepare, SETUPS), "s")
        self.catalog_mb = probes.storage_mb(run.spark)
        run.layers["catalog.cached_mb"] = (self.catalog_mb, "MB")
        self.groups = probes.JobGroups(run.spark.sparkContext, f"perfbench{run.seed}")

    def query(self, name: str, kind: str, fetch: bool = False):
        """Run one query; returns (latency, pandas result or None), or
        (None, None) when it raised. ``kind`` is "warm" (memo hits, span
        ``ops.build``) or "cold" (memos cleared, span ``ops.artifact``)."""
        run, tr = self.run, self.run.tracer
        traced = tr.enabled
        run.attempted += 1
        out = None
        try:
            t0 = now()
            with tr.span("query"):
                if traced:
                    with tr.span("trace.probe"):
                        g_build = self.groups.set(f"{name}:build")
                with tr.span("ops.build" if kind == "warm" else "ops.artifact"):
                    df, action = BUILDERS[name](self.cat)
                if traced:
                    with tr.span("catalyst.plan"):
                        qe = probes.plan(df)
                    with tr.span("trace.probe"):
                        phases = probes.plan_phases(run.spark, qe)
                        g_action = self.groups.set(f"{name}:action")
                with tr.span("exec.action"):
                    if fetch:
                        out = df.toPandas()
                    elif action == "collect":
                        df.collect()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            latency = now() - t0
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the run goes on
            run.fail(f"{name}: {type(e).__name__}: {e}")
            return None, None
        finally:
            if traced:
                self.groups.clear()
        if traced:
            counts = self.counts[kind]
            for phase, ms in phases.items():
                counts[f"catalyst.{phase}_ms"] += ms
            for key, value in self.groups.counts([g_build]).items():
                counts[f"ops.{key}"] += value
            for key, value in self.groups.counts([g_action]).items():
                counts[f"exec.{key}"] += value
        return latency, out

    def checked_pass(self, names: list[str], kind: str) -> float:
        """One pass in seeded order whose results are fetched to pandas and
        compared with DuckDB. Returns the summed query latencies; the
        DuckDB side is not counted."""
        oracle = Oracle(self.sf_dir)
        total = 0.0
        try:
            for name in gen.query_order(names, self.run.seed, 0):
                latency, got = self.query(name, kind, fetch=True)
                if latency is None:
                    continue
                total += latency
                try:
                    problem = oracle.check(name, got)
                except Exception as e:  # noqa: BLE001 - a check that raises is a failed check
                    problem = f"check raised {type(e).__name__}: {e}"
                if problem:
                    self.run.fail(f"{name}: wrong output: {problem}")
        finally:
            oracle.close()
        log(f"{kind} checked pass: {total:.2f} s")
        return total

    def timed_pass(self, index: int) -> float:
        """One memo-warm pass over WARM in seeded order; latencies go to
        the run's operations."""
        self.run.tracer.run = f"warm:{index}"
        total = 0.0
        for name in gen.query_order(WARM, self.run.seed, index):
            latency, _ = self.query(name, "warm")
            if latency is not None:
                total += latency
                self.run.op_latencies.append(latency)
        log(f"warm pass {index}: {total:.2f} s")
        return total

    def artifact_layers(self) -> None:
        """Evict every memo, then one traced memo-cold pass over ARTIFACTS,
        checked: the ops call's self time with memos cold, and the entries
        and storage the pass leaves behind."""
        run = self.run
        self.cat.clear_memos()
        run.tracer.run = "cold:0"
        run.tracer.enabled = True
        try:
            self.checked_pass(ARTIFACTS, "cold")
        finally:
            run.tracer.enabled = False
        run.layers["memo.cached_mb"] = (probes.storage_mb(run.spark) - self.catalog_mb, "MB")
        run.layers["memo.entries"] = (self.cat.clear_memos(), "count")

    def layer_metrics(self, passes: list[float]) -> None:
        """Per-pass self time of the ops call and the action, and per-pass
        counts, over the traced memo-warm ``passes``; the artifact numbers
        from the one memo-cold pass."""
        run, n = self.run, len(passes)
        spans = run.spans()
        warm = self_times([s for s in spans if s.run.startswith("warm:")])
        cold = self_times([s for s in spans if s.run.startswith("cold:")])
        run.report_overhead(warm, sum(passes))
        run.layers["ops.build_s"] = (warm.get("ops.build", 0.0) / n, "s")
        run.layers["exec.action_s"] = (warm.get("exec.action", 0.0) / n, "s")
        for key, total in self.counts["warm"].items():
            if not key.startswith("ops."):
                unit = "ms" if key.endswith("_ms") else "count"
                run.layers[key] = (total / n, unit)
        run.layers["ops.artifact_s"] = (cold.get("ops.artifact", 0.0), "s")
        run.layers["ops.artifact_jobs"] = (self.counts["cold"]["ops.jobs"], "count")


def warm_queries(run: Run) -> None:
    q = Queries(run)
    q.setup()
    run.e2e["first_pass_s"] = (q.checked_pass(WARM, "warm"), "s")
    passes = run.steady(q.timed_pass)
    run.report_ops(run.op_latencies)
    run.report_memory()
    if run.traced:
        q.artifact_layers()
        q.layer_metrics(passes)
