#!/usr/bin/env python3
"""Benchmark of the dbtwiz_spark engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (README.md says why each was chosen, and what each metric is):

- ``warm_queries``: 21 read queries on a primed catalog, session memos warm.
- ``build_backfill``: a generated dbt-style project built into an empty
  warehouse, rebuilt against an update batch, and backfilled in 10 chunks.

Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
checkout, which is removed at exit. Every output is checked against DuckDB
outside the timed region. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Everything else the run prints goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "ops_per_s": "1/s",
    "heap_live_mb": "MB",
}
# per-layer metrics and their units; a workload that does not use a layer
# reports 0 for it
PER_LAYER = {
    "op_p50_s": "s",
    "session.start_s": "s",
    "catalog.prime_s": "s",
    "catalog.cached_mb": "MB",
    "build_s": "s",
    "rebuild_s": "s",
    "backfill_s": "s",
    "ops.build_s": "s",
    "ops.artifact_s": "s",
    "ops.artifact_jobs": "count",
    "memo.entries": "count",
    "memo.cached_mb": "MB",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "project.load_s": "s",
    "runner.self_s": "s",
    "runner.jobs_per_model": "count",
    "macros.render_s": "s",
    "materialize.create_view_s": "s",
    "materialize.write_table_s": "s",
    "materialize.insert_overwrite_s": "s",
    "materialize.merge_s": "s",
    "materialize.scd2_apply_s": "s",
    "materialize.files_written": "count",
    "materialize.mb_written": "MB",
    "backfill.chunk_p50_s": "s",
    "jvm.peak_rss_mb": "MB",
    "host.calibration_cpu_s": "s",
    "host.calibration_spark_s": "s",
    "host.calibration_io_s": "s",
    "trace.overhead_frac": "ratio",
}


def _environment(work: Path) -> None:
    """Scratch, Spark local dirs and the JVM's temp dir all inside ``work``;
    the engine sees every core of the host."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = str(tmp)


def _calibrate(run) -> None:
    """bench.py's three host probes (CPU, Spark scheduling, disk), once
    each after their warm-up: they move no metric and tell host drift from
    code changes. Each is timed from outside, as the probes round their own
    result to the millisecond."""
    import bench
    from harness import now

    def timed(probe, *args) -> float:
        t0 = now()
        probe(*args)
        return now() - t0

    run.layers["host.calibration_cpu_s"] = (timed(bench._calibrate, run.spark, 1), "s")
    run.layers["host.calibration_spark_s"] = (timed(bench._calibrate_spark, run.spark, 1), "s")
    cwd = os.getcwd()
    os.chdir(run.work)  # the I/O probe writes its file in the working directory
    try:
        run.layers["host.calibration_io_s"] = (timed(bench._calibrate_io, 1), "s")
    finally:
        os.chdir(cwd)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("warm_queries", "build_backfill"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / "dbtwiz_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no engine source next to {HERE}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # the result goes to the real stdout; everything else (engine prints,
    # Spark and JVM output, which inherits fd 1) goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    _environment(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        from harness import Run, log

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        import queries
        import writes

        workloads = {
            "warm_queries": queries.warm_queries,
            "build_backfill": writes.build_backfill,
        }
        try:
            workloads[args.workload](run)
            if run.traced:
                _calibrate(run)
        finally:
            run.shutdown()
            log("session stopped")
        for error in run.errors:
            log(f"FAILED {error}")
        if run.traced:
            values = {n: run.layers.get(n, (0.0,))[0] for n in PER_LAYER}
        else:
            values = {n: run.e2e[n][0] for n in END_TO_END}
        units = PER_LAYER if run.traced else END_TO_END
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
        }
        print(json.dumps(result), file=result_out, flush=True)
        return 0
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


if __name__ == "__main__":
    sys.exit(main())
