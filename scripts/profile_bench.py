"""Per-query profiling harness for the bench set (optimization rounds).

Mirrors bench.py's methodology exactly (same session, same prime, same
warm-up-then-time loop) but additionally:

- captures ``explain("formatted")`` for every query into
  ``plans/<tag>/<query>_<suffix>.txt`` (regenerated on demand), and
- records ALL N samples per query (not just best/median) so a change can
  be adjudicated against the documented +-30% per-query host noise.

Usage:
    python scripts/profile_bench.py <tag> <suffix> [runs] [--queries a,b,c]

e.g.  python scripts/profile_bench.py r16 before 5
Writes plans/r16/<q>_before.txt and /tmp/profile_bench_<tag>_<suffix>.json
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    only: set[str] | None = None
    if "--queries" in sys.argv:
        only = set(sys.argv[sys.argv.index("--queries") + 1].split(","))

    plans_dir = REPO / "plans" / tag
    plans_dir.mkdir(parents=True, exist_ok=True)

    spark = bench._bench_session()
    from dbtwiz_spark.ops.common import views

    cat = views(spark, bench.SF_DIR)
    cat.prime()
    bench._bench_warehouse(spark)
    bench.q_insert_overwrite(cat)

    all_queries = {**bench.QUERIES, **bench.EXTRA_QUERIES}
    if only:
        all_queries = {k: v for k, v in all_queries.items() if k in only}

    results: dict[str, dict] = {}
    for name, build in all_queries.items():
        spark.sparkContext.setJobDescription(f"{name} [{suffix}]")

        def run_once() -> float:
            """Returns the BUILD seconds (Python plan construction, memo
            lookups); total time is measured by the caller."""
            t0 = time.perf_counter()
            d, a = build(cat)
            tb = time.perf_counter() - t0
            if a == "collect":
                d.collect()
            elif a != "done":
                d.write.format("noop").mode("overwrite").save()
            return tb

        run_once()  # warm-up (artifact builds, codegen)
        # capture the STEADY-STATE plan (memo artifacts built, primed
        # tables cached) — the shape the timed runs execute
        df, action = build(cat)
        if df is not None:
            (plans_dir / f"{name}_{suffix}.txt").write_text(_formatted_plan(df))
        samples, builds = [], []
        for _ in range(runs):
            t0 = time.perf_counter()
            tb = run_once()
            samples.append(round(time.perf_counter() - t0, 3))
            builds.append(round(tb, 3))
        results[name] = {
            "best": min(samples),
            "median": sorted(samples)[len(samples) // 2],
            "samples": samples,
            "build": builds,
            "action": action,
        }
        print(
            f"{name:28s} best={min(samples):6.3f} build~{min(builds):6.3f} "
            f"samples={samples}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)

    out = Path(f"/tmp/profile_bench_{tag}_{suffix}.json")
    out.write_text(json.dumps(results, indent=1))
    print(f"\nwrote {out}")
    ordered = sorted(results.items(), key=lambda kv: -kv[1]["best"])
    print("slowest by best-of-N:")
    for name, r in ordered[:12]:
        print(f"  {r['best']:6.3f}s  {name}")


if __name__ == "__main__":
    main()
