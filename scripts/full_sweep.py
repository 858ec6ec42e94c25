"""Full-corpus oracle sweep with per-entry Spark/oracle timings.

Runs ``dbtwiz_spark.testing.compare_entry`` over every corpus entry at
the given sf_dir, in registration order, in one session: the same
comparison as ``testing.run_all`` and the in-suite oracle gate
(``tests/test_corpus.py``), at a larger scale. Last-ulp float
divergences between the JVM and DuckDB only surface at volume, so run
it at sf0.1 after engine changes.

Prints one line per entry (total, Spark and oracle seconds, outcome),
the slowest entries, and last a one-line JSON summary: sf, entry and
green counts, wall time, and a result hash over the per-entry outcome
tuples, which changes if any entry's outcome or row count differs, and
the number of generated classes Janino compiled during the sweep.
Exits non-zero on any failure or if the sweep did not cover the whole
registry.

    python scripts/full_sweep.py [sf_dir]        # default sf0.1
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dbtwiz_spark.ops import CORPUS  # noqa: E402
from dbtwiz_spark.ops.common import clear_session_memos  # noqa: E402
from dbtwiz_spark.session import codegen_compile_count, get_spark  # noqa: E402
from dbtwiz_spark.testing import CompareResult, compare_entry, duckdb_con  # noqa: E402


def _secs(v: float | None) -> str:
    return "   n/a" if v is None else f"{v:6.2f}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    con = duckdb_con(sf_dir)
    compiles_start = codegen_compile_count(spark)
    t_start = time.time()
    results, rows = [], []
    for i, name in enumerate(CORPUS):
        t0 = time.time()
        # each side is timed inside compare_entry around its single
        # execution, so a side's number survives when the other raises
        timings: dict = {}
        try:
            res = compare_entry(spark, name, sf_dir, con, timings=timings)
        except Exception as e:  # noqa: BLE001 — reported, not raised
            res = CompareResult(name, False, f"EXCEPTION: {type(e).__name__}: {e}")
        sec = time.time() - t0
        results.append(res)
        rows.append((sec, name))
        print(
            f"{i:3d} {name:36s} {sec:7.2f}s (spark {_secs(timings.get('spark_s'))}s"
            f" oracle {_secs(timings.get('oracle_s'))}s) ok={res.ok} {res.detail[:80]}",
            flush=True,
        )
    wall_s = time.time() - t_start
    compiles = codegen_compile_count(spark) - compiles_start
    con.close()
    # bound session storage like testing.run_all does
    clear_session_memos()

    print("slowest 15:")
    for sec, name in sorted(rows, reverse=True)[:15]:
        print(f"  {sec:7.2f}s  {name}")

    # order-independent outcome hash: any flip in ok/rows changes it
    h = hashlib.sha256()
    for r in sorted(results, key=lambda r: r.name):
        h.update(
            f"{r.name}|{r.ok}|{r.spark_rows}|{r.oracle_rows}\n".encode()
        )
    failures = [r.name for r in results if not r.ok]
    summary = {
        "sf_dir": sf_dir,
        "n_entries": len(results),
        "n_green": len(results) - len(failures),
        "wall_s": round(wall_s, 1),
        "result_hash": h.hexdigest(),
        "codegen_compiles": compiles,
        "failures": failures,
    }
    print(json.dumps(summary))
    # Survives `python -O` (a bare assert would strip) and names the
    # mismatch instead of dying with a raw AssertionError.
    if len(results) != len(CORPUS):
        print(
            f"corpus-size mismatch: swept {len(results)} entries but the "
            f"registry holds {len(CORPUS)}",
            file=sys.stderr,
        )
        sys.exit(1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
