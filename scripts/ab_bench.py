"""Interleaved A/B bench harness — the adjudication experiment as a tool.

Three rounds running (r13 extras drift, r14 round-boundary drift, r15
watch-pair creep) the bench log's verdict rested on the same hand-rolled
experiment: two git worktrees, interleaved full-bench runs, both
normalization probes, per-query quotes, one markdown table. This script
IS that experiment, so the next adjudication starts from
`python scripts/ab_bench.py --old <ref>` instead of a shell scratchpad,
and its table pastes straight into BENCHLOG.md.

Design constraints carried over from the precedents:

* **Interleaved**, not batched (old, new, old, new): host drift within
  the experiment shows up as a sign flip between pairs instead of
  silently biasing whichever tree ran last (the r15 experiment measured
  extras rising ~6% per run in wall-clock order regardless of tree).
* **Per-query quotes**: pass --queries to put named queries in the
  table; the r14 verdict's lesson is that aggregate normalizations can
  adjudicate while the actual watch queries go unquoted.

Usage:
    python scripts/ab_bench.py --old d49004b                 # vs HEAD
    python scripts/ab_bench.py --old r10tag --new r15tag \
        --pairs 2 --queries q_window_running,q_set_except

Writes nothing into the repo; prints the markdown table and one JSON
line with every raw result. Worktrees are created under /tmp and
removed afterwards (kept with --keep-worktrees for post-hoc digging).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: metrics rows always shown, in order (missing keys render as —)
_METRICS = (
    "value",
    "extras_total",
    "calibration",
    "calibration_spark",
    "calibration_io",
    "headline_per_calibration",
    "headline_per_calibration_spark",
    "headline_per_calibration_io",
    "extras_per_calibration_io",
)


def _run(cmd: list[str], cwd: Path, env: dict | None = None) -> str:
    res = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True
    )
    if res.returncode != 0:
        raise RuntimeError(
            f"{' '.join(cmd)} in {cwd} failed (rc {res.returncode}):\n"
            + res.stderr[-2000:]
        )
    return res.stdout


def _bench_once(tree: Path, sf_dir: str, cpus: str) -> dict:
    """One full bench of ``tree``; returns the parsed JSON line."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=cpus)
    out = _run([sys.executable, "bench.py"], tree, env)
    for line in reversed(out.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON line in bench output from {tree}")


def _cell(result: dict, key: str) -> str:
    v = result.get(key)
    if v is None:
        return "—"
    if not isinstance(v, float):
        return str(v)
    # seconds rows get 3 decimals, normalization ratios 2 (the BENCHLOG
    # table convention)
    digits = 2 if "_per_" in key else 3
    return f"{v:.{digits}f}"


def table(
    olds: list[dict], news: list[dict], old: str, new: str,
    queries: list[str],
) -> str:
    cols, heads = [], []
    for i, (a, b) in enumerate(zip(olds, news), 1):
        cols += [a, b]
        heads += [f"{old} p{i}", f"{new} p{i}"]
    lines = [
        "| metric | " + " | ".join(heads) + " |",
        "|---|" + "---|" * len(heads),
    ]
    for m in _METRICS:
        lines.append(
            f"| {m} | " + " | ".join(_cell(r, m) for r in cols) + " |"
        )
    for q in queries:
        # watch queries live in either timing dict — the r13 precedent
        # experiment quoted extras queries (q_survival_km, q_ks_test),
        # which a headline-only lookup would render as —
        def _q(r: dict) -> str:
            v = r.get("queries", {}).get(q, r.get("extras", {}).get(q))
            return f"{v:.3f}" if v is not None else "—"

        lines.append(
            f"| {q} (s) | " + " | ".join(_q(r) for r in cols) + " |"
        )
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--old", required=True, help="git ref of the old tree")
    ap.add_argument("--new", default="HEAD", help="git ref (default HEAD)")
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument(
        "--queries",
        default="",
        help="comma-separated query names to quote per run",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--keep-worktrees", action="store_true")
    args = ap.parse_args()
    queries = [q for q in args.queries.split(",") if q]

    trees: dict[str, Path] = {}
    # One private mkdtemp parent; worktrees are children git creates
    # inside it. Avoids the delete-then-recreate of a world-visible
    # /tmp name (TOCTOU on shared machines — r15 ADVICE).
    parent = Path(tempfile.mkdtemp(prefix="ab_bench_"))
    try:
        for ref in (args.old, args.new):
            if ref in trees:
                continue
            safe = "".join(
                c if c.isalnum() or c in "._-" else "-" for c in ref[:12]
            )
            path = parent / f"{len(trees)}_{safe}"  # index: sanitized refs can collide
            # --detach: a ref that is a checked-out branch name (e.g.
            # --new main) would otherwise fail with 'already checked
            # out' (r15 ADVICE)
            _run(
                ["git", "worktree", "add", "--detach", str(path), ref],
                REPO,
            )
            trees[ref] = path
        olds, news = [], []
        for pair in range(1, args.pairs + 1):
            print(f"== pair {pair}: {args.old} ==", file=sys.stderr)
            olds.append(_bench_once(trees[args.old], args.sf_dir, args.cpus))
            print(f"== pair {pair}: {args.new} ==", file=sys.stderr)
            news.append(_bench_once(trees[args.new], args.sf_dir, args.cpus))
        print(table(olds, news, args.old, args.new, queries))
        print(
            json.dumps(
                {
                    "old": args.old,
                    "new": args.new,
                    "sf_dir": args.sf_dir,
                    "pairs": [
                        {"old": a, "new": b} for a, b in zip(olds, news)
                    ],
                }
            )
        )
    finally:
        if not args.keep_worktrees:
            for path in trees.values():
                subprocess.run(
                    ["git", "worktree", "remove", "--force", str(path)],
                    cwd=REPO,
                    capture_output=True,
                )
            shutil.rmtree(parent, ignore_errors=True)


if __name__ == "__main__":
    main()
