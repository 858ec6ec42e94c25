"""Regenerate CORPUS.md from the live registry (entry -> impl location,
check kind, one-line summary). Run after adding/renaming corpus entries."""

from __future__ import annotations

import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from dbtwiz_spark.ops import CORPUS  # noqa: E402

# rows-only entries (no DuckDB oracle by design: engine-specific hashes)
# and the oracle-carrying CERTIFICATE entry that quality-gates each one.
# A certificate is a hard oracle over the rows-only op's OUTPUT (recall
# floor vs an exact baseline, sortedness proof), so a green certificate
# certifies the rows-only op. This is the only op -> certificate map.
CERTIFICATES = {
    "sort-within-partitions": "sort-within-partitions-cert",
    "stream-dedup-near": "stream-dedup-near-cert",
    "ext-dedup-near": "ext-dedup-near-recall",
    "ext-dedup-simhash": "ext-dedup-simhash-recall",
    "ext-ann-lsh-bucket": "ext-ann-lsh-recall",
    "ext-ann-ivf": "ext-ann-ivf-recall",
}


def render() -> str:
    """The full CORPUS.md text from the live registry — exposed as a
    function (round 13) so tests/test_corpus.py can pin the committed
    doc against it: 63 of 286 line refs shipped stale in round 12
    because regeneration was a convention, not a guard."""
    missing = [
        n
        for pair in CERTIFICATES.items()
        for n in pair
        if n not in CORPUS
    ]
    # explicit raises, not asserts: `python -O` strips asserts, and a
    # regeneration that silently skips the linkage guards could ship a
    # CORPUS.md claiming certification that doesn't exist (same
    # rationale as full_sweep's corpus-size check)
    if missing:
        raise ValueError(f"CERTIFICATES names unregistered entries: {missing}")
    uncertified = [
        n
        for n, s in CORPUS.items()
        if s.oracle is None and n not in CERTIFICATES
    ]
    if uncertified:
        raise ValueError(
            f"rows-only entries with no certificate linkage: {uncertified}"
        )
    lines = [
        "# CORPUS — the oracle-checked operator inventory",
        "",
        "Generated from `dbtwiz_spark.ops.registry.CORPUS` (regenerate with",
        "`python scripts/gen_corpus_md.py`). Every entry is exposed through the",
        "driver contract (`__spark_entry__.queries()` / `oracle_sql()`); *rows-only*",
        "entries intentionally have no DuckDB oracle (engine-specific hashes or",
        "sketches) — each is instead certified by the oracle-carrying",
        "*certificate* entry named in its `check` column (a recall floor or",
        "quality proof over the rows-only op's own output, oracle-checked like",
        "any other entry), plus recall/quality tests in `tests/`.",
        "",
        f"**{len(CORPUS)} entries, "
        f"{sum(1 for s in CORPUS.values() if s.oracle)} with DuckDB value-hash oracles.**",
        "",
        "| # | entry | check | impl | summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(CORPUS.items()):
        code = spec.fn.__code__
        # repo-relative, so the rendered doc is the same from any checkout
        rel = Path(code.co_filename).resolve().relative_to(REPO_ROOT).as_posix()
        loc = f"{rel}:{code.co_firstlineno}"
        doc = (spec.doc or "").strip().splitlines()
        summary = (doc[0] if doc else "").rstrip(".")[:90]
        if spec.oracle:
            check = "oracle"
        else:
            check = f"rows-only, certified by `{CERTIFICATES[name]}`"
        lines.append(f"| {i} | `{name}` | {check} | `{loc}` | {summary} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    REPO_ROOT.joinpath("CORPUS.md").write_text(render())
    print(f"wrote CORPUS.md with {len(CORPUS)} entries")


if __name__ == "__main__":
    main()
