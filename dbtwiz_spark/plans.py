"""Plan-level pre-flight checks.

The reference enforces `require_partition_filter: True` on incremental
models (dbtwiz/model/create.py:465): BigQuery rejects queries on such tables
without a partition-column predicate. Spark/parquet has no such server-side
enforcement, so the engine checks the *analyzed logical plan* for a filter
referencing the partition column before executing — partition pruning itself
is Catalyst's job; this is only the guard rail.

At 100 TB a missing partition filter is the difference between scanning one
date directory and scanning the whole table, which is why the check refuses
rather than warns.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


class MissingPartitionFilter(Exception):
    """Raised when a plan on a partition-filter-required table has no
    predicate on the partition column."""


def _alias_edges(plan: str) -> dict[str, set[str]]:
    """Map each aliased attribute id -> the attribute ids its defining
    expression references, by parsing ``<expr> AS <name>#<id>`` items inside
    the plan's bracketed expression lists (Project/Aggregate/Window).

    Needed because ``SELECT partitiondate AS pd ... WHERE pd = ...`` filters
    a NEW exprId while the base relation still carries the original one —
    the guard must follow the alias chain or it rejects a plan Catalyst
    would actually prune."""
    edges: dict[str, set[str]] = {}
    for line in plan.splitlines():
        lb, rb = line.find("["), line.rfind("]")
        if lb < 0 or rb <= lb:
            continue
        body = line[lb + 1 : rb]
        # split at top-level commas only ((), [] nest inside expressions)
        items, depth, start = [], 0, 0
        for i, ch in enumerate(body):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                items.append(body[start:i])
                start = i + 1
        items.append(body[start:])
        for item in items:
            m = re.search(r"(.*) AS \w+#(\d+)\s*$", item)
            if m:
                srcs = set(re.findall(r"#(\d+)", m.group(1)))
                if srcs:
                    edges.setdefault(m.group(2), set()).update(srcs)
    return edges


def _closure(ids: set[str], edges: dict[str, set[str]]) -> set[str]:
    seen, stack = set(ids), list(ids)
    while stack:
        for src in edges.get(stack.pop(), ()):
            if src not in seen:
                seen.add(src)
                stack.append(src)
    return seen


def has_partition_filter(df: DataFrame, partition_col: str) -> bool:
    """True if the analyzed plan filters ``partition_col`` on EVERY base
    relation that carries it.

    The check matches attribute IDs, not just the column name: in a join
    where two relations both have the conventional ``partitiondate`` column,
    a filter on only the dimension's copy must not satisfy the guard for the
    fact table — that is precisely the full-scan this check exists to
    refuse. Filters through an alias (``SELECT partitiondate AS pd ... WHERE
    pd = ...``) count: filter-referenced ids are expanded transitively
    through the plan's alias definitions back to base-relation ids."""
    pat = re.compile(rf"\b{re.escape(partition_col)}#(\d+)")
    plan = df._jdf.queryExecution().analyzed().toString()
    rel_ids: set[str] = set()
    filt_ids: set[str] = set()
    id_pat = re.compile(r"#(\d+)")
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-: ")
        if stripped.startswith("Filter"):
            filt_ids.update(id_pat.findall(stripped))
        elif stripped.startswith(("Relation", "FileScan")):
            rel_ids.update(pat.findall(stripped))
    reachable = _closure(filt_ids, _alias_edges(plan))
    if not rel_ids:
        # column never read from a base relation (renamed/computed upstream)
        # — fall back to "some filter reaches an attribute with that name"
        named_ids = set(pat.findall(plan))
        return bool(reachable & named_ids) if named_ids else False
    return rel_ids <= reachable


def require_partition_filter(df: DataFrame, partition_col: str) -> DataFrame:
    """Pre-flight assert: refuse plans lacking a partition predicate."""
    if not has_partition_filter(df, partition_col):
        raise MissingPartitionFilter(
            f"query must filter on partition column {partition_col!r} "
            "(require_partition_filter is set for this table)"
        )
    return df
