"""Seeded input generation for the benchmark.

Everything the engine sees comes from here, as a pure function of the seed:

- ``make_tables``: the ten catalog tables (TPC-H-ish star schema, the
  ``events`` stream, ``documents`` and ``embeddings``) with the schemas and
  value domains of the engine's test data (FIXTURES.md), one single-row-group
  parquet file per table, like the test data.
- ``make_project``: a dbt-style project (views, a table, a partitioned table,
  an ``insert_overwrite`` incremental, a ``merge`` incremental and an ``scd2``
  model) over three sources, plus the seeded update batch the rebuild reads.
- ``query_order``: the per-pass query order.

``fingerprint`` hashes what a generator produced, so the self-test can show
that one seed always yields the same inputs and another seed different ones.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at sf 1 (the test data's sf0.01 has 1/100 of these).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
EVENTS_START = datetime(2024, 1, 1)
EVENT_DAYS = 30


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table): adding a table or
    changing one table's recipe never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with at most two decimals (the engine's exact-decimal
    devices assume source values carry <= 2 decimals)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, first: datetime, last: datetime, n: int) -> np.ndarray:
    span = (last - first).days
    return np.datetime64(first, "us") + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _customers(seed: int, n: int, stream: str = "customer") -> pa.Table:
    rng = _rng(seed, stream)
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )


def _orders(seed: int, n: int, n_cust: int, first_key: int = 0) -> pa.Table:
    rng = _rng(seed, f"orders:{first_key}")
    return pa.table(
        {
            "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }
    )


def _events(seed: int, n: int, n_users: int, first_id: int, day0: int, days: int):
    rng = _rng(seed, f"events:{first_id}")
    offsets = np.sort(rng.integers(0, days * 86_400_000_000, n))
    start = np.datetime64(EVENTS_START, "us") + np.timedelta64(day0, "D")
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": _money(rng, 0.01, 490.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(seed: int, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; about one in
    twenty is a near-duplicate of an earlier one (its text plus a
    trailing ``dup`` token), which the near-dedup queries must find."""
    rng = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(seed: int, n: int) -> pa.Table:
    """Unit vectors weakly clustered around ten label centres."""
    rng = _rng(seed, "embeddings")
    labels = rng.integers(0, 10, n)
    centres = rng.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    vecs = 0.5 * centres[labels] + rng.normal(scale=EMBED_DIM**-0.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def table_rows(sf: float) -> dict[str, int]:
    rows = {t: max(10, int(n * sf)) for t, n in ROWS_PER_SF.items()}
    rows["documents"] = max(500, int(50_000 * sf))
    rows["embeddings"] = max(500, int(20_000 * sf))
    rows["users"] = max(10, int(15_000 * sf))
    return rows


def make_tables(out_dir: str | os.PathLike, seed: int, sf: float) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir`` as
    ``<table>.parquet``; returns the row count per table."""
    out = Path(out_dir)
    rows = table_rows(sf)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li = rows["orders"], rows["lineitem"]
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": _customers(seed, n_cust),
        "orders": _orders(seed, n_ord, n_cust),
        "events": _events(seed, rows["events"], rows["users"], 0, 0, EVENT_DAYS),
        "documents": _documents(seed, rows["documents"]),
        "embeddings": _embeddings(seed, rows["embeddings"]),
    }
    rng = _rng(seed, "supplier")
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    rng = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (keys % 1000) / 10.0,
        }
    )
    rng = _rng(seed, "lineitem")
    # (l_orderkey, l_linenumber) is unique, as in TPC-H: the engine's
    # window queries order by it to break ties, and a duplicate would make
    # their frames, and so their results, depend on the engine
    orderkeys = np.sort(rng.integers(0, n_ord, n_li))
    starts = np.flatnonzero(np.r_[True, orderkeys[1:] != orderkeys[:-1]])
    linenumbers = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": orderkeys.astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": linenumbers.astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_li),
        }
    )
    for name, table in tables.items():
        _write(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# dbt-style project for the build/backfill workload
# --------------------------------------------------------------------------

# snapshot dates the scd2 model stamps on the build and on the rebuild
SNAPSHOT_DATES = ("2024-02-01", "2024-02-02")

MODELS: dict[str, tuple[str, str]] = {
    # name: (sidecar yml, sql). The SQL is portable between Spark and
    # DuckDB, so the output checks run the same text on the oracle side.
    "stg_orders": (
        "materialized: view\n",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,\n"
        "       o_orderdate, o_orderpriority\n"
        "FROM {{ source('src_orders') }}\n",
    ),
    "stg_customers": (
        "materialized: view\n",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment\n"
        "FROM {{ source('src_customers') }}\n",
    ),
    "customer_revenue": (
        "materialized: table\n",
        "SELECT c.c_custkey, c.c_mktsegment, COUNT(o.o_orderkey) AS n_orders,\n"
        "       CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)\n"
        "            AS DECIMAL(28,2)) AS revenue\n"
        "FROM {{ ref('stg_customers') }} c\n"
        "LEFT JOIN {{ ref('stg_orders') }} o ON o.o_custkey = c.c_custkey\n"
        "GROUP BY c.c_custkey, c.c_mktsegment\n",
    ),
    "orders_monthly": (
        "materialized: table\npartition_by: o_month\n",
        "SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS o_month,\n"
        "       o_orderstatus, COUNT(*) AS n_orders,\n"
        "       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))\n"
        "           AS total\n"
        "FROM {{ ref('stg_orders') }}\n"
        "GROUP BY 1, 2\n",
    ),
    "daily_events": (
        "materialized: incremental\n"
        "incremental_strategy: insert_overwrite\n"
        "partition_by: event_date\n",
        "SELECT substr(CAST(ts AS STRING), 1, 10) AS event_date, event_type,\n"
        "       COUNT(*) AS n_events,\n"
        "       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2))\n"
        "           AS total_value\n"
        "FROM {{ source('src_events') }}\n"
        "{% if is_backfill %}"
        "WHERE ts >= {{ interval_start() }} AND ts < {{ interval_end() }}\n"
        "{% endif %}"
        "GROUP BY 1, 2\n",
    ),
    "customers_current": (
        "materialized: incremental\n"
        "incremental_strategy: merge\n"
        "unique_key: c_custkey\n",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment\n"
        "FROM {{ source('src_customer_changes') }}\n",
    ),
    "customer_history": (
        "materialized: scd2\nunique_key: c_custkey\npartition_by: snapshot_date\n",
        "SELECT c_custkey, c_mktsegment, c_acctbal,\n"
        "       '{{ var(\"snapshot_date\") }}' AS snapshot_date\n"
        "FROM {{ source('src_customer_changes') }}\n",
    ),
}

SOURCES = ("src_orders", "src_customers", "src_customer_changes", "src_events")


def make_project(root: str | os.PathLike, seed: int, sf: float) -> dict[str, int]:
    """Write the project under ``root``:

    - ``project/``: ``project.yml``, ``sources.yml`` and ``models/``; every
      source points at ``sources/<name>/``, which starts empty.
    - ``batches/v0/<source>/``: the initial load.
    - ``batches/v1/<source>/``: the seeded update batch: new orders, new
      events for two more days, and a customer-change batch (changed
      balances and segments plus new customers), with ``src_customers``
      the full customer table after those changes.

    ``use_batch`` publishes a batch into ``sources/``. Returns row counts
    of the v0 and v1 batches."""
    root = Path(root)
    rows = table_rows(sf)
    n_cust, n_ord, n_ev = rows["customer"], rows["orders"], rows["events"]
    rng = _rng(seed, "project")
    cust0 = _customers(seed, n_cust, "project_customers")
    n_changed, n_new = max(1, n_cust // 10), max(1, n_cust // 20)
    changed = np.sort(rng.choice(n_cust, n_changed, replace=False))
    chg = cust0.take(pa.array(changed)).to_pydict()
    chg["c_acctbal"] = list(_money(rng, -999.99, 9999.99, n_changed))
    chg["c_mktsegment"] = [SEGMENTS[i] for i in rng.integers(0, 5, n_changed)]
    new = _customers(seed + 1, n_cust + n_new, "project_new_customers").slice(n_cust)
    changes = pa.concat_tables([pa.table(chg, schema=cust0.schema), new])
    full1 = cust0.to_pydict()
    for i, key in enumerate(changed):
        full1["c_acctbal"][key] = chg["c_acctbal"][i]
        full1["c_mktsegment"][key] = chg["c_mktsegment"][i]
    full1 = pa.concat_tables([pa.table(full1, schema=cust0.schema), new])

    batches = {
        "v0": {
            "src_orders": [_orders(seed, n_ord, n_cust)],
            "src_customers": [cust0],
            "src_customer_changes": [cust0],
            "src_events": [_events(seed, n_ev, rows["users"], 0, 0, EVENT_DAYS)],
        },
        "v1": {
            "src_orders": [
                _orders(seed, n_ord, n_cust),
                _orders(seed, n_ord // 10, n_cust + n_new, first_key=n_ord),
            ],
            "src_customers": [full1],
            "src_customer_changes": [changes],
            "src_events": [
                _events(seed, n_ev, rows["users"], 0, 0, EVENT_DAYS),
                _events(seed, n_ev // 15, rows["users"], n_ev, EVENT_DAYS, 2),
            ],
        },
    }
    counts: dict[str, int] = {}
    for version, sources in batches.items():
        for src, parts in sources.items():
            for i, table in enumerate(parts):
                _write(table, root / "batches" / version / src / f"part-{i}.parquet")
            counts[f"{version}.{src}"] = sum(t.num_rows for t in parts)

    proj = root / "project"
    (proj / "models").mkdir(parents=True, exist_ok=True)
    for src in SOURCES:
        (root / "sources" / src).mkdir(parents=True, exist_ok=True)
    (proj / "project.yml").write_text(
        f"name: perfbench\nvars:\n  snapshot_date: '{SNAPSHOT_DATES[0]}'\n"
    )
    (proj / "sources.yml").write_text(
        "sources:\n"
        + "".join(
            f"  - name: {src}\n    path: {root / 'sources' / src}\n" for src in SOURCES
        )
    )
    for name, (yml, sql) in MODELS.items():
        (proj / "models" / f"{name}.sql").write_text(sql)
        (proj / "models" / f"{name}.yml").write_text(yml)
    return counts


def use_batch(root: str | os.PathLike, version: str) -> None:
    """Publish batch ``version`` as the project's sources: each source
    directory is emptied and the batch's files are hard-linked in under
    version-qualified names, so a reader never sees a reused file name
    with new content."""
    root = Path(root)
    for src in SOURCES:
        dst = root / "sources" / src
        for f in dst.iterdir():
            f.unlink()
        for f in sorted((root / "batches" / version / src).iterdir()):
            os.link(f, dst / f"{version}-{f.name}")


# --------------------------------------------------------------------------
# query order and fingerprints
# --------------------------------------------------------------------------


def query_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """The seeded order of one pass over ``names``."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def fingerprint(path: str | os.PathLike) -> str:
    """Content hash of every file under ``path``: parquet files by their
    decoded rows (so writer metadata cannot mask or fake a difference),
    other files by their bytes with ``path`` itself masked out, each keyed
    by its relative path."""
    path = Path(path)
    h = hashlib.sha256()
    for f in sorted(p for p in path.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(path)).encode())
        if f.suffix == ".parquet":
            h.update(repr(pq.read_table(f).to_pydict()).encode())
        else:
            h.update(f.read_bytes().replace(str(path).encode(), b"<root>"))
    return h.hexdigest()
