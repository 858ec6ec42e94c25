"""Output checks against DuckDB, run outside every timed region.

Query results are compared with ``dbtwiz_spark.testing``'s normalisation
(columns by name, rows sorted by every column) against the corpus oracle of
the query's operator where the corpus has one, and otherwise against the
DuckDB SQL below. Floats are compared to a relative 1e-9: the exact
cross-engine hash gate is the corpus test suite's job; here a wrong answer
must fail, a last-ulp difference in a sum need not.

The two approximate operators (MinHash-LSH near-dedup and the IVF index)
have no exact oracle; their outputs are checked for what they promise: every
reported pair is exact (its similarity equals DuckDB's), and recall against
DuckDB's exact answer clears the bound the corpus certifies.

Warehouse tables are checked by row count and a value checksum computed by
the same SQL on both engines.
"""

from __future__ import annotations

import math
from decimal import Decimal

import pandas as pd

from dbtwiz_spark.ops.registry import CORPUS
from dbtwiz_spark.testing import _normalize, duckdb_con

# bench query -> the ops function it calls (whose corpus entry holds the oracle)
OPS_FUNCTION = {
    "q1_pricing_summary": "agg_group_by",
    "q_window_running": "win_running_agg",
    "q_asof_join": "join_asof",
    "q_sessionize": "stream_session_window",
    "q_rollup": "agg_rollup",
    "q_set_except": "set_except",
    "q_salted_skew": "agg_salted_skew",
    "q_stream_tumbling": "stream_tumbling_window",
    "q_dedup_exact": "ext_dedup_exact",
    "q_tfidf": "ext_text_tfidf",
    "q_pagerank": "graph_pagerank",
    "q_bpe_train": "ext_bpe_train",
    "q_sliding_distinct": "agg_sliding_distinct",
    "q_rolling_corr": "win_rolling_corr",
    "q_triangle_count": "graph_triangle_count",
    "q_ks_test": "agg_ks_test",
    "q_survival_km": "agg_survival_km",
    "q_holt_winters": "win_holt_winters",
    "q_bootstrap_ci": "agg_bootstrap_ci",
    "q_perplexity_filter": "ext_perplexity_filter",
    "q_bfs_hops": "graph_bfs_hops",
    "q_minplus_distance": "graph_minplus_distance",
}

# bench queries built inline in bench.py (no corpus entry of their own)
ORACLE_SQL = {
    "q5_revenue_by_nation": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                    AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q_top_customers": """
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total DESC, c_custkey
        LIMIT 100
    """,
}

# exact cosine of every (query, candidate) pair for a query sample, in
# double, with per-vector norms; the schema the ANN/top-k checks read
_COSINE_SQL = """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings)
    SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id, c.label AS label,
           list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cosine
    FROM e q JOIN e c ON q.vec_id <> c.vec_id
    WHERE q.vec_id % 100 = 0
"""

_TOPK_SQL = f"""
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                     ORDER BY cosine DESC, c_vec_id) AS rnk
        FROM ({_COSINE_SQL}))
    WHERE rnk <= 10
"""
ORACLE_SQL["q_cosine_topk"] = _TOPK_SQL

REL_TOL = 1e-9
IVF_RECALL_FLOOR = 0.40  # ext-ann-ivf-recall's certified floor
LSH_RECALL_JACCARD = 0.7  # ext-dedup-near-recall: pairs at or above this
LSH_JACCARD_FLOOR = 0.4  # ext-dedup-near's verification threshold


def _cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, (bool, str, bytes)) or isinstance(b, (bool, str, bytes)):
        return a == b
    if isinstance(a, (int, float, Decimal)) and isinstance(b, (int, float, Decimal)):
        if isinstance(a, float) or isinstance(b, float):
            return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-12) or (
                math.isnan(float(a)) and math.isnan(float(b))
            )
        return a == b
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'' when equal after normalisation, else what differs."""
    g, w = _normalize(got.copy()), _normalize(want.copy())
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        bad = [i for i, (a, b) in enumerate(zip(g[c], w[c])) if not _cells_equal(a, b)]
        if bad:
            i = bad[0]
            return f"column {c}: {len(bad)} cells differ, e.g. {g[c][i]!r} != {w[c][i]!r}"
    return ""


class Oracle:
    """DuckDB over one generated table directory."""

    def __init__(self, sf_dir: str):
        self.con = duckdb_con(sf_dir)
        by_fn = {spec.fn.__name__: spec for spec in CORPUS.values()}
        self.corpus = {q: by_fn[fn] for q, fn in OPS_FUNCTION.items()}

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, got: pd.DataFrame) -> str:
        """'' when query ``name``'s result ``got`` is correct."""
        if name == "q_dedup_near_lsh":
            return self._check_lsh(got)
        if name == "q_ann_ivf":
            return self._check_ivf(got)
        sql = ORACLE_SQL.get(name) or self.corpus[name].oracle
        return compare_frames(got, self.con.execute(sql).df())

    def _check_lsh(self, got: pd.DataFrame) -> str:
        exact = self.con.execute(CORPUS["ext-ngram-jaccard"].oracle).df()
        truth = {
            (int(a), int(b)): float(j)
            for a, b, j in zip(exact.doc_a, exact.doc_b, exact.jaccard)
        }
        for a, b, j in zip(got.doc_a, got.doc_b, got.jaccard):
            want = truth.get((int(a), int(b)))
            if j < LSH_JACCARD_FLOOR or want is None or not _cells_equal(float(j), want):
                return f"pair ({a}, {b}) jaccard {j} not an exact pair (want {want})"
        strong = {k for k, j in truth.items() if j >= LSH_RECALL_JACCARD}
        found = {(int(a), int(b)) for a, b in zip(got.doc_a, got.doc_b)}
        missed = len(strong - found)
        if missed > max(1, len(strong) // 10):
            return f"recall: missed {missed} of {len(strong)} pairs >= {LSH_RECALL_JACCARD}"
        return ""

    def _check_ivf(self, got: pd.DataFrame) -> str:
        exact = self.con.execute(_COSINE_SQL).df()
        cos = {
            (int(q), int(c)): float(v)
            for q, c, v in zip(exact.q_vec_id, exact.c_vec_id, exact.cosine)
        }
        for q, c, v in zip(got.q_vec_id, got.c_vec_id, got.cosine):
            if not _cells_equal(float(v), cos.get((int(q), int(c)), math.nan)):
                return f"pair ({q}, {c}) cosine {v} != {cos.get((int(q), int(c)))}"
        if got.groupby("q_vec_id").size().max() > 10:
            return "more than 10 neighbours for a query"
        top = self.con.execute(_TOPK_SQL).df()
        truth = set(zip(top.q_vec_id.astype(int), top.c_vec_id.astype(int)))
        hits = len(truth & set(zip(got.q_vec_id.astype(int), got.c_vec_id.astype(int))))
        if hits < IVF_RECALL_FLOOR * len(truth):
            return f"recall {hits}/{len(truth)} below {IVF_RECALL_FLOOR}"
        return ""


def checksum_sql(relation: str, schema: list[tuple[str, str]]) -> str:
    """Row count and per-column checksums that read the same on Spark and
    DuckDB: exact decimal sums of numbers, length sums and distinct counts
    of strings, true counts of booleans, and non-null counts of all."""
    parts = ["COUNT(*) AS n_rows"]
    for i, (col, kind) in enumerate(schema):
        parts.append(f"COUNT({col}) AS nn_{i}")
        if kind == "number":
            parts.append(f"SUM(CAST({col} AS DECIMAL(38,4))) AS sum_{i}")
        elif kind == "string":
            parts.append(f"SUM(LENGTH({col})) AS len_{i}")
            parts.append(f"COUNT(DISTINCT {col}) AS nd_{i}")
        elif kind == "boolean":
            parts.append(f"SUM(CASE WHEN {col} THEN 1 ELSE 0 END) AS true_{i}")
    return f"SELECT {', '.join(parts)} FROM {relation}"


def canonical(row) -> tuple:
    """A checksum row as exact values (Spark and DuckDB return decimals
    and integers of different Python types)."""
    return tuple(None if v is None else Decimal(v) for v in row)
