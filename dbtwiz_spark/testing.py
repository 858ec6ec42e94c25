"""Oracle-comparison harness: the corpus correctness gate.

Runs a corpus entry's Spark query and its DuckDB oracle on the same sf_dir,
then compares row count, column names, and values order-insensitively
(columns sorted by name, rows sorted by all columns). ``compare_entry`` is
the one entry point: ``tests/test_corpus.py`` applies it to every entry at
sf0.001, ``scripts/full_sweep.py`` to the whole corpus at any scale.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from dbtwiz_spark.catalog import TABLES
from dbtwiz_spark.ops.registry import CORPUS


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str = ""
    spark_rows: int = -1
    oracle_rows: int = -1
    mismatches: list = field(default_factory=list)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # unify value representations across engines
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(_norm_cell)
        elif str(s.dtype).startswith(("datetime64", "float16", "float32")):
            df[c] = s.astype("object").map(_norm_cell)
        elif str(s.dtype) in ("int8", "int16", "int32", "uint8", "uint16", "uint32"):
            df[c] = s.astype("int64")
        elif str(s.dtype).startswith(("Int", "UInt")):  # pandas nullable
            df[c] = s.astype("object").map(_norm_cell)
    return df.sort_values(by=list(df.columns), kind="mergesort", na_position="last").reset_index(
        drop=True
    )


def _norm_cell(v):
    import datetime
    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def compare_entry(
    spark, name: str, sf_dir: str, con=None, timings: dict | None = None
) -> CompareResult:
    """Driver-gate mirror: Spark result vs DuckDB oracle. Pass a dict as
    ``timings`` to receive ``{"spark_s": ..., "oracle_s": ...}`` — timed
    around the single execution each side gets (profiling must not run
    the plan twice; that misattributes a full Spark execution to the
    oracle side and doubles sweep wall-clock)."""
    import time as _time

    spec = CORPUS[name]
    t0 = _time.time()
    sdf = spec.fn(spark, sf_dir).toPandas()
    if timings is not None:
        timings["spark_s"] = _time.time() - t0
    if spec.oracle is None:
        ok = len(sdf) >= 0
        return CompareResult(name, ok, "rows-only", len(sdf), -1)
    own_con = con is None
    if own_con:
        con = duckdb_con(sf_dir)
    try:
        t0 = _time.time()
        odf = con.execute(spec.oracle).df()
        if timings is not None:
            timings["oracle_s"] = _time.time() - t0
    finally:
        if own_con:
            con.close()
    s, o = _normalize(sdf.copy()), _normalize(odf.copy())
    res = CompareResult(name, True, "", len(s), len(o))
    if list(s.columns) != list(o.columns):
        res.ok = False
        res.detail = f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}"
        return res
    if len(s) != len(o):
        res.ok = False
        res.detail = f"row counts differ: spark={len(s)} oracle={len(o)}"
        return res
    for c in s.columns:
        neq = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(s[c], o[c]))
            if not _cell_eq(a, b)
        ]
        if neq:
            res.ok = False
            res.mismatches.append((c, neq[:5], len(neq)))
    if res.mismatches:
        res.detail = "; ".join(
            f"col {c}: {n} cells differ, e.g. {ex[0]}" for c, ex, n in res.mismatches
        )
    return res


def _cell_eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b  # exact: the driver hashes values
    # int-vs-float is a driver hash mismatch even when numerically equal
    # (e.g. DuckDB SUM(int) -> HUGEINT -> pandas float64 vs Spark int64:
    # 8123456 hashes differently from 8123456.0) — reject the type skew so
    # the local gate predicts the driver's verdict.
    if isinstance(a, float) != isinstance(b, float) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return False
    return a == b
