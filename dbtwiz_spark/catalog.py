"""Table catalog over the driver's parquet testdata (and engine warehouses).

The driver testdata (TESTDATA.md) ships ten tables as one parquet file each.
``Catalog`` loads them as DataFrames and registers temp views so operators
can be written either with the DataFrame API or ``spark.sql``.

Scale note: each table is a plain ``spark.read.parquet`` — at cluster scale
the same loader points at a partitioned directory tree and Catalyst handles
partition pruning / predicate pushdown from the same declarative plans. The
only per-table fix-up is ``events.ts`` (parquet TIMESTAMP(NANOS) → read as
long nanos via ``spark.sql.legacy.parquet.nanosAsLong`` → converted to a
microsecond TimestampType column here, truncating sub-microsecond digits the
same way DuckDB's ``CAST(ts_ns AS TIMESTAMP)`` does).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


class Catalog:
    """Loads the standard tables from a scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}
        self._primed = False
        self._artifacts: dict[str, object] = {}
        self._generation = self._stat_tables()

    def _stat_tables(self) -> tuple:
        """Each table file's (size, mtime_ns), None where it is missing:
        the input GENERATION every cached table and artifact derives from.
        A parquet table that is a directory is stamped by every file under
        it (hive ``key=value/`` levels included): the directory's own stat
        sees files added or removed, not a part file rewritten in place."""
        stamps = []
        for name in TABLES:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            try:
                st = os.stat(path)
                if not stat.S_ISDIR(st.st_mode):
                    stamps.append((st.st_size, st.st_mtime_ns))
                    continue
                files = []
                for root, dirs, names in os.walk(path):
                    dirs.sort()
                    for f in sorted(names):
                        fst = os.stat(os.path.join(root, f))
                        files.append((root, f, fst.st_size, fst.st_mtime_ns))
                stamps.append(tuple(files))
            except OSError:
                stamps.append(None)
        return tuple(stamps)

    def is_current(self) -> bool:
        """False once any table file was created, removed or rewritten
        since this catalog was built."""
        return self._stat_tables() == self._generation

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = self._load(name)
        return self._cache[name]

    def _load(self, name: str) -> DataFrame:
        path = os.path.join(self.sf_dir, f"{name}.parquet")
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(path)
        if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
            # nanos since epoch -> TimestampType, truncating to microseconds
            # exactly like DuckDB's TIMESTAMP(NANOS) read path. Integer `div`,
            # not `/`: double division loses precision above 2^53 ns.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif name == "events" and isinstance(
            df.schema["ts"].dataType, TimestampNTZType
        ):
            # parquet timestamp[us] without tz reads as TIMESTAMP_NTZ under
            # Spark 4's inferTimestampNTZ default. Normalize to the session
            # (UTC) TimestampType so epoch arithmetic (cast to long,
            # unix_timestamp, window()) stays legal downstream — wall-clock
            # values are unchanged because the session zone is pinned UTC,
            # and DuckDB reads the same file as a naive TIMESTAMP.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Register each table as a temp view named after itself."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)

    def prime(self, names: tuple[str, ...] = TABLES) -> None:
        """Pin hot tables into Spark's in-memory columnar cache.

        The engine's deployment model is one long-lived session (BASELINE.md);
        a warehouse keeps hot tables in columnar storage rather than re-decoding
        source files per query. Two things make this matter here:

        - The testdata ships each table as a single parquet row group, so an
          uncached scan is one task no matter how many cores exist. Caching
          behind a `repartition` restores scan parallelism.
        - `persist()` defaults to MEMORY_AND_DISK: at cluster scale the cache
          is bounded by storage memory and spills, so priming degrades
          gracefully rather than OOMing — the 100 TB path caches what fits
          and streams the rest from parquet (where multi-row-group files give
          the scan its parallelism back anyway).
        """
        if self._primed:
            return  # idempotent: re-priming would re-persist identical plans
        self._primed = True
        cpus = self.spark.sparkContext.defaultParallelism
        for name in names:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            try:
                size = os.path.getsize(path)
            except OSError:
                size = 0
            # ~128 KB compressed per cached partition, capped at core count:
            # compressed bytes badly underestimate compute density (embeddings
            # are 800 KB on disk but 128-dim float math per row), so the split
            # target is small and the core-count cap does the real bounding.
            parts = max(1, min(cpus, size // (128 * 1024) or 1))
            df = self.table(name)
            if parts > 1:
                df = df.repartition(parts)
            self._cache[name] = df.persist()
            self._cache[name].count()  # materialize eagerly

    def artifact(self, kind: str, build):
        """The engine's artifact memo: ``build()``'s result, built once per
        catalog and served under ``kind`` until the catalog is replaced or
        its memos are cleared. Builders that want a cached table call
        ``persist()`` (or ``_truncate``) themselves. A key needs to name
        only the call site and its parameters: the catalog already fixes
        the session, the scale dir and the input generation."""
        if kind not in self._artifacts:
            self._artifacts[kind] = build()
        return self._artifacts[kind]

    def clear_memos(self) -> int:
        """Unpersist and drop every artifact, returning how many there
        were; the next query rebuilds what it needs. Primed base tables
        are NOT touched — they are bounded by the table count and managed
        by `prime`.

        Storage is freed at two speeds. A persisted artifact's blocks go
        at once. A truncated one's (``_truncate``: graph, pipeline and
        rank/prefix artifacts) go only when Spark's ContextCleaner sees
        the stored RDD collected by the driver JVM's garbage collector,
        which with no other GC pressure is Spark's periodic GC
        (``spark.cleaner.periodicGC.interval``, 30 min by default). So
        clearing between sweeps bounds the persisted share of executor
        storage, not the truncated share.

        That delay is what keeps a LAZY DataFrame built before the clear
        correct if executed after it: a persisted artifact recomputes
        from its plan, and a truncated one keeps its stored RDD while any
        reference remains, so the consumer reads the same rows."""
        dropped = len(self._artifacts)
        for val in self._artifacts.values():
            # unpersist EVERY element of tuple artifacts (the IVF index is
            # (assignments, centroids, cents_row)): freeing only one leaks
            # the others for the session lifetime
            for item in val if isinstance(val, tuple) else (val,):
                unpersist = getattr(item, "unpersist", None)
                if unpersist is not None:
                    try:
                        unpersist(False)
                    except Exception:
                        pass  # stopped session — nothing to free
        self._artifacts.clear()
        return dropped

    def release(self) -> None:
        """Free everything this catalog cached: its artifacts and primed
        tables. Required before a catalog over rewritten files replaces
        it — Spark's CacheManager matches cached data by plan, and a new
        read of the same path would otherwise be served the old rows."""
        self.clear_memos()
        if self._primed:
            for df in self._cache.values():
                try:
                    df.unpersist(False)
                except Exception:
                    pass  # stopped session — nothing to free
        self._cache.clear()
        self._primed = False
