from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


def gc_until(spark, done, timeout=120.0) -> bool:
    """Run Python and JVM garbage collection until ``done()`` holds or
    ``timeout`` seconds pass, and return ``done()``. Spark's
    ContextCleaner frees a stored RDD (and deletes its reliable
    checkpoint files) only after the JVM has collected the RDD, and
    PySpark releases the JVM objects behind dropped DataFrames on a
    background thread, so ``done()`` must not hand Python a new reference
    to the RDD it waits for. The rank eviction probe then takes 1-2 s
    (4 cores); the timeout is margin for a loaded host."""
    import gc
    import time

    deadline = time.monotonic() + timeout
    while not done() and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    return done()


@pytest.fixture(scope="session")
def spark():
    from dbtwiz_spark.session import get_spark

    s = get_spark("dbtwiz_spark-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def catalog(spark):
    from dbtwiz_spark.catalog import Catalog

    return Catalog(spark, SF_DIR)


class FsFaultInjector:
    """Shared crash-at-every-fs-point harness (the r5 merge-bug method):
    patch a set of os-module mutation functions, either COUNTING calls
    (dry run) or KILLING the process-under-test at call index ``point``
    with ``FsFaultInjector.Killed``. Used by the snapshot-reclaim and
    snapshot-expiry injection tests so the patch/restore machinery has
    exactly one implementation."""

    class Killed(Exception):
        pass

    def __init__(self, fn_names=("rename", "unlink", "rmdir")):
        import os

        self._os = os
        self.fn_names = fn_names
        self.calls = 0
        self.point = None  # None = count only

    def __enter__(self):
        self.calls = 0
        self._real = {n: getattr(self._os, n) for n in self.fn_names}

        def wrap(fn):
            def wrapped(*a, **k):
                self.calls += 1
                if self.point is not None and self.calls == self.point:
                    raise FsFaultInjector.Killed(f"fs call #{self.point}")
                return fn(*a, **k)

            return wrapped

        for n, fn in self._real.items():
            setattr(self._os, n, wrap(fn))
        return self

    def __exit__(self, *exc):
        for n, fn in self._real.items():
            setattr(self._os, n, fn)
        return False


@pytest.fixture()
def fs_faults():
    return FsFaultInjector
