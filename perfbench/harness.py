"""Run state shared by the workloads: the session's lifetime, the clock,
operation accounting and the summary statistics."""

from __future__ import annotations

import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import probes
from spans import Tracer

_START = time.perf_counter()


def now() -> float:
    return time.perf_counter()


def log(message: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"[perfbench {now() - _START:7.2f}] {message}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    traced: bool
    work: Path
    tracer: Tracer = field(default_factory=lambda: Tracer(enabled=False))
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_latencies: list[float] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    # -- session lifetime ------------------------------------------------
    def start_session(self):
        from dbtwiz_spark.session import get_spark

        self.spark = get_spark("perfbench")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the py4j gateway's JVM, and wait for it."""
        self.stop_session()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
                proc.kill()
                proc.wait()

    def setup(self, prepare, reps: int) -> float:
        """Start the session and call ``prepare(spark)`` ``reps`` times,
        stopping the session in between (the first start also launches
        the JVM). Records the median set-up as ``setup_s`` and the median
        session start; returns the median ``prepare`` time. Set-up is not
        traced."""
        totals, starts, prepares = [], [], []
        for i in range(reps):
            if i:
                self.stop_session()
            t0 = now()
            spark = self.start_session()
            t1 = now()
            prepare(spark)
            t2 = now()
            totals.append(t2 - t0)
            starts.append(t1 - t0)
            prepares.append(t2 - t1)
        log(f"set-ups: {', '.join(f'{t:.2f}' for t in totals)} s")
        self.e2e["setup_s"] = (median(totals), "s")
        self.layers["session.start_s"] = (median(starts), "s")
        return median(prepares)

    def steady(self, body) -> list:
        """Call ``body(i)`` for i = 1, 2, ... until ``seconds`` have
        passed, at least once, traced in a traced run; returns the
        results."""
        out, t0 = [], now()
        self.tracer.enabled = self.traced
        try:
            while not out or now() - t0 < self.seconds:
                out.append(body(len(out) + 1))
        finally:
            self.tracer.enabled = False
        return out

    def spans(self):
        """Write the recorded spans out and read them back."""
        from spans import load

        path = self.work / "spans.jsonl"
        self.tracer.dump(path)
        return load(path)

    def report_overhead(self, self_time: dict[str, float], traced_s: float) -> None:
        """The tracing overhead: time the traced region spent in the
        benchmark's own probes (``trace.probe`` spans: job-group tagging
        and status-tracker reads) over the time it would have taken
        without them."""
        probes_s = self_time.get("trace.probe", 0.0)
        self.layers["trace.overhead_frac"] = (probes_s / (traced_s - probes_s), "ratio")

    # -- results -----------------------------------------------------------
    def report_ops(self, latencies: list[float]) -> None:
        """Throughput (operations over their summed latencies, one client)
        and median latency of the timed operations. The median of a run's
        dozen JIT-cold ``Runner.run`` calls spreads by more than any
        bound a regression gate could use (0.31 of its median over ten
        seeds), so it is a layer metric. A run has one or two dozen
        operations, so the highest percentile with ten samples beyond it
        is at or below the median: no tail is reported."""
        log(f"{len(latencies)} timed operations in {sum(latencies):.2f} s")
        self.e2e["ops_per_s"] = (len(latencies) / sum(latencies), "1/s")
        self.layers["op_p50_s"] = (median(latencies), "s")

    def report_memory(self) -> None:
        """The driver JVM's peak resident memory so far, then its live
        heap after full collections. The peak follows the collector's heap
        sizing more than the engine (2.7-5.1 GB over ten runs of one
        workload), so only the live heap is an end-to-end metric."""
        self.layers["jvm.peak_rss_mb"] = (probes.jvm_peak_rss_mb(self.spark), "MB")
        self.e2e["heap_live_mb"] = (probes.jvm_live_heap_mb(self.spark), "MB")
