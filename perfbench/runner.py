"""Op accounting shared by the workloads: timing, failures, release.

Every call into the program goes through ``Runner.call``: it counts the
op as attempted, times it (inside a span when tracing), forces nothing
itself (the caller's function consumes the result), and always ends
with ``release_materialized()`` plus a check that the number of
persisted RDDs is back at its baseline. A raised exception or a failed
correctness gate marks the op failed.

Box speed. The shared 4-vCPU VM this benchmark was measured on changes
speed by up to 1.6x within minutes (a neighbour's load; the guest sees no steal
time), and every Spark timing moves with it. So after each op the
runner re-measures bench.py's calibration loop (single-thread
interpreter speed, 0.1-0.25 s); the loop's speed over all of a run's
samples (their harmonic mean: iterations over time) says how fast the
box was while it ran. Single samples swing between ~8 and ~12 Mops, so
the run's figure needs many of them. The loop is pure Python, so no
change to kgspark can move it.
"""

from __future__ import annotations

import statistics
import time
import traceback

from kgspark.runtime import release_materialized


REF_MOPS = 10.0


def cpu_mops(n: int = 1_500_000) -> float:
    """bench.py's calibration loop: millions of iterations per second."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    return n / (time.perf_counter() - t0) / 1e6


def persisted_rdds(sc) -> int:
    return len(sc._jsc.getPersistentRDDs())


class Runner:
    def __init__(self, spark, tracer=None):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.attempted = 0
        self.failed: set[int] = set()
        self.problems: list[str] = []
        self.released = 0
        self.persist_base = persisted_rdds(self.sc)
        self.persist_leak = 0
        self.samples: dict[str, list[float]] = {}
        self.mops = [cpu_mops()]  # box speed before the first op and after each op
        self.spans: list = []  # (op id, span) of every traced op

    def call(self, layer: str, name: str, fn):
        """Run ``fn()`` as one op; returns (op id, result, seconds), with
        result and seconds None when it raised."""
        op = self.attempted
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                result = fn()
            else:
                with self.tracer.span(layer, name) as sp:
                    result = fn()
                self.spans.append((op, sp))
            dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc()
            self.fail(op, f"{layer}:{name} raised {type(e).__name__}: {str(e)[:200]}")
            return op, None, None
        finally:
            self.released += release_materialized()
            leak = persisted_rdds(self.sc) - self.persist_base
            self.persist_leak = max(self.persist_leak, leak)
            if leak > 0:
                self.fail(op, f"{layer}:{name} left {leak} persisted RDDs after release")
            self.mops.append(cpu_mops())
        return op, result, dt

    def fail(self, op: int, msg: str) -> None:
        self.failed.add(op)
        self.problems.append(msg)

    def gate(self, op: int, problems: list[str]) -> None:
        for p in problems:
            self.fail(op, p)

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def median(self, key: str) -> float:
        return statistics.median(self.samples[key])
