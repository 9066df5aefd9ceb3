"""Run loop, timing, output checks and resource accounting shared by the
two workloads."""

from __future__ import annotations

import math
import os
import resource
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench.trace import Tracer

TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
FEW_SAMPLES_TAIL = 90.0  # the tail level when no level has ten samples beyond it


def _beta_cdf(a: float, b: float, steps: int):
    """Regularized incomplete beta function I_x(a, b), tabulated by
    midpoint integration of the density; returns x -> I_x."""
    lb = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    acc, table = 0.0, [0.0]
    for i in range(steps):
        x = (i + 0.5) / steps
        acc += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - lb) / steps
        table.append(acc)
    return lambda x: table[round(x * steps)] / acc


def quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile (Biometrika 69, 1982): a
    beta-weighted mean of all order statistics.  On a dozen samples of mixed
    operations it moves smoothly where the sample median jumps between
    neighbouring operations."""
    xs = sorted(samples)
    n = len(xs)
    if n == 1:
        return xs[0]
    cdf = _beta_cdf(p * (n + 1), (1 - p) * (n + 1), max(2000, 20 * n))
    return sum((cdf(i / n) - cdf((i - 1) / n)) * x for i, x in enumerate(xs, 1))


def median(samples: list[float]) -> float:
    return quantile(samples, 0.5)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it.  With fewer than twenty samples no percentile has
    ten beyond it; the Harrell-Davis estimate of p90 is reported instead,
    which weighs the top few samples rather than resting on the single
    largest one."""
    n = len(samples)
    for p in TAIL_LEVELS:
        if n * (100.0 - p) / 100.0 >= 10:
            return quantile(samples, p / 100.0), p, n
    return quantile(samples, FEW_SAMPLES_TAIL / 100.0), FEW_SAMPLES_TAIL, n


def peak_rss_bytes() -> int:
    """Peak resident memory of this process plus that of its largest
    descendant that has been waited for (the Spark JVM, once stopped), from
    getrusage.  Nothing samples memory while operations are timed: reading
    the JVM's memory map takes tens of milliseconds under the map's lock,
    which would be felt in the timings."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    children = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + children) * 1024


def files_under(roots: list[str]) -> dict[str, tuple[int, int, int]]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two snapshots."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


@dataclass
class PassRecord:
    wall_s: float
    ops: list[float] = field(default_factory=list)
    queries: list[float] = field(default_factory=list)
    appends: list[float] = field(default_factory=list)
    written: int = 0
    traced: bool = True
    input_rows: int = 0
    input_bytes: int = 0


class Harness:
    """Times operations, checks their outputs outside the timed region and
    counts attempts and failures.

    ``call`` runs one operation inside a span of its layer.  The check runs
    after the clock stops; its time is taken off the pass wall."""

    def __init__(self, tracer: Tracer, log=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.current: PassRecord | None = None
        self._off_clock_s = 0.0
        self.log = log or (lambda msg: print(msg, file=sys.stderr, flush=True))
        # run off the clock after every op: lets a workload spread its
        # queries through a pass instead of bunching them at its end
        self.after_op = None

    def _fail(self, what: str, sp) -> None:
        self.failed += 1
        self.failures.append(what)
        self.tracer.mark_failed(sp)
        self.log(f"FAILED {what}")

    def call(self, layer: str, fn, check=None, kind: str = "op", what: str = ""):
        """Run ``fn()`` in a span of ``layer`` as one timed operation whose
        latency is sampled as ``kind``: 'op', 'query' or 'append'.  Returns
        fn's result, or None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        ok, result, sp = True, None, None
        with self.tracer.span(layer) as sp:
            try:
                result = fn()
            except Exception:  # noqa: BLE001 - count and keep the run going
                ok = False
                self.log(traceback.format_exc())
        dt = time.perf_counter() - t0
        self.log(f"    {layer:<22} {what:<28} {dt:8.3f}s")
        rec = self.current
        if rec is not None:
            getattr(rec, {"op": "ops", "query": "queries", "append": "appends"}[kind]).append(dt)
        if not ok:
            self._fail(what or layer, sp)
        elif check is not None:
            c0 = time.perf_counter()
            try:
                good = check(result)
            except Exception:  # noqa: BLE001 - a crashing check is a failed op
                self.log(traceback.format_exc())
                good = False
            self._off_clock_s += time.perf_counter() - c0
            if not good:
                self._fail(what or layer, sp)
        if kind == "op" and self.after_op is not None:
            self.off_clock(self.after_op)
        return result if ok else None

    def span(self, layer: str, fn):
        """Run ``fn()`` in a span of ``layer`` as part of an enclosing
        operation; exceptions propagate to it."""
        t0 = time.perf_counter()
        with self.tracer.span(layer):
            out = fn()
        self.log(f"      {layer:<20} {time.perf_counter() - t0:8.3f}s")
        return out

    def off_clock(self, fn):
        """Run ``fn()`` inside the current pass without counting its time in
        the pass wall: checks, references, resets, and the consumer reads
        that follow a release."""
        c0, before = time.perf_counter(), self._off_clock_s
        try:
            return fn()
        finally:
            # checks run inside fn are part of this interval already
            self._off_clock_s = before + time.perf_counter() - c0

    def run_pass(self, body, roots: list[str], traced: bool) -> PassRecord:
        before = files_under(roots)
        self._off_clock_s = 0.0
        self.current = rec = PassRecord(wall_s=0.0, traced=traced)
        t0 = time.perf_counter()
        body()
        rec.wall_s = time.perf_counter() - t0 - self._off_clock_s
        self.current = None
        rec.written = written_bytes(before, files_under(roots))
        return rec
