"""Load generators for the in-process ``Grouper`` micro-batch engine.

Two shapes, both driven by one producer thread:

- ``closed_burst``: submit a fixed list of items as fast as submit()
  accepts them (blocking on the full queue), then flush and wait until
  every item is delivered. ``capacity=100``, ``interval=None`` and a 10 ms sleep per
  batch: the reference README's round-trip model.
- ``open_loop``: submit each item at its scheduled time regardless of
  progress, with an interval-triggered flush, and time every item from
  when it was due to when its callback ran.

Items are ``(index, payload)`` pairs; the batch function maps each to
``expected(payload)``, so the i-th result must equal ``expected`` of the
i-th payload. With ``trace`` set the batch function and callbacks also
record batch sizes, queue waits, processing and delivery times, and
which thread ran each batch.
"""

from __future__ import annotations

import math
import random
import threading
import time
from dataclasses import dataclass, field
from functools import partial

from stats import lateness, latencies_from_due, percentile

BATCH_SLEEP_S = 0.010
CAPACITY = 100
OPEN_INTERVAL_MS = 5
RESULT_TIMEOUT_S = 30.0


def expected(payload: int) -> int:
    return (payload * 2654435761 + 97) & 0xFFFFFFFF


def make_items(rng: random.Random, n: int) -> list[tuple[int, int]]:
    return [(i, rng.getrandbits(31)) for i in range(n)]


def make_schedule(rng: random.Random, rate: float, seconds: float) -> list[float]:
    """Poisson arrival offsets (seconds from start) at ``rate`` items/s."""
    due, t = [], 0.0
    while True:
        t += rng.expovariate(rate)
        if t >= seconds:
            return due
        due.append(t)


@dataclass
class Trace:
    """Per-item and per-batch observations of one grouper run."""

    n: int
    submit_start: list[float] = field(default_factory=list)
    submit_end: list[float] = field(default_factory=list)
    proc_start: list[float] = field(default_factory=list)
    proc_end: list[float] = field(default_factory=list)
    batch_sizes: list[int] = field(default_factory=list)
    proc_s: list[float] = field(default_factory=list)
    inline_batches: int = 0

    def __post_init__(self) -> None:
        nan = float("nan")
        self.submit_start = [nan] * self.n
        self.submit_end = [nan] * self.n
        self.proc_start = [nan] * self.n
        self.proc_end = [nan] * self.n
        self.lock = threading.Lock()


@dataclass
class Outcome:
    items: int
    wall_s: float
    failed: int
    done_at: list[float]
    trace: Trace | None


class _Deliveries:
    """Per-item results and completion times, filled in by the grouper's
    callbacks and errbacks. Futures are not kept: holding every future
    until the end would grow the harness's heap, and the cyclic garbage
    collector's pauses over it would show up as grouper latency."""

    def __init__(self, n: int) -> None:
        self.results: list = [None] * n
        self.done_at = [float("nan")] * n
        self._remaining = n
        self._lock = threading.Lock()
        self.all_done = threading.Event()
        if n == 0:
            self.all_done.set()

    def _finish(self) -> None:
        with self._lock:
            self._remaining -= 1
            if self._remaining == 0:
                self.all_done.set()

    def ok(self, i: int, result) -> None:
        self.done_at[i] = time.perf_counter()
        self.results[i] = result
        self._finish()

    def error(self, i: int, exc: BaseException) -> None:
        if not math.isnan(self.done_at[i]):
            return  # delivered before the batch failed: the result stands
        self.done_at[i] = time.perf_counter()
        self.results[i] = exc
        self._finish()

    def failed(self, items) -> int:
        """Items whose result is not ``expected`` of their payload; an
        item still undelivered after the timeout counts as failed."""
        self.all_done.wait(RESULT_TIMEOUT_S)
        return sum(1 for i, p in items if self.results[i] != expected(p))


def _proc(trace: Trace | None, xs):
    if trace is None:
        time.sleep(BATCH_SLEEP_S)
        return [expected(p) for _, p in xs]
    t0 = time.perf_counter()
    time.sleep(BATCH_SLEEP_S)
    out = [expected(p) for _, p in xs]
    t1 = time.perf_counter()
    for i, _ in xs:
        trace.proc_start[i] = t0
        trace.proc_end[i] = t1
    with trace.lock:
        trace.batch_sizes.append(len(xs))
        trace.proc_s.append(t1 - t0)
        if threading.current_thread().name == "grouper-dispatcher":
            trace.inline_batches += 1  # CallerRuns: no free pool worker
    return out


def _submit(g, it, box: _Deliveries, tr: Trace | None) -> None:
    i = it[0]
    if tr is not None:
        tr.submit_start[i] = time.perf_counter()
    g.submit(it, callback=partial(box.ok, i), errback=partial(box.error, i))
    if tr is not None:
        tr.submit_end[i] = time.perf_counter()


def closed_burst(items, pool: int, trace: bool = False) -> Outcome:
    from grouper_spark.streaming import Grouper

    tr = Trace(len(items)) if trace else None
    box = _Deliveries(len(items))
    t0 = time.perf_counter()
    with Grouper(partial(_proc, tr), capacity=CAPACITY, interval=None, pool=pool) as g:
        for it in items:
            _submit(g, it, box, tr)
        g.flush()
        box.all_done.wait(RESULT_TIMEOUT_S)
        wall = time.perf_counter() - t0
    return Outcome(len(items), wall, box.failed(items), box.done_at, tr)


def open_loop(items, due: list[float], pool: int, trace: bool = False):
    """Returns the outcome plus due and actual send times (perf_counter)."""
    from grouper_spark.streaming import Grouper

    tr = Trace(len(items)) if trace else None
    box = _Deliveries(len(items))
    sent = [0.0] * len(items)
    with Grouper(
        partial(_proc, tr), capacity=CAPACITY, interval=OPEN_INTERVAL_MS, pool=pool
    ) as g:
        t0 = time.perf_counter()
        due_abs = [t0 + d for d in due]
        for it, when in zip(items, due_abs):
            wait = when - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent[it[0]] = time.perf_counter()
            _submit(g, it, box, tr)
        failed = box.failed(items)
        wall = time.perf_counter() - t0
    return Outcome(len(items), wall, failed, box.done_at, tr), due_abs, sent


def latency_ms(due_abs, done_at) -> list[float]:
    return [1000.0 * x for x in latencies_from_due(due_abs, done_at)]


def trace_metrics(tr: Trace, done_at: list[float], due_abs=None, sent=None) -> dict:
    """The ``grouper.*`` per-layer metrics of one traced run."""
    ms = 1000.0
    waits = [ms * (p - s) for p, s in zip(tr.proc_start, tr.submit_end)]
    delivery = [ms * (d - e) for d, e in zip(done_at, tr.proc_end)]
    block = [ms * (e - s) for s, e in zip(tr.submit_start, tr.submit_end)]
    out = {
        "grouper.batches": len(tr.batch_sizes),
        "grouper.batch_size.mean": sum(tr.batch_sizes) / len(tr.batch_sizes),
        "grouper.batch_fill": sum(tr.batch_sizes) / (CAPACITY * len(tr.batch_sizes)),
        "grouper.inline_batches": tr.inline_batches,
        "grouper.queue_wait_ms.p50": percentile(waits, 50),
        "grouper.queue_wait_ms.p99": percentile(waits, 99),
        "grouper.proc_ms.p50": ms * percentile(tr.proc_s, 50),
        "grouper.delivery_ms.p50": percentile(delivery, 50),
        "grouper.delivery_ms.p99": percentile(delivery, 99),
        "grouper.submit_block_ms": sum(block),
    }
    if due_abs is not None:
        out["gen.late_ms.max"] = ms * max(lateness(due_abs, sent))
    return out
