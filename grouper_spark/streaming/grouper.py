"""The Grouper micro-batch engine: asynchronous bounded-queue batching
with per-item result delivery.

Semantics re-implemented from the reference's contract (see
/root/reference/src/grouper/core.clj — API `start!`/`submit!`/`shutdown!`
at core.clj:99-155, batch apply at core.clj:68-83), re-expressed for a
Spark world. Preserved invariants (SURVEY.md §2.B):

1.  FIFO within batch (bounded FIFO queue, drained in order).
2.  Positional result identity (i-th result ↔ i-th submitted item).
3.  Scalar broadcast: non-sequence proc result delivered to every item.
4.  Pad & truncate: short results padded with None, long truncated.
5.  Callback invoked before the future resolves. A callback that
    *raises* falls into the batch failure path (reference body-fn's
    outer catch, core.clj:68-83): errbacks fire for every request in
    the batch and every not-yet-delivered future receives the
    exception as its value (already-delivered futures keep their
    results, mirroring Clojure ``deliver``'s no-op on re-delivery).
6.  Batch-granular failure: one bad item fails its whole batch; the
    exception is delivered *as the result value* to every item (deref
    returns it, does not raise) and to every errback. No retry.
    (Deviation, documented: a *raising errback* is swallowed rather
    than aborting delivery to the remaining requests — the reference
    would leave their promises undelivered forever.)
7.  Two flush triggers: interval timer OR queue-full. With
    ``interval=None`` (size-only flush) an item whose blocking put lands
    after a drain's snapshot is not in that batch: it waits in the
    queue for the next trigger — ``flush()``, the queue filling again,
    or ``shutdown()`` — and is then delivered (core.clj:124-135).
8.  Producer backpressure: submit blocks while the queue is full.
9.  Closed-state rejection: submit after close raises
    RuntimeError("Grouper is closed").
10. Drain-on-shutdown: close() flushes everything already queued.
11. No pool → batches process on the single dispatcher thread; pool=N →
    at most N batches in the pool; when all N workers are busy the
    *dispatcher runs the batch itself* (reference create-thread-pool's
    SynchronousQueue + CallerRunsPolicy, core.clj:85-97), stalling the
    drain loop so in-flight batches are bounded at N+1 and overload
    backpressure propagates to producers. ``pool`` may also be an
    existing executor instance (reference start! accepts an
    ExecutorService, core.clj:108-122) — then submission is whatever
    that executor does, and shutdown() still shuts it down
    (core.clj:64-66 shuts the pool down unconditionally).

Spark integration: ``proc_fn`` may be a plain ``seq -> seq`` function
(reference-style, runs on the dispatcher/pool thread) or a
``DataFrame -> DataFrame`` transform (``dataframe_fn=True``) receiving
the batch as ``(idx: long, value)`` rows and returning ``(idx, result)``
— the scalable path, where the batch function is a real Spark plan.
For continuous sources use ``grouper_process_stream`` (Structured
Streaming foreachBatch with the same normalization semantics).
"""

from __future__ import annotations

import queue as _queue
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

__all__ = ["Grouper", "Request", "start", "submit", "shutdown"]


@dataclass
class Request:
    """One submitted item (reference: deftype Request, core.clj:13-17)."""

    obj: Any
    future: Future = field(default_factory=Future)
    callback: Callable[[Any], Any] | None = None
    errback: Callable[[BaseException], Any] | None = None


class _BoundedFifo:
    """Minimal bounded FIFO for the submit→dispatch handoff: put with
    capacity backpressure, and a bulk drain under one lock acquisition,
    with ``queue.Queue``'s FIFO order and blocking semantics.

    It stays because it wins a measured A/B against the standard
    library (benchmark workload ``grouper_inproc``, 10 interleaved
    pairs, seeds 301-310, 4-core host). ``queue.Queue`` with a per-item
    ``get_nowait`` drain raised the median warm-burst CPU time
    (``pass_cpu_s``) from 0.309 to 0.366 s, worse in 10 of 10 pairs;
    ``queue.Queue`` drained in bulk under its own ``mutex`` still read
    0.313 -> 0.347 s, worse in 5 of 6 pairs. Items/s and p50/p90
    latency stayed within noise in both."""

    def __init__(self, maxsize: int) -> None:
        from collections import deque

        self._maxsize = maxsize
        self._dq: Any = deque()
        self._mutex = threading.Lock()
        self._not_full = threading.Condition(self._mutex)

    def put_nowait(self, item: Any) -> None:
        with self._mutex:
            if len(self._dq) >= self._maxsize:
                raise _queue.Full
            self._dq.append(item)

    def put(self, item: Any) -> None:
        with self._not_full:
            while len(self._dq) >= self._maxsize:
                self._not_full.wait()
            self._dq.append(item)

    def drain(self) -> list:
        """All queued items, FIFO, under one mutex acquisition; wakes
        every producer blocked on capacity."""
        with self._not_full:
            items = list(self._dq)
            self._dq.clear()
            if items:
                self._not_full.notify_all()
        return items

    def empty(self) -> bool:
        return not self._dq


class Grouper:
    """Asynchronous micro-batching engine.

    Parameters mirror the reference's ``start!`` options
    (core.clj:99-136): ``capacity`` (required, bounded queue size),
    ``interval`` (flush period in **milliseconds**, or None for
    size-only flushing), ``pool`` (worker thread count; None processes
    batches on the dispatcher thread).
    """

    def __init__(
        self,
        proc_fn: Callable,
        *,
        capacity: int,
        interval: float | None = None,
        pool: int | None = None,
        spark=None,
        dataframe_fn: bool = False,
    ) -> None:
        # Option validation mirroring the reference's :pre asserts
        # (core.clj:111-117), surfaced as Python exceptions.
        if not callable(proc_fn):
            raise TypeError("proc_fn must be callable")
        if not isinstance(capacity, int) or isinstance(capacity, bool) or capacity <= 0:
            raise ValueError("capacity must be a positive int")
        if interval is not None and (
            not isinstance(interval, (int, float)) or interval <= 0
        ):
            raise ValueError("interval must be a positive number of ms, or None")
        is_executor = pool is not None and callable(getattr(pool, "submit", None))
        if pool is not None and not is_executor and (
            not isinstance(pool, int) or isinstance(pool, bool) or pool <= 0
        ):
            raise ValueError(
                "pool must be a positive int, an executor instance, or None"
            )
        if dataframe_fn and spark is None:
            raise ValueError("dataframe_fn=True requires a SparkSession")

        self._proc_fn = proc_fn
        self._interval_s = None if interval is None else interval / 1000.0
        self._queue = _BoundedFifo(capacity)
        # pool=N → own a fixed pool with bounded submission: a semaphore
        # sized to the pool emulates the reference's SynchronousQueue +
        # CallerRunsPolicy (core.clj:85-97) — no idle worker means the
        # dispatcher runs the batch itself instead of queueing it, so
        # in-flight batches (and their buffers) never grow unboundedly.
        # pool=<executor> → use it as-is (reference ExecutorService path).
        if is_executor:
            self._executor = pool
            self._slots = None
        elif pool:
            self._executor = ThreadPoolExecutor(max_workers=pool)
            self._slots = threading.Semaphore(pool)
        else:
            self._executor = None
            self._slots = None
        self._spark = spark
        self._dataframe_fn = dataframe_fn
        self._running = True
        self._wake = threading.Condition()
        self._notified = False
        self._dispatcher = threading.Thread(
            target=self._loop, name="grouper-dispatcher", daemon=True
        )
        self._dispatcher.start()

    # -- public API (submit! / shutdown!, core.clj:138-155) ---------------

    def submit(
        self,
        obj: Any,
        *,
        callback: Callable[[Any], Any] | None = None,
        errback: Callable[[BaseException], Any] | None = None,
    ) -> Future:
        """Enqueue one item; returns a Future for its result.

        Blocks when the queue is full (producer backpressure) after
        waking the dispatcher for an early size-triggered flush
        (reference: core.clj:39-45).
        """
        if not self._running:
            raise RuntimeError("Grouper is closed")
        req = Request(obj, Future(), callback, errback)
        try:
            self._queue.put_nowait(req)
        except _queue.Full:
            self._wake_up()
            self._queue.put(req)  # blocking put: backpressure
        return req.future

    def flush(self) -> None:
        """Wake the dispatcher for an immediate drain (test/ops helper)."""
        self._wake_up()

    def shutdown(self) -> None:
        """Graceful drain-then-stop (reference: core.clj:58-66,152-155):
        already-queued items are processed before termination."""
        if not self._running:
            return
        self._running = False
        while self._dispatcher.is_alive():
            self._wake_up()
            self._dispatcher.join(timeout=0.01)
        if self._executor is not None and hasattr(self._executor, "shutdown"):
            # Unconditional, even for a caller-supplied executor — the
            # reference shuts the pool down either way (core.clj:64-66).
            self._executor.shutdown(wait=True)

    close = shutdown

    def __enter__(self) -> "Grouper":
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()

    @property
    def running(self) -> bool:
        return self._running

    def is_running(self) -> bool:
        """SPI parity with the reference's IGrouper.isRunning
        (core.clj:19-24)."""
        return self._running

    # -- dispatcher (core.clj:124-135) -------------------------------------

    def _wake_up(self) -> None:
        with self._wake:
            self._notified = True
            self._wake.notify_all()

    def _sleep(self) -> None:
        """Wait for the interval, an explicit wake-up, or forever when
        interval is None (size-only flushing, README.md:94-96)."""
        with self._wake:
            if not self._notified:
                self._wake.wait(timeout=self._interval_s)
            self._notified = False

    # How long the dispatcher waits for a pool slot before falling back
    # to running the batch itself. The reference's CallerRunsPolicy runs
    # inline *immediately* (core.clj:85-97); a short bounded wait keeps
    # the same invariants — in-flight ≤ pool+1, dispatcher stalls under
    # overload, backpressure reaches submit() — but lets the pool stay
    # saturated when batches finish quickly, instead of idling N workers
    # for the duration of every inline run.
    _SLOT_WAIT_S = 0.05

    def _loop(self) -> None:
        # "Should not terminate until queue is empty" (core.clj:124-126).
        while self._running or not self._queue.empty():
            self._sleep()
            # Bulk drain under ONE mutex acquisition instead of one
            # get_nowait (lock + notify) per item (§4: batch the
            # boundary); FIFO order, the capacity bound and blocked-
            # producer wakeups are unchanged.
            batch = self._queue.drain()
            if not batch:
                continue
            if self._executor is None:
                self._process(batch)
            elif self._slots is None:
                # user-supplied executor: its own submission policy rules.
                # It may also reject (e.g. its owner already shut it
                # down) — deliver the rejection as a value instead of
                # letting it kill the dispatcher thread (which would
                # strand every in-flight future and block producers).
                try:
                    self._executor.submit(self._process, batch)
                except Exception as exc:
                    self._deliver_error(batch, exc)
            elif self._slots.acquire(timeout=self._SLOT_WAIT_S):
                try:
                    self._executor.submit(self._process_release, batch)
                except Exception as exc:
                    self._slots.release()
                    self._deliver_error(batch, exc)
            else:
                # CallerRunsPolicy: all workers busy → the dispatcher runs
                # the batch itself, stalling the drain loop (bounded
                # in-flight; overload backpressure reaches submit()).
                self._process(batch)

    # -- batch apply (body-fn, core.clj:68-83) ------------------------------

    def _apply_proc(self, objs: list[Any]) -> Any:
        if self._dataframe_fn:
            df = self._spark.createDataFrame(
                [(i, o) for i, o in enumerate(objs)], ["idx", "value"]
            )
            out = self._proc_fn(df)
            rows = out.select("idx", "result").collect()
            by_idx = {r["idx"]: r["result"] for r in rows}
            return [by_idx.get(i) for i in range(len(objs))]
        return self._proc_fn(objs)

    def _process_release(self, batch: list[Request]) -> None:
        try:
            self._process(batch)
        finally:
            self._slots.release()

    def _process(self, batch: list[Request]) -> None:
        objs = [r.obj for r in batch]
        try:
            result = self._apply_proc(objs)
            # Scalar broadcast (core.clj:73): non-sequence → every item.
            if isinstance(result, (str, bytes)) or not hasattr(result, "__iter__"):
                results = [result] * len(batch)
            else:
                results = list(result)
                # Pad short / truncate long (core.clj:74-76).
                if len(results) < len(batch):
                    results += [None] * (len(batch) - len(results))
                else:
                    results = results[: len(batch)]
            for req, res in zip(batch, results):
                # A raising callback falls through to the outer catch —
                # batch-granular errbacks, like the reference body-fn
                # (core.clj:77-83) where the callback runs inside the try.
                if req.callback is not None:
                    req.callback(res)
                req.future.set_result(res)
        except Exception as exc:
            self._deliver_error(batch, exc)

    def _deliver_error(self, batch: list[Request], exc: Exception) -> None:
        # Batch-granular failure: exception delivered AS A VALUE to
        # every item (deref returns it), plus errbacks (core.clj:80-83).
        # Already-delivered futures keep their results (Clojure
        # `deliver` is a no-op on a realized promise); errback errors
        # are swallowed so one bad errback can't strand the rest.
        for req in batch:
            if req.errback is not None:
                try:
                    req.errback(exc)
                except Exception:
                    pass
            if not req.future.done():
                req.future.set_result(exc)


# -- functional API mirroring the reference (start!/submit!/shutdown!,
# -- core.clj:99-155) ------------------------------------------------------


def start(proc_fn: Callable, **options) -> Grouper:
    """``start!`` parity: build and start a Grouper.

    ``start(fn, capacity=100, interval=50, pool=4)`` mirrors
    ``(start! fn :capacity 100 :interval 50 :pool 4)``.
    """
    return Grouper(proc_fn, **options)


def submit(grouper: Grouper, obj: Any, *, callback=None, errback=None) -> Future:
    """``submit!`` parity: enqueue one item, get a deref-able handle."""
    return grouper.submit(obj, callback=callback, errback=errback)


def shutdown(grouper: Grouper) -> None:
    """``shutdown!`` parity: drain everything queued, then stop."""
    grouper.shutdown()
