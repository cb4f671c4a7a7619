"""The reference's behavioral invariants (SURVEY.md §2.B, items 1-11)
re-expressed against the Grouper engine's public API.

All tests use interval=None (size-only flush) + explicit flush/shutdown
so nothing depends on wall-clock timing — deliberately avoiding the
reference's own FIXME-flagged timing-sensitive test
(/root/reference/test/grouper/core_test.clj:42).
"""

from __future__ import annotations

import threading
import time

import pytest

from grouper_spark.streaming import Grouper


def make(proc, **kw):
    kw.setdefault("capacity", 100)
    kw.setdefault("interval", None)
    return Grouper(proc, **kw)


# -- invariant 2: positional result identity ------------------------------


def test_positional_identity():
    with make(lambda xs: [x + 1 for x in xs]) as g:
        futs = [g.submit(i) for i in range(10)]
        g.flush()
        assert [f.result(5) for f in futs] == list(range(1, 11))


# -- invariant 1: FIFO within batch ---------------------------------------


def test_fifo_within_batch():
    seen = []
    with make(lambda xs: seen.append(list(xs)) or xs) as g:
        futs = [g.submit(i) for i in range(20)]
        g.flush()
        [f.result(5) for f in futs]
    assert [x for batch in seen for x in batch] == list(range(20))


# -- invariant 3: scalar broadcast ----------------------------------------


def test_scalar_broadcast():
    with make(lambda xs: 100) as g:
        futs = [g.submit(i) for i in range(5)]
        g.flush()
        assert [f.result(5) for f in futs] == [100] * 5


def test_string_is_scalar():
    with make(lambda xs: "const") as g:
        futs = [g.submit(i) for i in range(3)]
        g.flush()
        assert [f.result(5) for f in futs] == ["const"] * 3


# -- invariant 4: pad & truncate ------------------------------------------


def test_pad_short_results():
    with make(lambda xs: [x * 2 for x in xs[:2]]) as g:
        futs = [g.submit(i) for i in range(5)]
        g.flush()
        assert [f.result(5) for f in futs] == [0, 2, None, None, None]


def test_truncate_long_results():
    with make(lambda xs: list(range(100))) as g:
        futs = [g.submit(i) for i in range(3)]
        g.flush()
        assert [f.result(5) for f in futs] == [0, 1, 2]


# -- invariant 5: callback before promise delivery ------------------------


def test_callback_before_future():
    order = []
    with make(lambda xs: [x + 1 for x in xs]) as g:
        fut = g.submit(1, callback=lambda r: order.append(("cb", r)))
        g.flush()
        res = fut.result(5)
        order.append(("deref", res))
    assert order == [("cb", 2), ("deref", 2)]


# -- invariant 6: batch-granular failure, exception-as-value, no retry ----


def test_error_delivered_as_value():
    calls = []

    def proc(xs):
        calls.append(len(xs))
        return [x.upper() for x in xs]

    errs = []
    with make(proc) as g:
        futs = [
            g.submit("hello", errback=errs.append),
            g.submit(None, errback=errs.append),
            g.submit("world", errback=errs.append),
        ]
        g.flush()
        results = [f.result(5) for f in futs]
    # one bad item fails the whole batch; deref RETURNS the exception
    assert all(isinstance(r, AttributeError) for r in results)
    assert len(errs) == 3 and all(isinstance(e, AttributeError) for e in errs)
    assert calls == [3]  # no retry


# -- invariant 7: size-triggered flush (queue full) -----------------------


def test_capacity_flush_without_interval():
    with Grouper(lambda xs: [x * 2 for x in xs], capacity=2, interval=None) as g:
        f1, f2 = g.submit(1), g.submit(2)
        f3 = g.submit(3)  # queue full → wake + early flush
        assert f1.result(5) == 2 and f2.result(5) == 4
        g.flush()
        assert f3.result(5) == 6


@pytest.mark.parametrize(
    "trigger, batches",
    [
        ("flush", [[1, 2], [3]]),
        ("full", [[1, 2], [3, 4], [5]]),
        ("shutdown", [[1, 2], [3]]),
    ],
    ids=["flush", "full", "shutdown"],
)
def test_put_after_drain_snapshot_waits_for_next_trigger(trigger, batches):
    """Size-only flush: item 3's blocking put lands after the drain of
    [1, 2], so it is not in that batch and no timer will flush it. It
    stays queued until the next flush(), full queue or shutdown(), and
    is then delivered."""
    seen = []

    def proc(xs):
        seen.append(list(xs))
        return xs

    g = Grouper(proc, capacity=2, interval=None)
    f1, f2 = g.submit(1), g.submit(2)
    f3 = g.submit(3)  # queue full → wake; put completes after the drain
    assert f1.result(5) == 1 and f2.result(5) == 2
    time.sleep(0.1)
    assert not f3.done()
    if trigger == "flush":
        g.flush()
    elif trigger == "full":
        g.submit(4)  # queue [3, 4] is full again
        g.submit(5)  # → wake; 5 lands after the drain of [3, 4]
    else:
        g.shutdown()
    assert f3.result(5) == 3
    g.shutdown()
    assert seen == batches


# -- invariant 8: producer backpressure -----------------------------------


def test_submit_blocks_when_full():
    release = threading.Event()

    def slow(xs):
        release.wait(5)
        return xs

    g = Grouper(slow, capacity=1, interval=None)
    g.submit(1)
    g.flush()
    time.sleep(0.05)  # dispatcher now stuck inside slow()
    g.submit(2)  # fills the queue

    blocked = threading.Event()
    done = threading.Event()

    def producer():
        blocked.set()
        g.submit(3)  # must block: queue full, dispatcher busy
        done.set()

    t = threading.Thread(target=producer, daemon=True)
    t.start()
    blocked.wait(5)
    time.sleep(0.1)
    assert not done.is_set(), "submit should block while queue is full"
    release.set()
    done.wait(5)
    assert done.is_set()
    g.shutdown()


# -- invariant 9: closed-state rejection ----------------------------------


def test_submit_after_close_raises():
    g = make(lambda xs: xs)
    g.shutdown()
    with pytest.raises(RuntimeError, match="is closed"):
        g.submit(1)


# -- invariant 10: drain on shutdown --------------------------------------


def test_drain_on_shutdown():
    total = []
    with make(lambda xs: [total.append(x) or x for x in xs]) as g:
        g.submit(1)
        g.submit(2)
        # no flush: shutdown itself must drain
    assert sorted(total) == [1, 2]


# -- invariant 11: threading model ----------------------------------------


def test_no_pool_single_thread():
    threads = set()

    def proc(xs):
        threads.add(threading.current_thread().name)
        return xs

    with make(proc) as g:
        for i in range(10):
            g.submit(i)
            g.flush()
            time.sleep(0.01)
    assert len(threads) == 1


def test_pool_multiple_threads():
    threads = set()
    release = threading.Event()

    def proc(xs):
        threads.add(threading.current_thread().name)
        release.wait(2)
        return xs

    g = Grouper(proc, capacity=10, interval=None, pool=4)
    futs = []
    for i in range(4):
        futs.append(g.submit(i))
        g.flush()  # one batch per item, handed to the pool while blocked
        time.sleep(0.05)
    release.set()
    [f.result(5) for f in futs]
    g.shutdown()
    assert len(threads) > 1


# -- option validation (reference :pre asserts) ---------------------------


@pytest.mark.parametrize(
    "kwargs",
    [
        {"capacity": 0},
        {"capacity": -1},
        {"capacity": 5, "interval": 0},
        {"capacity": 5, "interval": -10},
        {"capacity": 5, "pool": 0},
        {"capacity": 5, "pool": -2},
    ],
)
def test_invalid_options(kwargs):
    with pytest.raises(ValueError):
        Grouper(lambda xs: xs, **kwargs)


def test_proc_fn_must_be_callable():
    with pytest.raises(TypeError):
        Grouper("not a function", capacity=5)


# -- Spark DataFrame batch mode -------------------------------------------


def test_dataframe_proc_fn(spark):
    from pyspark.sql import functions as F

    def proc(df):
        return df.select("idx", (F.col("value") * 10).alias("result"))

    with Grouper(
        proc, capacity=50, interval=None, spark=spark, dataframe_fn=True
    ) as g:
        futs = [g.submit(i) for i in range(5)]
        g.flush()
        assert [f.result(30) for f in futs] == [0, 10, 20, 30, 40]


# --- property-based invariants (hypothesis) ---------------------------------

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@given(items=st.lists(st.integers(min_value=-10**6, max_value=10**6),
                      min_size=1, max_size=50))
@settings(max_examples=25, deadline=None)
def test_property_positional_identity(items):
    """For ANY submitted sequence, result i == proc(items)[i] — the
    reference's core invariant (core.clj:74-79) under random input."""
    with make(lambda xs: [x * 2 + 1 for x in xs], capacity=len(items)) as g:
        futs = [g.submit(x) for x in items]
        g.flush()
        got = [f.result(10) for f in futs]
    assert got == [x * 2 + 1 for x in items]


@given(items=st.lists(st.integers(), min_size=1, max_size=20),
       keep=st.integers(min_value=0, max_value=25))
@settings(max_examples=25, deadline=None)
def test_property_pad_and_truncate(items, keep):
    """proc returning a wrong-length list pads with None / drops the
    excess (core.clj:74-76) for every length combination."""
    with make(lambda xs: list(xs)[:keep], capacity=len(items)) as g:
        futs = [g.submit(x) for x in items]
        g.flush()
        got = [f.result(10) for f in futs]
    want = (list(items)[:keep] + [None] * len(items))[: len(items)]
    assert got == want


# -- invariant 11: bounded in-flight batches (CallerRunsPolicy) -----------


def test_pool_saturation_runs_on_dispatcher_and_bounds_inflight():
    """With pool=2 and a slow proc, at most pool+1 batches execute
    concurrently (2 workers + the dispatcher running one itself), and
    the dispatcher stalls instead of queueing unbounded work — the
    reference's SynchronousQueue + CallerRunsPolicy (core.clj:85-97,
    concurrency pinned like core_test.clj:79-87)."""
    lock = threading.Lock()
    inflight = 0
    high_water = 0
    dispatcher_ran = threading.Event()
    release = threading.Event()

    def proc(xs):
        nonlocal inflight, high_water
        with lock:
            inflight += 1
            high_water = max(high_water, inflight)
        if threading.current_thread().name == "grouper-dispatcher":
            dispatcher_ran.set()
        release.wait(5)
        with lock:
            inflight -= 1
        return xs

    g = Grouper(proc, capacity=100, interval=None, pool=2)
    futs = []
    for i in range(6):
        futs.append(g.submit(i))
        g.flush()  # one batch per item
        time.sleep(0.05)
    # 2 batches occupy the pool; batch 3 runs on the dispatcher, which
    # therefore stalls — batches 4-6 are still in the queue, not in RAM
    # as submitted-but-waiting pool work.
    time.sleep(0.2)
    with lock:
        assert inflight <= 3
    assert dispatcher_ran.is_set()
    release.set()
    assert [f.result(10) for f in futs] == list(range(6))
    g.shutdown()
    assert high_water <= 3  # never more than pool + dispatcher


def test_pool_accepts_executor_instance():
    """start! accepts an ExecutorService instance for :pool
    (core.clj:108-122); shutdown() shuts it down (core.clj:64-66)."""
    from concurrent.futures import ThreadPoolExecutor

    ex = ThreadPoolExecutor(max_workers=2, thread_name_prefix="user-pool")
    threads = set()
    with make(lambda xs: [threads.add(threading.current_thread().name) or x for x in xs],
              pool=ex) as g:
        futs = [g.submit(i) for i in range(3)]
        g.flush()
        assert [f.result(5) for f in futs] == [0, 1, 2]
    assert all(t.startswith("user-pool") for t in threads)
    # grouper shutdown shut the caller's executor down too (reference parity)
    with pytest.raises(RuntimeError):
        ex.submit(lambda: None)


# -- invariant 5/6: raising callback → batch-granular errbacks ------------


def test_callback_exception_triggers_batch_errbacks():
    """A callback that raises falls into the body-fn outer catch
    (core.clj:68-83): errbacks fire for EVERY request in the batch,
    not-yet-delivered futures get the exception as their value, and
    already-delivered futures keep their results."""
    errbacked = []
    boom = ValueError("callback exploded")

    def bad_callback(res):
        raise boom

    with make(lambda xs: [x * 10 for x in xs]) as g:
        f1 = g.submit(1, errback=lambda e: errbacked.append(("a", e)))
        f2 = g.submit(2, callback=bad_callback,
                      errback=lambda e: errbacked.append(("b", e)))
        f3 = g.submit(3, errback=lambda e: errbacked.append(("c", e)))
        g.flush()
        assert f1.result(5) == 10          # delivered before the explosion
        assert f2.result(5) is boom        # exception as a value, not raised
        assert f3.result(5) is boom
    assert [tag for tag, _ in errbacked] == ["a", "b", "c"]
    assert all(e is boom for _, e in errbacked)


def test_rejected_user_executor_delivers_error_not_hang():
    """If a caller-supplied executor rejects submission (e.g. its owner
    already shut it down), the rejection is delivered as a value to the
    batch and the dispatcher thread survives — not a silent hang."""
    from concurrent.futures import ThreadPoolExecutor

    ex = ThreadPoolExecutor(max_workers=1)
    ex.shutdown(wait=True)  # the owner shuts it down out from under us
    g = make(lambda xs: [x * 2 for x in xs], pool=ex)
    try:
        fut = g.submit(5)
        g.flush()
        res = fut.result(5)  # error-as-value, never a timeout/hang
        assert isinstance(res, RuntimeError)
        # dispatcher is still alive and the grouper still accepts work
        assert g.is_running()
        fut2 = g.submit(6)
        g.flush()
        assert isinstance(fut2.result(5), RuntimeError)
    finally:
        g.shutdown()
