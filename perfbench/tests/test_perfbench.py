"""Tests of the benchmark's own helpers and its correctness accounting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import sys
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import checks  # noqa: E402
import datagen  # noqa: E402
import grouper_load  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402


@pytest.mark.parametrize("q", [0, 1, 25, 50, 73.5, 99, 100])
def test_percentile_matches_numpy(q):
    xs = [random.Random(i).expovariate(1.0) for i in range(101)]
    assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_edges():
    assert stats.percentile([4.0], 99) == 4.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.mean([1.0, 2.0, 6.0]) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)
    with pytest.raises(ValueError):
        stats.mean([])


def test_lateness_and_latency_from_due():
    due = [0.0, 1.0, 2.0]
    sent = [0.5, 0.999, 2.25]
    assert stats.lateness(due, sent) == pytest.approx([0.5, 0.0, 0.25])
    assert stats.latencies_from_due(due, [1.0, 3.0, 2.5]) == pytest.approx([1.0, 2.0, 0.5])
    with pytest.raises(ValueError):
        stats.lateness([0.0], [])


def test_schedule_is_seeded_and_at_rate():
    a = grouper_load.make_schedule(random.Random(3), 2000.0, 2.0)
    b = grouper_load.make_schedule(random.Random(3), 2000.0, 2.0)
    assert a == b
    assert all(x < y for x, y in zip(a, a[1:]))
    assert 3600 < len(a) < 4400


def test_compare_is_order_insensitive_over_sorted_columns():
    canon = checks.canonical
    expected = canon(["b", "a"], [(2, "x"), (1, "y")])
    assert checks.compare(canon(["a", "b"], [("y", 1), ("x", 2)]), expected) is None
    assert "row count" in checks.compare(canon(["a", "b"], [("y", 1)]), expected)
    assert "columns" in checks.compare(canon(["a", "c"], [("y", 1), ("x", 2)]), expected)
    assert "values" in checks.compare(canon(["a", "b"], [("y", 1), ("x", 3)]), expected)


def test_oracle_answers_are_cached_by_sql_and_data(tmp_path):
    import duckdb

    con = duckdb.connect()
    sql = "SELECT 1 AS x"
    first = checks.oracle_canonical(con, sql, "k1", str(tmp_path))
    assert len(os.listdir(tmp_path)) == 1
    assert checks.oracle_canonical(con, sql, "k1", str(tmp_path)) == first
    checks.oracle_canonical(con, sql, "k2", str(tmp_path))
    assert len(os.listdir(tmp_path)) == 2


def test_stream_replay_check():
    ok = [{"event_id": i, "status": "ok"} for i in range(5)]
    assert checks.check_stream_replay(ok, set(range(5))) is None
    dup = ok[:4] + [{"event_id": 0, "status": "ok"}]
    assert checks.check_stream_replay(dup, set(range(5)))
    bad = ok[:4] + [{"event_id": 4, "status": "error"}]
    assert "status" in checks.check_stream_replay(bad, set(range(5)))


class _Frame:
    """Stands in for a Spark DataFrame: columns plus collect()."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def test_injected_wrong_result_raises_error_rate(tmp_path, monkeypatch):
    monkeypatch.setattr(worker, "CACHE_DIR", str(tmp_path / "cache"))
    data = str(tmp_path / "data")
    datagen.write(data, 0.001)
    sql = (
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem"
        " GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    import duckdb

    truth = duckdb.sql(
        f"SELECT l_returnflag, COUNT(*) AS n FROM '{data}/lineitem.parquet' GROUP BY 1"
    ).fetchall()
    registry = {"good": SimpleNamespace(oracle=sql), "wrong": SimpleNamespace(oracle=sql)}
    wrong = [(flag, n + 1 if i == 0 else n) for i, (flag, n) in enumerate(truth)]

    tally = checks.Tally()
    tally.add(2)  # the two timed executions
    verdicts = worker.check_outputs(
        registry,
        {
            "good": _Frame(["l_returnflag", "n"], list(reversed(truth))),
            "wrong": _Frame(["l_returnflag", "n"], wrong),
        },
        data,
        tally,
    )
    assert verdicts == {"good": "ok", "wrong": "values differ from the oracle"}
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.error_rate == 0.5


def test_grouper_tally_counts_wrong_futures():
    out = grouper_load.Outcome(items=10, wall_s=1.0, failed=3, done_at=[], trace=None)
    per_item, per_run = checks.Tally(), checks.Tally()
    worker.count(per_item, out, "burst", per_item=True)
    worker.count(per_run, out, "burst", per_item=False)
    assert (per_item.attempted, per_item.failed) == (10, 3)
    assert (per_run.attempted, per_run.failed) == (1, 1)


def test_closed_burst_delivers_f_of_each_item():
    items = grouper_load.make_items(random.Random(1), 250)
    out = grouper_load.closed_burst(items, pool=2, trace=True)
    assert out.failed == 0
    m = grouper_load.trace_metrics(out.trace, out.done_at)
    assert m["grouper.batch_size.mean"] <= grouper_load.CAPACITY
    assert sum(out.trace.batch_sizes) == len(items)


def test_datagen_is_deterministic():
    a = datagen.tables(0.001)
    b = datagen.tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == 6000
