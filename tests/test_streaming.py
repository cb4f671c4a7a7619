"""Structured-Streaming grouper path: drain semantics + dead-letter."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from grouper_spark.streaming import grouper_process_stream


@pytest.fixture()
def source_dir(spark):
    d = os.path.join(tempfile.gettempdir(), f"gs-test-src-{uuid.uuid4().hex}")
    spark.createDataFrame(
        [(i, f"item{i}") for i in range(20)], ["id", "payload"]
    ).repartition(4).write.parquet(d)
    return d


def test_stream_ok_path(spark, source_dir):
    out = grouper_process_stream(
        spark,
        source_dir,
        lambda df: df.select("id", F.upper("payload").alias("payload_upper")),
        interval_ms=None,
        max_files_per_trigger=1,
    )
    rows = out.collect()
    assert len(rows) == 20
    assert {r["status"] for r in rows} == {"ok"}
    assert {r["payload_upper"] for r in rows} == {f"ITEM{i}" for i in range(20)}
    # maxFilesPerTrigger=1 over 4 files → multiple micro-batches
    assert out.select("batch_id").distinct().count() > 1


def test_stream_error_as_value(spark, source_dir):
    result_dir = os.path.join(tempfile.gettempdir(), f"gs-test-res-{uuid.uuid4().hex}")

    def bad_proc(df):
        raise ValueError("boom")

    grouper_process_stream(
        spark,
        source_dir,
        bad_proc,
        interval_ms=None,
        max_files_per_trigger=2,
        result_dir=result_dir,
    )
    errs = spark.read.parquet(result_dir + "-errors").collect()
    assert len(errs) > 0
    assert all(e["status"] == "error" and "boom" in e["error"] for e in errs)


def test_stream_execution_time_failure_dead_letters(spark, source_dir):
    """proc_fn that builds a VALID lazy plan but fails only when executed
    (a raising UDF) must still dead-letter, not raise
    StreamingQueryException — the write action is inside the try."""
    from pyspark.sql.types import StringType

    result_dir = os.path.join(tempfile.gettempdir(), f"gs-test-res-{uuid.uuid4().hex}")

    @F.udf(returnType=StringType())
    def exploding(payload):
        raise RuntimeError("runtime-boom")

    grouper_process_stream(
        spark,
        source_dir,
        lambda df: df.select("id", "payload", exploding("payload").alias("x")),
        interval_ms=None,
        max_files_per_trigger=2,
        result_dir=result_dir,
    )
    errs = spark.read.parquet(result_dir + "-errors").collect()
    assert len(errs) == 20  # every source row dead-lettered with payload
    assert all(e["status"] == "error" and "runtime-boom" in e["error"] for e in errs)
    # reference errback hands the request context along: payload rides too
    assert {e["payload"] for e in errs} == {f"item{i}" for i in range(20)}
    # no committed ok output — aborted writes leave no part files
    import glob

    assert glob.glob(os.path.join(result_dir, "*.parquet")) == []


def test_stateful_running_sum_state_accumulates(spark):
    from grouper_spark.streaming import stateful_running_sum

    import glob
    import time

    # Stage two files with explicit contents (both containing key 1) so
    # key-1 state provably spans micro-batches; staggered mtimes pin the
    # batch order.
    src = os.path.join(tempfile.gettempdir(), f"gs-state-{uuid.uuid4().hex}")
    f1 = spark.createDataFrame([(1, 100), (1, 200), (2, 50)], "user_id long, cents long")
    f2 = spark.createDataFrame([(1, 300), (2, 50)], "user_id long, cents long")
    f1.coalesce(1).write.mode("append").parquet(src)
    f2.coalesce(1).write.mode("append").parquet(src)
    files = sorted(glob.glob(os.path.join(src, "*.parquet")), key=os.path.getmtime)
    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now + 10 * i, now + 10 * i))

    log = stateful_running_sum(spark, src, key_col="user_id", cents_col="cents")
    emitted = log.collect()
    # final state per key equals the global aggregate
    final = {}
    for r in emitted:
        if r["key"] not in final or r["n_seen"] > final[r["key"]][0]:
            final[r["key"]] = (r["n_seen"], r["total_cents"])
    assert final[1] == (3, 600)
    assert final[2] == (2, 100)
    # state genuinely spanned micro-batches: some key emitted more than once
    assert len(emitted) > len(final)


def test_checkpoint_resume_exactly_once(spark):
    """Restarting an availableNow stream on the SAME checkpoint must not
    reprocess committed batches — the exactly-once contract the 100 TB
    path relies on for restarts."""
    from grouper_spark.streaming import stage_stream_source

    src = stage_stream_source(
        spark.createDataFrame([(i, i * 10) for i in range(8)], "id long, v long"), 2
    )
    ckpt = os.path.join(tempfile.gettempdir(), f"gs-ckpt-{uuid.uuid4().hex}")
    out = os.path.join(tempfile.gettempdir(), f"gs-out-{uuid.uuid4().hex}")
    schema = spark.read.parquet(src).schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).count()
    run_once()  # same checkpoint: nothing new to process
    second = spark.read.parquet(out).count()
    assert first == 8
    assert second == 8, "restart reprocessed already-committed batches"


def test_processing_time_trigger_drains(spark):
    """The interval path (Trigger.ProcessingTime + processAllAvailable):
    all staged rows must be processed and stamped with ok status."""
    from grouper_spark.streaming import grouper_process_stream, stage_stream_source

    src = stage_stream_source(
        spark.createDataFrame([(i, i + 100) for i in range(6)], "id long, v long"), 2
    )
    out = grouper_process_stream(
        spark,
        src,
        lambda df: df.withColumn("doubled", df["v"] * 2),
        interval_ms=200,
        max_files_per_trigger=1,
    )
    rows = out.orderBy("id").collect()
    assert len(rows) == 6
    assert all(r["status"] == "ok" and r["doubled"] == r["v"] * 2 for r in rows)


def test_dead_letter_survives_reserved_column_names(spark):
    """A source whose payload already has a `status` column must still
    dead-letter cleanly (colliding payload columns get prefixed) — the
    error handler must never itself crash on duplicate columns."""
    src = os.path.join(tempfile.gettempdir(), f"gs-test-src-{uuid.uuid4().hex}")
    spark.createDataFrame(
        [(i, "pending") for i in range(4)], ["id", "status"]
    ).write.parquet(src)
    result_dir = os.path.join(tempfile.gettempdir(), f"gs-test-res-{uuid.uuid4().hex}")

    def bad_proc(df):
        raise ValueError("boom")

    grouper_process_stream(
        spark, src, bad_proc, interval_ms=None, result_dir=result_dir
    )
    errs = spark.read.parquet(result_dir + "-errors").collect()
    assert len(errs) == 4
    assert all(e["status"] == "error" and e["src_status"] == "pending" for e in errs)


def test_all_batches_empty_keeps_proc_schema(spark, source_dir):
    """A proc_fn that legitimately filters out every row is NOT a
    failure: the result must be an empty DataFrame with the proc-output
    schema, not the dead-letter schema."""
    out = grouper_process_stream(
        spark,
        source_dir,
        lambda df: df.filter(F.col("id") < 0).select(
            "id", F.upper("payload").alias("payload_upper")
        ),
        interval_ms=None,
    )
    assert out.count() == 0
    assert "payload_upper" in out.columns  # proc schema, not dead-letter


def test_append_stream_file_becomes_later_batch(spark):
    """A file appended via append_stream_file must arrive as its own,
    LAST micro-batch (strictly later mtime), preserving replay order."""
    from grouper_spark.streaming import append_stream_file, stage_stream_source

    base = spark.createDataFrame([(i,) for i in range(6)], ["v"])
    src = stage_stream_source(base, 2)
    append_stream_file(src, spark.createDataFrame([(99,)], ["v"]))
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"apf_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 3  # 2 staged + 1 appended batch
    last_with_rows = [p for p in q.recentProgress if p["numInputRows"] > 0][-1]
    assert last_with_rows["numInputRows"] == 1
    assert spark.table(name).count() == 7


def test_stateful_sessionize_timeout_evicts_abandoned_keys(spark, tmp_path):
    """A key that stops sending must still get its final session emitted
    — via EventTimeTimeout when OTHER keys' traffic advances the
    watermark — and in-batch gaps must split sessions. Bounded state on
    an unbounded stream is the property under test."""
    import datetime as dt

    from grouper_spark.streaming.stream import (
        append_stream_file,
        stateful_sessionize,
        stage_stream_source,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # user 1: two events 10s apart, then silence → one session, closed
    #         only because user 2 keeps talking (timeout eviction).
    # user 2: bursts at 0s and 2000s → the second burst closes the first
    #         session on arrival (gap path), sentinel closes the last.
    rows = [
        (1, ts(0)), (1, ts(10)),
        (2, ts(5)), (2, ts(2000)), (2, ts(2030)),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    src = stage_stream_source(df, 2, order_by="ts")
    sentinel = spark.createDataFrame(
        [(-1, ts(100000))], "user_id bigint, ts timestamp"
    )
    append_stream_file(src, sentinel)

    out = stateful_sessionize(
        spark, src, key_col="user_id", ts_col="ts", gap_s=300
    )
    got = sorted(
        (r["key"], r["n_events"]) for r in out.filter("key >= 0").collect()
    )
    # user 1: one 2-event session; user 2: 1-event then 2-event sessions
    assert got == [(1, 2), (2, 1), (2, 2)]


def test_replay_runs_one_micro_batch_per_staged_file(spark):
    """replay + drain over a 4-file staged source is exactly 4
    micro-batches, and every row arrives once."""
    from grouper_spark.streaming import drain, replay, stage_stream_source

    src = stage_stream_source(
        spark.createDataFrame([(i,) for i in range(40)], "id long"), 4
    )
    q = drain(replay(spark, src).writeStream.format("noop"))
    assert len(q.recentProgress) == 4
    assert [p["numInputRows"] > 0 for p in q.recentProgress] == [True] * 4
    assert sum(p["numInputRows"] for p in q.recentProgress) == 40


def test_drain_restores_shuffle_partitions_when_query_raises(spark):
    """The state-store shuffle width is scoped to the drain: a streaming
    query that fails still leaves the session's width as it found it."""
    from pyspark.errors import StreamingQueryException

    from grouper_spark.streaming import drain, replay, stage_stream_source
    from grouper_spark.streaming.stream import _STREAM_SHUFFLE

    src = stage_stream_source(spark.createDataFrame([(1,)], "id long"), 1)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    width = str(_STREAM_SHUFFLE + 5)  # any width the drain does not use
    spark.conf.set("spark.sql.shuffle.partitions", width)

    def fail(batch_df, batch_id):
        raise RuntimeError("batch-boom")

    try:
        with pytest.raises(StreamingQueryException, match="batch-boom"):
            drain(replay(spark, src).writeStream.foreachBatch(fail))
        assert spark.conf.get("spark.sql.shuffle.partitions") == width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
