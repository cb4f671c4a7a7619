"""Structured-Streaming face of the Grouper layer.

The reference's dispatcher loop (core.clj:124-135) IS Spark's
micro-batch execution: ``Trigger.ProcessingTime`` ≈ ``:interval``,
``maxFilesPerTrigger`` ≈ ``:capacity`` rate limiting, and
``Trigger.AvailableNow`` is the graceful drain of close (core.clj:58-66).
``foreachBatch`` plays body-fn (core.clj:68-83): it applies the user's
batch transform and — crucially — implements the reference's
*error-as-value, no-retry* contract by catching inside the batch
function and emitting status/error columns instead of letting Spark's
task-retry machinery re-run user side effects the reference would never
re-run.

Every streaming query here and in ``queries/microbatch.py`` is one
bounded replay: ``replay`` reads a staged source one file per
micro-batch, and ``drain`` runs the writer to completion inside the
state-store shuffle width.
"""

from __future__ import annotations

import glob
import os
from contextlib import contextmanager
import tempfile
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# Stateful streaming runs without AQE, so every state-store operator
# pays the full static shuffle width: 32 partitions × N micro-batches of
# task overhead for state that fits in a handful. Size it to the
# replayed fixture state instead of the batch default (at scale, to the
# state volume).
_STREAM_SHUFFLE = 8


@contextmanager
def _scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Set spark.sql.shuffle.partitions to ``n`` for the body and restore
    it on exit, also when the body raises, so the caller's batch queries
    keep the session's width."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def replay(
    spark: SparkSession, source_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming read of a staged parquet source (``stage_stream_source``).

    The schema is inferred once from the staged files; each micro-batch
    reads ``max_files_per_trigger`` files in mtime order (the capacity
    analogue), so with the default of one file a directory of N staged
    files replays as N micro-batches in the same order every run."""
    schema = spark.read.parquet(source_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def drain(
    writer: DataStreamWriter,
    *,
    memory: bool = False,
    interval_ms: int | None = None,
):
    """Start ``writer`` and run it until its source is exhausted — the
    reference's drain-on-close (core.clj:58-66) — inside the one
    state-store shuffle width.

    - ``interval_ms=None`` runs ``Trigger.AvailableNow`` to termination;
      otherwise ``Trigger.ProcessingTime`` (the ``:interval`` analogue)
      until all available input is processed, then stops the query.
    - ``memory=True`` sends the output to a memory sink under a
      generated query name and returns ``spark.table(<name>)``;
      otherwise the finished ``StreamingQuery`` is returned (its
      ``recentProgress`` holds one entry per micro-batch).

    A failing query raises ``StreamingQueryException`` after the shuffle
    width is restored."""
    spark = writer._spark  # the writer's session; there is no public accessor
    name = None
    if memory:
        name = f"drain_{uuid.uuid4().hex[:12]}"
        writer = writer.format("memory").queryName(name)
    with _scoped_shuffle_partitions(spark, _STREAM_SHUFFLE):
        if interval_ms is None:
            query = writer.trigger(availableNow=True).start()
            query.awaitTermination()
        else:
            query = writer.trigger(
                processingTime=f"{interval_ms} milliseconds"
            ).start()
            try:
                query.processAllAvailable()
            finally:
                query.stop()
    return spark.table(name) if memory else query


def grouper_process_stream(
    spark: SparkSession,
    source_dir: str,
    proc_fn: Callable[[DataFrame], DataFrame],
    *,
    interval_ms: int | None = None,
    max_files_per_trigger: int = 1,
    result_dir: str | None = None,
) -> DataFrame:
    """Run a parquet-directory stream through a grouper-style batch fn.

    - ``interval_ms=None`` → one-shot drain (Trigger.AvailableNow), the
      deterministic mode used by tests and the driver.
    - ``max_files_per_trigger`` bounds batch size (capacity analogue).
    - Each micro-batch gets ``batch_id`` plus ``status``/``error``
      columns; a failing batch is recorded, not retried.

    Returns the accumulated result as a DataFrame read back from the
    result sink.
    """
    if result_dir is None:
        result_dir = os.path.join(
            tempfile.gettempdir(), f"grouper-stream-{uuid.uuid4().hex}"
        )

    # foreachBatch runs driver-side: the closure records the ok-path
    # output schema so an all-batches-empty run (a filter that drops
    # every row) can still return a correctly-typed empty result instead
    # of being mistaken for an all-batches-failed run.
    seen = {"ok_schema": None}

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The write action lives INSIDE the try: proc_fn only builds a
        # lazy plan, so execution-time failures (a raising UDF, bad data)
        # surface at out.write — catching them here is what actually
        # keeps Spark's task-retry machinery from re-running user side
        # effects, the reference's no-retry contract (core.clj:80-83).
        try:
            out = proc_fn(batch_df)
            out = out.withColumn("batch_id", F.lit(batch_id)).withColumn(
                "status", F.lit("ok")
            ).withColumn("error", F.lit(None).cast("string"))
            seen["ok_schema"] = out.schema
            out.write.mode("append").parquet(result_dir)
        except Exception as exc:  # error-as-value: never let Spark retry
            # Dead-letter channel: same fate for the whole batch
            # (batch-granular failure, core.clj:80-83). The failed rows'
            # full payload rides along — like the reference errback,
            # which hands each request's context to its errback — so
            # failures are identifiable and replayable. Payload columns
            # that collide with the meta columns are prefixed so the
            # dead-letter write can never itself fail on duplicates.
            reserved = {"batch_id", "status", "error"}
            payload = [
                F.col(c).alias(f"src_{c}") if c in reserved else F.col(c)
                for c in batch_df.columns
            ]
            batch_df.select(
                *payload,
                F.lit(batch_id).alias("batch_id"),
                F.lit("error").alias("status"),
                F.lit(str(exc)).alias("error"),
            ).write.mode("append").parquet(result_dir + "-errors")

    writer = (
        replay(spark, source_dir, max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(handle_batch)
        .option(
            "checkpointLocation",
            os.path.join(tempfile.gettempdir(), f"grouper-ckpt-{uuid.uuid4().hex}"),
        )
    )
    drain(writer, interval_ms=interval_ms)

    # A batch that failed mid-action leaves result_dir existing but with no
    # committed part files (Spark's commit protocol aborts the task output),
    # so test for committed data, not the directory.
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        if seen["ok_schema"] is not None:
            # every batch succeeded but produced zero rows (empty
            # partitions commit no part files) → typed empty result
            return spark.createDataFrame([], seen["ok_schema"])
        # every batch failed → only the dead-letter sink has rows
        return spark.createDataFrame(
            [], "batch_id long, status string, error string"
        )
    return spark.read.parquet(result_dir)


def stateful_running_sum(
    spark: SparkSession,
    source_dir: str,
    *,
    key_col: str,
    cents_col: str,
) -> DataFrame:
    """Custom stateful streaming operator: per-key running (count, sum)
    maintained in explicit ``GroupState`` via ``applyInPandasWithState``.

    Each micro-batch updates the key's state and emits the running totals
    (update mode), so the sink holds one row per (key, batch-it-appeared-
    in). At scale the state store is RocksDB per key-partition — state
    shuffles once on the key, Arrow-batched per group. This is the Spark
    shape of the reference's only stateful machinery (the dispatcher's
    queue, core.clj:26-31) generalized to keyed user state.

    Returns the raw emission log (``key, n_seen, total_cents``); the
    caller reduces to final state (max n_seen per key) if wanted.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, tot = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            tot += int(pdf[cents_col].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"key": [key[0]], "n_seen": [n], "total_cents": [tot]}
        )

    log = (
        replay(spark, source_dir)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType="key bigint, n_seen bigint, total_cents bigint",
            stateStructType="n bigint, tot bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return drain(log.writeStream.outputMode("update"), memory=True)


def stateful_sessionize(
    spark: SparkSession,
    source_dir: str,
    *,
    key_col: str,
    ts_col: str,
    gap_s: int = 300,
) -> DataFrame:
    """Custom stateful session windows with **event-time timeout
    eviction**: per-key open sessions live in ``GroupState``; a session
    closes (and is emitted, append-mode) either when a later event for
    the key arrives more than ``gap_s`` after its last event, or when
    the stream's watermark passes ``last_event + gap_s`` and the state
    times out (``GroupStateTimeout.EventTimeTimeout``) — so abandoned
    keys cannot accumulate state forever, which is what distinguishes
    this from the NoTimeout running aggregate above and is the property
    that makes keyed state bounded on an unbounded stream.

    Timestamps are carried as integer epoch-micros in state and output,
    so session identity is exact. Emissions happen only for CLOSED
    sessions; correctness relies on the watermark contract (rows later
    than the watermark are dropped by Spark before reaching the
    operator). At scale the state store is RocksDB per key-partition;
    state shuffles once on the key.

    Returns ``key, start_us, last_us, n_events`` — one row per closed
    session.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_s * 1_000_000

    def update(key, pdfs, state):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "start_us": [start_us],
                    "last_us": [last_us],
                    "n_events": [n],
                }
            )
            return
        ts = pd.concat([pdf[ts_col] for pdf in pdfs])
        # pandas datetime64[ns] → epoch micros (int64), sorted
        us = sorted(int(v) for v in ts.astype("int64") // 1000)
        closed: list[tuple[int, int, int]] = []
        if state.exists:
            cur_start, cur_last, cur_n = state.get
        else:
            cur_start, cur_last, cur_n = us[0], us[0], 0
            cur_n = 1
            us = us[1:]
        for t in us:
            if t - cur_last > gap_us:
                closed.append((cur_start, cur_last, cur_n))
                cur_start, cur_last, cur_n = t, t, 1
            else:
                cur_last = t
                cur_n += 1
        state.update((cur_start, cur_last, cur_n))
        # evict when the watermark passes the open session's close point
        state.setTimeoutTimestamp((cur_last + gap_us) // 1000 + 1)
        if closed:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "start_us": [c[0] for c in closed],
                    "last_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    sessions = (
        replay(spark, source_dir)
        .withWatermark(ts_col, "1 second")
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                "key bigint, start_us bigint, last_us bigint, n_events bigint"
            ),
            stateStructType="start_us bigint, last_us bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return drain(sessions.writeStream.outputMode("append"), memory=True)


def stage_stream_source(
    df: DataFrame,
    n_files: int,
    source_dir: str | None = None,
    order_by: str | None = None,
) -> str:
    """Materialize a DataFrame as an ``n_files``-file parquet directory with
    strictly increasing file mtimes, for use as a deterministic streaming
    source.

    FileStreamSource orders files by (mtime, path); parallel write tasks
    finish within one clock tick, leaving batch ordering to path
    tie-breaks. Strictly increasing mtimes pin a deterministic
    file→micro-batch assignment, so with ``maxFilesPerTrigger=1`` the
    stream replays the same N batches in the same order every run.
    """
    import time

    if source_dir is None:
        source_dir = os.path.join(
            tempfile.gettempdir(), f"grouper-src-{uuid.uuid4().hex}"
        )
    if order_by is not None:
        # Event-time-ordered arrival: range-partition on the time column
        # so file i holds strictly earlier events than file i+1 (file
        # part-ids follow range order, and mtime staggering below follows
        # file name order). Watermark-correct replay needs this — random
        # file contents would advance the watermark past most of the
        # remaining data after the first batch.
        df = df.repartitionByRange(n_files, F.col(order_by)).sortWithinPartitions(
            order_by
        )
    else:
        df = df.repartition(n_files)
    df.write.parquet(source_dir)
    files = sorted(glob.glob(os.path.join(source_dir, "*.parquet")))
    base = time.time() - 10 * len(files)
    for i, f in enumerate(files):
        os.utime(f, (base + 10 * i, base + 10 * i))
    return source_dir


def append_stream_file(source_dir: str, df: DataFrame) -> None:
    """Append one more file to a staged stream source, with an mtime
    strictly after every existing file — FileStreamSource will process
    it as a later micro-batch (its own batch under maxFilesPerTrigger=1).

    Used to append watermark-advancing sentinel batches: outer joins and
    other watermark-gated operators only EMIT held state when a later
    batch moves the watermark past it, so a bounded replay needs
    trailing batches after the real data (an unbounded production stream
    gets them for free from ongoing traffic).
    """
    import shutil

    existing = glob.glob(os.path.join(source_dir, "*.parquet"))
    latest = max(os.path.getmtime(f) for f in existing)
    tmp = os.path.join(tempfile.gettempdir(), f"grouper-app-{uuid.uuid4().hex}")
    df.coalesce(1).write.parquet(tmp)
    part = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    dest = os.path.join(source_dir, f"zz-late-{uuid.uuid4().hex}.parquet")
    shutil.move(part, dest)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dest, (latest + 10, latest + 10))


def stateful_extrema(
    spark: SparkSession,
    source_dir: str,
    *,
    key_col: str,
    cents_col: str,
) -> DataFrame:
    """Per-key running (count, min, max) via ``applyInPandasWithState``:
    one BIGINT triple per key in ``GroupState``, re-emitted every
    micro-batch (update mode) as ``key, n_seen, min_cents, max_cents``.
    Integer cents make the fold order-independent, so the final emission
    per key is exactly the batch ``groupBy`` answer.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, mn, mx = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            c = pdf[cents_col]
            if len(c) == 0:
                continue
            n += int(len(c))
            bmn, bmx = int(c.min()), int(c.max())
            mn = bmn if mn is None else min(mn, bmn)
            mx = bmx if mx is None else max(mx, bmx)
        state.update((n, mn, mx))
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_seen": [n],
                "min_cents": [mn],
                "max_cents": [mx],
            }
        )

    log = (
        replay(spark, source_dir)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                "key bigint, n_seen bigint, min_cents bigint, "
                "max_cents bigint"
            ),
            stateStructType="n bigint, mn bigint, mx bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return drain(log.writeStream.outputMode("update"), memory=True)
