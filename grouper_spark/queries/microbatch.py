"""Grouper micro-batch layer as a registered query (rows-only check:
streaming batch boundaries aren't SQL-expressible, but row counts and
schema are stable)."""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from ..sources import table
from ..streaming import (
    append_stream_file,
    drain,
    grouper_process_stream,
    replay,
    stage_stream_source,
    stateful_extrema,
    stateful_running_sum,
    stateful_sessionize,
)
from . import query
from ..operators.core import literal_frame


@query("q40_grouper_stream", oracle=None, tags=("streaming", "rows_only"))
def q40_grouper_stream(spark, sf_dir):
    """Replay the events table through the Structured-Streaming grouper
    path (availableNow drain == reference close/drain semantics): batch fn
    uppercases event_type and doubles value; per-batch status columns
    implement the error-as-value channel."""

    def proc(batch_df):
        return batch_df.select(
            "event_id",
            F.upper("event_type").alias("event_type_upper"),
            (F.col("value") * 2).alias("value_doubled"),
        )

    # Stage the table as a 4-file directory (staggered mtimes) so
    # availableNow + maxFilesPerTrigger=1 runs exactly 4 micro-batches.
    source_dir = stage_stream_source(table(spark, sf_dir, "events"), 4)

    out = grouper_process_stream(spark, source_dir, proc)
    return out.select(
        "event_id", "event_type_upper", "value_doubled", "status"
    ).orderBy("event_id")


@query(
    "q52_stream_watermark_window",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) / 100.0 AS DOUBLE)
         AS total_value
FROM events
GROUP BY window_start
ORDER BY window_start
""",
    tags=("streaming", "event_time"),
)
def q52_stream_watermark_window(spark, sf_dir):
    """Event-time tumbling window + watermark over a real stream
    (replay → withWatermark → window agg → availableNow drain,
    complete output). State is keyed by window — at scale this is
    RocksDB-backed streaming state. Complete-mode totals equal the
    batch aggregation, so this streaming query carries an exact SQL
    oracle."""
    src = stage_stream_source(table(spark, sf_dir, "events"), 4)
    windows = (
        replay(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint")) / 100.0
            ).alias("total_value"),
        )
    )
    return (
        drain(windows.writeStream.outputMode("complete"), memory=True)
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


@query(
    "q57_stateful_running_sum",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_seen,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) / 100.0 AS DOUBLE)
         AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "stateful"),
)
def q57_stateful_running_sum(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running (count, cents-sum) GroupState updated across 4
    micro-batches; the final emission per user must equal the batch
    groupBy — which is the exact SQL oracle. Fixed-point cents are
    computed Spark-side BEFORE the stream so rounding matches DuckDB."""
    from ..functions.text import money

    src = stage_stream_source(
        table(spark, sf_dir, "events").select("user_id", money("value").alias("cents")),
        4,
    )
    log = stateful_running_sum(spark, src, key_col="user_id", cents_col="cents")
    # final state per key = emission with the max running count
    final = (
        log.groupBy("key")
        .agg(F.max(F.struct("n_seen", "total_cents")).alias("s"))
        .select(
            F.col("key").alias("user_id"),
            F.col("s.n_seen").alias("n_seen"),
            (F.col("s.total_cents") / 100.0).alias("total_value"),
        )
    )
    return final.orderBy("user_id")


@query(
    "q59_stream_dedup_watermark",
    oracle="""
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
""",
    tags=("streaming", "dedup"),
)
def q59_stream_dedup_watermark(spark, sf_dir):
    """Streaming dedup with bounded state: dropDuplicatesWithinWatermark
    on (user_id, event_type) over a 4-micro-batch replay. The watermark
    bounds how long a key is remembered — the 100 TB knob that keeps
    dedup state finite on an infinite stream. With a delay wider than
    the fixture's time span nothing expires, so the distinct key set
    equals batch DISTINCT — the exact SQL oracle."""
    src = stage_stream_source(table(spark, sf_dir, "events"), 4)
    keys = (
        replay(spark, src)
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return drain(keys.writeStream.outputMode("append"), memory=True).orderBy(
        "user_id", "event_type"
    )


@query(
    "q60_stream_stream_join",
    oracle="""
SELECT a.event_id AS purchase_id, b.event_id AS click_id,
       a.user_id AS user_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'purchase' AND b.event_type = 'click'
 AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts <= a.ts
ORDER BY purchase_id, click_id
""",
    tags=("streaming", "join"),
)
def q60_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join: purchases matched to same-user clicks
    in the preceding 10 minutes. Watermarks on BOTH sides plus the time-
    range predicate bound the join state (the knob that keeps two
    infinite streams joinable); inner-join append output is exactly the
    batch interval join, hence the SQL oracle. The replay arrives in
    event-time order (range-staged files) so the watermark never evicts
    state that batch semantics would still match."""
    src = stage_stream_source(table(spark, sf_dir, "events"), 4, order_by="ts")
    purchases = (
        replay(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        replay(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES"
            " AND c_ts <= p_ts"
        ),
    )
    pairs = joined.select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )
    return drain(pairs.writeStream.outputMode("append"), memory=True).orderBy(
        "purchase_id", "click_id"
    )


@query(
    "q71_incremental_matview",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "incremental"),
)
def q71_incremental_matview(spark, sf_dir):
    """Incremental materialized-view maintenance: each micro-batch's
    partial aggregate is merged into a persistent parquet view inside
    foreachBatch (read-merge-overwrite; at scale, MERGE INTO on a
    transactional table). After the drain the view must equal the batch
    groupBy — the exact SQL oracle. This is the foreachBatch upsert
    pattern that keeps derived tables fresh without reprocessing
    history."""
    from ..functions.text import money

    src = stage_stream_source(
        table(spark, sf_dir, "events").select(
            "event_type", money("value").alias("cents")
        ),
        4,
    )
    view_dir = os.path.join(tempfile.gettempdir(), f"mv-{uuid.uuid4().hex}")

    def merge(batch_df, batch_id):
        part = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n_events"), F.sum("cents").alias("total_cents")
        )
        if os.path.exists(view_dir):
            prev = spark.read.parquet(view_dir)
            merged = (
                prev.unionByName(part)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_cents").alias("total_cents"),
                )
            )
        else:
            merged = part
        # collect-then-rewrite avoids reading+overwriting the same files
        # in one plan; the view is group-key-sized (tiny) by definition
        rows = merged.collect()
        literal_frame(spark, rows, merged.schema).write.mode(
            "overwrite"
        ).parquet(view_dir)

    drain(
        replay(spark, src)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", view_dir + "-ckpt")
    )
    return spark.read.parquet(view_dir).orderBy("event_type")


@query(
    "q90_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100.0, 0) AS BIGINT)) / 100.0 AS DOUBLE)
         AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment, e.event_type
ORDER BY segment, e.event_type
""",
    tags=("streaming", "join"),
)
def q90_stream_static_join(spark, sf_dir):
    """Stream–static enrichment: a stream of events broadcast-joined to
    the static customer dimension, aggregated per (segment, event_type)
    in complete mode. The static side re-resolves per micro-batch but
    never shuffles the stream (broadcast hash join below the stateful
    agg) — at 100 TB the dim stays a broadcast and the only stateful
    shuffle is the bounded (segment, type) key space. Complete-mode
    totals equal the batch join+agg, giving an exact SQL oracle."""
    src = stage_stream_source(table(spark, sf_dir, "events"), 4)
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    totals = (
        replay(spark, src)
        .join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100.0, 0).cast("bigint")) / 100.0
            ).alias("total_value"),
        )
    )
    return drain(totals.writeStream.outputMode("complete"), memory=True).orderBy(
        "segment", "event_type"
    )


@query(
    "q113_stream_outer_join",
    oracle="""
SELECT a.event_id AS purchase_id, b.event_id AS click_id,
       a.user_id AS user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') a
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') b
  ON a.user_id = b.user_id
 AND b.ts >= a.ts - INTERVAL 10 MINUTE AND b.ts <= a.ts
ORDER BY purchase_id, click_id NULLS FIRST
""",
    tags=("streaming", "join"),
)
def q113_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every purchase emits, with
    NULL click columns when no same-user click preceded it by <=10min.
    Outer rows are watermark-gated — Spark holds an unmatched purchase in
    state until the click-side watermark proves no match can still
    arrive, and EMITS it only in a later batch. A bounded replay
    therefore appends two far-future sentinel batches after the real
    data (a production stream gets watermark advancement for free from
    ongoing traffic): the first moves the watermark past all real
    events, the second triggers the eviction pass that emits the held
    outer rows. Sentinel rows (negative event_id) are filtered from the
    result, which then equals the batch LEFT JOIN — the SQL oracle."""
    ev = table(spark, sf_dir, "events")
    src = stage_stream_source(ev, 4, order_by="ts")

    def sentinels(wave: int, ts_lit: str):
        return spark.range(1).select(
            F.lit(-2 * wave - 1).cast("long").alias("event_id"),
            F.lit(ts_lit).cast("timestamp").alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("purchase").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).unionByName(
            spark.range(1).select(
                F.lit(-2 * wave - 2).cast("long").alias("event_id"),
                F.lit(ts_lit).cast("timestamp").alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("click").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )

    append_stream_file(src, sentinels(0, "2030-01-01 00:00:00").select(*ev.columns))
    append_stream_file(src, sentinels(1, "2031-01-01 00:00:00").select(*ev.columns))

    purchases = (
        replay(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        replay(spark, src)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 10 MINUTES"
            " AND c_ts <= p_ts"
        ),
        "leftOuter",
    )
    pairs = joined.select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id")
    )
    out = drain(pairs.writeStream.outputMode("append"), memory=True)
    # Sentinels are filtered AFTER the sink: a right-side predicate above
    # a streaming left-outer join interferes with the null-emission path
    # (observed: watermark-gated outer rows silently dropped), so the
    # streaming plan stays a bare join and the batch read cleans up.
    return (
        out.filter(F.col("purchase_id") >= 0)
        .filter(F.col("click_id").isNull() | (F.col("click_id") >= 0))
        .orderBy("purchase_id", F.col("click_id").asc_nulls_first())
    )

@query(
    "q130_stateful_sessions",
    oracle="""
WITH o AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
), marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 300000000
              THEN 1 ELSE 0 END AS new_s
  FROM o
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), islands AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS isl
  FROM marked
)
SELECT user_id,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS start_us,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, isl
ORDER BY user_id, start_us
""",
    tags=("streaming", "stateful", "session"),
)
def q130_stateful_sessions(spark, sf_dir):
    """Stateful session windows with event-time timeout eviction
    (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout):
    per-user open sessions live in GroupState; a session is emitted when
    a later event arrives past the 300 s gap, or when the watermark
    passes its close point and the state TIMES OUT — bounded keyed
    state on an unbounded stream, which NoTimeout running aggregates
    (q57) don't give you. The replay stages events in event-time order,
    then appends a far-future sentinel batch to advance the watermark
    and time out every remaining open session, so the closed-session
    set equals batch gaps-and-islands sessionization — the exact SQL
    oracle."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    src = stage_stream_source(ev, 6, order_by="ts")
    sentinel = ev.agg(
        F.lit(-1).cast("bigint").alias("user_id"),
        (F.max("ts") + F.expr("INTERVAL 365 DAYS")).alias("ts"),
    )
    append_stream_file(src, sentinel)
    out = stateful_sessionize(spark, src, key_col="user_id", ts_col="ts", gap_s=300)
    return (
        out.filter(F.col("key") >= 0)
        .select(
            F.col("key").alias("user_id"),
            "start_us",
            "last_us",
            "n_events",
        )
        .orderBy("user_id", "start_us")
    )


@query(
    "q187_idempotent_sink",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("streaming", "exactly_once"),
)
def q187_idempotent_sink(spark, sf_dir):
    """Exactly-once sink discipline under task retry: every micro-batch
    is applied TWICE (simulating Spark re-invoking foreachBatch after a
    failure) against a batch-id-versioned parquet sink — the write is
    skipped when the sink has already committed that batch_id, which is
    precisely the idempotent-upsert contract a transactional sink
    (Delta/Iceberg MERGE keyed on batch id) gives at scale. If the
    guard is correct, the doubled replay changes nothing and the final
    state equals the plain batch aggregate — the exact SQL oracle. A
    non-idempotent sink would double every count and fail the hash."""
    from ..functions.text import money

    src = stage_stream_source(
        table(spark, sf_dir, "events").select(
            "event_type", money("value").alias("cents")
        ),
        4,
    )
    sink_dir = os.path.join(
        tempfile.gettempdir(), f"idem-{uuid.uuid4().hex}"
    )
    committed: set[int] = set()

    def apply_batch(batch_df, batch_id):
        if batch_id in committed:
            return  # already committed — the idempotency guard
        part = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        if os.path.exists(sink_dir):
            prev = spark.read.parquet(sink_dir)
            merged = (
                prev.unionByName(part)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_cents").alias("total_cents"),
                )
            )
        else:
            merged = part
        rows = merged.collect()  # group-key-sized by definition
        literal_frame(spark, rows, merged.schema).write.mode(
            "overwrite"
        ).parquet(sink_dir)
        committed.add(batch_id)

    def apply_twice(batch_df, batch_id):
        apply_batch(batch_df, batch_id)
        apply_batch(batch_df, batch_id)  # simulated post-failure retry

    drain(replay(spark, src).writeStream.foreachBatch(apply_twice))
    return (
        spark.read.parquet(sink_dir)
        .select(
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("total_cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "q191_checkpoint_recovery",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
WHERE user_id < 30
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "exactly_once"),
)
def q191_checkpoint_recovery(spark, sf_dir):
    """Checkpoint-based restart recovery — the exactly-once property
    that matters most operationally: a streaming query is run, STOPPED,
    more data arrives, and a second run with the SAME checkpoint
    location resumes from the recorded offsets — re-processing nothing,
    missing nothing. The append-mode sink therefore holds every input
    row exactly once, and the per-user aggregate over it equals the
    plain batch aggregate (the exact SQL oracle). A sink fed by a
    restart WITHOUT offset tracking would double the first half and
    fail the hash."""
    from ..functions.text import money

    base = table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    keyed = base.select(
        "event_id", "user_id", money("value").alias("cents")
    ).localCheckpoint(eager=False)
    first = keyed.filter(F.col("event_id") % 2 == 0)
    second = keyed.filter(F.col("event_id") % 2 == 1)

    src = stage_stream_source(first, 2)
    run_id = uuid.uuid4().hex
    ckpt = os.path.join(tempfile.gettempdir(), f"ckpt-{run_id}")
    sink = os.path.join(tempfile.gettempdir(), f"sink-{run_id}")
    stream = replay(spark, src)

    def run():
        drain(
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    run()  # run 1: processes the first half, then stops
    append_stream_file(src, second)  # data lands while "down"
    run()  # run 2: SAME checkpoint — resumes at recorded offsets

    return (
        spark.read.parquet(sink)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("user_id")
    )


@query(
    "a343_tws_extrema",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CAST(MIN(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
         AS min_cents,
       CAST(MAX(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
         AS max_cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "stateful", "tws"),
)
def a343_tws_extrema(spark, sf_dir):
    """Per-key running (count, min, max) in ``applyInPandasWithState``
    GroupState (``stateful_extrema``), update-mode emissions across a
    4-micro-batch replay; the final emission per key must equal the
    batch groupBy, which is the exact SQL oracle. The registered name
    keeps its historical ``tws`` tag: Spark 4's
    ``transformWithStateInPandas`` needs the ``protobuf`` package, which
    this environment does not ship, so the operator runs on
    applyInPandasWithState. The a-prefix name sorts it ahead of the q*
    queries (see the README on query naming).

    ``value`` is fixed-pointed to integer cents Spark-side BEFORE the
    stream so min/max match DuckDB's rounding exactly."""
    from ..functions.text import money

    src = stage_stream_source(
        table(spark, sf_dir, "events").select(
            "user_id", money("value").alias("cents")
        ),
        4,
    )
    log = stateful_extrema(spark, src, key_col="user_id", cents_col="cents")
    final = (
        log.groupBy("key")
        .agg(F.max(F.struct("n_seen", "min_cents", "max_cents")).alias("s"))
        .select(
            F.col("key").alias("user_id"),
            F.col("s.n_seen").alias("n_seen"),
            F.col("s.min_cents").alias("min_cents"),
            F.col("s.max_cents").alias("max_cents"),
        )
    )
    return final.orderBy("user_id")


@query(
    "a465_join_view_maintenance",
    oracle="""
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS rev_cents
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY segment
ORDER BY segment
""",
    tags=("streaming", "ivm"),
)
def a465_join_view_maintenance(spark, sf_dir):
    """Incremental maintenance of a JOIN view — the delta algebra
    (dV = dA⋈B + A⋈dB + dA⋈dB) that every streaming materialized-
    view engine implements, extending q71's aggregate-only matview to
    the two-sided-join case: both orders AND customers arrive in
    three md5-deterministic batches, and the per-segment revenue view
    is maintained by joining each delta ONLY against the prior
    accumulated state plus the concurrent delta — the full A⋈B is
    never recomputed after the first batch, which at 100 TB is the
    whole point (work per step is |delta|-proportional). The oracle
    is the direct join-aggregate over the complete tables: the hash
    match PROVES the incremental algebra reaches the same view (the
    q58 rewrite-equivalence discipline). All revenue math is exact
    integer cents, so merge order across batches cannot matter."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100.0, 0)
        .cast("bigint")
        .alias("cents"),
        (
            F.conv(
                F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % 3
        ).alias("b"),
    ).localCheckpoint(eager=False)
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        (
            F.conv(
                F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 4),
                16,
                10,
            ).cast("bigint")
            % 3
        ).alias("b"),
    ).localCheckpoint(eager=False)

    def agg_join(orders_df, cust_df):
        return (
            orders_df.join(
                cust_df, F.col("o_custkey") == F.col("c_custkey")
            )
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("rev_cents"),
            )
        )

    view = None
    a_state = None
    b_state = None
    for k in range(3):
        da = o.filter(F.col("b") == k).drop("b")
        db = c.filter(F.col("b") == k).drop("b")
        if view is None:
            delta = agg_join(da, db)
        else:
            # dV = dA⋈B_prev  ∪  A_prev⋈dB  ∪  dA⋈dB — state is only
            # joined against deltas, never re-joined with itself
            delta = (
                agg_join(da, b_state)
                .unionAll(agg_join(a_state, db))
                .unionAll(agg_join(da, db))
            )
        view = delta if view is None else view.unionAll(delta)
        view = (
            view.groupBy("segment")
            .agg(
                F.sum("n_orders").cast("bigint").alias("n_orders"),
                F.sum("rev_cents").cast("bigint").alias("rev_cents"),
            )
            .localCheckpoint(eager=False)
        )
        a_state = da if a_state is None else a_state.unionAll(da).localCheckpoint(eager=False)
        b_state = db if b_state is None else b_state.unionAll(db).localCheckpoint(eager=False)
    return view.select("segment", "n_orders", "rev_cents").orderBy("segment")
