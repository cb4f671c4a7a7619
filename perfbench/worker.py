"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this with the environment pinned and the working
directory set to a per-run scratch directory; do not start it directly.
It prints detail lines, then one JSON result as its last line:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
# Oracle answers, kept across runs in the checkout (see checks.oracle_canonical).
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")

import checks  # noqa: E402
import grouper_load  # noqa: E402
import tracing  # noqa: E402
from stats import mean, median, percentile  # noqa: E402

# Workload name -> data scale and the query list of one pass. Names are
# registry prefixes; each resolves to exactly one registered query.
SPARK_WORKLOADS = {
    "groupby_agg_sf0.01": (0.01, ("q01", "q12", "q18", "q27")),
    "dedup_stream_sf0.01": (0.01, ("a404", "a440", "q40")),
}
GROUPER_WORKLOAD = "grouper_inproc"
WORKLOADS = (*SPARK_WORKLOADS, GROUPER_WORKLOAD)

STREAM_REPLAY_QUERY = "q40_grouper_stream"

# Grouper load: closed-loop bursts of BURST_ITEMS; open loop at a fixed
# OPEN_RATE (items/s), below the ~3 workers x 100 items / 10 ms ceiling.
BURST_ITEMS = 20_000
OPEN_RATE = 5_000.0
LATENCY_WINDOW_S = 0.5  # 2,500 arrivals a window at OPEN_RATE: 25 beyond its p99
# The short grouper probe every Spark workload runs before its session
# starts, so that every workload reports every end-to-end metric.
PROBE_ITEMS = 10_000
PROBE_OPEN_S = 1.5
# Warm passes a Spark run makes at least, however long they take. The
# first warm passes still run faster each time (JIT), so a fixed count,
# rather than whatever fits in --seconds, keeps the median comparable.
MIN_WARM_PASSES = 3

GROUPER_METRICS = (
    "grouper_items_per_s", "grouper_latency_ms.p50",
    "grouper_latency_ms.p90", "grouper_latency_ms.p99",
)

OPERATORS = (
    "operators.core.collect_vector_panel",
    "operators.core.literal_frame",
    "operators.dedup.minhash_lsh_pairs",
    "operators.similarity.lsh_neardup_pairs",
    "operators.similarity.lsh_bucket_ann",
    "operators.dedup.shingle_jaccard_pairs",
    "operators.dedup.cooccurrence_pairs",
)
UNITS = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "cold_pass_s": "s",
    "peak_rss_mb": "MB", "grouper_items_per_s": "items/s",
    "grouper_latency_ms.p50": "ms", "grouper_latency_ms.p90": "ms",
    "grouper_latency_ms.p99": "ms", "error_rate": "ratio",
}
# End-to-end metrics the result line carries, each with a bound in
# BENCHMARK.json.
GATED = (
    "setup_s", "pass_cpu_s", "grouper_items_per_s",
    "grouper_latency_ms.p50", "grouper_latency_ms.p90",
)
# End-to-end metrics that every run reports in its detail line, and the
# traced run as per-layer metrics, without a bound: on a shared 4-core
# host their run-to-run spread (wall time, a process's peak memory, a
# p99) reaches 20-50% of the median over five seeds, wider than any
# bound the benchmark may set.
REPORTED = ("pass_s", "cold_pass_s", "peak_rss_mb", "grouper_latency_ms.p99")
PER_LAYER = (
    *REPORTED,
    "session.start_s",
    "sources.table_calls", "sources.table_s", "spark.input_bytes", "spark.input_records",
    "queries.build_s", "queries.exec_s", "queries.eager_jobs", "queries.final_jobs",
    *(f"operators.{op.rsplit('.', 1)[1]}.{k}" for op in OPERATORS for k in ("s", "calls")),
    "operators.panel_fast_ratio",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.cpu_ratio", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "stream.batches", "stream.trigger_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.planning_ms", "spark.output_bytes",
    "grouper.batches", "grouper.batch_size.mean", "grouper.batch_fill",
    "grouper.inline_batches", "grouper.queue_wait_ms.p50", "grouper.queue_wait_ms.p99",
    "grouper.proc_ms.p50", "grouper.delivery_ms.p50", "grouper.delivery_ms.p99",
    "grouper.submit_block_ms", "gen.late_ms.max",
    "trace.overhead_ratio",
)


def per_layer_unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    if name.endswith(("_s", ".s")):
        return "s"
    if "_ms" in name:
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if "ratio" in name or name.endswith("batch_fill"):
        return "ratio"
    if last == "mean":
        return "items"
    return "count"


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def group_cpu_s() -> float:
    """CPU seconds (user + system) used so far by every live process in
    this process group: the Python driver, the JVM and its Python
    workers. Unlike wall time, it barely moves when other tenants of the
    host take CPU away."""
    pgrp, ticks = os.getpgrp(), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited meanwhile
            continue
        if int(fields[2]) == pgrp:
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def python_probe_s() -> float:
    """Fixed pure-Python work (host speed for the grouper)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc ^= (i * 2654435761) & 0xFFFFFFFF
    return time.perf_counter() - t0


# -- grouper ---------------------------------------------------------------


def count(tally: checks.Tally, out, what: str, per_item: bool) -> None:
    """Tally a grouper run: each item is one operation, or (``per_item``
    false) the whole run is one operation that fails if any item did."""
    msg = f"{what}: {out.failed} of {out.items} futures wrong"
    if per_item:
        tally.add(out.items, out.failed, msg)
    else:
        tally.add(1, int(out.failed > 0), msg)


def grouper_phase(rng, tally, *, n_items: int, bursts: int, open_s: float, trace: bool,
                  budget_s: float, per_item: bool = True):
    """Closed-loop bursts (the first is the cold one), then an open loop.

    Runs at least ``bursts`` bursts and keeps bursting while the burst
    phase is shorter than ``budget_s``."""
    pool = max(1, len(os.sched_getaffinity(0)) - 1)
    walls, cpus, t0 = [], [], time.perf_counter()
    while len(walls) < bursts or time.perf_counter() - t0 < budget_s:
        items = grouper_load.make_items(rng, n_items)
        gc.collect()  # the previous run's garbage is not this run's cost
        cpu0 = time.process_time()
        out = grouper_load.closed_burst(items, pool)
        cpus.append(time.process_time() - cpu0)
        walls.append(out.wall_s)
        count(tally, out, "closed burst", per_item)
    due = grouper_load.make_schedule(rng, OPEN_RATE, open_s)
    items = grouper_load.make_items(rng, len(due))
    gc.collect()
    out, due_abs, sent = grouper_load.open_loop(items, due, pool)
    count(tally, out, "open loop", per_item)
    lat = grouper_load.latency_ms(due_abs, out.done_at)
    # Latency over arrivals after the first window (pool and dispatcher
    # ramp-up); p99 per window of arrivals, then the median window, so one
    # host stall moves one window, not the run's figure.
    windows: dict[int, list[float]] = {}
    for d, x in zip(due, lat):
        windows.setdefault(int(d / LATENCY_WINDOW_S), []).append(x)
    steady = [w for k, w in sorted(windows.items()) if k > 0]
    p99s = [percentile(w, 99) for w in steady]
    result = {
        "cold_burst_s": walls[0],
        "warm_burst_s": walls[1:],
        "warm_burst_cpu_s": cpus[1:],
        "grouper_items_per_s": n_items / median(walls[1:]),
        "grouper_latency_ms.p50": percentile([x for w in steady for x in w], 50),
        "grouper_latency_ms.p90": median([percentile(w, 90) for w in steady]),
        "grouper_latency_ms.p99": median(p99s),
        "latency_ms.p99_whole_run": percentile(lat, 99),
        "window_p99_ms": [percentile(w, 99) for _, w in sorted(windows.items())],
        "open_items": len(lat),
        "pool": pool,
    }
    layer = {}
    if trace:
        traced_items = grouper_load.make_items(rng, n_items)
        burst = grouper_load.closed_burst(traced_items, pool, trace=True)
        items = grouper_load.make_items(rng, len(due))
        opened, due_abs, sent = grouper_load.open_loop(items, due, pool, trace=True)
        b = grouper_load.trace_metrics(burst.trace, burst.done_at)
        o = grouper_load.trace_metrics(opened.trace, opened.done_at, due_abs, sent)
        # throughput-side counters from the burst, latency split from the open loop
        layer = {k: b[k] for k in (
            "grouper.batches", "grouper.batch_size.mean", "grouper.batch_fill",
            "grouper.inline_batches", "grouper.submit_block_ms", "grouper.proc_ms.p50",
        )}
        layer.update({k: o[k] for k in (
            "grouper.queue_wait_ms.p50", "grouper.queue_wait_ms.p99",
            "grouper.delivery_ms.p50", "grouper.delivery_ms.p99", "gen.late_ms.max",
        )})
        layer["trace.burst_overhead_ratio"] = burst.wall_s / median(walls[1:])
        count(tally, burst, "traced closed burst", per_item)
        count(tally, opened, "traced open loop", per_item)
    return result, layer


def run_grouper(args, t_spawn: float) -> dict:
    tally = checks.Tally()
    rng = random.Random(args.seed)
    from grouper_spark.streaming import Grouper  # noqa: F401  (import is set-up)

    setup_s = time.time() - t_spawn
    g, layer = grouper_phase(
        rng, tally, n_items=BURST_ITEMS, bursts=3, open_s=args.seconds / 2.0, trace=args.trace,
        budget_s=args.seconds / 2.0,
    )
    metrics = {
        "setup_s": setup_s,
        "pass_s": median(g["warm_burst_s"]),
        "pass_cpu_s": mean(g["warm_burst_cpu_s"]),
        "cold_pass_s": g["cold_burst_s"],
        "peak_rss_mb": vm_hwm_mb(),
        **{k: g[k] for k in GROUPER_METRICS},
    }
    detail = {"grouper": g, "calibration": {"python_probe_s": python_probe_s()}}
    if args.trace:
        layer["trace.overhead_ratio"] = layer.pop("trace.burst_overhead_ratio")
    return finish(args, tally, metrics, layer, detail)


# -- spark -----------------------------------------------------------------


def resolve(registry, prefixes) -> list[str]:
    names = []
    for p in prefixes:
        hits = [k for k in registry if k.startswith(p + "_")]
        if len(hits) != 1:
            raise KeyError(f"query prefix {p!r} matches {hits}")
        names.append(hits[0])
    return names


class SparkPass:
    """Runs one pass over a query list: each query timed from
    ``fn(spark, dir)`` through a noop write, one at a time."""

    def __init__(self, spark, registry, sf_dir: str, tally: checks.Tally) -> None:
        self.spark, self.registry, self.sf_dir, self.tally = spark, registry, sf_dir, tally

    def run(self, order: list[str], keep: bool = False) -> dict:
        out = {"wall_s": 0.0, "build_s": {}, "exec_s": {}, "windows": [], "frames": {}}
        cpu0, t_pass = group_cpu_s(), time.perf_counter()
        for name in order:
            e0, t0 = time.time(), time.perf_counter()
            try:
                df = self.registry[name].fn(self.spark, self.sf_dir)
                e1, t1 = time.time(), time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing query is counted, not dropped
                self.tally.add(1, 1, f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            e2, t2 = time.time(), time.perf_counter()
            self.tally.add(1)
            out["build_s"][name] = t1 - t0
            out["exec_s"][name] = t2 - t1
            out["windows"] += [(name, "build", e0, e1), (name, "exec", e1, e2)]
            if keep:
                out["frames"][name] = df
        out["wall_s"] = time.perf_counter() - t_pass
        out["cpu_s"] = group_cpu_s() - cpu0
        return out


def check_outputs(registry, frames: dict, data_dir: str, tally: checks.Tally) -> dict:
    """Compare each kept result with its oracle; returns per-query verdicts."""
    import duckdb

    from grouper_spark.sources import TABLES

    data_key = checks.files_digest(data_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    for name, df in frames.items():
        try:
            rows = df.collect()
            if name == STREAM_REPLAY_QUERY:
                ids = {r[0] for r in con.execute("SELECT event_id FROM events").fetchall()}
                reason = checks.check_stream_replay(rows, ids)
            elif registry[name].oracle is None:
                reason = "no oracle and no invariant check"
            else:
                expected = checks.oracle_canonical(con, registry[name].oracle, data_key, CACHE_DIR)
                reason = checks.compare(checks.canonical(df.columns, rows), expected)
        except Exception as exc:  # a check that cannot run is a failed check
            reason = f"check raised {type(exc).__name__}: {str(exc)[:300]}"
        verdicts[name] = reason or "ok"
        if reason:
            tally.wrong_output(f"{name}: {reason}")
    con.close()
    return verdicts


def jvm_probe_s(spark) -> float:
    """Fixed JVM work per core (hash and fold 25M ids per core), so the
    reading moves with per-core host speed, not the core count."""
    from pyspark.sql import functions as F

    n_cpu = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    (
        spark.range(0, 25_000_000 * n_cpu, 1, 4 * n_cpu)
        .select(F.xxhash64("id").alias("h"))
        .agg(F.bit_xor("h"))
        .collect()
    )
    return time.perf_counter() - t0


def py4j_probe_s(spark) -> float:
    """Fixed driver-bound plan construction and analysis through py4j:
    25 chained projections, then the analysed plan."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = spark.range(10)
    for i in range(25):
        df = df.withColumn(f"c{i % 20}", (F.col("id") + F.lit(i)) * F.lit(2))
    df._jdf.queryExecution().analyzed()
    return time.perf_counter() - t0


def spark_layers(spark, traced: dict, spans: tracing.Spans, listener) -> dict:
    """Per-layer metrics of one traced pass."""
    jobs, stages = tracing.spark_jobs(spark)
    per_window = tracing.attribute_jobs(traced["windows"], jobs, stages)
    total: dict[str, float] = {}
    for (_, phase), acc in per_window.items():
        for k, v in acc.items():
            total[k] = total.get(k, 0.0) + v
        key = "queries.eager_jobs" if phase == "build" else "queries.final_jobs"
        total[key] = total.get(key, 0.0) + acc.get("spark.jobs", 0.0)
    fns = spans.by_function()
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update({k: v for k, v in total.items() if k in layer})
    run_ms = total.get("spark.executor_run_ms", 0.0)
    layer["spark.cpu_ratio"] = total.get("spark.executor_cpu_ms", 0.0) / run_ms if run_ms else 0.0
    layer["queries.build_s"] = sum(traced["build_s"].values())
    layer["queries.exec_s"] = sum(traced["exec_s"].values())
    table = fns.get("sources.catalog.table", {})
    layer["sources.table_calls"] = table.get("calls", 0)
    layer["sources.table_s"] = table.get("total_s", 0.0)
    for op in OPERATORS:
        short = op.rsplit(".", 1)[1]
        layer[f"operators.{short}.s"] = fns.get(op, {}).get("total_s", 0.0)
        layer[f"operators.{short}.calls"] = fns.get(op, {}).get("calls", 0)
    panels = fns.get("operators.core.collect_vector_panel", {}).get("calls", 0)
    layer["operators.panel_fast_ratio"] = spans.panel_returned / panels if panels else 0.0
    with listener.lock:
        layer["stream.batches"] = listener.batches
        layer["stream.trigger_ms"] = listener.duration_ms.get("triggerExecution", 0.0)
        layer["stream.add_batch_ms"] = listener.duration_ms.get("addBatch", 0.0)
        layer["stream.wal_commit_ms"] = listener.duration_ms.get("walCommit", 0.0)
        layer["stream.planning_ms"] = listener.duration_ms.get("queryPlanning", 0.0)
    layer["_per_query"] = {
        f"{q}.{phase}": acc for (q, phase), acc in per_window.items()
    }
    layer["_functions"] = fns
    return layer


def run_spark(args, t_spawn: float) -> dict:
    import datagen

    scale, prefixes = SPARK_WORKLOADS[args.workload]
    run_dir = os.environ["PERFBENCH_RUN_DIR"]
    data_dir = os.path.join(run_dir, "data")
    tally = checks.Tally()
    rng = random.Random(args.seed)

    # -- the grouper probe, before the JVM exists; not part of set-up
    t = time.perf_counter()
    g, glayer = grouper_phase(
        rng, tally, n_items=PROBE_ITEMS, bursts=2, open_s=PROBE_OPEN_S,
        trace=args.trace, budget_s=0.0, per_item=False,
    )
    glayer.pop("trace.burst_overhead_ratio", None)
    probe_s = time.perf_counter() - t

    # -- set-up: stage inputs, start the session, load the registry
    datagen.write(data_dir, scale)
    spans = tracing.Spans()
    if args.trace:
        spans.install()  # before load_all() binds operator names
    from grouper_spark.queries import load_all
    from grouper_spark.session import get_spark, silence_accumulator_spam

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    session_start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        silence_accumulator_spam(spark)
        registry = load_all()
        names = resolve(registry, prefixes)
        runner = SparkPass(spark, registry, data_dir, tally)
        setup_s = time.time() - t_spawn - probe_s
        phases = {"grouper_probe": probe_s, "setup": setup_s}

        # -- timed passes: the cold one, then warm ones for --seconds
        t_measure = time.perf_counter()
        cold = runner.run(rng.sample(names, len(names)), keep=True)
        t_warm, warm = time.perf_counter(), []
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
            warm.append(runner.run(rng.sample(names, len(names))))

        layer, traced = {}, None
        if args.trace:
            listener = tracing.make_stream_listener()
            spark.streams.addListener(listener)
            spans.reset()
            spans.enabled = True
            traced = runner.run(rng.sample(names, len(names)))
            spans.enabled = False
            layer = spark_layers(spark, traced, spans, listener)
            spark.streams.removeListener(listener)
            layer["session.start_s"] = session_start_s
            layer["trace.overhead_ratio"] = traced["wall_s"] / median([w["wall_s"] for w in warm])

        phases["passes"] = time.perf_counter() - t_measure
        # -- untimed: outputs and host calibration
        t = time.perf_counter()
        verdicts = check_outputs(registry, cold.pop("frames"), data_dir, tally)
        phases["checks"] = time.perf_counter() - t
        t = time.perf_counter()
        calibration = {
            "jvm_probe_s": jvm_probe_s(spark),
            "py4j_probe_s": py4j_probe_s(spark),
            "python_probe_s": python_probe_s(),
        }
        phases["calibration"] = time.perf_counter() - t
        layer.update(glayer)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
    finally:
        t = time.perf_counter()
        spark.stop()
        phases["stop"] = time.perf_counter() - t

    metrics = {
        "setup_s": setup_s,
        "pass_s": median([w["wall_s"] for w in warm]),
        "pass_cpu_s": mean([w["cpu_s"] for w in warm]),
        "cold_pass_s": cold["wall_s"],
        "peak_rss_mb": peak_rss_mb,
        **{k: g[k] for k in GROUPER_METRICS},
    }
    detail = {
        "queries": names,
        "phases_s": phases,
        "verdicts": verdicts,
        "calibration": calibration,
        "session_start_s": session_start_s,
        "cold": {k: cold[k] for k in ("wall_s", "build_s", "exec_s")},
        "warm_pass_s": [w["wall_s"] for w in warm],
        "warm_pass_cpu_s": [w["cpu_s"] for w in warm],
        "warm_build_s": {n: median([w["build_s"][n] for w in warm if n in w["build_s"]] or [0.0]) for n in names},
        "warm_exec_s": {n: median([w["exec_s"][n] for w in warm if n in w["exec_s"]] or [0.0]) for n in names},
        "grouper_probe": g,
    }
    if traced is not None:
        detail["traced"] = {k: traced[k] for k in ("wall_s", "build_s", "exec_s")}
    return finish(args, tally, metrics, layer, detail)


# -- result ----------------------------------------------------------------


def finish(args, tally: checks.Tally, metrics: dict, layer: dict, detail: dict) -> dict:
    """Print the detail line, write the trace file, return the result."""
    metrics["error_rate"] = tally.error_rate
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "failures": tally.failures,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
        **detail,
    }
    if args.trace:
        layer.update({k: metrics[k] for k in REPORTED})
        report["per_layer"] = layer
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True, default=str)
    print(json.dumps({"detail": report}, sort_keys=True, default=str), flush=True)
    if args.trace:
        shown = {k: {"value": float(layer.get(k, 0.0)), "unit": per_layer_unit(k)} for k in PER_LAYER}
    else:
        shown = {k: {"value": float(metrics[k]), "unit": UNITS[k]} for k in GATED}
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": shown,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T0"])
    if args.workload == GROUPER_WORKLOAD:
        result = run_grouper(args, t_spawn)
    else:
        result = run_spark(args, t_spawn)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
