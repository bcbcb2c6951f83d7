"""The benchmark's workloads.

Each workload runs in its own process on ``local[<cpus>]``:

- ``refresh_dashboard``: after a warm-up over its own steps, clear every
  cache and refresh the warehouse from its inputs (both DWD facts, a DWS
  window and a fixture-building curation query), then serve a dashboard:
  one client on the same session runs queries in a seeded order, closed
  loop, for the run length.
- ``stream_replay``: a file-source stream drains the rendered page log,
  one file per trigger, through the DWD parse and a 10 s event-time
  window into a parquet sink with a checkpoint.

Every timed query produces its full result at the driver (``toPandas``:
every output column, every row), so Catalyst cannot prune unread columns
the way ``count()`` does. Outputs are checked after the timed interval.
"""

from __future__ import annotations

import os
import random
import resource
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from perfbench import checks, datagen
from perfbench.trace import Tracer, cached_mb

# sf0.001 warm-up inputs: the JVM/codegen warm-up runs the workload's own
# steps on these before anything is timed
WARMUP_SF = 0.001

WAREHOUSE_SF = 0.01
# The cold refresh: the two DWD facts (each query builds and persists its
# materialization, then returns it in full), a trade DWS window over the
# persisted fact, and a curation query that builds a shared fixture (the
# bigram LM scores) on first use.
REFRESH_STEPS = [
    "dwd_traffic_page_log",
    "dwd_trade_order_detail",
    "dws_trade_order_window",
    "text_bigram_lm_score",
]
# The dashboard over the refreshed session: ADS and DWS queries of the
# warehouse, TPC-H-style reports and LLM-curation reads of the fixtures.
DASHBOARD_QUERIES = [
    "ads_trade_stats_by_day",
    "ads_traffic_channel_stats",
    "dws_trade_order_window",
    "dws_user_user_login_window",
    "orders_shipping_priority",
    "events_session_window",
    "text_bigram_lm_score",
    "text_quality_scores",
]

STREAM_SF = 0.01
STREAM_FILES = 10
STREAM_WARMUP_FILES = 4
WINDOW_SECONDS = 10
WATERMARK = "2 seconds"
STREAM_KEYS = ["vc", "ch", "ar", "is_new"]

@dataclass
class Run:
    """State of one benchmark run."""

    name: str
    seed: int
    seconds: float
    tracer: Tracer
    work_dir: str
    sf_scale: float
    process_start: float
    spark: object = None
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    record: dict = field(default_factory=dict)

    def data_dir(self, sf: float, tag: str = "") -> str:
        sf = round(sf * self.sf_scale, 6)
        path = os.path.join(self.work_dir, f"sf{sf}{tag}")
        if not os.path.isdir(path):
            with self.tracer.span("datagen.write_tables", "inputs"):
                datagen.write_tables(path, sf, self.seed)
        return path

    def fail(self, what: str, problems: list[str]) -> None:
        if problems:
            self.failures.append(f"{what}: {'; '.join(problems)[:300]}")


def log(run: Run, msg: str) -> None:
    """Progress on stderr, stamped with seconds since process start."""
    print(
        f"[perfbench {time.perf_counter() - run.process_start:7.2f}s] {msg}",
        file=sys.stderr,
        flush=True,
    )


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return s[int(k)]


def _session(run: Run):
    from gmall_spark.session import get_session

    with run.tracer.span("session.get_session", "session"):
        t0 = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench_{run.name}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run.work_dir, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        run.layer["session.get_session_s"] = (time.perf_counter() - t0, "s")
    run.spark = spark


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _peak_rss_mb() -> float:
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def _layer_of(fn) -> str:
    return "queries_llm" if fn.__module__.startswith("gmall_spark.queries_llm") else "queries"


def _calibrate(run: Run, sf_dir: str) -> None:
    """Fixed probes no repository code is involved in: a shift flags a
    noisy box, not a change in the program."""
    spark = run.spark
    times = {"calib.range_agg_s": [], "calib.parquet_scan_s": []}
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, 4).selectExpr("id % 97 AS k", "id").groupBy(
            "k"
        ).sum("id").collect()
        t1 = time.perf_counter()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.format("noop").mode(
            "overwrite"
        ).save()
        t2 = time.perf_counter()
        times["calib.range_agg_s"].append(t1 - t0)
        times["calib.parquet_scan_s"].append(t2 - t1)
    for name, vals in times.items():
        run.layer[name] = (statistics.median(vals), "s")
        run.record[name] = [round(v, 4) for v in vals]


class _Fixtures:
    """Deltas of ``fixtures_audit.snapshot()`` over a block."""

    def __init__(self):
        from gmall_spark import fixtures_audit

        self._audit = fixtures_audit
        self.before = fixtures_audit.snapshot()

    def delta(self) -> tuple[float, int]:
        after = self._audit.snapshot()
        grown = {k: v - self.before.get(k, 0.0) for k, v in after.items()}
        grown = {k: v for k, v in grown.items() if v > 0}
        return sum(grown.values()), len(grown)


# ---------------------------------------------------------------------------
# refresh_dashboard
# ---------------------------------------------------------------------------


def _run_step(run: Run, name: str, sf_dir: str, op_id: str, acc: dict):
    """Run one registry query and return (seconds, result frame).

    The query is built by its registered callable and produced in full
    with ``toPandas``. A failing query is counted and returns (None, None).
    """
    from gmall_spark import queries as q

    spark = run.spark
    tr = run.tracer
    fn = q.QUERIES[name]
    layer = _layer_of(fn)
    run.attempted += 1
    with tr.operation(spark, op_id) as counters:
        t0 = time.perf_counter()
        try:
            with tr.span(f"{layer}.build", layer):
                df = fn(spark, sf_dir)
            build = time.perf_counter() - t0
            with tr.span(f"{layer}.exec", layer):
                pdf = df.toPandas()
        except Exception as exc:  # a failing query is counted, not fatal
            run.fail(name, [f"{type(exc).__name__}: {exc}"])
            return None, None
        dt = time.perf_counter() - t0
    log(run, f"{op_id} {dt:.3f}s")
    for key, value in (
        (f"{layer}.build_s", build),
        (f"{layer}.exec_s", dt - build),
        *((f"spark.{k}", v) for k, v in counters.items()),
    ):
        acc[key] = acc.get(key, 0.0) + value
    return dt, pdf


def _check_steps(run: Run, results: dict, sf_dir: str) -> None:
    for name, pdf in results.items():
        run.attempted += 1
        run.fail(f"check {name}", checks.query_result(name, pdf, sf_dir))


def _warm(run: Run, steps: list[str]) -> None:
    """JVM/codegen warm-up over the workload's own steps at sf0.001."""
    from gmall_spark import queries as q

    warm_dir = run.data_dir(WARMUP_SF, "-warmup")
    for step in steps:
        _run_step(run, step, warm_dir, f"warmup:{step}", {})
    q.clear_cache()


def _refresh(run: Run, sf_dir: str, tag: str, results: dict) -> dict:
    """One cold refresh: every cache cleared, every step built from the
    inputs. Returns its wall time, per-step times, layer accumulators and
    fixture-build deltas."""
    from gmall_spark import queries as q

    t0 = time.perf_counter()
    q.clear_cache()
    acc, steps_s = {}, {}
    fixtures = _Fixtures()
    for step in REFRESH_STEPS:
        dt, pdf = _run_step(run, step, sf_dir, f"{tag}:{step}", acc)
        if dt is not None:
            steps_s[step] = dt
            results[step] = pdf
    fx_s, fx_n = fixtures.delta()
    return {
        "wall_s": time.perf_counter() - t0,
        "steps_s": steps_s,
        "acc": acc,
        "fixture_build_s": fx_s,
        "fixture_builds": fx_n,
    }


def refresh_dashboard(run: Run) -> None:
    """A cold refresh of the warehouse, then a closed-loop dashboard."""
    sf_dir = run.data_dir(WAREHOUSE_SF)
    _warm(run, REFRESH_STEPS + [n for n in DASHBOARD_QUERIES if n not in REFRESH_STEPS])
    run.e2e["setup_s"] = (time.perf_counter() - run.process_start, "s")
    run.tracer.overhead_s = 0.0
    t_start = time.perf_counter()
    results: dict = {}
    cold = _refresh(run, sf_dir, "refresh", results)

    # dashboard: one client, closed loop, whole cycles over a seeded
    # permutation so that every run measures the same multiset of queries
    rng = random.Random(run.seed)
    acc, op_ms, cycles = {}, [], []
    fixtures = _Fixtures()
    t_warm = time.perf_counter()
    while not cycles or time.perf_counter() - t_warm < run.seconds:
        order = DASHBOARD_QUERIES[:]
        rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            dt, pdf = _run_step(run, name, sf_dir, f"c{len(cycles)}:{name}", acc)
            if dt is not None:
                op_ms.append(dt * 1000)
                results[name] = pdf
        cycles.append(time.perf_counter() - t0)
    warm_wall = time.perf_counter() - t_warm
    warm_fx_s, warm_fx_n = fixtures.delta()
    _end_timed(run, t_start)

    log(run, "checking outputs")
    _check_steps(run, results, sf_dir)
    # the refresh built every fixture the dashboard reads
    run.attempted += 1
    if warm_fx_n:
        run.fail("check dashboard fixture reuse", [f"{warm_fx_n} fixtures rebuilt"])

    run.e2e["pass_s"] = (cold["wall_s"], "s")
    _report_ops(run, op_ms, warm_wall)
    run.record["refresh_steps_s"] = {k: round(v, 3) for k, v in cold["steps_s"].items()}
    run.record["cycle_s"] = [round(c, 3) for c in cycles]
    steps_s = cold["steps_s"]
    run.layer["queries.dwd_order_detail_s"] = (steps_s.get("dwd_trade_order_detail", 0.0), "s")
    run.layer["queries.page_log_s"] = (steps_s.get("dwd_traffic_page_log", 0.0), "s")
    run.layer["queries_llm.fixture_build_s"] = (cold["fixture_build_s"], "s")
    run.layer["queries_llm.fixture_builds"] = (cold["fixture_builds"], "count")
    run.layer["queries_llm.dashboard_fixture_build_s"] = (warm_fx_s, "s")
    run.layer["queries_llm.dashboard_fixture_builds"] = (warm_fx_n, "count")
    # per dashboard query: the registry call and action split by module,
    # and Spark's job/stage/task counts
    for key, value in acc.items():
        run.layer[key] = (value / len(op_ms), _unit(key))
    # the refresh pass: executor time, GC, shuffle and spill in total
    for key, value in cold["acc"].items():
        if key.startswith("spark.") and key not in ("spark.jobs", "spark.stages", "spark.tasks"):
            run.layer[key] = (value, _unit(key))
        else:
            run.layer[f"refresh.{key}"] = (value, _unit(key))
    if run.tracer.enabled:
        # in-process drift: a second cold refresh against the first
        again = _refresh(run, sf_dir, "refresh2", {})
        run.layer["queries.pass_drift"] = (again["wall_s"] / cold["wall_s"], "ratio")
        run.record["refresh_passes_s"] = [round(cold["wall_s"], 3), round(again["wall_s"], 3)]
        _sources_probe(run, sf_dir)


def _end_timed(run: Run, t_start: float) -> None:
    """Close the timed interval: its wall time and, when tracing, the share
    of it spent reading Spark's counters."""
    wall = time.perf_counter() - t_start
    run.record["timed_wall_s"] = round(wall, 3)
    if run.tracer.enabled:
        overhead = run.tracer.overhead_s
        run.layer["trace.overhead_frac"] = (overhead / (wall - overhead), "fraction")


def _report_ops(run: Run, op_ms: list[float], wall: float) -> None:
    run.e2e["op_p50_ms"] = (percentile(op_ms, 50), "ms")
    run.e2e["op_p90_ms"] = (percentile(op_ms, 90), "ms")
    run.e2e["ops_per_s"] = (len(op_ms) / wall, "1/s")
    run.record["ops_timed"] = len(op_ms)


def _unit(key: str) -> str:
    if key in ("spark.jobs", "spark.stages", "spark.tasks"):
        return "count"
    return "MB" if key.endswith("_mb") else "s"


def _sources_probe(run: Run, sf_dir: str) -> None:
    """Source generators alone, written to the noop sink."""
    from gmall_spark.sources import cdc_gen, log_gen

    spark = run.spark
    events = checks.events(spark, sf_dir)
    n_events = events.count()
    t0 = time.perf_counter()
    with run.tracer.span("sources.topic_log", "sources"):
        clean, dirty = log_gen.parse_topic_log(log_gen.raw_topic_log(events))
        clean.write.format("noop").mode("overwrite").save()
    run.layer["sources.topic_log_rows_per_s"] = (n_events / (time.perf_counter() - t0), "rows/s")
    run.attempted += 1
    n_dirty = dirty.count()
    run.layer["sources.dirty_rows"] = (n_dirty, "count")
    run.fail("check sources.dirty_rows", checks.dirty_rows(events, n_dirty))

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    t0 = time.perf_counter()
    with run.tracer.span("sources.topic_db", "sources"):
        tdb = cdc_gen.topic_db(orders, lineitem, customer)
        tdb.write.format("noop").mode("overwrite").save()
    run.layer["sources.topic_db_rows_per_s"] = (
        lineitem.count() / (time.perf_counter() - t0),
        "rows/s",
    )


# ---------------------------------------------------------------------------
# stream_replay
# ---------------------------------------------------------------------------


def _render_topic_log(run: Run, sf_dir: str, out_dir: str, n_files: int) -> int:
    """Render events once as wire JSON lines (planted dirty lines kept),
    in event-time order, split at seeded points into ``n_files`` files
    whose modification times follow that order."""
    from pyspark.sql import functions as F

    from gmall_spark.sources import log_gen

    spark = run.spark
    with run.tracer.span("sources.raw_topic_log", "sources"):
        raw = log_gen.raw_topic_log(checks.events(spark, sf_dir))
        lines = (
            raw.select(
                "value",
                F.regexp_extract("value", r'"ts_us":(\d+)', 1).cast("long").alias("t"),
            )
            .orderBy("t", "value")
            .toPandas()["value"]
            .tolist()
        )
    rng = random.Random(run.seed)
    weights = [rng.uniform(0.75, 1.25) for _ in range(n_files)]
    total = sum(weights)
    bounds, acc = [0], 0.0
    for w in weights:
        acc += w
        bounds.append(round(len(lines) * acc / total))
    os.makedirs(out_dir)
    base = time.time() - n_files - 10
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines[bounds[i] : bounds[i + 1]]) + "\n")
        os.utime(path, (base + i, base + i))
    return len(lines)


def stream_aggs():
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).cast("bigint").alias("pv_ct"),
        F.sum("is_session_start").cast("bigint").alias("sv_ct"),
        F.sum("during_time").cast("bigint").alias("dur_sum"),
    ]


def _replay(run: Run, src: str, out: str):
    """Drain ``src`` once; return (drain seconds, progress list, sink dir)."""
    from pyspark.sql import functions as F

    from gmall_spark.sources import log_gen
    from gmall_spark.streaming import runner

    spark = run.spark
    sink, ckpt = f"{out}/sink", f"{out}/checkpoint"
    with run.tracer.span("streaming.build", "streaming"):
        stream = spark.readStream.option("maxFilesPerTrigger", 1).text(src)
        clean, _dirty = log_gen.parse_topic_log(stream)
        agg = runner.windowed_agg_stream(
            clean.withColumn("rt", F.timestamp_micros("ts_us")),
            "rt",
            WATERMARK,
            WINDOW_SECONDS,
            STREAM_KEYS,
            stream_aggs(),
        )
    t0 = time.perf_counter()
    with run.tracer.span("streaming.drain", "streaming"):
        query = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    drain = time.perf_counter() - t0
    log(run, f"replay {out} {drain:.3f}s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    return drain, list(query.recentProgress), sink


def stream_replay(run: Run) -> None:
    spark = run.spark
    sf_dir = run.data_dir(STREAM_SF)
    src = os.path.join(run.work_dir, "topic_log")
    n_lines = _render_topic_log(run, sf_dir, src, STREAM_FILES)

    # warm-up: the same pipeline over copies of the first input files
    warm_src = os.path.join(run.work_dir, "topic_log_warmup")
    os.makedirs(warm_src)
    for name in sorted(os.listdir(src))[:STREAM_WARMUP_FILES]:
        shutil.copy2(os.path.join(src, name), warm_src)
    _replay(run, warm_src, os.path.join(run.work_dir, "replay_warmup"))
    run.e2e["setup_s"] = (time.perf_counter() - run.process_start, "s")
    run.tracer.overhead_s = 0.0

    drains, batch_ms, progress_all, sinks = [], [], [], []
    t_start = time.perf_counter()
    while not drains or time.perf_counter() - t_start < run.seconds:
        run.attempted += 1
        out = os.path.join(run.work_dir, f"replay{len(drains)}")
        try:
            drain, progress, sink = _replay(run, src, out)
        except Exception as exc:
            run.fail(f"replay {len(drains)}", [f"{type(exc).__name__}: {exc}"])
            break
        data = [p for p in progress if p["numInputRows"] > 0]
        run.attempted += len(data)
        drains.append(drain)
        batch_ms += [p["durationMs"]["triggerExecution"] for p in data]
        progress_all.append(progress)
        sinks.append(sink)
    wall = time.perf_counter() - t_start
    _end_timed(run, t_start)
    if not drains:
        raise RuntimeError("stream_replay: no replay completed")

    for i, (progress, sink) in enumerate(zip(progress_all, sinks)):
        run.attempted += 1
        run.fail(f"check replay {i}", checks.stream_sink(spark, sink, sf_dir, progress))
    run.attempted += 1
    n_dirty = checks.dirty_lines(spark, src)
    run.fail("check sources.dirty_rows", checks.dirty_rows(checks.events(spark, sf_dir), n_dirty))

    run.e2e["pass_s"] = (statistics.median(drains), "s")
    _report_ops(run, batch_ms, wall)
    run.record["stream_rows_per_s"] = round(n_lines * len(drains) / sum(drains), 1)
    run.record["drain_s"] = [round(d, 3) for d in drains]
    run.record["batch_ms"] = batch_ms

    progress = [p for p in progress_all[-1] if p["numInputRows"] > 0]
    run.layer["sources.dirty_rows"] = (n_dirty, "count")
    run.layer["streaming.batches"] = (len(progress), "count")
    run.layer["streaming.input_rows"] = (sum(p["numInputRows"] for p in progress), "count")
    for part, key in (
        ("addBatch", "add_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ):
        run.layer[f"streaming.{key}"] = (
            statistics.median(p["durationMs"].get(part, 0) for p in progress),
            "ms",
        )
    states = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    run.layer["streaming.state_rows"] = (max(s["numRowsTotal"] for s in states), "count")
    run.layer["streaming.state_memory_mb"] = (
        max(s["memoryUsedBytes"] for s in states) / 2**20,
        "MB",
    )
    run.layer["streaming.late_rows_dropped"] = (
        sum(s.get("numRowsDroppedByWatermark", 0) for s in states),
        "count",
    )
    if run.tracer.enabled:
        _sources_probe(run, sf_dir)
        run.layer["streaming.trade_dwd_row_ratio"] = (
            checks.trade_dwd_row_ratio(run, run.data_dir(WARMUP_SF, "-warmup")),
            "ratio",
        )


WORKLOADS = {
    "refresh_dashboard": refresh_dashboard,
    "stream_replay": stream_replay,
}


# Each workload's own names for the registered metrics, printed in the record.
ALIASES = {
    "refresh_dashboard": {
        "refresh_s": "pass_s",
        "query_p50_ms": "op_p50_ms",
        "query_p90_ms": "op_p90_ms",
        "queries_per_s": "ops_per_s",
    },
    "stream_replay": {
        "stream_drain_s": "pass_s",
        "stream_batch_p50_ms": "op_p50_ms",
        "stream_batch_p90_ms": "op_p90_ms",
        "stream_batches_per_s": "ops_per_s",
    },
}


def _report(r: Run, spec: dict) -> dict:
    """Print the run record, then return the result object."""
    failed = len(r.failures)
    attempted = max(r.attempted, 1)
    for line in r.failures:
        print(f"# FAILED {line}")
    print(f"# {r.name} error_rate = {failed / attempted} fraction ({failed} of {attempted})")
    for alias, name in ALIASES[r.name].items():
        value, unit = r.e2e[name]
        print(f"# {r.name} {alias} = {value} {unit}")
    for key, value in r.record.items():
        print(f"# {r.name} record {key} = {value}")
    source = r.layer if r.tracer.enabled else r.e2e
    names = spec["per_layer"] if r.tracer.enabled else spec["end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] not in source and not r.tracer.enabled:
            raise RuntimeError(f"{r.name} did not measure {m['name']}")
        # a layer metric of a layer this workload does not run reads 0
        value = source.get(m["name"], (0.0, m["unit"]))[0]
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    for key, (value, unit) in sorted(r.layer.items() if r.tracer.enabled else ()):
        if key not in metrics:
            print(f"# {r.name} layer {key} = {value} {unit}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def run(
    name: str,
    seed: int,
    seconds: float,
    traced: bool,
    work_dir: str,
    results_dir: str,
    process_start: float,
    spec: dict,
    sf_scale: float = 1.0,
) -> dict:
    """Run one workload and return its result object; the Spark session
    and its JVM are stopped before this returns."""
    tracer = Tracer(traced)
    r = Run(name, seed, seconds, tracer, work_dir, sf_scale, process_start)
    try:
        _session(r)
        WORKLOADS[name](r)
        _calibrate(r, r.data_dir(WARMUP_SF, "-warmup"))
        r.layer["driver.peak_rss_mb"] = (_peak_rss_mb(), "MB")
        r.record["peak_rss_mb"] = round(r.layer["driver.peak_rss_mb"][0], 1)
        r.layer["spark.cached_mb"] = (cached_mb(r.spark), "MB")
    finally:
        if r.spark is not None:
            _stop(r.spark)
    if traced:
        os.makedirs(results_dir, exist_ok=True)
        path = os.path.join(results_dir, f"spans-{name}-seed{seed}.json")
        tracer.dump(path)
        print(f"# spans written to {os.path.relpath(path)}")
    return _report(r, spec)
