"""Output checks, run after the timed interval.

Every check returns a list of problems; an empty list means the output is
correct. Each problem counts as one failed operation in the run's
``failed`` count and is listed by name in the run record.

- Registry queries are compared with their DuckDB oracle through
  ``tests/oracle.compare`` (row count, schema, order-insensitive values).
  A query without an oracle counts as failed: none is in the workloads.
- The stream sink is compared with the batch ``tumble_agg`` over
  ``log_gen.page_log`` for every window the final watermark closed.
- The dirty side output must hold exactly the planted dirty lines.
"""

from __future__ import annotations

import glob
import os
from datetime import datetime, timezone


class _Collected:
    """Adapter so ``oracle.compare`` reads an already collected result
    instead of executing the query a second time."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method name
        return self._pdf


def query_result(name: str, pdf, sf_dir: str) -> list[str]:
    from gmall_spark import queries as q
    from tests import oracle

    if name not in q.ORACLES:
        return [f"{name} has no oracle"]
    return oracle.compare(_Collected(pdf), q.ORACLES[name], sf_dir)


def events(spark, sf_dir: str):
    """The events table with a session-zone timestamp ``ts``."""
    from pyspark.sql import functions as F

    return spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def planted_dirty(events_df) -> int:
    from pyspark.sql import functions as F

    from gmall_spark.sources import log_gen

    return events_df.filter(F.col("event_id") % log_gen.DIRTY_MOD == 0).count()


def dirty_rows(events_df, n_dirty: int) -> list[str]:
    planted = planted_dirty(events_df)
    if n_dirty != planted:
        return [f"dirty side output holds {n_dirty} rows, {planted} were planted"]
    return []


def dirty_lines(spark, src: str) -> int:
    """Dirty side-output rows of the rendered topic_log files."""
    from gmall_spark.sources import log_gen

    _clean, dirty = log_gen.parse_topic_log(spark.read.text(src))
    return dirty.count()


def stream_sink(spark, sink: str, sf_dir: str, progress: list[dict]) -> list[str]:
    """Sink rows against the batch window aggregate, for every window
    that ends at or before the final watermark."""
    from pyspark.sql import functions as F

    from gmall_spark.operators.windows import tumble_agg
    from gmall_spark.sources import log_gen
    from perfbench import workloads

    marks = [p["eventTime"].get("watermark") for p in progress if p.get("eventTime")]
    if not marks:
        return ["no watermark in the stream's progress reports"]
    mark = datetime.strptime(marks[-1], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    )
    closed = mark.strftime("%Y-%m-%d %H:%M:%S")
    cols = ["stt", "edt", *workloads.STREAM_KEYS, "pv_ct", "sv_ct", "dur_sum"]
    expected = (
        tumble_agg(
            log_gen.page_log(events(spark, sf_dir)).withColumn(
                "rt", F.timestamp_micros("ts_us")
            ),
            "rt",
            workloads.WINDOW_SECONDS,
            workloads.STREAM_KEYS,
            workloads.stream_aggs(),
        )
        .filter(F.col("edt") <= closed)
        .select(*cols)
    )
    want = {tuple(r) for r in expected.collect()}
    got_rows = [tuple(r) for r in spark.read.parquet(sink).select(*cols).collect()]
    got = set(got_rows)
    problems = []
    if len(got_rows) != len(got):
        problems.append(f"{len(got_rows) - len(got)} duplicate windows in the sink")
    if got - want:
        problems.append(f"{len(got - want)} sink windows differ from the batch query")
    if want - got:
        problems.append(f"{len(want - got)} closed windows missing from the sink")
    if not want:
        problems.append("the final watermark closed no window")
    return problems


def trade_dwd_row_ratio(run, sf_dir: str, n_files: int = 8) -> float:
    """Rows a replay of ``topic_db``, split in event-time order into
    ``n_files`` files, writes through ``run_foreach_batch`` and
    ``dwd.dwd_trade_order_detail``, over the rows of the same plan run as
    one batch. The per-batch join pairs only rows of one micro-batch, so
    the ratio is reported as measured, not checked."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gmall_spark.plans import dwd
    from gmall_spark.sources import cdc_gen, dims
    from gmall_spark.streaming import runner

    spark = run.spark
    tables = [
        spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in ("orders", "lineitem", "customer")
    ]
    src = os.path.join(run.work_dir, "topic_db")
    staged = f"{src}_staged"
    cdc_gen.topic_db(*tables).withColumn(
        "f", F.ntile(n_files).over(Window.orderBy("ts"))
    ).write.partitionBy("f").parquet(staged)
    os.makedirs(src)
    for i in range(1, n_files + 1):
        for j, path in enumerate(sorted(glob.glob(f"{staged}/f={i}/*.parquet"))):
            dest = os.path.join(src, f"b{i:03d}-{j:03d}.parquet")
            os.rename(path, dest)
            os.utime(dest, (1_000_000 + i, 1_000_000 + i))
    batch_df = spark.read.parquet(src)
    stream = spark.readStream.schema(batch_df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = os.path.join(run.work_dir, "trade_dwd")
    with run.tracer.span("streaming.run_foreach_batch", "streaming"):
        query = runner.run_foreach_batch(
            stream,
            lambda b: dwd.dwd_trade_order_detail(b, dims.base_dic(spark)),
            runner.idempotent_parquet_write(out),
            os.path.join(run.work_dir, "trade_dwd_checkpoint"),
        )
        query.awaitTermination()
    streamed = spark.read.parquet(out).count()
    batch = dwd.dwd_trade_order_detail(batch_df, dims.base_dic(spark)).count()
    return streamed / batch
