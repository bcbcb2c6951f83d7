"""JDBC connector adapters (SURVEY S6/S7/S10/S11).

Thin, swappable I/O around the batch-core pipelines — the Spark
answers to the reference's hand-rolled JDBC machinery:

- S7 lookup table w/ cache (utils/MysqlUtil.java:5-27, 100-row/1 h
  cache): ``read_lookup`` re-reads the table and broadcasts it. In a
  ``foreachBatch`` loop that re-read happens per micro-batch, which IS
  the `FOR SYSTEM_TIME AS OF proctime` snapshot semantics; Spark's
  broadcast replaces the row cache + Redis + async pool entirely.
- S6 config-table CDC (app/dim/DimApp.java:58-68,
  StartupOptions.initial() = snapshot + binlog): for a tiny config
  table the per-batch snapshot re-read in plans/dim.py gives the same
  observable routing; this module supplies that snapshot read.
- S10 ClickHouse batch sink (utils/MyClickHouseUtil.java:19-62, batch
  5 rows / 1 s + @TransientSink column skipping): ``jdbc_batch_writer``
  drops the transient columns and issues ONE bulk write per
  micro-batch — batching comes from the micro-batch itself, not a
  hand-rolled row buffer.
- S11 generic query->rows (utils/JdbcUtil.java:21-66, reflection +
  snake->camel) needs no adapter: ``spark.read.jdbc`` takes a
  pushed-down ``(<query>) AS q`` as its table; column naming stays
  declarative (``alias``), no reflection.

No database ships in the test container, so these adapters are
exercised indirectly: their parquet twins (same call shape, swapped
format) run in tests/test_streaming.py::test_foreach_batch_dim_router.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_lookup(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Snapshot-read a small dimension/config table for broadcast join.

    Call per micro-batch (inside foreachBatch) to reproduce the
    reference's processing-time lookup-join snapshot; wrap the result
    in ``F.broadcast`` at the join site.
    """
    return spark.read.jdbc(url, table, properties=properties or {})


def sink_projection(batch_df: DataFrame, transient_cols: Sequence[str] = ()) -> DataFrame:
    """The @TransientSink column skip (S10) as a pure transformation:
    columns carried through the pipeline but excluded from the sink
    row (ref bean/TransientSink.java:9-11, MyClickHouseUtil.java:30-44
    reads the annotation reflectively; here it is one declarative
    drop)."""
    return batch_df.drop(*transient_cols) if transient_cols else batch_df


def jdbc_batch_writer(
    url: str,
    table: str,
    transient_cols: Sequence[str] = (),
    properties: dict[str, str] | None = None,
    mode: str = "append",
):
    """foreachBatch sink for a JDBC store (S10); row shape in
    :func:`sink_projection`."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        sink_projection(batch_df, transient_cols).write.mode(mode).jdbc(
            url, table, properties=properties or {}
        )

    return _write


def broadcast_lookup_join(
    facts: DataFrame,
    lookup: DataFrame,
    fact_key: str,
    lookup_key: str,
    how: str = "left",
) -> DataFrame:
    """The lookup-join shape (J3/S7): facts ⟕ broadcast(lookup)."""
    return facts.join(
        F.broadcast(lookup), facts[fact_key] == lookup[lookup_key], how
    )
