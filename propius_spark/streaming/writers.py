"""Shared append-mode stream-writer builder.

One definition for the memory-vs-parquet sink choice, checkpoint
wiring, and availableNow trigger that every append-mode query helper
(closed sessions, ingest dedup) uses — a sink-behavior change lands
once, not per helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def start_append_query(
    df: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    sink_path: str | None = None,
) -> StreamingQuery:
    """Append-mode runner: every emitted row is final.
    ``sink_path=None`` → memory sink (test surface); with
    ``sink_path`` → durable parquet, exactly-once per row via the
    checkpoint + file-sink commit log."""
    writer = (
        df.writeStream.outputMode("append")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if sink_path is not None:
        writer = writer.format("parquet").option("path", sink_path)
    else:
        writer = writer.format("memory")
    return writer.trigger(availableNow=True).start()


def start_complete_query(
    df: DataFrame,
    checkpoint_dir: str,
    query_name: str,
    foreach_batch=None,
) -> StreamingQuery:
    """Complete-mode runner (the aggregate IS the whole state each
    trigger): with ``foreach_batch`` → that callable owns the sink;
    without → in-memory sink (test/serving-cache surface only). Same
    single-definition rationale as `start_append_query` — this wiring
    previously lived in three copies across the cells and
    model-refresh helpers."""
    writer = df.writeStream.outputMode("complete")
    writer = (
        writer.foreachBatch(foreach_batch)
        if foreach_batch is not None
        else writer.format("memory")
    )
    writer = writer.queryName(query_name).option(
        "checkpointLocation", checkpoint_dir
    )
    return writer.trigger(availableNow=True).start()
