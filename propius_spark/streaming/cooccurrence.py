"""Structured Streaming maintenance of the co-occurrence model.

The reference has no streaming surface (SURVEY.md §2.9): its chunked
CSV iteration (propius/utils.py:7, consumed at similarity.py:72-85) is
bounded-memory *batch* ingestion. This module is the natural Spark
extension: the cell table `(item_id, ctx_id, cnt)` is an associative,
commutative aggregate, so Structured Streaming can maintain it
incrementally — new occurrence files landing in a directory update the
counts without re-reading history.

Scale notes (100 TB target):
- The streaming `groupBy(item, ctx).count()` keeps state in the state
  store partitioned by grouping key — the same hash partitioning the
  batch build uses, so state is evenly spread unless contexts are
  globally hot (the same skew the batch Gram join mitigates via AQE).
- Every runner uses the `availableNow` trigger: it processes the
  backlog as bounded micro-batches and then stops, so
  `awaitTermination` returns. Tailing new files is a re-run over the
  same checkpoint, which reads only the files it has not seen.
- Correlation over the maintained cells stays a *batch* job on each
  trigger (foreachBatch) — all-pairs Pearson is not incrementally
  maintainable without O(I²) state, so the engine recomputes pairs from
  the (small, aggregated) cell state instead of from raw history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cells import build_cells
from ..schemas import OCCURRENCES, require_columns
from .writers import start_complete_query


def stream_occurrences(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """`readStream` over a landing directory of occurrence files.

    Mirrors sources/occurrences.load_occurrences but unbounded: the
    schema is mandatory (streaming readers cannot infer), and
    `maxFilesPerTrigger` bounds per-micro-batch work during catch-up.
    """
    reader = spark.readStream.schema(OCCURRENCES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "csv":
        return reader.option("header", str(header).lower()).csv(path)
    if fmt == "parquet":
        return reader.parquet(path)
    raise ValueError(f"unsupported streaming format: {fmt}")


def streaming_cells(occurrences: DataFrame) -> DataFrame:
    """Streaming cell table: groupBy(item, ctx).count() over an
    unbounded occurrence stream — identical logical plan to the batch
    operators/cells.build_cells, maintained by the state store."""
    return build_cells(occurrences)


def start_cells_query(
    cells: DataFrame,
    checkpoint_dir: str,
    query_name: str = "propius_cells",
    sink_path: str | None = None,
) -> StreamingQuery:
    """Run the streaming cell aggregation (complete mode — the
    aggregate is the whole model state).

    ``sink_path=None`` → in-memory sink: the test/serving-cache
    surface ONLY (the full aggregate lands on the driver; never the
    production sink). With ``sink_path`` set → durable sink: each
    trigger writes the full cell parquet to a TEMP path, then swaps
    it in with filesystem metadata ops (delete + rename) — a crash
    mid-write leaves the previous table intact, and the
    reader-visible gap shrinks from the whole write duration to the
    rename window. That window is not zero: a reader listing the
    directory in the instant between delete and rename sees no
    table (on rename-less stores like S3 it is the copy duration) —
    the fully-transactional production layout is versioned
    directories behind an atomically-renamed pointer file, or a
    table format with commit semantics."""
    if sink_path is not None:

        def _dump(batch_cells: DataFrame, batch_id: int) -> None:
            spark = batch_cells.sparkSession
            tmp = f"{sink_path}__tmp"
            batch_cells.write.mode("overwrite").parquet(tmp)
            jvm = spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path
            fs = hpath(sink_path).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            dst = hpath(sink_path)
            if fs.exists(dst):
                fs.delete(dst, True)
            # Hadoop FileSystem.rename reports most failures by
            # returning false, not raising — an unchecked false here
            # would commit the batch with the live table GONE
            if not fs.rename(hpath(tmp), dst):
                raise IOError(
                    f"sink swap failed: rename({tmp} -> {sink_path}) "
                    "returned false; previous table was already "
                    "deleted — investigate before the checkpoint "
                    "advances"
                )

        return start_complete_query(
            cells, checkpoint_dir, query_name, foreach_batch=_dump
        )
    return start_complete_query(cells, checkpoint_dir, query_name)


def start_model_refresh(
    cells: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k_sigma: float = 2.0,
    query_name: str = "propius_model_refresh",
) -> StreamingQuery:
    """Incremental model publication: stream → published store.

    The streaming cell aggregate (complete mode — the full model state
    each trigger) feeds foreachBatch, which recomputes the EXACT
    similarity model from the nnz-cardinality cell state and overwrites
    the published `similar_items` parquet. This closes the reference's
    whole pipeline (ingest → correlate → publish, propius/basic.py +
    data.py:19-41) over an unbounded source: new occurrence files
    refresh the served model without re-reading history.

    Why recompute-from-state instead of incremental pairs: all-pairs
    Pearson is not incrementally maintainable without O(I²) state (a
    single new event moves n, s_i, q_i and every pair that item touches),
    but the cell state IS the sufficient statistic — so each trigger is
    a batch job over nnz rows, not over the event log. At 100 TB the
    event history never re-enters the computation.
    """

    def _refresh(batch_cells: DataFrame, batch_id: int) -> None:
        from ..operators.publish import shape_similar_items
        from ..operators.similarity import similar_items_exact
        from ..session import persistent_rdd_ids, release_materialized_since

        spark = batch_cells.sparkSession
        # snapshot BEFORE the pipeline materializes its intermediates:
        # the release below is scoped to what THIS trigger persisted —
        # clear_materialized here would evict every other pipeline's
        # materialized frames in a shared session (localCheckpoint
        # blocks cannot be recomputed: truncated lineage)
        before = persistent_rdd_ids(spark)
        # no dedup shuffle: (item_a_id, item_b_id) is unique by
        # construction (publish.py's invariant, pinned by
        # test_publish_unique_keys)
        # release in finally: if the write throws (transient FS error),
        # the trigger's localCheckpoint blocks would otherwise stay
        # pinned across the checkpoint restart — the leftover-block
        # degradation session.py documents
        try:
            sims = shape_similar_items(
                similar_items_exact(batch_cells, k_sigma=k_sigma)
            )
            sims.write.mode("overwrite").parquet(f"{out_dir}/similar_items")
        finally:
            release_materialized_since(spark, before)

    return start_complete_query(
        cells, checkpoint_dir, query_name, foreach_batch=_refresh
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type over the
    events stream `(ts, event_type, ...)` — the late-data-tolerant
    rollup a training-data ingest pipeline uses for monitoring.
    Rows later than `watermark` past the max seen ts are dropped and
    their window finalized (state evicted — bounded state at scale).
    """
    require_columns(events, ["ts", "event_type"], "windowed_event_counts")
    # normalize ALL three event-time encodings (long nanos /
    # TIMESTAMP_NTZ / TIMESTAMP) exactly as sessionize_stream does —
    # watermarks reject NTZ outright, and the driver testdata has
    # shipped every one of these encodings across rounds
    from ..operators.sessions import _ts_micros

    events = events.withColumn(
        "ts", F.timestamp_micros(_ts_micros(events, "ts"))
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
