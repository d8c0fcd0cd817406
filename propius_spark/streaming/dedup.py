"""Streaming ingest-time deduplication.

Exact dedup belongs at INGEST in a training pipeline — a duplicate
dropped before it lands is storage, shuffle, and training compute
saved everywhere downstream. The batch twin (operators/dedup.
exact_dedup) resolves duplicates over a bounded corpus; this is the
unbounded version: first-seen document per content hash survives,
later arrivals are dropped.

State discipline (the 100 TB concern): ``dropDuplicatesWithinWatermark``
keys the state store on the content hash and EVICTS each key once the
watermark passes its event time + the delay — so state holds only the
recent-horizon hash set, not every document ever seen. The trade is
explicit and standard: a duplicate recurring further apart than the
watermark horizon is re-admitted (cross-horizon dedup is the batch
job's role on the landed data). The state key is the SAME content
address the whole batch family stands on — sha2-256 over
coalesce(text, '') (operators/dedup.py content_address), stored as
the 32-byte unhexed digest: true 32-byte state rows, the family's
adversarial-collision posture (xxhash64 admits engineered collisions
that would silently drop real documents at ingest), and its
null-text ≡ '' identity, so "dedup at ingest, re-dedup in batch"
pipelines agree at every boundary.

Checkpoint migration: the round-3 key change (xxhash64 long →
sha2-256 binary) changes the state schema, so checkpoints written by
the old key CANNOT resume — Spark's state-schema validation fails the
restart. Deliberate: correctness of the dedup identity beats
continuity of the dedup horizon; start a fresh checkpoint and accept
one horizon of re-admitted duplicates (the batch dedup catches them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import require_columns


def dedup_stream(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """First-seen-wins exact dedup over an unbounded document stream
    `(ts, text, ...)`: emits each content hash's first arrival, drops
    re-arrivals within the watermark horizon. Append-mode compatible
    (every emitted row is final). The event-time column is normalized
    in place through the same three-encoding path as the other
    streaming operators (long nanos / TIMESTAMP_NTZ / TIMESTAMP —
    watermarks reject NTZ outright), so callers can feed any of the
    encodings the driver testdata has shipped."""
    require_columns(docs, [ts_col, text_col], "dedup_stream")
    from ..operators.sessions import _ts_micros

    docs = docs.withColumn(ts_col, F.timestamp_micros(_ts_micros(docs, ts_col)))
    # THE family content address — same definition as the batch path
    from ..operators.dedup import content_address

    return (
        docs.withColumn("__h", F.unhex(content_address(F.col(text_col))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def start_dedup_query(
    deduped: DataFrame,
    checkpoint_dir: str,
    query_name: str = "propius_dedup",
    sink_path: str | None = None,
):
    """Run the ingest-dedup stream: every surviving first-arrival is
    final, so this is the shared append-mode runner (see
    streaming/writers.py) with the dedup query name; ``sink_path``
    set = the durable landing zone."""
    from .writers import start_append_query

    return start_append_query(
        deduped, checkpoint_dir, query_name, sink_path
    )
