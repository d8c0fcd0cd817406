"""Streaming sessionization: the custom stateful operator surface.

Incremental twin of operators/sessions.sessionize: per-user session
state maintained with applyInPandasWithState (Arrow-batched grouped
state — the idiomatic Spark surface for operators the built-in
aggregates can't express).

Correctness rule: a session (island) is CLOSED exactly when the
watermark passes session_end + gap. Only then is it final — any
in-watermark event t satisfies t ≥ watermark > session_end + gap, so
it can neither extend the island nor bridge it to a later one. Closing
earlier (e.g. the moment a newer out-of-gap event arrives) is wrong
twice over: a late in-watermark event may still extend the island, or
even MERGE two open islands by landing in the gap between them. So
state holds ALL islands the watermark hasn't finalized (arrays, sorted
by start) — bounded per user by the watermark horizon / gap, typically
1-2 — and every emitted session is verbatim-final, identical to the
batch answer over the same in-watermark data.

Events later than the watermark are dropped by Spark before reaching
the operator (standard semantics). State is evicted as islands close:
bounded state at 100 TB — a few small tuples per ACTIVE user, not per
user ever seen.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..schemas import require_columns

# output schema template: the user_id type is derived from the INPUT
# column (a hardcoded `long` crashed the first micro-batch on string
# user ids — the batch twin preserves the id type, so must this one)
SESSION_OUT = (
    "user_id {user_type}, session_start_us long, session_end_us long, n_events long"
)
# parallel arrays of open islands, sorted by start
SESSION_STATE = "starts array<long>, lasts array<long>, ns array<long>"


def sessionize_stream(
    events: DataFrame,
    gap_minutes: float = 30.0,
    watermark: str = "1 hour",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Append-mode stream of CLOSED sessions
    (user_id, session_start_us, session_end_us, n_events)."""
    require_columns(events, [user_col, ts_col], "sessionize_stream")
    gap_us = int(gap_minutes * 60_000_000)
    gap_ms = gap_us // 1000
    user_type = events.schema[user_col].dataType.simpleString()
    out_schema = SESSION_OUT.format(user_type=user_type)
    # Normalize ONCE, JVM-side, for all three event-time encodings
    # (long nanos / TIMESTAMP_NTZ / TIMESTAMP — watermarks reject NTZ
    # outright): `__t_us` is epoch micros (what the operator computes
    # on, immune to session-timezone pandas conversion), `__ts` is the
    # TIMESTAMP twin the watermark tracks.
    from ..operators.sessions import _ts_micros

    tmic = _ts_micros(events, ts_col)
    events = events.select(
        F.col(user_col).alias("user_id"),
        tmic.alias("__t_us"),
        F.timestamp_micros(tmic).alias("__ts"),
    ).filter(F.col("__t_us").isNotNull())
    # explicit null-time exclusion, same contract as batch sessionize:
    # a watermark does NOT drop null event times, and a null __t_us
    # reaches the kernel as pandas NaN where int(t) raises — failing
    # the micro-batch and, via checkpoint replay, the query forever

    def close_sessions(
        key: tuple, pdfs: Iterable[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
        islands: list[tuple[int, int, int]] = []
        if state.exists:
            starts, lasts, ns = state.get
            islands = list(zip(starts, lasts, ns))
        if not state.hasTimedOut:
            ts: list[int] = []
            for pdf in pdfs:
                ts.extend(int(t) for t in pdf["__t_us"].tolist())
            islands.extend((t, t, 1) for t in ts)
        # merge: islands sorted by start coalesce while the gap between
        # one's end and the next's start is within `gap`
        islands.sort()
        merged: list[tuple[int, int, int]] = []
        for s, last, n in islands:
            if merged and s - merged[-1][1] <= gap_us:
                ps, pl, pn = merged[-1]
                merged[-1] = (ps, max(pl, last), pn + n)
            else:
                merged.append((s, last, n))
        wm_us = state.getCurrentWatermarkMs() * 1000
        # Close rule, STRICT <: an island is final once every event the
        # engine can still deliver is out of merge range. Spark 4.x
        # drops late rows with ts <= watermark for this operator
        # (verified empirically), making <= equally safe — but strict <
        # costs only one extra no-data batch and stays correct even
        # under a `ts < watermark`-keeps convention, so it is the
        # defensive choice.
        closed = [i for i in merged if i[1] + gap_us < wm_us]
        live = [i for i in merged if i[1] + gap_us >= wm_us]
        if live:
            state.update(
                ([i[0] for i in live], [i[1] for i in live], [i[2] for i in live])
            )
            # wake when the earliest live island becomes final
            deadline_ms = min(i[1] for i in live) // 1000 + gap_ms
            state.setTimeoutTimestamp(
                max(deadline_ms, state.getCurrentWatermarkMs() + 1)
            )
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            [[user, s, last, n] for s, last, n in closed], columns=cols
        )

    return (
        events.withWatermark("__ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            close_sessions,
            out_schema,
            SESSION_STATE,
            "append",
            "EventTimeTimeout",
        )
    )


def start_sessions_query(
    sessions: DataFrame,
    checkpoint_dir: str,
    query_name: str = "propius_sessions",
    sink_path: str | None = None,
) -> StreamingQuery:
    """Run the closed-session stream: each closed session is final, so
    this is the shared append-mode runner (see streaming/writers.py)
    with the sessions query name; ``sink_path`` set = a durable
    parquet session log."""
    from .writers import start_append_query

    return start_append_query(
        sessions, checkpoint_dir, query_name, sink_path
    )
