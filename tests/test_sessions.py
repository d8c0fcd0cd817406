"""Sessionization: batch gaps-and-islands (operators/sessions.py) and
the applyInPandasWithState streaming twin (streaming/sessions.py).

Stream/batch contract: every session the stream emits is final and
must appear verbatim in the batch answer; every session the batch
CLOSES (i.e. the user has a later session after it) must be emitted by
the stream. Per-user last sessions may legitimately still be open in
stream state when the bounded run ends.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from propius_spark.operators import sessionize

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _min(m: float) -> datetime:
    return T0 + timedelta(minutes=m)


EVENTS = [
    # user 1: [0,10,20] then gap 40 > 30 → [60,70]
    (1, _min(0)), (1, _min(10)), (1, _min(20)), (1, _min(60)), (1, _min(70)),
    # user 2: single event
    (2, _min(5)),
    # user 3: three sessions, boundary gap exactly 30 merges (<= gap)
    (3, _min(0)), (3, _min(30)), (3, _min(100)), (3, _min(200)),
]

US = 60_000_000  # micros per minute


def _us(m: float) -> int:
    return int(T0.timestamp() * 1_000_000) + int(m * US)


EXPECTED = {
    (1, _us(0), _us(20), 3),
    (1, _us(60), _us(70), 2),
    (2, _us(5), _us(5), 1),
    (3, _us(0), _us(30), 2),
    (3, _us(100), _us(100), 1),
    (3, _us(200), _us(200), 1),
}
# sessions with a later same-user session — the stream must close these
EXPECTED_GAP_CLOSED = {
    (1, _us(0), _us(20), 3),
    (3, _us(0), _us(30), 2),
    (3, _us(100), _us(100), 1),
}


def _events_df(spark):
    return spark.createDataFrame(EVENTS, "user_id long, ts timestamp")


def _stream_landed_batches(spark, tmp_path, batches, watermark, query_name):
    """Land each batch of (user, minute) events as one file, run the
    session stream (gap 30m) one file per micro-batch, and return the
    emitted (user, start_us, end_us, n) tuples sorted."""
    from propius_spark.streaming import sessionize_stream, start_sessions_query

    land = str(tmp_path / "events")
    for rows in batches:
        spark.createDataFrame(
            [(u, _min(m)) for u, m in rows], "user_id long, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(land)
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = start_sessions_query(
        sessionize_stream(stream, gap_minutes=30, watermark=watermark),
        str(tmp_path / "ck"),
        query_name=query_name,
    )
    q.awaitTermination()
    return sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.table(query_name).collect()
    )


def test_sessionize_batch_hand_computed(spark):
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(_events_df(spark), gap_minutes=30).collect()
    }
    assert got == EXPECTED


def test_sessionize_long_nanos_input(spark):
    """Driver testdata path: ts arrives as long nanos (parquet
    TIMESTAMP(NANOS) under nanosAsLong) — same sessions."""
    from pyspark.sql import functions as F

    df = _events_df(spark).withColumn("ts", F.unix_micros("ts") * 1000)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got == EXPECTED


def test_sessionize_stream_closes_batch_sessions(spark, tmp_path):
    from propius_spark.streaming import sessionize_stream, start_sessions_query

    land = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    # two files → (up to) two micro-batches; watermark advances between
    df = _events_df(spark)
    df.filter("user_id <= 2").coalesce(1).write.mode("append").parquet(land)
    df.filter("user_id > 2").coalesce(1).write.mode("append").parquet(land)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = start_sessions_query(
        sessionize_stream(stream, gap_minutes=30, watermark="10 minutes"),
        ckpt,
        query_name="t_sessions",
    )
    q.awaitTermination()

    emitted = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    assert EXPECTED_GAP_CLOSED <= emitted <= EXPECTED


def test_windowed_counts_hand_computed(spark):
    from propius_spark.operators import windowed_counts

    ev = spark.createDataFrame(
        [
            (_min(0), "a"), (_min(30), "a"), (_min(59.9), "b"),
            (_min(60), "a"), (_min(125), "b"),
        ],
        "ts timestamp, event_type string",
    )
    got = sorted(
        (r.window_start_us, r.window_end_us, r.event_type, r.n_events)
        for r in windowed_counts(ev, "1 hour").collect()
    )
    h = 3_600_000_000
    t0 = _us(0)
    assert got == sorted([
        (t0, t0 + h, "a", 2),
        (t0, t0 + h, "b", 1),
        (t0 + h, t0 + 2 * h, "a", 1),
        (t0 + 2 * h, t0 + 3 * h, "b", 1),
    ])


def test_sessionize_stream_late_events_merge_and_never_close_early(spark, tmp_path):
    """In-watermark late events must extend — or BRIDGE — open islands,
    never prematurely finalize them (round-2 advice: an older late
    event used to close the still-open newer session and replace
    state).

    gap=30m, watermark=60m. Batch 1: user 1 at [100', 160'] (two
    islands), user 2 at [160']. Batch 2 (late, ≥ watermark 100'):
    user 1 at 130' bridges both islands into ONE session [100',160']×3;
    user 2 at 110' opens a separate older island without touching the
    open [160'] session. Batch 3: a flush event at 300' pushes the
    watermark to 240', finalizing everything except the flush itself."""
    emitted = _stream_landed_batches(
        spark,
        tmp_path,
        [[(1, 100), (1, 160), (2, 160)], [(1, 130), (2, 110)], [(9, 300)]],
        "60 minutes",
        "t_sessions_late",
    )
    assert set(emitted) == {
        (1, _us(100), _us(160), 3),
        (2, _us(110), _us(110), 1),
        (2, _us(160), _us(160), 1),
    }


def test_event_encodings_equal_under_default_session_confs(spark, tmp_path):
    """The round-1 failure mode, pinned forever: events.parquet arrives
    in any of three writer encodings — INT64 TIMESTAMP(NANOS) (needs
    nanosAsLong, which a DEFAULT driver session does not set),
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ),
    and TIMESTAMP(MICROS, UTC) — and read_events + _ts_micros must
    yield identical sessionize/windowed/asof results for all three,
    WITHOUT relying on session-build confs (we unset nanosAsLong
    first; read_events must set it at runtime)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from propius_spark.operators import asof_join, sessionize, windowed_counts
    from propius_spark.sources import read_events

    users = [1, 1, 1, 2, 2, 1]
    mins = [0, 10, 60, 5, 50, 120]
    us = [_us(m) for m in mins]

    encodings = {
        "nanos": pa.timestamp("ns"),
        "ntz_us": pa.timestamp("us"),
        "utc_us": pa.timestamp("us", tz="UTC"),
    }
    dirs = {}
    for name, typ in encodings.items():
        d = tmp_path / name
        d.mkdir()
        ts = pa.array([u * 1000 for u in us], pa.timestamp("ns")).cast(typ)
        t = pa.table({"user_id": pa.array(users, pa.int64()), "ts": ts})
        pq.write_table(t, str(d / "events.parquet"), version="2.6")
        dirs[name] = str(d)
    # prove the nanos fixture really is TIMESTAMP(NANOS) on disk
    lt = pq.ParquetFile(f"{dirs['nanos']}/events.parquet").schema.column(1)
    assert "nanoseconds" in str(lt.logical_type)

    try:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass

    results = {}
    for name, d in dirs.items():
        ev = read_events(spark, d)
        sess = sorted(
            map(tuple, sessionize(ev, gap_minutes=30).collect())
        )
        win = sorted(
            map(
                tuple,
                windowed_counts(
                    ev.withColumn("event_type", F.lit("e")), "1 hour"
                ).collect(),
            )
        )
        left = ev.filter("user_id = 1").select("user_id", "ts")
        right = (
            ev.filter("user_id = 2")
            .select("user_id", "ts")
            .withColumn("mark", F.lit(1))
        )
        asof = sorted(map(tuple, asof_join(left, right, on="user_id").collect()))
        results[name] = (sess, win, asof)

    assert results["nanos"] == results["ntz_us"] == results["utc_us"]
    sess, _, _ = results["nanos"]
    assert sess == sorted(
        [(1, _us(0), _us(10), 2), (1, _us(60), _us(60), 1),
         (1, _us(120), _us(120), 1), (2, _us(5), _us(5), 1),
         (2, _us(50), _us(50), 1)]
    )


def test_sessionize_stream_boundary_island_closes_exactly_once(spark, tmp_path):
    """Watermark-boundary semantics, pinned empirically: Spark drops
    late events with ts <= watermark for applyInPandasWithState, so an
    island whose end+gap equals the watermark can never be extended —
    and must be emitted exactly once (at the flush), never split.
    gap=30m, watermark=10m: after batch 1 (u1@100', u9@140') the
    watermark is exactly 130' = 100'+30'; batch 2 data at 135' makes
    u1's close_sessions run AT the boundary; batch 3's 130' event
    (== watermark) is dropped by the engine; batch 4 flushes."""
    emitted = _stream_landed_batches(
        spark,
        tmp_path,
        # 130' == watermark: dropped before the operator
        [[(1, 100), (9, 140)], [(1, 135)], [(1, 130)], [(9, 300)]],
        "10 minutes",
        "t_sessions_boundary",
    )
    # [100'] and [135'] are separate sessions (135-100 > gap; the 130'
    # bridge was watermark-dropped), each emitted exactly once
    assert [e for e in emitted if e[0] == 1] == [
        (1, _us(100), _us(100), 1),
        (1, _us(135), _us(135), 1),
    ]


def test_sessionize_stream_emitted_sessions_stay_final(spark, tmp_path):
    """An emitted session is final: no later event may open a second
    session of the same user within `gap` of it. gap=30m,
    watermark=10m: batch 1 (u1@100', u9@150') moves the watermark to
    140', batch 2 (u9@151') fires u1's timeout (100' + 30' < 141') and
    emits [100'], batch 3's u1@125' sits below the watermark and is
    dropped, batch 4 flushes. A session-window operator that keeps the
    125' event emits it as a second u1 session 25' after the first."""
    emitted = _stream_landed_batches(
        spark,
        tmp_path,
        # 125' is below the watermark: dropped
        [[(1, 100), (9, 150)], [(9, 151)], [(1, 125)], [(9, 400)]],
        "10 minutes",
        "t_sessions_final",
    )
    assert [e for e in emitted if e[0] == 1] == [(1, _us(100), _us(100), 1)]
    for prev, nxt in zip(emitted, emitted[1:]):
        if prev[0] == nxt[0]:
            assert nxt[1] - prev[2] > 30 * US, (prev, nxt)


def test_sessionize_excludes_null_timestamps(spark):
    """Round-4 review fix: an event with no time belongs to no session
    — explicit exclusion, mirrored in the oracle (NULLS FIRST/LAST
    conventions would otherwise attach it per-engine differently)."""
    from datetime import datetime

    from propius_spark.operators import sessionize

    rows = [
        (1, None),
        (1, datetime(2024, 1, 1, 10, 0)),
        (1, datetime(2024, 1, 1, 10, 10)),
        (2, None),  # all-null user: no sessions at all
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize(df).collect()
    assert len(out) == 1
    assert out[0].user_id == 1 and out[0].n_events == 2
