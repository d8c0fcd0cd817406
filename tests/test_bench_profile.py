"""bench.py's per-query profile, result summary and argument parsing.
The profile is perfbench's rollup, whose stage-counting cases are
pinned here without Spark like tests/test_bench_tail.py; one test runs
`_time_query` against the session fixture."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (  # noqa: E402
    _master_cpus,
    _parse_args,
    _sidecar_name,
    _summarize,
    _time_query,
    _Tracer,
)
from perfbench.tracing import Tracer, rollup  # noqa: E402

SPAN = {"name": "q", "group": "g", "start_ms": 0.0, "end_ms": 1000.0}


def _stage(tasks, submit_ms=100.0):
    return {
        "submit_ms": submit_ms, "complete_ms": 900.0, "tasks": tasks,
        "run_ms": 0, "cpu_ns": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "gc_ms": 0, "input_records": 0,
    }


def _jobs_tasks(job_stages, stages):
    jobs = [{"group": "g", "job_id": j, "stage_ids": s} for j, s in job_stages.items()]
    got = rollup([SPAN], jobs, stages)["q"]
    return got["jobs"], got["tasks"]


def test_shared_aqe_stage_counts_once():
    """AQE lists a reused stage under every job that reads it; counted
    per (job, stage) pair, stage 2 would add 5 tasks twice."""
    stages = {1: _stage(4), 2: _stage(5), 3: _stage(6)}
    assert _jobs_tasks({10: [1, 2], 11: [2, 3]}, stages) == (2, 15)


def test_missing_job_or_stage_info_is_skipped():
    """A stage the status store no longer holds adds no tasks; the job
    that lists it still counts."""
    assert _jobs_tasks({10: [1, 2], 11: [3]}, {1: _stage(4)}) == (2, 4)
    assert _jobs_tasks({}, {}) == (0, 0)


def test_skipped_stage_adds_nothing():
    """A job lists the stages it skipped (their shuffle output already
    existed): one never submitted, or submitted before the span, did
    not run inside it and adds no tasks."""
    stages = {1: _stage(3, submit_ms=None), 2: _stage(4), 3: _stage(6), 4: _stage(7, -5.0)}
    assert _jobs_tasks({10: [1, 2], 11: [1, 3, 4]}, stages) == (2, 10)


PROFILE = {
    "jobs": 1, "tasks": 3, "cpu_s": 0.5, "shuffle_mb": 1.25, "spill_mb": 0.0,
    "gc_s": 0.01, "driver_gap_s": 0.2, "input_records": 40, "compiles": 2,
}


def _rec(p, q, sec, jobs=1):
    r = {"variant": "base", "pass": p, "query": q, "sec": sec, **PROFILE, "jobs": jobs}
    if sec is None:
        r["error"] = "Boom: x"
    return r


def test_min_over_successful_passes_with_fastest_profile():
    """A query's time is the min over the passes it succeeded in, its
    profile comes from that pass, a failed pass shows under `failures`,
    and `runs` totals each pass's successful queries."""
    got = _summarize([
        _rec(0, "a", 2.0, jobs=7), _rec(0, "b", None),
        _rec(1, "a", 1.5, jobs=6), _rec(1, "b", 3.0),
        _rec(0, "c", None), _rec(1, "c", None),
    ])
    assert got["queries"] == {"a": 1.5, "b": 3.0}
    assert got["value"] == 4.5
    assert got["runs"] == [2.0, 4.5]
    assert got["profile"]["a"] == {**PROFILE, "jobs": 6}
    assert got["failures"] == {"b": "Boom: x", "c": "Boom: x"}


def test_time_query_profiles_through_the_tracer(spark):
    """A query's record is its span's wall time plus the perfbench
    rollup and its codegen compile count; a failed query keeps its
    error and the jobs it ran, and no job group outlives the query."""
    from pyspark.sql import functions as F  # noqa: N812

    tracer = Tracer(spark)
    ok = _time_query(spark, tracer, lambda s, _: s.range(1000).repartition(2), "", "ok")
    assert ok["sec"] > 0 and "error" not in ok
    assert ok["jobs"] >= 1 and ok["tasks"] >= 2
    assert ok["shuffle_mb"] > 0 and ok["driver_gap_s"] >= 0

    # a fresh literal is new generated code; the same query again hits
    # the codegen cache
    fresh = time.time_ns()

    def literal(s, _):
        return s.range(1000).select((F.col("id") + F.lit(fresh)).alias("v")).repartition(2)

    assert _time_query(spark, tracer, literal, "", "fresh")["compiles"] > 0
    assert _time_query(spark, tracer, literal, "", "again")["compiles"] == 0

    def boom(s, _):
        return s.range(10).select(F.raise_error(F.lit("boom")))

    bad = _time_query(spark, tracer, boom, "", "bad")
    assert bad["sec"] is None
    assert "Exception: " in bad["error"] and "boom" in bad["error"]
    assert bad["jobs"] >= 1
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_stage_the_store_dropped_counts_as_not_run(spark):
    """Past `spark.ui.retainedStages` the status store evicts skipped
    stages that a recent job still lists. perfbench's Tracer raises on
    such a stage; bench's keeps it as never submitted."""
    dropped = 2**31 - 1
    with pytest.raises(Exception, match="NoSuchElementException"):
        Tracer(spark)._stage(dropped)
    stage = _Tracer(spark)._stage(dropped)
    assert stage["submit_ms"] is None and stage["tasks"] == 0


def test_no_arguments_is_the_full_two_pass_base_run():
    args = _parse_args([])
    assert args.queries is None
    assert args.passes == 2
    assert args.variants == [("base", {})]


def test_queries_and_variants_parse():
    args = _parse_args([
        "--queries", "corr_pairs_parts,dedup_clusters", "--passes", "3",
        "--variant", "base=",
        "--variant", "p8=spark.sql.shuffle.partitions=8;spark.sql.adaptive.enabled=true",
    ])
    assert args.queries == ["corr_pairs_parts", "dedup_clusters"]
    assert args.passes == 3
    assert args.variants == [
        ("base", {}),
        ("p8", {"spark.sql.shuffle.partitions": "8",
                "spark.sql.adaptive.enabled": "true"}),
    ]


@pytest.mark.parametrize("argv", [
    ["--variant", "=a=b"],
    ["--variant", "v=novalue"],
    ["--variant", "v=", "--variant", "v=a=b"],
    ["--passes", "0"],
])
def test_malformed_arguments_exit_nonzero(argv):
    with pytest.raises(SystemExit) as e:
        _parse_args(argv)
    assert e.value.code != 0


def test_master_cpus():
    assert _master_cpus("local[4]") == 4
    assert _master_cpus("local[8,3]") == 8


def test_sidecar_is_tracked_only_for_the_full_primary_suite():
    """Only a full-suite run at SF 0.1 writes the tracked
    BENCH_full.json; a subset or another scale writes BENCH_local.json."""
    assert _sidecar_name(None, 0.1) == "BENCH_full.json"
    assert _sidecar_name([], 0.1) == "BENCH_full.json"  # `--queries ""`
    assert _sidecar_name(["publish_retrieve"], 0.1) == "BENCH_local.json"
    assert _sidecar_name(None, 1.0) == "BENCH_local.json"
    assert _sidecar_name(None, 0.01) == "BENCH_local.json"
    assert _sidecar_name(None, "custom") == "BENCH_local.json"
