"""bench.py's per-query profile rollup, result summary and argument
parsing, unit-tested without Spark like tests/test_bench_tail.py."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import (  # noqa: E402
    _master_cpus,
    _parse_args,
    _rollup,
    _sidecar_name,
    _summarize,
)


def test_shared_aqe_stage_counts_once():
    """AQE lists a reused stage under every job that reads it; counted
    per (job, stage) pair, stage 2 would add 5 tasks twice."""
    got = _rollup({10: [1, 2], 11: [2, 3]}, {1: 4, 2: 5, 3: 6})
    assert got == {"jobs": 2, "stages": 3, "tasks": 15}


def test_missing_job_or_stage_info_is_skipped():
    """A job or stage the status tracker no longer holds adds no stages
    or tasks; the job id itself still counts."""
    got = _rollup({10: [1, 2], 11: None}, {1: 4, 2: None})
    assert got == {"jobs": 2, "stages": 1, "tasks": 4}
    assert _rollup({}, {}) == {"jobs": 0, "stages": 0, "tasks": 0}


def test_skipped_stage_adds_nothing():
    """A job lists the stages it skipped (their shuffle output already
    existed); a listed stage with 0 completed tasks never ran, so it
    adds neither a stage nor tasks."""
    got = _rollup({10: [1, 2], 11: [1, 3]}, {1: 0, 2: 4, 3: 6})
    assert got == {"jobs": 2, "stages": 2, "tasks": 10}


def _rec(p, q, sec, jobs=1):
    r = {"pass": p, "query": q, "sec": sec, "jobs": jobs, "stages": 2, "tasks": 3}
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
    assert got["profile"]["a"] == {"jobs": 6, "stages": 2, "tasks": 3}
    assert got["failures"] == {"b": "Boom: x", "c": "Boom: x"}


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
