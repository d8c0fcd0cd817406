"""Benchmark harness: the one script that times `queries()` entries,
at one scale factor plus a secondary pass at sf0.01 so CORRECTNESS
failures (graded at sf0.01) and BENCH numbers (graded at the main sf)
can be cross-read.

Prints ONE compact JSON line (the LAST line of stdout):
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": sf, "detail": SIDECAR}

The grader keeps only the last ~2000 characters of stdout (BENCH_r01..
r06 all have `"parsed": null` from a truncated 4.5 KB line), so the
printed line carries only the contract fields plus parallelism and the
secondary pass's total + failed-query names, at 1-decimal precision
(≤ ~1.9 KB at 74 queries); over budget it degrades via `_fit_tail`.
Everything else goes to the SIDECAR file next to this script:
3-decimal timings, each query's `profile` (jobs, tasks, `cpu_s`,
`shuffle_mb`, `spill_mb`, `gc_s`, `driver_gap_s`, `input_records`:
`perfbench.tracing.rollup` over the query's span, counting only the
stages that ran inside it; plus `compiles`, the generated classes
Spark compiled during the span, and `py_cpu_s`, the Python process's
CPU over the span), every pass's raw per-query records
(`raw`), per-pass totals, the secondary pass,
`plans.compaction_stats`, host CPU/disk canaries and failures. The
SIDECAR is the tracked ``BENCH_full.json`` only for a full-suite run
(no ``--queries``) at the primary SF 0.1; every other run writes the
untracked ``BENCH_local.json``. Per-query progress goes to stderr.

Flags:
  --queries a,b,...  time only these (default: all); an unknown name
                     exits non-zero before Spark starts
  --passes N         timed passes at the primary SF (default 2); a
                     query's time is the min over the passes it
                     succeeded in
  --variant NAME=k=v;k=v
                     (repeatable) runtime SQL confs for an interleaved
                     A/B in one session: each pass runs every variant in
                     turn, setting its confs and restoring them after.
                     `NAME=` is the session as built. The top level
                     reports the first variant; the sidecar's `variants`
                     reports each.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_SECONDARY_SF_DIR (default /root/testdata/sf0.01;
     set empty to skip the secondary pass),
     SPARK_GRAFT_CPUS (read by get_spark, default nproc; the resolved
     count is reported as `cpus`).

Each query is executed to completion with a `noop`-format write so the
measured time covers the full distributed plan (scan → shuffles →
aggregates) without driver-side collect overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.tracing import Tracer, rollup  # noqa: E402


class _Tracer(Tracer):
    """perfbench's Tracer, plus stages the status store has dropped.
    Past `spark.ui.retainedStages` (1000) the store evicts skipped
    stages first, so a job of the span just ended can list a stage it
    no longer holds. `Tracer._stage` raises on it, and since `_collect`
    then never moves past that job, so does every later span: a full
    suite run lost 64 of its 74 second-pass queries and the whole
    secondary pass. A dropped stage is kept as never submitted, which
    `rollup` counts as not run."""

    def _stage(self, sid: int) -> dict:
        from py4j.protocol import Py4JJavaError

        try:
            return super()._stage(sid)
        except Py4JJavaError as e:
            if "NoSuchElementException" not in str(e.java_exception):
                raise
            return {"submit_ms": None, "complete_ms": None, "tasks": 0, "run_ms": 0,
                    "cpu_ns": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                    "gc_ms": 0, "input_records": 0}


def _fit_tail(compact: dict, budget: int = 1900) -> str:
    """Serialize the compact summary within the driver's stdout-tail
    budget. Never an assert (stripped under -O, and dying here would
    leave NO summary line even though the sidecar exists): over
    budget, degrade stepwise — drop the per-query dict first, then
    collapse failed-name lists to counts — so the contract fields
    (metric/value/unit/sf/detail) always reach the driver. Pure
    function, unit-tested without Spark (tests/test_bench_tail.py)."""
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) <= budget:
        return line
    minimal = dict(compact)
    minimal["queries"] = {}
    minimal["queries_note"] = "over tail budget; see detail file"
    line = json.dumps(minimal, separators=(",", ":"))
    if len(line) <= budget:
        return line
    for k in ("failed", "secondary_failed"):  # failed-list blowup
        if k in minimal:
            minimal[f"n_{k}"] = len(minimal.pop(k))
    return json.dumps(minimal, separators=(",", ":"))


def _host_calibration() -> float:
    """Fixed single-core pure-Python workload (~1-2 s on an idle host).

    The suite totals on this box swing 1.5-2× between host windows with
    NO code change (BASELINE.md variance bands; the round-4 close saw
    same-code totals of 101.5 s and 151 s with uniform per-query
    inflation). This canary, run before the first pass and after the
    last, gives BENCH_r{N}.json readers a code-independent host-speed
    anchor: divide suite totals by the calibration ratio before
    comparing across rounds/windows. Pure Python + integer ops so the
    number reflects CPU speed and steal only — no BLAS threads, no JVM,
    no disk.
    """
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):
        acc = (acc * 1103515245 + i) & 0x7FFFFFFFFFFFFFFF
    assert acc >= 0
    return round(time.perf_counter() - t0, 3)


def _spark_local_dir() -> str:
    """The filesystem Spark actually spills/shuffles to: first entry of
    SPARK_LOCAL_DIRS if set (the only Spark-temp override in play on
    this harness; spark.local.dir would be visible in get_spark's confs
    and is not set), else the platform temp dir — so the disk canary
    probes the device whose contention inflates checkpoint-heavy
    queries (ADVICE r4: a hardcoded /tmp would misattribute host-window
    diagnoses whenever the Spark temp lives elsewhere)."""
    import tempfile

    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        first = env.split(",")[0].strip()
        if first and os.path.isdir(first):
            return first
    return tempfile.gettempdir()


def _disk_calibration(path: str | None = None) -> float:
    """Write+fsync 256 MB to the Spark-temp filesystem (resolved by
    _spark_local_dir), report MB/s.

    The round-4 close measured a window where the CPU canary moved <5%
    while checkpoint/write-heavy queries (dedup_clusters,
    publish_retrieve) inflated 3-8× — shared-backing-store I/O
    contention, invisible to a CPU-only probe. This pins the disk
    dimension next to the CPU one.
    """
    import tempfile

    path = path or _spark_local_dir()
    buf = b"\xa5" * (8 << 20)  # 8 MB
    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(dir=path) as f:
        for _ in range(32):  # 256 MB total
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    return round(256 / (time.perf_counter() - t0), 1)


def _variant(spec: str) -> tuple[str, dict[str, str]]:
    """`NAME=k=v;k=v` → (NAME, {k: v}); `NAME=` is the base session."""
    name, _, confstr = spec.partition("=")
    if not name:
        raise argparse.ArgumentTypeError(f"variant needs a name: {spec!r}")
    confs: dict[str, str] = {}
    for kv in filter(None, confstr.split(";")):
        k, sep, v = kv.partition("=")
        if not sep:
            raise argparse.ArgumentTypeError(f"expected k=v in {spec!r}")
        confs[k] = v
    return name, confs


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Time queries() entries.")
    p.add_argument("--queries", type=lambda s: [q for q in s.split(",") if q])
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--variant", type=_variant, action="append", dest="variants")
    args = p.parse_args(argv)
    if args.passes < 1:
        p.error("--passes must be at least 1")
    args.variants = args.variants or [("base", {})]
    if len({v for v, _ in args.variants}) < len(args.variants):
        p.error("variant names must be unique")
    return args


def _sidecar_name(queries: list[str] | None, sf) -> str:
    """The tracked ``BENCH_full.json`` records only the full suite at
    the primary SF 0.1; a ``--queries`` subset or another scale writes
    the untracked ``BENCH_local.json`` instead, so a subset or sf1.0
    run never overwrites the committed record."""
    return "BENCH_local.json" if queries or sf != 0.1 else "BENCH_full.json"


def _master_cpus(master: str) -> int:
    """`local[N]` or `local[N,F]` → N (get_spark always builds local[N])."""
    return int(master[master.index("[") + 1 :].split(",")[0].rstrip("]"))


def _summarize(records: list[dict]) -> dict:
    """One variant's result from its per-pass query records
    ({"variant", "pass", "query", "sec", the `_time_query` profile, and
    "error" when `sec` is None}). A query's time is the min over the
    passes it SUCCEEDED in (a query that failed one pass still reports
    its good pass; failed-everywhere queries appear only under
    `failures`), and its profile is that fastest pass's record minus
    the bookkeeping keys. `runs` is each pass's total. Pure function,
    unit-tested without Spark."""
    best: dict[str, dict] = {}
    runs = dict.fromkeys(sorted({r["pass"] for r in records}), 0.0)
    failures: dict[str, str] = {}
    for r in records:
        if r["sec"] is None:
            failures[r["query"]] = r["error"]
            continue
        runs[r["pass"]] += r["sec"]
        if r["query"] not in best or r["sec"] < best[r["query"]]["sec"]:
            best[r["query"]] = r
    names = sorted(best)
    skip = ("variant", "pass", "query", "sec", "error")
    out = {
        "value": round(sum(best[q]["sec"] for q in names), 3),
        "queries": {q: best[q]["sec"] for q in names},
        "runs": [round(t, 3) for t in runs.values()],
        "profile": {
            q: {k: v for k, v in best[q].items() if k not in skip} for q in names
        },
    }
    if failures:
        out["failures"] = failures
    return out


def main(argv: list[str] | None = None) -> None:
    args = _parse_args(argv)
    import __spark_entry__ as entrymod
    from propius_spark.session import get_spark

    qs = entrymod.queries()
    names = args.queries or list(qs)
    unknown = sorted(set(names) - set(qs))
    if unknown:
        # a typo'd name must not yield a short suite that exits 0
        raise SystemExit(f"bench: unknown queries {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("propius_bench")
    # stop-in-finally: a mid-suite exception must not leave the JVM up,
    # and the summary line prints AFTER stop so no late JVM chatter can
    # push it out of the driver's 2000-char stdout tail
    try:
        line = _run(spark, {n: qs[n] for n in names}, sf_dir, args)
    finally:
        spark.stop()
    print(line, flush=True)


def _time_query(spark, tracer, fn, sf_dir: str, name: str) -> dict:
    """Run one query inside `tracer.span(name)` and return its record:
    the span's wall `sec` (None plus `error` on failure) and its
    perfbench rollup (jobs, tasks, CPU, shuffle, spill, GC,
    `driver_gap_s`, input records), counting only the stages that ran
    inside the span, plus `compiles`: the generated classes Spark
    compiled during the span (its codegen cache missed), driver and
    executors alike in this single-JVM session; and `py_cpu_s`: the
    driver's Python-process CPU (user + system) over the span."""
    from propius_spark.session import clear_materialized

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    compiled = compiles().getCount()
    py0 = os.times()
    error = None
    try:
        with tracer.span(name):
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    except Exception as e:  # noqa: BLE001 - record, keep measuring
        # one flaky query must not discard a whole completed pass:
        # record the failure, keep the rest of the suite
        error = f"{type(e).__name__}: {e}"[:300]
    py1 = os.times()
    prof = rollup([tracer.spans[-1]], tracer.jobs, tracer.stages)[name]
    wall = prof.pop("wall_s")
    rec: dict = {"sec": None, "error": error} if error else {"sec": round(wall, 3)}
    rec.update((k, round(v, 3)) for k, v in prof.items())
    rec["compiles"] = compiles().getCount() - compiled
    rec["py_cpu_s"] = round(py1.user + py1.system - py0.user - py0.system, 3)
    # release materialized intermediates so one pipeline's blocks don't
    # skew the next query's timing, and nudge the JVM to collect them
    # now — long multi-query sessions otherwise hit multi-second GC
    # pauses inside later queries (measured 3-4× inflation on queries
    # that run in ~3 s isolated)
    clear_materialized(spark)
    spark.sparkContext._jvm.System.gc()
    return rec


def _sf_of(d: str):
    s = d.rstrip("/").rsplit("sf", 1)[-1]
    return float(s) if s.replace(".", "").isdigit() else s


def _run(spark, qs: dict, sf_dir: str, args: argparse.Namespace) -> str:
    from propius_spark import plans

    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM on untimed work covering the runtime surfaces the
    # suite uses — codegen compiler, parquet footer caches, shuffle
    # service, Arrow + Python worker pool (applyInPandas), and MLlib
    # class loading. The first action of each kind in a fresh JVM
    # otherwise pays 3-9 s of warmup that belongs to no query (r3
    # measured: posting_lists 13.5 s first-in-suite vs 0.86 s warm).
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().write.mode("overwrite").format("noop").save()
    from pyspark.sql import functions as F  # noqa: N812

    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(256)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .count()
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    warm_pdf = spark.range(64).withColumn("g", F.pmod("id", F.lit(4)))
    warm_pdf.groupBy("g").applyInPandas(
        lambda pdf: pdf, "id long, g bigint"
    ).write.mode("overwrite").format("noop").save()
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = spark.range(64).select(
            array_to_vector(F.array(F.rand(1), F.rand(2))).alias("features")
        )
        KMeans(k=2, seed=1, maxIter=2).fit(feat.coalesce(1))
    except Exception:
        pass

    tracer = _Tracer(spark)
    records: list[dict] = []

    def run_suite(d: str, pass_no: int, variant: str, confs: dict[str, str]) -> None:
        prev = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            for name, fn in qs.items():
                rec = _time_query(spark, tracer, fn, d, name)
                records.append(
                    {"variant": variant, "pass": pass_no, "query": name, **rec}
                )
                print(variant, pass_no, name, rec, file=sys.stderr, flush=True)
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    # best-of-N (default 2) at the primary SF: this host's co-tenancy
    # noise swings individual queries 1.5-2.5× between back-to-back
    # identical runs (BASELINE.md round-3 variance band — three
    # same-code suite runs totaled 123/156/138 s). Min-per-query is the
    # standard de-noising estimator for a cold external disturbance;
    # every pass's raw record is kept in `raw` for transparency.
    # Variants interleave inside each pass so host-window drift hits
    # them all equally.
    calib_before = _host_calibration()
    disk_before = _disk_calibration()
    for p in range(args.passes):
        for variant, confs in args.variants:
            run_suite(sf_dir, p, variant, confs)
    by_variant = {
        v: _summarize([r for r in records if r["variant"] == v])
        for v, _ in args.variants
    }
    first = by_variant[args.variants[0][0]]
    sc = spark.sparkContext
    result = {
        "metric": "total_query_wall_time",
        "unit": "sec",
        "sf": _sf_of(sf_dir),
        # parallelism contract (VERDICT r8 item 2): `cpus` is what
        # get_spark put in the master URL, `default_parallelism` what
        # the live context resolved; a divergence is itself diagnostic
        "cpus": _master_cpus(sc.master),
        "default_parallelism": sc.defaultParallelism,
        **first,
    }
    if len(args.variants) > 1:
        result["variants"] = {
            v: {"confs": confs, **by_variant[v]} for v, confs in args.variants
        }
    sec_dir = os.environ.get(
        "SPARK_GRAFT_SECONDARY_SF_DIR", "/root/testdata/sf0.01"
    )
    if sec_dir and os.path.isdir(sec_dir) and sec_dir != sf_dir:
        n_primary = len(records)
        run_suite(sec_dir, 0, "secondary", {})
        result["secondary"] = {"sf": _sf_of(sec_dir), **_summarize(records[n_primary:])}
    # cumulative over the run: whether materialize's checkpoint
    # compaction engaged at these sizes
    result["compaction_stats"] = dict(plans.compaction_stats)
    # [before-suite, after-suite] probes: code-independent host-speed
    # anchors for cross-window comparisons (docstrings above)
    result["host_calib_sec"] = [calib_before, _host_calibration()]
    result["host_disk_mbps"] = [disk_before, _disk_calibration()]
    result["raw"] = records
    # full-fidelity record → sidecar file; the stdout line must fit the
    # driver's 2000-char tail window (module docstring)
    full_path = Path(__file__).resolve().parent / _sidecar_name(
        args.queries, result["sf"]
    )
    full_path.write_text(json.dumps(result, indent=1) + "\n")
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "queries": {q: round(t, 1) for q, t in result["queries"].items()},
        "sf": result["sf"],
        "detail": full_path.name,
        # low- and high-core runs must be
        # distinguishable from BENCH_r{N}.json alone (VERDICT r8 item 2)
        "cpus": result["cpus"],
        "default_parallelism": result["default_parallelism"],
    }
    if "failures" in result:
        # identity of failed queries must survive even in the compact
        # line; messages live in the sidecar
        compact["failed"] = sorted(result["failures"])
    # a query that breaks solely at the correctness SF must be visible
    # in BENCH_r{N}.json (VERDICT r7 item 5)
    if "secondary" in result:
        compact["secondary_value"] = result["secondary"]["value"]
        if result["secondary"].get("failures"):
            compact["secondary_failed"] = sorted(
                result["secondary"]["failures"]
            )
    # 1900 = 2000-char driver tail minus newline + margin for any
    # stray line the JVM emits after us; degrade logic in _fit_tail
    return _fit_tail(compact)


if __name__ == "__main__":
    main()
