"""Seeded benchmark of the propius_spark engine: model build and
near-duplicate resolution, measured from outside through the engine's
public functions in one Spark session sized to the host.

    python3 perfbench/run.py --workload build_skewed --seed 1 --seconds 15 --trace 0

Each run generates its workload's inputs from the seed, sets up (the
median of several input preparations, then untimed warm-up calls),
runs the workload's unit operation in a closed loop, one client and no
think time, until ``--seconds`` have passed, checks every timed result
against a NumPy/pandas reference, and prints a report line (input
properties, settings, host canaries, every op's wall and CPU time)
followed, last, by the result line ``{"correct", "attempted", "failed",
"metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``op_cpu_s`` is the median
CPU time of one op over the whole process tree (Python driver, JVM,
Python workers), less the JIT compiler threads and less the share of
it that the hypervisor stole from the vCPUs: on a shared host, steal
moves wall time far more than that. Wall times are in the report line. ``--trace 1`` runs each
layer under its own Spark job group and reports the per-layer metrics
instead; on ``build_skewed`` that includes a 20-op Zipf serving burst
per cycle against the store published in set-up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback
from pathlib import Path
from time import perf_counter

import numpy as np

import checks
import gen
import host
from tracing import SPAN_FIELDS, Tracer

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# host-fit settings, pinned: every core, a driver heap that fits a
# small shared host, and no inherited engine knobs
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
N_BUCKETS = 4
K_SIGMA = 2.0
CHECK_SAMPLE = 24
# set-up prepares the inputs this many times and counts the median
PREPARE_REPEATS = 3
# JVM settings that make one op cost the same CPU time in every run:
# - The JIT stops at C1. With C2, each op keeps a compiler thread busy
#   for more than half its wall time, and each JVM settles on its own C2
#   code: the same build took 8.2 to 10.9 CPU seconds in four runs with
#   under 2% steal. C1 code is the same in every run from the second op.
# - The compiler threads live as long as the JVM, so the CPU time they
#   use can be told apart from the op's own (host.tree_jit_cpu_s).
# - The serial collector on a heap of fixed size. G1 sizes its heap and
#   starts concurrent marking by its own timing: its marking threads
#   took 0.3 CPU seconds in one window of three builds and 3.0 in
#   another.
JVM_OPTS = (
    "-XX:TieredStopAtLevel=1", "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:+UseSerialGC", f"-Xms{DRIVER_MEM}",
)

# a build costs about six seconds of per-job floor at any size up to
# this one, so the log is a fraction of the sf0.1-scale shape
SKEWED_LOG = {"n_items": 1000, "n_ctx": 8000}
DEDUP_CORPUS = {"n_docs": 4000, "chain_docs": 2000}
SHINGLE_K, JACCARD_TAU = 3, 0.5
OP_KINDS = tuple(k for k, _ in gen.OP_MIX)

SPANS = (
    "cells", "correlation.stats", "correlation.gram", "correlation.neighbor_stats",
    "similarity.exact", "publish.model", *(f"serving.{k}" for k in OP_KINDS),
    "dedup.pairs", "dedup.clusters",
)
DERIVED = (
    "correlation.gram.pairs_per_cell", "similarity.cut_self_s", "similarity.kept_ratio",
    "publish.write_self_s", "publish.bytes_per_row", "serving.point.rows_scanned_per_row",
    "dedup.verified_ratio", "plans.compaction_engaged", "plans.compaction_skipped",
    "session.clear_s", "trace.overhead_s",
)
UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "driver_gap_s": "s",
    "correlation.gram.pairs_per_cell": "ratio", "similarity.cut_self_s": "s",
    "similarity.kept_ratio": "ratio", "publish.write_self_s": "s",
    "publish.bytes_per_row": "B/row", "serving.point.rows_scanned_per_row": "ratio",
    "dedup.verified_ratio": "ratio", "plans.compaction_engaged": "count",
    "plans.compaction_skipped": "count", "session.clear_s": "s", "trace.overhead_s": "s",
    "setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def _call(fn, *args):
    try:
        return fn(*args)
    except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
        traceback.print_exc()
        return None


class Workload:
    """One workload: inputs from the seed, a unit operation, its check,
    and one traced cycle. Subclasses fill in the engine calls."""

    warm_up_ops = 2

    def __init__(self, seed: int):
        self.spark = None
        self.rss = None  # the run's host.RssSampler
        self.seed = seed
        self.outs: list = []
        self.derived: dict[str, list[float]] = {}
        self.report: dict = {}

    def prepare(self, dest: Path) -> None:
        """Generate this workload's inputs from the seed into ``dest``."""
        raise NotImplementedError

    def input_props(self) -> dict:
        raise NotImplementedError

    def warm_up(self) -> list[float]:
        """Untimed unit ops before the window. The first is cold (class
        loading, code generation, most of the JIT compilation); the
        second is still a little slower than the ones after it."""
        times = []
        for i in range(self.warm_up_ops):
            t = perf_counter()
            self.outs.append(_call(self.op, f"warm_up_{i}"))
            times.append(perf_counter() - t)
            self.isolate()
        return times

    def op(self, name: str):
        """One timed unit operation; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self) -> list[bool]:
        """One verdict per output in ``self.outs`` (None: the call failed)."""
        raise NotImplementedError

    def traced_cycle(self, tracer: Tracer, i: int) -> None:
        """One untraced unit op, then the workload's layers as spans."""
        raise NotImplementedError

    def isolate(self) -> None:
        """Untimed, between ops: release materialized tables, run GC."""
        from propius_spark.session import clear_materialized

        clear_materialized(self.spark)
        self.spark.sparkContext._jvm.System.gc()

    def note(self, key: str, value: float) -> None:
        self.derived.setdefault(key, []).append(float(value))

    def prepare_all(self) -> list[float]:
        """Input preparation, timed PREPARE_REPEATS times."""
        dest = WORK / "inputs"
        dest.mkdir(exist_ok=True)
        prep = []
        for _ in range(PREPARE_REPEATS):
            t = perf_counter()
            self.prepare(dest)
            prep.append(perf_counter() - t)
        self.report["inputs"] = self.input_props()
        return prep

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far by the process tree (less the RSS
        sampler's own) and, of those, by its JIT compiler threads."""
        pid = os.getpid()
        return host.tree_cpu_s(pid) - self.rss.own_cpu_s(), host.tree_jit_cpu_s(pid)

    def measure(self, seconds: float) -> dict[str, list[float]]:
        """Closed loop, one client, no think time: ops start until the
        window has passed. Returns, per op: wall seconds; the CPU
        seconds of its work, JIT compilation left out and time stolen
        from its vCPUs taken out (see ``host.busy_split``); the JIT's
        CPU seconds; the host-wide busy and stolen CPU seconds."""
        ops = {k: [] for k in ("wall_s", "cpu_s", "jit_cpu_s", "host_busy_s", "host_steal_s")}
        start = perf_counter()
        while perf_counter() - start < seconds:
            t, (c, j), k = perf_counter(), self.cpu_s(), host.cpu_jiffies()
            self.outs.append(_call(self.op, f"op_{len(ops['wall_s'])}"))
            wall, (c2, j2), k2 = perf_counter() - t, self.cpu_s(), host.cpu_jiffies()
            busy, stolen = host.busy_split(k, k2)
            ops["wall_s"].append(wall)
            ops["cpu_s"].append(((c2 - c) - (j2 - j)) * busy / max(busy + stolen, 1e-9))
            ops["jit_cpu_s"].append(j2 - j)
            ops["host_busy_s"].append(busy)
            ops["host_steal_s"].append(stolen)
            self.isolate()
        return ops

    def measure_traced(self, seconds: float) -> Tracer:
        from propius_spark import plans

        tracer = Tracer(self.spark)
        before = dict(plans.compaction_stats)
        start = perf_counter()
        i = 0
        while perf_counter() - start < seconds:
            self.traced_cycle(tracer, i)
            i += 1
        for k in ("engaged", "skipped"):
            self.note(f"plans.compaction_{k}", plans.compaction_stats[k] - before[k])
        return tracer

    def per_layer(self, tracer: Tracer) -> dict[str, float]:
        spans = tracer.metrics()
        out = {
            f"{s}.{f}": float(spans.get(s, {}).get(f, 0.0)) for s in SPANS for f in SPAN_FIELDS
        }
        for k in DERIVED:
            out[k] = _median(self.derived.get(k, []))
        wall = {s: v["wall_s"] for s, v in spans.items()}
        if {"cells", "correlation.stats", "correlation.gram", "correlation.neighbor_stats",
                "similarity.exact", "publish.model"} <= wall.keys():
            out["similarity.cut_self_s"] = wall["similarity.exact"] - (
                wall["correlation.stats"] + wall["correlation.gram"]
                + wall["correlation.neighbor_stats"]
            )
            out["publish.write_self_s"] = (
                wall["publish.model"] - wall["similarity.exact"] - wall["cells"]
            )
        if "serving.point" in spans and "store_rows" in self.derived:
            out["serving.point.rows_scanned_per_row"] = (
                spans["serving.point"]["input_records"] / _median(self.derived["store_rows"])
            )
        return out


class BuildSkewed(Workload):
    """publish_model on a Zipf-popularity co-occurrence log. The traced
    run also serves Zipf lookup bursts from the store set-up publishes."""

    def prepare(self, dest: Path) -> None:
        rng = np.random.default_rng(self.seed)
        self.ctx, self.item = gen.cooc_skewed(rng, **SKEWED_LOG)
        self.log, self.dictionary = str(dest / "log.parquet"), str(dest / "dictionary.parquet")
        gen.write_parquet(gen.log_table(self.ctx, self.item), self.log)
        self.ids, deg = np.unique(self.item, return_counts=True)
        gen.write_parquet(gen.dictionary_table(rng, self.ids), self.dictionary)
        # lookups favour popular items: Zipf over ids by falling degree
        self.hot = self.ids[np.argsort(-deg, kind="stable")]

    def input_props(self) -> dict:
        return {**gen.log_props(self.ctx, self.item), "serving_burst": dict(gen.OP_MIX)}

    def burst(self, i: int) -> list[tuple[str, object]]:
        """The serving ops of traced cycle ``i``; the warm-up draws -1."""
        return gen.lookup_burst(np.random.default_rng([self.seed, 2, i + 1]), self.hot)

    def publish(self, name: str) -> str:
        from propius_spark import load_occurrences, publish_model

        out = str(WORK / "stores" / name)
        publish_model(
            load_occurrences(self.spark, self.log),
            self.spark.read.parquet(self.dictionary),
            out,
            k_sigma=K_SIGMA,
            n_buckets=N_BUCKETS,
        )
        return out

    def warm_up(self) -> list[float]:
        times = super().warm_up()
        # the first warm-up build publishes the store the traced run
        # serves from
        self.store = self.outs[0][1]
        return times

    def op(self, name: str) -> tuple:
        return ("build", self.publish(name))

    def serve(self, kind: str, arg) -> tuple:
        from propius_spark import serving

        sims, dim = self.sims, self.dim
        if kind == "point":
            df = serving.retrieve_similar_items(sims, dim, arg, limit=10, n_buckets=N_BUCKETS)
        elif kind == "batch":
            df = serving.retrieve_similar_batch(sims, dim, arg, k=10, n_buckets=N_BUCKETS)
        elif kind == "info":
            df = serving.get_item_info(dim, arg)
        elif kind == "search":
            df = serving.search_items_by_name(dim, arg, limit=10)
        else:
            df = serving.get_database_stats(sims, dim)
        return ("serve", kind, arg, [tuple(r) for r in df.collect()])

    def check(self) -> list[bool]:
        rng = np.random.default_rng([self.seed, 3])
        sample = set(rng.choice(self.ids, size=CHECK_SAMPLE, replace=False).tolist())
        sample.add(int(self.hot[0]))  # the hottest item
        expected = checks.correlation_rows(self.ctx, self.item, sorted(sample), K_SIGMA)
        ref = None
        ok = []
        for out in self.outs:
            if out is None:
                ok.append(False)
            elif out[0] == "serve":
                ref = ref or checks.StoreReference(*checks.read_store(self.store))
                ok.append(checks.serve_matches(ref, *out[1:]))
            else:
                sims, dim = checks.read_store(out[1])
                errors = checks.check_build(sims, expected)
                if len(dim) != self.ids.size or dim["key"].nunique() != self.ids.size:
                    errors.append("correlated_items does not hold one unique name per item")
                if errors:
                    print(f"check {out[1]}: {errors[:5]}", file=sys.stderr)
                ok.append(not errors)
                self.report["store_bytes_per_pair"] = (
                    _dir_bytes(f"{out[1]}/similar_items") / len(sims)
                )
        return ok

    def traced_cycle(self, tracer: Tracer, i: int) -> None:
        from propius_spark import (
            build_cells, gram, load_occurrences, neighbor_stats, similar_items_exact,
            valid_item_stats,
        )
        from propius_spark.plans import materialize

        if i == 0:
            self.sims = self.spark.read.parquet(f"{self.store}/similar_items")
            self.dim = self.spark.read.parquet(f"{self.store}/correlated_items")
            for kind, arg in dict(self.burst(-1)).items():
                self.serve(kind, arg)
        t = perf_counter()
        self.outs.append(_call(self.op, f"untraced_{i}"))
        untraced = perf_counter() - t
        self.isolate()
        with tracer.span("cells"):
            cells = materialize(build_cells(load_occurrences(self.spark, self.log)), compact=False)
        with tracer.span("correlation.stats"):
            stats = materialize(valid_item_stats(cells))
        with tracer.span("correlation.gram"):
            g = materialize(gram(cells, stats))
        with tracer.span("correlation.neighbor_stats"):
            materialize(neighbor_stats(cells, stats=stats, g=g))
        n_cells, n_gram = cells.count(), g.count()
        with tracer.span("similarity.exact"):
            similar_items_exact(cells, k_sigma=K_SIGMA).write.mode("overwrite").format("noop").save()
        t = perf_counter()
        self.isolate()
        self.note("session.clear_s", perf_counter() - t)
        t = perf_counter()
        with tracer.span("publish.model"):
            self.outs.append(_call(self.op, f"traced_{i}"))
        self.note("trace.overhead_s", perf_counter() - t - untraced)
        self.isolate()
        for kind, arg in self.burst(i):
            with tracer.span(f"serving.{kind}"):
                self.outs.append(_call(self.serve, kind, arg))
        rows = self.sims.count()
        self.note("store_rows", rows)
        self.note("correlation.gram.pairs_per_cell", n_gram / n_cells)
        self.note("similarity.kept_ratio", rows / n_gram)
        self.note("publish.bytes_per_row", _dir_bytes(f"{self.store}/similar_items") / rows)


class DedupChains(Workload):
    """jaccard_pairs → resolve_duplicates over planted near-dup chains."""

    def prepare(self, dest: Path) -> None:
        rng = np.random.default_rng(self.seed)
        table, self.chains, self.toks = gen.chain_corpus(
            rng, **DEDUP_CORPUS, k=SHINGLE_K, tau=JACCARD_TAU
        )
        self.docs = str(dest / "docs.parquet")
        gen.write_parquet(table, self.docs)

    def input_props(self) -> dict:
        self.n_cand, self.verified = gen.candidate_pairs(self.toks, SHINGLE_K, JACCARD_TAU)
        lengths = np.bincount([len(c) for c in self.chains]).tolist()
        return {
            "docs": len(self.toks),
            "chains": len(self.chains),
            "chain_length_counts": {n: c for n, c in enumerate(lengths) if c},
            "candidate_pairs": self.n_cand,
            "verified_pairs": len(self.verified),
        }

    def pairs(self, docs):
        from propius_spark import jaccard_pairs

        return jaccard_pairs(docs, k=SHINGLE_K, threshold=JACCARD_TAU)

    def resolve(self, docs, pairs) -> list[tuple]:
        from propius_spark import resolve_duplicates

        return [tuple(r) for r in resolve_duplicates(docs, pairs, pairs_unique=True).collect()]

    def op(self, name: str) -> list[tuple]:
        docs = self.spark.read.parquet(self.docs)
        return self.resolve(docs, self.pairs(docs))

    def check(self) -> list[bool]:
        expected = checks.expected_clusters(self.chains, len(self.toks))
        return [o is not None and checks.check_clusters(o, expected) for o in self.outs]

    def traced_cycle(self, tracer: Tracer, i: int) -> None:
        from propius_spark.plans import materialize

        self.outs.append(_call(self.op, f"untraced_{i}"))
        self.isolate()
        docs = self.spark.read.parquet(self.docs)
        with tracer.span("dedup.pairs"):
            pairs = materialize(self.pairs(docs))
        found = {(int(a), int(b)) for a, b, _ in pairs.collect()}
        with tracer.span("dedup.clusters"):
            self.outs.append(_call(self.resolve, docs, pairs))
        self.isolate()
        self.note("dedup.verified_ratio", len(found) / self.n_cand)
        if found != self.verified:
            self.outs.append(None)  # the pair set itself is wrong


WORKLOADS = {"build_skewed": BuildSkewed, "dedup_chains": DedupChains}


def _pin_env() -> None:
    for k in list(os.environ):
        if k.startswith(("PROPIUS_", "SPARK_GRAFT_", "PYSPARK_")):
            del os.environ[k]
    tmp = WORK / "tmp"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark")
    os.environ["PROPIUS_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} {' '.join(JVM_OPTS)}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    canaries = host.Canaries(str(ROOT), str(WORK / "canary"))
    wl = WORKLOADS[workload](seed)
    with host.RssSampler() as rss:
        wl.rss = rss
        prepare_s = wl.prepare_all()
        # the canaries overlap the JVM start before the run and the
        # result checks after it
        canaries.start()
        t0 = perf_counter()
        from pyspark import SparkContext
        from propius_spark.session import get_spark

        spark = wl.spark = get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = perf_counter() - t0
        jvm = SparkContext._gateway.proc
        canaries.wait()
        try:
            warm_up_s = wl.warm_up()
            jiffies = host.cpu_jiffies()
            if trace:
                tracer = wl.measure_traced(seconds)
            else:
                ops = wl.measure(seconds)
            peak_rss_mb = rss.peak_mb()
            steal = host.steal_share(jiffies, host.cpu_jiffies())
        finally:
            canaries.start()
            spark.stop()
            # the JVM exits when its stdin closes; wait for it
            jvm.stdin.close()
            jvm.wait(timeout=60)
    ok = wl.check()
    canaries.wait()
    report = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "settings": {
            "cpus": CPUS, "driver_mem": DRIVER_MEM, "jvm_opts": JVM_OPTS,
            "work_fs": host.filesystem(str(WORK)),
            "n_buckets": N_BUCKETS, "k_sigma": K_SIGMA,
        },
        "setup": {"session_s": session_s, "prepare_s": prepare_s, "warm_up_s": warm_up_s},
        **wl.report,
        "canaries": {
            "cpu_s": canaries.cpu_s, "disk_mbps": canaries.disk_mbps, "window_steal": steal,
        },
    }
    if trace:
        metrics = wl.per_layer(tracer)
    else:
        report["ops"] = ops
        metrics = {
            "setup_s": session_s + _median(prepare_s) + sum(warm_up_s),
            "op_cpu_s": _median(ops["cpu_s"]),
            "peak_rss_mb": peak_rss_mb,
        }
    failed = ok.count(False)
    report["error_rate"] = failed / len(ok)
    result = {"correct": failed == 0, "attempted": len(ok), "failed": failed, "metrics": metrics}
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "propius_spark" / "__init__.py").is_file():
        print(f"propius_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    _pin_env()
    sys.path.insert(0, str(ROOT))
    try:
        report, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    result["metrics"] = {
        k: {"value": v, "unit": UNITS.get(k) or UNITS[k.rsplit(".", 1)[1]]}
        for k, v in result["metrics"].items()
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
