"""Interleaved per-query A/B timer (the round-8 protocol): alternate
variant passes within ONE session so host-window drift hits both
variants equally, timing each query with the noop sink (guide §1.4).

Variants are SQL-conf dicts (runtime-settable confs only — core
confs like spark.io.compression.codec need separate JVMs; use
ab_sessions mode for those via --sessions). Rows are NOT compared
here — run scripts/verify_driver.py for correctness; this script only
times.

Usage:
  python scripts/ab_queries.py --queries q1,q2 --passes 3 \
      --variant base= \
      --variant zstd=spark.sql.parquet.compression.codec=zstd
  # --sessions: each pass×variant gets its OWN SparkSession (core confs
  # allowed), still interleaved A/B/A/B.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
Prints per-pass timings and a min-per-query summary JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def parse_args(argv: list[str]):
    queries: list[str] = []
    variants: list[tuple[str, dict[str, str]]] = []
    passes = 3
    sessions = False
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--queries":
            queries = argv[i + 1].split(",")
            i += 2
        elif a == "--passes":
            passes = int(argv[i + 1])
            i += 2
        elif a == "--variant":
            name, _, confstr = argv[i + 1].partition("=")
            confs: dict[str, str] = {}
            if confstr:
                for kv in confstr.split(";"):
                    k, _, v = kv.partition("=")
                    confs[k] = v
            variants.append((name, confs))
            i += 2
        elif a == "--sessions":
            sessions = True
            i += 1
        else:
            raise SystemExit(f"unknown arg {a}")
    if not queries or not variants:
        raise SystemExit("need --queries and at least one --variant")
    return queries, variants, passes, sessions


def main() -> None:
    queries, variants, passes, sessions = parse_args(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from propius_spark.session import clear_materialized, get_spark

    qs = entrymod.queries()
    unknown = set(queries) - set(qs)
    if unknown:
        raise SystemExit(f"unknown queries {sorted(unknown)}")

    results: dict[str, dict[str, list[float]]] = {
        v: {q: [] for q in queries} for v, _ in variants
    }

    def run_pass(spark, vname: str, confs: dict[str, str]) -> None:
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            for q in queries:
                spark.sparkContext.setJobDescription(f"ab:{vname}:{q}")
                t0 = time.perf_counter()
                qs[q](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                dt = round(time.perf_counter() - t0, 3)
                results[vname][q].append(dt)
                print(f"  {vname:12s} {q:28s} {dt:7.3f}", flush=True)
                clear_materialized(spark)
                spark.sparkContext._jvm.System.gc()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    if sessions:
        # one JVM per (pass, variant), interleaved: core confs apply.
        # get_spark caches via getOrCreate, so build sessions directly.
        from pyspark.sql import SparkSession

        for p in range(passes):
            for vname, confs in variants:
                b = (
                    SparkSession.builder.master(f"local[{cpus}]")
                    .appName(f"ab_{vname}")
                    .config("spark.sql.shuffle.partitions", str(cpus))
                    .config("spark.sql.adaptive.enabled", "true")
                    .config(
                        "spark.sql.adaptive.coalescePartitions.enabled",
                        "true",
                    )
                    .config("spark.sql.adaptive.skewJoin.enabled", "true")
                    .config("spark.sql.session.timeZone", "UTC")
                    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
                    .config(
                        "spark.sql.execution.arrow.pyspark.enabled", "true"
                    )
                    .config(
                        "spark.cleaner.referenceTracking.cleanCheckpoints",
                        "true",
                    )
                    .config(
                        "spark.driver.memory",
                        os.environ.get("PROPIUS_DRIVER_MEM", "24g"),
                    )
                    .config("spark.ui.enabled", "false")
                )
                for k, v in confs.items():
                    b = b.config(k, v)
                spark = b.getOrCreate()
                spark.sparkContext.setLogLevel("ERROR")
                print(f"pass {p} variant {vname} (fresh session)")
                try:
                    run_pass(spark, vname, {})
                finally:
                    spark.stop()
    else:
        spark = get_spark("ab_queries", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        # warm the JVM once (codegen/parquet/shuffle), untimed
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
            "l_returnflag"
        ).count().write.mode("overwrite").format("noop").save()
        try:
            for p in range(passes):
                print(f"pass {p}")
                for vname, confs in variants:
                    run_pass(spark, vname, confs)
        finally:
            spark.stop()

    summary = {
        v: {q: min(ts) for q, ts in qd.items() if ts}
        for v, qd in results.items()
    }
    for v, qd in summary.items():
        summary[v]["__total__"] = round(sum(qd.values()), 3)
    print(json.dumps({"sf_dir": sf_dir, "min": summary, "raw": results}))


if __name__ == "__main__":
    main()
