"""Suite-wide physical-plan audit: scan / exchange / Python-eval /
lambda counts for every declared query (the round-3 practice recorded in
.claude/skills/verify/SKILL.md, as a runnable artifact).

For each `queries()` entry, builds the DataFrame at $PROPIUS_ORACLE_SF_DIR
(default sf0.001 — plan SHAPE is scale-invariant, so the smallest
fixture is enough) and counts nodes — the `(n) Name` detail headers —
in the formatted physical plan:

  scans     `Scan parquet` nodes — more scans of one table than the
            query has logical inputs means a shared subtree replays
            per consumer (fix: plans.materialize / persist_big)
  exch      `Exchange` nodes — each is a shuffle
  python    ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
            BatchEvalPython nodes — Python-worker stages; parity paths
            must stay at 0 (pinned by tests/test_plans.py)
  lambda    `lambdafunction(` occurrences in the numbered nodes'
            detail blocks, each node number read once — higher-order
            functions (transform, filter, aggregate, …) are evaluated
            element by element outside whole-stage codegen

Prints one line per query plus a trailing JSON summary; `--dump DIR`
also writes each query's formatted plan to DIR/<query>.txt (the
before/after evidence files under plans/). Queries whose
plan count changed since the committed snapshot deserve a look, not
necessarily a revert — the point is that plan regressions surface in
review instead of in BENCH_r{N}.json.

Note: queries that EXECUTE work at plan-build time (publish_retrieve
writes its store; materialize() runs eager jobs) are measured on the
plan of the RETURNED DataFrame — build-time side jobs aren't visible
here, so their counts understate total work. BENCH covers those.

LAZY-cached subtrees (plans.persist_big) are reprinted under every
consuming InMemoryTableScan in the formatted tree but carry one node
number, so they count once — dedup_minhash_lsh shows 2 scans / 8
exchanges and executes the shingle/signature subtree once. Read counts
as relative plan-shape signals, compare like with like, and confirm a
suspected replay with the Spark UI / BENCH before "fixing" it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("PROPIUS_ORACLE_SF_DIR", "/root/testdata/sf0.001")

# note: applyInPandasWithState prints FlatMapGroupsInPandasWithState —
# the plain FlatMapGroupsInPandas alternative prefix-matches it, and
# the explicit spelling keeps the count correct if the regex is ever
# anchored or reordered
PY_NODES = re.compile(
    r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandasWithState"
    r"|FlatMapGroupsInPandas|BatchEvalPython"
)


def main() -> int:
    import __spark_entry__ as entrymod
    from propius_spark.session import clear_materialized, get_spark

    p = argparse.ArgumentParser(description="Count plan nodes per query.")
    p.add_argument("queries", nargs="*", help="default: all")
    p.add_argument("--dump", type=Path, metavar="DIR")
    args = p.parse_args()
    only = set(args.queries)
    unknown = only - set(entrymod.queries())
    if unknown:
        # a typo'd name must not produce an empty "no regressions"
        # audit that exits 0
        raise SystemExit(f"plan_audit: unknown queries {sorted(unknown)}")
    if args.dump:
        args.dump.mkdir(parents=True, exist_ok=True)
    spark = get_spark("plan_audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict[str, int]] = {}
    failed: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            if args.dump:
                (args.dump / f"{name}.txt").write_text(plan)
            # formatted explain prints each node twice — once in the
            # tree, once as its `(n) Name` detail header — so count the
            # headers only
            heads = "\n".join(re.findall(r"^\(\d+\) .*$", plan, re.M))
            # detail blocks keyed by node number, so a node is read once
            blocks = dict(re.findall(r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S))
            counts = {
                "scans": len(re.findall(r"Scan parquet", heads)),
                "exch": len(re.findall(r"\bExchange\b", heads)),
                "python": len(PY_NODES.findall(heads)),
                "lambda": sum(b.count("lambdafunction(") for b in blocks.values()),
            }
            out[name] = counts
            print(
                f"{name:32s} scans={counts['scans']:2d} "
                f"exch={counts['exch']:2d} python={counts['python']} "
                f"lambda={counts['lambda']}"
            )
        except Exception as e:  # noqa: BLE001 — audit keeps going
            failed[name] = f"{type(e).__name__}: {e}"
            print(f"{name:32s} FAILED {failed[name]}")
        clear_materialized(spark)
    print(json.dumps({"sf_dir": SF_DIR, "plans": out, "failed": failed}))
    spark.stop()
    # nonzero when any query failed to even build its plan — an audit
    # with missing rows must not read as green to a pre-commit routine
    # that checks the exit status (same posture as the unknown-name
    # SystemExit above)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
