"""Replicates the driver's CORRECTNESS gate on a DEFAULT SparkSession.

The driver builds a vanilla session (no propius_spark.session confs),
runs each queries() entry at sf0.01, and hash-compares against the
oracle_sql() twin via DuckDB. Round 1 lost 7 queries to exactly this
difference, so this script is the regression net: run it before every
round commit.

Usage: python scripts/verify_driver.py [--json OUT] [query ...]
(default: all queries). ``--json OUT`` also writes a machine-readable
per-query record. A missing OUT, an OUT that is a query name, or an
unknown query name exits 2 before Spark starts.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("PROPIUS_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _pandas_canon(cols, rows):
    """Replicate the driver's row canonicalization (pandas sort_values
    over every column → factorize) so shapes the driver cannot hash —
    array/map cells, round-2's posting_lists failure — error HERE, not
    in the per-round gate. Raises the same TypeError the driver would.
    """
    import pandas as pd

    df = pd.DataFrame(rows, columns=list(cols))
    df = df[sorted(df.columns)]
    if len(df):
        df.sort_values(by=list(df.columns), kind="mergesort")
    return df


from gate_compare import compare  # noqa: E402  (one shared definition)


def main() -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    parser = argparse.ArgumentParser(description="Full-suite oracle gate.")
    # --json OUT: the full-suite oracle pass kept per round
    # (FULLGATE_r{N}.json), so queries rotated past the driver's 50-row
    # gate window still carry round-stamped correctness evidence
    parser.add_argument("--json", metavar="OUT", help="write per-query records here")
    parser.add_argument("queries", nargs="*", metavar="query", help="default: all")
    args = parser.parse_intermixed_args()
    if args.json in qs:  # forgot the path; don't eat a query
        parser.error(f"--json needs an output path, got query name {args.json!r}")
    unknown = sorted(set(args.queries) - set(qs))
    if unknown:
        parser.error(f"unknown queries {unknown}")

    from pyspark.sql import SparkSession

    # deliberately vanilla: the ONLY confs the driver is known to set
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify_driver")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracles = entrymod.oracle_sql()
    names = args.queries or list(qs.keys())
    n_fail = 0
    record: dict[str, dict] = {}
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sql = oracles.get(name)
            if sql is None:
                print(f"{name}: ROWS-ONLY ({len(srows)} rows)")
                record[name] = {"status": "rows_only", "rows": len(srows)}
                continue
            ores = con.execute(sql)
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
            _pandas_canon(scols, srows)
            _pandas_canon(ocols, orows)
            fails = compare(name, scols, srows, ocols, orows)
            if fails:
                for f in fails:
                    print(f"FAIL {f}")
                n_fail += 1
                record[name] = {"status": "fail", "detail": fails}
            else:
                print(f"{name}: OK ({len(srows)} rows)")
                record[name] = {"status": "ok", "rows": len(srows)}
        except Exception:
            print(f"{name}: ERR\n{traceback.format_exc()}")
            n_fail += 1
            record[name] = {
                "status": "error",
                "detail": traceback.format_exc()[-600:],
            }
    print(f"\n{len(names) - n_fail}/{len(names)} green")
    if args.json:
        import json

        Path(args.json).write_text(
            json.dumps(
                {
                    "sf_dir": SF_DIR,
                    "green": len(names) - n_fail,
                    "total": len(names),
                    "queries": record,
                },
                indent=1,
            )
            + "\n"
        )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
