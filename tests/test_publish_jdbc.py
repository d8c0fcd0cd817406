"""JDBC serving-parity export (operators/publish.py export_jdbc).

The reference's published store is a SQLite FILE served over SQL
(propius/data.py:44-87); the Spark-native store is parquet, with
export_jdbc as the drop-in-RDBMS bridge. No sqlite-jdbc jar ships in
this container, but Apache Derby (Spark's embedded metastore DB) is on
the classpath — an embedded file-backed JDBC store with the same
serving role, so the export path is exercised end-to-end: publish →
export_jdbc → spark.read.jdbc must round-trip both tables exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from propius_spark.operators import publish_model
from propius_spark.operators.publish import export_jdbc
from propius_spark.session import clear_materialized

OCC_ROWS = [
    (1, 1), (1, 2), (2, 1), (2, 3), (3, 2), (3, 3), (4, 1), (4, 2), (4, 3),
    (5, 2), (5, 4), (6, 4), (6, 1),
]
DIM_ROWS = [(0, "alpha"), (1, "beta"), (2, "gamma"), (3, "delta")]


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_export_jdbc_roundtrip_matches_parquet_store(spark, tmp_path):
    occ = spark.createDataFrame(OCC_ROWS, "reference_id long, item_id long")
    dim = spark.createDataFrame(DIM_ROWS, "id long, title string")

    # n_buckets exercises the advice-flagged bug: publish_model's return
    # value carries the non-path metadata entry n_buckets, which
    # export_jdbc must skip rather than spark.read.parquet(4)
    paths = publish_model(
        occ, dim, str(tmp_path / "model"), k_sigma=0.0, n_buckets=4
    )
    url = f"jdbc:derby:{tmp_path}/servedb;create=true"
    export_jdbc(
        spark, paths, url, driver="org.apache.derby.iapi.jdbc.AutoloadedDriver"
    )

    for table, cols in (
        ("similar_items", ["item_a_id", "item_b_id", "scaled_score"]),
        ("correlated_items", ["id", "key", "human_label"]),
    ):
        served = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .load()
        )
        stored = spark.read.parquet(paths[table])
        assert _sorted_rows(served, cols) == _sorted_rows(stored, cols)
        assert len(_sorted_rows(served, cols)) > 0
        # the exported table carries EXACTLY the reference DDL's
        # columns — the bucketed store's internal bucket layout
        # column must not leak into the JDBC schema
        assert sorted(served.columns) == sorted(cols)

    # serving query parity: top-k for one item from the JDBC store
    # equals the same query on the parquet store
    topk_jdbc = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "similar_items")
        .load()
        .filter(F.col("item_a_id") == 0)
        .orderBy(F.col("scaled_score").desc(), "item_b_id")
        .limit(5)
    )
    topk_pq = (
        spark.read.parquet(paths["similar_items"])
        .filter(F.col("item_a_id") == 0)
        .orderBy(F.col("scaled_score").desc(), "item_b_id")
        .limit(5)
    )
    cols = ["item_a_id", "item_b_id", "scaled_score"]
    assert _sorted_rows(topk_jdbc, cols) == _sorted_rows(topk_pq, cols)
    clear_materialized(spark)


def test_correlated_items_keeps_all_null_titles(spark):
    """SQLite's UNIQUE index treats NULLs as mutually distinct — the
    reference inserts every NULL-titled row, so the dim dedup must not
    collapse them to one."""
    from propius_spark.operators.publish import correlated_items

    d = spark.createDataFrame(
        [(1, None), (2, None), (3, "x"), (4, "x")],
        "id long, title string",
    )
    rows = sorted(r.id for r in correlated_items(d).collect())
    assert rows == [1, 2, 3]  # both NULLs kept; 'x' deduped to min id
