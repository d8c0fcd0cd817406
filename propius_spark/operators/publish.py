"""Model publication: the reference's SQLite store as Spark tables.

Replaces `store_similarities_in_database` (propius/data.py:19-41):
DROP/CREATE + per-item N+1 insert loop becomes two overwrite-mode
parquet writes (or JDBC, for drop-in serving parity with any RDBMS).
The reference's unique indexes (propius/data.py:66-70, 81-85) are
enforced by construction: the dim dedups keys deterministically
(min id per key); the fact table is born unique per (item_a_id,
item_b_id) — see publish_model for the proof sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import require_columns
from .cells import build_cells
from .similarity import similar_items_exact


def correlated_items(dictionary: DataFrame) -> DataFrame:
    """Dim table (id, key, human_label). The reference inserts the
    dictionary's positional index as id and the title as key, leaving
    human_label NULL (propius/data.py:102-110). The reference uses
    plain INSERTs against a UNIQUE index on key (data.py:110), so a
    duplicate title raises IntegrityError and aborts its publish; here
    the SMALLEST id per key survives instead — a deliberate strictness
    relaxation, not parity, chosen deterministic (plain dropDuplicates
    keeps an arbitrary row per key, so two publishes of the same
    dictionary could serve different ids). NULL titles are
    all kept: SQLite's UNIQUE index treats NULLs as mutually distinct
    (the reference inserts every NULL-titled row), and a partitionBy
    window would instead group them together and silently drop all but
    one item from the store."""
    from pyspark.sql.window import Window

    require_columns(dictionary, ["id", "title"], "correlated_items")
    w = Window.partitionBy("key").orderBy(F.asc("id"))
    return (
        dictionary.select(
            F.col("id").cast("long").alias("id"),
            F.col("title").alias("key"),
            F.lit(None).cast("string").alias("human_label"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("key").isNull() | (F.col("__rn") == 1))
        .drop("__rn")
    )


def shape_similar_items(sims: DataFrame) -> DataFrame:
    """Cast/alias the exact-similarity output into the published
    `similar_items` schema — ONE definition shared by the batch
    publisher and the streaming model refresh (the published schema is
    a contract; a drift between the two writers would corrupt the
    serving surface silently)."""
    return sims.select(
        F.col("item_a").cast("long").alias("item_a_id"),
        F.col("item_b").cast("long").alias("item_b_id"),
        F.col("scaled_score").cast("double").alias("scaled_score"),
    )


def publish_model(
    occurrences: DataFrame,
    dictionary: DataFrame,
    out_dir: str,
    k_sigma: float = 2.0,
    n_buckets: int = 0,
    min_dim_coverage: float = 0.0,
) -> dict[str, str]:
    """End-to-end: occurrences → exact similar_items + correlated_items
    parquet tables under `out_dir`. One distributed job per table — the
    reference's I-iteration loop (propius/data.py:130-149) is gone.

    Steps, in order: (1) probe the dictionary's dim coverage; (2) raise
    below ``min_dim_coverage``, before any write; (3) write the fact
    table; (4) write the dim; (5) warn below 50% coverage. A failed
    fact write leaves no dim.

    With ``n_buckets > 0`` the fact table is hive-partitioned by
    ``bucket = item_a_id % n_buckets`` — the role of the reference's
    B-tree index on (item_a_id, item_b_id) (propius/data.py:81-85):
    a point lookup that filters on the bucket touches 1/n_buckets of
    the files (partition pruning), so serving latency is independent
    of total model size. The write is one task and one file per
    bucket; size n_buckets so one bucket ≈ one HDFS block (~128 MB) at
    the target scale.

    ``min_dim_coverage``: loud-failure guard on a silently name-starved
    store (SCALE.md §8a finding 2: the sf1.0 replica's 64-names-per-20k
    dim kept 640 of 200k items after the min-id-per-key dedup, and the
    named-neighbor serving join then correctly — but SILENTLY — served
    0 rows). Coverage = dim rows surviving the dedup / dictionary rows
    (NULL titles count as survivors — they are all kept, see
    correlated_items). Below 50% a ``UserWarning`` is always emitted
    (the publish still completes — degenerate names are a data
    property, not an error); below ``min_dim_coverage`` the publish
    raises BEFORE writing anything. The probe is one aggregate job
    over the item-cardinality dictionary — noise next to the fact
    write.
    """
    stats = dictionary.select(
        F.count(F.lit(1)).alias("rows"),
        F.count("title").alias("named"),
        F.count_distinct("title").alias("names"),
    ).first()
    dim_coverage = 1.0
    if stats["rows"]:
        survivors = stats["names"] + (stats["rows"] - stats["named"])
        dim_coverage = survivors / stats["rows"]
    if dim_coverage < min_dim_coverage:
        raise ValueError(
            f"publish_model: dim coverage {dim_coverage:.4f} < required "
            f"{min_dim_coverage} — the min-id-per-key dedup keeps only "
            f"{stats['names']} of {stats['named']} named dictionary rows "
            "(duplicate titles); name-filtered serving over this store "
            "would drop most items' neighbors. Publish aborted before "
            "any write."
        )

    # the reference's UNIQUE(item_a_id, item_b_id) index holds here BY
    # CONSTRUCTION, no dedup shuffle needed: similar_items_exact's
    # co-occurring branch is keyed by the Gram groupBy (one row per
    # pair), its non-co-occurring branch anti-joins the Gram pairs
    # (disjoint) and emits each (cuts-item × stats-item) pair at most
    # once. Pinned by test_correlation::test_publish_unique_keys.
    sims = shape_similar_items(
        similar_items_exact(build_cells(occurrences), k_sigma=k_sigma)
    )
    sims_path = f"{out_dir}/similar_items"
    dim_path = f"{out_dir}/correlated_items"
    if n_buckets > 0:
        # repartition by the partition column first: one write task per
        # bucket, so one file per bucket (not tasks×buckets small files)
        (
            sims.withColumn("bucket", F.pmod(F.col("item_a_id"), F.lit(n_buckets)))
            .repartition(n_buckets, "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(sims_path)
        )
    else:
        sims.write.mode("overwrite").parquet(sims_path)
    correlated_items(dictionary).write.mode("overwrite").parquet(dim_path)

    if dim_coverage < 0.5:
        import warnings

        warnings.warn(
            f"publish_model: only {dim_coverage:.1%} of dictionary rows "
            "survive the unique-key dedup (duplicate titles); "
            "name-filtered retrieval over this store may return few or "
            "0 rows (see SCALE.md §8a). Consider the rank-first "
            "retrieve_similar_batch posture for serving.",
            UserWarning,
            stacklevel=2,
        )
    return {
        "similar_items": sims_path,
        "correlated_items": dim_path,
        "n_buckets": n_buckets,
        # non-str metadata: export_jdbc skips it by type (see below)
        "dim_coverage": dim_coverage,
    }


def export_jdbc(spark: SparkSession, paths: dict[str, str], url: str, **options) -> None:
    """Optional serving-parity export of the published tables to any
    JDBC store (the reference's SQLite role). Batched inserts replace
    the reference's executemany generators (propius/data.py:199-212).

    Accepts publish_model's return value directly: non-path metadata
    entries (n_buckets and any future ints/flags) are skipped; every
    string-valued entry is treated as a parquet path and exported under
    its key as the table name."""
    from ..schemas import SIMILAR_ITEMS

    for table, path in paths.items():
        if not isinstance(path, str):
            continue
        df = spark.read.parquet(path)
        if table == "similar_items":
            # strip the internal bucket layout column: the JDBC
            # table must match the reference's 3-column DDL exactly
            # (a bucketed store otherwise exported a 4-column table)
            df = df.select(*[f.name for f in SIMILAR_ITEMS.fields])
        (
            df.write.mode("overwrite")
            .format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .options(**options)
            .save()
        )
