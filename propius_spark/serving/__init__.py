"""Serving reads over the published model tables.

Each function mirrors one reference serving query (propius/data.py) as
a 3–10-line DataFrame expression over the `similar_items` /
`correlated_items` tables. The dim side broadcasts (Catalyst picks it
under the autoBroadcastJoinThreshold; we hint anyway since the dim is
item-cardinality by construction). For parity the same queries are
expressible as `spark.sql` over registered views — see
__spark_entry__.py's oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def register_model_views(
    spark: SparkSession, paths: dict[str, str]
) -> None:
    """Register the published model tables as temp views so every
    serving query is also reachable as plain `spark.sql(...)` — the
    SQL twin surface of SURVEY.md §3.3 (the reference's serving SQL
    ran against SQLite; here the same statements run on the parquet
    store through Catalyst). `paths` is publish_model's return value;
    non-path entries (n_buckets) are ignored."""
    from ..schemas import SIMILAR_ITEMS

    for table in ("similar_items", "correlated_items"):
        if table in paths:
            df = spark.read.parquet(paths[table])
            if table == "similar_items":
                # the SQL-twin view carries the reference's 3-column
                # shape; a bucketed store's internal bucket column
                # must not leak into `SELECT *`
                df = df.select(*[f.name for f in SIMILAR_ITEMS.fields])
            df.createOrReplaceTempView(table)


def retrieve_similar_items(
    similar_items: DataFrame,
    correlated_items: DataFrame,
    item_id: int,
    limit: int | None = None,
    n_buckets: int = 0,
) -> DataFrame:
    """Neighbors of one item, enriched with names, by score descending
    (propius/data.py:217-250). Plans as a broadcast hash join + a
    distributed top-k (TakeOrderedAndProject) when limit is set.

    When the table was published with ``publish_model(n_buckets=n)``,
    pass the same n: the added ``bucket == item_id % n`` predicate is a
    partition filter, so the scan prunes to 1/n of the files — the
    Spark analogue of the reference's B-tree index lookup
    (propius/data.py:66-70).

    Ties broken by item_b_id so results are deterministic (the
    reference's bare ORDER BY is tie-nondeterministic).

    Missing-dim posture — the two serving twins deliberately DIFFER:
    this parity op replicates the reference exactly (data.py:233-247:
    join, THEN order+limit), so a neighbor absent from
    `correlated_items` lets the next-ranked named neighbor into the
    answer — the right call for a store whose dim is name-deduped by
    publication (publish_model keeps min-id-per-name): the served
    top-k is "the k best neighbors that HAVE names", matching what the
    reference's SQL returns on the same store. The beyond-reference
    batch op (`retrieve_similar_batch`) instead ranks on the fact
    table first, so a missing dim row is a GAP — rank stability across
    dim refreshes matters more for bulk exports. Pick the twin whose
    posture the caller needs.
    """
    src = similar_items
    if n_buckets > 0:
        src = src.filter(F.col("bucket") == item_id % n_buckets)
    out = (
        src.filter(F.col("item_a_id") == item_id)
        .join(F.broadcast(correlated_items), F.col("item_b_id") == F.col("id"), "inner")
        .select("item_b_id", F.col("key").alias("item_name"), "scaled_score")
        .orderBy(F.desc("scaled_score"), F.asc("item_b_id"))
    )
    # `is not None`, not truthiness: limit=0 must return 0 rows
    return out.limit(limit) if limit is not None else out


def get_item_info(correlated_items: DataFrame, item_id: int) -> DataFrame:
    """Point lookup (propius/data.py:253-278). `.first()` at the API
    edge gives the reference's dict-or-None."""
    return correlated_items.filter(F.col("id") == item_id).select("id", "key", "human_label")


def search_items_by_name(correlated_items: DataFrame, term: str, limit: int = 10) -> DataFrame:
    """Case-insensitive substring search on key/human_label
    (propius/data.py:281-313). The fold is ASCII-ONLY — exactly the
    reference's semantics (SQLite LIKE folds A-Z and nothing else) and
    the only fold that is engine-portable: full lower() is
    context-aware on the JVM ('İ' → 'i' + combining dot) but 1:1 in
    DuckDB's utf8proc ('İ' → 'i'), so 'WİDGET' matches '%widget%' on
    one engine and not the other (fuzz-parity find). The search term
    is passed as a literal (no pattern assembly/injection, unlike
    data.py:305's f-string).
    """
    from ..functions.text import ASCII_FOLD_TABLE, ascii_lower

    # fold the term with the SAME ASCII-only mapping (str.lower() on a
    # non-ASCII term would fold what the column side does not)
    t = term.translate(ASCII_FOLD_TABLE)
    return (
        correlated_items.filter(
            ascii_lower(F.col("key")).contains(F.lit(t))
            | ascii_lower(F.col("human_label")).contains(F.lit(t))
        )
        .select("id", "key", "human_label")
        .orderBy(F.asc("key"), F.asc("id"))
        .limit(limit)
    )


def get_database_stats(similar_items: DataFrame, correlated_items: DataFrame) -> DataFrame:
    """1-row stats (propius/data.py:316-359): item count, similarity
    count, avg similarities per item rounded to 2 dp with 0 for NULL.

    ONE fact-table scan: total_similarities = Σ of the per-item group
    counts, so the same groupBy feeds both outputs (the naive
    two-aggregate form scanned the store twice, plan-audited)."""
    items = correlated_items.agg(F.count(F.lit(1)).alias("total_items"))
    fact = (
        similar_items.groupBy("item_a_id")
        .agg(F.count(F.lit(1)).alias("similarity_count"))
        .agg(
            F.coalesce(F.sum("similarity_count"), F.lit(0)).alias(
                "total_similarities"
            ),
            F.coalesce(F.round(F.avg("similarity_count"), 2), F.lit(0.0)).alias(
                "avg_similarities_per_item"
            ),
        )
    )
    return items.crossJoin(fact).select(
        "total_items", "total_similarities", "avg_similarities_per_item"
    )


def retrieve_similar_batch(
    similar_items: DataFrame,
    correlated_items: DataFrame,
    item_ids: list[int],
    k: int = 10,
    n_buckets: int = 0,
) -> DataFrame:
    """Bulk retrieval: top-k neighbors for EVERY item in `item_ids` in
    one pass — (item_a_id, item_b_id, item_name, scaled_score, rn).
    The batch twin of `retrieve_similar_items` (N point calls would
    scan the store N times); the per-item top-k is a rank window over
    only the IN-list survivors, never the full store.

    With a bucketed store, the IN-list's bucket set prunes partitions
    the same way the single-item path does (buckets = {id mod n}).
    """
    from pyspark.sql.window import Window

    src = similar_items
    if n_buckets > 0:
        buckets = sorted({i % n_buckets for i in item_ids})
        src = src.filter(F.col("bucket").isin(buckets))
    w = Window.partitionBy("item_a_id").orderBy(
        F.desc("scaled_score"), F.asc("item_b_id")
    )
    # rank BEFORE the dim join: top-k is a property of the fact table;
    # a neighbor missing from the dim produces a gap, never promotes a
    # lower neighbor (the POINT twin deliberately takes the opposite,
    # reference-parity posture — see retrieve_similar_items' docstring)
    topk = (
        src.filter(F.col("item_a_id").isin(list(item_ids)))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )
    return topk.join(
        F.broadcast(correlated_items),
        F.col("item_b_id") == F.col("id"),
        "inner",
    ).select(
        "item_a_id",
        "item_b_id",
        F.col("key").alias("item_name"),
        "scaled_score",
        "rn",
    )
