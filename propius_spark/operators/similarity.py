"""Similarity queries and model publication.

Replaces:
- `get_similar_items` (propius/similarity.py:133-167): one item's
  correlation column, self excluded, thresholded at mean + k·σ
  ("std_dev" method) or an absolute value, sorted descending.
- `populate_similar_items` (propius/data.py:116-149): the reference's
  per-item driver loop — for EVERY item: slice column → min-max scale →
  mean + 2σ cut → sort → 2 SQLite round-trips. Here the whole loop
  collapses into one set-oriented job over the long-form pairs.

Threshold-space note (verified in SURVEY.md §2 op-18): min-max scaling
is affine, so filtering scaled scores at mean_scaled + k·σ_scaled
selects exactly the rows that raw scores select at mean + k·σ. The
engine filters in raw space and computes the stored scaled_score from
the analytic row extremes.

Boundary-semantics DELTA vs the reference (deliberate): the
reference compares raw float corr against the raw mean + k·σ cut
(propius/similarity.py:164, a bare `>=`); this repo compares the
6-dp-ROUNDED corr against the 6-dp-ROUNDED cut, on BOTH the engine
and its DuckDB oracle twin. A pair whose corr sits within ~5e-7 of
the cut can therefore flip membership relative to the reference. The
rounding exists because the raw cut differs between engines in the
last ulp, making raw-boundary membership engine-specific; rounding
absorbs that, so parity between this engine and its oracle is exact.
A reference-conformance audit should read this as a documented
contract deviation, not a bug.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans import materialize
from .correlation import _corr_gram, _corr_inputs, _row_stats, corr_pairs


# get_similar_items broadcasts the item's context vector only up to
# this many contexts, and shuffle-joins it past that
BROADCAST_MAX_CONTEXTS = 2_000_000


def _clears(corr: Column | str = "corr") -> Column:
    """The boundary membership test of the module docstring: the
    6-dp-ROUNDED corr against the 6-dp-ROUNDED ``cut`` column, as the
    oracle twins round."""
    return F.round(corr, 6) >= F.round("cut", 6)


def get_similar_items(
    cells: DataFrame,
    item_id: int,
    threshold_method: str = "std_dev",
    threshold_value: float = 2.0,
) -> DataFrame:
    """Similar items for ONE item — exact over all valid neighbors: the
    one-item case of `_corr_gram`.

    O(V) work for one item: the row is a Gram table with the single
    item_a = `item_id` against every other valid item, its dot from one
    broadcast join of the item's context vector (0.0 where the two
    share no context) — never an I×I matrix — scored by `_corr_gram`,
    the engine's only Pearson. Matches propius/similarity.py:133-167
    semantics including NaN-skip: an invalid or absent item has no
    stats row, so `_corr_gram`'s a-side join leaves the row empty.

    Hot-item guard: the broadcast of the item's context vector is
    bounded by that item's occurrence count, which at 100× scale can
    exceed broadcast limits for a pathologically hot item. When the
    vector exceeds `BROADCAST_MAX_CONTEXTS` rows, fall back to a plain
    shuffle join on ctx_id — identical semantics, one extra exchange,
    no driver/executor broadcast OOM. The probe reads the item's
    `n_ctx` off the persisted stats table (stamped by item_stats in a
    pass already paid) — never a scan of the cell table.

    Returns (item_b, corr) sorted descending.
    """
    cells, stats, _ = _corr_inputs(cells)
    my_cells = cells.filter(F.col("item_id") == item_id).select(
        "ctx_id", F.col("cnt").alias("cnt_a")
    )
    # an item absent from stats (invalid: den2 ≤ 0) probes None and
    # keeps the shuffle join: an omnipresent constant-count item has
    # cells in every context, so broadcasting its vector could OOM
    probe = stats.filter(F.col("item_id") == item_id).select("n_ctx").first()
    if probe is not None and probe["n_ctx"] <= BROADCAST_MAX_CONTEXTS:
        my_cells = F.broadcast(my_cells)
    # each valid item adds a 0.0 product, so a pair with no shared
    # context sums to dot 0.0 in the same aggregate (no outer join);
    # co-occurring invalid items drop out in `_corr_gram`'s b-side join
    prods = cells.join(my_cells, "ctx_id").select(
        "item_id", (F.col("cnt") * F.col("cnt_a")).alias("p")
    )
    g = (
        prods.unionByName(stats.select("item_id", F.lit(0.0).alias("p")))
        .filter(F.col("item_id") != item_id)
        .groupBy(F.col("item_id").alias("item_b"))
        .agg(F.sum("p").cast("double").alias("dot"))
        .withColumn("item_a", F.lit(item_id))
    )
    row = _corr_gram(stats, g).select("item_b", "corr")
    if threshold_method == "std_dev":
        # row is consumed twice here (the cut aggregate and the
        # filtered output) and is item-cardinality — materialize it so
        # the dots join/aggregate over the cell table runs once, not
        # once per consumer (guide §2.3; the absolute branch consumes
        # row once and stays lazy)
        row = materialize(row)
        th = row.agg(
            (F.avg("corr") + F.lit(threshold_value) * F.stddev_samp("corr")).alias("cut")
        )
        out = (
            row.crossJoin(F.broadcast(th))
            .filter(_clears())
            .drop("cut")
        )
    else:  # absolute threshold (any non-"std_dev" method, per the reference)
        out = row.filter(F.col("corr") >= F.lit(threshold_value))
    return out.orderBy(F.desc("corr"), F.asc("item_b"))


def top_k_per_item(
    pairs: DataFrame,
    k: int,
    item_col: str = "item_a",
    score_col: str = "corr",
) -> DataFrame:
    """Cap each item's neighbor list at its k best (score desc, ties by
    neighbor id asc) — the standard bound on published-store size
    (SURVEY.md §2 op-34 note). A window over the PAIR table: shuffles
    the result-sized table once, never the inputs."""
    other = [c for c in pairs.columns if c not in (item_col, score_col)]
    w = Window.partitionBy(item_col).orderBy(
        F.desc(score_col), *[F.asc(c) for c in other]
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def similar_items_candidates(
    cells: DataFrame,
    threshold_method: str = "std_dev",
    threshold_value: float = 2.0,
) -> DataFrame:
    """Batch thresholded neighbors over CO-OCCURRING pairs only
    ("candidates" mode — pairs with no shared context are treated as
    non-candidates; documented delta vs exact mode). Per-item mean/σ are
    window aggregates over each item's candidate set.

    Returns (item_a, item_b, corr).
    """
    pairs = corr_pairs(cells)
    if threshold_method == "std_dev":
        # ONE window pass: the per-item cut is avg + k·σ over the
        # item's candidate rows — as window aggregates over
        # partitionBy(item_a), every row sees its cut in one exchange
        # (a groupBy of the cuts joined back would shuffle twice).
        # Window partials merge in partition-row order rather than the
        # hash aggregate's merge order, so the raw cut can differ in
        # the last ulp — exactly the engine-specific-boundary class
        # the 6-dp-rounded membership test exists to absorb (module
        # docstring); the branch is pinned against a dense NumPy
        # brute force in
        # tests/test_correlation.py::test_candidates_stddev_matches_dense.
        w = Window.partitionBy("item_a")
        cut = F.avg("corr").over(w) + F.lit(threshold_value) * F.stddev_samp(
            "corr"
        ).over(w)
        return (
            pairs.withColumn("cut", cut)
            .filter(_clears())
            .select("item_a", "item_b", "corr")
        )
    return pairs.filter(F.col("corr") >= F.lit(threshold_value)).select(
        "item_a", "item_b", "corr"
    )


def similar_items_exact(
    cells: DataFrame,
    k_sigma: float = 2.0,
    max_context_degree: int | None = None,
) -> DataFrame:
    """Full publication semantics of propius/data.py:116-149, exactly,
    in one distributed job: for every valid item, neighbors (over ALL
    valid items, co-occurring or not) whose correlation clears
    mean + k·σ of the item's full neighbor row, scored by that row's
    min-max scaling.

    Two candidate sources:
    1. co-occurring pairs from the Gram join, filtered on the analytic
       per-item cut;
    2. non-co-occurring pairs — corr = −t_a·t_b — can only clear the cut
       when cut_a < 0 (t's are positive), i.e. t_b ≤ −cut_a/t_a. Those
       (rare) items join against the small stats dimension with that
       range predicate and an anti-join on the Gram pairs; the work is
       bounded by the true result size, not I².

    Returns (item_a, item_b, corr, scaled_score); scaled_score =
    (corr − mn_a)/(mx_a − mn_a), 0.0 when the row is constant
    (sklearn MinMaxScaler's zero-range behavior, propius/data.py:138).
    """
    # each subtree computes once: cells is consumed by stats + gram,
    # stats and the correlated Gram cg (each pair's corr, computed once)
    # by several branches each (SURVEY.md §4 cache note).
    # cuts is ALSO materialized so the final union plan is shallow —
    # AQE re-optimizes the whole remaining plan at every query stage,
    # and a deep neighbor-stats subtree under the final joins measured
    # 3-10× slower than the same pipeline with a flat final plan.
    _, stats, g = _corr_inputs(cells, max_context_degree)
    pair_cols = ("item_a", "item_b", "rnk_b", "t_b", "corr")
    cg = materialize(_corr_gram(stats, g).select(*pair_cols))
    cuts = materialize(
        _row_stats(stats, cg).select(
            F.col("item_id").alias("item_a"),
            (F.col("mean") + F.lit(k_sigma) * F.col("std")).alias("cut"),
            F.col("mn"),
            F.col("mx"),
            F.col("t").alias("t_a_full"),
        )
    )

    cooc = (
        cg.join(F.broadcast(cuts), "item_a")
        .filter(_clears())
        .select("item_a", "item_b", "corr", "mn", "mx")
    )

    # neg is almost always empty/tiny — broadcast it so the theta join
    # (range predicate on t_b) plans as a cheap broadcast-nested-loop.
    # cut < 1e-6, not < 0: a noncooc corr (strictly negative) can clear
    # the ROUNDED test against a cut in [0, 1e-6) (both round to 0), so
    # the prefilter must keep those items for the superset to be one.
    neg = F.broadcast(cuts.filter(F.col("cut") < F.lit(1e-6)))
    # only neg's own Gram rows can match the anti-join: the semi-join
    # drops the rest map-side, so an empty neg shuffles no Gram row
    neg_g = cg.select("item_a", "item_b").join(neg.select("item_a"), "item_a", "left_semi")
    noncooc = (
        neg.join(
            stats.select(F.col("item_id").alias("item_b"), F.col("t").alias("t_b")),
            # candidate SUPERSET: loosened by 1e-6 so no pair the
            # 6-dp-rounded membership test accepts can be pruned here
            # (round(x,6) ≥ round(cut,6) implies x > cut − 1e-6)
            F.col("t_b") <= (F.lit(1e-6) - F.col("cut")) / F.col("t_a_full"),
        )
        # exact membership on the rounded form, matching the cooc
        # branch's test and the oracle bit-for-bit
        .filter(_clears(-F.col("t_a_full") * F.col("t_b")))
        .filter(F.col("item_a") != F.col("item_b"))
        .join(neg_g, ["item_a", "item_b"], "left_anti")
        .select(
            "item_a",
            "item_b",
            (-F.col("t_a_full") * F.col("t_b")).alias("corr"),
            "mn",
            "mx",
        )
    )

    both = cooc.unionByName(noncooc)
    scaled = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        (F.col("corr") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    )
    return both.select("item_a", "item_b", "corr", scaled.alias("scaled_score"))
