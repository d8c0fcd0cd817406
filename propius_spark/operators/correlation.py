"""All-pairs Pearson correlation over the sparse cell table.

Replaces the reference's dense-matrix math (propius/similarity.py:16-44):

    rowsum   = A.sum(1)
    centering = rowsum @ rowsum.T / n
    cov      = (A @ A.T - centering) / (n - 1)
    corr     = cov / sqrt(outer(diag(cov), diag(cov)))

which is exactly `np.corrcoef` over item rows (sample covariance; the
(n-1) cancels in the ratio). In closed form, with per-item sums
s_i = Σ_ctx cnt, q_i = Σ_ctx cnt², n = #contexts, and pairwise dots
d_ij = Σ_ctx cnt_i·cnt_j:

    corr_ij = (n·d_ij − s_i·s_j) / sqrt((n·q_i − s_i²)·(n·q_j − s_j²))

Everything is a DataFrame aggregate or join — no dense I×I matrix is
ever materialized, on the driver or anywhere else.

Scale design notes (the parts that survive a 1000-executor / 100 TB run):

- The only large shuffle is the Gram self-join on the context key. Its
  output is Σ_ctx deg(ctx)² rows; hot contexts (a context containing d
  items yields d² pairs) skew it. A·Aᵀ is symmetric, so only the
  item_a < item_b half is aggregated and shuffled, and one explode
  mirrors the summed rows. AQE skew-join splitting is enabled in
  session.py; `gram` also exposes `max_context_degree` to cap
  pathological contexts with an explicit, documented semantic delta.
- Items with zero variance (den² = n·q − s² = 0) are NaN rows/columns
  in the reference matrix and are skipped by every downstream pandas
  mean/std/filter (verified in SURVEY.md §2 op-24); the engine drops
  them once, up front, instead of carrying NaNs.
- Pairs that share no context still have nonzero correlation
  corr_ij = −s_i·s_j/(den_i·den_j) = −t_i·t_j with t = s/den. Because
  that term is *separable*, per-item statistics over ALL V−1 neighbors
  (mean, std from sums of the co-occurring corr and t; max from the
  bottom rank's t; min from a sort-free rank-gap trick) come from one
  partial-aggregated per-item pass plus two global scalars T = Σt_j,
  U = Σt_j²: no I² materialization. See `neighbor_stats`.
- One item table, one Pearson: `valid_item_stats` carries the rank the
  per-item pass reads, and `_corr_gram` is the engine's only Pearson
  formula. Its four callers are `corr_pairs`, `neighbor_stats`,
  `similar_items_exact` (which materializes the correlated Gram once
  for all its consumers) and `get_similar_items` (a Gram table with
  one item_a).
- All post-aggregate arithmetic is done in double (cast once) so the
  engine and the DuckDB oracle evaluate bit-identical IEEE expressions,
  and so 100 TB-scale values cannot silently wrap 64-bit ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans import materialize


def context_count(cells: DataFrame) -> DataFrame:
    """1-row (n) — number of distinct contexts (matrix width)."""
    return cells.agg(F.countDistinct("ctx_id").cast("double").alias("n"))


def _global_scalars(stats: DataFrame):
    """The global scalars of `neighbor_stats`, fetched in ONE driver
    probe over the (persisted, item-cardinality) stats table:
    Row(v, big_t, big_u) — valid-item count, Σt_j, Σt_j². The values
    ride the plan as literals, so no 1-row broadcast crossJoin (with
    its own aggregate stage and broadcast-build job) is left for AQE
    to re-plan. Callers must hold a PERSISTED stats table — probing an
    unpersisted subtree would compute it once here and again
    downstream. Empty stats probe (0, 0.0, 0.0): unreachable in any
    row, since every frame the values combine with is empty exactly
    then (pinned by test_correlation::test_corr_pairs_no_valid_items)."""
    return stats.agg(
        F.count(F.lit(1)).alias("v"),
        F.coalesce(F.sum("t"), F.lit(0.0)).alias("big_t"),
        F.coalesce(F.sum(F.col("t") * F.col("t")), F.lit(0.0)).alias("big_u"),
    ).first()


def item_stats(cells: DataFrame) -> DataFrame:
    """(item_id, s, q, n_ctx): per-item occurrence sum, sum of squares,
    and context count (cells is distinct per (item, ctx), so COUNT(*)
    is the item's context-vector length — free in the same groupBy
    pass; get_similar_items' hot-item probe reads it instead of
    re-scanning the cell table)."""
    return cells.groupBy("item_id").agg(
        F.sum("cnt").cast("double").alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("q"),
        F.count(F.lit(1)).alias("n_ctx"),
    )


def valid_item_stats(cells: DataFrame) -> DataFrame:
    """Per-item stats for items with nonzero variance.

    (item_id, s, q, n, den2, den, t, rnk) with den2 = n·q − s²,
    den = √den2, t = s/den, rnk = row_number by (t desc, item_id asc)
    (`neighbor_stats`' row extremes). Items with den2 ≤ 0 are the
    reference's NaN rows — excluded here once (see module docstring).
    The scalar n is attached by a broadcast cross join (1 row), keeping
    the whole plan lazy.
    """
    stats = item_stats(cells).crossJoin(F.broadcast(context_count(cells)))
    den2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (
        stats.withColumn("den2", den2)
        .filter(F.col("den2") > 0)
        .withColumn("den", F.sqrt("den2"))
        .withColumn("t", F.col("s") / F.col("den"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("t").desc(), F.col("item_id").asc())
            ),
        )
    )


def gram(cells: DataFrame, stats: DataFrame, max_context_degree: int | None = None) -> DataFrame:
    """(item_a, item_b, dot) for co-occurring valid pairs, both directions.

    The self-equi-join on ctx_id is the distributed analogue of the
    sparse A·Aᵀ at propius/similarity.py:37. A·Aᵀ is symmetric, so the
    join keeps only item_a < item_b — half the pairs reach the
    aggregate and its shuffle — and one explode mirrors each summed row
    into both directions. Every dot is an exact sum of integer
    products, so both directions carry the same double. Cells of
    invalid items are semi-join-pruned first so the pair explosion only
    covers items that can appear in results. `max_context_degree`, when
    set, drops contexts containing more than that many distinct items —
    an *approximate* mode for pathological skew (documented delta;
    default off, exact). A cap below 1 would keep no context at all
    while the stats still count every one, so it raises ValueError.
    """
    if max_context_degree is not None and max_context_degree < 1:
        raise ValueError(f"max_context_degree must be >= 1, got {max_context_degree}")
    pruned = cells.join(stats.select("item_id"), "item_id", "left_semi")
    if max_context_degree is not None:
        deg = pruned.groupBy("ctx_id").agg(F.count(F.lit(1)).alias("_ctx_deg"))
        pruned = (
            pruned.join(deg.filter(F.col("_ctx_deg") <= max_context_degree), "ctx_id")
            .drop("_ctx_deg")
        )
    a = pruned.select(
        F.col("ctx_id"), F.col("item_id").alias("item_a"), F.col("cnt").alias("cnt_a")
    )
    b = pruned.select(
        F.col("ctx_id"), F.col("item_id").alias("item_b"), F.col("cnt").alias("cnt_b")
    )
    half = (
        a.join(b, "ctx_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("double").alias("dot"))
    )
    both = F.explode(
        F.array(
            F.struct("item_a", "item_b"),
            F.struct(F.col("item_b").alias("item_a"), F.col("item_a").alias("item_b")),
        )
    )
    return half.select(both.alias("p"), "dot").select("p.item_a", "p.item_b", "dot")


def _corr_gram(stats: DataFrame, g: DataFrame) -> DataFrame:
    """The Gram pairs with their correlation — (item_a, item_b, dot, n,
    s_a, den_a, s_b, den_b, t_b, rnk_b, corr) — through two broadcast
    stats joins (item dimension ≪ pair table). Every stats row carries
    the context count n, so n rides the a side. A pair whose item_a or
    item_b has no stats row (an invalid item) drops out of the inner
    joins.

    The engine's only Pearson, with four callers: `corr_pairs`,
    `neighbor_stats`, `similar_items_exact` (which materializes its
    (item_a, item_b, rnk_b, t_b, corr) once) and `get_similar_items`
    (one item_a against every other valid item, dot 0.0 where the
    pair shares no context)."""
    a = stats.select(
        F.col("item_id").alias("item_a"),
        "n",
        *[F.col(c).alias(f"{c}_a") for c in ("s", "den")],
    )
    b = stats.select(
        F.col("item_id").alias("item_b"),
        *[F.col(c).alias(f"{c}_b") for c in ("s", "den", "t", "rnk")],
    )
    corr = (F.col("n") * F.col("dot") - F.col("s_a") * F.col("s_b")) / (
        F.col("den_a") * F.col("den_b")
    )
    return (
        g.join(F.broadcast(a), "item_a")
        .join(F.broadcast(b), "item_b")
        .withColumn("corr", corr)
    )


def _corr_inputs(
    cells: DataFrame,
    max_context_degree: int | None = None,
    stats: DataFrame | None = None,
    g: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cells, stats, g): the prelude every correlation consumer shares.
    Supplied `stats`/`g` pass through; a missing Gram is built lazily,
    since each caller that does not hold one consumes it once.

    When stats are not supplied, the cell table is materialized first:
    cells feed four consumers (context count, item stats, both Gram
    sides) and Spark only reuses *identical* physical subplans, so the
    lazy composition re-scans the source event log once per consumer —
    8 full scans of the fact table in one action (measured via explain
    at sf0.001). Materializing the item×ctx aggregate — orders of
    magnitude smaller than the event log — makes it one scan.
    """
    if stats is None:
        cells = materialize(cells, compact=False)
        stats = materialize(valid_item_stats(cells))
    if g is None:
        g = gram(cells, stats, max_context_degree)
    return cells, stats, g


def corr_pairs(cells: DataFrame, max_context_degree: int | None = None) -> DataFrame:
    """(item_a, item_b, dot, corr) over co-occurring valid pairs (both
    directions; symmetric). This is the sparse "candidates" view of the
    correlation matrix — pairs with no shared context are not emitted
    (their corr is the separable −t_a·t_b; see `neighbor_stats` /
    `similar_items_exact` for where that matters).
    """
    _, stats, g = _corr_inputs(cells, max_context_degree)
    return _corr_gram(stats, g).select("item_a", "item_b", "dot", "corr")


def neighbor_stats(
    cells: DataFrame,
    max_context_degree: int | None = None,
    stats: DataFrame | None = None,
    g: DataFrame | None = None,
) -> DataFrame:
    """Exact per-item statistics of the FULL correlation row — over all
    V−1 valid neighbors, co-occurring or not — without materializing I².

    Returns one row per valid item:
      (item_id, s, den, t, n, m, deg, mean, std, mn, mx)
    where m = V−1 neighbors, mean/std are the sample statistics the
    reference's pandas mean()/std() compute over the item's matrix
    column (propius/data.py:141-142, similarity.py:157-158; NaN columns
    skipped), and mn/mx are the row extremes backing min-max scaling
    (propius/data.py:135-138).

    Derivation (module docstring notation; t = s/den, T = Σt, U = Σt²
    over all valid items): corr_ij = n·d_ij/(den_i·den_j) − t_i·t_j with
    d_ij = 0 for a non-co-occurring pair, so each moment is a
    co-occurring sum plus a separable remainder:
      Σ_j corr_ij  = Σ_cooc corr − t_i·(T − t_i − Σ_cooc t_b)
      Σ_j corr_ij² = Σ_cooc corr² + t_i²·(U − t_i² − Σ_cooc t_b²)
    and Pearson itself is written only in `_corr_gram`.

    Row max: counts are positive, so a co-occurring corr_ij (d_ij > 0)
    is strictly above −t_i·t_j. With t_lo the smallest t over the valid
    items other than i, either that item co-occurs with i and cmax_i
    beats every non-co-occurring corr (all ≤ −t_i·t_lo), or −t_i·t_lo
    is one of them; so mx_i = max(cmax_i, −t_i·t_lo). Items are ranked
    by (t desc, id asc) — the stats table's `rnk` — so t_lo is the t at
    rank V, or at rank V−1 for the rank-V item itself.

    Row min: that argument does not mirror, so mn_i = min(cmin_i,
    −t_i·t_hi) with t_hi the t at the smallest rank not taken by a
    co-occurring partner or i itself. An item's `size` taken ranks are
    distinct, so [1, size+1] holds a free rank unless size = V; then
    rank V+1 maps to no t and mn is cmin alone, as it must be.

    One per-item pass over the correlated Gram, no sort: the taken set
    is the Gram rows (rnk_b, t_b, corr) plus one self row per item with
    null metrics, and ONE groupBy(item_a) — partial-aggregated before
    its single exchange — yields the sums, the cooc extremes and the
    taken ranks; null-skipping sums and count(corr) keep the self rows
    out of the neighbor aggregates.
    """
    _, stats, g = _corr_inputs(cells, max_context_degree, stats, g)
    return _row_stats(stats, _corr_gram(stats, g))


def _row_stats(stats: DataFrame, cg: DataFrame) -> DataFrame:
    """`neighbor_stats`' per-item pass over a correlated Gram `cg`; it
    reads only cg's item_a, rnk_b, t_b and corr."""
    sc_row = _global_scalars(stats)
    v = F.lit(int(sc_row["v"]))
    big_t, big_u = F.lit(sc_row["big_t"]), F.lit(sc_row["big_u"])

    metrics = ("t_b", "corr")
    taken = (
        cg.select("item_a", "rnk_b", *metrics)
        .unionByName(
            stats.select(
                F.col("item_id").alias("item_a"),
                F.col("rnk").alias("rnk_b"),
                *[F.lit(None).cast("double").alias(c) for c in metrics],
            )
        )
    )
    corr, t_b = F.col("corr"), F.col("t_b")
    per = taken.groupBy("item_a").agg(
        F.count("corr").alias("deg"),
        F.sum(corr).alias("c1"),
        F.sum(corr * corr).alias("c2"),
        F.sum(t_b).alias("tb1"),
        F.sum(t_b * t_b).alias("tb2"),
        F.min("corr").alias("cmin"),
        F.max("corr").alias("cmax"),
        F.collect_list("rnk_b").alias("ranks"),
    )
    free_d = F.array_min(F.array_except(F.sequence(F.lit(1), F.size("ranks") + 1), "ranks"))
    # every item has its self row in taken, so `per` holds exactly one
    # row per valid item and the stats join can stream it (broadcasting
    # the item dimension — no second exchange)
    tmap_d = stats.select(F.col("rnk").alias("free_d"), F.col("t").alias("t_nc_max"))
    tmap_a = stats.select(F.col("rnk").alias("free_a"), F.col("t").alias("t_lo"))
    sp = (
        per.select(
            F.col("item_a").alias("item_id"), "deg", "c1", "c2", "tb1", "tb2",
            "cmin", "cmax", free_d.alias("free_d"),
        )
        .join(F.broadcast(stats), "item_id")
        .withColumn("free_a", F.when(F.col("rnk") == v, v - 1).otherwise(v))
        .join(F.broadcast(tmap_d), "free_d", "left")
        .join(F.broadcast(tmap_a), "free_a", "left")
        .fillna(0.0, ["c1", "c2", "tb1", "tb2"])
    )
    t = F.col("t")
    m = F.lit(float(sc_row["v"])) - 1
    sum1 = F.col("c1") - t * (big_t - t - F.col("tb1"))
    sum2 = F.col("c2") + t * t * (big_u - t * t - F.col("tb2"))
    mean = sum1 / m
    var = (sum2 - m * mean * mean) / (m - 1)
    return (
        sp.filter(m >= 1)
        .withColumn("m", m)
        .withColumn("mean", mean)
        .withColumn("std", F.when(m >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))))
        .withColumn("mn", F.least(F.col("cmin"), -t * F.col("t_nc_max")))
        .withColumn("mx", F.greatest(F.col("cmax"), -t * F.col("t_lo")))
        .select("item_id", "s", "den", "t", "n", "m", "deg", "mean", "std", "mn", "mx")
    )
