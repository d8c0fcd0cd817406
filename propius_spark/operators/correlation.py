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
  items yields d² pairs) skew it. AQE skew-join splitting is enabled in
  session.py; `gram` also exposes `max_context_degree` to cap
  pathological contexts with an explicit, documented semantic delta.
- Items with zero variance (den² = n·q − s² = 0) are NaN rows/columns
  in the reference matrix and are skipped by every downstream pandas
  mean/std/filter (verified in SURVEY.md §2 op-24); the engine drops
  them once, up front, instead of carrying NaNs.
- Pairs that share no context still have nonzero correlation
  corr_ij = −s_i·s_j/(den_i·den_j) = −t_i·t_j with t = s/den. Because
  that term is *separable*, per-item statistics over ALL V−1 neighbors
  (mean, std — and min/max via a rank-gap trick) are computable from
  sparse aggregates plus two global scalars T = Σt_j, U = Σt_j²: no I²
  materialization. See `neighbor_stats`.
- All post-aggregate arithmetic is done in double (cast once) so the
  engine and the DuckDB oracle evaluate bit-identical IEEE expressions,
  and so 100 TB-scale values cannot silently wrap 64-bit ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import materialize


def context_count(cells: DataFrame) -> DataFrame:
    """1-row (n) — number of distinct contexts (matrix width)."""
    return cells.agg(F.countDistinct("ctx_id").cast("double").alias("n"))


def _global_scalars(stats: DataFrame):
    """Every global scalar the correlation plans need, fetched in ONE
    driver probe over the (persisted, item-cardinality) stats table:
    Row(n, v, big_t, big_u) — context count, valid-item count, Σt_j,
    Σt_j². Probing once and embedding the values as plan LITERALS
    replaces up to three 1-row broadcast crossJoins per pipeline
    (context n, the rank-gap v, global_stats' T/U) — each crossJoin
    cost a separate aggregate stage + broadcast-build job wave and left
    a BroadcastNestedLoopJoin in the final plan for AQE to re-plan
    (round 9; guide §2.4 "remove shuffles outright" applied to
    broadcast waves). The aggregation expressions are IDENTICAL to the
    in-plan forms they replace (same sum order over the same persisted
    partitions), so the doubles are bit-equal and every oracle hash is
    unchanged.

    Callers must hold a PERSISTED stats table (all production call
    sites do) — probing an unpersisted subtree would compute it once
    here and again downstream. Empty stats probes (n=None, v=0,
    big_t/big_u=None); consumers substitute 0.0 — the values are
    unreachable because every frame they combine with is empty exactly
    then (pinned by
    tests/test_correlation.py::test_corr_pairs_no_valid_items)."""
    return stats.agg(
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum("t").alias("big_t"),
        F.sum(F.col("t") * F.col("t")).alias("big_u"),
    ).first()


def _lit0(x) -> "F.Column":
    """Double literal for a probed scalar; 0.0 for the empty-stats
    None (unreachable in any row — see _global_scalars)."""
    return F.lit(0.0 if x is None else float(x))


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

    (item_id, s, q, n, den2, den, t) with den2 = n·q − s², den = √den2,
    t = s/den. Items with den2 ≤ 0 are the reference's NaN rows —
    excluded here once (see module docstring). The scalar n is attached
    by a broadcast cross join (1 row), keeping the whole plan lazy.
    """
    stats = item_stats(cells).crossJoin(F.broadcast(context_count(cells)))
    den2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return (
        stats.withColumn("den2", den2)
        .filter(F.col("den2") > 0)
        .withColumn("den", F.sqrt("den2"))
        .withColumn("t", F.col("s") / F.col("den"))
    )


def gram(cells: DataFrame, stats: DataFrame, max_context_degree: int | None = None) -> DataFrame:
    """(item_a, item_b, dot) for co-occurring valid pairs, both directions.

    The self-equi-join on ctx_id is the distributed analogue of the
    sparse A·Aᵀ at propius/similarity.py:37. Cells of invalid items are
    semi-join-pruned first so the pair explosion only covers items that
    can appear in results. `max_context_degree`, when set, drops
    contexts containing more than that many distinct items — an
    *approximate* mode for pathological skew (documented delta; default
    off, exact).
    """
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
    return (
        a.join(b, "ctx_id")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("double").alias("dot"))
    )


def _stats_as(stats: DataFrame, suffix: str) -> DataFrame:
    return stats.select(
        F.col("item_id").alias(f"item_{suffix}"),
        F.col("s").alias(f"s_{suffix}"),
        F.col("den").alias(f"den_{suffix}"),
        F.col("t").alias(f"t_{suffix}"),
    )


CORR_EXPR = "(n * dot - s_a * s_b) / (den_a * den_b)"


def corr_pairs(
    cells: DataFrame,
    max_context_degree: int | None = None,
    stats: DataFrame | None = None,
    g: DataFrame | None = None,
) -> DataFrame:
    """(item_a, item_b, corr) over co-occurring valid pairs (both
    directions; symmetric). This is the sparse "candidates" view of the
    correlation matrix — pairs with no shared context are not emitted
    (their corr is the separable −t_a·t_b; see `neighbor_stats` /
    `similar_items_exact` for where that matters).

    The two stats joins broadcast (item dimension ≪ fact table).
    `stats`/`g` accept precomputed (usually persisted) inputs so a
    pipeline sharing them across stages computes each subtree once.

    When stats are not supplied, the cell table is materialized first:
    cells feed four consumers here (context count, item stats, both
    Gram sides) and Spark only reuses *identical* physical subplans, so
    the lazy composition re-scans the source event log once per
    consumer — 8 full scans of the fact table in one action (measured
    via explain at sf0.001). Materializing the item×ctx aggregate —
    orders of magnitude smaller than the event log — makes it one scan.
    """
    if stats is None:
        cells = materialize(cells, compact=False)
        stats = materialize(valid_item_stats(cells))
    if g is None:
        g = gram(cells, stats, max_context_degree)
    # n as a plan literal from the one-probe scalar fetch — the old
    # 1-row crossJoin(broadcast(n1)) paid a broadcast-build job and
    # left a BroadcastNestedLoopJoin node in every corr plan
    n_row = _global_scalars(stats)
    return (
        g.join(F.broadcast(_stats_as(stats, "a")), "item_a")
        .join(F.broadcast(_stats_as(stats, "b")), "item_b")
        .withColumn("n", _lit0(n_row["n"]))
        .select("item_a", "item_b", "dot", F.expr(CORR_EXPR).alias("corr"))
    )


def _rank_gap_extremes(
    stats: DataFrame, gram_df: DataFrame, v: int | None = None
) -> DataFrame:
    """Per item_a: the MAX and MIN t among valid NON-co-occurring
    neighbors, in one pass — (item_a, t_nc_max, t_nc_min); items whose
    co-occurrence set covers all other valid items are absent.

    Rank-gap trick (no I² blowup): rank all V valid items by t
    (row_number over a V-row dimension — bounded by item cardinality,
    not fact rows); for each item, the extreme non-co-occurring t is the
    t at the smallest rank not taken by a co-occurring partner or the
    item itself. Each item only needs to examine its first deg+2
    candidate ranks, so the generated candidate table is O(nnz pairs).

    Both extremes come from ONE un-replicated taken set (round 6): the
    descending order (t desc, id asc) gives the max side directly, and
    because the ascending rank is its exact reverse
    (rnk_asc = V+1−rnk_desc), the min side's first gap is found by
    scanning the SAME rows from the other end — a second row_number
    over the same (item_a) hash partitioning, ordered taken_rnk desc,
    costs one extra in-partition sort but NO extra exchange and NO
    side-tag row doubling. Replaces the round-3 explode-two-sides form:
    half the shuffle bytes, one window partition key instead of two —
    measured on the sf1.0 scale replica at 16.3 s → 3.5 s warm (the
    dominant component of neighbor_stats), result exceptAll-equal both
    directions.
    """
    from pyspark.sql.window import Window

    # v (valid-item count) as a plan literal: passed in by callers that
    # already probed the stats scalars (_global_scalars), else one
    # cheap count over the item-cardinality stats — either way the old
    # 1-row v_df crossJoins (two of them: under ranked and under taken)
    # and their aggregate + broadcast-build job waves are gone (round 9)
    if v is None:
        v = stats.count()
    v_lit = F.lit(int(v)).cast("long")
    # materialized: three consumers (rb under taken, the self-rank
    # union, both tmaps) would otherwise each re-sort the item
    # dimension — item-cardinality, so it stores safely at any scale
    ranked = materialize(
        stats.select(
            "item_id",
            "t",
            F.row_number()
            .over(Window.orderBy(F.col("t").desc(), F.col("item_id").asc()))
            .alias("rnk"),
        ).withColumn("rnk_rev", v_lit + 1 - F.col("rnk"))
    )
    rb = ranked.select(
        F.col("item_id").alias("item_b"), F.col("rnk").alias("rnk_b")
    )
    # ranks occupied per item_a: co-occurring partners + self
    taken = (
        gram_df.select("item_a", "item_b")
        .join(F.broadcast(rb), "item_b")
        .select("item_a", F.col("rnk_b").alias("taken_rnk"))
        .unionByName(
            ranked.select(
                F.col("item_id").alias("item_a"),
                F.col("rnk").alias("taken_rnk"),
            )
        )
    )
    # First free rank per side via sorted passes over ONE exchange
    # (round 3 established the sorted-pass-over-taken form; round 6
    # fused both sides into it): the taken ranks of one item_a are
    # distinct, so sorted ascending the first gap is the first position
    # where taken_rnk != row_number; on the reverse side the same test
    # runs against the reversed rank (V+1−taken_rnk) under the
    # descending row_number. If a prefix is gapless the free rank is
    # count+1 — and count+1 > v_items happens exactly when the item
    # co-occurs with every other valid item, which (taken covering ALL
    # V ranks) makes BOTH sides gapless at once, so the inner tmap
    # joins below drop the item entirely, as they must. The groupBy
    # reuses the windows' (item_a) exchange — one shuffle total,
    # spillable sorts, no per-item arrays.
    wd = Window.partitionBy("item_a").orderBy(F.col("taken_rnk").asc())
    wa = Window.partitionBy("item_a").orderBy(F.col("taken_rnk").desc())
    frees = (
        taken.withColumn("rn_d", F.row_number().over(wd))
        .withColumn("rn_a", F.row_number().over(wa))
        .groupBy("item_a")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("taken_rnk") != F.col("rn_d"), F.col("rn_d"))),
                F.count(F.lit(1)) + 1,
            ).alias("free_d"),
            F.coalesce(
                F.min(
                    F.when(
                        v_lit + 1 - F.col("taken_rnk") != F.col("rn_a"),
                        F.col("rn_a"),
                    )
                ),
                F.count(F.lit(1)) + 1,
            ).alias("free_a"),
        )
    )
    # map each side's free rank back to its t (rnk keys the desc side,
    # rnk_rev the asc side — both item-cardinality broadcasts)
    tmap_d = ranked.select(
        F.col("rnk").alias("free_d"), F.col("t").alias("t_nc_max")
    )
    tmap_a = ranked.select(
        F.col("rnk_rev").alias("free_a"), F.col("t").alias("t_nc_min")
    )
    return (
        frees.join(F.broadcast(tmap_d), "free_d")
        .join(F.broadcast(tmap_a), "free_a")
        .select("item_a", "t_nc_max", "t_nc_min")
    )


def neighbor_stats(
    cells: DataFrame,
    max_context_degree: int | None = None,
    stats: DataFrame | None = None,
    g: DataFrame | None = None,
    scalars=None,
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

    Derivation (module docstring notation; t = s/den):
      corr_ij = (n·d_ij − s_i·s_j)/(den_i·den_j); d_ij = 0 when no shared ctx
      Σ_j corr_ij  = (n·G1_i − s_i·(T − t_i)) / den_i          (G1 = Σ_cooc d/den_b)
      Σ_j corr_ij² = (n²·G2_i − 2n·s_i·G3_i + s_i²·(U − t_i²)) / den_i²
                     (G2 = Σ_cooc d²/den_b², G3 = Σ_cooc d·t_b/den_b)
      min/max: combine cooc extremes with −t_i·t_nc from the rank-gap
      extremes of the non-cooc set (all non-cooc corrs are −t_i·t_j).
    """
    if stats is None:
        # mirror corr_pairs: cells feed four consumers here (item
        # stats, context count, both gram sides) — unpersisted, the
        # full upstream event-log plan replays once per consumer
        cells = materialize(cells, compact=False)
        stats = materialize(valid_item_stats(cells))
    if g is None:
        g = materialize(gram(cells, stats, max_context_degree))
    # all four global scalars (n, v, Σt, Σt²) in ONE probe over the
    # persisted stats (or a caller's shared probe row via `scalars`),
    # embedded as plan literals — replaces the n1/gl/v_df 1-row
    # broadcast crossJoins and their separate aggregate + broadcast
    # job waves (round 9; values bit-identical, see _global_scalars)
    sc_row = scalars if scalars is not None else _global_scalars(stats)
    n_lit = _lit0(sc_row["n"])
    big_t = _lit0(sc_row["big_t"])
    big_u = _lit0(sc_row["big_u"])

    ge = (
        g.join(F.broadcast(_stats_as(stats, "a")), "item_a")
        .join(F.broadcast(_stats_as(stats, "b")), "item_b")
        .withColumn("n", n_lit)
        .withColumn("corr", F.expr(CORR_EXPR))
    )
    peritem = ge.groupBy("item_a").agg(
        F.count(F.lit(1)).alias("deg"),
        F.sum(F.col("dot") / F.col("den_b")).alias("g1"),
        F.sum(F.col("dot") * F.col("dot") / (F.col("den_b") * F.col("den_b"))).alias("g2"),
        F.sum(F.col("dot") * F.col("t_b") / F.col("den_b")).alias("g3"),
        F.min("corr").alias("cmin"),
        F.max("corr").alias("cmax"),
    )
    nc_t = _rank_gap_extremes(stats, g, v=int(sc_row["v"]))

    sp = (
        stats.join(peritem, stats.item_id == peritem.item_a, "left")
        .drop("item_a")
        .join(nc_t.withColumnRenamed("item_a", "item_id"), "item_id", "left")
        .fillna(0.0, ["g1", "g2", "g3"])
        .fillna(0, ["deg"])
    )
    # v/big_t/big_u are plan literals (probe above); n/s/t/den/den2
    # stay per-row stats columns — the arithmetic is the expression
    # the old gl-crossJoin form evaluated, term for term
    m = _lit0(float(sc_row["v"])) - 1
    sum1 = (F.col("n") * F.col("g1") - F.col("s") * (big_t - F.col("t"))) / F.col("den")
    sum2 = (
        F.col("n") * F.col("n") * F.col("g2")
        - 2 * F.col("n") * F.col("s") * F.col("g3")
        + F.col("s") * F.col("s") * (big_u - F.col("t") * F.col("t"))
    ) / F.col("den2")
    mean = sum1 / m
    var = (sum2 - m * mean * mean) / (m - 1)
    return (
        sp.filter(m >= 1)
        .withColumn("m", m)
        .withColumn("mean", mean)
        .withColumn("std", F.when(m >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))))
        .withColumn(
            "mn", F.least(F.col("cmin"), -F.col("t") * F.col("t_nc_max"))
        )
        .withColumn(
            "mx", F.greatest(F.col("cmax"), -F.col("t") * F.col("t_nc_min"))
        )
        .select("item_id", "s", "den", "t", "n", "m", "deg", "mean", "std", "mn", "mx")
    )
