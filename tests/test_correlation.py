"""Golden tests: the engine's closed-form Pearson must equal
np.corrcoef over the crosstab rows — the verified semantics of the
reference (propius/similarity.py:16-44; SURVEY.md §5.1).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from propius_spark.operators import (
    build_cells,
    corr_pairs,
    encode_contexts_replay,
    neighbor_stats,
    valid_item_stats,
    vstack,
)

# FIXTURES.md §3 golden micro-fixture (sorted order, as listed).
FIXTURE_ROWS = [
    ("u1", 1),
    ("u1", 2),
    ("u1", 2),
    ("u2", 2),
    ("u2", 3),
    ("u3", 1),
    ("u3", 3),
    ("u1", 4),
]


def crosstab_numpy(rows, encoding: str) -> tuple:
    """Dense crosstab for oracle math. encoding: 'distinct' (engine
    default: one column per distinct reference_id) or 'replay'
    (reference run-length serials)."""
    if encoding == "replay":
        ctxs, last = [], object()
        serial = -1
        for ref, _ in rows:
            if ref != last:
                serial += 1
                last = ref
            ctxs.append(serial)
        n_ctx = serial + 1
    else:
        uniq = {r: i for i, r in enumerate(sorted({ref for ref, _ in rows}))}
        ctxs = [uniq[ref] for ref, _ in rows]
        n_ctx = len(uniq)
    items = sorted({it for _, it in rows})
    pos = {it: i for i, it in enumerate(items)}
    m = np.zeros((len(items), n_ctx))
    for (ref, it), c in zip(rows, ctxs):
        m[pos[it], c] += 1
    return m, items


def spark_pairs_to_matrix(pairs_rows, items, stats_rows=None):
    """Rebuild a dense matrix from long-form (item_a, item_b, corr) for
    comparison; missing pairs filled from analytic -t_a*t_b if stats
    provided, else 0."""
    pos = {it: i for i, it in enumerate(items)}
    m = np.full((len(items), len(items)), np.nan)
    np.fill_diagonal(m, 1.0)
    if stats_rows is not None:
        t = {r["item_id"]: r["t"] for r in stats_rows}
        for a in items:
            for b in items:
                if a != b and a in t and b in t:
                    m[pos[a], pos[b]] = -t[a] * t[b]
    for r in pairs_rows:
        m[pos[r["item_a"]], pos[r["item_b"]]] = r["corr"]
    return m


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(FIXTURE_ROWS, "reference_id string, item_id long")


def test_corr_matches_numpy_on_fixture(spark, fixture_df):
    cells = build_cells(fixture_df)
    stats = [r.asDict() for r in valid_item_stats(cells).collect()]
    pairs = [r.asDict() for r in corr_pairs(cells).collect()]

    dense, items = crosstab_numpy(FIXTURE_ROWS, "distinct")
    expected = np.corrcoef(dense)
    got = spark_pairs_to_matrix(pairs, items, stats)
    np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-12)


def test_replay_encoding_matches_reference_matrix(spark):
    """Reference run-length semantics: the FIXTURES.md §3 expected
    matrix (u1's second run is a NEW context)."""
    df = spark.createDataFrame(
        [(i, ref, it) for i, (ref, it) in enumerate(FIXTURE_ROWS)],
        "ord long, reference_id string, item_id long",
    )
    enc = encode_contexts_replay(df, "ord")
    cells = build_cells(enc, ctx_col="ctx_id")
    stats = [r.asDict() for r in valid_item_stats(cells).collect()]
    pairs = [r.asDict() for r in corr_pairs(cells).collect()]

    dense, items = crosstab_numpy(FIXTURE_ROWS, "replay")
    assert dense.shape == (4, 4)
    expected_fixture = np.array(
        [
            [1.0000, 0.3015, 0.0000, -0.5774],
            [0.3015, 1.0000, -0.3015, -0.5222],
            [0.0000, -0.3015, 1.0000, -0.5774],
            [-0.5774, -0.5222, -0.5774, 1.0000],
        ]
    )
    np.testing.assert_allclose(np.corrcoef(dense), expected_fixture, atol=5e-5)
    got = spark_pairs_to_matrix(pairs, items, stats)
    np.testing.assert_allclose(got, np.corrcoef(dense), rtol=1e-9, atol=1e-12)


def test_duplicate_pairs_sum(spark):
    """Duplicate (ref, item) events must sum into the cell count —
    the coo→csr duplicate-summing behavior (SURVEY.md §1 row 2)."""
    df = spark.createDataFrame(
        [("r1", 7), ("r1", 7), ("r1", 7)], "reference_id string, item_id long"
    )
    cells = build_cells(df).collect()
    assert len(cells) == 1 and cells[0]["cnt"] == 3


def test_build_cells_drops_null_ids(spark):
    """NULL item/context ids never enter the matrix (the reference's
    int32 COO arrays cannot hold them — similarity.py:63-89). Spark's
    groupBy would otherwise KEEP a null group that can never equi-join
    into gram yet leaks into neighbor_stats' global sums (V, Σt, Σt²),
    shifting every item's mean/σ/extremes (fuzz-parity find on the
    hostile lineitem corpus)."""
    df = spark.createDataFrame(
        [("r1", 1), ("r1", 2), (None, 1), ("r2", None), (None, None), ("r2", 2)],
        "reference_id string, item_id long",
    )
    got = build_cells(df).collect()
    assert all(r["item_id"] is not None and r["ctx_id"] is not None for r in got)
    assert {(r["ctx_id"], r["item_id"]) for r in got} == {
        ("r1", 1), ("r1", 2), ("r2", 2)
    }


def test_zero_variance_items_dropped(spark):
    """An item present in every context with equal counts has zero
    variance → NaN row in the reference → excluded from valid stats.
    The valid items' `rnk` is a permutation of 1..V ordered by
    (t desc, item_id asc): items 2 and 3 tie at t = 1, item 4 leads at
    t = 3."""
    rows = [("r1", 1), ("r2", 1), ("r1", 2), ("r2", 3), ("r1", 4), ("r1", 4), ("r2", 4)]
    df = spark.createDataFrame(rows, "reference_id string, item_id long")
    stats = valid_item_stats(build_cells(df)).collect()
    got = {r["item_id"] for r in stats}
    assert 1 not in got  # in both contexts, cnt=1 each → den2 = 0
    assert got == {2, 3, 4}
    by_rank = sorted(stats, key=lambda r: r["rnk"])
    assert [r["rnk"] for r in by_rank] == [1, 2, 3]
    assert [(r["item_id"], r["t"]) for r in by_rank] == [(4, 3.0), (2, 1.0), (3, 1.0)]


def test_get_similar_items_invalid_or_absent_item_is_empty(spark):
    """A zero-variance item (the reference's NaN row) and an id absent
    from the log have no stats row, so `_corr_gram`'s a-side join
    leaves their row empty under both threshold methods — no branch
    special-cases them. A valid item of the same log is not empty."""
    from propius_spark.operators.similarity import get_similar_items

    rows = [("r1", 1), ("r2", 1), ("r1", 2), ("r2", 3), ("r1", 4), ("r1", 4), ("r2", 4)]
    cells = build_cells(spark.createDataFrame(rows, "reference_id string, item_id long"))
    for method, value in (("std_dev", 2.0), ("absolute", -2.0)):
        assert get_similar_items(cells, 1, method, value).collect() == [], method
        assert get_similar_items(cells, 77, method, value).collect() == [], method
    assert {r.item_b for r in get_similar_items(cells, 2, "absolute", -2.0).collect()} == {3, 4}


def test_corr_pairs_no_valid_items(spark):
    """Degenerate corpus where EVERY item has zero variance (each item
    in both contexts with cnt=1 → den2 = 0): valid stats is EMPTY.
    Pins the empty-stats edge neighbor_stats' scalar probe rides on —
    `_global_scalars` returns (v=0, big_t=big_u=0.0) here — asserting
    the full pipelines still return exactly no rows (they must: gram
    and every stats-derived frame are empty precisely when stats is)."""
    from propius_spark.operators.similarity import similar_items_exact

    rows = [("r1", 1), ("r2", 1), ("r1", 2), ("r2", 2)]
    df = spark.createDataFrame(rows, "reference_id string, item_id long")
    cells = build_cells(df)
    assert valid_item_stats(cells).count() == 0
    assert corr_pairs(cells).count() == 0
    assert neighbor_stats(cells).count() == 0
    assert similar_items_exact(cells).count() == 0


def test_gram_context_degree_cap(spark):
    """gram's max_context_degree drops every context holding more than
    the cap's distinct items (the documented approximate mode). A cap
    below 1 would keep no context while the stats still count them
    all, so it raises ValueError — in gram and through corr_pairs."""
    from propius_spark.operators import gram

    rows = [("r1", 1), ("r1", 2), ("r1", 3), ("r2", 1), ("r2", 2), ("r3", 3)]
    cells = build_cells(
        spark.createDataFrame(rows, "reference_id string, item_id long")
    )
    stats = valid_item_stats(cells)

    def dots(cap):
        return {
            (r["item_a"], r["item_b"]): r["dot"]
            for r in gram(cells, stats, max_context_degree=cap).collect()
        }

    assert dots(None) == {
        (1, 2): 2.0, (2, 1): 2.0, (1, 3): 1.0, (3, 1): 1.0,
        (2, 3): 1.0, (3, 2): 1.0,
    }
    # r1 holds 3 items: a cap of 2 drops it, leaving r2's (1, 2) pair
    assert dots(2) == {(1, 2): 1.0, (2, 1): 1.0}
    assert dots(3) == dots(None)
    for cap in (0, -1):
        with pytest.raises(ValueError, match="max_context_degree"):
            gram(cells, stats, max_context_degree=cap)
    with pytest.raises(ValueError, match="max_context_degree"):
        corr_pairs(cells, max_context_degree=0)


@pytest.mark.parametrize("cap", [None, 3])
def test_gram_half_join_matches_dense(spark, cap):
    """gram joins only item_a < item_b and mirrors each summed row, so
    its output must equal the off-diagonal nonzeros of a dense NumPy
    A·Aᵀ in BOTH directions — over a log with a repeated event (cnt 2)
    and one hot context, with the cap off and binding (cap 3 drops the
    hot context, counted over the valid items gram keeps). The plan
    filters the join output on item_a < item_b below the aggregate."""
    import re

    from propius_spark.operators import gram

    rows = [("hot", it) for it in range(1, 7)] + [
        ("r1", 1), ("r1", 1), ("r1", 2),
        ("r2", 2), ("r2", 3),
        ("r3", 3), ("r3", 4), ("r3", 4),
        ("r4", 5), ("r4", 1),
        ("r5", 6), ("r5", 2), ("r5", 4),
        ("r6", 5),
    ]
    cells = build_cells(spark.createDataFrame(rows, "reference_id string, item_id long"))
    stats = valid_item_stats(cells)
    df = gram(cells, stats, max_context_degree=cap)
    got = {(r["item_a"], r["item_b"]): r["dot"] for r in df.collect()}

    dense, items = crosstab_numpy(rows, "distinct")
    valid = {r["item_id"] for r in stats.collect()}
    assert valid == set(items), "fixture must keep every item valid"
    assert dense.max() == 2
    if cap is not None:
        dense = dense[:, (dense > 0).sum(axis=0) <= cap]
        assert dense.shape[1] < len({ref for ref, _ in rows}), "cap must bind"
    dots = dense @ dense.T
    expect = {
        (items[i], items[j]): float(dots[i, j])
        for i in range(len(items))
        for j in range(len(items))
        if i != j and dots[i, j] != 0
    }
    assert got == expect

    tree = df._jdf.queryExecution().executedPlan().toString().splitlines()
    half = [i for i, ln in enumerate(tree) if re.search(r"item_a#\d+L < item_b#\d+L", ln)]
    partial = [i for i, ln in enumerate(tree) if "partial_sum" in ln]
    assert half and partial and partial[0] < half[0], "\n".join(tree)


def test_candidates_stddev_matches_dense(spark):
    """similar_items_candidates' std_dev branch (round-9 single-window
    rewrite) against a dense NumPy brute force: per item, the cut is
    mean + k·σ (sample std) over its CO-OCCURRING candidate corrs only,
    membership on 6-dp-rounded corr vs 6-dp-rounded cut. The fixture's
    corrs are nowhere within 1e-4 of any cut (asserted), so a last-ulp
    window-vs-hash-aggregate difference cannot flip membership and set
    equality is exact."""
    from propius_spark.operators.similarity import similar_items_candidates

    rng = np.random.RandomState(11)
    rows = []
    for ref in range(30):
        for it in rng.choice(20, size=rng.randint(1, 5), replace=True):
            rows.append((f"r{ref}", int(it) + 1))
    df = spark.createDataFrame(rows, "reference_id string, item_id long")
    cells = build_cells(df)

    dense, items = crosstab_numpy(rows, "distinct")
    corr = np.corrcoef(dense)
    valid = [i for i, it in enumerate(items) if not np.isnan(corr[i]).all()]
    cooc = dense @ dense.T  # >0 where a pair shares a context
    k = 0.5
    expect = set()
    for i in valid:
        cand = [
            j for j in valid if j != i and cooc[items.index(items[i]), j] > 0
        ]
        cs = np.array([corr[i, j] for j in cand])
        if len(cs) == 0:
            continue
        cut = cs.mean() + k * cs.std(ddof=1) if len(cs) >= 2 else np.nan
        for j, c in zip(cand, cs):
            # NaN cut (single candidate) matches nothing — both engines
            # propagate NaN through the >= as false
            if not np.isnan(cut):
                assert abs(c - cut) > 1e-4, "fixture too close to a cut"
            if not np.isnan(cut) and round(c, 6) >= round(cut, 6):
                expect.add((items[i], items[j]))

    got = {
        (r["item_a"], r["item_b"])
        for r in similar_items_candidates(
            cells, threshold_method="std_dev", threshold_value=k
        ).collect()
    }
    assert expect, "fixture produced no expected pairs"
    assert got == expect


def test_exact_build_matches_single_item_rows(spark):
    """Two independent exact algorithms for one item's published row
    must agree on every item: similar_items_exact (Gram + analytic
    per-item row sums) against get_similar_items (the explicit O(V)
    row, numeric avg/stddev_samp). The seeded log has a hot context,
    a zero-variance item (13: once in every context), an item that
    co-occurs with every other (12: in every context, 1-3 times), a
    rank-1 item absent only from the hot and single-item contexts
    (15), two planted correlated pairs (7/8, 9/10) that clear the 2σ
    cut and two single-context items (11, 14) whose row extremes are
    non-co-occurring corrs. Every corr sits ≥1e-4 from its item's cut
    (asserted), so set equality is exact. scaled_score is checked
    against the dense row's extremes, which pins the rank-gap min/max
    over non-co-occurring neighbors."""
    from propius_spark.operators.similarity import (
        get_similar_items,
        similar_items_exact,
    )

    rng = np.random.RandomState(18)
    rows = [("hot", it) for it in (1, 2, 3, 4, 5, 6)] + [("s0", 11), ("s1", 14)]
    for ref in range(24):
        for it in rng.choice(10, size=rng.randint(1, 4), replace=True):
            rows.append((f"r{ref}", int(it) + 1))
    for ref in range(8):
        pair = (7, 8) if ref < 4 else (9, 10)
        rows += [(f"p{ref}", pair[0]), (f"p{ref}", pair[1])]
    refs = sorted({r for r, _ in rows})
    busy = [r for r in refs if r not in ("hot", "s0", "s1")]
    rows += [(r, 12) for r in refs]
    rows += [(r, 12) for r in busy for _ in range(rng.randint(0, 3))]
    rows += [(r, 15) for r in busy]
    rows += [(r, 13) for r in refs]
    cells = build_cells(
        spark.createDataFrame(rows, "reference_id string, item_id long")
    )

    dense, items = crosstab_numpy(rows, "distinct")
    with np.errstate(invalid="ignore", divide="ignore"):
        corr = np.corrcoef(dense)
    valid = [i for i in range(len(items)) if not np.isnan(corr[i]).all()]
    assert 13 not in [items[i] for i in valid] and len(valid) == 14
    cooc = dense @ dense.T
    assert all(cooc[items.index(12), j] > 0 for j in valid)
    extremes = {}
    for i in valid:
        cs = np.array([corr[i, j] for j in valid if j != i])
        cut = cs.mean() + 2.0 * cs.std(ddof=1)
        assert np.abs(cs - cut).min() > 1e-4, "fixture too close to a cut"
        extremes[items[i]] = (cs.min(), cs.max())

    # k_sigma=-10 publishes every neighbor, so every item's scaled
    # scores pin its row extremes
    full = similar_items_exact(cells, k_sigma=-10.0).collect()
    assert len(full) == len(valid) * (len(valid) - 1)
    for r in full:
        mn, mx = extremes[r["item_a"]]
        np.testing.assert_allclose(
            r["scaled_score"], (r["corr"] - mn) / (mx - mn), atol=1e-9
        )
    exact = similar_items_exact(cells, k_sigma=2.0).collect()
    assert exact, "fixture produced no published rows"
    for i in valid:
        it = items[i]
        got = [r for r in exact if r["item_a"] == it]
        want = {
            (r["item_b"], round(r["corr"], 6))
            for r in get_similar_items(cells, it, "std_dev", 2.0).collect()
        }
        assert {(r["item_b"], round(r["corr"], 6)) for r in got} == want, it
        mn, mx = extremes[it]
        for r in got:
            np.testing.assert_allclose(
                r["scaled_score"], (r["corr"] - mn) / (mx - mn), atol=1e-9
            )


def test_neighbor_stats_match_bruteforce(spark):
    """Analytic mean/std/min/max over the FULL neighbor row (incl.
    non-co-occurring pairs) must equal the brute-force dense result."""
    rng = np.random.RandomState(7)
    rows = []
    for ref in range(40):
        for it in rng.choice(30, size=rng.randint(1, 6), replace=True):
            rows.append((f"r{ref}", int(it) + 1))
    df = spark.createDataFrame(rows, "reference_id string, item_id long")
    cells = build_cells(df)
    ns = {r["item_id"]: r.asDict() for r in neighbor_stats(cells).collect()}

    dense, items = crosstab_numpy(rows, "distinct")
    corr = np.corrcoef(dense)
    valid = [i for i, it in enumerate(items) if not np.isnan(corr[i]).all()]
    # restrict to valid rows/cols (NaN rows are dropped by the engine)
    for i in valid:
        it = items[i]
        neigh = np.array([corr[i, j] for j in valid if j != i])
        assert it in ns, f"item {it} missing from neighbor_stats"
        np.testing.assert_allclose(ns[it]["mean"], neigh.mean(), rtol=1e-9)
        np.testing.assert_allclose(ns[it]["std"], neigh.std(ddof=1), rtol=1e-9)
        np.testing.assert_allclose(ns[it]["mn"], neigh.min(), rtol=1e-9)
        np.testing.assert_allclose(ns[it]["mx"], neigh.max(), rtol=1e-9)
        assert ns[it]["m"] == len(neigh)
    invalid_items = {items[i] for i in range(len(items)) if i not in valid}
    assert invalid_items.isdisjoint(ns.keys())


def test_vstack_cross_set(spark):
    """Union of a second item set (reference sparse.vstack,
    propius/similarity.py:28-29): correlations across sets appear with
    offset ids and match numpy on the stacked matrix."""
    rows_a = [("r1", 1), ("r2", 1), ("r1", 2), ("r2", 2), ("r2", 2)]
    rows_b = [("r1", 1), ("r2", 2)]
    df_a = spark.createDataFrame(rows_a, "reference_id string, item_id long")
    df_b = spark.createDataFrame(rows_b, "reference_id string, item_id long")
    stacked = vstack(build_cells(df_a), build_cells(df_b), offset=100)
    pairs = {(r["item_a"], r["item_b"]): r["corr"] for r in corr_pairs(stacked).collect()}
    # cross-set pair (1, 101): item 1 counts [1,1] is zero-variance → absent
    assert all(a != 1 and b != 1 for a, b in pairs)
    # item 2 counts [1,2]; item 101 (b-set 1) counts [1,0]; corr = -1
    np.testing.assert_allclose(pairs[(2, 101)], -1.0, atol=1e-12)


def test_top_k_per_item_caps_and_orders(spark):
    from propius_spark.operators import top_k_per_item

    pairs = spark.createDataFrame(
        [
            (1, 2, 0.9), (1, 3, 0.8), (1, 4, 0.8), (1, 5, 0.1),
            (2, 1, 0.5),
        ],
        "item_a long, item_b long, corr double",
    )
    got = sorted(
        (r.item_a, r.item_b, r.corr)
        for r in top_k_per_item(pairs, k=2).collect()
    )
    # item 1: 0.9 then the 0.8 tie broken by item_b asc (3 beats 4)
    assert got == [(1, 2, 0.9), (1, 3, 0.8), (2, 1, 0.5)]


def test_publish_unique_keys(spark, tmp_path):
    """publish_model's fact table is unique per (item_a_id, item_b_id)
    BY CONSTRUCTION — no dedup shuffle before the write (publish.py).
    k_sigma=-10 drives every cut negative so the non-co-occurring
    branch fires too; the published table must still hold the
    reference's UNIQUE(item_a_id, item_b_id) invariant."""
    from propius_spark.operators import publish_model

    occ = spark.createDataFrame(
        FIXTURE_ROWS, "reference_id string, item_id long"
    )
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, title string"
    )
    paths = publish_model(occ, dim, str(tmp_path / "m"), k_sigma=-10.0)
    sims = spark.read.parquet(paths["similar_items"])
    total = sims.count()
    distinct = sims.select("item_a_id", "item_b_id").distinct().count()
    assert total == distinct and total > 0
    # k_sigma=-10 keeps every pair incl. non-co-occurring: 4 items
    # → 4·3 directed pairs
    assert total == 12


def test_publish_bucketed_write_equivalence(spark, tmp_path):
    """n_buckets > 0 changes only the FILE LAYOUT: same rows and the
    same columns apart from `bucket` as the unbucketed store, and each
    bucket directory holds exactly one parquet file (one write task
    per bucket)."""
    from pathlib import Path

    from propius_spark.operators import publish_model

    occ = spark.createDataFrame(
        FIXTURE_ROWS, "reference_id string, item_id long"
    )
    dim = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, title string"
    )
    p0 = publish_model(occ, dim, str(tmp_path / "m0"), k_sigma=-10.0)
    p2 = publish_model(occ, dim, str(tmp_path / "m2"), k_sigma=-10.0,
                       n_buckets=2)
    a = spark.read.parquet(p0["similar_items"])
    b = spark.read.parquet(p2["similar_items"]).drop("bucket")
    assert sorted(a.columns) == sorted(b.columns)
    rows_a = sorted(map(tuple, a.select(*sorted(a.columns)).collect()))
    rows_b = sorted(map(tuple, b.select(*sorted(a.columns)).collect()))
    assert rows_a == rows_b and len(rows_a) == 12
    for bucket in (0, 1):
        d = Path(p2["similar_items"]) / f"bucket={bucket}"
        assert len(list(d.glob("*.parquet"))) == 1


def test_publish_failed_fact_write_leaves_no_dim(spark, tmp_path):
    """The store is published in one sequential path: coverage probe,
    fact write, then dim write. A fact side that fails (here an
    occurrence row that raises inside the job) must leave neither
    table behind — no new dim next to a missing or stale fact."""
    from propius_spark.operators import publish_model

    occ = spark.createDataFrame(
        FIXTURE_ROWS, "reference_id string, item_id long"
    ).withColumn(
        "item_id",
        F.when(F.col("item_id") == 3, F.raise_error(F.lit("bad item"))).otherwise(
            F.col("item_id")
        ),
    )
    healthy = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, title string"
    )
    out = tmp_path / "m"
    with pytest.raises(Exception, match="bad item"):
        publish_model(occ, healthy, str(out), k_sigma=-10.0)
    assert not (out / "correlated_items").exists()
    assert not (out / "similar_items").exists()


def test_publish_dim_coverage_guard(spark, tmp_path):
    """SCALE.md §8a finding 2: a name-degenerate dictionary (few
    distinct titles across many ids) silently starves name-filtered
    serving. publish_model must (a) warn below 50% coverage while
    still publishing, (b) raise BEFORE writing when the caller pins
    min_dim_coverage, and (c) stay silent and report coverage 1.0 on a
    healthy dim."""
    import warnings

    import pytest

    from propius_spark.operators import publish_model

    occ = spark.createDataFrame(
        FIXTURE_ROWS, "reference_id string, item_id long"
    )
    # 4 ids, ONE distinct title → coverage 0.25
    degenerate = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "x")], "id long, title string"
    )
    with pytest.warns(UserWarning, match="survive the unique-key dedup"):
        paths = publish_model(
            occ, degenerate, str(tmp_path / "warn"), k_sigma=-10.0
        )
    assert paths["dim_coverage"] == 0.25
    # the publish itself still completed
    assert spark.read.parquet(paths["similar_items"]).count() == 12

    out = tmp_path / "strict"
    with pytest.raises(ValueError, match="dim coverage"):
        publish_model(
            occ, degenerate, str(out), k_sigma=-10.0, min_dim_coverage=0.5
        )
    assert not out.exists()  # strict mode aborted before any write

    healthy = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, None)], "id long, title string"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning here fails the test
        paths = publish_model(occ, healthy, str(tmp_path / "ok"),
                              k_sigma=-10.0)
    # NULL titles all survive the dedup (SQLite NULL-distinct posture)
    assert paths["dim_coverage"] == 1.0


def test_encode_contexts_drops_null_refs_keeps_dense_ids(spark):
    """NULL reference_ids are dropped; real contexts still get dense
    0-based ids (the null used to absorb rank 0 and its rows silently
    vanished in the join)."""
    from propius_spark.operators import encode_contexts

    occ = spark.createDataFrame(
        [(None, 1), ("a", 1), ("b", 2), ("a", 3)],
        "reference_id string, item_id long",
    )
    rows = encode_contexts(occ).collect()
    assert len(rows) == 3  # the null-ref row is gone
    ids = {r.reference_id: r.ctx_id for r in rows}
    assert ids == {"a": 0, "b": 1}  # dense, 0-based


def test_vstack_validate_catches_collision(spark):
    import pytest

    from propius_spark.operators import vstack

    a = spark.createDataFrame([(10, 1, 1)], "item_id long, ctx_id long, cnt long")
    b = spark.createDataFrame([(3, 1, 1)], "item_id long, ctx_id long, cnt long")
    with pytest.raises(ValueError, match="collide"):
        vstack(a, b, offset=5, validate=True)
    # valid offset passes and shifts
    rows = {r.item_id for r in vstack(a, b, offset=11, validate=True).collect()}
    assert rows == {10, 14}


def test_vstack_int32_ids_widen_before_shift(spark):
    """Round-4 review fix: an int32 item_id column must widen to long
    BEFORE the offset add — the 32-bit addition overflowed (ANSI: job
    dies; legacy: ids wrap negative and collide)."""
    from propius_spark.operators import vstack

    a = spark.createDataFrame([(1, 1, 1.0)], "item_id int, ctx_id long, cnt double")
    b = spark.createDataFrame(
        [(2_000_000_000, 1, 1.0)], "item_id int, ctx_id long, cnt double"
    )
    out = vstack(a, b, offset=2_000_000_000).collect()
    ids = sorted(r.item_id for r in out)
    assert ids == [1, 4_000_000_000]


def test_item_stats_sums_in_double_not_long(spark):
    """Round-4 review fix: the per-item sums run in double (cnt is
    double from build_cells, the oracle's COUNT(*)::DOUBLE twin) so
    q = Σcnt² cannot wrap/overflow 2^63 at scale."""
    from propius_spark.operators.correlation import item_stats

    big = 3_100_000_000.0  # big² > 2^63: the old long sum overflowed
    cells = spark.createDataFrame(
        [(1, 1, big), (1, 2, big)], "item_id long, ctx_id long, cnt double"
    )
    row = item_stats(cells).collect()[0]
    assert row.q == 2 * big * big  # exact in double (< 2^53 ulp range)


def test_encode_contexts_replay_drops_null_refs(spark):
    """Round-4 review fix: NULL reference_ids merged into the previous
    run AND forced the next row to start a new serial; they are now
    dropped (same policy as encode_contexts)."""
    from propius_spark.operators.context import encode_contexts_replay

    df = spark.createDataFrame(
        [(1, "A", 10), (2, None, 10), (3, "A", 10)],
        "ord long, reference_id string, item_id long",
    )
    out = {r.ord: r.ctx_id for r in encode_contexts_replay(df, "ord").collect()}
    # with the null dropped, rows 1 and 3 are ONE run
    assert out == {1: 0, 3: 0}


def test_get_similar_items_hot_item_shuffle_fallback(spark, monkeypatch):
    """VERDICT r5 nit 1: when the target item's context vector exceeds
    BROADCAST_MAX_CONTEXTS, get_similar_items must fall back to a plain
    shuffle join with IDENTICAL results — a synthetic hot item whose
    vector is 'too big' at a threshold of 1 exercises the fallback, and
    the default threshold gives the broadcast plan to compare against."""
    from pyspark.sql import functions as F

    from propius_spark.operators import similarity
    from propius_spark.operators.cells import build_cells
    from propius_spark.operators.similarity import get_similar_items

    rows = []
    # hot item 1 co-occurs with items 2..6 across 8 contexts; double it
    # in ctx 0 so its vector is non-constant (zero-variance items are
    # invalid and dropped by design)
    rows.append(("0", 1))
    for ctx in range(8):
        rows.append((str(ctx), 1))
        rows.append((str(ctx), 2 + ctx % 5))
        rows.append((str(ctx), 2 + (ctx + 1) % 5))
    occ = spark.createDataFrame(rows, "reference_id string, item_id long")
    cells = build_cells(occ)

    def canon(df):
        return sorted((r.item_b, round(r.corr, 9)) for r in df.collect())

    broadcasted = get_similar_items(cells, 1, "absolute", -2.0)
    monkeypatch.setattr(similarity, "BROADCAST_MAX_CONTEXTS", 1)
    shuffled = get_similar_items(cells, 1, "absolute", -2.0)
    got = canon(shuffled)
    assert canon(broadcasted) == got
    assert len(got) > 0
    # AQE may still choose a broadcast for a tiny shuffle join, so the
    # pin here is semantics (identical results), not the physical plan;
    # the guard's purpose — no F.broadcast HINT past the threshold — is
    # visible in the code path itself.
