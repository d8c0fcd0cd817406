"""Property-based tests (SURVEY.md §5.3) on randomized co-occurrence
tables: the engine's sparse closed-form Pearson must agree with
np.corrcoef over the dense crosstab on EVERY input, not just the golden
fixture — including symmetry, the analytic −t_a·t_b value for pairs
with no shared context, row-order invariance (the dense_rank context
encoding decision), and the full publication semantics (mean+kσ cut +
min-max scaling) against a dense brute force.

Each example runs real Spark jobs; example counts are kept small and
deadlines off (JVM scheduling noise).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from propius_spark.operators import (
    build_cells,
    corr_pairs,
    similar_items_exact,
    valid_item_stats,
)
from propius_spark.session import clear_materialized

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

occurrence_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(1, 6)),
    min_size=4,
    max_size=40,
)


def _dense(rows):
    """Dense crosstab + np.corrcoef oracle over distinct-context
    encoding (one column per distinct reference id)."""
    refs = sorted({r for r, _ in rows})
    items = sorted({i for _, i in rows})
    m = np.zeros((len(items), len(refs)))
    rpos = {r: j for j, r in enumerate(refs)}
    ipos = {i: j for j, i in enumerate(items)}
    for r, i in rows:
        m[ipos[i], rpos[r]] += 1
    return m, items


def _stats(m):
    """Per-row s, q, den² with n = #contexts (den² > 0 ⇔ valid)."""
    n = m.shape[1]
    s = m.sum(axis=1)
    q = (m * m).sum(axis=1)
    return n, s, q, n * q - s * s


def _engine_pairs(spark, rows):
    df = spark.createDataFrame(
        [(f"r{r}", i) for r, i in rows], "reference_id string, item_id long"
    )
    cells = build_cells(df)
    pairs = {
        (r["item_a"], r["item_b"]): r["corr"]
        for r in corr_pairs(cells).collect()
    }
    stats = {r["item_id"]: r["t"] for r in valid_item_stats(cells).collect()}
    clear_materialized(spark)
    return pairs, stats


@given(rows=occurrence_rows)
@settings(**SETTINGS)
def test_corr_matches_corrcoef_everywhere(spark, rows):
    """Emitted pairs ≡ np.corrcoef; non-emitted valid pairs carry the
    analytic −t_a·t_b; symmetry holds; values lie in [−1, 1]±ε."""
    pairs, t = _engine_pairs(spark, rows)
    m, items = _dense(rows)
    n, s, q, den2 = _stats(m)
    valid = {it for it, d2 in zip(items, den2) if d2 > 0}
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.corrcoef(m) if len(items) > 1 else np.ones((1, 1))
    ipos = {it: j for j, it in enumerate(items)}

    for (a, b), v in pairs.items():
        assert a in valid and b in valid and a != b
        want = corr[ipos[a], ipos[b]]
        assert math.isclose(v, want, rel_tol=1e-9, abs_tol=1e-9), (a, b, v, want)
        assert -1.000000001 <= v <= 1.000000001
        assert (b, a) in pairs and math.isclose(pairs[(b, a)], v, rel_tol=0, abs_tol=0)

    # every valid pair NOT emitted shares no context and its true
    # correlation is the separable −t_a·t_b
    for a in valid:
        for b in valid:
            if a != b and (a, b) not in pairs:
                assert float(np.dot(m[ipos[a]], m[ipos[b]])) == 0.0
                want = corr[ipos[a], ipos[b]]
                assert math.isclose(-t[a] * t[b], want, rel_tol=1e-9, abs_tol=1e-9)


@given(rows=occurrence_rows, seed=st.integers(0, 2**31 - 1))
@settings(**SETTINGS)
def test_row_order_invariance(spark, rows, seed):
    """The reference requires input sorted by reference_id (run-length
    serials, propius/similarity.py:67-85); the engine's dense_rank /
    distinct-context encoding must give identical correlations for ANY
    row order — the §2 op-9 design decision, property-verified."""
    rng = np.random.default_rng(seed)
    shuffled = [rows[k] for k in rng.permutation(len(rows))]
    p1, _ = _engine_pairs(spark, rows)
    p2, _ = _engine_pairs(spark, shuffled)
    assert p1.keys() == p2.keys()
    for k, v in p1.items():
        assert math.isclose(v, p2[k], rel_tol=1e-9, abs_tol=1e-12)


@given(rows=occurrence_rows)
@settings(**SETTINGS)
def test_publication_matches_dense_bruteforce(spark, rows):
    """similar_items_exact ≡ the reference's per-item loop done densely:
    full correlation row per valid item → sample mean/std over all V−1
    neighbors → keep corr ≥ mean + kσ → min-max scale (0.0 when the row
    is constant). Also verifies the mean+kσ selection is invariant
    under min-max scaling (affine), because the brute force selects in
    raw space while scoring in scaled space.

    Cut comparisons allow an ε-band: engine (separable sums) and numpy
    (direct row stats) can disagree by 1e-15 exactly AT the boundary
    corr == cut (e.g. constant rows where std = 0).
    """
    k_sigma = 1.0
    eps = 1e-9
    df = spark.createDataFrame(
        [(f"r{r}", i) for r, i in rows], "reference_id string, item_id long"
    )
    got = {}
    for r in similar_items_exact(build_cells(df), k_sigma=k_sigma).collect():
        got[(r["item_a"], r["item_b"])] = (r["corr"], r["scaled_score"])
    clear_materialized(spark)

    m, items = _dense(rows)
    n, s, q, den2 = _stats(m)
    vitems = [it for it, d2 in zip(items, den2) if d2 > 0]
    ipos = {it: j for j, it in enumerate(items)}
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = np.corrcoef(m) if len(items) > 1 else np.ones((1, 1))

    must, may = set(), set()
    expect_scaled = {}
    for a in vitems:
        row = {b: corr[ipos[a], ipos[b]] for b in vitems if b != a}
        if len(row) < 2:
            continue  # std undefined over <2 neighbors → nothing selected
        vals = np.array(list(row.values()))
        cut = vals.mean() + k_sigma * vals.std(ddof=1)
        mn, mx = vals.min(), vals.max()
        # np.corrcoef can return values 1 ulp apart for pairs whose
        # true correlations are mathematically equal (e.g. all −1/2):
        # on such a row BOTH engines see a noise "range" (not
        # necessarily the same one — the closed form and np.corrcoef
        # jitter independently), so the only portable claim is
        # scaled ∈ [0, 1]; `scaled = None` marks that below
        constant_row = (mx - mn) <= 1e-12
        for b, v in row.items():
            scaled = None if constant_row else (v - mn) / (mx - mn)
            if v > cut + eps:
                must.add((a, b))
                expect_scaled[(a, b)] = (v, scaled)
            if v >= cut - eps:
                may.add((a, b))
                expect_scaled[(a, b)] = (v, scaled)

    assert must <= set(got.keys()) <= may, (
        sorted(must - set(got)), sorted(set(got) - may)
    )
    for k, (v, scaled) in got.items():
        ev, es = expect_scaled[k]
        assert math.isclose(v, ev, rel_tol=1e-9, abs_tol=1e-9)
        if es is None:  # constant-within-noise row (see above)
            assert -1e-9 <= scaled <= 1 + 1e-9
        else:
            assert math.isclose(scaled, es, rel_tol=1e-9, abs_tol=1e-9)


# tie-heavy tiny universe: 3 contexts × 3 items makes identical
# crosstab columns (equal t), single-neighbor items (V = 2), and
# all-cooccurring items (null rank-gap extremes) all common draws
tied_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(1, 3)),
    min_size=2,
    max_size=20,
)


@given(rows=st.one_of(occurrence_rows, tied_rows))
# committed regression seeds (the .hypothesis example DB is gitignored,
# so the adversarial shapes are pinned as always-run @example cases):
# equal-t tie between items 1 and 2 with a non-cooc item 4 on its own
# context; two isolated single-neighbor items (V=2, both extremes =
# the other's corr); two valid items that co-occur (no non-cooc
# neighbor: the rank-gap min is null, the max is the cooc corr); the
# bottom-ranked item (2, strictly smaller t) co-occurring with nobody,
# so its row max is −t·t of rank V−1, not of its own rank V
@example(rows=[(0, 1), (1, 1), (0, 2), (1, 2), (0, 3), (2, 4)])
@example(rows=[(0, 1), (0, 1), (1, 2), (1, 2)])
@example(rows=[(0, 1), (0, 1), (1, 1), (0, 2), (1, 2), (1, 2)])
@example(rows=[(0, 1), (1, 1), (2, 2)])
@settings(**SETTINGS)
def test_neighbor_extremes_match_dense_bruteforce(spark, rows):
    """neighbor_stats' row extremes (cooc min/max combined with the
    non-co-occurring min/max read off the t ranks) ≡ the dense
    definition on every random table: per valid item a, mn/mx are
    exactly min/max of corr(a, b) over ALL V−1 valid b ≠ a, and deg is
    the number of valid b ≠ a with dot(a, b) > 0. The tied strategy
    drives the adversarial shapes the sorted-pass gap test must
    survive: equal-t runs (rank ties broken by id), V = 2
    single-neighbor items, and gapless prefixes on both scan sides
    (an item co-occurring with every other valid item)."""
    from propius_spark.operators import neighbor_stats

    df = spark.createDataFrame(
        [(f"r{r}", i) for r, i in rows], "reference_id string, item_id long"
    )
    got = {
        r["item_id"]: (r["mn"], r["mx"], r["deg"])
        for r in neighbor_stats(build_cells(df)).collect()
    }
    clear_materialized(spark)

    m, items = _dense(rows)
    *_, den2 = _stats(m)
    valid = [j for j, d2 in enumerate(den2) if d2 > 0]
    want = {}
    if len(valid) >= 2:
        corr = np.corrcoef(m[valid])
        for x, a in enumerate(valid):
            row = [corr[x, y] for y in range(len(valid)) if y != x]
            deg = sum(
                1 for b in valid if b != a and float(np.dot(m[a], m[b])) > 0
            )
            want[items[a]] = (min(row), max(row), deg)

    assert set(got) == set(want), (sorted(got), sorted(want))
    for a, (mn, mx, deg) in want.items():
        gmn, gmx, gdeg = got[a]
        assert math.isclose(gmn, mn, rel_tol=1e-9, abs_tol=1e-12), (a, gmn, mn)
        assert math.isclose(gmx, mx, rel_tol=1e-9, abs_tol=1e-12), (a, gmx, mx)
        assert gdeg == deg, (a, gdeg, deg)


edge_lists = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=1,
    max_size=40,
)


def _union_find(edges) -> dict[int, int]:
    """Sequential union-find labels (node → component minimum) of the
    graph's non-self-loop edges."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nodes = set()
    for a, b in edges:
        if a != b:
            nodes |= {a, b}
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # union-find roots are already the component minimum because
    # unions always point the larger root at the smaller
    return {n: find(n) for n in nodes}


@given(edges=edge_lists)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_dup_clusters_matches_union_find(spark, edges):
    """large-star/small-star connected components ≡ a sequential
    union-find on every random graph (self-loops dropped, arbitrary
    topology — chains, cycles, stars, forests)."""
    from propius_spark.operators import dup_clusters

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()
    }
    clear_materialized(spark)
    assert got == _union_find(edges)


@given(edges=edge_lists)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@example(edges=[(1, 5), (6, 1), (9, 7)])  # star forest given upward
@example(edges=[(3, 3)])  # no edge at all
@example(edges=[(5, 1), (5, 2)])  # two smaller neighbors
@example(edges=[(5, 3), (3, 1)])  # a root that is also a leaf
def test_dup_clusters_one_round_proves_exactly_star_forests(spark, edges):
    """One round's in-window proof is exact: ``max_iter=1`` raises
    non-convergence iff the canonical (larger → smaller) edge set is
    not a downward star forest — every node with an edge to a smaller
    node has exactly one, and no such node is also a smaller end —
    and when it returns, it equals the union-find."""
    import pytest

    from propius_spark.operators import dup_clusters

    down = {(max(a, b), min(a, b)) for a, b in edges if a != b}
    leaves = [u for u, _ in down]
    star_forest = len(leaves) == len(set(leaves)) and not (
        set(leaves) & {v for _, v in down}
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    try:
        if not star_forest:
            with pytest.raises(RuntimeError, match="did not converge"):
                dup_clusters(pairs, max_iter=1)
            return
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(pairs, max_iter=1).collect()
        }
    finally:
        clear_materialized(spark)
    assert got == _union_find(edges)


event_rows = st.lists(
    st.tuples(st.integers(0, 4), st.integers(0, 10_000)),
    min_size=1,
    max_size=60,
)


@given(rows=event_rows, gap=st.integers(1, 2000))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_sessionize_matches_bruteforce(spark, rows, gap):
    """Window-function sessionization ≡ a per-user sequential scan on
    random event sets (duplicate timestamps included)."""
    from propius_spark.operators import sessionize

    df = spark.createDataFrame(
        [(u, t * 1000) for u, t in rows], "user_id long, ts long"  # ns
    )
    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in sessionize(df, gap_minutes=gap / 60_000_000 * 1000).collect()
    )

    gap_us = int(gap / 60_000_000 * 1000 * 60_000_000)
    want = []
    by_user: dict[int, list[int]] = {}
    for u, t in rows:
        by_user.setdefault(u, []).append(t)  # t already micros
    for u, ts in by_user.items():
        ts.sort()
        start = last = ts[0]
        n = 1
        for t in ts[1:]:
            if t - last <= gap_us:
                last = t
                n += 1
            else:
                want.append((u, start, last, n))
                start = last = t
                n = 1
        want.append((u, start, last, n))
    assert got == sorted(want)


asof_rows = st.tuples(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=30),
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=0, max_size=30),
)


@given(data=asof_rows)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_asof_join_matches_pandas_merge_asof(spark, data):
    """asof_join ≡ pandas.merge_asof (backward, allow_exact_matches)
    on random series — including keys with no right history. Right
    timestamps are deduplicated per key (tie winner is unspecified in
    both engines)."""
    import pandas as pd

    from propius_spark.operators import asof_join

    lrows, rrows = data
    rdedup = {}
    for i, (k, t) in enumerate(rrows):
        rdedup[(k, t)] = float(i)
    rrows2 = [(k, t, v) for (k, t), v in rdedup.items()]

    left = spark.createDataFrame(
        [(k, t * 1000, i) for i, (k, t) in enumerate(lrows)],
        "k long, ts long, lid long",  # ts ns
    )
    right = spark.createDataFrame(
        [(k, t * 1000, v) for k, t, v in rrows2], "k long, ts long, v double"
    ) if rrows2 else spark.createDataFrame([], "k long, ts long, v double")
    got = sorted(
        (r.k, r.ts_us, r.lid, r.v)
        for r in asof_join(left, right, on="k").collect()
    )

    if rrows2:
        lpd = pd.DataFrame(
            [(k, t, i) for i, (k, t) in enumerate(lrows)],
            columns=["k", "ts", "lid"],
        ).sort_values("ts", kind="stable")
        rpd = pd.DataFrame(rrows2, columns=["k", "ts", "v"]).sort_values(
            "ts", kind="stable"
        )
        m = pd.merge_asof(
            lpd, rpd, on="ts", by="k", direction="backward",
            allow_exact_matches=True,
        )
        want = sorted(
            (int(r.k), int(r.ts), int(r.lid), None if pd.isna(r.v) else float(r.v))
            for r in m.itertuples()
        )
    else:  # no right history at all → every left row gets null
        want = sorted(
            (k, t, i, None) for i, (k, t) in enumerate(lrows)
        )
    assert got == want


asof_null_rows = st.tuples(
    st.lists(st.tuples(st.integers(0, 3), st.integers(0, 200)), min_size=1, max_size=25),
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 200),
            st.one_of(st.none(), st.integers(0, 99)),
            st.one_of(st.none(), st.integers(0, 99)),
        ),
        min_size=1,
        max_size=25,
    ),
)


@given(data=asof_null_rows)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_asof_join_null_values_keep_row_integrity(spark, data):
    """With nulls scattered across TWO right-side value columns, every
    left row must receive both values from the SAME matched right row —
    including its nulls — exactly as pandas merge_asof attaches whole
    rows. Guards against per-column last(ignorenulls) fills that (a)
    skip a matched NULL for an older non-null and (b) mix columns from
    different right rows."""
    import pandas as pd

    from propius_spark.operators import asof_join

    lrows, rrows = data
    # dedupe right (key, ts): tie winner is unspecified in both engines
    rdedup = {}
    for k, t, a, b in rrows:
        rdedup[(k, t)] = (a, b)
    rrows2 = [(k, t, a, b) for (k, t), (a, b) in rdedup.items()]

    left = spark.createDataFrame(
        [(k, t * 1000, i) for i, (k, t) in enumerate(lrows)],
        "k long, ts long, lid long",  # ts ns
    )
    right = spark.createDataFrame(
        [(k, t * 1000, a, b) for k, t, a, b in rrows2],
        "k long, ts long, va long, vb long",
    )
    got = sorted(
        (r.k, r.ts_us, r.lid, r.va, r.vb)
        for r in asof_join(left, right, on="k").collect()
    )

    lpd = pd.DataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], columns=["k", "ts", "lid"]
    ).sort_values("ts", kind="stable")
    rpd = pd.DataFrame(rrows2, columns=["k", "ts", "va", "vb"]).sort_values(
        "ts", kind="stable"
    )
    m = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction="backward",
        allow_exact_matches=True,
    )
    def _i(x):
        return None if pd.isna(x) else int(x)
    want = sorted(
        (int(r.k), int(r.ts), int(r.lid), _i(r.va), _i(r.vb))
        for r in m.itertuples()
    )
    assert got == want


corpus_rows = st.lists(
    st.tuples(
        st.integers(0, 20),
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=12),
    ),
    min_size=1,
    max_size=15,
    unique_by=lambda r: r[0],
)


def _py_shingles(words, k=3):
    return [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]


@given(docs=corpus_rows, bench=corpus_rows)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_decontaminate_matches_python_reference(spark, docs, bench):
    """decontaminate ≡ a literal python containment computation on
    random corpora (docs with < k tokens excluded; duplicate shingles
    counted once)."""
    from propius_spark.operators import decontaminate

    sdocs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs], "doc_id long, text string"
    )
    sbench = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in bench], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in decontaminate(sdocs, sbench, k=3).collect()
    }

    bset = set()
    for _, ws in bench:
        bset.update(_py_shingles(ws))
    want = {}
    for i, ws in docs:
        sh = set(_py_shingles(ws))
        if sh:
            want[i] = (len(sh), len(sh & bset))
    assert got == want


@given(docs=corpus_rows)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_repetition_stats_matches_python_reference(spark, docs):
    from collections import Counter

    from propius_spark.operators import repetition_stats

    sdocs = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_distinct, r.max_repeat)
        for r in repetition_stats(sdocs, k=3).collect()
    }
    want = {}
    for i, ws in docs:
        c = Counter(_py_shingles(ws))
        if c:
            want[i] = (sum(c.values()), len(c), max(c.values()))
    assert got == want


pair_sets = st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(
        lambda ab: ab[0] != ab[1]
    ),
    min_size=1,
    max_size=30,
)


@given(pairs=pair_sets, corrs=st.data())
@settings(**SETTINGS)
def test_reference_matrix_roundtrip_property(spark, pairs, corrs):
    """save_reference_matrix ∘ load_reference_matrix is the identity on
    ANY long-form pair set over a 0-based id space: every (a, b, corr)
    survives the dense .npy hop bit-for-bit, no extra entries appear
    (NaN fill and the implicit diagonal drop on load), and the matrix
    np.load sees is exactly the reference's shape."""
    import tempfile

    import numpy as np

    from propius_spark.sources import (
        load_reference_matrix,
        save_reference_matrix,
    )

    rows = [
        (a, b, corrs.draw(st.floats(-1, 1, allow_nan=False).map(lambda x: round(x, 6))))
        for a, b in sorted(pairs)
    ]
    df = spark.createDataFrame(rows, "item_a long, item_b long, corr double")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/m.npy"
        save_reference_matrix(df, path)
        m = np.load(path)
        n = 1 + max(max(a, b) for a, b, _ in rows)
        assert m.shape == (n, n)
        got = sorted(
            (r.item_a, r.item_b, r.corr)
            for r in load_reference_matrix(spark, path).collect()
        )
    assert got == rows


@given(seed=st.integers(0, 100), scale_seed=st.integers(0, 100))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_lsh_buckets_invariant_under_positive_scaling(spark, seed, scale_seed):
    """Cosine-LSH contract: sign(v·w) is unchanged by scaling v with
    any positive constant, so every vector's bucket set must be — the
    property that makes hyperplane buckets a valid COSINE family
    (norm-insensitive), unlike an L2 quantizer."""
    from propius_spark.operators import hyperplane_lsh_buckets

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(25, 8))
    scales = np.random.default_rng(scale_seed).uniform(0.01, 100.0, size=25)
    base = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    scaled = spark.createDataFrame(
        [(i, [float(x * s) for x in v])
         for (i, v), s in zip(enumerate(vecs), scales)],
        "vec_id long, embedding array<double>",
    )
    a = sorted(map(tuple, hyperplane_lsh_buckets(base, 8, 2, seed=5).collect()))
    b = sorted(map(tuple, hyperplane_lsh_buckets(scaled, 8, 2, seed=5).collect()))
    assert a == b


key_sets = st.lists(
    st.integers(0, 2**62), min_size=1, max_size=300, unique=True
)


@given(keys=key_sets, n_shards=st.integers(1, 16))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_shuffle_shards_is_permutation_for_any_keys(spark, keys, n_shards):
    """(shard, pos) is a bijection onto ⋃_s ({s} × [0, |s|)) for ANY
    unique key set (huge ids included), and identical under
    re-partitioning — the reproducible-permutation contract."""
    from propius_spark.operators import shuffle_shards

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    out = shuffle_shards(df, n_shards=n_shards, key_col="doc_id").collect()
    assert len(out) == len(keys)
    seen = {}
    for r in out:
        assert 0 <= r.shard < n_shards
        seen.setdefault(r.shard, set()).add(r.pos)
    for shard, poss in seen.items():
        assert poss == set(range(len(poss)))  # dense, no gaps/dups
    again = shuffle_shards(
        df.repartition(5), n_shards=n_shards, key_col="doc_id"
    ).collect()
    assert {(r.doc_id, r.shard, r.pos) for r in again} == {
        (r.doc_id, r.shard, r.pos) for r in out
    }


@given(
    sizes=st.tuples(
        st.integers(1, 400), st.integers(1, 400), st.integers(1, 400)
    ),
    t=st.tuples(
        st.floats(0.05, 0.9), st.floats(0.05, 0.9), st.floats(0.05, 0.9)
    ),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_mix_sources_never_exceeds_group_budgets(spark, sizes, t):
    """For any group sizes and positive targets: every group keeps at
    most its own rows, at most ceil(S·t_g)+1 rows (floor arithmetic
    slack), the binding group's keep-rate is ~1, and the output is a
    subset of the input chosen deterministically."""
    from propius_spark.operators import mix_sources

    total_t = sum(t)
    targets = {f"g{i}": ti / total_t for i, ti in enumerate(t)}
    rows, base = [], 0
    for i, n in enumerate(sizes):
        rows += [(base + j, f"g{i}") for j in range(n)]
        base += 10_000
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mix_sources(df, targets, group_col="source", key_col="doc_id")
    got = {r.source: r.cnt for r in out.groupBy("source")
           .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    s_cap = min(int(n // targets[f"g{i}"]) for i, n in enumerate(sizes))
    for i, n in enumerate(sizes):
        kept = got.get(f"g{i}", 0)
        assert kept <= n
        # the cut never ADMITS more than the budget (bucket arithmetic
        # only under-fills); +1 slack for the floor on the cut itself
        exp = s_cap * targets[f"g{i}"]
        assert kept <= math.ceil(exp) + max(1, int(0.2 * exp + 3))
    # deterministic subset
    ids = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(
        r.doc_id
        for r in mix_sources(df.repartition(7), targets,
                             group_col="source", key_col="doc_id").collect()
    )
    assert ids == ids2


# ---------------------------------------------------------------- events

# event streams as (user, epoch-MICROS) pairs; micros span both signs
# so the floor-division week bucketing (events.py cohort_retention:
# `div` truncates toward zero, the operator subtracts pmod first) is
# exercised where it differs from truncation — negative timestamps.
# ×1000 at frame build time: long ts columns are NANOS by contract
# (sessions._ts_micros).
event_rows = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.integers(-(10**15), 10**15),
    ),
    min_size=1,
    max_size=60,
)

_US_DAY = 86_400_000_000
_US_WEEK = 7 * _US_DAY


def _events_df(spark, rows):
    return spark.createDataFrame(
        [(u, t_us * 1000) for u, t_us in rows], "user_id long, ts long"
    )


@given(rows=event_rows)
@settings(**SETTINGS)
# week boundaries on both sides of the epoch: micros −1/0 are days
# −1/0 → weeks −1/0 under FLOOR division, but truncation would put
# day −1 in week 0 — the exact divergence cohort_retention's
# subtract-pmod arithmetic exists to prevent (operators/events.py)
@example(rows=[(0, -1), (0, 0), (0, _US_DAY * 7), (0, -_US_DAY * 7)])
@example(rows=[(0, -_US_DAY), (0, _US_DAY - 1), (1, -_US_WEEK - 1)])
# one user active in one week only (offset 0 row), plus a user whose
# every event is in the SAME week as another user's cohort week
@example(rows=[(0, 0), (1, 0), (1, _US_WEEK), (1, _US_WEEK + 1)])
def test_cohort_retention_matches_bruteforce(spark, rows):
    """cohort_retention ≡ the dense Python definition: week =
    floor(floor(us/day)/7), cohort = user's min week, one count per
    distinct (user, week) at its offset — for ANY event stream,
    including pre-epoch timestamps and duplicate (user, week) activity
    (distinct-ed once, like the SQL oracle's DISTINCT)."""
    from collections import Counter

    from propius_spark.operators import cohort_retention

    want = Counter()
    active = {(u, (t_us // _US_DAY) // 7) for u, t_us in rows}
    first = {}
    for u, w in active:
        first[u] = min(w, first.get(u, w))
    for u, w in active:
        want[(first[u], w - first[u])] += 1

    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in cohort_retention(_events_df(spark, rows)).collect()
    }
    assert got == dict(want)


@given(rows=event_rows, window_days=st.integers(0, 3))
@settings(**SETTINGS)
# exact trailing-boundary hits: t−W·day must be IN frame (inclusive
# range), t−W·day−1 out; equal timestamps are all peers (ANSI RANGE)
@example(rows=[(0, 0), (0, -_US_DAY), (0, -_US_DAY - 1)], window_days=1)
@example(rows=[(0, 5), (0, 5), (0, 5), (1, 5)], window_days=0)
def test_rolling_user_counts_matches_bruteforce(spark, rows, window_days):
    """rolling_user_counts ≡ the quadratic per-event definition: for
    every event, |{same-user events in [t−W, t]}| — one output row per
    input row (duplicates preserved), window edges inclusive, equal
    timestamps mutually in-frame."""
    from collections import Counter

    from propius_spark.operators import rolling_user_counts

    w_us = window_days * _US_DAY
    want = Counter()
    for u, t in rows:
        n = sum(1 for u2, t2 in rows if u2 == u and t - w_us <= t2 <= t)
        want[(u, t, n)] += 1

    out = rolling_user_counts(
        _events_df(spark, rows), window_days=window_days
    ).collect()
    got = Counter((r.user_id, r.t_us, r.n_trailing) for r in out)
    assert got == want


# -------------------------------------------------------------------- IR

# word pool with ASCII case pairs (fold to the same token), non-ASCII
# case pairs (İi/ẞß stay DISTINCT under ascii_lower — the documented
# divergence from str.lower()), and digit/short tokens; separators
# cover the full explicit WS_CHARS class including the \x0B/\f code
# points Python str.split() and Spark's trim disagree about.
_IR_WORDS = ["The", "the", "cat", "CAT", "dog", "perro", "ẞß", "İi", "a0", "x"]
_IR_SEPS = [" ", "\t", "\n", "\x0b", "\f", "\r", " \n "]

_ir_text = st.builds(
    lambda ws, sep: sep.join(ws),
    st.lists(st.sampled_from(_IR_WORDS), max_size=8),
    st.sampled_from(_IR_SEPS),
)
_ir_corpus = st.lists(
    st.one_of(st.none(), st.just(""), st.just("\n\t"), _ir_text),
    min_size=1,
    max_size=12,
)


def _py_tokens(text):
    """Python twin of functions.text.tokens(): ASCII-only fold, split
    on the explicit whitespace class, drop empties. None → no tokens
    (tf_idf's explode skips nulls; bm25 coalesces to '')."""
    import re

    from propius_spark.functions.text import ASCII_FOLD_TABLE, WS_CHARS

    if text is None:
        return []
    folded = text.translate(ASCII_FOLD_TABLE)
    return [t for t in re.split("[" + WS_CHARS + "]+", folded) if t]


@given(texts=_ir_corpus, min_df=st.integers(1, 3))
@settings(**SETTINGS)
@example(texts=["The the THE", None, "", "\n\t", "cat İi ẞß"], min_df=1)
@example(texts=["cat dog", "cat", "dog cat"], min_df=2)
def test_tf_idf_matches_bruteforce(spark, texts, min_df):
    """tf_idf ≡ the textbook definition on any corpus: N counts EVERY
    document (null/empty/whitespace-only included), df counts distinct
    docs per token, rows below min_df are dropped, tfidf =
    tf·ln(N/df) to 6 dp."""
    import math as m
    from collections import Counter

    from propius_spark.operators import tf_idf
    from propius_spark.session import clear_materialized

    n = len(texts)
    tf = Counter()
    df = Counter()
    for i, t in enumerate(texts):
        toks = _py_tokens(t)
        tf.update({(i, tok): c for tok, c in Counter(toks).items()})
        df.update(set(toks))
    want = {
        (d, tok): (c, df[tok], c * m.log(n / df[tok]))
        for (d, tok), c in tf.items()
        if df[tok] >= min_df
    }

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.token): (r.tf, r.df, r.tfidf)
        for r in tf_idf(docs, min_df=min_df).collect()
    }
    clear_materialized(spark)
    assert got.keys() == want.keys()
    for key, (wtf, wdf, wscore) in want.items():
        gtf, gdf, gscore = got[key]
        assert (gtf, gdf) == (wtf, wdf), key
        assert m.isclose(gscore, wscore, abs_tol=1.5e-6), (key, gscore, wscore)


@given(
    texts=_ir_corpus,
    qwords=st.lists(st.sampled_from(_IR_WORDS + ["absent"]), max_size=4),
    qsep=st.sampled_from(_IR_SEPS),
)
@settings(**SETTINGS)
@example(texts=["cat dog cat", "dog", None, "", "CAT"], qwords=["cat", "The"], qsep=" ")
@example(texts=["x"], qwords=[], qsep=" ")  # empty query → empty result
@example(texts=["İi", "ẞß"], qwords=["İI", "ẞß"], qsep="\x0b")
def test_bm25_matches_bruteforce(spark, texts, qwords, qsep):
    """bm25_search ≡ the Robertson formula computed densely in Python
    for any corpus and query: same matched-doc set, same 6-dp scores —
    N and avgdl over ALL docs (null text ≡ ''), query tokenized with
    the engine's own fold/split, df per matched token."""
    import math as m
    from collections import Counter

    from propius_spark.operators import bm25_search
    from propius_spark.session import clear_materialized

    k1, b = 1.2, 0.75
    query = qsep.join(qwords)
    toks = [_py_tokens(t) for t in texts]
    n = len(texts)
    avgdl = sum(len(ts) for ts in toks) / n
    qtoks = sorted(set(_py_tokens(query)))
    dfs = {
        q: sum(1 for ts in toks if q in ts)
        for q in qtoks
    }
    want = {}
    for i, ts in enumerate(toks):
        cnt = Counter(ts)
        score = 0.0
        hit = False
        for q in qtoks:
            tf = cnt.get(q, 0)
            if tf == 0:
                continue
            hit = True
            idf = m.log(1.0 + (n - dfs[q] + 0.5) / (dfs[q] + 0.5))
            score += (
                idf * tf * (k1 + 1)
                / (tf + k1 * (1 - b + b * len(ts) / (avgdl or 1.0)))
            )
        if hit:
            want[i] = score

    out = bm25_search(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ),
        query,
        k=50,
    ).collect()
    clear_materialized(spark)
    got = {r.doc_id: r.score for r in out}
    assert got.keys() == want.keys()
    for d, wscore in want.items():
        assert m.isclose(got[d], wscore, abs_tol=2e-6), (d, got[d], wscore)
    # returned order: score desc, id asc within equal 6-dp scores
    rounded = [(round(-r.score, 6), r.doc_id) for r in out]
    assert rounded == sorted(rounded)


@given(texts=_ir_corpus, min_df=st.integers(1, 2), max_df=st.one_of(st.none(), st.integers(1, 4)))
@settings(**SETTINGS)
@example(texts=["the the the", "the cat", None, "the"], min_df=1, max_df=2)
def test_posting_lists_matches_bruteforce(spark, texts, min_df, max_df):
    """posting_lists ≡ the dense inverted index: df = distinct docs
    per token (repeats inside a doc count once), postings sorted,
    min_df/max_df bounds applied — on any corpus including null and
    whitespace-only docs."""
    from collections import defaultdict

    from propius_spark.operators import posting_lists

    index = defaultdict(set)
    for i, t in enumerate(texts):
        for tok in set(_py_tokens(t)):
            index[tok].add(i)
    want = {
        tok: (len(ids), sorted(ids))
        for tok, ids in index.items()
        if len(ids) >= min_df and (max_df is None or len(ids) <= max_df)
    }

    got = {
        r.token: (r.df, list(r.postings))
        for r in posting_lists(
            spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)],
                "doc_id long, text string",
            ),
            min_df=min_df,
            max_df=max_df,
        ).collect()
    }
    assert got == want


# ------------------------------------------------------- sketch joins

# tiny word pool → dense shingle collisions and near-dup structure, so
# random corpora actually exercise shared buckets / close signatures
_DUP_WORDS = ["aa", "bb", "cc", "dd"]
_dup_corpus = st.lists(
    st.builds(
        lambda ws: " ".join(ws),
        st.lists(st.sampled_from(_DUP_WORDS), max_size=8),
    ),
    min_size=2,
    max_size=14,
)


@given(texts=_dup_corpus, max_hamming=st.integers(0, 6))
@settings(**SETTINGS)
# exact duplicates (hamming 0) plus a no-token doc; radius 6 → 7
# blocks of width ceil(32/7)=5, the remainder case where a wrong
# width could leave high bits uncovered and drop in-radius pairs
@example(texts=["aa bb cc", "aa bb cc", "", "aa bb dd"], max_hamming=6)
@example(texts=["aa bb", "bb aa"], max_hamming=0)
def test_simhash_pairs_complete_vs_dense(spark, texts, max_hamming):
    """The pigeonhole block join must emit EXACTLY the pairs within
    the Hamming radius over the engine's own signatures — dense
    all-pairs reference, so a block-width or shift bug that silently
    drops an in-radius pair (the completeness half of the pigeonhole
    argument) fails here for ANY corpus and radius."""
    from propius_spark.operators.dedup import simhash, simhash_pairs
    from propius_spark.session import clear_materialized

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(sigs)
    want = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_hamming
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, max_hamming=max_hamming).collect()
    }
    clear_materialized(spark)
    assert got == want


@given(
    texts=_dup_corpus,
    bands=st.sampled_from([2, 4, 8]),
    max_bucket_docs=st.integers(1, 4),
    max_bucket_size=st.one_of(st.none(), st.integers(1, 3)),
)
@settings(**SETTINGS)
# tiny max_bucket_docs forces the hot-bucket sub-split on ordinary
# buckets (nb > 1 whenever a bucket holds >1 doc), so the per
# (band, sig, block-pair) join and its least/greatest orientation are
# exercised on every example, not just constructed boilerplate
@example(texts=["aa bb cc", "aa bb cc", "aa bb dd", "cc dd"],
         bands=8, max_bucket_docs=1, max_bucket_size=None)
@example(texts=["aa bb", "aa bb", "aa bb", "aa bb"],
         bands=2, max_bucket_docs=2, max_bucket_size=2)
def test_minhash_lsh_pairs_complete_vs_dense(
    spark, texts, bands, max_bucket_docs, max_bucket_size
):
    """minhash_lsh_pairs ≡ the dense definition computed from the
    engine's own signatures and shingle ids: candidate iff some band's
    h-tuple matches (in a bucket under the drop cap), then exact
    multiset Jaccard ≥ threshold — for any corpus, band count,
    sub-split block size, and bucket cap. Pins the sub-split join's
    completeness (every within-bucket pair meets in exactly one
    block-pair group) on random data."""
    from collections import Counter

    from propius_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures_wide,
        shingle_ids,
        shingles,
    )
    from propius_spark.session import clear_materialized

    num_perm, k, threshold = 8, 2, 0.3
    rpb = num_perm // bands
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sids_rows = shingle_ids(shingles(docs, k)).collect()
    by_doc: dict[int, Counter] = {}
    for r in sids_rows:
        by_doc.setdefault(r.doc_id, Counter())[r.sid] += 1
    wide = {
        r.doc_id: tuple(r[f"h{i}"] for i in range(num_perm))
        for r in minhash_signatures_wide(
            shingle_ids(shingles(docs, k)), num_perm
        ).collect()
    }

    # bucket membership per (band, h-tuple); apply the drop cap
    buckets: dict[tuple, list[int]] = {}
    for d, hs in wide.items():
        for b in range(bands):
            buckets.setdefault(
                (b, hs[b * rpb : (b + 1) * rpb]), []
            ).append(d)
    cand = set()
    for members in buckets.values():
        if max_bucket_size is not None and len(members) > max_bucket_size:
            continue
        for i, a in enumerate(members):
            for b2 in members[i + 1 :]:
                cand.add((min(a, b2), max(a, b2)))
    want = {}
    for a, b2 in cand:
        ca, cb = by_doc[a], by_doc[b2]
        # engine intersection counts matched row pairs: Σ cnt_a·cnt_b
        # (a doc's DISTINCT shingles can still share an xxhash sid)
        inter = sum(ca[s] * cb[s] for s in ca.keys() & cb.keys())
        j = inter / (sum(ca.values()) + sum(cb.values()) - inter)
        if j >= threshold:
            want[(a, b2)] = j

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs,
            k=k,
            num_perm=num_perm,
            bands=bands,
            threshold=threshold,
            max_bucket_size=max_bucket_size,
            max_bucket_docs=max_bucket_docs,
        ).collect()
    }
    clear_materialized(spark)
    assert got.keys() == want.keys()
    for pair, wj in want.items():
        assert math.isclose(got[pair], wj, rel_tol=1e-12), (pair, got[pair], wj)


_vec4 = st.lists(st.integers(-3, 3), min_size=4, max_size=4)


@given(vecs=st.lists(_vec4, min_size=2, max_size=12),
       n_blocks=st.integers(1, 5))
@settings(**SETTINGS)
# exact duplicates (cosine 1), an antipode (−1), and a zero vector
# (NaN cosine — must be dropped, not emitted or crashed on)
@example(vecs=[[1, 0, 0, 0], [1, 0, 0, 0], [0, 0, 0, 0], [-1, 0, 0, 0]],
         n_blocks=2)
@example(vecs=[[1, 1, 0, 0], [1, 0, 0, 0]], n_blocks=1)
def test_embedding_dup_pairs_matches_numpy(spark, vecs, n_blocks):
    """Exact-mode embedding_dup_pairs ≡ the dense numpy answer for any
    vector set and block count: every unordered pair scored once via
    its block-pair group (diagonal groups included), zero-norm rows
    dropped, cosine ≥ threshold. Pairs within 1e-7 of the threshold
    are accepted either way (BLAS vs numpy last-ulp order)."""
    import numpy as np

    from propius_spark.operators.ann import embedding_dup_pairs
    from propius_spark.session import clear_materialized

    thr = 0.87654321
    ids = [i * 3 - 5 for i in range(len(vecs))]  # distinct, some negative
    df = spark.createDataFrame(
        [(ids[i], [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    m = np.array(vecs, dtype=float)
    norms = np.linalg.norm(m, axis=1)
    want, border = {}, set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            if norms[i] == 0 or norms[j] == 0:
                continue
            c = float(m[i] @ m[j] / (norms[i] * norms[j]))
            key = (min(ids[i], ids[j]), max(ids[i], ids[j]))
            if abs(c - thr) < 1e-7:
                border.add(key)
            elif c >= thr:
                want[key] = c

    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_dup_pairs(
            df, threshold=thr, n_blocks=n_blocks
        ).collect()
    }
    clear_materialized(spark)
    assert not (set(got) - set(want) - border), (set(got) - set(want) - border)
    assert not (set(want) - set(got)), (set(want) - set(got))
    for p, c in want.items():
        assert math.isclose(got[p], c, abs_tol=1e-9), (p, got[p], c)


_jac_word = st.sampled_from(["a", "b", "c", "aa", "b c"])
_jac_text = st.lists(_jac_word, min_size=0, max_size=8).map(" ".join)
_jac_corpus = st.lists(
    st.one_of(st.none(), st.just(""), st.just(" \t\n"), _jac_text),
    min_size=2,
    max_size=10,
)


@given(
    texts=_jac_corpus,
    k=st.integers(1, 3),
    threshold=st.sampled_from([0.0, 0.25, 0.5, 1.0]),
)
@settings(**SETTINGS)
# identical docs (j=1.0), a pair sharing shingles below any positive
# threshold, null/blank docs (no shingles → never paired), and
# threshold 0.0 — which must still require ≥1 shared shingle (the
# intersection join's sparsity IS the semantics, not an optimization)
@example(texts=["a b c", "a b c", None, "", " \t\n"], k=3, threshold=0.0)
@example(texts=["a b c b", "b c a a"], k=2, threshold=0.25)
@example(texts=["a a a", "b b b"], k=1, threshold=0.0)
def test_jaccard_pairs_matches_dense_bruteforce(spark, texts, k, threshold):
    """jaccard_pairs ≡ the dense all-pairs set-Jaccard definition on
    any corpus, k, and threshold: DISTINCT k-token shingles per doc
    (docs with <k tokens excluded), pairs emitted iff they share ≥1
    shingle AND |∩|/|∪| ≥ threshold, doc_a < doc_b, exact arithmetic.
    Pure-Python reference replays the engine's tokenization via
    _py_tokens — independent of the Spark shingle/join/agg plan and of
    the xxhash64 sid coding (string sets, no hashing)."""
    from propius_spark.operators.dedup import jaccard_pairs
    from propius_spark.session import clear_materialized

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sets = {}
    for i, t in enumerate(texts):
        toks = _py_tokens(t)
        if len(toks) >= k:
            sets[i] = {
                " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
            }
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / len(sets[a] | sets[b])
            if j >= threshold:
                want[(a, b)] = j

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, k=k, threshold=threshold).collect()
    }
    clear_materialized(spark)
    assert got.keys() == want.keys(), (
        set(got) ^ set(want), sets, k, threshold
    )
    for pair, wj in want.items():
        assert math.isclose(got[pair], wj, rel_tol=1e-12), (pair, got[pair], wj)


_US_HOUR = 3_600_000_000


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["click", "view", "x"])),
            st.integers(-(10**15), 10**15),
        ),
        min_size=1,
        max_size=60,
    ),
    duration=st.sampled_from(["30 minutes", "1 hour"]),
)
@settings(**SETTINGS)
# epoch-boundary floor: micros −1 belongs to the window STARTING at
# −1 hour (floor toward −inf), where truncation would bucket it with
# micros 0; exact window-edge hit (start inclusive, end exclusive);
# null group counted as its own group
@example(rows=[("click", -1), ("click", 0), (None, 0)], duration="1 hour")
@example(rows=[("x", _US_HOUR), ("x", _US_HOUR - 1), ("x", 2 * _US_HOUR - 1)],
         duration="1 hour")
def test_windowed_counts_matches_bruteforce(spark, rows, duration):
    """windowed_counts ≡ integer floor-bucketing of the micros
    timeline: start = floor(us/W)·W, end = start+W, one count per
    (window, group) with NULL groups kept — for any event stream
    including pre-epoch timestamps, on both tested durations. Pins the
    docstring's claim that F.window's epoch alignment IS integer
    bucketing (the property the SQL oracle replays)."""
    from collections import Counter

    from propius_spark.operators import windowed_counts

    w_us = _US_HOUR if duration == "1 hour" else _US_HOUR // 2
    want = Counter()
    for g, t_us in rows:
        start = (t_us // w_us) * w_us
        want[(start, start + w_us, g)] += 1

    ev = spark.createDataFrame(
        [(g, t_us * 1000) for g, t_us in rows], "event_type string, ts long"
    )
    got = {
        (r.window_start_us, r.window_end_us, r.event_type): r.n_events
        for r in windowed_counts(ev, duration).collect()
    }
    assert got == dict(want)
