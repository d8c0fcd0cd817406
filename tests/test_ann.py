"""Unit tests for similarity search (operators/ann.py) on
hand-computed vectors."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from propius_spark.operators import (
    assign_centroids,
    cosine_topk,
    embedding_dup_pairs,
    ivf_topk,
)


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_hand_computed(spark):
    df = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),      # cos 1
            (2, [1.0, 1.0]),      # cos 1/sqrt(2)
            (3, [0.0, 1.0]),      # cos 0
            (4, [-1.0, 0.0]),     # cos -1
        ],
    )
    got = cosine_topk(df, query_id=0, k=3).collect()
    assert [r["vec_id"] for r in got] == [1, 2, 3]
    assert abs(got[0]["cosine"] - 1.0) < 1e-12
    assert abs(got[1]["cosine"] - 1 / math.sqrt(2)) < 1e-12
    assert abs(got[2]["cosine"]) < 1e-12


def test_embedding_dup_pairs_threshold(spark):
    df = _emb(
        spark,
        [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.0, 3.0]), (3, [1.0, 0.1])],
    )
    got = sorted(
        (r["vec_a"], r["vec_b"]) for r in embedding_dup_pairs(df, 0.95).collect()
    )
    # colinear 0-1 (cos 1) and near-colinear 0-3 / 1-3 (cos ~0.995)
    assert got == [(0, 1), (0, 3), (1, 3)]


def test_assign_centroids_nearest(spark):
    df = _emb(
        spark,
        [
            (0, [1.0, 0.0]),   # centroid 0
            (1, [0.0, 1.0]),   # centroid 1
            (2, [0.9, 0.1]),   # -> centroid 0
            (3, [0.1, 0.9]),   # -> centroid 1
        ],
    )
    cents, assign = assign_centroids(df, n_centroids=2)
    got = {r["vec_id"]: r["centroid_id"] for r in assign.collect()}
    assert got == {0: 0, 1: 1, 2: 0, 3: 1}


def test_ivf_topk_subset_of_exact_when_probing_all(spark):
    df = _emb(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [0.9, 0.1]),
            (3, [0.1, 0.9]),
            (4, [0.8, 0.2]),
            (5, [-1.0, 0.0]),
        ],
    )
    exact = [r["vec_id"] for r in cosine_topk(df, 0, k=3).collect()]
    # probing all centroids recovers the exact answer
    approx = [
        r["vec_id"]
        for r in ivf_topk(df, 0, k=3, n_centroids=2, n_probe=2).collect()
    ]
    assert approx == exact
    # probing 1 of 2 lists only searches centroid-0's partition
    pruned = [
        r["vec_id"]
        for r in ivf_topk(df, 0, k=3, n_centroids=2, n_probe=1).collect()
    ]
    assert set(pruned).issubset({2, 4})


def test_knn_join_matches_numpy_bruteforce(spark):
    """knn_join over a multi-partition corpus ≡ per-query numpy
    brute force with the (cosine desc, id asc) tie order; self
    excluded."""
    import numpy as np

    from propius_spark.operators import knn_join

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.repartition(5)
    queries = emb.filter("vec_id < 6")
    k = 4

    got = sorted(
        (r.query_id, r.vec_id, round(r.cosine, 9))
        for r in knn_join(queries, corpus, k=k).collect()
    )

    norms = np.linalg.norm(vecs, axis=1)
    want = []
    for q in range(6):
        cos = (vecs @ vecs[q]) / (norms * norms[q])
        order = sorted(
            (i for i in range(40) if i != q), key=lambda i: (-cos[i], i)
        )[:k]
        want.extend((q, i, round(float(cos[i]), 9)) for i in order)
    assert got == sorted(want)


def test_ivf_knn_join_matches_ivf_topk_per_query(spark):
    """IVF batch retrieval ≡ the single-query ivf_topk path for each
    query (same seed centroids, same probe rule): identical neighbor
    ids, scores equal to 1e-9 (Catalyst fold vs BLAS summation)."""
    import numpy as np

    from propius_spark.operators import ivf_knn_join, ivf_topk

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(60, 6)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = emb.repartition(4)
    queries = emb.filter("vec_id < 4")

    got = {}
    for r in ivf_knn_join(
        queries, corpus, k=5, n_centroids=8, n_probe=2
    ).collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))

    for q in range(4):
        want = [
            (r.vec_id, r.cosine)
            for r in ivf_topk(emb, query_id=q, k=5, n_centroids=8, n_probe=2).collect()
        ]
        g = got.get(q, [])
        assert [i for i, _ in g] == [i for i, _ in want], q
        # abs tolerance, not round-to-9dp equality: two values inside
        # the documented 1e-9 band can round to different 9-dp strings
        assert all(
            abs(gc - wc) <= 1e-9 for (_, gc), (_, wc) in zip(g, want)
        ), q


def test_candidate_fed_dup_pairs_exact_within_buckets(spark):
    """embedding_dup_pairs(candidates=...) must equal the exact
    all-pairs answer RESTRICTED to co-bucketed pairs (here: IVF
    seed-centroid lists) — same cosines, no extras, no duplicates even
    when a vector sits in several buckets."""
    import numpy as np

    from propius_spark.operators import assign_centroids, embedding_dup_pairs

    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(80, 5)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    _, assignment = assign_centroids(emb, n_centroids=6)
    got = sorted(
        (r.vec_a, r.vec_b, round(r.cosine, 9))
        for r in embedding_dup_pairs(
            emb, threshold=0.3, candidates=assignment
        ).collect()
    )

    exact = {
        (r.vec_a, r.vec_b): round(r.cosine, 9)
        for r in embedding_dup_pairs(emb, threshold=0.3).collect()
    }
    bucket = {r.vec_id: r.centroid_id for r in assignment.collect()}
    want = sorted(
        (a, b, c) for (a, b), c in exact.items() if bucket[a] == bucket[b]
    )
    assert got == want and len(got) > 0

    # multi-bucket membership (LSH-style): duplicate hits collapse
    two = assignment.unionByName(
        assignment.withColumn("centroid_id", F.col("centroid_id") + 100)
    )
    got2 = sorted(
        (r.vec_a, r.vec_b, round(r.cosine, 9))
        for r in embedding_dup_pairs(emb, threshold=0.3, candidates=two).collect()
    )
    assert got2 == want


def test_multi_probe_recall_dominates_single_assignment(spark):
    """multi_probe_assignments(n_probe=1) ≡ assign_centroids'
    assignment; raising n_probe only ADDS co-bucketed pairs, and the
    candidate-fed dup pairs found at n_probe=2 are a superset of the
    single-probe set while staying a subset of the exact answer —
    the recall-knob contract SCALE.md documents."""
    import numpy as np

    from propius_spark.operators import (
        assign_centroids,
        embedding_dup_pairs,
        multi_probe_assignments,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(70, 5)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(70)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    one = sorted(
        map(tuple, multi_probe_assignments(emb, 6, n_probe=1).collect())
    )
    _, assignment = assign_centroids(emb, 6)
    assert one == sorted(map(tuple, assignment.collect()))

    def pairs(cand):
        return {
            (r.vec_a, r.vec_b)
            for r in embedding_dup_pairs(
                emb, threshold=0.3, candidates=cand
            ).collect()
        }

    p1 = pairs(multi_probe_assignments(emb, 6, n_probe=1))
    p2 = pairs(multi_probe_assignments(emb, 6, n_probe=2))
    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs(emb, threshold=0.3).collect()
    }
    assert p1 <= p2 <= exact
    assert len(p2) > len(p1)  # the knob actually buys recall here


def test_kmeans_centroids_feed_candidate_dedup(spark):
    """Trained-centroid IVF buckets compose with the candidate-fed
    near-dup kernel exactly like seed centroids: found pairs are exact
    cosines and a subset of the all-pairs answer; well-separated
    clusters keep their in-cluster pairs."""
    import numpy as np

    from propius_spark.operators import (
        assign_centroids,
        embedding_dup_pairs,
        kmeans_centroids,
    )

    rng = np.random.default_rng(5)
    # two tight direction-clusters on the unit sphere
    base_a = np.array([1.0, 0.0, 0.0, 0.0])
    base_b = np.array([0.0, 1.0, 0.0, 0.0])
    vecs = [
        (b + rng.normal(scale=0.05, size=4)) for b in [base_a] * 25 + [base_b] * 25
    ]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_centroids(emb, n_centroids=2, seed=1, max_iter=10)
    assert cents.count() == 2
    _, assignment = assign_centroids(emb, centroids=cents)
    got = {
        (r.vec_a, r.vec_b): round(r.cosine, 9)
        for r in embedding_dup_pairs(
            emb, threshold=0.9, candidates=assignment
        ).collect()
    }
    exact = {
        (r.vec_a, r.vec_b): round(r.cosine, 9)
        for r in embedding_dup_pairs(emb, threshold=0.9).collect()
    }
    assert set(got) <= set(exact)
    assert all(exact[p] == c for p, c in got.items())
    # k-means separates the two direction clusters, so every true pair
    # within one cluster is recovered
    in_cluster = {
        (a, b) for (a, b) in exact if (a < 25) == (b < 25)
    }
    assert in_cluster <= set(got)


def test_trained_pigeonhole_probes_guarantee_full_recall(spark, sf_dir):
    """The ann_dup_pairs_trained gate configuration (k=4 centroids,
    n_probe=3): 3+3 > 4 forces every vector pair to share >= 2 probed
    lists, so the candidate-pruned result must equal the exact
    all-pairs set REGARDLESS of what the k-means fit produced. The
    realistic config (k=8, n_probe=3) has no such guarantee - pin a
    recall floor instead."""
    from propius_spark.operators import (
        embedding_dup_pairs,
        kmeans_centroids,
        multi_probe_assignments,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.vec_a, r.vec_b) for r in
             embedding_dup_pairs(emb, threshold=0.4).collect()}
    assert exact

    cents4 = kmeans_centroids(emb, n_centroids=4)
    asg4 = multi_probe_assignments(emb, n_probe=3, centroids=cents4)
    got4 = {(r.vec_a, r.vec_b) for r in
            embedding_dup_pairs(emb, threshold=0.4, candidates=asg4).collect()}
    assert got4 == exact

    cents8 = kmeans_centroids(emb, n_centroids=8)
    asg8 = multi_probe_assignments(emb, n_probe=3, centroids=cents8)
    got8 = {(r.vec_a, r.vec_b) for r in
            embedding_dup_pairs(emb, threshold=0.4, candidates=asg8).collect()}
    assert got8 <= exact
    # measured 58/59 at sf0.01, 66/66 at sf0.001; floor leaves slack
    assert len(got8) >= 0.8 * len(exact)


def test_trained_dup_pairs_fit_invariant(spark, sf_dir):
    """Round-9 fit-cost knob pin: with the gate's pigeonhole config
    (k=4, n_probe=3) the dup-pair set must be IDENTICAL across wildly
    different fits — MLlib defaults (k-means||, 20 iters), the cheap
    gate fit (random init, 2 iters), and a different seed — because
    candidate recall is 1.0 by construction whatever centroids the fit
    produced. This is the invariance q_ann_dup_pairs_trained's cheap
    knobs stand on."""
    from propius_spark.operators import (
        embedding_dup_pairs,
        kmeans_centroids,
        multi_probe_assignments,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def pairs(**fit_kw):
        cents = kmeans_centroids(emb, n_centroids=4, **fit_kw)
        asg = multi_probe_assignments(emb, n_probe=3, centroids=cents)
        return {
            (r.vec_a, r.vec_b, round(r.cosine, 9))
            for r in embedding_dup_pairs(
                emb, threshold=0.4, candidates=asg
            ).collect()
        }

    base = pairs()  # MLlib defaults
    assert base
    assert pairs(max_iter=2, init_mode="random") == base  # the gate fit
    assert pairs(max_iter=1, init_mode="random", seed=7) == base


def test_explicit_centroids_reject_conflicting_n_centroids(spark):
    import pytest

    from propius_spark.operators import (
        assign_centroids,
        multi_probe_assignments,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0], 1.0)], "centroid_id long, cvec array<double>, cnorm double"
    )
    with pytest.raises(ValueError, match="n_centroids"):
        assign_centroids(emb, n_centroids=16, centroids=cents)
    with pytest.raises(ValueError, match="n_centroids"):
        multi_probe_assignments(emb, n_centroids=16, centroids=cents)


def test_hot_bucket_subsplit_equivalence(spark):
    """Sub-splitting a hot candidate bucket (max_bucket_vectors below
    the bucket size) must not change the answer: same pairs, same
    cosines as the unsplit kernel, across several split factors —
    including max=1 (every sub-block holds ≤1 vector, so ALL pairs
    cross sub-blocks) and a multi-bucket (LSH-style) membership."""
    import numpy as np

    from propius_spark.operators import assign_centroids, embedding_dup_pairs

    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(60, 4)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    _, assignment = assign_centroids(emb, n_centroids=3)
    want = sorted(
        (r.vec_a, r.vec_b, round(r.cosine, 9))
        for r in embedding_dup_pairs(
            emb, threshold=0.2, candidates=assignment,
            max_bucket_vectors=10**6,
        ).collect()
    )
    assert len(want) > 0
    for max_vecs in (1, 7, 16):
        got = sorted(
            (r.vec_a, r.vec_b, round(r.cosine, 9))
            for r in embedding_dup_pairs(
                emb, threshold=0.2, candidates=assignment,
                max_bucket_vectors=max_vecs,
            ).collect()
        )
        assert got == want, f"max_bucket_vectors={max_vecs}"

    # duplicate membership across buckets + sub-splitting compose
    two = assignment.unionByName(
        assignment.withColumn("centroid_id", F.col("centroid_id") + 100)
    )
    got2 = sorted(
        (r.vec_a, r.vec_b, round(r.cosine, 9))
        for r in embedding_dup_pairs(
            emb, threshold=0.2, candidates=two, max_bucket_vectors=7
        ).collect()
    )
    assert got2 == want


def test_seed_centroids_offset_id_space(spark):
    """Seed centroids are the n SMALLEST ids, not `id < n`: an id
    space starting at 1000 must still yield n centroids and working
    IVF search (the old filter returned zero centroids → empty
    results silently)."""
    import numpy as np

    from propius_spark.operators import assign_centroids, ivf_topk

    rng = np.random.default_rng(5)
    rows = [
        (1000 + i, [float(x) for x in rng.normal(size=4)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assignment = assign_centroids(emb, n_centroids=4)
    assert sorted(r.centroid_id for r in cents.collect()) == [
        1000, 1001, 1002, 1003
    ]
    assert assignment.count() == 40
    got = ivf_topk(emb, query_id=1005, k=5, n_centroids=4, n_probe=4).collect()
    assert len(got) == 5


def test_hyperplane_lsh_buckets_shape_and_determinism(spark):
    """Each vector lands in exactly n_bands buckets, each inside its
    band's id space; seeded planes make two runs identical; an
    explicit dim matches the inferred one."""
    import numpy as np

    from propius_spark.operators import hyperplane_lsh_buckets

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = hyperplane_lsh_buckets(emb, n_planes=8, n_bands=2, seed=3).collect()
    assert len(got) == 30 * 2
    r = 8 // 2
    for row in got:
        band = row.bucket // (1 << r)
        assert 0 <= band < 2
    again = hyperplane_lsh_buckets(
        emb, n_planes=8, n_bands=2, seed=3, dim=16
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    other_seed = hyperplane_lsh_buckets(emb, n_planes=8, n_bands=2, seed=4).collect()
    assert sorted(map(tuple, got)) != sorted(map(tuple, other_seed))


def test_hyperplane_lsh_validation(spark):
    import pytest

    from propius_spark.operators import hyperplane_lsh_buckets

    emb = _emb(spark, [(0, [1.0, 2.0])])
    with pytest.raises(ValueError, match="divide evenly"):
        hyperplane_lsh_buckets(emb, n_planes=10, n_bands=4)
    with pytest.raises(ValueError, match="must be >= 1"):
        hyperplane_lsh_buckets(emb, n_planes=16, n_bands=0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        hyperplane_lsh_buckets(empty)


def test_hyperplane_lsh_near_pairs_recall(spark):
    """LSH candidates + exact verify: planted near-duplicate pairs
    (cosine ≈ 1) must collide in some band with overwhelming
    probability — near-identical vectors agree on every sign bit
    unless a plane passes between them. All emitted pairs are a
    subset of the exact twin (verify stage is exact within buckets)."""
    import numpy as np

    from propius_spark.operators import (
        embedding_dup_pairs,
        hyperplane_lsh_buckets,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(20, 12))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.normal(scale=1e-3, size=12)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand = hyperplane_lsh_buckets(emb, n_planes=16, n_bands=4, seed=1)
    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs(emb, threshold=0.99, candidates=cand).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_dup_pairs(emb, threshold=0.99).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert got <= exact
    assert len(got & planted) >= 18  # ≥90% of planted twins recalled


def test_lsh_topk_exact_within_candidates(spark):
    """lsh_topk scores candidates exactly: its results must be the
    brute-force top-k restricted to vectors sharing a bucket with the
    query, and every returned cosine must equal the exact cosine."""
    import numpy as np

    from propius_spark.operators import (
        cosine_topk,
        hyperplane_lsh_buckets,
        lsh_topk,
    )

    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = lsh_topk(emb, query_id=0, k=5, n_planes=8, n_bands=4, seed=2)
    got_rows = got.collect()
    assert len(got_rows) <= 5
    exact = {
        r.vec_id: r.cosine
        for r in cosine_topk(emb, query_id=0, k=60).collect()
    }
    bk = hyperplane_lsh_buckets(emb, n_planes=8, n_bands=4, seed=2)
    qb = {r.bucket for r in bk.filter(F.col("vec_id") == 0).collect()}
    cands = {
        r.vec_id
        for r in bk.collect()
        if r.bucket in qb and r.vec_id != 0
    }
    want = sorted(
        ((vid, c) for vid, c in exact.items() if vid in cands),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    assert [(r.vec_id, round(r.cosine, 9)) for r in got_rows] == [
        (v, round(c, 9)) for v, c in want
    ]


def test_zero_norm_vectors_match_nothing_everywhere(spark):
    """A zero-norm (degenerate) vector crashes nothing and matches
    nothing, in the Catalyst paths (try_divide -> NULL cosine: ANSI
    mode's plain division crashed the job) AND the BLAS kernels
    (masked before the NaN-components rule)."""
    from propius_spark.operators import (
        cosine_topk,
        embedding_dup_pairs,
        ivf_topk,
        knn_join,
    )

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),  # 2 is zero-norm
        (3, [1.0, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    top = cosine_topk(emb, query_id=0, k=4).collect()
    ids = [r.vec_id for r in top]
    # the zero-norm vector's NULL cosine sorts LAST under desc
    assert ids[:2] == [3, 1] and (2 not in ids or ids[-1] == 2)
    # if the zero-norm vector IS emitted, its cosine must be NULL;
    # next(default=None) so a future exclusion cleanup fails cleanly
    # on the line above, not with a bare StopIteration here
    zrow = next((r for r in top if r.vec_id == 2), None)
    assert zrow is None or zrow.cosine is None

    pairs = embedding_dup_pairs(emb, threshold=0.5, n_blocks=2).collect()
    assert all(2 not in (r.vec_a, r.vec_b) for r in pairs)
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 1), (0, 3), (1, 3)}

    kn = knn_join(emb.filter("vec_id = 0"), emb.filter("vec_id != 0"), k=4).collect()
    assert sorted(r.vec_id for r in kn) == [1, 3]  # zero-norm excluded

    ivf = ivf_topk(emb, query_id=0, k=4, n_centroids=1, n_probe=1).collect()
    assert all(r.vec_id != 2 or r.cosine is None for r in ivf)


def test_knn_join_nan_component_vectors_excluded(spark):
    """NaN-COMPONENT vectors are degenerate and match nothing in the
    kernels (a kernel cannot emit NaN anyway — pandas NaN crosses
    Arrow as NULL, which would rank nondeterministically)."""
    from propius_spark.operators import embedding_dup_pairs, knn_join

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [float("nan"), 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kn = knn_join(emb.filter("vec_id = 0"), emb.filter("vec_id != 0"), k=2).collect()
    got = {r.vec_id: r.cosine for r in kn}
    assert set(got) == {1}             # the NaN-component vector is out
    pairs = embedding_dup_pairs(emb, threshold=0.5, n_blocks=2).collect()
    assert all(2 not in (r.vec_a, r.vec_b) for r in pairs)


def test_catalyst_topk_excludes_nan_and_null_cosines(spark):
    """Round-4 posture unification (r3 advice): the Catalyst top-k
    paths (cosine_topk / ivf_topk / lsh_topk) now share the kernels'
    exclusion contract — NaN-component vectors (NaN cosine would sort
    ABOVE every double under desc and top-rank) and zero-norm vectors
    (NULL cosine would surface whenever candidates < k) never appear;
    k is a cap, not a promise."""
    from propius_spark.operators import cosine_topk, ivf_topk, lsh_topk

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [float("nan"), 1.0]),  # NaN component
        (3, [0.0, 0.0]),           # zero norm
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    top = cosine_topk(emb, query_id=0, k=10).collect()
    assert [r.vec_id for r in top] == [1]  # fewer than k, no NULL filler
    assert all(r.cosine is not None and not math.isnan(r.cosine) for r in top)

    ivf = ivf_topk(emb, query_id=0, k=10, n_centroids=1, n_probe=1).collect()
    assert [r.vec_id for r in ivf] == [1]

    lsh = lsh_topk(emb, query_id=0, k=10, n_planes=4, n_bands=2).collect()
    assert all(r.vec_id not in (2, 3) for r in lsh)
    assert all(r.cosine is not None and not math.isnan(r.cosine) for r in lsh)


def test_nan_centroid_cannot_capture_assignments(spark):
    """Round-4 review fix: a NaN-component CENTROID scores NaN against
    every vector, and NaN ranks above all doubles — unfiltered, one
    bad centroid captured the entire corpus's assignments (collapsing
    IVF pruning into a single bucket)."""
    from propius_spark.operators import multi_probe_assignments

    rows = [
        (0, [float("nan"), 1.0]),  # would-be centroid 0 (smallest id)
        (1, [1.0, 0.0]),           # centroid 1
        (2, [0.9, 0.1]),
        (3, [0.95, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    asg = multi_probe_assignments(emb, n_centroids=2, n_probe=1).collect()
    got = {r.vec_id: r.centroid_id for r in asg}
    # the NaN vector is excluded from SEEDING entirely (the 2 smallest
    # VALID ids — 1 and 2 — become centroids), captures no assignment,
    # and joins no list itself
    assert set(got) == {1, 2, 3}          # vec 0 assigned nowhere
    assert set(got.values()) <= {1, 2}    # vec 0 is not a centroid
    assert got[1] == 1 and got[2] == 2    # each valid seed owns itself


def test_kmeans_excludes_nan_component_vectors(spark):
    """Round-4 review fix: NaN norms pass `> 0` (NaN compares
    greatest), so NaN vectors poisoned KMeans training."""
    from propius_spark.operators import kmeans_centroids

    rows = [(0, [float("nan"), 1.0])] + [
        (i, [1.0 + 0.01 * i, 0.01 * i]) for i in range(1, 9)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(emb, n_centroids=2, seed=7).collect()
    import math

    for c in cents:
        assert all(not math.isnan(x) for x in c.cvec)
        assert not math.isnan(c.cnorm)


def test_kernels_skip_null_embedding_rows(spark):
    """Round-4 review fix: a NULL embedding row reached np.stack as
    None and crashed the kernel job; it is now dropped up front (the
    Catalyst twins' posture: degenerate rows match nothing)."""
    from propius_spark.operators import embedding_dup_pairs, knn_join

    rows = [(0, [1.0, 0.0]), (1, [0.95, 0.05]), (2, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_dup_pairs(emb, threshold=0.5, n_blocks=2).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 1)}
    kn = knn_join(emb.filter("vec_id = 0"), emb.filter("vec_id != 0"), k=5).collect()
    assert sorted(r.vec_id for r in kn) == [1]


def test_ivf_knn_join_empty_corpus_returns_empty(spark):
    """Round-4 review fix: empty corpus crashed np.stack on the empty
    centroid list instead of honoring the knn_join sibling contract."""
    from propius_spark.operators import ivf_knn_join

    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_knn_join(q, empty, k=3, n_centroids=2).collect() == []


def test_lsh_dim_inference_uses_max_length(spark):
    """Round-4 review fix: dim inference from first() was
    partition-order-dependent — one truncated leading vector set dim
    too small and silently emptied every candidate corpus-wide. Now
    the MAX vector length (deterministic)."""
    from propius_spark.operators import hyperplane_lsh_buckets

    rows = [(0, [1.0]), (1, [1.0, 0.0, 0.5, 0.2]), (2, [1.0, 0.0, 0.5, 0.2])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bk = hyperplane_lsh_buckets(emb, n_planes=4, n_bands=2)
    got = bk.filter(F.col("bucket").isNotNull()).select("vec_id").distinct()
    # the two full-length vectors bucket; the short one nulls out
    assert sorted(r.vec_id for r in got.collect()) == [1, 2]


def test_dup_pairs_reject_empty_block_counts(spark):
    """A block or bucket cap below 1 must raise before any plan is
    built: n_blocks=0 or -1 silently returned no pairs (a dedup that
    finds nothing), and max_bucket_vectors=0 would do the same under
    legacy division."""
    import pytest

    from propius_spark.operators import assign_centroids, embedding_dup_pairs

    emb = _emb(spark, [(0, [1.0, 0.0]), (1, [0.99, 0.1]), (2, [0.0, 1.0])])
    for n_blocks in (0, -1):
        with pytest.raises(ValueError, match="n_blocks must be >= 1"):
            embedding_dup_pairs(emb, threshold=0.5, n_blocks=n_blocks)
    _, asg = assign_centroids(emb, n_centroids=2)
    with pytest.raises(ValueError, match="max_bucket_vectors must be >= 1"):
        embedding_dup_pairs(emb, threshold=0.5, candidates=asg, max_bucket_vectors=0)


def test_kernels_reject_ragged_embeddings_loudly(spark):
    """Rectangular input is the kernel tier's documented contract —
    a ragged embedding column must fail with a DIAGNOSABLE message,
    not numpy's cryptic shape error from inside an Arrow batch (the
    SQL oracle side refuses ragged dots too, so both engines agree on
    refusal; the Catalyst paths instead null mismatched-width dots)."""
    import pytest

    from propius_spark.operators import embedding_dup_pairs, knn_join

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1, 0.5])]  # ragged
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="ragged embedding column"):
        embedding_dup_pairs(emb, threshold=0.1, n_blocks=1).collect()
    with pytest.raises(Exception, match="ragged embedding column"):
        knn_join(emb, emb, k=2).collect()
