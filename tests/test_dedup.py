"""Unit tests for the dedup operator family (operators/dedup.py) on
hand-computed fixtures (SURVEY.md §5.1 executable-semantics style)."""

from __future__ import annotations

from pyspark.sql import functions as F

from propius_spark.operators import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    shingle_ids,
    shingles,
    simhash,
    simhash_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    df = _docs(
        spark,
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c"), (5, "x y z")],
    )
    got = {r["keeper_id"]: r["dup_count"] for r in exact_dedup(df).collect()}
    assert got == {1: 3, 3: 1, 5: 1}


def test_exact_dedup_hash_mode_equals_text_mode(spark, sf_dir):
    # The content-address scale path must agree with the raw-text oracle
    # mode on the fixture corpus (round-2 verdict item 3).
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    h = sorted(
        (r["keeper_id"], r["dup_count"])
        for r in exact_dedup(docs, key="hash").collect()
    )
    t = sorted(
        (r["keeper_id"], r["dup_count"])
        for r in exact_dedup(docs, key="text").collect()
    )
    assert h == t and len(h) > 0


def test_exact_dedup_null_text_merges_with_empty(spark):
    """Null posture shared across the dedup family (content_keys,
    exact_dedup both modes): NULL text ≡ '' — one identity, so hash
    mode and text mode agree even on null/empty mixtures, and no
    NULL key ever reaches a downstream join."""
    df = _docs(spark, [(1, None), (2, ""), (3, None), (4, "x")])
    for key in ("hash", "text"):
        got = {
            r["keeper_id"]: r["dup_count"]
            for r in exact_dedup(df, key=key).collect()
        }
        assert got == {1: 3, 4: 1}, (key, got)


def test_shingles_k3(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b"), (3, "  A  b   c ")])
    got = sorted(
        (r["doc_id"], r["shingle"]) for r in shingles(df, k=3).collect()
    )
    # doc 2 has <3 tokens -> no shingles; doc 3 normalizes case/whitespace
    assert got == [(1, "a b c"), (1, "b c d"), (3, "a b c")]


def test_shingles_distinct_within_doc(spark):
    df = _docs(spark, [(1, "a b a b a b")])  # "a b a"/"b a b" repeat
    got = sorted(r["shingle"] for r in shingles(df, k=3).collect())
    assert got == ["a b a", "b a b"]


def test_jaccard_pairs_hand_computed(spark):
    # doc1 shingles {ab c, b c d}; doc2 {a b c, b c e}; doc3 disjoint
    df = _docs(spark, [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")])
    got = jaccard_pairs(df, k=3, threshold=0.1).collect()
    assert len(got) == 1
    r = got[0]
    # inter {a b c}=1, union {a b c, b c d, b c e}=3
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert abs(r["jaccard"] - 1 / 3) < 1e-12


def test_jaccard_pairs_edge_corpus_matches_string_shingles(spark):
    """Token-tuple ids at k=3 over the boundary cases: exactly 3 tokens,
    2 tokens, null text, whitespace-only text and repeating windows.
    Short, null and blank docs get no shingle and so no pair; repeats
    count once (set semantics)."""
    df = _docs(
        spark,
        [
            (1, "a b c"),  # {abc}
            (2, "a b"),  # fewer than k tokens
            (3, None),
            (4, " \t\n "),
            (5, "a b a b a b"),  # {aba, bab}
            (6, "a b a b x"),  # {aba, bab, abx}
            (7, "x a b c"),  # {xab, abc}
            (8, "b a b"),  # {bab}
        ],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in jaccard_pairs(df, k=3, threshold=0.0).collect()
    }
    want = {(1, 7): 1 / 2, (5, 6): 2 / 3, (5, 8): 1 / 2, (6, 8): 1 / 3}
    assert got.keys() == want.keys()
    for pair, j in want.items():
        assert abs(got[pair] - j) < 1e-12, pair
    # the same pairs from the shingle strings, as distinct sets
    sets: dict[int, set[str]] = {}
    for r in shingles(df, k=3).collect():
        sets.setdefault(r["doc_id"], set()).add(r["shingle"])
    ref = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a in sets
        for b in sets
        if a < b and sets[a] & sets[b]
    }
    assert ref == want


def test_minhash_signature_shape_and_identity(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "p q r s t")])
    sig = minhash_signatures(shingle_ids(shingles(df, k=3)), num_perm=8)
    rows = sig.collect()
    assert len(rows) == 3 * 8
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], {})[r["perm"]] = r["h"]
    # identical shingle sets -> identical signatures in every permutation
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]


def test_minhash_lsh_finds_identical_docs(spark):
    # identical docs always collide in every band (jaccard 1.0)
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text with other words entirely"),
        ],
    )
    got = minhash_lsh_pairs(df, k=3, num_perm=16, bands=4, threshold=0.9).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_minhash_lsh_xxhash_mode_same_pairs(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different text with other words entirely"),
        ],
    )
    got = minhash_lsh_pairs(
        df, k=3, num_perm=16, bands=4, threshold=0.9, id_mode="xxhash"
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_simhash_identical_docs_equal_hash(spark):
    df = _docs(spark, [(1, "a b c a"), (2, "a b c a"), (3, "z z y x w v")])
    got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert got[1] == got[2]
    assert 0 <= got[1] < 2**32


def test_simhash_pairs_identical_docs_hamming_zero(spark):
    df = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
        ],
    )
    got = simhash_pairs(df, max_hamming=0).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in got] == [(1, 2, 0)]


def test_lsh_max_bucket_size_drops_hot_buckets(spark):
    # 4 identical docs form one hot bucket of size 4 in every band
    rows = [(i, "same text repeated all over this document body") for i in range(4)]
    rows.append((9, "an unrelated document with its own words here"))
    df = _docs(spark, rows)
    all_pairs = minhash_lsh_pairs(df, threshold=0.9).collect()
    assert len(all_pairs) == 6  # C(4,2)
    capped = minhash_lsh_pairs(df, threshold=0.9, max_bucket_size=3).collect()
    assert capped == []


def test_lsh_bucket_subsplit_is_result_identical(spark):
    """The max_bucket_docs sub-split reshapes the candidate join's
    keys, never its output: a hot bucket (12 near-identical docs, one
    bucket in every band) must yield the SAME verified pair set at
    sub-split granularity 1 (every doc its own sub-block), 2, 5, and
    effectively-off (default 1024). Also pins the zero-cap guard."""
    import pytest

    rows = [
        (i, "same text repeated all over this document body again")
        for i in range(12)
    ]
    rows.append((99, "an unrelated document with its own words here"))
    df = _docs(spark, rows)
    expect = {(a, b) for a in range(12) for b in range(a + 1, 12)}

    def pairs(cap):
        got = minhash_lsh_pairs(
            df, threshold=0.9, max_bucket_docs=cap
        ).collect()
        assert all(r["jaccard"] == 1.0 for r in got)
        return {(r["doc_a"], r["doc_b"]) for r in got}

    assert pairs(1024) == expect
    assert pairs(5) == expect
    assert pairs(2) == expect
    assert pairs(1) == expect
    with pytest.raises(ValueError, match="max_bucket_docs"):
        minhash_lsh_pairs(df, max_bucket_docs=0)


def test_dup_clusters_transitive_chain(spark):
    """A 10-node path graph: every node must land in cluster 0 even
    though 0 and 9 share no pair — exercises multiple star rounds
    (naive one-hop propagation would need 9). A round bound below one
    is rejected."""
    import pytest

    from propius_spark.operators import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(10)}
    with pytest.raises(ValueError, match="max_iter"):
        dup_clusters(pairs, max_iter=0)


def test_dup_clusters_multiple_components(spark):
    from propius_spark.operators import dup_clusters

    pairs = spark.createDataFrame(
        [(5, 3), (3, 8), (20, 21), (30, 30)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    # self-pair (30,30) is dropped entirely (no edge, not a member)
    assert got == {3: 3, 5: 3, 8: 3, 20: 20, 21: 20}


def test_dup_clusters_pairs_unique_equal(spark):
    """pairs_unique=True (skip the init distinct) must equal the
    default on a unique oriented pair table."""
    from propius_spark.operators import dup_clusters

    # a shape with heavy min-sharing (two hubs bridged) so large-star
    # actually produces duplicate (v, m) rows for the distinct to absorb
    edges = [(1, i) for i in range(2, 8)] + [(10, i) for i in range(11, 16)]
    edges += [(7, 10)]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )

    def canon(df):
        return sorted((r["doc_id"], r["cluster_id"]) for r in df.collect())

    base = canon(dup_clusters(pairs))
    assert canon(dup_clusters(pairs, pairs_unique=True)) == base
    # every node in one component rooted at the smallest id (nodes are
    # 1-7 and 10-15; 8/9 are not in the graph)
    nodes = sorted({n for a, b in edges for n in (a, b)})
    assert base == [(i, 1) for i in nodes]


def test_dup_clusters_converges_despite_double_counted_metric(spark, monkeypatch):
    """Task re-execution can merge a retried task's metrics twice, and
    small-star's doubled read of the round's input carries the
    observation node twice. The loop may depend only on whether the
    observed value is zero, never on its magnitude: doubling every
    nonzero reading must leave the clusters unchanged."""
    from propius_spark.operators import dedup

    real = dedup._observed

    def doubled(df, agg):
        observed, get = real(df, agg)
        return observed, lambda: (v := get()) and 2 * v

    monkeypatch.setattr(dedup, "_observed", doubled)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dup_clusters(pairs, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(10)}


def test_observed_fingerprint_raises_when_never_materialized(spark):
    """An observed metric whose frame never ran an action must fail
    loudly within the wait ceiling, not block forever on the
    observation."""
    import time

    import pytest

    from propius_spark.operators.dedup import OBSERVATION_WAIT_S, _observed

    e = spark.createDataFrame([(2, 1)], "u long, v long")
    _, get = _observed(e, F.count(F.lit(1)))
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="no observed metrics"):
        get()
    assert time.monotonic() - t0 < OBSERVATION_WAIT_S + 5


def test_observed_fingerprint_matches_direct_aggregate(spark):
    """The convergence metrics ride the materialize action as observed
    metrics (count, max of an int — exact, order-invariant aggregates,
    so the metrics accumulator's completion-order merge cannot diverge
    from the in-plan aggregate). Each observed value must equal the
    direct aggregate on a non-trivial edge table, and an empty table
    must observe count 0 and max None."""
    from pyspark.sql import functions as F

    from propius_spark.operators.dedup import _observed
    from propius_spark.plans import materialize

    e = spark.createDataFrame(
        [(i * 7 % 23, i % 5) for i in range(200)], "u long, v long"
    )
    empty = e.filter(F.col("u") < 0)
    aggs = {
        "count": (F.count(F.lit(1)), 0),
        "max": (F.max((F.col("u") - F.col("v")).cast("int")), None),
    }
    for name, (agg, on_empty) in aggs.items():
        observed, get = _observed(e, agg)
        materialize(observed)
        assert get() == e.select(agg).first()[0], name
        observed_e, get_e = _observed(empty, agg)
        materialize(observed_e)
        assert get_e() == on_empty, name


def test_resolve_duplicates_keepers_and_singletons(spark):
    from propius_spark.operators import resolve_duplicates

    docs = _docs(
        spark,
        [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (7, "e")],
    )
    pairs = spark.createDataFrame([(2, 4), (4, 3)], "doc_a long, doc_b long")
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in resolve_duplicates(docs, pairs).collect()
    }
    assert got == {
        1: (1, True),   # singleton
        2: (2, True),   # cluster min = keeper
        3: (2, False),
        4: (2, False),
        7: (7, True),
    }


def test_id_mode_xxhash_equals_dict_on_fixture_corpus(spark, sf_dir):
    """Guards the round-2 production-default flip to id_mode='xxhash'.

    minhash_lsh_pairs must resolve the SAME pair set in both codings:
    the exact-Jaccard verify step makes the output hash-independent
    (hashing only steers candidate recall, and at fixture scale both
    codings recall every true pair). SimHash has no verify step — its
    radius-3 output is hash-dependent BY DESIGN (each coding is a
    different random projection; the fixture corpus has a ~31-token
    vocabulary, far too small for the two projections to agree), so for
    it only the default-wiring (default ≡ xxhash) is asserted."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    def pairs_mh(**kw):
        return sorted(
            (r.doc_a, r.doc_b, round(r.jaccard, 9))
            for r in minhash_lsh_pairs(
                docs, k=3, num_perm=16, bands=4, threshold=0.5, **kw
            ).collect()
        )

    def pairs_sh(**kw):
        return sorted(
            (r.doc_a, r.doc_b, r.hamming)
            for r in simhash_pairs(docs, max_hamming=3, **kw).collect()
        )

    mh_dict = pairs_mh(id_mode="dict")
    mh_xx = pairs_mh(id_mode="xxhash")
    mh_default = pairs_mh()  # default IS xxhash now
    assert mh_xx == mh_default
    assert mh_dict == mh_xx and len(mh_xx) > 0

    sh_xx = pairs_sh(id_mode="xxhash")
    assert pairs_sh() == sh_xx and len(sh_xx) > 0


def test_dedup_against_incremental_semantics(spark):
    """Incremental dedup contract: a new doc duplicating a SEEN text
    drops; unseen texts survive — including BOTH copies of a
    within-batch duplicate (that collapse belongs to exact_dedup, the
    docstring's documented composition)."""
    from propius_spark.operators import content_keys, dedup_against

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    seen = content_keys(old).select("content_key")
    new = spark.createDataFrame(
        [
            (10, "alpha"),   # seen before → drop
            (11, "gamma"),   # fresh
            (12, "delta"),   # fresh (dup within batch…)
            (13, "delta"),   # …both survive here
        ],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in dedup_against(new, seen).collect())
    assert got == [11, 12, 13]
    # appending the fresh keys to the store makes the NEXT batch drop them
    seen2 = seen.unionByName(
        dedup_against(new, seen).select("content_key")
    )
    again = dedup_against(new, seen2)
    assert again.count() == 0


def test_dedup_against_seen_shapes_and_nulls(spark):
    """Guard rails added after review: (a) content_keys() output
    passes as `seen` directly — the key column is picked by NAME, not
    position, so the doc_id-first layout can't silently anti-join ids
    against hashes; (b) a multi-column seen without content_key
    raises instead of guessing; (c) null text normalizes to '' so a
    null-text doc is dedupable (a NULL key never matches an
    anti-join — it would re-emit as fresh forever)."""
    import pytest

    from propius_spark.operators import content_keys, dedup_against

    old = spark.createDataFrame(
        [(1, "alpha"), (2, None)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "alpha"), (11, None), (12, ""), (13, "fresh")],
        "doc_id long, text string",
    )
    # (a) two-column content_keys output used as the store directly
    got = sorted(
        r.doc_id for r in dedup_against(new, content_keys(old)).collect()
    )
    # null(11) and empty(12) both match old doc 2's null→'' key
    assert got == [13]
    # (b) ambiguous store shape errs
    bad = old.select("doc_id", "text")
    with pytest.raises(ValueError, match="content_key"):
        dedup_against(new, bad)
    # (c) a single NON-STRING column errs too — the cross-type
    # anti-join would cast hex keys to NULL and report all-fresh
    with pytest.raises(ValueError, match="string"):
        dedup_against(new, old.select("doc_id"))


def test_dict_rank_guard_raises_past_bound(spark, monkeypatch):
    """The dict-mode dictionaries rank on one task BY DESIGN (the
    oracle replays lexicographic ids); plans.bounded_rank must turn
    'dictionary outgrew the single-task contract' into a loud error
    rather than a silent one-core sort. Shrink the bound to trip it
    on a toy corpus; the same corpora pass untouched at the real
    bound (every green dict-mode test)."""
    import pytest

    import propius_spark.operators.dedup as dd
    from propius_spark.operators.dedup import shingle_ids, shingles, simhash

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta tok{i + 100}") for i in range(8)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(dd, "DICT_RANK_MAX", 3)
    with pytest.raises(Exception, match="shingle_ids.*documented bound"):
        # consume sid: count() would column-prune the whole window away
        # (in which case there is no single-task sort to guard)
        shingle_ids(shingles(docs, k=3), id_mode="dict").collect()
    with pytest.raises(Exception, match="simhash.*documented bound"):
        simhash(docs, id_mode="dict").collect()
    # xxhash mode has no dictionary and never consults the bound
    assert shingle_ids(shingles(docs, k=3), id_mode="xxhash").count() > 0


def test_unknown_id_mode_raises_at_build_time(spark):
    """Only 'xxhash' and 'dict' code ids: a typo'd mode must raise
    before any action rather than silently run dict mode's single-task
    sort with different ids."""
    import pytest

    from propius_spark.operators.dedup import (
        minhash_lsh_pairs,
        shingle_ids,
        shingles,
        simhash,
        simhash_pairs,
    )

    docs = spark.createDataFrame([(1, "alpha beta gamma delta")], "doc_id long, text string")
    for build in (
        lambda: shingle_ids(shingles(docs, k=3), id_mode="xxHash"),
        lambda: simhash(docs, id_mode="xxHash"),
        lambda: minhash_lsh_pairs(docs, id_mode="xxHash"),
        lambda: simhash_pairs(docs, id_mode="xxHash"),
    ):
        with pytest.raises(ValueError, match="id_mode must be 'xxhash' or 'dict'"):
            build()
