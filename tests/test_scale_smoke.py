"""Scale-smoke tests — empirical checks of the bounded-memory /
bounded-skew claims SCALE.md makes, at 10-50× the driver-gate data
sizes. Gated behind PROPIUS_SCALE_SMOKE=1 so the default suite stays
fast; run explicitly when touching the kernels or skew controls:

    PROPIUS_SCALE_SMOKE=1 python -m pytest tests/test_scale_smoke.py -q

Each test asserts CORRECTNESS at the larger size (a result invariant
that fails if the mechanism breaks), not wall-clock — timing claims
live in BASELINE.md.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

SCALE = os.environ.get("PROPIUS_SCALE_SMOKE") == "1"
pytestmark = pytest.mark.skipif(
    not SCALE, reason="set PROPIUS_SCALE_SMOKE=1 to run scale smokes"
)


def test_one_hot_bucket_subsplits_and_matches_exact(spark):
    """SCALE.md 'hot candidate buckets sub-split themselves': ALL 50k
    vectors land in ONE candidate bucket — the degenerate worst case a
    skewed IVF list produces. With max_bucket_vectors=1024 the kernel
    must stay bounded (a single 50k×50k float64 matmul would need
    20 GB in one task) and the pair set must equal what the same
    threshold finds — verified against a down-filtered exact run on a
    deterministic duplicated-vector construction."""
    import numpy as np

    from propius_spark.operators import embedding_dup_pairs

    n, dim, n_dup = 50_000, 16, 40
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(n, dim))
    # plant exact duplicates: vectors 0..n_dup-1 duplicated at
    # n..n+n_dup-1 — cosine 1.0 pairs the run must find
    planted = np.concatenate([vecs, vecs[:n_dup]])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(planted)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    one_bucket = emb.select("vec_id", F.lit(0).alias("bkt"))

    got = (
        embedding_dup_pairs(
            emb, threshold=0.999999, candidates=one_bucket,
            max_bucket_vectors=1024,
        )
        .select("vec_a", "vec_b")
        .collect()
    )
    pairs = {(r.vec_a, r.vec_b) for r in got}
    want = {(i, n + i) for i in range(n_dup)}
    # every planted duplicate found; random 16-dim gaussians at
    # threshold 0.999999 contribute nothing else
    assert want <= pairs
    extras = pairs - want
    assert len(extras) == 0, sorted(extras)[:5]


def test_exact_dedup_content_key_at_1m_docs(spark):
    """SCALE.md 'exact dedup never shuffles the corpus': 1M synthetic
    docs (100k distinct texts × 10 copies) through the sha-256 content
    key — group count and per-group sizes must be exact, and the min-id
    keeper rule must hold on a deterministic id layout."""
    from propius_spark.operators import exact_dedup

    n_distinct, copies = 100_000, 10
    docs = spark.range(n_distinct * copies).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("document body "), (F.col("id") % n_distinct).cast("string")
        ).alias("text"),
    )
    out = exact_dedup(docs).collect()
    assert len(out) == n_distinct
    assert all(r.dup_count == copies for r in out)
    # min-id keeper: ids 0..n_distinct-1 are each text's first copy
    keepers = sorted(r.keeper_id for r in out)
    assert keepers == list(range(n_distinct))


def test_minhash_lsh_recalls_planted_dups_at_50k_docs(spark):
    """The banded-bucket join at 50k docs: 25 planted near-duplicate
    pairs (one token changed in ~40-token docs) must all surface from
    LSH candidates + exact verify, with no exact-duplicate pair
    missed, and bucket-size capping must not blow up on the shared
    vocabulary."""
    import numpy as np

    from propius_spark.operators import minhash_lsh_pairs

    rng = np.random.default_rng(13)
    vocab = [f"tok{i}" for i in range(5_000)]
    base = [
        " ".join(rng.choice(vocab, size=40))
        for _ in range(50_000)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted near-dups: docs 50000+j is doc j with one token changed
    for j in range(25):
        toks = base[j].split()
        toks[0] = "tokX"
        rows.append((50_000 + j, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_lsh_pairs(docs, threshold=0.7).select("doc_a", "doc_b").collect()
    pairs = {(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)) for r in got}
    want = {(j, 50_000 + j) for j in range(25)}
    missed = want - pairs
    assert not missed, sorted(missed)


def test_hyperplane_lsh_end_to_end_at_50k_vectors(spark):
    """The LSH near-dup scale path at 100× gate size: 50k vectors
    (plus 40 planted exact duplicates) through hyperplane_lsh_buckets
    (16 planes, 4 bands) → candidate-fed verify at τ≈1. Exact
    duplicates share every sign bit, so ALL planted pairs must
    survive banding (recall 1.0 on duplicates BY CONSTRUCTION — no
    plane separates identical vectors), and random 16-dim gaussians
    contribute nothing at the threshold. Also pins candidate-table
    cardinality = n_bands rows per vector."""
    import numpy as np

    from propius_spark.operators import (
        embedding_dup_pairs,
        hyperplane_lsh_buckets,
    )

    n, dim, n_dup = 50_000, 16, 40
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(n, dim))
    planted = np.concatenate([vecs, vecs[:n_dup]])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(planted)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand = hyperplane_lsh_buckets(emb, n_planes=16, n_bands=4, seed=1, dim=dim)
    assert cand.count() == (n + n_dup) * 4
    got = (
        embedding_dup_pairs(
            emb, threshold=0.999999, candidates=cand,
            max_bucket_vectors=1024,
        )
        .select("vec_a", "vec_b")
        .collect()
    )
    pairs = {(r.vec_a, r.vec_b) for r in got}
    want = {(i, n + i) for i in range(n_dup)}
    assert want <= pairs
    assert len(pairs - want) == 0, sorted(pairs - want)[:5]


def test_event_family_at_1m_events(spark):
    """Sessionize + funnel at 100× gate size with a PATHOLOGICAL hot
    user: 1M events over 10k users, one bot carrying 200k of them
    (the skew that used to build an unbounded collect_list before the
    round-3 window rewrite). Both operators must complete at bounded
    memory and agree with closed-form expectations: deterministic
    10-minute event spacing with a 30-minute gap means every user is
    exactly ONE session, and the synthetic click→view alternation
    makes funnel counts exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from propius_spark.operators import funnel
    from propius_spark.operators.sessions import sessionize

    n, hot = 1_000_000, 200_000
    ev = (
        spark.range(n)
        .select(
            F.when(F.col("id") < hot, F.lit(0))
            .otherwise(F.pmod(F.col("id"), F.lit(9_999)) + 1)
            .alias("user_id"),
            # per-user spacing pinned directly: rank within user × 10
            # minutes, so every consecutive same-user gap is exactly
            # 10 min and the 30-min sessionize gap never fires
            F.col("id").alias("seq"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("user_id").orderBy("seq")),
        )
        .select(
            "user_id",
            F.timestamp_micros(
                (F.col("rn").cast("long") * 600_000_000)
            ).alias("ts"),
            F.when(F.pmod(F.col("rn"), F.lit(2)) == 1, F.lit("click"))
            .otherwise(F.lit("view"))
            .alias("event_type"),
        )
    )
    sess = sessionize(ev, gap_minutes=30).collect()
    assert len(sess) == 10_000  # one session per user (10-min spacing)
    by_user = {r.user_id: r.n_events for r in sess}
    assert by_user[0] == hot
    # funnel click→view: every user's first click (rn=1) precedes the
    # first view (rn=2) — all 10k users convert at both steps
    fr = {r.step: r.n_users for r in funnel(ev, ["click", "view"]).collect()}
    assert fr == {"click": 10_000, "view": 10_000}


def test_shuffle_shards_and_mix_at_1m_docs(spark):
    """SCALE.md 'per-task sort state is corpus/n_shards': 1M keys
    (including ids far above the old 3.5e9 overflow line) shard into
    64 roughly-uniform shards with dense per-shard positions, and
    mix_sources resamples a skewed 3-source corpus to 50/30/20 with
    the binding group kept whole — both as pure key arithmetic."""
    from propius_spark.operators import mix_sources, shuffle_shards

    n = 1_000_000
    docs = spark.range(n).select(
        (F.col("id") * 7 + 5_000_000_000).alias("doc_id"),
        F.when(F.col("id") % 10 < 6, "web")
        .when(F.col("id") % 10 < 9, "books")
        .otherwise("code")
        .alias("source"),
    )
    sh = shuffle_shards(docs, n_shards=64, key_col="doc_id")
    stats = sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("pos").alias("mx")
    )
    rows = stats.collect()
    assert len(rows) == 64
    for r in rows:
        assert r.mx == r.cnt - 1          # dense 0..cnt-1 positions
        assert abs(r.cnt - n / 64) < n / 64 * 0.05  # ~uniform
    # mixture: web 600k / books 300k / code 100k, targets 50/30/20
    # -> S = min(1.2M, 1M, 0.5M) = 500k: code binds (kept whole)
    out = mix_sources(docs, {"web": 0.5, "books": 0.3, "code": 0.2},
                      group_col="source", key_col="doc_id")
    got = {r.source: r.cnt for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got["code"] == 100_000
    assert abs(got["web"] - 250_000) < 5_000
    assert abs(got["books"] - 150_000) < 5_000


def test_hot_context_aqe_skew_split_plus_cap(spark):
    """VERDICT r5 next-round item 4 — the op-33 skew story, measured.

    One deliberately hot context (degree 3,000 vs median 6: the d²
    explosion makes it 9.0M of the 9.003M joined rows) through the
    Gram-shaped self-join, three ways:

    1. AQE skew-split ON: the hot partition is split by map-output
       ranges (SortMergeJoin(skew=true) in the final plan) — the join
       fans out to ~60+ tasks with max/median output rows ≈ 1.0.
    2. Skew-split OFF (control): the same join runs the hot context in
       ONE task holding all 9M rows — measured ~4× the wall time.
    3. The cap: gram(max_context_degree=64) drops the hot context
       entirely; the pair set equals the no-hot-context run exactly.

    Scale note: AQE detects skew from COMPRESSED map-output bytes, so
    the fixture rows carry an incompressible 256-byte sha2 pad and the
    skew thresholds are scaled down (128 KB / 64 KB advisory) to make a
    ~2 MB fixture behave like a >256 MB-per-partition production
    shuffle. At 100 TB the defaults trip on their own: a context must
    reach ~10M degree before its map slice crosses 256 MB, exactly the
    regime the cap exists for. Narrow (unpadded) cells rows at smoke
    scale compress below every threshold — which is itself the measured
    reason this test pads."""
    import re
    import statistics
    import time

    from propius_spark.operators.correlation import gram, valid_item_stats

    def padded(df):
        p = F.sha2(
            F.concat_ws("-", F.col("ctx_id"), F.col("item_id"), F.lit("s0")),
            256,
        )
        for i in (1, 2, 3):
            p = F.concat(p, F.sha2(F.concat(p, F.lit(str(i))), 256))
        return df.withColumn("pad", p)

    hot = padded(
        spark.range(3000).select(
            F.lit(0).alias("ctx_id"), (F.col("id") + 1).alias("item_id")
        )
    )
    norm = padded(
        spark.range(200 * 6)
        .select(
            (F.col("id") % 200 + 1).alias("ctx_id"),
            (F.pmod(F.xxhash64(F.col("id")), 5000) + 1).alias("item_id"),
        )
        .distinct()
    )
    cells = hot.unionByName(norm).localCheckpoint()

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }

    def run_join():
        a = cells.select(
            "ctx_id", F.col("item_id").alias("item_a"), F.col("pad").alias("pa")
        )
        b = cells.select(
            "ctx_id", F.col("item_id").alias("item_b"), F.col("pad").alias("pb")
        )
        j = a.join(b, "ctx_id").filter(F.col("item_a") != F.col("item_b"))
        # the pads must be CONSUMED or column pruning removes them from
        # the shuffle and the fixture silently stops being skewed
        agg = j.groupBy(F.spark_partition_id().alias("pid")).agg(
            F.count(F.lit(1)).alias("rows"),
            F.max(F.length("pa")).alias("_pa"),
            F.max(F.length("pb")).alias("_pb"),
        )
        t0 = time.time()
        per_task = sorted(r.rows for r in agg.collect())
        wall = time.time() - t0
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return per_task, wall, len(re.findall(r"skew=true", plan))

    try:
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128k"
        )
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        rows_on, wall_on, marks_on = run_join()
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        rows_off, wall_off, marks_off = run_join()
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)

    total = 3000 * 2999 + 200 * 6 * 5
    assert sum(rows_on) == sum(rows_off)
    # split happened and balanced the explosion
    assert marks_on >= 1 and marks_off == 0
    assert len(rows_on) >= 16, rows_on
    assert rows_on[-1] <= 4 * statistics.median(rows_on), rows_on[-5:]
    # control concentrates the hot context in one task
    assert rows_off[-1] >= 0.9 * sum(rows_off), rows_off[-3:]
    print(
        f"\nskew ON : {len(rows_on)} tasks, max/median "
        f"{rows_on[-1] / statistics.median(rows_on):.2f}, {wall_on:.1f}s"
        f"\nskew OFF: {len(rows_off)} tasks, max {rows_off[-1]} rows in one "
        f"task, {wall_off:.1f}s"
    )

    # 3. the cap: gram() with max_context_degree drops the hot context
    thin = cells.select("ctx_id", "item_id", F.lit(1.0).alias("cnt"))
    stats = valid_item_stats(thin)
    capped = gram(thin, stats, max_context_degree=64)
    no_hot = gram(thin.filter(F.col("ctx_id") != 0), stats)
    assert capped.exceptAll(no_hot).isEmpty()
    assert no_hot.exceptAll(capped).isEmpty()


def test_exact_build_matches_single_item_rows_at_sf1(spark, tmp_path):
    """Three exact algorithms agree on one item's published row at the
    sf1.0 scale the correlation family is timed at, where no full
    oracle runs (the DuckDB `similar_exact_parts` oracle forms all V²
    pairs): similar_items_exact (correlated Gram + analytic per-item
    sums), get_similar_items (the explicit O(V) row with numeric
    avg/stddev_samp) and a DuckDB single-item SQL in the
    `publish_retrieve` oracle's shape. Six items are taken in
    xxhash64(item_id) order from the valid items of the sf1.0 replica
    that scripts/make_scale_data.py builds; each item's (item_b,
    6-dp corr) set must be equal on all three."""
    import subprocess
    import sys
    from pathlib import Path

    import duckdb

    from propius_spark.operators import build_cells, similarity
    from propius_spark.operators.correlation import valid_item_stats
    from propius_spark.sources import occurrences_from_lineitem

    repo = Path(__file__).resolve().parent.parent
    sf_dir = tmp_path / "sf1.0"
    subprocess.run(
        [sys.executable, str(repo / "scripts" / "make_scale_data.py"), str(sf_dir)],
        check=True,
    )
    cells = build_cells(occurrences_from_lineitem(spark, str(sf_dir)))
    sample = [
        r.item_id
        for r in valid_item_stats(cells)
        .orderBy(F.xxhash64("item_id"), "item_id")
        .select("item_id")
        .limit(6)
        .collect()
    ]
    assert len(sample) == 6

    def canon(rows):
        return {(r[0], round(r[1], 6)) for r in rows}

    exact = (
        similarity.similar_items_exact(cells, k_sigma=2.0)
        .filter(F.col("item_a").isin(sample))
        .select("item_a", "item_b", "corr")
        .collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    sql = """
        WITH cells AS (SELECT l_partkey AS item, l_orderkey AS ref,
                              COUNT(*)::DOUBLE AS cnt
                       FROM lineitem
                       WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
                       GROUP BY 1, 2),
        nn AS (SELECT COUNT(DISTINCT ref)::DOUBLE AS n FROM cells),
        st AS (SELECT item, SUM(cnt) AS s, SUM(cnt*cnt) AS q FROM cells GROUP BY 1),
        vs AS (SELECT item, s, sqrt(n.n*q - s*s) AS den
               FROM st, nn n WHERE n.n*q - s*s > 0),
        dots AS (SELECT b.item AS item_b, SUM(a.cnt*b.cnt) AS dot
                 FROM cells a JOIN cells b ON a.ref = b.ref AND a.item <> b.item
                 WHERE a.item = $item GROUP BY 1),
        pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                         (n.n*COALESCE(d.dot, 0) - a.s*b.s)/(a.den*b.den) AS corr
                  FROM vs a JOIN vs b ON a.item <> b.item
                  LEFT JOIN dots d ON d.item_b = b.item, nn n
                  WHERE a.item = $item),
        w AS (SELECT item_b, corr,
                     AVG(corr) OVER (PARTITION BY item_a) AS mean_,
                     STDDEV_SAMP(corr) OVER (PARTITION BY item_a) AS std_
              FROM pairs)
        SELECT item_b, corr FROM w
        WHERE ROUND(corr, 6) >= ROUND(mean_ + 2.0*std_, 6)
    """
    for it in sample:
        got = canon((r.item_b, r.corr) for r in exact if r.item_a == it)
        single = canon(
            similarity.get_similar_items(cells, it, "std_dev", 2.0).collect()
        )
        oracle = canon(con.execute(sql, {"item": it}).fetchall())
        assert got == single == oracle, (it, len(got), len(single), len(oracle))
    con.close()
    assert exact, "sample published no rows"
