"""Plan-shape regression tests — lock in the physical-plan properties
that make the engine scale (SURVEY.md §4): column pruning and filter
pushdown at the parquet scan, broadcast joins for dimension tables,
single-scan materialization of shared subtrees, and a Python-free
(whole-stage-codegen) parity path. A correctness-preserving change that
silently reintroduces an 8× fact-table re-scan or a Python eval node in
the hot path fails here, not in a 100 TB run.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from propius_spark.operators import build_cells, corr_pairs, publish_model  # noqa: E402
from propius_spark.serving import retrieve_similar_items  # noqa: E402
from propius_spark.sources import occurrences_from_lineitem  # noqa: E402


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


PY_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "AggregateInPandas",
)


def test_cells_scan_prunes_columns(spark, sf_dir):
    """The co-occurrence scan must read exactly the 2 key columns of
    the 16-column lineitem table (column pruning reached the parquet
    reader) — anything wider multiplies 100 TB of scan I/O."""
    plan = _plan(build_cells(occurrences_from_lineitem(spark, sf_dir)))
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>" in plan


def test_corr_pairs_single_source_scan(spark, sf_dir):
    """corr_pairs materializes the cell table before fanning out to its
    four consumers (context count, item stats, both Gram sides): the
    final plan must contain NO parquet re-scans of the event log.
    Before materialization the same action scanned the source 8×."""
    pairs = corr_pairs(build_cells(occurrences_from_lineitem(spark, sf_dir)))
    assert "Scan parquet" not in _plan(pairs)


def test_serving_pushdown_and_broadcast(spark, sf_dir):
    """Serving retrieval: the dim-table filter reaches the parquet scan
    (PushedFilters) and the fact⋈dim name join is a broadcast hash join
    — never a shuffle of the big side against a small dimension."""
    dim = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("key"),
        F.lit(None).cast("string").alias("human_label"),
    )
    sims = corr_pairs(build_cells(occurrences_from_lineitem(spark, sf_dir))).select(
        F.col("item_a").alias("item_a_id"),
        F.col("item_b").alias("item_b_id"),
        F.col("corr").alias("scaled_score"),
    )
    plan = _plan(retrieve_similar_items(sims, dim, item_id=1, limit=5))
    # the pushed predicate must mention the id column INSIDE the
    # PushedFilters list — "p_partkey somewhere in the plan" was
    # vacuously true via the scan's ReadSchema line
    pushed = [ln for ln in plan.splitlines() if "PushedFilters:" in ln]
    assert any("p_partkey" in ln for ln in pushed), pushed
    assert "BroadcastHashJoin" in plan
    # distributed top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_published_lookup_partition_prunes(spark, sf_dir, tmp_path):
    """Bucketed publication (publish_model(n_buckets=n)) is the Spark
    analogue of the reference's B-tree index on (item_a_id, item_b_id):
    a serving point lookup with the bucket predicate must prune the
    scan to one hive partition (PartitionFilters on `bucket`), and the
    pruned result must equal the unbucketed path exactly."""
    occ = occurrences_from_lineitem(spark, sf_dir)
    dim_src = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("title")
    )
    paths = publish_model(occ, dim_src, str(tmp_path / "model"), n_buckets=8)
    sims = spark.read.parquet(paths["similar_items"])
    dim = spark.read.parquet(paths["correlated_items"])
    item = int(sims.select("item_a_id").first()[0])

    pruned = retrieve_similar_items(sims, dim, item, limit=5, n_buckets=8)
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1].splitlines()[0]

    flat = retrieve_similar_items(sims.drop("bucket"), dim, item, limit=5)
    assert [tuple(r) for r in pruned.collect()] == [tuple(r) for r in flat.collect()]


def test_parity_paths_are_python_free(spark, sf_dir):
    """Every reference-parity query plans without a Python eval node —
    the whole path stays JVM-side in Tungsten codegen (SURVEY.md §2.10:
    zero UDFs needed for parity). Arrow/pandas nodes are expected ONLY
    in the explicitly-vectorized extension ops (ANN BLAS kernel,
    multimodal decode)."""
    parity = [
        "corr_pairs_parts",
        "corr_pairs_cross_set",
        "similar_candidates_events",
        "similar_one_part",
        "similar_exact_parts",
        "similar_topk_per_item",
        "retrieve_topk_part",
        "retrieve_topk_batch",
        "publish_retrieve",
        "item_info",
        "search_items",
        "db_stats",
        "dedup_exact",
        "dedup_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_clusters",
        "text_doc_stats",
        "ann_cosine_topk",
        "sessionize_events",
        "model_roundtrip",
    ]
    qs = entrymod.queries()
    offending = {}
    for name in parity:
        plan = _plan(qs[name](spark, sf_dir))
        hits = [n for n in PY_EVAL_NODES if n in plan]
        if hits:
            offending[name] = hits
    assert not offending, f"Python eval nodes in parity plans: {offending}"


def test_parity_path_has_codegen(spark, sf_dir):
    """The Pearson pipeline executes inside whole-stage codegen spans
    (Tungsten), not interpreted expressions. AQE only finalizes (and
    annotates) the physical plan during execution, so run the query
    first and inspect the executed plan."""
    pairs = corr_pairs(build_cells(occurrences_from_lineitem(spark, sf_dir)))
    pairs.collect()  # finalize this DataFrame's own AQE plan
    executed = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    # codegen stages print as "*(id) Operator" in the simple plan string
    assert "*(" in executed


def test_materialize_durable_checkpoint_mode(spark, tmp_path):
    """materialize() picks reliable checkpoint() when a checkpoint dir
    is configured (the cluster/executor-loss story) and
    localCheckpoint() otherwise — identical results either way."""
    import os

    from propius_spark.plans import materialize

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    want = sorted((r.id, r.v) for r in df.collect())

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = materialize(df)
    assert sorted((r.id, r.v) for r in local.collect()) == want
    assert not local.isStreaming

    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        durable = materialize(df)
        assert sorted((r.id, r.v) for r in durable.collect()) == want
        # reliable checkpoints write real files under the dir
        found = [
            os.path.join(d, f)
            for d, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert found, "no reliable checkpoint files written"
    finally:
        # reset to executor-local mode so later tests are unaffected
        jsc = sc._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_materialize_compacts_overpartitioned_checkpoints(spark):
    """SCALE.md §8a finding 4: a table checkpointed in many more blocks
    than its bytes warrant gets ONE narrow compaction pass — same rows,
    coarse blocks, fine-grained blocks released. A right-sized input
    (≤ 2× the defaultParallelism floor) must stay untouched, and
    compact=False must skip compaction entirely."""
    from propius_spark.plans import materialize

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    wide = 4 * cores + 1  # > the 2× engage margin over the floor
    df = spark.range(1000).withColumn("v", F.col("id") * 3).repartition(wide)
    want = sorted((r.id, r.v) for r in df.collect())

    def persistent_count():
        return len(sc._jsc.getPersistentRDDs())

    base = persistent_count()
    out = materialize(df)
    assert sorted((r.id, r.v) for r in out.collect()) == want
    # compacted to the defaultParallelism floor (a 1000-row table is
    # far under one 128 MB block; the floor keeps per-core blocks)
    assert out.rdd.getNumPartitions() == cores
    # exactly one new persistent RDD survives: the compact checkpoint;
    # the wide intermediate's blocks were released
    assert persistent_count() == base + 1

    # right-sized input: no compaction pass, partitioning preserved
    ok = materialize(spark.range(1000).repartition(cores))
    assert ok.rdd.getNumPartitions() == cores

    # call-site consumer-shape override: immediately-shuffled tables
    # (the cells posture) must never pay the compaction pass
    no_compact = materialize(df, compact=False)
    assert no_compact.rdd.getNumPartitions() == wide
    assert sorted((r.id, r.v) for r in no_compact.collect()) == want
    spark.catalog.clearCache()
    from propius_spark.session import clear_materialized

    clear_materialized(spark)


def test_checkpoint_dir_env_knob(spark, tmp_path, monkeypatch):
    """PROPIUS_CHECKPOINT_DIR flips the session into durable-checkpoint
    mode (plans.materialize then uses reliable checkpoint() sized from
    the files) without a code edit — and never overrides a dir the
    caller already configured."""
    from propius_spark.session import get_spark

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    monkeypatch.setenv("PROPIUS_CHECKPOINT_DIR", str(tmp_path / "durable"))
    try:
        s2 = get_spark("knob_check")
        got = s2.sparkContext.getCheckpointDir()
        assert got is not None and "durable" in got

        # an explicitly-set dir wins over the env knob
        monkeypatch.setenv(
            "PROPIUS_CHECKPOINT_DIR", str(tmp_path / "other")
        )
        assert "durable" in get_spark("knob_check").sparkContext.getCheckpointDir()
    finally:
        jsc = sc._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_materialize_compaction_durable_mode_matches_local(spark, tmp_path):
    """Round-7 gap (VERDICT r7 'What's wrong' #2): in reliable-
    checkpoint mode the persist wrapper releases before sizing, so
    `_stored_bytes` saw no blocks and compaction silently disengaged
    on exactly the clusters durable checkpointing exists for. Sizing
    now comes from the checkpoint FILES (Hadoop FS): the engage/skip
    decision on a given frame must MATCH localCheckpoint mode — wide
    frame compacts to the defaultParallelism floor, right-sized frame
    is left alone — and the observability counters must move the same
    way (plus no_block_info staying flat once sizing works)."""
    from propius_spark import plans
    from propius_spark.plans import materialize

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    wide = 4 * cores + 1
    df = spark.range(1000).withColumn("v", F.col("id") * 3).repartition(wide)
    want = sorted((r.id, r.v) for r in df.collect())

    # local mode decisions (the reference behavior)
    assert sc.getCheckpointDir() is None
    local_wide = materialize(df).rdd.getNumPartitions()
    local_ok = materialize(
        spark.range(1000).repartition(cores)
    ).rdd.getNumPartitions()
    assert (local_wide, local_ok) == (cores, cores)

    # drop the local-mode checkpoints' blocks so the durable-mode
    # no-blocks assertion below sees only what durable mode left
    from propius_spark.session import clear_materialized

    clear_materialized(spark)

    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        base = dict(plans.compaction_stats)
        out = materialize(df)
        assert out.rdd.getNumPartitions() == local_wide  # engaged
        assert sorted((r.id, r.v) for r in out.collect()) == want
        assert plans.compaction_stats["engaged"] == base["engaged"] + 1

        ok = materialize(spark.range(1000).repartition(cores))
        assert ok.rdd.getNumPartitions() == local_ok  # skipped, not mute
        assert plans.compaction_stats["skipped"] == base["skipped"] + 1
        assert (
            plans.compaction_stats["no_block_info"] == base["no_block_info"]
        )

        # durable mode leaves no persist-wrapper blocks behind either way
        assert not sc._jsc.getPersistentRDDs()
    finally:
        jsc = sc._jsc.sc()
        getattr(jsc, "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None
    spark.catalog.clearCache()
    clear_materialized(spark)


def test_persistence_helpers_bridge_traffic(spark, monkeypatch):
    """Py4J commands per call stay bounded: call-site capture is off
    (`F.col` sends 3 commands, 13 with it on), persistent-RDD ids are
    read through one Java array (a Py4J iterator ends in a
    NoSuchElementException that PySpark converts with dozens more
    commands), and `materialize` makes no sizing read when the
    partition count alone rules compaction out."""
    import py4j.clientserver
    import py4j.protocol
    import pyspark.errors.exceptions.captured as captured

    from propius_spark.plans import materialize
    from propius_spark.session import (
        clear_materialized,
        persistent_rdd_ids,
        release_materialized_since,
    )

    sent, converted = [0], [0]
    send = py4j.clientserver.ClientServerConnection.send_command
    convert = captured.convert_exception

    def counting_send(self, command):
        # leave out py4j's deletes of garbage-collected Java handles:
        # they free objects made earlier, whenever Python's GC runs
        if not command.startswith(py4j.protocol.MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(self, command)

    def counting_convert(e):
        converted[0] += 1
        return convert(e)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting_send
    )
    monkeypatch.setattr(captured, "convert_exception", counting_convert)

    def commands(fn, *args, **kwargs) -> int:
        n = sent[0]
        fn(*args, **kwargs)
        return sent[0] - n

    clear_materialized(spark)
    tiny = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
    before = persistent_rdd_ids(spark)
    for compact in (True, False):
        n = commands(materialize, tiny, compact=compact)
        assert n <= 40, (compact, n)
    assert release_materialized_since(spark, before) == 2
    materialize(tiny, compact=False)
    assert commands(clear_materialized, spark) <= 10
    assert not persistent_rdd_ids(spark)
    assert commands(F.col, "x") <= 3
    assert converted[0] == 0


def test_new_text_ops_plan_shape(spark, sf_dir):
    """Round-2 text/mixing ops keep their scale posture: decontaminate
    broadcasts the benchmark side (no corpus-side shuffle join);
    cap_per_group and props_rollup are Python-free single-exchange
    plans with column-pruned scans; none plans a cartesian product."""
    from propius_spark.operators import (
        cap_per_group,
        decontaminate,
        props_rollup,
    )
    from propius_spark.sources import read_events

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source", "n_chars"
    )

    dec = _plan(decontaminate(docs, docs.filter(F.col("doc_id") < 20), k=3))
    assert "BroadcastHashJoin" in dec or "BroadcastExchange" in dec
    assert "CartesianProduct" not in dec
    assert not [n for n in PY_EVAL_NODES if n in dec]

    import re

    def _n_shuffles(plan):
        # formatted mode prints shuffle nodes as "Exchange (n)" /
        # "(n) Exchange". \bExchange\b already cannot match inside
        # "BroadcastExchange" (no word boundary at "tE"), so
        # subtracting its count here DOUBLE-counted the correction and
        # understated real shuffles whenever a broadcast was present
        return len(re.findall(r"\bExchange\b", plan))

    cap = _plan(
        cap_per_group(
            docs.select("doc_id", "source", "n_chars"),
            "source", 5, "n_chars", tiebreak_col="doc_id",
        )
    )
    assert _n_shuffles(cap) == 2  # node appears in tree + detail section
    assert "text" not in cap.split("ReadSchema", 1)[1].splitlines()[0]
    assert not [n for n in PY_EVAL_NODES if n in cap]

    pr = _plan(props_rollup(read_events(spark, sf_dir), field="k"))
    assert _n_shuffles(pr) == 2
    assert not [n for n in PY_EVAL_NODES if n in pr]


def test_neighbor_stats_one_item_exchange(spark, sf_dir):
    """neighbor_stats' per-item pass: the taken set (Gram rows carrying
    the sum terms and corr, plus one self row per item) is shuffled
    ONCE by item_a, and no sort: one groupBy yields the sums, the cooc
    extremes and the taken-rank list the free ranks are read from, and
    it partial-aggregates below its exchange. The stats and rank→t
    joins broadcast. The executed (AQE final) plan must hold exactly
    one hash exchange with a partial aggregate under it; a second
    shuffle of the pair table, a Window or Sort over it (the
    row_number form of the free ranks), or a side-tagged explode
    (Generate) fails here."""
    import re

    from propius_spark.operators import gram, neighbor_stats, valid_item_stats
    from propius_spark.plans import materialize

    cells = materialize(build_cells(occurrences_from_lineitem(spark, sf_dir)))
    stats = materialize(valid_item_stats(cells))
    g = materialize(gram(cells, stats))
    ns = neighbor_stats(cells, stats=stats, g=g)
    ns.collect()
    final = ns._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]

    assert final.count("Exchange hashpartitioning") == 1
    assert not re.search(r"\b(Window|Sort) \[", final)
    assert "Generate" not in final
    tree = final.splitlines()
    ex = next(i for i, ln in enumerate(tree) if "Exchange hashpartitioning" in ln)
    below = tree[ex + 1]
    assert "Aggregate(keys=[item_a#" in below and "partial_" in below


def test_similar_exact_anti_join_reads_neg_gram_rows_only(spark, sf_dir):
    """similar_items_exact's non-co-occurring branch anti-joins its
    candidates against the Gram pairs. Only the Gram rows of items with
    a cut below 1e-6 (the broadcast `neg` set) can match, so the
    anti-join's right side sits under a semi-join with those ids: an
    empty `neg` shuffles no Gram row. Correctness stays pinned by the
    dense brute-force tests."""
    import re

    from propius_spark.operators import similar_items_exact

    df = similar_items_exact(build_cells(occurrences_from_lineitem(spark, sf_dir)))
    tree = df._jdf.queryExecution().executedPlan().toString().splitlines()
    anti = next(i for i, ln in enumerate(tree) if "LeftAnti" in ln)
    col = re.search(r"[:+]- ", tree[anti]).end()
    right = next(i for i in range(anti + 1, len(tree)) if tree[i][col : col + 3] == "+- ")
    sub = []
    for ln in tree[right + 1 :]:
        if len(ln) <= col or ln[col] != " ":
            break
        sub.append(ln)
    semi = next(i for i, ln in enumerate(sub) if "LeftSemi" in ln)
    assert "BroadcastHashJoin [item_a#" in sub[semi]
    assert any("< 1.0E-6" in ln for ln in sub[semi + 1 :])


def test_similar_exact_correlates_each_pair_once(spark, sf_dir, monkeypatch):
    """similar_items_exact builds one item table and one correlated pair
    table: exactly four materializes (cells, stats carrying the rank,
    the correlated Gram, cuts), and every pair-side consumer reads the
    materialized correlated Gram, so the executed final plan holds no
    stats join on item_b (the corr expression's b side). A separately
    materialized ranked item table or a second Gram ⋈ stats → corr pass
    fails here. The correlated Gram carries only what its consumers
    read: the per-item pass sums corr directly, so no dot or den_b
    column rides the pair table."""
    from propius_spark.operators import correlation, similarity
    from propius_spark.plans import materialize

    calls = []

    def counting(df, *args, **kwargs):
        calls.append(df.columns)
        return materialize(df, *args, **kwargs)

    monkeypatch.setattr(correlation, "materialize", counting)
    monkeypatch.setattr(similarity, "materialize", counting)

    df = similarity.similar_items_exact(
        build_cells(occurrences_from_lineitem(spark, sf_dir))
    )
    assert len(calls) == 4, calls
    assert calls[2] == ["item_a", "item_b", "rnk_b", "t_b", "corr"], calls
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin [item_b" not in final


def test_repeat_exact_build_compiles_no_code(spark, tmp_path):
    """A repeat exact build reuses every generated class. One bucketed
    publish_model generates about 110 classes, more than Spark's
    100-entry default codegen cache holds, and walks them in the same
    order each time, so under the default the LRU cache misses
    cyclically and the second build recompiles most of them; get_spark
    sizes the cache above that working set. (similar_items_exact alone
    generates ~85 classes, which the default cache already holds.)"""
    import random

    rng = random.Random(1)
    rows = [(f"r{rng.randrange(300)}", int(rng.paretovariate(1.05)) % 60) for _ in range(3000)]
    occ = spark.createDataFrame(rows, "reference_id string, item_id long")
    dim = spark.createDataFrame([(i, f"t{i}") for i in range(60)], "id long, title string")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    publish_model(occ, dim, str(tmp_path / "m0"), n_buckets=4)
    before = compiles().getCount()
    publish_model(occ, dim, str(tmp_path / "m1"), n_buckets=4)
    assert compiles().getCount() - before == 0


@pytest.mark.parametrize("mode", ["candidates", "exact"])
def test_bucketed_dup_pairs_plan_shape(spark, sf_dir, mode):
    """Embedding near-dup (round-3 sub-split form): ONE Arrow kernel
    (FlatMapGroupsInPandas), the sub-block expansion is a map-side
    Generate below the group shuffle (replication costs no extra
    shuffle), and the plan carries a bounded shuffle set — the vid
    join pair, candidate dedup + bucket sizes, the kernel's group
    shuffle, and the result dedup. Exact mode is the same expansion
    over one bucket: one corpus scan, and no broadcast block-pair
    joins. A change that reintroduces per-bucket single-task matmuls,
    a second kernel or a second corpus read fails here."""
    import re

    from propius_spark.operators import assign_centroids, embedding_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    if mode == "exact":
        plan = _plan(embedding_dup_pairs(emb, threshold=0.4))
        assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan
        assert "BroadcastHashJoin" not in plan
    else:
        _, asg = assign_centroids(emb, n_centroids=4)
        plan = _plan(embedding_dup_pairs(emb, threshold=0.4, candidates=asg))

    assert len(re.findall(r"^\(\d+\) FlatMapGroupsInPandas$", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Generate$", plan, re.M)) == 1
    tree = plan.split("\n\n")[0]
    fm = tree.index("FlatMapGroupsInPandas")
    gen = tree.index("Generate")
    assert gen > fm  # Generate sits BELOW the kernel in the tree
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", plan, re.M))
    assert n_shuffles <= 5, plan


def test_dup_clusters_round_proof_adds_no_exchange(spark, monkeypatch):
    """Each connected-components round proves its own input converged
    from count(v) riding large-star's existing min window, so a round's
    pre-AQE plan keeps the shape it had before the proof: 4 Window and
    5 Exchange nodes (small-star's union reads its input twice, so each
    star's window and exchange appear twice, plus the distinct's
    exchange). The observation sits under that doubled read, so it
    appears twice — the reason the proof observes max, which a double
    merge cannot move. The 10-node path takes the initial checkpoint
    plus 5 rounds."""
    import re

    from propius_spark.operators import dedup

    frames = []
    real = dedup.materialize

    def capture(df, *args, **kwargs):
        frames.append(df)
        return real(df, *args, **kwargs)

    monkeypatch.setattr(dedup, "materialize", capture)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    dedup.dup_clusters(pairs).collect()
    assert len(frames) == 6
    tree = _plan(frames[1]).split("\n\n")[0]
    initial = tree.split("== Initial Plan ==")[1]

    def count(node):
        return len(re.findall(rf"\b{node} \(\d+\)", initial))

    assert count("Window") == 4, initial
    assert count("Exchange") == 5, initial
    assert count("CollectMetrics") == 2, initial


def test_lsh_buckets_map_side(spark, sf_dir):
    """hyperplane_lsh_buckets is pure map work: plane literals in the
    plan, no Exchange, no Python eval nodes, and the embeddings scan
    reads only (vec_id, embedding). The candidate generator must stay
    free at 100 TB — the only shuffle in the composed near-dup path
    belongs to the bucket join downstream."""
    from propius_spark.operators import hyperplane_lsh_buckets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(hyperplane_lsh_buckets(emb, n_planes=8, n_bands=2, dim=64))
    assert "Exchange" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_kgram_window_tokenizes_once_after_fan_out(spark, sf_dir):
    """shingles and jaccard_pairs read one k-gram window: the documents
    are tokenized once (one `split(`, in a Project, never a Filter),
    above the fan_out Exchange, and no per-position lambda builds the
    shingles. jaccard_pairs hashes token tuples and builds no shingle
    string. A `size(tokens) >= k` filter is what Catalyst pushes below
    the exchange, tokenizing every doc a second time in the single task
    that reads the file."""
    import re

    from propius_spark.operators import jaccard_pairs, shingles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for name, df in (("shingles", shingles(docs, 3)), ("jaccard", jaccard_pairs(docs))):
        plan = _plan(df)
        # detail blocks by node number (a persisted subtree is
        # reprinted in the tree under each consumer, detailed once)
        blocks = {
            int(n): b
            for n, b in re.findall(r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S)
        }
        tok = [n for n, b in blocks.items() if "split(" in b]
        assert len(tok) == 1 and blocks[tok[0]].count("split(") == 1, (name, tok)
        assert not blocks[tok[0]].startswith("Filter"), name
        fan = [n for n, b in blocks.items() if "REPARTITION_BY_NUM" in b]
        # nodes are numbered children first: the tokenizing node sits
        # above the one fan_out exchange
        assert len(fan) == 1 and tok[0] > fan[0], (name, tok, fan)
        assert "transform(" not in plan, name
    assert "concat_ws" not in plan


def test_pipeline_prepare_two_scans_no_text_shuffle(spark, sf_dir):
    """The composed prepare pipeline's plan contract: exactly two
    corpus scans (stats fused into one, chunking in the other — the
    kept-id list is materialized, so the filter subtree can't
    replicate per consumer), and the only exchanges belong to the
    32-byte content-key dedup (no `text` column in any Exchange
    block)."""
    import re

    plan = _plan(entrymod.q_pipeline_prepare(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    for block in plan.split("\n\n"):
        if block.lstrip().startswith("(") and "Exchange" in block.split("\n")[0]:
            assert not re.search(r"\btext#", block), block[:300]


def test_batch_retrieval_partition_prunes(spark, sf_dir, tmp_path):
    """retrieve_similar_batch with a bucketed store: the IN-list's
    bucket SET prunes partitions exactly like the single-item path —
    3 requested items spanning 2 of 8 buckets must scan only those 2
    bucket directories."""
    from propius_spark.serving import retrieve_similar_batch

    occ = occurrences_from_lineitem(spark, sf_dir)
    dim_src = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("title")
    )
    paths = publish_model(occ, dim_src, str(tmp_path / "m"), n_buckets=8)
    sims = spark.read.parquet(paths["similar_items"])
    dim = spark.read.parquet(paths["correlated_items"])
    # items 1, 9, 2 → buckets {1, 2}
    plan = _plan(
        retrieve_similar_batch(sims, dim, [1, 9, 2], k=3, n_buckets=8)
    )
    import re

    m = re.search(r"PartitionFilters: \[bucket#\d+ IN \(([\d,]+)\)\]", plan)
    assert m, plan[:600]
    assert set(m.group(1).split(",")) == {"1", "2"}
    # and the item IN-list reaches the scan too
    assert re.search(r"PushedFilters: \[In\(item_a_id", plan)
