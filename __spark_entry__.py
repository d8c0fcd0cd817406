"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Fixture mapping (FIXTURES.md §4): the co-occurrence event log is
``lineitem(l_orderkey AS reference_id, l_partkey AS item_id)``
("parts bought together") or ``events(user_id, dense-coded
event_type)``; the item dictionary is ``part(p_partkey AS id,
p_name AS title)`` (p_partkey is 0-based in the testdata, so no −1
shift is needed for store-id parity).

Float policy: every correlation/score column is rounded to 6 dp in
BOTH the Spark query and the oracle SQL before the driver hashes
values (absorbs summation-order nondeterminism, SURVEY.md §5.2).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from propius_spark.functions import (
    decode_media,
    extract_features,
    media_from_documents,
    resize_images,
    sample_frames,
)
from propius_spark.functions.text import (
    WS_CLASS,
    cp_classes,
    subword_count_from_classes,
    token_count_from_classes,
)
from propius_spark.operators import (
    asof_join,
    assign_centroids,
    cohort_retention,
    funnel,
    build_cells,
    corr_pairs,
    vstack,
    cosine_topk,
    cap_per_group,
    chunk_documents,
    corpus_summary,
    pack_documents,
    publish_model,
    bm25_search,
    posting_lists,
    tf_idf,
    decontaminate,
    doc_stats,
    props_rollup,
    embedding_dup_pairs,
    hyperplane_lsh_buckets,
    rademacher_planes,
    redact_pii,
    repetition_stats,
    rolling_user_counts,
    split_corpus,
    split_leakage_free,
    token_distribution,
    vocabulary,
    content_keys,
    dedup_against,
    exact_dedup,
    get_similar_items,
    ivf_knn_join,
    ivf_topk,
    lsh_topk,
    kmeans_centroids,
    multi_probe_assignments,
    jaccard_pairs,
    knn_join,
    minhash_lsh_pairs,
    filter_corpus,
    resolve_duplicates,
    sessionize,
    mix_sources,
    shuffle_shards,
    simhash_pairs,
    stratified_sample,
    weighted_sample,
    windowed_counts,
    similar_items_candidates,
    similar_items_exact,
    top_k_per_item,
)
from propius_spark.serving import (
    get_database_stats,
    get_item_info,
    retrieve_similar_batch,
    retrieve_similar_items,
    search_items_by_name,
)
from propius_spark.sources import (
    load_pairs,
    load_reference_matrix,
    occurrences_from_events,
    occurrences_from_lineitem,
    read_events,
    save_pairs,
    save_reference_matrix,
)
from propius_spark.streaming import (
    dedup_stream,
    sessionize_stream,
    start_cells_query,
    start_sessions_query,
    start_dedup_query,
    streaming_cells,
)

FLAGSHIP_ITEM = 1  # p_partkey of the demo part (exists at every sf)


def _part_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """correlated_items dim from the part table (FIXTURES.md §4)."""
    return spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("key"),
        F.lit(None).cast("string").alias("human_label"),
    )


def _lineitem_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_cells(occurrences_from_lineitem(spark, sf_dir))


def _r6(df: DataFrame, *cols: str) -> DataFrame:
    out = df
    for c in cols:
        out = out.withColumn(c, F.round(F.col(c), 6))
    return out


# ---------------------------------------------------------------- queries


def q_corr_pairs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 9/10/13/14/15/33: all-pairs Pearson over
    co-occurring (shared-order) part pairs."""
    pairs = corr_pairs(_lineitem_cells(spark, sf_dir))
    return _r6(pairs.select("item_a", "item_b", "corr"), "corr")


def q_corr_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max_context_degree` cap plumbing under the driver gate (SURVEY
    §2 op-33's approximate mode for pathological context skew). The cap
    is chosen ≫ the true max context degree on every gate SF (TPC-H
    orders hold ≤ 7 lineitems), so the degree-filter join EXECUTES but
    drops nothing — the result equals the exact twin's and the exact
    oracle hashes it. The dropping path (cap < degree) is pinned by
    tests/test_correlation.py."""
    pairs = corr_pairs(
        _lineitem_cells(spark, sf_dir), max_context_degree=1000
    )
    return _r6(pairs.select("item_a", "item_b", "corr"), "corr")


def q_corr_pairs_cap_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `max_context_degree` cap with the cap BINDING (VERDICT r5
    next-round item 3): cap 5 on the lineitem context degrees (which
    run 1–13 on the gate SFs) drops every context holding more than 5
    distinct valid parts — ~45% of all co-occurrence mass at sf0.01
    (231,458 exact pairs → 102,682). The oracle replays the drop with
    the same degree aggregate over the same valid-item-pruned cells, so
    this row driver-pins the DROPPING semantics itself, not just the
    plumbing (`corr_pairs_capped` pins the no-drop path). Stats (s,
    den, n) stay computed over the FULL cell table — the cap is a
    documented approximation of the Gram term only."""
    pairs = corr_pairs(_lineitem_cells(spark, sf_dir), max_context_degree=5)
    return _r6(pairs.select("item_a", "item_b", "corr"), "corr")


def q_similar_one_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 22/23/24/34: one item's exact full correlation
    row (zero-dot neighbors included), mean+2σ threshold."""
    sims = get_similar_items(
        _lineitem_cells(spark, sf_dir), FLAGSHIP_ITEM, "std_dev", 2.0
    )
    return _r6(sims.select("item_b", "corr"), "corr")


def q_similar_exact_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §3.2: full batch publication — for EVERY item, neighbors
    over the complete correlation row clearing mean+2σ, min-max scaled.
    Replaces the reference's per-item N+1 loop (propius/data.py:116-149)
    with one distributed job."""
    sims = similar_items_exact(_lineitem_cells(spark, sf_dir), k_sigma=2.0)
    return _r6(
        sims.select("item_a", "item_b", "corr", "scaled_score"),
        "corr",
        "scaled_score",
    )


def q_similar_candidates_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates mode (co-occurring pairs only) with an absolute
    threshold (SURVEY §2 op-24's non-std_dev branch) on the events
    fixture (user × dense-coded event_type)."""
    sims = similar_items_candidates(
        build_cells(occurrences_from_events(spark, sf_dir)),
        threshold_method="absolute",
        threshold_value=-1.0,
    )
    return _r6(sims.select("item_a", "item_b", "corr"), "corr")


def q_retrieve_topk_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 28/30/34/35: serving retrieve — one item's
    neighbors joined to the dim for names, top-10 by score."""
    # full correlation row (absolute threshold −2 keeps everything),
    # shaped as the published similar_items fact table
    row = get_similar_items(
        _lineitem_cells(spark, sf_dir), FLAGSHIP_ITEM, "absolute", -2.0
    )
    # rank on the 6-dp-rounded score (id tie-break is inside
    # retrieve_similar_items): both engines must rank identically at
    # the top-10 boundary — raw doubles differ in the last ulp
    fact = row.select(
        F.lit(FLAGSHIP_ITEM).cast("long").alias("item_a_id"),
        F.col("item_b").cast("long").alias("item_b_id"),
        F.round(F.col("corr"), 6).alias("scaled_score"),
    )
    return retrieve_similar_items(
        fact, _part_dim(spark, sf_dir), FLAGSHIP_ITEM, limit=10
    )


def q_retrieve_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk serving: top-5 neighbors for three items in ONE store pass
    (IN-list + per-item rank window) — N point calls would scan the
    fact table N times."""
    items = [FLAGSHIP_ITEM, FLAGSHIP_ITEM + 1, FLAGSHIP_ITEM + 2]
    pairs = corr_pairs(_lineitem_cells(spark, sf_dir))
    # rounded rank key — see q_retrieve_topk_part
    fact = pairs.select(
        F.col("item_a").cast("long").alias("item_a_id"),
        F.col("item_b").cast("long").alias("item_b_id"),
        F.round(F.col("corr"), 6).alias("scaled_score"),
    )
    return retrieve_similar_batch(fact, _part_dim(spark, sf_dir), items, k=5)


@functools.lru_cache(maxsize=1)
def _publish_store_dir() -> str:
    import tempfile

    return tempfile.mkdtemp(prefix="propius_pub_")


@functools.lru_cache(maxsize=1)
def _roundtrip_store_dir() -> str:
    import tempfile

    return tempfile.mkdtemp(prefix="propius_rt_")


def q_publish_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 op-7 through a driver row: the full publish → serve
    round trip. publish_model writes the exact similar_items fact
    (bucketed by item_a_id % 4 — the B-tree-index analogue) and the
    deterministic correlated_items dim to a temp store;
    retrieve_similar_items then reads the PUBLISHED parquet back with
    the bucket partition filter pruning 3/4 of the files. Oracle = the
    same model pipeline in SQL with min-id-per-name dim dedup."""
    # one per-process store, overwritten each call — mkdtemp-per-call
    # leaked a directory every bench pass / driver round; a PID-named
    # fixed path would lose mkdtemp's unpredictable-name/0700/fresh
    # guarantees on a shared /tmp
    out_dir = _publish_store_dir()
    dictionary = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("title")
    )
    # one n_buckets for the write AND the read-back pruning filter:
    # editing one without the other would silently break pruning
    n_buckets = 4
    paths = publish_model(
        occurrences_from_lineitem(spark, sf_dir),
        dictionary,
        out_dir,
        k_sigma=2.0,
        n_buckets=n_buckets,
    )
    # serve-side rounded rank key (store keeps raw doubles) — see
    # q_retrieve_topk_part; the bucket partition filter still prunes
    sims = spark.read.parquet(paths["similar_items"]).withColumn(
        "scaled_score", F.round(F.col("scaled_score"), 6)
    )
    dim = spark.read.parquet(paths["correlated_items"])
    return retrieve_similar_items(
        sims, dim, FLAGSHIP_ITEM, limit=10, n_buckets=n_buckets
    )


def q_item_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 op-25: point lookup on the dim table."""
    return get_item_info(_part_dim(spark, sf_dir), 42)


def q_search_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 26/36: case-insensitive substring search,
    ordered, limited. Tie-broken by id for determinism."""
    return search_items_by_name(_part_dim(spark, sf_dir), "WIDGET", limit=10)


def q_db_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 19/20/21: COUNT(*), GROUP BY count, nested AVG
    rounded to 2 dp — the reference's get_database_stats shape
    (propius/data.py:316-359) over dim=part / fact=lineitem."""
    dim = _part_dim(spark, sf_dir)
    fact = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_partkey").alias("item_a_id"),
        F.col("l_orderkey").alias("item_b_id"),
        F.lit(1.0).alias("scaled_score"),
    )
    return get_database_stats(fact, dim)


# ------------------------------------------------- training-data pipeline ops


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups: hash-groupBy on the full text."""
    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot ingest dedup: docs with doc_id % 3 == 0
    stand in for the prior snapshot's content-address store
    (content_keys); dedup_against returns the docs whose text that
    store has never seen — including dropping NEW docs whose text
    duplicates an OLD one. Text never shuffles; the anti-join moves
    32-byte keys."""
    from propius_spark.plans import persist_big

    docs = _docs(spark, sf_dir)
    # one hash pass: the simulated store derives from the same corpus
    # as the batch, so share the persisted key table between the seen
    # side and the anti-join side (in real ingest the store is a
    # separate table and the batch keys are reused for the
    # store-append — same shape, see dedup_against's keys param).
    # persist_big, not materialize: doc-row-cardinality table
    keys = persist_big(content_keys(docs))
    seen = keys.filter(F.col("doc_id") % 3 == 0).select("content_key")
    return dedup_against(docs, seen, keys=keys)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (k=3 shingle) Jaccard near-duplicate pairs."""
    return _r6(jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.5), "jaccard")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands) candidates, exact-Jaccard
    verified at τ=0.5 — the scale path for near-dedup."""
    return _r6(
        minhash_lsh_pairs(
            _docs(spark, sf_dir),
            k=3,
            num_perm=16,
            bands=4,
            threshold=0.5,
            # dict-coded ids pinned: DuckDB replays the identical
            # signatures (production default is xxhash)
            id_mode="dict",
        ),
        "jaccard",
    )


def q_dedup_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max_bucket_size` cap plumbing under the gate (the hot-bucket
    drop for boilerplate shingle sets). The cap is chosen ≫ any band
    bucket (a bucket holds at most n_docs members), so the bucket-size
    filter EXECUTES but drops nothing and the exact-Jaccard oracle
    hashes the result. The dropping path is pinned by
    tests/test_dedup.py."""
    return _r6(
        minhash_lsh_pairs(
            _docs(spark, sf_dir),
            k=3,
            num_perm=16,
            bands=4,
            threshold=0.5,
            id_mode="dict",
            max_bucket_size=1_000_000,
        ),
        "jaccard",
    )


def q_dedup_lsh_cap_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`max_bucket_size` with the cap BINDING (VERDICT r5 next-round
    item 3): cap 2 on the band buckets (natural sizes reach 3–4 on the
    gate SFs) drops the hot buckets before the pair expansion, and the
    dropped buckets carry pairs no other band recovers — the final
    pair set genuinely shrinks (sf0.01: 25 → 23; sf0.001: 28 → 19).
    The oracle replays the drop with the same HAVING COUNT(*) <= 2
    over the same (band, sig) table, so the DROPPING semantics — not
    just the plumbing — gets a driver row (`dedup_lsh_capped` pins the
    no-drop path)."""
    return _r6(
        minhash_lsh_pairs(
            _docs(spark, sf_dir),
            k=3,
            num_perm=16,
            bands=4,
            threshold=0.5,
            id_mode="dict",
            max_bucket_size=2,
        ),
        "jaccard",
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution over the full corpus: connected
    components of the k=3 Jaccard≥0.5 near-dup graph (alternating
    large-star/small-star), keeper = smallest doc id per cluster.
    Transitive near-dups (a~b, b~c but never a~c) land in ONE cluster
    — the property pairwise output can't give a training pipeline."""
    docs = _docs(spark, sf_dir)
    # pairs_unique: jaccard_pairs is keyed by its (doc_a, doc_b)
    # groupBy with doc_a < doc_b — born unique and oriented, so the
    # CC init skips its canonicalizing distinct (one less shuffle)
    return resolve_duplicates(
        docs, jaccard_pairs(docs, k=3, threshold=0.5), pairs_unique=True
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 near-duplicates within Hamming ≤ 3 via the
    pigeonhole block join."""
    # dict-coded token ids pinned for oracle parity (production
    # default is xxhash)
    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3, id_mode="dict")


def q_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/URL/phone patterns replaced map-side
    (lookaround-free regexes — byte-identical in any RE2-class
    oracle engine)."""
    return redact_pii(_docs(spark, sf_dir)).select("doc_id", "text")


def q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by key arithmetic —
    partitioning- and engine-independent assignment."""
    return split_corpus(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


def q_split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free splits: duplicate documents must land in the SAME
    train/val/test split (a near-dup straddling train and test leaks
    eval data), so the split key is the content group's KEEPER id —
    split_corpus(key_col="keeper_id") over content_keys groups. Same
    deterministic arithmetic as split_corpus; within a duplicate
    group the assignment is identical by construction."""
    return split_leakage_free(
        _docs(spark, sf_dir), {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 by frequency (token asc tiebreak) —
    the tokenizer-training precursor."""
    return vocabulary(_docs(spark, sf_dir), min_count=1, limit=100)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (32-token chunks, 8 overlap): the
    clean-corpus → training-window reshape. Pure map-side array
    expressions, no shuffle."""
    return chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


def q_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into ~256-token bins across 8
    deterministic shards — one shard-key shuffle + per-shard running
    sum, never a global ordering task."""
    return pack_documents(_docs(spark, sf_dir), target_tokens=256, n_shards=8)


def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus report: doc/token/vocab/char rollup — one
    map-side doc-stats pass plus a two-phase distinct over the token
    stream, joined on the tiny lang key."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    return corpus_summary(docs, group_col="lang")


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing / quota capping: keep the top-5 docs per source by
    n_chars (doc_id tiebreak) — the 'no domain dominates' control.
    One group-key shuffle, rank+filter window, no global sort."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    return cap_per_group(
        docs, "source", n=5, order_col="n_chars", tiebreak_col="doc_id"
    )


def q_events_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest rollup: extract props.k (JSON) map-side,
    then per-event-type count / value sum / mean k."""
    return props_rollup(read_events(spark, sf_dir), field="k")


def q_decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc fraction of 3-gram shingles
    contained in a held-out 'benchmark' slice (doc_id < 20) — the
    n-gram containment check run before training data ships. Corpus
    scan is shuffle-free; the benchmark shingle set broadcasts."""
    docs = _docs(spark, sf_dir)
    return decontaminate(docs, docs.filter(F.col("doc_id") < 20), k=3)


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repeated-3-gram stats (Gopher-style quality signal):
    multiset shingle counts → dup_ratio + hottest-shingle count."""
    return repetition_stats(_docs(spark, sf_dir), k=3)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for one stored query vector."""
    return _r6(cosine_topk(_emb(spark, sf_dir), query_id=0, k=10), "cosine")


def q_ann_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs embedding near-duplicates at cosine ≥ 0.4."""
    return _r6(embedding_dup_pairs(_emb(spark, sf_dir), threshold=0.4), "cosine")


def q_ann_dup_pairs_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pruned near-duplicates: IVF seed-centroid buckets
    (8 centroids) feed embedding_dup_pairs, so only same-list pairs are
    scored — Σ|list|² work, the 100 TB default (the exact all-pairs
    twin above is the recall oracle; SCALE.md documents the trade)."""
    emb = _emb(spark, sf_dir)
    _, assignment = assign_centroids(emb, n_centroids=8)
    return _r6(
        embedding_dup_pairs(emb, threshold=0.4, candidates=assignment), "cosine"
    )


def q_ann_dup_pairs_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED candidate-pruned near-duplicates: MLlib k-means
    centroids (the production replacement for seed centroids) feed
    multi_probe_assignments → embedding_dup_pairs(candidates=...) —
    the full trained IVF dedup path end to end.

    Gate configuration: k=4 centroids with n_probe=3 probes. By
    pigeonhole (3+3 > 4) every vector pair shares ≥ 2 probed lists,
    so candidate RECALL IS 1.0 BY CONSTRUCTION — the emitted set
    equals the exact all-pairs set whatever the k-means fit produced,
    which is what lets a SQL oracle (that cannot replay MLlib Lloyd
    iterations) hash-match the verify stage exactly. Production uses
    many centroids and few probes (see ann_dup_pairs_pruned /
    tests/test_ann.py recall bound for the realistic k=8 config).

    Because the result is fit-invariant here, the fit runs with the
    CHEAP knobs (random init, 2 Lloyd iterations — 32 → 9 scheduled
    jobs; kmeans_centroids docstring): paying k-means|| sampling
    rounds for quality this query provably cannot observe is pure
    bench cost. The invariance claim itself is property-pinned
    (tests/test_ann.py::test_trained_dup_pairs_fit_invariant);
    quality-sensitive callers keep the MLlib defaults."""
    emb = _emb(spark, sf_dir)
    cents = kmeans_centroids(emb, n_centroids=4, max_iter=2, init_mode="random")
    asg = multi_probe_assignments(emb, n_probe=3, centroids=cents)
    return _r6(
        embedding_dup_pairs(emb, threshold=0.4, candidates=asg), "cosine"
    )


def q_ann_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-duplicates: random-hyperplane (Rademacher)
    cosine LSH — 16 sign bits banded 4×4, each vector in 4 buckets —
    feeds embedding_dup_pairs(candidates=...). The bucketed
    alternative to the IVF candidate generator: entirely map-side
    candidate generation (plane literals in the plan; no fit, no
    centroid broadcast), one bucket-id shuffle, Σ|bucket|² verify
    work. Deterministic seeded planes make the whole path — candidate
    generation included — bit-replayable by the SQL oracle; recall vs
    the exact twin is the banding S-curve (pinned in tests/test_ann)."""
    emb = _emb(spark, sf_dir)
    cand = hyperplane_lsh_buckets(emb, n_planes=16, n_bands=4, seed=1, dim=64)
    return _r6(
        embedding_dup_pairs(emb, threshold=0.4, candidates=cand), "cosine"
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10: the search-side twin of
    ann_ivf_topk with hyperplane buckets as the candidate generator —
    broadcast the query's 4 bucket ids, semi-join the bucket table,
    exact-score the survivors."""
    return _r6(
        lsh_topk(
            _emb(spark, sf_dir), query_id=0, k=10,
            n_planes=16, n_bands=4, seed=1, dim=64,
        ),
        "cosine",
    )


def q_ann_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup stack composed over EMBEDDING pairs: connected
    components (large-star/small-star) of the cosine≥0.4 near-dup
    graph with keeper selection — transitive embedding dups collapse
    to one cluster exactly as text dups do."""
    emb = _emb(spark, sf_dir)
    pairs = embedding_dup_pairs(emb, threshold=0.4).select("vec_a", "vec_b")
    ids = emb.select(F.col("vec_id").alias("doc_id"))
    # pairs_unique: the exact block kernel emits each unordered pair
    # exactly once, min/max-oriented (ann._sub_block_pairs docstring)
    # — the CC init skips its canonicalizing distinct
    return resolve_duplicates(
        ids, pairs, src="vec_a", dst="vec_b", pairs_unique=True
    ).select(F.col("doc_id").alias("vec_id"), "cluster_id", "is_keeper")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned approximate top-10 (8 seed centroids, probe 2)."""
    return _r6(
        ivf_topk(_emb(spark, sf_dir), query_id=0, k=10, n_centroids=8, n_probe=2),
        "cosine",
    )


def q_ann_ivf_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned batch retrieval: 6 query vectors, each scoring only
    its 2 probed centroid lists, in one masked-BLAS corpus scan."""
    emb = _emb(spark, sf_dir)
    return _r6(
        ivf_knn_join(
            emb.filter(F.col("vec_id") < 6), emb, k=10, n_centroids=8, n_probe=2
        ),
        "cosine",
    )


def q_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join: top-10 corpus neighbors for each of 8 query
    vectors in ONE corpus scan (broadcast query matrix + Arrow-batched
    BLAS partial top-k; the batch-retrieval shape)."""
    emb = _emb(spark, sf_dir)
    return _r6(
        knn_join(emb.filter(F.col("vec_id") < 8), emb, k=10), "cosine"
    )


def q_text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token count, language ID, quality score, fingerprint."""
    return _r6(doc_stats(_docs(spark, sf_dir)), "quality")


def q_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both token counters from the brief's checklist side by side:
    whitespace tokens and the BPE-ish estimate (ceil(len/4) per GPT-2
    pre-tokenizer piece). Map-side only; the cost model for chunking/
    packing budgets. Round 5: BOTH columns are code-point-arithmetic
    folds (functions/text.py token_count_cp / subword_token_count) —
    the regex construction hashed red on the driver's DuckDB build in
    r3 AND r4 while green on every local replica/fuzz/multi-SF run, so
    VERDICT r4 prescribes removing the divergence surface entirely:
    no regex engine, no lower(), no list-aggregate type promotion on
    either side, only the split→unicode-code-point→integer-fold
    primitives that fingerprint proved driver-green. NULL text counts
    0 under BOTH counters in BOTH engines (greatest(·, 0) /
    length-guard land NULL/empty on 0, mirroring the oracle's
    COALESCE + empty0 guard). The class array is computed ONCE as a
    named column and both folds read it — the same shape as the
    oracle's ks CTE feeding its two list_reduce calls (and half the
    per-row map work of two independent split+classify trees)."""
    empty0 = F.when(F.length("text") == 0, F.lit(0).cast("long"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text", cp_classes(F.col("text")).alias("ks"))
        .select(
            "doc_id",
            F.coalesce(
                empty0,
                F.greatest(
                    token_count_from_classes(F.col("ks")),
                    F.lit(0).cast("long"),
                ),
            ).alias("n_tokens"),
            F.coalesce(
                empty0, subword_count_from_classes(F.col("ks")), F.lit(0).cast("long")
            ).alias("n_subword"),
        )
    )


# Fixed hostile probe string for diag_tokenizer: every WS code, ASCII
# letters + punctuation runs, ×/÷ (inside the À-ɏ code-point range →
# letters), boundary letters (192/591 edges), ẞ (out-of-range letter →
# other), digit runs, astral emoji (surrogate-pair split risk), CJK,
# and a 28-char letter run for the ceil-chunk arithmetic.
DIAG_TEXT = (
    " \t\n\x0b\f\r"
    "Hello, WORLD!!  ×÷"
    "ÀɏɐÁȀ"
    "ẞ straße"
    "12345678901 2026"
    "\U0001f600\U0001f600"
    "一二三"
    "antidisestablishmentarianism"
)


def _diag_expected_counts(text: str) -> tuple[int, int]:
    """Python reference of the code-point token counters — the SPEC
    both engines' folds must match (functions/text.py token_count_cp /
    subword_token_count; same class table, same run arithmetic)."""
    ws = {32, 9, 10, 11, 12, 13}

    def klass(cp: int) -> int:
        if cp in ws:
            return 0
        if 65 <= cp <= 90 or 97 <= cp <= 122 or 192 <= cp <= 591:
            return 1
        if 48 <= cp <= 57:
            return 2
        return 3

    nt = ns = 0
    prev_ws = True
    prev_k = 0
    run = 0
    for ch in text:
        k = klass(ord(ch))
        if k != 0 and prev_ws:
            nt += 1
        prev_ws = k == 0
        if k == 0 or k == 3:
            run = 0
            if k == 3:
                ns += 1
        else:
            run = (run + 1) % 4 if prev_k == k else 0
            if run == 0:
                ns += 1
        prev_k = k
    return nt, ns


def q_diag_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-divergence probe (VERDICT r4 next-round item 6): the
    ORACLE computes both code-point token counters over the fixed
    hostile literal DIAG_TEXT on the DRIVER's DuckDB and emits
    n_tokens·1000 + n_subword as its ROW COUNT; the engine emits the
    Python-reference expectation the same way. If any future
    environment diverges on these folds, CORRECTNESS_r{{N}}.json's
    spark_rows vs oracle_rows columns become a READABLE diff of the
    two engines' computed counts instead of an opaque hash mismatch.
    Green = rows equal = driver DuckDB agrees with the spec."""
    nt, ns = _diag_expected_counts(DIAG_TEXT)
    # Encoding guards (ADVICE r5): the nt*1000+ns packing silently
    # collides if ns ever reaches 1000 (a longer future DIAG_TEXT),
    # and a non-positive total would yield an empty range that reads
    # as nt=ns=0 instead of an obviously-bad value. Fail loudly here
    # so a literal edit cannot alias two divergences to one row count.
    assert 0 <= ns < 1000, f"diag encoding overflow: ns={ns} must be < 1000"
    assert nt * 1000 + ns > 0, f"diag encoding degenerate: nt={nt} ns={ns}"
    return spark.range(nt * 1000 + ns).select(F.col("id").alias("i"))


def q_similar_topk_per_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item top-k cap over the candidate neighbor lists (SURVEY §2
    op-34 note): each item keeps its 2 best neighbors. Ranking is on
    the 6-dp-rounded score with id tie-break so both engines rank
    identically."""
    sims = similar_items_candidates(
        build_cells(occurrences_from_events(spark, sf_dir)),
        threshold_method="absolute",
        threshold_value=-1.0,
    )
    return top_k_per_item(_r6(sims, "corr"), k=2)


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus quality gate: keep en docs with rounded quality
    ≥ 0.72 and 20–90 tokens — stats fused into the scan, no shuffle."""
    return filter_corpus(
        _docs(spark, sf_dir),
        min_quality=0.72,
        langs=("en",),
        min_tokens=20,
        max_tokens=90,
    )


def q_pipeline_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline COMPOSED, one driver row: quality
    gate (corpus_filter config) → exact-dedup keeper selection
    (content-hash groups; min-id keeper) → token-window chunking
    (chunk_docs config) — raw corpus in, clean training windows out.
    Each stage is individually oracle-verified; this row pins the
    inter-operator contracts (column shapes, semi-join keys, the
    hash≡text dedup equivalence) end to end. Plan: two corpus scans
    (stats fused into the first, chunking in the second), one 32-byte
    content-key shuffle — the document text never shuffles."""
    from propius_spark.plans import materialize

    docs = _docs(spark, sf_dir)
    # materialize the kept-id list (ids only — bounded by doc count,
    # ≪ corpus bytes): the filter subtree otherwise computes once per
    # consumer (keeper branch + chunk branch = 4 corpus scans, plan-
    # verified), and both downstream semi-joins broadcast it
    kept = materialize(
        filter_corpus(
            docs, min_quality=0.72, langs=("en",),
            min_tokens=20, max_tokens=90,
        ).select("doc_id")
    )
    filtered = docs.join(kept, "doc_id", "left_semi")
    keepers = exact_dedup(filtered).select(
        F.col("keeper_id").alias("doc_id")
    )
    clean = filtered.join(keepers, "doc_id", "left_semi")
    return chunk_documents(clean, chunk_tokens=32, overlap=8)


def q_sample_events_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling of the event log (50% click,
    25% view, 100% purchase; other types dropped) — selection is pure
    key arithmetic, stable under re-partitioning and replayable by the
    oracle."""
    ev = read_events(spark, sf_dir)
    return stratified_sample(
        ev, {"click": 0.5, "view": 0.25, "purchase": 1.0}, "event_type", "event_id"
    ).select("event_id", "user_id", "event_type")


def q_mix_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture control: resample documents to a 50/30/20 mix of
    three sources (others dropped), keeping the maximum rows that
    mixture admits — per-group keep-rates derive from the group counts
    by floor arithmetic, selection is pure key arithmetic (both exactly
    replayed by the oracle)."""
    return mix_sources(
        _docs(spark, sf_dir),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        group_col="source",
        key_col="doc_id",
    ).select("doc_id", "source", "n_chars")


def q_shuffle_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 training shards: every doc
    gets a pseudo-random (shard, pos) — a reproducible permutation via
    two decorrelated LCG lanes, one shuffle on the shard key, window
    sort bounded to corpus/n_shards per task."""
    return shuffle_shards(
        _docs(spark, sf_dir).select("doc_id", "source"), n_shards=8, key_col="doc_id"
    ).select("doc_id", "source", "shard", "pos")


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) of the events
    stream per user — gaps-and-islands via LAG + running SUM, one
    shuffle on the entity key."""
    ev = read_events(spark, sf_dir)
    return sessionize(ev, gap_minutes=30)


def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click gains the value of the user's
    latest purchase at-or-before it (null if none) — one shuffle on
    user_id, no range explosion. Spark lacks a native as-of join; this
    is the union + last(ignorenulls) window composition.

    Purchases tied on (user, ts) are deduped to the LARGEST event_id
    first: asof_join picks an arbitrary row among exact ties (its
    documented contract says to pin a tiebreak upstream), and the
    oracle's ASOF JOIN is equally unspecified — the explicit rule
    makes both engines deterministic and identical (fuzz-parity
    find)."""
    from pyspark.sql.window import Window as _W

    ev = read_events(spark, sf_dir)
    # null-key exclusion pinned in the QUERY (fuzz-parity find): a
    # click with no timestamp has no "latest purchase before it"
    # (Spark's NULLS FIRST ordering happens to agree, DuckDB's ASOF
    # sort does not), and NULL user ids GROUP TOGETHER under Spark's
    # window partitioning while SQL ASOF equality never matches them —
    # both sides filter the left keys so the semantics are identical.
    clicks = ev.filter(
        (F.col("event_type") == "click")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select("user_id", "ts", "event_id")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn(
            "__rn",
            F.row_number().over(
                _W.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("value").alias("last_purchase_value"))
    )
    return _r6(
        asof_join(clicks, purchases, on="user_id"), "last_purchase_value"
    )


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event type (batch twin of the
    watermarked streaming rollup): F.window's epoch-aligned buckets ≡
    integer bucketing of the micros timeline."""
    ev = read_events(spark, sf_dir)
    return windowed_counts(ev, window_duration="1 hour")


# The cross-set id shift is DERIVED from the data (max part id + 1),
# not a constant: a fixed 1,000,000 collides with p_partkey at sf >= 5
# (TPC-H has 200k*SF parts) and, with the oracle sharing the constant,
# both engines would agree on the corrupted answer — gate-blind.


def q_corr_pairs_cross_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 op-11 (sparse.vstack, propius/similarity.py:28-29):
    stack a second item-set (suppliers) over the same contexts
    (orders) and correlate across sets — 'suppliers similar to parts
    by co-occurrence in orders'. Output restricted to the cross-set
    (part → supplier) direction."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # data-derived shift: exact integer both engines compute identically
    off = li.agg(F.max("l_partkey").alias("m")).first().m + 1
    parts = build_cells(occurrences_from_lineitem(spark, sf_dir))
    supp = build_cells(
        li.select(
            F.col("l_orderkey").alias("reference_id"),
            F.col("l_suppkey").alias("item_id"),
        )
    )
    stacked = vstack(parts, supp, offset=off)
    pairs = corr_pairs(stacked).filter(
        (F.col("item_a") < off) & (F.col("item_b") >= off)
    )
    return _r6(pairs.select("item_a", "item_b", "corr"), "corr")


def q_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 ops 4/6 (matrix sink/source, propius/similarity.py:
    170-207): persist the pairs model to CSV and read it back with an
    explicit schema — the values must survive the round trip exactly
    (doubles serialize via shortest-round-trip repr)."""
    sims = similar_items_candidates(
        build_cells(occurrences_from_events(spark, sf_dir)),
        threshold_method="absolute",
        threshold_value=-1.0,
    )
    # per-process mkdtemp store — a fixed predictable /tmp path raced
    # concurrent bench/verify processes (overwrite = delete-then-write)
    # and forfeited mkdtemp's 0700/fresh-dir guarantees
    path = f"{_roundtrip_store_dir()}/model_csv"
    save_pairs(sims.select("item_a", "item_b", "corr"), path, fmt="csv")
    return _r6(load_pairs(spark, path, fmt="csv"), "corr")


def q_model_roundtrip_npy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 op 5 (matrix sink/source, npy side — reference
    propius/similarity.py:170-207 save/load_correlation_matrix with
    format="numpy"): densify the pairs model to the reference's
    dense-matrix .npy artifact, then invert it back to long form. The
    values must survive the round trip exactly (np.save/load is
    bit-exact float64), so the oracle is the candidates pipeline
    itself. The dense interchange is driver-sized BY CONTRACT
    (save_reference_matrix's max_items guard); the event-type item
    space here is tiny at every sf."""
    sims = similar_items_candidates(
        build_cells(occurrences_from_events(spark, sf_dir)),
        threshold_method="absolute",
        threshold_value=-1.0,
    )
    path = f"{_roundtrip_store_dir()}/model.npy"
    save_reference_matrix(sims.select("item_a", "item_b", "corr"), path)
    return _r6(load_reference_matrix(spark, path), "corr")


def _run_stream_to_memory(spark: SparkSession, prefix: str, start) -> DataFrame:
    """The ONE memory-sink streaming harness all four streaming driver
    queries share: unique sink name, temp checkpoint, state stores
    sized to state volume (8 shuffle partitions — the per-(batch ×
    partition) store-commit overhead dominates otherwise; on a real
    cluster size this to state volume / executor count), conf restored
    even when the stream errors. ``start`` is
    callable(checkpoint_dir, query_name) -> StreamingQuery.

    Leak posture (bench runs the suite up to 3×): the sink name is
    STABLE per query — Spark's memory sink re-registers the temp view
    on each start, so re-runs REPLACE the table instead of stranding a
    fresh uuid-named copy of the full result in the JVM per pass — and
    the per-run checkpoint dir is deleted once the stream finishes
    (checkpoints cannot be reused: resuming one skips the already-
    processed data and the sink would come up empty)."""
    import shutil
    import tempfile

    name = prefix + "sink"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    ckpt = tempfile.mkdtemp(prefix="propius_ckpt_")
    try:
        q = start(ckpt, name)
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def q_streaming_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming maintenance of the cell table (beyond-
    reference; SURVEY §2.9): readStream over the lineitem file,
    streaming groupBy(item, ctx).count() into a memory sink with an
    availableNow trigger — the final state must equal the batch
    aggregation, which is the oracle."""
    src = f"{sf_dir}/lineitem.parquet"
    schema = spark.read.parquet(src).select("l_orderkey", "l_partkey").schema
    occ = (
        # the streaming file source wants a *directory* to monitor —
        # watch the sf dir and glob-filter to the one table
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(sf_dir)
        .select(
            F.col("l_orderkey").alias("reference_id"),
            F.col("l_partkey").alias("item_id"),
        )
    )
    return _run_stream_to_memory(
        spark,
        "cells_stream_",
        lambda ckpt, nm: start_cells_query(
            streaming_cells(occ), ckpt, query_name=nm
        ),
    )


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (applyInPandasWithState — the custom
    stateful operator surface): readStream over the events file with a
    1-hour watermark, append-mode closed sessions into a memory sink,
    availableNow trigger. A session is emitted exactly when the
    watermark passes session_end + gap, so the final sink equals the
    BATCH sessionize answer restricted to sessions with
    end + gap < max(ts) − 1h (floor-ms watermark arithmetic) — which
    is the oracle."""
    # batch read first: resolves the ts encoding (and sets the
    # legacy-nanos conf if that encoding is present) so the streaming
    # schema matches what the stream will decode
    schema = read_events(spark, sf_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("user_id", "ts")
    )
    return _run_stream_to_memory(
        spark,
        "sessions_stream_",
        lambda ckpt, nm: start_sessions_query(
            sessionize_stream(ev, gap_minutes=30, watermark="1 hour"),
            ckpt,
            query_name=nm,
        ),
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time dedup (dropDuplicatesWithinWatermark):
    the events stream's `props` payload stands in for document text —
    100 distinct payloads across the whole table, so the stream drops
    ~99.9% of arrivals at ingest. WHICH arrival survives per payload is
    a race across partitions inside a micro-batch, so the query
    projects only the deduped payload itself — the emitted SET is the
    distinct payloads whatever order the batch processed, which is
    what makes an oracle possible (SELECT DISTINCT props). Event time
    is normalized JVM-side exactly as sessionize_stream does (NTZ
    inputs fail watermarking raw)."""
    from propius_spark.operators.sessions import _ts_micros

    schema = read_events(spark, sf_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    docs = ev.select(
        F.timestamp_micros(_ts_micros(ev, "ts")).alias("ts"),
        F.col("props").alias("text"),
    )
    return _run_stream_to_memory(
        spark,
        "dedup_stream_",
        lambda ckpt, nm: start_dedup_query(
            dedup_stream(docs, watermark="1 hour"), ckpt, query_name=nm
        ),
    ).select("text")


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical Structured-Streaming pattern end to end:
    watermark + tumbling-window aggregation in APPEND mode
    (streaming/cooccurrence.py::windowed_event_counts) over the events
    stream, availableNow trigger, memory sink. A window row is emitted
    exactly when the watermark REACHES its end — the emission
    predicate is window_end <= wm, INCLUSIVE, pinned empirically on
    both sides of the boundary (a watermark exactly on the window end
    emits it; 1 ms short does not) — so the final sink equals the
    batch tumbling-window counts restricted to
    window_end <= max(ts) − 10min (floor-ms watermark arithmetic) —
    which is the oracle. Late-window rows still in state at stream end
    are NOT emitted; that is the append-mode contract, not data loss
    (a durable pipeline keeps the checkpoint and emits them on the
    next run)."""
    from propius_spark.streaming.cooccurrence import windowed_event_counts
    from propius_spark.streaming.writers import start_append_query

    schema = read_events(spark, sf_dir).schema
    ev = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("ts", "event_type")
    )
    return _run_stream_to_memory(
        spark,
        "wincnt_stream_",
        lambda ckpt, nm: start_append_query(
            windowed_event_counts(ev, "1 hour", "10 minutes"),
            ckpt,
            query_name=nm,
        ),
    ).select(
        F.unix_micros("window_start").alias("window_start_us"),
        F.unix_micros("window_end").alias("window_end_us"),
        "event_type",
        "n_events",
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: documents as opaque media
    payloads (binary) with per-item byte stats — size and sha256 are
    computed on the payload bytes, never the decoded media."""
    media = media_from_documents(_docs(spark, sf_dir))
    return media.select(
        "media_id",
        "modality",
        F.octet_length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha256_hex"),
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode (deterministic fake kernel —
    real codecs are stubbed, see functions/multimodal.py): per-media
    pixel-block checksum over the decoded bytes."""
    dec = decode_media(media_from_documents(_docs(spark, sf_dir)), fake=True)
    return dec.select(
        "media_id",
        "modality",
        # long seed: keeps the fold at int64 so the column type matches
        # the BIGINT-cast oracle (int32 vs HUGEINT was a round-1 hash
        # mismatch with identical values)
        F.aggregate("pixels", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "pixel_sum"
        ),
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing (deterministic fake kernel — tiled-digest
    re-encode, real codecs stubbed): MEDIA→MEDIA with meta rewritten;
    the oracle reconstructs the 5×8 payload byte-for-byte as
    sha256(text) ‖ first-16-bytes(sha256(text))."""
    rez = resize_images(
        media_from_documents(_docs(spark, sf_dir)), width=5, height=8, fake=True
    )
    return rez.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.hex("payload").alias("payload_hex"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (deterministic fake kernel): every
    4th frame of a synthetic video table (n_frames = 1 + media_id % 12
    — SQL-replayable on purpose); frame indices are computed JVM-side
    as one array per video and each payload crosses Arrow once — the
    kernel fans out only the KB-sized decoded frames."""
    vids = media_from_documents(_docs(spark, sf_dir)).select(
        "media_id",
        F.lit("video").alias("modality"),
        "payload",
        F.struct(
            F.col("meta.format").alias("format"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            (F.lit(1) + F.pmod("media_id", F.lit(12))).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    frames = sample_frames(vids, every_n=4, fake=True)
    return frames.select(
        "media_id",
        "frame_idx",
        "modality",
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.hex("payload").alias("frame_hex"),
    )


def q_multimodal_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction → similarity-search composition: the
    Arrow-batched extract_features kernel (deterministic fake: unit-
    normed sha256 bytes, float32-stored like a real model's output)
    feeds the exact k-NN join — the image-search pipeline shape with
    ONE corpus kernel pass. Filters cannot push through mapInPandas,
    so the query row is filtered BEFORE its kernel (plan-audited:
    cosine_topk's internal query filter re-ran the extraction over the
    whole corpus to pull one vector). The oracle replays the kernel
    bit-exactly: double byte/norm division rounded through FLOAT, then
    the same double cosine arithmetic."""
    media = media_from_documents(_docs(spark, sf_dir))

    def feats(m):  # noqa: ANN001 - local helper
        return extract_features(m, dim=8, fake=True).withColumnRenamed(
            "media_id", "vec_id"
        )

    qv = feats(media.filter(F.col("media_id") == 0))
    corpus = feats(media.filter(F.col("media_id") != 0))
    return _r6(knn_join(qv, corpus, k=10), "cosine")


def q_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel click→view→purchase within 24 h —
    one user-key shuffle, per-user array expressions for the chained
    earliest-qualifying-step times (no k-way join chain)."""
    # null-user exclusion pinned in the QUERY (review find, same
    # class as asof: Spark's window partitioning GROUPS null users
    # into one funnel while the oracle's equi-join matches none)
    return funnel(
        read_events(spark, sf_dir).filter(F.col("user_id").isNotNull()),
        ["click", "view", "purchase"],
        within_minutes=1440,
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over epoch-week integers (engine- and
    timezone-invariant): distinct user-weeks → first week per user →
    offset counts."""
    return cohort_retention(read_events(spark, sf_dir))


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted importance sampling (longer docs kept more
    often, capped at certainty): pure key arithmetic, zero shuffles,
    replayable by the oracle."""
    docs = _docs(spark, sf_dir).withColumn(
        "w", F.col("n_chars") / F.lit(200.0)
    )
    return weighted_sample(docs, rate=0.5, weight_col="w", key_col="doc_id").select(
        "doc_id", "source", "n_chars"
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-10 for a free-text query — the sparse twin of
    ann_cosine_topk; query tokens filter the doc-token aggregate
    before the shuffle."""
    return bm25_search(_docs(spark, sf_dir), "spark table merge", k=10)


def q_tfidf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights over the documents corpus (min_df=2) — sparse
    lexical retrieval weights next to the dense ANN family."""
    return tf_idf(_docs(spark, sf_dir), min_df=2)


def q_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with df bounds [2, 400]: sorted doc-id posting
    lists per surviving token. Postings are space-joined to a string
    (driver contract: the gate's pandas canonicalizer cannot hash
    array cells — round-2 verdict item 1)."""
    return posting_lists(_docs(spark, sf_dir), min_df=2, max_df=400).select(
        "token",
        "df",
        F.array_join(F.col("postings").cast("array<string>"), " ").alias(
            "postings"
        ),
    )


def q_token_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count distribution (exact p50/p90/p99 +
    mean/min/max) — the drift-tracking report; exact percentiles are
    bit-identical to the oracle's quantile_cont."""
    return token_distribution(_docs(spark, sf_dir), group_col="lang")


def q_rolling_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user event counts via a RANGE-frame window —
    the rolling feature-store column, no self-join range explosion."""
    return rolling_user_counts(read_events(spark, sf_dir), window_days=7)


def q_multimodal_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal → similarity composition: Arrow-batched
    decode emits per-media feature blocks (deterministic fake kernel),
    which feed the BLAS near-dup operator unchanged — the plumbing a
    real image-dedup pipeline runs, with stubbed codecs."""
    dec = decode_media(media_from_documents(_docs(spark, sf_dir)), fake=True)
    emb = dec.select(
        F.col("media_id").alias("vec_id"),
        F.col("pixels").cast("array<double>").alias("embedding"),
    )
    return _r6(embedding_dup_pairs(emb, threshold=0.9), "cosine")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 'parts bought together' for one part at sf0.001 —
    full model row, name-joined, top-10."""
    return q_retrieve_topk_part(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering rule: the driver's CORRECTNESS gate covers the FIRST 50
    # entries only, and new/fragile queries go first so a driver-side
    # canonicalization error on one row cannot shadow the rows after it
    # (round-2 lesson). Round-9 rotation — TOUCHED PATHS FIRST, the
    # ordering rule VERDICT r8 item 8 asked to be applied literally:
    # (a) positions 0-18 are the 19 queries whose executed code changed
    # this round (the correlation/similarity scalar-literal probe, the
    # connected-components window rounds + pairs_unique init, the
    # minhash-LSH window sizing, the cheap fit knobs, the publish
    # thread-join fix); (b) the 21 rows from round-8 positions 50+
    # whose code and oracle were untouched there rotate in (the other
    # 3 of round 8's deferred 24 — retrieve_topk_batch,
    # corr_pairs_parts, ann_dup_pairs_trained — are touched this round
    # and already sit in (a)); (c) fill to 50 with rows from the FILES
    # this round edited whose own functions did not change
    # (dedup/ann module neighbors sharing helpers with the changed
    # code). The 24 rotated-out rows (vocabulary ..
    # rolling_user_counts) are all r8-gate-green with code and oracle
    # untouched this round (textstats/events/sampling/sessions/
    # multimodal/streaming modules have no round-9 diff), and the
    # full-suite oracle replica (FULLGATE_r09.json,
    # scripts/verify_driver.py --json) re-checks all 74 regardless —
    # the ADVICE r6 coverage net for shared-helper regressions on
    # rotated-out rows.
    return {
        # (a) the 19 touched-path queries, gated first
        "publish_retrieve": q_publish_retrieve,
        "similar_exact_parts": q_similar_exact_parts,
        "corr_pairs_parts": q_corr_pairs_parts,
        "corr_pairs_capped": q_corr_pairs_capped,
        "corr_pairs_cap_drop": q_corr_pairs_cap_drop,
        "corr_pairs_cross_set": q_corr_pairs_cross_set,
        "retrieve_topk_part": q_retrieve_topk_part,
        "retrieve_topk_batch": q_retrieve_topk_batch,
        "similar_one_part": q_similar_one_part,
        "similar_topk_per_item": q_similar_topk_per_item,
        "similar_candidates_events": q_similar_candidates_events,
        "model_roundtrip": q_model_roundtrip,
        "model_roundtrip_npy": q_model_roundtrip_npy,
        "dedup_clusters": q_dedup_clusters,
        "ann_dup_clusters": q_ann_dup_clusters,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_lsh_capped": q_dedup_lsh_capped,
        "dedup_lsh_cap_drop": q_dedup_lsh_cap_drop,
        "ann_dup_pairs_trained": q_ann_dup_pairs_trained,
        # (b) the 21 untouched rows from round-8 positions 50+
        "tfidf_docs": q_tfidf_docs,
        "text_doc_stats": q_text_doc_stats,
        "corpus_filter": q_corpus_filter,
        "pipeline_prepare": q_pipeline_prepare,
        "chunk_docs": q_chunk_docs,
        "corpus_summary": q_corpus_summary,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_decode": q_multimodal_decode,
        "dedup_exact": q_dedup_exact,
        "streaming_dedup": q_streaming_dedup,
        "item_info": q_item_info,
        "search_items": q_search_items,
        "db_stats": q_db_stats,
        "dedup_incremental": q_dedup_incremental,
        "ann_dup_pairs": q_ann_dup_pairs,
        "ann_dup_pairs_pruned": q_ann_dup_pairs_pruned,
        "ann_knn_join": q_ann_knn_join,
        "ann_ivf_knn_join": q_ann_ivf_knn_join,
        "cap_per_source": q_cap_per_source,
        "split_corpus": q_split_corpus,
        "weighted_sample_docs": q_weighted_sample_docs,
        # (c) fill to 50: same-file neighbors of the changed code
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_simhash": q_dedup_simhash,
        "ann_dup_pairs_lsh": q_ann_dup_pairs_lsh,
        "multimodal_dup_pairs": q_multimodal_dup_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_cosine_topk": q_ann_cosine_topk,
        "streaming_cells": q_streaming_cells,
        # the shingle window's two other consumers (textstats), swapped
        # in for bm25_search/posting_lists when the window changed
        "decontam_docs": q_decontam_docs,
        "doc_repetition": q_doc_repetition,
        # ---- position 50+: r8-gate-green, code and oracle untouched
        # this round (still covered by the full-suite oracle replica)
        "bm25_search": q_bm25_search,
        "posting_lists": q_posting_lists,
        "vocabulary": q_vocabulary,
        "redact_docs": q_redact_docs,
        "pack_docs": q_pack_docs,
        "split_leakage_free": q_split_leakage_free,
        "streaming_sessions": q_streaming_sessions,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "sample_events_stratified": q_sample_events_stratified,
        "events_props_rollup": q_events_props_rollup,
        "shuffle_shards_docs": q_shuffle_shards_docs,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_search": q_multimodal_search,
        "sessionize_events": q_sessionize_events,
        "windowed_event_counts": q_windowed_event_counts,
        "asof_click_purchase": q_asof_click_purchase,
        "funnel_events": q_funnel_events,
        "cohort_retention": q_cohort_retention,
        "token_distribution": q_token_distribution,
        "rolling_user_counts": q_rolling_user_counts,
        "token_estimates": q_token_estimates,
        "diag_tokenizer": q_diag_tokenizer,
        "mix_sources_docs": q_mix_sources_docs,
    }


# ---------------------------------------------------------------- oracles


def _pm(expr: str, m: int) -> str:
    """Spell out pmod for an oracle body: DuckDB's `%` keeps the
    DIVIDEND's sign (like Spark's `%`), but every engine-side key
    reduction is F.pmod — non-negative on the full signed-64 domain.
    A bare `expr % m` in an oracle silently diverges on negative keys
    (hashed-id pipelines produce them); fuzz-parity caught exactly
    this on 7 queries (negative/huge doc_ids)."""
    return f"((({expr}) % {m} + {m}) % {m})"

# Shared CTE fragments for the documents-table oracles. Tokenization is
# split-on-whitespace over lower(text) with empty tokens FILTERED in BOTH
# engines (robust to leading/trailing tabs/newlines); shingle
# ids / token ids are dictionary-coded (dense_rank over the distinct
# strings) so every hash is bit-equal modular arithmetic (dedup.py
# docstring: "oracle-parity design").
_SHINGLES = r"""
toks AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
         FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(t[i.i:i.i+2], ' ') AS shingle
       FROM toks, LATERAL unnest(range(1, len(t)-1)) AS i(i)
       WHERE len(t) >= 3)
"""

_JACCARD_VERIFY = """
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM {sids} GROUP BY 1),
inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
          FROM {cand} c
          JOIN {sids} sa ON sa.doc_id = c.doc_a
          JOIN {sids} sb ON sb.doc_id = c.doc_b AND sb.{key} = sa.{key}
          GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(i::DOUBLE/(sa.n_sh + sb.n_sh - i), 6) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE i::DOUBLE/(sa.n_sh + sb.n_sh - i) >= 0.5
"""

from propius_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_PRIME  # noqa: E402

_PERM_VALUES = ", ".join(
    f"({i}, {MINHASH_A[i]}, {MINHASH_B[i]})" for i in range(16)
)

# NULL embeddings excluded at the base — the engine's kernel/Catalyst
# posture (degenerate vectors match nothing), and DuckDB's
# list_dot_product ERRORS on NULL lists rather than null-propagating
# (fuzz-parity find). NaN-component vectors stay here and are
# excluded downstream by the per-path isnan guards.
_EMB_BASE = """
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         WHERE embedding IS NOT NULL),
nb AS (SELECT vec_id, v, norm FROM (
         SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
         FROM base)
       WHERE isfinite(norm))
"""
# isfinite, not just NOT isnan: an Inf-COMPONENT vector has an Inf
# norm that passes the NaN check, and its NaN "cosines" then PASS
# DuckDB's `NaN >= τ` threshold (NaN compares greatest) — the oracle
# over-included pairs the engine rightly drops (every engine cosine
# involving such a vector is NaN → _finite/threshold-excluded).
# Inf-vector fuzz rows pin this (test_fuzz_parity.py).

_EXACT_DUP_PAIRS_SQL = f"""
            WITH {_EMB_BASE}
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(a.v, b.v)/(a.norm*b.norm), 6)
                     AS cosine
            FROM nb a JOIN nb b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)/(a.norm*b.norm) >= 0.4
        """


def _lsh_cte(n_planes: int = 16, n_bands: int = 4, dim: int = 64) -> str:
    """Shared oracle fragment: the SAME seeded Rademacher planes
    (rademacher_planes is pure driver-side Python, so engine and
    oracle embed literally identical ±1 literals), the same sign-bit →
    band → bucket arithmetic as hyperplane_lsh_buckets — the LSH
    candidate generation is deterministic end to end, so oracles
    replay it bit-exactly. Yields CTEs `bits` and `bk` on top of
    {_EMB_BASE}'s `nb`."""
    planes = rademacher_planes(n_planes, dim, seed=1)
    r = n_planes // n_bands
    bit_cols = ",\n                   ".join(
        "(CASE WHEN list_dot_product(v, [{}]) >= 0 THEN 1 ELSE 0 END) AS b{}".format(
            ",".join(str(w) for w in p), j
        )
        for j, p in enumerate(planes)
    )
    bucket_exprs = ",\n                   ".join(
        " + ".join(
            [f"{b * (1 << r)}"]
            + [f"b{b * r + i}*{1 << (r - 1 - i)}" for i in range(r)]
        )
        for b in range(n_bands)
    )
    return f"""
            bits AS (SELECT vec_id, v, norm,
                   {bit_cols}
                     FROM nb WHERE len(v) = {dim}),
            bk AS (SELECT vec_id, unnest([
                   {bucket_exprs}]) AS bucket FROM bits)"""


def _lsh_oracle_sql() -> str:
    """Oracle twin of q_ann_dup_pairs_lsh (see _lsh_cte)."""
    return f"""
            WITH {_EMB_BASE},
            {_lsh_cte()},
            cand AS (SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
                     FROM bk x JOIN bk y
                       ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(a.v, b.v)/(a.norm*b.norm), 6)
                     AS cosine
            FROM cand JOIN nb a ON a.vec_id = cand.ia
            JOIN nb b ON b.vec_id = cand.ib
            WHERE list_dot_product(a.v, b.v)/(a.norm*b.norm) >= 0.4
        """


def _lsh_topk_oracle_sql(query_id: int = 0, k: int = 10) -> str:
    """Oracle twin of q_ann_lsh_topk (see _lsh_cte): candidates =
    vectors sharing ≥1 bucket with the query, exact cosines, top-k."""
    return f"""
            WITH {_EMB_BASE},
            {_lsh_cte()},
            qb AS (SELECT bucket FROM bk WHERE vec_id = {query_id}),
            cand AS (SELECT DISTINCT bk.vec_id FROM bk JOIN qb USING (bucket)
                     WHERE bk.vec_id <> {query_id}),
            q AS (SELECT v AS qv, norm AS qn FROM nb WHERE vec_id = {query_id}),
            cos AS (SELECT b.vec_id,
                           list_dot_product(b.v, q.qv)/(b.norm*q.qn) AS c
                    FROM nb b JOIN cand USING (vec_id), q)
            SELECT vec_id, ROUND(c, 6) AS cosine FROM cos
            WHERE c IS NOT NULL AND NOT isnan(c)
            ORDER BY c DESC, vec_id ASC
            LIMIT {k}
        """


_STOPWORD_COLS = """
len(list_intersect(dt, ['the','a','of','and','to','in','is','on','for','with'])) AS s_en,
len(list_intersect(dt, ['der','die','das','und','ist','von','mit','den','im','ein'])) AS s_de,
len(list_intersect(dt, ['el','los','las','una','es','y','por','con','para','como'])) AS s_es,
len(list_intersect(dt, ['le','les','une','et','est','du','des','pour','dans','sur'])) AS s_fr,
len(list_intersect(dt, ['的','是','在','了','和','有','我','不','人','这'])) AS s_zh
"""

# Shared model CTEs over lineitem: cells → n → per-item stats → valid
# stats (den² = n·q − s² > 0) → gram (co-occurring pair dots).
# Null item/context ids are dropped where the matrix is born — the
# engine's build_cells posture (reference ids live in int32 COO
# arrays; see operators/cells.py) — otherwise a NULL item group leaks
# into the separable neighbor-stats sums on one side only.
_MODEL = """
WITH occ AS (SELECT l_orderkey AS ref, l_partkey AS item FROM lineitem
             WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
cells AS (SELECT item, ref, COUNT(*)::DOUBLE AS cnt FROM occ GROUP BY 1, 2),
nn AS (SELECT COUNT(DISTINCT ref)::DOUBLE AS n FROM cells),
st AS (SELECT item, SUM(cnt) AS s, SUM(cnt*cnt) AS q FROM cells GROUP BY 1),
vs AS (SELECT item, s, sqrt(n.n*q - s*s) AS den
       FROM st, nn n WHERE n.n*q - s*s > 0),
gram AS (SELECT a.item AS item_a, b.item AS item_b,
                SUM(a.cnt*b.cnt) AS dot
         FROM cells a JOIN cells b ON a.ref = b.ref AND a.item <> b.item
         GROUP BY 1, 2)
"""

_ONE_ROW = f"""
{_MODEL},
me AS (SELECT s, den FROM vs WHERE item = {FLAGSHIP_ITEM}),
dots AS (SELECT item_b, dot FROM gram WHERE item_a = {FLAGSHIP_ITEM}),
row_ AS (SELECT v.item AS item_b,
                (n.n*COALESCE(d.dot, 0) - me.s*v.s)/(me.den*v.den) AS corr
         FROM vs v LEFT JOIN dots d ON v.item = d.item_b, me, nn n
         WHERE v.item <> {FLAGSHIP_ITEM})
"""


_EVENTS_CANDIDATES_SQL = """
    WITH coded AS (SELECT event_type,
                          DENSE_RANK() OVER (ORDER BY event_type) - 1
                            AS item_id
                   FROM (SELECT DISTINCT event_type FROM events
                         WHERE event_type IS NOT NULL)),
    occ AS (SELECT e.user_id AS ref, c.item_id AS item
            FROM events e JOIN coded c USING (event_type)
            WHERE e.user_id IS NOT NULL),
    cells AS (SELECT item, ref, COUNT(*)::DOUBLE AS cnt
              FROM occ GROUP BY 1, 2),
    nn AS (SELECT COUNT(DISTINCT ref)::DOUBLE AS n FROM cells),
    st AS (SELECT item, SUM(cnt) AS s, SUM(cnt*cnt) AS q
           FROM cells GROUP BY 1),
    vs AS (SELECT item, s, sqrt(n.n*q - s*s) AS den
           FROM st, nn n WHERE n.n*q - s*s > 0),
    gram AS (SELECT a.item AS item_a, b.item AS item_b,
                    SUM(a.cnt*b.cnt) AS dot
             FROM cells a JOIN cells b
               ON a.ref = b.ref AND a.item <> b.item
             GROUP BY 1, 2)
    SELECT g.item_a, g.item_b,
           ROUND((n.n*g.dot - a.s*b.s)/(a.den*b.den), 6) AS corr
    FROM gram g JOIN vs a ON g.item_a = a.item
    JOIN vs b ON g.item_b = b.item, nn n
    WHERE (n.n*g.dot - a.s*b.s)/(a.den*b.den) >= -1.0
"""


# Full text-stats pipeline (token count, stopword language ID, quality
# arithmetic, rolling-hash fingerprint) — shared by the text_doc_stats
# oracle and the corpus_filter oracle that filters over it.
_TEXT_STATS_SQL = rf"""
            WITH t0 AS (SELECT doc_id,
                               regexp_replace(regexp_replace(lower(text),
                                 '^\s+', ''), '\s+$', '') AS lt,
                               text AS tt
                        FROM documents),
            tk AS (SELECT doc_id, tt,
                          list_filter(string_split_regex(lt, '\s+'),
                                      t -> t <> '') AS toks,
                          list_transform(
                            string_split(regexp_replace(lt, '\s+', ' ', 'g'),
                                         ''),
                            c -> unicode(c)::BIGINT) AS codes
                   FROM t0),
            st AS (SELECT doc_id, len(toks) AS n,
                          len(list_distinct(toks)) AS nd,
                          length(regexp_replace(tt, '\s+', '', 'g')) AS chars,
                          length(regexp_replace(tt, '[^A-Za-zÀ-ɏ一-鿿]', '',
                                                'g')) AS alpha,
                          CASE WHEN tt IS NULL THEN NULL
                               WHEN len(codes) = 0 OR codes = [-1]
                                 THEN 0
                               ELSE list_reduce(
                                      list_prepend(0::BIGINT, codes),
                                      (acc, c) -> (acc*131 + c)
                                                  % {MINHASH_PRIME}) END
                            AS fingerprint,
                          {_STOPWORD_COLS}
                   FROM (SELECT doc_id, tt, toks, codes,
                                list_distinct(toks) AS dt FROM tk))
            SELECT doc_id, n AS n_tokens,
                   CASE WHEN coalesce(
                            greatest(s_en, s_de, s_es, s_fr, s_zh), 0) <= 0
                          THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'de'
                        WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'es'
                        WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh)
                          THEN 'fr'
                        ELSE 'zh' END AS lang,
                   ROUND(CASE WHEN n <= 0 THEN 0.0
                              ELSE 0.25*(least(1.0, n/100.0)
                                         + nd::DOUBLE/n
                                         + (1.0 - least(1.0,
                                             abs(chars::DOUBLE/n - 5.0)/5.0))
                                         + alpha::DOUBLE/chars) END, 6)
                     AS quality,
                   fingerprint
            FROM st
"""


# Shared DuckDB fragments for the code-point token counters — the
# exact integer-fold twins of functions/text.py token_count_cp /
# subword_token_count (same class table, same BIGINT state encoding:
# tokens = count*2 + prev-nonws-bit; subword = count*16 + prev_class*4
# + run-position-mod-4). token_estimates runs them over documents;
# diag_tokenizer runs them over a fixed hostile literal so the
# driver's DuckDB behavior is readable from its row count alone.
_CP_KS = """list_transform(
                       list_transform(string_split({col}, ''),
                                      c -> unicode(c)::BIGINT),
                       cp -> CASE
                               WHEN cp IN (32, 9, 10, 11, 12, 13) THEN 0
                               WHEN (cp BETWEEN 65 AND 90)
                                 OR (cp BETWEEN 97 AND 122)
                                 OR (cp BETWEEN 192 AND 591) THEN 1
                               WHEN cp BETWEEN 48 AND 57 THEN 2
                               ELSE 3 END)"""

_CP_NT_FOLD = """(list_reduce(list_prepend(0::BIGINT, ks),
                        (s, k) -> CASE
                          WHEN k = 0 THEN (s >> 1) * 2
                          ELSE ((s >> 1) + CASE WHEN (s & 1) = 0
                                                THEN 1 ELSE 0 END) * 2 + 1
                        END) >> 1)"""

_CP_NS_FOLD = """(list_reduce(list_prepend(0::BIGINT, ks),
                        (s, k) -> CASE
                          WHEN k = 0 THEN (s >> 4) * 16
                          WHEN k = 3 THEN ((s >> 4) + 1) * 16 + 12
                          WHEN ((s >> 2) & 3) = k
                            THEN ((s >> 4)
                                  + CASE WHEN ((s + 1) & 3) = 0
                                         THEN 1 ELSE 0 END) * 16
                                 + k * 4 + ((s + 1) & 3)
                          ELSE ((s >> 4) + 1) * 16 + k * 4
                        END) >> 4)"""

# DIAG_TEXT as a DuckDB string literal (no single quotes inside by
# construction; control/astral chars embed raw — the oracle string is
# executed in-process, never re-escaped)
_DIAG_LIT = "'" + DIAG_TEXT + "'"


def oracle_sql() -> dict[str, str]:
    sql = {
        "corr_pairs_parts": f"""
            {_MODEL}
            SELECT g.item_a, g.item_b,
                   ROUND((n.n*g.dot - a.s*b.s)/(a.den*b.den), 6) AS corr
            FROM gram g
            JOIN vs a ON g.item_a = a.item
            JOIN vs b ON g.item_b = b.item, nn n
        """,
        # boundary membership on the 6-dp-ROUNDED corr vs ROUNDED cut
        # (engine twin: similarity.py get_similar_items) — a raw
        # comparison makes a pair sitting exactly on mean+2σ
        # engine-specific in the last ulp (history/BACKLOG.md round-4 item 3)
        "similar_one_part": f"""
            {_ONE_ROW},
            cut AS (SELECT AVG(corr) + 2.0*STDDEV_SAMP(corr) AS v FROM row_)
            SELECT item_b, ROUND(corr, 6) AS corr
            FROM row_, cut WHERE ROUND(corr, 6) >= ROUND(cut.v, 6)
        """,
        "similar_exact_parts": f"""
            {_MODEL},
            pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                     (n.n*COALESCE(g.dot, 0) - a.s*b.s)/(a.den*b.den) AS corr
                      FROM vs a JOIN vs b ON a.item <> b.item
                      LEFT JOIN gram g
                        ON g.item_a = a.item AND g.item_b = b.item, nn n),
            w AS (SELECT item_a, item_b, corr,
                         AVG(corr) OVER pw AS mean_,
                         STDDEV_SAMP(corr) OVER pw AS std_,
                         MIN(corr) OVER pw AS mn,
                         MAX(corr) OVER pw AS mx
                  FROM pairs WINDOW pw AS (PARTITION BY item_a))
            SELECT item_a, item_b, ROUND(corr, 6) AS corr,
                   ROUND(CASE WHEN mx = mn THEN 0.0
                              ELSE (corr - mn)/(mx - mn) END, 6) AS scaled_score
            FROM w WHERE ROUND(corr, 6) >= ROUND(mean_ + 2.0*std_, 6)
        """,
        # publish → serve round trip: the similar_exact pipeline
        # pre-filtered to the flagship item's partition (the window
        # stats are per-item_a, so the filter commutes), joined to the
        # min-id-per-name dim (correlated_items' deterministic dedup)
        "publish_retrieve": f"""
            {_MODEL},
            pairs AS (SELECT a.item AS item_a, b.item AS item_b,
                     (n.n*COALESCE(g.dot, 0) - a.s*b.s)/(a.den*b.den) AS corr
                      FROM vs a JOIN vs b ON a.item <> b.item
                      LEFT JOIN gram g
                        ON g.item_a = a.item AND g.item_b = b.item, nn n
                      WHERE a.item = {FLAGSHIP_ITEM}),
            w AS (SELECT item_a, item_b, corr,
                         AVG(corr) OVER pw AS mean_,
                         STDDEV_SAMP(corr) OVER pw AS std_,
                         MIN(corr) OVER pw AS mn,
                         MAX(corr) OVER pw AS mx
                  FROM pairs WINDOW pw AS (PARTITION BY item_a)),
            fact AS (SELECT item_a, item_b, corr,
                            CASE WHEN mx = mn THEN 0.0
                                 ELSE (corr - mn)/(mx - mn) END AS sc
                     FROM w
                     WHERE ROUND(corr, 6) >= ROUND(mean_ + 2.0*std_, 6)),
            dim AS (SELECT p_partkey AS id, p_name AS key FROM part
                    QUALIFY p_name IS NULL
                            OR ROW_NUMBER() OVER (PARTITION BY p_name
                                               ORDER BY p_partkey) = 1)
            SELECT f.item_b AS item_b_id, d.key AS item_name,
                   ROUND(f.sc, 6) AS scaled_score
            FROM fact f JOIN dim d ON f.item_b = d.id
            ORDER BY ROUND(f.sc, 6) DESC, f.item_b ASC LIMIT 10
        """,
        "similar_candidates_events": _EVENTS_CANDIDATES_SQL,
        # rank on the ROUNDED score (+ id tie-break), matching the
        # Spark query — raw doubles differ in the last ulp between
        # engines and would make rank boundaries nondeterministic
        "similar_topk_per_item": f"""
            SELECT item_a, item_b, corr
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item_a
                            ORDER BY corr DESC, item_b ASC) AS rn
                  FROM ({_EVENTS_CANDIDATES_SQL}))
            WHERE rn <= 2
        """,
        "retrieve_topk_part": f"""
            {_ONE_ROW}
            SELECT r.item_b AS item_b_id, p.p_name AS item_name,
                   ROUND(r.corr, 6) AS scaled_score
            FROM row_ r JOIN part p ON r.item_b = p.p_partkey
            ORDER BY ROUND(r.corr, 6) DESC, r.item_b ASC LIMIT 10
        """,
        "retrieve_topk_batch": f"""
            {_MODEL},
            pr AS (SELECT g.item_a, g.item_b,
                          (n.n*g.dot - a.s*b.s)/(a.den*b.den) AS corr
                   FROM gram g JOIN vs a ON g.item_a = a.item
                   JOIN vs b ON g.item_b = b.item, nn n
                   WHERE g.item_a IN ({FLAGSHIP_ITEM}, {FLAGSHIP_ITEM + 1},
                                      {FLAGSHIP_ITEM + 2}))
            SELECT item_a AS item_a_id, item_b AS item_b_id,
                   p.p_name AS item_name, ROUND(corr, 6) AS scaled_score,
                   rn
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY item_a
                            ORDER BY ROUND(corr, 6) DESC, item_b ASC) AS rn
                  FROM pr) r
            JOIN part p ON r.item_b = p.p_partkey
            WHERE rn <= 5
        """,
        "item_info": """
            SELECT p_partkey AS id, p_name AS key,
                   NULL::VARCHAR AS human_label
            FROM part WHERE p_partkey = 42
        """,
        # ASCII-only fold (translate), the engine's search_items_by_name
        # posture: SQLite LIKE — the reference behavior — folds A-Z and
        # nothing else, and full lower() is engine-specific on İ-class
        # code points (JVM 'İ'→'i'+U+0307 vs utf8proc 'İ'→'i')
        "search_items": """
            SELECT p_partkey AS id, p_name AS key,
                   NULL::VARCHAR AS human_label
            FROM part
            WHERE translate(p_name, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            'abcdefghijklmnopqrstuvwxyz')
                    LIKE '%widget%'
               OR translate(NULL, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                            'abcdefghijklmnopqrstuvwxyz')
                    LIKE '%widget%'
            ORDER BY p_name ASC, p_partkey ASC LIMIT 10
        """,
        "db_stats": """
            WITH items AS (SELECT COUNT(*) AS total_items FROM part),
            sims AS (SELECT COUNT(*) AS total_similarities FROM lineitem),
            per AS (SELECT l_partkey, COUNT(*) AS similarity_count
                    FROM lineitem GROUP BY 1),
            a AS (SELECT COALESCE(ROUND(AVG(similarity_count), 2), 0.0)
                    AS avg_similarities_per_item FROM per)
            SELECT items.total_items, sims.total_similarities,
                   a.avg_similarities_per_item
            FROM items, sims, a
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
            FROM documents GROUP BY coalesce(text, '')
        """,
        # DuckDB's sha256() over the text bytes ≡ Spark's
        # sha2(cast binary, 256) — verified byte-identical hex
        "dedup_incremental": """
            WITH seen AS (SELECT DISTINCT sha256(coalesce(text, '')) AS k
                          FROM documents WHERE doc_id % 3 = 0)
            SELECT d.doc_id, sha256(coalesce(d.text, '')) AS content_key
            FROM documents d
            WHERE sha256(coalesce(d.text, '')) NOT IN (SELECT k FROM seen)
        """,
        "redact_docs": r"""
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
                     '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g')
                     AS text
            FROM documents
        """,
        # the key pre-reduction is spelled as pmod (_pm): the engine's
        # F.pmod is non-negative where a bare SQL % keeps the key's
        # sign — negative/huge ids otherwise land in different buckets
        "split_corpus": f"""
            SELECT doc_id,
                   CASE WHEN b < 800000 THEN 'train'
                        WHEN b < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ((2654435761 * {_pm("doc_id", 2147483647)}
                           + 1013904223) % 2147483647)
                           % 1000000 AS b
                  FROM documents)
        """,
        "split_leakage_free": f"""
            WITH k AS (SELECT doc_id,
                              MIN(doc_id) OVER
                                (PARTITION BY coalesce(text, ''))
                                AS keeper_id
                       FROM documents)
            SELECT doc_id, keeper_id,
                   CASE WHEN b < 800000 THEN 'train'
                        WHEN b < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, keeper_id,
                         ((2654435761 * {_pm("keeper_id", 2147483647)}
                           + 1013904223) % 2147483647) % 1000000 AS b
                  FROM k)
        """,
        "vocabulary": r"""
            WITH toks AS (SELECT list_filter(string_split_regex(
                                        lower(text), '\s+'), x -> x <> '')
                                   AS t
                          FROM documents),
            c AS (SELECT tok AS token, COUNT(*) AS count
                  FROM toks, LATERAL unnest(t) AS u(tok)
                  GROUP BY 1)
            SELECT token, count, rank FROM (
              SELECT token, count,
                     ROW_NUMBER() OVER (ORDER BY count DESC, token ASC)
                       AS rank
              FROM c)
            WHERE rank <= 100
        """,
        "chunk_docs": r"""
            WITH toks AS (SELECT doc_id,
                                 list_filter(string_split_regex(
                                        lower(text), '\s+'), x -> x <> '')
                                   AS t
                          FROM documents)
            SELECT doc_id, (s.s // 24)::BIGINT AS chunk_id,
                   array_to_string(t[s.s+1 : s.s+32], ' ') AS chunk_text,
                   len(t[s.s+1 : s.s+32])::BIGINT AS n_tokens
            FROM toks, LATERAL unnest(range(0, len(t), 24)) AS s(s)
            WHERE len(t) > 0 AND (s.s = 0 OR s.s < len(t) - 8)
        """,
        "pack_docs": rf"""
            WITH toks AS (SELECT doc_id,
                                 list_filter(string_split_regex(
                                        lower(text), '\s+'), x -> x <> '')
                                   AS t
                          FROM documents),
            nt AS (SELECT doc_id,
                          {_pm("doc_id", 8)} AS shard,
                          len(t)::BIGINT AS n_tokens
                   FROM toks WHERE len(t) > 0),
            c AS (SELECT shard, doc_id, n_tokens,
                         SUM(n_tokens) OVER (PARTITION BY shard
                           ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                           AS cum
                  FROM nt)
            SELECT shard, ((cum - n_tokens) // 256)::BIGINT AS bin_id,
                   doc_id, n_tokens
            FROM c
        """,
        "corpus_summary": r"""
            WITH tk AS (SELECT doc_id, lang, text,
                               list_filter(string_split_regex(
                                        lower(text), '\s+'), x -> x <> '')
                                 AS toks
                        FROM documents),
            ds AS (SELECT lang, COUNT(*) AS n_docs,
                          SUM(len(toks))::BIGINT AS total_tokens,
                          ROUND(AVG(LENGTH(text)), 6) AS avg_chars
                   FROM tk GROUP BY 1),
            vo AS (SELECT lang, COUNT(DISTINCT tok) AS vocab_size
                   FROM tk, LATERAL unnest(toks) AS u(tok)
                   GROUP BY 1)
            SELECT ds.lang, n_docs, total_tokens,
                   COALESCE(vocab_size, 0) AS vocab_size, avg_chars
            FROM ds LEFT JOIN vo
              ON ds.lang IS NOT DISTINCT FROM vo.lang
        """,
        "cap_per_source": """
            SELECT doc_id, source, n_chars
            FROM (SELECT doc_id, source, n_chars,
                         ROW_NUMBER() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC) AS rn
                  FROM documents)
            WHERE rn <= 5
        """,
        # TRY_CAST twins of the engine's lax-JSON semantics: the inner
        # TRY_CAST(props AS JSON) nulls MALFORMED documents (DuckDB's
        # json_extract throws on them; Spark's get_json_object returns
        # NULL), the outer one nulls present-but-non-numeric values
        "events_props_rollup": """
            SELECT event_type, COUNT(*) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value,
                   ROUND(AVG(TRY_CAST(json_extract(
                                TRY_CAST(props AS JSON), '$.k')
                                      AS BIGINT)), 6)
                     AS avg_field
            FROM events GROUP BY 1
        """,
        "decontam_docs": f"""
            WITH {_SHINGLES},
            bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
            per AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
                           COUNT(b.shingle) AS n_contaminated
                    FROM sh s LEFT JOIN bsh b USING (shingle)
                    GROUP BY 1)
            SELECT doc_id, n_shingles, n_contaminated,
                   ROUND(n_contaminated::DOUBLE / n_shingles, 6)
                     AS contamination
            FROM per
        """,
        "doc_repetition": r"""
            WITH toks AS (SELECT doc_id,
                                 list_filter(string_split_regex(
                                     lower(text), '\s+'),
                                     x -> x <> '') AS t
                          FROM documents),
            sha AS (SELECT doc_id, array_to_string(t[i.i:i.i+2], ' ')
                      AS shingle
                    FROM toks, LATERAL unnest(range(1, len(t)-1)) AS i(i)
                    WHERE len(t) >= 3),
            per AS (SELECT doc_id, shingle, COUNT(*) AS c
                    FROM sha GROUP BY 1, 2)
            SELECT doc_id, SUM(c)::BIGINT AS n_shingles,
                   COUNT(*) AS n_distinct,
                   ROUND(1.0 - COUNT(*)::DOUBLE/SUM(c), 6) AS dup_ratio,
                   MAX(c) AS max_repeat
            FROM per GROUP BY 1
        """,
        "dedup_jaccard": f"""
            WITH {_SHINGLES},
            cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM sh a JOIN sh b
                       ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
            {_JACCARD_VERIFY.format(sids="sh", cand="cand", key="shingle")}
        """,
        # connected components of the jaccard near-dup graph: DuckDB
        # computes the closure recursively (fine at oracle scale); the
        # engine computes the same components in O(log n) star rounds.
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLES},
            cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM sh a JOIN sh b
                       ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                     GROUP BY 1, 2),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
                      FROM cand c
                      JOIN sh sa ON sa.doc_id = c.doc_a
                      JOIN sh sb ON sb.doc_id = c.doc_b
                                AND sb.shingle = sa.shingle
                      GROUP BY 1, 2),
            pairs AS (SELECT doc_a, doc_b
                      FROM inter JOIN sizes sa ON doc_a = sa.doc_id
                      JOIN sizes sb ON doc_b = sb.doc_id
                      WHERE i::DOUBLE/(sa.n_sh + sb.n_sh - i) >= 0.5),
            edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach(u, v) AS (SELECT u, v FROM edges
                            UNION
                            SELECT r.u, e.v
                            FROM reach r JOIN edges e ON r.v = e.u
                            WHERE e.v <> r.u),
            labels AS (SELECT u AS doc_id, MIN(v) AS mn
                       FROM reach GROUP BY u)
            SELECT d.doc_id,
                   COALESCE(LEAST(l.mn, d.doc_id), d.doc_id) AS cluster_id,
                   (COALESCE(LEAST(l.mn, d.doc_id), d.doc_id) = d.doc_id)
                     AS is_keeper
            FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        """,
        "dedup_minhash_lsh": f"""
            WITH {_SHINGLES},
            dict AS (SELECT shingle, DENSE_RANK() OVER (ORDER BY shingle) AS sid
                     FROM (SELECT DISTINCT shingle FROM sh)),
            sids AS (SELECT doc_id, sid FROM sh JOIN dict USING (shingle)),
            perms(perm, pa, pb) AS (VALUES {_PERM_VALUES}),
            hv AS (SELECT doc_id, perm,
                          MIN((pa*sid + pb) % {MINHASH_PRIME}) AS h
                   FROM sids, perms GROUP BY 1, 2),
            bands AS (SELECT doc_id, perm // 4 AS band,
                             array_to_string(list(h::VARCHAR ORDER BY perm), '-')
                               AS sig
                      FROM hv GROUP BY 1, 2),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.sig = b.sig
                      AND a.doc_id < b.doc_id),
            {_JACCARD_VERIFY.format(sids="sids", cand="cand", key="sid")}
        """,
        "dedup_simhash": rf"""
            WITH tk AS (SELECT doc_id,
                               unnest(list_filter(string_split_regex(
                                   lower(text), '\s+'),
                                   x -> x <> '')) AS tok
                        FROM documents),
            tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
            td AS (SELECT tok, DENSE_RANK() OVER (ORDER BY tok) AS tid
                   FROM (SELECT DISTINCT tok FROM tc)),
            coded AS (SELECT doc_id, cnt,
                             ({MINHASH_A[0]}*tid + {MINHASH_B[0]})
                               % {MINHASH_PRIME} AS hv1,
                             ({MINHASH_A[1]}*tid + {MINHASH_B[1]})
                               % {MINHASH_PRIME} AS hv2
                      FROM tc JOIN td USING (tok)),
            -- two hash lanes, 16 live bits each (one mod-2^31-1 value
            -- has a structurally-zero bit 31) — mirrors the engine
            lanes AS (SELECT doc_id, b.b AS b,
                             SUM((((CASE WHEN b.b < 16 THEN hv1 >> b.b
                                         ELSE hv2 >> (b.b - 16) END) & 1)
                                  * 2 - 1) * cnt) AS lane
                      FROM coded, LATERAL unnest(range(0, 32)) AS b(b)
                      GROUP BY 1, 2),
            sig AS (SELECT doc_id,
                           SUM(CASE WHEN lane >= 0 THEN (1::BIGINT << b)
                                    ELSE 0 END) AS simhash
                    FROM lanes GROUP BY 1),
            blocks AS (SELECT doc_id, simhash, blk.blk AS blk,
                              (simhash >> (blk.blk*8)) & 255 AS blkval
                       FROM sig, LATERAL unnest(range(0, 4)) AS blk(blk)),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            a.simhash AS sh_a, b.simhash AS sh_b
                     FROM blocks a JOIN blocks b
                       ON a.blk = b.blk AND a.blkval = b.blkval
                      AND a.doc_id < b.doc_id)
            SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
            FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
        """,
        # the `c IS NOT NULL AND NOT isnan(c)` guard mirrors the
        # engine's _finite: zero-norm → NULL (both engines), NaN
        # component → NaN which sorts ABOVE all doubles in both —
        # degenerate vectors match nothing in either engine
        "ann_cosine_topk": f"""
            WITH {_EMB_BASE},
            q AS (SELECT v AS qv, norm AS qn FROM nb WHERE vec_id = 0),
            cos AS (SELECT b.vec_id,
                           list_dot_product(b.v, q.qv)/(b.norm*q.qn) AS c
                    FROM nb b, q WHERE b.vec_id <> 0)
            SELECT vec_id, ROUND(c, 6) AS cosine FROM cos
            WHERE c IS NOT NULL AND NOT isnan(c)
            ORDER BY c DESC, vec_id ASC
            LIMIT 10
        """,
        "ann_ivf_knn_join": f"""
            WITH {_EMB_BASE},
            cents AS (SELECT vec_id AS cid, v AS cv, norm AS cn
                      FROM nb WHERE norm > 0
                      ORDER BY vec_id LIMIT 8),
            qs AS (SELECT vec_id AS query_id, v AS qv, norm AS qn
                   FROM nb WHERE vec_id < 6),
            assign AS (SELECT vec_id, cid FROM (
                         SELECT b.vec_id, c.cid,
                                ROW_NUMBER() OVER (
                                  PARTITION BY b.vec_id
                                  ORDER BY list_dot_product(b.v, c.cv)
                                           /(b.norm*c.cn) DESC, c.cid ASC
                                ) AS rn
                         FROM nb b, cents c)
                       WHERE rn = 1),
            probes AS (SELECT query_id, cid FROM (
                         SELECT q.query_id, c.cid,
                                ROW_NUMBER() OVER (
                                  PARTITION BY q.query_id
                                  ORDER BY list_dot_product(c.cv, q.qv)
                                           /(c.cn*q.qn) DESC, c.cid ASC
                                ) AS rn
                         FROM qs q, cents c)
                       WHERE rn <= 2),
            scored AS (SELECT q.query_id, b.vec_id,
                              list_dot_product(b.v, q.qv)/(b.norm*q.qn)
                                AS cosine
                       FROM nb b JOIN assign USING (vec_id)
                       JOIN probes p ON assign.cid = p.cid
                       JOIN qs q ON q.query_id = p.query_id
                       WHERE b.vec_id <> q.query_id),
            fs AS (SELECT * FROM scored
                   WHERE cosine IS NOT NULL AND NOT isnan(cosine))
            SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rn
                  FROM fs)
            WHERE rn <= 10
        """,
        "ann_knn_join": f"""
            WITH {_EMB_BASE},
            q AS (SELECT vec_id AS query_id, v AS qv, norm AS qn
                  FROM nb WHERE vec_id < 8),
            s AS (SELECT * FROM (
                    SELECT q.query_id, b.vec_id,
                           list_dot_product(b.v, q.qv)/(b.norm*q.qn)
                             AS cosine
                    FROM nb b, q WHERE b.vec_id <> q.query_id)
                  WHERE cosine IS NOT NULL AND NOT isnan(cosine))
            SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rn
                  FROM s)
            WHERE rn <= 10
        """,
        "ann_dup_pairs": _EXACT_DUP_PAIRS_SQL,
        # the gate config's pigeonhole guarantee (3+3>4 probed lists)
        # makes the trained path's emitted set EQUAL the exact set —
        # one shared literal, not a hand-kept copy
        "ann_dup_pairs_trained": _EXACT_DUP_PAIRS_SQL,
        "ann_dup_clusters": f"""
            WITH RECURSIVE {_EMB_BASE},
            pairs AS (SELECT a.vec_id AS pu, b.vec_id AS pv
                      FROM nb a JOIN nb b ON a.vec_id < b.vec_id
                      WHERE list_dot_product(a.v, b.v)/(a.norm*b.norm)
                              >= 0.4),
            edges AS (SELECT pu AS u, pv AS v FROM pairs
                      UNION SELECT pv, pu FROM pairs),
            reach(u, v) AS (SELECT u, v FROM edges
                            UNION
                            SELECT r.u, e.v
                            FROM reach r JOIN edges e ON r.v = e.u
                            WHERE e.v <> r.u),
            labels AS (SELECT u AS vec_id, MIN(v) AS mn
                       FROM reach GROUP BY u)
            SELECT e.vec_id,
                   COALESCE(LEAST(l.mn, e.vec_id), e.vec_id) AS cluster_id,
                   (COALESCE(LEAST(l.mn, e.vec_id), e.vec_id) = e.vec_id)
                     AS is_keeper
            FROM embeddings e LEFT JOIN labels l ON e.vec_id = l.vec_id
        """,
        "ann_dup_pairs_lsh": _lsh_oracle_sql(),
        "ann_lsh_topk": _lsh_topk_oracle_sql(),
        "ann_dup_pairs_pruned": f"""
            WITH {_EMB_BASE},
            cents AS (SELECT vec_id AS cid, v AS cv, norm AS cn
                      FROM nb WHERE norm > 0
                      ORDER BY vec_id LIMIT 8),
            assign AS (SELECT vec_id, cid FROM (
                         SELECT b.vec_id, c.cid,
                                ROW_NUMBER() OVER (
                                  PARTITION BY b.vec_id
                                  ORDER BY list_dot_product(b.v, c.cv)
                                           /(b.norm*c.cn) DESC, c.cid ASC
                                ) AS rn
                         FROM nb b, cents c)
                       WHERE rn = 1)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(a.v, b.v)/(a.norm*b.norm), 6)
                     AS cosine
            FROM nb a JOIN assign sa ON a.vec_id = sa.vec_id
            JOIN assign sb ON sa.cid = sb.cid
            JOIN nb b ON b.vec_id = sb.vec_id AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)/(a.norm*b.norm) >= 0.4
        """,
        "ann_ivf_topk": f"""
            WITH {_EMB_BASE},
            cents AS (SELECT vec_id AS cid, v AS cv, norm AS cn
                      FROM nb WHERE norm > 0
                      ORDER BY vec_id LIMIT 8),
            q AS (SELECT v AS qv, norm AS qn FROM nb WHERE vec_id = 0),
            assign AS (SELECT vec_id, cid FROM (
                         SELECT b.vec_id, c.cid,
                                ROW_NUMBER() OVER (
                                  PARTITION BY b.vec_id
                                  ORDER BY list_dot_product(b.v, c.cv)
                                           /(b.norm*c.cn) DESC, c.cid ASC
                                ) AS rn
                         FROM nb b, cents c)
                       WHERE rn = 1),
            probes AS (SELECT cid FROM cents, q
                       ORDER BY list_dot_product(cv, qv)/(cn*qn) DESC, cid ASC
                       LIMIT 2),
            cos AS (SELECT b.vec_id,
                           list_dot_product(b.v, q.qv)/(b.norm*q.qn) AS c
                    FROM nb b JOIN assign USING (vec_id)
                    JOIN probes ON assign.cid = probes.cid, q
                    WHERE b.vec_id <> 0)
            SELECT vec_id, ROUND(c, 6) AS cosine FROM cos
            WHERE c IS NOT NULL AND NOT isnan(c)
            ORDER BY c DESC, vec_id ASC
            LIMIT 10
        """,
        "corr_pairs_cross_set": """
            WITH mo AS (SELECT MAX(l_partkey) + 1 AS off FROM lineitem),
            occ AS (SELECT l_orderkey AS ref, l_partkey AS item
                         FROM lineitem
                         WHERE l_orderkey IS NOT NULL
                           AND l_partkey IS NOT NULL
                         UNION ALL
                         SELECT l_orderkey, l_suppkey + (SELECT off FROM mo)
                         FROM lineitem
                         WHERE l_orderkey IS NOT NULL
                           AND l_suppkey IS NOT NULL),
            cells AS (SELECT item, ref, COUNT(*)::DOUBLE AS cnt
                      FROM occ GROUP BY 1, 2),
            nn AS (SELECT COUNT(DISTINCT ref)::DOUBLE AS n FROM cells),
            st AS (SELECT item, SUM(cnt) AS s, SUM(cnt*cnt) AS q
                   FROM cells GROUP BY 1),
            vs AS (SELECT item, s, sqrt(n.n*q - s*s) AS den
                   FROM st, nn n WHERE n.n*q - s*s > 0),
            gram AS (SELECT a.item AS item_a, b.item AS item_b,
                            SUM(a.cnt*b.cnt) AS dot
                     FROM cells a JOIN cells b
                       ON a.ref = b.ref AND a.item <> b.item
                     GROUP BY 1, 2)
            SELECT g.item_a, g.item_b,
                   ROUND((n.n*g.dot - a.s*b.s)/(a.den*b.den), 6) AS corr
            FROM gram g JOIN vs a ON g.item_a = a.item
            JOIN vs b ON g.item_b = b.item, nn n
            WHERE g.item_a < (SELECT off FROM mo)
              AND g.item_b >= (SELECT off FROM mo)
        """,
        # identical values must survive the CSV round trip, so the
        # oracle is exactly the candidates query the model was built by
        "model_roundtrip": _EVENTS_CANDIDATES_SQL,
        "model_roundtrip_npy": _EVENTS_CANDIDATES_SQL,
        # null ids dropped where the matrix is born (see _MODEL note)
        "streaming_cells": """
            SELECT l_partkey AS item_id, l_orderkey AS ctx_id,
                   COUNT(*)::DOUBLE AS cnt
            FROM lineitem
            WHERE l_partkey IS NOT NULL AND l_orderkey IS NOT NULL
            GROUP BY 1, 2
        """,
        "multimodal_meta": """
            SELECT doc_id AS media_id, 'image' AS modality,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS sha256_hex
            FROM documents
        """,
        # decode/resize/frames/search: the fake kernels hash
        # `payload or b''` — NULL text is the EMPTY payload, so the
        # oracles hash coalesce(text, '') in lockstep (multimodal_meta
        # alone keeps raw NULLs: its engine side never coalesces)
        "multimodal_decode": """
            SELECT doc_id AS media_id, 'image' AS modality,
                   list_sum(list_transform(range(0, 16),
                     j -> ('0x' || substr(sha256(coalesce(text, '')),
                                          j*2+1, 2))::INT)
                     )::BIGINT AS pixel_sum
            FROM documents
        """,
        "multimodal_resize": """
            SELECT doc_id AS media_id, 5::INT AS width, 8::INT AS height,
                   40::INT AS n_bytes,
                   upper(sha256(coalesce(text, ''))
                         || substr(sha256(coalesce(text, '')), 1, 16))
                     AS payload_hex
            FROM documents
        """,
        "multimodal_search": """
            WITH raw AS (SELECT doc_id, list_transform(range(0, 8),
                           j -> ('0x' || substr(sha256(coalesce(text, '')),
                                                j*2+1, 2))::INT)
                           AS b
                         FROM documents),
            nz AS (SELECT doc_id, b,
                          sqrt(list_sum(list_transform(b,
                            x -> (x*x)::DOUBLE))) AS n0
                   FROM raw),
            vecs AS (SELECT doc_id,
                            list_transform(b, x -> CAST(CAST(
                              x / (CASE WHEN n0 = 0.0 THEN 1.0 ELSE n0 END)
                              AS FLOAT) AS DOUBLE)) AS v
                     FROM nz),
            nb AS (SELECT doc_id AS vec_id, v,
                          sqrt(list_dot_product(v, v)) AS norm
                   FROM vecs),
            q AS (SELECT v AS qv, norm AS qn FROM nb WHERE vec_id = 0)
            SELECT 0::BIGINT AS query_id, b.vec_id,
                   ROUND(list_dot_product(b.v, q.qv)/(b.norm*q.qn), 6)
                     AS cosine
            FROM nb b, q WHERE b.vec_id <> 0
            ORDER BY list_dot_product(b.v, q.qv)/(b.norm*q.qn) DESC,
                     b.vec_id ASC
            LIMIT 10
        """,
        "multimodal_frames": f"""
            SELECT doc_id AS media_id, fi::INT AS frame_idx,
                   'image' AS modality, 32::INT AS n_bytes,
                   upper(sha256(coalesce(text, '') || ':' || fi))
                     AS frame_hex
            FROM documents,
                 LATERAL unnest(range(0, 1 + {_pm("doc_id", 12)}, 4))
                   AS t(fi)
        """,
        "weighted_sample_docs": f"""
            SELECT doc_id, source, n_chars
            FROM (SELECT doc_id, source, n_chars,
                         ((2654435761 * {_pm("doc_id", 2147483647)}
                           + 1013904223) % 2147483647)
                           % 1000000 AS b,
                         LEAST(1.0, GREATEST(0.0,
                           0.5 * (n_chars / 200.0))) AS p
                  FROM documents)
            WHERE b < CAST(FLOOR(p * 1000000) AS BIGINT)
        """,
        "bm25_search": r"""
            WITH toks AS (SELECT doc_id,
                                 list_filter(string_split_regex(
                                        lower(coalesce(text, '')), '\s+'),
                                     x -> x <> '')
                                   AS t
                          FROM documents),
            dls AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM toks),
            st AS (SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl
                   FROM dls),
            tfs AS (SELECT doc_id, tok AS token, COUNT(*)::DOUBLE AS tf
                    FROM toks, LATERAL unnest(t) AS u(tok)
                    WHERE tok IN ('merge', 'spark', 'table')
                    GROUP BY 1, 2),
            dfs AS (SELECT token, COUNT(*)::DOUBLE AS df FROM tfs
                    GROUP BY 1),
            c AS (SELECT tfs.doc_id,
                         ln(1.0 + (st.n - dfs.df + 0.5)/(dfs.df + 0.5))
                           * tfs.tf * 2.2
                           / (tfs.tf + 1.2*(0.25 + 0.75*dls.dl/st.avgdl))
                           AS c
                  FROM tfs JOIN dfs USING (token)
                  JOIN dls USING (doc_id), st)
            SELECT doc_id, ROUND(SUM(c), 6) AS score
            FROM c GROUP BY 1
            ORDER BY ROUND(SUM(c), 6) DESC, doc_id ASC LIMIT 10
        """,
        "tfidf_docs": r"""
            WITH toks AS (SELECT doc_id,
                                 list_filter(string_split_regex(
                                        lower(text), '\s+'), x -> x <> '')
                                   AS t
                          FROM documents),
            tfs AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
                    FROM toks, LATERAL unnest(t) AS u(tok)
                    GROUP BY 1, 2),
            dfs AS (SELECT token, COUNT(*) AS df FROM tfs
                    GROUP BY 1 HAVING COUNT(*) >= 2),
            n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents)
            SELECT doc_id, token, tf, df,
                   ROUND(tf * ln(n.nd / df), 6) AS tfidf
            FROM tfs JOIN dfs USING (token), n
        """,
        "posting_lists": r"""
            WITH toks AS (SELECT doc_id,
                                 list_filter(string_split_regex(
                                        lower(text), '\s+'), x -> x <> '')
                                   AS t
                          FROM documents),
            dt AS (SELECT DISTINCT doc_id, tok AS token
                   FROM toks, LATERAL unnest(t) AS u(tok))
            SELECT token, COUNT(*) AS df,
                   array_to_string(list_sort(list(doc_id)), ' ') AS postings
            FROM dt GROUP BY 1
            HAVING COUNT(*) >= 2 AND COUNT(*) <= 400
        """,
        "token_distribution": r"""
            WITH nt AS (SELECT lang,
                               len(list_filter(string_split_regex(
                                     lower(text), '\s+'),
                                     x -> x <> '')) AS n
                        FROM documents)
            SELECT lang, COUNT(*) AS n_docs,
                   ROUND(AVG(n), 6) AS mean_tokens,
                   MIN(n)::BIGINT AS min_tokens,
                   MAX(n)::BIGINT AS max_tokens,
                   quantile_cont(n, 0.5) AS p50,
                   quantile_cont(n, 0.9) AS p90,
                   quantile_cont(n, 0.99) AS p99
            FROM nt GROUP BY 1
        """,
        "rolling_user_counts": """
            SELECT user_id, epoch_us(ts) AS t_us,
                   COUNT(*) OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts)
                     RANGE BETWEEN 604800000000 PRECEDING
                       AND CURRENT ROW) AS n_trailing
            FROM events
        """,
        # chained-CTE funnel (the standard SQL formulation) replays the
        # single-shuffle array-expression plan's semantics exactly
        # user_id IS NOT NULL mirrors the engine query's exclusion (a
        # null-user "funnel" is meaningless; window-vs-join null
        # semantics would otherwise diverge)
        "funnel_events": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type AS et
                       FROM events WHERE user_id IS NOT NULL),
            s0 AS (SELECT user_id,
                          MIN(CASE WHEN et = 'click' THEN t END) AS t0
                   FROM e GROUP BY 1),
            s1 AS (SELECT s0.user_id, t0,
                          MIN(CASE WHEN e.et = 'view' AND e.t >= s0.t0
                                    AND e.t <= s0.t0 + 86400000000
                                   THEN e.t END) AS t1
                   FROM s0 LEFT JOIN e USING (user_id) GROUP BY 1, 2),
            s2 AS (SELECT s1.user_id, t0, t1,
                          MIN(CASE WHEN e.et = 'purchase' AND e.t >= s1.t1
                                    AND e.t <= s1.t0 + 86400000000
                                   THEN e.t END) AS t2
                   FROM s1 LEFT JOIN e USING (user_id) GROUP BY 1, 2, 3)
            SELECT 0::BIGINT AS step_idx, 'click' AS step,
                   COUNT(t0) AS n_users FROM s2
            UNION ALL SELECT 1::BIGINT, 'view', COUNT(t1) FROM s2
            UNION ALL SELECT 2::BIGINT, 'purchase', COUNT(t2) FROM s2
        """,
        # FLOOR week bucketing, spelled out: DuckDB's integer `//`
        # TRUNCATES toward zero (verified empirically — unlike its
        # double division), so the bare `// 86400000000 // 7` would
        # collapse pre-epoch days −6..6 into one double-width bucket
        # and diverge from the engine's exact floor arithmetic. The
        # ((x % d) + d) % d term is pmod; subtracting it makes the
        # truncating `//` exact — floor ≡ trunc on exact multiples.
        "cohort_retention": """
            WITH us AS (SELECT DISTINCT user_id, epoch_us(ts) AS t
                        FROM events),
            dy AS (SELECT user_id,
                          (t - ((t % 86400000000) + 86400000000)
                               % 86400000000) // 86400000000 AS d
                   FROM us),
            a AS (SELECT DISTINCT user_id,
                         (d - ((d % 7) + 7) % 7) // 7 AS week
                  FROM dy),
            f AS (SELECT user_id, MIN(week) AS cohort_week
                  FROM a GROUP BY 1)
            SELECT cohort_week, week - cohort_week AS week_offset,
                   COUNT(*) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "multimodal_dup_pairs": """
            WITH px AS (SELECT doc_id AS vec_id,
                               list_transform(range(0, 16),
                                 j -> ('0x' || substr(
                                       sha256(coalesce(text, '')),
                                       j*2+1, 2))::INT)::DOUBLE[] AS v
                        FROM documents),
            nb AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
                   FROM px)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(list_dot_product(a.v, b.v)/(a.norm*b.norm), 6)
                     AS cosine
            FROM nb a JOIN nb b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)/(a.norm*b.norm) >= 0.9
        """,
        # gaps-and-islands over epoch-micros event times; ties (equal
        # t) can't open a session (gap 0), so the running-sum ids are
        # order-deterministic in both engines
        # batch gaps-and-islands restricted to watermark-closed
        # sessions: Spark tracks event-time max in FLOOR-ms, so the
        # final watermark is (max_t // 1000 − 3600000) ms and a
        # session is closed iff end + gap < that watermark (strict <,
        # the operator's defensive close rule)
        # the deduped SET is order-invariant (the query projects only
        # the payload), so plain DISTINCT is the oracle; watermark
        # eviction cannot re-admit a key inside one availableNow run
        # over a single file (one micro-batch)
        # ts IS NULL OR t > 0: dropDuplicatesWithinWatermark passes
        # null-event-time rows through but drops rows with
        # ts <= watermark — and the watermark initializes at epoch 0,
        # so pre-epoch AND exactly-epoch rows are permanently late
        # (verified empirically; same ts <= wm boundary as the
        # sessions kernel, pinned by singleton-payload fuzz rows)
        "streaming_dedup": """
            SELECT DISTINCT props AS text FROM events
            WHERE ts IS NULL OR epoch_us(ts) > 0
        """,
        # watermark arithmetic mirrors streaming_sessions: floor max
        # event time to ms, subtract the delay; emission is
        # window_end <= wm INCLUSIVE — pinned empirically both ways
        # (wm exactly ON the end emits; wm 1 ms short does not); a
        # strict < here lost the end-==-wm window (10th-seed fuzz
        # find: minute-granularity times make max ≡ 10 min (mod 1 h)
        # about one seed in sixty)
        # same null-ts exclusion + explicit floor bucketing as the
        # batch twin (DuckDB integer `//` truncates; see
        # windowed_event_counts)
        # t >= 0: Spark's event-time watermark INITIALIZES AT EPOCH 0,
        # so a pre-epoch event is already late in the first batch and
        # its (epoch-aligned) window — end <= 0 <= watermark — is
        # never created; the batch twin keeps such rows (fuzz-parity
        # find on pre-epoch times; t = 0 itself survives, pinned by
        # the boundary rows in the fuzz corpus)
        "streaming_windowed_counts": """
            WITH e AS (SELECT epoch_us(ts) AS t, event_type FROM events
                       WHERE ts IS NOT NULL AND epoch_us(ts) >= 0),
            wm AS (SELECT ((MAX(t) // 1000) - 600000) * 1000 AS wm_us
                   FROM e),
            w AS (SELECT ((t - ((t % 3600000000) + 3600000000)
                               % 3600000000) // 3600000000)
                         * 3600000000 AS ws, event_type
                  FROM e)
            SELECT ws AS window_start_us,
                   ws + 3600000000 AS window_end_us,
                   event_type, COUNT(*) AS n_events
            FROM w, wm
            GROUP BY ws, event_type, wm_us
            HAVING ws + 3600000000 <= wm_us
        """,
        # `ts IS NOT NULL` in both sessionize oracles mirrors the
        # engine's explicit null-time exclusion (an event with no time
        # belongs to no session; NULLS FIRST/LAST conventions would
        # otherwise attach it to a different session per engine)
        # t > 0 mirrors the initial-watermark exclusion for the STATE
        # KERNEL: Spark's watermark starts at epoch 0 and
        # applyInPandasWithState drops late rows with ts <= watermark
        # (streaming/sessions.py close-rule comment; pinned by the
        # fuzz corpus' t = 0 / t = −1µs boundary rows) — note the
        # boundary differs from windowed aggregation, which drops on
        # window END <= watermark and therefore KEEPS a t = 0 event
        "streaming_sessions": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events
                       WHERE ts IS NOT NULL AND epoch_us(ts) > 0),
            wm AS (SELECT ((MAX(t) // 1000) - 3600000) * 1000 AS wm_us
                   FROM e),
            m AS (SELECT user_id, t,
                    CASE WHEN t - LAG(t) OVER (PARTITION BY user_id
                                               ORDER BY t) > 1800000000
                         THEN 1 ELSE 0 END AS brk
                  FROM e),
            s AS (SELECT user_id, t,
                    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m),
            sess AS (SELECT user_id, MIN(t) AS session_start_us,
                            MAX(t) AS session_end_us, COUNT(*) AS n_events
                     FROM s GROUP BY user_id, sid)
            SELECT user_id, session_start_us, session_end_us, n_events
            FROM sess, wm
            WHERE session_end_us + 1800000000 < wm_us
        """,
        "sessionize_events": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events
                       WHERE ts IS NOT NULL),
            m AS (SELECT user_id, t,
                    CASE WHEN t - LAG(t) OVER (PARTITION BY user_id
                                               ORDER BY t) > 1800000000
                         THEN 1 ELSE 0 END AS brk
                  FROM e),
            s AS (SELECT user_id, t,
                    SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS sid
                  FROM m)
            SELECT user_id, MIN(t) AS session_start_us,
                   MAX(t) AS session_end_us, COUNT(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        # DuckDB's native ASOF JOIN is the oracle for the engine's
        # union + last(ignorenulls) window composition
        # the QUALIFY dedupes purchases tied on (user, ts) to the
        # largest event_id — asof_join picks an ARBITRARY row among
        # exact ties (documented), so the QUERY pins a deterministic
        # tie rule identically on both sides
        "asof_click_purchase": """
            SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id,
                   ROUND(r.value, 6) AS last_purchase_value
            FROM (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'click'
                    AND ts IS NOT NULL AND user_id IS NOT NULL) l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase'
                            QUALIFY ROW_NUMBER() OVER (
                              PARTITION BY user_id, ts
                              ORDER BY event_id DESC) = 1) r
              ON l.user_id = r.user_id AND r.ts <= l.ts
        """,
        # F.window's epoch-aligned 1-hour tumbling buckets ≡ integer
        # bucketing of the micros timeline (UTC session zone)
        # ts IS NOT NULL mirrors F.window's behavior (a null event time
        # fails the window predicate and the row vanishes — same
        # no-time-no-window posture as sessionize); the pmod-subtract
        # makes the truncating integer `//` a true floor for pre-epoch
        # times, matching F.window's epoch-aligned bucketing
        "windowed_event_counts": """
            WITH e AS (SELECT epoch_us(ts) AS t, event_type FROM events
                       WHERE ts IS NOT NULL),
            w AS (SELECT (t - ((t % 3600000000) + 3600000000)
                              % 3600000000) // 3600000000 AS h,
                         event_type
                  FROM e)
            SELECT h * 3600000000 AS window_start_us,
                   h * 3600000000 + 3600000000 AS window_end_us,
                   event_type, COUNT(*) AS n_events
            FROM w GROUP BY 1, 2, 3
        """,
        "text_doc_stats": _TEXT_STATS_SQL,
        # Code-point-arithmetic twins of token_count_cp /
        # subword_token_count (functions/text.py): per-char unicode()
        # codes → numeric class (0 ws / 1 letter / 2 digit / 3 other)
        # → one integer fold per counter, state encoded in a BIGINT
        # exactly as the engine encodes it (shared fragments _CP_KS /
        # _CP_NT_FOLD / _CP_NS_FOLD — the diag_tokenizer probe runs the
        # SAME fragments over a fixed literal). Nothing engine-version-
        # dependent remains: no regex, no lower(), no list_sum
        # promotion (VERDICT r4 prescription for the one red row).
        # Empty text guards length = 0 because string_split('','')
        # yields [''] whose sentinel code differs per engine
        # (unicode('') = -1, Spark ascii('') = 0); NULL text falls to
        # the COALESCE like the engine's greatest(·, 0) / 0-guard.
        "token_estimates": f"""
            WITH k AS (
              SELECT doc_id,
                     CASE WHEN len(text) = 0 THEN 0
                          ELSE NULL END AS empty0,
                     {_CP_KS.format(col="text")} AS ks
              FROM documents)
            SELECT doc_id,
                   COALESCE(empty0, {_CP_NT_FOLD}::BIGINT, 0)::BIGINT
                     AS n_tokens,
                   COALESCE(empty0, {_CP_NS_FOLD}::BIGINT, 0)::BIGINT
                     AS n_subword
            FROM k
        """,
        # the tokenizer-divergence probe (q_diag_tokenizer docstring):
        # the driver's OWN DuckDB runs the same fold fragments over the
        # fixed hostile literal and reports its counts as the row
        # count, so a future divergence is readable in oracle_rows
        "diag_tokenizer": f"""
            WITH k AS (SELECT {_CP_KS.format(col=_DIAG_LIT)} AS ks),
            n AS (SELECT ({_CP_NT_FOLD} * 1000 + {_CP_NS_FOLD})::BIGINT
                    AS cnt FROM k)
            SELECT CAST(unnest(range(0, cnt)) AS BIGINT) AS i FROM n
        """,
        # same stats pipeline, filter pushed on the rounded quality —
        # thresholds in filter_corpus compare 6-dp-rounded values so
        # both engines select the identical doc set
        "corpus_filter": f"""
            SELECT doc_id, n_tokens, lang, quality
            FROM ({_TEXT_STATS_SQL})
            WHERE quality >= 0.72 AND lang = 'en'
              AND n_tokens BETWEEN 20 AND 90
        """,
        # the composed pipeline: filter (corpus_filter twin) →
        # min-id-per-text keepers (≡ the engine's content-hash
        # groups) → chunk (chunk_docs twin over the CLEAN corpus)
        "pipeline_prepare": f"""
            WITH kept AS (SELECT doc_id
                          FROM ({_TEXT_STATS_SQL})
                          WHERE quality >= 0.72 AND lang = 'en'
                            AND n_tokens BETWEEN 20 AND 90),
            fd AS (SELECT d.doc_id, d.text
                   FROM documents d JOIN kept USING (doc_id)),
            keep2 AS (SELECT MIN(doc_id) AS doc_id FROM fd GROUP BY coalesce(text, '')),
            clean AS (SELECT fd.doc_id, fd.text
                      FROM fd JOIN keep2 USING (doc_id)),
            toks AS (SELECT doc_id,
                            list_filter(string_split_regex(
                                   lower(text), '\\s+'), x -> x <> '')
                              AS t
                     FROM clean)
            SELECT doc_id, (s.s // 24)::BIGINT AS chunk_id,
                   array_to_string(t[s.s+1 : s.s+32], ' ') AS chunk_text,
                   len(t[s.s+1 : s.s+32])::BIGINT AS n_tokens
            FROM toks, LATERAL unnest(range(0, len(t), 24)) AS s(s)
            WHERE len(t) > 0 AND (s.s = 0 OR s.s < len(t) - 8)
        """,
        # selection is pure key arithmetic (operators/sampling.py) —
        # the oracle replays the identical sample
        "sample_events_stratified": f"""
            SELECT e.event_id, e.user_id, e.event_type
            FROM events e
            JOIN (VALUES ('click', 500000), ('view', 250000),
                         ('purchase', 1000000)) v(event_type, cut)
              ON e.event_type = v.event_type
            WHERE ((2654435761 * {_pm("e.event_id", 2147483647)}
                    + 1013904223) % 2147483647)
                  % 1000000 < v.cut
        """,
        # mixture resampling: keep-rates derive from the group counts by
        # the same floor arithmetic as operators/sampling.py::mix_sources
        # (IEEE doubles in both engines), selection by the shared LCG
        "mix_sources_docs": f"""
            WITH counts AS (
                SELECT source, COUNT(*)::DOUBLE AS n FROM documents
                WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
            tgt AS (SELECT * FROM (VALUES ('src0', 0.5), ('src1', 0.3),
                                          ('src2', 0.2)) t(source, t)),
            j AS (SELECT counts.source, n, t
                  FROM counts JOIN tgt USING (source)),
            s AS (SELECT MIN(FLOOR(n / t)) AS big_s FROM j),
            rates AS (SELECT source,
                             CAST(FLOOR(1000000 * big_s * t / n) AS BIGINT)
                               AS cut
                      FROM j, s)
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN rates r ON d.source = r.source
            WHERE ((2654435761 * {_pm("d.doc_id", 2147483647)}
                    + 1013904223) % 2147483647)
                  % 1000000 < r.cut
        """,
        # two decorrelated LCG lanes: shard from the sample lane,
        # within-shard order from the Borland lane (+ key tiebreak)
        "shuffle_shards_docs": f"""
            SELECT doc_id, source, shard::INT AS shard,
                   (ROW_NUMBER() OVER (PARTITION BY shard
                                       ORDER BY ord, doc_id) - 1)::INT
                     AS pos
            FROM (SELECT doc_id, source,
                         ((1103515245 * {_pm("doc_id", 2147483647)} + 12345)
                           % 2147483647) % 8 AS shard,
                         (22695477 * {_pm("doc_id", 2147483647)} + 1)
                           % 2147483647 AS ord
                  FROM documents)
        """,
    }
    # The capped-mode rows pin the skew-cap PLUMBING with caps chosen
    # above any true degree/bucket size on the gate data, so their
    # answers — and therefore their oracles — are exactly the uncapped
    # twins' (the dropping path is unit-tested; see the query
    # docstrings).
    sql["corr_pairs_capped"] = sql["corr_pairs_parts"]
    sql["dedup_lsh_capped"] = sql["dedup_minhash_lsh"]
    # The cap-DROP rows replay the binding caps (engine twins:
    # q_corr_pairs_cap_drop / q_dedup_lsh_cap_drop). The corr drop:
    # contexts whose valid-item degree exceeds 5 leave the Gram term
    # (and ONLY the Gram term — stats stay full-table, exactly like
    # gram()'s pruned-cells degree filter).
    sql["corr_pairs_cap_drop"] = f"""
        {_MODEL},
        pruned AS (SELECT c.* FROM cells c JOIN vs v ON c.item = v.item),
        okctx AS (SELECT ref FROM pruned GROUP BY ref HAVING COUNT(*) <= 5),
        cap AS (SELECT p.* FROM pruned p JOIN okctx USING (ref)),
        gramc AS (SELECT a.item AS item_a, b.item AS item_b,
                         SUM(a.cnt*b.cnt) AS dot
                  FROM cap a JOIN cap b
                    ON a.ref = b.ref AND a.item <> b.item
                  GROUP BY 1, 2)
        SELECT g.item_a, g.item_b,
               ROUND((n.n*g.dot - a.s*b.s)/(a.den*b.den), 6) AS corr
        FROM gramc g
        JOIN vs a ON g.item_a = a.item
        JOIN vs b ON g.item_b = b.item, nn n
    """
    # The LSH drop is the same banded body with buckets of size > 2
    # removed before the candidate self-join — built by surgery on the
    # shared body so the shingle/perm/verify CTE chain has ONE source
    # of truth; both anchors are asserted so a future edit to the
    # uncapped body cannot silently detach this twin.
    _lsh = sql["dedup_minhash_lsh"]
    _cand_anchor = "cand AS (SELECT DISTINCT a.doc_id AS doc_a"
    _join_anchor = "FROM bands a JOIN bands b"
    assert _cand_anchor in _lsh and _join_anchor in _lsh, (
        "dedup_minhash_lsh body changed; re-anchor dedup_lsh_cap_drop"
    )
    sql["dedup_lsh_cap_drop"] = _lsh.replace(
        _cand_anchor,
        "okb AS (SELECT band, sig FROM bands\n"
        "                    GROUP BY band, sig HAVING COUNT(*) <= 2),\n"
        "            bands2 AS (SELECT b.* FROM bands b JOIN okb"
        " USING (band, sig)),\n"
        "            " + _cand_anchor,
    ).replace(_join_anchor, "FROM bands2 a JOIN bands2 b")
    # Rewrite the readable `\s` in every oracle regex to the explicit
    # whitespace class shared with the engine (functions/text.py
    # WS_CLASS): RE2's \s lacks \x0B while Java's includes it, so the
    # shorthand silently diverges per engine. Rewriting at return time
    # keeps every present and future twin in lock-step by construction
    # (`\s` appears only in regex positions in these bodies). Guard:
    # a `\s` INSIDE a character class (e.g. '[^\s,]') would rewrite to
    # a nested class RE2 mis-parses as literals — spell such classes
    # out explicitly instead (see redact_docs' URL pattern).
    import re as _re

    for k, v in sql.items():
        if _re.search(r"\[[^\]]*\\s", v):
            raise AssertionError(
                f"oracle_sql[{k!r}]: \\s inside a character class would "
                "be corrupted by the WS_CLASS rewrite; spell the "
                "whitespace characters out explicitly in the class"
            )
    # Second lock-step rewrite: document-text lowercasing becomes the
    # engines' shared ASCII-only translate() (functions/text.py
    # ascii_lower) — full lower() is engine-specific on İ/ẞ/ς-class
    # code points (JVM context-aware vs utf8proc 1:1), which flipped
    # fingerprints/vocabulary on hostile corpora (tests/
    # test_fuzz_parity.py). Only the documents-text call sites are
    # rewritten; serving's lower(p_name) pairs with an engine-side
    # F.lower and stays full-Unicode on both sides.
    _AL = (
        "translate({}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        " 'abcdefghijklmnopqrstuvwxyz')"
    )
    out = {}
    for k, v in sql.items():
        v = v.replace(r"\s", WS_CLASS)
        v = v.replace("lower(text)", _AL.format("text"))
        v = v.replace(
            "lower(coalesce(text, ''))", _AL.format("coalesce(text, '')")
        )
        out[k] = v
    return out
