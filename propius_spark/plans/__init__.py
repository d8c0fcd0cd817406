"""Plan-shaping utilities shared by the batch operators."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from propius_spark.session import persistent_rdd_ids

# target checkpoint-block size for materialize's compaction pass
_CHECKPOINT_BLOCK_MB = 128

# per-process observability for the compaction pass (scale-run A/Bs
# read this to prove the path engaged; tests pin the gate-SF no-op).
# no_block_info counts calls where NO size measurement was possible
# (neither stored blocks nor checkpoint files) — distinct from
# "skipped" so durable-mode scale records can tell "never eligible"
# from "couldn't measure". "skipped" counts both calls measured under
# the engage margin and calls decided by the partition count alone
# (at most 2× defaultParallelism), which make no sizing read.
compaction_stats = {"engaged": 0, "skipped": 0, "no_block_info": 0}


def fan_out(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition by ``key_col`` to an EXPLICIT partition count
    (the cluster default parallelism) so compute-bound per-row map
    stages use every core even when the input is one small file.
    Explicit count matters: AQE coalesces shuffle partitions by byte
    size and would fold a few MB of raw text back into one task
    regardless of expression cost.

    Deliberately NOT ``max(default, df.rdd.getNumPartitions())``:
    touching ``df.rdd`` under AQE finalizes the adaptive plan, which
    EXECUTES every upstream shuffle stage just to count partitions —
    a derived input (join/aggregate upstream) would run its whole
    pipeline twice. A frame already wider than the default keeps its
    parallelism through the exchange anyway at realistic scales, and
    callers with a known-wider input can repartition themselves."""
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, F.col(key_col))


def materialize(df: DataFrame, compact: bool = True) -> DataFrame:
    """Materialize a subtree consumed by several downstream branches:
    MEMORY_AND_DISK storage + lineage truncation (localCheckpoint).

    Two reasons, both measured at sf0.01:
    - Spark's exchange reuse only deduplicates *identical* physical
      subplans inside one action; our pipelines consume shared tables
      (cells/stats/gram, shingle sets, signatures) under different
      projections and filters, so without persistence each branch
      re-runs the scan+shuffle.
    - Plain persist() keeps the full logical plan, and AQE re-optimizes
      the deep nested tree per query stage — the final 4-way join of
      2k-row tables took 66 s of pure driver planning with AQE on vs
      0.6 s with truncated lineage. Checkpointing the small tables keeps
      AQE (wanted for skew-join on the big shuffles) while bounding the
      plan it has to replan.

    Eager, deliberately: a *lazy* localCheckpoint is re-computed by
    every AQE query-stage job that reaches it before the first
    materialization registers — composing the exact-similarity pipeline
    lazily took 218 s at sf0.1 while the same stages materialized
    eagerly total < 10 s. Eager means building one of these DataFrames
    runs jobs immediately; fine for batch pipelines, and the returned
    frame is a plain fast table scan afterwards.

    Only call this on item-, pair-, or sketch-cardinality tables —
    orders of magnitude smaller than the event log / corpus they derive
    from — so they store safely even at large scale.

    Durability: when a checkpoint directory is configured (either
    ``spark.checkpoint.dir`` at session build or
    ``sc.setCheckpointDir(...)`` at runtime — point it at durable
    storage on a real cluster), this uses reliable ``checkpoint()``,
    which survives executor loss. Otherwise it uses
    ``localCheckpoint()`` (executor-local blocks, MEMORY_AND_DISK) —
    right for single-JVM/local runs where executor loss means the app
    is gone anyway. Same semantics either way: eager materialization +
    lineage truncation. Call
    ``propius_spark.session.clear_materialized(spark)`` after consuming
    the pipeline so the blocks don't linger into later queries.
    Checkpoint FILES are reclaimed by the ContextCleaner once their
    RDDs are GC'd — that needs
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
    propius_spark.session.get_spark; set it yourself on a vanilla
    session, or repeated pipelines accumulate checkpoint data).

    Checkpoint granularity is DECOUPLED from shuffle granularity
    (SCALE.md §8a finding 4: partition sizing is per-pipeline — 256
    shuffle partitions gave the pure-shuffle corr family 2.6× at sf10
    but slowed the checkpoint-heavy pipelines ~2×, because they
    re-read the checkpoint several times and 8× the partitions is 8×
    the block-store rounds on a store whose throughput collapses under
    concurrency). The COMPUTE always runs at full shuffle parallelism
    — the first checkpoint is exactly the old behavior. Then, when the
    result landed in many more blocks than its byte size warrants
    (> 2× the ~128 MB-block target, measured from the stored blocks,
    not guessed), ONE narrow compaction pass re-checkpoints it at the
    target and releases the fine-grained blocks. Fine shuffles for the
    sorts, coarse blocks for the re-reads; at the gate SFs every table
    lands under the threshold in the first place (kilobytes in ≤ 32
    partitions → a no-op), so gate plans and timings are unchanged.
    Single-writer per session, like the rest of the materialization
    machinery (session.release_materialized_since):
    the before/after persistent-RDD diff that releases the fine blocks
    attributes every new id to this call.

    ``compact`` is the call site's consumer-shape knowledge, which no
    runtime heuristic can recover (sf10 A/B, SCALE.md §8b): compaction
    pays when consumers RE-READ the blocks repeatedly through narrow
    plans (similar_items' gram: 622 s → 259 s at 256 shuffle
    partitions), and is pure added I/O when every consumer immediately
    shuffles the table — one sequential scan each, block count
    irrelevant, but the compaction pass still re-reads and re-writes
    the whole table on a store that collapses under concurrency (the
    cells table: corr_pairs 289 s → 387 s with compaction on).
    ``True`` (default) = the size heuristic decides; ``False`` = never
    compact (the cells posture).

    Sizing order: ``compact=False`` checkpoints and returns. Otherwise
    the call snapshots the persistent-RDD ids (and lists the durable
    checkpoint dir) before it checkpoints; a result of at most twice
    ``defaultParallelism`` partitions, which can never compact (the
    target is at least ``defaultParallelism``), returns as skipped
    before the sizing read (~24 ms of driver CPU).

    Sizing is mode-aware: localCheckpoint mode measures the stored
    blocks (block-manager RDDInfo); reliable-checkpoint mode measures
    the checkpoint FILES just written under ``sc.getCheckpointDir()``
    via the Hadoop FileSystem API (scheme-agnostic — works for
    hdfs:///s3a:// dirs on a real cluster), because the persist
    wrapper that made the write single-pass is released before sizing
    and leaves no blocks behind. On-disk bytes are the right measure
    there anyway: re-read cost in durable mode is file I/O, not
    block-manager memory.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    reliable = sc.getCheckpointDir() is not None
    if not compact:
        return _checkpoint_once(df, reliable)
    before = persistent_rdd_ids(spark)
    # the FS listing must precede the checkpoint it diffs against
    before_dirs = _checkpoint_rdd_dirs(sc) if reliable else None
    first = _checkpoint_once(df, reliable)
    # safe here: `first` is LogicalRDD-backed (no shuffles to finalize,
    # nothing recomputes — the AQE hazard in fan_out's docstring is
    # about un-executed upstream exchanges)
    nparts = first.rdd.getNumPartitions()
    # floor at defaultParallelism: compaction exists to cut block-store
    # ROUNDS (blocks ≫ cores), never to cut a small table below
    # one-block-per-core — downstream map stages over the checkpoint
    # keep their parallelism, and at the gate SFs (32 shuffle
    # partitions, 32 cores) the 2× engage margin is then never met, so
    # gate plans are bit-identical to the pre-compaction behavior
    floor = sc.defaultParallelism
    if nparts <= 2 * floor:
        compaction_stats["skipped"] += 1
        return first
    new_ids = persistent_rdd_ids(spark) - before
    if reliable:
        stored = _checkpoint_fs_bytes(sc, before_dirs)
    else:
        stored = _stored_bytes(sc, new_ids)
    if stored is None:
        # no size measurement possible — count it separately from
        # "skipped" so scale-run records can tell the modes apart
        compaction_stats["no_block_info"] += 1
        return first
    n_target = max(floor, math.ceil(stored / (_CHECKPOINT_BLOCK_MB << 20)))
    if nparts <= 2 * n_target:
        compaction_stats["skipped"] += 1
        return first
    compaction_stats["engaged"] += 1
    compacted = _checkpoint_once(first.coalesce(n_target), reliable)
    # release the fine-grained blocks — `first` is internal to this
    # call and never escapes, so dropping its (lineage-truncated,
    # unrecomputable) blocks is safe. In reliable mode there are no
    # blocks (new_ids is empty); the fine checkpoint FILES are
    # reclaimed by the ContextCleaner once `first`'s RDD is GC'd
    # (cleanCheckpoints=true, module docstring) — never deleted by
    # hand here.
    jmap = sc._jsc.getPersistentRDDs()
    for k in new_ids:
        jmap[k].unpersist()
    return compacted


def _checkpoint_once(df: DataFrame, reliable: bool) -> DataFrame:
    """One eager checkpoint: reliable ``checkpoint()`` when a
    checkpoint dir is configured (persist-wrapped — eager checkpoint
    runs one job to compute and a SECOND to write the files, and
    unpersisted the second job recomputes every partition from
    scratch, per Spark's own RDD.checkpoint docs), else
    ``localCheckpoint()``."""
    if reliable:
        df.persist()
        try:
            return df.checkpoint(eager=True)
        finally:
            df.unpersist()
    return df.localCheckpoint(eager=True)


def _stored_bytes(sc, rdd_ids: set[int]) -> int | None:
    """Actual stored size (memory + disk) of the given persistent RDD
    ids, from the block manager's RDDInfo — measured, not estimated.
    None when the ids hold no blocks (e.g. reliable-checkpoint mode
    released its persist wrapper, leaving nothing to compact by)."""
    total = 0
    seen = False
    for info in sc._jsc.sc().getRDDStorageInfo():
        if int(info.id()) in rdd_ids:
            total += int(info.memSize()) + int(info.diskSize())
            seen = True
    return total if seen else None


def _checkpoint_rdd_dirs(sc) -> set[str] | None:
    """The rdd-* checkpoint subdirectories currently under the
    configured checkpoint dir (``setCheckpointDir`` creates a
    per-context UUID dir and ``getCheckpointDir`` returns it; each
    reliable checkpoint writes ``<uuid-dir>/rdd-<id>/part-*``).
    Hadoop FileSystem API, so any scheme the cluster's checkpoint dir
    uses works. None when no dir is configured."""
    ckdir = sc.getCheckpointDir()
    if ckdir is None:
        return None
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(ckdir)
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return set()
    return {
        st.getPath().toString()
        for st in fs.listStatus(path)
        if st.isDirectory()
    }


def _checkpoint_fs_bytes(sc, before_dirs: set[str] | None) -> int | None:
    """Total on-disk bytes of the checkpoint directories that appeared
    since ``before_dirs`` was snapshotted — the size of the reliable
    checkpoint `materialize` just wrote (single-writer per session,
    like the block-release diff). None when nothing new is visible
    (nothing to size — e.g. the checkpoint dir was reconfigured
    mid-call) so the caller records no_block_info rather than acting
    on a 0-byte misread."""
    after = _checkpoint_rdd_dirs(sc)
    if after is None or before_dirs is None:
        return None
    new_dirs = after - before_dirs
    if not new_dirs:
        return None
    jvm = sc._jvm
    fs = jvm.org.apache.hadoop.fs.Path(
        sc.getCheckpointDir()
    ).getFileSystem(sc._jsc.hadoopConfiguration())
    total = 0
    for d in new_dirs:
        total += int(
            fs.getContentSummary(jvm.org.apache.hadoop.fs.Path(d)).getLength()
        )
    return total


def persist_big(df: DataFrame) -> DataFrame:
    """Disk-backed lazy cache for CORPUS-SCALE intermediates — the
    shingle/token tables `materialize` must never touch (its contract
    is item/pair/sketch-cardinality only: eager MEMORY_AND_DISK
    checkpointing would pin ~corpus×k bytes of executor storage
    memory). DISK_ONLY keeps the storage-memory pool free for the
    joins' execution memory; each partition computes once on first
    use and is read back from local disk by later consumers — the
    same I/O class as the shuffle files those consumers write anyway.
    Lazy deliberately: no extra action, and the two-node lineage
    (scan → map) doesn't trigger the AQE deep-replan pathology that
    motivated materialize's eagerness. Released by
    ``session.clear_materialized`` (catalog cache clear)."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.DISK_ONLY)

def bounded_rank(rank: "F.Column", max_n: int, what: str) -> "F.Column":
    """In-plan size guard for the repo's three deliberate global-rank
    windows (dict-mode shingle/token dictionaries, vocabulary rank):
    each ranks a *bounded-by-contract* table (a distinct dictionary or
    a post-filter vocabulary, ≪ corpus) on one task, which is the
    right plan while the bound holds and a silent single-task sort
    past it. The guard turns "silently slow/OOM" into a loud error at
    exactly the row where the contract breaks, and costs one codegen'd
    conditional per dictionary row — no extra job, no second pass, so
    the production xxhash paths and the gate data never notice it.
    Callers that truly need a larger dictionary should switch to the
    stateless hash id mode (the scale path) rather than raise the cap.
    """
    return F.when(rank <= F.lit(max_n), rank).otherwise(
        F.raise_error(
            F.lit(
                f"{what}: single-task rank window exceeded its "
                f"documented bound of {max_n} rows (id_mode='dict' and "
                "unlimited vocabulary() rank on one task; use the hash "
                "id mode / a LIMIT at this scale)"
            )
        )
    )
