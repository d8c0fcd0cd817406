"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join splitting for the Gram self-join, see
operators/correlation.py), shuffle partitions sized to cores instead of
the 200 default, Arrow on for the few pandas-UDF paths, UTC session TZ
so timestamps hash identically against the DuckDB oracle.

The generated-code cache (`spark.sql.codegen.cache.maxEntries`) is
sized above one exact build's working set, so a repeated build reuses
its compiled classes instead of recompiling them (measured numbers at
the conf line). The cache belongs to the JVM, not to a session, so it
is a static conf: the size takes effect only when `get_spark` creates
the JVM's first session, and a running session keeps the cache it
started with.

PySpark's Python call-site capture
(`spark.python.sql.dataFrameDebugging.enabled`) is off: with it on,
every `F.*`/Column/DataFrame call adds Py4J round trips (numbers at
the conf line). It drops only the Python call site from the DataFrame
context of analysis errors, which no test reads. Like the codegen
cache it can come too late: PySpark reads the flag once, at the
process's first DataFrame API call, so it holds only if that call ran
on a session built here.

The persistence helpers read `getPersistentRDDs()` through one Java
array: a Py4J iterator ends in a NoSuchElementException, which
PySpark's exception hook converts at ~18 ms of CPU per id snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _rdd_ids(jmap) -> set[int]:
    """A `getPersistentRDDs()` map's keys (module docstring)."""
    return {int(k) for k in jmap.keySet().toArray()}


def clear_materialized(spark: SparkSession) -> int:
    """Unpersist every persistent RDD (the engine's materialized
    intermediate tables, see plans.materialize).
    Leftover blocks from a finished pipeline degrade later queries in
    the same session (measured 8.8 s → 127 s on an unrelated query at
    sf0.1); call this between logically-separate pipeline runs.
    Returns the number of RDDs released."""
    released = release_materialized_since(spark, set())
    # DataFrame-level caches (plans.persist_big) live in the
    # CacheManager, not getPersistentRDDs — clear those too
    spark.catalog.clearCache()
    return released


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Snapshot the ids of currently-persisted RDDs — pair with
    `release_materialized_since` to scope a release to one pipeline's
    own intermediates."""
    return _rdd_ids(spark.sparkContext._jsc.getPersistentRDDs())


def release_materialized_since(spark: SparkSession, before: set[int]) -> int:
    """Unpersist only the RDDs materialized AFTER `before` was
    snapshotted (see `persistent_rdd_ids`). The scoped alternative to
    `clear_materialized` for code that runs INSIDE a live session it
    does not own — e.g. a streaming foreachBatch releasing its own
    trigger's intermediates: clearing everything there would evict
    the caller's materialized frames (localCheckpoint blocks have
    truncated lineage — they cannot be recomputed, so eviction is
    data loss, not just a slowdown) and the whole CacheManager.
    Returns the number of RDDs released.

    SINGLE-WRITER ASSUMPTION: the diff against `before` attributes
    every RDD persisted after the snapshot to the caller. If another
    pipeline persists blocks in the same session concurrently (e.g.
    two streaming queries sharing one SparkSession), those blocks fall
    in the diff and get evicted too — the very localCheckpoint data
    loss this function exists to prevent. Persistence is tracked on
    the shared SparkContext (newSession() does not isolate it), so
    concurrent persisting writers must either serialize their
    release windows or track and unpersist their own DataFrame
    handles explicitly instead of using this diff."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    new_ids = _rdd_ids(jmap) - before
    for k in new_ids:
        jmap[k].unpersist()
    return len(new_ids)


def driver_memory() -> str:
    """PROPIUS_DRIVER_MEM, else half of physical RAM in whole GiB (at
    least 1g, at most 24g), so the default heap never over-commits the
    host it runs on."""
    gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return os.environ.get("PROPIUS_DRIVER_MEM", f"{min(24, max(1, gib // 2))}g")


def get_spark(app_name: str = "propius_spark", cpus: int | None = None) -> SparkSession:
    """The engine's local session (see the module docstring). Static
    confs (the codegen cache size, the driver heap) apply only when
    this call creates the JVM's first session; otherwise getOrCreate
    returns the running session with the static confs it started
    with."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # partitions default to cores (right for the gate/bench SFs), but
    # scale runs MUST size them to ~100-200 MB of shuffle data instead:
    # the sf10 A/B (SCALE.md §8a) measured corr_pairs 258.8 s at 32
    # partitions (300 MB spilling sorts) vs 100.8 s at 256 (~37 MB,
    # in-memory) — same plan, 2.6× from sizing alone. On a cluster this
    # is the standard shuffle.partitions sizing; locally the env var
    # spares a code edit.
    parts = int(os.environ.get("PROPIUS_SHUFFLE_PARTITIONS", "0")) or cpus
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long (we never consume ts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # when a checkpoint dir is configured (plans.materialize's
        # durable mode), let the ContextCleaner delete checkpoint files
        # once their RDDs are GC'd — otherwise repeated pipelines
        # accumulate unbounded checkpoint data on durable storage
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # no `[Stage N:>…]` carriage-return lines on stderr, where they
        # glue themselves onto bench.py's per-query records
        .config("spark.ui.showConsoleProgress", "false")
        # one exact build generates ~110 distinct classes against the
        # 100-entry default; it walks them in the same order every
        # time, so the LRU cache missed cyclically and every warm
        # publish_model recompiled 80 classes (~0.7 s of compile time
        # plus interpreted runs until the JIT warmed up again). At 2000
        # a repeat build compiles 0 classes
        # (tests/test_plans.py::test_repeat_exact_build_compiles_no_code)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # no Python call-site capture (module docstring): F.col took
        # 13 Py4J commands and 1.15 ms of CPU with it, 3 and 0.35 ms
        # without. With this, the array reads above and
        # plans.materialize's early return, a warm perfbench op sends
        # a third of the commands it sent (build_skewed 4477 → 1486,
        # dedup_chains 3973 → 1205)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    # PROPIUS_CHECKPOINT_DIR flips plans.materialize into durable
    # (reliable checkpoint()) mode without a code edit — point it at
    # fault-tolerant storage (hdfs://, s3a://) on a real cluster so
    # materialized tables survive executor loss; unset, materialize
    # uses executor-local blocks (localCheckpoint), right for
    # single-JVM runs. Configuration, not code, because the choice is
    # a deployment property: the same pipeline is correct either way.
    ckdir = os.environ.get("PROPIUS_CHECKPOINT_DIR")
    if ckdir and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(ckdir)
    return spark
