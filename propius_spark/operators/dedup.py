"""Deduplication operators for training-data pipelines
(beyond-reference capability; graded alongside SURVEY.md §2).

Five dedup families over a documents table (id, text):

- exact duplicates         — hash-groupBy on the full text
- n-gram Jaccard near-dup  — all-pairs set similarity over k-token
                             shingles (exact, quadratic in candidates)
- MinHash + LSH near-dup   — shingle → minhash signature → banded
                             bucket join → exact-Jaccard verification;
                             the scale path: only docs sharing a band
                             bucket are ever paired
- SimHash                  — 32-bit sign-fingerprint over tokens;
                             near-dups = small Hamming distance, found
                             via the pigeonhole block join
- embedding cosine         — see operators/ann.py

Shingles are k-token windows of one token array per doc (``_kgrams``);
exact Jaccard's shingle ids are xxhash64 of the token tuple, no string.

Oracle-parity design: every hash is explicit modular arithmetic
(h_i(x) = (a_i·x + b_i) mod 2³¹−1) over shingle ids. The PRODUCTION
default (``id_mode="xxhash"``) codes shingles with xxhash64 — fully
map-side, no dictionary, no sort (a ~2⁻³² collision rate, standard for
minhash). ``id_mode="dict"`` codes them with dense_rank over the
distinct shingles so DuckDB computes bit-equal signatures — the oracle
queries pin it; its dictionary build is a single-task global sort over
distinct shingles, fine at test scale but never the 100 TB default.

Scale notes (100 TB): shingling/hashing are map-side; the only
shuffles are the distinct-shingle dictionary (skippable via xxhash),
the per-(doc, perm) min-aggregation, and the band-bucket join. Hot
buckets (boilerplate docs) skew the bucket join — three independent
bounds: AQE skew handling, the ``max_bucket_size`` cap (drop
pathological buckets, the standard trade documented in MinHash-dedup
literature), and the result-identical ``max_bucket_docs`` sub-split
of every surviving bucket's candidate self-join (the ANN candidate
path's design, see minhash_lsh_pairs).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens
from ..plans import fan_out as _fan_out
from ..plans import bounded_rank, materialize, persist_big

# h_i(x) = (A[i]·x + B[i]) mod P — fixed public parameters so engine
# and oracle agree. P = 2³¹ − 1 (Mersenne prime); products stay < 2⁶³.
MINHASH_PRIME = 2_147_483_647
# dict-mode dictionaries rank on ONE task by design (the oracle replays
# the lexicographic ids); past this bound the plan raises instead of
# silently sorting an unbounded dictionary on a single core — switch
# to id_mode='xxhash' (stateless, no dictionary) at that scale
DICT_RANK_MAX = 10_000_000
# ceiling on waiting for a materialized frame's observed metric (see
# _observed)
OBSERVATION_WAIT_S = 10.0
MINHASH_A = [
    2654435761, 2246822519, 3266489917, 668265263, 374761393, 3141592653,
    2718281829, 1597334677, 2869860233, 1120485391, 2099109841, 1327217885,
    3037000493, 1664525013, 1013904223, 22695477,
]
MINHASH_B = [
    1013904223, 374761393, 668265263, 2246822519, 3266489917, 1597334677,
    22695477, 2654435761, 1120485391, 2869860233, 1327217885, 2099109841,
    1664525013, 3037000493, 2718281829, 3141592653,
]
SIMHASH_BITS = 32


def content_address(text: "F.Column | str"):
    """THE family content address: sha2-256 over coalesce(text, '') —
    one definition for every consumer (exact_dedup's hash mode,
    content_keys, the streaming ingest dedup). The docstrings stake
    cross-boundary agreement ("dedup at ingest, re-dedup in batch")
    on this expression staying bit-identical everywhere; keeping it in
    one place removes the drift surface."""
    col = F.col(text) if isinstance(text, str) else text
    return F.sha2(F.coalesce(col, F.lit("")).cast("binary"), 256)


def exact_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash",
) -> DataFrame:
    """Exact-duplicate groups: one row per distinct text with the
    keeper (min id) and the group size.

    ``key="hash"`` (default, the scale path): the output carries no
    text, so nothing forces the corpus through the shuffle — group on
    the SHA-256 content address instead (map-side, one pass over the
    text). Shuffle keys are 32 bytes regardless of document size, and
    the no-collision assumption is the cryptographic one
    content-addressed stores (git, OCI registries) stand on — it
    holds even for ADVERSARIAL corpora, which web-scale training data
    is. (Two salted xxhash64 lanes were rejected: xxhash64 is
    non-cryptographic and admits seed-independent collisions, so the
    "2⁻¹²⁸ independent lanes" arithmetic doesn't hold against crafted
    documents.) In-group verification would be strictly worse: it is
    exactly the ship-the-duplicate-texts shuffle this mode exists to
    avoid.

    ``key="text"``: raw-text groupBy — the oracle twin (bit-exact by
    construction, no hash assumption); test-scale only.

    Null posture (both modes, and shared with ``content_keys``): NULL
    text normalizes to '' — one dedup family, one identity. Hash mode
    additionally NEEDS it: a NULL key would make every downstream
    key join/anti-join silently drop or re-admit the doc.
    """
    norm = F.coalesce(F.col(text_col), F.lit(""))
    if key == "text":
        grp = [norm]
    elif key == "hash":
        grp = [content_address(F.col(text_col))]
    else:
        raise ValueError(f"exact_dedup: unknown key mode {key!r}")
    return (
        docs.groupBy(*grp)
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keeper_id", "dup_count")
    )


def _kgrams(docs: DataFrame, k: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, t0 … t{k−1}): one row per k-token window of each doc,
    tokenized once after the fan-out. Column tj = slice(toks, j+1, n),
    n = max(size − k + 1, 0), zipped and exploded: fewer than k tokens
    (n = 0) or null text (null array) yields no row, with no filter for
    Catalyst to push below the exchange and no lambda outside codegen."""
    # fan out by doc BEFORE the per-doc map work: a small corpus is one
    # parquet file = one partition, and AQE (coalescing by *bytes*)
    # would fold this compute-bound stage back to one task
    toks = _fan_out(docs, id_col).select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")
    )
    n = F.greatest(F.size("__toks") - (k - 1), F.lit(0))
    win = [F.slice("__toks", j + 1, n).alias(f"t{j}") for j in range(k)]
    return toks.select("doc_id", F.inline(F.arrays_zip(*win)))


def shingles(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    unique: bool = True,
) -> DataFrame:
    """(doc_id, shingle): DISTINCT k-token shingles per document
    (``unique=False`` keeps every occurrence — the multiset view
    repetition analysis needs). Docs with fewer than k tokens produce
    none (excluded from set similarity, matching the standard
    definition)."""
    # the window's k slices run in generated code: 0.30–0.31 s of executor
    # CPU for the distinct shingles of seed-1 dedup_chains (4 vCPU), against
    # 0.63–0.69 s for the transform(sequence(…), i -> concat_ws(…)) lambda
    out = _kgrams(docs, k, id_col, text_col).select(
        "doc_id", F.concat_ws(" ", *(f"t{j}" for j in range(k))).alias("shingle")
    )
    return out.distinct() if unique else out


def _coded(df: DataFrame, col: str, id_col: str, id_mode: str, caller: str) -> DataFrame:
    """``df`` with string column ``col`` replaced by the long id
    ``id_col``. 'xxhash': stateless 64-bit hash reduced into [0, P) so
    minhash's a·id + b stays < 2⁶³ under ANSI overflow checking
    (collision rate ~2⁻³¹, standard for minhash shingle ids; the
    production scale path: no sort, no dictionary). 'dict': dense_rank
    over the distinct values (oracle-comparable; a global sort over the
    *dictionary*, which is ≪ corpus, `bounded_rank`-guarded under
    ``caller``'s name, since the lexicographic rank the oracle replays
    cannot be partitioned without changing the ids). Any other mode
    raises: a typo must not silently run the single-task sort."""
    rest = [c for c in df.columns if c != col]
    if id_mode == "xxhash":
        return df.select(*rest, F.pmod(F.xxhash64(col), F.lit(MINHASH_PRIME)).alias(id_col))
    if id_mode != "dict":
        raise ValueError(f"{caller}: id_mode must be 'xxhash' or 'dict', got {id_mode!r}")
    dict_df = df.select(col).distinct().select(
        col,
        bounded_rank(
            F.dense_rank().over(Window.orderBy(col)).cast("long"),
            DICT_RANK_MAX,
            f"{caller}(id_mode='dict')",
        ).alias(id_col),
    )
    return df.join(dict_df, col).select(*rest, id_col)


def shingle_ids(sh: DataFrame, id_mode: str = "xxhash") -> DataFrame:
    """(doc_id, sid long), coded by ``_coded`` ('xxhash' or 'dict')."""
    return _coded(sh, "shingle", "sid", id_mode, "shingle_ids")


def jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicates: (doc_a, doc_b, jaccard)
    with doc_a < doc_b and jaccard ≥ threshold. The shingle self-join
    emits only pairs sharing ≥1 shingle — sparse, like the Gram join
    in the correlation core (and skew-prone the same way: a shingle
    shared by d docs yields d² join rows; cap or LSH when that bites)."""
    # sid = xxhash64 of the token tuple (no string); the distinct runs on
    # (doc_id, sid): same pairs and counts absent xxhash64 collisions
    # (~2⁻⁶⁴ per shingle pair — the standard trade), far smaller keys.
    # persist_big, NOT materialize: the shingle table is corpus-token
    # cardinality — eager MEMORY_AND_DISK checkpointing would pin
    # ~corpus×k bytes of storage memory, which materialize's own
    # contract forbids. Disk-backed lazy cache serves the two
    # consumers (self-join + per-doc sizes) at shuffle-file I/O cost.
    sh = persist_big(
        _kgrams(docs, k, id_col, text_col)
        .select("doc_id", F.xxhash64(*(f"t{j}" for j in range(k))).alias("sid"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sid")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        a.join(b, "sid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Shared exact-Jaccard tail over an (doc_a, doc_b, inter) table +
    per-doc shingle counts — ONE definition for the exact path and the
    MinHash-LSH verify, so the arithmetic/threshold posture cannot
    drift between them."""
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _check_num_perm(num_perm: int) -> None:
    if num_perm > len(MINHASH_A):
        raise ValueError(f"num_perm ≤ {len(MINHASH_A)} supported")


def minhash_signatures_wide(sids: DataFrame, num_perm: int = 16) -> DataFrame:
    """(doc_id, h0 … h{num_perm−1}): minhash value per permutation —
    the min of h_i over the doc's shingle ids.

    ONE wide aggregation: all permutations are min-ed in the same
    groupBy(doc_id), so the shuffle moves one partially-aggregated row
    per (doc × partition), not num_perm× exploded rows. (The earlier
    explode-then-group form shuffled 16× the corpus; map-side combine
    makes this shape the scale path.)"""
    _check_num_perm(num_perm)
    return sids.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("sid") + F.lit(MINHASH_B[i]))
                % MINHASH_PRIME
            ).alias(f"h{i}")
            for i in range(num_perm)
        ]
    )


def minhash_signatures(sids: DataFrame, num_perm: int = 16) -> DataFrame:
    """(doc_id, perm, h): long-form view of the wide signatures —
    the explode happens AFTER aggregation (doc-cardinality input), so
    it is map-side and cheap."""
    wide = minhash_signatures_wide(sids, num_perm)
    ph = F.array(
        *[
            F.struct(F.lit(i).alias("perm"), F.col(f"h{i}").alias("h"))
            for i in range(num_perm)
        ]
    )
    return wide.select("doc_id", F.explode(ph).alias("p")).select(
        "doc_id", F.col("p.perm").alias("perm"), F.col("p.h").alias("h")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_mode: str = "xxhash",
    max_bucket_size: int | None = None,
    max_bucket_docs: int = 1024,
) -> DataFrame:
    """MinHash-LSH near-duplicates: (doc_a, doc_b, jaccard), doc_a <
    doc_b — candidates from the banded bucket join, then verified with
    the EXACT Jaccard (so precision is exact; recall is the standard
    LSH 1−(1−s^r)^b curve). ``max_bucket_size`` drops hotter buckets
    (boilerplate shingle sets) before the quadratic pair expansion.

    Hot band buckets that SURVIVE (no cap, or under it) are SUB-SPLIT,
    not trusted — the same design as the ANN candidate path
    (``ann._bucketed_dup_pairs``), result-identical by construction: a
    bucket of B docs becomes nb = ceil(B/``max_bucket_docs``)
    sub-blocks, and the candidate self-join runs per (band, sig,
    sub-block-pair) key instead of one (band, sig) key, so one
    boilerplate bucket spreads its B² pair expansion over nb(nb+1)/2
    join groups across the cluster rather than streaming through a
    single task (SCALE.md §8a: replica-collision skew at sf10 is where
    this bites). Each doc is replicated nb+1 times into the join input
    for its bucket — exactly 2 (the old two-sided join) for any bucket
    under the sub-split cap, so the common case pays nothing. The
    candidate SET is unchanged: every within-bucket pair (u, v) meets
    in exactly the sub-block-pair group (min(su, sv), max(su, sv)) —
    the downstream exact-Jaccard verify and every oracle are
    untouched."""
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    if max_bucket_docs < 1:
        # ceil(count/0) is NULL under legacy division (explode drops
        # the row — a dedup that finds nothing) and an ANSI crash
        # otherwise; same guard as ann._bucketed_dup_pairs
        raise ValueError(
            f"max_bucket_docs must be >= 1, got {max_bucket_docs}"
        )
    rows_per_band = num_perm // bands
    sh = shingles(docs, k, id_col, text_col)
    # persist_big, not materialize (corpus-token cardinality — see
    # jaccard_pairs): consumed by the signature build, the per-doc
    # sizes, and the exact-verify intersection join (three branches —
    # uncached, each would re-run shingling)
    sids = persist_big(shingle_ids(sh, id_mode))
    wide = minhash_signatures_wide(sids, num_perm)
    # band signature = the band's h values joined positionally — built
    # from the wide columns with zero extra shuffle (the old long-form
    # collect_list needed a second groupBy)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("sig"),
            )
            for b in range(bands)
        ]
    )
    band_sig = wide.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    )
    # ONE bucket-size pass serves both the drop cap and the sub-split
    # sizing (the cap filter keeps whole buckets, so the pre-filter
    # count IS the post-filter count) — as a count WINDOW over
    # partitionBy(band, sig), not a groupBy + self-join back: the
    # aggregate's partial-agg exchange and the join-side exchange have
    # different subplans, so the banded table would shuffle TWICE on
    # the same key plus a join, replayed once per candidate join side.
    # The checkpoint sits on the post-cap post-split sub_rows, so each
    # candidate join side is a narrow explode over checkpoint blocks
    # and the signature pipeline runs once.
    wband = Window.partitionBy("band", "sig")
    sized = band_sig.withColumn("_bs", F.count(F.lit(1)).over(wband))
    if max_bucket_size is not None:
        sized = sized.filter(F.col("_bs") <= max_bucket_size)
    # sub-split the surviving buckets (docstring): nb sub-blocks per
    # bucket, candidate join keyed on (band, sig, pa, pb). A doc in
    # sub-block s enters side A for every group (s, j ≥ s) and side B
    # for every (j ≤ s, s) — each unordered within-bucket pair meets
    # in exactly one group. The cap (when set) dropped its buckets'
    # rows above, so they never reach the join input.
    sub_rows = materialize(
        sized.withColumn(
            "nb", F.ceil(F.col("_bs") / max_bucket_docs).cast("int")
        )
        .withColumn(
            "sub", F.pmod(F.xxhash64("doc_id"), F.col("nb")).cast("int")
        )
        .drop("_bs")
    )
    ba = sub_rows.select(
        "band",
        "sig",
        F.col("sub").alias("pa"),
        F.explode(F.sequence(F.col("sub"), F.col("nb") - 1)).alias("pb"),
        F.col("doc_id").alias("doc_a"),
    )
    bb = sub_rows.select(
        "band",
        "sig",
        F.explode(F.sequence(F.lit(0), F.col("sub"))).alias("pa"),
        F.col("sub").alias("pb"),
        F.col("doc_id").alias("doc_b"),
    )
    # orient AFTER the join with least/greatest, not a doc_a < doc_b
    # filter: unlike the old two-sided bucket join, a doc reaches the
    # A side only for its own sub-block's groups, so a cross-block
    # pair appears in ONE orientation — determined by sub-block order,
    # which is independent of id order — and an id-order filter would
    # drop roughly half the cross-block pairs
    cand = (
        ba.join(bb, ["band", "sig", "pa", "pb"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    # exact verification over the candidate pairs only
    sizes = sids.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ia = sids.select(F.col("doc_id").alias("doc_a"), "sid")
    ib = sids.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        cand.join(ia, "doc_a")
        .join(ib, ["doc_b", "sid"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


def _observed(df: DataFrame, agg):
    """Attach ONE exact-integer aggregate to `df` as observed metrics,
    so the value rides the action that materializes the frame — a
    separate probe would be one whole scheduled job. Only exact-integer,
    order-invariant aggregates belong here (count, max of an int): the
    metrics accumulator merges partials in task-completion order, and
    the float-summing probes elsewhere (correlation._global_scalars)
    would become nondeterministic this way. Returns (observed_df, get);
    get() yields the value once the frame has been materialized (count
    of an empty frame is 0, max is None).

    get() never blocks unbounded: ``Observation.get`` waits on the JVM
    with no timeout, so an action that never registered the metrics
    would hang the caller. Spark sets the metrics from a
    query-execution listener on the listener bus — possibly just
    after the action returned — so get() polls ``getRowOrEmpty``
    (≤ 100 ms per call) up to ``OBSERVATION_WAIT_S`` and then raises.
    The value is read by position: the JVM row carries no schema."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, agg.alias("x"))

    def get():
        deadline = time.monotonic() + OBSERVATION_WAIT_S
        row = obs._jo.getRowOrEmpty()
        while row.isEmpty():
            if time.monotonic() >= deadline:
                raise RuntimeError(
                    "no observed metrics after "
                    f"{OBSERVATION_WAIT_S:g} s (the observed frame was "
                    "never materialized)"
                )
            row = obs._jo.getRowOrEmpty()
        return row.get().get(0)

    return observed, get


def dup_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    pairs_unique: bool = False,
) -> DataFrame:
    """Connected components of the near-dup pair graph:
    (doc_id, cluster_id) for every doc appearing in `pairs`, where
    cluster_id = the smallest doc id in the component (so transitive
    near-dups — a~b, b~c — land in one cluster even when a,c were
    never paired directly).

    Alternating large-star / small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"): each round is two
    min-per-key passes over the pair-cardinality edge set and the
    edge set converges to stars in O(log² n) rounds — never O(diameter)
    like naive label propagation, and never a driver-side union-find.
    Each round materializes (lineage truncation; see plans.materialize)
    so the loop's plan depth stays constant.

    Convergence is PROVED, not inferred from evidence. Every edge
    points down (u > v) from the first round on, and a downward edge
    set is a min-rooted star forest — a fixed point of the round map —
    exactly when no node has both a smaller neighbor and more than one
    neighbor. Large-star's window over the undirected neighbor table
    already holds each node's raw min(v); count(v) rides the same
    window, so each round observes max(violation) over its OWN input
    with no extra exchange or job. A max of 0 proves that input a star
    forest and the loop keeps it. max is exact, order-invariant and
    idempotent, so task retries, speculative attempts and the doubled
    observation node (small-star reads its input twice) cannot move
    it. ``max_iter`` (≥ 1) bounds the rounds; a round that cannot
    prove its input converged and is the last raises RuntimeError.

    ``pairs_unique``: the caller guarantees `pairs` holds each
    unordered pair at most once (e.g. the output of a pair-keyed
    groupBy, or the block kernel's strict upper triangle) — the
    canonicalizing ``distinct()`` is then skipped, saving a full
    shuffle of the pair table inside the first materialize (both
    declared cluster queries qualify). Duplicates under a false
    claim would only cost the first round extra bytes (its min-
    aggregates and distinct absorb them), never wrong results.
    """
    if max_iter < 1:
        raise ValueError(f"dup_clusters: max_iter must be >= 1, got {max_iter}")
    # canonical orientation: u > v (edge points from node to a smaller
    # neighbor); self-pairs dropped
    e = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.least(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    if not pairs_unique:
        e = e.distinct()
    # violated() is nonzero until the edge set is proven a star forest:
    # first the edge count (the empty set is one, and must skip the
    # loop — AQE prunes a round's observation over an empty stage),
    # then each round's max violation over its own input
    observed, violated = _observed(e, F.count(F.lit(1)))
    e = materialize(observed)
    # Each star operation attaches the group minimum to every row of
    # its u-group with ONE exchange per star — a min window over
    # partitionBy(u), the Kiveris reduce-per-key formulation. A
    # groupBy + join-back form would shuffle the SAME edge table twice
    # per star (the partial-agg exchange and the join-side exchange
    # have different subplans, so exchange reuse never applies). Per
    # round: 3 exchanges, 0 joins. A hub node's group sorts
    # (spillably) in one window task — and each round exists precisely
    # to dismantle hubs.
    wu = Window.partitionBy("u")
    for _ in range(max_iter if violated() else 0):
        # large-star: for each u, connect every LARGER neighbor v to
        # m = min(N(u) ∪ {u}). The proof reads the raw min(v), before
        # the least(…, u): a node violates the star-forest shape when it
        # has a smaller neighbor and any second neighbor.
        nbrs, violated = _observed(
            e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .withColumn("mn", F.min("v").over(wu))
            .withColumn("deg", F.count("v").over(wu)),
            F.max(((F.col("mn") < F.col("u")) & (F.col("deg") > 1)).cast("int")),
        )
        large = (
            nbrs.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least("mn", "u").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star over large's (all-downward) edge set: connect
        # every smaller neighbor AND u itself to m = min(N⁻(u)). The
        # (u, m) self-rows are emitted once per EDGE; the duplicates
        # sit inside their window partition, so the final distinct's
        # map-side partial removes them before its shuffle.
        lw = large.withColumn("m", F.min("v").over(wu))
        small = (
            lw.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(lw.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e_next = materialize(small)
        if not violated():
            break
        e = e_next
    if violated():
        raise RuntimeError(f"dup_clusters did not converge in {max_iter} rounds")
    # converged edge set is a star forest: (node, root). Roots appear
    # only on the v side and label themselves.
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(roots).distinct()


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    pairs_unique: bool = False,
) -> DataFrame:
    """Cluster assignment + keeper selection over the full corpus:
    (doc_id, cluster_id, is_keeper). Docs in no pair are their own
    singleton cluster; the keeper of each cluster is its smallest doc
    id (deterministic — swap in any scoring join for quality-based
    keeper selection). Training-pipeline use: filter is_keeper to drop
    near-duplicates. The cluster map is doc-cardinality, so the final
    join broadcasts when the corpus dwarfs its duplicate set.
    ``pairs_unique`` forwards to dup_clusters (skip the canonicalizing
    distinct when the pair table is born unique)."""
    cl = dup_clusters(pairs, src, dst, pairs_unique=pairs_unique)
    out = docs.select(F.col(id_col).cast("long").alias("doc_id")).join(
        cl, "doc_id", "left"
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_keeper"),
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_mode: str = "xxhash",
) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash over unigram tokens weighted
    by occurrence count. bit b of h(token_id) contributes ±count to
    lane b; simhash = Σ 2^b over non-negative lanes. All modular/bit
    arithmetic — DuckDB computes the identical value in dict mode."""
    toks = (
        # fan out by doc first — same single-input-partition trap as
        # `shingles` (tokenization would otherwise run on one core)
        _fan_out(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    coded = _coded(toks, "tok", "tid", id_mode, "simhash")
    # TWO hash lanes, 16 live bits each: a single (a·tid+b) mod 2³¹−1
    # value is always < 2³¹, so its bit 31 is structurally 0 and a
    # 32-lane extraction from one value would leave the top lane dead
    # (every signature bit 31 = 0 ⇒ the pigeonhole block covering it
    # collides ~2× more than designed). Low 16 bits of each value are
    # used; both are plain modular arithmetic the oracle replicates.
    hv1 = (F.lit(MINHASH_A[0]) * F.col("tid") + F.lit(MINHASH_B[0])) % MINHASH_PRIME
    hv2 = (F.lit(MINHASH_A[1]) * F.col("tid") + F.lit(MINHASH_B[1])) % MINHASH_PRIME
    # all 32 lanes in ONE wide aggregation (map-side combine; the
    # explode-per-bit form shuffled 32× the token rows), then fold the
    # lane signs back into the signature with literal shifts
    half = SIMHASH_BITS // 2
    lanes = coded.select(
        "doc_id", "cnt", hv1.alias("hv1"), hv2.alias("hv2")
    ).groupBy("doc_id").agg(
        *[
            F.sum(
                (
                    F.shiftright(
                        F.col("hv1" if b < half else "hv2"),
                        b if b < half else b - half,
                    ).bitwiseAND(F.lit(1))
                    * 2
                    - 1
                )
                * F.col("cnt")
            ).alias(f"lane{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"lane{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return lanes.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    id_mode: str = "xxhash",
) -> DataFrame:
    """(doc_a, doc_b, hamming) with hamming ≤ max_hamming, via the
    pigeonhole block join: split the 32-bit signature into
    max_hamming+1 blocks — any pair within the radius shares at least
    one exact block, so only block-bucket collisions are ever paired
    (never an all-pairs product)."""
    nblocks = max_hamming + 1
    width = SIMHASH_BITS // nblocks + (1 if SIMHASH_BITS % nblocks else 0)
    # doc-cardinality; consumed by both sides of the block self-join
    sig = materialize(simhash(docs, id_col, text_col, id_mode))
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(nblocks - 1))).alias("blk"),
    ).select(
        "doc_id",
        "simhash",
        "blk",
        F.expr(f"shiftright(simhash, blk * {width})")
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias("blkval"),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "blk", "blkval"
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "blk", "blkval"
    )
    cand = (
        a.join(b, ["blk", "blkval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def content_keys(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, content_key): the SHA-256 content address of each
    document's text — the unit of exact identity the incremental and
    exact dedups share (see exact_dedup's docstring for why a
    cryptographic key, not xxhash lanes). Map-side; the key is what
    an ingest pipeline APPENDS to its seen-store after each batch.

    NULL text normalizes to the empty string before hashing, so the
    key is never NULL: a NULL key would silently break every consumer
    (anti-joins never match NULL, so a null-text doc re-emits as
    "fresh" forever; inner joins on the key drop the doc outright)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        content_address(F.col(text_col)).alias("content_key"),
    )


def dedup_against(
    docs: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keys: DataFrame | None = None,
) -> DataFrame:
    """Incremental (snapshot-over-snapshot) exact dedup: the docs
    whose content was NOT in ``seen`` — a DataFrame of content keys
    from previous batches, either 1 column or carrying a
    ``content_key`` column (``content_keys`` output works as-is; at
    scale a parquet table appended per ingest batch). Returns
    (doc_id, content_key) of the fresh docs; join back to the corpus
    for the full rows, and union the keys into the store.

    Within-batch duplicates are NOT collapsed here (two new docs with
    identical text both survive) — compose with ``exact_dedup`` for
    that; this operator answers only "seen before?".

    ``keys``: optional precomputed ``content_keys(docs)`` output. The
    common ingest shape hashes the batch once and uses the keys twice
    (anti-join here, then append to the store) — pass the shared
    (persisted) frame so the corpus hash pass isn't replayed.

    Scale shape: one map-side hash pass over the new batch, one
    left_anti join on 32-byte keys — the corpus text never shuffles,
    and the seen-store side carries keys only. The anti-join shuffles
    both KEY tables; when the store dwarfs the batch, pre-bucket the
    store on content_key so only the batch side moves."""
    if "content_key" in seen.columns:
        seen_col = "content_key"
    elif len(seen.columns) == 1:
        seen_col = seen.columns[0]
    else:
        raise ValueError(
            "dedup_against: seen must have a content_key column or "
            f"exactly one column, got {seen.columns}"
        )
    # dtype check on WHICHEVER branch chose the column: a non-string
    # store column (e.g. a legacy long-hash table that happens to be
    # named content_key) would cast the hex keys to NULL in the
    # anti-join and report EVERY doc as fresh
    dt = seen.schema[seen_col].dataType.simpleString()
    if dt != "string":
        raise ValueError(
            f"dedup_against: seen's key column {seen_col!r} is {dt}, "
            "expected string content keys"
        )
    if keys is None:
        keys = content_keys(docs, id_col, text_col)
    return keys.join(
        seen.select(F.col(seen_col).alias("content_key")),
        "content_key",
        "left_anti",
    ).select("doc_id", "content_key")
