"""Randomized cross-engine parity over the documents-only queries.

Round 4's one red driver row (token_estimates) was a divergence the
gate replica could not see: engine and oracle agreed on the LOCAL
sf0.01 data and disagreed on the driver's regenerated data. This
module is the structural answer — run the PRODUCTION queries() entries
and their verbatim oracle_sql() twins over a seeded HOSTILE corpus
(cross-engine-divergence-prone unicode, NULL/empty/whitespace-only
text, NULL group keys, exact and near duplicates), so data-dependent
engine/oracle drift fails locally before any driver run.

Deterministic (fixed seed): reproducible failures, no flaky CI. The
corpus is small (~160 docs) so the whole parametrized sweep stays in
test-suite budget.

Seed-robustness mode: set PROPIUS_FUZZ_SEED_SHIFT=<int> to regenerate
every hostile corpus under shifted seeds and re-run the full sweep —
the committed probe that twice confirmed 71/71 green on reseeded data
(history/ROUND4.md session-close note). Default 0 keeps the committed sweep
byte-deterministic; the hand-placed boundary rows (epoch-exact times,
singleton payloads, ±Inf vectors, hostile keys) are seed-independent,
so every pinned edge case survives any shift.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
import __spark_entry__ as entrymod  # noqa: E402
from gate_compare import compare  # noqa: E402  (the ONE engine-oracle compare)

# 0 = the committed deterministic corpora; any other value reseeds all
# four generators for a robustness sweep (module docstring)
SEED_SHIFT = int(os.environ.get("PROPIUS_FUZZ_SEED_SHIFT", "0"))

# documents-table queries: the text-content surface (cross-engine
# regex/collation/float divergence) PLUS the key-arithmetic surface
# (sampling/shard/split queries) — the corpus carries negative and
# huge doc_ids, where Spark's pmod and a bare SQL `%` (sign of
# dividend in DuckDB) silently part ways.
FUZZ_QUERIES = [
    "split_corpus",
    "weighted_sample_docs",
    "shuffle_shards_docs",
    "mix_sources_docs",
    "cap_per_source",
    "dedup_incremental",
    "dedup_lsh_capped",
    "dedup_lsh_cap_drop",
    "token_estimates",
    # corpus-independent (fixed hostile literal), but the parity run
    # pins the engine-range vs oracle-fold agreement on every sweep
    "diag_tokenizer",
    "text_doc_stats",
    "corpus_filter",
    "vocabulary",
    "corpus_summary",
    "chunk_docs",
    "pack_docs",
    "redact_docs",
    "dedup_exact",
    "dedup_jaccard",
    "dedup_simhash",
    "doc_repetition",
    "split_leakage_free",
    "decontam_docs",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "posting_lists",
    "bm25_search",
    "tfidf_docs",
    "token_distribution",
    "pipeline_prepare",
    "multimodal_meta",
    "multimodal_decode",
    "multimodal_dup_pairs",
    "multimodal_resize",
    "multimodal_frames",
    "multimodal_search",
]

WORDS = [
    "the", "cat", "sat", "mat", "spark", "table", "row", "scan", "fast",
    "der", "und", "ist", "von", "katze", "el", "los", "una", "por",
    "straße", "STRAẞE", "İstanbul", "café", "café", "ΟΔΟΣ", "οδος",
    "数据", "引擎", "naïve", "Ǆungla",
]
HOSTILE_SEPS = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r", " ",
                "　", " \x0b ", "\n\n"]
PII = ["a@b.co", "https://x.io/p?q=1", "+1 (555) 123-4567"]


def _hostile_corpus() -> list[tuple]:
    rng = random.Random(0x5EED4 + SEED_SHIFT)
    docs: list[tuple] = []

    def text(n_words: int) -> str:
        parts = []
        for i in range(n_words):
            parts.append(rng.choice(WORDS))
            if rng.random() < 0.05:
                parts.append(rng.choice(PII))
        out = ""
        for p in parts:
            out += p + rng.choice(HOSTILE_SEPS)
        return out

    i = 0
    for _ in range(100):
        docs.append((i, text(rng.randrange(0, 60)), None, f"src{i % 3}"))
        i += 1
    # exact duplicates (dedup families + leakage-free splits)
    for j in range(0, 30, 3):
        docs.append((i, docs[j][1], "en", f"src{i % 3}"))
        i += 1
    # near duplicates: perturb one word
    for j in range(1, 30, 3):
        base = docs[j][1]
        docs.append((i, base + " extra", "de", f"src{i % 3}"))
        i += 1
    # degenerate rows
    for t in (None, "", "   ", "\x0b", " ", "\n\t\r"):
        docs.append((i, t, None if i % 2 else "en", f"src{i % 3}"))
        i += 1
    # hostile KEYS: negative and huge doc_ids (hashed-id pipelines) —
    # the LCG/bucket/shard arithmetic must agree between Spark's pmod
    # and the oracle's spelled-out modulus on the full signed-64 domain
    for k in (-7, -1, -(2**61) - 9, 2**61 + 3, 2**62 + 11):
        docs.append((k, text(10), "en", f"src{abs(k) % 3}"))
    return [
        (d[0], d[1], d[2], d[3], len(d[1]) if d[1] is not None else None)
        for d in docs
    ]


def _write_single_parquet(df, out_dir: Path, name: str) -> None:
    """Write a table as ONE parquet FILE named like the driver's
    testdata (`events.parquet` is a file, not a Spark directory):
    the streaming queries watch the sf dir with a pathGlobFilter on
    the table name, which matches LEAF FILE names — a Spark-written
    directory's part-*.parquet leaves match nothing and the stream
    silently reads zero rows (found by the streaming fuzz sweep).
    The bytes stay Spark-written (the gate reads Spark-written
    parquet; a pandas round-trip coerces nullable ints)."""
    tmp = out_dir / f"__{name}.tmp"
    df.coalesce(1).write.parquet(str(tmp))
    part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
    part.rename(out_dir / name)
    shutil.rmtree(tmp)


@pytest.fixture(scope="module")
def fuzz_sf_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("fuzz_sf")
    rows = _hostile_corpus()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(out / "documents.parquet"))
    return str(out), rows


@pytest.fixture(scope="module")
def fuzz_ddb(fuzz_sf_dir):
    sf_dir, _ = fuzz_sf_dir
    con = duckdb.connect()
    # read the EXACT parquet the Spark side reads (what the driver's
    # gate does): a pandas round-trip coerces nullable int columns to
    # float64, which the shared compare's type check rightly rejects
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con


def _assert_parity(spark, con, name, sf_dir):
    """Run the production query + verbatim oracle and compare through
    the SAME canonicalization the gate replica uses (scripts/
    gate_compare — incl. the python-type check the old local copies
    lacked: a type-only drift passes value equality but fails the
    driver's hash)."""
    sdf = entrymod.queries()[name](spark, sf_dir)
    scols = list(sdf.columns)
    srows = [tuple(r) for r in sdf.collect()]
    ores = con.execute(entrymod.oracle_sql()[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    fails = compare(name, scols, srows, ocols, orows)
    assert not fails, fails


@pytest.mark.parametrize("name", FUZZ_QUERIES)
def test_fuzz_query_matches_oracle(spark, fuzz_sf_dir, fuzz_ddb, name):
    sf_dir, _ = fuzz_sf_dir
    _assert_parity(spark, fuzz_ddb, name, sf_dir)


# ---------------------------------------------------------------- events

EVENT_QUERIES = [
    "sessionize_events",
    "windowed_event_counts",
    "asof_click_purchase",
    "funnel_events",
    "cohort_retention",
    "rolling_user_counts",
    "events_props_rollup",
    "sample_events_stratified",
    "similar_candidates_events",
    "similar_topk_per_item",
    # the model CSV/npy round trips run over the same events fixture
    # (occurrences_from_events → corr), so hostile users/types flow
    # through the persisted-matrix path too
    "model_roundtrip",
    "model_roundtrip_npy",
    # streaming twins: the applyInPandasWithState / watermark /
    # dropDuplicatesWithinWatermark code paths are DISTINCT from their
    # batch siblings — hostile times (null, pre-epoch, ties) must not
    # diverge from the batch-derived oracles
    "streaming_sessions",
    "streaming_windowed_counts",
    "streaming_dedup",
]


def _hostile_events() -> list[tuple]:
    from datetime import datetime, timedelta

    rng = random.Random(0xE7E275 + SEED_SHIFT)
    t0 = datetime(2024, 5, 1)
    types = ["click", "view", "purchase", None]
    props = [
        '{"k": 4}', '{"k": "abc"}', '{"k": {"x": 1}}', '{"j": 1}',
        "not json", None, '{"k": -2}',
    ]
    rows = []
    eid = 0
    for _ in range(350):
        user = rng.choice([None] + list(range(1, 21)))
        ts = rng.choice(
            [
                None,
                t0 + timedelta(minutes=rng.randrange(0, 5000)),
                # pre-epoch: the cohort floor-division edge
                datetime(1969, 12, 30) + timedelta(hours=rng.randrange(0, 96)),
                # exact hour boundary (tumbling-window edge)
                t0 + timedelta(hours=rng.randrange(0, 80)),
            ]
        )
        rows.append(
            (
                eid,
                ts,
                user,
                rng.choice(types),
                rng.choice([None, 0.0, 1.5, -3.25, 100.0]),
                rng.choice(props),
            )
        )
        eid += 1
    # duplicate timestamps per user (tie-handling)
    base = t0 + timedelta(minutes=7)
    for u in (1, 2):
        for _ in range(4):
            rows.append((eid, base, u, "click", 1.0, None))
            eid += 1
    # hostile KEYS: negative/huge event_ids (the stratified-sample LCG
    # key) and a huge user_id (grouping/window key)
    rows.append((-13, base, 3, "click", 2.0, None))
    rows.append((-(2**61) - 3, base, 4, "view", 0.5, '{"k": 9}'))
    rows.append((2**61 + 7, base, 2**60 + 1, "purchase", 7.25, None))
    # the epoch boundary EXACTLY: Spark's event-time watermark starts
    # at 0, so t = −1µs is permanently late in every watermarked
    # stateful operator while t = 0 survives windowed aggregation
    # (drop is on window END <= wm) but NOT the row-level ts <= wm
    # operators — these rows pin each oracle's initial-watermark
    # exclusion at the boundary
    epoch = datetime(1970, 1, 1)
    rows.append((9001, epoch, 19, "click", 1.0, None))
    rows.append((9002, epoch - timedelta(microseconds=1), 19, "click", 1.0, None))
    # SINGLETON payloads for streaming_dedup: each props value below
    # appears on exactly one row, so the emitted distinct-payload set
    # discriminates the drop boundary (a shared payload would survive
    # via its post-epoch twin and mask the divergence)
    rows.append((9003, epoch - timedelta(microseconds=1), 20, "click", 1.0, '{"pre_epoch_only": 1}'))
    rows.append((9004, epoch, 20, "click", 1.0, '{"epoch_zero_only": 1}'))
    rows.append((9005, None, 20, "click", 1.0, '{"null_ts_only": 1}'))
    # watermark-EXACTLY-on-window-end boundary (seed-independent): the
    # corpus max is pinned at t0 + 84h10m — 10 min past an hour, past
    # every random row (minute lane caps at 4999 min = 83h19m, hour
    # lane at 79h) — so the final watermark lands EXACTLY on the end
    # of [t0+83h, t0+84h), which the 83h30m row populates. Spark's
    # append-mode emission is window_end <= wm INCLUSIVE; the strict-<
    # oracle this pins against was a 10th-seed fuzz find (emitted one
    # fewer window whenever max ≡ 10 min mod 1 h — ~1 seed in 60 on
    # minute-granularity times)
    rows.append((9101, t0 + timedelta(hours=83, minutes=30), 7, "view", 1.0, None))
    rows.append((9102, t0 + timedelta(hours=84, minutes=10), 7, "view", 1.0, None))
    # NaN/Inf value doubles (aggregate/asof payloads — both engines
    # propagate them identically through SUM/AVG/round; pinned here)
    t1 = t0 + timedelta(days=1)
    rows.append((8001, t1, 5, "purchase", float("nan"), None))
    rows.append((8002, t1, 6, "purchase", float("inf"), None))
    rows.append((8003, t1, 6, "click", float("-inf"), None))
    return rows


@pytest.fixture(scope="module")
def fuzz_events_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("fuzz_ev")
    rows = _hostile_events()
    _write_single_parquet(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ),
        out,
        "events.parquet",
    )
    return str(out), rows


@pytest.fixture(scope="module")
def fuzz_events_ddb(fuzz_events_dir):
    sf_dir, _ = fuzz_events_dir
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    return con


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_fuzz_events_query_matches_oracle(
    spark, fuzz_events_dir, fuzz_events_ddb, name
):
    sf_dir, _ = fuzz_events_dir
    _assert_parity(spark, fuzz_events_ddb, name, sf_dir)


# ------------------------------------------------------------- embeddings

ANN_QUERIES = [
    "ann_cosine_topk",
    "ann_dup_pairs",
    "ann_dup_pairs_pruned",
    "ann_dup_clusters",
    "ann_ivf_topk",
    "ann_knn_join",
    "ann_ivf_knn_join",
    "ann_dup_pairs_lsh",
    "ann_lsh_topk",
    "ann_dup_pairs_trained",
]


def _hostile_embeddings(dim: int = 64) -> list[tuple]:
    """Vectors with every degenerate shape the family claims to
    exclude identically in both engines: zero-norm, NaN components
    (one INSIDE the seed-centroid id range), NULL embeddings, and
    ±Inf components (Inf norm passes a NaN-only check, its NaN
    cosines pass DuckDB's `NaN >= τ`, its normalized features crash
    MLlib, and an Inf seed is a dead centroid displacing a valid one).
    Ragged widths are NOT here: both engines refuse them loudly (the
    kernels raise a clear error, DuckDB's list_dot_product errors) —
    rectangular input is the documented contract, pinned by
    test_kernels_reject_ragged_embeddings; the LSH pair has defined
    width semantics of its own (engine nulls mismatched dots, oracle
    filters len(v) = dim), exercised in the LSH unit tests."""
    rng = random.Random(0xE3B + SEED_SHIFT)
    rows = []
    for i in range(60):
        if i == 2:
            v = [0.0] * dim  # zero norm
        elif i in (3, 7):  # 7 is inside the vec_id < 8 centroid range
            v = [float("nan")] + [0.1] * (dim - 1)
        elif i == 5:
            v = None  # NULL embedding
        else:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, v, i % 3))
    # near-duplicate pairs so the dup families have real answers
    for j in range(10, 20):
        base = rows[j][1]
        rows.append((60 + j, [x + 0.001 for x in base], j % 3))
    # ±Inf components (one pair-capable, one inside nothing): norms
    # are +Inf (passes `NOT isnan`) or NaN (mixed signs) — excluded
    # as degenerate by BOTH engines (isfinite posture)
    rows.append((90, [float("inf")] + [0.1] * (dim - 1), 0))
    rows.append((91, [float("-inf")] + [0.2] * (dim - 1), 1))
    rows.append((92, [float("inf"), float("-inf")] + [0.3] * (dim - 2), 2))
    return rows


@pytest.fixture(scope="module")
def fuzz_emb_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("fuzz_emb")
    rows = _hostile_embeddings()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(out / "embeddings.parquet"))
    return str(out), rows


@pytest.fixture(scope="module")
def fuzz_emb_ddb(fuzz_emb_dir):
    sf_dir, _ = fuzz_emb_dir
    con = duckdb.connect()
    # read the EXACT parquet the Spark side reads (what the driver's
    # gate does) — a pandas round-trip coerces in-list NaN to NULL
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet/*.parquet')"
    )
    chk = con.execute(
        "SELECT isnan(embedding[1]) FROM embeddings WHERE vec_id = 3"
    ).fetchone()[0]
    assert chk is True
    return con


@pytest.mark.parametrize("name", ANN_QUERIES)
def test_fuzz_ann_query_matches_oracle(spark, fuzz_emb_dir, fuzz_emb_ddb, name):
    sf_dir, _ = fuzz_emb_dir
    _assert_parity(spark, fuzz_emb_ddb, name, sf_dir)


# ---------------------------------------------------------- lineitem/part

# The correlation-model core + publish/serving family, over a hostile
# occurrence log and item dictionary: NULL context/item/supplier keys,
# duplicate lineitems (cnt > 1 cells), a hot context holding every
# item, single-item contexts, an item in exactly one context, a
# zero-variance item (den² = 0 exclusion parity), duplicate part
# names (publication min-id dedup), NULL/empty part names, and
# case-fold-hostile names (İ/ẞ/NBSP) through the search path.
LINEITEM_QUERIES = [
    "corr_pairs_parts",
    "corr_pairs_capped",
    "corr_pairs_cap_drop",
    "corr_pairs_cross_set",
    "similar_one_part",
    "similar_exact_parts",
    "retrieve_topk_part",
    "retrieve_topk_batch",
    "publish_retrieve",
    "item_info",
    "search_items",
    "db_stats",
    "streaming_cells",
]


def _hostile_lineitem() -> list[tuple]:
    rng = random.Random(0x11E111 + SEED_SHIFT)
    rows: list[tuple] = []
    # 28 ordinary orders over items 0..19; ~25% duplicated lines
    for o in range(28):
        for it in rng.sample(range(20), rng.randrange(2, 7)):
            rows.append((o, it, rng.randrange(8)))
            if rng.random() < 0.25:
                rows.append((o, it, rng.randrange(8)))
    # flagship items 1..3 co-occur across several orders
    for o in range(0, 14, 2):
        rows += [(o, 1, 0), (o, 2, 1)]
    for o in range(1, 14, 4):
        rows.append((o, 3, 2))
    rows += [(100, it, it % 8) for it in range(20)]  # hot order: all items
    rows.append((101, 5, 0))  # single-item order
    rows.append((102, 30, 1))  # item in exactly one order
    # zero-variance item: exactly once in EVERY non-null context that
    # will exist → n·q − s² = 0, excluded by den² > 0 in both engines
    all_orders = sorted({r[0] for r in rows} | {103, 104})
    rows += [(o, 31, 3) for o in all_orders]
    # null keys
    rows.append((None, 4, 0))  # null context
    rows.append((103, None, 1))  # null item
    rows.append((None, None, None))
    rows.append((104, 6, None))  # null supplier (cross-set vstack)
    return rows


def _hostile_parts() -> list[tuple]:
    names: dict[int, str | None] = {
        0: "plain widget base",
        1: "WIDGET flagship",
        2: "Widget runner-up",
        3: "wIdGeT third",
        4: "WİDGET dotted capital",  # İ: JVM vs utf8proc lower()
        5: "w idget nbsp",
        6: None,  # null name; co-occurs with the flagship item
        7: None,  # second null-name part
        8: "STRAẞE widget ẞ",  # capital sharp s
        9: "gadget ς final sigma",
        10: "super-widgetry compound",
        11: "duplicate name",
        12: "duplicate name",  # same name, two ids → min-id dedup
        13: "",
        14: "  widget padded  ",
        15: "Ǆungla widget",  # title-case digraph DŽ
        16: "widget\nnewline",
        17: 'widget "quoted", comma',
        18: "数据 widget 引擎",
        # 19 deliberately MISSING: a fact item with no dim row
        30: "one-order widget",
        31: "constant item",
        42: "the info item 42",
    }
    for k in range(50, 56):  # dim-only rows, no facts
        names[k] = f"spare part {k}"
    return sorted(names.items())


@pytest.fixture(scope="module")
def fuzz_li_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("fuzz_li")
    _write_single_parquet(
        spark.createDataFrame(
            _hostile_lineitem(),
            "l_orderkey long, l_partkey long, l_suppkey long",
        ),
        out,
        "lineitem.parquet",
    )
    _write_single_parquet(
        spark.createDataFrame(_hostile_parts(), "p_partkey long, p_name string"),
        out,
        "part.parquet",
    )
    return str(out)


@pytest.fixture(scope="module")
def fuzz_li_ddb(fuzz_li_dir):
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{fuzz_li_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", LINEITEM_QUERIES)
def test_fuzz_lineitem_query_matches_oracle(spark, fuzz_li_dir, fuzz_li_ddb, name):
    _assert_parity(spark, fuzz_li_ddb, name, fuzz_li_dir)


def test_fuzz_net_covers_every_declared_query():
    """The four hand-maintained suite lists must partition queries()
    EXACTLY: a new queries() entry that joins no fuzz suite would
    silently skip the hostile-corpus net (the round-4 red row was
    precisely a query whose hostile behavior nothing exercised), and
    a stale name here would fuzz nothing."""
    suites = [FUZZ_QUERIES, EVENT_QUERIES, LINEITEM_QUERIES, ANN_QUERIES]
    fuzzed = [n for s in suites for n in s]
    assert len(fuzzed) == len(set(fuzzed)), "duplicate fuzz entries"
    declared = set(entrymod.queries())
    assert set(fuzzed) == declared, (
        sorted(declared - set(fuzzed)),
        sorted(set(fuzzed) - declared),
    )
