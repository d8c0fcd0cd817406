"""Unit tests of the benchmark's pure parts (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pytest

import checks
import gen
import host
from tracing import rollup


def _stage(submit, complete, **kw):
    base = {"tasks": 4, "run_ms": 100, "cpu_ns": 2e8, "shuffle_write_bytes": 1e6,
            "spill_bytes": 0, "gc_ms": 10, "input_records": 0}
    return {"submit_ms": submit, "complete_ms": complete, **base, **kw}


def test_rollup_gap_is_wall_not_covered_by_stages():
    spans = [{"name": "gram", "group": "g0", "start_ms": 0.0, "end_ms": 1000.0}]
    jobs = [{"group": "g0", "job_id": 1, "stage_ids": [1, 2]},
            {"group": "g0", "job_id": 2, "stage_ids": [3]}]
    # stages 1 and 2 overlap (100..400 ∪ 300..500 = 400 ms), stage 3 runs
    # 700..800: 500 ms covered of a 1000 ms span
    stages = {1: _stage(100, 400), 2: _stage(300, 500), 3: _stage(700, 800)}
    m = rollup(spans, jobs, stages)["gram"]
    assert m["wall_s"] == pytest.approx(1.0)
    assert m["driver_gap_s"] == pytest.approx(0.5)
    assert m["jobs"] == 2
    assert m["tasks"] == 12
    assert m["cpu_s"] == pytest.approx(0.6)
    assert m["shuffle_mb"] == pytest.approx(3.0)
    assert m["gc_s"] == pytest.approx(0.03)


def test_rollup_skips_reused_and_unrun_stages_and_other_groups():
    spans = [{"name": "a", "group": "g0", "start_ms": 0.0, "end_ms": 100.0},
             {"name": "b", "group": "g1", "start_ms": 200.0, "end_ms": 400.0}]
    jobs = [{"group": "g0", "job_id": 1, "stage_ids": [1]},
            # job of span b lists stage 1 again (its shuffle output is
            # reused, it does not run), stage 2 that never ran, stage 3
            {"group": "g1", "job_id": 2, "stage_ids": [1, 2, 3]},
            {"group": "other", "job_id": 3, "stage_ids": [4]}]
    stages = {1: _stage(10, 90), 2: _stage(None, None), 3: _stage(250, 300, spill_bytes=2e6),
              4: _stage(210, 390)}
    m = rollup(spans, jobs, stages)
    assert m["a"]["tasks"] == 4 and m["a"]["driver_gap_s"] == pytest.approx(0.02)
    assert m["b"]["tasks"] == 4
    assert m["b"]["spill_mb"] == pytest.approx(2.0)
    assert m["b"]["driver_gap_s"] == pytest.approx(0.15)


def test_rollup_reports_medians_per_span_name():
    spans = [{"name": "op", "group": f"g{i}", "start_ms": 1000.0 * i,
              "end_ms": 1000.0 * i + w} for i, w in enumerate((100.0, 300.0, 200.0))]
    m = rollup(spans, [], {})["op"]
    assert m["wall_s"] == pytest.approx(0.2)
    assert m["jobs"] == 0 and m["driver_gap_s"] == pytest.approx(0.2)


@pytest.mark.parametrize("make", [
    lambda rng: gen.log_table(*gen.cooc_skewed(rng, 300, 2000)),
    lambda rng: gen.chain_corpus(rng, 300, 150)[0],
    lambda rng: gen.dictionary_table(rng, np.arange(1, 200)),
])
def test_same_seed_same_bytes(make, tmp_path):
    paths = []
    for i, seed in enumerate((7, 7, 8)):
        p = str(tmp_path / f"{i}.parquet")
        gen.write_parquet(make(np.random.default_rng(seed)), p)
        paths.append(open(p, "rb").read())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_lookup_burst_follows_the_op_mix():
    hot = np.arange(100, 300)
    burst = gen.lookup_burst(np.random.default_rng(4), hot)
    counts = {k: sum(1 for kind, _ in burst if kind == k) for k, _ in gen.OP_MIX}
    assert counts == dict(gen.OP_MIX)
    for kind, arg in burst:
        if kind in ("point", "info"):
            assert arg in hot
        elif kind == "batch":
            assert len(arg) == 50 and set(arg) <= set(hot.tolist())
    assert burst == gen.lookup_burst(np.random.default_rng(4), hot)


def test_chain_corpus_plants_exactly_the_adjacent_links():
    _, chains, toks = gen.chain_corpus(np.random.default_rng(5), 400, 200)
    n_cand, verified = gen.candidate_pairs(toks, 3, 0.5)
    links = {(min(a, b), max(a, b)) for c in chains for a, b in zip(c, c[1:])}
    assert verified == links
    assert n_cand > len(links)  # links two apart share shingles, below tau


def test_correlation_rows_match_dense_corrcoef():
    rng = np.random.default_rng(11)
    ctx, item = gen.cooc_skewed(rng, 40, 300, mean_size=5)
    items = np.unique(item)
    dense = np.zeros((items.size, ctx.max() + 1))
    np.add.at(dense, (np.searchsorted(items, item), ctx), 1.0)
    corr = np.corrcoef(dense)
    rows = checks.correlation_rows(ctx, item, items[:5].tolist())
    for i, a in enumerate(items[:5]):
        row = np.delete(corr[i], i)
        ids = np.delete(items, i)
        cut = row.mean() + 2.0 * row.std(ddof=1)
        want = set(ids[np.round(row, 6) >= np.round(cut, 6)].tolist())
        assert set(rows[int(a)]["keep"]) == want
        for b, sc in rows[int(a)]["keep"].items():
            r = row[ids.tolist().index(b)]
            assert sc == pytest.approx((r - row.min()) / (row.max() - row.min()), abs=1e-12)


def test_tree_cpu_counts_own_and_reaped_children():
    import os
    import subprocess
    import sys
    import threading

    pid = os.getpid()
    before = host.tree_cpu_s(pid)
    subprocess.run([sys.executable, "-c", "sum(range(30_000_000))"], check=True)
    spent = host.tree_cpu_s(pid) - before
    assert spent >= 0.2  # the child's work, counted once it is reaped

    tid, ready, done = [], threading.Event(), threading.Event()

    def burn():
        tid.append(threading.get_native_id())
        sum(range(10_000_000))
        ready.set()
        done.wait()  # stay alive until read

    t = threading.Thread(target=burn)
    t.start()
    ready.wait()
    burnt = host.thread_cpu_s(tid[0])
    done.set()
    t.join()
    assert burnt > 0.05
    assert host.tree_jit_cpu_s(pid) == 0.0  # no JVM in this tree


def test_busy_split_counts_steal_apart_from_busy_ticks():
    #         user nice sys idle iowait irq softirq steal guest guest_nice
    before = [1000, 0, 200, 5000, 10, 0, 40, 300, 0, 0]
    after = [1300, 0, 260, 5400, 10, 0, 50, 390, 0, 0]
    busy, stolen = host.busy_split(before, after)
    assert busy == pytest.approx(370 / host._TICK)
    assert stolen == pytest.approx(90 / host._TICK)


def test_expected_clusters_union_find():
    got = checks.expected_clusters([[2, 5, 9], [3, 4]], 10)
    assert got[9] == 2 and got[5] == 2 and got[4] == 3 and got[7] == 7
    rows = [(d, c, d == c) for d, c in got.items()]
    assert checks.check_clusters(rows, got)
    rows[0] = (1, 2, False)
    assert not checks.check_clusters(rows, got)
