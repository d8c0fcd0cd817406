"""Reference answers the benchmark checks the engine's outputs against:
NumPy for the correlation rows, pandas over a pyarrow read of the
published store for serving, union-find over the planted chains for
dedup. None of this runs inside a timed region."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# a pair this close to its item's cut may fall either side of the
# engine's 6-dp-rounded comparison through last-ulp differences in how
# mean and σ are summed; such pairs are not compared
BORDER = 2e-6
SCORE_TOL = 1e-9
_UPPER_TO_LOWER = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")


def correlation_rows(ctx: np.ndarray, item: np.ndarray, sample, k_sigma: float = 2.0) -> dict:
    """For each sampled item, its full correlation row over every other
    valid item, cut at mean + k·σ of that row (6-dp-rounded on both
    sides, as the engine compares) and min-max scaled.

    Returns item → {"keep": {neighbor: scaled_score}, "border": set}."""
    cells, cnt = np.unique(np.stack([item, ctx]), axis=1, return_counts=True)
    ci, cc = cells
    cnt = cnt.astype(np.float64)
    n = float(np.unique(cc).size)
    items, inv = np.unique(ci, return_inverse=True)
    s = np.bincount(inv, weights=cnt)
    q = np.bincount(inv, weights=cnt * cnt)
    den2 = n * q - s * s
    valid = den2 > 0
    den = np.sqrt(np.where(valid, den2, 1.0))
    out = {}
    for a in sample:
        ia = int(np.searchsorted(items, a))
        if ia >= items.size or items[ia] != a or not valid[ia]:
            out[int(a)] = {"keep": {}, "border": set()}
            continue
        mine = ci == a
        my_ctx, my_cnt = cc[mine], cnt[mine]  # sorted by ctx within item
        m = np.isin(cc, my_ctx)
        pos = np.searchsorted(my_ctx, cc[m])
        d = np.bincount(inv[m], weights=cnt[m] * my_cnt[pos], minlength=items.size)
        corr = (n * d - s[ia] * s) / (den[ia] * den)
        nb = valid.copy()
        nb[ia] = False
        row, ids = corr[nb], items[nb]
        cut = row.mean() + k_sigma * row.std(ddof=1)
        mn, mx = row.min(), row.max()
        scaled = (row - mn) / (mx - mn) if mx > mn else np.zeros_like(row)
        keep = np.round(row, 6) >= np.round(cut, 6)
        out[int(a)] = {
            "keep": dict(zip(ids[keep].tolist(), scaled[keep].tolist())),
            "border": set(ids[np.abs(row - cut) < BORDER].tolist()),
        }
    return out


def read_store(path: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    sims = pq.read_table(f"{path}/similar_items").to_pandas()
    dim = pq.read_table(f"{path}/correlated_items").to_pandas()
    return sims, dim


def check_build(sims: pd.DataFrame, expected: dict) -> list[str]:
    """Failures of one published fact table against the reference rows."""
    errors = []
    key = sims["item_a_id"].to_numpy() * (1 << 32) + sims["item_b_id"].to_numpy()
    if np.unique(key).size != key.size:
        errors.append("(item_a_id, item_b_id) not unique")
    sims = sims.sort_values("item_a_id", kind="stable")
    a_col = sims["item_a_id"].to_numpy()
    for a, exp in expected.items():
        lo, hi = np.searchsorted(a_col, [a, a + 1])
        part = sims.iloc[lo:hi]
        got = dict(zip(part["item_b_id"].tolist(), part["scaled_score"].tolist()))
        want = {b: v for b, v in exp["keep"].items() if b not in exp["border"]}
        have = {b for b in got if b not in exp["border"]}
        if have != set(want):
            errors.append(f"item {a}: neighbor set differs ({len(have)} vs {len(want)})")
            continue
        bad = [b for b in want if abs(got[b] - want[b]) > SCORE_TOL]
        if bad:
            errors.append(f"item {a}: scaled_score differs for {len(bad)} neighbors")
    return errors


class StoreReference:
    """The five serving queries answered with pandas over the store."""

    def __init__(self, sims: pd.DataFrame, dim: pd.DataFrame):
        self.sims = sims.sort_values(
            ["item_a_id", "scaled_score", "item_b_id"], ascending=[True, False, True]
        ).reset_index(drop=True)
        self.a_col = self.sims["item_a_id"].to_numpy()
        self.dim = dim
        self.name = dict(zip(dim["id"].tolist(), dim["key"].tolist()))

    def _ranked(self, a: int) -> list[tuple[int, float]]:
        lo, hi = np.searchsorted(self.a_col, [a, a + 1])
        part = self.sims.iloc[lo:hi]
        return list(zip(part["item_b_id"].tolist(), part["scaled_score"].tolist()))

    def point(self, a: int, limit: int = 10) -> list[tuple]:
        rows = [(b, self.name[b], sc) for b, sc in self._ranked(a) if b in self.name]
        return rows[:limit]

    def batch(self, ids: list[int], k: int = 10) -> set[tuple]:
        return {
            (a, b, self.name[b], sc, rn)
            for a in set(ids)
            for rn, (b, sc) in enumerate(self._ranked(a)[:k], 1)
            if b in self.name
        }

    def info(self, a: int) -> list[tuple]:
        return [(a, self.name[a], None)] if a in self.name else []

    def search(self, term: str, limit: int = 10) -> list[tuple]:
        t = term.translate(_UPPER_TO_LOWER)
        folded = self.dim["key"].str.translate(_UPPER_TO_LOWER)
        hit = self.dim[folded.str.contains(t, regex=False)]
        hit = hit.sort_values(["key", "id"]).head(limit)
        return [(i, k, None) for i, k in zip(hit["id"].tolist(), hit["key"].tolist())]

    def stats(self) -> tuple:
        per = np.unique(self.a_col, return_counts=True)[1]
        avg = Decimal(repr(float(per.mean()))).quantize(Decimal("0.01"), ROUND_HALF_UP) if per.size else 0
        return (len(self.dim), len(self.sims), float(avg))


def serve_matches(ref: StoreReference, kind: str, arg, rows: list[tuple]) -> bool:
    """Whether one timed serving op's collected rows equal the reference."""
    if kind == "point":
        return rows == ref.point(arg)
    if kind == "batch":
        return len(rows) == len(set(rows)) and set(rows) == ref.batch(arg)
    if kind == "info":
        return rows == ref.info(arg)
    if kind == "search":
        return rows == ref.search(arg)
    if len(rows) != 1:
        return False
    items, sims, avg = rows[0]
    want = ref.stats()
    return (items, sims) == want[:2] and abs(avg - want[2]) < 0.0051


def expected_clusters(chains: list[list[int]], n_docs: int) -> dict[int, int]:
    """doc id → smallest doc id of its chain (itself when unchained),
    by union-find over the planted links."""
    parent = list(range(n_docs + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for chain in chains:
        for a, b in zip(chain, chain[1:]):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in range(1, n_docs + 1)}


def check_clusters(rows: list[tuple], expected: dict[int, int]) -> bool:
    got = {d: (c, k) for d, c, k in rows}
    return len(rows) == len(expected) and all(
        got.get(d) == (c, d == c) for d, c in expected.items()
    )
