"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns plain
NumPy arrays or Arrow tables; the same seed gives the same arrays and,
written with ``write_parquet``, the same file bytes. The engine only
ever sees the files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# name vocabulary for the item dictionary and the search terms; every
# title also carries the item id, so titles are unique by construction
ADJECTIVES = (
    "amber azure brave calm dusky eager fancy gentle hollow icy jolly keen "
    "lucky mellow noble olive proud quiet rapid rustic silent tidy urban "
    "vivid windy young zesty bold crisp dry"
).split()
NOUNS = (
    "anchor badger cedar delta ember falcon garnet harbor island jasper "
    "kettle lantern meadow nectar orchid pepper quartz raven saddle timber "
    "umber violet walnut yarrow zephyr basin comet dune"
).split()

# serving op mix as ops per 20-op burst: 60% point, 10% batch, 15%
# info, 10% search, 5% stats
OP_MIX = (("point", 12), ("batch", 2), ("info", 3), ("search", 2), ("stats", 1))


def zipf_probs(n: int, s: float) -> np.ndarray:
    """Zipf(s) probabilities over ranks 1..n."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def cooc_skewed(rng, n_items: int, n_ctx: int, s: float = 1.05,
                mean_size: float = 12.0, max_size: int = 60):
    """Zipf-popularity log: geometric context sizes (mean ``mean_size``,
    capped at ``max_size``), items drawn with replacement from Zipf(s)
    over a seeded permutation of the ids (a repeat is a repeated event,
    so its cell count is 2). Returns (reference_id, item_id)."""
    sizes = np.minimum(rng.geometric(1.0 / mean_size, size=n_ctx), max_size)
    ctx = np.repeat(np.arange(n_ctx, dtype=np.int64), sizes)
    ranks = rng.choice(n_items, size=ctx.size, p=zipf_probs(n_items, s))
    ids = rng.permutation(n_items).astype(np.int64) + 1
    return ctx, ids[ranks]


def log_props(ctx: np.ndarray, item: np.ndarray) -> dict:
    """Input properties the correlation layers' cost depends on."""
    cells = np.unique(np.stack([item, ctx]), axis=1)
    deg_ctx = np.bincount(cells[1])
    _, deg_item = np.unique(cells[0], return_counts=True)
    return {
        "events": int(ctx.size),
        "items": int(deg_item.size),
        "contexts": int(np.count_nonzero(deg_ctx)),
        "cells": int(cells.shape[1]),
        "sum_deg2": int((deg_ctx.astype(np.int64) ** 2).sum()),
        "max_item_degree": int(deg_item.max()),
    }


def log_table(ctx: np.ndarray, item: np.ndarray) -> pa.Table:
    return pa.table({"reference_id": ctx, "item_id": item})


def dictionary_table(rng, ids: np.ndarray) -> pa.Table:
    """(id, title) with one unique title per id: two seeded words plus
    the zero-padded id."""
    a = rng.integers(0, len(ADJECTIVES), size=ids.size)
    b = rng.integers(0, len(NOUNS), size=ids.size)
    titles = [
        f"{ADJECTIVES[i].capitalize()} {NOUNS[j]} {int(x):06d}"
        for i, j, x in zip(a, b, ids)
    ]
    return pa.table({"id": ids.astype(np.int64), "title": titles})


def lookup_burst(rng, hot: np.ndarray, s: float = 1.05,
                 batch: int = 50) -> list[tuple[str, object]]:
    """One seeded burst of serving ops: exactly OP_MIX of each kind in a
    seeded order, item ids Zipf(s) over ``hot`` (ids, hottest first),
    search terms from the name vocabulary."""
    kinds = [k for k, n in OP_MIX for _ in range(n)]
    p = zipf_probs(hot.size, s)
    vocab = ADJECTIVES + NOUNS
    ops = []
    for kind in rng.permutation(kinds).tolist():
        if kind in ("point", "info"):
            arg = int(hot[rng.choice(hot.size, p=p)])
        elif kind == "batch":
            arg = hot[rng.choice(hot.size, size=batch, p=p)].tolist()
        elif kind == "search":
            arg = vocab[int(rng.integers(0, len(vocab)))]
        else:
            arg = None
        ops.append((kind, arg))
    return ops


def shingle_set(tokens: list[str], k: int) -> set[str]:
    """Distinct k-token shingles, as the engine's ``shingles`` builds
    them from lowercase whitespace tokens."""
    return {" ".join(tokens[i:i + k]) for i in range(len(tokens) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def chain_corpus(rng, n_docs: int, chain_docs: int, doc_len: int = 40,
                 block: int = 8, k: int = 3, tau: float = 0.5,
                 vocab: int = 60_000, min_chain: int = 2, max_chain: int = 8):
    """Documents with planted near-duplicate chains.

    Each chain starts from a random document; every next link replaces
    one contiguous block of ``block`` tokens, never the block its
    predecessor replaced, so adjacent links share all but ~block+k-1
    shingles (Jaccard ≥ tau) while links two apart lose twice as many
    (Jaccard < tau). Tokens come from a seeded ``vocab``-word space, so
    unrelated documents share no shingle. Both properties are checked
    here on the generated shingle sets; a violating chain is redrawn.

    Returns (table of doc_id/text, chains as lists of doc ids in link
    order, tokens per doc in doc id order)."""
    codes = rng.integers(ord("a"), ord("z") + 1, size=(vocab, 6), dtype=np.uint8)
    words = np.unique(codes.view("S6").ravel()).astype(str)

    def fresh(n):
        return list(words[rng.integers(0, words.size, size=n)])

    n_blocks = doc_len // block
    docs: list[list[str]] = []
    chains: list[list[int]] = []
    while sum(map(len, chains)) < chain_docs:
        length = int(rng.integers(min_chain, max_chain + 1))
        while True:
            link = [fresh(doc_len)]
            prev = -1
            for _ in range(length - 1):
                b = int(rng.choice([x for x in range(n_blocks) if x != prev]))
                nxt = list(link[-1])
                nxt[b * block:(b + 1) * block] = fresh(block)
                link.append(nxt)
                prev = b
            sh = [shingle_set(t, k) for t in link]
            ok = all(
                (jaccard(sh[i], sh[j]) >= tau + 0.02) if j == i + 1
                else (jaccard(sh[i], sh[j]) < tau - 0.02)
                for i in range(length) for j in range(i + 1, length)
            )
            if ok:
                break
        chains.append(list(range(len(docs), len(docs) + length)))
        docs.extend(link)
    while len(docs) < n_docs:
        docs.append(fresh(doc_len))
    # shuffle doc ids so chain members are not id-adjacent
    perm = rng.permutation(len(docs))
    ids = np.empty(len(docs), dtype=np.int64)
    ids[perm] = np.arange(1, len(docs) + 1)
    chains = [[int(ids[d]) for d in c] for c in chains]
    order = np.argsort(ids)
    toks = [docs[i] for i in order]
    table = pa.table({
        "doc_id": ids[order],
        "text": [" ".join(t) for t in toks],
    })
    return table, chains, toks


def candidate_pairs(toks: list[list[str]], k: int, tau: float):
    """All doc pairs sharing ≥1 shingle, and those at Jaccard ≥ tau,
    over doc ids 1..N (``toks[i]`` is doc i+1) — the engine's
    ``jaccard_pairs`` candidate and verified sets."""
    sets = [shingle_set(t, k) for t in toks]
    index: dict[str, list[int]] = {}
    for d, sh in enumerate(sets):
        for x in sh:
            index.setdefault(x, []).append(d)
    cand = set()
    for docs in index.values():
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                cand.add((docs[i], docs[j]))
    verified = {(a + 1, b + 1) for a, b in cand if jaccard(sets[a], sets[b]) >= tau}
    return len(cand), verified


def write_parquet(table: pa.Table, path: str) -> None:
    """Deterministic single-file parquet write (same table, same bytes)."""
    pq.write_table(table, path, compression="snappy")
