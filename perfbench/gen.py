"""Seeded input generator for the benchmark.

Writes parquet tables in the catalog's schemas (``events``, ``documents``,
``embeddings``; see FIXTURES.md F2), so ``sources.load_table``,
``sources.prices_from_events`` and the catalog's DuckDB oracle SQL read
them unchanged.  The same seed gives the same bytes: every random draw
comes from one ``numpy.random.Generator`` per table, and the tables are
built with pyarrow directly (no pandas metadata, no wall-clock fields).
The sizes come from ``spec.SIZES`` by way of ``workloads.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-01T00:00:00 in epoch microseconds.
_T0_US = 1_704_067_200_000_000
_LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"], dtype=object)
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------- #
# events (OHLCV source)
# --------------------------------------------------------------------- #


def events_table(n: int, n_symbols: int, hot_share: float, seed: int) -> pa.Table:
    """``n`` events over ``n_symbols`` symbols; symbol ``s00`` holds
    ``hot_share`` of the rows when there is more than one symbol.  Closes
    are per-symbol random walks quantized to cents, like the catalog's
    test data."""
    rng = _rng(seed, 1, n, n_symbols)
    if n_symbols == 1:
        sym = np.zeros(n, dtype=np.int64)
    else:
        cold = (1.0 - hot_share) / (n_symbols - 1)
        p = np.full(n_symbols, cold)
        p[0] = hot_share
        sym = rng.choice(n_symbols, size=n, p=p / p.sum())
    ts = _T0_US + np.cumsum(rng.integers(1, 2_000_000, size=n))
    level = np.log(rng.uniform(20.0, 200.0, size=n_symbols))
    steps = rng.normal(0.0, 0.01, size=n)
    # per-symbol cumulative sums: one global cumsum in symbol order, less
    # the running total at each symbol's first row
    order = np.argsort(sym, kind="stable")
    csum = np.cumsum(steps[order])
    first = np.searchsorted(sym[order], sym[order])
    walk = np.empty(n)
    walk[order] = csum - csum[first] + steps[order][first]
    value = np.maximum(np.round(np.exp(walk + level[sym]), 2), 0.01)
    names = np.array([f"s{i:02d}" for i in range(n_symbols)], dtype=object)
    props = np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(1, 150, size=n, dtype=np.int64)),
            "event_type": pa.array(names[sym], type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props[rng.integers(0, 100, size=n)], type=pa.string()),
        }
    )


def lineitem_table(n: int, seed: int) -> pa.Table:
    """``n`` TPC-H-shaped line items; the catalog's selection entries read
    ``l_extendedprice``, ``l_quantity`` and ``l_returnflag``."""
    rng = _rng(seed, 5, n)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, size=n), 2)
    flags = np.array(["A", "N", "R"], dtype=object)
    status = np.array(["F", "O"], dtype=object)
    ship = _T0_US + rng.integers(0, 2_000 * 86_400, size=n) * 1_000_000
    return pa.table(
        {
            "l_orderkey": pa.array(np.arange(n, dtype=np.int64) // 4),
            "l_partkey": pa.array(rng.integers(1, 2_000, size=n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(1, 100, size=n, dtype=np.int64)),
            "l_linenumber": pa.array((np.arange(n) % 4 + 1).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, size=n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, size=n), 2)),
            "l_returnflag": pa.array(flags[rng.integers(0, 3, n)], type=pa.string()),
            "l_linestatus": pa.array(status[rng.integers(0, 2, n)], type=pa.string()),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }
    )


# --------------------------------------------------------------------- #
# documents (corpus source)
# --------------------------------------------------------------------- #


def vocabulary(size: int, seed: int) -> np.ndarray:
    """``size`` distinct tokens: the eight stopwords the quality score
    counts, then pronounceable pseudo-words of 2-4 syllables."""
    rng = _rng(seed, 2, size)
    words = list(_STOPWORDS)
    seen = set(words)
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


@dataclass(frozen=True)
class Corpus:
    """Generated documents plus the duplicates planted in them."""

    table: pa.Table
    #: (base id, copy id) of every planted near- or exact-duplicate copy
    planted: list[tuple[int, int]]


def documents_table(
    n: int,
    seed: int,
    vocab_size: int = 4000,
    near_dup_rate: float = 0.08,
    exact_dup_rate: float = 0.02,
    edit_rate: float = 0.05,
    id0: int = 0,
    history: list[np.ndarray] | None = None,
) -> tuple[Corpus, list[np.ndarray]]:
    """``n`` documents of 40-120 Zipf(1.1) tokens.  A ``near_dup_rate``
    share are copies of an earlier document with ``edit_rate`` of their
    tokens replaced, an ``exact_dup_rate`` share are verbatim copies.
    ``history`` (token arrays of earlier batches, ids ``id0 - len``…) lets
    a later batch copy from earlier ones; the returned list extends it."""
    rng = _rng(seed, 3, n, id0)
    vocab = vocabulary(vocab_size, seed)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()
    docs: list[np.ndarray] = list(history or [])
    h0 = id0 - len(docs)
    planted: list[tuple[int, int]] = []
    kinds = rng.random(n)
    for i in range(n):
        did = id0 + i
        have = len(docs)
        if have and kinds[i] < near_dup_rate + exact_dup_rate:
            src = int(rng.integers(0, have))
            toks = docs[src].copy()
            if kinds[i] < near_dup_rate:
                m = max(1, int(round(edit_rate * len(toks))))
                at = rng.choice(len(toks), size=m, replace=False)
                toks[at] = rng.choice(vocab_size, size=m, p=p)
            planted.append((h0 + src, did))
        else:
            toks = rng.choice(vocab_size, size=int(rng.integers(40, 121)), p=p)
        docs.append(toks)
    texts = [" ".join(vocab[t]) for t in docs[len(docs) - n :]]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n)], type=pa.string()),
            "source": pa.array(
                [f"src{i}" for i in rng.integers(0, 20, n)], type=pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    return Corpus(table, planted), docs


def embeddings_table(n: int, seed: int, dim: int = 64, clusters: int = 16) -> pa.Table:
    """``n`` float32 vectors from a ``clusters``-component Gaussian
    mixture; ``label`` is the component."""
    rng = _rng(seed, 4, n, dim)
    centers = rng.normal(0.0, 1.0, size=(clusters, dim))
    label = rng.integers(0, clusters, size=n)
    x = (centers[label] + rng.normal(0.0, 0.35, size=(n, dim))).astype(np.float32)
    flat = pa.array(x.reshape(-1))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(label.astype(np.int32)),
        }
    )
