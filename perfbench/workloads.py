"""The benchmark's workloads: their inputs, the user operations they
run through the library's public entry points, and the check each
operation's output must pass.

An operation is built by calling the library (``build``), which returns
a DataFrame that ``action`` then runs, or the finished answer when the
entry point runs its own jobs (``action`` is None).  ``check`` looks at
the answer outside the timed region and returns the problems it found.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow.parquet as pq

import gen

#: Catalog indicator entries that make up the fluent chains below; their
#: DuckDB oracle SQL checks the chains' outputs.
HALO_CHAIN = ("sma", "bollinger_bands", "rsi", "atr", "daily_return")
PER_SYMBOL_CHAIN = HALO_CHAIN + ("donchian_channel",)
#: The interactive mix: indicator entries covering the reference surface
#: and the small-input selection entries.  EWM entries are left out (their
#: recursive oracle SQL dominates the check at 20k rows), and so is vwap:
#: its 4-dp exact oracle comparison flips on cumulative-sum rounding noise
#: on some generated frames.
INTERACTIVE_INDICATORS = (
    "sma",
    "rsi",
    "atr",
    "stochastic_oscillator",
    "williams_ri",
)
INTERACTIVE_SELECTION = (
    "analytic_median_selection",
    "analytic_group_median_selection",
    "analytic_weighted_median_selection",
    "analytic_group_weighted_median",
)
#: The corpus mix: catalog entries over generated documents and
#: embeddings, plus one streaming round (see :class:`Stream`).
CORPUS_BATCH = (
    ("dedup_minhash_lsh", "functions.dedup"),
    ("filter_quality_quantile", "functions.text"),
    ("similarity_kcenter_select", "functions.similarity"),
)
#: k of the catalog's ``similarity_kcenter_select`` entry
KCENTER_K = 6
KEYS = ("symbol", "timestamp", "seq", "open", "high", "low", "close", "volume")


@dataclass
class Op:
    name: str
    layer: str
    rows: int
    build: Callable[[], Any]
    action: Callable[[Any], Any] | None
    check: Callable[[Any], list[str]]


@dataclass
class StreamRound:
    """What one availableNow drain returns: per-epoch latencies (the
    stream's operations), and the exactly-once check to run after the
    timed region."""

    latencies: list[float]
    docs: int
    check: Callable[[], list[str]]


@dataclass
class Workload:
    ops: list[Op]
    #: untimed operations run before the first timed one (set-up time)
    warm: list[Op]
    layer_stats: Callable[[], dict] = dict


# --------------------------------------------------------------------- #
# checks
# --------------------------------------------------------------------- #


class Oracles:
    """DuckDB oracle results, computed once per (query, input dir)."""

    def __init__(self) -> None:
        self._cons: dict = {}
        self._cache: dict = {}

    def con(self, sf_dir: str):
        import duckdb

        if sf_dir not in self._cons:
            con = duckdb.connect()
            for f in sorted(os.listdir(sf_dir)):
                if f.endswith(".parquet"):
                    con.sql(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{f}')"
                    )
            self._cons[sf_dir] = con
        return self._cons[sf_dir]

    def frame(self, name: str, sf_dir: str, sql: str):
        key = (name, sf_dir, sql)
        if key not in self._cache:
            self._cache[key] = self.con(sf_dir).sql(sql).df()
        return self._cache[key]

    def close(self) -> None:
        for con in self._cons.values():
            con.close()


def catalog_check(oracles: Oracles, name: str, sf_dir: str):
    from indicators_spark.queries import QUERIES
    from indicators_spark.testing import compare_frames

    def check(pdf) -> list[str]:
        res = compare_frames(name, pdf, oracles.frame(name, sf_dir, QUERIES[name].sql_text))
        return [str(res)] if not res.ok else []

    return check


def per_symbol_sql(sql: str) -> str:
    """The catalog's faithful-mode oracle with every global window
    partitioned by symbol: ``per_symbol`` mode's definition."""
    return sql.replace("OVER (ORDER BY", "OVER (PARTITION BY symbol ORDER BY")


def close_enough(got: float, want: float) -> bool:
    # 4-dp quantized outputs summed in different orders, plus a few
    # rows whose quantization may flip by one unit on an ulp difference
    return abs(got - want) <= 1e-9 * abs(want) + 1e-3


def sums_check(expected: Callable[[], dict]):
    """Compare a chain's (count, sum, non-null count) per output column."""

    def check(row) -> list[str]:
        got = row.asDict()
        faults = []
        for col, (n, s, nn) in expected().items():
            if f"n_{col}" not in got:
                faults.append(f"{col}: missing from the chain output")
                continue
            if got["n"] != n or got[f"n_{col}"] != nn:
                faults.append(
                    f"{col}: rows {got['n']}/{got[f'n_{col}']} vs {n}/{nn}"
                )
            elif not close_enough(got[f"s_{col}"] or 0.0, s or 0.0):
                faults.append(f"{col}: sum {got[f's_{col}']!r} vs {s!r}")
        return faults

    return check


def oracle_sums(oracles: Oracles, sf_dir: str, names, per_symbol: bool) -> Callable[[], dict]:
    from indicators_spark.queries import QUERIES

    def expected() -> dict:
        out = {}
        for name in names:
            sql = QUERIES[name].sql_text
            if per_symbol:
                sql = per_symbol_sql(sql)
            cols = [c for c in oracles.con(sf_dir).sql(sql).columns if c not in KEYS]
            agg = ", ".join(
                f'count(*), sum("{c}"), count("{c}")' for c in cols
            )
            vals = oracles.frame(f"{name}:sums", sf_dir, f"SELECT {agg} FROM ({sql})").iloc[0]
            for i, c in enumerate(cols):
                out[c] = (int(vals.iloc[3 * i]), _num(vals.iloc[3 * i + 1]), int(vals.iloc[3 * i + 2]))
        return out

    return functools.cache(expected)


def ewm_reference(events_path: str) -> Callable[[], dict]:
    """pandas replay of the fused EWM chain (ema 12, macd, ppo, pvo; all
    ``adjust=False`` recurrences seeded with the first value, per
    symbol in (timestamp, seq) order) as (count, sum, non-null count)."""

    def expected() -> dict:
        pdf = pq.read_table(events_path).to_pandas()
        pdf = pdf.sort_values(["event_type", "ts", "event_id"], kind="stable")

        def ewm(x, span):
            return x.groupby(pdf["event_type"], sort=False).transform(
                lambda s: s.ewm(alpha=2.0 / (span + 1.0), adjust=False).mean()
            )

        close = pdf["value"]
        volume = pdf["user_id"].astype("float64")
        cols = {"close_ema_12": ewm(close, 12)}
        cols["close_signal_line"] = ewm(ewm(close, 12) - ewm(close, 26), 9)
        for name, x in (("ppo", close), ("pvo", volume)):
            el = ewm(x, 26)
            line = (ewm(x, 12) - el) / el.where(el != 0) * 100
            sig = ewm(line, 9)
            cols[f"{name}_12_26"] = line
            cols[f"{name}_signal_12_26"] = sig
            cols[f"{name}_histogram_12_26"] = line - sig
        out = {}
        for c, v in cols.items():
            q = np.floor(v.to_numpy() * 10000 + 0.500000001) / 10000
            ok = ~np.isnan(q)
            out[c] = (len(q), float(q[ok].sum()), int(ok.sum()))
        return out

    return functools.cache(expected)


def _num(v) -> float | None:
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else float(v)


def kcenter_reference(vectors: np.ndarray, k: int) -> list[tuple]:
    """Gonzalez greedy k-center replayed in numpy with the operator's
    arithmetic: squared L2 as a left-to-right double fold, the running
    least distance quantized to 4 dp, argmax ties to the lowest id
    (ids are row positions here).  Returns (rank, id, radius) rows."""
    x = vectors.astype(np.float64)

    def sq_dist(c: np.ndarray) -> np.ndarray:
        acc = np.zeros(len(x))
        for i in range(x.shape[1]):
            acc = acc + (x[:, i] - c[i]) * (x[:, i] - c[i])
        return acc

    picked = [0]
    rows = [(1, 0, None)]
    mind = sq_dist(x[0])
    for rank in range(2, k + 1):
        q = np.floor(mind * 1e4 + 0.500000001) / 1e4
        q[picked] = -np.inf
        nxt = int(np.argmax(q))  # first maximum: the lowest id
        rows.append((rank, nxt, float(q[nxt])))
        picked.append(nxt)
        mind = np.minimum(mind, sq_dist(x[nxt]))
    return rows


def kcenter_check(emb_path: str, k: int):
    def check(pdf) -> list[str]:
        t = pq.read_table(emb_path)
        ids = t.column("vec_id").to_numpy()
        vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
        order = np.argsort(ids, kind="stable")
        want = [(r, int(ids[order][i]), q) for r, i, q in kcenter_reference(vecs[order], k)]
        got = [
            (int(r), int(i), None if q is None or q != q else float(q))
            for r, i, q in pdf.sort_values("rank")[["rank", "vec_id", "radius"]].itertuples(index=False)
        ]
        return [] if got == want else [f"k-center {got} vs {want}"]

    return check


def kth_exact(values: np.ndarray, fracs) -> dict:
    """The kernel's rank convention: k = max(1, ceil(frac * n)), the k-th
    smallest value."""
    v = np.sort(values[~np.isnan(values)])
    return {f: float(v[max(1, math.ceil(f * len(v))) - 1]) for f in fracs}


def weighted_median_by_group(groups, values, weights) -> dict:
    """Smallest value per group whose cumulative weight reaches
    max(1, ceil(W/2))."""
    out = {}
    order = np.lexsort((values, groups))
    g, v, w = groups[order], values[order], weights[order]
    bounds = np.flatnonzero(np.r_[True, g[1:] != g[:-1], True])
    for a, b in zip(bounds[:-1], bounds[1:]):
        cw = np.cumsum(w[a:b])
        need = max(1, math.ceil(cw[-1] / 2))
        out[g[a]] = float(v[a + int(np.searchsorted(cw, need))])
    return out


# --------------------------------------------------------------------- #
# ohlcv_interactive: fluent API and direct selection calls
# --------------------------------------------------------------------- #


def _chain_sums_df(df):
    from pyspark.sql import functions as F

    from indicators_spark.queries import round4

    outs = [c for c in df.columns if c not in KEYS]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in outs:
        aggs += [
            F.sum(round4(F.col(c))).alias(f"s_{c}"),
            F.count(round4(F.col(c))).alias(f"n_{c}"),
        ]
    return df.agg(*aggs)


def _first(df):
    return df.collect()[0]


def api_ops(
    spark, oracles: Oracles, single: str | None, multi: str, rows: int, tag: str
) -> list[Op]:
    """Fluent-API chains and direct selection calls on one frame: a
    forced-halo faithful chain on the single-instrument series ``single``
    (its symbol column dropped; left out when ``single`` is None), a
    ``per_symbol`` chain and the fused EWM chain on the multi-symbol
    frame, then ``kth_elements`` and ``kth_element_by_group_weighted``."""
    from indicators_spark import Indicators, scale
    from indicators_spark.sources import load_table, prices_from_events

    def chain(sf_dir, mode, halo, names):
        def build():
            prices = prices_from_events(spark, sf_dir)
            if halo:
                # faithful mode engages the halo session only on a
                # symbol-less frame
                prices = prices.drop("symbol")
            ind = Indicators(
                prices,
                order_by=("timestamp", "seq"),
                partition_mode=mode,
                halo=halo,
            )
            ind.sma(["close"], 20).bollinger_bands(["close"], 20, 2).rsi(["close"], 14)
            ind.atr(14).daily_return(["close"])
            if "donchian_channel" in names:
                ind.donchian_channel(20)
            return _chain_sums_df(ind.collect())

        return build

    def ewm_chain():
        ind = Indicators(
            prices_from_events(spark, multi),
            order_by=("timestamp", "seq"),
            partition_mode="per_symbol",
        )
        ind.ema(["close"], 12).macd(["close"]).ppo().pvo()
        return _chain_sums_df(ind.collect())

    events = functools.cache(lambda: pq.read_table(f"{multi}/events.parquet").to_pandas())
    fracs = (0.05, 0.5, 0.95)

    def kth_check(res) -> list[str]:
        total, got = res
        vals = events()["value"].to_numpy()
        want = kth_exact(vals, fracs)
        faults = [] if total == len(vals) else [f"total {total} vs {len(vals)}"]
        return faults + [f"frac {f}: {got[f]!r} vs {want[f]!r}" for f in fracs if got[f] != want[f]]

    def group_check(pdf) -> list[str]:
        t = events()
        want = weighted_median_by_group(
            t["event_type"].to_numpy(), t["value"].to_numpy(), t["user_id"].to_numpy()
        )
        got = dict(zip(pdf["symbol"], pdf["value"]))
        if set(got) != set(want):
            return [f"groups {sorted(got)} vs {sorted(want)}"]
        return [f"{g}: {got[g]!r} vs {want[g]!r}" for g in want if got[g] != want[g]]

    halo = [] if single is None else [
        Op(f"chain_halo@{tag}", "core", rows, chain(single, "faithful", True, HALO_CHAIN), _first,
           sums_check(oracle_sums(oracles, single, HALO_CHAIN, per_symbol=False))),
    ]
    return halo + [
        Op(f"chain_per_symbol@{tag}", "core", rows, chain(multi, "per_symbol", None, PER_SYMBOL_CHAIN),
           _first, sums_check(oracle_sums(oracles, multi, PER_SYMBOL_CHAIN, per_symbol=True))),
        Op(f"chain_ewm@{tag}", "ewm", rows, ewm_chain, _first,
           sums_check(ewm_reference(f"{multi}/events.parquet"))),
        Op(f"kth_elements@{tag}", "scale", rows,
           lambda: scale.kth_elements(load_table(spark, multi, "events"), "value", fracs=list(fracs)),
           None, kth_check),
        Op(f"kth_element_by_group_weighted@{tag}", "scale", rows,
           lambda: scale.kth_element_by_group_weighted(
               prices_from_events(spark, multi), "close", "volume", "symbol", frac=0.5
           ), lambda df: df.toPandas(), group_check),
    ]


# --------------------------------------------------------------------- #
# ohlcv_interactive
# --------------------------------------------------------------------- #


def interactive(
    spark, root: str, seed: int, sizes: dict, oracles: Oracles, tracer, passes: int
) -> Workload:
    """``passes``: how often the timed cycles run; these ops read fixed
    inputs, so every pass can rerun them."""
    from indicators_spark.queries import QUERIES

    rows = sizes["rows"]

    def op(name, d, layer):
        return Op(
            f"{name}@{os.path.basename(d)}", layer, rows,
            lambda: QUERIES[name].spark(spark, d), lambda df: df.toPandas(),
            catalog_check(oracles, name, d),
        )

    frames = []
    for f in range(sizes["frames"]):
        d, s = f"{root}/f{f}", seed + 10 * f
        gen.write(
            gen.events_table(rows, sizes["symbols"], sizes["hot_share"], s), f"{d}/events.parquet"
        )
        gen.write(gen.lineitem_table(rows, s), f"{d}/lineitem.parquet")
        # the halo chain costs about five other ops, so it runs on the
        # first frame only
        single = f"{d}/single" if f == 0 else None
        if single:
            gen.write(gen.events_table(rows, 1, 0.0, s + 1), f"{single}/events.parquet")
        frames.append(
            [op(n, d, "core") for n in INTERACTIVE_INDICATORS]
            + [op(n, d, "scale") for n in INTERACTIVE_SELECTION]
            + api_ops(spark, oracles, single, d, rows, f"f{f}")
        )
    # the first frame's pass, untimed: the ops are short enough that JIT
    # and code generation would otherwise dominate them
    return Workload([o for ops in frames for o in ops], frames[0])


# --------------------------------------------------------------------- #
# corpus
# --------------------------------------------------------------------- #


def shingles(text: str) -> set:
    ws = text.split(" ")
    return {f"{a} {b}" for a, b in zip(ws, ws[1:])}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


#: Pairs at or above this exact bigram Jaccard count as verified.
VERIFY_JACCARD = 0.5


class DedupStats:
    """Recall of the planted pairs and exact Jaccard of emitted pairs."""

    def __init__(self, texts: dict, planted: list[tuple[int, int]]) -> None:
        self.sh = {i: shingles(t) for i, t in texts.items()}
        # a planted copy only counts when its edits left it near (an edit
        # can land on a short doc hard enough to push it below)
        self.near = {
            p for p in planted if jaccard(self.sh[p[0]], self.sh[p[1]]) >= 0.7
        }
        self.exact = {
            (min(a, b), max(a, b))
            for a, b in planted
            if texts[a] == texts[b] and len(self.sh[a]) > 0
        }
        self.last: dict = {}

    def check(self, pairs: set, need_recall: float) -> list[str]:
        faults = []
        ids = set(self.sh)
        bad = [p for p in pairs if p[0] >= p[1] or p[0] not in ids or p[1] not in ids]
        if bad:
            faults.append(f"malformed pairs, e.g. {bad[:3]}")
        verified = sum(
            1 for a, b in pairs if jaccard(self.sh.get(a, set()), self.sh.get(b, set())) >= VERIFY_JACCARD
        )
        near = {(min(a, b), max(a, b)) for a, b in self.near}
        found = len(near & pairs)
        recall = found / len(near) if near else 1.0
        missing_exact = self.exact - pairs
        if missing_exact:
            faults.append(f"{len(missing_exact)} exact duplicates not paired, e.g. {sorted(missing_exact)[:3]}")
        if recall < need_recall:
            faults.append(f"planted-pair recall {recall:.3f} < {need_recall}")
        self.last = {
            "dedup.candidates": len(pairs),
            "dedup.verified": verified,
            "dedup.precision": verified / len(pairs) if pairs else 0.0,
            "dedup.recall": recall,
        }
        return faults


def corpus(
    spark, root: str, seed: int, sizes: dict, oracles: Oracles, tracer, passes: int
) -> Workload:
    """``passes``: how often the timed cycles run; each cycle drains a
    fresh streaming round, so ``cycles × passes`` rounds are written."""
    from indicators_spark.queries import QUERIES

    d = f"{root}/corpus"
    docs_gen, _ = gen.documents_table(sizes["documents"], seed, vocab_size=sizes["vocab"])
    gen.write(docs_gen.table, f"{d}/documents.parquet")
    gen.write(gen.embeddings_table(sizes["vectors"], seed), f"{d}/embeddings.parquet")
    texts = dict(zip(docs_gen.table.column("doc_id").to_pylist(), docs_gen.table.column("text").to_pylist()))
    stats = DedupStats(texts, docs_gen.planted)

    def check_for(name):
        if name == "similarity_kcenter_select":
            # the DuckDB replay of k-center takes seconds per run at this
            # size; numpy replays the same arithmetic in milliseconds
            return kcenter_check(f"{d}/embeddings.parquet", KCENTER_K)
        oracle = catalog_check(oracles, name, d)
        if name != "dedup_minhash_lsh":
            return oracle

        def check(pdf) -> list[str]:
            pairs = set(zip(pdf["ia"].tolist(), pdf["ib"].tolist()))
            return oracle(pdf) + stats.check(pairs, need_recall=0.9)

        return check

    def op(name, layer, sf_dir, rows, check):
        return Op(name, layer, rows, lambda: QUERIES[name].spark(spark, sf_dir),
                  lambda df: df.toPandas(), check)

    def rows(name, n_docs, n_vecs):
        return n_vecs if name.startswith("similarity") else n_docs

    st = Stream(spark, f"{root}/stream", seed + 1, sizes, tracer)
    docs = sizes["epoch_docs"] * sizes["epochs_per_round"]
    ops = [
        op(n, layer, d, rows(n, sizes["documents"], sizes["vectors"]), check_for(n))
        for n, layer in CORPUS_BATCH
    ]
    ops.append(Op("stream_round", "streaming", docs, st.round_op("round", sizes["cycles"] * passes), None,
                  lambda r: r.check()))
    # warm-up: the same plans on a small corpus, and a small round into a
    # sink of its own
    wd = f"{root}/warm"
    n = sizes["warm_docs"]
    wc, _ = gen.documents_table(n, seed + 2, vocab_size=sizes["vocab"])
    gen.write(wc.table, f"{wd}/documents.parquet")
    gen.write(gen.embeddings_table(n, seed + 2), f"{wd}/embeddings.parquet")
    ws = Stream(spark, f"{root}/warm_stream", seed + 3,
                {**sizes, "epoch_docs": n // 2, "epochs_per_round": 2}, tracer)
    warm = [
        op(name, layer, wd, n,
           kcenter_check(f"{wd}/embeddings.parquet", KCENTER_K)
           if name == "similarity_kcenter_select" else catalog_check(oracles, name, wd))
        for name, layer in CORPUS_BATCH
    ]
    warm.append(Op("stream_round", "streaming", n, ws.round_op("warm", 1), None,
                   lambda r: r.check()))
    return Workload(
        ops, warm,
        layer_stats=lambda: {
            **stats.last, "sink.store_dirs": st.store_dirs, "sink.write_bytes": st.write_bytes,
        },
    )


# --------------------------------------------------------------------- #
# corpus: the streaming round
# --------------------------------------------------------------------- #


class Stream:
    """Epoch files drained through ``MinHashDedupIngestSink`` by one
    ``availableNow`` query per round, one file per micro-batch.  Each
    round appends to the same sink, so the band-key store grows."""

    def __init__(self, spark, root: str, seed: int, sizes: dict, tracer) -> None:
        self.spark, self.root, self.seed, self.sizes = spark, root, seed, sizes
        self.sink_dir = f"{root}/sink"
        self.history: list[np.ndarray] = []
        self.next_id = 0
        self.tracer = tracer
        self.store_dirs = 0
        self.write_bytes = 0

    def _epoch_files(self, src: str) -> int:
        e, n = self.sizes["epochs_per_round"], self.sizes["epoch_docs"]
        os.makedirs(src, exist_ok=True)
        for i in range(e):
            corpus, self.history = gen.documents_table(
                n, self.seed, vocab_size=self.sizes["vocab"], id0=self.next_id,
                history=self.history, near_dup_rate=0.15,
            )
            self.history = self.history[-4 * n:]
            self.next_id += n
            gen.write(corpus.table, f"{src}/epoch-{i:04d}.parquet")
        return e * n

    def round_op(self, tag: str, rounds: int) -> Callable[[], StreamRound]:
        """An operation draining the next of ``rounds`` rounds of fresh
        epoch files.  Every round's files are written here, while the
        workload is built, so their generation is timed neither in set-up
        nor in the timed region; the epoch latencies start at the query's
        start."""
        todo = []
        for i in range(rounds):
            src = f"{self.root}/{tag}-{i}/src"
            todo.append((src, self._epoch_files(src), f"{tag}-{i}"))

        def build() -> StreamRound:
            return self.drain(*todo.pop(0))

        return build

    def drain(self, src: str, docs: int, run_id: str) -> StreamRound:
        from indicators_spark.streaming import MinHashDedupIngestSink

        spark = self.spark
        sink = MinHashDedupIngestSink(self.sink_dir, run_id=run_id)
        schema = spark.read.parquet(src).schema
        marks: list[float] = []
        tracer = self.tracer

        def on_batch(df, epoch_id):
            with tracer.span("sink", epoch=int(epoch_id)):
                sink(df, epoch_id)
            marks.append(time.perf_counter())

        t0 = time.perf_counter()
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", f"{src}/../checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        lat = [b - a for a, b in zip([t0] + marks[:-1], marks)]
        self.store_dirs = len(sink._store_paths())
        self.write_bytes = _dir_bytes(self.sink_dir)
        return StreamRound(lat, docs, lambda: self._check(sink, src, docs))

    def _check(self, sink, src: str, docs: int) -> list[str]:
        files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
        mine = [c for c in sink._committed() if c.startswith(sink.run_ns + "-")]
        faults = []
        if len(mine) != files:
            faults.append(f"{len(mine)} committed epochs vs {files} epoch files")
        paths = [os.path.join(sink.data_dir, c) for c in mine]
        flagged = self.spark.read.parquet(*paths).count() if paths else 0
        if flagged != docs:
            faults.append(f"{flagged} flagged rows vs {docs} input documents")
        return faults


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    return total


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
