"""The benchmark's own tests.  Run from the repository root::

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark once per workload (about half a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import spec  # noqa: E402
import workloads as W  # noqa: E402


@pytest.fixture
def scratch():
    d = os.path.join(BENCH, "out", f"test-{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _write_all(seed: int, out: str) -> list[str]:
    paths = []
    tables = {
        "events": gen.events_table(5_000, 8, 0.25, seed),
        "lineitem": gen.lineitem_table(2_000, seed),
        "documents": gen.documents_table(300, seed)[0].table,
        "embeddings": gen.embeddings_table(300, seed),
    }
    for name, t in tables.items():
        p = os.path.join(out, f"{name}.parquet")
        gen.write(t, p)
        paths.append(p)
    return paths


def test_same_seed_same_bytes_other_seed_other_bytes(scratch):
    a = [_digest(p) for p in _write_all(7, os.path.join(scratch, "a"))]
    b = [_digest(p) for p in _write_all(7, os.path.join(scratch, "b"))]
    c = [_digest(p) for p in _write_all(8, os.path.join(scratch, "c"))]
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_generated_corpus_plants_duplicates():
    corpus, _ = gen.documents_table(500, 3)
    texts = dict(zip(corpus.table.column("doc_id").to_pylist(), corpus.table.column("text").to_pylist()))
    stats = W.DedupStats(texts, corpus.planted)
    assert stats.near and stats.exact
    # the vocabulary is not degenerate: unrelated documents share little
    assert W.jaccard(stats.sh[0], stats.sh[1]) < 0.2


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == spec.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (n, u) for n, u, *_ in spec.LAYER_METRICS
    ]
    assert [w["name"] for w in bench["workloads"]] == list(spec.SIZES)
    assert bench["command"] == ["python3", "perfbench/run.py"]


# --------------------------------------------------------------------- #
# the checks catch a perturbed result
# --------------------------------------------------------------------- #


def test_selection_references_match_their_definitions():
    rng = np.random.default_rng(1)
    v = rng.normal(size=1001)
    want = W.kth_exact(v, (0.5,))
    assert want[0.5] == float(np.sort(v)[500])
    g = np.array(["a", "b"] * 500 + ["a"])
    w = rng.integers(1, 5, size=1001)
    got = W.weighted_median_by_group(g, v, w)
    for key in ("a", "b"):
        m = g == key
        order = np.argsort(v[m])
        cw = np.cumsum(w[m][order])
        assert got[key] == v[m][order][np.searchsorted(cw, -(-cw[-1] // 2))]


def test_kcenter_check_catches_perturbed_selection(scratch):
    p = os.path.join(scratch, "embeddings.parquet")
    gen.write(gen.embeddings_table(200, 2), p)
    vecs = np.stack(pd.read_parquet(p)["embedding"].to_numpy())
    rows = W.kcenter_reference(vecs, W.KCENTER_K)
    good = pd.DataFrame(rows, columns=["rank", "vec_id", "radius"])
    check = W.kcenter_check(p, W.KCENTER_K)
    assert check(good) == []
    bad = good.copy()
    bad.loc[2, "vec_id"] = (bad.loc[2, "vec_id"] + 1) % 200
    assert check(bad)
    # the greedy radii never grow
    radii = [r for _, _, r in rows[1:]]
    assert radii == sorted(radii, reverse=True)


def test_sums_check_catches_perturbed_sum():
    from pyspark.sql import Row

    expected = {"x": (10, 123.4567, 9)}
    check = W.sums_check(lambda: expected)
    assert check(Row(n=10, s_x=123.4567, n_x=9)) == []
    assert check(Row(n=10, s_x=123.4667, n_x=9))
    assert check(Row(n=10, s_x=123.4567, n_x=8))
    assert check(Row(n=10, s_y=1.0, n_y=9))


def test_dedup_check_catches_missing_pairs():
    corpus, _ = gen.documents_table(400, 5)
    texts = dict(zip(corpus.table.column("doc_id").to_pylist(), corpus.table.column("text").to_pylist()))
    stats = W.DedupStats(texts, corpus.planted)
    everything = {(min(a, b), max(a, b)) for a, b in corpus.planted}
    assert stats.check(everything, need_recall=0.9) == []
    assert stats.last["dedup.recall"] == 1.0
    some_exact = next(iter(stats.exact))
    assert stats.check(everything - {some_exact}, need_recall=0.9)
    assert stats.check({(5, 3)}, need_recall=0.0)


def test_catalog_check_catches_perturbed_frame(scratch):
    gen.write(gen.events_table(2_000, 4, 0.25, 1), os.path.join(scratch, "events.parquet"))
    oracles = W.Oracles()
    try:
        from indicators_spark.queries import QUERIES

        good = oracles.frame("sma", scratch, QUERIES["sma"].sql_text).copy()
        check = W.catalog_check(oracles, "sma", scratch)
        assert check(good) == []
        bad = good.copy()
        bad.loc[bad.index[100], "close_sma_20"] += 0.0001
        assert check(bad)
        assert check(good.iloc[1:])
    finally:
        oracles.close()


def test_ewm_reference_matches_recurrence(scratch):
    p = os.path.join(scratch, "events.parquet")
    gen.write(gen.events_table(300, 2, 0.5, 4), p)
    ref = W.ewm_reference(p)()
    t = pd.read_parquet(p).sort_values(["event_type", "ts", "event_id"])
    a = 2.0 / 13
    total = 0.0
    for _, g in t.groupby("event_type"):
        e = None
        for x in g["value"]:
            e = x if e is None else (1 - a) * e + a * x
            total += np.floor(e * 10000 + 0.500000001) / 10000
    assert ref["close_ema_12"][0] == 300
    assert W.close_enough(ref["close_ema_12"][1], total)


# --------------------------------------------------------------------- #
# command line
# --------------------------------------------------------------------- #


def _run(*args, env=None, cwd=ROOT, timeout=240):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
        env={**os.environ, **(env or {})},
    )


def test_refuses_dispatch_tuning_env():
    r = _run("--workload", "ohlcv_interactive", "--seed", "1", "--seconds", "1",
             env={"SPARK_GRAFT_HALO_MIN_ROWS": "10"})
    assert r.returncode != 0
    assert "SPARK_GRAFT_HALO_MIN_ROWS" in r.stderr
    assert '"correct"' not in r.stdout


def test_fails_without_the_program(scratch):
    r = _run("--workload", "corpus", "--seed", "1", "--seconds", "1", cwd=scratch)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


@pytest.mark.parametrize(
    "workload,trace",
    [("ohlcv_interactive", 0), ("ohlcv_interactive", 1), ("corpus", 0), ("corpus", 1)],
)
def test_tiny_smoke_run(workload, trace):
    r = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--tiny")
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec.LAYER_METRICS if trace else spec.END_TO_END
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == [
        (n, u) for n, u, *_ in want
    ]
    if workload == "ohlcv_interactive" and trace:
        # chain_halo engaged the halo session: its windows read halo rows
        # beyond the input's
        assert out["metrics"]["core.window_rows_ratio"]["value"] > 1.0
