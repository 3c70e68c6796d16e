"""The repository's benchmark: one workload, one seed, one run.

Usage, from the repository root::

    python3 perfbench/run.py --workload ohlcv_interactive --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, starts Spark through
``indicators_spark.get_spark`` on ``local[nproc]``, warms up, then runs
a fixed number of cycles of the workload's operations one at a time (a
closed loop with one client; ``spec.SIZES``), so every commit yields the
same number of latency samples.  ``--seconds`` is only recorded: the
cycles take about 18 s and 28 s on a 4-core host.  A traced run times
the cycles twice, untraced and then traced, and reports the difference
as the tracing overhead.  Every output is checked after the timed
region.  The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``.  Artifacts
(stamp, sizes, thresholds, spans) go to ``perfbench/out/``; generated
data and Spark's scratch space go to a per-run directory under it that
is removed at exit.  Exits non-zero when a check fails or the run cannot
start.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402

def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=tuple(spec.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="shrink every input (smoke tests)"
    )
    return ap.parse_args(argv)


def sizes_for(workload: str, tiny: bool) -> dict:
    sizes = dict(spec.SIZES[workload])
    if tiny:
        for k in ("rows", "documents", "vectors", "warm_docs", "epoch_docs"):
            if k in sizes:
                sizes[k] = 200
        sizes["cycles"] = 1
        if "epochs_per_round" in sizes:
            sizes["epochs_per_round"] = 2
    return sizes


# --------------------------------------------------------------------- #
# environment
# --------------------------------------------------------------------- #


def guard_env(root: str) -> None:
    if not os.path.isfile(os.path.join(root, "indicators_spark", "__init__.py")):
        fail(f"no indicators_spark package under {root}; run from the repository root")
    tuned = [v for v in spec.TUNING_ENV if os.environ.get(v)]
    if tuned:
        fail(f"refusing to run with dispatch-tuning variables set: {', '.join(tuned)}")


def point_scratch_at(run_dir: str, root: str) -> None:
    """Keep Spark's and Python's scratch files inside the run directory,
    and make the package importable by Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    # every JVM, spark-submit's launcher included, would otherwise keep its
    # monitoring counters in a file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    import tempfile

    tempfile.tempdir = tmp


def source_id(root: str) -> str:
    """The git SHA when ``root`` is a git checkout's top level, otherwise a
    hash of the package's sources."""
    try:
        top, sha = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
            capture_output=True, text=True, check=True, timeout=10,
        ).stdout.split()
        if os.path.realpath(top) == os.path.realpath(root):
            return sha
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(root, "indicators_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return "tree-sha256:" + h.hexdigest()


def stamp(spark, root: str) -> dict:
    from indicators_spark import scale

    jvm = spark.sparkContext._jvm
    return {
        "source": source_id(root),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_1m": os.getloadavg()[0],
        "thresholds": {t: getattr(scale, t) for t in spec.THRESHOLDS},
    }


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm(pid) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # the peak then covers the whole process lifetime


# --------------------------------------------------------------------- #
# session
# --------------------------------------------------------------------- #


def start_session():
    """``get_spark``, which launches the JVM; returns the session and the
    time it took.  JVM and Python-worker warm-up is the workload's own
    warm-up pass."""
    from indicators_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    # the JVM exits when its stdin closes; make sure it has
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def wrap_scale(tracer) -> None:
    """Traced run only: a span around each selection entry point, so its
    time and jobs are attributed from outside the library."""
    import functools

    from indicators_spark import scale

    for name in spec.SCALE_ENTRIES:
        fn = getattr(scale, name)

        @functools.wraps(fn)
        def timed(*a, _fn=fn, _name=name, **k):
            with tracer.span(f"scale.{_name}"):
                return _fn(*a, **k)

        setattr(scale, name, timed)


# --------------------------------------------------------------------- #
# the loop
# --------------------------------------------------------------------- #


def run_op(op, tracer):
    """One user operation: build, (plan,) execute.  Returns (answer,
    seconds, op span, error)."""
    from spans import plan_metrics

    t0 = time.perf_counter()
    try:
        with tracer.span(op.name, layer=op.layer, rows=op.rows, timed=True) as s:
            with tracer.span("build"):
                obj = op.build()
            if op.action is None:
                out = obj
            else:
                if tracer.enabled:
                    with tracer.span("plan"):
                        obj._jdf.queryExecution().executedPlan()
                with tracer.span("exec"):
                    out = op.action(obj)
        dt = time.perf_counter() - t0
        if s is not None and op.action is not None:
            s.attrs["plan"] = plan_metrics(obj)
        return out, dt, s, None
    except Exception:  # an op that raises counts as failed; the run goes on
        return None, time.perf_counter() - t0, None, traceback.format_exc()


def measure(wl, tracer, cycles: int, passes: tuple[bool, ...]) -> list[dict]:
    """The timed region: ``cycles`` whole cycles of the workload's
    operations.  A fixed count, not a time budget, so a faster program
    yields the same number of samples and ``op_tail_s`` stays the same
    percentile.  ``passes`` lists the tracer states each cycle runs
    under, one result per pass; a traced run passes (False, True), so
    every cycle runs untraced and then traced and both passes see the
    same warm-up."""
    from workloads import StreamRound

    # done: (op, answer, error) triples for the checks
    results = [{"lat": [], "rows": 0, "done": [], "per_op": []} for _ in passes]
    for _ in range(cycles):
        for enabled, res in zip(passes, results):
            tracer.enabled = enabled
            for op in wl.ops:
                out, dt, _, err = run_op(op, tracer)
                res["done"].append((op, out, err))
                res["per_op"].append((op.name, dt))
                if isinstance(out, StreamRound):
                    res["lat"] += out.latencies
                    res["rows"] += out.docs
                else:
                    res["lat"].append(dt)
                    res["rows"] += op.rows
    return results


def check_all(done) -> tuple[int, int, list[str]]:
    from workloads import StreamRound

    attempted = failed = 0
    problems = []
    for op, out, err in done:
        n = len(out.latencies) if isinstance(out, StreamRound) else 1
        attempted += n
        faults = [err] if err else []
        if not err:
            try:
                faults = op.check(out)
            except Exception:  # a crashing check is a failed check
                faults = [traceback.format_exc()]
        if faults:
            failed += n
            problems.append(f"{op.name}: {'; '.join(faults)}")
    return attempted, failed, problems


def e2e_metrics(res: dict, setup_s: float) -> dict:
    lat = res["lat"]
    return {
        "setup_s": setup_s,
        "rows_per_s": res["rows"] / sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail(lat)[0],
    }


def tail(lat: list[float]) -> tuple[float, float]:
    """(latency, percentile): the highest percentile with at least ten
    samples beyond it.  Below 21 samples (tiny smoke runs only) that
    percentile is under the median, so the maximum stands in."""
    xs = sorted(lat)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# --------------------------------------------------------------------- #
# per-layer rollup
# --------------------------------------------------------------------- #


def layer_metrics(tracer, wl, session: dict, overhead: float) -> dict:
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    ops = [s for s in spans if s.attrs.get("timed") and s.attrs.get("measured")]
    m = {name: 0.0 for name, *_ in spec.LAYER_METRICS}

    def kids(s, name):
        return [c for c in spans if c.parent == s.id and c.name == name]

    def in_op(s) -> bool:
        while s.parent is not None:
            s = by_id[s.parent]
            if s.attrs.get("measured"):
                return True
        return False

    for op in ops:
        for phase in ("build", "plan", "exec"):
            for c in kids(op, phase):
                j, st, t = tracer.subtree_jobs(c)
                m[f"{phase}.s"] += c.duration
                if phase != "plan":
                    m[f"{phase}.jobs"] += j
                if phase == "exec":
                    m["exec.stages"] += st
                    m["exec.tasks"] += t
        pm = op.attrs.get("plan") or {}
        for k in ("exchange.n", "exchange.write_bytes", "exchange.read_bytes", "sort.n",
                  "sort.spill_bytes", "window.n", "agg.peak_mem_bytes", "scan.bytes"):
            m[k] += pm.get(k, 0)
        layer = op.attrs.get("layer")
        if layer == "core":
            m["core.chain.s"] += op.duration
            # the widest exchange feeds the windows; the scans cannot be
            # the denominator, as the halo session reads its input thrice
            m["core.window_rows_ratio"] = max(
                m["core.window_rows_ratio"], pm.get("exchange.max_records", 0) / op.attrs["rows"]
            )
        if layer == "ewm":
            m["ewm.s"] += pm.get("python.s", 0.0)
            m["ewm.python_rows"] += pm.get("python.rows", 0)
            m["ewm.python_bytes"] += pm.get("python.bytes", 0)
        if layer == "functions.text":
            m["text.s"] += op.duration
        if op.name == "similarity_kcenter_select":
            m["similarity.kcenter.s"] += op.duration
            m["similarity.kcenter.jobs"] += tracer.subtree_jobs(op)[0]
    for s in spans:
        if s.name.startswith("scale.") and in_op(s):
            m[f"{s.name}.s"] += s.duration
            m[f"{s.name}.jobs"] += tracer.subtree_jobs(s)[0]
    sinks = [s for s in spans if s.name == "sink" and in_op(s)]
    if sinks:
        m["sink.epoch_s"] = statistics.median(s.duration for s in sinks)
        m["sink.jobs_per_epoch"] = statistics.median(tracer.subtree_jobs(s)[0] for s in sinks)
    m.update({k: v for k, v in wl.layer_stats().items() if k in m})
    m["session.start_s"] = session["start_s"]
    m["session.warm_s"] = session["warm_s"]
    m["trace.overhead_s"] = overhead
    return m


# --------------------------------------------------------------------- #
# main
# --------------------------------------------------------------------- #


def main(argv=None) -> int:
    a = parse_args(argv)
    root = os.getcwd()
    guard_env(root)
    out_dir = os.path.join(HERE, "out")
    run_dir = os.path.join(out_dir, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    point_scratch_at(run_dir, root)
    sys.path.insert(0, root)
    sizes = sizes_for(a.workload, a.tiny)
    # tracer state per timed pass: traced runs time the same cycles
    # untraced too, in the same process, so traced minus untraced is the
    # tracing overhead on one seed, commit and host
    passes = (False, True) if a.trace else (False,)

    import workloads as W
    from spans import Tracer

    spark = None
    try:
        spark, start_s = start_session()
        tracer = Tracer(spark, f"{a.workload}-{a.seed}", enabled=bool(a.trace))
        if tracer.enabled:
            wrap_scale(tracer)
        oracles = W.Oracles()
        build = {
            "ohlcv_interactive": W.interactive,
            "corpus": W.corpus,
        }[a.workload]
        t_gen = time.perf_counter()
        wl = build(spark, os.path.join(run_dir, "data"), a.seed, sizes, oracles, tracer, len(passes))
        gen_s = time.perf_counter() - t_gen
        warm_done = []
        warm_per_op = []
        for op in wl.warm:
            out, dt, _, err = run_op(op, tracer)
            warm_per_op.append((op.name, dt))
            warm_done.append((op, out, err))
        warm_ops_s = sum(dt for _, dt in warm_per_op)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        for pid in ("self", jvm_pid):
            _reset_hwm(pid)
        n_before = len(tracer.spans)
        runs = measure(wl, tracer, sizes["cycles"], passes)
        for s in tracer.spans[n_before:]:
            if s.attrs.get("timed"):
                s.attrs["measured"] = True
        peak_mb = (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0
        t_check = time.perf_counter()
        attempted, failed, problems = check_all(
            warm_done + [d for r in runs for d in r["done"]]
        )
        check_s = time.perf_counter() - t_check
        setup_s = start_s + warm_ops_s
        e2e = e2e_metrics(runs[0], setup_s)
        lat = runs[0]["lat"]
        tail_pct = tail(lat)[1]
        artifact = {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "stamp": stamp(spark, root),
            "sizes": sizes,
            "path": spec.PATHS[a.workload],
            "input_gen_s": gen_s,
            "check_s": check_s,
            "ops": len(lat),
            "warm_op_seconds": warm_per_op,
            "op_seconds": [r["per_op"] for r in runs],
            "op_tail_pct": tail_pct,
            "op_tail_beyond": 10 if len(lat) >= 21 else 0,
            "error_rate": failed / attempted if attempted else 1.0,
            "peak_rss_mb": peak_mb,
            "problems": problems,
        }
        if a.trace:
            traced = e2e_metrics(runs[1], setup_s)
            overhead = traced["op_p50_s"] - e2e["op_p50_s"]
            artifact["untraced_e2e"] = e2e
            artifact["traced_e2e"] = traced
            metrics = layer_metrics(tracer, wl, {"start_s": start_s, "warm_s": warm_ops_s}, overhead)
            units = {n: u for n, u, *_ in spec.LAYER_METRICS}
            artifact["spans"] = tracer.dump()
        else:
            metrics = e2e
            units = dict(spec.END_TO_END)
        correct = not problems and failed == 0
        artifact["correct"] = correct
        artifact["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        oracles.close()
    finally:
        if spark is not None:
            stop_session(spark)
        W.cleanup(run_dir)
    os.makedirs(out_dir, exist_ok=True)
    tag = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"{a.workload}-trace{a.trace}-{tag}-{os.getpid()}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for p in problems:
        print(f"CHECK FAILED {p}", file=sys.stderr)
    summary = " ".join(f"{k}={v:.6g}{units[k]}" for k, v in metrics.items()) if not a.trace else ""
    print(
        f"{a.workload} seed={a.seed} ops={len(lat)} tail=p{tail_pct:.1f} {summary} "
        f"error_rate={artifact['error_rate']:.4g}ratio peak_rss_mb={peak_mb:.1f}MB"
    )
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": artifact["metrics"],
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
