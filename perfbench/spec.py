"""Fixed sizes, metric definitions and the reasoning behind them.

Sizes are absolute numbers chosen so that 4 + 22 runs per workload, each
starting its own JVM, fit in 3420 s on a 4-core host; they are never derived from the program's
dispatch thresholds.  The thresholds are read from the program and
recorded next to the sizes in every artifact, so a change that moves a
threshold across a size shows there.
"""

from __future__ import annotations

SIZES: dict[str, dict] = {
    "ohlcv_interactive": {
        "frames": 2,
        "rows": 20_000,
        "symbols": 8,
        "hot_share": 0.25,
        # timed cycles over every frame: 27 latency samples, so op_tail_s
        # is their 11th-largest (p63.0)
        "cycles": 1,
    },
    "corpus": {
        "documents": 1_000,
        "vectors": 1_000,
        "warm_docs": 150,
        "vocab": 4_000,
        "epoch_docs": 200,
        "epochs_per_round": 9,
        # timed cycles of 3 batch ops and a 9-epoch streaming round: 24
        # latency samples, so op_tail_s is their 11th-largest (p58.3)
        "cycles": 2,
    },
}

#: Which path each workload is meant to take, for the artifact.
PATHS = {
    "ohlcv_interactive": (
        "below every dispatch threshold: plain windows except chain_halo, "
        "which forces the halo session (halo=True on a symbol-less "
        "frame); value-table selection"
    ),
    "corpus": (
        "catalog corpus entries at their default dispatch; one streaming "
        "round per cycle through MinHashDedupIngestSink via foreachBatch, "
        "maxFilesPerTrigger=1, availableNow"
    ),
}

#: Environment variables that retune the program's dispatch; the
#: benchmark refuses to run when any is set.
TUNING_ENV = (
    "SPARK_GRAFT_HALO_MIN_ROWS",
    "SPARK_GRAFT_PER_KEY_HALO_MIN_ROWS",
    "SPARK_GRAFT_RESIDUE_DRIVER_ROWS",
    "SPARK_GRAFT_DRIVER_TABLE_ROWS",
    "SPARK_GRAFT_SPECULATIVE_BYTES",
    "INDICATORS_TFIDF_PROBE_CELLS",
    "SPARK_DRIVER_MEM",
)

THRESHOLDS = (
    "HALO_MIN_ROWS",
    "PER_KEY_HALO_MIN_ROWS",
    "DRIVER_TABLE_MAX_ROWS",
    "SPECULATIVE_TABLE_MAX_BYTES",
)

#: Selection entry points timed one by one in the traced run.
SCALE_ENTRIES = (
    "kth_element",
    "kth_element_weighted",
    "kth_elements",
    "kth_elements_weighted",
    "kth_element_by_group",
    "kth_element_by_group_weighted",
)

#: Per-layer metrics: (name, unit, the end-to-end metric it should move,
#: the workloads where it should move).  BENCHMARK.json's per_layer list
#: is this table's first two columns.
LAYER_METRICS: list[tuple[str, str, str, str]] = [
    ("build.s", "s", "op_p50_s", "ohlcv_interactive"),
    ("build.jobs", "count", "op_p50_s", "ohlcv_interactive"),
    ("plan.s", "s", "op_p50_s", "ohlcv_interactive"),
    ("exec.s", "s", "rows_per_s", "ohlcv_interactive corpus"),
    ("exec.jobs", "count", "rows_per_s", "ohlcv_interactive corpus"),
    ("exec.stages", "count", "rows_per_s", "ohlcv_interactive corpus"),
    ("exec.tasks", "count", "rows_per_s", "ohlcv_interactive corpus"),
    ("exchange.n", "count", "rows_per_s", "ohlcv_interactive corpus"),
    ("exchange.write_bytes", "bytes", "rows_per_s", "ohlcv_interactive corpus"),
    ("exchange.read_bytes", "bytes", "rows_per_s", "ohlcv_interactive corpus"),
    ("sort.n", "count", "rows_per_s", "ohlcv_interactive corpus"),
    ("sort.spill_bytes", "bytes", "rows_per_s", "ohlcv_interactive corpus"),
    ("window.n", "count", "rows_per_s", "ohlcv_interactive corpus"),
    ("agg.peak_mem_bytes", "bytes", "rows_per_s", "ohlcv_interactive corpus"),
    ("scan.bytes", "bytes", "rows_per_s", "ohlcv_interactive corpus"),
    # halo duplication (chain_halo)
    ("core.window_rows_ratio", "ratio", "rows_per_s", "ohlcv_interactive"),
    ("core.chain.s", "s", "rows_per_s", "ohlcv_interactive"),
    ("ewm.s", "s", "rows_per_s", "ohlcv_interactive"),
    ("ewm.python_rows", "count", "rows_per_s", "ohlcv_interactive"),
    ("ewm.python_bytes", "bytes", "rows_per_s", "ohlcv_interactive"),
    # value-table path; the histogram path needs more than
    # DRIVER_TABLE_MAX_ROWS distinct values, beyond this benchmark's sizes
    *[
        (f"scale.{e}.{k}", u, "op_p50_s rows_per_s", "ohlcv_interactive")
        for e in SCALE_ENTRIES
        for k, u in (("s", "s"), ("jobs", "count"))
    ],
    ("dedup.candidates", "count", "rows_per_s", "corpus"),
    ("dedup.verified", "count", "rows_per_s", "corpus"),
    ("dedup.precision", "ratio", "rows_per_s", "corpus"),
    ("dedup.recall", "ratio", "rows_per_s", "corpus"),
    ("similarity.kcenter.s", "s", "rows_per_s", "corpus"),
    ("similarity.kcenter.jobs", "count", "rows_per_s", "corpus"),
    ("text.s", "s", "rows_per_s", "corpus"),
    ("sink.epoch_s", "s", "op_p50_s op_tail_s rows_per_s", "corpus"),
    ("sink.jobs_per_epoch", "count", "op_p50_s op_tail_s rows_per_s", "corpus"),
    ("sink.write_bytes", "bytes", "op_p50_s op_tail_s rows_per_s", "corpus"),
    ("sink.store_dirs", "count", "op_p50_s op_tail_s rows_per_s", "corpus"),
    ("session.start_s", "s", "setup_s", "all"),
    ("session.warm_s", "s", "setup_s", "all"),
    ("trace.overhead_s", "s", "none: traced minus untraced op_p50_s", "all"),
]

END_TO_END: list[tuple[str, str]] = [
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
]
