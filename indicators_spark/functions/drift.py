"""Distribution-drift monitoring over corpus slices.

The question every multi-source ingest pipeline asks nightly: "does
source X's feature distribution still look like the corpus?"  KL
divergence over token histograms exists in :mod:`.text`
(``source_kl_divergence``); this module adds the numeric-column
counterparts: the two-sample Kolmogorov–Smirnov statistic per group
against the pooled corpus (scipy's ``ks_2samp`` decision, computed
distributed and exactly — sup-norm, sharpest for a localized shift)
and the Population Stability Index over pool-quantile bands (the
scorecard/model-monitoring convention with the industry 0.1/0.2
cut-offs — a mass-rebalance measure whose state is bounded at
groups×bins by construction).

Reference parity note: the reference engine has no drift family; this
extends the corpus-QA surface (SURVEY.md §2's "beyond the reference"
training-data ops) the same way the audit queries do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..utils import local_frame


def _q4(c: Column) -> Column:
    return F.floor(c * 1e4 + 0.500000001) / 1e4


#: Kolmogorov distribution coefficient for α = 0.05: the two-sample
#: critical value is ``c(α)·sqrt((n+m)/(n·m))`` (Smirnov's asymptotic
#: approximation — the rule every drift monitor implements).
KS_C_ALPHA_05 = 1.358

#: the industry PSI rules of thumb: < 0.1 stable, 0.1–0.2 moderate
#: shift, > 0.2 significant drift (the default ``drifted`` cut).
PSI_DRIFT_THRESHOLD = 0.2


def ks_drift_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    threshold: float | None = None,
) -> DataFrame:
    """Per-group two-sample KS statistic against the POOLED corpus:
    ``D_g = sup_v |F_g(v) − F(v)|`` over empirical CDFs, evaluated on
    the full grid of observed values (the sup of a difference of step
    functions is attained at a step of EITHER side, so evaluating only
    at the group's own values would understate D for sparse groups).
    Returns one row per group: ``(group, n, ks_d, drifted)`` with
    ``ks_d`` 4dp-quantized.  ``drifted`` defaults to the real KS test
    at α = 0.05 — ``ks_d > 1.358·sqrt((n+N)/(n·N))`` with ``N`` the
    pool size, so small slices need a proportionally larger gap before
    they alarm (a fixed threshold flags every 25-doc source as drifted
    on pure sampling noise); pass ``threshold`` for a fixed cut
    instead.  Either way the verdict derives from the EXACT (pre-
    quantization) statistic — only the emitted ``ks_d`` is rounded —
    so the flag matches the textbook KS decision at the boundary
    (ADVICE r9: quantization's upward rounding over-alarmed within
    ~5e-5 of the critical value).  Cross-engine parity still holds
    bit-for-bit: the statistic is IEEE arithmetic over exact integer
    counts in the same expression order on both engines.

    NULL values and NULL group keys are excluded (a NULL length is an
    extraction failure, not a distribution sample); the pooled CDF is
    over the surviving rows, and each group is compared against the
    whole pool INCLUDING itself — the monitoring convention (a 5%%
    slice drifting shows up fine; a 50%% slice dilutes its own alarm,
    which is what you want when the "reference" is just the corpus).

    Scale shape: ONE wide-data pass — the ``(group, value)`` cell
    aggregate with map-side partials — then everything downstream is
    cell-table sized: the value grid is one skinny groupBy of the
    cells, the grid×groups expansion is a broadcast cross of two TINY
    tables (#distinct values × #groups rows), and the CDFs are window
    cumsums partitioned by group over that grid.  For a high-cardinality
    continuous column at 100 TB, pre-bucket the value (``F.round`` /
    width-bucketing) — the statistic becomes the binned KS every
    monitoring system actually runs, and the cell table stays bounded
    by #bins × #groups."""
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    cell = base.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    # pooled step function: cum count ≤ v, and the grand total
    val = (
        cell.groupBy("_v")
        .agg(F.sum("_c").alias("_cv"))
        .withColumn(
            "_cum_all",
            F.sum("_cv").over(
                Window.orderBy("_v").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    groups = cell.groupBy("_g").agg(F.sum("_c").alias("_n"))
    # pooled total N once, as a 1-row broadcast (ADVICE r9: a
    # partitionBy(_g) window sum recomputed the same constant per group)
    totdf = val.agg(F.sum("_cv").alias("_tot"))
    # full evaluation grid; both sides are tiny (≤ #values × #groups)
    grid = val.crossJoin(F.broadcast(groups)).crossJoin(F.broadcast(totdf))
    wg = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = (
        grid.join(cell, ["_g", "_v"], "left")
        .withColumn(
            "_cum_g", F.sum(F.coalesce(F.col("_c"), F.lit(0))).over(wg)
        )
        .withColumn(
            "_diff",
            F.abs(
                F.col("_cum_g") / F.col("_n")
                - F.col("_cum_all") / F.col("_tot")
            ),
        )
    )
    out = joined.groupBy("_g", "_n", "_tot").agg(
        F.max("_diff").alias("_d_raw")
    )
    if threshold is None:
        # casts BEFORE the product: n·N in long overflows at corpus scale
        crit = F.lit(KS_C_ALPHA_05) * F.sqrt(
            (F.col("_n") + F.col("_tot")).cast("double")
            / (F.col("_n").cast("double") * F.col("_tot").cast("double"))
        )
    else:
        crit = F.lit(float(threshold))
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n"),
        _q4(F.col("_d_raw")).alias("ks_d"),
        (F.col("_d_raw") > crit).alias("drifted"),
    )


def psi_drift_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    bins: int = 10,
    drift_threshold: float = PSI_DRIFT_THRESHOLD,
) -> DataFrame:
    """Per-group Population Stability Index against the POOLED corpus:
    ``PSI_g = Σ_b (p_gb − p_b)·ln(p_gb / p_b)`` over the pool's
    ``bins``-quantile bands — the other standard nightly drift alarm
    (scorecard/model-monitoring convention), complementing
    :func:`ks_drift_by_group`: KS is sup-norm (sharpest for a localized
    shift), PSI is a symmetrized-KL mass rebalance measure with
    industry-calibrated cut-offs (0.1 / 0.2).  Returns one row per
    group: ``(group, n, psi, drifted)`` with ``psi`` 4dp-quantized and
    ``drifted`` from the pre-output-quantization statistic vs
    ``drift_threshold`` (default :data:`PSI_DRIFT_THRESHOLD`).  Unlike
    KS's order-free ``max``, a PSI is a SUM, so each term is snapped to
    an exact 1e-9 integer grid before summing — integer addition is
    associative, making the statistic independent of partial-aggregate
    merge order and bit-portable across engines (r10 review).

    Determinism/replayability: bin edges are the pool's interpolated
    quantiles 4dp-QUANTIZED (the :func:`~.sampling.match_distribution_sample`
    rule — a last-bit interpolation difference between engines must not
    flip an on-edge value's bin), and proportions are Laplace-smoothed
    with integer counts — ``p_gb = (c_gb + 1)/(n_g + B)`` and
    ``p_b = (c_b + 1)/(N + B)`` with ``B`` the number of populated
    pool bins — so a bin the group never hits contributes a finite,
    engine-portable term instead of ``ln(0)`` (the standard PSI
    zero-bucket fix, here exact rather than an ad-hoc epsilon).

    NULL values and NULL group keys are excluded (extraction failures,
    not distribution samples); each group is compared against the pool
    INCLUDING itself, the monitoring convention shared with the KS
    alarm.

    Scale shape: one exact-quantile pass over the pool (swap in
    ``F.percentile_approx`` at 100 TB — PSI is binned by construction,
    so sketch error only nudges band boundaries), then ONE wide pass:
    bucket via the broadcast 1-row edge table and aggregate
    ``(group, bin)`` cells with map-side partials.  Everything after is
    cell-table sized (≤ groups × bins rows): pooled bin mass, group
    totals, and the PSI sum are aggregates of that tiny table."""
    if bins < 2:
        raise ValueError(f"psi_drift_by_group: bins must be >= 2, got {bins!r}")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    fracs = [i / bins for i in range(1, bins)]
    # ONE array-percentile aggregate (bins−1 separate F.percentile
    # calls would each buffer the full pool — r10 review), edges
    # magnitude-guard-quantized via the shared sampling helper (Spark's
    # LONG-returning floor saturates on timestamp-scale values where
    # DuckDB's double floor does not)
    from .sampling import quantize_edge

    qarr = F.percentile(
        F.col("_v"), F.array(*[F.lit(q) for q in fracs])
    )
    edges = base.agg(qarr.alias("_earr")).select(
        *[
            quantize_edge(F.col("_earr")[i - 1]).alias(f"_e{i}")
            for i in range(1, bins)
        ]
    )
    b = F.lit(0)
    for i in range(1, bins):
        b = b + (F.col("_v") > F.col(f"_e{i}")).cast("int")
    cell = (
        base.crossJoin(F.broadcast(edges))
        .select("_g", b.alias("_b"))
        .groupBy("_g", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    groups = cell.groupBy("_g").agg(F.sum("_c").alias("_n"))
    poolb = cell.groupBy("_b").agg(F.sum("_c").alias("_cp"))
    # pool-wide scalars: total N and populated-bin count B (1 row)
    scal = poolb.agg(
        F.sum("_cp").alias("_tot"), F.count(F.lit(1)).alias("_nb")
    )
    grid = poolb.crossJoin(F.broadcast(groups)).crossJoin(F.broadcast(scal))
    joined = grid.join(cell, ["_g", "_b"], "left").select(
        "_g",
        "_n",
        (
            (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("_n") + F.col("_nb")).cast("double")
        ).alias("_pg"),
        (
            (F.col("_cp") + F.lit(1)).cast("double")
            / (F.col("_tot") + F.col("_nb")).cast("double")
        ).alias("_pp"),
    )
    # each term quantized to an exact 1e-9 INTEGER grid before the sum
    # (r10 review): a double sum's partial-aggregate merge order varies
    # with partitioning/AQE and differs from the oracle's sequential
    # sum, so a PSI within ULPs of the 0.2 cut could flip `drifted`
    # across engines — integer addition is associative, so the summed
    # statistic is order-free and bit-portable.  Terms are nonnegative
    # ((p−q)·ln(p/q) ≥ 0) and ≤ ~ln(N), so bins·1e9·ln(N) sits far
    # below Long.MAX; the 1e-9 grid loses ≤ bins·1e-9 of PSI, noise
    # against the 4dp output and the 0.1/0.2 cuts.
    term = (F.col("_pg") - F.col("_pp")) * F.log(F.col("_pg") / F.col("_pp"))
    out = joined.groupBy("_g", "_n").agg(
        F.sum(F.floor(term * 1e9 + 0.500000001)).alias("_psi_int")
    )
    psi_raw = F.col("_psi_int").cast("double") / 1e9
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n"),
        _q4(psi_raw).alias("psi"),
        (psi_raw > F.lit(float(drift_threshold))).alias("drifted"),
    )


def psi_reference_profile(
    ref: DataFrame, value_col: str, bins: int = 10
) -> tuple[list[float], list[int]]:
    """Freeze a drift REFERENCE as driver scalars: the pooled
    ``bins``-quantile edges (4dp-quantized via the shared
    magnitude-guarded rule, so an on-edge value buckets identically
    everywhere the profile is replayed) plus the per-bin reference
    counts.  ``bins − 1 + bins`` numbers total — small enough to embed
    in a streaming sink, a config file, or a plan literal, which is the
    point: monitoring compares every future batch against the SAME
    frozen profile, not against a moving pool.

    One array-percentile aggregate + one count-by-bucket aggregate over
    the reference (swap ``F.percentile`` → ``F.percentile_approx`` at
    100 TB; PSI is binned by construction, sketch error only nudges
    band boundaries).
    """
    if bins < 2:
        raise ValueError(
            f"psi_reference_profile: bins must be >= 2, got {bins!r}"
        )
    from .sampling import quantize_edge

    base = ref.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("_v")
    )
    fracs = [i / bins for i in range(1, bins)]
    qarr = F.percentile(F.col("_v"), F.array(*[F.lit(q) for q in fracs]))
    erow = (
        base.agg(qarr.alias("_earr"))
        .select(
            *[
                quantize_edge(F.col("_earr")[i - 1]).alias(f"_e{i}")
                for i in range(1, bins)
            ]
        )
        .first()
    )
    if erow is None or erow[0] is None:
        raise ValueError(
            f"psi_reference_profile: no non-null {value_col!r} rows"
        )
    edges = [float(e) for e in erow]
    b = F.lit(0)
    for e in edges:
        b = b + (F.col("_v") > F.lit(e)).cast("int")
    counts = {
        r["_b"]: r["_c"]
        for r in base.select(b.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()
    }
    return edges, [int(counts.get(i, 0)) for i in range(bins)]


def psi_vs_reference_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    edges: list[float],
    ref_counts: list[int],
    drift_threshold: float = PSI_DRIFT_THRESHOLD,
) -> DataFrame:
    """Per-group PSI of ``df`` against a FROZEN reference profile
    (:func:`psi_reference_profile`) — the monitoring form of
    :func:`psi_drift_by_group`: the comparison target is fixed driver
    scalars instead of the frame's own pool, so the same profile can
    score every nightly batch and alarms are comparable across time.

    Conventions match the pooled form (Laplace-smoothed integer
    proportions, each term snapped to the exact 1e-9 integer grid
    before the order-free sum, ``drifted`` from the pre-quantization
    statistic), with ONE deliberate difference: the term grid is ALL
    ``bins`` bands, not just reference-populated ones — a batch putting
    mass where the reference has none must raise the alarm, not have
    that mass silently dropped from the sum.  Smoothing keeps every
    term finite: ``p_gb = (c_gb + 1)/(n_g + bins)``,
    ``p_rb = (cr_b + 1)/(N_ref + bins)``.

    Cost: one (group, bin) cell aggregate over ``df`` (map-side
    partials); everything downstream is cell-table sized.  Returns
    ``(group_col, n, psi, drifted)``.
    """
    bins = len(ref_counts)
    if len(edges) != bins - 1:
        raise ValueError(
            "psi_vs_reference_by_group: edges/ref_counts mismatch "
            f"({len(edges)} edges for {bins} bins)"
        )
    n_ref = sum(ref_counts)
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    )
    b = F.lit(0)
    for e in edges:
        b = b + (F.col("_v") > F.lit(float(e))).cast("int")
    cell = (
        base.select("_g", b.alias("_b"))
        .groupBy("_g", "_b")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    groups = cell.groupBy("_g").agg(F.sum("_c").alias("_n"))
    # full bin grid per group: groups × bins rows, both sides tiny
    spark = df.sparkSession
    bins_df = local_frame(
        spark,
        [(i, int(ref_counts[i])) for i in range(bins)],
        "_b long, _cr long",
    )
    grid = groups.crossJoin(F.broadcast(bins_df))
    joined = grid.join(cell, ["_g", "_b"], "left").select(
        "_g",
        "_n",
        (
            (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1)).cast("double")
            / (F.col("_n") + F.lit(bins)).cast("double")
        ).alias("_pg"),
        (
            (F.col("_cr") + F.lit(1)).cast("double")
            / F.lit(float(n_ref + bins))
        ).alias("_pr"),
    )
    term = (F.col("_pg") - F.col("_pr")) * F.log(F.col("_pg") / F.col("_pr"))
    out = joined.groupBy("_g", "_n").agg(
        F.sum(F.floor(term * 1e9 + 0.500000001)).alias("_psi_int")
    )
    psi_raw = F.col("_psi_int").cast("double") / 1e9
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").alias("n"),
        _q4(psi_raw).alias("psi"),
        (psi_raw > F.lit(float(drift_threshold))).alias("drifted"),
    )
