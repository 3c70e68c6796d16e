"""Round-12 catalog registrations: the whole r12 queue (VERDICT r11 #1).

All eight operators were built, oracled, and driver-style-parity-pinned
in round 10 (queries_r10.py, tests/test_oracle_parity_r10.py,
tests/test_plans_r10.py); this module only registers them.  Lead order
follows the judge's ranking: the three selection/robust-scale entries
first — their ``scale.kth_element`` kernel had its boundary
double-count fixed in r11 (ADVICE r10 high), and recently-bug-fixed
code deserves driver-oracle evidence before anything else — then the
drift/encode/dedup batch.

Every cross-module reference is DEFERRED to call time (the
queries_r11.py precedent): this module runs from queries.py's
registration tail, which executes while any directly-imported
queries_r* module is still partially initialized, so a module-level
``from .queries_r10 import ...`` would crash that entry point.  The
sql fields use the Query-callable form for the same reason.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries import Query, _register
from .utils import local_frame


def _median_selection_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _median_selection_spark as _impl

    return _impl(spark, sf_dir)


def _median_selection_sql() -> str:
    from .queries_r10 import _median_selection_sql as _impl

    return _impl()


def _group_median_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _group_median_spark as _impl

    return _impl(spark, sf_dir)


def _group_median_sql() -> str:
    from .queries_r10 import _group_median_sql as _impl

    return _impl()


def _robust_scale_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _robust_scale_spark as _impl

    return _impl(spark, sf_dir)


def _robust_scale_sql() -> str:
    from .queries_r10 import _robust_scale_sql as _impl

    return _impl()


def _psi_drift_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _psi_drift_spark as _impl

    return _impl(spark, sf_dir)


def _psi_drift_sql() -> str:
    from .queries_r10 import _psi_drift_sql as _impl

    return _impl()


def _bpe_encode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _bpe_encode_spark as _impl

    return _impl(spark, sf_dir)


def _bpe_encode_sql() -> str:
    from .queries_r10 import _bpe_encode_sql as _impl

    return _impl()


def _jaccard_prefix_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _jaccard_prefix_spark as _impl

    return _impl(spark, sf_dir)


def _jaccard_prefix_sql() -> str:
    from .queries_r10 import _jaccard_prefix_sql as _impl

    return _impl()


def _qnorm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _qnorm_spark as _impl

    return _impl(spark, sf_dir)


def _qnorm_sql() -> str:
    from .queries_r10 import _qnorm_sql as _impl

    return _impl()


def _decon_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_r10 import _decon_neardup_spark as _impl

    return _impl(spark, sf_dir)


def _decon_neardup_sql() -> str:
    from .queries_r10 import _decon_neardup_sql as _impl

    return _impl()


# kth_element kernel family first (ADVICE r10 fix needs driver evidence)
_register(
    "analytic_median_selection",
    Query(spark=_median_selection_spark, sql=_median_selection_sql),
)
_register(
    "analytic_group_median_selection",
    Query(spark=_group_median_spark, sql=_group_median_sql),
)
_register(
    "analytic_robust_scale",
    Query(spark=_robust_scale_spark, sql=_robust_scale_sql),
)
_register(
    "stats_psi_drift",
    Query(spark=_psi_drift_spark, sql=_psi_drift_sql),
)
_register(
    "text_bpe_encode",
    Query(spark=_bpe_encode_spark, sql=_bpe_encode_sql),
)
_register(
    "dedup_jaccard_prefix",
    Query(spark=_jaccard_prefix_spark, sql=_jaccard_prefix_sql),
)
_register(
    "quality_quantile_normalize",
    Query(spark=_qnorm_spark, sql=_qnorm_sql),
)
_register(
    "decontaminate_neardup",
    Query(spark=_decon_neardup_spark, sql=_decon_neardup_sql),
)


# --------------------------------------------------------------------- #
# Fluent halo session with catalog-metadata hints — NEW this round
# (VERDICT r11 #6).  The existing halo twins drive the EXPLICIT scale
# kernels (lag_auto / rolling_multi_auto); this one drives the fluent
# ``Indicators(..., n_rows=, order_bounds=)`` zero-pre-job engagement
# path end-to-end: row count and order-key bounds come from parquet
# FOOTER statistics (scale.parquet_footer_stats — the stand-in for
# Delta/Iceberg column stats at 100 TB), so the session engages with no
# Spark job before the first window stage (job-count pinned in
# tests/test_plans_r12.py).  Symbol-less close series from lineitem
# (the fluent session's primary shape): Cutler RSI-14, same expression
# family as the green `lineitem_rsi`, windows global instead of
# per-symbol.  Ties on (timestamp, seq, close, volume) are bit-identical
# rows, so the lag among them is order-free on both engines.
# --------------------------------------------------------------------- #

HINTED_HALO_DEPTH = 256
HINTED_HALO_BUCKETS = 32


def _li_rsi_halo_hinted_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .core import Indicators
    from .queries import round4
    from .scale import parquet_footer_stats
    from .sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
    )
    n_rows, lo, hi = parquet_footer_stats(
        f"{sf_dir}/lineitem.parquet", "l_shipdate"
    )
    hints = (
        {"n_rows": n_rows, "order_bounds": (float(lo), float(hi))}
        if lo is not None
        else {}  # footer stats missing → the session probes (still exact)
    )
    ind = Indicators(
        p,
        order_by=("timestamp", "seq", "close", "volume"),
        halo=True,
        halo_buckets=HINTED_HALO_BUCKETS,
        halo_depth=HINTED_HALO_DEPTH,
        **hints,
    )
    ind.rsi(["close"], 14)
    df = ind.collect()
    return df.select("seq", round4(df["close_rsi_14"]).alias("close_rsi_14"))


def _li_rsi_halo_hinted_sql() -> str:
    from .queries import _gated, _r, _ws
    from .sources.prices import LINEITEM_ORDER

    return f"""
WITH prices AS (
  SELECT l_shipdate AS "timestamp",
    l_orderkey * 10 + l_linenumber AS seq,
    CAST(l_extendedprice AS DOUBLE) AS close,
    CAST(l_quantity AS DOUBLE) AS volume
  FROM lineitem
),
d AS (
  SELECT *, close - lag(close) OVER (ORDER BY {LINEITEM_ORDER}) AS delta
  FROM prices
),
g AS (
  SELECT "timestamp", seq, close, volume,
    CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0 END AS gain,
    CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN abs(delta) ELSE 0 END AS loss
  FROM d
),
a AS (
  SELECT seq,
    {_gated('avg(gain)', 'gain', 14, _ws(14, False, order=LINEITEM_ORDER))} AS ag,
    {_gated('avg(loss)', 'loss', 14, _ws(14, False, order=LINEITEM_ORDER))} AS al
  FROM g
)
SELECT seq, {_r('100 - 100/(1 + ag/NULLIF(al, 0))', 'close_rsi_14')} FROM a"""


_register(
    "lineitem_rsi_halo_hinted",
    Query(spark=_li_rsi_halo_hinted_spark, sql=_li_rsi_halo_hinted_sql),
)


# --------------------------------------------------------------------- #
# IVF search THROUGH a maintained index — NEW this round.  Driver
# evidence for `similarity.knn_ivf_from_index` (the query-time consumer
# of the streaming `IvfIndexIngestSink`): the index is materialized
# batch-side via the shared `ivf_assign_cells` (exactly what the sink
# lands per epoch), then the search runs off the skinny (id, cid, norm)
# map with vectors joined back by id.  Output is DEFINED bit-identical
# to `knn_ivf` at the same (k, nprobe) — the probe and re-rank are the
# same `_ivf_search` expressions — so the oracle is the registered
# sibling's relational IVF replay verbatim (the `lineitem_rsi_halo`
# twin-row precedent: a second registered query whose purpose is the
# other execution strategy).
# --------------------------------------------------------------------- #


def _knn_ivf_from_index_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions import similarity
    from .queries import round4
    from .queries_ext import _emb

    emb = _emb(spark, sf_dir)
    cents = similarity.ivf_centroids(emb, 16)
    index = similarity.ivf_assign_cells(emb, cents).select(
        F.col("nid").alias("vec_id"),
        "cid",
        F.col("nn").alias("norm"),
    )
    return similarity.knn_ivf_from_index(
        emb,
        index,
        emb.filter(F.col("vec_id") < 10),
        cents,
        k=5,
        nprobe=4,
    ).select("qid", "nid", "rank", round4(F.col("cos")).alias("cos"))


def _knn_ivf_from_index_sql() -> str:
    from .queries import QUERIES

    return QUERIES["similarity_knn_ivf"].sql_text


_register(
    "similarity_knn_ivf_index",
    Query(spark=_knn_ivf_from_index_spark, sql=_knn_ivf_from_index_sql),
)


# --------------------------------------------------------------------- #
# Weighted exact selection — PREPARED for r13 registration (the
# one-round-early discipline; this round's ~50 slots are committed to
# 10 new rows + 4 touched + the r6-era rotation).  Driver evidence for
# `scale.kth_element_weighted` (see its docstring: Spark has no exact
# weighted percentile, and the relational cumulative-weight form pays a
# SinglePartition sort): quantity-weighted median and p90 of
# l_extendedprice — every unit of quantity counts as one observation of
# its line's price.  Integral weights make the weight sums exact and
# accumulation-order-free, so the oracle is a pure ORDER-STATISTIC
# replay (cumulative-weight window at integer ranks) with zero
# cross-engine float surface, the `analytic_median_selection` contract.
# Local parity pinned at both SFs in tests/test_oracle_parity_r12.py;
# kernel brute-force/ties/guards/hypothesis pins in
# tests/test_weighted_selection.py.
# --------------------------------------------------------------------- #


def _weighted_median_selection_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from .queries import round4
    from .scale import kth_elements_weighted
    from .sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    # multi-rank form (VERDICT r12 #2): the former eager total-weight
    # agg folds into the kernel's bounds pass, and the token-weighted
    # median + p90 refine in SHARED histogram scans; frac targets
    # resolve to exactly the oracle's (W+1)//2 and (9W+9)//10 ranks
    total, res = kth_elements_weighted(
        li, "l_extendedprice", "l_quantity", fracs=[0.5, 0.9],
        final_rows=4096,
    )
    row = local_frame(
        spark,
        [(total, float(res[0.5]), float(res[0.9]))],
        "total_w long, wmedian double, wp90 double",
    )
    return row.select(
        "total_w",
        round4(F.col("wmedian")).alias("wmedian"),
        round4(F.col("wp90")).alias("wp90"),
    )


def _weighted_median_selection_sql() -> str:
    from .queries import _r

    return f"""
WITH v AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
    CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
tot AS (SELECT sum(w) AS tw FROM v),
r AS (SELECT x, sum(w) OVER (ORDER BY x) AS cw FROM v)
SELECT CAST(tot.tw AS BIGINT) AS total_w,
  {_r("(SELECT min(x) FROM r WHERE cw >= (tot.tw + 1) // 2)", "wmedian")},
  {_r("(SELECT min(x) FROM r WHERE cw >= (9 * tot.tw + 9) // 10)", "wp90")}
FROM tot"""


def _group_weighted_median_spark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source weighted median — PREPARED for r13 registration: the
    grouped composition (`scale.kth_element_by_group_weighted`),
    quantity-weighted median l_extendedprice per l_returnflag.  Same
    zero-float-surface order-statistic oracle as the global form."""
    from pyspark.sql import functions as F

    from .queries import round4
    from .scale import kth_element_by_group_weighted
    from .sources.prices import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = kth_element_by_group_weighted(
        li,
        "l_extendedprice",
        "l_quantity",
        "l_returnflag",
        frac=0.5,
        final_rows=4096,
    )
    return out.select(
        "l_returnflag",
        "total_w",
        "wk",
        round4(F.col("value")).alias("wmedian"),
    )


def _group_weighted_median_sql() -> str:
    from .queries import _r

    return f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x,
    CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_returnflag IS NOT NULL
),
t AS (SELECT g, sum(w) AS tw FROM v GROUP BY g),
r AS (SELECT g, x, sum(w) OVER (PARTITION BY g ORDER BY x) AS cw FROM v)
SELECT t.g AS l_returnflag, CAST(t.tw AS BIGINT) AS total_w,
  CAST((t.tw + 1) // 2 AS BIGINT) AS wk,
  {_r(
      "(SELECT min(x) FROM r WHERE r.g = t.g AND cw >= (t.tw + 1) // 2)",
      "wmedian",
  )}
FROM t"""


# Registered THIS round after all: with the queue cleared, the ~50-slot
# budget holds 12 new + 4 touched + 34 rotation slots — still reaching
# the whole r6-era §2a block — and the freshly-written weighted kernels
# are exactly the code driver evidence serves best (the VERDICT r11
# lead-order rationale).
_register(
    "analytic_weighted_median_selection",
    Query(
        spark=_weighted_median_selection_spark,
        sql=_weighted_median_selection_sql,
    ),
)
_register(
    "analytic_group_weighted_median",
    Query(
        spark=_group_weighted_median_spark,
        sql=_group_weighted_median_sql,
    ),
)
