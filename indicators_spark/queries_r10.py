"""Round-10 catalog additions: preps for r11/r12 registration.

Round 10's 50 verification slots are exactly committed (3 r9-prepared
registrations in queries_r9.py + the 47 r4-era rotations — VERDICT r9
#1/#2), so everything here follows the one-round-early discipline:
built, oracle'd, and driver-style-parity-pinned NOW
(tests/test_oracle_parity_r10.py, tests/test_plans_r10.py), registered
when slots open.

Queue order (VERDICT r9 #3/#4):

* r11: ``similarity_kcenter_carry`` (below), plus the two r9 preps
  ``dedup_lines_within_doc`` and ``text_bpe_merges`` (queries_r9.py).
* r12: ``stats_psi_drift`` and ``text_bpe_encode`` (below).
* r12+: ``dedup_jaccard_prefix``, ``quality_quantile_normalize``,
  ``decontaminate_neardup``, ``analytic_median_selection``, and
  ``analytic_group_median_selection``, and ``analytic_robust_scale``
  (r10 builds, below).

All eight REGISTERED in round 12 via queries_r12.py — the queue is
empty; this module keeps the implementations and oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries import Query, _register  # noqa: F401  (used at registration)
from .sources.prices import load_table
from .utils import local_frame

# NOTE: no module-level import from .queries_r9 — queries.py's tail
# imports THIS module for registration side-effects, so an eager
# queries_r9 import here turns a direct `import queries_r9` entry (a
# solo test run) into a circular-import crash against the partially
# initialized module.  The BPE constants/generators are imported inside
# the functions that use them instead.

# --------------------------------------------------------------------- #
# k-center greedy, CARRY form — PREPARED for r11 registration (VERDICT
# r9 #3).  The registered `similarity_kcenter_select` (k=6) runs the
# literal-chain form; the `carry_min=True` dispatch arm (similarity.py
# `kcenter_select`, O(k·n·d) via per-superstep localCheckpoint of the
# running min) is pinned bit-identical locally (tests/test_kcenter.py)
# but has never produced driver evidence.  This twin runs k=10 with
# carry_min forced on, against the SAME unrolled-CTE oracle shape at
# the larger k — the `lineitem_rsi_halo` precedent: a second registered
# query whose only purpose is driver evidence for the other dispatch
# arm.  k=10 also sits ABOVE the auto-dispatch point (KCENTER_CARRY_K
# = 8), so the registered row exercises exactly the arm a defaulting
# caller would get at that k.
# --------------------------------------------------------------------- #

KC_CARRY_K = 10


def _kcenter_carry_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import similarity
    from .queries_ext import _emb

    return similarity.kcenter_select(
        _emb(spark, sf_dir), k=KC_CARRY_K, carry_min=True
    )


def _kcenter_carry_sql(k: int = KC_CARRY_K) -> str:
    # the oracle replays the greedy TRAJECTORY, which both forms produce
    # bit-identically (min associativity over the same fold-exact
    # doubles — pinned in test_kcenter.py), so the k=6 generator is
    # reused verbatim at k=10
    from .queries_r8 import _kcenter_sql

    return _kcenter_sql(k=k)


# --------------------------------------------------------------------- #
# Per-source PSI drift — PREPARED for r12 registration.  The scorecard/
# model-monitoring counterpart of `stats_ks_drift`: Population
# Stability Index of each source's n_chars distribution against the
# pooled corpus over the pool's decile bands, with the industry 0.2
# drift cut (functions/drift.py:psi_drift_by_group for semantics and
# the 100 TB shape).  Local parity pinned in
# tests/test_oracle_parity_r10.py; plan pinned in tests/test_plans_r10.py.
# --------------------------------------------------------------------- #

PSI_BINS = 10


def _psi_drift_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.drift import psi_drift_by_group

    docs = load_table(spark, sf_dir, "documents")
    return psi_drift_by_group(
        docs, value_col="n_chars", group_col="source", bins=PSI_BINS
    )


def _psi_drift_sql(bins: int = PSI_BINS) -> str:
    from .functions.drift import PSI_DRIFT_THRESHOLD
    from .functions.sampling import edge_q4_sql

    fracs = [i / bins for i in range(1, bins)]
    e_cols = ", ".join(
        f"{edge_q4_sql(f'quantile_cont(v, {q})')} AS e{i}"
        for i, q in enumerate(fracs, 1)
    )
    bucket = " + ".join(f"CAST(v > e{i} AS INT)" for i in range(1, bins))
    return f"""
WITH base AS (
  SELECT source AS g, CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
),
e AS (SELECT {e_cols} FROM base),
cell AS (
  SELECT g, ({bucket}) AS b, count(*) AS c FROM base, e GROUP BY g, 2
),
grp AS (SELECT g, sum(c) AS n FROM cell GROUP BY g),
poolb AS (SELECT b, sum(c) AS cp FROM cell GROUP BY b),
scal AS (SELECT sum(cp) AS tot, count(*) AS nb FROM poolb),
grid AS (
  SELECT grp.g, grp.n, poolb.b, poolb.cp, scal.tot, scal.nb,
    COALESCE(cell.c, 0) AS c
  FROM poolb CROSS JOIN grp CROSS JOIN scal
  LEFT JOIN cell ON cell.g = grp.g AND cell.b = poolb.b
),
terms AS (
  SELECT g, n,
    CAST(c + 1 AS DOUBLE) / CAST(n + nb AS DOUBLE) AS pg,
    CAST(cp + 1 AS DOUBLE) / CAST(tot + nb AS DOUBLE) AS pp
  FROM grid
),
psi AS (
  -- terms snapped to the 1e-9 integer grid before the sum: integer
  -- addition is order-free, so the statistic cannot depend on either
  -- engine's accumulation order (mirrors psi_drift_by_group)
  SELECT g, n,
    CAST(sum(floor((pg - pp) * ln(pg / pp) * 1e9 + 0.500000001))
         AS DOUBLE) / 1e9 AS psi_raw
  FROM terms GROUP BY g, n
)
SELECT g AS source, CAST(n AS BIGINT) AS n,
  floor(psi_raw * 1e4 + 0.500000001) / 1e4 AS psi,
  psi_raw > {PSI_DRIFT_THRESHOLD} AS drifted
FROM psi"""


# --------------------------------------------------------------------- #
# BPE encoding with a corpus-learned table — PREPARED for r12
# registration.  Driver evidence for the ENCODER half of the BPE family
# (`text.bpe_apply_merges`, currently local-pins-only): learn the first
# 4 merges on the documents corpus (the same trajectory the
# `text_bpe_merges` prep verifies), then encode every document with
# them and emit the per-doc post-merge token count.  The oracle replays
# BOTH halves in one statement: the trainer's unrolled m1..m4 CTEs
# (shared generator `_bpe_trainer_ctes`), then per-word char-split +
# the same four literal-replace merge steps, summed per document — so a
# hash match certifies train→encode parity end-to-end, not just the
# encoder in isolation.  Runs the DEFAULT encode arm — since r11 the
# Arrow rank-dict UDF at any table size (bench_scale.py measured it
# faster than the expression chain at every size); the opt-in chain arm
# stays pinned count-identical locally
# (tests/test_oracle_parity_r9.py::test_bpe_apply_merges_roundtrip).
# Output is keyed on non-NULL doc_id (the join-replay contract; a NULL
# id cannot be joined back portably), NULL text → NULL count, empty
# text → 0.
# --------------------------------------------------------------------- #


def _bpe_encode_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.text import bpe_apply_merges, bpe_learn_merges
    from .queries_r9 import BPE_MAX_WORD, BPE_MERGES

    docs = load_table(spark, sf_dir, "documents")
    # trainer input = the full corpus (identical to text_bpe_merges);
    # the 4 learned pairs are the usual K-driver-literals budget
    # explicit rank order: collect() row order is contract-free for an
    # unsorted DataFrame, and an out-of-rank-order table would encode
    # silently wrong (r10 review)
    merges = [
        r["pair"]
        for r in bpe_learn_merges(
            docs, n_merges=BPE_MERGES, max_word_len=BPE_MAX_WORD
        )
        .orderBy("rank")
        .collect()
    ]
    enc_in = docs.select("doc_id", "text").filter(F.col("doc_id").isNotNull())
    return bpe_apply_merges(
        enc_in, merges, max_word_len=BPE_MAX_WORD
    ).select("doc_id", "bpe_tokens")


def _bpe_encode_sql(
    k: int | None = None, max_word: int | None = None
) -> str:
    from .queries_r9 import (
        BPE_MAX_WORD,
        BPE_MERGES,
        _bpe_char_split_sql,
        _bpe_merge_step_sql,
        _bpe_trainer_ctes,
    )

    k = BPE_MERGES if k is None else k
    max_word = BPE_MAX_WORD if max_word is None else max_word
    ctes = _bpe_trainer_ctes(k, max_word)
    # per-word occurrence stream of the ENCODE side (non-NULL ids)
    ctes.append(
        f"""dw AS (
  SELECT doc_id, substring(w, 1, {max_word}) AS w FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
  WHERE w != ''
)"""
    )
    ctes.append(f"s0 AS (SELECT doc_id, {_bpe_char_split_sql('w')} AS s FROM dw)")
    for t in range(1, k + 1):
        step = _bpe_merge_step_sql("s", f"(SELECT pr FROM m{t})")
        ctes.append(f"s{t} AS (SELECT doc_id, {step} AS s FROM s{t - 1})")
    ctes.append(
        f"""tok AS (
  SELECT doc_id, CAST(sum(len(string_split(s, '  '))) AS BIGINT) AS tok
  FROM s{k} GROUP BY doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT d.doc_id,
  CASE WHEN d.text IS NULL THEN NULL
       ELSE COALESCE(t.tok, 0) END AS bpe_tokens
FROM documents d LEFT JOIN tok t ON t.doc_id = d.doc_id
WHERE d.doc_id IS NOT NULL"""
    )


# --------------------------------------------------------------------- #
# Prefix-filtered Jaccard join — PREPARED for r12+ registration.  Driver
# evidence for `dedup.jaccard_prefix_pairs` (AllPairs/PPJoin candidate
# generation — see its docstring for the theorem and the 100 TB case).
# Output is DEFINED identical to the plain posting-list operator at the
# same settings (pinned in tests/test_oracle_parity_r10.py), so the
# oracle is the plain relational Jaccard spec — the registered row then
# certifies the prefix path against engine-independent truth, the
# `lineitem_rsi_halo` precedent of a twin row whose purpose is the other
# execution strategy.  τ = 0.7 (vs the sibling's 0.8) exercises DEEPER
# prefixes — more of the candidate machinery per doc.
# --------------------------------------------------------------------- #

JP_THRESHOLD = 0.7
JP_MAX_DF_FRAC = 0.8


def _jaccard_prefix_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions import dedup
    from .queries import round4

    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_pairs(
        docs, threshold=JP_THRESHOLD, max_df_frac=JP_MAX_DF_FRAC
    ).select("ia", "ib", round4(F.col("jaccard")).alias("jaccard"))


def _jaccard_prefix_sql(
    threshold: float = JP_THRESHOLD, max_df_frac: float = JP_MAX_DF_FRAC
) -> str:
    from .queries import _r

    return f"""
WITH toks0 AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
dfreq AS (
  SELECT tok, count(*) AS df FROM toks0 GROUP BY tok
),
ndocs AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
),
toks AS (
  SELECT t.id, t.tok
  FROM toks0 t JOIN dfreq f ON f.tok = t.tok, ndocs
  WHERE f.df <= n_docs * {max_df_frac}
),
sizes AS (
  SELECT id, count(*) AS sz FROM toks GROUP BY id
),
shared AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
  GROUP BY a.id, b.id
),
j AS (
  SELECT ia, ib,
    CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
  FROM shared
  JOIN sizes sa ON sa.id = ia
  JOIN sizes sb ON sb.id = ib
)
SELECT ia, ib, {_r("jaccard", "jaccard")} FROM j
WHERE jaccard >= {threshold}"""


# --------------------------------------------------------------------- #
# Per-source quality-score quantile normalization — PREPARED for r12+
# registration.  Calibrates each source's n_chars profile onto the
# pooled corpus distribution (sampling.quantile_normalize_by_group):
# within-source percent_rank → pooled interpolated quantile at that
# rank, with the interpolation INDEX in exact integer arithmetic so the
# kept values replay bit-for-bit in the oracle.  The Spark side runs the
# range-bucket rank kernels (grouped_row_number / global_row_number) —
# no per-source single-task window — while the oracle states the same
# semantics with plain window functions.
# --------------------------------------------------------------------- #


def _qnorm_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.sampling import quantile_normalize_by_group
    from .queries import round4

    docs = load_table(spark, sf_dir, "documents")
    out = quantile_normalize_by_group(
        docs, value_col="n_chars", group_col="source", key_col="doc_id"
    )
    return out.select(
        "doc_id",
        "source",
        F.col("_v").cast("long").alias("n_chars"),
        round4(F.col("_pct")).alias("src_pct"),
        round4(F.col("_calib")).alias("calib"),
    )


_QNORM_SQL = """
WITH base AS (
  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v
  FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL AND doc_id IS NOT NULL
),
g AS (
  SELECT doc_id, source, v,
    row_number() OVER (PARTITION BY source ORDER BY v, doc_id) AS r,
    count(*) OVER (PARTITION BY source) AS n
  FROM base
),
p AS (
  SELECT v AS pv, row_number() OVER (ORDER BY v, doc_id) AS gidx FROM base
),
scal AS (SELECT count(*) AS ntot FROM base),
calc AS (
  SELECT doc_id, source, v, r, n,
    CASE WHEN n > 1 THEN ((r - 1) * (ntot - 1)) // (n - 1) ELSE 0 END AS idx,
    CASE WHEN n > 1 THEN ((r - 1) * (ntot - 1)) % (n - 1) ELSE 0 END AS rem
  FROM g, scal
),
jn AS (
  SELECT c.*, lo.pv AS vlo, COALESCE(hi.pv, lo.pv) AS vhi
  FROM calc c
  JOIN p lo ON lo.gidx = c.idx + 1
  LEFT JOIN p hi ON hi.gidx = c.idx + 2
)
SELECT doc_id, source, CAST(v AS BIGINT) AS n_chars,
  {pct}, {calib}
FROM jn"""


def _qnorm_sql() -> str:
    from .queries import _r

    pct = _r(
        "CASE WHEN n > 1 THEN CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)"
        " ELSE 0.0 END",
        "src_pct",
    )
    calib = _r(
        "vlo + (vhi - vlo) * (CASE WHEN n > 1 THEN"
        " CAST(rem AS DOUBLE) / CAST(n - 1 AS DOUBLE) ELSE 0.0 END)",
        "calib",
    )
    return _QNORM_SQL.format(pct=pct, calib=calib)


# --------------------------------------------------------------------- #
# Fuzzy decontamination (R–S set-similarity join) — PREPARED for r12+
# registration.  `dedup.jaccard_join_prefix` of the corpus against a
# held-out "benchmark" slice (doc_id % 20 == 0): every corpus document
# that near-duplicates a benchmark document at token-Jaccard ≥ 0.7 —
# the lightly-edited-overlap complement of `decontaminate_ngram`'s
# exact 8-gram rule.  The oracle replays the plain cross-side Jaccard
# relationally (prefix filtering is output-neutral by the AllPairs
# theorem, pinned in tests), over the same union-side token df prune.
# --------------------------------------------------------------------- #

DECON_MOD = 20
DECON_THRESHOLD = 0.7
DECON_MAX_DF_FRAC = 0.8


def _decon_neardup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.dedup import jaccard_join_prefix
    from .queries import round4

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) != 0)
    out = jaccard_join_prefix(
        corpus,
        bench,
        threshold=DECON_THRESHOLD,
        max_df_frac=DECON_MAX_DF_FRAC,
    )
    return out.select(
        F.col("ia").alias("doc_id"),
        F.col("ib").alias("bench_id"),
        round4(F.col("jaccard")).alias("jaccard"),
    )


def _decon_neardup_sql(
    mod: int = DECON_MOD,
    threshold: float = DECON_THRESHOLD,
    max_df_frac: float = DECON_MAX_DF_FRAC,
) -> str:
    from .queries import _r

    return f"""
WITH toks0 AS (
  SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
dfreq AS (
  SELECT tok, count(*) AS df FROM toks0 GROUP BY tok
),
ndocs AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
),
toks AS (
  SELECT t.id, t.tok
  FROM toks0 t JOIN dfreq f ON f.tok = t.tok, ndocs
  WHERE f.df <= n_docs * {max_df_frac}
),
corp AS (SELECT * FROM toks WHERE id % {mod} != 0),
bench AS (SELECT * FROM toks WHERE id % {mod} = 0),
sza AS (SELECT id, count(*) AS sz FROM corp GROUP BY id),
szb AS (SELECT id, count(*) AS sz FROM bench GROUP BY id),
shared AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS shared
  FROM corp a JOIN bench b ON a.tok = b.tok
  GROUP BY a.id, b.id
),
j AS (
  SELECT ia, ib,
    CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) AS jaccard
  FROM shared
  JOIN sza sa ON sa.id = ia
  JOIN szb sb ON sb.id = ib
)
SELECT ia AS doc_id, ib AS bench_id, {_r("jaccard", "jaccard")} FROM j
WHERE jaccard >= {threshold}"""


# --------------------------------------------------------------------- #
# Exact global order statistics by iterative range refinement — PREPARED
# for r12+ registration.  Driver evidence for `scale.kth_element` (see
# its docstring: selection without a global sort and without buffering
# values in an aggregation buffer, the way Spark's exact `percentile`
# does).  The oracle states pure ORDER-STATISTIC semantics (row_number
# over the sorted column at integer ranks) — no algorithm replay needed,
# so there is no cross-engine float surface at all: the k-th value IS
# the data.  `final_rows` is set low so the sf0.01 run genuinely
# exercises ≥ 1 histogram-refinement pass before the residue aggregate.
# --------------------------------------------------------------------- #


def _median_selection_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .queries import round4
    from .scale import kth_elements

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    # multi-rank form (VERDICT r12 #2): the eager count folds into the
    # kernel's bounds pass, and median + p90 refine in SHARED histogram
    # scans — frac targets resolve to exactly the oracle's (n+1)//2 and
    # (9n+9)//10 ranks via the kernel's integer-rational ceil
    n, res = kth_elements(
        li, "l_extendedprice", fracs=[0.5, 0.9], final_rows=4096
    )
    row = local_frame(
        spark,
        [(n, float(res[0.5]), float(res[0.9]))],
        "n long, median double, p90 double",
    )
    return row.select(
        F.col("n"),
        round4(F.col("median")).alias("median"),
        round4(F.col("p90")).alias("p90"),
    )


def _median_selection_sql() -> str:
    from .queries import _r

    return f"""
WITH v AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
n AS (SELECT count(*) AS n FROM v),
r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
SELECT CAST(n.n AS BIGINT) AS n,
  {_r("(SELECT x FROM r WHERE rn = (n.n + 1) // 2)", "median")},
  {_r("(SELECT x FROM r WHERE rn = (9 * n.n + 9) // 10)", "p90")}
FROM n"""


# --------------------------------------------------------------------- #
# Per-group exact median by simultaneous range refinement — PREPARED for
# r12+ registration.  Driver evidence for `scale.kth_element_by_group`:
# exact lower median of l_extendedprice per l_returnflag, all groups
# refined in shared passes (one (group,bucket) histogram scan per round
# for EVERY unresolved group — a thousand sources cost the same scans
# as one).  Pure order-statistic oracle again: no algorithm replay, no
# cross-engine float surface.
# --------------------------------------------------------------------- #


def _group_median_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .queries import round4
    from .scale import kth_element_by_group

    li = load_table(spark, sf_dir, "lineitem")
    out = kth_element_by_group(
        li, "l_extendedprice", "l_returnflag", frac=0.5, final_rows=4096
    )
    return out.select(
        F.col("l_returnflag"),
        F.col("n"),
        F.col("k"),
        round4(F.col("value")).alias("median"),
    )


def _group_median_sql() -> str:
    from .queries import _r

    return f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
),
r AS (
  SELECT g, x,
    row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM v
)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
  CAST((n + 1) // 2 AS BIGINT) AS k, {_r("x", "median")}
FROM r WHERE rn = (n + 1) // 2"""


# --------------------------------------------------------------------- #
# Per-source robust scaling (median/MAD z-scores) — PREPARED for r12+
# registration.  `sampling.robust_scale_by_group` composes TWO passes of
# the grouped selection kernel (median, then median absolute deviation)
# — both exact order statistics, so the score expression replays
# bit-for-bit in SQL with no interpolation surface.  Same 1.4826·MAD
# convention and ÷0→NULL policy as the registered `events_anomaly_mad`.
# --------------------------------------------------------------------- #


def _robust_scale_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.sampling import robust_scale_by_group
    from .queries import round4

    docs = load_table(spark, sf_dir, "documents")
    out = robust_scale_by_group(
        docs, value_col="n_chars", group_col="source", key_col="doc_id"
    )
    return out.select(
        "doc_id",
        "source",
        F.col("_v").cast("long").alias("n_chars"),
        round4(F.col("_rz")).alias("rz"),
    )


def _robust_scale_sql() -> str:
    from .functions.sampling import MAD_SIGMA
    from .queries import _r

    return f"""
WITH v AS (
  SELECT doc_id, source AS g, CAST(n_chars AS DOUBLE) AS x
  FROM documents
  WHERE n_chars IS NOT NULL AND source IS NOT NULL AND doc_id IS NOT NULL
),
r1 AS (
  SELECT g, x,
    row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM v
),
med AS (SELECT g, x AS med FROM r1 WHERE rn = (n + 1) // 2),
d AS (
  SELECT v.doc_id, v.g, v.x, med.med, abs(v.x - med.med) AS ad
  FROM v JOIN med USING (g)
),
r2 AS (
  SELECT g, ad,
    row_number() OVER (PARTITION BY g ORDER BY ad) AS rn,
    count(*) OVER (PARTITION BY g) AS n
  FROM d
),
mad AS (SELECT g, ad AS mad FROM r2 WHERE rn = (n + 1) // 2)
SELECT d.doc_id, d.g AS source, CAST(d.x AS BIGINT) AS n_chars,
  {_r(f"(d.x - d.med) / NULLIF({MAD_SIGMA} * mad.mad, 0)", "rz")}
FROM d JOIN mad USING (g)"""
