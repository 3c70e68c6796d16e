"""Round-7 catalog additions: DSIR importance resampling and the
deterministic epoch shuffle — the two data-selection primitives the r5/r6
briefs carried (plus the sketch-path quality filter registered in
queries_corpus).  Registered last so the never-green-first ordering puts
them at the head of the driver's verification list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import queries_pipeline as _PIPE
from .functions import sampling
from .queries import Query, _r, _register
from .sources.prices import load_table
from .utils import local_frame


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------- #
# DSIR importance resampling (Xie et al. 2023)
# --------------------------------------------------------------------- #

DSIR_K, DSIR_B, DSIR_ALPHA = 120, 1024, 1.0
DSIR_SEED, DSIR_USEED = "dsir", "dsir-u"
#: target distribution: the English slice (the "high-quality reference"
#: role); raw = the whole corpus.
DSIR_TARGET_LANG = "en"


def _dsir_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == DSIR_TARGET_LANG)
    out = sampling.dsir_sample(
        docs,
        target,
        k=DSIR_K,
        buckets=DSIR_B,
        seed=DSIR_SEED,
        alpha=DSIR_ALPHA,
        u_seed=DSIR_USEED,
    )
    return out.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("dsir_logw") * 1e4 + F.lit(0.500000001)) / 1e4).alias(
            "dsir_logw"
        ),
        "dsir_score",
    )


_BKT = sampling.bucket_sql("tok", DSIR_SEED, DSIR_B)
_U = sampling.unit_sql("doc_id", DSIR_USEED)

_DSIR_SQL = f"""
WITH rawf AS (
  SELECT doc_id, {_BKT} AS bkt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL)
),
tgtf AS (
  SELECT doc_id, {_BKT} AS bkt
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND lang = '{DSIR_TARGET_LANG}')
),
tc AS (SELECT bkt, count(*) AS tc FROM tgtf GROUP BY 1),
rc AS (SELECT bkt, count(*) AS rc FROM rawf GROUP BY 1),
tt AS (SELECT count(*) AS tt FROM tgtf),
rt AS (SELECT count(*) AS rt FROM rawf),
ratio AS (
  SELECT r.bkt,
    ln((COALESCE(t.tc, 0) + {DSIR_ALPHA}) / (tt.tt + {DSIR_ALPHA} * {DSIR_B}))
    - ln((r.rc + {DSIR_ALPHA}) / (rt.rt + {DSIR_ALPHA} * {DSIR_B})) AS lr
  FROM rc r LEFT JOIN tc t USING (bkt), tt, rt
),
lw AS (
  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
    sum(r.lr) AS dsir_logw
  FROM rawf f JOIN ratio r USING (bkt) GROUP BY 1
),
scored AS (
  SELECT doc_id, n_tokens, dsir_logw,
    floor((ln(-ln({_U})) - dsir_logw) * 1e4 + 0.500000001) / 1e4 AS s
  FROM lw
)
SELECT doc_id, n_tokens, {_r('dsir_logw', 'dsir_logw')},
  s AS dsir_score
FROM scored ORDER BY s, doc_id LIMIT {DSIR_K}"""


_register("sample_dsir", Query(spark=_dsir_spark, sql=_DSIR_SQL))


# --------------------------------------------------------------------- #
# Deterministic epoch shuffle (hash permutation, no global sort)
# --------------------------------------------------------------------- #

EPOCH = 3
EPOCH_SEED = "ep"


def _epoch_shuffle_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = sampling.epoch_shuffle(
        docs, key="doc_id", epoch=EPOCH, seed=EPOCH_SEED
    )
    return out.select("doc_id", "epoch_pos")


# --------------------------------------------------------------------- #
# Gopher hard quality rules (Rae et al. 2021 §A1.1)
# --------------------------------------------------------------------- #

_GFLAGS = (
    "ok_word_count",
    "ok_avg_word_len",
    "ok_symbol_ratio",
    "ok_bullet_lines",
    "ok_ellipsis_lines",
    "ok_alpha_words",
    "ok_stopwords",
    "keep",
)


def _gopher_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import gopher_rules

    out = gopher_rules(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_words",
        *[F.col(f).cast("long").alias(f) for f in _GFLAGS],
    )


def _gopher_flag_exprs() -> dict[str, str]:
    """DuckDB Gopher rule flags over columns ``text`` / ``ws`` / ``ls``
    (shared by the standalone query and the ensemble vote)."""
    from .functions import text as T

    stop = ", ".join(f"'{s}'" for s in T.STOPWORDS)
    n = "CAST(len(ws) AS DOUBLE)"
    nl = "CAST(len(ls) AS DOUBLE)"
    return {
        "ok_word_count": f"({n} >= {T.GOPHER_MIN_WORDS} AND {n} <= {T.GOPHER_MAX_WORDS})",
        "ok_avg_word_len": (
            f"((length(text) - ({n} - 1)) / {n} >= {T.GOPHER_MIN_AVG_LEN}"
            f" AND (length(text) - ({n} - 1)) / {n} <= {T.GOPHER_MAX_AVG_LEN})"
        ),
        "ok_symbol_ratio": (
            "((length(text) - length(replace(text, '#', ''))"
            " + (length(text) - length(replace(text, '...', ''))) / 3)"
            f" / {n} <= {T.GOPHER_MAX_SYMBOL_RATIO})"
        ),
        "ok_bullet_lines": (
            "(CAST(len(list_filter(ls, x -> starts_with(x, '-')"
            " OR starts_with(x, '*') OR starts_with(x, '•'))) AS DOUBLE)"
            f" / {nl} <= {T.GOPHER_MAX_BULLET_FRAC})"
        ),
        "ok_ellipsis_lines": (
            "(CAST(len(list_filter(ls, x -> ends_with(x, '...'))) AS DOUBLE)"
            f" / {nl} <= {T.GOPHER_MAX_ELLIPSIS_FRAC})"
        ),
        "ok_alpha_words": (
            "(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))"
            f" AS DOUBLE) / {n} >= {T.GOPHER_MIN_ALPHA_WORD_FRAC})"
        ),
        "ok_stopwords": (
            f"(len(list_filter(ws, x -> x IN ({stop})))"
            f" >= {T.GOPHER_MIN_STOPWORD_HITS})"
        ),
    }


def _gopher_sql() -> str:
    flags = _gopher_flag_exprs()
    cols = [
        f"CAST(COALESCE({expr}, false) AS BIGINT) AS {name}"
        for name, expr in flags.items()
    ]
    keep = " AND ".join(f"COALESCE({expr}, false)" for expr in flags.values())
    return f"""
WITH t AS (
  SELECT doc_id, text,
    string_split(text, ' ') AS ws,
    string_split(text, chr(10)) AS ls
  FROM documents
)
SELECT doc_id,
  CAST(len(ws) AS BIGINT) AS n_words,
  {", ".join(cols)},
  CAST(({keep}) AS BIGINT) AS keep
FROM t"""


_register("filter_gopher_rules", Query(spark=_gopher_spark, sql=_gopher_sql()))


# --------------------------------------------------------------------- #
# DSIR full-corpus weights (the audit view of sample_dsir)
# --------------------------------------------------------------------- #


def _dsir_weights_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == DSIR_TARGET_LANG)
    lw = sampling.dsir_log_weights(
        docs, target, buckets=DSIR_B, seed=DSIR_SEED, alpha=DSIR_ALPHA
    )
    return lw.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("dsir_logw") * 1e4 + F.lit(0.500000001)) / 1e4).alias(
            "dsir_logw"
        ),
    )


#: Same CTE chain as _DSIR_SQL, stopping at the per-doc weights (every
#: raw doc, not the resampled top-k) — broader value-hash evidence for
#: the feature/ratio arithmetic itself.
_DSIR_W_SQL = (
    _DSIR_SQL.split(",\nscored AS")[0]
    + f"""
SELECT doc_id, n_tokens, {_r('dsir_logw', 'dsir_logw')}
FROM lw"""
)

_register(
    "sample_dsir_weights", Query(spark=_dsir_weights_spark, sql=_DSIR_W_SQL)
)


_register(
    "sample_epoch_shuffle",
    Query(
        spark=_epoch_shuffle_spark,
        sql=f"""
SELECT doc_id,
  CAST(row_number() OVER (
    ORDER BY md5(concat('{EPOCH_SEED}{EPOCH}|',
      COALESCE(CAST(doc_id AS VARCHAR), '{sampling.NULL_KEY}'))), doc_id
  ) AS BIGINT) AS epoch_pos
FROM documents""",
    ),
)


# --------------------------------------------------------------------- #
# Corpus-wide line dedup (CCNet/RefinedWeb boilerplate pass) and C4
# rule cleaning (Raffel et al. 2020 §2.2).  The synthetic documents are
# single-line and unpunctuated, so both queries first derive a
# deterministic multi-line corpus (fixed-k word chunks as "lines"; C4
# additionally flips an md5 coin per line for terminal punctuation) —
# identical derivation on both engines, so the value hash covers the
# REMOVAL paths, not just passthrough.
# --------------------------------------------------------------------- #

LINE_K, LINE_MIN_DF = 3, 2
C4_K = 5
_PUNCT_HEX = tuple("01234567")


def _lineify(docs: DataFrame, k: int, punct: bool = False) -> DataFrame:
    from .functions.text import words

    # PROJECT the split before the chunk lambda: Spark does no CSE
    # inside lambda functions (the word_bigram_structs trap), so an
    # unprojected `ws` would re-split the WHOLE document once per chunk
    # — O(words²/k) per doc, quadratic in document length (r13; at the
    # bench corpus' short docs it is a wash, at real page lengths it is
    # the difference between linear and quadratic lineification).
    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", words(F.col("text")).alias("_ws")
    )
    ws = F.col("_ws")
    nch = F.floor((F.size(ws) + (k - 1)) / k).cast("long")

    def mk(i):  # noqa: ANN001, ANN202
        line = F.concat_ws(" ", F.slice(ws, (i * k + 1).cast("int"), k))
        if punct:
            line = F.when(
                F.substring(F.md5(line), 1, 1).isin(*_PUNCT_HEX),
                F.concat(line, F.lit(".")),
            ).otherwise(line)
        return line

    chunks = F.transform(F.sequence(F.lit(0).cast("long"), nch - 1), mk)
    return base.select("doc_id", F.array_join(chunks, "\n").alias("text"))


def _lineify_sql(k: int, punct: bool = False) -> str:
    line = f"array_to_string(list_slice(ws, i*{k}+1, i*{k}+{k}), ' ')"
    hexes = ", ".join(f"'{h}'" for h in _PUNCT_HEX)
    if punct:
        line = (
            f"CASE WHEN substr(md5({line}), 1, 1) IN ({hexes})"
            f" THEN {line} || '.' ELSE {line} END"
        )
    return f"""
lnd AS (
  SELECT doc_id, i, {line} AS line
  FROM (SELECT doc_id, ws,
          unnest(generate_series(0,
            CAST(ceil(len(ws) / {k}.0) AS BIGINT) - 1)) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE text IS NOT NULL))
),
lineified AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS text
  FROM lnd GROUP BY 1
)"""


def _line_dedup_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import line_dedup_global

    derived = _lineify(_docs(spark, sf_dir), LINE_K)
    return line_dedup_global(derived, min_df=LINE_MIN_DF).select(
        "doc_id", "clean_text", "n_lines", "n_removed"
    )


_LINE_DEDUP_SQL = f"""
WITH {_lineify_sql(LINE_K)[1:]},
t AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lineified),
ex AS (
  SELECT doc_id, i, ls[i] AS line, md5(ls[i]) AS h
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM t)
),
dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= {LINE_MIN_DF}),
keep AS (
  SELECT e.doc_id, e.i, e.line
  FROM ex e LEFT JOIN dup d USING (h) WHERE d.h IS NULL
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(line, chr(10) ORDER BY i) AS txt
  FROM keep GROUP BY 1
)
SELECT t.doc_id,
  CASE WHEN t.text IS NULL THEN NULL ELSE COALESCE(r.txt, '') END
    AS clean_text,
  CAST(COALESCE(len(t.ls), 0) AS BIGINT) AS n_lines,
  CAST(COALESCE(len(t.ls), 0) - COALESCE(r.n_kept, 0) AS BIGINT)
    AS n_removed
FROM t LEFT JOIN reb r USING (doc_id)"""


_register(
    "dedup_lines_global",
    Query(spark=_line_dedup_spark, sql=_LINE_DEDUP_SQL),
)


_C4FLAGS = ("ok_sentences", "ok_no_lorem", "ok_no_brace", "ok_no_badwords", "keep")


def _c4_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import c4_rules

    derived = _lineify(_docs(spark, sf_dir), C4_K, punct=True)
    out = c4_rules(derived)
    return out.select(
        "doc_id",
        "clean_text",
        "n_lines",
        "n_kept",
        *[F.col(f).cast("long").alias(f) for f in _C4FLAGS],
    )


def _c4_line_ok() -> str:
    """DuckDB lambda for the C4 line keep-rule (shared by the standalone
    query and the r7 pipeline)."""
    from .functions import text as T

    return (
        "x -> regexp_matches(rtrim(x), '[.!?\"]$')"
        f" AND len(string_split_regex(trim(x), '\\s+')) >= {T.C4_MIN_LINE_WORDS}"
        " AND NOT contains(lower(x), 'javascript')"
    )


def _qscore_m_fields() -> str:
    """Quality-score intermediate fields over (doc_id, text, ws) — one
    definition for every r7 oracle that embeds the heuristic score; keep
    in sync with text.with_quality_score (the Spark side) and
    queries_corpus._QSCORE_SQL (the pre-existing standalone oracles)."""
    return (
        "CAST(len(ws) AS DOUBLE) AS n,\n"
        "    len(list_distinct(ws)) AS dt,\n"
        "    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS punct,\n"
        "    len(list_filter(ws, x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop"
    )


def _qscore_expr() -> str:
    """The 4dp-quantized heuristic quality score over the m fields."""
    return (
        "floor((least(n / 50, 1.0) * 0.3 + (dt / n) * 0.3"
        " + (1 - punct / length(text)) * 0.2"
        " + least(stop / n * 4, 1.0) * 0.2) * 1e4 + 0.500000001) / 1e4"
    )


def _c4_flag_exprs() -> dict[str, str]:
    """DuckDB page-rule flags over columns ``clean_text`` / ``text``."""
    from .functions import text as T

    bad = ", ".join(f"'{w}'" for w in T.C4_BADWORDS)
    return {
        "ok_sentences": (
            "(len(regexp_extract_all(clean_text, '[.!?]'))"
            f" >= {T.C4_MIN_SENTENCES})"
        ),
        "ok_no_lorem": "(NOT contains(lower(text), 'lorem ipsum'))",
        "ok_no_brace": "(NOT contains(text, '{'))",
        "ok_no_badwords": (
            "(len(list_filter(string_split(text, ' '),"
            f" w -> lower(w) IN ({bad}))) = 0)"
        ),
    }


def _c4_sql() -> str:
    line_ok = _c4_line_ok()
    flags = _c4_flag_exprs()
    cols = [
        f"CAST(COALESCE({expr}, false) AS BIGINT) AS {name}"
        for name, expr in flags.items()
    ]
    keep = " AND ".join(f"COALESCE({expr}, false)" for expr in flags.values())
    return f"""
WITH {_lineify_sql(C4_K, punct=True)[1:]},
t AS (
  SELECT doc_id, text,
    string_split(text, chr(10)) AS ls,
    list_filter(string_split(text, chr(10)), {line_ok}) AS kept
  FROM lineified
),
c AS (
  SELECT doc_id, text, ls, kept,
    CASE WHEN text IS NULL THEN NULL
         -- array_to_string([]) is NULL in DuckDB; Spark concat_ws
         -- of an empty array is '' — coalesce to match
         ELSE COALESCE(array_to_string(kept, chr(10)), '') END AS clean_text
  FROM t
)
SELECT doc_id, clean_text,
  CAST(COALESCE(len(ls), 0) AS BIGINT) AS n_lines,
  CAST(CASE WHEN text IS NULL THEN 0 ELSE len(kept) END AS BIGINT) AS n_kept,
  {", ".join(cols)},
  CAST(({keep}) AS BIGINT) AS keep
FROM c"""


_register("filter_c4_rules", Query(spark=_c4_spark, sql=_c4_sql()))


# --------------------------------------------------------------------- #
# SSL-prototypes pruning (Sorscher et al. 2022) and CCNet perplexity
# buckets (Wenzek et al. 2020) — the two canonical model-light data-
# selection passes: prune what k-means finds redundant, tier what the
# corpus LM finds (un)surprising.
# --------------------------------------------------------------------- #

SSL_PRUNE_FRAC = 0.25


def _ssl_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import similarity

    out = similarity.ssl_prototypes(
        load_table(spark, sf_dir, "embeddings"),
        k=_PIPE._KM_K,
        iters=_PIPE._KM_ITERS,
        prune_frac=SSL_PRUNE_FRAC,
    )
    return out.select(
        "vec_id",
        "cluster",
        "sq_dist",
        F.col("keep").cast("long").alias("keep"),
    )


def _ssl_sql() -> str:
    rounds = ",".join(
        _PIPE._km_round(f"c{i - 1}" if i > 1 else "c0", i)
        for i in range(1, _PIPE._KM_ITERS + 1)
    )
    fin = _PIPE._KM_ITERS + 1

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    return f"""
WITH c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, {_PIPE._km_qv('embedding')} AS cvec
  FROM embeddings WHERE vec_id < {_PIPE._KM_K}
),{rounds},
s{fin} AS (
  SELECT e.vec_id, c.cid, {_PIPE._km_sqd('e.embedding', 'c.cvec')} AS d
  FROM embeddings e CROSS JOIN c{_PIPE._KM_ITERS} c
),
a AS (
  SELECT vec_id, cid AS cluster, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM s{fin}
  ) WHERE rn = 1
),
thr AS (
  SELECT cluster,
    {q4(f'quantile_cont(d, {SSL_PRUNE_FRAC})')} AS t
  FROM a GROUP BY cluster
)
SELECT a.vec_id, a.cluster, {q4('a.d')} AS sq_dist,
  CAST({q4('a.d')} > t.t AS BIGINT) AS keep
FROM a JOIN thr t USING (cluster)"""


_register(
    "filter_ssl_prototypes", Query(spark=_ssl_spark, sql=_ssl_sql())
)


#: CCNet tertile boundaries — Python/DuckDB double division produce the
#: same IEEE value, so both engines interpolate at identical positions.
CCNET_T1, CCNET_T2 = 1.0 / 3.0, 2.0 / 3.0


def _ccnet_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity buckets (Wenzek et al. 2020 §4.4): score every
    document under the corpus-trained bigram LM
    (:func:`queries_corpus.lm_perplexity` — skinny count-table train,
    broadcast-join score), then tier each SOURCE's documents into
    head/middle/tail at its own 1/3 and 2/3 cross-entropy quantiles —
    CCNet keeps head+middle per language; per-source is the same cut on
    this corpus.  The thresholds are one tiny per-source aggregate
    broadcast back (NO per-source sort/ntile — a source holding half the
    corpus never serializes through one task), and the bucket label is a
    row-local comparison of 4dp-quantized values on both engines.  <2-token
    docs have no bigrams and drop out upstream, exactly as in
    ``lm_perplexity``.  At 100 TB, swap the exact percentile for
    ``approx.percentile_auto`` (same aggregate position in the plan)."""
    from .queries import round4
    from .queries_corpus import lm_perplexity

    docs = _docs(spark, sf_dir)
    scored = lm_perplexity(docs).select("doc_id", "cross_entropy")
    # the per-source threshold branch and the output branch both read
    # this join — materialize it once (materialize.shared: checkpoint
    # blocks free with the result, no session-lifetime cache entry —
    # ADVICE r7)
    from .functions.materialize import shared

    j = shared(scored.join(docs.select("doc_id", "source"), "doc_id"))
    thr = j.groupBy("source").agg(
        round4(F.percentile(F.col("cross_entropy"), F.lit(CCNET_T1))).alias("t1"),
        round4(F.percentile(F.col("cross_entropy"), F.lit(CCNET_T2))).alias("t2"),
    )
    bucket = (
        F.when(F.col("cross_entropy") <= F.col("t1"), F.lit("head"))
        .when(F.col("cross_entropy") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        j.join(F.broadcast(thr), "source")
        .select("doc_id", "source", "cross_entropy", bucket.alias("bucket"))
    )


def _ccnet_sql() -> str:
    from .queries_corpus import _LM_SQL

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    return f"""
WITH scored AS ({_LM_SQL}),
j AS (
  SELECT s.doc_id, d.source, s.cross_entropy
  FROM scored s JOIN documents d USING (doc_id)
),
thr AS (
  SELECT source,
    {q4(f'quantile_cont(cross_entropy, {CCNET_T1!r})')} AS t1,
    {q4(f'quantile_cont(cross_entropy, {CCNET_T2!r})')} AS t2
  FROM j GROUP BY source
)
SELECT j.doc_id, j.source, j.cross_entropy,
  CASE WHEN j.cross_entropy <= t.t1 THEN 'head'
       WHEN j.cross_entropy <= t.t2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM j JOIN thr t USING (source)"""


_register("filter_ccnet_buckets", Query(spark=_ccnet_spark, sql=_ccnet_sql()))


# --------------------------------------------------------------------- #
# fastText-style trainable quality classifier (the DCLM / FineWeb-Edu
# selection pattern): hashed bag-of-words + full-batch logistic steps,
# quantized per-iteration so DuckDB replays the whole training run.
# Pseudo-label: lang='en' (the "curated reference" role) — the bigram
# distributions actually differ per language, so the 3-step model beats
# the base rate, making the value hash sensitive to the LEARNING, not
# just the plumbing.
# --------------------------------------------------------------------- #

QLR_B, QLR_ITERS, QLR_LR, QLR_SEED = 256, 3, 50.0, "qlr"


def _qlr_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import classifier

    return classifier.logreg_quality(
        _docs(spark, sf_dir),
        label=(F.col("lang") == "en"),
        buckets=QLR_B,
        iters=QLR_ITERS,
        lr=QLR_LR,
        seed=QLR_SEED,
    )


def _qlr_sql() -> str:
    from .functions import classifier

    return classifier.logreg_sql(
        "lang = 'en'",
        buckets=QLR_B,
        iters=QLR_ITERS,
        lr=QLR_LR,
        seed=QLR_SEED,
    )


_register(
    "classifier_quality_logreg", Query(spark=_qlr_spark, sql=_qlr_sql())
)


# --------------------------------------------------------------------- #
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005)
# --------------------------------------------------------------------- #

CMS_K, CMS_SEED = 20, "cms"


def _cms_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import sketches

    toks = (
        _docs(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    )
    return sketches.cms_topk(toks, "tok", k=CMS_K, seed=CMS_SEED)


def _cms_sql() -> str:
    from .functions import sketches as S

    def bkt(j: str, v: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat('{CMS_SEED}', "
            f"CAST({j} AS VARCHAR), '|', {v})), 1, 8)) AS UBIGINT)"
            f" % {S.CMS_W}"
        )

    return f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS v
  FROM documents WHERE text IS NOT NULL
),
jj AS (SELECT unnest(generate_series(0, {S.CMS_D - 1})) AS j),
counters AS (
  SELECT j, {bkt('j', 'v')} AS b, count(*) AS cnt
  FROM tok, jj GROUP BY 1, 2
),
cand AS (SELECT v, count(*) AS true_cnt FROM tok GROUP BY v),
probe AS (
  SELECT cand.v, cand.true_cnt, min(c.cnt) AS est
  FROM cand, jj
  JOIN counters c ON c.j = jj.j AND c.b = {bkt('jj.j', 'cand.v')}
  GROUP BY 1, 2
)
SELECT CAST(row_number() OVER (ORDER BY est DESC, v) AS BIGINT) AS rank,
  v AS token, CAST(est AS BIGINT) AS est,
  CAST(true_cnt AS BIGINT) AS true_cnt
FROM probe ORDER BY est DESC, v LIMIT {CMS_K}"""


_register("stats_cms_topk", Query(spark=_cms_spark, sql=_cms_sql()))


# --------------------------------------------------------------------- #
# PMI collocations (word2vec/Gensim phrase-detection pass)
# --------------------------------------------------------------------- #

PMI_K, PMI_MIN = 30, 5


def _pmi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import pmi_bigrams

    return pmi_bigrams(_docs(spark, sf_dir), top_k=PMI_K, min_count=PMI_MIN)


_PMI_SQL = f"""
WITH pairs AS (
  SELECT string_split(text, ' ')[i] AS w1,
    string_split(text, ' ')[i + 1] AS w2
  FROM documents,
    LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')))) AS i) s
  WHERE text IS NOT NULL
),
c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
  HAVING count(*) >= {PMI_MIN}
),
c1 AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY w1),
c2 AS (SELECT w2, count(*) AS c2 FROM pairs GROUP BY w2),
nn AS (SELECT count(*) AS n FROM pairs),
scored AS (
  SELECT p.w1, p.w2, CAST(p.c12 AS BIGINT) AS c12,
    floor(ln(CAST(p.c12 AS DOUBLE) * CAST(nn.n AS DOUBLE)
             / (CAST(c1.c1 AS DOUBLE) * CAST(c2.c2 AS DOUBLE)))
          * 1e4 + 0.500000001) / 1e4 AS pmi
  FROM c12 p JOIN c1 USING (w1) JOIN c2 USING (w2), nn
)
SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT)
    AS rank,
  w1, w2, c12, pmi
FROM scored ORDER BY pmi DESC, w1, w2 LIMIT {PMI_K}"""


_register("text_pmi_bigrams", Query(spark=_pmi_spark, sql=_PMI_SQL))


# --------------------------------------------------------------------- #
# DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi") — the
# multiplicative-weights loop over per-domain excess loss, with the
# corpus bigram LM standing in for the proxy/reference pair: domains
# whose documents the corpus LM finds hardest (positive excess
# cross-entropy) get upweighted, and the published estimator — the
# AVERAGE of the per-step weight vectors — is what ships.
# --------------------------------------------------------------------- #

DOREMI_T, DOREMI_ETA, DOREMI_C = 5, 0.5, 0.1


def _doremi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed part: LM scoring + per-source loss aggregation (the
    same skinny count-table / broadcast-score shape as lm_perplexity).
    The multiplicative-weights loop then runs on DRIVER state — one
    float per domain, the k-means-centroid budget — with the same
    quantization points the oracle replays; the K-row result is
    parallelized back.  At 100 TB nothing changes: the only thing that
    grows is the scoring pass."""
    import math

    from .queries import round4
    from .queries_corpus import lm_perplexity

    docs = _docs(spark, sf_dir)
    scored = lm_perplexity(docs).select("doc_id", "cross_entropy")
    # the per-source threshold branch and the output branch both read
    # this join — persist so the LM scoring pipeline under it runs once
    # (stage reuse within the one consuming action).  Unlike the
    # returned-lazy queries this function CONSUMES j itself (both
    # collects below), so persist + explicit unpersist is the right
    # lifetime here — the r8 localCheckpoint sweep deliberately skips it.
    j = scored.join(docs.select("doc_id", "source"), "doc_id").persist()
    per = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        round4(F.avg("cross_entropy")).alias("avg_ce"),
    )
    g = j.agg(round4(F.avg("cross_entropy")).alias("g")).collect()[0]["g"]
    rows = sorted(per.collect(), key=lambda r: r.source)
    # both consumers of j collected above; the returned frame is built
    # from driver rows — release the cache (kmeans_lloyd precedent)
    j.unpersist(blocking=False)
    srcs = [r.source for r in rows]
    k = len(srcs)
    ex = {r.source: max(0.0, r.avg_ce - g) for r in rows}

    def q6(v: float) -> float:
        return math.floor(v * 1e6 + 0.500000001) / 1e6

    def q4(v: float) -> float:
        return math.floor(v * 1e4 + 0.500000001) / 1e4

    a = {s: 1.0 / k for s in srcs}
    hist = []
    for _ in range(DOREMI_T):
        raw = {s: a[s] * math.exp(DOREMI_ETA * ex[s]) for s in srcs}
        tot = 0.0
        for s in srcs:
            tot += raw[s]
        a = {
            s: q6((1.0 - DOREMI_C) * (raw[s] / tot) + DOREMI_C / k)
            for s in srcs
        }
        hist.append(dict(a))
    out = []
    for r in rows:
        acc = 0.0
        for h in hist:
            acc = acc + h[r.source]
        out.append(
            (r.source, r.n_docs, r.avg_ce, q4(ex[r.source]), q4(acc / DOREMI_T))
        )
    return local_frame(
        spark,
        out,
        "source string, n_docs long, avg_ce double, excess double, weight double",
    )


def _doremi_sql() -> str:
    from .queries_corpus import _LM_SQL

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    one_minus_c = repr(1.0 - DOREMI_C)
    steps = []
    for t in range(1, DOREMI_T + 1):
        steps.append(
            f""",
r{t} AS (
  SELECT a.source, a.a * exp({DOREMI_ETA!r} * e.ex) AS raw
  FROM a{t - 1} a JOIN ex e USING (source)
),
t{t} AS (SELECT sum(raw) AS tot FROM r{t}),
a{t} AS (
  SELECT r.source,
    floor(({one_minus_c} * (r.raw / t.tot) + {DOREMI_C!r} / kk.k)
          * 1e6 + 0.500000001) / 1e6 AS a
  FROM r{t} r, t{t} t, kk
)"""
        )
    avg_terms = " + ".join(f"a{t}.a" for t in range(1, DOREMI_T + 1))
    joins = " ".join(
        f"JOIN a{t} USING (source)" for t in range(1, DOREMI_T + 1)
    )
    return f"""
WITH scored AS ({_LM_SQL}),
j AS (
  SELECT s.doc_id, d.source, s.cross_entropy
  FROM scored s JOIN documents d USING (doc_id)
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    {q4('avg(cross_entropy)')} AS avg_ce
  FROM j GROUP BY source
),
gg AS (SELECT {q4('avg(cross_entropy)')} AS g FROM j),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM per),
ex AS (
  SELECT source, n_docs, avg_ce, greatest(avg_ce - gg.g, 0.0) AS ex
  FROM per, gg
),
a0 AS (SELECT source, 1.0 / kk.k AS a FROM ex, kk){"".join(steps)}
SELECT e.source, e.n_docs, e.avg_ce, {q4('e.ex')} AS excess,
  {q4(f'({avg_terms}) / {DOREMI_T}')} AS weight
FROM ex e {joins}"""


_register(
    "mixture_doremi_weights", Query(spark=_doremi_spark, sql=_doremi_sql())
)


# --------------------------------------------------------------------- #
# Round-7 corpus pipeline: the new cleaning family chained end-to-end —
# lineify → corpus-wide line dedup → C4 page rules → per-source
# accounting.  One declarative plan; the integration twin of
# doc_pipeline_corpus for the r7 operators.
# --------------------------------------------------------------------- #


def _r7_pipeline_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: lineify is row-local; line dedup shuffles only
    (id, pos, hash) and broadcasts its dup set back; the C4 pass is
    zero-shuffle page rewriting; the source join + final agg are the
    only remaining exchanges (the agg is partial-agg friendly).  The
    full text column crosses an exchange at most once (the per-doc
    position join, when it falls back from broadcast)."""
    from .functions.dedup import line_dedup_global
    from .functions.text import c4_rules, words

    docs = _docs(spark, sf_dir)
    lined = _lineify(docs, C4_K, punct=True)
    ld = line_dedup_global(lined, min_df=LINE_MIN_DF).select(
        "doc_id",
        F.col("clean_text").alias("text"),
        F.col("n_removed").alias("lines_deduped"),
    )
    c4 = c4_rules(ld, "text")
    j = c4.join(docs.select("doc_id", "source"), "doc_id")
    toks_kept = F.when(
        F.col("keep") & (F.length("clean_text") > 0),
        F.size(words(F.col("clean_text"))),
    ).otherwise(F.lit(0))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_pages_kept"),
        F.sum("lines_deduped").cast("long").alias("lines_deduped"),
        F.sum(F.col("n_lines") - F.col("n_kept"))
        .cast("long")
        .alias("lines_dropped_c4"),
        F.sum(toks_kept).cast("long").alias("tokens_kept"),
    )


def _r7_pipeline_sql() -> str:
    line_ok = _c4_line_ok()
    flags = _c4_flag_exprs()
    keep = " AND ".join(f"COALESCE({e}, false)" for e in flags.values())
    return f"""
WITH {_lineify_sql(C4_K, punct=True)[1:]},
t0 AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lineified
),
ex AS (
  SELECT doc_id, i, ls[i] AS line, md5(ls[i]) AS h
  FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i FROM t0)
),
dup AS (SELECT h FROM ex GROUP BY h HAVING count(*) >= {LINE_MIN_DF}),
keep_l AS (
  SELECT e.doc_id, e.i, e.line
  FROM ex e LEFT JOIN dup d USING (h) WHERE d.h IS NULL
),
reb AS (
  SELECT doc_id, count(*) AS n_kept_l,
    string_agg(line, chr(10) ORDER BY i) AS txt
  FROM keep_l GROUP BY 1
),
ld AS (
  SELECT t0.doc_id, COALESCE(r.txt, '') AS text,
    CAST(COALESCE(len(t0.ls), 0) - COALESCE(r.n_kept_l, 0) AS BIGINT)
      AS lines_deduped
  FROM t0 LEFT JOIN reb r USING (doc_id)
),
cc AS (
  SELECT doc_id, lines_deduped, text,
    string_split(text, chr(10)) AS ls,
    list_filter(string_split(text, chr(10)), {line_ok}) AS kept,
    COALESCE(array_to_string(
      list_filter(string_split(text, chr(10)), {line_ok}), chr(10)), '')
      AS clean_text
  FROM ld
),
fl AS (
  SELECT doc_id, lines_deduped,
    CAST(len(ls) AS BIGINT) AS n_lines,
    CAST(len(kept) AS BIGINT) AS n_kept,
    clean_text, ({keep}) AS keep
  FROM cc
)
SELECT d.source,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_pages_kept,
  CAST(sum(f.lines_deduped) AS BIGINT) AS lines_deduped,
  CAST(sum(f.n_lines - f.n_kept) AS BIGINT) AS lines_dropped_c4,
  CAST(sum(CASE WHEN f.keep AND length(f.clean_text) > 0
           THEN len(string_split(f.clean_text, ' ')) ELSE 0 END) AS BIGINT)
    AS tokens_kept
FROM fl f JOIN documents d USING (doc_id)
GROUP BY d.source"""


_register(
    "pipeline_corpus_r7",
    Query(spark=_r7_pipeline_spark, sql=_r7_pipeline_sql()),
)


# --------------------------------------------------------------------- #
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — MOSS)
# --------------------------------------------------------------------- #

WIN_K, WIN_W, WIN_MIN_SHARED, WIN_MAX_DF = 4, 5, 2, 0.5


def _winnow_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import winnow_pairs

    return winnow_pairs(
        _docs(spark, sf_dir),
        k=WIN_K,
        w=WIN_W,
        min_shared=WIN_MIN_SHARED,
        max_df_frac=WIN_MAX_DF,
    ).select(
        "ia", "ib", F.col("n_shared").cast("long").alias("n_shared")
    )


def _winnow_sql() -> str:
    from .functions.dedup import WINNOW_POS_SPACE

    gram = f"array_to_string(list_slice(ws, i, i + {WIN_K - 1}), ' ')"
    gh = (
        f"CAST(('0x' || substr(md5({gram}), 1, 15)) AS BIGINT)"
        f" % 2147483647"
    )
    ps = WINNOW_POS_SPACE
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, i AS pos, {gh} AS gh
  FROM (
    SELECT doc_id, ws, unnest(generate_series(1, len(ws) - {WIN_K - 1})) AS i
    FROM w WHERE len(ws) >= {WIN_K}
  )
),
keyed AS (
  SELECT doc_id, pos, gh * {ps} + ({ps} - pos) AS k,
    count(*) OVER (PARTITION BY doc_id) AS gcnt,
    min(gh * {ps} + ({ps} - pos)) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN CURRENT ROW AND {WIN_W - 1} FOLLOWING) AS m
  FROM g
),
sel AS (
  -- integer division: CAST(m / ps AS BIGINT) ROUNDS in DuckDB while
  -- Spark's .cast('long') truncates — any position <= 2^19 would decode
  -- to gh+1 and silently break cross-doc fingerprint matches
  SELECT DISTINCT doc_id, m // {ps} AS gh
  FROM keyed
  WHERE pos <= gcnt - {WIN_W - 1} OR (gcnt < {WIN_W} AND pos = 1)
),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
ubi AS (
  SELECT gh FROM sel, nd GROUP BY gh, nd.n_docs
  HAVING count(*) > nd.n_docs * {WIN_MAX_DF}
),
pruned AS (
  SELECT s.doc_id, s.gh FROM sel s LEFT JOIN ubi u USING (gh)
  WHERE u.gh IS NULL
)
SELECT a.doc_id AS ia, b.doc_id AS ib,
  CAST(count(*) AS BIGINT) AS n_shared
FROM pruned a JOIN pruned b ON a.gh = b.gh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WIN_MIN_SHARED}"""


_register("dedup_winnowing_pairs", Query(spark=_winnow_spark, sql=_winnow_sql()))


# --------------------------------------------------------------------- #
# IVF recall audit: exact top-k vs the IVF scale path — the ANN sibling
# of dedup_lsh_recall (the approximation's QUALITY, not just its output,
# under the value hash).
# --------------------------------------------------------------------- #

IVF_AUDIT_K, IVF_AUDIT_NC, IVF_AUDIT_NPROBE = 5, 16, 4


def _ivf_recall_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@k of `knn_ivf` against brute force on the same
    deterministic config the standalone queries use.  Both sides are
    existing operators; the audit is two semi-join counts — at 100 TB
    you run it on a sampled query set, the shape is unchanged."""
    from .functions import similarity
    from .queries_ext import _emb

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.knn_bruteforce(emb, q, k=IVF_AUDIT_K).select(
        "qid", "nid"
    )
    ivf = similarity.knn_ivf(
        emb, q, k=IVF_AUDIT_K, n_centroids=IVF_AUDIT_NC, nprobe=IVF_AUDIT_NPROBE
    ).select("qid", "nid")
    hits = (
        exact.join(ivf, ["qid", "nid"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = exact.groupBy("qid").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.floor(
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("k").cast("double")
                    * 1e4
                    + F.lit(0.500000001)
                )
                / 1e4
            ).alias("recall"),
        )
    )


def _ivf_recall_sql() -> str:
    from .queries_ext import _dot_sql, _norm_sql

    k, nc, npr = IVF_AUDIT_K, IVF_AUDIT_NC, IVF_AUDIT_NPROBE
    return f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10
),
es AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n CROSS JOIN q WHERE n.vec_id != q.qid
),
er AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM es
  ) WHERE rank <= {k}
),
c AS (
  SELECT vec_id AS cid, embedding AS cv, nn AS cn FROM n
  WHERE vec_id < {nc}
),
assign AS (
  SELECT n.vec_id AS nid, n.embedding AS nv, n.nn, c.cid,
    row_number() OVER (
      PARTITION BY n.vec_id
      ORDER BY ({_dot_sql('n.embedding', 'c.cv')}) / (n.nn * c.cn) DESC, c.cid
    ) AS rk
  FROM n CROSS JOIN c
),
a AS (SELECT nid, nv, nn, cid FROM assign WHERE rk = 1),
probe AS (
  SELECT q.qid, q.qv, q.qn, c.cid,
    row_number() OVER (
      PARTITION BY q.qid
      ORDER BY ({_dot_sql('q.qv', 'c.cv')}) / (q.qn * c.cn) DESC, c.cid
    ) AS rk
  FROM q CROSS JOIN c
),
p AS (SELECT qid, qv, qn, cid FROM probe WHERE rk <= {npr}),
ivs AS (
  SELECT p.qid, a.nid,
    ({_dot_sql('p.qv', 'a.nv')}) / (p.qn * a.nn) AS cos
  FROM a JOIN p USING (cid) WHERE a.nid != p.qid
),
ir AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM ivs
  ) WHERE rank <= {k}
),
kk AS (SELECT qid, count(*) AS k FROM er GROUP BY qid),
hits AS (
  SELECT er.qid, count(*) AS n_hit
  FROM er JOIN ir ON er.qid = ir.qid AND er.nid = ir.nid
  GROUP BY er.qid
)
SELECT kk.qid, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
  floor(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / kk.k * 1e4 + 0.500000001)
    / 1e4 AS recall
FROM kk LEFT JOIN hits h USING (qid)"""


_register(
    "similarity_ivf_recall",
    Query(spark=_ivf_recall_spark, sql=_ivf_recall_sql()),
)


# --------------------------------------------------------------------- #
# Incremental MinHash dedup: the NEAR-dup sibling of dedup_incremental
# (history = docs with doc_id < MH_SPLIT, batch = the rest)
# --------------------------------------------------------------------- #

MH_SPLIT, MH_MIN_BANDS = 250, 1


def _mh_inc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import batch_band_keys, minhash_dedup_against_corpus

    docs = _docs(spark, sf_dir)
    store = batch_band_keys(docs.filter(F.col("doc_id") < MH_SPLIT))
    batch = docs.filter(F.col("doc_id") >= MH_SPLIT)
    out = minhash_dedup_against_corpus(
        batch, store, min_bands=MH_MIN_BANDS
    )
    return out.select(
        "doc_id",
        "n_store_bands",
        F.col("dup_in_batch").cast("long").alias("dup_in_batch"),
        F.col("keep").cast("long").alias("keep"),
    )


def _mh_inc_sql() -> str:
    from .queries_ext import _minhash_sig_ctes

    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, h{bi * 2 + 1} AS k1, h{bi * 2 + 2} AS k2 FROM sig"
        for bi in range(4)
    )
    return f"""
WITH {_minhash_sig_ctes()},
allb AS ({band_rows}),
sb AS (SELECT DISTINCT band, k1, k2 FROM allb WHERE doc_id < {MH_SPLIT}),
bb AS (SELECT * FROM allb WHERE doc_id >= {MH_SPLIT}),
store_hits AS (
  SELECT b.doc_id, count(DISTINCT b.band) AS nsb
  FROM bb b JOIN sb USING (band, k1, k2) GROUP BY 1
),
ip AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS nb
  FROM bb a JOIN bb b
    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2
    AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dropped AS (SELECT DISTINCT ib AS doc_id FROM ip WHERE nb >= {MH_MIN_BANDS})
SELECT d.doc_id,
  CAST(COALESCE(s.nsb, 0) AS BIGINT) AS n_store_bands,
  CAST(dr.doc_id IS NOT NULL AS BIGINT) AS dup_in_batch,
  CAST(COALESCE(s.nsb, 0) < {MH_MIN_BANDS} AND dr.doc_id IS NULL AS BIGINT)
    AS keep
FROM (SELECT doc_id FROM documents WHERE doc_id >= {MH_SPLIT}) d
LEFT JOIN store_hits s USING (doc_id)
LEFT JOIN dropped dr USING (doc_id)"""


_register(
    "dedup_minhash_incremental",
    Query(spark=_mh_inc_spark, sql=_mh_inc_sql()),
)


# --------------------------------------------------------------------- #
# Quality ensemble vote: Gopher hard rules + heuristic quality quantile
# + corpus-LM perplexity band + repetition signals, majority-kept.  The
# "one call" a curation pipeline actually makes — any single filter
# over-prunes; the vote is the standard composition.
# --------------------------------------------------------------------- #

ENS_Q, ENS_TOPBG, ENS_DUPW, ENS_MIN_VOTES = 0.2, 0.2, 0.6, 3


def _ensemble_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: gopher/quality/repetition votes are row-local or
    count-shaped; the two global inputs (quality cutoff, per-source
    perplexity tertile) are tiny aggregates broadcast back; the final
    combine is four left joins on the id followed by row-local vote
    arithmetic."""
    from .functions.text import (
        gopher_rules,
        repetition_signals,
        with_quality_score,
    )
    from .queries import round4
    from .queries_corpus import lm_perplexity

    docs = _docs(spark, sf_dir)
    g = gopher_rules(docs).select("doc_id", F.col("keep").alias("v_gopher"))
    qs = with_quality_score(docs).select(
        "doc_id", round4(F.col("quality_score")).alias("_qsc")
    )
    cut = qs.agg(
        round4(F.percentile(F.col("_qsc"), F.lit(ENS_Q))).alias("_cut")
    )
    vq = qs.crossJoin(F.broadcast(cut)).select(
        "doc_id", (F.col("_qsc") >= F.col("_cut")).alias("v_quality")
    )
    scored = lm_perplexity(docs).select("doc_id", "cross_entropy")
    # the per-source threshold branch and the output branch both read
    # this join — materialize it once (materialize.shared: checkpoint
    # blocks free with the result, no session-lifetime cache entry —
    # ADVICE r7)
    from .functions.materialize import shared

    j = shared(scored.join(docs.select("doc_id", "source"), "doc_id"))
    thr = j.groupBy("source").agg(
        round4(F.percentile(F.col("cross_entropy"), F.lit(CCNET_T2))).alias(
            "_t2"
        )
    )
    vp = j.join(F.broadcast(thr), "source").select(
        "doc_id", (F.col("cross_entropy") <= F.col("_t2")).alias("v_ppl")
    )
    vr = repetition_signals(docs).select(
        "doc_id",
        (
            (F.col("top_bigram_frac") <= ENS_TOPBG)
            & (F.col("dup_word_frac") <= ENS_DUPW)
        ).alias("v_rep"),
    )
    out = (
        docs.select("doc_id")
        .join(g, "doc_id", "left")
        .join(vq, "doc_id", "left")
        .join(vp, "doc_id", "left")
        .join(vr, "doc_id", "left")
    )
    votes = [
        F.coalesce(F.col(c), F.lit(False)).cast("long").alias(c)
        for c in ("v_gopher", "v_quality", "v_ppl", "v_rep")
    ]
    out = out.select("doc_id", *votes)
    n_votes = sum(F.col(c) for c in ("v_gopher", "v_quality", "v_ppl", "v_rep"))
    return out.withColumn("n_votes", n_votes.cast("long")).withColumn(
        "keep", (F.col("n_votes") >= ENS_MIN_VOTES).cast("long")
    )


def _ensemble_sql() -> str:
    from .queries_corpus import _LM_SQL

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    gflags = _gopher_flag_exprs()
    gkeep = " AND ".join(f"COALESCE({e}, false)" for e in gflags.values())
    votes = ["v_gopher", "v_quality", "v_ppl", "v_rep"]
    vcols = ", ".join(
        f"CAST(COALESCE({v}, false) AS BIGINT) AS {v}" for v in votes
    )
    nv = " + ".join(f"CAST(COALESCE({v}, false) AS BIGINT)" for v in votes)
    return f"""
WITH w AS (
  SELECT doc_id, text,
    string_split(text, ' ') AS ws,
    string_split(text, chr(10)) AS ls
  FROM documents
),
gv AS (SELECT doc_id, ({gkeep}) AS v_gopher FROM w),
m AS (
  SELECT doc_id, text, ws,
    {_qscore_m_fields()}
  FROM w
),
scoredq AS (SELECT doc_id, {_qscore_expr()} AS qsc FROM m),
cutq AS (SELECT {q4(f'quantile_cont(qsc, {ENS_Q})')} AS c FROM scoredq),
qv AS (SELECT doc_id, qsc >= cutq.c AS v_quality FROM scoredq, cutq),
lmscored AS ({_LM_SQL}),
jj AS (
  SELECT s.doc_id, d.source, s.cross_entropy
  FROM lmscored s JOIN documents d USING (doc_id)
),
thr AS (
  SELECT source, {q4(f'quantile_cont(cross_entropy, {CCNET_T2!r})')} AS t2
  FROM jj GROUP BY source
),
pv AS (
  SELECT jj.doc_id, jj.cross_entropy <= t.t2 AS v_ppl
  FROM jj JOIN thr t USING (source)
),
rowstats AS (
  SELECT doc_id,
    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac
  FROM w
),
bg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM w WHERE len(ws) >= 2
),
bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
ba AS (SELECT doc_id, max(c) AS top_bg, sum(c) AS tot_bg FROM bc GROUP BY doc_id),
rv AS (
  SELECT r.doc_id,
    (CAST(a.top_bg AS DOUBLE) / a.tot_bg <= {ENS_TOPBG}
     AND r.dup_word_frac <= {ENS_DUPW}) AS v_rep
  FROM rowstats r JOIN ba a USING (doc_id)
),
alls AS (
  SELECT w.doc_id, gv.v_gopher, qv.v_quality, pv.v_ppl, rv.v_rep
  FROM w
  LEFT JOIN gv USING (doc_id)
  LEFT JOIN qv USING (doc_id)
  LEFT JOIN pv USING (doc_id)
  LEFT JOIN rv USING (doc_id)
)
SELECT doc_id, {vcols},
  CAST({nv} AS BIGINT) AS n_votes,
  CAST(({nv}) >= {ENS_MIN_VOTES} AS BIGINT) AS keep
FROM alls"""


_register(
    "filter_quality_ensemble",
    Query(spark=_ensemble_spark, sql=_ensemble_sql()),
)


# --------------------------------------------------------------------- #
# Content-defined chunking dedup (the storage-dedup classic; boundaries
# move with content, so edits only perturb one chunk)
# --------------------------------------------------------------------- #


def _cdc_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import cdc_dedup_stats

    return cdc_dedup_stats(_docs(spark, sf_dir))


def _cdc_sql() -> str:
    from .functions.dedup import CDC_MOD

    h31 = "CAST(('0x' || substr(md5(ws[i]), 1, 15)) AS BIGINT) % 2147483647"
    return f"""
WITH ex AS (
  SELECT doc_id, i AS pos, ws[i] AS w,
    CAST(({h31}) % {CDC_MOD} = 0 AS INT) AS b
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE text IS NOT NULL),
    LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) s
),
cid AS (
  SELECT doc_id, pos, w,
    CAST(COALESCE(sum(b) OVER (
      PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS chunk_id
  FROM ex
),
ch AS (
  SELECT doc_id, chunk_id,
    md5(string_agg(w, ' ' ORDER BY pos)) AS chash,
    count(*) AS n_words
  FROM cid GROUP BY 1, 2
),
dup AS (SELECT chash FROM ch GROUP BY chash HAVING count(*) >= 2),
flagged AS (
  SELECT c.doc_id, count(*) AS n_dup_chunks, sum(c.n_words) AS dup_words
  FROM ch c JOIN dup d USING (chash) GROUP BY 1
),
base AS (
  SELECT doc_id, count(*) AS n_chunks, sum(n_words) AS total_words
  FROM ch GROUP BY 1
)
SELECT b.doc_id,
  CAST(b.n_chunks AS BIGINT) AS n_chunks,
  CAST(COALESCE(f.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
  CAST(COALESCE(f.dup_words, 0) AS BIGINT) AS dup_words,
  CAST(b.total_words AS BIGINT) AS total_words
FROM base b LEFT JOIN flagged f USING (doc_id)"""


_register("chunk_cdc_dedup", Query(spark=_cdc_spark, sql=_cdc_sql()))


# --------------------------------------------------------------------- #
# Token-budget water-filling: temperature mixture weights + finite
# per-source supplies → the executable sampling plan (alloc, rate).
# --------------------------------------------------------------------- #

WF_BUDGET_FRAC = 0.5  # plan for half the corpus' tokens


def _wf_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import token_budget_waterfill

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    sup = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("supply")
    )
    total = sup.agg(F.sum("supply").alias("t")).collect()[0]["t"]
    w = sup.withColumn("w", F.sqrt(F.col("supply").cast("double")))
    return token_budget_waterfill(
        w, budget=WF_BUDGET_FRAC * total, key_col="source"
    )


def _wf_sql() -> str:
    return f"""
WITH sup AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS t
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
tot AS (SELECT sum(t) AS tt, sum(sqrt(t)) AS sw FROM sup),
base AS (
  SELECT source, t, sqrt(t) / tot.sw AS w,
    t / (sqrt(t) / tot.sw) AS r
  FROM sup, tot
),
bb AS (SELECT {WF_BUDGET_FRAC} * tt AS b FROM tot),
cum AS (
  SELECT *, row_number() OVER (ORDER BY r, source) AS rn,
    COALESCE(sum(t) OVER (ORDER BY r, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumt,
    COALESCE(sum(w) OVER (ORDER BY r, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumw
  FROM base
),
cp AS (SELECT cum.*, (bb.b - cumt) / (1.0 - cumw) AS cprev FROM cum, bb),
fail AS (
  SELECT rn AS ff, cprev AS c FROM cp WHERE r > cprev ORDER BY rn LIMIT 1
),
fin AS (
  SELECT cp.*, f.ff, f.c,
    (f.ff IS NULL OR cp.rn < f.ff) AS capped
  FROM cp LEFT JOIN fail f ON true
)
SELECT source, floor(t * 1e4 + 0.500000001) / 1e4 AS supply,
  floor(w * 1e4 + 0.500000001) / 1e4 AS weight,
  floor((CASE WHEN capped THEN t ELSE c * w END) * 1e4 + 0.500000001) / 1e4
    AS alloc,
  CAST(capped AS BIGINT) AS capped,
  floor((CASE WHEN capped THEN t ELSE c * w END) / t * 1e4 + 0.500000001)
    / 1e4 AS sample_rate
FROM fin"""


_register(
    "mixture_token_budget", Query(spark=_wf_spark, sql=_wf_sql())
)


# --------------------------------------------------------------------- #
# MMR diversified top-k (Carbonell & Goldstein 1998)
# --------------------------------------------------------------------- #

MMR_K, MMR_C, MMR_LAM = 5, 10, 0.7


def _mmr_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import similarity
    from .queries_ext import _emb

    emb = _emb(spark, sf_dir)
    # grouped fast path (one applyInPandas stage); bit-equal to the
    # relational mmr_rerank the oracle replays — pinned in
    # tests/test_ssl_ccnet.py::test_mmr_grouped_bit_equals_relational
    return similarity.mmr_rerank_grouped(
        emb,
        emb.filter(F.col("vec_id") < 10),
        k=MMR_K,
        n_candidates=MMR_C,
        lam=MMR_LAM,
    )


def _mmr_sql() -> str:
    from .queries_ext import _dot_sql, _norm_sql

    lam, oml = repr(MMR_LAM), repr(1.0 - MMR_LAM)
    steps, picks = [], ["s1"]
    for t in range(2, MMR_K + 1):
        prev = f"sel{t - 1}"
        sc = f"{lam} * r.rel - {oml} * m.ms"
        steps.append(
            f""",
rem{t} AS (
  SELECT c.* FROM cand c
  LEFT JOIN {prev} s ON c.qid = s.qid AND c.nid = s.nid
  WHERE s.nid IS NULL
),
ms{t} AS (
  SELECT m.qid, m.na AS nid, max(m.sim) AS ms
  FROM sims m JOIN {prev} s ON m.qid = s.qid AND m.nb = s.nid
  GROUP BY 1, 2
),
p{t} AS (
  SELECT qid, nid, {t} AS mmr_rank, sc AS score FROM (
    SELECT r.qid, r.nid, {sc} AS sc,
      row_number() OVER (
        PARTITION BY r.qid ORDER BY ({sc}) DESC, r.nid) AS rn
    FROM rem{t} r JOIN ms{t} m ON r.qid = m.qid AND r.nid = m.nid
  ) WHERE rn = 1
),
sel{t} AS (SELECT qid, nid FROM {prev} UNION ALL SELECT qid, nid FROM p{t})"""
        )
        picks.append(f"p{t}")
    allp = " UNION ALL ".join(f"SELECT * FROM {p}" for p in picks)
    # norm > 0 mirrors the zero-norm exclusion both Spark paths apply
    # upstream of the candidate pass (ADVICE r7: degenerate embeddings
    # must not diverge the grouped fast path from this oracle)
    return f"""
WITH n AS (
  SELECT vec_id, embedding, {_norm_sql('embedding')} AS nn
  FROM embeddings WHERE ({_norm_sql('embedding')}) > 0
),
q AS (
  SELECT vec_id AS qid, embedding AS qv, nn AS qn FROM n WHERE vec_id < 10
),
es AS (
  SELECT q.qid, n.vec_id AS nid,
    ({_dot_sql('q.qv', 'n.embedding')}) / (q.qn * n.nn) AS cos
  FROM n CROSS JOIN q WHERE n.vec_id != q.qid
),
cand AS (
  SELECT qid, nid, cos AS rel FROM (
    SELECT qid, nid, cos,
      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
    FROM es
  ) WHERE rank <= {MMR_C}
),
cv AS (
  SELECT c.qid, c.nid, c.rel, n.embedding AS v, n.nn
  FROM cand c JOIN n ON n.vec_id = c.nid
),
sims AS (
  SELECT a.qid, a.nid AS na, b.nid AS nb,
    ({_dot_sql('a.v', 'b.v')}) / (a.nn * b.nn) AS sim
  FROM cv a JOIN cv b ON a.qid = b.qid AND a.nid != b.nid
),
s1 AS (
  SELECT qid, nid, 1 AS mmr_rank, rel AS score FROM (
    SELECT qid, nid, rel,
      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
    FROM cand
  ) WHERE rn = 1
),
sel1 AS (SELECT qid, nid FROM s1){"".join(steps)}
SELECT qid, nid, CAST(mmr_rank AS BIGINT) AS mmr_rank,
  floor(score * 1e4 + 0.500000001) / 1e4 AS score
FROM ({allp})"""


_register("similarity_mmr_topk", Query(spark=_mmr_spark, sql=_mmr_sql()))


# --------------------------------------------------------------------- #
# Quality curriculum order: tertile tiers by heuristic quality, a
# deterministic hash order within tiers — consumers sort by
# (tier, order_key) for easy→hard (here best→worst) scheduling without
# any global rank materialization.
# --------------------------------------------------------------------- #

CUR_SEED = "cur"


def _curriculum_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.sampling import hash_unit
    from .functions.text import with_quality_score
    from .queries import round4

    docs = _docs(spark, sf_dir)
    qs = with_quality_score(docs).select(
        "doc_id", round4(F.col("quality_score")).alias("qsc")
    )
    thr = qs.agg(
        round4(F.percentile(F.col("qsc"), F.lit(CCNET_T1))).alias("t1"),
        round4(F.percentile(F.col("qsc"), F.lit(CCNET_T2))).alias("t2"),
    )
    tier = (
        F.when(F.col("qsc") > F.col("t2"), F.lit(1))
        .when(F.col("qsc") > F.col("t1"), F.lit(2))
        .otherwise(F.lit(3))
    )
    return qs.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "qsc",
        tier.cast("long").alias("tier"),
        hash_unit(F.col("doc_id"), CUR_SEED).alias("order_key"),
    )


def _curriculum_sql() -> str:
    from .functions.sampling import unit_sql

    def q4(e: str) -> str:
        return f"floor(({e}) * 1e4 + 0.500000001) / 1e4"

    return f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
),
m AS (
  SELECT doc_id, text, ws,
    {_qscore_m_fields()}
  FROM t
),
scored AS (
  SELECT doc_id, {_qscore_expr()} AS qsc FROM m
),
thr AS (
  SELECT {q4(f'quantile_cont(qsc, {CCNET_T1!r})')} AS t1,
    {q4(f'quantile_cont(qsc, {CCNET_T2!r})')} AS t2
  FROM scored
)
SELECT s.doc_id, s.qsc,
  CAST(CASE WHEN s.qsc > t.t2 THEN 1
            WHEN s.qsc > t.t1 THEN 2 ELSE 3 END AS BIGINT) AS tier,
  {unit_sql('s.doc_id', CUR_SEED)} AS order_key
FROM scored s, thr t"""


_register(
    "sample_quality_curriculum",
    Query(spark=_curriculum_spark, sql=_curriculum_sql()),
)


# --------------------------------------------------------------------- #
# Quality-aware near-dup canonical: keep each cluster's best-quality
# member instead of the min id (the production refinement).
# --------------------------------------------------------------------- #


def _keep_best_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import lsh_dedup_keep_best
    from .functions.text import with_quality_score
    from .queries import round4

    docs = _docs(spark, sf_dir)
    q = with_quality_score(docs).select(
        "doc_id", round4(F.col("quality_score")).alias("quality")
    )
    out = lsh_dedup_keep_best(docs, q, quality_col="quality")
    return out.select(
        "doc_id",
        "component",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "quality",
        F.col("is_canonical").cast("long").alias("is_canonical"),
    )


def _keep_best_sql() -> str:
    from .queries_ext import _minhash_ctes

    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT ia, ib FROM cand GROUP BY ia, ib),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION ALL
  SELECT ib AS a, ia AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
m AS (
  SELECT doc_id, text, ws,
    {_qscore_m_fields()}
  FROM w
),
qsc AS (
  SELECT doc_id, {_qscore_expr()} AS quality FROM m
),
fullq AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, q.quality
  FROM documents d
  LEFT JOIN comp c ON c.id = d.doc_id
  LEFT JOIN qsc q USING (doc_id)
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM fullq GROUP BY component
),
rk AS (
  SELECT doc_id,
    row_number() OVER (
      PARTITION BY component
      ORDER BY COALESCE(quality, -1e9) DESC, doc_id) AS rn
  FROM fullq
)
SELECT f.doc_id, f.component,
  CAST(s.cluster_size AS BIGINT) AS cluster_size,
  f.quality,
  CAST(r.rn = 1 AS BIGINT) AS is_canonical
FROM fullq f
JOIN sizes s USING (component)
JOIN rk r USING (doc_id)"""


_register(
    "dedup_cc_keep_best",
    Query(spark=_keep_best_spark, sql=_keep_best_sql()),
)


# --------------------------------------------------------------------- #
# Leakage-safe split: near-dup CLUSTERS are the split unit, so a
# train/test boundary can never separate two near-duplicates (the
# failure mode plain per-doc hash splits cannot prevent).
# --------------------------------------------------------------------- #

LS_SEED, LS_VAL, LS_TEST = "lsafe", 0.1, 0.1


def _leakage_safe_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.dedup import lsh_dedup_clusters
    from .functions.sampling import HASH_DEN, hash_bucket

    docs = _docs(spark, sf_dir)
    cl = lsh_dedup_clusters(docs).select("doc_id", "component")
    b = hash_bucket(F.col("component"), LS_SEED)
    val_cut = round(LS_VAL * HASH_DEN)
    test_cut = val_cut + round(LS_TEST * HASH_DEN)
    return cl.select(
        "doc_id",
        "component",
        F.when(b < val_cut, F.lit("val"))
        .when(b < test_cut, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def _leakage_safe_sql() -> str:
    from .functions.sampling import HASH_DEN, bucket_sql
    from .queries_ext import _minhash_ctes

    b = bucket_sql("component", LS_SEED)
    val_cut = round(LS_VAL * HASH_DEN)
    test_cut = val_cut + round(LS_TEST * HASH_DEN)
    return f"""
WITH RECURSIVE {_minhash_ctes()},
pairs AS (SELECT ia, ib FROM cand GROUP BY ia, ib),
edges AS (
  SELECT ia AS a, ib AS b FROM pairs
  UNION ALL
  SELECT ib AS a, ia AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS lab FROM edges
  UNION
  SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
alldocs AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, component,
  CASE WHEN {b} < {val_cut} THEN 'val'
       WHEN {b} < {test_cut} THEN 'test'
       ELSE 'train' END AS split
FROM alldocs"""


_register(
    "split_leakage_safe",
    Query(spark=_leakage_safe_spark, sql=_leakage_safe_sql()),
)


# --------------------------------------------------------------------- #
# Market-basket part pairs (a-priori 2-itemset pass over orders):
# support + lift for parts bought together — the classic co-occurrence
# mining shape on the relational side.
# --------------------------------------------------------------------- #

BK_MIN_SUPP, BK_TOPK = 3, 30


def _basket_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct (order, part) projection; the pair
    self-join is keyed on the ORDER (baskets are small — ≤7 lineitems in
    TPC-H — so per-basket pair fan-out is bounded, the opposite regime
    from the token posting lists); item supports broadcast onto the
    min-support-pruned pair table; top-k by TakeOrdered."""
    from pyspark.sql import Window

    from .queries import round4

    # four consumers (n_orders, both self-join sides, item supports)
    # read this distinct projection — materialize it once
    # (materialize.shared: checkpoint blocks free with the result, no
    # session-lifetime cache entry — ADVICE r7)
    from .functions.materialize import shared

    li = shared(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
    )
    n_orders = li.select(F.count_distinct("ok").alias("n"))
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= BK_MIN_SUPP)
    )
    item = li.groupBy("pk").agg(F.count(F.lit(1)).alias("isupp"))
    lift = (
        F.col("supp").cast("double")
        * F.col("n").cast("double")
        / (F.col("sa").cast("double") * F.col("sb").cast("double"))
    )
    scored = (
        pairs.join(
            F.broadcast(item.select(F.col("pk").alias("pa"), F.col("isupp").alias("sa"))),
            "pa",
        )
        .join(
            F.broadcast(item.select(F.col("pk").alias("pb"), F.col("isupp").alias("sb"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            F.col("supp").cast("long").alias("supp"),
            round4(lift).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("supp").desc(), F.col("pa"), F.col("pb")
    ).limit(BK_TOPK)
    win = Window.orderBy(F.col("supp").desc(), F.col("pa"), F.col("pb"))
    return top.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select("rank", "pa", "pb", "supp", "lift")


_BASKET_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
nn AS (SELECT count(DISTINCT ok) AS n FROM li),
pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= {BK_MIN_SUPP}
),
item AS (SELECT pk, count(*) AS isupp FROM li GROUP BY pk),
scored AS (
  SELECT p.pa, p.pb, CAST(p.supp AS BIGINT) AS supp,
    floor(CAST(p.supp AS DOUBLE) * CAST(nn.n AS DOUBLE)
          / (CAST(ia.isupp AS DOUBLE) * CAST(ib.isupp AS DOUBLE))
          * 1e4 + 0.500000001) / 1e4 AS lift
  FROM pairs p
  JOIN item ia ON ia.pk = p.pa
  JOIN item ib ON ib.pk = p.pb, nn
)
SELECT CAST(row_number() OVER (ORDER BY supp DESC, pa, pb) AS BIGINT)
    AS rank,
  pa, pb, supp, lift
FROM scored ORDER BY supp DESC, pa, pb LIMIT {BK_TOPK}"""


_register(
    "basket_part_pairs",
    Query(spark=_basket_spark, sql=_BASKET_SQL),
)


# --------------------------------------------------------------------- #
# Mixture plan EXECUTION: the water-fill rates actually run as a
# per-source hash sample, with achieved-vs-planned accounting — closing
# the loop from "weights" to "rows on disk".
# --------------------------------------------------------------------- #


def _plan_execute_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The waterfill output is K rows — collected to the driver (same
    budget as k-means centroids) and turned into per-source hash-sample
    thresholds; the corpus-side filter is then row-local (pushes into
    the scan), and the audit agg is one groupBy.  Rates quantize to the
    10⁴ hash-bucket grid, so planned and achievable rates agree exactly
    and the hash filter is engine-portable."""
    from .functions.sampling import HASH_DEN, hash_bucket
    from .queries import round4

    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    plan = _wf_spark(spark, sf_dir)
    rates = {
        r["source"]: round(r["sample_rate"] * HASH_DEN)
        for r in plan.collect()
    }
    spark_rates = local_frame(
        spark, sorted(rates.items()), "source string, _thresh long"
    )
    sampled = (
        docs.join(F.broadcast(spark_rates), "source")
        .filter(hash_bucket(F.col("doc_id"), "mixexec") < F.col("_thresh"))
    )
    per = sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("sampled_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias(
            "sampled_tokens"
        ),
    )
    base = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_docs")
    )
    return (
        base.join(F.broadcast(spark_rates), "source")
        .join(per, "source", "left")
        .select(
            "source",
            "total_docs",
            round4(F.col("_thresh").cast("double") / HASH_DEN).alias(
                "planned_rate"
            ),
            F.coalesce(F.col("sampled_docs"), F.lit(0))
            .cast("long")
            .alias("sampled_docs"),
            F.coalesce(F.col("sampled_tokens"), F.lit(0))
            .cast("long")
            .alias("sampled_tokens"),
        )
    )


def _plan_execute_sql() -> str:
    from .functions.sampling import HASH_DEN, bucket_sql

    wf = _wf_sql().strip()
    b = bucket_sql("d.doc_id", "mixexec")
    return f"""
WITH plan AS ({wf}),
rates AS (
  SELECT source,
    CAST(round(sample_rate * {HASH_DEN}) AS BIGINT) AS thresh
  FROM plan
),
sampled AS (
  SELECT d.source, count(*) AS sampled_docs,
    sum(len(string_split(d.text, ' '))) AS sampled_tokens
  FROM documents d JOIN rates r USING (source)
  WHERE d.text IS NOT NULL AND {b} < r.thresh
  GROUP BY d.source
),
base AS (
  SELECT source, count(*) AS total_docs FROM documents
  WHERE text IS NOT NULL GROUP BY source
)
SELECT b.source, CAST(b.total_docs AS BIGINT) AS total_docs,
  floor(CAST(r.thresh AS DOUBLE) / {HASH_DEN} * 1e4 + 0.500000001) / 1e4
    AS planned_rate,
  CAST(COALESCE(s.sampled_docs, 0) AS BIGINT) AS sampled_docs,
  CAST(COALESCE(s.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
FROM base b
JOIN rates r USING (source)
LEFT JOIN sampled s USING (source)"""


_register(
    "mixture_plan_execute",
    Query(spark=_plan_execute_spark, sql=_plan_execute_sql()),
)
