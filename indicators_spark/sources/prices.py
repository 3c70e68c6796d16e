"""Canonical OHLCV ``prices`` derivation (FIXTURES.md F1/F2).

The indicator operators consume the reference's implicit OHLCV schema
(symbol, timestamp, open, high, low, close, volume).  For oracle-checked
queries this table is derived *deterministically* from the driver parquet
tables so the DuckDB side can rebuild the identical input with plain SQL.

The Spark builders here and the SQL snippets below encode the SAME
float64 expression graph in the same order, so both engines produce
bit-identical doubles (lag → greatest/least → multiply are all exact IEEE
ops given identical inputs).

Scale note: the derivation is one window pass partitioned by symbol — at
100 TB it parallelizes across symbols and pushes the column prune into the
parquet scan (only 5-6 of the source columns are read).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _events_has_nanos(path: str) -> bool:
    """True iff the parquet file stores ``ts`` as TIMESTAMP(NANOS) —
    footer-only probe, no Spark job.

    ``path`` may be a single file OR a Spark-written directory:
    ``pq.ParquetFile`` cannot open a directory, so probe the first data
    file under it (same listing discipline as
    ``scale.parquet_footer_stats``) — otherwise a directory-shaped
    events.parquet storing TIMESTAMP(NANOS) would silently skip the
    legacy ``nanosAsLong`` conf and the subsequent read would fail
    (ADVICE r4).  Only genuine absence (no path / no data files / no
    ``ts`` field) falls back to False; a real footer-parse error
    propagates rather than being swallowed into the wrong read path."""
    import glob as _glob

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            f
            for f in _glob.glob(
                os.path.join(path, "**", "*.parquet"), recursive=True
            )
            if not os.path.basename(f).startswith(("_", "."))
        )
        if not files:
            return False
        path = files[0]
    elif not os.path.exists(path):
        return False
    schema = pq.ParquetFile(path).schema_arrow
    if schema.get_field_index("ts") < 0:
        return False
    return getattr(schema.field("ts").type, "unit", None) == "ns"


#: Session confs that change the schema Spark infers for a parquet path.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


class _SchemaEntry:
    """What one parquet path's files decide: the footer nanos probe and
    the schema Spark inferred under each set of inference confs."""

    def __init__(self, files: tuple) -> None:
        self.files = files
        self.nanos: bool | None = None
        self.schemas: dict[tuple, T.StructType] = {}


#: Absolute path -> entry for its current files.  Every input that
#: decides an inferred schema is part of the lookup (file stats, confs),
#: so sharing the memo across callers and sessions changes only how many
#: Spark jobs a read launches, never what it returns; a rewritten path
#: replaces its entry, so the memo holds one entry per path read.
_SCHEMA_MEMO: dict[str, _SchemaEntry] = {}


def _file_stats(path: str) -> tuple | None:
    """``(relative name, mtime_ns, size)`` of every file under ``path``
    (the file itself for a single-file path), or ``None`` when
    ``os.stat`` cannot see it (a remote URI, a missing path, a file
    removed mid-listing)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (("", st.st_mtime_ns, st.st_size),)
        out = []
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out.append((os.path.relpath(fp, path), st.st_mtime_ns, st.st_size))
        return tuple(out)
    except OSError:
        return None


def _read_parquet(
    spark: SparkSession, path: str, probe_nanos: bool = False
) -> DataFrame:
    """``spark.read.parquet(path)`` without a schema-inference job when
    the files under ``path`` and the inference confs are unchanged since
    an earlier read: the schema Spark inferred then is passed to the
    reader.  ``probe_nanos`` first sets the legacy ``nanosAsLong`` conf
    when the file stores ``ts`` as TIMESTAMP(NANOS) (see load_table);
    the footer probe result is memoized with the schema."""
    files = _file_stats(path)
    if files is None:
        if probe_nanos and _events_has_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    entry = _SCHEMA_MEMO.get(key)
    if entry is None or entry.files != files:
        entry = _SCHEMA_MEMO[key] = _SchemaEntry(files)
    if probe_nanos:
        if entry.nanos is None:
            entry.nanos = _events_has_nanos(path)
        if entry.nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    schema = entry.schemas.get(confs)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    entry.schemas[confs] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The test parquet stores NAIVE timestamps (isAdjustedToUTC=false),
    # which Spark interprets in the *session* timezone; the DuckDB oracle
    # treats them as naive-UTC.  Pin UTC so every epoch-valued output is
    # identical regardless of the calling session's default timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(MICROS) (read
        # natively) or TIMESTAMP(NANOS), which Spark can only read as a raw
        # int64 under the legacy conf — handle both.  Ordering stays exact
        # via the event_id tie-breaker; oracle queries key rows on integer
        # ids, never on cross-engine timestamp repr.
        #
        # The legacy conf is SESSION-WIDE and would change how every later
        # parquet read in the session decodes TIMESTAMP(NANOS) columns, so
        # probe the footer first (driver-side, a few KB) and flip it only
        # when this file actually stores nanos.
        ev = _read_parquet(spark, f"{sf_dir}/events.parquet", probe_nanos=True)
        ts_type = dict(ev.dtypes).get("ts")
        if ts_type == "bigint":
            ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Spark 4 infers TIMESTAMP_NTZ for naive parquet TIMESTAMP(MICROS)
            # but rejects NTZ as an event-time (withWatermark) column.  The
            # session timezone is pinned to UTC above, so the cast to LTZ
            # TimestampType is value-preserving and gives load_table ONE
            # canonical ts type regardless of the on-disk physical type
            # (matches EVENTS_SCHEMA in streaming/windows.py).
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        return ev
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def prices_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLCV bars from ``events``: symbol=event_type, close=value,
    open=lag(value) (coalesced), high/low = ±1% of open/close envelope,
    volume=user_id.  Ties in ts broken by event_id (FIXTURES.md F1)."""
    ev = load_table(spark, sf_dir, "events")
    # Rename BEFORE the derivation window so the exchange is already
    # hashpartitioning(symbol) — every downstream per-symbol indicator
    # window then reuses this one exchange (alias-aware partitioning does
    # not see through a post-window rename; tests/test_plans.py pins this).
    base = ev.select(
        F.col("event_type").alias("symbol"),
        F.col("ts").alias("timestamp"),
        F.col("event_id").alias("seq"),
        F.col("value").alias("close"),
        F.col("user_id").cast("double").alias("volume"),
    )
    w = Window.partitionBy("symbol").orderBy("timestamp", "seq")
    p0 = base.select(
        "symbol",
        "timestamp",
        "seq",
        F.coalesce(F.lag("close").over(w), F.col("close")).alias("open"),
        "close",
        "volume",
    )
    return p0.select(
        "symbol",
        "timestamp",
        "seq",
        "open",
        (F.greatest("open", "close") * 1.01).alias("high"),
        (F.least("open", "close") * 0.99).alias("low"),
        "close",
        "volume",
    )


#: DuckDB CTE body producing the identical table (views pre-registered by
#: the driver; ``events`` is one of them).  Keep in lockstep with
#: :func:`prices_from_events`.
PRICES_SQL_EVENTS = """
p0 AS (
  SELECT
    event_type AS symbol,
    ts AS "timestamp",
    event_id AS seq,
    COALESCE(lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id), value) AS open,
    value AS close,
    CAST(user_id AS DOUBLE) AS volume
  FROM events
),
prices AS (
  SELECT
    symbol, "timestamp", seq, open,
    greatest(open, close) * 1.01 AS high,
    least(open, close) * 0.99 AS low,
    close, volume
  FROM p0
)
"""


def prices_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Larger multi-symbol series from ``lineitem`` (FIXTURES.md F2):
    symbol=l_returnflag, timestamp=l_shipdate, close=l_extendedprice,
    volume=l_quantity; ties broken by (l_orderkey, l_linenumber)."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("symbol"),
        F.col("l_shipdate").alias("timestamp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.col("l_extendedprice").alias("close"),
        F.col("l_quantity").cast("double").alias("volume"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so
    # seq alone can tie: extend the order key with (close, volume).  Rows
    # still tied after that are bit-identical and interchangeable for every
    # derived series.  Consumers must order windows the same way
    # (LINEITEM_ORDER below / prices_from_lineitem callers).
    w = Window.partitionBy("symbol").orderBy("timestamp", "seq", "close", "volume")
    p0 = base.select(
        "symbol",
        "timestamp",
        "seq",
        F.coalesce(F.lag("close").over(w), F.col("close")).alias("open"),
        "close",
        "volume",
    )
    return p0.select(
        "symbol",
        "timestamp",
        "seq",
        "open",
        (F.greatest("open", "close") * 1.01).alias("high"),
        (F.least("open", "close") * 0.99).alias("low"),
        "close",
        "volume",
    )


#: Window order for lineitem-derived series, on BOTH engines (see the
#: tie-breaking note in prices_from_lineitem).
LINEITEM_ORDER = '"timestamp", seq, close, volume'

PRICES_SQL_LINEITEM = """
p0 AS (
  SELECT
    l_returnflag AS symbol,
    l_shipdate AS "timestamp",
    l_orderkey * 10 + l_linenumber AS seq,
    COALESCE(lag(l_extendedprice) OVER (
        PARTITION BY l_returnflag
        ORDER BY l_shipdate, l_orderkey * 10 + l_linenumber,
                 l_extendedprice, l_quantity
    ), l_extendedprice) AS open,
    l_extendedprice AS close,
    CAST(l_quantity AS DOUBLE) AS volume
  FROM lineitem
),
prices AS (
  SELECT
    symbol, "timestamp", seq, open,
    greatest(open, close) * 1.01 AS high,
    least(open, close) * 0.99 AS low,
    close, volume
  FROM p0
)
"""
