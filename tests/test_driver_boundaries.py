"""Driver boundaries: frames over driver rows are Arrow-local
(``utils.local_frame``), and library reads of parquet files whose
schema is already known launch no schema-inference job (the
``load_table`` memo and the dedup ingest sinks' store reads)."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from indicators_spark.plans import plan_string
from indicators_spark.queries import QUERIES
from indicators_spark.sources.prices import load_table
from indicators_spark.utils import local_frame

from conftest import SF_SMOKE


def _max_job(spark) -> int:
    # job ids are sequential, so the max id is a monotone job counter
    # (see tests/test_multi_selection.py)
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def _plan_shape(df) -> str:
    """The executed plan without expression ids."""
    return re.sub(r"#\d+L?", "", plan_string(df))


def _jobs_of(spark, fn):
    before = _max_job(spark)
    out = fn()
    return out, _max_job(spark) - before


# --------------------------------------------------------------------- #
# local_frame vs createDataFrame(list)
# --------------------------------------------------------------------- #

_DDL = (
    "s string, n long, x double, d date, t timestamp, m decimal(12,3)"
)
_doubles = st.one_of(
    st.sampled_from([math.nan, math.inf, -math.inf, -0.0, 0.0]),
    st.floats(allow_nan=False, width=64),
)
_row = st.tuples(
    st.none() | st.text(max_size=6),
    st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.none() | _doubles,
    st.none() | st.dates(dt.date(1900, 1, 1), dt.date(2200, 12, 31)),
    st.none()
    | st.datetimes(dt.datetime(1950, 1, 1), dt.datetime(2200, 12, 31)),
    st.none()
    | st.decimals(
        min_value=-(10**8), max_value=10**8, places=3, allow_nan=False
    ),
)


def _canon(v):
    """NaN-aware, sign-of-zero-aware comparison key for one value."""
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else (v, math.copysign(1.0, v))
    return v


def _canon_rows(rows):
    return sorted(
        (tuple(_canon(v) for v in r) for r in rows), key=repr
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=0, max_size=6))
def test_local_frame_matches_list_frame(spark, rows):
    got = local_frame(spark, rows, _DDL)
    want = spark.createDataFrame(rows, _DDL)
    assert got.schema == want.schema
    assert _canon_rows(got.collect()) == _canon_rows(want.collect())


def test_local_frame_edge_rows(spark):
    """Empty and single-row inputs, and one row of every hostile value
    in every column, collect identically on both forms."""
    hostile = [
        ("", -(2**63), math.nan, dt.date(1969, 12, 31),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
         decimal.Decimal("-0.001")),
        ("ü", 2**63 - 1, -0.0, dt.date(2000, 2, 29),
         dt.datetime(2000, 2, 29, 12), decimal.Decimal("99999999.999")),
        (None, None, math.inf, None, None, None),
        (None, 0, -math.inf, None, None, decimal.Decimal("0")),
    ]
    for rows in ([], hostile[:1], hostile):
        got = local_frame(spark, rows, _DDL)
        want = spark.createDataFrame(rows, _DDL)
        assert got.schema == want.schema
        assert _canon_rows(got.collect()) == _canon_rows(want.collect())


def test_package_builds_driver_frames_only_through_local_frame():
    """The one ``createDataFrame`` call in the package is local_frame's
    (README "Driver boundaries")."""
    import ast
    from pathlib import Path

    import indicators_spark

    root = Path(indicators_spark.__file__).parent
    calls = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert len(calls) == 1 and calls[0].startswith("utils.py:"), calls


def test_local_frame_plans_a_local_table_scan(spark):
    df = local_frame(spark, [(1, 2.0)], "a long, b double")
    plan = plan_string(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    _, jobs = _jobs_of(spark, lambda: local_frame(spark, [(1,)], "a long"))
    assert jobs == 0


# --------------------------------------------------------------------- #
# answer frames of the selection / kcenter entries are LocalTableScans
# --------------------------------------------------------------------- #

_ANSWER_ENTRIES = (
    "analytic_median_selection",
    "analytic_group_median_selection",
    "analytic_weighted_median_selection",
    "analytic_group_weighted_median",
    "similarity_kcenter_select",
)


def _assert_local(df):
    plan = plan_string(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.mark.parametrize("name", _ANSWER_ENTRIES)
def test_answer_frame_is_local_table_scan(spark, name):
    _assert_local(QUERIES[name].spark(spark, SF_SMOKE))


@pytest.mark.parametrize("weighted", [False, True])
def test_kth_by_group_answer_is_local_table_scan(spark, weighted):
    from indicators_spark import scale

    df = spark.createDataFrame(
        [(g, float(i), 1) for i, g in enumerate("aabbbc")],
        "g string, v double, w long",
    )
    out = (
        scale.kth_element_by_group_weighted(df, "v", "w", "g", frac=0.5)
        if weighted
        else scale.kth_element_by_group(df, "v", "g", frac=0.5)
    )
    _assert_local(out)


# --------------------------------------------------------------------- #
# NaN group keys on the grouped selection engine
# --------------------------------------------------------------------- #


@pytest.fixture()
def nan_groups(spark, tmp_path):
    """Groups 1.0, 2.0 and NaN with values 0-14 (five rows each) plus
    one NULL-group row, on parquet so the value-table gate sees a size
    estimate."""
    groups = [1.0] * 5 + [2.0] * 5 + [math.nan] * 5 + [None]
    path = str(tmp_path / "nan_groups.parquet")
    pq.write_table(
        pa.table(
            {
                "g": pa.array(groups, pa.float64()),
                "v": pa.array([float(i) for i in range(16)]),
                "w": pa.array([1] * 16, pa.int64()),
            }
        ),
        path,
    )
    return spark.read.parquet(path)


def _by_group(df):
    out = {}
    for r in df.collect():
        key = "nan" if r[0] is not None and math.isnan(r[0]) else r[0]
        out[key] = r["value"]
    return out


@pytest.mark.parametrize("path", ["table", "classic"])
@pytest.mark.parametrize("weighted", [False, True])
def test_nan_group_is_one_group(spark, nan_groups, monkeypatch, weighted, path):
    """Spark's groupBy sees one NaN group; both selection paths must
    answer it (pandas' default groupby drops NaN keys, so the
    value-table path must not use it).  The NULL group stays excluded,
    as documented."""
    from indicators_spark import scale

    if path == "classic":
        monkeypatch.setattr(scale, "SPECULATIVE_TABLE_MAX_BYTES", -1)
        monkeypatch.setattr(scale, "DRIVER_TABLE_MAX_ROWS", 0)
    if weighted:
        out = scale.kth_element_by_group_weighted(
            nan_groups, "v", "w", "g", frac=0.5, buckets=2, final_rows=1
        )
    else:
        out = scale.kth_element_by_group(
            nan_groups, "v", "g", frac=0.5, buckets=2, final_rows=1
        )
    spark_groups = {
        "nan" if math.isnan(r[0]) else r[0]
        for r in nan_groups.filter(F.col("g").isNotNull())
        .groupBy("g")
        .count()
        .collect()
    }
    got = _by_group(out)
    assert set(got) == spark_groups == {1.0, 2.0, "nan"}
    assert got == {1.0: 2.0, 2.0: 7.0, "nan": 12.0}


# --------------------------------------------------------------------- #
# load_table's schema memo
# --------------------------------------------------------------------- #


def test_second_load_of_unchanged_file_runs_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}),
        str(tmp_path / "t.parquet"),
    )
    first, _ = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "t"))
    second, jobs = _jobs_of(
        spark, lambda: load_table(spark, str(tmp_path), "t")
    )
    assert jobs == 0
    assert second.schema == first.schema
    assert _plan_shape(second) == _plan_shape(first)
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_reads_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    old = load_table(spark, str(tmp_path), "t")
    assert [f.dataType.simpleString() for f in old.schema] == [
        "bigint",
        "string",
    ]
    pq.write_table(
        pa.table({"a": [1.5, 2.5], "b": ["x", "y"], "c": [7, 8]}), path
    )
    new = load_table(spark, str(tmp_path), "t")
    assert new.schema == spark.read.parquet(path).schema
    assert [f.name for f in new.schema] == ["a", "b", "c"]
    assert new.schema["a"].dataType.simpleString() == "double"
    assert sorted(new.collect()) == [(1.5, "x", 7), (2.5, "y", 8)]


def test_nanos_events_file_reads_as_before(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file still reads through the legacy
    conf (and the ts fix-up) on a memo hit."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(key)
    ts = [dt.datetime(2024, 1, 1, 0, 0, i, 123456) for i in range(3)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "value": [1.0, 2.0, 3.0],
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    try:
        first = load_table(spark, str(tmp_path), "events")
        spark.conf.set(key, prior)  # a hit must set it again
        second, jobs = _jobs_of(
            spark, lambda: load_table(spark, str(tmp_path), "events")
        )
        assert jobs == 0
        assert spark.conf.get(key) == "true"
        assert second.schema == first.schema
        assert second.schema["ts"].dataType.simpleString() == "timestamp"
        assert [r["ts"] for r in second.orderBy("event_id").collect()] == ts
    finally:
        spark.conf.set(key, prior)


def test_spark_written_directory_reads_as_before(spark, tmp_path):
    src = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(12)],
        "id long, part string, x double",
    )
    src.write.partitionBy("part").parquet(str(tmp_path / "d.parquet"))
    want = spark.read.parquet(str(tmp_path / "d.parquet"))
    first = load_table(spark, str(tmp_path), "d")
    second, jobs = _jobs_of(
        spark, lambda: load_table(spark, str(tmp_path), "d")
    )
    assert jobs == 0
    assert first.schema == second.schema == want.schema
    assert sorted(second.collect()) == sorted(want.collect())
    assert sorted(
        second.filter(F.col("part") == "s1").collect()
    ) == sorted(want.filter(F.col("part") == "s1").collect())


# --------------------------------------------------------------------- #
# dedup ingest sinks read their stores with the library frame's schema
# --------------------------------------------------------------------- #


def _infer_store(spark, paths, schema):
    """Reference store read: the schema inferred from the files on
    every epoch."""
    return spark.read.parquet(*paths) if paths else None


def _sink_case(kind, out_dir):
    from indicators_spark.streaming import (
        LineDedupIngestSink,
        MinHashDedupIngestSink,
        SubstringDedupIngestSink,
    )

    if kind == "minhash":
        sink = MinHashDedupIngestSink(out_dir)
        return sink, sink.read_flagged
    if kind == "substring":
        sink = SubstringDedupIngestSink(out_dir, n=10)
    else:
        sink = LineDedupIngestSink(out_dir, min_df=2)
    return sink, sink.read_clean


def _run_epochs(spark, kind, out_dir, epochs):
    sink, read = _sink_case(kind, out_dir)
    jobs = 0
    for i, e in enumerate(epochs):
        _, n = _jobs_of(spark, lambda: sink(e, i))
        jobs += n
        if i < len(epochs) - 1:
            sink.compact_store(spark)
    store = spark.read.parquet(*sink._store_paths())
    return (
        sorted(tuple(r) for r in read(spark).collect()),
        sorted(tuple(r) for r in store.collect()),
        jobs,
        store.schema,
    )


#: store reads per run of three epochs that the sink no longer infers:
#: MinHash reads its store (epochs 1-2) and its own band dir (all three),
#: the substring and line sinks read their store (epochs 1-2)
_SKIPPED_INFERENCES = {"minhash": 5, "substring": 2, "line": 2}


@pytest.mark.parametrize("kind", sorted(_SKIPPED_INFERENCES))
def test_ingest_sinks_match_inferred_reads(spark, tmp_path, monkeypatch, kind):
    """Three epochs with compact_store between them: flagged/cleaned
    rows and the store are identical to the schema-inferring reads, and
    only the inference jobs disappear."""
    from indicators_spark.streaming import sinks

    docs = load_table(spark, SF_SMOKE, "documents")
    text = (
        F.regexp_replace("text", " ", "\n") if kind == "line" else F.col("text")
    )
    docs = docs.select("doc_id", text.alias("text"))
    epochs = [
        docs.filter((F.col("doc_id") % 3) == i).cache() for i in range(3)
    ]
    for e in epochs:
        e.count()
    new = _run_epochs(spark, kind, str(tmp_path / "new"), epochs)
    with monkeypatch.context() as m:
        m.setattr(sinks, "_read_store", _infer_store)
        old = _run_epochs(spark, kind, str(tmp_path / "old"), epochs)
    for e in epochs:
        e.unpersist()
    assert new[0] == old[0] and len(new[0]) > 0
    assert new[1] == old[1] and len(new[1]) > 0
    assert new[3] == old[3]
    assert old[2] - new[2] == _SKIPPED_INFERENCES[kind], (old[2], new[2])
