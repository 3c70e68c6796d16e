"""Small helpers: column validation (reference ``utils.py``) and
Arrow-local frames over driver rows."""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def validate_columns(required_columns: list[str], available_columns: list[str]) -> None:
    """Raise ``ValueError`` listing any missing columns (reference utils.py:4-8)."""
    missing = [c for c in required_columns if c not in available_columns]
    if missing:
        raise ValueError(f"Missing required columns: {missing}")


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (positional tuples) that
    Spark plans as a ``LocalTableScan``.

    ``createDataFrame(<python list>)`` parallelizes the rows into an RDD
    (``Scan ExistingRDD``), so every action on the frame pays a Spark
    job even for a one-row answer; an Arrow table is embedded in the
    plan instead.  Values go through the same ``toInternal`` conversion
    as the list path (naive datetimes are local time, dates are epoch
    days), so both forms collect identical rows.  ``schema`` is a
    StructType or a DDL string and is never inferred from the values."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    cols = []
    for i, f in enumerate(schema.fields):
        conv = f.dataType.toInternal if f.dataType.needConversion() else None
        vals = [r[i] for r in rows]
        if conv is not None:
            vals = [None if v is None else conv(v) for v in vals]
        cols.append(pa.array(vals, type=to_arrow_type(f.dataType)))
    table = pa.Table.from_arrays(cols, names=schema.names)
    return spark.createDataFrame(table, schema)
