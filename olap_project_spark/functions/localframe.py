"""Driver-local DataFrame construction that plans as ``LocalTableScan``.

``spark.createDataFrame(rows, schema)`` over a plain Python list builds a
*pickled RDD* parallelized over ``defaultParallelism`` slices: counting a
1-row result then schedules 32 near-empty tasks and deserializes Python
rows in each (measured ~430 ms per action at 32 cores — and every
manifest-table read of an empty file list returns such a frame). Routing the same rows through one Arrow record batch makes
Catalyst plan a ``LocalTableScan`` instead: no Python workers, one task,
~4× faster per action (guide §4.1 — Arrow batches rather than pickled
rows, applied to the driver-local boundary).

The construction is exact, not inferred: the declared Spark schema is
converted to the equivalent Arrow schema and each column is built with
its exact Arrow type, so the resulting DataFrame's schema is identical
to the classic path's. Anything Arrow cannot represent (or a value
mismatching the declared type) falls back to the classic builder —
same rows, just slower."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructType, TimestampType


def _as_struct(schema) -> StructType:
    if isinstance(schema, StructType):
        return schema
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


def _has_timestamp(dt) -> bool:
    if isinstance(dt, TimestampType):
        return True
    if isinstance(dt, ArrayType):
        return _has_timestamp(dt.elementType)
    if isinstance(dt, MapType):
        return _has_timestamp(dt.keyType) or _has_timestamp(dt.valueType)
    if isinstance(dt, StructType):
        return any(_has_timestamp(f.dataType) for f in dt.fields)
    return False


def _local_instant(v):
    """A naive datetime as the aware host-local instant it names,
    honouring ``fold``: in the repeated hour of a DST fall-back,
    ``time.mktime`` (the classic builder's conversion) ignores ``fold``
    and guesses, so a collected timestamp would not round-trip. A wall
    clock the host zone skips or cannot represent stays naive and
    takes the classic conversion."""
    if v is None or v.tzinfo is not None:
        return v
    try:
        aware = v.astimezone()
    except (OverflowError, ValueError):
        return v
    return aware if aware.replace(tzinfo=None) == v else v


def _column(pa, values, spark_field, arrow_field):
    """One Arrow column of the declared type. ``TimestampType`` values
    take the classic builder's conversion (naive datetimes are
    host-local wall clocks, aware ones are instants) after
    :func:`_local_instant`, so the frame holds the same instants on any
    host time zone; nested timestamps raise and take the classic
    path."""
    dt = spark_field.dataType
    if isinstance(dt, TimestampType):
        micros = [dt.toInternal(_local_instant(v)) for v in values]
        return pa.array(micros, type=pa.int64()).cast(arrow_field.type)
    if _has_timestamp(dt):
        raise TypeError("nested timestamps take the classic builder")
    return pa.array(list(values), type=arrow_field.type)


def arrow_table(rows, schema) -> "pa.Table":  # noqa: F821
    """``rows`` as one Arrow table with the declared schema's exact
    Arrow types. Raises on dict rows (the classic builder binds those
    by NAME; a positional zip would silently reorder) and on values
    Arrow cannot take."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = _as_struct(schema)
    asch = to_arrow_schema(st)
    rows = list(rows)
    if any(isinstance(r, dict) for r in rows):
        raise TypeError("dict rows bind by name; use the classic builder")
    data = [tuple(r) for r in rows]
    cols = list(zip(*data)) if data else [() for _ in asch]
    return pa.Table.from_arrays(
        [_column(pa, c, sf, af) for c, sf, af in zip(cols, st.fields, asch)],
        schema=asch,
    )


def arrow_local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """The raising Arrow builder: :func:`arrow_table` → one record
    batch → ``LocalTableScan``. Raises where :func:`arrow_table` does
    and on any Arrow round-trip that would alter the declared schema."""
    st = _as_struct(schema)
    df = spark.createDataFrame(arrow_table(rows, st))
    if df.schema != st:
        raise TypeError("Arrow round-trip altered the declared schema")
    return df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` planned as a
    ``LocalTableScan`` (Arrow-batch construction), with the classic
    builder as the fallback for types/values Arrow cannot take."""
    try:
        return arrow_local_frame(spark, rows, schema)
    except Exception:  # noqa: BLE001 — exactness first, speed second
        return spark.createDataFrame(rows, schema)
