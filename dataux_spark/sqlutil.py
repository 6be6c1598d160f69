"""Small shared session helpers.

`local_frame` is the one way the engine turns rows held on the driver
(pushed answers, SHOW/DESCRIBE/EXPLAIN output, fixture and metadata
writes) into a DataFrame. It hands Spark an Arrow table, which PySpark
plans as a JVM `LocalRelation` (`LocalTableScan`): executing it needs no
Python worker. `spark.createDataFrame(<list>)` is backed by a Python RDD
instead, and every task that computes it round-trips through a Python
worker — about 1 s for a one-row answer, and ~4 s for a one-row
`coalesce(1)` parquet write.

The session-scoped metadata-cache pattern (read_table, stream harness)
lives here too.
"""

from __future__ import annotations


def _arrow_storage(dt):
    """Arrow type of `dt`'s internal (`toInternal`) values: timestamps and
    day-time intervals are int64 microseconds, dates int32 days."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DayTimeIntervalType)):
        return pa.int64()
    if isinstance(dt, T.DateType):
        return pa.int32()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_storage(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_storage(dt.keyType), _arrow_storage(dt.valueType))
    if isinstance(dt, T.StructType):
        return pa.struct(
            [pa.field(f.name, _arrow_storage(f.dataType), f.nullable) for f in dt.fields]
        )
    return to_arrow_type(dt)


def local_frame(spark, rows, schema):
    """DataFrame of driver-held `rows` under `schema` (a StructType or a
    DDL string), planned as a JVM LocalRelation.

    Rows go through the same verification and conversion as
    `spark.createDataFrame(rows, schema)`: a row that call rejects (an
    int in a double column, a None in a non-nullable one) raises the same
    error here, and a naive datetime is read as local time. The internal
    values then become Arrow columns; -0.0, NaN, ±inf and None survive,
    and zero rows give an empty frame with the schema. One difference: a
    decimal with more fractional digits than its column's scale raises
    here, where the list-built frame rounds it."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

    if isinstance(schema, str):
        schema = spark._parse_ddl(schema)
    verify = T._make_type_verifier(schema)
    convert = T._create_converter(schema)
    internal = []
    for r in rows:
        verify(r)
        internal.append(schema.toInternal(convert(r)))
    columns = list(zip(*internal)) if internal else [() for _ in schema.fields]
    arrays = []
    for values, f in zip(columns, schema.fields):
        arr = pa.array(values, type=_arrow_storage(f.dataType))
        arrays.append(arr.cast(to_arrow_type(f.dataType)))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=to_arrow_schema(schema)), schema
    )


def session_cache(spark, attr: str) -> dict:
    """A dict cached as an attribute on the SparkSession object — the
    metadata-catalog memo pattern (read_table / stream_events): survives
    exactly as long as the session object, so cross-session isolation
    (e.g. check.py --vanilla's bare session) is automatic and nothing
    outlives the engine that created it."""
    cache = getattr(spark, attr, None)
    if cache is None:
        cache = {}
        setattr(spark, attr, cache)
    return cache
