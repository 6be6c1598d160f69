"""SHOW / DESCRIBE mysql-layout shims.

Reference rewrites SHOW/DESCRIBE into SELECTs over an introspection schema
and pins exact mysql output shapes (/root/reference/CHANGELOG.md:20-23,
frontends/mysqlfe/sql_writer.go:121-201; layouts tested at
backends/mongo/mgo_test.go:175-301):

  DESCRIBE t            → 6 cols (Field, Type, Null, Key, Default, Extra)
  SHOW FULL COLUMNS     → 9 cols (+ Collation, Privileges, Comment)
  SHOW CREATE TABLE t   → 2 cols (Table, Create Table)
  SHOW TABLES           → 1 col  (Tables_in_<schema>)
  SHOW DATABASES        → 1 col  (Database)
  SHOW VARIABLES        → 2 cols (Variable_name, Value)

Spark-first: these are driver-side metadata — tiny literal frames built
from the catalog with `sqlutil.local_frame`. They plan as a JVM
LocalRelation, so answering one runs no Python worker; reading one back is
a LocalTableScan, never a job over a Python RDD.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dataux_spark.sqlutil import local_frame

# Spark type → mysql display type (reference sql_writer.go:28-120 mapping:
# bool→tinyint(1), int→int, long→bigint, double→float, string→varchar(255),
# timestamp→datetime, binary→blob, array/map/struct→text, json→text)
_MYSQL_TYPES = {
    T.BooleanType: "tinyint(1)",
    T.ByteType: "tinyint",
    T.ShortType: "smallint",
    T.IntegerType: "int",
    T.LongType: "bigint",
    T.FloatType: "float",
    T.DoubleType: "float",
    T.StringType: "varchar(255)",
    T.TimestampType: "datetime",
    T.TimestampNTZType: "datetime",
    T.DateType: "date",
    T.BinaryType: "blob",
}


def mysql_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    return _MYSQL_TYPES.get(type(dt), "text")


_DESC_SCHEMA = "Field string, Type string, `Null` string, Key string, Default string, Extra string"
_FULL_SCHEMA = (
    "Field string, Type string, Collation string, `Null` string, Key string, "
    "Default string, Extra string, Privileges string, Comment string"
)


def describe(spark: SparkSession, table: str, full: bool = False) -> DataFrame:
    schema = spark.table(table).schema
    rows = []
    for f in schema.fields:
        ty = mysql_type(f.dataType)
        null = "YES" if f.nullable else "NO"
        if full:
            coll = "utf8_general_ci" if ty.startswith("varchar") or ty == "text" else None
            rows.append((f.name, ty, coll, null, "", None, "", "select", ""))
        else:
            rows.append((f.name, ty, null, "", None, ""))
    return local_frame(spark, rows, _FULL_SCHEMA if full else _DESC_SCHEMA)


def show_create_table(
    spark: SparkSession, table: str, constraints: dict[str, str] | None = None
) -> DataFrame:
    schema = spark.table(table).schema
    parts = [f"  `{f.name}` {mysql_type(f.dataType)}" for f in schema.fields]
    # registered CHECK constraints surface in the DDL (MySQL 8 spelling),
    # so the catalog round-trips what the write path enforces
    parts += [
        f"  CONSTRAINT `{n}` CHECK ({e})"
        for n, e in sorted((constraints or {}).items())
    ]
    cols = ",\n".join(parts)
    ddl = f"CREATE TABLE `{table}` (\n{cols}\n) ENGINE=InnoDB DEFAULT CHARSET=utf8;"
    return local_frame(spark, [(table, ddl)], "Table string, `Create Table` string")


def show_tables(spark: SparkSession, schema_name: str, tables: list[str]) -> DataFrame:
    col = f"Tables_in_{schema_name}"
    return local_frame(spark, [(t,) for t in sorted(tables)], f"`{col}` string")


def show_databases(spark: SparkSession, names: list[str]) -> DataFrame:
    return local_frame(spark, [(n,) for n in sorted(names)], "Database string")


def show_variables(spark: SparkSession, ctx, like: str | None = None) -> DataFrame:
    merged = dict(ctx.DEFAULTS)
    merged.update(ctx.variables)
    items = sorted((k, str(v)) for k, v in merged.items())
    if like:
        pat = re.compile("^" + re.escape(like).replace("%", ".*").replace("_", ".") + "$", re.I)
        items = [kv for kv in items if pat.match(kv[0])]
    return local_frame(spark, items, "Variable_name string, Value string")
