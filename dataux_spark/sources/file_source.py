"""File-backed sources: a directory of parquet/csv/json files, one table per
file (or per sub-directory).

Reference: the files backend treats each directory entry as a table with
pluggable format scanners over local/cloud storage
(/root/reference/backends/files/filesource_test.go:73-98) and exposes a
`<source>_files` virtual table listing (file, table, size, partition)
(filesource_test.go:221-238).

Spark-first: `spark.read.parquet/csv/json` IS the scanner — columnar,
predicate-pushdown, partition-pruned. At 100 TB a "directory" is an object
-store prefix with thousands of files; Spark's file index handles listing
and split planning, so this class stays a thin mapping from table name to
path. CSV schema inference is done once at registration (sampled), not per
query.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataux_spark.sources.base import PushdownTier, Source
from dataux_spark.sqlutil import local_frame


class _DirSource(Source):
    ext: str = ""
    tier = PushdownTier.FILTERS_LIMIT_AGGS  # parquet: filters+limit+aggs push to scan

    def __init__(self, name: str, path: str):
        self.name = name
        self.path = str(path)
        self._tables: dict[str, str] = {}
        self._discover()

    def _discover(self) -> None:
        p = Path(self.path)
        if not p.exists():
            return
        for child in sorted(p.iterdir()):
            name = child.name
            if name.endswith(self.ext):
                name = name[: -len(self.ext)]
            if child.is_file() and child.name.endswith(self.ext):
                self._tables[name] = str(child)
            elif child.is_dir():
                # partitioned/Spark-written table layout: directory of files
                # (possibly named table.parquet — strip the suffix)
                self._tables[name] = str(child)

    def tables(self) -> list[str]:
        return list(self._tables)

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        raise NotImplementedError

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        if table not in self._tables:
            raise KeyError(f"unknown table {table!r} in source {self.name!r}")
        return self._read(spark, self._tables[table])

    def files_table(self, spark: SparkSession) -> DataFrame | None:
        rows = [
            (
                os.path.basename(path),
                t,
                path,
                os.path.getsize(path) if os.path.isfile(path) else 0,
                0,
            )
            for t, path in self._tables.items()
        ]
        if not rows:
            return None
        return local_frame(
            spark,
            rows,
            "file STRING, `table` STRING, path STRING, size BIGINT, `partition` BIGINT",
        )


class ParquetDirSource(_DirSource):
    ext = ".parquet"

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        df = spark.read.parquet(path)
        dtypes = dict(df.dtypes)
        for col in _nanos_timestamp_columns(path):
            # nanosAsLong read the column as long ns; convert to a µs
            # timestamp with integer division (ns values overflow double's
            # 53-bit mantissa — float division would corrupt µs digits).
            # Matches DuckDB's ns→µs truncation for oracle comparison.
            # Guard on the read dtype: pyarrow also reports INT96 (legacy
            # Spark-written) timestamps as ns, but Spark reads those as
            # timestamp directly — no conversion needed.
            if dtypes.get(col) == "bigint":
                df = df.withColumn(col, F.expr(f"timestamp_micros(CAST(`{col}` DIV 1000 AS LONG))"))
        return df


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer inspection)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        target = Path(path)
        f = target if target.is_file() else next(target.glob("**/*.parquet"), None)
        if f is None:
            return []
        schema = pq.read_schema(str(f))
        return [
            name
            for name, typ in zip(schema.names, schema.types)
            if pa.types.is_timestamp(typ) and typ.unit == "ns"
        ]
    except Exception:
        return []


class CsvDirSource(_DirSource):
    ext = ".csv"
    tier = PushdownTier.SCAN_ONLY

    def __init__(self, name: str, path: str, header: bool = True, infer: bool = True):
        self.header, self.infer = header, infer
        super().__init__(name, path)

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.csv(path, header=self.header, inferSchema=self.infer)


class JsonDirSource(_DirSource):
    ext = ".json"
    tier = PushdownTier.SCAN_ONLY

    def _read(self, spark: SparkSession, path: str) -> DataFrame:
        return spark.read.json(path)
