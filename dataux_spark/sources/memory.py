"""Static in-memory tables.

Reference: memdb/membtree static sources back system/introspection tables
(/root/reference/models/serverctx.go:119-134,
 frontends/mysqlfe/build_show.go:46-64).

Spark-first: committed rows become a `sqlutil.local_frame` (a JVM
LocalRelation, read back without a Python worker) — these tables are tiny
(system metadata), so they always broadcast in joins; no scale concern.
Also the writable fixture store for DML tests (INSERT/UPDATE/DELETE
semantics, reference backends/cassandra/sql_to_cql.go:246-394).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataux_spark.sources.base import PushdownTier, Source, SourceMutator
from dataux_spark.sqlutil import local_frame


class MemorySource(Source):
    tier = PushdownTier.SCAN_ONLY

    def __init__(self, name: str, tables: dict[str, DataFrame] | None = None):
        self.name = name
        self._tables: dict[str, DataFrame] = dict(tables or {})

    def add(self, table: str, df: DataFrame) -> None:
        self._tables[table] = df
        df.createOrReplaceTempView(table)

    def tables(self) -> list[str]:
        return list(self._tables)

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        if table not in self._tables:
            raise KeyError(f"unknown table {table!r} in source {self.name!r}")
        return self._tables[table]

    def writable(self) -> bool:
        return True

    def mutator(self, spark: SparkSession, table: str):
        if table not in self._tables:
            return None
        return _MemoryMutator(self, spark, table)


class _MemoryMutator(SourceMutator):
    """In-memory mutator (reference: memdb's Put/Delete over its btree,
    the simplest ConnMutation implementation). Commits materialize the
    new state (these tables are tiny system/fixture tables) so the stored
    DataFrame and temp view never self-refer to the pre-mutation plan."""

    def __init__(self, src: MemorySource, spark: SparkSession, table: str):
        self.src, self.spark, self.table = src, spark, table

    def _commit(self, df: DataFrame) -> None:
        from dataux_spark.sources.base import bounded_rows

        out = local_frame(self.spark, bounded_rows(df), df.schema)
        self.src._tables[self.table] = out
        out.createOrReplaceTempView(self.table)

    def put(self, batch: DataFrame, keys: list[str] | None) -> int:
        cur = self.src._tables[self.table]
        n = batch.count()
        if keys:
            cur = cur.join(batch.select(*keys), on=keys, how="left_anti")
        self._commit(cur.unionByName(batch))
        return n

    def delete_where(self, cond) -> int:
        cur = self.src._tables[self.table]
        if cond is None:
            n = cur.count()
            self._commit(cur.limit(0))
            return n
        n = cur.filter(cond).count()
        self._commit(cur.filter(~cond | cond.isNull()))
        return n

    def overwrite(self, df: DataFrame) -> None:
        self._commit(df)
