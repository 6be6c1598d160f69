"""Cassandra-style source — the KEY_FILTERS pushdown tier.

Reference: the Cassandra backend regenerates CQL from the AST but only
pushes WHERE predicates on PARTITION or CLUSTERING KEY columns — a
predicate on any other column flips `needsPolyFill` and is re-evaluated
engine-side (/root/reference/backends/cassandra/sql_to_cql.go:500-568,
key check isCassKey at :396-408). Within keys: =/!= always, range
operators only on NUMERIC key columns (:552-556), IN and LIKE declined
(:557-563). ORDER BY is pushable only on key columns, otherwise
`needsOrderByPolyFill` (:570-600 walkOrderBy/canOrder); real CQL restricts
server-side ordering to CLUSTERING keys, which is what TableMeta encodes
(infer.TableMeta.can_push_order). Key metadata comes from the keyspace
system tables at discovery time (source.go:150-262).

The table's key columns ship to the planning worker as the `key_cols` scan
option. ORDER BY negotiation is a Source-level contract:
`can_push_order(cols)` says whether the scan could serve the order natively
(clustering keys); Spark's own Sort node is the always-correct polyfill
either way, so the negotiation is observable in the push log while
correctness never depends on it.

Scale: a partition-key equality scan hits one Cassandra partition; at
cluster scale the scan would map token ranges to input partitions (one task
per vnode range).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)

from dataux_spark.infer import TableMeta, infer_from_documents
from dataux_spark.sources.base import PushdownTier
from dataux_spark.sources.docstore import DocStoreSource, split_filters

_RANGE = (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
_NUMERIC = (T.LongType, T.IntegerType, T.DoubleType, T.FloatType, T.ShortType, T.DecimalType)


def _numeric_cols(schema) -> set[str]:
    return {f.name for f in schema.fields if isinstance(f.dataType, _NUMERIC)}


def _acceptable(f, keys: set[str], numeric_cols: set[str]) -> bool:
    """The walkFilterBinary accept set (sql_to_cql.go:500-568): key columns
    only; = always, ranges only on numeric keys; IN/LIKE/NOT/null-checks
    declined."""
    if isinstance(f, EqualTo):
        return len(f.attribute) == 1 and f.attribute[0] in keys
    if isinstance(f, _RANGE):
        return (
            len(f.attribute) == 1
            and f.attribute[0] in keys
            and f.attribute[0] in numeric_cols
        )
    return False


class CassandraStyleSource(DocStoreSource):
    """name → {table: (url, TableMeta)}; key metadata gates what pushes."""

    format = "dataux_cass"
    tier = PushdownTier.KEY_FILTERS
    default_limit = 5000  # reference cassandra page size (SURVEY §2.5)

    def __init__(
        self,
        name: str,
        tables: dict[str, tuple[str, TableMeta]],
        push_log_dir: str | None = None,
    ):
        super().__init__(name, {t: url for t, (url, _) in tables.items()}, push_log_dir)
        self._tables = dict(tables)

    def meta(self, table: str) -> TableMeta:
        return self._tables[table][1]

    def _key_cols(self, table: str) -> list[str]:
        meta = self.meta(table)
        return meta.partition_keys + meta.clustering_keys

    @classmethod
    def split_pushable(cls, filters, schema, options):
        keys = set(json.loads(options.get("key_cols", "[]")))
        numeric = _numeric_cols(schema)
        return split_filters(filters, lambda f: _acceptable(f, keys, numeric))

    def _scan_options(self, table):
        return {"key_cols": json.dumps(self._key_cols(table))}

    def can_push_order(self, table: str, cols: list[str]) -> bool:
        """ORDER BY negotiation (sql_to_cql.go:570-600): servable natively
        iff every column is a clustering key; else the engine's Sort node
        is the polyfill (needsOrderByPolyFill)."""
        return self.meta(table).can_push_order(cols)

    def _declines_topk(self, table, order, filters, docs) -> bool:
        """CQL ORDER BY … LIMIT is servable ONLY when every order column
        is a clustering key AND every predicate is key-expressible
        (sql_to_cql.go:396-408,500-600) — anything else declines into the
        engine's TakeOrderedAndProject polyfill, the needsOrderByPolyFill
        path made concrete."""
        if not self.can_push_order(table, [c for c, _ in order]):
            return True
        # cheap gates FIRST — a decline must not cost a collection fetch
        # (the polyfill will fetch anyway; fetching here would double I/O)
        keys = set(self._key_cols(table))
        if any(col not in keys for col, _op, _val in filters):
            return True
        ranged = [col for col, op, _val in filters if op != "="]
        if not ranged:
            return False
        # the numeric-key gate consults the COLUMN's discovered type (the
        # same numeric set split_pushable derives from the schema), not
        # the literal's Python type — a numeric literal against a string
        # key column must decline (reference rule :552-556). Only range
        # predicates need the schema sample.
        numeric = _numeric_cols(self.infer_schema(docs()))
        return any(col not in numeric for col in ranged)

    # ------------------------------------------------------------- writes

    def writable(self) -> bool:
        # like the mongo-style tier, only file://-backed fixtures mutate
        return all(u.startswith("file://") for u in self.endpoints.values())

    def mutator(self, spark: SparkSession, table: str):
        """CQL write semantics (reference sql_to_cql.go:236-394: CreateMutator
        builds a prepared per-row upsert keyed by the PRIMARY KEY; there is
        no append-duplicate in Cassandra — INSERT of an existing key
        replaces the row, and the key is the table's partition+clustering
        columns, never the caller's). Delete-by-expression mirrors
        DeleteExpression (:376-394)."""
        if table not in self._tables:
            return None
        return self._doc_mutator(spark, table, self._key_cols(table))
