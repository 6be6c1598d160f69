"""Mongo-style source — the FILTERS_LIMIT pushdown tier.

Reference: the MongoDB backend translates the WHERE tree into a native
`db.C.Find(filter).Sort(...).Limit(n)` query. Its walker accepts binary
compares (=, !=, <, <=, >, >=), LIKE (→ $regex — so substring/suffix
wildcards ARE native, unlike Elasticsearch), IN (→ $in), BETWEEN
(→ $gte/$lte), and exists(); a unary NOT is "not implemented" and errors
into the engine polyfill
(/root/reference/backends/mongo/sql_to_mgo.go:395-664; LIKE at :520-530,
BETWEEN at :433-460, unary at :406-414). Aggregations are NOT pushed (the
$group pipeline is an intended-but-unfinished TODO, sql_to_mgo.go:319-356)
— that is exactly what separates this tier from the ES FILTERS_LIMIT_AGGS
tier. Default page size is 20 (sql_to_mgo.go:25). Schema is discovered by
sampling 30 documents per collection (mgo_source.go:241-333).

Mongo's document model matches scalar predicates against array fields by
MEMBERSHIP (`category IN ("news")` matches docs whose category array
contains "news", mgo_test.go:654-670). Engine half: the dialect rewrites
=/IN on array-typed columns to arrays_overlap (engine._rewrite_array_in);
source half: the pushed-filter evaluator applies membership when a
document value turns out to be a list (schemaless drift: the sampled
schema said scalar, a later document holds an array).

BETWEEN arrives as a GreaterThanOrEqual + LessThanOrEqual pair, LIKE
'x%'/'%x'/'%x%' as StringStartsWith/EndsWith/Contains, so accepting those
four classes IS accepting the reference's LIKE/BETWEEN surface.

Partitioned parallel scan: config-declared key ranges, one worker per
partition, the partition's range merged into each worker's native query
(sql_to_mgo.go:189-209, partition config mgo_test.go:66-87).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

from dataux_spark.sources.base import PushdownTier, filter_documents
from dataux_spark.sources.docstore import DocStoreSource, split_filters
from dataux_spark.sources.rest import fetch_docs
from dataux_spark.sqlutil import local_frame

# The Find()-expressible subset (sql_to_mgo.go:395-664). Note the contrast
# with es_style._ACCEPTED: StringContains/StringEndsWith are IN (Mongo
# $regex does any wildcard) while Not is OUT (walker's unary branch errors
# → polyfill).
_ACCEPTED = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
    StringStartsWith,
    StringEndsWith,
    StringContains,
)


def _acceptable(f) -> bool:
    if isinstance(f, Not):
        # Binary != / NOT IN arrive as Not(EqualTo)/Not(In) in the V2
        # filter vocabulary and translate as $ne/$nin (the reference's
        # binary walker, sql_to_mgo.go:416-470); only OTHER unary NOT
        # shapes hit the not-implemented branch (sql_to_mgo.go:406-414)
        # and decline into the polyfill.
        return isinstance(f.child, (EqualTo, In)) and len(f.child.attribute) == 1
    if not isinstance(f, _ACCEPTED):
        return False
    return len(f.attribute) == 1


class MongoStyleSource(DocStoreSource):
    """name → {collection: url}; each collection scans through the
    FILTERS_LIMIT pushdown reader."""

    format = "dataux_mongo"
    tier = PushdownTier.FILTERS_LIMIT
    default_limit = 20  # sql_to_mgo.go:25
    list_membership = True

    def __init__(
        self,
        name: str,
        endpoints: dict[str, str],
        push_log_dir: str | None = None,
        partitions: dict[str, tuple[str, list]] | None = None,
    ):
        """`partitions`: {table: (key_col, [boundary, ...])} — declares the
        reference's config-level key-range partitioning (mgo_test.go:66-87);
        n boundaries → n+1 parallel scan tasks, each range-filtered."""
        super().__init__(name, endpoints, push_log_dir)
        self.partitions = dict(partitions or {})

    @classmethod
    def split_pushable(cls, filters, schema, options):
        return split_filters(filters, _acceptable)

    def _scan_options(self, table):
        if table not in self.partitions:
            return {}
        col, bounds = self.partitions[table]
        return {"partition_col": col, "partition_bounds": json.dumps(bounds)}

    @classmethod
    def scan_ranges(cls, options):
        # partition_col + bounds [b0..bn] → n+1 half-open key ranges; Spark
        # schedules one task per range
        col = options.get("partition_col")
        bounds = json.loads(options.get("partition_bounds", "[]"))
        if not col or not bounds:
            return [None]
        edges = [None, *bounds, None]
        return [(col, edges[i], edges[i + 1]) for i in range(len(edges) - 1)]

    @staticmethod
    def in_range(doc, rng) -> bool:
        if rng is None:
            return True
        col, lo, hi = rng
        v = doc.get(col)
        if v is None:
            return lo is None  # NULL keys land in the first (open) range
        return (lo is None or v >= lo) and (hi is None or v < hi)

    def execute_agg(self, spark, table, items, filters, group_by):
        """The ONE aggregate Mongo pushes natively: count(*) as
        `query.Count()` (backends/mongo/mgo_results.go:112-119). Anything
        else — field aggs, group by — declines into the Spark polyfill
        (the $group pipeline is an unfinished TODO in the reference,
        sql_to_mgo.go:319-356)."""
        if table not in self.endpoints or group_by:
            return None
        if len(items) != 1 or items[0][0] != "count" or items[0][1] != "*":
            return None
        n = len(filter_documents(fetch_docs(self.endpoints[table]), filters))
        alias = items[0][2] or "count(1)"  # Catalyst's default output name
        self._log(table, "agg", {"count": True,
                                 "filters": [[c, o, v] for c, o, v in filters]})
        return local_frame(
            spark, [(n,)], T.StructType([T.StructField(alias, T.LongType(), False)])
        )

    def writable(self) -> bool:
        # writes land in the backing collection; only file:// endpoints
        # are mutable in this driver-backed stand-in
        return all(u.startswith("file://") for u in self.endpoints.values())

    def mutator(self, spark: SparkSession, table: str):
        return self._doc_mutator(spark, table)
