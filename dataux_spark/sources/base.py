"""Source abstraction — the federation layer.

The reference is a federated engine: each backend (ES, Mongo, Cassandra,
BigQuery, BigTable, Datastore, files, REST) discovers table schemas at
startup and declares what part of a query it can execute natively; the engine
"poly-fills" the rest (/root/reference/README.md:10-16, and per-backend
WalkSourceSelect sites, e.g. backends/mongo/sql_to_mgo.go:75-166).

Spark-first mapping: a Source produces DataFrames. Pushdown is Catalyst's job
(DSv2 SupportsPushDownFilters/Limit/RequiredColumns are built-in for file
formats); what remains of the reference's "pushdown tier negotiation" is a
*declaration* per source, used by tests to verify the polyfill contract —
a query must return identical results whether the source accepted pushdown
or the engine recomputed it (the core federation correctness property,
reference flags `needsWherePolyFill` etc.).

At 100 TB the tier also matters operationally: a `FULL` source (BigQuery
style, backends/bigquery/sql_to_bq.go:99-104) should receive the whole query
text; a SCAN_ONLY source must be partitioned aggressively and filtered
engine-side. `Source.load()` receives optional hints for this.
"""

from __future__ import annotations

import enum
import os
from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession

from dataux_spark.sqlutil import local_frame


def filter_documents(docs: list[dict], filters) -> list[dict]:
    """Apply the engine's fully-conjunctive (col, op, literal) filters to a
    document list with SQL three-valued semantics (NULL never matches) —
    the remote-query half shared by every agg-pushdown implementation."""
    ops = {
        "=": lambda a, b: a == b,
        "!=": lambda a, b: a != b,
        "<": lambda a, b: a < b,
        "<=": lambda a, b: a <= b,
        ">": lambda a, b: a > b,
        ">=": lambda a, b: a >= b,
    }
    out = []
    for d in docs:
        ok = True
        for col, op, val in filters:
            v = d.get(col)
            if v is None or not ops[op](v, val):
                ok = False
                break
        if ok:
            out.append(d)
    return out


def topk_documents(spark, all_docs: list[dict], cols, order, limit, filters):
    """Shared doc-side ORDER BY + LIMIT execution for the REST-shaped
    sources (the remote Sort().Limit() analog). Implements SPARK's null
    ordering (ASC → NULLS FIRST, DESC → NULLS LAST) so a pushed answer is
    bit-identical to the engine polyfill. Returns a DataFrame of the top
    `limit` rows with `cols` in requested order."""
    from pyspark.sql import types as T

    from dataux_spark.infer import infer_from_documents

    schema = infer_from_documents(all_docs)
    ftypes = {f.name: f.dataType for f in schema.fields}
    docs = filter_documents(all_docs, filters)
    # stable multi-pass sort, least-significant key first; None sorts as
    # smallest, which under reverse=True lands last — Spark's defaults
    for col, desc in reversed(order):
        docs = sorted(
            docs,
            key=lambda d, c=col: ((0,) if d.get(c) is None else (1, d.get(c))),
            reverse=desc,
        )
    docs = docs[:limit]
    fields = [T.StructField(c, ftypes.get(c, T.StringType()), True) for c in cols]
    return local_frame(
        spark, [tuple(d.get(c) for c in cols) for d in docs], T.StructType(fields)
    )


class PushdownTier(enum.Enum):
    """Mirrors the reference's per-backend capability levels (SURVEY §7.1)."""

    FULL = "full"                      # whole-query passthrough (BigQuery)
    FILTERS_LIMIT_AGGS = "filters_limit_aggs"  # ES-style
    FILTERS_LIMIT = "filters_limit"    # Mongo-style
    KEY_FILTERS = "key_filters"        # Cassandra-style (partition/cluster keys)
    SCAN_ONLY = "scan_only"            # Kube/BigTable REST-style


class Source(ABC):
    """A named backend exposing tables as DataFrames."""

    name: str
    tier: PushdownTier = PushdownTier.SCAN_ONLY
    #: Python-DataSource-backed sources must be re-loaded per statement:
    #: Spark caches a relation's FIRST built scan (reader + partitions,
    #: including any pushed filters baked into them) and reuses it for
    #: later queries that push no filters — a reused doc-store relation
    #: answered a plain count(*) over 1,500 documents with the 67 rows of
    #: the previous statement's filter (Spark 4.1). The engine re-registers
    #: these views before each SELECT and DESCRIBE
    #: (Engine._refresh_pushdown_views), so the refresh costs one load():
    #: a doc store fetches the collection and infers its schema on the
    #: driver (tens of ms, no Python planner worker), then registers the view.
    fresh_scan_per_query: bool = False
    #: Reference parity (SURVEY §2.5): each backend caps un-LIMITed reads at
    #: a default page size (ES 1000 sqltoes.go:22, Mongo 20 sql_to_mgo.go:25,
    #: Cass/BT/BQ/Kube 5000, Datastore 1000). Applied by the engine ONLY when
    #: the source result is final (plain single-table SELECT, no aggregation
    #: — the reference lifts the cap when a polyfill stage follows,
    #: sql_to_mgo.go:103-105). None = unlimited (file/memory sources).
    default_limit: int | None = None

    @abstractmethod
    def tables(self) -> list[str]:
        """Discovered table names (reference: per-backend schema discovery,
        SURVEY §1.3 — e.g. ES GET /_aliases, Mongo collection sampling)."""

    @abstractmethod
    def load(self, spark: SparkSession, table: str) -> DataFrame:
        """Return the table as a DataFrame. Must be lazy (no action)."""

    def writable(self) -> bool:
        return False

    def execute_agg(self, spark, table, items, filters, group_by):
        """Source-side aggregate execution hook (reference: the ES backend
        translates whole aggregations — count/min/max/avg/sum/cardinality,
        optionally under a terms bucket — into the native `_search` body,
        /root/reference/backends/elasticsearch/sqltoes.go:285-365,599-647).

        The engine offers a simple single-table aggregate query here BEFORE
        planning it in Spark; return a DataFrame holding the (tiny) agg
        result to accept, or None to decline into the Spark polyfill.
        `items` = [(fn, arg, alias)], `filters` = [(col, op, value)] — the
        engine only offers queries whose WHERE parsed fully into that
        conjunction, mirroring the reference's whole-translation-or-polyfill
        contract."""
        return None

    def execute_terms(self, spark, table, field, size, filters):
        """Source-side terms(field, k) top-k execution (the ES terms agg,
        sqltoes.go:612-634). Same accept-or-None contract as execute_agg;
        result shape must be (key, count) ordered by count desc, key."""
        return None

    def execute_topk(self, spark, table, cols, order, limit, filters):
        """Source-side ORDER BY + LIMIT execution (reference: sort is
        pushed wherever the backend supports it — ES sort array
        sqltoes.go:170-186, Mongo Find().Sort().Limit()
        sql_to_mgo.go:226-241, Datastore .Order()
        sql_to_datastore.go:107-119; Cassandra only on clustering keys,
        sql_to_cql.go:570-600). The engine offers a simple single-table
        `SELECT cols FROM t [WHERE conjunction] ORDER BY ... LIMIT n`;
        accept by returning the top-n rows already ordered (a 100 TB
        backend returns n rows, not the table), or None to decline into
        Spark's TakeOrderedAndProject polyfill. `order` =
        [(col, descending)], `filters` = [(col, op, literal)]."""
        return None

    def mutator(self, spark: SparkSession, table: str) -> "SourceMutator | None":
        """Write-path hook (reference: every mutable backend exposes
        schema.ConnMutation.CreateMutator → Put/Delete/DeleteExpression —
        backends/cassandra/sql_to_cql.go:236-394,
        backends/bigtable/sql_to_bt.go:242-396,
        backends/datastore/sql_to_datastore.go:218-382 read-modify-write).
        Return a SourceMutator to accept DML against `table`, or None —
        the engine then rejects the statement with a read-only error
        instead of silently mutating a shadow copy."""
        return None

    def files_table(self, spark: SparkSession) -> DataFrame | None:
        """Optional `<source>_files` virtual table (reference:
        backends/files/filesource_test.go:221-238)."""
        return None

    def register_all(self, spark: SparkSession) -> None:
        """Register every table (and the files virtual table) as temp views."""
        for t in self.tables():
            self.load(spark, t).createOrReplaceTempView(t)
        ft = self.files_table(spark)
        if ft is not None:
            ft.createOrReplaceTempView(f"{self.name}_files")


#: Hard cap on rows a single DML statement may push through a doc-store
#: mutator. Doc-store mutations are request-scale by the reference's
#: per-row Put contract (backends/cassandra/sql_to_cql.go:246-361,
#: bigtable's SetCell loop) — an `INSERT INTO mongo_tbl SELECT ... FROM
#: lineitem` must fail with a clear error, not driver-OOM collecting a
#: fact table. Raise via env for bulk fixture loads.
DML_BATCH_CAP = int(os.environ.get("DATAUX_DML_BATCH_CAP", "100000"))


class DmlBatchTooLarge(Exception):
    """A DML batch exceeded DML_BATCH_CAP rows for a doc-store mutator."""


def bounded_rows(batch: DataFrame, cap: int | None = None) -> "list":
    """Stream a DML batch to the driver partition-at-a-time, refusing
    corpus-scale inserts. `toLocalIterator()` bounds the in-flight
    transfer to one partition (the executors never ship the whole frame
    at once, and the count check aborts mid-stream), and the cap bounds
    what the mutator itself accumulates — the stores behind these
    mutators are remote row stores whose write API is per-row/per-page,
    so a statement-scale batch is the contract, not a corpus copy."""
    cap = DML_BATCH_CAP if cap is None else cap
    rows = []
    for r in batch.toLocalIterator():
        rows.append(r)
        if len(rows) > cap:
            raise DmlBatchTooLarge(
                f"DML batch exceeds {cap} rows for a doc-store mutator; "
                "doc-store mutations are request-scale — write bulk data "
                "to a warehouse-tier sink, or raise DATAUX_DML_BATCH_CAP"
            )
    return rows


class SourceMutator(ABC):
    """Per-table write contract, the Spark-side analog of the reference's
    schema.ConnMutation.CreateMutator → Put / Delete / DeleteExpression
    (backends/cassandra/sql_to_cql.go:236-394, datastore's read-modify-
    write sql_to_datastore.go:218-382). The engine maps DML onto it:

      INSERT / UPSERT → put(batch, keys)   (keys=None appends; with keys,
                                            existing rows on those keys
                                            are replaced — the Put-by-key
                                            upsert every backend mutator
                                            implements)
      DELETE WHERE    → delete_where(cond) (the DeleteExpression leg)
      UPDATE          → engine read-modify-write + overwrite(df)
                        (the datastore pattern: fetch, apply, put back)

    All methods return affected-row counts where the reference's mutators
    do (results_mysql.go:295-348 renders them)."""

    @abstractmethod
    def put(self, batch: DataFrame, keys: list[str] | None) -> int:
        """Append `batch`; with `keys`, replace existing rows that match
        a batch row on the key columns (upsert). Returns rows written."""

    @abstractmethod
    def delete_where(self, cond) -> int:
        """Delete rows where `cond` (a pyspark Column, or None = all).
        Returns rows deleted."""

    @abstractmethod
    def overwrite(self, df: DataFrame) -> None:
        """Replace the whole table — the commit half of the engine's
        read-modify-write UPDATE."""
