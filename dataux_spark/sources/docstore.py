"""One pushdown reader for the doc-store sources (mongo, ES, cassandra,
datastore, lytics) — the engine half of the reference's pushed-vs-residual
contract, written once.

Reference: every document backend walks the WHERE tree and translates the
subset its native query can express, flagging everything else for the
engine to poly-fill after the scan (README.md:10-16, SURVEY §2.1, §2.2,
§7.1). Backends differ in their walker's accept set and little else; each
``*_style`` module cites its own walker.

Spark-first: that accept-or-residual negotiation IS Catalyst's DataSource
filter pushdown. Each backend is a Spark 4 Python DataSource whose
reader's ``pushFilters()`` keeps the backend-expressible subset and
returns the rest — Catalyst then plans the residual Filter node
automatically (the polyfill). A backend is a ``DocStoreSource`` subclass
that supplies only what differs:

- ``split_pushable``: the accept rule, over the whole filter list (the
  datastore rule depends on filter order);
- ``list_membership``: whether = and IN on a list value test membership;
- ``schema_sample``: how many documents schema discovery samples;
- its extra scan options and push-log fields, its top-k decline gate,
  ``tier``, ``default_limit``, mutators and any ``execute_agg``/``terms``.

Scale: accepted filters execute "remotely" (inside the source read, the
native query analog), so a 100 TB collection transfers only matching
documents. At cluster scale ``partitions()`` would slice the scan by shard
or key range into many InputPartitions — one task per shard, each shipping
its own pushed-filter query; the fixtures here are control-plane-sized.
"""

from __future__ import annotations

import functools
import json
import operator
import os
from abc import abstractmethod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

from dataux_spark.infer import SAMPLE_N, infer_from_documents
from dataux_spark.sources.base import (
    Source,
    SourceMutator,
    bounded_rows,
    topk_documents,
)
from dataux_spark.sources.rest import fetch_docs


def write_push_log(log_dir: str, name: str, record: dict) -> None:
    """Write one negotiation record to ``{log_dir}/{name}.json``.

    A scan writes ``{qid}.json`` = {"pushed": [filter reprs], "residual":
    [filter reprs], ...backend fields}; the source-side hooks write
    ``{qid}.topk.json`` and ``{qid}.agg.json``. pushFilters() runs inside
    a Spark Python planning worker (a separate process), so the record
    travels through a file, not module state."""
    with open(os.path.join(log_dir, f"{name}.json"), "w") as fh:
        json.dump(record, fh)


def read_push_log(log_dir: str, qid: str) -> dict[str, list[str]]:
    """Read the pushdown-negotiation record a scan wrote for ``qid``."""
    with open(os.path.join(log_dir, f"{qid}.json")) as fh:
        return json.load(fh)


def split_filters(filters, accepts) -> tuple[list, list]:
    """(accepted, residual) under a per-filter accept predicate."""
    accepted, residual = [], []
    for f in filters:
        (accepted if accepts(f) else residual).append(f)
    return accepted, residual


_COMPARE = {
    EqualTo: operator.eq,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
    In: lambda v, values: v in values,
    StringStartsWith: lambda v, s: isinstance(v, str) and v.startswith(s),
    StringEndsWith: lambda v, s: isinstance(v, str) and v.endswith(s),
    StringContains: lambda v, s: isinstance(v, str) and s in v,
}


def matches(f, doc: dict, list_membership: bool = False):
    """Three-valued evaluation of a pushed filter against a document — the
    remote query's execution analog. Returns True/False/None; a row is
    kept iff True. With ``list_membership``, = and IN on a list value use
    document-model membership (mgo_test.go:654-670) and other operators on
    a list match nothing."""
    if isinstance(f, Not):
        # SQL three-valued negation: NULL stays NULL (no match), so a
        # pushed $ne never resurrects NULL rows the residual would drop
        inner = matches(f.child, doc, list_membership)
        return None if inner is None else not inner
    v = doc.get(f.attribute[0])
    if isinstance(f, IsNull):
        return v is None
    if isinstance(f, IsNotNull):
        return v is not None
    if v is None:
        return None
    if list_membership and isinstance(v, list):
        if isinstance(f, EqualTo):
            return f.value in v
        if isinstance(f, In):
            return any(x in f.value for x in v)
        return None
    compare = _COMPARE.get(type(f))
    return None if compare is None else compare(v, f.value)


class DocStoreReader(DataSourceReader):
    """The pushed-vs-residual contract for one scan of one backend table.

    Lifecycle: the reader object LIVES ACROSS QUERIES (a registered view
    holds one relation), and Spark only calls pushFilters() when the query
    has candidate filters — so read() must never consult self._pushed (a
    filterless query after a filtered one would silently reuse the
    previous query's filters). partitions() runs during each query's
    planning, after any pushFilters(): it consumes the pushed set, embeds
    it in every InputPartition, and clears it."""

    def __init__(self, backend: type[DocStoreSource], schema, options):
        self._backend = backend
        self._schema = schema
        self._options = options
        self._url = options["url"]
        self._qid = options.get("qid", self._url)
        self._log_dir = options.get("push_log_dir")
        self._pushed = []

    def pushFilters(self, filters):
        accepted, residual = self._backend.split_pushable(
            list(filters), self._schema, self._options
        )
        self._pushed = accepted
        if self._log_dir:
            write_push_log(self._log_dir, self._qid, {
                "pushed": [repr(f) for f in accepted],
                "residual": [repr(f) for f in residual],
                **self._backend.push_log_fields(accepted, self._options),
            })
        return residual  # Catalyst re-applies these — the polyfill

    def partitions(self):
        pushed, self._pushed = self._pushed, []
        return [
            InputPartition((rng, pushed))
            for rng in self._backend.scan_ranges(self._options)
        ]

    def read(self, partition):
        rng, pushed = partition.value
        cols = [f.name for f in self._schema.fields]
        in_range, membership = self._backend.in_range, self._backend.list_membership
        for d in fetch_docs(self._url):
            if in_range(d, rng) and all(matches(f, d, membership) is True for f in pushed):
                yield tuple(d.get(c) for c in cols)


class DocStoreDataSource(DataSource):
    """The Spark data source of one backend; registration binds
    ``backend`` (DocStoreSource._ensure_format)."""

    backend: type[DocStoreSource]

    @classmethod
    def name(cls):
        return cls.backend.format

    def schema(self):
        docs = fetch_docs(self.options["url"])
        return infer_from_documents(docs, sample_n=self.backend.schema_sample or len(docs))

    def reader(self, schema):
        return DocStoreReader(self.backend, schema, self.options)


class DocStoreSource(Source):
    """name → {table: url}; each table scans through DocStoreReader."""

    #: the Spark data source short name the backend registers
    format: str
    fresh_scan_per_query = True
    #: documents sampled for schema discovery; None = every document
    schema_sample: int | None = SAMPLE_N
    #: = and IN on list values test membership (the Mongo document model)
    list_membership = False
    _registered_sessions: set[tuple[str, int]] = set()

    def __init__(self, name: str, endpoints: dict[str, str], push_log_dir: str | None = None):
        self.name = name
        self.endpoints = dict(endpoints)
        self.push_log_dir = push_log_dir

    # ------------------------------------------------------ backend hooks

    @classmethod
    @abstractmethod
    def split_pushable(cls, filters: list, schema, options) -> tuple[list, list]:
        """The backend's WHERE-walker accept rule: (accepted, residual)."""

    @classmethod
    def push_log_fields(cls, accepted: list, options) -> dict:
        """Extra fields for the scan's push-log record."""
        return {}

    @classmethod
    def scan_ranges(cls, options) -> list:
        """One entry per InputPartition; read() filters with in_range."""
        return [None]

    @staticmethod
    def in_range(doc: dict, rng) -> bool:
        return True

    def _scan_options(self, table: str) -> dict[str, str]:
        """Extra reader options for ``table``'s scan."""
        return {}

    def _declines_topk(self, table: str, order, filters, docs) -> bool:
        """The backend's ORDER BY + LIMIT gate, run before any fetch;
        ``docs()`` fetches the collection once if a gate needs it."""
        return False

    # ------------------------------------------------------- shared body

    @classmethod
    def _ensure_format(cls, spark: SparkSession) -> None:
        key = (cls.format, id(spark))
        if key not in DocStoreSource._registered_sessions:
            spark.dataSource.register(
                type(f"{cls.__name__}DataSource", (DocStoreDataSource,), {"backend": cls})
            )
            DocStoreSource._registered_sessions.add(key)
        # runtime conf so a vanilla (driver-owned) session works too
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def tables(self) -> list[str]:
        return list(self.endpoints)

    def load(self, spark: SparkSession, table: str) -> DataFrame:
        if table not in self.endpoints:
            raise KeyError(f"unknown table {table!r} in source {self.name!r}")
        self._ensure_format(spark)
        options = {"url": self.endpoints[table], "qid": f"{self.name}.{table}",
                   **self._scan_options(table)}
        if self.push_log_dir:
            options["push_log_dir"] = self.push_log_dir
        return spark.read.format(self.format).options(**options).load()

    def _log(self, table: str, kind: str, record: dict) -> None:
        if self.push_log_dir:
            write_push_log(self.push_log_dir, f"{self.name}.{table}.{kind}", record)

    def execute_topk(self, spark, table, cols, order, limit, filters):
        """Sort + limit inside the native query (Mongo
        Find().Sort().Limit() sql_to_mgo.go:226-241, ES sort array
        sqltoes.go:170-186, Datastore .Order() sql_to_datastore.go:107-119,
        CQL ORDER BY on clustering keys sql_to_cql.go:570-600): the
        backend returns n ordered rows, never the collection, unless its
        gate declines into Spark's TakeOrderedAndProject polyfill."""
        if table not in self.endpoints:
            return None
        docs = functools.cache(functools.partial(fetch_docs, self.endpoints[table]))
        if self._declines_topk(table, order, filters, docs):
            return None
        self._log(table, "topk", {"sort": [[c, d] for c, d in order], "limit": limit,
                                  "filters": [[c, o, v] for c, o, v in filters]})
        return topk_documents(spark, docs(), cols, order, limit, filters)

    def _doc_mutator(self, spark: SparkSession, table: str, key_cols=None):
        url = self.endpoints.get(table)
        if url is None or not url.startswith("file://"):
            return None
        return _DocMutator(spark, url[len("file://"):], key_cols)


class _DocMutator(SourceMutator):
    """Doc-store mutator over the collection's backing JSON — the analog
    of the reference Mongo mutator's per-document Put/Delete through the
    driver session (schema.ConnMutation contract; upsert-by-id is how
    every doc backend's Put behaves). Mutations are request-scale (a DML
    statement's batch), not corpus-scale, so driver-side document
    manipulation here matches the reference's own execution model.

    ``key_cols``, when set, is the backend's own primary key (the CQL
    partition+clustering key, the datastore entity key): every put
    upserts on it, never on the caller's keys — the engine's generic
    first-insert-column fallback would otherwise upsert on an arbitrary
    column and replace the wrong rows."""

    def __init__(self, spark: SparkSession, path: str, key_cols: list[str] | None = None):
        self.spark, self.path, self.key_cols = spark, path, key_cols

    def _docs(self) -> list[dict]:
        return fetch_docs(f"file://{self.path}")

    def _write(self, docs: list[dict]) -> None:
        with open(self.path, "w") as fh:
            json.dump(docs, fh, default=str)

    @staticmethod
    def _row_doc(row) -> dict:
        # sparse documents: omit NULL columns, like a doc store would
        return {k: v for k, v in row.asDict().items() if v is not None}

    def put(self, batch: DataFrame, keys: list[str] | None) -> int:
        if self.key_cols is not None:
            keys = self.key_cols
        new = [self._row_doc(r) for r in bounded_rows(batch)]
        docs = self._docs()
        if keys:
            # last-write-wins WITHIN the batch too (CQL/doc-store upsert
            # semantics): an INSERT..SELECT whose result repeats a key
            # must leave one row per key, not append both
            by_key = {tuple(d.get(k) for k in keys): d for d in new}
            new = list(by_key.values())
            docs = [d for d in docs if tuple(d.get(k) for k in keys) not in by_key]
        self._write(docs + new)
        return len(new)

    def delete_where(self, cond) -> int:
        # evaluate the SQL predicate with Spark over the loaded docs so
        # DELETE semantics (three-valued, type coercions) match the
        # engine's exactly, then persist the survivors
        docs = self._docs()
        if cond is None:
            self._write([])
            return len(docs)
        if not docs:  # emptied collection: the predicate matches nothing
            return 0
        schema = infer_from_documents(docs)
        cols = [f.name for f in schema.fields]
        df = self.spark.createDataFrame(
            [tuple(d.get(c) for c in cols) for d in docs], schema
        )
        n = df.filter(cond).count()
        keep = df.filter(~cond | cond.isNull())
        self._write([self._row_doc(r) for r in keep.collect()])
        return n

    def overwrite(self, df: DataFrame) -> None:
        self._write([self._row_doc(r) for r in bounded_rows(df)])
