"""Datastore-style source — equality-oriented KV-query pushdown.

Reference: the Google Datastore backend builds `datastore.NewQuery(kind)
.Filter(...).Order(...)` chains. Its WHERE walker accepts =, !=, <, <=, >,
>= property filters, REFUSES OR outright ("DataStore does not implement
OR", /root/reference/backends/datastore/sql_to_datastore.go:453-463,
comparisons :464-478), and inherits Datastore's signature planner rule
that INEQUALITY FILTERS MAY TARGET ONLY ONE PROPERTY per query (the native
API rejects a second inequality property; the walker's "datastore only
allows 1, warn" note at :467). IN/LIKE/EXISTS have no native form.

Catalyst never offers a top-level OR as a V2 filter (it stays a residual
automatically — the no-OR constraint is structural), so the walker-visible
negotiation is: accept EqualTo and range filters, but once ranges span a
second property, decline the later property's ranges into the residual;
decline IN/strings/null checks/NOT entirely.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)

from dataux_spark.sources.base import PushdownTier
from dataux_spark.sources.docstore import DocStoreSource

_RANGE = (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)


class DatastoreStyleSource(DocStoreSource):
    """name → {kind: url}; each kind scans through the KV-query reader."""

    format = "dataux_datastore"
    tier = PushdownTier.KEY_FILTERS
    default_limit = 1000  # reference datastore page size (SURVEY §2.5)

    def __init__(
        self,
        name: str,
        endpoints: dict[str, str],
        push_log_dir: str | None = None,
        entity_keys: dict[str, str] | None = None,
    ):
        super().__init__(name, endpoints, push_log_dir)
        # kind -> entity key property; a kind with a declared key accepts
        # DML (the reference datastore mutator addresses entities by key)
        self.entity_keys = dict(entity_keys or {})

    @classmethod
    def split_pushable(cls, filters, schema, options):
        """Datastore accept rule: = on any property; ranges on AT MOST ONE
        property (first seen wins — the native planner's single-inequality-
        property restriction); nothing else."""
        accepted, residual = [], []
        ineq_prop: str | None = None
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                accepted.append(f)
            elif isinstance(f, _RANGE) and len(f.attribute) == 1:
                prop = f.attribute[0]
                if ineq_prop is None or ineq_prop == prop:
                    ineq_prop = prop
                    accepted.append(f)
                else:
                    residual.append(f)  # second inequality property → polyfill
            else:
                residual.append(f)
        return accepted, residual

    def _declines_topk(self, table, order, filters, docs) -> bool:
        """`.Order().Limit()` pushdown (sql_to_datastore.go:107-119) under
        the native planner's composition rule: when the query has an
        inequality filter, the FIRST sort property must be that same
        property (Datastore rejects the query otherwise) — violations
        decline into Spark's polyfill. Equality-only filters compose with
        any sort."""
        ineq = [c for c, op, _ in filters if op not in ("=", "!=")]
        if ineq and (not order or order[0][0] != ineq[0]):
            return True
        # a != is itself an inequality; keep the rule simple
        return any(op == "!=" for _, op, _ in filters)

    # ------------------------------------------------------------- writes

    def writable(self) -> bool:
        return bool(self.entity_keys) and all(
            self.endpoints[t].startswith("file://") for t in self.entity_keys
        )

    def mutator(self, spark: SparkSession, table: str):
        """Datastore write semantics (reference sql_to_datastore.go:218-382:
        Put(key, entity) upserts the entity at its KEY — the UPDATE path is
        an explicit read-modify-write: fetch by key, apply SET, put back;
        deletes are by key after the same query). Entity Put is keyed
        always, by the DECLARED entity key, so INSERT of an existing key
        replaces the entity."""
        key = self.entity_keys.get(table)
        if key is None:
            return None
        return self._doc_mutator(spark, table, [key])
