"""Lytics-style source — SQL WHERE regenerated as a SegmentQL filter.

Reference: the Lytics backend does not walk the WHERE into API calls —
it lifts the WHOLE where expression into a qlbridge FilterStatement
(SegmentQL: `FILTER <boolean tree> FROM <table>`) and sends that text to
the entity-scan REST API; no WHERE → `FILTER *`
(/root/reference/backends/lytics/generator.go:62-111, filterAll fallback
:103-107; result paging resultreader.go:53-128).

The accepted subset is RENDERED AS SegmentQL text — the artifact the
reference ships over the wire — and recorded in the push log's
`segmentql` field, so tests can pin the generated statement exactly.
Filters SegmentQL can't express from the V2 vocabulary (none today — the
expression language covers the whole set) would decline into Catalyst
residuals like every other tier. SegmentQL has no sort, so top-k always
declines into Spark.
"""

from __future__ import annotations

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

from dataux_spark.sources.base import PushdownTier
from dataux_spark.sources.docstore import DocStoreSource, split_filters

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


def _sq_val(v) -> str:
    if isinstance(v, str):
        return '"' + v.replace('"', '\\"') + '"'
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _sq_clause(f) -> str:
    """One SegmentQL clause per accepted filter (FilterQL expression
    syntax: the qlbridge dialect the reference's FilterStatement prints)."""
    if isinstance(f, Not):
        return f"NOT {_sq_clause(f.child)}"
    col = f.attribute[0]
    if isinstance(f, EqualTo):
        return f"{col} == {_sq_val(f.value)}"
    if isinstance(f, GreaterThan):
        return f"{col} > {_sq_val(f.value)}"
    if isinstance(f, GreaterThanOrEqual):
        return f"{col} >= {_sq_val(f.value)}"
    if isinstance(f, LessThan):
        return f"{col} < {_sq_val(f.value)}"
    if isinstance(f, LessThanOrEqual):
        return f"{col} <= {_sq_val(f.value)}"
    if isinstance(f, In):
        return f"{col} IN ({', '.join(_sq_val(v) for v in f.value)})"
    if isinstance(f, IsNull):
        return f"NOT EXISTS {col}"
    if isinstance(f, IsNotNull):
        return f"EXISTS {col}"
    if isinstance(f, StringStartsWith):
        return f'{col} LIKE {_sq_val(f.value + "%")}'
    if isinstance(f, StringEndsWith):
        return f'{col} LIKE {_sq_val("%" + f.value)}'
    if isinstance(f, StringContains):
        return f'{col} CONTAINS {_sq_val(f.value)}'
    raise ValueError(f"unrenderable filter {f!r}")


def segmentql(table: str, filters) -> str:
    """Render the pushed conjunction as a FilterStatement — `FILTER *` when
    nothing pushed (generator.go:103-107 filterAll)."""
    if not filters:
        return f"FILTER * FROM {table}"
    if len(filters) == 1:
        return f"FILTER {_sq_clause(filters[0])} FROM {table}"
    clauses = ", ".join(_sq_clause(f) for f in filters)
    return f"FILTER AND ( {clauses} ) FROM {table}"


def _acceptable(f) -> bool:
    if isinstance(f, Not):
        return _acceptable(f.child)
    return isinstance(f, _ACCEPTED) and len(f.attribute) == 1


class LyticsStyleSource(DocStoreSource):
    """name → {entity-table: url}; WHERE pushes as generated SegmentQL."""

    format = "dataux_lytics"
    tier = PushdownTier.FILTERS_LIMIT
    default_limit = 1000
    list_membership = True  # same document-model evaluation as mongo

    @classmethod
    def split_pushable(cls, filters, schema, options):
        return split_filters(filters, _acceptable)

    def _scan_options(self, table):
        return {"table": table}

    @classmethod
    def push_log_fields(cls, accepted, options):
        return {"segmentql": segmentql(options.get("table", "entities"), accepted)}

    def _declines_topk(self, table, order, filters, docs) -> bool:
        return True
