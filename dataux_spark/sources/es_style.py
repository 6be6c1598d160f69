"""ES-style source with REAL filter pushdown — the FILTERS_LIMIT_AGGS tier.

Reference: the Elasticsearch backend walks the WHERE tree and translates the
subset it can express as a native `_search` body — term (=), range
(<,<=,>,>=), terms (IN), exists/missing, prefix — flagging everything else
`needsWherePolyFill`; the engine re-applies the flagged residue after the
scan (/root/reference/backends/elasticsearch/sqltoes.go:403-586, residual
polyfill contract per README.md:10-16). Whole aggregations and terms(k)
translate into the `_search` aggs body (sqltoes.go:285-365,599-647). Schema
discovery walks every document (the index mapping analog).
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
    StringStartsWith,
)

from dataux_spark.infer import infer_from_documents
from dataux_spark.sources.base import PushdownTier, filter_documents
from dataux_spark.sources.docstore import DocStoreSource, split_filters
from dataux_spark.sources.rest import fetch_docs
from dataux_spark.sqlutil import local_frame

# What the ES walker can express natively (sqltoes.go:403-586): term, range,
# terms-IN, exists/missing, prefix; NOT via bool must_not.  Everything else
# (contains/endswith wildcards, null-safe =, unknown nodes) is declined and
# becomes a Catalyst residual Filter — the polyfill.
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
)


def _acceptable(f) -> bool:
    if isinstance(f, Not):
        return _acceptable(f.child)
    if not isinstance(f, _ACCEPTED):
        return False
    return len(f.attribute) == 1  # flattened dotted columns are one segment


class EsStyleRestSource(DocStoreSource):
    """name → {table: url}; each table scans through the pushdown reader."""

    format = "dataux_es"
    tier = PushdownTier.FILTERS_LIMIT_AGGS
    default_limit = 1000
    schema_sample = None

    @classmethod
    def split_pushable(cls, filters, schema, options):
        return split_filters(filters, _acceptable)

    # --------------------------------------------- aggregate pushdown (ES)

    def _docs(self, table: str) -> list[dict]:
        return fetch_docs(self.endpoints[table])

    def execute_agg(self, spark, table, items, filters, group_by):
        """Whole-aggregation execution inside the source — the `_search`
        aggs body analog (/root/reference/backends/elasticsearch/
        sqltoes.go:285-365; stats aggs :599-612, count-as-exists :635-647;
        GROUP BY as nested terms buckets :334-365).

        The result is a handful of rows (that is the point of pushing an
        agg: a 100 TB index returns one stats object, not 100 TB), built
        driver-side exactly like the reference's resultreader decodes the
        ES response (esresults.go:183-219). Differences from real ES kept
        deliberately engine-faithful: cardinality is exact here (ES HLL is
        approximate), and NULL group keys form a group (ES terms drops
        missing) — the polyfill-equivalence contract wins over remote
        quirks."""
        if table not in self.endpoints:
            return None
        from pyspark.sql import types as T

        docs = filter_documents(self._docs(table), filters)
        schema = infer_from_documents(docs or self._docs(table))
        ftypes = {f.name: f.dataType for f in schema.fields}

        def agg_type(fn, arg):
            if fn in ("count", "approx_count_distinct"):
                return T.LongType()
            if fn == "avg":
                return T.DoubleType()
            t = ftypes.get(arg, T.DoubleType())
            if fn == "sum":
                return t if isinstance(t, T.LongType) else T.DoubleType()
            return t  # min/max keep the column type

        def compute(group_docs):
            row = []
            for fn, arg, _alias in items:
                if fn == "key":
                    row.append(group_docs[0].get(arg) if group_docs else None)
                    continue
                vals = (
                    [1] * len(group_docs)
                    if arg == "*"
                    else [d[arg] for d in group_docs if d.get(arg) is not None]
                )
                if fn == "count":
                    row.append(len(vals))
                elif fn == "approx_count_distinct":
                    row.append(len(set(vals)))
                elif not vals:
                    row.append(None)
                elif fn == "sum":
                    s = sum(vals)
                    row.append(float(s) if not isinstance(agg_type("sum", arg), T.LongType) else s)
                elif fn == "avg":
                    row.append(sum(vals) / len(vals))
                elif fn == "min":
                    row.append(min(vals))
                elif fn == "max":
                    row.append(max(vals))
            return tuple(row)

        if group_by:
            # nested terms buckets: one level per group column
            # (sqltoes.go:334-365); a composite tuple key is the flattened
            # equivalent of the recursion
            groups: dict = {}
            for d in docs:
                groups.setdefault(tuple(d.get(c) for c in group_by), []).append(d)
            rows = [compute(g) for g in groups.values()]
        else:
            rows = [compute(docs)]
        fields = []
        for fn, arg, alias in items:
            if fn == "key":
                name = alias or arg
                fields.append(T.StructField(name, ftypes.get(arg, T.StringType()), True))
            else:
                # mirror Catalyst's default output names (count(*) plans
                # as count(1)) so the result schema is identical whether
                # the source accepted the pushdown or the polyfill ran
                name = alias or (f"{fn}({arg})" if arg != "*" else f"{fn}(1)")
                fields.append(T.StructField(name, agg_type(fn, arg), True))
        self._log(table, "agg", {
            "aggs": [[fn, arg] for fn, arg, _ in items],
            "filters": [[c, o, v] for c, o, v in filters],
            "group_by": group_by,
        })
        return local_frame(spark, rows, T.StructType(fields))

    def execute_terms(self, spark, table, field, size, filters):
        """terms(field, k) inside the source (sqltoes.go:612-634): per-key
        doc counts, top-k by count desc then key — the multi-row agg result
        the reference decodes at esresults.go:183-219."""
        if table not in self.endpoints:
            return None
        from pyspark.sql import types as T

        docs = filter_documents(self._docs(table), filters)
        counts: dict = {}
        for d in docs:
            k = d.get(field)
            counts[k] = counts.get(k, 0) + 1
        top = sorted(counts.items(), key=lambda kv: (-kv[1], str(kv[0])))[:size]
        ktype = infer_from_documents(self._docs(table)).fields
        ktype = next((f.dataType for f in ktype if f.name == field), T.StringType())
        self._log(table, "agg", {"terms": [field, size],
                                 "filters": [[c, o, v] for c, o, v in filters]})
        return local_frame(
            spark,
            top,
            T.StructType([T.StructField("key", ktype, True),
                          T.StructField("count", T.LongType(), False)]),
        )
