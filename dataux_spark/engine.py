"""Engine — the session object: SQL entry point, source registry, session
context, DML, and mysql-dialect admin commands.

Reference query lifecycle (SURVEY §3.1, /root/reference/frontends/mysqlfe/
mysql_handler.go:130-264): wire command → statement dispatch (SELECT vs
SHOW/DESCRIBE vs DML vs DDL vs SET) → plan/build → per-source pushdown →
polyfill tasks → result writer.

Spark-first mapping: `Engine.sql(text)` replaces the wire protocol; dispatch
happens on the statement head; SELECT goes to Spark SQL (Catalyst =
parse/analyze/optimize/pushdown/codegen) after the dialect rewrite pass;
SHOW/DESCRIBE are driver-side metadata shims; DML runs the dml module;
`CREATE source` registers a new backend at runtime (reference
README.md:76-86). The reference's distributed machinery (planner/) has no
equivalent code here because Spark's partitioned execution subsumes it — the
`WITH distributed=true` hint is accepted and ignored
(planner/executor.go:112-116).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataux_spark import dialect
from dataux_spark.dialect import SessionContext
from dataux_spark.dml import (
    DmlResult,
    TableStore,
    execute_dml,
    execute_source_dml,
)
from dataux_spark.dml import target_table as dml_target_table
from dataux_spark.functions import register_all
from dataux_spark.plans import show as show_plans
from dataux_spark.sources import (
    CsvDirSource,
    JsonDirSource,
    MemorySource,
    ParquetDirSource,
    PushdownTier,
    Source,
)
from dataux_spark.sources.passthrough import DuckDBPassthroughSource


class QueryError(Exception):
    """Invalid SQL or unresolvable query — returned as an error, never a
    crash (reference: graceful error path, backends/mongo/mgo_test.go:111-121,
    per-query recover at mysql_handler.go:171-179).

    The message always starts with a non-empty summary line (Spark analysis
    errors can begin with blank lines, which breaks clients that show only
    the first line)."""

    def __init__(self, message: str):
        lines = [ln for ln in str(message).splitlines() if ln.strip()]
        super().__init__("\n".join(lines) if lines else "query failed")


_TERMS_RE = re.compile(
    r"^\s*SELECT\s+terms\s*\(\s*(`[^`]+`|[\w.]+)\s*(?:,\s*(\d+)\s*)?\)\s+FROM\s+(\S+)\s*(?:WHERE\s+(.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SELECT_VARS_RE = re.compile(r"^\s*SELECT\s+(@[@\w.]+\s*(?:AS\s+\w+\s*)?(?:,\s*@[@\w.]+\s*(?:AS\s+\w+\s*)?)*)\s*$", re.IGNORECASE)
_CREATE_SOURCE_RE = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?SOURCE\s+`?(\w+)`?\s+WITH\s+(\{.*\})\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_SOURCE_RE = re.compile(r"^\s*DROP\s+SOURCE\s+`?(\w+)`?\s*$", re.IGNORECASE)
_ALTER_SOURCE_RE = re.compile(
    r"^\s*ALTER\s+SOURCE\s+`?(\w+)`?\s+WITH\s+(\{.*\})\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+CONSTRAINT\s+`?(\w+)`?"
    r"\s+CHECK\s*\((.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONSTRAINT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+CONSTRAINT\s+`?(\w+)`?\s*$",
    re.IGNORECASE,
)
_VERSION_AS_OF_RE = re.compile(
    r"\b(FROM|JOIN)\s+`?(\w+)`?\s+VERSION\s+AS\s+OF\s+(\d+)", re.IGNORECASE
)
_TABLE_CHANGES_RE = re.compile(
    r"\b(FROM|JOIN)\s+table_changes\s*\(\s*'?`?(\w+)'?`?\s*,\s*(\d+)\s*,\s*(\d+)\s*\)",
    re.IGNORECASE,
)
_USE_RE = re.compile(r"^\s*USE\s+`?(\w+)`?\s*$", re.IGNORECASE)
_TABLE_REF_RE = re.compile(r"(?:\bFROM|\bJOIN)\s+(`?[\w.]+`?)", re.IGNORECASE)

_GROUPED_TERMS_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+`?(?P<table>\w+)`?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<gb>[\w.,`\s]+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GROUPED_TERMS_ITEM_RE = re.compile(
    r"^terms\s*\(\s*(`[^`]+`|[\w.]+)\s*(?:,\s*(\d+)\s*)?\)(?:\s+AS\s+(\w+))?$",
    re.IGNORECASE,
)

_DECLINE = object()  # sentinel: un-expressible literal -> decline agg pushdown
_UNRESOLVED_COL_RE = re.compile(
    r"with name `([\w.]+)` cannot be resolved"
    r"|cannot resolve '`?([\w.]+)`?'"
    r"|Column '`?([\w.]+)`?' does not exist",
    re.DOTALL,
)


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.ctx = SessionContext()
        self.sources: dict[str, Source] = {}
        self.store = TableStore(spark)
        register_all(spark)

    # ------------------------------------------------------------ registry

    def register_source(self, source: Source) -> None:
        self.sources[source.name] = source
        source.register_all(self.spark)

    def register_parquet_dir(self, name: str, path: str) -> ParquetDirSource:
        src = ParquetDirSource(name, path)
        self.register_source(src)
        return src

    def register_memory(self, name: str, tables: dict[str, DataFrame] | None = None,
                        keys: dict[str, list[str]] | None = None) -> MemorySource:
        src = MemorySource(name, tables)
        for t, df in (tables or {}).items():
            df.createOrReplaceTempView(t)
        for t, k in (keys or {}).items():
            self.store.set_keys(t, k)
        self.register_source(src)
        return src

    def register_writable_parquet(
        self, table: str, src_path: str, workdir: str, keys: list[str] | None = None
    ) -> None:
        """Register a parquet-backed WRITABLE table: DML commits are
        copy-on-write versioned parquet rewrites (executor-side, no driver
        collect) — the Delta-MERGE pattern without Delta jars.
        (Reference DML semantics: SURVEY §3.3.)"""
        self.spark.read.parquet(src_path).createOrReplaceTempView(table)
        self.store.set_parquet_backing(table, workdir)
        if keys:
            self.store.set_keys(table, keys)

    def create_source(self, name: str, conf: dict) -> Source:
        """Runtime `CREATE source ... WITH {json}` (reference README.md:76-86,
        SqlCreate dispatch at mysql_handler.go:253-260)."""

        def setting(key: str):
            # a truthy top-level key wins over the `settings` sub-object
            return conf.get(key) or conf.get("settings", {}).get(key)

        kind = conf.get("type", "parquet")
        path = setting("path")
        if kind in ("parquet", "file", "files"):
            src: Source = ParquetDirSource(name, path)
        elif kind == "csv":
            src = CsvDirSource(name, path)
        elif kind == "json":
            src = JsonDirSource(name, path)
        elif kind in ("memory", "memdb"):
            src = MemorySource(name)
        elif kind in ("mongo", "mongodb"):
            from dataux_spark.sources.mongo_style import MongoStyleSource

            src = MongoStyleSource(
                name,
                setting("endpoints") or {},
                push_log_dir=setting("push_log_dir"),
                partitions=setting("partitions"),
            )
        elif kind in ("datastore", "gcd"):
            from dataux_spark.sources.datastore_style import DatastoreStyleSource

            src = DatastoreStyleSource(
                name,
                setting("endpoints") or {},
                push_log_dir=setting("push_log_dir"),
                entity_keys=setting("entity_keys"),
            )
        elif kind in ("cassandra", "cql"):
            from dataux_spark.infer import TableMeta
            from dataux_spark.sources.cassandra_style import CassandraStyleSource

            tables = {}
            for t, tc in (setting("tables") or {}).items():
                tables[t] = (
                    tc["url"],
                    TableMeta(
                        name=t,
                        schema=None,
                        partition_keys=list(tc.get("partition_keys") or []),
                        clustering_keys=list(tc.get("clustering_keys") or []),
                    ),
                )
            src = CassandraStyleSource(name, tables, push_log_dir=setting("push_log_dir"))
        elif kind in ("bigtable", "bt"):
            from dataux_spark.sources.bigtable_style import FamilyTableSource

            src = FamilyTableSource(
                name,
                setting("physical") or {},
                rowkey=setting("rowkey") or "rowkey",
                sep=setting("sep") or ":",
            )
        elif kind in ("kube", "rest"):
            from dataux_spark.sources.rest import RestJsonSource

            src = RestJsonSource(name, setting("endpoints") or {})
        elif kind == "lytics":
            from dataux_spark.sources.lytics_style import LyticsStyleSource

            src = LyticsStyleSource(
                name, setting("endpoints") or {}, push_log_dir=setting("push_log_dir")
            )
        elif kind in ("elasticsearch", "es"):
            from dataux_spark.sources.es_style import EsStyleRestSource

            src = EsStyleRestSource(
                name, setting("endpoints") or {}, push_log_dir=setting("push_log_dir")
            )
        elif kind in ("passthrough", "duckdb", "bigquery"):
            # FULL-tier remote engine (reference BigQuery backend)
            src = DuckDBPassthroughSource(
                name, setting("tables") or {}, db_path=setting("db_path")
            )
        else:
            raise QueryError(f"unknown source type {kind!r}")
        self.register_source(src)
        return src

    def dump_config(self) -> dict:
        """Serialize the live registry back to load_config's declarative
        shape, so a registry can be exported, versioned, and re-created
        (`Engine().load_config(other.dump_config())`) — the reference's
        confl config is the durable form of its schema registry
        (models/config.go:40-72); this is the inverse direction. Memory
        sources are omitted: their data lives only in this session, so no
        config could faithfully re-create them."""
        from dataux_spark.sources.bigtable_style import FamilyTableSource
        from dataux_spark.sources.cassandra_style import CassandraStyleSource
        from dataux_spark.sources.datastore_style import DatastoreStyleSource
        from dataux_spark.sources.es_style import EsStyleRestSource
        from dataux_spark.sources.file_source import CsvDirSource, JsonDirSource
        from dataux_spark.sources.lytics_style import LyticsStyleSource
        from dataux_spark.sources.mongo_style import MongoStyleSource
        from dataux_spark.sources.rest import RestJsonSource

        out: dict[str, dict] = {}
        for name, src in self.sources.items():
            def _opt(c: dict, s=src) -> dict:
                # optional behavioral fields must survive the round-trip —
                # silently dropping them would re-create a different source
                if getattr(s, "push_log_dir", None):
                    c["push_log_dir"] = s.push_log_dir
                return c

            if isinstance(src, CsvDirSource):
                out[name] = {"type": "csv", "path": src.path}
            elif isinstance(src, JsonDirSource):
                out[name] = {"type": "json", "path": src.path}
            elif isinstance(src, ParquetDirSource):
                out[name] = {"type": "parquet", "path": src.path}
            elif isinstance(src, MongoStyleSource):
                c = {"type": "mongo", "endpoints": dict(src.endpoints)}
                if src.partitions:
                    c["partitions"] = {
                        t: [col, list(bounds)] for t, (col, bounds) in src.partitions.items()
                    }
                out[name] = _opt(c)
            elif isinstance(src, EsStyleRestSource):
                out[name] = _opt({"type": "elasticsearch", "endpoints": dict(src.endpoints)})
            elif isinstance(src, DatastoreStyleSource):
                c = {"type": "datastore", "endpoints": dict(src.endpoints)}
                if src.entity_keys:
                    c["entity_keys"] = dict(src.entity_keys)
                out[name] = _opt(c)
            elif isinstance(src, LyticsStyleSource):
                out[name] = _opt({"type": "lytics", "endpoints": dict(src.endpoints)})
            elif isinstance(src, CassandraStyleSource):
                out[name] = _opt({
                    "type": "cassandra",
                    "tables": {
                        t: {
                            "url": url,
                            "partition_keys": list(meta.partition_keys),
                            "clustering_keys": list(meta.clustering_keys),
                        }
                        for t, (url, meta) in src._tables.items()
                    },
                })
            elif isinstance(src, FamilyTableSource):
                # DML on a BT source mutates only the in-memory row store,
                # not the fetch URLs a dump would reload from — a dumped-
                # and-reloaded registry would silently revert those writes,
                # so a mutated BT source is session-scoped and omitted,
                # exactly like MemorySource (same rule, same reason).
                if src._mutated:
                    continue
                c = {"type": "bigtable", "physical": dict(src.physical)}
                if src.rowkey != "rowkey":
                    c["rowkey"] = src.rowkey
                if src.sep != ":":
                    c["sep"] = src.sep
                out[name] = c
            elif isinstance(src, DuckDBPassthroughSource):
                c: dict = {"type": "passthrough"}
                if src._paths:
                    c["tables"] = dict(src._paths)
                if src.db_path:
                    c["db_path"] = src.db_path
                out[name] = c
            elif isinstance(src, RestJsonSource):
                out[name] = {"type": "kube", "endpoints": dict(src.endpoints)}
            # MemorySource and other session-only kinds: intentionally omitted
        return {"sources": out, "default_schema": self.ctx.current_schema}

    def load_config(self, conf: dict) -> None:
        """Bootstrap the registry from a declarative config — the
        reference daemon's startup path (Config{Sources, Schemas,
        Frontends}: /root/reference/models/config.go:40-72, built into the
        schema registry by ServerCtx at models/serverctx.go:18-74; each
        confl `sources` entry maps 1:1 onto create_source). Shape:

            {"sources": {"<name>": {"type": ..., ...}, ...},
             "default_schema": "<name>"}        # optional startup USE

        Frontend (listener) sections have no equivalent — `Engine.sql`
        IS the frontend here. Config may also be a JSON string."""
        if isinstance(conf, str):
            conf = json.loads(conf)
        for name, sconf in (conf.get("sources") or {}).items():
            self.create_source(name, sconf)
        if conf.get("default_schema"):
            self.ctx.current_schema = conf["default_schema"]

    def register_passthrough(
        self, name: str, table_paths: dict[str, str]
    ) -> DuckDBPassthroughSource:
        """Register a FULL-pushdown source (whole-query passthrough —
        reference BigQuery backend, backends/bigquery/sql_to_bq.go:99-104)."""
        src = DuckDBPassthroughSource(name, table_paths)
        self.register_source(src)
        return src

    def _drop_source(self, name: str) -> None:
        src = self.sources.pop(name, None)
        if src:
            for t in src.tables():
                self.spark.catalog.dropTempView(t)

    def add_function(self, name: str, fn, return_type=None) -> None:
        """Custom function registry (reference expr.FuncAdd,
        mysql_functions.go:53-78). A plain Python callable is promoted to
        an Arrow-batched pandas UDF (one JVM↔Python transfer per batch —
        no row-at-a-time UDF ever reaches the session); a function that is
        already a registered-UDF object (pandas_udf output) passes
        through untouched."""
        # a pandas_udf/udf product carries evalType; a bare callable doesn't
        if callable(fn) and not hasattr(fn, "evalType"):
            from dataux_spark.functions.registry import scalar_pandas_udf

            fn = scalar_pandas_udf(fn, return_type or T.StringType())
            return_type = None
        self.spark.udf.register(name, fn, return_type)

    def add_table_function(self, name: str, udtf_cls, return_type: str | None = None) -> None:
        """Custom TABLE function (completes the §2.9 surface — the reference
        has no UDTFs; its only multi-row function is the engine-internal
        terms() decode, esresults.go:183-219). A Python class with
        eval(...) -> Iterator[tuple], usable as
        `SELECT f.* FROM t, LATERAL name(col) f` — Catalyst plans the
        lateral correlation; rows stream out Arrow-batched per input
        partition, no driver materialization."""
        from pyspark.sql.functions import udtf

        wrapped = udtf(udtf_cls, returnType=return_type) if return_type else udtf_cls
        self.spark.udtf.register(name, wrapped)

    def _all_tables(self) -> list[str]:
        out = []
        for s in self.sources.values():
            out.extend(s.tables())
        return out

    def _all_columns(self) -> set[str]:
        cols: set[str] = set()
        for s in self.sources.values():
            for t in s.tables():
                try:
                    cols.update(self.spark.table(t).columns)
                except Exception:
                    pass
        return cols

    # ------------------------------------------------------------ sql entry

    def sql(self, text: str, args: list | tuple | dict | None = None):
        """Execute one or more ;-separated statements; returns the last
        result (DataFrame for queries, DmlResult for DML, None for SET).

        `args` binds prepared-statement parameters before dispatch:
        positional `?` from a list/tuple, named `:name` from a dict —
        the COM_STMT_EXECUTE surface any MySQL client uses (see
        dialect.bind_params). Bound values flow through every path:
        pushdown negotiation, DML, the dialect rewrites."""
        if args is not None:
            try:
                # comments out first: a '?' inside a comment must not
                # consume a bound parameter (bind_params is only
                # string-aware; the scanner is idempotent so the split's
                # own strip is a no-op afterwards)
                text = dialect._strip_comments(text)
                text = dialect.bind_params(text, args)
            except ValueError as e:
                raise QueryError(str(e)) from e
        result = None
        for stmt in dialect.split_statements(text):
            result = self._execute(stmt)
        return result

    def _execute(self, stmt: str):
        head = stmt.split(None, 1)[0].upper() if stmt.split() else ""
        try:
            if head == "SET":
                return self._set(stmt)
            if head in ("COMMIT", "ROLLBACK", "BEGIN", "START"):
                return None  # accepted, no transactions (mysql_handler.go:205-222)
            if head == "USE":
                m = _USE_RE.match(stmt)
                if m:
                    self.ctx.current_schema = m.group(1)
                    return None
            # qualified source.table references resolve for everything
            # downstream of here (SELECT/DML/EXPLAIN/SHOW); the
            # CREATE/ALTER SOURCE JSON bodies are quoted strings, which
            # _map_code passes through untouched
            stmt = self._resolve_qualified_names(stmt)
            if head in ("SHOW", "DESCRIBE", "DESC"):
                return self._show(stmt)
            if head == "OPTIMIZE":
                m = re.match(
                    r"^\s*OPTIMIZE\s+`?(\w+)`?"
                    r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$",
                    stmt, re.I,
                )
                if m:
                    cols = ([c.strip().strip("`") for c in m.group(2).split(",")]
                            if m.group(2) else None)
                    return DmlResult(self.store.optimize(m.group(1), cols))
            if head == "VACUUM":
                m = re.match(
                    r"^\s*VACUUM\s+`?(\w+)`?(?:\s+RETAIN\s+(\d+)\s+VERSIONS?)?\s*;?\s*$",
                    stmt, re.I,
                )
                if m:
                    # snapshot expiration over the COW version store
                    # (Delta's VACUUM, version-granularity retention)
                    return DmlResult(
                        self.store.vacuum(m.group(1), int(m.group(2) or 1))
                    )
            if head == "RESTORE":
                m = re.match(
                    r"^\s*RESTORE\s+TABLE\s+`?(\w+)`?\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$",
                    stmt, re.I,
                )
                if m:
                    # Delta's RESTORE: commit snapshot v forward as the new
                    # head (O(files) hard links; history preserved)
                    return DmlResult(self.store.restore(m.group(1), int(m.group(2))))
            if head == "EXPLAIN":
                return self._explain(stmt)
            if head in ("CREATE", "DROP", "ALTER"):
                m = re.match(
                    r"^\s*CREATE\s+TABLE\s+`?(\w+)`?\s+SHALLOW\s+CLONE\s+`?(\w+)`?\s*;?\s*$",
                    stmt, re.I,
                )
                if m:
                    # workdir defaults inside shallow_clone, which also
                    # owns the not-version-backed / already-exists errors
                    self.store.shallow_clone(m.group(2), m.group(1))
                    return None
                m = _ADD_CONSTRAINT_RE.match(stmt)
                if m:
                    # Delta's ALTER TABLE ADD CONSTRAINT ... CHECK: scans
                    # existing rows first (rejected if violated), then
                    # every commit validates the rows it writes
                    self.store.add_constraint(m.group(1), m.group(2), m.group(3))
                    return None
                m = _DROP_CONSTRAINT_RE.match(stmt)
                if m:
                    self.store.drop_constraint(m.group(1), m.group(2))
                    return None
                m = _CREATE_SOURCE_RE.match(stmt)
                if m:
                    return self.create_source(m.group(1), json.loads(m.group(2)))
                m = _ALTER_SOURCE_RE.match(stmt)
                if m:
                    # reference SqlAlter re-registers the schema at runtime
                    # (mysql_handler.go:253-260): drop + re-create
                    self._drop_source(m.group(1))
                    return self.create_source(m.group(1), json.loads(m.group(2)))
                m = _DROP_SOURCE_RE.match(stmt)
                if m:
                    self._drop_source(m.group(1))
                    return None
                # fall through: let Spark SQL handle CREATE VIEW etc.
            if head in ("INSERT", "UPSERT", "UPDATE", "DELETE", "MERGE"):
                stmt_rw = dialect.rewrite(stmt, self.ctx)
                target = dml_target_table(stmt_rw)
                owner = self._owning_source(target) if target else None
                # DML on a source-owned table routes through the owning
                # source's mutator (reference: CreateMutator per backend);
                # MERGE is a beyond-reference TableStore extension and
                # stays on the versioned-store path.
                # the runner resolves embedded SELECT row sources with
                # final=False: a backend's default page cap must never
                # truncate an INSERT's input (p.Final contract)
                embedded = lambda s: self._select(s, final=False)  # noqa: E731
                if owner is not None and head != "MERGE":
                    # FULL tier ships the whole DML statement to the remote
                    # engine (reference BigQuery write path,
                    # sql_to_bq.go:178-304) — there is no local truth to
                    # polyfill a write against
                    full_dml = getattr(owner, "execute_full_dml", None)
                    if owner.tier is PushdownTier.FULL and full_dml is not None:
                        n = full_dml(stmt_rw)
                        if n is None:
                            raise QueryError(
                                f"source {owner.name!r} declined the statement "
                                "and FULL-tier tables cannot be written locally"
                            )
                        return DmlResult(n)
                    return execute_source_dml(
                        self.spark, owner, target, stmt_rw,
                        select_runner=embedded,
                        keys=self.store.keys(target) or None,
                    )
                return execute_dml(self.spark, self.store, stmt_rw,
                                   select_runner=embedded)
            return self._select(stmt)
        except QueryError:
            raise
        except Exception as e:  # graceful error, never a crash
            raise QueryError(str(e)) from e

    _SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES(?:\s+FROM\s+`?(\w+)`?)?\s*$", re.I)
    # optional `FROM <db>` qualifier and LIKE column filter — the mysqlfe
    # introspection shape `show full columns from `t` from `db` LIKE '%'`
    # (frontends/mysqlfe test surface)
    _SHOW_COLUMNS_RE = re.compile(
        r"^\s*SHOW\s+(FULL\s+)?COLUMNS\s+FROM\s+`?(\w+)`?"
        r"(?:\s+FROM\s+`?\w+`?)?"
        r"(?:\s+LIKE\s+['\"](.*?)['\"])?\s*$",
        re.I,
    )
    _SHOW_CREATE_RE = re.compile(r"^\s*SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?\s*$", re.I)
    _SHOW_VARS_RE = re.compile(
        r"^\s*SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES(?:\s+LIKE\s+['\"](.+?)['\"])?\s*$", re.I
    )
    _DESCRIBE_RE = re.compile(r"^\s*(?:DESCRIBE|DESC)\s+`?(\w+)`?\s*$", re.I)

    def _show(self, stmt: str) -> DataFrame:
        """SHOW/DESCRIBE with mysql output layouts (reference rewrites these
        into introspection SELECTs, CHANGELOG.md:20-23; layouts pinned at
        mgo_test.go:175-301 — see plans/show.py)."""
        s = stmt.rstrip(";")
        if re.match(r"^\s*SHOW\s+DATABASES\s*$", s, re.I):
            names = list(self.sources) or [self.ctx.current_schema]
            return show_plans.show_databases(self.spark, names)
        m = self._SHOW_TABLES_RE.match(s)
        if m:
            schema_name = m.group(1) or self.ctx.current_schema
            # a named (or USE-selected) schema that matches a registered
            # source lists only ITS tables (mysql semantics: SHOW TABLES
            # FROM db — reference schemadb registry, mgo_test.go:175-259);
            # any other schema name keeps the flat all-tables view
            src = self.sources.get(schema_name)
            if src is None:
                for s_ in self.sources.values():
                    if s_.name.lower() == schema_name.lower():
                        src = s_
                        break
            tables = src.tables() if src is not None else self._all_tables()
            return show_plans.show_tables(self.spark, schema_name, tables)
        m = self._SHOW_COLUMNS_RE.match(s)
        if m:
            out = show_plans.describe(self.spark, m.group(2), full=bool(m.group(1)))
            if m.group(3) is not None:  # LIKE filters column names
                out = out.filter(F.col("Field").like(m.group(3)))
            return out
        m = re.match(r"^\s*SHOW\s+CREATE\s+SOURCE\s+`?(\w+)`?\s*$", s, re.I)
        if m:
            # the DDL round-trip twin of `CREATE source ... WITH {json}`:
            # the rendered statement re-creates the source via load_config
            name = m.group(1)
            conf = self.dump_config()["sources"].get(name)
            if conf is None:
                raise QueryError(
                    f"unknown or non-serializable source {name!r} "
                    "(memory sources have no durable config)"
                )
            stmt_txt = f"CREATE source {name} WITH {json.dumps(conf)}"
            return self.spark.createDataFrame(
                [(name, stmt_txt)], "Source STRING, `Create Source` STRING"
            )
        m = self._SHOW_CREATE_RE.match(s)
        if m:
            return show_plans.show_create_table(
                self.spark, m.group(1), self.store.constraints(m.group(1))
            )
        m = self._SHOW_VARS_RE.match(s)
        if m:
            return show_plans.show_variables(self.spark, self.ctx, m.group(1))
        # DESCRIBE HISTORY t is Delta's spelling of the same listing
        m = re.match(
            r"^\s*(?:SHOW\s+VERSIONS\s+(?:FROM|FOR)|DESCRIBE\s+HISTORY|DESC\s+HISTORY)"
            r"\s+`?(\w+)`?\s*$", s, re.I)
        if m:
            hist = self.store.history(m.group(1))
            return self.spark.createDataFrame(hist, "version INT, path STRING")
        if re.match(r"^\s*SHOW\s+SOURCES\s*$", s, re.I):
            # federation registry introspection (extension): one row per
            # registered backend with its pushdown tier — the engine-level
            # view of the reference's per-source schema registry
            rows = [
                (
                    src.name,
                    src.tier.value,
                    len(src.tables()),
                    src.writable(),
                    getattr(src, "default_limit", None),
                )
                for src in self.sources.values()
            ]
            return self.spark.createDataFrame(
                rows,
                "source STRING, tier STRING, n_tables INT, writable BOOLEAN, default_limit INT",
            )
        m = self._DESCRIBE_RE.match(s)
        if m:
            return show_plans.describe(self.spark, m.group(1), full=False)
        # anything else (SHOW FUNCTIONS, DESCRIBE QUERY ...): Spark-native
        return self.spark.sql(s)

    def _array_columns(self) -> set[str]:
        cols: set[str] = set()
        for s in self.sources.values():
            for t in s.tables():
                try:
                    for f in self.spark.table(t).schema.fields:
                        if f.dataType.typeName() == "array":
                            cols.add(f.name)
                except Exception:
                    pass
        return cols

    _IN_RE = re.compile(
        r"\b([A-Za-z_]\w*)\s+IN\s*\(((?:[^()'\"]|'[^']*'|\"[^\"]*\")*)\)", re.IGNORECASE
    )

    def _rewrite_array_in(self, sql: str) -> str:
        """`arraycol IN ("x")` means membership when the column is an array
        (schemaless-document semantics: reference mgo_test.go:654-670 —
        Mongo matches scalar queries against array fields). Spark needs
        arrays_overlap. The regex is quote-aware so IN-lists with string
        literals match as one unit."""
        arr_cols = self._array_columns()
        if not arr_cols:
            return sql

        def sub(m):
            col, items = m.group(1), m.group(2)
            if col in arr_cols:
                return f"arrays_overlap({col}, array({items}))"
            return m.group(0)

        return self._IN_RE.sub(sub, sql)

    def _set(self, stmt: str):
        parsed = dialect.parse_set(stmt)
        if parsed is None:
            raise QueryError(f"unparseable SET statement: {stmt!r}")
        name, value = parsed
        self.ctx.set(name, value)
        return None

    _EXPLAIN_RE = re.compile(
        r"^\s*EXPLAIN\s+(?:(FORMATTED|EXTENDED)\s+)?(SELECT\b.*)$", re.I | re.S
    )

    def _explain(self, stmt: str):
        """EXPLAIN [FORMATTED|EXTENDED] SELECT ... (extension; the reference
        has no EXPLAIN). Explains the plan THIS engine would run — the inner
        statement goes through the full dialect rewrite and pushdown
        negotiation, so polyfilled/rewritten queries show their real Spark
        plan, not the pre-rewrite SQL's."""
        m = self._EXPLAIN_RE.match(stmt.rstrip().rstrip(";"))
        if not m:
            raise QueryError("EXPLAIN supports SELECT statements")
        import contextlib
        import io

        df = self._select(m.group(2))
        mode = (m.group(1) or "simple").lower()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return self.spark.createDataFrame(
            [(line,) for line in buf.getvalue().rstrip("\n").split("\n")],
            "plan: string",
        )

    _QUALIFIED_REF_RE = re.compile(
        r"\b(FROM|JOIN|INTO|UPDATE|DESCRIBE|DESC|TABLE)(\s+)`?(\w+)`?\.`?(\w+)`?", re.I
    )

    def _resolve_qualified_names(self, stmt: str) -> str:
        """MySQL-dialect qualified table names: every registered source is a
        database/schema, so `SELECT ... FROM src.tbl` (and INSERT INTO /
        UPDATE / DELETE FROM src.tbl) must resolve — any MySQL client sends
        these (the reference registers each backend as a schema; USE +
        unqualified is the other spelling of the same lookup).

        Rewrites `src.tbl` → the registered view name only when it appears
        in table position (after FROM/JOIN/INTO/UPDATE) AND the qualifier
        is a registered source that owns that table — so table aliases and
        struct-field access can never match, and unknown qualifiers fall
        through to Spark's own resolution error. Quote-aware via
        dialect._map_code. Note: views are registered globally by bare
        table name, so two sources exposing the same table name shadow
        each other regardless of qualification (registration order wins) —
        a pre-existing property of the registry, not introduced here."""
        if not self.sources or "." not in stmt:
            return stmt
        owned = {
            (s.name.lower(), t.lower()): t
            for s in self.sources.values()
            for t in s.tables()
        }
        if not owned:
            return stmt

        def repl(m):
            view = owned.get((m.group(3).lower(), m.group(4).lower()))
            if view is None:
                return m.group(0)
            return f"{m.group(1)}{m.group(2)}{view}"

        return dialect._map_code(stmt, lambda code: self._QUALIFIED_REF_RE.sub(repl, code))

    def _owning_source(self, table: str):
        """The registered source that discovered `table`, if any — DML on
        its tables must go through that source's mutator, never a shadow
        temp-view copy. It also gets every pushdown offer regardless of
        tier: each backend decides per shape (reference: even the
        filters-only Mongo tier pushes count(*) natively via query.Count(),
        backends/mongo/mgo_results.go:112-119), and the Source hooks
        decline by default, so scan-only sources fall through to Spark."""
        t = table.lower()
        for s in self.sources.values():
            if t in {x.lower() for x in s.tables()}:
                return s
        return None

    def _refresh_pushdown_views(self, stmt: str) -> None:
        """Re-register a FRESH relation for every referenced table of a
        Python-DataSource-backed source. Spark caches a relation's first
        built scan (reader + partitions with pushed filters baked in) and
        reuses it for later filterless queries — without this refresh, a
        plain scan issued after a filtered one silently replays the old
        filters (see Source.fresh_scan_per_query). load() is lazy; the cost
        is a temp-view registration."""
        refs = {t.strip("`").lower() for t in _TABLE_REF_RE.findall(stmt)}
        if not refs:
            return
        for s in self.sources.values():
            if not getattr(s, "fresh_scan_per_query", False):
                continue
            for t in s.tables():
                if t.lower() in refs:
                    s.load(self.spark, t).createOrReplaceTempView(t)

    def _select(self, stmt: str, final: bool = True) -> DataFrame:
        """final=False marks an EMBEDDED row source (INSERT ... SELECT):
        the per-backend default page cap applies only to FINAL client
        reads (the reference's p.Final contract, sql_to_mgo.go:99-105) —
        capping an insert's row source would silently truncate the
        append."""
        m = _SELECT_VARS_RE.match(stmt.rstrip(";"))
        if m:
            return self._select_session_vars(m.group(1))
        self._refresh_pushdown_views(stmt)
        m = _TERMS_RE.match(stmt.rstrip(";"))
        if m:
            return self._terms(m)
        m = _GROUPED_TERMS_RE.match(stmt.rstrip(";"))
        if m and re.search(r"\bterms\s*\(", m.group("items"), re.I):
            return self._grouped_terms(m)
        stmt = self._resolve_time_travel(stmt)
        stmt = self._resolve_table_changes(stmt)
        sql = dialect.rewrite(stmt, self.ctx, literal_dotted=self._literal_dotted_columns())
        sql = self._rewrite_array_in(sql)
        df = self._try_full_pushdown(sql)
        if df is None:
            df = self._try_topk_pushdown(sql)
        if df is None:
            df = self._try_agg_pushdown(sql)
        if df is None:
            df = self._run_with_null_fallback(sql)
        return self._apply_default_limit(sql, df) if final else df

    _HAS_LIMIT_RE = re.compile(r"\bLIMIT\s+\d+", re.I)
    _NON_FINAL_RE = re.compile(
        r"\bGROUP\s+BY\b|\bJOIN\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b"
        r"|\b(?:count|sum|avg|min|max|approx_count_distinct|cardinality|terms)\s*\(",
        re.I,
    )

    def _apply_default_limit(self, sql: str, df: DataFrame) -> DataFrame:
        """Reference parity (SURVEY §2.5): un-LIMITed plain reads against a
        backend get that backend's default page size (ES 1000, Kube/BT/BQ
        5000...). The cap is lifted whenever anything downstream consumes
        the scan (aggregation/join/set-op) — the reference's p.Final
        contract (sql_to_mgo.go:99-105) — so engine-side polyfills never
        see a truncated input."""
        if self._HAS_LIMIT_RE.search(sql) or self._NON_FINAL_RE.search(sql):
            return df
        refs = {t.strip("`").lower() for t in _TABLE_REF_RE.findall(sql)}
        if len(refs) != 1:
            return df
        (table,) = refs
        for src in self.sources.values():
            lim = getattr(src, "default_limit", None)
            if lim and table in {t.lower() for t in src.tables()}:
                return df.limit(lim)
        return df

    def _resolve_time_travel(self, stmt: str) -> str:
        """`FROM t VERSION AS OF n` → historical snapshot (extension; the
        copy-on-write DML store keeps every version as a parquet dir, so a
        historical read is a plain scan — Delta time-travel semantics
        without the jars). The snapshot registers as `t__vN` and keeps the
        original name as its alias so qualified columns still resolve."""
        if not self.store._backing:  # no versioned tables → leave SQL alone
            return stmt

        def repl(m):
            kw, tbl, v = m.group(1), m.group(2), int(m.group(3))
            df = self.store.version_of(tbl, v)
            alias = f"{tbl}__v{v}"
            df.createOrReplaceTempView(alias)
            return f"{kw} {alias} AS {tbl}"

        return _VERSION_AS_OF_RE.sub(repl, stmt)

    def _resolve_table_changes(self, stmt: str) -> str:
        """`FROM table_changes(t, v0, v1)` → the CDC frame between two
        committed versions (Delta Change Data Feed spelling): the table's
        columns plus `_change_type` and `_commit_version`. Registers as
        `t__changes_v0_v1` aliased back to `t` so qualified columns
        resolve; the frame itself is file-pruned (TableStore.changes)."""
        if not self.store._backing:
            return stmt

        def repl(m):
            kw, tbl = m.group(1), m.group(2)
            v0, v1 = int(m.group(3)), int(m.group(4))
            df = self.store.changes(tbl, v0, v1)
            alias = f"{tbl}__changes_{v0}_{v1}"
            df.createOrReplaceTempView(alias)
            return f"{kw} {alias} AS {tbl}"

        return _TABLE_CHANGES_RE.sub(repl, stmt)

    def _try_full_pushdown(self, sql: str) -> DataFrame | None:
        """FULL-tier negotiation (reference: BigQuery whole-query pushdown,
        backends/bigquery/sql_to_bq.go:99-104): if every table the query
        references belongs to one FULL source, offer it the whole statement;
        a decline (unsupported syntax/function) falls through to the Spark
        plan — the polyfill path, exactly the reference's needsPolyFill
        contract."""
        full = [s for s in self.sources.values() if s.tier is PushdownTier.FULL]
        if not full:
            return None
        refs = {
            t.strip("`").lower()
            for t in _TABLE_REF_RE.findall(sql)
        }
        if not refs:
            return None
        for src in full:
            if refs <= {t.lower() for t in src.tables()}:
                return src.execute_full(self.spark, sql)
        return None

    # --- aggregate pushdown (FILTERS_LIMIT_AGGS tier) ---------------------
    # Shapes the ES walker can translate whole (sqltoes.go:285-365): a
    # single-table SELECT of simple aggregates, optional fully-pushable
    # conjunctive WHERE, optional single GROUP BY column (nested terms
    # bucket, :334-365). Anything beyond → decline → Spark plans it.
    _AGG_BLOCK_RE = re.compile(
        r"\bJOIN\b|\bORDER\s+BY\b|\bLIMIT\b|\bHAVING\b|\bUNION\b"
        r"|\bDISTINCT\b|\bOVER\b|\(\s*SELECT",
        re.I,
    )
    _AGG_SHAPE_RE = re.compile(
        r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+`?(?P<table>\w+)`?"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"(?:\s+GROUP\s+BY\s+(?P<gb>[\w.,`\s]+?))?\s*;?\s*$",
        re.I | re.S,
    )
    _AGG_ITEM_RE = re.compile(
        r"^(count|sum|avg|min|max|approx_count_distinct)\s*\("
        r"\s*(\*|1|`?[\w.]+`?)\s*\)(?:\s+AS\s+(\w+))?$",
        re.I,
    )
    _AGG_CMP_RE = re.compile(r"^\s*`?([\w.]+)`?\s*(=|==|!=|<>|<=|>=|<|>)\s*(.+?)\s*$")

    @staticmethod
    def _agg_literal(tok: str):
        tok = tok.strip()
        if re.fullmatch(r"-?\d+", tok):
            return int(tok)
        if re.fullmatch(r"-?\d+\.\d*", tok):
            return float(tok)
        m = re.fullmatch(r"'([^']*)'", tok)
        if m:
            return m.group(1)
        if tok.lower() in ("true", "false"):
            return tok.lower() == "true"
        return _DECLINE

    def _try_agg_pushdown(self, sql: str) -> DataFrame | None:
        """Offer a whole simple aggregation to an agg-capable source
        (reference: ES executes count/min/max/avg/sum/cardinality and
        grouped variants inside `_search`, sqltoes.go:285-365,599-647).
        The contract is whole-translation-or-polyfill: if ANY part of the
        statement (an agg item, a WHERE clause) isn't expressible, the
        source never sees it and Catalyst plans everything."""
        if self._AGG_BLOCK_RE.search(sql):
            return None
        m = self._AGG_SHAPE_RE.match(sql)
        if not m:
            return None
        src = self._owning_source(m.group("table"))
        if src is None:
            return None
        table = m.group("table")
        # multi-column GROUP BY → the reference's NESTED terms buckets
        # (sqltoes.go:334-365 recurses one bucket level per group column)
        group_by: list[str] | None = None
        if m.group("gb"):
            group_by = [c.strip().strip("`") for c in m.group("gb").split(",")]
            if not all(re.fullmatch(r"[\w.]+", c) for c in group_by):
                return None
        items: list[tuple[str, str, str | None]] = []
        saw_agg = False
        for raw in m.group("items").split(","):
            raw = raw.strip()
            im = self._AGG_ITEM_RE.match(raw)
            if im:
                fn, arg = im.group(1).lower(), im.group(2).strip("`")
                items.append((fn, "*" if arg in ("*", "1") else arg, im.group(3)))
                saw_agg = True
                continue
            if group_by:
                km = re.match(r"^`?([\w.]+)`?(?:\s+AS\s+(\w+))?$", raw, re.I)
                if km and km.group(1) in group_by:
                    items.append(("key", km.group(1), km.group(2)))
                    continue
            return None
        if not saw_agg:
            return None
        filters = self._parse_simple_where(m.group("where"))
        if filters is None:
            return None
        # a source that errors mid-translation/execution declines, it does
        # not fail the query (the reference's WalkSourceSelect error →
        # polyfill contract; e.g. mixed-type comparisons on schemaless docs)
        try:
            return src.execute_agg(self.spark, table, items, filters, group_by)
        except Exception:
            return None

    # --- ORDER BY + LIMIT (top-k) pushdown --------------------------------
    _TOPK_BLOCK_RE = re.compile(
        r"\bJOIN\b|\bGROUP\s+BY\b|\bHAVING\b|\bUNION\b|\bDISTINCT\b|\bOVER\b"
        r"|\(\s*SELECT|\b(?:count|sum|avg|min|max|approx_count_distinct)\s*\(",
        re.I,
    )
    _TOPK_SHAPE_RE = re.compile(
        r"^\s*SELECT\s+(?P<items>[\w.,`\s]+?)\s+FROM\s+`?(?P<table>\w+)`?"
        r"(?:\s+WHERE\s+(?P<where>.+?))?"
        r"\s+ORDER\s+BY\s+(?P<order>[\w.,`\s]+?)"
        r"\s+LIMIT\s+(?P<limit>\d+)\s*;?\s*$",
        re.I | re.S,
    )

    def _try_topk_pushdown(self, sql: str) -> DataFrame | None:
        """Offer a simple top-k (`SELECT cols … ORDER BY … LIMIT n`) to the
        owning source (reference: sort+limit pushed per backend — Mongo
        Find().Sort().Limit() sql_to_mgo.go:226-241, ES sort array
        sqltoes.go:170-186, Cassandra only on clustering keys
        sql_to_cql.go:570-600). At 100 TB this is the difference between
        the backend returning n rows and returning the table. Decline →
        Spark's TakeOrderedAndProject polyfill."""
        if self._TOPK_BLOCK_RE.search(sql):
            return None
        m = self._TOPK_SHAPE_RE.match(sql)
        if not m:
            return None
        src = self._owning_source(m.group("table"))
        if src is None:
            return None
        cols = [c.strip().strip("`") for c in m.group("items").split(",")]
        if not all(re.fullmatch(r"[\w.]+", c) for c in cols):
            return None
        order: list[tuple[str, bool]] = []
        for o in m.group("order").split(","):
            om = re.fullmatch(r"\s*`?([\w.]+)`?(?:\s+(ASC|DESC))?\s*", o, re.I)
            if not om:
                return None
            order.append((om.group(1), bool(om.group(2)) and om.group(2).upper() == "DESC"))
        filters = self._parse_simple_where(m.group("where"))
        if filters is None:
            return None
        try:
            return src.execute_topk(
                self.spark, m.group("table"), cols, order, int(m.group("limit")), filters
            )
        except Exception:
            return None  # error → polyfill, never a failed query

    def _parse_simple_where(self, where: str | None):
        """Parse a WHERE into the fully-pushable conjunction [(col, op,
        literal)], or None if ANY clause is beyond that shape — the
        whole-translation-or-polyfill contract."""
        if not where:
            return []
        if re.search(r"\bOR\b|\bNOT\b|\bIN\b|\bLIKE\b|\bBETWEEN\b|\bIS\b", where, re.I):
            return None
        filters: list[tuple[str, str, object]] = []
        for clause in re.split(r"\bAND\b", where, flags=re.I):
            cm = self._AGG_CMP_RE.match(clause)
            if not cm:
                return None
            val = self._agg_literal(cm.group(3))
            if val is _DECLINE:
                return None
            op = {"==": "=", "<>": "!="}.get(cm.group(2), cm.group(2))
            filters.append((cm.group(1), op, val))
        return filters

    def _literal_dotted_columns(self) -> set[str]:
        """Columns whose names literally contain dots (flattened sources —
        e.g. an ES-style mapping walk); their backtick tokens must not be
        split into struct access."""
        out: set[str] = set()
        for c in self._all_columns():
            if "." in c:
                out.add(c)
        return out

    def _select_session_vars(self, select_list: str) -> DataFrame:
        """SELECT @@max_allowed_packet / SELECT @my_var
        (reference mgo_test.go:123-173)."""
        cols = []
        for item in select_list.split(","):
            item = item.strip()
            mm = re.match(r"(@@?)([\w.]+)(?:\s+AS\s+(\w+))?$", item, re.IGNORECASE)
            if not mm:
                raise QueryError(f"bad session-var select item {item!r}")
            alias = mm.group(3) or (mm.group(1) + mm.group(2))
            cols.append(F.lit(self.ctx.get(mm.group(2))).alias(alias))
        return self.spark.range(1).select(*cols)

    def _grouped_terms(self, m) -> DataFrame:
        """terms() as a per-group aggregate: `SELECT g, terms(a[, k]),
        terms(b) FROM t [WHERE ...] GROUP BY g` → per group, the top-k
        (key, count) pairs for each terms column — the ES nested
        terms-sub-aggregation shape. The reference INTENDS this surface
        but ships it disabled (es_test.go:230-245 bails with 'fails
        because of parsing the response'); here it runs.

        Plan, per terms column: groupBy(groups, col) count — map-side
        combined, the only exchange keyed by (groups, col) — then a
        window row_number per group (reusing the same hash partitioning
        on the group keys) and one collect of ≤ k slim structs per group;
        multiple terms columns each compute independently and equi-join
        on the group keys (k·|groups| rows per side — dimension-sized,
        broadcast-friendly). Ordering inside the array is (count desc,
        key asc), deterministic."""
        from pyspark.sql.window import Window as W

        table = m.group("table").strip("`")
        gcols = [c.strip().strip("`") for c in m.group("gb").split(",")]
        if not all(re.fullmatch(r"[\w.]+", c) for c in gcols):
            raise QueryError(f"unsupported GROUP BY for grouped terms: {m.group('gb')!r}")
        base = self.spark.table(table)
        if m.group("where"):
            base = base.filter(
                dialect.rewrite(m.group("where"), self.ctx,
                                literal_dotted=self._literal_dotted_columns())
            )
        out = None
        plain: list[str] = []
        items, depth, buf = [], 0, []
        for ch in m.group("items"):  # paren-aware split of the select list
            if ch == "," and depth == 0:
                items.append("".join(buf))
                buf = []
                continue
            depth += ch == "("
            depth -= ch == ")"
            buf.append(ch)
        items.append("".join(buf))
        for raw in items:
            raw = raw.strip()
            tm = _GROUPED_TERMS_ITEM_RE.match(raw)
            if not tm:
                km = re.match(r"^`?([\w.]+)`?$", raw)
                if km and km.group(1) in gcols:
                    plain.append(km.group(1))
                    continue
                raise QueryError(
                    f"grouped terms() select supports group columns and terms(...) items, got {raw!r}"
                )
            field = tm.group(1).strip("`")
            k = int(tm.group(2)) if tm.group(2) else 10
            alias = tm.group(3) or f"terms_{field.replace('.', '_')}"
            counts = (
                base.groupBy(*gcols, F.col(field).alias("_key"))
                .agg(F.count("*").alias("_ct"))
            )
            w = W.partitionBy(*gcols).orderBy(F.col("_ct").desc(), F.col("_key"))
            topk = counts.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
            packed = topk.groupBy(*gcols).agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(-_ct AS n, _key AS key))), "
                    "s -> struct(s.key AS key, -s.n AS count))"
                ).alias(alias)
            )
            if out is None:
                out = packed
            else:
                # NULL is a group too: the key join must be null-SAFE or a
                # null group splits into one row per terms column
                left, right = out.alias("_gl"), packed.alias("_gr")
                cond = None
                for g in gcols:
                    c = F.col(f"_gl.`{g}`").eqNullSafe(F.col(f"_gr.`{g}`"))
                    cond = c if cond is None else cond & c
                out = left.join(right, cond, "full_outer").select(
                    *[
                        F.coalesce(F.col(f"_gl.`{g}`"), F.col(f"_gr.`{g}`")).alias(g)
                        for g in gcols
                    ],
                    *[F.col(f"_gl.`{c}`") for c in out.columns if c not in gcols],
                    *[F.col(f"_gr.`{c}`") for c in packed.columns if c not in gcols],
                )
        return out.select(*(plain or gcols), *[c for c in out.columns if c not in gcols])

    def _terms(self, m) -> DataFrame:
        """terms(field[, size]) → top-k terms with counts, the ES terms agg
        (reference sqltoes.go:612-634; multi-row result shape decoded at
        backends/elasticsearch/esresults.go:183-219). Spark plan:
        partial-agg groupBy + global top-k (TakeOrderedAndProject) — scales
        as a map-side-combined count, no full sort."""
        field = m.group(1).strip("`")
        size = int(m.group(2)) if m.group(2) else 10
        table, where = m.group(3).strip("`"), m.group(4)
        src = self._owning_source(table)
        if src is not None:
            filters = self._parse_simple_where(where)
            if filters is not None:
                try:
                    pushed = src.execute_terms(self.spark, table, field, size, filters)
                except Exception:
                    pushed = None  # error → polyfill
                if pushed is not None:
                    return pushed
        df = self.spark.table(table)
        if where:
            df = df.filter(
                dialect.rewrite(where, self.ctx, literal_dotted=self._literal_dotted_columns())
            )
        return (
            df.groupBy(F.col(field).alias("key"))
            .agg(F.count("*").alias("count"))
            .orderBy(F.col("count").desc(), F.col("key"))
            .limit(size)
        )

    def _run_with_null_fallback(self, sql: str, depth: int = 0) -> DataFrame:
        """Schemaless semantics: an unknown column is NULL, not an error
        (reference: missing fields in schemaless docs — es_test.go:409-425;
        exists(fakefield) → 0 rows, mgo_test.go:686-691). We retry analysis
        with the unresolved identifier replaced by NULL, up to 5 columns."""
        try:
            return self.spark.sql(sql)
        except Exception as e:
            msg = str(e)
            if depth >= 5 or ("UNRESOLVED_COLUMN" not in msg and "cannot resolve" not in msg):
                raise
            m = _UNRESOLVED_COL_RE.search(msg)
            if not m:
                raise
            col = next(g for g in m.groups() if g)
            known = self._all_columns()
            if col in known or col.split(".")[-1] in known:
                raise  # real ambiguity/typo in a known schema — surface it
            base = col.split(".")[-1]
            pat = re.compile(
                rf"(?<![\w.`]){re.escape(col)}(?![\w.])|`{re.escape(base)}`"
            )
            replaced = dialect._map_code(sql, lambda code: pat.sub(f"NULL AS `{base}`", code, count=0))
            if replaced == sql:
                raise
            # bare select-item stays aliased; in expressions the alias is
            # harmless to Spark only inside select lists — strip alias when
            # followed by an operator or inside parens context is complex;
            # simplest correct form: alias only when not inside a function.
            replaced = re.sub(rf"\(\s*NULL AS `{re.escape(base)}`", "(NULL", replaced)
            replaced = re.sub(
                rf"NULL AS `{re.escape(base)}`(\s*(?:=|!=|<>|<|>|IS|IN|BETWEEN|LIKE|AND|OR|\)))",
                r"NULL\1",
                replaced,
                flags=re.IGNORECASE,
            )
            return self._run_with_null_fallback(replaced, depth + 1)
