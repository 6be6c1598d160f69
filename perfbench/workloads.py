"""The workloads: op generators, set-up, and answer checks.

A workload hands the harness its ops one block at a time. A block holds
each op kind of the workload's mix once, always in the same order, with
literals and feeds drawn from the seeded generator. The fixed order puts
the engine's one-time costs on the same ops in every run. Each op is a
closure the harness times; its answer is checked after the timed phase
against DuckDB over the same parquet.

Both workloads have the same methods: `setup`, `block`, `after_op` (untimed
bookkeeping after each op), `check`, `write_stats` and
`count_vs_materialized` (the last two feed the traced run's artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

from perfbench import oracle

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


@dataclass
class Op:
    kind: str
    build: Callable[[], object]  # DataFrame (materialized by the harness) or a DML result
    check: Callable[[object], bool] | None = None  # called after the timed phase
    prepare: Callable[[], None] | None = None  # untimed client-side preparation
    writes: bool = False
    meta: dict = field(default_factory=dict)


def _write_docs(data_dir: str, fixture_dir: str, table: str) -> str:
    path = os.path.join(fixture_dir, f"{table}.json")
    with open(path, "w") as fh:
        json.dump(pq.read_table(os.path.join(data_dir, f"{table}.parquet")).to_pylist(),
                  fh, default=str)
    return f"file://{path}"


def _link_tpch(data_dir: str, fixture_dir: str) -> str:
    """A directory holding only the TPC-H tables (a parquet-directory source
    registers every file it finds), as links to the data files."""
    out = os.path.join(fixture_dir, "tpch")
    os.makedirs(out)
    for t in TPCH_TABLES:
        src, dst = os.path.join(data_dir, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            os.symlink(src, dst)
    return out


def _checked(kind: str, check: Callable[[], bool]) -> bool:
    try:
        return bool(check())
    except Exception as e:  # noqa: BLE001 - a check that cannot run is a failed check
        print(f"perfbench: check of {kind} raised {type(e).__name__}: {e}",
              file=sys.stderr)
        return False


class _Checked:
    """Answer checks against DuckDB over the data directory, expected rows
    cached by SQL. The connection opens at the first check."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.con = None
        self._cache: dict[str, tuple] = {}

    def expect(self, duck_sql: str):
        def check(result) -> bool:
            if self.con is None:
                self.con = oracle.connect(self.data_dir)
            if duck_sql not in self._cache:
                self._cache[duck_sql] = oracle.duck_rows(self.con, duck_sql)
            return oracle.same(oracle.arrow_rows(result), self._cache[duck_sql])
        return check


def _check_own(records) -> list[bool]:
    """One verdict per record whose op carries its own check."""
    return [err is None and _checked(op.kind, lambda: op.check(out))
            for op, out, err in records]


# ---------------------------------------------------------------- federated

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class FederatedInteractive:
    """Short Engine.sql reads over parquet, doc-store and passthrough sources."""

    name = "federated_interactive"
    DOC_TABLES = {  # source -> {table: data table}
        "mgo": {"mgo_customer": "customer"},
        "es": {"es_part": "part"},
        "cass": {"cass_supplier": "supplier"},
    }

    def setup(self, spark, data_dir: str, fixture_dir: str, phase) -> None:
        from dataux_spark import Engine
        from dataux_spark.infer import TableMeta
        from dataux_spark.sources.cassandra_style import CassandraStyleSource
        from dataux_spark.sources.es_style import EsStyleRestSource
        from dataux_spark.sources.mongo_style import MongoStyleSource

        with phase("fixtures"):
            urls = {t: _write_docs(data_dir, fixture_dir, src)
                    for tables in self.DOC_TABLES.values() for t, src in tables.items()}
            tpch_dir = _link_tpch(data_dir, fixture_dir)
        with phase("sources"):
            e = Engine(spark)
            e.register_parquet_dir("tpch", tpch_dir)
            e.register_source(MongoStyleSource(
                "mgo", {t: urls[t] for t in self.DOC_TABLES["mgo"]}))
            e.register_source(EsStyleRestSource(
                "es", {t: urls[t] for t in self.DOC_TABLES["es"]}))
            meta = TableMeta(name="cass_supplier", schema=None,
                             partition_keys=["s_nationkey"], clustering_keys=["s_suppkey"])
            e.register_source(CassandraStyleSource(
                "cass", {"cass_supplier": (urls["cass_supplier"], meta)}))
            e.register_passthrough("bq", {
                "bq_nation": os.path.join(data_dir, "nation.parquet"),
                "bq_region": os.path.join(data_dir, "region.parquet"),
            })
        self.engine, self.spark, self.data_dir = e, spark, data_dir
        self.checked = _Checked(data_dir)
        self.source_tables = {n: sorted(s.tables()) for n, s in e.sources.items()}
        self.n_orders = pq.read_metadata(os.path.join(data_dir, "orders.parquet")).num_rows

    def after_op(self, op: Op, result) -> None:
        pass

    def check(self, records) -> list[bool]:
        return _check_own(records)

    def write_stats(self) -> dict[str, float]:
        return {}

    def count_vs_materialized(self) -> dict[str, dict[str, float]]:
        return {}

    def _read(self, kind: str, sql: str, duck_sql: str | None = None, args=None) -> Op:
        e = self.engine
        return Op(kind, lambda: e.sql(sql, args), self.checked.expect(duck_sql or sql))

    def block(self, rng) -> list[Op]:
        r = lambda lo, hi: int(rng.integers(lo, hi))  # noqa: E731
        k, q, d = r(0, self.n_orders), r(5, 50), r(0, 11) / 100
        c, p = r(10, 1500), _PRIORITIES[r(0, 5)]
        n, a, s = r(0, 25), r(-900, 9000), r(1, 45)
        ops = [
            self._read(
                "parquet_point",
                f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {k}"),
            self._read(
                "parquet_filter_agg",
                "SELECT count(*) AS ct, sum(l_quantity) AS qty, max(l_extendedprice) AS top "
                f"FROM lineitem WHERE l_quantity < {q} AND l_discount = {d}"),
            self._read(
                "parquet_topk",
                f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey < {c} "
                "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
            self._read(
                "parquet_join",
                "SELECT c_mktsegment, count(*) AS ct, round(sum(o_totalprice), 2) AS total "
                "FROM orders JOIN customer ON o_custkey = c_custkey "
                f"WHERE o_orderpriority = '{p}' GROUP BY c_mktsegment"),
            self._read(
                "mongo_filter_topk",
                f"SELECT c_name, c_acctbal FROM mgo_customer WHERE c_nationkey = {n} "
                "ORDER BY c_acctbal DESC, c_name LIMIT 5",
                f"SELECT c_name, c_acctbal FROM customer WHERE c_nationkey = {n} "
                "ORDER BY c_acctbal DESC, c_name LIMIT 5"),
            self._read(
                "es_group_agg",
                "SELECT p_brand, count(*) AS ct, min(p_retailprice) AS lo, "
                f"max(p_retailprice) AS hi FROM es_part WHERE p_size < {s} "
                "GROUP BY p_brand",
                "SELECT p_brand, count(*) AS ct, min(p_retailprice) AS lo, "
                f"max(p_retailprice) AS hi FROM part WHERE p_size < {s} "
                "GROUP BY p_brand"),
            self._read(
                "es_terms",
                f"SELECT terms(p_brand, 5) FROM es_part WHERE p_size > {s}",
                f"SELECT p_brand AS key, count(*) AS count FROM part WHERE p_size > {s} "
                "GROUP BY p_brand ORDER BY count DESC, key LIMIT 5"),
            self._read(
                "cass_key_topk",
                f"SELECT s_name, s_suppkey FROM cass_supplier WHERE s_nationkey = {n} "
                f"AND s_suppkey >= {q} ORDER BY s_suppkey LIMIT 5",
                f"SELECT s_name, s_suppkey FROM supplier WHERE s_nationkey = {n} "
                f"AND s_suppkey >= {q} ORDER BY s_suppkey LIMIT 5"),
            self._read(
                "full_passthrough_join",
                "SELECT r_name, count(*) AS ct, min(n_name) AS first_nation "
                "FROM bq_nation JOIN bq_region ON n_regionkey = r_regionkey "
                f"WHERE n_nationkey >= {n} GROUP BY r_name",
                "SELECT r_name, count(*) AS ct, min(n_name) AS first_nation "
                "FROM nation JOIN region ON n_regionkey = r_regionkey "
                f"WHERE n_nationkey >= {n} GROUP BY r_name"),
            self._read(
                "cross_source_join",
                "SELECT c.c_mktsegment, count(*) AS ct FROM mgo_customer c "
                "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE n.n_regionkey = {n % 5} GROUP BY c.c_mktsegment",
                "SELECT c.c_mktsegment, count(*) AS ct FROM customer c "
                "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE n.n_regionkey = {n % 5} GROUP BY c.c_mktsegment"),
            self._read(
                "prepared_statement",
                "SELECT o_orderkey, o_orderstatus FROM orders "
                "WHERE o_custkey = ? AND o_totalprice > ? ORDER BY o_orderkey LIMIT 10",
                f"SELECT o_orderkey, o_orderstatus FROM orders WHERE o_custkey = {c} "
                f"AND o_totalprice > {a * 10}.5 ORDER BY o_orderkey LIMIT 10",
                args=[c, a * 10 + 0.5]),
            self._show_or_describe(r(0, 2), rng),
            self._read(
                "schemaless_unknown_column",
                f"SELECT c_name, c_phone FROM mgo_customer WHERE c_nationkey = {n} "
                "ORDER BY c_name LIMIT 5",
                f"SELECT c_name, NULL AS c_phone FROM customer WHERE c_nationkey = {n} "
                "ORDER BY c_name LIMIT 5"),
        ]
        return ops

    def _show_or_describe(self, which: int, rng) -> Op:
        e = self.engine
        if which == 0:
            src = sorted(self.source_tables)[int(rng.integers(0, len(self.source_tables)))]
            want = oracle.normalize([f"Tables_in_{src}"],
                                    [(t,) for t in self.source_tables[src]])
            return Op("show_describe", lambda: e.sql(f"SHOW TABLES FROM {src}"),
                      lambda res: oracle.normalize(*oracle.arrow_rows(res)) == want)
        tables = {t: src for tables in self.DOC_TABLES.values() for t, src in tables.items()}
        table = sorted(tables)[int(rng.integers(0, len(tables)))]
        cols = pq.read_schema(os.path.join(self.data_dir, f"{tables[table]}.parquet")).names
        return Op("show_describe", lambda: e.sql(f"DESCRIBE {table}"),
                  lambda res: sorted(res.column("Field").to_pylist()) == sorted(cols))


# ---------------------------------------------------------------- analytics

# The slice of bench.HEADLINE one run can execute in its time budget: one
# TPC-H aggregate, four of the seven queries whose `.count()` plan drops
# the operator, and the streaming entry. A traced run also records count
# vs materialized walls for all seven count-collapsed queries.
ANALYTICS_SET = [
    "pricing_summary",
    "text_quality",
    "embedding_cluster_assign",
    "asof_join_events",
    "sessionize_stats",
    "streaming_windowed_agg",
]
# the tables ANALYTICS_SET reads, registered during set-up
ANALYTICS_TABLES = ["lineitem", "documents", "embeddings", "events"]
# the headline queries whose .count() plan drops the operator
COUNT_COLLAPSED = [
    "dedup_span_removal", "dedup_semantic_keepset", "embedding_cluster_assign",
    "text_quality", "graph_triangle_stats", "sessionize_stats", "asof_join_events",
]


_ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")
_DML_KINDS = ["insert", "update", "delete", "merge", "read_point", "version_as_of",
              "table_changes", "doc_insert", "doc_read", "optimize", "vacuum"]


class AnalyticsDmlBatch:
    """The bench.py headline queries, each fully materialized, then writes
    beside reads on a copy-on-write parquet copy of `orders` and on a
    doc-store table. The writes are replayed on DuckDB for the checks."""

    name = "analytics_dml_batch"
    TABLE, DOC = "orders_rw", "doc_nation"

    def setup(self, spark, data_dir: str, fixture_dir: str, phase) -> None:
        import bench
        from dataux_spark import Engine
        from dataux_spark import queries as Q
        from dataux_spark.sources.mongo_style import MongoStyleSource

        missing = set(ANALYTICS_SET + COUNT_COLLAPSED) - set(bench.HEADLINE)
        if missing:
            raise ValueError(f"not headline queries: {sorted(missing)}")
        self.spark, self.data_dir = spark, data_dir
        with phase("sources"):
            self.registry = Q.queries()
            for t in ANALYTICS_TABLES:
                Q.read_table(spark, data_dir, t)
            e = Engine(spark)
        with phase("fixtures"):
            orders = os.path.join(data_dir, "orders.parquet")
            src = os.path.join(fixture_dir, "orders_src")
            spark.read.parquet(orders).repartitionByRange(8, "o_orderkey").write.parquet(src)
            doc_url = _write_docs(data_dir, fixture_dir, "nation")
            self.workdir = os.path.join(fixture_dir, "orders_work")
            e.register_writable_parquet(self.TABLE, src, self.workdir, keys=["o_orderkey"])
        with phase("sources"):
            e.register_source(MongoStyleSource("docs", {self.DOC: doc_url}))
        self.engine = e
        self.checked = _Checked(data_dir)
        self.oracle_sql = Q.ORACLE
        # client-side model of the table, used only to pick literals
        self.live = set(pq.read_table(orders, columns=["o_orderkey"]).column(0).to_pylist())
        self.next_key = 1_000_000
        self.version = 0
        self.next_doc = 100
        # write accounting
        self.v0_rows = len(self.live)
        self.v0_bytes = _dir_bytes(os.path.join(self.workdir, "v000000"))
        self.paths = set(_files(self.workdir))
        self.inodes = {_inode(p) for p in self.paths}
        self.bytes_written = 0
        self.files_written = 0
        self.files_linked = 0
        self.logical_bytes = 0.0

    def frame(self, name: str):
        return self.registry[name](self.spark, self.data_dir)

    # -- op generation -----------------------------------------------------
    def block(self, rng) -> list[Op]:
        queries = [Op(name, lambda n=name: self.frame(n),
                      self.checked.expect(self.oracle_sql[name]), meta={"query": name})
                   for name in ANALYTICS_SET]
        return queries + [self._op(k, rng) for k in _DML_KINDS]

    def _pick(self, rng, keys) -> int:
        return sorted(keys)[int(rng.integers(0, len(keys)))]

    def _op(self, kind: str, rng) -> Op:
        e, t = self.engine, self.TABLE
        r = lambda lo, hi: int(rng.integers(lo, hi))  # noqa: E731
        if kind == "insert":
            k = self.next_key
            self.next_key += 1
            self.live.add(k)
            vals = (f"({k}, {r(0, 1500)}, 'O', {r(1000, 500000)}.25, "
                    f"'{1995 + r(0, 6)}-0{r(1, 10)}-1{r(0, 10)} 00:00:00', '{_PRIORITIES[r(0, 5)]}')")
            sql = f"INSERT INTO {t} ({', '.join(_ORDER_COLS)}) VALUES {vals}"
            return self._write(kind, sql, [sql])
        if kind == "update":
            k = self._pick(rng, self.live)
            sql = (f"UPDATE {t} SET o_totalprice = {r(1000, 500000)}.5, "
                   f"o_orderstatus = 'U' WHERE o_orderkey = {k}")
            return self._write(kind, sql, [sql])
        if kind == "delete":
            k = self._pick(rng, self.live)
            self.live.discard(k)
            sql = f"DELETE FROM {t} WHERE o_orderkey = {k}"
            return self._write(kind, sql, [sql])
        if kind == "merge":
            rows = [(self._pick(rng, self.live), r(1000, 500000) + 0.75) for _ in range(4)]
            for _ in range(2):
                rows.append((self.next_key, r(1000, 500000) + 0.75))
                self.live.add(self.next_key)
                self.next_key += 1
            rows = list(dict(rows).items())
            feed = "merge_feed"
            sql = (f"MERGE INTO {t} t USING {feed} s ON t.o_orderkey = s.k "
                   "WHEN MATCHED THEN UPDATE SET o_totalprice = s.p "
                   "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus) "
                   "VALUES (s.k, s.p, 'N')")
            values = ", ".join(f"({k}, {p})" for k, p in rows)
            duck = [  # DuckDB 1.0 has no MERGE: the same change as UPDATE + INSERT
                f"CREATE OR REPLACE TEMP TABLE {feed} AS "
                f"SELECT * FROM (VALUES {values}) v(k, p)",
                f"UPDATE {t} SET o_totalprice = s.p FROM {feed} s WHERE {t}.o_orderkey = s.k",
                f"INSERT INTO {t} (o_orderkey, o_totalprice, o_orderstatus) "
                f"SELECT k, p, 'N' FROM {feed} WHERE k NOT IN (SELECT o_orderkey FROM {t})",
            ]

            def prepare():
                feed_df = self.spark.createDataFrame(rows, "k long, p double")
                e.register_memory("feeds", {feed: feed_df})
            op = self._write(kind, sql, duck, affected=len(rows))
            op.prepare = prepare
            return op
        if kind == "optimize":
            return self._write(kind, f"OPTIMIZE {t}", [], affected=None)
        if kind == "vacuum":
            return self._write(kind, f"VACUUM {t} RETAIN 2 VERSIONS", [], affected=None,
                               versioned=False)
        if kind == "read_point":
            ks = ", ".join(str(self._pick(rng, self.live)) for _ in range(3))
            return self._read(kind, f"SELECT {', '.join(_ORDER_COLS)} FROM {t} "
                                    f"WHERE o_orderkey IN ({ks}, {self.next_key - 1})")
        if kind == "version_as_of":
            v = max(self.version - 1, 0)
            return self._read(
                kind,
                f"SELECT count(*) AS ct, round(sum(o_totalprice), 2) AS total "
                f"FROM {t} VERSION AS OF {v}",
                f"SELECT count(*) AS ct, round(sum(o_totalprice), 2) AS total FROM snap_{v}")
        if kind == "table_changes":
            v0, v1 = max(self.version - 1, 0), self.version
            return self._read(
                kind,
                "SELECT _change_type, _commit_version, count(*) AS ct "
                f"FROM table_changes({t}, {v0}, {v1}) GROUP BY _change_type, _commit_version",
                _changes_sql(v0, v1))
        if kind == "doc_insert":
            k = self.next_doc
            self.next_doc += 1
            sql = (f"INSERT INTO {self.DOC} (n_nationkey, n_name, n_regionkey) "
                   f"VALUES ({k}, 'NATION_{k}', {r(0, 5)})")
            return self._write(kind, sql, [sql], versioned=False)
        if kind == "doc_read":
            return self._read(kind, f"SELECT n_nationkey, n_name, n_regionkey FROM {self.DOC} "
                                    f"WHERE n_regionkey = {r(0, 5)} "
                                    "ORDER BY n_nationkey LIMIT 1000")
        raise ValueError(kind)

    def _write(self, kind, sql, duck, affected=1, versioned=True) -> Op:
        if versioned:
            self.version += 1
        return Op(kind, lambda: self.engine.sql(sql), writes=True,
                  meta={"duck": duck, "versioned": versioned, "affected": affected,
                        "version": self.version})

    def _read(self, kind, sql, duck_sql=None) -> Op:
        return Op(kind, lambda: self.engine.sql(sql), meta={"duck_sql": duck_sql or sql})

    # -- write accounting (untimed, after every op) ---------------------------
    def after_op(self, op: Op, result) -> None:
        if not op.writes:
            return
        for path in _files(self.workdir):
            if path in self.paths:
                continue
            self.paths.add(path)
            ino = _inode(path)
            if ino in self.inodes:
                self.files_linked += 1
            else:
                self.inodes.add(ino)
                self.files_written += 1
                self.bytes_written += os.path.getsize(path)
        n = getattr(result, "affected", None)
        if op.meta["versioned"] and op.meta["affected"] is not None and n:
            self.logical_bytes += n * self.v0_bytes / self.v0_rows

    def write_stats(self) -> dict[str, float]:
        live = _dir_bytes(os.path.join(self.workdir, sorted(os.listdir(self.workdir))[-1]))
        total = sum(os.path.getsize(p) for p in {_inode(p): p for p in
                                                 _files(self.workdir)}.values())
        return {
            "write_amp": self.bytes_written / self.logical_bytes if self.logical_bytes else 0.0,
            "space_amp": total / live if live else 0.0,
            "bytes_written": float(self.bytes_written),
            "files_written": float(self.files_written),
            "files_linked": float(self.files_linked),
            "versions_live": float(len(os.listdir(self.workdir))),
        }

    def count_vs_materialized(self) -> dict[str, dict[str, float]]:
        """Per query: `.count()` wall next to the wall of a noop-sink write
        of the same frame (one run each, after the timed phase)."""
        out = {}
        for name in dict.fromkeys(ANALYTICS_SET + COUNT_COLLAPSED):
            t0 = time.perf_counter()
            self.frame(name).count()
            t1 = time.perf_counter()
            self.frame(name).write.format("noop").mode("overwrite").save()
            out[name] = {"count_s": t1 - t0, "noop_s": time.perf_counter() - t1,
                         "count_collapsed": name in COUNT_COLLAPSED}
        return out

    # -- answer checks: replay on DuckDB ---------------------------------------
    def check(self, records) -> list[bool]:
        """Replay every write that ran, in order, on DuckDB and check each
        read against the replayed state (ops with their own check use it);
        return one verdict per record, then one per final table state. A
        write that failed is not replayed, but its version still gets a
        snapshot (the state before it), so later reads can be checked."""
        import duckdb

        con = duckdb.connect()
        d = self.data_dir
        con.execute(f"CREATE TABLE {self.TABLE} AS SELECT * FROM '{d}/orders.parquet'")
        con.execute(f"CREATE TABLE {self.DOC} AS SELECT CAST(n_nationkey AS BIGINT) AS "
                    f"n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey "
                    f"FROM '{d}/nation.parquet'")
        con.execute(f"CREATE TABLE snap_0 AS SELECT * FROM {self.TABLE}")

        def replay(op, result) -> bool:
            n = 0
            for stmt in op.meta["duck"]:
                row = con.execute(stmt).fetchone()
                if stmt.split()[0] in ("UPDATE", "INSERT", "DELETE") and row:
                    n += int(row[0])
            return op.meta["affected"] is None or getattr(result, "affected", None) == n

        verdicts = []
        for op, result, error in records:
            if op.check is not None:
                verdicts.append(error is None and _checked(op.kind, lambda: op.check(result)))
            elif op.writes:
                ok = error is None and _checked(op.kind, lambda: replay(op, result))
                if op.meta["versioned"]:
                    con.execute(f"CREATE OR REPLACE TABLE snap_{op.meta['version']} AS "
                                f"SELECT * FROM {self.TABLE}")
                verdicts.append(ok)
            else:
                verdicts.append(error is None and _checked(op.kind, lambda: oracle.same(
                    oracle.arrow_rows(result), oracle.duck_rows(con, op.meta["duck_sql"]))))
        final = {  # the doc-store read is a top-k the source answers itself
            self.TABLE: f"SELECT * FROM {self.TABLE}",
            self.DOC: f"SELECT n_nationkey, n_name, n_regionkey FROM {self.DOC} "
                      "ORDER BY n_nationkey LIMIT 1000000",
        }
        for table, sql in final.items():
            verdicts.append(_checked(f"final state of {table}", lambda: oracle.same(
                oracle.arrow_rows(self.engine.sql(sql).toArrow()),
                oracle.duck_rows(con, f"SELECT * FROM {table}"))))
        return verdicts


def _changes_sql(v0: int, v1: int) -> str:
    """Expected `table_changes` census: keyed diffs of adjacent snapshots."""
    parts = []
    cols = " AND ".join(f"a.{c} IS NOT DISTINCT FROM b.{c}" for c in _ORDER_COLS[1:])
    for v in range(v0 + 1, v1 + 1):
        a, b = f"snap_{v - 1}", f"snap_{v}"
        parts += [
            f"SELECT 'insert' AS _change_type, {v} AS _commit_version, count(*) AS ct "
            f"FROM {b} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {a})",
            f"SELECT 'delete', {v}, count(*) FROM {a} "
            f"WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {b})",
        ]
        for img in ("update_preimage", "update_postimage"):
            parts.append(f"SELECT '{img}', {v}, count(*) FROM {a} a JOIN {b} b "
                         f"USING (o_orderkey) WHERE NOT ({cols})")
    if not parts:
        return "SELECT 'insert' AS _change_type, 0 AS _commit_version, 0 AS ct WHERE false"
    return "SELECT * FROM (" + " UNION ALL ".join(parts) + ") WHERE ct > 0"


def _files(root: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(root):
        out.extend(os.path.join(dirpath, n) for n in names)
    return out


def _inode(path: str) -> int:
    return os.stat(path).st_ino


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _files(path))


WORKLOADS = {w.name: w for w in (FederatedInteractive, AnalyticsDmlBatch)}
