"""Driver-held rows become Arrow-backed LocalRelations (sqlutil.local_frame).

Every statement-path frame the engine builds from Python rows — pushed
top-k/aggregate/terms answers, SHOW/DESCRIBE/EXPLAIN output, REST and
memory tables — must keep the schema (names, types, nullability) and rows
that `spark.createDataFrame(<list>, schema)` gives for the same rows, and
a row that call rejects must still decline a pushed answer into the Spark
polyfill. Also pinned: the dialect's schema lookups touch only the source
tables a statement names.
"""

import datetime
import decimal
import json
import math
import os
import time

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from dataux_spark import Engine
from dataux_spark.infer import TableMeta
from dataux_spark.sources.cassandra_style import CassandraStyleSource
from dataux_spark.sources.datastore_style import DatastoreStyleSource
from dataux_spark.sources.es_style import EsStyleRestSource
from dataux_spark.sources.lytics_style import LyticsStyleSource
from dataux_spark.sources.mongo_style import MongoStyleSource
from dataux_spark.sources.rest import RestJsonSource
from dataux_spark.sqlutil import local_frame

ITEMS = [
    {"sku": "a1", "grp": "x", "qty": 3, "price": 1.5},
    {"sku": "b2", "grp": "x", "qty": 7, "price": 4.25},
    {"sku": "c3", "grp": "y", "qty": 1, "price": 9.0},
    {"sku": "d4", "grp": "x", "qty": 5, "price": -0.0},
    {"sku": "e5", "grp": "y", "qty": 2, "price": 0.75},
]
# one int among doubles: the pushed top-k's frame rejects the row the way
# createDataFrame does, so the statement declines into the polyfill
MIXED = [{"name": "p", "v": 1.5}, {"name": "q", "v": 2}, {"name": "r", "v": 0.5}]

S = T.StringType()
L = T.LongType()
D = T.DoubleType()


def _struct(*fields):
    return T.StructType([T.StructField(n, t, nullable) for n, t, nullable in fields])


@pytest.fixture(scope="module")
def lf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("localframe")
    (d / "items.json").write_text(json.dumps(ITEMS))
    (d / "mixed.json").write_text(json.dumps(MIXED))
    url = f"file://{d}/items.json"
    logs = str(d / "logs")
    os.makedirs(logs)
    e = Engine(spark)
    e.register_source(MongoStyleSource("lfmgo", {"lf_mgo": url, "lf_mixed": f"file://{d}/mixed.json"},
                                       push_log_dir=logs))
    e.register_source(LyticsStyleSource("lflyt", {"lf_mixed_twin": f"file://{d}/mixed.json"}))
    meta = TableMeta(name="lf_cass", schema=None, partition_keys=["grp"], clustering_keys=["qty"])
    e.register_source(CassandraStyleSource("lfcass", {"lf_cass": (url, meta)}, push_log_dir=logs))
    e.register_source(DatastoreStyleSource("lfds", {"lf_ds": url}, push_log_dir=logs))
    e.register_source(EsStyleRestSource("lfes", {"lf_es": url}, push_log_dir=logs))
    src = str(d / "hist_src")
    spark.createDataFrame([(1, "one")], "k INT, v STRING").write.parquet(src)
    e.register_writable_parquet("lf_hist", src, str(d / "hist_work"), keys=["k"])
    e.sql("UPDATE lf_hist SET v = 'uno' WHERE k = 1")
    return e, logs, str(d)


def _cells(df):
    # repr keeps what == hides: -0.0 against 0.0, NaN against NaN
    return [tuple(repr(v) for v in r) for r in df.collect()]


def assert_same(got, rows, schema):
    """`got` equals the list-built frame of `rows` under `schema`."""
    want = got.sparkSession.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _cells(got) == _cells(want)


def _pushed(logs, name):
    path = f"{logs}/{name}.json"
    hit = os.path.exists(path)
    if hit:
        os.remove(path)
    return hit


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


# -- pushed answers ---------------------------------------------------------

PUSHED = [
    ("SELECT sku, qty FROM lf_mgo WHERE qty > 1 ORDER BY qty DESC LIMIT 3",
     "lfmgo.lf_mgo.topk", [("b2", 7), ("d4", 5), ("a1", 3)],
     _struct(("sku", S, True), ("qty", L, True))),
    ("SELECT sku, qty FROM lf_cass WHERE grp = 'x' ORDER BY qty LIMIT 2",
     "lfcass.lf_cass.topk", [("a1", 3), ("d4", 5)],
     _struct(("sku", S, True), ("qty", L, True))),
    ("SELECT sku, price FROM lf_ds WHERE grp = 'x' AND price > -1 ORDER BY price LIMIT 2",
     "lfds.lf_ds.topk", [("d4", -0.0), ("a1", 1.5)],
     _struct(("sku", S, True), ("price", D, True))),
    ("SELECT grp, count(*) AS ct, min(price) AS lo, max(qty) AS hi FROM lf_es GROUP BY grp",
     "lfes.lf_es.agg", [("x", 3, -0.0, 7), ("y", 2, 0.75, 2)],
     _struct(("grp", S, True), ("ct", L, True), ("lo", D, True), ("hi", L, True))),
    ("SELECT terms(grp, 5) FROM lf_es",
     "lfes.lf_es.agg", [("x", 3), ("y", 2)],
     _struct(("key", S, True), ("count", L, False))),
    ("SELECT count(*) AS n FROM lf_mgo WHERE qty > 1",
     "lfmgo.lf_mgo.agg", [(4,)],
     _struct(("n", L, False))),
]


@pytest.mark.parametrize("sql,log,rows,schema", PUSHED, ids=[p[1] for p in PUSHED])
def test_pushed_answer_identity(lf, sql, log, rows, schema):
    e, logs, _ = lf
    _pushed(logs, log)
    got = e.sql(sql)
    assert _pushed(logs, log), "the source did not answer the statement"
    if "GROUP BY" in sql:
        got = got.orderBy("grp")
    assert_same(got, rows, schema)


@pytest.mark.parametrize("sql", [p[0] for p in PUSHED], ids=[p[1] for p in PUSHED])
def test_pushed_answer_runs_no_python_worker(lf, sql):
    plan = _plan(lf[0].sql(sql))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_rejected_row_declines_to_polyfill(lf):
    """v is inferred double; the int 2 in the top-2 fails the row check,
    the pushed answer declines, and Spark answers from the scan."""
    e, logs, _ = lf
    q = "SELECT name, v FROM {t} ORDER BY v DESC LIMIT 2"
    got = e.sql(q.format(t="lf_mixed"))
    twin = e.sql(q.format(t="lf_mixed_twin"))
    assert "LocalTableScan" not in _plan(got)
    assert got.schema == twin.schema == _struct(("name", S, True), ("v", D, True))
    assert _cells(got) == _cells(twin) == [("'q'", "2.0"), ("'p'", "1.5")]
    # a top-2 of doubles only is answered by the source
    _pushed(logs, "lfmgo.lf_mixed.topk")
    ok = e.sql("SELECT name, v FROM lf_mixed ORDER BY v LIMIT 2")
    assert _pushed(logs, "lfmgo.lf_mixed.topk")
    assert_same(ok, [("r", 0.5), ("p", 1.5)], _struct(("name", S, True), ("v", D, True)))


# -- SHOW / DESCRIBE / EXPLAIN ----------------------------------------------

_DESC = _struct(*[(c, S, True) for c in ("Field", "Type", "Null", "Key", "Default", "Extra")])
_FULL = _struct(*[(c, S, True) for c in (
    "Field", "Type", "Collation", "Null", "Key", "Default", "Extra", "Privileges", "Comment")])


def test_show_describe_identity(lf):
    e, _, _ = lf
    cols = [("sku", "varchar(255)"), ("grp", "varchar(255)"), ("qty", "bigint"), ("price", "float")]
    assert_same(e.sql("DESCRIBE lf_mgo"),
                [(c, t, "YES", "", None, "") for c, t in cols], _DESC)
    assert_same(
        e.sql("SHOW FULL COLUMNS FROM lf_mgo"),
        [(c, t, "utf8_general_ci" if t.startswith("varchar") else None,
          "YES", "", None, "", "select", "") for c, t in cols],
        _FULL,
    )
    ddl = ("CREATE TABLE `lf_mgo` (\n"
           + ",\n".join(f"  `{c}` {t}" for c, t in cols)
           + "\n) ENGINE=InnoDB DEFAULT CHARSET=utf8;")
    assert_same(e.sql("SHOW CREATE TABLE lf_mgo"), [("lf_mgo", ddl)],
                _struct(("Table", S, True), ("Create Table", S, True)))
    names = sorted(t for s in e.sources.values() for t in s.tables())
    assert_same(e.sql("SHOW TABLES"), [(t,) for t in names],
                _struct(("Tables_in_default", S, True)))
    assert_same(e.sql('SHOW VARIABLES LIKE "max_allowed%"'), [("max_allowed_packet", "67108864")],
                _struct(("Variable_name", S, True), ("Value", S, True)))
    assert_same(e.sql('SHOW VARIABLES LIKE "no_such_var%"'), [],
                _struct(("Variable_name", S, True), ("Value", S, True)))
    assert_same(
        e.sql("SHOW SOURCES"),
        [(s.name, s.tier.value, len(s.tables()), s.writable(), getattr(s, "default_limit", None))
         for s in e.sources.values()],
        "source STRING, tier STRING, n_tables INT, writable BOOLEAN, default_limit INT",
    )
    _, _, d = lf
    assert_same(e.sql("DESCRIBE HISTORY lf_hist"),
                [(0, f"{d}/hist_work/v000000"), (1, f"{d}/hist_work/v000001")],
                "version INT, path STRING")
    out = e.sql("EXPLAIN SELECT sku FROM lf_mgo WHERE qty > 2")
    lines = [r[0] for r in out.collect()]
    assert lines[0].startswith("== Physical Plan ==")
    assert_same(out, [(x,) for x in lines], "plan: string")


@pytest.mark.parametrize("stmt", [
    "DESCRIBE lf_mgo", "SHOW FULL COLUMNS FROM lf_mgo", "SHOW CREATE TABLE lf_mgo",
    "SHOW TABLES", "SHOW SOURCES", "DESCRIBE HISTORY lf_hist",
    'SHOW VARIABLES LIKE "max%"', "EXPLAIN SELECT sku FROM lf_mgo",
])
def test_show_output_runs_no_python_worker(lf, stmt):
    plan = _plan(lf[0].sql(stmt))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


# -- REST, memory and file-listing frames --------------------------------------

def test_rest_row_datetime_date_decimal(spark, monkeypatch):
    """A naive datetime is read as local time (time.mktime), the same as
    the list-built frame, whatever the process time zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        src = RestJsonSource("lfrest", {"lf_pods": "file:///unused.json"})
        ts = datetime.datetime(2024, 7, 4, 12, 30, 5, 7)
        src._cache["lf_pods"] = [
            {"name": "a", "ts": ts, "d": datetime.date(2024, 2, 29), "amt": decimal.Decimal("12.50")},
            {"name": "b", "ts": None, "d": None, "amt": None},
        ]
        e = Engine(spark)
        e.register_source(src)
        got = e.sql("SELECT * FROM lf_pods")
        schema = _struct(("name", S, True), ("ts", T.TimestampType(), True),
                         ("d", T.DateType(), True), ("amt", S, True))
        rows = [("a", ts, datetime.date(2024, 2, 29), "12.50"), ("b", None, None, None)]
        assert_same(got, rows, schema)
        micros = [r[0] for r in got.selectExpr("unix_micros(ts)").collect()]
        assert micros == [int(time.mktime(ts.timetuple())) * 1_000_000 + 7, None]
    finally:
        monkeypatch.delenv("TZ")
        time.tzset()


def test_memory_commit_keeps_schema(spark):
    schema = _struct(("id", L, False), ("tags", T.ArrayType(S, False), True))
    e = Engine(spark)
    e.register_memory("lfmem", {"lf_memt": spark.createDataFrame([(1, ["a"]), (2, None)], schema)})
    e.sql("UPDATE lf_memt SET tags = array('b') WHERE id = 2")
    got = e.sql("SELECT * FROM lf_memt ORDER BY id")
    assert_same(got, [(1, ["a"]), (2, ["b"])], schema)


def test_driver_tables_run_no_python_worker(spark):
    """A REST table and a committed memory table read as LocalTableScan."""
    src = RestJsonSource("lfrest2", {"lf_pods2": "file:///unused.json"})
    src._cache["lf_pods2"] = [{"name": "a", "n": 1}]
    e = Engine(spark)
    e.register_source(src)
    e.register_memory("lfmem2", {"lf_memt2": spark.createDataFrame([(1,)], "id BIGINT")})
    e.sql("INSERT INTO lf_memt2 (id) VALUES (2)")
    for t in ("lf_pods2", "lf_memt2"):
        plan = _plan(spark.table(t))
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_files_table_schema(spark, tmp_path):
    from pyspark.sql import Row

    from dataux_spark.sources.file_source import ParquetDirSource

    spark.range(3).write.parquet(str(tmp_path / "t1.parquet"))
    src = ParquetDirSource("lffiles", str(tmp_path))
    path = str(tmp_path / "t1.parquet")
    want = spark.createDataFrame(
        [Row(file="t1.parquet", table="t1", path=path, size=0, partition=0)]
    )
    got = src.files_table(spark)
    assert got.schema == want.schema
    assert _cells(got) == _cells(want)


# -- the helper itself --------------------------------------------------------

def test_local_frame_special_doubles_survive_parquet(spark, tmp_path):
    inf = float("inf")
    rows = [(-0.0, float("nan"), inf, [-0.0, float("nan"), -inf, None]), (None, -inf, 1.0, None)]
    df = local_frame(spark, rows, "z double, n double, i double, arr array<double>")
    df.write.parquet(str(tmp_path / "special"))
    r0, r1 = sorted(spark.read.parquet(str(tmp_path / "special")).collect(), key=lambda r: r.i)
    assert r0.i == 1.0 and r0.z is None and r0.n == -inf and r0.arr is None
    assert r1.z == 0.0 and math.copysign(1.0, r1.z) == -1.0
    assert math.isnan(r1.n) and r1.i == inf
    assert math.copysign(1.0, r1.arr[0]) == -1.0 and math.isnan(r1.arr[1])
    assert r1.arr[2] == -inf and r1.arr[3] is None

    empty = local_frame(spark, [], "z double, arr array<double>")
    empty.write.parquet(str(tmp_path / "empty"))
    back = spark.read.parquet(str(tmp_path / "empty"))
    assert back.count() == 0 and back.columns == ["z", "arr"]


def test_local_frame_matches_list_frame(spark):
    schema = _struct(
        ("i", L, False), ("f", T.FloatType(), True), ("dec", T.DecimalType(10, 2), True),
        ("ts", T.TimestampType(), True), ("ntz", T.TimestampNTZType(), True),
        ("m", T.MapType(S, L), True), ("st", _struct(("a", L, True), ("b", T.DateType(), True)), True),
        ("bin", T.BinaryType(), True), ("b", T.BooleanType(), True),
    )
    rows = [
        (1, 0.1, decimal.Decimal("12.3"), datetime.datetime(2024, 3, 1, 8, 0, 0, 5),
         datetime.datetime(2024, 1, 1, 5), {"k": 1}, (7, datetime.date(1969, 12, 31)),
         bytearray(b"ab"), True),
        (2, None, None, datetime.datetime(2024, 6, 1, tzinfo=datetime.timezone.utc),
         None, {}, None, None, None),
    ]
    assert_same(local_frame(spark, rows, schema), rows, schema)


@pytest.mark.parametrize("rows,schema", [
    ([(1,)], "d double"),
    ([(True,)], "x bigint"),
    ([(None,)], _struct(("x", L, False))),
])
def test_local_frame_rejects_what_list_frame_rejects(spark, rows, schema):
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(type(want.value)):
        local_frame(spark, rows, schema)


# -- schema lookups: only the source tables a statement names -----------------

@pytest.fixture(scope="module")
def named(spark):
    e = Engine(spark)
    e.register_memory("lfnamed", {
        "lfa": spark.createDataFrame([(1, "u"), (2, "v"), (3, "w")], "id INT, x STRING"),
        "lfb": spark.createDataFrame([(1, ["red", "blue"]), (2, ["green"]), (3, None)],
                                     "id INT, tags ARRAY<STRING>"),
        "lfc": spark.createDataFrame([(1,)], "id INT"),
    })
    spark.sql("CREATE OR REPLACE TEMP VIEW lf_user_view AS SELECT * FROM lfb")
    return e


def _ids(df):
    return sorted(r[0] for r in df.collect())


def test_comma_join_and_subquery_rewrite_array_in(named):
    assert _ids(named.sql(
        "SELECT lfa.id FROM lfa, lfb WHERE lfa.id = lfb.id AND tags IN ('red')")) == [1]
    assert _ids(named.sql(
        "SELECT id FROM lfa WHERE id IN (SELECT id FROM lfb WHERE tags IN ('green'))")) == [2]
    assert _ids(named.sql(
        "WITH hit AS (SELECT id FROM lfb WHERE tags IN ('blue', 'green')) "
        "SELECT lfa.id FROM lfa JOIN hit ON lfa.id = hit.id")) == [1, 2]


def test_user_view_over_doc_table_keeps_rewrite(named):
    assert _ids(named.sql("SELECT id FROM lf_user_view WHERE tags IN ('red')")) == [1]


def test_table_lookups_only_named_source_tables(named, monkeypatch):
    calls = []
    real = SparkSession.table

    def counting(self, name):
        calls.append(name)
        return real(self, name)

    monkeypatch.setattr(SparkSession, "table", counting)
    named.sql("SELECT id FROM lfa WHERE id > 1")
    assert calls == ["lfa"]
    calls.clear()
    named.sql("SELECT lfa.id FROM lfa JOIN lfb ON lfa.id = lfb.id WHERE x = 'lfc'")
    assert sorted(calls) == ["lfa", "lfb"]  # 'lfc' inside a string literal is no name
