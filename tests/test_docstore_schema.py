"""Doc-store table schemas are inferred on the driver.

``DocStoreSource.load()`` fetches the collection and infers its schema
itself, then hands it to Spark with ``.schema(...)``, so building a view
starts no Python planner worker. The bare-format read
(``spark.read.format(fmt).load()`` with no schema) still asks
``DocStoreDataSource.schema()``; both go through
``DocStoreSource.infer_schema`` and must agree for every backend. Views
are rebuilt per statement, so a schema change is visible to the next
statement.
"""

import json
import re
import urllib.error

import pytest

from dataux_spark import Engine
from dataux_spark.engine import QueryError
from dataux_spark.infer import TableMeta
from dataux_spark.sources.cassandra_style import CassandraStyleSource
from dataux_spark.sources.datastore_style import DatastoreStyleSource
from dataux_spark.sources.es_style import EsStyleRestSource
from dataux_spark.sources.lytics_style import LyticsStyleSource
from dataux_spark.sources.mongo_style import MongoStyleSource


def _doc(i: int) -> dict:
    d = {"id": i, "name": f"n{i}"}
    if i % 3:  # sparse: a third of the documents lack the field
        d["city"] = ["pdx", "nyc"][i % 2]
    # mixed int/float across documents: widens to double
    d["score"] = i * 1.5 if i % 4 == 0 else i
    if i % 5 == 0:  # nested: flattened to dotted columns
        d["geo"] = {"lat": i / 10, "zone": {"code": f"z{i}"}}
    if i % 2 == 0:  # list-valued, one list mixes int and float
        d["tags"] = [i, i + 0.5] if i == 4 else [i, i + 1]
    d["flag"] = None if i % 7 else bool(i % 2)
    d["drift"] = i if i < 10 else f"s{i}"  # int, then string: widens to string
    if i >= 35:  # beyond the 30-document sample: only ES's full sample sees it
        d["late"] = {"seen": i}
    return d


DOCS = [_doc(i) for i in range(40)]


def _cass(url):
    meta = TableMeta(name="t", schema=None, partition_keys=["id"], clustering_keys=[])
    return CassandraStyleSource("cass_schema", {"t": (url, meta)})


BACKENDS = {
    "mongo": lambda url: MongoStyleSource("mgo_schema", {"t": url}),
    "es": lambda url: EsStyleRestSource("es_schema", {"t": url}),
    "cassandra": _cass,
    "datastore": lambda url: DatastoreStyleSource("ds_schema", {"t": url}),
    "lytics": lambda url: LyticsStyleSource("ly_schema", {"t": url}),
}


@pytest.fixture(scope="module")
def docs_url(tmp_path_factory):
    d = tmp_path_factory.mktemp("docschema")
    (d / "docs.json").write_text(json.dumps(DOCS))
    return f"file://{d}/docs.json"


@pytest.mark.parametrize("backend", sorted(BACKENDS))
def test_load_schema_equals_bare_format_schema(spark, docs_url, backend):
    src = BACKENDS[backend](docs_url)
    got = src.load(spark, "t").schema
    bare = spark.read.format(src.format).options(url=docs_url).load().schema
    assert got == bare
    names = got.fieldNames()
    assert {"geo.lat", "geo.zone.code", "tags", "score", "city", "drift"} <= set(names)
    types = {f.name: f.dataType.simpleString() for f in got.fields}
    assert types["score"] == "double"
    assert types["tags"] == "array<double>"
    assert types["drift"] == "string"
    # the sample size is the backend's: ES reads every document
    assert ("late.seen" in names) == (backend == "es")


def test_unreachable_endpoint_fails_the_statement_naming_the_url(spark, tmp_path):
    path = tmp_path / "gone.json"
    path.write_text(json.dumps(DOCS[:3]))
    url = f"file://{path}"
    e = Engine(spark)
    src = MongoStyleSource("mgo_gone", {"gonecoll": url})
    e.register_source(src)
    assert len(e.sql("SELECT * FROM gonecoll").collect()) == 3
    path.unlink()
    # load() fetches on the driver: the fetch error itself, not a planner
    # worker's wrapped traceback
    with pytest.raises(urllib.error.URLError, match=re.escape(url)):
        src.load(spark, "gonecoll")
    # no pushdown tier and no polyfill may answer it instead
    for stmt in (
        "SELECT * FROM gonecoll",
        "SELECT id FROM gonecoll WHERE id > 1",
        "SELECT id FROM gonecoll ORDER BY id LIMIT 2",
        "SELECT count(*) FROM gonecoll",
    ):
        with pytest.raises(QueryError, match=re.escape(url)):
            e.sql(stmt).collect()


def test_refused_endpoint_fails_registration_naming_the_url(spark):
    url = "http://127.0.0.1:1/refused.json"
    with pytest.raises(urllib.error.URLError, match=re.escape(url)):
        Engine(spark).register_source(MongoStyleSource("mgo_refused", {"refused": url}))


def test_inserted_field_reaches_the_next_statement(spark, tmp_path):
    (tmp_path / "coll.json").write_text(json.dumps([{"id": 1, "score": 3}, {"id": 2, "score": 4}]))
    (tmp_path / "feed.json").write_text(json.dumps([
        {"id": 7, "meta": {"kind": "x"}},
        {"id": 8, "meta": {"kind": "y"}},
    ]))
    e = Engine(spark)
    e.register_source(MongoStyleSource("mgo_fresh", {
        "freshcoll": f"file://{tmp_path}/coll.json",
        "freshfeed": f"file://{tmp_path}/feed.json",
    }))
    assert [r[0] for r in e.sql("DESCRIBE freshcoll").collect()] == ["id", "score"]
    assert e.sql("DELETE FROM freshcoll").affected == 2
    # the emptied collection takes the inserted documents' fields
    assert e.sql("INSERT INTO freshcoll SELECT * FROM freshfeed").affected == 2
    assert [r[0] for r in e.sql("DESCRIBE freshcoll").collect()] == ["id", "meta.kind"]
    # the literal-dotted rewrite knows the new column: the backticked name
    # stays one column, not struct access
    out = e.sql("SELECT id, `meta.kind` FROM freshcoll WHERE `meta.kind` = 'y'").collect()
    assert [tuple(r) for r in out] == [(8, "y")]
    # a field another writer adds shows up in the next statement too
    docs = json.loads((tmp_path / "coll.json").read_text())
    (tmp_path / "coll.json").write_text(json.dumps(docs + [{"id": 9, "extra": 1.5}]))
    out = e.sql("SELECT id, extra FROM freshcoll WHERE extra IS NOT NULL").collect()
    assert [tuple(r) for r in out] == [(9, 1.5)]
    assert "extra" in [r[0] for r in e.sql("DESCRIBE freshcoll").collect()]
