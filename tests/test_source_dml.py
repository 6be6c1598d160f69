"""DML routed through registered sources — the reference's mutator
contract (schema.ConnMutation.CreateMutator → Put/Delete/DeleteExpression,
/root/reference/backends/cassandra/sql_to_cql.go:236-394, datastore
read-modify-write sql_to_datastore.go:218-382; roundtrip shape mirrors
cass_test.go:482-609): INSERT/UPDATE/DELETE against a source-owned table
mutate the SOURCE's backing store (read-your-writes through the source),
with affected-row counts; non-writable sources reject with a clear error.
"""

import json

import pytest

from dataux_spark import Engine
from dataux_spark.engine import QueryError
from dataux_spark.infer import TableMeta
from dataux_spark.sources.cassandra_style import CassandraStyleSource
from dataux_spark.sources.mongo_style import MongoStyleSource


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_memory_source_roundtrip_updates_source_tables(spark):
    """Memory-source DML goes through _MemoryMutator: the SOURCE's stored
    DataFrame is updated (not just the temp view), so source.load() and
    SELECT agree after every mutation."""
    e = Engine(spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    src = e.register_memory("memdml", {"people": df}, keys={"people": ["id"]})
    r = e.sql('INSERT INTO people (id, name) VALUES (3, "c")')
    assert r.affected == 1
    assert sorted(_rows(src.load(spark, "people"))) == [(1, "a"), (2, "b"), (3, "c")]
    # UPSERT replaces on the declared key
    r = e.sql('UPSERT INTO people (id, name) VALUES (3, "c2")')
    assert r.affected == 1
    assert sorted(_rows(src.load(spark, "people"))) == [(1, "a"), (2, "b"), (3, "c2")]
    r = e.sql('UPDATE people SET name = "z" WHERE id <= 2')
    assert r.affected == 2
    r = e.sql("DELETE FROM people WHERE id = 1")
    assert r.affected == 1
    assert sorted(_rows(e.sql("SELECT id, name FROM people"))) == [(2, "z"), (3, "c2")]
    assert sorted(_rows(src.load(spark, "people"))) == [(2, "z"), (3, "c2")]


def test_mongo_style_roundtrip_persists_to_collection(spark, tmp_path):
    """Doc-store DML: Put appends/upserts documents in the backing
    collection, DeleteExpression removes them; a fresh scan (the
    fresh_scan_per_query reload) observes every write."""
    docs = [
        {"id": "u1", "name": "aaron", "count": 22},
        {"id": "u2", "name": "bjorn", "count": 55},
    ]
    (tmp_path / "users.json").write_text(json.dumps(docs))
    e = Engine(spark)
    e.register_source(
        MongoStyleSource("mgodml", {"mgousers": f"file://{tmp_path}/users.json"})
    )
    r = e.sql('INSERT INTO mgousers (id, name, count) VALUES ("u3", "carl", 7)')
    assert r.affected == 1
    assert e.sql("SELECT count(*) AS ct FROM mgousers").collect()[0][0] == 3
    # the write landed in the collection itself, not a shadow copy
    assert len(json.loads((tmp_path / "users.json").read_text())) == 3
    r = e.sql('UPSERT INTO mgousers (id, name, count) VALUES ("u3", "carla", 8)')
    assert r.affected == 1
    assert _rows(e.sql('SELECT name, count FROM mgousers WHERE id = "u3"')) == [("carla", 8)]
    r = e.sql("UPDATE mgousers SET count = count + 1 WHERE name = 'carla'")
    assert r.affected == 1
    assert _rows(e.sql('SELECT count FROM mgousers WHERE id = "u3"')) == [(9,)]
    r = e.sql("DELETE FROM mgousers WHERE count > 50")
    assert r.affected == 1
    assert sorted(_rows(e.sql("SELECT id FROM mgousers"))) == [("u1",), ("u3",)]
    on_disk = json.loads((tmp_path / "users.json").read_text())
    assert sorted(d["id"] for d in on_disk) == ["u1", "u3"]


def test_insert_select_into_mongo_style(spark, tmp_path):
    """INSERT INTO <doc collection> SELECT ... — the batch comes from an
    engine query and lands in the backing collection."""
    (tmp_path / "sink.json").write_text(json.dumps([{"k": 0, "v": "seed"}]))
    e = Engine(spark)
    e.register_source(
        MongoStyleSource("mgosink", {"mgosink": f"file://{tmp_path}/sink.json"})
    )
    e.register_memory(
        "memsrc",
        {"srcrows": spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string")},
    )
    r = e.sql("INSERT INTO mgosink (k, v) SELECT k, v FROM srcrows WHERE k <= 2")
    assert r.affected == 2
    assert e.sql("SELECT count(*) AS ct FROM mgosink").collect()[0][0] == 3


def test_non_writable_source_rejects_dml(spark, tmp_path):
    """Read-only tiers reject DML with a clear error instead of mutating a
    shadow temp view: lytics-style (a query-only analytics API in the
    reference — no mutator exists) and a datastore kind with no declared
    entity key (the reference mutator addresses entities BY key; without
    one there is nothing to Put against)."""
    from dataux_spark.sources.datastore_style import DatastoreStyleSource
    from dataux_spark.sources.lytics_style import LyticsStyleSource

    (tmp_path / "ents.json").write_text(json.dumps([{"k": 1, "v": "a"}]))
    e = Engine(spark)
    e.register_source(
        LyticsStyleSource("lyro", {"lyro": f"file://{tmp_path}/ents.json"})
    )
    with pytest.raises(QueryError, match="read-only"):
        e.sql('INSERT INTO lyro (k, v) VALUES (2, "b")')
    e.register_source(
        DatastoreStyleSource("dsro", {"dsro": f"file://{tmp_path}/ents.json"})
    )
    with pytest.raises(QueryError, match="read-only"):
        e.sql('INSERT INTO dsro (k, v) VALUES (2, "b")')


def test_datastore_entity_put_roundtrip(spark, tmp_path):
    """Datastore mutator semantics (sql_to_datastore.go:218-382): Put is
    keyed by the entity key — INSERT of an existing key replaces the
    entity; UPDATE is the reference's explicit read-modify-write; DELETE
    removes by expression. Writes land in the backing kind."""
    from dataux_spark.sources.datastore_style import DatastoreStyleSource

    ents = [{"eid": "e1", "v": 10}, {"eid": "e2", "v": 20}]
    (tmp_path / "kind.json").write_text(json.dumps(ents))
    e = Engine(spark)
    e.register_source(
        DatastoreStyleSource(
            "dsw", {"dsents": f"file://{tmp_path}/kind.json"},
            entity_keys={"dsents": "eid"},
        )
    )
    r = e.sql('INSERT INTO dsents (eid, v) VALUES ("e3", 30)')
    assert r.affected == 1
    assert e.sql("SELECT count(*) AS ct FROM dsents").collect()[0][0] == 3
    # entity Put replaces on the key — no duplicate entity
    r = e.sql('INSERT INTO dsents (eid, v) VALUES ("e1", 11)')
    assert r.affected == 1
    assert e.sql("SELECT count(*) AS ct FROM dsents").collect()[0][0] == 3
    assert _rows(e.sql('SELECT v FROM dsents WHERE eid = "e1"')) == [(11,)]
    r = e.sql('UPDATE dsents SET v = v * 2 WHERE eid = "e2"')
    assert r.affected == 1
    assert _rows(e.sql('SELECT v FROM dsents WHERE eid = "e2"')) == [(40,)]
    r = e.sql("DELETE FROM dsents WHERE v > 25")
    assert r.affected == 2
    on_disk = json.loads((tmp_path / "kind.json").read_text())
    assert sorted(d["eid"] for d in on_disk) == ["e1"]


def test_cassandra_style_cql_upsert_roundtrip(spark, tmp_path):
    """CQL write semantics through the mutator (reference prepared upsert
    sql_to_cql.go:246-361, roundtrip shape cass_test.go:482-609): plain
    INSERT of an existing (partition, clustering) key REPLACES the row —
    there is no append-duplicate in Cassandra — UPDATE read-modify-writes,
    DELETE removes by expression, and every write lands in the backing
    collection."""
    docs = [
        {"device": "d1", "day": 1, "val": 10},
        {"device": "d1", "day": 2, "val": 20},
    ]
    (tmp_path / "cassev.json").write_text(json.dumps(docs))
    meta = TableMeta(name="cassev", schema=None,
                     partition_keys=["device"], clustering_keys=["day"])
    e = Engine(spark)
    e.register_source(
        CassandraStyleSource("cassdml", {"cassev": (f"file://{tmp_path}/cassev.json", meta)})
    )
    # new primary key appends
    r = e.sql('INSERT INTO cassev (device, day, val) VALUES ("d2", 1, 5)')
    assert r.affected == 1
    assert e.sql("SELECT count(*) AS ct FROM cassev").collect()[0][0] == 3
    # existing primary key REPLACES (CQL INSERT == upsert), never duplicates
    r = e.sql('INSERT INTO cassev (device, day, val) VALUES ("d1", 2, 99)')
    assert r.affected == 1
    assert e.sql("SELECT count(*) AS ct FROM cassev").collect()[0][0] == 3
    assert _rows(e.sql('SELECT val FROM cassev WHERE device = "d1" AND day = 2')) == [(99,)]
    r = e.sql('UPDATE cassev SET val = val + 1 WHERE device = "d2"')
    assert r.affected == 1
    assert _rows(e.sql('SELECT val FROM cassev WHERE device = "d2"')) == [(6,)]
    r = e.sql("DELETE FROM cassev WHERE val >= 99")
    assert r.affected == 1
    on_disk = json.loads((tmp_path / "cassev.json").read_text())
    assert sorted((d["device"], d["day"]) for d in on_disk) == [("d1", 1), ("d2", 1)]


def test_insert_select_lifts_default_page_cap(spark, tmp_path):
    """An INSERT's embedded SELECT row source must NOT be truncated by the
    source's default page size (p.Final contract): 25 docs through a
    mongo-style source (default page 20) all arrive."""
    docs = [{"id": f"u{i}", "n": i} for i in range(25)]
    (tmp_path / "many.json").write_text(json.dumps(docs))
    e = Engine(spark)
    e.register_source(
        MongoStyleSource("mgocap", {"mgomany": f"file://{tmp_path}/many.json"})
    )
    e.register_memory(
        "capsink",
        {"sink25": spark.createDataFrame([], "id string, n long")},
        keys={"sink25": ["id"]},
    )
    r = e.sql("INSERT INTO sink25 (id, n) SELECT id, n FROM mgomany")
    assert r.affected == 25
    assert e.sql("SELECT count(*) AS c FROM sink25").collect()[0].c == 25
    # the cap still applies to a FINAL plain read of the same table
    assert e.sql("SELECT id FROM mgomany").count() == 20


def test_config_dump_load_roundtrip(spark, tmp_path):
    """dump_config must serialize the live registry back to load_config's
    shape so a second engine reproduces it: same sources, tiers, tables,
    and key metadata; memory sources are omitted (session-only data).
    SHOW CREATE SOURCE renders the same config as executable DDL."""
    import json as _json

    from dataux_spark.infer import TableMeta
    from dataux_spark.sources.cassandra_style import CassandraStyleSource
    from dataux_spark.sources.datastore_style import DatastoreStyleSource

    (tmp_path / "a.json").write_text(_json.dumps([{"k": 1, "v": "x"}]))
    e = Engine(spark)
    e.register_source(
        MongoStyleSource(
            "cfmgo",
            {"cfdocs": f"file://{tmp_path}/a.json", "cfparts": f"file://{tmp_path}/a.json"},
            partitions={"cfparts": ("k", [1, 2, 3])},
        )
    )
    e.register_source(
        DatastoreStyleSource(
            "cfds", {"cfents": f"file://{tmp_path}/a.json"}, entity_keys={"cfents": "k"}
        )
    )
    meta = TableMeta(name="cfcass", schema=None,
                     partition_keys=["k"], clustering_keys=["v"])
    e.register_source(
        CassandraStyleSource("cfcass", {"cfcass": (f"file://{tmp_path}/a.json", meta)})
    )
    e.register_memory(
        "cfmem", {"cfmemt": spark.createDataFrame([(1,)], "x long")}
    )
    conf = e.dump_config()
    assert set(conf["sources"]) == {"cfmgo", "cfds", "cfcass"}  # memory omitted
    assert conf["sources"]["cfds"]["entity_keys"] == {"cfents": "k"}
    # a fresh engine reproduces registry shape + pushdown metadata
    e2 = Engine(spark)
    e2.load_config(conf)
    assert set(e2.sources) == set(conf["sources"])
    assert e2.sources["cfcass"].meta("cfcass").clustering_keys == ["v"]
    assert e2.sources["cfds"].entity_keys == {"cfents": "k"}
    assert [tuple(r) for r in e2.sql("SELECT k, v FROM cfdocs").collect()] == [(1, "x")]
    # key-range partitions survive the round trip: 3 bounds -> 4 scan tasks
    assert e2.sources["cfmgo"].load(spark, "cfparts").rdd.getNumPartitions() == 4
    # SHOW CREATE SOURCE round-trips through the DDL path
    row = e.sql("SHOW CREATE SOURCE cfmgo").collect()[0]
    assert row[0] == "cfmgo" and row[1].startswith("CREATE source cfmgo WITH ")
    e3 = Engine(spark)
    e3.sql(row[1])
    assert "cfmgo" in e3.sources
    with pytest.raises(QueryError, match="non-serializable|unknown"):
        e.sql("SHOW CREATE SOURCE cfmem")


def test_cassandra_upsert_keys_on_full_primary_key(spark, tmp_path):
    """Regression: UPSERT arrives with the engine's generic
    first-insert-column key fallback (['device']); the CQL mutator must
    override it with the FULL partition+clustering key, or the upsert
    would wipe every row sharing the partition column."""
    docs = [
        {"device": "d1", "day": 1, "val": 10},
        {"device": "d1", "day": 2, "val": 20},
    ]
    (tmp_path / "cassup.json").write_text(json.dumps(docs))
    meta = TableMeta(name="cassup", schema=None,
                     partition_keys=["device"], clustering_keys=["day"])
    e = Engine(spark)
    e.register_source(
        CassandraStyleSource("cassup", {"cassup": (f"file://{tmp_path}/cassup.json", meta)})
    )
    r = e.sql('UPSERT INTO cassup (device, day, val) VALUES ("d1", 3, 7)')
    assert r.affected == 1
    rows = sorted(_rows(e.sql("SELECT device, day, val FROM cassup")))
    assert rows == [("d1", 1, 10), ("d1", 2, 20), ("d1", 3, 7)]


def test_datastore_upsert_keys_on_entity_key_regardless_of_column_order(spark, tmp_path):
    """Regression: an UPSERT whose FIRST insert column is not the entity
    key must still replace on the declared entity key, not on that
    column's values."""
    from dataux_spark.sources.datastore_style import DatastoreStyleSource

    ents = [{"eid": "e1", "v": 10}, {"eid": "e2", "v": 10}]
    (tmp_path / "ek.json").write_text(json.dumps(ents))
    e = Engine(spark)
    e.register_source(
        DatastoreStyleSource(
            "dsek", {"dsek": f"file://{tmp_path}/ek.json"}, entity_keys={"dsek": "eid"}
        )
    )
    # v is the first insert column and collides with BOTH existing rows;
    # only eid='e9' may be considered for replacement
    r = e.sql('UPSERT INTO dsek (v, eid) VALUES (10, "e9")')
    assert r.affected == 1
    rows = sorted(_rows(e.sql("SELECT eid, v FROM dsek")))
    assert rows == [("e1", 10), ("e2", 10), ("e9", 10)]


def test_insert_select_reseeds_emptied_collection(spark, tmp_path):
    """Regression (review finding): INSERT..SELECT into an emptied doc
    collection must re-seed the schema from the select, not align to the
    zero-column target and write empty documents."""
    (tmp_path / "mt.json").write_text(json.dumps([{"id": 1, "v": "x"}]))
    e = Engine(spark)
    e.register_source(MongoStyleSource("mgomt", {"mgomt": f"file://{tmp_path}/mt.json"}))
    e.register_memory(
        "mtsrc", {"mtrows": spark.createDataFrame([(7, "z")], "id long, v string")}
    )
    assert e.sql("DELETE FROM mgomt WHERE id >= 0").affected == 1
    r = e.sql("INSERT INTO mgomt (id, v) SELECT id, v FROM mtrows")
    assert r.affected == 1
    assert _rows(e.sql("SELECT id, v FROM mgomt")) == [(7, "z")]


def test_doc_store_batch_cap_rejects_corpus_scale_insert(spark, tmp_path, monkeypatch):
    """INSERT..SELECT from a fact-scale frame through a doc-store mutator
    must fail with the documented cap error, never driver-collect the
    whole batch (doc-store mutations are request-scale by the reference's
    per-row Put contract, sql_to_cql.go:246-361). The batch streams
    through toLocalIterator and aborts mid-stream at the cap."""
    from dataux_spark.sources import base as src_base
    from dataux_spark.sources.base import DmlBatchTooLarge

    monkeypatch.setattr(src_base, "DML_BATCH_CAP", 50)
    (tmp_path / "cap.json").write_text(json.dumps([{"k": 0, "v": "seed"}]))
    e = Engine(spark)
    e.register_source(MongoStyleSource("mgocap", {"mgocap": f"file://{tmp_path}/cap.json"}))
    big = spark.range(0, 500).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    e.register_memory("capsrc", {"caprows": big})
    with pytest.raises((DmlBatchTooLarge, QueryError), match="request-scale"):
        e.sql("INSERT INTO mgocap (k, v) SELECT k, v FROM caprows")
    # the store is untouched by the failed statement's partial stream
    assert len(json.loads((tmp_path / "cap.json").read_text())) == 1
    # under-cap batches still stream through fine
    r = e.sql("INSERT INTO mgocap (k, v) SELECT k, v FROM caprows WHERE k < 10")
    assert r.affected == 10


def test_cql_within_batch_duplicate_keys_collapse_last_write_wins(spark, tmp_path):
    """An INSERT..SELECT whose result repeats a (partition, clustering)
    key must leave ONE row per key (CQL last-write-wins), not append
    duplicates that violate the no-duplicate-primary-key invariant."""
    (tmp_path / "cqldup.json").write_text(json.dumps([{"device": "d0", "day": 1, "val": 1}]))
    meta = TableMeta(name="cqldup", schema=None,
                     partition_keys=["device"], clustering_keys=["day"])
    e = Engine(spark)
    e.register_source(
        CassandraStyleSource("cassdup", {"cqldup": (f"file://{tmp_path}/cqldup.json", meta)})
    )
    dup = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 1, 20), ("d1", 2, 30)],
        "device string, day long, val long",
    ).coalesce(1)
    e.register_memory("dupsrc", {"duprows": dup})
    e.sql("INSERT INTO cqldup (device, day, val) SELECT device, day, val FROM duprows")
    rows = sorted(_rows(e.sql('SELECT device, day, val FROM cqldup WHERE device = "d1"')))
    # exactly one row per primary key; (d1,1) kept a single value from the batch
    assert [(d, day) for d, day, _ in rows] == [("d1", 1), ("d1", 2)]
    assert rows[0][2] in (10, 20) and rows[1][2] == 30
    on_disk = json.loads((tmp_path / "cqldup.json").read_text())
    keys = [(d["device"], d["day"]) for d in on_disk]
    assert len(keys) == len(set(keys))


def test_bigtable_put_affected_counts_distinct_rowkeys(spark, tmp_path):
    """A BT put batch with a repeated rowkey collapses last-write-wins;
    the affected count reports rows actually mutated (distinct rowkeys),
    not raw batch rows."""
    from dataux_spark.sources.bigtable_style import FamilyTableSource

    (tmp_path / "btdup.json").write_text(json.dumps(
        [{"rowkey": "u1", "profile:name": "Ann"}]
    ))
    src = FamilyTableSource("btdup", {"bt_phys": f"file://{tmp_path}/btdup.json"})
    e = Engine(spark)
    e.register_source(src)
    mut = src.mutator(spark, "profile")
    batch = spark.createDataFrame(
        [("u2", "Bo"), ("u2", "Cal"), ("u3", "Dee")], "rowkey string, name string"
    ).coalesce(1)
    assert mut.put(batch, None) == 2  # u2 collapsed, u3 new
    assert e.sql("SELECT count(*) AS ct FROM profile").collect()[0][0] == 3
