"""Cassandra-style KEY_FILTERS pushdown: only partition/clustering-key
predicates reach the source; everything else — including ORDER BY on
non-clustering columns — is the engine's polyfill
(/root/reference/backends/cassandra/sql_to_cql.go:396-408,500-600).
"""

import json

import pytest

from dataux_spark import Engine
from dataux_spark.infer import TableMeta
from dataux_spark.sources.cassandra_style import CassandraStyleSource
from dataux_spark.sources.docstore import read_push_log
from dataux_spark.sources.rest import RestJsonSource

# event-log style table: PRIMARY KEY ((device), day, seq)
EVENTS = [
    {"device": "dev-a", "day": 1, "seq": 1, "kind": "boot", "temp": 20.5},
    {"device": "dev-a", "day": 1, "seq": 2, "kind": "read", "temp": 21.0},
    {"device": "dev-a", "day": 2, "seq": 1, "kind": "read", "temp": 19.5},
    {"device": "dev-b", "day": 1, "seq": 1, "kind": "boot", "temp": 30.0},
    {"device": "dev-b", "day": 2, "seq": 1, "kind": "halt", "temp": 31.0},
]

LOG_DIR = None


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    global LOG_DIR
    d = tmp_path_factory.mktemp("cass")
    LOG_DIR = str(d)
    (d / "events.json").write_text(json.dumps(EVENTS))
    meta = TableMeta(
        name="cassevents",
        schema=None,
        partition_keys=["device"],
        clustering_keys=["day", "seq"],
    )
    e = Engine(spark)
    e.register_source(
        CassandraStyleSource(
            "cass",
            {"cassevents": (f"file://{d}/events.json", meta)},
            push_log_dir=str(d),
        )
    )
    e.register_source(
        RestJsonSource("casstwin", {"casstwinevents": f"file://{d}/events.json"})
    )
    return e


def _log():
    return read_push_log(LOG_DIR, "cass.cassevents")


def test_key_equality_and_clustering_range_pushed(eng):
    out = eng.sql(
        "SELECT kind FROM cassevents WHERE device = 'dev-a' AND day >= 2"
    ).collect()
    assert sorted(r[0] for r in out) == ["read"]
    log = _log()
    pushed = " ".join(log["pushed"])
    assert "EqualTo" in pushed and "GreaterThanOrEqual" in pushed
    # Catalyst-inferred IsNotNull guards are declined (not CQL-expressible)
    assert all("IsNotNull" in f for f in log["residual"])


def test_non_key_predicate_polyfilled(eng):
    """A predicate on a non-key column cannot reach CQL
    (sql_to_cql.go:516-520 needsPolyFill) — it must come back as a
    residual and still filter correctly engine-side."""
    out = eng.sql(
        "SELECT day, seq FROM cassevents WHERE device = 'dev-a' AND kind = 'read'"
    ).collect()
    assert sorted(tuple(r) for r in out) == [(1, 2), (2, 1)]
    log = _log()
    assert any("EqualTo" in f and "device" in f for f in log["pushed"])
    assert any("kind" in f for f in log["residual"])


def test_range_on_string_key_declined(eng):
    """Ranges push only on NUMERIC key columns (sql_to_cql.go:552-556):
    device is a string partition key, so device > 'dev-a' is polyfilled."""
    out = eng.sql("SELECT kind FROM cassevents WHERE device > 'dev-a'").collect()
    assert sorted(r[0] for r in out) == ["boot", "halt"]
    log = _log()
    assert any("GreaterThan" in f and "device" in f for f in log["residual"])


def test_in_declined_even_on_key(eng):
    """IN is not pushed (sql_to_mgo-style $in is a mongo thing; cassandra's
    walker leaves TokenIN unimplemented, sql_to_cql.go:557-559)."""
    out = eng.sql(
        "SELECT kind FROM cassevents WHERE device IN ('dev-b', 'dev-zzz') AND day = 2"
    ).collect()
    assert [r[0] for r in out] == ["halt"]
    log = _log()
    assert any("In(" in f for f in log["residual"])
    assert any("day" in f and "EqualTo" in f for f in log["pushed"])


def test_order_by_negotiation(eng):
    """ORDER BY pushes only on clustering keys (sql_to_cql.go:570-600);
    a non-clustering order sets the polyfill flag. Results are identical
    either way — Spark's Sort is the polyfill."""
    src = eng.sources["cass"]
    assert src.can_push_order("cassevents", ["day", "seq"])
    assert not src.can_push_order("cassevents", ["temp"])
    assert not src.can_push_order("cassevents", ["device"])  # partition != clustering
    ordered = eng.sql(
        "SELECT day, seq FROM cassevents WHERE device = 'dev-a' ORDER BY day DESC, seq DESC"
    ).collect()
    assert [tuple(r) for r in ordered] == [(2, 1), (1, 2), (1, 1)]
    polyfilled = eng.sql(
        "SELECT temp FROM cassevents WHERE device = 'dev-a' ORDER BY temp"
    ).collect()
    assert [r[0] for r in polyfilled] == [19.5, 20.5, 21.0]


def test_polyfill_equivalence_vs_scan_only(eng):
    cond = "WHERE device = 'dev-a' AND day = 1 AND temp > 20.6 ORDER BY seq"
    cass = eng.sql(f"SELECT seq, kind FROM cassevents {cond}").collect()
    twin = eng.sql(f"SELECT seq, kind FROM casstwinevents {cond}").collect()
    assert [tuple(r) for r in cass] == [tuple(r) for r in twin]
    assert len(cass) == 1


def test_no_stale_pushed_filters_across_queries(eng):
    """Regression twin of test_es_pushdown's stale-filter test."""
    assert len(eng.sql("SELECT kind FROM cassevents WHERE device = 'dev-b'").collect()) == 2
    assert len(eng.sql("SELECT kind FROM cassevents").collect()) == 5


def test_topk_pushed_only_on_clustering_keys(eng):
    """CQL serves ORDER BY…LIMIT only on clustering keys with key-only
    predicates (sql_to_cql.go:500-600); a non-clustering order declines —
    the needsOrderByPolyFill path — and Spark sorts instead. Both answers
    correct."""
    import os

    pushed = eng.sql(
        "SELECT day, seq FROM cassevents WHERE device = 'dev-a' "
        "ORDER BY day DESC, seq DESC LIMIT 2"
    ).collect()
    assert [tuple(r) for r in pushed] == [(2, 1), (1, 2)]
    log = json.load(open(f"{LOG_DIR}/cass.cassevents.topk.json"))
    assert log["sort"] == [["day", True], ["seq", True]]
    os.remove(f"{LOG_DIR}/cass.cassevents.topk.json")
    polyfilled = eng.sql(
        "SELECT kind, temp FROM cassevents WHERE device = 'dev-a' "
        "ORDER BY temp LIMIT 2"
    ).collect()
    assert [tuple(r) for r in polyfilled] == [("read", 19.5), ("boot", 20.5)]
    assert not os.path.exists(f"{LOG_DIR}/cass.cassevents.topk.json")
    # non-key predicate also declines the native top-k
    out = eng.sql(
        "SELECT seq FROM cassevents WHERE kind = 'read' ORDER BY day LIMIT 5"
    ).collect()
    assert len(out) == 2
    assert not os.path.exists(f"{LOG_DIR}/cass.cassevents.topk.json")


def test_topk_range_gate_uses_column_type_not_literal(spark, tmp_path):
    """A NUMERIC literal ranged against a STRING key column must decline
    the top-k push — the reference's numeric-key rule is about the COLUMN
    (sql_to_cql.go:552-556), not the literal. Polyfill still answers."""
    import os

    # sensor ids are STRINGS that happen to look numeric — the gate must
    # consult the discovered column type, not the literal's Python type
    rows = [
        {"sensor": "099", "day": 1, "val": 10},
        {"sensor": "101", "day": 2, "val": 20},
        {"sensor": "205", "day": 3, "val": 30},
    ]
    (tmp_path / "sensors.json").write_text(json.dumps(rows))
    meta = TableMeta(name="casssensors", schema=None,
                     partition_keys=["sensor"], clustering_keys=["day"])
    e = Engine(spark)
    e.register_source(CassandraStyleSource(
        "cass2", {"casssensors": (f"file://{tmp_path}/sensors.json", meta)},
        push_log_dir=str(tmp_path)))
    marker = f"{tmp_path}/cass2.casssensors.topk.json"
    out = e.sql(
        "SELECT val FROM casssensors WHERE sensor >= 100 ORDER BY day LIMIT 2"
    ).collect()
    assert [r[0] for r in out] == [20, 30]
    assert not os.path.exists(marker)  # declined: string key column
    # a numeric KEY column still pushes ranges
    out = e.sql(
        "SELECT val FROM casssensors WHERE sensor = '101' AND day >= 1 "
        "ORDER BY day LIMIT 2"
    ).collect()
    assert [r[0] for r in out] == [20]
    assert os.path.exists(marker)
