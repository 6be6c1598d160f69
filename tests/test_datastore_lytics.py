"""Datastore single-inequality-property negotiation and Lytics SegmentQL
generation (/root/reference/backends/datastore/sql_to_datastore.go:440-478,
backends/lytics/generator.go:62-111).
"""

import json

import pytest

from dataux_spark import Engine
from dataux_spark.sources.datastore_style import DatastoreStyleSource
from dataux_spark.sources.docstore import read_push_log
from dataux_spark.sources.lytics_style import LyticsStyleSource, segmentql
from dataux_spark.sources.rest import RestJsonSource

ENTITIES = [
    {"name": "e1", "score": 10, "visits": 1, "city": "pdx"},
    {"name": "e2", "score": 20, "visits": 5, "city": "pdx"},
    {"name": "e3", "score": 30, "visits": 9, "city": "nyc"},
    {"name": "e4", "score": 40, "visits": 2, "city": "sfo"},
]

# sparse entities (NULLs and missing properties) for the scan-only twin
SPARSE = [
    {"name": "s1", "score": 10, "visits": 1, "city": "pdx"},
    {"name": "s2", "score": None, "visits": 5, "city": "pdx"},
    {"name": "s3", "score": 30, "visits": None, "city": None},
    {"name": "s4", "score": 40, "visits": 2},
    {"name": "s5", "score": 25, "visits": 7, "city": "nyc"},
    {"name": "t6", "score": 25, "visits": 3, "city": "sfo"},
]

LOG_DIR = None


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    global LOG_DIR
    d = tmp_path_factory.mktemp("dsly")
    LOG_DIR = str(d)
    (d / "ents.json").write_text(json.dumps(ENTITIES))
    (d / "sparse.json").write_text(json.dumps(SPARSE))
    e = Engine(spark)
    e.register_source(
        DatastoreStyleSource(
            "ds",
            {"dsents": f"file://{d}/ents.json", "dssparse": f"file://{d}/sparse.json"},
            push_log_dir=str(d),
        )
    )
    e.register_source(
        LyticsStyleSource(
            "ly",
            {"lyents": f"file://{d}/ents.json", "lysparse": f"file://{d}/sparse.json"},
            push_log_dir=str(d),
        )
    )
    # scan-only twin of the sparse endpoint for polyfill equivalence
    e.register_source(RestJsonSource("dlytwin", {"twinsparse": f"file://{d}/sparse.json"}))
    return e


def test_datastore_single_inequality_property(eng):
    """The Datastore planner rule: inequality filters on only ONE property
    (sql_to_datastore.go:467 'datastore only allows 1'). The second
    property's range must come back as a residual — and the answer is
    still right because Catalyst re-applies it."""
    out = eng.sql(
        "SELECT name FROM dsents WHERE score > 15 AND visits < 6 AND city = 'pdx'"
    ).collect()
    assert [r[0] for r in out] == ["e2"]
    log = read_push_log(LOG_DIR, "ds.dsents")
    pushed = " ".join(log["pushed"])
    residual = " ".join(log["residual"])
    assert "EqualTo" in pushed  # city = 'pdx'
    # exactly one inequality property pushed, the other polyfilled
    assert ("score" in pushed) != ("score" in residual and "visits" in pushed)
    assert ("GreaterThan" in pushed) or ("LessThan" in pushed)
    assert ("GreaterThan" in residual) or ("LessThan" in residual)


def test_datastore_in_declined(eng):
    out = eng.sql(
        "SELECT name FROM dsents WHERE city IN ('pdx', 'nyc') AND score >= 20"
    ).collect()
    assert sorted(r[0] for r in out) == ["e2", "e3"]
    log = read_push_log(LOG_DIR, "ds.dsents")
    assert any("In(" in f for f in log["residual"])


def test_lytics_segmentql_generated(eng):
    """The pushed conjunction is rendered as the SegmentQL FilterStatement
    the reference ships to the entity-scan API (generator.go:100-107)."""
    out = eng.sql(
        "SELECT name FROM lyents WHERE city = 'pdx' AND score > 5"
    ).collect()
    assert sorted(r[0] for r in out) == ["e1", "e2"]
    log = read_push_log(LOG_DIR, "ly.lyents")
    sq = log["segmentql"]
    assert sq.startswith("FILTER AND (") and sq.endswith("FROM lyents")
    assert 'city == "pdx"' in sq and "score > 5" in sq


def test_lytics_filter_star_when_no_where(eng):
    assert len(eng.sql("SELECT name FROM lyents").collect()) == 4
    # FILTER * fallback is the generator's no-WHERE form
    assert segmentql("lyents", []) == "FILTER * FROM lyents"


def test_lytics_exists_and_like(eng):
    out = eng.sql(
        "SELECT name FROM lyents WHERE exists(city) AND name LIKE 'e%' AND visits <= 2"
    ).collect()
    assert sorted(r[0] for r in out) == ["e1", "e4"]
    sq = read_push_log(LOG_DIR, "ly.lyents")["segmentql"]
    assert "EXISTS city" in sq or 'name LIKE "e%"' in sq


def test_datastore_topk_sort_composition_rule(eng):
    """`.Order()` pushes, but with an inequality filter the FIRST sort
    property must be that property (the native planner rule) — otherwise
    the whole top-k declines into Spark's polyfill."""
    import os

    marker = f"{LOG_DIR}/ds.dsents.topk.json"
    if os.path.exists(marker):
        os.remove(marker)
    ok = eng.sql(
        "SELECT name, score FROM dsents WHERE score > 15 ORDER BY score DESC LIMIT 2"
    ).collect()
    assert [tuple(r) for r in ok] == [("e4", 40), ("e3", 30)]
    assert json.load(open(marker))["sort"] == [["score", True]]
    os.remove(marker)
    # inequality on score but sorted by name first → declined, still right
    bad = eng.sql(
        "SELECT name FROM dsents WHERE score > 15 ORDER BY name LIMIT 2"
    ).collect()
    assert [r[0] for r in bad] == ["e2", "e3"]
    assert not os.path.exists(marker)
    # equality-only filters compose with any sort
    eq = eng.sql(
        "SELECT name FROM dsents WHERE city = 'pdx' ORDER BY visits DESC LIMIT 1"
    ).collect()
    assert [r[0] for r in eq] == ["e2"]
    assert json.load(open(marker))["sort"] == [["visits", True]]


@pytest.mark.parametrize("table", ["dsents", "lyents"])
def test_no_stale_pushed_filters_across_queries(eng, table):
    """Regression twin of test_es_pushdown's stale-filter test."""
    assert len(eng.sql(f"SELECT name FROM {table} WHERE city = 'pdx'").collect()) == 2
    assert len(eng.sql(f"SELECT name FROM {table}").collect()) == 4


# accepted and declined predicates mixed: NULL checks and NULL-valued
# properties, a second inequality property, NOT, LIKE, IN
TWIN_WHERES = [
    "score > 15",
    "score > 15 AND visits < 6",
    "visits <= 5 AND score >= 10 AND city = 'pdx'",
    "city IS NULL",
    "city IS NOT NULL AND score >= 25",
    "NOT (city = 'pdx')",
    "city != 'pdx' AND visits > 2",
    "NOT (score < 30) AND visits IS NULL",
    "name LIKE 's%' AND score < 35",
    "name LIKE '%5' OR city LIKE '%d%'",
    "city LIKE '%f%' AND NOT (visits > 2)",
    "score IN (10, 25) AND visits > 1",
]


@pytest.mark.parametrize("table", ["dssparse", "lysparse"])
@pytest.mark.parametrize("where", TWIN_WHERES)
def test_pushed_equals_scan_only_twin(eng, table, where):
    """Whatever the source accepts, pushed + residual must answer exactly
    like the scan-only twin that filters everything engine-side."""
    got = eng.sql(f"SELECT name FROM {table} WHERE {where}").collect()
    want = eng.sql(f"SELECT name FROM twinsparse WHERE {where}").collect()
    assert sorted(r[0] for r in got) == sorted(r[0] for r in want)


@pytest.mark.parametrize("table", ["dssparse", "lysparse"])
@pytest.mark.parametrize("tail", [
    "WHERE score > 15 ORDER BY score DESC, name LIMIT 2",
    "WHERE city = 'pdx' ORDER BY visits LIMIT 1",
    "ORDER BY score, name LIMIT 3",
])
def test_topk_equals_scan_only_twin(eng, table, tail):
    """A pushed top-k (or its decline) orders NULLs exactly like Spark."""
    got = eng.sql(f"SELECT name, score FROM {table} {tail}").collect()
    want = eng.sql(f"SELECT name, score FROM twinsparse {tail}").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
