"""Mongo-style FILTERS_LIMIT pushdown through the Spark Python DataSource API.

The reference's Mongo backend accepts term/range/IN/BETWEEN/LIKE filters as
a native Find() query, errors unary NOT into the engine polyfill, pages at
a default limit of 20, and matches scalar predicates against array fields
by membership (/root/reference/backends/mongo/sql_to_mgo.go:25,395-664;
array membership mgo_test.go:654-670). Catalyst plays the engine half:
declined filters come back from pushFilters() and are planned as a residual
Filter node.
"""

import json

import pytest

from dataux_spark import Engine
from dataux_spark.sources.docstore import read_push_log
from dataux_spark.sources.mongo_style import MongoStyleSource
from dataux_spark.sources.rest import RestJsonSource

# the reference's golden article fixture (testutil/testsetup.go:36-57),
# as documents the way a Mongo collection would hold them
ARTICLES = [
    {"title": "article1", "author": "aaron", "count": 22, "deleted": False,
     "category": ["news", "sports"], "created": "2010-10-01"},
    {"title": "qarticle2", "author": "james", "count": 2, "deleted": True,
     "category": ["news", "sports"], "created": "2011-10-01"},
    {"title": "zarticle3", "author": "bjorn", "count": 55, "deleted": True,
     "category": ["politics"], "created": "2012-10-01"},
    {"title": "listicle1", "author": "bjorn", "count": 7, "deleted": True,
     "category": ["world"], "created": "2013-10-01"},
]

LOG_DIR = None


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    global LOG_DIR
    d = tmp_path_factory.mktemp("mongo")
    LOG_DIR = str(d)
    (d / "articles.json").write_text(json.dumps(ARTICLES))
    # 30-doc collection to exercise the default page size of 20
    (d / "big.json").write_text(
        json.dumps([{"n": i, "grp": i % 3} for i in range(30)])
    )
    e = Engine(spark)
    e.register_source(
        MongoStyleSource(
            "mgo",
            {"mgoarticle": f"file://{d}/articles.json",
             "mgobig": f"file://{d}/big.json"},
            push_log_dir=str(d),
        )
    )
    # scan-only twin of the same endpoint for polyfill equivalence
    e.register_source(
        RestJsonSource("mgotwin", {"mgotwinarticle": f"file://{d}/articles.json"})
    )
    return e


def _titles(rows):
    return sorted(r[0] for r in rows)


def test_term_range_pushed_no_residual(eng):
    out = eng.sql(
        "SELECT title FROM mgoarticle WHERE author = 'bjorn' AND count > 10"
    ).collect()
    assert _titles(out) == ["zarticle3"]
    log = read_push_log(LOG_DIR, "mgo.mgoarticle")
    pushed = " ".join(log["pushed"])
    assert "EqualTo" in pushed and "GreaterThan" in pushed
    assert log["residual"] == []


def test_like_contains_pushed_natively(eng):
    """LIKE '%...%' → $regex is NATIVE in the mongo walker
    (sql_to_mgo.go:520-530) — the differentiator vs the ES tier, where
    StringContains is declined into a residual."""
    out = eng.sql(
        "SELECT title FROM mgoarticle WHERE title LIKE '%article%' AND deleted = true"
    ).collect()
    assert _titles(out) == ["qarticle2", "zarticle3"]
    log = read_push_log(LOG_DIR, "mgo.mgoarticle")
    assert any("StringContains" in f for f in log["pushed"])
    assert not any("StringContains" in f for f in log["residual"])


def test_not_declined_to_residual(eng):
    """Unary NOT is 'not implemented' in the reference walker
    (sql_to_mgo.go:406-414) → engine polyfill; rows still correct."""
    out = eng.sql(
        "SELECT title FROM mgoarticle WHERE NOT (title LIKE 'q%') AND deleted = true"
    ).collect()
    assert _titles(out) == ["listicle1", "zarticle3"]
    log = read_push_log(LOG_DIR, "mgo.mgoarticle")
    assert any("Not" in f for f in log["residual"])


def test_between_pushed_as_range_pair(eng):
    """BETWEEN → $gte/$lte (sql_to_mgo.go:433-460): Catalyst decomposes it
    into a GreaterThanOrEqual + LessThanOrEqual pair, both accepted."""
    out = eng.sql(
        "SELECT title FROM mgoarticle WHERE count BETWEEN 5 AND 30"
    ).collect()
    assert _titles(out) == ["article1", "listicle1"]
    pushed = " ".join(read_push_log(LOG_DIR, "mgo.mgoarticle")["pushed"])
    assert "GreaterThanOrEqual" in pushed and "LessThanOrEqual" in pushed


def test_array_membership_in(eng):
    """category IN ("news") on an array field matches by MEMBERSHIP
    (mgo_test.go:654-670 expects 2 rows)."""
    out = eng.sql("SELECT title FROM mgoarticle WHERE category IN ('news')").collect()
    assert _titles(out) == ["article1", "qarticle2"]


def test_default_limit_20_final_vs_lifted_under_polyfill(eng):
    """Plain scans page at the mongo default of 20 (sql_to_mgo.go:25); a
    polyfill stage (aggregation) must lift the cap and see all 30 docs —
    the reference strips the source limit when it must re-group
    (sql_to_mgo.go:103-105)."""
    assert len(eng.sql("SELECT n FROM mgobig").collect()) == 20
    assert eng.sql("SELECT count(*) AS ct FROM mgobig").collect()[0][0] == 30
    assert len(eng.sql("SELECT n FROM mgobig LIMIT 25").collect()) == 25


def test_polyfill_equivalence_vs_scan_only(eng):
    cond = "WHERE deleted = true AND count <= 55 ORDER BY title"
    mgo = eng.sql(f"SELECT title, count FROM mgoarticle {cond}").collect()
    twin = eng.sql(f"SELECT title, count FROM mgotwinarticle {cond}").collect()
    assert [tuple(r) for r in mgo] == [tuple(r) for r in twin]
    assert len(mgo) == 3


def test_aggregate_polyfilled_over_pushed_scan(eng):
    """No agg pushdown at this tier ($group TODO, sql_to_mgo.go:319-356) —
    grouping runs engine-side over the filtered scan."""
    out = eng.sql(
        "SELECT author, count(*) AS ct FROM mgoarticle "
        "WHERE deleted = true GROUP BY author ORDER BY author"
    ).collect()
    assert [tuple(r) for r in out] == [("bjorn", 2), ("james", 1)]


def test_no_stale_pushed_filters_across_queries(eng):
    """Regression twin of test_es_pushdown's stale-filter test."""
    assert len(eng.sql("SELECT title FROM mgoarticle WHERE author = 'bjorn'").collect()) == 2
    assert len(eng.sql("SELECT title FROM mgoarticle").collect()) == 4


def test_count_star_pushed_as_query_count(eng):
    """count(*) is the ONE aggregate mongo pushes natively — query.Count()
    (mgo_results.go:112-119). Field aggs decline into the Spark polyfill."""
    import os

    marker = f"{LOG_DIR}/mgo.mgoarticle.agg.json"
    if os.path.exists(marker):
        os.remove(marker)
    out = eng.sql("SELECT count(*) AS ct FROM mgoarticle WHERE author = 'bjorn'").collect()
    assert out[0][0] == 2
    log = json.load(open(marker))
    assert log["count"] is True and log["filters"] == [["author", "=", "bjorn"]]
    os.remove(marker)
    # a field aggregate is NOT pushable at this tier → engine-side, no log
    out = eng.sql("SELECT sum(count) AS s FROM mgoarticle WHERE deleted = true").collect()
    assert out[0][0] == 64
    assert not os.path.exists(marker)


def test_partitioned_parallel_scan_equivalence(spark, tmp_path):
    """Config-declared key-range partitions → one Spark task per range,
    each range-filtered inside the source (sql_to_mgo.go:189-209,
    mgo_test.go:66-87). The §2.12 contract: partitioned == unpartitioned,
    with the declared parallelism visible to Spark."""
    import json as _json

    docs = [{"k": i, "v": f"d{i}"} for i in range(40)]
    p = tmp_path / "part.json"
    p.write_text(_json.dumps(docs))
    e = Engine(spark)
    e.register_source(
        MongoStyleSource("mgp", {"mgpflat": f"file://{p}"})
    )
    e.register_source(
        MongoStyleSource(
            "mgp2", {"mgppart": f"file://{p}"},
            partitions={"mgppart": ("k", [10, 20, 30])},
        )
    )
    part_df = e.sources["mgp2"].load(spark, "mgppart")
    assert part_df.rdd.getNumPartitions() == 4
    flat = {tuple(r) for r in e.sql("SELECT k, v FROM mgpflat LIMIT 40").collect()}
    part = {tuple(r) for r in e.sql("SELECT k, v FROM mgppart LIMIT 40").collect()}
    assert part == flat and len(part) == 40
    # pushed filters compose with the range partitions
    got = e.sql("SELECT k FROM mgppart WHERE v = 'd25'").collect()
    assert [r[0] for r in got] == [25]


def test_topk_pushed_as_sort_limit(eng):
    """ORDER BY + LIMIT pushes as Find().Sort().Limit()
    (sql_to_mgo.go:226-241): the source returns n ordered rows. Answer
    must equal the engine polyfill (scan-only twin)."""
    import os

    q = "SELECT title, count FROM {t} WHERE deleted = true ORDER BY count DESC LIMIT 2"
    pushed = eng.sql(q.format(t="mgoarticle")).collect()
    assert [tuple(r) for r in pushed] == [("zarticle3", 55), ("listicle1", 7)]
    log = json.load(open(f"{LOG_DIR}/mgo.mgoarticle.topk.json"))
    assert log["sort"] == [["count", True]] and log["limit"] == 2
    twin = eng.sql(q.format(t="mgotwinarticle")).collect()
    assert [tuple(r) for r in pushed] == [tuple(r) for r in twin]
    os.remove(f"{LOG_DIR}/mgo.mgoarticle.topk.json")
    # complex WHERE → whole top-k declined, polyfilled, still correct
    out = eng.sql(
        "SELECT title FROM mgoarticle WHERE deleted = true OR count > 20 "
        "ORDER BY title LIMIT 2"
    ).collect()
    assert [r[0] for r in out] == ["article1", "listicle1"]
    assert not os.path.exists(f"{LOG_DIR}/mgo.mgoarticle.topk.json")


def test_source_error_declines_to_polyfill(eng):
    """A source that raises during pushed execution must decline, not fail
    the query (the reference's error → polyfill contract): `count < '5'`
    crashes Python doc evaluation (int < str TypeError) but Spark casts
    the literal and answers it."""
    out = eng.sql("SELECT count(*) AS ct FROM mgoarticle WHERE count < '5'").collect()
    assert out[0][0] == 1  # only qarticle2 (count=2)


def test_insert_select_no_stale_filters_from_pushdown_source(eng, spark):
    """INSERT INTO ... SELECT reading a fresh_scan_per_query source right
    after a filtered query must NOT replay the cached pushed filters: the
    embedded SELECT routes through Engine._select (refresh + negotiation),
    not raw spark.sql(). Without that, this inserts 2 rows instead of 4."""
    empty = spark.createDataFrame([], "title string, author string")
    eng.register_memory("insmem", {"ins_tgt": empty})
    # prime the relation cache with a pushed filter on mgoarticle
    assert len(eng.sql("SELECT title FROM mgoarticle WHERE author = 'bjorn'").collect()) == 2
    r = eng.sql("INSERT INTO ins_tgt SELECT title, author FROM mgoarticle")
    assert r.affected == 4
    assert eng.sql("SELECT count(*) AS ct FROM ins_tgt").collect()[0][0] == 4


def test_binary_ne_pushed_as_dollar_ne(eng):
    """Binary != arrives as Not(EqualTo) and pushes as $ne (the reference's
    binary walker, sql_to_mgo.go:416-470) — only other unary NOT shapes
    decline. NOT IN likewise pushes as $nin."""
    out = eng.sql("SELECT title FROM mgoarticle WHERE author != 'bjorn'").collect()
    assert _titles(out) == ["article1", "qarticle2"]
    log = read_push_log(LOG_DIR, "mgo.mgoarticle")
    assert any("Not" in f and "EqualTo" in f for f in log["pushed"])
    assert not log["residual"]
    out = eng.sql(
        "SELECT title FROM mgoarticle WHERE author NOT IN ('bjorn', 'james')"
    ).collect()
    assert _titles(out) == ["article1"]
    log = read_push_log(LOG_DIR, "mgo.mgoarticle")
    assert any("Not" in f and "In" in f for f in log["pushed"])
    assert not log["residual"]
