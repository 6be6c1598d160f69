"""ES-style filter pushdown through the Spark Python DataSource API.

The reference's ES backend accepts term/range/terms/exists/prefix filters
natively and flags the rest needsWherePolyFill
(/root/reference/backends/elasticsearch/sqltoes.go:403-586). Here Catalyst
plays the engine half: pushFilters() keeps the ES subset, returns residuals,
and Catalyst plans the residual Filter node — so the polyfill contract is
exercised by the real optimizer, not a shim.
"""

import json

import pytest

from dataux_spark import Engine
from dataux_spark.sources.docstore import read_push_log
from dataux_spark.sources.es_style import EsStyleRestSource
from dataux_spark.sources.rest import RestJsonSource

PODS = [
    {"metadata": {"name": "web-1", "namespace": "prod"},
     "status": {"phase": "Running", "restarts": 0}},
    {"metadata": {"name": "web-2", "namespace": "prod"},
     "status": {"phase": "Pending", "restarts": 3}},
    {"metadata": {"name": "job-1", "namespace": "batch"},
     "status": {"phase": "Running", "restarts": 1}},
    {"metadata": {"name": "job-2", "namespace": "batch"},
     "status": {"phase": "Running"}},  # restarts missing → NULL
]


LOG_DIR = None


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    global LOG_DIR
    d = tmp_path_factory.mktemp("es")
    LOG_DIR = str(d)
    (d / "pods.json").write_text(json.dumps(PODS))
    e = Engine(spark)
    e.register_source(
        EsStyleRestSource(
            "es", {"espods": f"file://{d}/pods.json"}, push_log_dir=str(d)
        )
    )
    # scan-only twin of the same endpoint for polyfill equivalence
    e.register_source(
        RestJsonSource("kubetwin", {"twinpods": f"file://{d}/pods.json"})
    )
    return e


def _names(rows):
    return sorted(r[0] for r in rows)


def test_es_subset_pushed_no_residual(eng):
    out = eng.sql(
        "SELECT `metadata.name` FROM espods "
        "WHERE `status.phase` = 'Running' AND `status.restarts` > 0"
    ).collect()
    assert _names(out) == ["job-1"]
    log = read_push_log(LOG_DIR, "es.espods")
    pushed = " ".join(log["pushed"])
    # term + range (plus any IsNotNulls Catalyst infers from them)
    assert "EqualTo" in pushed and "GreaterThan" in pushed
    assert log["residual"] == []


def test_unsupported_filter_becomes_residual(eng):
    # contains() → StringContains: not in the ES walker subset → declined,
    # Catalyst applies it as a residual Filter (the polyfill) — rows still
    # correct.
    out = eng.sql(
        "SELECT `metadata.name` FROM espods "
        "WHERE `status.phase` = 'Running' AND contains(`metadata.name`, 'ob')"
    ).collect()
    assert _names(out) == ["job-1", "job-2"]
    log = read_push_log(LOG_DIR, "es.espods")
    assert any("EqualTo" in f for f in log["pushed"])
    assert any("StringContains" in f for f in log["residual"])


def test_prefix_in_exists_pushed(eng):
    out = eng.sql(
        "SELECT `metadata.name` FROM espods "
        "WHERE hasprefix(`metadata.name`, 'web') "
        "AND `metadata.namespace` IN ('prod', 'dev') "
        "AND exists(`status.restarts`)"
    ).collect()
    assert _names(out) == ["web-1", "web-2"]
    pushed = " ".join(read_push_log(LOG_DIR, "es.espods")["pushed"])
    assert "In(" in pushed and "IsNotNull" in pushed
    # r9: hasprefix rewrites to native startswith (dialect.py), so the
    # prefix test is now OFFERED to the prefix-capable ES tier as
    # StringStartsWith instead of being pinned engine-side by a UDF
    assert "StringStartsWith" in pushed


def test_null_semantics_match_sql(eng):
    # job-2 has no restarts: `> 0` must not match NULL (three-valued eval
    # inside the "remote" read matches SQL), missing() must match it.
    gt = eng.sql(
        "SELECT `metadata.name` FROM espods WHERE `status.restarts` >= 0"
    ).collect()
    assert _names(gt) == ["job-1", "web-1", "web-2"]
    miss = eng.sql(
        "SELECT `metadata.name` FROM espods WHERE missing(`status.restarts`)"
    ).collect()
    assert _names(miss) == ["job-2"]


def test_polyfill_equivalence_vs_scan_only(eng):
    # The federation correctness property: identical rows whether the
    # source executed the filters natively (es tier) or the engine
    # recomputed everything (scan-only twin).
    cond = (
        "WHERE `status.phase` = 'Running' AND `status.restarts` <= 1 "
        "ORDER BY `metadata.name`"
    )
    es = eng.sql(f"SELECT `metadata.name` AS n FROM espods {cond}").collect()
    twin = eng.sql(f"SELECT `metadata.name` AS n FROM twinpods {cond}").collect()
    assert [tuple(r) for r in es] == [tuple(r) for r in twin]
    assert len(es) == 2


def test_cross_source_join_es_with_parquet(eng, sf_dir):
    """Federation flagship: ES-tier scan (filters pushed into the source)
    joined against a parquet source — each side keeps its own pushdown
    path, the join itself is the engine's (Catalyst's) polyfill."""
    from dataux_spark.sources import ParquetDirSource

    eng.register_source(ParquetDirSource("tpch_es_x", sf_dir))
    out = eng.sql(
        "SELECT p.`metadata.name` AS pod, n.n_name AS nation "
        "FROM espods p JOIN nation n ON p.`status.restarts` = n.n_nationkey "
        "WHERE p.`status.phase` = 'Running' ORDER BY pod"
    ).collect()
    # running pods with restarts 0 and 1 → nations 0 and 1
    assert [tuple(r) for r in out][:1] and len(out) == 2
    pushed = " ".join(read_push_log(LOG_DIR, "es.espods")["pushed"])
    assert "EqualTo" in pushed  # phase filter still reached the ES side


def test_aggregate_polyfilled_over_pushed_scan(eng):
    out = eng.sql(
        "SELECT `metadata.namespace` AS ns, count(*) AS ct FROM espods "
        "WHERE `status.phase` = 'Running' GROUP BY `metadata.namespace` "
        "ORDER BY ns"
    ).collect()
    assert [tuple(r) for r in out] == [("batch", 2), ("prod", 1)]


# ---------------------------------------------- aggregate pushdown (ES tier)

def test_agg_pushed_into_source(eng):
    """Whole-agg translation (sqltoes.go:285-365): simple aggregates over a
    pushable WHERE execute inside the source; the engine receives the tiny
    agg result, not rows. The agg log records what the source executed."""
    out = eng.sql(
        "SELECT count(*) AS ct, min(`status.restarts`) AS mn, "
        "max(`status.restarts`) AS mx, avg(`status.restarts`) AS av "
        "FROM espods WHERE `status.phase` = 'Running'"
    ).collect()
    assert [tuple(r) for r in out] == [(3, 0, 1, 0.5)]
    log = json.load(open(f"{LOG_DIR}/es.espods.agg.json"))
    assert ["count", "*"] in log["aggs"] and ["avg", "status.restarts"] in log["aggs"]
    assert log["filters"] == [["status.phase", "=", "Running"]]


def test_agg_grouped_pushed_as_terms_buckets(eng):
    """GROUP BY → nested terms buckets (sqltoes.go:334-365)."""
    out = eng.sql(
        "SELECT `metadata.namespace` AS ns, count(*) AS ct, "
        "sum(`status.restarts`) AS rs FROM espods GROUP BY `metadata.namespace`"
    ).collect()
    assert sorted(tuple(r) for r in out) == [("batch", 2, 1), ("prod", 2, 3)]
    assert json.load(open(f"{LOG_DIR}/es.espods.agg.json"))["group_by"] == ["metadata.namespace"]


def test_agg_pushed_equals_polyfill(eng):
    """The federation equivalence contract for aggs: identical answers from
    the pushed path (es tier) and the engine-computed path (scan-only twin,
    where execute_agg is never offered)."""
    q = ("SELECT count(*) AS ct, avg(`status.restarts`) AS av, "
         "min(`metadata.name`) AS mn FROM {t} WHERE `status.restarts` >= 0")
    pushed = eng.sql(q.format(t="espods")).collect()
    polyfilled = eng.sql(q.format(t="twinpods")).collect()
    assert [tuple(r) for r in pushed] == [tuple(r) for r in polyfilled]


def test_agg_declined_on_complex_where(eng):
    """whole-translation-or-polyfill: an OR in the WHERE declines the agg
    pushdown entirely — Spark computes it; answer still correct."""
    import os

    marker = f"{LOG_DIR}/es.espods.agg.json"
    if os.path.exists(marker):
        os.remove(marker)
    out = eng.sql(
        "SELECT count(*) AS ct FROM espods "
        "WHERE `status.phase` = 'Pending' OR `status.restarts` = 1"
    ).collect()
    assert out[0][0] == 2
    assert not os.path.exists(marker)  # source never saw the agg


def test_terms_pushed_into_source(eng):
    """SELECT terms(f, k) executes as the source's terms agg
    (sqltoes.go:612-634) — same (key, count) shape and ordering as the
    engine polyfill."""
    pushed = eng.sql("SELECT terms(`status.phase`, 2) FROM espods").collect()
    assert [tuple(r) for r in pushed] == [("Running", 3), ("Pending", 1)]
    log = json.load(open(f"{LOG_DIR}/es.espods.agg.json"))
    assert log["terms"] == ["status.phase", 2]


def test_no_stale_pushed_filters_across_queries(eng):
    """Regression: the reader object lives across queries and pushFilters()
    only runs when a query HAS candidate filters. A filterless (or
    residual-only, e.g. top-level OR) scan right after a filtered one must
    see ALL rows, not the previous query's pushed subset."""
    assert len(eng.sql("SELECT `metadata.name` FROM espods "
                       "WHERE `status.phase` = 'Pending'").collect()) == 1
    assert len(eng.sql("SELECT `metadata.name` FROM espods").collect()) == 4
    out = eng.sql(
        "SELECT `metadata.name` FROM espods "
        "WHERE `status.phase` = 'Pending' OR `status.restarts` = 1"
    ).collect()
    assert _names(out) == ["job-1", "web-2"]


def test_agg_multi_column_group_by_pushed(eng):
    """Multi-column GROUP BY → nested terms buckets, one level per column
    (sqltoes.go:334-365). Pushed answer equals the polyfill."""
    q = ("SELECT `metadata.namespace` AS ns, `status.phase` AS ph, "
         "count(*) AS ct FROM {t} GROUP BY `metadata.namespace`, `status.phase`")
    pushed = sorted(tuple(r) for r in eng.sql(q.format(t="espods")).collect())
    assert pushed == [("batch", "Running", 2), ("prod", "Pending", 1), ("prod", "Running", 1)]
    assert json.load(open(f"{LOG_DIR}/es.espods.agg.json"))["group_by"] == [
        "metadata.namespace", "status.phase"]
    twin = sorted(tuple(r) for r in eng.sql(q.format(t="twinpods")).collect())
    assert pushed == twin


def test_topk_pushed_with_null_ordering(eng):
    """Sort+size inside `_search` (sqltoes.go:170-186). job-2 has no
    restarts: pushed ordering must match Spark's null placement (ASC →
    nulls first, DESC → nulls last) so the answer equals the polyfill."""
    q = "SELECT `metadata.name`, `status.restarts` FROM {t} ORDER BY `status.restarts` LIMIT 4"
    pushed = [tuple(r) for r in eng.sql(q.format(t="espods")).collect()]
    twin = [tuple(r) for r in eng.sql(q.format(t="twinpods")).collect()]
    assert pushed[0][0] == "job-2" and pushed[0][1] is None
    assert pushed == twin
    qd = "SELECT `metadata.name` FROM {t} ORDER BY `status.restarts` DESC LIMIT 4"
    pd_ = [r[0] for r in eng.sql(qd.format(t="espods")).collect()]
    td = [r[0] for r in eng.sql(qd.format(t="twinpods")).collect()]
    assert pd_ == td and pd_[-1] == "job-2"


def test_unaliased_pushed_agg_named_like_catalyst(eng):
    """Unaliased count(*) must surface as count(1) — Catalyst's default
    output name — so the schema is identical whether the source accepted
    the whole-agg pushdown or the Spark polyfill computed it."""
    import os

    marker = f"{LOG_DIR}/es.espods.agg.json"
    if os.path.exists(marker):
        os.remove(marker)
    pushed = eng.sql("SELECT count(*) FROM espods")
    twin = eng.sql("SELECT count(*) FROM twinpods")
    assert os.path.exists(marker)  # the pushed path actually ran
    assert pushed.columns == twin.columns == ["count(1)"]
    assert pushed.collect()[0][0] == twin.collect()[0][0]


def test_topk_log_does_not_clobber_agg_log(eng):
    """ES top-k pushes log to .topk.json like the other tiers; a top-k
    query after an agg query must leave the agg log entry intact."""
    import os

    eng.sql("SELECT count(*) AS ct FROM espods").collect()
    assert os.path.exists(f"{LOG_DIR}/es.espods.agg.json")
    agg_before = json.load(open(f"{LOG_DIR}/es.espods.agg.json"))
    eng.sql("SELECT `metadata.name` FROM espods ORDER BY `status.restarts` LIMIT 2").collect()
    assert json.load(open(f"{LOG_DIR}/es.espods.agg.json")) == agg_before
    assert json.load(open(f"{LOG_DIR}/es.espods.topk.json"))["limit"] == 2
