"""The query grammar is decided at parse time: which clauses each
statement takes (``parser.CLAUSES``) and which filter keys it accepts.
These run ``parse_query`` alone, with no Engine and no Spark session."""

import pytest

from stdb_spark.query.parser import CLAUSES, QueryParseError, parse_query

R = {"from": 0, "to": 10**9}

# one well-formed query per statement, holding no optional clause
BASE = {
    "select": {"select": "cpu", "range": R},
    "select meta:names": {"select": "meta:names"},
    "select-events": {"select-events": "!log", "range": R},
    "aggregate": {"aggregate": {"cpu": "max"}},
    "join": {"join": ["cpu", "mem"], "range": R},
    "group-aggregate": {
        "group-aggregate": {"metric": "cpu", "func": "max", "step": "1s"},
        "range": R,
    },
    "group-aggregate-join": {
        "group-aggregate-join": {"metric": ["cpu", "mem"], "func": "max", "step": "1s"},
        "range": R,
    },
}

# a well-formed value of each clause
VALUE = {
    "output": {"format": "csv"},
    "where": {"host": ["a", "b"]},
    "range": R,
    "group-by": "host",
    "group-by-tag": ["host"],
    "pivot-by-tag": ["host"],
    "order-by": "series",
    "limit": 5,
    "offset": 1,
    "filter": {"cpu": {"gt": 1.0}},
    "apply": [{"name": "scale", "weight": 2}],
    "eval": {"expr": "cpu * 2"},
}
ALL_CLAUSES = sorted(VALUE)


def _with(stmt, clause):
    q = dict(BASE[stmt])
    q[clause] = "err.*" if (stmt, clause) == ("select-events", "filter") else VALUE[clause]
    return q


def test_tables_cover_every_clause():
    assert set().union(*CLAUSES.values()) == set(VALUE)
    assert set(BASE) == set(CLAUSES)


@pytest.mark.parametrize(
    "stmt,clause",
    [(s, c) for s in CLAUSES for c in ALL_CLAUSES if c not in CLAUSES[s]],
)
def test_clause_a_statement_does_not_run_is_rejected(stmt, clause):
    with pytest.raises(QueryParseError) as err:
        parse_query(_with(stmt, clause))
    assert f"`{clause}`" in str(err.value) and f"`{stmt}`" in str(err.value)


@pytest.mark.parametrize("stmt,clause", [(s, c) for s in CLAUSES for c in sorted(CLAUSES[s])])
def test_clause_a_statement_runs_parses(stmt, clause):
    parse_query(_with(stmt, clause))


def _ga(func, key):
    return {
        "group-aggregate": {"metric": "cpu", "func": func, "step": "1s"},
        "range": R,
        "filter": {key: {"gt": 1.0}},
    }


@pytest.mark.parametrize(
    "query,error",
    [
        # select, join, group-aggregate-join: the selected metrics
        ({"select": "cpu", "range": R, "filter": {"mem": {"gt": 1}}}, "matches no selected metric"),
        ({**BASE["join"], "filter": {"disk": {"gt": 1}}}, "matches no selected metric"),
        ({**BASE["join"], "filter": {"max": {"gt": 1}}}, "matches no selected metric"),
        ({**BASE["group-aggregate-join"], "filter": {"disk": {"gt": 1}}}, "matches no selected metric"),
        # group-aggregate: a requested func, `cnt` with `count`, a metric with one func
        (_ga("max", "min"), "matches no output column"),
        (_ga(["max", "min"], "cnt"), "matches no output column"),
        (_ga(["max", "min"], "cpu"), "matches no output column"),
        (_ga("max", "mem"), "matches no output column"),
    ],
)
def test_filter_key_rules_reject(query, error):
    with pytest.raises(QueryParseError, match=error):
        parse_query(query)


@pytest.mark.parametrize(
    "query",
    [
        {"select": "cpu", "range": R, "filter": {"cpu": {"gt": 1}}},
        {"select": "cpu", "range": R, "filter": {"gt": 1}},
        {**BASE["join"], "filter": {"mem": {"gt": 1}, "=": {"require": "any"}}},
        {**BASE["group-aggregate-join"], "filter": {"cpu": {"lt": 1}}},
        _ga(["max", "min"], "min"),
        _ga(["max", "count"], "count"),
        _ga(["max", "cnt"], "cnt"),
        _ga("max", "cpu"),
        _ga("max", "max"),
    ],
)
def test_filter_key_rules_accept(query):
    assert parse_query(query).filters


def test_statement_sets_only_its_own_fields():
    meta = parse_query({"select": "meta:names:cpu", "where": {"host": "a"}, "limit": 2})
    assert (meta.metrics, meta.limit, meta.begin, meta.apply) == (["cpu"], 2, None, [])
    ev = parse_query({**BASE["select-events"], "filter": "err.*"})
    assert (ev.event_regex, ev.filters) == ("err.*", {})
    agg = parse_query({"aggregate": {"cpu": ["cnt", "max"]}})
    assert (agg.metrics, agg.agg_funcs, agg.begin) == (["cpu", "cpu"], ["count", "max"], None)
