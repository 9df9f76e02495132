"""JSON query language -> typed ``QueryRequest`` (the logical IR).

Mirrors the reference's QueryParser semantics (stdb/query/queryparser.cc):
query kind from the unique statement field (get_query_kind :887-918),
field uniqueness validation (validate_query :920-971), range
(:629-681), where (:683-740), order-by (:556-576), group-by-tag /
pivot-by-tag (:578-611), limit/offset (:613-627 — the reference assigns
the offset value to limit, a bug we deliberately FIX), value filter
(:748-858), apply pipeline (:2046-2080).  One table (``CLAUSES``) says
which clauses each statement runs, and the parser alone checks clauses
and filter keys, before the Engine builds anything.

The binding step (where -> series ids) happens in the compiler against
the series registry DataFrame instead of an inverted index.
"""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass, field
from typing import Any

from stdb_spark.common.timeutil import parse_duration_ns, parse_timestamp_ns


class QueryParseError(ValueError):
    pass


class QueryKind(enum.Enum):
    SELECT = "select"
    SELECT_META = "select_meta"
    SELECT_EVENTS = "select_events"
    AGGREGATE = "aggregate"
    JOIN = "join"
    GROUP_AGGREGATE = "group_aggregate"
    GROUP_AGGREGATE_JOIN = "group_aggregate_join"


UNIQUE_STMTS = (
    "select",
    "aggregate",
    "join",
    "group-aggregate",
    "group-aggregate-join",
    "select-events",
)

# The clauses each statement's Engine template runs.  ``parse_query``
# rejects any other clause instead of parsing and ignoring it; ``output``,
# a wire-format option with no DataFrame meaning, is accepted everywhere.
_SCAN = {
    "output", "where", "range", "group-by", "group-by-tag", "pivot-by-tag",
    "order-by", "limit", "offset",
}
_VALUES = _SCAN | {"filter", "apply", "eval"}
CLAUSES = {
    "select": _VALUES,
    "select meta:names": {"output", "where", "limit", "offset"},
    "select-events": _SCAN | {"filter"},  # `filter` is a regex over bodies
    "aggregate": _SCAN - {"order-by"},  # output is always series-ordered
    "join": _VALUES,
    "group-aggregate": _VALUES,
    "group-aggregate-join": _VALUES,
}

AGG_FUNCS = (
    "min",
    "max",
    "sum",
    "count",
    "cnt",
    "mean",
    "first",
    "last",
    "min_timestamp",
    "max_timestamp",
    "first_timestamp",
    "last_timestamp",
    # extensions beyond the reference's 11 (SURVEY §2.4): Spark-free
    "distinct_count",
    "median",
    "p90",
    "p95",
    "p99",
)


@dataclass
class ValueFilter:
    """Threshold predicate: any of gt/ge/lt/le (ValueFilter::match,
    stdb/storage/operators/operator.h:147-194)."""

    gt: float | None = None
    ge: float | None = None
    lt: float | None = None
    le: float | None = None

    @classmethod
    def from_obj(cls, obj: dict) -> "ValueFilter":
        out = cls()
        for k in ("gt", "ge", "lt", "le"):
            if k in obj:
                try:
                    setattr(out, k, float(obj[k]))
                except (TypeError, ValueError):
                    raise QueryParseError(f"bad filter threshold {obj[k]!r}")
        if all(getattr(out, k) is None for k in ("gt", "ge", "lt", "le")):
            raise QueryParseError(f"filter clause has no thresholds: {obj!r}")
        return out


@dataclass
class WhereClause:
    """Either a tag->values map (AND across tags, OR within the value
    list) or an explicit list of tag-combination dicts (OR of ANDs)."""

    tag_values: dict[str, list[str]] = field(default_factory=dict)
    series_combos: list[dict[str, str]] = field(default_factory=list)


@dataclass
class QueryRequest:
    kind: QueryKind
    metrics: list[str] = field(default_factory=list)  # select/join metric order
    # aggregate: per-metric function list (parallel to metrics)
    agg_funcs: list[str] = field(default_factory=list)
    # group-aggregate
    step_ns: int | None = None
    begin: int | None = None
    end: int | None = None
    where: WhereClause | None = None
    filters: dict[str, ValueFilter] = field(default_factory=dict)
    filter_rule: str = "all"  # all | any
    group_tags: list[str] = field(default_factory=list)
    group_op: str | None = None  # pivot | group
    order_by: str = "time"  # time | series
    limit: int | None = None
    offset: int = 0
    apply: list[dict[str, Any]] = field(default_factory=list)
    event_regex: str | None = None

    @property
    def backward(self) -> bool:
        return (
            self.begin is not None and self.end is not None and self.begin > self.end
        )


def _as_list(node) -> list:
    return node if isinstance(node, list) else [node]


def _parse_range(q: dict, allow_empty: bool) -> tuple[int | None, int | None]:
    rng = q.get("range")
    if rng is None:
        if allow_empty:
            return None, None
        raise QueryParseError("`range` field is required")
    if not isinstance(rng, dict) or "from" not in rng or "to" not in rng:
        raise QueryParseError("`range` must be {'from': ts, 'to': ts}")
    return parse_timestamp_ns(rng["from"]), parse_timestamp_ns(rng["to"])


def _parse_where(q: dict) -> WhereClause | None:
    where = q.get("where")
    if where is None:
        return None
    if isinstance(where, dict):
        out = WhereClause()
        for tag, vals in where.items():
            out.tag_values[str(tag)] = [str(v) for v in _as_list(vals)]
        return out
    if isinstance(where, list):
        combos = []
        for item in where:
            if not isinstance(item, dict):
                raise QueryParseError("`where` list items must be objects")
            combos.append({str(k): str(v) for k, v in item.items()})
        return WhereClause(series_combos=combos)
    raise QueryParseError("ill-formed `where` clause")


@dataclass
class SearchRequest:
    """Parsed search endpoint query (parse_search_query,
    queryparser.cc:1009-1059).  Matching modes mirror SeriesRetreiver
    (queryparser.cc:160-275): exact metric equality by default,
    metric-prefix when ``fuzzy``, regex over the canonical series name
    when ``regex`` is given (regex wins if both appear, like the
    reference's dispatch order)."""

    metric: str | None = None
    fuzzy: bool = False
    regex: str | None = None
    where: WhereClause | None = None
    limit: int | None = None
    offset: int = 0


def parse_search_query(q: dict) -> SearchRequest:
    if not isinstance(q, dict):
        raise QueryParseError("search query must be a JSON object")
    metric = q.get("select")
    regex = q.get("regex")
    fuzzy = bool(q.get("fuzzy"))
    if metric is not None:
        metric = str(metric)
    if regex is not None:
        regex = str(regex)
    if fuzzy and not metric and not regex:
        raise QueryParseError("`fuzzy` search needs a `select` metric prefix")
    limit, offset = _parse_limit_offset(q)
    return SearchRequest(
        metric=metric,
        fuzzy=fuzzy,
        regex=regex,
        where=_parse_where(q),
        limit=limit,
        offset=offset,
    )


SUGGEST_TARGETS = ("metric-names", "tag-names", "tag-values")


@dataclass
class SuggestRequest:
    """Parsed suggest endpoint query (parse_suggest_query,
    queryparser.cc:1061-1254): one of metric-names | tag-names |
    tag-values, optionally narrowed by metric / tag / starts-with."""

    target: str
    metric: str | None = None
    tag: str | None = None
    starts_with: str | None = None


def parse_suggest_query(q: dict) -> SuggestRequest:
    if not isinstance(q, dict):
        raise QueryParseError("suggest query must be a JSON object")
    target = q.get("select")
    if target not in SUGGEST_TARGETS:
        raise QueryParseError(f"unknown suggest target {target!r}")
    tag = q.get("tag")
    if target == "tag-values" and not tag:
        raise QueryParseError("`tag` is required for tag-values")
    return SuggestRequest(
        target=target,
        metric=str(q["metric"]) if q.get("metric") else None,
        tag=str(tag) if tag else None,
        starts_with=str(q["starts-with"]) if q.get("starts-with") else None,
    )


def _parse_groupby(q: dict) -> tuple[list[str], str | None]:
    # legacy "group-by" behaves as pivot (parse_groupby, queryparser.cc:578)
    for key, op in (("group-by", "pivot"), ("pivot-by-tag", "pivot"), ("group-by-tag", "group")):
        if key in q:
            return [str(t) for t in _as_list(q[key])], op
    return [], None


def _parse_limit_offset(q: dict) -> tuple[int | None, int]:
    limit = q.get("limit")
    offset = q.get("offset", 0)
    if limit is not None:
        limit = int(limit)
        if limit < 0:
            raise QueryParseError("negative limit")
    offset = int(offset)
    if offset < 0:
        raise QueryParseError("negative offset")
    return limit, offset


def _parse_filter(q: dict, metrics: list[str]) -> tuple[dict[str, ValueFilter], str]:
    node = q.get("filter")
    if node is None:
        return {}, "all"
    if not isinstance(node, dict):
        raise QueryParseError("`filter` must be an object")
    rule = str(node.get("require", "all"))
    # the reference combiner spelling: {"=": {"require": "any"}}
    # (queryparser.cc:812-836); unknown meta keys are loud errors there
    meta = node.get("=")
    if meta is not None:
        if not isinstance(meta, dict) or set(meta) - {"require"}:
            raise QueryParseError(f"unknown filter meta key in {meta!r}")
        rule = str(meta.get("require", rule))
    if rule not in ("all", "any"):
        raise QueryParseError(f"bad filter require rule {rule!r}")
    body = {k: v for k, v in node.items() if k not in ("require", "=")}
    # form 2 shorthand: {"filter": {"gt": 100}} for single-metric queries
    if set(body) & {"gt", "ge", "lt", "le"}:
        if len(metrics) != 1:
            raise QueryParseError("bare filter form requires a single metric")
        return {metrics[0]: ValueFilter.from_obj(body)}, rule
    out = {}
    for name, obj in body.items():
        if not isinstance(obj, dict):
            raise QueryParseError(f"filter for {name!r} must be an object")
        out[str(name)] = ValueFilter.from_obj(obj)
    return out, rule


def _parse_apply(q: dict) -> list[dict]:
    node = q.get("apply", [])
    if not isinstance(node, list):
        raise QueryParseError("`apply` must be a list")
    out = []
    for step in node:
        if not isinstance(step, dict) or "name" not in step:
            raise QueryParseError(f"apply step needs a `name`: {step!r}")
        out.append(dict(step))
    # standalone "eval" statement == apply step (queryparser.cc:2046-2080)
    if "eval" in q:
        ev = q["eval"]
        if not isinstance(ev, dict) or "expr" not in ev:
            raise QueryParseError("`eval` must be {'expr': ...}")
        out.append({"name": "eval", **ev})
    return out


def _statement(stmt: str, node) -> QueryRequest:
    """The request of statement ``stmt`` with only its own fields set:
    the kind, the metrics, and the aggregating statements' funcs and
    step."""
    if stmt == "select":
        if not isinstance(node, str):
            raise QueryParseError("`select` must be a metric name string")
        if not node.startswith("meta:"):
            return QueryRequest(kind=QueryKind.SELECT, metrics=[node])
        parts = node.split(":")
        if parts[1] != "names":
            raise QueryParseError(f"unknown meta query {node!r}")
        return QueryRequest(kind=QueryKind.SELECT_META, metrics=parts[2:3])

    if stmt == "select-events":
        if not isinstance(node, str) or not node.startswith("!"):
            raise QueryParseError("`select-events` metric must start with '!'")
        return QueryRequest(kind=QueryKind.SELECT_EVENTS, metrics=[node])

    if stmt == "join":
        metrics = [str(m) for m in _as_list(node)]
        if not metrics:
            raise QueryParseError("`join` needs at least one metric")
        return QueryRequest(kind=QueryKind.JOIN, metrics=metrics)

    if stmt == "aggregate":
        if not isinstance(node, dict) or not node:
            raise QueryParseError("`aggregate` must be {metric: func, ...}")
        metrics, funcs = [], []
        for metric, fn in node.items():
            for one in _as_list(fn):
                if one not in AGG_FUNCS:
                    raise QueryParseError(f"unknown aggregate function {one!r}")
                metrics.append(str(metric))
                funcs.append("count" if one == "cnt" else str(one))
        return QueryRequest(kind=QueryKind.AGGREGATE, metrics=metrics, agg_funcs=funcs)

    # group-aggregate, group-aggregate-join
    if not isinstance(node, dict):
        raise QueryParseError(f"`{stmt}` must be an object")
    if "step" not in node:
        raise QueryParseError("`step` is required")
    step_ns = parse_duration_ns(str(node["step"]))
    if step_ns <= 0:
        raise QueryParseError("`step` must be positive")
    metrics = [str(m) for m in _as_list(node.get("metric", []))]
    if not metrics:
        raise QueryParseError("`metric` is required")
    funcs = [str(f) for f in _as_list(node.get("func", []))]
    if not funcs:
        raise QueryParseError("`func` is required")
    for fn in funcs:
        if fn not in AGG_FUNCS:
            raise QueryParseError(f"unknown aggregate function {fn!r}")
    funcs = ["count" if f == "cnt" else f for f in funcs]
    if stmt == "group-aggregate-join" and len(funcs) != 1:
        raise QueryParseError("group-aggregate-join allows exactly one func")
    kind = QueryKind(stmt.replace("-", "_"))
    return QueryRequest(kind=kind, metrics=metrics, agg_funcs=funcs, step_ns=step_ns)


def _check_filter_keys(req: QueryRequest) -> None:
    """Reject a value-filter key the statement's output has no column
    for.  select, join and group-aggregate-join key their filters by
    metric.  group-aggregate keys its HAVING by a requested func (``cnt``
    too when ``count`` is requested), or by a metric when exactly one
    func is requested, which then gates only that metric's rows."""
    if req.kind is QueryKind.GROUP_AGGREGATE:
        valid = set(req.agg_funcs) | ({"cnt"} if "count" in req.agg_funcs else set())
        if len(req.agg_funcs) == 1:
            valid |= set(req.metrics)
        what = "output column"
    else:
        valid, what = set(req.metrics), "selected metric"
    for key in req.filters:
        if key not in valid:
            raise QueryParseError(f"filter key {key!r} matches no {what}")


def parse_query(query: str | dict) -> QueryRequest:
    """Parse + validate a JSON query into the logical request: the
    statement's own fields, then each shared clause once.  A clause
    outside the statement's ``CLAUSES`` set is rejected, so the Engine
    runs every clause the request carries."""
    q = json.loads(query) if isinstance(query, str) else query
    if not isinstance(q, dict):
        raise QueryParseError("query must be a JSON object")

    seen_unique = [k for k in q if k in UNIQUE_STMTS]
    for k in q:  # _VALUES holds every statement's clauses
        if k not in UNIQUE_STMTS and k not in _VALUES:
            raise QueryParseError(f"Query object contains unexpected field `{k}`")
    if len(seen_unique) > 1:
        raise QueryParseError(
            f"Field `{seen_unique[1]}` can't be used with `{seen_unique[0]}`"
        )
    if not seen_unique:
        raise QueryParseError(
            "Query object type is undefined. One of the following fields should "
            "be added: select, aggregate, join, group-aggregate"
        )

    stmt = seen_unique[0]
    req = _statement(stmt, q[stmt])
    name = "select meta:names" if req.kind is QueryKind.SELECT_META else stmt
    for k in q:
        if k != stmt and k not in CLAUSES[name]:
            raise QueryParseError(f"`{k}` is not supported for `{name}`")

    # every clause is parsed whether present or not: an absent one
    # yields its default
    req.where = _parse_where(q)
    req.group_tags, req.group_op = _parse_groupby(q)
    req.limit, req.offset = _parse_limit_offset(q)
    req.order_by = str(q.get("order-by", "time"))
    if req.order_by not in ("time", "series"):
        raise QueryParseError(f"Unexpected `order-by` field value `{req.order_by}`")
    optional = req.kind in (QueryKind.AGGREGATE, QueryKind.SELECT_META)
    req.begin, req.end = _parse_range(q, allow_empty=optional)
    req.apply = _parse_apply(q)
    if req.kind is QueryKind.SELECT_EVENTS:
        regex = q.get("filter")
        if regex is not None and not isinstance(regex, str):
            raise QueryParseError("event filter must be a regex string")
        req.event_regex = regex
    else:
        req.filters, req.filter_rule = _parse_filter(q, req.metrics)
        _check_filter_keys(req)
    return req
