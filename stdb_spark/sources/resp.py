"""RESP (Redis serialization) ingest protocol -> narrow samples.

Reference: RESPProtocolParser (stdb/protocol/protocolparser.h:129-264,
stdb/protocol/protocolparser.cc:219-536).  Three interleavable layers
on one wire format:

- DATA POINT protocol: ``+<series>`` then ``+<ISO8601-basic or int ts>``
  (or ``:<int ts>``) then one scalar value (``+<float>`` or ``:<int>``).
- ROW protocol: the series line names N pipe-joined metrics sharing one
  tag suffix (``cpu.real|cpu.user|cpu.sys host=m1``); the timestamp is
  followed by a RESP array header ``*N`` and exactly N value lines, one
  per metric IN ORDER (protocolparser.cc:462-533).  A scalar value with
  N>1 metrics is an error ("array expected"), and an array whose size
  differs from N is an error (protocolparser.cc:468-479) — the values
  are NEVER fanned out.
- EVENT bodies: a series whose metric starts with ``!`` is an event
  stream; its value line is a raw STRING body (< 4096 bytes,
  basic.h:32) instead of a double — ``parse_event_value``
  (protocolparser.cc:409-422), dispatched per bound series sign at
  :450 (scalar) and per array element at :508 (row protocol, where a
  non-string value for an event column is "unexpected event format").
- DICTIONARY prelude: zero or more RESP arrays BEFORE the first message
  (protocolparser.cc:219-309), each holding an even number of elements
  alternating ``+<series-name>`` / ``:<id>``; later messages may start
  with ``:<id>`` instead of the series string.  Dictionary names may be
  compound (pipe-joined) row-protocol names.

Two layers here:

- ``RESPStream``: an incremental pure-Python parser with the reference's
  framing semantics, for the (driver-side) TCP entry point and for unit
  tests.
- ``parse_resp_pdus``: a distributed DataFrame transformation over
  pre-framed PDU strings (one PDU per row, e.g. from Kafka where the
  producer frames messages) — JVM-side split/slice/zip/explode, no
  Python in the hot path.  The session-scoped dictionary is passed as a
  small id->name mapping and resolved with a broadcast join.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stdb_spark.common.seriesparser import (
    MAX_EVENT_BODY,
    is_event_metric,
    parse_series_name,
)
from stdb_spark.common.timeutil import parse_timestamp_ns
from stdb_spark.model import wire_to_narrow


class RESPError(ValueError):
    pass


@dataclass
class Sample:
    series: str
    ts: int
    value: float | None
    body: str | None = None


class RESPStream:
    """Incremental line-oriented RESP parser (dictionary + row protocol).

    Feed chunks with :meth:`feed`; complete samples accumulate in
    :attr:`out`.  State is (pending series, pending ts, pending value
    array) like the reference's parser loop (protocolparser.cc:538-614);
    the dictionary phase lasts until the first non-array element, after
    which array headers are only legal as row-protocol value arrays
    (protocolparser.cc:300-309).
    """

    def __init__(self) -> None:
        self.out: list[Sample] = []
        self._buf = ""
        self._series: str | None = None
        self._ts: int | None = None
        self._dict: dict[int, str] = {}
        # dictionary arrays are accepted only before the first message
        self._dict_phase = True
        self._dict_remaining = 0
        self._dict_pending_name: str | None = None
        # row protocol: number of value lines still expected, collected
        self._values_expected: int | None = None
        self._values: list[float] = []

    def feed(self, chunk: str) -> None:
        # one split per chunk: lines end in \n with an optional \r
        # before it, and the unterminated tail carries to the next chunk
        lines = (self._buf + chunk).split("\n")
        self._buf = lines.pop()
        for line in lines:
            if line.endswith("\r"):
                line = line[:-1]
            if line:
                self._line(line)

    def _metrics(self) -> list[str]:
        return self._series.partition(" ")[0].split("|")

    def _line(self, line: str) -> None:
        kind, body = line[0], line[1:]
        # inside a dictionary array: alternating +name / :id elements
        if self._dict_remaining > 0:
            if self._dict_pending_name is None:
                if kind != "+":
                    raise RESPError(f"unexpected series name format: {line!r}")
                for m in body.partition(" ")[0].split("|"):
                    parse_series_name(f"{m} {body.partition(' ')[2]}".strip())
                self._dict_pending_name = body
            else:
                if kind != ":":
                    raise RESPError(f"dictionary id must be an integer: {line!r}")
                self._dict[int(body)] = self._dict_pending_name
                self._dict_pending_name = None
            self._dict_remaining -= 1
            return
        # collecting a row-protocol value array: dispatch per element on
        # the bound metric's kind (protocolparser.cc:480-520 — positive
        # ids take INTEGER/STRING-as-double, event ids take only a
        # STRING body, else "unexpected event format")
        if self._values_expected is not None:
            if is_event_metric(self._metrics()[len(self._values)]):
                if kind != "+":
                    raise RESPError(f"unexpected event format: {line!r}")
                self._values.append(self._event_body(body))
            else:
                if kind not in "+:":
                    raise RESPError(
                        f"unexpected parameter value format: {line!r}"
                    )
                self._values.append(float(body))
            if len(self._values) == self._values_expected:
                self._emit(self._values)
            return
        if kind == "*":
            n = int(body)
            if self._series is None:
                # protocolparser.cc:235-243 — a top-level array is a
                # dictionary, legal only before the first message
                if not self._dict_phase:
                    raise RESPError(
                        "dictionary arrays must precede all messages"
                    )
                if n % 2 != 0:
                    raise RESPError(
                        "number of elements in the dictionary should be even"
                    )
                self._dict_remaining = n
                return
            if self._ts is None:
                raise RESPError("expected timestamp, got array header")
            nmetrics = len(self._metrics())
            if n != nmetrics:
                side = "more" if n < nmetrics else "less"
                raise RESPError(
                    f"wrong array size, {side} values expected"
                    f" ({n} values for {nmetrics} metrics)"
                )
            self._values_expected = n
            self._values = []
            return
        if self._series is None:
            # first non-array element ends the dictionary phase
            self._dict_phase = False
            if kind == "+":
                self._series = body
            elif kind == ":":
                sid = int(body)
                if sid not in self._dict:
                    raise RESPError(f"unknown series id {sid}")
                self._series = self._dict[sid]
            else:
                raise RESPError(f"unexpected line {line!r}")
            return
        if self._ts is None:
            if kind in "+:":
                self._ts = parse_timestamp_ns(body)
            else:
                raise RESPError(f"expected timestamp, got {line!r}")
            return
        # scalar value: legal only for single-metric series
        # (protocolparser.cc:429-459 — "array expected (bulk format)")
        if kind not in "+:":
            raise RESPError(f"expected value, got {line!r}")
        if len(self._metrics()) != 1:
            raise RESPError(
                "array expected (bulk format), scalar found for"
                f" {len(self._metrics())}-metric row series"
            )
        if is_event_metric(self._metrics()[0]):
            # STRING -> event body (protocolparser.cc:443-455 dispatches
            # on the bound id's sign).  The reference's scalar INTEGER
            # branch (:430-441) parses a double without that sign check
            # — a latent path the (stubbed) session glue never writes;
            # we mirror the row branch's explicit rejection instead.
            if kind != "+":
                raise RESPError(f"unexpected event format: {line!r}")
            self._emit([self._event_body(body)])
        else:
            self._emit([float(body)])

    def define(self, sid: int, series: str) -> None:
        """Out-of-band dictionary entry (same map the in-stream
        dictionary prelude fills)."""
        self._dict[sid] = series

    @staticmethod
    def _event_body(body: str) -> str:
        # parse_event_value rejects bytes_read >= STDB_LIMITS_MAX_EVENT_LEN
        # (protocolparser.cc:415-419, basic.h:32)
        if len(body.encode("utf-8")) >= MAX_EVENT_BODY:
            raise RESPError("event value is too big")
        return body

    def _emit(self, values: list[float | str]) -> None:
        series, ts = self._series, self._ts
        self._series = self._ts = None
        self._values_expected = None
        self._values = []
        metric_part, _, tags_part = series.partition(" ")
        metrics = metric_part.split("|")
        for m, v in zip(metrics, values):
            name = f"{m} {tags_part}".strip()
            parse_series_name(name)  # validates
            if is_event_metric(m):
                self.out.append(Sample(name, ts, None, v))
            else:
                self.out.append(Sample(name, ts, v))


def parse_resp_full(
    pdus: DataFrame,
    value_col: str = "value",
    dictionary: dict[int, str] | None = None,
) -> DataFrame:
    """Mixed wire in ONE parse pass, all JVM-side: pre-framed PDU
    strings -> ``(series_id, metric, tags, ts, value, body)`` with
    exactly one of value/body set per row, dispatched on the metric's
    kind (metric columns carry value, ``!``-event columns carry body —
    parse_event_value protocolparser.cc:409-422,450,508).  Use this when
    a feed interleaves metrics and events: the split projections below
    each re-evaluate the parse lineage when used together.

    A PDU is either the data-point form ``+series\\n+ts\\n+value`` or
    the row form ``+m1|m2 tags\\n+ts\\n*2\\n+v1\\n+v2`` — each metric is
    zipped with ITS value (protocolparser.cc:462-533), never fanned.
    Malformed PDUs (scalar value for a multi-metric series, array size
    mismatch, unresolvable id, non-STRING value for an event column,
    body >= 4096 bytes) are dropped WHOLE, mirroring the batch-source
    contract of the OpenTSDB parser (the wire parser errors the whole
    message).  ``dictionary`` maps the session's integer ids to
    (possibly compound) series names; id-addressed PDUs (``:7\\n...``)
    resolve through a broadcast join.
    """
    # prefix strip / CR scrub / array-size parse are all plain string
    # ops, not regexes — the parser runs per wire row at ingest scale,
    # and JVM regex evaluation was ~half its cost
    strip = lambda c: F.when(  # noqa: E731
        c.startswith("+") | c.startswith(":"),
        c.substr(F.lit(2), F.length(c)),
    )
    df = pdus.select(
        F.split(F.replace(F.col(value_col), F.lit("\r"), F.lit("")), "\n").alias(
            "_l"
        )
    )
    first = F.col("_l")[0]
    if dictionary:
        spark = pdus.sparkSession
        dict_df = spark.createDataFrame(
            [(int(k), str(v)) for k, v in dictionary.items()],
            "_sid bigint, _dict_series string",
        )
        df = df.withColumn(
            "_sid",
            F.when(
                first.startswith(":"), strip(first).cast("bigint")
            ),
        ).join(F.broadcast(dict_df), "_sid", "left")
        series = F.when(first.startswith(":"), F.col("_dict_series")).otherwise(
            strip(first)
        )
    else:
        series = F.when(~first.startswith(":"), strip(first))
    arr_hdr = F.col("_l")[2]
    is_arr = arr_hdr.startswith("*")
    df = (
        df.select(
            series.alias("_series"),
            strip(F.col("_l")[1]).cast("long").alias("ts"),
            # raw value lines, prefix kept — the per-element dispatch
            # below needs both the prefix kind and the metric kind
            F.when(
                is_arr,
                F.slice(
                    F.col("_l"),
                    F.lit(4),
                    # non-numeric or NEGATIVE header -> NULL length ->
                    # NULL slice -> whole PDU dropped by the size filter
                    # below (a bare negative would be a runtime error in
                    # F.slice, killing the job on one bad wire row)
                    F.when(
                        arr_hdr.substr(F.lit(2), F.length(arr_hdr)).cast(
                            "int"
                        )
                        >= 0,
                        arr_hdr.substr(F.lit(2), F.length(arr_hdr)).cast(
                            "int"
                        ),
                    ),
                ),
            )
            .otherwise(F.array(arr_hdr))
            .alias("_raw"),
        )
        .withColumn(
            "_ms", F.split(F.split(F.col("_series"), " ")[0], r"\|")
        )
        .withColumn(
            # element i parsed against metric i's kind: metric columns
            # take +/-prefixed numerics (STRING/INTEGER as double,
            # protocolparser.cc:480-506); event columns take only a
            # STRING body < 4096 bytes (:409-422,508-520)
            "_vs",
            F.zip_with(
                "_ms",
                "_raw",
                lambda m, r: F.struct(
                    F.when(
                        ~m.startswith("!")
                        & (r.startswith("+") | r.startswith(":")),
                        r.substr(F.lit(2), F.length(r)).cast("double"),
                    ).alias("value"),
                    F.when(
                        m.startswith("!")
                        & r.startswith("+")
                        & (F.octet_length(r) - 1 < MAX_EVENT_BODY),
                        F.substring(r, 2, MAX_EVENT_BODY),
                    ).alias("body"),
                ),
            ),
        )
    )
    # Whole-PDU validity is folded into the generator input instead of
    # a Filter node: an invalid PDU yields NULL, which explode() drops.
    # A separate .filter() gets pushed below the projections and the
    # repartition all the way into the scan stage, with every column
    # alias SUBSTITUTED — the r6 plan evaluated the full
    # split/replace/zip chain ~30x per wire row inside a single-task
    # scan-side Filter (2.5 s at sf0.1; 0.5 s with the fold).
    valid = (
        F.col("_series").isNotNull()
        & F.col("ts").isNotNull()
        # row-protocol contract: exactly one value per metric
        & (F.size("_ms") == F.size("_raw"))
        & ~F.exists("_vs", lambda v: v["value"].isNull() & v["body"].isNull())
    )
    df = df.select(
        F.explode(F.when(valid, F.arrays_zip("_ms", "_vs"))).alias("_z"),
        "ts",
        "_series",
    ).select(
        "ts",
        "_series",
        F.col("_z._ms").alias("_metric"),
        F.col("_z._vs.value").alias("value"),
        F.col("_z._vs.body").alias("body"),
    )
    tokens = F.split(F.col("_series"), " ")
    return wire_to_narrow(df, F.col("_metric"), tokens, 2, "value", "body")


def parse_resp_pdus(
    pdus: DataFrame,
    value_col: str = "value",
    dictionary: dict[int, str] | None = None,
) -> DataFrame:
    """Numeric samples from pre-framed RESP PDUs (see parse_resp_full):
    ``(series_id, metric, tags, ts, value)``.  Event columns riding the
    same wire (``!``-metrics) are routed to :func:`parse_resp_events`,
    never coerced to doubles."""
    full = parse_resp_full(pdus, value_col, dictionary)
    return full.filter(~F.col("metric").startswith("!")).select(
        "series_id", "metric", "tags", "ts", "value"
    )


def parse_resp_events(
    pdus: DataFrame,
    value_col: str = "value",
    dictionary: dict[int, str] | None = None,
) -> DataFrame:
    """Event-stream rows from pre-framed RESP PDUs: ``(series_id,
    metric, tags, ts, body)`` for ``!``-metric columns — the wire write
    path for annotations/logs (parse_event_value,
    protocolparser.cc:409-422; row-branch wiring :450,508)."""
    full = parse_resp_full(pdus, value_col, dictionary)
    return full.filter(F.col("metric").startswith("!")).select(
        "series_id", "metric", "tags", "ts", "body"
    )
