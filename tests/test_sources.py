"""RESP / OpenTSDB ingest parity (protocolparser.h:129-327 semantics)."""

import pytest

from stdb_spark.sources.opentsdb import parse_opentsdb_lines
from stdb_spark.sources.resp import RESPError, RESPStream, parse_resp_pdus


def test_resp_stream_basic():
    p = RESPStream()
    p.feed("+cpu.user host=h0\r\n+1000\r\n+3.14\r\n")
    assert [(s.series, s.ts, s.value) for s in p.out] == [("cpu.user host=h0", 1000, 3.14)]


def test_resp_stream_int_ts_and_value():
    p = RESPStream()
    p.feed("+mem host=a\r\n:2000\r\n:42\r\n")
    assert p.out[0].ts == 2000 and p.out[0].value == 42.0


def test_resp_stream_iso_timestamp():
    p = RESPStream()
    p.feed("+m t=1\r\n+19700101T000001\r\n+1\r\n")
    assert p.out[0].ts == 1_000_000_000


def test_resp_row_protocol_zips_values():
    # protocolparser.h:148-163 documented example: N pipe-joined metrics
    # + a *N array carrying one value PER metric, in order.
    p = RESPStream()
    p.feed(
        "+cpu.real|cpu.user|cpu.sys host=machine1 region=NW\r\n"
        "+20141210T074343\r\n*3\r\n+3.12\r\n+8.11\r\n+12.6\r\n"
    )
    assert [(s.series, s.value) for s in p.out] == [
        ("cpu.real host=machine1 region=NW", 3.12),
        ("cpu.user host=machine1 region=NW", 8.11),
        ("cpu.sys host=machine1 region=NW", 12.6),
    ]
    assert len({s.ts for s in p.out}) == 1


def test_resp_row_protocol_rejects_scalar_and_size_mismatch():
    # protocolparser.cc:429-459: scalar where a row array is required
    with pytest.raises(RESPError, match="array expected"):
        RESPStream().feed("+cpu|mem host=h1\r\n:5\r\n:1\r\n")
    # protocolparser.cc:468-479: array size must equal the metric count
    with pytest.raises(RESPError, match="wrong array size"):
        RESPStream().feed("+cpu|mem host=h1\r\n:5\r\n*3\r\n:1\r\n:2\r\n:3\r\n")


def test_resp_event_body_data_point():
    # parse_event_value (protocolparser.cc:409-422, scalar wiring :450):
    # a `!`-metric series takes a raw STRING body instead of a double
    p = RESPStream()
    p.feed('+!app.log host=h0\r\n:1000\r\n+error: disk full {"c": 7}\r\n')
    s = p.out[0]
    assert (s.series, s.ts, s.value, s.body) == (
        "!app.log host=h0",
        1000,
        None,
        'error: disk full {"c": 7}',
    )


def test_resp_event_body_row_protocol_mixed():
    # row-branch wiring (protocolparser.cc:508-520): per-element
    # dispatch — numeric column parses a double, event column takes the
    # raw string, zipped in order, never fanned
    p = RESPStream()
    p.feed("+cpu|!note host=h1\r\n:2000\r\n*2\r\n+0.5\r\n+deploy v2\r\n")
    assert [(s.series, s.value, s.body) for s in p.out] == [
        ("cpu host=h1", 0.5, None),
        ("!note host=h1", None, "deploy v2"),
    ]


def test_resp_event_body_rejections():
    # row branch: non-STRING value for an event column -> "unexpected
    # event format" (protocolparser.cc:514-519); mirrored in the scalar
    # branch (the reference's scalar-INTEGER path has no sign check, a
    # latent path its stubbed session glue never writes)
    p = RESPStream()
    p.feed("+m|!e t=1\r\n:5\r\n*2\r\n+1.5\r\n")
    with pytest.raises(RESPError, match="unexpected event format"):
        p.feed(":9\r\n")
    with pytest.raises(RESPError, match="unexpected event format"):
        RESPStream().feed("+!e t=1\r\n:5\r\n:42\r\n")
    # bytes_read >= STDB_LIMITS_MAX_EVENT_LEN=4096 -> "event value is
    # too big" (protocolparser.cc:415-419, basic.h:32); 4095 fits
    with pytest.raises(RESPError, match="event value is too big"):
        RESPStream().feed("+!e t=1\r\n:5\r\n+" + "x" * 4096 + "\r\n")
    ok = RESPStream()
    ok.feed("+!e t=1\r\n:5\r\n+" + "x" * 4095 + "\r\n")
    assert len(ok.out[0].body) == 4095


def test_resp_event_dictionary_compound():
    # dictionary names may bind compound row names including event
    # columns; id-addressed row PDUs dispatch per element
    p = RESPStream()
    p.feed("*2\r\n+cpu|!log host=a\r\n:7\r\n")
    p.feed(":7\r\n:2000\r\n*2\r\n+1.25\r\n+restarted\r\n")
    assert [(s.series, s.value, s.body) for s in p.out] == [
        ("cpu host=a", 1.25, None),
        ("!log host=a", None, "restarted"),
    ]


def test_parse_resp_events_dataframe(spark):
    from stdb_spark.sources.resp import parse_resp_events

    pdus = spark.createDataFrame(
        [
            ('+!log host=a\n:1000\n+disk full',),
            ("+cpu|!log host=b\n:2000\n*2\n+0.5\n+deploy v2",),
            # malformed: integer line for the event column -> PDU dropped
            ("+cpu|!log host=c\n:3000\n*2\n+0.5\n:9",),
            # malformed: body over 4096 bytes -> PDU dropped
            ("+!log host=d\n:4000\n+" + "x" * 4096,),
        ],
        "value string",
    )
    events = sorted(
        (r.metric, r.tags["host"], r.ts, r.body)
        for r in parse_resp_events(pdus).collect()
    )
    assert events == [
        ("!log", "a", 1000, "disk full"),
        ("!log", "b", 2000, "deploy v2"),
    ]
    # the numeric column of the mixed PDU still lands as a sample, and
    # no event body is ever coerced into the samples output
    samples = sorted(
        (r.metric, r.ts, r.value) for r in parse_resp_pdus(pdus).collect()
    )
    assert samples == [("cpu", 2000, 0.5)]


def test_resp_dictionary():
    p = RESPStream()
    p.define(7, "cpu host=h9")
    p.feed(":7\r\n:123\r\n:9\r\n")
    assert p.out[0].series == "cpu host=h9"
    with pytest.raises(RESPError):
        RESPStream().feed(":99\r\n")


def test_resp_in_stream_dictionary():
    # protocolparser.h:166-199 documented example: the session starts
    # with dictionary arrays (even element count, +name/:id pairs), and
    # later messages address series by :id.
    p = RESPStream()
    p.feed(
        "*4\r\n"
        "+balancers.memusage host=machine1\r\n:1\r\n"
        "+balancers.memusage host=machine2\r\n:2\r\n"
        ":1\r\n+20141210T074343\r\n:31\r\n"
        ":2\r\n+20141210T074343\r\n+12.01\r\n"
        ":1\r\n+20141210T074344\r\n:32\r\n"
    )
    assert [(s.series, s.value) for s in p.out] == [
        ("balancers.memusage host=machine1", 31.0),
        ("balancers.memusage host=machine2", 12.01),
        ("balancers.memusage host=machine1", 32.0),
    ]


def test_resp_dictionary_compound_row_name():
    # protocolparser.h:193-199: a dictionary entry may be a compound
    # row-protocol name; :id messages then need a *N value array.
    p = RESPStream()
    p.feed(
        "*2\r\n+cpu.real|cpu.user|cpu.sys host=machine1\r\n:1\r\n"
        ":1\r\n+20141210T074343\r\n*3\r\n+3.12\r\n+8.11\r\n+12.6\r\n"
    )
    assert [(s.series, s.value) for s in p.out] == [
        ("cpu.real host=machine1", 3.12),
        ("cpu.user host=machine1", 8.11),
        ("cpu.sys host=machine1", 12.6),
    ]


def test_resp_dictionary_only_before_messages():
    p = RESPStream()
    p.feed("+cpu host=h1\r\n:5\r\n:1\r\n")
    with pytest.raises(RESPError, match="precede"):
        p.feed("*2\r\n+mem host=h1\r\n:2\r\n")
    with pytest.raises(RESPError, match="even"):
        RESPStream().feed("*3\r\n")


def test_resp_partial_chunks():
    p = RESPStream()
    p.feed("+cpu ho")
    p.feed("st=h0\r\n+10")
    p.feed("00\r\n+1.5\r\n")
    assert p.out[0].series == "cpu host=h0"


def test_resp_stream_line_endings():
    """Bare ``\\n`` endings parse like ``\\r\\n``, and a ``\\r\\n`` split
    across two chunks still loses its ``\\r``."""
    lf = RESPStream()
    lf.feed("+cpu host=h0\n+1000\n+1.5\n+mem host=h1\n:2000\n:7\n")
    assert [(s.series, s.ts, s.value) for s in lf.out] == [
        ("cpu host=h0", 1000, 1.5),
        ("mem host=h1", 2000, 7.0),
    ]
    crlf = RESPStream()
    crlf.feed("+!log host=h0\r")
    crlf.feed("\n+1000\r\n+oom\r")
    assert crlf.out == []
    crlf.feed("\n")
    assert [(s.series, s.ts, s.body) for s in crlf.out] == [
        ("!log host=h0", 1000, "oom")
    ]


def test_parse_resp_pdus_dataframe(spark):
    pdus = spark.createDataFrame(
        [
            # row PDU: *2 array zips one value per metric
            ("+cpu|mem host=h0\n:1000\n*2\n:2.5\n:6.5",),
            # data-point PDU
            ("+disk host=h1\n:2000\n:7",),
            # malformed: scalar for a 2-metric row series -> dropped
            ("+a|b host=h2\n:3000\n:1",),
            # malformed: array size mismatch -> dropped
            ("+c|d host=h3\n:4000\n*3\n:1\n:2\n:3",),
        ],
        "value string",
    )
    rows = parse_resp_pdus(pdus).orderBy("metric").collect()
    assert [(r.metric, r.tags["host"], r.ts, r.value) for r in rows] == [
        ("cpu", "h0", 1000, 2.5),
        ("disk", "h1", 2000, 7.0),
        ("mem", "h0", 1000, 6.5),
    ]


def test_parse_resp_pdus_dictionary(spark):
    pdus = spark.createDataFrame(
        [(":7\n:1000\n:3",), (":8\n:2000\n*2\n:1\n:2",), (":9\n:1\n:0",)],
        "value string",
    )
    rows = (
        parse_resp_pdus(
            pdus, dictionary={7: "cpu host=h0", 8: "a|b host=h1"}
        )
        .orderBy("metric")
        .collect()
    )
    # :9 is not in the dictionary -> dropped
    assert [(r.metric, r.tags["host"], r.value) for r in rows] == [
        ("a", "h1", 1.0),
        ("b", "h1", 2.0),
        ("cpu", "h0", 3.0),
    ]


def test_parse_opentsdb_lines(spark):
    lines = spark.createDataFrame(
        [
            ("put sys.cpu 1428000000 42.5 host=web01 dc=lga",),
            ("put sys.mem 1428000000123 7 host=web01",),
            ("garbage line",),
            ("put broken",),
        ],
        "value string",
    )
    rows = parse_opentsdb_lines(lines).orderBy("metric").collect()
    assert len(rows) == 2
    cpu, mem = rows
    assert cpu.metric == "sys.cpu"
    assert cpu.ts == 1428000000 * 10**9
    assert cpu.tags == {"host": "web01", "dc": "lga"}
    assert mem.ts == 1428000000123 * 10**6


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from stdb_spark.sources import corpus

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello\\nworld"}\n'
        "this line is not json\n"
        '{"doc_id": 2, "text": "café über"}\n'
    )
    df = corpus.read_jsonl(spark, str(p), schema)
    good = df.filter(~corpus.is_corrupt(df))
    bad = df.filter(corpus.is_corrupt(df))
    rows = {r.doc_id: r.text for r in good.collect()}
    assert rows == {1: "hello\nworld", 2: "café über"}
    assert [r[corpus.CORRUPT_COL] for r in bad.collect()] == ["this line is not json"]
    # write side: round-trips through files including the embedded newline
    out = tmp_path / "out"
    corpus.write_jsonl(good.select("doc_id", "text"), str(out))
    back = corpus.read_jsonl(spark, str(out), schema, keep_corrupt=False)
    assert {r.doc_id: r.text for r in back.collect()} == rows


def test_upsert_latest_keeps_highest_version(spark):
    from pyspark.sql import functions as F

    from stdb_spark.sources.storage import upsert_latest

    base = spark.createDataFrame(
        [(1, 10.0, 0), (2, 20.0, 0), (3, 30.0, 0)],
        "k long, value double, batch int",
    )
    upd = spark.createDataFrame(
        [(2, 99.0, 1), (4, 40.0, 1)], "k long, value double, batch int"
    )
    got = {r.k: (r.value, r.batch) for r in
           upsert_latest(base, upd, ["k"], "batch").collect()}
    assert got == {1: (10.0, 0), 2: (99.0, 1), 3: (30.0, 0), 4: (40.0, 1)}
    # single window over the key exchange — no join in the plan
    plan = (
        upsert_latest(base, upd, ["k"], "batch")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan


def test_duplicate_tag_key_does_not_crash_parsers(spark):
    from stdb_spark import model

    model.ensure_session_confs(spark)
    # a malformed wire line repeating a tag key must degrade (LAST_WIN
    # dedup), not kill the job with Spark's default EXCEPTION policy
    lines = spark.createDataFrame(
        [("put cpu 1700000000 1.5 host=a host=b",)], "value string"
    )
    rows = parse_opentsdb_lines(lines).collect()
    assert len(rows) == 1 and rows[0].tags["host"] == "b"


def test_tcp_ingest_server_resp_and_opentsdb(spark, tmp_path):
    """Live TCP front door (dataserver/tcp_server.h analog): real
    sockets, all three RESP layers + OpenTSDB telnet, samples landing
    in the queryable layout."""
    import socket
    import time

    from stdb_spark.sources.tcp import TcpIngestServer

    layout = str(tmp_path / "resp_layout")
    srv = TcpIngestServer(spark, layout, protocol="resp")
    host, port = srv.start()
    c = socket.create_connection((host, port))
    c.sendall(b"*2\r\n+cpu.real|cpu.user host=m1\r\n:7\r\n")          # dictionary
    c.sendall(b"+mem.free host=m1\r\n+20240101T000000\r\n+42.5\r\n")  # data point
    c.sendall(b":7\r\n+20240101T000001\r\n*2\r\n+1.5\r\n+2.5\r\n")    # row protocol
    c.close()
    time.sleep(0.5)
    srv.stop()
    rows = sorted(
        (r.metric, r.ts, r.value, dict(r.tags))
        for r in spark.read.parquet(layout).collect()
    )
    assert rows == [
        ("cpu.real", 1704067201000000000, 1.5, {"host": "m1"}),
        ("cpu.user", 1704067201000000000, 2.5, {"host": "m1"}),
        ("mem.free", 1704067200000000000, 42.5, {"host": "m1"}),
    ]

    layout2 = str(tmp_path / "tsdb_layout")
    srv2 = TcpIngestServer(spark, layout2, protocol="opentsdb")
    h2, p2 = srv2.start()
    c2 = socket.create_connection((h2, p2))
    c2.sendall(b"put sys.cpu 1704067200 3.25 host=web1\n"
               b"put sys.cpu 1704067201 4.5 host=web1\n")
    c2.close()
    time.sleep(0.5)
    srv2.stop()
    got = sorted(
        (r.metric, r.value) for r in spark.read.parquet(layout2).collect()
    )
    assert got == [("sys.cpu", 3.25), ("sys.cpu", 4.5)]


def test_tcp_ingest_server_event_bodies(spark, tmp_path):
    """Event PDUs over the live socket land in the sibling event layout
    (parse_event_value wire path through the TCP front door)."""
    import socket
    import time

    from stdb_spark.sources.tcp import TcpIngestServer

    layout = str(tmp_path / "layout")
    srv = TcpIngestServer(spark, layout, protocol="resp")
    host, port = srv.start()
    c = socket.create_connection((host, port))
    c.sendall(b"+!deploy host=m1\r\n:1704067200000000000\r\n+rollout 42%\r\n")
    c.sendall(b"+cpu|!log host=m1\r\n:1704067201000000000\r\n*2\r\n+1.5\r\n+oom killed\r\n")
    c.close()
    deadline = time.time() + 10
    while srv.pending_count() < 3 and time.time() < deadline:
        time.sleep(0.05)
    srv.stop()
    events = sorted(
        (r.metric, r.ts, r.body)
        for r in spark.read.parquet(srv.events_path).collect()
    )
    assert events == [
        ("!deploy", 1704067200000000000, "rollout 42%"),
        ("!log", 1704067201000000000, "oom killed"),
    ]
    samples = [
        (r.metric, r.value) for r in spark.read.parquet(layout).collect()
    ]
    assert samples == [("cpu", 1.5)]


def test_tcp_ingest_server_multibyte_chunk_boundary(spark, tmp_path):
    """A multi-byte UTF-8 character split across the server's 64 KB
    read boundary must carry over (incremental decoder), not kill the
    connection handler mid-stream."""
    import socket
    import time

    from stdb_spark.sources.tcp import TcpIngestServer

    layout = str(tmp_path / "layout")
    srv = TcpIngestServer(spark, layout, protocol="resp")
    host, port = srv.start()
    c = socket.create_connection((host, port))
    # pad so the 3-byte "€" in the event body straddles the 65536-byte
    # read1 boundary, then keep writing samples that must still land
    body = "x" * 100 + "€" * 40
    pdu = f"+!pad host=p\r\n:1\r\n+{body}\r\n".encode()
    filler = b"+m host=f\r\n:2\r\n+1.0\r\n"
    blob = (pdu + filler) * 600  # ~ several read1 windows, odd byte phase
    c.sendall(blob)
    c.sendall(b"+tail host=t\r\n:3\r\n+9.5\r\n")
    c.close()
    deadline = time.time() + 30
    while srv.pending_count() < 1201 and time.time() < deadline:
        time.sleep(0.05)
    srv.stop()
    samples = spark.read.parquet(layout)
    assert samples.filter("metric = 'tail'").count() == 1
    assert samples.count() == 601
    ev = spark.read.parquet(srv.events_path)
    assert ev.count() == 600
    assert ev.select("body").distinct().collect()[0].body == body


def test_spark_socket_source_opentsdb_stream(spark, tmp_path):
    """The fully Spark-native socket path: a one-shot TCP server feeds
    OpenTSDB lines to readStream.format('socket') -> line parser ->
    memory sink (line protocols work on the raw socket source; RESP's
    multi-line PDUs go through the TcpIngestServer instead)."""
    import socketserver
    import threading
    import time

    lines = (
        b"put sock.m 1704067200 1.5 host=a\n"
        b"put sock.m 1704067260 2.5 host=a\n"
    )

    class H(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(lines)
            time.sleep(8)  # hold the connection while the stream polls

    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), H)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    host, port = srv.server_address
    try:
        from stdb_spark.streaming.ingest import stream_from_socket

        samples = stream_from_socket(spark, host, port)
        q = (
            samples.writeStream.format("memory")
            .queryName("sock_sink")
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                if spark.sql("SELECT * FROM sock_sink").count() >= 2:
                    break
                time.sleep(0.5)
            got = sorted(
                (r.metric, r.ts, r.value, dict(r.tags))
                for r in spark.sql("SELECT * FROM sock_sink").collect()
            )
            assert got == [
                ("sock.m", 1704067200000000000, 1.5, {"host": "a"}),
                ("sock.m", 1704067260000000000, 2.5, {"host": "a"}),
            ]
        finally:
            q.stop()
    finally:
        srv.shutdown()
        srv.server_close()


def test_parse_resp_negative_array_size_drops_pdu(spark):
    """A malformed '*-2' array header must drop THAT PDU, never kill
    the whole batch (F.slice with a negative length is a runtime
    error)."""
    pdus = spark.createDataFrame(
        [
            ("+cpu|mem h=1\n:5\n*-2\n:1\n:2",),
            ("+ok h=1\n:7\n+1.5",),
            ("+cpu|mem h=1\n:5\n*junk\n:1\n:2",),
        ],
        "value string",
    )
    got = [(r.metric, r.ts, r.value) for r in parse_resp_pdus(pdus).collect()]
    assert got == [("ok", 7, 1.5)]


def _send_resp(addr, payload: str) -> None:
    import socket

    with socket.create_connection(addr) as c:
        c.sendall(payload.encode("utf-8"))


def _await_pending(srv, n: int, timeout_s: float = 30) -> None:
    import time

    deadline = time.time() + timeout_s
    while srv.pending_count() < n and time.time() < deadline:
        time.sleep(0.05)
    assert srv.pending_count() == n


def test_tcp_ingest_server_serializes_flushes(spark, tmp_path, monkeypatch):
    """Every connection runs on its own handler thread and flushes
    inline, and a manual flush() can run beside them.  Two appends into
    one layout must never run at once: they race on the job commit, and
    a lost race raises inside the handler, where it is swallowed
    together with the batch it swapped out."""
    import collections
    import socket
    import threading
    import time

    from stdb_spark.sources import storage
    from stdb_spark.sources.tcp import TcpIngestServer

    write = storage.write_samples
    in_flight, peak = collections.Counter(), collections.Counter()
    count_lock = threading.Lock()

    def counting_write(df, path, mode="overwrite"):
        with count_lock:
            in_flight[path] += 1
            peak[path] = max(peak[path], in_flight[path])
        try:
            time.sleep(0.05)  # widen the window an overlap needs
            write(df, path, mode)
        finally:
            with count_lock:
                in_flight[path] -= 1

    monkeypatch.setattr(storage, "write_samples", counting_write)
    layout = str(tmp_path / "layout")
    srv = TcpIngestServer(spark, layout, protocol="resp", flush_every=200)
    finished = threading.Semaphore(0)
    handle = srv._handle_resp

    def handle_and_count(rfile):
        try:
            handle(rfile)
        finally:
            finished.release()

    srv._handle_resp = handle_and_count
    addr = srv.start()
    per_conn, t0 = 2000, 1_704_067_200_000_000_000

    def send(conn: int) -> None:
        # many small writes, so each handler flushes many times
        with socket.create_connection(addr) as c:
            for lo in range(0, per_conn, 50):
                c.sendall("".join(
                    f"+m host=c{conn}\r\n:{t0 + i}\r\n+{i}.5\r\n"
                    for i in range(lo, lo + 50)
                ).encode())
                time.sleep(0.075)

    senders = [threading.Thread(target=send, args=(k,)) for k in range(2)]
    for t in senders:
        t.start()
    while any(t.is_alive() for t in senders):
        srv.flush()
        time.sleep(0.1)
    for t in senders:
        t.join(timeout=60)
        assert not t.is_alive()
    for _ in senders:
        assert finished.acquire(timeout=300)
    srv.stop()
    assert peak[layout] == 1
    got = sorted(
        (r.tags["host"], r.ts, r.value) for r in spark.read.parquet(layout).collect()
    )
    assert got == sorted(
        (f"c{k}", t0 + i, i + 0.5) for k in range(2) for i in range(per_conn)
    )


def test_tcp_ingest_server_rejects_shared_event_path(spark, tmp_path):
    from stdb_spark.sources.tcp import TcpIngestServer

    layout = str(tmp_path / "layout")
    with pytest.raises(ValueError, match="events_path"):
        TcpIngestServer(spark, layout, events_path=layout)


def test_tcp_ingest_server_event_write_failure(spark, tmp_path):
    """A failed event write raises from flush(), leaves no writer
    thread running, and the sample batch still lands."""
    import threading

    from py4j.protocol import Py4JJavaError
    from pyspark import InheritableThread

    from stdb_spark.sources.tcp import TcpIngestServer

    blocker = tmp_path / "events"
    blocker.write_text("a regular file, not a layout directory")
    layout = str(tmp_path / "layout")
    srv = TcpIngestServer(spark, layout, protocol="resp", events_path=str(blocker))
    addr = srv.start()
    _send_resp(addr, "+cpu host=h0\r\n:1000\r\n+1.5\r\n+!log host=h0\r\n:1000\r\n+oom\r\n")
    _await_pending(srv, 2)
    try:
        with pytest.raises(Py4JJavaError, match="not a directory"):
            srv.flush()
        assert not [t for t in threading.enumerate() if isinstance(t, InheritableThread)]
    finally:
        srv.stop(flush=False)
    rows = [(r.metric, r.ts, r.value) for r in spark.read.parquet(layout).collect()]
    assert rows == [("cpu", 1000, 1.5)]


def test_tcp_ingest_server_schema_and_exact_values(spark, tmp_path):
    """Both layouts keep the narrow schema that layouts already on disk
    were written with (appends must stay readable), and every value
    round-trips bit for bit: ns timestamps beyond 2^53, signed zero,
    extreme doubles, multi-byte UTF-8 names and bodies."""
    import math

    from stdb_spark.sources.tcp import TcpIngestServer

    t0 = 1_704_067_200_123_456_789  # not representable as a double
    samples = [
        ("cpu host=h0", t0, 0.1),
        ("cpu host=h0", t0 + 1, -0.0),
        ("cpu host=h0", t0 + 2, 1e308),
        ("温度 host=ħøst room=北", t0 + 3, -2.5e-300),
    ]
    events = [
        ("!log host=h0", t0, "ünïcode € 日本 🚀"),
        ("!注記 host=ħøst", t0 + 1, "plain"),
    ]
    layout = str(tmp_path / "layout")
    srv = TcpIngestServer(spark, layout, protocol="resp")
    addr = srv.start()
    _send_resp(addr, "".join(
        f"+{s}\r\n:{ts}\r\n+{v}\r\n" for s, ts, v in samples + events
    ))
    _await_pending(srv, len(samples) + len(events))
    srv.stop()

    def series(r):
        return " ".join([r.metric] + [f"{k}={v}" for k, v in r.tags.items()])

    got = spark.read.parquet(layout)
    assert got.schema.simpleString() == (
        "struct<series_id:bigint,tags:map<string,string>,ts:bigint,"
        "value:double,day:int,metric:string>"
    )
    rows = sorted((series(r), r.ts, r.value) for r in got.collect())
    assert [(s, ts) for s, ts, _ in rows] == [(s, ts) for s, ts, _ in samples]
    for (_, _, v), (_, _, want) in zip(rows, samples):
        assert v == want and math.copysign(1, v) == math.copysign(1, want)
    ev = spark.read.parquet(srv.events_path)
    assert ev.schema.simpleString() == (
        "struct<series_id:bigint,tags:map<string,string>,ts:bigint,"
        "body:string,day:int,metric:string>"
    )
    assert sorted((series(r), r.ts, r.body) for r in ev.collect()) == sorted(events)
