"""Live TCP ingest front door — the dataserver analog.

Reference: the boost::asio TCP server (stdb/dataserver/tcp_server.h:30-120)
accepts connections and runs a per-connection protocol parser whose
samples go straight to the storage session.  The Spark analog keeps the
same edge/storage split:

- protocol parsing happens on the accept thread (the wire is inherently
  serial per connection — exactly why the reference parses there too),
  using the SAME incremental parsers the batch/streaming paths use
  (sources/resp.RESPStream, the OpenTSDB line grammar);
- parsed samples land in the (day, metric)-partitioned narrow layout in
  micro-batches through the distributed storage writer, so everything
  downstream — the query engine, summary maintenance, streaming
  replay — is identical to file/Kafka ingest.

In a cluster deployment this server is the thin edge tier in front of
Kafka; locally it closes the reference's wire-to-query loop end to end.
There is also a fully Spark-native socket path for the line-oriented
OpenTSDB protocol (streaming/ingest.stream_from_socket) — RESP's
multi-line PDUs need connection-serial framing, which is this module's
job.
"""

from __future__ import annotations

import codecs
import os
import socketserver
import threading

import pyarrow as pa
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stdb_spark.model import wire_to_narrow
from stdb_spark.sources.resp import RESPStream


def _arrow_frame(spark: SparkSession, **columns: pa.Array) -> DataFrame:
    """One DataFrame from typed column arrays.  A ``pa.Table`` takes
    PySpark's Arrow path whatever the session's Arrow setting: the batch
    crosses to the JVM as columnar buffers, not as one pickled row per
    sample, with the column types fixed by the arrays."""
    return spark.createDataFrame(pa.table(columns))


def _raw_to_narrow(
    spark: SparkSession, rows: list, payload: str, dtype: pa.DataType
) -> DataFrame:
    series, ts, values = zip(*rows) if rows else ((), (), ())
    df = _arrow_frame(
        spark,
        series=pa.array(series, pa.string()),
        ts=pa.array(ts, pa.int64()),
        **{payload: pa.array(values, dtype)},
    )
    tokens = F.split(F.col("series"), " ")
    return wire_to_narrow(df, tokens[0], tokens, 2, payload)


def raw_samples_to_narrow(spark: SparkSession, rows: list) -> DataFrame:
    """(series, ts, value) triples -> the narrow fact schema, with the
    metric/tags split done JVM-side (model.wire_to_narrow, as in
    resp.parse_resp_full)."""
    return _raw_to_narrow(spark, rows, "value", pa.float64())


def raw_events_to_narrow(spark: SparkSession, rows: list) -> DataFrame:
    """(series, ts, body) triples -> the narrow event schema (same
    metric/tags split; the value column is the string body instead of a
    double — parse_event_value, protocolparser.cc:409-422)."""
    return _raw_to_narrow(spark, rows, "body", pa.string())


class TcpIngestServer:
    """Threaded TCP acceptor feeding parsed samples into a parquet
    layout.  ``protocol`` is ``"resp"`` (full three-layer RESP:
    dictionary prelude, data-point, row protocol) or ``"opentsdb"``
    (telnet ``put`` lines).  ``port=0`` binds an ephemeral port;
    :meth:`start` returns the bound (host, port).

    Durability contract: samples buffer in memory until
    ``flush_every`` accumulate (or :meth:`flush`/:meth:`stop` is
    called), then append to the layout via the storage writer.  The
    reference's WAL bounds the same window with fsync cadence
    (same trade, different knob).

    Flushes are serialized: every connection's handler flushes inline,
    and two appends into one layout would race on the job commit.  One
    flush writes the sample layout and the event layout as two
    concurrent Spark jobs, one per directory."""

    def __init__(
        self,
        spark: SparkSession,
        layout_path: str,
        protocol: str = "resp",
        host: str = "127.0.0.1",
        port: int = 0,
        flush_every: int = 10_000,
        events_path: str | None = None,
    ):
        if protocol not in ("resp", "opentsdb"):
            raise ValueError(f"unknown protocol {protocol!r}")
        self.spark = spark
        self.layout_path = layout_path
        # `!`-metric samples carry string bodies and land in a sibling
        # event layout (the reference keeps events in the same column
        # store under negative ids; two schemas = two directories here)
        self.events_path = events_path or layout_path + "_events"
        if os.path.normpath(self.events_path) == os.path.normpath(layout_path):
            raise ValueError("events_path must differ from layout_path")
        self.protocol = protocol
        self._addr = (host, port)
        self.flush_every = int(flush_every)
        self._lock = threading.Lock()
        self._flush_lock = threading.Lock()
        self._samples: list[tuple[str, int, float]] = []
        self._events: list[tuple[str, int, str]] = []
        self._lines: list[str] = []
        self._server: socketserver.ThreadingTCPServer | None = None
        self._thread: threading.Thread | None = None
        self.flushed_batches = 0

    # ------------------------------------------------------------ wire
    def _handle_resp(self, rfile) -> None:
        stream = RESPStream()
        # incremental decoder: a multi-byte UTF-8 character split across
        # a 64 KB read boundary carries over instead of raising (and
        # ThreadingTCPServer would swallow that raise, silently dropping
        # the rest of the connection's samples)
        decoder = codecs.getincrementaldecoder("utf-8")()
        while True:
            chunk = rfile.read1(65536)
            if not chunk:
                break
            stream.feed(decoder.decode(chunk))
            if stream.out:
                with self._lock:
                    for s in stream.out:
                        if s.body is not None:
                            self._events.append((s.series, s.ts, s.body))
                        else:
                            self._samples.append((s.series, s.ts, s.value))
                stream.out.clear()
                self._maybe_flush()

    def _handle_opentsdb(self, rfile) -> None:
        for raw in rfile:
            line = raw.decode("utf-8").strip()
            if line:
                with self._lock:
                    self._lines.append(line)
                self._maybe_flush()

    # --------------------------------------------------------- storage
    def _maybe_flush(self) -> None:
        with self._lock:
            pending = len(self._samples) + len(self._events) + len(self._lines)
        if pending >= self.flush_every:
            self.flush()

    def pending_count(self) -> int:
        """Samples/events/lines buffered but not yet flushed (for
        callers that want to await a known payload before stopping)."""
        with self._lock:
            return len(self._samples) + len(self._events) + len(self._lines)

    def flush(self) -> int:
        """Append everything buffered to the layouts; returns row count.

        The event write runs on its own thread while the calling thread
        writes the samples: the two jobs land in different directories.
        The event thread is always joined, and the first error raised."""
        from stdb_spark.sources import storage
        from stdb_spark.sources.opentsdb import parse_opentsdb_lines

        with self._flush_lock:
            with self._lock:
                samples, self._samples = self._samples, []
                events, self._events = self._events, []
                lines, self._lines = self._lines, []
            event_error: list[BaseException] = []

            def write_events() -> None:
                try:
                    # same (day, metric)-partitioned writer — the sort and
                    # cluster keys exist on both schemas; only the payload
                    # column differs
                    edf = raw_events_to_narrow(self.spark, events)
                    storage.write_samples(edf, self.events_path, mode="append")
                except BaseException as exc:  # noqa: BLE001 - re-raised by flush
                    event_error.append(exc)

            writer = None
            if events:
                writer = InheritableThread(write_events, name="tcp-flush-events")
                writer.start()
            try:
                if samples:
                    df = raw_samples_to_narrow(self.spark, samples)
                    storage.write_samples(df, self.layout_path, mode="append")
                if lines:
                    df = parse_opentsdb_lines(_arrow_frame(
                        self.spark, value=pa.array(lines, pa.string())
                    ))
                    storage.write_samples(df, self.layout_path, mode="append")
            finally:
                if writer is not None:
                    writer.join()
            if event_error:
                raise event_error[0]
            n = len(samples) + len(events) + len(lines)
            if n:
                self.flushed_batches += 1
            return n

    # --------------------------------------------------------- control
    def start(self) -> tuple[str, int]:
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:  # pragma: no cover - thread body
                if outer.protocol == "resp":
                    outer._handle_resp(self.rfile)
                else:
                    outer._handle_opentsdb(self.rfile)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server(self._addr, Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address

    def stop(self, flush: bool = True) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
        if flush:
            self.flush()
