"""ingest_tcp: one connection streams seeded RESP traffic into
``TcpIngestServer`` while a second client thread reads fresh data.

Traffic: a dictionary prelude, then data-point messages (by name and by
dictionary id), row-protocol messages carrying two metrics, ~5% `!log`
events, and one `probe host=p0` sample every PROBE_EVERY messages.

Phases, all on the same connection:

0. prime (set-up): one flush worth of samples, unpaced, then one
   untimed read: the layout exists and the write and read paths are
   compiled before the timed phases;
1. paced: ``--seconds`` of open loop at PACED_RATE samples/s (below
   capacity).  The reader issues READS fresh-data queries evenly over
   this phase, each timed from when it was due, and one more once every
   paced sample is flushed.  The probe samples give the workload's
   latency: visibility, from sending a sample until a read returns it;
2. burst: once the last read is done, BURST_SAMPLES unpaced, timed
   from its first byte until the last sample is flushed (capacity);
3. maintenance: ``update_summary_incremental`` for the touched days,
   then ``compact_partitions``.

The check reads the compacted layout and the event layout back and
compares counts and order-insensitive checksums with what was sent.
"""

from __future__ import annotations

import os
import random
import socket
import threading
import time
import zlib

import harness
import query_mix
import tsdb
from tsdb import DAY_NS, METRICS, NS

HOSTS = 20
PACED_RATE = 3000  # samples/s
BURST_SAMPLES = 20_000  # two flushes
FLUSH_EVERY = 10_000  # the server's default
READS = 12  # over the paced phase, plus one once it is flushed
PROBE_EVERY = 40
EVENT_SHARE = 0.05
TICK_S = 0.05
# data clock: starts 40 minutes before a midnight so the stream touches
# two day partitions; 60 ms of data time per message
DATA_T0 = tsdb.T0_NS + 30 * DAY_NS - 40 * 60 * NS
DATA_STEP = 60_000_000


class Wire:
    """The seeded message stream.  ``prime``, ``paced`` and ``burst``
    hold (bytes, samples, probe ts or None) per message; ``numeric``
    and ``events`` record every sample sent, (series, ts, value or
    body), for the read-back check."""

    def __init__(self, seed: int, prime_samples: int, paced_samples: int, burst_samples: int):
        rng = random.Random(seed)
        names = [f"{m} host=h{h:03d} region=r{h % 4}" for m in METRICS for h in range(HOSTS)]
        dict_ids = {n: i + 1 for i, n in enumerate(names) if i % 2 == 0}
        prelude = [f"*{2 * len(dict_ids)}"]
        for n, i in dict_ids.items():
            prelude += [f"+{n}", f":{i}"]
        self.prelude = ("\r\n".join(prelude) + "\r\n").encode()
        self.numeric: list[tuple[str, int, float]] = []
        self.events: list[tuple[str, int, str]] = []
        self.prime: list[tuple[bytes, int, int | None]] = []
        self.paced: list[tuple[bytes, int, int | None]] = []
        self.burst: list[tuple[bytes, int, int | None]] = []
        clock = DATA_T0
        n_msg = 0
        phases = [(self.prime, prime_samples), (self.paced, paced_samples),
                  (self.burst, burst_samples)]
        target, quota = phases.pop(0)
        count = 0
        while True:
            while count >= quota:
                if not phases:
                    break
                (target, quota), count = phases.pop(0), 0
            if count >= quota:
                break
            clock += DATA_STEP
            n_msg += 1
            ts = clock
            if target is self.paced and n_msg % PROBE_EVERY == 0:
                v = round(rng.uniform(0, 100), 2)
                name = "probe host=p0 region=r0"
                self.numeric.append((name, ts, v))
                target.append((f"+{name}\r\n:{ts}\r\n+{v}\r\n".encode(), 1, ts))
                count += 1
                continue
            roll = rng.random()
            h = rng.randrange(HOSTS)
            tags = f"host=h{h:03d} region=r{h % 4}"
            if roll < EVENT_SHARE:
                body = rng.choice(tsdb.EVENT_BODIES)
                self.events.append((f"!log {tags}", ts, body))
                target.append((f"+!log {tags}\r\n:{ts}\r\n+{body}\r\n".encode(), 1, None))
                count += 1
            elif roll < 0.3 and quota - count >= 2:
                m1, m2 = rng.choice((("cpu_user", "cpu_sys"), ("net_rx", "net_tx")))
                v1, v2 = round(rng.uniform(0, 100), 2), round(rng.uniform(0, 100), 2)
                self.numeric += [(f"{m1} {tags}", ts, v1), (f"{m2} {tags}", ts, v2)]
                target.append((f"+{m1}|{m2} {tags}\r\n:{ts}\r\n*2\r\n+{v1}\r\n+{v2}\r\n".encode(),
                               2, None))
                count += 2
            else:
                name = f"{rng.choice(METRICS)} {tags}"
                v = round(rng.uniform(0, 100), 2)
                self.numeric.append((name, ts, v))
                head = f":{dict_ids[name]}" if name in dict_ids else f"+{name}"
                target.append((f"{head}\r\n:{ts}\r\n+{v}\r\n".encode(), 1, None))
                count += 1
        self.days = sorted({ts // DAY_NS for _, ts, _ in self.numeric})
        # every phase holds exactly its quota: the drain before the
        # burst knows how many samples to wait for
        self.before_burst = prime_samples + paced_samples
        self.paced_s = paced_samples / PACED_RATE
        self.wire_bytes = len(self.prelude) + sum(
            len(b) for b, _, _ in self.prime + self.paced + self.burst)


def checksum(rows) -> tuple[int, int, int, int]:
    """(count, sum crc32(series), sum ts, sum round(value*100))."""
    n = c = t = v = 0
    for name, ts, val in rows:
        n += 1
        c += zlib.crc32(name.encode())
        t += ts
        v += round(val * 100) if isinstance(val, float) else zlib.crc32(val.encode())
    return n, c, t, v


def spark_checksum(spark, path: str, payload: str) -> tuple[int, int, int, int]:
    from pyspark.sql import functions as F

    from stdb_spark import model

    df = spark.read.parquet(path)
    name = model.canonical_name_col()
    val = (F.round(F.col("value") * 100).cast("long") if payload == "value"
           else F.crc32(F.col("body").cast("binary")))
    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.crc32(name.cast("binary")).cast("decimal(38,0)")),
        F.sum(F.col("ts").cast("decimal(38,0)")),
        F.sum(val.cast("decimal(38,0)")),
    ).first()
    return tuple(int(x or 0) for x in row)


class Client:
    """Sends the stream on one connection; records when each probe was
    sent, how long sendall blocked and how late the paced sends ran."""

    def __init__(self, addr, wire: Wire):
        self.sock = socket.create_connection(addr)
        self.wire = wire
        self.probe_sent: dict[int, float] = {}
        self.blocked_s = 0.0
        self.max_late_s = 0.0
        self.burst_t0 = None

    def _send(self, data: bytes) -> None:
        t = time.perf_counter()
        self.sock.sendall(data)
        self.blocked_s += time.perf_counter() - t

    def run(self, go: threading.Event, paced_sent: threading.Event,
            drained: threading.Event) -> None:
        try:
            self._send(self.wire.prelude + b"".join(b for b, _, _ in self.wire.prime))
            if not go.wait(timeout=120):
                raise TimeoutError("the prime batch was never flushed")
            msgs = self.wire.paced
            per_tick = max(1, int(PACED_RATE * TICK_S))
            t0 = time.perf_counter()
            i = tick = 0
            while i < len(msgs):
                due = t0 + tick * TICK_S
                now = time.perf_counter()
                if now < due:
                    time.sleep(due - now)
                self.max_late_s = max(self.max_late_s, now - due)
                buf, n = [], 0
                while i < len(msgs) and n < per_tick:
                    b, k, probe = msgs[i]
                    buf.append(b)
                    n += k
                    if probe is not None:
                        self.probe_sent[probe] = time.perf_counter()
                    i += 1
                self._send(b"".join(buf))
                tick += 1
            paced_sent.set()
            if not drained.wait(timeout=120):
                raise TimeoutError("the paced samples were never flushed")
            self.burst_t0 = time.perf_counter()
            data = b"".join(b for b, _, _ in self.wire.burst)
            for off in range(0, len(data), 1 << 16):
                self._send(data[off:off + (1 << 16)])
        finally:
            self.sock.close()


PROBE_QUERY = {"kind": "select", "metric": "probe", "hosts": ["p0"], "begin": DATA_T0,
               "end": DATA_T0 + DAY_NS * 3}


def _read(ctx, layout: str, op: int, traced: bool):
    """One fresh-data read: bind an Engine to the layout as it is now
    (the file listing is part of the read) and fetch the probe rows."""
    from stdb_spark.engine import Engine

    engine = Engine(ctx.spark, samples=ctx.spark.read.parquet(layout))
    return query_mix.run_query(ctx, engine, PROBE_QUERY, op, traced)


def _reader(ctx, layout: str, dues: list[float], client: Client,
            sent_probes: dict, out: dict) -> None:
    """One fresh-data read at each due time (perf_counter seconds)."""
    for due in dues:
        i = len(out["latency"]) + out["failed"]
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        try:
            _, rows, rec = _read(ctx, layout, 10_000 + i, ctx.trace)
        except Exception as exc:  # noqa: BLE001 - a failed read is counted, not fatal
            print(f"read {i} failed: {exc!r}"[:500], flush=True)
            out["failed"] += 1
            continue
        done = time.perf_counter()
        out["latency"].append(done - due)
        if ctx.trace:
            out["recs"].append(rec)
        for _series, ts, value in rows:
            if sent_probes.get(ts) != value:
                out["wrong"] += 1
                continue
            if ts not in out["seen"] and ts in client.probe_sent:
                out["seen"].add(ts)
                out["visible"].append(done - client.probe_sent[ts])


def ingest_once(ctx, wire: Wire, root: str) -> dict:
    """Run the phases into fresh layouts under ``root``."""
    from stdb_spark.sources import storage
    from stdb_spark.sources.tcp import TcpIngestServer

    layout = os.path.join(root, "layout")
    srv = TcpIngestServer(ctx.spark, layout, protocol="resp", flush_every=FLUSH_EVERY,
                          events_path=os.path.join(root, "events"))
    handler_done = threading.Event()
    first_flush = threading.Event()
    paced_sent = threading.Event()
    drained = threading.Event()
    flushed = [0]
    flush_lock = threading.Lock()
    handle, flush = srv._handle_resp, srv.flush

    def handle_and_signal(rfile):
        try:
            handle(rfile)
        finally:
            handler_done.set()

    def flush_and_signal():
        # the handler's inline flushes and the drain below must not
        # append to the layout at the same time
        with flush_lock:
            n = flush()
            flushed[0] += n
        if n:
            first_flush.set()
        return n

    srv._handle_resp = handle_and_signal
    srv.flush = flush_and_signal
    addr = srv.start()
    client = Client(addr, wire)
    out = {"latency": [], "visible": [], "recs": [], "failed": 0, "wrong": 0,
           "seen": set()}
    sent_probes = {ts: v for name, ts, v in wire.numeric if name.startswith("probe ")}
    go = threading.Event()
    sender = threading.Thread(target=client.run, args=(go, paced_sent, drained),
                              name="resp-client")
    reader = None
    try:
        sender.start()
        if not first_flush.wait(timeout=120):
            raise TimeoutError("the prime batch was never flushed")
        _read(ctx, layout, -1, False)  # warm the read path on the primed layout
        t_go = time.perf_counter()
        ctx.tracer.active = ctx.trace
        go.set()
        period = wire.paced_s / READS
        reader = threading.Thread(
            target=_reader, name="reader",
            args=(ctx, layout, [t_go + i * period for i in range(READS)], client,
                  sent_probes, out))
        reader.start()
        # drain: once every paced sample is parsed, flush the remainder,
        # so the burst starts on an empty buffer
        if not paced_sent.wait(timeout=120):
            raise TimeoutError("the paced phase did not end")
        deadline = time.perf_counter() + 120
        while flushed[0] + srv.pending_count() < wire.before_burst:
            if time.perf_counter() > deadline:
                raise TimeoutError("the server did not parse the paced samples")
            time.sleep(0.01)
        srv.flush()
        # the reads end with one that sees every paced sample, and the
        # burst runs alone: no read competes with it
        reader.join()
        _reader(ctx, layout, [time.perf_counter()], client, sent_probes, out)
        drained.set()
        sender.join()
        if not handler_done.wait(timeout=150):
            raise TimeoutError("ingest handler did not drain the connection")
        srv.flush()
        burst_t1 = time.perf_counter()
    finally:
        if reader is not None and reader.is_alive():
            reader.join()
        srv.stop(flush=False)
        go.set()
        drained.set()
    pre_files, pre_bytes, pre_parts = harness.dir_stats(layout)
    ev_files, ev_bytes, _ = harness.dir_stats(srv.events_path)
    t = time.perf_counter()
    storage.update_summary_incremental(ctx.spark, layout, os.path.join(root, "summary"),
                                       [int(d) for d in wire.days])
    t_sum = time.perf_counter() - t
    compacted = os.path.join(root, "compacted")
    storage.compact_partitions(ctx.spark, layout, compacted)
    maintenance = time.perf_counter() - t
    _, post_bytes, _ = harness.dir_stats(compacted)
    ctx.tracer.active = False
    out.update(
        t_go=t_go,
        burst_s=burst_t1 - client.burst_t0,
        blocked_s=client.blocked_s,
        paced_max_late_s=client.max_late_s,
        maintenance_s=maintenance,
        summary_update_s=t_sum,
        compact_s=maintenance - t_sum,
        layout={"files": pre_files, "bytes": pre_bytes, "partitions": pre_parts,
                "event_files": ev_files, "event_bytes": ev_bytes},
        compacted_bytes=post_bytes,
        compacted=compacted,
        events_path=srv.events_path,
    )
    return out


def run(ctx) -> dict:
    tiny = ctx.tiny
    scale = 0.1 if tiny else 1.0
    # whole flushes, so the paced phase ends on a flush boundary
    paced_n = FLUSH_EVERY * max(1, round(PACED_RATE * ctx.seconds / FLUSH_EVERY))
    wire = Wire(ctx.seed, FLUSH_EVERY, paced_n, int(BURST_SAMPLES * scale))
    res = ingest_once(ctx, wire, os.path.join(ctx.work, "run"))
    setup_s = res["t_go"] - ctx.t_start

    # read-back check: compacted samples and the event layout
    failed = res["failed"] + res["wrong"]
    want_s, want_e = checksum(wire.numeric), checksum(wire.events)
    got_s = spark_checksum(ctx.spark, res["compacted"], "value")
    got_e = spark_checksum(ctx.spark, res["events_path"], "body")
    if ctx.corrupt:
        want_s = (want_s[0] + 1,) + want_s[1:]
    readback_ok = got_s == want_s and got_e == want_e
    if not readback_ok:
        failed += 1
        print(f"read-back mismatch: samples {got_s} vs {want_s}; events {got_e} vs {want_e}",
              flush=True)
    burst_samples = sum(k for _, k, _ in wire.burst)
    lat, vis = res["latency"], res["visible"]
    vpct, vtail = harness.tail(vis) if vis else (50.0, float("nan"))
    n_numeric = len(wire.numeric)
    rpct, rtail = harness.tail(lat) if lat else (50.0, float("nan"))
    derived = {
        "ingest.read_p50_ms": 1e3 * harness.percentile(lat, 50) if lat else float("nan"),
        "ingest.read_tail_ms": 1e3 * rtail,
        "ingest.maintenance_s": res["maintenance_s"],
        "ingest.bytes_per_sample": res["compacted_bytes"] / n_numeric,
    }
    out = {
        "setup_s": setup_s,
        "attempted": READS + 2,
        "failed": failed,
        "e2e": {
            "latency_p50_ms": 1e3 * harness.percentile(vis, 50) if vis else float("nan"),
            "latency_tail_ms": 1e3 * vtail,
            "throughput_per_s": burst_samples / res["burst_s"],
        },
        "report": {
            "latency": {"what": "visibility: probe sample sent until a read returns it",
                        "samples": len(vis), "tail_percentile": vpct},
            "throughput": "samples/s in the unpaced burst, first byte to last flush",
            "reads": {"what": "fresh-data query, due time until rows fetched",
                      "samples": len(lat), "tail_percentile": rpct,
                      "schedule_s": wire.paced_s / READS},
            **{k.split(".", 1)[1]: v for k, v in derived.items()},
            "wire": {"paced_rate": PACED_RATE, "paced_samples": paced_n,
                     "paced_max_late_s": res["paced_max_late_s"],
                     "burst_samples": burst_samples, "numeric_samples": n_numeric,
                     "events": len(wire.events), "wire_mb": wire.wire_bytes / 1e6,
                     "wire_bytes_per_sample": wire.wire_bytes / (n_numeric + len(wire.events)),
                     "flush_every": FLUSH_EVERY, "days_touched": len(wire.days)},
            "layout": res["layout"],
            "check": {"readback_ok": readback_ok, "wrong_probe_rows": res["wrong"]},
        },
    }
    if ctx.trace:
        tr = ctx.tracer
        stats = ctx.stats.read([g for r in res["recs"] for g in r["groups"]])
        for r in res["recs"]:
            r["build"], r["fetch"] = (stats[g] for g in r["groups"])
        layers = query_mix.query_layers(res["recs"], ctx.cores)
        n = max(len(res["recs"]), 1)
        reader_spans = [s for s in tr.spans if s["op"] is not None and s["op"] >= 10_000]
        layers.update(derived)
        layers.update({
            "parser.parse_ms": 1e3 * tr.total("parser") / n,
            "resp.feed_s": tr.total("resp.feed"),
            "resp.samples": n_numeric + len(wire.events),
            "tcp.flush_s": tr.total("tcp.flush"),
            "tcp.flushes": len(tr.durations("tcp.flush")),
            "tcp.to_narrow_s": tr.total("tcp.to_narrow"),
            "tcp.client_blocked_s": res["blocked_s"],
            "storage.write_s": tr.total("storage.write"),
            "storage.files_written": res["layout"]["files"] + res["layout"]["event_files"],
            "storage.bytes_written": res["layout"]["bytes"] + res["layout"]["event_bytes"],
            "storage.files_per_partition": res["layout"]["files"] / max(res["layout"]["partitions"], 1),
            "storage.summary_update_s": res["summary_update_s"],
            "storage.compact_s": res["compact_s"],
            "storage.compact_bytes_rewritten": res["layout"]["bytes"],
            "trace.overhead_p50_ms": 1e3 * harness.span_cost_s() * len(reader_spans) / n,
        })
        out["layers"] = layers
    return out
