"""Seeded synthetic TSDB: a regular 10-minute grid of samples for every
(metric, host) series over a few weeks, plus one `!log` event stream
per host.  The same seed gives the same tables.

Series names are ``<metric> host=hNNN region=rN``.  Metric names are
dot-free: the engine's join and group-aggregate-join paths address the
pivoted metric columns with ``F.col(m)``, which reads a dotted name
such as ``cpu.user`` as a struct field.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
MIN_NS = 60 * NS
HOUR_NS = 60 * MIN_NS
DAY_NS = 24 * HOUR_NS
T0_NS = 1_704_067_200 * NS  # 2024-01-01T00:00:00Z

METRICS = ("cpu_user", "cpu_sys", "mem_used", "net_rx", "net_tx", "disk_busy")
EVENT_METRIC = "!log"
EVENT_BODIES = (
    "disk error on sda",
    "timeout after 30s",
    "restart requested",
    "health check ok",
    "gc pause 120ms",
    "connection reset by peer",
    "config reloaded",
    "oom killer invoked",
)


@dataclass(frozen=True)
class TsdbSpec:
    hosts: int = 30
    regions: int = 4
    days: int = 7
    step_ns: int = 10 * MIN_NS
    events_per_host_day: int = 24

    @property
    def samples(self) -> int:
        return len(METRICS) * self.hosts * self.days * (DAY_NS // self.step_ns)

    @property
    def series(self) -> int:
        return len(METRICS) * self.hosts

    @property
    def end_ns(self) -> int:
        return T0_NS + self.days * DAY_NS


TINY = TsdbSpec(hosts=6, days=3, step_ns=15 * MIN_NS, events_per_host_day=12)


def host(i: int) -> str:
    return f"h{i:03d}"


def region_of(i: int, spec: TsdbSpec) -> str:
    return f"r{i % spec.regions}"


def write_plain(seed: int, spec: TsdbSpec, samples_path: str, events_path: str) -> None:
    """Write the unpartitioned samples (metric, host, region, ts, value)
    and events (metric, host, region, ts, body) as single parquet
    files.  Values are random walks rounded to 2 decimals."""
    rng = np.random.default_rng(seed)
    per = spec.days * (DAY_NS // spec.step_ns)
    grid = T0_NS + np.arange(per, dtype=np.int64) * spec.step_ns
    cols: dict[str, list] = {k: [] for k in ("metric", "host", "region", "ts", "value")}
    for m_i, m in enumerate(METRICS):
        for h in range(spec.hosts):
            base = 20.0 + 10.0 * m_i + rng.uniform(0, 30)
            walk = np.cumsum(rng.normal(0.0, 1.0, per))
            cols["metric"].append(np.full(per, m, dtype=object))
            cols["host"].append(np.full(per, host(h), dtype=object))
            cols["region"].append(np.full(per, region_of(h, spec), dtype=object))
            # per-series offset under one step keeps every series on
            # its own regular grid; hosts share the grid so joins align
            cols["ts"].append(grid + h * NS)
            cols["value"].append(np.round(base + walk, 2))
    pq.write_table(
        pa.table({k: np.concatenate(v) for k, v in cols.items()}), samples_path
    )

    n_ev = spec.hosts * spec.days * spec.events_per_host_day
    ev_host = rng.integers(0, spec.hosts, n_ev)
    ev_ts = T0_NS + np.sort(rng.integers(0, spec.days * DAY_NS // NS, n_ev)) * NS
    # one event per (host, second): the engine's (series, ts) order is
    # total only when timestamps are distinct within a series
    ev_ts = ev_ts + ev_host * 1000
    body = np.array(EVENT_BODIES, dtype=object)[rng.integers(0, len(EVENT_BODIES), n_ev)]
    pq.write_table(
        pa.table(
            {
                "metric": np.full(n_ev, EVENT_METRIC, dtype=object),
                "host": np.array([host(int(h)) for h in ev_host], dtype=object),
                "region": np.array([region_of(int(h), spec) for h in ev_host], dtype=object),
                "ts": ev_ts.astype(np.int64),
                "body": body,
            }
        ),
        events_path,
    )


def narrow(spark, path: str):
    """Plain samples/events file -> the engine's narrow schema
    (series_id, metric, tags, ts, value|body)."""
    from pyspark.sql import functions as F

    from stdb_spark import model

    df = spark.read.parquet(path)
    payload = "value" if "value" in df.columns else "body"
    tags = F.create_map(F.lit("host"), F.col("host"), F.lit("region"), F.col("region"))
    df = df.select("metric", tags.alias("tags"), "ts", payload)
    return df.withColumn("series_id", model.series_id_col()).select(
        "series_id", "metric", "tags", "ts", payload
    )
