"""OpenTSDB telnet line protocol -> narrow samples.

Reference: OpenTSDBProtocolParser (stdb/protocol/protocolparser.h:287-327)
parses ``put <metric> <timestamp> <value> <tag>=<v> ...`` where the
timestamp is seconds (10 digits) or milliseconds (13 digits).

Implemented as pure column expressions over a DataFrame of lines —
batch (spark.read.text) and streaming (spark.readStream) share the same
transformation, so the TCP ingest path is a readStream swap away.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stdb_spark.model import wire_to_narrow


def _ts_to_ns(ts: Column) -> Column:
    """seconds (<=10 digits) or milliseconds (13 digits) -> ns."""
    return (
        F.when(F.length(ts) > 10, ts.cast("long") * 1_000_000)
        .otherwise(ts.cast("long") * 1_000_000_000)
        .cast("long")
    )


def parse_opentsdb_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """lines(value string) -> samples(series_id, metric, tags, ts, value).

    Malformed lines are dropped (the reference raises a protocol error
    and closes the connection; in a batch pipeline dropping + counting
    is the operable equivalent).
    """
    parts = F.split(F.trim(F.col(value_col)), r"\s+")
    df = (
        lines.select(parts.alias("p"))
        .filter((F.col("p")[0] == "put") & (F.size("p") >= 4))
        .select(
            "p",
            _ts_to_ns(F.col("p")[2]).alias("ts"),
            F.col("p")[3].cast("double").alias("value"),
        )
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
    )
    return wire_to_narrow(df, F.col("p")[1], F.col("p"), 5, "value")
