import pytest
from pyspark.sql import functions as F

from stdb_spark import model
from stdb_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("stdb-tests", master="local[4]", shuffle_partitions=8)
    yield s


def make_samples(spark, rows):
    """rows: (metric, tags dict, ts, value)"""
    data = [(m, t, int(ts), float(v)) for m, t, ts, v in rows]
    df = spark.createDataFrame(
        data, "metric string, tags map<string,string>, ts long, value double"
    )
    return df.withColumn("series_id", model.series_id_col()).select(
        "series_id", "metric", "tags", "ts", "value"
    )


def make_events(spark, rows):
    """rows: (metric, tags dict, ts, body)"""
    data = [(m, t, int(ts), str(b)) for m, t, ts, b in rows]
    df = spark.createDataFrame(
        data, "metric string, tags map<string,string>, ts long, body string"
    )
    return df.withColumn("series_id", model.series_id_col()).select(
        "series_id", "metric", "tags", "ts", "body"
    )


@pytest.fixture(scope="session")
def dense_ramp(spark):
    """F1: 10 series `test tag=Tk`, ts in [100, 1000), value = 0.1*ts."""
    rows = [
        ("test", {"tag": f"T{k}"}, ts, 0.1 * ts)
        for k in range(10)
        for ts in range(100, 1000)
    ]
    return make_samples(spark, rows).cache()


@pytest.fixture(scope="session")
def ties(spark):
    """F1 with ties: 10 series `test tag=Tk`, ts in [100, 1000), values
    repeating every 13 samples, so equal values recur at different ts in
    different 100-ns buckets; a second sample of another value at every
    5th ts and at the last ts of each hundred, so same-ts ties sit on
    bucket edges.  No negative values, so no -0.0/0.0 ties."""
    rows = []
    for k in range(10):
        for ts in range(100, 1000):
            rows.append(("test", {"tag": f"T{k}"}, ts, float((7 * ts + k) % 13)))
            if ts % 5 == 0 or ts % 100 == 99:
                rows.append(("test", {"tag": f"T{k}"}, ts, float((3 * ts + k) % 13)))
    return make_samples(spark, rows).cache()


@pytest.fixture(scope="session")
def multi_metric(spark):
    """F2: m1=0.1*ts, m2=0.2*ts over 5 hosts, ts in [100, 400);
    m2 drops every 3rd point (ts%3==0) — join gap variant."""
    rows = []
    for h in range(5):
        tags = {"host": f"h{h}"}
        for ts in range(100, 400):
            rows.append(("m1", tags, ts, 0.1 * ts))
            if ts % 3 != 0:
                rows.append(("m2", tags, ts, 0.2 * ts))
    return make_samples(spark, rows).cache()
