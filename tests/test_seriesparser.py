import pytest

from stdb_spark.common.seriesparser import (
    SeriesError,
    is_event_metric,
    parse_series_name,
    to_canonical_form,
)


def test_canonical_sorts_tags():
    assert to_canonical_form("cpu  b=2  a=1") == "cpu a=1 b=2"
    assert to_canonical_form("cpu") == "cpu"
    assert to_canonical_form("cpu a=1") == "cpu a=1"


def test_duplicate_tag_last_wins():
    assert to_canonical_form("cpu a=1 a=2") == "cpu a=2"


def test_parse_errors():
    with pytest.raises(SeriesError):
        parse_series_name("")
    with pytest.raises(SeriesError):
        parse_series_name("a=1 b=2")  # missing metric
    with pytest.raises(SeriesError):
        parse_series_name("cpu a=")


def test_event_metric():
    assert is_event_metric("!app.log")
    assert not is_event_metric("app.log")


def test_series_id_col_pinned_on_multi_key_maps(spark):
    """The JVM canonical name and its xxhash64 series id are stored in
    every layout, so their values are pinned: a change to the tag-key
    sort must leave both identical (uppercase before lowercase, "k10"
    before "k2", empty map is the bare metric)."""
    from stdb_spark import model

    rows = [
        ("cpu", {"host": "h1", "dc": "eu", "app": "web"}),
        ("cpu", {"z": "1", "a": "2", "m": "3", "B": "4"}),
        ("mem", {"k10": "x", "k2": "y", "k1": "z"}),
        ("mem", {}),
        ("disk", {"b=": "v w", "a": ""}),
    ]
    df = spark.createDataFrame(rows, "metric string, tags map<string,string>")
    got = [
        (r.n, r.id)
        for r in df.select(
            model.canonical_name_col().alias("n"), model.series_id_col().alias("id")
        ).collect()
    ]
    assert got == [
        ("cpu app=web dc=eu host=h1", -5529805639270822325),
        ("cpu B=4 a=2 m=3 z=1", 7644249068010312911),
        ("mem k1=z k10=x k2=y", -5941278473241340994),
        ("mem", 5606794542696579101),
        ("disk a= b==v w", 7166505195032938429),
    ]
