"""Two-phase global rank/ntile (operators/ranks.py) must be
bit-identical to the single-window form on any data, including ties,
skewed buckets, and n < k tiles."""

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from stdb_spark.operators.ranks import (
    top_k_ranked,
    two_phase_cumsum,
    two_phase_ntile,
    two_phase_row_number,
)


def _mkdf(spark, rows):
    return spark.createDataFrame(rows, "v double, k long")


ROWS = [
    (float(v), k)
    for k, v in enumerate(
        [5.0, 1.5, 1.5, 9.0, 2.25, 2.25, 2.25, 7.75, 0.0, 3.5, 3.5, 100.0, -4.0]
    )
]


def test_two_phase_row_number_matches_window(spark):
    df = _mkdf(spark, ROWS)
    order = [F.col("v").asc(), F.col("k").asc()]
    got = two_phase_row_number(df, order, F.floor(F.col("v")), out_col="rn")
    want = df.withColumn("rn", F.row_number().over(W.orderBy(*order)).cast("long"))
    assert sorted(got.select("v", "k", "rn").collect()) == sorted(
        want.select("v", "k", "rn").collect()
    )


@pytest.mark.parametrize("n_tiles", [1, 3, 4, 10, 20])
def test_two_phase_ntile_matches_window(spark, n_tiles):
    df = _mkdf(spark, ROWS)
    order = [F.col("v").asc(), F.col("k").asc()]
    got = two_phase_ntile(df, n_tiles, order, F.floor(F.col("v")), out_col="t")
    want = df.withColumn("t", F.ntile(n_tiles).over(W.orderBy(*order)))
    assert sorted(got.select("v", "k", "t").collect()) == sorted(
        want.select("v", "k", "t").collect()
    )


def test_two_phase_ntile_descending_via_negated_bucket(spark):
    df = _mkdf(spark, ROWS)
    order = [F.col("v").desc(), F.col("k").asc()]
    got = two_phase_ntile(df, 4, order, F.floor(-F.col("v")), out_col="t")
    want = df.withColumn("t", F.ntile(4).over(W.orderBy(*order)))
    assert sorted(got.select("v", "k", "t").collect()) == sorted(
        want.select("v", "k", "t").collect()
    )


def test_two_phase_cumsum_matches_window(spark):
    # exact (decimal) running sums: offset + local prefix must be
    # bit-identical to the single-window form, ties and skewed
    # buckets included (VERDICT r10 directive #3)
    df = _mkdf(spark, ROWS)
    order = [F.col("v").desc(), F.col("k").asc()]
    val = F.expr("CAST(v AS DECIMAL(28,6))")
    got = two_phase_cumsum(
        df, val, order, F.floor(-F.col("v")), out_col="cum"
    )
    want = df.withColumn(
        "cum",
        F.sum(val).over(
            W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    assert sorted(got.select("v", "k", "cum").collect()) == sorted(
        want.select("v", "k", "cum").collect()
    )


def test_two_phase_cumsum_single_bucket_and_nulls(spark):
    df = _mkdf(spark, ROWS)
    order = [F.col("v").asc(), F.col("k").asc()]
    val = F.expr("CAST(v AS DECIMAL(28,6))")
    got = two_phase_cumsum(df, val, order, F.lit(0), out_col="cum")
    want = df.withColumn(
        "cum",
        F.sum(val).over(
            W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    assert sorted(got.select("v", "k", "cum").collect()) == sorted(
        want.select("v", "k", "cum").collect()
    )
    # a NULL sort key must abort under the default policy, not drop rows
    withnull = spark.createDataFrame(
        ROWS + [(None, 99)], "v double, k long"
    )
    bad = two_phase_cumsum(
        withnull, val, order, F.floor(F.col("v")), out_col="cum"
    )
    with pytest.raises(Exception):
        bad.collect()


def test_two_phase_single_bucket_degenerates_gracefully(spark):
    # all rows in one bucket: phase 1 IS the global sort (correct,
    # just not scale-split) — results still exact
    df = _mkdf(spark, ROWS)
    order = [F.col("v").asc(), F.col("k").asc()]
    got = two_phase_ntile(df, 4, order, F.lit(0), out_col="t")
    want = df.withColumn("t", F.ntile(4).over(W.orderBy(*order)))
    assert sorted(got.select("v", "k", "t").collect()) == sorted(
        want.select("v", "k", "t").collect()
    )


def test_top_k_ranked(spark):
    df = _mkdf(spark, ROWS)
    order = [F.col("v").desc(), F.col("k").asc()]
    got = top_k_ranked(df, order, 5, out_col="rk").collect()
    assert [(r.v, r.rk) for r in got] == [
        (100.0, 1),
        (9.0, 2),
        (7.75, 3),
        (5.0, 4),
        (3.5, 5),
    ]
    plan = top_k_ranked(df, order, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_two_phase_null_bucket_policies(spark):
    """NULL sort keys: default errors loudly; 'first'/'last' match the
    window form's NULLS FIRST/LAST (ADVICE r4 #2 — no silent drops)."""
    import pytest
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from stdb_spark.operators.ranks import two_phase_ntile, two_phase_row_number

    rows = [(1.0, 0), (None, 1), (5.0, 2), (None, 3), (9.0, 4), (2.0, 5)]
    df = spark.createDataFrame(rows, "v double, k long")

    # default policy: job aborts instead of dropping the NULL rows
    with pytest.raises(Exception, match="NULL bucket|ASSERT|assert"):
        two_phase_row_number(
            df, [F.col("v").asc(), F.col("k").asc()], F.floor(F.col("v"))
        ).collect()

    # asc + nulls-first == the plain window form (Spark asc default)
    order = [F.col("v").asc(), F.col("k").asc()]
    got = two_phase_row_number(
        df, order, F.floor(F.col("v")), out_col="rn", nulls="first"
    )
    want = df.withColumn("rn", F.row_number().over(W.orderBy(*order)).cast("long"))
    key = lambda r: r.k
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert got.count() == len(rows)  # nothing dropped

    # desc + nulls-last == the plain window form (Spark desc default)
    order_d = [F.col("v").desc(), F.col("k").asc()]
    got_d = two_phase_ntile(
        df, 3, order_d, -F.floor(F.col("v")), out_col="t", nulls="last"
    )
    want_d = df.withColumn("t", F.ntile(3).over(W.orderBy(*order_d)))
    assert sorted(got_d.collect(), key=key) == sorted(want_d.collect(), key=key)


def test_label_propagation_hand_computed(spark):
    """Two triangles joined by one bridge edge: 4 deterministic LPA
    rounds (min-label tie-break) converge each triangle to its minimum
    id; the bridge is not enough mass to merge them."""
    from pyspark.sql import functions as F

    from stdb_spark.operators.graph import label_propagation_exact

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "a long, b long",
    )
    out = {r.id: r.community for r in label_propagation_exact(edges, 4).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_label_propagation_kernel_matches_distributed(spark, monkeypatch):
    """The single-task Arrow kernel and the distributed join+window
    loop are bit-equal by construction (identical integer counts +
    (count desc, label asc) pick): prove it on a graph with bridges,
    an isolated triangle, and a hub — forced distributed via
    SINGLE_TASK_MAX_EDGES=0."""
    import random

    from stdb_spark.operators import graph
    from stdb_spark.operators.graph import label_propagation_exact

    rng = random.Random(7)
    nodes = list(range(40))
    edges = set()
    while len(edges) < 70:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "a long, b long")
    kern = {
        r.id: r.community for r in label_propagation_exact(df, 4).collect()
    }
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    dist = {
        r.id: r.community for r in label_propagation_exact(df, 4).collect()
    }
    assert kern == dist
    assert len(kern) == 40


def test_label_propagation_string_ids_and_nulls(spark, monkeypatch):
    """Caller id types ride through both regimes; null endpoints are
    dropped before either regime sees the graph."""
    from stdb_spark.operators import graph
    from stdb_spark.operators.graph import label_propagation_exact

    df = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("p", "q"), (None, "z"), ("x", None)],
        "a string, b string",
    )
    kern = {r.id: r.community for r in label_propagation_exact(df, 3).collect()}
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    dist = {r.id: r.community for r in label_propagation_exact(df, 3).collect()}
    assert kern == dist
    assert kern == {"x": "x", "y": "x", "z": "x", "p": "p", "q": "p"}


def test_graph_plan_helpers_match_operators(spark, monkeypatch):
    """triangle_plan / lpa_round_plan are the un-persisted lineages
    PLANS.md records; their results must match the real operators
    (triangle count; one distributed LPA round)."""
    from stdb_spark.operators import graph
    from stdb_spark.operators.graph import (
        label_propagation_exact,
        lpa_round_plan,
        triangle_count_exact,
        triangle_plan,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4), (2, 4)],
        "a long, b long",
    )
    assert (
        triangle_plan(edges).collect()[0].n_triangles
        == triangle_count_exact(edges).collect()[0].n_triangles
    )
    plan1 = {r.id: r.community for r in lpa_round_plan(edges).collect()}
    monkeypatch.setattr(graph, "SINGLE_TASK_MAX_EDGES", 0)
    loop1 = {
        r.id: r.community
        for r in label_propagation_exact(edges, k_iter=1).collect()
    }
    assert plan1 == loop1
