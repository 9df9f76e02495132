"""stdb_spark.profile: what one profiled window reports."""

import time

import pandas as pd
from pyspark.sql import functions as F

from stdb_spark.profile import Profiler


def test_shuffle_query_counts_jobs_stages_tasks_and_shuffle_bytes(spark):
    rec = Profiler(spark).run(
        lambda: spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
    )
    assert rec["jobs"] >= 1
    assert rec["stages"] >= 2
    assert rec["tasks"] > 0
    assert rec["shuffle_write_bytes"] > 0
    assert rec["build_jobs"] == 0
    assert rec["wall_ms"] >= rec["build_ms"] + rec["plan_ms"]


def test_pandas_udf_query_reports_python_time(spark):
    @F.pandas_udf("double")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1.0

    rec = Profiler(spark).run(
        lambda: spark.range(1000).select(plus_one(F.col("id").cast("double")))
    )
    assert rec["python_ms"] > 0


def test_stream_run_inside_the_window_is_attributed(spark, tmp_path):
    """A stream's micro-batches run on its stream thread under the
    query's own job group; the window still counts them."""
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.range(1000).selectExpr("id", "id % 5 AS k").write.parquet(src)

    def replay():
        child = spark.newSession()
        q = (
            child.readStream.schema("id long, k long").parquet(src)
            .groupBy("k").count()
            .writeStream.format("memory").queryName("profile_stream_sink")
            .outputMode("complete").option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return child.table("profile_stream_sink")

    rec = Profiler(spark).run(replay)
    assert rec["build_jobs"] >= 1
    assert rec["executor_run_ms"] > 0


def test_job_launched_while_building_counts_under_build(spark):
    def build():
        df = spark.range(100)
        df.count()
        return df

    rec = Profiler(spark).run(build)
    assert rec["build_jobs"] >= 1
    assert rec["jobs"] > rec["build_jobs"]


def test_new_literals_on_a_compiled_session_count_classes(spark):
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "true"
    lit = time.time_ns() % 1_000_000_007
    rec = Profiler(spark).run(
        lambda: spark.range(100).select((F.col("id") * lit + 17).alias("x")).filter("x > 3")
    )
    assert rec["classes"] > 0
