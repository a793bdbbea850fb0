"""ModelRunner: topological order, materialization, write-audit-skip."""

from __future__ import annotations

from pyspark.sql import functions as F

from canadiannewsdatapipeline_spark.plans.runner import Model, ModelRunner


def test_runner_topo_order_and_materialization(spark, tmp_path):
    models = [
        Model("mart", lambda t: t.groupBy("k").count(), deps=["trans"],
              materialized="table"),
        Model("trans", lambda s: s.withColumn("k", F.col("x") % 2), deps=["stg"]),
        Model("stg", lambda raw: raw.select(F.col("v").alias("x")), deps=["raw"]),
    ]
    runner = ModelRunner(spark, models, warehouse_dir=str(tmp_path))
    assert runner.order() == ["stg", "trans", "mart"]

    raw = spark.createDataFrame([(i,) for i in range(10)], "v long")
    out = runner.run({"raw": raw})
    assert {r.k: r["count"] for r in out["mart"].collect()} == {0: 5, 1: 5}
    # mart was materialized to parquet
    assert (tmp_path / "mart").exists()

    # write-audit-publish: skip_existing reuses the materialized table
    out2 = runner.run({"raw": raw.limit(0)}, skip_existing=True)
    assert out2["mart"].count() == 2


def _counting_upstream(spark, n):
    """(raw frame of n rows, accumulator of rows seen by a mapInPandas
    stage the caller puts upstream of the model under test)."""
    rows = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rows.add(len(pdf))
            yield pdf

    raw = spark.createDataFrame([(i,) for i in range(n)], "v long")
    return raw, lambda df: df.mapInPandas(count_rows, df.schema), rows


def _jobs_in(spark, group, fn):
    """(fn's result, ids of the Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _fanout_models(upstream):
    return [
        Model("up", upstream, deps=["raw"]),
        Model("evens", lambda u: u.filter(F.col("v") % 2 == 0), deps=["up"],
              materialized="table"),
        Model("total", lambda u: u.agg(F.sum("v").alias("s")), deps=["up"],
              materialized="table"),
    ]


def test_runner_fanout_view_runs_upstream_once(spark, tmp_path):
    # "up" feeds two tables: materialized once, so the Python stage
    # upstream of it sees every row exactly once per run(), not once
    # per consumer. Other tests' caches in the shared session are dropped
    # first so the CacheManager check below sees only this run.
    spark.catalog.clearCache()
    raw, upstream, rows = _counting_upstream(spark, 100)
    runner = ModelRunner(spark, _fanout_models(upstream), warehouse_dir=str(tmp_path))
    out = runner.run({"raw": raw})
    assert rows.value == 100
    # every returned frame stays usable after run()
    assert out["raw"].count() == 100
    assert out["up"].count() == 100
    assert out["evens"].count() == 50
    assert out["total"].collect()[0]["s"] == sum(range(100))
    assert rows.value == 100  # reading "up" again reuses the checkpoint
    # localCheckpoint, not a Dataset cache: nothing in the CacheManager
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    runner.run({"raw": raw})
    assert rows.value == 200  # once more per run()


def test_runner_single_consumer_view_stays_lazy(spark):
    raw, upstream, rows = _counting_upstream(spark, 30)
    runner = ModelRunner(
        spark,
        [
            Model("up", upstream, deps=["raw"]),
            Model("evens", lambda u: u.filter(F.col("v") % 2 == 0), deps=["up"]),
        ],
    )
    out, jobs = _jobs_in(spark, "runner-lazy-view", lambda: runner.run({"raw": raw}))
    assert jobs == [] and rows.value == 0
    assert "MapInPandas" in out["up"]._jdf.queryExecution().optimizedPlan().toString()
    assert out["evens"].count() == 15


def test_runner_skipped_consumers_do_not_materialize(spark, tmp_path):
    raw, upstream, rows = _counting_upstream(spark, 40)
    runner = ModelRunner(spark, _fanout_models(upstream), warehouse_dir=str(tmp_path))
    runner.run({"raw": raw})
    assert rows.value == 40

    # both tables exist: skipped, so "up" has no running consumer
    out = runner.run({"raw": raw}, skip_existing=True)
    assert rows.value == 40
    assert "MapInPandas" in out["up"]._jdf.queryExecution().optimizedPlan().toString()
    assert out["evens"].count() == 20

    # one table left to run: "up" has one running consumer, stays lazy
    # and fuses into that table's write
    import shutil

    shutil.rmtree(tmp_path / "total")
    out = runner.run({"raw": raw}, skip_existing=True)
    assert rows.value == 80
    assert "MapInPandas" in out["up"]._jdf.queryExecution().optimizedPlan().toString()
    assert out["total"].collect()[0]["s"] == sum(range(40))
