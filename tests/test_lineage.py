"""Checkpoint/resume + lineage metrics contract."""

import pytest
from pyspark.sql import functions as F

from coastsat_spark.plans import lineage as L


@pytest.fixture
def root(tmp_path):
    return str(tmp_path / "checkpoints")


def test_checkpoint_computes_once(spark, root):
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).withColumn("v", F.col("id") * 2)

    a = L.checkpoint(spark, "stage1", "fp1", build, root=root)
    b = L.checkpoint(spark, "stage1", "fp1", build, root=root)
    assert a.count() == b.count() == 100
    assert len(calls) == 1  # second call resumed from checkpoint


def test_fingerprint_change_recomputes(spark, root):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10)

    L.checkpoint(spark, "stage1", "fpA", build, root=root)
    L.checkpoint(spark, "stage1", "fpB", build, root=root)
    assert len(calls) == 2


def test_resume_filter_skips_processed(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    done = spark.range(0, 60).withColumnRenamed("id", "k")
    out = L.resume_filter(df, done, ["k"])
    assert out.count() == 40
    assert L.resume_filter(df, None, ["k"]).count() == 100


def test_partition_metrics_cover_all_rows(spark):
    df = spark.range(0, 10_000, numPartitions=8).withColumnRenamed("id", "k")
    m = L.partition_metrics(df, "scan", "k").toPandas()
    assert m["n_rows"].sum() == 10_000
    assert m["partition_id"].nunique() == 8
    assert (m["wall_ms"] >= 0).all()


def test_run_with_lineage(spark, root):
    out, lin = L.run_with_lineage(
        spark, "s2", "fp", lambda: spark.range(1000), key_col="id", root=root
    )
    assert out.count() == 1000
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == 1000
