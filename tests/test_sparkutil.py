"""``sparkutil.checkpoint_with``: one eager checkpoint job materializes
the frame and delivers its observed aggregates, surfaces execution
errors from that one job, and stays the library's only materialize-
and-measure path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_es_spark.sparkutil import checkpoint_with


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_checkpoint_with_one_job(spark):
    j0 = _next_job_id(spark)
    out, m = checkpoint_with(
        spark.range(100).filter("id % 3 = 0"), n=F.count("*")
    )
    assert m == {"n": 34}
    assert _next_job_id(spark) - j0 == 1
    assert out.count() == 34


def test_checkpoint_with_several_metrics(spark):
    df = spark.range(1, 11).withColumn("odd", (F.col("id") % 2).cast("int"))
    j0 = _next_job_id(spark)
    out, m = checkpoint_with(
        df,
        n=F.count("*"),
        top=F.max("id"),
        total=F.sum("id"),
        odd=F.sum("odd"),
        mean=F.avg("id"),
    )
    assert _next_job_id(spark) - j0 == 1
    assert m == {"n": 10, "top": 10, "total": 55, "odd": 5, "mean": 5.5}
    assert sorted(r["id"] for r in out.collect()) == list(range(1, 11))


def test_checkpoint_with_empty_frame(spark):
    df = spark.range(10).filter("id < 0")
    out, m = checkpoint_with(df, n=F.count("*"), top=F.max("id"))
    # the same values df.agg(...).head() gives on an empty frame
    assert m == {"n": 0, "top": None}
    assert df.agg(F.count("*"), F.max("id")).head() == (0, None)
    assert out.count() == 0


def test_checkpoint_with_propagates_executor_error(spark):
    df = spark.range(8).select(
        F.raise_error(F.concat(F.lit("boom-"), F.col("id").cast("string")))
    )
    j0 = _next_job_id(spark)
    with pytest.raises(Exception, match="boom-"):
        checkpoint_with(df, n=F.count("*"))
    # the failing checkpoint ran once and nothing waited on its metrics
    assert _next_job_id(spark) - j0 == 1


def test_observation_only_in_sparkutil():
    """One materialize-and-measure primitive: the library builds an
    ``Observation`` only in ``sparkutil.py`` and never reaches for the
    internal ``toRdd`` handle."""
    import ast
    import pathlib

    import mongo_es_spark

    root = pathlib.Path(mongo_es_spark.__file__).parent
    observations, to_rdd = set(), set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "toRdd":
                to_rdd.add(rel)
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(
                    fn, "attr", None
                )
                if name == "Observation":
                    observations.add(rel)
    assert to_rdd == set()
    assert observations == {"sparkutil.py"}
