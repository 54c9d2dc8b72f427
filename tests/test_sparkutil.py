"""``sparkutil.sever_count``: the one-job checkpoint+count must
surface execution errors from that one job, not re-run the plan
through its public fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_sever_count_one_job(spark):
    from mongo_es_spark.sparkutil import sever_count

    j0 = _next_job_id(spark)
    out, n = sever_count(spark.range(100).filter("id % 3 = 0"))
    assert n == 34
    assert _next_job_id(spark) - j0 == 1
    assert out.count() == 34


def test_sever_count_propagates_executor_error(spark):
    from mongo_es_spark.sparkutil import sever_count

    df = spark.range(8).select(
        F.raise_error(F.concat(F.lit("boom-"), F.col("id").cast("string")))
    )
    j0 = _next_job_id(spark)
    with pytest.raises(Exception, match="boom-"):
        sever_count(df)
    # the failing count ran once: no second job re-running the plan
    assert _next_job_id(spark) - j0 == 1
