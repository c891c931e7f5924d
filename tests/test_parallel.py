"""ensure_min_parallelism: repartitions a starved scan, stays lazy on
plans without an RDD, and lets any other error through."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JError

from tsv_utils_spark.functions.parallel import ensure_min_parallelism


class _NoRdd:
    """A DataFrame stand-in whose ``rdd`` raises ``exc``."""

    def __init__(self, spark, exc):
        self.sparkSession = spark
        self._exc = exc

    @property
    def rdd(self):
        raise self._exc


def test_starved_input_is_repartitioned(spark):
    assert ensure_min_parallelism(spark.range(0, 10, 1, 1), target=8) \
        .rdd.getNumPartitions() == 8
    df = spark.range(0, 10, 1, 4)
    assert ensure_min_parallelism(df, target=8) is df


@pytest.mark.parametrize("exc", [AttributeError("no rdd"),
                                 Py4JError("no JVM plan")])
def test_plan_without_rdd_stays_lazy(spark, exc):
    df = _NoRdd(spark, exc)
    assert ensure_min_parallelism(df, target=8) is df


def test_unexpected_error_propagates(spark):
    with pytest.raises(RuntimeError, match="boom"):
        ensure_min_parallelism(_NoRdd(spark, RuntimeError("boom")), target=8)
