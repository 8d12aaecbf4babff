"""``_fan`` always adds one round-robin exchange before map-heavy work."""

import __spark_entry__ as entrymod


def _exchanges(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_fan_repartitions_small_input(spark):
    fanned = entrymod._fan(spark.range(1_000))
    assert _exchanges(fanned) == 1
    assert fanned.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
