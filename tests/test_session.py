"""session.get_spark: Spark's codegen cache holds the working set of a
session that serves a mix of keys, so a warm pass compiles no classes."""

from __future__ import annotations

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import REGISTRY
from test_tierj import SF_SMALL

# The perfbench ``query`` mix.  One pass over it at sf0.001 generates
# 109 classes in a fresh session, more than Spark's default cache of 100
# entries holds; with that default the warm pass recompiles 79 of them.
MIX = [
    "op_flatten_soh", "op_geocode_join", "q_agg_basic", "q_agg_rollup",
    "q_join_inner", "q_funnel", "x_kcore",
]


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_mix(spark) -> None:
    for key in MIX:
        REGISTRY[key].fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()


def test_warm_key_mix_compiles_nothing(spark):
    _run_mix(spark)
    before = _compiles(spark)
    _run_mix(spark)
    assert _compiles(spark) - before == 0
