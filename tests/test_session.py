"""Session defaults: generated code is compiled once per session."""

from __future__ import annotations

import os

import pytest

from hudi_examples_spark import registry
from tests.conftest import SF_SMALL

#: the perfbench query suite's registry queries: ~132 distinct generated
#: classes per pass, more than Spark's default codegen cache of 100 holds
SUITE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume", "q18_large_orders",
    "dedup_exact", "dedup_minhash_lsh", "sim_knn_join", "dedup_embed_ann",
]


@pytest.mark.skipif(not os.path.isdir(SF_SMALL), reason="needs the sf0.001 test data")
def test_query_suite_pass_keeps_every_generated_class(spark):
    specs = {s.name: s for s in registry.all_specs()}
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    for name in SUITE:
        specs[name].fn(spark, SF_SMALL).toPandas()
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    specs[SUITE[0]].fn(spark, SF_SMALL).toPandas()
    assert compiles.METRIC_COMPILATION_TIME().getCount() == before, (
        "a repeated query recompiled generated code: the codegen cache evicted it"
    )
