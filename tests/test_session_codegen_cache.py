"""The session's codegen cache holds a query mix's generated classes.

Spark keeps compiled generated classes in one JVM-wide cache whose size is
the static conf ``spark.sql.codegen.cache.maxEntries`` (default 100).
``session.get_session`` sizes it to the catalog's working set, so a
long-lived session that replays a mix compiles each generated source once
instead of evicting and recompiling it on every pass, and keeps the stage id
out of generated class names, so a pipeline that AQE numbers differently on
a later run is still a cache hit. The gate counts Janino compiles
(``CodegenMetrics``), not walls: at the default 100 entries the serving mix
recompiles well over 100 classes on every warm pass.
"""

from __future__ import annotations

from dataengineering_londonhousingmap_spark.queries import QUERIES
from dataengineering_londonhousingmap_spark.session import CODEGEN_CACHE_MAX_ENTRIES
from perfbench.workloads import MIXES


def _compiles(spark) -> int:
    """Janino compiles this JVM has made so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_serving_pass_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    per_pass = []
    for _ in range(3):
        before = _compiles(spark)
        for q in MIXES["serving"]:
            QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_pass.append(_compiles(spark) - before)
    assert per_pass[2] == 0, f"Janino compiles per pass: {per_pass}"
