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


def _compiles_per_pass(spark, sf_dir, names, passes=3) -> list[int]:
    per_pass = []
    for _ in range(passes):
        before = _compiles(spark)
        for q in names:
            QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_pass.append(_compiles(spark) - before)
    return per_pass


def test_warm_serving_pass_compiles_nothing(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    per_pass = _compiles_per_pass(spark, sf_dir, MIXES["serving"])
    assert per_pass[2] == 0, f"Janino compiles per pass: {per_pass}"


def test_warm_connected_components_pass_compiles_nothing(spark, sf_dir):
    """connected_components' per-iteration convergence probe must build the
    same generated source on every run. A ``limit(1).count()`` probe does
    not: its limit counter field is renamed per build, so q_dedup_clusters
    compiled 6-8 classes on every warm pass. The check takes the quietest
    warm pass, not a fixed one: AQE picks the propagation join's broadcast
    side from runtime sizes, and the generated join differs by whether the
    broadcast keys are unique, so a variant first met on a later pass can
    still compile once there."""
    per_pass = _compiles_per_pass(spark, sf_dir, ["q_dedup_clusters"], passes=4)
    assert min(per_pass[1:]) == 0, f"Janino compiles per pass: {per_pass}"
