"""Warm BI queries reuse their generated code.

Spark compiles each whole-stage and expression codegen class once and
keeps it in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes (default 100). The 9 ``bi_warm`` queries alone generate 129
distinct classes, so with the default every warm pass evicts and
recompiles every one of them. ``get_spark`` sizes the cache to hold the
whole registry's working set; this guard pins both the size and the
effect: once warm, every query runs without compiling.

A warm call may still compile a class the first time AQE picks another
physical plan for it: which side of a join gets broadcast, or how the
codegen stages are numbered, can depend on the order in which
concurrent stages finish (``exec_daily_kpi`` plans its customer
join's build side up front, but stage numbering still varies). Each
such plan compiles once
and then hits the cache, so each query must reach a compile-free call
within three calls after two warm-up passes; with an undersized cache
no call ever does.
"""

from __future__ import annotations

from perfbench.worker import BI_WARM

from multichannel_commerce_data_pipeline_spark.queries import load_registry

# distinct generated classes over one call of every registered query at
# sf0.001 in one local[2] session with no evictions (first-call
# CodegenMetrics compiles; 3,263-3,277 across runs)
REGISTRY_CODEGEN_CLASSES = 3277


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_registry_working_set(spark):
    size = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert size >= REGISTRY_CODEGEN_CLASSES


def test_warm_bi_queries_stop_compiling(spark, sf_dir):
    registry = load_registry()

    def run(name: str) -> int:
        c0 = _compiles(spark)
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return _compiles(spark) - c0

    for _ in range(2):
        for name in BI_WARM:
            run(name)
    compiled: dict[str, list[int]] = {name: [] for name in BI_WARM}
    for _ in range(3):
        for name in BI_WARM:
            compiled[name].append(run(name))
        if all(0 in counts for counts in compiled.values()):
            break
    unsettled = {n: c for n, c in compiled.items() if 0 not in c}
    assert not unsettled, compiled
