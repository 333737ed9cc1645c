"""``get_spark`` sizes Spark's generated-code class cache to the engine's
working set, so a repeated pass recompiles nothing.

The cache is an LRU over compiled classes (Spark default: 100 entries). One
pass of the 14 bench queries at sf0.001 needs 202 distinct classes in a
fresh JVM, so at the default every repeated pass evicted and recompiled
most of its own classes.
"""

from __future__ import annotations

from conftest import SF_DIR
from spark_dba_spark import registry
from spark_dba_spark.session import _PERF_CONFS


def _compiled(spark) -> int:
    """Generated classes compiled by this JVM so far (cache misses)."""
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def test_session_reports_codegen_cache_bound(spark):
    want = int(_PERF_CONFS["spark.sql.codegen.cache.maxEntries"])
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.codegenCacheMaxEntries() == want


def test_repeated_bench_pass_compiles_nothing(spark):
    specs = registry.bench_specs()
    assert len(specs) == 14

    def one_pass() -> int:
        n0 = _compiled(spark)
        for spec in specs.values():
            spec.builder(spark, SF_DIR).collect()
        return _compiled(spark) - n0

    one_pass()
    # A repeated pass can still meet a plan it has not compiled: AQE picks
    # one of dedup_minhash_lsh's join build sides by which stage finishes
    # first, and now and then (1 run in ~25) the other side's plan compiles
    # 4 new classes. Such first compiles die out once each variant is
    # cached; a cache smaller than the set recompiles ~200 every pass.
    repeats: list[int] = []
    while len(repeats) < 3 and 0 not in repeats:
        repeats.append(one_pass())
    assert 0 in repeats, f"compiles per repeated pass: {repeats}"
