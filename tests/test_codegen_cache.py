"""An identical re-run compiles no generated class, and the JIT compiles
only what is hot.

Spark compiles each whole-stage pipeline and each generated projection,
predicate and ordering with Janino, and keeps the classes in an LRU cache
keyed by the generated source.  ``session.get_spark`` sizes that cache to
the registry's working set and drops the stage id from whole-stage class
names, so the benchmark workloads' queries, built and run a second time
in the same session, find every class they need in the cache.  It also
launches the JVM with HotSpot's compile thresholds scaled up, so the JIT
stops compiling Spark's lukewarm methods on every warm pass.
"""

from __future__ import annotations

import pytest

from dataframework_spark.catalog import DEFAULT_SF_DIR
from dataframework_spark.registry import all_queries
from dataframework_spark.session import codegen_compiles
from perfbench.workloads import LLM_CORPUS, TABULAR

SF_DIR = DEFAULT_SF_DIR  # sf0.001

# The registry's worst re-compilers while whole-stage class names carried
# the stage id: AQE numbers the stages of a plan as it creates them, in
# the order their child stages finish, so the same pipeline got another
# id, and so another class, from run to run.
MULTI_STAGE = ["text_langid_trained", "window_rfm_segments", "profile_referential_integrity"]

# Persists an IVF-PQ index.  Its plans must stay free of limits: Spark
# names a limit's counter from a JVM-wide sequence, so a stage with a
# limit compiles as a new class in every build.
IVFPQ_PERSIST = ["stream_sim_ingest"]

# Queries whose re-run may still compile, each with at most this many
# classes and the reason.
ALLOWED = {
    # Spark's RewriteDistinctAggregates orders the Expand projections of
    # the two distinct groups (l_partkey, l_suppkey) by a hash of their
    # expressions, which carry per-build expression ids.  Each order is a
    # different class for the Expand stage and the stage after it; once
    # both orders have run, a re-run compiles nothing.
    "agg_count_distinct": 4,
}


def _run_all(spark, names: list[str]) -> dict[str, int]:
    specs, compiled = all_queries(), {}
    for name in names:
        start = codegen_compiles(spark)
        specs[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        compiled[name] = codegen_compiles(spark) - start
    return compiled


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"


def test_session_scales_the_jit_thresholds(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CompileThresholdScaling").getValue() == "2.0"
    assert "-XX:CompileThresholdScaling=2" in spark.conf.get("spark.driver.defaultJavaOptions")


@pytest.mark.parametrize(
    "names",
    [TABULAR + LLM_CORPUS, MULTI_STAGE, IVFPQ_PERSIST],
    ids=["workloads", "multi_stage", "ivfpq_persist"],
)
def test_rerun_compiles_nothing(spark, names):
    first = _run_all(spark, names)
    assert sum(first.values()) > 0  # the counter sees compiles at all
    second = _run_all(spark, names)
    over = {n: c for n, c in second.items() if c > ALLOWED.get(n, 0)}
    assert over == {}, f"re-run compiled classes again: {over}"
