"""Engine-start policy of ``core.session.get_spark`` and the compile-work
reader in ``core.metrics``."""

from __future__ import annotations

#: the tier-4 (C2) promotion thresholds, tenfold the JDK 17 defaults
TIER4_FLAGS = {
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
}


def _jvm_args(spark) -> list[str]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return list(mf.getRuntimeMXBean().getInputArguments())


def test_engine_jvm_runs_with_raised_tier4_thresholds(spark):
    """conftest builds its session with ``get_spark``, so the JVM's launch
    arguments are the policy the whole engine (and this suite) runs
    under: the four tier-4 thresholds, and C2 still available."""
    from barberini_analytics_spark.core.session import JIT_OPTIONS

    args = _jvm_args(spark)
    assert TIER4_FLAGS <= set(args), args
    assert set(JIT_OPTIONS.split()) == TIER4_FLAGS
    assert not any(a.startswith("-XX:TieredStopAtLevel") for a in args)


def test_compile_metrics_count_janino_and_jit_work(spark):
    """A never-seen expression forces a Janino compile: the count and the
    total move, and the JIT total never falls."""
    from barberini_analytics_spark.core.metrics import compile_metrics

    m0 = compile_metrics(spark)
    assert set(m0) == {"jit_s", "janino_compiles", "janino_s"}
    assert m0["jit_s"] > 0
    # literals are inlined in the generated source, so this class is new
    spark.range(1_000).selectExpr("sum(id * 7919 + 104723) AS s").collect()
    m1 = compile_metrics(spark)
    assert m1["janino_compiles"] > m0["janino_compiles"]
    assert m1["janino_s"] > m0["janino_s"]
    assert m1["jit_s"] >= m0["jit_s"]
