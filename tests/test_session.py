"""Session factory: settings whose effect is only visible across queries."""


def test_warm_query_compiles_nothing_after_a_large_working_set(spark):
    """Spark's cache of compiled generated classes holds 100 entries by
    default. After 150 other distinct classes, a re-run query must still
    find its classes there: the compile count (JVM-global, so compared
    before and after) does not grow."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    first = "SELECT id * 7 + 7 AS v FROM range(1)"
    spark.sql(first).collect()
    before = compiles.getCount()
    # each branch is its own codegen stage, and its literal is inlined into
    # the generated source: two new classes per branch
    shapes = (f"SELECT id * {k} + {k} AS v FROM range(1)" for k in range(7001, 7076))
    spark.sql(" UNION ALL ".join(shapes)).collect()
    assert compiles.getCount() - before >= 150
    before = compiles.getCount()
    spark.sql(first).collect()
    assert compiles.getCount() == before


def test_session_jvm_keeps_lukewarm_code_out_of_c2(spark):
    """The session's JVM runs with the three tier-4 invocation thresholds
    raised, the back-edge (OSR) threshold at its default, and C2 still on:
    no TieredStopAtLevel caps the JIT at C1."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = [str(a) for a in bean.getInputArguments()]
    for name in ("Tier4InvocationThreshold", "Tier4MinInvocationThreshold", "Tier4CompileThreshold"):
        assert any(a.startswith(f"-XX:{name}=") for a in args), (name, args)
    assert not any("Tier4BackEdgeThreshold" in a for a in args), args
    assert not any("TieredStopAtLevel" in a for a in args), args
