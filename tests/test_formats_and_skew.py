"""CSV/JSON declared-schema round-trips + salted join/aggregate equivalence."""

from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.operators.skew import (
    _with_row_salt,
    salted_aggregate,
    salted_join,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.formats import (
    read_csv,
    read_jsonl,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load

NATION_DDL = "n_nationkey INT, n_name STRING, n_regionkey INT"


def test_csv_roundtrip_declared_schema(spark, sf_dir, tmp_path):
    n = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    n.write.option("header", "true").csv(path)
    back = read_csv(spark, path, NATION_DDL)
    assert back.schema.simpleString() == n.schema.simpleString()
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in n.collect()
    )


def test_jsonl_roundtrip_declared_schema(spark, sf_dir, tmp_path):
    n = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_json")
    n.write.json(path)
    back = read_jsonl(spark, path, NATION_DDL)
    assert back.count() == 25
    assert dict(back.dtypes)["n_nationkey"] == "int"


def test_csv_corrupt_rows_are_permissive(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("n_nationkey,n_name,n_regionkey\n1,ok,2\nnot_an_int,broken,x\n")
    back = read_csv(spark, str(p), NATION_DDL)
    rows = back.collect()
    assert len(rows) == 2  # bad row kept as nulls, not dropped
    assert rows[1]["n_nationkey"] is None


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = o.join(c, "o_custkey").select("o_orderkey", "c_mktsegment")
    salted = salted_join(o, c, "o_custkey", n_salts=4).select("o_orderkey", "c_mktsegment")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_identical_hot_rows_spread_over_salts(spark):
    """1,000 literally identical hot rows: a whole-row hash would give them
    one salt (one reducer); the row-position salt spreads them."""
    big = spark.createDataFrame([(7, "hot")] * 1000, "k long, v string").repartition(3)
    small = spark.createDataFrame([(7, "x"), (8, "y")], "k long, w string")
    salts = {
        r["_salt"]: r["n"]
        for r in _with_row_salt(big, 8).groupBy("_salt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert len(salts) >= 2
    assert sum(salts.values()) == 1000
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    assert sorted(map(tuple, salted_join(big, small, "k", n_salts=8).collect())) == plain
    assert len(plain) == 1000


def test_salted_aggregate_equals_plain(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    plain = {
        r["l_returnflag"]: (round(r["s"], 2), r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (round(r["sum_l_quantity"], 2), r["n_rows"])
        for r in salted_aggregate(li, "l_returnflag", "l_quantity", n_salts=4).collect()
    }
    assert plain == salted


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC roundtrip preserves schema + values; a filtered read shows
    pushed-down predicates in the scan (same contract as parquet)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.formats import read_orc, write_orc
    from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load

    n = load(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(n, path)
    back = read_orc(spark, path)
    assert back.schema == n.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, n.collect()))
    plan = (
        back.where(back.n_regionkey == 2)
        .select("n_name")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "n_regionkey" in plan


def test_avro_probe_is_honest(spark):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.formats import avro_available

    if not avro_available(spark):
        import pytest

        with pytest.raises(Exception):
            spark.range(1).write.format("avro").save("/tmp/_avro_should_fail")


def test_salted_join_refuses_small_preserving_how(spark):
    """right/full outer would emit each unmatched SMALL row once per salt
    replica — refused (r12)."""
    import pytest as _pytest

    a = spark.createDataFrame([(1, "x")], "k long, v string")
    b = spark.createDataFrame([(2, "y")], "k long, w string")
    for how in ("right", "full", "fullouter", "right_outer"):
        with _pytest.raises(ValueError, match="preserv"):
            salted_join(a, b, "k", 4, how)
    # big-side-preserving joins stay legal
    assert salted_join(a, b, "k", 4, "left").count() == 1
    assert salted_join(a, b, "k", 4, "left_anti").count() == 1


def test_execute_equi_join_routes_salting(spark, sf_dir):
    """The planner's advisory executes (r12): a hot-partition fact joined
    under broadcast_bytes=0 routes through the salted kernel (the `_salt`
    column appears in the executed plan) and matches the plain join
    row-for-row; a non-skewed decision falls through to the plain route."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        _demo_skew_tables,
        execute_equi_join,
        plan_equi_join,
    )

    ft, nt = _demo_skew_tables(spark, sf_dir)
    dec = plan_equi_join(ft, nt, "hk", "n_nationkey", broadcast_bytes=0)
    assert dec["recommend_salting"]
    for how in ("inner", "left", "left_semi"):
        d = plan_equi_join(ft, nt, "hk", "n_nationkey", broadcast_bytes=0, how=how)
        salted = execute_equi_join(
            d, ft.read(), nt.read(), "hk", "n_nationkey", how, n_salts=4
        )
        assert "_salt" in salted._jdf.queryExecution().executedPlan().toString()
        plain = execute_equi_join(d, ft.read(), nt.read(), "hk", "n_nationkey", how)
        cols = sorted(set(salted.columns) & set(plain.columns))
        assert sorted(salted.columns) == sorted(cols)  # same column SET
        assert salted.select(cols).exceptAll(plain.select(cols)).isEmpty()
        assert plain.select(cols).exceptAll(salted.select(cols)).isEmpty()
    # full outer cannot salt — silently plain, still correct
    d2 = plan_equi_join(ft, nt, "hk", "n_nationkey", broadcast_bytes=0, how="full")
    out = execute_equi_join(
        d2, ft.read(), nt.read(), "hk", "n_nationkey", "full", n_salts=4
    )
    assert "_salt" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.where(F.col("hk").isNull()).count() == 13  # unmatched dims
