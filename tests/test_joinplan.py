"""Per-partition NDV statistics (IcebergTable.analyze_partitions /
partition_ndv / ndv_pruned) and the statistics-driven join planner
(plans/joinplan.py): exactness at small scale, pruned-union semantics,
transform attribution, decision logic, physical-plan pins, and refusals."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
    BROADCAST_BYTES_DEFAULT,
    estimate_side,
    execute_equi_join,
    plan_aggregation,
    plan_equi_join,
    planned_join,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"joinplan_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def ptable(spark, sf_dir):
    """Orders identity-partitioned by o_orderstatus, partition-analyzed."""
    d = os.path.join(tempfile.gettempdir(), f"joinplan_pt_{uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IcebergTable.create(spark, d, o, partition_by=["o_orderstatus"])
    res = t.analyze_partitions()
    yield t, res, o
    shutil.rmtree(d, ignore_errors=True)


def _exact_per_status(o, col):
    return {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct(col).alias("n"))
        .collect()
    }


def test_partition_ndv_exact_at_small_scale(ptable):
    """At sf0.001 every partition's NDV is under k=4096, so every
    partition sketch is exact-mode and the estimates ARE the counts."""
    t, res, o = ptable
    assert res["mode"] == "partitioned" and res["partitions"] == 3
    for col in ("o_orderkey", "o_custkey"):
        exact = _exact_per_status(o, col)
        got = t.partition_ndv(col)
        assert len(got) == 3
        for pr in got:
            assert pr["exact"] is True
            assert pr["ndv"] == exact[pr["partition"]["o_orderstatus"]]
            assert pr["ndv"] == pr["declared_ndv"]


def test_table_level_blob_is_union(ptable, spark, sf_dir):
    """ndv() after analyze_partitions reads the TABLE-level blob (the
    union of the partition sketches, skipping partition-keyed blobs) —
    exact-mode inputs union to the exact total."""
    t, res, o = ptable
    total = o.select("o_orderkey").distinct().count()
    r = t.ndv("o_orderkey")
    assert r["ndv"] == total and r["exact"] is True
    assert res["ndv"]["o_orderkey"] == total


def test_ndv_pruned_subset_and_empty(ptable):
    t, _res, o = ptable
    exact = _exact_per_status(o, "o_orderkey")
    one = t.ndv_pruned("o_orderkey", {"o_orderstatus": "F"})
    assert one["ndv"] == exact["F"]
    assert one["partitions_matched"] == 1 and one["partitions_total"] == 3
    # empty filter dict matches ALL partitions → the table-level union
    allp = t.ndv_pruned("o_orderkey", {})
    assert allp["partitions_matched"] == 3
    assert allp["ndv"] == o.select("o_orderkey").distinct().count()
    none = t.ndv_pruned("o_orderkey", {"o_orderstatus": "ZZ"})
    assert none["ndv"] == 0 and none["partitions_matched"] == 0


def test_bucket_transform_attribution(spark, sf_dir, root):
    """Partition tuples are DERIVED via the spec transform, so bucket
    partitions attribute correctly: buckets split the key space into
    disjoint sets whose per-partition NDVs sum to the table's."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = IcebergTable.create(
        spark, root, c.coalesce(1), partition_by=["bucket(4, c_custkey)"]
    )
    t.analyze_partitions(columns=["c_custkey"])
    per = t.partition_ndv("c_custkey")
    assert 2 <= len(per) <= 4
    assert all(p["exact"] for p in per)
    assert sum(p["ndv"] for p in per) == c.select("c_custkey").distinct().count()


def test_analyze_partitions_refusals(spark, sf_dir, root):
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    flat = IcebergTable.create(spark, root + "_flat", o)
    try:
        with pytest.raises(ValueError, match="UNPARTITIONED"):
            flat.analyze_partitions()
    finally:
        shutil.rmtree(root + "_flat", ignore_errors=True)
    t = IcebergTable.create(spark, root, o, partition_by=["o_orderstatus"])
    with pytest.raises(ValueError, match="no column"):
        t.analyze_partitions(columns=["nope"])
    with pytest.raises(NotImplementedError, match="NDV sketch over"):
        t.analyze_partitions(columns=["o_totalprice"])
    with pytest.raises(ValueError, match="analyze_partitions"):
        t.partition_ndv("o_orderkey")  # never analyzed
    t.analyze(columns=["o_orderkey"])  # table-level only
    with pytest.raises(ValueError, match="no per-partition"):
        t.ndv_pruned("o_orderkey", {"o_orderstatus": "F"})


def test_estimate_side_pruned_vs_table(ptable):
    t, _res, o = ptable
    full = estimate_side(t, "o_orderkey")
    assert full["rows"] == o.count()
    assert full["ndv_source"] == "table"
    assert full["ndv"] == o.select("o_orderkey").distinct().count()
    pruned = estimate_side(t, "o_orderkey", partition_filter={"o_orderstatus": "F"})
    f_rows = o.where(F.col("o_orderstatus") == "F").count()
    assert pruned["rows"] == f_rows
    assert pruned["ndv_source"] == "pruned_union"
    assert pruned["ndv"] == _exact_per_status(o, "o_orderkey")["F"]
    # identity partition source IS the key here? no — key is o_orderkey,
    # partition is o_orderstatus → no skew attribution
    assert pruned["key_is_partition"] is False


def test_planner_broadcasts_dimension_and_plan_pins(spark, sf_dir, ptable, root):
    t, _res, o = ptable
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ct = IcebergTable.create(spark, root, c)
    ct.analyze(columns=["c_custkey"])
    decision = plan_equi_join(t, ct, "o_custkey", "c_custkey")
    assert decision["strategy"] == "broadcast"
    assert decision["build_side"] == "right"
    assert decision["broadcast_bytes"] == BROADCAST_BYTES_DEFAULT
    joined, d2 = planned_join(t, ct, "o_custkey", "c_custkey")
    actual = joined.count()
    plain = o.join(c, o["o_custkey"] == c["c_custkey"]).count()
    assert actual == plain
    # PK-FK containment + exact-mode NDVs → the System-R estimate is exact
    assert d2["est_rows"] == actual
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # forced shuffle path: decision only (Spark may still auto-broadcast
    # the tiny frame; the DECISION is what this module owns)
    d3 = plan_equi_join(t, ct, "o_custkey", "c_custkey", broadcast_bytes=0)
    assert d3["strategy"] == "sort_merge" and d3["build_side"] is None
    assert d3["recommend_salting"] is False
    j3 = execute_equi_join(d3, t.read(), ct.read(), "o_custkey", "c_custkey")
    assert j3.count() == plain


def test_skew_advisory_on_hot_partition_key(spark, root):
    """Identity-partitioned fact on the JOIN key with one hot key: the
    planner folds per-partition rows from the pruned manifests (the same
    numbers the partition-statistics file stores) and recommends the
    salted-join route when it cannot broadcast."""
    rows = [(1, "hot")] * 2000 + [(k, "cold") for k in range(2, 12)]
    f = spark.createDataFrame(rows, "k long, tag string")
    ft = IcebergTable.create(spark, root + "_f", f, partition_by=["k"])
    ft.analyze(columns=["k"])
    d = spark.createDataFrame([(k, k * 10) for k in range(1, 12)], "k long, v long")
    dt = IcebergTable.create(spark, root + "_d", d.withColumnRenamed("k", "dk"))
    dt.analyze(columns=["dk"])
    try:
        side = estimate_side(ft, "k")
        assert side["key_is_partition"] is True
        assert side["skewed"] is True and side["skew_ratio"] > 5
        dec = plan_equi_join(ft, dt, "k", "dk", broadcast_bytes=0)
        assert dec["strategy"] == "sort_merge"
        assert dec["recommend_salting"] is True
        # broadcast still wins when allowed — salting advisory only fires
        # on the shuffle path
        dec2 = plan_equi_join(ft, dt, "k", "dk")
        assert dec2["strategy"] == "broadcast"
        assert dec2["recommend_salting"] is False
    finally:
        shutil.rmtree(root + "_f", ignore_errors=True)
        shutil.rmtree(root + "_d", ignore_errors=True)


def test_planner_refuses_unanalyzed(spark, sf_dir, root):
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    t = IcebergTable.create(spark, root, o)
    with pytest.raises(ValueError, match="no statistics"):
        estimate_side(t, "o_custkey")


# ---------------------------------------------------------------- composite


@pytest.fixture(scope="module")
def ctable(spark, sf_dir):
    """Orders analyzed with a COMPOSITE (o_custkey, o_orderstatus) key."""
    d = os.path.join(tempfile.gettempdir(), f"joinplan_ct_{uuid.uuid4().hex[:8]}")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IcebergTable.create(spark, d, o)
    t.analyze(
        columns=["o_custkey", ("o_custkey", "o_orderstatus")]
    )
    yield t, o
    shutil.rmtree(d, ignore_errors=True)


def test_composite_ndv_exact_and_fields(ctable):
    t, o = ctable
    exact = o.select("o_custkey", "o_orderstatus").distinct().count()
    r = t.ndv(("o_custkey", "o_orderstatus"))
    assert r["exact"] is True and r["ndv"] == exact
    # list and tuple both resolve; single column still works
    assert t.ndv(["o_custkey", "o_orderstatus"])["ndv"] == exact
    single = t.ndv("o_custkey")
    assert single["ndv"] == o.select("o_custkey").distinct().count()
    # composite != product of singles (combinations that never co-occur)
    assert r["ndv"] < single["ndv"] * 3
    md = t.metadata()
    entry = next(
        s for s in md["statistics"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    assert any(len(b["fields"]) == 2 for b in entry["blob-metadata"])


def test_composite_ndv_null_components_excluded(spark, root):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, None), (None, "b"), (2, "b"), (3, "a")],
        "k long, s string",
    )
    t = IcebergTable.create(spark, root, df)
    t.analyze(columns=[("k", "s")])
    # distinct fully-non-null pairs: (1,a),(2,b),(3,a)
    assert t.ndv(("k", "s"))["ndv"] == 3


def test_composite_incremental_union(spark, sf_dir, root):
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IcebergTable.create(
        spark, root, o.where(F.col("o_orderkey") % 2 == 0)
    )
    t.analyze(columns=[("o_custkey", "o_orderstatus")])
    t.append(o.where(F.col("o_orderkey") % 2 == 1))
    res = t.analyze_incremental()  # default scope = prior blobs, incl. composite
    assert res["mode"] == "incremental"
    exact = o.select("o_custkey", "o_orderstatus").distinct().count()
    assert res["ndv"]["o_custkey,o_orderstatus"] == exact
    assert t.ndv(("o_custkey", "o_orderstatus"))["ndv"] == exact


def test_plan_aggregation(ctable):
    t, o = ctable
    exact = o.select("o_custkey", "o_orderstatus").distinct().count()
    plan = plan_aggregation(t, ("o_custkey", "o_orderstatus"))
    assert plan["est_groups"] == exact and plan["ndv_exact"] is True
    assert plan["rows"] == o.count()
    assert plan["suggested_shuffle_partitions"] == 1  # tiny output
    # single-key form, and tiny target → width grows with output bytes
    p1 = plan_aggregation(t, "o_custkey")
    assert p1["est_groups"] == o.select("o_custkey").distinct().count()
    p2 = plan_aggregation(
        t, ("o_custkey", "o_orderstatus"), target_partition_bytes=64
    )
    assert p2["suggested_shuffle_partitions"] > 1
    with pytest.raises(ValueError, match="no theta sketch"):
        plan_aggregation(t, ("o_orderkey", "o_orderstatus"))  # never analyzed


# ------------------------------------------------------- range selectivity


def test_estimate_range_rows_dense_uniform(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_range_rows,
    )

    df = spark.range(0, 10_000).select(F.col("id").alias("k"))
    t = IcebergTable.create(spark, root, df.repartition(4))
    # dense contiguous ints → uniform interpolation is exact up to the
    # per-file fractional rounding (each hash-distributed file holds
    # every 4th id over the full span)
    est = estimate_range_rows(t, "k", 2_500, 4_999)
    assert abs(est["est_rows"] - 2_500) <= 5
    assert est["files_without_bounds"] == 0
    # full range and open endpoints
    assert estimate_range_rows(t, "k")["est_rows"] == 10_000
    assert abs(estimate_range_rows(t, "k", hi=999)["est_rows"] - 1_000) <= 5
    # disjoint range: bounds-pruned to zero files
    none = estimate_range_rows(t, "k", 50_000, 60_000)
    assert none["est_rows"] == 0 and none["files_kept"] == 0


def test_estimate_range_rows_tightens_with_layout(spark, root):
    """Range-partitioned files have narrow disjoint spans, so only the
    overlapping files survive pruning — layout quality shows up directly
    in files_kept."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_range_rows,
    )

    df = spark.range(0, 8_000).select(F.col("id").alias("k"))
    t = IcebergTable.create(spark, root, df.repartitionByRange(8, "k"))
    est = estimate_range_rows(t, "k", 1_000, 1_999)
    assert est["est_rows"] == 1_000
    assert est["files_kept"] < est["files_total"]


def test_estimate_range_rows_refusals(spark, sf_dir, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_range_rows,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    t = IcebergTable.create(spark, root, o)
    with pytest.raises(ValueError, match="no column"):
        estimate_range_rows(t, "nope", 0, 1)
    with pytest.raises(NotImplementedError, match="range interpolation"):
        estimate_range_rows(t, "o_orderstatus", "A", "Z")


# ------------------------------------------------- streaming stats upkeep


def test_stream_append_maintains_statistics(spark, root, tmp_path):
    """stream_append(maintain_statistics=True) runs the INCREMENTAL
    analyze after each committed micro-batch — O(batch) stats upkeep, so
    NDV estimates stay fresh under streaming ingest instead of decaying
    until the next manual ANALYZE."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        stream_append,
    )

    src = _os.path.join(str(tmp_path), "src")
    _os.makedirs(src)
    pq.write_table(pa.table({"k": [1, 2, 3]}), _os.path.join(src, "a.parquet"))
    pq.write_table(pa.table({"k": [3, 4, 5]}), _os.path.join(src, "b.parquet"))
    t = IcebergTable.create(
        spark, root, spark.createDataFrame([(0,), (1,)], "k long")
    )
    t.analyze(columns=["k"])  # bootstrap: incremental unions from here
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_append(
        t,
        stream,
        "s1",
        _os.path.join(str(tmp_path), "ckpt"),
        maintain_statistics=True,
    )
    # stats entry exists for the CURRENT snapshot and matches exact NDV
    md = t.metadata()
    sids = {s["snapshot-id"] for s in md.get("statistics") or []}
    assert md["current-snapshot-id"] in sids
    r = t.ndv("k")
    assert r["exact"] is True
    assert r["ndv"] == t.read().select("k").distinct().count() == 6


def test_estimate_side_interpolates_bounds(spark, root):
    """estimate_side(bounds=) must not count surviving files FULLY: rows
    interpolate through estimate_range_rows, and the NDV cap follows the
    interpolated rows (a range filter keeps at most that many distinct
    keys)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_side,
    )

    df = spark.range(0, 8_000).select(F.col("id").alias("k"))
    t = IcebergTable.create(spark, root, df.repartitionByRange(8, "k"))
    t.analyze(columns=["k"])
    full = estimate_side(t, "k")
    assert full["rows"] == 8_000
    half = estimate_side(t, "k", bounds={"k": (0, 3_999)})
    assert abs(half["rows"] - 4_000) <= 5
    assert half["ndv"] <= half["rows"]
    # bytes follow the interpolated fraction too (they feed the
    # broadcast decision)
    assert half["bytes"] < full["bytes"]


def test_partition_composite_ndv(spark, sf_dir, root):
    """analyze_partitions accepts composite specs: one blob per
    (partition, key-tuple), exact at small scale, pruned-union readable."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    t = IcebergTable.create(spark, root, o, partition_by=["o_orderstatus"])
    res = t.analyze_partitions(
        columns=["o_custkey", ("o_custkey", "o_orderpriority")]
    )
    key = "o_custkey,o_orderpriority"
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey", "o_orderpriority").alias("n"))
        .collect()
    }
    per = t.partition_ndv(("o_custkey", "o_orderpriority"))
    assert len(per) == 3
    for pr in per:
        assert pr["exact"] is True
        assert pr["ndv"] == exact[pr["partition"]["o_orderstatus"]]
    assert res["partition_ndv"][
        '{"o_orderstatus":"F"}'
    ][key] == exact["F"]
    # table-level composite blob = union of the partition blobs
    total = o.select("o_custkey", "o_orderpriority").distinct().count()
    assert t.ndv(("o_custkey", "o_orderpriority"))["ndv"] == total
    pruned = t.ndv_pruned(
        ("o_custkey", "o_orderpriority"), {"o_orderstatus": "F"}
    )
    assert pruned["ndv"] == exact["F"] and pruned["partitions_matched"] == 1


def test_analyze_partitions_after_partition_evolution(spark, root):
    """Partition tuples are derived from the DATA via the CURRENT default
    spec, so files written before evolve_partition_spec attribute
    correctly — the docstring's migrated-table claim, pinned."""
    df1 = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(40)], "k long, tag string"
    )
    t = IcebergTable.create(spark, root, df1)  # UNPARTITIONED at create
    t.evolve_partition_spec(["tag"])
    df2 = spark.createDataFrame(
        [(100 + i, ["a", "b", "c"][i % 3]) for i in range(30)],
        "k long, tag string",
    )
    t.append(df2)  # written under the evolved spec
    t.analyze_partitions(columns=["k"])
    per = {p["partition"]["tag"]: p["ndv"] for p in t.partition_ndv("k")}
    allr = df1.unionByName(df2)
    exact = {
        r["tag"]: r["n"]
        for r in allr.groupBy("tag").agg(F.countDistinct("k").alias("n")).collect()
    }
    assert per == exact  # old-spec files included, attributed by value


def test_stream_replay_does_not_double_count_stats(spark, root, tmp_path):
    """A crash-replayed batch skips BOTH the append and the incremental
    analyze — stats publishing sits inside the exactly-once guard."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        stream_append,
    )

    src = _os.path.join(str(tmp_path), "src")
    _os.makedirs(src)
    pq.write_table(pa.table({"k": [1, 2, 3]}), _os.path.join(src, "a.parquet"))
    t = IcebergTable.create(spark, root, spark.createDataFrame([(0,)], "k long"))
    t.analyze(columns=["k"])
    stream = spark.readStream.schema("k long").parquet(src)
    stream_append(
        t, stream, "s1", _os.path.join(str(tmp_path), "ck"),
        maintain_statistics=True,
    )
    md = t.metadata()
    n_stats = len(md["statistics"])
    committed = t.seen_batch("s1")
    # manual replay of the committed batch id through the same guard
    one = spark.createDataFrame([(9,)], "k long")

    def _write(batch_df, batch_id):
        seen = t.seen_batch("s1")
        if seen is not None and seen >= batch_id:
            return
        t.append(batch_df, summary_extra={"stream-id": "s1", "batch-id": str(batch_id)})
        t.analyze_incremental()

    _write(one, committed)  # replay: no append, no stats entry
    md2 = t.metadata()
    assert len(md2["statistics"]) == n_stats
    assert t.ndv("k")["ndv"] == 4  # 0,1,2,3 — the 9 never landed


def test_partition_ndv_nullsafe_big_longs(spark, root):
    """pyarrow→pandas turns an int64 batch with ANY null into float64,
    rounding values above 2^53 (code-review finding): 2^62-range ids with
    nulls present must still hash exactly — per-partition NDVs stay exact
    and agree with analyze() over the same data, and a NULL partition
    value forms its own partition instead of merging with 0."""
    big = 2**62
    rows = [(big + i, "a" if i % 2 else "b") for i in range(20)]
    rows += [(None, "a"), (big + 5, None), (0, None)]
    df = spark.createDataFrame(rows, "k long, tag string")
    t = IcebergTable.create(spark, root, df, partition_by=["tag"])
    res = t.analyze_partitions(columns=["k", ("k", "tag")])
    exact_a = len({big + i for i in range(20) if i % 2})
    exact_b = len({big + i for i in range(20) if not i % 2})
    per = {
        (p["partition"]["tag"],): (p["ndv"], p["exact"])
        for p in t.partition_ndv("k")
    }
    assert per[("a",)] == (exact_a, True)
    assert per[("b",)] == (exact_b, True)
    # the None-tag partition holds big+5 and 0: two DISTINCT ks
    assert per[(None,)] == (2, True)
    # table blob (union) == full distinct count incl. the null-tag rows
    assert t.ndv("k")["ndv"] == 21  # 20 big ids + 0 (big+5 already in)
    # composite excludes any NULL-component row: 20 pairs
    assert t.ndv(("k", "tag"))["ndv"] == 20
    # long identity partition values with nulls: own partition, exact ids
    t2 = IcebergTable.create(
        spark,
        root + "_p2",
        spark.createDataFrame(
            [(big + 1, 1), (big + 3, 1), (None, 2), (big + 3, None)],
            "pk long, v int",
        ),
        partition_by=["pk"],
    )
    try:
        t2.analyze_partitions(columns=["v"])
        keys = sorted(
            str(p["partition"]["pk"]) for p in t2.partition_ndv("v")
        )
        assert keys == sorted([str(None), str(big + 1), str(big + 3)])
    finally:
        shutil.rmtree(root + "_p2", ignore_errors=True)


def test_ndv_pruned_unknown_key_refuses(ptable):
    t, _res, _o = ptable
    with pytest.raises(ValueError, match="unknown partition field"):
        t.ndv_pruned("o_orderkey", {"status": "F"})  # typo'd key


def test_plan_how_legality(spark, sf_dir, ptable, root):
    t, _res, o = ptable
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ct = IcebergTable.create(spark, root, c)
    ct.analyze(columns=["c_custkey"])
    # left join: only the RIGHT side may broadcast-build
    d = plan_equi_join(t, ct, "o_custkey", "c_custkey", how="left")
    assert d["build_side"] == "right" and d["how"] == "left"
    # right join: only the LEFT side may build — orders fits at sf0.001
    d2 = plan_equi_join(t, ct, "o_custkey", "c_custkey", how="right")
    assert d2["build_side"] == "left"
    # full outer: no legal build side → sort-merge even though both fit
    d3 = plan_equi_join(t, ct, "o_custkey", "c_custkey", how="full")
    assert d3["strategy"] == "sort_merge" and d3["build_side"] is None
    with pytest.raises(ValueError, match="unknown join type"):
        plan_equi_join(t, ct, "o_custkey", "c_custkey", how="sideways")
    # executing under a different join type than planned refuses
    with pytest.raises(ValueError, match="re-plan"):
        execute_equi_join(d, t.read(), ct.read(), "o_custkey", "c_custkey", "inner")
    # planned_join refuses bounds (estimates would not match the reads)
    with pytest.raises(ValueError, match="bounds"):
        planned_join(t, ct, "o_custkey", "c_custkey", left_bounds={"o_orderkey": (0, 10)})


def test_incremental_reports_partition_blob_drop(spark, sf_dir, root):
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IcebergTable.create(
        spark, root, o.where(F.col("o_orderkey") % 2 == 0),
        partition_by=["o_orderstatus"],
    )
    t.analyze_partitions(columns=["o_custkey"])
    t.append(o.where(F.col("o_orderkey") % 2 == 1))
    res = t.analyze_incremental()
    assert res["mode"] == "incremental"
    assert res.get("partition_blobs_dropped") is True
    exact = o.select("o_custkey").distinct().count()
    assert t.ndv("o_custkey")["ndv"] == exact
    with pytest.raises(ValueError, match="no per-partition"):
        t.ndv_pruned("o_custkey", {"o_orderstatus": "F"})


def test_analyze_partitions_refuses_nonhashable_partition_type(spark, root):
    df = spark.createDataFrame(
        [(1.5, 1), (2.5, 2)], "price double, v int"
    )
    t = IcebergTable.create(spark, root, df, partition_by=["price"])
    with pytest.raises(NotImplementedError, match="partition"):
        t.analyze_partitions(columns=["v"])


# ------------------------------------------------------- ADVICE r10 fixes


def test_estimate_side_typod_partition_filter_refuses(ptable):
    """A typo'd partition_filter key must raise, not silently fall back
    to an UNPRUNED table-level estimate (ADVICE r10: the broad
    except-ValueError swallowed ndv_pruned's refusal, and files()
    tolerates unknown keys by design)."""
    t, _res, _o = ptable
    with pytest.raises(ValueError, match="partition_filter key"):
        estimate_side(t, "o_custkey", partition_filter={"status": "F"})


def test_estimate_side_falls_back_only_without_partition_sketches(
    spark, sf_dir, root
):
    """Table analyzed with plain analyze() (no per-partition blobs): a
    VALID partition_filter falls back to the table-level NDV
    (NoPartitionSketchesError is the one condition that may), and the
    rows still fold only the pruned manifest entries."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    t = IcebergTable.create(spark, root, o, partition_by=["o_orderstatus"])
    t.analyze(columns=["o_custkey"])  # table-level only
    est = estimate_side(t, "o_custkey", partition_filter={"o_orderstatus": "F"})
    assert est["ndv_source"] == "table"
    assert est["rows"] == o.where(F.col("o_orderstatus") == "F").count()


def test_plan_refuses_cross_join(ptable, spark, sf_dir, root):
    """'cross' is not a plannable type: execute_equi_join always builds an
    equality condition, so accepting it would silently execute an
    equi-join (ADVICE r10)."""
    t, _res, _o = ptable
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ct = IcebergTable.create(spark, root, c)
    ct.analyze(columns=["c_custkey"])
    with pytest.raises(ValueError, match="unknown join type"):
        plan_equi_join(t, ct, "o_custkey", "c_custkey", how="cross")


def test_outer_join_estimate_floors(spark, sf_dir, root):
    """Outer joins preserve unmatched rows: est_rows must floor at the
    preserved side(s); semi/anti cap at |L| (ADVICE r10). Customers with
    no orders make the left-outer exact check meaningful."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    t = IcebergTable.create(spark, os.path.join(root, "o"), o)
    t.analyze(columns=["o_custkey"])
    ct = IcebergTable.create(spark, os.path.join(root, "c"), c)
    ct.analyze(columns=["c_custkey"])
    n_c = c.count()
    d_inner = plan_equi_join(ct, t, "c_custkey", "o_custkey", how="inner")
    d = plan_equi_join(ct, t, "c_custkey", "o_custkey", how="left")
    # the floor is a LOWER-bound correction, not an exact model: a left
    # outer can never emit fewer rows than the preserved side or the
    # inner matches (exact would need unmatched-key stats)
    exact = c.join(o, c.c_custkey == o.o_custkey, "left").count()
    assert d["est_rows"] == max(d_inner["est_rows"], n_c)
    assert d["est_rows"] <= exact
    assert d["est_rows"] >= n_c
    d_full = plan_equi_join(ct, t, "c_custkey", "o_custkey", how="full")
    assert d_full["est_rows"] >= max(n_c, o.count())
    d_semi = plan_equi_join(ct, t, "c_custkey", "o_custkey", how="left_semi")
    assert d_semi["est_rows"] <= n_c


def test_estimate_range_rows_files_total_passthrough(spark, root):
    """files_total on the _entries-reuse path reports the TRUE manifest
    total, not the kept-file count (ADVICE r10)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_range_rows,
    )

    df = spark.range(0, 8_000).select(F.col("id").alias("k"))
    t = IcebergTable.create(spark, root, df.repartitionByRange(8, "k"))
    entries, audit = t.files(bounds={"k": (0, 999)})
    assert len(entries) < audit["files_total"]
    est = estimate_range_rows(
        t, "k", 0, 999, _entries=entries, _files_total=audit["files_total"]
    )
    assert est["files_total"] == audit["files_total"]
    assert est["files_kept"] == len(entries)


def test_composite_ndv_permutation_error_mentions_order(ctable):
    """Requesting a composite sketch with members in the wrong order
    fails (order-defined hash) with a message that NAMES the permutation
    as the likely cause (ADVICE r10)."""
    t, _o = ctable
    with pytest.raises(ValueError, match="ORDER-DEFINED"):
        t.ndv(("o_orderstatus", "o_custkey"))


def test_stream_append_returns_stats_summary(spark, root, tmp_path):
    """stream_append surfaces the per-batch analyze results and folds
    partition_blobs_dropped to the top level instead of discarding the
    signal (ADVICE r10)."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        stream_append,
    )

    src = _os.path.join(str(tmp_path), "src")
    _os.makedirs(src)
    pq.write_table(
        pa.table({"k": [1, 2], "s": ["a", "a"]}), _os.path.join(src, "a.parquet")
    )
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame([(0, "a"), (1, "b")], "k long, s string"),
        partition_by=["s"],
    )
    t.analyze_partitions(columns=["k"])  # per-partition blobs exist
    stream = spark.readStream.schema("k long, s string").parquet(src)
    out = stream_append(
        t, stream, "s1", _os.path.join(str(tmp_path), "ck"),
        maintain_statistics=True,
    )
    assert out["batches_committed"] == 1
    assert len(out["stats"]) == 1
    # the incremental pass replaced per-partition coverage — the signal
    # must surface at the top level, not vanish into a discarded dict
    assert out["partition_blobs_dropped"] is True
    assert out["stats"][0]["batch_id"] == 0


# --------------------------------------- stats -> ad-hoc SQL surface (r11)


def test_register_stats_view_flips_smj_to_bhj(spark, sf_dir, root):
    """End-to-end pin (VERDICT r10 next-round #1): the same ad-hoc SQL
    join over lite DSv2 scans plans SortMergeJoin unassisted (Spark
    cannot size a Python data source) and BroadcastHashJoin once
    register_stats_view folds the pruned manifest bytes — results
    identical either way."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_table_size,
        stats_sql,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = IcebergTable.create(spark, os.path.join(root, "o"), o)
    ct = IcebergTable.create(spark, os.path.join(root, "c"), c)
    spark.dataSource.register(IcebergLiteDataSource)
    sql = (
        "SELECT c_mktsegment, count(*) AS n FROM f JOIN d"
        " ON o_custkey = c_custkey GROUP BY c_mktsegment"
    )
    spark.read.format("iceberg_lite").load(t.root).createOrReplaceTempView("f")
    spark.read.format("iceberg_lite").load(ct.root).createOrReplaceTempView("d")
    plain = spark.sql(sql)
    p1 = plain._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p1 and "BroadcastHashJoin" not in p1
    expected = {tuple(r) for r in plain.collect()}
    mid = (
        estimate_table_size(t)["est_mem_bytes"]
        + estimate_table_size(ct)["est_mem_bytes"]
    ) // 2
    planned, dec = stats_sql(
        spark, sql, {"f": t, "d": ct}, source="lite", broadcast_bytes=mid
    )
    p2 = planned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p2 and "SortMergeJoin" not in p2
    assert dec["d"]["broadcast"] is True and dec["f"]["broadcast"] is False
    assert {tuple(r) for r in planned.collect()} == expected


def test_register_stats_view_native_and_pruned(spark, sf_dir, root, ptable):
    """native-source registration applies the partition filter to the
    read AND to the size estimate; a pruned-small view broadcasts even
    when the full table would not."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        register_stats_view,
    )

    t, _res, o = ptable
    full = register_stats_view(
        spark, "orders_all", t, broadcast_bytes=1  # nothing fits under 1 B
    )
    assert full["broadcast"] is False
    n_f = o.where(F.col("o_orderstatus") == "F").count()
    pruned = register_stats_view(
        spark,
        "orders_f",
        t,
        partition_filter={"o_orderstatus": "F"},
        broadcast_bytes=10 * 1024 * 1024,
    )
    assert pruned["broadcast"] is True
    assert pruned["files"] < pruned["files_total"]
    assert pruned["rows"] == n_f
    assert spark.sql("SELECT count(*) FROM orders_f").collect()[0][0] == n_f
    with pytest.raises(ValueError, match="partition_filter key"):
        register_stats_view(spark, "x", t, partition_filter={"typo": 1})
    with pytest.raises(ValueError, match="unknown source"):
        register_stats_view(spark, "x", t, source="csv")


def test_stats_view_lite_partition_filter_rows(spark, sf_dir, root, ptable):
    """lite-source registration applies the partition filter as row
    predicates — the view's rows match the pruned estimate."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        register_stats_view,
    )

    t, _res, o = ptable
    dec = register_stats_view(
        spark,
        "orders_f_lite",
        t,
        partition_filter={"o_orderstatus": "F"},
        source="lite",
    )
    got = spark.sql("SELECT count(*) FROM orders_f_lite").collect()[0][0]
    assert got == dec["rows"] == o.where(F.col("o_orderstatus") == "F").count()


def test_estimate_side_bounds_uses_file_sketches(spark, root):
    """With analyze_files statistics, a bounds-filtered side estimate
    shrinks the KEY NDV through ndv_bounds (r11) instead of keeping the
    table value — the r10 gap where rows interpolated but distinctness
    did not."""
    df = spark.range(0, 8_000).select(F.col("id").alias("k"))
    t = IcebergTable.create(spark, root, df.repartitionByRange(8, "k"))
    t.analyze_files(columns=["k"], k=16_384)  # exact mode at 8k keys
    full = estimate_side(t, "k")
    assert full["ndv"] == 8_000 and full["ndv_source"] == "table"
    est = estimate_side(t, "k", bounds={"k": (0, 999)})
    assert est["ndv_source"] == "file_union_bounds"
    assert est["ndv"] <= 1_000 < full["ndv"]
    # analyze() only (no file sketches): graceful table-level fallback
    t2 = IcebergTable.create(
        spark, root + "_t2", df.repartitionByRange(8, "k")
    )
    try:
        t2.analyze(columns=["k"], k=16_384)
        est2 = estimate_side(t2, "k", bounds={"k": (0, 999)})
        assert est2["ndv_source"] == "table"
        # row interpolation still caps the NDV
        assert est2["ndv"] <= 1_005
    finally:
        shutil.rmtree(root + "_t2", ignore_errors=True)
    # unknown KEY column stays a loud refusal, not a silent fallback
    with pytest.raises(ValueError, match="no column"):
        estimate_side(t, "nope", bounds={"k": (0, 999)})


def test_stats_view_delta_and_cross_format_join(spark, sf_dir, root):
    """register_stats_view accepts DeltaTable sides too (add-action size
    + stats.numRecords), including a CROSS-FORMAT stats-planned SQL join:
    a Delta fact against an Iceberg dimension, the dimension broadcast
    from engine stats while both scans are lite DSv2 (unsizable by
    Spark)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        estimate_table_size,
        register_stats_view,
        stats_sql,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dt = DeltaTable.create(
        spark, os.path.join(root, "d"), o, partition_by=["o_orderstatus"]
    )
    ct = IcebergTable.create(spark, os.path.join(root, "c"), c)
    # delta size estimate: pruned vs full
    full = estimate_table_size(dt)
    pruned = estimate_table_size(dt, {"o_orderstatus": "F"})
    assert full["rows"] == o.count()
    assert pruned["rows"] == o.where(F.col("o_orderstatus") == "F").count()
    assert pruned["files"] < full["files"] == full["files_total"]
    with pytest.raises(ValueError, match="partition_filter key"):
        estimate_table_size(dt, {"typo": "F"})
    # delta native registration applies the filter to the read
    dec = register_stats_view(
        spark, "d_f", dt, partition_filter={"o_orderstatus": "F"}
    )
    assert dec["broadcast"] is True
    assert (
        spark.sql("SELECT count(*) FROM d_f").collect()[0][0] == pruned["rows"]
    )
    # cross-format lite join: delta fact x iceberg dim
    mid = (full["est_mem_bytes"] + estimate_table_size(ct)["est_mem_bytes"]) // 2
    sql = (
        "SELECT c_mktsegment, count(*) AS n FROM f JOIN d"
        " ON o_custkey = c_custkey GROUP BY c_mktsegment"
    )
    planned, decs = stats_sql(
        spark, sql, {"f": dt, "d": ct}, source="lite", broadcast_bytes=mid
    )
    p = planned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert decs["d"]["broadcast"] is True and decs["f"]["broadcast"] is False
    expected = sorted(
        tuple(r)
        for r in o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert sorted(tuple(r) for r in planned.collect()) == expected


def test_stats_view_lite_refuses_transformed_partition_filter(spark, sf_dir, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        register_stats_view,
    )

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = IcebergTable.create(
        spark, root, c.coalesce(1), partition_by=["bucket(4, c_custkey)"]
    )
    with pytest.raises(ValueError, match="IDENTITY"):
        register_stats_view(
            spark, "v", t,
            partition_filter={"c_custkey_bucket": 1}, source="lite",
        )


def test_anti_join_estimate_is_complement(spark, sf_dir, root):
    """leftanti output is the COMPLEMENT of the matched left rows — under
    PK-FK full containment the estimate must be ~0, not |L| (r11 review
    finding)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    t = IcebergTable.create(spark, os.path.join(root, "o"), o)
    t.analyze(columns=["o_custkey"])
    ct = IcebergTable.create(spark, os.path.join(root, "c"), c)
    ct.analyze(columns=["c_custkey"])
    # every order's custkey exists in customer → anti from orders ≈ 0
    d = plan_equi_join(t, ct, "o_custkey", "c_custkey", how="left_anti")
    assert d["est_rows"] == 0
    # semi stays capped at |L|
    d2 = plan_equi_join(t, ct, "o_custkey", "c_custkey", how="left_semi")
    assert 0 < d2["est_rows"] <= o.count()


def test_ndv_exact_cleared_when_row_cap_binds(spark, root):
    """ADVICE r11: when min(ndv, rows) binds on the rows side, the
    reported ndv is a pruning/interpolation-derived estimate, not the
    sketch's exact value — ndv_exact must clear."""
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("p")
    )
    t = IcebergTable.create(spark, root, df, partition_by=["p"])
    t.analyze()  # table-level only: NDV(k)=100, exact mode
    assert t.ndv("k") == {**t.ndv("k"), "ndv": 100, "exact": True}
    est = estimate_side(t, "k", partition_filter={"p": "1"})
    assert est["rows"] == 50
    assert est["ndv"] == 50  # capped by the pruned row count
    assert est["ndv_exact"] is False
    assert est["ndv_source"] == "table"
    # no cap → exactness preserved
    full = estimate_side(t, "k")
    assert full["ndv"] == 100 and full["ndv_exact"] is True


def test_analyze_partitions_refuses_nul_partition_value(spark, root):
    """VERDICT r11 #4: a string partition value containing \\x00 would be
    silently MERGED with its NUL-stripped twin by pandas' NUL-terminated
    khash groupby (the r11 digest-kernel bug class) — analyze_partitions
    must refuse loudly instead of writing merged sketches.

    Spark itself cannot WRITE a partition directory for a NUL value, so
    the only reachable route is partition evolution: old files written
    before the spec carried the string field, values derived from data."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a\x00"), (3, "a\x00b"), (4, "b")], "k long, p string"
    )
    t = IcebergTable.create(spark, root, df)  # UNPARTITIONED at create
    t.evolve_partition_spec(["p"])
    with pytest.raises(Exception, match="NUL"):
        t.analyze_partitions(columns=["k"])
    # NUL-free tables keep working through the same route
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string")
    root2 = os.path.join(root, "clean")
    t2 = IcebergTable.create(spark, root2, df2)
    t2.evolve_partition_spec(["p"])
    res = t2.analyze_partitions(columns=["k"])
    assert res["partitions"] == 2


# --- multi-way join ordering (r12: plan_join_tree subset DP) -------------


@pytest.fixture(scope="module")
def star(spark, sf_dir):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import _demo_star_tables

    return _demo_star_tables(spark, sf_dir)


_STAR_PREDS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
]


def test_join_tree_dp_orders_dims_first(star):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import plan_join_tree

    plan = plan_join_tree(star, _STAR_PREDS)
    # the winning chain joins the two dimensions before touching the fact
    assert plan["order"] == "(lineitem ⋈ (orders ⋈ (customer ⋈ nation)))"
    assert plan["cost"] < plan["naive_cost"]
    # C_out of the chain = rows(cn) + rows(cno) + rows(cnol); the naive
    # as-written order pays the fact-sized intermediate at every step
    assert plan["naive_order"].startswith("lineitem")
    # every step broadcasts its dimension-or-intermediate small side
    assert plan["n_broadcast_steps"] == 3


def test_join_tree_physical_plan_pins(spark, star):
    """Executed plan: three BroadcastHashJoins, no SortMergeJoin, and the
    statistics estimate of the final cardinality is tight (PK-FK)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import planned_join_tree

    joined, plan = planned_join_tree(star, _STAR_PREDS)
    p = joined._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in p
    actual = joined.count()
    assert abs(plan["est_rows"] - actual) * 10 <= actual


def test_join_tree_split_independent_cardinality(star):
    """rows(S) must not depend on the split that built S: force a
    different order by shrinking the threshold and compare final est."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import plan_join_tree

    a = plan_join_tree(star, _STAR_PREDS)
    b = plan_join_tree(star, _STAR_PREDS, broadcast_bytes=0)
    assert a["est_rows"] == b["est_rows"]
    assert b["n_broadcast_steps"] == 0


def test_join_tree_refusals(spark, star):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        execute_join_tree,
        plan_join_tree,
    )

    # disconnected graph = cross product
    with pytest.raises(ValueError, match="cross product"):
        plan_join_tree(
            star, [("lineitem", "l_orderkey", "orders", "o_orderkey")]
        )
    # unknown alias / self-join / arity
    with pytest.raises(ValueError, match="unknown alias"):
        plan_join_tree(star, _STAR_PREDS + [("nope", "x", "nation", "n_nationkey")])
    with pytest.raises(ValueError, match="self-join"):
        plan_join_tree(star, _STAR_PREDS + [("nation", "a", "nation", "b")])
    with pytest.raises(ValueError, match="at least two"):
        plan_join_tree({"nation": star["nation"]}, [])
    with pytest.raises(ValueError, match="max_tables"):
        plan_join_tree(star, _STAR_PREDS, max_tables=3)
    # ambiguous columns refuse at execution
    plan = plan_join_tree(star, _STAR_PREDS)
    dfs = {a: t.read() for a, t in star.items()}
    dfs["orders"] = dfs["orders"].withColumnRenamed("o_custkey", "n_name")
    with pytest.raises(ValueError, match="appears in both"):
        execute_join_tree(plan, dfs)


def test_join_tree_results_match_plain_join(spark, star):
    """Semantics pin: the reordered tree's rows equal Spark's own
    as-written join of the same tables (exceptAll both ways empty)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import planned_join_tree

    joined, _ = planned_join_tree(star, _STAR_PREDS)
    dfs = {a: t.read() for a, t in star.items()}
    plain = (
        dfs["lineitem"]
        .join(dfs["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dfs["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(dfs["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
    )
    cols = sorted(joined.columns)
    assert sorted(plain.columns) == cols
    assert joined.select(cols).exceptAll(plain.select(cols)).isEmpty()
    assert plain.select(cols).exceptAll(joined.select(cols)).isEmpty()


def test_join_tree_refuses_statless_table(star):
    """A table handle with no NDV sketches refuses up front — the DP
    must not guess selectivities."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import plan_join_tree

    class _NoStats:
        pass

    with pytest.raises(ValueError, match="no NDV statistics"):
        plan_join_tree(
            {"nation": star["nation"], "raw": _NoStats()},
            [("nation", "n_nationkey", "raw", "x")],
        )


def test_join_tree_pruning_flips_order_and_uses_pruned_ndv(spark, sf_dir):
    """q225's core, unit-level: a partition filter keeping 5% of orders
    flips the first join from {customer, nation} to {orders, customer},
    and the orders edge endpoints resolve NDV through the per-partition
    sketches."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        _demo_pruned_star,
        plan_join_tree,
    )

    pstar = _demo_pruned_star(spark, sf_dir)
    preds = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
    ]
    a = plan_join_tree(pstar, preds)
    b = plan_join_tree(
        pstar, preds, partition_filters={"orders": {"o_bucket": 7}}
    )
    assert "(customer ⋈ nation)" in a["order"]
    # canonical orientation prints the larger side left: pruned orders
    # (5%) is smaller than customer, so the flipped first pair reads
    # (customer ⋈ orders)
    assert "(customer ⋈ orders)" in b["order"]
    assert b["base"]["orders"]["rows"] < a["base"]["orders"]["rows"] / 10
    for e in b["edges"]:
        for side in ("left", "right"):
            if e[side].startswith("orders."):
                assert e[f"ndv_source_{side}"] == "pruned_union"
    # pruning can only tighten the modeled cost
    assert b["cost"] < a["cost"]


# --- DP optimality property (r12): fake-table harness, no Spark ---------


class _FakeTable:
    """Duck-typed stand-in exposing exactly what plan_join_tree consumes:
    an unpartitioned one-file table's pruned size and manifest entries,
    and a per-column NDV dict."""

    def __init__(self, rows, ndvs, bytes_per_row=100):
        self._rows = rows
        self._ndvs = ndvs
        self._bytes = rows * bytes_per_row

    def pruned_size(self, partition_filter=None):
        return {"rows": self._rows, "bytes": self._bytes, "files": 1, "files_total": 1}

    def files(self, partition_filter=None, bounds=None):
        e = {"record_count": self._rows, "file_size_in_bytes": self._bytes}
        return [e], {"files_total": 1}

    def partition_fields(self):
        return []

    def ndv(self, col):
        return {"ndv": self._ndvs[col], "exact": True}


def _all_bushy_costs(aliases, base_rows, edges):
    """Brute-force C_out over every bushy tree (exponential, n<=5):
    returns the minimum cost over all cross-product-free trees."""
    import itertools

    def subset_rows(s):
        r = 1.0
        for a in s:
            r *= base_rows[a]
        for (x, cx, y, cy, sel) in edges:
            if x in s and y in s:
                r *= sel
        return r

    from functools import lru_cache

    names = tuple(sorted(aliases))

    @lru_cache(maxsize=None)
    def best(fs):
        s = set(fs)
        if len(s) == 1:
            return 0.0
        out = None
        items = sorted(s)
        for r in range(1, len(items)):
            for combo in itertools.combinations(items[1:], r):
                s2 = set(combo)
                s1 = s - s2
                crossing = any(
                    (x in s1 and y in s2) or (x in s2 and y in s1)
                    for (x, _cx, y, _cy, _sel) in edges
                )
                if not crossing:
                    continue
                c1, c2 = best(frozenset(s1)), best(frozenset(s2))
                if c1 is None or c2 is None:
                    continue
                c = c1 + c2 + subset_rows(s)
                if out is None or c < out:
                    out = c
        return out

    return best(frozenset(names))


def test_join_tree_dp_matches_bruteforce_on_random_graphs():
    """The subset DP must find the TRUE C_out minimum over all bushy
    cross-product-free trees — checked against exhaustive enumeration on
    30 random 3-5 table join graphs (chains, stars, cycles)."""
    import random

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import plan_join_tree

    rng = random.Random(42)
    for trial in range(30):
        n = rng.randint(3, 5)
        aliases = [f"t{i}" for i in range(n)]
        tables = {}
        col_of = {}
        for a in aliases:
            rows = rng.choice([10, 100, 1_000, 50_000, 1_000_000])
            key_ndv = max(1, int(rows * rng.choice([0.001, 0.1, 1.0])))
            col = f"{a}_k"
            tables[a] = _FakeTable(rows, {col: key_ndv})
            col_of[a] = col
        # spanning tree + a chance of an extra (cycle) edge
        preds = []
        for i in range(1, n):
            j = rng.randrange(i)
            preds.append(
                (aliases[i], col_of[aliases[i]], aliases[j], col_of[aliases[j]])
            )
        if rng.random() < 0.4 and n >= 3:
            a, b = rng.sample(aliases, 2)
            if not any(
                {p[0], p[2]} == {a, b} for p in preds
            ):
                preds.append((a, col_of[a], b, col_of[b]))
        plan = plan_join_tree(tables, preds)
        base_rows = {a: tables[a]._rows for a in aliases}
        edges = []
        for (aa, ca, ab, cb) in preds:
            nda = min(tables[aa]._ndvs[ca], base_rows[aa])
            ndb = min(tables[ab]._ndvs[cb], base_rows[ab])
            edges.append((aa, ca, ab, cb, 1.0 / max(nda, ndb, 1)))
        truth = _all_bushy_costs(aliases, base_rows, edges)
        assert truth is not None
        assert abs(plan["cost"] - truth) <= 1e-6 * max(truth, 1.0), (
            f"trial {trial}: DP cost {plan['cost']} != brute-force {truth}"
        )
        # and the naive as-written order can never beat the optimum
        assert plan["cost"] <= plan["naive_cost"] + 1e-9


def test_join_tree_salting_routes_through_salted_join(spark, root):
    """r13 (VERDICT r12 #7): the join-TREE planner annotates a
    non-broadcast single-key step whose leaf side carries a
    manifest-flagged hot key, and execute_join_tree(n_salts=) routes that
    step through operators/skew.salted_join — `_salt` visible in the
    executed plan, rows and column order identical to the plain tree
    execution. Without n_salts the advisory is inert (plan unchanged)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.joinplan import (
        execute_join_tree,
        plan_join_tree,
    )

    rows = [(1, "hot")] * 2000 + [(k, "cold") for k in range(2, 12)]
    f = spark.createDataFrame(rows, "k long, tag string")
    ft = IcebergTable.create(spark, root + "_f", f, partition_by=["k"])
    ft.analyze(columns=["k"])
    d = spark.createDataFrame([(k, k * 10) for k in range(1, 12)], "dk long, v long")
    dt = IcebergTable.create(spark, root + "_d", d)
    dt.analyze(columns=["dk"])
    try:
        plan = plan_join_tree(
            {"fact": ft, "dim": dt},
            [("fact", "k", "dim", "dk")],
            broadcast_bytes=0,
        )
        step = plan["tree"]
        assert step["broadcast"] is None
        assert step["recommend_salting"] is True
        assert step["salt"]["alias"] == "fact" and step["salt"]["skew_ratio"] > 5
        dfs = {"fact": ft.read(), "dim": dt.read()}
        plain = execute_join_tree(plan, dfs)
        assert "_salt" not in plain._jdf.queryExecution().executedPlan().toString()
        salted = execute_join_tree(plan, dfs, n_salts=8)
        assert "_salt" in salted._jdf.queryExecution().executedPlan().toString()
        assert salted.columns == plain.columns
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # un-skewed steps stay un-advised: the same tree planned with the
        # broadcast budget open broadcasts the dim and carries no advisory
        plan2 = plan_join_tree(
            {"fact": ft, "dim": dt}, [("fact", "k", "dim", "dk")]
        )
        assert plan2["tree"]["broadcast"] is not None
        assert "recommend_salting" not in plan2["tree"]
    finally:
        shutil.rmtree(root + "_f", ignore_errors=True)
        shutil.rmtree(root + "_d", ignore_errors=True)
