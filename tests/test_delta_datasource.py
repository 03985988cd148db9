"""delta_lite pluggable batch source (sources/lite_source.py): read
parity with DeltaTable.read, time travel via option, partition/stats
pruning at planning time, schema-evolution nulls, SQL-front-door usage."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
    DeltaLiteDataSource,
)


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"dlsrc_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _register(spark):
    try:
        spark.dataSource.register(DeltaLiteDataSource)
    except Exception:
        pass


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_parity_and_time_travel(spark, root):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)], "k int, part string, v int"
    )
    t = DeltaTable.create(spark, root, df, partition_by=["part"])
    t.overwrite(df.where(F.col("k") < 3))
    _register(spark)
    got = spark.read.format("delta_lite").load(root)
    assert _rows(got.select("k", "part", "v")) == _rows(t.read().select("k", "part", "v"))
    v0 = spark.read.format("delta_lite").option("version", "0").load(root)
    assert v0.count() == 3 and got.count() == 2


def test_partition_filter_prunes_planned_files(spark, root):
    df = spark.createDataFrame([(i, f"p{i % 4}") for i in range(40)], "k int, part string")
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    assert len(t.files()) == 4
    # plan directly through the reader: partition EqualTo accepted → 1 file
    from pyspark.sql.datasource import EqualTo

    r = DeltaLiteDataSource({"path": root, "pushdown": "true"}).reader(None)
    residual = list(r.pushFilters([EqualTo(("part",), "p2")]))
    assert residual == []  # exact at file level: fully consumed
    assert len(r.partitions()) == 1
    # end-to-end through SQL with the session conf on
    _register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("delta_lite")
            .option("pushdown", "true")
            .load(root)
            .where(F.col("part") == "p2")
        )
        assert got.count() == 10
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_boolean_partition_equality_keeps_its_files(spark, root):
    """The log serializes a boolean partition value as ``true``/``false``:
    a pushed ``b = true`` is consumed and keeps that partition's file, so
    the query returns its rows (it matched no file, and returned 0 rows,
    when the value was compared as ``str(True)``)."""
    df = spark.range(10).selectExpr("id AS k", "id % 2 = 0 AS b")
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["b"])
    assert len(t.files(partition_filter={"b": True})) == 1
    from pyspark.sql.datasource import EqualTo

    r = DeltaLiteDataSource({"path": root, "pushdown": "true"}).reader(None)
    assert list(r.pushFilters([EqualTo(("b",), True)])) == []
    assert len(r.partitions()) == 1
    _register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = spark.read.format("delta_lite").option("pushdown", "true").load(root)
        assert got.where("b = true").count() == 5
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_stats_bounds_prune_but_are_reapplied(spark, root):
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    DeltaTable.create(spark, root, df.repartitionByRange(4, "k"))
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    r = DeltaLiteDataSource({"path": root, "pushdown": "true"}).reader(None)
    fs = [GreaterThanOrEqual(("k",), 150), LessThanOrEqual(("k",), 160)]
    residual = list(r.pushFilters(fs))
    assert residual == fs  # file-level pruning only: rows re-checked by Spark
    assert len(r.partitions()) == 1
    _register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("delta_lite")
            .option("pushdown", "true")
            .load(root)
            .where(F.col("k").between(150, 160))
        )
        assert got.count() == 11
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_schema_evolution_reads_nulls(spark, root):
    t = DeltaTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    t.append(
        spark.range(3, 5).select(F.col("id").alias("k"), F.lit(7).alias("extra")),
        allow_evolution=True,
    )
    _register(spark)
    got = spark.read.format("delta_lite").load(root)
    assert got.where(F.col("extra").isNull()).count() == 3
    assert got.where(F.col("extra") == 7).count() == 2


def test_sql_front_door(spark, root):
    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], "k int, tag string")
    DeltaTable.create(spark, root, df)
    _register(spark)
    view = f"dl_{uuid.uuid4().hex[:6]}"
    spark.read.format("delta_lite").load(root).createOrReplaceTempView(view)
    got = {
        (r["tag"], r["n"])
        for r in spark.sql(f"SELECT tag, count(*) AS n FROM {view} GROUP BY tag").collect()
    }
    assert got == {("x", 2), ("y", 1)}


def test_row_group_pruning_and_dv_ordinal_alignment(spark, tmp_path):
    """r5: the executor prunes ROW GROUPS by footer statistics when bounds
    are pushed, and DV masking still lands on the right rows because file
    ordinals are re-based per kept group's cumulative start offset."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.roaring import (
        serialize_rba,
        write_dv_file,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        select_row_groups,
    )

    root = str(tmp_path / "rg")
    os.makedirs(os.path.join(root, "_delta_log"))
    # one file, 10 row groups of 100 ascending keys each
    ks = list(range(1000))
    pq.write_table(
        pa.table({"k": ks, "v": [k * 2 for k in ks]}),
        os.path.join(root, "data.parquet"),
        row_group_size=100,
    )
    pf = pq.ParquetFile(os.path.join(root, "data.parquet"))
    assert pf.metadata.num_row_groups == 10
    # pure pruning function: k in [250, 349] overlaps exactly groups 2 and 3
    assert select_row_groups(pf.metadata, {"k": (250, 349)}) == [2, 3]
    assert select_row_groups(pf.metadata, {"k": (None, 99)}) == [0]
    assert select_row_groups(pf.metadata, {"k": (950, None)}) == [9]
    assert select_row_groups(pf.metadata, {"nope": (1, 2)}) == list(range(10))

    # DV killing ordinals 260..279 (inside group 2)
    blob = serialize_rba(list(range(260, 280)))
    dv_path = os.path.join(root, "dv.bin")
    ((off, size),) = write_dv_file(dv_path, [blob])
    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {"id": "rg", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_string, "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": "data.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True,
                 "deletionVector": {"storageType": "p", "pathOrInlineDv": dv_path,
                                    "offset": off, "sizeInBytes": size,
                                    "cardinality": 20}}},
    ]
    with open(os.path.join(root, "_delta_log", "0" * 20 + ".json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")

    spark.dataSource.register(DeltaLiteDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("delta_lite")
            .option("pushdown", "true")
            .load(root)
            .where("k >= 250 AND k <= 349")
            .collect()
        )
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    ks_got = sorted(r["k"] for r in got)
    # 250..349 minus the DV'd 260..279 — pruning must not shift the mask
    assert ks_got == [k for k in range(250, 350) if not (260 <= k < 280)]
    assert all(r["v"] == r["k"] * 2 for r in got)


def test_lite_sources_handle_empty_snapshots(spark, tmp_path):
    """Deterministic pin of the fuzz-found r5 bug: the Python Data Source
    API calls read() even when a snapshot has ZERO live files, so each
    lite source must plan an empty sentinel partition and yield nothing —
    schema preserved, zero rows, no crash."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        IcebergTable,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    dl = DeltaTable.create(spark, str(tmp_path / "d"), df)
    dl.delete("k = 1")
    ic = IcebergTable.create(spark, str(tmp_path / "i"), df)
    ic.equality_delete(spark.createDataFrame([(1,)], "k long"))
    spark.dataSource.register(DeltaLiteDataSource)
    spark.dataSource.register(IcebergLiteDataSource)
    for fmt, root in (("delta_lite", dl.root), ("iceberg_lite", ic.root)):
        got = spark.read.format(fmt).load(root)
        assert got.columns == ["k", "v"], fmt
        assert got.count() == 0, fmt


@pytest.mark.parametrize(
    "value_sql",
    [
        "DATE'2020-01-02'",
        "CAST(12.34 AS DECIMAL(10,2))",
        "TIMESTAMP'2020-01-02 03:04:05.5'",
    ],
    ids=["date", "decimal", "timestamp"],
)
def test_typed_partition_values_read_natively(spark, root, value_sql):
    """Delta serializes partition values as strings; delta_lite and
    delta_cdc parse them back to the column's type (date, decimal and
    timestamp, not only numbers/booleans) and return the native rows."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        DeltaCdcDataSource,
        drain_feed,
    )

    df = spark.sql(f"SELECT id AS k, {value_sql} AS d FROM range(3)")
    t = DeltaTable.create(spark, root, df, partition_by=["d"])
    native = _rows(t.read().select("k", "d"))
    _register(spark)
    assert _rows(spark.read.format("delta_lite").load(root).select("k", "d")) == native
    feed = drain_feed(spark, DeltaCdcDataSource, root, lambda f: f.select("k", "d"))
    assert _rows(feed) == native
