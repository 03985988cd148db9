"""Iceberg v3 scalar types `timestamp_ns` / `timestamptz_ns` / `unknown`
(spec §Primitive Types, VERDICT r9 ask #5). The engine surfaces ns
timestamps as epoch-NANO longs (Spark's engine precision is micros —
surfacing Spark timestamps would silently truncate) and `unknown` as
Spark VOID: always optional, never stored in data files, read as null."""

import os
import shutil
import tempfile
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
    IcebergTable,
    _single_value_bytes,
    _single_value_parse,
)


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"ice_v3t_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


NS = 10**9


def _mk(spark, root, with_unknown=True):
    cols = [
        F.col("id").alias("k"),
        (F.col("id") * NS + F.lit(123456789)).alias("ts_ns"),
    ]
    if with_unknown:
        cols.append(F.lit(None).alias("u"))
    df = spark.range(6).select(*cols)
    return IcebergTable.create(
        spark, root, df, column_types={"ts_ns": "timestamp_ns"}
    )


def test_ns_create_declares_v3_and_roundtrips_exact(spark, root):
    t = _mk(spark, root)
    md = t.metadata()
    assert md["format-version"] == 3
    fields = {f["name"]: f for f in md["schemas"][0]["fields"]}
    assert fields["ts_ns"]["type"] == "timestamp_ns"
    assert fields["u"]["type"] == "unknown"
    assert not fields["u"]["required"]  # unknown must be optional
    got = sorted(tuple(r) for r in t.read().collect())
    # nanosecond precision survives bit-exact (sub-microsecond digits kept)
    assert got[0] == (0, 123456789, None)
    assert got[5] == (5, 5 * NS + 123456789, None)


def test_unknown_column_not_stored_in_data_files(spark, root):
    t = _mk(spark, root)
    for e in t.files()[0]:
        names = pq.ParquetFile(e["file_path"].replace("file:", "")).schema_arrow.names
        assert "u" not in names
        assert "ts_ns" in names


def test_append_omitting_unknown_and_time_travel(spark, root):
    t = _mk(spark, root)
    t.append(
        spark.range(6, 9).select(
            F.col("id").alias("k"), (F.col("id") * NS).alias("ts_ns")
        )
    )
    assert t.read().count() == 9
    assert t.read(index=0).count() == 6
    # the unknown column reads as typed VOID nulls at every snapshot
    assert t.read().schema["u"].dataType == T.NullType()
    assert all(r["u"] is None for r in t.read().collect())


def test_ns_bounds_prune_files(spark, root):
    t = _mk(spark, root)
    t.append(
        spark.range(100, 103).select(
            F.col("id").alias("k"), (F.col("id") * NS).alias("ts_ns")
        )
    )
    all_fs, _ = t.files()
    kept, audit = t.files(bounds={"ts_ns": (50 * NS, None)})
    assert 0 < len(kept) < len(all_fs)
    # every kept file with bounds sits in range (bound-less empty part
    # files are conservatively kept — cannot-prune, never wrong-prune)
    bounded = [e for e in kept if e.get("upper_bounds")]
    assert bounded
    assert all(
        _single_value_parse("timestamp_ns", e["upper_bounds"]["2"]) >= 50 * NS
        for e in bounded
    )


def test_ns_single_value_serialization_is_long(spark):
    v = 1755300000 * NS + 1  # needs int64; would overflow int32 micros paths
    for it in ("timestamp_ns", "timestamptz_ns"):
        b = _single_value_bytes(it, v)
        assert len(b) == 8
        assert _single_value_parse(it, b) == v
    # identical encoding to long (Appendix D: long count from epoch)
    assert _single_value_bytes("timestamp_ns", v) == _single_value_bytes("long", v)


def test_ns_declaration_requires_long_column(spark, root):
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.current_timestamp().alias("ts_ns"),
    )
    with pytest.raises(TypeError, match="epoch-nano longs"):
        IcebergTable.create(
            spark, root, df, column_types={"ts_ns": "timestamp_ns"}
        )


def test_column_types_absent_column_refused(spark, root):
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="absent columns"):
        IcebergTable.create(spark, root, df, column_types={"nope": "timestamp_ns"})


def test_add_column_unknown_and_ns_upgrade_to_v3(spark, root):
    t = IcebergTable.create(
        spark, root, spark.range(4).select(F.col("id").alias("k"))
    )
    assert t.metadata()["format-version"] == 2
    t.add_column("u", "unknown")
    assert t.metadata()["format-version"] == 3
    t.add_column("seen_ns", "timestamp_ns")
    got = t.read()
    assert got.schema["u"].dataType == T.NullType()
    assert got.schema["seen_ns"].dataType == T.LongType()
    assert all(r["u"] is None and r["seen_ns"] is None for r in got.collect())


def test_unknown_defaults_refused(spark, root):
    t = IcebergTable.create(
        spark, root, spark.range(2).select(F.col("id").alias("k"))
    )
    with pytest.raises(ValueError, match="unknown columns cannot carry default"):
        t.add_column("u", "unknown", default="x")


def test_partition_by_unknown_refused(spark, root):
    df = spark.range(3).select(F.col("id").alias("k"), F.lit(None).alias("u"))
    with pytest.raises(ValueError, match="cannot partition by unknown"):
        IcebergTable.create(spark, root, df, partition_by=["u"])


def test_bucket_partition_over_ns_column(spark, root):
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * NS).alias("ts_ns")
    )
    t = IcebergTable.create(
        spark,
        root,
        df,
        partition_by=["bucket(4, ts_ns)"],
        column_types={"ts_ns": "timestamp_ns"},
    )
    # spec Appendix B: ns timestamps bucket as hashLong(nanosFromEpoch) —
    # the same murmur3 long rule ints use, so round-trip must be lossless
    assert t.read().count() == 20
    assert sorted(r["ts_ns"] for r in t.read().collect()) == [i * NS for i in range(20)]
    spec = t.metadata()["partition-specs"][0]["fields"]
    assert spec[0]["transform"] == "bucket[4]"


def test_foreign_v2_metadata_with_ns_type_refused(spark, root):
    t = _mk(spark, root, with_unknown=False)
    # tamper: downgrade the written metadata to v2 while keeping the type
    import json

    vs = t._metadata_versions()
    p = os.path.join(t.meta_dir, f"v{vs[-1]}.metadata.json")
    with open(p) as f:
        md = json.load(f)
    md["format-version"] = 2
    with open(p, "w") as f:
        json.dump(md, f)
    with pytest.raises(NotImplementedError, match="requires format-version 3"):
        IcebergTable(spark, root).metadata()


def test_lite_source_reads_ns_and_unknown(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    spark.dataSource.register(IcebergLiteDataSource)
    t = _mk(spark, root)
    t.append(
        spark.range(6, 9).select(
            F.col("id").alias("k"), (F.col("id") * NS).alias("ts_ns")
        )
    )
    lite = spark.read.format("iceberg_lite").load(root)
    assert lite.schema["ts_ns"].dataType == T.LongType()
    assert lite.schema["u"].dataType == T.NullType()
    assert sorted(tuple(r) for r in lite.collect()) == sorted(
        tuple(r) for r in t.read().collect()
    )
