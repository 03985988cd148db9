"""CDF `_commit_timestamp` TimestampType rendering (plans/deltalog.py):
Delta proper renders the CDF's third column as a timestamp; the engine's
default stays epoch millis (bigint) for oracle parity, with
``timestamp_type=True`` opting into the spec rendering — same instants,
different type."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"cdfts_test_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _table(spark, root):
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    t = DeltaTable.create(spark, root, df)
    t.enable_change_data_feed()
    t.append(spark.range(10, 15).select(F.col("id").alias("k"), F.lit(0).alias("v")))
    t.delete("k >= 12")
    return t


def test_timestamp_type_rendering_matches_millis(spark, root):
    t = _table(spark, root)
    hi = t.latest_version()
    ch_long = t.table_changes(0, hi)
    ch_ts = t.table_changes(0, hi, timestamp_type=True)
    assert dict(ch_long.dtypes)["_commit_timestamp"] == "bigint"
    assert dict(ch_ts.dtypes)["_commit_timestamp"] == "timestamp"
    a = sorted(
        tuple(r)
        for r in ch_long.select("_commit_version", "_commit_timestamp")
        .distinct()
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in ch_ts.select(
            "_commit_version",
            F.unix_millis("_commit_timestamp").alias("_commit_timestamp"),
        )
        .distinct()
        .collect()
    )
    assert a == b and all(ms is not None for _, ms in a)


def test_timestamp_type_empty_range(spark, root):
    t = _table(spark, root)
    ch = t.table_changes(t.latest_version(), t.latest_version(), timestamp_type=True)
    # the commit exists, so rows exist; an out-of-range feed keeps the type
    empty = t.table_changes(0, 0, timestamp_type=True).where(F.lit(False))
    assert dict(empty.dtypes)["_commit_timestamp"] == "timestamp"
    assert dict(ch.dtypes)["_commit_timestamp"] == "timestamp"


def test_delta_cdc_stream_timestamp_type(spark, root):
    """The delta_cdc STREAM source mirrors the batch option:
    option("timestampType", "true") renders _commit_timestamp as a
    TimestampType carrying the same instants as the bigint default."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        DeltaCdcDataSource,
    )

    df = spark.range(4).select(F.col("id").alias("k"))
    t = DeltaTable.create(spark, root, df.coalesce(1))
    t.append(spark.range(4, 6).select(F.col("id").alias("k")).coalesce(1))
    try:
        spark.dataSource.register(DeltaCdcDataSource)
    except Exception:
        pass

    def _drain(opts, sub):
        sink = os.path.join(root, f"_sink_{sub}")
        reader = spark.readStream.format("delta_cdc")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(root, f"_ckpt_{sub}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    as_long = _drain({}, "long")
    as_ts = _drain({"timestampType": "true"}, "ts")
    assert dict(as_long.dtypes)["_commit_timestamp"] == "bigint"
    assert dict(as_ts.dtypes)["_commit_timestamp"] == "timestamp"
    a = sorted(
        tuple(r)
        for r in as_long.select("commit_version", "_commit_timestamp")
        .distinct()
        .collect()
    )
    b = sorted(
        tuple(r)
        for r in as_ts.select(
            "commit_version",
            F.unix_millis("_commit_timestamp").alias("ms"),
        )
        .distinct()
        .collect()
    )
    assert a == b and len(a) == 2


def test_timestamp_type_with_in_commit_timestamps(spark, root):
    df = spark.range(5).select(F.col("id").alias("k"))
    t = DeltaTable.create(spark, root, df)
    t.enable_change_data_feed()
    t.enable_in_commit_timestamps()
    t.append(spark.range(5, 8).select(F.col("id").alias("k")))
    ch = t.table_changes(0, t.latest_version(), timestamp_type=True)
    rows = ch.select(
        "_commit_version", F.unix_millis("_commit_timestamp").alias("ms")
    ).distinct().collect()
    by_v = {r["_commit_version"]: r["ms"] for r in rows}
    # ICT feeds the same authoritative millis through the timestamp type:
    # strictly monotonic across the ICT-enabled versions
    vs = sorted(v for v in by_v if v >= 2)
    assert all(by_v[a] < by_v[b] for a, b in zip(vs, vs[1:]))
