"""Iceberg v2 interop (plans/iceberg.py): round-trip, snapshot time travel,
fast-append manifest reuse, two-level pruning audit, bounds skipping,
metadata-spec structure, single-value serialization vectors, and reading a
handcrafted foreign-written table."""

import json
import os
import shutil
import struct
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
    IcebergTable,
    _single_value_bytes,
    _single_value_parse,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.avro_ocf import (
    read_ocf,
    write_ocf,
)


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"ice_test_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_single_value_serialization_vectors():
    # Appendix D: little-endian numerics, UTF-8 strings
    assert _single_value_bytes("long", 1) == b"\x01\x00\x00\x00\x00\x00\x00\x00"
    assert _single_value_bytes("int", -1) == b"\xff\xff\xff\xff"
    assert _single_value_bytes("double", 1.0) == struct.pack("<d", 1.0)
    assert _single_value_bytes("string", "né") == "né".encode("utf-8")
    for t, v in (("long", -5), ("int", 7), ("double", 2.5), ("string", "x"), ("boolean", True)):
        assert _single_value_parse(t, _single_value_bytes(t, v)) == v


def test_create_read_roundtrip_and_metadata_shape(spark, root):
    df = spark.range(50).select(F.col("id").alias("k"), (F.col("id") % 5).alias("g"))
    t = IcebergTable.create(spark, root, df)
    assert _rows(t.read()) == _rows(df)
    md = t.metadata()
    assert md["format-version"] == 2
    assert md["current-schema-id"] == 0
    names = [f["name"] for f in md["schemas"][0]["fields"]]
    assert names == ["k", "g"]
    ids = [f["id"] for f in md["schemas"][0]["fields"]]
    assert ids == [1, 2]
    # HadoopTables discovery files
    assert os.path.exists(os.path.join(root, "metadata", "version-hint.text"))
    snap = md["snapshots"][0]
    assert snap["summary"]["operation"] == "append"
    assert os.path.exists(snap["manifest-list"])
    # manifest list is a real Avro OCF with the spec's field names
    meta, rows = read_ocf(snap["manifest-list"])
    assert rows and "manifest_path" in rows[0]
    _, entries = read_ocf(rows[0]["manifest_path"])
    e = entries[0]
    assert e["status"] == 1 and e["snapshot_id"] == snap["snapshot-id"]
    assert e["data_file"]["file_format"] == "PARQUET"
    assert e["data_file"]["record_count"] > 0


def test_append_overwrite_time_travel(spark, root):
    t = IcebergTable.create(spark, root, spark.range(10).select(F.col("id").alias("k")))
    t.append(spark.range(10, 20).select(F.col("id").alias("k")))
    t.overwrite(spark.range(5).select(F.col("id").alias("k")))
    assert t.read(index=0).count() == 10
    assert t.read(index=1).count() == 20
    assert t.read().count() == 5
    ops = [s["summary"]["operation"] for s in sorted(t.snapshots(), key=lambda s: s["sequence-number"])]
    assert ops == ["append", "append", "overwrite"]


def test_fast_append_reuses_prior_manifest(spark, root):
    t = IcebergTable.create(spark, root, spark.range(5).select(F.col("id").alias("k")).coalesce(1))
    snap0 = t._resolve_snapshot(None, None)
    _, rows0 = read_ocf(snap0["manifest-list"])
    t.append(spark.range(5, 9).select(F.col("id").alias("k")).coalesce(1))
    snap1 = t._resolve_snapshot(None, None)
    _, rows1 = read_ocf(snap1["manifest-list"])
    # the new list = one NEW manifest + the prior manifest BY REFERENCE
    assert len(rows1) == 2
    assert rows0[0]["manifest_path"] in {r["manifest_path"] for r in rows1}


def test_partitioned_files_keep_columns_and_prune(spark, root):
    df = spark.createDataFrame(
        [(i, f"p{i % 4}") for i in range(40)], "k long, part string"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    # identity partitioning: data files CONTAIN the partition column
    import pyarrow.parquet as pq

    entries, audit = t.files()
    assert audit["files_kept"] == 4
    phys = pq.read_schema(entries[0]["file_path"])
    assert "part" in phys.names
    # partition pruning keeps 1 of 4 files
    kept, audit2 = t.files(partition_filter={"part": "p2"})
    assert len(kept) == 1 and audit2["files_total"] == 4
    got = t.read(partition_filter={"part": "p2"})
    assert got.count() == 10


def test_bounds_skipping_via_manifest_stats(spark, root):
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    t = IcebergTable.create(spark, root, df.repartitionByRange(4, "k"))
    kept, audit = t.files(bounds={"k": (150, 160)})
    assert len(kept) == 1 and audit["files_total"] == 4
    got = t.read(bounds={"k": (150, 160)}).where(F.col("k").between(150, 160))
    assert got.count() == 11


def test_manifest_list_partition_summaries_prune_manifests(spark, root):
    # two appends with DISJOINT partition ranges → a filtered read must not
    # open the other append's manifest at all
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 1), (2, 2)], "k long, part long").coalesce(1),
        partition_by=["part"],
    )
    t.append(spark.createDataFrame([(3, 8), (4, 9)], "k long, part long").coalesce(1))
    kept, audit = t.files(partition_filter={"part": 9})
    assert audit["manifests_total"] == 2
    assert audit["manifests_read"] == 1  # first manifest's summary [1,2] excludes 9
    assert len(kept) == 1


def test_reads_foreign_written_table(spark, root):
    """A handcrafted table laid down the way another engine would write it
    (absolute file: URIs, separate metadata dir) must read correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    fpath = os.path.join(root, "data", "d1.parquet")
    pq_.write_table(pa.table({"k": [1, 2, 3]}), fpath)
    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "partition", "type": {"type": "record", "name": "r102", "fields": []}},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {"name": "lower_bounds", "type": ["null", {"type": "map", "values": "bytes"}], "default": None},
                        {"name": "upper_bounds", "type": ["null", {"type": "map", "values": "bytes"}], "default": None},
                    ],
                },
            },
        ],
    }
    mpath = os.path.join(root, "metadata", "m1.avro")
    write_ocf(
        mpath,
        entry_schema,
        [
            {
                "status": 1,
                "snapshot_id": 77,
                "sequence_number": 1,
                "file_sequence_number": 1,
                "data_file": {
                    "content": 0,
                    "file_path": "file:" + fpath,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 3,
                    "file_size_in_bytes": os.path.getsize(fpath),
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
        ],
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        _MANIFEST_LIST_SCHEMA,
    )

    lpath = os.path.join(root, "metadata", "snap-77-1-x.avro")
    write_ocf(
        lpath,
        _MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": "file:" + mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 77,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": 3,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": None,
            }
        ],
    )
    md = {
        "format-version": 2,
        "table-uuid": "u",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 1,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"}]}],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "snapshots": [{"snapshot-id": 77, "sequence-number": 1, "timestamp-ms": 0,
                       "manifest-list": "file:" + lpath,
                       "summary": {"operation": "append"}, "schema-id": 0}],
        "snapshot-log": [], "metadata-log": [],
        "current-snapshot-id": 77,
    }
    with open(os.path.join(root, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(md, f)
    t = IcebergTable(spark, root)
    assert _rows(t.read()) == [(1,), (2,), (3,)]


def test_commit_conflict_raises(spark, root):
    t = IcebergTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    # simulate a losing race: publishing over an existing metadata version
    md = t.metadata()
    vs = t._metadata_versions()
    tmp = os.path.join(t.meta_dir, ".race.json")
    with open(tmp, "w") as f:
        json.dump(md, f)
    with pytest.raises(FileExistsError):
        os.link(tmp, os.path.join(t.meta_dir, f"v{vs[-1]}.metadata.json"))
    os.unlink(tmp)


def test_uniform_over_delta_shares_files_and_time_travels(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        delta_to_iceberg_uniform,
    )

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "b", 40)],
        "k long, part string, v long",
    )
    d = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    d.append(
        spark.createDataFrame([(5, "c", 50)], "k long, part string, v long").coalesce(1)
    )
    d.overwrite(df.where(F.col("part") == "a").coalesce(1))
    ice = delta_to_iceberg_uniform(d)
    # dual-format root: both stacks present, no data copied
    assert os.path.isdir(os.path.join(root, "_delta_log"))
    assert os.path.isdir(os.path.join(root, "metadata"))
    entries, _ = ice.files()
    assert all(e["file_path"].startswith(os.path.abspath(root)) for e in entries)
    # every delta version reads identically through iceberg snapshots
    for i, dv in enumerate(d.versions()):
        a = sorted(tuple(r) for r in d.read(dv).select("k", "part", "v").collect())
        b = sorted(tuple(r) for r in ice.read(index=i).select("k", "part", "v").collect())
        assert a == b, f"version {dv} diverges"
    # converted stats give bounds pruning on the iceberg side
    kept, audit = ice.files(index=1, bounds={"k": (5, 5)})
    assert audit["files_total"] > len(kept)
    # partition pruning through converted partitionValues
    keptp, _ = ice.files(index=1, partition_filter={"part": "c"})
    assert len(keptp) == 1


def test_uniform_carries_date_and_timestamp_bounds(spark, root):
    """Delta stats hold dates and timestamps as ISO strings; UniForm
    encodes them as Appendix-D bounds (4-byte days, 8-byte micros), so the
    Iceberg files prune on a date or timestamp filter."""
    import datetime as dt

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        _single_value_parse,
        delta_to_iceberg_uniform,
    )

    ddl = "k long, d date, ts timestamp_ntz"
    t0 = dt.datetime(2020, 1, 1, 12, 0, 0, 123456)
    d = DeltaTable.create(
        spark, root, spark.createDataFrame([(1, dt.date(2020, 1, 1), t0)], ddl).coalesce(1)
    )
    d.append(
        spark.createDataFrame(
            [(2, dt.date(2020, 3, 1), t0 + dt.timedelta(days=60))], ddl
        ).coalesce(1)
    )
    assert json.loads(d.files()[0]["stats"])["minValues"]["d"] in ("2020-01-01", "2020-03-01")
    ice = delta_to_iceberg_uniform(d)
    ids = {f["name"]: f["id"] for f in ice.metadata()["schemas"][-1]["fields"]}
    entries, _ = ice.files()
    got = sorted(
        _single_value_parse("date", e["lower_bounds"][str(ids["d"])]) for e in entries
    )
    assert got == [dt.date(2020, 1, 1), dt.date(2020, 3, 1)]
    assert all(len(e["upper_bounds"][str(ids["ts"])]) == 8 for e in entries)
    kept, audit = ice.files(bounds={"d": (dt.date(2020, 2, 1), None)})
    assert audit["files_total"] == 2 and len(kept) == 1
    kept, _ = ice.files(bounds={"ts": (dt.datetime(2020, 2, 1), None)})
    assert len(kept) == 1
    assert sorted(r.k for r in ice.read().where("d >= DATE'2020-02-01'").collect()) == [2]


def test_expire_snapshots_keeps_current_and_reclaims(spark, root):
    t = IcebergTable.create(spark, root, spark.range(4).select(F.col("id").alias("k")).coalesce(1))
    t.append(spark.range(4, 6).select(F.col("id").alias("k")).coalesce(1))
    t.overwrite(spark.range(2).select(F.col("id").alias("k")).coalesce(1))
    with pytest.raises(ValueError):
        t.expire_snapshots(retain_last=0)
    res = t.expire_snapshots(retain_last=1)
    assert res["snapshots_expired"] == 2
    assert res["files_deleted"] >= 2  # v0+v1 files orphaned by the overwrite
    assert t.read().count() == 2  # current snapshot intact
    assert len(t.snapshots()) == 1
    # expiring again is a no-op
    assert t.expire_snapshots(retain_last=1)["snapshots_expired"] == 0


def test_iceberg_lite_datasource(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    df = spark.createDataFrame([(i, f"p{i % 4}") for i in range(40)], "k long, part string")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    t.append(spark.createDataFrame([(99, "p0")], "k long, part string").coalesce(1))
    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    got = spark.read.format("iceberg_lite").load(root)
    assert got.count() == 41
    v0 = spark.read.format("iceberg_lite").option("snapshot_index", "0").load(root)
    assert v0.count() == 40
    # planning-level pruning via the reader
    from pyspark.sql.datasource import EqualTo

    r = IcebergLiteDataSource({"path": root, "pushdown": "true"}).reader(None)
    residual = list(r.pushFilters([EqualTo(("part",), "p2")]))
    assert residual == []
    assert len(r.partitions()) == 1
    # SQL front door
    view = f"ice_{uuid.uuid4().hex[:6]}"
    got.createOrReplaceTempView(view)
    n = spark.sql(f"SELECT count(*) AS n FROM {view} WHERE part = 'p0'").collect()[0]["n"]
    assert n == 11


def test_equality_delete_merge_on_read(spark, root):
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(10)], "k long, part string, v long"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    res = t.equality_delete(spark.createDataFrame([(3,), (7,)], "k long"))
    assert res["delete_rows"] == 2
    got = t.read()
    assert got.count() == 8
    assert got.where(F.col("k").isin(3, 7)).count() == 0
    # no data file was rewritten (merge-on-read)
    entries, _ = t.files()
    assert {e["file_path"] for e in entries} == {
        e["file_path"] for e in t.files(index=0)[0]
    }
    # time travel: pre-delete snapshot still has every row
    assert t.read(index=0).count() == 10
    # deletes only apply to OLDER data: re-appending key 3 resurrects it
    t.append(spark.createDataFrame([(3, "p1", 999)], "k long, part string, v long").coalesce(1))
    got2 = t.read()
    assert got2.where(F.col("k") == 3).collect()[0]["v"] == 999
    assert got2.count() == 9
    # a second delete hits both old and the new file's rows
    t.equality_delete(spark.createDataFrame([(3,), (0,)], "k long"))
    got3 = t.read()
    assert got3.count() == 7
    assert got3.where(F.col("k").isin(0, 3)).count() == 0
    # the pluggable source applies MoR deletes executor-side and agrees
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    via_source = spark.read.format("iceberg_lite").load(root)
    assert sorted(tuple(r) for r in via_source.collect()) == sorted(
        tuple(r) for r in got3.collect()
    )


def test_iceberg_cdc_stream_with_delete_keys(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string")
    t = IcebergTable.create(spark, root, df.coalesce(1))
    t.equality_delete(spark.createDataFrame([(2,)], "k long"))
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    got = sorted(
        (r["snapshot_idx"], r["change_type"], r["k"], r["tag"]) for r in feed.collect()
    )
    assert got == [
        (0, "add", 1, "a"),
        (0, "add", 2, "b"),
        (1, "delete_key", 2, None),
    ]


def test_schema_evolution_append(spark, root):
    t = IcebergTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="new columns"):
        t.append(spark.range(2).select(F.col("id").alias("k"), F.lit("x").alias("tag")))
    t.append(
        spark.range(3, 5).select(F.col("id").alias("k"), F.lit("x").alias("tag")),
        allow_evolution=True,
    )
    got = t.read()
    assert [f.name for f in got.schema.fields] == ["k", "tag"]
    assert got.where(F.col("tag").isNull()).count() == 3  # pre-evolution rows
    assert got.where(F.col("tag") == "x").count() == 2
    # old snapshot reads under ITS schema (no tag column)
    assert [f.name for f in t.read(index=0).schema.fields] == ["k"]
    # id-based evolution: the new column got a fresh field id
    md = t.metadata()
    assert md["last-column-id"] == 2
    assert len(md["schemas"]) == 2
    new_schema = next(s for s in md["schemas"] if s["schema-id"] == 1)
    assert [(f["id"], f["name"]) for f in new_schema["fields"]] == [(1, "k"), (2, "tag")]
    # appending WITHOUT the evolved column still aligns (nulls)
    t.append(spark.range(9, 10).select(F.col("id").alias("k")))
    assert t.read().where(F.col("tag").isNull()).count() == 4


def test_position_delete_merge_on_read(spark, root):
    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(10)], "k long, part string, v long"
    )
    t = IcebergTable.create(spark, root, df.repartition(3, "k"))
    res = t.position_delete(F.col("k") % 3 == 0)  # kills k in {0, 3, 6, 9}
    assert res["delete_rows"] == 4
    got = t.read()
    assert got.count() == 6
    assert got.where(F.col("k") % 3 == 0).count() == 0
    # merge-on-read: no data file was rewritten
    entries, _ = t.files()
    assert {e["file_path"] for e in entries} == {
        e["file_path"] for e in t.files(index=0)[0]
    }
    # time travel: the pre-delete snapshot still has every row
    assert t.read(index=0).count() == 10
    # the delete file is sorted by (file_path, pos) as the spec requires
    d = [e for e in t.delete_entries() if e["content"] == 1][0]
    dt = pq.read_table(d["data_file"]["file_path"])
    pairs = list(zip(dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()))
    assert pairs == sorted(pairs)
    # re-running the same predicate is a NO-OP: already-dead rows are never
    # re-listed (the position computation reads the LIVE view first)
    n_snaps = len(t.snapshots())
    res2 = t.position_delete(F.col("k") % 3 == 0)
    assert res2 == {"snapshot_id": None, "delete_rows": 0}
    assert len(t.snapshots()) == n_snaps
    # sequence scoping: rows appended AFTER the delete survive even when
    # they match the predicate (their file postdates the delete)
    t.append(spark.createDataFrame([(33, "p1", 999)], "k long, part string, v long"))
    got2 = t.read()
    assert got2.where(F.col("k") == 33).count() == 1
    assert got2.count() == 7
    # a second position delete evaluates over the live view spanning BOTH
    # old and new files
    res3 = t.position_delete("v >= 70")  # k=7 (70), k=8 (80), k=33 (999)
    assert res3["delete_rows"] == 3
    got3 = t.read()
    assert _rows(got3.select("k")) == [(1,), (2,), (4,), (5,)]


def test_position_delete_partitioned_overlay(spark, root):
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", float(i)) for i in range(12)], "k long, part string, x double"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    # predicate references the PARTITION column: positions must be computed
    # over the overlay read (partition values come from manifest tuples)
    res = t.position_delete((F.col("part") == "p1") & (F.col("k") < 6))
    assert res["delete_rows"] == 2  # k=1, k=4
    got = t.read()
    assert got.count() == 10
    assert got.where((F.col("part") == "p1") & (F.col("k") < 6)).count() == 0
    # with_positions exposes per-row file/ordinal identity
    wp = t.read(with_positions=True)
    assert {"__ice_fp", "__ice_pos"} <= set(wp.columns)
    assert wp.where(F.col("__ice_fp").isNull() | F.col("__ice_pos").isNull()).count() == 0


def test_position_and_equality_deletes_compose_and_lite_source_agrees(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(10)], "k long, part string, v long"
    )
    t = IcebergTable.create(spark, root, df.repartition(2, "k"), partition_by=["part"])
    t.position_delete(F.col("k").isin(1, 2))
    t.equality_delete(spark.createDataFrame([(5,), (6,)], "k long"))
    t.append(spark.createDataFrame([(5, "p1", 555)], "k long, part string, v long"))
    t.position_delete(F.col("v") == 90)  # k=9
    got = t.read()
    # dead: 1,2 (pos), 5,6 (eq), 9 (pos); resurrected: 5 (newer file)
    assert _rows(got.select("k", "v")) == [
        (0, 0),
        (3, 30),
        (4, 40),
        (5, 555),
        (7, 70),
        (8, 80),
    ]
    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    via_source = spark.read.format("iceberg_lite").load(root)
    assert sorted(tuple(r) for r in via_source.collect()) == sorted(
        tuple(r) for r in got.collect()
    )


def test_iceberg_cdc_position_delete_emits_full_rows(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, tag string")
    t = IcebergTable.create(spark, root, df.coalesce(1))
    t.position_delete(F.col("k") == 2)
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    got = sorted(
        (r["snapshot_idx"], r["change_type"], r["k"], r["tag"]) for r in feed.collect()
    )
    # position deletes retract the FULL row (tag carried), not just a key
    assert got == [
        (0, "add", 1, "a"),
        (0, "add", 2, "b"),
        (0, "add", 3, "c"),
        (1, "delete_row", 2, "b"),
    ]


def test_rename_column_follows_data_by_field_id(spark, root):
    t = IcebergTable.create(
        spark, root, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    )
    t.rename_column("v", "val")
    # metadata-only: no new snapshot, data files untouched
    assert len(t.snapshots()) == 1
    got = t.read()
    assert [f.name for f in got.schema.fields] == ["k", "val"]
    # OLD files' values surface under the NEW name (id-based resolution)
    assert _rows(got) == [(1, 10), (2, 20)]
    # time travel to the pre-rename snapshot reads under the OLD name
    assert [f.name for f in t.read(index=0).schema.fields] == ["k", "v"]
    # appends after the rename mix with pre-rename files seamlessly
    t.append(spark.createDataFrame([(3, 30)], "k long, val long"))
    assert _rows(t.read()) == [(1, 10), (2, 20), (3, 30)]
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("k", "val")
    with pytest.raises(ValueError, match="no column"):
        t.rename_column("nope", "x")


def test_drop_column_and_readd_never_resurrects(spark, root):
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "classified"), (2, "secret2")], "k long, secret string"),
    )
    t.drop_column("secret")
    assert [f.name for f in t.read().schema.fields] == ["k"]
    # re-adding the SAME NAME gets a FRESH field id: the dropped values
    # must NOT come back out of the old files
    t.append(
        spark.createDataFrame([(3, "fresh")], "k long, secret string"),
        allow_evolution=True,
    )
    got = {r["k"]: r["secret"] for r in t.read().collect()}
    assert got == {1: None, 2: None, 3: "fresh"}
    md = t.metadata()
    ids = {
        (f["name"], f["id"])
        for s in md["schemas"]
        for f in s["fields"]
        if f["name"] == "secret"
    }
    assert len(ids) == 2  # old id 2 retired, new id 3 assigned
    # the dropped values are still readable via time travel
    assert _rows(t.read(index=0)) == [(1, "classified"), (2, "secret2")]


def test_rename_and_drop_guards(spark, root):
    df = spark.createDataFrame([(1, "a", 5)], "k long, part string, v long")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    with pytest.raises(NotImplementedError, match="partition source"):
        t.rename_column("part", "p2")
    with pytest.raises(NotImplementedError, match="partition source"):
        t.drop_column("part")
    t.equality_delete(spark.createDataFrame([(1,)], "k long"))
    with pytest.raises(NotImplementedError, match="equality-delete"):
        t.rename_column("k", "key")
    with pytest.raises(ValueError, match="last column"):
        IcebergTable.create(
            spark, root + "_single", spark.range(1).select(F.col("id").alias("k"))
        ).drop_column("k")


def test_rename_composes_with_position_deletes(spark, root):
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame([(i, i * 10) for i in range(6)], "k long, v long").repartition(2, "k"),
    )
    t.position_delete(F.col("v") >= 40)
    t.rename_column("v", "val")
    got = t.read()
    assert _rows(got.select("k", "val")) == [(0, 0), (1, 10), (2, 20), (3, 30)]
    # positions keep masking under the renamed schema; with_positions too
    wp = t.read(with_positions=True)
    assert wp.count() == 4


def test_stream_append_exactly_once(spark, root, tmp_path):
    """availableNow drain into an Iceberg table via foreachBatch + snapshot-
    summary ledger; a manual replay of an already-committed batch id must be
    a no-op, and a NEW batch id must still land — the Flink-sink idempotency
    design on the spec's summary map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        stream_append,
    )

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(src, "a.parquet"))
    t = IcebergTable.create(spark, root, spark.createDataFrame([], "k long"))
    stream = spark.readStream.schema("k long").parquet(src)
    stream_append(t, stream, "s1", os.path.join(str(tmp_path), "ckpt"))
    assert t.read().count() == 3
    committed = t.seen_batch("s1")
    assert committed is not None
    one = spark.createDataFrame([(9,)], "k long")
    n_before = len(t.snapshots())

    def _write(batch_df, batch_id):
        s = t.seen_batch("s1")
        if s is not None and s >= batch_id:
            return
        t.append(batch_df, summary_extra={"stream-id": "s1", "batch-id": str(batch_id)})

    _write(one, committed)  # replay: skipped
    assert len(t.snapshots()) == n_before
    _write(one, committed + 1)  # new batch: lands
    assert t.read().count() == 4
    # the ledger is per stream id
    assert t.seen_batch("other") is None


def test_lite_source_and_cdc_resolve_renames_by_field_id(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    t = IcebergTable.create(
        spark, root, spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string")
    )
    t.rename_column("tag", "label")
    t.append(spark.createDataFrame([(3, "c")], "k long, label string"))
    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    via = spark.read.format("iceberg_lite").load(root)
    assert [f.name for f in via.schema.fields] == ["k", "label"]
    # pre-rename file's values must surface under the NEW name via field id
    assert _rows(via) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel through the source reads the OLD schema
    v0 = spark.read.format("iceberg_lite").option("snapshot_index", "0").load(root)
    assert [f.name for f in v0.schema.fields] == ["k", "tag"]
    assert _rows(v0) == [(1, "a"), (2, "b")]
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    got = sorted(
        (r["snapshot_idx"], r["change_type"], r["k"], r["label"]) for r in feed.collect()
    )
    assert got == [(0, "add", 1, "a"), (0, "add", 2, "b"), (1, "add", 3, "c")]


def test_rewrite_position_deletes_compacts_and_preserves_reads(spark, root):
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, i * 10) for i in range(12)], "k long, v long"
        ).repartition(3, "k"),
    )
    t.position_delete("k % 4 = 0")
    t.position_delete("k = 1")
    t.position_delete("v = 110")
    before = _rows(t.read())
    pos_before = [d for d in t.delete_entries() if d["content"] == 1]
    assert len(pos_before) == 3
    res = t.rewrite_position_deletes()
    assert res["rewritten"] == 3
    assert res["pairs"] == 5  # k in {0, 4, 8}, k=1, k=11 — all distinct
    assert _rows(t.read()) == before
    pos_after = [d for d in t.delete_entries() if d["content"] == 1]
    assert len(pos_after) == 1
    # idempotent: one file left → nothing to do
    assert t.rewrite_position_deletes() == {"rewritten": 0}
    # old snapshots still read correctly (time travel untouched)
    assert t.read(index=0).count() == 12
    # equality deletes are left alone by the rewrite
    t.equality_delete(spark.createDataFrame([(2,)], "k long"))
    t.position_delete("k = 3")
    res2 = t.rewrite_position_deletes()
    assert res2["rewritten"] == 2  # the compacted file + the new one
    dels = t.delete_entries()
    assert sorted(d["content"] for d in dels) == [1, 2]
    assert _rows(t.read().select("k")) == [(5,), (6,), (7,), (9,), (10,)]


def test_upsert_single_snapshot_merge_on_read(spark, root):
    df = spark.createDataFrame(
        [(i, f"t{i}", i * 10) for i in range(6)], "k long, tag string, v long"
    )
    t = IcebergTable.create(spark, root, df.repartition(2, "k"))
    res = t.upsert(
        spark.createDataFrame(
            [(2, "UPD", 222), (9, "INS", 999)], "k long, tag string, v long"
        ),
        key="k",
    )
    assert res["delete_keys"] == 2
    # ONE new snapshot holds both the delete and the data (atomic)
    assert len(t.snapshots()) == 2
    got = t.read()
    assert _rows(got.where("k IN (2, 9)").select("k", "v")) == [(2, 222), (9, 999)]
    assert got.count() == 7
    # no data file of the base snapshot was rewritten
    assert {e["file_path"] for e in t.files(index=0)[0]} <= {
        e["file_path"] for e in t.files()[0]
    } | {e["file_path"] for e in t.files(index=0)[0]}
    # a second upsert wins over the first (latest sequence wins)
    t.upsert(
        spark.createDataFrame([(2, "UPD2", 2222)], "k long, tag string, v long"),
        key="k",
    )
    assert _rows(t.read().where("k = 2").select("v")) == [(2222,)]
    assert t.read(index=0).count() == 6  # time travel unaffected
    # the lite source agrees with the table reader
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    via = spark.read.format("iceberg_lite").load(root)
    assert sorted(tuple(r) for r in via.collect()) == _rows(t.read())


def test_stream_upsert_exactly_once(spark, root, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        stream_upsert,
    )

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    pq.write_table(
        pa.table({"k": [1, 2], "v": [10, 20]}), os.path.join(src, "a.parquet")
    )
    t = IcebergTable.create(
        spark, root, spark.createDataFrame([(1, 1), (5, 5)], "k long, v long")
    )
    stream = spark.readStream.schema("k long, v long").parquet(src)
    stream_upsert(t, stream, "k", "u1", os.path.join(str(tmp_path), "ckpt"))
    assert _rows(t.read()) == [(1, 10), (2, 20), (5, 5)]
    committed = t.seen_batch("u1")
    n_snaps = len(t.snapshots())
    # manual replay of the committed batch id: skipped
    batch = spark.createDataFrame([(1, 999)], "k long, v long")
    seen = t.seen_batch("u1")
    if not (seen is not None and seen >= committed):
        t.upsert(batch, "k", summary_extra={"stream-id": "u1", "batch-id": str(committed)})
    assert len(t.snapshots()) == n_snaps
    assert _rows(t.read()) == [(1, 10), (2, 20), (5, 5)]


def test_partition_evolution_mixed_specs(spark, root):
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(12)], "k long, part string, v long"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1))  # spec 0: unpartitioned
    new_spec = t.evolve_partition_spec(["part"])
    assert new_spec == 1
    assert len(t.snapshots()) == 1  # metadata-only: no snapshot
    t.append(
        spark.createDataFrame(
            [(100, "p1", 1000), (101, "p2", 1010)], "k long, part string, v long"
        )
    )
    # whole-table read spans both specs
    got = t.read()
    assert got.count() == 14
    # partition_filter is EXACT across mixed specs: old unpartitioned files
    # are row-filtered, new files tuple-pruned
    p1 = t.read(partition_filter={"part": "p1"})
    assert _rows(p1.select("k")) == [(1,), (4,), (7,), (10,), (100,)]
    # planning-level: the filter prunes only what a spec CAN prune
    entries, audit = t.files(partition_filter={"part": "p1"})
    by_spec = {}
    for e in entries:
        by_spec.setdefault(e["__spec"], []).append(e)
    assert len(by_spec[0]) == 1  # old unpartitioned file survives planning
    assert len(by_spec[1]) == 1  # exactly the p1 file of the new spec
    # a second evolution: repartition by a different column
    t.evolve_partition_spec(["k"])
    t.append(spark.createDataFrame([(200, "p1", 2000)], "k long, part string, v long"))
    got = t.read(partition_filter={"part": "p1"})
    assert _rows(got.select("k")) == [(1,), (4,), (7,), (10,), (100,), (200,)]
    md = t.metadata()
    assert [s["spec-id"] for s in md["partition-specs"]] == [0, 1, 2]
    # fresh partition field ids across evolutions
    pids = [pf["field-id"] for s in md["partition-specs"] for pf in s["fields"]]
    assert pids == [1000, 1001]


def test_partition_evolution_through_lite_source(spark, root):
    from pyspark.sql.datasource import EqualTo

    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i) for i in range(8)], "k long, part string, v long"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1))
    t.evolve_partition_spec(["part"])
    t.append(spark.createDataFrame([(50, "p0", 50)], "k long, part string, v long"))
    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    via = spark.read.format("iceberg_lite").load(root)
    assert sorted(tuple(r) for r in via.collect()) == _rows(t.read())
    # pushdown: under MIXED specs the partition EqualTo is handed back for
    # row re-application (old-spec files can't be tuple-pruned)
    r = IcebergLiteDataSource({"path": root, "pushdown": "true"}).reader(None)
    residual = list(r.pushFilters([EqualTo(("part",), "p0")]))
    assert len(residual) == 1
    # ... yet planning still prunes the new-spec side
    n_parts = len(r.partitions())
    assert n_parts == 2  # the old unpartitioned file + the new p0 file


def test_partition_evolution_with_deletes_and_cdc(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k long, tag string, v long"),
    )
    t.evolve_partition_spec(["tag"])
    t.append(spark.createDataFrame([(3, "a", 30), (4, "b", 40)], "k long, tag string, v long"))
    t.position_delete("v = 20")
    t.equality_delete(spark.createDataFrame([(3,)], "k long"))
    got = t.read()
    assert _rows(got.select("k")) == [(1,), (4,)]
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    adds = sorted(
        (r["snapshot_idx"], r["k"], r["tag"])
        for r in feed.collect()
        if r["change_type"] == "add"
    )
    # the evolved-spec files' tag values surface correctly in the feed
    assert adds == [(0, 1, "a"), (0, 2, "b"), (1, 3, "a"), (1, 4, "b")]


def test_incremental_scan_appends_only_and_refusal(spark, root):
    t = IcebergTable.create(
        spark, root, spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string")
    )
    t.append(spark.createDataFrame([(3, "c")], "k long, tag string"))
    t.append(spark.createDataFrame([(4, "d")], "k long, tag string"))
    assert _rows(t.incremental_scan(0, 1)) == [(3, "c")]
    assert _rows(t.incremental_scan(0, 2)) == [(3, "c"), (4, "d")]
    assert _rows(t.incremental_scan(1)) == [(4, "d")]  # to latest
    assert _rows(t.incremental_scan(-1, 0)) == [(1, "a"), (2, "b")]
    # a non-append snapshot in range refuses (spec behavior): CDC territory
    t.overwrite(spark.createDataFrame([(9, "z")], "k long, tag string"))
    with pytest.raises(NotImplementedError, match="non-append"):
        t.incremental_scan(0)
    # ranges before the overwrite still work
    assert _rows(t.incremental_scan(1, 2)) == [(4, "d")]


def test_refs_tags_pin_snapshots_and_read(spark, root):
    t = IcebergTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    t.append(spark.range(3, 5).select(F.col("id").alias("k")))
    t.set_ref("v1-release", index=0, kind="tag")
    t.append(spark.range(5, 9).select(F.col("id").alias("k")))
    assert t.read(ref="v1-release").count() == 3
    assert t.read().count() == 9
    with pytest.raises(ValueError, match="no ref"):
        t.read(ref="nope")
    # refs PIN their snapshots through expiry
    res = t.expire_snapshots(retain_last=1)
    assert res["snapshots_expired"] == 1  # only the middle snapshot goes
    assert t.read(ref="v1-release").count() == 3
    assert t.read().count() == 9
    # dropping the ref releases the pin on the next expiry
    t.drop_ref("v1-release")
    t.append(spark.range(9, 10).select(F.col("id").alias("k")))
    t.expire_snapshots(retain_last=1)
    assert len(t.snapshots()) == 1  # pinned snapshot finally expired
    assert t.read().count() == 10


# ------------------------------------------- bucket / truncate transforms


def test_murmur3_matches_spec_appendix_b_vectors():
    """The spec's own Appendix-B hash vectors, plus agreement between the
    scalar bytes path and the vectorized int64 kernel."""
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        _murmur3_int64_vec,
        bucket_value,
        murmur3_x86_32,
    )

    assert murmur3_x86_32(struct.pack("<q", 34)) == 2017239379  # int AND long
    assert murmur3_x86_32("iceberg".encode()) == 1210000089
    assert murmur3_x86_32(struct.pack("<q", 17486)) == -653330422  # date
    assert murmur3_x86_32(uuid.UUID("f79c3e09-677c-4bbd-a479-3f349cb785e7").bytes) == 1488055340
    assert murmur3_x86_32(b"") == 0
    vals = np.array([34, 0, -1, 17486, 2**40, -(2**40)], dtype=np.int64)
    vec = _murmur3_int64_vec(vals)
    for v, hv in zip(vals, vec):
        assert int(hv) == murmur3_x86_32(struct.pack("<q", int(v)))
    # bucket is (hash & Int.MAX) % n — int and long agree by construction
    assert bucket_value("int", 34, 16) == bucket_value("long", 34, 16) == (2017239379 % 16)
    assert bucket_value("string", "iceberg", 16) == 1210000089 % 16


def test_truncate_transform_values():
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        truncate_value,
    )

    assert truncate_value("long", 1, 10) == 0
    assert truncate_value("long", -1, 10) == -10  # floors DOWN per spec
    assert truncate_value("int", 29, 10) == 20
    assert truncate_value("string", "iceberg", 3) == "ice"
    assert truncate_value("string", "ab", 5) == "ab"
    assert truncate_value("long", None, 10) is None


def test_bucket_partitioned_table_roundtrip_and_prune(spark, root):
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        bucket_value,
    )

    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["bucket(4, k)"])
    # spec JSON records the transform
    spec = t.metadata()["partition-specs"][0]
    assert spec["fields"][0]["transform"] == "bucket[4]"
    assert spec["fields"][0]["name"] == "k_bucket"
    # full read returns everything; data files keep ALL columns
    assert t.read().count() == 100
    entries, audit = t.files()
    assert audit["files_kept"] == 4  # one file per non-empty bucket
    for e in entries:
        b = e["partition"]["k_bucket"]
        ks = pq.read_table(e["file_path"], columns=["k"]).column("k").to_pylist()
        assert ks and all(bucket_value("long", k, 4) == b for k in ks)
    # bucket pruning: each filter keeps exactly its files, union is exact
    total = 0
    for b in range(4):
        got = t.read(partition_filter={"k_bucket": b})
        rows = [r["k"] for r in got.collect()]
        assert all(bucket_value("long", k, 4) == b for k in rows)
        kept, a2 = t.files(partition_filter={"k_bucket": b})
        assert len(kept) == 1 and a2["files_total"] <= 4
        total += len(rows)
    assert total == 100


def test_truncate_partitioned_table_with_negatives(spark, root):
    df = spark.createDataFrame([(k,) for k in range(-25, 25)], "k long")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["truncate(10, k)"])
    assert t.metadata()["partition-specs"][0]["fields"][0]["transform"] == "truncate[10]"
    # k ∈ [-25, -21] floor to -30 (the data starts at -25)
    got = t.read(partition_filter={"k_trunc": -30})
    assert sorted(r["k"] for r in got.collect()) == list(range(-25, -20))
    got = t.read(partition_filter={"k_trunc": 20})
    assert sorted(r["k"] for r in got.collect()) == list(range(20, 25))
    assert t.read().count() == 50


def test_truncate_string_partitioning(spark, root):
    df = spark.createDataFrame(
        [("apple", 1), ("apricot", 2), ("banana", 3), ("avocado", 4)], "name string, v long"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["truncate(2, name)"])
    got = t.read(partition_filter={"name_trunc": "ap"})
    assert sorted(r["name"] for r in got.collect()) == ["apple", "apricot"]
    got = t.read(partition_filter={"name_trunc": "av"})
    assert [r["name"] for r in got.collect()] == ["avocado"]


def test_partition_evolution_to_bucket_spec(spark, root):
    """Evolve an identity-partitioned table to bucket[4]: old files prune
    by the old spec, new files by bucket, and a bucket filter stays EXACT
    across both layouts via the residual transform recomputation."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        bucket_value,
    )

    df = spark.createDataFrame([(i, f"p{i % 2}") for i in range(40)], "k long, part string")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    t.evolve_partition_spec(["bucket(4, k)"])
    t.append(
        spark.createDataFrame([(i, f"p{i % 2}") for i in range(40, 80)], "k long, part string").coalesce(1)
    )
    assert t.read().count() == 80
    for b in range(4):
        rows = [r["k"] for r in t.read(partition_filter={"k_bucket": b}).collect()]
        expect = [k for k in range(80) if bucket_value("long", k, 4) == b]
        assert sorted(rows) == expect, f"bucket {b}"
    # the old identity filter still works over both specs too
    rows = t.read(partition_filter={"part": "p1"})
    assert rows.count() == 40


def test_bucket_table_through_lite_source(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        bucket_value,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    df = spark.range(60).select(F.col("id").alias("k"), (F.col("id") % 5).alias("v"))
    IcebergTable.create(spark, root, df.coalesce(1), partition_by=["bucket(4, k)"])
    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    got = spark.read.format("iceberg_lite").load(root)
    assert got.count() == 60
    assert sorted(r["k"] for r in got.collect()) == list(range(60))
    # no spurious bucket column leaks into the schema
    assert set(got.columns) == {"k", "v"}


def test_rewrite_data_files_binpacks_and_drops_deletes(spark, root):
    """rewrite_data_files: many small files + live MoR deletes → one
    replace snapshot with the deletes applied and dropped; content
    identical, history intact."""
    df = spark.createDataFrame([(i, f"p{i % 2}") for i in range(20)], "k long, part string")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    for lo in (20, 24, 28):
        t.append(
            spark.createDataFrame(
                [(i, f"p{i % 2}") for i in range(lo, lo + 4)], "k long, part string"
            ).coalesce(1)
        )
    t.position_delete("k % 5 = 0")
    before_rows = _rows(t.read())
    entries_before, _ = t.files()
    assert len(entries_before) == 8  # 4 commits × 2 partitions
    assert len(t.delete_entries()) == 1
    res = t.rewrite_data_files()
    assert res["files_before"] == 8 and res["files_after"] == 2
    assert res["delete_files_dropped"] == 1
    assert _rows(t.read()) == before_rows  # logical content unchanged
    assert t.delete_entries() == []  # deletes applied + dropped
    entries_after, _ = t.files()
    assert len(entries_after) == 2
    # partition pruning still works on the compacted layout
    assert t.read(partition_filter={"part": "p1"}).count() == sum(
        1 for k, _p in before_rows if k % 2 == 1
    )
    # pre-rewrite snapshots stay readable (time travel unaffected)
    assert _rows(t.read(index=0)) == sorted((i, f"p{i % 2}") for i in range(20))
    # incremental_scan refuses ranges crossing the non-append snapshots
    with pytest.raises(NotImplementedError, match="non-append"):
        t.incremental_scan(from_index=0)


def test_migrate_parquet_in_place(spark, root):
    """migrate_parquet: Iceberg metadata over an existing hive-layout
    parquet dir — files stay put, identity partition overlay reconstructs
    the stripped partition columns, pruning and writes work on top."""
    import glob

    src = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(30)], "k long, part string, v long"
    )
    src.coalesce(1).write.partitionBy("part").parquet(root)
    before = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    t = IcebergTable.migrate_parquet(spark, root)
    after = sorted(
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if os.sep + "metadata" + os.sep not in p
    )
    assert before == after  # zero data movement
    got = t.read().select("k", "part", "v")
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in src.collect()
    )
    # partition pruning via the manifests from snapshot 0
    kept, audit = t.files(partition_filter={"part": "p2"})
    assert len(kept) == 1 and audit["files_total"] <= 3
    assert t.read(partition_filter={"part": "p2"}).count() == 10
    # bounds skipping from the migrated footers
    kept, _ = t.files(bounds={"k": (1000, None)})
    assert kept == []
    # full citizen: append + position delete + time travel
    t.append(spark.createDataFrame([(101, "p0", 0)], "k long, part string, v long"))
    t.position_delete("k % 2 = 0")
    assert t.read().count() == 15 + 1  # odd originals + the odd appended row
    assert t.read(index=0).count() == 30
    with pytest.raises(FileExistsError):
        IcebergTable.migrate_parquet(spark, root)


def test_add_files_registers_external_parquet(spark, root, tmp_path):
    """add_files: external hive-layout files join an existing table's
    snapshot in place — no copy; data files must stay where they were."""
    df = spark.createDataFrame([(i, f"p{i % 2}") for i in range(10)], "k long, part string")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    ext = str(tmp_path / "landing")
    extra = spark.createDataFrame(
        [(i, f"p{i % 2}") for i in range(10, 20)], "k long, part string"
    )
    extra.coalesce(1).write.partitionBy("part").parquet(ext)
    res = t.add_files(ext)
    assert res["files_added"] == 2
    assert t.read().count() == 20
    assert t.read(index=0).count() == 10  # time travel untouched
    entries, _ = t.files()
    ext_entries = [e for e in entries if e["file_path"].startswith(ext)]
    assert len(ext_entries) == 2  # registered IN PLACE under the landing dir
    # pruning covers old + added files through one spec
    assert t.read(partition_filter={"part": "p1"}).count() == 10
    # layout mismatch refuses
    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    with pytest.raises(ValueError, match="does not match"):
        t.add_files(bad)
    # transformed specs refuse (directory names can't carry bucket values)
    t2root = str(tmp_path / "buck")
    t2 = IcebergTable.create(
        spark, t2root, df.coalesce(1), partition_by=["bucket(4, k)"]
    )
    with pytest.raises(NotImplementedError, match="identity"):
        t2.add_files(ext)


def test_sort_order_metadata_and_sorted_rewrite(spark, root):
    """set_sort_order registers spec-shaped metadata; the sorted
    rewrite_data_files range-partitions on the sort column so every file
    covers a disjoint range — a point bounds-lookup then plans exactly
    one file."""
    df = spark.range(4000).select(
        ((F.col("id") * 48271) % 4000).alias("k"),  # shuffled values
        (F.col("id") % 13).alias("v"),
    )
    t = IcebergTable.create(spark, root, df.repartition(8))
    # unsorted layout: a point lookup overlaps many files
    kept0, _ = t.files(bounds={"k": (100, 100)})
    assert len(kept0) == 8
    oid = t.set_sort_order(["k"])
    md = t.metadata()
    assert md["default-sort-order-id"] == oid
    so = next(o for o in md["sort-orders"] if o["order-id"] == oid)
    assert so["fields"][0]["transform"] == "identity"
    assert so["fields"][0]["direction"] == "asc"
    assert t.sort_order_columns() == ["k"]
    res = t.rewrite_data_files(target_files=8)
    assert res["files_after"] == 8
    kept1, _ = t.files(bounds={"k": (100, 100)})
    assert len(kept1) == 1  # disjoint ranges after the sorted rewrite
    assert t.read().count() == 4000
    # appends honor the order: one task → one file with tight bounds
    t.append(
        spark.createDataFrame([(9001 + i, 0) for i in range(50)], "k long, v long")
        .coalesce(1)
    )
    kept2, _ = t.files(bounds={"k": (9001, 9001)})
    assert len(kept2) == 1
    with pytest.raises(ValueError, match="no column"):
        t.set_sort_order(["nope"])


def test_drop_guard_covers_non_default_specs(spark, root):
    """A column sourced by an OLDER, non-default partition spec must refuse
    drop: manifests written under that spec resolve partition tuples through
    the current schema, so dropping the source would make files()/read()
    raise and the table unreadable (ADVICE r4)."""
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(6)], "k long, part string, v long"
    )
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    t.evolve_partition_spec([])  # default spec no longer sources `part`
    t.append(
        spark.createDataFrame([(100, "p9", 1000)], "k long, part string, v long")
    )
    with pytest.raises(NotImplementedError, match="partition source"):
        t.drop_column("part")
    # the table stays fully readable across both specs
    assert t.read().count() == 7


def test_truncate_range_pruning_skips_partitions_and_manifests(spark, root):
    """RANGE filters prune THROUGH truncate transforms (r5; equality-only
    before): truncation is monotone, so rows in [lo, hi] can only live in
    partitions with tuple value in [trunc(lo), trunc(hi)] — both the
    manifest summaries and the per-file partition tuples skip without
    opening data, and the kept set is conservative-exact."""
    df = spark.createDataFrame([(k, k * 2) for k in range(100)], "k long, v long")
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["truncate(10, k)"])
    # second manifest in a disjoint key range: range filters must skip the
    # whole manifest via its partition summary
    t.append(
        spark.createDataFrame([(k, k * 2) for k in range(500, 600)], "k long, v long").coalesce(1)
    )
    entries, audit = t.files(bounds={"k": (23, 41)})
    kept_tuples = sorted(e["partition"]["k_trunc"] for e in entries)
    assert kept_tuples == [20, 30, 40]  # trunc(23)=20 .. trunc(41)=40
    assert audit["manifests_read"] == 1  # the 500-599 manifest never opened
    assert audit["files_kept"] == 3
    # rows are exact after the caller's residual filter
    got = t.read(bounds={"k": (23, 41)}).where("k between 23 and 41")
    assert sorted(r["k"] for r in got.collect()) == list(range(23, 42))
    # open-ended and negative-direction bounds
    entries2, audit2 = t.files(bounds={"k": (505, None)})
    assert sorted(e["partition"]["k_trunc"] for e in entries2) == list(range(500, 600, 10))
    assert audit2["manifests_read"] == 1


def test_truncate_string_range_pruning(spark, root):
    df = spark.createDataFrame(
        [("apple", 1), ("apricot", 2), ("banana", 3), ("cherry", 4), ("avocado", 5)],
        "name string, v long",
    )
    t = IcebergTable.create(spark, root, df.coalesce(1), partition_by=["truncate(2, name)"])
    entries, audit = t.files(bounds={"name": ("ap", "az")})
    assert sorted(e["partition"]["name_trunc"] for e in entries) == ["ap", "av"]
    got = t.read(bounds={"name": ("ap", "az")}).where("name >= 'ap' and name <= 'az'")
    assert sorted(r["name"] for r in got.collect()) == ["apple", "apricot", "avocado"]


def test_lite_row_group_pruning_with_position_deletes(spark, root):
    """r5: iceberg_lite's executor prunes row groups by footer stats when
    bounds are pushed, and position-delete ordinals re-base per kept
    group's start offset — the masked result must match an unpruned read
    exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # build a 1-file table then REWRITE the data file with small row groups
    # so group pruning has something to skip
    df = spark.createDataFrame([(k, k * 2) for k in range(1000)], "k long, v long")
    t = IcebergTable.create(spark, root, df.coalesce(1))
    entries, _ = t.files()
    path = entries[0]["file_path"].replace("file:", "")
    tbl = pq.read_table(path)
    tbl = tbl.sort_by("k")
    pq.write_table(tbl, path, row_group_size=100)
    t.position_delete(F.col("k").between(250, 279))

    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    spark.dataSource.register(IcebergLiteDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("iceberg_lite")
            .option("pushdown", "true")
            .load(root)
            .where("k >= 200 AND k <= 399")
            .collect()
        )
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    ks = sorted(r["k"] for r in got)
    assert ks == [k for k in range(200, 400) if not (250 <= k <= 279)]
    assert all(r["v"] == r["k"] * 2 for r in got)


def test_iceberg_cdc_emits_per_snapshot_schema(spark, root):
    """VERDICT r5 #4 (Iceberg side): every CDC row carries its snapshot's
    schema-id, and current columns whose FIELD ID is absent from that
    snapshot's schema arrive null — a replay never backfills a
    later-evolved column into an old snapshot's batch."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    t = IcebergTable.create(
        spark, root,
        spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1),
    )                                       # snapshot 0, schema-id 0
    t.rename_column("v", "val")             # schema-id bump, no snapshot
    t.append(                               # snapshot 1, evolved schema
        spark.createDataFrame([(2, 20, 5)], "k long, val long, extra long").coalesce(1),
        allow_evolution=True,
    )
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    assert "schema_id" in feed.columns
    rows = {(r["snapshot_idx"], r["k"]): r for r in feed.collect()}
    r0 = rows[(0, 1)]
    r1 = rows[(1, 2)]
    # snapshot 0 predates both the rename and the added column: its rows
    # carry the create-time schema-id, val still resolves by field id, and
    # extra is null by SCHEMA (not merely by file content)
    assert r0["schema_id"] < r1["schema_id"]
    assert r0["val"] == 10 and r0["extra"] is None
    assert r1["extra"] == 5 and r1["val"] == 20


def test_delete_vectors_v3_writer_semantics(spark, root):
    """The v3 DV WRITER: (a) format-version upgrades to 3; (b) a second
    delete superseding a file's DV leaves exactly ONE DV per data file
    (union positions, consolidated deletes manifest); (c) kept entries
    keep their original sequence numbers; (d) time travel below the DVs
    sees all rows; (e) position_delete refuses on the upgraded table;
    (f) iceberg_lite and the CDC feed agree with the native reader."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    t = IcebergTable.create(
        spark, root,
        spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long").coalesce(1),
    )
    t.append(spark.createDataFrame([(20, 200), (21, 210)], "k long, v long").coalesce(1))
    r1 = t.delete_vectors_v3("k % 3 = 1")  # kills 1, 4, 7
    assert r1["delete_rows"] == 3 and r1["files_updated"] == 1
    t = IcebergTable(spark, root)
    assert t.metadata()["format-version"] == 3
    r2 = t.delete_vectors_v3("k IN (2, 4, 20)")  # 4 already dead → union
    assert r2["delete_rows"] == 2 and r2["files_updated"] == 2
    t = IcebergTable(spark, root)
    assert sorted(r.k for r in t.read().collect()) == [0, 3, 5, 6, 8, 9, 21]
    dvs = [d for d in t.delete_entries()
           if (d["data_file"].get("file_format") or "").upper() == "PUFFIN"]
    refs = [d["data_file"]["referenced_data_file"] for d in dvs]
    assert len(refs) == len(set(refs)) == 2  # one DV per data file
    # union DV for the create file covers {1, 4, 7, 2}
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.puffin import (
        read_dv_positions,
    )

    by_card = {
        d["data_file"]["record_count"]: d["data_file"] for d in dvs
    }
    big = by_card[4]
    assert len(read_dv_positions(
        big["file_path"].replace("file:", ""),
        int(big["content_offset"]), int(big["content_size_in_bytes"]),
    )) == 4
    # time travel below the DVs
    assert t.read(index=1).count() == 12
    # v3 forbids parquet position-delete files
    with pytest.raises(NotImplementedError, match="delete_vectors_v3"):
        t.position_delete("k = 0")
    # lite source parity
    try:
        spark.dataSource.register(IcebergLiteDataSource)
    except Exception:
        pass
    lite = spark.read.format("iceberg_lite").load(root)
    assert sorted(r.k for r in lite.collect()) == [0, 3, 5, 6, 8, 9, 21]
    # CDC: the superseding DV emits ONLY the newly-dead rows
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    dels = {
        (r["snapshot_idx"], r["k"])
        for r in feed.where("change_type = 'delete_row'").collect()
    }
    assert dels == {(2, 1), (2, 4), (2, 7), (3, 2), (3, 20)}


def test_v3_row_lineage_end_to_end(spark, root):
    """Iceberg V3 ROW LINEAGE (r6 — was a refusal): enable_row_lineage
    assigns every existing file a first_row_id (one consolidated data
    manifest per spec, entries keep their original sequence numbers) and
    initializes next-row-id; appends extend the id space; row_lineage_df
    exposes _row_id = first_row_id + position, stable across DV deletes;
    rewrite_data_files preserves ids by MATERIALIZING the lineage columns
    into rewritten files (r7 — was a refusal); row-replacing writers
    (overwrite/upsert/merge_cow, r8) follow the spec's lineage rules —
    see test_v3_row_lineage_merge_cow_and_replacing_writers."""
    t = IcebergTable.create(
        spark, root,
        spark.createDataFrame([(i, i * 10) for i in range(8)], "k long, v long").repartition(2, "k"),
    )
    with pytest.raises(ValueError, match="row lineage"):
        t.row_lineage_df()
    r = t.enable_row_lineage()
    assert r == {"already_enabled": False, "next_row_id": 8, "files": 2}
    t = IcebergTable(spark, root)
    assert t.metadata()["format-version"] == 3
    assert t.enable_row_lineage()["already_enabled"] is True
    lin = {row.k: row._row_id for row in t.row_lineage_df().collect()}
    assert sorted(lin.values()) == list(range(8))  # dense, unique
    # content still reads identically through the rewritten manifests
    assert sorted(r_.k for r_ in t.read().collect()) == list(range(8))
    t.append(spark.createDataFrame([(100, 1), (101, 2)], "k long, v long").coalesce(1))
    t = IcebergTable(spark, root)
    assert t.metadata()["next-row-id"] == 10
    lin2 = {row.k: row._row_id for row in t.row_lineage_df().collect()}
    assert all(lin2[k] == v for k, v in lin.items())  # old ids stable
    assert sorted(lin2[k] for k in (100, 101)) == [8, 9]
    # snapshot records its starting id
    snaps = sorted(t.snapshots(), key=lambda s: s["sequence-number"])
    assert snaps[-1]["first-row-id"] == 8
    # a DV delete masks rows without moving survivors' ids
    t.delete_vectors_v3("k = 2")
    t = IcebergTable(spark, root)
    lin3 = {row.k: row._row_id for row in t.row_lineage_df().collect()}
    assert 2 not in lin3
    assert all(lin3[k] == lin2[k] for k in lin3)
    # _last_updated_sequence_number = the file's data sequence number
    seqs = {row.k: row._last_updated_sequence_number
            for row in t.row_lineage_df().collect()}
    assert seqs[0] < seqs[100]
    # r7: rewrite_data_files PRESERVES lineage — _row_id and
    # _last_updated_sequence_number are materialized into the rewritten
    # files, so the lineage view is IDENTICAL across the compaction
    # (deletes drop out of planning; survivors keep their ids/seqs).
    nxt_before = t.metadata()["next-row-id"]
    res = t.rewrite_data_files()
    assert res["files_after"] == 1 and res["delete_files_dropped"] == 1
    t = IcebergTable(spark, root)
    lin4 = {row.k: (row._row_id, row._last_updated_sequence_number)
            for row in t.row_lineage_df().collect()}
    assert lin4 == {k: (lin3[k], seqs[k]) for k in lin3}
    # fresh first_row_id assignment: ids never reused, next-row-id advanced
    assert t.metadata()["next-row-id"] == nxt_before + len(lin3)
    assert t.snapshots()[-1]["first-row-id"] == nxt_before
    # plain read() ignores the materialized columns (declared schema)
    assert set(t.read().columns) == {"k", "v"}
    assert sorted(r_.k for r_ in t.read().collect()) == sorted(lin3)
    # appends after the rewrite keep extending the id space densely
    t.append(spark.createDataFrame([(200, 1)], "k long, v long").coalesce(1))
    t = IcebergTable(spark, root)
    lin5 = {row.k: row._row_id for row in t.row_lineage_df().collect()}
    assert lin5[200] == nxt_before + len(lin3)
    assert all(lin5[k] == lin3[k] for k in lin3)


def test_merge_cow_across_partition_evolution_with_lineage(spark, root):
    """r8 gap-closure pin: merge_cow on a row-lineage table whose files
    span TWO partition specs — bounds pruning must consult every spec's
    manifests, untouched files under the OLD spec carry by reference in
    per-spec consolidated manifests, and matched ids survive the rewrite
    regardless of which spec their file was written under."""
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, i % 2, i * 10) for i in range(6)], "k long, p long, v long"
        ).orderBy("k").coalesce(1),
    )
    t.evolve_partition_spec(["p"])  # new default spec; old file stays put
    t.append(
        spark.createDataFrame(
            [(10, 0, 1), (11, 1, 1)], "k long, p long, v long"
        ).orderBy("k").coalesce(1)
    )  # written under the NEW spec (one file per p)
    t.enable_row_lineage()
    t = IcebergTable(spark, root)
    ids0 = {r.k: r._row_id for r in t.row_lineage_df().collect()}
    # far-away key file: must be carried, not rewritten
    t.append(
        spark.createDataFrame([(100, 0, 9)], "k long, p long, v long").coalesce(1)
    )
    res = t.merge_cow(
        spark.createDataFrame(
            [(1, 1, 111), (11, 1, 222), (12, 0, 333)], "k long, p long, v long"
        ),
        "k",
    )
    assert res["updated"] == 2 and res["inserted"] == 1
    assert res["files_carried"] >= 1  # the k=100 file pruned by bounds
    t = IcebergTable(spark, root)
    rows = {r.k: (r.v, r._row_id) for r in t.row_lineage_df().collect()}
    # matched ids preserved across BOTH specs' rewritten files
    assert rows[1] == (111, ids0[1])
    assert rows[11] == (222, ids0[11])
    # carried rows keep ids; the untouched far file too
    assert rows[0][1] == ids0[0] and rows[5][1] == ids0[5]
    assert rows[100][0] == 9
    # insert got a fresh unique id
    ids = [x[1] for x in rows.values()]
    assert len(set(ids)) == len(ids)
    assert rows[12][1] not in ids0.values()
    # content intact through the mixed-spec rewrite
    assert sorted(rows) == [0, 1, 2, 3, 4, 5, 10, 11, 12, 100]


def test_iceberg_cdc_row_lineage(spark, root):
    """r8 (the Iceberg twin of delta's row-tracking × CDF composition):
    on a row-lineage table the iceberg_cdc feed carries a trailing
    ``_row_id`` — adds resolve first_row_id + position (or the
    materialized column after a lineage-preserving rewrite), DV
    delete_row rows carry the dead rows' ids, equality delete_key rows
    ride null (the spec: lineage cannot be carried through an equality
    delete), and pre-enable snapshots honestly ride null."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        IcebergCdcDataSource,
        drain_feed,
    )

    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k long, v long"
        ).orderBy("k").coalesce(1),
    )
    t.enable_row_lineage()
    t = IcebergTable(spark, root)
    t.append(spark.createDataFrame([(10, 1)], "k long, v long").coalesce(1))
    t.delete_vectors_v3("k = 2")
    t.equality_delete(spark.createDataFrame([(3,)], "k long"))
    t.rewrite_data_files()  # materializes survivors' _row_id into new files
    feed = drain_feed(spark, IcebergCdcDataSource, root, lambda f: f)
    assert "_row_id" in feed.columns
    got = {
        (r["snapshot_idx"], r["change_type"], r["k"]): r["_row_id"]
        for r in feed.collect()
    }
    # snapshot 0 = create (pre-enable: no first_row_id on those entries)
    assert got[(0, "add", 2)] is None
    # snapshot 2 = post-enable append: inherited first_row_id + position
    assert got[(2, "add", 10)] == 6
    # snapshot 3 = DV delete: the dead row's stable id
    assert got[(3, "delete_row", 2)] == 2
    # snapshot 4 = equality delete: matched rows never read → null id
    assert got[(4, "delete_key", 3)] is None
    # snapshot 5 = lineage-preserving rewrite: the new file's adds carry
    # MATERIALIZED ids — survivors keep theirs through the compaction
    adds5 = {
        k[2]: rid for k, rid in got.items() if k[0] == 5 and k[1] == "add"
    }
    assert adds5 == {0: 0, 1: 1, 4: 4, 5: 5, 10: 6}
    # uniqueness across the final snapshot's live rows
    vals = list(adds5.values())
    assert len(set(vals)) == len(vals)


def test_v3_row_lineage_merge_cow_and_replacing_writers(spark, root):
    """r8 (was a refusal): row-replacing writers on a lineage table follow
    the spec's rules instead of refusing. merge_cow (copy-on-write)
    PRESERVES matched rows' _row_id (materialized into the rewritten
    files), keeps carried rows' (_row_id, _last_updated_sequence_number)
    both, lets inserts inherit fresh ids, prunes untouched files by key
    bounds, and consumes DVs over rewritten files. overwrite assigns
    all-fresh ids (replacements are new rows); upsert (equality-delete
    merge-on-read) also assigns fresh ids — the spec says lineage cannot
    be carried through an equality delete."""
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, i * 10) for i in range(8)], "k long, v long"
        ).orderBy("k").coalesce(1),
    )
    t.enable_row_lineage()
    t = IcebergTable(spark, root)
    assert {r.k: r._row_id for r in t.row_lineage_df().collect()} == {
        i: i for i in range(8)
    }
    # a second, key-disjoint file: must be CARRIED, not rewritten
    t.append(
        spark.createDataFrame(
            [(200, 0), (201, 0), (202, 0)], "k long, v long"
        ).orderBy("k").coalesce(1)
    )
    t.delete_vectors_v3("k = 5")
    t = IcebergTable(spark, root)
    res = t.merge_cow(
        spark.createDataFrame(
            [(1, 111), (3, 333), (100, 1000)], "k long, v long"
        ),
        "k",
    )
    assert res["updated"] == 2 and res["inserted"] == 1
    assert res["files_rewritten"] == 1 and res["files_carried"] == 1
    t = IcebergTable(spark, root)
    rows = {
        r.k: (r.v, r._row_id, r._last_updated_sequence_number)
        for r in t.row_lineage_df().collect()
    }
    merge_seq = t.metadata()["last-sequence-number"]
    assert 5 not in rows  # DV-dead row did not resurrect through the CoW
    assert rows[1] == (111, 1, merge_seq)  # updated: new value, SAME id
    assert rows[3] == (333, 3, merge_seq)
    # carried rows in the rewritten file keep BOTH materialized values
    assert rows[0] == (0, 0, 1) and rows[7] == (70, 7, 1)
    # the untouched file's rows are untouched (ids 8..10 from its append)
    assert {rows[k][1] for k in (200, 201, 202)} == {8, 9, 10}
    # insert inherits a fresh id from the new first_row_id block (≥ 11)
    assert rows[100][1] >= 11 and rows[100][2] == merge_seq
    ids = [v[1] for v in rows.values()]
    assert len(set(ids)) == len(ids)
    # DV over the rewritten file was consumed — no dangling Puffin entry
    assert not [
        d
        for d in t.delete_entries()
        if (d["data_file"].get("file_format") or "").upper() == "PUFFIN"
    ]
    # UPSERT: equality-delete MoR — matched keys die, batch rows are NEW
    nxt = t.metadata()["next-row-id"]
    t.upsert(
        spark.createDataFrame(
            [(0, -1), (300, -1)], "k long, v long"
        ).orderBy("k").coalesce(1),
        key="k",
    )
    t = IcebergTable(spark, root)
    rows2 = {r.k: r._row_id for r in t.row_lineage_df().collect()}
    assert rows2[0] == nxt and rows2[300] == nxt + 1  # fresh, write order
    assert rows2[1] == 1 and rows2[7] == 7  # unmatched ids stable
    assert t.snapshots()[-1]["first-row-id"] == nxt
    # OVERWRITE: every row is a replacement ⇒ all-fresh id block
    nxt2 = t.metadata()["next-row-id"]
    assert nxt2 == nxt + 2
    t.overwrite(
        spark.createDataFrame(
            [(900, 1), (901, 2)], "k long, v long"
        ).orderBy("k").coalesce(1)
    )
    t = IcebergTable(spark, root)
    assert {r.k: r._row_id for r in t.row_lineage_df().collect()} == {
        900: nxt2,
        901: nxt2 + 1,
    }
    assert t.metadata()["next-row-id"] == nxt2 + 2
    assert t.snapshots()[-1]["first-row-id"] == nxt2


def test_v3_wide_delete_driver_traffic_is_per_file(spark, root, monkeypatch):
    """VERDICT r9 scale fix: delete_vectors_v3 builds each touched file's
    Puffin DV executor-side; the driver's only collect returns one entry
    row per touched file, never the deleted ordinals."""

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.puffin import (
        read_dv_positions,
    )

    df = spark.createDataFrame([(i, i * 3) for i in range(4000)], "k long, v long")
    t = IcebergTable.create(spark, root, df.repartition(10, "k"))
    dfcls = type(spark.range(1))  # the concrete (classic) DataFrame class
    orig = dfcls.collect
    collected: list[int] = []

    def counting(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(dfcls, "collect", counting)
    res = t.delete_vectors_v3("k % 2 = 0")
    monkeypatch.setattr(dfcls, "collect", orig)
    assert res["delete_rows"] == 2000 and res["files_updated"] == 10
    assert sum(collected) == 10  # one metadata row per touched file
    t = IcebergTable(spark, root)
    assert t.read().count() == 2000
    dvs = [d["data_file"] for d in t.delete_entries()
           if (d["data_file"].get("file_format") or "").upper() == "PUFFIN"]
    assert len(dvs) == 10
    total = 0
    for dfm_ in dvs:
        poss = read_dv_positions(
            dfm_["file_path"].replace("file:", ""),
            int(dfm_["content_offset"]),
            int(dfm_["content_size_in_bytes"]),
        )
        total += len(poss)
    assert total == 2000


def test_uniform_to_delta_keeps_date_bounds(spark, root):
    """Iceberg→Delta UniForm carries date bounds into the add-action stats
    as ISO strings (deltalog._stats_for_file's convention), so
    files(bounds=) skips on a date column."""
    import datetime as dt

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        iceberg_to_delta_uniform,
    )

    def rows(k0, day0):
        return spark.createDataFrame(
            [(k0 + i, dt.date(2024, 1, day0 + i)) for i in range(3)], "k long, d date"
        ).coalesce(1)

    t = IcebergTable.create(spark, root, rows(0, 1))
    t.append(rows(10, 20))
    dl = iceberg_to_delta_uniform(IcebergTable(spark, root), root + "_d")
    try:
        stats = sorted(
            (json.loads(a["stats"]) for a in dl.files()), key=lambda s: s["minValues"]["k"]
        )
        assert [(s["minValues"], s["maxValues"]) for s in stats] == [
            ({"k": 0, "d": "2024-01-01"}, {"k": 2, "d": "2024-01-03"}),
            ({"k": 10, "d": "2024-01-20"}, {"k": 12, "d": "2024-01-22"}),
        ]
        assert len(dl.files(bounds={"d": ("2024-01-15", "2024-01-31")})) == 1
        assert _rows(dl.read()) == _rows(t.read())
    finally:
        shutil.rmtree(root + "_d", ignore_errors=True)
