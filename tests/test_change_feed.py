"""The change-feed core (sources/change_feed.py) against the snapshot
readers: a drained feed reconciled at the latest version equals the
format's ``*_lite`` read, and Iceberg date/timestamp identity partitions
read the same through every path as the same table written as Delta."""

import datetime as dt

import pytest

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
    DeltaCdcDataSource,
    IcebergCdcDataSource,
    drain_feed,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
    LITE_SOURCES,
)


def _rows(rows):
    return sorted(
        (tuple(r) for r in rows), key=lambda t: tuple((v is None, str(v)) for v in t)
    )


def _drain(spark, source, root):
    return drain_feed(spark, source, root, lambda feed: feed).collect()


def _lite(spark, fmt, root, cols):
    for ds in LITE_SOURCES:
        spark.dataSource.register(ds)
    return _rows(spark.read.format(fmt).load(root).select(*cols).collect())


def _reconcile(feed, key, version, change, cols):
    """The table a consumer rebuilds from the feed: a key's last ``add``
    survives unless a strictly later ``remove``/``delete_*`` drops it (an
    add and a remove of one version are a rewrite, the add wins)."""
    last_add, last_drop = {}, {}
    for r in feed:
        k, v = r[key], r[version]
        if r[change] == "add":
            if k not in last_add or v >= last_add[k][0]:
                last_add[k] = (v, tuple(r[c] for c in cols))
        else:
            last_drop[k] = max(last_drop.get(k, -1), v)
    return _rows(row for k, (v, row) in last_add.items() if last_drop.get(k, -1) <= v)


def test_delta_feed_reconciles_to_lite_read(spark, tmp_path):
    """A DV delete on a partitioned table: the remove/re-add pair of the
    DV commit nets to the deleted row, partition values overlaid."""
    root = str(tmp_path / "dl")
    t = DeltaTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "b", 40)],
            "k long, part string, v long",
        ).coalesce(1),
        partition_by=["part"],
    )
    t.append(spark.createDataFrame([(5, "a", 50)], "k long, part string, v long"))
    t.delete_vectors("k = 2")
    t.delete_vectors("k = 5")
    cols = ["k", "part", "v"]
    feed = _drain(spark, DeltaCdcDataSource, root)
    got = _reconcile(feed, "k", "commit_version", "change_type", cols)
    assert got == _lite(spark, "delta_lite", root, cols) == [
        (1, "a", 10), (3, "a", 30), (4, "b", 40)
    ]


def test_iceberg_feed_reconciles_to_lite_read(spark, tmp_path):
    """A rename plus a position delete: the pre-rename file's values arrive
    under the new name and the deleted row as a full ``delete_row``."""
    root = str(tmp_path / "ic")
    t = IcebergTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, tag string, v long"
        ).coalesce(1),
    )
    t.rename_column("tag", "label")
    t.append(spark.createDataFrame([(4, "d", 40)], "k long, label string, v long"))
    t.position_delete("v = 20")
    cols = ["k", "label", "v"]
    feed = _drain(spark, IcebergCdcDataSource, root)
    assert [
        (r["snapshot_idx"], r["k"], r["label"], r["v"])
        for r in feed
        if r["change_type"] == "delete_row"
    ] == [(2, 2, "b", 20)]
    got = _reconcile(feed, "k", "snapshot_idx", "change_type", cols)
    assert got == _lite(spark, "iceberg_lite", root, cols) == [
        (1, "a", 10), (3, "c", 30), (4, "d", 40)
    ]


def test_delta_merge_feed_reconciles_to_lite_read(spark, tmp_path):
    """A copy-on-write merge rewrites a file: its old rows leave and the
    updated and carried rows re-enter in the same version."""
    root = str(tmp_path / "dm")
    t = DeltaTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"n{i}", i % 3) for i in range(8)], "k int, name string, r int"
        ).repartitionByRange(2, "k"),
    )
    t.merge(
        spark.createDataFrame([(1, "UPD", 9), (20, "NEW", 1)], "k int, name string, r int"),
        key="k",
    )
    cols = ["k", "name", "r"]
    feed = _drain(spark, DeltaCdcDataSource, root)
    got = _reconcile(feed, "k", "commit_version", "change_type", cols)
    want = _lite(spark, "delta_lite", root, cols)
    assert got == want and (1, "UPD", 9) in want and (20, "NEW", 1) in want


@pytest.mark.parametrize(
    "ddl,values",
    [
        ("date", [dt.date(2020, 1, 1), dt.date(1969, 12, 31), None]),
        (
            "timestamp",
            [
                dt.datetime(2020, 1, 1, 10, 11, 12, 123456),
                dt.datetime(1999, 12, 31, 23, 59, 59),
                None,
            ],
        ),
    ],
)
def test_iceberg_temporal_identity_partitions(spark, tmp_path, ddl, values):
    """A date/timestamp identity partition is stored as its Appendix-A
    value (days / micros) and reads back through IcebergTable.read,
    iceberg_lite and iceberg_cdc as the same table written as Delta."""
    df = spark.createDataFrame(
        [(i, values[i % len(values)], i * 10) for i in range(6)], f"k long, d {ddl}, v long"
    )
    want = _rows(
        DeltaTable.create(spark, str(tmp_path / "dl"), df, partition_by=["d"]).read().collect()
    )
    root = str(tmp_path / "ic")
    t = IcebergTable.create(spark, root, df, partition_by=["d"])
    assert _rows(t.read().collect()) == want
    assert _rows(_lite(spark, "iceberg_lite", root, ["k", "d", "v"])) == want
    feed = _drain(spark, IcebergCdcDataSource, root)
    assert _rows((r["k"], r["d"], r["v"]) for r in feed if r["change_type"] == "add") == want
    # a partition equality prunes on the encoded tuple
    assert _rows(t.read(partition_filter={"d": values[0]}).collect()) == [
        r for r in want if r[1] == values[0]
    ]


def _pack_new_dvs(t):
    """Move the DV blobs the current snapshot added into ONE Puffin file
    and point their delete entries at it, the layout Spark's Iceberg
    writer produces (this engine writes one blob per Puffin file)."""
    import os

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.puffin import (
        read_puffin_blob,
        read_puffin_footer,
        write_puffin,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.avro_ocf import (
        read_ocf,
        write_ocf,
    )

    snap = t._resolve_snapshot(None, None)
    _, manifests = read_ocf(snap["manifest-list"].replace("file:", ""))
    (man,) = [m["manifest_path"] for m in manifests if m.get("content") == 1]
    meta, rows = read_ocf(man)
    new = [r for r in rows if r["status"] == 1 and r["data_file"]["file_format"] == "PUFFIN"]
    assert len(new) >= 2
    blobs = []
    for r in new:
        d = r["data_file"]
        (bm,) = [
            b for b in read_puffin_footer(d["file_path"])["blobs"]
            if b["offset"] == d["content_offset"]
        ]
        blobs.append({**bm, "data": read_puffin_blob(d["file_path"], bm["offset"], bm["length"])})
    packed = os.path.join(t.data_dir, "dv-packed-%d.puffin" % snap["snapshot-id"])
    for r, bm in zip(new, write_puffin(packed, blobs)):
        os.remove(r["data_file"]["file_path"])
        r["data_file"].update(
            file_path=packed,
            file_size_in_bytes=os.path.getsize(packed),
            content_offset=bm["offset"],
            content_size_in_bytes=bm["length"],
        )
    schema = meta.pop("avro.schema")
    codec = meta.pop("avro.codec").decode()
    write_ocf(man, schema, rows, codec=codec, metadata=meta)


def test_iceberg_feed_reads_every_dv_blob_of_one_puffin_file(spark, tmp_path):
    """Two DV blobs in one Puffin file, one per data file: both files'
    newly dead rows arrive as ``delete_row``, and a superseding DV of
    each emits only the rows it adds."""
    root = str(tmp_path / "ic")
    t = IcebergTable.create(
        spark, root,
        spark.createDataFrame([(i, i * 10) for i in range(6)], "k long, v long").coalesce(1),
    )
    t.append(spark.createDataFrame([(10, 100), (11, 110)], "k long, v long").coalesce(1))
    t.delete_vectors_v3("k in (1, 10)")
    _pack_new_dvs(t)
    t.delete_vectors_v3("k in (2, 11)")
    _pack_new_dvs(t)
    feed = _drain(spark, IcebergCdcDataSource, root)
    assert _rows(
        (r["snapshot_idx"], r["k"]) for r in feed if r["change_type"] == "delete_row"
    ) == [(2, 1), (2, 10), (3, 11), (3, 2)]
    cols = ["k", "v"]
    got = _reconcile(feed, "k", "snapshot_idx", "change_type", cols)
    assert got == _lite(spark, "iceberg_lite", root, cols) == _rows(
        (k, k * 10) for k in (0, 3, 4, 5)
    )


def _cdf_change_rows(feed, version):
    return _rows(
        (r["change_type"], r["k"], r["part"]) for r in feed if r["commit_version"] == version
    )


def test_delta_feed_overlays_change_data_partition_values(spark, tmp_path):
    """A ``_change_data`` file laid out as Delta's own writer does on a
    partitioned table (the partition column kept in the cdc action's
    partitionValues, not in the file) reads with that value overlaid."""
    import json
    import os

    import pyarrow.parquet as pq

    root = str(tmp_path / "dl")
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, part string, v long"
        ).coalesce(1),
        partition_by=["part"],
    )
    t.enable_change_data_feed()
    t.merge(spark.createDataFrame([(1, "a", 11)], "k long, part string, v long"), key="k")
    v = t.latest_version()
    commit = os.path.join(root, "_delta_log", f"{v:020d}.json")
    with open(commit) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    (cdc,) = [a["cdc"] for a in actions if "cdc" in a]
    path = os.path.join(root, cdc["path"])
    tbl = pq.read_table(path)
    assert set(tbl.column("part").to_pylist()) == {"a"}
    pq.write_table(tbl.drop(["part"]), path)
    cdc["partitionValues"] = {"part": "a"}
    with open(commit, "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in actions))
    feed = _drain(spark, DeltaCdcDataSource, root)
    assert _cdf_change_rows(feed, v) == [
        ("update_postimage", 1, "a"), ("update_preimage", 1, "a")
    ]


def test_delta_feed_change_data_after_column_drop_and_re_add(spark, tmp_path):
    """``_change_data`` rows take the schema in effect at their commit: a
    column dropped and re-added later is null in the older merge's rows
    and carries values in the newer one's."""
    root = str(tmp_path / "dl")
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame([(1, "x", 10), (2, "y", 20)], "k long, tag string, v long")
        .coalesce(1),
    )
    t.enable_column_mapping()
    t.enable_change_data_feed()
    t.merge(spark.createDataFrame([(1, "x2", 11)], "k long, tag string, v long"), key="k")
    first = t.latest_version()
    t.drop_column("tag")
    t.append(
        spark.createDataFrame([(5, 50, "t5")], "k long, v long, tag string").coalesce(1),
        allow_evolution=True,
    )
    t.merge(spark.createDataFrame([(5, 51, "t5b")], "k long, v long, tag string"), key="k")
    second = t.latest_version()
    feed = _drain(spark, DeltaCdcDataSource, root)

    def rows(v):
        return _rows(
            (r["change_type"], r["k"], r["tag"], r["v"]) for r in feed if r["commit_version"] == v
        )

    assert rows(first) == [("update_postimage", 1, None, 11), ("update_preimage", 1, None, 10)]
    assert rows(second) == [
        ("update_postimage", 5, "t5b", 51), ("update_preimage", 5, "t5", 50)
    ]
