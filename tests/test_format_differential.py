"""Cross-format differential: the SAME operation sequence applied through
both table formats (Delta _delta_log, Iceberg v2 metadata) must produce
identical rows at every version/snapshot — the formats differ in metadata
layout, never in answers."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


SCENARIOS = [
    # (name, create rows, append rows, overwrite rows) as (k, tag, v)
    (
        "plain",
        [(1, "a", 1.5), (2, "b", -2.0), (3, "a", 0.0)],
        [(4, "c", 9.25), (5, "a", -0.5)],
        [(9, "z", 100.0)],
    ),
    (
        "nulls_and_dupkeys",
        [(1, None, 1.0), (1, "dup", 2.0), (2, "x", None)],
        [(3, None, None)],
        [],
    ),
    (
        "unicode_and_extremes",
        [(2**62, "héllo wörld", 1e300), (-(2**62), "", -1e-300)],
        [(0, "🚀", float(2**53))],
        [(7, "tab\tnewline\n", 0.125)],
    ),
]


@pytest.mark.parametrize("name,create,append,over", SCENARIOS)
def test_formats_agree(spark, name, create, append, over):
    ddl = "k long, tag string, v double"
    base = os.path.join(tempfile.gettempdir(), f"diff_{name}_{uuid.uuid4().hex[:6]}")
    try:
        c_df = spark.createDataFrame(create, ddl)
        a_df = spark.createDataFrame(append, ddl)
        o_df = spark.createDataFrame(over, ddl)
        dl = DeltaTable.create(spark, os.path.join(base, "dl"), c_df)
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), c_df)
        dl.append(a_df)
        ic.append(a_df)
        dl.overwrite(o_df)
        ic.overwrite(o_df)
        for v in (0, 1):
            r_dl = _rows(dl.read(v))
            r_ic = _rows(ic.read(index=v))
            assert r_dl == r_ic, f"{name} v{v} diverges"
        assert _rows(dl.read(2)) == _rows(ic.read(index=2)) == _rows(o_df), name
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_partitioned_differential(spark):
    ddl = "k long, part string, v long"
    rows = [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "a", 40)]
    base = os.path.join(tempfile.gettempdir(), f"diffp_{uuid.uuid4().hex[:6]}")
    try:
        df = spark.createDataFrame(rows, ddl)
        dl = DeltaTable.create(spark, os.path.join(base, "dl"), df, partition_by=["part"])
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), df, partition_by=["part"])
        assert _rows(dl.read()) == _rows(ic.read()) == _rows(df)
        # partition filter agrees (incl. the null partition staying out)
        assert _rows(dl.read(partition_filter={"part": "a"})) == _rows(
            ic.read(partition_filter={"part": "a"})
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_delete_paths_agree(spark):
    """The same logical delete through two different mechanisms — Delta
    copy-on-write predicate delete, Iceberg merge-on-read equality delete —
    must leave identical tables."""
    ddl = "k long, tag string, v long"
    rows = [(i, f"t{i % 3}", i * 10) for i in range(30)]
    kill = [(k,) for k in (3, 7, 11, 25)]
    base = os.path.join(tempfile.gettempdir(), f"diffdel_{uuid.uuid4().hex[:6]}")
    try:
        df = spark.createDataFrame(rows, ddl)
        dl = DeltaTable.create(spark, os.path.join(base, "dl"), df)
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), df)
        pred = "k IN (3, 7, 11, 25)"
        dl.delete(pred)
        ic.equality_delete(spark.createDataFrame(kill, "k long"))
        r_dl = _rows(dl.read())
        r_ic = _rows(ic.read())
        assert r_dl == r_ic
        assert len(r_dl) == 26
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_export_chain_delta_to_iceberg(spark):
    """The export chain: a Delta table's history (create, append, merge)
    gets Iceberg metadata overlaid by UniForm on the SAME files — one data
    copy, two formats, every version agreeing with the expected rows."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        delta_to_iceberg_uniform,
    )

    base = os.path.join(tempfile.gettempdir(), f"chain_{uuid.uuid4().hex[:6]}")
    try:
        ddl = "k long, tag string, v double"
        dl = DeltaTable.create(
            spark,
            os.path.join(base, "dl"),
            spark.createDataFrame([(1, "a", 1.5), (2, "b", -2.0)], ddl),
        )
        dl.append(spark.createDataFrame([(3, "c", 9.0)], ddl))
        dl.merge(spark.createDataFrame([(2, "B", 7.5), (4, "d", 0.5)], ddl), key="k")
        ic = delta_to_iceberg_uniform(dl)
        want = [
            [(1, "a", 1.5), (2, "b", -2.0)],
            [(1, "a", 1.5), (2, "b", -2.0), (3, "c", 9.0)],
            [(1, "a", 1.5), (2, "B", 7.5), (3, "c", 9.0), (4, "d", 0.5)],
        ]
        for v in (0, 1, 2):
            assert _rows(dl.read(v)) == want[v], f"delta v{v}"
            assert _rows(ic.read(index=v)) == want[v], f"iceberg v{v}"
        # one physical copy: iceberg references the delta files in place
        entries, _ = ic.files()
        dl_paths = {os.path.realpath(dl._abs_path(a["path"])) for a in dl.files()}
        assert {os.path.realpath(e["file_path"]) for e in entries} == dl_paths
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_upsert_paths_agree(spark):
    """The same logical upsert through two mechanisms — Delta CoW merge,
    Iceberg single-snapshot MoR upsert (equality delete + data at one
    sequence number) — must leave identical tables."""
    ddl = "k long, tag string, v long"
    rows = [(i, f"t{i % 3}", i * 10) for i in range(20)]
    ups = [(3, "U3", 333), (7, "U7", 777), (50, "NEW", 500)]
    base = os.path.join(tempfile.gettempdir(), f"diffup_{uuid.uuid4().hex[:6]}")
    try:
        df = spark.createDataFrame(rows, ddl)
        u_df = spark.createDataFrame(ups, ddl)
        dl = DeltaTable.create(spark, os.path.join(base, "dl"), df)
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), df)
        dl.merge(u_df, key="k")
        ic.upsert(u_df, key="k")
        r_dl, r_ic = _rows(dl.read()), _rows(ic.read())
        assert r_dl == r_ic
        assert len(r_dl) == 21
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_restore_and_rollback_agree_across_formats(spark):
    """RESTORE/rollback parity: after create → append → delete, winding
    both formats back to the post-append state must agree with that state;
    the restored-over history stays time-travelable; new writes continue
    on top of the restore."""
    ddl = "k long, tag string, v long"
    rows = [(i, f"t{i % 2}", i * 10) for i in range(10)]
    base = os.path.join(tempfile.gettempdir(), f"diffres_{uuid.uuid4().hex[:6]}")
    try:
        df = spark.createDataFrame(rows, ddl)
        extra = spark.createDataFrame([(50, "x", 500)], ddl)
        dl = DeltaTable.create(spark, os.path.join(base, "dl"), df)
        ic = IcebergTable.create(spark, os.path.join(base, "ic"), df)
        for t_ in (dl, ic):
            t_.append(extra)
        dl.delete_vectors("k >= 5")
        ic.position_delete("k >= 5")
        want = _rows(spark.createDataFrame(rows, ddl).unionByName(extra))
        # wind back to the post-append state
        dl.restore(1)
        ic.rollback(index=1)
        assert _rows(dl.read()) == want
        assert _rows(ic.read()) == want
        # restored-over history remains readable (Delta commits the
        # restore as a NEW version; Iceberg keeps the snapshot): version 2
        # is the post-delete state (k 0-4)
        assert dl.read(2).count() == 5
        # writes continue on top of the restore in every stack
        more = spark.createDataFrame([(60, "y", 600)], ddl)
        for t_ in (dl, ic):
            t_.append(more)
        want2 = sorted(
            want + [(60, "y", 600)],
            key=lambda t: tuple((v is None, str(v)) for v in t),
        )
        assert _rows(dl.read()) == _rows(ic.read()) == want2
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- foreign-written fixtures (r5): features OUR writer emits, laid down
# --- as another engine would, byte-level ---------------------------------


def test_reads_foreign_delta_dv_run_containers_and_unknown_actions(spark):
    """Hand-crafted _delta_log the way delta-spark would write it: table-
    features protocol (reader 3 / writer 7 with feature lists), unknown
    action types interleaved (domainMetadata, cdc — spec says ignore), and
    a deletion vector whose blob uses RUN containers (cookie 12347, the
    runOptimize flavor real engines emit for dense deletes) inside a DV
    file with the full 32-bit CRC trailer. The reader must mask exactly
    the dense deleted range."""
    import json
    import struct
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.roaring import (
        SERIAL_COOKIE,
        serialize_rba,
    )

    root = os.path.join(tempfile.gettempdir(), f"fdv_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(root, "_delta_log"))
    try:
        pq.write_table(
            pa.table({"k": list(range(20)), "v": [f"r{i}" for i in range(20)]}),
            os.path.join(root, "part-000.parquet"),
        )
        # DV: rows 3..14 dead — a dense range that runOptimize encodes as
        # ONE run container; assert the blob really is the 12347 flavor
        # RBA layout: magic(4) + count(8) + key(4) + roaring32 stream
        blob = serialize_rba(list(range(3, 15)))
        (cookie32,) = struct.unpack_from("<I", blob, 16)
        assert cookie32 & 0xFFFF == SERIAL_COOKIE
        dv_path = os.path.join(root, "deletion_vector_foreign.bin")
        with open(dv_path, "wb") as f:
            f.write(b"\x01")
            f.write(struct.pack(">i", len(blob)))
            f.write(blob)
            f.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
        schema_string = json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                    {"name": "v", "type": "string", "nullable": True, "metadata": {}},
                ],
            }
        )
        add = {
            "path": "part-000.parquet",
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
        actions0 = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": [
                        "appendOnly", "invariants", "deletionVectors"
                    ],
                }
            },
            {
                "metaData": {
                    "id": "foreign",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {"delta.enableDeletionVectors": "true"},
                }
            },
            {"add": add},
        ]
        actions1 = [
            # unknown action types a NEWER engine writes — spec: ignore
            {"domainMetadata": {"domain": "delta.universalFormat", "configuration": "{}", "removed": False}},
            {"cdc": {"path": "_change_data/x.parquet", "partitionValues": {}, "size": 1, "dataChange": False}},
            {"remove": {"path": "part-000.parquet", "deletionTimestamp": 0, "dataChange": True}},
            {
                "add": {
                    **add,
                    "deletionVector": {
                        "storageType": "p",
                        "pathOrInlineDv": dv_path,
                        "offset": 1,
                        "sizeInBytes": len(blob),
                        "cardinality": 12,
                    },
                }
            },
        ]
        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
            _fmt_commit,
        )

        for v, acts in ((0, actions0), (1, actions1)):
            with open(os.path.join(root, "_delta_log", _fmt_commit(v)), "w") as f:
                for a in acts:
                    f.write(json.dumps(a) + "\n")
        t = DeltaTable(spark, root)
        assert t.read(0).count() == 20
        got = sorted(r.k for r in t.read().collect())
        assert got == [0, 1, 2] + list(range(15, 20))
        p = t.protocol()
        assert "deletionVectors" in p["readerFeatures"]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_iceberg_reader_tolerates_legacy_summary_and_extra_fields(spark):
    """Foreign metadata JSON shape: unknown top-level keys (statistics,
    partition-statistics — newer spec additions), extra snapshot keys, and
    a LEGACY snapshot whose summary has no metric counts. Reads must be
    unaffected and snapshots_df must surface NULL metrics for the legacy
    snapshot rather than failing."""
    import json

    root = os.path.join(tempfile.gettempdir(), f"fice_{uuid.uuid4().hex[:8]}")
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "k long, tag string")
        t = IcebergTable.create(spark, root, df.coalesce(1))
        t.append(spark.createDataFrame([(4, "c")], "k long, tag string").coalesce(1))
        md = t.metadata()
        # strip metrics from snapshot 1 (legacy writer) + sprinkle unknowns
        md["statistics"] = [{"snapshot-id": md["snapshots"][0]["snapshot-id"]}]
        md["partition-statistics"] = []
        md["unknown-future-field"] = {"x": 1}
        md["snapshots"][0]["summary"] = {"operation": "append"}
        md["snapshots"][0]["first-row-id"] = 0  # v3 spec field
        vs = t._metadata_versions()
        with open(os.path.join(t.meta_dir, f"v{vs[-1] + 1}.metadata.json"), "w") as f:
            json.dump(md, f)
        with open(os.path.join(t.meta_dir, "version-hint.text"), "w") as f:
            f.write(str(vs[-1] + 1))
        t2 = IcebergTable(spark, root)
        assert t2.read().count() == 4
        s = {r["sequence_number"]: r for r in t2.snapshots_df().collect()}
        assert s[1]["added_records"] is None  # legacy summary → NULL metrics
        assert s[1]["operation"] == "append"
        assert s[2]["added_records"] == 1 and s[2]["total_records"] == 4
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_foreign_multipart_classic_checkpoint(spark):
    """ADVICE r5: a foreign-written MULTI-PART classic checkpoint
    (``N.checkpoint.<part>.<n>.parquet``) must be read from ALL its parts —
    resolving from a single part silently drops the other parts' adds.
    Built the way delta-spark splits a big checkpoint: write the engine's
    own classic checkpoint, re-slice its rows into 2 part files, delete the
    single file AND every commit below the checkpoint (log expiry), then
    prove the snapshot still holds every file-add."""
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        _fmt_commit,
    )

    root = os.path.join(tempfile.gettempdir(), f"mpck_{uuid.uuid4().hex[:8]}")
    try:
        base = spark.range(40).select(F.col("id").alias("k")).repartition(6)
        t = DeltaTable.create(spark, root, base)
        t.append(spark.range(40, 50).select(F.col("id").alias("k")).repartition(3))
        ck = t.latest_version()
        t._write_checkpoint(t._state(ck))
        single = os.path.join(t.log_dir, f"{ck:020d}.checkpoint.parquet")
        tbl = pq.read_table(single)
        assert tbl.num_rows >= 4  # adds span both slices below
        half = (tbl.num_rows + 1) // 2
        for i, part in enumerate((tbl.slice(0, half), tbl.slice(half)), 1):
            pq.write_table(
                part,
                os.path.join(
                    t.log_dir, f"{ck:020d}.checkpoint.{i:010d}.{2:010d}.parquet"
                ),
            )
        os.unlink(single)
        for v in range(ck):  # expire everything below the checkpoint
            p = os.path.join(t.log_dir, _fmt_commit(v))
            if os.path.exists(p):
                os.unlink(p)
        fresh = DeltaTable(spark, root)
        assert sorted(r.k for r in fresh.read().collect()) == list(range(50))
        # the protocol row lives in ONE part — protocol_at must scan all
        assert fresh.protocol()["minReaderVersion"] >= 1
        # time travel to the checkpoint version itself still resolves
        assert fresh.read(ck).count() == 50
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incomplete_multipart_checkpoint_is_skipped(spark):
    """Spec: a reader must only use COMPLETE checkpoints. With part 2-of-2
    missing, the resolver must ignore the part set and replay the JSON
    commits instead of returning a partial snapshot."""
    root = os.path.join(tempfile.gettempdir(), f"mpck_{uuid.uuid4().hex[:8]}")
    try:
        import pyarrow.parquet as pq

        t = DeltaTable.create(
            spark, root, spark.range(20).select(F.col("id").alias("k")).repartition(4)
        )
        t.append(spark.range(20, 30).select(F.col("id").alias("k")))
        ck = t.latest_version()
        t._write_checkpoint(t._state(ck))
        single = os.path.join(t.log_dir, f"{ck:020d}.checkpoint.parquet")
        tbl = pq.read_table(single)
        pq.write_table(
            tbl.slice(0, tbl.num_rows // 2),
            os.path.join(
                t.log_dir, f"{ck:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
            ),
        )
        os.unlink(single)  # only the INCOMPLETE part set remains at ck
        fresh = DeltaTable(spark, root)
        assert ck not in fresh._checkpoint_sets()
        assert sorted(r.k for r in fresh.read().collect()) == list(range(30))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_reads_foreign_inline_and_u_deletion_vectors(spark):
    """VERDICT r5 #2: both remaining DV storage flavors, hand-authored the
    way delta-spark encodes them (PROTOCOL.md Deletion Vector Descriptor):
    an INLINE descriptor (storageType "i" — pathOrInlineDv IS the Base85
    RFC-1924 encoding of the serialized RoaringBitmapArray, no offset) and
    a RELATIVE-path descriptor (storageType "u" — <prefix><20-char Base85
    UUID>, resolving to <root>/<prefix>/deletion_vector_<uuid>.bin). The
    reader must mask exactly each file's dead ordinals."""
    import base64
    import json
    import struct
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.roaring import (
        serialize_rba,
    )

    root = os.path.join(tempfile.gettempdir(), f"fdvui_{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(root, "_delta_log"))
    try:
        for part in ("a", "b"):
            pq.write_table(
                pa.table({"k": list(range(10)), "f": [part] * 10}),
                os.path.join(root, f"part-{part}.parquet"),
            )
        # file part-a: INLINE DV killing ordinals {1, 4}
        blob_a = serialize_rba([1, 4])
        inline = base64.b85encode(blob_a).decode("ascii")
        # file part-b: "u" DV killing ordinals {0, 9}; file under prefix "xy/"
        blob_b = serialize_rba([0, 9])
        dv_uuid = uuid.uuid4()
        os.makedirs(os.path.join(root, "xy"))
        with open(
            os.path.join(root, "xy", f"deletion_vector_{dv_uuid}.bin"), "wb"
        ) as f:
            f.write(b"\x01")
            f.write(struct.pack(">i", len(blob_b)))
            f.write(blob_b)
            f.write(struct.pack(">I", zlib.crc32(blob_b) & 0xFFFFFFFF))
        enc_uuid = base64.b85encode(dv_uuid.bytes).decode("ascii")
        schema_string = json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                    {"name": "f", "type": "string", "nullable": True, "metadata": {}},
                ],
            }
        )
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {
                "metaData": {
                    "id": "foreign-ui",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [],
                    "configuration": {},
                }
            },
            {
                "add": {
                    "path": "part-a.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "i",
                        "pathOrInlineDv": inline,
                        "sizeInBytes": len(blob_a),
                        "cardinality": 2,
                    },
                }
            },
            {
                "add": {
                    "path": "part-b.parquet",
                    "partitionValues": {},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                    "deletionVector": {
                        "storageType": "u",
                        "pathOrInlineDv": "xy/" + enc_uuid,
                        "offset": 1,
                        "sizeInBytes": len(blob_b),
                        "cardinality": 2,
                    },
                }
            },
        ]
        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
            _fmt_commit,
        )

        with open(os.path.join(root, "_delta_log", _fmt_commit(0)), "w") as f:
            for a in actions:
                f.write(json.dumps(a) + "\n")
        t = DeltaTable(spark, root)
        got = sorted((r.f, r.k) for r in t.read().collect())
        want = sorted(
            [("a", k) for k in range(10) if k not in (1, 4)]
            + [("b", k) for k in range(10) if k not in (0, 9)]
        )
        assert got == want
        # the lite SQL source must agree flavor-for-flavor
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
            DeltaLiteDataSource,
        )

        try:
            spark.dataSource.register(DeltaLiteDataSource)
        except Exception:
            pass
        lite = spark.read.format("delta_lite").load(root)
        assert sorted((r.f, r.k) for r in lite.collect()) == want
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _v3_dv_fixture(spark, root, dead_ordinals=(1, 3)):
    """Build a v2 table with the engine, then hand-author the v3 layer the
    way an Iceberg v3 writer would: a Puffin file holding a
    deletion-vector-v1 blob over one data file, a delete manifest whose
    entry carries (referenced_data_file, content_offset,
    content_size_in_bytes), a new snapshot, and a format-version-3 metadata
    JSON. Returns (table, victim file path, expected surviving keys)."""
    import copy
    import json
    import time as _time

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
        _MANIFEST_LIST_SCHEMA,
        _manifest_entry_schema,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.avro_ocf import (
        read_ocf,
        write_ocf,
    )
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.puffin import (
        DV_BLOB_TYPE,
        dv_blob_data,
        write_puffin,
    )

    t = IcebergTable.create(
        spark, root,
        spark.createDataFrame([(i, i * 10) for i in range(6)], "k long, v long").coalesce(1),
    )
    t.append(
        spark.createDataFrame([(10, 100), (11, 110)], "k long, v long").coalesce(1)
    )
    # victim: the 6-row create file; its on-disk row order IS parquet order
    import pyarrow.parquet as pq

    entries, _ = t.files()
    victim = next(
        e["file_path"] for e in entries if e["record_count"] == 6
    ).replace("file:", "")
    ordered = pq.read_table(victim).column("k").to_pylist()
    dead_keys = {ordered[i] for i in dead_ordinals}
    # 1. the Puffin file with one DV blob
    md = t.metadata()
    sid = t._new_snapshot_id()
    seq = md["last-sequence-number"] + 1
    puffin_path = os.path.join(t.data_dir, f"dv-{uuid.uuid4().hex}.puffin")
    blob = dv_blob_data(sorted(dead_ordinals))
    (bmeta,) = write_puffin(
        puffin_path,
        [{
            "type": DV_BLOB_TYPE,
            "data": blob,
            "snapshot-id": sid,
            "sequence-number": seq,
            "properties": {
                "referenced-data-file": victim,
                "cardinality": str(len(dead_ordinals)),
            },
        }],
    )
    # 2. delete manifest with the v3 DV fields (spec ids 143-145)
    entry_schema = _manifest_entry_schema([])
    df_fields = entry_schema["fields"][-1]["type"]["fields"]
    df_fields.extend(
        [
            {"name": "referenced_data_file", "type": ["null", "string"],
             "default": None, "field-id": 143},
            {"name": "content_offset", "type": ["null", "long"],
             "default": None, "field-id": 144},
            {"name": "content_size_in_bytes", "type": ["null", "long"],
             "default": None, "field-id": 145},
        ]
    )
    man_path = os.path.join(t.meta_dir, f"m-{uuid.uuid4().hex}.avro")
    write_ocf(
        man_path, entry_schema,
        [{
            "status": 1, "snapshot_id": sid, "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 1,
                "file_path": puffin_path,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": len(dead_ordinals),
                "file_size_in_bytes": os.path.getsize(puffin_path),
                "lower_bounds": None, "upper_bounds": None,
                "equality_ids": None,
                "referenced_data_file": victim,
                "content_offset": bmeta["offset"],
                "content_size_in_bytes": bmeta["length"],
            },
        }],
        codec="deflate",
        metadata={"format-version": "3", "content": "deletes",
                  "partition-spec-id": "0"},
    )
    # 3. new manifest list = prior rows + the DV manifest row
    cur = t._resolve_snapshot(None, None)
    _, prior = read_ocf(cur["manifest-list"].replace("file:", ""))
    mrow = {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": sid,
        "added_files_count": 1, "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": len(dead_ordinals),
        "existing_rows_count": 0, "deleted_rows_count": 0,
        "partitions": None,
    }
    list_path = os.path.join(t.meta_dir, f"snap-{sid}-1-{uuid.uuid4().hex}.avro")
    write_ocf(list_path, _MANIFEST_LIST_SCHEMA, prior + [mrow],
              codec="deflate", metadata={"format-version": "3"})
    # 4. v3 metadata JSON
    md3 = copy.deepcopy(md)
    md3["format-version"] = 3
    md3["last-sequence-number"] = seq
    md3["snapshots"].append(
        {
            "snapshot-id": sid,
            "parent-snapshot-id": md["current-snapshot-id"],
            "sequence-number": seq,
            "timestamp-ms": int(_time.time() * 1000),
            "manifest-list": list_path,
            "summary": {"operation": "delete"},
            "schema-id": md["current-schema-id"],
        }
    )
    md3["current-snapshot-id"] = sid
    nv = t._metadata_versions()[-1] + 1
    with open(os.path.join(t.meta_dir, f"v{nv}.metadata.json"), "w") as f:
        json.dump(md3, f)
    survivors = {0, 1, 2, 3, 4, 5, 10, 11} - dead_keys
    return IcebergTable(spark, root), victim, survivors


def test_iceberg_v3_puffin_deletion_vector_reads(spark):
    """VERDICT r5 #3: a hand-authored Iceberg v3 table whose deletes live
    as a deletion-vector-v1 blob in a Puffin file must read with exactly
    the referenced file's dead ordinals masked — the same Roaring algebra
    as Delta's DVs (the blob's D1D33964 magic IS Delta's RBA magic,
    little-endian), decoded through plans/puffin.py."""
    root = os.path.join(tempfile.gettempdir(), f"icev3_{uuid.uuid4().hex[:8]}")
    try:
        t, victim, survivors = _v3_dv_fixture(spark, root)
        assert t.metadata()["format-version"] == 3
        got = {r.k for r in t.read().collect()}
        assert got == survivors
        # time travel below the DV snapshot still sees all rows
        assert {r.k for r in t.read(index=1).collect()} == {0, 1, 2, 3, 4, 5, 10, 11}
        # the delete entry surfaces the v3 fields
        dv = [d for d in t.delete_entries()
              if (d["data_file"].get("file_format") or "").upper() == "PUFFIN"]
        assert len(dv) == 1
        assert dv[0]["data_file"]["referenced_data_file"] == victim
        # the pluggable iceberg_lite source decodes the SAME Puffin DV
        # executor-side and agrees with the native reader
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
            IcebergLiteDataSource,
        )

        try:
            spark.dataSource.register(IcebergLiteDataSource)
        except Exception:
            pass
        lite = spark.read.format("iceberg_lite").load(root)
        assert {r.k for r in lite.collect()} == survivors
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_iceberg_v3_refusals_are_loud(spark):
    """format-version guard: unknown versions, defaults on pre-v3 tables,
    and nested-type defaults must raise a clear NotImplementedError, never
    mis-read. (v3 row lineage and SCALAR column defaults are IMPLEMENTED —
    not refused.)"""
    import json

    import pytest as _pytest

    for mutate, match in (
        (lambda md: md.update({"format-version": 4}), "format-version 4"),
        (
            # defaults are a v3 feature: a v2 table carrying one is corrupt
            lambda md: md["schemas"][0]["fields"][0].update(
                {"initial-default": 7}
            ),
            "format-version 3",
        ),
        (
            lambda md: (
                md.update({"format-version": 3}),
                md["schemas"][0]["fields"][0].update(
                    {"initial-default": [1, 2]}
                ),
            ),
            "nested-type",
        ),
    ):
        root = os.path.join(tempfile.gettempdir(), f"icev3r_{uuid.uuid4().hex[:8]}")
        try:
            t = IcebergTable.create(
                spark, root, spark.createDataFrame([(1, 2)], "k long, v long")
            )
            md = t.metadata()
            mutate(md)
            vs = t._metadata_versions()
            with open(os.path.join(t.meta_dir, f"v{vs[-1] + 1}.metadata.json"), "w") as f:
                json.dump(md, f)
            with _pytest.raises(NotImplementedError, match=match):
                IcebergTable(spark, root).read().collect()
        finally:
            shutil.rmtree(root, ignore_errors=True)


def test_iceberg_v3_column_defaults_read_write_and_lite(spark):
    """r7 (VERDICT #3 — was a refusal): Iceberg v3 COLUMN DEFAULT VALUES
    (spec §Default values). initial-default fills the column for rows
    written BEFORE the add (per-file write schema recovered by sequence
    number, so parquet null-fill never masquerades as a default);
    write-default fills columns a writer omits; explicit values always
    win; typed defaults (long, date) round-trip; the pluggable
    iceberg_lite source fills the SAME defaults executor-side (Arrow
    batches, not Spark Columns)."""
    import datetime
    import json

    root = os.path.join(tempfile.gettempdir(), f"icedf_{uuid.uuid4().hex[:8]}")
    try:
        t = IcebergTable.create(
            spark, root,
            spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1),
        )
        assert t.metadata()["format-version"] == 2
        # adding a defaulted column upgrades to v3 (defaults are v3-only)
        t.add_column("flag", "string", default="N", write_default="W")
        t.add_column("score", "long", default=7)
        t.add_column("asof", "date", default="2024-03-01")
        t = IcebergTable(spark, root)
        assert t.metadata()["format-version"] == 3
        d0 = datetime.date(2024, 3, 1)
        # pre-add rows: initial-default everywhere
        got = {r.k: (r.flag, r.score, r.asof) for r in t.read().collect()}
        assert got == {1: ("N", 7, d0), 2: ("N", 7, d0)}
        # writer omits all three -> write-default ("W" for flag: distinct
        # from its initial-default; score/asof default to initial)
        t.append(spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1))
        # writer provides values -> kept verbatim (including null-able k=4
        # explicit flag)
        t.append(
            spark.createDataFrame(
                [(4, "d", "Y", 9, datetime.date(2025, 1, 2))],
                "k long, v string, flag string, score long, asof date",
            ).coalesce(1)
        )
        t = IcebergTable(spark, root)
        got = {r.k: (r.flag, r.score, r.asof) for r in t.read().collect()}
        assert got == {
            1: ("N", 7, d0),
            2: ("N", 7, d0),
            3: ("W", 7, d0),
            4: ("Y", 9, datetime.date(2025, 1, 2)),
        }
        # time travel below the add reads the old schema
        first = sorted(t.snapshots(), key=lambda s: s["sequence-number"])[0]
        assert t.read(snapshot_id=first["snapshot-id"]).columns == ["k", "v"]
        # iceberg_lite agrees (executor-side Arrow default fill)
        from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
            IcebergLiteDataSource,
        )

        try:
            spark.dataSource.register(IcebergLiteDataSource)
        except Exception:
            pass
        lite = spark.read.format("iceberg_lite").load(root)
        lgot = {r.k: (r.flag, r.score, r.asof) for r in lite.collect()}
        assert lgot == got
        # foreign-writer fixture: hand-edit the metadata JSON the way an
        # external v3 engine would publish it (fresh schema entry whose new
        # field carries initial-default; current-schema-id bumped) — the
        # reader must fill the default with NO engine-written breadcrumbs
        md = t.metadata()
        cur = next(
            s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
        )
        nid = md["last-column-id"] + 1
        md["schemas"].append(
            {
                "type": "struct",
                "schema-id": max(s["schema-id"] for s in md["schemas"]) + 1,
                "fields": list(cur["fields"])
                + [
                    {
                        "id": nid,
                        "name": "region",
                        "required": False,
                        "type": "string",
                        "initial-default": "EMEA",
                        "write-default": "EMEA",
                    }
                ],
            }
        )
        md["current-schema-id"] = md["schemas"][-1]["schema-id"]
        md["last-column-id"] = nid
        vs = t._metadata_versions()
        with open(os.path.join(t.meta_dir, f"v{vs[-1] + 1}.metadata.json"), "w") as f:
            json.dump(md, f)
        t2 = IcebergTable(spark, root)
        assert {r.region for r in t2.read().collect()} == {"EMEA"}
        lite2 = spark.read.format("iceberg_lite").load(root)
        assert {r.region for r in lite2.collect()} == {"EMEA"}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_iceberg_v3_equality_deletes_remain_valid(spark):
    """r7 (VERDICT #4 — spec drift check): the published v3 spec bans
    POSITION delete files (deletion vectors replace them; position_delete
    refuses on v3) but EQUALITY delete files remain valid in v3 — the
    streaming/CDC write shape. Pin that on a v3 table equality deletes
    still commit and compose with deletion vectors in BOTH orders, each
    mechanism masking independently."""
    root = os.path.join(tempfile.gettempdir(), f"icev3eq_{uuid.uuid4().hex[:8]}")
    try:
        t = IcebergTable.create(
            spark, root,
            spark.createDataFrame([(i, i % 3) for i in range(12)], "k long, tag long").coalesce(1),
        )
        # DV first: upgrades to v3 (kills k in {0,4,8} via tag pattern)
        t.delete_vectors_v3("k % 4 = 0")
        t = IcebergTable(spark, root)
        assert t.metadata()["format-version"] == 3
        # position-delete FILES refuse on v3 (DVs replace them)
        with pytest.raises(NotImplementedError, match="position-delete"):
            t.position_delete("k = 1")
        # equality delete on the v3 table: still legal, masks k in {1, 5}
        t.equality_delete(spark.createDataFrame([(1,), (5,)], "k long"))
        t = IcebergTable(spark, root)
        assert {r.k for r in t.read().collect()} == {2, 3, 6, 7, 9, 10, 11}
        # another DV AFTER the eq delete: composes (kills k=6)
        t.delete_vectors_v3("k = 6")
        t = IcebergTable(spark, root)
        assert {r.k for r in t.read().collect()} == {2, 3, 7, 9, 10, 11}
        # eq deletes only apply to STRICTLY OLDER data files: a re-append
        # of k=1 after the delete survives
        t.append(spark.createDataFrame([(1, 99)], "k long, tag long"))
        t = IcebergTable(spark, root)
        assert {(r.k, r.tag) for r in t.read().collect()} == {
            (1, 99), (2, 2), (3, 0), (7, 1), (9, 0), (10, 1), (11, 2),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_reverse_uniform_iceberg_to_delta(spark):
    """r7 REVERSE UniForm: a Delta log generated over an Iceberg table's
    files must agree with the native Iceberg reader at EVERY snapshot,
    share every data file (zero copy), translate Puffin DVs by POINTING
    INTO the Puffin file (no bitmap re-encode), and refuse the
    untranslatable delete flavors loudly."""
    root = os.path.join(tempfile.gettempdir(), f"ic2dl_{uuid.uuid4().hex[:8]}")
    try:
        t = IcebergTable.create(
            spark, root,
            spark.createDataFrame(
                [(i, f"t{i % 3}") for i in range(12)], "k long, tag string"
            ).coalesce(1),
        )
        t.append(spark.createDataFrame([(100, "x"), (101, "y")], "k long, tag string").coalesce(1))
        t.delete_vectors_v3("k % 5 = 1")
        t = IcebergTable(spark, root)
        from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import (
            iceberg_to_delta_uniform,
        )

        dl = iceberg_to_delta_uniform(t)
        # every snapshot == every delta version
        for i, v in enumerate(dl.versions()):
            assert _rows(dl.read(v)) == _rows(t.read(index=i)), f"v{v} diverges"
        # zero copy: identical file sets
        dpaths = {os.path.realpath(dl._abs_path(a["path"])) for a in dl.files()}
        ipaths = {os.path.realpath(e["file_path"]) for e in t.files()[0]}
        assert dpaths == ipaths
        # the Delta DV descriptor points INTO the Puffin file
        dv_adds = [a for a in dl.files() if a.get("deletionVector")]
        assert dv_adds and all(
            a["deletionVector"]["pathOrInlineDv"].endswith(".puffin")
            or "/puffin" in a["deletionVector"]["pathOrInlineDv"]
            or a["deletionVector"]["storageType"] == "p"
            for a in dv_adds
        )
        # double-conversion guard + refusals
        with pytest.raises(FileExistsError):
            iceberg_to_delta_uniform(t)
        r2 = root + "_eq"
        t2 = IcebergTable.create(
            spark, r2, spark.createDataFrame([(1, "a")], "k long, tag string")
        )
        t2.equality_delete(spark.createDataFrame([(1,)], "k long"))
        with pytest.raises(NotImplementedError, match="equality"):
            iceberg_to_delta_uniform(IcebergTable(spark, r2), r2 + "_d")
        shutil.rmtree(r2, ignore_errors=True)
        r3 = root + "_pos"
        t3 = IcebergTable.create(
            spark, r3, spark.createDataFrame([(1, "a"), (2, "b")], "k long, tag string")
        )
        t3.position_delete("k = 1")
        with pytest.raises(NotImplementedError, match="position-delete"):
            iceberg_to_delta_uniform(IcebergTable(spark, r3), r3 + "_d")
        shutil.rmtree(r3, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_d", ignore_errors=True)
