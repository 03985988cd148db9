"""Queryable metadata tables (plans/metatables.py + the *_df methods):
DESCRIBE HISTORY / snapshots / files surfaces on Delta and Iceberg,
cross-checked against the read path they describe."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import DeltaTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"meta_test_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, n=12):
    return spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(n)], "k long, part string, v long"
    )


def test_delta_history_df_tracks_operations_and_deltas(spark, root):
    t = DeltaTable.create(spark, root, _df(spark).repartition(3, "k"))
    t.append(_df(spark).where("k >= 6"))
    t.delete_vectors("k = 1")
    h = {r["version"]: r for r in t.history_df().collect()}
    assert h[0]["operation"].startswith("CREATE")
    assert h[0]["num_added_rows"] == 12 and h[0]["num_removed_files"] == 0
    assert h[1]["operation"] == "WRITE" and h[1]["num_added_rows"] == 6
    # the DV commit removes and re-adds the same file (physical rows again)
    assert h[2]["operation"] == "DELETE"
    assert h[2]["num_added_files"] == h[2]["num_removed_files"] == 1
    assert set(t.history_df().columns) == {
        "version", "operation", "num_added_files", "num_removed_files",
        "num_added_rows",
    }


def test_delta_files_df_matches_snapshot_and_dv_cardinality(spark, root):
    t = DeltaTable.create(
        spark, root, _df(spark).coalesce(1), partition_by=["part"]
    )
    t.delete_vectors("k % 4 = 0")  # kills 0,4,8 → one per partition
    f = t.files_df()
    rows = f.collect()
    assert len(rows) == len(t.files())
    # physical rows minus DV'd ordinals == logical count
    physical = sum(r["num_records"] for r in rows)
    dv = sum(r["dv_cardinality"] for r in rows)
    assert physical - dv == t.read().count() == 9
    parts = {r["partition_values"]["part"] for r in rows}
    assert parts == {"p0", "p1", "p2"}
    # the metadata frame composes like any DataFrame
    agg = (
        f.groupBy(F.element_at("partition_values", "part").alias("part"))
        .agg(F.sum("num_records").alias("rows"))
        .collect()
    )
    assert {r["part"]: r["rows"] for r in agg} == {"p0": 4, "p1": 4, "p2": 4}


def test_iceberg_snapshots_df_summary_metrics(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark).coalesce(1), partition_by=["part"]
    )
    t.append(_df(spark, 6).coalesce(1))
    t.overwrite(_df(spark).where("part <> 'p0'").coalesce(1))
    s = {r["sequence_number"]: r for r in t.snapshots_df().collect()}
    assert [s[i]["operation"] for i in (1, 2, 3)] == [
        "append", "append", "overwrite",
    ]
    assert s[1]["added_records"] == 12 and s[1]["total_records"] == 12
    assert s[2]["added_records"] == 6 and s[2]["total_records"] == 18
    # overwrite: total-delta identity reports what dropped out
    assert s[3]["total_records"] == 8
    assert s[3]["deleted_records"] == 18 + s[3]["added_records"] - 8
    assert s[3]["deleted_data_files"] > 0
    # totals agree with the read path at each snapshot
    for i in (1, 2, 3):
        assert t.read(index=i - 1).count() == s[i]["total_records"]


def test_iceberg_files_df_partition_values_and_counts(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark).coalesce(1), partition_by=["part"]
    )
    f = t.files_df().collect()
    assert sum(r["record_count"] for r in f) == 12
    assert {r["partition_values"]["part"] for r in f} == {"p0", "p1", "p2"}
    assert all(r["file_size_in_bytes"] > 0 for r in f)
    assert all(not os.path.isabs(r["path"]) for r in f)


def test_metatables_queries_are_sf_independent(spark):
    """The gate queries build from nation×region only, so the result is
    byte-identical across scale factors — the property that lets a static
    oracle path serve every sf the gate runs at."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans import metatables

    def rows(q, sf):
        return sorted(tuple(r) for r in q(spark, sf).collect())

    for q in (
        metatables.q160_delta_describe_history,
        metatables.q161_iceberg_snapshots_table,
    ):
        a = rows(q, "/root/testdata/sf0.001")
        metatables._BUILT.clear()  # force rebuild at the other sf
        b = rows(q, "/root/testdata/sf0.01")
        assert a == b, q.__name__


def test_delta_detail_df_one_row_summary(spark, root):
    t = DeltaTable.create(
        spark, root, _df(spark).coalesce(1), partition_by=["part"]
    )
    t.delete_vectors("k = 0")  # triggers the table-features upgrade
    d = t.detail_df().collect()[0]
    assert d["format"] == "delta" and d["location"] == root
    assert d["num_files"] == len(t.files())
    assert d["size_in_bytes"] == sum(a["size"] for a in t.files())
    assert d["partition_columns"] == ["part"]
    assert d["version"] == t.latest_version()
    assert d["min_reader_version"] == 3 and d["min_writer_version"] == 7
    assert "deletionVectors" in d["reader_features"]


def test_iceberg_manifests_df_matches_planner_counts(spark, root):
    t = IcebergTable.create(
        spark, root, _df(spark).coalesce(1), partition_by=["part"]
    )
    t.append(_df(spark, 6).coalesce(1))
    t.position_delete(F.col("k") < 2)
    m = t.manifests_df().collect()
    # two data manifests + one deletes manifest
    assert sum(1 for r in m if r["content"] == 0) == 2
    assert sum(1 for r in m if r["content"] == 1) == 1
    assert sum(r["added_rows_count"] for r in m if r["content"] == 0) == 18
    assert all(r["length"] > 0 and not os.path.isabs(r["path"]) for r in m)
    # sequence numbers align with the snapshots table
    seqs = {r["sequence_number"] for r in m}
    assert seqs <= {r["sequence_number"] for r in t.snapshots_df().collect()}


def test_iceberg_parent_snapshot_ancestry(spark, root):
    """parent-snapshot-id (spec field, written since r5) forms the
    ancestry chain: each snapshot's parent is the previous current, the
    first is NULL — the input to history/is_current_ancestor queries."""
    t = IcebergTable.create(spark, root, _df(spark).coalesce(1))
    t.append(_df(spark, 4).coalesce(1))
    t.overwrite(_df(spark, 2).coalesce(1))
    s = sorted(t.snapshots_df().collect(), key=lambda r: r["sequence_number"])
    assert s[0]["parent_snapshot_id"] is None
    assert s[1]["parent_snapshot_id"] == s[0]["snapshot_id"]
    assert s[2]["parent_snapshot_id"] == s[1]["snapshot_id"]


def test_iceberg_history_df_rollback_divergence(spark, root):
    """history_df: after a rollback and a new commit on top of the older
    snapshot, the abandoned snapshot shows is_current_ancestor=false while
    the rolled-to snapshot and the new tip show true — divergent history
    surfaces exactly as Iceberg's history table does."""
    t = IcebergTable.create(spark, root, _df(spark).coalesce(1))
    t.append(_df(spark, 3).coalesce(1))       # snapshot B (will be abandoned)
    s = sorted(t.snapshots_df().collect(), key=lambda r: r["sequence_number"])
    a_id, b_id = s[0]["snapshot_id"], s[1]["snapshot_id"]
    t.rollback(snapshot_id=a_id)
    t.append(_df(spark, 2).coalesce(1))       # snapshot C, parent = A
    h = {r["snapshot_id"]: r for r in t.history_df().collect()}
    assert h[a_id]["is_current_ancestor"] is True
    assert h[b_id]["is_current_ancestor"] is False
    c = next(r for r in h.values() if r["parent_id"] == a_id and r["snapshot_id"] != b_id)
    assert c["is_current_ancestor"] is True
    assert h[a_id]["parent_id"] is None


def test_iceberg_lite_files_metadata_view(spark, root):
    """iceberg_lite option(table, files): the files metadata table through
    spark.sql, agreeing with the Python API row for row."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    t = IcebergTable.create(
        spark, root, _df(spark).coalesce(1), partition_by=["part"]
    )
    spark.dataSource.register(IcebergLiteDataSource)
    via_sql = (
        spark.read.format("iceberg_lite").option("table", "files").load(root)
    )
    via_sql.createOrReplaceTempView("ice_files")
    got = {
        r["part"]: r["rows"]
        for r in spark.sql(
            "SELECT partition_values['part'] AS part, sum(record_count) AS rows "
            "FROM ice_files GROUP BY 1"
        ).collect()
    }
    assert got == {"p0": 4, "p1": 4, "p2": 4}
    api = sorted(tuple(r) for r in t.files_df().collect())
    sql_rows = sorted(tuple(r) for r in via_sql.collect())
    assert api == sql_rows


def test_concurrent_gate_runs_do_not_race_on_scratch_root():
    """VERDICT r5 #2: two engine PROCESSES running the metadata-table gate
    concurrently used to race on a shared /tmp scratch root
    (rmtree-vs-read). The root is now PID-suffixed (and the oracle SQL is
    rendered from the same constant at import), so both must pass."""
    import subprocess
    import sys

    cmd = [
        sys.executable,
        "scripts/check_oracle.py",
        "/root/testdata/sf0.001",
        "q160",
    ]
    env = dict(os.environ, VANILLA="1", SPARK_GRAFT_CPUS="4")
    procs = [
        subprocess.Popen(
            cmd, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), env=env,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=420)[0] for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-2000:]
        assert "PASS  q160" in out, out[-2000:]


def test_scratch_root_is_process_scoped():
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans import metatables

    assert str(os.getpid()) in metatables.ROOT
    # every oracle path a metadata query registers points inside THIS
    # process's root
    from __spark_entry__ import oracle_sql

    for name in ("q160_delta_describe_history", "q161_iceberg_snapshots_table",
                 "q163_delta_files_table"):
        assert metatables.ROOT in oracle_sql()[name]
