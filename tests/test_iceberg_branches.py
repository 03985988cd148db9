"""Iceberg branch writes + write-audit-publish (plans/iceberg.py — spec
§Snapshot References): append(branch=) stages without moving the table
head, fast_forward publishes with an ancestry check, tags refuse writes,
and row lineage survives the publish."""

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.iceberg import IcebergTable


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"icebr_test_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )


def test_branch_append_does_not_move_head(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 10))
    head = t.current_snapshot_id()
    res = t.append(_df(spark, 10, 15), branch="audit")
    assert t.current_snapshot_id() == head
    assert t.read().count() == 10
    assert t.read(ref="audit").count() == 15
    # the ref was created as a branch and points at the new snapshot
    refs = t.metadata()["refs"]
    assert refs["audit"] == {"snapshot-id": res["snapshot_id"], "type": "branch"}
    # the branch snapshot's parent is the head it was staged from
    snap = next(
        s for s in t.snapshots() if s["snapshot-id"] == res["snapshot_id"]
    )
    assert snap["parent-snapshot-id"] == head


def test_branch_appends_chain(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    r1 = t.append(_df(spark, 5, 8), branch="audit")
    r2 = t.append(_df(spark, 8, 12), branch="audit")
    snap2 = next(s for s in t.snapshots() if s["snapshot-id"] == r2["snapshot_id"])
    assert snap2["parent-snapshot-id"] == r1["snapshot_id"]
    assert t.read(ref="audit").count() == 12
    assert t.read().count() == 5


def test_fast_forward_publishes_and_counts_commits(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    t.append(_df(spark, 5, 8), branch="audit")
    t.append(_df(spark, 8, 12), branch="audit")
    pub = t.fast_forward("audit")
    assert pub["commits_published"] == 2
    assert t.read().count() == 12
    # idempotent: already at head
    assert t.fast_forward("audit")["commits_published"] == 0


def test_fast_forward_refuses_divergence(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    t.append(_df(spark, 5, 8), branch="audit")
    t.append(_df(spark, 100, 103))  # head moves → branch no longer ahead
    with pytest.raises(ValueError, match="not a fast-forward"):
        t.fast_forward("audit")
    # the staged branch is still readable for manual reconciliation
    assert t.read(ref="audit").count() == 8


def test_tag_refuses_write_and_publish(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    t.set_ref("v1", kind="tag")
    with pytest.raises(ValueError, match="tag"):
        t.append(_df(spark, 5, 8), branch="v1")
    with pytest.raises(ValueError, match="tag"):
        t.fast_forward("v1")


def test_fast_forward_unknown_ref(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    with pytest.raises(ValueError, match="no ref"):
        t.fast_forward("nope")


def test_branch_append_with_evolution_refused(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    with pytest.raises(ValueError, match="evolution"):
        t.append(
            _df(spark, 5, 8).withColumn("extra", F.lit(1)),
            allow_evolution=True,
            branch="audit",
        )


def test_expire_retains_branch_snapshots(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    t.append(_df(spark, 5, 8), branch="audit")
    t.append(_df(spark, 100, 103))
    t.append(_df(spark, 103, 106))
    t.expire_snapshots(retain_last=1)
    # the branch head is pinned by its ref and still readable
    assert t.read(ref="audit").count() == 8


def test_refs_metadata_table_and_lite_view(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 5))
    t.set_ref("v1", kind="tag")
    t.append(_df(spark, 5, 8), branch="audit")
    rows = sorted(tuple(r) for r in t.refs_df().collect())
    # audit pins seq 2 (the staged append — NOT current until published),
    # v1 pins seq 1 (the create snapshot, which is still the table head)
    assert rows == [("audit", "branch", 2, 0), ("v1", "tag", 1, 1)]
    t.fast_forward("audit")
    rows = {r["ref_name"]: r["is_current"] for r in t.refs_df().collect()}
    assert rows == {"audit": 1, "v1": 0}
    # same rows from plain SQL via the lite source's refs view
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        IcebergLiteDataSource,
    )

    spark.dataSource.register(IcebergLiteDataSource)
    lite = (
        spark.read.format("iceberg_lite").option("table", "refs").load(root)
    )
    assert sorted(tuple(r) for r in lite.collect()) == sorted(
        tuple(r) for r in t.refs_df().collect()
    )


def test_row_lineage_survives_publish(spark, root):
    t = IcebergTable.create(spark, root, _df(spark, 0, 6))
    t.enable_row_lineage()
    t.append(_df(spark, 6, 10), branch="audit")
    t.fast_forward("audit")
    lin = t.row_lineage_df()
    rows = lin.select("_row_id").collect()
    ids = sorted(r[0] for r in rows)
    assert len(ids) == 10 and len(set(ids)) == 10
