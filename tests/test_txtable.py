"""TxTable: atomic commit log, snapshot isolation, time travel, CoW merge
with file pruning, and optimistic concurrency."""

import json
import os

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.merge import merge_upsert_partitioned
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.txtable import TxTable
from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load


def _nation_table(spark, sf_dir, tmp_path, name="t"):
    nation = load(spark, sf_dir, "nation").repartitionByRange(4, "n_nationkey")
    return TxTable.create(spark, str(tmp_path / name), nation, key="n_nationkey")


def test_create_and_read(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    assert t.latest_version() == 0
    assert t.read().count() == 25
    # manifest carries per-file key stats for data skipping
    files = t._files(0)
    assert len(files) >= 2
    assert all(fe["min_key"] is not None for fe in files)


def test_merge_updates_inserts_carries_files(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    updates = spark.createDataFrame(
        [(0, "RENAMED", 9), (999, "NEWLAND", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    stats = t.merge(updates)
    assert stats["updated"] == 1 and stats["inserted"] == 1
    # key range [0, 999] spans all 4 range-partitioned files → no pruning
    # here; the pruning case is tested below with a narrow batch
    after = {r["n_nationkey"]: r["n_name"] for r in t.read().collect()}
    assert len(after) == 26 and after[0] == "RENAMED" and after[999] == "NEWLAND"


def test_merge_prunes_untouched_files(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    n_files = len(t._files(0))
    narrow = spark.createDataFrame(
        [(1, "X", 1), (2, "Y", 1)], "n_nationkey int, n_name string, n_regionkey int"
    )
    stats = t.merge(narrow)
    assert stats["files_rewritten"] < n_files, "narrow batch must not rewrite all files"
    assert stats["files_carried"] >= 1
    assert t.read().count() == 25  # both keys existed → pure update


def test_time_travel_snapshots_are_immutable(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(999, "NEWLAND", 1)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    assert t.read(0).count() == 25  # pre-merge snapshot unchanged
    assert t.read(1).count() == 26
    assert [h["op"] for h in t.history()] == ["create", "merge"]


def test_append_carries_prior_files(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    before = {fe["path"] for fe in t._files(0)}
    t.append(
        spark.createDataFrame(
            [(500, "APPENDED", 0)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    assert before <= {fe["path"] for fe in t._files(1)}
    assert t.read().count() == 26


def test_concurrent_commit_loses_atomically(spark, sf_dir, tmp_path):
    """Simulate a racing writer by pre-creating the next version's manifest;
    the second committer must fail (and merge() retries onto v2)."""
    t = _nation_table(spark, sf_dir, tmp_path)
    race = os.path.join(t.log_dir, "00000001.json")
    with open(race, "w") as f:
        json.dump({"version": 1, "op": "race", "key": "n_nationkey",
                   "files": t._files(0)}, f)
    stats = t.merge(
        spark.createDataFrame(
            [(3, "Z", 1)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    assert stats["updated"] == 1
    assert t.latest_version() == 2  # landed after the racer, not over it


def test_crashed_writer_files_invisible(spark, sf_dir, tmp_path):
    """Orphan data files (written, never committed) must not appear in
    reads — manifest-only resolution."""
    t = _nation_table(spark, sf_dir, tmp_path)
    orphan = spark.createDataFrame(
        [(777, "ORPHAN", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    # write data files directly, then "crash" before commit
    t._write_files(orphan)
    assert t.read().count() == 25
    assert 777 not in {r["n_nationkey"] for r in t.read().collect()}


def test_compact_bin_packs_small_files(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(999, "NEWLAND", 1)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    before = len(t._files(t.latest_version()))
    stats = t.compact(target_files=1)
    assert stats["files_compacted"] == before
    assert stats["files_after"] == 1
    assert t.read().count() == 26  # content preserved
    assert t.read(1).count() == 26  # pre-compaction snapshot still readable
    assert [h["op"] for h in t.history()][-1] == "compact"


def test_delete_prunes_and_removes_rows(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    n_files = len(t._files(0))
    stats = t.delete("n_nationkey <= 2")
    assert stats["deleted"] == 3
    assert stats["files_rewritten"] == 1  # keys 0-2 live in one range file
    assert stats["files_carried"] == n_files - 1
    assert t.read().count() == 22
    assert t.read(0).count() == 25  # snapshot untouched
    remaining = {r["n_nationkey"] for r in t.read().collect()}
    assert remaining.isdisjoint({0, 1, 2})


def test_changes_emits_only_logical_changes(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(0, "RENAMED", 9), (999, "NEWLAND", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
    )
    feed = {(r["change_type"], r["n_nationkey"]) for r in t.changes(0, 1).collect()}
    # rewritten-but-identical rows must NOT surface in the feed
    assert feed == {
        ("update_preimage", 0),
        ("update_postimage", 0),
        ("insert", 999),
    }


def test_changes_after_delete_reports_deletes(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    t.delete("n_nationkey = 24")
    feed = [(r["change_type"], r["n_nationkey"]) for r in t.changes(0, 1).collect()]
    assert feed == [("delete", 24)]


def test_txn_merge_is_idempotent(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    u = spark.createDataFrame(
        [(999, "NEWLAND", 1)], "n_nationkey int, n_name string, n_regionkey int"
    )
    first = t.merge(u, txn="stream-a/0")
    replay = t.merge(u, txn="stream-a/0")  # crash-replay of the same batch
    assert "skipped_duplicate_txn" not in first
    assert replay.get("skipped_duplicate_txn") is True
    assert t.read().count() == 26  # applied exactly once
    assert t.latest_version() == 1


def test_stream_upsert_exactly_once(spark, sf_dir, tmp_path):
    """Drain a stream into the table twice with the same checkpoint: the
    second drain has nothing new and replays nothing — counts stable."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.txtable import stream_upsert

    t = _nation_table(spark, sf_dir, tmp_path)
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(999, "NEWLAND", 1), (0, "RENAMED", 9)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch0"))
    stream = (
        spark.readStream.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    ckpt = str(tmp_path / "ckpt")
    stream_upsert(t, stream, "nation-feed", ckpt)
    assert t.read().count() == 26
    v_after_first = t.latest_version()

    # same checkpoint, no new files → no new commits, no duplicates
    stream_upsert(t, stream, "nation-feed", ckpt)
    assert t.read().count() == 26
    after = {r["n_nationkey"]: r["n_name"] for r in t.read().collect()}
    assert after[0] == "RENAMED" and after[999] == "NEWLAND"
    assert t.latest_version() == v_after_first


def test_vacuum_removes_only_expired_and_orphan_files(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(999, "NEWLAND", 1)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    t.compact(target_files=1)  # v2; v0 files now referenced only by v0/v1
    # plus an orphan from a "crashed" writer
    t._write_files(
        spark.createDataFrame(
            [(777, "ORPHAN", 0)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    stats = t.vacuum(keep_versions=1)
    assert stats["files_removed"] >= 2  # old snapshot files + the orphan
    assert stats["versions_retained"] == [2]
    assert t.read().count() == 26  # retained snapshot fully readable
    with pytest.raises(FileNotFoundError):
        t._manifest(0)  # expired version gone (bounded time travel)


def test_merge_model_based_random_batches(spark, sf_dir, tmp_path):
    """Model-based check: a random sequence of merge batches must leave the
    table equal to a plain dict replay (last write per key wins within and
    across batches). Catches pruning bugs that curated batches miss —
    batches are drawn adversarially around file-range boundaries."""
    import random

    rng = random.Random(20260813)
    t = _nation_table(spark, sf_dir, tmp_path)
    model = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in t.read().collect()
    }
    for step in range(4):
        keys = rng.sample(range(-5, 40), rng.randint(1, 6))
        batch = [(k, f"V{step}_{k}", rng.randint(0, 4)) for k in keys]
        for k, name, reg in batch:
            model[k] = (name, reg)
        t.merge(
            spark.createDataFrame(
                batch, "n_nationkey int, n_name string, n_regionkey int"
            )
        )
    got = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"])
        for r in t.read().collect()
    }
    assert got == model
    # every intermediate snapshot is still consistent (monotone row counts)
    counts = [t.read(v).count() for v in t.versions()]
    assert counts == sorted(counts)


def test_cluster_by_zorder_enables_multi_column_skipping(spark, sf_dir, tmp_path):
    """Z-order the events table on (user_id, value); a narrow 2-D box
    predicate must (a) return exactly the rows a plain filter returns and
    (b) skip at least one file via manifest stats on BOTH columns."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    t = TxTable.create(spark, str(tmp_path / "ev"), ev, key="event_id")
    stats = t.cluster_by(["user_id", "value"], target_files=8)
    assert stats["files"] >= 4
    assert all("col_stats" in fe and set(fe["col_stats"]) == {"user_id", "value"}
               for fe in t._files(t.latest_version()))

    bounds = {"user_id": (1, 3), "value": (0.0, 60.0)}
    df, skip = t.scan(bounds)
    got = {r["event_id"] for r in df.collect()}
    want = {
        r["event_id"]
        for r in ev.where(
            (F.col("user_id").between(1, 3)) & (F.col("value").between(0.0, 60.0))
        ).collect()
    }
    assert got == want
    assert skip["files_skipped"] >= 1, f"no skipping: {skip}"
    assert skip["files_read"] + skip["files_skipped"] == skip["files_total"]


def test_cluster_by_hilbert_curve(spark, sf_dir, tmp_path):
    """cluster_by(curve="hilbert") (r8): equi-depth bucket ids fed through
    the Hilbert key instead of the Morton fold — same exactness and
    manifest-skipping guarantees, compacter per-file footprints at small
    file counts (the layout-level comparison lives in tests/test_layout.py)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    t = TxTable.create(spark, str(tmp_path / "evh"), ev, key="event_id")
    stats = t.cluster_by(["user_id", "value"], target_files=8, curve="hilbert")
    assert stats["curve"] == "hilbert" and stats["files"] >= 4

    bounds = {"user_id": (1, 3), "value": (0.0, 60.0)}
    df, skip = t.scan(bounds)
    got = {r["event_id"] for r in df.collect()}
    want = {
        r["event_id"]
        for r in ev.where(
            (F.col("user_id").between(1, 3)) & (F.col("value").between(0.0, 60.0))
        ).collect()
    }
    assert got == want
    assert skip["files_skipped"] >= 1, f"no skipping: {skip}"

    with pytest.raises(ValueError, match="curve"):
        t.cluster_by(["user_id", "value"], curve="peano")


def test_merge_upsert_partitioned_rewrites_only_hit_partitions(spark, sf_dir, tmp_path):
    target = str(tmp_path / "part_target")
    load(spark, sf_dir, "nation").write.partitionBy("n_regionkey").parquet(target)
    parts_before = {
        p: os.path.getmtime(os.path.join(target, p))
        for p in os.listdir(target) if p.startswith("n_regionkey=")
    }
    updates = spark.createDataFrame(
        [(0, "RENAMED", 0), (998, "NEWLAND", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    stats = merge_upsert_partitioned(
        spark, target, updates, key="n_nationkey", part_col="n_regionkey"
    )
    assert stats == {"updated": 1, "inserted": 1, "partitions_rewritten": 1}
    after = spark.read.option("basePath", target).parquet(target)
    vals = {r["n_nationkey"]: r["n_name"] for r in after.collect()}
    assert vals[0] == "RENAMED" and vals[998] == "NEWLAND" and len(vals) == 26
    # untouched partitions were not rewritten (same mtime)
    for p, mt in parts_before.items():
        if p != "n_regionkey=0":
            assert os.path.getmtime(os.path.join(target, p)) == pytest.approx(mt)


def test_append_with_schema_evolution(spark, sf_dir, tmp_path):
    t = _nation_table(spark, sf_dir, tmp_path)
    evolved = spark.createDataFrame(
        [(600, "TAGGED", 2, "new-col")],
        "n_nationkey int, n_name string, n_regionkey int, tag string",
    )
    with pytest.raises(Exception):
        t.append(evolved)  # evolution must be explicit
    t.append(evolved, allow_evolution=True)
    df = t.read()
    assert "tag" in df.columns
    rows = {r["n_nationkey"]: r["tag"] for r in df.collect()}
    assert rows[600] == "new-col"
    assert rows[0] is None  # pre-evolution rows read null
    assert len(rows) == 26
    # dropping columns is rejected even with evolution on
    with pytest.raises(ValueError):
        t.append(
            spark.createDataFrame([(601,)], "n_nationkey int"), allow_evolution=True
        )


def test_bloom_prunes_scattered_key_merge(spark, sf_dir, tmp_path):
    """Keys 0 and 24 span the full [min, max] range of a range-partitioned
    table — range stats alone would rewrite every file; the per-file key
    bloom must narrow the rewrite to the files actually containing them."""
    t = _nation_table(spark, sf_dir, tmp_path)
    n_files = len(t._files(0))
    assert n_files >= 3
    scattered = spark.createDataFrame(
        [(0, "FIRST", 0), (24, "LAST", 4)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    stats = t.merge(scattered)
    assert stats["updated"] == 2 and stats["inserted"] == 0
    assert stats["files_rewritten"] <= 2, f"bloom failed to prune: {stats}"
    assert stats["files_carried"] >= n_files - 2
    after = {r["n_nationkey"]: r["n_name"] for r in t.read().collect()}
    assert after[0] == "FIRST" and after[24] == "LAST" and len(after) == 25


def test_merge_after_schema_evolution_touching_old_files(spark, sf_dir, tmp_path):
    """ADVICE r3 #1: evolve the schema via append, then merge a batch whose
    touched files are all PRE-evolution — the subset read must align to the
    evolved schema (null for the added column) instead of failing
    unionByName or picking a file's schema nondeterministically."""
    t = _nation_table(spark, sf_dir, tmp_path)
    t.append(
        spark.createDataFrame(
            [(100, "EVOLVED", 1, "note")],
            "n_nationkey int, n_name string, n_regionkey int, comment string",
        ),
        allow_evolution=True,
    )
    # touched files: only the original pre-evolution files containing key 3
    updates = spark.createDataFrame(
        [(3, "PATCHED", 1, None)],
        "n_nationkey int, n_name string, n_regionkey int, comment string",
    )
    stats = t.merge(updates)
    assert stats["updated"] == 1
    after = {r["n_nationkey"]: (r["n_name"], r["comment"]) for r in t.read().collect()}
    assert after[3] == ("PATCHED", None)
    assert after[100] == ("EVOLVED", "note")
    assert len(after) == 26


def test_merge_type_widened_batch_no_duplicate_keys(spark, sf_dir, tmp_path):
    """ADVICE r3 #2: a BIGINT-keyed update batch against an INT-keyed table
    must hash bloom positions on the stored type — otherwise hit files are
    carried unrewritten and the merge silently inserts duplicate keys."""
    t = _nation_table(spark, sf_dir, tmp_path)
    updates = spark.createDataFrame(
        [(3, "WIDE", 1), (7, "WIDE", 1)],
        "n_nationkey bigint, n_name string, n_regionkey int",
    )
    stats = t.merge(updates)
    assert stats["updated"] == 2 and stats["inserted"] == 0
    rows = t.read().collect()
    assert len(rows) == 25  # no duplicates
    keys = [r["n_nationkey"] for r in rows]
    assert len(set(keys)) == len(keys)
    by_key = {r["n_nationkey"]: r["n_name"] for r in rows}
    assert by_key[3] == "WIDE" and by_key[7] == "WIDE"
    # stored key type unchanged (updates were cast to the table type)
    assert dict(t.read().dtypes)["n_nationkey"] == "int"


def test_delete_all_rows_leaves_readable_empty_table(spark, sf_dir, tmp_path):
    """ADVICE r3 #4: a delete matching every row must leave an EMPTY table,
    not an unreadable one — the manifest persists the schema."""
    t = _nation_table(spark, sf_dir, tmp_path)
    stats = t.delete("n_nationkey >= 0")
    assert stats["deleted"] == 25
    empty = t.read()
    assert empty.count() == 0
    assert empty.columns == ["n_nationkey", "n_name", "n_regionkey"]
    df, skip = t.scan({"n_nationkey": (0, 5)})
    assert df.count() == 0
    # and the table keeps working: a merge into the empty table re-inserts
    stats = t.merge(
        spark.createDataFrame(
            [(1, "BACK", 1)], "n_nationkey int, n_name string, n_regionkey int"
        )
    )
    assert stats["inserted"] == 1
    assert t.read().count() == 1


def test_delete_on_empty_table_is_a_readable_noop(spark, sf_dir, tmp_path):
    """Fuzz-found (r4): DELETE against a version whose previous delete
    removed every row must commit a no-op version, not blow up in
    spark.read.parquet() with zero paths (_read_subset empty-subset guard)."""
    t = _nation_table(spark, sf_dir, tmp_path)
    t.delete("n_nationkey >= 0")
    stats = t.delete("n_nationkey >= 0")  # table is already empty
    assert stats["deleted"] == 0
    empty = t.read()
    assert empty.count() == 0
    assert empty.columns == ["n_nationkey", "n_name", "n_regionkey"]


def test_vacuum_rejects_zero_keep_versions(spark, sf_dir, tmp_path):
    """ADVICE r3 #3: keep_versions=0 would delete every manifest while
    retaining all data files — reject it."""
    t = _nation_table(spark, sf_dir, tmp_path)
    with pytest.raises(ValueError, match="keep_versions"):
        t.vacuum(keep_versions=0)


def test_vacuum_age_guard_spares_recent_orphans(spark, sf_dir, tmp_path):
    """The min_age_seconds retention guard: a just-written orphan (a
    concurrent writer's uncommitted file) survives vacuum."""
    t = _nation_table(spark, sf_dir, tmp_path)
    orphan_files = t._write_files(t.read())  # written but never committed
    removed = t.vacuum(keep_versions=1, min_age_seconds=3600)
    assert removed["files_removed"] == 0
    # without the guard the same orphans are collected
    removed = t.vacuum(keep_versions=1)
    assert removed["files_removed"] == len(orphan_files)


def test_merge_staging_dirs_outside_target(spark, sf_dir, tmp_path):
    """ADVICE r3 #5: partitioned-merge staging must never live INSIDE the
    target tree where a recursive reader could pick it up."""
    target = str(tmp_path / "ptab")
    load(spark, sf_dir, "nation").withColumn(
        "part", F.col("n_regionkey")
    ).write.partitionBy("part").parquet(target)
    updates = spark.createDataFrame(
        [(0, "RENAMED", 9, 0)],
        "n_nationkey int, n_name string, n_regionkey int, part int",
    )
    merge_upsert_partitioned(spark, target, updates, key="n_nationkey", part_col="part")
    leftovers = [
        n for n in os.listdir(target) if "__staged_" in n or "__old_" in n
    ]
    assert leftovers == []
    after = spark.read.parquet(target)
    assert after.count() == 25


def test_checkpointed_log_plans_in_bounded_reads(spark, sf_dir, tmp_path):
    """r4 delta-manifest log: resolving a snapshot after 120 commits must
    read O(CHECKPOINT_INTERVAL) log files, not the whole history."""
    t = _nation_table(spark, sf_dir, tmp_path)
    base_files = len(t._files(0))
    for i in range(1, 121):  # synthetic delta commits (log-planning test)
        fake = {
            "path": f"data/fake_{i}.parquet",
            "rows": 1,
            "min_key": 1000 + i,
            "max_key": 1000 + i,
            "key_bloom": [i % 1024],
        }
        t._commit("append", [fake], [], version=i)
    assert t.latest_version() == 120
    assert len(t.checkpoints()) == 12  # every CHECKPOINT_INTERVAL commits
    fresh = TxTable(spark, t.root)  # no caches, counts log I/O from zero
    files = fresh._files(120)
    assert len(files) == base_files + 120
    assert fresh.manifest_reads <= TxTable.CHECKPOINT_INTERVAL + 2, (
        f"snapshot resolution read {fresh.manifest_reads} log files"
    )


def test_checkpointed_log_end_to_end_reads(spark, sf_dir, tmp_path):
    """Real appends across a checkpoint boundary: content stays correct and
    time travel still resolves pre-checkpoint versions."""
    t = _nation_table(spark, sf_dir, tmp_path)
    for i in range(12):
        t.append(
            spark.createDataFrame(
                [(600 + i, f"A{i}", 0)],
                "n_nationkey int, n_name string, n_regionkey int",
            )
        )
    assert t.read().count() == 37
    assert t.checkpoints() == [10]
    assert t.read(5).count() == 30  # pre-checkpoint time travel
    assert [h["op"] for h in t.history()] == ["create"] + ["append"] * 12


def test_vacuum_keeps_oldest_retained_resolvable(spark, sf_dir, tmp_path):
    """Vacuum drops delta manifests older than the window; the oldest
    retained version must still resolve (checkpoint materialized first)."""
    t = _nation_table(spark, sf_dir, tmp_path)
    for i in range(4):
        t.merge(
            spark.createDataFrame(
                [(0, f"V{i}", 9)], "n_nationkey int, n_name string, n_regionkey int"
            )
        )
    t.vacuum(keep_versions=2)
    fresh = TxTable(spark, t.root)
    assert fresh.versions() == [3, 4]
    assert fresh.read(3).count() == 25
    assert fresh.read(4).count() == 25
    assert {r["n_name"] for r in fresh.read(4).collect() if r["n_nationkey"] == 0} == {
        "V3"
    }


def test_cdc_stream_feed_and_exactly_once_restart(spark, sf_dir, tmp_path):
    """Streaming CDC over the commit log: the feed carries every commit's
    added/removed rows tagged with its version; a restart from the same
    checkpoint emits nothing until a NEW commit lands (version offsets =
    exactly-once)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        TxTableCdcDataSource,
    )

    try:
        spark.dataSource.register(TxTableCdcDataSource)
    except Exception:
        pass

    t = _nation_table(spark, sf_dir, tmp_path)
    t.merge(
        spark.createDataFrame(
            [(0, "RENAMED", 9), (999, "NEWLAND", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
    )
    sink = str(tmp_path / "cdc_sink")
    ckpt = str(tmp_path / "cdc_ckpt")

    def drain():
        q = (
            spark.readStream.format("txtable_cdc")
            .load(t.root)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    feed = spark.read.parquet(sink).collect()
    v0 = [r for r in feed if r["cdc_version"] == 0]
    assert len(v0) == 25 and all(r["cdc_type"] == "add" for r in v0)
    v1_adds = {r["n_nationkey"] for r in feed if r["cdc_version"] == 1 and r["cdc_type"] == "add"}
    v1_removes = {r["n_nationkey"] for r in feed if r["cdc_version"] == 1 and r["cdc_type"] == "remove"}
    assert {0, 999} <= v1_adds
    assert 0 in v1_removes  # the rewritten file's old rows leave the set
    assert 999 not in v1_removes
    n_after_first = len(feed)

    drain()  # no new commits → nothing new
    assert len(spark.read.parquet(sink).collect()) == n_after_first

    t.delete("n_nationkey = 24")
    drain()
    feed = spark.read.parquet(sink).collect()
    new = [r for r in feed if r["cdc_version"] == 2]
    assert len(feed) == n_after_first + len(new) and new
    assert {r["n_nationkey"] for r in new if r["cdc_type"] == "remove"} >= {24}
    # reconcile the raw feed to the final snapshot: replay strictly by
    # version (removes first, then adds — rewritten rows re-add themselves)
    alive = {}
    for v in sorted({r["cdc_version"] for r in feed}):
        removed = {r["n_nationkey"] for r in feed if r["cdc_version"] == v and r["cdc_type"] == "remove"}
        added = {r["n_nationkey"]: r["n_name"] for r in feed if r["cdc_version"] == v and r["cdc_type"] == "add"}
        for k in removed:
            alive.pop(k, None)
        alive.update(added)
    want = {r["n_nationkey"]: r["n_name"] for r in t.read().collect()}
    assert alive == want


def test_txtable_lite_source_data_metadata_and_pruning(spark, tmp_path):
    """r5: the txtable_lite pluggable source — data reads match the native
    reader (incl. additive evolution null-fill and time travel), pushdown
    prunes files via manifest key bounds, and option(table, history|files)
    exposes the metadata tables to plain spark.sql."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        TxTableLiteDataSource,
    )

    root = str(tmp_path / "txl")
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    t = TxTable.create(spark, root, df.repartition(4, "k"), key="k")
    t.append(
        spark.createDataFrame([(100, 1, "x")], "k long, v long, tag string"),
        allow_evolution=True,
    )
    spark.dataSource.register(TxTableLiteDataSource)
    lite = spark.read.format("txtable_lite").load(root)
    assert sorted(tuple(r) for r in lite.collect()) == sorted(
        tuple(r) for r in t.read().collect()
    )
    # time travel through the source
    v0 = spark.read.format("txtable_lite").option("version", 0).load(root)
    assert v0.count() == 20 and "tag" not in v0.columns
    # pushdown prunes files by the manifest key range
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("txtable_lite")
            .option("pushdown", "true")
            .load(root)
            .where("k >= 100")
            .collect()
        )
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    assert [r["k"] for r in got] == [100]
    # metadata views
    h = spark.read.format("txtable_lite").option("table", "history").load(root)
    h.createOrReplaceTempView("tx_hist")
    rows = {r["version"]: r for r in spark.sql("SELECT * FROM tx_hist").collect()}
    assert rows[0]["op"] == "create" and rows[1]["op"] == "append"
    assert rows[1]["n_rows"] == 21
    f = spark.read.format("txtable_lite").option("table", "files").load(root)
    assert f.count() == len(t._files(t.latest_version()))
    assert sorted(tuple(r) for r in f.collect()) == sorted(
        tuple(r) for r in t.files_df().collect()
    )
