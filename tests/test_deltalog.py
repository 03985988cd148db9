"""Delta transaction-log interop (plans/deltalog.py): round-trip, time
travel, partition reconstruction + pruning, checkpointing, spec-structure
fidelity, reading a log written by a foreign writer, and optimistic
concurrency."""

import json
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
    PROTOCOL,
    DeltaTable,
    _fmt_commit,
)


@pytest.fixture()
def root():
    d = os.path.join(tempfile.gettempdir(), f"delta_test_{uuid.uuid4().hex[:8]}")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_read_roundtrip(spark, root):
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = DeltaTable.create(spark, root, df)
    assert _rows(t.read()) == _rows(df)
    assert t.latest_version() == 0
    assert [f.name for f in t.schema().fields] == ["k", "v"]


def test_append_overwrite_time_travel(spark, root):
    base = spark.range(10).select(F.col("id").alias("k"))
    t = DeltaTable.create(spark, root, base)
    t.append(spark.range(10, 20).select(F.col("id").alias("k")))
    t.overwrite(spark.range(5).select(F.col("id").alias("k")))
    assert t.read(0).count() == 10
    assert t.read(1).count() == 20
    assert t.read().count() == 5
    ops = [r[1] for r in t._history_rows()]
    assert ops[0].startswith("CREATE") and "Overwrite" in ops[2]


def test_partitioned_write_reconstructs_partition_columns(spark, root):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, None, 40)],
        "k int, part string, v int",
    )
    t = DeltaTable.create(spark, root, df, partition_by=["part"])
    back = t.read()
    assert _rows(back.select("k", "part", "v")) == _rows(df)
    # spec: partition column is NOT in the data files, only in the log
    data_files = [a for a in t.files()]
    assert data_files
    import pyarrow.parquet as pq

    for a in data_files:
        phys = pq.read_schema(t._abs_path(a["path"]))
        assert "part" not in phys.names
        assert "part" in (a.get("partitionValues") or {})


def test_partition_pruning_consults_log_only(spark, root):
    df = spark.createDataFrame(
        [(i, f"p{i % 4}") for i in range(40)], "k int, part string"
    )
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    pruned = t.files(partition_filter={"part": "p1"})
    assert len(pruned) == 1 and len(t.files()) == 4
    got = t.read(partition_filter={"part": "p1"})
    assert got.count() == 10
    assert got.select("part").distinct().collect()[0][0] == "p1"


def test_log_structure_matches_delta_spec(spark, root):
    df = spark.range(5).select(F.col("id").alias("k")).coalesce(1)
    t = DeltaTable.create(spark, root, df)
    name = _fmt_commit(0)
    assert name == "0" * 20 + ".json" and len(name) == 25
    path = os.path.join(root, "_delta_log", name)
    with open(path) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == PROTOCOL
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    # schemaString is Spark StructType JSON — must round-trip
    from pyspark.sql import types as T

    st = T.StructType.fromJson(json.loads(meta["schemaString"]))
    assert [f.name for f in st.fields] == ["k"]
    assert meta["format"]["provider"] == "parquet"
    add = next(a["add"] for a in actions if "add" in a)
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 5
    assert stats["minValues"]["k"] == 0 and stats["maxValues"]["k"] == 4
    assert stats["nullCount"]["k"] == 0
    assert add["dataChange"] is True and add["size"] > 0


def test_checkpoint_written_and_used(spark, root):
    t = DeltaTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    for i in range(12):
        t.append(spark.range(i, i + 1).select(F.col("id").alias("k")))
    log = os.path.join(root, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    with open(os.path.join(log, "_last_checkpoint")) as f:
        last = json.load(f)
    assert last["version"] == 10
    expected = t.read().count()
    # expire pre-checkpoint commits (log cleanup): snapshot must resolve
    # from the checkpoint + trailing deltas alone
    for v in range(0, 10):
        os.unlink(os.path.join(log, _fmt_commit(v)))
    t2 = DeltaTable(spark, root)
    assert t2.read().count() == expected
    # time travel to the checkpoint version itself also still works
    assert t2.read(10).count() == expected - 2


def test_reads_foreign_written_log(spark, root):
    """Reader robustness against a log WE did not write: URL-encoded paths
    with special characters, a remove action, and schema from metaData —
    handcrafted the way another engine would lay it down."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "sub dir"))
    f1 = os.path.join(root, "sub dir", "file one.parquet")
    f2 = os.path.join(root, "plain.parquet")
    pq.write_table(pa.table({"k": [1, 2], "v": ["x", "y"]}), f1)
    pq.write_table(pa.table({"k": [3], "v": ["z"]}), f2)
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "k", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    actions0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "abc",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
            }
        },
        {"add": {"path": "sub%20dir/file%20one.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "plain.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    actions1 = [
        {"remove": {"path": "plain.parquet", "deletionTimestamp": 0, "dataChange": True}},
    ]
    for v, acts in ((0, actions0), (1, actions1)):
        with open(os.path.join(root, "_delta_log", _fmt_commit(v)), "w") as f:
            for a in acts:
                f.write(json.dumps(a) + "\n")
    t = DeltaTable(spark, root)
    assert _rows(t.read(0)) == [(1, "x"), (2, "y"), (3, "z")]
    assert _rows(t.read()) == [(1, "x"), (2, "y")]


def test_change_commits_read_only_their_range(root, monkeypatch):
    """``change_commits`` reads only the commits in (v_from, v_to]; the
    metaData in effect is found by reading backwards from the version to
    the last commit that carries one."""
    os.makedirs(os.path.join(root, "_delta_log"))

    def meta(i):
        cols = [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]
        return {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                             "schemaString": json.dumps({"type": "struct", "fields": cols}),
                             "partitionColumns": [], "configuration": {"n": str(i)}}}

    for v in range(40):
        acts = [{"commitInfo": {"operation": "WRITE"}}]
        if v == 0:
            acts += [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}, meta(0)]
        if v == 25:
            acts.append(meta(25))
        acts.append({"add": {"path": f"f{v}.parquet", "partitionValues": {}, "size": 1,
                             "modificationTime": 0, "dataChange": v != 30}})
        with open(os.path.join(root, "_delta_log", _fmt_commit(v)), "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in acts))
    t = DeltaTable(None, root)
    read = []
    orig = DeltaTable._commit_actions
    monkeypatch.setattr(
        DeltaTable, "_commit_actions", lambda self, v: read.append(v) or orig(self, v)
    )
    got = [(v, m is not None, len(a)) for v, m, _c, a, _r in t.change_commits(24, 30)]
    assert got == [(25, True, 1), (26, False, 1), (27, False, 1), (28, False, 1),
                   (29, False, 1), (30, False, 0)]
    assert read == [25, 26, 27, 28, 29, 30]
    read.clear()
    v, m = t.meta_in_effect(39)
    assert (v, m["configuration"]) == (25, {"n": "25"}) and read == list(range(39, 24, -1))
    assert t.meta_in_effect(24)[0] == 0


def _one_file_per_commit_log(root, n, extra=None):
    """A hand-written ``_delta_log`` of ``n`` commits, each adding one
    (absent) data file; ``extra`` maps a version to more actions."""
    os.makedirs(os.path.join(root, "_delta_log"))
    cols = [{"name": "k", "type": "long", "nullable": True, "metadata": {}}]
    for v in range(n):
        acts = [{"commitInfo": {"operation": "WRITE"}}]
        if v == 0:
            acts += [
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                              "schemaString": json.dumps({"type": "struct", "fields": cols}),
                              "partitionColumns": [], "configuration": {}}},
            ]
        acts += (extra or {}).get(v, [])
        acts.append({"add": {"path": f"f{v}.parquet", "partitionValues": {}, "size": 1,
                             "modificationTime": 0, "dataChange": True}})
        with open(os.path.join(root, "_delta_log", _fmt_commit(v)), "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in acts))
    return DeltaTable(None, root)


def test_snapshot_lists_the_log_once(root, monkeypatch):
    """Replaying k commits with no checkpoint below lists ``_delta_log``
    once per ``snapshot`` call, not once per replayed commit."""
    t = _one_file_per_commit_log(root, 32)
    calls = []
    orig = DeltaTable.versions
    monkeypatch.setattr(DeltaTable, "versions", lambda self: calls.append(1) or orig(self))
    adds, _ = t.snapshot(30)
    assert len(adds) == 31 and len(calls) == 1
    calls.clear()
    assert len(t.snapshot()[0]) == 32 and len(calls) == 1


def test_txn_ledger_survives_log_cleanup(root):
    """A txn action whose commit ``cleanup_log`` expires is still served
    by ``seen_txn``: the checkpoint carries every appId's latest txn, so a
    re-delivered ``stream_append`` batch is still recognized."""
    t = _one_file_per_commit_log(root, 12, {1: [{"txn": {"appId": "s1", "version": 5}}]})
    t._write_checkpoint(t._state(11))
    assert t.cleanup_log(keep_versions=1)["commits_deleted"] == 11
    assert t.seen_txn("s1") == 5
    assert t.seen_txn("other") is None


@pytest.mark.parametrize("op", ["merge", "delete"])
def test_commit_on_a_superseded_version_is_refused(spark, root, monkeypatch, op):
    """Another handle's commit that lands after an operation resolved its
    state makes that operation raise instead of committing over a
    snapshot it never saw; the table keeps exactly the other commit."""
    rows = spark.range(6).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    t = DeltaTable.create(spark, root, rows.coalesce(1))
    orig = DeltaTable._phys_map
    fired = []

    def raced(meta):
        # an operation's first _phys_map call comes right after it
        # resolved its state: the concurrent delete lands there
        if not fired:
            fired.append(1)
            DeltaTable(spark, root).delete("k = 3")
        return orig(meta)

    monkeypatch.setattr(DeltaTable, "_phys_map", staticmethod(raced))
    with pytest.raises(FileExistsError):
        if op == "merge":
            t.merge(spark.createDataFrame([(4, 41)], "k long, v long"), key="k")
        else:
            t.delete("k = 4")
    monkeypatch.setattr(DeltaTable, "_phys_map", staticmethod(orig))
    assert fired and t.latest_version() == 1
    assert _rows(t.read()) == [(k, k * 10) for k in (0, 1, 2, 4, 5)]


def test_each_write_replays_the_log_once(spark, root, monkeypatch):
    """A write lists ``_delta_log`` once, for the state it plans on: the
    version checksum of its commit comes from that state with the commit's
    actions folded in, not from a second replay."""
    t = DeltaTable.create(
        spark, root, spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v")).coalesce(1)
    )
    calls = []
    orig = DeltaTable.versions
    monkeypatch.setattr(DeltaTable, "versions", lambda self: calls.append(1) or orig(self))
    ops = {
        "append": lambda: t.append(spark.createDataFrame([(10, 10)], "k long, v long")),
        "delete": lambda: t.delete("k = 3"),
        "merge": lambda: t.merge(spark.createDataFrame([(4, 40)], "k long, v long"), key="k"),
        "delete_vectors": lambda: t.delete_vectors("k = 5"),
        "compact": lambda: t.compact(),
        "overwrite": lambda: t.overwrite(spark.createDataFrame([(1, 1)], "k long, v long")),
    }
    listings = {}
    for name, run in ops.items():
        calls.clear()
        run()
        listings[name] = len(calls)
    assert t.latest_version() == len(ops)
    assert all(n == 1 for n in listings.values()), listings


def _hand_written_log(root, cols, adds):
    """A one-commit ``_delta_log`` with schema ``cols`` ([(name, type)])
    and the given add actions — no data files are written."""
    os.makedirs(os.path.join(root, "_delta_log"))
    fields = [{"name": n, "type": ty, "nullable": True, "metadata": {}} for n, ty in cols]
    acts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps({"type": "struct", "fields": fields}),
                      "partitionColumns": [], "configuration": {}}},
        *({"add": {"partitionValues": {}, "size": 1, "modificationTime": 0,
                   "dataChange": True, **a}} for a in adds),
    ]
    with open(os.path.join(root, "_delta_log", _fmt_commit(0)), "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in acts))
    return DeltaTable(None, root)


def test_date_bounds_prune_like_the_lite_planner(root):
    """A ``datetime.date`` bound against a date column's string stats is
    incomparable: ``files(bounds=)`` keeps the file, as the ``delta_lite``
    pushdown planner does, instead of raising ``TypeError``."""
    import datetime

    from pyspark.sql.datasource import GreaterThanOrEqual

    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.lite_source import (
        DeltaLiteDataSource,
    )

    def stats(d):
        return json.dumps({"numRecords": 1, "minValues": {"k": 1, "d": d},
                           "maxValues": {"k": 1, "d": d}})

    t = _hand_written_log(root, [("k", "long"), ("d", "date")], [
        {"path": "a.parquet", "stats": stats("2020-01-01")},
        {"path": "b.parquet", "stats": stats("2020-01-05")},
    ])
    lo = datetime.date(2020, 1, 2)
    kept = {t._abs_path(a["path"]) for a in t.files(bounds={"d": (lo, None)})}
    r = DeltaLiteDataSource({"path": root, "pushdown": "true"}).reader(None)
    list(r.pushFilters([GreaterThanOrEqual(("d",), lo)]))
    assert kept == {task.path for task in r.partitions()}
    assert len(kept) == 2


def test_files_point_lists_the_log_once(root, monkeypatch):
    """``files_point`` prunes one resolved snapshot: one ``_delta_log``
    listing per call, with the stats tier applied."""
    t = _hand_written_log(root, [("k", "long")], [
        {"path": f"f{i}.parquet",
         "stats": json.dumps({"numRecords": 10, "minValues": {"k": 10 * i},
                              "maxValues": {"k": 10 * i + 9}})}
        for i in range(4)
    ])
    calls = []
    orig = DeltaTable.versions
    monkeypatch.setattr(DeltaTable, "versions", lambda self: calls.append(1) or orig(self))
    assert [a["path"] for a in t.files_point("k", 25)] == ["f2.parquet"]
    assert len(calls) == 1


def test_zorder_on_a_double_column_prunes(spark, root):
    """``compact(zorder_by=)`` scales a fractional column in double
    arithmetic (integer ``div`` does not apply to it), and the clustered
    files prune a box on it from the log stats."""
    df = spark.range(4000).select(
        (F.col("id") % 20).alias("u"), ((F.col("id") * 7919) % 1000 / 10.0).alias("x")
    )
    t = DeltaTable.create(spark, root, df.repartition(4))
    t.compact(target_files=8, zorder_by=["u", "x"])
    box = {"u": (1, 3), "x": (0.0, 20.0)}
    assert len(t.files(bounds=box)) < len(t.files())
    want = _rows(df.where("u BETWEEN 1 AND 3 AND x BETWEEN 0.0 AND 20.0"))
    assert _rows(t.read(bounds=box).where("u BETWEEN 1 AND 3 AND x BETWEEN 0.0 AND 20.0")) == want


def _nation_delta(spark, sf_dir, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.tables import load

    nation = load(spark, sf_dir, "nation").repartitionByRange(4, "n_nationkey")
    return DeltaTable.create(spark, root, nation)


def test_uncommitted_data_files_are_invisible(spark, sf_dir, root):
    """Data files a crashed writer left in the table directory, never
    committed, are in no snapshot: reads resolve the log only."""
    t = _nation_delta(spark, sf_dir, root)
    spark.createDataFrame(
        [(777, "ORPHAN", 0)], "n_nationkey int, n_name string, n_regionkey int"
    ).write.mode("append").parquet(root)
    keys = [r["n_nationkey"] for r in t.read().collect()]
    assert len(keys) == 25 and 777 not in keys


def test_merge_widened_key_batch_keeps_keys_unique(spark, sf_dir, root):
    """A BIGINT-keyed update batch against an INT-keyed table updates the
    matched rows in place: no duplicate keys, stored key type unchanged."""
    t = _nation_delta(spark, sf_dir, root)
    t.merge(
        spark.createDataFrame(
            [(3, "WIDE", 1), (7, "WIDE", 1)],
            "n_nationkey bigint, n_name string, n_regionkey int",
        ),
        key="n_nationkey",
    )
    rows = t.read().collect()
    keys = [r["n_nationkey"] for r in rows]
    assert len(rows) == 25 and len(set(keys)) == 25
    by_key = {r["n_nationkey"]: r["n_name"] for r in rows}
    assert by_key[3] == "WIDE" and by_key[7] == "WIDE"
    assert dict(t.read().dtypes)["n_nationkey"] == "int"


def test_merge_after_schema_evolution_touching_old_files(spark, sf_dir, root):
    """Evolve the schema via append, then merge a batch whose touched files
    all predate the evolution: the rewritten rows read null for the added
    column."""
    ddl = "n_nationkey int, n_name string, n_regionkey int, comment string"
    t = _nation_delta(spark, sf_dir, root)
    t.append(spark.createDataFrame([(100, "EVOLVED", 1, "note")], ddl), allow_evolution=True)
    t.merge(spark.createDataFrame([(3, "PATCHED", 1, None)], ddl), key="n_nationkey")
    after = {r["n_nationkey"]: (r["n_name"], r["comment"]) for r in t.read().collect()}
    assert after[3] == ("PATCHED", None)
    assert after[100] == ("EVOLVED", "note")
    assert len(after) == 26


def test_merge_model_based_random_batches(spark, sf_dir, root):
    """A random sequence of merge batches leaves the table equal to a plain
    dict replay (last write per key wins within and across batches); keys
    are drawn around the files' key-range boundaries, where a stats
    pruning bug would carry a file that needed a rewrite."""
    import random

    rng = random.Random(20260813)
    t = _nation_delta(spark, sf_dir, root)
    model = {r["n_nationkey"]: (r["n_name"], r["n_regionkey"]) for r in t.read().collect()}
    for step in range(4):
        keys = rng.sample(range(-5, 40), rng.randint(1, 6))
        batch = [(k, f"V{step}_{k}", rng.randint(0, 4)) for k in keys]
        for k, name, reg in batch:
            model[k] = (name, reg)
        t.merge(
            spark.createDataFrame(batch, "n_nationkey int, n_name string, n_regionkey int"),
            key="n_nationkey",
        )
    got = {r["n_nationkey"]: (r["n_name"], r["n_regionkey"]) for r in t.read().collect()}
    assert got == model
    # every intermediate snapshot is still consistent (monotone row counts)
    counts = [t.read(v).count() for v in t.versions()]
    assert counts == sorted(counts)


def test_delete_all_rows_leaves_readable_empty_table(spark, sf_dir, root):
    """A delete matching every row leaves an EMPTY table, not an unreadable
    one: the log keeps the schema, a bounded read prunes to nothing, and a
    merge into the empty table re-inserts."""
    t = _nation_delta(spark, sf_dir, root)
    stats = t.delete("n_nationkey >= 0")
    assert stats["deleted"] == 25
    empty = t.read()
    assert empty.count() == 0
    assert empty.columns == ["n_nationkey", "n_name", "n_regionkey"]
    assert t.read(bounds={"n_nationkey": (0, 5)}).count() == 0
    stats = t.merge(
        spark.createDataFrame([(1, "BACK", 1)], "n_nationkey int, n_name string, n_regionkey int"),
        key="n_nationkey",
    )
    assert stats["inserted"] == 1
    assert [tuple(r) for r in t.read().collect()] == [(1, "BACK", 1)]


def test_delete_on_empty_table_is_a_readable_noop(spark, sf_dir, root):
    """A DELETE against a version whose previous delete removed every row
    commits a no-op version instead of reading zero files."""
    t = _nation_delta(spark, sf_dir, root)
    t.delete("n_nationkey >= 0")
    v = t.latest_version()
    stats = t.delete("n_nationkey >= 0")  # table is already empty
    assert stats["deleted"] == 0
    assert t.latest_version() == v + 1
    empty = t.read()
    assert empty.count() == 0
    assert empty.columns == ["n_nationkey", "n_name", "n_regionkey"]


def test_commit_conflict_raises(spark, root):
    t = DeltaTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(FileExistsError):
        t._publish(None, [{"commitInfo": {"operation": "X"}}])


def test_txn_action_recorded(spark, root):
    t = DeltaTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    t.append(spark.range(2).select(F.col("id").alias("k")), txn=("app-1", 7))
    assert t.seen_txn("app-1") == 7
    assert t.seen_txn("other") is None


def test_empty_snapshot_after_overwrite_with_empty(spark, root):
    df = spark.range(3).select(F.col("id").alias("k"))
    t = DeltaTable.create(spark, root, df)
    t.overwrite(df.where(F.lit(False)))
    got = t.read()
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["k"]


def test_stats_bounds_skip_files_from_log(spark, root):
    # 4 range-partitioned files → a narrow bound keeps 1 file, read stays correct
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    t = DeltaTable.create(spark, root, df.repartitionByRange(4, "k"))
    assert len(t.files()) == 4
    kept = t.files(bounds={"k": (150, 160)})
    assert len(kept) == 1
    got = t.read(bounds={"k": (150, 160)}).where(F.col("k").between(150, 160))
    assert got.count() == 11
    # file with no stats for the bounded column is conservatively kept
    kept_all = t.files(bounds={"missing_col": (0, 1)})
    assert len(kept_all) == 4


def test_schema_evolution_append(spark, root):
    t = DeltaTable.create(spark, root, spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(ValueError):
        t.append(spark.range(2).select(F.col("id").alias("k"), F.lit("x").alias("tag")))
    t.append(
        spark.range(3, 5).select(F.col("id").alias("k"), F.lit("x").alias("tag")),
        allow_evolution=True,
    )
    got = t.read()
    assert [f.name for f in got.schema.fields] == ["k", "tag"]
    assert got.where(F.col("tag").isNull()).count() == 3  # pre-evolution rows
    assert got.where(F.col("tag") == "x").count() == 2
    # old snapshot keeps the old schema
    assert [f.name for f in t.read(0).schema.fields] == ["k"]
    # appending WITHOUT the evolved column still aligns (nulls)
    t.append(spark.range(9, 10).select(F.col("id").alias("k")))
    assert t.read().where(F.col("tag").isNull()).count() == 4


def test_vacuum_guards_and_reclaim(spark, root):
    t = DeltaTable.create(spark, root, spark.range(5).select(F.col("id").alias("k")).coalesce(1))
    t.overwrite(spark.range(3).select(F.col("id").alias("k")).coalesce(1))
    with pytest.raises(ValueError):
        t.vacuum(retain_versions=0)
    # young files survive (grace window)
    assert t.vacuum(retain_versions=1, min_age_seconds=3600)["files_deleted"] == 0
    n = t.vacuum(retain_versions=1, min_age_seconds=0.0)["files_deleted"]
    assert n == 1  # v0's file reclaimed
    assert t.read().count() == 3  # latest still reads


def test_delta_cdc_stream_source(spark, root):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        DeltaCdcDataSource,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k int, part string"
    )
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    t.append(spark.createDataFrame([(4, "b")], "k int, part string").coalesce(1))
    t.overwrite(spark.createDataFrame([(9, "c")], "k int, part string").coalesce(1))
    try:
        spark.dataSource.register(DeltaCdcDataSource)
    except Exception:
        pass
    sink = os.path.join(root, "_cdc_sink")
    q = (
        spark.readStream.format("delta_cdc")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "_cdc_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(sink)
    got = sorted(
        (r["commit_version"], r["change_type"], r["k"], r["part"]) for r in feed.collect()
    )
    assert got == [
        (0, "add", 1, "a"),
        (0, "add", 2, "b"),
        (0, "add", 3, "a"),
        (1, "add", 4, "b"),
        (2, "add", 9, "c"),
        (2, "remove", 1, "a"),
        (2, "remove", 2, "b"),
        (2, "remove", 3, "a"),
        (2, "remove", 4, "b"),
    ]


def test_row_tracking_cdf_composition(spark, root):
    """r8: with row tracking AND CDF enabled, every change row exposes its
    stable _row_id — batch table_changes and the delta_cdc streaming
    source both. A merge's pre/postimage pair shares the SAME id; a CoW
    DELETE's 'delete' rows carry the dead rows' ids (remove actions carry
    baseRowId per spec); cdc 'insert' rows ride null (id assigned by the
    add action)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        DeltaCdcDataSource,
    )

    t = DeltaTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "k long, s string"
        ).orderBy("k").coalesce(1),
    )
    t.enable_row_tracking()
    t.enable_change_data_feed()
    # ids 0..5 in key order (one sorted file)
    base_ids = {r.k: r._row_id for r in t.row_tracking_df().collect()}
    assert base_ids == {i: i for i in range(6)}
    t.append(spark.createDataFrame([(6, "v6")], "k long, s string").coalesce(1))
    av = t.latest_version()
    t.merge(
        spark.createDataFrame([(2, "UP2"), (9, "NEW9")], "k long, s string"),
        key="k",
    )
    mv = t.latest_version()
    ch = {
        (r["_change_type"], r["k"]): r["_row_id"]
        for r in t.table_changes(mv - 1, mv).collect()
    }
    assert ch[("update_preimage", 2)] == 2
    assert ch[("update_postimage", 2)] == 2  # SAME stable id through the merge
    assert ch[("insert", 9)] is None  # assigned by the add action, not the cdc
    # current state: the merged row keeps id 2; the insert got a fresh id
    ids2 = {r.k: r._row_id for r in t.row_tracking_df().collect()}
    assert ids2[2] == 2 and ids2[6] == 6 and ids2[9] >= 7
    # CoW DELETE: no cdc action — delete rows derive from add/remove
    # netting and must carry the dead rows' ids (remove carries baseRowId)
    t.delete("k = 4")
    dv = t.latest_version()
    net = {}
    for r in t.table_changes(dv - 1, dv).collect():
        net.setdefault((r["_change_type"], r["k"]), []).append(r["_row_id"])
    # file-level netting: k=4 appears only under 'delete' (insert+delete
    # pairs for survivors carry MATCHING ids and net out)
    assert net[("delete", 4)] == [4]
    for ct, k in list(net):
        if k != 4:
            assert net.get(("insert", k)) == net.get(("delete", k)), k
    # streaming source exposes the same trailing _row_id column
    try:
        spark.dataSource.register(DeltaCdcDataSource)
    except Exception:
        pass
    sink = os.path.join(root, "_rtcdf_sink")
    q = (
        spark.readStream.format("delta_cdc")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "_rtcdf_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(sink)
    assert "_row_id" in feed.columns
    got = {
        (r["commit_version"], r["change_type"], r["k"]): r["_row_id"]
        for r in feed.collect()
    }
    # pre-enable commit: ids were assigned by the later backfill (a
    # dataChange=false commit the feed skips), so v0 rows honestly ride null
    assert got[(0, "add", 2)] is None
    assert got[(av, "add", 6)] == 6  # baseRowId + position on plain adds
    assert got[(mv, "update_preimage", 2)] == 2
    assert got[(mv, "update_postimage", 2)] == 2
    assert got[(mv, "insert", 9)] is None


def test_generated_columns(spark, root):
    """r8 (spec §Generated Columns, legacy writer version 4): create
    computes a declared-but-omitted column; the expression persists as
    field metadata; append/overwrite/merge compute omitted values and
    REFUSE provided values that violate the expression; a create whose
    input already lies refuses too."""
    df = spark.createDataFrame(
        [(1, 10), (2, 25), (3, 31)], "k long, v long"
    )
    t = DeltaTable.create(
        spark, root, df, partition_by=["dec"],
        generated={"dec": "CAST(v DIV 10 AS BIGINT)"},
    )
    assert t.protocol()["minWriterVersion"] == 4
    assert t._generated_cols(t.snapshot()[1]) == {
        "dec": "CAST(v DIV 10 AS BIGINT)"
    }
    assert sorted(tuple(r) for r in t.read().select("k", "dec").collect()) == [
        (1, 1), (2, 2), (3, 3)
    ]
    # append omitting the column: computed
    t.append(spark.createDataFrame([(4, 47)], "k long, v long"))
    # append providing a CORRECT value: accepted
    t.append(spark.createDataFrame([(5, 52, 5)], "k long, v long, dec long"))
    # append that lies: refused, nothing committed
    v_before = t.latest_version()
    with pytest.raises(ValueError, match="generated column"):
        t.append(spark.createDataFrame([(6, 60, 9)], "k long, v long, dec long"))
    assert t.latest_version() == v_before
    # merge computes it for updates/inserts too
    t.merge(spark.createDataFrame([(2, 99), (7, 71)], "k long, v long"), key="k")
    with pytest.raises(ValueError, match="generated column"):
        t.overwrite(spark.createDataFrame([(1, 10, 0)], "k long, v long, dec long"))
    got = {r.k: r.dec for r in t.read().collect()}
    assert got == {1: 1, 2: 9, 3: 3, 4: 4, 5: 5, 7: 7}
    # a lying CREATE refuses as well
    with pytest.raises(ValueError, match="generated column"):
        DeltaTable.create(
            spark, root + "_bad",
            spark.createDataFrame([(1, 10, 7)], "k long, v long, dec long"),
            generated={"dec": "CAST(v DIV 10 AS BIGINT)"},
        )


def test_row_tracking_composes_with_column_mapping(spark, root):
    """r8 gap-closure pin: row tracking on a COLUMN-MAPPED table — the
    materialized rt columns have their own physical names outside the
    schema's logical→physical map, so renames, CoW merges (which resolve
    ids through _rt_resolved's extra_phys path), and OPTIMIZE
    materialization all keep ids stable."""
    t = DeltaTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5)], "k long, s string"
        ).orderBy("k").coalesce(1),
    )
    t.enable_column_mapping()
    t.rename_column("s", "txt")
    t.enable_row_tracking()
    assert {r.k: r._row_id for r in t.row_tracking_df().collect()} == {
        i: i for i in range(5)
    }
    t.merge(spark.createDataFrame([(2, "UP")], "k long, txt string"), key="k")
    t.rename_column("txt", "txt2")
    t.compact(target_files=1)
    got = {r.k: (r.txt2, r._row_id) for r in t.row_tracking_df().collect()}
    assert got == {
        0: ("v0", 0), 1: ("v1", 1), 2: ("UP", 2), 3: ("v3", 3), 4: ("v4", 4)
    }


def test_cdf_carries_commit_timestamp(spark, root):
    """r8: table_changes and the delta_cdc stream emit the spec's CDF
    ``_commit_timestamp`` (epoch millis) — the commitInfo's authoritative
    inCommitTimestamp when ICT is on (strictly monotonic across commits),
    else the commit file's mtime per the read rule."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        DeltaCdcDataSource,
    )

    t = DeltaTable.create(
        spark, root, spark.createDataFrame([(1, "a")], "k long, s string")
    )
    t.append(spark.createDataFrame([(2, "b")], "k long, s string"))
    # pre-ICT commits: mtime fallback — present, non-null
    ch = t.table_changes(-1, t.latest_version())
    assert "_commit_timestamp" in ch.columns
    pre = {r["_commit_version"]: r["_commit_timestamp"] for r in ch.collect()}
    assert all(v is not None for v in pre.values())
    t.enable_in_commit_timestamps()
    t.append(spark.createDataFrame([(3, "c")], "k long, s string"))
    t.append(spark.createDataFrame([(4, "d")], "k long, s string"))
    v = t.latest_version()
    got = {
        r["_commit_version"]: r["_commit_timestamp"]
        for r in t.table_changes(v - 2, v).collect()
    }
    # ICT commits: the feed's timestamp IS the log's inCommitTimestamp,
    # strictly increasing
    assert got[v] == t._commit_timestamp(v)
    assert got[v - 1] == t._commit_timestamp(v - 1)
    assert got[v] > got[v - 1]
    # streaming source: same trailing column
    try:
        spark.dataSource.register(DeltaCdcDataSource)
    except Exception:
        pass
    sink = os.path.join(root, "_ts_sink")
    q = (
        spark.readStream.format("delta_cdc")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(root, "_ts_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(sink)
    sts = {
        r["commit_version"]: r["_commit_timestamp"] for r in feed.collect()
    }
    assert sts[v] == t._commit_timestamp(v) and sts[v] > sts[v - 1]


def test_stream_append_exactly_once(spark, root, tmp_path):
    """availableNow drain into a Delta table via foreachBatch + txn actions;
    a manual replay of an already-committed batch id must be a no-op, and a
    NEW batch id must still land — the Delta idempotent-writes contract."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        stream_append,
    )

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(src, "a.parquet"))
    t = DeltaTable.create(
        spark, root, spark.createDataFrame([], "k long")
    )
    stream = spark.readStream.schema("k long").parquet(src)
    stream_append(t, stream, "s1", os.path.join(str(tmp_path), "ckpt"))
    assert t.read().count() == 3
    committed = t.seen_txn("s1")
    assert committed is not None
    one = spark.createDataFrame([(9,)], "k long")
    v_before = t.latest_version()

    def _write(batch_df, batch_id):
        s = t.seen_txn("s1")
        if s is not None and s >= batch_id:
            return
        t.append(batch_df, txn=("s1", batch_id))

    _write(one, committed)  # replay: skipped
    assert t.latest_version() == v_before
    _write(one, committed + 1)  # new batch: lands
    assert t.read().count() == 4


def test_cleanup_log_respects_checkpoint_and_window(spark, root):
    t = DeltaTable.create(spark, root, spark.range(2).select(F.col("id").alias("k")))
    for i in range(12):  # versions 1..12; checkpoint at 10
        t.append(spark.range(1).select(F.col("id").alias("k")))
    before = t.read().count()
    res = t.cleanup_log(keep_versions=5)
    # deletable: v < 10 (checkpoint) AND v < 8 (last-5 floor) → v0..v7
    assert res["commits_deleted"] == 8
    t2 = DeltaTable(spark, root)
    assert t2.read().count() == before
    assert t2.read(10).count() == before - 2  # checkpoint version still travels
    assert t2.cleanup_log(keep_versions=5)["commits_deleted"] == 0  # idempotent


def test_merge_upsert_with_file_pruning(spark, root):
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    t = DeltaTable.create(spark, root, df.repartitionByRange(4, "k"))
    assert len(t.files()) == 4
    upd = spark.createDataFrame([(150, 999), (155, 998), (999, 111)], "k long, v long")
    res = t.merge(upd, key="k")
    assert res["updated"] == 2 and res["inserted"] == 1
    # keys 150/155/999: ranges [100,200) and [300,400) overlap → ≤2 rewritten
    assert res["files_rewritten"] <= 2 and res["files_carried"] >= 2
    got = t.read()
    assert got.count() == 401
    assert {r["v"] for r in got.where(F.col("k").isin(150, 155, 999)).collect()} == {999, 998, 111}
    # pre-merge snapshot unchanged
    assert t.read(0).where(F.col("k") == 999).count() == 0


def test_merge_empty_batch_is_noop_commit(spark, root):
    t = DeltaTable.create(spark, root, spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("v")))
    res = t.merge(spark.createDataFrame([], "k long, v int"), key="k", txn=("m", 1))
    assert res == {"updated": 0, "inserted": 0, "files_rewritten": 0,
                   "files_carried": res["files_carried"]}
    assert t.seen_txn("m") == 1  # idempotency ledger still advanced


def test_merge_partitioned_table(spark, root):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)], "k long, part string, v long"
    )
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    upd = spark.createDataFrame([(2, "b", 99), (4, "c", 44)], "k long, part string, v long")
    res = t.merge(upd, key="k")
    assert res["updated"] == 1 and res["inserted"] == 1
    got = sorted(tuple(r) for r in t.read().collect())
    assert (2, "b", 99) in got and (4, "c", 44) in got and (1, "a", 10) in got
    # rewritten files still hive-partitioned (partition col not in files)
    import pyarrow.parquet as pq

    for a in t.files():
        assert "part" not in pq.read_schema(t._abs_path(a["path"])).names


def test_delete_rewrites_only_matching_files(spark, root):
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    t = DeltaTable.create(spark, root, df.repartitionByRange(4, "k"))
    res = t.delete("k BETWEEN 150 AND 160")
    assert res["deleted"] == 11 and res["files_rewritten"] == 1
    assert t.read().count() == 389
    assert t.read(0).count() == 400  # time travel intact
    # deleting nothing commits a no-op
    assert t.delete("k = -1") == {"deleted": 0, "files_rewritten": 0}


def test_compact_datachange_false_and_cdc_skips_it(spark, root, tmp_path):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.change_feed import (
        DeltaCdcDataSource,
    )

    df = spark.createDataFrame([(i, f"p{i % 2}") for i in range(20)], "k int, part string")
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    for i in range(3):  # accumulate small files
        t.append(
            spark.createDataFrame([(100 + i, "p0")], "k int, part string").coalesce(1)
        )
    before = sorted(tuple(r) for r in t.read().collect())
    assert len(t.files()) == 2 + 3
    res = t.compact(target_files=1)
    assert res["files_rewritten"] == 4  # p0's 4 files; p1 already compact
    assert len(t.files()) == 2
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # the OPTIMIZE commit carries dataChange=false on every action
    acts = t._commit_actions(t.latest_version())
    flags = [a["add"].get("dataChange") for a in acts if "add" in a] + [
        a["remove"].get("dataChange") for a in acts if "remove" in a
    ]
    assert flags and all(f is False for f in flags)
    # CDC drain sees the data commits but NOT the compaction
    try:
        spark.dataSource.register(DeltaCdcDataSource)
    except Exception:
        pass
    sink = os.path.join(str(tmp_path), "sink")
    q = (
        spark.readStream.format("delta_cdc")
        .load(root)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    feed = spark.read.parquet(sink)
    assert feed.where(F.col("commit_version") == t.latest_version()).count() == 0
    assert feed.where(F.col("change_type") == "remove").count() == 0
    assert feed.count() == 23  # 20 create + 3 append rows, nothing from OPTIMIZE


def test_merge_null_keys_are_pure_inserts(spark, root):
    t = DeltaTable.create(
        spark, root, spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1)
    )
    # all-null-key batch: equality never matches → pure insert, NOT a no-op
    res = t.merge(spark.createDataFrame([(None, 77)], "k long, v long"), key="k")
    assert res == {"updated": 0, "inserted": 1, "files_rewritten": 0, "files_carried": 1}
    assert t.read().count() == 2
    # mixed batch: null-key row inserts, real key updates; nulls don't break
    # the sorted probe
    res2 = t.merge(
        spark.createDataFrame([(1, 99), (None, 88)], "k long, v long"), key="k"
    )
    assert res2["updated"] == 1 and res2["inserted"] == 1
    got = t.read()
    assert got.where(F.col("k") == 1).collect()[0]["v"] == 99
    assert got.where(F.col("k").isNull()).count() == 2  # one per merge batch


def test_check_constraints_enforced_on_writes(spark, root):
    t = DeltaTable.create(
        spark, root, spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1)
    )
    t.add_constraint("v_positive", "v > 0")
    assert t.constraints() == {"v_positive": "v > 0"}
    # violating append refused, table unchanged
    with pytest.raises(ValueError, match="v_positive"):
        t.append(spark.createDataFrame([(2, -5)], "k long, v long"))
    assert t.read().count() == 1
    # violating merge refused (NULL counts as violation under coalesce-false)
    with pytest.raises(ValueError, match="v_positive"):
        t.merge(spark.createDataFrame([(1, None)], "k long, v long"), key="k")
    # valid writes pass
    t.append(spark.createDataFrame([(2, 5)], "k long, v long"))
    assert t.read().count() == 2
    # adding a constraint the existing data violates is refused
    with pytest.raises(ValueError, match="existing rows"):
        t.add_constraint("k_small", "k < 2")
    # constraints survive through the metaData action (fresh handle)
    t2 = DeltaTable(spark, root)
    assert t2.constraints() == {"v_positive": "v > 0"}


def test_constraints_survive_checkpoint_and_log_cleanup(spark, root):
    t = DeltaTable.create(
        spark, root, spark.createDataFrame([(1, 10)], "k long, v long").coalesce(1)
    )
    t.add_constraint("v_positive", "v > 0")
    for i in range(10):  # cross the checkpoint interval
        t.append(spark.createDataFrame([(10 + i, 1)], "k long, v long").coalesce(1))
    t.cleanup_log(keep_versions=1)
    t2 = DeltaTable(spark, root)
    assert t2.constraints() == {"v_positive": "v > 0"}
    with pytest.raises(ValueError, match="v_positive"):
        t2.append(spark.createDataFrame([(99, -1)], "k long, v long"))


def test_delete_on_partitioned_table(spark, root):
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(20)], "k long, part string, v long"
    )
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    # predicate mixes a data column and the reconstructed partition column
    res = t.delete("part = 'p0' AND k >= 10")
    assert res["deleted"] == 5 and res["files_rewritten"] == 1
    got = t.read()
    assert got.count() == 15
    assert got.where("part = 'p0' AND k >= 10").count() == 0
    # rewritten files keep the hive layout (partition col not in files)
    import pyarrow.parquet as pq

    for a in t.files():
        assert "part" not in pq.read_schema(t._abs_path(a["path"])).names


def test_shallow_clone_shares_files_and_diverges(spark, root, tmp_path):
    df = spark.createDataFrame([(i, i * 10) for i in range(8)], "k long, v long")
    t = DeltaTable.create(spark, root, df.repartition(2, "k"))
    t.delete_vectors("k = 0")  # the clone must inherit the DV mask
    dest = os.path.join(str(tmp_path), "clone")
    c = t.clone(dest)
    assert sorted(tuple(r) for r in c.read().collect()) == sorted(
        tuple(r) for r in t.read().collect()
    )
    # metadata-only: the clone's adds reference the SOURCE's files
    src_files = {os.path.abspath(t._abs_path(a["path"])) for a in t.files()}
    assert {os.path.abspath(c._abs_path(a["path"])) for a in c.files()} == src_files
    # divergence: writes to the clone never touch the source
    c.append(spark.createDataFrame([(99, 990)], "k long, v long"))
    c.delete("k = 1")
    assert t.read().count() == 7
    assert c.read().count() == 7  # 7 - 1 + 1
    # vacuum on the CLONE only walks its own root: source files survive
    c.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert all(os.path.exists(p) for p in src_files)
    assert t.read().count() == 7


def test_convert_parquet_to_delta_in_place(spark, tmp_path):
    """CONVERT TO DELTA: a _delta_log lands INSIDE an existing hive-layout
    parquet dir; no data file is copied, moved, or rewritten; partition
    pruning and all write ops work on top."""
    import glob

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        convert_parquet_to_delta,
    )

    root = str(tmp_path / "plain")
    src = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(30)], "k long, part string, v long"
    )
    src.coalesce(1).write.partitionBy("part").parquet(root)
    before = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    t = convert_parquet_to_delta(spark, root)
    after = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    assert before == after  # zero data movement
    assert sorted(tuple(r) for r in t.read().select("k", "part", "v").collect()) == sorted(
        tuple(r) for r in src.collect()
    )
    assert t.partition_columns() == ["part"]
    # log-level pruning works from commit 0
    assert len(t.files(partition_filter={"part": "p1"})) == 1
    assert t.read(partition_filter={"part": "p1"}).count() == 10
    # converted table is writable: delete + append + time travel
    t.delete("k % 2 = 0")
    t.append(spark.createDataFrame([(100, "p0", 0)], "k long, part string, v long"))
    assert t.read().count() == 15 + 1
    assert t.read(version=0).count() == 30  # pre-conversion content intact
    # double-convert refuses
    with pytest.raises(FileExistsError):
        convert_parquet_to_delta(spark, root)


def test_convert_unpartitioned_dir(spark, tmp_path):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        convert_parquet_to_delta,
    )

    root = str(tmp_path / "flat")
    spark.range(100).select(F.col("id").alias("k")).coalesce(2).write.parquet(root)
    t = convert_parquet_to_delta(spark, root)
    assert t.read().count() == 100
    assert t.partition_columns() == []
    # footer stats landed in the log → bounds skipping works
    assert len(t.files()) == 2
    assert len(t.files(bounds={"k": (1000, 2000)})) == 0


def test_convert_numeric_partition_values(spark, tmp_path):
    """Numeric hive dirs: partitionValues are strings in the log, cast back
    through the schema's inferred int type on read."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        convert_parquet_to_delta,
    )

    root = str(tmp_path / "num")
    spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "k long, p int"
    ).coalesce(1).write.partitionBy("p").parquet(root)
    t = convert_parquet_to_delta(spark, root)
    assert [f.name for f in t.schema().fields] == ["k", "p"]
    assert t.read().where("p = 1").count() == 4
    assert sorted(r["p"] for r in t.read().select("p").distinct().collect()) == [0, 1, 2]


def test_optimize_zorder_by_improves_log_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): after clustering, a selective filter on
    EITHER column must skip most files from the LOG stats alone, and a
    filter on the non-write-order column must skip far better than the
    pre-optimize row-number layout. dataChange=false throughout."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.deltalog import (
        DeltaTable,
    )

    n = 4096
    df = spark.range(n).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % n).alias("y"),  # decorrelated from x
        (F.col("id") % 7).alias("v"),
    )
    root = str(tmp_path / "zo")
    # repartitionByRange on x, NOT round-robin repartition: round-robin picks
    # a RANDOM start position per task, so the pre-optimize file layout (and
    # files_before_y) would vary run to run — this test flaked on that.
    t = DeltaTable.create(spark, root, df.repartitionByRange(8, F.col("x")))
    files_before_y = len(t.files(bounds={"y": (0, n // 8)}))
    res = t.compact(target_files=8, zorder_by=["x", "y"])
    assert res["files_rewritten"] == 8
    assert len(t.files()) == 8
    # log-only skipping: a 1/8 slice of either dimension keeps few files
    kept_x = len(t.files(bounds={"x": (0, n // 8)}))
    kept_y = len(t.files(bounds={"y": (0, n // 8)}))
    # A 1/8 slice of a 2-D Morton layout over 8 files touches 3-5 files
    # depending on the sampled range-partition boundaries; the invariant is
    # "both dimensions skip", not a razor-thin per-dimension count.
    assert kept_x <= 5 and kept_y <= 5, (kept_x, kept_y)
    assert kept_x + kept_y <= 8, (kept_x, kept_y)
    assert kept_y < files_before_y  # better than the unclustered layout
    # content unchanged; the optimize commit is dataChange=false end to end
    assert t.read().count() == n
    assert t.read(bounds={"y": (0, 8)}).where("y <= 8").count() == df.where("y <= 8").count()
    acts = t._commit_actions(t.latest_version())
    changed = [
        a for a in acts
        if ("add" in a and a["add"].get("dataChange"))
        or ("remove" in a and a["remove"].get("dataChange"))
    ]
    assert changed == []
    with pytest.raises(NotImplementedError, match="2-4 columns"):
        t.compact(zorder_by=["x"])
    with pytest.raises(NotImplementedError, match="2-4 columns"):
        t.compact(zorder_by=["a", "b", "c", "d", "e"])


def test_v2_checkpoint_sidecars_roundtrip(spark, root):
    """V2 checkpoint (spec: V2 Checkpoints): adds split into sidecar
    parquet files under _delta_log/_sidecars, referenced from a UUID-named
    main checkpoint with checkpointMetadata/protocol/metaData/sidecar
    rows. A fresh handle must resolve snapshots from it (including DV
    descriptors straight out of a sidecar), commits after it still apply,
    and the protocol carries the v2Checkpoint feature."""
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(12)], "k long, part string, v long"
    )
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    t.delete_vectors("k % 4 = 1")  # DV descriptors must survive the sidecar hop
    res = t.write_checkpoint_v2(sidecar_parts=2)
    assert res["sidecars"] == 2
    side_dir = os.path.join(root, "_delta_log", "_sidecars")
    assert len(os.listdir(side_dir)) == 2
    assert any(
        n[:20].isdigit() and ".checkpoint." in n and len(n) > len("x" * 20 + ".checkpoint.parquet")
        for n in os.listdir(os.path.join(root, "_delta_log"))
    )
    # fresh handle, then delete the JSON commits the checkpoint covers:
    # resolution must work from checkpoint + sidecars alone
    t2 = DeltaTable(spark, root)
    assert "v2Checkpoint" in t2.protocol()["readerFeatures"]
    assert t2.read().count() == 9
    assert sorted(r.k for r in t2.read().select("k").collect()) == [
        k for k in range(12) if k % 4 != 1
    ]
    # a commit after the checkpoint still applies on top of it
    t2.append(spark.createDataFrame([(100, "p0", 1)], "k long, part string, v long"))
    t3 = DeltaTable(spark, root)
    assert t3.read().count() == 10
    # and the adds really came from sidecars, not inline rows
    import pyarrow.parquet as pq

    main = max(
        (n for n in os.listdir(os.path.join(root, "_delta_log")) if ".checkpoint." in n),
        key=len,
    )
    cols = pq.read_table(os.path.join(root, "_delta_log", main)).to_pylist()
    assert not any(r.get("add") for r in cols)
    assert sum(1 for r in cols if r.get("sidecar")) == 2


def test_classic_checkpoint_of_partitioned_table_reconstructs_partitions(spark, root):
    """Regression (r5, found via the v2-checkpoint work): parquet MAP
    columns deserialize as [(k, v), ...] tuple lists, so a PARTITIONED
    table resolved from a classic checkpoint row crashed (or lost) its
    partitionValues. Snapshot from the checkpoint alone must reconstruct
    the partition column."""
    df = spark.createDataFrame(
        [(i, f"p{i % 2}") for i in range(8)], "k long, part string"
    )
    t = DeltaTable.create(spark, root, df.coalesce(1), partition_by=["part"])
    for i in range(10):
        t.append(
            spark.createDataFrame([(100 + i, f"p{i % 2}")], "k long, part string")
        )
    log = os.path.join(root, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{10:020d}.checkpoint.parquet"))
    for v in range(0, 10):
        os.unlink(os.path.join(log, _fmt_commit(v)))
    t2 = DeltaTable(spark, root)
    assert t2.read().count() == 18
    assert t2.read(partition_filter={"part": "p1"}).count() == 4 + 5
    assert set(r.part for r in t2.read().select("part").distinct().collect()) == {"p0", "p1"}


def test_cleanup_reclaims_superseded_checkpoints_and_orphan_sidecars(spark, root):
    """r5: successive v2 checkpoints must not leak their parts — cleanup
    deletes checkpoints below the latest (and same-version duplicates the
    resolver would not pick) plus sidecars referenced by no survivor, and
    resolution still works afterwards."""
    t = DeltaTable.create(spark, root, spark.range(6).select(F.col("id").alias("k")))
    t.append(spark.range(6, 9).select(F.col("id").alias("k")))
    t.write_checkpoint_v2(sidecar_parts=2)   # ckpt at v2 (after upgrade commit)
    t.append(spark.range(9, 12).select(F.col("id").alias("k")))
    t.write_checkpoint_v2(sidecar_parts=3)   # ckpt at v3 supersedes v2's
    side_dir = os.path.join(root, "_delta_log", "_sidecars")
    assert len(os.listdir(side_dir)) == 5
    res = t.cleanup_log(keep_versions=1)
    assert res["checkpoints_deleted"] >= 1
    assert res["sidecars_deleted"] == 2  # the first checkpoint's parts
    assert len(os.listdir(side_dir)) == 3
    t2 = DeltaTable(spark, root)
    assert t2.read().count() == 12
    # idempotent: nothing further to reclaim
    res2 = t2.cleanup_log(keep_versions=1)
    assert res2["checkpoints_deleted"] == 0 and res2["sidecars_deleted"] == 0


def test_engine_writes_and_reads_multipart_checkpoint(spark, root):
    """r6: the writer side of the multi-part classic checkpoint layout —
    _write_checkpoint(parts=3) splits the snapshot rows across
    N.checkpoint.<i>.<n>.parquet files and records parts in
    _last_checkpoint; a fresh handle resolves the snapshot from ALL parts
    after the commits below it are expired."""
    import json as _json

    t = DeltaTable.create(
        spark, root,
        spark.range(40).select(F.col("id").alias("k")).repartition(5),
    )
    t.append(spark.range(40, 50).select(F.col("id").alias("k")).repartition(2))
    ck = t.latest_version()
    t._write_checkpoint(t._state(ck), parts=3)
    names = [
        n for n in os.listdir(t.log_dir)
        if ".checkpoint." in n and n.endswith(".parquet")
    ]
    assert sorted(names) == [
        f"{ck:020d}.checkpoint.{i:010d}.{3:010d}.parquet" for i in (1, 2, 3)
    ]
    with open(os.path.join(t.log_dir, "_last_checkpoint")) as f:
        last = _json.load(f)
    assert last["parts"] == 3 and last["version"] == ck
    for v in range(ck):  # expire everything below the checkpoint
        p = os.path.join(t.log_dir, _fmt_commit(v))
        if os.path.exists(p):
            os.unlink(p)
    fresh = DeltaTable(spark, root)
    assert sorted(r.k for r in fresh.read().collect()) == list(range(50))
    assert fresh.protocol()["minReaderVersion"] >= 1


def test_change_data_feed_merge_writes_cdc_files(spark, root, tmp_path):
    """r6 CDF: an enabled table's MERGE writes a _change_data parquet
    (cdc action, dataChange=false) whose rows are the update pre/post
    images + inserts; table_changes uses it EXCLUSIVELY for that commit
    and still nets append/delete commits from add/remove; vacuum protects
    referenced cdc files."""
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame(
            [(i, f"t{i % 3}", i * 10) for i in range(9)], "k long, tag string, v long"
        ).coalesce(1),
    )
    assert t.enable_change_data_feed() == {"already_enabled": False}
    assert t.enable_change_data_feed() == {"already_enabled": True}
    assert "changeDataFeed" in t.protocol()["writerFeatures"]
    # writer-only feature: must NOT pollute readerFeatures
    assert "changeDataFeed" not in (t.protocol().get("readerFeatures") or [])
    t.merge(
        spark.createDataFrame([(0, "upd", 900), (77, "new", 770)], "k long, tag string, v long"),
        key="k",
    )
    mv = t.latest_version()
    acts = t._commit_actions(mv)
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert len(cdc) == 1 and cdc[0]["dataChange"] is False
    assert cdc[0]["path"].startswith("_change_data/")
    ch = {(r["k"], r["_change_type"]): r for r in t.table_changes(mv - 1, mv).collect()}
    assert set(ch) == {(0, "update_preimage"), (0, "update_postimage"), (77, "insert")}
    assert ch[(0, "update_preimage")]["v"] == 0
    assert ch[(0, "update_postimage")]["v"] == 900
    # append + CoW delete commits still derive from add/remove netting
    t.append(spark.createDataFrame([(100, "a", 1)], "k long, tag string, v long"))
    t.delete("k = 1")
    ch2 = [(r["k"], r["_change_type"]) for r in t.table_changes(mv, t.latest_version()).collect()]
    assert (100, "insert") in ch2 and (1, "delete") in ch2
    assert not any(ct.startswith("update") for _k, ct in ch2)
    # vacuum keeps the referenced cdc file alive
    cdc_abs = os.path.join(root, cdc[0]["path"])
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert os.path.exists(cdc_abs)
    assert t.read().count() == 10  # 9 - 1 deleted + 77 + 100 = 10


def test_change_data_feed_composes_with_column_mapping(spark, root):
    """cdc files store PHYSICAL column names; table_changes must resolve
    them back through the current logical schema after a rename."""
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").coalesce(1),
    )
    t.enable_column_mapping()
    t.rename_column("v", "val")
    t.enable_change_data_feed()
    t.merge(spark.createDataFrame([(1, 99)], "k long, val long"), key="k")
    mv = t.latest_version()
    ch = {r["_change_type"]: r for r in t.table_changes(mv - 1, mv).collect()}
    assert ch["update_preimage"]["val"] == 10
    assert ch["update_postimage"]["val"] == 99


def _rt_map(t, col="_row_id"):
    return {r.k: r[col] for r in t.row_tracking_df().collect()}


def test_row_tracking_end_to_end(spark, root):
    """Delta ROW TRACKING (r7 — spec §Row Tracking, the Delta twin of
    Iceberg v3 row lineage): enable backfills baseRowId over live files
    and records the high-water mark as delta.rowTracking domain metadata;
    appends extend the id space; DV deletes, CoW deletes, OPTIMIZE and
    MERGE all preserve survivors' ids (rewrites MATERIALIZE them into the
    physical columns named by the table properties); matched MERGE rows
    bump _row_commit_version; checkpoints persist everything."""
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame([(i, i * 10) for i in range(8)], "k long, v long")
        .orderBy("k").coalesce(1),
    )
    with pytest.raises(ValueError, match="row tracking"):
        t.row_tracking_df()
    r = t.enable_row_tracking()
    assert r["already_enabled"] is False
    assert r["row_id_high_water_mark"] == 7
    assert t.enable_row_tracking()["already_enabled"] is True
    proto = t.protocol()
    assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])
    lin = _rt_map(t)
    assert sorted(lin.values()) == list(range(8))  # dense, unique
    rcv = _rt_map(t, "_row_commit_version")
    assert set(rcv.values()) == {1}  # backfill commit version
    # plain read() is untouched (materialized cols live OUTSIDE the schema)
    assert set(t.read().columns) == {"k", "v"}
    # append: fresh ids above the high-water mark, commit version stamps
    t.append(spark.createDataFrame([(100, 1), (101, 2)], "k long, v long").coalesce(1))
    lin2 = _rt_map(t)
    assert all(lin2[k] == lin[k] for k in lin)
    assert sorted(lin2[k] for k in (100, 101)) == [8, 9]
    dm = t.domain_metadata()["delta.rowTracking"]
    assert dm["rowIdHighWaterMark"] == 9
    # DV delete: merge-on-read masks rows without moving survivors
    t.delete_vectors("k = 3")
    lin3 = _rt_map(t)
    assert 3 not in lin3 and all(lin3[k] == lin2[k] for k in lin3)
    # CoW delete: survivors are REWRITTEN — ids must be materialized through
    t.delete("k = 5")
    lin4 = _rt_map(t)
    assert 5 not in lin4 and all(lin4[k] == lin3[k] for k in lin4)
    rcv4 = _rt_map(t, "_row_commit_version")
    assert rcv4[0] == 1 and rcv4[100] == 2  # survivors keep THEIR versions
    # OPTIMIZE: copies every row; ids and versions unchanged
    t.compact(target_files=1)
    assert _rt_map(t) == lin4
    assert _rt_map(t, "_row_commit_version") == rcv4
    # MERGE: matched rows keep ids but take the merge commit's version;
    # inserted rows get fresh ids
    v_before = t.latest_version()
    t.merge(spark.createDataFrame([(1, 999), (200, 5)], "k long, v long"), key="k")
    lin5 = _rt_map(t)
    assert lin5[1] == lin4[1]  # updated row kept its id
    assert all(lin5[k] == lin4[k] for k in lin4)  # carried rows too
    hwm = t.domain_metadata()["delta.rowTracking"]["rowIdHighWaterMark"]
    assert lin5[200] > max(lin4.values()) and lin5[200] <= hwm
    rcv5 = _rt_map(t, "_row_commit_version")
    assert rcv5[1] == v_before + 1  # updated row bumped
    assert rcv5[0] == rcv4[0]  # carried row did not
    assert rcv5[200] == v_before + 1
    # checkpoint round-trip: domain metadata + baseRowId survive a fresh
    # resolve through the parquet checkpoint alone
    t._write_checkpoint(t._state())
    t2 = DeltaTable(spark, root)
    t2.cleanup_log(keep_versions=1)
    t3 = DeltaTable(spark, root)
    assert _rt_map(t3) == lin5
    assert t3.domain_metadata()["delta.rowTracking"]["rowIdHighWaterMark"] == hwm
    # clone carries the high-water mark: new ids on the clone stay unique
    c = t3.clone(root + "_clone")
    assert c.domain_metadata()["delta.rowTracking"]["rowIdHighWaterMark"] == hwm
    c.append(spark.createDataFrame([(300, 1)], "k long, v long"))
    clin = {r.k: r._row_id for r in c.row_tracking_df().collect()}
    assert clin[300] == hwm + 1
    assert all(clin[k] == lin5[k] for k in lin5)


def test_in_commit_timestamps_monotonic_and_time_travel(spark, root):
    """In-commit timestamps (r7 — spec §In-Commit Timestamps): after
    enablement every commit's FIRST action is commitInfo carrying a
    strictly increasing inCommitTimestamp (max(now, prev+1) — immune to
    file-mtime skew); the enablement commit records version/timestamp
    properties; version_at_timestamp resolves TIMESTAMP AS OF across the
    mtime/ICT boundary."""
    t = DeltaTable.create(spark, root, spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    r = t.enable_in_commit_timestamps()
    assert r["already_enabled"] is False and r["version"] == 2
    assert t.enable_in_commit_timestamps()["already_enabled"] is True
    _, meta = t.snapshot()
    cfg = meta["configuration"]
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "2"
    assert "inCommitTimestamp" in set(t.protocol()["writerFeatures"])
    t.append(spark.createDataFrame([(3,)], "k long"))
    t.append(spark.createDataFrame([(4,)], "k long"))
    t.delete("k = 1")
    # every post-enablement commit: commitInfo FIRST, ICT strictly rising
    icts = []
    for v in range(2, t.latest_version() + 1):
        acts = t._commit_actions(v)
        assert "commitInfo" in acts[0], f"v{v}: commitInfo not first"
        icts.append(acts[0]["commitInfo"]["inCommitTimestamp"])
    assert icts == sorted(set(icts)), f"not strictly monotonic: {icts}"
    # pre-enablement commits carry none
    for v in (0, 1):
        for a in t._commit_actions(v):
            assert "inCommitTimestamp" not in (a.get("commitInfo") or {})
    # TIMESTAMP AS OF: each commit's own timestamp resolves to it
    for v in range(t.latest_version() + 1):
        assert t.version_at_timestamp(t._commit_timestamp(v)) >= v
    assert t.version_at_timestamp(icts[-1]) == t.latest_version()
    with pytest.raises(ValueError, match="predates"):
        t.version_at_timestamp(0)


def test_type_widening_reads_old_files_upcast(spark, root):
    """Type widening (r7 — spec §Type Widening): metadata-only int->long /
    float->double widen; files written BEFORE the widen keep their narrow
    physical type and upcast at scan; delta.typeChanges records the
    change; narrowings and partition columns refuse."""
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, x float"),
    )
    r = t.widen_column("k", "long")
    assert (r["from"], r["to"]) == ("integer", "long")
    t.widen_column("x", "double")
    # post-widen appends may carry values an int cannot hold
    t.append(spark.createDataFrame([(5_000_000_000, 9.25)], "k long, x double"))
    got = sorted((r_.k, r_.x) for r_ in t.read().collect())
    assert got == [(1, 1.5), (2, 2.5), (5_000_000_000, 9.25)]
    st = t.schema()
    assert st["k"].dataType.typeName() == "long"
    tc = st["k"].metadata["delta.typeChanges"]
    assert tc[0]["fromType"] == "integer" and tc[0]["toType"] == "long"
    assert "typeWidening" in set(t.protocol()["readerFeatures"])
    # time travel below the widen still reads ints
    assert t.schema(0)["k"].dataType.typeName() == "integer"
    # stats-driven merge still prunes/rewrites correctly across mixed files
    t.merge(spark.createDataFrame([(2, 99.0), (7, 7.0)], "k long, x double"), key="k")
    got = sorted((r_.k, r_.x) for r_ in t.read().collect())
    assert got == [(1, 1.5), (2, 99.0), (7, 7.0), (5_000_000_000, 9.25)]
    with pytest.raises(NotImplementedError, match="widening"):
        t.widen_column("x", "float")  # narrowing
    t2 = DeltaTable.create(
        spark, root + "_p",
        spark.createDataFrame([("a", 1)], "k string, p int"),
        partition_by=["p"],
    )
    with pytest.raises(NotImplementedError, match="partition"):
        t2.widen_column("p", "long")


def test_liquid_clustering_optimize_clusters_by_domain_metadata(spark, root):
    """Liquid clustering (r7 — spec §Clustered Table): clustering columns
    register as delta.clustering DOMAIN METADATA (changeable without a
    rewrite, unlike hive partitioning); OPTIMIZE then clusters by them —
    1 column range-clusters into non-overlapping files, a RE-cluster to a
    different column is metadata + one OPTIMIZE."""
    import random

    rnd = random.Random(7)
    rows = [(rnd.randrange(10_000), rnd.randrange(10_000)) for _ in range(4000)]
    t = DeltaTable.create(
        spark, root,
        spark.createDataFrame(rows, "x long, y long").repartition(8),
    )
    r = t.set_clustering_columns(["x"])
    assert t.clustering_columns() == ["x"]
    assert "clustering" in set(t.protocol()["writerFeatures"])
    t.compact(target_files=4)

    def spans(col):
        out = []
        for a in t.files():
            st = json.loads(a["stats"])
            out.append((st["minValues"][col], st["maxValues"][col]))
        return sorted(out)

    sx = spans("x")
    assert len(sx) == 4
    assert all(sx[i][1] <= sx[i + 1][0] for i in range(len(sx) - 1)), sx
    # re-cluster: metadata change + OPTIMIZE, no manual rewrite plumbing
    t.set_clustering_columns(["y"])
    t.compact(target_files=4)
    sy = spans("y")
    assert all(sy[i][1] <= sy[i + 1][0] for i in range(len(sy) - 1)), sy
    # rows unchanged throughout
    assert sorted(tuple(r_) for r_ in t.read().collect()) == sorted(rows)
    with pytest.raises(ValueError, match="no column"):
        t.set_clustering_columns(["zz"])
    with pytest.raises(NotImplementedError, match="1-4"):
        t.set_clustering_columns(["x", "y", "x", "y", "x"])
    # r8: 3 columns cluster via the N-way Morton interleave — every
    # clustering column's summed per-file span shrinks vs full-range
    t2 = DeltaTable.create(
        spark, root + "_3c",
        spark.createDataFrame(
            [(a, b, (a * 7 + b * 13) % 10_000) for a, b in rows],
            "x long, y long, w long",
        ).repartition(8),
    )
    t2.set_clustering_columns(["x", "y", "w"])
    t2.compact(target_files=8)
    for col in ("x", "y", "w"):
        sp = []
        for a in t2.files():
            st = json.loads(a["stats"])
            sp.append(st["maxValues"][col] - st["minValues"][col])
        grange = 10_000
        assert sum(sp) < 0.8 * len(sp) * grange, col
