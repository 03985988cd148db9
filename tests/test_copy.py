"""Copy subsystem: idempotent planning (anti-join), distributed execution
with atomic publish, grant planner — the reference's whole behavior
surface (NB:110-305) under test, which the reference itself lacks. The
Graph page fixture below is served over http in test_graph_datasource.py."""

import errno
import os
import uuid
from types import SimpleNamespace

from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans import copy_plan
from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import (
    PERMISSIONS_SCHEMA,
    copy_tree,
    execute_copy,
    plan_copy,
    plan_grants,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import (
    MANIFEST_SCHEMA,
    GraphManifestDataSource,
)


def _build_tree(root):
    os.makedirs(os.path.join(root, "sub1", "sub2"))
    os.makedirs(os.path.join(root, "empty_dir"))
    with open(os.path.join(root, "a.csv"), "w") as f:
        f.write("x,y\n1,2\n")
    with open(os.path.join(root, "sub1", "b.bin"), "wb") as f:
        f.write(b"\x01\x02" * 100)
    with open(os.path.join(root, "sub1", "sub2", "c.txt"), "w") as f:
        f.write("hello\n")


def _register_graph_manifest(spark):
    try:
        spark.dataSource.register(GraphManifestDataSource)
    except Exception:
        pass  # already registered in this session


# --- Graph-shaped paged listing (FIXTURES.md B2) ----------------------------

PAGES = {
    "root#1": {
        "value": [
            {"id": "F1", "name": "sub1", "folder": {"childCount": 2}},
            {
                "id": "I1",
                "name": "a.csv",
                "file": {"mimeType": "text/csv"},
                "size": 8,
                "@microsoft.graph.downloadUrl": "u/a.csv",
            },
        ],
        "@odata.nextLink": "root#2",
    },
    "root#2": {
        "value": [
            {"id": "I2", "name": "package.one", "package": {"type": "oneNote"}},  # neither facet
            {
                "id": "I3",
                "name": "nourl.dat",
                "file": {"mimeType": "x"},
                "size": 1,
                # no downloadUrl → planner must skip it
            },
        ],
        "@odata.nextLink": None,
    },
    "children/F1": {
        "value": [
            {
                "id": "I4",
                "name": "b bin.dat",
                "file": {"mimeType": "x"},
                "size": 9,
                "@microsoft.graph.downloadUrl": "u/b%20bin.dat",
            }
        ],
        "@odata.nextLink": None,
    },
}


def test_plan_copy_drops_null_urls_and_already_copied(spark):
    manifest = spark.createDataFrame(
        [
            ("I1", "a.csv", "a.csv", "u/a.csv", 8),
            ("I3", "nourl.dat", "nourl.dat", None, 1),
            ("I4", "b bin.dat", "sub1/b bin.dat", "u/b%20bin.dat", 9),
        ],
        MANIFEST_SCHEMA,
    )
    todo = plan_copy(manifest, existing=None)
    assert {r["name"] for r in todo.collect()} == {"a.csv", "b bin.dat"}

    existing = spark.createDataFrame([("a.csv",)], "rel_path string")
    todo2 = plan_copy(manifest, existing)
    assert {r["name"] for r in todo2.collect()} == {"b bin.dat"}


# --- end-to-end local copy ---------------------------------------------------


def test_copy_tree_roundtrip_and_idempotency(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _build_tree(src)

    result = copy_tree(spark, src, dst)
    rows = result.collect()
    assert all(r["status"] == "ok" for r in rows)
    assert len(rows) == 3
    # byte-exact copies, tree shape preserved
    assert open(os.path.join(dst, "sub1", "sub2", "c.txt")).read() == "hello\n"
    assert (
        open(os.path.join(dst, "sub1", "b.bin"), "rb").read()
        == open(os.path.join(src, "sub1", "b.bin"), "rb").read()
    )
    # second run: nothing to do (the reference re-copies everything — we don't)
    assert copy_tree(spark, src, dst).count() == 0


def test_execute_copy_reports_errors_not_raises(spark, tmp_path):
    manifest = spark.createDataFrame(
        [("x", "ghost.bin", "ghost.bin", "/nonexistent/ghost.bin", 1)], MANIFEST_SCHEMA
    )
    out = execute_copy(plan_copy(manifest, None), str(tmp_path / "dst")).collect()
    assert len(out) == 1 and out[0]["status"] == "error" and out[0]["error"]


def _hidden(root):
    return [f for _, _, fs in os.walk(root) for f in fs if f.startswith(".")]


def test_failed_write_publishes_nothing_and_is_replanned(spark, tmp_path, monkeypatch):
    """A write that dies part-way (here ENOSPC after half the bytes, on
    every attempt) leaves nothing under the final name and no temp file,
    so the next plan against the destination listing plans the file
    again; a clean run then lands it and leaves no temp file either."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    payload = bytes(range(256)) * 32
    (src / "a.bin").write_bytes(payload)
    real_open = open

    class _HalfWriter:
        def __init__(self, f):
            self.f = f

        def write(self, data):
            self.f.write(data[: len(data) // 2])
            self.f.flush()
            raise OSError(errno.ENOSPC, "No space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

    def failing_open(path, mode="r", *a, **k):
        f = real_open(path, mode, *a, **k)
        return _HalfWriter(f) if "w" in mode or "x" in mode else f

    monkeypatch.setattr(copy_plan, "open", failing_open, raising=False)
    row = SimpleNamespace(file_id="a", src_path=str(src / "a.bin"), dest_path=str(dst / "a.bin"))
    out = dict(zip(copy_plan.RESULT_SCHEMA.names, copy_plan._copy_file(row, None, 2, 0.0)))
    monkeypatch.undo()
    assert out["status"] == "error" and out["attempts"] == 2
    assert "No space left" in out["error"]
    assert not (dst / "a.bin").exists()
    assert _hidden(dst) == []

    try:
        spark.dataSource.register(GraphManifestDataSource)
    except Exception:
        pass  # already registered in this session
    manifest = spark.read.format("graph_manifest").load(str(src))
    todo = plan_copy(manifest, spark.read.format("graph_manifest").load(str(dst)))
    assert [r["rel_path"] for r in todo.collect()] == ["a.bin"]

    rows = execute_copy(todo, str(dst)).collect()
    assert [(r["status"], r["bytes"]) for r in rows] == [("ok", len(payload))]
    assert (dst / "a.bin").read_bytes() == payload
    assert _hidden(dst) == []


def test_leftover_publish_temp_is_not_listed(spark, tmp_path):
    """A task killed mid-write leaves `_publish`'s hidden temp in the
    destination. The destination listing does not report it as a file, so
    the plan is the same as without it; any other dotfile is still listed."""
    src, dst = tmp_path / "src", tmp_path / "dst"
    _build_tree(str(src))
    assert all(r["status"] == "ok" for r in copy_tree(spark, str(src), str(dst)).collect())
    (dst / "a.csv").unlink()
    (dst / f".a.csv.{uuid.uuid4().hex}.tmp").write_bytes(b"x,y\n")
    (dst / "sub1" / f".b.bin.{uuid.uuid4().hex}.tmp").write_bytes(b"\x01")
    (dst / ".notes.tmp").write_bytes(b"kept")

    try:
        spark.dataSource.register(GraphManifestDataSource)
    except Exception:
        pass  # already registered in this session
    listed = spark.read.format("graph_manifest").load(str(dst))
    assert sorted(r["rel_path"] for r in listed.collect()) == [
        ".notes.tmp",
        "sub1/b.bin",
        "sub1/sub2/c.txt",
    ]
    todo = plan_copy(spark.read.format("graph_manifest").load(str(src)), listed)
    assert [r["rel_path"] for r in todo.collect()] == ["a.csv"]


# --- grant planner (FIXTURES.md B3, NB:110-144) ------------------------------


def test_plan_grants_idempotent(spark):
    perms = spark.createDataFrame(
        [
            (
                "P1",
                ["write"],
                [{"application": {"id": "app-b", "displayName": "MySite-Access"}}],
            )
        ],
        PERMISSIONS_SCHEMA,
    )
    desired = spark.createDataFrame(
        [("app-a", "Copier"), ("app-b", "MySite-Access")], "app_id string, display_name string"
    )
    todo = plan_grants(desired, perms).collect()
    # app-b already granted → only app-a planned, with write role
    assert [(r["app_id"], r["roles"]) for r in todo] == [("app-a", ["write"])]


def test_manifest_from_tree_empty(spark, tmp_path):
    """An empty drive lists no rows, with the declared schema; nothing to copy."""
    empty = tmp_path / "nothing"
    empty.mkdir()
    _register_graph_manifest(spark)
    m = spark.read.format("graph_manifest").load(str(empty))
    assert m.count() == 0
    assert m.schema == MANIFEST_SCHEMA
    assert plan_copy(m, None).count() == 0


def test_observe_metrics_on_copy_result(spark, tmp_path):
    """O23 (success counter) the Spark-native way: df.observe attaches
    aggregate metrics to the copy-result materialization — no second pass
    over the data, no driver-side counting loop (NB:283/303/305)."""
    from pyspark.sql import Observation

    src = str(tmp_path / "src3")
    _build_tree(src)
    obs = Observation("copy_metrics")
    result = copy_tree(spark, src, str(tmp_path / "dst3")).observe(
        obs,
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
        F.sum("bytes").alias("total_bytes"),
    )
    result.collect()
    got = obs.get
    assert got["n_files"] == 3 and got["n_ok"] == 3 and got["total_bytes"] > 0


def test_copy_retry_and_checksum(spark, tmp_path):
    """A copy records the md5 of what it wrote and attempts=1 on clean runs;
    a missing source exhausts max_attempts and lands as an error row."""
    import hashlib

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import execute_copy

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.bin").write_bytes(b"payload-a")
    manifest = spark.createDataFrame(
        [
            ("id-a", str(src / "a.bin"), "a.bin", 9),
            ("id-b", str(src / "missing.bin"), "missing.bin", 0),
        ],
        "file_id: string, download_url: string, rel_path: string, size: long",
    )
    result = execute_copy(manifest, str(tmp_path / "dst"), max_attempts=2, backoff_s=0.0)
    rows = {r["file_id"]: r for r in result.collect()}
    ok = rows["id-a"]
    assert ok["status"] == "ok" and ok["attempts"] == 1
    assert ok["checksum"] == hashlib.md5(b"payload-a").hexdigest()
    bad = rows["id-b"]
    assert bad["status"] == "error" and bad["attempts"] == 2 and bad["checksum"] is None


def test_verify_copy_detects_corruption(spark, tmp_path):
    """verify_copy: clean copies verify; a post-copy corruption and a deleted
    file surface as mismatch / missing. `_`- and `.`-prefixed names, files
    and folders alike, are listed, copied and verified like any other."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import (
        copy_tree,
        verify_copy,
    )

    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        (src / f"f{i}.bin").write_bytes(b"x" * (i + 1) * 10)
    hidden = ["_under.bin", ".dot.bin", "_folder/inner.bin"]
    (src / "_folder").mkdir()
    for name in hidden:
        (src / name).write_bytes(name.encode())
    dest = tmp_path / "dst"
    result = copy_tree(spark, str(src), str(dest)).cache()
    assert result.where("status = 'ok'").count() == 7
    assert all((dest / name).read_bytes() == name.encode() for name in hidden)

    (dest / "f0.bin").write_bytes(b"corrupted!")
    (dest / "f1.bin").unlink()
    verdict = {os.path.relpath(r["dest_path"], dest): r["verify_status"]
               for r in verify_copy(spark, result, str(dest)).collect()}
    assert verdict["f0.bin"] == "mismatch"
    assert verdict["f1.bin"] == "missing"
    assert verdict["f2.bin"] == "verified" and verdict["f3.bin"] == "verified"
    assert all(verdict[name] == "verified" for name in hidden)


def test_verify_copy_with_relative_dest_root(spark, tmp_path):
    """A relative dest_root verifies: verify_copy re-reads each recorded
    dest_path as the copy wrote it."""
    import os

    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import (
        copy_tree,
        verify_copy,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "one.bin").write_bytes(b"payload-1")
    (src / "two.bin").write_bytes(b"payload-22")
    rel_dest = os.path.relpath(str(tmp_path / "dst"), os.getcwd())
    result = copy_tree(spark, str(src), rel_dest).cache()
    assert result.where("status = 'ok'").count() == 2
    verdict = {
        r["dest_path"].split("/")[-1]: r["verify_status"]
        for r in verify_copy(spark, result, rel_dest).collect()
    }
    assert verdict == {"one.bin": "verified", "two.bin": "verified"}


# --- the copy's own stage ------------------------------------------------------


def _flat_drive(root, n):
    """One directory of `n` small files: the listing packs it into a
    single partition, since a directory is never split."""
    os.makedirs(root)
    for i in range(n):
        with open(os.path.join(root, f"f{i:02d}.bin"), "wb") as f:
            f.write(b"x" * (64 + i))


def _plan_lines(df) -> list[str]:
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _exchange_between(lines, upper: str, lower: str) -> bool:
    pos = {s: next(i for i, line in enumerate(lines) if s in line) for s in (upper, "Exchange", lower)}
    return pos[upper] < pos["Exchange"] < pos[lower]


def test_copy_stage_is_separated_from_its_listing_scan(spark, tmp_path):
    """One exchange sits between the Python graph_manifest scan and the
    copy's MapInPandas, so a copy task never shares its stage (and a
    second Python worker) with a Python scan."""
    src = str(tmp_path / "src")
    _build_tree(src)
    _register_graph_manifest(spark)
    graph = execute_copy(
        plan_copy(spark.read.format("graph_manifest").load(src), None), str(tmp_path / "d1")
    )
    lines = _plan_lines(graph)
    assert any("BatchScan graph_manifest" in line and "(Python)" in line for line in lines)
    assert _exchange_between(lines, "MapInPandas", "BatchScan graph_manifest")


def test_one_directory_drive_is_copied_by_every_task_slot(spark, tmp_path):
    """A flat 16-file folder is one listing partition; the copy still runs
    on min(16, defaultParallelism) tasks instead of inheriting that one."""
    src = str(tmp_path / "src")
    _flat_drive(src, 16)
    _register_graph_manifest(spark)
    manifest = spark.read.format("graph_manifest").load(src)
    assert manifest.rdd.getNumPartitions() == 1
    result = (
        execute_copy(plan_copy(manifest, None), str(tmp_path / "dst"))
        .withColumn("task", F.spark_partition_id())
        .persist()
    )
    try:
        assert result.where(F.col("status") == "ok").count() == 16
        tasks = result.select("task").distinct().count()
        assert tasks == min(16, spark.sparkContext.defaultParallelism) > 1
    finally:
        result.unpersist()


def test_explicit_parallelism_sets_copy_task_count(spark, tmp_path):
    src = str(tmp_path / "src")
    _flat_drive(src, 16)
    _register_graph_manifest(spark)
    manifest = spark.read.format("graph_manifest").load(src)
    result = (
        execute_copy(plan_copy(manifest, None), str(tmp_path / "dst"), parallelism=3)
        .withColumn("task", F.spark_partition_id())
        .persist()
    )
    try:
        assert result.count() == 16
        assert result.select("task").distinct().count() == 3
    finally:
        result.unpersist()


def test_empty_plan_copies_nothing_through_the_exchange(spark, tmp_path):
    """q50's second run: every file already landed, so the plan is empty and
    the repartitioned copy returns no rows."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _build_tree(src)
    assert copy_tree(spark, src, dst).count() == 3
    again = copy_tree(spark, src, dst)
    assert again.count() == 0
    assert again.schema == copy_plan.RESULT_SCHEMA
