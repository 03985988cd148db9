"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
from urllib.error import HTTPError
from urllib.request import urlopen

import pytest

import drive
import eventlog
import fixtures
import host
import workloads


def small_tree(seed: int = 5) -> drive.DriveTree:
    tree = drive.DriveTree(seed, n_folders=4, n_small=30, n_large=0)
    tree.page_size = 4  # several pages per folder
    return tree


def walk(root_url: str) -> tuple[dict[str, int], int, int]:
    """Follow childrenUrl and @odata.nextLink the way the graph source
    does; returns {name: size}, pages read and pages that had a nextLink."""
    files, pages, linked = {}, 0, 0
    todo = [root_url]
    while todo:
        url = todo.pop()
        while url:
            with urlopen(url) as r:
                page = json.load(r)
            pages += 1
            for it in page["value"]:
                if "folder" in it:
                    todo.append(it["childrenUrl"])
                else:
                    files[it["name"]] = it["size"]
            url = page.get("@odata.nextLink")
            linked += url is not None
    return files, pages, linked


def test_same_seed_gives_byte_identical_tree():
    assert drive.DriveTree(3).digest() == drive.DriveTree(3).digest()
    assert drive.DriveTree(3).digest() != drive.DriveTree(4).digest()


def test_rerun_files_are_seeded_and_reset_restores_the_tree():
    a, b = drive.DriveTree(3), drive.DriveTree(3)
    before = a.digest()
    added = a.add_files(cycle=1)
    assert len(added) == a.n_new == round(0.1 * a.n_base)
    assert a.n_files == a.n_base + a.n_new
    b.add_files(cycle=1)
    assert a.digest() == b.digest()
    a.reset()
    assert a.digest() == before


def test_server_paginates_through_next_link():
    tree = small_tree()
    with drive.DriveServer(tree) as srv:
        files, pages, linked = walk(srv.root_url)
        counts = srv.counters.snapshot()
    assert len(files) == tree.n_files
    expected_pages = sum(max(1, math.ceil(len(items) / tree.page_size))
                         for items in tree.folders.values())
    assert pages == expected_pages == counts["list_requests"]
    assert linked == expected_pages - len(tree.folders) > 0


def test_server_counters_match_a_known_tree():
    tree = small_tree()
    with drive.DriveServer(tree) as srv:
        for fid in sorted(tree.sizes):
            with urlopen(f"{srv.base_url}/content/{fid}") as r:
                assert r.read() == tree.content(fid)
        with pytest.raises(HTTPError):
            urlopen(f"{srv.base_url}/content/missing")
        counts = srv.counters.snapshot()
        assert srv.cpu_s > 0  # the request threads' CPU, left out of the program's
    assert counts == {
        "list_requests": 0,
        "file_requests": tree.n_files,
        "bytes_served": tree.total_bytes,
        "max_inflight": 1,
        "errors": 1,
    }


def test_table_hash_ignores_row_and_column_order():
    h = fixtures.table_hash(["b", "a"], [(1.0, "x"), (2.5, None)])
    assert h == fixtures.table_hash(["a", "b"], [(None, 2.5), ("x", 1)])
    assert h != fixtures.table_hash(["a", "b"], [(None, 2.5), ("x", 1.5)])


def test_event_log_sums_task_metrics_per_job_group(tmp_path):
    def task(stage, cpu_ns, sent):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": 5,
                                 "Peak Execution Memory": 100 * stage},
                "Task Info": {"Accumulables": [{"Name": eventlog.PY_SENT, "Update": sent}]}}

    def job(stages, group=None):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Stage IDs": stages, "Properties": props}

    # an operation's job, then a job run after its group was cleared, then
    # the next operation's job
    events = [
        job([1, 2], "op1"), task(1, 2_000_000, 10), task(2, 3_000_000, "7"),
        job([3]), task(3, 9_000_000, 99),
        job([4], "op2"), task(4, 1_000_000, 0),
    ]
    log = tmp_path / "eventlog_v2_app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = eventlog.read_groups(str(tmp_path))
    assert set(groups) == {"op1", "op2"}
    g = groups["op1"]
    assert (g["tasks"], g["stages"], g["executor_cpu_ms"]) == (2, 2, 5.0)
    assert (g["python_bytes_sent"], g["peak_exec_mem_bytes"]) == (17, 200)
    assert (groups["op2"]["tasks"], groups["op2"]["executor_cpu_ms"]) == (1, 1.0)


class FakeContext:
    """The local-property part of a SparkContext."""

    def __init__(self):
        self.props: dict[str, str] = {}

    def setJobGroup(self, group, description):  # noqa: N802
        self.props.update({"spark.jobGroup.id": group, "spark.job.description": description,
                           "spark.job.interruptOnCancel": "false"})

    def setLocalProperty(self, key, value):  # noqa: N802
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_operation_tags_its_jobs_and_clears_the_group_after():
    sc, tracer = FakeContext(), workloads.Tracer()
    with pytest.raises(RuntimeError):
        with tracer.operation(sc, "op1", "q01"):
            assert sc.props["spark.jobGroup.id"] == "op1"
            with tracer.span("spark.exec"):
                raise RuntimeError("a failed operation clears its group too")
    assert sc.props == {}
    assert tracer.op_id is None
    assert [(sp["name"], sp["op"]) for sp in tracer.spans] == [("op", "op1"), ("spark.exec", "op1")]


def test_cpu_accounting_reads_proc():
    assert host.steal_frac((100, 10), (300, 50)) == 0.2
    before = host.cpu_s([os.getpid()])
    sum(i * i for i in range(3_000_000))
    assert host.cpu_s([os.getpid()]) > before
    assert os.getpid() in host.descendants(os.getppid())
