"""Python Data Source for the tree listing: size-packed directory
partitions, row parity with an os.walk of the tree, the Graph page
fixture served over http, and filter pushdown semantics."""

import os
from collections import Counter

from pyspark.sql import functions as F

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import plan_copy
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import (
    MANIFEST_SCHEMA,
    MAX_PARTITION_BYTES,
    OPEN_COST_BYTES,
    FetchClientError,
    GraphManifestDataSource,
    GraphManifestPushdownReader,
    GraphManifestReader,
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


def _walk_manifest(root):
    """(rel_path, size) of every file under `root`, by os.walk."""
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)))
        for d, _, files in os.walk(root)
        for f in files
    )


def _register(spark):
    try:
        spark.dataSource.register(GraphManifestDataSource)
    except Exception:
        pass  # already registered in this session


def test_source_matches_driver_walk_manifest(spark, tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    with open(os.path.join(root, "sub1", "_hidden.txt"), "w") as f:
        f.write("kept\n")
    _register(spark)
    via_source = sorted(
        (r["rel_path"], r["size"])
        for r in spark.read.format("graph_manifest").load(root).collect()
    )
    assert via_source == _walk_manifest(root)
    assert ("sub1/sub2/c.txt", 6) in via_source
    assert ("sub1/_hidden.txt", 5) in via_source


def test_filter_pushdown_applies_in_reader(spark, tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    _register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("graph_manifest")
        .option("pushdown", "true")
        .load(root)
        .where((F.col("size") > 10) & F.col("name").startswith("b"))
    )
    rows = df.collect()
    assert [(r["rel_path"], r["size"]) for r in rows] == [("sub1/b.bin", 200)]
    # the same predicates compiled through the reader drop rows at the source
    reader = GraphManifestPushdownReader({"path": root})
    from pyspark.sql.datasource import GreaterThan, StringStartsWith

    leftover = list(reader.pushFilters([GreaterThan(("size",), 10), StringStartsWith(("name",), "b")]))
    assert leftover == []  # both supported → nothing re-applied by Spark
    got = [
        row
        for p in reader.partitions()
        for row in reader.read(p)
    ]
    assert [(r[2], r[4]) for r in got] == [("sub1/b.bin", 200)]


def test_unsupported_filters_are_returned(tmp_path):
    root = str(tmp_path / "tree")
    os.makedirs(root)
    _build_tree(root)
    from pyspark.sql.datasource import EqualTo, StringEndsWith

    reader = GraphManifestPushdownReader({"path": root})
    unsupported = StringEndsWith(("name",), ".csv")
    leftover = list(reader.pushFilters([EqualTo(("size",), 8), unsupported]))
    assert leftover == [unsupported]
    rows = [row for p in reader.partitions() for row in reader.read(p)]
    assert [(r[2], r[4]) for r in rows] == [("a.csv", 8)]  # size=8 applied


# --- live paged-REST mode (reference NB:204-236 cursor walk) -----------------

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

PAGE_SIZE = 2

# drive tree: root has 3 files + 1 folder; the folder has 3 files → both
# listings need two cursor pages at PAGE_SIZE=2
_TREE = {
    "/list/root": [
        {"id": "f1", "name": "a.bin", "size": 11, "downloadUrl": "http://x/a"},
        {"id": "f2", "name": "b.bin", "size": 22, "downloadUrl": "http://x/b"},
        {"id": "d1", "name": "docs", "folder": {}, "childrenUrl": "/list/docs"},
        {"id": "f3", "name": "c.bin", "size": 33, "downloadUrl": "http://x/c"},
    ],
    "/list/docs": [
        {"id": "f4", "name": "d.txt", "size": 44, "downloadUrl": "http://x/d"},
        {"id": "f5", "name": "e.txt", "size": 55, "downloadUrl": "http://x/e"},
        {"id": "f6", "name": "f.txt", "size": 66, "downloadUrl": "http://x/f"},
    ],
}


class _ListingHandler(BaseHTTPRequestHandler):
    base = ""  # filled by fixture
    tree = _TREE  # listing path → items; `_serve` swaps in other trees
    hits = []  # every (path, skip) request seen — asserts real pagination
    fail = {}  # (path, skip) → statuses to answer, one per request, first

    def do_GET(self):  # noqa: N802
        u = urlparse(self.path)
        skip = int(parse_qs(u.query).get("skip", ["0"])[0])
        type(self).hits.append((u.path, skip))
        if type(self).fail.get((u.path, skip)):
            self.send_error(type(self).fail[(u.path, skip)].pop(0))
            return
        items = type(self).tree.get(u.path)
        if items is None:
            self.send_error(404)
            return
        window = items[skip : skip + PAGE_SIZE]
        page = {"value": []}
        for it in window:
            it = dict(it)
            if "childrenUrl" in it:
                it["childrenUrl"] = self.base + it["childrenUrl"]
            page["value"].append(it)
        if skip + PAGE_SIZE < len(items):
            page["@odata.nextLink"] = f"{self.base}{u.path}?skip={skip + PAGE_SIZE}"
        body = json.dumps(page).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def serve():
    """serve(tree) → base URL of a loopback listing server for `tree`."""
    servers = []

    def _serve(tree):
        _ListingHandler.tree = tree
        _ListingHandler.hits = []
        _ListingHandler.fail = {}
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _ListingHandler)
        _ListingHandler.base = f"http://127.0.0.1:{srv.server_address[1]}"
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        return _ListingHandler.base

    yield _serve
    for srv in servers:
        srv.shutdown()
        srv.server_close()
    _ListingHandler.tree = _TREE


@pytest.fixture()
def listing_base(serve):
    return serve(_TREE)


def test_http_paged_listing_full_manifest(spark, listing_base, serve):
    _register(spark)
    rows = {
        (r["rel_path"], r["size"], r["download_url"])
        for r in spark.read.format("graph_manifest")
        .load(f"{listing_base}/list/root")
        .collect()
    }
    assert rows == {
        ("a.bin", 11, "http://x/a"),
        ("b.bin", 22, "http://x/b"),
        ("c.bin", 33, "http://x/c"),
        ("docs/d.txt", 44, "http://x/d"),
        ("docs/e.txt", 55, "http://x/e"),
        ("docs/f.txt", 66, "http://x/f"),
    }
    # pagination was REAL: both directories were fetched page by page
    assert ("/list/root", 2) in _ListingHandler.hits
    assert ("/list/docs", 2) in _ListingHandler.hits
    # an empty drive lists no rows, with the declared schema
    empty = spark.read.format("graph_manifest").load(serve({"/list/root": []}) + "/list/root")
    assert empty.schema == MANIFEST_SCHEMA
    assert empty.count() == 0


def _tree_from_pages(pages):
    """The listing tree that serves Graph cursor pages keyed by id: each
    cursor chain becomes one listing (PAGE_SIZE re-splits it into pages),
    `root#1` → `/list/root`, and a folder item lists `/list/children/<id>`."""
    linked = {page["@odata.nextLink"] for page in pages.values()}
    tree = {}
    for first in pages.keys() - linked:
        items, key = [], first
        while key:
            for it in pages[key]["value"]:
                items.append(dict(it, childrenUrl=f"/list/children/{it['id']}") if "folder" in it else it)
            key = pages[key]["@odata.nextLink"]
        tree["/list/" + first.split("#")[0]] = items
    return tree


def test_http_listing_of_graph_pages_plans_files_with_urls(spark, serve):
    """FIXTURES.md B2 over http: a two-page root, a nested folder, a name
    with a space, a file without downloadUrl and a `package` item (neither
    facet). The copy plan holds exactly the two files it can fetch."""
    from test_copy import PAGES

    _register(spark)
    base = serve(_tree_from_pages(PAGES))
    manifest = spark.read.format("graph_manifest").load(f"{base}/list/root")
    assert manifest.schema == MANIFEST_SCHEMA
    todo = {(r["name"], r["rel_path"], r["download_url"]) for r in plan_copy(manifest, None).collect()}
    assert todo == {("a.csv", "a.csv", "u/a.csv"), ("b bin.dat", "sub1/b bin.dat", "u/b%20bin.dat")}
    assert ("/list/root", 2) in _ListingHandler.hits  # both root pages were read


def test_http_mode_pushdown_filters_at_source(spark, listing_base):
    _register(spark)
    df = (
        spark.read.format("graph_manifest")
        .option("pushdown", "true")
        .load(f"{listing_base}/list/root")
        .where((F.col("size") > 20) & F.col("name").startswith("d"))
    )
    got = [(r["rel_path"], r["size"]) for r in df.collect()]
    assert got == [("docs/d.txt", 44)]


# --- size-packed partitions (Spark's FilePartition.maxSplitBytes) ---------------


def _tree_from_dir(root):
    """The listing tree that serves the local directory `root` over http:
    `/tree` is the root, `/tree/<rel>` each subdirectory."""
    tree = {}
    for d, subdirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        rel = "" if rel == "." else rel
        key = f"/tree/{rel}" if rel else "/tree"
        items = []
        for name in sorted(subdirs + files):
            child = f"{rel}/{name}" if rel else name
            if name in subdirs:
                items.append({"id": child, "name": name, "folder": {}, "childrenUrl": f"/tree/{child}"})
            else:
                size = os.path.getsize(os.path.join(d, name))
                items.append({"id": child, "name": name, "size": size, "downloadUrl": f"http://x/{child}"})
        tree[key] = items
    return tree


def _wide_tree(root, bulk=False):
    """16 directories (the root, 5 children, 10 grandchildren), each with
    3 small files, so every http listing needs 2+ pages at PAGE_SIZE=2.
    `bulk` adds a 17th directory of 33 files: 33 × OPEN_COST_BYTES alone
    exceeds MAX_PARTITION_BYTES."""
    dirs = [""] + [f"c{i}" for i in range(5)] + [f"c{i}/g{j}" for i in range(5) for j in range(2)]
    for rel in dirs:
        os.makedirs(os.path.join(root, rel), exist_ok=True)
        for k in range(3):
            with open(os.path.join(root, rel, f"f{k}.bin"), "wb") as f:
                f.write(b"x" * (10 + k))
    if bulk:
        os.makedirs(os.path.join(root, "c0", "bulk"))
        for k in range(33):
            with open(os.path.join(root, "c0", "bulk", f"b{k:02d}.bin"), "wb") as f:
                f.write(b"y" * 7)
    return dirs + (["c0/bulk"] if bulk else [])


def _dir_costs(root):
    """Each directory's cost, rel_base → Σ (file size + OPEN_COST_BYTES)."""
    costs = {}
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        costs["" if rel == "." else rel] = sum(
            os.path.getsize(os.path.join(d, f)) + OPEN_COST_BYTES for f in files
        )
    return costs


def _source(mode, root, serve):
    return serve(_tree_from_dir(root)) + "/tree" if mode == "http" else root


@pytest.fixture()
def pin_cores(monkeypatch):
    """Fix the planning process's core count that the split size uses."""

    def _pin(n):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(n)))

    return _pin


@pytest.mark.parametrize("mode", ["local", "http"])
@pytest.mark.parametrize("bulk", [False, True])
@pytest.mark.parametrize("cores", [1, 4, 64])
def test_packed_partitions_hold_whole_directories(tmp_path, serve, pin_cores, mode, bulk, cores):
    root = str(tmp_path / "tree")
    dirs = _wide_tree(root, bulk)
    costs = _dir_costs(root)
    pin_cores(cores)
    reader = GraphManifestReader({"path": _source(mode, root, serve)})
    parts = reader.partitions()
    placed = [base for p in parts for _, base in p.dirs]
    # every directory in exactly one partition, in frontier order
    assert sorted(placed) == sorted(dirs)
    depths = [b.count("/") + (b != "") for b in placed]
    assert depths == sorted(depths)
    assert len(parts) >= min(len(dirs), cores)
    split = min(MAX_PARTITION_BYTES, max(OPEN_COST_BYTES, sum(costs.values()) // cores))
    for p in parts:
        bases = [base for _, base in p.dirs]
        if any(costs[b] > split for b in bases):
            assert len(bases) == 1, bases  # an oversized directory is alone
    assert not bulk or costs["c0/bulk"] > split  # the oversized case is exercised
    # each directory's rows — all its cursor pages — come from one partition
    owner = {}
    for i, p in enumerate(parts):
        for row in reader.read(p):
            owner.setdefault(os.path.dirname(row[2]), set()).add(i)
    assert set(owner) == set(dirs)
    assert all(len(v) == 1 for v in owner.values())


@pytest.mark.parametrize("mode", ["local", "http"])
def test_small_directories_share_partitions(spark, tmp_path, serve, pin_cores, mode):
    root = str(tmp_path / "tree")
    _wide_tree(root)
    with open(os.path.join(root, "c2", ".hidden.bin"), "wb") as f:
        f.write(b"z" * 9)
    src = _source(mode, root, serve)
    pin_cores(4)
    parts = GraphManifestReader({"path": src}).partitions()
    assert 4 <= len(parts) < 16
    _register(spark)
    via_source = sorted(
        (r["rel_path"], r["size"]) for r in spark.read.format("graph_manifest").load(src).collect()
    )
    assert via_source == _walk_manifest(root)
    assert len(via_source) == 49


def test_packing_adds_no_listing_requests(spark, listing_base, pin_cores):
    # the driver walk and read() each page every directory once, however
    # the directories are packed: 2 requests per cursor page
    per_page = {("/list/root", 0): 2, ("/list/root", 2): 2, ("/list/docs", 0): 2, ("/list/docs", 2): 2}
    _register(spark)
    spark.read.format("graph_manifest").load(f"{listing_base}/list/root").collect()
    assert Counter(_ListingHandler.hits) == per_page
    _ListingHandler.hits = []
    pin_cores(1)  # both directories in one partition
    reader = GraphManifestReader({"path": f"{listing_base}/list/root"})
    parts = reader.partitions()
    assert [[b for _, b in p.dirs] for p in parts] == [["", "docs"]]
    assert len([row for p in parts for row in reader.read(p)]) == 6
    assert Counter(_ListingHandler.hits) == per_page


def test_transient_listing_page_errors_are_retried(spark, listing_base):
    """A 503 on a second cursor page, met by the driver walk, and a 429,
    met by the reader's read(), are each retried with the file downloads' backoff:
    the manifest is complete and each failed page was requested once more.
    A 404 is definitive and fails at once."""
    _register(spark)
    _ListingHandler.fail = {("/list/docs", 2): [503]}
    rows = spark.read.format("graph_manifest").load(f"{listing_base}/list/root").collect()
    assert len(rows) == 6
    # the walk's 503 and its retry, then the read task's request
    assert _ListingHandler.hits.count(("/list/docs", 2)) == 3

    reader = GraphManifestReader({"path": f"{listing_base}/list/root"})
    parts = reader.partitions()
    _ListingHandler.hits = []
    _ListingHandler.fail = {("/list/root", 2): [429]}
    assert len([row for p in parts for row in reader.read(p)]) == 6
    assert _ListingHandler.hits.count(("/list/root", 2)) == 2

    _ListingHandler.hits = []
    with pytest.raises(FetchClientError, match="404"):
        list(GraphManifestReader({"path": f"{listing_base}/list/missing"}).partitions())
    assert _ListingHandler.hits == [("/list/missing", 0)]
