"""The Graph-shaped tree listing as a PySpark Python Data Source (Spark 4),
and the one HTTP GET the copy subsystem sends to the service.

The reference lists a drive tree with driver-side recursion + cursor pages
(collect_files_recursive NB:213-236, list_children_paged NB:204-211) and
pushes `$filter`/`$select` to the service (NB:86/95/161 — O6 in SURVEY §2).
This source reproduces that split with Spark's own source contract:

- The DRIVER walks the directory frontier. It reads every directory's
  entries once — the `scandir` entries locally, every cursor page of the
  listing in http mode — to find the subdirectories, and sums each
  directory's file sizes on the way.
- It packs the directories into InputPartitions the way Spark packs files
  (`FilePartition.maxSplitBytes`): a file costs its size plus
  `OPEN_COST_BYTES`, and a partition takes a run of WHOLE directories in
  frontier order until the next one would exceed
  `min(MAX_PARTITION_BYTES, max(OPEN_COST_BYTES, total_cost / cores))`.
  A directory is never split, so its cursor chain stays in one task.
  Every Python task costs a fixed ~170 ms of CPU (README design rule 7),
  so a tree of small directories is read by about `cores` tasks, not one
  task per directory.
- EXECUTORS page through their partition's directories and emit the
  manifest rows, in parallel across the cluster.
- `pushFilters` accepts size comparisons and name prefix/equality filters —
  the engine-side equivalent of the reference's server-evaluated OData
  `$filter` — so non-matching rows never leave the lister. Unsupported
  filters are returned to Spark, which re-applies them (correctness never
  depends on the pushdown).

Two backends behind the same planning:
- a local directory tree (same substitution as tests/test_copy.py), and
- a LIVE paged-REST listing when `path` is an http(s) URL: every directory
  is a JSON listing endpoint returning `{"value": [items...],
  "@odata.nextLink": "...?cursor=..."}` pages — the reference's cursor walk
  (NB:204-211) executed with real HTTP fetches (loopback-served in tests),
  executors following each directory's cursor chain in parallel.

Every Graph GET — listing pages here, file downloads in
`plans/copy_plan.execute_copy` — goes through `_http_fetch` inside
`with_retry`, so the status policy (401 refresh, definitive 4xx,
transient 429/5xx), the bounded backoff and the timeout live in one place.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

# One row per listed file (the reference's item dict, NB:230-235).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("file_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("rel_path", T.StringType()),
        T.StructField("download_url", T.StringType()),
        T.StructField("size", T.LongType()),
    ]
)

_TIMEOUT_S = 60.0

# Spark's file-split defaults: spark.sql.files.openCostInBytes and
# spark.sql.files.maxPartitionBytes.
OPEN_COST_BYTES = 4 * 1024 * 1024
MAX_PARTITION_BYTES = 128 * 1024 * 1024

# `plans/copy_plan._publish` writes each file under a hidden temp name in
# its destination directory and renames it into place. A task killed
# mid-write leaves the temp behind; it is not a copied file, so the local
# listing skips exactly this pattern.
_PUBLISH_TEMP = re.compile(r"\..+\.[0-9a-f]{32}\.tmp")


def publish_temp_name(name: str) -> str:
    return f".{name}.{uuid.uuid4().hex}.tmp"


@dataclass
class DirsPartition(InputPartition):
    # (filesystem path OR http(s) listing-endpoint URL, rel_base) per
    # directory, in frontier order
    dirs: list[tuple[str, str]]


def _pack_dirs(dirs: list[tuple[str, str, int]], cores: int) -> list[DirsPartition]:
    """Pack (dir, rel_base, cost) runs into partitions like Spark's
    `FilePartition.getFilePartitions`: close the current partition before
    a directory would take it past `FilePartition.maxSplitBytes`."""
    total = sum(cost for _, _, cost in dirs)
    split = min(MAX_PARTITION_BYTES, max(OPEN_COST_BYTES, total // cores))
    parts: list[DirsPartition] = []
    run: list[tuple[str, str]] = []
    size = 0
    for d, base, cost in dirs:
        if run and size + cost > split:
            parts.append(DirsPartition(run))
            run, size = [], 0
        run.append((d, base))
        size += cost
    if run:
        parts.append(DirsPartition(run))
    return parts


class FetchClientError(Exception):
    """A definitive HTTP client error (4xx other than 429): retrying cannot
    help, so the copy loop records the status row immediately instead of
    backing off — the reference's non-200 skip (NB:294-296) with the
    status preserved."""


_HTTP_SESSION = None  # one pooled requests.Session per Python worker


def _http_fetch(url: str, auth=None) -> bytes:
    """GET `url` and return the body. Uses a per-interpreter pooled
    `requests.Session` (connection keep-alive across the many small
    requests a task sends — the reference opens a fresh connection per
    file, NB:293), or urllib when requests is not installed.

    Status policy: 429 and 5xx/transport errors raise generic exceptions,
    which `with_retry` backs off and retries (429 is throttling, not a
    verdict on the file); every other 4xx raises FetchClientError. `auth`
    is an O3 token provider (sources/auth.py): its bearer header rides on
    every request, and a 401 triggers ONE invalidate+refresh retry before
    it is treated as definitive (token expired server-side — the reference would
    simply crash, NB:141-143)."""
    raw = _http_get_once(url, auth)
    if raw is None:  # 401 with an auth provider → refresh once
        auth.invalidate()
        raw = _http_get_once(url, auth)
        if raw is None:
            raise FetchClientError(f"HTTP 401 for {url} (after token refresh)")
    return raw


def _check_status(code: int, url: str, auth) -> bool:
    """True for a refreshable 401; raises FetchClientError for the other
    definitive 4xx; False otherwise (the caller raises 429/5xx itself)."""
    if code == 401 and auth is not None:
        return True
    if 400 <= code < 500 and code != 429:
        raise FetchClientError(f"HTTP {code} for {url}")
    return False


def _http_get_once(url: str, auth) -> bytes | None:
    """One GET. Returns None for a refreshable 401 (auth provided)."""
    global _HTTP_SESSION
    headers = auth.auth_headers() if auth is not None else {}
    try:
        import requests
    except ImportError:
        from urllib.error import HTTPError
        from urllib.request import Request, urlopen

        try:
            with urlopen(Request(url, headers=headers), timeout=_TIMEOUT_S) as r:
                return r.read()
        except HTTPError as e:
            if _check_status(e.code, url, auth):
                return None
            raise
    if _HTTP_SESSION is None:
        _HTTP_SESSION = requests.Session()
        adapter = requests.adapters.HTTPAdapter(pool_connections=4, pool_maxsize=16)
        _HTTP_SESSION.mount("http://", adapter)
        _HTTP_SESSION.mount("https://", adapter)
    resp = _HTTP_SESSION.get(url, timeout=_TIMEOUT_S, headers=headers)
    if _check_status(resp.status_code, url, auth):
        return None
    resp.raise_for_status()
    return resp.content


def with_retry(call, max_attempts: int = 3, backoff_s: float = 0.05):
    """Return `call()`, retrying a transient failure — HTTP 429, 5xx, a
    transport or local I/O error — after `backoff_s * 2**(k-1)` seconds, up
    to `max_attempts` calls in all; the last failure propagates. A
    FetchClientError (a definitive 4xx) propagates at once: retrying
    cannot change the answer. The reference retries nothing (NB:204-211,
    NB:294-296)."""
    for attempt in range(1, max_attempts + 1):
        try:
            return call()
        except FetchClientError:
            raise
        except Exception:
            if attempt == max_attempts:
                raise
            time.sleep(backoff_s * 2 ** (attempt - 1))


def _iter_pages(url: str, auth=None):
    """Follow a cursor-paged listing: GET url → {"value": [...],
    "@odata.nextLink": next_url?} until no nextLink remains (the
    reference's list_children_paged loop, NB:204-211). Each page GET is
    retried like a file download, so one throttled or failed page neither
    stops the driver walk nor fails a read task. `auth` is an O3 token
    provider (sources/auth.py) supplying the bearer header the reference
    sends on every Graph call (NB:53-59)."""
    while url:
        page = json.loads(with_retry(functools.partial(_http_fetch, url, auth=auth)))
        yield from page.get("value", [])
        url = page.get("@odata.nextLink")


def _row_filter(filters: list[Filter]):
    """Compile the pushed filters into one row predicate (AND semantics)."""

    def keep(name: str, size: int) -> bool:
        for f in filters:
            col = f.attribute[0]
            if col == "name":
                if isinstance(f, EqualTo) and name != f.value:
                    return False
                if isinstance(f, StringStartsWith) and not name.startswith(f.value):
                    return False
            elif col == "size":
                if isinstance(f, GreaterThan) and not size > f.value:
                    return False
                if isinstance(f, GreaterThanOrEqual) and not size >= f.value:
                    return False
                if isinstance(f, LessThan) and not size < f.value:
                    return False
                if isinstance(f, LessThanOrEqual) and not size <= f.value:
                    return False
                if isinstance(f, EqualTo) and size != f.value:
                    return False
        return True

    return keep


class GraphManifestReader(DataSourceReader):
    """Base reader: size-packed directory partitions, NO pushFilters —
    merely defining pushFilters makes Spark demand the
    `spark.sql.python.filterPushdown.enabled` conf, which a stock session
    lacks; the pushdown flavor is the opt-in subclass below."""

    def __init__(self, options):
        raw = options.get("path")
        self.http = str(raw).startswith(("http://", "https://"))
        if self.http:
            self.root = raw
        else:
            self.root = os.path.abspath(raw)
            if not os.path.isdir(self.root):
                raise FileNotFoundError(self.root)
        self.pushed: list[Filter] = []
        # O3: optional client-credentials auth for the http backend —
        # .option("auth_token_url", ...).option("auth_client_id", ...)
        # .option("auth_client_secret", ...)[.option("auth_scope", ...)]
        self.auth = None
        if self.http and options.get("auth_token_url"):
            from .auth import ClientCredentialsTokenProvider

            self.auth = ClientCredentialsTokenProvider(
                options.get("auth_token_url"),
                options.get("auth_client_id", ""),
                options.get("auth_client_secret", ""),
                scope=options.get("auth_scope"),
            )

    def partitions(self):
        # Frontier walk on the driver, the recursion the reference runs
        # there (NB:213-236); each directory's cost comes from the entries
        # the walk reads anyway, and file rows are emitted in read().
        dirs = []
        frontier = [(self.root, "")]
        while frontier:
            nxt = []
            for d, base in frontier:
                cost = 0
                for name, child, size, _, _ in self._entries(d, base):
                    if child is None:
                        cost += size + OPEN_COST_BYTES
                    else:
                        nxt.append((child, f"{base}/{name}" if base else name))
                dirs.append((d, base, cost))
            frontier = nxt
        return _pack_dirs(dirs, len(os.sched_getaffinity(0)))

    def _entries(self, d: str, base: str):
        """(name, subdir path or None, size, file_id, download_url) per
        listed entry of directory `d` (rel_base `base`); a subdirectory
        has size 0 and no file_id or download_url."""
        if self.http:
            for item in _iter_pages(d, auth=self.auth):
                name = item["name"]
                if "folder" not in item:
                    rel = f"{base}/{name}" if base else name
                    url = item.get("@microsoft.graph.downloadUrl") or item.get("downloadUrl")
                    yield name, None, int(item.get("size", 0)), item.get("id", rel), url
                elif item.get("childrenUrl"):
                    yield name, item["childrenUrl"], 0, None, None
            return
        for e in sorted(os.scandir(d), key=lambda e: e.name):
            if e.is_dir():
                yield e.name, e.path, 0, None, None
            elif e.is_file() and not _PUBLISH_TEMP.fullmatch(e.name):
                yield e.name, None, e.stat().st_size, d + "/" + e.name, e.path

    def read(self, partition: DirsPartition):
        keep = _row_filter(self.pushed)
        for d, base in partition.dirs:
            for name, child, size, file_id, url in self._entries(d, base):
                if child is None and keep(name, size):
                    yield file_id, name, f"{base}/{name}" if base else name, url, size


class GraphManifestPushdownReader(GraphManifestReader):
    """Pushdown flavor (option pushdown=true): requires the session conf
    `spark.sql.python.filterPushdown.enabled=true`."""

    _SUPPORTED_COLS = {
        "name": (EqualTo, StringStartsWith),
        "size": (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
    }

    def pushFilters(self, filters):
        for f in filters:
            col = f.attribute[0] if f.attribute else None
            supported = self._SUPPORTED_COLS.get(col, ())
            if isinstance(f, supported) and len(f.attribute) == 1:
                self.pushed.append(f)
            elif isinstance(f, IsNotNull):
                pass  # listing never emits null name/size — trivially satisfied
            else:
                yield f  # give it back: Spark re-applies it above the scan


class GraphManifestDataSource(DataSource):
    """`spark.read.format("graph_manifest").load(root)` after
    `spark.dataSource.register(GraphManifestDataSource)`. Pass
    .option("pushdown", "true") (plus the filterPushdown session conf) for
    source-side filtering."""

    @classmethod
    def name(cls) -> str:
        return "graph_manifest"

    def schema(self) -> T.StructType:
        return MANIFEST_SCHEMA

    def reader(self, schema) -> GraphManifestReader:
        if str(self.options.get("pushdown", "")).lower() == "true":
            return GraphManifestPushdownReader(self.options)
        return GraphManifestReader(self.options)
