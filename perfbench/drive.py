"""A seeded, Graph-shaped drive served over loopback HTTP.

The tree has the shape the reference notebook walks (NB:204-236): every
folder is a paged listing endpoint returning ``{"value": [...],
"@odata.nextLink": ...}``; folder items carry ``childrenUrl`` and file
items carry ``downloadUrl``. This is the protocol that
``sources/graph_datasource.py`` reads and that ``tests/test_graph_datasource.py``
serves.

The seed fixes depth, fan-out, page size, every file's size and bytes, and
the files a re-run adds. Every file's bytes are a slice of one seeded pool
generated with the tree, so serving a file costs no generation. The server
counts what it serves, so the copy path's fetch behaviour is measured where
it happens, and it counts the CPU time of its request threads, so the
benchmark can leave that time out of the program's.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np

KIB = 1024
MIB = 1024 * KIB
POOL_BYTES = 4 * MIB  # larger than any file


class DriveTree:
    """Folders → sorted item lists. The constructor builds the seeded base
    tree; ``add_files`` layers new files on top for a re-run and ``reset``
    removes them."""

    def __init__(self, seed: int, n_folders: int = 16, n_small: int = 200, n_large: int = 2):
        self.seed = seed
        self._pool = memoryview(np.random.default_rng([seed, 2]).bytes(POOL_BYTES))
        rng = np.random.default_rng([seed, 0])
        self.depth = int(rng.integers(2, 4))
        self.page_size = int(rng.choice([16, 24, 32]))
        self.folders: dict[str, list[dict]] = {"root": []}
        self.sizes: dict[str, int] = {}  # file id → size
        self._n_files = 0
        # random fan-out: each new folder hangs under a random shallower one
        level = {"root": 0}
        while len(self.folders) < n_folders:
            parents = [f for f in self.folders if level[f] < self.depth]
            parent = parents[int(rng.integers(0, len(parents)))]
            child = f"{parent}/d{len(self.folders):02d}"
            level[child] = level[parent] + 1
            self.folders[child] = []
            self.folders[parent].append({"name": child.rsplit("/", 1)[1], "folder": child})
        names = sorted(self.folders)
        for _ in range(n_small):
            folder = names[int(rng.integers(0, len(names)))]
            self._add_file(folder, int(rng.integers(4 * KIB, 64 * KIB + 1)), "doc")
        for _ in range(n_large):
            folder = names[int(rng.integers(0, len(names)))]
            self._add_file(folder, int(rng.integers(2 * MIB, 3 * MIB)), "big")
        for items in self.folders.values():
            items.sort(key=lambda it: it["name"])
        self._base = {k: list(v) for k, v in self.folders.items()}
        self._base_sizes = dict(self.sizes)
        self.added: list[str] = []

    def _add_file(self, folder: str, size: int, stem: str) -> str:
        fid = f"i{self._n_files:05d}"
        self._n_files += 1
        self.folders[folder].append({"name": f"{stem}_{fid}.bin", "id": fid})
        self.sizes[fid] = size
        return fid

    @property
    def n_base(self) -> int:
        return len(self._base_sizes)

    @property
    def n_new(self) -> int:
        """How many files ``add_files`` adds: 10% of the base tree."""
        return max(1, round(0.1 * self.n_base))

    def add_files(self, cycle: int) -> list[str]:
        """Add ``n_new`` new 4-64 KiB files (seeded by the tree seed and
        ``cycle``); returns their ids."""
        rng = np.random.default_rng([self.seed, 1, cycle])
        folder_names = sorted(self.folders)
        for _ in range(self.n_new):
            folder = folder_names[int(rng.integers(0, len(folder_names)))]
            self.added.append(self._add_file(folder, int(rng.integers(4 * KIB, 64 * KIB + 1)), "new"))
        for items in self.folders.values():
            items.sort(key=lambda it: it["name"])
        return list(self.added)

    def reset(self) -> None:
        self.folders = {k: list(v) for k, v in self._base.items()}
        self.sizes = dict(self._base_sizes)
        self.added = []

    @property
    def n_files(self) -> int:
        return len(self.sizes)

    @property
    def total_bytes(self) -> int:
        return sum(self.sizes.values())

    def content(self, fid: str) -> memoryview:
        """The file's bytes: a slice of the pool at an offset set by its id."""
        n = self.sizes[fid]
        start = int(fid[1:]) * 4099 % (len(self._pool) - n + 1)
        return self._pool[start : start + n]

    def page(self, folder: str, skip: int, base_url: str) -> dict:
        """One listing page in Graph's shape."""
        items = self.folders[folder]
        out = []
        for it in items[skip : skip + self.page_size]:
            if "folder" in it:
                out.append({
                    "id": it["folder"],
                    "name": it["name"],
                    "folder": {"childCount": len(self.folders[it["folder"]])},
                    "childrenUrl": f"{base_url}/list/{it['folder']}",
                })
            else:
                out.append({
                    "id": it["id"],
                    "name": it["name"],
                    "size": self.sizes[it["id"]],
                    "file": {},
                    "downloadUrl": f"{base_url}/content/{it['id']}",
                })
        page = {"value": out}
        if skip + self.page_size < len(items):
            page["@odata.nextLink"] = f"{base_url}/list/{folder}?skip={skip + self.page_size}"
        return page

    def digest(self) -> str:
        """md5 over every listing page and every file's bytes."""
        h = hashlib.md5()
        for folder in sorted(self.folders):
            for skip in range(0, max(1, len(self.folders[folder])), self.page_size):
                h.update(json.dumps(self.page(folder, skip, "http://h"), sort_keys=True).encode())
        for fid in sorted(self.sizes):
            h.update(self.content(fid))
        return h.hexdigest()


class Counters:
    FIELDS = ("list_requests", "file_requests", "bytes_served", "max_inflight", "errors")

    def __init__(self):
        self._lock = threading.Lock()
        self.inflight = 0
        self.reset()

    def reset(self) -> None:
        with self._lock:
            for f in self.FIELDS:
                setattr(self, f, 0)

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return {f: getattr(self, f) for f in self.FIELDS}

    def add(self, **counts: int) -> None:
        with self._lock:
            for k, v in counts.items():
                setattr(self, k, getattr(self, k) + v)

    @contextlib.contextmanager
    def request(self):
        with self._lock:
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)
        try:
            yield
        finally:
            with self._lock:
                self.inflight -= 1


class _Handler(BaseHTTPRequestHandler):
    server: DriveServer

    def do_GET(self):  # noqa: N802
        # Counts are taken before the response is sent, so a client that
        # has its response already sees them.
        srv = self.server
        with srv.counters.request():
            u = urlparse(self.path)
            if u.path.startswith("/list/") and u.path[6:] in srv.tree.folders:
                skip = int(parse_qs(u.query).get("skip", ["0"])[0])
                body = json.dumps(srv.tree.page(u.path[6:], skip, srv.base_url)).encode()
                ctype = "application/json"
                srv.counters.add(list_requests=1)
            elif u.path.startswith("/content/") and u.path[9:] in srv.tree.sizes:
                body = srv.tree.content(u.path[9:])
                ctype = "application/octet-stream"
                srv.counters.add(file_requests=1, bytes_served=len(body))
            else:
                srv.counters.add(errors=1)
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    def log_message(self, *a):
        pass


class DriveServer(ThreadingHTTPServer):
    """Serves ``tree`` on 127.0.0.1 from a background thread; use as a
    context manager so the thread is joined on exit."""

    daemon_threads = True

    def __init__(self, tree: DriveTree):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.tree = tree
        self.counters = Counters()
        self.cpu_s = 0.0  # CPU seconds of finished request threads
        self._cpu_lock = threading.Lock()
        self.base_url = f"http://127.0.0.1:{self.server_address[1]}"
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)

    def process_request_thread(self, request, client_address):
        # one thread per request (HTTP/1.0): its CPU time is all this request's
        try:
            super().process_request_thread(request, client_address)
        finally:
            spent = time.thread_time()
            with self._cpu_lock:
                self.cpu_s += spent

    @property
    def root_url(self) -> str:
        return f"{self.base_url}/list/root"

    def __enter__(self) -> DriveServer:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.shutdown()
        self._thread.join(timeout=10)
        self.server_close()
