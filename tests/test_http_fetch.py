"""Live HTTP fetch path for execute_copy (reference NB:283-305) against a
loopback http.server: 200 round-trip with checksum, 4xx recorded as a
status row with NO retries (the reference's non-200 skip, NB:294-296), and
5xx and 429 (throttling) retried with backoff until success."""

import hashlib
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import execute_copy, plan_copy
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import MANIFEST_SCHEMA

PAYLOAD = b"\x01\x02binary payload\x00" * 37


class _Handler(BaseHTTPRequestHandler):
    flaky_hits = {}  # path -> times seen (module-level: one server per test run)
    first_status = {"/files/flaky.bin": 503, "/files/throttled.bin": 429}

    def do_GET(self):  # noqa: N802 — http.server API
        if self.path == "/files/ok.bin":
            self.send_response(200)
            self.send_header("Content-Length", str(len(PAYLOAD)))
            self.end_headers()
            self.wfile.write(PAYLOAD)
        elif self.path in self.first_status:
            n = self.flaky_hits.get(self.path, 0) + 1
            self.flaky_hits[self.path] = n
            if n == 1:
                self.send_error(self.first_status[self.path])
            else:
                self.send_response(200)
                self.send_header("Content-Length", str(len(PAYLOAD)))
                self.end_headers()
                self.wfile.write(PAYLOAD)
        else:
            self.send_error(404)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture(scope="module")
def http_base():
    _Handler.flaky_hits.clear()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_copy_roundtrip_4xx_skip_and_5xx_retry(spark, tmp_path, http_base):
    manifest = spark.createDataFrame(
        [
            ("a", "ok.bin", "ok.bin", f"{http_base}/files/ok.bin", len(PAYLOAD)),
            ("b", "gone.bin", "gone.bin", f"{http_base}/files/gone.bin", 10),
            ("c", "flaky.bin", "flaky.bin", f"{http_base}/files/flaky.bin", len(PAYLOAD)),
            ("d", "throttled.bin", "throttled.bin", f"{http_base}/files/throttled.bin", len(PAYLOAD)),
        ],
        MANIFEST_SCHEMA,
    ).coalesce(1)  # single task → deterministic flaky-hit ordering
    rows = {
        r["src_path"].rsplit("/", 1)[-1]: r
        for r in execute_copy(plan_copy(manifest, None), str(tmp_path / "dst")).collect()
    }

    ok = rows["ok.bin"]
    assert ok["status"] == "ok" and ok["bytes"] == len(PAYLOAD)
    assert ok["checksum"] == hashlib.md5(PAYLOAD).hexdigest()
    assert (tmp_path / "dst" / "ok.bin").read_bytes() == PAYLOAD

    gone = rows["gone.bin"]
    assert gone["status"] == "error" and "404" in gone["error"]
    assert gone["attempts"] == 1  # 4xx is definitive: no backoff retries
    assert not (tmp_path / "dst" / "gone.bin").exists()

    flaky = rows["flaky.bin"]
    assert flaky["status"] == "ok" and flaky["attempts"] == 2  # 503 then 200
    assert (tmp_path / "dst" / "flaky.bin").read_bytes() == PAYLOAD

    # 429 is throttling, not a verdict on the file: backed off and retried
    throttled = rows["throttled.bin"]
    assert throttled["status"] == "ok" and throttled["attempts"] == 2  # 429 then 200
    assert (tmp_path / "dst" / "throttled.bin").read_bytes() == PAYLOAD


def test_http_fetch_pools_one_session_per_worker(http_base):
    """_http_fetch reuses a single pooled Session within an interpreter."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources import graph_datasource as gd

    gd._HTTP_SESSION = None
    assert gd._http_fetch(f"{http_base}/files/ok.bin") == PAYLOAD
    s1 = gd._HTTP_SESSION
    assert gd._http_fetch(f"{http_base}/files/ok.bin") == PAYLOAD
    assert gd._HTTP_SESSION is s1 and s1 is not None
