"""O3 auth/token source (reference NB:33-59): OAuth2 client-credentials
flow against a loopback token endpoint — token caching, expiry refresh,
401-triggered refresh, bearer-protected copy and paged listing."""

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import execute_copy, plan_copy
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.auth import (
    ClientCredentialsTokenProvider,
    TokenError,
)
from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import MANIFEST_SCHEMA

PAYLOAD = b"protected bytes" * 20
CLIENT_ID, CLIENT_SECRET = "app-123", "s3cret"


class _AuthedHandler(BaseHTTPRequestHandler):
    """Token endpoint + bearer-protected file/listing endpoints. Tokens are
    sequence-numbered ('tok-1', 'tok-2', ...) and only the LATEST issued
    token is valid — so once a test invalidates/expires, old tokens 401."""

    issued = 0
    token_requests = []

    def _ok(self, body: bytes, ctype="application/octet-stream"):
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):  # noqa: N802 — token endpoint
        if self.path != "/token":
            self.send_error(404)
            return
        form = parse_qs(self.rfile.read(int(self.headers["Content-Length"])).decode())
        type(self).token_requests.append(form)
        if form.get("client_secret") != [CLIENT_SECRET]:
            self._ok(json.dumps({"error": "invalid_client"}).encode(), "application/json")
            return
        type(self).issued += 1
        self._ok(
            json.dumps(
                {"access_token": f"tok-{type(self).issued}", "expires_in": 3600}
            ).encode(),
            "application/json",
        )

    def _authed(self) -> bool:
        return self.headers.get("Authorization") == f"Bearer tok-{type(self).issued}"

    def do_GET(self):  # noqa: N802
        if not self._authed():
            self.send_error(401)
            return
        u = urlparse(self.path)
        if u.path == "/files/p.bin":
            self._ok(PAYLOAD)
        elif u.path == "/list/root":
            self._ok(
                json.dumps(
                    {"value": [{"id": "f1", "name": "p.bin", "size": len(PAYLOAD),
                                "downloadUrl": "unused"}]}
                ).encode(),
                "application/json",
            )
        else:
            self.send_error(404)

    def log_message(self, *a):
        pass


@pytest.fixture()
def auth_base():
    _AuthedHandler.issued = 0
    _AuthedHandler.token_requests = []
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _AuthedHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _provider(base, **kw):
    return ClientCredentialsTokenProvider(
        f"{base}/token", CLIENT_ID, CLIENT_SECRET, scope="files.read", **kw
    )


def test_token_fetch_caches_until_expiry(auth_base):
    p = _provider(auth_base)
    assert p.token() == "tok-1"
    assert p.token() == "tok-1"  # cached, no second POST
    assert len(_AuthedHandler.token_requests) == 1
    assert _AuthedHandler.token_requests[0]["grant_type"] == ["client_credentials"]
    assert _AuthedHandler.token_requests[0]["scope"] == ["files.read"]


def test_expired_token_refreshes(auth_base):
    p = _provider(auth_base, refresh_margin_s=3600.0)  # margin ≥ expires_in
    assert p.token() == "tok-1"
    time.sleep(0.01)
    assert p.token() == "tok-2"  # past (expiry - margin) → re-fetch


def test_bad_credentials_raise(auth_base):
    p = ClientCredentialsTokenProvider(f"{auth_base}/token", CLIENT_ID, "wrong")
    with pytest.raises(TokenError):
        p.token()


def test_pickling_drops_token_state(auth_base):
    import pickle

    p = _provider(auth_base)
    p.token()
    clone = pickle.loads(pickle.dumps(p))
    assert clone._token is None  # executors fetch their own
    assert clone.client_secret == CLIENT_SECRET


def test_http_fetch_refreshes_on_401(auth_base):
    """A cached token revoked server-side → 401 → ONE invalidate+refresh
    retry inside _http_fetch (the reference would crash, NB:141-143)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.plans.copy_plan import _http_fetch

    auth = _provider(auth_base)
    auth.token()  # caches tok-1
    _AuthedHandler.issued += 1  # server-side revocation: tok-1 now 401s
    assert _http_fetch(f"{auth_base}/files/p.bin", auth=auth) == PAYLOAD
    assert auth._token != "tok-1"  # provider really re-fetched


def test_authed_copy_end_to_end(spark, tmp_path, auth_base):
    """execute_copy with an O3 provider: pickled providers drop token
    state, so each worker acquires its own token and the copy succeeds."""
    auth = _provider(auth_base)
    manifest = spark.createDataFrame(
        [("a", "p.bin", "p.bin", f"{auth_base}/files/p.bin", len(PAYLOAD))],
        MANIFEST_SCHEMA,
    )
    rows = execute_copy(
        plan_copy(manifest, None), str(tmp_path / "dst"), auth=auth
    ).collect()
    assert rows[0]["status"] == "ok" and rows[0]["attempts"] == 1
    assert (tmp_path / "dst" / "p.bin").read_bytes() == PAYLOAD


def test_authed_paged_listing(spark, auth_base):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.sources.graph_datasource import (
        GraphManifestDataSource,
    )

    try:
        spark.dataSource.register(GraphManifestDataSource)
    except Exception:
        pass
    rows = (
        spark.read.format("graph_manifest")
        .option("auth_token_url", f"{auth_base}/token")
        .option("auth_client_id", CLIENT_ID)
        .option("auth_client_secret", CLIENT_SECRET)
        .load(f"{auth_base}/list/root")
        .collect()
    )
    assert [(r["rel_path"], r["size"]) for r in rows] == [("p.bin", len(PAYLOAD))]
