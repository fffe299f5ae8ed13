"""MCP server shell (F15): protocol lifecycle + the six tool contracts
(reference internal/mcp/handlers.go:289-332), without stdio."""

from __future__ import annotations

import json

import pytest

from mcp_trino_spark.config import EngineConfig
from mcp_trino_spark.sources.catalog import register_tables
from server.mcp_server import TOOLS, MCPServer

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    register_tables(spark, SF_DIR)
    return MCPServer(spark=spark, config=EngineConfig())


def call(server, method, params=None, msg_id=1):
    return server.handle_message(
        {"jsonrpc": "2.0", "id": msg_id, "method": method, "params": params or {}}
    )


def tool(server, name, arguments=None):
    reply = call(server, "tools/call", {"name": name, "arguments": arguments or {}})
    result = reply["result"]
    return result, result["content"][0]["text"]


def test_initialize_and_tools_list(server):
    init = call(server, "initialize")
    assert init["result"]["serverInfo"]["name"] == "mcp-trino-spark"
    tools = call(server, "tools/list")["result"]["tools"]
    assert [t["name"] for t in tools] == [
        "execute_query",
        "list_catalogs",
        "list_schemas",
        "list_tables",
        "get_table_schema",
        "explain_query",
    ]
    assert tools is TOOLS or tools == TOOLS


def test_notification_returns_none(server):
    assert server.handle_message({"jsonrpc": "2.0", "method": "notifications/initialized"}) is None


def test_unknown_method_is_jsonrpc_error(server):
    reply = call(server, "no/such/method")
    assert reply["error"]["code"] == -32601


def test_execute_query_roundtrip(server):
    _, text = tool(server, "execute_query", {"query": "SELECT 1 AS one"})
    assert json.loads(text) == [{"one": 1}]


def test_execute_query_write_rejected_as_tool_error(server):
    result, text = tool(server, "execute_query", {"query": "DROP TABLE x"})
    assert result["isError"] is True
    assert "WriteQueryNotAllowed" in text


def test_list_tables_and_schema(server):
    _, text = tool(server, "list_tables")
    assert "lineitem" in json.loads(text)
    _, text = tool(server, "get_table_schema", {"table": "nation"})
    cols = {c["name"]: c["type"] for c in json.loads(text)}
    assert cols["n_nationkey"] in ("int", "bigint")


def test_explain_validate(server):
    _, text = tool(server, "explain_query", {"query": "SELECT 1", "format": "VALIDATE"})
    assert json.loads(text)[0]["valid"] is True


def test_unknown_tool_is_tool_error(server):
    result, _ = tool(server, "bogus_tool")
    assert result["isError"] is True


def test_http_transport(server):
    """StreamableHTTP transport: /status probe, POST /mcp tool call,
    CORS preflight, legacy /sse alias."""
    import json as _json
    import threading
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(("localhost", 0), _HTTPHandler.make(server))
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://localhost:{port}"
        with urllib.request.urlopen(f"{base}/status") as r:
            body = _json.loads(r.read())
        assert body["status"] == "ok" and body["version"] == "0.1.0"
        for key in ("codegen_compiles", "codegen_compile_ms",
                    "column_types_hits", "column_types_misses"):
            assert isinstance(body[key], int) and body[key] >= 0, key

        def post(path, payload):
            req = urllib.request.Request(
                f"{base}{path}",
                data=_json.dumps(payload).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as r:
                return r.status, r.read()

        status, body = post(
            "/mcp",
            {
                "jsonrpc": "2.0",
                "id": 7,
                "method": "tools/call",
                "params": {"name": "execute_query", "arguments": {"query": "SELECT 2 AS two"}},
            },
        )
        assert status == 200
        reply = _json.loads(body)
        assert _json.loads(reply["result"]["content"][0]["text"]) == [{"two": 2}]

        status, _ = post("/sse", {"jsonrpc": "2.0", "id": 8, "method": "ping"})
        assert status == 200

        req = urllib.request.Request(f"{base}/mcp", method="OPTIONS")
        with urllib.request.urlopen(req) as r:
            assert r.headers["Access-Control-Allow-Origin"] == "*"
    finally:
        httpd.shutdown()


def test_reference_doc_examples_run(server):
    """The worked examples from reference docs/tools.md, adapted to the
    testdata star schema (the tpch.tiny 'region' column of the doc's
    denormalized customer view maps to the nation join), all run through
    the same six tools."""
    # docs/tools.md:15 — customer count by region, descending
    _, text = tool(
        server,
        "execute_query",
        {
            "query": """
            SELECT n.n_regionkey AS region, COUNT(*) AS customer_count
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_regionkey ORDER BY customer_count DESC, region ASC
            """
        },
    )
    rows = json.loads(text)
    assert len(rows) == 5
    assert rows[0]["customer_count"] >= rows[-1]["customer_count"]

    # docs/tools.md:235 — top-5 customers by balance
    _, text = tool(
        server,
        "execute_query",
        {
            "query": "SELECT c_custkey, c_name, c_acctbal FROM customer "
            "ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 5"
        },
    )
    assert len(json.loads(text)) == 5

    # docs/tools.md:169 — EXPLAIN of the aggregation (DISTRIBUTED)
    _, text = tool(
        server,
        "explain_query",
        {
            "query": "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY n_regionkey",
            "format": "DISTRIBUTED",
        },
    )
    plan = json.loads(text)[0]["plan"]
    # Spark's Exchange nodes are the doc's 'Fragment' boundaries
    assert "Exchange" in plan and "HashAggregate" in plan


def test_http_bearer_auth(server):
    """With an auth token configured (reference server.go:170-215 wraps
    the HTTP transport in auth middleware), MCP endpoints demand
    `Authorization: Bearer <token>`: missing/wrong token → 401 +
    WWW-Authenticate; correct token → 200; /status stays open."""
    import json as _json
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(
        ("localhost", 0), _HTTPHandler.make(server, auth_token="s3cret")
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        base = f"http://localhost:{port}"
        payload = _json.dumps({"jsonrpc": "2.0", "id": 1, "method": "ping"}).encode()

        def post(headers):
            req = urllib.request.Request(
                f"{base}/mcp", data=payload,
                headers={"Content-Type": "application/json", **headers},
            )
            with urllib.request.urlopen(req) as r:
                return r.status

        # no token / wrong token / wrong scheme → 401 with challenge
        for hdrs in ({}, {"Authorization": "Bearer wrong"},
                     {"Authorization": "Basic s3cret"}):
            try:
                post(hdrs)
                raise AssertionError(f"expected 401 for {hdrs}")
            except urllib.error.HTTPError as e:
                assert e.code == 401
                assert e.headers["WWW-Authenticate"].startswith("Bearer")

        assert post({"Authorization": "Bearer s3cret"}) == 200
        # health probe carries no credentials and must stay open
        with urllib.request.urlopen(f"{base}/status") as r:
            assert r.status == 200
    finally:
        httpd.shutdown()


def test_user_impersonation_chain(server, monkeypatch):
    """F13: the transport identity reaches execute_query as `user`
    (reference impersonation: X-Trino-User / JWT subject → Trino
    session user, client.go + docs/oauth.md); absent an identity the
    configured default_user (TRINO_USER, config.go:201) applies."""
    import mcp_trino_spark.execute as ex

    seen = {}
    real = ex.execute_query

    def spy(spark, query, config=None, **kw):
        seen["user"] = kw.get("user")
        return real(spark, query, config, **kw)

    monkeypatch.setattr(ex, "execute_query", spy)
    call = {
        "jsonrpc": "2.0",
        "id": 1,
        "method": "tools/call",
        "params": {"name": "execute_query", "arguments": {"query": "SELECT 1 AS one"}},
    }
    server.handle_message(call, user="alice")
    assert seen["user"] == "alice"
    server.handle_message(call)
    assert seen["user"] == server.config.default_user == "trino"


def test_http_passes_x_trino_user(server, monkeypatch):
    import json as _json
    import threading
    import urllib.request
    from http.server import ThreadingHTTPServer

    import mcp_trino_spark.execute as ex
    from server.mcp_server import _HTTPHandler

    seen = {}
    real = ex.execute_query

    def spy(spark, query, config=None, **kw):
        seen["user"] = kw.get("user")
        return real(spark, query, config, **kw)

    monkeypatch.setattr(ex, "execute_query", spy)
    httpd = ThreadingHTTPServer(("localhost", 0), _HTTPHandler.make(server))
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        req = urllib.request.Request(
            f"http://localhost:{port}/mcp",
            data=_json.dumps(
                {
                    "jsonrpc": "2.0",
                    "id": 2,
                    "method": "tools/call",
                    "params": {
                        "name": "execute_query",
                        "arguments": {"query": "SELECT 3 AS three"},
                    },
                }
            ).encode(),
            headers={"Content-Type": "application/json", "X-Trino-User": "bob"},
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        assert seen["user"] == "bob"
    finally:
        httpd.shutdown()


# ---------------------------------------------------------------------------
# JWT auth (reference docs/jwt.md; hmac OAuth provider, server.go:170-215)


def test_jwt_decode_contract():
    """auth.decode_hs256 enforces the reference's validation features:
    HS256 pinning (reject alg=none), signature check, required
    sub/exp/iat claims, expiry with leeway, nbf."""
    import time as _time

    import pytest as _pytest

    from mcp_trino_spark.auth import JWTError, decode_hs256, encode_hs256

    now = _time.time()
    good = {"sub": "alice", "preferred_username": "alice@corp",
            "email": "alice@corp.example", "iat": now, "exp": now + 600}
    token = encode_hs256(good, "k3y")
    assert decode_hs256(token, "k3y")["sub"] == "alice"

    with _pytest.raises(JWTError, match="signature"):
        decode_hs256(token, "other-key")
    with _pytest.raises(JWTError, match="expired"):
        decode_hs256(encode_hs256({**good, "exp": now - 120}, "k3y"), "k3y")
    # inside leeway → accepted
    decode_hs256(encode_hs256({**good, "exp": now - 10}, "k3y"), "k3y")
    with _pytest.raises(JWTError, match="nbf"):
        decode_hs256(encode_hs256({**good, "nbf": now + 600}, "k3y"), "k3y")
    for missing in ("sub", "exp", "iat"):
        claims = {k: v for k, v in good.items() if k != missing}
        with _pytest.raises(JWTError, match=missing):
            decode_hs256(encode_hs256(claims, "k3y"), "k3y")

    # alg-confusion: re-sign the payload under alg=none / alg=HS512-style
    # headers; both must be rejected before signature logic runs
    import base64 as _b64
    import json as _json

    def seg(obj):
        return _b64.urlsafe_b64encode(_json.dumps(obj).encode()).rstrip(b"=").decode()

    payload = seg(good)
    with _pytest.raises(JWTError, match="alg"):
        decode_hs256(f"{seg({'alg': 'none'})}.{payload}.", "k3y")
    with _pytest.raises(JWTError, match="alg"):
        decode_hs256(f"{seg({'alg': 'RS256'})}.{payload}.{'x'*43}", "k3y")
    with _pytest.raises(JWTError):
        decode_hs256("not-a-jwt", "k3y")
    # non-ASCII token must fail as JWTError (clean 401), not an encode crash
    with _pytest.raises(JWTError, match="ASCII"):
        decode_hs256("ä.б.✓", "k3y")


def test_http_jwt_auth(server, monkeypatch):
    """JWT mode end-to-end: valid HS256 token → 200 and the token's sub
    becomes the attribution user (overriding X-Trino-User — a signed
    identity beats a spoofable header); expired/garbage/absent → 401."""
    import json as _json
    import threading
    import time as _time
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    import mcp_trino_spark.execute as ex
    from mcp_trino_spark.auth import encode_hs256
    from server.mcp_server import _HTTPHandler

    seen = {}
    real = ex.execute_query

    def spy(spark, query, config=None, **kw):
        seen["user"] = kw.get("user")
        return real(spark, query, config, **kw)

    monkeypatch.setattr(ex, "execute_query", spy)
    httpd = ThreadingHTTPServer(
        ("localhost", 0), _HTTPHandler.make(server, jwt_secret="jwt-s3cret")
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        base = f"http://localhost:{port}"
        payload = _json.dumps({
            "jsonrpc": "2.0", "id": 1, "method": "tools/call",
            "params": {"name": "execute_query",
                       "arguments": {"query": "SELECT 1 AS one"}},
        }).encode()

        def post(headers):
            req = urllib.request.Request(
                f"{base}/mcp", data=payload,
                headers={"Content-Type": "application/json", **headers},
            )
            with urllib.request.urlopen(req) as r:
                return r.status

        now = _time.time()
        ok = encode_hs256({"sub": "carol", "iat": now, "exp": now + 300}, "jwt-s3cret")
        expired = encode_hs256({"sub": "carol", "iat": now - 900, "exp": now - 600}, "jwt-s3cret")
        wrong_key = encode_hs256({"sub": "carol", "iat": now, "exp": now + 300}, "attacker")

        for hdrs in ({}, {"Authorization": "Bearer garbage"},
                     {"Authorization": f"Bearer {expired}"},
                     {"Authorization": f"Bearer {wrong_key}"}):
            try:
                post(hdrs)
                raise AssertionError(f"expected 401 for {hdrs}")
            except urllib.error.HTTPError as e:
                assert e.code == 401
                assert e.headers["WWW-Authenticate"].startswith("Bearer")

        # valid token; X-Trino-User present but must NOT win over sub
        assert post({"Authorization": f"Bearer {ok}",
                     "X-Trino-User": "mallory"}) == 200
        assert seen["user"] == "carol"
        # preferred_username, when present, is the display identity
        pu = encode_hs256({"sub": "u-123", "preferred_username": "carol@corp",
                           "iat": now, "exp": now + 300}, "jwt-s3cret")
        assert post({"Authorization": f"Bearer {pu}"}) == 200
        assert seen["user"] == "carol@corp"
        with urllib.request.urlopen(f"{base}/status") as r:
            assert r.status == 200
    finally:
        httpd.shutdown()


def test_serve_http_requires_jwt_secret_when_oauth_enabled(monkeypatch):
    """Reference parity (docs/jwt.md): 'server fails to start without
    JWT_SECRET' when OAuth mode is on."""
    import pytest as _pytest

    from server.mcp_server import serve_http

    monkeypatch.setenv("OAUTH_ENABLED", "true")
    monkeypatch.delenv("JWT_SECRET", raising=False)
    with _pytest.raises(RuntimeError, match="JWT_SECRET"):
        serve_http(port=0)


def test_jwt_non_utf8_segments_rejected_cleanly():
    """Valid base64url of non-UTF-8 bytes in header/payload must raise
    JWTError (clean 401), not UnicodeDecodeError (handler crash)."""
    import base64 as _b64
    import hashlib as _hashlib
    import hmac as _hmac
    import json as _json
    import time as _time

    import pytest as _pytest

    from mcp_trino_spark.auth import JWTError, decode_hs256

    def b64(raw):
        return _b64.urlsafe_b64encode(raw).rstrip(b"=").decode()

    bad_header = b64(b"\xff\xfe\x00")
    with _pytest.raises(JWTError, match="JSON"):
        decode_hs256(f"{bad_header}.e30.x", "k")

    # correctly-signed token whose payload is non-UTF-8 bytes
    hdr = b64(_json.dumps({"alg": "HS256"}).encode())
    payload = b64(b"\xff\xfe\x00")
    signing = f"{hdr}.{payload}".encode()
    sig = b64(_hmac.new(b"k", signing, _hashlib.sha256).digest())
    with _pytest.raises(JWTError, match="JSON"):
        decode_hs256(f"{hdr}.{payload}.{sig}", "k")


def test_static_token_non_ascii_is_401(server):
    """compare_digest(str, str) raises TypeError on non-ASCII — the
    static-token path must compare bytes and return a clean 401."""
    import json as _json
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(
        ("localhost", 0), _HTTPHandler.make(server, auth_token="s3cret")
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        req = urllib.request.Request(
            f"http://localhost:{port}/mcp",
            data=_json.dumps({"jsonrpc": "2.0", "id": 1, "method": "ping"}).encode(),
            headers={"Content-Type": "application/json",
                     "Authorization": "Bearer tok\xe9n"},
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
    finally:
        httpd.shutdown()


def test_oauth_token_endpoint_and_metadata(server):
    """hmac-mode authorization-server surface (reference mounts the same
    pair through oauth-mcp-proxy, mcp/server.go:95-96): RFC 8414
    metadata (+ legacy alias) is served, and the client_credentials
    grant issues an HS256 JWT that the /mcp bearer validation accepts
    with sub as the attribution identity."""
    import json as _json
    import threading
    import urllib.error
    import urllib.parse
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(
        ("localhost", 0),
        _HTTPHandler.make(
            server, jwt_secret="jwt-s3cret", oauth_client_secret="cl-s3cret"
        ),
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        base = f"http://localhost:{port}"
        for path in (
            "/.well-known/oauth-authorization-server",
            "/.well-known/oauth-metadata",
        ):
            with urllib.request.urlopen(f"{base}{path}") as r:
                meta = _json.loads(r.read())
            assert meta["token_endpoint"].endswith("/oauth/token")
            assert meta["grant_types_supported"] == ["client_credentials"]

        def token_post(form):
            req = urllib.request.Request(
                f"{base}/oauth/token",
                data=urllib.parse.urlencode(form).encode(),
                headers={"Content-Type": "application/x-www-form-urlencoded"},
            )
            with urllib.request.urlopen(req) as r:
                return r.status, _json.loads(r.read())

        status, body = token_post(
            {
                "grant_type": "client_credentials",
                "client_id": "alice",
                "client_secret": "cl-s3cret",
            }
        )
        assert status == 200 and body["token_type"] == "Bearer"
        # without OAUTH_CLIENT_ID the mode is single-principal: the sub
        # is the fixed identity, never the caller's free-form client_id
        # (a shared-secret holder must not self-assert an audited user)
        from mcp_trino_spark.auth import decode_hs256

        claims = decode_hs256(body["access_token"], "jwt-s3cret")
        assert claims["sub"] == "oauth-client"
        # the issued token authorizes an MCP call
        payload = _json.dumps(
            {
                "jsonrpc": "2.0",
                "id": 1,
                "method": "tools/call",
                "params": {
                    "name": "execute_query",
                    "arguments": {"query": "SELECT 1 AS one"},
                },
            }
        ).encode()
        req = urllib.request.Request(
            f"{base}/mcp",
            data=payload,
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {body['access_token']}",
            },
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        # wrong secret → 401 invalid_client; wrong grant → 400
        for form, want in (
            (
                {
                    "grant_type": "client_credentials",
                    "client_id": "alice",
                    "client_secret": "nope",
                },
                401,
            ),
            (
                {
                    "grant_type": "authorization_code",
                    "client_id": "alice",
                    "client_secret": "cl-s3cret",
                },
                400,
            ),
        ):
            try:
                token_post(form)
                raise AssertionError("expected HTTPError")
            except urllib.error.HTTPError as e:
                assert e.code == want
    finally:
        httpd.shutdown()


def test_oauth_token_endpoint_pinned_client_id(server):
    """OAUTH_CLIENT_ID pins the grant to one principal: any other
    client_id is invalid_client even with the right secret, and the
    minted sub is the pinned identity.  Oversized form bodies are
    rejected before buffering."""
    import json as _json
    import threading
    import urllib.error
    import urllib.parse
    import urllib.request
    from http.server import ThreadingHTTPServer

    from mcp_trino_spark.auth import decode_hs256
    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(
        ("localhost", 0),
        _HTTPHandler.make(
            server,
            jwt_secret="jwt-s3cret",
            oauth_client_secret="cl-s3cret",
            oauth_client_id="svc-etl",
        ),
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        base = f"http://localhost:{port}"

        def token_post(form, extra_headers=None):
            req = urllib.request.Request(
                f"{base}/oauth/token",
                data=urllib.parse.urlencode(form).encode(),
                headers={
                    "Content-Type": "application/x-www-form-urlencoded",
                    **(extra_headers or {}),
                },
            )
            with urllib.request.urlopen(req) as r:
                return r.status, _json.loads(r.read())

        status, body = token_post(
            {
                "grant_type": "client_credentials",
                "client_id": "svc-etl",
                "client_secret": "cl-s3cret",
            }
        )
        assert status == 200
        assert decode_hs256(body["access_token"], "jwt-s3cret")["sub"] == "svc-etl"
        # right secret, wrong (self-asserted) identity → invalid_client
        try:
            token_post(
                {
                    "grant_type": "client_credentials",
                    "client_id": "alice",
                    "client_secret": "cl-s3cret",
                }
            )
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 401
        # unbounded Content-Length → 413 before any read
        big = urllib.parse.urlencode(
            {"grant_type": "client_credentials", "pad": "x" * 70000}
        ).encode()
        req = urllib.request.Request(
            f"{base}/oauth/token",
            data=big,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 413
    finally:
        httpd.shutdown()


def test_mcp_post_caps_body_size(server):
    """/mcp rejects oversized (or malformed-length) bodies before
    buffering — same class as the token endpoint's 64 KB cap, with SQL
    headroom (16 MB)."""
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(("localhost", 0), _HTTPHandler.make(server))
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        req = urllib.request.Request(
            f"http://localhost:{port}/mcp",
            data=b"{}",
            headers={
                "Content-Type": "application/json",
                "Content-Length": str(64 * 1024 * 1024),
            },
        )
        try:
            urllib.request.urlopen(req, timeout=10)
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 413
    finally:
        httpd.shutdown()


def test_mcp_post_malformed_content_length_is_400(server):
    """A NON-INTEGER Content-Length is a malformed request (400), not an
    oversized payload (413) — the two conditions must not be folded."""
    import socket
    import threading
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(("localhost", 0), _HTTPHandler.make(server))
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        for path in ("/mcp", "/oauth/token"):
            with socket.create_connection(("localhost", port), timeout=10) as s:
                s.sendall(
                    f"POST {path} HTTP/1.1\r\nHost: localhost\r\n"
                    "Content-Type: application/json\r\n"
                    "Content-Length: banana\r\n\r\n".encode()
                )
                status = s.recv(1024).split(b"\r\n", 1)[0]
            # /oauth/token 404s when no oauth is provisioned — the
            # malformed-length branch is only reachable on /mcp there
            if path == "/mcp":
                assert b" 400 " in status, status
            else:
                assert b" 413 " not in status, status
    finally:
        httpd.shutdown()


def test_protected_resource_metadata_jwt_only_has_no_auth_server(server):
    """JWT mode without a provisioned client secret: the resource
    metadata must not point at an authorization server whose own
    metadata endpoint would 404 (tokens are issued out of band)."""
    import json as _json
    import threading
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(
        ("localhost", 0), _HTTPHandler.make(server, jwt_secret="jwt-s3cret")
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        base = f"http://localhost:{port}"
        with urllib.request.urlopen(
            f"{base}/.well-known/oauth-protected-resource"
        ) as r:
            meta = _json.loads(r.read())
        assert meta["authorization_servers"] == []
    finally:
        httpd.shutdown()


def test_oauth_metadata_absent_outside_hmac_mode(server):
    """No JWT secret (or OIDC mode, where the IdP owns the metadata) →
    the authorization-server endpoints must not exist."""
    import threading
    import urllib.error
    import urllib.request
    from http.server import ThreadingHTTPServer

    from server.mcp_server import _HTTPHandler

    httpd = ThreadingHTTPServer(
        ("localhost", 0), _HTTPHandler.make(server, auth_token="s3cret")
    )
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        base = f"http://localhost:{port}"
        for path in (
            "/.well-known/oauth-authorization-server",
            "/oauth/token",
        ):
            try:
                if path == "/oauth/token":
                    urllib.request.urlopen(
                        urllib.request.Request(f"{base}{path}", data=b"x=1")
                    )
                else:
                    urllib.request.urlopen(f"{base}{path}")
                raise AssertionError("expected 404")
            except urllib.error.HTTPError as e:
                assert e.code == 404
    finally:
        httpd.shutdown()
