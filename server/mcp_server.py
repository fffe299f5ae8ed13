"""MCP server shell — SURVEY §2.1 F15 (reference internal/mcp/server.go,
handlers.go:289-332).

Exposes the six tools with the reference's names and parameter
contracts over the MCP stdio transport (JSON-RPC 2.0, one JSON message
per line).  The ``mcp`` Python SDK is not available in this container,
so the protocol subset a stdio MCP client needs is implemented directly:
``initialize``, ``notifications/initialized``, ``ping``, ``tools/list``,
``tools/call``.  The dispatch core (`MCPServer.handle_message`) is
transport-agnostic and unit-tested without stdio.

Run: ``python -m server.mcp_server`` (from /root/repo).

Tool results are MCP text content containing the same indented JSON the
reference marshals (reference internal/mcp/handlers.go:83-90).
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import asdict
from typing import Any, Dict, Optional

PROTOCOL_VERSION = "2024-11-05"

TOOLS = [
    {
        "name": "execute_query",
        "description": (
            "Execute SQL queries on the Spark-native distributed engine. By "
            "default only read-only queries (SELECT, SHOW, DESCRIBE, EXPLAIN) "
            "are allowed; set ALLOW_WRITE_QUERIES=true for DML/DDL."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string", "description": "SQL query to execute"},
                "dialect": {
                    "type": "string",
                    "description": "'spark' (default) or 'trino' (accept Trino idioms)",
                },
                "max_rows": {
                    "type": "integer",
                    "description": "cap the result set (LIMIT applied engine-side)",
                },
            },
            "required": ["query"],
        },
    },
    {
        "name": "list_catalogs",
        "description": "Discover available catalogs.",
        "inputSchema": {"type": "object", "properties": {}},
    },
    {
        "name": "list_schemas",
        "description": "Browse schemas (databases) within a catalog.",
        "inputSchema": {
            "type": "object",
            "properties": {"catalog": {"type": "string", "description": "catalog name (optional)"}},
        },
    },
    {
        "name": "list_tables",
        "description": "Discover tables and views available for querying.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "catalog": {"type": "string", "description": "catalog name (optional)"},
                "schema": {"type": "string", "description": "schema name (optional)"},
            },
        },
    },
    {
        "name": "get_table_schema",
        "description": "Inspect table structure and column metadata.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "catalog": {"type": "string", "description": "catalog (optional)"},
                "schema": {"type": "string", "description": "schema (optional)"},
                "table": {"type": "string", "description": "table name to inspect"},
            },
            "required": ["table"],
        },
    },
    {
        "name": "explain_query",
        "description": (
            "Analyze query execution plans without running them. Formats: "
            "LOGICAL, DISTRIBUTED, VALIDATE, IO."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string", "description": "SQL query to analyze"},
                "format": {"type": "string", "description": "LOGICAL | DISTRIBUTED | VALIDATE | IO"},
            },
            "required": ["query"],
        },
    },
]


class MCPServer:
    """Transport-agnostic MCP dispatch over a lazily-built SparkSession."""

    def __init__(self, spark=None, config=None, sf_dir: Optional[str] = None):
        self._spark = spark
        self._config = config
        self._sf_dir = sf_dir
        self._registered = spark is not None

    @property
    def spark(self):
        if self._spark is None:
            from mcp_trino_spark.session import get_spark

            self._spark = get_spark("mcp-server")
        if not self._registered:
            from mcp_trino_spark.sources.catalog import DEFAULT_SF_DIR, register_tables

            register_tables(self._spark, self._sf_dir or DEFAULT_SF_DIR)
            self._registered = True
        return self._spark

    @property
    def config(self):
        if self._config is None:
            from mcp_trino_spark.config import EngineConfig

            self._config = EngineConfig.from_env()
        return self._config

    # --- JSON-RPC dispatch -------------------------------------------------

    def handle_message(
        self, msg: Any, user: Optional[str] = None
    ) -> Optional[Dict[str, Any]]:
        """Handle one JSON-RPC message; None for notifications.

        ``user`` is the transport-level identity (HTTP: the reference's
        own ``X-Trino-User`` header, client.go:173-177 / docs/oauth.md
        impersonation chain); it attributes the query's Spark jobs and
        falls back to ``EngineConfig.default_user`` (TRINO_USER).
        """
        if not isinstance(msg, dict):
            # valid JSON but not a request object (batch arrays unsupported)
            return _error(None, -32600, "invalid request: expected a JSON-RPC object")
        method = msg.get("method")
        msg_id = msg.get("id")
        if not isinstance(method, str):
            if msg_id is None:
                return None  # malformed notification: nothing to answer
            return _error(msg_id, -32600, "invalid request: missing method")
        if msg_id is None and method.startswith("notifications/"):
            return None
        try:
            if method == "initialize":
                result = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": {"name": "mcp-trino-spark", "version": "0.1.0"},
                }
            elif method == "ping":
                result = {}
            elif method == "tools/list":
                result = {"tools": TOOLS}
            elif method == "tools/call":
                try:
                    result = self._call_tool(msg.get("params") or {}, user=user)
                finally:
                    # release operator-persisted frames (LSH bands, IVF
                    # centroid assignments, …) once the call's result is
                    # materialized — a resident server must not accumulate
                    # storage memory across requests (operators/opcache.py)
                    from mcp_trino_spark.operators.opcache import (
                        release_operator_caches,
                    )

                    release_operator_caches()
            else:
                return _error(msg_id, -32601, f"method not found: {method}")
            return {"jsonrpc": "2.0", "id": msg_id, "result": result}
        except Exception as exc:  # noqa: BLE001 — tool errors become MCP error results
            return {
                "jsonrpc": "2.0",
                "id": msg_id,
                "result": {
                    "content": [{"type": "text", "text": f"{type(exc).__name__}: {exc}"}],
                    "isError": True,
                },
            }

    def _call_tool(
        self, params: Dict[str, Any], user: Optional[str] = None
    ) -> Dict[str, Any]:
        name = params.get("name")
        args = params.get("arguments") or {}
        from mcp_trino_spark import catalog_api
        from mcp_trino_spark.execute import execute_query
        from mcp_trino_spark.plans.explain import explain_query

        if name == "execute_query":
            res = execute_query(
                self.spark,
                args["query"],
                self.config,
                max_rows=args.get("max_rows"),
                dialect=args.get("dialect", "spark"),
                user=user or self.config.default_user,
            )
            text = res.to_json()
        elif name == "list_catalogs":
            text = json.dumps(catalog_api.list_catalogs(self.spark, self.config), indent=2)
        elif name == "list_schemas":
            text = json.dumps(
                catalog_api.list_schemas(self.spark, self.config, args.get("catalog")),
                indent=2,
            )
        elif name == "list_tables":
            text = json.dumps(
                catalog_api.list_tables(
                    self.spark, self.config, args.get("catalog"), args.get("schema")
                ),
                indent=2,
            )
        elif name == "get_table_schema":
            cols = catalog_api.get_table_schema(
                self.spark, self.config, args["table"], args.get("catalog"), args.get("schema")
            )
            text = json.dumps([asdict(c) for c in cols], indent=2)
        elif name == "explain_query":
            res = explain_query(self.spark, args["query"], args.get("format", "DISTRIBUTED"))
            text = json.dumps(res.rows, indent=2, default=str)
        else:
            raise ValueError(f"unknown tool: {name}")
        return {"content": [{"type": "text", "text": text}], "isError": False}


def _error(msg_id, code: int, message: str) -> Dict[str, Any]:
    return {"jsonrpc": "2.0", "id": msg_id, "error": {"code": code, "message": message}}


def _status_body() -> Dict[str, Any]:
    """The /status health body plus process counters of the two warm-
    session reuses: Spark's generated-class cache (compiles = misses)
    and the façade's column-type map.  Reads no session, so it never
    builds one."""
    from mcp_trino_spark.execute import column_types_counts
    from mcp_trino_spark.session import codegen_counts

    ct = column_types_counts()
    return {
        "status": "ok",
        "version": "0.1.0",
        **codegen_counts(),
        "column_types_hits": ct["hits"],
        "column_types_misses": ct["misses"],
    }


class _HTTPHandler:
    """StreamableHTTP transport (reference internal/mcp/server.go:71-167):
    POST /mcp (and legacy /sse) carries one JSON-RPC message per request;
    GET /status is the health probe (plus the _status_body counters);
    CORS headers match the reference.
    Built on stdlib http.server — no SDK in this container.

    Auth (reference server.go:170-215 wraps the HTTP transport in OAuth
    middleware): two modes, both enforcing at the same point — every MCP
    endpoint, before any method dispatch, 401 + ``WWW-Authenticate`` on
    failure; ``/status`` stays open (health probes don't carry
    credentials).

    - ``oidc_validator`` set → **OIDC mode** (reference's okta/google/
      azure providers, docs/oauth.md "Native Mode"): the bearer token
      must be a valid RS256 JWT against the provider's JWKS, with
      issuer/audience claim checks — see oidc.py.
    - ``jwt_secret`` set → **JWT mode** (reference's ``hmac`` OAuth
      provider, docs/jwt.md): the bearer token must be a valid HS256 JWT
      (signature, alg pinning, sub/exp/iat claims — see auth.py).
    In both JWT modes the token's ``sub`` claim becomes the request
    user for the impersonation chain, overriding ``X-Trino-User`` (a
    transport-level identity beats a spoofable plain header).
    - else ``auth_token`` set → **static-token mode**: constant-time
      equality against a shared secret.
    """

    @staticmethod
    def make(
        server: "MCPServer",
        auth_token: Optional[str] = None,
        jwt_secret: Optional[str] = None,
        oidc_validator=None,
        oauth_client_secret: Optional[str] = None,
        oauth_client_id: Optional[str] = None,
    ):
        import hmac
        import time
        from http.server import BaseHTTPRequestHandler
        from urllib.parse import parse_qs

        from mcp_trino_spark.auth import JWTError, authenticate_bearer, encode_hs256

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _authorized(self) -> bool:
                """True if the request may proceed; sets ``self._jwt_user``
                when a JWT supplied the identity."""
                self._jwt_user = None
                if oidc_validator is not None or jwt_secret:
                    try:
                        if oidc_validator is not None:
                            claims = oidc_validator.authenticate_bearer(
                                self.headers.get("Authorization", "")
                            )
                        else:
                            claims = authenticate_bearer(
                                self.headers.get("Authorization", ""), jwt_secret
                            )
                    except JWTError:
                        return False
                    # only honor preferred_username when it is a non-empty
                    # string — a token may carry a number/object there,
                    # and sub is the claim auth.py validates as non-empty
                    preferred = claims.get("preferred_username")
                    self._jwt_user = (
                        preferred
                        if isinstance(preferred, str) and preferred
                        else claims["sub"]
                    )
                    return True
                if not auth_token:
                    return True
                header = self.headers.get("Authorization", "")
                scheme, _, token = header.partition(" ")
                # compare as bytes: compare_digest on str raises TypeError
                # for non-ASCII input, which a client controls
                return scheme.lower() == "bearer" and hmac.compare_digest(
                    token.strip().encode("utf-8"), auth_token.encode("utf-8")
                )

            def _deny(self):
                """401 with OAuth discovery info (reference
                server.go:187-204: WWW-Authenticate invalid_token +
                RFC 9728 resource_metadata pointer)."""
                body = (
                    b'{"error":"invalid_token","error_description":'
                    b'"Missing or invalid access token"}'
                )
                self.send_response(401)
                self._cors()
                challenge = (
                    'Bearer realm="OAuth", error="invalid_token", '
                    'error_description="Missing or invalid access token"'
                )
                if oidc_validator is not None or jwt_secret:
                    # RFC 9728 §5.1: resource_metadata is a PARAMETER of
                    # the Bearer challenge — one well-formed header (a
                    # bare-parameter second header is not a valid RFC
                    # 7235 challenge and strict clients drop it)
                    mcp_url = os.environ.get("MCP_URL", "http://localhost:8080")
                    challenge += (
                        f', resource_metadata="{mcp_url}'
                        '/.well-known/oauth-protected-resource"'
                    )
                self.send_header("WWW-Authenticate", challenge)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _protected_resource_metadata(self) -> bytes:
                """RFC 9728 protected-resource metadata (reference
                docs/oauth.md "Metadata Endpoints"): in native/OIDC mode
                authorization_servers points at the IdP issuer; in
                hmac-JWT mode at this server itself — but only when the
                token endpoint is actually provisioned (otherwise the
                advertised AS metadata would 404 one discovery step
                later); jwt-only deployments issue tokens out of band
                and advertise no authorization server."""
                mcp_url = os.environ.get("MCP_URL", "http://localhost:8080")
                if oidc_validator is not None:
                    auth_servers = [oidc_validator.config.issuer]
                elif oauth_client_secret:
                    auth_servers = [mcp_url]
                else:
                    auth_servers = []
                return json.dumps(
                    {
                        "resource": mcp_url,
                        "authorization_servers": auth_servers,
                        "bearer_methods_supported": ["header"],
                    }
                ).encode()

            def _auth_server_metadata(self) -> bytes:
                """RFC 8414 authorization-server metadata — served only
                in hmac-JWT mode, where this process IS the
                authorization server the protected-resource metadata
                points at (the reference mounts the same pair through
                oauth-mcp-proxy, mcp/server.go:95-96; in OIDC mode the
                IdP publishes its own and we must not shadow it)."""
                mcp_url = os.environ.get("MCP_URL", "http://localhost:8080")
                return json.dumps(
                    {
                        "issuer": mcp_url,
                        "token_endpoint": f"{mcp_url}/oauth/token",
                        "grant_types_supported": ["client_credentials"],
                        "token_endpoint_auth_methods_supported": [
                            "client_secret_post"
                        ],
                        "response_types_supported": ["token"],
                    }
                ).encode()

            def _token_endpoint(self) -> None:
                """Minimal OAuth2 client_credentials grant: a client
                presenting the provisioned shared secret receives a
                short-lived HS256 JWT that the /mcp bearer validation
                accepts — the hmac-provider loop the reference delegates
                to oauth-mcp-proxy.

                The sub claim becomes the engine user for the
                impersonation chain, so it is never the caller's
                free-form client_id: with OAUTH_CLIENT_ID configured the
                grant is pinned to that one identity (anything else →
                invalid_client); without it, hmac mode is single-
                principal and every token carries the fixed sub
                ``oauth-client`` — a shared secret holder cannot
                self-assert an arbitrary audited identity either way."""
                if not (
                    jwt_secret
                    and oauth_client_secret
                    and oidc_validator is None
                ):
                    self._reply(404, b'{"error":"not found"}')
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                except ValueError:
                    # malformed header is a bad REQUEST, not an
                    # oversized payload — 400, reserving 413 for the cap
                    self._reply(400, b'{"error":"invalid_request"}')
                    return
                if n < 0 or n > 65536:
                    # cap the form read: a token request is a few hundred
                    # bytes; an unbounded Content-Length would buffer
                    # arbitrary payload into memory
                    self._reply(413, b'{"error":"invalid_request"}')
                    return
                form = parse_qs(self.rfile.read(n).decode("utf-8", "replace"))
                grant = (form.get("grant_type") or [""])[0]
                cid = (form.get("client_id") or [""])[0]
                csec = (form.get("client_secret") or [""])[0]
                if grant != "client_credentials":
                    self._reply(400, b'{"error":"unsupported_grant_type"}')
                    return
                secret_ok = hmac.compare_digest(
                    csec.encode("utf-8"), oauth_client_secret.encode("utf-8")
                )
                if oauth_client_id is not None:
                    # pinned-principal mode: id AND secret must match
                    id_ok = hmac.compare_digest(
                        cid.encode("utf-8"), oauth_client_id.encode("utf-8")
                    )
                    sub = oauth_client_id
                else:
                    id_ok = bool(cid)
                    sub = "oauth-client"
                if not (id_ok and secret_ok):
                    self._reply(401, b'{"error":"invalid_client"}')
                    return
                now = int(time.time())
                token = encode_hs256(
                    {"sub": sub, "iat": now, "exp": now + 3600}, jwt_secret
                )
                self._reply(
                    200,
                    json.dumps(
                        {
                            "access_token": token,
                            "token_type": "Bearer",
                            "expires_in": 3600,
                        }
                    ).encode(),
                )

            def _cors(self):
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header("Access-Control-Allow-Methods", "GET, POST, DELETE, OPTIONS")
                self.send_header("Access-Control-Allow-Headers", "Content-Type, Authorization, X-Trino-User")

            def _reply(self, code: int, body: bytes, ctype="application/json"):
                self.send_response(code)
                self._cors()
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_OPTIONS(self):
                self._reply(204, b"")

            def do_GET(self):
                if self.path == "/status":
                    self._reply(200, json.dumps(_status_body()).encode())
                elif self.path == "/.well-known/oauth-protected-resource" and (
                    oidc_validator is not None or jwt_secret
                ):
                    # discovery stays open: clients fetch it precisely
                    # when they do not yet hold a token
                    self._reply(200, self._protected_resource_metadata())
                elif self.path in (
                    "/.well-known/oauth-authorization-server",
                    "/.well-known/oauth-metadata",  # legacy alias, mcp/server.go:125
                ) and (
                    jwt_secret
                    and oauth_client_secret
                    and oidc_validator is None
                ):
                    # gate matches the token endpoint's: without a
                    # provisioned client secret this process is NOT an
                    # authorization server, and advertising a
                    # /oauth/token that answers 404 misleads clients
                    self._reply(200, self._auth_server_metadata())
                else:
                    self._reply(404, b'{"error":"not found"}')

            def do_POST(self):
                if self.path == "/oauth/token":
                    self._token_endpoint()
                    return
                if self.path not in ("/mcp", "/sse"):
                    self._reply(404, b'{"error":"not found"}')
                    return
                if not self._authorized():
                    self._deny()
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                except ValueError:
                    self._reply(400, b'{"error":"invalid_request"}')
                    return
                if n < 0 or n > 16 * 1024 * 1024:
                    # post-auth, but the same unbounded-buffer class as
                    # the token endpoint: a JSON-RPC call is SQL-text
                    # sized — 16 MB is generous headroom, never "as big
                    # as the client claims"
                    self._reply(413, b'{"error":"payload too large"}')
                    return
                try:
                    msg = json.loads(self.rfile.read(n))
                except json.JSONDecodeError:
                    self._reply(400, json.dumps(_error(None, -32700, "parse error")).encode())
                    return
                reply = server.handle_message(
                    msg,
                    user=self._jwt_user
                    or (self.headers.get("X-Trino-User") or "").strip()
                    or None,
                )
                if reply is None:
                    self._reply(202, b"")
                else:
                    self._reply(200, json.dumps(reply, default=str).encode())

        return Handler


def serve_http(
    host: str = "localhost",
    port: int = 8080,
    auth_token: Optional[str] = None,
    jwt_secret: Optional[str] = None,
    oidc_validator=None,
    tls_cert: Optional[str] = None,
    tls_key: Optional[str] = None,
    oauth_client_secret: Optional[str] = None,
    oauth_client_id: Optional[str] = None,
) -> None:
    """Blocking HTTP(S) transport: /mcp, /sse (legacy), /status.

    Auth config mirrors the reference (config.go:70-78, docs/jwt.md,
    docs/oauth.md): ``OAUTH_ENABLED=true`` with ``OAUTH_PROVIDER`` in
    {okta, google, azure} turns on OIDC/JWKS RS256 validation
    (``OIDC_ISSUER``/``OIDC_AUDIENCE`` required, fail fast at startup —
    config.go:157-160); with the default ``hmac`` provider it requires
    ``JWT_SECRET`` and validates HS256.  Otherwise ``MCP_AUTH_TOKEN``
    enables the static shared-token mode.

    TLS mirrors the reference's TLS transport config
    (internal/trino/client_test.go:500-647): set ``MCP_TLS_CERT`` /
    ``MCP_TLS_KEY`` (or the tls_cert/tls_key args) to serve HTTPS;
    both-or-neither is enforced at startup."""
    import os
    from http.server import ThreadingHTTPServer

    oauth_enabled = os.environ.get("OAUTH_ENABLED", "").strip().lower() in (
        "1", "true", "t", "yes", "y", "on",
    )
    if oidc_validator is None and oauth_enabled:
        from mcp_trino_spark.oidc import OidcConfig, OidcValidator

        oidc_cfg = OidcConfig.from_env()  # raises on bad provider/env combo
        if oidc_cfg.oidc_enabled:
            oidc_validator = OidcValidator(oidc_cfg)
    if jwt_secret is None and oidc_validator is None:
        jwt_secret = os.environ.get("JWT_SECRET") or None
        if oauth_enabled and not jwt_secret:
            raise RuntimeError(
                "OAUTH_ENABLED=true requires JWT_SECRET (hmac provider) "
                "or OAUTH_PROVIDER=okta|google|azure with OIDC_ISSUER/"
                "OIDC_AUDIENCE"
            )
        if not oauth_enabled:
            jwt_secret = None
    if auth_token is None:
        auth_token = os.environ.get("MCP_AUTH_TOKEN") or None
    if oauth_client_secret is None:
        # enables the hmac-mode /oauth/token endpoint (client_credentials
        # grant issuing HS256 JWTs); requires JWT_SECRET to mean anything
        oauth_client_secret = os.environ.get("OAUTH_CLIENT_SECRET") or None
    if oauth_client_id is None:
        # pins the grant (and the minted sub) to one principal; without
        # it the endpoint issues the fixed single-principal identity
        oauth_client_id = os.environ.get("OAUTH_CLIENT_ID") or None
    if tls_cert is None:
        tls_cert = os.environ.get("MCP_TLS_CERT") or None
    if tls_key is None:
        tls_key = os.environ.get("MCP_TLS_KEY") or None
    if bool(tls_cert) != bool(tls_key):
        raise RuntimeError("MCP_TLS_CERT and MCP_TLS_KEY must be set together")
    httpd = ThreadingHTTPServer(
        (host, port),
        _HTTPHandler.make(
            MCPServer(),
            auth_token=auth_token,
            jwt_secret=jwt_secret,
            oidc_validator=oidc_validator,
            oauth_client_secret=oauth_client_secret,
            oauth_client_id=oauth_client_id,
        ),
    )
    if tls_cert:
        httpd.socket = _tls_context(tls_cert, tls_key).wrap_socket(
            httpd.socket, server_side=True
        )
    httpd.serve_forever()


def _tls_context(cert_file: str, key_file: str):
    """Server-side SSLContext with modern defaults (TLS ≥ 1.2)."""
    import ssl

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.minimum_version = ssl.TLSVersion.TLSv1_2
    ctx.load_cert_chain(certfile=cert_file, keyfile=key_file)
    return ctx


def serve_stdio() -> None:
    """Newline-delimited JSON-RPC over stdin/stdout (MCP stdio transport)."""
    server = MCPServer()
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            sys.stdout.write(json.dumps(_error(None, -32700, "parse error")) + "\n")
            sys.stdout.flush()
            continue
        reply = server.handle_message(msg)
        if reply is not None:
            sys.stdout.write(json.dumps(reply, default=str) + "\n")
            sys.stdout.flush()


if __name__ == "__main__":
    # transport selection mirrors the reference (MCP_TRANSPORT env,
    # default stdio; reference cmd/main.go:61-76)
    import os

    if os.environ.get("MCP_TRANSPORT", "stdio") == "http":
        serve_http(
            os.environ.get("MCP_HOST", "localhost"),
            int(os.environ.get("MCP_PORT", "8080")),
        )
    else:
        serve_stdio()
