"""Serving transport: MCP JSON-RPC 2.0 over stdio + a plain-HTTP endpoint.

The reference serves its 10 tools as an MCP server over stdio / SSE /
streamable-HTTP (reference server.py:723-773) with a multipart ``/upload``
route that converts + ingests server-side (server.py:473-554).  This module
is the Spark engine's equivalent network layer, pure stdlib (FastMCP /
starlette / uvicorn are not in this container):

- :class:`McpStdioServer` — newline-delimited JSON-RPC 2.0 on a pair of
  text streams (the MCP stdio framing): ``initialize`` →
  ``notifications/initialized`` → ``tools/list`` / ``tools/call``.
- :func:`make_http_server` — ``http.server`` with the reference's three
  network surfaces (server.py:723-773):
  * streamable-HTTP: ``POST /mcp`` (JSON-RPC dispatch, ``Mcp-Session-Id``
    issued on initialize), ``POST /upload`` (multipart: file / library /
    metadata — the 400/422/500 contract), ``GET /health``;
  * HTTP+SSE: ``GET /sse`` opens a ``text/event-stream`` that first sends
    the ``endpoint`` event, then streams each JSON-RPC response the client
    POSTs to ``/messages?session_id=...`` (202-accepted);
  * OAuth protected resource (reference server.py:557-640): public
    RFC 9728 metadata at ``/.well-known/oauth-protected-resource``;
    when a bearer secret is configured every other path 401s without it
    (``WWW-Authenticate`` pointing at the metadata).  Token verification
    is a pluggable callable — the engine-local default is a constant-time
    shared-secret compare; a JWT/AS verifier drops into the same seam.
  * TLS: pass ``tls_cert``/``tls_key`` and the listening socket is
    wrapped server-side (stdlib ``ssl``) — the reference's
    TLS_CERT_FILE/TLS_KEY_FILE contract, including the exists-check.

Scale note: the transport is driver-side by design — every tool call is a
Spark job on the shared session, so concurrency comes from Spark's
scheduler (FAIR pool), not from this layer.
"""

from __future__ import annotations

import hmac
import json
import queue as queue_mod
import sys
import uuid
from typing import Any, Callable, TextIO
from urllib.parse import parse_qs, urlsplit

from mcpvectordb_spark.api import VectorDB

PROTOCOL_VERSION = "2024-11-05"
SERVER_INFO = {"name": "mcpvectordb-spark", "version": "0.2.0"}

# ---------------------------------------------------------------------------
# Tool registry: name → (description, JSON schema, dispatcher).
# Mirrors the reference's @mcp.tool() surface (server.py:64-471) — same
# names, parameters, defaults, and error-dict contract.

_STR = {"type": "string"}
_OPT_STR = {"type": ["string", "null"]}
_INT = {"type": "integer"}
_OBJ = {"type": ["object", "null"]}


def _tool(name: str, desc: str, props: dict, required: list[str],
          fn: Callable[[VectorDB, dict], dict]) -> dict:
    return {
        "name": name,
        "description": desc,
        "inputSchema": {"type": "object", "properties": props, "required": required},
        "_dispatch": fn,
    }


TOOLS: list[dict] = [
    _tool("ingest_file", "Ingest a local file: convert → chunk → embed → store.",
          {"path": _STR, "library": _STR, "metadata": _OBJ}, ["path"],
          lambda db, a: db.ingest_file(a["path"], a.get("library", "default"),
                                       a.get("metadata"))),
    _tool("ingest_url", "Fetch a URL and ingest its content.",
          {"url": _STR, "library": _STR, "metadata": _OBJ}, ["url"],
          lambda db, a: db.ingest_url(a["url"], a.get("library", "default"),
                                      a.get("metadata"))),
    _tool("ingest_content", "Ingest raw text content directly.",
          {"content": _STR, "source": _STR, "library": _STR, "metadata": _OBJ},
          ["content", "source"],
          lambda db, a: db.ingest_content(a["content"], a["source"],
                                          a.get("library", "default"), a.get("metadata"))),
    _tool("ingest_folder", "Recursively ingest every supported file in a folder.",
          {"folder": _STR, "library": _STR, "metadata": _OBJ,
           "recursive": {"type": "boolean"}}, ["folder"],
          lambda db, a: db.ingest_folder(a["folder"], a.get("library", "default"),
                                         a.get("metadata"),
                                         recursive=a.get("recursive", True))),
    _tool("search", "Hybrid BM25 + vector search with RRF fusion.",
          {"query": _STR, "top_k": _INT, "library": _OPT_STR, "filter": _OBJ},
          ["query"],
          lambda db, a: db.search(a["query"], a.get("top_k"), a.get("library"),
                                  a.get("filter"))),
    _tool("list_documents", "List indexed documents with metadata.",
          {"library": _OPT_STR, "limit": _INT, "offset": _INT}, [],
          lambda db, a: db.list_documents(a.get("library"), a.get("limit", 20),
                                          a.get("offset", 0))),
    _tool("list_libraries", "List libraries with document/chunk counts.",
          {}, [],
          lambda db, a: db.list_libraries()),
    _tool("delete_document", "Delete a document and all its chunks.",
          {"doc_id": _STR}, ["doc_id"],
          lambda db, a: db.delete_document(a["doc_id"])),
    _tool("get_document", "Reconstruct a full document from its chunks.",
          {"doc_id": _STR}, ["doc_id"],
          lambda db, a: db.get_document(a["doc_id"])),
    _tool("server_info", "Server diagnostics (platform, store path, readability probe).",
          {"check_path": _OPT_STR}, [],
          lambda db, a: db.server_info(a.get("check_path"))),
]

_BY_NAME = {t["name"]: t for t in TOOLS}


def tool_listing() -> list[dict]:
    """The tools/list payload (registry minus the dispatch closures)."""
    return [{k: v for k, v in t.items() if not k.startswith("_")} for t in TOOLS]


# JSON-schema type → test of a decoded JSON value (a bool is not an integer)
_IS_TYPE: dict[str, Callable[[Any], bool]] = {
    "string": lambda v: isinstance(v, str),
    "integer": lambda v: isinstance(v, int) and not isinstance(v, bool),
    "boolean": lambda v: isinstance(v, bool),
    "object": lambda v: isinstance(v, dict),
    "null": lambda v: v is None,
}


def call_tool(db: VectorDB, name: str, arguments: dict | None) -> dict:
    """Dispatch one tools/call to the engine.  Engine-level failures come
    back as the reference's ``{"status": "error", "error": ...}`` dicts —
    they are tool RESULTS (isError), not protocol errors.  Each argument
    is checked against its ``inputSchema`` type first, so a wrong-typed
    value is an error naming it, never a crash or a coerced store value."""
    spec = _BY_NAME.get(name)
    if spec is None:
        return {"status": "error", "error": f"unknown tool: {name}"}
    if not isinstance(arguments or {}, dict):
        return {"status": "error", "error": "arguments must be an object"}
    schema = spec["inputSchema"]
    # null for an optional argument means "not given": the tool's default applies
    args = {k: v for k, v in (arguments or {}).items()
            if v is not None or k in schema["required"]}
    missing = [k for k in schema["required"] if k not in args]
    if missing:
        return {"status": "error", "error": f"missing required argument(s): {missing}"}
    for k, v in args.items():
        t = schema["properties"].get(k, {}).get("type", [])  # undeclared: ignored
        types = t if isinstance(t, list) else [t]
        if types and not any(_IS_TYPE[x](v) for x in types):
            return {"status": "error", "error": f"argument '{k}' must be {' or '.join(types)}"}
    try:
        return spec["_dispatch"](db, args)
    except Exception as exc:  # engine errors never kill the transport
        return {"status": "error", "error": f"Internal error: {exc}"}


# ---------------------------------------------------------------------------
# JSON-RPC 2.0 core (shared by stdio and HTTP transports)

def _rpc_error(id_: Any, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": id_, "error": {"code": code, "message": message}}


def handle_rpc(db: VectorDB, req: dict) -> dict | None:
    """One JSON-RPC request → response dict (None for notifications)."""
    id_ = req.get("id")
    method = req.get("method")
    params = req.get("params") or {}
    if method == "initialize":
        return {"jsonrpc": "2.0", "id": id_, "result": {
            "protocolVersion": PROTOCOL_VERSION,
            "capabilities": {"tools": {}},
            "serverInfo": SERVER_INFO,
        }}
    if method in ("notifications/initialized", "notifications/cancelled"):
        return None  # notifications get no response
    if method == "ping":
        return {"jsonrpc": "2.0", "id": id_, "result": {}}
    if method == "tools/list":
        return {"jsonrpc": "2.0", "id": id_, "result": {"tools": tool_listing()}}
    if method == "tools/call":
        name = params.get("name")
        result = call_tool(db, name, params.get("arguments"))
        return {"jsonrpc": "2.0", "id": id_, "result": {
            "content": [{"type": "text", "text": json.dumps(result)}],
            "isError": result.get("status") == "error",
        }}
    if id_ is None:
        return None  # unknown notification — ignore per spec
    return _rpc_error(id_, -32601, f"method not found: {method}")


class McpStdioServer:
    """MCP stdio framing: one JSON-RPC message per line on stdin/stdout.
    Stream-injectable so tests drive it without a subprocess."""

    def __init__(self, db: VectorDB, inp: TextIO | None = None, out: TextIO | None = None):
        self.db = db
        self.inp = inp if inp is not None else sys.stdin
        self.out = out if out is not None else sys.stdout

    def serve_forever(self) -> None:
        for line in self.inp:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except ValueError:
                self._send(_rpc_error(None, -32700, "parse error"))
                continue
            resp = handle_rpc(self.db, req)
            if resp is not None:
                self._send(resp)

    def _send(self, msg: dict) -> None:
        self.out.write(json.dumps(msg, separators=(",", ":")) + "\n")
        self.out.flush()


# ---------------------------------------------------------------------------
# HTTP transport: POST /mcp (JSON-RPC), POST /upload (multipart), GET /health

def _parse_multipart(content_type: str, body: bytes) -> dict[str, tuple[str | None, bytes]]:
    """form-field name → (filename, payload) via the stdlib email parser
    (cgi.FieldStorage is deprecated; this is the dependency-free path)."""
    from email.parser import BytesParser
    from email.policy import HTTP as HTTP_POLICY

    msg = BytesParser(policy=HTTP_POLICY).parsebytes(
        b"Content-Type: " + content_type.encode() + b"\r\nMIME-Version: 1.0\r\n\r\n" + body
    )
    fields: dict[str, tuple[str | None, bytes]] = {}
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if name:
            fields[name] = (part.get_filename(), part.get_payload(decode=True) or b"")
    return fields


def bearer_validator(secret: str) -> Callable[[str], bool]:
    """Constant-time shared-secret bearer check (the engine-local stand-in
    for the reference's Google ID-token verifier, auth.py — same enforcement
    contract, pluggable verification)."""
    def validate(token: str) -> bool:
        return hmac.compare_digest(token, secret)
    return validate


def make_http_server(
    db: VectorDB,
    host: str = "127.0.0.1",
    port: int = 0,
    *,
    auth: Callable[[str], bool] | None = None,
    tls_cert: str | None = None,
    tls_key: str | None = None,
    resource_url: str | None = None,
    sse_keepalive_s: float = 15.0,
):
    """An http.server bound to (host, port); caller runs serve_forever()
    (tests run it on a thread, main() in the foreground).

    ``auth``: optional bearer-token validator; when set, every path except
    ``/.well-known/*`` requires ``Authorization: Bearer`` (reference
    server.py:577-596 _RequireGoogleAuth).  ``tls_cert``/``tls_key`` wrap
    the socket server-side.  ``resource_url`` overrides the advertised
    RFC 9728 resource (reference settings.oauth_resource_url)."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    sessions: dict[str, queue_mod.Queue] = {}
    scheme = "https" if tls_cert else "http"

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet: the engine logs via Spark
            pass

        def _json(self, status: int, doc: dict, headers: dict | None = None) -> None:
            payload = json.dumps(doc).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(payload)

        def _base_url(self) -> str:
            return resource_url or f"{scheme}://{self.headers.get('Host', host)}"

        def _authorized(self) -> bool:
            """Reference enforcement shape: /.well-known/* always public,
            everything else 401s without a valid bearer token."""
            if auth is None:
                return True
            path = urlsplit(self.path).path
            if path.startswith("/.well-known/"):
                return True
            hdr = self.headers.get("Authorization", "")
            if hdr.startswith("Bearer ") and auth(hdr[7:].strip()):
                return True
            meta = self._base_url() + "/.well-known/oauth-protected-resource"
            self._json(401, {"error": "invalid_token",
                             "error_description": "Authentication required"},
                       {"WWW-Authenticate":
                        f'Bearer realm="mcpvectordb", resource_metadata="{meta}"'})
            return False

        def do_GET(self):
            if not self._authorized():
                return
            path = urlsplit(self.path).path
            if path == "/health":
                self._json(200, {"status": "ok", **SERVER_INFO})
            elif path == "/.well-known/oauth-protected-resource":
                # RFC 9728 metadata — always public (reference server.py:558-573)
                self._json(200, {
                    "resource": self._base_url(),
                    "authorization_servers": ["https://accounts.google.com"],
                    "bearer_methods_supported": ["header"],
                    "scopes_supported": ["openid", "email"],
                })
            elif path == "/sse":
                self._serve_sse()
            else:
                self._json(404, {"status": "error", "error": "not found"})

        def _serve_sse(self) -> None:
            """MCP HTTP+SSE: announce the POST endpoint, then stream every
            JSON-RPC response for this session as a ``message`` event."""
            sid = uuid.uuid4().hex
            q: queue_mod.Queue = queue_mod.Queue()
            sessions[sid] = q
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.send_header("Cache-Control", "no-cache")
            self.end_headers()
            try:
                self.wfile.write(
                    f"event: endpoint\ndata: /messages?session_id={sid}\n\n".encode())
                self.wfile.flush()
                while True:
                    try:
                        msg = q.get(timeout=sse_keepalive_s)
                    except queue_mod.Empty:
                        self.wfile.write(b": keep-alive\n\n")  # liveness probe;
                        self.wfile.flush()                     # dead client → pipe error
                        continue
                    if msg is None:
                        break
                    self.wfile.write(
                        f"event: message\ndata: {json.dumps(msg)}\n\n".encode())
                    self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass
            finally:
                sessions.pop(sid, None)

        def do_POST(self):
            if not self._authorized():
                return
            length = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(length)
            split = urlsplit(self.path)
            if split.path == "/mcp":
                try:
                    req = json.loads(body)
                except ValueError:
                    self._json(400, _rpc_error(None, -32700, "parse error"))
                    return
                resp = handle_rpc(db, req)
                headers = ({"Mcp-Session-Id": uuid.uuid4().hex}
                           if req.get("method") == "initialize" else None)
                self._json(200, resp if resp is not None else {}, headers)
            elif split.path == "/messages":
                sid = parse_qs(split.query).get("session_id", [""])[0]
                q = sessions.get(sid)
                if q is None:
                    self._json(404, {"status": "error", "error": "unknown session"})
                    return
                try:
                    req = json.loads(body)
                except ValueError:
                    q.put(_rpc_error(None, -32700, "parse error"))
                    self._json(202, {"status": "accepted"})
                    return
                resp = handle_rpc(db, req)
                if resp is not None:
                    q.put(resp)
                self._json(202, {"status": "accepted"})
            elif split.path == "/upload":
                self._upload(body)
            else:
                self._json(404, {"status": "error", "error": "not found"})

        def _upload(self, body: bytes) -> None:
            """Reference upload contract (server.py:473-554): multipart
            fields file (required) / library / metadata; 400 bad form,
            422 unsupported format, 500 ingest failure."""
            ctype = self.headers.get("Content-Type", "")
            if "multipart/form-data" not in ctype:
                self._json(400, {"status": "error",
                                 "error": "expected multipart/form-data"})
                return
            try:
                fields = _parse_multipart(ctype, body)
            except Exception as exc:
                self._json(400, {"status": "error", "error": f"Form parse failed: {exc}"})
                return
            if "file" not in fields:
                self._json(400, {"status": "error",
                                 "error": "Missing required 'file' field"})
                return
            filename, raw = fields["file"]
            filename = filename or "upload"
            library = (fields.get("library", (None, b""))[1].decode() or "default")
            raw_meta = fields.get("metadata", (None, b""))[1].decode()
            try:
                metadata = json.loads(raw_meta) if raw_meta else None
            except ValueError:
                self._json(400, {"status": "error",
                                 "error": "'metadata' must be a valid JSON string"})
                return

            from mcpvectordb_spark.converter import convert_bytes

            ext = filename.rsplit(".", 1)[-1].lower() if "." in filename else "bin"
            try:
                markdown = convert_bytes(raw, ext)
            except (ValueError, NotImplementedError) as exc:
                self._json(422, {"status": "error", "error": f"Unsupported format: {exc}"})
                return
            except Exception as exc:
                self._json(500, {"status": "error", "error": f"Conversion failed: {exc}"})
                return
            # original filename as source so dedup + listings show the real
            # name, not a temp path (reference server.py:536-538)
            result = call_tool(db, "ingest_content", {
                "content": markdown, "source": filename,
                "library": library, "metadata": metadata,
            })
            self._json(500 if result.get("status") == "error" else 200, result)

    srv = ThreadingHTTPServer((host, port), Handler)
    srv.daemon_threads = True  # lingering SSE streams never block shutdown
    if tls_cert:
        import os
        import ssl

        # reference _validate_tls_config: fail fast on missing files
        for label, p in (("tls_cert", tls_cert), ("tls_key", tls_key)):
            if not p or not os.path.exists(p):
                raise ValueError(f"{label} not found: {p}")
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(tls_cert, tls_key)
        srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    return srv


def main(argv: list[str] | None = None) -> None:
    import argparse
    import os

    ap = argparse.ArgumentParser(description="mcpvectordb-spark server")
    ap.add_argument("--store", required=True, help="chunk store path (parquet root)")
    ap.add_argument("--transport", choices=["stdio", "http"], default="stdio",
                    help="http serves streamable-HTTP (/mcp), SSE (/sse), "
                         "upload, and the OAuth metadata routes")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8765)
    ap.add_argument("--auth-token", default=os.environ.get("MCPVDB_AUTH_TOKEN"),
                    help="bearer secret; when set, all non-/.well-known paths "
                         "require Authorization: Bearer <token>")
    ap.add_argument("--tls-cert", default=os.environ.get("MCPVDB_TLS_CERT"))
    ap.add_argument("--tls-key", default=os.environ.get("MCPVDB_TLS_KEY"))
    args = ap.parse_args(argv)

    from mcpvectordb_spark.session import get_spark

    db = VectorDB(get_spark(), args.store)
    if args.transport == "stdio":
        McpStdioServer(db).serve_forever()
    else:
        srv = make_http_server(
            db, args.host, args.port,
            auth=bearer_validator(args.auth_token) if args.auth_token else None,
            tls_cert=args.tls_cert, tls_key=args.tls_key,
        )
        scheme = "https" if args.tls_cert else "http"
        print(f"listening on {scheme}://{args.host}:{srv.server_address[1]}",
              file=sys.stderr)
        srv.serve_forever()


if __name__ == "__main__":  # pragma: no cover
    main()
