"""Serving-transport tests: MCP JSON-RPC over stdio framing and the HTTP
endpoint incl. the reference's multipart /upload contract
(reference server.py:64-471 tool surface, 473-554 upload statuses)."""

import io
import json
import threading
import urllib.request
import urllib.error
from unittest.mock import Mock, call

import pytest

from mcpvectordb_spark.api import VectorDB
from mcpvectordb_spark.config import TEST
from mcpvectordb_spark.server import (
    McpStdioServer,
    call_tool,
    handle_rpc,
    make_http_server,
    tool_listing,
)

REFERENCE_TOOLS = {
    "ingest_file", "ingest_url", "ingest_content", "ingest_folder",
    "search", "list_documents", "list_libraries", "delete_document",
    "get_document", "server_info",
}


@pytest.fixture()
def db(spark, tmp_path):
    return VectorDB(spark, str(tmp_path / "chunks"), TEST)


def _rpc(method, params=None, id_=1):
    return {"jsonrpc": "2.0", "id": id_, "method": method, "params": params or {}}


def test_tool_listing_matches_reference_surface():
    listed = {t["name"] for t in tool_listing()}
    assert listed == REFERENCE_TOOLS
    for t in tool_listing():
        assert t["inputSchema"]["type"] == "object"
        assert "_dispatch" not in t  # closures never serialize onto the wire


def test_stdio_session_lifecycle(db):
    """initialize → initialized → tools/list → tools/call → unknown method,
    driven through the real line-framed loop."""
    lines = [
        _rpc("initialize", {"protocolVersion": "2024-11-05"}, id_=0),
        {"jsonrpc": "2.0", "method": "notifications/initialized"},  # no reply
        _rpc("tools/list", id_=1),
        _rpc("tools/call", {"name": "ingest_content", "arguments": {
            "content": "Spark serves vectors over MCP now.",
            "source": "note.md", "library": "srv"}}, id_=2),
        _rpc("tools/call", {"name": "search", "arguments": {
            "query": "vectors over MCP", "library": "srv"}}, id_=3),
        _rpc("no/such/method", id_=4),
        "this is not json",
    ]
    inp = io.StringIO("\n".join(
        l if isinstance(l, str) else json.dumps(l) for l in lines) + "\n")
    out = io.StringIO()
    McpStdioServer(db, inp, out).serve_forever()
    resps = [json.loads(l) for l in out.getvalue().splitlines()]
    by_id = {r.get("id"): r for r in resps}

    assert by_id[0]["result"]["serverInfo"]["name"] == "mcpvectordb-spark"
    assert by_id[0]["result"]["capabilities"] == {"tools": {}}
    assert {t["name"] for t in by_id[1]["result"]["tools"]} == REFERENCE_TOOLS
    ingest = json.loads(by_id[2]["result"]["content"][0]["text"])
    assert ingest["status"] == "indexed" and by_id[2]["result"]["isError"] is False
    hits = json.loads(by_id[3]["result"]["content"][0]["text"])
    assert hits["results"] and "MCP" in hits["results"][0]["content"]
    assert by_id[4]["error"]["code"] == -32601
    assert by_id[None]["error"]["code"] == -32700  # parse error
    # 1 notification swallowed: 6 framed responses for 7 input lines
    assert len(resps) == 6


def test_call_tool_error_contract(db):
    assert call_tool(db, "nope", {})["status"] == "error"
    assert "missing required" in call_tool(db, "search", {})["error"]
    # engine-level error surfaces as an isError result, not an exception
    resp = handle_rpc(db, _rpc("tools/call", {"name": "get_document",
                                              "arguments": {"doc_id": "absent"}}))
    assert resp["result"]["isError"] is True


@pytest.mark.parametrize("tool,arguments,bad", [
    ("search", {"query": "x", "filter": ["x"]}, "filter"),
    ("search", {"query": "x", "library": 5}, "library"),
    ("search", {"query": "x", "top_k": True}, "top_k"),
    ("search", {"query": None}, "query"),
    ("list_documents", {"limit": "5"}, "limit"),
    ("ingest_content", {"content": 5, "source": "s.md"}, "content"),
    ("ingest_content", {"content": "text", "source": 7}, "source"),
    ("ingest_content", {"content": "text", "source": "s.md", "library": 3}, "library"),
    ("ingest_content", {"content": "text", "source": "s.md", "metadata": [1]}, "metadata"),
    ("get_document", {"doc_id": ["x"]}, "doc_id"),
    ("delete_document", {"doc_id": 5}, "doc_id"),
    ("server_info", {"check_path": 5}, "check_path"),
    ("ingest_file", {"path": 5}, "path"),
    ("ingest_url", {"url": 5}, "url"),
    ("ingest_folder", {"folder": 5}, "folder"),
    ("ingest_folder", {"folder": "/tmp", "recursive": "yes"}, "recursive"),
])
def test_call_tool_rejects_wrong_typed_arguments(tool, arguments, bad):
    """A wrong JSON type is an error naming the argument, returned before
    anything reaches the engine (so nothing is indexed)."""
    engine = Mock()
    out = call_tool(engine, tool, arguments)
    assert out["status"] == "error" and f"'{bad}'" in out["error"], out
    assert engine.method_calls == []


def test_call_tool_null_optional_arguments_take_defaults():
    engine = Mock()
    call_tool(engine, "ingest_content", {"content": "t", "source": "s", "library": None})
    call_tool(engine, "search", {"query": "q", "top_k": None, "library": None, "filter": None})
    call_tool(engine, "list_documents", {"library": "L", "limit": 5, "offset": None})
    assert call_tool(engine, "search", [1])["status"] == "error"
    assert engine.method_calls == [call.ingest_content("t", "s", "default", None),
                                   call.search("q", None, None, None),
                                   call.list_documents("L", 5, 0)]


@pytest.mark.parametrize("tool", sorted(REFERENCE_TOOLS))
def test_every_schema_property_reaches_its_vectordb_parameter(tool):
    """Each tool calls the VectorDB method of its name, and every
    inputSchema property lands in the parameter of the same name, so no
    keyword the engine lacks is reachable from the wire."""
    import inspect

    props = next(t for t in tool_listing() if t["name"] == tool)["inputSchema"]["properties"]
    types = {k: p["type"] if isinstance(p["type"], str) else p["type"][0] for k, p in props.items()}
    # a value of each property's (first) type, distinct between properties
    args = {k: {"string": f"v-{k}", "integer": len(k), "boolean": False, "object": {"k": k}}[t]
            for k, t in types.items()}
    engine = Mock()
    call_tool(engine, tool, args)
    [(name, pos, kw)] = engine.method_calls
    bound = inspect.signature(getattr(VectorDB, tool)).bind(None, *pos, **kw).arguments
    assert name == tool and {k: bound.get(k) for k in props} == args


def _post(url, data, content_type):
    req = urllib.request.Request(url, data=data, headers={"Content-Type": content_type})
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _multipart(fields):
    boundary = "testboundary42"
    buf = io.BytesIO()
    for name, (filename, payload) in fields.items():
        buf.write(f"--{boundary}\r\n".encode())
        disp = f'Content-Disposition: form-data; name="{name}"'
        if filename:
            disp += f'; filename="{filename}"'
        buf.write((disp + "\r\n\r\n").encode())
        buf.write(payload if isinstance(payload, bytes) else payload.encode())
        buf.write(b"\r\n")
    buf.write(f"--{boundary}--\r\n".encode())
    return buf.getvalue(), f"multipart/form-data; boundary={boundary}"


def test_http_endpoint_and_upload_contract(db):
    srv = make_http_server(db)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(f"{base}/health", timeout=30) as r:
            assert json.loads(r.read())["status"] == "ok"

        # JSON-RPC over HTTP: same dispatch as stdio
        status, doc = _post(f"{base}/mcp", json.dumps(
            _rpc("tools/call", {"name": "list_libraries"})).encode(), "application/json")
        assert status == 200 and doc["result"]["isError"] is False

        # upload: markdown file end-to-end (ingest under the REAL filename)
        body, ctype = _multipart({
            "file": ("notes.md", "# Uploaded\n\nServer-side ingest works."),
            "library": ("", "uploads"),
            "metadata": ("", '{"channel": "http"}'),
        })
        status, doc = _post(f"{base}/upload", body, ctype)
        assert status == 200 and doc["status"] == "indexed", doc
        assert doc["source"] == "notes.md"

        listed = call_tool(db, "list_documents", {"library": "uploads"})
        assert [d["source"] for d in listed["documents"]] == ["notes.md"]

        # 400: missing file field
        body, ctype = _multipart({"library": ("", "uploads")})
        status, doc = _post(f"{base}/upload", body, ctype)
        assert status == 400 and "file" in doc["error"]

        # 400: bad metadata JSON
        body, ctype = _multipart({"file": ("a.md", "x"), "metadata": ("", "{nope")})
        status, doc = _post(f"{base}/upload", body, ctype)
        assert status == 400 and "metadata" in doc["error"]

        # 422: unsupported format (an OCR-only extension)
        body, ctype = _multipart({"file": ("scan.jpg", b"\xff\xd8fakejpeg")})
        status, doc = _post(f"{base}/upload", body, ctype)
        assert status == 422 and "Unsupported format" in doc["error"]

        # streamable-http nicety: initialize responses carry Mcp-Session-Id
        req = urllib.request.Request(
            f"{base}/mcp", data=json.dumps(_rpc("initialize")).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=30) as r:
            assert r.headers.get("Mcp-Session-Id")
    finally:
        srv.shutdown()
        srv.server_close()


def _sse_connect(port):
    """Open GET /sse and return (socket, buffered reader, endpoint path)."""
    import socket

    s = socket.create_connection(("127.0.0.1", port), timeout=30)
    s.sendall(b"GET /sse HTTP/1.1\r\nHost: localhost\r\n"
              b"Accept: text/event-stream\r\n\r\n")
    f = s.makefile("rb")
    assert b"200" in f.readline()
    while f.readline().strip():  # drain response headers
        pass
    assert f.readline().strip() == b"event: endpoint"
    endpoint = f.readline().decode().split("data: ", 1)[1].strip()
    assert f.readline().strip() == b""
    return s, f, endpoint


def _sse_next_message(f, tries=200):
    """Next `message` event payload, skipping keep-alive comments."""
    for _ in range(tries):
        line = f.readline().strip()
        if line == b"event: message":
            payload = json.loads(f.readline().decode().split("data: ", 1)[1])
            f.readline()  # trailing blank
            return payload
    raise AssertionError("no SSE message event arrived")


def test_sse_transport_round_trip(db):
    """MCP HTTP+SSE (reference server.py:773 sse transport): the stream
    announces the session's POST endpoint, POSTs are 202-accepted, and each
    JSON-RPC response arrives as a `message` event on the open stream."""
    srv = make_http_server(db, sse_keepalive_s=0.2)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"
    try:
        s, f, endpoint = _sse_connect(port)
        assert endpoint.startswith("/messages?session_id=")

        status, _ = _post(base + endpoint, json.dumps(
            _rpc("initialize", {"protocolVersion": "2024-11-05"}, id_=7)).encode(),
            "application/json")
        assert status == 202
        msg = _sse_next_message(f)
        assert msg["id"] == 7
        assert msg["result"]["serverInfo"]["name"] == "mcpvectordb-spark"

        status, _ = _post(base + endpoint,
                          json.dumps(_rpc("tools/list", id_=8)).encode(),
                          "application/json")
        assert status == 202
        msg = _sse_next_message(f)
        assert {t["name"] for t in msg["result"]["tools"]} == REFERENCE_TOOLS

        # a second concurrent stream gets its own session
        s2, f2, endpoint2 = _sse_connect(port)
        assert endpoint2 != endpoint
        s2.close(), f2.close()

        # unknown session → 404, nothing queued anywhere
        status, doc = _post(base + "/messages?session_id=nope", b"{}",
                            "application/json")
        assert status == 404 and "unknown session" in doc["error"]
        s.close(), f.close()
    finally:
        srv.shutdown()
        srv.server_close()


def test_oauth_metadata_and_bearer_enforcement(db):
    """Reference OAuth contract (server.py:557-640): RFC 9728 metadata is
    always public; with auth configured every other path 401s without a
    valid bearer token, and the 401 carries WWW-Authenticate pointing at
    the metadata."""
    from mcpvectordb_spark.server import bearer_validator

    srv = make_http_server(db, auth=bearer_validator("s3kret"))
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{port}"
    try:
        with urllib.request.urlopen(
                f"{base}/.well-known/oauth-protected-resource", timeout=30) as r:
            meta = json.loads(r.read())
        assert meta["bearer_methods_supported"] == ["header"]
        assert meta["authorization_servers"]

        for headers in ({}, {"Authorization": "Bearer wrong"}):
            req = urllib.request.Request(f"{base}/health", headers=headers)
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req, timeout=30)
            assert ei.value.code == 401
            www = ei.value.headers["WWW-Authenticate"]
            assert "resource_metadata" in www and "Bearer" in www
            assert json.loads(ei.value.read())["error"] == "invalid_token"

        req = urllib.request.Request(
            f"{base}/health", headers={"Authorization": "Bearer s3kret"})
        with urllib.request.urlopen(req, timeout=30) as r:
            assert json.loads(r.read())["status"] == "ok"

        req = urllib.request.Request(
            f"{base}/mcp", data=json.dumps(_rpc("tools/list")).encode(),
            headers={"Content-Type": "application/json",
                     "Authorization": "Bearer s3kret"})
        with urllib.request.urlopen(req, timeout=30) as r:
            assert {t["name"] for t in json.loads(r.read())["result"]["tools"]} \
                == REFERENCE_TOOLS
    finally:
        srv.shutdown()
        srv.server_close()


def test_tls_server_and_failfast_validation(db, tmp_path):
    """TLS contract (reference server.py:625-640 + uvicorn ssl wiring):
    the socket is wrapped server-side with the given cert/key, a verifying
    client connects over https, and missing files fail fast."""
    import ssl
    import subprocess

    cert, key = tmp_path / "cert.pem", tmp_path / "key.pem"
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(cert), "-days", "1",
         "-subj", "/CN=localhost",
         "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
        check=True, capture_output=True)

    with pytest.raises(ValueError, match="tls_key not found"):
        make_http_server(db, tls_cert=str(cert), tls_key=str(tmp_path / "nope.pem"))

    srv = make_http_server(db, tls_cert=str(cert), tls_key=str(key))
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        ctx = ssl.create_default_context(cafile=str(cert))  # verifying client
        with urllib.request.urlopen(
                f"https://localhost:{port}/health", context=ctx, timeout=30) as r:
            assert json.loads(r.read())["status"] == "ok"
    finally:
        srv.shutdown()
        srv.server_close()
