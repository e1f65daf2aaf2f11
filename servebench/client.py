"""MCP client over HTTP ``POST /mcp`` and the server process it talks to."""

from __future__ import annotations

import json
import os
import re
import signal
import subprocess
import sys
import time
import urllib.error
import urllib.request


class McpClient:
    """One client, one outstanding request at a time (an MCP host waits for
    each tool result before it sends the next call)."""

    def __init__(self, base_url: str, timeout_s: float = 170.0):
        self.url = base_url.rstrip("/") + "/mcp"
        self.timeout_s = timeout_s
        self._id = 0

    def call(self, name: str, arguments: dict) -> tuple[float, dict | None, str | None]:
        """(latency_s, tool result, error).  An HTTP error, a JSON-RPC error
        or a tool error envelope all come back as ``error``."""
        self._id += 1
        body = json.dumps({"jsonrpc": "2.0", "id": self._id, "method": "tools/call",
                           "params": {"name": name, "arguments": arguments}}).encode()
        req = urllib.request.Request(self.url, body, {"Content-Type": "application/json"})
        t = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                raw = resp.read()
        except (urllib.error.URLError, OSError) as exc:
            return time.perf_counter() - t, None, f"http: {exc}"
        latency = time.perf_counter() - t
        msg = json.loads(raw)
        if "error" in msg:
            return latency, None, f"rpc: {msg['error']}"
        result = json.loads(msg["result"]["content"][0]["text"])
        if msg["result"].get("isError") or result.get("status") == "error":
            return latency, result, f"tool: {result.get('error')}"
        return latency, result, None


def wait_healthy(base_url: str, deadline: float, proc=None) -> None:
    while True:
        try:
            with urllib.request.urlopen(base_url + "/health", timeout=1.0) as r:
                if r.status == 200:
                    return
        except (urllib.error.URLError, OSError):
            pass
        if proc is not None and proc.poll() is not None:
            raise RuntimeError(f"server exited with code {proc.returncode}")
        if time.monotonic() > deadline:
            raise RuntimeError("server did not become healthy in time")
        time.sleep(0.05)


class ServerProcess:
    """``python -m mcpvectordb_spark.server --transport http``.  It runs
    until ``stop_descendants``: the store and the Spark local directory are
    thrown away, so nothing needs a clean exit."""

    def __init__(self, root: str, store: str, workdir: str, cpus: str):
        self.log_path = os.path.join(workdir, "server.log")
        env = dict(os.environ, PYTHONPATH=root, SPARK_GRAFT_CPUS=cpus,
                   SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
        env.pop("SPARK_GRAFT_UI", None)
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "mcpvectordb_spark.server", "--store", store,
                 "--transport", "http", "--port", "0"],
                cwd=workdir, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
        self.base_url = None

    def wait_ready(self, timeout_s: float = 120.0) -> str:
        deadline = time.monotonic() + timeout_s
        pat = re.compile(r"listening on (http://[\d.]+:\d+)")
        while self.base_url is None:
            with open(self.log_path) as f:
                m = pat.search(f.read())
            if m:
                self.base_url = m.group(1)
                break
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with code {self.proc.returncode}")
            if time.monotonic() > deadline:
                raise RuntimeError("server did not start listening in time")
            time.sleep(0.05)
        wait_healthy(self.base_url, deadline, self.proc)
        return self.base_url

    def rss_mb(self) -> float:
        return tree_rss_mb(self.proc.pid)


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent dies is handed to this one instead of to init, so
    ``stop_descendants`` can reap it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) of every process, from /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(entry)] = (int(fields[1]), fields[0])
    return table


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in _proc_table().items():
        children.setdefault(ppid, []).append(p)
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def stop_descendants(timeout_s: float = 60.0) -> None:
    """SIGKILL every process this one started, directly or not, and reap
    them all.  With ``become_subreaper`` every orphan comes back to this
    process, so once ``waitpid`` finds no child at all, none is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        for p in descendants(os.getpid()):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {descendants(os.getpid())}")
        time.sleep(0.05)


def tree_rss_mb(pid: int) -> float:
    """Resident memory of a process and all its descendants, from /proc."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total / 1e6
