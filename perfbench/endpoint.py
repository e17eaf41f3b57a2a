"""A fake Neo4j transactional HTTP endpoint for the ``connector-http`` workload.

It speaks just enough of the protocol the engine's ``HttpTransport`` uses:
HTTP/1.1 ``POST .../transaction/commit`` with a ``{"statements": [...]}``
body, answered with ``{"results": [...], "errors": [...]}``. It accepts the
three statement shapes the workload sends:

- ``UNWIND $rows AS r CREATE (n:L {c: r.c, ...})`` appends the batch to label
  ``L``;
- ``UNWIND $rows AS r MERGE (n:L {k: r.k}) SET n.c = r.c, ...`` upserts the
  batch on the key ``k``;
- ``MATCH (n:L) [WHERE n.k % <n> = <i>] RETURN n.c AS c, ...`` reads label
  ``L``, honouring the id-modulo split predicate of a partitioned read.

All data lives in memory and is never flushed anywhere; it is gone when the
process exits. Encoded read responses are cached per (statement, store
version of the label's last change), so a repeated read costs the endpoint a dictionary lookup and the
time measured is the engine's, not this stand-in's.

Two control paths that are not part of the Neo4j protocol serve the
benchmark: ``GET /bench/stats`` returns the request counters and, per label,
the row count and an order-independent checksum; ``POST
/bench/clear?label=L`` drops label ``L``.

Run it as ``python3 endpoint.py``; it prints the port it listens on as its
first line of output and serves until its standard input closes.
"""

from __future__ import annotations

import itertools
import json
import re
import sys
import threading
import time
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_CREATE = re.compile(r"UNWIND \$(\w+) AS r CREATE \(n:(\w+) \{(.*)\}\)")
_MERGE = re.compile(r"UNWIND \$(\w+) AS r MERGE \(n:(\w+) \{(\w+): r\.(\w+)\}\) SET (.*)")
_READ = re.compile(
    r"MATCH \(n:(\w+)\)(?: WHERE n\.(\w+) % (\d+) = (\d+))? RETURN (.*)"
)
_PROP = re.compile(r"(\w+): r\.(\w+)")
_SET = re.compile(r"n\.(\w+) = r\.(\w+)")
_ITEM = re.compile(r"n\.(\w+) AS (\w+)")

_MASK = (1 << 64) - 1


def row_checksum(values: list) -> int:
    """Checksum of one row given as its values in sorted-column order; a
    label's checksum is the sum of its rows' checksums modulo 2**64."""
    return zlib.crc32(json.dumps(values).encode())


class _Label:
    """One label's rows as property dicts, keyed for MERGE when created by
    one, with a running row checksum and the store version of its last
    change."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self.index: dict = {}
        self.checksum = 0
        self.version = 0

    def _add(self, row: dict, sign: int) -> None:
        values = [row.get(c) for c in sorted(row)]
        self.checksum = (self.checksum + sign * row_checksum(values)) & _MASK

    def append(self, rows: list[dict]) -> bool:
        for row in rows:
            self.rows.append(row)
            self._add(row, 1)
        return True

    def upsert(self, key: str, rows: list[dict]) -> bool:
        """Returns whether any row was added or changed."""
        changed = False
        for row in rows:
            at = self.index.get(row[key])
            if at is None:
                self.index[row[key]] = len(self.rows)
                self.rows.append(row)
            elif self.rows[at] != row:
                self._add(self.rows[at], -1)
                self.rows[at] = row
            else:
                continue
            self._add(row, 1)
            changed = True
        return changed


class Store:
    """The endpoint's state: labels, the read-response cache and counters.
    Handlers run on several threads, so every access holds ``lock``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.labels: dict[str, _Label] = {}
        self.read_cache: dict[str, tuple[int, bytes]] = {}
        self._versions = itertools.count(1)
        self.counters = {
            "requests": 0,
            "connections": 0,
            "bytes_in": 0,
            "bytes_out": 0,
            "busy_ns": 0,
            "rows_written": 0,
            "cache_hits": 0,
        }
        self._active = 0
        self._busy_since = 0

    def enter(self) -> None:
        with self.lock:
            if self._active == 0:
                self._busy_since = time.perf_counter_ns()
            self._active += 1

    def leave(self, bytes_in: int, bytes_out: int) -> None:
        with self.lock:
            self._active -= 1
            if self._active == 0:
                self.counters["busy_ns"] += time.perf_counter_ns() - self._busy_since
            self.counters["requests"] += 1
            self.counters["bytes_in"] += bytes_in
            self.counters["bytes_out"] += bytes_out

    def label(self, name: str) -> _Label:
        return self.labels.setdefault(name, _Label())

    def _write(self, name: str, changed: bool, n_rows: int) -> None:
        if changed:
            self.labels[name].version = next(self._versions)
        self.counters["rows_written"] += n_rows

    def execute(self, statement: str, parameters: dict) -> bytes:
        """Run one statement; returns its encoded ``results`` entry."""
        m = _CREATE.fullmatch(statement)
        if m:
            rows = [
                {prop: r.get(col) for prop, col in _PROP.findall(m.group(3))}
                for r in parameters[m.group(1)]
            ]
            with self.lock:
                self._write(m.group(2), self.label(m.group(2)).append(rows), len(rows))
            return b'{"columns": [], "data": []}'
        m = _MERGE.fullmatch(statement)
        if m:
            pairs = [(m.group(3), m.group(4)), *_SET.findall(m.group(5))]
            rows = [{prop: r.get(col) for prop, col in pairs} for r in parameters[m.group(1)]]
            with self.lock:
                changed = self.label(m.group(2)).upsert(m.group(3), rows)
                self._write(m.group(2), changed, len(rows))
            return b'{"columns": [], "data": []}'
        m = _READ.fullmatch(statement)
        if m:
            return self._read(m)
        raise ValueError(f"unsupported statement: {statement[:120]}")

    def _read(self, m: re.Match) -> bytes:
        name, split_key, n, i, items = m.groups()
        with self.lock:
            label = self.label(name)
            version = label.version
            cached = self.read_cache.get(m.group(0))
            if cached is not None and cached[0] == version:
                self.counters["cache_hits"] += 1
                return cached[1]
            rows = list(label.rows)
        props, cols = zip(*_ITEM.findall(items))
        if split_key is not None:
            n, i = int(n), int(i)
            rows = [r for r in rows if r[split_key] % n == i]
        data = [{"row": [r.get(p) for p in props]} for r in rows]
        encoded = json.dumps({"columns": list(cols), "data": data}).encode()
        with self.lock:
            self.read_cache[m.group(0)] = (version, encoded)
        return encoded

    def stats(self) -> dict:
        with self.lock:
            return {
                **self.counters,
                "labels": {
                    name: {"rows": len(lab.rows), "checksum": lab.checksum}
                    for name, lab in self.labels.items()
                },
            }

    def clear(self, name: str) -> None:
        with self.lock:
            self.labels.pop(name, None)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    store: Store  # set on the subclass made by serve()

    def setup(self) -> None:
        super().setup()
        with self.store.lock:
            self.store.counters["connections"] += 1

    def log_message(self, format, *args) -> None:  # noqa: A002 - stdlib name
        pass

    def _reply(self, code: int, body: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:
        if self.path != "/bench/stats":
            self._reply(404, b"{}")
            return
        self._reply(200, json.dumps(self.store.stats()).encode())

    def do_POST(self) -> None:
        length = int(self.headers.get("Content-Length", 0))
        raw = self.rfile.read(length)
        if self.path.startswith("/bench/clear?label="):
            self.store.clear(self.path.partition("=")[2])
            self._reply(200, b"{}")
            return
        if not self.path.endswith("/transaction/commit"):
            self._reply(404, b"{}")
            return
        self.store.enter()
        body = b""
        try:
            doc = json.loads(raw)
            results = [
                self.store.execute(s["statement"], s.get("parameters") or {})
                for s in doc["statements"]
            ]
            body = b'{"results": [' + b", ".join(results) + b'], "errors": []}'
        except (KeyError, ValueError, TypeError) as exc:
            error = {"code": "Neo.ClientError.Statement.SyntaxError", "message": str(exc)}
            body = json.dumps({"results": [], "errors": [error]}).encode()
        finally:
            self._reply(200, body)
            self.store.leave(len(raw), len(body))


def serve() -> None:
    store = Store()
    handler = type("Handler", (_Handler,), {"store": store})
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    server.daemon_threads = True
    server.request_queue_size = 64
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # serve until the parent closes our stdin
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    serve()
