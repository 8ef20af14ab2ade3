"""A minimal in-memory Elasticsearch for the sync workload's mirror.

Run as its own process; it prints ``port <n>`` on stdout once listening:

    python3 perfbench/fake_es.py --threads 4

It answers the REST calls the program's ``pipeline.es_sink`` makes:
``_bulk`` (index/delete, resolving aliases, creating missing indexes),
``_refresh``, ``_count``, ``_alias``, ``_aliases``, ``_settings`` and
``DELETE`` of indexes. Each index keeps ``id -> 64-bit digest of (id, doc)``
so the benchmark can compare it with the generator's ground truth through
``GET /_bench/fingerprint/<name>``. ``GET /_bench/stats`` returns request,
byte and document counters. It never rejects a bulk item (no 429s), and it
serves requests from a pool of at most ``--threads`` threads.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import urlsplit

MASK = 0xFFFFFFFFFFFFFFFF


def digest(doc_id: bytes, doc: bytes) -> int:
    h = hashlib.blake2b(doc_id + b"\x1f" + doc, digest_size=8).digest()
    return int.from_bytes(h, "little")


class Store:
    """Indexes, aliases and counters, guarded by one lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.indexes: dict[str, dict[str, int]] = {}
        self.aliases: dict[str, set[str]] = {}  # alias -> physical indexes
        self.settings: dict[str, dict] = {}
        self.stats = {
            "requests": 0, "bulk_requests": 0, "bulk_bytes": 0,
            "docs_indexed": 0, "docs_deleted": 0, "rejected": 0,
        }

    def resolve(self, name: str) -> list[str]:
        if name in self.aliases:
            return sorted(self.aliases[name])
        return [name] if name in self.indexes else []

    def write_target(self, name: str) -> str:
        targets = self.resolve(name)
        if len(targets) > 1:
            raise ValueError(f"alias {name!r} points at several indexes")
        if targets:
            return targets[0]
        self.indexes[name] = {}  # auto-create, like ES
        return name

    def bulk(self, body: bytes) -> None:
        lines = body.split(b"\n")
        i = 0
        with self.lock:
            self.stats["bulk_requests"] += 1
            self.stats["bulk_bytes"] += len(body)
            while i < len(lines):
                line = lines[i]
                i += 1
                if not line.strip():
                    continue
                (op, meta), = json.loads(line).items()
                index = self.write_target(meta["_index"])
                doc_id = str(meta["_id"])
                if op == "index":
                    self.indexes[index][doc_id] = digest(doc_id.encode(), lines[i])
                    i += 1
                    self.stats["docs_indexed"] += 1
                elif op == "delete":
                    self.indexes[index].pop(doc_id, None)
                    self.stats["docs_deleted"] += 1
                else:
                    raise ValueError(f"unsupported bulk op {op!r}")

    def update_aliases(self, actions: list[dict]) -> None:
        with self.lock:
            for action in actions:
                (kind, spec), = action.items()
                alias, index = spec["alias"], spec["index"]
                if kind == "add":
                    if index not in self.indexes or alias in self.indexes:
                        raise KeyError(index)
                    self.aliases.setdefault(alias, set()).add(index)
                elif kind == "remove":
                    self.aliases.get(alias, set()).discard(index)
                    if not self.aliases.get(alias):
                        self.aliases.pop(alias, None)

    def delete_indexes(self, names: list[str]) -> bool:
        with self.lock:
            if any(n not in self.indexes for n in names):
                return False
            for n in names:
                del self.indexes[n]
                self.settings.pop(n, None)
                for alias in list(self.aliases):
                    self.aliases[alias].discard(n)
                    if not self.aliases[alias]:
                        del self.aliases[alias]
            return True

    def fingerprint(self, name: str) -> dict | None:
        with self.lock:
            targets = self.resolve(name)
            if not targets:
                return None
            docs = [d for t in targets for d in self.indexes[t].values()]
            return {"count": len(docs), "sum": sum(docs) & MASK,
                    "indexes": targets}


class Handler(BaseHTTPRequestHandler):
    store: Store  # set on the class by serve()

    def log_message(self, *args) -> None:  # quiet
        pass

    def _reply(self, status: int, payload) -> None:
        raw = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(raw)))
        self.end_headers()
        self.wfile.write(raw)

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    def _route(self, method: str) -> None:
        store = self.store
        parts = [p for p in urlsplit(self.path).path.split("/") if p]
        if parts[:1] != ["_bench"]:  # the benchmark's own probes don't count
            with store.lock:
                store.stats["requests"] += 1
        body = self._body()
        try:
            if parts == ["_bulk"] and method == "POST":
                store.bulk(body)
                return self._reply(200, {"took": 0, "errors": False, "items": []})
            if parts == ["_aliases"] and method == "POST":
                store.update_aliases(json.loads(body)["actions"])
                return self._reply(200, {"acknowledged": True})
            if len(parts) == 2 and parts[0] == "_alias" and method == "GET":
                with store.lock:
                    got = sorted(store.aliases.get(parts[1], ()))
                if not got:
                    return self._reply(404, {"error": "alias missing", "status": 404})
                return self._reply(200, {i: {"aliases": {parts[1]: {}}} for i in got})
            if parts[:1] == ["_bench"] and method == "GET":
                if parts[1:] == ["stats"]:
                    with store.lock:
                        stats = dict(store.stats)
                    return self._reply(200, stats)
                if len(parts) == 3 and parts[1] == "fingerprint":
                    fp = store.fingerprint(parts[2])
                    return self._reply(404 if fp is None else 200, fp or {})
            if len(parts) == 1 and method == "DELETE":
                ok = store.delete_indexes(parts[0].split(","))
                return self._reply(200 if ok else 404, {"acknowledged": ok})
            if len(parts) == 2:
                name, op = parts
                with store.lock:
                    targets = store.resolve(name)
                if not targets:
                    return self._reply(404, {"error": "index_not_found", "status": 404})
                if op == "_refresh" and method == "POST":
                    return self._reply(200, {"_shards": {"failed": 0}})
                if op == "_count" and method == "GET":
                    fp = store.fingerprint(name)
                    return self._reply(200, {"count": fp["count"]})
                if op == "_settings" and method == "PUT":
                    with store.lock:
                        for t in targets:
                            store.settings[t] = json.loads(body)
                    return self._reply(200, {"acknowledged": True})
            return self._reply(400, {"error": f"unsupported {method} {self.path}"})
        except (KeyError, ValueError) as exc:
            return self._reply(400, {"error": str(exc), "status": 400})

    def do_GET(self) -> None:
        self._route("GET")

    def do_POST(self) -> None:
        self._route("POST")

    def do_PUT(self) -> None:
        self._route("PUT")

    def do_DELETE(self) -> None:
        self._route("DELETE")


class PoolHTTPServer(HTTPServer):
    """Serves each connection on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def serve(threads: int) -> PoolHTTPServer:
    """A server on a free local port, with its own empty store."""
    handler = type("BoundHandler", (Handler,), {"store": Store()})
    return PoolHTTPServer(("127.0.0.1", 0), handler, threads)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--threads", type=int, default=4)
    args = p.parse_args()
    server = serve(args.threads)
    print(f"port {server.server_address[1]}", flush=True)
    server.serve_forever()


if __name__ == "__main__":
    main()
