"""Seeded alert API for the ingest-report workload, run as its own process.

It speaks the protocol ``plans.e2e.full_report_run`` uses: ``POST /login``
returns a bearer token, ``GET /v1/inventory`` returns the inventory
envelope, and ``POST /v2/alerts`` returns pages of alert items addressed by
``page-<i>`` tokens with the total in ``X-Total-Count``. Every payload is a
pure function of the seed.

Faults: a seeded share of the pages is "hot". Every fetch of a hot full
page is first refused with ``429`` and ``Retry-After: 0``, and the retry
that follows succeeds, so each scan of the alerts sees the same 429 count
no matter how many scans ran before. Each successful page waits a fixed
service time before it answers.

``GET /_bench/stats`` returns the request counters; it is for the
benchmark only and is not counted. The workload is fixed by the module
constants below: ``ALERTS`` alerts in pages of ``PAGE_SIZE``, each page
served after ``SERVICE_S`` seconds, a ``SHARE_429`` share of them hot.
Run::

    python3 perfbench/apiserver.py --seed 1

It prints ``READY <port>`` on stdout once it listens on 127.0.0.1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import random
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

USER = "bench-user"
PASSWORD = "bench-pass"  # local fixture, not a credential
TOKEN = "tok-bench"
CLOUDS = ("aws", "azure", "gcp")
ALERTS = 1_000
PAGE_SIZE = 100  # the page size the program asks for
SERVICE_S = 0.02
SHARE_429 = 0.1


def alert_items(seed: int, n: int) -> list[dict]:
    """The ``n`` alert items served for ``seed``, in page order."""
    rng = random.Random(seed)
    items = []
    for i in range(n):
        account = f"acct-{rng.randrange(7)}"
        cloud = CLOUDS[rng.randrange(3)]
        groups = [] if rng.random() < 1 / 11 else [f"grp-{rng.randrange(3)}"]
        items.append({"resource": {"account": account,
                                   "accountId": str(9000 + i),
                                   "cloudType": cloud,
                                   "cloudAccountGroups": groups}})
    return items


def inventory(seed: int) -> dict:
    """Inventory envelope; the last service omits ``totalResources``."""
    rng = random.Random(seed + 1)
    rows = []
    for k, (svc, cloud) in enumerate((("Amazon EC2", "aws"), ("Amazon S3", "aws"),
                                      ("Azure VM", "azure"), ("GCS Bucket", "gcp"))):
        failed, passed = rng.randrange(50), rng.randrange(500)
        row = {"serviceName": svc, "cloudTypeName": cloud,
               "failedResources": failed, "passedResources": passed}
        if k < 3:
            row["totalResources"] = failed + passed
        rows.append(row)
    return {"timestamp": 1718000000000, "requestedTimestamp": 1717990000000,
            "summary": {}, "groupedAggregates": rows}


def hot_pages(seed: int, n_pages: int, share: float) -> set[int]:
    def u(i: int) -> float:
        h = hashlib.blake2b(f"{seed}:{i}".encode(), digest_size=8).digest()
        return int.from_bytes(h, "big") / 2 ** 64
    return {i for i in range(n_pages) if u(i) < share}


class AlertApi(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, seed: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.items = alert_items(seed, ALERTS)
        self.inventory = inventory(seed)
        self.hot = hot_pages(seed, -(-ALERTS // PAGE_SIZE), SHARE_429)
        self.lock = threading.Lock()
        self.refused: dict[int, bool] = {}  # hot page -> last fetch was a 429
        self.stats = {"requests": 0, "pages": 0, "retries_429": 0,
                      "bytes": 0, "logins": 0}

    def count(self, **inc: int) -> None:
        with self.lock:
            for k, v in inc.items():
                self.stats[k] += v

    def refuse(self, page: int) -> bool:
        """True for the first of every two fetches of a hot page."""
        if page not in self.hot:
            return False
        with self.lock:
            refuse = not self.refused.get(page, False)
            self.refused[page] = refuse
            return refuse


class _Handler(BaseHTTPRequestHandler):
    server: AlertApi

    def log_message(self, *args):
        pass

    def _send(self, code: int, body: dict, headers: dict | None = None,
              counted: bool = True) -> None:
        data = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(data)
        if counted:
            self.server.count(requests=1, bytes=len(data))

    def _authed(self) -> bool:
        if self.headers.get("x-redlock-auth") == TOKEN:
            return True
        self._send(401, {"error": "unauthorized"})
        return False

    def do_GET(self):
        if self.path == "/_bench/stats":
            with self.server.lock:
                stats = dict(self.server.stats)
            self._send(200, stats, counted=False)
        elif self.path.startswith("/v1/inventory"):
            if self._authed():
                self._send(200, self.server.inventory)
        else:
            self._send(404, {"error": "not found"})

    def do_POST(self):
        length = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(length) or b"{}")
        if self.path == "/login":
            if payload.get("username") == USER and payload.get("password") == PASSWORD:
                self.server.count(logins=1)
                self._send(200, {"token": TOKEN})
            else:
                self._send(401, {"error": "bad credentials"})
        elif self.path == "/v2/alerts":
            if self._authed():
                self._alerts(payload)
        else:
            self._send(404, {"error": "not found"})

    def _alerts(self, payload: dict) -> None:
        srv = self.server
        limit = int(payload.get("limit", PAGE_SIZE))
        tok = payload.get("pageToken")
        page = int(tok.split("-")[1]) if tok else 0
        if limit == PAGE_SIZE and srv.refuse(page):
            srv.count(retries_429=1)
            self._send(429, {"error": "rate limited"}, {"Retry-After": "0"})
            return
        time.sleep(SERVICE_S)
        start, total = page * limit, len(srv.items)
        body = {"items": srv.items[start:start + limit]}
        if start + limit < total:
            body["nextPageToken"] = f"page-{page + 1}"
        srv.count(pages=1)
        self._send(200, body, {"X-Total-Count": str(total)})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    srv = AlertApi(ap.parse_args().seed)
    print(f"READY {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
