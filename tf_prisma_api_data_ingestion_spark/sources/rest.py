"""REST source connector (SURVEY §2.1 src-login / src-get-json /
src-paginated-post / src-backoff; §7.3).

Reference parity (citations into /root/reference/modules/src/prisma_report/
lambda.py):
- ``RestClient.login``        <- prismacloud_login, lambda.py:36-73 — but
  invoked explicitly, never at import time (§2.5.2), and credentials come
  from arguments/env only, never source (§0 security note).
- ``RestClient.get_json``     <- get_api_response, lambda.py:75-103 —
  errors RAISE instead of print-and-return-None (§2.5.7).
- ``request_with_backoff``    <- perform_request_with_backoff,
  lambda.py:105-136 — the reference defines this and never calls it (dead
  code); here every request goes through it.
- ``fetch_all_pages``         <- the pageToken loop, lambda.py:266-318 —
  WITHOUT the stale-response re-examine bug on non-200 (§2.5.4): a failed
  page raises after retries, it never replays the previous page.

Scale design: token-chained pagination is inherently serial, so the plain
``fetch_all_pages`` is the strict-token fallback. When the API reports a
total count (X-Total-Count here; a count endpoint in general), the Spark 4
Python DataSource plans ONE INPUT PARTITION PER PAGE and executors fetch
pages independently and in parallel — ingestion throughput then scales
with the cluster instead of the driver's 1 page/s loop (the reference's
ceiling, BASELINE.md). Rate limits are honored per-executor by the same
exponential backoff.
"""

from __future__ import annotations

import itertools
import json
import math
import time
import urllib.error
import urllib.request
from collections.abc import Iterator
from dataclasses import dataclass, field

RETRYABLE = {429, 500, 502, 503, 504}


@dataclass
class RestResponse:
    status: int
    headers: dict
    body: dict
    attempts: int


def request_with_backoff(url: str, method: str = "GET", headers: dict | None = None,
                         payload: dict | None = None, retries: int = 5,
                         backoff_factor: float = 1.0, timeout: float = 10.0) -> RestResponse:
    """HTTP request with exponential backoff on 429/5xx (src-backoff).

    Sleeps ``backoff_factor * 2**attempt`` between tries — unless the
    server sent a ``Retry-After`` header (seconds form), which takes
    precedence (capped at 60s) — raising after ``retries`` retryable
    failures. Non-retryable HTTP errors raise immediately.
    """
    data = json.dumps(payload).encode() if payload is not None else None
    hdrs = {"Content-Type": "application/json", **(headers or {})}
    last_err: Exception | None = None
    for attempt in range(retries + 1):
        req = urllib.request.Request(url, data=data, headers=hdrs, method=method)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = json.loads(resp.read() or b"{}")
                return RestResponse(resp.status, dict(resp.headers), body, attempt + 1)
        except urllib.error.HTTPError as e:
            if e.code not in RETRYABLE:
                raise
            last_err = e
            if attempt < retries:
                time.sleep(_retry_delay(e, backoff_factor, attempt))
    raise RuntimeError(f"{method} {url}: exhausted {retries} retries") from last_err


def _retry_delay(err: urllib.error.HTTPError, backoff_factor: float,
                 attempt: int) -> float:
    """Server-directed Retry-After (seconds form) wins over exponential
    backoff; HTTP-date form and garbage fall back to the exponential."""
    ra = err.headers.get("Retry-After") if err.headers else None
    if ra:
        try:
            return min(60.0, max(0.0, float(ra)))
        except ValueError:
            pass
    return backoff_factor * (2 ** attempt)


@dataclass
class RestClient:
    """Authenticated JSON client. ``token`` is driver/executor-local state,
    never a DataFrame column."""

    base_url: str
    username: str = ""
    password: str = ""
    prisma_id: str = ""
    backoff_factor: float = 1.0
    retries: int = 5
    token: str | None = field(default=None, repr=False)

    def login(self, path: str = "/login") -> "RestClient":
        """Auth handshake (src-login): POST credentials -> bearer token."""
        resp = request_with_backoff(
            self.base_url + path, method="POST",
            payload={"username": self.username, "password": self.password,
                     "customerName": self.prisma_id},
            retries=self.retries, backoff_factor=self.backoff_factor)
        self.token = resp.body["token"]
        return self

    def _headers(self) -> dict:
        h = {"Accept": "application/json"}
        if self.token:
            h["x-redlock-auth"] = self.token
        return h

    def _authed(self, url: str, method: str = "GET",
                payload: dict | None = None) -> RestResponse:
        """Issue a request; on 401 with credentials available, re-login
        ONCE and replay. A long-running parallel ingest outlives bearer
        tokens — the reference never refreshes (login-at-import,
        lambda.py:73) and dies mid-scan when the token expires. Without
        credentials (e.g. a token-only executor client) the 401 raises.
        """
        for attempt in range(2):
            try:
                return request_with_backoff(url, method=method,
                                            headers=self._headers(), payload=payload,
                                            retries=self.retries,
                                            backoff_factor=self.backoff_factor)
            except urllib.error.HTTPError as e:
                if attempt or e.code != 401 or not self.username:
                    raise
                self.login()

    def get_json(self, path: str, params: str = "") -> RestResponse:
        """GET with auth header (src-get-json); re-auths once on 401."""
        url = self.base_url + path + (f"?{params}" if params else "")
        return self._authed(url)

    def post_json(self, path: str, payload: dict) -> RestResponse:
        return self._authed(self.base_url + path, method="POST",
                            payload=payload)


class _Pacer:
    """Spaces a serial page loop's request starts ``interval`` seconds
    apart (0 = unpaced): the reference's ``time.sleep(1)`` (P:268)."""

    def __init__(self, interval: float):
        self.interval = interval
        self._next_ok = 0.0

    def wait(self) -> None:
        if self.interval > 0:
            now = time.time()
            if now < self._next_ok:
                time.sleep(self._next_ok - now)
            self._next_ok = max(now, self._next_ok) + self.interval


def _chain(client: RestClient, path: str, payload: dict, page_size: int,
           min_interval: float) -> Iterator[tuple[str | None, dict]]:
    """Walk the ``nextPageToken`` chain from the first page, yielding each
    page's (pageToken, body) until a page names no next token."""
    pacer, token = _Pacer(min_interval), None
    while True:
        pacer.wait()
        body = client.post_json(path, dict(
            payload, limit=page_size,
            **({"pageToken": token} if token else {}))).body
        yield token, body
        token = body.get("nextPageToken")
        if not token:
            return


def fetch_all_pages(client: RestClient, path: str, payload: dict,
                    page_size: int = 100, max_pages: int = 10_000,
                    min_interval: float = 0.0) -> Iterator[dict]:
    """Strict-token serial pagination (src-paginated-post fallback).

    Stops when ``items`` is absent/short, like the reference's loop
    (P:310-318) — but a non-200 page raises (after backoff retries) rather
    than silently re-processing the previous page (§2.5.4), and
    ``max_pages`` bounds the infinite-loop risk. ``min_interval`` paces
    consecutive page requests at least that many seconds apart — the
    reference's fixed ``time.sleep(1)`` (P:268) generalized to a
    configurable request budget.
    """
    for _, body in itertools.islice(
            _chain(client, path, payload, page_size, min_interval), max_pages):
        items = body.get("items", [])
        yield from items
        if len(items) < page_size or not body.get("nextPageToken"):
            return
    raise RuntimeError(f"pagination exceeded max_pages={max_pages}")


# ---------------------------------------------------------------------
# Spark 4 Python DataSource: partition-per-page parallel ingestion
# ---------------------------------------------------------------------

ALERT_SCHEMA = ("account STRING, accountId STRING, cloudType STRING, "
                "cloudAccountGroups ARRAY<STRING>")


def _alert_row(item: dict) -> tuple:
    r = item["resource"]
    return (r.get("account"), r.get("accountId"), r.get("cloudType"),
            r.get("cloudAccountGroups", []))


def _total_count(headers: dict) -> int | None:
    """``X-Total-Count`` looked up case-insensitively (HTTP/2 proxies
    lower-case header names); None when the API reports no total."""
    return next((int(v) for k, v in headers.items()
                 if k.lower() == "x-total-count"), None)


class _AlertsOptions:
    """Reader options shared by the batch and streaming alert sources."""

    def __init__(self, options):
        self.base_url = options["base_url"]
        self.token = options.get("token", "")
        self.path = options.get("path", "/v2/alerts")
        self.page_size = int(options.get("page_size", "100"))
        self.backoff = float(options.get("backoff_factor", "1.0"))
        self.filters = json.loads(options.get("filters", "{}"))
        self.paging = options.get("paging", "indexed")
        self.probe_key = options.get("probe_key", "")
        self.max_pages = int(options.get("max_pages", "10000"))
        self.username = options.get("username", "")
        self.password = options.get("password", "")
        self.prisma_id = options.get("prisma_id", "")
        rate_limit = float(options.get("rate_limit", "0"))
        # seconds between serial request starts (0 = unpaced)
        self.interval = 1.0 / rate_limit if rate_limit > 0 else 0.0
        if self.paging not in ("indexed", "token", "token-fanout"):
            raise ValueError("paging must be indexed|token|token-fanout,"
                             f" got {self.paging!r}")

    def _client(self) -> RestClient:
        return RestClient(self.base_url, backoff_factor=self.backoff,
                          token=self.token, username=self.username,
                          password=self.password, prisma_id=self.prisma_id)

    def _items(self, token: str | None) -> list:
        """Items of one page request (``token`` None = the first page)."""
        body = dict(self.filters, limit=self.page_size,
                    **({"pageToken": token} if token else {}))
        return self._client().post_json(self.path, body).body.get("items", [])


def register_alerts_source(spark) -> None:
    """Register the ``prisma_alerts`` format. Import is deferred so the
    module stays importable on Spark < 4 (the DataSource API is 4.0+).

    Paging modes (option ``paging``):

    - ``indexed`` (default): PRECONDITION — the endpoint must accept
      index-addressable page tokens (``pageToken: "page-{i}"``) and
      report ``X-Total-Count`` (any header-name case). Only then can the
      planner emit one input partition per page for parallel
      executor-side fetch. When the page-0 probe reports no total, the
      plan falls back to the serial ``token`` walk (one partition) so
      the scan still returns every row. The real Prisma Cloud API does
      NOT satisfy the precondition: its ``nextPageToken``
      (lambda.py:266-318) is an opaque server-issued token that can only
      be discovered by walking the chain.
    - ``token-fanout``: opaque-token parallel mode for production APIs.
      ``partitions()`` walks the token chain ON THE DRIVER to enumerate
      page cursors — a cheap cursor-only pass when the API supports a
      probe parameter (option ``probe_key``, merged into the payload as
      ``{probe_key: true}``, asks for tokens without bodies; omit it and
      the walk downloads bodies once and discards them, still O(pages)
      driver time — AND the whole dataset transfers twice, so without
      ``probe_key`` prefer plain ``token`` mode unless executor-side
      parse is the bottleneck) — then emits ONE PARTITION PER DISCOVERED
      CURSOR so executors re-fetch and parse pages in parallel. Planning
      is O(pages) serial HTTP; the heavy work (body transfer, JSON
      parse, row materialization) scales with the cluster.

      ASSUMPTIONS (checked, not silently skewed): the API must treat
      page tokens as RE-USABLE (each cursor is fetched once in planning
      and once in read) and the underlying dataset as SNAPSHOT-STABLE
      for the duration of the scan. Token re-use is PROBED at plan time
      (one limit=1 re-fetch of the first discovered cursor): if the API
      issues single-use tokens the plan silently degrades to the serial
      ``token`` walk (one partition, fresh tokens — correct, reference-
      ceiling throughput). Tokens that expire MID-SCAN still fail the
      executor re-fetch with a RuntimeError naming ``paging=token`` —
      a partially-read scan cannot re-walk without duplicating rows —
      and a dataset mutating mid-scan can skip or duplicate rows exactly
      as a serial re-walk would. When in doubt, use ``token``.
    - ``token``: strict-token fallback — ONE input partition that walks
      the ``nextPageToken`` chain serially via ``fetch_all_pages``.
      Correct against any conforming API, but throughput is bounded by
      the chain walk (the reference's ceiling).

    Optional ``username``/``password``/``prisma_id`` options enable
    executor-side 401 re-login mid-scan (long scans outlive tokens).

    ``rate_limit`` (float requests/sec, default off) bounds the
    AGGREGATE page-request rate across the whole scan — the reference's
    1 page/s contract (P:268) generalized; per-request backoff alone
    would let 32 partitions hit the API at 32× the rate until 429s
    throttle them. The planner stamps page i with an absolute not-before
    time ``t0 + i/rate_limit`` and executors sleep until their stamp. A
    late executor fires at once, so a stall can release a short catch-up
    burst (token-bucket semantics), but the whole-scan average never
    exceeds the limit; across nodes this leans on NTP-level clock sync.
    Every serial walk (``token`` mode, the indexed fallback, a bodied
    fanout planning walk — it transfers full pages) starts pages
    ``1/rate_limit`` apart.
    """
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _Page(InputPartition):
        """Every mode's partition: one page request (its ``pageToken``,
        None for the first page) or, with ``walk``, the serial chain."""
        def __init__(self, token: str | None = None, not_before: float = 0.0,
                     walk: bool = False):
            self.token = token
            self.not_before = not_before  # absolute epoch; 0 = unpaced
            self.walk = walk

    class _AlertsReader(_AlertsOptions, DataSourceReader):
        def _walk_cursors(self) -> list:
            """Driver-side token-chain walk: returns the page cursors
            [None, tok1, tok2, ...]. With ``probe_key`` set the server
            skips bodies (cursor-only probe); otherwise bodies download
            once here and are discarded — executors re-fetch in read()."""
            probe = {self.probe_key: True} if self.probe_key else {}
            # a bodied walk (no probe_key) transfers full pages, so it
            # spends from the same aggregate request budget; cursor-only
            # probes are advertised-cheap and stay unpaced
            pace = 0.0 if self.probe_key else self.interval
            cursors = []
            for token, body in itertools.islice(
                    _chain(self._client(), self.path, dict(self.filters, **probe),
                           self.page_size, pace), self.max_pages):
                cursors.append(token)
                if not body.get("nextPageToken"):
                    return cursors
            raise RuntimeError(f"cursor walk exceeded max_pages={self.max_pages}")

        def _cursor_reusable(self, cursor: str) -> bool:
            """One cheap re-fetch (limit=1) of an already-walked cursor:
            True iff the API honors token re-use (the fanout plan's
            precondition). 4xx -> single-use/expired tokens."""
            try:
                self._client().post_json(
                    self.path, dict(self.filters, limit=1,
                                    pageToken=cursor))
                return True
            except urllib.error.HTTPError as e:
                if 400 <= e.code < 500:
                    return False
                raise

        def _paced(self, tokens: list) -> list:
            """One partition per page token, not-before stamps spaced
            1/rate_limit apart whatever the executor concurrency."""
            t0 = time.time() if self.interval else 0.0
            return [_Page(tok, t0 + i * self.interval)
                    for i, tok in enumerate(tokens)]

        def partitions(self):
            if self.paging == "token-fanout":
                # opaque tokens, parallel plan: enumerate cursors on the
                # driver, then one partition per discovered cursor.
                # Before fanning out, PROBE the first discovered cursor
                # once: a 4xx on re-fetch means the API issues single-use
                # (or already-expired) tokens — the fanout plan's core
                # assumption is broken at plan time, so degrade to the
                # serial chain walk (one partition, fresh tokens) instead
                # of erroring N executors later. Mid-scan expiry can
                # still surface in read(); that path keeps the loud error
                # because a partial scan cannot be resumed without
                # duplicating rows.
                cursors = self._walk_cursors()
                if len(cursors) == 1 or self._cursor_reusable(cursors[1]):
                    return self._paced(cursors)
            elif self.paging == "indexed":
                # one cheap page-0 probe learns the total; one partition
                # per page -> executors fetch in parallel (vs the
                # reference's serial 1 page/s driver loop). No total ->
                # the pages are only discoverable by walking the chain.
                resp = self._client().post_json(
                    self.path, dict(self.filters, limit=1))
                total = _total_count(resp.headers)
                if total is not None:
                    n = max(1, math.ceil(total / self.page_size))
                    return self._paced(
                        [None] + [f"page-{i}" for i in range(1, n)])
            # opaque server tokens, no parallel plan possible or
            # requested: a single serial partition walks the chain
            return [_Page(walk=True)]

        def read(self, partition):
            if partition.walk:
                items = fetch_all_pages(self._client(), self.path,
                                        self.filters, page_size=self.page_size,
                                        min_interval=self.interval)
            else:
                items = self._fetch(partition)
            for item in items:
                yield _alert_row(item)

        def _fetch(self, page) -> list:
            time.sleep(max(0.0, page.not_before - time.time()))
            try:
                return self._items(page.token)
            except urllib.error.HTTPError as e:
                if (self.paging == "token-fanout" and page.token
                        and 400 <= e.code < 500):
                    # token-fanout assumption broken: the cursor the
                    # planner discovered no longer resolves (single-use /
                    # expired token, or the dataset mutated mid-scan)
                    raise RuntimeError(
                        "token-fanout cursor re-fetch failed with HTTP "
                        f"{e.code}: the API does not honor re-usable page "
                        "tokens (or the dataset changed mid-scan); rerun "
                        "with .option('paging', 'token') for the serial "
                        "single-walk mode") from e
                raise

    class PrismaAlertsDataSource(DataSource):
        @classmethod
        def name(cls):
            return "prisma_alerts"

        def schema(self):
            return ALERT_SCHEMA

        def reader(self, schema):
            return _AlertsReader(self.options)

    spark.dataSource.register(PrismaAlertsDataSource)


def register_alerts_stream_source(spark) -> None:
    """Register ``prisma_alerts_stream``: the STREAMING twin of the
    batch connector — a Spark 4 Python streaming DataSource
    (SimpleDataSourceStreamReader) whose offset is the page cursor.

    Semantics: each micro-batch drains every page available at trigger
    time (so ``availableNow`` ingests the whole current backlog in one
    run and stops); the committed offset is the next unread page, so a
    restart from checkpoint resumes AFTER the last ingested page — the
    exactly-once property the reference's rerun-the-whole-export Lambda
    cannot offer (lambda.py:266-318 re-reads everything every run).
    ``readBetweenOffsets`` replays a committed page range verbatim for
    failure recovery.

    Scale note: a page cursor is inherently serial (opaque-token APIs);
    throughput scales by running one stream per filter shard (e.g. per
    cloud account), each with its own checkpoint — the partition-per-page
    BATCH source stays the bulk-backfill path.
    """
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _AlertsStreamReader(_AlertsOptions, SimpleDataSourceStreamReader):
        def __init__(self, options):
            super().__init__(options)
            # same contract as the batch connector's rate_limit: the
            # drain loop is serial, so pacing is a simple minimum
            # inter-request interval (the reference's 1 page/s, P:268)
            self._pacer = _Pacer(self.interval)

        def _fetch(self, page: int) -> list:
            self._pacer.wait()
            return self._items(f"page-{page}" if page else None)

        def initialOffset(self):
            return {"page": 0}

        def read(self, start):
            # drain everything available NOW: loop pages until a short
            # page; the returned offset is the next unread page
            page, rows = start["page"], []
            while True:
                items = self._fetch(page)
                rows.extend(_alert_row(i) for i in items)
                if items:
                    page += 1
                if len(items) < self.page_size:
                    break
            return iter(rows), {"page": page}

        def readBetweenOffsets(self, start, end):
            rows = []
            for p in range(start["page"], end["page"]):
                rows.extend(_alert_row(i) for i in self._fetch(p))
            return iter(rows)

    class PrismaAlertsStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "prisma_alerts_stream"

        def schema(self):
            return ALERT_SCHEMA

        def simpleStreamReader(self, schema):
            return _AlertsStreamReader(self.options)

    spark.dataSource.register(PrismaAlertsStreamSource)
