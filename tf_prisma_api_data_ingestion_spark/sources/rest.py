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
total count (X-Total-Count here; a count endpoint in general) or re-usable
cursors, ``plan_pages`` plans ONE REQUEST PER PAGE and ``fetch_page``
fetches each independently, paced by not-before stamps. A report run
fetches its pages from a driver thread pool (``plans.e2e.alerts_scan``),
so throughput scales with the fetch threads instead of the reference's
1 page/s driver loop (BASELINE.md). Incremental ingest reads through the
``prisma_alerts_stream`` DataSource, whose offset counts the alerts
consumed.
"""

from __future__ import annotations

import itertools
import json
import math
import time
import urllib.error
import urllib.request
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import Row

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
    """HTTP request with exponential backoff on 429/5xx and on transport
    errors (src-backoff).

    Sleeps ``backoff_factor * 2**attempt`` between tries — unless the
    server sent a ``Retry-After`` header (seconds form), which takes
    precedence (capped at 60s) — raising after ``retries`` retryable
    failures. A transport error (socket timeout, connection reset or
    refused, any other ``URLError``) got no response, so it is retried
    like a 5xx. Non-retryable HTTP errors raise immediately.
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
        except urllib.error.HTTPError as e:  # a URLError too: caught first
            if e.code not in RETRYABLE:
                raise
            last_err = e
        except (urllib.error.URLError, TimeoutError, ConnectionError) as e:
            last_err = e
        if attempt < retries:
            time.sleep(_retry_delay(last_err, backoff_factor, attempt))
    raise RuntimeError(f"{method} {url}: exhausted {retries} retries") from last_err


def _retry_delay(err: Exception, backoff_factor: float, attempt: int) -> float:
    """Server-directed Retry-After (seconds form) wins over exponential
    backoff; HTTP-date form, garbage and a transport error (no headers)
    fall back to the exponential."""
    headers = getattr(err, "headers", None)
    ra = headers.get("Retry-After") if headers else None
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
# Alert scan: one page planner and one page fetch, driven from the
# driver (plans.e2e.alerts_scan)
# ---------------------------------------------------------------------

ALERT_SCHEMA = ("account STRING, accountId STRING, cloudType STRING, "
                "cloudAccountGroups ARRAY<STRING>")


def _alert_row(item: dict) -> Row:
    """An alert item's ``ALERT_SCHEMA`` row; no groups read as ``[]``."""
    r = item["resource"]
    return Row(account=r.get("account"), accountId=r.get("accountId"),
               cloudType=r.get("cloudType"),
               cloudAccountGroups=r.get("cloudAccountGroups", []))


def _total_count(headers: dict) -> int | None:
    """``X-Total-Count`` looked up case-insensitively (HTTP/2 proxies
    lower-case header names); None when the API reports no total."""
    return next((int(v) for k, v in headers.items()
                 if k.lower() == "x-total-count"), None)


@dataclass(frozen=True)
class _Page:
    """One planned page request: its ``pageToken`` (None for the first
    page) and absolute not-before epoch (0 = unpaced), or, with ``walk``,
    the whole serial chain."""

    token: str | None = None
    not_before: float = 0.0
    walk: bool = False


class _AlertsOptions:
    """Reader options of the alert readers: the driver scan
    (``plans.e2e.alerts_scan``) and the ``prisma_alerts_stream``
    DataSource. ``token``, ``username``, ``password``, ``prisma_id`` and
    ``backoff_factor`` build the stream's own client (``_client``); the
    driver scan fetches as its caller's client."""

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
        if self.paging not in ("indexed", "token", "token-fanout"):
            raise ValueError("paging must be indexed|token|token-fanout,"
                             f" got {self.paging!r}")
        for name, value, low in (("page_size", self.page_size, 1),
                                 ("max_pages", self.max_pages, 1),
                                 ("rate_limit", rate_limit, 0)):
            if value < low:
                raise ValueError(f"{name} must be >= {low}, got {value!r}")
        # seconds between request starts (0 = unpaced)
        self.interval = 1.0 / rate_limit if rate_limit else 0.0

    def _client(self) -> RestClient:
        return RestClient(self.base_url, backoff_factor=self.backoff,
                          token=self.token, username=self.username,
                          password=self.password, prisma_id=self.prisma_id)

    def _items(self, client: RestClient, token: str | None) -> list:
        """Items of one page request (``token`` None = the first page)."""
        body = dict(self.filters, limit=self.page_size,
                    **({"pageToken": token} if token else {}))
        return client.post_json(self.path, body).body.get("items", [])


def plan_pages(opts: _AlertsOptions, client: RestClient) -> list[_Page]:
    """Plan a scan's page requests on the driver, as ``client``.

    Paging modes (option ``paging``):

    - ``indexed`` (default): one limit=1 probe of page 0 learns
      ``X-Total-Count`` (any header-name case), then one page per
      ``pageToken: "page-{i}"``. PRECONDITION: the endpoint accepts
      index-addressable page tokens. The real Prisma Cloud API does not:
      its ``nextPageToken`` (lambda.py:266-318) is an opaque server-issued
      token discoverable only by walking the chain. Without a total the
      plan is the serial walk, so the scan still returns every row; a
      total needing more than ``max_pages`` pages raises before any page
      is fetched.
    - ``token-fanout``: opaque-token parallel mode for production APIs.
      Walk the cursor chain to enumerate cursors — cheaply when the API
      supports a cursor-only probe (option ``probe_key``, merged into the
      payload as ``{probe_key: true}``); without it the walk downloads
      every body once and discards it, paced (the dataset transfers
      twice, so prefer ``token`` unless parse is the bottleneck) — then
      plan one page per cursor. ASSUMPTIONS (checked, not silently
      skewed): page tokens are RE-USABLE and the dataset is
      SNAPSHOT-STABLE for the scan. Re-use is probed here by re-fetching
      the first discovered cursor once (limit=1); a 4xx means single-use
      tokens, so the plan degrades to the serial walk instead of failing
      N fetches later. Tokens that expire mid-scan fail ``fetch_page``
      with a RuntimeError naming ``paging=token``, and a dataset mutating
      mid-scan can skip or duplicate rows exactly as a serial re-walk
      would. When in doubt, use ``token``.
    - ``token``: the strict-token fallback, one ``walk`` page that
      follows the ``nextPageToken`` chain serially (``fetch_all_pages``).
      Correct against any conforming API, at the reference's throughput
      ceiling.

    ``rate_limit`` (float requests/sec, default off) bounds the AGGREGATE
    page-request rate of the whole scan — the reference's 1 page/s
    contract (P:268) generalized; per-request backoff alone would let N
    fetch threads hit the API at N× the rate until 429s throttle them.
    Planned page i carries the not-before stamp ``t0 + i/rate_limit``; a
    late fetch fires at once, so a stall can release a short catch-up
    burst (token-bucket semantics), but the scan's average never exceeds
    the limit, whatever the fetch concurrency. Every serial walk
    (``token``, the indexed fallback, a bodied fanout cursor walk) starts
    pages ``1/rate_limit`` apart. ``max_pages`` bounds every mode.
    """
    tokens = None
    if opts.paging == "token-fanout":
        probe = {opts.probe_key: True} if opts.probe_key else {}
        # a bodied walk transfers full pages, so it spends from the
        # aggregate request budget; cursor-only probes stay unpaced
        chain = _chain(client, opts.path, dict(opts.filters, **probe),
                       opts.page_size, 0.0 if opts.probe_key else opts.interval)
        tokens = []
        for token, body in itertools.islice(chain, opts.max_pages):
            tokens.append(token)
            if not body.get("nextPageToken"):
                break
        else:
            raise RuntimeError(f"cursor walk exceeded max_pages={opts.max_pages}")
        if len(tokens) > 1:
            try:
                client.post_json(opts.path, dict(opts.filters, limit=1,
                                                 pageToken=tokens[1]))
            except urllib.error.HTTPError as e:
                if not 400 <= e.code < 500:
                    raise
                tokens = None
    elif opts.paging == "indexed":
        total = _total_count(client.post_json(
            opts.path, dict(opts.filters, limit=1)).headers)
        if total is not None:
            n_pages = math.ceil(total / opts.page_size)
            if n_pages > opts.max_pages:
                raise RuntimeError(
                    f"pagination exceeded max_pages={opts.max_pages}: "
                    f"X-Total-Count {total} needs {n_pages} pages")
            tokens = [None] + [f"page-{i}" for i in range(1, n_pages)]
    if tokens is None:
        return [_Page(walk=True)]
    t0 = time.time() if opts.interval else 0.0
    return [_Page(tok, t0 + i * opts.interval) for i, tok in enumerate(tokens)]


def fetch_page(opts: _AlertsOptions, client: RestClient,
               page: _Page) -> Iterable[dict]:
    """The alert items of one planned page, fetched as ``client`` no
    earlier than its not-before stamp; a ``walk`` page streams its chain
    lazily, paced and bounded by ``max_pages``."""
    if page.walk:
        return fetch_all_pages(client, opts.path, opts.filters,
                               page_size=opts.page_size,
                               max_pages=opts.max_pages,
                               min_interval=opts.interval)
    time.sleep(max(0.0, page.not_before - time.time()))
    try:
        return opts._items(client, page.token)
    except urllib.error.HTTPError as e:
        if opts.paging == "token-fanout" and page.token and 400 <= e.code < 500:
            # the planner's cursor no longer resolves: single-use or
            # expired tokens, or the dataset changed mid-scan; a partial
            # scan cannot re-walk without duplicating rows
            raise RuntimeError(
                "token-fanout cursor re-fetch failed with HTTP "
                f"{e.code}: the API does not honor re-usable page "
                "tokens (or the dataset changed mid-scan); rerun "
                "with .option('paging', 'token') for the serial "
                "single-walk mode") from e
        raise


def register_alerts_source(spark) -> None:
    """Register ``prisma_alerts_stream``, the incremental alert reader:
    a Spark 4 Python streaming DataSource (SimpleDataSourceStreamReader)
    whose offset ``{"item": n}`` counts the alerts consumed. Import is
    deferred so the module stays importable on Spark < 4 (DataSource API
    is 4.0+).

    Semantics: each micro-batch drains every alert available at trigger
    time (so ``availableNow`` ingests the whole current backlog in one run
    and stops): it fetches page ``n // page_size``, drops the first
    ``n % page_size`` items and reads on until a short page; a drain
    that would need more than ``max_pages`` pages raises. A restart
    from checkpoint resumes AFTER the last ingested alert, including
    alerts appended later to a partial last page — the exactly-once
    property the reference's rerun-the-whole-export Lambda cannot offer
    (lambda.py:266-318 re-reads everything every run).
    ``readBetweenOffsets`` replays exactly the committed ``[start, end)``
    for failure recovery. Pages are index-addressed (the ``indexed``
    precondition of ``plan_pages``).

    Scale note: the drain loop is serial; throughput scales by running
    one stream per filter shard (e.g. per cloud account), each with its
    own checkpoint. A one-off scan is ``plans.e2e.alerts_scan``.
    """
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _AlertsStreamReader(_AlertsOptions, SimpleDataSourceStreamReader):
        def __init__(self, options):
            super().__init__(options)
            # same contract as the driver scan's rate_limit: the drain
            # loop is serial, so pacing is a simple minimum
            # inter-request interval (the reference's 1 page/s, P:268)
            self._pacer = _Pacer(self.interval)

        def _fetch(self, page: int) -> list:
            self._pacer.wait()
            return self._items(self._client(), f"page-{page}" if page else None)

        def initialOffset(self):
            return {"item": 0}

        def read(self, start):
            # drain everything available NOW: loop pages until a short
            # page, at most max_pages of them; the returned offset is
            # the next unread alert
            n, rows = start["item"], []
            for _ in range(self.max_pages):
                page, skip = divmod(n, self.page_size)
                items = self._fetch(page)
                new = items[skip:]
                rows.extend(_alert_row(i) for i in new)
                n += len(new)
                if len(items) < self.page_size:
                    return iter(rows), {"item": n}
            raise RuntimeError(
                f"pagination exceeded max_pages={self.max_pages}")

        def readBetweenOffsets(self, start, end):
            lo, hi, rows = start["item"], end["item"], []
            for page in range(lo // self.page_size, -(-hi // self.page_size)):
                first = page * self.page_size
                rows.extend(_alert_row(i) for i in
                            self._fetch(page)[max(lo - first, 0):hi - first])
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
