"""REST connector tests against the in-process mock API: auth, backoff,
serial + planned page-per-request pagination, the alert stream, and the
reference defects we must NOT replicate (stale-page replay, import-time
login)."""

from __future__ import annotations

import urllib.error

import pytest

from tf_prisma_api_data_ingestion_spark.plans.e2e import alerts_scan
from tf_prisma_api_data_ingestion_spark.sources import mock_api
from tf_prisma_api_data_ingestion_spark.sources import rest
from tf_prisma_api_data_ingestion_spark.sources.rest import (
    RestClient,
    _AlertsOptions,
    _alert_row,
    _Page,
    fetch_all_pages,
    plan_pages,
    register_alerts_source,
    request_with_backoff,
)


@pytest.fixture(scope="module")
def url():
    return mock_api.mock_server_url()


@pytest.fixture(scope="module")
def client(url):
    return RestClient(url, username=mock_api.MOCK_USER,
                      password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()


def test_login_sets_token(client):
    assert client.token == mock_api.MOCK_TOKEN


def test_login_bad_credentials_raises(url):
    with pytest.raises(urllib.error.HTTPError):
        RestClient(url, username="x", password="wrong", backoff_factor=0.01).login()


def test_get_json_requires_auth(url):
    unauthed = RestClient(url, backoff_factor=0.01)
    with pytest.raises(urllib.error.HTTPError):
        unauthed.get_json("/v1/inventory")


def test_get_json_inventory(client):
    body = client.get_json("/v1/inventory").body
    assert [g["serviceName"] for g in body["groupedAggregates"]] == \
        ["Amazon EC2", "Azure VM", "GCS Bucket"]


def test_backoff_retries_through_429s(url):
    resp = RestClient(url, backoff_factor=0.01).get_json("/flaky")
    assert resp.attempts == 3 and resp.body["ok"] is True


def test_backoff_gives_up_after_retries(url):
    # retries=1 -> attempts 2, both 429 -> RuntimeError, not silent None
    with pytest.raises(RuntimeError):
        request_with_backoff(url + "/flaky", retries=1, backoff_factor=0.0)
    url and request_with_backoff(url + "/flaky", backoff_factor=0.0)  # drain to 200


def test_non_retryable_error_raises_immediately(url):
    with pytest.raises(urllib.error.HTTPError):
        request_with_backoff(url + "/nope", retries=5, backoff_factor=0.0)


def test_transport_errors_are_retried(url, monkeypatch):
    """A socket timeout got no response at all: it is retried under the
    same budget as a 5xx, and the last one is the cause when the budget
    runs out."""
    urlopen, calls = rest.urllib.request.urlopen, []

    def timing_out_twice(req, timeout):
        calls.append(req.full_url)
        if len(calls) % 3:
            raise TimeoutError("timed out")
        return urlopen(req, timeout=timeout)

    monkeypatch.setattr(rest.urllib.request, "urlopen", timing_out_twice)
    login = {"username": mock_api.MOCK_USER, "password": mock_api.MOCK_PASSWORD}
    resp = request_with_backoff(url + "/login", method="POST", payload=login,
                                backoff_factor=0.0)
    assert resp.attempts == 3 and resp.body["token"] == mock_api.MOCK_TOKEN
    with pytest.raises(RuntimeError, match="exhausted 1 retries") as err:
        request_with_backoff(url + "/login", method="POST", payload=login,
                             retries=1, backoff_factor=0.0)
    assert isinstance(err.value.__cause__, TimeoutError)


def test_fetch_all_pages_serial(client):
    items = list(fetch_all_pages(client, "/v2/alerts", {}, page_size=100))
    assert len(items) == mock_api.N_ALERTS
    assert items[0]["resource"]["account"] == "acct-0"
    assert items[11]["resource"]["cloudAccountGroups"] == []


def test_fetch_all_pages_respects_max_pages(client):
    with pytest.raises(RuntimeError):
        list(fetch_all_pages(client, "/v2/alerts", {}, page_size=10, max_pages=2))


def _opts(client, options):
    return _AlertsOptions({**options, "base_url": client.base_url})


def test_datasource_partition_per_page(spark, client):
    """Default paging plans one request per page and the scan returns the
    mock's alert formula."""
    assert len(plan_pages(_opts(client, {}), client)) == 3  # ceil(237 / 100)
    rows = alerts_scan(spark, client).collect()
    assert len(rows) == mock_api.N_ALERTS
    got = {(r.account, r.accountId) for r in rows}
    want = {(f"acct-{i % 7}", str(9000 + i)) for i in range(mock_api.N_ALERTS)}
    assert got == want


OPAQUE_FANOUT = {"paging": "token-fanout", "path": "/v2/alerts-opaque"}


@pytest.mark.parametrize("options,n_pages", [
    ({}, 3),
    ({"path": "/v2/alerts-opaque"}, 1),
    ({"paging": "token"}, 1),
    ({**OPAQUE_FANOUT, "probe_key": "countOnly"}, 3),
    (OPAQUE_FANOUT, 3),
    ({**OPAQUE_FANOUT, "filters": '{"_singleUse": true}'}, 1),
], ids=["indexed", "indexed-no-total", "token", "fanout-probe", "fanout-bodied",
        "fanout-single-use"])
def test_datasource_matches_serial_fetch(spark, client, options, n_pages):
    """In every paging mode the driver scan plans the expected requests
    and returns exactly the serial walk's alerts, in page order."""
    opts = _opts(client, options)
    assert len(plan_pages(opts, client)) == n_pages
    serial = [_alert_row(i) for i in fetch_all_pages(client, opts.path, opts.filters)]
    assert len(serial) == mock_api.N_ALERTS
    assert alerts_scan(spark, client, **options).collect() == serial


@pytest.mark.parametrize("options", [
    {}, {"path": "/v2/alerts-opaque"}, {"paging": "token"},
    {**OPAQUE_FANOUT, "probe_key": "countOnly"},
], ids=["indexed", "indexed-no-total", "token", "token-fanout"])
def test_alerts_scan_respects_max_pages(spark, client, options):
    """A scan that needs 3 pages fails under max_pages=2 in every mode
    instead of returning every row."""
    with pytest.raises(RuntimeError, match="exceeded max_pages=2"):
        alerts_scan(spark, client, max_pages="2", **options)


@pytest.mark.parametrize("option,value", [
    ("page_size", "0"), ("max_pages", "0"), ("rate_limit", "-1")])
def test_out_of_range_option_is_rejected(spark, client, option, value):
    with pytest.raises(ValueError, match=f"{option} must be"):
        alerts_scan(spark, client, **{option: value})


def test_datasource_token_mode_single_partition(spark, client):
    options = {"paging": "token"}
    # opaque-token APIs can't be index-addressed: one serial walk request
    assert len(plan_pages(_opts(client, options), client)) == 1
    assert alerts_scan(spark, client, **options).count() == mock_api.N_ALERTS


def test_datasource_token_fanout_parallel_pages(spark, client):
    """Opaque-token endpoint (no X-Total-Count, md5-style cursors only
    resolvable server-side): token-fanout must still plan >1 page request
    and match the serial walk exactly."""
    options = {**OPAQUE_FANOUT, "probe_key": "countOnly"}
    assert len(plan_pages(_opts(client, options), client)) == 3  # one per cursor
    serial = [i["resource"]["accountId"]
              for i in fetch_all_pages(client, "/v2/alerts-opaque", {})]
    rows = alerts_scan(spark, client, **options).collect()
    assert [r.accountId for r in rows] == serial
    assert len(serial) == mock_api.N_ALERTS


def test_datasource_token_fanout_without_probe(spark, client):
    """Without a probe key the driver walk downloads bodies once and
    discards them; the fan-out result is still exact."""
    assert len(plan_pages(_opts(client, OPAQUE_FANOUT), client)) == 3
    assert alerts_scan(spark, client, **OPAQUE_FANOUT).count() == mock_api.N_ALERTS


@pytest.mark.parametrize("page_size,n_parts", [(50, 5), (237, 1), (300, 1)])
def test_token_fanout_page_size_extremes(spark, client, page_size, n_parts):
    options = {**OPAQUE_FANOUT, "probe_key": "countOnly",
               "page_size": str(page_size)}
    assert len(plan_pages(_opts(client, options), client)) == n_parts
    assert alerts_scan(spark, client, **options).count() == mock_api.N_ALERTS


def test_opaque_endpoint_rejects_forged_tokens(client):
    with pytest.raises(urllib.error.HTTPError):
        client.post_json("/v2/alerts-opaque", {"pageToken": "op-forged"})


def test_fetch_all_pages_min_interval_paces(client):
    import time
    t0 = time.time()
    items = list(fetch_all_pages(client, "/v2/alerts", {}, page_size=100,
                                 min_interval=0.2))
    assert len(items) == mock_api.N_ALERTS
    # 3 pages -> at least 2 inter-page pacing sleeps
    assert time.time() - t0 >= 0.4


@pytest.mark.parametrize("executor", ["driver"])
def test_rate_limit_bounds_aggregate_rate_across_partitions(
        spark, client, executor):
    """The reference's contract is ~1 page/s per API (P:268); a 32-way
    fan-out must not legally hammer the endpoint at 32x that. With
    rate_limit set, the aggregate request-START rate across all driver
    fetch threads stays <= the limit, while requests still OVERLAP in
    flight (parallel transfer the serial chain walk cannot do)."""
    import json

    rate, delay = 8.0, 0.4
    options = {"page_size": "40",               # ceil(237/40) = 6 pages
               "rate_limit": str(rate),
               "filters": json.dumps({"_delay": delay})}
    srv = mock_api.server_state()
    srv.alert_request_log = []
    df = alerts_scan(spark, client, **options)
    assert df.count() == mock_api.N_ALERTS
    # page fetches only (the planning probe posts limit=1)
    starts = sorted(t for t, lim in srv.alert_request_log if lim == 40)
    probes = [t for t, lim in srv.alert_request_log if lim == 1]
    assert len(starts) == 6 and len(probes) == 1
    # the scheduled-slot guarantee: page i's request never fires before
    # its slot t0 + i/rate, where t0 (the planning stamp) is taken AFTER
    # the probe request -- so the i-th earliest observed start is >=
    # probe_time + i/rate. A late-waking fetch thread may fire a catch-up
    # burst (token-bucket semantics: capacity accrues while stalled),
    # but the scan as a whole can never beat the aggregate budget.
    for i, s in enumerate(starts):
        assert s >= probes[0] + i / rate - 0.02, (i, starts, probes)
    # still parallel: most gaps are shorter than one request's service
    # time, i.e. a request starts while the previous is in flight --
    # a serial paced walk would space starts >= delay apart
    gaps = [b - a for a, b in zip(starts, starts[1:])]
    assert sum(g < delay for g in gaps) >= 3


def test_indexed_paging_without_total_walks_the_chain(spark, client):
    """Default (indexed) paging on an endpoint that reports no
    X-Total-Count must not plan one page and return a truncated scan:
    it falls back to the serial chain walk and returns every row."""
    options = {"path": "/v2/alerts-opaque"}
    assert plan_pages(_opts(client, options), client) == [_Page(walk=True)]
    assert alerts_scan(spark, client, **options).count() == mock_api.N_ALERTS


def test_total_count_header_is_case_insensitive():
    from tf_prisma_api_data_ingestion_spark.sources.rest import _total_count
    assert _total_count({"X-Total-Count": "237"}) == 237
    assert _total_count({"x-total-count": "237"}) == 237  # HTTP/2 proxies
    assert _total_count({"Content-Type": "application/json"}) is None


def test_token_fanout_paces_bodied_cursor_walk(spark, client):
    """Without probe_key the fanout planner's cursor walk downloads full
    pages, so with rate_limit set its request starts are spaced at least
    1/rate_limit apart."""
    rate = 5.0
    srv = mock_api.server_state()
    srv.opaque_request_log = []
    df = alerts_scan(spark, client, **OPAQUE_FANOUT, rate_limit=str(rate))
    assert df.count() == mock_api.N_ALERTS
    log = sorted(srv.opaque_request_log)
    # the walk is every request before the limit=1 cursor re-use probe
    probe = [lim for _, lim in log].index(1)
    walk = [t for t, _ in log[:probe]]
    assert len(walk) == 3  # ceil(237 / 100) bodied pages
    gaps = [b - a for a, b in zip(walk, walk[1:])]
    assert all(g >= 1 / rate - 0.02 for g in gaps), gaps


def test_retry_after_header_is_honored(monkeypatch):
    import urllib.error
    from tf_prisma_api_data_ingestion_spark.sources.rest import _retry_delay
    err = urllib.error.HTTPError("u", 429, "rate", {"Retry-After": "0.25"}, None)
    assert _retry_delay(err, backoff_factor=9.0, attempt=3) == 0.25
    err2 = urllib.error.HTTPError("u", 429, "rate", {"Retry-After": "nonsense"}, None)
    assert _retry_delay(err2, backoff_factor=1.0, attempt=2) == 4.0


# keep LAST in the file: briefly expires the shared mock server's token
def test_reauth_on_token_expiry_mid_pagination(url):
    c = RestClient(url, username=mock_api.MOCK_USER,
                   password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()
    pages = iter(fetch_all_pages(c, "/v2/alerts", {}, page_size=100))
    first = [next(pages) for _ in range(100)]      # page 0 fully consumed
    request_with_backoff(url + "/admin/expire", method="POST", payload={})
    rest = list(pages)                             # page 1 -> 401 -> re-login
    assert len(first) + len(rest) == mock_api.N_ALERTS
    assert c.token == mock_api.MOCK_TOKEN          # token constant by design


def test_tokenless_client_401_raises(url):
    request_with_backoff(url + "/admin/expire", method="POST", payload={})
    try:
        with pytest.raises(urllib.error.HTTPError):
            RestClient(url, backoff_factor=0.01).get_json("/v1/inventory")
    finally:  # re-validate the shared token for any later module
        RestClient(url, username=mock_api.MOCK_USER,
                   password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()


def _drain_stream(spark, url, tmp_path, name):
    """One availableNow run of the alert stream into ``tmp_path/out``,
    checkpointed in ``tmp_path/ckpt``; returns the output's rows."""
    c = RestClient(url, username=mock_api.MOCK_USER,
                   password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()
    register_alerts_source(spark)
    stream = (spark.readStream.format("prisma_alerts_stream")
              .option("base_url", url).option("token", c.token)
              .option("backoff_factor", "0.01").load())
    q = (stream.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(str(tmp_path / "out")).collect()


def test_stream_source_exactly_once_restart(spark, url, tmp_path):
    assert len(_drain_stream(spark, url, tmp_path, "stream_src_run1")) == \
        mock_api.N_ALERTS
    # restart from the same checkpoint: the committed offset means zero
    # re-ingest — the property the reference's full-export rerun lacks
    assert len(_drain_stream(spark, url, tmp_path, "stream_src_run2")) == \
        mock_api.N_ALERTS


def test_stream_source_reads_alerts_appended_to_last_page(
        spark, url, tmp_path, monkeypatch):
    """The first drain ends on a partial page (237 = 2 pages + 37). When
    50 alerts are appended, a restart reads exactly those 50: none
    skipped, none read twice."""
    _drain_stream(spark, url, tmp_path, "stream_src_grow1")
    monkeypatch.setattr(mock_api, "N_ALERTS", 287)
    rows = _drain_stream(spark, url, tmp_path, "stream_src_grow2")
    assert sorted(int(r.accountId) for r in rows) == list(range(9000, 9287))


def test_stream_reader_replays_exact_offset_range(url, client):
    """The stream reader's offsets count alerts, so a batch range that
    starts and ends inside pages replays exactly those alerts."""
    from types import SimpleNamespace
    registered = []
    register_alerts_source(SimpleNamespace(
        dataSource=SimpleNamespace(register=registered.append)))
    [source] = registered
    reader = source({"base_url": url, "token": client.token,
                     "page_size": "50"}).simpleStreamReader(None)
    rows, end = reader.read(reader.initialOffset())
    assert end == {"item": mock_api.N_ALERTS}
    assert list(rows) == [_alert_row(mock_api.alert_item(i))
                          for i in range(mock_api.N_ALERTS)]
    replay = reader.readBetweenOffsets({"item": 37}, {"item": 151})
    assert [r.accountId for r in replay] == [str(9000 + i) for i in range(37, 151)]


def test_stream_reader_drain_stops_at_max_pages(url, client):
    """A drain reads at most max_pages pages: an API that keeps serving
    full pages must fail the micro-batch, not buffer rows without end."""
    from types import SimpleNamespace
    registered = []
    register_alerts_source(SimpleNamespace(
        dataSource=SimpleNamespace(register=registered.append)))
    [source] = registered
    reader = source({"base_url": url, "token": client.token,
                     "page_size": "100", "max_pages": "2"}
                    ).simpleStreamReader(None)
    with pytest.raises(RuntimeError, match="exceeded max_pages=2"):
        reader.read(reader.initialOffset())


def test_stream_source_rate_limit_paces_pages(spark, url, tmp_path):
    """The streaming drain loop is serial HTTP: rate_limit must enforce a
    minimum inter-request interval (the reference's 1 page/s contract,
    P:268, made configurable)."""
    c = RestClient(url, username=mock_api.MOCK_USER,
                   password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()
    register_alerts_source(spark)
    srv = mock_api.server_state()
    srv.alert_request_log = []
    stream = (spark.readStream.format("prisma_alerts_stream")
              .option("base_url", url).option("token", c.token)
              .option("rate_limit", "10")
              .option("backoff_factor", "0.01").load())
    q = (stream.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .queryName("stream_src_paced").trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == mock_api.N_ALERTS
    starts = sorted(t for t, lim in srv.alert_request_log if lim == 100)
    gaps = [b - a for a, b in zip(starts, starts[1:])]
    # 237 alerts / 100-per-page -> 3 page fetches, spaced >= 1/10 s
    assert len(starts) == 3
    assert all(g >= 0.08 for g in gaps), gaps


def test_token_fanout_degrades_to_serial_on_single_use_tokens(
        spark, client):
    """Single-use cursors (consumed on resolution — the mock's
    ``_singleUse`` filters passthrough) break fanout's re-use
    precondition: the plan-time probe must detect the 400 and degrade to
    ONE serial walk that re-walks the chain with fresh tokens, still
    yielding the exact row set."""
    options = {**OPAQUE_FANOUT, "filters": '{"_singleUse": true}'}
    assert plan_pages(_opts(client, options), client) == [_Page(walk=True)]
    assert alerts_scan(spark, client, **options).count() == mock_api.N_ALERTS
