"""REST connector tests against the in-process mock API: auth, backoff,
serial + partition-per-page pagination, and the reference defects we
must NOT replicate (stale-page replay, import-time login)."""

from __future__ import annotations

import urllib.error

import pytest

from tf_prisma_api_data_ingestion_spark.plans.e2e import alerts_scan
from tf_prisma_api_data_ingestion_spark.sources import mock_api
from tf_prisma_api_data_ingestion_spark.sources.rest import (
    RestClient,
    fetch_all_pages,
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


def test_fetch_all_pages_serial(client):
    items = list(fetch_all_pages(client, "/v2/alerts", {}, page_size=100))
    assert len(items) == mock_api.N_ALERTS
    assert items[0]["resource"]["account"] == "acct-0"
    assert items[11]["resource"]["cloudAccountGroups"] == []


def test_fetch_all_pages_respects_max_pages(client):
    with pytest.raises(RuntimeError):
        list(fetch_all_pages(client, "/v2/alerts", {}, page_size=10, max_pages=2))


def test_datasource_partition_per_page(spark, url, client):
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("backoff_factor", "0.01").load())
    assert df.rdd.getNumPartitions() == 3  # ceil(237 / 100)
    rows = df.collect()
    assert len(rows) == mock_api.N_ALERTS
    got = {(r.account, r.accountId) for r in rows}
    want = {(f"acct-{i % 7}", str(9000 + i)) for i in range(mock_api.N_ALERTS)}
    assert got == want


@pytest.mark.parametrize("options", [
    {},
    {"path": "/v2/alerts-opaque"},
    {"paging": "token"},
    {"paging": "token-fanout", "path": "/v2/alerts-opaque",
     "probe_key": "countOnly"},
    {"paging": "token-fanout", "path": "/v2/alerts-opaque"},
], ids=["indexed", "indexed-no-total", "token", "fanout-probe", "fanout-bodied"])
def test_datasource_matches_serial_fetch(spark, url, client, options):
    """The DataSource matches the serial walk, and the driver scan
    returns its rows in the same order."""
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("backoff_factor", "0.01").options(**options).load())
    serial = [i["resource"]["accountId"] for i in
              fetch_all_pages(client, options.get("path", "/v2/alerts"), {})]
    rows = df.collect()
    assert sorted(r.accountId for r in rows) == sorted(serial)
    assert alerts_scan(spark, client, **options).collect() == rows


@pytest.mark.parametrize("option,value", [
    ("page_size", "0"), ("max_pages", "0"), ("rate_limit", "-1")])
def test_out_of_range_option_is_rejected(spark, url, client, option, value):
    with pytest.raises(ValueError, match=f"{option} must be"):
        alerts_scan(spark, client, **{option: value})
    register_alerts_source(spark)
    with pytest.raises(Exception, match=f"{option} must be"):
        (spark.read.format("prisma_alerts")
         .option("base_url", url).option("token", client.token)
         .option(option, value).load().collect())


def test_datasource_token_mode_single_partition(spark, url, client):
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("paging", "token")
          .option("backoff_factor", "0.01").load())
    # opaque-token APIs can't be index-addressed: one serial partition
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == mock_api.N_ALERTS


def test_datasource_token_fanout_parallel_pages(spark, url, client):
    """Opaque-token endpoint (no X-Total-Count, md5-style cursors only
    resolvable server-side): token-fanout must still plan >1 partition
    and match the serial walk exactly."""
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("path", "/v2/alerts-opaque")
          .option("paging", "token-fanout")
          .option("probe_key", "countOnly")
          .option("backoff_factor", "0.01").load())
    assert df.rdd.getNumPartitions() == 3  # one per discovered cursor
    serial = [i["resource"]["accountId"]
              for i in fetch_all_pages(client, "/v2/alerts-opaque", {})]
    assert sorted(r.accountId for r in df.collect()) == sorted(serial)
    assert len(serial) == mock_api.N_ALERTS


def test_datasource_token_fanout_without_probe(spark, url, client):
    """Without a probe key the driver walk downloads bodies once and
    discards them; the fan-out result is still exact."""
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("path", "/v2/alerts-opaque")
          .option("paging", "token-fanout")
          .option("backoff_factor", "0.01").load())
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == mock_api.N_ALERTS


@pytest.mark.parametrize("page_size,n_parts", [(50, 5), (237, 1), (300, 1)])
def test_token_fanout_page_size_extremes(spark, url, client, page_size, n_parts):
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("path", "/v2/alerts-opaque")
          .option("paging", "token-fanout")
          .option("probe_key", "countOnly")
          .option("page_size", str(page_size))
          .option("backoff_factor", "0.01").load())
    assert df.rdd.getNumPartitions() == n_parts
    assert df.count() == mock_api.N_ALERTS


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


@pytest.mark.parametrize("executor", ["datasource", "driver"])
def test_rate_limit_bounds_aggregate_rate_across_partitions(
        spark, url, client, executor):
    """The reference's contract is ~1 page/s per API (P:268); a 32-way
    fan-out must not legally hammer the endpoint at 32x that. With
    rate_limit set, the aggregate request-START rate across all
    partitions (or driver fetch threads) stays <= the limit, while
    requests still OVERLAP in flight (parallel transfer the serial chain
    walk cannot do)."""
    import json

    rate, delay = 8.0, 0.4
    options = {"page_size": "40",               # ceil(237/40) = 6 pages
               "rate_limit": str(rate),
               "filters": json.dumps({"_delay": delay})}
    srv = mock_api.server_state()
    srv.alert_request_log = []
    if executor == "driver":
        df = alerts_scan(spark, client, **options)
    else:
        register_alerts_source(spark)
        df = (spark.read.format("prisma_alerts")
              .option("base_url", url).option("token", client.token)
              .option("backoff_factor", "0.01").options(**options).load())
    assert df.count() == mock_api.N_ALERTS
    # page fetches only (the planning probe posts limit=1)
    starts = sorted(t for t, lim in srv.alert_request_log if lim == 40)
    probes = [t for t, lim in srv.alert_request_log if lim == 1]
    assert len(starts) == 6 and len(probes) == 1
    # the scheduled-slot guarantee: page i's request never fires before
    # its slot t0 + i/rate, where t0 (the planning stamp) is taken AFTER
    # the probe request -- so the i-th earliest observed start is >=
    # probe_time + i/rate. A late-waking executor may fire a catch-up
    # burst (token-bucket semantics: capacity accrues while stalled),
    # but the scan as a whole can never beat the aggregate budget.
    for i, s in enumerate(starts):
        assert s >= probes[0] + i / rate - 0.02, (i, starts, probes)
    # still parallel: most gaps are shorter than one request's service
    # time, i.e. a request starts while the previous is in flight --
    # a serial paced walk would space starts >= delay apart
    gaps = [b - a for a, b in zip(starts, starts[1:])]
    assert sum(g < delay for g in gaps) >= 3


def test_indexed_paging_without_total_walks_the_chain(spark, url, client):
    """Default (indexed) paging on an endpoint that reports no
    X-Total-Count must not plan one page and return a truncated scan:
    it falls back to the serial chain walk and returns every row."""
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("path", "/v2/alerts-opaque")
          .option("backoff_factor", "0.01").load())
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == mock_api.N_ALERTS


def test_total_count_header_is_case_insensitive():
    from tf_prisma_api_data_ingestion_spark.sources.rest import _total_count
    assert _total_count({"X-Total-Count": "237"}) == 237
    assert _total_count({"x-total-count": "237"}) == 237  # HTTP/2 proxies
    assert _total_count({"Content-Type": "application/json"}) is None


def test_token_fanout_paces_bodied_cursor_walk(spark, url, client):
    """Without probe_key the fanout planner's cursor walk downloads full
    pages, so with rate_limit set its request starts are spaced at least
    1/rate_limit apart."""
    register_alerts_source(spark)
    rate = 5.0
    srv = mock_api.server_state()
    srv.opaque_request_log = []
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("path", "/v2/alerts-opaque")
          .option("paging", "token-fanout")
          .option("rate_limit", str(rate))
          .option("backoff_factor", "0.01").load())
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


def test_stream_source_exactly_once_restart(spark, url, tmp_path):
    from tf_prisma_api_data_ingestion_spark.sources.rest import (
        register_alerts_stream_source,
    )
    c = RestClient(url, username=mock_api.MOCK_USER,
                   password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()
    register_alerts_stream_source(spark)

    def drain(name):
        stream = (spark.readStream.format("prisma_alerts_stream")
                  .option("base_url", url).option("token", c.token)
                  .option("backoff_factor", "0.01").load())
        q = (stream.writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .queryName(name).trigger(availableNow=True).start())
        q.awaitTermination()

    drain("stream_src_run1")
    assert spark.read.parquet(str(tmp_path / "out")).count() == mock_api.N_ALERTS
    # restart from the same checkpoint: the committed page cursor means
    # zero re-ingest — the property the reference's full-export rerun lacks
    drain("stream_src_run2")
    assert spark.read.parquet(str(tmp_path / "out")).count() == mock_api.N_ALERTS


def test_stream_source_rate_limit_paces_pages(spark, url, tmp_path):
    """The streaming drain loop is serial HTTP: rate_limit must enforce a
    minimum inter-request interval (the reference's 1 page/s contract,
    P:268, made configurable)."""
    from tf_prisma_api_data_ingestion_spark.sources.rest import (
        register_alerts_stream_source,
    )
    c = RestClient(url, username=mock_api.MOCK_USER,
                   password=mock_api.MOCK_PASSWORD, backoff_factor=0.01).login()
    register_alerts_stream_source(spark)
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
        spark, url, client):
    """Single-use cursors (consumed on resolution — the mock's
    ``_singleUse`` filters passthrough) break fanout's re-use
    precondition: the plan-time probe must detect the 400 and degrade to
    ONE serial partition that re-walks the chain with fresh tokens,
    still yielding the exact row set."""
    register_alerts_source(spark)
    df = (spark.read.format("prisma_alerts")
          .option("base_url", url).option("token", client.token)
          .option("path", "/v2/alerts-opaque")
          .option("paging", "token-fanout")
          .option("filters", '{"_singleUse": true}')
          .option("backoff_factor", "0.01").load())
    assert df.rdd.getNumPartitions() == 1      # degraded plan
    assert df.count() == mock_api.N_ALERTS     # and still exact
