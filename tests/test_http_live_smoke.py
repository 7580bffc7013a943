"""Real-socket smoke harness for the HTTP extract layer: a loopback
``ThreadingHTTPServer`` plays a minimal WooCommerce REST facade
(query-string auth check, paged /orders with ``X-WP-TotalPages``,
a throttling endpoint with ``Retry-After``, an erroring path), and
``WooHttpTransport`` + ``fetch_orders_since`` drive it over real sockets —
the integration gap the injected-fake unit tests can't cover
(connection pooling, URL encoding, header casing, chunked reads).

Loopback only — no external network; the server lives and dies
inside each test."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from py_etl_pipeline_woocommerce_spark.sources.http_transport import (
    WooHttpError,
    WooHttpTransport,
)

N_ORDERS = 25
PER_PAGE = 10


class _WooFacade(BaseHTTPRequestHandler):
    throttle_remaining = 0  # set per-test: 429s served before a 200

    def log_message(self, *a):  # keep pytest output clean
        pass

    def do_GET(self):
        u = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        if u.path.endswith("/echo-error"):
            # terminal 400 whose body echoes the full query string —
            # the shape that leaks credentials if redaction regresses
            self._reply(400, {"message": f"bad request: {u.query}"})
            return
        if q.get("consumer_key") != "ck" or q.get("consumer_secret") != "cs":
            self._reply(401, {"message": "unauthorized"})
            return
        if u.path.endswith("/orders"):
            # a host that caps per_page (WAF/plugin) at PER_PAGE
            per_page = min(int(q.get("per_page", PER_PAGE)), PER_PAGE)
            page = int(q.get("page", 1))
            total_pages = -(-N_ORDERS // per_page)
            lo = (page - 1) * per_page
            rows = [
                {"id": i + 1, "total": f"{(i + 1) * 10}.00"}
                for i in range(lo, min(lo + per_page, N_ORDERS))
            ]
            self._reply(
                200, rows, headers={"X-WP-TotalPages": str(total_pages)}
            )
            return
        if u.path.endswith("/throttled"):
            cls = type(self)
            if cls.throttle_remaining > 0:
                cls.throttle_remaining -= 1
                self._reply(
                    429,
                    {"message": "slow down"},
                    headers={"Retry-After": "0"},
                )
                return
            self._reply(200, [{"id": 1}])
            return
        self._reply(404, {"message": "no route"})

    def _reply(self, status, payload, headers=None):
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def facade():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _WooFacade)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    _WooFacade.throttle_remaining = 0
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        server.shutdown()
        server.server_close()


def _transport(base_url, **kw):
    return WooHttpTransport(
        base_url=base_url,
        consumer_key="ck",
        consumer_secret="cs",
        sleep=lambda s: None,
        **kw,
    )


def test_get_over_real_socket(facade):
    body, pages = _transport(facade)("orders", {"page": 1, "per_page": 10})
    rows = json.loads(body)
    assert len(rows) == 10 and rows[0]["id"] == 1
    assert pages == 3


def test_retry_after_throttle_over_real_socket(facade):
    _WooFacade.throttle_remaining = 2
    body, _ = _transport(facade)("throttled", {})
    assert json.loads(body) == [{"id": 1}]


def test_terminal_error_redacts_credentials(facade):
    t = WooHttpTransport(
        base_url=facade,
        consumer_key="ck-topsecret-key-value",
        consumer_secret="cs-topsecret-secret-value",
        sleep=lambda s: None,
    )
    with pytest.raises(WooHttpError) as e:
        t("echo-error", {})
    msg = str(e.value)
    assert e.value.status == 400
    # the echoed query string must carry redaction markers and must
    # NOT carry either raw credential value anywhere in the message
    assert "consumer_secret=***" in msg
    assert "consumer_key=***" in msg
    assert "topsecret" not in msg


def test_not_found_is_terminal(facade):
    with pytest.raises(WooHttpError) as e:
        _transport(facade)("nope", {})
    assert e.value.status == 404


def test_wrong_credentials_fail_loudly(facade):
    t = WooHttpTransport(
        base_url=facade,
        consumer_key="wrong",
        consumer_secret="wrong",
        sleep=lambda s: None,
    )
    with pytest.raises(WooHttpError) as e:
        t("orders", {"page": 1})
    assert e.value.status == 401


def test_fetch_paged_end_to_end_over_real_sockets(spark, facade):
    """The full distributed extract against a live server: page 1 on
    the driver, pages 2..N through mapInPandas executors, each
    opening its own real connection (the pickling contract)."""
    from py_etl_pipeline_woocommerce_spark.sources.rest import fetch_orders_since

    df = fetch_orders_since(spark, _transport(facade), "2023-01-01T00:00:00")
    rows = df.collect()
    assert len(rows) == N_ORDERS
    ids = sorted(json.loads(r["raw"])["id"] for r in rows)
    assert ids == list(range(1, N_ORDERS + 1))
    # the facade serves no refunds route: each order's refunds call is
    # a real 404, which reads as no refunds
    assert {r["refunds"] for r in rows} == {"[]"}
