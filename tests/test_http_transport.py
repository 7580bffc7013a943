"""Offline unit tests for the requests-backed transport: auth in the
query string, X-WP-TotalPages discovery, 429/5xx retry with backoff
and Retry-After, terminal errors, env-credential contract, pickling.
All against a scripted fake session — no network, no real sleeping."""

from __future__ import annotations

import pickle
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from py_etl_pipeline_woocommerce_spark.sources.http_transport import (
    WooHttpError,
    WooHttpTransport,
)


class FakeResponse:
    def __init__(self, status=200, text="[]", headers=None):
        self.status_code = status
        self.text = text
        self.headers = headers or {}


class FakeSession:
    """Replays a script of responses and records every request."""

    def __init__(self, script):
        self.script = list(script)
        self.calls = []

    def get(self, url, params=None, timeout=None):
        self.calls.append((url, dict(params or {}), timeout))
        return self.script.pop(0)


def make(script, sleeps=None, **kw):
    session = FakeSession(script)
    transport = WooHttpTransport(
        "https://shop.example.com",
        "ck_test",
        "cs_test",
        session_factory=lambda: session,
        sleep=(sleeps.append if sleeps is not None else lambda s: None),
        **kw,
    )
    return transport, session


def test_success_returns_body_and_total_pages():
    transport, session = make(
        [FakeResponse(200, '[{"id": 1}]', {"X-WP-TotalPages": "7"})]
    )
    body, pages = transport("orders", {"page": 1, "per_page": 100})
    assert body == '[{"id": 1}]'
    assert pages == 7
    url, params, timeout = session.calls[0]
    assert url == "https://shop.example.com/wp-json/wc/v3/orders"
    # query-string auth, never basic auth (wc_client.py:19)
    assert params["consumer_key"] == "ck_test"
    assert params["consumer_secret"] == "cs_test"
    assert params["page"] == 1 and params["per_page"] == 100
    assert timeout == 60.0


def test_missing_total_pages_header_reports_unknown():
    transport, _ = make([FakeResponse(200, "[]")])
    _, pages = transport("orders", {})
    assert pages == -1


def test_retries_429_with_retry_after_then_succeeds():
    sleeps = []
    transport, session = make(
        [
            FakeResponse(429, "slow down", {"Retry-After": "3"}),
            FakeResponse(503, "unavailable"),
            FakeResponse(200, '[{"id": 2}]', {"X-WP-TotalPages": "1"}),
        ],
        sleeps=sleeps,
        backoff_base=0.5,
    )
    body, pages = transport("orders", {})
    assert body == '[{"id": 2}]' and pages == 1
    assert len(session.calls) == 3
    # Retry-After honored first, exponential backoff second (0.5 * 2^1)
    assert sleeps == [3.0, 1.0]


def test_retries_exhausted_raises_with_status():
    sleeps = []
    transport, session = make(
        [FakeResponse(503, "down")] * 3, sleeps=sleeps, max_retries=2
    )
    with pytest.raises(WooHttpError) as err:
        transport("orders", {})
    assert err.value.status == 503
    assert len(session.calls) == 3  # initial + 2 retries
    assert len(sleeps) == 2  # no sleep after the final attempt


def test_non_retryable_4xx_fails_immediately():
    transport, session = make([FakeResponse(401, "bad credentials")])
    with pytest.raises(WooHttpError) as err:
        transport("orders", {})
    assert err.value.status == 401
    assert len(session.calls) == 1


def test_backoff_is_capped():
    sleeps = []
    transport, _ = make(
        [FakeResponse(500, "x")] * 7 + [FakeResponse(200, "[]")],
        sleeps=sleeps,
        max_retries=7,
        backoff_base=1.0,
        backoff_cap=10.0,
    )
    transport("orders", {})
    assert max(sleeps) == 10.0


def test_missing_credentials_raise_at_construction(monkeypatch):
    for var in ("WC_BASE_URL", "WC_CONSUMER_KEY", "WC_CONSUMER_SECRET"):
        monkeypatch.delenv(var, raising=False)
    with pytest.raises(RuntimeError, match="credentials missing"):
        WooHttpTransport()


def test_env_credentials_are_honored(monkeypatch):
    monkeypatch.setenv("WC_BASE_URL", "https://env.example.com/")
    monkeypatch.setenv("WC_CONSUMER_KEY", "ck_env")
    monkeypatch.setenv("WC_CONSUMER_SECRET", "cs_env")
    transport = WooHttpTransport(session_factory=lambda: FakeSession([]))
    assert transport.base_url == "https://env.example.com/wp-json/wc/v3/"
    assert transport.consumer_key == "ck_env"


def test_pickles_without_live_session():
    # default factory/sleep (no closures) — the executor-shipped form
    transport = WooHttpTransport("https://shop.example.com", "ck_test", "cs_test")
    transport._session = object()  # simulate a live unpicklable session
    clone = pickle.loads(pickle.dumps(transport))
    assert clone._session is None  # rebuilt lazily on the executor
    assert clone.consumer_key == "ck_test"


class FlakySession(FakeSession):
    """Raises scripted exceptions before falling back to responses."""

    def __init__(self, errors, script):
        super().__init__(script)
        self.errors = list(errors)

    def get(self, url, params=None, timeout=None):
        if self.errors:
            self.calls.append((url, dict(params or {}), timeout))
            raise self.errors.pop(0)
        return super().get(url, params=params, timeout=timeout)


def _flaky(errors, script, sleeps=None, **kw):
    session = FlakySession(errors, script)
    transport = WooHttpTransport(
        "https://shop.example.com",
        "ck_test",
        "cs_test",
        session_factory=lambda: session,
        sleep=(sleeps.append if sleeps is not None else lambda s: None),
        **kw,
    )
    return transport, session


def test_transient_connection_errors_are_retried():
    import requests as _requests

    sleeps = []
    transport, session = _flaky(
        [_requests.ConnectionError("reset"), _requests.Timeout("slow")],
        [FakeResponse(200, "[]", {"X-WP-TotalPages": "1"})],
        sleeps=sleeps,
        backoff_base=0.5,
    )
    body, pages = transport("orders", {})
    assert (body, pages) == ("[]", 1)
    assert len(session.calls) == 3      # 2 failures + 1 success
    assert sleeps == [0.5, 1.0]         # exponential backoff applied


def test_connection_errors_exhaust_into_woo_http_error():
    import requests as _requests

    transport, _ = _flaky(
        [_requests.ConnectionError("reset")] * 4, [], max_retries=3
    )
    with pytest.raises(WooHttpError, match="ConnectionError"):
        transport("orders", {})


def test_non_requests_exceptions_propagate_immediately():
    transport, session = _flaky([ValueError("logic bug")], [])
    with pytest.raises(ValueError, match="logic bug"):
        transport("orders", {})
    assert len(session.calls) == 1      # no retry on non-transport errors


def test_delay_clamps_negative_and_oversized_retry_after():
    """Retry-After: -1 (clock-skewed server) must not reach
    time.sleep, and a server wait above the exponential cap is
    honored up to RETRY_AFTER_CAP instead of being clamped below
    what the server demanded."""
    transport, _ = make([])
    assert transport._delay(0, "-1") == 0.0
    assert transport._delay(0, "120") == 120.0  # above backoff_cap
    assert transport._delay(0, "9999") == transport.RETRY_AFTER_CAP


def test_malformed_total_pages_header_degrades_to_unknown():
    """A proxy-merged 'X-WP-TotalPages: 5, 5' must not kill a 200
    response — degrade to the unknown-total contract (-1)."""
    transport, _ = make(
        [FakeResponse(200, '[{"id": 1}]', {"X-WP-TotalPages": "5, 5"})]
    )
    body, pages = transport("orders", {})
    assert pages == -1


def test_error_messages_redact_credentials():
    """Connection-error text from requests embeds the full URL —
    query string INCLUDING the API credentials. The raised
    WooHttpError (which lands in driver logs and notify emails) must
    carry the redacted form."""
    import requests as _requests

    transport, _ = _flaky(
        [
            _requests.ConnectionError(
                "Max retries exceeded with url: /wp-json/wc/v3/orders"
                "?after=x&consumer_key=ck_SECRET1&consumer_secret=cs_SECRET2"
            )
        ]
        * 2,
        [],
        max_retries=1,
    )
    with pytest.raises(WooHttpError) as ei:
        transport("orders", {})
    msg = str(ei.value)
    assert "ck_SECRET1" not in msg and "cs_SECRET2" not in msg
    assert "consumer_key=***" in msg and "consumer_secret=***" in msg


class _ThrottledOnce:
    """Per page: a 429 echoing the credentialed URL, then a 200. Page
    0 is throttled on every attempt."""

    def __init__(self):
        self.attempts: dict = {}
        self.lock = threading.Lock()

    def get(self, url, params=None, timeout=None):
        page = params["page"]
        with self.lock:
            n = self.attempts[page] = self.attempts.get(page, 0) + 1
        if page == 0 or n == 1:
            echo = (
                f"throttled {url}?consumer_key={params['consumer_key']}"
                f"&consumer_secret={params['consumer_secret']}"
            )
            return FakeResponse(429, echo, {"Retry-After": "2"})
        return FakeResponse(200, f'[{{"id": {page}}}]', {"X-WP-TotalPages": "8"})


_BUILT: list = []


def _slow_throttled_session():
    time.sleep(0.05)  # widen the window a racy lazy build would hit
    session = _ThrottledOnce()
    _BUILT.append(session)
    return session


def test_concurrent_first_calls_share_one_session():
    """A fetch task calls its unpickled transport copy from its pool
    threads at once: the lazy build runs once and the threads share
    the session; retry-after backoff and credential redaction hold
    per call."""
    _BUILT.clear()
    sleeps: list = []
    transport = pickle.loads(
        pickle.dumps(
            WooHttpTransport(
                "https://shop.example.com",
                "ck_SECRET1",
                "cs_SECRET2",
                max_retries=1,
                session_factory=_slow_throttled_session,
            )
        )
    )
    transport._sleep = sleeps.append
    start = threading.Barrier(8)

    def call(page):
        start.wait(timeout=30)
        try:
            return transport("orders", {"page": page})
        except WooHttpError as exc:
            return exc

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(call, range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert len(_BUILT) == 1
    assert results[1:] == [(f'[{{"id": {p}}}]', 8) for p in range(1, 8)]
    assert sleeps == [2.0] * 8  # one Retry-After wait per call
    err = results[0]
    assert isinstance(err, WooHttpError) and err.status == 429
    assert "ck_SECRET1" not in str(err) and "cs_SECRET2" not in str(err)
    assert "consumer_key=***" in str(err)
