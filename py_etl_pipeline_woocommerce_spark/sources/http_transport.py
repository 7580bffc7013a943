"""Requests-backed HTTP transport for the paged-REST extract layer.

Production twin of the injectable ``rest.Transport`` contract — the
piece the reference builds in ``wc_client.py:9-49`` (env-configured
credentials, query-string auth, HTTP error → exception, serial
``paged()`` loop). Here the paging loop is ``rest._walk``, the one
page walk that order strides, refunds and product chunks share; this
class only does one robust HTTP GET per call, plus what a production
extract needs that the reference omits: bounded exponential backoff
with ``Retry-After`` honoring on 429/5xx, and total-page discovery
from the ``X-WP-TotalPages`` header, which ends each walk and sizes
``rest.fetch_orders_since``'s one-stage fan-out over every page
(page 1's probe rides in the task closure).

Pickling: instances ship to executors inside ``mapInPandas`` closures,
so the ``requests.Session`` (unpicklable, holds sockets) is dropped
from ``__getstate__`` and built lazily by each unpickled copy — one per
fetch task. The task's pool threads call one copy at once, so the
lazy build runs under a lock: they share that one session and its
connection pool instead of each building their own.

Offline by design in tests: the session factory and sleep function are
injectable, so retry/auth/error behavior is unit-tested against a
scripted fake with zero network and zero real sleeping.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Any, Callable

try:  # pragma: no cover - exercised via the import-time fallback test
    import requests
except ImportError:  # pragma: no cover
    requests = None  # type: ignore[assignment]

#: statuses worth retrying: rate limit + transient server errors
RETRYABLE_STATUSES = frozenset({429, 500, 502, 503, 504})


def _redact_credentials(text: str) -> str:
    """Strip WooCommerce API credential VALUES from error text. The
    query string (consumer_key/consumer_secret) rides in every URL,
    and both requests' exception messages and some server error
    bodies echo the URL back."""
    import re

    return re.sub(
        r"(consumer_(?:key|secret)=)[^&\s'\"]+", r"\1***", text or ""
    )


class WooHttpError(RuntimeError):
    """GET failed terminally (non-retryable status, or retries exhausted).

    Mirrors ``wc_client.py:31-34``'s ``RuntimeError`` on
    ``status_code >= 400``, with the status kept machine-readable.
    """

    def __init__(self, path: str, status: int, body: str):
        super().__init__(f"Woo GET {path} failed {status}: {body[:500]}")
        self.path = path
        self.status = status


class WooHttpTransport:
    """``(path, params) -> (json_text, total_pages)`` over HTTPS.

    Credentials resolve from arguments first, then the reference's
    environment contract (``wc_client.py:10-15``): ``WC_BASE_URL``,
    ``WC_CONSUMER_KEY``, ``WC_CONSUMER_SECRET``; missing values raise
    immediately (fail at construction, not mid-backfill). Auth rides
    the query string (``wc_client.py:19`` uses ``query_string_auth=
    True`` for WAF-fronted hosts).
    """

    def __init__(
        self,
        base_url: str | None = None,
        consumer_key: str | None = None,
        consumer_secret: str | None = None,
        *,
        timeout: float = 60.0,
        max_retries: int = 5,
        backoff_base: float = 0.5,
        backoff_cap: float = 30.0,
        session_factory: Callable[[], Any] | None = None,
        sleep: Callable[[float], None] = time.sleep,
    ):
        base_url = base_url or os.getenv("WC_BASE_URL", "")
        self.consumer_key = consumer_key or os.getenv("WC_CONSUMER_KEY", "")
        self.consumer_secret = consumer_secret or os.getenv("WC_CONSUMER_SECRET", "")
        if not base_url or not self.consumer_key or not self.consumer_secret:
            raise RuntimeError(
                "Woo credentials missing: set WC_BASE_URL, WC_CONSUMER_KEY, "
                "WC_CONSUMER_SECRET"
            )
        self.base_url = base_url.strip().rstrip("/") + "/wp-json/wc/v3/"
        self.timeout = timeout
        self.max_retries = max_retries
        self.backoff_base = backoff_base
        self.backoff_cap = backoff_cap
        self._session_factory = session_factory
        self._sleep = sleep
        self._session: Any = None
        self._session_lock = threading.Lock()

    # -- pickling: drop the live session and its lock; an unpickled
    # -- copy gets a fresh lock and builds its session on first call
    def __getstate__(self):
        state = self.__dict__.copy()
        state["_session"] = None
        del state["_session_lock"]
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._session_lock = threading.Lock()

    def _get_session(self):
        if self._session is None:
            with self._session_lock:
                if self._session is None:
                    self._session = self._new_session()
        return self._session

    def _new_session(self):
        if self._session_factory is not None:
            return self._session_factory()
        if requests is None:
            raise RuntimeError(
                "the 'requests' package is required for WooHttpTransport; "
                "inject a session_factory or install requests"
            )
        return requests.Session()

    #: ceiling for honoring a server's Retry-After beyond the normal
    #: exponential cap — waiting out a compliant throttle beats
    #: burning the retry budget re-hitting a still-throttling server
    RETRY_AFTER_CAP = 300.0

    def _delay(self, attempt: int, retry_after: str | None) -> float:
        if retry_after:
            try:
                # clamp into [0, RETRY_AFTER_CAP]: a negative value
                # (clock-skewed server) would crash time.sleep
                return max(
                    0.0, min(float(retry_after), self.RETRY_AFTER_CAP)
                )
            except ValueError:
                pass  # HTTP-date form: fall through to exponential
        return min(self.backoff_base * (2**attempt), self.backoff_cap)

    def __call__(self, path: str, params: dict) -> tuple[str, int]:
        url = self.base_url + path.lstrip("/")
        query = {
            **params,
            "consumer_key": self.consumer_key,
            "consumer_secret": self.consumer_secret,
        }
        session = self._get_session()
        last_status, last_body = -1, ""
        for attempt in range(self.max_retries + 1):
            try:
                resp = session.get(url, params=query, timeout=self.timeout)
            except Exception as exc:  # requests.RequestException and kin
                # Connection resets / timeouts / chunked-encoding breaks
                # are the MOST common transient failures in a long
                # backfill — retry them with the same backoff as a 5xx
                # instead of letting the first one kill the run.
                if requests is None or not isinstance(
                    exc, requests.RequestException
                ):
                    raise
                # REDACT before storing: requests embeds the full URL
                # (query string INCLUDING consumer_key/consumer_secret)
                # in connection-error text — unredacted it would land
                # in driver logs, Spark UI failure messages, and
                # notify emails via WooHttpError below
                last_status, last_body = -1, _redact_credentials(
                    f"{type(exc).__name__}: {exc}"
                )
                if attempt == self.max_retries:
                    break
                self._sleep(self._delay(attempt, None))
                continue
            status = int(resp.status_code)
            if status < 400:
                pages = resp.headers.get("X-WP-TotalPages")
                try:
                    return resp.text, int(pages) if pages else -1
                except ValueError:
                    # malformed header (proxy-merged duplicates like
                    # "5, 5"): degrade to the documented unknown-total
                    # contract instead of dying on a 200
                    return resp.text, -1
            last_status, last_body = status, resp.text
            if status not in RETRYABLE_STATUSES or attempt == self.max_retries:
                break
            self._sleep(self._delay(attempt, resp.headers.get("Retry-After")))
        raise WooHttpError(path, last_status, _redact_credentials(last_body))
