"""Seeded synthetic WooCommerce store and its in-process REST transport.

Every payload is integer arithmetic on ``(seed, order id)``, in the
style of ``__spark_entry__._woo_digest_batch``: the transport object
holds four integers (plus optional call counters), so the pickled
closure that ``sources.rest`` ships to executors carries no data.
There are no sleeps; transport latency is counted as calls, not
simulated.

The store has a sparse history (``HISTORY_DAYS`` at one order per
``HISTORY_SLOT_S``), then a busy present (one order per ``SLOT_S``,
about 10^3 a day). Each order is created inside its own slot, so
creation time is strictly increasing in the id and a date window maps
to an id range by arithmetic.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

MASK = (1 << 64) - 1
EPOCH = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())
#: history: 2024-01-01 .. 2024-03-11, 20 orders a day
HISTORY_DAYS = 70
HISTORY_SLOT_S = 4320
N_HISTORY = HISTORY_DAYS * 86_400 // HISTORY_SLOT_S
#: the present: 1004 orders a day from 2024-03-11 on
NOW0 = EPOCH + HISTORY_DAYS * 86_400
SLOT_S = 86
N_PRODUCTS = 300
COUNTRIES = ("GR", "DE", "FR", "IT", "ES", "NL", "PL")
STATUSES = ("completed",) * 8 + ("processing", "on-hold")


def _h(seed: int, i: int, k: int) -> int:
    """splitmix64-style mix of three integers."""
    x = (seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9 + k * 0x94D049BB133111EB) & MASK
    x ^= x >> 31
    x = (x * 0xD6E8FEEBB9F9A8E1) & MASK
    return x ^ (x >> 29)


def iso(ts_s: int) -> str:
    return datetime.fromtimestamp(ts_s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")


def parse_iso(s: str) -> int:
    return int(datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp())


def _cents(c: int) -> str:
    sign = "-" if c < 0 else ""
    c = abs(c)
    return f"{sign}{c // 100}.{c % 100:02d}"


class WooStore:
    """The store at one moment: orders ``0 .. visible - 1`` exist.

    Called as ``store(path, params)`` it is a ``sources.rest.Transport``
    serving ``orders``, ``products`` and ``orders/<id>/refunds``.
    ``counters`` optionally maps endpoint -> Spark accumulator, added to
    once per call wherever the call runs (driver or executor).
    """

    def __init__(self, seed: int, visible: int, counters: dict | None = None):
        self.seed = seed
        self.visible = visible
        self.counters = counters

    def at(self, visible: int) -> "WooStore":
        return WooStore(self.seed, visible, self.counters)

    # -- the generator -------------------------------------------------
    def created_s(self, i: int) -> int:
        if i < N_HISTORY:
            return EPOCH + i * HISTORY_SLOT_S + _h(self.seed, i, 0) % HISTORY_SLOT_S
        return NOW0 + (i - N_HISTORY) * SLOT_S + _h(self.seed, i, 0) % SLOT_S

    def first_after(self, ts_s: int) -> int:
        """Smallest order id created strictly after ``ts_s``."""
        if ts_s < NOW0:
            i = max(0, (ts_s - EPOCH) // HISTORY_SLOT_S - 1)
        else:
            i = N_HISTORY + max(0, (ts_s - NOW0) // SLOT_S - 1)
        while self.created_s(i) <= ts_s:
            i += 1
        return i

    def lines(self, i: int) -> list[tuple[int, int, int]]:
        """(product_id, quantity, unit price in cents) per line; 1-3
        lines with distinct products."""
        n = 1 + _h(self.seed, i, 1) % 3
        p0 = _h(self.seed, i, 2) % N_PRODUCTS
        return [
            (
                1 + (p0 + 97 * j) % N_PRODUCTS,
                1 + _h(self.seed, i, 10 + j) % 4,
                100 + _h(self.seed, i, 20 + j) % 9900,
            )
            for j in range(n)
        ]

    def refunded(self, i: int) -> bool:
        """About one order in ten refunds one unit of its first line."""
        return _h(self.seed, i, 3) % 10 == 0

    def order(self, i: int) -> dict:
        lines = self.lines(i)
        subtotal = sum(q * p for _, q, p in lines)
        tax = subtotal // 10
        return {
            "id": i,
            "status": STATUSES[_h(self.seed, i, 4) % len(STATUSES)],
            "currency": "EUR",
            "customer_id": 1 + _h(self.seed, i, 5) % 5000,
            "date_created_gmt": iso(self.created_s(i)),
            "discount_total": "0.00",
            "shipping_total": "0.00",
            "total_tax": _cents(tax),
            "total": _cents(subtotal + tax),
            "billing": {
                "country": COUNTRIES[_h(self.seed, i, 6) % len(COUNTRIES)],
                "city": "X",
            },
            "line_items": [
                {
                    "id": j + 1,
                    "product_id": pid,
                    "variation_id": 0,
                    "sku": f"SKU-{pid}",
                    "name": f"Product {pid}",
                    "quantity": q,
                    "price": _cents(p),
                    "total": _cents(q * p),
                    "subtotal": _cents(q * p),
                    "tax_class": "",
                }
                for j, (pid, q, p) in enumerate(lines)
            ],
        }

    def refunds(self, i: int) -> list[dict]:
        if not self.refunded(i):
            return []
        pid, _, price = self.lines(i)[0]
        return [
            {
                "amount": _cents(price),
                "line_items": [
                    {
                        "product_id": pid,
                        "variation_id": 0,
                        "quantity": 1,
                        "total": _cents(-price),
                    }
                ],
            }
        ]

    @staticmethod
    def product(p: int) -> dict:
        cats = [{"name": f"Cat{p % 7}"}] + ([{"name": "Sale"}] if p % 5 == 0 else [])
        return {"id": p, "categories": cats}

    # -- the transport -------------------------------------------------
    def _count(self, endpoint: str) -> None:
        if self.counters is not None:
            self.counters[endpoint].add(1)

    def __call__(self, path: str, params: dict) -> tuple[str, int]:
        if path == "orders":
            self._count("orders")
            lo = self.first_after(parse_iso(params["after"]))
            hi = self.visible
            if params.get("before"):
                hi = min(hi, self.first_after(parse_iso(params["before"]) - 1))
            n = max(0, hi - lo)
            per = min(int(params.get("per_page", 100)), 100)
            page = int(params.get("page", 1))
            first = lo + (page - 1) * per
            ids = range(first, min(first + per, hi))
            return json.dumps([self.order(i) for i in ids]), max(1, -(-n // per))
        if path == "products":
            self._count("products")
            ids = [int(x) for x in params["include"].split(",")]
            return json.dumps([self.product(p) for p in ids if 1 <= p <= N_PRODUCTS]), 1
        if path.startswith("orders/") and path.endswith("/refunds"):
            self._count("refunds")
            return json.dumps(self.refunds(int(path.split("/")[1]))), 1
        raise ValueError(f"unexpected path {path}")

    # -- the expected warehouse ----------------------------------------
    def expected_digest(self, n_orders: int) -> dict[str, tuple]:
        """Per order month, for orders ``0 .. n_orders - 1``:
        (orders, net cents, refund cents, items, quantity, refunded
        quantity) — what the warehouse must hold after loading them."""
        out: dict[str, list] = {}
        for i in range(n_orders):
            lines = self.lines(i)
            month = iso(self.created_s(i))[:7]
            d = out.setdefault(month, [0, 0, 0, 0, 0, 0])
            d[0] += 1
            d[1] += sum(q * p for _, q, p in lines)
            if self.refunded(i):
                d[2] += lines[0][2]
                d[5] += 1
            d[3] += len(lines)
            d[4] += sum(q for _, q, _ in lines)
        return {m: tuple(v) for m, v in out.items()}
