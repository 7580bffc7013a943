"""The display-timezone knob and the ns→µs timestamp floor.

Parity with the reference's ``utils/time.py:1-6`` (``APP_TZ`` env
var), on stdlib ``zoneinfo`` instead of pendulum. The reference's
UTC-now and lookback helpers live where the lookback is used,
``sources.state.WatermarkStore.get_since``.

The engine itself stays UTC-everywhere — every stored timestamp,
watermark, and oracle comparison is UTC (``catalog.load_table`` pins
``spark.sql.session.timeZone=UTC``); ``app_tz`` / ``to_display_tz``
exist only for the presentation boundary, exactly how the reference
uses ``APP_TZ`` for dashboard display. Converting storage or
aggregation to a local zone would break date-bucket determinism
across engines (DST makes local day buckets 23/25 hours long).
"""

from __future__ import annotations

import os
from zoneinfo import ZoneInfo

from pyspark.sql import Column
from pyspark.sql import functions as F

#: mirror of reference ``utils/time.py:6`` (same default)
DEFAULT_APP_TZ = "Europe/Athens"


#: epoch-ns BIGINT -> epoch-us as a TRUE floor (SQL expr over a
#: column named ``ts``): plain ``ts div 1000`` truncates toward zero,
#: which for a pre-1970 timestamp with genuine sub-us residue lands
#: one us ABOVE the floor and can flip a window/session boundary
#: against an epoch_us oracle. EVERY oracle derives t_us as
#: epoch_us(ts) (exact microseconds = the floor), so every ns->us
#: conversion engine-side uses this constant; only the DAY-INDEX
#: layer on top (``t_us div DAY_US`` / ``%``) keeps trunc semantics,
#: matching the oracles' ``//`` and ``%`` on both engines.
TS_US_FLOOR = "(ts - pmod(ts, 1000)) div 1000"


def app_tz() -> str:
    """The configured display timezone (``APP_TZ`` env, IANA name)."""
    return os.getenv("APP_TZ", DEFAULT_APP_TZ)


def to_display_tz(col: Column, tz: str | None = None) -> Column:
    """Convert a UTC timestamp column to the display timezone — the
    last step before rendering, never before aggregation.

    ``from_utc_timestamp`` is a JVM-side expression (no UDF); the zone
    is validated eagerly so a bad ``APP_TZ`` fails at plan-build time
    with a clear message instead of mid-job.
    """
    zone = tz or app_tz()
    ZoneInfo(zone)  # raises ZoneInfoNotFoundError on bad names
    return F.from_utc_timestamp(col, zone)
