"""Display-timezone knob + logger factory (reference utils parity)."""

from __future__ import annotations

import pytest

from py_etl_pipeline_woocommerce_spark.functions.logging import get_logger
from py_etl_pipeline_woocommerce_spark.functions.timeutil import (
    app_tz,
    to_display_tz,
)


def test_app_tz_default_and_override(monkeypatch):
    monkeypatch.delenv("APP_TZ", raising=False)
    assert app_tz() == "Europe/Athens"
    monkeypatch.setenv("APP_TZ", "America/New_York")
    assert app_tz() == "America/New_York"


def test_to_display_tz_converts_at_render_boundary(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("2024-01-15 12:00:00",)], "ts_utc string"
    ).select(F.col("ts_utc").cast("timestamp").alias("ts"))
    # Athens is UTC+2 in January (no DST)
    out = df.select(
        F.date_format(to_display_tz(F.col("ts"), "Europe/Athens"), "HH:mm").alias("t")
    ).first()
    assert out["t"] == "14:00"


def test_to_display_tz_rejects_bad_zone(spark):
    from pyspark.sql import functions as F

    with pytest.raises(Exception):
        to_display_tz(F.col("ts"), "Not/AZone")


def test_get_logger_idempotent_handlers():
    a = get_logger("woo_test_logger")
    b = get_logger("woo_test_logger")
    assert a is b
    assert len(a.handlers) == 1


def test_get_spark_does_not_mutate_active_session_confs(spark):
    """Reusing an active session must not silently override its
    runtime-modifiable confs (timezone, broadcast threshold, AQE) —
    changing the timezone of a shared host session would alter
    timestamp results for the host's other workloads. Only an
    explicit ``extra_conf`` request may mutate a reused session."""
    from py_etl_pipeline_woocommerce_spark.session import get_spark

    original_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Chicago")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "12m")
    try:
        reused = get_spark("tz-guard-check")
        assert reused is spark
        assert (
            reused.conf.get("spark.sql.session.timeZone")
            == "America/Chicago"
        )
        assert (
            reused.conf.get("spark.sql.autoBroadcastJoinThreshold")
            == "12m"
        )
        # an explicit request still lands
        explicit = get_spark(
            "tz-guard-check",
            extra_conf={"spark.sql.session.timeZone": "UTC"},
        )
        assert explicit.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", original_tz)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
