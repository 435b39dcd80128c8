"""``session.get_spark``'s defaults that a caller's ``extra_conf`` can
override: per-call call-site capture is off unless asked for; and the
Spark defaults the session relies on without setting them."""

from __future__ import annotations

from web_analytics_visits_re_processing_spark import session

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_call_site_capture_off_by_default(spark):
    assert spark.conf.get(DEBUGGING) == "false"


def test_extra_conf_turns_call_site_capture_back_on(spark, monkeypatch):
    """The session is running, so ``get_spark`` builds through
    ``_get_or_create``; the conf it passes there is the one a new
    session would start with."""
    seen = []
    monkeypatch.setattr(
        session, "_get_or_create", lambda app_name, master, conf: seen.append(conf) or spark
    )
    session.get_spark(app_name="conf-test")
    session.get_spark(app_name="conf-test", extra_conf={DEBUGGING: "true"})
    assert [conf[DEBUGGING] for conf in seen] == ["false", "true"]


def test_session_keeps_sparks_aqe_and_file_split_defaults(spark):
    """AQE with partition coalescing and skew-join splitting, and
    128 MB file splits, are Spark's defaults; ``get_spark`` leaves them
    as they are."""
    keys = [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.files.maxPartitionBytes",
    ]
    assert [spark.conf.get(k) for k in keys] == ["true", "true", "true", "134217728b"]
