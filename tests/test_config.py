"""Driver heap sizing when SPARK_GRAFT_DRIVER_MEM is unset, and the
session settings every entry point applies."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import SparkSession

from fuzzycat_spark.config import (
    SESSION_CONF,
    default_driver_memory,
    get_spark,
    with_session_conf,
)

GB = 1 << 30


def test_driver_heap_is_a_quarter_of_a_small_host():
    # 15 GB host: a quarter leaves the rest for off-heap buffers and the
    # Python workers (a 32g heap here got the JVM OOM-killed)
    assert default_driver_memory(15 * GB) == "3840m"


def test_driver_heap_is_capped_on_a_large_host():
    assert default_driver_memory(256 * GB) == "32768m"


def test_driver_heap_has_a_floor():
    assert default_driver_memory(2 * GB) == "1024m"


def test_driver_heap_defaults_to_this_host():
    mb = int(default_driver_memory()[:-1])
    assert 1024 <= mb <= 32768


class _Built(Exception):
    """Raised in place of creating a session; carries the builder's
    options."""


@pytest.fixture
def built(monkeypatch):
    """SparkSession.Builder.getOrCreate raises _Built with the options the
    builder would create the session with."""

    def get_or_create(self):
        raise _Built(dict(self._options))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)


def _options(make) -> dict[str, str]:
    with pytest.raises(_Built) as e:
        make()
    return e.value.args[0]


def _run_job(module, monkeypatch, *argv):
    monkeypatch.setattr(sys, "argv", [module.__name__, *argv])
    module.main()


def test_every_session_builder_applies_the_session_settings(built, monkeypatch, tmp_path):
    """get_spark and the session builders of both jobs go through the one
    settings set; get_spark's extra_conf still overrides it."""
    from jobs import dedup_job, stream_dedup_job

    assert SESSION_CONF["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    assert int(SESSION_CONF["spark.sql.codegen.cache.maxEntries"]) >= 1000
    builders = {
        "get_spark": get_spark,
        "dedup_job": lambda: _run_job(
            dedup_job, monkeypatch, "--input", "in", "--output", "out", "--checkpoint", "ck"
        ),
        "stream_dedup_job": lambda: _run_job(
            stream_dedup_job, monkeypatch, "--state", str(tmp_path), "--compact-only"
        ),
    }
    for name, make in builders.items():
        opts = _options(make)
        assert {k: opts.get(k) for k in SESSION_CONF} == SESSION_CONF, name
    key = "spark.sql.codegen.cache.maxEntries"
    assert _options(lambda: get_spark(extra_conf={key: "7"}))[key] == "7"


def test_a_launcher_setting_wins(built, monkeypatch):
    """A key the launcher set (spark-submit --conf) is left to the
    launcher's value; the other settings still apply."""
    from fuzzycat_spark import config

    key = "spark.sql.codegen.cache.maxEntries"
    monkeypatch.setattr(config, "launcher_conf", lambda: {key: "50"})
    opts = _options(lambda: with_session_conf(SparkSession.builder).getOrCreate())
    assert opts == {k: v for k, v in SESSION_CONF.items() if k != key}
