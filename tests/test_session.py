"""Session factory defaults that need no running Spark."""

from __future__ import annotations

import os

from credigraph_spark.session import default_master


def test_default_master_is_the_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert default_master() == "local[3]"


def test_default_master_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_master() == "local[6]"
