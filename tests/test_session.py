"""Session defaults follow the host when the environment leaves them
unset. No Spark session is started here."""

from __future__ import annotations

import importlib
import os

from flink_1_11_2_with_comments_spark import session


def test_driver_mem_is_three_quarters_of_host_within_bounds():
    gib = 2**20  # KiB per GiB
    assert session.driver_mem(16 * gib) == "12g"
    assert session.driver_mem(15 * gib + 741_000) == "11g"
    assert session.driver_mem(64 * gib) == "16g"
    assert session.driver_mem(gib) == "1g"
    assert session.driver_mem(0) == "1g"
    assert session.host_mem_total_kib() > 0


def test_cpus_default_to_host_unless_set(monkeypatch):
    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        assert importlib.reload(session).CPUS == str(
            len(os.sched_getaffinity(0)))
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(session).CPUS == "3"
    finally:
        monkeypatch.undo()
        importlib.reload(session)


def test_shuffle_width_is_core_count_without_floor():
    assert session.shuffle_width("4") == "4"
    assert session.shuffle_width("1") == "1"
    assert session.shuffle_width("32") == "32"
    assert session.shuffle_width("*") == str(len(os.sched_getaffinity(0)))
