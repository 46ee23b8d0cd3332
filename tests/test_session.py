"""Driver heap sizing: the session must start on whatever host runs it."""

from __future__ import annotations

import os

import pytest

from videos_to_tfrecords_spark import session


def _physical_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_default_heap_fits_physical_memory(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for pretouch in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_JVM_PRETOUCH", pretouch)
        mem, opts = session.driver_jvm_settings()
        heap = session._to_bytes(mem)
        assert 0 < heap <= session.host_memory_bytes() <= _physical_bytes()
        assert opts == ("" if pretouch == "0" else f"-Xms{mem} -XX:+AlwaysPreTouch")


def test_pinned_benchmark_env_keeps_conf(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    monkeypatch.setenv("SPARK_GRAFT_JVM_PRETOUCH", "0")
    assert session.driver_jvm_settings() == ("6g", "")


def test_oversized_pretouch_fails_clearly(monkeypatch):
    too_big = f"{(_physical_bytes() >> 30) + 1}g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", too_big)
    monkeypatch.setenv("SPARK_GRAFT_JVM_PRETOUCH", "1")
    with pytest.raises(RuntimeError, match="SPARK_GRAFT_JVM_PRETOUCH=0"):
        session.driver_jvm_settings()
    # without the pre-touch the override is passed through as given
    monkeypatch.setenv("SPARK_GRAFT_JVM_PRETOUCH", "0")
    assert session.driver_jvm_settings() == (too_big, "")


@pytest.mark.parametrize("size, want", [("6g", 6 << 30), ("7680m", 7680 << 20), ("1024", 1024)])
def test_jvm_size_parsing(size, want):
    assert session._to_bytes(size) == want
