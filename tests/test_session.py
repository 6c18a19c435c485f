"""The driver-heap default in session.py, checked without starting Spark."""

import os

import pytest

from rust_chunking_spark import session

MiB = 2**20


def _mib(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


@pytest.fixture
def no_env(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_default_is_at_most_half_host_memory_and_48g(no_env):
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mem = session._driver_mem()
    assert mem == session._default_driver_mem()
    assert 0 < _mib(mem) <= phys // 2 // MiB
    assert _mib(mem) <= 48 * 1024


def test_smaller_cgroup_limit_lowers_default(no_env, monkeypatch):
    monkeypatch.setattr(session, "_cgroup_memory_max", lambda: 2 * 2**30)
    assert session._driver_mem() == "1024m"


def test_cgroup_reader(tmp_path, monkeypatch):
    f = tmp_path / "memory.max"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(f))
    assert session._cgroup_memory_max() is None          # file absent
    f.write_text("max\n")
    assert session._cgroup_memory_max() is None          # no limit
    f.write_text("4294967296\n")
    assert session._cgroup_memory_max() == 4 * 2**30


def test_default_capped_at_48g(no_env, monkeypatch):
    monkeypatch.setattr(session, "_available_memory", lambda: 512 * 2**30)
    assert session._driver_mem() == "49152m"


@pytest.mark.parametrize("size,expected", [
    ("3g", 3 * 2**30), ("8046m", 8046 * MiB), ("512", 512 * MiB),
    ("2GB", 2 * 2**30), ("1t", 2**40), ("lots", None)])
def test_spark_size_bytes(size, expected):
    assert session._spark_size_bytes(size) == expected


def test_explicit_value_passes_through_verbatim(monkeypatch, recwarn):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setattr(session, "_available_memory", lambda: 16 * 2**30)
    assert session._driver_mem() == "3g"
    assert not [w for w in recwarn if "SPARK_DRIVER_MEM" in str(w.message)]


def test_oversized_explicit_value_warns_and_is_kept(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "48g")
    monkeypatch.setattr(session, "_available_memory", lambda: 16 * 2**30)
    with pytest.warns(UserWarning, match="SPARK_DRIVER_MEM=48g"):
        assert session._driver_mem() == "48g"
