"""Host-derived driver heap (session.py): the default follows the RAM
the host has free, and a heap that cannot fit fails loudly, naming the
heap and the host RAM — never a bare JVM start-up error."""

import pytest

from data_validation_spark import session


def _host(monkeypatch, **mem):
    monkeypatch.setattr(session, "_meminfo_mb", lambda: dict(mem))


def test_default_heap_is_a_share_of_available_ram(monkeypatch):
    _host(monkeypatch, MemTotal=16_000, MemAvailable=15_000)
    assert session._default_driver_mem() == "5000m"
    _host(monkeypatch, MemAvailable=1_500)
    assert session._default_driver_mem() == "1024m"       # floor
    _host(monkeypatch, MemAvailable=512_000)
    assert session._default_driver_mem() == "24576m"      # cap


@pytest.mark.parametrize("size,mb", [("6g", 6144), ("4096m", 4096),
                                     ("2097152k", 2048), ("1G", 1024)])
def test_heap_size_parsing(size, mb):
    assert session._heap_mb(size) == mb


def test_heap_larger_than_free_ram_fails_loud(monkeypatch):
    _host(monkeypatch, MemTotal=16_000, MemAvailable=15_000)
    session._check_heap("6g")
    with pytest.raises(RuntimeError,
                       match=r"driver heap 24g.*MemTotal=16000 MB, "
                             r"MemAvailable=15000 MB"):
        session._check_heap("24g")
