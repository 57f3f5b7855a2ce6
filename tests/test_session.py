"""Session defaults that depend on the host."""

from rio_color_spark import session


def _host(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)


def test_default_driver_memory_is_half_of_physical(monkeypatch):
    _host(monkeypatch, 15)
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"


def test_default_driver_memory_caps_at_48g(monkeypatch):
    _host(monkeypatch, 256)
    assert session.default_driver_memory() == f"{48 * 1024}m"
