"""get_spark's default driver heap: half the host's RAM, 1g to 64g."""

from __future__ import annotations

import os

import pytest

from blacklab_spark import session


@pytest.mark.parametrize("ram_gib,want", [
    (16, "8g"), (1, "1g"), (0.5, "1g"), (15.7, "7g"), (512, "64g")])
def test_default_driver_mem_is_half_the_ram(monkeypatch, ram_gib, want):
    pages = int(ram_gib * 2**30) // 4096
    monkeypatch.setattr(os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": pages}[name])
    assert session._default_driver_mem() == want


def test_default_driver_mem_without_sysconf(monkeypatch):
    def fail(name):
        raise ValueError(name)
    monkeypatch.setattr(os, "sysconf", fail)
    assert session._default_driver_mem() == "64g"
