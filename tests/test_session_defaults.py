"""get_spark's host-sized JVM heap default, checked without Spark."""

from __future__ import annotations

import os

import pytest

from propius_spark.session import driver_memory

GIB = 1 << 30


@pytest.mark.parametrize("ram_bytes, expected", [
    (15 * GIB + (600 << 20), "7g"),  # a 15 GiB host no longer asks for 24g
    (48 * GIB, "24g"),  # capped at the old default
    (64 * GIB, "24g"),
    (GIB, "1g"),  # never below 1g
])
def test_default_is_half_of_ram_capped(monkeypatch, ram_bytes, expected):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("PROPIUS_DRIVER_MEM", raising=False)
    assert driver_memory() == expected


def test_env_overrides_default(monkeypatch):
    monkeypatch.setenv("PROPIUS_DRIVER_MEM", "2g")
    assert driver_memory() == "2g"
