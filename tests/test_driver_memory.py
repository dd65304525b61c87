"""The driver-memory default fits the machine it runs on."""

from __future__ import annotations

import os

from iceberg_evaluation_spark.session import default_driver_memory

GB = 1 << 30


def _machine(monkeypatch, phys_bytes):
    page = 4096
    vals = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: vals[name])


def test_half_of_physical_memory_on_a_small_machine(monkeypatch):
    _machine(monkeypatch, 16 * GB)
    assert default_driver_memory() == "8192m"


def test_capped_at_48g_on_a_large_machine(monkeypatch):
    _machine(monkeypatch, 256 * GB)
    assert default_driver_memory() == f"{48 * 1024}m"


def test_48g_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", missing)
    assert default_driver_memory() == "48g"
