"""Default driver heap sizing in ``session.driver_memory``; starts no Spark."""

from __future__ import annotations

import os

import pytest

from scabillmatch_spark import session

GIB = 1 << 30


def _bytes(spark_size: str) -> int:
    unit = {"m": 1 << 20, "g": GIB}[spark_size[-1]]
    return int(spark_size[:-1]) * unit


def test_default_heap_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert _bytes(session.driver_memory()) <= host


@pytest.mark.parametrize(
    "host_bytes, expected",
    [
        (256 * GIB, "48g"),
        (80 * GIB, "48g"),
        (16 * GIB, "9830m"),
        (None, "48g"),  # memory not reported: the documented default
    ],
)
def test_default_heap_is_48g_capped_by_host_memory(monkeypatch, host_bytes, expected):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: host_bytes)
    assert session.driver_memory() == expected


def test_explicit_driver_memory_is_used_as_given(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setattr(session, "_host_memory_bytes", lambda: 1 * GIB)
    assert session.driver_memory() == "3g"
