"""Session defaults derived from the host."""

from __future__ import annotations

import pytest

from hbase_increment_index_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    "phys, want",
    [
        (15 * GIB + 123 * 2**20, "7g"),  # a 15 GB host: half, rounded down
        (64 * GIB, "32g"),
        (GIB, "1g"),  # never below 1g
        (512 * 2**20, "1g"),
    ],
)
def test_default_driver_memory_is_half_the_host(monkeypatch, phys, want):
    page = 4096
    sysconf = {"SC_PHYS_PAGES": phys // page, "SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    assert session._default_driver_memory() == want
