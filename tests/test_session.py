"""Session sizing: the default driver heap follows the host's RAM."""

from __future__ import annotations

import pytest

from pandas_db_sdk_spark.session import _driver_memory

GIB = 2**30


@pytest.mark.parametrize(
    "phys_bytes,want",
    [
        (16 * GIB, "8g"),  # half of RAM
        (15 * 10**9, "6g"),  # rounded down to whole GiB
        (96 * GIB, "48g"),  # big hosts keep the 48g cap
        (1024 * GIB, "48g"),
        (GIB, "1g"),  # never below 1g
    ],
)
def test_driver_memory_is_half_of_ram_capped(phys_bytes, want):
    assert _driver_memory(phys_bytes) == want
