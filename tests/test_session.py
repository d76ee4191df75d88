"""The session factory's host-derived defaults (pure helpers, no JVM)."""

from __future__ import annotations

from process_spark.session import driver_memory


def test_driver_memory_is_a_third_of_ram_capped_at_8g():
    # a 15.7 GB host gets 5g; a 64 GiB host keeps the 8g cap
    assert driver_memory(16_874_930_176) == "5g"
    assert driver_memory(64 * 2**30) == "8g"
