"""``session.get_spark``'s driver-memory default: derived from the host's
``MemTotal`` so a local run cannot grow the driver past the machine."""

from __future__ import annotations

import pytest

from artigraph_spark.session import default_driver_memory


@pytest.mark.parametrize(
    ("mem_total_kb", "want"),
    [
        (16_456_384, "6g"),  # a 15.7 GiB host: 40% is 6.28 GiB
        (64 * 1024 * 1024, "25g"),
        (1024 * 1024, "1g"),  # never below 1g
        (512 * 1024 * 1024, "90g"),  # capped at the former fixed default
    ],
)
def test_driver_memory_is_a_share_of_mem_total(tmp_path, mem_total_kb, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kb} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_unreadable_meminfo_keeps_the_cap(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "90g"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemFree: 12 kB\n")
    assert default_driver_memory(str(garbled)) == "90g"
