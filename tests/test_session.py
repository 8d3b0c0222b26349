"""The session factory's machine-sized defaults."""

from __future__ import annotations

import pytest

from javascript_vector_database_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "meminfo, want",
    [
        # a 15 GB machine: half of MemTotal, not 24g
        ("MemTotal:       15728640 kB\nMemFree: 1 kB\n", "7680m"),
        # a 128 GB machine: capped at 24g
        ("MemFree: 1 kB\nMemTotal:  134217728 kB\n", "24576m"),
        # unreadable: 24g
        ("garbage\n", "24576m"),
        (None, "24576m"),
    ],
    ids=["half", "cap", "garbage", "missing"],
)
def test_default_driver_memory(tmp_path, meminfo, want):
    path = tmp_path / "meminfo"
    if meminfo is not None:
        path.write_text(meminfo)
    assert default_driver_memory(str(path)) == want
