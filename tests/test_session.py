"""Session factory defaults (sparkcrawl/session.py)."""

import os

from sparkcrawl.session import default_driver_memory


def test_default_driver_memory_fits_the_host():
    """The driver heap defaults to 16g, or half of physical memory when
    that is less, so a default local session cannot outgrow the host."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    got = default_driver_memory()
    assert got.endswith("m")
    assert 0 < int(got[:-1]) == min(16 << 10, ram_mb // 2)
