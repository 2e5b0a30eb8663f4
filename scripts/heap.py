"""Driver heap for the scripts' local-mode Spark sessions."""

from __future__ import annotations

import os


def driver_memory() -> str:
    """Half of physical memory (MemTotal), at least 1 GiB, as a Spark
    size: in local mode the driver JVM is also the executor, and the
    other half is left to the Python workers and the page cache."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2**31)}g"
