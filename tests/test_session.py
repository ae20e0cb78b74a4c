"""Session defaults fit the host they run on."""

import os

from news_information_retrieval_system_spark.session import default_heap


def test_default_heap_fits_host():
    # -Xms = -Xmx commits the whole heap, so it must stay well inside RAM
    heap_mb = int(default_heap().removesuffix("m"))
    ram_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    assert 1024 <= heap_mb <= 16 << 10
    assert heap_mb <= max(1024, 0.4 * ram_mb)
