"""Session sizing fits the host: ``local[N]`` from the CPU affinity mask
and the driver heap from physical memory, unless the environment says
otherwise."""

from __future__ import annotations

import os

from vat_etl_spark.session import _sizing


def test_sizing_derives_from_host_and_honours_overrides():
    cpus, heap = _sizing(None, None)
    assert cpus == len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    assert heap.endswith("g") and 1 <= int(heap[:-1]) <= max(1, min(16, mem_gb / 2))
    assert _sizing("3", "5g") == (3, "5g")
