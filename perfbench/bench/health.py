"""Host-health gauges taken before and after every run.

A shared host can slow a virtual machine down in two independent ways
that the guest's load gauges do not show: it deschedules the vCPUs (integer
throughput drops) or it delivers fresh memory pages slowly (first-touch
and page-cache writes crawl while the burn reads healthy). A run whose
gauges read low is a run measured on a sick host.
"""
import mmap
import time


def burn(seconds=0.4):
    """Calibration burn: 1M-iteration Python loops completed per second."""
    loops = 0
    t0 = time.perf_counter()
    while True:
        x = 0
        for i in range(100_000):
            x += i
        loops += 1
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return loops / 10 / dt


def fresh_pages(mb=128):
    """First-touch delivery of anonymous memory, MB/s."""
    buf = mmap.mmap(-1, mb << 20)
    try:
        t0 = time.perf_counter()
        for off in range(0, mb << 20, 4096):
            buf[off] = 1
        return mb / (time.perf_counter() - t0)
    finally:
        buf.close()


def probe():
    return {"burn_loops_per_s": burn(), "fresh_pages_mb_per_s": fresh_pages()}
