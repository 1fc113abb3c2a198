import os

import pytest

from crawlspark.session import get_spark


def _half_mem_total() -> str:
    """Half of the host's MemTotal as a JVM size (e.g. "7682m")."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2048}m"  # kB → MiB, halved
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# the session's 16g default driver heap outgrows a small host over a full
# suite run and gets the test JVM OOM-killed mid-run; an explicit setting wins
if "CRAWLSPARK_DRIVER_MEM" not in os.environ:
    os.environ["CRAWLSPARK_DRIVER_MEM"] = _half_mem_total()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="crawlspark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
