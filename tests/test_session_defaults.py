"""The session builder's defaults fit the host it runs on: master
parallelism at most the CPU count, driver memory at most MemTotal."""

import os
import re

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("no MemTotal in /proc/meminfo")


def test_session_defaults_fit_the_host(spark):
    master = spark.sparkContext.master
    m = re.fullmatch(r"local\[(\d+)\]", master)
    assert m, master
    assert 1 <= int(m.group(1)) <= os.cpu_count()

    mem = spark.sparkContext.getConf().get("spark.driver.memory").lower()
    m = re.fullmatch(r"(\d+)([kmgt])b?", mem)
    assert m, mem
    assert int(m.group(1)) * _UNITS[m.group(2)] <= _mem_total_bytes()
