"""Session sizing: defaults come from the host, ``SPARK_GRAFT_*`` overrides win."""

from __future__ import annotations

import os

from openreviewcrawler_spark.session import host_cores, host_driver_memory, session_sizing


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1234 kB\n")
    return str(p)


def test_driver_memory_is_a_quarter_of_memtotal(tmp_path):
    assert host_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "4096m"
    assert host_driver_memory(_meminfo(tmp_path, 15_728_640)) == "3840m"


def test_driver_memory_floor_and_fallback(tmp_path):
    assert host_driver_memory(_meminfo(tmp_path, 2 * 1024 * 1024)) == "1024m"
    assert host_driver_memory(str(tmp_path / "absent")) == "1g"


def test_cores_follow_the_affinity_mask():
    assert host_cores() == len(os.sched_getaffinity(0))


def test_host_defaults_without_overrides():
    assert session_sizing({}) == (str(host_cores()), str(host_cores()), host_driver_memory())


def test_overrides_take_precedence():
    env = {"SPARK_GRAFT_CPUS": "3", "SPARK_GRAFT_DRIVER_MEM": "2g"}
    assert session_sizing(env) == ("3", "3", "2g")
    env["SPARK_GRAFT_SHUFFLE"] = "7"
    assert session_sizing(env) == ("3", "7", "2g")
