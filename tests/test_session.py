"""Session defaults derive from the host unless the environment pins them."""

import os

from tsflex_spark.session import _MAX_DRIVER_MEM_MB, host_defaults


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_host_defaults_from_host(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = host_defaults(_meminfo(tmp_path, 16 * 1024 * 1024))  # 16 GB
    assert cpus == str(len(os.sched_getaffinity(0)))
    assert mem == "4096m"  # a quarter of MemTotal
    # capped on big hosts, floored on tiny ones
    assert host_defaults(_meminfo(tmp_path, 512 * 1024 * 1024))[1] == f"{_MAX_DRIVER_MEM_MB}m"
    assert host_defaults(_meminfo(tmp_path, 2 * 1024 * 1024))[1] == "1024m"
    # unreadable meminfo still yields a bounded heap
    assert host_defaults(str(tmp_path / "missing"))[1] == "4096m"


def test_host_defaults_env_wins(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert host_defaults(_meminfo(tmp_path, 16 * 1024 * 1024)) == ("3", "2g")
