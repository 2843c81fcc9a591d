"""``get_spark``'s defaults come from the host: the driver heap is half
of MemTotal, at most 48g (a fixed 48g let three sessions on a 15 GB
host grow until the kernel killed a JVM), and the default master uses
the process's CPUs."""

from __future__ import annotations

import pytest

from seekstorm_spark.session import default_cpus, default_driver_memory


def _meminfo(tmp_path, kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n"
    )
    return str(p)


@pytest.mark.parametrize(
    "kb, want",
    [
        (16_000_000, "7812m"),  # a 15 GB host: half of it
        (4 * 1024 * 1024, "2048m"),
        (96 * 1024 * 1024, "48g"),  # exactly 2 × 48g: the cap
        (512 * 1024 * 1024, "48g"),
    ],
)
def test_default_is_half_the_host_at_most_48g(tmp_path, kb, want):
    assert default_driver_memory(_meminfo(tmp_path, kb)) == want


def test_default_without_meminfo_is_48g(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "48g"
    bad = tmp_path / "meminfo"
    bad.write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(bad)) == "48g"


def test_get_spark_applies_the_default_and_driver_listing(spark):
    """The session takes SPARK_DRIVER_MEM, else the bounded default,
    and lists a 64-bucket table's leaf dirs on the driver (no
    listing job)."""
    import os

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.memory") == (
        os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    )
    assert int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    ) > 64


def test_default_cpus_is_the_process_cpu_count(monkeypatch):
    """Without ``SPARK_GRAFT_CPUS`` the default master is local[N] for
    the CPUs this process may run on, not a fixed 32."""
    import os

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
