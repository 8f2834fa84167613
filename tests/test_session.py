"""Session factory defaults: sized to the machine, debugging conf off."""

import os

import pytest

from etherscan_contract_crawler_spark.session import default_driver_memory, machine_cpus


def test_machine_cpus_is_the_affinity_mask():
    assert machine_cpus() == len(os.sched_getaffinity(0)) >= 1


@pytest.mark.parametrize(
    "mem_kib, heap",
    [
        (64 << 20, "16g"),  # a quarter of 64 GiB
        (15 << 20, "4g"),  # a quarter is 3.75 GiB: the 4g floor
        (2 << 20, "4g"),
        ((33 << 20) + 123, "8g"),  # rounds down to whole GiB
    ],
)
def test_default_driver_memory_is_a_quarter_of_memtotal(tmp_path, mem_kib, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemFree:         1024 kB\nMemTotal:       {mem_kib} kB\n")
    assert default_driver_memory(str(meminfo)) == heap


def test_default_driver_memory_needs_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:         1024 kB\n")
    with pytest.raises(ValueError, match="MemTotal"):
        default_driver_memory(str(meminfo))


def test_session_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
