"""Driver heap sizing: ``get_spark`` defaults ``spark.driver.memory`` to a
quarter of the host's memory (RAM or cgroup limit), capped at 48g, and
``$SPARK_GRAFT_DRIVER_MEM`` overrides it verbatim."""

from __future__ import annotations

from bigdata_kafka_2_spark import session
from bigdata_kafka_2_spark.operators.dedup import _jvm_size_bytes
from bigdata_kafka_2_spark.session import (
    default_driver_memory,
    host_memory_bytes,
)

GIB = 1 << 30


def test_default_is_a_quarter_of_host_memory():
    assert default_driver_memory(16 * GIB) == "4096m"
    # whole MiB, rounded down: a 15.7 GiB host gets -Xmx4017m
    assert default_driver_memory(16_851_337_216) == "4017m"
    assert _jvm_size_bytes(default_driver_memory(16_851_337_216)) <= (
        16_851_337_216 // 4
    )


def test_default_caps_at_48g():
    assert default_driver_memory(256 * GIB) == "49152m"
    assert _jvm_size_bytes(default_driver_memory(192 * GIB)) == 48 * GIB
    assert _jvm_size_bytes(default_driver_memory(1 << 50)) == 48 * GIB


def test_unknown_host_memory_keeps_48g():
    assert default_driver_memory(None) == "48g"
    assert host_memory_bytes(None, [None, "max\n", "garbage"]) is None


def test_cgroup_limit_below_ram_wins():
    assert host_memory_bytes(64 * GIB, [f"{8 * GIB}\n"]) == 8 * GIB
    # the smallest of several binding limits (own and enclosing cgroups)
    assert host_memory_bytes(
        64 * GIB, [f"{16 * GIB}\n", f"{6 * GIB}\n"]
    ) == 6 * GIB
    # a limit above RAM does not raise it
    assert host_memory_bytes(8 * GIB, [f"{64 * GIB}\n"]) == 8 * GIB
    # a limit alone still sizes the heap when RAM is unreadable
    assert host_memory_bytes(None, [f"{8 * GIB}\n"]) == 8 * GIB


def test_unlimited_or_unreadable_cgroup_is_ignored():
    ram = 16 * GIB
    # v2 "max", an unreadable file, junk, and v1's "no limit" value
    assert host_memory_bytes(
        ram, ["max\n", None, "", "garbage", "9223372036854771712\n"]
    ) == ram
    assert host_memory_bytes(ram) == ram


def test_env_override_wins_verbatim(monkeypatch):
    monkeypatch.setattr(session, "_read_host_memory_bytes", lambda: 16 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "70000m")
    assert session._driver_memory() == "70000m"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session._driver_memory() == "4096m"


def test_live_session_heap_fits_the_host(spark):
    host = session._read_host_memory_bytes()
    jvm_max = int(
        spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    )
    # the JVM was launched with the sized heap (G1 then rounds -Xmx up
    # to its region size, so maxMemory may exceed the conf by < 32 MiB)
    assert spark.sparkContext.getConf().get(
        "spark.driver.memory"
    ) == session._driver_memory()
    assert jvm_max > 0
    if host is not None:
        assert jvm_max <= host
