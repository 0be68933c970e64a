"""Driver-memory parsing and heap pre-sizing in session.py (no Spark
session needed): sizes are read the way Spark's byteStringAs reads
``spark.driver.memory``, and the -Xms/-Xmn pre-size is dropped rather
than handed to a JVM that cannot map it."""

from __future__ import annotations

import pytest

from automatic_data_validator_spark.session import (
    _default_driver_mem,
    _driver_java_options,
    _mem_mb,
)


@pytest.mark.parametrize(
    "size, mb",
    [
        ("4gb", 4096),
        ("4g", 4096),
        ("512mb", 512),
        ("512m", 512),
        ("2048", 2048),  # bare number = MiB, as in spark.driver.memory
        ("48g", 48 * 1024),
        (" 2G ", 2048),
        ("1t", 1024 * 1024),
        ("1048576k", 1024),
        ("1048576kb", 1024),
        ("2097152b", 2),
    ],
)
def test_mem_mb_parses_spark_byte_strings(size, mb):
    assert _mem_mb(size) == mb


@pytest.mark.parametrize("size", ["garbage", "", "1.5g", "-2g", "4 gb", "512k"])
def test_mem_mb_rejects_what_spark_rejects_or_sub_mib(size):
    assert _mem_mb(size) is None


def test_benchmark_heap_keeps_its_jvm_flags():
    assert _driver_java_options("2g", 15 * 1024) == (
        "-XX:+UseParallelGC -Xms2048m -Xmn682m"
    )


def test_presize_dropped_when_unparseable_or_above_ram():
    assert _driver_java_options("garbage", 15 * 1024) == "-XX:+UseParallelGC"
    assert _driver_java_options("48g", 15 * 1024) == "-XX:+UseParallelGC"
    # unknown RAM: nothing to compare against, keep the pre-size
    assert "-Xms49152m" in _driver_java_options("48g", None)


def test_tiny_heap_clamps_young_gen():
    assert _driver_java_options("2m", 15 * 1024) == (
        "-XX:+UseParallelGC -Xms2m -Xmn1m"
    )
    assert _driver_java_options("2048", 15 * 1024).endswith("-Xms2048m -Xmn682m")


def test_default_driver_mem_fits_the_host():
    assert _default_driver_mem(15 * 1024) == f"{15 * 1024 * 6 // 10}m"
    assert _default_driver_mem(512 * 1024) == f"{48 * 1024}m"
    assert _default_driver_mem(None) == "48g"
    # the default always leaves the pre-size in place
    assert "-Xms" in _driver_java_options(_default_driver_mem(15 * 1024), 15 * 1024)
