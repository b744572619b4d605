"""Session sizing follows the host it runs on."""

from logstash_filter_elastic_integration_spark.session import (
    default_driver_memory)


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    mb = int(default_driver_memory().removesuffix("m"))
    assert mb <= 16 * 1024
    assert mb <= max(total_mb // 2, 1024)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
