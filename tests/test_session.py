"""Session defaults, checked without starting a JVM."""

from exome_qc_library_spark.session import default_driver_memory


def test_default_driver_memory_fits_host(monkeypatch):
    """The default heap stays below host memory (a fixed 48g heap on a
    15 GiB host got the JVM OOM-killed); ``SPARK_GRAFT_DRIVER_MEM`` wins."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem = default_driver_memory()
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) * 1024 < total_kib
    assert int(mem[:-1]) <= 48 * 1024
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
