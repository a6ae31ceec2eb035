"""Session defaults that do not need a running Spark."""

from tsdisagg_spark.spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    path = tmp_path / "meminfo"
    path.write_text(text)
    return str(path)


def test_driver_memory_is_half_of_memtotal(tmp_path):
    info = "MemTotal:       15728640 kB\nMemFree:        14000000 kB\n"
    assert default_driver_memory(_meminfo(tmp_path, info)) == "7680m"


def test_driver_memory_is_clamped(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: 1048576 kB\n")) == "1024m"
    assert default_driver_memory(_meminfo(tmp_path, "MemTotal: 268435456 kB\n")) == "16384m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"
    assert default_driver_memory(_meminfo(tmp_path, "MemFree: 1 kB\n")) == "4g"


def test_env_override_wins(tmp_path, monkeypatch):
    """SPARK_GRAFT_DRIVER_MEM, when set, is what get_spark passes as the
    local driver heap."""
    import tsdisagg_spark.spark.session as session

    seen = {}

    class Builder:
        def __getattr__(self, name):
            return lambda *a, **k: self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return seen

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.get_spark(master="local[1]")["spark.driver.memory"] == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.get_spark(master="local[1]")["spark.driver.memory"] == session.default_driver_memory()
