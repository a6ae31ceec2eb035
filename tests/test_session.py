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


def _tree(root, files):
    for name, text in files.items():
        path = root / name
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    return str(root)


def _zip(path, files):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _worker_path(tmp_path, installed):
    """Spark's archives ahead of a package directory on PYTHONPATH, and a
    site directory holding ``installed`` on the search path; returns the
    PYTHONPATH entries and :func:`worker_pythonpath`'s answer."""
    from tsdisagg_spark._worker_daemon import worker_pythonpath

    shipped = {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n"}
    entries = [
        _zip(tmp_path / "pyspark.zip", shipped),
        _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark-core.jar", {"META-INF/MANIFEST.MF": ""}),
        _tree(tmp_path / "pkg", {"mypkg/__init__.py": ""}),
    ]
    search = [_tree(tmp_path / "site", installed)]
    return entries, worker_pythonpath(entries, search)


def test_worker_path_drops_archives_for_matching_install(tmp_path):
    entries, kept = _worker_path(tmp_path, {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__: str = '4.1.2'\n",
        "py4j/__init__.py": "",
    })
    assert kept == entries[3:]


def test_worker_path_keeps_archives_without_installed_pyspark(tmp_path):
    entries, kept = _worker_path(tmp_path, {"py4j/__init__.py": ""})
    assert kept == entries


def test_worker_path_keeps_archives_on_version_mismatch(tmp_path):
    entries, kept = _worker_path(tmp_path, {
        "pyspark/__init__.py": "",
        "pyspark/version.py": "__version__: str = '4.0.0'\n",
        "py4j/__init__.py": "",
    })
    assert kept == entries
