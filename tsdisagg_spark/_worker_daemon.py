"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

Spark puts ``pyspark.zip``, py4j's zip and the spark-core jar at the head of
the workers' ``PYTHONPATH``, ahead of site-packages.  Every Python task calls
``importlib.invalidate_caches()``, which makes each ``zipimporter`` re-read
its archive's central directory: about 27k records per task on CPython 3.11,
0.09-0.27 s against a 1 ms task body.  Run as ``__main__``, this module drops
those archives when the installed pyspark and py4j can stand in for them,
then execs ``python -m pyspark.daemon`` with the same arguments; the exec
keeps the pid, the stdio handshake with the JVM and the ``pyspark.daemon``
command line.  It imports neither pyspark nor py4j, which is why it lives
outside ``tsdisagg_spark.spark``.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")


def _version_text(entry: str) -> bytes | None:
    """``pyspark/version.py`` on one path entry, an archive or a directory."""
    try:
        if entry.endswith(_ARCHIVES):
            with zipfile.ZipFile(entry) as zf:
                return zf.read("pyspark/version.py")
        with open(os.path.join(entry, "pyspark", "version.py"), "rb") as fh:
            return fh.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def worker_pythonpath(entries: list[str], search: list[str]) -> list[str]:
    """The workers' ``PYTHONPATH`` entries.

    Spark's archives are the leading ``.zip``/``.jar`` run of ``entries``.
    They are dropped when ``pyspark`` and ``py4j`` both resolve on the
    remaining entries followed by ``search`` (the interpreter's own path)
    and that pyspark's ``pyspark/version.py`` reads the same as the one in
    the archives.  Otherwise ``entries`` come back unchanged.
    """
    n = next((i for i, e in enumerate(entries) if not e.endswith(_ARCHIVES)), len(entries))
    archives, rest = entries[:n], entries[n:]
    path = [p for p in (*rest, *search) if not p.endswith(_ARCHIVES)]
    pyspark = PathFinder.find_spec("pyspark", path)
    if (
        not archives
        or pyspark is None
        or pyspark.origin is None
        or PathFinder.find_spec("py4j", path) is None
    ):
        return entries
    installed = _version_text(os.path.dirname(os.path.dirname(pyspark.origin)))
    shipped = next(filter(None, map(_version_text, archives)), None)
    return rest if installed is not None and installed == shipped else entries


if __name__ == "__main__":
    entries = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    kept = worker_pythonpath(entries, [p for p in sys.path if p not in entries])
    if kept != entries:
        os.environ["PYTHONPATH"] = os.pathsep.join(kept)
    os.execv(sys.executable, [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]])
