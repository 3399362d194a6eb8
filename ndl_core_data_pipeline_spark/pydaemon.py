"""Python worker daemon that runs PySpark from the installed package.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``sys.path``. A
worker forked from it imports PySpark from the zip, compiled from source
with no bytecode cache, and ``pyspark.worker_util`` calls
``importlib.invalidate_caches()`` at the start of every task, which makes
each zip importer cached for those archives re-read its archive's central
directory (the jar alone has 5,359 entries; 0.12 s per task with 16
importers on Python 3.11).

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Before it imports ``pyspark.daemon`` it drops Spark's archives from
``sys.path`` and their importers from ``sys.path_importer_cache``, then runs
the daemon, so every worker it forks inherits the clean path. It does so
only when the installed ``pyspark`` and ``py4j`` resolve on the remaining
path and the installed ``pyspark/version.py`` is the zip's; otherwise the
path is left as Spark set it. User archives (a zip on PYTHONPATH, or
``--py-files``, which each task adds itself) are always kept.

Only the standard library and ``pyspark.daemon`` are imported here: every
worker inherits what the daemon loads, but preloading pandas and pyarrow
made the session's first Python stage slower, not faster.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def spark_archive(entry: str) -> bool:
    """True for the archives Spark itself puts on a worker's path."""
    base = os.path.basename(entry)
    return (
        base == "pyspark.zip"
        or (base.startswith("py4j-") and base.endswith("-src.zip"))
        or base.endswith(".jar")
    )


def _installed_dir(name: str, path: list[str]) -> str | None:
    """The directory package `name` imports from on `path`, or None when
    it does not resolve or resolves inside an archive."""
    spec = PathFinder.find_spec(name, path)
    origin = spec.origin if spec is not None else None
    return os.path.dirname(origin) if origin and os.path.isfile(origin) else None


def clean_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives, or `path` itself when the installed
    PySpark cannot stand in for the zipped one."""
    kept = [p for p in path if not spark_archive(p)]
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return path
    pyspark_dir = _installed_dir("pyspark", kept)
    if pyspark_dir is None or _installed_dir("py4j", kept) is None:
        return path
    version = os.path.join(pyspark_dir, "version.py")
    try:
        with open(version, "rb") as fh, zipfile.ZipFile(zips[0]) as zf:
            same = fh.read() == zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if same else path


def main() -> None:
    kept = clean_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    if dropped:
        sys.path[:] = kept
        for key in list(sys.path_importer_cache):
            if any(key == d or key.startswith(d + os.sep) for d in dropped):
                del sys.path_importer_cache[key]
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
