"""Spark's Python worker daemon, started on a cleaned import path.

The JVM starts Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the front of ``PYTHONPATH``.
PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``), and on Python 3.11 every zipimporter in
``sys.path_importer_cache`` then re-reads its archive's whole directory:
~7 ms for each imported ``pyspark.zip`` subpackage and ~31 ms for each of
the two entries of the 5,359-entry jar. That is 0.16-0.35 s per task before
the first Arrow batch is read. The jar holds no ``.py`` file; its ``org``
entry is the namespace package left by the Jython probe in ``copy.py``
(``from org.python.core import PyStringMap``).

``session.get_spark`` selects this module with ``spark.python.daemon.module``.
Before anything imports pyspark it

- drops every ``.jar`` entry from ``sys.path``;
- drops ``pyspark.zip`` / ``py4j-*.zip`` when the same distribution at the
  same version resolves from the rest of ``sys.path``;
- forgets the dropped entries in ``sys.path_importer_cache`` and removes
  namespace packages that live only in them from ``sys.modules``;

then runs ``pyspark.daemon.manager()`` unchanged; the forked workers inherit
the cleaned path. When no matching install exists (a cluster that ships only
the zip) the zip stays and one line goes to stderr.
"""

from __future__ import annotations

import importlib.machinery
import importlib.metadata
import os
import re
import sys
import zipfile

# source zips that $SPARK_HOME/python/lib puts on the workers' path
_SPARK_ZIP = re.compile(r"^(pyspark|py4j)(-[^/]*)?\.zip$")
_VERSION = re.compile(r"""^__version__[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _inside(path: str, entries: set[str]) -> bool:
    return any(path == e or path.startswith(e + os.sep) for e in entries)


def _zip_version(zip_path: str, pkg: str) -> str | None:
    try:
        with zipfile.ZipFile(zip_path) as zf:
            text = zf.read(f"{pkg}/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile, UnicodeDecodeError):
        return None
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _installed_version(pkg: str, path: list[str]) -> str | None:
    """Version of `pkg` as it resolves from `path` alone: the package must
    import from there and its distribution metadata must be there too."""
    spec = importlib.machinery.PathFinder.find_spec(pkg, path)
    if spec is None or spec.origin is None:
        return None
    dist = next(iter(importlib.metadata.distributions(name=pkg, path=path)), None)
    return dist.version if dist is not None else None


def clean_import_path(
    path: list[str], importer_cache: dict, modules: dict
) -> list[str]:
    """Edit `path`, `importer_cache` and `modules` (the process's
    ``sys.path``, ``sys.path_importer_cache`` and ``sys.modules``) in place
    as the module docstring describes. Returns the Spark source zips kept
    because no matching install resolves without them."""
    dropped = {p for p in path if p.endswith(".jar")}
    kept_zips = []
    for p in path:
        m = _SPARK_ZIP.match(os.path.basename(p))
        if m is None:
            continue
        pkg = m.group(1)
        loaded = getattr(modules.get(pkg), "__file__", None) or ""
        rest = [q for q in path if q != p and q not in dropped]
        version = _zip_version(p, pkg)
        if (
            version is not None
            and not _inside(loaded, {p})
            and _installed_version(pkg, rest) == version
        ):
            dropped.add(p)
        else:
            kept_zips.append(p)
    if not dropped:
        return kept_zips
    # read namespace paths before editing sys.path: a _NamespacePath
    # recomputes itself from the parent path when that changes
    for name, mod in list(modules.items()):
        spec = getattr(mod, "__spec__", None)
        if spec is None or spec.origin is not None:
            continue
        locations = list(spec.submodule_search_locations or ())
        if locations and all(_inside(loc, dropped) for loc in locations):
            del modules[name]
    path[:] = [p for p in path if p not in dropped]
    for key in [k for k in importer_cache if _inside(k, dropped)]:
        del importer_cache[key]
    return kept_zips


def main() -> None:
    kept = clean_import_path(sys.path, sys.path_importer_cache, sys.modules)
    if kept:
        print(
            f"rustiflow_spark.worker_daemon: no installed copy matches "
            f"{', '.join(kept)}; workers keep importing from it",
            file=sys.stderr,
        )
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
