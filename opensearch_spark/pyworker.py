"""Python worker daemon for sessions built by :func:`opensearch_spark.session.get_spark`.

Spark starts an executor's Python daemon with its own archives first on
``PYTHONPATH``: ``pyspark.zip``, the py4j source zip and the spark-core
jar (``PythonUtils.sparkPythonPath``).  Before every task
``pyspark.worker`` calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), and on CPython 3.11 each
``zipimporter`` in ``sys.path_importer_cache`` re-reads its archive's
whole central directory there: one importer per pyspark subpackage
imported from ``pyspark.zip`` (1.3k entries) plus two for the jar (5.4k
entries, no Python in it).  A reused worker spends 150-420 ms on that
before its task starts, whatever the task's row count.

This module drops the archives from ``sys.path`` (and their importers
from ``sys.path_importer_cache``) before pyspark is imported, then runs
pyspark's own daemon.  It drops them only when every Python package the
archives provide still resolves from a directory entry at the same
version; otherwise ``sys.path`` stays as it is.  Files shipped with
``addPyFile`` are added per task after this, as pyspark always does.

Spark runs it as ``python -m opensearch_spark.pyworker`` when
``spark.python.daemon.module`` names it.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile
from typing import Iterable, List, Optional, Set

_ARCHIVE_SUFFIXES = (".zip", ".jar")
_VERSION_RE = re.compile(r"""^__version__\s*(?::[^=]*)?=\s*['"]([^'"]+)['"]""", re.M)


def _is_archive(entry: str) -> bool:
    return entry.endswith(_ARCHIVE_SUFFIXES) and not os.path.isdir(entry)


def _provided(names: Iterable[str]) -> Set[str]:
    """Top-level importable names behind the member ``names`` of an
    archive: ``pkg`` for ``pkg/...`` and ``mod`` for ``mod.py``, counting
    only members that are Python sources, bytecode or extensions."""
    suffixes = tuple(importlib.machinery.all_suffixes())
    out = set()
    for name in names:
        if not name.endswith(suffixes):
            continue
        parts = name.split("/")
        top = parts[0] if len(parts) > 1 else parts[0].split(".")[0]
        if top.isidentifier():
            out.add(top)
    return out


def _version(read, name: str) -> Optional[str]:
    """``__version__`` of package or module ``name``, found in the first
    of its version/init files that ``read`` (relative path -> text or
    None) returns."""
    for rel in (f"{name}/version.py", f"{name}/__init__.py", f"{name}.py"):
        text = read(rel)
        if text is not None:
            m = _VERSION_RE.search(text)
            if m:
                return m.group(1)
    return None


def _archive_versions(path: str) -> dict:
    """{name: __version__ or None} for each Python name archive ``path``
    provides ({} for a missing file or one that is not a zip)."""
    try:
        zf = zipfile.ZipFile(path)
    except (OSError, zipfile.BadZipFile):
        return {}
    with zf:
        members = set(zf.namelist())

        def read(rel):
            return zf.read(rel).decode("utf-8", "replace") if rel in members else None

        return {name: _version(read, name) for name in _provided(members)}


def _directory_version(name: str, dirs: List[str]) -> Optional[str]:
    """``__version__`` of ``name`` as an import over ``dirs`` alone would
    find it (None: not found there, or no version)."""
    spec = importlib.machinery.PathFinder.find_spec(name, dirs)
    if spec is None or spec.origin is None:
        return None
    base = os.path.dirname(spec.origin)
    if spec.submodule_search_locations:
        base = os.path.dirname(base)

    def read(rel):
        try:
            with open(os.path.join(base, rel), encoding="utf-8", errors="replace") as f:
                return f.read()
        except OSError:
            return None

    return _version(read, name)


def archive_free_path(path: List[str]) -> List[str]:
    """``path`` without its ``.zip``/``.jar`` entries, if every Python
    package those archives provide resolves from the remaining entries
    at the same ``__version__``; else ``path`` unchanged."""
    archives = [e for e in path if _is_archive(e)]
    if not archives:
        return list(path)
    rest = [e for e in path if e not in archives]
    for archive in archives:
        for name, version in _archive_versions(archive).items():
            if version is None or _directory_version(name, rest) != version:
                return list(path)
    return rest


def strip_archives() -> None:
    """Apply :func:`archive_free_path` to ``sys.path`` in place and
    forget the importers of the dropped archives (and of their
    subdirectories), so ``invalidate_caches`` no longer visits them."""
    kept = archive_free_path(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    if not dropped:
        return
    sys.path[:] = kept
    inside = tuple(e + os.sep for e in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(inside):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    strip_archives()
    from pyspark import daemon

    daemon.manager()
