"""Python worker daemon without Spark's bundled archives on ``sys.path``.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar in
front of every worker's ``sys.path``.  pyspark calls
``importlib.invalidate_caches()`` on every task, and on Python 3.11 each
``zipimporter`` then re-reads its archive's central directory: about 80 ms
of CPU per task on a 4-core host.  When ``pyspark`` and ``py4j`` resolve
outside any archive at the archives' versions, this daemon drops those
entries (and their importer-cache keys) before forking workers; otherwise,
and for any other archive (``--py-files``), ``sys.path`` stays as it is.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_BUNDLED = re.compile(r"pyspark\.zip|py4j-.+-src\.zip|spark-core_.+\.jar")


def _version(root: str, package: str) -> str | None:
    """``package/version.py``'s ``__version__`` under a directory or zip."""
    name = f"{package}/version.py"
    try:
        if zipfile.is_zipfile(root):
            with zipfile.ZipFile(root) as z:
                text = z.read(name).decode()
        else:
            with open(os.path.join(root, name)) as f:
                text = f.read()
    except (OSError, KeyError):
        return None
    m = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)", text)
    return m and m.group(1)


def zip_free_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives if pyspark and py4j resolve
    outside every archive at the archives' versions, else ``path``."""
    bundled = [e for e in path if _BUNDLED.fullmatch(os.path.basename(e))]
    kept = [e for e in path if e not in bundled]
    for package in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(package, kept)
        if spec is None or not os.path.isfile(spec.origin or ""):
            return path
        installed = _version(os.path.dirname(os.path.dirname(spec.origin)), package)
        if any(_version(e, package) not in (None, installed) for e in bundled):
            return path
    return kept


def drop_archives() -> None:
    """Apply ``zip_free_path`` to ``sys.path`` and forget the dropped
    entries' importers, sub-package ones included."""
    kept = zip_free_path(sys.path)
    for entry in set(sys.path) - set(kept):
        for key in [k for k in sys.path_importer_cache if k == entry or k.startswith(entry + os.sep)]:
            del sys.path_importer_cache[key]
    sys.path[:] = kept


if __name__ == "__main__":
    drop_archives()
    from pyspark import daemon

    daemon.manager()
