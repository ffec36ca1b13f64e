"""Ship the engine package to executors — the local-mode equivalent of
``spark-submit --py-files`` (the north rule's deployment mode).

Executor Python workers don't inherit the driver process's ``sys.path``
patches, so any ``mapInArrow`` task that closes over engine code needs the
package on the worker's import path. ``ensure_shipped`` zips the package
once (content-addressed, cached) and registers it via ``addPyFile``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
import zipfile

_SHIPPED_SESSIONS: set[int] = set()
_SHIP_LOCK = threading.Lock()


def _package_zip() -> str:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    names = []
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        for f in sorted(filenames):
            if f.endswith(".py"):
                names.append(os.path.join(dirpath, f))
    names.sort()
    h = hashlib.sha256()
    for n in names:
        h.update(n.encode())
        with open(n, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(tempfile.gettempdir(),
                       f"parquet_cpp_spark-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(out):
        # a unique temp name per writer: concurrent writers (threads or
        # processes) each publish a complete zip, and the last rename wins
        fd, tmp = tempfile.mkstemp(prefix=os.path.basename(out) + ".",
                                   suffix=".tmp", dir=os.path.dirname(out))
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
                for n in names:
                    z.write(n, os.path.relpath(n, root))
            os.replace(tmp, out)
        except BaseException:
            os.unlink(tmp)
            raise
    return out


def ensure_shipped(spark) -> None:
    """Idempotently attach the engine package to the session's executors."""
    key = id(spark.sparkContext)
    with _SHIP_LOCK:
        if key in _SHIPPED_SESSIONS:
            return
        spark.sparkContext.addPyFile(_package_zip())
        _SHIPPED_SESSIONS.add(key)
