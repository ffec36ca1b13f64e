"""Shipping the package zip from concurrent threads of one application."""

import os
import sys
import tempfile
import threading
import zipfile

from parquet_cpp_spark import shipping


def _run_threads(fn, n):
    """``fn`` from ``n`` threads released together, with a short switch
    interval so their check-then-act steps interleave."""
    barrier = threading.Barrier(n)
    results, errors = [], []

    def run():
        barrier.wait(timeout=30)
        try:
            results.append(fn())
        except Exception as exc:   # reported by the caller's assertion
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    return results, errors


def test_package_zip_concurrent_writers(tmp_path, monkeypatch):
    """Three threads building the zip into an empty temp dir at once: none
    raises, and exactly one complete zip (no temp file) is left."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    results, errors = _run_threads(shipping._package_zip, 3)
    assert errors == []
    assert len(set(results)) == 1
    assert os.listdir(tmp_path) == [os.path.basename(results[0])]
    with zipfile.ZipFile(results[0]) as z:
        assert z.testzip() is None
        assert "parquet_cpp_spark/shipping.py" in z.namelist()


def test_ensure_shipped_registers_once(tmp_path, monkeypatch):
    """Concurrent first jobs of one session add the package exactly once."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(shipping, "_SHIPPED_SESSIONS", set())
    added = []

    class Context:
        def addPyFile(self, path):
            added.append(path)

    class Session:
        sparkContext = Context()

    _results, errors = _run_threads(
        lambda: shipping.ensure_shipped(Session), 8)
    assert errors == []
    assert len(added) == 1
