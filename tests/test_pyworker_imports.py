"""Python-worker import cost: zip directories are re-read only when the
archive changes (``flink_template_spark._zipimport_compat``), and the
trip stream's UDF brings that into every worker that runs it."""

from __future__ import annotations

import importlib
import os
import pickle
import subprocess
import sys
import zipfile
import zipimport
from functools import partial

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ re-reads zip directories lazily"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path: str, extra: bool) -> None:
    files = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/m.py": "X = 1\n",
    }
    if extra:
        files["zpkg/sub/new.py"] = "Y = 2\n"
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    from flink_template_spark import _zipimport_compat

    _zipimport_compat.install()
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, extra=False)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    sys.path.insert(0, archive)
    try:
        importlib.import_module("zpkg.sub.m")
        importlib.invalidate_caches()  # first sight of the archive: stamps it
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, extra=True)
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("zpkg.sub.new").Y == 2
    finally:
        sys.path.remove(archive)
        for name in [n for n in sys.modules if n == "zpkg" or n.startswith("zpkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_trip_stream_udf_installs_the_fix_in_a_fresh_worker():
    """A Python worker imports nothing of the engine until it unpickles
    the stream's session function; that unpickle must install the fix."""
    from pyspark import cloudpickle

    from flink_template_spark.streaming.trip_sessions import _bucket_fn

    payload = cloudpickle.dumps(partial(_bucket_fn, event_time=True))
    code = (
        "import pickle, sys, zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches.__module__\n"
        "fn = pickle.loads(sys.stdin.buffer.read())\n"
        "print(before, fn.func.__name__,"
        " zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=payload,
        capture_output=True,
        env=env,
        timeout=120,
        check=True,
    )
    assert out.stdout.decode().split() == [
        "zipimport",
        "_bucket_fn",
        "flink_template_spark._zipimport_compat",
    ]
