"""The worker zip-directory guard (``gr_tdigest_spark.worker``), without
Spark: an unchanged archive is not re-read on ``invalidate_caches``, a
changed one is, and outside a worker nothing is patched. Each case runs
in a fresh interpreter so this process's ``zipimport`` stays as it is."""

import json
import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PRELUDE = r"""
import importlib, json, sys, zipfile, zipimport
archive = sys.argv[1]
reads = []
_read_directory = zipimport._read_directory
def counting(path):
    reads.append(path)
    return _read_directory(path)
zipimport._read_directory = counting
original = zipimport.zipimporter.invalidate_caches
from gr_tdigest_spark import worker
installed = worker.install()
guarded = zipimport.zipimporter.invalidate_caches
sys.path.insert(0, archive)
import mod_a

def reads_of(step):
    del reads[:]
    step()
    return reads.count(archive)
"""


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _run(tmp_path, body, worker):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"mod_a": "A = 1\n"})
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYTHON_WORKER_FACTORY_SECRET")}
    env["PYTHONPATH"] = ROOT
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "test-secret"
    out = subprocess.run(
        [sys.executable, "-c", PRELUDE + body, archive],
        capture_output=True, text=True, timeout=120, env=env,
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport reads lazily from CPython 3.13 on")
class TestInWorker:
    def test_unchanged_archive_is_not_reread(self, tmp_path):
        r = _run(tmp_path, r"""
first = reads_of(importlib.invalidate_caches)
print(json.dumps({
    "installed": installed,
    "first": first,
    "later": [reads_of(importlib.invalidate_caches) for _ in range(3)],
}))
""", worker=True)
        assert r["installed"] is True
        # the first call after install reads once and records the stat
        assert r["first"] == 1
        assert r["later"] == [0, 0, 0]

    def test_rewritten_archive_is_reread(self, tmp_path):
        r = _run(tmp_path, r"""
reads_of(importlib.invalidate_caches)
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("mod_a.py", "A = 1\n")
    z.writestr("mod_b.py", "B = 2\n")
rewritten = reads_of(importlib.invalidate_caches)
import mod_b
print(json.dumps({"rewritten": rewritten, "B": mod_b.B,
                  "after": reads_of(importlib.invalidate_caches)}))
""", worker=True)
        assert r == {"rewritten": 1, "B": 2, "after": 0}

    def test_missing_archive_falls_back(self, tmp_path):
        r = _run(tmp_path, r"""
import os
reads_of(importlib.invalidate_caches)
os.remove(archive)
importlib.invalidate_caches()
imp = sys.path_importer_cache.get(archive)
print(json.dumps({"files": len(imp._files) if imp else None,
                  "cached": archive in zipimport._zip_directory_cache}))
""", worker=True)
        assert r == {"files": 0, "cached": False}

    def test_second_install_does_not_wrap_again(self, tmp_path):
        r = _run(tmp_path, r"""
again = worker.install()
print(json.dumps({
    "again": again,
    "same": zipimport.zipimporter.invalidate_caches is guarded,
    "patched": guarded is not original,
}))
""", worker=True)
        assert r == {"again": True, "same": True, "patched": True}


def test_outside_worker_nothing_is_patched(tmp_path):
    r = _run(tmp_path, r"""
print(json.dumps({
    "installed": installed,
    "same": zipimport.zipimporter.invalidate_caches is original,
    "reads": reads_of(importlib.invalidate_caches),
}))
""", worker=False)
    assert r == {"installed": False, "same": True, "reads": 1}


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimport reads lazily from CPython 3.13 on")
def test_spark_worker_skips_unchanged_archives(spark):
    """In a real worker, once the library is imported, a task's
    ``importlib.invalidate_caches()`` re-reads no archive: the second
    call below stands for every later task of a reused worker."""
    import pyarrow as pa

    def count(batches):
        import importlib
        import zipimport

        import gr_tdigest_spark  # noqa: F401  (installs the guard)

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), read(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict(
            {"zips": [len(zips)], "reads": [len(reads)]})

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(count, "zips long, reads long").collect()[0])
    assert row["zips"] > 0  # the worker imports pyspark from a zip
    assert row["reads"] == 0
