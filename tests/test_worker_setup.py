"""The zip-directory rule ``session._stamp_zip_directories`` installs in
Spark Python workers: ``zipimporter.invalidate_caches`` re-reads an
archive's directory only when the archive's stamp changed, and once per
archive however many importers share it, so the
``importlib.invalidate_caches()`` each task and planner call makes stops
re-reading ``pyspark.zip``. Installed on CPython < 3.13 in workers only."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipimport

import pytest
from pyspark import SparkFiles

from mdio_cpp_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter without Spark: a zip package on sys.path, the
# worker flag set before the engine is imported, the directory reads of
# that archive counted.
SCRIPT = textwrap.dedent(r'''
    import importlib, os, sys, zipfile, zipimport

    root, archive = sys.argv[1:3]
    sys.path.insert(0, root)


    def build(mods):
        with zipfile.ZipFile(archive + ".new", "w") as z:
            z.writestr("zpkg/__init__.py", "")
            for m in mods:
                z.writestr(f"zpkg/{m}.py", f"NAME = {m!r}\n")
        os.replace(archive + ".new", archive)


    build(["one"])
    sys.path.insert(0, archive)
    import zpkg.one

    from pyspark import SparkFiles

    SparkFiles._is_running_on_worker = True
    from mdio_cpp_spark import session

    wrapped = zipimport.zipimporter.invalidate_caches
    assert getattr(wrapped, "stamped", False), "not installed on a worker"
    session._stamp_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is wrapped, "wrapped twice"

    reads, read = [], zipimport._read_directory


    def counted(path):
        reads.append(path)
        return read(path)


    zipimport._read_directory = counted
    top = sys.path_importer_cache[archive]
    sharing = [f for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter) and f.archive == archive]
    assert len(sharing) == 2, sharing  # the archive's and its package's
    for _ in range(5):
        top.invalidate_caches()
    assert reads.count(archive) == 1, reads
    importlib.invalidate_caches()  # the package's importer takes that read
    assert reads.count(archive) == 1, reads
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1, reads

    build(["one", "two"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 2, "a rewritten archive is re-read once"
    import zpkg.two
    assert zpkg.two.NAME == "two"

    os.remove(archive)
    importlib.invalidate_caches()
    print("ok")
''')


def test_zip_directory_is_reread_only_when_the_archive_changed(tmp_path):
    archive = str(tmp_path / "pkg.zip")
    done = subprocess.run([sys.executable, "-c", SCRIPT, ROOT, archive],
                          capture_output=True, text=True, timeout=120)
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.strip() == "ok"


def count_zip_reads(batches):
    """A mapInPandas body: the zip-directory reads one
    ``importlib.invalidate_caches()`` makes in this worker."""
    import importlib

    import pandas as pd

    from mdio_cpp_spark import session  # noqa: F401  the engine is loaded here

    for _ in batches:
        pass
    read, n = zipimport._read_directory, [0]

    def counted(path):
        n[0] += 1
        return read(path)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield pd.DataFrame({"pid": [os.getpid()], "reads": [n[0]], "zips": [zips]})


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="the rule installs before 3.13 only")
def test_a_reused_worker_rereads_no_zip_directory(spark):
    """A worker that already ran engine code re-reads no zip directory; the
    stdlib would re-read pyspark.zip once per zipimporter (15-17 here).
    Idle workers are reused in turn, so run until one serves twice."""
    df = spark.range(1, numPartitions=1).mapInPandas(
        count_zip_reads, "pid long, reads long, zips long")
    seen = set()
    for _ in range(8):
        pid, reads, zips = df.collect()[0]
        if pid in seen:
            break
        seen.add(pid)
    else:
        pytest.fail("no Python worker served two tasks")
    assert zips > 0, "the worker imports nothing from a zip archive"
    assert reads == 0


def test_stdlib_is_untouched_on_313_and_on_the_driver(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    assert not getattr(stdlib, "stamped", False), "installed on the driver"
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    session._stamp_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stdlib
