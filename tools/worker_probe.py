"""What each Spark Python worker invocation pays before engine code runs.

Runs the volume_etl op list (``perfbench/volume_etl.py``'s ``Loop``,
imported as it is) on the benchmark's pinned ``local[1]`` session, with a
temporary ``sitecustomize`` on the Python workers' ``PYTHONPATH``. In every
worker it times the ``importlib.invalidate_caches()`` call of pyspark's
``worker_util.setup_spark_files``, which runs once per task and once per
data-source planner call, and counts the zip-archive directory reads
(``zipimport._read_directory``) made inside that call. The driver is not
instrumented.

    python tools/worker_probe.py                  # seed 1, warm-up + 2 passes
    python tools/worker_probe.py --seed 3 --passes 4

Prints one line per op and pass: whether the op's answer was right, the
Python invocations it started, the zip-directory reads in them and the
milliseconds spent in ``invalidate_caches``, then the totals of each pass.
Invocation and read counts repeat exactly at one seed; the milliseconds
follow the host's load. The exit code is non-zero when an op failed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

SITECUSTOMIZE = '''\
import importlib, os, sys, time, zipimport

_LOG = {log!r}
_read, _invalidate = zipimport._read_directory, importlib.invalidate_caches
_reads = [0]


def _counted_read(archive):
    _reads[0] += 1
    return _read(archive)


def _timed_invalidate():
    if sys._getframe(1).f_code.co_name != "setup_spark_files":
        return _invalidate()
    before, t = _reads[0], time.perf_counter()
    try:
        return _invalidate()
    finally:
        ms = 1e3 * (time.perf_counter() - t)
        line = "%d %.3f %d\\n" % (os.getpid(), ms, _reads[0] - before)
        fd = os.open(_LOG, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, line.encode())
        finally:
            os.close(fd)


zipimport._read_directory = _counted_read
importlib.invalidate_caches = _timed_invalidate
'''


def read_log(path: str, start: int) -> tuple[list[tuple[int, float, int]], int]:
    """The invocation records appended to ``path`` after byte ``start``."""
    if not os.path.exists(path):
        return [], start
    with open(path, "rb") as f:
        f.seek(start)
        data = f.read()
    rows = [line.split() for line in data.decode().splitlines()]
    return [(int(p), float(ms), int(r)) for p, ms, r in rows], start + len(data)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--passes", type=int, default=2, help="passes after the warm-up")
    args = p.parse_args()

    from common import WorkDir, start_spark, stop_spark
    from spans import Tracer
    from volume_etl import OPS, Loop, make_cube, write_segy

    probe_dir = tempfile.mkdtemp(prefix="worker_probe-")
    log = os.path.join(probe_dir, "invocations.log")
    with open(os.path.join(probe_dir, "sitecustomize.py"), "w") as f:
        f.write(SITECUSTOMIZE.format(log=log))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [probe_dir, *[q for q in os.environ.get("PYTHONPATH", "").split(os.pathsep) if q]])

    work = WorkDir(ROOT, "worker_probe")
    failed, offset = 0, 0
    spark = start_spark(ROOT, work)
    try:
        from mdio_cpp_spark.sources.datasource import register

        register(spark)
        cube = make_cube(args.seed)
        write_segy(work.sub("survey.sgy"), cube)
        loop = Loop(spark, Tracer(), work, work.sub("survey.sgy"), cube)
        print(f"{'pass':>4} {'op':8} {'ok':>3} {'invocations':>11} {'zip_reads':>9} "
              f"{'invalidate_ms':>13} pids")
        for k in range(args.passes + 1):
            total = [0, 0, 0.0]
            for op in OPS:
                try:
                    ok = loop.run(op, k)
                except Exception as e:  # a failed op is reported; the loop goes on
                    ok = False
                    print(f"pass {k} {op}: {e!r}"[:300], file=sys.stderr)
                failed += not ok
                rows, offset = read_log(log, offset)
                reads, ms = sum(r[2] for r in rows), sum(r[1] for r in rows)
                pids = sorted({r[0] for r in rows})
                print(f"{k:>4} {op:8} {'yes' if ok else 'NO':>3} {len(rows):>11} {reads:>9} "
                      f"{ms:>13.1f} {','.join(map(str, pids))}")
                total[0] += len(rows)
                total[1] += reads
                total[2] += ms
            print(f"{k:>4} {'pass':8} {'':>3} {total[0]:>11} {total[1]:>9} {total[2]:>13.1f}")
    finally:
        stop_spark(spark)
        work.close()
        shutil.rmtree(probe_dir, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
