"""Shared plumbing for the workloads: statistics, process-tree memory,
the pinned Spark session, op outcomes and the timed pass loop.

Nothing here starts a process or touches a file at import time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

# Pinned Spark settings. The benchmark sets these itself so that a run never
# inherits a master, heap size or conf from the caller's environment. One
# task slot: volume_etl's 8-chunk store gains little from more (a pass took
# 8.1 s on local[4] and 9.0 s on local[1] on a 4-vCPU VM), and with fewer
# threads its times follow the load of other tenants less (spread over five
# seeds 0.12 against 0.20).
SPARK_CORES = 1
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 8


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile, or None when fewer than ten samples lie beyond
    it (a percentile with fewer samples behind it is not reported)."""
    if len(values) * (1.0 - q / 100.0) < 10:
        return None
    return float(statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1])


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every live process below this one."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every live
    descendant: the driver Python, the JVM and Spark's Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


class WorkDir:
    """A scratch directory inside the checkout, removed on close."""

    def __init__(self, root: str, workload: str):
        self.path = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(root: str, work: WorkDir):
    """Start the pinned local Spark session through the engine's factory.

    Temporary files, shuffle files and the warehouse stay under ``work``;
    the Python workers import the engine from the checkout."""
    tmp = work.sub("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, *[p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher included: temporary files under
    # ``work`` and no hsperfdata file in the system temporary directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={work.sub('warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    from mdio_cpp_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{SPARK_CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    wait_gone(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; kill what is left after ``timeout``.
    Spark's Python workers are the JVM's children, so they are not ours to
    reap once the JVM is gone; this waits for them by pid."""
    deadline = time.monotonic() + timeout
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


class Outcome:
    """Attempted and failed op counts; the first few failures go to stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                print(f"op failed: {what}", file=sys.stderr)


def run_passes(ctx, one_pass, after_traced=None) -> tuple[list[float], list[float], list[dict]]:
    """Run ``one_pass(k)`` for ``k = 1, 2, ...`` until ``ctx.seconds`` have
    passed; a pass that starts always completes. In a traced run every
    second pass is traced, and at least one of each kind runs.
    ``after_traced(k)`` may add figures to ``ctx.tracer.counts`` after a
    traced pass, outside its timing. Returns the untraced and traced pass
    times and the per-layer figures of each traced pass."""
    from layers import metrics

    tracer = ctx.tracer
    untraced, traced, per_layer = [], [], []
    start = time.perf_counter()
    k = 0
    while time.perf_counter() - start < ctx.seconds or (ctx.trace and not (untraced and traced)):
        k += 1
        on = ctx.trace and k % 2 == 0
        tracer.counts.clear()
        mark = tracer.mark()
        tracer.active = on
        t = time.perf_counter()
        one_pass(k)
        dt = time.perf_counter() - t
        tracer.active = False
        if on:
            traced.append(dt)
            if after_traced is not None:
                after_traced(k)
            per_layer.append(metrics(tracer, mark))
        else:
            untraced.append(dt)
    return untraced, traced, per_layer


def store_bytes_ratio(root: str) -> float:
    """Bytes on disk of a store per raw byte of its arrays."""
    import numpy as np

    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    metas = ZarrStore.open(root).arrays().values()
    raw = sum(int(np.prod(m.shape)) * m.np_dtype.itemsize for m in metas)
    return dir_bytes(root) / raw
