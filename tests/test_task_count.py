"""The one task-size rule (``reader.task_count``) and the lint that keeps it
the only one: every Spark job over chunks, shards or traces sizes its task
list by bytes per task, with a per-core floor (down to a minimum task size)
and a 64×-cores cap."""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pytest

from mdio_cpp_spark.sources import reader
from mdio_cpp_spark.sources.reader import MIN_TASK_BYTES, TASK_BYTES, task_count, task_spans

PKG = pathlib.Path(__file__).resolve().parent.parent / "mdio_cpp_spark"


@pytest.mark.parametrize("par", [1, 2, 4, 16])
@pytest.mark.parametrize("n", [1, 2, 3, 7, 40])
def test_floor_is_one_task_per_core_while_units_remain(n, par):
    for unit in (MIN_TASK_BYTES, 1 << 22):
        assert task_count(n, unit, par) >= min(n, par)
        if n * unit <= par * TASK_BYTES:  # the byte term asks for no more
            assert task_count(n, unit, par) == min(n, par)


@pytest.mark.parametrize("par", [1, 4, 16])
def test_tiny_job_is_one_task(par):
    # 18 traces of 264 bytes; 16 chunks of 100 float64
    assert task_count(18, 264, par) == 1
    assert task_count(16, 800, par) == 1


def test_floor_stops_at_the_minimum_task_size():
    # below par * MIN_TASK_BYTES a job runs one task per MIN_TASK_BYTES
    assert task_count(1024, MIN_TASK_BYTES // 512, 4) == 2
    assert task_count(1024, 3 * MIN_TASK_BYTES // 1024, 4) == 3
    assert task_count(1024, MIN_TASK_BYTES // 256, 4) == 4


def test_never_more_tasks_than_units():
    assert task_count(2, 4 * TASK_BYTES, 1) == 2
    assert all(a < b for a, b in task_spans(2, 4 * TASK_BYTES, 1))


@pytest.mark.parametrize("par", [1, 4, 16])
def test_cap_is_64_tasks_per_core(par):
    assert task_count(10**9, TASK_BYTES, par) == 64 * par
    assert task_count(10**6, 10**12, par) == 64 * par


def test_count_is_non_decreasing_in_unit_bytes():
    for n in (1, 5, 512, 12_000_000):
        for par in (1, 4):
            counts = [task_count(n, b, par) for b in (0, 1, 16, 1264, 1 << 18, 1 << 23,
                                                      TASK_BYTES, 1 << 30)]
            assert counts == sorted(counts), (n, par, counts)


def test_bytes_per_task_target():
    # 512 chunks of 256 KiB: the whole scan's bytes over the target
    assert task_count(512, 1 << 18, 1) == -(-(512 << 18) // TASK_BYTES)
    # a job below the target is one task per core
    assert task_count(8, 1 << 18, 1) == 1
    assert task_count(8, 1 << 20, 4) == 4


def test_zero_units_plan_no_work():
    assert task_count(0, 1 << 20, 4) == 0
    assert task_spans(0, 1 << 20, 4) == []


@pytest.mark.parametrize("n,par", [(1, 4), (7, 4), (40, 4), (10**6, 2)])
def test_spans_cover_every_unit_once(n, par):
    spans = task_spans(n, 1 << 18, par)
    assert len(spans) == task_count(n, 1 << 18, par)
    assert spans[0][0] == 0 and spans[-1][1] == n
    assert all(a < b for a, b in spans)
    assert all(p[1] == q[0] for p, q in zip(spans, spans[1:]))


def test_fused_scan_counts_every_variable(spark, tmp_path, monkeypatch):
    """A fused scan decodes every listed variable's chunk, so two float64
    variables plan at least as many tasks as one."""
    from mdio_cpp_spark.sources.zarr_store import ZarrStore

    root = str(tmp_path / "fused.zarr")
    st = ZarrStore.create(root, version=2)
    for name in ("a", "b"):
        st.create_array(name, shape=(1600,), chunks=(100,), dtype="float64", dims=("i",))
    st.consolidate()
    st.write_array_numpy("a", np.arange(1600.0))
    st.write_array_numpy("b", -np.arange(1600.0))

    def parts():
        one = reader.scan_array(spark, root, "a").rdd.getNumPartitions()
        two = reader.scan_arrays(spark, root, {"a": "a", "b": "b"}).rdd.getNumPartitions()
        return one, two

    one, two = parts()
    assert two >= one
    # with a target of two chunks of one variable the byte term decides
    monkeypatch.setattr(reader, "TASK_BYTES", 2 * 800)
    monkeypatch.setattr(reader, "MIN_TASK_BYTES", 800)
    one, two = parts()
    assert (one, two) == (task_count(16, 800, spark.sparkContext.defaultParallelism),
                          task_count(16, 1600, spark.sparkContext.defaultParallelism))
    assert two > one


def test_chunk_jobs_over_an_empty_array(spark, tmp_path):
    """An array with no chunks plans no tasks and every chunk job over it
    still completes."""
    from mdio_cpp_spark.sources import zonemap
    from mdio_cpp_spark.sources.zarr_store import ZarrStore
    from mdio_cpp_spark.utils.transcode import reshard_array, transcode_array

    root = str(tmp_path / "empty.zarr")
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(0,), chunks=(100,), dtype="float64", dims=("i",))
    st.consolidate()
    assert reader.scan_array(spark, root, "v").collect() == []
    assert zonemap.build_sidecar_stats(spark, root, "v")["nchunks"] == 0
    assert transcode_array(spark, root, str(tmp_path / "t.zarr"), "v", None)["chunks_copied"] == 0
    assert reshard_array(spark, root, str(tmp_path / "s.zarr"), "v", shards=(200,),
                         inner_chunks=(100,))["shards_written"] == 0


def _sources():
    for sub in ("sources", "utils"):
        yield from sorted((PKG / sub).glob("*.py"))


def test_task_count_is_the_only_sizing_rule():
    """Under sources/ and utils/, a Spark job's partition count comes from
    ``task_count`` and no per-task constant or knob exists."""
    bad = []
    for path in _sources():
        text = path.read_text()
        for m in re.finditer(r"numPartitions\s*=\s*", text):
            if not text.startswith("task_count(", m.end()):
                bad.append(f"{path.name}: numPartitions={text[m.end():m.end() + 30]!r}")
        for m in re.finditer(r"\b\w*_per_task\b", text, re.IGNORECASE):
            bad.append(f"{path.name}: {m.group(0)}")
    assert not bad, bad
