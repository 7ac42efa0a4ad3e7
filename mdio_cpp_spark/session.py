"""SparkSession factory.

Tuned for the project's execution envelope: local[32] single-JVM for tests and
bench, but every setting is chosen to also hold on a 1000-executor cluster —
AQE on (runtime re-plan, skew-join splitting, partition coalescing), shuffle
partitions sized to cores rather than the 200 default, Arrow enabled for the
few Pandas-UDF paths, UTC session timezone so timestamp results are stable
across hosts and match the DuckDB oracle.

Every Spark Python worker that runs engine code imports this module, and the
import installs the worker's zip-directory rule (``_stamp_zip_directories``).
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Iterable

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_RUNTIME_CONF = {
    # AQE: runtime coalescing + skew-join handling; essential at 100 TB where
    # static partition counts are always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp rendering (matches DuckDB's naive parquet read).
    "spark.sql.session.timeZone": "UTC",
    # The driver's older events.parquet ships TIMESTAMP(NANOS), which Spark
    # only reads with this flag (as int64 nanos; catalog.normalize_events_ts
    # converts). Declared session-wide HERE — not as a hidden side effect of
    # whichever table read happens first — so the posture is explicit: NANOS
    # parquet columns in this engine always arrive as int64 for explicit
    # normalization.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for toPandas / pandas_udf exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches for the chunked-write path: the default 10k rows
    # per batch makes applyInPandas reassemble a 1M-cell chunk from ~100
    # Python-side concats (measured 4.4x slower end-to-end). ~12 MB batches
    # at 24 B/row keep per-task memory trivial.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "500000",
    # let the mdio Python DataSource consume dim predicates for chunk pruning
    "spark.sql.python.filterPushdown.enabled": "true",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "mdio-cpp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's standard tuning."""
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-created session.

    The verification driver hands us its own SparkSession; these are the
    settings we depend on for result determinism (timezone) and plan quality
    (AQE) that can still be set after the JVM is up.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — ignore
    return spark


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """A driver-built table (``rows`` of tuples, lists or Rows in the order
    of ``schema``, a DDL string or a StructType) as a DataFrame that starts
    no Python worker. Each row goes through the schema's ``toInternal``, the
    conversion ``createDataFrame(rows, schema)`` applies, so nulls, dates
    and timestamps mean the same; the rows then travel as one pyarrow table
    that Spark decodes in the JVM. The list form would ship a pickled Python
    RDD whose rows every action unpickles in a Python worker per partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    cols = list(zip(*internal)) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)


def _stamp_zip_directories() -> None:
    """Make a Spark Python worker re-read a zip archive's directory only when
    the archive changed.

    Every task and data-source planner call runs ``importlib.invalidate_caches()``
    (pyspark's ``worker_util.setup_spark_files``). Before CPython 3.13 that
    makes each ``zipimporter`` re-read its whole archive directory in pure
    Python, and workers import pyspark from ``pyspark.zip``: 15-17
    importers re-read its 1,328 entries, 0.1-0.25 s per call. The wrapper
    takes the archive's stamp before the re-read, as ``LocalKVStore`` does,
    and keeps one stamp per archive: while the stamp is the one of the
    archive's last re-read, by any importer, the importer takes the
    directory that re-read left in ``zipimport._zip_directory_cache``. So a
    worker re-reads each archive once, not once per importer. A failed
    ``stat`` falls through to the stdlib re-read, which handles a vanished
    archive. Workers only: the driver is left as it is.
    """
    stdlib = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 13) or not SparkFiles._is_running_on_worker
            or getattr(stdlib, "stamped", False)):
        return

    read_at: dict[str, tuple | None] = {}  # archive -> stamp of its last re-read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == read_at.get(self.archive) and files is not None:
            self._files = files
        else:
            stdlib(self)
            read_at[self.archive] = stamp

    invalidate_caches.stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stamp_zip_directories()
