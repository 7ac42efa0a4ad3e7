"""zonemap_pruning — chunk-stats manifests + the DSv2 write/read surface.

End-to-end demo of the round-4 scan-efficiency features:

  1. build a 1-D store and write it through ``df.write.format("mdio")``
     (the DSv2 Arrow writer; chunk-partitioned input, commit-checked
     exclusivity),
  2. build a per-chunk [min, max] zone map (a sidecar store next to the
     array),
  3. run a selective value-filtered scan and show how many chunks the
     zone map pruned before any byte was read,
  4. overwrite a chunk and show the zone map staying coherent.

Run:  python examples/zonemap_pruning.py
"""

from __future__ import annotations

import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F

from mdio_cpp_spark.session import get_spark
from mdio_cpp_spark.sources import zonemap
from mdio_cpp_spark.sources.datasource import register, repartition_by_chunks
from mdio_cpp_spark.sources.reader import scan_array
from mdio_cpp_spark.sources.zarr_store import ZarrStore

N, CHUNK = 100_000, 8_192


def main() -> None:
    spark = get_spark("zonemap-example", master="local[8]")
    register(spark)
    root = tempfile.mkdtemp(prefix="zonemap_") + "/demo.zarr"

    # 1. create + DSv2 write: values ascend, so chunk zones are disjoint
    st = ZarrStore.create(root, version=2)
    st.create_array("v", shape=(N,), chunks=(CHUNK,), dtype="float64", dims=("i",))
    st.consolidate()
    src = spark.range(N).select(F.col("id").alias("i"), (F.col("id") * 1.0).alias("value"))
    (
        repartition_by_chunks(src, root, "v")
        .write.format("mdio").option("path", root).option("variable", "v")
        .mode("append").save()
    )
    print(f"wrote {N} cells through df.write.format('mdio')")

    # 2. build the zone map: a SIDECAR store (vmin/vmax arrays keyed by
    #    linear chunk id), built with no per-chunk driver collect
    info = zonemap.ensure_chunk_stats(spark, root, "v")
    meta = ZarrStore.open(root).array_meta("v")
    zones = zonemap.open_zones(meta, root)
    _, zone0 = zones.lookup_coords((0,))
    print(f"sidecar zone map over {info['nchunks']} chunks; chunk 0 zone → {zone0}")

    # 3. selective predicate: only the last chunk can satisfy it
    lit = float(N - 1000)
    fill = meta.fill_scalar()
    survivors = [
        c for c in range(meta.nchunks())
        if zonemap.zone_keep(zones, (c,), ">=", lit, fill, True)
    ]
    n = scan_array(spark, root, "v", value_filter=(">=", lit)).count()
    print(
        f"value >= {lit:.0f}: {len(survivors)}/{meta.nchunks()} chunks survive "
        f"the zone check; scan returned {n} rows without reading the other "
        f"{meta.nchunks() - len(survivors)} chunks"
    )

    # 4. coherence: writes refresh the touched chunks' zones
    upd = spark.range(0, 10).select(F.col("id").alias("i"), F.lit(9e9).alias("value"))
    repartition_by_chunks(upd, root, "v").write.format("mdio").option(
        "path", root
    ).option("variable", "v").mode("append").save()
    fresh = zonemap.open_zones(ZarrStore.open(root).array_meta("v"), root)
    _, z0 = fresh.lookup_coords((0,))
    print(f"after overwrite, chunk 0 zone → {z0} (zone map stayed coherent)")

    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
