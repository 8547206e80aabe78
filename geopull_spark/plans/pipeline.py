"""End-to-end pipeline: synth → extract → normalize → block → doc-assign.

The Spark translation of the reference CLI entry points
(``/root/reference/src/geopull/__main__.py``: download/extract/normalize/
block) plus the target engine's doc→block spatial join. Each stage commits a
snapshot manifest; reruns with unchanged input fingerprints skip the stage
(reference S8 semantics, geofile.py:106-110).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import blocker, extract, normalize, spatial_join
from ..sources import synth
from ..sources.manifest import SnapshotTable


def run_pipeline(
    spark: SparkSession,
    warehouse: str,
    sf_dir: str = "/root/testdata/sf0.001",
    streets_per_region: int = 60,
    use_manifest: bool = True,
) -> dict[str, DataFrame]:
    """Returns the stage DataFrames; writes snapshots under ``warehouse``."""
    from .. import __version__

    # engine version in the fingerprint: kernel changes must invalidate
    # cached snapshots, not silently serve old-code results
    fp_world = f"synth:v1:streets={streets_per_region}:engine={__version__}"
    ways = synth.gen_osm_ways(spark, streets_per_region)

    if use_manifest:
        t_ways = SnapshotTable(os.path.join(warehouse, "osm_ways"))
        t_ways.commit(ways, fp_world, partition_count_col="region_code")
        ways = t_ways.read(spark)

    admin = extract.extract_admin(ways)
    water = extract.extract_water(ways)
    lines = extract.extract_linestrings(ways)
    coast = synth.gen_coastline(spark)

    land = normalize.normalize_land(admin, water, coast)
    if use_manifest:
        t_land = SnapshotTable(os.path.join(warehouse, "land"))
        t_land.commit(land, fp_world, partition_count_col="region_code", lineage=[fp_world])
        land = t_land.read(spark)

    blocks = blocker.build_blocks(land, lines)
    if use_manifest:
        t_blocks = SnapshotTable(os.path.join(warehouse, "blocks"))
        t_blocks.commit(blocks, fp_world, partition_count_col="region_code", lineage=[fp_world])
        blocks = t_blocks.read(spark)

    docs = synth.interleaved_documents(spark, sf_dir)
    assigned = spatial_join.assign_docs_full(docs, blocks)
    if use_manifest:
        fp_docs = f"{fp_world}|docs:{sf_dir}"
        t_asg = SnapshotTable(os.path.join(warehouse, "doc_blocks"))
        t_asg.commit(assigned, fp_docs, partition_count_col="region_code", lineage=[fp_world, f"docs:{sf_dir}"])
        assigned = t_asg.read(spark)

    return {
        "osm_ways": ways,
        "land": land,
        "blocks": blocks,
        "doc_blocks": assigned,
    }
