"""CLI mirroring the reference's entry points
(``/root/reference/src/geopull/__main__.py:33-76``: download / export /
extract / normalize / block / version) plus this engine's additions
(assign / pipeline).

    python -m geopull_spark generate  --warehouse /tmp/wh --regions 3 --streets 60
    python -m geopull_spark extract   --warehouse /tmp/wh
    python -m geopull_spark normalize --warehouse /tmp/wh
    python -m geopull_spark block     --warehouse /tmp/wh
    python -m geopull_spark assign    --warehouse /tmp/wh --sf-dir /root/testdata/sf0.001
    python -m geopull_spark pipeline  --warehouse /tmp/wh   # all stages, resumable
    python -m geopull_spark export    --warehouse /tmp/wh --include-tags highway=primary \
                                      --attributes highway --geometry-type linestring \
                                      --output /tmp/primaries --format geojson
    python -m geopull_spark version

``download`` is aliased to ``generate`` (no external data in this sandbox —
the synthetic world replaces the Geofabrik fetch, SURVEY.md S1/S2).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    from .session import default_cpus, get_spark

    p = argparse.ArgumentParser(prog="geopull_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--warehouse", required=True)
        sp.add_argument("--regions", type=int, default=3)
        sp.add_argument("--streets", type=int, default=60)
        sp.add_argument("--cpus", type=int, default=default_cpus())

    for name in ["download", "generate", "extract", "normalize", "block", "pipeline"]:
        sp = sub.add_parser(name)
        common(sp)
    sp = sub.add_parser("assign")
    common(sp)
    sp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    # reference export subcommand (__main__.py:48-52, args :178-200):
    # user-specified attributes / osmium-style tag filters / geometry type
    sp = sub.add_parser("export")
    common(sp)
    sp.add_argument("--attributes", nargs="+", default=[])
    sp.add_argument("--include-tags", nargs="+", default=[])
    sp.add_argument("--geometry-type", choices=["point", "linestring", "polygon"], default=None)
    sp.add_argument("--output", required=True)
    sp.add_argument("--format", choices=["geojson", "parquet"], default="geojson")
    sub.add_parser("version")  # reference __main__.py:71-74
    args = p.parse_args(argv)

    from geopull_spark import __version__

    if args.cmd == "version":
        print(__version__)
        return 0

    from pyspark.sql import functions as F

    from .operators import blocker, extract, normalize, spatial_join
    from .sources import synth
    from .sources.manifest import SnapshotTable

    spark = get_spark(app_name=f"geopull_spark_{args.cmd}", master=f"local[{args.cpus}]")
    wh = args.warehouse
    # engine version in the fingerprint (matches plans/pipeline.py): kernel
    # changes must invalidate cached snapshots, not serve stale results
    fp = f"synth:v1:streets={args.streets}:regions={args.regions}:engine={__version__}"

    def t(name: str) -> SnapshotTable:
        return SnapshotTable(os.path.join(wh, name))

    if args.cmd in ("download", "generate", "pipeline"):
        ways = synth.gen_osm_ways(spark, args.streets, n_regions=args.regions)
        m = t("osm_ways").commit(ways, fp, partition_count_col="region_code")
        print(f"osm_ways snapshot {m['snapshot_id']}: {m['row_count']} rows")
        if args.cmd != "pipeline":
            return 0
    if args.cmd in ("extract", "normalize", "block", "pipeline", "export"):
        ways = t("osm_ways").read(spark)
    if args.cmd == "export":
        out = extract.export_ways(
            ways, args.attributes, args.include_tags, args.geometry_type
        )
        if args.format == "geojson":
            from .sources.geojson import write_geojson

            write_geojson(out, args.output, properties=["way_id", "region_code"] + args.attributes)
        else:
            out.write.mode("overwrite").parquet(args.output)
        print(f"exported {spark.read.format('text' if args.format == 'geojson' else 'parquet').load(args.output).count()} features to {args.output}")
        return 0
    if args.cmd == "extract":
        for name, df in [
            ("admin", extract.extract_admin(ways)),
            ("water", extract.extract_water(ways)),
            ("linestring", extract.extract_linestrings(ways)),
        ]:
            m = t(name).commit(df, fp, partition_count_col="region_code", lineage=[fp])
            print(f"{name} snapshot {m['snapshot_id']}: {m['row_count']} rows")
        return 0
    if args.cmd in ("normalize", "block", "pipeline"):
        land = normalize.normalize_land(
            extract.extract_admin(ways),
            extract.extract_water(ways),
            synth.gen_coastline(spark, n_regions=args.regions),
        )
        m = t("land").commit(land, fp, partition_count_col="region_code", lineage=[fp])
        print(f"land snapshot {m['snapshot_id']}: {m['row_count']} parts")
        if args.cmd == "normalize":
            return 0
    if args.cmd in ("block", "pipeline"):
        land = t("land").read(spark)
        blocks = blocker.build_blocks(land, extract.extract_linestrings(ways))
        m = t("blocks").commit(blocks, fp, partition_count_col="region_code", lineage=[fp])
        print(f"blocks snapshot {m['snapshot_id']}: {m['row_count']} blocks")
        if args.cmd == "block":
            return 0
    if args.cmd in ("assign", "pipeline"):
        sf_dir = getattr(args, "sf_dir", "/root/testdata/sf0.001")
        blocks = t("blocks").read(spark)
        docs = synth.interleaved_documents(spark, sf_dir, n_regions=args.regions)
        assigned = spatial_join.assign_docs_full(docs, blocks)
        m = t("doc_blocks").commit(
            assigned, f"{fp}|docs:{sf_dir}",
            partition_count_col="region_code", lineage=[fp, f"docs:{sf_dir}"],
        )
        n_hit = t("doc_blocks").read(spark).filter(F.col("block_id").isNotNull()).count()
        print(f"doc_blocks snapshot {m['snapshot_id']}: {m['row_count']} docs, {n_hit} assigned")
    return 0


if __name__ == "__main__":
    sys.exit(main())
