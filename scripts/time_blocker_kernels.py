"""Single-threaded timing of the blocker's Python group kernel on the driver.

    python scripts/time_blocker_kernels.py --seed 1 --reps 5

Run it from the repository root: the Spark workers that build the inputs
import ``geopull_spark`` from the working directory.

Builds the ``world_build`` inputs of perfbench (8 regions × 600 streets),
runs extract and normalize once through Spark, and collects the normalized
land and the extracted lines. Lines are routed to land parts on the driver
with the same closed-bbox test as ``blocker.build_blocks_pre``. Then, per
rep, it calls ``blocker._block_cogroup`` once per (region, part) group in
this process, with no Spark job in the timed region.

Prints the median seconds of the kernel and a digest of the sorted
(geometry md5, area_m2) pairs of its output blocks, so that two checkouts
can be compared: run the same script in each, alternating.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REGIONS, STREETS = 8, 600  # perfbench WorldBuild


def collect_groups(seed: int):
    """[(land_pdf, lines_pdf)] per (region, part), in key order."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geopull_spark.operators import extract, normalize
    from geopull_spark.session import get_spark
    from geopull_spark.sources import synth

    spark = get_spark(app_name="time_blocker_kernels", master="local[4]")
    ways = synth.gen_osm_ways(spark, streets_per_region=STREETS, n_regions=REGIONS)
    ways = ways.orderBy(F.xxhash64("way_id", F.lit(seed))).cache()
    lines = extract.extract_linestrings(ways)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways),
        synth.gen_coastline(spark, n_regions=REGIONS),
    )
    land_rows = land.select(
        "region_code", "part_id", "geometry", "minx", "miny", "maxx", "maxy").collect()
    line_rows = lines.select(
        "region_code", "geometry", "minx", "miny", "maxx", "maxy").collect()
    spark.stop()

    groups = []
    for p in sorted(land_rows, key=lambda r: (r["region_code"], r["part_id"])):
        hits = [
            r for r in line_rows
            if r["region_code"] == p["region_code"]
            and r["minx"] <= p["maxx"] and r["maxx"] >= p["minx"]
            and r["miny"] <= p["maxy"] and r["maxy"] >= p["miny"]
        ]
        land_pdf = pd.DataFrame([p.asDict()])
        lines_pdf = pd.DataFrame({
            "l_region": [p["region_code"]] * len(hits),
            "l_part": [p["part_id"]] * len(hits),
            "l_geometry": [bytes(r["geometry"]) for r in hits],
        })
        groups.append((land_pdf, lines_pdf))
    return groups


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1, help="row-order seed of the ways")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    import pandas as pd

    from geopull_spark.operators import blocker

    groups = collect_groups(args.seed)
    t_block = []
    for _ in range(args.reps):
        t0 = time.perf_counter()
        blocks = pd.concat([blocker._block_cogroup(lp, ln) for lp, ln in groups],
                           ignore_index=True)
        t_block.append(time.perf_counter() - t0)

    h = hashlib.md5()
    for g, a in sorted((hashlib.md5(bytes(g)).hexdigest(), float(a).hex())
                       for g, a in zip(blocks["geometry"], blocks["area_m2"])):
        h.update(f"{g} {a}\n".encode())
    print(f"groups {len(groups)}  blocks {len(blocks)}  reps {args.reps}")
    print(f"_block_cogroup  median {statistics.median(t_block):.3f} s  runs "
          + " ".join(f"{t:.3f}" for t in t_block))
    print(f"digest {h.hexdigest()}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
