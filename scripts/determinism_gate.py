"""Determinism gate (VERDICT r3 #10): one command that fails loudly if any
plan variant forks the frozen outputs.

Runs at sf0.001 (fast, CI-style):
  1. full pipeline → blocks, built once
  2. doc→block assignment via THREE variants: the cogroup plan,
     cogroup+salt_k=4, and the streaming AvailableNow path
  3. MinHash signatures and LSH candidate pairs of the documents table
  4. compares md5 fingerprints of the sorted output rows against the frozen
     hashes below (and each assignment variant against the others)

Exit 0 = all variants byte-identical and equal to the frozen snapshot.
Exit 1 = drift (prints which variant and which hash).

Refreshing the frozen hashes after an INTENTIONAL output change:
  python scripts/determinism_gate.py --refresh
then commit the updated FROZEN dict with the change that justified it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

FROZEN = {
    "blocks": "5390cb517e6e07341d51d36b0d954d37",
    "assign": "1f85a9e68fc9d1b24ebfb08cd7cf08fc",
    "minhash_signature": "252a8e20a53fbe381fc54e745173d217",
    "minhash_lsh_pairs": "9e39ecfc5738e8c25ee16915b4d48190",
}


def _md5(rows) -> str:
    h = hashlib.md5()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def main() -> int:
    refresh = "--refresh" in sys.argv
    from pyspark.sql import functions as F

    from geopull_spark.operators import blocker, dedup, extract, normalize, spatial_join
    from geopull_spark.session import get_spark
    from geopull_spark.sources import synth
    from geopull_spark.streaming import ingest

    spark = get_spark(app_name="determinism_gate", master="local[8]",
                      shuffle_partitions=8)
    ways = synth.gen_osm_ways(spark, streets_per_region=25).cache()
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways),
        synth.gen_coastline(spark),
    ).cache()
    lines = extract.extract_linestrings(ways).cache()

    failures = []
    results: dict[str, str] = {}

    # -- blocks ------------------------------------------------------------
    blocks_ref = blocker.build_blocks(land, lines).cache()
    rows = [(r["block_id"], bytes(r["geometry"]).hex())
            for r in blocks_ref.select("block_id", "geometry").collect()]
    results["blocks"] = _md5(rows)

    # -- assignment via every plan variant ---------------------------------
    docs = synth.interleaved_documents(spark, SF).select("doc_id", "lon", "lat").cache()
    assign_hashes = {}
    for name, salt_k in (("cogroup", 0), ("cogroup_salt4", 4)):
        rows = [(r["doc_id"], r["block_id"]) for r in spatial_join.assign_docs_to_blocks(
            docs, blocks_ref, salt_k=salt_k).select("doc_id", "block_id").collect()]
        assign_hashes[name] = _md5(rows)

    # streaming AvailableNow path
    tmp = tempfile.mkdtemp(prefix="det_gate_")
    try:
        in_dir, out_dir, ckpt = (os.path.join(tmp, d) for d in ("in", "out", "ckpt"))
        os.makedirs(in_dir)
        docs.withColumn(
            "event_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        ).write.mode("append").parquet(in_dir)
        ingest.run_assign_stream(spark, in_dir, blocks_ref, out_dir, ckpt)
        rows = [(r["doc_id"], r["block_id"]) for r in
                spark.read.parquet(out_dir).select("doc_id", "block_id").collect()]
        assign_hashes["stream"] = _md5(rows)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if len(set(assign_hashes.values())) != 1:
        failures.append(f"assignment variants diverge: {assign_hashes}")
    results["assign"] = assign_hashes["cogroup"]

    # -- MinHash signatures and LSH pairs ----------------------------------
    texts = spark.read.parquet(f"{SF}/documents.parquet")
    for name, fn in (("minhash_signature", dedup.minhash_signature),
                     ("minhash_lsh_pairs", dedup.minhash_lsh_pairs)):
        results[name] = _md5([tuple(r) for r in fn(texts).collect()])

    # -- frozen-snapshot comparison ----------------------------------------
    if refresh:
        print("FROZEN = {")
        for k, v in results.items():
            print(f'    "{k}": "{v}",')
        print("}")
        return 0
    for k, v in results.items():
        if FROZEN.get(k) != v:
            failures.append(f"{k}: got {v}, frozen {FROZEN.get(k)}")

    if failures:
        for f in failures:
            print("DRIFT:", f)
        return 1
    print("determinism gate OK:", results)
    return 0


if __name__ == "__main__":
    sys.exit(main())
