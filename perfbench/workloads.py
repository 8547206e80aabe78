"""The three workloads: each sets up its inputs, then runs one closed-loop
operation at a time through the engine's public functions.

``op`` returns (items, check): the number of items the operation did (blocks
built, documents ingested, documents deduplicated) and a check
that runs after the operation's time is taken and returns the number of
wrong outputs. The world-building chain is shared: ``world_build`` times it,
``ingest_append`` pays it once in set-up.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

import gen
from checks import BlockOracle, digest, mismatches
from harness import WORK, fresh_dir, median


WARMUP_OPS = 2  # untimed ops in set-up; with one, the first timed ops were slower


def _timed(fn, reps: int) -> float:
    """Median seconds of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def _plain_phase(name, call, materialize):
    df = call()
    return df, materialize(df)


def _lazy_phase(name, call, materialize):
    return call(), None


def _cache_all(dfs) -> int:
    return sum(gen.cache(df) for df in dfs)


def build_world(phase, spark, ways, coast) -> dict:
    """extract → normalize → build_blocks_pre → assign_block_ids → cell index
    + refine geometry, each call made through ``phase``, which materializes
    its output unless it is ``_lazy_phase``."""
    from geopull_spark.operators import blocker, extract, normalize, spatial_join

    (admin, water, lines), _ = phase(
        "extract",
        lambda: (extract.extract_admin(ways), extract.extract_water(ways),
                 extract.extract_linestrings(ways)),
        _cache_all,
    )
    land, _ = phase("normalize", lambda: normalize.normalize_land(admin, water, coast), gen.cache)
    pre, _ = phase("blocker.pre", lambda: blocker.build_blocks_pre(land, lines), gen.cache)
    blocks, n_blocks = phase("blocker.ids", lambda: blocker.assign_block_ids(pre), gen.cache)
    bc, _ = phase("spatial_join.cell_index",
                  lambda: spatial_join.build_block_cell_index(blocks), gen.cache)
    gc, _ = phase("spatial_join.refine_geom",
                  lambda: spatial_join.build_refine_geometry(blocks), gen.cache)
    return {"blocks": blocks, "bc": bc, "gc": gc, "n_blocks": n_blocks,
            "temps": [admin, water, lines, land, pre]}


def drop_world(world: dict) -> None:
    for df in world["temps"] + [world["blocks"], world["bc"], world["gc"]]:
        df.unpersist(blocking=True)


class Workload:
    name = ""
    max_ops: int | None = None  # inputs prepared for at most this many ops

    def __init__(self, spark, tracer, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed

    def setup(self) -> None:
        raise NotImplementedError

    def op(self):
        raise NotImplementedError

    def finish(self) -> int:
        """End-of-run checks; returns the number of failed checks."""
        return 0

    def traced_extras(self) -> None:
        """Traced runs only: phases outside the timed loop."""

    def layer_metrics(self, rows) -> dict:
        """Ratios from the traced phase rows and direct kernel timings."""
        return {}


class WorldBuild(Workload):
    """The blocker's polygonize cogroup and the two index builds do nearly
    all the work; assignment and the manifest do none."""

    name = "world_build"
    REGIONS, STREETS = 8, 600

    def setup(self):
        from geopull_spark.operators import extract
        from geopull_spark.sources import synth

        self.ways = gen.world_ways(self.spark, self.seed, self.REGIONS, self.STREETS)
        gen.cache(self.ways)
        self.coast = synth.gen_coastline(self.spark, n_regions=self.REGIONS)
        gen.cache(self.coast)
        first = sorted(synth.region_specs(self.REGIONS))[0]
        self.region_lines = [bytes(r[0]) for r in extract.extract_linestrings(self.ways)
                             .filter(F.col("region_code") == first).select("geometry").collect()]
        # warm-up builds (JIT, worker imports, first-use planning: timed ops
        # were still getting faster after one); their digest is the
        # reference that every timed build must reproduce
        for _ in range(WARMUP_OPS):
            self.n_blocks, self.digest = self._summary(
                build_world(_plain_phase, self.spark, self.ways, self.coast))
        if self.n_blocks == 0:
            raise RuntimeError("world_build: the warm-up build produced no blocks")

    @staticmethod
    def _summary(world) -> tuple[int, str]:
        rows = world["blocks"].select("block_id", F.md5("geometry")).collect()
        drop_world(world)
        return len(rows), digest(rows)

    def op(self):
        world = build_world(self.tracer.phase, self.spark, self.ways, self.coast)

        def check():
            n, d = self._summary(world)
            return int(n != world["n_blocks"] or (n, d) != (self.n_blocks, self.digest))

        return world["n_blocks"], check

    def layer_metrics(self, rows):
        from geopull_spark.kernels.polygonize import polygonize_wkb

        n = len(polygonize_wkb(self.region_lines))
        t = _timed(lambda: polygonize_wkb(self.region_lines), 3)
        return {"kernels.polygonize.us_per_block": 1e6 * t / n}


class IngestAppend(Workload):
    """Many small assignments over a prebuilt world and index, each appended
    as a snapshot: fixed per-call cost dominates, and writes interleave with
    the reads."""

    name = "ingest_append"
    REGIONS, STREETS = 8, 400
    BATCH, SAMPLE_ONE_IN = 10_000, 400
    max_ops = 32

    def setup(self):
        from geopull_spark.sources import synth
        from geopull_spark.sources.manifest import SnapshotTable

        ways = gen.world_ways(self.spark, self.seed, self.REGIONS, self.STREETS)
        coast = synth.gen_coastline(self.spark, n_regions=self.REGIONS)
        # one lazy chain, as a user would build it: only the outputs are cached
        self.world = build_world(_lazy_phase, self.spark, ways, coast)
        for key in ("blocks", "bc", "gc"):
            gen.cache(self.world[key])
        self.oracle = BlockOracle(self.world["blocks"].select(
            "block_id", "geometry", "minx", "miny", "maxx", "maxy").collect())
        n = self.BATCH * (self.max_ops + 2)  # the last two batches are the warm-up
        self.docs = gen.doc_points(self.spark, self.seed, n, self.REGIONS,
                                   batch_size=self.BATCH)
        gen.cache(self.docs)
        sample = self.docs.filter(gen.sample_filter(self.seed, self.SAMPLE_ONE_IN))
        self.sample = {}
        for doc_id, lon, lat, b in sample.collect():
            self.sample.setdefault(b, []).append((doc_id, lon, lat))
        self.expected = {b: self.oracle.expected(d) for b, d in self.sample.items()}
        # warm both paths of SnapshotTable.append: the first batch of a table
        # is committed, later ones are appended
        warm = SnapshotTable(fresh_dir(os.path.join(WORK, "ingest_warm")))
        for b in (self.max_ops, self.max_ops + 1):
            warm.append(self._assign(self._batch(b)), f"warm-{b}")
        self.root = fresh_dir(os.path.join(WORK, "ingest_table"))
        self.table = SnapshotTable(self.root)
        self.appended = 0
        self.batches = 0

    def _assign(self, docs):
        from geopull_spark.operators import spatial_join

        w = self.world
        return spatial_join.assign_docs_to_blocks(docs, w["blocks"], w["bc"], geom_cells=w["gc"])

    def _batch(self, b: int):
        return self.docs.filter(F.col("batch") == b).select("doc_id", "lon", "lat")

    def op(self):
        b = self.batches
        assigned, n = self.tracer.phase(
            "spatial_join.assign", lambda: self._assign(self._batch(b)), gen.cache)
        _, manifest = self.tracer.phase(
            "manifest.append", lambda: assigned,
            lambda df: self.table.append(df, fingerprint=f"s{self.seed}-b{b}"))
        self.batches += 1

        def check():
            ids = [d[0] for d in self.sample.get(b, [])]
            rows = assigned.filter(F.col("doc_id").isin(ids)).select("doc_id", "block_id").collect()
            assigned.unpersist()
            bad = mismatches(self.expected.get(b, {}), rows)
            bad += manifest["row_count"] != self.appended + n
            self.appended += n
            return bad

        return self.BATCH, check

    def finish(self):
        read = self.table.read(self.spark).count()
        chain = len(self.table.history())
        return int(read != self.appended) + int(chain != self.batches)

    def layer_metrics(self, rows):
        import numpy as np

        from geopull_spark.kernels.pointops import build_edge_soup, points_in_geoms

        # the refine kernel on the bbox candidates of the sampled docs
        px, py, gid = [], [], []
        for docs in self.sample.values():
            for _, lon, lat in docs:
                for i in self.oracle.candidates(lon, lat):
                    px.append(lon), py.append(lat), gid.append(int(i))
        used, local = np.unique(np.array(gid, dtype=np.int64), return_inverse=True)
        geoms = [self.oracle.geoms[i] for i in used]
        px, py = np.array(px), np.array(py)
        t = _timed(lambda: points_in_geoms(px, py, local, build_edge_soup(geoms)), 20)

        calls = [r for r in rows if r["phase"] == "spatial_join.assign"]
        snap = self.table.current_snapshot()
        files = snap["files"]
        manifest = os.path.join(self.table.manifest_dir, f"v{snap['snapshot_id']}.json")
        return {
            "spatial_join.candidates_per_doc": median([r["join_rows"] for r in calls]) / self.BATCH,
            "kernels.pointops.us_per_candidate": 1e6 * t / len(px),
            "manifest.bytes_per_doc": sum(map(os.path.getsize, files)) / snap["row_count"],
            "manifest.files": float(len(files)),
            "manifest.json_kb": os.path.getsize(manifest) / 1024,
        }


class CorpusDedup(Workload):
    """The only workload that runs operators.dedup and kernels.texthash."""

    name = "corpus_dedup"
    DOCS, PLANTED = 40_000, 800

    def setup(self):
        frame, planted = gen.corpus(self.seed, self.DOCS, self.PLANTED)
        self.texts = [t.encode() for t in frame["text"][:2000]]
        self.docs = self.spark.createDataFrame(frame).repartition(4)
        gen.cache(self.docs)
        self.planted = self.spark.createDataFrame(planted, "doc_a long, doc_b long")
        gen.cache(self.planted)
        self.pairs = []
        for _ in range(WARMUP_OPS):
            self._pairs(self.docs).count()

    @staticmethod
    def _pairs(docs):
        from geopull_spark.operators import dedup

        return dedup.minhash_lsh_pairs(docs, text_col="text", id_col="doc_id")

    def op(self):
        pairs, n = self.tracer.phase("dedup.pairs", lambda: self._pairs(self.docs), gen.cache)
        self.pairs.append(n)

        def check():
            found = pairs.join(F.broadcast(self.planted), ["doc_a", "doc_b"]).count()
            pairs.unpersist()
            return self.PLANTED - found

        return self.DOCS, check

    def traced_extras(self):
        from geopull_spark.operators import dedup

        # the signature pass on its own, warm, outside the timed loop; a noop
        # write evaluates every column (a count would prune the UDF away)
        self.tracer.phase("dedup.signature",
                          lambda: dedup.minhash_signature(self.docs, "text", id_col="doc_id"),
                          lambda df: df.write.format("noop").mode("overwrite").save())

    def layer_metrics(self, rows):
        from geopull_spark.kernels.texthash import minhash_bands_batch

        kb = sum(len(t) for t in self.texts) / 1024
        t = _timed(lambda: minhash_bands_batch(self.texts, 8, 8), 5)
        return {"dedup.pairs_per_doc": median(self.pairs) / self.DOCS,
                "kernels.texthash.us_per_kb": 1e6 * t / kb}


WORKLOADS = {w.name: w for w in (WorldBuild, IngestAppend, CorpusDedup)}
