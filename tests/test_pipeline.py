"""Pipeline invariant tests — mirrors the reference's behavioral tests
(/root/reference/tests/test_blocker.py:128-229, test_normalizer.py:71-99)
plus the target engine's span-sequence and determinism requirements.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopull_spark.functions.geometry import st_area_m2
from geopull_spark.kernels import area as karea
from geopull_spark.kernels import wkb as kwkb
from geopull_spark.operators import blocker, extract, normalize, spatial_join
from geopull_spark.session import get_spark
from geopull_spark.sources import synth

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="module")
def world(spark):
    ways = synth.gen_osm_ways(spark, streets_per_region=25).cache()
    admin = extract.extract_admin(ways)
    water = extract.extract_water(ways)
    lines = extract.extract_linestrings(ways).cache()
    land = normalize.normalize_land(admin, water, synth.gen_coastline(spark)).cache()
    blocks = blocker.build_blocks(land, lines).cache()
    return {"ways": ways, "lines": lines, "land": land, "blocks": blocks}


def test_extract_filters(spark):
    """P7 include/exclude predicates match the reference sets exactly."""
    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    lines = extract.extract_linestrings(ways)
    rows = lines.select("way_id").collect()
    tags = {r["way_id"]: r["tags"] for r in ways.collect()}
    kept = {r["way_id"] for r in rows}
    for wid, t in tags.items():
        if t.get("highway") in ("footway", "path", "steps", "cycleway"):
            assert wid not in kept, f"excluded highway kept: {t}"
        if t.get("natural") == "coastline":
            assert wid not in kept
        if t.get("boundary") == "administrative":
            assert wid not in kept
        if t.get("railway"):
            assert wid in kept


def test_admin_level_choice(spark, world):
    """normalizer.py:86-95: AAA/BBB keep level 4; CCC (no level 4) keeps 2."""
    ways = world["ways"]
    admin = extract.extract_admin(ways)
    keep = {r["region_code"]: r["keep_level"] for r in
            normalize.choose_levels(normalize.numeric_admin(admin)).collect()}
    assert keep == {"AAA": 4, "BBB": 4, "CCC": 2}


def test_land_excludes_water_and_sea(world):
    """After normalize, land area < admin area (water removed) and CCC's
    maritime overhang is clipped by the coastline difference."""
    land = world["land"]
    areas = {
        r["region_code"]: r["a"]
        for r in land.withColumn("a", st_area_m2("geometry"))
        .groupBy("region_code").agg(F.sum("a").alias("a")).collect()
    }
    full_square = karea.wkb_area_m2(kwkb.polygon([(0, 0), (1, 0), (1, 1), (0, 1)]))
    for r, a in areas.items():
        assert a < full_square, r  # lakes + river removed
        assert a > 0.8 * full_square, r  # but most land remains


def test_blocks_nonoverlapping_and_conserve_area(world):
    """tests/test_blocker.py:128-177 invariants: pairwise disjoint interiors,
    Σ block area == land area."""
    blocks = world["blocks"]
    land = world["land"]
    land_area = land.withColumn("a", st_area_m2("geometry")).agg(F.sum("a")).head()[0]
    blocks_area = blocks.agg(F.sum("area_m2")).head()[0]
    assert blocks_area == pytest.approx(land_area, rel=1e-9)

    # overlap check: pairwise intersection area must be 0 (per region)
    from geopull_spark.kernels.overlay import overlay as koverlay

    rows = blocks.select("region_code", "geometry").collect()
    by_region: dict = {}
    for r in rows:
        by_region.setdefault(r["region_code"], []).append(kwkb.loads(bytes(r["geometry"])))
    for region, polys in by_region.items():
        boxes = np.array([kwkb.bounds(p) for p in polys])
        n = len(polys)
        for i in range(n):
            for j in range(i + 1, n):
                if (
                    boxes[i, 0] < boxes[j, 2] and boxes[i, 2] > boxes[j, 0]
                    and boxes[i, 1] < boxes[j, 3] and boxes[i, 3] > boxes[j, 1]
                ):
                    inter = koverlay([polys[i]], [polys[j]], "intersection")
                    a = sum(karea.geom_area_m2(p) for p in inter)
                    assert a < 1e-6, f"{region} blocks {i},{j} overlap by {a} m²"


def test_block_ids_unique_and_formatted(world):
    """tests/test_blocker.py:226-229: block_id unique, non-constant, format
    {code}_{geohash12}_{rank}."""
    blocks = world["blocks"]
    n = blocks.count()
    assert n > 3
    assert blocks.select("block_id").distinct().count() == n
    bad = blocks.filter(~F.col("block_id").rlike("^[A-Z]{3}_[0-9b-hj-km-np-z]{12}_[0-9]+$"))
    assert bad.count() == 0


def test_blocks_deterministic(spark, world):
    """north_star: join output rows bit-identical across runs/partitionings."""
    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    lines = extract.extract_linestrings(ways)
    admin = extract.extract_admin(ways)
    water = extract.extract_water(ways)
    land2 = normalize.normalize_land(admin, water, synth.gen_coastline(spark)).repartition(7)
    blocks2 = blocker.build_blocks(land2, lines.repartition(5))
    a = sorted(
        (r["block_id"], bytes(r["geometry"]).hex())
        for r in world["blocks"].select("block_id", "geometry").collect()
    )
    b = sorted(
        (r["block_id"], bytes(r["geometry"]).hex())
        for r in blocks2.select("block_id", "geometry").collect()
    )
    assert a == b


def test_doc_assignment_and_span_invariant(spark, world):
    """J7 assignment + the per-row span-sequence invariant (kind, text,
    media_ref, order) preserved through the shuffle-join."""
    docs = synth.interleaved_documents(spark, SF).cache()
    out = spatial_join.assign_docs_full(docs, world["blocks"]).cache()
    assert out.count() == docs.count()  # left join keeps every doc
    assigned = out.filter(F.col("block_id").isNotNull())
    assert assigned.count() > 0.8 * docs.count()  # most docs are on land

    # span invariant: spans array identical before/after the join+shuffle
    before = {r["doc_id"]: r["spans"] for r in docs.select("doc_id", "spans").collect()}
    after = {r["doc_id"]: r["spans"] for r in out.select("doc_id", "spans").collect()}
    assert before == after

    # offsets strictly increasing per doc (order component of the invariant)
    viol = out.filter(
        F.exists(
            F.expr("transform(spans, (s, i) -> i > 0 AND s.offset <= spans[i-1].offset)"),
            lambda x: x,
        )
    )
    assert viol.count() == 0


def test_doc_assignment_pip_exact(spark, world):
    """Every assigned doc point is actually inside its block polygon."""
    docs = synth.interleaved_documents(spark, SF)
    bc = spatial_join.build_block_cell_index(world["blocks"])
    out = spatial_join.assign_docs_to_blocks(
        docs.select("doc_id", "lon", "lat"), world["blocks"], bc
    )
    geom = {r["block_id"]: bytes(r["geometry"]) for r in world["blocks"].collect()}
    from geopull_spark.kernels.pointops import point_in_geom

    for r in out.collect():
        g = kwkb.loads(geom[r["block_id"]])
        assert point_in_geom(np.array([r["lon"]]), np.array([r["lat"]]), g)[0], r


def test_manifest_resume(spark, tmp_path):
    """S8 analog: second commit with same fingerprint is a no-op snapshot."""
    from geopull_spark.sources.manifest import SnapshotTable

    df = spark.range(10).withColumn("region_code", F.lit("AAA"))
    t = SnapshotTable(str(tmp_path / "tbl"))
    m1 = t.commit(df, "fp1", partition_count_col="region_code")
    m2 = t.commit(df, "fp1")
    assert m1["snapshot_id"] == m2["snapshot_id"]
    assert m1["row_count"] == 10
    assert m1["partition_counts"] == {"AAA": 10}
    m3 = t.commit(spark.range(5).withColumn("region_code", F.lit("BBB")), "fp2")
    assert m3["parent_id"] == m1["snapshot_id"]
    assert t.read(spark).count() == 5


def test_manifest_time_travel(spark, tmp_path):
    """Iceberg-shaped time travel: historical snapshots stay readable and
    history() walks the parent chain."""
    from geopull_spark.sources.manifest import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tt"))
    m1 = t.commit(spark.range(3), "v1")
    m2 = t.commit(spark.range(7), "v2")
    assert t.read(spark).count() == 7
    assert t.read_at(spark, m1["snapshot_id"]).count() == 3
    hist = t.history()
    assert [h["snapshot_id"] for h in hist] == [m2["snapshot_id"], m1["snapshot_id"]]


def test_manifest_schema_evolution(spark, tmp_path):
    """Add-column evolution: a v1 snapshot reads back under the CURRENT
    schema with the added column as typed nulls, in current column order —
    so old and new snapshots union cleanly."""
    from geopull_spark.sources.manifest import SnapshotTable

    t = SnapshotTable(str(tmp_path / "ev"))
    m1 = t.commit(spark.range(4).select(F.col("id"), F.lit("x").alias("a")), "v1")
    t.commit(
        spark.range(2).select(
            F.col("id"), F.lit("y").alias("a"), F.lit(1.5).alias("score")
        ),
        "v2",
    )
    old = t.read_at(spark, m1["snapshot_id"], with_current_schema=True)
    assert old.columns == ["id", "a", "score"]
    assert old.schema["score"].dataType.typeName() == "double"
    rows = old.collect()
    assert len(rows) == 4 and all(r["score"] is None for r in rows)
    both = t.read(spark).unionByName(old)
    assert both.count() == 6
    # raw historical read is unchanged (no phantom columns)
    assert t.read_at(spark, m1["snapshot_id"]).columns == ["id", "a"]


def test_manifest_compaction(spark, tmp_path):
    """Small-file compaction: new snapshot, fewer files, identical rows,
    fingerprint preserved (resume still skips), history intact."""
    from geopull_spark.sources.manifest import SnapshotTable

    t = SnapshotTable(str(tmp_path / "cp"))
    m1 = t.commit(spark.range(100).repartition(8), "fpC")
    assert len(t.data_files()) >= 8
    mc = t.compact(spark, target_files=1)
    assert len(t.data_files()) == 1
    assert mc["operation"] == "compact"
    assert mc["fingerprint"] == "fpC" and t.is_current("fpC")  # resume intact
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(100))
    # prior snapshot still time-travelable; parent chain records the rewrite
    assert t.read_at(spark, m1["snapshot_id"]).count() == 100
    assert t.history()[0]["parent_id"] == m1["snapshot_id"]
    # committing the same fingerprint after compaction is still a no-op
    m3 = t.commit(spark.range(100), "fpC")
    assert m3["snapshot_id"] == mc["snapshot_id"]


def test_geojson_roundtrip(spark, world, tmp_path):
    """S4: write blocks as ndjson GeoJSON, read back, WKB-identical."""
    from geopull_spark.sources.geojson import read_geojson, write_geojson

    blocks = world["blocks"]
    out = str(tmp_path / "gj")
    write_geojson(blocks.select("region_code", "block_id", "geometry"), out,
                  properties=["region_code", "block_id"])
    back = read_geojson(spark, out)
    a = {r["block_id"]: bytes(r["geometry"]).hex()
         for r in blocks.select("block_id", "geometry").collect()}
    b = {r["properties"]["block_id"]: bytes(r["geometry"]).hex()
         for r in back.collect()}
    assert a == b
    # bbox columns populated and sane
    bad = back.filter((F.col("minx") > F.col("maxx")) | (F.col("miny") > F.col("maxy")))
    assert bad.count() == 0


def test_registry_enrich(spark):
    from geopull_spark.sources.registry import enrich_with_registry, region_registry
    from geopull_spark.sources import synth as s2

    reg = region_registry(spark)
    assert reg.count() >= 70
    assert reg.select("region_code").distinct().count() == reg.count()
    docs = s2.interleaved_documents(spark, SF).groupBy("region_code").count()
    out = enrich_with_registry(docs, reg)
    rows = {r["region_code"]: r["continent"] for r in out.collect()}
    assert rows == {"AAA": "Synthetic", "BBB": "Synthetic", "CCC": "Synthetic"}
    # broadcast side is the registry (fact side does not shuffle)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cli_export_and_version(spark, tmp_path, capsys):
    from geopull_spark.__main__ import main

    assert main(["version"]) == 0
    wh = str(tmp_path / "wh")
    assert main(["generate", "--warehouse", wh, "--streets", "12", "--cpus", "4"]) == 0
    out = str(tmp_path / "exp")
    assert main([
        "export", "--warehouse", wh, "--cpus", "4",
        "--include-tags", "highway=primary", "--attributes", "highway",
        "--geometry-type", "linestring", "--output", out, "--format", "geojson",
    ]) == 0
    from geopull_spark.sources.geojson import read_geojson

    feats = read_geojson(spark, out)
    rows = feats.collect()
    assert len(rows) > 0
    assert all(r["properties"]["highway"] == "primary" for r in rows)
    assert all(r["geom_type"] == "LineString" for r in rows)
    # parquet format too
    out2 = str(tmp_path / "exp2")
    assert main([
        "export", "--warehouse", wh, "--cpus", "4",
        "--include-tags", "railway", "--output", out2, "--format", "parquet",
    ]) == 0
    pq = spark.read.parquet(out2)
    assert pq.count() > 0


def test_subtract_by_region_both_paths(spark):
    """J3 API surface: empty-right regions pass through with zero decode
    (bbox columns reused, canonical order kept); non-empty right subtracts."""
    sq = kwkb.polygon([(0, 0), (4, 0), (4, 4), (0, 4)])
    hole_right = kwkb.polygon([(1, 1), (2, 1), (2, 2), (1, 2)])
    from geopull_spark.operators.normalize import _part_rows
    from geopull_spark.kernels import wkb as _w

    rows = _part_rows("AAA", [_w.loads(sq)]) + _part_rows("BBB", [_w.loads(sq)])
    land = spark.createDataFrame(
        rows, ["region_code", "part_id", "geometry", "minx", "miny", "maxx", "maxy"]
    )
    other = spark.createDataFrame([("BBB", bytearray(hole_right))], ["region_code", "geometry"])
    out = normalize.subtract_by_region(land, other).collect()
    by_region = {r["region_code"]: r for r in out}
    # AAA untouched: byte-identical geometry, bbox preserved
    assert bytes(by_region["AAA"]["geometry"]) == bytes(rows[0][2])
    assert by_region["AAA"]["maxx"] == 4.0
    # BBB lost the hole's area
    a_bbb = karea.wkb_area_m2(bytes(by_region["BBB"]["geometry"]))
    a_aaa = karea.wkb_area_m2(bytes(by_region["AAA"]["geometry"]))
    assert a_bbb < a_aaa


def test_media_decode_truncated_raises_valueerror():
    """ADVICE r3: truncated/malformed chunk headers raise the documented
    ValueError, never struct.error."""
    from geopull_spark.kernels.png import png_decode, wav_decode, png_encode, wav_encode

    good_png = png_encode(np.zeros((4, 4, 3), dtype=np.uint8))
    good_wav = wav_encode(np.zeros(16, dtype=np.int16))
    for buf in [good_png[:10], good_png[:20],
                good_png[:8] + b"\xff\xff\xff\xff12345678"]:
        with pytest.raises(ValueError):
            png_decode(buf)
    for buf in [good_wav[:14], good_wav[:20], good_wav[:30]]:
        with pytest.raises(ValueError):
            wav_decode(buf)


def test_many_part_region_blocks_per_island(spark):
    """VERDICT r3 #3: a 10⁴-part archipelago region. Each island splits into
    the blocks its crossing streets cut (×2 per crossing direction) and keeps
    its area; a street whose bbox meets an island's only on its edge is
    routed there by the closed bbox filter and cuts nothing."""
    from geopull_spark.operators.normalize import _part_rows

    step, w = 0.02, 0.01  # 100×100 grid of islands w° wide, step° apart
    sq = {(gx, gy): kwkb.polygon([(gx * step, gy * step), (gx * step + w, gy * step),
                                  (gx * step + w, gy * step + w), (gx * step, gy * step + w)])
          for gy in range(100) for gx in range(100)}
    land = spark.createDataFrame(
        _part_rows("ARC", [kwkb.loads(b) for b in sq.values()]),
        ["region_code", "part_id", "geometry", "minx", "miny", "maxx", "maxy"],
    ).repartition(8)
    # east-west streets cross islands gx<50 of rows gy<40, north-south ones
    # islands gy<20 of columns gx<10; the last one runs along the east edge
    # of island (70, 70), its degenerate bbox touching that island's bbox
    h = w / 2
    segs = ([(-h, gy * step + h, 50 * step - h, gy * step + h) for gy in range(40)]
            + [(gx * step + h, -h, gx * step + h, 20 * step - h) for gx in range(10)]
            + [(70 * step + w, 70 * step - h, 70 * step + w, 70 * step + w + h)])
    lines = spark.createDataFrame(
        [("ARC", bytearray(kwkb.linestring([(x0, y0), (x1, y1)])), x0, y0, x1, y1)
         for x0, y0, x1, y1 in segs],
        ["region_code", "geometry", "minx", "miny", "maxx", "maxy"],
    )
    got_n, got_area = {}, {}
    for r in blocker.build_blocks(land, lines).select("area_m2", "rep_lon", "rep_lat").collect():
        key = (int(r["rep_lon"] // step), int(r["rep_lat"] // step))
        got_n[key] = got_n.get(key, 0) + 1
        got_area[key] = got_area.get(key, 0.0) + r["area_m2"]
    assert got_n == {(gx, gy): (1 + (gx < 50 and gy < 40)) * (1 + (gx < 10 and gy < 20))
                     for gx, gy in sq}
    for key, b in sq.items():
        assert got_area[key] == pytest.approx(karea.wkb_area_m2(b), rel=1e-9)


def test_manifest_file_pruning_read_range(spark, tmp_path):
    """Iceberg-style data skipping: per-file min/max from parquet footers
    recorded at commit; a range-clustered table answers a needle range from
    a strict subset of files with results identical to the full scan."""
    from pyspark.sql import functions as F

    from geopull_spark.sources.manifest import SnapshotTable

    df = spark.range(0, 10000).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") % 97).alias("v"),
        F.format_string("s%05d", F.col("id")).alias("name"),
    ).repartitionByRange(8, "k")  # clustered → disjoint per-file ranges
    t = SnapshotTable(str(tmp_path / "pr"))
    snap = t.commit(df, fingerprint="fp-prune")
    assert snap["file_stats"], "footer stats were harvested"
    some = next(iter(snap["file_stats"].values()))
    assert "k" in some and "name" in some  # numeric + string stats

    got = t.read_range(spark, "k", lo=2500, hi=2600).collect()
    want = t.read(spark).filter(F.col("k").between(2500, 2600)).collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in want)
    assert t.last_scan["files_read"] < t.last_scan["files_total"]
    assert t.last_scan["files_total"] == 8

    # out-of-range query: zero files read, empty frame with table schema
    empty = t.read_range(spark, "k", lo=50000)
    assert empty.count() == 0 and t.last_scan["files_read"] == 0
    assert empty.columns == ["k", "v", "name"]

    # string-column pruning, open-ended bound
    got2 = t.read_range(spark, "name", lo="s09900")
    assert got2.count() == 100 and t.last_scan["files_read"] == 1

    # column without stats (array) → every file read, semantics unchanged
    df2 = spark.range(0, 100).select(
        F.col("id").alias("k"), F.array(F.col("id")).alias("arr"))
    t2 = SnapshotTable(str(tmp_path / "pr2"))
    t2.commit(df2, fingerprint="fp2")
    assert t2.read_range(spark, "k", lo=10, hi=20).count() == 11


def test_manifest_cluster_and_bloom(spark, tmp_path):
    """cluster_by gives disjoint per-file ranges (needle range → 1 file);
    bloom_cols writes native parquet bloom filters verifiable in the
    footer metadata."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from geopull_spark.sources.manifest import SnapshotTable

    df = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        F.format_string("u%08d", (F.col("id") * 2654435761) % 1000000007).alias("uid"),
    )
    t = SnapshotTable(str(tmp_path / "cb"))
    t.commit(df, fingerprint="fp-cb", cluster_by="k", bloom_cols=["uid"])

    got = t.read_range(spark, "k", lo=7000, hi=7010)
    assert got.count() == 11
    assert t.last_scan["files_read"] == 1 and t.last_scan["files_total"] > 1

    # native bloom filters are inside the files: an identical commit
    # without bloom_cols must be measurably smaller (pyarrow 16 doesn't
    # expose bloom offsets, so pin the on-disk effect), and the data reads
    # back identically
    t2 = SnapshotTable(str(tmp_path / "cb2"))
    t2.commit(df, fingerprint="fp-cb2", cluster_by="k")
    size_bloom = sum(os.path.getsize(p) for p in t.data_files())
    size_plain = sum(os.path.getsize(p) for p in t2.data_files())
    assert size_bloom > size_plain + 1000
    assert t.read(spark).count() == t2.read(spark).count() == 20000
    _ = pq.ParquetFile(t.data_files()[0]).metadata  # footers stay readable


def test_manifest_append_snapshots(spark, tmp_path):
    """Iceberg append semantics: a new snapshot references the parent's
    files plus the batch's — no rewrite; time travel to the parent sees
    only the old rows; stats union keeps file pruning working across
    appended dirs; compact of the union conserves rows."""
    from pyspark.sql import functions as F

    from geopull_spark.sources.manifest import SnapshotTable

    t = SnapshotTable(str(tmp_path / "ap"))
    base = spark.range(0, 1000).select(F.col("id").alias("k"))
    s1 = t.commit(base.repartitionByRange(4, "k"), fingerprint="fp-base")
    batch = spark.range(1000, 1500).select(F.col("id").alias("k"))
    s2 = t.append(batch.repartitionByRange(2, "k"), fingerprint="fp-d1")

    assert s2["parent_id"] == s1["snapshot_id"]
    assert s2["row_count"] == 1500 and t.read(spark).count() == 1500
    # parent's files were NOT rewritten: they are a subset of the child's
    assert set(t.data_files(s1["snapshot_id"])) < set(t.data_files())
    # time travel: parent still reads only the original rows
    assert t.read_at(spark, s1["snapshot_id"]).count() == 1000
    # idempotent on fingerprint
    assert t.append(batch, fingerprint="fp-d1")["snapshot_id"] == s2["snapshot_id"]

    # pruning across both dirs: a needle in the appended range skips every
    # base file
    got = t.read_range(spark, "k", lo=1400, hi=1450)
    assert got.count() == 51
    assert t.last_scan["files_read"] < len(t.data_files(s1["snapshot_id"]))
    want = sorted(r["k"] for r in t.read(spark)
                  .filter(F.col("k").between(1400, 1450)).collect())
    assert sorted(r["k"] for r in got.collect()) == want

    # compact the appended table into one file; rows conserved
    s3 = t.compact(spark, target_files=1)
    assert s3["row_count"] == 1500 and len(t.data_files()) == 1
    assert t.read(spark).count() == 1500


def test_manifest_append_runs_one_job(spark, tmp_path):
    """append writes the batch and takes its row count from the parquet
    footers: one Spark job (the write), no read-back of the batch."""
    from geopull_spark.sources.manifest import SnapshotTable

    t = SnapshotTable(str(tmp_path / "one_job"))
    t.commit(spark.range(0, 100).select(F.col("id").alias("k")), fingerprint="fp-base")
    batch = spark.range(100, 350, numPartitions=3).select(F.col("id").alias("k")).cache()
    batch.count()
    sc = spark.sparkContext
    sc.setJobGroup("manifest-append-one-job", "append under test")
    try:
        snap = t.append(batch, fingerprint="fp-d1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        batch.unpersist()
    # the status tracker is fed by the listener bus: drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    assert len(sc.statusTracker().getJobIdsForGroup("manifest-append-one-job")) == 1
    assert snap["row_count"] == 350 == t.read(spark).count()


def test_manifest_append_nested_type_ignores_nullability(spark, tmp_path):
    """Nested nullability (here an array's containsNull) drifts across the
    parquet round-trip that produced the table schema; it must not reject an
    append. A different nested element type still must."""
    from geopull_spark.sources.manifest import SnapshotTable

    def batch(lo, hi, elem="bigint"):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.array(F.col("id").cast(elem)).alias("sig"))

    t = SnapshotTable(str(tmp_path / "nested"))
    t.commit(batch(0, 10), fingerprint="fp-base")
    assert not batch(10, 15).schema["sig"].dataType.containsNull
    snap = t.append(batch(10, 15), fingerprint="fp-d1")
    assert snap["row_count"] == 15
    assert sorted(r["sig"][0] for r in t.read(spark).collect()) == list(range(15))
    with pytest.raises(ValueError, match="schema does not match"):
        t.append(batch(15, 20, elem="int"), fingerprint="fp-d2")


def test_get_spark_defaults_worker_python_to_driver(spark, monkeypatch):
    """With no PYSPARK_PYTHON configured, the worker wrapper runs the
    driver's own interpreter, not whatever ``python`` is on PATH."""
    import sys

    for var in ("PYSPARK_PYTHON", "GEOPULL_BASE_PYTHON", "GEOPULL_WORKER_PYTHON"):
        monkeypatch.delenv(var, raising=False)
    get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    assert os.environ["GEOPULL_BASE_PYTHON"] == sys.executable
    assert os.path.basename(os.environ["PYSPARK_PYTHON"]) == "pyworker.sh"


def test_get_spark_from_a_foreign_working_directory(tmp_path):
    """A driver started outside the repo root, with no PYTHONPATH, runs a
    Python UDF: ``get_spark`` puts the package's parent directory on the
    workers' path."""
    import subprocess
    import sys

    from geopull_spark.kernels import cells as kc

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from pyspark.sql import functions as F\n"
        "from geopull_spark.functions.geometry import st_cell\n"
        "from geopull_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "print(spark.range(1).select(st_cell(F.lit(0.5), F.lit(0.5), 7)).head()[0])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    r = subprocess.run([sys.executable, "-c", script, repo], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert r.stdout.split()[-1] == str(int(kc.cell_id(np.array([0.5]), np.array([0.5]), 7)[0]))


def test_get_spark_session_settings(spark):
    """The settings the engine relies on, whether ``get_spark`` sets them or
    they are pyspark defaults it no longer restates: a default that drifts
    under a future pyspark fails here."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "1b"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "10000"
    assert conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false"
    assert conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    sc_conf = spark.sparkContext.getConf()
    assert sc_conf.get("spark.shuffle.sort.bypassMergeThreshold") == "2"


def test_get_spark_default_cores_fit_the_host(monkeypatch):
    """Without SPARK_GRAFT_CPUS a session gets one local core per CPU."""
    from geopull_spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_get_spark_default_driver_memory_fits_the_host(monkeypatch, tmp_path):
    """Without SPARK_DRIVER_MEM the driver heap is half of MemTotal, so a
    host smaller than the former fixed 48g gets a heap it can hold."""
    from geopull_spark.session import default_driver_memory

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree:  1000 kB\nMemTotal:       16303604 kB\n")
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert default_driver_memory(str(meminfo)) == "7960m"
    meminfo.write_text("MemTotal:  1000000 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory(str(meminfo)) == "3g"


def _geohash_blocks(blocks: list, areas: list, regions: list,
                    precision: int = 12):
    """Per-block reference for ``blocker._geohash_blocks_fast``: one
    representative point, normalize, WKB and bounds call per block."""
    import pandas as pd

    from geopull_spark.kernels.cells import geohash_encode
    from geopull_spark.kernels.overlay import normalize_geom
    from geopull_spark.kernels.pointops import representative_point

    reps = np.array([representative_point(b[1]) for b in blocks])
    ghs = geohash_encode(reps[:, 1], reps[:, 0], precision)
    norm = [normalize_geom(b) for b in blocks]
    wkbs = [kwkb.dumps(g) for g in norm]
    bounds = np.array([kwkb.bounds(g) for g in norm])
    return pd.DataFrame(
        {
            "region_code": regions,
            "geohash": ghs,
            "geometry": wkbs,
            "area_m2": areas,
            "rep_lon": reps[:, 0],
            "rep_lat": reps[:, 1],
            "minx": bounds[:, 0],
            "miny": bounds[:, 1],
            "maxx": bounds[:, 2],
            "maxy": bounds[:, 3],
        }
    )


def test_post_blocks_batched_bit_identical(world):
    """r6 batched post-processing (_geohash_blocks_fast) must be
    bit-identical to the per-block reference (_geohash_blocks) on real
    pipeline blocks (grid + diagonal + residual shapes) AND on adversarial
    inputs: holed polygons, collinear-vertex rings, duplicate consecutive
    vertices, a near-zero-area sliver (sign-guard fallback), and a
    vertex-level scanline (nudge path)."""
    from geopull_spark.operators.blocker import _geohash_blocks_fast

    # real pipeline raw faces: re-derive from the world's blocks by
    # decoding their WKB (normalize is idempotent and rep/bounds depend
    # only on the vertex set, so comparing fast vs reference ON these
    # geometries still exercises every code path with realistic shapes)
    rows = world["blocks"].select("region_code", "geometry", "area_m2").collect()
    geoms = [kwkb.loads(bytes(r["geometry"])) for r in rows]
    areas = [r["area_m2"] for r in rows]
    regions = [r["region_code"] for r in rows]

    # adversarial additions
    sq = np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype=float)
    hole = np.array([(1, 1), (1, 2), (2, 2), (2, 1), (1, 1)], dtype=float)
    collinear = np.array(
        [(0, 0), (2, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype=float)
    dupvert = np.array(
        [(0, 0), (4, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype=float)
    sliver = np.array(
        [(0, 0), (10, 1e-14), (10, 2e-14), (0, 1e-14), (0, 0)], dtype=float)
    # scanline midpoint hits a vertex y exactly → nudge path
    vmid = np.array([(0, 0), (4, 0), (4, 2), (6, 2), (6, 4), (0, 4), (0, 0)],
                    dtype=float)
    cw = sq[::-1].copy()  # wrong orientation → flip path
    extra = [
        ("Polygon", [sq, hole]),
        ("Polygon", [collinear]),
        ("Polygon", [dupvert]),
        ("Polygon", [sliver]),
        ("Polygon", [vmid]),
        ("Polygon", [cw]),
    ]
    geoms += extra
    areas += [1.0] * len(extra)
    regions += ["ZZZ"] * len(extra)

    ref = _geohash_blocks(geoms, areas, regions)
    fast = _geohash_blocks_fast(geoms, areas, regions)
    assert len(ref) == len(fast) == len(geoms)
    for col in ref.columns:
        a, b = list(ref[col]), list(fast[col])
        for i, (x, y) in enumerate(zip(a, b)):
            assert x == y, f"col {col} row {i}: {x!r} != {y!r}"
