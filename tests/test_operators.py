"""Tests for the training-data operators: dedup, text, similarity, multimodal,
zonal. Recall/behavior checks against brute-force ground truth on the driver
testdata."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopull_spark.operators import dedup, multimodal, similarity, spatial_join, text
from geopull_spark.session import get_spark
from geopull_spark.sources import synth

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="op_tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_exact_dedup_counts(spark, docs):
    out = dedup.exact_dedup(docs)
    total = out.agg(F.sum("n_copies")).head()[0]
    assert total == docs.count()
    # duplicated texts collapse: groups ≤ docs
    assert out.count() <= docs.count()


def test_minhash_catches_exact_dups(spark, docs):
    """Any two docs with identical text must be minhash candidates."""
    dup_pairs = (
        docs.alias("a")
        .join(docs.alias("b"), F.col("a.text") == F.col("b.text"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    n_dups = dup_pairs.count()
    if n_dups == 0:
        pytest.skip("no exact dups in fixture")
    found = dedup.minhash_lsh_pairs(docs)
    missing = dup_pairs.join(found, ["doc_a", "doc_b"], "left_anti").count()
    assert missing == 0


def test_simhash_identical_distance_zero(spark):
    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "a completely different sentence here")],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(d).collect()}
    assert sh[1] == sh[2]
    assert sh[1] != sh[3]
    pairs = dedup.simhash_neardup(d, max_hamming=0)
    rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert (1, 2) in rows


def test_ngram_jaccard_symmetric_range(spark):
    d = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz")],
        ["doc_id", "text"],
    )
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(d, n=3, threshold=0.0).collect()}
    assert out[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) not in out  # no shared grams


def test_lang_id_obvious_cases(spark):
    d = spark.createDataFrame(
        [
            (1, "this is the house and the dog of the man in the street"),
            (2, "el perro de la casa en los campos de la tierra por una parte"),
            (3, "xyzzy plugh qwerty"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(d).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_text_quality_columns(spark, docs):
    out = text.text_quality(docs)
    row = out.filter(F.col("n_chars") > 0).head()
    assert row["n_tokens"] >= 1
    assert 0 <= row["punct_ratio"] <= 1


def test_lsh_recall_vs_brute(spark):
    """LSH top-k must recover most of the exact top-k (recall ≥ 0.6 on the
    tiny fixture with 16 planes / 4 bands)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    dim = len(e.head()["embedding"])
    qv = e.filter(F.col("vec_id") == 0).head()["embedding"]
    brute = set(
        r["vec_id"]
        for r in similarity.brute_cosine_topk(
            e.filter(F.col("vec_id") != 0), list(qv), k=10
        ).collect()
    )
    queries_df = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # random gaussian embeddings have weak neighbor contrast — use the
    # high-recall band config (more bands = more probes = higher recall)
    lsh = set(
        r["vec_id"]
        for r in similarity.lsh_cosine_topk(
            e.filter(F.col("vec_id") != 0), queries_df, dim=dim, k=10, n_bands=8
        ).collect()
    )
    assert len(brute & lsh) / len(brute) >= 0.6


def test_multimodal_plumbing(spark):
    docs = synth.interleaved_documents(spark, SF)
    media = multimodal.materialize_media(docs).cache()
    n_media_spans = docs.select(
        F.explode("spans").alias("s")
    ).filter(F.col("s.media_ref").isNotNull()).count()
    assert media.count() == n_media_spans
    # REAL decode: every image row decodes to its actual PNG dimensions,
    # every audio row to its actual PCM duration (round 3)
    meta = multimodal.decode_media(media).collect()
    assert len(meta) == n_media_spans
    from geopull_spark.kernels.png import png_decode, wav_decode

    content = {r["media_ref"]: bytes(r["content"]) for r in media.collect()}
    for m in meta[:20]:
        if m["kind"] == "image":
            img = png_decode(content[m["media_ref"]])
            assert (m["width"], m["height"]) == (img.shape[1], img.shape[0])
            assert m["mean_luma"] == pytest.approx(img.astype("float64").mean(), abs=1e-5)
        else:
            samples, rate = wav_decode(content[m["media_ref"]])
            assert m["duration_ms"] == round(1000 * len(samples) / rate)
    feats = multimodal.extract_features(media, dim=8)
    f = feats.head()
    assert len(f["features"]) == 8
    # deterministic across runs
    f2 = {r["media_ref"]: r["features"] for r in multimodal.extract_features(media, dim=8).collect()}
    f1 = {r["media_ref"]: r["features"] for r in feats.collect()}
    assert f1 == f2


def test_decode_media_skip_quarantines_bad_rows(spark):
    """VERDICT r4 #4: on_error='skip' yields clean rows with status='ok' and
    quarantines poisoned blobs as status='error' rows (NULL metadata, error
    message) instead of failing the batch; raise-mode output is unchanged."""
    import numpy as np

    from geopull_spark.kernels.png import png_encode, wav_encode

    g = np.full((10, 12), 99, dtype=np.uint8)
    good_png = png_encode(g)
    good_wav = wav_encode(np.zeros(800, dtype=np.int16), rate=8000)
    bad_png = good_png[:20]                      # truncated
    bad_mp3 = b"ID3\x04\x00" + b"\0" * 32        # unsupported format
    media = spark.createDataFrame(
        [("m1", "d", "image", bytearray(good_png)),
         ("m2", "d", "audio", bytearray(good_wav)),
         ("m3", "d", "image", bytearray(bad_png)),
         ("m4", "d", "audio", bytearray(bad_mp3))],
        "media_ref string, doc_id string, kind string, content binary",
    )
    out = {r["media_ref"]: r for r in
           multimodal.decode_media(media, on_error="skip").collect()}
    assert out["m1"]["status"] == "ok" and out["m1"]["width"] == 12
    assert out["m2"]["status"] == "ok" and out["m2"]["duration_ms"] == 100
    assert out["m3"]["status"] == "error" and "ValueError" in out["m3"]["error"]
    assert out["m3"]["width"] is None
    assert out["m4"]["status"] == "error" and "NotImplementedError" in out["m4"]["error"]
    # raise-mode: identical schema/values for clean rows, fatal on bad ones
    clean = media.filter(F.col("media_ref").isin("m1", "m2"))
    rows = {r["media_ref"]: r for r in multimodal.decode_media(clean).collect()}
    assert "status" not in rows["m1"].asDict()
    assert rows["m1"]["width"] == 12 and rows["m2"]["duration_ms"] == 100
    with pytest.raises(Exception):
        multimodal.decode_media(media).collect()


def test_decode_media_unsupported_format_raises(spark):
    """Formats with no implemented decoder (MP3 magic here; r4 moved JPEG to
    the real-decode path) stay honestly stubbed: NotImplementedError from
    inside the kernel."""
    mp3_like = b"ID3\x04\x00" + b"\0" * 32
    media = spark.createDataFrame(
        [("mX", "d0", "audio", bytearray(mp3_like))],
        "media_ref string, doc_id string, kind string, content binary",
    )
    with pytest.raises(Exception):  # NotImplementedError inside the kernel
        multimodal.decode_media(media).collect()


def test_zonal_population_positive(spark):
    from geopull_spark.operators import blocker, extract, normalize

    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    )
    blocks = blocker.build_blocks(land, extract.extract_linestrings(ways)).cache()
    z = spatial_join.zonal_population(blocks, res=15).cache()
    assert z.count() > 0
    assert z.filter(F.col("population") <= 0).count() == 0
    # deterministic
    z2 = spatial_join.zonal_population(blocks, res=15)
    assert sorted(map(tuple, z.collect())) == sorted(map(tuple, z2.collect()))


def test_salted_assignment_matches_unsalted(spark):
    """Explicit skew salting (north_star requirement) must not change the
    join result — only the shuffle layout."""
    from geopull_spark.operators import blocker, extract, normalize

    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    )
    blocks = blocker.build_blocks(land, extract.extract_linestrings(ways))
    blocks = blocks.cache()
    bc = spatial_join.build_block_cell_index(blocks).cache()
    docs = synth.interleaved_documents(spark, SF).select("doc_id", "lon", "lat")
    plain = spatial_join.assign_docs_to_blocks(docs, blocks, bc)
    salted = spatial_join.assign_docs_to_blocks(docs, blocks, bc, salt_k=4)
    a = sorted((r["doc_id"], r["block_id"]) for r in plain.collect())
    b = sorted((r["doc_id"], r["block_id"]) for r in salted.collect())
    assert a == b


def test_knn_points_exact_vs_brute(spark):
    """k-ring kNN equals brute force when cells dwarf the point spread."""
    import itertools

    pts = [(str(i), float(i % 7) * 0.01, float(i % 5) * 0.01) for i in range(30)]
    df = spark.createDataFrame(pts, ["doc_id", "lon", "lat"])
    got = {
        (r["doc_id"], r["rk"]): r["nbr_id"]
        for r in spatial_join.knn_points(df, k=2, res=7).collect()
    }
    for pid, px, py in pts:
        dists = sorted(
            ((qx - px) ** 2 + (qy - py) ** 2, qid)
            for qid, qx, qy in pts if qid != pid
        )
        for rk, (d, qid) in enumerate(dists[:2], start=1):
            assert got[(pid, rk)] == qid, (pid, rk)


def test_knn_releases_ring_caches(spark):
    """ADVICE r2: the adaptive-ring loop persists per-ring frames for its
    intra-loop count/anti-join; none may stay cached after knn_points returns
    (repeated calls in a long session would otherwise pile up partitions)."""
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pts = [(str(i), float(i % 7) * 0.01, float(i % 5) * 0.01) for i in range(30)]
    df = spark.createDataFrame(pts, ["doc_id", "lon", "lat"])
    res = spatial_join.knn_points(df, k=2, res=7)
    assert res.count() > 0  # fully consumable after unpersist (lineage re-runs)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_zonal_coverage_conservation(spark):
    """J9 coverage-fraction invariants (VERDICT r1 item 2): every block gets a
    zonal row; weights in (0, 1]; per block, Σ weight·area(cell) equals the
    block's degree-space area (exact Sutherland–Hodgman clipping); disjoint
    blocks never claim more than a cell's full area."""
    import numpy as np

    from geopull_spark.kernels import cells as kc
    from geopull_spark.kernels import wkb as kwkb
    from geopull_spark.operators import blocker, extract, normalize

    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    )
    blocks = blocker.build_blocks(land, extract.extract_linestrings(ways)).cache()
    n_blocks = blocks.count()
    w = spatial_join.zonal_cell_weights(blocks, res=14).cache()

    assert w.select("block_id").distinct().count() == n_blocks  # no drop-outs
    assert w.filter((F.col("weight") <= 0) | (F.col("weight") > 1 + 1e-9)).count() == 0

    # per-cell disjointness: blocks tile the land, so Σ_block weight ≤ 1
    over = w.groupBy("cell").agg(F.sum("weight").alias("s")).filter(F.col("s") > 1 + 1e-6)
    assert over.count() == 0

    # per-block conservation: Σ weight·area(cell) == degree-area(block)
    weights = w.groupBy("block_id").agg(
        F.collect_list(F.struct("cell", "weight")).alias("cw")
    ).collect()
    geoms = {r["block_id"]: bytes(r["geometry"]) for r in blocks.collect()}

    def degree_area(geom):
        from geopull_spark.kernels.area import ring_signed_area
        gtype, data = geom
        polys = [data] if gtype == "Polygon" else data
        tot = 0.0
        for rings in polys:
            tot += abs(ring_signed_area(rings[0]))
            for h in rings[1:]:
                tot -= abs(ring_signed_area(h))
        return tot

    for r in weights:
        cells = np.array([c["cell"] for c in r["cw"]], dtype=np.int64)
        ws = np.array([c["weight"] for c in r["cw"]])
        b = kc.cells_bounds(cells)
        cell_areas = (b[:, 2] - b[:, 0]) * (b[:, 3] - b[:, 1])
        got = float((ws * cell_areas).sum())
        want = degree_area(kwkb.loads(geoms[r["block_id"]]))
        assert got == pytest.approx(want, rel=1e-6, abs=1e-12), r["block_id"]

    # population rollup covers every block too
    z = spatial_join.zonal_population(blocks, res=14)
    assert z.count() == n_blocks


def test_assignment_handles_streetless_giant_block(spark):
    """ADVICE r1: a region with no extracted streets yields one region-sized
    block; the adaptive cover must index it at a coarser res (no cover-cap
    error) and docs must still assign to it."""
    from geopull_spark.operators import blocker, extract, normalize

    ways = synth.gen_osm_ways(spark, streets_per_region=0)  # fixed ways only
    # drop street-ish lines entirely: filter the kept linestrings away
    lines = extract.extract_linestrings(ways).filter(F.lit(False))
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    )
    blocks = blocker.build_blocks(land, lines).cache()
    assert blocks.count() > 0
    bc = spatial_join.build_block_cell_index(blocks).cache()
    # region-sized bbox at res 14 would exceed the old 4096-cell cap; the
    # adaptive cover lowers the res instead of raising
    assert bc.select(F.min("cell_res")).head()[0] < 14
    docs = synth.interleaved_documents(spark, SF).select("doc_id", "lon", "lat")
    out = spatial_join.assign_docs_to_blocks(docs, blocks, bc)
    assert out.count() > 0.5 * docs.count()


def test_assignment_against_empty_index_is_empty(spark):
    """An index with no cells (e.g. a snapshot with no blocks) gives no
    rows, with the assignment schema, salted or not."""
    docs = synth.interleaved_documents(spark, SF).select("doc_id", "lon", "lat")
    bc = spark.createDataFrame([], "cell long, cell_res int, region_code string, block_id string")
    gc = spark.createDataFrame([], "g_pcell long, g_block_id string, g_geometry binary, "
                                   "minx double, miny double, maxx double, maxy double")
    for out in (spatial_join.assign_docs_to_blocks(docs, None, bc, geom_cells=gc),
                spatial_join.assign_docs_to_blocks(docs, None, bc, salt_k=4, geom_cells=gc)):
        assert out.columns == ["doc_id", "lon", "lat", "block_id"]
        assert out.count() == 0


def _refine_group():
    """One refine group as Arrow tables: a region-sized block whose hole
    holds a 12×12 grid of small square blocks, a triangle and two blocks
    with the same footprint; docs at random, on the grid's vertices and
    shared edges, on every bbox edge and outside every block."""
    import pyarrow as pa

    from geopull_spark.kernels import wkb as kwkb

    s = 0.25
    blocks = [(f"s{i:02d}{j:02d}", kwkb.polygon(
        [(10 + i * s, 10 + j * s), (10 + (i + 1) * s, 10 + j * s),
         (10 + (i + 1) * s, 10 + (j + 1) * s), (10 + i * s, 10 + (j + 1) * s)]))
        for i in range(12) for j in range(12)]
    blocks.append(("big", kwkb.polygon([(0, 0), (30, 0), (30, 30), (0, 30)],
                                       holes=[[(10, 10), (13, 10), (13, 13), (10, 13)]])))
    blocks.append(("tri", kwkb.polygon([(40, 0), (45, 0), (40, 5)])))
    # two blocks on one footprint: their docs tie and go to the min block_id
    blocks += [(b, kwkb.polygon([(35, 25), (37, 25), (37, 27), (35, 27)])) for b in ("dupB", "dupA")]
    rng = np.random.default_rng(3)
    pts = [tuple(p) for p in rng.uniform([-2, -2], [47, 32], (400, 2))]
    pts += [(10 + i * s, 10 + j * s + h) for i in range(13) for j in range(13) for h in (0, s / 2)]
    pts += [(0, 15), (30, 15), (15, 0), (15, 30), (0, 0), (30, 30),
            (40, 0), (45, 0), (40, 5), (42.5, 2.5), (40, 2.5), (36, 26),
            (35, 20), (-5, -5), (100, 100)]
    docs = pa.table({"pcell": [0] * len(pts), "doc_id": [str(i) for i in range(len(pts))],
                     "lon": [float(x) for x, _ in pts], "lat": [float(y) for _, y in pts]})
    bounds = [kwkb.bounds(kwkb.loads(b)) for _, b in blocks]
    geom = pa.table({"g_pcell": [0] * len(blocks), "g_block_id": [b for b, _ in blocks],
                     "g_geometry": pa.array([g for _, g in blocks], pa.binary()),
                     **{c: [bb[k] for bb in bounds]
                        for k, c in enumerate(("minx", "miny", "maxx", "maxy"))}})
    return docs, geom


def test_refine_kernel_matches_brute_force_in_one_group():
    """The refine kernel's in-group candidate search against a reference
    that tests every doc against every block (bbox filter, then
    ``point_in_geom``) and keeps the min block_id; an empty side gives no
    rows."""
    from geopull_spark.kernels import wkb as kwkb
    from geopull_spark.kernels.pointops import point_in_geom

    docs, geom = _refine_group()
    want = {}
    for d, x, y in zip(*(docs.column(c).to_pylist() for c in ("doc_id", "lon", "lat"))):
        for b, buf in sorted(zip(geom.column("g_block_id").to_pylist(),
                                 geom.column("g_geometry").to_pylist())):
            g = kwkb.loads(buf)
            x0, y0, x1, y1 = kwkb.bounds(g)
            if x0 <= x <= x1 and y0 <= y <= y1 and point_in_geom(np.array([x]), np.array([y]), g)[0]:
                want[d] = (b, x, y)
                break
    out = spatial_join._pip_refine_cogroup(docs, geom)
    assert out.column_names == ["doc_id", "lon", "lat", "block_id"]
    rows = list(zip(*(out.column(c).to_pylist() for c in out.column_names)))
    got = {d: (b, x, y) for d, x, y, b in rows}
    assert len(got) == len(rows)
    assert got == want
    hit = {b for b, _, _ in want.values()}
    assert {"big", "tri", "dupA"} <= hit and "dupB" not in hit
    assert len(hit) > 100 and len(want) < docs.num_rows
    for empty in (spatial_join._pip_refine_cogroup(docs, geom.slice(0, 0)),
                  spatial_join._pip_refine_cogroup(docs.slice(0, 0), geom)):
        assert empty.num_rows == 0 and empty.column_names == out.column_names


def test_assignment_is_one_doc_shuffle_into_one_cogroup(spark):
    """Against a cached refine geometry the executed plan shuffles only the
    doc batch, into one Arrow cogroup, with no broadcast join. Salted, both
    sides shuffle on (parent cell, salt)."""
    zones = synth.rect_zones(spark)
    gc = spatial_join.build_refine_geometry(zones).cache()
    docs = synth.interleaved_documents(spark, SF).select("doc_id", "lon", "lat")
    n = spatial_join._refine_partitions(docs)

    def exchanges(nodes):
        return sorted(x.split("), ")[0] + ")" for x in nodes if x.startswith("Exchange "))

    try:
        nodes = _executed_nodes(spatial_join.assign_docs_to_blocks(docs, zones, geom_cells=gc))
        assert exchanges(nodes) == [f"Exchange hashpartitioning(pcell, {n})"]
        assert sum(x.startswith("FlatMapCoGroupsInArrow") for x in nodes) == 1
        assert not any("BroadcastHashJoin" in x for x in nodes)
        salted = _executed_nodes(
            spatial_join.assign_docs_to_blocks(docs, zones, geom_cells=gc, salt_k=4))
        assert exchanges(salted) == [f"Exchange hashpartitioning(g_pcell, g_salt, {n})",
                                     f"Exchange hashpartitioning(pcell, salt, {n})"]
    finally:
        gc.unpersist()


def test_ivf_recall_vs_brute(spark):
    """IVF-lite ANN must recover most of the exact top-k at equal candidate
    budget (n_probe=4 of 16 lists on the tiny fixture)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    dim = len(e.head()["embedding"])
    qv = e.filter(F.col("vec_id") == 0).head()["embedding"]
    brute = set(
        r["vec_id"]
        for r in similarity.brute_cosine_topk(
            e.filter(F.col("vec_id") != 0), list(qv), k=10
        ).collect()
    )
    queries_df = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # dim-64 gaussian fixtures have near-noise neighbor contrast (top-10 at
    # cos≈0.3) — probe 8 of 32 lists (a 25% candidate budget)
    ivf = set(
        r["vec_id"]
        for r in similarity.ivf_cosine_topk(
            e.filter(F.col("vec_id") != 0), queries_df, dim=dim, k=10,
            n_centroids=32, n_probe=8,
        ).collect()
    )
    assert len(brute & ivf) / len(brute) >= 0.6
    # budget check: the probed inverted lists hold well under half the data
    cents = similarity.ivf_fit_centroids(e.filter(F.col("vec_id") != 0), dim, 32, 4)
    lists = e.filter(F.col("vec_id") != 0).select(
        similarity._ivf_assign_expr(F.col("embedding"), cents).alias("cid")
    ).groupBy("cid").count().collect()
    sizes = sorted((r["count"] for r in lists), reverse=True)
    n_total = e.filter(F.col("vec_id") != 0).count()
    assert sum(sizes[:8]) < 0.6 * n_total


def test_ivf_centroid_persistence(spark, tmp_path):
    """Fit-once/serve-many: centroids saved to a parquet table and reloaded
    must reproduce the IVF result exactly (same inverted-list layout)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    dim = len(e.head()["embedding"])
    cents = similarity.ivf_fit_centroids(e, dim, n_centroids=8, n_iters=2)
    p = str(tmp_path / "cents")
    similarity.save_centroids(spark, cents, p)
    loaded = similarity.load_centroids(spark, p)
    assert loaded == [[float(x) for x in c] for c in cents]
    q = e.filter(F.col("vec_id") < 2).select(F.col("vec_id").alias("q_id"),
                                             "embedding")
    base = e.filter(F.col("vec_id") >= 2)
    a = similarity.ivf_cosine_topk(base, q, dim=dim, k=5, n_probe=3,
                                   centroids=cents).collect()
    b = similarity.ivf_cosine_topk(base, q, dim=dim, k=5, n_probe=3,
                                   centroids=loaded).collect()
    key = lambda r: (r["q_id"], r["rk"])
    assert sorted(((r["q_id"], r["rk"], r["vec_id"]) for r in a)) == \
           sorted(((r["q_id"], r["rk"], r["vec_id"]) for r in b))


def test_ivf_adaptive_probe_min_candidates(spark):
    """min_candidates: skewed inverted lists underfill a fixed n_probe=1
    query; the adaptive prefix extends probing until the probed lists hold
    >= the target, and a corpus-sized target recovers exact brute-force."""
    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0], [0, 0, 0, 1.0]]
    rows = [(0, [0.99, 0.1, 0.0, 0.0]), (1, [0.98, 0.0, 0.1, 0.0])]  # sparse list 0
    vid = 2
    for axis in (1, 2, 3):  # 12 vectors per dense list
        for j in range(12):
            v = [0.02 * ((j + axis) % 3), 0.0, 0.0, 0.0]
            v[axis] = 1.0 - 0.01 * j
            rows.append((vid, v))
            vid += 1
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = spark.createDataFrame([(100, [1.0, 0.0, 0.0, 0.0])],
                              "q_id int, embedding array<double>")

    def run(**kw):
        return similarity.ivf_cosine_topk(
            e, q, dim=4, k=5, n_centroids=4, n_probe=1, centroids=cents, **kw
        ).collect()

    assert len(run()) == 2  # fixed probe: only the 2-vector list reached
    got = run(min_candidates=5)
    assert len(got) == 5 and {r["vec_id"] for r in got} >= {0, 1}
    brute = similarity.brute_cosine_topk(e, [1.0, 0.0, 0.0, 0.0], k=5).collect()
    exact = run(min_candidates=len(rows))  # probe everything → exact top-k
    assert [r["vec_id"] for r in sorted(exact, key=lambda r: r["rk"])] == \
           [r["vec_id"] for r in brute]


def test_embedding_neardup_lsh_default_and_planted_dups(spark):
    """Default method is LSH (no crossJoin reachable); LSH pairs are a subset
    of exact pairs; identical vectors (cos=1) share every signature band, so
    planted duplicates are ALWAYS found."""
    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < 100)
        .select("vec_id", "embedding")
    )
    planted = e.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    both = e.unionByName(planted).cache()

    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(both, threshold=0.25).collect()
    }
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(both, threshold=0.25, method="exact").collect()
    }
    assert lsh_pairs <= exact_pairs
    for i in range(100):  # every planted duplicate pair is recovered
        assert (i, i + 100000) in lsh_pairs, i
    # and the default plan contains no cartesian product
    plan = similarity.embedding_neardup_pairs(both, threshold=0.25)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation: chains collapse to the min id; propagation
    crosses the full diameter; singletons stay canonical."""
    # chain 9-8-7-...-0 (diameter 9, worst order) + separate pair (20, 21)
    pairs = [(i, i + 1) for i in range(9)] + [(20, 21)]
    pdf = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    cc = {r["node"]: r["component"] for r in dedup.connected_components(pdf).collect()}
    for i in range(10):
        assert cc[i] == 0, (i, cc[i])
    assert cc[20] == 20 and cc[21] == 20

    docs = spark.createDataFrame([(i,) for i in list(range(10)) + [20, 21, 99]], ["doc_id"])
    groups = {r["doc_id"]: (r["rep_doc_id"], r["is_canonical"])
              for r in dedup.dedup_groups(docs, pdf).collect()}
    assert groups[0] == (0, True)
    assert groups[9] == (0, False)
    assert groups[99] == (99, True)  # untouched singleton
    n_canon = sum(1 for _, (rep, c) in groups.items() if c)
    assert n_canon == 3  # clusters {0..9}, {20,21}, {99}


def test_knn_adaptive_ring_sparse_points(spark):
    """Sparse points whose true neighbors sit several cells away: the fixed
    one-ring probe would miss or mis-rank them; adaptive expansion recovers
    the exact brute-force answer."""
    # at res 10 the lon tile is ~0.35°; spread points 1-2 tiles apart
    pts = [("a", 0.0, 0.0), ("b", 0.9, 0.0), ("c", 2.1, 0.0), ("d", 2.2, 0.05),
           ("e", 9.0, 3.0)]  # e is isolated by many cells
    df = spark.createDataFrame(pts, ["doc_id", "lon", "lat"])
    got = {(r["doc_id"], r["rk"]): r["nbr_id"]
           for r in spatial_join.knn_points(df, k=2, res=10, max_ring=64).collect()}
    for pid, px, py in pts:
        dists = sorted(((qx - px) ** 2 + (qy - py) ** 2, qid)
                       for qid, qx, qy in pts if qid != pid)
        for rk, (dd, qid) in enumerate(dists[:2], start=1):
            assert got[(pid, rk)] == qid, (pid, rk, got.get((pid, rk)), qid)


def test_zonal_aggregate_raster_table(spark):
    """zonal_aggregate against an explicit raster-tile table equals the
    inline-f(cell) zonal_population when the raster carries the same values."""
    from geopull_spark.operators import blocker, extract, normalize

    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    )
    blocks = blocker.build_blocks(land, extract.extract_linestrings(ways)).cache()
    w = spatial_join.zonal_cell_weights(blocks, res=14)
    raster = w.select("cell").distinct().withColumn(
        "value", (F.pmod(F.xxhash64(F.col("cell")), F.lit(1000)) + 1).cast("double")
    )
    got = {
        r["block_id"]: round(r["zonal_sum"], 6)
        for r in spatial_join.zonal_aggregate(blocks, raster, "value", res=14).collect()
    }
    want = {
        r["block_id"]: r["population"]
        for r in spatial_join.zonal_population(blocks, res=14).collect()
    }
    assert got == want


def test_lsh_hot_bucket_bounded(spark):
    """VERDICT r3 #1: 10k identical docs (a crawl-shaped mega-bucket) must
    complete with bounded per-row memory — the oversized bucket routes
    through the linear star path (k-1 pairs), and connected components are
    identical to what all-pairs would give (one cluster)."""
    n = 10_000
    rows = [(i, "lorem ipsum boilerplate footer text " * 4) for i in range(n)]
    rows += [(n + i, f"unique document number {i} with its own words {i*7}") for i in range(20)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(d, bucket_cap=64)
    got = pairs.collect()
    # star: every pair anchored at the min id, exactly n-1 pairs for the cluster
    cluster = [(a, b) for a, b in [(r["doc_a"], r["doc_b"]) for r in got] if b < n]
    assert len(cluster) == n - 1
    assert all(a == 0 for a, _ in cluster)
    groups = dedup.dedup_groups(d, pairs)
    # the mega-cluster collapses to a single canonical doc (id 0)
    mega = {r["doc_id"]: (r["rep_doc_id"], r["is_canonical"])
            for r in groups.filter(F.col("doc_id") < n).collect()}
    assert all(rep == 0 for rep, _ in mega.values())
    assert sum(1 for _, c in mega.values() if c) == 1


def test_lsh_small_buckets_exact_all_pairs(spark):
    """Buckets at or under the cap keep exact all-pairs semantics — identical
    output to a brute-force text equality join."""
    rows = [(i, f"shared text body alpha {i % 3}") for i in range(9)]  # 3 clusters of 3
    rows += [(100 + i, f"totally distinct {i} {i*13} qq") for i in range(5)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(d, bucket_cap=64).collect()}
    expect = {(a, b) for a in range(9) for b in range(9) if a < b and a % 3 == b % 3}
    assert expect <= got  # exact dups are always candidates, as full pairs


def _minhash_lsh_pairs_reference(docs, bucket_cap, n_bands=8, id_col="doc_id"):
    """The former two-branch ``dedup.minhash_lsh_pairs`` plan, kept as the
    reference: a window sizes each (band, mh) bucket, then a small-bucket
    all-pairs branch and an oversize star branch are unioned."""
    from pyspark.sql import Window

    mh = dedup.minhash_signature(docs, "text", n_bands, id_col)
    stacked = mh.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("mh"))
            for b in range(n_bands)
        ])).alias("s"),
    ).select(id_col, F.col("s.band").alias("band"), F.col("s.mh").alias("mh"))
    w = Window.partitionBy("band", "mh")
    sized = stacked.select(
        id_col, "band", "mh",
        F.count("*").over(w).alias("n"),
        F.min(id_col).over(w).alias("rep"),
    )
    small = (
        sized.filter((F.col("n") >= 2) & (F.col("n") <= bucket_cap))
        .groupBy("band", "mh")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
    )
    small_pairs = (
        small.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    star_pairs = (
        sized.filter((F.col("n") > bucket_cap) & (F.col(id_col) != F.col("rep")))
        .select(F.col("rep").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )
    return small_pairs.unionByName(star_pairs).distinct()


def _lsh_corpus(spark, cap, n_random=300, n_planted=40, seed=7):
    """Seeded random docs, planted one-word-edit near-duplicates, a bucket of
    exactly ``cap`` identical docs (ids 1000..), one of ``cap + 1`` (ids
    2000..) and two null texts (ids 3000, 3001), in 4 partitions."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(n_random)]
    rows = list(enumerate(texts))
    for j in range(n_planted):
        words = texts[j].split()
        words[rng.randrange(len(words))] = "edited"
        rows.append((500 + j, " ".join(words)))
    at_cap, above_cap = "lorem ipsum footer " * 3, "copyright all rights reserved " * 3
    rows += [(1000 + i, at_cap) for i in range(cap)]
    rows += [(2000 + i, above_cap) for i in range(cap + 1)]
    rows += [(3000, None), (3001, None)]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), "doc_id long, text string")


def _executed_nodes(df) -> list:
    """Run ``df`` once and list the nodes of its final physical plan, with
    expression ids stripped. Adaptive plans and query stages are entered;
    a reused exchange and the plan behind a cached relation are not, since
    neither is evaluated again."""
    import re

    df.collect()
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            out.append(re.sub(r"#\d+L?", "", node.simpleString(25)))
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_minhash_lsh_pairs_matches_reference_around_cap(spark):
    """The one-pass plan returns the same pair set as the former two-branch
    plan on planted near-dups, a bucket of exactly ``bucket_cap`` members
    (all-pairs), one of ``bucket_cap + 1`` (a star at the min id) and null
    texts (which share the (band, NULL) buckets)."""
    cap = 8
    d = _lsh_corpus(spark, cap)
    got = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(d, bucket_cap=cap).collect()}
    want = {(r["doc_a"], r["doc_b"]) for r in _minhash_lsh_pairs_reference(d, cap).collect()}
    assert got == want
    at_cap = {(a, b) for a, b in got if 1000 <= a < 2000}
    assert at_cap == {(1000 + i, 1000 + j) for i in range(cap) for j in range(i + 1, cap)}
    above = {(a, b) for a, b in got if 2000 <= a < 3000}
    assert above == {(2000, 2000 + i) for i in range(1, cap + 1)}
    assert (3000, 3001) in got
    assert sum(1 for j in range(40) if (j, 500 + j) in got) >= 36


def test_minhash_lsh_pairs_one_python_evaluation(spark):
    """The signature UDF runs once per document, and the band-bucket stage
    shuffles only on (band, mh) and for the final distinct. The input is a
    cached frame, as in the benchmark; on it the former two-branch plan did
    not reuse the band exchange and ran the UDF twice."""
    d = _lsh_corpus(spark, 8).cache()
    nodes = _executed_nodes(dedup.minhash_lsh_pairs(d, bucket_cap=8))
    d.unpersist()
    assert sum(n.startswith("ArrowEvalPython") for n in nodes) == 1
    exchanges = sorted(n.split("), ")[0] + ")" for n in nodes if n.startswith("Exchange "))
    assert exchanges == ["Exchange hashpartitioning(band, mh, 4)",
                         "Exchange hashpartitioning(doc_a, doc_b, 4)"]


def test_minhash_signature_null_and_multibyte_text(spark):
    """Through Spark, a null text yields ``n_bands`` nulls and other texts,
    empty and multibyte UTF-8 included, the per-document kernel's bands."""
    from geopull_spark.kernels.texthash import minhash_bands

    texts = {1: None, 2: "", 3: "héllo wörld, 日本語 🙂", 4: "abc", 5: None}
    d = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: list(r)[1:] for r in dedup.minhash_signature(d, n_bands=4).collect()}
    assert got == {i: [None] * 4 if t is None else minhash_bands(t.encode(), 8, 4)
                   for i, t in texts.items()}


def test_minhash_signature_spread(spark):
    """A 1-partition input still runs the signature UDF on defaultParallelism
    tasks; an input with >= defaultParallelism partitions is not spread."""
    dp = spark.sparkContext.defaultParallelism
    d = _lsh_corpus(spark, 8)
    assert d.rdd.getNumPartitions() >= dp
    narrow = d.coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    sig = dedup.minhash_signature(narrow)
    assert sig.rdd.getNumPartitions() == dp
    assert any(f"RoundRobinPartitioning({dp})" in n for n in _executed_nodes(sig))
    wide = _executed_nodes(dedup.minhash_lsh_pairs(d, bucket_cap=8))
    assert not any("RoundRobinPartitioning" in n for n in wide)


def test_doc_fingerprint_null_and_multibyte_text(spark):
    """Through Spark, a null text yields null fingerprint fields and other
    texts, empty, shorter than k and multibyte UTF-8 included, the
    per-document kernel's values."""
    from geopull_spark.kernels.texthash import winnow_fingerprint

    texts = {1: None, 2: "", 3: "héllo wörld, 日本語 🙂 and more", 4: "abc", 5: None}
    d = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    fp = text.doc_fingerprint(d)
    assert fp.schema["n_fingerprint_grams"].dataType.typeName() == "integer"
    got = {r["doc_id"]: (r["fingerprint"], r["n_fingerprint_grams"]) for r in fp.collect()}
    assert got == {i: (None, None) if t is None else winnow_fingerprint(t.encode(), 8, 4)
                   for i, t in texts.items()}


@pytest.fixture(scope="module")
def block_inputs(spark):
    """Cached (land, lines) of a small synthetic world, so that an executed
    plan starts at the blocker."""
    from geopull_spark.operators import extract, normalize

    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    ).cache()
    return land, extract.extract_linestrings(ways).cache()


def test_build_blocks_pre_runs_one_python_stage(block_inputs):
    """The polygonize cogroup emits finished blocks: one
    FlatMapCoGroupsInPandas, and no MapInPandas stage behind a round-robin
    exchange."""
    from geopull_spark.operators import blocker

    nodes = _executed_nodes(blocker.build_blocks_pre(*block_inputs))
    assert sum(n.startswith("FlatMapCoGroupsInPandas") for n in nodes) == 1
    assert not any(n.startswith("MapInPandas") for n in nodes)
    assert not any("RoundRobinPartitioning" in n for n in nodes)


def test_build_blocks_same_rows_without_land_bbox(block_inputs):
    """Land without its bbox columns gets them from ``ensure_bbox`` and
    yields the same block rows."""
    from geopull_spark.operators import blocker

    land, lines = block_inputs
    bare = land.drop("minx", "miny", "maxx", "maxy")
    want = sorted(map(tuple, blocker.build_blocks(land, lines).collect()))
    got = sorted(map(tuple, blocker.build_blocks(bare, lines).collect()))
    assert len(want) > 3 and got == want


def test_simhash_hot_bucket_bounded(spark):
    """Same star routing for simhash: 300 identical docs > bucket_cap → k-1
    star pairs with hamming 0, single component downstream."""
    n = 300
    rows = [(i, "the same exact sentence repeated in every doc") for i in range(n)]
    rows += [(n, "something else entirely different here okay")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.simhash_neardup(d, max_hamming=0, bucket_cap=64)
    got = [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect()]
    cluster = [(a, b) for a, b, h in got if b < n and h == 0]
    assert len(cluster) == n - 1
    assert all(a == 0 for a, _ in cluster)


def test_simhash_adversarial_bucket_keeps_far_from_rep_pair(spark):
    """VERDICT r4 #2: in an oversized bucket, members A and B with
    hamming(A,B) ≤ k but BOTH > k from the min-id representative must still
    pair up (the old min-id star dropped that edge). Few distinct
    signatures → exact all-pairs over equal-signature group reps."""
    base = 0x1234                      # 10 docs, min ids → the old star rep
    sig_a = 0x1234 | (0xFFFFF << 20)   # hamming(base, sig_a) = 20 > k
    sig_b = sig_a ^ (0x3 << 50)        # hamming(sig_a, sig_b) = 2 ≤ k
    rows = ([(i, base) for i in range(10)]
            + [(i, sig_a) for i in range(10, 19)]
            + [(i, sig_b) for i in range(19, 21)])
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"])
    docs = sigs.select("doc_id").withColumn("text", F.lit("x"))
    pairs = dedup.simhash_neardup(docs, max_hamming=8, bucket_cap=8,
                                  signatures=sigs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (10, 19) in got             # A-group rep ↔ B-group rep: the edge
    # equal-signature groups stay internally connected via hamming-0 stars
    assert {(10, j) for j in range(11, 19)} <= got
    assert {(0, j) for j in range(1, 10)} <= got
    # components == all-pairs components: {A∪B} and {base} stay separate
    comp = {r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert len({comp[i] for i in range(10, 21)}) == 1
    assert comp[0] != comp[10]


def test_simhash_adversarial_bucket_many_distinct_subband(spark):
    """Oversized bucket with MANY distinct signatures: reps re-band on the
    12 out-of-chunk 4-bit sub-chunks, so a hamming-2 pair is still found
    among > bucket_cap distinct far-apart signatures."""
    import numpy as np

    rng = np.random.RandomState(7)
    fillers = [0x0042 | (int(v) << 16) for v in
               rng.randint(0, 1 << 46, size=28, dtype=np.int64)]
    sig_a = 0x0042 | (0x5A5A5 << 24)
    sig_b = sig_a ^ (0x3 << 33)        # hamming 2
    # pin the premise: fillers are far from each other and from A/B
    allsigs = fillers + [sig_a, sig_b]
    for i in range(len(allsigs)):
        for j in range(i + 1, len(allsigs)):
            if (i, j) != (len(allsigs) - 2, len(allsigs) - 1):
                assert bin(allsigs[i] ^ allsigs[j]).count("1") > 8
    rows = [(i, s) for i, s in enumerate(allsigs)]
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"])
    docs = sigs.select("doc_id").withColumn("text", F.lit("x"))
    pairs = dedup.simhash_neardup(docs, max_hamming=8, bucket_cap=4,
                                  signatures=sigs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(28, 29)}           # exactly the planted near-pair


def test_simhash_bucket_stats_counts_star_fallback(spark):
    """simhash_bucket_stats exposes the one remaining approximation: a
    sub-bucket with > bucket_cap DISTINCT signatures. 10 sigs share chunk 0
    AND every out-of-chunk sub-chunk except #14 → those 11 sub-buckets each
    hold 10 > cap distinct sigs → counted as star fallbacks."""
    rows = [(i, 0x0042 | (i << 56)) for i in range(10)]
    sigs = spark.createDataFrame(rows, ["doc_id", "simhash"])
    docs = sigs.select("doc_id").withColumn("text", F.lit("x"))
    st = {r["chunk"]: r for r in
          dedup.simhash_bucket_stats(docs, bucket_cap=4,
                                     signatures=sigs).collect()}
    assert st[0]["n_oversize"] == 1 and st[0]["max_distinct"] == 10
    assert st[0]["n_star_fallback"] == 11
    # a benign corpus reports zero fallbacks
    benign = spark.createDataFrame(
        [(i, f"wholly different text number {i} with words {i * 7}")
         for i in range(20)], ["doc_id", "text"])
    for r in dedup.simhash_bucket_stats(benign, bucket_cap=128).collect():
        assert r["n_star_fallback"] == 0


def test_token_bpe_oracle_formula_edge_cases(spark):
    """VERDICT r4 #8: the lookaround split count equals the RE2-expressible
    formula (word runs + non-word chars + leading-\\W − 1) that the DuckDB
    oracle uses — pinned on adversarial shapes the sf data may not cover."""
    import duckdb

    from geopull_spark.operators.text import token_count

    texts = ["", "a", ".", "a.", ".a", "ab, cd", "  ", "a  b", "..!?",
             "word", "hello, world! how are you?", "_under_score_", "1+2=3",
             "tabs\tand\nnewlines here", "trailing space ", " leading"]
    d = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r["doc_id"]: r["bpe_ish_tokens"] for r in token_count(d).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    list(enumerate(texts)))
    want = dict(con.execute("""
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN 0
                    ELSE len(regexp_extract_all(text, '\\w+'))
                         + (length(text) - length(regexp_replace(text, '\\W', '', 'g')))
                         + (CASE WHEN regexp_matches(text, '\\W$') THEN 1 ELSE 0 END)
                         - 1
               END AS bpe FROM documents""").fetchall())
    assert got == want


def test_cc_pointer_doubling_log_rounds(spark):
    """VERDICT r3 #9: a 1000-node path graph converges in O(log n) rounds via
    pointer doubling, not O(n) — and still labels every node with the min."""
    n = 1000
    pairs = [(i, i + 1) for i in range(n - 1)]
    pdf = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    stats = {}
    cc = dedup.connected_components(pdf, max_iters=20, stats=stats)
    labels = {r["node"]: r["component"] for r in cc.collect()}
    assert all(labels[i] == 0 for i in range(n))
    import math
    assert stats["iterations"] <= math.ceil(math.log2(n)) + 4, stats


def test_ivf_fit_high_dim(spark):
    """VERDICT r3 #5: centroid fit at dim=512 — one array-agg expression,
    no per-dimension expression bloat; centroids separate two planted
    clusters."""
    import numpy as np
    rng = np.random.RandomState(7)
    dim = 512
    rows = []
    for i in range(60):
        base = np.zeros(dim); base[0] = 1.0
        rows.append((i, (base + 0.01 * rng.randn(dim)).tolist()))
    for i in range(60, 120):
        base = np.zeros(dim); base[1] = 1.0
        rows.append((i, (base + 0.01 * rng.randn(dim)).tolist()))
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity.ivf_fit_centroids(e, dim, n_centroids=4, n_iters=3)
    assert len(cents) == 4 and all(len(c) == dim for c in cents)
    cids = {r["vec_id"]: r["cid"] for r in e.select(
        "vec_id", similarity._ivf_assign_expr(F.col("embedding"), cents).alias("cid")
    ).collect()}
    a = {cids[i] for i in range(60)}
    b = {cids[i] for i in range(60, 120)}
    assert a.isdisjoint(b)  # the two clusters land on different centroids
    assert len(a) == 1 and len(b) == 1


def test_decode_media_jpeg_real(spark):
    """JPEG media rows route through the real T.81 decoder (r4): exact
    dimensions and pixel-derived mean luma."""
    import numpy as np
    from geopull_spark.kernels.jpeg import jpeg_decode, jpeg_encode

    img = np.outer(np.linspace(0, 255, 24), np.ones(40)).astype(np.uint8)
    buf = jpeg_encode(img, 90)
    media = spark.createDataFrame(
        [("mJ", "d0", "image", bytearray(buf))],
        "media_ref string, doc_id string, kind string, content binary",
    )
    row = multimodal.decode_media(media).collect()[0]
    assert (row["width"], row["height"]) == (40, 24)
    decoded = jpeg_decode(buf)
    assert row["mean_luma"] == pytest.approx(float(decoded.astype("float64").mean()), abs=1e-4)


def test_decode_media_tiff_real(spark):
    """(Geo)TIFF media rows route through the from-spec TIFF codec: exact
    dimensions, nodata-excluded mean, BigTIFF sniffed too, corrupt TIFF
    quarantined in the skip lane."""
    import numpy as np
    from geopull_spark.kernels.tiff import tiff_encode

    arr = np.arange(12 * 20, dtype=np.uint16).reshape(12, 20) % 400
    arr[0, :5] = 999  # nodata pixels excluded from the mean
    buf = tiff_encode(arr, 0.0, 1.0, 0.1, 0.1, compression=8, nodata=999)
    big = tiff_encode(arr, 0.0, 1.0, 0.1, 0.1, compression=5, bigtiff=True)
    media = spark.createDataFrame(
        [("mT", "d0", "image", bytearray(buf)),
         ("mB", "d0", "image", bytearray(big)),
         ("mX", "d0", "image", bytearray(buf[:40]))],
        "media_ref string, doc_id string, kind string, content binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.decode_media(media, on_error="skip").collect()}
    exp = float(np.round(arr[arr != 999].astype(np.float64).mean(), 6))
    assert (rows["mT"]["width"], rows["mT"]["height"]) == (20, 12)
    assert rows["mT"]["mean_luma"] == pytest.approx(exp, abs=1e-6)
    assert (rows["mB"]["width"], rows["mB"]["status"]) == (20, "ok")
    assert rows["mB"]["mean_luma"] == pytest.approx(
        float(np.round(arr.astype(np.float64).mean(), 6)), abs=1e-6)
    assert rows["mX"]["status"] == "error" and rows["mX"]["width"] is None


def test_decode_media_gif_real(spark):
    """GIF media rows route through the from-spec GIF codec: exact dims,
    palette-derived Rec.601 mean luma, corrupt GIF quarantined."""
    import numpy as np
    from geopull_spark.kernels.gif import gif_encode

    rng = np.random.RandomState(8)
    pal = rng.randint(0, 256, (32, 3)).astype(np.uint8)
    idx = rng.randint(0, 32, (20, 28)).astype(np.uint8)
    buf = gif_encode(idx, pal, interlace=True, gce=True)
    media = spark.createDataFrame(
        [("mG", "d0", "image", bytearray(buf)),
         ("mX", "d0", "image", bytearray(buf[:20]))],
        "media_ref string, doc_id string, kind string, content binary",
    )
    rows = {r["media_ref"]: r
            for r in multimodal.decode_media(media, on_error="skip").collect()}
    img = pal[idx]
    want = float(np.round((0.299 * img[..., 0].astype(np.float64)
                           + 0.587 * img[..., 1] + 0.114 * img[..., 2]).mean(), 6))
    assert (rows["mG"]["width"], rows["mG"]["height"]) == (28, 20)
    assert rows["mG"]["mean_luma"] == pytest.approx(want, abs=1e-6)
    assert rows["mX"]["status"] == "error" and rows["mX"]["width"] is None


def test_pip_rect_assign_matches_integer_truth(spark):
    """The full J7 machinery (cover index + cell join + PIP refine kernel)
    against rectangle zones must equal pure integer interval arithmetic on
    the exact doc-point rationals (the q_pip_rect_assign value oracle,
    reproduced here engine-free)."""
    codes = ["AAA", "BBB", "CCC"]
    ids = [r[0] for r in spark.read.parquet(f"{SF}/documents.parquet")
           .select("doc_id").collect()]
    truth = {}
    for i in ids:
        kx, ky = (i * 48271) % 100000, (i * 69621) % 100000
        if kx % 12500 == 0 or ky % 12500 == 0:
            continue  # on a grid line: excluded symmetrically
        truth[str(i)] = f"{codes[i % 3]}_{kx // 12500}_{ky // 12500}"
    docs = synth.interleaved_documents(spark, SF).filter(
        ~F.expr("(CAST(doc_id AS BIGINT) * 48271) % 100000 % 12500 = 0 OR "
                "(CAST(doc_id AS BIGINT) * 69621) % 100000 % 12500 = 0")
    )
    out = spatial_join.assign_docs_to_blocks(docs, synth.rect_zones(spark))
    got = {r["doc_id"]: r["block_id"] for r in out.select("doc_id", "block_id").collect()}
    assert got == truth and len(truth) > 0


def test_zonal_rect_recovers_exact_areas(spark):
    """Coverage-fraction weights × cell tile areas recover each rectangle
    zone's exact area (conservation invariant as data; q_zonal_rect)."""
    lon_e = [0.0, 0.11, 0.35, 0.62, 1.0]
    lat_e = [0.0, 0.17, 0.4, 0.78, 1.0]
    zones = synth.rect_zones(spark, lon_edges=lon_e, lat_edges=lat_e)
    raster = spatial_join.cell_tile_areas(zones)
    out = spatial_join.zonal_aggregate(zones, raster, value_col="area")
    rows = out.select("block_id", "zonal_sum").collect()
    assert len(rows) == 48
    areas = set()
    for r in rows:
        _, ci, rj = r["block_id"].split("_")
        ci, rj = int(ci), int(rj)
        exact = (lon_e[ci + 1] - lon_e[ci]) * (lat_e[rj + 1] - lat_e[rj])
        assert abs(r["zonal_sum"] - exact) < 1e-10, r
        areas.add(round(exact, 7))
    assert len(areas) == 16  # uneven grid: a constant answer cannot pass


def test_geotiff_distributed_reader_and_zonal(spark, tmp_path):
    """read_geotiff_cells: executor-side chunk decode + in-kernel partial
    aggregation must equal a direct whole-image numpy aggregation EXACTLY
    (integer-valued pixels → float64 sums are order-independent), nodata
    dropped; the resulting table feeds zonal_aggregate."""
    import numpy as np

    from geopull_spark.kernels import cells as cellk
    from geopull_spark.kernels.tiff import tiff_encode
    from geopull_spark.sources.raster import read_geotiff_cells

    rng = np.random.RandomState(3)
    h, w = 200, 200
    arr = rng.randint(1, 500, size=(h, w)).astype(np.uint16)
    arr[rng.rand(h, w) < 0.05] = 999  # nodata speckle
    path = str(tmp_path / "pop.tif")
    with open(path, "wb") as f:
        f.write(tiff_encode(arr, lon0=0.0, lat0=1.0, px_lon=1.0 / w,
                            px_lat=1.0 / h, compression=8, tile_size=64,
                            nodata=999.0))

    res = 14
    got = {r["cell"]: (r["value"], r["n_px"])
           for r in read_geotiff_cells(spark, path, res).collect()}

    # numpy ground truth over the whole image
    lon = (np.arange(w) + 0.5) / w
    lat = 1.0 - (np.arange(h) + 0.5) / h
    lon_g = np.broadcast_to(lon[None, :], arr.shape)
    lat_g = np.broadcast_to(lat[:, None], arr.shape)
    keep = arr != 999
    cell = cellk.cell_id(lon_g[keep], lat_g[keep], res).astype(np.int64)
    uniq, inv = np.unique(cell, return_inverse=True)
    sums = np.bincount(inv, weights=arr[keep].astype(np.float64))
    cnts = np.bincount(inv)
    want = {int(c): (float(s), int(n)) for c, s, n in zip(uniq, sums, cnts)}
    assert got == want and len(want) > 500

    # the table plugs into the J9 zonal join; zones tile [0,1]^2 so the
    # zonal total recovers the pixel total up to boundary-cell coverage
    zones = synth.rect_zones(spark)
    out = spatial_join.zonal_aggregate(zones, read_geotiff_cells(spark, path, res))
    tot = sum(r["zonal_sum"] for r in out.collect())
    full = float(arr[keep].astype(np.float64).sum())
    assert 0.9 * full <= tot <= full + 1e-6

    # mosaic: the same extent split into two side-by-side files (each with
    # its own georeferencing, different compressions) must aggregate to the
    # SAME per-cell table as the single file
    lp, rp = str(tmp_path / "left.tif"), str(tmp_path / "right.tif")
    with open(lp, "wb") as f:
        f.write(tiff_encode(arr[:, : w // 2], lon0=0.0, lat0=1.0,
                            px_lon=1.0 / w, px_lat=1.0 / h, compression=8,
                            nodata=999.0))
    with open(rp, "wb") as f:
        f.write(tiff_encode(arr[:, w // 2:], lon0=0.5, lat0=1.0,
                            px_lon=1.0 / w, px_lat=1.0 / h, compression=1,
                            nodata=999.0, bigtiff=True))
    mosaic = {r["cell"]: (r["value"], r["n_px"])
              for r in read_geotiff_cells(spark, [lp, rp], res).collect()}
    assert mosaic == want

    # COG overviews: level-1 read must equal the numpy truth on the
    # decimated grid (2× pixel size, same anchor, nodata inherited)
    cog = str(tmp_path / "cog.tif")
    with open(cog, "wb") as f:
        f.write(tiff_encode(arr, lon0=0.0, lat0=1.0, px_lon=1.0 / w,
                            px_lat=1.0 / h, compression=8, tile_size=64,
                            nodata=999.0, overviews=1))
    got1 = {r["cell"]: (r["value"], r["n_px"])
            for r in read_geotiff_cells(spark, cog, res, level=1).collect()}
    a1 = arr[::2, ::2]
    h1, w1 = a1.shape
    lon1 = (np.arange(w1) + 0.5) * (2.0 / w)
    lat1 = 1.0 - (np.arange(h1) + 0.5) * (2.0 / h)
    keep1 = a1 != 999
    cell1 = cellk.cell_id(np.broadcast_to(lon1[None, :], a1.shape)[keep1],
                          np.broadcast_to(lat1[:, None], a1.shape)[keep1],
                          res).astype(np.int64)
    u1, i1 = np.unique(cell1, return_inverse=True)
    want1 = {int(c): (float(s), int(n)) for c, s, n in zip(
        u1, np.bincount(i1, weights=a1[keep1].astype(np.float64)), np.bincount(i1))}
    assert got1 == want1
    # full-res read of the COG file is unchanged by the appended overview
    assert {r["cell"]: (r["value"], r["n_px"])
            for r in read_geotiff_cells(spark, cog, res).collect()} == want
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_geotiff_cells(spark, cog, res, level=2)


def test_ngram_logprob_properties(spark):
    """Bigram LM scoring: short docs score 0/0; a doc repeating the
    corpus's dominant bigram outscores (per bigram) one of hapax bigrams."""
    from geopull_spark.operators.text import ngram_logprob

    rows = [
        (1, "the cat " * 30),              # dominant bigram
        (2, "zq wx ev rk tn bm yu io"),    # all-hapax bigrams
        (3, "single"),
        (4, ""),
    ]
    out = {r["doc_id"]: r for r in ngram_logprob(
        spark.createDataFrame(rows, "doc_id int, text string")).collect()}
    assert out[3]["n_bigrams"] == 0 and out[3]["logprob"] == 0.0
    assert out[4]["n_bigrams"] == 0 and out[4]["logprob"] == 0.0
    mean1 = out[1]["logprob"] / out[1]["n_bigrams"]
    mean2 = out[2]["logprob"] / out[2]["n_bigrams"]
    assert mean1 > mean2  # common phrasing scores higher per bigram
    assert out[1]["n_bigrams"] == 59 and out[2]["n_bigrams"] == 7
