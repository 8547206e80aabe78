"""Streaming ingest tests: stream assignment matches batch; resume from
checkpoint processes only new files; watermarked window counts."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from geopull_spark.operators import blocker, extract, normalize, spatial_join
from geopull_spark.session import get_spark
from geopull_spark.sources import synth
from geopull_spark.streaming import ingest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="stream_tests", master="local[4]", shuffle_partitions=4)


@pytest.fixture(scope="module")
def blocks(spark):
    ways = synth.gen_osm_ways(spark, streets_per_region=25)
    land = normalize.normalize_land(
        extract.extract_admin(ways), extract.extract_water(ways), synth.gen_coastline(spark)
    )
    return blocker.build_blocks(land, extract.extract_linestrings(ways)).cache()


def _doc_batch(spark, lo, hi):
    docs = synth.interleaved_documents(spark, SF)
    return (
        docs.filter((F.col("doc_id").cast("long") >= lo) & (F.col("doc_id").cast("long") < hi))
        .select(
            "doc_id", "lon", "lat",
            F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("event_ts"),
        )
    )


def test_stream_matches_batch_and_resumes(spark, blocks, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)

    _doc_batch(spark, 0, 200).write.mode("append").parquet(in_dir)
    ingest.run_assign_stream(spark, in_dir, blocks, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # batch ground truth for the same rows
    batch = spatial_join.assign_docs_to_blocks(
        _doc_batch(spark, 0, 200).select("doc_id", "lon", "lat"), blocks
    )
    stream_rows = {
        (r["doc_id"], r["block_id"])
        for r in spark.read.parquet(out_dir).select("doc_id", "block_id").collect()
    }
    batch_rows = {(r["doc_id"], r["block_id"]) for r in batch.collect()}
    assert stream_rows == batch_rows

    # resume: append a second file batch; only new docs get processed
    _doc_batch(spark, 200, 300).write.mode("append").parquet(in_dir)
    ingest.run_assign_stream(spark, in_dir, blocks, out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    assert out.count() > n1
    assert out.select("doc_id").distinct().count() == out.count()  # no re-processing


def test_windowed_counts(spark, blocks, tmp_path):
    """Closed-window per-block counts equal batch assignment's per-block
    counts over the same docs. A late doc (05:00, inside a block so that it
    reaches the watermark) moves the watermark past the end of the 00:00
    window, so that window closes in the same AvailableNow run."""
    batch = spatial_join.assign_docs_to_blocks(
        _doc_batch(spark, 0, 150).select("doc_id", "lon", "lat"), blocks
    ).collect()
    want = Counter(r["block_id"] for r in batch)

    in_dir = str(tmp_path / "in2")
    os.makedirs(in_dir, exist_ok=True)
    _doc_batch(spark, 0, 150).write.mode("append").parquet(in_dir)
    late = spark.createDataFrame([("late", batch[0]["lon"], batch[0]["lat"])],
                                 ["doc_id", "lon", "lat"])
    late.select("doc_id", "lon", "lat",
                F.to_timestamp(F.lit("2026-01-01 05:00:00")).alias("event_ts")
                ).write.mode("append").parquet(in_dir)
    stream = ingest.read_doc_stream(spark, in_dir)
    counts = ingest.windowed_block_counts(stream, blocks)
    q = (
        counts.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT window_start, block_id, n_docs FROM wincounts").collect()
    assert {str(r["window_start"]) for r in got} == {"2026-01-01 00:00:00"}
    assert want and {r["block_id"]: r["n_docs"] for r in got} == want


def test_boundary_doc_parity_and_uniqueness(spark, blocks, tmp_path):
    """A doc exactly on a street shared by two blocks must yield at most one
    assignment (min block_id), identically in batch and both stream paths:
    ``run_assign_stream`` and ``assign_stream`` + min per doc."""
    # streets_per_region=25 → n_grid=3 → vertical streets at x = 0.25/0.5/0.75
    pts = [("edge1", 0.25, 0.33), ("edge2", 0.5, 0.61), ("inner", 0.1, 0.1)]
    batch_docs = spark.createDataFrame(pts, ["doc_id", "lon", "lat"])
    batch = spatial_join.assign_docs_to_blocks(batch_docs, blocks).collect()
    assert len(batch) == len({r["doc_id"] for r in batch})  # unique per doc
    want = {(r["doc_id"], r["block_id"]) for r in batch}

    stream_in = batch_docs.withColumn(
        "event_ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    raw = ingest.assign_stream(stream_in, blocks)  # pure transformations
    picked = raw.groupBy("doc_id").agg(F.min("block_id").alias("block_id")).collect()
    assert {(r["doc_id"], r["block_id"]) for r in picked} == want

    in_dir, out_dir = str(tmp_path / "bin"), str(tmp_path / "bout")
    stream_in.write.parquet(in_dir)
    ingest.run_assign_stream(spark, in_dir, blocks, out_dir, str(tmp_path / "bckpt"))
    out = spark.read.parquet(out_dir).select("doc_id", "block_id").collect()
    assert len(out) == len(batch)
    assert {(r["doc_id"], r["block_id"]) for r in out} == want


def test_event_sessions_streaming_and_batch(spark, tmp_path):
    """session_window sessionization runs as a streaming stateful op and its
    batch form merges events within the gap."""
    rows = [
        (1, "2026-01-01 10:00:00", 100, "view", 1.0),
        (2, "2026-01-01 10:10:00", 100, "click", 2.0),   # same session
        (3, "2026-01-01 11:30:00", 100, "view", 3.0),    # new session
        (4, "2026-01-01 10:05:00", 200, "view", 4.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    batch = {(r["user_id"], str(r["session_start"]), r["n_events"])
             for r in ingest.event_sessions(df, gap="30 minutes").collect()}
    assert batch == {
        (100, "2026-01-01 10:00:00", 2),
        (100, "2026-01-01 11:30:00", 1),
        (200, "2026-01-01 10:05:00", 1),
    }
    # streaming form: stateful session_window over a file stream
    in_dir = str(tmp_path / "ev_in")
    df.write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    q = (
        ingest.event_sessions(stream, gap="30 minutes", watermark="1 minute")
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # smoke: the stateful plan runs and checkpoints


def test_dedup_doc_stream_cross_batch(spark, tmp_path):
    """Cross-micro-batch exact dedup: a duplicate arriving in a LATER
    micro-batch is dropped (per-batch dropDuplicates would keep it), the
    first occurrence passes through, and stream output equals the batch
    form when arrival follows (event_ts, doc_id) order."""
    cols = ["doc_id", "text", "event_ts_s"]
    batch1 = [("a", "the quick brown fox", "2026-01-01 10:00:00"),
              ("b", "lorem ipsum dolor", "2026-01-01 10:01:00")]
    batch2 = [("c", "the quick brown fox", "2026-01-01 10:02:00"),  # dup of a
              ("d", "entirely new content", "2026-01-01 10:03:00"),
              ("e", "lorem ipsum dolor", "2026-01-01 10:04:00")]    # dup of b
    def mk(rows):
        return (spark.createDataFrame(rows, cols)
                .withColumn("event_ts", F.to_timestamp("event_ts_s"))
                .drop("event_ts_s"))
    in_dir = str(tmp_path / "dd_in")
    # one file per micro-batch (maxFilesPerTrigger=1): the duplicates sit in
    # a different batch than their originals, so only cross-batch state
    # can drop them
    mk(batch1).coalesce(1).write.mode("append").parquet(in_dir)
    mk(batch2).coalesce(1).write.mode("append").parquet(in_dir)

    schema = mk(batch1).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (ingest.dedup_doc_stream(stream, watermark="1 hour")
         .writeStream.format("memory").queryName("dd_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dd_out").collect()}
    assert got == {"a", "b", "d"}  # c and e (cross-batch dups) dropped

    # batch form on the union: same survivors, full rows carried through
    allrows = mk(batch1).unionByName(mk(batch2))
    b = ingest.dedup_doc_stream(allrows).collect()
    assert {r["doc_id"] for r in b} == {"a", "b", "d"}
    assert {r["text"] for r in b} == {"the quick brown fox", "lorem ipsum dolor",
                                      "entirely new content"}


def test_minhash_neardup_stream(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): near-dup candidate
    pairs across micro-batches. A near-dup arriving in a LATER batch must
    pair with its earlier twin (cross-batch bucket state), and the full
    emitted pair set must equal the batch minhash_lsh_pairs on the union."""
    from geopull_spark.operators.dedup import minhash_lsh_pairs

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight")
    near = base.replace("tonight", "at dawn")
    other = ("completely unrelated content about distributed query "
             "engines shuffling partitioned columnar batches around")
    b1 = [("a", base), ("x", other)]
    b2 = [("b", near), ("c", base), ("y", other + " all day")]
    cols = ["doc_id", "text"]
    in_dir = str(tmp_path / "nd_in")
    spark.createDataFrame(b1, cols).coalesce(1).write.mode("append").parquet(in_dir)
    spark.createDataFrame(b2, cols).coalesce(1).write.mode("append").parquet(in_dir)

    stream = (spark.readStream.schema("doc_id string, text string")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (ingest.minhash_neardup_stream(stream)
         .writeStream.format("memory").queryName("nd_pairs")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {(r["doc_a"], r["doc_b"])
           for r in spark.sql("SELECT doc_a, doc_b FROM nd_pairs").collect()}

    union = spark.createDataFrame(b1 + b2, cols)
    want = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(union).collect()}
    assert got == want
    assert ("a", "b") in got or ("a", "c") in got  # cross-batch pair exists
    assert ("a", "c") in got and ("a", "b") in got and ("b", "c") in got


def test_minhash_neardup_stream_bucket_cap(spark, tmp_path):
    """Above bucket_cap the stream emits star pairs against the bucket's
    first-seen member — per-arrival output and state stay bounded, and
    connected components still span the bucket."""
    txt = "identical boilerplate template page footer content here"
    rows = [(f"d{i}", txt) for i in range(6)]
    in_dir = str(tmp_path / "cap_in")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    stream = (spark.readStream.schema("doc_id string, text string")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (ingest.minhash_neardup_stream(stream, bucket_cap=2)
         .writeStream.format("memory").queryName("cap_pairs")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "cap_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {(r["doc_a"], r["doc_b"])
           for r in spark.sql("SELECT doc_a, doc_b FROM cap_pairs").collect()}
    # star around first-seen d0: all-pairs among {d0,d1} then hub pairs only
    assert got == {("d0", f"d{i}") for i in range(1, 6)}


def test_stream_geotiff_cells_matches_batch_and_incremental(spark, tmp_path):
    """Streaming raster ingest: per-cell totals from the file stream must
    equal the batch mosaic reader's; a second AvailableNow trigger on the
    same checkpoint decodes only the newly-landed tile and the running
    totals absorb it."""
    import numpy as np

    from geopull_spark.kernels.tiff import tiff_encode
    from geopull_spark.sources.raster import read_geotiff_cells

    rng = np.random.RandomState(21)
    tiles_dir = tmp_path / "tiles"
    tiles_dir.mkdir()
    arrs, paths = [], []
    for i in range(3):
        a = rng.randint(0, 300, size=(40, 40)).astype(np.uint16)
        arrs.append(a)
        p = str(tiles_dir / f"t{i}.tif")
        paths.append(p)
        with open(p, "wb") as f:
            f.write(tiff_encode(a, lon0=0.4 * i, lat0=1.0, px_lon=0.01,
                                px_lat=0.01, compression=8))
    res = 8

    def run():
        q = (ingest.stream_geotiff_cells(spark, str(tiles_dir), res)
             .writeStream.format("memory").queryName("rcells")
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / "r_ckpt"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return {r["cell"]: (r["value"], r["n_px"])
                for r in spark.sql("SELECT * FROM rcells").collect()}

    got = run()
    want = {r["cell"]: (r["value"], r["n_px"])
            for r in read_geotiff_cells(spark, paths, res).collect()}
    assert got == want

    # a fourth tile lands; same checkpoint → only the new file is decoded,
    # totals now equal the 4-tile batch mosaic
    a3 = rng.randint(0, 300, size=(40, 40)).astype(np.uint16)
    p3 = str(tiles_dir / "t3.tif")
    with open(p3, "wb") as f:
        f.write(tiff_encode(a3, lon0=1.2, lat0=1.0, px_lon=0.01,
                            px_lat=0.01, compression=8))
    got2 = run()
    want2 = {r["cell"]: (r["value"], r["n_px"])
             for r in read_geotiff_cells(spark, paths + [p3], res).collect()}
    assert got2 == want2 and got2 != got
