"""Structured Streaming: incremental doc ingest → block assignment.

The reference is batch-only (SURVEY.md §2.9) — its "incremental" behavior is
the skip-if-exists cache. Our engine adds the streaming path a production
doc pipeline needs: new interleaved-doc files land continuously and each
micro-batch is assigned to blocks and appended to the assignment table.

Both sinks assign through the batch path's geometry side
(``spatial_join.build_refine_geometry``) and its exact PIP test
(``spatial_join.pip_pairs``), so a doc on a shared block boundary resolves
to the batch path's min(block_id) tie-break:

* ``run_assign_stream`` calls ``assign_docs_full`` inside ``foreachBatch``
  on the persisted batch (its files are read once) against one cached
  refine geometry — the batch kernel, tie-break included — writing each
  batch to its own partition directory (idempotent on retry);
* ``windowed_block_counts`` feeds a stateful aggregation, so it uses
  ``assign_stream``: a stream-static join on the parent cell and the closed
  bbox, refined by a filter on a scalar Arrow UDF (a filter keeps the
  watermark of ``event_ts``, which ``mapInArrow`` drops). It emits one row
  per (doc, containing block); a per-(window, doc) min aggregation chained
  before the per-block count (multiple stateful operators, Spark 3.5+)
  breaks the tie.

Stream output therefore matches ``assign_docs_to_blocks`` row for row.
``Trigger.AvailableNow`` drains the backlog batch-style and checkpoints —
resume is exactly-once on top of the same snapshot-manifest warehouse.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..functions import cellexpr
from ..operators.spatial_join import (
    PARENT_RES,
    assign_docs_full,
    build_refine_geometry,
    pip_pairs,
)

DOC_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("event_ts", T.TimestampType()),
    ]
)


def read_doc_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


@arrow_udf(T.BooleanType())
def _in_block(lon: pa.Array, lat: pa.Array, block_id: pa.Array,
              geometry: pa.Array) -> pa.Array:
    """Exact PIP of (doc, block) bbox pairs, one row each: the rows of one
    block share its WKB, so the first row of each block stands for it."""
    ids = block_id.to_numpy(zero_copy_only=False)
    _, first, inv = np.unique(ids, return_index=True, return_inverse=True)
    keep, _, _ = pip_pairs(lon.to_numpy(), lat.to_numpy(), first[inv], geometry)
    return pa.array(keep)


def assign_stream(doc_stream: DataFrame, blocks: DataFrame) -> DataFrame:
    """Stream-static join of ``doc_stream`` (doc_id, lon, lat, event_ts)
    against the refine geometry of ``blocks``: equal parent cell and the doc
    in the closed bbox, then a filter on the exact PIP test, one Arrow
    batch per call. Filter and projections keep ``event_ts``'s watermark.

    Emits one row per (doc, containing block) — boundary docs can emit two;
    the caller breaks the tie (see module docstring)."""
    d = cellexpr.with_cell(
        doc_stream.select("doc_id", "lon", "lat", "event_ts"), PARENT_RES, out="pcell"
    )
    pairs = d.join(
        build_refine_geometry(blocks),
        F.expr("pcell = g_pcell AND lon BETWEEN minx AND maxx AND lat BETWEEN miny AND maxy"),
    )
    return pairs.filter(_in_block("lon", "lat", "g_block_id", "g_geometry")).select(
        "doc_id", F.col("g_block_id").alias("block_id"), "lon", "lat", "event_ts")


def _assign_batch(batch: DataFrame, geom: DataFrame) -> DataFrame:
    """The assigned docs of one micro-batch, with all of its columns.
    ``assign_docs_full`` reads the batch twice (the assignment, and the
    ``doc_id`` join that carries ``event_ts`` back), so the batch is
    persisted here and its files are scanned once; the caller unpersists
    ``batch`` when done."""
    return assign_docs_full(batch.persist(), None, geom_cells=geom).filter(
        F.col("block_id").isNotNull())


def run_assign_stream(
    spark: SparkSession,
    input_dir: str,
    blocks: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain the current backlog with AvailableNow (checkpointed, resumable).

    ``foreachBatch`` assigns each micro-batch with the batch kernel against
    one cached refine geometry, keeps the assigned docs and writes each
    batch to its own partition directory with overwrite — idempotent if a
    batch is retried after a crash (same batch_id → same directory)."""
    geom = build_refine_geometry(blocks).persist()

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        try:
            _assign_batch(batch, geom).write.mode("overwrite").parquet(
                f"{output_dir}/batch_id={batch_id}")
        finally:
            batch.unpersist()

    try:
        q = (
            read_doc_stream(spark, input_dir).writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        geom.unpersist()


def dedup_doc_stream(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", ts_col: str = "event_ts",
                     watermark: str = "24 hours") -> DataFrame:
    """Cross-micro-batch exact dedup at ingest: each distinct document
    content passes through ONCE; later copies — including copies arriving in
    a LATER micro-batch, which a per-batch ``dropDuplicates`` misses — are
    dropped.

    Streaming frames use Spark's ``dropDuplicatesWithinWatermark`` keyed on
    the 64-bit content hash: the state store holds one (hash, first-seen
    event time) entry per distinct document inside the watermark and evicts
    older entries, so state is bounded by arrival rate × watermark and is
    independent of document length (the 8-byte hash, not the text, is the
    key — ~10⁸ distinct docs/day is a few GB of state across a cluster). A
    duplicate arriving more than ``watermark`` after the original may pass;
    at crawl scale that is the correct memory/completeness trade, and the
    batch near-dup pass downstream catches stragglers.

    Batch frames get the deterministic equivalent: the first occurrence per
    content hash, ordered by (``ts_col`` if present, ``id_col``) — one
    hash-keyed shuffle carrying each group's min struct, no join-back.
    Stream output equals the batch form whenever arrival order follows
    (event time, id) — pinned by ``test_dedup_doc_stream_cross_batch``.
    """
    d = docs.withColumn("content_hash", F.xxhash64(F.col(text_col)))
    if d.isStreaming:
        return (
            d.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["content_hash"])
        )
    cols = d.columns
    order = ([ts_col] if ts_col in cols else []) + [id_col]
    packed = order + [c for c in cols if c not in order]
    first = d.groupBy("content_hash").agg(F.min(F.struct(*packed)).alias("p"))
    return first.select("p.*").select(*cols)


def minhash_neardup_stream(doc_stream: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n_bands: int = 8,
                           bucket_cap: int = 128,
                           state_ttl: str | None = None) -> DataFrame:
    """Streaming near-dup candidates: each arriving document pairs with every
    PREVIOUSLY seen document sharing a MinHash band bucket — the incremental
    form of ``operators/dedup.py:minhash_lsh_pairs``. This is the engine's
    custom-stateful-operator surface (north_star: ``applyInPandasWithState``
    for operators Spark's built-ins can't express — a stream-stream
    self-join would buffer BOTH sides and re-derive signatures twice).

    Mechanics: band signatures come from the same Arrow-batched rolling-hash
    kernel as the batch path (one evaluation per doc), exploded to one row
    per (band, mh) and grouped by that key; the GroupState per bucket holds
    the member ids seen so far, capped at ``bucket_cap``. A new member pairs
    all-pairs against the stored members while the bucket is below the cap,
    and only against the bucket's first-seen member (the streaming star hub)
    above it — per-arrival output and per-bucket state are both bounded by
    ``bucket_cap`` regardless of skew, the same crawl-shape guarantee as the
    batch window/star path. Within a micro-batch, members are processed in
    id order so output is deterministic.

    Equivalence: over any stream prefix whose buckets stay ≤ ``bucket_cap``,
    the emitted (min, max) pair SET equals the batch ``minhash_lsh_pairs``
    on the same documents (pinned by ``test_minhash_neardup_stream``; pairs
    can repeat across bands/batches — batch `.distinct()` semantics are the
    consumer's per-sink dedup). Above the cap the star hub is the bucket's
    FIRST-SEEN member rather than the batch path's global min id — connected
    components are identical either way (the hub spans the bucket).

    State sizing: one (band, mh) entry per distinct bucket holding ≤ cap ids
    + a count; ``state_ttl`` (e.g. ``"24 hours"``) enables processing-time
    eviction for unbounded crawls."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import _band_rows

    stacked = _band_rows(doc_stream, text_col, n_bands, id_col)

    out_schema = T.StructType([
        T.StructField("doc_a", T.StringType()),
        T.StructField("doc_b", T.StringType()),
        T.StructField("band", T.IntegerType()),
    ])
    state_schema = T.StructType([
        T.StructField("ids", T.ArrayType(T.StringType())),
        T.StructField("n", T.LongType()),
    ])
    ttl_ms = None
    if state_ttl is not None:
        import re as _re

        m = _re.match(r"(\d+)\s*(hour|minute|second)s?", state_ttl)
        if not m:
            raise ValueError(f"state_ttl: cannot parse {state_ttl!r}")
        ttl_ms = int(m.group(1)) * {"hour": 3600_000, "minute": 60_000,
                                    "second": 1000}[m.group(2)]

    def pair_bucket(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        band = int(key[0])
        ids, n = (state.get if state.exists else ([], 0))
        ids = list(ids)
        out_a, out_b = [], []
        for pdf in pdf_iter:
            for doc in sorted(pdf[id_col].astype(str)):
                if n < bucket_cap:
                    for other in ids:
                        out_a.append(min(doc, other))
                        out_b.append(max(doc, other))
                    ids.append(doc)
                elif ids:
                    out_a.append(min(doc, ids[0]))
                    out_b.append(max(doc, ids[0]))
                n += 1
        state.update((ids, n))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b,
                                "band": band})

    return stacked.groupBy("band", "mh").applyInPandasWithState(
        pair_bucket, out_schema, state_schema, "append",
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
        else GroupStateTimeout.NoTimeout,
    )


def stream_geotiff_cells(spark: SparkSession, input_dir: str, res: int,
                         max_files_per_trigger: int = 4) -> DataFrame:
    """Streaming raster ingest: GeoTIFF tiles landing in ``input_dir`` →
    running per-cell (value, n_px) totals.

    Plan shape: ``binaryFile`` file-stream source (one row per NEW file per
    trigger — the checkpoint remembers processed files, so a second trigger
    decodes only the tiles that arrived since) → stateless ``mapInPandas``
    doing the same in-kernel decode + per-chunk partial aggregation as the
    batch reader → streaming groupBy(cell) whose state store carries one row
    per cell. Use ``outputMode("complete"|"update")`` on the sink and
    ``Trigger.AvailableNow`` to drain batch-style.

    Scale note: the file source materializes each FILE as one row, so this
    path is for streams of tile-sized GeoTIFFs (the COG-mosaic shape);
    monolithic multi-GB rasters go through the batch byte-range reader
    (``sources/raster.read_geotiff_cells``)."""
    from ..kernels.tiff import tiff_parse_meta
    from ..sources.raster import _CELLS_SCHEMA, _chunk_cells

    raw = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")  # binaryFile's fixed schema
        .option("pathGlobFilter", "*.tif*")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
        .select("content")
    )

    def decode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_c, out_s, out_n = [], [], []
            for content in pdf["content"]:
                b = bytes(content)
                meta = tiff_parse_meta(b)
                for idx, (off, cnt) in enumerate(
                        zip(meta["offsets"], meta["counts"])):
                    cells, sums, counts = _chunk_cells(
                        meta, idx, b[off: off + cnt], res)
                    out_c.append(cells)
                    out_s.append(sums)
                    out_n.append(counts)
            yield pd.DataFrame({
                "cell": np.concatenate(out_c) if out_c else np.zeros(0, np.int64),
                "value": np.concatenate(out_s) if out_s else np.zeros(0),
                "n_px": np.concatenate(out_n) if out_n else np.zeros(0, np.int64),
            })

    partial = raw.mapInPandas(decode, _CELLS_SCHEMA)
    return partial.groupBy("cell").agg(
        F.sum("value").alias("value"), F.sum("n_px").alias("n_px")
    )


def event_sessions(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessionization per user (SURVEY §2.9 stateful-operator
    surface): Spark's built-in ``session_window`` (merging event-time state)
    rather than a hand-rolled ``applyInPandasWithState`` — the declarative
    form Catalyst can plan. Works on batch and streaming frames alike (the
    watermark is attached only when the input is streaming; batch form is
    DuckDB-oracle-checked as ``event_sessions``).

    A session extends while the next event arrives strictly within ``gap``
    of the previous one; ``session_start`` is the first event's timestamp."""
    e = events
    if e.isStreaming:
        e = e.withWatermark("ts", watermark)
    return (
        e.groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5)).cast("long").alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "value_cents",
        )
    )


def windowed_block_counts(doc_stream: DataFrame, blocks: DataFrame,
                          window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window docs-per-block rollup (late data beyond the
    watermark is dropped; state is bounded). The watermark is set on the doc
    stream before assignment, so every doc advances event time, also one
    that lies in no block. Chained stateful aggregation: per-(window, doc)
    min-block dedup feeds the per-(window, block) count, so boundary docs
    are not double-counted (stream/batch parity)."""
    assigned = assign_stream(doc_stream.withWatermark("event_ts", watermark), blocks)
    dedup = (
        assigned.groupBy(F.window("event_ts", window).alias("w"), F.col("doc_id"))
        .agg(F.min("block_id").alias("block_id"))
    )
    return (
        dedup.groupBy("w", "block_id")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "block_id",
            "n_docs",
        )
    )
