"""Seeded benchmark inputs. The engine only ever receives these DataFrames.

* street worlds: the engine's own synthetic OSM generator, with the row
  order of its output permuted by the seed (block ids must not depend on it);
* document points: uniform over the world's region boxes, with a share of
  them jittered inside one index cell at a seeded spot (a dense city);
* a text corpus: sentences over the vocabulary of the ``documents`` test
  table plus seeded tokens, with planted near-duplicate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# every word of documents.text in the sf0.1 test table
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

HOT_JITTER_DEG = 1e-4  # hot docs stay inside one ~0.02° index cell


def cache(df: DataFrame) -> int:
    df.persist()
    return df.count()


def world_ways(spark: SparkSession, seed: int, regions: int, streets: int) -> DataFrame:
    from geopull_spark.sources import synth

    ways = synth.gen_osm_ways(spark, streets_per_region=streets, n_regions=regions)
    return ways.orderBy(F.xxhash64("way_id", F.lit(seed)))


def _unit(seed: int, k: int):
    """Uniform [0, 1) double from the row id, the seed and a stream number."""
    return F.pmod(F.xxhash64("id", F.lit(seed), F.lit(k)), F.lit(1 << 52)) / float(1 << 52)


def doc_points(spark: SparkSession, seed: int, n: int, regions: int,
               hot_share: float = 0.1, batch_size: int | None = None) -> DataFrame:
    """(doc_id, lon, lat[, batch]) for ``n`` documents."""
    from geopull_spark.sources import synth

    boxes = list(synth.region_specs(regions).values())
    rng = np.random.default_rng(seed)
    hx0, hy0, _, _ = boxes[int(rng.integers(len(boxes)))]
    hot_lon = hx0 + 0.05 + 0.9 * float(rng.random())
    hot_lat = hy0 + 0.05 + 0.9 * float(rng.random())
    x0 = F.element_at(F.array(*[F.lit(b[0]) for b in boxes]), F.col("r") + 1)
    y0 = F.element_at(F.array(*[F.lit(b[1]) for b in boxes]), F.col("r") + 1)
    hot = _unit(seed, 0) < hot_share
    df = (
        spark.range(0, n, 1, numPartitions=16)
        .withColumn("r", F.pmod(F.xxhash64("id", F.lit(seed), F.lit(1)), F.lit(regions)).cast("int"))
        .select(
            "id",
            F.concat(F.lit(f"s{seed}_"), F.col("id").cast("string")).alias("doc_id"),
            F.when(hot, hot_lon + HOT_JITTER_DEG * _unit(seed, 2))
            .otherwise(x0 + _unit(seed, 3)).alias("lon"),
            F.when(hot, hot_lat + HOT_JITTER_DEG * _unit(seed, 4))
            .otherwise(y0 + _unit(seed, 5)).alias("lat"),
        )
    )
    if batch_size is not None:
        df = df.withColumn("batch", (F.col("id") / batch_size).cast("int"))
    return df.drop("id")


def sample_filter(seed: int, one_in: int):
    """Seeded sample of doc ids, about one in ``one_in``."""
    return F.pmod(F.xxhash64("doc_id", F.lit(seed), F.lit(99)), F.lit(one_in)) == 0


def corpus(seed: int, n_docs: int, n_planted: int, words: int = 48,
           vocab_share: float = 0.05) -> tuple[pd.DataFrame, list]:
    """(doc_id, text) with ``n_planted`` near-duplicate pairs: a copy of
    another document with one word replaced. Words are drawn from VOCAB or
    are fresh random letters, so unrelated documents share only the grams
    of common words. Returns the frame and the planted (doc_a, doc_b) pairs
    with doc_a < doc_b."""
    rng = np.random.default_rng(seed)
    n_base = n_docs - n_planted
    vocab = np.zeros((len(VOCAB), 9), dtype=np.uint8)
    vocab_len = np.array([len(w) for w in VOCAB])
    for i, w in enumerate(VOCAB):
        vocab[i, :len(w)] = np.frombuffer(w.encode(), dtype=np.uint8)
    # one row of 9 bytes per word: up to 8 letters, a space, then padding
    chars = rng.integers(ord("a"), ord("z") + 1, size=(n_base, words, 9), dtype=np.uint8)
    lens = rng.integers(3, 9, size=(n_base, words))
    is_vocab = rng.random((n_base, words)) < vocab_share
    pick = rng.integers(0, len(VOCAB), size=(n_base, words))[is_vocab]
    chars[is_vocab] = vocab[pick]
    lens[is_vocab] = vocab_len[pick]
    pos = np.arange(9)
    chars[pos == lens[..., None]] = ord(" ")
    keep = pos <= lens[..., None]
    texts = [chars[i][keep[i]].tobytes().decode()[:-1] for i in range(n_base)]
    originals = rng.choice(n_base, size=n_planted, replace=False)
    planted = []
    for j, src in enumerate(originals):
        row = texts[src].split(" ")
        row[int(rng.integers(words))] = "".join(chr(c) for c in rng.integers(ord("a"), ord("z") + 1, 6))
        texts.append(" ".join(row))
        planted.append((int(src), n_base + j))
    # shuffle ids so copies are not all at the end of the id range
    perm = rng.permutation(n_docs)
    frame = pd.DataFrame({"doc_id": perm.astype(np.int64), "text": texts})
    pairs = sorted((min(perm[a], perm[b]), max(perm[a], perm[b])) for a, b in planted)
    return frame, [(int(a), int(b)) for a, b in pairs]
