"""Text-analysis operators over the documents table.

Training-pipeline scoring — native Catalyst expressions, except the
fingerprint's rolling-hash kernel (a scalar Arrow UDF):

  text_quality    — length / punctuation / stopword / uppercase ratios
  lang_id         — stopword-hit heuristic over a small language table
  token_count     — whitespace tokens + BPE-ish regex token estimate
  doc_fingerprint — winnowing-style fingerprint (min k-gram hash per window)
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "en", "los", "del", "las", "por", "una"],
    "fr": ["le", "la", "les", "des", "est", "dans", "que", "une", "pour", "qui"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"],
}


def _count_token(text_col, word: str):
    """Occurrences of ' word ' via length arithmetic (exact, engine-neutral)."""
    needle = f" {word} "
    return (
        F.length(text_col) - F.length(F.replace(text_col, F.lit(needle), F.lit("")))
    ) / len(needle)


def text_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    n = F.length(t)
    n_spaces = n - F.length(F.replace(t, F.lit(" "), F.lit("")))
    n_punct = (
        (n - F.length(F.replace(t, F.lit("."), F.lit(""))))
        + (n - F.length(F.replace(t, F.lit(","), F.lit(""))))
        + (n - F.length(F.replace(t, F.lit("!"), F.lit(""))))
    )
    n_upper = n - F.length(F.replace(F.translate(t, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", ""), F.lit(""), F.lit("")))
    n_tokens = n_spaces + 1
    return docs.select(
        "doc_id",
        n.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n / F.greatest(n_tokens, F.lit(1)), 4).alias("mean_token_len"),
        F.round(n_punct / F.greatest(n, F.lit(1)), 6).alias("punct_ratio"),
        F.round(
            _count_token(t, "the") / F.greatest(n_tokens, F.lit(1)), 6
        ).alias("stopword_ratio"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of stopword-hit counts. Deterministic
    tie-break by language code order."""
    t = F.lower(F.col(text_col))
    scores = [
        F.struct(
            sum((_count_token(t, w) for w in words), F.lit(0.0)).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(_STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return docs.select(
        "doc_id",
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
        F.round(best["score"], 2).alias("lang_score"),
    )


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish estimate: words + digits + punctuation
    runs counted via regex split (JVM regex, no UDF)."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe_ish = F.size(F.split(t, r"(?<=\W)|(?=\W)")) - F.lit(1)
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe_ish.alias("bpe_ish_tokens"),
        F.ceil(F.length(t) / 4).alias("chars_div4"),  # classic LLM estimate
    )


def ngram_logprob(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: float = 0.5) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    statistical half of training-data quality filtering (a doc scoring far
    below its length-peers is boilerplate-ish or language-mismatched).

    Fully declarative, no UDF: tokens via JVM regex split, bigrams via
    zip_with over two slices, the model is two groupBy counts (add-k
    smoothing: P(w2|w1) = (c12 + k) / (c1 + k·V)), scoring is one shuffle
    equi-join on the bigram key + per-doc sum of logs. The vocab size joins
    as a broadcast 1-row frame — no driver collect. At 10^12 docs every
    stage is a partial-agg hash shuffle on token keys; skewed head words
    are absorbed by AQE the same as any hot aggregation key."""
    toks = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z]+"),
                    lambda x: x != F.lit(""))
    t = docs.select(id_col, toks.alias("toks"))
    n = F.size("toks")
    pairs = F.zip_with(
        F.slice("toks", 1, n - 1), F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bi = (t.filter(n >= 2).select(id_col, F.explode(pairs).alias("bg"))
          .select(id_col, "bg.w1", "bg.w2"))
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = t.select(F.explode("toks").alias("w")).agg(
        F.countDistinct("w").alias("v"))
    model = c12.join(c1, "w1").crossJoin(F.broadcast(vocab))
    scored = bi.join(model, ["w1", "w2"]).select(
        id_col,
        F.log((F.col("c12") + F.lit(float(k)))
              / (F.col("c1") + F.lit(float(k)) * F.col("v"))).alias("lp"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.round(F.sum("lp"), 4).alias("logprob"),
        F.count("*").alias("n_bigrams"),
    )
    return (docs.select(id_col).join(per_doc, id_col, "left")
            .fillna({"logprob": 0.0, "n_bigrams": 0}))


def doc_fingerprint(docs: DataFrame, k: int = 8, window: int = 4,
                    text_col: str = "text") -> DataFrame:
    """Winnowing-style fingerprint: min k-gram rolling hash per window,
    distinct-set digest, from the linear-time numpy rolling-hash kernel in a
    scalar Arrow UDF that reads the text column's buffers in place
    (``winnow_fingerprint_arrow``; bit-identical to the per-doc kernel,
    test_winnow_arrow_kernel_bit_identical) — Spark's native
    ``substr(text, i, k)`` re-scans the UTF8 string per gram, which is O(n²)
    in document length. A null text gets null fields."""
    from ..kernels.texthash import winnow_fingerprint_arrow

    # The hints select a scalar Arrow UDF. They are strings here (postponed
    # annotations) and resolve through this module's ``pa`` import.
    @arrow_udf(T.StructType([
        T.StructField("fingerprint", T.LongType()),
        T.StructField("n_fingerprint_grams", T.IntegerType()),
    ]))
    def fp(texts: pa.Array) -> pa.Array:
        return winnow_fingerprint_arrow(texts, k, window)

    return docs.select(
        "doc_id",
        fp(F.col(text_col)).alias("f"),
    ).select("doc_id", F.col("f.fingerprint").alias("fingerprint"),
             F.col("f.n_fingerprint_grams").alias("n_fingerprint_grams"))
