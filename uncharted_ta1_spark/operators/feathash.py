"""Sparse-feature encoders: the hashing trick and deterministic vocabulary
indexing (the StringIndexer twin).

Both turn a token stream into model-ready integer features, the step the
reference performs implicitly inside its vendored model tokenizers
(``tasks/segmentation/layoutlmft/models/layoutlmv3/tokenization_layoutlmv3.
py`` vocab lookup; the md5 cache-key hashing of C11,
``tasks/metadata_extraction/metadata_extraction.py:453-476``, supplies the
portable hash).  The hashing trick itself is a public method (Weinberger et
al., "Feature Hashing for Large Scale Multitask Learning", ICML 2009).

Scale design:

* :func:`hashed_features` — stateless: NO vocabulary pass, no global
  state, output dimensionality fixed at ``n_buckets`` regardless of corpus
  size.  One explode + one combinable groupBy; the estimator every 100 TB
  text pipeline starts with because it needs zero coordination.
* :func:`vocab_index` — stateful: exact frequency-ranked ids.  The
  corpus-sized work is the combinable word-count groupBy; the rank then
  runs over the DISTINCT vocabulary — but a web corpus's vocabulary is
  itself 10^8–10^9 rows, so an unpartitioned ``row_number`` (the classic
  StringIndexer OOM) is still a one-task global sort.  Instead the rank
  reuses :mod:`uncharted_ta1_spark.operators.binning`'s pattern: GK
  boundaries over ``n_occurrences`` split the vocabulary into ~100
  monotone range buckets (equal counts never straddle an edge, so
  bucketing can't reorder ties), ``row_number`` runs per bucket in
  parallel, and a broadcast per-bucket offset (droplet-sized counts
  table) restores the exact global id — bit-identical to the single-sort
  answer with max task ~ |vocab| / n_buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uncharted_ta1_spark.functions.portable import md5_i64, words_col
from uncharted_ta1_spark.operators.binning import bucketed_cumsum, bucketed_rank

FEATHASH_SALT = "feathash"


def hashed_features(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    salt: str = FEATHASH_SALT,
) -> DataFrame:
    """Hashing-trick featurizer: every word hashes to ``bucket = h & (B-1)``
    with a sign bit from the next hash bit (``(h >> log2B) & 1``) — the
    signed construction that makes collisions cancel in expectation.

    Returns one row per (doc, non-empty bucket): ``feat_val`` (signed
    count, the model feature) and ``n_terms`` (collision mass diagnostics).
    ``n_buckets`` must be a power of two (bitmask bucketing keeps the
    Spark and DuckDB hash trees identical).
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    shift = n_buckets.bit_length() - 1
    words = docs.select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("word")
    )
    h = md5_i64(F.col("word"), salt=salt)
    sign = F.when(
        F.shiftright(h, shift).bitwiseAND(F.lit(1)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        words.withColumn("bucket", h.bitwiseAND(F.lit(n_buckets - 1)).cast("int"))
        .withColumn("_sign", sign)
        .groupBy(id_col, "bucket")
        .agg(
            F.sum("_sign").cast("long").alias("feat_val"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
    )


def vocab_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 1,
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic frequency-ranked vocabulary: id 0 is the most frequent
    word, ties broken lexicographically — StringIndexer's contract, made
    reproducible.  Returns (word, word_id, n_occurrences).

    Rank plan (scale-safe, bit-identical to the naive global sort):
    :func:`~uncharted_ta1_spark.operators.binning.bucketed_rank` over
    ``n_occurrences`` DESC with ``word`` as the tie-break, one global
    group.  Max task ~ |vocab| / n_buckets instead of |vocab|.
    """
    counts = (
        docs.select(F.explode(words_col(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )

    return bucketed_rank(
        counts,
        keys=(),
        col="n_occurrences",
        order_tiebreak=["word"],
        n_buckets=n_buckets,
    ).select("word", (F.col("_rank") - 1).alias("word_id"), "n_occurrences")


VOCAB_COVERAGE_PCTS = (500, 900, 990, 999)  # per-mille thresholds


def vocab_coverage(
    docs: DataFrame,
    *,
    text_col: str = "text",
    pcts_per_mille: tuple = VOCAB_COVERAGE_PCTS,
) -> DataFrame:
    """Tokenizer vocabulary coverage curve: the smallest frequency-ranked
    vocabulary prefix covering X per-mille of the corpus token mass (the
    "how big must the vocab be" design curve of every tokenizer; public
    convention — coverage thresholds of subword vocab sizing, cf.
    SentencePiece's character_coverage knob).

    Builds on :func:`vocab_index`'s exact GK-bucketed ranks; the running
    token mass over rank order comes from
    :func:`uncharted_ta1_spark.operators.binning.bucketed_cumsum` with a
    constant group — both scale primitives avoid any global sort.  The
    threshold test is exact integer arithmetic (cum * 1000 >= mass * pm),
    so the answer is bit-stable at any scale.

    Returns one row per threshold: (per_mille, vocab_needed = number of
    highest-ranked words, covered_tokens, total_tokens).
    """
    v = vocab_index(docs, text_col=text_col).withColumn("_g", F.lit(1))
    # materialize the rank-ordered cumulative-mass table once: the total
    # aggregate and the threshold scan both consume it, and it is the
    # canonical vocab-sized artifact (never corpus-sized)
    cum = bucketed_cumsum(
        v,
        keys=["_g"],
        order_col="word_id",
        val_col="n_occurrences",
        out_col="_cum",
    ).localCheckpoint()
    total = cum.agg(
        F.max("_cum").cast("long").alias("total_tokens"),
    )
    wide = cum.crossJoin(F.broadcast(total))
    # ALL thresholds in ONE conditional-aggregation pass (previously one
    # filtered aggregation job per threshold re-ran the whole vocab
    # pipeline), then unpivot the single row back to one row per threshold.
    aggs = []
    for pm in pcts_per_mille:
        cond = F.col("_cum") * 1000 >= F.col("total_tokens") * F.lit(pm)
        aggs.append(
            F.min(F.when(cond, F.col("word_id"))).alias(f"_w{pm}")
        )
        aggs.append(F.min(F.when(cond, F.col("_cum"))).alias(f"_c{pm}"))
    one = wide.agg(*aggs, F.max("total_tokens").alias("_tot"))
    stack_args = ", ".join(
        f"CAST({pm} AS BIGINT), CAST(_w{pm} + 1 AS BIGINT), "
        f"CAST(_c{pm} AS BIGINT)"
        for pm in pcts_per_mille
    )
    return one.select(
        F.expr(
            f"stack({len(pcts_per_mille)}, {stack_args}) "
            "AS (per_mille, vocab_needed, covered_tokens)"
        ),
        F.col("_tot").cast("long").alias("total_tokens"),
    )
