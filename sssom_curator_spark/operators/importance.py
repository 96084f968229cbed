"""DSIR-style data-selection importance weights: score every corpus
document by how much its hashed n-gram distribution looks like a target
domain versus the raw corpus (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling" — the hashed-ngram variant;
public-paper method, no reference counterpart).

Per bucket ``b`` (an md5-prefix hash of a word n-gram, ``16**prefix_chars``
buckets): ``w(b) = ln p_target(b) - ln p_raw(b)`` with add-``smoothing``
estimates. A document's score is the sum of its grams' weights — positive
means "more target-like than the corpus average"; importance resampling
keeps documents proportionally.

Determinism across engines (the DuckDB oracle replays every step): grams
come from :func:`sssom_curator_spark.operators.decontam.text_ngrams` (THE
shared tokenizer rule); weights are quantized to integer micro-nats
(``round(w * 1e6)`` as BIGINT) so per-document sums are exact integer
arithmetic — float summation ORDER can never change a score, which keeps
the operator partition-invariant; the emitted ``score`` divides the
integer sum by 1e6 at the very end (one IEEE division, engine-identical).

Scale shape: the weight table is bounded by the bucket count (≤ 4096 at
the default ``prefix_chars=3``) — it broadcasts. The corpus pays two
map-side gram projections (counting pass + scoring pass — recomputed, not
cached: a corpus-sized cache is the documented 100 TB anti-pattern) and
one aggregate keyed on ``doc_id`` whose map-side partial sum collapses
each partition first. The target set is evaluation-suite/domain-sized by
nature; its counting pass is cheap. No shuffle ever carries raw text —
grams travel as md5 prefixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sssom_curator_spark import fan_out
from sssom_curator_spark.operators.decontam import text_ngrams

__all__ = ["dsir_weights"]


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    n: int = 2,
    prefix_chars: int = 3,
    smoothing: float = 1.0,
) -> DataFrame:
    """Score ``corpus`` docs against ``target``'s n-gram distribution.

    Returns ``(id_col, n_grams, score)`` for EVERY corpus document
    (documents shorter than ``n`` words get ``n_grams=0, score=0.0``).
    ``score`` is the summed log-likelihood-ratio in nats (quantized at
    1e-6); rank by it descending, or resample ∝ ``exp(score)``.
    """
    n_buckets = 16 ** prefix_chars
    bucket = F.substring(F.col("gram_hash"), 1, prefix_chars).alias("bucket")

    corpus = fan_out(corpus, id_col)
    target = fan_out(target, target_text_col or text_col)
    corpus_grams = text_ngrams(
        corpus, id_col=id_col, text_col=text_col, n=n
    ).select(F.col("doc_id").alias("_doc"), bucket)
    target_grams = text_ngrams(
        target.select(F.monotonically_increasing_id().alias("_tid"), *target.columns),
        id_col="_tid",
        text_col=target_text_col or text_col,
        n=n,
    ).select(bucket)

    raw_counts = corpus_grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tgt_counts = target_grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("tc"))

    # bucket-dimension frame (≤ n_buckets rows): totals via an
    # unpartitioned window are fine at this size, and keep everything in
    # one plan instead of collect-and-reinject
    everything = Window.partitionBy()
    dim = (
        raw_counts.join(tgt_counts, on="bucket", how="full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("rc"), F.lit(0)).alias("rc"),
            F.coalesce(F.col("tc"), F.lit(0)).alias("tc"),
        )
        .withColumn("rt", F.sum("rc").over(everything))
        .withColumn("tt", F.sum("tc").over(everything))
        .select(
            "bucket",
            F.round(
                (
                    F.log((F.col("tc") + smoothing) / (F.col("tt") + smoothing * n_buckets))
                    - F.log((F.col("rc") + smoothing) / (F.col("rt") + smoothing * n_buckets))
                )
                * 1e6
            )
            .cast("long")
            .alias("wq"),
        )
    )

    scores = (
        corpus_grams.join(F.broadcast(dim), on="bucket")
        .groupBy("_doc")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.sum("wq").alias("_sq"))
    )
    return (
        corpus.select(F.col(id_col).alias("_doc"))
        .join(scores, on="_doc", how="left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0).cast("long")).alias("n_grams"),
            (F.coalesce(F.col("_sq"), F.lit(0).cast("long")) / 1e6).alias("score"),
        )
    )
