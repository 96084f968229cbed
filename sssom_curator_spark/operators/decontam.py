"""Benchmark decontamination: drop/flag corpus documents that share a word
n-gram with an evaluation benchmark — the standard leakage gate of a
training-data pipeline (the 13-gram rule of GPT-3 appendix C / the n-gram
overlap checks of The Pile and Dolma; n is a parameter here).

Not present in the reference (its corpus is curated mappings, not web
text); first-class sibling of the dedup family in
:mod:`sssom_curator_spark.operators.dedup`.

Scale shape (100 TB corpus, benchmark is evaluation-suite-sized by
nature): the benchmark's distinct hashed n-grams are a dimension table —
they BROADCAST, so the corpus side pays one projection (gram explode, a
map-side operation) and a broadcast semi-join probe; the corpus is never
shuffled. Only the matched doc ids (bounded by the contamination rate)
flow through a distinct. Grams travel as md5 hashes, never the raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark import fan_out

# shared tokenizer: the DuckDB oracles replay this exact rule for both
# this module and repetition_stats — one definition only
from sssom_curator_spark.operators.textstats import norm_words as _words

__all__ = ["text_ngrams", "benchmark_ngrams", "decontaminate"]


def text_ngrams(
    df: DataFrame, *, id_col: str, text_col: str, n: int
) -> DataFrame:
    """``(doc_id, gram_hash)`` rows: md5 of every word ``n``-gram of the
    lowercased whitespace-tokenized text. Pure codegen projection + an
    explode — no shuffle. The word array binds as a real column before the
    per-position lambda (an unbound expression inside ``transform``
    re-evaluates per element)."""
    base = df.select(F.col(id_col).alias("doc_id"), _words(F.col(text_col)).alias("_w"))
    nw = F.size("_w")
    gram = lambda i: F.concat_ws(  # noqa: E731 — local expression builder
        " ", *[F.get(F.col("_w"), i - 1 + k) for k in range(n)]
    )
    return base.select(
        "doc_id",
        F.explode(
            F.when(
                nw >= n, F.transform(F.sequence(F.lit(1), nw - (n - 1)), lambda i: F.md5(gram(i)))
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram_hash"),
    )


def benchmark_ngrams(
    benchmark: DataFrame, *, text_col: str = "text", n: int = 8
) -> DataFrame:
    """The benchmark's distinct hashed n-gram dimension (broadcast side)."""
    return (
        text_ngrams(
            benchmark.select(F.monotonically_increasing_id().alias("_bid"), text_col),
            id_col="_bid",
            text_col=text_col,
            n=n,
        )
        .select("gram_hash")
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    action: str = "flag",
    bench_grams: DataFrame | None = None,
) -> DataFrame:
    """Flag (``action="flag"``) or drop (``action="drop"``) documents
    sharing at least one word ``n``-gram with the benchmark.

    ``flag`` returns ``docs`` plus a ``contaminated`` boolean; ``drop``
    returns only the clean rows. The default ``n=8`` is a production
    setting; lower it for short benchmark prompts.

    ``bench_grams`` accepts a PREBUILT :func:`benchmark_ngrams` frame
    (``gram_hash`` column) instead of ``benchmark`` — the repeat-caller
    path: :func:`~sssom_curator_spark.streaming.incremental.
    decontaminate_stream` builds the dimension once and reuses it per
    micro-batch rather than re-running the benchmark explode + distinct
    shuffle every increment (the benchmark changes per evaluation-suite
    release, not per batch).
    """
    if action not in ("flag", "drop"):
        raise ValueError(f"action must be 'flag' or 'drop', got {action!r}")
    if (benchmark is None) == (bench_grams is None):
        raise ValueError("pass exactly one of benchmark or bench_grams")
    if bench_grams is None:
        bench_grams = benchmark_ngrams(benchmark, text_col=bench_text_col, n=n)
    bench = F.broadcast(bench_grams)
    docs = fan_out(docs, id_col)
    contaminated = (
        text_ngrams(docs, id_col=id_col, text_col=text_col, n=n)
        .join(bench, on="gram_hash", how="left_semi")
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    if action == "drop":
        return docs.join(contaminated, on=id_col, how="left_anti")
    return docs.join(
        contaminated.withColumn("contaminated", F.lit(True)), on=id_col, how="left"
    ).withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
