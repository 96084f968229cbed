"""sssom_curator_spark — a PySpark-native SSSOM knowledge-graph construction engine.

A from-scratch re-expression of the *capabilities* of ``cthoyt/sssom-curator``
(reference at /root/reference, MIT) as an idiomatic PySpark pipeline:

- SSSOM mapping tables as Spark DataFrames with a fixed StructType
  (``sssom_curator_spark.schema``);
- SSSOM TSV read/write with metadata header, canonical sort, dedup and
  dynamic column pruning (``sssom_curator_spark.io``);
- lexical grounding / mention detection via broadcast Aho–Corasick indices
  inside iterator pandas UDFs (``sssom_curator_spark.operators.grounding``);
- embedding cosine-similarity joins (``operators.embedding``);
- canonicalization via iterative-join connected components
  (``sssom_curator_spark.graph.components``);
- the curation state machine (``sssom_curator_spark.curation``);
- exports, summaries and the data-integrity suite (``export``, ``testing``);
- web-scale training-data operators: dedup (exact/MinHash-LSH/SimHash/
  n-gram-Jaccard/embedding), similarity search, text analysis, multimodal
  plumbing (``operators.dedup``, ``operators.similarity``,
  ``operators.textstats``, ``operators.multimodal``).

Nothing here is a port: the reference is eager, single-process,
row-at-a-time Python; this engine declares logical plans with the DataFrame
API and lets Catalyst/Tungsten pick physical strategies. Python appears only
in vectorized (Arrow-batched) pandas UDFs.
"""

import logging
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

__version__ = "0.1.0"

#: The engine's one logger. Adaptive choices (which path an operator took,
#: how many rounds a loop ran) are recorded here; logging never starts a
#: Spark job.
log = logging.getLogger("sssom_curator_spark")


def fan_out(df: "DataFrame", *keys: str) -> "DataFrame":
    """Spread ``df`` over the cluster's default parallelism before a
    per-row-heavy transform, when its scan gives fewer splits than that.

    A parquet scan cannot split below one row group, so a small table
    written as one row group reads as one task; shingling, md5 hashing,
    URL parsing and regex gates composed on it then run on that task
    while the other cores idle. Below ``defaultParallelism`` splits this
    hash-repartitions on ``keys`` (the operator's id column when it has
    one, else its text or URL column): ids spread evenly, and rows stay
    placed deterministically under task retry. At ``defaultParallelism``
    splits or more, which any table large enough to matter has, ``df`` is
    returned unchanged, so there is no corpus-wide shuffle at scale.

    Map-heavy operators call it once on their own input, and so do
    queries that compose a column function on theirs. Call it before any
    join or aggregation: reading the split count of a frame that holds an
    exchange makes adaptive execution run the stages below it, while a
    scan-rooted narrow frame or a persisted one costs no job.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    splits = df.rdd.getNumPartitions()
    if splits >= par:
        log.debug("fan_out: kept %d splits", splits)
        return df
    log.debug("fan_out: fanned out to %d", par)
    return df.repartition(par, *keys)
