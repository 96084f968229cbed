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

__version__ = "0.1.0"

#: The engine's one logger. Adaptive choices (which path an operator took,
#: how many rounds a loop ran) are recorded here; logging never starts a
#: Spark job.
log = logging.getLogger("sssom_curator_spark")
