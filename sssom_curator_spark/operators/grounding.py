"""Lexical grounding joins (SURVEY.md J1/J2/J3) — the core operator.

The reference probes each source (id, name) pair against an in-memory
normalized-text index dict (predict/lexical.py:256-310) and has an
all-by-all mode pairing equal-normalized-text terms across namespaces
(:200-244). The web-scale analogue adds mention *detection*: scanning
document text for label occurrences (:190-194 is the reference's in-name
annotate variant).

Spark-first design:

- ``ground_names`` (J1): broadcast hash join of the probe side against the
  (small, dimension-sized) lexical index on normalized text — exactly what
  the reference's dict probe is, but distributed and codegen'd. Skewed hub
  labels are handled by *salting* the probe side and exploding the index
  side (``salt`` parameter), because a hot normalized-text key otherwise
  concentrates one task.
- ``annotate_mentions`` (J2): iterator-of-batches pandas UDF with a
  per-executor-initialized broadcast Aho–Corasick automaton; init cost is
  amortized across all Arrow batches of a partition. Emits token-aligned
  spans; candidates attach via a broadcast join on the matched surface.
- ``all_by_all`` (J3): self-join of the label table on norm_text with a
  theta condition (different prefix, canonical orientation) — equal-text
  buckets only, never a cross join.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sssom_curator_spark import fan_out, log
from sssom_curator_spark.functions.aho_corasick import AhoCorasick
from sssom_curator_spark.functions.scoring import score_match_batch
from sssom_curator_spark.functions.text_norm import norm_text_col, normalize_text
from sssom_curator_spark.graph._iterate import checkpoint

__all__ = [
    "with_norm_text",
    "ground_names",
    "all_by_all",
    "annotate_mentions",
    "mention_candidates_ngram",
    "comention_edges",
    "edit_distance_pairs",
]

#: Default prediction predicate/justification (predict/utils.py:28-37,
#: predict/lexical.py:301).
EXACT_MATCH = "skos:exactMatch"
LEXICAL_MATCHING = "semapv:LexicalMatching"


def with_norm_text(labels: DataFrame, name_col: str = "name") -> DataFrame:
    """Attach/refresh the ``norm_text`` index key as a JVM expression."""
    return labels.withColumn("norm_text", norm_text_col(name_col))


def ground_names(
    names: DataFrame,
    index: DataFrame,
    *,
    salt: int = 0,
    cutoff: float = 0.0,
) -> DataFrame:
    """Grounding join (J1): probe (prefix, identifier, name) rows against the
    lexical index; emit SSSOM-shaped prediction edges.

    ``names`` columns: prefix, identifier, name. ``index`` columns: prefix,
    identifier, name, norm_text. The index side is always broadcast (it is
    ontology-label-sized); with ``salt > 0`` the probe side gets a random
    salt column and the index is exploded ``salt`` ways so a hub label
    (e.g. a MeSH high-frequency term) spreads over ``salt`` tasks. With a
    broadcast build side the join itself never shuffles; salting matters
    when a downstream shuffle (dedup/sort) follows the explode.
    """
    probe = names.withColumn("_norm", norm_text_col("name"))
    build = index.select(
        F.col("prefix").alias("o_prefix"),
        F.col("identifier").alias("o_identifier"),
        F.col("name").alias("o_name"),
        F.col("norm_text").alias("_norm"),
    )
    if salt > 0:
        probe = probe.withColumn("_salt", F.pmod(F.crc32(F.col("identifier")), F.lit(salt)))
        build = build.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
        )
        join_keys = ["_norm", "_salt"]
    else:
        join_keys = ["_norm"]
    joined = probe.join(F.broadcast(build), on=join_keys, how="inner").filter(
        F.col("prefix") != F.col("o_prefix")
    )

    @F.pandas_udf(T.DoubleType())
    def _score(query: pd.Series, candidate: pd.Series) -> pd.Series:
        return score_match_batch(query, candidate)

    scored = joined.withColumn(
        "confidence", _score(norm_text_col("name"), norm_text_col("o_name"))
    )
    if cutoff > 0:
        scored = scored.filter(F.col("confidence") >= F.lit(cutoff))
    return scored.select(
        F.concat_ws(":", "prefix", "identifier").alias("subject_id"),
        F.col("name").alias("subject_label"),
        F.lit(EXACT_MATCH).alias("predicate_id"),
        F.concat_ws(":", "o_prefix", "o_identifier").alias("object_id"),
        F.col("o_name").alias("object_label"),
        F.lit(LEXICAL_MATCHING).alias("mapping_justification"),
        F.col("confidence"),
    )


def all_by_all(index: DataFrame) -> DataFrame:
    """All-by-all self-join within equal-normalized-text buckets (J3).

    Reference semantics (predict/lexical.py:200-244, fixture
    tests/test_lexical.py:24-39): two same-text terms in different
    namespaces yield exactly ONE mapping with deterministic orientation —
    the later-sorted CURIE becomes the subject (R2→subject, R1→object in
    the fixture). Equality on ``norm_text`` keeps this an equi-join
    (shuffle-hash/SMJ at scale), never a cross join; the theta condition
    only orders within buckets.
    """
    left = index.select(
        F.col("norm_text"),
        F.concat_ws(":", "prefix", "identifier").alias("l_curie"),
        F.col("prefix").alias("l_prefix"),
        F.col("name").alias("l_name"),
    )
    right = index.select(
        F.col("norm_text"),
        F.concat_ws(":", "prefix", "identifier").alias("r_curie"),
        F.col("prefix").alias("r_prefix"),
        F.col("name").alias("r_name"),
    )
    pairs = left.join(right, on="norm_text").filter(
        (F.col("l_prefix") != F.col("r_prefix")) & (F.col("l_curie") > F.col("r_curie"))
    )
    return pairs.select(
        F.col("l_curie").alias("subject_id"),
        F.col("l_name").alias("subject_label"),
        F.lit(EXACT_MATCH).alias("predicate_id"),
        F.col("r_curie").alias("object_id"),
        F.col("r_name").alias("object_label"),
        F.lit(LEXICAL_MATCHING).alias("mapping_justification"),
        F.lit(1.0).alias("confidence"),
    )


_MENTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("surface", T.StringType()),
    ]
)


def annotate_mentions(
    docs: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "url",
    text_col: str = "text",
    html_col: str | None = None,
    cutoff: float = 0.0,
) -> DataFrame:
    """Mention detection over document text (J2) + candidate attachment.

    Stage 1 — ``mapInPandas`` with a broadcast pattern list: the Aho–
    Corasick automaton is built lazily on first batch per python worker and
    reused for every subsequent Arrow batch (iterator UDF = init-once-per-
    partition, SURVEY.md §2.10). Spans are token-aligned offsets into the
    *normalized* text.

    Stage 2 — broadcast join of spans to the index on the matched surface
    (surface == norm_text) fans each span out to its candidate entities;
    scoring gives exact-surface hits confidence ≈ max.

    ``html_col`` fuses html→text extraction into the SAME python pass
    (one ``mapInPandas`` doing extract + normalize + AC scan): the
    corpus crosses the JVM↔Arrow↔Python boundary once instead of twice
    (once as html for the extract UDF, again as text for the scan).
    Outputs are identical to running :func:`~sssom_curator_spark.extract.
    with_extracted_text` followed by the text path — the same pure
    kernels, one process. This is the throughput scan for the pipeline's
    lazy mode.
    """
    spark = docs.sparkSession
    # dedupe driver-side: a distinct() here would shuffle a 40-row dim over
    # the full shuffle width for nothing; sorted() keeps the automaton build
    # order (and thus tie-breaking) deterministic.
    patterns = sorted(
        {r["norm_text"] for r in index.select("norm_text").collect() if r["norm_text"]}
    )
    bc = spark.sparkContext.broadcast(patterns)
    content_col = html_col or text_col

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sssom_curator_spark.extract import extract_text

        automaton = AhoCorasick()
        for p in bc.value:
            automaton.add(p)
        automaton.build()
        for batch in batches:
            out: dict[str, list] = {"doc_id": [], "start": [], "end": [], "surface": []}
            for doc_id, content in zip(batch[id_col], batch[content_col]):
                text = extract_text(content) if html_col else content
                if text is None:
                    continue
                norm = normalize_text(str(text))
                for start, end, pattern in automaton.find_words(norm):
                    out["doc_id"].append(str(doc_id))
                    out["start"].append(start)
                    out["end"].append(end)
                    out["surface"].append(pattern)
            yield pd.DataFrame(out, columns=["doc_id", "start", "end", "surface"])

    spans = docs.select(id_col, content_col).mapInPandas(scan, schema=_MENTION_SCHEMA)

    @F.pandas_udf(T.DoubleType())
    def _score(query: pd.Series, candidate: pd.Series) -> pd.Series:
        return score_match_batch(query, candidate)

    # Confidence is a pure function of (surface, object_label) — both
    # columns of the index dim — so it is scored ONCE PER INDEX ROW here
    # and rides through the broadcast join for free. Scoring after the
    # join would run the python kernel once per MENTION (corpus-sized ×
    # candidate fan-out) for identical values — the per-row-Python
    # hot-path pattern the north rule bans.
    candidates = index.select(
        F.col("norm_text").alias("surface"),
        F.concat_ws(":", "prefix", "identifier").alias("object_id"),
        F.col("name").alias("object_label"),
    ).withColumn("confidence", _score(F.col("surface"), norm_text_col("object_label")))
    if cutoff > 0:
        candidates = candidates.filter(F.col("confidence") >= F.lit(cutoff))
    out = spans.join(F.broadcast(candidates), on="surface", how="inner")
    return out.select(
        "doc_id", "start", "end", "surface", "object_id", "object_label", "confidence"
    )


def mention_candidates_ngram(
    docs: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 3,
) -> DataFrame:
    """Pure-JVM mention candidate generation (J2 fallback / oracle path).

    Explodes token n-grams (n ≤ ``max_tokens``) of the normalized text and
    broadcast-joins them against the index on ``norm_text``. Fully
    expressible in ANSI SQL (DuckDB oracle) and fully codegen'd — used to
    cross-check the Aho–Corasick path and as the skew-salting benchmark
    subject. Output: one row per (doc, position, matched entity).
    """
    tokens = fan_out(docs, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.split(norm_text_col(text_col), " ").alias("toks"),
    )

    def gram_structs(n: int):
        # positions 1..size-n+1 (1-based); empty when the doc is shorter
        positions = F.when(
            F.size("toks") >= n, F.sequence(F.lit(1), F.size("toks") - (n - 1))
        ).otherwise(F.array().cast("array<int>"))

        def make(pos):
            gram = F.concat_ws(
                " ", *[F.get(F.col("toks"), pos - 1 + k) for k in range(n)]
            )
            return F.struct(gram.alias("gram"), pos.alias("pos"))

        return F.transform(positions, make)

    grams = tokens.select(
        "doc_id",
        F.explode(
            F.flatten(F.array(*[gram_structs(n) for n in range(1, max_tokens + 1)]))
        ).alias("g"),
    ).select("doc_id", F.col("g.gram").alias("gram"), F.col("g.pos").alias("pos"))
    candidates = index.select(
        F.col("norm_text").alias("gram"),
        F.concat_ws(":", "prefix", "identifier").alias("object_id"),
        F.col("name").alias("object_label"),
    )
    return grams.join(F.broadcast(candidates), on="gram", how="inner").select(
        "doc_id", "pos", F.col("gram").alias("surface"), "object_id", "object_label"
    )


def comention_edges(
    mentions: DataFrame,
    *,
    id_col: str = "doc_id",
    entity_col: str = "object_id",
    min_docs: int = 1,
    max_entities_per_doc: int | None = None,
) -> DataFrame:
    """KG edge induction from co-mentions: ``(subject_id, object_id,
    n_docs)`` for every unordered entity pair mentioned together in at
    least ``min_docs`` documents — the relation-candidate generator that
    turns mention detection (J2) into graph edges for the canonicalize/
    rank stages. ``subject_id < object_id``.

    Scale shape: the per-document entity set dedupes first (one shuffle
    on the doc key, map-side partials), then the pair explosion is a
    self-equi-join on the doc key — a document mentioning k entities
    contributes k·(k−1)/2 pairs, so ``max_entities_per_doc`` drops
    catalog/boilerplate documents whose k² would dominate the exchange
    (whole-document drops, counted and logged — never silent); the pair
    count aggregation combines map-side.
    """
    # checkpointed: the per-doc entity set feeds the optional hot-doc
    # count, the sizes aggregation, AND both pair-join sides — without a
    # materialization the corpus-sized mentions distinct re-executes per
    # consumer (the same multi-consumer rule as graph/_edges.py)
    ents = (
        mentions.select(F.col(id_col).alias("_doc"), F.col(entity_col).alias("_ent"))
        .distinct()
        .localCheckpoint()
    )
    if max_entities_per_doc is not None:
        # the hot set is checkpointed with its size observed on that job,
        # so the log costs no job and the anti-join does not re-derive it
        sizes = ents.groupBy("_doc").agg(F.count(F.lit(1)).alias("_k"))
        hot, seen = checkpoint(
            sizes.filter(F.col("_k") > max_entities_per_doc).select("_doc"),
            {"n": F.count(F.lit(1))},
        )
        if seen["n"]:
            log.warning(
                "comention_edges: dropping %d documents with more than %d "
                "distinct entities from pair induction (catalog pages "
                "would contribute O(k^2) pairs each)",
                seen["n"],
                max_entities_per_doc,
            )
        ents = ents.join(hot, on="_doc", how="left_anti")
    a = ents.select("_doc", F.col("_ent").alias("subject_id"))
    b = ents.select("_doc", F.col("_ent").alias("object_id"))
    return (
        a.join(b, on="_doc")
        .filter(F.col("subject_id") < F.col("object_id"))
        .groupBy("subject_id", "object_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def edit_distance_pairs(
    names: DataFrame,
    *,
    id_col: str = "id",
    text_col: str = "norm_text",
    max_distance: int = 1,
) -> DataFrame:
    """Typo-tolerant label matching: all pairs of names within Levenshtein
    distance ``max_distance`` (currently 1 — the dominant real-world case:
    single-character typos/plural variants between ontology labels).
    Output ``(id_a, id_b, text_a, text_b, distance)`` with ``id_a < id_b``;
    identical strings under different ids are distance 0.

    Spark-first shape (FastSS deletion neighborhoods, Bocek et al. 2007):
    every name explodes into itself plus its ``len`` single-deletion
    variants; two names within edit distance 1 NECESSARILY share a
    variant, so candidates come from ONE equi-self-join on the variant
    key — never an all-pairs ``levenshtein`` cross join — and the exact
    ``levenshtein`` verifies only the candidate set. Explode factor is
    the name length (labels are short); variant keys are md5-hashed so
    the shuffle carries fixed-width keys, not text.
    """
    if max_distance != 1:
        raise ValueError(
            "edit_distance_pairs implements the deletion-neighborhood "
            f"blocking for max_distance=1 only, got {max_distance}"
        )
    # NULL/empty labels are garbage in a label catalog and would pair
    # with EACH OTHER at distance 0 (an m² blowup on a hot md5('') key,
    # and a divergence from brute-force levenshtein semantics where NULL
    # never matches) — drop them up front
    names = names.filter(F.col(text_col).isNotNull() & (F.col(text_col) != ""))
    t = F.col(text_col)
    # variant 0 = the string itself; variant i (1-based) = drop char i
    variants = F.concat(
        F.array(t),
        F.transform(
            F.sequence(F.lit(1), F.length(t)),
            lambda i: F.concat(F.substring(t, 1, i - 1), F.substr(t, i + 1)),
        ),
    )
    v = names.select(
        F.col(id_col).alias("_id"),
        t.alias("_txt"),
        F.explode(F.array_distinct(variants)).alias("_var"),
    ).select("_id", "_txt", F.md5("_var").alias("_vh"))
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a._vh") == F.col("b._vh"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._txt").alias("text_a"),
            F.col("b._txt").alias("text_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        "text_a",
        "text_b",
        F.levenshtein("text_a", "text_b").alias("distance"),
    ).filter(F.col("distance") <= max_distance)
