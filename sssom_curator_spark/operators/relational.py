"""Relational operator kit: filters, anti-joins, unions, aggregations,
pagination (SURVEY.md §2.2–2.6).

Everything here is pure built-in column algebra — Catalyst handles
pushdown, pruning, join selection and AQE re-planning. These functions
exist to pin *semantics* (the reference's filter/agg/sort behaviors) in one
tested place, not to wrap Spark.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sssom_curator_spark.functions.curie_ops import curie_prefix
from sssom_curator_spark.schema import CANONICAL_KEY_COLUMNS, CANONICAL_SORT_COLUMNS

__all__ = [
    "prefix_pair_filter",
    "semra_import_filter",
    "confidence_cutoff",
    "exclude_curated",
    "exclude_existing_xrefs",
    "exclude_same_component",
    "merge_repository",
    "prefix_pair_counts",
    "contributor_counts",
    "redundancy_report",
    "paginate",
    "enrich_names",
]


# ---------------------------------------------------------------- filters

def prefix_pair_filter(df: DataFrame, prefixes: list[str]) -> DataFrame:
    """F1 (repository.py:1071-1076): both endpoints inside the prefix set."""
    return df.filter(
        curie_prefix("subject_id").isin(prefixes) & curie_prefix("object_id").isin(prefixes)
    )


def semra_import_filter(
    df: DataFrame,
    prefixes: list[str],
    *,
    license: str = "https://creativecommons.org/publicdomain/zero/1.0/",
) -> DataFrame:
    """F2 (repository.py:1079-1108): conjunctive import predicate."""
    return df.filter(
        (F.col("mapping_justification") != "semapv:ManualMappingCuration")
        & F.col("predicate_id").isin(["skos:exactMatch", "oboInOwl:hasDbXref"])
        & (F.col("license") == license)
        & curie_prefix("subject_id").isin(prefixes)
        & curie_prefix("object_id").isin(prefixes)
    )


def confidence_cutoff(df: DataFrame, cutoff: float = 0.65) -> DataFrame:
    """F3 (predict/embedding.py:53-54,128,150)."""
    return df.filter(F.col("confidence") >= F.lit(cutoff))


# ------------------------------------------------------------- anti-joins

def exclude_curated(predictions: DataFrame, curated: DataFrame) -> DataFrame:
    """J5 "zombie removal" (predict/lexical.py:506-521): drop predictions
    whose canonical tuple already exists among curated mappings. Curated is
    human-scale → broadcast anti-join, no shuffle of the big side.
    Null-safe equality on every key (predicate_modifier is usually null)."""
    excl = curated.select(
        *[F.col(c).alias(f"_x_{c}") for c in CANONICAL_KEY_COLUMNS]
    ).distinct()
    cond = None
    for c in CANONICAL_KEY_COLUMNS:
        eq = predictions[c].eqNullSafe(F.col(f"_x_{c}"))
        cond = eq if cond is None else (cond & eq)
    return predictions.join(F.broadcast(excl), on=cond, how="left_anti")


def exclude_existing_xrefs(predictions: DataFrame, xrefs: DataFrame) -> DataFrame:
    """J6 (predict/lexical.py:359-400): symmetric anti-probe — drop a
    prediction if its subject already maps into the object's prefix, or
    vice versa. Two left-anti joins against the (entity, mapped_prefix)
    table; the xref table derives from ontology xrefs (dimension-scale) so
    both joins broadcast."""
    xr = xrefs.select("entity_curie", "mapped_prefix").distinct()
    step1 = predictions.join(
        F.broadcast(xr),
        on=(
            (predictions["subject_id"] == xr["entity_curie"])
            & (curie_prefix(predictions["object_id"]) == xr["mapped_prefix"])
        ),
        how="left_anti",
    )
    step2 = step1.join(
        F.broadcast(xr),
        on=(
            (step1["object_id"] == xr["entity_curie"])
            & (curie_prefix(step1["subject_id"]) == xr["mapped_prefix"])
        ),
        how="left_anti",
    )
    return step2


def exclude_same_component(predictions: DataFrame, components: DataFrame) -> DataFrame:
    """J7 mutual-mapping filter (predict/lexical.py:341-456): drop a
    prediction whose endpoints are already connected (transitively) in the
    existing mapping graph. The reference walks nx shortest paths; here
    reachability ≡ equal component label from
    :func:`sssom_curator_spark.graph.components.connected_components`.

    The ``F.broadcast`` hints are deliberate: ``components`` here labels
    the CURATED mapping graph, which is human-scale by construction (the
    reference loads it into a networkx graph in memory). For canonicalizing
    against corpus-derived components use
    :func:`sssom_curator_spark.graph.components.canonicalize_mappings`,
    which leaves the join strategy to AQE."""
    subj = components.select(
        F.col("node").alias("subject_id"), F.col("component").alias("_sc")
    )
    obj = components.select(F.col("node").alias("object_id"), F.col("component").alias("_oc"))
    joined = predictions.join(F.broadcast(subj), on="subject_id", how="left").join(
        F.broadcast(obj), on="object_id", how="left"
    )
    return joined.filter(
        F.col("_sc").isNull() | F.col("_oc").isNull() | (F.col("_sc") != F.col("_oc"))
    ).drop("_sc", "_oc")


# ------------------------------------------------------------ set ops

def merge_repository(frames: dict[str, DataFrame]) -> DataFrame:
    """U1 (export/merge.py:140-145): union of the four states with a
    ``status`` lit column, preserving file order positive, negative,
    predicted, unsure."""
    order = ["positive", "negative", "predicted", "unsure"]
    parts = [
        frames[s].withColumn("status", F.lit(s)) for s in order if s in frames
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


# --------------------------------------------------------- aggregations

def prefix_pair_counts(df: DataFrame) -> DataFrame:
    """A1 (export/summary.py:72-80): order-insensitive prefix-pair counter."""
    sp, op = curie_prefix("subject_id"), curie_prefix("object_id")
    return (
        df.groupBy(
            F.least(sp, op).alias("source_prefix"), F.greatest(sp, op).alias("target_prefix")
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "source_prefix", "target_prefix")
    )


def _contributor_totals(df: DataFrame) -> DataFrame:
    """``(author, count)`` per ORCID over exploded authors, unsorted."""
    return (
        df.select(F.explode("author_id").alias("author"))
        .filter(curie_prefix("author").eqNullSafe("orcid"))
        .groupBy("author")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def contributor_counts(df: DataFrame) -> DataFrame:
    """A2 (export/summary.py:83-99): per-ORCID counts over exploded authors."""
    return _contributor_totals(df).orderBy(F.desc("count"), "author")


def redundancy_report(frames: dict[str, DataFrame]) -> DataFrame:
    """A5 (testing.py:126-159): canonical tuples appearing in >1 state, and
    (subject, object) duplicates within a state."""
    merged = merge_repository(frames)
    cross_file = (
        merged.groupBy(*CANONICAL_KEY_COLUMNS)
        .agg(F.collect_set("status").alias("statuses"), F.count(F.lit(1)).alias("n"))
        .filter(F.size("statuses") > 1)
        .select(
            F.lit("cross_file").alias("kind"),
            "subject_id",
            "object_id",
            F.to_json(F.col("statuses")).alias("detail"),
        )
    )
    within = (
        merged.groupBy("status", "subject_id", "object_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .select(
            F.lit("internal").alias("kind"),
            "subject_id",
            "object_id",
            F.col("status").alias("detail"),
        )
    )
    return cross_file.unionByName(within)


# ------------------------------------------------------------- paginate

def paginate(
    df: DataFrame,
    *,
    sort: str = "desc",
    offset: int = 0,
    limit: int = 10,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """O2 (web/backends/memory.py:74-81, web/utils.py:23-27): confidence
    sort + offset/limit. Deterministic paging requires total order, so the
    canonical key columns always tiebreak."""
    keys: list[Column] = []
    if sort == "desc":
        keys.append(F.desc_nulls_last("confidence"))
    elif sort == "asc":
        keys.append(F.asc_nulls_last("confidence"))
    elif sort == "object":
        keys.append(F.col("object_id").asc())
    for c in tiebreak or CANONICAL_SORT_COLUMNS[:3]:
        keys.append(F.col(c).asc())
    return df.orderBy(*keys).offset(offset).limit(limit)


def enrich_names(mappings: DataFrame, labels: DataFrame) -> DataFrame:
    """J9 name-enrichment lookup join: fill missing subject/object labels
    from the (dimension-sized, broadcast) label index by CURIE (reference
    looks names up per-node while building graphs/views —
    export/charts.py:129-141 idiom). Existing labels win; unknown CURIEs
    pass through with their label unchanged."""
    dim = labels.select(
        F.concat_ws(":", "prefix", "identifier").alias("_curie"),
        F.col("name").alias("_name"),
    ).groupBy("_curie").agg(F.min("_name").alias("_name"))
    s = dim.select(F.col("_curie").alias("_s_curie"), F.col("_name").alias("_s_name"))
    o = dim.select(F.col("_curie").alias("_o_curie"), F.col("_name").alias("_o_name"))
    return (
        mappings.join(F.broadcast(s), mappings["subject_id"] == F.col("_s_curie"), "left")
        .join(F.broadcast(o), F.col("object_id") == F.col("_o_curie"), "left")
        .withColumn("subject_label", F.coalesce("subject_label", F.col("_s_name")))
        .withColumn("object_label", F.coalesce("object_label", F.col("_o_name")))
        .drop("_s_curie", "_s_name", "_o_curie", "_o_name")
    )
