"""End-to-end KG construction over web pages (the north-rule pipeline).

Stages (each instrumented with per-partition metrics and snapshot-
checkpointed when a :class:`SnapshotStore` is supplied):

1. **filter** — language-ID + quality gate (pure codegen; predicate
   pushdown applies before the binary ``html`` column is ever read).
2. **extract** — deterministic html→text pandas UDF; optional parity audit
   against the stored ``text`` (byte-identical-per-url invariant).
3. **mention** — Aho–Corasick mention detection against the broadcast
   lexical index (iterator pandas UDF, init-once per worker).
4. **evidence** — per (surface, entity) corpus evidence: distinct-doc
   counts. The groupBy key includes the surface (hub labels are the skew
   case; AQE skew-split plus the mention explode's natural partitioning
   handle it — the aggregation is partial/map-side combined).
5. **predict** — cross-namespace candidate mappings from the label index
   (all-by-all J3), confidence = logistic score boosted by corpus
   evidence, cutoff 0.65 (reference default, predict/embedding.py:53-54).
6. **exclude** — anti-join stack: curated (J5), existing xrefs (J6),
   already-connected components (J7).
7. **canonicalize** — connected components over accepted exactMatch edges;
   every CURIE maps to its component representative.

Outputs: ``mappings`` (SSSOM prediction table), ``components``
(canonicalization table), ``annotations`` (doc→entity evidence), and the
metrics frame.
"""

from __future__ import annotations

import datetime
import time
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sssom_curator_spark.checkpoint import SnapshotStore
from sssom_curator_spark.curation.state import with_record_id
from sssom_curator_spark.extract import with_extracted_text
from sssom_curator_spark.functions.scoring import score_match_batch
from sssom_curator_spark.functions.text_norm import norm_text_col
from sssom_curator_spark.graph.components import connected_components
from sssom_curator_spark.io.sssom_tsv import conform_to_mapping_schema
from sssom_curator_spark.lineage import MetricsRegistry
from sssom_curator_spark.operators.grounding import all_by_all, annotate_mentions
from sssom_curator_spark.operators.relational import (
    exclude_curated,
    exclude_existing_xrefs,
    exclude_same_component,
)
from sssom_curator_spark.operators.similarity import cosine_sim_col
from sssom_curator_spark.operators.textstats import langid_heuristic, quality_score

__all__ = ["KGConfig", "build_kg", "aggregate_evidence"]


def aggregate_evidence(mentions: DataFrame, *, n_salts: int = 32) -> DataFrame:
    """Stage-4 corpus evidence: ``(surface, object_id, n_docs, n_mentions)``.

    Two-level salted distinct (SURVEY §4 skew posture): a hub surface (a
    MeSH/UMLS-grade label appearing in half the corpus) would otherwise
    stream its whole distinct-doc set through the single reducer owning
    that (surface, object_id) key. The salt is a pure function of doc_id,
    so every distinct doc lands in exactly one of ``n_salts`` buckets:
    level 1 computes per-bucket distinct counts in parallel (map-side
    partial applies), level 2 sums ``n_salts`` small rows per key —
    SUM(partial distincts) ≡ the global COUNT(DISTINCT doc_id), and the
    mention count is a plain sum. Parity with the naive aggregation is
    pinned by tests/test_pipeline.py (hub fixture: one surface in 50% of
    pages).
    """
    salt = F.pmod(F.crc32(F.col("doc_id").cast("string")), F.lit(n_salts))
    partial = mentions.groupBy("surface", "object_id", salt.alias("_salt")).agg(
        F.countDistinct("doc_id").alias("_part_docs"),
        F.count(F.lit(1)).alias("_part_mentions"),
    )
    return partial.groupBy("surface", "object_id").agg(
        F.sum("_part_docs").alias("n_docs"),
        F.sum("_part_mentions").alias("n_mentions"),
    )


@dataclass
class KGConfig:
    languages: tuple[str, ...] = ("en",)
    min_quality: float = 0.3
    confidence_cutoff: float = 0.65
    mapping_tool: str = "sssom-curator-spark"
    mapping_tool_id: str = "wikidata:Q138902949"
    mapping_tool_version: str = "0.1.0"
    mapping_date: datetime.date = datetime.date(2026, 8, 16)
    enforce_extraction_parity: bool = False
    #: J7 (predict/lexical.py:341-456): drop predictions whose endpoints are
    #: already transitively connected in the curated mapping graph.
    exclude_connected: bool = True


def _as_mapping_rows(df: DataFrame, cfg: KGConfig) -> DataFrame:
    """Project prediction edges into the full MAPPING_SCHEMA column set."""
    stamped = df.withColumns(
        {
            "mapping_tool": F.lit(cfg.mapping_tool),
            "mapping_tool_id": F.lit(cfg.mapping_tool_id),
            "mapping_tool_version": F.lit(cfg.mapping_tool_version),
            "mapping_date": F.lit(cfg.mapping_date),
            "status": F.lit("predicted"),
        }
    )
    return with_record_id(conform_to_mapping_schema(stamped))


def _with_embedding_confidence(cand: DataFrame, labels: DataFrame) -> DataFrame:
    """Combined lexical+embedding confidence (SURVEY.md §7 step 5).

    When the label index carries an ``embedding`` column, each candidate
    side's vector is attached by CURIE via a broadcast equi-join (the
    index is dimension-sized — the same assumption under which
    ``annotate_mentions`` broadcasts it), the pair cosine is computed
    JVM-side (``zip_with`` codegen, no Python), and confidence is
    rescored with the logistic feature scorer with the cosine feature
    active (reference weights: functions/scoring.py SCORING_WEIGHTS;
    the reference combines gilda's lexical score with embedding cosine
    in predict/embedding.py:106-161).
    """
    # one vector per CURIE, deterministic pick (synonym rows share a CURIE)
    emb = (
        labels.filter(F.col("embedding").isNotNull())
        .select(
            F.concat_ws(":", "prefix", "identifier").alias("_curie"),
            F.col("name").alias("_name"),
            F.col("embedding").alias("_vec"),
        )
        .groupBy("_curie")
        .agg(F.min_by("_vec", "_name").alias("_vec"))
    )
    s = emb.select(F.col("_curie").alias("_s_curie"), F.col("_vec").alias("_s_vec"))
    o = emb.select(F.col("_curie").alias("_o_curie"), F.col("_vec").alias("_o_vec"))
    withv = cand.join(
        F.broadcast(s), cand["subject_id"] == F.col("_s_curie"), "left"
    ).join(F.broadcast(o), F.col("object_id") == F.col("_o_curie"), "left")
    cos = F.when(
        F.col("_s_vec").isNotNull() & F.col("_o_vec").isNotNull(),
        cosine_sim_col(F.col("_s_vec"), F.col("_o_vec")),
    )

    @F.pandas_udf(T.DoubleType())
    def _score(subject_norm: pd.Series, object_norm: pd.Series, cosine: pd.Series) -> pd.Series:
        return score_match_batch(subject_norm, object_norm, cosine)

    return (
        withv.withColumn(
            "confidence",
            _score(
                norm_text_col("subject_label"), norm_text_col("object_label"), cos
            ),
        )
        .drop("_s_curie", "_s_vec", "_o_curie", "_o_vec")
    )


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    labels: DataFrame,
    *,
    xrefs: DataFrame | None = None,
    curated: DataFrame | None = None,
    config: KGConfig | None = None,
    snapshots: SnapshotStore | None = None,
    metrics: MetricsRegistry | None = None,
    materialize: bool | None = None,
) -> dict[str, DataFrame]:
    """Build the KG-construction DAG over ``pages``.

    ``materialize`` picks the execution shape:

    - ``True`` (default): every stage is materialized exactly once
      (snapshot write when a store is present, persist+count otherwise)
      with wall-clock + per-partition lineage recorded — the resumable
      production mode (north rule: checkpoints, lineage, metrics).
    - ``False``: stages compose lazily and Catalyst fuses
      filter → extract → mention into a single pass over ``pages`` (one
      scan, map-side pipelined; only the final ``mappings`` frame is
      persisted because two outputs consume it). This is the throughput
      mode — at 100 TB you do not cache intermediate page-sized frames.
      **Lazy-mode callers own unpersisting ``out["mappings"]``** once
      they are done with the outputs; build_kg cannot know when the last
      consumer has run. Lazy mode records no stage metrics: no wall
      clock, no row count and no per-partition lineage.
    """
    cfg = config or KGConfig()
    reg = metrics or MetricsRegistry(spark)
    eager = materialize if materialize is not None else True

    def stage(name: str, metric_name: str, compute):
        t0 = time.monotonic()
        if snapshots is not None:
            frame, resumed = snapshots.resume_or_compute(name, compute)
            wall = None if resumed else time.monotonic() - t0
            reg.register_stage(metric_name, frame, wall_sec=wall)
            return frame
        if not eager:
            return compute()
        frame = compute().persist()
        rows = frame.count()
        reg.register_stage(
            metric_name, frame, wall_sec=time.monotonic() - t0, rows=rows
        )
        return frame

    # 1. filter ------------------------------------------------------------
    def compute_filtered() -> DataFrame:
        scored = quality_score(langid_heuristic(pages))
        kept = scored.filter(
            F.col("lang_pred").isin(list(cfg.languages))
            & (F.col("quality") >= cfg.min_quality)
        ).select("url", "warc_ts", "html", "text", "lang")
        return kept

    filtered = stage("filtered_pages", "filter", compute_filtered)

    # 2. extract -----------------------------------------------------------
    def compute_extracted() -> DataFrame:
        ext = with_extracted_text(filtered)
        if cfg.enforce_extraction_parity:
            ext = ext.filter(F.col("extracted_text").eqNullSafe(F.col("text")))
        return ext.select("url", "warc_ts", "extracted_text", "lang")

    extracted = stage("extracted_pages", "extract", compute_extracted)

    # 3. mention -----------------------------------------------------------
    # Throughput mode fuses extraction INTO the mention scan: one
    # mapInPandas does extract + normalize + AC, so the page corpus
    # crosses the Arrow boundary once, not twice (identical outputs —
    # same pure kernels; pytest asserts fused ≡ staged). Staged mode
    # keeps extract as its own snapshot/resume boundary, and the parity
    # audit needs the extracted frame materialized.
    fuse_scan = (
        not eager and snapshots is None and not cfg.enforce_extraction_parity
    )

    def compute_mentions() -> DataFrame:
        if fuse_scan:
            return annotate_mentions(filtered, labels, id_col="url", html_col="html")
        return annotate_mentions(
            extracted, labels, id_col="url", text_col="extracted_text"
        )

    mentions = stage("mentions", "mention", compute_mentions)

    # 4. evidence ----------------------------------------------------------
    def compute_evidence() -> DataFrame:
        return aggregate_evidence(mentions)

    evidence = stage("evidence", "evidence", compute_evidence)

    # 5. predict -----------------------------------------------------------
    def compute_predictions() -> DataFrame:
        cand = all_by_all(labels)
        if "embedding" in labels.columns:
            cand = _with_embedding_confidence(cand, labels)
        surface_evidence = evidence.groupBy("surface").agg(
            F.sum("n_docs").alias("surface_docs")
        )
        # The per-surface evidence feeds TWO broadcast exchanges below
        # (subject side, object side), and each broadcast materializes its
        # input independently — without a cut here the whole
        # filter→extract→mention→evidence page scan executes twice per
        # run (measured: 22s → 12.5s at 60k pages/8 cores). The frame is
        # surface-count-sized, so the eager localCheckpoint costs one
        # small job; same root cause as the near-dup self-join double
        # scan (round-4 fix), one lineage instead of two. Eagerness note:
        # this does NOT make lazy mode eager-er — lazy build_kg already
        # materializes `accepted` (persist+count below) during
        # construction, and this checkpoint merely moves part of that one
        # scan earlier; eager/snapshot modes read the already-materialized
        # evidence stage, so the checkpoint is a cheap local job there.
        surface_evidence = surface_evidence.localCheckpoint()
        # Evidence attaches via two broadcast *equi*-joins (subject side,
        # object side) — NOT one OR-condition join. An OR non-equi
        # condition plans as BroadcastNestedLoopJoin (O(cand × evidence)
        # per partition — a scale-killer once evidence stops being tiny)
        # and fans out: a candidate whose two labels match two different
        # evidence surfaces would emit two mapping rows with diverging
        # confidences. surface_evidence is keyed (unique) on surface, so
        # each equi-join matches ≤ 1 row: exactly one output row per
        # candidate, no shuffle of the candidate side, and the boost
        # takes the stronger side's evidence.
        ev_s = surface_evidence.select(
            F.col("surface").alias("_s_key"), F.col("surface_docs").alias("_s_docs")
        )
        ev_o = surface_evidence.select(
            F.col("surface").alias("_o_key"), F.col("surface_docs").alias("_o_docs")
        )
        boosted = cand.join(
            F.broadcast(ev_s), F.lower(F.col("subject_label")) == F.col("_s_key"), "left"
        ).join(
            F.broadcast(ev_o), F.lower(F.col("object_label")) == F.col("_o_key"), "left"
        )
        docs = F.greatest(
            F.coalesce(F.col("_s_docs"), F.lit(0)), F.coalesce(F.col("_o_docs"), F.lit(0))
        )
        # evidence boost saturates: conf' = conf + (1-conf) * min(docs/20, .5)
        boost = F.least(docs / 20.0, F.lit(0.5))
        scored = boosted.withColumn(
            "confidence",
            F.round(F.col("confidence") + (1.0 - F.col("confidence")) * boost, 3),
        ).drop("_s_key", "_s_docs", "_o_key", "_o_docs")
        kept = scored.filter(F.col("confidence") >= cfg.confidence_cutoff)
        return _as_mapping_rows(kept, cfg)

    predictions = stage("predictions", "predict", compute_predictions)

    # 6. exclude -----------------------------------------------------------
    def compute_excluded() -> DataFrame:
        out = predictions
        if curated is not None:
            out = exclude_curated(out, curated)
        if xrefs is not None:
            out = exclude_existing_xrefs(out, xrefs)
        if curated is not None and cfg.exclude_connected:
            # J7: endpoints already transitively connected through the
            # *positive* curated graph (negatives carry predicate_modifier
            # = 'Not' and must not create connectivity). Curated data is
            # human-scale, so its components frame broadcasts.
            existing = curated.filter(
                (F.col("predicate_id") == "skos:exactMatch")
                & F.col("predicate_modifier").isNull()
            ).select(F.col("subject_id").alias("src"), F.col("object_id").alias("dst"))
            out = exclude_same_component(out, connected_components(existing))
        return out

    accepted = stage("accepted_predictions", "exclude", compute_excluded)
    if not eager and snapshots is None:
        # the one frame two outputs consume (mappings sink + CC edges); it
        # is prediction-sized (small), never page-sized. Materialize it
        # FULLY here: a lazy persist populates the cache only for the
        # partitions the first consumer touches, and the connected-
        # components small-graph probe is a limit().collect() — without
        # the count() the heavy extract/mention chain would re-execute for
        # the untouched partitions on the next consumer.
        accepted = accepted.persist()
        accepted.count()

    # 7. canonicalize ------------------------------------------------------
    def compute_components() -> DataFrame:
        edges = accepted.filter(F.col("predicate_id") == "skos:exactMatch").select(
            F.col("subject_id").alias("src"), F.col("object_id").alias("dst")
        )
        return connected_components(edges)

    components = stage("components", "canonicalize", compute_components)

    return {
        "filtered": filtered,
        "extracted": extracted,
        "mentions": mentions,
        "evidence": evidence,
        "mappings": accepted,
        "components": components,
        "metrics": reg.frame(),
        "_registry": reg,  # callers can pull fresh metrics after actions
    }
