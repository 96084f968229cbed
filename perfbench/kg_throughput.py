"""``kg_throughput``: lazy ``build_kg`` over generated pages.

One pass is ``pipeline.build_kg(materialize=False)`` over persisted pages,
with both outputs written to Spark's noop sink, as ``bench.py`` times it.
Nearly all of a pass is the fused filter → extract → mention scan; the
components step takes its small driver-side path and nothing is written.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import functions as F

from perfbench import oracles

__all__ = ["KgThroughput", "KgScale"]


@dataclass(frozen=True)
class KgScale:
    pages: int
    sentences: int


FULL = KgScale(pages=3000, sentences=30)
TINY = KgScale(pages=300, sentences=30)


class KgThroughput:
    name = "kg_throughput"

    def __init__(self, workdir, seed: int, scale: KgScale = FULL):
        del workdir  # the pages live in Spark's cache
        self.seed = seed
        self.scale = scale
        self.expected = oracles.KG_EXPECTED
        self._out = None

    # -------------------------------------------------------------- set-up
    def prepare(self) -> None:
        """The pages are generated by the program itself, in :meth:`bind`."""

    def oracle(self) -> list[str]:
        return []

    def bind(self, spark) -> None:
        from sssom_curator_spark.sources.fixtures import seed_labels, seed_xrefs
        from sssom_curator_spark.sources.pages import generate_pages

        self.spark = spark
        s = self.scale
        self.pages = generate_pages(
            self.spark, s.pages, start=self.seed * s.pages, n_sentences=s.sentences
        ).persist()
        self.n_pages = self.pages.count()
        self.labels = seed_labels(self.spark, hub_copies=25)
        self.xrefs = seed_xrefs(self.spark)

    def check_inputs(self) -> list[str]:
        """Page count and the canary digest of a fixed page slice; counts
        the planted surfaces in the measured pages' text, in plain Python,
        for the evidence check."""
        from sssom_curator_spark.sources.pages import generate_pages

        problems = []
        if self.n_pages != self.scale.pages:
            problems.append(f"pages: {self.n_pages} != {self.scale.pages}")
        canary = oracles.PAGES_CANARY
        rows = [
            (r["url"], r["text"], r["html"])
            for r in generate_pages(
                self.spark, canary["n"], start=0, n_sentences=canary["n_sentences"]
            ).collect()
        ]
        if oracles.pages_digest(rows) != canary["sha256"]:
            problems.append("generate_pages output differs from the canary digest")
        self.expected_evidence = oracles.surface_doc_counts(
            (r["lang"], r["text"]) for r in self.pages.select("lang", "text").toLocalIterator()
        )
        return problems

    def warm_up(self) -> None:
        self.run_pass()
        self._release()

    # ---------------------------------------------------------------- pass
    def run_pass(self, tracer=None) -> int:
        """One pass; returns the pages it processed. ``build_kg`` is one
        call, so a traced pass has no child spans."""
        from sssom_curator_spark.pipeline import build_kg

        out = build_kg(self.spark, self.pages, self.labels, xrefs=self.xrefs, materialize=False)
        out["mappings"].write.format("noop").mode("overwrite").save()
        out["components"].write.format("noop").mode("overwrite").save()
        self._out = out
        return self.n_pages

    def _release(self) -> None:
        if self._out is not None:
            self._out["mappings"].unpersist()
            self._out = None

    def check_pass(self) -> bool:
        """The mapping set equals the planted truth, both endpoints of every
        mapping share a component, and the page scan's evidence (documents
        per surface) equals the plain-Python count. The mappings are read
        from the pass's cache; the evidence frame re-runs the scan."""
        out = self._out
        try:
            pairs = {
                (r["subject_id"], r["object_id"])
                for r in out["mappings"].select("subject_id", "object_id").collect()
            }
            comp = {r["node"]: r["component"] for r in out["components"].collect()}
            same = all(comp.get(a) is not None and comp.get(a) == comp.get(b) for a, b in pairs)
            docs: dict[str, set[int]] = {}
            for r in out["evidence"].select("surface", "n_docs").collect():
                docs.setdefault(r["surface"], set()).add(r["n_docs"])
            # every id of a surface sees the same documents
            evidence = {s: n.pop() for s, n in docs.items() if len(n) == 1}
            return (
                pairs == self.expected
                and same
                and len(evidence) == len(docs)
                and evidence == self.expected_evidence
            )
        finally:
            self._release()

    # -------------------------------------------------------------- traced
    def trace_layers(self, tracer) -> None:
        """Stage-by-stage spans over the measured pages. Every input is
        persisted and counted before the span that reads it, so each span
        times only its own layer."""
        from sssom_curator_spark.extract import with_extracted_text
        from sssom_curator_spark.graph.components import connected_components
        from sssom_curator_spark.operators.grounding import all_by_all, annotate_mentions
        from sssom_curator_spark.operators.relational import exclude_existing_xrefs
        from sssom_curator_spark.operators.textstats import langid_heuristic, quality_score
        from sssom_curator_spark.pipeline import KGConfig, aggregate_evidence

        cfg = KGConfig()
        held = []

        def materialize(df):
            df = df.persist()
            held.append(df)
            return df, df.count()

        with tracer.span("operators.textstats.filter"):
            scored = quality_score(langid_heuristic(self.pages))
            filtered, _ = materialize(
                scored.filter(
                    F.col("lang_pred").isin(list(cfg.languages)) & (F.col("quality") >= cfg.min_quality)
                ).select("url", "warc_ts", "html", "text", "lang")
            )
        with tracer.span("operators.grounding.fused_scan", skew=True):
            materialize(annotate_mentions(filtered, self.labels, id_col="url", html_col="html"))
        with tracer.span("extract"):
            extracted, _ = materialize(
                with_extracted_text(filtered).select("url", "warc_ts", "extracted_text", "lang")
            )
        with tracer.span("operators.grounding.mentions") as sp:
            mentions, n = materialize(
                annotate_mentions(extracted, self.labels, id_col="url", text_col="extracted_text")
            )
            sp["counts"]["rows_out"] = n
        with tracer.span("pipeline.aggregate_evidence"):
            materialize(aggregate_evidence(mentions))
        with tracer.span("operators.grounding.all_by_all") as sp:
            cand, n = materialize(all_by_all(self.labels))
            sp["counts"]["rows_out"] = n
        with tracer.span("operators.relational.exclusions"):
            kept, _ = materialize(exclude_existing_xrefs(cand, self.xrefs))
        with tracer.span("graph.components.small"):
            edges = kept.filter(F.col("predicate_id") == "skos:exactMatch").select(
                F.col("subject_id").alias("src"), F.col("object_id").alias("dst")
            )
            connected_components(edges).count()
        for df in held:
            df.unpersist()
