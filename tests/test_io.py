"""SSSOM TSV IO: golden byte-exact merge output + read round-trip.

Golden content mirrors the reference's merge fixture
(/root/reference/tests/test_merge.py:87-105): same rows, same dynamic
column set, same canonical sort, same metadata header shape.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sssom_curator_spark.export.merge import merge_to_json, merge_to_owl, merge_to_tsv
from sssom_curator_spark.io.sssom_tsv import (
    conform_to_mapping_schema,
    read_sssom_tsv,
    standardize_frame,
    write_sssom_tsv,
)
from sssom_curator_spark.operators.relational import merge_repository
from sssom_curator_spark.pipeline import build_kg
from sssom_curator_spark.schema import (
    CANONICAL_KEY_COLUMNS,
    MAPPING_SCHEMA,
    STATUSES,
    TSV_COLUMN_ORDER,
)
from sssom_curator_spark.sources.fixtures import PREFIX_MAP, seed_labels, seed_repository
from sssom_curator_spark.sources.pages import generate_pages

MAPPING_SET_ID = "https://example.org/ms/merged.sssom.tsv"

GOLDEN_MERGED = """#curie_map:
#  CHEBI: http://purl.obolibrary.org/obo/CHEBI_
#  mesh: http://id.nlm.nih.gov/mesh/
#  orcid: https://orcid.org/
#  semapv: https://w3id.org/semapv/vocab/
#  skos: http://www.w3.org/2004/02/skos/core#
#  wikidata: http://www.wikidata.org/entity/
#license: https://creativecommons.org/publicdomain/zero/1.0/
#mapping_set_id: https://example.org/ms/merged.sssom.tsv
#mapping_set_title: test
subject_id\tsubject_label\tpredicate_id\tpredicate_modifier\tobject_id\tobject_label\tmapping_justification\tauthor_id\treviewer_id\tmapping_tool\tmapping_tool_id\tmapping_tool_version\tmapping_date\treview_date\tconfidence\treviewer_agreement
CHEBI:10057\t9H-xanthene\tskos:exactMatch\tNot\tmesh:C002563\txanthan gum\tsemapv:ManualMappingCuration\torcid:0000-0003-4423-4370\t\t\t\t\t2026-05-08\t\t1.0\t
CHEBI:101096\tethoxzolamide\tskos:exactMatch\t\tmesh:C523270\t6-ethoxybenzothiazole-2-sulfonamide\tsemapv:LexicalMatching\t\t\tsssom-curator\twikidata:Q138902949\t0.4.2\t\t\t0.77\t
CHEBI:11986\t4-fluoro-L-threonine\tskos:exactMatch\t\tmesh:C048271\t4-fluorothreonine\tsemapv:ManualMappingCuration\torcid:0000-0003-4423-4370\t\t\t\t\t2026-05-08\t\t1.0\t
CHEBI:61700\t(+)-valencene\tskos:exactMatch\t\tmesh:C506706\tvalencene\tsemapv:ManualMappingCuration\t\torcid:0000-0003-4423-4370\t\t\t\t\t2026-05-08\t\t0.0
"""

#: the checkpoint job's stages (dedup shuffle, sort sampling, sort
#: shuffle, result) plus one row-streaming job per checkpoint partition;
#: 9 when the prefix set, the column probes and the rows each re-ran the
#: dedup
MERGE_TO_TSV_JOBS = 5


def _frames(spark):
    repo = seed_repository(spark)
    return {s: repo.filter(F.col("status") == s).drop("status") for s in STATUSES}


class TestGoldenMerge:
    def test_merged_tsv_byte_exact(self, spark, tmp_path):
        out = str(tmp_path / "merged.sssom.tsv")
        merge_to_tsv(
            _frames(spark),
            out,
            prefix_map=PREFIX_MAP,
            metadata={
                "license": "https://creativecommons.org/publicdomain/zero/1.0/",
                "mapping_set_id": MAPPING_SET_ID,
                "mapping_set_title": "test",
            },
        )
        with open(out) as fh:
            assert fh.read().rstrip() == GOLDEN_MERGED.rstrip()

    def test_standardization_chebi_to_upper(self, spark, tmp_path):
        # tests/test_merge.py:109-133: chebi:10001 standardizes to CHEBI:10001
        frames = _frames(spark)
        extra = frames["positive"].limit(1).withColumn(
            "subject_id", F.lit("chebi:10001")
        )
        frames["positive"] = frames["positive"].unionByName(extra)
        merged = merge_repository(frames)
        std = standardize_frame(merged, {"chebi": "CHEBI"})
        subjects = {r["subject_id"] for r in std.select("subject_id").collect()}
        assert "CHEBI:10001" in subjects
        assert "chebi:10001" not in subjects


class TestRoundTrip:
    def test_write_read_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "roundtrip.sssom.tsv")
        repo = seed_repository(spark).drop("status")
        write_sssom_tsv(repo, path, prefix_map=PREFIX_MAP)
        back, prefix_map, _meta = read_sssom_tsv(spark, path)
        assert prefix_map == PREFIX_MAP
        orig = repo.orderBy("subject_id").collect()
        got = back.orderBy("subject_id").collect()
        assert len(orig) == len(got)
        for o, g in zip(orig, got):
            for col in ("subject_id", "predicate_id", "object_id", "confidence",
                        "mapping_justification", "predicate_modifier", "author_id",
                        "mapping_date"):
                assert o[col] == g[col], (col, o[col], g[col])

    def test_dynamic_column_pruning(self, spark, tmp_path):
        # predictions-only file serializes fewer columns (test_init.py:184)
        path = str(tmp_path / "pred.sssom.tsv")
        repo = seed_repository(spark)
        pred = repo.filter(F.col("status") == "predicted").drop("status")
        cols = write_sssom_tsv(pred, path, prefix_map=PREFIX_MAP)
        assert "author_id" not in cols  # empty for predictions
        assert "predicate_modifier" not in cols
        assert "confidence" in cols
        assert "mapping_tool" in cols

    def test_exclude_mappings_anti_join(self, spark, tmp_path):
        # J5 zombie removal: curated rows disappear from the written file
        path = str(tmp_path / "excl.sssom.tsv")
        repo = seed_repository(spark)
        pred = repo.filter(F.col("status") == "predicted").drop("status")
        write_sssom_tsv(pred, path, prefix_map=PREFIX_MAP, exclude_mappings=pred)
        back, _, _ = read_sssom_tsv(spark, path)
        assert back.count() == 0

    def test_write_sorted_dedup(self, spark, tmp_path):
        path = str(tmp_path / "dedup.sssom.tsv")
        repo = seed_repository(spark).drop("status")
        doubled = repo.unionByName(repo)
        write_sssom_tsv(doubled, path, prefix_map=PREFIX_MAP)
        back, _, _ = read_sssom_tsv(spark, path)
        assert back.count() == repo.count()
        subjects = [r["subject_id"] for r in back.collect()]
        assert subjects == sorted(subjects)

    def test_empty_frame_writes_key_columns(self, spark, tmp_path):
        path = str(tmp_path / "empty.sssom.tsv")
        cols = write_sssom_tsv(
            spark.createDataFrame([], MAPPING_SCHEMA), path, prefix_map=PREFIX_MAP
        )
        assert cols == [c for c in TSV_COLUMN_ORDER if c in CANONICAL_KEY_COLUMNS]
        back, prefix_map, _ = read_sssom_tsv(spark, path)
        assert back.count() == 0
        assert prefix_map == PREFIX_MAP
        with open(path) as fh:
            body = [line for line in fh if not line.startswith("#")]
        assert body == ["\t".join(cols) + "\n"]


class TestExportJobs:
    """Each answer on the export path costs one Spark job or none. The
    bounds are the counts measured on these fixtures (``local[4]``)."""

    def test_read_starts_no_job(self, spark, tmp_path, count_jobs):
        path = str(tmp_path / "read.sssom.tsv")
        write_sssom_tsv(seed_repository(spark).drop("status"), path, prefix_map=PREFIX_MAP)
        (back, prefix_map, _meta), n_jobs = count_jobs(lambda: read_sssom_tsv(spark, path))
        assert n_jobs == 0
        assert prefix_map == PREFIX_MAP
        assert back.count() == 4

    def test_merge_to_tsv_jobs(self, spark, tmp_path, count_jobs):
        frames = _frames(spark)
        out = str(tmp_path / "merged.sssom.tsv")
        _, n_jobs = count_jobs(lambda: merge_to_tsv(frames, out, prefix_map=PREFIX_MAP))
        assert n_jobs <= MERGE_TO_TSV_JOBS

    @pytest.mark.parametrize("sink", [merge_to_json, merge_to_owl], ids=["json", "owl"])
    def test_json_and_owl_share_the_tsv_plan(self, spark, tmp_path, count_jobs, sink):
        # one lint checkpoint with the prefix set observed on it, then the
        # row stream: no job of their own for the prefix map subset
        frames = _frames(spark)
        out = str(tmp_path / "merged.out")
        _, n_jobs = count_jobs(lambda: sink(frames, out, prefix_map=PREFIX_MAP))
        assert n_jobs <= MERGE_TO_TSV_JOBS


def _read_back(spark, tmp_path):
    path = str(tmp_path / "schema.sssom.tsv")
    write_sssom_tsv(seed_repository(spark).drop("status"), path, prefix_map=PREFIX_MAP)
    return read_sssom_tsv(spark, path)[0]


def _conformed(spark, tmp_path):
    # a mistyped column, an extra column and missing ones
    repo = seed_repository(spark).select("subject_id", "object_id", "confidence")
    return conform_to_mapping_schema(
        repo.withColumn("confidence", F.col("confidence").cast("float")).withColumn(
            "extra", F.lit(1)
        )
    )


def _predicted(spark, tmp_path):
    out = build_kg(spark, generate_pages(spark, 10), seed_labels(spark), materialize=False)
    out["mappings"].unpersist()
    return out["mappings"]


class TestMappingSchema:
    """Every producer of mapping rows yields exactly MAPPING_SCHEMA's
    column names and types, in order."""

    @pytest.mark.parametrize(
        "produce",
        [_read_back, _conformed, _predicted],
        ids=["read_sssom_tsv", "conform_to_mapping_schema", "build_kg"],
    )
    def test_names_and_types(self, spark, tmp_path, produce):
        got = [(f.name, f.dataType) for f in produce(spark, tmp_path).schema.fields]
        assert got == [(f.name, f.dataType) for f in MAPPING_SCHEMA.fields]


class TestCurationDateStamp:
    def test_date_formats_iso(self):
        from sssom_curator_spark.io.sssom_tsv import _format_cell

        assert _format_cell(datetime.date(2026, 5, 8)) == "2026-05-08"
        assert _format_cell(1.0) == "1.0"
        assert _format_cell(0.77) == "0.77"
        assert _format_cell(["a", "b"]) == "a|b"
        assert _format_cell(None) == ""


class TestMergeJsonOwl:
    """S6 JSON/OWL sinks — golden content pinned to the reference's seed
    mapping rows (initialize/__init__.py:45-84 via seed_repository), the
    same fixture the TSV golden pins."""

    def test_json_document_golden(self, spark, tmp_path):
        import json

        from sssom_curator_spark.export.merge import merge_to_json

        out = str(tmp_path / "merged.sssom.json")
        doc = merge_to_json(
            _frames(spark),
            out,
            prefix_map=PREFIX_MAP,
            metadata={"mapping_set_id": MAPPING_SET_ID, "license": "CC0"},
        )
        with open(out) as fh:
            assert json.load(fh) == doc
        assert doc["mapping_set_id"] == MAPPING_SET_ID
        assert set(doc["curie_map"]) == set(PREFIX_MAP)
        assert [m["subject_id"] for m in doc["mappings"]] == [
            "CHEBI:10057",
            "CHEBI:101096",
            "CHEBI:11986",
            "CHEBI:61700",
        ]
        ethox = doc["mappings"][1]
        assert ethox == {
            "subject_id": "CHEBI:101096",
            "subject_label": "ethoxzolamide",
            "predicate_id": "skos:exactMatch",
            "object_id": "mesh:C523270",
            "object_label": "6-ethoxybenzothiazole-2-sulfonamide",
            "mapping_justification": "semapv:LexicalMatching",
            "mapping_tool": "sssom-curator",
            "mapping_tool_id": "wikidata:Q138902949",
            "mapping_tool_version": "0.4.2",
            "confidence": 0.77,
        }
        # negatives keep the Not modifier; unsure rows carry reviewer slots
        assert doc["mappings"][0]["predicate_modifier"] == "Not"
        assert doc["mappings"][3]["reviewer_id"] == ["orcid:0000-0003-4423-4370"]
        assert doc["mappings"][3]["reviewer_agreement"] == 0.0

    def test_streaming_write_no_accumulation(self, spark, tmp_path):
        """``return_document=False`` (the SeMRA-scale path) must write the
        identical files without accumulating the document driver-side."""
        import json

        from sssom_curator_spark.export.merge import merge_to_json, merge_to_owl

        meta = {"mapping_set_id": MAPPING_SET_ID, "license": "CC0"}
        a, b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
        doc = merge_to_json(_frames(spark), a, prefix_map=PREFIX_MAP, metadata=meta)
        none_doc = merge_to_json(
            _frames(spark), b, prefix_map=PREFIX_MAP, metadata=meta, return_document=False
        )
        assert none_doc is None
        assert open(a).read() == open(b).read()
        with open(b) as fh:
            assert json.load(fh) == doc

        oa, ob = str(tmp_path / "a.owl"), str(tmp_path / "b.owl")
        text = merge_to_owl(_frames(spark), oa, prefix_map=PREFIX_MAP)
        assert merge_to_owl(
            _frames(spark), ob, prefix_map=PREFIX_MAP, return_document=False
        ) is None
        assert open(ob).read() == text

    def test_owl_document_golden(self, spark, tmp_path):
        from sssom_curator_spark.export.merge import merge_to_owl

        out = str(tmp_path / "merged.sssom.owl")
        text = merge_to_owl(_frames(spark), out, prefix_map=PREFIX_MAP)
        with open(out) as fh:
            assert fh.read() == text
        lines = text.splitlines()
        assert lines[0] == "Prefix(CHEBI:=<http://purl.obolibrary.org/obo/CHEBI_>)"
        # serializer-introduced prefixes (sssom:, xsd:) are ALWAYS declared —
        # the functional-syntax document must never reference an undeclared
        # prefix, or OWL parsers reject it
        prefixes = [l for l in lines if l.startswith("Prefix(")]
        assert "Prefix(sssom:=<https://w3id.org/sssom/>)" in prefixes
        assert "Prefix(xsd:=<http://www.w3.org/2001/XMLSchema#>)" in prefixes
        assert len(prefixes) == len(PREFIX_MAP) + 2
        axioms = [l for l in lines if l.startswith("AnnotationAssertion(")]
        assert len(axioms) == 4  # one per merged mapping, canonical order
        assert axioms[1] == (
            "AnnotationAssertion("
            'Annotation(sssom:mapping_justification "semapv:LexicalMatching") '
            'Annotation(sssom:confidence "0.77"^^xsd:double) '
            'Annotation(sssom:mapping_tool "sssom-curator") '
            "skos:exactMatch CHEBI:101096 mesh:C523270)"
        )
        # negative mapping reifies the predicate modifier
        assert 'Annotation(sssom:predicate_modifier "Not")' in axioms[0]

    def test_owl_literals_escaped(self):
        from sssom_curator_spark.export.merge import _owl_literal

        assert _owl_literal('say "hi"') == 'say \\"hi\\"'
        assert _owl_literal("back\\slash") == "back\\\\slash"


class TestUrlScan:
    def test_file_url_roundtrip(self, spark, tmp_path):
        from sssom_curator_spark.export.merge import merge_to_tsv
        from sssom_curator_spark.io.sssom_tsv import read_sssom_url

        out = tmp_path / "via_url.sssom.tsv"
        merge_to_tsv(
            _frames(spark),
            str(out),
            prefix_map=PREFIX_MAP,
            metadata={"mapping_set_id": MAPPING_SET_ID},
        )
        df, prefix_map, metadata = read_sssom_url(spark, out.as_uri())
        assert df.count() == 4
        assert prefix_map["CHEBI"] == PREFIX_MAP["CHEBI"]
        assert metadata["mapping_set_id"] == MAPPING_SET_ID


class TestConverterChain:
    def test_first_wins(self):
        from sssom_curator_spark.io.sssom_tsv import chain_prefix_maps

        chained = chain_prefix_maps(
            [
                {"CHEBI": "http://a/", "mesh": "http://m1/"},
                {"mesh": "http://m2/", "uniprot": "http://u/"},
                {"CHEBI": "http://c3/"},
            ]
        )
        assert chained == {
            "CHEBI": "http://a/",
            "mesh": "http://m1/",
            "uniprot": "http://u/",
        }


class TestPaginationElements:
    def test_middle_page_has_all_four(self):
        from sssom_curator_spark.plans.state_query import pagination_elements

        els = pagination_elements(offset=20, limit=10, remaining_rows=100)
        assert [e["text"] for e in els] == ["First", "Previous 10", "Next 10", "Last (100)"]
        assert [e["offset"] for e in els] == [None, 10, 30, 90]
        assert [e["position"] for e in els] == ["after", "after", "before", "before"]

    def test_first_page_has_only_forward(self):
        from sssom_curator_spark.plans.state_query import pagination_elements

        els = pagination_elements(offset=0, limit=10, remaining_rows=25)
        assert [e["text"] for e in els] == ["Next 10", "Last (25)"]

    def test_last_page_has_only_backward(self):
        from sssom_curator_spark.plans.state_query import pagination_elements

        els = pagination_elements(offset=90, limit=10, remaining_rows=100)
        assert [e["text"] for e in els] == ["First", "Previous 10"]

    def test_thousands_separator(self):
        from sssom_curator_spark.plans.state_query import pagination_elements

        els = pagination_elements(offset=2000, limit=1000, remaining_rows=50000)
        assert els[1]["text"] == "Previous 1,000"
        assert els[3]["text"] == "Last (50,000)"


class TestScaffold:
    def test_initialize_project_roundtrip(self, spark, tmp_path):
        import json

        import pytest

        from sssom_curator_spark.initialize import initialize_project
        from sssom_curator_spark.io.sssom_tsv import read_sssom_tsv

        cfg = initialize_project(
            spark, str(tmp_path / "proj"), mapping_set_id="https://example.org/ms/x"
        )
        assert cfg["purl_base"] == "https://example.org/ms/"
        with open(tmp_path / "proj" / "sssom-curator.json") as fh:
            assert json.load(fh) == cfg
        # each seeded file reads back with exactly one mapping
        for rel in [cfg["positives_path"], cfg["negatives_path"],
                    cfg["predictions_path"], cfg["unsure_path"]]:
            df, prefix_map, metadata = read_sssom_tsv(spark, str(tmp_path / "proj" / rel))
            assert df.count() == 1
            assert metadata["mapping_set_id"].startswith("https://example.org/ms/")
        assert (tmp_path / "proj" / "README.md").exists()
        # refuses to overwrite
        with pytest.raises(FileExistsError):
            initialize_project(
                spark, str(tmp_path / "proj"), mapping_set_id="https://example.org/ms/x"
            )


class TestPartitionedMappingTable:
    def test_roundtrip_and_partition_pruning(self, spark, tmp_path):
        from sssom_curator_spark.io.table import read_mappings_table, write_mappings_table

        repo = seed_repository(spark)
        path = str(tmp_path / "mappings_table")
        write_mappings_table(repo, path)
        # round trip preserves rows and schema (derived column dropped)
        back = read_mappings_table(spark, path)
        assert back.count() == repo.count()
        assert set(back.columns) == set(repo.columns)
        # a prefix slice prunes partitions at the scan, not post-scan
        sliced = read_mappings_table(spark, path, subject_prefix="CHEBI")
        assert sliced.count() == 4  # all seed subjects are CHEBI
        plan = sliced._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "subject_prefix" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


class TestInsert:
    """S4 append-with-lint roundtrip (reference constants.py:76-107): read
    the scaffolded predictions file, standardize + append a new prediction,
    write back through the lint stack — byte-exact."""

    GOLDEN_AFTER_INSERT = """#curie_map:
#  CHEBI: http://purl.obolibrary.org/obo/CHEBI_
#  mesh: http://id.nlm.nih.gov/mesh/
#  orcid: https://orcid.org/
#  semapv: https://w3id.org/semapv/vocab/
#  skos: http://www.w3.org/2004/02/skos/core#
#  wikidata: http://www.wikidata.org/entity/
#mapping_set_id: https://example.org/ms/predictions.sssom.tsv
subject_id\tsubject_label\tpredicate_id\tobject_id\tobject_label\tmapping_justification\tmapping_tool\tmapping_tool_id\tmapping_tool_version\tconfidence
CHEBI:101096\tethoxzolamide\tskos:exactMatch\tmesh:C523270\t6-ethoxybenzothiazole-2-sulfonamide\tsemapv:LexicalMatching\tsssom-curator\twikidata:Q138902949\t0.4.2\t0.77
CHEBI:200000\taspirin-like\tskos:exactMatch\tmesh:C000001\ttest target\tsemapv:LexicalMatching\tsssom-curator\twikidata:Q138902949\t0.4.2\t0.5
"""

    def test_insert_roundtrip_byte_exact(self, spark, tmp_path):
        from sssom_curator_spark.initialize import initialize_project
        from sssom_curator_spark.io.sssom_tsv import insert_sssom_tsv

        initialize_project(
            spark, str(tmp_path / "proj"), mapping_set_id="https://example.org/ms/x"
        )
        path = str(tmp_path / "proj" / "data" / "predictions.sssom.tsv")
        new = spark.createDataFrame(
            [
                (
                    "chebi:200000",  # lowercase: exercises standardization
                    "aspirin-like",
                    "skos:exactMatch",
                    "mesh:C000001",
                    "test target",
                    "semapv:LexicalMatching",
                    "sssom-curator",
                    "wikidata:Q138902949",
                    "0.4.2",
                    0.5,
                )
            ],
            "subject_id string, subject_label string, predicate_id string, "
            "object_id string, object_label string, mapping_justification string, "
            "mapping_tool string, mapping_tool_id string, mapping_tool_version string, "
            "confidence double",
        )
        insert_sssom_tsv(spark, path, new, alias_map={"chebi": "CHEBI"})
        with open(path) as fh:
            assert fh.read() == self.GOLDEN_AFTER_INSERT

    def test_insert_is_idempotent_on_duplicates(self, spark, tmp_path):
        from sssom_curator_spark.initialize import initialize_project
        from sssom_curator_spark.io.sssom_tsv import (
            insert_sssom_tsv,
            read_sssom_tsv,
        )

        initialize_project(
            spark, str(tmp_path / "proj"), mapping_set_id="https://example.org/ms/x"
        )
        path = str(tmp_path / "proj" / "data" / "predictions.sssom.tsv")
        existing, _, _ = read_sssom_tsv(spark, path)
        n0 = existing.count()
        # re-inserting the file's own rows dedups away
        insert_sssom_tsv(spark, path, read_sssom_tsv(spark, path)[0])
        back, _, _ = read_sssom_tsv(spark, path)
        assert back.count() == n0


class TestChartSvg:
    """S9 rendered chart artifacts (reference export/charts.py:32-184
    renders PNG via matplotlib; here: deterministic dependency-free SVG)."""

    def test_svg_deterministic_and_wellformed(self):
        import xml.etree.ElementTree as ET

        from sssom_curator_spark.export.charts_svg import render_bar_chart_svg

        items = [("CHEBI", 12.0), ("mesh", 7.0), ("uniprot", 0.0)]
        a = render_bar_chart_svg(items, title="Mappings per prefix")
        b = render_bar_chart_svg(items, title="Mappings per prefix")
        assert a == b  # byte-identical on identical input
        root = ET.fromstring(a)
        assert root.tag.endswith("svg")
        ns = {"s": "http://www.w3.org/2000/svg"}
        bars = root.findall(".//s:path", ns)
        assert len(bars) == 3  # one mark per item, zero-height included
        tooltips = [t.text for t in root.findall(".//s:path/s:title", ns)]
        assert tooltips == ["CHEBI: 12", "mesh: 7", "uniprot: 0"]
        # selective direct label: only the max bar carries its value; all
        # text wears ink tokens, never the series hue
        texts = root.findall(".//s:text", ns)
        assert sum(1 for t in texts if t.text == "12") == 1
        assert all(t.get("fill") in ("#0b0b0b", "#52514e") for t in texts)

    def test_chart_sinks_render_all_three(self, spark, tmp_path):
        from sssom_curator_spark.export.charts_svg import render_chart_sinks

        out = render_chart_sinks(seed_repository(spark), str(tmp_path / "charts"))
        assert set(out) == {"component_sizes", "prefixes", "relations"}
        for path in out.values():
            with open(path) as fh:
                content = fh.read()
            assert content.startswith("<svg ") and content.rstrip().endswith("</svg>")


class TestNiceMax:
    def test_non_finite_and_degenerate_inputs(self):
        import math

        from sssom_curator_spark.export.charts_svg import _nice_max

        assert _nice_max(float("inf")) == 1.0  # previously looped forever
        assert _nice_max(float("nan")) == 1.0
        assert _nice_max(-math.inf) == 1.0
        assert _nice_max(0.0) == 1.0
        assert _nice_max(7.0) == 10.0
        assert _nice_max(0.03) == 0.05


class TestTrainingShards:
    def test_layout_roundtrip_and_determinism(self, spark, tmp_path):
        import glob
        import os

        from pyspark.sql import functions as F

        from sssom_curator_spark.io.table import write_training_shards
        from sssom_curator_spark.operators.sampling import split_assign

        docs = spark.range(0, 500).select(
            F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
            (F.col("id") % 7).alias("payload"),
        )
        assigned = split_assign(docs, id_col="doc_id")
        out = str(tmp_path / "shards")
        write_training_shards(assigned, out, rows_per_shard=100)

        # one directory per split value
        dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/split=*"))
        assert dirs == ["split=test", "split=train", "split=val"]
        # every shard respects the row cap, rows sorted by id inside
        for f in glob.glob(f"{out}/split=*/*.parquet"):
            pdf = spark.read.parquet(f).toPandas()
            assert len(pdf) <= 100
            assert list(pdf["doc_id"]) == sorted(pdf["doc_id"])
        # roundtrip preserves the full frame
        back = spark.read.parquet(out)
        assert back.count() == 500
        a = sorted(map(tuple, assigned.select("doc_id", "payload", "split").collect()))
        b = sorted(map(tuple, back.select("doc_id", "payload", "split").collect()))
        assert a == b
        # re-write under a different input partitioning -> identical layout
        out2 = str(tmp_path / "shards2")
        write_training_shards(assigned.repartition(13), out2, rows_per_shard=100)
        c = sorted(map(tuple, spark.read.parquet(out2)
                       .select("doc_id", "payload", "split").collect()))
        assert c == a
