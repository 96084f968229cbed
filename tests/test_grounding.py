"""Grounding joins: all-by-all semantics, salting invariance, AC vs n-gram
agreement, partition invariance (the reference's batched-vs-unbatched
property generalized — tests/test_lexical.py:80-119)."""

from __future__ import annotations

from pyspark.sql import functions as F

from sssom_curator_spark.operators.grounding import (
    all_by_all,
    annotate_mentions,
    ground_names,
    mention_candidates_ngram,
    with_norm_text,
)
from sssom_curator_spark.sources.fixtures import seed_labels


def _labels(spark):
    return seed_labels(spark)


class TestAllByAll:
    def test_two_same_text_terms_one_mapping(self, spark):
        # mirror of /root/reference/tests/test_lexical.py:24-39: two terms
        # with the same text in different namespaces → exactly 1 mapping,
        # deterministic orientation (later-sorted curie is subject).
        labels = spark.createDataFrame(
            [
                ("r1ns", "1", "test", "test"),
                ("r2ns", "2", "test", "test"),
            ],
            "prefix string, identifier string, name string, norm_text string",
        )
        rows = all_by_all(labels).collect()
        assert len(rows) == 1
        assert rows[0]["subject_id"] == "r2ns:2"
        assert rows[0]["object_id"] == "r1ns:1"

    def test_same_prefix_pairs_excluded(self, spark):
        labels = spark.createDataFrame(
            [("ns", "1", "x", "x"), ("ns", "2", "x", "x")],
            "prefix string, identifier string, name string, norm_text string",
        )
        assert all_by_all(labels).count() == 0

    def test_seeded_cross_namespace_pairs(self, spark):
        rows = all_by_all(_labels(spark)).collect()
        pairs = {(r["subject_id"], r["object_id"]) for r in rows}
        assert ("mesh:D024502", "CHEBI:18145") in pairs  # alpha tocopherol
        assert ("mesh:C523270", "CHEBI:101096") in pairs  # ethoxzolamide
        assert ("mesh:C067604", "CHEBI:9921") in pairs  # visnadin


class TestGroundNames:
    def test_salting_is_semantically_invariant(self, spark):
        names = spark.createDataFrame(
            [("doid", str(i), n) for i, n in enumerate(
                ["alpha tocopherol", "valencene", "xanthan gum", "aspirin", "nothing here"]
            )],
            "prefix string, identifier string, name string",
        )
        index = _labels(spark)
        plain = {tuple(r) for r in ground_names(names, index, salt=0).collect()}
        salted = {tuple(r) for r in ground_names(names, index, salt=8).collect()}
        assert plain == salted
        assert plain  # non-empty

    def test_cutoff_applies(self, spark):
        names = spark.createDataFrame(
            [("doid", "1", "alpha tocopherol")], "prefix string, identifier string, name string"
        )
        high = ground_names(names, _labels(spark), cutoff=0.99).collect()
        assert all(r["confidence"] >= 0.99 for r in high)


class TestMentionDetection:
    def test_ac_and_ngram_paths_agree(self, spark):
        docs = spark.createDataFrame(
            [
                ("d1", "we like alpha tocopherol and xanthan gum a lot"),
                ("d2", "valencene valencene glyoxime"),
                ("d3", "nothing relevant"),
            ],
            "doc_id string, text string",
        )
        index = _labels(spark)
        ac = {
            (r["doc_id"], r["surface"], r["object_id"])
            for r in annotate_mentions(docs, index, id_col="doc_id", text_col="text").collect()
        }
        ng = {
            (r["doc_id"], r["surface"], r["object_id"])
            for r in mention_candidates_ngram(docs, index, id_col="doc_id").collect()
        }
        assert ac == ng
        assert ("d2", "glyoxime", "CHEBI:131408") in ac

    def test_token_boundary_matching(self, spark):
        # "rna" must not fire inside "internal"
        docs = spark.createDataFrame(
            [("d1", "internal only"), ("d2", "rna here")], "doc_id string, text string"
        )
        index = spark.createDataFrame(
            [("ns", "1", "rna", "rna")],
            "prefix string, identifier string, name string, norm_text string",
        )
        got = annotate_mentions(docs, index, id_col="doc_id", text_col="text").collect()
        assert {r["doc_id"] for r in got} == {"d2"}

    def test_partition_invariance(self, spark):
        docs = spark.createDataFrame(
            [(f"d{i}", "alpha tocopherol and valencene") for i in range(40)],
            "doc_id string, text string",
        )
        index = _labels(spark)
        one = annotate_mentions(docs.coalesce(1), index, id_col="doc_id", text_col="text")
        many = annotate_mentions(docs.repartition(16), index, id_col="doc_id", text_col="text")
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))

    def test_mentions_preserve_orientation(self, spark):
        # subject=source/doc, object=index hit (predict/lexical.py FIXME at
        # :251: asymmetric scoring orientation must be preserved)
        docs = spark.createDataFrame([("d1", "ethoxzolamide")], "doc_id string, text string")
        got = annotate_mentions(docs, _labels(spark), id_col="doc_id", text_col="text").collect()
        objs = {r["object_id"] for r in got}
        assert objs == {"CHEBI:101096", "mesh:C523270"}


class TestFusedScan:
    def test_fused_html_scan_equals_staged_text_scan(self, spark):
        """html_col fusion (extract inside the mention scan) must produce
        byte-identical mentions to with_extracted_text + text scan."""
        from sssom_curator_spark.extract import with_extracted_text
        from sssom_curator_spark.operators.grounding import annotate_mentions
        from sssom_curator_spark.sources.fixtures import seed_labels
        from sssom_curator_spark.sources.pages import generate_pages

        pages = generate_pages(spark, 120)
        labels = seed_labels(spark)
        staged = annotate_mentions(
            with_extracted_text(pages).select("url", "extracted_text"),
            labels,
            id_col="url",
            text_col="extracted_text",
        )
        fused = annotate_mentions(pages, labels, id_col="url", html_col="html")
        cols = ["doc_id", "start", "end", "surface", "object_id", "confidence"]
        a = sorted(tuple(r[c] for c in cols) for r in staged.select(cols).collect())
        b = sorted(tuple(r[c] for c in cols) for r in fused.select(cols).collect())
        assert a == b
        assert len(a) > 0

    def test_build_kg_lazy_equals_eager(self, spark):
        """The fused lazy scan and the staged eager path emit the same
        mapping set."""
        from pyspark.sql import functions as F

        from sssom_curator_spark.pipeline import build_kg
        from sssom_curator_spark.sources.fixtures import seed_labels, seed_xrefs
        from sssom_curator_spark.sources.pages import generate_pages

        def edges(materialize):
            out = build_kg(
                spark,
                generate_pages(spark, 150),
                seed_labels(spark),
                xrefs=seed_xrefs(spark),
                materialize=materialize,
            )
            got = sorted(
                (r["subject_id"], r["object_id"], r["confidence"])
                for r in out["mappings"]
                .select("subject_id", "object_id", "confidence")
                .collect()
            )
            out["mappings"].unpersist()
            return got

        assert edges(False) == edges(True)


class TestComentionEdges:
    def test_pairs_and_min_docs(self, spark):
        import pandas as pd

        from sssom_curator_spark.operators.grounding import comention_edges

        rows = [
            (1, "E:a"), (1, "E:b"), (1, "E:c"),
            (2, "E:a"), (2, "E:b"),
            (3, "E:a"), (3, "E:a"),          # duplicate mention dedupes
            (4, "E:c"),
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "object_id"]))
        got = {
            (r["subject_id"], r["object_id"]): r["n_docs"]
            for r in comention_edges(df).collect()
        }
        assert got == {
            ("E:a", "E:b"): 2,
            ("E:a", "E:c"): 1,
            ("E:b", "E:c"): 1,
        }
        strict = {
            (r["subject_id"], r["object_id"]): r["n_docs"]
            for r in comention_edges(df, min_docs=2).collect()
        }
        assert strict == {("E:a", "E:b"): 2}

    def test_hot_doc_cap(self, spark, caplog, count_jobs):
        """The dropped-document count is logged from the hot set's
        checkpoint, which the anti-join reads: the cap adds that
        checkpoint's jobs and no other (3 here; a separate count and a
        re-derived hot set took 5)."""
        import logging

        import pandas as pd

        from sssom_curator_spark.operators.grounding import comention_edges

        rows = [(1, f"E:{i}") for i in range(10)] + [(2, "E:0"), (2, "E:1")]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "object_id"]))
        df = df.localCheckpoint()
        with caplog.at_level(logging.WARNING, logger="sssom_curator_spark"):
            capped, n_capped = count_jobs(
                lambda: comention_edges(df, max_entities_per_doc=5).collect()
            )
        assert "comention_edges: dropping 1 documents" in caplog.text
        _, n_all = count_jobs(lambda: comention_edges(df).collect())
        assert n_capped - n_all <= 3
        assert {(r["subject_id"], r["object_id"]) for r in capped} == {("E:0", "E:1")}


class TestEditDistancePairs:
    def test_matches_brute_force(self, spark):
        import pandas as pd

        from sssom_curator_spark.operators.grounding import edit_distance_pairs

        labels = [
            "aspirin", "asprin",       # deletion
            "aspirim",                 # substitution vs aspirin
            "aspirins",                # insertion vs aspirin
            "xanthan gum", "xanthan gun",
            "valencene",
            "same", "same",            # exact duplicates under two ids
        ]
        labels_with_junk = labels + [None, "", None]
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": range(len(labels_with_junk)),
                    "norm_text": labels_with_junk,
                }
            )
        )
        got = {
            (r["id_a"], r["id_b"]): r["distance"]
            for r in edit_distance_pairs(df).collect()
        }

        def lev(a, b):
            import functools

            @functools.lru_cache(maxsize=None)
            def d(i, j):
                if i == 0:
                    return j
                if j == 0:
                    return i
                return min(
                    d(i - 1, j) + 1,
                    d(i, j - 1) + 1,
                    d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
                )

            return d(len(a), len(b))

        want = {
            (i, j): lev(labels[i], labels[j])
            for i in range(len(labels))
            for j in range(i + 1, len(labels))
            if lev(labels[i], labels[j]) <= 1
        }
        assert got == want
        assert got[(7, 8)] == 0 and got[(0, 1)] == 1
        # NULL/empty labels never pair (ids 9-11 are junk rows)
        assert all(a < 9 and b < 9 for a, b in got)

    def test_only_distance_one_supported(self, spark):
        import pandas as pd

        import pytest as _pytest

        from sssom_curator_spark.operators.grounding import edit_distance_pairs

        df = spark.createDataFrame(pd.DataFrame({"id": [1], "norm_text": ["x"]}))
        with _pytest.raises(ValueError):
            edit_distance_pairs(df, max_distance=2)
