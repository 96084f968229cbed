"""Physical-plan assertions: the plans we ship are the plans we designed.

Correctness tests prove WHAT each operator computes; these prove HOW —
filters reach the parquet scan, projections prune columns, dimension
joins broadcast, and no banded/bucketed self-join ever degenerates into a
nested-loop or cartesian plan. A regression here is invisible at sf0.01
and fatal at 100 TB, which is exactly why it is pinned in CI.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _table(spark, name):
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


class TestPushdownAndPruning:
    def test_filter_reaches_parquet_scan(self, spark):
        li = _table(spark, "lineitem")
        q = li.filter(F.col("l_quantity") >= 25).select("l_orderkey")
        plan = _plan(q)
        assert "PushedFilters: [" in plan
        assert "GreaterThanOrEqual(l_quantity" in plan

    def test_projection_prunes_read_schema(self, spark):
        li = _table(spark, "lineitem")
        q = li.select("l_returnflag", "l_linestatus")
        plan = _plan(q)
        schema_part = plan.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "l_returnflag" in schema_part and "l_linestatus" in schema_part
        # the 16-column table must NOT be read wholesale for a 2-col projection
        assert "l_extendedprice" not in schema_part
        assert "l_comment" not in schema_part


class TestJoinStrategies:
    def test_grounding_join_broadcasts_the_index(self, spark):
        from sssom_curator_spark.functions.text_norm import norm_text_col
        from sssom_curator_spark.operators.grounding import ground_names

        part = _table(spark, "part")
        names = part.select(
            F.lit("P").alias("prefix"),
            F.col("p_partkey").cast("string").alias("identifier"),
            F.col("p_name").alias("name"),
        )
        index = names.limit(50).withColumn("norm_text", norm_text_col("name")).withColumn(
            "prefix", F.lit("Q")
        )
        plan = _plan(ground_names(names, index))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_minhash_candidates_are_equi_join(self, spark):
        from sssom_curator_spark.operators.dedup import minhash_near_duplicates

        docs = _table(spark, "documents")
        plan = _plan(minhash_near_duplicates(docs, id_col="doc_id", text_col="text"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_simhash_candidates_are_equi_join(self, spark):
        from sssom_curator_spark.operators.dedup import simhash_near_duplicates

        docs = _table(spark, "documents").limit(50)
        plan = _plan(simhash_near_duplicates(docs))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_lsh_candidates_are_equi_join(self, spark):
        from sssom_curator_spark.operators.similarity import cosine_topk_lsh

        emb = _table(spark, "embeddings")
        plan = _plan(cosine_topk_lsh(emb.filter(F.col("vec_id") < 5), emb, id_col="vec_id"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivf_candidates_are_equi_join(self, spark):
        from sssom_curator_spark.operators.similarity import cosine_topk_ivf

        emb = _table(spark, "embeddings")
        plan = _plan(cosine_topk_ivf(emb.filter(F.col("vec_id") < 5), emb, id_col="vec_id"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestAggregationShapes:
    def test_paragraph_dedup_distinct_expands_on_hash_and_doc(self, spark):
        """`countDistinct(_pid)` in drop_repeated_paragraphs must plan as
        Spark's two-shuffle distinct rewrite with the FIRST exchange keyed
        on (paragraph-hash, doc): a boilerplate paragraph appearing in 50%
        of documents then spreads across reducers by doc id instead of
        hot-keying one reducer (VERDICT r04 task #8). A single-shuffle
        plan keyed on the hash alone would be invisible at sf0.001 and
        fatal at corpus scale."""
        import re

        from sssom_curator_spark.operators.dedup import drop_repeated_paragraphs

        docs = _table(spark, "documents")
        plan = _plan(drop_repeated_paragraphs(docs))
        # partial distinct-dedup exchange keyed on BOTH the md5 grouping
        # expression and the exploded doc id
        assert re.search(
            r"Exchange hashpartitioning\(_groupingexpression#\d+, _pid#\d+L?,", plan
        ), plan
        # ...followed by the final count-distinct merge keyed on the hash only
        assert re.search(r"partial_count\(distinct _pid", plan), plan

    def test_url_dedup_winner_min_combines_map_side(self, spark):
        """url_dedup's winner selection must be a two-phase aggregate
        (partial_min before the exchange) and NOT a row_number window —
        a window shuffles every duplicate of a hot URL to one reducer;
        the partial min ships one candidate row per (partition, url)
        (VERDICT r04 task #7)."""
        import pandas as pd

        from sssom_curator_spark.functions.url_ops import url_dedup

        df = spark.createDataFrame(
            pd.DataFrame({"url": ["http://a.com/x", "http://a.com/y"], "c": ["1", "2"]})
        )
        plan = _plan(url_dedup(df))
        assert "partial_min" in plan, plan
        assert "Window" not in plan, plan


class TestCodegenCoverage:
    def test_textstats_stay_in_wholestage_codegen(self, spark):
        from sssom_curator_spark.operators.textstats import (
            langid_heuristic,
            quality_score,
        )

        docs = _table(spark, "documents")
        plan = _plan(quality_score(langid_heuristic(docs)))
        # executedPlan().toString() marks codegen stages with `*(id)`
        assert "*(" in plan
        # no python evaluation anywhere in the text-analysis path
        assert "PythonUDF" not in plan
        assert "MapInPandas" not in plan

    def test_simhash_signatures_have_no_python(self, spark):
        from sssom_curator_spark.operators.dedup import simhash

        docs = _table(spark, "documents")
        plan = _plan(simhash(docs))
        assert "PythonUDF" not in plan
        assert "MapInPandas" not in plan

    def test_simhash_aggregates_stay_in_wholestage_codegen(self, spark):
        """The 64-sum HashAggregate must not fall out of whole-stage codegen
        (spark.sql.codegen.maxFields default 100 > 65 buffer fields — pin it
        so a future agg-width change that crosses the limit is caught).
        AQE hides codegen stage markers in unexecuted plans, so inspect with
        adaptive off."""
        import re

        from sssom_curator_spark.operators.dedup import simhash

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            docs = _table(spark, "documents")
            plan = _plan(simhash(docs))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        codegen_ops = re.findall(r"\*\(\d+\)\s+(\w+)", plan)
        assert codegen_ops.count("HashAggregate") == 2, plan


class TestRound5MapSideOps:
    """The chunker and link extractor are designed as PURE map-side
    projections — any Exchange in their plans is a regression that turns
    a free operator into a corpus shuffle at 100 TB."""

    def test_chunk_documents_has_no_shuffle(self, spark):
        from sssom_curator_spark.operators.sampling import chunk_documents

        docs = _table(spark, "documents").select("doc_id", "text")
        plan = _plan(chunk_documents(docs, max_tokens=20, overlap=5))
        assert "Exchange" not in plan
        assert "Generate explode" in plan  # the sequence explode, map-side

    def test_extract_links_has_no_shuffle(self, spark):
        import pandas as pd

        from sssom_curator_spark.operators.weblinks import extract_links

        pages = spark.createDataFrame(
            pd.DataFrame({"url": ["http://a.com/1"], "html": ['<a href="http://b.com">x</a>']})
        )
        plan = _plan(extract_links(pages))
        assert "Exchange" not in plan


class TestPageRankEdgeReuse:
    def test_edges_cached_not_rescanned(self, spark):
        """Each PageRank iteration must read the checkpointed edge frame,
        not recompute the edge derivation, and the only blocks left behind
        are checkpoints: the edge frame, the node state and one rank frame
        per iteration (iterations + 2), never a leaked persist."""
        from sssom_curator_spark.graph.pagerank import pagerank

        li = _table(spark, "lineitem")
        edges = li.select(
            (F.col("l_orderkey") % 13).cast("string").alias("src"),
            (F.col("l_partkey") % 17).cast("string").alias("dst"),
        )
        before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        ranks = pagerank(edges, iterations=2, round_to=None)
        assert ranks.count() > 0
        # checkpoint blocks are reclaimed by the ContextCleaner when their
        # Datasets drop, like connected_components' per-round checkpoints
        after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        assert after - before <= 2 + 2  # iterations + 2


class TestScanFanOut:
    """r06: `__spark_entry__._t` fans single-row-group scans out to
    cluster parallelism with a hash repartition on the table key. The
    exchange must not block predicate pushdown or column pruning at the
    scan."""

    def test_pushdown_survives_fanout_repartition(self, spark):
        import __spark_entry__ as entrymod

        li = entrymod._t(spark, SF_DIR, "lineitem")
        q = li.filter(F.col("l_orderkey") < 400).select("l_orderkey", "l_partkey")
        plan = _plan(q)
        assert "hashpartitioning(l_orderkey" in plan  # the fan-out engaged
        assert "LessThan(l_orderkey,400)" in plan  # filter pushed to scan
        assert "l_comment" not in plan  # pruning intact
        # rows unchanged by the repartition
        assert q.count() == li.filter(F.col("l_orderkey") < 400).count()
