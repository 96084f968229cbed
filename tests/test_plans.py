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
        fatal at corpus scale.

        The input has one split per core, as a corpus-scale scan does, so
        ``fan_out`` leaves it alone. (A fanned-out single-split input is
        already hash-partitioned by doc id, which satisfies the (hash,
        doc) grouping without that exchange.)"""
        import re

        from sssom_curator_spark.operators.dedup import drop_repeated_paragraphs

        docs = spark.createDataFrame(_table(spark, "documents").toPandas())
        assert docs.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
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

        # AQE hides codegen stage markers in unexecuted plans once the
        # fan-out exchange is there, so inspect with adaptive off
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            docs = _table(spark, "documents")
            plan = _plan(quality_score(langid_heuristic(docs)))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
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


#: corpus_ops' map-heavy queries carry a fan-out; its shuffle-first and
#: iterative queries must not (an exchange in front of their first one
#: measured 20-50% slower at sf0.01)
MAP_HEAVY = [
    "minhash_lsh", "domain_stats", "langid_quality",
    "simhash_neardup", "ngram_jaccard", "url_canonicalize",
]
SHUFFLE_FIRST = [
    "funnel", "hypertable_rollup", "connected_components",
    "canonicalize", "pagerank", "hits",
]


def _fanned_scans(plan: str) -> list[bool]:
    """For each parquet scan in ``plan``, whether the first exchange above
    it is a fan-out: a hash repartition to a fixed partition count."""
    lines = plan.splitlines()
    depth = [len(line) - len(line.lstrip(" :+-")) for line in lines]
    out = []
    for i, line in enumerate(lines):
        if "Scan parquet" not in line:
            continue
        d, first = depth[i], ""
        for j in range(i - 1, -1, -1):
            if depth[j] < d:
                d = depth[j]
                if "Exchange" in lines[j]:
                    first = lines[j]
                    break
        out.append("hashpartitioning(" in first and "REPARTITION_BY_NUM" in first)
    return out


def _query_plans(spark, monkeypatch, name: str) -> list[str]:
    """Plans of a query's result and of every frame it checkpoints or
    collects on the way (the dedup queries and the graph loops checkpoint
    their scan-side frames, so the result's plan alone hides the scan)."""
    import __spark_entry__ as entrymod

    plans = []
    cls = type(spark.range(0))
    for method in ("localCheckpoint", "collect"):

        def recording(self, *args, _run=getattr(cls, method), **kwargs):
            plans.append(_plan(self))
            return _run(self, *args, **kwargs)

        monkeypatch.setattr(cls, method, recording)
    plans.append(_plan(entrymod.queries()[name](spark, SF_DIR)))
    return plans


class TestScanFanOut:
    """``sssom_curator_spark.fan_out`` spreads a single-split scan over
    the cluster before a map-heavy operator. Its exchange must not block
    predicate pushdown or column pruning at the scan, it must start no job
    of its own, and only the map-heavy queries may carry it."""

    def test_pushdown_survives_fanout_repartition(self, spark):
        from sssom_curator_spark import fan_out

        li = _table(spark, "lineitem")
        q = fan_out(li, "l_orderkey").filter(F.col("l_orderkey") < 400)
        q = q.select("l_orderkey", "l_partkey")
        plan = _plan(q)
        assert "hashpartitioning(l_orderkey" in plan  # the fan-out engaged
        assert "LessThan(l_orderkey,400)" in plan  # filter pushed to scan
        assert "l_comment" not in plan  # pruning intact
        # rows unchanged by the repartition
        assert q.count() == li.filter(F.col("l_orderkey") < 400).count()

    def test_pushdown_survives_operator_fanout(self, spark):
        from sssom_curator_spark.operators.textstats import langid_heuristic

        docs = _table(spark, "documents")
        q = langid_heuristic(docs).filter(F.col("doc_id") < 400)
        plan = _plan(q.select("doc_id", "lang_pred"))
        assert _fanned_scans(plan) == [True]
        assert "LessThan(doc_id,400)" in plan
        assert "n_chars" not in plan

    @pytest.mark.parametrize("name", MAP_HEAVY)
    def test_map_heavy_queries_fan_out(self, spark, monkeypatch, name):
        fanned = [f for p in _query_plans(spark, monkeypatch, name) for f in _fanned_scans(p)]
        assert any(fanned), name

    @pytest.mark.parametrize("name", SHUFFLE_FIRST)
    def test_shuffle_first_queries_do_not_fan_out(self, spark, monkeypatch, name):
        plans = _query_plans(spark, monkeypatch, name)
        assert any("Scan parquet" in p for p in plans), name
        assert not any(f for p in plans for f in _fanned_scans(p)), name

    def test_fan_out_starts_no_job_on_a_query_input(self, spark, count_jobs):
        import __spark_entry__ as entrymod
        from sssom_curator_spark import fan_out

        docs = entrymod._t(spark, SF_DIR, "documents")
        out, jobs = count_jobs(lambda: fan_out(docs, "doc_id"))
        assert jobs == 0
        assert _fanned_scans(_plan(out)) == [True]

    def test_fan_out_keeps_persisted_pages(self, spark, count_jobs):
        """kg's pages come from ``spark.range``, one split per core: the
        helper must leave them alone, without starting a job."""
        from sssom_curator_spark import fan_out
        from sssom_curator_spark.sources.pages import generate_pages

        pages = generate_pages(spark, 40).persist()
        try:
            pages.count()
            out, jobs = count_jobs(lambda: fan_out(pages, "text"))
            assert jobs == 0
            assert out is pages
        finally:
            pages.unpersist()

    def test_fan_out_logs_its_choice(self, spark, caplog):
        import logging

        from sssom_curator_spark import fan_out

        par = spark.sparkContext.defaultParallelism
        caplog.set_level(logging.DEBUG, logger="sssom_curator_spark")
        fan_out(_table(spark, "documents"), "doc_id")
        fan_out(spark.range(0, 10, 1, par), "id")
        messages = [r.getMessage() for r in caplog.records]
        assert f"fan_out: fanned out to {par}" in messages
        assert f"fan_out: kept {par} splits" in messages
